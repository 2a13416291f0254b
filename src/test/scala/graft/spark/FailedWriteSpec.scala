package graft.spark

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** A write whose task throws leaves nothing behind: the table keeps its
  * snapshot, and its data dir holds exactly the keys it held before —
  * no staging dir, no commit dir, no delete objects of tasks that
  * committed before the failing one.
  */
class FailedWriteSpec extends AnyFunSuite {

  private lazy val warehouse = Files.createTempDirectory("graft-fail").toString

  // no broadcast and no adaptive coalescing: a MERGE writes from 8
  // hash-partitioned join tasks on 4 cores, so the last partition's
  // task starts only after earlier tasks committed their delete objects.
  // `pause(ms)` holds the failing row back until the other running tasks
  // are done: a task killed mid-write is not what these tests are about.
  lazy val spark: SparkSession = {
    val s = graft.Verify.sessionBuilder("4").getOrCreate().newSession()
    s.conf.set("spark.sql.catalog.fw", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.fw.warehouse", warehouse)
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    s.udf.register("pause", (ms: Int) => { Thread.sleep(ms); true })
    s.sql("CREATE NAMESPACE IF NOT EXISTS fw.ns")
    s
  }

  private def catalog: GraftCatalog =
    spark.sessionState.catalogManager.catalog("fw").asInstanceOf[GraftCatalog]

  private def snapshotId(t: String): Long = {
    val txn = graft.catalog.Graft.beginTransaction(catalog.storage)
    try {
      val td = graft.catalog.Graft.describeTable(catalog.storage, txn, "ns", t)
      graft.format.TableMetadata.read(catalog.storage, td.metadataLocation)
        .currentSnapshotId
    } finally txn.close()
  }

  private def dataKeys(t: String): Seq[String] = catalog.storage.listDeep(
    graft.objects.FileLocations.tableDataDir("ns", t))

  /** Create `t`, load 200 rows in four files, run `failing` (which must
    * throw inside a task) and check the table is exactly as before.
    */
  private def check(t: String, props: String)(failing: String): Unit = {
    spark.sql(s"CREATE TABLE fw.ns.$t (k BIGINT NOT NULL, v DOUBLE) $props")
    (0 until 4).foreach { i =>
      spark.sql(s"""INSERT INTO fw.ns.$t
                    SELECT id, CAST(id AS DOUBLE)
                    FROM range(${i * 50}, ${i * 50 + 50}, 1, 1)""")
    }
    val snap = snapshotId(t)
    val keys = dataKeys(t)
    val e = intercept[Exception](spark.sql(failing).collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(x => String.valueOf(x.getMessage).contains("boom")), e.toString)
    assert(snapshotId(t) == snap, "a failed write must not commit")
    assert(dataKeys(t) == keys, "a failed write must leave no file behind")
  }

  test("a failing INSERT leaves nothing behind") {
    check("ins", "")(
      """INSERT INTO fw.ns.ins
         SELECT CASE WHEN id = 150 AND pause(500) THEN raise_error('boom')
                     ELSE id END,
                CAST(id AS DOUBLE)
         FROM range(0, 200, 1, 4)""")
  }

  test("a failing copy-on-write UPDATE leaves nothing behind") {
    check("cow", "")(
      """UPDATE fw.ns.cow
         SET v = CASE WHEN k = 150 AND pause(500) THEN raise_error('boom')
                      ELSE v + 1 END""")
  }

  test("a failing position-delta UPDATE leaves nothing behind") {
    check("pos", "TBLPROPERTIES ('graft.update.mode' = 'merge-on-read')")(
      """UPDATE fw.ns.pos
         SET v = CASE WHEN k = 150 AND pause(500) THEN raise_error('boom')
                      ELSE v + 1 END""")
  }

  test("a failing key-delta MERGE leaves nothing behind, delete objects " +
      "of committed tasks included") {
    // the failing key hashes to the LAST of the 8 join partitions
    val failKey = spark.sql("""SELECT min(id) FROM range(0, 200)
                               WHERE pmod(hash(id), 8) = 7""").head.getLong(0)
    check("keyd", """TBLPROPERTIES ('graft.merge.mode' = 'merge-on-read-eq',
                                    'graft.write.upsert-keys' = 'k')""")(
      s"""MERGE INTO fw.ns.keyd d
         USING (SELECT id AS k, CAST(id AS DOUBLE) AS v FROM range(0, 200)) s
         ON d.k = s.k
         WHEN MATCHED THEN UPDATE SET d.v = CASE
           WHEN s.k = $failKey AND pause(500) THEN raise_error('boom')
           ELSE s.v + 1 END""")
  }
}
