package graft.spark

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.format.DataFileEntry

/** Every kind of table write encodes its data files the same way: on a
  * session left at Spark's default `outputTimestampType` (INT96, whose
  * footer carries no min/max), each kind's new files still carry the
  * timestamp column's min/max, so a range predicate prunes them.
  */
class DataFileEncodingSpec extends AnyFunSuite {

  private lazy val warehouse = Files.createTempDirectory("graft-enc").toString

  lazy val spark: SparkSession = {
    val s = graft.Verify.sessionBuilder("4").getOrCreate().newSession()
    s.conf.set("spark.sql.catalog.enc", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.enc.warehouse", warehouse)
    s.sql("CREATE NAMESPACE IF NOT EXISTS enc.ns")
    s
  }

  private def catalog: GraftCatalog =
    spark.sessionState.catalogManager.catalog("enc").asInstanceOf[GraftCatalog]

  private def entries(t: String): Seq[DataFileEntry] = {
    val txn = graft.catalog.Graft.beginTransaction(catalog.storage)
    try {
      val td = graft.catalog.Graft.describeTable(catalog.storage, txn, "ns", t)
      graft.format.TableMetadata.read(catalog.storage, td.metadataLocation)
        .currentFiles(catalog.storage)
    } finally txn.close()
  }

  private val Columns = "k BIGINT NOT NULL, ts TIMESTAMP, v DOUBLE"

  /** `n` rows from key `from`, timestamps in March 2024. */
  private def rows(from: Int, n: Int): String =
    s"""SELECT id AS k,
              timestamp'2024-03-01 00:00:00' +
                make_interval(0, 0, 0, 0, 0, CAST(id AS INT), 0) AS ts,
              CAST(id AS DOUBLE) AS v
       FROM range($from, ${from + n}, 1, 1)"""

  private def insert(t: String, from: Int, n: Int): Unit =
    spark.sql(s"INSERT INTO enc.ns.$t ${rows(from, n)}")

  private def mergeSql(t: String): String =
    s"""MERGE INTO enc.ns.$t d USING (${rows(5, 10)}) s ON d.k = s.k
        WHEN MATCHED THEN UPDATE SET d.v = s.v + 1
        WHEN NOT MATCHED THEN INSERT *"""

  /** One writer kind: its table's DDL suffix, a set-up, then the write
    * under test.
    */
  private case class Kind(name: String, table: String, ddl: String,
      setUp: () => Unit, write: () => Unit)

  private val kinds = Seq(
    Kind("INSERT", "insert_t", "", () => (), () => insert("insert_t", 0, 20)),
    Kind("copy-on-write UPDATE", "cow_upd", "", () => insert("cow_upd", 0, 20),
      () => spark.sql("UPDATE enc.ns.cow_upd SET v = v + 1 WHERE k < 5")),
    Kind("position-delta UPDATE", "pos_upd",
      "TBLPROPERTIES ('graft.update.mode' = 'merge-on-read')",
      () => insert("pos_upd", 0, 20),
      () => spark.sql("UPDATE enc.ns.pos_upd SET v = v + 1 WHERE k < 5")),
    Kind("key-delta MERGE", "key_merge",
      """TBLPROPERTIES ('graft.merge.mode' = 'merge-on-read-eq',
                        'graft.write.upsert-keys' = 'k')""",
      () => insert("key_merge", 0, 10),
      () => spark.sql(mergeSql("key_merge"))),
    Kind("streaming epoch", "stream_t", "", () => (),
      () => streamEpoch("stream_t")),
    Kind("compact_table", "compact_t", "",
      () => { insert("compact_t", 0, 10); insert("compact_t", 10, 10) },
      () => spark.sql(
        "CALL enc.system.compact_table(namespace => 'ns', table => 'compact_t')")
        .collect()),
    Kind("bucket fold (compactTouchedPartitions)", "fold_t",
      """PARTITIONED BY (bucket(4, k))
         TBLPROPERTIES ('graft.merge.mode' = 'merge-on-read-eq',
                        'graft.write.upsert-keys' = 'k')""",
      () => { insert("fold_t", 0, 40); spark.sql(mergeSql("fold_t")) },
      () => assert(graft.maintain.Maintenance.compactTouchedPartitions(
        spark, catalog, Identifier.of(Array("ns"), "fold_t")).nonEmpty)),
    Kind("file-selective copy-on-write DELETE", "cow_del", "",
      () => { insert("cow_del", 0, 10); insert("cow_del", 10, 10) },
      () => spark.sql("DELETE FROM enc.ns.cow_del WHERE k = 3")))

  private def streamEpoch(t: String): Unit = {
    val sess = spark
    import sess.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, java.sql.Timestamp, Double)]
    val q = in.toDF().toDF("k", "ts", "v").writeStream
      .option("checkpointLocation",
        Files.createTempDirectory("graft-enc-ck").toString)
      .toTable(s"enc.ns.$t")
    try {
      in.addData((1L, java.sql.Timestamp.valueOf("2024-03-01 00:00:00"), 1.0),
        (2L, java.sql.Timestamp.valueOf("2024-03-02 00:00:00"), 2.0))
      q.processAllAvailable()
    } finally q.stop()
  }

  kinds.foreach { kind =>
    test(s"${kind.name} writes timestamps its scans can prune on an INT96 session") {
      assert(spark.conf.get("spark.sql.parquet.outputTimestampType") == "INT96")
      val t = kind.table
      spark.sql(s"CREATE TABLE enc.ns.$t ($Columns) ${kind.ddl}")
      kind.setUp()
      val before = entries(t).map(_.path).toSet
      kind.write()
      val fresh = entries(t).filterNot(f => before(f.path))
      assert(fresh.nonEmpty, s"${kind.name} wrote no data file")
      fresh.foreach { f =>
        assert(f.minValues.contains("ts") && f.maxValues.contains("ts"),
          s"${kind.name} wrote ${f.path} without timestamp min/max")
      }
      def scannedFresh(where: String): Seq[String] = {
        val scanned = scannedFiles(s"SELECT k, v FROM enc.ns.$t WHERE $where")
        fresh.map(_.path).filter(p => scanned.exists(_.endsWith("/" + p)))
      }
      // the control: a range over the data reads every new file
      assert(scannedFresh("ts >= timestamp'2024-03-01 00:00:00'").size ==
        fresh.size, s"${kind.name}: the scan listener missed new files")
      val unpruned = scannedFresh("ts < timestamp'2000-01-01 00:00:00'")
      assert(unpruned.isEmpty, s"${kind.name}: a ts range outside every " +
        s"file still scanned $unpruned")
    }
  }

  /** Run `sql` and collect the data files its graft scans planned, from
    * a query execution listener (adaptive stages and subqueries
    * included). Listener events arrive asynchronously, in order; a
    * marker query run after `sql` flushes them.
    */
  private def scannedFiles(sql: String): Set[String] = {
    val files = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    @volatile var flushed = false
    val marker = s"scan-marker-${java.util.UUID.randomUUID()}"
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case _ => p +: (p.children ++ p.subqueries).flatMap(nodes)
    }
    def paths(ip: InputPartition): Seq[String] = ip match {
      case fp: FilePartition => fp.files.toSeq.map(_.filePath.toString)
      case mp: MorPartition => paths(mp.inner)
      case kp: org.apache.spark.sql.graft.KeyedFilePartition => paths(kp.inner)
      case tp: org.apache.spark.sql.graft.TaggedPartition => paths(tp.inner)
      case _ => Seq.empty
    }
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        if (qe.analyzed.toString.contains(marker)) flushed = true
        else nodes(qe.executedPlan).foreach {
          case b: BatchScanExec => b.inputPartitions.flatMap(paths)
            .foreach(files.add)
          case _ =>
        }
      override def onFailure(funcName: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      spark.sql(sql).collect()
      spark.sql(s"SELECT '$marker'").collect()
      val deadline = System.currentTimeMillis() + 30000
      while (!flushed && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      assert(flushed, "query listener never saw the marker query")
      Set.from(files.toArray(Array.empty[String]))
    } finally spark.listenerManager.unregister(listener)
  }
}
