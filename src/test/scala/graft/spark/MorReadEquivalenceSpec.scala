package graft.spark

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite

/** Differential check of the merge-on-read scan against the rewrite
  * path: with predicate, position AND equality deletes pending on the
  * same files, every projection the scan serves — pruned predicate and
  * key columns, `_pos`, `_file` — must return exactly the rows
  * [[MorDeletes.readEntries]] (the DataFrame anti-join read compaction
  * and copy-on-write consume) returns, under the vectorized and the
  * row-based parquet reader alike. The change feed of each delete-
  * bearing commit must equal the row difference of the two versions.
  */
class MorReadEquivalenceSpec extends AnyFunSuite {

  private lazy val warehouse = Files.createTempDirectory("graft-mre").toString

  lazy val spark: SparkSession = graft.Verify.sessionBuilder("4")
    .config("spark.sql.extensions", classOf[GraftSparkExtensions].getName)
    .config("spark.sql.catalog.mre", classOf[GraftCatalog].getName)
    .config("spark.sql.catalog.mre.warehouse", warehouse)
    .getOrCreate()

  private val T = "mre.ns.t"
  private val Cols = Seq("k", "g", "v", "amt")

  private def cat: GraftCatalog =
    spark.sessionState.catalogManager.catalog("mre").asInstanceOf[GraftCatalog]

  private def meta(): graft.format.TableMetadata = {
    val txn = graft.catalog.Graft.beginTransaction(cat.storage)
    try {
      val td = graft.catalog.Graft.describeTable(cat.storage, txn, "ns", "t")
      graft.format.TableMetadata.read(cat.storage, td.metadataLocation)
    } finally txn.close()
  }

  /** (parent snapshot id, new snapshot id) of each delete-bearing
    * commit. Order: INSERT → predicate DELETE → INSERT → position
    * UPDATE → equality MERGE → INSERT, so the first INSERT's files end
    * with all three delete kinds pending.
    */
  private lazy val commits: Seq[(String, Long, Long)] = {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS mre.ns")
    spark.sql(s"""CREATE TABLE $T (k BIGINT NOT NULL, g INT, v STRING, amt DOUBLE)
      TBLPROPERTIES ('graft.delete.mode' = 'merge-on-read',
                     'graft.update.mode' = 'merge-on-read',
                     'graft.merge.mode' = 'merge-on-read-eq',
                     'graft.write.upsert-keys' = 'k')""")
    def insert(from: Int, until: Int): Unit = spark.sql(s"""INSERT INTO $T
      SELECT id, CAST(id % 7 AS INT), concat('v', id), CAST(id AS DOUBLE)
      FROM range($from, $until, 1, 2)""")
    def commit(op: String, sql: String): (String, Long, Long) = {
      val parent = meta().currentSnapshotId
      spark.sql(sql)
      (op, parent, meta().currentSnapshotId)
    }
    insert(0, 200)
    val delete = commit("delete", s"DELETE FROM $T WHERE g = 3")
    insert(200, 300)
    val update = commit("update",
      s"UPDATE $T SET amt = -1.0, v = 'u' WHERE k % 10 = 1")
    val merge = commit("merge", s"""MERGE INTO $T t
      USING (SELECT id AS k, CAST(id % 7 AS INT) AS g,
                    concat('m', id) AS v, CAST(-id AS DOUBLE) AS amt
             FROM range(0, 320, 4)) s
      ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")
    insert(400, 450)
    Seq(delete, update, merge)
  }

  /** The rewrite-path read of the current snapshot, with `_graft_file`
    * / `_graft_pos` row ids exposed.
    */
  private def reference(): DataFrame = {
    val storage = cat.storage
    val snap = meta().currentSnapshot.get
    MorDeletes.readEntries(spark, spark.table(T).schema,
      Some(storage.absolute(graft.objects.FileLocations.tableDataDir("ns", "t"))),
      graft.format.Manifests.filesOf(storage, snap)
        .map(f => (storage.absolute(f.path), f)),
      snap.deletes,
      snap.posDeletes.map(p => storage.absolute(p.path)),
      exposePos = true,
      eqDeletes = snap.eqDeletes.map(p => (storage.absolute(p.path), p)))
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  private def withVectorized[A](on: Boolean)(body: => A): A = {
    val key = "spark.sql.parquet.enableVectorizedReader"
    spark.conf.set(key, on.toString)
    try body finally spark.conf.unset(key)
  }

  test("precondition: one file carries predicate, position and equality deletes") {
    assert(commits.length == 3)
    val snap = meta().currentSnapshot.get
    val files = graft.format.Manifests.filesOf(cat.storage, snap)
    val mixed = files.filter { f =>
      MorDeletes.applicable(snap.deletes, f.seq).nonEmpty &&
        MorDeletes.applicableEq(snap.eqDeletes, f.seq).nonEmpty &&
        snap.posDeletes.exists(_.dataFiles.contains(f.path))
    }
    assert(mixed.nonEmpty, s"no file with all three kinds pending: $snap")
  }

  for (vectorized <- Seq(true, false)) {
    val mode = if (vectorized) "vectorized reader" else "row reader"

    test(s"scan equals the rewrite-path read ($mode)") {
      commits
      withVectorized(vectorized) {
        val ref = reference()
        val full = spark.sql(s"SELECT ${Cols.mkString(", ")} FROM $T")
        val plan = full.queryExecution.executedPlan.toString
        assert(plan.contains("ColumnarToRow") == vectorized,
          s"expected a ${if (vectorized) "columnar" else "row"} scan:\n$plan")
        assert(rows(full) == rows(ref.select(Cols.map(col): _*)))
        // prunes the predicate column (g) and the equality key (k): both
        // are still read for the delete test, then projected away
        assert(rows(spark.sql(s"SELECT v, amt FROM $T")) ==
          rows(ref.select("v", "amt")))
        assert(rows(spark.sql(s"SELECT amt, _pos FROM $T")) ==
          rows(ref.select(col("amt"), col(MorDeletes.GPos))))
        assert(rows(spark.sql(s"SELECT v, _file FROM $T")) ==
          rows(ref.select(col("v"), col(MorDeletes.GFile))))
        assert(rows(spark.sql(s"SELECT k, g, v, amt, _pos, _file FROM $T")) ==
          rows(ref.select((Cols.map(col) :+ col(MorDeletes.GPos)) :+
            col(MorDeletes.GFile): _*)))
      }
    }

    test(s"change feed equals the version difference ($mode)") {
      withVectorized(vectorized) {
        commits.foreach { case (op, parent, id) =>
          def at(snap: Long) =
            spark.sql(s"SELECT ${Cols.mkString(", ")} FROM $T VERSION AS OF 'snap:$snap'")
          val before = at(parent)
          val after = at(id)
          val expected = before.exceptAll(after).withColumn("t", lit("delete"))
            .unionByName(after.exceptAll(before).withColumn("t", lit("insert")))
          val feed = spark.read
            .option(GraftChanges.StartOption, parent.toString)
            .option(GraftChanges.EndOption, id.toString)
            .table(s"mre.ns.`t$$changes`")
            .select((Cols.map(col) :+ col(GraftChanges.TypeCol).as("t")): _*)
          val exp = rows(expected)
          assert(exp.exists(_.endsWith("|delete")), s"$op deleted nothing")
          assert(rows(feed) == exp, s"$op change feed")
        }
      }
    }
  }
}
