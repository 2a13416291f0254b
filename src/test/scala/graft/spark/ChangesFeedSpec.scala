package graft.spark

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** `<table>$changes`: the row-level change feed as a DSv2 table —
  * batch-ranged and micro-batch-streamable, derived per snapshot from
  * metadata (appends → inserts; merge-on-read predicate deletes and
  * position deltas → deletes; compaction / delete-object rewrites →
  * nothing; copy-on-write rewrites → loud error).
  */
class ChangesFeedSpec extends AnyFunSuite {

  private lazy val warehouse = Files.createTempDirectory("graft-chf").toString

  lazy val spark: SparkSession = graft.Verify.sessionBuilder("4")
    .config("spark.sql.extensions", classOf[GraftSparkExtensions].getName)
    .config("spark.sql.catalog.cf", classOf[GraftCatalog].getName)
    .config("spark.sql.catalog.cf.warehouse", warehouse)
    .getOrCreate()

  private def changes(opts: Map[String, String] = Map.empty)
      : Seq[(String, Long, Long, Double)] = {
    val r = opts.foldLeft(spark.read)( (b, kv) => b.option(kv._1, kv._2))
    r.table("cf.ns.`t$changes`")
      .select("_change_type", "_commit_snapshot_id", "k", "amt")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq
  }

  test("appends surface as inserts with their commit snapshot") {
    spark.sql("CREATE NAMESPACE cf.ns")
    spark.sql("""CREATE TABLE cf.ns.t (k BIGINT, amt DOUBLE)
      TBLPROPERTIES ('graft.update.mode' = 'merge-on-read',
                     'graft.delete.mode' = 'merge-on-read')""")
    spark.sql(
      "INSERT INTO cf.ns.t SELECT id, CAST(id AS DOUBLE) FROM range(0, 100, 1, 2)")
    spark.sql(
      "INSERT INTO cf.ns.t SELECT id, CAST(id AS DOUBLE) FROM range(100, 200, 1, 2)")
    val cs = changes()
    assert(cs.length == 200 && cs.forall(_._1 == "insert"))
    assert(cs.map(_._2).distinct.sorted.length == 2,
      "two commits, two snapshot ids")
    assert(cs.map(_._3).sorted == (0L until 200L))
  }

  test("merge-on-read DELETE emits the deleted rows") {
    spark.sql("DELETE FROM cf.ns.t WHERE k < 10")
    val dels = changes().filter(_._1 == "delete")
    assert(dels.map(_._3).sorted == (0L until 10L), s"got $dels")
  }

  test("a second DELETE does not re-emit rows the first already deleted") {
    // k < 20 overlaps k < 10: only 10..19 are NEW deletes
    spark.sql("DELETE FROM cf.ns.t WHERE k < 20")
    val dels = changes().filter(_._1 == "delete")
    assert(dels.map(_._3).sorted == (0L until 20L),
      "each row deleted exactly once across the feed")
  }

  test("position-delta UPDATE emits delete(old) + insert(new)") {
    val before = spark.sql("SELECT max(snapshot_id) FROM cf.ns.`t$snapshots`")
      .head.getLong(0)
    spark.sql("UPDATE cf.ns.t SET amt = -5.0 WHERE k = 50")
    val cs = changes(Map(GraftChanges.StartOption -> before.toString))
    assert(cs.toSet == Set(("delete", cs.head._2, 50L, 50.0),
      ("insert", cs.head._2, 50L, -5.0)), s"got $cs")
  }

  test("delete-derivation reads stay columnar") {
    // the feed now carries predicate deletes AND position-delta
    // deletes: deriving the deleted rows must not drop the scan to
    // row-at-a-time (MorDeleteReader serves a selection-vector view,
    // on the change feed as on the merge-on-read scan path)
    val df = spark.read.table("cf.ns.`t$changes`")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"),
      s"delete-bearing change feed dropped to row reads:\n$plan")
    // and the columnar derivation still emits the exact change rows
    val cs = changes()
    assert(cs.count(_._1 == "delete") == 21, // k<20 (dedup'd) + k=50 update
      s"got ${cs.filter(_._1 == "delete").sortBy(_._3)}")
  }

  test("compaction and delete-object rewrites emit nothing") {
    val before = spark.sql("SELECT max(snapshot_id) FROM cf.ns.`t$snapshots`")
      .head.getLong(0)
    spark.sql("CALL cf.system.rewrite_position_deletes('ns', 't')")
    spark.sql("CALL cf.system.compact_table('ns', 't')")
    assert(changes(Map(GraftChanges.StartOption -> before.toString)).isEmpty)
  }

  test("copy-on-write rewrites fail the feed loudly") {
    spark.sql("""CREATE TABLE cf.ns.cow (k BIGINT, amt DOUBLE)""")
    spark.sql(
      "INSERT INTO cf.ns.cow SELECT id, CAST(id AS DOUBLE) FROM range(0, 100)")
    spark.sql("DELETE FROM cf.ns.cow WHERE k < 10") // COW: rewrites files
    val e = intercept[Exception] {
      spark.read.table("cf.ns.`cow$changes`").collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("TableChanges.between")), s"got $e")
  }

  test("the feed streams: micro-batches per commit, exactly-once") {
    import org.apache.spark.sql.streaming.Trigger
    val q = spark.readStream
      .option(GraftTable.MaxSnapshotsPerTriggerOption, "1")
      .table("cf.ns.`t$changes`")
      .writeStream
      .trigger(Trigger.AvailableNow())
      .format("memory")
      .queryName("chf_sink")
      .start()
    q.awaitTermination(120000)
    val streamed = spark.sql(
      "SELECT _change_type, k, amt FROM chf_sink").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    val batch = spark.read.table("cf.ns.`t$changes`")
      .select("_change_type", "k", "amt").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(streamed.sorted == batch.sorted,
      s"stream (${streamed.length}) must equal batch (${batch.length})")
    assert(streamed.count(_._1 == "delete") == 21)
  }
}
