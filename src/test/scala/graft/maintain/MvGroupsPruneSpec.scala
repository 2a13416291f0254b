package graft.maintain

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.spark.{GraftCatalog, MorPartition}

/** Group-scoped min/max retraction must PRUNE the recompute scan: a
  * sparse delete's touched-group keys become per-column IN predicates
  * on the source scan, so file statistics drop every file whose key
  * range misses them — the refresh re-reads a file subset, never the
  * corpus.
  */
class MvGroupsPruneSpec extends AnyFunSuite {

  private lazy val warehouse = Files.createTempDirectory("graft-mgp").toString

  // the tests mutate MV runtime conf (compact-after-deletes) — an
  // ISOLATED session (own SQLConf, shared
  // SparkContext) keeps those knobs from bleeding into suites running
  // concurrently against the getOrCreate-shared session
  lazy val spark: SparkSession = {
    val s = graft.Verify.sessionBuilder("4").getOrCreate().newSession()
    s.conf.set("spark.sql.catalog.mgp", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.mgp.warehouse", warehouse)
    s
  }

  test("a sparse delete on a min/max view recomputes from a pruned " +
      "file subset and the state matches truth") {
    spark.sql("CREATE NAMESPACE mgp.ns1")
    spark.sql("CREATE TABLE mgp.ns1.src (gk BIGINT NOT NULL, pv DOUBLE)")
    // 8 single-key inserts → 8 files with DISJOINT gk statistics
    // (min = max = i), the layout file-stat pruning needs
    (0 until 8).foreach { i =>
      spark.sql(s"""INSERT INTO mgp.ns1.src
                    SELECT $i, CAST(id AS DOUBLE)
                    FROM range(${i * 1000}, ${i * 1000 + 1000}, 1, 1)""")
    }
    val totalFiles = spark.sql(
      "SELECT count(*) FROM mgp.ns1.`src$files`").head.getLong(0)
    assert(totalFiles >= 8, s"expected >= 8 files, got $totalFiles")
    spark.sql("""CALL mgp.system.create_materialized_view(
                   namespace => 'ns1', name => 'mv',
                   source_namespace => 'ns1', source_table => 'src',
                   group_by => 'gk',
                   aggs => 'n:count:1;mn:min:pv;mx:max:pv')""")

    // delete a few rows of ONE group — min/max cannot retract, so the
    // refresh must take the group-scoped path, and its recompute scan
    // must read only the files whose gk range can contain group 3
    spark.sql("DELETE FROM mgp.ns1.src WHERE gk = 3 AND pv < 3100")
    val (mode, scanned) = scannedOf("ns1", "src",
      """CALL mgp.system.refresh_materialized_view(
           namespace => 'ns1', name => 'mv')""")
    assert(mode == "groups", s"expected groups, got $mode")
    assert(scanned >= 1 && scanned < totalFiles / 2,
      s"group-scoped recompute read $scanned of $totalFiles files — " +
        "the touched-key IN prune did not reach the scan")

    val state = spark.sql(
      "SELECT gk, n, mn, mx FROM mgp.ns1.mv ORDER BY gk")
      .collect().map(_.toString).toSeq
    val truth = spark.sql(
      """SELECT gk, count(*) AS n, min(pv) AS mn, max(pv) AS mx
         FROM mgp.ns1.src GROUP BY gk ORDER BY gk""")
      .collect().map(_.toString).toSeq
    assert(state == truth)

    // the whole-group delete: group 3 vanishes from the view
    spark.sql("DELETE FROM mgp.ns1.src WHERE gk = 3")
    val mode2 = spark.sql(
      """CALL mgp.system.refresh_materialized_view(
           namespace => 'ns1', name => 'mv')""").head.getString(0)
    assert(mode2 == "groups", s"expected groups, got $mode2")
    val keys = spark.sql("SELECT gk FROM mgp.ns1.mv ORDER BY gk")
      .collect().map(_.getLong(0)).toSeq
    assert(keys == Seq(0L, 1L, 2L, 4L, 5L, 6L, 7L),
      s"group 3 must vanish from the state, got $keys")
  }

  test("a date_trunc-keyed view's group recompute range-prunes the " +
      "source scan on the RAW timestamp column") {
    spark.sql("CREATE NAMESPACE mgp.ns3")
    spark.sql("""CREATE TABLE mgp.ns3.ev (
                   id BIGINT NOT NULL, ts TIMESTAMP NOT NULL, v DOUBLE)""")
    // 8 single-day inserts → 8 files with DISJOINT ts statistics
    (0 until 8).foreach { d =>
      spark.sql(s"""INSERT INTO mgp.ns3.ev
                    SELECT id, timestamp'2024-03-0${d + 1} 00:00:00' +
                           make_interval(0, 0, 0, 0, 0, CAST(id AS INT), 0),
                           CAST(id AS DOUBLE)
                    FROM range(${d * 500}, ${d * 500 + 500}, 1, 1)""")
    }
    val totalFiles = spark.sql(
      "SELECT count(*) FROM mgp.ns3.`ev$files`").head.getLong(0)
    assert(totalFiles >= 8, s"expected >= 8 files, got $totalFiles")
    spark.sql("""CALL mgp.system.create_materialized_view(
                   namespace => 'ns3', name => 'mv',
                   source_namespace => 'ns3', source_table => 'ev',
                   group_by => 'day',
                   aggs => 'n:count:1;mn:min:v;mx:max:v',
                   key_exprs => 'day:date_trunc(''DAY'', ts)')""")
    // delete rows of ONE day: min/max recomputes group-scoped, and the
    // derived range predicate on ts must prune the file scan
    spark.sql("""DELETE FROM mgp.ns3.ev
                 WHERE ts >= timestamp'2024-03-04 00:00:00'
                   AND ts < timestamp'2024-03-04 00:04:00'""")
    val (mode, scanned) = scannedOf("ns3", "ev",
      """CALL mgp.system.refresh_materialized_view(
           namespace => 'ns3', name => 'mv')""")
    assert(mode == "groups", s"expected groups, got $mode")
    assert(scanned >= 1 && scanned < totalFiles / 2,
      s"day-bucket recompute read $scanned of $totalFiles files — " +
        "the ts range prune did not reach the scan")
    val state = spark.sql(
      "SELECT day, n, mn, mx FROM mgp.ns3.mv ORDER BY day")
      .collect().map(_.toString).toSeq
    spark.conf.set("spark.graft.mv.rewrite.enabled", "false")
    val truth = try spark.sql(
      """SELECT date_trunc('DAY', ts) AS day, count(*) AS n,
                min(v) AS mn, max(v) AS mx
         FROM mgp.ns3.ev GROUP BY 1 ORDER BY day""")
      .collect().map(_.toString).toSeq
    finally spark.conf.unset("spark.graft.mv.rewrite.enabled")
    assert(state == truth)
  }

  test("the state auto-compacts past the pending-delete threshold, " +
      "bounding read amplification") {
    spark.sql("CREATE NAMESPACE mgp.ns2")
    spark.sql("CREATE TABLE mgp.ns2.src (k BIGINT NOT NULL, v DOUBLE)")
    spark.sql("""INSERT INTO mgp.ns2.src
                 SELECT id % 5, CAST(id AS DOUBLE) FROM range(0, 500, 1, 1)""")
    spark.sql("""CALL mgp.system.create_materialized_view(
                   namespace => 'ns2', name => 'mv',
                   source_namespace => 'ns2', source_table => 'src',
                   group_by => 'k',
                   aggs => 'n:count:1;total:sum:CAST(v AS DECIMAL(18,2))')""")
    def pendingDeletes(): Long = spark.sql(
      "SELECT count(*) FROM mgp.ns2.`mv$deletes`").head.getLong(0)
    def refreshOnce(i: Int): Unit = {
      // each append touches EXISTING groups, so each equality-delta
      // refresh leaves one more pending delete object
      spark.sql(s"""INSERT INTO mgp.ns2.src
                    SELECT id % 5, CAST(id AS DOUBLE)
                    FROM range(${1000 * i}, ${1000 * i + 50}, 1, 1)""")
      spark.sql("""CALL mgp.system.refresh_materialized_view(
                     namespace => 'ns2', name => 'mv')""").collect()
    }
    spark.conf.set("spark.graft.mv.compact-after-deletes", "3")
    try {
      (1 to 5).foreach(refreshOnce)
      assert(pendingDeletes() < 3,
        s"auto-compaction must fold the delete objects, " +
          s"still pending: ${pendingDeletes()}")
    } finally spark.conf.unset("spark.graft.mv.compact-after-deletes")
    // the $views inspection table surfaces the write-path facts
    val vrow = spark.sql(
      """SELECT state_mode, pending_deletes FROM mgp.ns2.`src$views`
         WHERE view_name = 'mv'""").head
    assert(vrow.getString(0) == "eq-delta", vrow.toString)
    assert(vrow.getLong(1) == pendingDeletes(), vrow.toString)
    // state stays exact through compactions, and the next refresh is
    // still incremental (compaction is net-zero on the MV's own
    // lineage and invisible to the source watermark)
    refreshOnce(9)
    val state = spark.sql(
      "SELECT k, n, CAST(total AS DOUBLE) FROM mgp.ns2.mv ORDER BY k")
      .collect().map(_.toString).toSeq
    val truth = spark.sql(
      """SELECT k, count(*), CAST(sum(CAST(v AS DECIMAL(18,2))) AS DOUBLE)
         FROM mgp.ns2.src GROUP BY k ORDER BY k""")
      .collect().map(_.toString).toSeq
    assert(state == truth)
  }

  /** Run the refresh `refreshSql` and count the distinct data files of
    * source table `ns.t` that its own scans planned: a query
    * execution listener collects the input partitions of every graft
    * scan in the refresh's executed plans (subqueries and adaptive
    * stages included). Listener events arrive asynchronously, in
    * order; a marker query run after the refresh flushes them.
    */
  private def scannedOf(ns: String, t: String,
      refreshSql: String): (String, Long) = {
    val dir = s"/data/$ns/$t/files/"
    val files = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    @volatile var flushed = false
    val marker = s"refresh-scan-marker-${java.util.UUID.randomUUID()}"
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case _ => p +: (p.children ++ p.subqueries).flatMap(nodes)
    }
    def paths(ip: InputPartition): Seq[String] = ip match {
      case fp: FilePartition => fp.files.toSeq.map(_.filePath.toString)
      case mp: MorPartition => paths(mp.inner)
      case _ => Seq.empty
    }
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        if (qe.analyzed.toString.contains(marker)) flushed = true
        else nodes(qe.executedPlan).foreach {
          case b: BatchScanExec => b.inputPartitions.flatMap(paths)
            .filter(_.contains(dir)).foreach(files.add)
          case _ =>
        }
      override def onFailure(funcName: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val mode = spark.sql(refreshSql).head.getString(0)
      spark.sql(s"SELECT '$marker'").collect()
      val deadline = System.currentTimeMillis() + 30000
      while (!flushed && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      assert(flushed, "query listener never saw the marker query")
      (mode, files.size.toLong)
    } finally spark.listenerManager.unregister(listener)
  }

  test("a date_trunc key over a DATE column range-prunes with DATE " +
      "bounds (a timestamp literal would defeat the file-stat push)") {
    spark.sql("CREATE NAMESPACE mgp.ns4")
    spark.sql("""CREATE TABLE mgp.ns4.ev (
                   id BIGINT NOT NULL, d DATE NOT NULL, v DOUBLE)""")
    // 8 single-month inserts → 8 files with DISJOINT d statistics
    (0 until 8).foreach { m =>
      spark.sql(s"""INSERT INTO mgp.ns4.ev
                    SELECT id, date_add(date'2024-0${m + 1}-01',
                           CAST(id % 25 AS INT)), CAST(id AS DOUBLE)
                    FROM range(${m * 400}, ${m * 400 + 400}, 1, 1)""")
    }
    val totalFiles = spark.sql(
      "SELECT count(*) FROM mgp.ns4.`ev$files`").head.getLong(0)
    assert(totalFiles >= 8, s"expected >= 8 files, got $totalFiles")
    spark.sql("""CALL mgp.system.create_materialized_view(
                   namespace => 'ns4', name => 'mv',
                   source_namespace => 'ns4', source_table => 'ev',
                   group_by => 'mon',
                   aggs => 'n:count:1;mn:min:v;mx:max:v',
                   key_exprs => 'mon:date_trunc(''MONTH'', d)')""")
    spark.sql("DELETE FROM mgp.ns4.ev WHERE d = date'2024-05-03'")
    val (mode, scanned) = scannedOf("ns4", "ev",
      """CALL mgp.system.refresh_materialized_view(
           namespace => 'ns4', name => 'mv')""")
    assert(mode == "groups", mode)
    assert(scanned >= 1 && scanned < totalFiles / 2,
      s"DATE-column month recompute read $scanned of $totalFiles files")
    val state = spark.sql(
      "SELECT mon, n, mn, mx FROM mgp.ns4.mv ORDER BY mon")
      .collect().map(_.toString).toSeq
    spark.conf.set("spark.graft.mv.rewrite.enabled", "false")
    val truth = try spark.sql(
      """SELECT date_trunc('MONTH', d) AS mon, count(*) AS n,
                min(v) AS mn, max(v) AS mx
         FROM mgp.ns4.ev GROUP BY 1 ORDER BY mon""")
      .collect().map(_.toString).toSeq
    finally spark.conf.unset("spark.graft.mv.rewrite.enabled")
    assert(state == truth)
  }

  test("to_date and year expression keys also range-prune the raw " +
      "timestamp scan") {
    spark.sql("CREATE NAMESPACE mgp.ns5")
    spark.sql("""CREATE TABLE mgp.ns5.ev (
                   id BIGINT NOT NULL, ts TIMESTAMP NOT NULL, v DOUBLE)""")
    // 8 single-YEAR inserts → files disjoint for both to_date and year
    (0 until 8).foreach { y =>
      spark.sql(s"""INSERT INTO mgp.ns5.ev
                    SELECT id, timestamp'201${y}-06-01 00:00:00' +
                           make_interval(0, 0, 0, 0, 0, CAST(id % 600 AS INT), 0),
                           CAST(id AS DOUBLE)
                    FROM range(${y * 400}, ${y * 400 + 400}, 1, 1)""")
    }
    val totalFiles = spark.sql(
      "SELECT count(*) FROM mgp.ns5.`ev$files`").head.getLong(0)
    assert(totalFiles >= 8, s"expected >= 8 files, got $totalFiles")
    spark.sql("""CALL mgp.system.create_materialized_view(
                   namespace => 'ns5', name => 'mvd',
                   source_namespace => 'ns5', source_table => 'ev',
                   group_by => 'day',
                   aggs => 'n:count:1;mn:min:v',
                   key_exprs => 'day:to_date(ts)')""")
    spark.sql("""CALL mgp.system.create_materialized_view(
                   namespace => 'ns5', name => 'mvy',
                   source_namespace => 'ns5', source_table => 'ev',
                   group_by => 'y',
                   aggs => 'n:count:1;mx:max:v',
                   key_exprs => 'y:year(ts)')""")
    spark.sql("""DELETE FROM mgp.ns5.ev
                 WHERE ts >= timestamp'2014-06-01 00:00:00'
                   AND ts < timestamp'2014-06-01 02:00:00'""")
    val (modeD, scannedD) = scannedOf("ns5", "ev",
      """CALL mgp.system.refresh_materialized_view(
           namespace => 'ns5', name => 'mvd')""")
    assert(modeD == "groups", modeD)
    assert(scannedD >= 1 && scannedD < totalFiles / 2,
      s"to_date recompute read $scannedD of $totalFiles files")
    val (modeY, scannedY) = scannedOf("ns5", "ev",
      """CALL mgp.system.refresh_materialized_view(
           namespace => 'ns5', name => 'mvy')""")
    assert(modeY == "groups", modeY)
    assert(scannedY >= 1 && scannedY < totalFiles / 2,
      s"year recompute read $scannedY of $totalFiles files")
    spark.conf.set("spark.graft.mv.rewrite.enabled", "false")
    try {
      assert(spark.sql("SELECT day, n, mn FROM mgp.ns5.mvd ORDER BY day")
        .collect().map(_.toString).toSeq ==
        spark.sql("""SELECT to_date(ts) AS day, count(*) AS n, min(v) AS mn
                     FROM mgp.ns5.ev GROUP BY 1 ORDER BY day""")
          .collect().map(_.toString).toSeq)
      assert(spark.sql("SELECT y, n, mx FROM mgp.ns5.mvy ORDER BY y")
        .collect().map(_.toString).toSeq ==
        spark.sql("""SELECT year(ts) AS y, count(*) AS n, max(v) AS mx
                     FROM mgp.ns5.ev GROUP BY 1 ORDER BY y""")
          .collect().map(_.toString).toSeq)
    } finally spark.conf.unset("spark.graft.mv.rewrite.enabled")
  }
}
