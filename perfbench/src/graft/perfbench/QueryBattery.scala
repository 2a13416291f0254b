package graft.perfbench

import scala.collection.mutable

import graft.SparkEntry
import org.apache.spark.sql.{Row, SparkSession}

/** `query-battery`: a fixed, named subset of `SparkEntry.queries` over
  * seeded sf 0.01 tables. The only workload reaching the queries,
  * pipeline, operators, functions and streaming modules.
  *
  * One SparkSession serves set-up and every query. It gets graft.Bench's
  * warm-up (a scan, a join, an aggregate and a sort), then timed passes
  * over the list until the measured seconds are used, at least one; each
  * query's rows are collected. A query's time is the median of its timed
  * runs; a pass is the sum of them. Output checks: every query returns
  * rows, a later pass returns what the first did, and dd14 and dd15
  * (which each recompute dd07's clusters) agree with dd07's clusters.
  */
object QueryBattery {
  /** dd07/dd14/dd15 (connected-components delta iteration), q68 and
    * st08 are named by later work; q31 adds the operators module's as-of
    * join. Every query runs once per run, 4-8 s each for the named five
    * on 4 cores, so the list is what fits the run time.
    */
  val Queries: Seq[String] = Seq(
    "dd07_dup_clusters", "dd14_canonical_pick", "dd15_soft_dedup", "q31_asof_join",
    "q68_pagerank", "st08_stream_upsert")

  /** The tables the queries and the warm-up read; set-up writes only these. */
  val Tables = Set("customer", "documents", "events", "lineitem", "nation", "orders", "region")

  /** Per-layer metric name of one query's time. */
  def metric(q: String): String = s"queries.${q}_s"

  final case class Size(sf: Double, setups: Int, queries: Seq[String])
  val Full = Size(sf = 0.01, setups = 2, queries = Queries)
  val Smoke = Size(sf = 0.001, setups = 1,
    queries = Seq("dd07_dup_clusters", "dd14_canonical_pick", "st08_stream_upsert"))

  def run(args: Args): Result = {
    val r = new Result
    val size = if (args.smoke) Smoke else Full
    size.queries.foreach(q => require(SparkEntry.queries.contains(q), s"unknown query $q"))
    val spark = SparkRun.session(args, args.work.resolve("warehouse"))
    try exercise(spark, args, size, r) finally spark.stop()
    r
  }

  /** Set up and measure in `spark`; returns each query's time (ms). */
  def exercise(spark: SparkSession, args: Args, size: Size, r: Result): Seq[Double] = {
    r.mark("session")
    // the first round also compiles the write path
    val (setupS, dataDir) = Kernel.timedSetup(r, size.setups) { round =>
      val d = args.work.resolve(s"data-$round").toString
      DataGen.write(spark, d, size.sf, args.seed, Tables)
      d
    }(d => Kernel.deleteDir(java.nio.file.Paths.get(d)))

    r.mark("setup")
    warmup(spark, dataDir)
    def df(q: String) = SparkEntry.queries(q)(spark, dataDir)
    def stopStreams(): Unit = spark.streams.active.foreach(_.stop())
    def hash(rows: Array[Row]): Int = rows.map(_.toString).sorted.toSeq.hashCode

    val st = new Statements(spark, args.trace)
    val runs = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val first = mutable.LinkedHashMap.empty[String, Array[Row]]
    val t0 = System.nanoTime()
    var passes = 0
    while (passes < 1 || System.nanoTime() - t0 < args.seconds * 1e9) {
      size.queries.foreach { q =>
        val rows = st.run(q, "query")(df(q).collect())
        stopStreams()
        st.log.last.rowsOut = rows.length
        runs.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += st.log.last.ms
        first.get(q) match {
          case None =>
            r.check(rows.nonEmpty, s"$q returned no rows")
            first(q) = rows
          case Some(f) =>
            r.check(hash(rows) == hash(f), s"$q result hash differs from the first pass")
        }
      }
      passes += 1
    }
    checkClusters(first, r)
    r.attempted.addAndGet(st.log.size)
    r.mark("measured")
    val heap = Stats.heapMb()

    val perQuery = size.queries.map(q => q -> Stats.median(runs(q).toSeq))
    val pass = perQuery.map(_._2).sum
    r.endToEnd ++= Seq(
      "setup_s" -> (setupS, "s"),
      "ops_per_s" -> (perQuery.size / (pass / 1000.0), "1/s"),
      "p50_ms" -> (Stats.median(perQuery.map(_._2)), "ms"),
      "tail_ms" -> (perQuery.map(_._2).max, "ms"),
      "heap_mb" -> (heap, "MiB"))
    if (args.trace) {
      r.perLayer ++= st.sparkMetrics(st.log.toSeq)
      r.perLayer ++= perQuery.map { case (q, ms) => metric(q) -> (ms / 1000.0, "s") }
    }
    r.detail ++= Seq("pass_s" -> pass / 1000.0, "passes" -> passes,
      "query_ms" -> perQuery.toMap,
      "rows_out" -> st.log.map(s => s.label -> s.rowsOut).toMap)
    perQuery.map(_._2)
  }

  /** dd14 (one row per cluster: canonical member and member count) and
    * dd15 (one row per document: its cluster's size and weight
    * 1/size) must agree with dd07's cluster labels.
    */
  private def checkClusters(out: collection.Map[String, Array[Row]], r: Result): Unit = {
    def v(row: Row, c: String): String = String.valueOf(row.get(row.fieldIndex(c)))
    out.get("dd07_dup_clusters").foreach { dd07 =>
      val clusters = dd07.groupBy(v(_, "cluster_id")).map { case (k, rows) =>
        k -> rows.map(v(_, "doc_id")).toSet }
      val clusterOf = dd07.map(x => v(x, "doc_id") -> v(x, "cluster_id")).toMap
      out.get("dd14_canonical_pick").foreach { dd14 =>
        r.check(dd14.map(v(_, "cluster_id")).toSet == clusters.keySet,
          "dd14 clusters differ from dd07's")
        r.check(dd14.forall { x =>
          val m = clusters.getOrElse(v(x, "cluster_id"), Set.empty[String])
          v(x, "n_members") == m.size.toString && m.contains(v(x, "canonical_id"))
        }, "dd14 member counts or canonical ids differ from dd07's clusters")
      }
      out.get("dd15_soft_dedup").foreach { dd15 =>
        r.check(dd15.forall { x =>
          val n = clusterOf.get(v(x, "doc_id")).map(clusters(_).size).getOrElse(1)
          v(x, "cluster_size") == n.toString &&
            math.abs(x.getDouble(x.fieldIndex("weight")) - math.round(1e6 / n) / 1e6) < 1e-9
        }, "dd15 cluster sizes or weights differ from dd07's clusters")
      }
    }
  }

  /** graft.Bench's warm-up: a scan, a shuffle join, an aggregate, a sort. */
  private def warmup(spark: SparkSession, dataDir: String): Unit = {
    import org.apache.spark.sql.functions.{count, lit}
    spark.range(1000).selectExpr("sum(id)").collect()
    val rg = spark.read.parquet(s"$dataDir/region.parquet")
    val n = spark.read.parquet(s"$dataDir/nation.parquet")
    n.join(rg, n("n_regionkey") === rg("r_regionkey")).groupBy("r_name")
      .agg(count(lit(1)).as("c")).orderBy("r_name")
      .write.format("noop").mode("overwrite").save()
  }
}
