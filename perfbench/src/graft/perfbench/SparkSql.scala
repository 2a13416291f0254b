package graft.perfbench

import scala.jdk.CollectionConverters._

/** `spark`: spark-dml's cycle, then query-battery's pass, in one
  * SparkSession, so a run pays for the session start and the JVM's first
  * compilation of Spark's paths once.
  *
  * setup_s is the sum of the two set-ups' medians. The operations are
  * the cycle's statements and the battery's queries: ops_per_s counts
  * them per second of their own time, and p50_ms and tail_ms (p75) are
  * taken over all of them, which puts p50 among the DML statements and
  * p75 among the battery's queries. Per-layer metrics come from the part
  * that measures them; Spark's per-operation numbers are averaged over
  * both parts.
  */
object SparkSql {
  val TailPct = 75.0

  def run(args: Args): Result = {
    val dml = new Result
    val spark = SparkRun.session(args, args.work.resolve("warehouse"))
    val (stmts, battery, queries) = try {
      val stmts = SparkDml.exercise(spark, args,
        if (args.smoke) SparkDml.Smoke else SparkDml.Full, dml)
      // made here, so the battery's phase times start where the DML part ends
      val battery = new Result
      (stmts, battery, QueryBattery.exercise(spark, args,
        if (args.smoke) QueryBattery.Smoke else QueryBattery.Full, battery))
    } finally spark.stop()

    val r = new Result
    Seq(dml, battery).foreach { p =>
      r.attempted.addAndGet(p.attempted.get)
      r.failed.addAndGet(p.failed.get)
      p.failures.asScala.foreach(r.failures.add)
    }
    val ops = stmts ++ queries
    r.endToEnd ++= Seq(
      "setup_s" -> (dml.endToEnd("setup_s")._1 + battery.endToEnd("setup_s")._1, "s"),
      "ops_per_s" -> (ops.size / (ops.sum / 1000.0), "1/s"),
      "p50_ms" -> (Stats.median(ops), "ms"),
      "tail_ms" -> (Stats.pct(ops, TailPct), "ms"),
      // measured after both parts
      "heap_mb" -> battery.endToEnd("heap_mb"))
    r.perLayer ++= dml.perLayer
    battery.perLayer.foreach { case (k, (v, u)) =>
      r.perLayer(k) = dml.perLayer.get(k) match {
        // input rows per output row counts only the DML reads
        case Some(d) if k != "spark.rows_scanned_per_row_out" =>
          ((d._1 * stmts.size + v * queries.size) / ops.size, u)
        case Some(d) => d
        case None => (v, u)
      }
    }
    r.detail ++= dml.detail.map { case (k, v) => s"dml.$k" -> v } ++
      battery.detail.map { case (k, v) => s"battery.$k" -> v }
    r
  }
}
