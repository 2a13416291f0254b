package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Command-line arguments of one benchmark run. */
final case class Args(workload: String, seed: Long, seconds: Double,
    trace: Boolean, work: Path, smoke: Boolean, report: Option[Path])

/** What a workload hands back: the outcome counts and its metrics. */
final class Result {
  val attempted = new java.util.concurrent.atomic.AtomicLong()
  val failed = new java.util.concurrent.atomic.AtomicLong()
  val failures = new ConcurrentLinkedQueue[String]()
  val endToEnd = mutable.LinkedHashMap.empty[String, (Double, String)]
  val perLayer = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Extra detail for the report file only (never on stdout). */
  val detail = mutable.LinkedHashMap.empty[String, Any]

  /** Count one failed output check or operation; keeps the first few
    * messages for the report.
    */
  def fail(msg: String): Unit = {
    failed.incrementAndGet()
    if (failures.size < 20) failures.add(msg)
  }

  private var lastMark = System.nanoTime()
  /** Seconds since the previous mark (or since the result was made),
    * recorded under `phase_s` in the report.
    */
  def mark(phase: String): Unit = {
    val now = System.nanoTime()
    val m = detail.getOrElseUpdate("phase_s", mutable.LinkedHashMap.empty[String, Double])
      .asInstanceOf[mutable.LinkedHashMap[String, Double]]
    m(phase) = (now - lastMark) / 1e9
    lastMark = now
  }

  /** A check that is not an operation of its own: counts as attempted. */
  def check(ok: Boolean, msg: => String): Unit = {
    attempted.incrementAndGet()
    if (!ok) fail(msg)
  }
}

/** Latency samples (completion time ns, latency ms) from several client
  * threads, kept per thread.
  */
final class Latencies {
  private val all = new ConcurrentLinkedQueue[mutable.ArrayBuffer[(Long, Double)]]()
  private val local = ThreadLocal.withInitial[mutable.ArrayBuffer[(Long, Double)]] { () =>
    val b = mutable.ArrayBuffer.empty[(Long, Double)]; all.add(b); b
  }
  def add(ms: Double): Unit = local.get() += ((System.nanoTime(), ms))
  def values: Seq[Double] = all.asScala.toSeq.flatten.map(_._2)

  /** Throughput and median latency as the median over `n` equal windows
    * of the measured interval [t0, t0 + seconds): a burst of load from
    * outside the benchmark moves one window, not the run's figure.
    */
  def windowed(t0: Long, seconds: Double, n: Int): (Double, Double, Seq[Double]) = {
    val w = seconds / n
    val byWin = all.asScala.toSeq.flatten.groupBy { case (t, _) =>
      math.min(n - 1, ((t - t0) / 1e9 / w).toInt) }
    val wins = (0 until n).map(i => byWin.getOrElse(i, Nil).map(_._2))
    val rates = wins.map(_.size / w)
    (Stats.median(rates), Stats.median(wins.filter(_.nonEmpty).map(Stats.median)), rates)
  }
}

/** Entry point: `Main --workload <w> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir> [--smoke] [--report <file>]`. Prints one JSON result
  * line last.
  */
object Main {
  val Workloads: Map[String, Args => Result] = Map(
    "catalog-read" -> CatalogRead.run,
    "catalog-commit" -> CatalogCommit.run,
    "spark-dml" -> SparkDml.run,
    "query-battery" -> QueryBattery.run,
    "spark" -> SparkSql.run)

  def parse(argv: Array[String]): Args = {
    val m = mutable.Map.empty[String, String]
    var i = 0
    while (i < argv.length) {
      val k = argv(i).stripPrefix("--")
      if (k == "smoke") { m(k) = "1"; i += 1 }
      else {
        require(i + 1 < argv.length, s"missing value for ${argv(i)}")
        m(k) = argv(i + 1); i += 2
      }
    }
    val w = m.getOrElse("workload", "")
    require(Workloads.contains(w), s"unknown workload '$w'; one of " +
      Workloads.keys.toSeq.sorted.mkString(", "))
    val trace = m.getOrElse("trace", "0")
    require(trace == "0" || trace == "1", s"--trace must be 0 or 1: $trace")
    val seconds = m.getOrElse("seconds", "10").toDouble
    require(seconds > 0, "--seconds must be positive")
    Args(w, m.getOrElse("seed", "1").toLong, seconds, trace == "1",
      Paths.get(m.getOrElse("work", "work")).toAbsolutePath,
      m.contains("smoke"), m.get("report").map(Paths.get(_)))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    Trace.enabled = args.trace
    Files.createDirectories(args.work)
    val r = Workloads(args.workload)(args)
    val metrics =
      if (args.trace) PerLayer.complete(r.perLayer) else r.endToEnd
    args.report.foreach(p => writeReport(p, args, r))
    r.failures.asScala.foreach(f => System.err.println(s"[perfbench] FAILED: $f"))
    val ms = metrics.map { case (k, (v, u)) =>
      s""""$k":{"value":${num(v)},"unit":"$u"}""" }.mkString(",")
    // the result line is the last thing on stdout
    System.out.flush()
    println(s"""{"correct":${r.failed.get == 0},"attempted":${r.attempted.get},""" +
      s""""failed":${r.failed.get},"metrics":{$ms}}""")
    System.out.flush()
    // no thread a library left behind may keep the run alive
    sys.exit(0)
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  private def json(v: Any): String = v match {
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case (a, u: String) => s"""{"value":${json(a)},"unit":"$u"}"""
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => s"${json(k.toString)}:${json(x)}" }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ",", "]")
    case s => "\"" + s.toString.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  }

  /** Full report of one run: every metric measured (end-to-end and
    * per-layer), self time per layer, failures and workload detail.
    * The traced run also writes its spans next to it.
    */
  private def writeReport(p: Path, args: Args, r: Result): Unit = {
    Files.createDirectories(p.toAbsolutePath.getParent)
    val spans = Trace.allSpans
    val body = mutable.LinkedHashMap[String, Any](
      "workload" -> args.workload, "seed" -> args.seed,
      "seconds" -> args.seconds, "trace" -> args.trace,
      "attempted" -> r.attempted.get, "failed" -> r.failed.get,
      "failures" -> r.failures.asScala.toSeq,
      "end_to_end" -> r.endToEnd, "per_layer" -> r.perLayer,
      "self_ms_by_layer" -> Trace.selfMsByLayer(spans),
      "spans" -> spans.size) ++ r.detail
    Files.writeString(p, json(body) + "\n")
    if (args.trace) Trace.dump(Paths.get(p.toString.stripSuffix(".json") + ".spans.jsonl"))
  }
}
