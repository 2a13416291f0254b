package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

/** One recorded span: a call across a layer boundary, timed from the
  * benchmark's side. `parent` is the span open on the same thread when
  * this one started (0 = none); `op` groups every span of one workload
  * operation.
  */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    startNs: Long, endNs: Long) {
  def layer: String = Trace.layerOf(name)
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder plus named counters.
  *
  * Spans are recorded only in the traced run (`enabled`); counters are
  * always kept, because the output checks read them too (e.g. a
  * read-only workload must write nothing). Spans are written out once,
  * when the run ends.
  */
object Trace {
  @volatile var enabled: Boolean = false

  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val opId = ThreadLocal.withInitial[java.lang.Long](() => 0L)
  /** Operation class of the calling thread ("describe", "commit", ...);
    * storage counters are split by it. Threads the benchmark does not
    * drive (the HTTP dispatcher, tree write pool) count as "bg".
    */
  private val scope = ThreadLocal.withInitial[String](() => "bg")

  private val counters = new ConcurrentHashMap[String, LongAdder]()

  def layerOf(name: String): String = {
    val i = name.indexOf('.')
    val head = if (i < 0) name else name.substring(0, i)
    head match {
      case "Graft" if txnCalls(name) => "txn"
      case "Graft" | "GraftCatalog" => "catalog"
      case "TreeOps" => "tree"
      case other => other
    }
  }

  private val txnCalls = Set("Graft.beginTransaction", "Graft.commitTransaction",
    "Graft.saveDistTransaction", "Graft.loadDistTransaction")

  /** Id of the innermost span open on this thread (0 = none). */
  def currentSpan: Long = stack.get().headOption.getOrElse(0L)

  def newOp(): Long = { val id = ids.incrementAndGet(); opId.set(id); id }

  def currentScope: String = scope.get()

  /** Run `f` with the calling thread's operation class set to `s`. */
  def inScope[T](s: String)(f: => T): T = {
    val prev = scope.get()
    scope.set(s)
    try f finally scope.set(prev)
  }

  /** Time `f` as a span named `name` when tracing; otherwise just run it. */
  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get()
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try f
      finally {
        spans.add(Span(id, parents.headOption.getOrElse(0L), opId.get(), name,
          t0, System.nanoTime()))
        stack.set(parents)
      }
    }

  /** Record a span measured elsewhere (e.g. by a Spark listener). */
  def record(name: String, parent: Long, op: Long, startNs: Long,
      endNs: Long): Unit =
    if (enabled) spans.add(Span(ids.incrementAndGet(), parent, op, name,
      startNs, endNs))

  def add(counter: String, n: Long = 1L): Unit =
    counters.computeIfAbsent(counter, _ => new LongAdder).add(n)

  def count(counter: String): Long =
    Option(counters.get(counter)).map(_.sum()).getOrElse(0L)

  /** Sum of every counter whose name matches `p`. */
  def sum(p: String => Boolean): Long =
    counters.asScala.iterator.collect { case (k, v) if p(k) => v.sum() }.sum

  def allSpans: Seq[Span] = spans.asScala.toSeq

  /** Forget everything recorded so far (set-up traffic is not measured). */
  def reset(): Unit = { counters.clear(); spans.clear() }

  /** Self time per layer: each span's duration minus the part of its
    * interval covered by its children (children on other threads are
    * clipped to the parent's interval).
    */
  def selfMsByLayer(all: Seq[Span]): Map[String, Double] = {
    val kids = all.filter(_.parent != 0).groupBy(_.parent)
    all.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val covered = union(kids.getOrElse(s.id, Nil)
          .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs))))
        (s.endNs - s.startNs - covered) / 1e6
      }.sum
    }
  }

  /** Total length of the union of intervals, ns. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Write every span as one JSON line. */
  def dump(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try allSpans.sortBy(_.startNs).foreach { s =>
      w.write(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},""" +
        s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
      w.newLine()
    } finally w.close()
  }
}

/** Small statistics helpers. */
object Stats {
  /** Linear-interpolated percentile, p in [0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val r = p / 100.0 * (s.length - 1)
    val lo = math.floor(r).toInt
    val hi = math.ceil(r).toInt
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  def median(xs: Seq[Double]): Double = pct(xs, 50)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length

  /** Heap in use after a full collection, MiB: the least of three
    * collections 200 ms apart, so objects whose release waits on a
    * collected reference (Spark's context cleaner) are gone.
    */
  def heapMb(): Double = {
    val rt = Runtime.getRuntime
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(200)
      (rt.totalMemory() - rt.freeMemory()) / (1024.0 * 1024.0)
    }.min
  }
}
