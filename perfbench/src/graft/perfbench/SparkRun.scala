package graft.perfbench

import java.util.{Map => JMap}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.spark.GraftCatalog
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{Column => V2Column, Identifier, Table, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-side plumbing shared by the two Spark workloads. */
object SparkRun {
  val Cores = 4

  /** A local[4] session configured as graft's own harness configures it
    * (graft.Verify.sessionBuilder), with the graft catalog `g` over
    * `warehouse`. In the traced run `g` is a [[TracedGraftCatalog]].
    */
  def session(args: Args, warehouse: java.nio.file.Path): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val cls = if (args.trace) classOf[TracedGraftCatalog] else classOf[GraftCatalog]
    val spark = graft.Verify.sessionBuilder(Cores.toString)
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", System.getProperty("java.io.tmpdir"))
      .config("spark.sql.warehouse.dir", args.work.resolve("spark-warehouse").toString)
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.ui.retainedExecutions", "8")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.sql.catalog.g", cls.getName)
      .config("spark.sql.catalog.g.warehouse", warehouse.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (args.trace) {
      // graft's SQL extensions recognise a graft catalog by the class
      // name in its conf (MV DDL is intercepted only for those): load
      // the traced instance, then name the plain class again
      catalog(spark)
      spark.conf.set("spark.sql.catalog.g", classOf[GraftCatalog].getName)
    }
    spark
  }

  /** The live `g` catalog instance of the session. */
  def catalog(spark: SparkSession): GraftCatalog =
    spark.sessionState.catalogManager.catalog("g").asInstanceOf[GraftCatalog]

  /** Route the driver-side catalog traffic of `g` through the counting
    * decorator (executor-side reopens stay uncounted).
    */
  def countStorage(spark: SparkSession): Unit = {
    val c = catalog(spark)
    c.storage match {
      case _: CountingStorageOps => ()
      case s => c.storage = new CountingStorageOps(s)
    }
  }
}

/** What the traced run learns about one statement from Spark's events. */
final class StmtStats {
  var jobs = 0
  val stages = mutable.Set.empty[Int]
  var tasks = 0
  var schedDelayMs = 0.0
  var shuffleBytes = 0L
  var recordsRead = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  val jobStart = mutable.Map.empty[Int, Long]
}

/** Attributes jobs, stages, tasks, shuffle bytes and planning phases to
  * statements through the job group each statement runs under
  * (`stmt-<op id>`). Registered only in the traced run.
  */
final class StmtListener extends SparkListener with QueryExecutionListener {
  val byStmt = new ConcurrentHashMap[Long, StmtStats]()
  private val jobStmt = new ConcurrentHashMap[Int, Long]()
  private val stageStmt = new ConcurrentHashMap[Int, Long]()
  @volatile var lastEvent: Long = System.nanoTime()

  private def stats(op: Long): StmtStats = byStmt.computeIfAbsent(op, _ => new StmtStats)

  private def opOf(props: java.util.Properties): Option[Long] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("stmt-")).map(_.stripPrefix("stmt-").toLong)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    lastEvent = System.nanoTime()
    opOf(e.properties).foreach { op =>
      jobStmt.put(e.jobId, op)
      e.stageIds.foreach(s => stageStmt.put(s, op))
      val st = stats(op)
      st.jobs += 1
      st.jobStart(e.jobId) = e.time
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    lastEvent = System.nanoTime()
    Option(jobStmt.get(e.jobId)).foreach { op =>
      val st = stats(op)
      st.jobStart.remove(e.jobId).foreach(s => st.jobIntervals += ((s, e.time)))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    lastEvent = System.nanoTime()
    Option(stageStmt.get(e.stageInfo.stageId)).foreach(op =>
      stats(op).stages += e.stageInfo.stageId)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    lastEvent = System.nanoTime()
    Option(stageStmt.get(e.stageId)).foreach { op =>
      val st = stats(op)
      st.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        val run = e.taskInfo.finishTime - e.taskInfo.launchTime
        st.schedDelayMs += math.max(0L, run - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime)
        st.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        st.recordsRead += m.inputMetrics.recordsRead
      }
    }
  }

  /** (start ms, duration ms) of the analysis, optimization and planning
    * phases of every query execution; assigned to the statement whose
    * wall-clock window holds the start.
    */
  val plans = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double)]()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    lastEvent = System.nanoTime()
    val ph = Seq("analysis", "optimization", "planning").flatMap(qe.tracker.phases.get)
    if (ph.nonEmpty) plans.add((ph.map(_.startTimeMs).min, ph.map(_.durationMs.toDouble).sum))
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** Wait until Spark's asynchronous listener events have settled. */
  def settle(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    while (System.nanoTime() - lastEvent < 300000000L && System.nanoTime() < deadline)
      Thread.sleep(50)
  }
}

/** Statement runner: each statement is one operation under its own job
  * group, timed (and traced as a `spark.<label>` span).
  */
final class Statements(spark: SparkSession, trace: Boolean) {
  val listener: Option[StmtListener] =
    if (trace) {
      val l = new StmtListener
      spark.sparkContext.addSparkListener(l)
      spark.listenerManager.register(l)
      Some(l)
    } else None

  /** One statement run: wall-clock start and end (ms, as Spark's events
    * carry them) and its duration measured in ns.
    */
  final case class Stmt(op: Long, label: String, kind: String, startMs: Long,
      endMs: Long, startNs: Long, ms: Double, span: Long, var rowsOut: Long = 0L)

  val log = mutable.ArrayBuffer.empty[Stmt]

  def run[T](label: String, kind: String)(f: => T): T = {
    val op = Trace.newOp()
    spark.sparkContext.setJobGroup(s"stmt-$op", label, interruptOnCancel = false)
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var span = 0L
    try Trace.inScope(label)(Trace.span(s"spark.$label") { span = Trace.currentSpan; f })
    finally {
      log += Stmt(op, label, kind, w0, System.currentTimeMillis(), t0,
        (System.nanoTime() - t0) / 1e6, span)
      spark.sparkContext.clearJobGroup()
    }
  }

  /** Per-statement Spark numbers over the statements `keep` selects. */
  def stats(s: Stmt): StmtStats =
    listener.flatMap(l => Option(l.byStmt.get(s.op))).getOrElse(new StmtStats)

  def sparkMetrics(sel: Seq[Stmt]): Seq[PerLayer.Metric] = listener.toSeq.flatMap { l =>
    l.settle()
    val n = sel.size.max(1).toDouble
    val st = sel.map(e => e -> stats(e))
    // each job becomes an `exec.job` child span of its statement
    st.foreach { case (e, s) => s.jobIntervals.foreach { case (a, b) =>
      Trace.record("exec.job", e.span, e.op, e.startNs + (a - e.startMs) * 1000000L,
        e.startNs + (b - e.startMs) * 1000000L)
    } }
    def sum(f: StmtStats => Double) = st.map(x => f(x._2)).sum
    val execMs = st.map { case (_, s) => Trace.union(s.jobIntervals.toSeq).toDouble }
    val gaps = st.zip(execMs).map { case ((e, _), x) => e.ms - x }
    val post = st.map { case (e, s) =>
      if (s.jobIntervals.isEmpty) 0.0 else (e.endMs - s.jobIntervals.map(_._2).max).toDouble
    }
    val scanned = st.filter(_._1.kind == "read").map(_._2.recordsRead).sum
    val out = sel.filter(_.kind == "read").map(_.rowsOut).sum
    val plans = l.plans.asScala.toSeq
    val planMs = sel.map(e => plans.collect {
      case (t, ms) if t >= e.startMs && t <= e.endMs => ms }.sum).sum
    Seq(
      "spark.plan_ms" -> (planMs / n, "ms"),
      "spark.rows_scanned_per_row_out" -> (scanned.toDouble / out.max(1), "ratio"),
      "spark.jobs_per_stmt" -> (sum(_.jobs) / n, "count"),
      "spark.stages_per_stmt" -> (sum(_.stages.size) / n, "count"),
      "spark.tasks_per_stmt" -> (sum(_.tasks) / n, "count"),
      "spark.sched_delay_ms" -> (sum(_.schedDelayMs) / n, "ms"),
      "spark.exec_ms" -> (execMs.sum / n, "ms"),
      "spark.driver_gap_ms" -> (gaps.sum / n, "ms"),
      "spark.shuffle_kb_per_stmt" -> (sum(_.shuffleBytes) / 1024.0 / n, "KiB"),
      "spark.post_job_ms" -> (post.sum / n, "ms"))
  }

  /** Per statement label: runs, median ms, and mean jobs, tasks and
    * job-covered ms (report detail of the traced run).
    */
  def byLabel: Map[String, Map[String, Double]] = log.groupBy(_.label).map { case (k, v) =>
    k -> Map("runs" -> v.size.toDouble, "median_ms" -> Stats.median(v.map(_.ms).toSeq),
      "jobs" -> Stats.mean(v.map(stats(_).jobs.toDouble).toSeq),
      "tasks" -> Stats.mean(v.map(stats(_).tasks.toDouble).toSeq),
      "exec_ms" -> Stats.mean(v.map(s => Trace.union(stats(s).jobIntervals.toSeq)
        .toDouble).toSeq))
  }
}

/** `GraftCatalog` with a span around each public catalog call; the
  * traced run registers it as the `g` catalog.
  */
class TracedGraftCatalog extends GraftCatalog {
  private def s[T](name: String)(f: => T): T = Trace.span(s"GraftCatalog.$name")(f)

  override def loadTable(ident: Identifier): Table = s("loadTable")(super.loadTable(ident))
  override def loadTable(ident: Identifier, version: String): Table =
    s("loadTable")(super.loadTable(ident, version))
  override def loadTable(ident: Identifier, timestamp: Long): Table =
    s("loadTable")(super.loadTable(ident, timestamp))
  override def tableExists(ident: Identifier): Boolean =
    s("tableExists")(super.tableExists(ident))
  override def listTables(namespace: Array[String]): Array[Identifier] =
    s("listTables")(super.listTables(namespace))
  override def createTable(ident: Identifier, columns: Array[V2Column],
      partitions: Array[Transform], properties: JMap[String, String]): Table =
    s("createTable")(super.createTable(ident, columns, partitions, properties))
  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    s("alterTable")(super.alterTable(ident, changes: _*))
  override def dropTable(ident: Identifier): Boolean = s("dropTable")(super.dropTable(ident))
  override def namespaceExists(namespace: Array[String]): Boolean =
    s("namespaceExists")(super.namespaceExists(namespace))
  override def loadNamespaceMetadata(namespace: Array[String]): JMap[String, String] =
    s("loadNamespaceMetadata")(super.loadNamespaceMetadata(namespace))
  override def createNamespace(namespace: Array[String],
      metadata: JMap[String, String]): Unit =
    s("createNamespace")(super.createNamespace(namespace, metadata))
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    s("loadProcedure")(super.loadProcedure(ident))
  override def loadView(ident: Identifier): org.apache.spark.sql.connector.catalog.View =
    s("loadView")(super.loadView(ident))
  override def viewExists(ident: Identifier): Boolean = s("viewExists")(super.viewExists(ident))
}
