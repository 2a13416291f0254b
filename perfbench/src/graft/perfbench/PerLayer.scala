package graft.perfbench

/** Per-layer metrics shared by several workloads, and the full list every
  * traced run prints (a metric a workload does not exercise reads 0).
  */
object PerLayer {
  type Metric = (String, (Double, String))

  /** Name and unit of every per-layer metric. */
  val Units: Seq[(String, String)] = Seq(
    "storage.head_per_op" -> "count", "storage.get_per_op" -> "count",
    "storage.put_per_op" -> "count", "storage.list_per_op" -> "count",
    "storage.read_kb_per_op" -> "KiB", "storage.write_kb_per_op" -> "KiB",
    "storage.busy_ms_per_op" -> "ms", "storage.cache_hit_ratio" -> "ratio",
    "storage.cas_lost_ratio" -> "ratio", "storage.stored_kb_per_commit" -> "KiB",
    "tree.depth" -> "count", "tree.node_reads_per_lookup" -> "count",
    "tree.root_probes_per_begin" -> "count",
    "tree.nodes_written_per_commit" -> "count", "tree.node_kb_written" -> "KiB",
    "txn.begin_ms" -> "ms", "txn.commit_ms" -> "ms",
    "txn.attempts_per_commit" -> "count", "txn.aborts_per_commit" -> "count",
    "txn.roots_read_per_retry" -> "count",
    "txn.dtxn_resume_ms" -> "ms",
    "catalog.describe_ms" -> "ms", "catalog.list_page_ms" -> "ms",
    "catalog.time_travel_ms" -> "ms", "catalog.def_reads_per_op" -> "count",
    "catalog.load_table_ms" -> "ms", "catalog.load_table_per_stmt" -> "count",
    "serve.request_ms" -> "ms", "serve.overhead_ms" -> "ms",
    "spark.plan_ms" -> "ms", "spark.jobs_per_stmt" -> "count",
    "spark.stages_per_stmt" -> "count", "spark.tasks_per_stmt" -> "count",
    "spark.sched_delay_ms" -> "ms", "spark.exec_ms" -> "ms",
    "spark.driver_gap_ms" -> "ms", "spark.shuffle_kb_per_stmt" -> "KiB",
    "spark.rows_scanned_per_row_out" -> "ratio", "spark.post_job_ms" -> "ms",
    "spark.stmt_read_ms" -> "ms", "spark.stmt_write_ms" -> "ms",
    "format.metadata_reads_per_stmt" -> "count",
    "format.manifest_kb_read_per_stmt" -> "KiB",
    "format.delete_objects_live" -> "count",
    "maintain.compact_ms" -> "ms", "maintain.compact_kb_rewritten" -> "KiB",
    "maintain.mv_refresh_ms" -> "ms") ++
    QueryBattery.Queries.map(q => QueryBattery.metric(q) -> "s")

  /** Every per-layer metric, in list order, taking `measured` values and
    * 0 for the rest.
    */
  def complete(measured: collection.Map[String, (Double, String)]): Seq[Metric] =
    Units.map { case (k, u) => k -> measured.getOrElse(k, (0.0, u)) }

  private def meanSpan(name: String): Double =
    Stats.mean(Trace.allSpans.filter(_.name == name).map(_.ms))

  /** Storage counts per operation. With an object store, the wire calls
    * of the client are counted and the read cache's hit ratio is the
    * share of StorageOps reads that needed no GET; on the local backend
    * the StorageOps calls are the store calls.
    */
  def storage(ops: Double, objectStore: Boolean): Seq[Metric] = {
    val level = if (objectStore) "client" else "ops"
    def per(kind: String) = StorageCount.total(level, kind, _ => true) / ops
    def kb(kind: String) =
      StorageCount.total(level, kind, _ => true, bytes = true) / 1024.0 / ops
    val reads = StorageCount.total("ops", "get", _ => true)
    val gets = StorageCount.total("client", "get", _ => true)
    val busy = Trace.allSpans.filter(_.name.startsWith(s"storage.$level.")).map(_.ms).sum
    val casTry = Trace.sum(k => k.startsWith("cas.") && k.endsWith(".attempt"))
    val casLost = Trace.sum(k => k.startsWith("cas.") && k.endsWith(".lost"))
    Seq(
      "storage.head_per_op" -> (per("head"), "count"),
      "storage.get_per_op" -> (per("get"), "count"),
      "storage.put_per_op" -> (per("put"), "count"),
      "storage.list_per_op" -> (per("list"), "count"),
      "storage.read_kb_per_op" -> (kb("get"), "KiB"),
      "storage.write_kb_per_op" -> (kb("put"), "KiB"),
      "storage.busy_ms_per_op" -> (busy / ops, "ms"),
      "storage.cache_hit_ratio" -> (
        if (objectStore && reads > 0) 1.0 - gets.toDouble / reads else 0.0, "ratio"),
      "storage.cas_lost_ratio" -> (
        if (casTry > 0) casLost.toDouble / casTry else 0.0, "ratio"))
  }

  def txnSpans(): Seq[Metric] = Seq(
    "txn.begin_ms" -> (meanSpan("Graft.beginTransaction"), "ms"),
    "txn.commit_ms" -> (meanSpan("Graft.commitTransaction"), "ms"))
}
