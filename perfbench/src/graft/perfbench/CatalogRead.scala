package graft.perfbench

import java.net.{HttpURLConnection, URI, URLEncoder}
import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import graft.catalog.Graft
import graft.objects.{Json, TableDef}
import graft.serve.{CatalogHttpServer, IcebergRest}
import graft.storage.{DirectoryObjectStoreClient, ObjectStoreOps}
import graft.tree.TreeOps
import graft.txn.Transaction

/** `catalog-read`: the read side of tree, storage and serve, no commits.
  *
  * Four closed-loop clients over an object-store catalog
  * (`ObjectStoreOps` over `DirectoryObjectStoreClient`, so the
  * etag-validated read cache is in the path): clients 0-1 call `Graft`
  * in-process, clients 2-3 call `CatalogHttpServer` over loopback and
  * share its single dispatcher thread. Mix per operation: 70 % describe
  * (Zipf θ = 0.99 over tables), 20 % one list page of 100 tables after a
  * random key, 10 % describe AS OF a random older catalog version. The
  * HTTP API has no AS OF route, so HTTP clients serve that 10 % in-process.
  */
object CatalogRead {
  final case class Size(nss: Int, tables: Int, versions: Int, alters: Int,
      setups: Int)
  /** Set-up creates every object through graft's object store, three
    * times per run after an untimed smaller build; 1 000 tables (tree
    * depth 2 at the default order 128) is what fits the run time.
    */
  val Full = Size(nss = 10, tables = 1000, versions = 11, alters = 20, setups = 3)
  val Smoke = Size(nss = 5, tables = 500, versions = 10, alters = 5, setups = 1)
  /** The untimed build before the timed ones, so the first timed round
    * does not pay for loading and first compiling the build path.
    */
  val Warm = Size(nss = 5, tables = 500, versions = 6, alters = 10, setups = 1)

  val PageSize = 100
  /** ~9 000 operations in a 5 s run leave ~90 beyond p99; the top 5 %
    * are the HTTP operations, so p90 would sit on the edge between the
    * two client kinds and swing with their shares.
    */
  val TailPct = 99.0
  /** Untimed closed-loop warm-up before the measured phase: throughput
    * climbs for the first ~5 s of reads (compilation of the read path)
    * before it levels off.
    */
  val WarmupS = 6.0

  def run(args: Args): Result = {
    val r = new Result
    val size = if (args.smoke) Smoke else Full
    def open(d: java.nio.file.Path) = new ObjectStoreOps(new DirectoryObjectStoreClient(d.toString))
    if (size != Smoke) {
      val d = args.work.resolve("catalog-read-warm")
      Kernel.buildAt(d, open, Warm.nss, Warm.tables, Warm.versions, Warm.alters, args.seed)
      Kernel.deleteDir(d)
    }
    // the catalog is written through the object store, then opened again
    // through a fresh handle
    val (setupS, (dir, model)) = Kernel.timedSetup(r, size.setups) { round =>
      val d = args.work.resolve(s"catalog-read-$round")
      (d, Kernel.buildAt(d, open, size.nss, size.tables, size.versions, size.alters, args.seed))
    }(old => Kernel.deleteDir(old._1))
    val client = new CountingObjectStoreClient(new DirectoryObjectStoreClient(dir.toString))
    val storage = new CountingStorageOps(new ObjectStoreOps(client))
    val depth = Kernel.depth(storage)
    // read every catalog object once, untimed: a long-running catalog
    // holds a warm read cache, and one that fills while the clients run
    // (a Zipf tail of misses) keeps moving throughput for the whole run
    Seq("vn", "node", "def").foreach(p => storage.listDeep(p).foreach(storage.read))
    val server = new CatalogHttpServer(storage)
    val port = server.start()
    val zipf = new Kernel.Zipf(size.tables, 0.99)
    // hot ranks land on tables spread over all namespaces
    val rankToTable = {
      val a = (0 until size.tables).toArray
      val p = new java.util.Random(args.seed ^ 0x5eedL)
      for (i <- a.indices.reverse) {
        val j = p.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
      }
      a
    }
    val classes = Seq("describe", "list", "asof", "http.describe", "http.list")
    var lat = new Latencies
    var classLat = classes.map(_ -> new Latencies).toMap

    def expect(i: Int, rev: Int): TableDef =
      Kernel.tableDef(model.ns(i), Kernel.tableName(i), rev)

    def inProcess[T](f: Transaction => T): T = {
      val txn = Trace.span("Graft.beginTransaction")(Graft.beginTransaction(storage))
      try {
        val out = f(txn)
        Trace.span("Graft.commitTransaction")(Graft.commitTransaction(storage, txn))
        out
      } finally txn.close()
    }

    def describe(i: Int, http: Boolean): Unit = {
      val got =
        if (http) Json.readString(get(port,
          s"/v1/namespaces/${model.ns(i)}/tables/${Kernel.tableName(i)}"), classOf[TableDef])
        else inProcess(txn => Trace.span("Graft.describeTable")(
          Graft.describeTable(storage, txn, model.ns(i), Kernel.tableName(i))))
      if (!Kernel.sameDef(got, expect(i, model.latestRev(i))))
        r.fail(s"describe ${Kernel.tableName(i)}: $got")
    }

    def list(rng: java.util.Random, http: Boolean): Unit = {
      val n = rng.nextInt(model.nss)
      val members = model.byNs(n)
      val from = rng.nextInt(members.size)
      val after = Kernel.tableName(members(from))
      val want = members.slice(from + 1, from + 1 + PageSize).map(Kernel.tableName).toSeq
      val got: Seq[String] =
        if (http) {
          val body = Json.mapper.readTree(get(port,
            s"/v1/iceberg/namespaces/${Kernel.nsName(n)}/tables?pageSize=$PageSize" +
              s"&pageToken=${URLEncoder.encode(IcebergRest.pageToken(after), "UTF-8")}"))
          body.get("identifiers").elements().asScala.map(_.get("name").asText()).toSeq
        } else inProcess(txn => Trace.span("Graft.showTablesPage")(
          Graft.showTablesPage(storage, txn, Kernel.nsName(n), Some(after), PageSize))._1)
      if (got != want) r.fail(s"list ${Kernel.nsName(n)} after $after: ${got.take(3)}..")
    }

    def asOf(i: Int, rng: java.util.Random): Unit = {
      val v = model.created(i) + (rng.nextDouble() * (model.versions - model.created(i))).toLong
      val latest = Trace.span("TreeOps.findLatestRoot")(TreeOps.findLatestRoot(storage).get)
      val root = Trace.span("TreeOps.findRootForVersion")(
        TreeOps.findRootForVersion(storage, latest, v))
      try {
        val txn = new Transaction(java.util.UUID.randomUUID().toString, "SNAPSHOT",
          root, root, 0L, Long.MaxValue)
        val got = Trace.span("Graft.describeTable")(
          Graft.describeTable(storage, txn, model.ns(i), Kernel.tableName(i)))
        if (!Kernel.sameDef(got, expect(i, model.revAt(i, v))))
          r.fail(s"describe ${Kernel.tableName(i)} AS OF $v: $got")
      } finally { if (root ne latest) root.close(); latest.close() }
    }

    def op(c: Int, rng: java.util.Random): Unit = {
      val http = c >= 2
      val x = rng.nextDouble()
      val cls = if (x < 0.7) "describe" else if (x < 0.9) "list" else "asof"
      val label = if (http && cls != "asof") s"http.$cls" else cls
      Trace.newOp()
      val t0 = System.nanoTime()
      try Trace.inScope(label)(Trace.span(s"op.$label") {
        cls match {
          case "describe" => describe(rankToTable(zipf.next(rng)), http)
          case "list" => list(rng, http)
          case _ => asOf(rankToTable(zipf.next(rng)), rng)
        }
      }) catch { case e: Exception => r.fail(s"$label: $e") }
      val ms = (System.nanoTime() - t0) / 1e6
      r.attempted.incrementAndGet()
      lat.add(ms)
      classLat(label).add(ms)
    }

    Kernel.syncDisk()
    // warm the JIT and the HTTP connections, untimed
    Kernel.closedLoop(4, if (args.smoke) 0.5 else WarmupS, args.seed + 1)(op)
    r.attempted.set(0); r.failed.set(0); Trace.reset()
    lat = new Latencies
    classLat = classes.map(_ -> new Latencies).toMap

    val t0 = try Kernel.closedLoop(4, args.seconds, args.seed)(op)
      finally server.stop()
    val heap = Stats.heapMb()
    val v = lat.values
    val (opsPerS, p50, windowRates) = lat.windowed(t0, args.seconds, Kernel.Windows)
    r.detail("window_ops_per_s") = windowRates
    r.check(Trace.sum(k => k.startsWith("client.") && k.contains(".put.")) == 0,
      "a read-only workload wrote to the store")

    r.endToEnd ++= Seq(
      "setup_s" -> (setupS, "s"),
      "ops_per_s" -> (opsPerS, "1/s"),
      "p50_ms" -> (p50, "ms"),
      "tail_ms" -> (Stats.pct(v, TailPct), "ms"),
      "heap_mb" -> (heap, "MiB"))

    val ops = v.size.toDouble
    val describes = classLat("describe").values.size.max(1)
    val inProcOps = Seq("describe", "list").map(classLat(_).values.size).sum.max(1)
    r.perLayer ++= PerLayer.storage(ops, objectStore = true)
    r.perLayer ++= Seq(
      "tree.depth" -> (depth.toDouble, "count"),
      // the root node read in begin, plus the node reads of the descent
      "tree.node_reads_per_lookup" -> (1.0 + StorageCount.total("ops", "get",
        _ == "node", _ == "describe") / describes.toDouble, "count"),
      "tree.root_probes_per_begin" -> (Seq("describe", "list").map(s =>
        StorageCount.total("ops", "head", _ == "root", _ == s) +
          StorageCount.total("ops", "get", _ == "root", _ == s)).sum /
        inProcOps.toDouble, "count"),
      "catalog.describe_ms" -> (Stats.mean(classLat("describe").values), "ms"),
      "catalog.list_page_ms" -> (Stats.mean(classLat("list").values), "ms"),
      "catalog.time_travel_ms" -> (Stats.mean(classLat("asof").values), "ms"),
      "catalog.def_reads_per_op" -> (StorageCount.total("ops", "get", _ == "def") / ops, "count"),
      "serve.request_ms" -> (Stats.mean(classLat("http.describe").values ++
        classLat("http.list").values), "ms"),
      "serve.overhead_ms" -> (Seq("describe", "list").map { c =>
        val h = classLat(s"http.$c").values
        (Stats.mean(h) - Stats.mean(classLat(c).values)) * h.size
      }.sum / (classLat("http.describe").values.size +
        classLat("http.list").values.size).max(1), "ms"))
    r.perLayer ++= PerLayer.txnSpans()
    r.detail ++= Seq("sizes" -> Map("namespaces" -> size.nss, "tables" -> size.tables,
      "versions" -> model.versions, "tree_depth" -> depth),
      "ops_by_class" -> classLat.map { case (k, l) => k -> l.values.size })
    r
  }

  /** One GET over loopback; non-200 is an error. */
  private def get(port: Int, path: String): String = Trace.span("serve.request") {
    val c = URI.create(s"http://127.0.0.1:$port$path").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    val code = c.getResponseCode
    val stream = if (code < 400) c.getInputStream else c.getErrorStream
    val body = try new String(stream.readAllBytes(), StandardCharsets.UTF_8)
      finally stream.close()
    if (code != 200) throw new IllegalStateException(s"HTTP $code for $path: $body")
    body
  }
}
