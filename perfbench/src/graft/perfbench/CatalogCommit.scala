package graft.perfbench

import scala.collection.mutable

import graft.catalog.Graft
import graft.objects.{FileLocations, ObjectKeys}
import graft.storage.LocalStorageOps
import graft.tree.TreeOps
import graft.txn.{CommitFailedException, Transaction}

/** `catalog-commit`: the write side of tree, storage and txn.
  *
  * Four closed-loop writer threads over a local-backend catalog
  * (`LocalStorageOps`, Spark's default). Every transaction touches only
  * its own writer's tables, so a lost root race always rebases
  * (different keys never conflict) and none should abort. Mix: 55 %
  * alter one table, 25 % alter three tables in one transaction, 10 %
  * create a table, 5 % drop a table this writer created, 5 % suspend a
  * distributed transaction to storage, then resume and commit it.
  */
object CatalogCommit {
  final case class Size(nss: Int, tables: Int, versions: Int, setups: Int)
  val Full = Size(nss = 10, tables = 10000, versions = 11, setups = 2)
  val Smoke = Size(nss = 2, tables = 200, versions = 3, setups = 1)
  val Writers = 4
  val MaxAborts = 20

  /** One writer's view: its tables by name → (namespace, rev). */
  final class Own {
    val live = mutable.LinkedHashMap.empty[String, (String, Int)]
    val created = mutable.ArrayBuffer.empty[String]
    var acked = 0L
    var n = 0
  }

  def run(args: Args): Result = {
    val r = new Result
    val size = if (args.smoke) Smoke else Full
    val (setupS, (dir, model)) = Kernel.timedSetup(r, size.setups) { round =>
      val d = args.work.resolve(s"catalog-commit-$round")
      (d, Kernel.buildAt(d, d => new LocalStorageOps(d.toString), size.nss, size.tables,
        size.versions, 0, args.seed))
    }(old => Kernel.deleteDir(old._1))
    val storage = new CountingStorageOps(new LocalStorageOps(dir.toString))
    val own = Array.fill(Writers)(new Own)
    (0 until size.tables).foreach { i =>
      own(i % Writers).live(Kernel.tableName(i)) = (model.ns(i), 0)
    }

    def commit(txn: Transaction): Unit =
      Trace.inScope("commit")(Trace.span("Graft.commitTransaction")(
        Graft.commitTransaction(storage, txn)))

    def alter(txn: Transaction, o: Own, names: Seq[String]): Seq[(String, (String, Int))] =
      names.map { t =>
        val (ns, rev) = o.live(t)
        val cur = Trace.span("Graft.describeTable")(Graft.describeTable(storage, txn, ns, t))
        if (cur.properties.get("rev") != Some(rev.toString))
          r.fail(s"$t read rev ${cur.properties.get("rev")}, model $rev")
        Trace.span("Graft.alterTable")(
          Graft.alterTable(storage, txn, Kernel.tableDef(ns, t, rev + 1)))
        t -> ((ns, rev + 1))
      }

    def pick(o: Own, rng: java.util.Random, k: Int): Seq[String] = {
      val keys = o.live.keysIterator.toIndexedSeq
      val s = mutable.LinkedHashSet.empty[String]
      while (s.size < math.min(k, keys.size)) s += keys(rng.nextInt(keys.size))
      s.toSeq
    }

    /** One transaction of the mix; returns the model change to apply
      * once the commit is acknowledged.
      */
    def op(c: Int, rng: java.util.Random): () => Unit = {
      val o = own(c)
      val x = rng.nextDouble()
      val dtxn = x >= 0.95
      val txn = Trace.span("Graft.beginTransaction")(Graft.beginTransaction(storage))
      try {
        val apply: () => Unit =
          if (x < 0.55 || dtxn || (x >= 0.90 && o.created.isEmpty)) {
            val ch = alter(txn, o, pick(o, rng, 1))
            () => o.live ++= ch
          } else if (x < 0.80) {
            val ch = alter(txn, o, pick(o, rng, 3))
            () => o.live ++= ch
          } else if (x < 0.90) {
            val ns = Kernel.nsName(rng.nextInt(size.nss))
            val t = s"w${c}c${o.n}"
            o.n += 1
            Trace.span("Graft.createTable")(
              Graft.createTable(storage, txn, Kernel.tableDef(ns, t, 0)))
            () => { o.live(t) = (ns, 0); o.created += t }
          } else {
            val t = o.created(rng.nextInt(o.created.size))
            Trace.span("Graft.dropTable")(Graft.dropTable(storage, txn, o.live(t)._1, t))
            () => { o.live -= t; o.created -= t }
          }
        if (dtxn) {
          Trace.span("Graft.saveDistTransaction")(Graft.saveDistTransaction(storage, txn))
          val resumed = Trace.span("txn.dtxn_resume")(
            Graft.loadDistTransaction(storage, txn.id))
          try commit(resumed)
          finally {
            resumed.close()
            storage.deleteBatch(Seq(FileLocations.distTransactionDefPath(txn.id)))
          }
        } else commit(txn)
        apply
      } finally txn.close()
    }

    // An abort after graft's bounded commit retries is retried as a new
    // transaction, as an application would; aborts are counted
    // (txn.aborts_per_commit) and their time stays in the latency.
    var lat = new Latencies
    def loop(c: Int, rng: java.util.Random): Unit = {
      Trace.newOp()
      val t0 = System.nanoTime()
      try Trace.span("op.commit") {
        var aborts = 0
        var apply: Option[() => Unit] = None
        while (apply.isEmpty) {
          try apply = Some(op(c, rng))
          catch {
            case e: CommitFailedException if aborts < MaxAborts =>
              aborts += 1
              Trace.add("txn.abort")
          }
        }
        apply.get()
        own(c).acked += 1
      } catch { case e: Exception => r.fail(s"writer $c: $e") }
      r.attempted.incrementAndGet()
      lat.add((System.nanoTime() - t0) / 1e6)
    }

    Kernel.syncDisk()
    // warm the JIT, untimed; its commits stay in the model
    Kernel.closedLoop(Writers, math.min(2.0, args.seconds / 4), args.seed + 1)(loop)
    val warmAcked = own.map(_.acked).sum
    r.attempted.set(0); r.failed.set(0); Trace.reset()
    lat = new Latencies
    val bytesBefore = Kernel.dirBytes(dir)

    val t0 = Kernel.closedLoop(Writers, args.seconds, args.seed)(loop)
    val heap = Stats.heapMb()
    val v = lat.values
    val (opsPerS, p50, windowRates) = lat.windowed(t0, args.seconds, Kernel.Windows)
    r.detail("window_ops_per_s") = windowRates
    val acked = own.map(_.acked).sum - warmAcked
    val stored = Kernel.dirBytes(dir) - bytesBefore
    check(r, dir.toString, own, model.versions + warmAcked + acked)

    r.endToEnd ++= Seq(
      "setup_s" -> (setupS, "s"),
      "ops_per_s" -> (opsPerS, "1/s"),
      "p50_ms" -> (p50, "ms"),
      "tail_ms" -> (Stats.pct(v, 99), "ms"),
      "heap_mb" -> (heap, "MiB"))

    val commits = acked.max(1).toDouble
    val attempts = Trace.sum(k => k == "cas.commit.attempt")
    val lost = Trace.sum(k => k == "cas.commit.lost")
    val nodePuts = StorageCount.total("ops", "put", _ == "node")
    r.perLayer ++= PerLayer.storage(v.size.toDouble, objectStore = false)
    r.perLayer ++= PerLayer.txnSpans()
    r.perLayer ++= Seq(
      "storage.stored_kb_per_commit" -> (stored / 1024.0 / commits, "KiB"),
      "tree.depth" -> (Kernel.depth(storage).toDouble, "count"),
      "tree.nodes_written_per_commit" -> (nodePuts / commits, "count"),
      "tree.node_kb_written" -> (StorageCount.total("ops", "put", _ == "node",
        bytes = true) / 1024.0 / commits, "KiB"),
      "txn.attempts_per_commit" -> (attempts / commits, "count"),
      "txn.aborts_per_commit" -> (Trace.count("txn.abort") / commits, "count"),
      "txn.roots_read_per_retry" -> (if (lost == 0) 0.0 else
        StorageCount.total("ops", "get", _ == "root", _ == "commit") / lost.toDouble,
        "count"),
      "txn.dtxn_resume_ms" -> (Stats.mean(Trace.allSpans
        .filter(_.name == "txn.dtxn_resume").map(_.ms)), "ms"))
    r.detail ++= Seq("sizes" -> Map("namespaces" -> size.nss, "tables" -> size.tables,
      "setup_versions" -> model.versions), "commits" -> acked,
      "root_attempts" -> attempts, "root_lost" -> lost)
    r
  }

  /** A fresh storage handle sees exactly the model built from
    * acknowledged commits, and one version per acknowledged commit.
    */
  private def check(r: Result, dir: String, own: Array[Own], versions: Long): Unit = {
    val fresh = new LocalStorageOps(dir)
    val txn = Graft.beginTransaction(fresh)
    try {
      r.check(txn.beginningRoot.version == versions,
        s"latest version ${txn.beginningRoot.version}, expected $versions")
      val cd = Graft.catalogDef(fresh, txn.beginningRoot)
      val seen = TreeOps.traverse(fresh, txn.runningRoot)
        .filter(row => ObjectKeys.isTableKey(row.key))
        .map(row => ObjectKeys.tableNameFromKey(row.key, cd)).toSeq
      val want = own.flatMap(_.live.toSeq).toMap
      r.check(seen.size == want.size, s"${seen.size} tables stored, model ${want.size}")
      val wrong = seen.filterNot { case (ns, t) =>
        val d = Graft.describeTable(fresh, txn, ns, t)
        want.get(t).exists(w => Kernel.sameDef(d, Kernel.tableDef(w._1, t, w._2)))
      }
      r.check(wrong.isEmpty, s"${wrong.size} stored tables differ from the model, " +
        s"first ${wrong.headOption}")
    } finally txn.close()
  }
}
