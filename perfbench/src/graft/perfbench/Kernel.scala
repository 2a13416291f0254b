package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.catalog.Graft
import graft.objects.{CatalogDef, NamespaceDef, TableDef}
import graft.storage.StorageOps
import graft.tree.TreeOps
import graft.txn.Transaction

/** Catalog-kernel helpers shared by the two kernel workloads. */
object Kernel {
  def nsName(i: Int): String = f"ns$i%03d"
  def tableName(i: Int): String = f"t$i%06d"

  /** The definition the model expects for a table at a revision. */
  def tableDef(ns: String, name: String, rev: Int): TableDef =
    TableDef(name, ns, metadataLocation = s"data/$ns/$name/meta/$rev.json",
      properties = Map("rev" -> rev.toString))

  def sameDef(a: TableDef, b: TableDef): Boolean =
    a.name == b.name && a.namespaceName == b.namespaceName &&
      a.metadataLocation == b.metadataLocation && a.properties == b.properties

  /** Model of a seeded catalog: tables are numbered in key order, table
    * i lives in namespace i / perNs and was created at `created(i)`;
    * `revs(i)` lists (version, rev) pairs, oldest first.
    */
  final class Model(val nss: Int, val tables: Int) {
    val perNs: Int = (tables + nss - 1) / nss
    val created = new Array[Long](tables)
    val revs: Array[List[(Long, Int)]] = Array.fill(tables)(Nil)
    var versions: Long = 0L

    def ns(i: Int): String = nsName(i / perNs)
    def revAt(i: Int, v: Long): Int = revs(i).filter(_._1 <= v).last._2
    def latestRev(i: Int): Int = revs(i).last._2
    /** Table indices of one namespace, in key order. */
    def byNs(n: Int): Range = n * perNs until math.min((n + 1) * perNs, tables)
  }

  /** Run `f` in one transaction and commit it. */
  def inTxn[T](storage: StorageOps)(f: Transaction => T): T = {
    val txn = Graft.beginTransaction(storage)
    try { val r = f(txn); Graft.commitTransaction(storage, txn); r }
    finally txn.close()
  }

  /** Build a catalog of `tables` tables in `nss` namespaces: version 1
    * creates the namespaces, versions 2..`versions` each create the next
    * equal share of the tables in key order and re-define
    * `altersPerVersion` earlier tables (seeded), so older versions really
    * differ from the latest.
    */
  def build(storage: StorageOps, nss: Int, tables: Int, versions: Int,
      altersPerVersion: Int, rng: java.util.Random): Model = {
    val m = new Model(nss, tables)
    Graft.createCatalog(storage, CatalogDef())
    inTxn(storage)(txn => (0 until nss).foreach(n =>
      Graft.createNamespace(storage, txn, NamespaceDef(nsName(n)))))
    val perVersion = math.max(1, tables / (versions - 1))
    var next = 0
    var v = 2L
    while (next < tables) {
      val upto = if (v >= versions) tables else math.min(tables, next + perVersion)
      val existing = next
      inTxn(storage) { txn =>
        (next until upto).foreach { i =>
          Graft.createTable(storage, txn, tableDef(m.ns(i), tableName(i), 0))
          m.created(i) = v
          m.revs(i) = List((v, 0))
        }
        if (existing > 0) {
          val touched = mutable.LinkedHashSet.empty[Int]
          while (touched.size < math.min(altersPerVersion, existing))
            touched += rng.nextInt(existing)
          touched.foreach { i =>
            val rev = m.latestRev(i) + 1
            Graft.alterTable(storage, txn, tableDef(m.ns(i), tableName(i), rev))
            m.revs(i) = m.revs(i) :+ ((v, rev))
          }
        }
      }
      next = upto
      v += 1
    }
    m.versions = v - 1
    require(TreeOps.latestVersion(storage).contains(m.versions),
      s"catalog build ended at ${TreeOps.latestVersion(storage)}, model ${m.versions}")
    m
  }

  /** Levels from the latest root to a leaf, following leftmost children. */
  def depth(storage: StorageOps): Int = {
    val root = TreeOps.findLatestRoot(storage).get
    try {
      var d = 1
      var next = root.node.leftmostChildPath
      while (next.exists(_.nonEmpty)) {
        val n = TreeOps.loadNode(storage, next.get)
        try { d += 1; next = n.leftmostChildPath } finally n.close()
      }
      d
    } finally root.close()
  }

  def dirBytes(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def deleteDir(dir: Path): Unit =
    if (Files.exists(dir)) {
      val s = Files.walk(dir)
      try s.sorted(java.util.Comparator.reverseOrder()).iterator().asScala
        .foreach(p => Files.deleteIfExists(p))
      finally s.close()
    }

  /** Zipf(θ) sampler over ranks 0..n-1 by inverse CDF. */
  final class Zipf(n: Int, theta: Double) {
    private val cdf: Array[Double] = {
      val a = new Array[Double](n)
      var acc = 0.0
      var i = 0
      while (i < n) { acc += 1.0 / math.pow(i + 1, theta); a(i) = acc; i += 1 }
      a.map(_ / acc)
    }
    def next(rng: java.util.Random): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** Run `clients` closed-loop client threads for `seconds`; each calls
    * `op(client, rng)` until time is up. Returns the start (ns).
    */
  def closedLoop(clients: Int, seconds: Double, seed: Long)(
      op: (Int, java.util.Random) => Unit): Long = {
    val deadline = new java.util.concurrent.atomic.AtomicLong()
    val start = new java.util.concurrent.CountDownLatch(1)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until clients).map { c =>
      val t = new Thread(() => {
        val rng = new java.util.Random(seed * 7919L + c)
        start.await()
        try while (System.nanoTime() < deadline.get()) op(c, rng)
        catch { case e: Throwable => errors.add(e) }
      }, s"perfbench-client-$c")
      t.start(); t
    }
    val t0 = System.nanoTime()
    deadline.set(t0 + (seconds * 1e9).toLong)
    start.countDown()
    threads.foreach(_.join())
    if (!errors.isEmpty) throw errors.peek()
    t0
  }

  /** Measured windows per run for the windowed throughput and median. */
  val Windows = 10

  /** Flush dirty file data (sync(1)) so every measured phase starts with
    * the same file-system state: set-up leaves tens of thousands of new
    * files whose write-back otherwise slows file creation for a while.
    */
  def syncDisk(): Unit = {
    val p = new ProcessBuilder("sync").inheritIO().start()
    p.waitFor()
  }

  /** Set up `rounds` times and return (median seconds, last set-up);
    * `discard` releases each earlier set-up, untimed. Dirty file data is
    * flushed before each round, so no round pays for the write-back of
    * the one before it. Every round's time goes into the report.
    */
  def timedSetup[T](r: Result, rounds: Int)(f: Int => T)(discard: T => Unit): (Double, T) = {
    var last: Option[T] = None
    val secs = (0 until rounds).map { r =>
      last.foreach(discard)
      syncDisk()
      val t0 = System.nanoTime()
      last = Some(f(r))
      (System.nanoTime() - t0) / 1e9
    }
    r.detail("setup_rounds_s") = secs
    (Stats.median(secs), last.get)
  }

  /** Build a fresh catalog under `dir` through the store `open` returns
    * for it (graft's own [[StorageOps]]).
    */
  def buildAt(dir: Path, open: Path => StorageOps, nss: Int, tables: Int, versions: Int,
      alters: Int, seed: Long): Model = {
    deleteDir(dir)
    Files.createDirectories(dir)
    build(open(dir), nss, tables, versions, alters, new java.util.Random(seed))
  }
}
