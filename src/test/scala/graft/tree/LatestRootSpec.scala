package graft.tree

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.catalog.Graft
import graft.objects.{CatalogDef, FileLocations, NamespaceDef, TableDef}
import graft.storage.{DirectoryObjectStoreClient, LocalStorageOps, ObjectStoreOps, StorageConf, StorageOps}
import graft.txn.Transaction
import org.scalatest.funsuite.AnyFunSuite

/** Records every `read` and `exists` key, then delegates. As a
  * [[StorageOps]] it has its own latest-root slot, like any decorator.
  */
private class RecordingOps(inner: StorageOps) extends StorageOps {
  val reads = new ConcurrentLinkedQueue[String]()
  val probes = new ConcurrentLinkedQueue[String]()
  def reset(): Unit = { reads.clear(); probes.clear() }
  def rootReads: Seq[String] = reads.asScala.filter(FileLocations.isRootNodePath).toSeq
  def rootProbes: Seq[String] = probes.asScala.filter(FileLocations.isRootNodePath).toSeq

  override def root: String = inner.root
  override def exists(rel: String): Boolean = { probes.add(rel); inner.exists(rel) }
  override def read(rel: String): Array[Byte] = { reads.add(rel); inner.read(rel) }
  override def sizeOf(rel: String): Long = inner.sizeOf(rel)
  override def prepareToReadLocal(rel: String): Path = inner.prepareToReadLocal(rel)
  override def reopenConf: StorageConf = inner.reopenConf
  override def writeAtomic(rel: String, data: Array[Byte]): Unit = inner.writeAtomic(rel, data)
  override def overwrite(rel: String, data: Array[Byte]): Unit = inner.overwrite(rel, data)
  override def deleteBatch(rels: Seq[String]): Unit = inner.deleteBatch(rels)
  override def listPrefix(prefix: String): Seq[String] = inner.listPrefix(prefix)
  override def listDeep(prefix: String): Seq[String] = inner.listDeep(prefix)
  override def move(srcRel: String, dstRel: String): Unit = inner.move(srcRel, dstRel)
  override def deleteTree(prefix: String): Unit = inner.deleteTree(prefix)
  override def absolute(rel: String): String = inner.absolute(rel)
}

/** The per-handle latest-root slot ([[StorageOps.latestRoot]]): a begin
  * on an unchanged catalog costs the `vn/latest` hint plus two probes
  * and reads no root file, while every change to the catalog is still
  * seen. Each test runs over both backends.
  */
class LatestRootSpec extends AnyFunSuite {

  /** name -> a new handle over a catalog directory; called twice on one
    * directory it gives two handles ("two processes") over one catalog.
    */
  private val backends: Seq[(String, Path => StorageOps)] = Seq(
    "local" -> (d => new LocalStorageOps(d.toString)),
    "object store" -> (d => new ObjectStoreOps(new DirectoryObjectStoreClient(d.toString))))

  private def wipe(dir: Path): Unit =
    Files.walk(dir).sorted(java.util.Comparator.reverseOrder()).iterator().asScala
      .foreach(Files.delete(_))

  private def inTxn[T](s: StorageOps)(f: Transaction => T): T = {
    val txn = Graft.beginTransaction(s)
    try {
      val out = f(txn)
      Graft.commitTransaction(s, txn)
      out
    } finally txn.close()
  }

  private def addTable(s: StorageOps, name: String, meta: String): Unit =
    inTxn(s) { t =>
      if (!Graft.namespaceExists(s, t, "ns")) Graft.createNamespace(s, t, NamespaceDef("ns"))
      Graft.createTable(s, t, TableDef(name, "ns", metadataLocation = meta))
    }

  private def describe(s: StorageOps, name: String): Option[String] =
    inTxn(s)(t =>
      if (Graft.tableExists(s, t, "ns", name))
        Some(Graft.describeTable(s, t, "ns", name).metadataLocation)
      else None)

  private def slotPath(s: StorageOps): Option[String] = Option(s.latestRoot.get).map(_._1)

  backends.foreach { case (backend, open) =>
    def fresh(): (Path, RecordingOps) = {
      val dir = Files.createTempDirectory("graft-latest-root")
      val s = new RecordingOps(open(dir))
      Graft.createCatalog(s, CatalogDef())
      (dir, s)
    }

    test(s"$backend: a second begin on an unchanged catalog reads no root file") {
      val (_, s) = fresh()
      addTable(s, "a", "ma")
      assert(describe(s, "a").contains("ma"))
      s.reset()
      val txn = Graft.beginTransaction(s)
      try {
        assert(s.rootReads.isEmpty, s.rootReads)
        // the hint plus exists(v) and exists(v + 1)
        assert(s.reads.asScala.count(_ == FileLocations.LatestVersionHint) == 1)
        assert(s.rootProbes ==
          Seq(FileLocations.rootNodePath(1L), FileLocations.rootNodePath(2L)))
        // snapshot and running roots are two trees over the slot's file
        val file = txn.beginningRoot.node.persisted.get
        assert(file eq txn.runningRoot.node.persisted.get)
        assert(file eq s.latestRoot.get._2)
        assert(txn.beginningRoot.node ne txn.runningRoot.node)
        assert(Graft.describeTable(s, txn, "ns", "a").metadataLocation == "ma")
      } finally txn.close()
      // the catalog def is parsed once per transaction
      assert(s.reads.asScala.count(_.startsWith("def/catalog/")) == 1)
    }

    test(s"$backend: a commit through another handle is seen through the first") {
      val (dir, a) = fresh()
      addTable(a, "t", "m1")
      assert(describe(a, "t").contains("m1"))
      val b = open(dir)
      inTxn(b)(t => Graft.alterTable(b, t, TableDef("t", "ns", metadataLocation = "m2")))
      addTable(b, "u", "mu")
      a.reset()
      assert(describe(a, "t").contains("m2"))
      assert(describe(a, "u").contains("mu"))
      // the new latest root was read once, then served from the slot
      assert(a.rootReads == Seq(FileLocations.rootNodePath(3L)))
      assert(slotPath(a).contains(FileLocations.rootNodePath(3L)))
    }

    test(s"$backend: time-travel reads do not evict the slot") {
      val (_, s) = fresh()
      (1 to 4).foreach(i => addTable(s, s"t$i", s"m$i"))
      val latest = TreeOps.findLatestRoot(s).get
      val latestPath = FileLocations.rootNodePath(4L)
      assert(slotPath(s).contains(latestPath))
      val v2 = TreeOps.findRootForVersion(s, latest, 2L)
      val asOf = new Transaction("as-of", "SNAPSHOT", v2, v2, 0L, Long.MaxValue)
      assert(Graft.describeTable(s, asOf, "ns", "t2").metadataLocation == "m2")
      assert(!Graft.tableExists(s, asOf, "ns", "t3"))
      assert(TreeOps.listRoots(s, latest).map(_.version).toSeq == Seq(4L, 3L, 2L, 1L, 0L))
      assert(TreeOps.collectRootsWhile(s, latest)(_ => true)(_.version) ==
        Seq(4L, 3L, 2L, 1L, 0L))
      assert(TreeOps.findRootBeforeTimestamp(s, latest, v2.createdAtMillis).version >= 2L)
      assert(slotPath(s).contains(latestPath))
      s.reset()
      assert(describe(s, "t4").contains("m4"))
      assert(s.rootReads.isEmpty, s.rootReads)
    }

    test(s"$backend: a distributed transaction's root is never slotted") {
      val (_, s) = fresh()
      addTable(s, "a", "ma")
      val txn = Graft.beginTransaction(s)
      Graft.createTable(s, txn, TableDef("b", "ns", metadataLocation = "mb"))
      Graft.saveDistTransaction(s, txn)
      txn.close()
      assert(s.latestRoot.get == null, "writeRootAt clears the slot")
      assert(describe(s, "b").isEmpty)
      assert(slotPath(s).contains(FileLocations.rootNodePath(1L)))
      val resumed = Graft.loadDistTransaction(s, txn.id)
      assert(slotPath(s).contains(FileLocations.rootNodePath(1L)))
      try Graft.commitTransaction(s, resumed) finally resumed.close()
      assert(describe(s, "b").contains("mb"))
      assert(describe(s, "a").contains("ma"))
      assert(slotPath(s).contains(FileLocations.rootNodePath(2L)))
    }

    test(s"$backend: createCatalog after deleting the directory sees the new catalog") {
      val (dir, s) = fresh()
      def ttl(): Long = {
        val txn = Graft.beginTransaction(s)
        try Graft.catalogDef(s, txn.beginningRoot).txnTtlMillis finally txn.close()
      }
      val oldTtl = ttl()
      assert(slotPath(s).contains(FileLocations.rootNodePath(0L)))
      wipe(dir)
      Files.createDirectories(dir)
      Graft.createCatalog(s, CatalogDef(txnTtlMillis = oldTtl + 1))
      assert(s.latestRoot.get == null, "createCatalog clears the slot")
      // the next begin finds the name the old slot held, vn/0, and must
      // read the new catalog's root, not reuse the old one
      assert(ttl() == oldTtl + 1)
      addTable(s, "t", "m-new")
      assert(describe(s, "t").contains("m-new"))
    }
  }
}
