package graft.catalog

import java.nio.file.Files
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import graft.objects.{CatalogDef, NamespaceDef, TableDef}
import graft.storage.{DirectoryObjectStoreClient, LocalStorageOps, ObjectStoreOps, StorageOps}
import graft.tree.TreeOps
import graft.txn.Transaction
import org.scalatest.funsuite.AnyFunSuite

/** Transactions begun through one handle share the decoded latest root
  * file ([[StorageOps.latestRoot]]): staged writes must stay private to
  * the transaction that made them, and concurrent readers must see
  * each committed version whole.
  */
class SharedRootSpec extends AnyFunSuite {

  private val backends: Seq[(String, () => StorageOps)] = Seq(
    "local" -> (() => new LocalStorageOps(
      Files.createTempDirectory("graft-shared-root").toString)),
    "object store" -> (() => new ObjectStoreOps(new DirectoryObjectStoreClient(
      Files.createTempDirectory("graft-shared-root").toString))))

  private def tableNames(s: StorageOps, txn: Transaction): Seq[String] =
    Graft.showTables(s, txn, "ns")

  /** The snapshot root as a transaction of its own, to read it through
    * the `Graft` facade.
    */
  private def snapshotOf(txn: Transaction): Transaction =
    new Transaction("snapshot", txn.isolationLevel, txn.beginningRoot,
      txn.beginningRoot, 0L, Long.MaxValue)

  backends.foreach { case (backend, open) =>
    test(s"$backend: staged writes stay out of the snapshot and other transactions") {
      val s = open()
      Graft.createCatalog(s, CatalogDef())
      val setup = Graft.beginTransaction(s)
      Graft.createNamespace(s, setup, NamespaceDef("ns"))
      Graft.createTable(s, setup, TableDef("base", "ns", metadataLocation = "m-base"))
      Graft.commitTransaction(s, setup)
      setup.close()

      val a = Graft.beginTransaction(s)
      val b = Graft.beginTransaction(s)
      val file = a.beginningRoot.node.persisted.get
      assert(b.runningRoot.node.persisted.get eq file)
      val rowsBefore = file.rowCount
      // enough keys to split the running root (order 128): the split
      // drops the running node's file, never the shared one
      val names = (0 until 200).map(i => f"a$i%03d")
      names.foreach(n => Graft.createTable(s, a, TableDef(n, "ns", metadataLocation = s"m-$n")))
      assert(a.runningRoot.node.persisted.isEmpty, "the running root split")
      // the transaction reads its own writes through the unwritten split
      assert(tableNames(s, a) == ("base" +: names).sorted)
      assert(Graft.showTablesPage(s, a, "ns", Some("a099"), 50) ==
        ((100 until 150).map(i => f"a$i%03d"), true))
      assert(tableNames(s, snapshotOf(a)) == Seq("base"))
      assert(tableNames(s, b) == Seq("base"))
      assert(b.runningRoot.node.persisted.get eq file)
      assert(file.rowCount == rowsBefore)
      assert(!Graft.tableExists(s, b, "ns", "a000"))

      Graft.createTable(s, b, TableDef("b", "ns", metadataLocation = "m-b"))
      assert(!Graft.tableExists(s, a, "ns", "b"))
      Graft.commitTransaction(s, a)
      a.close()
      // b still reads its own snapshot, then rebases over a's commit
      assert(tableNames(s, snapshotOf(b)) == Seq("base"))
      assert(tableNames(s, b) == Seq("b", "base"))
      Graft.commitTransaction(s, b)
      b.close()

      val c = Graft.beginTransaction(s)
      try {
        assert(c.beginningRoot.version == 3L)
        assert(tableNames(s, c) == ("b" +: "base" +: names).sorted)
        assert(Graft.describeTable(s, c, "ns", "a199").metadataLocation == "m-a199")
        assert(Graft.describeTable(s, c, "ns", "b").metadataLocation == "m-b")
      } finally c.close()
    }

    test(s"$backend: readers sharing a handle with a writer see whole versions in order") {
      val s = open()
      Graft.createCatalog(s, CatalogDef())
      val setup = Graft.beginTransaction(s)
      Graft.createNamespace(s, setup, NamespaceDef("ns"))
      Graft.createTable(s, setup, TableDef("t", "ns", metadataLocation = "m-1"))
      Graft.commitTransaction(s, setup)
      setup.close()
      // the model: version v holds t at "m-v"
      val lastVersion = 51L
      val errors = new ConcurrentLinkedQueue[String]()
      val done = new AtomicBoolean(false)
      val start = new CountDownLatch(1)
      val pool = Executors.newFixedThreadPool(4)
      val seen = (0 until 4).map(_ => new ConcurrentLinkedQueue[java.lang.Long]())
      try {
        seen.foreach { versions =>
          pool.execute { () =>
            start.await()
            var last = -1L
            while (!done.get() && errors.isEmpty) {
              val txn = Graft.beginTransaction(s)
              try {
                val v = txn.beginningRoot.version
                val got = Graft.describeTable(s, txn, "ns", "t").metadataLocation
                if (v < last) errors.add(s"version went back from $last to $v")
                if (got != s"m-$v") errors.add(s"version $v read $got")
                last = v
                versions.add(v)
                Graft.commitTransaction(s, txn)
              } catch {
                case e: Throwable => errors.add(e.toString)
              } finally txn.close()
            }
          }
        }
        start.countDown()
        for (v <- 2L to lastVersion) {
          val w = Graft.beginTransaction(s)
          try {
            Graft.alterTable(s, w, TableDef("t", "ns", metadataLocation = s"m-$v"))
            assert(Graft.commitTransaction(s, w).version == v)
          } finally w.close()
        }
        done.set(true)
        pool.shutdown()
        assert(pool.awaitTermination(60, TimeUnit.SECONDS))
      } finally {
        done.set(true)
        pool.shutdownNow()
      }
      assert(errors.isEmpty, errors.asScala.take(5).mkString("; "))
      seen.foreach(vs => assert(!vs.isEmpty))
      assert(TreeOps.latestVersion(s).contains(lastVersion))
    }
  }
}
