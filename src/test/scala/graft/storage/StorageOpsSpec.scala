package graft.storage

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import graft.catalog.Graft
import graft.maintain.Maintenance
import graft.objects.{FileLocations, NamespaceDef}
import graft.tree.TreeOps
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.funsuite.AnyFunSuite

/** Port of the reference's abstract StorageOpsTests (32-184), bound
  * to every backend (mirrors TestS3StorageOlympiaTests.java's
  * abstract-suite pattern).
  */
abstract class StorageOpsContract extends AnyFunSuite {

  protected def fresh(): StorageOps

  test("write/read/exists round-trip") {
    val s = fresh()
    assert(!s.exists("a/b.txt"))
    s.writeAtomic("a/b.txt", "hello".getBytes)
    assert(s.exists("a/b.txt"))
    assert(new String(s.read("a/b.txt")) == "hello")
  }

  test("writeAtomic refuses to overwrite; overwrite replaces") {
    val s = fresh()
    s.writeAtomic("x", "1".getBytes)
    intercept[AtomicSealFailureException](s.writeAtomic("x", "2".getBytes))
    assert(new String(s.read("x")) == "1")
    s.overwrite("x", "2".getBytes)
    assert(new String(s.read("x")) == "2")
  }

  test("overwrite is atomic vs concurrent readers: old or new bytes, never absent") {
    // Regression: the local backend's overwrite used unlink-then-rename
    // (JDK move semantics without ATOMIC_MOVE), so a reader polling the
    // `vn/latest` hint — e.g. a streaming source's latestOffset — could
    // hit NoSuchFileException in the unlink window. Hammer one writer
    // flipping the value against readers; every read must succeed and
    // see a complete former or current value.
    val s = fresh()
    s.writeAtomic("hint/latest", "0".getBytes)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val bad = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val pool = Executors.newFixedThreadPool(4)
    (1 to 3).foreach { _ =>
      pool.submit(new Runnable {
        def run(): Unit =
          while (!stop.get()) {
            try {
              val v = new String(s.read("hint/latest")).toLong
              assert(v >= 0)
            } catch { case t: Throwable => bad.add(t); stop.set(true) }
          }
      })
    }
    (1L to 2000L).foreach(i => s.overwrite("hint/latest", i.toString.getBytes))
    stop.set(true)
    pool.shutdown()
    assert(pool.awaitTermination(30, TimeUnit.SECONDS))
    assert(bad.isEmpty, s"reader failed during overwrite: ${bad.peek()}")
  }

  test("sizeOf reports byte length; prepareToReadLocal yields readable local file") {
    val s = fresh()
    val payload = Array.fill[Byte](1234)(7)
    s.writeAtomic("sz/x.bin", payload)
    assert(s.sizeOf("sz/x.bin") == 1234L)
    intercept[java.nio.file.NoSuchFileException](s.sizeOf("sz/missing"))
    val local = s.prepareToReadLocal("sz/x.bin")
    assert(java.nio.file.Files.readAllBytes(local).sameElements(payload))
  }

  test("deleteBatch removes present files, tolerates missing") {
    val s = fresh()
    s.writeAtomic("d/1", "a".getBytes)
    s.writeAtomic("d/2", "b".getBytes)
    s.deleteBatch(Seq("d/1", "d/2", "d/missing"))
    assert(!s.exists("d/1") && !s.exists("d/2"))
  }

  test("listPrefix: sorted relative paths, no staging artifacts") {
    val s = fresh()
    s.writeAtomic("p/b", "1".getBytes)
    s.writeAtomic("p/a", "2".getBytes)
    assert(s.listPrefix("p") == Seq("p/a", "p/b"))
    assert(s.listPrefix("nope").isEmpty)
  }

  test("contention: 16 racing creators of one key see exactly one winner") {
    val s = fresh()
    val n = 16
    val start = new CountDownLatch(1)
    val wins = new AtomicInteger(0)
    val losses = new AtomicInteger(0)
    val pool = Executors.newFixedThreadPool(n)
    try {
      for (i <- 0 until n) pool.execute { () =>
        start.await()
        try { s.writeAtomic("race/key", s"writer-$i".getBytes); wins.incrementAndGet() }
        catch { case _: AtomicSealFailureException => losses.incrementAndGet() }
      }
      start.countDown()
      pool.shutdown()
      assert(pool.awaitTermination(30, TimeUnit.SECONDS))
    } finally pool.shutdownNow()
    assert(wins.get() == 1, s"expected exactly one winner, got ${wins.get()}")
    assert(losses.get() == n - 1)
    // the surviving content is the winner's, intact
    assert(new String(s.read("race/key")).startsWith("writer-"))
  }
}

class LocalStorageOpsSpec extends StorageOpsContract {
  override protected def fresh(): StorageOps =
    new LocalStorageOps(Files.createTempDirectory("graft-sops").toString)
}

class InMemoryObjectStoreOpsSpec extends StorageOpsContract {
  override protected def fresh(): StorageOps =
    new ObjectStoreOps(new InMemoryObjectStoreClient)
}

class DirectoryObjectStoreOpsSpec extends StorageOpsContract {
  override protected def fresh(): StorageOps =
    new ObjectStoreOps(new DirectoryObjectStoreClient(
      Files.createTempDirectory("graft-osops").toString))
}

/** Client decorator counting the calls a store would bill. */
private class CountingClient(inner: ObjectStoreClient) extends ObjectStoreClient {
  val heads = new AtomicInteger(0)
  val sizes = new AtomicInteger(0)
  val gets = new AtomicInteger(0)
  def reset(): Unit = Seq(heads, sizes, gets).foreach(_.set(0))
  override def head(key: String) = { heads.incrementAndGet(); inner.head(key) }
  override def size(key: String) = { sizes.incrementAndGet(); inner.size(key) }
  override def get(key: String) = { gets.incrementAndGet(); inner.get(key) }
  override def putIfNoneMatch(key: String, data: Array[Byte]) =
    inner.putIfNoneMatch(key, data)
  override def put(key: String, data: Array[Byte]) = inner.put(key, data)
  override def delete(keys: Seq[String]) = inner.delete(keys)
  override def list(prefix: String) = inner.list(prefix)
  override def listDeep(prefix: String) = inner.listDeep(prefix)
  override def copy(srcKey: String, dstKey: String) = inner.copy(srcKey, dstKey)
  override def absolute(key: String) = inner.absolute(key)
}

/** Behaviors specific to the object-store backend: the read cache and
  * the two-handles-one-bucket topology.
  */
class ObjectStoreReadCacheSpec extends AnyFunSuite {

  private val writeOnceKeys = Seq(
    FileLocations.newNodePath(),
    FileLocations.newCatalogDefPath(),
    FileLocations.newNamespaceDefPath("ns"),
    FileLocations.newTableDefPath("ns", "t"),
    FileLocations.newViewDefPath("ns", "v"),
    FileLocations.rootNodePath(0L),
    FileLocations.rootNodePath(5L))

  private val mutableKeys = Seq(
    FileLocations.LatestVersionHint,
    FileLocations.OldestVersionHint,
    FileLocations.distTransactionDefPath("t1"),
    "def/dtxnroot/t1.arrow")

  test("read cache serves immutable objects without refetch, revalidates mutated ones") {
    val client = new InMemoryObjectStoreClient
    val counting = new CountingClient(client)
    val ops = new ObjectStoreOps(counting)
    ops.writeAtomic("node/a", "v1".getBytes)
    ops.writeAtomic(FileLocations.LatestVersionHint, "1".getBytes)
    // writeAtomic seeded the cache: reads hit local disk, zero GETs
    assert(new String(ops.read("node/a")) == "v1")
    assert(new String(ops.read("node/a")) == "v1")
    assert(new String(ops.read(FileLocations.LatestVersionHint)) == "1")
    assert(counting.gets.get() == 0)
    // a mutation BEHIND the ops handle (another process overwrote the
    // hint object) changes the etag — HEAD revalidation must refetch
    client.put(FileLocations.LatestVersionHint, "2".getBytes)
    assert(new String(ops.read(FileLocations.LatestVersionHint)) == "2")
    assert(counting.gets.get() == 1)
  }

  test("etag is the lowercase hex MD5 of the object") {
    val client = new InMemoryObjectStoreClient
    client.put("empty", Array.emptyByteArray)
    client.put("abc", "abc".getBytes("UTF-8"))
    assert(client.head("empty").contains("d41d8cd98f00b204e9800998ecf8427e"))
    assert(client.head("abc").contains("900150983cd24fb0d6963f7d28e17f72"))
  }

  test("write-once keys: once cached, a read costs no HEAD, size or GET") {
    writeOnceKeys.foreach(k => assert(FileLocations.isWriteOnce(k), k))
    mutableKeys.foreach(k => assert(!FileLocations.isWriteOnce(k), k))
    Seq("vn/0101", "data/ns/t/files/x.parquet", "node").foreach(k =>
      assert(!FileLocations.isWriteOnce(k), k))

    val client = new InMemoryObjectStoreClient
    val counting = new CountingClient(client)
    val a = new ObjectStoreOps(counting)
    val b = new ObjectStoreOps(client)
    // written by another handle: a's first read is a miss and fetches
    writeOnceKeys.foreach(k => b.writeAtomic(k, k.getBytes))
    writeOnceKeys.foreach(k => assert(new String(a.read(k)) == k))
    assert(counting.gets.get() == writeOnceKeys.size)
    counting.reset()
    (1 to 3).foreach(_ => writeOnceKeys.foreach { k =>
      assert(new String(a.read(k)) == k)
      assert(Files.exists(a.prepareToReadLocal(k)))
    })
    assert((counting.heads.get(), counting.sizes.get(), counting.gets.get()) ==
      ((0, 0, 0)))
  }

  test("mutable keys overwritten through another handle are read fresh") {
    val client = new InMemoryObjectStoreClient
    val a = new ObjectStoreOps(client)
    val b = new ObjectStoreOps(client)
    mutableKeys.foreach { k =>
      b.overwrite(k, s"$k@1".getBytes)
      assert(new String(a.read(k)) == s"$k@1")
      b.overwrite(k, s"$k@2".getBytes)
      assert(new String(a.read(k)) == s"$k@2", k)
    }
  }

  test("a write-once object deleted behind a handle stops existing for it") {
    val client = new InMemoryObjectStoreClient
    val a = new ObjectStoreOps(client)
    val b = new ObjectStoreOps(client)
    val node = FileLocations.newNodePath()
    a.writeAtomic(node, "n".getBytes)
    assert(new String(a.read(node)) == "n")
    b.deleteBatch(Seq(node))
    assert(!a.exists(node))
  }

  test("catalog versions expired through one handle: AS OF below the floor fails through another") {
    val dir = Files.createTempDirectory("graft-osexp").toString
    val cat = new graft.spark.GraftCatalog
    cat.initialize("c", new CaseInsensitiveStringMap(
      Map("warehouse" -> dir, "storage" -> "object").asJava))
    val b = cat.storage
    (1 to 5).foreach { i =>
      val txn = Graft.beginTransaction(b)
      Graft.createNamespace(b, txn, NamespaceDef(s"ns$i"))
      Graft.commitTransaction(b, txn)
    }
    val a = new ObjectStoreOps(new DirectoryObjectStoreClient(dir))
    val latest = TreeOps.findLatestRoot(a).get
    try {
      // handle a caches every root, so an expired one is still cached
      (0L until latest.version).foreach(v =>
        TreeOps.findRootForVersion(a, latest, v).close())
      def floorError(v: Long): String = intercept[IllegalArgumentException](
        TreeOps.findRootForVersion(a, latest, v)).getMessage
      Maintenance.expireCatalogVersions(cat, keepLast = 4)
      val floor1 = latest.version - 3
      assert(floorError(0L).contains(s"oldest retained: $floor1"))
      // a second expiry moves the floor: a's cached copy of the old
      // `vn/oldest` must not be served
      Maintenance.expireCatalogVersions(cat, keepLast = 2)
      val floor2 = latest.version - 1
      assert(floorError(floor1).contains(s"oldest retained: $floor2"))
      val retained = TreeOps.findRootForVersion(a, latest, floor2)
      try assert(retained.version == floor2) finally retained.close()
    } finally latest.close()
  }

  test("two handles over one store: second process reads the first's writes") {
    val client = new InMemoryObjectStoreClient
    val a = new ObjectStoreOps(client)
    val b = new ObjectStoreOps(client)
    a.writeAtomic("vn/v1", "root".getBytes)
    assert(b.exists("vn/v1"))
    assert(new String(b.read("vn/v1")) == "root")
    // and b loses the create race a already won
    intercept[AtomicSealFailureException](b.writeAtomic("vn/v1", "x".getBytes))
  }
}
