package graft.storage

import java.nio.charset.StandardCharsets
import java.nio.file.{FileAlreadyExistsException, Files, Path, Paths}
import java.security.MessageDigest
import java.util.HexFormat
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import scala.util.Using

import graft.objects.FileLocations

/** The narrow API a cloud object store actually offers (reference:
  * s3/src/main/java/org/format/olympia/storage/s3/S3StorageOps.java and
  * S3AtomicOutputStream.java:36-49): no rename, no directories, no
  * append — just GET / HEAD / PUT (optionally conditional on
  * `If-None-Match: *`) / DELETE / flat LIST. Everything
  * [[ObjectStoreOps]] builds for the catalog must reduce to these.
  *
  * `putIfNoneMatch` is the load-bearing call: the store decides
  * atomically, server-side, whether the key existed — that single
  * primitive gives the catalog mutual exclusion on root-version
  * creation with no lock service (docs/format.md:230-246).
  */
trait ObjectStoreClient {
  /** Content etag if the object exists (S3: HEAD). */
  def head(key: String): Option[String]

  /** Object size in bytes if it exists (S3: HEAD Content-Length). */
  def size(key: String): Option[Long]

  /** Object bytes + etag (S3: GET). */
  def get(key: String): Option[(Array[Byte], String)]

  /** Conditional create (`If-None-Match: *`): true = created, false =
    * precondition failed because the key already exists. MUST be
    * atomic under concurrent callers: exactly one winner.
    */
  def putIfNoneMatch(key: String, data: Array[Byte]): Boolean

  /** Unconditional PUT (last writer wins). */
  def put(key: String, data: Array[Byte]): Unit

  def delete(keys: Seq[String]): Unit

  /** Keys that start with `prefix` and contain no '/' after it —
    * S3 LIST with `delimiter=/`, i.e. one "directory" level.
    */
  def list(prefix: String): Seq[String]

  /** Every key starting with `prefix` — S3 LIST with no delimiter. */
  def listDeep(prefix: String): Seq[String]

  /** Server-side copy (S3 CopyObject) — bytes never transit the
    * client. The closest thing to rename an object store offers.
    */
  def copy(srcKey: String, dstKey: String): Unit

  /** An absolute location for handing to external readers/writers
    * (Spark parquet jobs). Only meaningful for stores that expose a
    * filesystem view; in-memory stores return an opaque URI.
    */
  def absolute(key: String): String
}

object ObjectStoreClient {
  private[storage] def md5(data: Array[Byte]): String =
    HexFormat.of().formatHex(MessageDigest.getInstance("MD5").digest(data))
}

/** Pure in-memory store: the semantics of S3 conditional PUT with
  * none of the filesystem. `putIfAbsent` on the ConcurrentHashMap IS
  * the server-side atomic existence check.
  */
class InMemoryObjectStoreClient extends ObjectStoreClient {
  private val objects = new ConcurrentHashMap[String, Array[Byte]]()

  override def head(key: String): Option[String] =
    Option(objects.get(key)).map(ObjectStoreClient.md5)

  override def size(key: String): Option[Long] =
    Option(objects.get(key)).map(_.length.toLong)

  override def get(key: String): Option[(Array[Byte], String)] =
    Option(objects.get(key)).map(b => (b.clone(), ObjectStoreClient.md5(b)))

  override def putIfNoneMatch(key: String, data: Array[Byte]): Boolean =
    objects.putIfAbsent(key, data.clone()) == null

  override def put(key: String, data: Array[Byte]): Unit =
    objects.put(key, data.clone())

  override def delete(keys: Seq[String]): Unit = keys.foreach(objects.remove)

  override def list(prefix: String): Seq[String] =
    objects.keySet().asScala.toSeq
      .filter(k => k.startsWith(prefix) && !k.drop(prefix.length).contains('/'))
      .sorted

  override def listDeep(prefix: String): Seq[String] =
    objects.keySet().asScala.toSeq.filter(_.startsWith(prefix)).sorted

  override def copy(srcKey: String, dstKey: String): Unit = {
    val b = objects.get(srcKey)
    require(b != null, s"copy source missing: $srcKey")
    objects.put(dstKey, b.clone())
  }

  override def absolute(key: String): String = s"mem://graft/$key"
}

/** Object-store semantics over a local directory, so Spark parquet
  * jobs can read/write table data through `absolute` while the
  * CATALOG traffic goes through the narrow client API. The
  * conditional PUT's server-side atomicity is simulated with a
  * same-filesystem link(2), which fails atomically when the target
  * exists.
  */
class DirectoryObjectStoreClient(val backingDir: String) extends ObjectStoreClient {
  private val dir: Path = Paths.get(backingDir)

  private def p(key: String): Path = dir.resolve(key)

  override def head(key: String): Option[String] = {
    val f = p(key)
    if (Files.isRegularFile(f)) Some(ObjectStoreClient.md5(Files.readAllBytes(f)))
    else None
  }

  override def size(key: String): Option[Long] = {
    val f = p(key)
    if (Files.isRegularFile(f)) Some(Files.size(f)) else None
  }

  override def get(key: String): Option[(Array[Byte], String)] = {
    val f = p(key)
    if (!Files.isRegularFile(f)) None
    else {
      val b = Files.readAllBytes(f)
      Some((b, ObjectStoreClient.md5(b)))
    }
  }

  override def putIfNoneMatch(key: String, data: Array[Byte]): Boolean = {
    val target = p(key)
    Files.createDirectories(target.getParent)
    val staging = Files.createTempFile(target.getParent, ".staging-", ".tmp")
    try {
      Files.write(staging, data)
      try { Files.createLink(target, staging); true }
      catch { case _: FileAlreadyExistsException => false }
    } finally Files.deleteIfExists(staging)
  }

  override def put(key: String, data: Array[Byte]): Unit = {
    val target = p(key)
    Files.createDirectories(target.getParent)
    val staging = Files.createTempFile(target.getParent, ".staging-", ".tmp")
    try {
      Files.write(staging, data)
      // ATOMIC_MOVE = rename(2): an S3 PUT replaces the object
      // atomically, so the directory emulation must too — without it
      // the JDK unlinks the target before renaming and concurrent GETs
      // of a hot key (the `vn/latest` hint) see NoSuchFileException
      Files.move(staging, target,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } finally Files.deleteIfExists(staging)
  }

  override def delete(keys: Seq[String]): Unit =
    keys.foreach(k => Files.deleteIfExists(p(k)))

  override def list(prefix: String): Seq[String] = {
    val d = p(prefix)
    if (!Files.isDirectory(d)) Seq.empty
    else Using.resource(Files.list(d)) { stream =>
      stream.iterator().asScala
        .filter(Files.isRegularFile(_))
        .filterNot(_.getFileName.toString.startsWith(".staging-"))
        .map(f => dir.relativize(f).toString)
        .toSeq.sorted
    }
  }

  /** One-level subdirectory listing (the delimiter LIST's common
    * prefixes, answered natively by the filesystem).
    */
  def listDirectories(prefix: String): Seq[String] = {
    val d = p(prefix)
    if (!Files.isDirectory(d)) Seq.empty
    else Using.resource(Files.list(d)) { stream =>
      stream.iterator().asScala
        .filter(Files.isDirectory(_))
        .map(f => dir.relativize(f).toString)
        .toSeq.sorted
    }
  }

  override def listDeep(prefix: String): Seq[String] = {
    val d = p(prefix)
    if (!Files.isDirectory(d)) Seq.empty
    else Using.resource(Files.walk(d)) { stream =>
      stream.iterator().asScala
        .filter(Files.isRegularFile(_))
        .filterNot(_.getFileName.toString.startsWith(".staging-"))
        .map(f => dir.relativize(f).toString)
        .toSeq.sorted
    }
  }

  override def copy(srcKey: String, dstKey: String): Unit = {
    val dst = p(dstKey)
    Files.createDirectories(dst.getParent)
    Files.copy(p(srcKey), dst,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  override def absolute(key: String): String = p(key).toString
}

/** [[StorageOps]] over an object store (reference:
  * s3/src/main/java/org/format/olympia/storage/s3/S3StorageOps.java).
  *
  * - `writeAtomic` IS a conditional PUT — no staging file, no rename;
  *   losing the race surfaces as the store's precondition failure.
  * - `read` goes through a local read cache keyed by etag (reference
  *   `prepareToReadLocal`, S3StorageOps.java:111-135). Write-once keys
  *   ([[FileLocations.isWriteOnce]]: `node/`, `def/{catalog,ns,table,
  *   view}/`, the 64-bit `vn/<bits>` roots) get fresh names on every
  *   create and are never rewritten, so a cache hit on one skips the
  *   store entirely, no HEAD and no GET. Every other key (the `vn/latest`
  *   and `vn/oldest` hints, `def/dtxn/`, `def/dtxnroot/`, table files
  *   under `data/`) revalidates via HEAD and refetches on etag change.
  * - `exists` always asks the store (a size-only HEAD), so a
  *   write-once object deleted behind this handle (expiry, drop)
  *   stops existing at once even while its bytes stay cached.
  */
class ObjectStoreOps(val client: ObjectStoreClient) extends StorageOps {

  private val cacheDir: Path = Files.createTempDirectory("graft-oscache")
  private val cache = new ConcurrentHashMap[String, (String, Path)]()

  override def root: String = client.absolute("")

  // size, not head: on S3 both are one HEAD, but a store that computes
  // etags (the directory emulation hashes the whole object) answers a
  // size from metadata alone
  override def exists(rel: String): Boolean = client.size(rel).isDefined

  override def read(rel: String): Array[Byte] =
    Files.readAllBytes(prepareToReadLocal(rel))

  override def sizeOf(rel: String): Long =
    client.size(rel).getOrElse(
      throw new java.nio.file.NoSuchFileException(rel))

  override def reopenConf: StorageConf = client match {
    case d: DirectoryObjectStoreClient => StorageConf(d.backingDir, "object")
    case _ => StorageConf(root, StorageConf.Opaque)
  }

  /** Download-once: returns a local file holding the object's current
    * content. A cached write-once object ([[FileLocations.isWriteOnce]])
    * is returned as is; any other cached copy is revalidated against
    * the store's etag.
    */
  override def prepareToReadLocal(rel: String): Path = {
    val cached = Option(cache.get(rel)).filter(e => Files.exists(e._2))
    if (cached.isDefined && FileLocations.isWriteOnce(rel)) return cached.get._2
    val remoteTag = client.head(rel).getOrElse(
      throw new java.nio.file.NoSuchFileException(rel))
    cached match {
      case Some((tag, path)) if tag == remoteTag => path
      case _ =>
        val (bytes, tag) = client.get(rel).getOrElse(
          throw new java.nio.file.NoSuchFileException(rel))
        val local = Files.createTempFile(cacheDir, "obj-", ".bin")
        Files.write(local, bytes)
        cache.put(rel, (tag, local))
        local
    }
  }

  override def writeAtomic(rel: String, data: Array[Byte]): Unit = {
    if (!client.putIfNoneMatch(rel, data))
      throw new AtomicSealFailureException(rel)
    // seed the read cache: we hold the exact bytes the store accepted
    val local = Files.createTempFile(cacheDir, "obj-", ".bin")
    Files.write(local, data)
    cache.put(rel, (ObjectStoreClient.md5(data), local))
  }

  override def overwrite(rel: String, data: Array[Byte]): Unit = {
    client.put(rel, data)
    cache.remove(rel)
  }

  override def deleteBatch(rels: Seq[String]): Unit = {
    client.delete(rels)
    rels.foreach(cache.remove)
  }

  override def listPrefix(prefix: String): Seq[String] = {
    val p = if (prefix.endsWith("/")) prefix else prefix + "/"
    client.list(p)
  }

  override def listDeep(prefix: String): Seq[String] = {
    val p = if (prefix.endsWith("/")) prefix else prefix + "/"
    client.listDeep(p)
  }

  override def listCommonPrefixes(prefix: String): Seq[String] =
    client match {
      // a directory store answers the delimiter LIST natively — one
      // readdir instead of a recursive walk
      case d: DirectoryObjectStoreClient =>
        d.listDirectories(if (prefix.endsWith("/")) prefix else prefix + "/")
      case _ => super.listCommonPrefixes(prefix)
    }

  override def move(srcRel: String, dstRel: String): Unit = {
    client.copy(srcRel, dstRel)
    client.delete(Seq(srcRel))
    cache.remove(srcRel)
  }

  override def deleteTree(prefix: String): Unit = {
    val keys = listDeep(prefix)
    client.delete(keys)
    keys.foreach(cache.remove)
  }

  override def absolute(rel: String): String = client.absolute(rel)
}
