package graft.perfbench

import java.nio.file.Path

import graft.storage.{AtomicSealFailureException, ObjectStoreClient, StorageConf, StorageOps}

/** Path classes of the warehouse layout (graft.objects.FileLocations). */
object PathClass {
  def of(rel: String): String =
    if (rel.startsWith("vn/")) "root"
    else if (rel.startsWith("node/")) "node"
    else if (rel.startsWith("def/")) "def"
    else if (rel.startsWith("data/")) {
      if (rel.contains("/files/")) "data"
      else if (rel.contains("/manifests")) "manifest"
      else "meta"
    } else "other"
}

/** Counter keys are `<level>.<scope>.<kind>.<class>` (+ `.bytes`), where
  * level is `ops` (StorageOps calls) or `client` (object-store wire
  * calls), scope is the calling thread's operation class and kind one
  * of head, get, put, list, delete, copy.
  */
object StorageCount {
  def key(level: String, kind: String, cls: String): String =
    s"$level.${Trace.currentScope}.$kind.$cls"

  def timed[T](level: String, kind: String, rel: String, bytes: T => Long)(
      f: => T): T = {
    val cls = PathClass.of(rel)
    val k = key(level, kind, cls)
    Trace.add(k)
    val r = Trace.span(s"storage.$level.$kind")(f)
    val b = bytes(r)
    if (b > 0) Trace.add(k + ".bytes", b)
    r
  }

  def count(level: String, kind: String, rel: String)(f: => Unit): Unit =
    timed[Unit](level, kind, rel, _ => 0L)(f)

  /** Sum a counter family over every scope: `level.*.kind.cls(.bytes)`. */
  def total(level: String, kind: String, cls: String => Boolean,
      scope: String => Boolean = _ => true, bytes: Boolean = false): Long =
    Trace.sum { k =>
      val p = k.split('.')
      p.length == (if (bytes) 5 else 4) && p(0) == level && scope(p(1)) &&
        p(2) == kind && cls(p(3))
    }
}

/** Counting and timing decorator over any [[StorageOps]]. */
final class CountingStorageOps(val inner: StorageOps) extends StorageOps {
  import StorageCount._

  override def root: String = inner.root
  override def exists(rel: String): Boolean =
    timed[Boolean]("ops", "head", rel, _ => 0L)(inner.exists(rel))
  override def read(rel: String): Array[Byte] =
    timed[Array[Byte]]("ops", "get", rel, _.length.toLong)(inner.read(rel))
  override def sizeOf(rel: String): Long =
    timed[Long]("ops", "head", rel, _ => 0L)(inner.sizeOf(rel))
  override def prepareToReadLocal(rel: String): Path =
    timed[Path]("ops", "get", rel, _ => 0L)(inner.prepareToReadLocal(rel))
  /** Executors reopen the undecorated store: their calls are not counted. */
  override def reopenConf: StorageConf = inner.reopenConf
  override def listCommonPrefixes(prefix: String): Seq[String] =
    timed[Seq[String]]("ops", "list", prefix, _ => 0L)(
      inner.listCommonPrefixes(prefix))
  override def writeAtomic(rel: String, data: Array[Byte]): Unit = {
    val root = rel.startsWith("vn/")
    if (root) Trace.add(s"cas.${Trace.currentScope}.attempt")
    try timed[Unit]("ops", "put", rel, _ => data.length.toLong)(
      inner.writeAtomic(rel, data))
    catch {
      case e: AtomicSealFailureException =>
        if (root) Trace.add(s"cas.${Trace.currentScope}.lost")
        throw e
    }
  }
  override def overwrite(rel: String, data: Array[Byte]): Unit =
    timed[Unit]("ops", "put", rel, _ => data.length.toLong)(
      inner.overwrite(rel, data))
  override def deleteBatch(rels: Seq[String]): Unit =
    count("ops", "delete", rels.headOption.getOrElse(""))(inner.deleteBatch(rels))
  override def listPrefix(prefix: String): Seq[String] =
    timed[Seq[String]]("ops", "list", prefix, _ => 0L)(inner.listPrefix(prefix))
  override def listDeep(prefix: String): Seq[String] =
    timed[Seq[String]]("ops", "list", prefix, _ => 0L)(inner.listDeep(prefix))
  override def move(srcRel: String, dstRel: String): Unit =
    count("ops", "copy", dstRel)(inner.move(srcRel, dstRel))
  override def deleteTree(prefix: String): Unit =
    count("ops", "delete", prefix)(inner.deleteTree(prefix))
  override def absolute(rel: String): String = inner.absolute(rel)
}

/** Counting and timing decorator over an [[ObjectStoreClient]]: the
  * wire-level calls an object store would bill.
  */
final class CountingObjectStoreClient(inner: ObjectStoreClient)
    extends ObjectStoreClient {
  import StorageCount._

  override def head(key: String): Option[String] =
    timed[Option[String]]("client", "head", key, _ => 0L)(inner.head(key))
  override def size(key: String): Option[Long] =
    timed[Option[Long]]("client", "head", key, _ => 0L)(inner.size(key))
  override def get(key: String): Option[(Array[Byte], String)] =
    timed[Option[(Array[Byte], String)]]("client", "get", key,
      _.map(_._1.length.toLong).getOrElse(0L))(inner.get(key))
  override def putIfNoneMatch(key: String, data: Array[Byte]): Boolean =
    timed[Boolean]("client", "put", key, ok => if (ok) data.length.toLong else 0L)(
      inner.putIfNoneMatch(key, data))
  override def put(key: String, data: Array[Byte]): Unit =
    timed[Unit]("client", "put", key, _ => data.length.toLong)(inner.put(key, data))
  override def delete(keys: Seq[String]): Unit =
    count("client", "delete", keys.headOption.getOrElse(""))(inner.delete(keys))
  override def list(prefix: String): Seq[String] =
    timed[Seq[String]]("client", "list", prefix, _ => 0L)(inner.list(prefix))
  override def listDeep(prefix: String): Seq[String] =
    timed[Seq[String]]("client", "list", prefix, _ => 0L)(inner.listDeep(prefix))
  override def copy(srcKey: String, dstKey: String): Unit =
    count("client", "copy", dstKey)(inner.copy(srcKey, dstKey))
  override def absolute(key: String): String = inner.absolute(key)
}
