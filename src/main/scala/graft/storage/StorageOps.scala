package graft.storage

/** Storage contract for the catalog tree (reference:
  * core/src/main/java/org/format/olympia/storage/StorageOps.java:24-45 and
  * CatalogStorage.java:29-73). Paths are RELATIVE to the catalog root
  * prefix so a catalog is portable across storage locations
  * (docs/index.md:24-26).
  *
  * The one primitive everything rests on is `writeAtomic`: mutual
  * exclusion on create. Commit races are decided by who creates the
  * next root-version file first — no server, no locks
  * (docs/format.md:230-246).
  */
trait StorageOps {
  /** Catalog root prefix (absolute). */
  def root: String

  /** The latest root this handle has decoded: its `vn/<bits>` path and
    * file, or null. Filled only by [[graft.tree.TreeOps.findLatestRoot]]
    * and cleared by every root write through this handle
    * (`TreeOps.writeRoot`, so `Graft.createCatalog` too, and
    * `TreeOps.writeRootAt`). A root file is created once and never
    * rewritten (docs/format.md:230-246), so a slot whose path equals the
    * latest version the probes found holds that version without a
    * re-read. One slot per handle, never a global map: a catalog deleted
    * and re-created under the same location by another process repeats
    * the `vn/<bits>` names, so it needs fresh handles.
    */
  private[graft] final val latestRoot =
    new java.util.concurrent.atomic.AtomicReference[(String, graft.tree.NodeFile)]()

  def exists(rel: String): Boolean

  def read(rel: String): Array[Byte]

  /** Object size in bytes without fetching content (S3: HEAD
    * Content-Length; filesystem: stat).
    */
  def sizeOf(rel: String): Long

  /** A LOCAL file holding the object's current content — filesystems
    * return the file itself; remote stores download through their
    * etag-validated read cache (reference `prepareToReadLocal`,
    * S3StorageOps.java:111-135). A cached write-once key
    * ([[graft.objects.FileLocations.isWriteOnce]]) is served without
    * revalidation: its name is created once and never rewritten, so
    * the cached bytes cannot be stale. Use `exists` to learn whether
    * such an object is still there; it always asks the store. This is
    * the only sanctioned way to hand an object to a local-file reader
    * (e.g. a parquet footer parse at commit time).
    */
  def prepareToReadLocal(rel: String): java.nio.file.Path

  /** Serializable descriptor a Spark task can reopen this storage
    * from; `reopenable == false` (e.g. the in-memory test store)
    * means callers must stay driver-side on the live instance.
    */
  def reopenConf: StorageConf

  /** One-level "directory" listing under `prefix` — the common
    * prefixes an S3 LIST with `delimiter=/` would return (relative,
    * no trailing slash). Drives prefix-parallel fan-out (distributed
    * orphan scans) without a full recursive listing on the driver.
    * Backends override with a native delimiter listing; this default
    * derives from `listDeep` for stores that have nothing better.
    */
  def listCommonPrefixes(prefix: String): Seq[String] = {
    val p = if (prefix.isEmpty || prefix.endsWith("/")) prefix
      else prefix + "/"
    listDeep(prefix).flatMap { k =>
      val rest = k.drop(p.length)
      val i = rest.indexOf('/')
      if (i < 0) None else Some(p + rest.substring(0, i))
    }.distinct.sorted
  }

  /** Create-if-absent; throws [[AtomicSealFailureException]] when the
    * target already exists. MUST be atomic: concurrent writers see
    * exactly one winner.
    */
  def writeAtomic(rel: String, data: Array[Byte]): Unit

  /** Best-effort overwrite (used for the `vn/latest` hint only). */
  def overwrite(rel: String, data: Array[Byte]): Unit

  def deleteBatch(rels: Seq[String]): Unit

  /** Relative paths under `prefix`, non-recursive semantics like a flat
    * object store listing.
    */
  def listPrefix(prefix: String): Seq[String]

  /** ALL file paths under `prefix`, recursive — an object store's
    * natural no-delimiter LIST; directories walk on a filesystem.
    */
  def listDeep(prefix: String): Seq[String]

  /** Move one object to a new key. Filesystems rename; object stores
    * have no rename primitive, so they copy server-side then delete
    * (the reference's S3 ops never rename either — commit layouts are
    * arranged so moves stay off the hot path).
    */
  def move(srcRel: String, dstRel: String): Unit

  /** Remove every object under `prefix` (staging cleanup). */
  def deleteTree(prefix: String): Unit

  def absolute(rel: String): String
}

/** Another writer created the target first — the commit lost the race
  * (reference: StorageAtomicSealFailureException).
  */
class AtomicSealFailureException(path: String, cause: Throwable = null)
    extends RuntimeException(s"atomic create lost: $path", cause)
