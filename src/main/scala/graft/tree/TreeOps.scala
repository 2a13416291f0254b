package graft.tree

import graft.objects.{CatalogDef, FileLocations}
import graft.storage.StorageOps

/** Root node = tree node + catalog-version metadata (reference
  * BasicTreeRoot.java:20-80). `actionsJson` is the committed txn's
  * action log, persisted IN the root file so a racing committer in a
  * different process can run conflict analysis (the reference spec
  * requires this, docs/format.md:186-190, but its implementation left
  * the write commented out — TreeOperations.java:299-303; graft fixes
  * it, SURVEY §4.3.1).
  */
final class TreeRoot(
    val node: TreeNode,
    var version: Long,
    var previousRootPath: Option[String],
    var rollbackFromRootPath: Option[String],
    val catalogDefPath: String,
    var createdAtMillis: Long,
    var actionsJson: String) {
  var path: Option[String] = None
  /** The parsed catalog def, memoized by `Graft.catalogDef`:
    * `catalogDefPath` never changes and def files are write-once.
    */
  var catalogDefMemo: Option[CatalogDef] = None

  /** Drop the tree's references ([[TreeNode.close]]); the root must not
    * be used afterwards.
    */
  def close(): Unit = node.close()
}

/** Tree algorithms (reference TreeOperations.java, ~1k LoC). All
  * driver-side; storage I/O is the only boundary crossed.
  */
object TreeOps {

  // ---- metadata keys ----
  private val MVersion = "version"
  private val MPreviousRoot = "previous_root"
  private val MRollbackFrom = "rollback_from_root"
  private val MCatalogDef = "catalog_def"
  private val MCreatedAt = "created_at_millis"
  private val MActions = "actions"
  private val MLeftmost = "leftmost_child"

  /** Write the empty v0 root (reference Olympia.createCatalog,
    * Olympia.java:53-63).
    */
  def createEmptyRoot(storage: StorageOps, catalogDefPath: String): TreeRoot = {
    val root = new TreeRoot(new TreeNode(None), 0L, None, None, catalogDefPath,
      System.currentTimeMillis(), "[]")
    writeRoot(storage, root, 0L)
    root
  }

  def loadNode(storage: StorageOps, path: String): TreeNode =
    nodeOf(new NodeFile(storage.read(path)))

  private def nodeOf(file: NodeFile): TreeNode = {
    val node = new TreeNode(Some(file))
    node.leftmostChildPath = file.metadata.get(MLeftmost)
    node
  }

  def loadRoot(storage: StorageOps, path: String): TreeRoot =
    openRoot(new NodeFile(storage.read(path)), path)

  /** A second, independent root over `root`'s persisted file: the
    * decoded file (and the memoized catalog def) are shared, staged
    * changes are not. `root` must be a loaded root with no staged
    * changes.
    */
  def forkRoot(root: TreeRoot): TreeRoot = {
    require(!root.node.dirty, "cannot fork a root with staged changes")
    val fork = openRoot(root.node.persisted.get, root.path.get)
    fork.catalogDefMemo = root.catalogDefMemo
    fork
  }

  private def openRoot(file: NodeFile, path: String): TreeRoot = {
    val md = file.metadata
    val root = new TreeRoot(
      nodeOf(file),
      md(MVersion).toLong,
      md.get(MPreviousRoot),
      md.get(MRollbackFrom),
      md(MCatalogDef),
      md(MCreatedAt).toLong,
      md.getOrElse(MActions, "[]"))
    root.path = Some(path)
    root
  }

  private def loadChild(storage: StorageOps, node: TreeNode,
      pivot: Option[String], path: String): TreeNode =
    node.loadedChildren.getOrElseUpdate(pivot, loadNode(storage, path))

  /** Root-to-leaf descent; per node, pending changes shadow persisted
    * slices (reference searchValue, TreeOperations.java:553-567).
    */
  def searchValue(storage: StorageOps, root: TreeRoot, key: String): Option[String] = {
    var node = root.node
    while (true) {
      node.lookup(key) match {
        case Some(row) => return row.value
        case None =>
          descendTarget(node, key) match {
            case Some((pivot, path)) => node = loadChild(storage, node, pivot, path)
            case None => return None
          }
      }
    }
    None
  }

  /** Which child covers `key` in this node, if any. */
  private def descendTarget(node: TreeNode, key: String): Option[(Option[String], String)] =
    node.floorChildRow(key) match {
      case Some(r) => Some((Some(r.key), r.child.get))
      case None => node.leftmostChildPath.map(p => (None, p))
    }

  /** Insert/update (value=Some) or tombstone (value=None) a key
    * (reference setValue + removeKey, TreeOperations.java:569-640).
    * Splits nodes that reach order-1 keys, recursively upward
    * (splitNode, TreeOperations.java:763-829).
    */
  def setValue(storage: StorageOps, root: TreeRoot, key: String,
      value: Option[String], order: Int): Unit = {
    // descend to the node owning the key, tracking the path
    var path = List((None: Option[String], root.node))
    var node = root.node
    var done = false
    while (!done) {
      if (node.lookup(key).isDefined) done = true
      else descendTarget(node, key) match {
        case Some((pivot, p)) =>
          node = loadChild(storage, node, pivot, p)
          path = (pivot, node) :: path
        case None => done = true
      }
    }
    val prevChild = node.lookup(key).flatMap(_.child)
    node.put(TreeRow(key, value, prevChild))
    path.foreach(_._2.dirty = true) // ancestors rewrite child pointers
    // bottom-up splits
    var chain = path
    while (chain.nonEmpty) {
      val (_, n) = chain.head
      val parent = chain.tail.headOption.map(_._2)
      if (n.numRows >= order - 1) splitNode(n, parent)
      chain = chain.tail
    }
  }

  /** Split `node` in half; the middle row's key/value move up as the
    * parent pivot, its child pointer becomes the right half's leftmost
    * child. `node` keeps its identity (the parent already references
    * it) and retains the left half; a fresh right node is linked via
    * the pivot. Root split: the root node keeps only the pivot and
    * both halves become children (TreeOperations.java:763-829).
    */
  private def splitNode(node: TreeNode, parent: Option[TreeNode]): Unit = {
    val rows = node.mergedRows
    val mid = rows.size / 2
    val pivot = rows(mid)

    val right = new TreeNode(None)
    rows.drop(mid + 1).foreach(r => right.pending.put(r.key, r))
    right.leftmostChildPath = pivot.child
    right.dirty = true

    // hand loaded children to the proper half
    val moved = node.loadedChildren.toMap
    node.loadedChildren.clear()
    moved.foreach {
      case (None, c) => node.loadedChildren.put(None, c)
      case (Some(k), c) if k < pivot.key => node.loadedChildren.put(Some(k), c)
      case (Some(k), c) if k == pivot.key => right.loadedChildren.put(None, c)
      case (Some(k), c) => right.loadedChildren.put(Some(k), c)
    }

    parent match {
      case Some(p) =>
        // node keeps the left half in-place
        val leftRows = rows.take(mid)
        node.persisted = None
        node.slices = Nil
        node.pending.clear()
        leftRows.foreach(r => node.pending.put(r.key, r))
        node.dirty = true
        p.put(TreeRow(pivot.key, pivot.value, Some(""))) // path set at write
        p.loadedChildren.put(Some(pivot.key), right)
        p.dirty = true
      case None =>
        // root: both halves become children of the (emptied) root node
        val left = new TreeNode(None)
        rows.take(mid).foreach(r => left.pending.put(r.key, r))
        left.leftmostChildPath = node.leftmostChildPath
        left.dirty = true
        // children previously handed to "node" belong to the left half
        val fromNode = node.loadedChildren.toMap
        node.loadedChildren.clear()
        fromNode.foreach { case (k, c) => left.loadedChildren.put(k, c) }
        node.persisted = None
        node.slices = Nil
        node.pending.clear()
        node.pending.put(pivot.key, TreeRow(pivot.key, pivot.value, Some("")))
        node.leftmostChildPath = Some("")
        node.loadedChildren.put(None, left)
        node.loadedChildren.put(Some(pivot.key), right)
        node.dirty = true
    }
  }

  /** Child-first recursive write; dirty children get fresh
    * `node/<uuid>.arrow` files and the parent's pointers are refreshed
    * before it serializes itself (reference serializeTreeNode,
    * TreeOperations.java:181-202). The root write at `vn/<version>` is
    * the atomic commit point.
    */
  def writeRoot(storage: StorageOps, root: TreeRoot, newVersion: Long): String = {
    val now = System.currentTimeMillis()
    val rootMeta = Map(
      MVersion -> newVersion.toString,
      MCatalogDef -> root.catalogDefPath,
      MCreatedAt -> now.toString,
      MActions -> root.actionsJson) ++
      root.previousRootPath.map(MPreviousRoot -> _).toMap ++
      root.rollbackFromRootPath.map(MRollbackFrom -> _).toMap
    val path = writeNode(storage, root.node, Some(newVersion), rootMeta)
    storage.latestRoot.set(null)
    root.version = newVersion
    root.createdAtMillis = now
    root.path = Some(path)
    // best-effort latest hint (TreeOperations.java:321-327)
    try storage.overwrite(FileLocations.LatestVersionHint,
      newVersion.toString.getBytes("UTF-8"))
    catch { case _: Throwable => () }
    path
  }

  /** Persist the running tree at an explicit, UNPUBLISHED path (used to
    * suspend a distributed transaction — the tree state must survive a
    * process switch without becoming a committed version).
    */
  def writeRootAt(storage: StorageOps, root: TreeRoot, path: String): Unit = {
    val rootMeta = Map(
      MVersion -> root.version.toString,
      MCatalogDef -> root.catalogDefPath,
      MCreatedAt -> root.createdAtMillis.toString,
      MActions -> root.actionsJson) ++
      root.previousRootPath.map(MPreviousRoot -> _).toMap ++
      root.rollbackFromRootPath.map(MRollbackFrom -> _).toMap
    // children first (same as a commit), then overwrite the dtxn root
    writeDirtyChildren(storage, root.node)
    val meta = rootMeta ++ root.node.leftmostChildPath.map(MLeftmost -> _).toMap
    storage.overwrite(path, NodeFile.writeRaw(root.node.mergedRawRows, meta))
    storage.latestRoot.set(null)
    root.node.dirty = false
    root.path = Some(path)
  }

  /** Daemon pool for fanning out non-root node writes. The pool
    * itself is cached (threads die after a commit burst), but LIVE
    * parallelism is bounded by [[nodeWritePermits]]: a parent blocked
    * in `get()` would otherwise keep its thread while its whole
    * subtree fans out, growing live threads toward the dirty-node
    * count on bulk commits. When no permit is available the caller
    * writes the child INLINE — always progress, never a
    * blocked-waiter cycle, at most `permits` extra threads.
    */
  private lazy val nodeWritePool =
    java.util.concurrent.Executors.newCachedThreadPool(r => {
      val t = new Thread(r, "graft-tree-node-write")
      t.setDaemon(true)
      t
    })
  private val nodeWritePermits = new java.util.concurrent.Semaphore(32)

  /** Write a node's dirty child SUBTREES — in parallel when there are
    * several (docs/format.md:262: non-root files carry no ordering
    * constraint; only the root write is the commit point). Subtrees
    * are disjoint, so child tasks never share mutable state; the
    * parent's pivot table is updated here, on the caller's thread,
    * after each child path materializes.
    */
  private def writeDirtyChildren(storage: StorageOps, node: TreeNode): Unit = {
    val dirty = node.loadedChildren.toSeq.filter(_._2.dirty)
    if (dirty.isEmpty) return
    val paths: Seq[(Option[String], String)] =
      if (dirty.lengthCompare(1) == 0)
        dirty.map { case (p, c) => (p, writeNode(storage, c, None, Map.empty)) }
      else {
        val futs = dirty.map { case (p, c) =>
          if (nodeWritePermits.tryAcquire())
            (p, Right(nodeWritePool.submit(
              new java.util.concurrent.Callable[String] {
                override def call(): String =
                  try writeNode(storage, c, None, Map.empty)
                  finally nodeWritePermits.release()
              })))
          else // pool saturated: the caller does this child's work
            (p, Left(writeNode(storage, c, None, Map.empty)))
        }
        futs.map {
          case (p, Left(path)) => (p, path)
          case (p, Right(f)) =>
            try (p, f.get())
            catch {
              case e: java.util.concurrent.ExecutionException =>
                throw e.getCause
            }
        }
      }
    paths.foreach {
      case (None, childPath) => node.leftmostChildPath = Some(childPath)
      case (Some(k), childPath) =>
        val value = node.lookup(k).flatMap(_.value)
        node.pending.put(k, TreeRow(k, value, Some(childPath)))
    }
  }

  private def writeNode(storage: StorageOps, node: TreeNode,
      rootVersion: Option[Long], extraMeta: Map[String, String]): String = {
    // children first
    writeDirtyChildren(storage, node)
    val meta = extraMeta ++ node.leftmostChildPath.map(MLeftmost -> _).toMap
    val bytes = NodeFile.writeRaw(node.mergedRawRows, meta)
    val path = rootVersion match {
      case Some(v) =>
        val p = FileLocations.rootNodePath(v)
        storage.writeAtomic(p, bytes) // mutual-exclusion commit point
        p
      case None =>
        val p = FileLocations.newNodePath()
        storage.writeAtomic(p, bytes)
        p
    }
    node.dirty = false
    path
  }

  /** Latest committed root: start from the `vn/latest` hint, then probe
    * forward until a version is missing (reference findLatestRoot,
    * TreeOperations.java:342-371 — including the fix for its probe
    * off-by-one, SURVEY §4.3.5). On an unchanged catalog that is the
    * hint read plus two probes, `exists(v)` and `exists(v + 1)`. The
    * root file itself comes from the handle's
    * [[graft.storage.StorageOps.latestRoot]] slot when it holds
    * `vn/<v>`; otherwise it is read and decoded once and replaces the
    * slot. Each call returns a fresh [[TreeRoot]] over the shared file.
    */
  def findLatestRoot(storage: StorageOps): Option[TreeRoot] = {
    // the hint is BEST-EFFORT: read it without an exists probe first; a
    // missing hint (or one a backend swaps or expires mid-read) raises
    // an IOException and degrades to the probe-from-v0 path, never
    // failing the txn
    val hint =
      try new String(storage.read(FileLocations.LatestVersionHint), "UTF-8")
        .trim.toLong
      catch { case _: java.io.IOException => 0L }
    var v =
      if (storage.exists(FileLocations.rootNodePath(hint))) hint
      else if (storage.exists(FileLocations.rootNodePath(0L))) 0L
      else {
        // stale hint AND v0 expired (history expiration): recover by
        // listing vn/ and decoding the reversed-binary version names
        val versions = storage.listPrefix("vn")
          .filter(FileLocations.isRootNodePath)
          .map(p => java.lang.Long.reverse(
            java.lang.Long.parseUnsignedLong(p.stripPrefix("vn/"), 2)))
        if (versions.isEmpty) return None
        versions.max
      }
    while (storage.exists(FileLocations.rootNodePath(v + 1))) v += 1
    val path = FileLocations.rootNodePath(v)
    val file = storage.latestRoot.get match {
      case (`path`, f) => f
      case _ =>
        val f = new NodeFile(storage.read(path))
        storage.latestRoot.set((path, f))
        f
    }
    Some(openRoot(file, path))
  }

  /** Catalog time travel by version: walk the previous_root chain
    * (reference findRootForVersion, TreeOperations.java:373-395).
    */
  def findRootForVersion(storage: StorageOps, latest: TreeRoot, version: Long): TreeRoot = {
    require(version <= latest.version,
      s"version $version is newer than latest ${latest.version}")
    if (version == latest.version) return latest
    // versions map directly onto root file names (docs/format.md:297
    // — "the root node of the specific version can directly be found
    // based on the root node file name"): O(1) at any history depth,
    // instead of walking latest−version previous pointers. Version
    // numbers are never reused (roots are atomic-create-once), so a
    // direct hit is always the right lineage.
    val direct = FileLocations.rootNodePath(version)
    if (storage.exists(direct)) return loadRoot(storage, direct)
    // below the expiration floor? fail fast with the floor
    oldestVersionHint(storage).filter(version < _).foreach(o =>
      throw new IllegalArgumentException(
        s"version $version expired (oldest retained: $o)"))
    var cur = latest
    while (cur.version != version) {
      val prev = cur.previousRootPath.filter(storage.exists).getOrElse(
        throw new IllegalArgumentException(
          s"version $version unreachable (expired or never existed)"))
      val next = loadRoot(storage, prev)
      if (cur ne latest) cur.close() // intermediate hop
      cur = next
    }
    cur
  }

  /** The guaranteed-oldest version hint, when one has been written
    * (catalog-history expiration maintains it — docs/format.md:213-216).
    */
  def oldestVersionHint(storage: StorageOps): Option[Long] =
    if (!storage.exists(FileLocations.OldestVersionHint)) None
    else try Some(new String(
      storage.read(FileLocations.OldestVersionHint), "UTF-8").trim.toLong)
    catch { case _: Exception => None }

  /** Time travel by timestamp: newest root created at or before `ts`
    * (reference findRootBeforeTimestamp, TreeOperations.java:397-423).
    */
  def findRootBeforeTimestamp(storage: StorageOps, latest: TreeRoot, ts: Long): TreeRoot = {
    var cur = latest
    while (cur.createdAtMillis > ts) {
      val next = cur.previousRootPath.filter(storage.exists) match {
        case Some(prev) => loadRoot(storage, prev)
        case None => throw new IllegalArgumentException(
          s"no catalog version exists at or before timestamp $ts " +
            "(older history may have been expired)")
      }
      if (cur ne latest) cur.close() // intermediate hop
      cur = next
    }
    cur
  }

  /** Walk the root chain newest-first while `cond` holds, mapping each
    * qualifying root through `f` and closing every loaded root as soon
    * as it is consumed (`latest` is caller-owned and never closed).
    * The leak-free shape for "collect something from recent history" —
    * use this instead of `listRoots` unless the caller genuinely needs
    * the open roots.
    */
  def collectRootsWhile[A](storage: StorageOps, latest: TreeRoot)(
      cond: TreeRoot => Boolean)(f: TreeRoot => A): Seq[A] = {
    val out = Seq.newBuilder[A]
    var cur = latest
    var continue = cond(cur)
    if (continue) out += f(cur)
    while (continue) {
      cur.previousRootPath.filter(storage.exists) match {
        case Some(prev) =>
          val next = loadRoot(storage, prev)
          if (cur ne latest) cur.close()
          cur = next
          continue = cond(cur)
          if (continue) out += f(cur)
        case None => continue = false
      }
    }
    if (cur ne latest) cur.close()
    out.result()
  }

  /** Latest catalog version number. */
  def latestVersion(storage: StorageOps): Option[Long] =
    findLatestRoot(storage).map(r => try r.version finally r.close())

  /** Lazy iterator over the root-version chain, newest first
    * (reference listRoots, TreeOperations.java:504-551). The caller
    * owns every root the iterator yields — prefer `collectRootsWhile`
    * when the roots are consumed immediately.
    */
  def listRoots(storage: StorageOps, latest: TreeRoot): Iterator[TreeRoot] =
    Iterator.iterate(Option(latest)) {
      case Some(r) =>
        // stop at the expiration horizon: the chain may legitimately
        // point at a root that catalog-history expiration deleted
        r.previousRootPath.filter(storage.exists).map(loadRoot(storage, _))
      case None => None
    }.takeWhile(_.isDefined).map(_.get)

  /** In-order traversal of all live rows (reference getNodeKeyTable,
    * TreeOperations.java:425-450) — powers SHOW NAMESPACES/TABLES/VIEWS.
    * Lazy per node; for billion-object catalogs expose node files as a
    * DataFrame instead (SURVEY §7.5 risk register). A child split off
    * by a staged write has no file yet (its path is empty until the
    * commit writes it); `loadChild` finds it among the loaded children.
    */
  def traverse(storage: StorageOps, root: TreeRoot): Iterator[TreeRow] =
    walkNode(storage, root.node)

  private def walkNode(storage: StorageOps, node: TreeNode): Iterator[TreeRow] = {
    val leftmost = node.leftmostChildPath match {
      case Some(p) =>
        walkNode(storage, loadChild(storage, node, None, p))
      case _ => Iterator.empty
    }
    leftmost ++ node.mergedRows.iterator.flatMap { r =>
      val self = if (r.value.isDefined) Iterator.single(r) else Iterator.empty
      val sub = r.child match {
        case Some(p) =>
          walkNode(storage, loadChild(storage, node, Some(r.key), p))
        case _ => Iterator.empty
      }
      self ++ sub
    }
  }

  /** In-order traversal of live rows with key STRICTLY greater than
    * `after` — the resumable key-interval scan behind paginated
    * listings. Only nodes on the resume path (plus whatever the caller
    * actually consumes of the lazy iterator) are opened: a subtree
    * whose key interval lies entirely at or below the cut is pruned by
    * the pivot order, so one page of a billion-object catalog costs
    * O(depth + page) node reads, never a full walk.
    */
  def traverseFrom(storage: StorageOps, root: TreeRoot,
      after: String): Iterator[TreeRow] = {
    def walkFrom(node: TreeNode): Iterator[TreeRow] = {
      val rows = node.mergedRows
      val idx = rows.indexWhere(_.key > after)
      val j = if (idx < 0) rows.length else idx
      // exactly one subtree can straddle the cut: the one immediately
      // left of the first beyond-cut row (the leftmost child when
      // every row is beyond it) — resume recursively there; every
      // subtree right of it is fully beyond the cut and walks whole
      val straddle: Iterator[TreeRow] =
        if (j == 0) node.leftmostChildPath match {
          case Some(p) =>
            walkFrom(loadChild(storage, node, None, p))
          case _ => Iterator.empty
        }
        else rows(j - 1).child match {
          case Some(p) =>
            walkFrom(loadChild(storage, node, Some(rows(j - 1).key), p))
          case _ => Iterator.empty
        }
      straddle ++ rows.iterator.drop(j).flatMap { r =>
        val self = if (r.value.isDefined) Iterator.single(r) else Iterator.empty
        val sub = r.child match {
          case Some(p) =>
            walkNode(storage, loadChild(storage, node, Some(r.key), p))
          case _ => Iterator.empty
        }
        self ++ sub
      }
    }
    walkFrom(root.node)
  }
}
