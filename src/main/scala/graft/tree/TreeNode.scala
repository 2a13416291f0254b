package graft.tree

import scala.collection.mutable

/** Copy-on-write vector slice: a [start, end) index range over this
  * node's persisted file that is still current. Updates split the
  * covering slice at the hit index instead of rewriting rows
  * (reference VectorSlice + TreeOperations.java:592-613); at write
  * time untouched ranges transfer wholesale.
  */
final case class VectorSlice(start: Int, end: Int) {
  def size: Int = end - start
}

/** In-memory tree node: persisted file (if any) + live slices over it
  * + pending changes, newest-wins (reference BasicTreeNode.java:27-239).
  * NOT thread-safe — all catalog mutation is driver-side, single-
  * threaded per transaction (Transaction.java:26-31, TreeNode.java:23-28).
  * The persisted [[NodeFile]] is immutable and may be shared by several
  * nodes (a transaction's snapshot and running roots share one); writes
  * touch only this node's `pending`, `slices` and `loadedChildren`.
  *
  * A pending entry with value=None ∧ child=None is a tombstone
  * (removeKey is tombstone-only in the reference too —
  * TreeOperations.java:637-640).
  */
final class TreeNode(var persisted: Option[NodeFile]) {
  var slices: List[VectorSlice] =
    persisted.map(f => List(VectorSlice(0, f.rowCount))).getOrElse(Nil)
  val pending: mutable.TreeMap[String, TreeRow] = mutable.TreeMap.empty
  /** Child covering keys below the first row key (kept in node metadata
    * as `leftmost_child`, not as a NULL-key row).
    */
  var leftmostChildPath: Option[String] = None
  var dirty: Boolean = false
  /** Loaded children, keyed by the pivot key (None = leftmost child). */
  val loadedChildren: mutable.Map[Option[String], TreeNode] = mutable.Map.empty

  /** Merged, key-ordered live view: persisted slices ⊎ pending with
    * pending winning on duplicate keys and tombstones dropped
    * (reference NodeRowMerger.java:26-171 — priority-queue k-way merge;
    * slices are ordered and disjoint here, so a two-iterator merge is
    * equivalent).
    */
  def mergedRows: Vector[TreeRow] = {
    val out = Vector.newBuilder[TreeRow]
    val pend = pending.iterator.buffered
    val persistedIt = slices.iterator.flatMap { s =>
      (s.start until s.end).iterator.map(i => persisted.get.row(i))
    }.buffered
    while (persistedIt.hasNext || pend.hasNext) {
      val takePending =
        if (!persistedIt.hasNext) true
        else if (!pend.hasNext) false
        else pend.head._1 <= persistedIt.head.key
      if (takePending) {
        val (k, row) = pend.next()
        // pending shadows an equal persisted key
        if (persistedIt.hasNext && persistedIt.head.key == k) persistedIt.next()
        if (row.isLive) out += row
      } else {
        val row = persistedIt.next()
        if (row.isLive) out += row
      }
    }
    out.result()
  }

  /** Number of live keys (rows) currently in the node. */
  def numRows: Int = mergedRows.size

  /** Point lookup without materializing rows: pending first, then
    * binary search in the persisted vectors within live slices
    * (reference searchInNode + searchInPersistedData,
    * TreeOperations.java:659-761).
    */
  def lookup(key: String): Option[TreeRow] =
    pending.get(key).orElse {
      persisted.flatMap { f =>
        val i = f.binarySearch(key)
        if (i >= 0 && slices.exists(s => i >= s.start && i < s.end)) Some(f.row(i))
        else None
      }
    }

  /** Stage a row; if the key lives in a persisted slice, split that
    * slice at the hit index (copy-on-write update).
    */
  def put(row: TreeRow): Unit = {
    persisted.foreach { f =>
      val i = f.binarySearch(row.key)
      if (i >= 0) {
        slices = slices.flatMap { s =>
          if (i >= s.start && i < s.end)
            List(VectorSlice(s.start, i), VectorSlice(i + 1, s.end)).filter(_.size > 0)
          else List(s)
        }
      }
    }
    pending.put(row.key, row)
    dirty = true
  }

  /** Greatest child-bearing row with key <= target, for descent.
    *
    * Does NOT materialize the node: the pending side is a ranged scan
    * of the (small, in-memory) staged map, and the persisted side is
    * a binary search for the floor index followed by a downward walk
    * that decodes one row at a time, skipping dead slices and
    * pending-shadowed keys. On internal nodes every row bears a
    * child, so the walk terminates after the first visible row — the
    * descent stays O(log n) row decodes, matching the lookup path's
    * no-materialization property (NodeFile binary search).
    */
  def floorChildRow(key: String): Option[TreeRow] = {
    // pending side: greatest staged row ≤ key that bears a child
    // (child.isDefined ⇒ live, so no extra liveness check)
    var pendCand: Option[TreeRow] = None
    pending.rangeTo(key).valuesIterator.foreach { r =>
      if (r.child.isDefined) pendCand = Some(r)
    }
    // persisted side: floor index, then walk down to the first row
    // that is inside a live slice, not shadowed by pending, and
    // child-bearing
    val persCand: Option[TreeRow] = persisted.flatMap { f =>
      val r = f.binarySearch(key)
      var idx = if (r >= 0) r else -(r + 1) - 1
      var out: Option[TreeRow] = None
      while (out.isEmpty && idx >= 0) {
        sliceFloor(idx) match {
          case None => idx = -1
          case Some(i) =>
            val row = f.row(i)
            if (!pending.contains(row.key) && row.child.isDefined) out = Some(row)
            idx = i - 1
        }
      }
      out
    }
    (pendCand, persCand) match {
      case (Some(p), Some(q)) => if (p.key >= q.key) Some(p) else Some(q)
      case (p, q) => p.orElse(q)
    }
  }

  /** Greatest index ≤ `idx` that lies inside a live slice. */
  private def sliceFloor(idx: Int): Option[Int] = {
    var best = -1
    slices.foreach { s =>
      if (s.start <= idx) best = math.max(best, math.min(idx, s.end - 1))
    }
    if (best >= 0) Some(best) else None
  }

  /** Drop this node's references to its file and its loaded children,
    * so a finished tree holds nothing reachable. Idempotent; the tree
    * must not be used afterwards. A [[NodeFile]] is on-heap and may be
    * shared with other trees, so there is nothing to release.
    */
  def close(): Unit = {
    loadedChildren.values.foreach(_.close())
    loadedChildren.clear()
    persisted = None
    slices = Nil
  }

  /** Merged live rows in RAW form: persisted slice rows surface as the
    * original UTF-8 byte arrays (no decode), pending rows encode once.
    * This is the write path's view — unchanged slice ranges transfer
    * into the new node file wholesale, byte-for-byte (the reference's
    * `SliceRowIterator.transferToTargetVectors` optimization,
    * NodeRowMerger.java:91-94).
    */
  def mergedRawRows: Iterator[RawRow] = {
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val pend = pending.iterator.buffered
    val persistedIt = slices.iterator.flatMap { s =>
      (s.start until s.end).iterator
    }.buffered
    new Iterator[RawRow] {
      private var nextRow: RawRow = advance()

      private def advance(): RawRow = {
        while (persistedIt.hasNext || pend.hasNext) {
          val f = persisted.orNull
          val takePending =
            if (!persistedIt.hasNext) true
            else if (!pend.hasNext) false
            else pend.head._1 <= f.key(persistedIt.head)
          if (takePending) {
            val (k, row) = pend.next()
            if (persistedIt.hasNext && f.key(persistedIt.head) == k) persistedIt.next()
            if (row.isLive) {
              return RawRow(k.getBytes(utf8),
                row.value.map(_.getBytes(utf8)).orNull,
                row.child.map(_.getBytes(utf8)).orNull)
            }
          } else {
            val raw = f.rawRow(persistedIt.next())
            if (raw.value != null || raw.child != null) return raw
          }
        }
        null
      }

      override def hasNext: Boolean = nextRow != null
      override def next(): RawRow = {
        val r = nextRow; nextRow = advance(); r
      }
    }
  }
}

/** One node row as raw UTF-8 bytes (null = SQL-null column). */
final case class RawRow(key: Array[Byte], value: Array[Byte], child: Array[Byte])
