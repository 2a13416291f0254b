package graft.tree

import java.io.ByteArrayOutputStream
import java.nio.channels.Channels
import java.nio.charset.StandardCharsets
import scala.jdk.CollectionConverters._

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector.{VarCharVector, VectorSchemaRoot}
import org.apache.arrow.vector.ipc.{ArrowFileReader, ArrowFileWriter}
import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema}
import org.apache.arrow.vector.util.ByteArrayReadableSeekableByteChannel

/** One row of a tree-node pivot table: key, optional value, optional
  * child-node pointer (docs/format.md:64-86; reference stores the same
  * three columns — TreeOperations.java:62-69).
  */
final case class TreeRow(key: String, value: Option[String], child: Option[String]) {
  def isLive: Boolean = value.isDefined || child.isDefined
}

/** Arrow allocator shared by all tree I/O (nodes are ≤ order rows —
  * tiny; one allocator avoids per-node limit bookkeeping).
  */
object TreeAllocator {
  lazy val root: RootAllocator = new RootAllocator()
}

/** A persisted node file decoded for reading: the three VarChar
  * columns copied into byte arrays plus the file-level metadata. Unlike
  * the reference (which parses system rows stored before a NULL-key
  * marker, TreeOperations.java:139-160), graft stores node/root
  * metadata in the Arrow schema's custom-metadata map — same
  * capability, simpler parsing; the data region is then the whole
  * vector. The Arrow reader is closed before the constructor returns,
  * so a `NodeFile` is immutable, holds no off-heap buffer and may be
  * shared by any number of [[TreeNode]]s and threads. Binary search
  * compares against the stored key arrays (TreeOperations.java:712-761,
  * TreeUtil.java:43-66) — no row materialization on the lookup path.
  */
final class NodeFile(bytes: Array[Byte]) {
  private val (keys, values, children, meta) = {
    val reader = new ArrowFileReader(
      new ByteArrayReadableSeekableByteChannel(bytes), TreeAllocator.root)
    try {
      reader.loadNextBatch()
      val root = reader.getVectorSchemaRoot
      def column(name: String): Array[Array[Byte]] = {
        val v = root.getVector(name).asInstanceOf[VarCharVector]
        Array.tabulate(root.getRowCount)(i => if (v.isNull(i)) null else v.get(i))
      }
      (column("key"), column("value"), column("pnode"),
        root.getSchema.getCustomMetadata.asScala.toMap)
    } finally reader.close()
  }

  val rowCount: Int = keys.length
  val metadata: Map[String, String] = meta

  /** Row `i` over the stored arrays, shared: callers must not mutate them. */
  def rawRow(i: Int): RawRow = RawRow(keys(i), values(i), children(i))
  def key(i: Int): String = new String(keys(i), StandardCharsets.UTF_8)
  def value(i: Int): Option[String] = Option(values(i)).map(new String(_, StandardCharsets.UTF_8))
  def child(i: Int): Option[String] = Option(children(i)).map(new String(_, StandardCharsets.UTF_8))
  def row(i: Int): TreeRow = TreeRow(key(i), value(i), child(i))

  /** Binary search over the key column, unsigned-byte lexicographic
    * (matches Java String compare for the ASCII key alphabet). Returns
    * index if found, else `-(insertionPoint) - 1`.
    */
  def binarySearch(target: String): Int = {
    val tb = target.getBytes(StandardCharsets.UTF_8)
    var lo = 0
    var hi = rowCount - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val c = java.util.Arrays.compareUnsigned(keys(mid), tb)
      if (c == 0) return mid
      else if (c < 0) lo = mid + 1
      else hi = mid - 1
    }
    -(lo + 1)
  }
}

object NodeFile {
  /** Serialize rows + metadata into one Arrow IPC file (reference
    * writeNodeFile, TreeOperations.java:272-319 — which leaves action
    * persistence commented out; graft persists actions in the root's
    * metadata so cross-process conflict analysis works, SURVEY §4.3.1).
    */
  def write(rows: Seq[TreeRow], metadata: Map[String, String]): Array[Byte] = {
    val utf8 = StandardCharsets.UTF_8
    writeRaw(rows.iterator.map(r => RawRow(r.key.getBytes(utf8),
      r.value.map(_.getBytes(utf8)).orNull,
      r.child.map(_.getBytes(utf8)).orNull)), metadata)
  }

  /** Byte-level write path: rows sourced from persisted slices arrive
    * as the original buffers and transfer without decode/encode
    * (reference SliceRowIterator.transferToTargetVectors,
    * NodeRowMerger.java:91-94 — the core write-amplification
    * optimization, SURVEY §4.2).
    */
  def writeRaw(rows: Iterator[RawRow], metadata: Map[String, String]): Array[Byte] = {
    val fields = Seq("key", "value", "pnode").map(n =>
      new Field(n, FieldType.nullable(new ArrowType.Utf8()), null))
    val schema = new Schema(fields.asJava, metadata.asJava)
    val root = VectorSchemaRoot.create(schema, TreeAllocator.root)
    try {
      val keyV = root.getVector("key").asInstanceOf[VarCharVector]
      val valueV = root.getVector("value").asInstanceOf[VarCharVector]
      val childV = root.getVector("pnode").asInstanceOf[VarCharVector]
      root.allocateNew()
      var i = 0
      rows.foreach { r =>
        keyV.setSafe(i, r.key)
        if (r.value != null) valueV.setSafe(i, r.value) else valueV.setNull(i)
        if (r.child != null) childV.setSafe(i, r.child) else childV.setNull(i)
        i += 1
      }
      root.setRowCount(i)
      val out = new ByteArrayOutputStream()
      val writer = new ArrowFileWriter(root, null, Channels.newChannel(out))
      try {
        writer.start()
        writer.writeBatch()
        writer.end()
      } finally writer.close()
      out.toByteArray
    } finally root.close()
  }
}
