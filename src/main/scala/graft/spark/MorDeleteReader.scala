package graft.spark

import graft.format.{EqDeleteFile, EqDeleteFiles, PosDeleteFiles}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, BasePredicate, BoundReference, Expression, Predicate, UnsafeProjection}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.graft.SparkInternals
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarArray, ColumnarBatch, ColumnarMap}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** One equality-delete object as a read applies it: absolute object
  * path, its key column names, and where those columns sit in the read
  * schema (resolved driver-side so the executor test is ordinal work).
  */
private[spark] case class EqDeleteSpec(abs: String, cols: Seq[String],
    ordinals: Array[Int], types: Array[DataType])

/** The position half of a group's delete test: the row-index column
  * sits at `rixOrdinal`; `anti` names the delete objects whose
  * positions drop a file's rows; `semi`, when given, names the objects
  * one of whose positions every returned row must hold — a file it
  * names nothing in is dropped at planning. Both look up the file path
  * as the `_file` column renders it.
  */
private[spark] case class PositionTest(rixOrdinal: Int,
    anti: String => Seq[String],
    semi: Option[String => Seq[String]] = None)

/** One file of a group with a position test: the single data file's
  * splits, its path, and the delete objects its rows are tested
  * against — `posAnti` drops the positions they name, `posSemi` (when
  * nonempty) keeps only those.
  */
case class MorPartition(inner: FilePartition, dataFile: String,
    posAnti: Array[String], posSemi: Array[String]) extends InputPartition {
  override def preferredLocations(): Array[String] = inner.preferredLocations()
}

/** Everything a group's reader tests, bound to the group's one read
  * schema: `keep` is an ordinal-bound predicate, the eq specs carry
  * read-schema ordinals, and survivors project to the first `keepN`
  * columns. All parts are optional and ANDed.
  */
private case class MorFilter(readSchema: StructType,
    keep: Option[Expression],
    eqAnti: Array[EqDeleteSpec],
    eqSemi: Array[EqDeleteSpec],
    rixOrdinal: Int,
    keepN: Int)

/** The merge-on-read delete read: every pending delete of a file —
  * predicate, equality, position, and the change feed's "rows this
  * snapshot deleted" — resolves into ONE row test, evaluated once per
  * row, whose survivors form one selection (Iceberg's deletion-vector
  * model). Columnar batches stay columnar: survivors remap through a
  * [[SelectedColumnVector]] view, never a copy. Delete sets load where
  * the data file is read ([[PosDeleteFiles.positionsFor]],
  * [[EqDeleteFiles.keySet]], soft-cached per JVM) — a 1000-executor
  * scan never routes positions or keys through the driver.
  */
private[spark] object MorDeleteReader {

  /** The data-schema field name Spark's parquet readers (vectorized
    * and row-based alike) recognize as the generated row-index column:
    * a LongType field with this name is filled with each row's
    * position within its file — correct even under predicate pushdown
    * and row-group skipping, because positions derive from row-group
    * metadata, not from counting returned rows. This is the same
    * mechanism `_metadata.row_index` lowers to in Spark's v1 file
    * source path.
    */
  val RowIndexColumn = "_tmp_metadata_row_index"

  /** NULLABLE on purpose: the parquet readers treat a non-nullable
    * absent column as an error; a nullable one with this name is
    * row-index-generated instead.
    */
  def rowIndexField: StructField = StructField(RowIndexColumn, LongType)

  /** Apply `keep` (a survive condition whose columns bind by NAME to
    * `readSchema`), equality key sets (`eqAnti` drops matching rows,
    * `eqSemi` keeps only matching ones) and `positions` to `delegate`,
    * whose rows are laid out as `readSchema`; survivors project to the
    * first `keepN` columns. A group with a position test reads one
    * file per partition ([[MorPartition]]); otherwise partitions pass
    * through untouched.
    */
  def batch(delegate: Batch, readSchema: StructType, keepN: Int,
      conf: SerializableConfiguration,
      keep: Option[Expression] = None,
      eqAnti: Seq[(String, EqDeleteFile)] = Nil,
      eqSemi: Seq[(String, EqDeleteFile)] = Nil,
      positions: Option[PositionTest] = None): Batch = {
    def spec(abs: String, d: EqDeleteFile) = EqDeleteSpec(abs, d.cols,
      d.cols.map(readSchema.fieldIndex).toArray,
      d.cols.map(readSchema(_).dataType).toArray)
    val filter = MorFilter(readSchema, keep.map(bindByName(_, readSchema)),
      eqAnti.map((spec _).tupled).toArray, eqSemi.map((spec _).tupled).toArray,
      positions.map(_.rixOrdinal).getOrElse(-1), keepN)
    new Batch {
      override def planInputPartitions(): Array[InputPartition] =
        positions.fold(delegate.planInputPartitions())(singleFile)
      override def createReaderFactory(): PartitionReaderFactory =
        new MorReaderFactory(delegate.createReaderFactory(), filter, conf)

      private def singleFile(pos: PositionTest): Array[InputPartition] = {
        val out = Array.newBuilder[InputPartition]
        var i = 0
        delegate.planInputPartitions().foreach {
          case fp: FilePartition =>
            fp.files.groupBy(_.filePath).values.foreach { splits =>
              val single = FilePartition(i, splits)
              val path = SparkInternals.partitionFilePath(single)
              val semi = pos.semi.map(_(path))
              if (semi.forall(_.nonEmpty)) {
                out += MorPartition(single, path, pos.anti(path).toArray,
                  semi.getOrElse(Nil).toArray)
                i += 1
              }
            }
          case other =>
            throw new IllegalStateException(s"expected FilePartition, got $other")
        }
        out.result()
      }
    }
  }

  private def bindByName(e: Expression, schema: StructType): Expression = {
    def ref(name: String) = schema.fieldNames.indexOf(name) match {
      case -1 => throw new IllegalArgumentException(
        s"unknown column in delete predicate: $name")
      case i => BoundReference(i, schema(i).dataType, schema(i).nullable)
    }
    e.transform {
      case u: UnresolvedAttribute => ref(u.nameParts.last)
      case a: AttributeReference => ref(a.name)
    }
  }
}

/** One partition's row test, with its delete sets loaded. */
private final class MorRowTest(f: MorFilter, p: InputPartition,
    conf: SerializableConfiguration) {
  private def positions(objs: Array[String], file: String) =
    if (objs.isEmpty) null
    else PosDeleteFiles.positionsFor(objs.toSeq, file, conf.value)
  private val (posAnti, posSemi) = p match {
    case m: MorPartition =>
      (positions(m.posAnti, m.dataFile), positions(m.posSemi, m.dataFile))
    case _ => (null, null)
  }
  private def keySets(specs: Array[EqDeleteSpec]) = specs.map(s =>
    EqDeleteFiles.keySet(s.abs, s.cols, s.types.toSeq, conf.value))
  private val antiSets = keySets(f.eqAnti)
  private val semiSets = keySets(f.eqSemi)
  private val pred: BasePredicate = f.keep.map(e => Predicate.create(e)).orNull

  /** No row can fail the test: batches pass through unevaluated. */
  val passAll: Boolean = posAnti == null && posSemi == null &&
    antiSets.isEmpty && semiSets.isEmpty && pred == null

  private def anyKeyHit(sets: Array[java.util.HashSet[Seq[Any]]],
      specs: Array[EqDeleteSpec], r: InternalRow): Boolean = {
    var j = 0
    while (j < sets.length) {
      if (sets(j).contains(EqDeleteFiles.rowKey(r, specs(j).ordinals,
          specs(j).types))) return true
      j += 1
    }
    false
  }

  /** Cheapest first: position sets, then key sets, then the predicate. */
  def apply(r: InternalRow): Boolean = {
    if (posAnti != null || posSemi != null) {
      val rix = r.getLong(f.rixOrdinal)
      if (posAnti != null && posAnti.contains(rix)) return false
      if (posSemi != null && !posSemi.contains(rix)) return false
    }
    (antiSets.isEmpty || !anyKeyHit(antiSets, f.eqAnti, r)) &&
      (semiSets.isEmpty || anyKeyHit(semiSets, f.eqSemi, r)) &&
      (pred == null || pred.eval(r))
  }
}

private class MorReaderFactory(
    delegate: PartitionReaderFactory,
    f: MorFilter,
    conf: SerializableConfiguration) extends PartitionReaderFactory {

  private def innerOf(p: InputPartition): InputPartition = p match {
    case m: MorPartition => m.inner
    case other => other
  }

  override def supportColumnarReads(p: InputPartition): Boolean =
    delegate.supportColumnarReads(innerOf(p))

  override def createColumnarReader(p: InputPartition)
      : PartitionReader[ColumnarBatch] = {
    val inner = delegate.createColumnarReader(innerOf(p))
    val test = new MorRowTest(f, p, conf)
    new PartitionReader[ColumnarBatch] {
      private var batch: ColumnarBatch = _
      override def next(): Boolean = {
        while (inner.next()) {
          val b = inner.get()
          val total = b.numRows()
          if (test.passAll) {
            batch = SelectedColumnVector.project(b, f.keepN)
            return true
          }
          val sel = new Array[Int](total)
          var n = 0
          var i = 0
          while (i < total) {
            if (test(b.getRow(i))) { sel(n) = i; n += 1 }
            i += 1
          }
          if (n > 0) {
            batch =
              if (n == total) SelectedColumnVector.project(b, f.keepN)
              else SelectedColumnVector.select(b,
                java.util.Arrays.copyOf(sel, n), n, f.keepN)
            return true
          } // every row of this batch failed: keep draining the delegate
        }
        false
      }
      override def get(): ColumnarBatch = batch
      override def close(): Unit = inner.close()
    }
  }

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val inner = delegate.createReader(innerOf(p))
    val test = new MorRowTest(f, p, conf)
    val proj =
      if (f.keepN == f.readSchema.length) null
      else UnsafeProjection.create(f.readSchema.fields.take(f.keepN).toSeq
        .zipWithIndex.map { case (c, i) =>
          BoundReference(i, c.dataType, c.nullable): Expression })
    new PartitionReader[InternalRow] {
      private var row: InternalRow = _
      override def next(): Boolean = {
        while (inner.next()) {
          val r = inner.get()
          if (test.passAll || test(r)) { row = r; return true }
        }
        false
      }
      override def get(): InternalRow = if (proj == null) row else proj(row)
      override def close(): Unit = inner.close()
    }
  }
}

/** A [[ColumnVector]] view remapping row ids through a selection array
  * (the surviving row indices of a merge-on-read filter): `get*(i)`
  * reads `child.get*(sel(i))`. Children wrap lazily with the SAME
  * selection, so nested structs/arrays resolve correctly. The child
  * vectors stay owned by the delegate batch — `close()` is a no-op —
  * and a new view costs one small object per batch, never a copy of
  * the data.
  */
private class SelectedColumnVector(
    child: ColumnVector,
    sel: Array[Int]) extends ColumnVector(child.dataType()) {
  private var kids: Array[ColumnVector] = _

  override def close(): Unit = () // vectors belong to the delegate batch
  override def hasNull: Boolean = child.hasNull
  override def numNulls: Int = child.numNulls // upper bound — per-row
  //                                             isNullAt is authoritative
  override def isNullAt(i: Int): Boolean = child.isNullAt(sel(i))
  override def getBoolean(i: Int): Boolean = child.getBoolean(sel(i))
  override def getByte(i: Int): Byte = child.getByte(sel(i))
  override def getShort(i: Int): Short = child.getShort(sel(i))
  override def getInt(i: Int): Int = child.getInt(sel(i))
  override def getLong(i: Int): Long = child.getLong(sel(i))
  override def getFloat(i: Int): Float = child.getFloat(sel(i))
  override def getDouble(i: Int): Double = child.getDouble(sel(i))
  override def getDecimal(i: Int, p: Int, s: Int)
      : org.apache.spark.sql.types.Decimal = child.getDecimal(sel(i), p, s)
  override def getUTF8String(i: Int): UTF8String =
    child.getUTF8String(sel(i))
  override def getBinary(i: Int): Array[Byte] = child.getBinary(sel(i))
  override def getArray(i: Int): ColumnarArray = child.getArray(sel(i))
  override def getMap(i: Int): ColumnarMap = child.getMap(sel(i))
  override def getChild(ordinal: Int): ColumnVector = {
    if (kids == null) kids = new Array[ColumnVector](ordinal + 1)
    else if (kids.length <= ordinal)
      kids = java.util.Arrays.copyOf(kids, ordinal + 1)
    if (kids(ordinal) == null)
      kids(ordinal) = new SelectedColumnVector(child.getChild(ordinal), sel)
    kids(ordinal)
  }
}

private object SelectedColumnVector {
  /** The delegate batch filtered to `sel`'s first `n` rows and
    * projected to its first `keepN` columns — a zero-copy view.
    */
  def select(b: ColumnarBatch, sel: Array[Int], n: Int,
      keepN: Int): ColumnarBatch =
    new ColumnarBatch(Array.tabulate[ColumnVector](keepN)(i =>
      new SelectedColumnVector(b.column(i), sel)), n)

  /** The delegate batch projected to its first `keepN` columns. */
  def project(b: ColumnarBatch, keepN: Int): ColumnarBatch =
    if (keepN == b.numCols) b
    else new ColumnarBatch(Array.tabulate[ColumnVector](keepN)(b.column),
      b.numRows())
}
