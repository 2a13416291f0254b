package graft.spark

import graft.format.DataFileEntry
import graft.txn.ActionType
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
import org.apache.spark.sql.connector.catalog.MetadataColumn
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, SortDirection, SortOrder => VSortOrder, Expression => VExpr, Literal => VLiteral}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RequiresDistributionAndOrdering, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.graft.SparkInternals
import org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Native Spark row-level operations for graft tables (SURVEY §2.4).
  *
  * DELETE / UPDATE / MERGE are planned by Spark's OWN analyzer
  * (`RewriteDeleteFromTable` / `RewriteUpdateTable` /
  * `RewriteMergeIntoTable` → `ReplaceData`), so the full SQL surface —
  * multi-clause conditional MERGE, `WHEN NOT MATCHED BY SOURCE`,
  * assignment alignment, the single-pass cardinality check — comes
  * from Spark, while graft supplies the two connector halves:
  *
  *  - a GROUP-granularity copy-on-write scan: groups are data FILES;
  *    command predicates prune files by snapshot stats up front, and
  *    Spark's runtime group filtering (`SupportsRuntimeV2Filtering` on
  *    `_file`) narrows a MERGE to exactly the files with matching rows
  *    — at 100 TB a 10-row upsert rewrites a handful of files;
  *  - a real DSv2 parquet [[BatchWrite]] whose commit swaps the
  *    scanned files for the rewritten ones in a new snapshot.
  *
  * Reference analog: the data plane delegated wholesale to the engine
  * connector (OlympiaIcebergTable.java:24-40) — this IS that
  * delegation, expressed through Spark's row-level-operation API.
  */
private[graft] object GraftMetadataColumns {
  val FileName = "_file"
  val PosName = "_pos"

  val FileColumn: MetadataColumn = new MetadataColumn {
    override def name(): String = FileName
    override def dataType(): org.apache.spark.sql.types.DataType = StringType
    override def isNullable(): Boolean = false
    override def comment(): String = "path of the data file holding the row"
  }

  /** Row position within the data file (parquet row index — filled by
    * the reader from row-group metadata, exact under pushdown). With
    * `_file` it forms the stable row id position deltas bind to.
    */
  val PosColumn: MetadataColumn = new MetadataColumn {
    override def name(): String = PosName
    override def dataType(): org.apache.spark.sql.types.DataType =
      org.apache.spark.sql.types.LongType
    override def isNullable(): Boolean = false
    override def comment(): String = "row position within the data file"
  }

  /** Drop `_file`/`_pos` from a requested schema; flags say which were
    * present. Output column order contract: data ++ [_pos] ++ [_file].
    */
  def split(required: StructType): (StructType, Boolean, Boolean) = {
    val hasFile = required.fieldNames.contains(FileName)
    val hasPos = required.fieldNames.contains(PosName)
    (StructType(required.filterNot(f =>
      f.name == FileName || f.name == PosName)), hasFile, hasPos)
  }

  /** Normalize an absolute path the way a PartitionedFile renders it. */
  def norm(abs: String): String =
    new org.apache.hadoop.fs.Path(abs).toUri.getPath
}

/** Scan wrapper appending the per-row `_file` column (last). */
private[spark] class FileTaggedScan(val delegate: Scan, outSchema: StructType)
    extends Scan with DelegatedStatistics {
  override protected def statsDelegate: Scan = delegate
  override def readSchema(): StructType = outSchema
  override def toBatch: Batch =
    SparkInternals.fileTaggedBatch(delegate.toBatch, outSchema.length - 1)
  override def description(): String = s"FileTagged(${delegate.description()})"
  // structural equality for exchange/subquery reuse across plannings
  override def equals(other: Any): Boolean = other match {
    case f: FileTaggedScan =>
      delegate == f.delegate && readSchema() == f.readSchema()
    case _ => false
  }
  override def hashCode(): Int = (delegate, readSchema()).hashCode()
}

/** A Batch with no partitions (statically pruned to nothing). */
private[spark] object EmptyBatch extends Batch {
  override def planInputPartitions(): Array[InputPartition] = Array.empty
  override def createReaderFactory(): PartitionReaderFactory =
    (_: InputPartition) =>
      throw new UnsupportedOperationException("empty batch has no partitions")
}

class GraftRowLevelOperationBuilder(
    catalog: GraftCatalog,
    table: GraftTable,
    info: RowLevelOperationInfo) extends RowLevelOperationBuilder {
  override def build(): RowLevelOperation = {
    import RowLevelOperation.Command._
    val props = table.tableDef.properties
    // key-equality MERGE as equality deletes: the delta is keys, not
    // positions — the batch edition of the streaming upsert shape
    val morEq = info.command() == MERGE &&
      props.get(GraftCatalog.MergeModeProp)
        .contains(GraftCatalog.MergeModeMergeOnReadEq)
    val mor = info.command() match {
      case UPDATE => props.get(GraftCatalog.UpdateModeProp)
        .contains(GraftCatalog.DeleteModeMergeOnRead)
      case MERGE => props.get(GraftCatalog.MergeModeProp)
        .contains(GraftCatalog.DeleteModeMergeOnRead)
      case _ => false // DELETE: predicate deletes (morDelete) are cheaper
    }
    if (morEq) new GraftKeyDeltaOperation(catalog, table, info.command())
    else if (mor) new GraftPositionDeltaOperation(catalog, table, info.command())
    else new GraftRowLevelOperation(catalog, table, info.command())
  }
}

/** One DELETE/UPDATE/MERGE execution: Spark calls `newScanBuilder` for
  * the (single, shared) copy-on-write read and `newWriteBuilder` for
  * the replacement write; the scan instance is cached so the runtime
  * group filter's narrowing is visible to the write's commit.
  */
class GraftRowLevelOperation(
    catalog: GraftCatalog,
    table: GraftTable,
    cmd: RowLevelOperation.Command) extends RowLevelOperation {

  private var scanBuilder: GraftCowScanBuilder = _

  override def command(): RowLevelOperation.Command = cmd

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    synchronized {
      // one builder/scan for the command: the main read, the runtime
      // group-filter subquery, and the write all see the same file set
      if (scanBuilder == null)
        scanBuilder = new GraftCowScanBuilder(table, options)
      scanBuilder
    }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new GraftCowWrite(catalog, table,
        GraftRowLevelOperation.this, info)
    }

  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array(Expressions.column(GraftMetadataColumns.FileName))

  /** Files the (possibly runtime-narrowed) scan finally covered — the
    * groups the write replaces.
    */
  private[spark] def replacedEntries: Seq[DataFileEntry] = synchronized {
    require(scanBuilder != null, "row-level write before scan")
    scanBuilder.builtScan match {
      case null => Seq.empty // scan never built: nothing was read
      case s => s.keptEntries
    }
  }
}

/** Copy-on-write scan builder. Pushed command filters prune FILES via
  * snapshot stats only — they are never handed to the parquet reader,
  * because a group rewrite must return EVERY row of a touched file
  * (the non-matching rows are carried over by the rewrite plan).
  */
class GraftCowScanBuilder(table: GraftTable, options: CaseInsensitiveStringMap)
    extends ScanBuilder
    with SupportsPushDownRequiredColumns
    with SupportsPushDownCatalystFilters {

  private var requiredSchema: StructType = table.schema
  private var groupFilters: Seq[Expression] = Seq.empty
  private[spark] var builtScan: GraftCowScan = _

  override def pruneColumns(required: StructType): Unit =
    requiredSchema = required

  override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
    groupFilters = filters
    filters // group-dirtiness hints only; all rows of kept files flow
  }

  override def pushedFilters(): Array[Predicate] = Array.empty

  override def build(): Scan = synchronized {
    if (builtScan == null) {
      // file stats key on PHYSICAL names (rename-safe, ColumnMapping)
      val renames = ColumnMapping.renames(table.schema)
      val physSchema = ColumnMapping.toPhysical(table.schema)
      val physFilters =
        groupFilters.map(ColumnMapping.toPhysicalExpr(_, renames))
      val kept = table.currentFileTuples.filter { case (_, f) =>
        physFilters.forall(e => FilePruning.mayMatch(e, f, physSchema))
      }
      table.recordSelect(requiredSchema.fieldNames.toSeq
        .filterNot(_ == GraftMetadataColumns.FileName), groupFilters)
      builtScan = new GraftCowScan(table, options, kept, requiredSchema)
    }
    builtScan
  }
}

/** The scan half of a copy-on-write group rewrite: parquet reading is
  * delegated to Spark's own DSv2 parquet table over the kept files;
  * `_file` rides along via single-file partitions (see
  * [[SparkInternals.fileTaggedBatch]]); Spark's runtime group filter
  * calls [[filter]] with `_file IN (…)` — the files that actually
  * contain matching rows — and the batch re-plans over that subset.
  */
class GraftCowScan(
    table: GraftTable,
    options: CaseInsensitiveStringMap,
    kept0: Seq[(String, DataFileEntry)],
    requiredSchema: StructType) extends Scan with SupportsRuntimeV2Filtering {

  @volatile private var kept: Seq[(String, DataFileEntry)] = kept0

  private[spark] def keptEntries: Seq[DataFileEntry] = kept.map(_._2)

  override def readSchema(): StructType = requiredSchema

  override def filterAttributes(): Array[NamedReference] =
    Array(Expressions.column(GraftMetadataColumns.FileName))

  override def filter(predicates: Array[Predicate]): Unit =
    matchedPaths(predicates).foreach { paths =>
      kept = kept.filter { case (abs, _) =>
        paths.contains(GraftMetadataColumns.norm(abs))
      }
    }

  /** `_file IN ('p1', …)` / `_file = 'p'` → the path set; None keeps
    * every candidate (unknown predicate shapes stay conservative).
    */
  private def matchedPaths(ps: Array[Predicate]): Option[Set[String]] = {
    def isFileRef(e: VExpr): Boolean = e match {
      case n: NamedReference =>
        n.fieldNames().sameElements(Array(GraftMetadataColumns.FileName))
      case _ => false
    }
    def strings(es: Seq[VExpr]): Option[Set[String]] = {
      val vs = es.collect { case l: VLiteral[_] if l.value() != null =>
        l.value().toString
      }
      if (vs.length == es.length) Some(vs.toSet) else None
    }
    val sets = ps.toSeq.flatMap { p =>
      p.name() match {
        case "IN" if p.children().nonEmpty && isFileRef(p.children().head) =>
          strings(p.children().drop(1).toSeq)
        case "=" if p.children().length == 2 && isFileRef(p.children().head) =>
          strings(p.children().drop(1).toSeq)
        case _ => None
      }
    }
    sets.reduceOption(_ intersect _)
  }

  // delegate batch is rebuilt whenever the kept set changed (runtime
  // group filtering arrives between toBatch and planInputPartitions)
  private var cachedFor: Seq[(String, DataFileEntry)] = _
  private var cachedBatch: Batch = _

  private def delegateBatch(): Batch = synchronized {
    if (cachedBatch == null || (cachedFor ne kept)) {
      cachedFor = kept
      cachedBatch = buildDelegate()
    }
    cachedBatch
  }

  private def buildDelegate(): Batch = {
    val (dataRequired, hasFile, hasPos) =
      GraftMetadataColumns.split(requiredSchema)
    if (kept.isEmpty) return EmptyBatch
    val spark = org.apache.spark.sql.SparkSession.active
      .asInstanceOf[ClassicSession]
    val physSchema = ColumnMapping.toPhysical(table.schema)
    // delegate reads under PHYSICAL names; readSchema() stays logical
    // and rows are positional (rename-safe reads, ColumnMapping)
    val physRequired = ColumnMapping.toPhysicalRequired(dataRequired, table.schema)

    def groupBatch(gSpec: Seq[PartitionField], gPartCols: Seq[String])(
        files: Seq[(String, DataFileEntry)],
        readPhys: StructType): Batch = {
      val opts = {
        val baseDir = table.dataRootAbs
        if (files.forall(_._1.startsWith(baseDir))) {
          val m = new java.util.HashMap[String, String](options)
          m.put("basePath", baseDir)
          new CaseInsensitiveStringMap(m)
        } else options
      }
      // partition values resolve against each file's OWN layout root
      // (shared files of a zero-copy fork live under the SOURCE's data
      // dir — a single basePath would null their partition columns and
      // silently corrupt the rewrite)
      val roots = files.map(e => GraftScanBuilder.dataRootOf(e._1))
      val partRoots =
        if (gPartCols.nonEmpty && roots.forall(_.isDefined))
          Some(roots.flatten.distinct)
        else None
      // the delegated index is served from snapshot stats — no
      // per-file filesystem calls at scan construction (the schema
      // carries the hidden transform dir columns so path parsing
      // types them; never projected — readPhys excludes them)
      val inner = SparkInternals.parquetScanBuilder(spark,
        files.map { case (abs, f) => (abs, f.sizeBytes) },
        PartitionTransforms.extendSchema(physSchema, gSpec), gPartCols, opts,
        partRoots)
      inner match {
        case p: SupportsPushDownRequiredColumns => p.pruneColumns(readPhys)
        case _ => ()
      }
      // NO filter pushdown: every row of a kept file must be returned
      inner.build().toBatch
    }

    // pending merge-on-read deletes (predicates AND position deletes)
    // apply at READ so the group rewrite can never resurrect
    // logically-deleted rows (UPDATE/MERGE rewrite whole files; without
    // the residual, deleted rows would ride along). Shared assembly
    // with the table scan path: [[MorDeletes.morBatches]]. Files group
    // by their directory LAYOUT first (partition-spec evolution: each
    // epoch reads under its own spec — and the rewrite then writes the
    // CURRENT spec, so row-level ops migrate files forward).
    // group skeleton derives from the FULL candidate set (kept0):
    // Spark may build the reader factory BEFORE runtime group
    // filtering narrows `kept` and pair it with partitions planned
    // AFTER — a stable group list keeps that pairing correct
    // (narrowed-away groups hold their slot as empty batches).
    val keptNow = kept.map(_._1).toSet
    val batches = kept0
      .groupBy(t => PartitionTransforms.layoutOf(t._1, table.dataRootAbs))
      .toSeq.sortBy(_._1.mkString(","))
      .flatMap { case (layout, gAll) =>
        val gSpec = PartitionTransforms.specForLayout(layout, physSchema)
        val gPartCols = PartitionTransforms.dirNames(gSpec)
        MorDeletes.morBatches(spark, gAll.filter(t => keptNow(t._1)),
          table.pendingDeletes,
          MorDeletes.posIndex(gAll, table.pendingPosDeletes),
          table.pendingEqDeletes, physSchema,
          physRequired, gPartCols, hasFile, hasPos,
          (es, readPhys) => new Scan {
            override def readSchema(): StructType = readPhys
            override def toBatch: Batch = groupBatch(gSpec, gPartCols)(es, readPhys)
          },
          structureFrom = Some(gAll))
      }
    batches match {
      case Seq(one) => one
      case many => SparkInternals.concatBatches(many)
    }
  }

  // the partitions and the reader factory MUST come from the same
  // build: runtime group filtering can land between the two calls, and
  // a rebuild may change the GROUP structure (delete-epoch batches), so
  // pairing a fresh factory with stale partitions would dispatch rows
  // to the wrong group reader. planInputPartitions pins the build it
  // planned; createReaderFactory reuses it.
  override def toBatch: Batch = new Batch {
    @volatile private var resolved: Batch = _
    override def planInputPartitions(): Array[InputPartition] = {
      val b = delegateBatch()
      resolved = b
      b.planInputPartitions()
    }
    override def createReaderFactory(): PartitionReaderFactory = {
      val b = resolved
      (if (b != null) b else delegateBatch()).createReaderFactory()
    }
  }

  override def description(): String =
    s"GraftCowScan(${table.name()}, files=${kept.length})"
}

/** The write half: a real DSv2 parquet write into a fresh commit
  * location; commit swaps `op.replacedEntries` for the new files in
  * one snapshot. Partitioned tables declare a clustered distribution
  * + sort on the partition columns so the dynamic-partition writer
  * emits one file per (task × partition-value run).
  */
class GraftCowWrite(
    catalog: GraftCatalog,
    table: GraftTable,
    op: GraftRowLevelOperation,
    info: LogicalWriteInfo) extends Write with RequiresDistributionAndOrdering {

  private val spec = table.partitionSpec

  override def requiredDistribution(): Distribution =
    if (spec.isEmpty) Distributions.unspecified()
    else Distributions.clustered(
      spec.map(_.toTransform
        : org.apache.spark.sql.connector.expressions.Expression).toArray)

  override def requiredOrdering(): Array[VSortOrder] =
    spec.map(f =>
      Expressions.sort(f.toTransform, SortDirection.ASCENDING)).toArray

  override def toBatch: BatchWrite =
    new GraftCowBatchWrite(catalog, table, op, info)

  override def description(): String =
    s"GraftCowWrite(${table.name()}, ${op.command()})"
}

class GraftCowBatchWrite(
    catalog: GraftCatalog,
    table: GraftTable,
    op: GraftRowLevelOperation,
    info: LogicalWriteInfo) extends BatchWrite {

  private val files = DataFileWrite(table, info.schema(), info.queryId())

  override def createBatchWriterFactory(pi: PhysicalWriteInfo): DataWriterFactory =
    files.factory(pi)

  override def useCommitCoordinator(): Boolean =
    DataFileWrite.UseCommitCoordinator

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val newFiles = files.commit(messages)
    val actionType = op.command() match {
      case RowLevelOperation.Command.DELETE => ActionType.TableDelete
      case _ => ActionType.TableUpdate
    }
    catalog.commitReplace(table.ident, op.replacedEntries.map(_.path), newFiles,
      op.command().toString.toLowerCase(java.util.Locale.ROOT), actionType)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    files.abort(messages)
}
