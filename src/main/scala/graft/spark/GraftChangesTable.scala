package graft.spark

import java.util.{Set => JSet}

import graft.format.{DataFileEntry, Manifests, Snapshot, TableMetadata}
import graft.objects.{FileLocations, TableDef}
import graft.storage.StorageOps
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{And, Expression}
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
import org.apache.spark.sql.connector.catalog.{Identifier, SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.graft.SparkInternals
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** `<table>$changes` — the table's row-level change feed as a real
  * DSv2 table, batch AND micro-batch streamable: the snapshot lineage
  * IS the changelog (no journal is written on the commit path), and a
  * range's changes derive from per-snapshot metadata diffs.
  *
  * Schema: the table's columns plus `_change_type` (`insert`/`delete`;
  * an update is delete(old)+insert(new)) and `_commit_snapshot_id`.
  *
  * Derivation per snapshot — all shapes are per-file scans, no shuffle:
  *  - append / streaming ingest: added files scanned as inserts;
  *  - merge-on-read DELETE (predicate): parent files the predicate
  *    covers, rows matching it (minus rows already deleted before) as
  *    deletes;
  *  - merge-on-read UPDATE/MERGE (position delta): added files as
  *    inserts; rows the new delete objects name (minus already-deleted)
  *    as deletes;
  *  - compaction / delete-object rewrites: logically no-op, nothing;
  *  - copy-on-write rewrites (files removed): NOT per-file derivable —
  *    the stream/batch fails loudly, pointing at
  *    [[TableChanges.between]] (which pays the exceptAll shuffle).
  *
  * At 100 TB the streaming cost per trigger is one metadata read plus
  * scans of exactly the files the range touched — a CDC consumer never
  * pays a table scan, and the delete side reads only files that
  * actually carry deleted rows.
  */
private[spark] object GraftChanges {
  val TypeCol = "_change_type"
  val SnapCol = "_commit_snapshot_id"

  val StartOption = "start-snapshot-id"
  val EndOption = "end-snapshot-id"

  /** Ops that change nothing logically: their snapshots emit no rows. */
  val NoOpOps: Set[String] = Set("compact", "rewrite-deletes")

  def metaCols: Seq[StructField] = Seq(
    StructField(TypeCol, StringType, nullable = false),
    StructField(SnapCol, LongType, nullable = false))

  /** The tagged change batches of ONE snapshot (empty for logical
    * no-ops; throws on copy-on-write rewrites).
    */
  def snapshotBatches(
      spark: ClassicSession,
      storage: StorageOps,
      meta: TableMetadata,
      physSchema: StructType,
      baseDir: String,
      tableName: String,
      s: Snapshot): Seq[Batch] = {
    if (NoOpOps(s.operation)) return Seq.empty
    val parent = meta.findSnapshot(storage, s.parentId)
    val parentEntries =
      parent.map(Manifests.filesOf(storage, _)).getOrElse(Seq.empty)
    val parentPaths = parentEntries.map(_.path).toSet
    val entries = Manifests.filesOf(storage, s)
    val sPaths = entries.map(_.path).toSet
    val removed = parentPaths.diff(sPaths)
    // a rollback restores a historic snapshot's ENTIRE state (possibly
    // pending merge-on-read deletes) — not derivable per-file even when
    // its file diff is add-only or empty (an un-delete restores rows
    // without touching a single file)
    if (s.operation == "rollback") throw new UnsupportedOperationException(
      s"change feed of $tableName hit rollback snapshot ${s.id}, which " +
        "restores historic state; derive that range logically with " +
        "TableChanges.between and resume past it")
    if (removed.nonEmpty) throw new UnsupportedOperationException(
      s"change feed of $tableName hit snapshot ${s.id} (${s.operation}) " +
        "that rewrote or removed data files; derive that range with " +
        "TableChanges.between and resume past it")
    val added = entries.filterNot(f => parentPaths(f.path))
      .map(f => (storage.absolute(f.path), f))

    def delegate(files: Seq[(String, DataFileEntry)], readPhys: StructType)
        : Batch = {
      val opts =
        if (files.forall(_._1.startsWith(baseDir)))
          new CaseInsensitiveStringMap(java.util.Map.of("basePath", baseDir))
        else CaseInsensitiveStringMap.empty()
      val sb = SparkInternals.parquetScanBuilder(spark,
        files.map { case (abs, f) => (abs, f.sizeBytes) },
        physSchema, Seq.empty, opts)
      sb match {
        case p: org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns =>
          p.pruneColumns(readPhys)
        case _ => ()
      }
      sb.build().toBatch
    }

    def tag(b: Batch, tpe: String): Batch =
      SparkInternals.constantTaggedBatch(b,
        Seq(UTF8String.fromString(tpe), s.id))

    val inserts =
      if (added.isEmpty) Seq.empty
      else Seq(tag(delegate(added, physSchema), "insert"))

    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    val rixSchema = StructType(physSchema.fields :+ MorDeleteReader.rowIndexField)
    val parentTuples = parentEntries.map(f => (storage.absolute(f.path), f))
    val parentPosIdx = MorDeletes.posIndex(parentTuples,
      parent.map(_.posDeletes).getOrElse(Seq.empty)
        .map(p => (storage.absolute(p.path), p)))
    val parentPreds = parent.map(_.deletes).getOrElse(Seq.empty)
    val parentEqList = parent.map(_.eqDeletes).getOrElse(Seq.empty)
    def withAbs(d: graft.format.EqDeleteFile) = (storage.absolute(d.path), d)

    /** This snapshot's deleted rows among `reach` (parent files), one
      * delete-reader pass per (parent predicate epoch × parent eq set)
      * group. A row is emitted iff it survived the parent — its
      * predicates, positions and equality keys (a row the parent
      * already replaced must never re-surface as this snapshot's
      * delete) — AND this snapshot deletes it: `deleted` holds, or
      * `newPos` names its position, or it matches a key of `newEq`.
      */
    def deletedRows(reach: Seq[(String, DataFileEntry)],
        deleted: Option[Expression] = None,
        newPos: Option[String => Seq[String]] = None,
        newEq: Seq[graft.format.EqDeleteFile] = Nil): Seq[Batch] =
      MorDeletes.groups(reach, parentPreds).filter(_._2.nonEmpty).flatMap {
        case (priorApplicable, esP) =>
          val keep = (Option.when(priorApplicable.nonEmpty)(
            MorDeletes.keepExpr(spark, priorApplicable)) ++ deleted)
            .reduceOption(And(_, _))
          esP.groupBy(e => MorDeletes.applicableEq(parentEqList, e._2.seq))
            .toSeq.sortBy(_._1.length).map { case (parentEqs, es) =>
              tag(MorDeleteReader.batch(delegate(es, rixSchema), rixSchema,
                physSchema.length, conf, keep = keep,
                eqAnti = parentEqs.map(withAbs), eqSemi = newEq.map(withAbs),
                positions = Some(PositionTest(physSchema.length,
                  p => parentPosIdx.getOrElse(p, Seq.empty), newPos))),
                "delete")
            }
      }

    // merge-on-read predicate DELETE: parent files the new predicate
    // covers, rows it matches
    val priorSet = parentPreds.toSet
    val predDeletes = s.deletes.filterNot(priorSet).flatMap { pred =>
      deletedRows(
        parentTuples.filter(t => MorDeletes.applicable(Seq(pred), t._2.seq).nonEmpty),
        deleted = Some(MorDeletes.deletedExpr(spark, pred)))
    }

    // position deltas: rows the NEW delete objects name; a referenced-
    // file list can overshoot (other groups' files), and a file no new
    // object names is dropped at planning
    val priorPos = parent.map(_.posDeletes).getOrElse(Seq.empty)
      .map(_.path).toSet
    val newPos = s.posDeletes.filterNot(p => priorPos(p.path))
    val posDeletes =
      if (newPos.isEmpty) Seq.empty
      else {
        val refRel = newPos.flatMap(_.dataFiles).toSet
        val refTuples = parentTuples.filter(t => refRel(t._2.path))
        val newIdx = MorDeletes.posIndex(refTuples,
          newPos.map(p => (storage.absolute(p.path), p)))
        deletedRows(refTuples, newPos = Some(p => newIdx.getOrElse(p, Seq.empty)))
      }

    // streaming upserts: rows of strictly-older files whose key tuple
    // is in a NEW equality-delete object are this snapshot's deletes
    val priorEqPaths = parentEqList.map(_.path).toSet
    val eqDeletes = s.eqDeletes.filterNot(p => priorEqPaths(p.path))
      .flatMap(d => deletedRows(parentTuples.filter(_._2.seq < d.seq),
        newEq = Seq(d)))

    inserts ++ predDeletes ++ posDeletes ++ eqDeletes
  }

  /** Concatenated, tagged change batches for `(startId, endId]`. */
  def rangeBatches(
      spark: ClassicSession,
      storage: StorageOps,
      meta: TableMetadata,
      physSchema: StructType,
      baseDir: String,
      tableName: String,
      startId: Long,
      endId: Long): Seq[Batch] =
    TableChanges.mainLineage(storage, meta, startId, endId)
      .sortBy(_.id)
      .flatMap(snapshotBatches(spark, storage, meta, physSchema, baseDir,
        tableName, _))
}

/** The `$changes` table: batch reads take an optional
  * `start-snapshot-id` (exclusive, default: since creation) and
  * `end-snapshot-id` (inclusive, default: current); streams start at
  * `start-snapshot-id` (default: since creation) and emit each commit's
  * changes per micro-batch, with `max-snapshots-per-trigger` bounding
  * catch-up batches.
  */
private[spark] class GraftChangesTable(
    tableName: String,
    td: TableDef,
    meta0: TableMetadata,
    freshMeta: () => TableMetadata,
    storage: StorageOps) extends Table with SupportsRead {

  private def spark: ClassicSession =
    org.apache.spark.sql.SparkSession.active.asInstanceOf[ClassicSession]

  private val physSchema = ColumnMapping.toPhysical(
    org.apache.spark.sql.types.DataType.fromJson(meta0.schemaJson)
      .asInstanceOf[StructType])

  private val logicalSchema =
    org.apache.spark.sql.types.DataType.fromJson(meta0.schemaJson)
      .asInstanceOf[StructType]

  private val baseDir = storage.absolute(
    FileLocations.tableDataDir(td.namespaceName, td.name))

  override def name(): String = s"$tableName$$changes"

  override def schema(): StructType =
    StructType(logicalSchema.fields ++ GraftChanges.metaCols)

  override def capabilities(): JSet[TableCapability] =
    java.util.Set.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        // rows are positional: the delegates read physical names, the
        // reported schema re-labels them logical (rename-safe)
        override def readSchema(): StructType = schema()

        override def toBatch: Batch = {
          val m = freshMeta()
          val start = Option(options.get(GraftChanges.StartOption))
            .map(_.toLong).getOrElse(-1L)
          val end = Option(options.get(GraftChanges.EndOption))
            .map(_.toLong).getOrElse(m.currentSnapshotId)
          val batches = GraftChanges.rangeBatches(spark, storage, m,
            physSchema, baseDir, tableName, start, end)
          if (batches.isEmpty) EmptyBatch
          else SparkInternals.concatBatches(batches)
        }

        override def toMicroBatchStream(checkpointLocation: String)
            : MicroBatchStream =
          new GraftChangesStream(tableName, freshMeta, storage, physSchema,
            baseDir,
            Option(options.get(GraftChanges.StartOption)).map(_.toLong),
            Option(options.get(GraftTable.MaxSnapshotsPerTriggerOption))
              .map(_.toLong))

        override def description(): String = s"GraftChanges($tableName)"
      }
    }
}

/** Micro-batch half: offsets are snapshot ids (same protocol as the
  * append-only [[GraftMicroBatchStream]]); each trigger emits the
  * changes of `(start, end]`.
  */
private[spark] class GraftChangesStream(
    tableName: String,
    freshMeta: () => TableMetadata,
    storage: StorageOps,
    physSchema: StructType,
    baseDir: String,
    startAt: Option[Long],
    maxSnapshotsPerTrigger: Option[Long])
    extends MicroBatchStream with SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  private def spark: ClassicSession =
    org.apache.spark.sql.SparkSession.active.asInstanceOf[ClassicSession]

  @volatile private var lastBatch: Option[Batch] = None
  // Trigger.AvailableNow: pin the end at start-of-query so bounded
  // catch-up batches still drain exactly to it, then stop
  @volatile private var pinnedEnd: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    pinnedEnd = Some(freshMeta().currentSnapshotId)

  private def currentEnd: Long =
    pinnedEnd.getOrElse(freshMeta().currentSnapshotId)

  override def initialOffset(): Offset = SnapshotOffset(startAt.getOrElse(-1L))

  override def latestOffset(): Offset = SnapshotOffset(currentEnd)

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val cur = currentEnd
    val s = start.asInstanceOf[SnapshotOffset].id
    SnapshotOffset(
      maxSnapshotsPerTrigger.map(n => math.min(cur, s + n)).getOrElse(cur))
  }

  override def deserializeOffset(json: String): Offset =
    SnapshotOffset(json.toLong)

  override def planInputPartitions(start: Offset, end: Offset)
      : Array[InputPartition] = {
    val startId = start.asInstanceOf[SnapshotOffset].id
    val endId = end.asInstanceOf[SnapshotOffset].id
    if (endId <= startId) { lastBatch = None; return Array.empty }
    val batches = GraftChanges.rangeBatches(spark, storage, freshMeta(),
      physSchema, baseDir, tableName, startId, endId)
    val b = if (batches.isEmpty) EmptyBatch
      else SparkInternals.concatBatches(batches)
    lastBatch = Some(b)
    b.planInputPartitions()
  }

  override def createReaderFactory(): PartitionReaderFactory =
    lastBatch.getOrElse(EmptyBatch).createReaderFactory()

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()

  override def toString: String = s"GraftChangesStream($tableName)"
}
