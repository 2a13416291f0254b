package graft.spark

import graft.format.{PosDeleteFile, PosDeleteFiles}
import graft.storage.StorageOps
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
import org.apache.spark.sql.connector.catalog.MetadataColumn
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, SortDirection, SortOrder => VSortOrder}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{DataWriterFactory, DeltaBatchWrite, DeltaWrite, DeltaWriteBuilder, DeltaWriter, DeltaWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RequiresDistributionAndOrdering, RowLevelOperation, SupportsDelta, WriterCommitMessage}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

/** Merge-on-read UPDATE/MERGE: a POSITION DELTA instead of a
  * copy-on-write group rewrite (SURVEY §2.4; enabled per table via
  * `graft.update.mode` / `graft.merge.mode` = `merge-on-read`).
  *
  * Spark's own row-level rewrite rules see [[SupportsDelta]] and plan
  * `WriteDelta` instead of `ReplaceData`: the target scan carries the
  * stable row id (`_file`, `_pos` — exact parquet row positions), and
  * the writer receives per-row insert/update/delete callbacks. The
  * commit appends ONLY the replacement rows as new data files plus
  * small `(file, pos)` position-delete objects ([[PosDeleteFiles]]);
  * every existing data file stays in place. At 100 TB a 10-row upsert
  * writes a few KB where copy-on-write re-copies every touched
  * gigabyte file; reads apply each file's delete set where the file is
  * read, and compaction materializes the deltas back to the vectorized
  * path.
  */
class GraftPositionDeltaOperation(
    catalog: GraftCatalog,
    table: GraftTable,
    cmd: RowLevelOperation.Command) extends RowLevelOperation with SupportsDelta {

  override def command(): RowLevelOperation.Command = cmd

  // the target read is a PLAIN table scan (filters push all the way to
  // parquet — unlike copy-on-write, only matching rows are needed) that
  // additionally serves the _file/_pos row id; runtime group filtering
  // and stats pruning ride along from GraftScanBuilder
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    table.newScanBuilder(options)

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite =
        new GraftDeltaWrite(catalog, table, cmd, info)
    }

  override def rowId(): Array[NamedReference] =
    Array(Expressions.column(GraftMetadataColumns.FileName),
      Expressions.column(GraftMetadataColumns.PosName))

  override def representUpdateAsDeleteAndInsert(): Boolean = false

  override def description(): String =
    s"GraftPositionDelta(${table.name()}, $cmd)"
}

/** The write half of a position delta. Distribution clusters rows by
  * (partition transforms, _file): every delete aimed at one data file
  * lands in ONE task (one delete object per file's worth of deletes,
  * not one per task × file), and replacement/insert rows co-cluster by
  * target partition for the dynamic-partition data writer. Ordering is
  * partition transforms FIRST — the dynamic-partition writer opens one
  * file per partition-value run and a revisited value is a collision —
  * then (_file, _pos) so delete rows stay near-sorted per file.
  */
class GraftDeltaWrite(
    catalog: GraftCatalog,
    table: GraftTable,
    cmd: RowLevelOperation.Command,
    info: LogicalWriteInfo) extends DeltaWrite with RequiresDistributionAndOrdering {

  private val spec = table.partitionSpec

  override def requiredDistribution(): Distribution =
    Distributions.clustered(
      (spec.map(_.toTransform
        : org.apache.spark.sql.connector.expressions.Expression) :+
        (Expressions.column(GraftMetadataColumns.FileName)
          : org.apache.spark.sql.connector.expressions.Expression)).toArray)

  override def requiredOrdering(): Array[VSortOrder] =
    (spec.map(f => Expressions.sort(f.toTransform, SortDirection.ASCENDING)) ++
      Seq(
        Expressions.sort(Expressions.column(GraftMetadataColumns.FileName),
          SortDirection.ASCENDING),
        Expressions.sort(Expressions.column(GraftMetadataColumns.PosName),
          SortDirection.ASCENDING))).toArray

  override def toBatch: DeltaBatchWrite =
    new GraftDeltaBatchWrite(catalog, table, cmd, info)

  override def description(): String =
    s"GraftDeltaWrite(${table.name()}, $cmd)"
}

/** One task's delete-object output: its storage-relative path, the
  * `_file` strings it references, and its row count. `dataMsg` chains
  * the inner parquet writer's message for inserted/updated rows.
  */
private case class DeltaTaskCommit(
    dataMsg: WriterCommitMessage,
    deleteRel: Option[String],
    dataFiles: Seq[String],
    deleteRows: Long) extends WriterCommitMessage

class GraftDeltaBatchWrite(
    catalog: GraftCatalog,
    table: GraftTable,
    cmd: RowLevelOperation.Command,
    info: LogicalWriteInfo) extends DeltaBatchWrite {

  private val storage: StorageOps = table.storageOps
  private val files = DataFileWrite(table, info.schema(), info.queryId())

  override def createBatchWriterFactory(pi: PhysicalWriteInfo)
      : DeltaWriterFactory =
    new GraftDeltaWriterFactory(files.factory(pi), files.deletesRel,
      storage.absolute(files.deletesRel),
      new SerializableConfiguration(org.apache.spark.sql.SparkSession.active
        .asInstanceOf[ClassicSession].sessionState.newHadoopConf()))

  override def useCommitCoordinator(): Boolean =
    DataFileWrite.UseCommitCoordinator

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val msgs = messages.collect { case m: DeltaTaskCommit => m }
    val newFiles = files.commit(msgs.map(_.dataMsg))
    // `_file` strings (URI paths of absolute locations) → the
    // snapshot's storage-relative entry paths
    val byNorm = table.currentFileTuples.map { case (abs, e) =>
      GraftMetadataColumns.norm(abs) -> e.path
    }.toMap
    val posDeletes = msgs.filter(_.deleteRel.nonEmpty).map { m =>
      val refs = m.dataFiles.map(f => byNorm.getOrElse(f,
        throw new IllegalStateException(
          s"position delta references unknown data file: $f")))
      PosDeleteFile(m.deleteRel.get, m.deleteRows,
        storage.sizeOf(m.deleteRel.get), refs)
    }
    catalog.commitRowDelta(table.ident, newFiles, posDeletes,
      cmd.toString.toLowerCase(java.util.Locale.ROOT))
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    files.abort(messages.collect { case m: DeltaTaskCommit => m.dataMsg })
}

/** Executor side: inserts stream through the data-file writer;
  * deletes stream (pre-sorted by the required ordering) into one
  * position-delete parquet object per task. Both open their file at
  * the first row — a task that only deletes writes no data file and
  * vice versa.
  */
private class GraftDeltaWriterFactory(
    dataFactory: DataWriterFactory,
    deletesRel: String,
    deletesAbs: String,
    conf: SerializableConfiguration) extends DeltaWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long)
      : DeltaWriter[InternalRow] = new DeltaWriter[InternalRow] {

    private val dataWriter = dataFactory.createWriter(partitionId, taskId)
    private var delWriter: PosDeleteFiles.Writer = _
    private val delName = f"del-$partitionId%05d-$taskId.parquet"

    override def insert(row: InternalRow): Unit = dataWriter.write(row)

    override def delete(meta: InternalRow, id: InternalRow): Unit = {
      if (delWriter == null)
        delWriter = new PosDeleteFiles.Writer(
          s"$deletesAbs/$delName", conf.value)
      delWriter.add(id.getUTF8String(0).toString, id.getLong(1))
    }

    override def update(meta: InternalRow, id: InternalRow,
        row: InternalRow): Unit = {
      delete(meta, id)
      insert(row)
    }

    override def commit(): WriterCommitMessage = {
      val dataMsg = dataWriter.commit()
      val del = Option(delWriter).map(_.close())
      DeltaTaskCommit(dataMsg,
        del.map(_ => s"$deletesRel/$delName"),
        del.map(_._1).getOrElse(Seq.empty),
        del.map(_._2).getOrElse(0L))
    }

    override def abort(): Unit = {
      try dataWriter.abort()
      finally if (delWriter != null) delWriter.abort()
    }

    override def close(): Unit = dataWriter.close()
  }
}
