package graft.spark

import graft.format.{EqDeleteFile, EqDeleteFiles}
import graft.storage.StorageOps
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, SortDirection, SortOrder => VSortOrder}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{DataWriterFactory, DeltaBatchWrite, DeltaWrite, DeltaWriteBuilder, DeltaWriter, DeltaWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RequiresDistributionAndOrdering, RowLevelOperation, SupportsDelta, WriterCommitMessage}
import org.apache.spark.sql.types.DataType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

/** Batch MERGE as EQUALITY DELETES (opt-in:
  * `graft.merge.mode = 'merge-on-read-eq'` on a table whose
  * `graft.write.upsert-keys` names its key columns — the classic
  * Iceberg/Flink upsert shape, batch edition).
  *
  * The row id served to Spark's delta planning is the KEY TUPLE
  * itself, not a `(_file, _pos)` position: a matched row's update or
  * delete commits the key into a small equality-delete object
  * (strict-sequence scoped, exactly like the streaming upsert sink)
  * and replacement/insert rows append as new data files. Compared to
  * position deltas, nothing about the matched row's physical location
  * is tracked — the commit is independent of how many files the key
  * appears in, delete objects are keys (bytes ∝ matched keys, not
  * positions), and compaction later materializes them identically.
  *
  * Contract: key columns identify rows uniquely (the upsert-keys
  * contract) — the equality delete removes EVERY strictly-older row
  * with a matching key, so duplicate-key tables would over-delete.
  */
class GraftKeyDeltaOperation(
    catalog: GraftCatalog,
    table: GraftTable,
    cmd: RowLevelOperation.Command) extends RowLevelOperation with SupportsDelta {

  private val keys: Seq[String] = table.tableDef.properties
    .get(GraftCatalog.UpsertKeysProp)
    .map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty))
    .getOrElse(Seq.empty)
  require(keys.nonEmpty,
    s"${GraftCatalog.MergeModeProp} = '${GraftCatalog.MergeModeMergeOnReadEq}' " +
      s"needs key columns in ${GraftCatalog.UpsertKeysProp}")
  keys.foreach { k =>
    val f = table.schema.fields.find(_.name == k).getOrElse(
      throw new IllegalArgumentException(s"upsert key column not found: $k"))
    EqDeleteFiles.requireSupported(k, f.dataType)
    // Spark's delta planning requires non-nullable row ids (and a null
    // key is no identifier anyway — Iceberg's identifier fields carry
    // the same restriction)
    require(!f.nullable,
      s"${GraftCatalog.MergeModeProp} = " +
        s"'${GraftCatalog.MergeModeMergeOnReadEq}' needs NOT NULL key " +
        s"columns; declare $k NOT NULL")
  }

  override def command(): RowLevelOperation.Command = cmd

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    table.newScanBuilder(options)

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite =
        new GraftKeyDeltaWrite(catalog, table, cmd, info, keys)
    }

  override def rowId(): Array[NamedReference] =
    keys.map(Expressions.column).toArray

  override def representUpdateAsDeleteAndInsert(): Boolean = false

  override def description(): String =
    s"GraftKeyDelta(${table.name()}, $cmd, keys=${keys.mkString(",")})"
}

/** Distribution clusters rows by the partition transforms only (keys
  * need no physical co-location — a delete object's keys apply
  * wherever the key lives); ordering is partition transforms first for
  * the dynamic-partition data writer.
  */
class GraftKeyDeltaWrite(
    catalog: GraftCatalog,
    table: GraftTable,
    cmd: RowLevelOperation.Command,
    info: LogicalWriteInfo,
    keys: Seq[String]) extends DeltaWrite with RequiresDistributionAndOrdering {

  private val spec = table.partitionSpec

  override def requiredDistribution(): Distribution =
    if (spec.isEmpty) Distributions.unspecified()
    else Distributions.clustered(spec.map(_.toTransform
      : org.apache.spark.sql.connector.expressions.Expression).toArray)

  override def requiredOrdering(): Array[VSortOrder] =
    spec.map(f =>
      Expressions.sort(f.toTransform, SortDirection.ASCENDING)).toArray

  override def toBatch: DeltaBatchWrite =
    new GraftKeyDeltaBatchWrite(catalog, table, cmd, info, keys)

  override def description(): String =
    s"GraftKeyDeltaWrite(${table.name()}, $cmd)"
}

private case class KeyDeltaTaskCommit(
    dataMsg: WriterCommitMessage,
    deleteRel: Option[String],
    deleteRows: Long) extends WriterCommitMessage

class GraftKeyDeltaBatchWrite(
    catalog: GraftCatalog,
    table: GraftTable,
    cmd: RowLevelOperation.Command,
    info: LogicalWriteInfo,
    keys: Seq[String]) extends DeltaBatchWrite {

  private val storage: StorageOps = table.storageOps
  private val files = DataFileWrite(table, info.schema(), info.queryId())

  // the delete object's columns carry PHYSICAL names (rename-safe,
  // same rule as the streaming upsert sink); key VALUES arrive under
  // the rowId projection in `keys` order
  private val renames = ColumnMapping.renames(table.schema)
  private val physKeys: Seq[String] = keys.map(k => renames.getOrElse(k, k))
  private val keyTypes: Seq[DataType] =
    keys.map(k => table.schema.fields.find(_.name == k).get.dataType)

  override def createBatchWriterFactory(pi: PhysicalWriteInfo)
      : DeltaWriterFactory =
    new GraftKeyDeltaWriterFactory(files.factory(pi), files.deletesRel,
      storage.absolute(files.deletesRel), physKeys, keyTypes,
      new SerializableConfiguration(org.apache.spark.sql.SparkSession.active
        .asInstanceOf[ClassicSession].sessionState.newHadoopConf()))

  override def useCommitCoordinator(): Boolean =
    DataFileWrite.UseCommitCoordinator

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val msgs = messages.collect { case m: KeyDeltaTaskCommit => m }
    val newFiles = files.commit(msgs.map(_.dataMsg))
    val eqDeletes = msgs.filter(_.deleteRel.nonEmpty).map { m =>
      EqDeleteFile(m.deleteRel.get, m.deleteRows,
        storage.sizeOf(m.deleteRel.get), physKeys)
    }
    catalog.commitKeyDelta(table.ident, newFiles, eqDeletes,
      cmd.toString.toLowerCase(java.util.Locale.ROOT))
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    files.abort(messages.collect { case m: KeyDeltaTaskCommit => m.dataMsg })
}

/** Executor side: inserts stream through the data-file writer;
  * deleted/updated KEYS stream into one equality-delete parquet object
  * per task. Both open their file at the first row.
  */
private class GraftKeyDeltaWriterFactory(
    dataFactory: DataWriterFactory,
    deletesRel: String,
    deletesAbs: String,
    physKeys: Seq[String],
    keyTypes: Seq[DataType],
    conf: SerializableConfiguration) extends DeltaWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long)
      : DeltaWriter[InternalRow] = new DeltaWriter[InternalRow] {

    private val dataWriter = dataFactory.createWriter(partitionId, taskId)
    private var keyWriter: EqDeleteFiles.Writer = _
    private val delName = f"eq-$partitionId%05d-$taskId.parquet"

    override def insert(row: InternalRow): Unit = dataWriter.write(row)

    override def delete(meta: InternalRow, id: InternalRow): Unit = {
      if (keyWriter == null)
        keyWriter = new EqDeleteFiles.Writer(
          s"$deletesAbs/$delName", physKeys, keyTypes, conf.value)
      keyWriter.add(id)
    }

    override def update(meta: InternalRow, id: InternalRow,
        row: InternalRow): Unit = {
      delete(meta, id)
      insert(row)
    }

    override def commit(): WriterCommitMessage = {
      val dataMsg = dataWriter.commit()
      val rows = Option(keyWriter).map(_.close())
      KeyDeltaTaskCommit(dataMsg,
        rows.map(_ => s"$deletesRel/$delName"),
        rows.getOrElse(0L))
    }

    override def abort(): Unit = {
      try dataWriter.abort()
      finally if (keyWriter != null) keyWriter.abort()
    }

    override def close(): Unit = dataWriter.close()
  }
}
