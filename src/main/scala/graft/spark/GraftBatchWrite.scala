package graft.spark

import graft.objects.FileLocations
import graft.storage.StorageOps
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder => VSortOrder}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RequiresDistributionAndOrdering, Write, WriterCommitMessage}

/** Native DSv2 append/overwrite (reference analog:
  * OlympiaIcebergMergeAppend.java:36-68 — but as a first-class
  * connector write, not a V1 fallback): executors stream rows through
  * Spark's parquet `BatchWrite` into a fresh commit location; the
  * driver-side `commit` turns the finished files into a snapshot.
  *
  * Partitioned tables declare a CLUSTERED distribution + sort on the
  * partition columns, so Spark plans the shuffle that gives the
  * dynamic-partition writer one file per (task × partition-value run)
  * — at 100 TB that's the difference between `numPartitions ×
  * numValues` small files and a controlled file count. The same
  * declaration makes fresh appends land pre-clustered for
  * storage-partitioned joins.
  */
class GraftAppendWrite(
    catalog: GraftCatalog,
    table: GraftTable,
    info: LogicalWriteInfo,
    overwrite: Boolean) extends Write with RequiresDistributionAndOrdering {

  private val spec = table.partitionSpec
  private val sortCols = table.sortColumnNames

  override def requiredDistribution(): Distribution =
    if (spec.nonEmpty)
      // clustered on the partition TRANSFORMS (identity columns and
      // bucket/time transforms alike — derived ones resolve through
      // the catalog's V2 functions, [[GraftFunctionCatalog]]), so the
      // dynamic-partition writer sees one value run per task
      Distributions.clustered(
        spec.map(_.toTransform
          : org.apache.spark.sql.connector.expressions.Expression).toArray)
    else if (sortCols.nonEmpty)
      // `graft.write.sort-by` without partitioning: a RANGE shuffle on
      // the sort key, so each writer task — hence each file — covers a
      // disjoint value range and snapshot-stats pruning bites
      Distributions.ordered(sortCols.map(c =>
        Expressions.sort(Expressions.column(c), SortDirection.ASCENDING)).toArray)
    else Distributions.unspecified()

  override def requiredOrdering(): Array[VSortOrder] = {
    val specOrders = spec.map(f =>
      Expressions.sort(f.toTransform, SortDirection.ASCENDING))
    val sortOrders = sortCols
      .filterNot(c => spec.exists(f => f.isIdentity && f.col == c))
      .map(c => Expressions.sort(Expressions.column(c), SortDirection.ASCENDING))
    (specOrders ++ sortOrders).toArray
  }

  override def toBatch: BatchWrite =
    new GraftAppendBatchWrite(catalog, table, info, overwrite)

  override def toStreaming
      : org.apache.spark.sql.connector.write.streaming.StreamingWrite =
    new GraftStreamingWrite(catalog, table, info, overwrite)

  override def description(): String =
    s"GraftAppendWrite(${table.name()}, ${if (overwrite) "overwrite" else "append"})"
}

/** Native micro-batch streaming sink. Two modes:
  *
  *  - **append** (default): each epoch's rows stage through the same
  *    parquet BatchWrite as batch appends and commit as one snapshot —
  *    the commit-per-trigger history `expire_snapshots` trims.
  *  - **upsert** (`graft.write.upsert-keys` table property, or the
  *    `upsert-keys` writeStream option): each epoch ALSO commits an
  *    equality-delete object of the batch's distinct key tuples
  *    ([[graft.format.EqDeleteFile]]) — rows with those keys in
  *    strictly-older files are logically replaced. A CDC/keyed stream
  *    materializes as "latest row per key" without rewriting a single
  *    data file: at 100 TB an upsert epoch is O(batch), never O(table).
  *
  * Epoch idempotence: each commit records the epoch id in the table
  * metadata properties under the write's query id; a replayed epoch
  * (task retry after a committed-but-unacknowledged batch) commits
  * nothing. `createStreamingWriterFactory` is called once per trigger
  * (Spark wraps this write in a fresh MicroBatchWrite per batch), so
  * per-epoch staging state lives between that call and `commit`.
  */
class GraftStreamingWrite(
    catalog: GraftCatalog,
    table: GraftTable,
    info: LogicalWriteInfo,
    overwrite: Boolean)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {

  import org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory

  private val partitioned = table.partitionSpec.nonEmpty
  private val dataDir =
    FileLocations.tableDataDir(table.namespaceName, table.tableName)
  private val storage: StorageOps = table.storageOps

  /** LOGICAL upsert key columns (option wins over table property). */
  private val upsertKeys: Seq[String] =
    Option(info.options.get(GraftStreamingWrite.UpsertKeysOption))
      .orElse(Option(table.properties()
        .get(GraftCatalog.UpsertKeysProp)))
      .map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty))
      .getOrElse(Seq.empty)

  // fail fast, driver-side, before any task runs
  upsertKeys.foreach { k =>
    val f = table.schema.fields.find(_.name == k).getOrElse(
      throw new IllegalArgumentException(
        s"upsert key column $k not in ${table.name()}'s schema"))
    graft.format.EqDeleteFiles.requireSupported(k, f.dataType)
  }

  /** PHYSICAL names of the key columns (rename-safe, like data files). */
  private val physKeys: Seq[String] = {
    val renames = ColumnMapping.renames(table.schema)
    upsertKeys.map(k => renames.getOrElse(k, k))
  }

  /** This trigger's data files, from its writer factory to `commit`. */
  @volatile private var current: DataFileWrite = _

  override def useCommitCoordinator(): Boolean =
    DataFileWrite.UseCommitCoordinator

  override def createStreamingWriterFactory(pi: PhysicalWriteInfo)
      : StreamingDataWriterFactory = {
    val files = DataFileWrite(table, info.schema(), info.queryId())
    current = files
    val batchFactory = files.factory(pi)
    new StreamingDataWriterFactory {
      override def createWriter(partitionId: Int, taskId: Long, epochId: Long)
          : org.apache.spark.sql.connector.write.DataWriter[
            org.apache.spark.sql.catalyst.InternalRow] =
        batchFactory.createWriter(partitionId, taskId)
    }
  }

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val files = current
    require(files != null, "streaming commit without a writer factory")
    current = null
    val newFiles = files.commit(messages)
    val eqDeletes =
      if (upsertKeys.isEmpty || newFiles.isEmpty) Seq.empty
      else Seq(writeEqDeleteObject(files.commitId, newFiles))
    catalog.commitStreamEpoch(table.ident, newFiles, eqDeletes, overwrite,
      epochKey = (info.queryId(), epochId))
    // opt-in, best-effort, AFTER the epoch commit: a streamed-into
    // source keeps its derived views fresh without external scheduling
    graft.maintain.MaterializedViews.maybeRefreshOnCommit(
      catalog, table.properties())
  }

  /** One equality-delete object: the DISTINCT key tuples of the files
    * this epoch just committed, written as plain parquet by a small
    * Spark job over ONLY those files (a partitioned table reads them
    * with `basePath` so partition-column keys resolve from the
    * directory layout).
    */
  private def writeEqDeleteObject(
      commitId: String,
      newFiles: Seq[graft.format.DataFileEntry])
      : graft.format.EqDeleteFile = {
    import org.apache.spark.sql.functions.col
    val spark = org.apache.spark.sql.SparkSession.active
    val abs = newFiles.map(f => storage.absolute(f.path))
    val r0 = spark.read
    val r = if (!partitioned) r0
      else r0.option("basePath", storage.absolute(dataDir))
    val keys = r.parquet(abs: _*).select(physKeys.map(col): _*).distinct()
    val stageRel = s"$dataDir/.eqstage-$commitId"
    keys.coalesce(1).write.mode("overwrite")
      .parquet(storage.absolute(stageRel))
    val parts = storage.listDeep(stageRel).filter(_.endsWith(".parquet"))
    require(parts.nonEmpty, "equality-delete write produced no file")
    val target = s"$dataDir/$commitId-eqdelete.parquet"
    storage.move(parts.head, target)
    storage.deleteTree(stageRel)
    val stats = graft.format.ParquetStats.read(storage.absolute(target))
    graft.format.EqDeleteFile(target, stats.rowCount,
      storage.sizeOf(target), physKeys)
  }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val files = current
    current = null
    if (files != null) files.abort(messages)
  }
}

object GraftStreamingWrite {
  /** writeStream option naming the upsert key columns. */
  val UpsertKeysOption = "upsert-keys"
}

class GraftAppendBatchWrite(
    catalog: GraftCatalog,
    table: GraftTable,
    info: LogicalWriteInfo,
    overwrite: Boolean) extends BatchWrite {

  private val files = DataFileWrite(table, info.schema(), info.queryId())

  override def createBatchWriterFactory(pi: PhysicalWriteInfo): DataWriterFactory =
    files.factory(pi)

  override def useCommitCoordinator(): Boolean =
    DataFileWrite.UseCommitCoordinator

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    catalog.commitFiles(table.ident, files.commit(messages), overwrite)
    // opt-in, best-effort, AFTER the commit: never fails the write
    graft.maintain.MaterializedViews.maybeRefreshOnCommit(
      catalog, table.properties())
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    files.abort(messages)
}
