package graft.spark

import java.util.UUID

import graft.format.DataFileEntry
import graft.objects.FileLocations
import graft.storage.StorageOps
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.Job
import org.apache.hadoop.mapreduce.lib.output.FileOutputFormat
import org.apache.spark.internal.io.FileCommitProtocol
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression, UnsafeProjection}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.execution.datasources.WriteJobDescription
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.FileBatchWrite
import org.apache.spark.sql.graft.SparkInternals
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.util.SerializableConfiguration

/** How a table's data files are written — the one write path of every
  * table write: INSERT / overwrite, each streaming epoch, copy-on-write
  * and merge-on-read row-level ops, and the maintenance rewrites
  * (compaction, the bucket fold, the file-selective DELETE). The
  * writes keep only their own parts (delete objects, the catalog
  * commit call); this class owns:
  *
  *  - the commit's locations: a non-partitioned commit writes its own
  *    `files/<commitId>/` dir, a partitioned one stages under
  *    `files/.staging-<commitId>/` and its files move into the Hive
  *    layout SHARED across commits (`files/<col>=<value>/<commitId>-part-*`),
  *    because Spark's basePath partition discovery rejects a
  *    per-commit level between the base and `col=value`; a delta
  *    write's delete objects go to `files/deletes/<commitId>/`;
  *  - PHYSICAL column names: rows are positional, so re-labeling the
  *    write schema is the whole job ([[ColumnMapping]]);
  *  - hidden partition transforms: each row derives its `gp_*`
  *    directory columns on the executor;
  *  - the per-table `graft.parquet.*` writer options;
  *  - timestamps as INT64 micros, whatever the session default;
  *  - the bloom sidecars and the footer stats harvest.
  *
  * `writeSchema` is the LOGICAL schema of the rows the factory's
  * writers receive.
  */
final class DataFileWrite(
    storage: StorageOps,
    ns: String,
    t: String,
    tableSchema: StructType,
    props: Map[String, String],
    writeSchema: StructType,
    queryId: String) {

  private val spec = GraftCatalog.specOf(props)
  private val partCols = PartitionTransforms.dirNames(spec)
  val commitId: String = UUID.randomUUID().toString
  private val dataDir = FileLocations.tableDataDir(ns, t)
  private val stagingRel =
    if (partCols.isEmpty) s"$dataDir/$commitId"
    else s"$dataDir/.staging-$commitId"

  /** Where a delta write puts its delete objects; `abort` removes it. */
  val deletesRel = s"$dataDir/deletes/$commitId"

  private val physSchema =
    ColumnMapping.toPhysicalRequired(writeSchema, tableSchema)

  private lazy val delegate: BatchWrite = DataFileWrite.parquetBatchWrite(
    org.apache.spark.sql.SparkSession.active.asInstanceOf[ClassicSession],
    PartitionTransforms.extendSchema(physSchema, spec), partCols,
    storage.absolute(stagingRel), queryId,
    DataFileWrite.parquetOptions(props, tableSchema))

  /** Executor-side writers for rows laid out as `writeSchema`. A
    * writer opens its file at the first row: a task that receives no
    * row writes no file.
    */
  def factory(pi: PhysicalWriteInfo): DataWriterFactory = {
    val attrs = DataTypeUtils.toAttributes(physSchema)
    val derived = spec.filterNot(_.isIdentity).map { f =>
      val a = attrs.find(_.name == f.col).getOrElse(
        throw new IllegalArgumentException(
          s"partition source ${f.col} missing from write schema"))
      f.expr(a, a.dataType)
    }
    new DataFileWriterFactory(delegate.createBatchWriterFactory(pi), attrs,
      derived)
  }

  /** Finish the parquet job and return the commit's data files, at
    * their final locations with their stats (and bloom sidecars).
    */
  def commit(messages: Array[WriterCommitMessage]): Seq[DataFileEntry] = {
    delegate.commit(messages.filterNot(_ == DataFileWrite.NoFile))
    val bloom = graft.format.FileBloom.specOf(props,
      ColumnMapping.renames(tableSchema))
    if (partCols.isEmpty)
      return GraftTable.listCommitFiles(storage, stagingRel, bloom)
    val moved = storage.listDeep(stagingRel)
      .filter(_.endsWith(".parquet"))
      .map { rel =>
        val sub = rel.stripPrefix(s"$stagingRel/") // col=value/part-*.parquet
        val i = sub.lastIndexOf('/')
        require(i > 0, s"staged file outside a partition dir: $rel")
        val target = s"$dataDir/${sub.take(i)}/$commitId-${sub.drop(i + 1)}"
        // a store with no rename copies server-side and deletes
        storage.move(rel, target)
        target
      }
    storage.deleteTree(stagingRel) // job markers (_SUCCESS) + empty dirs
    val keys = moved.sorted
    // blooms build AFTER the move so sidecars live beside final paths
    val stats = GraftTable.harvestStats(storage, keys, bloom)
    keys.map(k => GraftTable.fileEntry(dataDir, k, stats(k)))
  }

  /** Abort the parquet job and remove everything this commit wrote:
    * staged files and any delete objects.
    */
  def abort(messages: Array[WriterCommitMessage]): Unit =
    try delegate.abort(messages.filterNot(_ == DataFileWrite.NoFile))
    finally Seq(stagingRel, deletesRel).foreach(storage.deleteTree)

  /** Cluster and sort a partitioned table's frame on its partition
    * transforms, then `sortCols`: the dynamic-partition writer opens
    * one file per value run, so a task writes one file per partition
    * value. Non-partitioned frames pass through.
    */
  private def shaped(df: DataFrame, sortCols: Seq[String]): DataFrame =
    if (spec.isEmpty) df
    else {
      val keys = spec.map(f => SparkInternals.column(
        f.expr(UnresolvedAttribute(Seq(f.col)), df.schema(f.col).dataType)))
      df.repartition(keys: _*)
        .sortWithinPartitions(keys ++ sortCols.map(df.col): _*)
    }
}

object DataFileWrite {

  /** Spark's file commit protocol under every data-file write
    * coordinates task commits itself (`FileBatchWrite` answers false
    * too): a second authorization through the OutputCommitCoordinator
    * would deny the task's own commit. Delete objects are named per
    * task attempt and need no coordination.
    */
  val UseCommitCoordinator = false

  /** A task's commit message when its writer received no row. */
  private[spark] case object NoFile extends WriterCommitMessage

  def apply(table: GraftTable, writeSchema: StructType,
      queryId: String): DataFileWrite =
    new DataFileWrite(table.storageOps, table.namespaceName, table.tableName,
      table.schema, table.tableDef.properties, writeSchema, queryId)

  /** Write `df` — rows of table `ns.t` under its LOGICAL column names —
    * as the table's new data files through Spark's own V2 write node
    * and return them (the caller commits them). Partitioned tables get
    * their frame clustered and sorted on the partition transforms,
    * then `sortCols`.
    */
  def writeFrame(df: DataFrame, storage: StorageOps, ns: String, t: String,
      tableSchema: StructType, props: Map[String, String],
      sortCols: Seq[String] = Seq.empty): Seq[DataFileEntry] = {
    val files = new DataFileWrite(storage, ns, t, tableSchema, props,
      df.schema, UUID.randomUUID().toString)
    var written = Seq.empty[DataFileEntry]
    SparkInternals.runBatchWrite(files.shaped(df, sortCols), new BatchWrite {
      override def createBatchWriterFactory(pi: PhysicalWriteInfo)
          : DataWriterFactory = files.factory(pi)
      override def useCommitCoordinator(): Boolean = UseCommitCoordinator
      override def commit(messages: Array[WriterCommitMessage]): Unit =
        written = files.commit(messages)
      override def abort(messages: Array[WriterCommitMessage]): Unit =
        files.abort(messages)
    })
    written
  }

  /** Per-table parquet writer tuning: table properties prefixed
    * `graft.parquet.` become hadoop conf keys under `parquet.` for
    * this table's data-file writes (e.g.
    * `'graft.parquet.bloom.filter.enabled#ck' = 'true'` turns on a
    * parquet bloom filter for column `ck` — the row-group skipping
    * structure point lookups at 100 TB live on). A `#column` suffix
    * is translated to the column's PHYSICAL name, matching what data
    * files actually store (rename-safe, like the writes themselves).
    */
  private def parquetOptions(props: Map[String, String],
      schema: StructType): Map[String, String] = {
    val renames = ColumnMapping.renames(schema)
    props.collect {
      case (k, v) if k.startsWith("graft.parquet.") =>
        val raw = k.stripPrefix("graft.")
        val mapped = raw.split('#') match {
          case Array(base, c) => base + "#" + renames.getOrElse(c, c)
          case _ => raw
        }
        mapped -> v
    }
  }

  /** Spark's parquet file [[BatchWrite]] producing files under
    * `outDir`, drivable from a connector write path (ReplaceData has
    * no V1 fallback). `partCols` nonempty ⇒ Hive-style `col=value`
    * dynamic partition layout (those columns are not stored in the
    * files). Timestamps are written as INT64 micros whatever the
    * session's `spark.sql.parquet.outputTimestampType`.
    */
  private def parquetBatchWrite(
      spark: ClassicSession,
      schema: StructType,
      partCols: Seq[String],
      outDir: String,
      queryId: String,
      hadoopOpts: Map[String, String]): BatchWrite = {
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    job.setOutputKeyClass(classOf[Void])
    job.setOutputValueClass(classOf[InternalRow])
    FileOutputFormat.setOutputPath(job, new Path(outDir))
    // per-table parquet writer tuning (bloom filters, dictionary,
    // page/row-group sizing) rides the job conf into prepareWrite's
    // SerializableConfiguration — executor-side writers all see it
    hadoopOpts.foreach { case (k, v) => job.getConfiguration.set(k, v) }

    val allAttrs: Seq[AttributeReference] = DataTypeUtils.toAttributes(schema)
    val partAttrs = partCols.map { c =>
      allAttrs.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(s"partition column $c not in $schema"))
    }
    val dataAttrs = allAttrs.filterNot(partAttrs.contains)

    val factory = new ParquetFileFormat().prepareWrite(
      spark, job, Map.empty, StructType(dataAttrs.map(a =>
        StructField(a.name, a.dataType, a.nullable))))
    // timestamps as INT64 micros whatever the session's default (INT96):
    // only then does the footer carry the min/max that file pruning
    // and file-selective DELETE read (INT96 has no defined order)
    job.getConfiguration.set("spark.sql.parquet.outputTimestampType",
      "TIMESTAMP_MICROS")

    val committer = FileCommitProtocol.instantiate(
      spark.sessionState.conf.fileCommitProtocolClass,
      jobId = queryId,
      outputPath = outDir)

    val description = new WriteJobDescription(
      uuid = queryId,
      serializableHadoopConf = new SerializableConfiguration(job.getConfiguration),
      outputWriterFactory = factory,
      allColumns = allAttrs,
      dataColumns = dataAttrs,
      partitionColumns = partAttrs,
      bucketSpec = None,
      path = outDir,
      customPartitionLocations = Map.empty,
      maxRecordsPerFile = spark.sessionState.conf.maxRecordsPerFile,
      timeZoneId = spark.sessionState.conf.sessionLocalTimeZone,
      statsTrackers = Seq.empty)

    committer.setupJob(job)
    new FileBatchWrite(job, description, committer)
  }
}

/** Wraps the parquet writer factory: each writer opens the parquet
  * writer at its first row, and extends every row (laid out as
  * `attrs`) with the `derived` partition-transform columns through a
  * codegen'd projection, so the logical plan never sees them.
  */
private class DataFileWriterFactory(
    delegate: DataWriterFactory,
    attrs: Seq[AttributeReference],
    derived: Seq[Expression]) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : DataWriter[InternalRow] = new DataWriter[InternalRow] {
    private var inner: DataWriter[InternalRow] = _
    private val proj =
      if (derived.isEmpty) null else UnsafeProjection.create(attrs ++ derived, attrs)
    override def write(r: InternalRow): Unit = {
      if (inner == null) inner = delegate.createWriter(partitionId, taskId)
      inner.write(if (proj == null) r else proj(r))
    }
    override def commit(): WriterCommitMessage =
      if (inner == null) DataFileWrite.NoFile else inner.commit()
    override def abort(): Unit = if (inner != null) inner.abort()
    override def close(): Unit = if (inner != null) inner.close()
  }
}
