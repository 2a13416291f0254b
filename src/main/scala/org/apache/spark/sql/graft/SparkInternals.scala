package org.apache.spark.sql.graft

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression, JoinedRow}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.connector.write.BatchWrite
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.WriteToDataSourceV2
import org.apache.spark.sql.execution.vectorized.ConstantColumnVector
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
import org.apache.spark.unsafe.types.UTF8String

/** Access seam for Spark internals the graft connector builds on (the
  * standard connector-shim pattern — a small file in the
  * `org.apache.spark.sql` namespace). Four entries need that
  * namespace's `private[sql]` access: [[column]] (the classic-session
  * expression bridge), [[unwrapRowLevelTable]], [[runBatchWrite]]
  * (`Dataset.ofRows`) and [[unloadAllStateStores]]. The rest uses
  * public, if unstable, Spark classes and could move out: the
  * file-index glue of [[parquetScanBuilder]] and the batch plumbing
  * the scan paths share (one-file partitions with a `_file` tag,
  * column reorder, constant tags, key grouping, concatenation), which
  * wraps delegate readers without dropping a row. No delete logic
  * lives here (merge-on-read deletes apply in
  * [[graft.spark.MorDeleteReader]]), and no write glue (data files are
  * written by [[graft.spark.DataFileWrite]]).
  */
object SparkInternals {

  /** A user-facing [[org.apache.spark.sql.Column]] over a raw Catalyst
    * expression (the classic-session bridge is `private[sql]`).
    */
  def column(e: Expression): org.apache.spark.sql.Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)


  /** Unwrap the `private[sql]` operation wrapper Spark puts around a
    * table inside ReplaceData / WriteDelta relations, so catalog rules
    * can match the connector's own Table underneath.
    */
  def unwrapRowLevelTable(t: org.apache.spark.sql.connector.catalog.Table)
      : org.apache.spark.sql.connector.catalog.Table = t match {
    case rlot: org.apache.spark.sql.connector.write.RowLevelOperationTable =>
      rlot.table
    case other => other
  }

  /** Run `write` over `df`'s rows through Spark's own V2 write node,
    * so task commit and abort, the SQL execution id, AQE and the
    * metrics stay Spark's (`Dataset.ofRows` is `private[sql]`).
    * `WriteToDataSourceV2` is deprecated for connectors, but Spark
    * still plans micro-batch streaming writes through it.
    */
  @annotation.nowarn("cat=deprecation")
  def runBatchWrite(df: DataFrame, write: BatchWrite): Unit = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
    org.apache.spark.sql.classic.Dataset.ofRows(ds.sparkSession,
      WriteToDataSourceV2(None, write, ds.queryExecution.analyzed, Nil))
      .collect()
  }

  /** Normalized filesystem path of a one-file [[FilePartition]] or
    * [[graft.spark.MorPartition]].
    */
  def partitionFilePath(p: InputPartition): String = p match {
    case fp: FilePartition =>
      require(fp.files.length == 1, s"expected a single-file partition: $fp")
      fp.files.head.toPath.toUri.getPath
    case mp: graft.spark.MorPartition => mp.dataFile
    case other =>
      throw new IllegalStateException(s"expected FilePartition, got $other")
  }

  /** Regroup a delegated parquet [[Batch]]'s input partitions by
    * partition-key value: one [[InputPartition]] per distinct value
    * tuple, each reporting its key ([[HasPartitionKey]]) — the physical
    * half of storage-partitioned joins. Keys come from `keyOf`
    * (normalized file path → key values), i.e. from the SNAPSHOT's own
    * per-file partition values — not from the delegate's
    * `PartitionedFile.partitionValues`, which Spark projects down to
    * the REQUIRED partition columns (hidden transform columns are
    * never required, so their values would be gone). Returns None when
    * any file can't be keyed (pre-partitioning or imported files), so
    * callers fall back to the plain scan.
    */
  def keyGroupedPartitions(delegate: Batch,
      keyOf: String => Option[Seq[Any]])
      : Option[Array[InputPartition]] = {
    val files = Array.newBuilder[org.apache.spark.sql.execution.datasources.PartitionedFile]
    delegate.planInputPartitions().foreach {
      case fp: FilePartition => files ++= fp.files
      case _ => return None
    }
    val all = files.result()
    // group by VALUE-equal keys (UTF8String / boxed primitives)
    val groups = scala.collection.mutable.LinkedHashMap
      .empty[Seq[Any], scala.collection.mutable.ArrayBuffer[
        org.apache.spark.sql.execution.datasources.PartitionedFile]]
    all.foreach { f =>
      val k = keyOf(f.toPath.toUri.getPath).getOrElse(return None)
      groups.getOrElseUpdate(k, scala.collection.mutable.ArrayBuffer()) += f
    }
    Some(groups.toSeq.zipWithIndex.map { case ((key, fs), i) =>
      KeyedFilePartition(
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          key.toArray),
        FilePartition(i, fs.toArray)): InputPartition
    }.toArray)
  }

  /** Reader factory unwrapping [[KeyedFilePartition]] before the
    * delegated parquet reader sees it.
    */
  def keyUnwrappingFactory(delegate: PartitionReaderFactory): PartitionReaderFactory =
    new PartitionReaderFactory {
      private def unwrap(p: InputPartition): InputPartition = p match {
        case k: KeyedFilePartition => k.inner
        case other => other
      }
      override def supportColumnarReads(p: InputPartition): Boolean =
        delegate.supportColumnarReads(unwrap(p))
      override def createReader(p: InputPartition): PartitionReader[InternalRow] =
        delegate.createReader(unwrap(p))
      override def createColumnarReader(p: InputPartition)
          : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
        delegate.createColumnarReader(unwrap(p))
    }

  /** Rewrap a delegated parquet [[Batch]] so every partition holds
    * splits of exactly ONE file, and every row carries that file's path
    * as an appended string column (ordinal `tagOrdinal`, i.e. after the
    * delegate's columns). This is what lets `_file` be a per-row
    * metadata column over a scan we otherwise delegate wholesale to
    * Spark's parquet reader — and what group-based row-level operations
    * use to identify the files a row belongs to.
    */
  def fileTaggedBatch(delegate: Batch, tagOrdinal: Int): Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] = {
      val out = Array.newBuilder[InputPartition]
      var i = 0
      delegate.planInputPartitions().foreach {
        case fp: FilePartition =>
          // one file per partition; splits of a file may share one
          fp.files.groupBy(_.filePath).values.foreach { splits =>
            out += FilePartition(i, splits)
            i += 1
          }
        case mp: graft.spark.MorPartition => out += mp // already single-file
        case other =>
          throw new IllegalStateException(s"expected FilePartition, got $other")
      }
      out.result()
    }
    override def createReaderFactory(): PartitionReaderFactory =
      new FileTaggedReaderFactory(delegate.createReaderFactory(), tagOrdinal)
  }

  /** Project delegate rows from `actual` layout to `wanted` — the same
    * field set in a different order. A delegated parquet scan returns
    * requested DATA fields in request order but moves Hive-partition
    * fields to the END ([[org.apache.spark.sql.execution.datasources.v2.FileScan]]
    * `readSchema = readDataSchema ++ readPartitionSchema`); the
    * merge-on-read delete reader works per ordinal, so the delegate's
    * rows are restored to the requested order here first. Columnar-capable: the
    * reorder is a pure column permutation of the delegate's batches.
    */
  def reorderedBatch(delegate: Batch, actual: StructType,
      wanted: StructType): Batch = {
    val attrs = DataTypeUtils.toAttributes(actual)
    val byName = attrs.map(a => a.name -> a).toMap
    val outAttrs = wanted.fields.toIndexedSeq.map(f => byName(f.name))
    new Batch {
      override def planInputPartitions(): Array[InputPartition] =
        delegate.planInputPartitions()
      override def createReaderFactory(): PartitionReaderFactory =
        new ReorderingReaderFactory(delegate.createReaderFactory(), attrs,
          outAttrs)
    }
  }

  /** Append constant columns (e.g. `_change_type`, the commit snapshot
    * id) to every row of the delegate. Columnar-capable: constants ride
    * [[ConstantColumnVector]]s, so an append-only change-feed range
    * (plain file scans + tags — the common CDC read) stays vectorized.
    */
  def constantTaggedBatch(delegate: Batch, values: Seq[Any]): Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] =
      delegate.planInputPartitions()
    override def createReaderFactory(): PartitionReaderFactory = {
      val inner = delegate.createReaderFactory()
      val tagVals = values.toArray
      // only tag types the columnar reader can render as constant
      // vectors; anything else (a future tag type) falls back to the
      // row reader instead of throwing at executor runtime
      val columnarTags = tagVals.forall {
        case _: UTF8String | _: java.lang.Long => true
        case _ => false
      }
      new PartitionReaderFactory {
        override def supportColumnarReads(p: InputPartition): Boolean =
          columnarTags && inner.supportColumnarReads(p)
        override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
          val tag = new org.apache.spark.sql.catalyst.expressions
            .GenericInternalRow(tagVals)
          val r = inner.createReader(p)
          new PartitionReader[InternalRow] {
            private val joined = new JoinedRow
            override def next(): Boolean = r.next()
            override def get(): InternalRow = joined(r.get(), tag)
            override def close(): Unit = r.close()
          }
        }
        override def createColumnarReader(p: InputPartition)
            : PartitionReader[ColumnarBatch] = {
          val r = inner.createColumnarReader(p)
          new PartitionReader[ColumnarBatch] {
            private var batch: ColumnarBatch = _
            override def next(): Boolean = {
              val has = r.next()
              if (has) {
                val b = r.get()
                val consts = tagVals.map {
                  case s: UTF8String =>
                    val v = new ConstantColumnVector(b.numRows(), StringType)
                    v.setUtf8String(s)
                    v: ColumnVector
                  case l: java.lang.Long =>
                    val v = new ConstantColumnVector(b.numRows(),
                      org.apache.spark.sql.types.LongType)
                    v.setLong(l)
                    v: ColumnVector
                  case other => throw new IllegalStateException(
                    s"unsupported constant tag type: $other")
                }
                batch = new ColumnarBatch(
                  Array.tabulate[ColumnVector](b.numCols())(b.column) ++ consts,
                  b.numRows())
              }
              has
            }
            override def get(): ColumnarBatch = batch
            override def close(): Unit = r.close()
          }
        }
      }
    }
  }

  /** A parquet DSv2 scan builder whose file index is served ENTIRELY
    * from the snapshot's commit-time stats — no existence checks, no
    * listing, no per-file HEAD requests. `ParquetTable`'s own path
    * (`DataSource.checkAndGlobPathIfNecessary` + `InMemoryFileIndex`
    * listing) costs O(files) filesystem calls per scan construction;
    * at 100 TB against an object store that is the planning
    * bottleneck. Safe because graft data files are immutable-by-name
    * (UUID names) — a manifest-recorded (path, size) can never go
    * stale. Partition-column parsing (`basePath` in `options`) and
    * schema handling match `FileTable`: `schema` is the full physical
    * schema, data schema excludes the Hive-partition columns.
    */
  def parquetScanBuilder(
      spark: SparkSession,
      files: Seq[(String, Long)], // (absolute path, exact size)
      physSchema: StructType,
      partCols: Seq[String],
      options: org.apache.spark.sql.util.CaseInsensitiveStringMap,
      // per-file partition-layout roots (the dir whose CHILDREN are the
      // Hive `col=value` levels). When every file has one, the
      // partition spec is parsed against this set — files from SEVERAL
      // roots (a zero-copy fork or registered table reading another
      // table's dir alongside its own fresh commits) resolve partition
      // values correctly, which a single `basePath` option cannot do.
      partRoots: Option[Seq[String]] = None)
      : org.apache.spark.sql.connector.read.ScanBuilder = {
    import scala.jdk.CollectionConverters._
    // the index consults its cache under QUALIFIED paths (scheme +
    // authority); qualification is string work on the driver, no I/O
    val hadoopConf = spark.sessionState
      .newHadoopConfWithOptions(options.asCaseSensitiveMap.asScala.toMap)
    def qualify(abs: String): Path = {
      val raw = new Path(abs)
      raw.getFileSystem(hadoopConf).makeQualified(raw)
    }
    val statuses = files.map { case (abs, size) =>
      val p = qualify(abs)
      p -> Array(new org.apache.hadoop.fs.FileStatus(
        size, false, 1, 128L << 20, 0L, p))
    }.toMap
    val cache = new org.apache.spark.sql.execution.datasources.FileStatusCache {
      override def getLeafFiles(path: Path)
          : Option[Array[org.apache.hadoop.fs.FileStatus]] = statuses.get(path)
      override def putLeafFiles(path: Path,
          leafFiles: Array[org.apache.hadoop.fs.FileStatus]): Unit = ()
      override def invalidateAll(): Unit = ()
    }
    // explicit partition spec from the snapshot's own layout knowledge:
    // no directory inference, no single-base-path assumption
    val partSpec = partRoots.filter(_ => partCols.nonEmpty).map { roots =>
      val partSchema = StructType(
        partCols.map(c => physSchema(physSchema.fieldIndex(c))))
      val leafDirs = statuses.keys.map(_.getParent).toSet.toIndexedSeq
      val tz = spark.sessionState.conf.sessionLocalTimeZone
      // one parse PER root (Spark's parser rejects several base dirs
      // in one call as "conflicting structures"), merged after — the
      // column set is pinned by partSchema so the merge is sound
      val qRoots = roots.map(qualify)
      val byRoot = leafDirs.groupBy(d => qRoots.find(r =>
        d.toString == r.toString || d.toString.startsWith(r.toString + "/"))
        .getOrElse(throw new IllegalStateException(
          s"data file dir $d under none of the layout roots $qRoots")))
      val parsed = byRoot.toSeq.map { case (root, dirs) =>
        org.apache.spark.sql.execution.datasources.GraftPartitioning
          .parse(dirs, Set(root), partSchema, tz)
      }
      org.apache.spark.sql.execution.datasources.PartitionSpec(
        parsed.head.partitionColumns, parsed.flatMap(_.partitions))
    }
    val index = new org.apache.spark.sql.execution.datasources.InMemoryFileIndex(
      spark, statuses.keys.toIndexedSeq,
      options.asCaseSensitiveMap.asScala.toMap, Some(physSchema), cache,
      partSpec, None)
    val dataSchema = StructType(
      physSchema.fields.filterNot(f => partCols.contains(f.name)))
    org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder(
      spark, index, physSchema, dataSchema, options)
  }

  /** Concatenate several batches into one: partitions are tagged with
    * their source batch and the factory dispatches per partition. Used
    * when one logical scan needs per-file-group reader behavior (e.g.
    * distinct pending-delete residuals per group).
    */
  def concatBatches(batches: Seq[Batch]): Batch = new Batch {
    private lazy val planned: Array[InputPartition] =
      batches.zipWithIndex.flatMap { case (b, i) =>
        b.planInputPartitions().map(p => TaggedPartition(i, p): InputPartition)
      }.toArray
    override def planInputPartitions(): Array[InputPartition] = planned
    override def createReaderFactory(): PartitionReaderFactory = {
      val fs = batches.map(_.createReaderFactory()).toArray
      // Spark refuses a scan MIXING columnar and row partitions, so
      // the combined factory answers uniformly: columnar iff EVERY
      // planned partition's sub-factory can serve it (one row-only
      // group — e.g. a $file tag — drops the whole scan to rows)
      val allColumnar = planned.forall {
        case t: TaggedPartition => fs(t.idx).supportColumnarReads(t.inner)
        case _ => false
      }
      new DispatchingReaderFactory(fs, allColumnar)
    }
  }

  /** Unload every loaded state-store provider (`private[sql]`) — used
    * by the termination listener that releases stopped streaming
    * queries' providers (see graft.spark.GraftStateStoreUnloadListener).
    */
  def unloadAllStateStores(): Unit =
    org.apache.spark.sql.execution.streaming.state.StateStore.unloadAll()
}

/** A partition carrying the index of the sub-batch it came from. */
case class TaggedPartition(idx: Int, inner: InputPartition)
    extends InputPartition {
  override def preferredLocations(): Array[String] = inner.preferredLocations()
}

private class DispatchingReaderFactory(
    factories: Array[PartitionReaderFactory],
    // uniform verdict computed over ALL planned partitions by the
    // caller — Spark refuses a scan mixing columnar and row partitions
    allColumnar: Boolean) extends PartitionReaderFactory {
  override def supportColumnarReads(p: InputPartition): Boolean = allColumnar
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val t = p.asInstanceOf[TaggedPartition]
    factories(t.idx).createReader(t.inner)
  }
  override def createColumnarReader(p: InputPartition)
      : PartitionReader[ColumnarBatch] = {
    val t = p.asInstanceOf[TaggedPartition]
    factories(t.idx).createColumnarReader(t.inner)
  }
}

/** Projects every row of the delegate to `outAttrs` (a permutation of
  * `attrs`). Partitions pass through untouched — only the reader is
  * wrapped, so file-granular wrappers above still see FilePartitions.
  */
private class ReorderingReaderFactory(
    delegate: PartitionReaderFactory,
    attrs: Seq[AttributeReference],
    outAttrs: Seq[AttributeReference]) extends PartitionReaderFactory {

  override def supportColumnarReads(p: InputPartition): Boolean =
    delegate.supportColumnarReads(p)

  override def createColumnarReader(p: InputPartition)
      : PartitionReader[ColumnarBatch] = {
    val inner = delegate.createColumnarReader(p)
    // a column permutation needs no row work at all
    val perm = outAttrs.map(o => attrs.indexWhere(_.exprId == o.exprId))
      .toArray
    require(perm.forall(_ >= 0), "reorder target not in delegate output")
    new PartitionReader[ColumnarBatch] {
      private var batch: ColumnarBatch = _
      override def next(): Boolean = {
        val has = inner.next()
        if (has) {
          val b = inner.get()
          batch = new ColumnarBatch(perm.map(b.column), b.numRows())
        }
        has
      }
      override def get(): ColumnarBatch = batch
      override def close(): Unit = inner.close()
    }
  }

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val inner = delegate.createReader(p)
    val proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection
      .create(outAttrs, attrs)
    new PartitionReader[InternalRow] {
      override def next(): Boolean = inner.next()
      override def get(): InternalRow = proj(inner.get())
      override def close(): Unit = inner.close()
    }
  }
}

/** One storage partition of a key-grouped scan: a set of files sharing
  * one Hive-partition value tuple, reporting that tuple as the
  * partition key so Spark's storage-partitioned join machinery can
  * co-locate both sides without a shuffle.
  */
case class KeyedFilePartition(key: InternalRow, inner: FilePartition)
    extends InputPartition with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow = key
  override def preferredLocations(): Array[String] = inner.preferredLocations()
}

/** Wraps the delegate parquet reader factory, appending the partition's
  * (single) file path as a constant column — vectorized batches get a
  * [[ConstantColumnVector]], row readers a [[JoinedRow]]; both keep the
  * delegate's reading untouched.
  */
private class FileTaggedReaderFactory(
    delegate: PartitionReaderFactory,
    tagOrdinal: Int) extends PartitionReaderFactory {

  override def supportColumnarReads(p: InputPartition): Boolean =
    delegate.supportColumnarReads(p)

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val tag = InternalRow(UTF8String.fromString(SparkInternals.partitionFilePath(p)))
    val inner = delegate.createReader(p)
    new PartitionReader[InternalRow] {
      private val joined = new JoinedRow
      override def next(): Boolean = inner.next()
      override def get(): InternalRow = joined(inner.get(), tag)
      override def close(): Unit = inner.close()
    }
  }

  override def createColumnarReader(p: InputPartition): PartitionReader[ColumnarBatch] = {
    val path = UTF8String.fromString(SparkInternals.partitionFilePath(p))
    val inner = delegate.createColumnarReader(p)
    new PartitionReader[ColumnarBatch] {
      override def next(): Boolean = inner.next()
      override def get(): ColumnarBatch = {
        val b = inner.get()
        val vec = new ConstantColumnVector(b.numRows(), StringType)
        vec.setUtf8String(path)
        val cols = Array.tabulate[ColumnVector](tagOrdinal + 1) { i =>
          if (i < tagOrdinal) b.column(i) else vec
        }
        new ColumnarBatch(cols, b.numRows())
      }
      override def close(): Unit = inner.close()
    }
  }
}
