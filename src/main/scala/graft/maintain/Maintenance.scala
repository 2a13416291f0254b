package graft.maintain

import graft.catalog.Graft
import graft.format.{DataFileEntry, TableMetadata}
import graft.objects.{FileLocations, Json, ObjectKeys, TableDef}
import graft.spark.{GraftCatalog, GraftTable}
import graft.tree.TreeOps
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.Identifier

/** Table + catalog maintenance jobs (SURVEY §7.6 north star; the
  * reference's spec gestures at this via the `vn/oldest` hint,
  * docs/format.md:213-216, and the acknowledged tombstone-forever
  * delete, TreeOperations.java:637-640).
  *
  * All jobs are Spark jobs over the catalog's own metadata — driver
  * code only orchestrates; data movement (compaction rewrite) runs
  * distributed.
  */
object Maintenance {

  final case class CompactionResult(filesBefore: Int, filesAfter: Int)

  /** Bin-pack a table's data files: when the current snapshot holds
    * more than `targetFiles` files, rewrite them into `targetFiles`
    * outputs and commit as a `compact` snapshot. The rewrite is a
    * distributed read→repartition→write; only the commit is
    * driver-side. Readers are unaffected: old snapshots still
    * reference the old files until expiration.
    *
    * With `sortBy` (or the table's `graft.write.sort-by` property)
    * the rewrite RANGE-clusters rows on the sort key, so output files
    * carry disjoint min/max ranges and snapshot-stats pruning
    * eliminates whole files on selective filters — the
    * rewrite-for-locality half of data layout maintenance at 100 TB
    * (the bin-packing half fixes file count; this fixes overlap).
    */
  def compactDataFiles(spark: SparkSession, cat: GraftCatalog, ident: Identifier,
      targetFiles: Int = 1, sortBy: Seq[String] = Seq.empty): CompactionResult = {
    val storage = cat.storage
    val txn = Graft.beginTransaction(storage)
    val ns = ident.namespace()(0)
    // `t$branch_x` compacts the BRANCH: reads its head state,
    // overwrites its inventory, advances its ref — main untouched
    // (write-audit-publish needs audited FIXES compacted in place)
    val (t, branch) = graft.spark.GraftCatalog.splitBranch(ident.name())
    val td = Graft.describeTable(storage, txn, ns, t)
    val sortCols =
      if (sortBy.nonEmpty) sortBy
      else td.properties.get(graft.spark.GraftCatalog.SortColsProp)
        .map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty))
        .getOrElse(Seq.empty)
    val meta = TableMetadata.read(storage, td.metadataLocation)
    val headSnap = meta.headSnapshot(storage, branch)
    val current = headSnap
      .map(graft.format.Manifests.filesOf(storage, _)).getOrElse(Seq.empty)
    val before = current.size
    val pendingDeletes =
      headSnap.map(_.deletes).getOrElse(Seq.empty)
    val pendingPosDeletes =
      headSnap.map(_.posDeletes).getOrElse(Seq.empty)
    val pendingEqDeletes =
      headSnap.map(_.eqDeletes).getOrElse(Seq.empty)
    // a sorted rewrite is worth doing even at the target file count —
    // its point is range disjointness, not bin-packing; pending
    // merge-on-read deletes (predicates AND position deltas) also
    // force the rewrite (compaction is where they materialize and
    // clear)
    if (before <= targetFiles && sortCols.isEmpty && pendingDeletes.isEmpty &&
        pendingPosDeletes.isEmpty && pendingEqDeletes.isEmpty)
      return CompactionResult(before, before)
    // basePath + declared schema restore Hive-partition columns for
    // partitioned tables (their files don't carry those columns);
    // pending mor deletes are applied at read, so the rewrite
    // materializes them and the overwrite commit clears the list
    val dataRoot = storage.absolute(FileLocations.tableDataDir(ns, t))
    val schema = org.apache.spark.sql.types.DataType.fromJson(meta.schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val df = graft.spark.MorDeletes.readEntries(spark, schema, Some(dataRoot),
      current.map(f => (storage.absolute(f.path), f)), pendingDeletes,
      pendingPosDeletes.map(p => storage.absolute(p.path)),
      eqDeletes = pendingEqDeletes.map(p => (storage.absolute(p.path), p)),
      posDeleteBytes = pendingPosDeletes.map(_.sizeBytes).sum)
    val spec = graft.spark.GraftCatalog.specOf(td.properties)
    val identCols = spec.filter(_.isIdentity).map(_.col)
    // `sort_by => 'zorder(a,b,…)'` range-clusters on the interleaved
    // z-order key: output files get tight [min,max] in EVERY listed
    // column, so later filters on ANY of them prune files — the
    // multi-dimensional sibling of the single-column sorted rewrite
    val zorderCols = sortCols match {
      case Seq(graft.spark.GraftCatalog.ZOrderSortBy(inner)) =>
        inner.split(',').toSeq.map(_.trim).filter(_.nonEmpty)
      case _ => Seq.empty
    }
    // one file per partition value IS the compaction for partitioned
    // tables; non-partitioned tables coalesce to targetFiles
    // (commitDataFiles re-derives hidden transform dirs itself)
    import org.apache.spark.sql.functions.col
    val compacted =
      if (zorderCols.nonEmpty && spec.isEmpty) {
        val zkey = org.apache.spark.sql.graft.SparkInternals.column(
          graft.functions.ZOrderKey(zorderCols.map(c =>
            org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(Seq(c)))))
        df.withColumn("__zkey", zkey)
          .repartitionByRange(targetFiles, col("__zkey"))
          .sortWithinPartitions("__zkey")
          .drop("__zkey")
      }
      else if (spec.isEmpty && sortCols.isEmpty) df.repartition(targetFiles)
      else if (spec.isEmpty)
        df.repartitionByRange(targetFiles, sortCols.map(col): _*)
          .sortWithinPartitions(sortCols.map(col): _*)
      else if (sortCols.isEmpty || identCols.isEmpty) df
      else df.repartition(identCols.map(col): _*)
        .sortWithinPartitions((identCols ++ sortCols).map(col): _*)
    val newFiles = graft.spark.GraftCatalog.commitDataFiles(
      compacted, spec, storage, ns, t,
      writeOpts = graft.spark.GraftWriteSupport
        .parquetOptions(td.properties, schema),
      bloom = graft.format.FileBloom.specOf(td.properties,
        graft.spark.ColumnMapping.renames(schema)))
    commitSnapshot(cat, txn, ns, t, "compact",
      graft.format.OverwriteFiles(newFiles), branch)
    CompactionResult(before, newFiles.size)
  }

  /** PARTITION-SCOPED compaction fold for hash-bucketed merge-on-read
    * state tables (the materialized-view state path): when every
    * pending delete is an EQUALITY delete and every partition
    * transform is a bucket over a delete-key column, the delete keys
    * determine exactly which buckets can contain matching rows — the
    * fold rewrites ONLY those buckets' files (applying the deletes)
    * and carries every other file into the new snapshot untouched, so
    * at billions of groups a fold costs the touched buckets, never the
    * view. Returns None when not applicable (unpartitioned, non-bucket
    * transforms, pos/predicate deletes pending, transform columns
    * outside the delete key set) — callers fall back to the full fold.
    */
  def compactTouchedPartitions(spark: SparkSession, cat: GraftCatalog,
      ident: Identifier): Option[CompactionResult] = {
    val storage = cat.storage
    val ns = ident.namespace()(0)
    val t = ident.name()
    val txn = Graft.beginTransaction(storage)
    // close the txn on EVERY exit — not-applicable returns, Spark-job
    // failures, a lost commit race, AND the successful commit (the
    // commit path does not release the transaction's tree-root Arrow
    // buffers; Transaction.close after a commit is safe and required)
    try {
    val td = Graft.describeTable(storage, txn, ns, t)
    val meta = TableMetadata.read(storage, td.metadataLocation)
    val snap = meta.currentSnapshot.getOrElse(return None)
    val eq = snap.eqDeletes
    if (snap.deletes.nonEmpty || snap.posDeletes.nonEmpty || eq.isEmpty)
      return None
    val spec = graft.spark.GraftCatalog.specOf(td.properties)
    val keyCols = td.properties
      .get(graft.spark.GraftCatalog.UpsertKeysProp)
      .map(_.split(',').toSeq.map(_.trim)).getOrElse(Seq.empty)
    // soundness: a delete key lands ONLY in its own bucket iff the
    // bucket source column is one of the delete key columns
    if (spec.isEmpty ||
        !spec.forall(f => f.kind == graft.spark.PartitionTransforms.Bucket &&
          keyCols.exists(_.equalsIgnoreCase(f.col))))
      return None
    val current = graft.format.Manifests.filesOf(storage, snap)
    val schema = org.apache.spark.sql.types.DataType.fromJson(meta.schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    import org.apache.spark.sql.functions.col
    // touched bucket values: the SAME derive expressions the write
    // path uses, evaluated over the pending delete keys (delta-sized;
    // the distinct value set is bounded by the bucket count)
    val delKeys = spark.read.parquet(eq.map(p =>
      storage.absolute(p.path)): _*)
    val derived = spec.foldLeft(delKeys) { (df, f) =>
      df.withColumn(f.dirName, org.apache.spark.sql.graft.SparkInternals
        .column(f.expr(org.apache.spark.sql.catalyst.analysis
          .UnresolvedAttribute(Seq(f.col)), df.schema(f.col).dataType)))
    }
    val dirCols = graft.spark.PartitionTransforms.dirNames(spec)
    val touched: Set[Seq[String]] = derived
      .select(dirCols.map(col): _*).distinct().collect()
      .map(r => dirCols.indices.map(i => String.valueOf(r.get(i))).toSeq)
      .toSet
    def partValsOf(path: String): Option[Seq[String]] = {
      val segs = path.split('/').filter(_.contains('='))
      Some(dirCols.map { dn =>
        segs.find(_.startsWith(dn + "=")) match {
          case Some(s) => s.drop(dn.length + 1)
          case None => return None
        }
      })
    }
    // a file whose partition can't be determined is conservatively
    // touched (Option.forall is true for None → lands in `touchedF`)
    val (touchedF, carry) = current.partition(f =>
      partValsOf(f.path).forall(touched.contains))
    val newFiles =
      if (touchedF.isEmpty) Seq.empty
      else {
        val dataRoot = storage.absolute(FileLocations.tableDataDir(ns, t))
        val df = graft.spark.MorDeletes.readEntries(spark, schema,
          Some(dataRoot), touchedF.map(f => (storage.absolute(f.path), f)),
          Seq.empty, Seq.empty,
          eqDeletes = eq.map(p => (storage.absolute(p.path), p)),
          posDeleteBytes = 0L)
        graft.spark.GraftCatalog.commitDataFiles(
          df, spec, storage, ns, t,
          writeOpts = graft.spark.GraftWriteSupport
            .parquetOptions(td.properties, schema),
          bloom = graft.format.FileBloom.specOf(td.properties,
            graft.spark.ColumnMapping.renames(schema)))
      }
    // the overwrite commit clears the pending delete list — sound
    // because every delete-key row could only live in a touched bucket
    commitSnapshot(cat, txn, ns, t, "compact",
      graft.format.OverwriteFiles(carry ++ newFiles))
    Some(CompactionResult(current.size, carry.size + newFiles.size))
    } finally {
      try txn.close() catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  final case class RewriteDeletesResult(objectsBefore: Int, objectsAfter: Int,
      rowsBefore: Long, rowsAfter: Long)

  /** Minor-compact a table's pending position-delete objects: read
    * every pending object, drop rows naming data files no longer in
    * the inventory, dedupe, and coalesce into `targetObjects` sorted
    * objects — WITHOUT touching any data file. The commit swaps the
    * pending list atomically; logical content is provably unchanged
    * (only dead references and duplicates leave).
    *
    * This is the between-compactions maintenance for update-heavy
    * merge-on-read tables at 100 TB: a delta per commit accretes many
    * small objects whose per-read attach cost grows linearly; this
    * folds them to O(targetObjects) while full compaction (which
    * materializes the deltas into data files) stays a rarer, far more
    * expensive event.
    */
  def rewritePositionDeletes(spark: SparkSession, cat: GraftCatalog,
      ident: Identifier, targetObjects: Int = 1): RewriteDeletesResult = {
    val storage = cat.storage
    val txn = Graft.beginTransaction(storage)
    val ns = ident.namespace()(0)
    val td = Graft.describeTable(storage, txn, ns, ident.name())
    val meta = TableMetadata.read(storage, td.metadataLocation)
    val pending = meta.currentSnapshot.map(_.posDeletes).getOrElse(Seq.empty)
    val rowsBefore = pending.map(_.rowCount).sum
    if (pending.size <= targetObjects) {
      txn.close()
      return RewriteDeletesResult(pending.size, pending.size,
        rowsBefore, rowsBefore)
    }
    val current = meta.currentFiles(storage)
    // delete rows carry the data file as the `_file` column renders it
    // (URI path of the absolute location); entry paths are storage-
    // relative — keep both directions of the mapping
    val normToRel = current.map(f =>
      graft.spark.GraftMetadataColumns.norm(storage.absolute(f.path)) -> f.path)
      .toMap
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val live = normToRel.keys.toSeq.toDF("file")
    // the inventory side is driver-resident metadata (same scale
    // assumption as every commit path); the delete rows are the big
    // side and never leave the executors
    val dels = spark.read.parquet(pending.map(p =>
      storage.absolute(p.path)): _*)
      .select(col("file"), col("pos")).distinct()
      .join(live, Seq("file"), "left_semi")
    val outDirRel = s"${FileLocations.tableDataDir(ns, ident.name())}/deletes/" +
      java.util.UUID.randomUUID().toString
    val outDirAbs = storage.absolute(outDirRel)
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    // range-partition by (file, pos): each output object covers a
    // contiguous file range, so a scan attaches at most a couple of
    // objects per data file
    val written: Seq[(String, Long, Seq[String])] = dels
      .repartitionByRange(targetObjects, col("file"), col("pos"))
      .sortWithinPartitions("file", "pos")
      .mapPartitions { it =>
        if (!it.hasNext) Iterator.empty
        else {
          // attempt id in the name: a retried/speculative task must
          // never collide with its sibling's object (losers become
          // unreferenced orphans, swept by removeOrphanFiles)
          val tc = org.apache.spark.TaskContext.get()
          val name = f"del-rw-${tc.partitionId()}%05d-${tc.taskAttemptId()}.parquet"
          val w = new graft.format.PosDeleteFiles.Writer(
            s"$outDirAbs/$name", conf.value)
          it.foreach(r => w.add(r.getString(0), r.getLong(1)))
          val (refs, rows) = w.close()
          Iterator((name, rows, refs))
        }
      }.collect().toSeq
    val entries = written.map { case (name, rows, refs) =>
      val rel = s"$outDirRel/$name"
      graft.format.PosDeleteFile(rel, rows, storage.sizeOf(rel),
        refs.map(n => normToRel.getOrElse(n, throw new IllegalStateException(
          s"rewritten delete object references unknown data file: $n"))),
        seq = pending.map(_.seq).max)
    }
    commitSnapshot(cat, txn, ns, ident.name(), "rewrite-deletes",
      graft.format.RewritePosDeletes(pending.map(_.path).toSet, entries))
    RewriteDeletesResult(pending.size, entries.size,
      rowsBefore, entries.map(_.rowCount).sum)
  }

  /** Drop all but the newest `keepLast` snapshots from the table's
    * metadata. With `olderThanMillis >= 0`, additionally RETAIN every
    * snapshot at or after that timestamp (Iceberg's
    * `older_than`/`retain_last` shape: age is the policy, keepLast the
    * floor). Data files referenced only by expired snapshots become
    * orphans — removable by [[removeOrphanFiles]].
    */
  def expireSnapshots(cat: GraftCatalog, ident: Identifier, keepLast: Int,
      olderThanMillis: Long = -1L): Int = {
    val storage = cat.storage
    val txn = Graft.beginTransaction(storage)
    val ns = ident.namespace()(0)
    var expired = 0
    var deadManifests = Seq.empty[String]
    var deadStats = Option.empty[graft.format.StatsFileRef]
    GraftCatalog.stageTableEdit(storage, txn, ns, ident.name(),
      graft.txn.ActionType.AlterTable)(
      GraftCatalog.editTable(_, _, ns, ident.name()) { (_, td, meta) =>
        // commit timestamps are monotone with ids, so "at/after the
        // cutoff" is a suffix — age-retention folds into a larger keepLast.
        // Segment refs carry ts bounds: only a cutoff-straddling segment
        // is opened to count.
        val keepLastEff =
          if (olderThanMillis < 0) keepLast
          else {
            val inlineN = meta.snapshots.count(_.timestampMillis >= olderThanMillis)
            val logN = meta.snapshotLog.map { r =>
              if (r.firstTs >= olderThanMillis) r.count
              else if (r.lastTs < olderThanMillis) 0L
              else graft.format.SnapshotLog.read(storage, r.key)
                .count(_.timestampMillis >= olderThanMillis).toLong
            }.sum
            math.max(keepLast.toLong, inlineN + logN).min(Int.MaxValue).toInt
          }
        // whole spilled log segments die without being opened when every
        // snapshot in them expires (ref bounds say so); only a segment the
        // cutoff splits gets read
        val inlineKeep = meta.snapshots.sortBy(-_.id).take(keepLastEff)
        val fromLog = math.max(keepLastEff - inlineKeep.size, 0)
        val (deadWhole, tailRefs) = {
          var need = fromLog
          val dead = Seq.newBuilder[graft.format.SnapshotLogRef]
          val kept = Seq.newBuilder[graft.format.SnapshotLogRef]
          meta.snapshotLog.reverse.foreach { r =>
            if (need > 0) { kept += r; need -= (need min r.count.toInt) }
            else dead += r
          }
          (dead.result(), kept.result().reverse)
        }
        val logKeep = tailRefs
          .flatMap(r => graft.format.SnapshotLog.read(storage, r.key))
          .sortBy(-_.id).take(fromLog)
        val windowKeep = (logKeep ++ inlineKeep).sortBy(_.id)
        // snapshots pinned by a named ref (tag) survive expiration however
        // old they are — a tag that silently stopped resolving would be a
        // broken promise, not a retention policy. Pinned snapshots are
        // lifted out of their (possibly dying) log segments into the kept
        // list, and their manifest segments stay live through keptRefs.
        val keptIds = windowKeep.map(_.id).toSet
        val pinned = (meta.refs.values ++ meta.branches.values).toSeq.distinct.sorted
          .filterNot(keptIds)
          .flatMap(id => meta.findSnapshot(storage, id))
        val keep = (pinned ++ windowKeep).sortBy(_.id)
        expired = (meta.totalSnapshots - keep.size).toInt
        if (expired == 0) meta // nothing to write, nothing to commit
        else {
          // manifest segments referenced ONLY by expired snapshots die with
          // them (segments are shared across snapshots, so live refs win) —
          // deleted only AFTER the expiration commit succeeds
          val keptRefs = keep.flatMap(_.manifests).toSet
          deadManifests = (meta.allSnapshots(storage).flatMap(_.manifests).distinct
            .filterNot(keptRefs)) ++
            (deadWhole ++ tailRefs).map(_.key)
          // a statistics file whose covered snapshot expires goes with it
          // (the ref first — the puffin object is deleted post-commit below)
          val keptStats = meta.stats.filter(st => keep.exists(_.id == st.snapshotId))
          deadStats = meta.stats.filterNot(st => keptStats.contains(st))
          graft.format.SnapshotLog.spill(storage,
            GraftCatalog.tableManifestDir(ns, ident.name()),
            meta.copy(snapshots = keep, snapshotLog = Seq.empty, stats = keptStats),
            td.properties.get(graft.format.SnapshotLog.InlineMaxProp)
              .map(_.toInt).getOrElse(graft.format.SnapshotLog.InlineMaxDefault))
        }
      })
    if (expired == 0) return 0
    Graft.commitTransaction(storage, txn)
    if (deadManifests.nonEmpty) storage.deleteBatch(deadManifests)
    deadStats.foreach(st => storage.deleteBatch(Seq(st.path)))
    expired
  }

  final case class ColumnNdv(column: String, ndv: Long)

  /** ANALYZE: per-column distinct-count sketches for the CURRENT
    * snapshot, persisted as a REAL Iceberg Puffin statistics file
    * (`apache-datasketches-theta-v1` blobs — the format external
    * cost-based optimizers read NDVs from) and recorded in table
    * metadata, where the REST facade serves it as the spec's
    * `statistics` entry. One distributed pass: each partition builds
    * one theta UpdateSketch per column (constant memory), compact
    * sketch bytes merge associatively — KBs to the driver however
    * many rows the table has. Merge-on-read state is respected (same
    * read path as compaction), so NDVs describe the LOGICAL table.
    * Columns of unsupported type are skipped silently.
    */
  def analyzeTable(spark: SparkSession, cat: GraftCatalog, ident: Identifier,
      columns: Seq[String] = Seq.empty, mode: String = "full"): Seq[ColumnNdv] = {
    import org.apache.datasketches.memory.Memory
    import org.apache.datasketches.theta.Sketch
    import org.apache.spark.sql.types._
    val storage = cat.storage
    val txn = Graft.beginTransaction(storage)
    val ns = ident.namespace()(0)
    val t = ident.name()
    val td = Graft.describeTable(storage, txn, ns, t)
    val meta = TableMetadata.read(storage, td.metadataLocation)
    val headSnap = meta.currentSnapshot
    val schema = org.apache.spark.sql.types.DataType.fromJson(meta.schemaJson)
      .asInstanceOf[StructType]
    def supported(dt: DataType): Boolean = dt match {
      case LongType | IntegerType | ShortType | ByteType | StringType |
           DoubleType | FloatType | DateType | TimestampType |
           TimestampNTZType => true
      case _ => false
    }
    val cols = (if (columns.nonEmpty) schema.fields.toSeq
        .filter(f => columns.contains(f.name))
      else schema.fields.toSeq).filter(f => supported(f.dataType))
    require(cols.nonEmpty, "analyze: no supported columns selected")
    require(mode == "full" || mode == "incremental",
      s"analyze: unknown mode '$mode' (full | incremental)")
    if (mode == "incremental")
      incrementalAnalyze(spark, cat, txn, ns, t, td, meta, schema, cols)
        .foreach(return _) // invalid delta (rewrites, new deletes, no
    //                        prior stats, legacy ref) → full re-analyze
    val current = headSnap
      .map(graft.format.Manifests.filesOf(storage, _)).getOrElse(Seq.empty)
    val dataRoot = storage.absolute(FileLocations.tableDataDir(ns, t))
    val df = graft.spark.MorDeletes.readEntries(spark, schema, Some(dataRoot),
      current.map(f => (storage.absolute(f.path), f)),
      headSnap.map(_.deletes).getOrElse(Seq.empty),
      headSnap.map(_.posDeletes).getOrElse(Seq.empty)
        .map(p => storage.absolute(p.path)),
      eqDeletes = headSnap.map(_.eqDeletes).getOrElse(Seq.empty)
        .map(p => (storage.absolute(p.path), p)),
      posDeleteBytes =
        headSnap.map(_.posDeletes).getOrElse(Seq.empty).map(_.sizeBytes).sum)
      .select(cols.map(f => org.apache.spark.sql.functions.col(f.name)): _*)
    val types = cols.map(_.dataType)
    val merged: Map[Int, Array[Byte]] = sketchPass(df, types)
    val snapId = meta.currentSnapshotId
    val seq = headSnap.map(_.seq).getOrElse(0L)
    val (fieldIds, _) = graft.spark.IcebergFieldIds.assign(schema,
      td.properties)

    // ---- column bounds, null counts, equi-depth histograms ----
    // Bounds + boundaries come from ONE map-side-combined aggregate
    // job over every column; per-bin distinct estimates come from ONE
    // explode + HLL++ job over the numeric columns together (partials
    // combine map-side, so the shuffle carries sketches per (column,
    // bin) per partition — constant in row count). Spark's CBO reads
    // min/max/nullCount for filter selectivity and join sizing, and
    // the histogram for selectivity on skewed columns.
    import org.apache.spark.sql.{functions => F}
    val probs = (0 to HistogramBins).map(_.toDouble / HistogramBins)
    val boundsAggs = cols.flatMap { f =>
      val c = F.col(f.name)
      Seq(F.min(c), F.max(c),
        F.sum(F.when(c.isNull, 1L).otherwise(0L)),
        if (histable(f.dataType))
          F.percentile_approx(histInput(f),
            F.lit(probs.toArray), F.lit(10000))
        else F.lit(null),
        // value widths for variable-length columns (CBO row-size
        // estimates — broadcast thresholds on string-heavy tables);
        // fixed-width types derive their width from the type
        if (f.dataType == StringType) F.avg(F.length(c)) else F.lit(null),
        if (f.dataType == StringType)
          F.max(F.length(c)).cast(LongType)
        else F.lit(null))
    } :+ F.count(F.lit(1))
    val bRow = df.agg(boundsAggs.head, boundsAggs.tail: _*).collect()(0)
    val logicalRows = bRow.getLong(bRow.length - 1)
    val histBoundsOf: Map[Int, Seq[Double]] = cols.indices.flatMap { i =>
      if (!histable(cols(i).dataType) || bRow.isNullAt(6 * i + 3)) None
      else {
        val bs = bRow.getSeq[Double](6 * i + 3)
        // a (near-)constant column has nothing to histogram
        if (bs.distinct.size < 2) None else Some(i -> bs)
      }
    }.toMap
    val binNdv: Map[(Int, Int), Long] = binNdvJob(df, histBoundsOf, cols)

    val results = cols.indices.map { i =>
      val bytes = merged(i)
      val ndv = math.round(Sketch.wrap(Memory.wrap(bytes)).getEstimate)
      val phys = graft.spark.ColumnMapping.physicalName(cols(i))
      val nulls = if (bRow.isNullAt(6 * i + 2)) 0L // empty table: sum is null
        else bRow.getLong(6 * i + 2)
      // strings are excluded from served bounds (CBO range estimation
      // is numeric-only; file-level stats already carry string bounds)
      val (mn, mx) = cols(i).dataType match {
        case StringType => (None, None)
        case _ =>
          (statString(bRow.get(6 * i)), statString(bRow.get(6 * i + 1)))
      }
      val avgLen =
        if (bRow.isNullAt(6 * i + 4)) -1L
        else math.round(bRow.getDouble(6 * i + 4))
      val maxLen =
        if (bRow.isNullAt(6 * i + 5)) -1L else bRow.getLong(6 * i + 5)
      val hb = histBoundsOf.getOrElse(i, Seq.empty)
      val hn = if (hb.isEmpty) Seq.empty[Long]
        else (0 until HistogramBins).map(j => binNdv.getOrElse((i, j), 0L))
      val hh = if (hb.isEmpty) 0.0
        else (logicalRows - nulls).toDouble / HistogramBins
      AnalyzeCol(cols(i).name, fieldIds.getOrElse(phys, i + 1), bytes, ndv,
        phys, mn, mx, nulls, hb.map(_.toString), hn, hh, avgLen, maxLen)
    }
    persistStats(cat, txn, ns, t, snapId, seq, results, logicalRows)
  }

  /** Incremental ANALYZE: theta sketches are mergeable, so stats can
    * refresh by sketching ONLY the files appended since the last
    * ANALYZE and unioning with the persisted sketch bytes — at 100 TB
    * the table is never re-scanned for a stats refresh, only the
    * delta is. Valid only over an ADDITIVE, delete-stable snapshot
    * chain (appends never fall inside older predicates' sequence
    * scope, older position deletes bind to older paths, older
    * equality deletes bind strictly below the new files' sequence, so
    * the delta's raw content IS its logical content); anything else —
    * rewrites, new deletes, expired prior snapshot, legacy ref
    * without bounds, changed column set — returns None and the caller
    * runs a full analyze. Bounds and null counts merge exactly;
    * string widths merge as a weighted average over LOGICAL row
    * counts; HISTOGRAM bounds carry over with a rescaled height while
    * the delta stays in range, and rebuild per-column (a column-pruned
    * logical-table scan) when the delta's bounds drift outside the
    * prior range by more than a bin width.
    */
  private def incrementalAnalyze(spark: SparkSession, cat: GraftCatalog,
      txn: graft.txn.Transaction, ns: String, t: String,
      td: graft.objects.TableDef, meta: TableMetadata,
      schema: org.apache.spark.sql.types.StructType,
      cols: Seq[org.apache.spark.sql.types.StructField])
      : Option[Seq[ColumnNdv]] = {
    import org.apache.datasketches.memory.Memory
    import org.apache.datasketches.theta.{SetOperation, Sketch}
    import org.apache.spark.sql.{functions => F}
    import org.apache.spark.sql.types._
    val storage = cat.storage
    val st = meta.stats.getOrElse(return None)
    val prev = meta.findSnapshot(storage, st.snapshotId).getOrElse(return None)
    val cur = meta.currentSnapshot.getOrElse(return None)
    val between = meta.allSnapshots(storage)
      .filter(s => s.seq > prev.seq && s.seq <= cur.seq)
    if (!between.forall(s => graft.spark.GraftTable.AdditiveOps(s.operation)))
      return None
    if (cur.deletes != prev.deletes || cur.posDeletes != prev.posDeletes ||
        cur.eqDeletes != prev.eqDeletes) return None
    // refs that predate the logical row count can't weight avgLen or
    // size histogram heights correctly under carried-over deletes
    if (st.logicalRows < 0) return None
    val priorByPhys = st.blobs.filter(_.column.nonEmpty)
      .map(b => b.column -> b).toMap
    val phys = cols.map(graft.spark.ColumnMapping.physicalName)
    if (phys.toSet != priorByPhys.keySet) return None
    if (phys.exists(p => priorByPhys(p).nullCount < 0)) return None // legacy
    val (fieldIds, _) = graft.spark.IcebergFieldIds.assign(schema,
      td.properties)
    val puffin = graft.format.Puffin.read(storage.read(st.path))
    val priorSk: Map[Int, Array[Byte]] = cols.indices.flatMap { i =>
      val fid = fieldIds.getOrElse(phys(i), i + 1)
      puffin.blobs.find(_.fields == Seq(fid))
        .map(b => i -> puffin.blobData(b))
    }.toMap
    if (priorSk.size != cols.size) return None // blob/field-id drift

    val prevPaths = graft.format.Manifests.filesOf(storage, prev)
      .map(_.path).toSet
    val delta = graft.format.Manifests.filesOf(storage, cur)
      .filterNot(f => prevPaths(f.path))
    val types = cols.map(_.dataType)
    val (deltaSk, bRow) =
      if (delta.isEmpty)
        (Map.empty[Int, Array[Byte]], null: org.apache.spark.sql.Row)
      else {
        val dataRoot = storage.absolute(FileLocations.tableDataDir(ns, t))
        val df = graft.spark.MorDeletes.readEntries(spark, schema,
          Some(dataRoot), delta.map(f => (storage.absolute(f.path), f)),
          Seq.empty, Seq.empty, eqDeletes = Seq.empty, posDeleteBytes = 0L)
          .select(cols.map(f => F.col(f.name)): _*)
        val aggs = cols.flatMap { f =>
          val c = F.col(f.name)
          Seq(F.min(c), F.max(c),
            F.sum(F.when(c.isNull, 1L).otherwise(0L)),
            if (f.dataType == StringType) F.avg(F.length(c)) else F.lit(null),
            if (f.dataType == StringType)
              F.max(F.length(c)).cast(LongType)
            else F.lit(null))
        } :+ F.count(F.lit(1))
        (sketchPass(df, types), df.agg(aggs.head, aggs.tail: _*).collect()(0))
      }
    val deltaRows = if (bRow == null) 0L else bRow.getLong(bRow.length - 1)

    // keep the SMALLER/LARGER original stat string (numeric text on
    // both sides — strings never carry bounds). A legacy-persisted
    // non-numeric bound ("NaN" before statString filtered it) degrades
    // to unknown rather than aborting the refresh.
    def better(a: Option[String], b: Option[String],
        takeLow: Boolean): Option[String] = (a, b) match {
      case (Some(x), Some(y)) =>
        try {
          val c = BigDecimal(x).compare(BigDecimal(y))
          Some(if ((c <= 0) == takeLow) x else y)
        } catch { case _: NumberFormatException => None }
      case (x, None) => x
      case (None, y) => y
    }
    val curLogical = st.logicalRows + deltaRows

    // ---- histogram drift detection ----
    // Carried-over boundaries with a rescaled height are fine while
    // the delta stays inside the analyzed range; an append EXTENDING
    // the range (the normal case for time columns — precisely the
    // histogrammed pruning columns) would pile every new value into
    // an edge bin. When the delta's bounds fall outside the prior
    // histogram's range by more than a bin width, rebuild THAT
    // column's histogram over the logical table (a column-pruned
    // scan); everything else still merges incrementally.
    val deltaMinMax: Seq[(Option[String], Option[String])] =
      cols.indices.map { i =>
        cols(i).dataType match {
          case StringType => (None, None)
          case _ if bRow == null => (None, None)
          case _ =>
            (statString(bRow.get(5 * i)), statString(bRow.get(5 * i + 1)))
        }
      }
    def asDouble(o: Option[String]): Option[Double] =
      o.flatMap(s => try Some(s.toDouble)
        catch { case _: NumberFormatException => None })
    val drifted: Seq[Int] = cols.indices.filter { i =>
      val p = priorByPhys(phys(i))
      p.histBounds.size >= 2 && {
        val first = p.histBounds.head.toDouble
        val last = p.histBounds.last.toDouble
        val w = (last - first) / (p.histBounds.size - 1)
        asDouble(deltaMinMax(i)._1).exists(_ < first - w) ||
          asDouble(deltaMinMax(i)._2).exists(_ > last + w)
      }
    }
    val (newBounds, newBinNdv) =
      if (drifted.isEmpty)
        (Map.empty[Int, Seq[Double]], Map.empty[(Int, Int), Long])
      else {
        val dataRoot = storage.absolute(FileLocations.tableDataDir(ns, t))
        val all = graft.format.Manifests.filesOf(storage, cur)
        val fullDf = graft.spark.MorDeletes.readEntries(spark, schema,
          Some(dataRoot), all.map(f => (storage.absolute(f.path), f)),
          cur.deletes,
          cur.posDeletes.map(p => storage.absolute(p.path)),
          eqDeletes = cur.eqDeletes.map(p => (storage.absolute(p.path), p)),
          posDeleteBytes = cur.posDeletes.map(_.sizeBytes).sum)
          .select(cols.map(f => F.col(f.name)): _*)
        val bounds = histBoundaries(fullDf, drifted.map(i => i -> cols(i)))
        (bounds, binNdvJob(fullDf, bounds, cols))
      }

    val results = cols.indices.map { i =>
      val p = priorByPhys(phys(i))
      val mergedSk = deltaSk.get(i) match {
        case None => priorSk(i)
        case Some(d) =>
          val u = SetOperation.builder().buildUnion()
          u.union(Memory.wrap(priorSk(i))); u.union(Memory.wrap(d))
          u.getResult.toByteArray
      }
      val ndv = math.round(Sketch.wrap(Memory.wrap(mergedSk)).getEstimate)
      val dNulls = if (bRow == null || bRow.isNullAt(5 * i + 2)) 0L
        else bRow.getLong(5 * i + 2)
      val nulls = p.nullCount + dNulls
      val (dMin, dMax) = deltaMinMax(i)
      val mn = better(p.min, dMin, takeLow = true)
      val mx = better(p.max, dMax, takeLow = false)
      val (avgLen, maxLen) =
        if (cols(i).dataType != StringType) (-1L, -1L)
        else {
          // LOGICAL prior row count: Snapshot.totalRows counts raw
          // data-file rows, which over-weights the prior average when
          // the chain carries merge-on-read deletes
          val prevNN = math.max(0L, st.logicalRows - p.nullCount)
          val dNN = deltaRows - dNulls
          val dAvg = if (bRow == null || bRow.isNullAt(5 * i + 3)) 0.0
            else bRow.getDouble(5 * i + 3)
          val dMaxL = if (bRow == null || bRow.isNullAt(5 * i + 4)) -1L
            else bRow.getLong(5 * i + 4)
          val avg =
            if (p.avgLen < 0) { if (dNN > 0) math.round(dAvg) else -1L }
            else if (prevNN + dNN <= 0) -1L
            else math.round(
              (p.avgLen.toDouble * prevNN + dAvg * dNN) / (prevNN + dNN))
          (avg, math.max(p.maxLen, dMaxL))
        }
      val (hb, hn, hh) = newBounds.get(i) match {
        case Some(bs) => // drift rebuild: fresh boundaries + bin NDVs
          (bs.map(_.toString),
            (0 until HistogramBins).map(j =>
              newBinNdv.getOrElse((i, j), 0L)),
            math.max(0L, curLogical - nulls).toDouble / HistogramBins)
        case None if drifted.contains(i) =>
          // rebuild degenerated (<2 distinct boundaries) → no histogram
          (Seq.empty[String], Seq.empty[Long], 0.0)
        case None if p.histBounds.isEmpty =>
          (Seq.empty[String], Seq.empty[Long], 0.0)
        case None => // in-range delta: carry boundaries, rescale height
          (p.histBounds, p.histNdv,
            math.max(0L, curLogical - nulls).toDouble /
              math.max(1, p.histNdv.size))
      }
      AnalyzeCol(cols(i).name, fieldIds.getOrElse(phys(i), i + 1), mergedSk,
        ndv, phys(i), mn, mx, nulls, hb, hn, hh, avgLen, maxLen)
    }
    Some(persistStats(cat, txn, ns, t, cur.id, cur.seq, results, curLogical))
  }

  /** Write the Puffin statistics file + metadata ref for `results` and
    * commit; shared by full and incremental ANALYZE.
    */
  private def persistStats(cat: GraftCatalog, txn: graft.txn.Transaction,
      ns: String, t: String, snapId: Long, seq: Long,
      results: Seq[AnalyzeCol], logicalRows: Long): Seq[ColumnNdv] = {
    val storage = cat.storage
    val puffin = graft.format.Puffin.write(
      results.map { r =>
        graft.format.Puffin.Blob("apache-datasketches-theta-v1", Seq(r.fid),
          snapId, seq, r.bytes,
          Map("ndv" -> r.ndv.toString, "null_count" -> r.nulls.toString) ++
            r.min.map("lower_bound" -> _) ++ r.max.map("upper_bound" -> _) ++
            (if (r.avgLen >= 0) Map("avg_len" -> r.avgLen.toString,
              "max_len" -> r.maxLen.toString) else Map.empty[String, String]) ++
            (if (r.histBounds.isEmpty) Map.empty[String, String]
             else Map("histogram-bounds" -> r.histBounds.mkString(","),
               "histogram-ndv" -> r.histNdv.mkString(","),
               "histogram-height" -> r.histHeight.toString)))
      }, createdBy = "graft-analyze")
    val statsRel =
      s"${GraftCatalog.tableManifestDir(ns, t)}/stats-$snapId.puffin"
    storage.overwrite(statsRel, puffin) // re-analyze replaces in place
    val ref = graft.format.StatsFileRef(statsRel, snapId,
      puffin.length.toLong, graft.format.Puffin.footerSize(puffin).toLong,
      results.map { r =>
        graft.format.StatsBlobRef("apache-datasketches-theta-v1", Seq(r.fid),
          seq, r.ndv, r.phys, r.min, r.max, r.nulls,
          r.histBounds, r.histNdv, r.histHeight, r.avgLen, r.maxLen)
      }, logicalRows = logicalRows)
    commitMetaEdit(cat, ns, t, "analyze", Some(txn))((_, _, m) =>
      m.copy(stats = Some(ref)))
    results.map(r => ColumnNdv(r.name, r.ndv))
  }

  /** One theta UpdateSketch per column per partition (constant
    * executor memory), compact bytes merged associatively — KBs to
    * the driver at any row count.
    */
  private def sketchPass(df: org.apache.spark.sql.DataFrame,
      types: Seq[org.apache.spark.sql.types.DataType])
      : Map[Int, Array[Byte]] = {
    import org.apache.datasketches.memory.Memory
    import org.apache.datasketches.theta.{SetOperation, UpdateSketch}
    import org.apache.spark.sql.types._
    df.rdd.mapPartitions { it =>
      val sk = Array.fill(types.length)(UpdateSketch.builder().build())
      it.foreach { row =>
        var i = 0
        while (i < types.length) {
          if (!row.isNullAt(i)) types(i) match {
            case LongType => sk(i).update(row.getLong(i))
            case IntegerType => sk(i).update(row.getInt(i).toLong)
            case ShortType => sk(i).update(row.getShort(i).toLong)
            case ByteType => sk(i).update(row.getByte(i).toLong)
            case StringType => sk(i).update(row.getString(i))
            case DoubleType => sk(i).update(row.getDouble(i))
            case FloatType => sk(i).update(row.getFloat(i).toDouble)
            case DateType => row.get(i) match {
              case d: java.sql.Date => sk(i).update(d.toLocalDate.toEpochDay)
              case d: java.time.LocalDate => sk(i).update(d.toEpochDay)
              case other => sk(i).update(other.toString)
            }
            case _ => // timestamps arrive as java.sql.Timestamp / Instant
              sk(i).update(row.get(i).toString)
          }
          i += 1
        }
      }
      sk.iterator.zipWithIndex.map { case (s, i) => (i, s.compact().toByteArray) }
    }.reduceByKey { (a, b) =>
      val u = SetOperation.builder().buildUnion()
      u.union(Memory.wrap(a)); u.union(Memory.wrap(b))
      u.getResult.toByteArray
    }.collectAsMap().toMap
  }

  /** Stat-string encoding shared with DataFileEntry min/maxValues:
    * numeric text, dates as epoch days, timestamps as epoch micros.
    */
  private def statString(v: Any): Option[String] = v match {
    case null => None
    // non-finite doubles have no orderable bound (Spark's max treats
    // NaN as greatest): persisting "NaN"/"Infinity" would feed the CBO
    // garbage and abort the next incremental merge's numeric compare
    case d: java.lang.Double if d.isNaN || d.isInfinite => None
    case f: java.lang.Float if f.isNaN || f.isInfinite => None
    case d: java.sql.Date => Some(d.toLocalDate.toEpochDay.toString)
    case d: java.time.LocalDate => Some(d.toEpochDay.toString)
    case ts: java.sql.Timestamp =>
      Some((math.floorDiv(ts.getTime, 1000L) * 1000000L +
        ts.getNanos / 1000L).toString)
    case i: java.time.Instant =>
      Some((i.getEpochSecond * 1000000L + i.getNano / 1000L).toString)
    case dt: java.time.LocalDateTime =>
      statString(dt.toInstant(java.time.ZoneOffset.UTC))
    case n: java.lang.Number => Some(n.toString)
    case _ => None
  }

  /** Equi-depth histogram bin count ANALYZE produces per numeric
    * column (Spark's own ANALYZE default is 254; 16 keeps the metadata
    * document small while still separating a skewed column's hot range
    * from its tail).
    */
  val HistogramBins = 16

  private def histable(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case LongType | IntegerType | ShortType | ByteType | DoubleType |
           FloatType | DateType | TimestampType | TimestampNTZType => true
      case _ => false
    }
  }

  /** Histogram input as a double in the column's CATALYST-internal
    * scale — dates as epoch days, timestamps as epoch micros — so the
    * persisted bin bounds compare directly against the internal values
    * the CBO's estimation converts filter literals to. Time columns
    * are THE pruning columns of a 100 TB corpus; histograms on them
    * size date-range scans, not just numeric ones.
    */
  private def histInput(f: org.apache.spark.sql.types.StructField)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.{functions => F}
    f.dataType match {
      case DateType => F.unix_date(F.col(f.name)).cast(DoubleType)
      case TimestampType => F.unix_micros(F.col(f.name)).cast(DoubleType)
      case TimestampNTZType => // UTC session: NTZ → LTZ cast is lossless
        F.unix_micros(F.col(f.name).cast(TimestampType)).cast(DoubleType)
      case _ => F.col(f.name).cast(DoubleType)
    }
  }

  private def binExpr(v: org.apache.spark.sql.Column, bs: Seq[Double])
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.{functions => F}
    // bin j ⇔ value ≤ boundary j+1 (first match wins); values above
    // the last boundary (approx-percentile drift) land in the top bin
    bs.tail.dropRight(1).zipWithIndex
      .foldRight(F.lit(bs.size - 2)) { case ((b, j), rest) =>
        F.when(v <= b, j).otherwise(rest)
      }
  }

  /** Equi-depth boundaries (HistogramBins+1 internal-scale doubles)
    * for the given (column-index, field) pairs — ONE approx-percentile
    * job over `df`. Degenerate (<2 distinct boundaries) columns drop
    * out, same as the full-ANALYZE path.
    */
  private def histBoundaries(df: org.apache.spark.sql.DataFrame,
      items: Seq[(Int, org.apache.spark.sql.types.StructField)])
      : Map[Int, Seq[Double]] = {
    import org.apache.spark.sql.{functions => F}
    if (items.isEmpty) return Map.empty
    val probs = (0 to HistogramBins).map(_.toDouble / HistogramBins)
    val aggs = items.map { case (_, f) =>
      F.percentile_approx(histInput(f), F.lit(probs.toArray), F.lit(10000)) }
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    items.zipWithIndex.flatMap { case ((i, _), k) =>
      if (row.isNullAt(k)) None
      else {
        val bs = row.getSeq[Double](k)
        if (bs.distinct.size < 2) None else Some(i -> bs)
      }
    }.toMap
  }

  /** Per-(column-index, bin) distinct estimates for every histogrammed
    * column together — ONE explode + HLL++ job (partials combine
    * map-side; the shuffle carries sketches per (column, bin) per
    * partition, constant in row count). Shared by full ANALYZE and the
    * incremental path's drift rebuilds.
    */
  private def binNdvJob(df: org.apache.spark.sql.DataFrame,
      boundsOf: Map[Int, Seq[Double]],
      cols: Seq[org.apache.spark.sql.types.StructField])
      : Map[(Int, Int), Long] = {
    import org.apache.spark.sql.{functions => F}
    if (boundsOf.isEmpty) return Map.empty
    val histEntries = boundsOf.toSeq.sortBy(_._1).map { case (i, bs) =>
      F.struct(F.lit(i).as("ci"),
        binExpr(histInput(cols(i)), bs).as("bin"),
        histInput(cols(i)).as("v"))
    }
    df.select(F.explode(F.array(histEntries: _*)).as("e"))
      .filter(F.col("e.v").isNotNull)
      .groupBy(F.col("e.ci"), F.col("e.bin"))
      .agg(F.approx_count_distinct(F.col("e.v")).as("nd"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2))
      .toMap
  }

  private final case class AnalyzeCol(name: String, fid: Int,
      bytes: Array[Byte], ndv: Long, phys: String, min: Option[String],
      max: Option[String], nulls: Long, histBounds: Seq[String],
      histNdv: Seq[Long], histHeight: Double, avgLen: Long, maxLen: Long)

  /** Above this many live files the data-dir orphan scan runs as a
    * Spark job (prefix-parallel LIST + shuffle anti-join) instead of
    * a driver-side recursive listing + in-memory set difference. At
    * 100 TB (10⁶–10⁷ objects) the driver never holds the file
    * inventory; it holds one first-level prefix list.
    */
  val OrphanScanDriverMax = 4096L

  /** Data files under the table's directory — and manifest segments
    * under its manifests dir — that no retained snapshot references
    * (a commit that lost its root race leaves both: the replay writes
    * fresh ones). Returns the removed (or, with dryRun, removable)
    * relative paths.
    */
  def removeOrphanFiles(cat: GraftCatalog, ident: Identifier,
      dryRun: Boolean = false,
      distributeOver: Long = OrphanScanDriverMax): Seq[String] = {
    val storage = cat.storage
    val txn = Graft.beginTransaction(storage)
    val ns = ident.namespace()(0)
    val td = Graft.describeTable(storage, txn, ns, ident.name())
    val meta = TableMetadata.read(storage, td.metadataLocation)
    val history = meta.allSnapshots(storage)
    val dataDir = FileLocations.tableDataDir(ns, ident.name())
    // position- and equality-delete objects are .parquet under the
    // data dir too — ones pending at any retained snapshot are LIVE
    // references, not orphans. Inline entries and pending-delete lists
    // are driver-small by construction; only segment manifests and the
    // recursive data listing grow with the table.
    val inlineRef = history.flatMap(_.files).map(_.path) ++
      history.flatMap(_.posDeletes).map(_.path) ++
      history.flatMap(_.eqDeletes).map(_.path)
    val segKeys = history.flatMap(_.manifests).distinct
    val sconf = storage.reopenConf
    val spark = org.apache.spark.sql.SparkSession.getActiveSession
      .filter(_ => sconf.reopenable)
      .filter(_ =>
        history.map(_.totalFiles).maxOption.getOrElse(0L) > distributeOver)
    val orphanData: Seq[String] = spark match {
      case Some(s) =>
        // prefix-parallel scan: the driver lists ONE directory level,
        // executors list their prefixes and read their manifest
        // segments, and the set difference is a shuffle anti-join —
        // no task (and no driver) ever holds the full inventory
        val sc = s.sparkContext
        val prefixes = storage.listCommonPrefixes(dataDir)
        val par = math.max(1, math.min(
          math.max(prefixes.size, segKeys.size), sc.defaultParallelism * 2))
        val topLevel = storage.listPrefix(dataDir) // files at the root
        val onDisk = sc.parallelize(prefixes, par).mapPartitions { it =>
          val st = sconf.create()
          it.flatMap(p => st.listDeep(p).filter(_.endsWith(".parquet")))
        } ++ sc.parallelize(topLevel.filter(_.endsWith(".parquet")),
          math.max(1, math.min(topLevel.size, par)))
        val live = (if (segKeys.isEmpty) sc.emptyRDD[String]
          else sc.parallelize(segKeys, math.min(segKeys.size, par))
            .mapPartitions { it =>
              val st = sconf.create()
              it.flatMap(k => graft.format.Manifests.read(st, k).map(_.path))
            }) ++ sc.parallelize(inlineRef.distinct,
            math.max(1, math.min(math.max(inlineRef.size, 1), par)))
        onDisk.subtract(live).collect().toSeq.sorted
      case None =>
        val referenced = inlineRef.toSet ++
          segKeys.flatMap(graft.format.Manifests.read(storage, _))
            .map(_.path)
        storage.listDeep(dataDir).filter(_.endsWith(".parquet"))
          .filterNot(referenced)
    }
    val refManifests = segKeys.toSet
    val refSnaplogs = meta.snapshotLog.map(_.key).toSet
    val manifestDirList =
      storage.listDeep(GraftCatalog.tableManifestDir(ns, ident.name()))
    // derived Iceberg-REST objects (serve/IcebergManifests) are keyed
    // by snapshot key (ml-<id>-<hash>, m-inline-<id>-<hash>,
    // del-<id>-<hash>; bare ml-<id> in the legacy scheme), graft
    // segment basename (m-<uuid>), or source delete-object basename
    // (pd-<uuid>/ed-<uuid> transcodes): ones whose source
    // snapshot/segment/object is gone are regenerable garbage —
    // without this they accumulate forever under a table served over
    // REST. An UNPARSEABLE basename is retained, never deleted: an
    // unrecognized or future-format file must not be destroyed by a
    // cleaner that cannot attribute it.
    val liveSnapKeys: Set[String] = history.flatMap(s =>
      Seq(s.id.toString, graft.serve.IcebergManifests.snapshotKey(s))).toSet
    val segBases = refManifests.map(k =>
      k.substring(k.lastIndexOf('/') + 1).stripSuffix(".manifest.json"))
    val delObjBases = (history.flatMap(_.posDeletes).map(_.path) ++
      history.flatMap(_.eqDeletes).map(_.path))
      .map(k => k.substring(k.lastIndexOf('/') + 1).stripSuffix(".parquet"))
      .toSet
    // garbage iff the basename parses as a snapshot key (`<id>` or
    // `<id>-<hex8>`) AND no retained snapshot owns it — a retained id
    // with a foreign hash is a previous table incarnation's artifact
    def expiredSnapKey(s: String): Boolean = {
      val idPart = s.takeWhile(_ != '-')
      val hashPart = if (s.length > idPart.length) s.drop(idPart.length + 1)
        else ""
      val parseable = idPart.nonEmpty && idPart.forall(_.isDigit) &&
        (hashPart.isEmpty ||
          (hashPart.length == 8 && hashPart.forall(c =>
            c.isDigit || (c >= 'a' && c <= 'f'))))
      parseable && !liveSnapKeys(s)
    }
    val derivedOrphans = storage
      .listDeep(s"data/$ns/${ident.name()}/meta/iceberg")
      .filter { p =>
        val base = p.substring(p.lastIndexOf('/') + 1)
        if (base.endsWith(".avro")) {
          if (base.startsWith("m-inline-"))
            expiredSnapKey(base.stripPrefix("m-inline-").stripSuffix(".avro"))
          else if (base.startsWith("ml-"))
            expiredSnapKey(base.stripPrefix("ml-").stripSuffix(".avro"))
          else if (base.startsWith("del-"))
            expiredSnapKey(base.stripPrefix("del-").stripSuffix(".avro"))
          else if (base.startsWith("deq-"))
            expiredSnapKey(base.stripPrefix("deq-").stripSuffix(".avro"))
          else if (base.startsWith("m-"))
            !segBases.contains(base.stripPrefix("m-").stripSuffix(".avro"))
          else false
        } else if (base.endsWith(".parquet") && base.startsWith("pq-"))
          // materialized predicate deletes are snapshot-keyed
          expiredSnapKey(base.drop(3).stripSuffix(".parquet"))
        else if (base.endsWith(".parquet") && base.startsWith("pd-pq-"))
          // their transcodes attribute through the snapshot key too
          // (the synthetic source is not a pending delete object)
          expiredSnapKey(base.drop(6).stripSuffix(".parquet")
            .replaceAll("-s\\d+$", ""))
        else if (base.endsWith(".parquet") &&
            (base.startsWith("pd-") || base.startsWith("ed-")))
          // pd- transcodes may carry a per-partition split suffix
          // (pd-<srcbase>-s<i>): attribute by the SOURCE object's
          // basename
          !delObjBases.contains(
            base.drop(3).stripSuffix(".parquet")
              .replaceAll("-s\\d+$", ""))
        else false
      }
    val orphans = orphanData ++
      // bloom sidecars ride with their data file: the listing filters
      // `.parquet` so live sidecars are never candidates, and an
      // orphaned file's sidecar leaves with it
      orphanData.map(graft.format.FileBloom.sidecarKey).filter(storage.exists) ++
      manifestDirList.filter(_.endsWith(".manifest.json"))
        .filterNot(refManifests) ++
      manifestDirList.filter(_.endsWith(".snaplog.json"))
        .filterNot(refSnaplogs) ++
      derivedOrphans
    if (!dryRun && orphans.nonEmpty) storage.deleteBatch(orphans)
    orphans
  }

  /** Metadata-only import of existing parquet files into a table — no
    * data copy (the migration path for users switching an existing
    * parquet lake onto the catalog; analog of Iceberg's add_files).
    * Footer stats are harvested so imported files prune like native
    * ones. The files must already live under the catalog root.
    */
  def importFiles(cat: GraftCatalog, ident: Identifier,
      relPaths: Seq[String]): Int = {
    val storage = cat.storage
    val txn = Graft.beginTransaction(storage)
    val ns = ident.namespace()(0)
    val entries = relPaths.map { rel =>
      // size + footer exclusively through StorageOps — against a real
      // bucket the footer read goes via a local read handle, never a
      // filesystem path assumption
      val stats = graft.format.ParquetStats.read(
        storage.prepareToReadLocal(rel).toString)
      DataFileEntry(rel, stats.rowCount, storage.sizeOf(rel),
        stats.minValues, stats.maxValues, stats.nullCounts)
    }
    commitSnapshot(cat, txn, ns, ident.name(), "import",
      graft.format.AppendFiles(entries))
    entries.size
  }

  /** Export one catalog version to another storage prefix as a
    * standalone catalog at version 0 (reference: whole-catalog
    * snapshot export, docs/format.md:284-326). Copies the root
    * (rebased to v0, history pointers dropped), reachable node files,
    * object defs, the catalog def, and table-metadata documents;
    * `copyData` additionally copies the referenced parquet files so
    * the export is fully self-contained. Returns files copied.
    */
  def exportSnapshot(cat: GraftCatalog, version: Long,
      dest: graft.storage.StorageOps, copyData: Boolean = true,
      name: Option[String] = None): Int = {
    val storage = cat.storage
    val latest = TreeOps.findLatestRoot(storage)
      .getOrElse(throw new IllegalStateException("catalog does not exist"))
    val target = TreeOps.findRootForVersion(storage, latest, version)
    if (target ne latest) latest.close()
    try exportAtRoot(cat, target, dest, copyData, name)
    finally target.close()
  }

  private def exportAtRoot(cat: GraftCatalog, target: graft.tree.TreeRoot,
      dest: graft.storage.StorageOps, copyData: Boolean,
      name: Option[String]): Int = {
    val storage = cat.storage
    var copied = 0
    def copy(rel: String): Unit = {
      dest.overwrite(rel, storage.read(rel)); copied += 1
    }
    copy(target.catalogDefPath)
    reachableNodes(storage, target.path.get).foreach(copy)
    // defs + table metadata (+ data)
    TreeOps.traverse(storage, target).foreach { row =>
      val defPath = row.value.get
      copy(defPath)
      if (ObjectKeys.isTableKey(row.key)) {
        val td = Json.read(storage.read(defPath), classOf[TableDef])
        copy(td.metadataLocation)
        val meta = TableMetadata.read(storage, td.metadataLocation)
        meta.snapshotLog.map(_.key).foreach(copy)
        val history = meta.allSnapshots(storage)
        history.flatMap(_.manifests).distinct.foreach(copy)
        if (copyData) {
          history
            .flatMap(graft.format.Manifests.filesOf(storage, _))
            .map(_.path).distinct.foreach(copy)
        }
      }
    }
    // rebased v0 root
    val exportRoot = TreeOps.loadRoot(storage, target.path.get)
    try {
      exportRoot.version = 0L
      exportRoot.previousRootPath = None
      exportRoot.rollbackFromRootPath = None
      TreeOps.writeRootAt(dest, exportRoot,
        graft.objects.FileLocations.rootNodePath(0L))
    } finally exportRoot.close()
    dest.overwrite(graft.objects.FileLocations.LatestVersionHint, "0".getBytes)
    dest.overwrite(graft.objects.FileLocations.OldestVersionHint, "0".getBytes)
    // a NAMED export is recorded in the source catalog definition
    // (docs/format.md:305-308); string VERSION AS OF resolves the name
    // to the exported root — the files stay reachable in the source
    // (minimal/partial exports rely on this for retention)
    name.foreach { n =>
      val rootPath = target.path.get
      Graft.updateCatalogDef(storage, cd => cd.copy(
        exportedSnapshots = cd.exportedSnapshots + (n -> rootPath)))
    }
    copied + 1
  }

  /** Catalog-history expiration: delete root-version files older than
    * the newest `keepLast` versions (bounding the time-travel horizon)
    * together with node files reachable ONLY from expired roots.
    * The live root chain is never touched.
    */
  def expireCatalogVersions(cat: GraftCatalog, keepLast: Int): Int = {
    val storage = cat.storage
    val latest = TreeOps.findLatestRoot(storage).getOrElse(return 0)
    val (chain, pinnedRoots) =
      try (TreeOps.collectRootsWhile(storage, latest)(_ => true)(
          r => (r.version, r.path.get)),
        Graft.catalogDef(storage, latest).exportedSnapshots.values.toSet)
      finally latest.close()
    val (keep, pastHorizon) = chain.splitAt(keepLast)
    // a NAMED catalog export pins its root past the horizon: `VERSION
    // AS OF '<name>'` must keep resolving, and copy_data=false exports
    // rely on source retention for shared metadata/data files — the
    // pinned root file and every node it reaches survive (reachable by
    // direct path even below the oldest-version hint)
    val (pinnedExpired, expire) = pastHorizon.partition(v => pinnedRoots(v._2))
    if (expire.isEmpty) return 0
    val keepNodes = (keep ++ pinnedExpired)
      .flatMap(v => reachableNodes(storage, v._2)).toSet
    val deletable = expire.flatMap { case (_, path) =>
      path +: reachableNodes(storage, path).filterNot(keepNodes).toSeq
    }
    storage.deleteBatch(deletable.distinct)
    // the spec's guaranteed-oldest hint (docs/format.md:213-216):
    // version-based time travel below this floor fails fast
    keep.lastOption.foreach(oldest => storage.overwrite(
      graft.objects.FileLocations.OldestVersionHint,
      oldest._1.toString.getBytes("UTF-8")))
    expire.size
  }

  private def reachableNodes(storage: graft.storage.StorageOps,
      rootPath: String): Seq[String] = {
    val root = TreeOps.loadRoot(storage, rootPath)
    try {
      val out = Seq.newBuilder[String]
      def walk(nodePath: Option[String]): Unit = nodePath.foreach { p =>
        out += p
        val node = TreeOps.loadNode(storage, p)
        try {
          walk(node.leftmostChildPath)
          node.mergedRows.foreach(r => walk(r.child))
        } finally node.close()
      }
      walk(root.node.leftmostChildPath)
      root.node.mergedRows.foreach(r => walk(r.child))
      out.result()
    } finally root.close()
  }

  /** Name the table's current (or a given historic) snapshot so reads
    * can pin it with `VERSION AS OF '<name>'` — a durable ref that
    * survives later commits (Iceberg-tag semantics). Returns the
    * tagged snapshot id.
    */
  def createTag(cat: GraftCatalog, ident: Identifier, name: String,
      snapshotId: Long = -1L): Long = {
    require(name.nonEmpty && !name.forall(_.isDigit),
      s"tag name must be non-numeric (numeric versions are catalog roots): $name")
    var tagged = -1L
    commitMetaEdit(cat, ident.namespace()(0), ident.name(), "create-tag") {
      (s, _, meta) =>
        val sid = if (snapshotId >= 0) snapshotId else meta.currentSnapshotId
        require(meta.findSnapshot(s, sid).isDefined,
          s"no such snapshot to tag: $sid")
        require(!meta.refs.contains(name), s"tag already exists: $name")
        tagged = sid
        meta.copy(refs = meta.refs + (name -> sid))
    }
    tagged
  }

  /** Roll a table back to an earlier snapshot by COMMITTING a new
    * snapshot that restores the target's ENTIRE state — inventory AND
    * pending merge-on-read state (delete predicates, position deltas,
    * equality deletes), original sequences included, so a target that
    * carried unmaterialized deletes reads byte-identical after the
    * rollback (nothing is resurrected, nothing duplicated). History
    * stays linear: the rolled-back-over snapshots remain readable by
    * id/tag until expiration, nothing is deleted, and a second
    * rollback can undo the first. The metadata-only operator
    * mistake-eraser: fat-finger DELETE at 100 TB, one O(metadata)
    * commit to recover.
    */
  def rollbackToSnapshot(cat: GraftCatalog, ident: Identifier,
      snapshotId: Long): Long = {
    val storage = cat.storage
    val txn = Graft.beginTransaction(storage)
    val ns = ident.namespace()(0)
    val td = Graft.describeTable(storage, txn, ns, ident.name())
    val meta = TableMetadata.read(storage, td.metadataLocation)
    val target = meta.findSnapshot(storage, snapshotId).getOrElse(
      throw new IllegalArgumentException(
        s"no such snapshot to roll back to: $snapshotId (expired?)"))
    // snapshots are immutable — the target state can't change under a
    // commit race, so the RestoreSnapshot edit replays safely; the
    // edit reuses the target's manifest segments verbatim (O(1)
    // metadata — no inventory flatten, no manifest writes)
    commitSnapshot(cat, txn, ns, ident.name(), "rollback",
      graft.format.RestoreSnapshot(target))
    target.id
  }

  /** Cherry-pick ONE snapshot's delta onto the current main head — the
    * write-audit-publish completion for a DIVERGED branch, where
    * `fastForward` refuses: the audited commit applies without taking
    * the rest of the branch. Additive snapshots only (append / import /
    * streaming upsert): their delta is the added files (plus, for an
    * upsert, its equality-delete object — re-sequenced on commit, so
    * it replaces keys across ALL files now older than the pick, exactly
    * upsert semantics). Rewrites (overwrite/delete/compact) don't
    * cherry-pick — their delta is entangled with the inventory they
    * observed.
    */
  def cherryPickSnapshot(cat: GraftCatalog, ident: Identifier,
      snapshotId: Long): Long = {
    val storage = cat.storage
    val txn = Graft.beginTransaction(storage)
    val ns = ident.namespace()(0)
    val td = Graft.describeTable(storage, txn, ns, ident.name())
    val meta = TableMetadata.read(storage, td.metadataLocation)
    val target = meta.findSnapshot(storage, snapshotId).getOrElse(
      throw new IllegalArgumentException(
        s"no such snapshot to cherry-pick: $snapshotId (expired?)"))
    val additive = Set("append", "import", "upsert")
    require(additive(target.operation),
      s"cherry-pick supports additive snapshots only (append/import/" +
        s"upsert); snapshot $snapshotId is a ${target.operation}")
    val parentFiles = meta.findSnapshot(storage, target.parentId)
      .map(p => graft.format.Manifests.filesOf(storage, p).map(_.path).toSet)
      .getOrElse(Set.empty[String])
    val added = graft.format.Manifests.filesOf(storage, target)
      .filterNot(f => parentFiles(f.path))
    val present = meta.currentFiles(storage).map(_.path).toSet
    val dup = added.map(_.path).filter(present)
    require(dup.isEmpty,
      "cherry-pick target's files are already in the current state " +
        s"(picked twice, or already fast-forwarded?): ${dup.take(3).mkString(", ")}")
    val parentEq = meta.findSnapshot(storage, target.parentId)
      .map(_.eqDeletes.map(_.path).toSet).getOrElse(Set.empty[String])
    val newEq = target.eqDeletes.filterNot(e => parentEq(e.path))
    val edit =
      if (newEq.isEmpty) graft.format.AppendFiles(added)
      else graft.format.AddUpsert(added, newEq)
    commitSnapshot(cat, txn, ns, ident.name(),
      if (newEq.isEmpty) "cherrypick" else "upsert", edit)
    snapshotId
  }

  /** Re-segment the current snapshot's manifest list: full inventory,
    * path-sorted, chunked into `chunk`-entry segments — one
    * metadata-only commit, zero data movement. Heals the
    * one-delta-per-append shape of a long commit history (bounded
    * object count for scan planning) and restores path clustering so
    * partition-targeted rewrites touch few segments. Returns the
    * segment count after.
    */
  def rewriteManifests(cat: GraftCatalog, ident: Identifier,
      chunk: Int = graft.format.Manifests.MergeChunk): Long = {
    require(chunk > 0, s"chunk must be positive: $chunk")
    val storage = cat.storage
    val txn = Graft.beginTransaction(storage)
    val ns = ident.namespace()(0)
    commitSnapshot(cat, txn, ns, ident.name(), "rewrite-manifests",
      graft.format.RewriteManifests(chunk))
    val td2 = Graft.describeTable(storage,
      Graft.beginTransaction(storage), ns, ident.name())
    TableMetadata.read(storage, td2.metadataLocation)
      .currentSnapshot.map(_.manifests.size.toLong).getOrElse(0L)
  }

  /** Zero-copy FORK: create `dest` as an independent table whose
    * initial snapshot references `source`'s current data files — no
    * data moves (at 100 TB the fork is an O(metadata) commit). The
    * source's pending merge-on-read state (predicate, position, and
    * equality deletes) is carried verbatim, entry sequences included,
    * so the fork reads byte-identical to the source at fork time;
    * manifest OBJECTS are copied into the fork's own manifest dir
    * (metadata-sized) so each table owns its metadata outright, while
    * data/delete objects stay shared. Writes to either table never
    * touch the other (fresh commits land in each table's own data
    * dir), and the fork's orphan scan only walks its own data dir so
    * shared files are out of its reach by construction. One caveat,
    * same as Iceberg's `snapshot` procedure: maintenance on the
    * SOURCE that deletes expired data files cannot see fork
    * references — expire+remove_orphans on the source can break a
    * long-lived fork. Returns the file count referenced.
    */
  def snapshotTable(cat: GraftCatalog, source: Identifier,
      dest: Identifier): Long = {
    val storage = cat.storage
    val txn = Graft.beginTransaction(storage)
    val srcNs = source.namespace()(0)
    val dstNs = dest.namespace()(0)
    val td = Graft.describeTable(storage, txn, srcNs, source.name())
    val meta = TableMetadata.read(storage, td.metadataLocation)
    val now = System.currentTimeMillis()
    val snap0 = meta.currentSnapshot.map { s =>
      val destDir = GraftCatalog.tableManifestDir(dstNs, dest.name())
      val remapped = s.manifests.map { m =>
        val key = s"$destDir/${java.util.UUID.randomUUID()}.manifest.json"
        storage.overwrite(key, storage.read(m))
        key
      }
      s.copy(id = 1L, parentId = -1L, timestampMillis = now,
        operation = "snapshot", manifests = remapped)
    }
    val props = td.properties +
      ("graft.snapshot-source" -> s"$srcNs.${source.name()}")
    val destMeta = TableMetadata(
      schemaJson = meta.schemaJson,
      currentSnapshotId = snap0.map(_.id).getOrElse(-1L),
      snapshots = snap0.toSeq,
      properties = props)
    val metaPath = FileLocations.tableMetadataPath(dstNs, dest.name())
    TableMetadata.write(storage, metaPath, destMeta)
    Graft.createTable(storage, txn, graft.objects.TableDef(dest.name(),
      dstNs, metadataLocation = metaPath, properties = props))
    Graft.commitTransaction(storage, txn)
    snap0.map(_.totalFiles).getOrElse(0L)
  }

  /** Register an EXISTING metadata document as a catalog table — the
    * disaster-recovery / hand-off path (a metadata doc from an export,
    * a dropped table whose objects survive, a doc shipped from another
    * catalog on the same storage). No objects are copied or rewritten:
    * the def simply points at the document, whose property mirror
    * (written by create/alter since it exists) reconstructs the
    * partition spec and table properties. Returns the snapshot count
    * now reachable.
    */
  def registerTable(cat: GraftCatalog, ident: Identifier,
      metadataLocationIn: String): Long = {
    val storage = cat.storage
    // absolute locations (e.g. export_iceberg's return value) map back
    // onto storage-relative keys; relative ones pass through
    val metadataLocation =
      if (metadataLocationIn.startsWith(storage.root))
        metadataLocationIn.stripPrefix(storage.root).stripPrefix("/")
      else metadataLocationIn
    val doc = storage.read(metadataLocation)
    if (graft.serve.IcebergStatic.isIcebergMetadata(doc)) {
      // an ICEBERG metadata.json: adopt its current snapshot's live
      // files through the static-format bridge (same path as the REST
      // register endpoint)
      val txn = Graft.beginTransaction(storage)
      graft.serve.IcebergStatic.importTable(storage, txn,
        ident.namespace()(0), ident.name(), metadataLocation)
      Graft.commitTransaction(storage, txn)
      return 1L
    }
    // read validates the document before anything is committed
    val meta = TableMetadata.read(storage, metadataLocation)
    val txn = Graft.beginTransaction(storage)
    Graft.createTable(storage, txn, graft.objects.TableDef(ident.name(),
      ident.namespace()(0), metadataLocation = metadataLocation,
      properties = meta.properties))
    Graft.commitTransaction(storage, txn)
    meta.totalSnapshots
  }

  /** Export the table's current state as a static Iceberg table
    * ([[graft.serve.IcebergStatic.export]]); returns the ABSOLUTE
    * metadata.json location an external engine (or `register_table`)
    * can be pointed at.
    */
  def exportIceberg(cat: GraftCatalog, ident: Identifier): String = {
    val rel = graft.serve.IcebergStatic.export(cat.storage,
      ident.namespace()(0), ident.name())
    cat.storage.absolute(rel)
  }

  /** Remove a tag; the snapshot itself stays until expiration. */
  def dropTag(cat: GraftCatalog, ident: Identifier, name: String): Long = {
    var dropped = -1L
    commitMetaEdit(cat, ident.namespace()(0), ident.name(), "drop-tag") {
      (_, _, meta) =>
        dropped = meta.refs.getOrElse(name,
          throw new IllegalArgumentException(s"no such tag: $name"))
        meta.copy(refs = meta.refs - name)
    }
    dropped
  }

  /** Create a BRANCH: a movable ref starting at `snapshotId` (default
    * current). Writes through `<table>$branch_<name>` advance it; main
    * is untouched until `fastForward` publishes it — the
    * write-audit-publish staging workflow as first-class refs.
    */
  def createBranch(cat: GraftCatalog, ident: Identifier, name: String,
      snapshotId: Long = -1L): Long = {
    require(name.nonEmpty && !name.forall(_.isDigit),
      s"branch name must be non-numeric: $name")
    var head = -1L
    commitMetaEdit(cat, ident.namespace()(0), ident.name(), "create-branch") {
      (s, _, meta) =>
        val sid = if (snapshotId >= 0) snapshotId else meta.currentSnapshotId
        require(meta.findSnapshot(s, sid).isDefined,
          s"no such snapshot to branch from: $sid")
        require(!meta.branches.contains(name) && !meta.refs.contains(name),
          s"ref already exists: $name")
        head = sid
        meta.copy(branches = meta.branches + (name -> sid))
    }
    head
  }

  /** Remove a branch; its unpublished snapshots expire like any
    * others once unreferenced.
    */
  def dropBranch(cat: GraftCatalog, ident: Identifier, name: String): Long = {
    var dropped = -1L
    commitMetaEdit(cat, ident.namespace()(0), ident.name(), "drop-branch") {
      (_, _, meta) =>
        dropped = meta.branches.getOrElse(name,
          throw new IllegalArgumentException(s"no such branch: $name"))
        meta.copy(branches = meta.branches - name)
    }
    dropped
  }

  /** Publish a branch: main fast-forwards to the branch head, which
    * requires main to be an ANCESTOR of it (the branch saw everything
    * main has). Divergence is refused — rebase the branch (re-stage)
    * instead; there is no implicit merge.
    */
  def fastForward(cat: GraftCatalog, ident: Identifier, name: String)
      : (Long, Long) = {
    var result = (-1L, -1L)
    commitMetaEdit(cat, ident.namespace()(0), ident.name(), "fast-forward") {
      (s, _, meta) =>
        val head = meta.branches.getOrElse(name,
          throw new IllegalArgumentException(s"no such branch: $name"))
        // walk the parent chain head → main
        var cur = head
        var found = cur == meta.currentSnapshotId
        while (!found && cur >= 0) {
          cur = meta.findSnapshot(s, cur).map(_.parentId).getOrElse(-1L)
          found = cur == meta.currentSnapshotId
        }
        require(found || meta.currentSnapshotId < 0,
          s"main has diverged from branch $name: fast-forward impossible " +
            s"(main=${meta.currentSnapshotId}, head=$head)")
        result = (meta.currentSnapshotId, head)
        meta.copy(currentSnapshotId = head)
    }
    result
  }

  private def commitSnapshot(cat: GraftCatalog, txn: graft.txn.Transaction,
      ns: String, table: String, op: String,
      edit: graft.format.FilesEdit,
      branch: Option[String] = None): Unit =
    commitEdit(cat, txn, ns, table, op)(
      GraftCatalog.applyFilesCommit(_, _, ns, table, op, edit, branch))

  /** Commit one table-metadata transformation through the optimistic
    * catalog transaction (rebase replays re-apply `f` on the winner
    * root, same as every other commit).
    */
  private def commitMetaEdit(cat: GraftCatalog, ns: String, table: String,
      op: String, existingTxn: Option[graft.txn.Transaction] = None)(
      f: (graft.storage.StorageOps, TableDef, TableMetadata) => TableMetadata)
      : Unit =
    commitEdit(cat, existingTxn.getOrElse(Graft.beginTransaction(cat.storage)),
      ns, table, op)(GraftCatalog.editTable(_, _, ns, table)(f))

  private def commitEdit(cat: GraftCatalog, txn: graft.txn.Transaction,
      ns: String, table: String, op: String)(
      apply: (graft.storage.StorageOps, graft.tree.TreeRoot) => Unit): Unit = {
    GraftCatalog.stageTableEdit(cat.storage, txn, ns, table,
      graft.txn.ActionType.TableUpdate, Map("op" -> op))(apply)
    Graft.commitTransaction(cat.storage, txn)
  }
}
