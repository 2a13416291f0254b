package graft.spark

import graft.format.{DataFileEntry, DeletePredicate, EqDeleteFile}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{And, Coalesce, Expression, Literal, Not}
import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
import org.apache.spark.sql.types.StructType

/** Merge-on-read delete mechanics shared by the scan path, the
  * copy-on-write rewrite paths, compaction, and CDC.
  *
  * A mor DELETE commits a PREDICATE (physical column names, SQL text)
  * instead of rewriting files. A predicate with sequence S applies to
  * exactly the files whose entry.seq <= S — the files that existed when
  * the delete committed; later appends are untouched. A row survives a
  * read when every applicable predicate is NOT TRUE (SQL DELETE removes
  * only rows where the condition is TRUE — NULL keeps the row).
  *
  * At 100 TB this turns a sparse delete from a terabyte rewrite into
  * one small metadata commit; the residual filter rides every read of
  * the covered files until a rewrite or compaction materializes it.
  */
private[graft] object MorDeletes {

  /** Predicates that apply to a file added at `fileSeq`. */
  def applicable(deletes: Seq[DeletePredicate], fileSeq: Long)
      : Seq[DeletePredicate] =
    deletes.filter(_.seq >= fileSeq)

  /** Equality deletes that apply to a file added at `fileSeq` —
    * STRICTLY newer only (an upsert epoch never deletes its own rows).
    */
  def applicableEq(eqDeletes: Seq[EqDeleteFile], fileSeq: Long)
      : Seq[EqDeleteFile] =
    eqDeletes.filter(_.seq > fileSeq)

  /** Does any pending predicate bite any of these files? */
  def pending(deletes: Seq[DeletePredicate],
      entries: Seq[DataFileEntry]): Boolean =
    deletes.nonEmpty && entries.exists(f => applicable(deletes, f.seq).nonEmpty)

  /** Partition `entries` by their applicable-predicate list. Group
    * count is bounded by the number of distinct delete epochs (≤
    * pending predicates + 1), not by file count. Deterministic order:
    * fewest predicates first (the untouched group leads).
    */
  def groups[A](entries: Seq[(A, DataFileEntry)],
      deletes: Seq[DeletePredicate])
      : Seq[(Seq[DeletePredicate], Seq[(A, DataFileEntry)])] =
    entries.groupBy(e => applicable(deletes, e._2.seq))
      .toSeq.sortBy(_._1.length)

  /** Catalyst survive-condition: AND over predicates of
    * NOT(coalesce(pred, false)). Columns stay names (physical);
    * [[MorDeleteReader]] binds them to its read schema.
    */
  def keepExpr(spark: SparkSession, preds: Seq[DeletePredicate]): Expression =
    preds.map(p => Not(deletedExpr(spark, p)): Expression).reduce(And(_, _))

  /** TRUE exactly for the rows `p` deletes: coalesce(pred, false). */
  def deletedExpr(spark: SparkSession, p: DeletePredicate): Expression =
    Coalesce(Seq(spark.sessionState.sqlParser.parseExpression(p.sql),
      Literal(false)))

  /** Column names a predicate list reads (physical). */
  def referencedColumns(spark: SparkSession,
      preds: Seq[DeletePredicate]): Seq[String] =
    preds.flatMap { p =>
      spark.sessionState.sqlParser.parseExpression(p.sql).collect {
        case u: UnresolvedAttribute => u.nameParts.last
      }
    }.distinct

  /** DataFrame survive-filter (physical column names in scope). */
  def keepColumn(preds: Seq[DeletePredicate]): Column =
    preds.map(p => not(coalesce(expr(p.sql), lit(false)))).reduce(_ && _)

  /** Assemble the full merge-on-read read plan over `kept` files as
    * concatenable [[Batch]]es — the ONE place the two scan paths (the
    * table scan and the copy-on-write row-level scan) build their
    * delete-aware reads, so predicate deletes and position deletes can
    * never drift apart between them.
    *
    * Each group's pending deletes — predicate, equality and position —
    * apply in ONE [[MorDeleteReader]] pass; a group with none keeps the
    * plain (columnar-capable) delegate read and never pays for the
    * row-index column unless `_pos` itself was requested.
    *
    * Row layout contract: delegate rows are `physRequired ++ [rix if
    * needed] ++ [eq-key and predicate-only extras]`; the reader projects
    * extras away, and rix too unless `hasPos` (rix then IS the `_pos`
    * output), `_file` tags last. Output rows are
    * `data ++ [_pos] ++ [_file]`.
    */
  def morBatches(
      spark: SparkSession,
      kept: Seq[(String, DataFileEntry)],
      deletes: Seq[DeletePredicate],
      posByNorm: Map[String, Seq[String]],
      eqDeletes: Seq[(String, EqDeleteFile)],
      physSchema: StructType,
      physRequired: StructType,
      partCols: Seq[String],
      hasFile: Boolean,
      hasPos: Boolean,
      delegateScan: (Seq[(String, DataFileEntry)],
        StructType) =>
        org.apache.spark.sql.connector.read.Scan,
      // group SKELETON source: when runtime filtering can narrow
      // `kept` between builds, pass the FULL candidate set here so
      // every build yields the same group list (narrowed-away groups
      // become empty placeholder batches) — a reader factory built
      // from one build then dispatches partitions of another correctly
      structureFrom: Option[Seq[(String, DataFileEntry)]] = None)
      : Seq[org.apache.spark.sql.connector.read.Batch] = {
    import org.apache.spark.sql.graft.SparkInternals
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    val structural = structureFrom.getOrElse(kept)
    val keptAbs = kept.map(_._1).toSet
    // output width: data ++ [_pos]; `_file` tags right after
    val fileTagOrdinal = physRequired.length + (if (hasPos) 1 else 0)
    // the delegated parquet scan returns requested data fields in
    // request order but Hive-partition fields LAST (in spec order);
    // everything below works per-ordinal over the REQUEST order, so
    // mismatching delegate rows are reordered right above the delegate
    val partSet = partCols.toSet
    def naturalOf(req: StructType): StructType = StructType(
      req.fields.filterNot(f => partSet(f.name)) ++
        partCols.flatMap(c => req.fields.find(_.name == c)))
    def delegateBatch(es: Seq[(String, DataFileEntry)], req: StructType)
        : org.apache.spark.sql.connector.read.Batch = {
      val b = delegateScan(es, req).toBatch
      val nat = naturalOf(req)
      if (nat == req) b else SparkInternals.reorderedBatch(b, nat, req)
    }
    // one read schema per group: `physRequired ++ [rix if needed] ++
    // [eq-key extras] ++ [predicate extras]` — columns the projection
    // pruned are still READ for the test, then projected away
    def buildGroup(es: Seq[(String, DataFileEntry)], cov: Boolean,
        preds: Seq[DeletePredicate],
        eqs: Seq[(String, EqDeleteFile)])
        : org.apache.spark.sql.connector.read.Batch = {
      val dataPhys =
        if (hasPos || cov) StructType(physRequired.fields :+
          MorDeleteReader.rowIndexField)
        else physRequired
      val extra = (eqs.flatMap(_._2.cols) ++ referencedColumns(spark, preds))
        .distinct.filterNot(dataPhys.fieldNames.contains)
        .filter(physSchema.fieldNames.contains)
      val readPhys = StructType(dataPhys.fields ++ extra.map(physSchema(_)))
      val base = delegateBatch(es, readPhys)
      val tagged =
        if (preds.isEmpty && eqs.isEmpty && !cov) base
        else MorDeleteReader.batch(base, readPhys, fileTagOrdinal, conf,
          keep = if (preds.isEmpty) None
            else Some(keepExpr(spark, preds)),
          eqAnti = eqs,
          positions = if (!cov) None else Some(PositionTest(
            physRequired.length, p => posByNorm.getOrElse(p, Seq.empty))))
      if (hasFile) SparkInternals.fileTaggedBatch(tagged, fileTagOrdinal)
      else tagged
    }

    // files group by (predicate epoch × applicable equality-delete
    // set × position-delete coverage) — group count is bounded by
    // distinct delete epochs, never by file count; the no-delete group
    // keeps the plain columnar read. Grouping runs over `structural`
    // so the group LIST is identical across rebuilds; each group then
    // reads only its currently-kept files (a group runtime filtering
    // narrowed away keeps its slot as an empty placeholder, so a
    // reader factory from one build dispatches another build's
    // partitions correctly).
    groups(structural, deletes).filter(_._2.nonEmpty).flatMap { case (preds, esPred) =>
      esPred.groupBy(e => applicableEq(eqDeletes.map(_._2), e._2.seq)
          .map(_.path)).toSeq.sortBy(_._1.length)
        .flatMap { case (eqPaths, esAll) =>
          val eqs = eqPaths.map(p => eqDeletes.find(_._2.path == p).get)
          val (covered, uncovered) = esAll.partition(e =>
            posByNorm.contains(GraftMetadataColumns.norm(e._1)))
          Seq((covered, true), (uncovered, false))
            .filter(_._1.nonEmpty).map { case (esStructural, cov) =>
              val es = esStructural.filter(e => keptAbs(e._1))
              if (es.isEmpty) EmptyBatch
              else buildGroup(es, cov, preds, eqs)
            }
        }
    }
  }

  /** Index pending position deletes against the files a scan keeps:
    * data-file path AS THE `_file` COLUMN RENDERS IT (URI path of the
    * absolute location) → the ABS paths of the delete objects
    * referencing it.
    */
  def posIndex(kept: Seq[(String, DataFileEntry)],
      posDeletes: Seq[(String, graft.format.PosDeleteFile)])
      : Map[String, Seq[String]] = {
    if (posDeletes.isEmpty) return Map.empty
    val byRel = posDeletes.flatMap { case (abs, p) =>
      p.dataFiles.map(_ -> abs)
    }.groupBy(_._1).view.mapValues(_.map(_._2).distinct).toMap
    kept.flatMap { case (abs, e) =>
      byRel.get(e.path).map(GraftMetadataColumns.norm(abs) -> _)
    }.toMap
  }

  /** Helper column names for the (file, pos) row id in DataFrame-level
    * reads (v1 path, `_metadata`): unlikely to collide with user
    * columns; dropped before the result leaves this object unless the
    * caller asked to keep them.
    */
  val GFile = "_graft_file"
  val GPos = "_graft_pos"

  /** `_metadata.file_path` (scheme-qualified URI) → the URI *path*,
    * exactly as the `_file` column / [[SparkInternals.partitionFilePath]]
    * render it — so DataFrame-level joins against position-delete
    * objects match on identical strings.
    */
  def normFilePathColumn: Column = {
    import org.apache.spark.sql.functions.regexp_replace
    regexp_replace(
      regexp_replace(org.apache.spark.sql.functions.col("_metadata.file_path"),
        "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]*", ""),
      "^[a-zA-Z][a-zA-Z0-9+.-]*:", "")
  }

  /** Broadcast a delete-object frame only while its aggregate size is
    * comfortably bounded; past the threshold leave the strategy to the
    * planner (shuffle anti-join). A long-running upsert stream can
    * accumulate key objects past driver/broadcast limits before
    * compaction — an unconditional broadcast hint would then OOM the
    * driver on a path whose whole point is to avoid rewrites.
    */
  val BroadcastBytesMax: Long = 64L << 20
  val BroadcastBytesMaxConf = "graft.mor.broadcast-bytes-max"

  def maybeBroadcast(df: DataFrame, totalBytes: Long): DataFrame = {
    val max = df.sparkSession.conf.getOption(BroadcastBytesMaxConf)
      .map(_.toLong).getOrElse(BroadcastBytesMax)
    if (totalBytes <= max) org.apache.spark.sql.functions.broadcast(df)
    else df
  }

  /** Read `entries` (absolute path, entry) as ONE DataFrame under
    * `physSchema`, with every applicable pending delete applied —
    * predicate deletes as residual filters, equality deletes as
    * null-safe anti-joins on their key columns, position deletes
    * (`posDeleteAbs`: the delete objects' absolute paths) as a
    * distributed anti-join on `(file, row_index)`. This is the read
    * every rewrite path (copy-on-write row ops, compaction, CDC) must
    * use so logically-deleted rows never resurrect through a rewrite.
    * With `exposePos` the result keeps [[GFile]]/[[GPos]] columns for
    * callers that need the row id (CDC joins).
    */
  def readEntries(spark: SparkSession,
      physSchema: org.apache.spark.sql.types.StructType,
      basePath: Option[String],
      entries: Seq[(String, DataFileEntry)],
      deletes: Seq[DeletePredicate],
      posDeleteAbs: Seq[String] = Seq.empty,
      exposePos: Boolean = false,
      eqDeletes: Seq[(String, EqDeleteFile)] = Seq.empty,
      posDeleteBytes: Long = 0L): DataFrame = {
    import org.apache.spark.sql.functions.col
    val needPos = posDeleteAbs.nonEmpty || exposePos
    // partition-spec evolution: files of different epochs have
    // different directory layouts — ONE read across them would trip
    // Spark's partition discovery, so each layout reads separately and
    // the unions are positional under the same physSchema. Files of a
    // zero-copy fork / registered table live under ANOTHER table's
    // data dir: each file's partition values must resolve against its
    // OWN layout root, so grouping (and the basePath option) is
    // per-root — a single caller-supplied base would null the
    // partition columns of foreign-root files, and a rewrite reading
    // them would persist the nulls.
    def rootOf(p: String): Option[String] = basePath
      .filter(b => p.startsWith(if (b.endsWith("/")) b else b + "/"))
      .orElse(GraftScanBuilder.dataRootOf(p))
    def read(paths: Seq[String]): DataFrame =
      paths.groupBy { p =>
        val root = rootOf(p)
        (root, root.map(PartitionTransforms.layoutOf(p, _))
          .getOrElse(Seq.empty))
      }
        .toSeq.sortBy { case ((root, layout), _) =>
          root.getOrElse("") + "|" + layout.mkString(",") }
        .map { case ((root, _), ps) =>
          val r0 = spark.read.schema(physSchema)
          val r = root.map(b => r0.option("basePath", b)).getOrElse(r0)
          val raw = r.parquet(ps: _*)
          val df =
            if (!needPos) raw
            else raw.withColumn(GFile, normFilePathColumn)
              .withColumn(GPos, col("_metadata.row_index"))
          // partition columns surface LAST per group regardless of the
          // requested order — re-select by name so the cross-epoch
          // union is positionally aligned
          df.select((physSchema.fieldNames.toSeq ++
            (if (needPos) Seq(GFile, GPos) else Nil)).map(col): _*)
        }.reduce(_ unionAll _)
    if (entries.isEmpty) {
      val schema =
        if (!exposePos) physSchema
        else org.apache.spark.sql.types.StructType(physSchema.fields ++ Seq(
          org.apache.spark.sql.types.StructField(GFile,
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField(GPos,
            org.apache.spark.sql.types.LongType)))
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }
    // equality deletes bind by sequence like predicates do: sub-group
    // each predicate epoch by applicable eq set, anti-join each
    // sub-group against the (broadcast) key objects — null-safe
    // equality, so a null key component matches a null key
    def applyEq(df: DataFrame, eqs: Seq[(String, EqDeleteFile)]): DataFrame =
      eqs.groupBy(_._2.cols).foldLeft(df) { case (d, (cols, objs)) =>
        val keys = maybeBroadcast(
          spark.read.parquet(objs.map(_._1): _*)
            .select(cols.map(col): _*)
            .toDF(cols.map("__eqk_" + _): _*),
          objs.map(_._2.sizeBytes).sum)
        d.join(keys,
          cols.map(c => d(c) <=> keys("__eqk_" + c)).reduce(_ && _),
          "left_anti")
      }
    val base = groups(entries, deletes).flatMap { case (preds, esPred) =>
      esPred.groupBy(e =>
          applicableEq(eqDeletes.map(_._2), e._2.seq).map(_.path))
        .toSeq.sortBy(_._1.length).map { case (eqPaths, es) =>
          val df0 = read(es.map(_._1))
          val df = if (preds.isEmpty) df0 else df0.filter(keepColumn(preds))
          applyEq(df, eqPaths.map(p => eqDeletes.find(_._2.path == p).get))
        }
    }.reduce(_ unionAll _)
    val posApplied =
      if (posDeleteAbs.isEmpty) base
      else {
        // delete objects are usually tiny next to data files —
        // broadcast them so the anti-join never shuffles the data
        // side; bounded so an accumulation of deltas can't OOM the
        // driver (callers pass the aggregate size; 0 = trusted-small)
        val dels = maybeBroadcast(
          spark.read.parquet(posDeleteAbs: _*)
            .select(col("file"), col("pos")), posDeleteBytes)
        base.join(dels,
          base(GFile) === dels("file") && base(GPos) === dels("pos"),
          "left_anti")
      }
    if (exposePos) posApplied
    else if (needPos) posApplied.drop(GFile, GPos)
    else posApplied
  }
}
