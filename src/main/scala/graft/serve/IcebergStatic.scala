package graft.serve

import com.fasterxml.jackson.databind.JsonNode
import graft.catalog.Graft
import graft.format.{AppendFiles, DataFileEntry, TableMetadata}
import graft.objects.{FileLocations, Json}
import graft.spark.GraftCatalog
import graft.storage.StorageOps
import graft.txn.{ActionType, Transaction}
import org.apache.spark.sql.types.{DataType, StructType}

/** Static Iceberg-format interchange WITHOUT the REST server: export a
  * graft table as a self-contained Iceberg v2 `metadata.json` (plus
  * `version-hint.text`, the HadoopTables convention), and import an
  * Iceberg `metadata.json` as a live graft table.
  *
  * The reference's table payload IS an `iceberg_metadata_location`
  * (proto/objects.proto:58-69) — its tables are Iceberg metadata
  * documents by definition. graft replaces that indirection with its
  * own snapshot log internally ([[TableMetadata]]); this bridge
  * recovers the reference's interchange property: any engine that can
  * read a static Iceberg table (a metadata.json path) can read an
  * exported graft table with no graft code and no server, and a table
  * written by an external Iceberg writer can be ADOPTED by pointing
  * the register endpoint at its metadata.json — the migration path the
  * reference gets for free from its format choice.
  *
  * Export serves the real manifest tree ([[IcebergManifests.ensure]])
  * — every servable snapshot, delete manifests for pending
  * merge-on-read state included. Import adopts the CURRENT snapshot's
  * live file inventory as a fresh table (one append snapshot, same
  * posture as Iceberg's own snapshot/migrate procedures): history is
  * the source table's concern, correctness of adopted state is ours.
  * Identity-partitioned specs are adopted when the file layout is
  * Hive-style (always true for graft exports), keeping pruning; a
  * current snapshot carrying delete files, or a non-identity
  * transform, is refused rather than silently misread (graft plans
  * partition values from paths — a transform's derived values have no
  * such recovery).
  */
object IcebergStatic {

  /** Relative directory holding exported metadata documents. */
  def metadataDir(ns: String, table: String): String =
    s"data/$ns/$table/meta/iceberg/metadata"

  private val VersionRe = """v(\d+)\.metadata\.json""".r

  /** Export the table's current state as a static Iceberg table.
    * Writes `v<N>.metadata.json` (N = one past the highest existing
    * export) and overwrites `version-hint.text`, returning the
    * metadata document's storage-relative path. Idempotent per state:
    * each call writes a NEW version, so concurrent exporters never
    * clobber each other (the atomic create arbitrates N).
    */
  def export(storage: StorageOps, ns: String, table: String): String = {
    val txn = Graft.beginTransaction(storage)
    try exportIn(storage, txn, ns, table)
    finally txn.close()
  }

  def exportIn(storage: StorageOps, txn: Transaction, ns: String,
      table: String): String = {
    val td = Graft.describeTable(storage, txn, ns, table)
    val raw = TableMetadata.read(storage, td.metadataLocation)
    val meta = raw.copy(snapshots = raw.allSnapshots(storage),
      snapshotLog = Seq.empty)
    require(!meta.currentSnapshot.exists(IcebergManifests.unservable),
      s"table $ns.$table has pending merge-on-read PREDICATE deletes and " +
        "no co-located Spark session exists to materialize them; run " +
        "compact_table first")
    val schema = DataType.fromJson(meta.schemaJson).asInstanceOf[StructType]
    val partCols = td.properties.get(GraftCatalog.PartitionColsProp)
      .map(_.split(',').toSeq.filter(_.nonEmpty)).getOrElse(Seq.empty)
    val manifests =
      IcebergManifests.ensure(storage, ns, table, meta, schema, partCols)
    val dir = metadataDir(ns, table)
    var n = storage.listPrefix(dir + "/").flatMap { rel =>
      rel.substring(rel.lastIndexOf('/') + 1) match {
        case VersionRe(v) => Some(v.toInt)
        case _ => None
      }
    }.maxOption.getOrElse(0) + 1
    val bytes = (rel: String) => IcebergRest.loadTableResult(td, meta,
      storage.absolute(rel),
      storage.absolute(FileLocations.tableDataDir(ns, table)),
      manifests.manifestLists,
      meta.stats.map(st => storage.absolute(st.path))).getBytes("UTF-8")
    // the static document is the LoadTableResult's `metadata` object
    def metadataBytes(rel: String): Array[Byte] = {
      val full = Json.mapper.readTree(new String(bytes(rel), "UTF-8"))
      full.get("metadata").toString.getBytes("UTF-8")
    }
    var rel = s"$dir/v$n.metadata.json"
    var written = false
    while (!written) {
      try { storage.writeAtomic(rel, metadataBytes(rel)); written = true }
      catch {
        case _: Exception if storage.exists(rel) =>
          // a concurrent exporter took this version — advance
          n += 1; rel = s"$dir/v$n.metadata.json"
      }
    }
    storage.overwrite(s"$dir/version-hint.text",
      n.toString.getBytes("UTF-8"))
    rel
  }

  /** True when `doc` parses as an Iceberg table-metadata document (vs
    * graft's own TableMetadata JSON).
    */
  def isIcebergMetadata(doc: Array[Byte]): Boolean =
    try {
      val node = Json.mapper.readTree(doc)
      node.hasNonNull("format-version") &&
        (node.hasNonNull("schemas") || node.hasNonNull("schema"))
    } catch { case _: Exception => false }

  /** Import an Iceberg metadata.json (v1 or v2, under the catalog
    * root) as table `ns.name` in `txn`: the current snapshot's live
    * data files become one append snapshot over the document's current
    * schema. IDENTITY-partitioned specs are adopted when every data
    * file's path carries Hive-style `col=value` segments for every
    * partition column (graft's own layout — always true for exported
    * graft tables); the adopted table keeps the partition columns, so
    * partition pruning survives the round trip. Throws
    * IllegalArgumentException (→ HTTP 400) for shapes the adoption
    * cannot represent: non-identity transforms, non-Hive file layouts,
    * delete manifests in the current snapshot, paths outside the
    * catalog root, or missing data files.
    */
  def importTable(storage: StorageOps, txn: Transaction, ns: String,
      name: String, metadataRel: String): Unit = {
    val node = Json.mapper.readTree(storage.read(metadataRel))
    val fv = node.path("format-version").asInt(-1)
    require(fv == 1 || fv == 2, s"unsupported format-version $fv")
    val schema = currentSchema(node)
    val partCols = identityPartitionCols(node)
    partCols.foreach(c => require(schema.fieldNames.contains(c),
      s"partition source column $c is not in the table schema"))
    val curId = node.path("current-snapshot-id").asLong(-1L)
    val files = if (curId < 0) Seq.empty else {
      val snap = findSnapshot(node, curId).getOrElse(
        throw new IllegalArgumentException(
          s"current-snapshot-id $curId not in snapshots"))
      currentDataFiles(storage, snap)
    }
    files.foreach { f =>
      require(storage.exists(f.path),
        s"data file does not exist under the catalog root: ${f.path}")
      // graft plans partition values from the PATH: a file an external
      // writer laid out non-Hive-style would scan with NULL partition
      // values — refuse it instead
      partCols.foreach { c =>
        val dt = schema(schema.fieldIndex(c)).dataType
        require(IcebergManifests.partitionValue(f.path, c, dt).isDefined,
          s"data file ${f.path} lacks a Hive-style $c=<value> path " +
            "segment; graft derives partition values from the path, so " +
            "this layout cannot be adopted as partitioned — rewrite it " +
            "or drop the partition spec")
      }
    }
    GraftCatalog.createTable(storage, txn, ns, name,
      TableMetadata.empty(schema.json),
      if (partCols.isEmpty) Map.empty
      else Map(GraftCatalog.PartitionColsProp -> partCols.mkString(",")))
    if (files.nonEmpty)
      GraftCatalog.stageTableEdit(storage, txn, ns, name, ActionType.TableInsert,
        GraftCatalog.filesArgs(files))(
        GraftCatalog.applyFilesCommit(_, _, ns, name, "append", AppendFiles(files)))
  }

  private def currentSchema(node: JsonNode): StructType = {
    val fromList = Option(node.get("schemas")).flatMap { arr =>
      val want = node.path("current-schema-id").asInt(0)
      val it = arr.elements()
      var first: JsonNode = null
      var hit: JsonNode = null
      while (it.hasNext) {
        val s = it.next()
        if (first == null) first = s
        if (s.path("schema-id").asInt(-1) == want) hit = s
      }
      Option(if (hit != null) hit else first)
    }
    val schemaNode = fromList.orElse(Option(node.get("schema"))).getOrElse(
      throw new IllegalArgumentException("metadata document has no schema"))
    IcebergRest.fromIcebergSchema(schemaNode)
  }

  /** The default spec's IDENTITY partition source-column names of a
    * metadata document, in spec order ([[identityPartitionCols]] over
    * its default spec and current schema).
    */
  private def identityPartitionCols(node: JsonNode): Seq[String] = {
    val fields: Option[JsonNode] =
      Option(node.get("partition-specs")).flatMap { specs =>
        val want = node.path("default-spec-id").asInt(0)
        val it = specs.elements()
        var hit: JsonNode = null
        while (it.hasNext) {
          val s = it.next()
          if (s.path("spec-id").asInt(-1) == want) hit = s
        }
        Option(hit).map(_.path("fields"))
      }.orElse(Option(node.get("partition-spec")))
    val schemaNode = Option(node.get("schemas"))
      .map { ss =>
        val want = node.path("current-schema-id").asInt(0)
        val it = ss.elements()
        var hit: JsonNode = null
        var first: JsonNode = null
        while (it.hasNext) {
          val s = it.next()
          if (first == null) first = s
          if (s.path("schema-id").asInt(-1) == want) hit = s
        }
        if (hit != null) hit else first
      }
      .getOrElse(node.get("schema"))
    fields.filter(_.isArray)
      .fold(Seq.empty[String])(identityPartitionCols(_, schemaNode))
  }

  /** The IDENTITY partition source-column names of a spec's `fields`
    * array, in spec order — resolved through `schemaNode`'s field
    * ids. Any non-identity transform (bucket, truncate, days, …) is
    * refused: graft recovers partition values from Hive-style path
    * segments, and a transform's derived values are not recoverable
    * from an external writer's paths.
    */
  private[serve] def identityPartitionCols(fields: JsonNode,
      schemaNode: JsonNode): Seq[String] = {
    val idToName: Map[Int, String] = {
      val out = Map.newBuilder[Int, String]
      val it = schemaNode.path("fields").elements()
      while (it.hasNext) {
        val f = it.next()
        out += (f.path("id").asInt(-1) -> f.path("name").asText())
      }
      out.result()
    }
    (0 until fields.size()).map { i =>
      val f = fields.get(i)
      val transform = f.path("transform").asText()
      require(transform == "identity",
        s"partition transform '$transform' is not supported: graft " +
          "derives partition values from Hive-style paths, which only " +
          "identity transforms guarantee")
      val srcId = f.path("source-id").asInt(-1)
      idToName.getOrElse(srcId,
        // v1 documents may omit ids; fall back to the field name,
        // which for identity transforms equals the source column
        f.path("name").asText() match {
          case "" => throw new IllegalArgumentException(
            s"partition field $i has neither a resolvable source-id " +
              "nor a name")
          case n => n
        })
    }
  }

  private def findSnapshot(node: JsonNode, id: Long): Option[JsonNode] = {
    val snaps = node.get("snapshots")
    if (snaps == null || !snaps.isArray) return None
    val it = snaps.elements()
    while (it.hasNext) {
      val s = it.next()
      if (s.path("snapshot-id").asLong(-2L) == id) return Some(s)
    }
    None
  }

  private[serve] def readAvro(storage: StorageOps,
      rel: String): Seq[org.apache.avro.generic.GenericRecord] = {
    val local = storage.prepareToReadLocal(rel).toFile
    val r = new org.apache.avro.file.DataFileReader(local,
      new org.apache.avro.generic.GenericDatumReader[
        org.apache.avro.generic.GenericRecord]())
    try Iterator.continually(r).takeWhile(_.hasNext).map(_.next()).toVector
    finally r.close()
  }

  /** The current snapshot's live data-file inventory: walk the
    * manifest list (or a v1 inline `manifests` array), keeping ADDED
    * and EXISTING data entries and refusing delete manifests — a
    * current snapshot with pending deletes must be compacted by its
    * OWNING engine before adoption, or rows deleted there would
    * resurrect here.
    */
  private def currentDataFiles(storage: StorageOps,
      snap: JsonNode): Seq[DataFileEntry] = {
    import IcebergCommits.{intOf, longOf, opt, req, toRel}
    val manifestRels: Seq[(String, Int)] = {
      val ml = snap.path("manifest-list").asText("")
      if (ml.nonEmpty)
        readAvro(storage, toRel(storage, ml)).map(m =>
          (toRel(storage, req(m, "manifest_path").toString),
            intOf(opt(m, "content"), 0)))
      else {
        val arr = snap.get("manifests")
        require(arr != null && arr.isArray,
          "snapshot has neither manifest-list nor manifests")
        (0 until arr.size()).map(i => (toRel(storage, arr.get(i).asText()), 0))
      }
    }
    manifestRels.foreach { case (_, content) =>
      require(content == 0,
        "current snapshot carries DELETE manifests; compact the source " +
          "table before importing (adopting data files while dropping " +
          "their deletes would resurrect deleted rows)")
    }
    manifestRels.flatMap { case (mRel, _) =>
      readAvro(storage, mRel).flatMap { e =>
        val status = intOf(opt(e, "status"), 1)
        if (status == 2) None // DELETED: not part of the current state
        else {
          val df = req(e, "data_file")
            .asInstanceOf[org.apache.avro.generic.GenericRecord]
          require(intOf(opt(df, "content"), 0) == 0,
            "delete files must ride a delete manifest (content=1)")
          require(String.valueOf(
              Option(opt(df, "file_format")).getOrElse("PARQUET"))
              .equalsIgnoreCase("PARQUET"),
            s"unsupported file format: ${opt(df, "file_format")}")
          val rel = toRel(storage, req(df, "file_path").toString)
          Some(DataFileEntry(rel, longOf(req(df, "record_count")),
            Option(opt(df, "file_size_in_bytes")).map(longOf)
              .getOrElse(storage.sizeOf(rel))))
        }
      }
    }
  }
}
