package graft.serve

import java.nio.file.Files

import com.fasterxml.jackson.databind.JsonNode
import graft.catalog.Graft
import graft.format.{AddRowDeltas, AddUpsert, AppendFiles, DataFileEntry,
  EqDeleteFile, FilesEdit, PosDeleteFile, PosDeleteFiles, ReplaceFiles,
  TableMetadata}
import graft.objects.{Json, ObjectKeys, TableDef}
import graft.spark.{ColumnMapping, GraftCatalog}
import graft.storage.StorageOps
import graft.tree.{TreeOps, TreeRoot}
import graft.txn.{ActionType, Transaction}
import org.apache.spark.sql.types._

/** External COMMITS through the REST facade: the PUBLIC Apache
  * Iceberg REST `CommitTableRequest` shape (`requirements` +
  * `updates`). An external engine writes its parquet files under the
  * table location, authors its own avro manifest list, and POSTs
  * `add-snapshot` + `set-snapshot-ref`. The facade re-reads the
  * CLIENT's manifests to recover the change set and lands it through
  * the exact same optimistic commit path as a native writer
  * ([[GraftCatalog.applyFilesCommit]]), so an HTTP commit racing a
  * Spark commit resolves like two Spark sessions.
  *
  * Accepted commit shapes (by snapshot `summary.operation` + manifest
  * content), each mapping onto the native edit a Spark writer would
  * produce:
  *   - `append`: ADDED data files → [[AppendFiles]].
  *   - `overwrite`/`delete` with DELETED + ADDED data-file entries →
  *     [[ReplaceFiles]] (copy-on-write row-level op / rewrite).
  *   - `overwrite`/`delete` with a DELETE manifest of position-delete
  *     files (`data_file.content = 1`) → the client objects transcode
  *     into native position-delete objects (the exact inverse of
  *     [[IcebergDeleteObjects.transcodePosDelete]]) and land as
  *     [[AddRowDeltas]] — merge-on-read from an external engine.
  *   - `overwrite`/`delete` with a DELETE manifest of equality-delete
  *     files (`data_file.content = 2`, `equality_ids`) → native
  *     equality-delete objects under the physical key column names,
  *     landing as [[AddUpsert]]. Requires `assert-ref-snapshot-id` on
  *     `main` (below).
  *
  * Deliberate deltas, documented: graft assigns its own snapshot id
  * (ids are allocation-ordered — the snapshot-log's range lookups
  * depend on it — so a client's random id is not honored; the
  * response metadata carries the assigned one), and a lost root race
  * REBASES an unguarded append like native writers do. A commit that
  * DOES carry `assert-ref-snapshot-id` on `main` re-evaluates the
  * guard inside the rebase replay as well, so the spec's concurrency
  * control holds even when the root race is lost: the commit fails
  * 409 instead of rebasing over a concurrent table commit the client
  * guarded against. Equality-delete commits REQUIRE that guard —
  * their deletes would otherwise swallow matching-key rows a
  * concurrent commit added that the client's scan never observed
  * (the same posture as the native eq-MERGE replay validation).
  */
object IcebergCommits {

  /** A commit requirement did not hold → HTTP 409 per the REST spec. */
  final class RequirementFailedException(msg: String)
    extends RuntimeException(msg)

  /** One client-authored delete object reference (path under the
    * catalog root; equality ids empty for position deletes).
    */
  private final case class ClientDeleteObj(rel: String, eqIds: Seq[Int])

  /** The change set recovered from the client's manifest chain. */
  private final case class ClientChangeSet(
      adds: Seq[DataFileEntry],
      removes: Set[String],
      posObjs: Seq[ClientDeleteObj],
      eqObjs: Seq[ClientDeleteObj])

  /** Validate + apply one CommitTableRequest; throws
    * IllegalArgumentException (→400) for malformed/unsupported bodies
    * and [[RequirementFailedException]] (→409) for failed
    * requirements.
    */
  def commit(storage: StorageOps, ns: String, t: String,
      body: JsonNode): Unit =
    inOneTxn(storage)(txn => stage(storage, txn, ns, t, body))

  /** The spec's `POST /v1/{prefix}/transactions/commit`
    * (CommitTransactionRequest: `table-changes`, each a
    * CommitTableRequest plus its `identifier`). Every change stages
    * into ONE native graft transaction and the whole set commits with
    * a single root swap — genuinely atomic across tables, the
    * native multi-object transaction the reference's catalog protocol
    * is built around (stock Iceberg REST catalogs typically only
    * best-effort this). A failed requirement or malformed change in
    * ANY entry aborts the whole transaction: no table moves.
    */
  def commitTransaction(storage: StorageOps, body: JsonNode): Unit = {
    val changes = body.get("table-changes")
    require(changes != null && changes.isArray && changes.size() > 0,
      "transaction body needs a non-empty table-changes array")
    val parsed = (0 until changes.size()).map { i =>
      val c = changes.get(i)
      val ident = c.get("identifier")
      require(ident != null, s"table change $i lacks an identifier")
      val nsArr = ident.get("namespace")
      require(nsArr != null && nsArr.isArray && nsArr.size() == 1,
        "graft namespaces are single-level")
      val t = ident.path("name").asText()
      require(t.nonEmpty, s"table change $i lacks a table name")
      (nsArr.get(0).asText(), t, c)
    }
    inOneTxn(storage)(txn =>
      parsed.foreach { case (ns, t, c) => stage(storage, txn, ns, t, c) })
  }

  private def inOneTxn(storage: StorageOps)(f: Transaction => Unit): Unit = {
    val txn = Graft.beginTransaction(storage)
    try { f(txn); Graft.commitTransaction(storage, txn); () }
    finally txn.close()
  }

  /** Parse, validate, and apply one table change against `txn`'s
    * running root; later changes in the same transaction observe
    * earlier ones (the running root advances), and each change's
    * replay closure re-applies — with its requirement guard — on a
    * lost root race.
    */
  private def stage(storage: StorageOps, txn: Transaction, ns: String,
      t: String, body: JsonNode): Unit = {
    val updates = body.get("updates")
    require(updates != null && updates.isArray && updates.size() > 0,
      "commit body needs a non-empty updates array")
    var snapshot: JsonNode = null
    var clientSchema: JsonNode = null
    var propSets = Map.empty[String, String]
    var propRemovals = Seq.empty[String]
    val it = updates.elements()
    while (it.hasNext) {
      val u = it.next()
      u.path("action").asText() match {
        case "add-snapshot" =>
          require(snapshot == null, "multiple add-snapshot updates")
          snapshot = u.get("snapshot")
          require(snapshot != null, "add-snapshot without a snapshot")
        case "set-snapshot-ref" =>
          require(u.path("ref-name").asText() == "main",
            "only the main ref can be set through this endpoint")
        case "add-schema" =>
          require(clientSchema == null, "multiple add-schema updates")
          clientSchema = u.get("schema")
          require(clientSchema != null, "add-schema without a schema")
        case "set-current-schema-id" =>
          // graft derives schema ids (one current schema); the spec's
          // -1 means "the one just added" — anything else is a pin we
          // cannot honor
          val sid = u.path("schema-id").asInt(-1)
          require(sid == -1,
            s"set-current-schema-id must be -1 (last added), got $sid")
        case "set-properties" =>
          val ups = u.get("updates")
          require(ups != null && ups.isObject,
            "set-properties without an updates object")
          val pit = ups.properties().iterator()
          while (pit.hasNext) {
            val e = pit.next()
            propSets += (e.getKey -> e.getValue.asText())
          }
        case "remove-properties" =>
          val rm = u.get("removals")
          require(rm != null && rm.isArray,
            "remove-properties without a removals array")
          propRemovals ++= (0 until rm.size()).map(rm.get(_).asText())
        case other =>
          throw new IllegalArgumentException(
            s"unsupported commit update action: $other " +
              "(this endpoint accepts add-snapshot + set-snapshot-ref " +
              "and set-properties / remove-properties)")
      }
    }
    require(snapshot != null || clientSchema != null ||
        propSets.nonEmpty || propRemovals.nonEmpty,
      "commit changes nothing (no add-snapshot, schema, or property updates)")
    // graft-reserved properties configure the engine itself — an
    // external client rewriting OR removing them could silently change
    // write modes
    (propSets.keys ++ propRemovals).find(_.startsWith("graft.")).foreach(k =>
      throw new IllegalArgumentException(
        s"property $k is engine-reserved; change it through a native ALTER"))
    val op =
      if (snapshot == null) ""
      else snapshot.path("summary").path("operation").asText()
    require(snapshot == null ||
        op == "append" || op == "overwrite" || op == "delete",
      s"unsupported snapshot operation '$op' " +
        "(accepted: append, overwrite, delete)")
    val cs =
      if (snapshot == null)
        ClientChangeSet(Seq.empty, Set.empty, Seq.empty, Seq.empty)
      else readClientManifests(storage,
        snapshot.path("manifest-list").asText())
    // added files must actually exist under the table location — a
    // typo'd path would otherwise commit table state whose planned
    // file 404s on every subsequent scan, native or REST
    cs.adds.foreach(f => require(storage.exists(f.path),
      s"committed data file does not exist: ${f.path}"))
    (cs.posObjs ++ cs.eqObjs).foreach(o => require(storage.exists(o.rel),
      s"committed delete file does not exist: ${o.rel}"))

    {
      // requirements check against the transaction's consistent root
      val td = Graft.describeTable(storage, txn, ns, t)
      val meta = TableMetadata.read(storage, td.metadataLocation)
      // the client's main-branch snapshot guard, re-evaluated inside
      // the rebase replay below (spec concurrency control survives a
      // lost root race)
      var assertedMain: Option[Long] = None
      val reqs = body.path("requirements")
      val rit = reqs.elements()
      while (rit.hasNext) {
        val r = rit.next()
        r.path("type").asText() match {
          case "assert-table-uuid" =>
            val want = java.util.UUID.nameUUIDFromBytes(
              s"$ns.$t".getBytes("UTF-8")).toString
            if (r.path("uuid").asText() != want)
              throw new RequirementFailedException(
                s"table uuid changed: ${r.path("uuid").asText()} != $want")
          case "assert-ref-snapshot-id" =>
            val ref = r.path("ref").asText()
            // `main` = the current snapshot; any other name resolves
            // through branches then tags — a ref this catalog cannot
            // resolve makes the guard unprovable, which fails the
            // commit (same posture as unknown requirement types)
            val actual: Long =
              if (ref == "main") meta.currentSnapshotId
              else meta.branches.getOrElse(ref,
                meta.refs.getOrElse(ref, -1L))
            val want =
              if (r.hasNonNull("snapshot-id")) r.get("snapshot-id").asLong()
              else -1L
            if (actual != want)
              throw new RequirementFailedException(
                s"ref $ref moved: at $actual, commit based on $want")
            if (ref == "main") assertedMain = Some(want)
          case "" =>
            throw new IllegalArgumentException("requirement without a type")
          case other =>
            // an unknown requirement CANNOT be proven to hold — fail
            // the commit rather than ignore a guard the client asked for
            throw new IllegalArgumentException(
              s"unsupported commit requirement: $other")
        }
      }

      // shape validation BEFORE any transcoding work
      if (snapshot == null) {
        // pure property commit: nothing to plan
      } else if (op == "append") {
        require(cs.removes.isEmpty && cs.posObjs.isEmpty && cs.eqObjs.isEmpty,
          "operation=append cannot remove files or add delete files")
        require(cs.adds.nonEmpty, "append snapshot plans zero data files")
      } else {
        require(cs.posObjs.isEmpty || cs.eqObjs.isEmpty,
          "a commit cannot mix position- and equality-delete files; " +
            "split it into two commits")
        val mor = cs.posObjs.nonEmpty || cs.eqObjs.nonEmpty
        require(!(mor && cs.removes.nonEmpty),
          "a commit cannot both remove data files and add delete files")
        require(mor || cs.removes.nonEmpty || cs.adds.nonEmpty,
          s"operation=$op commit changes nothing")
        // without the guard a lost race would rebase the deletes over
        // concurrently-committed matching-key rows the client's scan
        // never observed
        require(cs.eqObjs.isEmpty || assertedMain.isDefined,
          "an equality-delete commit requires an " +
            "assert-ref-snapshot-id requirement on the main ref")
        // a DELETED entry naming a file the table does not hold would
        // silently remove NOTHING while the replacement still lands —
        // duplicate rows on every scan. Stale plans and typos both
        // surface as a commit conflict, not a quiet 200.
        if (cs.removes.nonEmpty) {
          val present = meta.currentFiles(storage).map(_.path).toSet
          val missing = cs.removes.filterNot(present)
          if (missing.nonEmpty) throw new RequirementFailedException(
            "removed data files are not in the table (concurrently " +
              s"rewritten, or a stale plan): ${missing.mkString(", ")}")
        }
      }
      val schema = DataType.fromJson(meta.schemaJson).asInstanceOf[StructType]
      val dataDir = graft.objects.FileLocations.tableDataDir(ns, t)
      val restId = java.util.UUID.randomUUID().toString
      val posDeletes = cs.posObjs.zipWithIndex.map { case (o, i) =>
        transcodeClientPosDelete(storage, o.rel,
          s"$dataDir/deletes/rest-$restId/p$i.parquet")
      }
      val eqDeletes = cs.eqObjs.zipWithIndex.map { case (o, i) =>
        transcodeClientEqDelete(storage, o.rel, o.eqIds, schema,
          meta.properties, s"$dataDir/deletes/rest-$restId/e$i.parquet")
      }
      // the schema the diff was computed against: a rebase replay must
      // not diff against a CONCURRENTLY evolved schema — the client's
      // end state would silently revert the concurrent change
      val baseSchemaJson = meta.schemaJson
      /** Merge the property updates and the schema-evolution diff into
        * the table AS SEEN FROM `root` (first application and rebase
        * replays alike re-read the def, so a racing alter's unrelated
        * properties survive; a racing SCHEMA change fails the replay
        * with 409).
        */
      def applyMetaEdits(s: StorageOps, root: TreeRoot): Unit =
        if (clientSchema != null || propSets.nonEmpty || propRemovals.nonEmpty)
          GraftCatalog.editTable(s, root, ns, t) { (_, td0, meta0) =>
            val props0 = td0.properties ++ propSets -- propRemovals
            if (clientSchema == null) (meta0, props0)
            else {
              if (meta0.schemaJson != baseSchemaJson)
                throw new RequirementFailedException(
                  s"schema of $ns.$t changed during the commit; re-load " +
                    "and retry the evolution")
              val served = DataType.fromJson(meta0.schemaJson)
                .asInstanceOf[StructType]
              val (servedNode, _) =
                IcebergRest.toIcebergSchema(served, td0.properties)
              val changes = IcebergSchemaDiff.diff(servedNode, clientSchema)
              if (changes.isEmpty) (meta0, props0)
              else {
                // the SAME change-application rules as native ALTER
                val (schema2, props2) =
                  graft.spark.TableAlterations(served, props0, changes)
                (meta0.copy(schemaJson = schema2.json), props2)
              }
            }
          }
      val replayGuard: (StorageOps, TreeRoot) => Unit = (s, r) =>
        assertedMain.foreach { want =>
          val now = currentSnapshotIdOf(s, r, ns, t)
          if (now != want) throw new RequirementFailedException(
            s"ref main moved during commit: at $now, commit based on $want")
        }
      val edit: Option[FilesEdit] = Option(snapshot).map { _ =>
        if (op == "append") AppendFiles(cs.adds)
        else if (posDeletes.nonEmpty) AddRowDeltas(cs.adds, posDeletes)
        else if (eqDeletes.nonEmpty) AddUpsert(cs.adds, eqDeletes)
        else ReplaceFiles(cs.removes, cs.adds)
      }
      GraftCatalog.stageTableEdit(storage, txn, ns, t,
        if (snapshot == null || op != "append") ActionType.TableUpdate
        else ActionType.TableInsert,
        Map("files" -> cs.adds.map(_.path).mkString(",")), replayGuard) {
        (s, r) =>
          // a table dropped under a rebase replay is a lost race: 409
          try {
            edit.foreach(applyChecked(s, r, ns, t, op, _))
            applyMetaEdits(s, r)
          } catch {
            case _: org.apache.spark.sql.catalyst.analysis.NoSuchTableException =>
              throw new RequirementFailedException(s"table $ns.$t dropped")
          }
      }
    }
  }

  /** Apply the edit, mapping the edit layer's reference-validation
    * failure (a position delete naming a data file a concurrent commit
    * rewrote — [[graft.format.AddRowDeltas]]) onto the endpoint's 409
    * contract: it IS a concurrency conflict, not a malformed body.
    */
  private def applyChecked(s: StorageOps, root: TreeRoot, ns: String,
      t: String, op: String, edit: FilesEdit): Unit =
    try GraftCatalog.applyFilesCommit(s, root, ns, t, op, edit)
    catch {
      case e: IllegalStateException
          if String.valueOf(e.getMessage).contains("no longer in the table") =>
        throw new RequirementFailedException(e.getMessage)
    }

  /** The table's current main snapshot id as seen from `root` — one
    * metadata read, used by the replay's requirement re-check.
    */
  private def currentSnapshotIdOf(s: StorageOps, root: TreeRoot,
      ns: String, t: String): Long = {
    val cd = Graft.catalogDef(s, root)
    val defPath = TreeOps.searchValue(s, root,
      ObjectKeys.tableKey(ns, t, cd)).getOrElse(
      throw new RequirementFailedException(s"table $ns.$t dropped"))
    val td = Json.read(s.read(defPath), classOf[TableDef])
    TableMetadata.read(s, td.metadataLocation).currentSnapshotId
  }

  // ---- client manifest chain → change set ----

  /** Walk the client snapshot's manifest list → manifests → entries,
    * mapping absolute paths back onto storage-relative keys (a path
    * outside the catalog root is refused — the facade will not plan
    * files it cannot govern). ADDED data entries become adds, DELETED
    * ones removes, EXISTING ones are skipped (they reference files
    * already in the table — carried forward by the edit, not re-added).
    * ADDED entries of DELETE manifests collect as client delete
    * objects for transcoding.
    */
  private def readClientManifests(storage: StorageOps,
      manifestList: String): ClientChangeSet = {
    require(manifestList.nonEmpty, "add-snapshot without a manifest-list")
    def readAvro(rel: String): Seq[org.apache.avro.generic.GenericRecord] = {
      val local = storage.prepareToReadLocal(rel).toFile
      val r = new org.apache.avro.file.DataFileReader(local,
        new org.apache.avro.generic.GenericDatumReader[
          org.apache.avro.generic.GenericRecord]())
      try Iterator.continually(r).takeWhile(_.hasNext).map(_.next()).toVector
      finally r.close()
    }
    val adds = Seq.newBuilder[DataFileEntry]
    val removes = Set.newBuilder[String]
    val posObjs = Seq.newBuilder[ClientDeleteObj]
    val eqObjs = Seq.newBuilder[ClientDeleteObj]
    readAvro(toRel(storage, manifestList)).foreach { m =>
      val manifestContent = intOf(opt(m, "content"), 0)
      require(manifestContent == 0 || manifestContent == 1,
        s"unknown manifest content $manifestContent")
      readAvro(toRel(storage, req(m, "manifest_path").toString)).foreach { e =>
        val status = intOf(opt(e, "status"), 1)
        val df = req(e, "data_file")
          .asInstanceOf[org.apache.avro.generic.GenericRecord]
        val fileContent = intOf(opt(df, "content"), 0)
        val rel = toRel(storage, req(df, "file_path").toString)
        if (manifestContent == 0) {
          require(fileContent == 0,
            "delete files must ride a delete manifest (content=1)")
          status match {
            case 2 => removes += rel
            case 0 => () // EXISTING: already table state, never re-added
            case _ =>
              require(String.valueOf(req(df, "file_format"))
                  .equalsIgnoreCase("PARQUET"),
                s"unsupported file format: ${opt(df, "file_format")}")
              adds += DataFileEntry(rel, longOf(req(df, "record_count")),
                Option(opt(df, "file_size_in_bytes")).map(longOf)
                  .getOrElse(storage.sizeOf(rel)))
          }
        } else if (status == 1) {
          // delete files transcode through parquet-mr: a non-parquet
          // body must map to the endpoint's 400, not a reader 500
          require(opt(df, "file_format") == null ||
              String.valueOf(opt(df, "file_format"))
                .equalsIgnoreCase("PARQUET"),
            s"unsupported delete file format: ${opt(df, "file_format")}")
          fileContent match {
            case 1 => posObjs += ClientDeleteObj(rel, Seq.empty)
            case 2 =>
              val idsField = opt(df, "equality_ids")
              require(idsField != null,
                "equality-delete file without equality_ids")
              val ids = idsField.asInstanceOf[java.util.List[_]]
              require(!ids.isEmpty,
                "equality-delete file with empty equality_ids")
              val sIds = (0 until ids.size())
                .map(i => intOf(ids.get(i), -1))
              eqObjs += ClientDeleteObj(rel, sIds)
            case other => throw new IllegalArgumentException(
              s"unknown delete-file content $other (expected 1 or 2)")
          }
        } else require(status == 0,
          "removing delete files (status=2 in a delete manifest) is " +
            "not supported through this endpoint")
      }
    }
    ClientChangeSet(adds.result(), removes.result(), posObjs.result(),
      eqObjs.result())
  }

  private[serve] def toRel(storage: StorageOps, abs: String): String = {
    val root = storage.root.stripSuffix("/") + "/"
    require(abs.startsWith(root),
      s"path outside the catalog root: $abs")
    val rel = abs.substring(root.length)
    // a prefix check alone is defeated by traversal segments: the
    // resolved path must stay under the root
    require(!rel.split('/').exists(seg => seg == ".." || seg == "."),
      s"path outside the catalog root (traversal segment): $abs")
    rel
  }

  // clients author their own schemas: optional fields may be entirely
  // ABSENT, and GenericRecord.get throws on unknown names
  private[serve] def opt(r: org.apache.avro.generic.GenericRecord,
      name: String): Any =
    if (r.getSchema.getField(name) == null) null else r.get(name)

  /** Null-safe REQUIRED field: a malformed client manifest maps to the
    * endpoint's 400 contract, never a server-side NPE → 500.
    */
  private[serve] def req(r: org.apache.avro.generic.GenericRecord,
      name: String): Any = {
    val v = opt(r, name)
    if (v == null) throw new IllegalArgumentException(
      s"client manifest ${r.getSchema.getName} record is missing " +
        s"required field $name")
    v
  }

  private[serve] def intOf(v: Any, dflt: Int): Int = v match {
    case null => dflt
    case n: java.lang.Number => n.intValue()
    case other => throw new IllegalArgumentException(
      s"expected an int, got $other")
  }

  private[serve] def longOf(v: Any): Long = v match {
    case n: java.lang.Number => n.longValue()
    case other => throw new IllegalArgumentException(
      s"expected a long, got $other")
  }

  // ---- client delete parquet → native delete objects ----

  private def conf = new org.apache.hadoop.conf.Configuration(false)

  private def readClientGroups(storage: StorageOps, rel: String)(
      f: org.apache.parquet.example.data.Group => Unit): Unit = {
    val local = storage.prepareToReadLocal(rel).toString
    val reader = org.apache.parquet.hadoop.ParquetReader
      .builder[org.apache.parquet.example.data.Group](
        new org.apache.parquet.hadoop.example.GroupReadSupport(),
        new org.apache.hadoop.fs.Path(local))
      .withConf(conf)
      .build()
    try {
      var g = reader.read()
      while (g != null) { f(g); g = reader.read() }
    } finally reader.close()
  }

  private def writeParquetBytes(
      schema: org.apache.parquet.schema.MessageType)(
      emit: (org.apache.parquet.example.data.simple.SimpleGroupFactory,
        org.apache.parquet.example.data.Group => Unit) => Unit)
      : Array[Byte] = {
    val tmp = Files.createTempFile("graft-rest-del", ".parquet")
    Files.delete(tmp) // parquet-mr refuses to overwrite
    try {
      val c = conf
      org.apache.parquet.hadoop.example.GroupWriteSupport.setSchema(schema, c)
      val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
        .builder(new org.apache.hadoop.fs.Path(tmp.toString))
        .withConf(c)
        .withType(schema)
        .withCompressionCodec(
          org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
        .build()
      try emit(new org.apache.parquet.example.data.simple
        .SimpleGroupFactory(schema), writer.write)
      finally writer.close()
      Files.readAllBytes(tmp)
    } finally Files.deleteIfExists(tmp)
  }

  /** Client position-delete parquet (spec columns `file_path`/`pos`,
    * absolute planned paths) → one native position-delete object
    * (columns `file`/`pos`, scan-rendered paths, sorted) — the exact
    * inverse of [[IcebergDeleteObjects.transcodePosDelete]]. KB-scale
    * position sets; the data plane is never rewritten.
    */
  private def transcodeClientPosDelete(storage: StorageOps,
      clientRel: String, outRel: String): PosDeleteFile = {
    val rows = scala.collection.mutable.ArrayBuffer.empty[(String, Long, String)]
    readClientGroups(storage, clientRel) { g =>
      require(g.getType.containsField("file_path") &&
          g.getType.containsField("pos"),
        s"position-delete file $clientRel lacks the spec's " +
          "file_path/pos columns")
      val rel = toRel(storage, g.getString("file_path", 0))
      // native objects carry the path as the scan's `_file` column
      // renders it: the URI path of the absolute location
      val rendered = new org.apache.hadoop.fs.Path(storage.absolute(rel))
        .toUri.getPath
      rows += ((rendered, g.getLong("pos", 0), rel))
    }
    require(rows.nonEmpty, s"position-delete file $clientRel is empty")
    val sorted = rows.sortBy(r => (r._1, r._2))
    val bytes = writeParquetBytes(PosDeleteFiles.Schema) { (factory, write) =>
      sorted.foreach { case (file, pos, _) =>
        val out = factory.newGroup()
        out.append("file", file)
        out.append("pos", pos)
        write(out)
      }
    }
    storage.writeAtomic(outRel, bytes)
    PosDeleteFile(outRel, sorted.size.toLong, bytes.length.toLong,
      sorted.map(_._3).distinct.toSeq)
  }

  /** Client equality-delete parquet (key tuples under the table's
    * LOGICAL column names, `equality_ids` naming the served schema's
    * field ids) → one native equality-delete object under the PHYSICAL
    * column names ([[graft.format.EqDeleteFiles]] conventions) — the
    * inverse of [[IcebergDeleteObjects.transcodeEqDelete]].
    */
  private def transcodeClientEqDelete(storage: StorageOps,
      clientRel: String, eqIds: Seq[Int], schema: StructType,
      tableProps: Map[String, String], outRel: String): EqDeleteFile = {
    // served field ids resolve through the table's persisted id map
    // (stable across evolution); only top-level columns can be
    // equality keys
    val (schemaNode, _) = IcebergRest.toIcebergSchema(schema, tableProps)
    val idToName = {
      val m = scala.collection.mutable.Map.empty[Int, String]
      val it = schemaNode.get("fields").elements()
      while (it.hasNext) {
        val f = it.next()
        m(f.get("id").asInt()) = f.get("name").asText()
      }
      m.toMap
    }
    val fields = eqIds.map(id => idToName.get(id)
      .flatMap(n => schema.fields.find(_.name == n))
      .getOrElse(throw new IllegalArgumentException(
        s"equality_ids names unknown top-level field id $id")))
    fields.foreach(f => graft.format.EqDeleteFiles
      .requireSupported(f.name, f.dataType))
    val physCols = fields.map(ColumnMapping.physicalName)
    val types = fields.map(_.dataType)
    // native object schema: physical names, native types, no field ids
    val b = org.apache.parquet.schema.Types.buildMessage()
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types => PTypes}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    physCols.zip(types).foreach { case (c, t) =>
      t match {
        case ByteType | ShortType | IntegerType =>
          b.addField(PTypes.optional(PrimitiveTypeName.INT32).named(c))
        case DateType =>
          b.addField(PTypes.optional(PrimitiveTypeName.INT32)
            .as(LogicalTypeAnnotation.dateType()).named(c))
        case LongType =>
          b.addField(PTypes.optional(PrimitiveTypeName.INT64).named(c))
        case BooleanType =>
          b.addField(PTypes.optional(PrimitiveTypeName.BOOLEAN).named(c))
        case _ =>
          b.addField(PTypes.optional(PrimitiveTypeName.BINARY)
            .as(LogicalTypeAnnotation.stringType()).named(c))
      }
    }
    val outSchema = b.named("eqdelete")
    var rows = 0L
    val logicalCols = fields.map(_.name)
    val bytes = writeParquetBytes(outSchema) { (factory, write) =>
      readClientGroups(storage, clientRel) { g =>
        logicalCols.foreach(c => require(g.getType.containsField(c),
          s"equality-delete file $clientRel lacks key column $c"))
        val out = factory.newGroup()
        logicalCols.indices.foreach { i =>
          val c = logicalCols(i)
          if (g.getFieldRepetitionCount(c) > 0) types(i) match {
            case ByteType | ShortType | IntegerType | DateType =>
              out.append(physCols(i), g.getInteger(c, 0))
            case LongType => out.append(physCols(i), g.getLong(c, 0))
            case BooleanType => out.append(physCols(i), g.getBoolean(c, 0))
            case _ => out.append(physCols(i), g.getString(c, 0))
          }
        }
        write(out)
        rows += 1
      }
    }
    require(rows > 0, s"equality-delete file $clientRel is empty")
    storage.writeAtomic(outRel, bytes)
    EqDeleteFile(outRel, rows, bytes.length.toLong, physCols)
  }
}
