package graft.serve

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files

import graft.objects.Json
import graft.spark.GraftCatalog
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The Iceberg-REST-catalog facade driven end-to-end over plain HTTP,
  * exactly as an external engine would: GET /v1/config to learn the
  * prefix, then namespace/table CRUD + table loads under it. Shapes
  * follow the PUBLIC Apache Iceberg REST OpenAPI spec (the reference's
  * interop story — docker/gravitino/, docs/iceberg.md).
  */
class IcebergRestSpec extends AnyFunSuite {

  private lazy val warehouse = Files.createTempDirectory("graft-irest").toString

  lazy val spark: SparkSession = graft.Verify.sessionBuilder("4")
    .config("spark.sql.catalog.ir", classOf[GraftCatalog].getName)
    .config("spark.sql.catalog.ir.warehouse", warehouse)
    .getOrCreate()

  private val client = HttpClient.newHttpClient()

  private def send(port: Int, method: String, path: String,
      body: String = null): (Int, String) = {
    val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
    val req = method match {
      case "GET" => b.GET()
      case "HEAD" => b.method("HEAD", HttpRequest.BodyPublishers.noBody())
      case "DELETE" => b.DELETE()
      case "POST" => b.header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(body))
    }
    val res = client.send(req.build(), HttpResponse.BodyHandlers.ofString())
    (res.statusCode(), res.body())
  }

  private def startServer(): (CatalogHttpServer, Int) = {
    val storage = spark.sessionState.catalogManager.catalog("ir")
      .asInstanceOf[GraftCatalog].storage
    val server = new CatalogHttpServer(storage)
    (server, server.start())
  }

  test("a pure-HTTP Iceberg REST client round-trips the catalog") {
    // seed one table + view from the SQL side so loads have content
    spark.sql("CREATE NAMESPACE ir.sqlns")
    spark.sql("""CREATE TABLE ir.sqlns.events (
      id BIGINT NOT NULL, payload STRUCT<kind: STRING, n: BIGINT>,
      tags ARRAY<STRING>, attrs MAP<STRING, DOUBLE>, region STRING)
      PARTITIONED BY (region)""")
    spark.sql("INSERT INTO ir.sqlns.events VALUES " +
      "(1, named_struct('kind', 'a', 'n', 2L), array('x'), map('m', 0.5D), 'eu')")
    spark.sql("CREATE VIEW ir.sqlns.recent AS " +
      "SELECT id FROM ir.sqlns.events WHERE id > 0")

    val (server, port) = startServer()
    try {
      // 1. config advertises the prefix (spec's route-discovery step)
      val (c0, cfg) = send(port, "GET", "/v1/config")
      assert(c0 == 200)
      val cfgNode = Json.mapper.readTree(cfg)
      val prefix = cfgNode.get("overrides").get("prefix").asText()
      assert(prefix == "iceberg")
      val base = s"/v1/$prefix"

      // 2. namespace listing: namespaces are string ARRAYS per spec
      val (c1, nss) = send(port, "GET", s"$base/namespaces")
      assert(c1 == 200 && nss.contains("[\"sqlns\"]"), nss)

      // 3. create a namespace over REST; HEAD sees it; SQL side too
      val (c2, created) = send(port, "POST", s"$base/namespaces",
        """{"namespace":["restns"],"properties":{"owner":"it"}}""")
      assert(c2 == 200 && created.contains("restns"))
      assert(send(port, "HEAD", s"$base/namespaces/restns")._1 == 204)
      assert(send(port, "HEAD", s"$base/namespaces/nope")._1 == 404)
      val sqlSees = spark.sql("SHOW NAMESPACES IN ir")
        .collect().map(_.getString(0))
      assert(sqlSees.contains("restns"))

      // 4. table list + load: LoadTableResult with v2 metadata
      val (c3, ids) = send(port, "GET", s"$base/namespaces/sqlns/tables")
      assert(c3 == 200)
      val idNode = Json.mapper.readTree(ids).get("identifiers").get(0)
      assert(idNode.get("namespace").get(0).asText() == "sqlns")
      assert(idNode.get("name").asText() == "events")

      val (c4, load) = send(port, "GET", s"$base/namespaces/sqlns/tables/events")
      assert(c4 == 200)
      val lt = Json.mapper.readTree(load)
      assert(lt.hasNonNull("metadata-location"))
      val md = lt.get("metadata")
      assert(md.get("format-version").asInt() == 2)
      // schema: field IDs assigned at every depth, nested types mapped
      val schema = md.get("schemas").get(0)
      val fields = schema.get("fields")
      assert(fields.get(0).get("name").asText() == "id")
      assert(fields.get(0).get("required").asBoolean())
      assert(fields.get(0).get("id").asInt() > 0)
      val payload = (0 until fields.size()).map(fields.get)
        .find(_.get("name").asText() == "payload").get
      assert(payload.get("type").get("type").asText() == "struct")
      val ids2 = collectIds(schema)
      assert(ids2.distinct.size == ids2.size, s"duplicate field ids: $ids2")
      // partition spec: identity transform on the partition column
      val spec = md.get("partition-specs").get(0).get("fields").get(0)
      assert(spec.get("transform").asText() == "identity")
      assert(spec.get("name").asText() == "region")
      // snapshot log: the INSERT shows up with totals
      assert(md.get("current-snapshot-id").asLong() >= 0)
      val snap = md.get("snapshots").get(0)
      assert(snap.get("summary").get("operation").asText() == "append")
      assert(snap.get("summary").get("total-records").asText() == "1")

      // 5. create a table over REST with a NESTED Iceberg schema; the
      // SQL side reads and writes it
      val mkBody =
        """{"name":"metrics","schema":{"type":"struct","fields":[
          |{"id":1,"name":"k","required":true,"type":"long"},
          |{"id":2,"name":"dims","required":false,"type":{"type":"struct","fields":[
          |  {"id":3,"name":"host","required":false,"type":"string"},
          |  {"id":4,"name":"vals","required":false,"type":
          |    {"type":"list","element-id":5,"element":"double","element-required":false}}
          |]}}]}}""".stripMargin.replaceAll("\n", "")
      val (c5, mk) = send(port, "POST", s"$base/namespaces/restns/tables", mkBody)
      assert(c5 == 200, mk)
      assert(Json.mapper.readTree(mk).get("metadata")
        .get("schemas").get(0).get("fields").size() == 2)
      spark.sql("INSERT INTO ir.restns.metrics VALUES " +
        "(7, named_struct('host', 'h1', 'vals', array(1.5D, 2.5D)))")
      val row = spark.sql(
        "SELECT k, dims.host, dims.vals[1] FROM ir.restns.metrics").collect()(0)
      assert(row.getLong(0) == 7 && row.getString(1) == "h1" &&
        row.getDouble(2) == 2.5)

      // 6. view endpoints: list + LoadViewResult with a SQL representation
      val (c6, vids) = send(port, "GET", s"$base/namespaces/sqlns/views")
      assert(c6 == 200 && vids.contains("recent"))
      val (c7, vload) = send(port, "GET", s"$base/namespaces/sqlns/views/recent")
      assert(c7 == 200)
      val vm = Json.mapper.readTree(vload).get("metadata")
      val rep = vm.get("versions").get(0).get("representations").get(0)
      assert(rep.get("type").asText() == "sql")
      assert(rep.get("sql").asText().toLowerCase.contains("select"))

      // 7. drop over REST: table then namespace; 404 after
      assert(send(port, "DELETE", s"$base/namespaces/restns/tables/metrics")._1 == 204)
      assert(send(port, "HEAD", s"$base/namespaces/restns/tables/metrics")._1 == 404)
      assert(send(port, "DELETE", s"$base/namespaces/restns")._1 == 204)
      assert(send(port, "HEAD", s"$base/namespaces/restns")._1 == 404)

      // 8. spec-shaped errors
      val (c8, err) = send(port, "GET", s"$base/namespaces/ghost/tables/ghost")
      assert(c8 == 404)
      val en = Json.mapper.readTree(err).get("error")
      assert(en.get("code").asInt() == 404 && en.hasNonNull("type"))
    } finally server.stop()
  }

  test("loads serve real avro manifests; predicate deletes materialize") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ir.dp")
    spark.sql("""CREATE TABLE ir.dp.cow (k BIGINT, region STRING)
                 PARTITIONED BY (region)""")
    spark.sql("INSERT INTO ir.dp.cow VALUES (1, 'eu'), (2, 'us')")
    spark.sql("INSERT INTO ir.dp.cow VALUES (3, 'eu')")
    val (server, port) = startServer()
    try {
      val base = "/v1/iceberg"
      val (c, load) = send(port, "GET", s"$base/namespaces/dp/tables/cow")
      assert(c == 200, load)
      val md = Json.mapper.readTree(load).get("metadata")
      val snaps = md.get("snapshots")
      assert(snaps.size() == 2)
      // every served snapshot points at a real, existing manifest list
      (0 until snaps.size()).foreach { i =>
        val ml = snaps.get(i).get("manifest-list").asText()
        assert(ml.nonEmpty && new java.io.File(ml).isFile, ml)
      }
      // walk the CURRENT snapshot's manifest tree back with plain avro
      // — an external engine's planning path: manifest list → manifests
      // → data files
      val currentId = md.get("current-snapshot-id").asLong()
      val ml = (0 until snaps.size()).map(snaps.get)
        .find(_.get("snapshot-id").asLong() == currentId).get
        .get("manifest-list").asText()
      val manifests = readAvro(ml)
      assert(manifests.nonEmpty)
      var totalRows = 0L
      val regions = scala.collection.mutable.ArrayBuffer.empty[String]
      manifests.foreach { m =>
        val path = m.get("manifest_path").toString
        assert(new java.io.File(path).length() ==
          m.get("manifest_length").asInstanceOf[Long])
        readAvro(path).foreach { e =>
          val df = e.get("data_file")
            .asInstanceOf[org.apache.avro.generic.GenericRecord]
          val fp = df.get("file_path").toString
          assert(new java.io.File(fp).isFile, s"planned file missing: $fp")
          totalRows += df.get("record_count").asInstanceOf[Long]
          val part = df.get("partition")
            .asInstanceOf[org.apache.avro.generic.GenericRecord]
          regions += Option(part.get("region")).map(_.toString).orNull
        }
      }
      assert(totalRows == 3, "planned inventory covers every live row")
      assert(regions.forall(_ != null) && regions.toSet == Set("eu", "us"),
        s"identity partition values served: $regions")

      // a manifest-segmented table (inventory past inline-max) reuses
      // graft's immutable segments 1:1; a second load writes nothing new
      spark.sql("""CREATE TABLE ir.dp.seg (k BIGINT)
                   TBLPROPERTIES ('graft.manifest.inline-max' = '2')""")
      (1 to 3).foreach(i =>
        spark.sql(s"INSERT INTO ir.dp.seg VALUES ($i), (${i + 10})"))
      val (c1, load1) = send(port, "GET", s"$base/namespaces/dp/tables/seg")
      assert(c1 == 200)
      val icebergDir = new java.io.File(s"$warehouse/data/dp/seg/meta/iceberg")
      val afterFirst = icebergDir.list().sorted.toSeq
      val (c2, load2) = send(port, "GET", s"$base/namespaces/dp/tables/seg")
      assert(c2 == 200 && load1 == load2)
      assert(icebergDir.list().sorted.toSeq == afterFirst,
        "reload writes no new objects — manifests are immutable & cached")

      // a pending merge-on-read PREDICATE delete materializes into a
      // served position-delete manifest (this server is co-located
      // with a Spark session that runs the one in-scope scan): the
      // external reconstruction must match the post-delete content
      spark.sql("""CREATE TABLE ir.dp.mor (k BIGINT)
                   TBLPROPERTIES ('graft.delete.mode' = 'merge-on-read')""")
      spark.sql("INSERT INTO ir.dp.mor SELECT id FROM range(10)")
      spark.sql("DELETE FROM ir.dp.mor WHERE k >= 5")
      val (cm, load4) = send(port, "GET", s"$base/namespaces/dp/tables/mor")
      assert(cm == 200, load4)
      val md4 = Json.mapper.readTree(load4).get("metadata")
      val snaps4 = md4.get("snapshots")
      assert(snaps4.size() == 2,
        "append + predicate-delete snapshots both serve")
      val ml4 = (0 until snaps4.size()).map(snaps4.get)
        .find(_.get("snapshot-id").asLong() ==
          md4.get("current-snapshot-id").asLong()).get
        .get("manifest-list").asText()
      val entries4 = readAvro(ml4).flatMap(m =>
        readAvro(m.get("manifest_path").toString))
      def files4(content: Int): Seq[String] = entries4.flatMap { e =>
        val df = e.get("data_file")
          .asInstanceOf[org.apache.avro.generic.GenericRecord]
        if (df.get("content").asInstanceOf[Int] == content)
          Some(df.get("file_path").toString)
        else None
      }
      assert(files4(1).nonEmpty, "materialized position deletes served")
      import org.apache.spark.sql.functions._
      val data4 = spark.read.parquet(files4(0): _*)
        .select(col("k"),
          regexp_replace(col("_metadata.file_path"), "^file:/+", "/")
            .as("_fp"),
          col("_metadata.row_index").as("_pos"))
      val dels4 = spark.read.parquet(files4(1): _*)
      val kept4 = data4.join(dels4,
          data4("_fp") === dels4("file_path") &&
            data4("_pos") === dels4("pos"), "left_anti")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(kept4 == (0L to 4L), kept4)
      // compaction materializes the deletes natively: the load keeps
      // working and all three snapshots serve
      graft.maintain.Maintenance.compactDataFiles(spark,
        spark.sessionState.catalogManager.catalog("ir")
          .asInstanceOf[GraftCatalog],
        org.apache.spark.sql.connector.catalog.Identifier.of(
          Array("dp"), "mor"), targetFiles = 1)
      val (cr, load3) = send(port, "GET", s"$base/namespaces/dp/tables/mor")
      assert(cr == 200, load3)
      val md3 = Json.mapper.readTree(load3).get("metadata")
      val snaps3 = md3.get("snapshots")
      val servedIds = (0 until snaps3.size()).map(snaps3.get(_)
        .get("snapshot-id").asLong())
      assert(servedIds.contains(md3.get("current-snapshot-id").asLong()))
      assert(snaps3.size() == 3,
        s"append + mor-delete + compact all served: $servedIds")
      val mlCur = (0 until snaps3.size()).map(snaps3.get)
        .find(_.get("snapshot-id").asLong() ==
          md3.get("current-snapshot-id").asLong()).get
        .get("manifest-list").asText()
      val curRows = readAvro(mlCur).flatMap(m =>
        readAvro(m.get("manifest_path").toString)).map(_.get("data_file")
          .asInstanceOf[org.apache.avro.generic.GenericRecord]
          .get("record_count").asInstanceOf[Long]).sum
      assert(curRows == 5, "post-compaction inventory reflects the deletes")
    } finally server.stop()
  }

  test("hidden-partitioned tables load with a full (unpartitioned) inventory") {
    // transform specs (days/bucket) have no identity partition columns;
    // the facade serves them as unpartitioned — no pruning for external
    // engines, but the planned inventory is complete and correct
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ir.hp")
    val src = spark.range(100).selectExpr(
      "id AS k",
      "timestamp_micros(CAST(1704067200000000 + id * 3600000000 AS BIGINT)) AS ts")
    src.limit(0).writeTo("ir.hp.ev")
      .partitionedBy(org.apache.spark.sql.functions.days(
        org.apache.spark.sql.functions.col("ts")))
      .create()
    src.writeTo("ir.hp.ev").append()
    val (server, port) = startServer()
    try {
      val (c, body) = send(port, "GET", "/v1/iceberg/namespaces/hp/tables/ev")
      assert(c == 200, body)
      val md = Json.mapper.readTree(body).get("metadata")
      assert(md.get("partition-specs").get(0).get("fields").size() == 0)
      val snaps = md.get("snapshots")
      val ml = (0 until snaps.size()).map(snaps.get)
        .find(_.get("snapshot-id").asLong() ==
          md.get("current-snapshot-id").asLong()).get
        .get("manifest-list").asText()
      val rows = readAvro(ml).flatMap(m =>
        readAvro(m.get("manifest_path").toString)).map(_.get("data_file")
          .asInstanceOf[org.apache.avro.generic.GenericRecord]
          .get("record_count").asInstanceOf[Long]).sum
      assert(rows == 100, "every row planned despite the hidden transform")
    } finally server.stop()
  }

  test("pending merge-on-read state serves as real v2 delete manifests") {
    import org.apache.spark.sql.functions._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ir.md")

    // --- equality deletes (streaming-upsert / merge-on-read-eq MERGE) ---
    spark.sql("""CREATE TABLE ir.md.up (k BIGINT NOT NULL, v STRING)
                 TBLPROPERTIES ('graft.write.upsert-keys' = 'k',
                                'graft.merge.mode' = 'merge-on-read-eq')""")
    spark.sql("INSERT INTO ir.md.up SELECT id, concat('a', id) FROM range(10)")
    spark.sql("""MERGE INTO ir.md.up t
                 USING (SELECT id AS k, concat('b', id) AS v FROM range(3, 8)) s
                 ON t.k = s.k
                 WHEN MATCHED THEN UPDATE SET v = s.v
                 WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""")

    // --- position deletes (merge-on-read UPDATE delta) ---
    spark.sql("""CREATE TABLE ir.md.pd (k BIGINT, v DOUBLE)
                 TBLPROPERTIES ('graft.update.mode' = 'merge-on-read')""")
    spark.sql("INSERT INTO ir.md.pd SELECT id, CAST(id AS DOUBLE) FROM range(20)")
    spark.sql("UPDATE ir.md.pd SET v = -1.0 WHERE k % 4 = 1")

    val (server, port) = startServer()
    try {
      // one walk helper: manifest list → (data entries, delete entries)
      def walk(table: String): (Seq[(String, Long)],
          Seq[(String, Long, Int, Seq[Int])]) = {
        val (c, body) =
          send(port, "GET", s"/v1/iceberg/namespaces/md/tables/$table")
        assert(c == 200, body)
        val md = Json.mapper.readTree(body).get("metadata")
        val snaps = md.get("snapshots")
        val ml = (0 until snaps.size()).map(snaps.get)
          .find(_.get("snapshot-id").asLong() ==
            md.get("current-snapshot-id").asLong()).get
          .get("manifest-list").asText()
        val data = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
        val dels = scala.collection.mutable.ArrayBuffer
          .empty[(String, Long, Int, Seq[Int])]
        readAvro(ml).foreach { m =>
          readAvro(m.get("manifest_path").toString).foreach { e =>
            val df = e.get("data_file")
              .asInstanceOf[org.apache.avro.generic.GenericRecord]
            val seq = e.get("sequence_number").asInstanceOf[Long]
            val content = df.get("content").asInstanceOf[Int]
            val path = df.get("file_path").toString
            assert(new java.io.File(path).isFile, s"planned file missing: $path")
            if (content == 0) data += ((path, seq))
            else {
              val eqIds = Option(df.get("equality_ids"))
                .map(_.asInstanceOf[java.util.List[_]].toArray.toSeq
                  .map(_.toString.toInt))
                .getOrElse(Seq.empty)
              dels += ((path, seq, content, eqIds))
            }
          }
        }
        (data.toSeq, dels.toSeq)
      }

      // --- equality table: content=2 entries with the key's field id;
      // an external engine's read (anti-join keys where data seq <
      // delete seq) reconstructs exactly what graft's own scan serves
      val (upData, upDels) = walk("up")
      assert(upDels.nonEmpty && upDels.forall(_._3 == 2), upDels)
      assert(upDels.forall(_._4 == Seq(1)), // k is field id 1
        s"equality_ids carry the key field id: $upDels")
      val upRows = upData.map { case (p, seq) =>
        spark.read.parquet(p).select(col("k"), col("v"), lit(seq).as("_seq"))
      }.reduce(_ unionByName _)
      val upKeys = upDels.map { case (p, seq, _, _) =>
        spark.read.parquet(p).select(col("k").as("dk"), lit(seq).as("_dseq"))
      }.reduce(_ unionByName _)
      val reconstructed = upRows.join(upKeys,
          upRows("k") <=> upKeys("dk") && upRows("_seq") < upKeys("_dseq"),
          "left_anti")
        .select("k", "v").collect().map(r => (r.getLong(0), r.getString(1))).sorted
      val native = spark.table("ir.md.up").collect()
        .map(r => (r.getLong(0), r.getString(1))).sorted
      assert(reconstructed.toSeq == native.toSeq,
        s"served delete plane reconstructs the table: $reconstructed vs $native")
      assert(native.count(_._2.startsWith("b")) == 5, "merge applied")

      // --- position table: content=1 entries; the transcoded object
      // carries spec column names and file_paths matching the planned
      // data files
      val (pdData, pdDels) = walk("pd")
      assert(pdDels.nonEmpty && pdDels.forall(_._3 == 1), pdDels)
      val posObj = spark.read.parquet(pdDels.map(_._1): _*)
      assert(posObj.columns.toSeq == Seq("file_path", "pos"))
      val plannedPaths = pdData.map(_._1).toSet
      val refPaths = posObj.select("file_path").distinct()
        .collect().map(_.getString(0))
      assert(refPaths.nonEmpty && refPaths.forall(plannedPaths),
        s"pos-delete file_paths match planned data files: ${refPaths.toSeq}")
      val pdRows = spark.read.parquet(pdData.map(_._1): _*)
        .select(col("k"), col("v"),
          regexp_replace(col("_metadata.file_path"), "^file:/+", "/")
            .as("_fp"),
          col("_metadata.row_index").as("_pos"))
      val pdSurvived = pdRows.join(posObj,
          pdRows("_fp") === posObj("file_path") &&
            pdRows("_pos") === posObj("pos"), "left_anti")
        .select("k", "v").collect().map(r => (r.getLong(0), r.getDouble(1))).sorted
      val pdNative = spark.table("ir.md.pd").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).sorted
      assert(pdSurvived.toSeq == pdNative.toSeq,
        s"served position deletes reconstruct the table")
      assert(pdNative.count(_._2 == -1.0) == 5, "update applied")

      // reloads are idempotent: the derived objects are immutable
      val icebergDir = new java.io.File(s"$warehouse/data/md/up/meta/iceberg")
      val first = icebergDir.list().sorted.toSeq
      assert(send(port, "GET", "/v1/iceberg/namespaces/md/tables/up")._1 == 200)
      assert(icebergDir.list().sorted.toSeq == first)

      // branches serve as movable refs (type=branch) with their head
      // snapshots in `snapshots`; the snapshot-log stays MAIN lineage
      // only (timestamp time travel follows it per the spec)
      spark.sql("""CREATE TABLE ir.md.br (k BIGINT)""")
      spark.sql("INSERT INTO ir.md.br VALUES (1)")
      spark.sql("CALL ir.system.create_branch('md', 'br', 'audit')")
      spark.sql("INSERT INTO ir.md.`br$branch_audit` VALUES (2)")
      spark.sql("INSERT INTO ir.md.br VALUES (3)")
      val (cb, bbody) = send(port, "GET", "/v1/iceberg/namespaces/md/tables/br")
      assert(cb == 200, bbody)
      val bmd = Json.mapper.readTree(bbody).get("metadata")
      val bref = bmd.get("refs").get("audit")
      assert(bref != null && bref.get("type").asText() == "branch", bbody)
      val branchHead = bref.get("snapshot-id").asLong()
      val served = (0 until bmd.get("snapshots").size())
        .map(bmd.get("snapshots").get(_).get("snapshot-id").asLong()).toSet
      assert(served.contains(branchHead), "branch head snapshot served")
      val logIds = (0 until bmd.get("snapshot-log").size())
        .map(bmd.get("snapshot-log").get(_).get("snapshot-id").asLong())
      assert(!logIds.contains(branchHead),
        s"branch snapshot kept out of the main snapshot-log: $logIds")
      assert(logIds.contains(bmd.get("current-snapshot-id").asLong()))
      assert(logIds.sorted == logIds, "log oldest-first")

      // identity-partitioned tables serve their position deletes as
      // per-partition split objects: each entry carries its
      // partition's tuple and references only that partition's files
      spark.sql("""CREATE TABLE ir.md.pp (k BIGINT, region STRING)
                   PARTITIONED BY (region)
                   TBLPROPERTIES ('graft.update.mode' = 'merge-on-read')""")
      spark.sql("INSERT INTO ir.md.pp VALUES (1, 'eu'), (2, 'us'), " +
        "(3, 'eu'), (4, 'us')")
      spark.sql("UPDATE ir.md.pp SET k = k + 100 WHERE k <= 2")
      val (cp, pbody) = send(port, "GET", "/v1/iceberg/namespaces/md/tables/pp")
      assert(cp == 200, pbody)
      val pmd = Json.mapper.readTree(pbody).get("metadata")
      // partitioned table advertises the extra unpartitioned spec 1
      assert(pmd.get("partition-specs").size() == 2, pbody)
      val psnaps = pmd.get("snapshots")
      val pml = (0 until psnaps.size()).map(psnaps.get)
        .find(_.get("snapshot-id").asLong() ==
          pmd.get("current-snapshot-id").asLong()).get
        .get("manifest-list").asText()
      val pdelEntries = readAvro(pml)
        .filter(_.get("content").asInstanceOf[Int] == 1)
        .flatMap(m => readAvro(m.get("manifest_path").toString))
      assert(pdelEntries.nonEmpty)
      // every delete entry names a single partition and its object
      // references only files of that partition (region rides the
      // file path)
      pdelEntries.foreach { e =>
        val df = e.get("data_file")
          .asInstanceOf[org.apache.avro.generic.GenericRecord]
        assert(df.get("content").asInstanceOf[Int] == 1)
        val region = df.get("partition")
          .asInstanceOf[org.apache.avro.generic.GenericRecord]
          .get("region")
        assert(region != null, "split entry carries its partition tuple")
        val refs = spark.read.parquet(df.get("file_path").toString)
          .select("file_path").distinct().collect().map(_.getString(0))
        assert(refs.nonEmpty &&
          refs.forall(_.contains(s"region=$region")),
          s"object for partition $region references $refs")
      }
      // and the served plane reconstructs the post-update table
      val ppData = readAvro(pml)
        .filter(_.get("content").asInstanceOf[Int] == 0)
        .flatMap(m => readAvro(m.get("manifest_path").toString))
        .map(_.get("data_file")
          .asInstanceOf[org.apache.avro.generic.GenericRecord]
          .get("file_path").toString)
      val ppDels = spark.read.parquet(pdelEntries.map(_.get("data_file")
        .asInstanceOf[org.apache.avro.generic.GenericRecord]
        .get("file_path").toString): _*)
      // identity-partition values live in the PATH (the entry's
      // partition tuple), not the data file — reconstruct on k only
      val ppRows = spark.read.parquet(ppData: _*)
        .select(col("k"),
          regexp_replace(col("_metadata.file_path"), "^file:/+", "/")
            .as("_fp"),
          col("_metadata.row_index").as("_pos"))
      val ppSurvived = ppRows.join(ppDels,
          ppRows("_fp") === ppDels("file_path") &&
            ppRows("_pos") === ppDels("pos"), "left_anti")
        .select("k").collect().map(_.getLong(0)).sorted.toSeq
      assert(ppSurvived == spark.table("ir.md.pp").collect()
        .map(_.getLong(0)).sorted.toSeq, s"got $ppSurvived")
      assert(ppSurvived == Seq(3L, 4L, 101L, 102L))

      // partitioned equality-delete upserts serve under the
      // unpartitioned spec (global deletes)
      spark.sql("""CREATE TABLE ir.md.pe (k BIGINT NOT NULL, region STRING)
                   PARTITIONED BY (region)
                   TBLPROPERTIES ('graft.write.upsert-keys' = 'k',
                                  'graft.merge.mode' = 'merge-on-read-eq')""")
      spark.sql("INSERT INTO ir.md.pe VALUES (1, 'eu'), (2, 'us')")
      spark.sql("""MERGE INTO ir.md.pe t
                   USING (SELECT 2L AS k, 'eu' AS region) s ON t.k = s.k
                   WHEN MATCHED THEN UPDATE SET region = s.region
                   WHEN NOT MATCHED THEN INSERT (k, region)
                     VALUES (s.k, s.region)""")
      val (ce, ebody) = send(port, "GET", "/v1/iceberg/namespaces/md/tables/pe")
      assert(ce == 200, ebody)
      val emd = Json.mapper.readTree(ebody).get("metadata")
      val esnaps = emd.get("snapshots")
      val eml = (0 until esnaps.size()).map(esnaps.get)
        .find(_.get("snapshot-id").asLong() ==
          emd.get("current-snapshot-id").asLong()).get
        .get("manifest-list").asText()
      val delRows = readAvro(eml)
        .filter(_.get("content").asInstanceOf[Int] == 1)
      assert(delRows.nonEmpty)
      assert(delRows.forall(
        _.get("partition_spec_id").asInstanceOf[Int] == 1),
        "equality-delete manifest rides the unpartitioned spec")
    } finally server.stop()
  }

  test("an external engine commits an append through the REST facade") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ir.xc")
    spark.sql("CREATE TABLE ir.xc.t (k BIGINT, v STRING)")
    spark.sql("INSERT INTO ir.xc.t VALUES (1, 'native')")
    val (server, port) = startServer()
    try {
      val base = "/v1/iceberg"
      // the client loads the table first (spec flow: base state +
      // metadata-location)
      val (c0, load0) = send(port, "GET", s"$base/namespaces/xc/tables/t")
      assert(c0 == 200)
      val md0 = Json.mapper.readTree(load0).get("metadata")
      val baseSnap = md0.get("current-snapshot-id").asLong()
      val uuid = md0.get("table-uuid").asText()

      // "external engine": writes its own parquet under the table
      // location and authors its own avro manifest + manifest list
      val tableDir = new java.io.File(s"$warehouse/data/xc/t/files/ext")
      tableDir.mkdirs()
      spark.range(2).selectExpr("id + 100 AS k", "'rest' AS v")
        .coalesce(1).write.mode("append").parquet(tableDir.toString)
      val dataFile = tableDir.listFiles()
        .find(f => f.getName.endsWith(".parquet")).get
      val entrySchema = new org.apache.avro.Schema.Parser().parse(
        """{"type":"record","name":"manifest_entry","fields":[
          |{"name":"status","type":"int"},
          |{"name":"data_file","type":{"type":"record","name":"r2","fields":[
          |{"name":"file_path","type":"string"},
          |{"name":"file_format","type":"string"},
          |{"name":"record_count","type":"long"},
          |{"name":"file_size_in_bytes","type":"long"}]}}]}"""
          .stripMargin.replaceAll("\n", ""))
      val listSchema = new org.apache.avro.Schema.Parser().parse(
        """{"type":"record","name":"manifest_file","fields":[
          |{"name":"manifest_path","type":"string"},
          |{"name":"manifest_length","type":"long"}]}"""
          .stripMargin.replaceAll("\n", ""))
      def writeAvro(f: java.io.File, schema: org.apache.avro.Schema,
          recs: Seq[org.apache.avro.generic.GenericRecord]): Unit = {
        val w = new org.apache.avro.file.DataFileWriter(
          new org.apache.avro.generic.GenericDatumWriter[
            org.apache.avro.generic.GenericRecord](schema))
        w.create(schema, f)
        recs.foreach(w.append)
        w.close()
      }
      val df = new org.apache.avro.generic.GenericData.Record(
        entrySchema.getField("data_file").schema())
      df.put("file_path", dataFile.getAbsolutePath)
      df.put("file_format", "PARQUET")
      df.put("record_count", 2L)
      df.put("file_size_in_bytes", dataFile.length())
      val entry = new org.apache.avro.generic.GenericData.Record(entrySchema)
      entry.put("status", 1)
      entry.put("data_file", df)
      val mf = new java.io.File(tableDir, "client-m0.avro")
      writeAvro(mf, entrySchema, Seq(entry))
      val row = new org.apache.avro.generic.GenericData.Record(listSchema)
      row.put("manifest_path", mf.getAbsolutePath)
      row.put("manifest_length", mf.length())
      val ml = new java.io.File(tableDir, "client-ml0.avro")
      writeAvro(ml, listSchema, Seq(row))

      def commitBody(basedOn: Long) =
        s"""{"requirements":[
           |  {"type":"assert-table-uuid","uuid":"$uuid"},
           |  {"type":"assert-ref-snapshot-id","ref":"main",
           |   "snapshot-id":$basedOn}],
           |"updates":[
           |  {"action":"add-snapshot","snapshot":{
           |    "snapshot-id":999,"sequence-number":99,
           |    "timestamp-ms":1,
           |    "manifest-list":"${ml.getAbsolutePath}",
           |    "summary":{"operation":"append"}}},
           |  {"action":"set-snapshot-ref","ref-name":"main",
           |   "type":"branch","snapshot-id":999}]}"""
          .stripMargin.replaceAll("\n", "")
      val (cc, resp) = send(port, "POST", s"$base/namespaces/xc/tables/t",
        commitBody(baseSnap))
      assert(cc == 200, resp)
      // the response reflects the committed state (graft assigns the
      // snapshot id, documented delta from the client's proposal)
      val md1 = Json.mapper.readTree(resp).get("metadata")
      assert(md1.get("current-snapshot-id").asLong() != baseSnap)
      // native readers see the externally-committed rows
      val rows = spark.table("ir.xc.t").collect()
        .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      assert(rows == Seq((1L, "native"), (100L, "rest"), (101L, "rest")), rows)
      // and the table's own history records an append
      val ops = spark.sql(
        "SELECT operation FROM ir.xc.`t$snapshots` ORDER BY snapshot_id")
        .collect().map(_.getString(0)).toSeq
      assert(ops == Seq("append", "append"), ops)

      // a stale base → 409 CommitFailedException, nothing committed
      val (c409, err) = send(port, "POST", s"$base/namespaces/xc/tables/t",
        commitBody(baseSnap))
      assert(c409 == 409 && err.contains("CommitFailedException"), err)
      assert(spark.table("ir.xc.t").count() == 3)

      // unsupported actions and out-of-root paths are refused with 400
      val (c400, e400) = send(port, "POST", s"$base/namespaces/xc/tables/t",
        s"""{"requirements":[],"updates":[
           |{"action":"remove-snapshots","snapshot-ids":[1]}]}"""
          .stripMargin.replaceAll("\n", ""))
      assert(c400 == 400 && e400.contains("unsupported"), e400)
      val outOfRoot = commitBody(Json.mapper.readTree(
        send(port, "GET", s"$base/namespaces/xc/tables/t")._2)
        .get("metadata").get("current-snapshot-id").asLong())
        .replace(ml.getAbsolutePath, "/etc/passwd")
      val (cOut, eOut) = send(port, "POST",
        s"$base/namespaces/xc/tables/t", outOfRoot)
      assert(cOut == 400 && eOut.contains("outside the catalog root"), eOut)
    } finally server.stop()
  }

  test("orphan cleanup prunes derived manifests of expired snapshots") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ir.gc")
    spark.sql("CREATE TABLE ir.gc.t (k BIGINT)")
    spark.sql("INSERT INTO ir.gc.t VALUES (1)")
    spark.sql("INSERT INTO ir.gc.t VALUES (2)")
    val (server, port) = startServer()
    try {
      assert(send(port, "GET", "/v1/iceberg/namespaces/gc/tables/t")._1 == 200)
      val dir = new java.io.File(s"$warehouse/data/gc/t/meta/iceberg")
      assert(dir.list().count(_.startsWith("ml-")) == 2,
        "both snapshots served a derived manifest list")
      val cat = spark.sessionState.catalogManager.catalog("ir")
        .asInstanceOf[GraftCatalog]
      val ident = org.apache.spark.sql.connector.catalog.Identifier.of(
        Array("gc"), "t")
      graft.maintain.Maintenance.expireSnapshots(cat, ident, keepLast = 1)
      val removed = graft.maintain.Maintenance.removeOrphanFiles(cat, ident)
      assert(removed.exists(_.contains("/meta/iceberg/ml-")),
        s"expired snapshot's derived manifest list removed: $removed")
      assert(dir.list().count(_.startsWith("ml-")) == 1,
        "the live snapshot's derived manifest list survives")
      // the facade still serves the live snapshot after cleanup
      val (c, body) = send(port, "GET", "/v1/iceberg/namespaces/gc/tables/t")
      assert(c == 200)
      assert(Json.mapper.readTree(body).get("metadata")
        .get("snapshots").size() == 1)
    } finally server.stop()
  }

  test("orphan cleanup prunes derived delete artifacts with their snapshots") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ir.gd")
    spark.sql("""CREATE TABLE ir.gd.t (k BIGINT NOT NULL, v STRING)
                 TBLPROPERTIES ('graft.write.upsert-keys' = 'k',
                                'graft.merge.mode' = 'merge-on-read-eq',
                                'graft.update.mode' = 'merge-on-read')""")
    spark.sql("INSERT INTO ir.gd.t SELECT id, concat('a', id) FROM range(8)")
    spark.sql("UPDATE ir.gd.t SET v = 'upd' WHERE k = 1") // pos delta
    spark.sql("""MERGE INTO ir.gd.t s USING (SELECT 2L AS k, 'm' AS v) u
                 ON s.k = u.k WHEN MATCHED THEN UPDATE SET v = u.v""") // eq
    val (server, port) = startServer()
    try {
      assert(send(port, "GET", "/v1/iceberg/namespaces/gd/tables/t")._1 == 200)
      val dir = new java.io.File(s"$warehouse/data/gd/t/meta/iceberg")
      def names = dir.list().sorted.toSeq
      assert(names.exists(_.startsWith("del-")), names)
      assert(names.exists(_.startsWith("deq-")), names)
      assert(names.exists(_.startsWith("pd-")), names)
      assert(names.exists(_.startsWith("ed-")), names)
      // compaction clears the pending state; expiring the MoR
      // snapshots makes every derived delete artifact regenerable
      // garbage — cleanup prunes them, and an unrecognized file is
      // RETAINED, never destroyed
      val stranger = new java.io.File(dir, "future-format.bin")
      java.nio.file.Files.write(stranger.toPath, Array[Byte](1, 2, 3))
      val badAvro = new java.io.File(dir, "del-notanumber.avro")
      java.nio.file.Files.write(badAvro.toPath, Array[Byte](1))
      val cat = spark.sessionState.catalogManager.catalog("ir")
        .asInstanceOf[GraftCatalog]
      val ident = org.apache.spark.sql.connector.catalog.Identifier.of(
        Array("gd"), "t")
      graft.maintain.Maintenance.compactDataFiles(spark, cat, ident,
        targetFiles = 1)
      graft.maintain.Maintenance.expireSnapshots(cat, ident, keepLast = 1)
      val removed = graft.maintain.Maintenance.removeOrphanFiles(cat, ident)
      val after = names
      assert(!after.exists(_.startsWith("del-") &&
        after.count(_.startsWith("del-")) > 1), after)
      Seq("del-", "deq-", "pd-", "ed-").foreach { p =>
        assert(removed.exists(_.contains(s"/meta/iceberg/$p")),
          s"expected pruned $p artifacts in $removed")
      }
      assert(after.contains("future-format.bin"),
        "unattributable files survive cleanup")
      assert(after.contains("del-notanumber.avro"),
        "unparseable basenames survive cleanup")
      // the live state still serves
      assert(send(port, "GET", "/v1/iceberg/namespaces/gd/tables/t")._1 == 200)
      assert(spark.table("ir.gd.t").count() == 8)
    } finally server.stop()
  }

  test("REST listings page a 10k-table namespace with stable tokens " +
      "across concurrent commits") {
    val storage = spark.sessionState.catalogManager.catalog("ir")
      .asInstanceOf[GraftCatalog].storage
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ir.pg")
    // 10k tables in ONE transaction (listing reads only tree keys;
    // per-table SQL DDL would be 10k commits for no extra coverage)
    val names = (0 until 10000).map(i => f"t$i%05d")
    val txn = graft.catalog.Graft.beginTransaction(storage)
    try {
      names.foreach { t =>
        graft.catalog.Graft.createTable(storage, txn,
          graft.objects.TableDef(t, "pg",
            metadataLocation = s"def/table/pg-$t-meta.json"))
      }
      graft.catalog.Graft.commitTransaction(storage, txn)
    } finally txn.close()
    val (server, port) = startServer()
    try {
      val base = "/v1/iceberg/namespaces/pg/tables"
      def page(token: Option[String]): (Seq[String], Option[String]) = {
        val q = "pageSize=1234" +
          token.map(t => s"&pageToken=$t").getOrElse("")
        val (c, body) = send(port, "GET", s"$base?$q")
        assert(c == 200, body)
        val node = Json.mapper.readTree(body)
        val ids = node.get("identifiers")
        ((0 until ids.size()).map(ids.get(_).get("name").asText()),
          Option(node.get("next-page-token")).map(_.asText()))
      }
      val collected = scala.collection.mutable.ArrayBuffer.empty[String]
      var (first, tok) = page(None)
      assert(first.size == 1234 && tok.isDefined)
      collected ++= first
      var added = false
      while (tok.isDefined) {
        if (!added && collected.size > 5000) {
          // concurrent commits between pages: drop an ALREADY-LISTED
          // table and add one sorting after the cursor — tokens stay
          // valid, every surviving table is listed exactly once
          val txn2 = graft.catalog.Graft.beginTransaction(storage)
          try {
            graft.catalog.Graft.dropTable(storage, txn2, "pg", "t00000")
            graft.catalog.Graft.createTable(storage, txn2,
              graft.objects.TableDef("zz_late", "pg",
                metadataLocation = "def/table/pg-zz_late-meta.json"))
            graft.catalog.Graft.commitTransaction(storage, txn2)
          } finally txn2.close()
          added = true
        }
        val (names2, t2) = page(tok)
        assert(names2.size <= 1234)
        collected ++= names2
        tok = t2
      }
      // t00000 was served before its drop; zz_late appeared after its
      // create — both exactly once, nothing skipped or duplicated
      assert(collected.size == collected.distinct.size, "no duplicates")
      assert(collected.toSet == names.toSet + "zz_late",
        "every surviving table listed")
      // bad inputs map to 400
      assert(send(port, "GET", s"$base?pageSize=0")._1 == 400)
      assert(send(port, "GET", s"$base?pageSize=abc")._1 == 400)
      assert(send(port, "GET", s"$base?pageToken=!!")._1 == 400)
      // namespaces + views page through the same machinery
      val (cn, nb) = send(port, "GET", "/v1/iceberg/namespaces?pageSize=2")
      assert(cn == 200, nb)
      val nn = Json.mapper.readTree(nb)
      assert(nn.get("namespaces").size() <= 2)
    } finally server.stop()
  }

  // ---- external row-level commits (overwrite / delete manifests) ----

  /** Client-side avro authoring shared by the row-level commit tests:
    * a manifest list whose entries may be data manifests (content 0,
    * ADDED/DELETED entries) or delete manifests (content 1 with
    * position/equality delete files).
    */
  private object ClientAvro {
    val entrySchema: org.apache.avro.Schema =
      new org.apache.avro.Schema.Parser().parse(
        """{"type":"record","name":"manifest_entry","fields":[
          |{"name":"status","type":"int"},
          |{"name":"data_file","type":{"type":"record","name":"r2","fields":[
          |{"name":"content","type":"int"},
          |{"name":"file_path","type":"string"},
          |{"name":"file_format","type":"string"},
          |{"name":"record_count","type":"long"},
          |{"name":"file_size_in_bytes","type":"long"},
          |{"name":"equality_ids","type":["null",
          |  {"type":"array","items":"int"}],"default":null}]}}]}"""
          .stripMargin.replaceAll("\n", ""))
    val listSchema: org.apache.avro.Schema =
      new org.apache.avro.Schema.Parser().parse(
        """{"type":"record","name":"manifest_file","fields":[
          |{"name":"manifest_path","type":"string"},
          |{"name":"manifest_length","type":"long"},
          |{"name":"content","type":"int"}]}"""
          .stripMargin.replaceAll("\n", ""))

    def write(f: java.io.File, schema: org.apache.avro.Schema,
        recs: Seq[org.apache.avro.generic.GenericRecord]): Unit = {
      val w = new org.apache.avro.file.DataFileWriter(
        new org.apache.avro.generic.GenericDatumWriter[
          org.apache.avro.generic.GenericRecord](schema))
      w.create(schema, f)
      recs.foreach(w.append)
      w.close()
    }

    def entry(status: Int, content: Int, path: String, rows: Long,
        size: Long, eqIds: Seq[Int] = Seq.empty)
        : org.apache.avro.generic.GenericRecord = {
      val df = new org.apache.avro.generic.GenericData.Record(
        entrySchema.getField("data_file").schema())
      df.put("content", content)
      df.put("file_path", path)
      df.put("file_format", "PARQUET")
      df.put("record_count", rows)
      df.put("file_size_in_bytes", size)
      if (eqIds.nonEmpty)
        df.put("equality_ids", new org.apache.avro.generic.GenericData.Array(
          entrySchema.getField("data_file").schema()
            .getField("equality_ids").schema().getTypes.get(1),
          scala.jdk.CollectionConverters.SeqHasAsJava(
            eqIds.map(Int.box)).asJava))
      val e = new org.apache.avro.generic.GenericData.Record(entrySchema)
      e.put("status", status)
      e.put("data_file", df)
      e
    }

    /** One manifest per (content, entries) group → a manifest list. */
    def manifestList(dir: java.io.File, tag: String,
        manifests: Seq[(Int, Seq[org.apache.avro.generic.GenericRecord])])
        : java.io.File = {
      val rows = manifests.zipWithIndex.map { case ((content, entries), i) =>
        val mf = new java.io.File(dir, s"client-$tag-m$i.avro")
        write(mf, entrySchema, entries)
        val r = new org.apache.avro.generic.GenericData.Record(listSchema)
        r.put("manifest_path", mf.getAbsolutePath)
        r.put("manifest_length", mf.length())
        r.put("content", content)
        r
      }
      val ml = new java.io.File(dir, s"client-$tag-ml.avro")
      write(ml, listSchema, rows)
      ml
    }
  }

  private def commitBodyFor(uuid: String, basedOn: Long, op: String,
      ml: java.io.File, assertRef: Boolean = true): String = {
    val reqs =
      if (assertRef)
        s"""[{"type":"assert-table-uuid","uuid":"$uuid"},
           |{"type":"assert-ref-snapshot-id","ref":"main",
           | "snapshot-id":$basedOn}]""".stripMargin
      else s"""[{"type":"assert-table-uuid","uuid":"$uuid"}]"""
    s"""{"requirements":$reqs,
       |"updates":[
       |  {"action":"add-snapshot","snapshot":{
       |    "snapshot-id":999,"sequence-number":99,"timestamp-ms":1,
       |    "manifest-list":"${ml.getAbsolutePath}",
       |    "summary":{"operation":"$op"}}},
       |  {"action":"set-snapshot-ref","ref-name":"main",
       |   "type":"branch","snapshot-id":999}]}"""
      .stripMargin.replaceAll("\n", "")
  }

  private def loadMeta(port: Int, ns: String, t: String)
      : com.fasterxml.jackson.databind.JsonNode = {
    val (c, body) = send(port, "GET", s"/v1/iceberg/namespaces/$ns/tables/$t")
    assert(c == 200, body)
    Json.mapper.readTree(body).get("metadata")
  }

  test("an external engine commits a position-delete (merge-on-read) " +
      "over REST") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ir.xp")
    spark.sql("CREATE TABLE ir.xp.t (k BIGINT, v STRING)")
    spark.sql("INSERT INTO ir.xp.t SELECT id, concat('v', id) FROM range(10)")
    val (server, port) = startServer()
    try {
      val md = loadMeta(port, "xp", "t")
      val uuid = md.get("table-uuid").asText()
      val baseSnap = md.get("current-snapshot-id").asLong()
      // the external engine plans the current snapshot's files and
      // authors a position delete for rows it wants gone (k % 3 == 0):
      // read each planned file with row positions, exactly as an
      // Iceberg engine computes (file_path, pos)
      val snaps = md.get("snapshots")
      val mlPath = (0 until snaps.size()).map(snaps.get)
        .find(_.get("snapshot-id").asLong() == baseSnap).get
        .get("manifest-list").asText()
      val planned = readAvro(mlPath).flatMap(m =>
        readAvro(m.get("manifest_path").toString)).map(_.get("data_file")
          .asInstanceOf[org.apache.avro.generic.GenericRecord]
          .get("file_path").toString)
      import org.apache.spark.sql.functions._
      val dels = spark.read.parquet(planned: _*)
        .select(col("k"),
          regexp_replace(col("_metadata.file_path"), "^file:/+", "/")
            .as("file_path"),
          col("_metadata.row_index").as("pos"))
        .filter(col("k") % 3 === 0)
        .select("file_path", "pos")
      val extDir = new java.io.File(s"$warehouse/data/xp/t/files/ext")
      extDir.mkdirs()
      val delDir = new java.io.File(extDir, "posdel")
      dels.coalesce(1).write.mode("overwrite").parquet(delDir.toString)
      val delFile = delDir.listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val delRows = spark.read.parquet(delDir.toString).count()
      val ml = ClientAvro.manifestList(extDir, "pd", Seq(
        (1, Seq(ClientAvro.entry(1, 1, delFile.getAbsolutePath, delRows,
          delFile.length())))))
      val (cc, resp) = send(port, "POST", "/v1/iceberg/namespaces/xp/tables/t",
        commitBodyFor(uuid, baseSnap, "delete", ml))
      assert(cc == 200, resp)
      // native readers apply the externally-committed deletes
      val kept = spark.table("ir.xp.t").collect().map(_.getLong(0)).sorted.toSeq
      assert(kept == (0L until 10L).filter(_ % 3 != 0), kept)
      // and the served plane round-trips them back out as a delete
      // manifest (the transcoded native object re-serves)
      val md2 = loadMeta(port, "xp", "t")
      val cur2 = md2.get("current-snapshot-id").asLong()
      val snaps2 = md2.get("snapshots")
      val ml2 = (0 until snaps2.size()).map(snaps2.get)
        .find(_.get("snapshot-id").asLong() == cur2).get
        .get("manifest-list").asText()
      assert(readAvro(ml2).exists(_.get("content").asInstanceOf[Int] == 1),
        "committed position deletes re-serve as a delete manifest")
    } finally server.stop()
  }

  test("an external engine commits an overwrite (replaced + added files) " +
      "over REST") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ir.xo")
    spark.sql("CREATE TABLE ir.xo.t (k BIGINT, v STRING)")
    spark.sql("INSERT INTO ir.xo.t VALUES (1, 'old')")
    spark.sql("INSERT INTO ir.xo.t VALUES (2, 'keep')")
    val (server, port) = startServer()
    try {
      val md = loadMeta(port, "xo", "t")
      val uuid = md.get("table-uuid").asText()
      val baseSnap = md.get("current-snapshot-id").asLong()
      val snaps = md.get("snapshots")
      val mlPath = (0 until snaps.size()).map(snaps.get)
        .find(_.get("snapshot-id").asLong() == baseSnap).get
        .get("manifest-list").asText()
      val planned = readAvro(mlPath).flatMap(m =>
        readAvro(m.get("manifest_path").toString)).map(_.get("data_file")
          .asInstanceOf[org.apache.avro.generic.GenericRecord]
          .get("file_path").toString)
      // the engine rewrites the file holding k=1 (copy-on-write):
      // DELETED entry for the old file, ADDED entry for its replacement
      val victim = planned.find(p =>
        spark.read.parquet(p).filter("k = 1").count() > 0).get
      val extDir = new java.io.File(s"$warehouse/data/xo/t/files/ext")
      extDir.mkdirs()
      val newDir = new java.io.File(extDir, "rewrite")
      spark.sql("SELECT 1L AS k, 'new' AS v").coalesce(1)
        .write.mode("overwrite").parquet(newDir.toString)
      val newFile = newDir.listFiles().find(_.getName.endsWith(".parquet")).get
      val ml = ClientAvro.manifestList(extDir, "ow", Seq(
        (0, Seq(
          ClientAvro.entry(2, 0, victim, 1L, 1L),
          ClientAvro.entry(1, 0, newFile.getAbsolutePath, 1L,
            newFile.length())))))
      val (cc, resp) = send(port, "POST", "/v1/iceberg/namespaces/xo/tables/t",
        commitBodyFor(uuid, baseSnap, "overwrite", ml))
      assert(cc == 200, resp)
      val rows = spark.table("ir.xo.t").collect()
        .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      assert(rows == Seq((1L, "new"), (2L, "keep")), rows)
      val ops = spark.sql(
        "SELECT operation FROM ir.xo.`t$snapshots` ORDER BY snapshot_id")
        .collect().map(_.getString(0)).toSeq
      assert(ops.last == "overwrite", ops)
      // a DELETED entry naming a file the table does not hold is a
      // conflict (stale plan), not a silent no-op leaving duplicates
      val md2 = loadMeta(port, "xo", "t")
      val stale = ClientAvro.manifestList(extDir, "stale", Seq(
        (0, Seq(
          ClientAvro.entry(2, 0, victim, 1L, 1L), // already replaced
          ClientAvro.entry(1, 0, newFile.getAbsolutePath, 1L,
            newFile.length())))))
      val (cStale, eStale) = send(port, "POST",
        "/v1/iceberg/namespaces/xo/tables/t",
        commitBodyFor(uuid, md2.get("current-snapshot-id").asLong(),
          "overwrite", stale))
      assert(cStale == 409 && eStale.contains("not in the table"),
        s"$cStale $eStale")
    } finally server.stop()
  }

  test("an external equality-delete commit needs the main-ref guard " +
      "and applies by key") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ir.xe")
    spark.sql("CREATE TABLE ir.xe.t (k BIGINT NOT NULL, v STRING)")
    spark.sql("INSERT INTO ir.xe.t SELECT id, concat('v', id) FROM range(6)")
    val (server, port) = startServer()
    try {
      val md = loadMeta(port, "xe", "t")
      val uuid = md.get("table-uuid").asText()
      val baseSnap = md.get("current-snapshot-id").asLong()
      // field id of k in the served schema
      val fields = md.get("schemas").get(0).get("fields")
      val kId = (0 until fields.size()).map(fields.get)
        .find(_.get("name").asText() == "k").get.get("id").asInt()
      val extDir = new java.io.File(s"$warehouse/data/xe/t/files/ext")
      extDir.mkdirs()
      val delDir = new java.io.File(extDir, "eqdel")
      spark.sql("SELECT 2L AS k UNION ALL SELECT 4L").coalesce(1)
        .write.mode("overwrite").parquet(delDir.toString)
      val delFile = delDir.listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val ml = ClientAvro.manifestList(extDir, "eq", Seq(
        (1, Seq(ClientAvro.entry(1, 2, delFile.getAbsolutePath, 2L,
          delFile.length(), eqIds = Seq(kId))))))
      // without assert-ref-snapshot-id the commit is refused: a lost
      // race would rebase the deletes over rows the client never saw
      val (cNoGuard, eNoGuard) = send(port, "POST",
        "/v1/iceberg/namespaces/xe/tables/t",
        commitBodyFor(uuid, baseSnap, "delete", ml, assertRef = false))
      assert(cNoGuard == 400 && eNoGuard.contains("assert-ref-snapshot-id"),
        s"$cNoGuard $eNoGuard")
      val (cc, resp) = send(port, "POST", "/v1/iceberg/namespaces/xe/tables/t",
        commitBodyFor(uuid, baseSnap, "delete", ml))
      assert(cc == 200, resp)
      val kept = spark.table("ir.xe.t").collect().map(_.getLong(0)).sorted.toSeq
      assert(kept == Seq(0L, 1L, 3L, 5L), kept)
    } finally server.stop()
  }

  test("a partitioned predicate-delete table serves splits per partition") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ir.pp")
    spark.sql("""CREATE TABLE ir.pp.t (k BIGINT, region STRING)
                 PARTITIONED BY (region)
                 TBLPROPERTIES ('graft.delete.mode' = 'merge-on-read')""")
    spark.sql("""INSERT INTO ir.pp.t
                 SELECT id, CASE WHEN id % 2 = 0 THEN 'eu' ELSE 'us' END
                 FROM range(20)""")
    spark.sql("DELETE FROM ir.pp.t WHERE k >= 12")
    val (server, port) = startServer()
    try {
      val md = loadMeta(port, "pp", "t")
      val snaps = md.get("snapshots")
      val ml = (0 until snaps.size()).map(snaps.get)
        .find(_.get("snapshot-id").asLong() ==
          md.get("current-snapshot-id").asLong()).get
        .get("manifest-list").asText()
      val entries = readAvro(ml).flatMap(m =>
        readAvro(m.get("manifest_path").toString))
      val delEntries = entries.filter { e =>
        e.get("data_file").asInstanceOf[org.apache.avro.generic.GenericRecord]
          .get("content").asInstanceOf[Int] == 1
      }
      // the materialized predicate deletes split per partition, each
      // entry stamped with its partition tuple
      assert(delEntries.size >= 2, s"one split per region: $delEntries")
      val regions = delEntries.map { e =>
        val df = e.get("data_file")
          .asInstanceOf[org.apache.avro.generic.GenericRecord]
        df.get("partition").asInstanceOf[org.apache.avro.generic.GenericRecord]
          .get("region").toString
      }.toSet
      assert(regions == Set("eu", "us"), regions)
      // external reconstruction matches the post-delete content
      import org.apache.spark.sql.functions._
      def files(content: Int): Seq[String] = entries.flatMap { e =>
        val df = e.get("data_file")
          .asInstanceOf[org.apache.avro.generic.GenericRecord]
        if (df.get("content").asInstanceOf[Int] == content)
          Some(df.get("file_path").toString)
        else None
      }
      val data = spark.read.parquet(files(0): _*)
        .select(col("k"),
          regexp_replace(col("_metadata.file_path"), "^file:/+", "/")
            .as("_fp"),
          col("_metadata.row_index").as("_pos"))
      val dels = spark.read.parquet(files(1): _*)
      val kept = data.join(dels,
          data("_fp") === dels("file_path") && data("_pos") === dels("pos"),
          "left_anti")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(kept == (0L until 12L), kept)
    } finally server.stop()
  }

  test("an external equality-delete commit keys through a renamed column") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ir.xn")
    spark.sql("CREATE TABLE ir.xn.t (orig_k BIGINT NOT NULL, v STRING)")
    spark.sql("INSERT INTO ir.xn.t SELECT id, concat('v', id) FROM range(6)")
    // logical rename is metadata-only: files keep the ORIGINAL
    // physical column name; the transcode must key the native delete
    // object by the physical name
    spark.sql("ALTER TABLE ir.xn.t RENAME COLUMN orig_k TO k")
    val (server, port) = startServer()
    try {
      val md = loadMeta(port, "xn", "t")
      val uuid = md.get("table-uuid").asText()
      val baseSnap = md.get("current-snapshot-id").asLong()
      val fields = md.get("schemas").get(0).get("fields")
      val kId = (0 until fields.size()).map(fields.get)
        .find(_.get("name").asText() == "k").get.get("id").asInt()
      val extDir = new java.io.File(s"$warehouse/data/xn/t/files/ext")
      extDir.mkdirs()
      val delDir = new java.io.File(extDir, "eqdel")
      // the client writes key tuples under the LOGICAL name it sees
      spark.sql("SELECT 1L AS k UNION ALL SELECT 3L").coalesce(1)
        .write.mode("overwrite").parquet(delDir.toString)
      val delFile = delDir.listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val ml = ClientAvro.manifestList(extDir, "rn", Seq(
        (1, Seq(ClientAvro.entry(1, 2, delFile.getAbsolutePath, 2L,
          delFile.length(), eqIds = Seq(kId))))))
      val (cc, resp) = send(port, "POST", "/v1/iceberg/namespaces/xn/tables/t",
        commitBodyFor(uuid, baseSnap, "delete", ml))
      assert(cc == 200, resp)
      val kept = spark.table("ir.xn.t").collect().map(_.getLong(0)).sorted.toSeq
      assert(kept == Seq(0L, 2L, 4L, 5L), kept)
    } finally server.stop()
  }

  test("schema-evolution commits apply over REST with native semantics") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ir.xs")
    spark.sql("""CREATE TABLE ir.xs.t (
                   k BIGINT NOT NULL, v STRING,
                   payload STRUCT<a: INT, b: STRING>)""")
    spark.sql("""INSERT INTO ir.xs.t VALUES
                 (1, 'x', named_struct('a', 7, 'b', 'p'))""")
    val (server, port) = startServer()
    try {
      val md = loadMeta(port, "xs", "t")
      // the client evolves the LOADED schema: rename v -> label, add
      // top-level note, widen payload.a to long, add nested payload.c,
      // drop payload.b, relax k to optional
      val schema = md.get("schemas").get(0)
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
        .deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
      val lastId = md.get("last-column-id").asInt()
      def fieldByName(struct: com.fasterxml.jackson.databind.JsonNode,
          n: String): com.fasterxml.jackson.databind.node.ObjectNode = {
        val fs = struct.get("fields")
        (0 until fs.size()).map(fs.get)
          .find(_.get("name").asText() == n).get
          .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      }
      fieldByName(schema, "v").put("name", "label")
      fieldByName(schema, "k").put("required", false)
      val payloadType = fieldByName(schema, "payload").get("type")
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      fieldByName(payloadType, "a").put("type", "long")
      // drop payload.b
      val pf = payloadType.putArray("fields_new")
      val oldPf = payloadType.get("fields")
      (0 until oldPf.size()).map(oldPf.get)
        .filter(_.get("name").asText() != "b").foreach(pf.add)
      val nested = pf.addObject()
      nested.put("id", lastId + 1); nested.put("name", "c")
      nested.put("required", false); nested.put("type", "double")
      payloadType.set("fields", payloadType.remove("fields_new"))
      val top = schema.get("fields")
        .asInstanceOf[com.fasterxml.jackson.databind.node.ArrayNode]
      val note = top.addObject()
      note.put("id", lastId + 2); note.put("name", "note")
      note.put("required", false); note.put("type", "string")
      val body =
        s"""{"requirements":[],"updates":[
           |{"action":"add-schema","schema":${schema.toString}},
           |{"action":"set-current-schema-id","schema-id":-1}]}"""
          .stripMargin.replaceAll("\n", "")
      val (cc, resp) = send(port, "POST", "/v1/iceberg/namespaces/xs/tables/t",
        body)
      assert(cc == 200, resp)
      // native DDL surface reflects every change; old rows read the
      // renamed/widened/added fields correctly (rename is
      // metadata-only — ColumnMapping keeps the physical name)
      val row = spark.sql(
        "SELECT k, label, payload.a, payload.c, note FROM ir.xs.t")
        .collect().head
      assert(row.getLong(0) == 1L && row.getString(1) == "x" &&
        row.getLong(2) == 7L && row.isNullAt(3) && row.isNullAt(4), row)
      assert(!spark.table("ir.xs.t").schema("payload").dataType
        .asInstanceOf[org.apache.spark.sql.types.StructType]
        .fieldNames.contains("b"), "payload.b dropped")
      // new writes use the evolved shape
      spark.sql("""INSERT INTO ir.xs.t VALUES
                   (2, 'y', named_struct('a', 8L, 'c', 0.5D), 'n2')""")
      assert(spark.table("ir.xs.t").count() == 2)
      // tightening to required is refused
      val bad = schema.deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
      fieldByName(bad, "label").put("required", true)
      val (cb, eb) = send(port, "POST", "/v1/iceberg/namespaces/xs/tables/t",
        s"""{"requirements":[],"updates":[
           |{"action":"add-schema","schema":${bad.toString}}]}"""
          .stripMargin.replaceAll("\n", ""))
      assert(cb == 400 && eb.contains("tighten"), s"$cb $eb")
      // drop-and-recreate of the SAME name in one commit: the drop
      // must free the name before the add lands (and the fresh
      // physical name keeps the dropped data from resurrecting)
      val md2 = loadMeta(port, "xs", "t")
      val sch2 = md2.get("schemas").get(0)
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
        .deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
      val last2 = md2.get("last-column-id").asInt()
      val top2 = sch2.get("fields")
        .asInstanceOf[com.fasterxml.jackson.databind.node.ArrayNode]
      val keepIdx = (0 until top2.size())
        .find(i => top2.get(i).get("name").asText() == "note").get
      top2.remove(keepIdx)
      val recreated = top2.addObject()
      recreated.put("id", last2 + 1); recreated.put("name", "note")
      recreated.put("required", false); recreated.put("type", "long")
      val (cr2, er2) = send(port, "POST",
        "/v1/iceberg/namespaces/xs/tables/t",
        s"""{"requirements":[],"updates":[
           |{"action":"add-schema","schema":${sch2.toString}}]}"""
          .stripMargin.replaceAll("\n", ""))
      assert(cr2 == 200, s"$cr2 $er2")
      assert(spark.table("ir.xs.t").schema("note").dataType ==
        org.apache.spark.sql.types.LongType)
      // the pre-drop string values must NOT resurrect under the new
      // long column
      assert(spark.sql("SELECT note FROM ir.xs.t WHERE note IS NOT NULL")
        .count() == 0)
    } finally server.stop()
  }

  test("property commits apply over REST; engine-reserved keys refused") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ir.xr")
    spark.sql("CREATE TABLE ir.xr.t (k BIGINT)")
    val (server, port) = startServer()
    try {
      def propBody(updates: String) =
        s"""{"requirements":[],"updates":[$updates]}"""
      val (c1, b1) = send(port, "POST", "/v1/iceberg/namespaces/xr/tables/t",
        propBody("""{"action":"set-properties",
          "updates":{"ext.team":"ext-engine","ext.note":"set over REST"}}"""
          .replaceAll("\n\\s*", "")))
      assert(c1 == 200, b1)
      val props1 = Json.mapper.readTree(b1).get("metadata").get("properties")
      assert(props1.get("ext.team").asText() == "ext-engine", b1)
      // native readers see it
      val shown = spark.sql("SHOW TBLPROPERTIES ir.xr.t").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(shown.get("ext.team").contains("ext-engine"), shown)
      // remove-properties round-trips too
      val (c2, b2) = send(port, "POST", "/v1/iceberg/namespaces/xr/tables/t",
        propBody("""{"action":"remove-properties","removals":["ext.note"]}"""))
      assert(c2 == 200, b2)
      assert(!Json.mapper.readTree(b2).get("metadata").get("properties")
        .has("ext.note"), b2)
      // engine-reserved keys cannot be set OR removed from outside
      val (c3, b3) = send(port, "POST", "/v1/iceberg/namespaces/xr/tables/t",
        propBody("""{"action":"set-properties",
          "updates":{"graft.update.mode":"merge-on-read"}}"""
          .replaceAll("\n\\s*", "")))
      assert(c3 == 400 && b3.contains("engine-reserved"), s"$c3 $b3")
      val (c3b, b3b) = send(port, "POST", "/v1/iceberg/namespaces/xr/tables/t",
        propBody(
          """{"action":"remove-properties","removals":["graft.delete.mode"]}"""))
      assert(c3b == 400 && b3b.contains("engine-reserved"), s"$c3b $b3b")
      // an empty commit (no snapshot, no properties) is malformed
      val (c4, b4) = send(port, "POST", "/v1/iceberg/namespaces/xr/tables/t",
        propBody("""{"action":"set-properties","updates":{}}"""))
      assert(c4 == 400 && b4.contains("changes nothing"), s"$c4 $b4")
    } finally server.stop()
  }

  test("an Iceberg REST create keeps its properties and identity spec") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ir.xc")
    val (server, port) = startServer()
    try {
      def createBody(name: String, transform: String) =
        s"""{"name":"$name","schema":{"type":"struct","schema-id":0,"fields":[
          |{"id":1,"name":"k","required":true,"type":"long"},
          |{"id":2,"name":"region","required":false,"type":"string"}]},
          |"partition-spec":{"spec-id":0,"fields":[{"source-id":2,
          |"field-id":1000,"name":"region_part","transform":"$transform"}]},
          |"properties":{"ext.owner":"team-a"}}""".stripMargin
          .replaceAll("\n", "")
      val base = "/v1/iceberg/namespaces/xc/tables"
      val (c1, b1) = send(port, "POST", base, createBody("parted", "identity"))
      assert(c1 == 200, b1)
      // the load round-trips the properties and the spec (its source
      // column resolved through the field id, not the field's name)
      val (c2, b2) = send(port, "GET", s"$base/parted")
      assert(c2 == 200, b2)
      val md = Json.mapper.readTree(b2).get("metadata")
      assert(md.get("properties").path("ext.owner").asText() == "team-a", b2)
      val field = md.get("partition-specs").get(0).get("fields").get(0)
      assert(field.get("transform").asText() == "identity" &&
        field.get("name").asText() == "region", b2)
      // a later SQL INSERT lands in Hive-style region=<value> dirs
      spark.sql("INSERT INTO ir.xc.parted VALUES (1, 'eu'), (2, 'us')")
      val storage = spark.sessionState.catalogManager.catalog("ir")
        .asInstanceOf[GraftCatalog].storage
      val keys = storage.listDeep(
        graft.objects.FileLocations.tableDataDir("xc", "parted"))
        .filter(_.endsWith(".parquet"))
      assert(Seq("region=eu/", "region=us/").forall(d =>
        keys.exists(_.contains(d))), keys)
      // a non-identity transform is refused, saying why
      val (c3, b3) = send(port, "POST", base, createBody("bucketed", "bucket[4]"))
      assert(c3 == 400 && b3.contains("identity transforms"), s"$c3 $b3")
      assert(send(port, "HEAD", s"$base/bucketed")._1 == 404)
    } finally server.stop()
  }

  test("malformed client manifests and missing files map to 400, not 500") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ir.xm")
    spark.sql("CREATE TABLE ir.xm.t (k BIGINT)")
    spark.sql("INSERT INTO ir.xm.t VALUES (1)")
    val (server, port) = startServer()
    try {
      val md = loadMeta(port, "xm", "t")
      val uuid = md.get("table-uuid").asText()
      val baseSnap = md.get("current-snapshot-id").asLong()
      val extDir = new java.io.File(s"$warehouse/data/xm/t/files/ext")
      extDir.mkdirs()
      // (1) an entry whose data_file lacks file_path → 400
      val noPathEntrySchema = new org.apache.avro.Schema.Parser().parse(
        """{"type":"record","name":"manifest_entry","fields":[
          |{"name":"status","type":"int"},
          |{"name":"data_file","type":{"type":"record","name":"r2","fields":[
          |{"name":"file_format","type":"string"}]}}]}"""
          .stripMargin.replaceAll("\n", ""))
      val df = new org.apache.avro.generic.GenericData.Record(
        noPathEntrySchema.getField("data_file").schema())
      df.put("file_format", "PARQUET")
      val e = new org.apache.avro.generic.GenericData.Record(noPathEntrySchema)
      e.put("status", 1)
      e.put("data_file", df)
      val mf = new java.io.File(extDir, "nopath-m.avro")
      ClientAvro.write(mf, noPathEntrySchema, Seq(e))
      val row = new org.apache.avro.generic.GenericData.Record(
        ClientAvro.listSchema)
      row.put("manifest_path", mf.getAbsolutePath)
      row.put("manifest_length", mf.length())
      row.put("content", 0)
      val ml1 = new java.io.File(extDir, "nopath-ml.avro")
      ClientAvro.write(ml1, ClientAvro.listSchema, Seq(row))
      val (c1, e1) = send(port, "POST", "/v1/iceberg/namespaces/xm/tables/t",
        commitBodyFor(uuid, baseSnap, "append", ml1))
      assert(c1 == 400 && e1.contains("missing required field file_path"),
        s"$c1 $e1")
      // (2) a commit referencing a data file that does not exist → 400
      val ghost = s"$warehouse/data/xm/t/files/ext/ghost.parquet"
      val ml2 = ClientAvro.manifestList(extDir, "ghost", Seq(
        (0, Seq(ClientAvro.entry(1, 0, ghost, 1L, 1L)))))
      val (c2, e2) = send(port, "POST", "/v1/iceberg/namespaces/xm/tables/t",
        commitBodyFor(uuid, baseSnap, "append", ml2))
      assert(c2 == 400 && e2.contains("does not exist"), s"$c2 $e2")
      // (3) mixing position- and equality-delete files → 400
      val pd = new java.io.File(extDir, "pd.parquet")
      spark.sql("SELECT '/x' AS file_path, 0L AS pos").coalesce(1)
        .write.mode("overwrite").parquet(pd.toString + ".d")
      val pdFile = new java.io.File(pd.toString + ".d").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val ml3 = ClientAvro.manifestList(extDir, "mix", Seq(
        (1, Seq(
          ClientAvro.entry(1, 1, pdFile.getAbsolutePath, 1L, 1L),
          ClientAvro.entry(1, 2, pdFile.getAbsolutePath, 1L, 1L,
            eqIds = Seq(1))))))
      val (c3, e3) = send(port, "POST", "/v1/iceberg/namespaces/xm/tables/t",
        commitBodyFor(uuid, baseSnap, "delete", ml3))
      assert(c3 == 400 && e3.contains("cannot mix"), s"$c3 $e3")
      // nothing committed by any of the rejected requests
      assert(spark.table("ir.xm.t").count() == 1)
    } finally server.stop()
  }

  private def readAvro(path: String): Seq[org.apache.avro.generic.GenericRecord] = {
    val r = new org.apache.avro.file.DataFileReader[org.apache.avro.generic.GenericRecord](
      new java.io.File(path),
      new org.apache.avro.generic.GenericDatumReader[org.apache.avro.generic.GenericRecord]())
    try {
      val out = scala.collection.mutable.ArrayBuffer.empty[org.apache.avro.generic.GenericRecord]
      while (r.hasNext) out += r.next()
      out.toSeq
    } finally r.close()
  }

  private def collectIds(node: com.fasterxml.jackson.databind.JsonNode): Seq[Int] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Int]
    def walk(n: com.fasterxml.jackson.databind.JsonNode): Unit = {
      if (n.isObject) {
        val it = n.properties().iterator()
        while (it.hasNext) {
          val e = it.next()
          if ((e.getKey == "id" || e.getKey.endsWith("-id")) &&
              e.getValue.isInt && e.getKey != "schema-id")
            out += e.getValue.asInt()
          walk(e.getValue)
        }
      } else if (n.isArray) n.forEach(walk(_))
    }
    walk(node)
    out.toSeq
  }

  test("register adopts dropped metadata; purge deletes the data tree") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ir.rg")
    spark.sql("CREATE TABLE ir.rg.keep (k BIGINT)")
    spark.sql("INSERT INTO ir.rg.keep VALUES (7), (8)")
    spark.sql("CREATE TABLE ir.rg.gone (k BIGINT)")
    spark.sql("INSERT INTO ir.rg.gone VALUES (9)")
    val storage = spark.sessionState.catalogManager.catalog("ir")
      .asInstanceOf[GraftCatalog].storage
    val metaLoc = withCat { txn =>
      graft.catalog.Graft.describeTable(storage, txn, "rg", "keep")
        .metadataLocation
    }
    val (server, port) = startServer()
    try {
      // default drop keeps files: the metadata document must re-attach
      assert(send(port, "DELETE", "/v1/iceberg/namespaces/rg/tables/keep")._1 == 204)
      val (rc, rb) = send(port, "POST", "/v1/iceberg/namespaces/rg/register",
        s"""{"name":"kept2","metadata-location":"$metaLoc"}""")
      assert(rc == 200, rb)
      assert(spark.sql("SELECT sum(k) FROM ir.rg.kept2").head.getLong(0) == 15)
      // a bogus location is 400, nothing committed
      assert(send(port, "POST", "/v1/iceberg/namespaces/rg/register",
        """{"name":"x","metadata-location":"meta/none.json"}""")._1 == 400)
      // purge: the table's data tree is gone afterwards
      assert(storage.listDeep("data/rg/gone/").nonEmpty)
      assert(send(port, "DELETE",
        "/v1/iceberg/namespaces/rg/tables/gone?purgeRequested=true")._1 == 204)
      assert(storage.listDeep("data/rg/gone/").isEmpty,
        "purge must delete the data tree")
    } finally server.stop()
  }

  private def withCat[T](f: graft.txn.Transaction => T): T = {
    val storage = spark.sessionState.catalogManager.catalog("ir")
      .asInstanceOf[GraftCatalog].storage
    val txn = graft.catalog.Graft.beginTransaction(storage)
    try f(txn) finally txn.close()
  }

  test("rename, namespace properties, and metrics endpoints") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ir.rn")
    spark.sql("CREATE TABLE ir.rn.t1 (k BIGINT)")
    spark.sql("CREATE TABLE ir.rn.taken (k BIGINT)")
    spark.sql("INSERT INTO ir.rn.t1 VALUES (41), (42)")
    spark.sql("CREATE VIEW ir.rn.v1 AS SELECT k FROM ir.rn.t1 WHERE k > 41")
    val (server, port) = startServer()
    try {
      def renameBody(kind: String, from: String, to: String) =
        s"""{"source":{"namespace":["rn"],"name":"$from"},
           |"destination":{"namespace":["rn"],"name":"$to"}}"""
          .stripMargin.replaceAll("\n", "")
      // table rename: content follows the new name
      assert(send(port, "POST", "/v1/iceberg/tables/rename",
        renameBody("t", "t1", "t2"))._1 == 204)
      assert(spark.sql("SELECT sum(k) FROM ir.rn.t2").head.getLong(0) == 83)
      // destination collision is the spec's 409; missing source 404;
      // cross-namespace 400
      assert(send(port, "POST", "/v1/iceberg/tables/rename",
        renameBody("t", "t2", "taken"))._1 == 409)
      assert(send(port, "POST", "/v1/iceberg/tables/rename",
        renameBody("t", "gone", "t9"))._1 == 404)
      assert(send(port, "POST", "/v1/iceberg/tables/rename",
        """{"source":{"namespace":["rn"],"name":"t2"},
          |"destination":{"namespace":["other"],"name":"t2"}}"""
          .stripMargin.replaceAll("\n", ""))._1 == 400)
      // view rename (the view body still references t1 → now t2-era
      // name is t2, so re-point the view first via native REPLACE)
      spark.sql(
        "CREATE OR REPLACE VIEW ir.rn.v1 AS SELECT k FROM ir.rn.t2 WHERE k > 41")
      assert(send(port, "POST", "/v1/iceberg/views/rename",
        renameBody("v", "v1", "v2"))._1 == 204)
      assert(spark.sql("SELECT * FROM ir.rn.v2").head.getLong(0) == 42)
      // namespace property update reports updated/removed/missing
      val (pc, pb) = send(port, "POST", "/v1/iceberg/namespaces/rn/properties",
        """{"updates":{"owner":"ext"},"removals":["nope"]}""")
      assert(pc == 200, pb)
      val pr = Json.mapper.readTree(pb)
      assert(pr.get("updated").get(0).asText() == "owner")
      assert(pr.get("missing").get(0).asText() == "nope")
      val (gc, gb) = send(port, "GET", "/v1/iceberg/namespaces/rn")
      assert(gc == 200 && gb.contains("\"owner\":\"ext\""), gb)
      // metrics reports are acknowledged and discarded
      assert(send(port, "POST",
        "/v1/iceberg/namespaces/rn/tables/t2/metrics",
        """{"report-type":"scan-report"}""")._1 == 204)
    } finally server.stop()
  }

  test("views create, replace, and drop over the Iceberg REST view plane") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ir.vw")
    spark.sql("CREATE TABLE ir.vw.t (k BIGINT, v STRING)")
    spark.sql("INSERT INTO ir.vw.t VALUES (1,'a'), (2,'b'), (3,'c')")
    val (server, port) = startServer()
    try {
      val schemaJson =
        """{"type":"struct","schema-id":0,"fields":[
          |{"id":1,"name":"k","required":false,"type":"long"}]}"""
          .stripMargin.replaceAll("\n", "")
      def versionJson(vid: Int, sql: String) =
        s"""{"version-id":$vid,"schema-id":-1,"timestamp-ms":$vid,
           |"summary":{},"default-namespace":["vw"],
           |"representations":[{"type":"sql","sql":"$sql",
           |"dialect":"spark"}]}""".stripMargin.replaceAll("\n", "")
      val createBody =
        s"""{"name":"big","schema":$schemaJson,
           |"view-version":${versionJson(1,
              "SELECT k FROM ir.vw.t WHERE k >= 2")},
           |"properties":{"owner":"ext"}}""".stripMargin.replaceAll("\n", "")
      val (cc, cb) = send(port, "POST", "/v1/iceberg/namespaces/vw/views",
        createBody)
      assert(cc == 200, cb)
      // the REST-created view executes natively
      assert(spark.sql("SELECT * FROM ir.vw.big ORDER BY k").collect()
        .map(_.getLong(0)).toSeq == Seq(2L, 3L))
      // duplicate create is the spec's 409, not a 400
      assert(send(port, "POST", "/v1/iceberg/namespaces/vw/views",
        createBody)._1 == 409)
      assert(send(port, "HEAD", "/v1/iceberg/namespaces/vw/views/big")._1 == 204)
      // replace through the commit shape, guarded by the view uuid
      val uuid = java.util.UUID.nameUUIDFromBytes(
        "vw.big".getBytes("UTF-8")).toString
      def commitBody(u: String) =
        s"""{"requirements":[{"type":"assert-view-uuid","uuid":"$u"}],
           |"updates":[
           |  {"action":"add-view-version","view-version":${versionJson(2,
                "SELECT k FROM ir.vw.t WHERE k = 1")}},
           |  {"action":"set-current-view-version","view-version-id":-1}]}"""
          .stripMargin.replaceAll("\n", "")
      assert(send(port, "POST", "/v1/iceberg/namespaces/vw/views/big",
        commitBody("11111111-1111-1111-1111-111111111111"))._1 == 409)
      val (rc, rb) = send(port, "POST",
        "/v1/iceberg/namespaces/vw/views/big", commitBody(uuid))
      assert(rc == 200, rb)
      assert(spark.sql("SELECT * FROM ir.vw.big").collect()
        .map(_.getLong(0)).toSeq == Seq(1L))
      // several non-spark dialects: the facade refuses to guess
      val ambiguous =
        s"""{"requirements":[],"updates":[
           |  {"action":"add-view-version","view-version":{
           |    "version-id":3,"schema-id":-1,"timestamp-ms":3,"summary":{},
           |    "default-namespace":["vw"],"representations":[
           |      {"type":"sql","sql":"SELECT 1","dialect":"trino"},
           |      {"type":"sql","sql":"SELECT 2","dialect":"hive"}]}},
           |  {"action":"set-current-view-version","view-version-id":-1}]}"""
          .stripMargin.replaceAll("\n", "")
      assert(send(port, "POST", "/v1/iceberg/namespaces/vw/views/big",
        ambiguous)._1 == 400)
      assert(send(port, "DELETE", "/v1/iceberg/namespaces/vw/views/big")._1 == 204)
      assert(send(port, "HEAD", "/v1/iceberg/namespaces/vw/views/big")._1 == 404)
    } finally server.stop()
  }

  test("a multi-table REST transaction commits atomically — all or nothing") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ir.tx")
    spark.sql("CREATE TABLE ir.tx.a (k BIGINT, v STRING)")
    spark.sql("CREATE TABLE ir.tx.b (k BIGINT, v STRING)")
    spark.sql("INSERT INTO ir.tx.a VALUES (1, 'a1')")
    spark.sql("INSERT INTO ir.tx.b VALUES (1, 'b1')")
    val (server, port) = startServer()
    try {
      // the "external engine" stages one data file per table
      def stage(t: String): (java.io.File, java.io.File) = {
        val extDir = new java.io.File(s"$warehouse/data/tx/$t/files/ext")
        extDir.mkdirs()
        val dir = new java.io.File(extDir, "add")
        spark.sql(s"SELECT CAST(2 AS BIGINT) AS k, 'x2' AS v")
          .coalesce(1).write.mode("overwrite").parquet(dir.toString)
        (extDir, dir.listFiles().find(_.getName.endsWith(".parquet")).get)
      }
      val (dirA, fA) = stage("a")
      val (dirB, fB) = stage("b")
      val mlA = ClientAvro.manifestList(dirA, "txa", Seq(
        (0, Seq(ClientAvro.entry(1, 0, fA.getAbsolutePath, 1L, fA.length())))))
      val mlB = ClientAvro.manifestList(dirB, "txb", Seq(
        (0, Seq(ClientAvro.entry(1, 0, fB.getAbsolutePath, 1L, fB.length())))))
      def change(t: String, basedOn: Long, ml: java.io.File): String =
        s"""{"identifier":{"namespace":["tx"],"name":"$t"},
           |"requirements":[{"type":"assert-ref-snapshot-id","ref":"main",
           | "snapshot-id":$basedOn}],
           |"updates":[
           |  {"action":"add-snapshot","snapshot":{
           |    "snapshot-id":1,"sequence-number":1,"timestamp-ms":1,
           |    "manifest-list":"${ml.getAbsolutePath}",
           |    "summary":{"operation":"append"}}},
           |  {"action":"set-snapshot-ref","ref-name":"main",
           |   "type":"branch","snapshot-id":1}]}"""
          .stripMargin.replaceAll("\n", "")
      val snapA = loadMeta(port, "tx", "a").get("current-snapshot-id").asLong()
      val snapB = loadMeta(port, "tx", "b").get("current-snapshot-id").asLong()
      // a stale guard on table b (staged SECOND) aborts the whole
      // transaction: table a, staged first, must not move either
      val (cBad, bodyBad) = send(port, "POST",
        "/v1/iceberg/transactions/commit",
        s"""{"table-changes":[${change("a", snapA, mlA)},
           |${change("b", -12345L, mlB)}]}""".stripMargin
          .replaceAll("\n", ""))
      assert(cBad == 409, s"$cBad $bodyBad")
      assert(spark.table("ir.tx.a").count() == 1,
        "aborted transaction must not land table a's change")
      assert(spark.table("ir.tx.b").count() == 1)
      // correct guards: both changes land in one root swap
      val (cOk, bodyOk) = send(port, "POST",
        "/v1/iceberg/transactions/commit",
        s"""{"table-changes":[${change("a", snapA, mlA)},
           |${change("b", snapB, mlB)}]}""".stripMargin
          .replaceAll("\n", ""))
      assert(cOk == 204, s"$cOk $bodyOk")
      assert(spark.table("ir.tx.a").orderBy("k").collect()
        .map(_.getString(1)).toSeq == Seq("a1", "x2"))
      assert(spark.table("ir.tx.b").orderBy("k").collect()
        .map(_.getString(1)).toSeq == Seq("b1", "x2"))
      // malformed change (no identifier) → 400; empty set → 400
      assert(send(port, "POST", "/v1/iceberg/transactions/commit",
        """{"table-changes":[{"updates":[]}]}""")._1 == 400)
      assert(send(port, "POST", "/v1/iceberg/transactions/commit",
        """{"table-changes":[]}""")._1 == 400)
      // two changes to the SAME table stage in order through the
      // running root: both appends land as two snapshots in one
      // transaction (an unguarded append has nothing to conflict on)
      val (c2, b2) = send(port, "POST", "/v1/iceberg/transactions/commit",
        s"""{"table-changes":[
           |{"identifier":{"namespace":["tx"],"name":"a"},
           | "requirements":[],
           | "updates":[
           |  {"action":"add-snapshot","snapshot":{
           |    "snapshot-id":5,"sequence-number":5,"timestamp-ms":5,
           |    "manifest-list":"${mlA.getAbsolutePath}",
           |    "summary":{"operation":"append"}}},
           |  {"action":"set-snapshot-ref","ref-name":"main",
           |   "type":"branch","snapshot-id":5}]},
           |{"identifier":{"namespace":["tx"],"name":"a"},
           | "requirements":[],
           | "updates":[
           |  {"action":"add-snapshot","snapshot":{
           |    "snapshot-id":6,"sequence-number":6,"timestamp-ms":6,
           |    "manifest-list":"${mlA.getAbsolutePath}",
           |    "summary":{"operation":"append"}}},
           |  {"action":"set-snapshot-ref","ref-name":"main",
           |   "type":"branch","snapshot-id":6}]}]}""".stripMargin
          .replaceAll("\n", ""))
      assert(c2 == 204, s"$c2 $b2")
      // a1 + x2 from before, plus two more staged x2 appends
      assert(spark.table("ir.tx.a").count() == 4)
    } finally server.stop()
  }
}
