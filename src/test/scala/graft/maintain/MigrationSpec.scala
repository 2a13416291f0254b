package graft.maintain

import java.nio.file.Files

import graft.spark.GraftCatalog
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.Identifier
import org.scalatest.funsuite.AnyFunSuite

/** snapshot_table (zero-copy fork) and register_table (adopt an
  * existing metadata document).
  */
class MigrationSpec extends AnyFunSuite {

  private lazy val warehouse = Files.createTempDirectory("graft-mig").toString

  lazy val spark: SparkSession = graft.Verify.sessionBuilder("4")
    .config("spark.sql.extensions",
      classOf[graft.spark.GraftSparkExtensions].getName)
    .config("spark.sql.catalog.mig", classOf[GraftCatalog].getName)
    .config("spark.sql.catalog.mig.warehouse", warehouse)
    .getOrCreate()

  private def cat: GraftCatalog =
    spark.sessionState.catalogManager.catalog("mig").asInstanceOf[GraftCatalog]

  private def metaOf(ident: Identifier): graft.format.TableMetadata = {
    val txn = graft.catalog.Graft.beginTransaction(cat.storage)
    val td = graft.catalog.Graft.describeTable(cat.storage, txn,
      ident.namespace()(0), ident.name())
    graft.format.TableMetadata.read(cat.storage, td.metadataLocation)
  }

  test("snapshot_table forks without copying; writes stay independent") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS mig.ns")
    // small inline-max so the fork exercises the manifest-copy path
    spark.sql("""CREATE TABLE mig.ns.src (k BIGINT, v STRING)
                 TBLPROPERTIES ('graft.manifest.inline-max' = '2')""")
    (1 to 3).foreach { i =>
      spark.sql(s"INSERT INTO mig.ns.src SELECT id + ${i * 10}, 'e$i' FROM range(5)")
    }
    spark.sql("DELETE FROM mig.ns.src WHERE k = 11")
    val srcRows = spark.table("mig.ns.src").count()
    val dataFilesBefore = cat.storage
      .listDeep("data/ns/src/files").filter(_.endsWith(".parquet")).toSet

    val out = spark.sql(
      "CALL mig.system.snapshot_table('ns', 'src', 'ns', 'fork')").collect()
    assert(out.head.getLong(0) > 0)
    // the fork reads byte-identical to the source at fork time...
    assert(spark.table("mig.ns.fork").count() == srcRows)
    assert(spark.sql(
      """SELECT count(*) FROM mig.ns.fork f JOIN mig.ns.src s
         ON f.k = s.k AND f.v = s.v""").collect()(0).getLong(0) == srcRows)
    // ...and referenced zero new data files (shared, not copied)
    val dataFilesAfter = cat.storage
      .listDeep("data/ns/src/files").filter(_.endsWith(".parquet")).toSet
    assert(dataFilesAfter == dataFilesBefore, "fork copied data files")
    assert(cat.storage.listDeep("data/ns/fork/files")
      .forall(!_.endsWith(".parquet")), "fork wrote data files")
    // manifest objects are OWNED (copied), not shared
    assert(metaOf(Identifier.of(Array("ns"), "fork")).currentSnapshot.get
      .manifests.forall(_.startsWith("data/ns/fork/")))

    // diverge both sides; neither sees the other's writes
    spark.sql("INSERT INTO mig.ns.fork VALUES (999, 'fork-only')")
    spark.sql("DELETE FROM mig.ns.fork WHERE k = 12")
    spark.sql("INSERT INTO mig.ns.src VALUES (888, 'src-only')")
    assert(spark.sql("SELECT count(*) FROM mig.ns.fork WHERE k = 888")
      .collect()(0).getLong(0) == 0)
    assert(spark.sql("SELECT count(*) FROM mig.ns.src WHERE k IN (999, 12)")
      .collect()(0).getLong(0) == 1) // k=12 alive in src, dead in fork
    assert(spark.table("mig.ns.fork").count() == srcRows) // -1 del +1 ins
    // the fork's orphan scan claims nothing (its data dir holds only
    // its own live commits; shared source files are out of scope)
    val orphans = Maintenance.removeOrphanFiles(cat,
      Identifier.of(Array("ns"), "fork"), dryRun = true)
    assert(orphans.isEmpty, s"fork orphan scan claimed: $orphans")
  }

  test("register_table adopts a metadata document, partition spec intact") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS mig.ns")
    def partitioned(t: String, tail: String = ""): Unit = {
      spark.sql(s"""CREATE TABLE mig.ns.$t (k BIGINT, region STRING)
                    PARTITIONED BY (region) $tail""")
      seed(t)
    }
    def seed(t: String): Unit = spark.sql(
      s"INSERT INTO mig.ns.$t VALUES (1, 'EU'), (2, 'EU'), (3, 'US')")
    // every door that writes a table's def and metadata document; each
    // builds partitioned table ns.<t> holding the seed rows
    val doors = Seq[(String, String => Unit)](
      "SQL CREATE" -> (partitioned(_, "TBLPROPERTIES ('door' = 'create')")),
      "ALTER SET TBLPROPERTIES" -> { t =>
        partitioned(t)
        spark.sql(s"ALTER TABLE mig.ns.$t SET TBLPROPERTIES ('door' = 'alter')")
      },
      "partition-field add" -> { t =>
        spark.sql(s"CREATE TABLE mig.ns.$t (k BIGINT, region STRING)")
        spark.sql(s"ALTER TABLE mig.ns.$t ADD PARTITION FIELD region")
        seed(t)
      },
      "REST set-properties" -> { t =>
        partitioned(t)
        graft.serve.IcebergCommits.commit(cat.storage, "ns", t,
          graft.objects.Json.mapper.readTree("""{"requirements":[],
            "updates":[{"action":"set-properties","updates":{"door":"rest"}}]}"""))
      },
      "native HTTP create" -> { t =>
        val server = new graft.serve.CatalogHttpServer(cat.storage)
        val port = server.start()
        try {
          val req = graft.serve.CreateTableRequest(t,
            org.apache.spark.sql.types.StructType
              .fromDDL("k BIGINT, region STRING").json,
            Map(GraftCatalog.PartitionColsProp -> "region", "door" -> "http"))
          val res = java.net.http.HttpClient.newHttpClient().send(
            java.net.http.HttpRequest.newBuilder(java.net.URI.create(
              s"http://127.0.0.1:$port/v1/namespaces/ns/tables"))
              .POST(java.net.http.HttpRequest.BodyPublishers.ofString(
                graft.objects.Json.writeString(req))).build(),
            java.net.http.HttpResponse.BodyHandlers.ofString())
          assert(res.statusCode() == 201, res.body())
        } finally server.stop()
        seed(t)
      },
      "partitioned Iceberg import" -> { t =>
        partitioned(s"${t}_src")
        val loc = graft.serve.IcebergStatic.export(cat.storage, "ns", s"${t}_src")
        spark.sql(s"CALL mig.system.register_table('ns', '$t', '$loc')")
      })
    def rows(t: String): Seq[(Long, String)] =
      spark.sql(s"SELECT k, region FROM mig.ns.$t").collect()
        .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    def defOf(t: String): graft.objects.TableDef = {
      val txn = graft.catalog.Graft.beginTransaction(cat.storage)
      graft.catalog.Graft.describeTable(cat.storage, txn, "ns", t)
    }
    for (((door, build), i) <- doors.zipWithIndex) {
      val t = s"door$i"
      build(t)
      val before = defOf(t)
      assert(before.properties.get(GraftCatalog.PartitionColsProp)
        .contains("region"), s"$door: ${before.properties}")
      assert(rows(t) == Seq((1L, "EU"), (2L, "EU"), (3L, "US")), door)
      // the def is dropped; objects (metadata doc, data files) survive
      spark.sql(s"DROP TABLE mig.ns.$t")
      val back = s"${t}_back"
      val snaps = spark.sql(s"CALL mig.system.register_table('ns', '$back', " +
        s"'${before.metadataLocation}')").collect().head.getLong(0)
      assert(snaps == 1, door) // the seed INSERT; edits add no snapshot
      assert(defOf(back).properties == before.properties, door)
      assert(rows(back) == Seq((1L, "EU"), (2L, "EU"), (3L, "US")), door)
      // the spec came from the doc's property mirror: partitioned
      // INSERTs land correctly and prune
      spark.sql(s"INSERT INTO mig.ns.$back VALUES (4, 'US')")
      assert(spark.sql(s"SELECT count(*) FROM mig.ns.$back WHERE region = 'US'")
        .collect()(0).getLong(0) == 2, door)
    }
  }

  test("partition-aligned DELETE is a metadata-only drop, no rewrite") {
    spark.sql("""CREATE TABLE mig.ns.seg (k BIGINT, seg STRING)
                 PARTITIONED BY (seg)""")
    spark.sql("""INSERT INTO mig.ns.seg VALUES
                 (1, 'a'), (2, 'a'), (3, 'b'), (4, 'b'), (5, 'c')""")
    val before = cat.storage.listDeep("data/ns/seg/files")
      .filter(_.endsWith(".parquet")).toSet
    spark.sql("DELETE FROM mig.ns.seg WHERE seg = 'b'")
    val after = cat.storage.listDeep("data/ns/seg/files")
      .filter(_.endsWith(".parquet")).toSet
    assert(after == before,
      "wholly-covered files must drop from metadata without a rewrite " +
        s"(wrote ${after -- before})")
    assert(spark.sql("SELECT k FROM mig.ns.seg ORDER BY k")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 5L))
    // a NON-aligned delete still rewrites only the files it must
    spark.sql("DELETE FROM mig.ns.seg WHERE k = 1")
    assert(spark.sql("SELECT k FROM mig.ns.seg ORDER BY k")
      .collect().map(_.getLong(0)).toSeq == Seq(2L, 5L))
  }

  test("snapshot_table carries pending equality deletes verbatim") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    spark.sql("""CREATE TABLE mig.ns.ups (k BIGINT, v STRING)
                 TBLPROPERTIES ('graft.write.upsert-keys' = 'k')""")
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("k", "v").writeStream
      .option("checkpointLocation",
        Files.createTempDirectory("graft-mig-ck").toString)
      .toTable("mig.ns.ups")
    in.addData((1L, "a"), (2L, "b")); q.processAllAvailable()
    in.addData((1L, "a2")); q.processAllAvailable()
    q.stop()
    assert(metaOf(Identifier.of(Array("ns"), "ups")).currentSnapshot.get
      .eqDeletes.nonEmpty, "precondition: pending equality deletes")
    spark.sql("CALL mig.system.snapshot_table('ns', 'ups', 'ns', 'upsfork')")
    val rows = spark.table("mig.ns.upsfork").orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(rows.toSeq == Seq((1L, "a2"), (2L, "b")),
      "fork must apply the source's pending equality deletes")
  }
}
