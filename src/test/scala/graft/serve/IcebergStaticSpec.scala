package graft.serve

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files

import graft.catalog.Graft
import graft.format.TableMetadata
import graft.objects.{Json, NamespaceDef}
import graft.spark.GraftCatalog
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Static Iceberg interchange: export a graft table as a
  * self-contained metadata.json, adopt an Iceberg metadata.json as a
  * live graft table — via procedure, native register, and the REST
  * register endpoint — plus the refusal cases (partitioned specs,
  * delete manifests, traversal paths).
  */
class IcebergStaticSpec extends AnyFunSuite {

  private lazy val warehouse =
    Files.createTempDirectory("graft-istatic").toString

  lazy val spark: SparkSession = graft.Verify.sessionBuilder("4")
    .config("spark.sql.catalog.ist", classOf[GraftCatalog].getName)
    .config("spark.sql.catalog.ist.warehouse", warehouse)
    .getOrCreate()

  private def storage = spark.sessionState.catalogManager.catalog("ist")
    .asInstanceOf[GraftCatalog].storage

  private val client = HttpClient.newHttpClient()

  test("export writes versioned metadata.json + version-hint; re-export advances") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ist.ns1")
    spark.sql("CREATE TABLE ist.ns1.t1 (id BIGINT, v STRING)")
    spark.sql("INSERT INTO ist.ns1.t1 VALUES (1, 'a'), (2, 'b')")

    val rel1 = IcebergStatic.export(storage, "ns1", "t1")
    assert(rel1.endsWith("/v1.metadata.json"))
    assert(new String(storage.read(
      IcebergStatic.metadataDir("ns1", "t1") + "/version-hint.text")) == "1")
    val doc = Json.mapper.readTree(storage.read(rel1))
    assert(doc.get("format-version").asInt() == 2)
    assert(doc.get("current-snapshot-id").asLong() >= 0)
    // the manifest list referenced by the current snapshot really exists
    val snaps = doc.get("snapshots")
    assert(snaps.size() >= 1)
    val ml = snaps.get(snaps.size() - 1).get("manifest-list").asText()
    assert(storage.exists(IcebergCommits.toRel(storage, ml)))

    spark.sql("INSERT INTO ist.ns1.t1 VALUES (3, 'c')")
    val rel2 = IcebergStatic.export(storage, "ns1", "t1")
    assert(rel2.endsWith("/v2.metadata.json"))
    assert(new String(storage.read(
      IcebergStatic.metadataDir("ns1", "t1") + "/version-hint.text")) == "2")
  }

  test("round trip: export then register_table adopts the same rows") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ist.ns2")
    spark.sql("CREATE TABLE ist.ns2.src (id BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO ist.ns2.src SELECT id, id * 1.5 FROM range(100)")
    spark.sql("DELETE FROM ist.ns2.src WHERE id % 10 = 0") // COW delete

    val loc = spark.sql(
      "CALL ist.system.export_iceberg(namespace => 'ns2', table => 'src')")
      .collect()(0).getString(0)
    assert(loc.endsWith(".metadata.json"))

    spark.sql("CALL ist.system.register_table(namespace => 'ns2', " +
      s"table => 'copy1', metadata_location => '$loc')")
    val got = spark.sql(
      "SELECT count(*) AS n, sum(id) AS s FROM ist.ns2.copy1").collect()(0)
    val want = spark.sql(
      "SELECT count(*) AS n, sum(id) AS s FROM ist.ns2.src").collect()(0)
    assert(got.getLong(0) == want.getLong(0) && got.getLong(0) == 90L)
    assert(got.getLong(1) == want.getLong(1))
    // the copy is independent: writes to it do not touch the source
    spark.sql("INSERT INTO ist.ns2.copy1 VALUES (1000, 0.0)")
    assert(spark.sql("SELECT count(*) FROM ist.ns2.src")
      .collect()(0).getLong(0) == 90L)
  }

  test("REST register adopts an Iceberg metadata.json") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ist.ns3")
    spark.sql("CREATE TABLE ist.ns3.src (k BIGINT, s STRING)")
    spark.sql("INSERT INTO ist.ns3.src VALUES (1, 'x'), (2, 'y'), (3, 'z')")
    val rel = IcebergStatic.export(storage, "ns3", "src")

    val server = new CatalogHttpServer(storage)
    val port = server.start()
    try {
      val body = s"""{"name":"adopted",
        "metadata-location":"${storage.absolute(rel)}"}"""
      val res = client.send(
        HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:$port/v1/iceberg/namespaces/ns3/register"))
          .header("Content-Type", "application/json")
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(res.statusCode() == 200, res.body())
      val meta = Json.mapper.readTree(res.body()).get("metadata")
      assert(meta.get("current-snapshot-id").asLong() >= 0)
    } finally server.stop()

    assert(spark.sql("SELECT count(*) FROM ist.ns3.adopted")
      .collect()(0).getLong(0) == 3L)
  }

  test("identity-partitioned tables round-trip with pruning intact") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ist.ns4")
    spark.sql("""CREATE TABLE ist.ns4.part (id BIGINT, region STRING)
      PARTITIONED BY (region)""")
    spark.sql("INSERT INTO ist.ns4.part VALUES (1, 'eu'), (2, 'us'), (3, 'eu')")
    val rel = IcebergStatic.export(storage, "ns4", "part")
    spark.sql("CALL ist.system.register_table(namespace => 'ns4', " +
      s"table => 'partcopy', metadata_location => '${storage.absolute(rel)}')")
    val rows = spark.sql(
      "SELECT id FROM ist.ns4.partcopy WHERE region = 'eu' ORDER BY id")
      .collect().map(_.getLong(0)).toSeq
    assert(rows == Seq(1L, 3L))
    // the adopted def carries the partition columns
    val txn = graft.catalog.Graft.beginTransaction(storage)
    try {
      val td = graft.catalog.Graft.describeTable(storage, txn,
        "ns4", "partcopy")
      assert(td.properties.get(
        graft.spark.GraftCatalog.PartitionColsProp) == Some("region"))
    } finally txn.close()
  }

  test("import refuses non-identity partition transforms") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ist.ns4b")
    val bucketed = """{"format-version":2,
      "schemas":[{"type":"struct","schema-id":0,"fields":[
        {"id":1,"name":"id","required":false,"type":"long"}]}],
      "current-schema-id":0,
      "partition-specs":[{"spec-id":0,"fields":[
        {"name":"id_bucket","transform":"bucket[16]","source-id":1,
         "field-id":1000}]}],
      "default-spec-id":0,"current-snapshot-id":-1,"snapshots":[]}"""
    storage.writeAtomic("data/ns4b/bucketed.metadata.json",
      bucketed.getBytes("UTF-8"))
    val txn = graft.catalog.Graft.beginTransaction(storage)
    try {
      val e = intercept[IllegalArgumentException] {
        IcebergStatic.importTable(storage, txn, "ns4b", "bk",
          "data/ns4b/bucketed.metadata.json")
      }
      assert(e.getMessage.contains("transform"))
    } finally txn.close()
  }

  test("import refuses a current snapshot with delete manifests") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ist.ns5")
    spark.sql("""CREATE TABLE ist.ns5.mor (id BIGINT, v STRING)
      TBLPROPERTIES ('graft.delete.mode' = 'merge-on-read')""")
    spark.sql("INSERT INTO ist.ns5.mor SELECT id, 'v' FROM range(50)")
    spark.sql("DELETE FROM ist.ns5.mor WHERE id = 7")
    val rel = IcebergStatic.export(storage, "ns5", "mor")
    val txn = graft.catalog.Graft.beginTransaction(storage)
    try {
      val e = intercept[IllegalArgumentException] {
        IcebergStatic.importTable(storage, txn, "ns5", "morcopy", rel)
      }
      assert(e.getMessage.contains("DELETE manifests"))
    } finally txn.close()
  }

  test("import refuses file paths outside the catalog root") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ist.ns6")
    val bogus = """{"format-version":2,
      "schemas":[{"type":"struct","schema-id":0,"fields":[
        {"id":1,"name":"id","required":false,"type":"long"}]}],
      "current-schema-id":0,
      "partition-specs":[{"spec-id":0,"fields":[]}],"default-spec-id":0,
      "current-snapshot-id":5,
      "snapshots":[{"snapshot-id":5,"sequence-number":1,"timestamp-ms":1,
        "manifest-list":"/etc/passwd"}]}"""
    storage.writeAtomic("data/ns6/bogus.metadata.json",
      bogus.getBytes("UTF-8"))
    val txn = graft.catalog.Graft.beginTransaction(storage)
    try {
      val e = intercept[IllegalArgumentException] {
        IcebergStatic.importTable(storage, txn, "ns6", "evil",
          "data/ns6/bogus.metadata.json")
      }
      assert(e.getMessage.contains("outside the catalog root"))
    } finally txn.close()
  }

  test("an import that loses the commit race keeps its files") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ist.ns8")
    spark.sql("CREATE TABLE ist.ns8.src (id BIGINT)")
    spark.sql("INSERT INTO ist.ns8.src VALUES (1), (2), (3)")
    spark.sql("INSERT INTO ist.ns8.src VALUES (4)")
    val rel = IcebergStatic.export(storage, "ns8", "src")
    val txn = Graft.beginTransaction(storage)
    try {
      IcebergStatic.importTable(storage, txn, "ns8", "copy", rel)
      // another transaction commits first, to another namespace
      val other = Graft.beginTransaction(storage)
      try {
        Graft.createNamespace(storage, other, NamespaceDef("ns8_other"))
        Graft.commitTransaction(storage, other)
      } finally other.close()
      Graft.commitTransaction(storage, txn) // loses the race: rebases
    } finally txn.close()
    def files(t: String): Set[String] = {
      val txn = Graft.beginTransaction(storage)
      try TableMetadata.read(storage,
        Graft.describeTable(storage, txn, "ns8", t).metadataLocation)
        .currentFiles(storage).map(_.path).toSet
      finally txn.close()
    }
    assert(files("src").nonEmpty && files("copy") == files("src"))
    assert(spark.sql("SELECT count(*) FROM ist.ns8.copy")
      .collect()(0).getLong(0) == 4L)
    assert(spark.sql("SHOW NAMESPACES IN ist").collect()
      .exists(_.getString(0) == "ns8_other"))
  }

  test("empty table (no snapshot) imports as an empty table") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ist.ns7")
    spark.sql("CREATE TABLE ist.ns7.empty (id BIGINT)")
    val rel = IcebergStatic.export(storage, "ns7", "empty")
    spark.sql("CALL ist.system.register_table(namespace => 'ns7', " +
      s"table => 'emptycopy', metadata_location => '${storage.absolute(rel)}')")
    assert(spark.sql("SELECT count(*) FROM ist.ns7.emptycopy")
      .collect()(0).getLong(0) == 0L)
  }
}
