package graft.serve

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files

import graft.catalog.Graft
import graft.objects.{CatalogDef, NamespaceDef, TableDef}
import graft.spark.GraftCatalog
import graft.storage.LocalStorageOps
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Two access paths to ONE warehouse: the Spark SQL catalog writes,
  * the HTTP façade serves — listings and object defs must agree.
  */
class CatalogHttpServerSpec extends AnyFunSuite {

  private lazy val warehouse = Files.createTempDirectory("graft-http").toString

  lazy val spark: SparkSession = graft.Verify.sessionBuilder("4")
    .config("spark.sql.catalog.hc", classOf[GraftCatalog].getName)
    .config("spark.sql.catalog.hc.warehouse", warehouse)
    .getOrCreate()

  private val client = HttpClient.newHttpClient()

  private def get(port: Int, path: String): (Int, String) = {
    val res = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).build(),
      HttpResponse.BodyHandlers.ofString())
    (res.statusCode(), res.body())
  }

  test("HTTP catalog serves what the SQL catalog wrote") {
    spark.sql("CREATE NAMESPACE hc.ns1")
    spark.sql("CREATE TABLE hc.ns1.t1 (k BIGINT, v STRING)")
    spark.sql("INSERT INTO hc.ns1.t1 VALUES (1, 'x')")
    spark.sql("CREATE VIEW hc.ns1.v1 AS SELECT k FROM hc.ns1.t1")

    val storage = spark.sessionState.catalogManager.catalog("hc")
      .asInstanceOf[GraftCatalog].storage
    val server = new CatalogHttpServer(storage)
    val port = server.start()
    try {
      val (c0, config) = get(port, "/v1/config")
      assert(c0 == 200 && config.contains("txnIsolationLevel"))

      val (c1, nss) = get(port, "/v1/namespaces")
      assert(c1 == 200 && nss.contains("\"ns1\""))

      val (c2, tables) = get(port, "/v1/namespaces/ns1/tables")
      assert(c2 == 200 && tables.contains("\"t1\""))

      val (c3, t1) = get(port, "/v1/namespaces/ns1/tables/t1")
      assert(c3 == 200 && t1.contains("\"name\":\"t1\""))

      val (c4, views) = get(port, "/v1/namespaces/ns1/views")
      assert(c4 == 200 && views.contains("\"v1\""))

      val (c5, v1) = get(port, "/v1/namespaces/ns1/views/v1")
      assert(c5 == 200 && v1.contains("SELECT k FROM hc.ns1.t1"))

      // a commit AFTER the server started is visible on the next
      // request — each request snapshots the latest root
      spark.sql("CREATE TABLE hc.ns1.t2 (x BIGINT)")
      val (_, tables2) = get(port, "/v1/namespaces/ns1/tables")
      assert(tables2.contains("\"t2\""))

      // unknown objects/routes are 404, not 500
      assert(get(port, "/v1/namespaces/ns1/tables/nope")._1 == 404)
      assert(get(port, "/v1/nonsense")._1 == 404)
    } finally server.stop()
  }

  private def post(port: Int, path: String, body: String): (Int, String) = {
    val res = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())
    (res.statusCode(), res.body())
  }

  private def delete(port: Int, path: String): (Int, String) = {
    val res = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .DELETE().build(),
      HttpResponse.BodyHandlers.ofString())
    (res.statusCode(), res.body())
  }

  test("HTTP writes commit real transactions the SQL catalog sees") {
    val storage = spark.sessionState.catalogManager.catalog("hc")
      .asInstanceOf[GraftCatalog].storage
    val server = new CatalogHttpServer(storage)
    val port = server.start()
    try {
      // create a namespace and a table over HTTP
      assert(post(port, "/v1/namespaces",
        """{"name":"ns2","properties":{"owner":"http"}}""")._1 == 201)
      val schemaJson = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.LongType))).json
      assert(post(port, "/v1/namespaces/ns2/tables",
        s"""{"name":"t3","schemaJson":${graft.objects.Json.writeString(schemaJson)}}""")._1 == 201)
      // the Spark SQL catalog sees both, and the table is writable
      assert(spark.sql("SHOW NAMESPACES IN hc").collect()
        .map(_.getString(0)).contains("ns2"))
      spark.sql("INSERT INTO hc.ns2.t3 VALUES (7)")
      assert(spark.table("hc.ns2.t3").collect().map(_.getLong(0))
        .sameElements(Array(7L)))
      // duplicate create is a clean 400, not a 500
      assert(post(port, "/v1/namespaces", """{"name":"ns2"}""")._1 == 400)
      // drop the table, then the namespace; RESTRICT refuses non-empty
      assert(delete(port, "/v1/namespaces/ns2")._1 == 400)
      assert(delete(port, "/v1/namespaces/ns2/tables/t3")._1 == 200)
      assert(delete(port, "/v1/namespaces/ns2")._1 == 200)
      assert(get(port, "/v1/namespaces/ns2")._1 == 404)
    } finally server.stop()
  }

  test("a bound RequestAuthorizer gates every route by bearer token") {
    val storage = spark.sessionState.catalogManager.catalog("hc")
      .asInstanceOf[GraftCatalog].storage
    // one-class binding, like the S3 seam: accept a single token
    val auth = new RequestAuthorizer {
      override def authorize(method: String, path: String,
          bearer: Option[String]): Unit =
        if (!bearer.contains("sesame"))
          throw new CatalogHttpServer.UnauthorizedException(
            s"bad or missing bearer token for $method $path")
    }
    val server = new CatalogHttpServer(storage, authorizer = auth)
    val port = server.start()
    try {
      def getAuth(path: String, token: Option[String]): (Int, String) = {
        val b = HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:$port$path"))
        token.foreach(t => b.header("Authorization", s"Bearer $t"))
        val res = client.send(b.build(), HttpResponse.BodyHandlers.ofString())
        (res.statusCode(), res.body())
      }
      // no token / wrong token → 401 with the OpenAPI error shape, on
      // both the graft-native and the Iceberg routes
      val (c1, b1) = getAuth("/v1/namespaces", None)
      assert(c1 == 401 && b1.contains("NotAuthorizedException"), s"$c1 $b1")
      assert(getAuth("/v1/iceberg/namespaces", Some("wrong"))._1 == 401)
      // the right token serves normally
      assert(getAuth("/v1/namespaces", Some("sesame"))._1 == 200)
      assert(getAuth("/v1/iceberg/namespaces", Some("sesame"))._1 == 200)
    } finally server.stop()
  }

  test("OAuth client-credentials: exchange, gate, reject — one seam class") {
    val storage = spark.sessionState.catalogManager.catalog("hc")
      .asInstanceOf[GraftCatalog].storage
    val server = new CatalogHttpServer(storage,
      authorizer = new RequestAuthorizer.ClientCredentials(
        Map("svc-etl" -> "s3cret")))
    val port = server.start()
    try {
      def postForm(body: String): (Int, String) = {
        val res = client.send(HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:$port/v1/oauth/tokens"))
          .header("Content-Type", "application/x-www-form-urlencoded")
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
          HttpResponse.BodyHandlers.ofString())
        (res.statusCode(), res.body())
      }
      def getAuth(path: String, token: Option[String]): Int = {
        val b = HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:$port$path"))
        token.foreach(t => b.header("Authorization", s"Bearer $t"))
        client.send(b.build(), HttpResponse.BodyHandlers.ofString())
          .statusCode()
      }
      // without a token every route is closed — except the token
      // endpoint itself (it's how a token is obtained)
      assert(getAuth("/v1/namespaces", None) == 401)
      assert(getAuth("/v1/iceberg/namespaces", None) == 401)

      // bad grant type → OAuth error shape, 400
      val (cg, bg) = postForm("grant_type=password&client_id=svc-etl")
      assert(cg == 400 && bg.contains("unsupported_grant_type"), s"$cg $bg")
      // wrong secret → invalid_client, 401
      val (cw, bw) = postForm(
        "grant_type=client_credentials&client_id=svc-etl&client_secret=nope")
      assert(cw == 401 && bw.contains("invalid_client"), s"$cw $bw")
      // unknown client via the combined credential form → 401
      assert(postForm(
        "grant_type=client_credentials&credential=ghost:boo")._1 == 401)

      // the real exchange: bearer out, spec response shape
      val (co, bo) = postForm("grant_type=client_credentials" +
        "&client_id=svc-etl&client_secret=s3cret&scope=catalog")
      assert(co == 200, bo)
      val tok = graft.objects.Json.mapper.readTree(bo)
      assert(tok.get("token_type").asText() == "bearer")
      assert(tok.get("scope").asText() == "catalog")
      val bearer = tok.get("access_token").asText()
      assert(bearer.nonEmpty)
      // the issued token opens native AND Iceberg routes; fakes don't
      assert(getAuth("/v1/namespaces", Some(bearer)) == 200)
      assert(getAuth("/v1/iceberg/namespaces", Some(bearer)) == 200)
      assert(getAuth("/v1/iceberg/namespaces", Some("forged")) == 401)

      // the combined credential form also exchanges
      val (cc, bc) = postForm(
        "grant_type=client_credentials&credential=svc-etl:s3cret")
      assert(cc == 200, bc)
    } finally server.stop()
  }

  test("issued tokens expire after the advertised expires_in") {
    val storage = spark.sessionState.catalogManager.catalog("hc")
      .asInstanceOf[GraftCatalog].storage
    var clock = 1000000L
    val server = new CatalogHttpServer(storage,
      authorizer = new RequestAuthorizer.ClientCredentials(
        Map("svc" -> "pw"), ttlSeconds = 60L, now = () => clock))
    val port = server.start()
    try {
      val res = client.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:$port/v1/oauth/tokens"))
        .header("Content-Type", "application/x-www-form-urlencoded")
        .POST(HttpRequest.BodyPublishers.ofString(
          "grant_type=client_credentials&client_id=svc&client_secret=pw"))
        .build(), HttpResponse.BodyHandlers.ofString())
      assert(res.statusCode() == 200, res.body())
      val node = graft.objects.Json.mapper.readTree(res.body())
      assert(node.get("expires_in").asLong() == 60L,
        "expires_in advertises the authorizer's TTL")
      val tok = node.get("access_token").asText()
      def hit(): Int = {
        val b = HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:$port/v1/namespaces"))
          .header("Authorization", s"Bearer $tok")
        client.send(b.build(), HttpResponse.BodyHandlers.ofString())
          .statusCode()
      }
      assert(hit() == 200, "fresh token serves")
      clock += 59 * 1000L
      assert(hit() == 200, "still inside the TTL")
      clock += 2 * 1000L
      assert(hit() == 401, "past the TTL the token is dead")
    } finally server.stop()
  }

  test("abandoned expired tokens are swept on the issue path") {
    var clock = 1000000L
    val auth = new RequestAuthorizer.ClientCredentials(
      Map("svc" -> "pw"), ttlSeconds = 60L, now = () => clock)
    // issue 10 tokens that are never presented again
    (1 to 10).foreach(_ => assert(auth.issueToken("svc", "pw", None).nonEmpty))
    assert(auth.liveTokenCount == 10)
    clock += 61 * 1000L // all 10 expire, none re-presented
    // the next exchange sweeps the corpses instead of growing forever
    assert(auth.issueToken("svc", "pw", None).nonEmpty)
    assert(auth.liveTokenCount == 1,
      s"expired tokens must not accumulate, got ${auth.liveTokenCount}")
    // wrong secret still refuses (constant-time compare path)
    assert(auth.issueToken("svc", "pW", None).isEmpty)
    assert(auth.issueToken("nosuch", "pw", None).isEmpty)
  }

  test("keep-alive GETs answer without a delayed-ACK stall") {
    // Nagle on the server socket holds each response body until the
    // client ACKs the headers, which Linux delays ~40 ms: 50 requests
    // would take >= 2 s. With TCP_NODELAY they take a few ms each.
    val storage = new LocalStorageOps(
      Files.createTempDirectory("graft-http-nodelay").toString)
    Graft.createCatalog(storage, CatalogDef())
    val txn = Graft.beginTransaction(storage)
    Graft.createNamespace(storage, txn, NamespaceDef("ns"))
    Graft.createTable(storage, txn,
      TableDef("t", "ns", metadataLocation = "data/ns/t/meta/0.json"))
    Graft.commitTransaction(storage, txn)
    val server = new CatalogHttpServer(storage)
    val port = server.start()
    val http11 = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    val req = HttpRequest.newBuilder(
      URI.create(s"http://127.0.0.1:$port/v1/namespaces/ns/tables/t")).build()
    def fetch(): Unit = {
      val res = http11.send(req, HttpResponse.BodyHandlers.ofString())
      assert(res.statusCode() == 200 && res.body().contains("\"name\":\"t\""))
    }
    try {
      fetch() // open the connection and warm the handler
      val t0 = System.nanoTime()
      (1 to 50).foreach(_ => fetch())
      val ms = (System.nanoTime() - t0) / 1e6
      assert(ms < 1000, f"50 keep-alive GETs took $ms%.0f ms")
    } finally server.stop()
  }
}
