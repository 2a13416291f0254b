package graft.serve

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.catalog.Graft
import graft.format.TableMetadata
import graft.objects.{FileLocations, Json, NamespaceDef, TableDef}
import graft.storage.StorageOps
import graft.txn.Transaction

/** Read-only HTTP façade over a graft warehouse — the out-of-process
  * access path the reference exposes as an Iceberg REST catalog
  * (docker/gravitino/, README.md "REST catalog"). Built on the JDK's
  * own HTTP server: zero extra dependencies, good enough for a
  * metadata-plane protocol whose payloads are a few KB of JSON.
  *
  * Read endpoints (GET, JSON):
  *   /v1/config                          → CatalogDef
  *   /v1/namespaces                      → {"namespaces": [..]}
  *   /v1/namespaces/{ns}                 → NamespaceDef
  *   /v1/namespaces/{ns}/tables          → {"tables": [..]}
  *   /v1/namespaces/{ns}/tables/{t}      → TableDef
  *   /v1/namespaces/{ns}/views           → {"views": [..]}
  *   /v1/namespaces/{ns}/views/{v}       → ViewDef
  *
  * Write endpoints (metadata plane only — data files ride Spark):
  *   POST   /v1/namespaces               {"name":.., "properties":{..}}
  *   POST   /v1/namespaces/{ns}/tables   {"name":.., "schemaJson":..}
  *   DELETE /v1/namespaces/{ns}          (RESTRICT)
  *   DELETE /v1/namespaces/{ns}/tables/{t}
  *
  * Under the Iceberg prefix, POST /namespaces/{ns}/tables/{t} accepts
  * the spec's CommitTableRequest ([[IcebergCommits]]): appends,
  * overwrites (removed + added files) and row-level delete-manifest
  * commits (position/equality delete files, transcoded into native
  * delete objects) — external engines race native writers through the
  * same optimistic root protocol. `POST /transactions/commit` takes
  * the spec's multi-table CommitTransactionRequest and lands every
  * table change in one native transaction — atomic across tables
  * ([[IcebergCommits.commitTransaction]]). Listing endpoints honor the spec's
  * `pageToken`/`pageSize` query params, each page a strictly-after
  * key-interval scan of the catalog tree ([[graft.tree.TreeOps
  * .traverseFrom]]) so one page of a billion-object namespace costs
  * O(depth + page) node reads, never a driver-side materialization.
  *
  * Every request runs in its own transaction against the latest
  * committed root: reads are each a consistent snapshot, writes are
  * single auto-commit transactions decided by the same optimistic
  * root race as in-process writers — two HTTP clients (or an HTTP
  * client racing a Spark session) resolve exactly like two sessions.
  */
/** Authorization seam for the HTTP facade — the one class a real
  * deployment binds (like the `ObjectStoreClient` S3 seam): inspect
  * the request's bearer token (the OpenAPI `Authorization: Bearer`
  * header) and throw [[CatalogHttpServer.UnauthorizedException]] to
  * reject with 401. The default allows everything, matching the
  * reference's unauthenticated docker-compose deployment.
  */
trait RequestAuthorizer {
  def authorize(method: String, path: String, bearer: Option[String]): Unit

  /** OAuth2 client-credentials exchange (the OpenAPI's
    * `POST /v1/oauth/tokens`): return a bearer token for a known
    * client, None to reject with the spec's `invalid_client` error.
    * The default issues nothing — deployments that want the token
    * endpoint override BOTH methods in one class (issue here, accept
    * what was issued in [[authorize]]).
    */
  def issueToken(clientId: String, clientSecret: String,
      scope: Option[String]): Option[String] = None
}

object RequestAuthorizer {
  object AllowAll extends RequestAuthorizer {
    override def authorize(method: String, path: String,
        bearer: Option[String]): Unit = ()
  }

  /** The whole client-credentials story in one class: exchanges a
    * known (client-id, secret) pair for a random bearer, accepts only
    * bearers it issued, and EXPIRES them after `ttlSeconds` (matching
    * the token response's advertised `expires_in` — a client that
    * ignores it gets the 401 + `WWW-Authenticate: Bearer` nudge to
    * re-exchange). Bind real credential storage by replacing this
    * class, nothing else.
    */
  final class ClientCredentials(clients: Map[String, String],
      val ttlSeconds: Long = 3600L,
      now: () => Long = () => System.currentTimeMillis())
      extends RequestAuthorizer {
    private val live =
      new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    override def authorize(method: String, path: String,
        bearer: Option[String]): Unit = {
      val valid = bearer.exists { t =>
        val exp = live.get(t)
        if (exp == null) false
        else if (exp.longValue >= now()) true
        else { live.remove(t); false } // expired tokens leave the map
      }
      if (!valid)
        throw new CatalogHttpServer.UnauthorizedException(
          s"bad, missing, or expired bearer token for $method $path")
    }
    override def issueToken(clientId: String, clientSecret: String,
        scope: Option[String]): Option[String] =
      if (secretMatches(clientId, clientSecret)) {
        // abandoned-but-expired tokens would otherwise accumulate
        // forever (authorize only evicts a token that is re-presented):
        // sweep on the issue path, which is both rare and the only
        // place the map grows
        val cutoff = now()
        val it = live.entrySet().iterator()
        while (it.hasNext) if (it.next().getValue.longValue < cutoff)
          it.remove()
        val t = java.util.UUID.randomUUID().toString
        live.put(t, cutoff + ttlSeconds * 1000L)
        Some(t)
      } else None

    /** Test/ops visibility: tokens currently retained (live or
      * expired-but-unswept).
      */
    def liveTokenCount: Int = live.size()

    /** Constant-time secret comparison (a plain == leaks a prefix
      * oracle through response timing).
      */
    private def secretMatches(clientId: String, secret: String): Boolean =
      clients.get(clientId).exists(expected =>
        java.security.MessageDigest.isEqual(
          expected.getBytes(java.nio.charset.StandardCharsets.UTF_8),
          secret.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
  }
}

class CatalogHttpServer(storage: StorageOps, port: Int = 0,
    authorizer: RequestAuthorizer = RequestAuthorizer.AllowAll) {

  private val server = CatalogHttpServer.bind(port)

  /** Starts serving; returns the bound port. */
  def start(): Int = {
    server.createContext("/v1", (ex: HttpExchange) => handle(ex))
    // single-threaded is fine for metadata once the socket is
    // TCP_NODELAY ([[CatalogHttpServer.bind]]): a request then costs its
    // handler's time, not a 40 ms delayed-ACK stall
    server.setExecutor(null)
    server.start()
    server.getAddress.getPort
  }

  def stop(): Unit = server.stop(0)

  private def handle(ex: HttpExchange): Unit = {
    val parts = ex.getRequestURI.getPath.split("/").filter(_.nonEmpty).toList
    val iceberg = parts.take(2) == List("v1", "iceberg")
    try {
      // the token endpoint is the one route a client reaches WITHOUT a
      // bearer (it's how one is obtained) — OpenAPI `POST /v1/oauth/tokens`
      if (parts == List("v1", "oauth", "tokens")) {
        if (ex.getRequestMethod != "POST")
          reply(ex, 405, """{"error":"unsupported method"}""")
        else handleOauthTokens(ex)
        return
      }
      val bearer = Option(ex.getRequestHeaders.getFirst("Authorization"))
        .filter(_.regionMatches(true, 0, "Bearer ", 0, 7)).map(_.substring(7))
      authorizer.authorize(ex.getRequestMethod,
        ex.getRequestURI.getPath, bearer)
      if (iceberg) handleIceberg(ex, ex.getRequestMethod, parts.drop(2))
      else ex.getRequestMethod match {
        case "GET" => handleGet(ex, parts)
        case "POST" => handlePost(ex, parts)
        case "DELETE" => handleDelete(ex, parts)
        case _ => reply(ex, 405, """{"error":"unsupported method"}""")
      }
    } catch {
      case e: CatalogHttpServer.UnauthorizedException =>
        ex.getResponseHeaders.set("WWW-Authenticate", "Bearer")
        reply(ex, 401, IcebergRest.errorResponse(401,
          "NotAuthorizedException", String.valueOf(e.getMessage)))
      case _: NoSuchElementException if iceberg =>
        reply(ex, 404,
          IcebergRest.errorResponse(404, "NoSuchObjectException", "not found"))
      case _: NoSuchElementException =>
        reply(ex, 404, """{"error":"object not found"}""")
      case e: IcebergCommits.RequirementFailedException =>
        reply(ex, 409, IcebergRest.errorResponse(409,
          "CommitFailedException", String.valueOf(e.getMessage)))
      case e: IllegalArgumentException if iceberg =>
        reply(ex, 400, IcebergRest.errorResponse(400, "BadRequestException",
          String.valueOf(e.getMessage)))
      case e: IllegalArgumentException =>
        reply(ex, 400, s"""{"error":${Json.writeString(e.getMessage)}}""")
      case e: Exception =>
        reply(ex, 500, s"""{"error":${Json.writeString(String.valueOf(e.getMessage))}}""")
    } finally ex.close()
  }

  /** OAuth2 client-credentials exchange (OpenAPI `POST /v1/oauth/
    * tokens`, `application/x-www-form-urlencoded`): delegates to the
    * [[RequestAuthorizer]] seam, so a deployment's entire auth story —
    * token issuance AND per-request gating — lives in that one class.
    * Credentials arrive as `client_id`/`client_secret` params or the
    * Iceberg client's combined `credential=id:secret` form.
    */
  private def handleOauthTokens(ex: HttpExchange): Unit = {
    val raw = new String(requestBody(ex),
      java.nio.charset.StandardCharsets.UTF_8)
    val form: Map[String, String] = raw.split('&').toSeq.flatMap { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => Some(
          java.net.URLDecoder.decode(k, "UTF-8") ->
            java.net.URLDecoder.decode(v, "UTF-8"))
        case _ => None
      }
    }.toMap
    def oauthError(code: Int, err: String, desc: String): Unit =
      reply(ex, code, s"""{"error":${Json.writeString(err)},""" +
        s""""error_description":${Json.writeString(desc)}}""")
    if (!form.get("grant_type").contains("client_credentials"))
      return oauthError(400, "unsupported_grant_type",
        s"expected client_credentials, got ${form.getOrElse("grant_type", "(none)")}")
    val (id, secret) = form.get("credential") match {
      case Some(c) => c.split(":", 2) match {
        case Array(i, s) => (i, s)
        case _ => ("", c) // spec: a bare credential is the secret
      }
      case None =>
        (form.getOrElse("client_id", ""), form.getOrElse("client_secret", ""))
    }
    authorizer.issueToken(id, secret, form.get("scope")) match {
      case Some(token) =>
        val scope = form.getOrElse("scope", "catalog")
        val ttl = authorizer match {
          case c: RequestAuthorizer.ClientCredentials => c.ttlSeconds
          case _ => 3600L
        }
        reply(ex, 200, s"""{"access_token":${Json.writeString(token)},""" +
          s""""token_type":"bearer","expires_in":$ttl,""" +
          s""""scope":${Json.writeString(scope)}}""")
      case None =>
        ex.getResponseHeaders.set("WWW-Authenticate", "Bearer")
        oauthError(401, "invalid_client",
          "unknown client or bad secret (or this deployment issues no tokens)")
    }
  }

  /** Iceberg-REST-catalog routes (PUBLIC Apache Iceberg REST OpenAPI
    * shapes) under the spec's `prefix` mechanism: `GET /v1/config`
    * advertises `prefix=iceberg`, so clients call
    * `/v1/iceberg/namespaces/...`. Metadata-plane interop: external
    * engines discover namespaces/tables/views and read Iceberg-format
    * schemas, snapshot history, and properties over plain HTTP.
    */
  /** `pageToken`/`pageSize` query params per the Iceberg REST OpenAPI;
    * (after-name, limit) when the client asked for pagination, None for
    * the unpaged full listing.
    */
  private def paging(ex: HttpExchange): Option[(Option[String], Int)] = {
    val params = Option(ex.getRequestURI.getRawQuery).toSeq
      .flatMap(_.split('&').toSeq).flatMap { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => Some(
            java.net.URLDecoder.decode(k, "UTF-8") ->
              java.net.URLDecoder.decode(v, "UTF-8"))
          case _ => None
        }
      }.toMap
    val token = params.get("pageToken").map(IcebergRest.decodePageToken)
    val size = params.get("pageSize").map { s =>
      val n = s.toIntOption.getOrElse(
        throw new IllegalArgumentException(s"invalid pageSize: $s"))
      require(n > 0, s"pageSize must be positive: $n")
      // the spec lets the server return fewer than asked; the cap also
      // keeps `limit + 1` probes overflow-safe for pageSize=MaxInt
      math.min(n, MaxPageSize)
    }
    if (token.isEmpty && size.isEmpty) None
    else Some((token, size.getOrElse(DefaultPageSize)))
  }

  private val DefaultPageSize = 1000
  private val MaxPageSize = 100000

  private def handleIceberg(ex: HttpExchange, method: String,
      route: List[String]): Unit = (method, route) match {
    case ("GET", List("namespaces")) =>
      withReadTxn { txn =>
        paging(ex) match {
          case Some((after, limit)) =>
            val (names, more) =
              Graft.showNamespacesPage(storage, txn, after, limit)
            reply(ex, 200, IcebergRest.namespacesResponse(names,
              if (more) names.lastOption.map(IcebergRest.pageToken) else None))
          case None =>
            reply(ex, 200, IcebergRest.namespacesResponse(
              Graft.showNamespaces(storage, txn)))
        }
      }
    case ("POST", List("namespaces")) =>
      val body = Json.mapper.readTree(requestBody(ex))
      val nsArr = body.get("namespace")
      require(nsArr != null && nsArr.size() == 1,
        "graft namespaces are single-level")
      val name = nsArr.get(0).asText()
      val props = Option(body.get("properties")).map { p =>
        val it = p.properties().iterator()
        val m = scala.collection.mutable.Map.empty[String, String]
        while (it.hasNext) { val e = it.next(); m(e.getKey) = e.getValue.asText() }
        m.toMap
      }.getOrElse(Map.empty[String, String])
      inWriteTxn(txn => Graft.createNamespace(storage, txn,
        NamespaceDef(name, props)))
      reply(ex, 200, IcebergRest.namespaceResponse(name, props))
    case ("GET", List("namespaces", ns)) =>
      withReadTxn { txn =>
        val d = Graft.describeNamespace(storage, txn, ns)
        reply(ex, 200, IcebergRest.namespaceResponse(d.name, d.properties))
      }
    case ("HEAD", List("namespaces", ns)) =>
      val exists = withReadTxn(txn => Graft.namespaceExists(storage, txn, ns))
      replyEmpty(ex, if (exists) 204 else 404)
    case ("DELETE", List("namespaces", ns)) =>
      inWriteTxn(txn => Graft.dropNamespace(storage, txn, ns, cascade = false))
      replyEmpty(ex, 204)
    case ("GET", List("namespaces", ns, "tables")) =>
      withReadTxn { txn =>
        paging(ex) match {
          case Some((after, limit)) =>
            val (names, more) =
              Graft.showTablesPage(storage, txn, ns, after, limit)
            reply(ex, 200, IcebergRest.identifiersResponse(ns, names,
              if (more) names.lastOption.map(IcebergRest.pageToken) else None))
          case None =>
            reply(ex, 200, IcebergRest.identifiersResponse(ns,
              Graft.showTables(storage, txn, ns)))
        }
      }
    case ("POST", List("namespaces", ns, "tables")) =>
      val body = Json.mapper.readTree(requestBody(ex))
      require(body.hasNonNull("name") && body.hasNonNull("schema"),
        "table create needs name and schema")
      val name = body.get("name").asText()
      val schema = IcebergRest.fromIcebergSchema(body.get("schema"))
      val metaPath = FileLocations.tableMetadataPath(ns, name)
      TableMetadata.write(storage, metaPath, TableMetadata.empty(schema.json))
      inWriteTxn(txn => Graft.createTable(storage, txn,
        TableDef(name, ns, metadataLocation = metaPath)))
      replyLoadTable(ex, ns, name)
    case ("GET", List("namespaces", ns, "tables", t)) =>
      replyLoadTable(ex, ns, t)
    case ("POST", List("namespaces", ns, "tables", t)) =>
      // CommitTableRequest (append-only subset): an external engine
      // lands data files it wrote under the table location through
      // the SAME optimistic commit path as a native writer
      IcebergCommits.commit(storage, ns, t,
        Json.mapper.readTree(requestBody(ex)))
      replyLoadTable(ex, ns, t)
    case ("POST", List("namespaces", ns, "tables", t, "plan")) =>
      // the spec's server-side scan planning: the client's filter
      // prunes against graft's native per-file stats HERE, so only
      // surviving file-scan tasks (with their applicable delete
      // files) cross the wire — not the whole manifest tree
      reply(ex, 200, IcebergPlan.plan(storage, ns, t,
        Json.mapper.readTree(requestBody(ex))))
    case ("GET", List("namespaces", _, "tables", _, "plan", planId)) =>
      // FetchPlanningResult: poll a `submitted` plan by id
      reply(ex, 200, IcebergPlan.fetchPlanningResult(storage, planId))
    case ("DELETE", List("namespaces", _, "tables", _, "plan", planId)) =>
      IcebergPlan.cancelPlan(storage, planId)
      replyEmpty(ex, 204)
    case ("POST", List("namespaces", _, "tables", _, "tasks")) =>
      // FetchScanTasksResult: one page of a paginated plan, addressed
      // by the opaque plan-task token the plan result carried
      reply(ex, 200, IcebergPlan.fetchScanTasks(storage,
        Json.mapper.readTree(requestBody(ex))))
    case ("HEAD", List("namespaces", ns, "tables", t)) =>
      val exists = withReadTxn(txn => Graft.tableExists(storage, txn, ns, t))
      replyEmpty(ex, if (exists) 204 else 404)
    case ("DELETE", List("namespaces", ns, "tables", t)) =>
      // `purgeRequested=true` (the spec's drop-with-purge): data and
      // derived artifacts delete AFTER the drop commits — history and
      // time travel are gone, which is exactly what purge means. The
      // default drop keeps files for register/rollback, like native.
      val purge = Option(ex.getRequestURI.getRawQuery).exists(
        _.split('&').contains("purgeRequested=true"))
      inWriteTxn(txn => Graft.dropTable(storage, txn, ns, t))
      // the whole table tree — data files AND metadata documents
      // (tableDataDir is only the files/ subtree)
      if (purge) storage.deleteTree(s"data/$ns/$t/")
      replyEmpty(ex, 204)
    case ("POST", List("namespaces", ns, "register")) =>
      // RegisterTableRequest: adopt an EXISTING metadata document as a
      // live table — the cross-process attach the reference's
      // migration procedures provide natively. Two formats are
      // accepted: graft's own TableMetadata JSON (another warehouse
      // sharing this storage), and an Iceberg metadata.json (v1/v2),
      // whose current snapshot's live files are adopted through the
      // [[IcebergStatic]] bridge — the spec's actual RegisterTable
      // contract.
      val body = Json.mapper.readTree(requestBody(ex))
      val name = body.path("name").asText()
      require(name.nonEmpty, "register needs a name")
      val loc = body.path("metadata-location").asText()
      require(loc.nonEmpty, "register needs a metadata-location")
      val rel =
        if (loc.startsWith(storage.root)) loc.stripPrefix(storage.root)
          .stripPrefix("/")
        else loc
      require(storage.exists(rel), s"no metadata document at $loc")
      val doc = storage.read(rel)
      if (IcebergStatic.isIcebergMetadata(doc))
        inWriteTxn(txn =>
          IcebergStatic.importTable(storage, txn, ns, name, rel))
      else {
        // read validates the document before anything is committed
        val meta = TableMetadata.read(storage, rel)
        inWriteTxn(txn => Graft.createTable(storage, txn,
          TableDef(name, ns, metadataLocation = rel,
            properties = meta.properties)))
      }
      replyLoadTable(ex, ns, name)
    case ("GET", List("namespaces", ns, "views")) =>
      withReadTxn { txn =>
        paging(ex) match {
          case Some((after, limit)) =>
            val (names, more) =
              Graft.showViewsPage(storage, txn, ns, after, limit)
            reply(ex, 200, IcebergRest.identifiersResponse(ns, names,
              if (more) names.lastOption.map(IcebergRest.pageToken) else None))
          case None =>
            reply(ex, 200, IcebergRest.identifiersResponse(ns,
              Graft.showViews(storage, txn, ns)))
        }
      }
    case ("GET", List("namespaces", ns, "views", v)) =>
      withReadTxn { txn =>
        val vd = Graft.describeView(storage, txn, ns, v)
        reply(ex, 200, IcebergRest.loadViewResult(vd,
          storage.absolute(s"def/view/$ns-$v"), storage.root))
      }
    case ("POST", List("namespaces", ns, "views")) =>
      // CreateViewRequest: the SQL executes natively in Spark sessions
      val vd = IcebergViews.fromCreateRequest(ns,
        Json.mapper.readTree(requestBody(ex)))
      val conflict =
        try { inWriteTxn(txn => Graft.createView(storage, txn, vd)); None }
        catch {
          case e: IllegalArgumentException
              if String.valueOf(e.getMessage).contains("already exists") =>
            Some(e) // the spec's view-create conflict is 409, not 400
        }
      conflict match {
        case Some(e) => reply(ex, 409, IcebergRest.errorResponse(409,
          "AlreadyExistsException", String.valueOf(e.getMessage)))
        case None => replyLoadView(ex, ns, vd.name)
      }
    case ("POST", List("namespaces", ns, "views", v)) =>
      // UpdateViewRequest (CREATE OR REPLACE subset): the new version
      // builds over the CURRENT def and lands through the same
      // optimistic root race as a native REPLACE VIEW
      val body = Json.mapper.readTree(requestBody(ex))
      inWriteTxn { txn =>
        val cur = Graft.describeView(storage, txn, ns, v)
        Graft.createView(storage, txn,
          IcebergViews.applyCommit(storage, ns, v, cur, body),
          replace = true)
      }
      replyLoadView(ex, ns, v)
    case ("HEAD", List("namespaces", ns, "views", v)) =>
      val exists = withReadTxn(txn => Graft.viewExists(storage, txn, ns, v))
      replyEmpty(ex, if (exists) 204 else 404)
    case ("DELETE", List("namespaces", ns, "views", v)) =>
      inWriteTxn(txn => Graft.dropView(storage, txn, ns, v))
      replyEmpty(ex, 204)
    case ("POST", List("transactions", "commit")) =>
      // CommitTransactionRequest: every table change lands in ONE
      // native graft transaction — atomic across tables, decided by
      // the same optimistic root race as in-process writers
      IcebergCommits.commitTransaction(storage,
        Json.mapper.readTree(requestBody(ex)))
      replyEmpty(ex, 204)
    case ("POST", List("tables", "rename")) =>
      // RenameTableRequest; same-namespace only (the native contract —
      // graft keys tables under their namespace), cross-namespace
      // moves are refused with 400, never half-applied
      val (ns, from, to) = renameArgs(Json.mapper.readTree(requestBody(ex)))
      conflictAware409(ex)(
        inWriteTxn(txn => Graft.renameTable(storage, txn, ns, from, to)))
    case ("POST", List("views", "rename")) =>
      val (ns, from, to) = renameArgs(Json.mapper.readTree(requestBody(ex)))
      conflictAware409(ex)(inWriteTxn { txn =>
        val cur = Graft.describeView(storage, txn, ns, from)
        Graft.createView(storage, txn, cur.copy(name = to))
        Graft.dropView(storage, txn, ns, from)
      })
    case ("POST", List("namespaces", ns, "properties")) =>
      // UpdateNamespacePropertiesRequest → {updated, removed, missing}
      val body = Json.mapper.readTree(requestBody(ex))
      val updates = Option(body.get("updates")).filter(_.isObject)
        .map { u =>
          val it = u.properties().iterator()
          val m = scala.collection.mutable.Map.empty[String, String]
          while (it.hasNext) { val e = it.next(); m(e.getKey) = e.getValue.asText() }
          m.toMap
        }.getOrElse(Map.empty[String, String])
      val removals = Option(body.get("removals")).filter(_.isArray)
        .map(r => (0 until r.size()).map(r.get(_).asText())).getOrElse(Seq.empty)
      var missing = Seq.empty[String]
      inWriteTxn { txn =>
        val cur = Graft.describeNamespace(storage, txn, ns)
        missing = removals.filterNot(cur.properties.contains)
        Graft.alterNamespace(storage, txn,
          cur.copy(properties = cur.properties -- removals ++ updates))
      }
      val r = Json.mapper.createObjectNode()
      val up = r.putArray("updated"); updates.keys.foreach(up.add)
      val rm = r.putArray("removed")
      removals.filterNot(missing.contains).foreach(rm.add)
      val ms = r.putArray("missing"); missing.foreach(ms.add)
      reply(ex, 200, r.toString)
    case ("POST", List("namespaces", _, "tables", _, "metrics")) =>
      // report sink per the OpenAPI spec: accept and acknowledge
      replyEmpty(ex, 204)
    case _ =>
      reply(ex, 404,
        IcebergRest.errorResponse(404, "NoSuchRouteException", "no such route"))
  }

  private def replyLoadTable(ex: HttpExchange, ns: String, t: String): Unit =
    withReadTxn { txn =>
      val td = Graft.describeTable(storage, txn, ns, t)
      val raw = TableMetadata.read(storage, td.metadataLocation)
      // REST metadata carries the FULL snapshot history: hydrate any
      // spilled snapshot-log segments back inline for serialization
      val meta = raw.copy(snapshots = raw.allSnapshots(storage),
        snapshotLog = Seq.empty)
      val partCols = td.properties.get("graft.partition-columns")
        .map(_.split(',').toSeq.filter(_.nonEmpty)).getOrElse(Seq.empty)
      // pending position/equality deletes serve as REAL v2 delete
      // manifests (per-partition-split and globally-scoped
      // respectively); predicate deletes MATERIALIZE into position
      // deletes when a co-located Spark session can run the in-scope
      // scan — only a bare metadata server refuses them, loudly,
      // instead of resurrecting deleted rows in the external engine
      if (meta.currentSnapshot.exists(
          IcebergManifests.unservable)) {
        reply(ex, 400, IcebergRest.errorResponse(400, "BadRequestException",
          s"table $ns.$t has pending merge-on-read PREDICATE deletes and " +
            "this server has no co-located Spark session to materialize " +
            "them; run compact_table first, serve from a Spark-hosted " +
            "process, or read through a graft-native engine"))
      } else {
        val schema = org.apache.spark.sql.types.DataType
          .fromJson(meta.schemaJson)
          .asInstanceOf[org.apache.spark.sql.types.StructType]
        val manifests =
          IcebergManifests.ensure(storage, ns, t, meta, schema, partCols)
        reply(ex, 200, IcebergRest.loadTableResult(td, meta,
          storage.absolute(td.metadataLocation),
          storage.absolute(FileLocations.tableDataDir(ns, t)),
          manifests.manifestLists,
          meta.stats.map(st => storage.absolute(st.path))))
      }
    }

  /** Run `f` and reply 204, mapping a name-collision failure onto the
    * spec's 409 AlreadyExistsException (a plain IllegalArgumentException
    * would surface as 400, which the spec reserves for malformed
    * bodies).
    */
  private def conflictAware409(ex: HttpExchange)(f: => Unit): Unit = {
    val conflict =
      try { f; None }
      catch {
        case e: IllegalArgumentException
            if String.valueOf(e.getMessage).contains("already exists") =>
          Some(e)
      }
    conflict match {
      case Some(e) => reply(ex, 409, IcebergRest.errorResponse(409,
        "AlreadyExistsException", String.valueOf(e.getMessage)))
      case None => replyEmpty(ex, 204)
    }
  }

  /** RenameTableRequest `source`/`destination` → (ns, from, to);
    * malformed or cross-namespace bodies → 400.
    */
  private def renameArgs(body: com.fasterxml.jackson.databind.JsonNode)
      : (String, String, String) = {
    def ident(field: String): (String, String) = {
      val n = body.get(field)
      require(n != null, s"rename needs a $field identifier")
      val nsArr = n.get("namespace")
      require(nsArr != null && nsArr.isArray && nsArr.size() == 1,
        "graft namespaces are single-level")
      val name = n.path("name").asText()
      require(name.nonEmpty, s"rename $field lacks a name")
      (nsArr.get(0).asText(), name)
    }
    val (fromNs, from) = ident("source")
    val (toNs, to) = ident("destination")
    require(fromNs == toNs, "cross-namespace rename unsupported")
    (fromNs, from, to)
  }

  private def replyLoadView(ex: HttpExchange, ns: String, v: String): Unit =
    withReadTxn { txn =>
      val vd = Graft.describeView(storage, txn, ns, v)
      reply(ex, 200, IcebergRest.loadViewResult(vd,
        storage.absolute(s"def/view/$ns-$v"), storage.root))
    }

  private def replyEmpty(ex: HttpExchange, code: Int): Unit =
    ex.sendResponseHeaders(code, -1)

  private def handleGet(ex: HttpExchange, parts: List[String]): Unit = {
    {
      val body = withReadTxn { txn =>
        parts match {
          case List("v1", "config") =>
            // one config doc serves both protocols: graft clients read
            // the CatalogDef fields; Iceberg REST clients read
            // defaults/overrides and learn the `iceberg` route prefix
            val root = graft.tree.TreeOps.findLatestRoot(storage).get
            try {
              val node = Json.mapper.valueToTree[com.fasterxml.jackson.databind
                .node.ObjectNode](Graft.catalogDef(storage, root))
              node.putObject("defaults")
              node.putObject("overrides").put("prefix", "iceberg")
              Some(node.toString)
            } finally root.close()
          case List("v1", "namespaces") =>
            Some(listJson("namespaces", Graft.showNamespaces(storage, txn)))
          case List("v1", "namespaces", ns) =>
            Some(Json.writeString(Graft.describeNamespace(storage, txn, ns)))
          case List("v1", "namespaces", ns, "tables") =>
            Some(listJson("tables", Graft.showTables(storage, txn, ns)))
          case List("v1", "namespaces", ns, "tables", t) =>
            Some(Json.writeString(Graft.describeTable(storage, txn, ns, t)))
          case List("v1", "namespaces", ns, "views") =>
            Some(listJson("views", Graft.showViews(storage, txn, ns)))
          case List("v1", "namespaces", ns, "views", v) =>
            Some(Json.writeString(Graft.describeView(storage, txn, ns, v)))
          case _ => None
        }
      }
      body match {
        case Some(json) => reply(ex, 200, json)
        case None => reply(ex, 404, """{"error":"no such route"}""")
      }
    }
  }

  private def requestBody(ex: HttpExchange): Array[Byte] =
    ex.getRequestBody.readAllBytes()

  private def inWriteTxn(f: Transaction => Unit): Unit = {
    val txn = Graft.beginTransaction(storage)
    try { f(txn); Graft.commitTransaction(storage, txn); () }
    finally txn.close()
  }

  private def handlePost(ex: HttpExchange, parts: List[String]): Unit =
    parts match {
      case List("v1", "namespaces") =>
        val d = Json.read(requestBody(ex), classOf[NamespaceDef])
        inWriteTxn(txn => Graft.createNamespace(storage, txn, d))
        reply(ex, 201, Json.writeString(d))
      case List("v1", "namespaces", ns, "tables") =>
        val req = Json.read(requestBody(ex), classOf[CreateTableRequest])
        require(req.name != null && req.schemaJson != null,
          "table create needs name and schemaJson")
        val metaPath = FileLocations.tableMetadataPath(ns, req.name)
        TableMetadata.write(storage, metaPath, TableMetadata.empty(req.schemaJson))
        inWriteTxn(txn => Graft.createTable(storage, txn,
          TableDef(req.name, ns, metadataLocation = metaPath,
            properties = Option(req.properties).getOrElse(Map.empty))))
        reply(ex, 201, s"""{"created":${Json.writeString(req.name)}}""")
      case _ => reply(ex, 404, """{"error":"no such route"}""")
    }

  private def handleDelete(ex: HttpExchange, parts: List[String]): Unit =
    parts match {
      case List("v1", "namespaces", ns) =>
        inWriteTxn(txn => Graft.dropNamespace(storage, txn, ns, cascade = false))
        reply(ex, 200, s"""{"dropped":${Json.writeString(ns)}}""")
      case List("v1", "namespaces", ns, "tables", t) =>
        inWriteTxn(txn => Graft.dropTable(storage, txn, ns, t))
        reply(ex, 200, s"""{"dropped":${Json.writeString(t)}}""")
      case _ => reply(ex, 404, """{"error":"no such route"}""")
    }

  private def withReadTxn[T](f: Transaction => T): T = {
    val txn = Graft.beginTransaction(storage)
    try f(txn) finally txn.close()
  }

  private def listJson(field: String, names: Seq[String]): String =
    s"""{"$field":${Json.writeString(names)}}"""

  private def reply(ex: HttpExchange, code: Int, json: String): Unit = {
    val bytes = json.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }
}

object CatalogHttpServer {
  // The JDK server writes response headers and body as two segments;
  // with Nagle on, the body waits for the client's delayed ACK (~40 ms
  // on Linux) on every keep-alive request. The JDK reads this property
  // once, when its ServerConfig class initializes, so it is set here,
  // before the first `HttpServer.create` in this JVM.
  System.setProperty("sun.net.httpserver.nodelay", "true")

  private def bind(port: Int): HttpServer =
    HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)

  /** Thrown by a [[RequestAuthorizer]] to reject a request → HTTP 401
    * with the OpenAPI `NotAuthorizedException` error shape.
    */
  final class UnauthorizedException(msg: String) extends RuntimeException(msg)
}

/** POST /v1/namespaces/{ns}/tables request body. */
final case class CreateTableRequest(
    name: String = null,
    schemaJson: String = null,
    properties: Map[String, String] = null)
