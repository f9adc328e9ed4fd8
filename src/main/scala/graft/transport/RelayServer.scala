package graft.transport

import java.io.OutputStream
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graft.{ColumnBridge, ResultRows}

import graft.catalog.ArrowLikeType
import graft.mesh.{EntityResolver, MeshSession, QueryService}
import graft.validation.SqlValidator

/** A relay's network surface: the reference exposes every mesh interaction
  * over the wire — Flight `get_flight_info`/`do_get` for synchronous queries
  * (`flight_server/src/flight.rs:501-630`), a REST async path with task
  * statuses and result retrieval (`rest_server/src/query/route.rs:149-268`),
  * `do_put` result push from executor relays (`flight.rs:636-705`), and
  * catalog listing for peer registration (`webengine/src/register.rs:36-90`).
  * This serves the same surface from the JDK's built-in HTTP server (no new
  * dependencies; zero-egress sandbox — loopback TCP only in tests), with
  * parquet as the bulk result encoding (the reference's own async spill
  * format, `core/src/execute/result_manager.rs:58-92`) and, negotiated on
  * the sync path, the Arrow IPC stream a Flight `do_get` body carries,
  * written by Spark's own Arrow writer (`ColumnBridge.toArrowStream`; the
  * payload framing is the reference's own; only the gRPC carrier + mTLS
  * remain unreproducible without flight-core jars):
  *
  *   - `GET  /catalog`                      site name + entity schemas
  *     (Arrow-style dtype strings) — what a peer needs to build its stub
  *     Site for [[graft.catalog.Site.endpoint]] federation
  *   - `GET  /flightinfo?entity=E[&user=U]` leaf provenance branches across
  *     THIS relay's subweb (get_flight_info endpoint enumeration)
  *   - `POST /query`                        async submit {sql, user?,
  *     request_id?} → 202 {id} (idempotent on request_id)
  *   - `GET  /query/{id}`                   status + per-branch task states
  *   - `GET  /query/{id}/result[?allow_partial=true]`  parquet bytes
  *   - `GET  /query/{id}/ndjson`            NDJSON with `_relay_metadata_`
  *   - `POST /query/sync`                   {sql, user?, with_provenance?}
  *     → the Arrow IPC stream when the caller accepts it, else parquet
  *     bytes; past `WireArrowMaxBytes` a caller accepting both (a peer
  *     relay's wire hop) gets parquet and an Arrow-only caller 413 (the
  *     Flight do_get path; relay identity and the visited-relay cycle
  *     guard cross in `X-Graft-Relay`/`X-Graft-Visited`)
  *   - `PUT  /ingest/{id}/{branch}`         parquet bytes pushed by an
  *     executor relay (do_put)
  *
  * Identity: with `certAuth` set, the client's x509 certificate crosses
  * urlencoded in `X-Graft-Client-Cert` and its SHA-256 fingerprint is the
  * identity — trusted-relay origination and user ACLs key off the
  * fingerprint exactly as the reference's cert-header mTLS mode does
  * (see [[authenticate]]). Without it, identity is the plaintext
  * `X-Graft-Relay` header / body `user`, optionally gated by an
  * `X-Graft-Token` shared secret (open test configuration).
  *
  * Scale shape: only MESH RESULTS cross this wire (mapped per-source
  * queries, typically filtered/aggregated), exactly as in the reference —
  * bulk table scans stay on the site that owns the data, and the parquet
  * payload streams through fixed-size buffers on both ends.
  *
  * Latency: accepted connections set TCP_NODELAY (the JVM-wide
  * `sun.net.httpserver.nodelay`, set before the first server is created;
  * see the companion's `noDelay`), so a small answer is not held ~40 ms
  * by Nagle waiting for the client's delayed ACK.
  */
final class RelayServer(
    session: MeshSession,
    service: QueryService,
    sharedSecret: Option[String] = None,
    bindHost: String = "127.0.0.1",
    port: Int = 0,
    registry: Option[graft.mesh.MeshRegistry] = None,
    certAuth: Option[graft.catalog.PrincipalRegistry] = None) {

  import RelayServer.Auth

  private val mapper = new ObjectMapper()
  private val server = {
    RelayServer.noDelay() // before the JDK server reads its configuration
    HttpServer.create(new InetSocketAddress(bindHost, port), 0)
  }
  // CACHED pool, not fixed: a federation hop HOLDS its server thread while
  // it calls the next peer (sync /query/sync and /flightinfo recursion), so
  // a fixed-width pool deadlocks once concurrent chains outnumber threads —
  // every thread blocked on a downstream relay whose own request is queued
  // behind it. Growth is bounded in practice by concurrent client count
  // (threads idle 60 s then die); heavy work runs on Spark's scheduler, not
  // these threads, so oversubscription here is cheap.
  server.setExecutor(java.util.concurrent.Executors.newCachedThreadPool(
    (r: Runnable) => {
      val t = new Thread(r, "graft-relay-http")
      t.setDaemon(true)
      t
    }))
  server.createContext("/", (ex: HttpExchange) => handle(ex))
  server.start()

  def boundPort: Int = server.getAddress.getPort
  def url: String = s"http://$bindHost:$boundPort"
  // with a live ingest endpoint, this relay's async submits distribute:
  // peers execute mapped requests and push results back here (do_put)
  service.selfUrl = Some(
    sharedSecret.map(s => s"http://$s@$bindHost:$boundPort").getOrElse(url))
  def stop(): Unit = {
    service.selfUrl = None
    server.stop(0)
  }

  private def handle(ex: HttpExchange): Unit =
    try {
      if (sharedSecret.exists(s =>
          ex.getRequestHeaders.getFirst("X-Graft-Token") != s)) {
        respond(ex, 401, "application/json", errJson("invalid or missing token"))
      } else authenticate(ex) match {
        case Left(err) => respond(ex, 401, "application/json", errJson(err))
        case Right(auth) => route(ex, auth)
      }
    } catch {
      case e: SqlValidator.InvalidQuery =>
        respond(ex, 400, "application/json", errJson(e.getMessage))
      case e: IllegalStateException =>
        respond(ex, 409, "application/json", errJson(e.getMessage))
      case e: Throwable =>
        respond(ex, 500, "application/json", errJson(String.valueOf(e.getMessage)))
    } finally ex.close()

  /** Certificate-fingerprint authentication — the reference's cert-header
    * mTLS mode (`flight_server/src/flight.rs:92-125` `extract_certs_header`
    * + `core/src/pki/mod.rs:34-55` `parse_urlencoded_pemstr`): this HTTP
    * carrier has no TLS layer, so the client's PEM certificate crosses
    * urlencoded in `X-Graft-Client-Cert` exactly as it would behind the
    * reference's TLS-terminating proxy. The SHA-256 fingerprint of the
    * presented certificate IS the identity:
    *
    *  - a forwarded request (`X-Graft-Relay` set) must present a
    *    fingerprint registered as that TRUSTED RELAY — the reference's
    *    `verify_query_origination_information` relay arm
    *    (`core/src/execute/utils.rs:71-94`);
    *  - a direct request is a USER: upserted by fingerprint
    *    (`db.upsert_user_by_fingerprint`) and the fingerprint becomes the
    *    ACL key for the query — any `user` field in the body is ignored
    *    (identity comes from the certificate, never from a claim).
    *
    * Error strings keep the reference's shapes so clients see the same
    * failure taxonomy. No-op when `certAuth` is None (the shared-secret /
    * open test configurations).
    *
    * The verified identity is RETURNED and threaded through routing —
    * never stored on the exchange: `HttpExchange.setAttribute` writes to
    * the CONTEXT-shared attribute map in the JDK server, so a per-request
    * identity stored there would leak into every later request on the
    * same context. */
  private def authenticate(ex: HttpExchange): Either[String, Auth] =
    certAuth match {
      case None => Right(Auth(None))
      case Some(reg) =>
        val pemHeader = Option(ex.getRequestHeaders.getFirst("X-Graft-Client-Cert"))
          .filter(_.nonEmpty)
        pemHeader match {
          case None => Left("Expected client cert, found none")
          case Some(enc) =>
            val principal =
              try Right(graft.catalog.Principal.fromPem(
                java.net.URLDecoder.decode(enc, UTF_8)))
              catch {
                case _: Throwable =>
                  Left("Found client cert, but unable to parse")
              }
            principal.flatMap { p =>
              Option(ex.getRequestHeaders.getFirst("X-Graft-Relay"))
                .filter(_.nonEmpty) match {
                case Some(claimedSite) =>
                  reg.relayFor(p.x509Sha256) match {
                    case Some(site) if site == claimedSite =>
                      // a relay hop carries the ORIGIN user's identity in
                      // the body (the user∩relay policy term) — the relay's
                      // own fingerprint is not a user
                      Right(Auth(None))
                    case _ => Left(
                      "Rejecting query request from unrecognized relay " +
                        s"with fingerprint ${p.x509Sha256} and dn: ${p.x509Subject}")
                  }
                case None =>
                  val user = reg.upsert(p)
                  Right(Auth(Some(user.userKey)))
              }
            }
        }
    }

  /** The effective user for ACL evaluation: the authenticated certificate
    * fingerprint when cert auth is on (a relay hop has none — the origin
    * user's identity crosses in the body), else the body's claimed user. */
  private def effectiveUser(auth: Auth, bodyUser: Option[String]): Option[String] =
    if (certAuth.isEmpty) bodyUser else auth.user.orElse(bodyUser)

  private def route(ex: HttpExchange, auth: Auth): Unit = {
    val path = ex.getRequestURI.getPath.stripSuffix("/")
    val method = ex.getRequestMethod
    (method, path.split("/").toList.drop(1)) match {
      case ("GET", "catalog" :: Nil)            => catalogJson(ex)
      case ("GET", "flightinfo" :: Nil)         => flightInfoJson(ex, auth)
      case ("POST", "query" :: Nil)             => submit(ex, auth)
      case ("POST", "query" :: "sync" :: Nil)   => syncQuery(ex, auth)
      case ("GET", "query" :: id :: Nil)        => statusJson(ex, id)
      case ("GET", "query" :: id :: "result" :: Nil) => result(ex, id)
      case ("GET", "query" :: id :: "ndjson" :: Nil) => ndjson(ex, id)
      case ("PUT", "ingest" :: id :: branch :: Nil)  => ingest(ex, id, branch)
      case ("POST", "admin" :: "apply" :: Nil)       => adminApply(ex, auth)
      case _ => respond(ex, 404, "application/json", errJson(s"no route: $method $path"))
    }
  }

  // ---- handlers ---------------------------------------------------------

  /** Entity names + Information schemas, the peer-registration payload
    * (`webengine/src/register.rs:36-90` lists entities with their Arrow
    * schemas; [[RelayClient.catalogSite]] turns this back into a stub
    * [[graft.catalog.Site]]). */
  private def catalogJson(ex: HttpExchange): Unit = {
    val root = mapper.createObjectNode()
    root.put("site", session.siteName)
    val ents = root.putObject("entities")
    session.mesh.site(session.siteName).entities.foreach { case (name, e) =>
      val infos = ents.putObject(name).putArray("informations")
      e.informations.foreach { i =>
        val o = infos.addObject()
        o.put("name", i.name)
        o.put("dtype", ArrowLikeType.fromSpark(i.dtype))
      }
    }
    respond(ex, 200, "application/json", mapper.writeValueAsBytes(root))
  }

  /** get_flight_info: enumerate the leaf (relay, source) branches of an
    * entity across this relay's subweb — recursing over the wire again if
    * this relay's own peers are endpoint-backed. */
  private def flightInfoJson(ex: HttpExchange, auth: Auth): Unit = {
    val q = queryParams(ex)
    q.get("entity") match {
      case None =>
        respond(ex, 400, "application/json", errJson("missing ?entity="))
      case Some(entity) =>
        val user = effectiveUser(auth, q.get("user").filter(_.nonEmpty))
        val (viaRelay, visited) = relayHeaders(ex)
        val branches = EntityResolver.provenanceBranches(
          session.spark, session.mesh, session.siteName, entity, user,
          viaRelay, visited)
        val arr = mapper.createArrayNode()
        branches.foreach { case (relay, id) =>
          val o = arr.addObject()
          relay match {
            case Some(r) => o.put("relay", r)
            case None    => o.putNull("relay")
          }
          id match {
            case Some(s) => o.put("source", s)
            case None    => o.putNull("source")
          }
        }
        respond(ex, 200, "application/json", mapper.writeValueAsBytes(arr))
    }
  }

  /** POST /query: enqueue, answer 202 with the request id immediately — the
    * REST async contract (`rest_server/src/query/route.rs:149-268`); a
    * replayed request_id returns the tracked request without re-executing. */
  private def submit(ex: HttpExchange, auth: Auth): Unit = {
    val body = mapper.readTree(ex.getRequestBody)
    val sql = reqField(body, "sql")
    val (viaRelay, visited) = relayHeaders(ex)
    val callback = for {
      url <- optField(body, "callback_url")
      origin <- optField(body, "origin_id")
    } yield (url, origin)
    val id = service.submit(
      sql,
      effectiveUser(auth, optField(body, "user")),
      optField(body, "request_id"),
      returnSchema = None,
      viaRelay = viaRelay,
      visited = visited,
      callback = callback)
    val o = mapper.createObjectNode()
    o.put("id", id)
    respond(ex, 202, "application/json", mapper.writeValueAsBytes(o))
  }

  private def statusJson(ex: HttpExchange, id: String): Unit = {
    // one tracked-check+state fetch (a poll loop against a shared
    // database store would otherwise pay separate lookups)
    val st = service.statusIfTracked(id).getOrElse(
      return respond(ex, 404, "application/json", errJson(s"unknown request $id")))
    val o = mapper.createObjectNode()
    o.put("id", id)
    o.put("status", st.status.toString)
    st.error match {
      case Some(e) => o.put("error", e)
      case None    => o.putNull("error")
    }
    val tasks = o.putArray("tasks")
    service.branchStatus(id).toSeq.sortBy(_._1).foreach {
      case ((relay, src), ts) =>
        val t = tasks.addObject()
        t.put("relay", relay)
        t.put("source", src)
        t.put("status", ts.status.toString)
        ts.error match {
          case Some(e) => t.put("error", e)
          case None    => t.putNull("error")
        }
    }
    respond(ex, 200, "application/json", mapper.writeValueAsBytes(o))
  }

  private def result(ex: HttpExchange, id: String): Unit = {
    if (!service.isTracked(id))
      return respond(ex, 404, "application/json", errJson(s"unknown request $id"))
    val allowPartial =
      queryParams(ex).get("allow_partial").exists(_.equalsIgnoreCase("true"))
    respondParquet(ex, service.results(id, allowPartial))
  }

  private def ndjson(ex: HttpExchange, id: String): Unit = {
    if (!service.isTracked(id))
      return respond(ex, 404, "application/json", errJson(s"unknown request $id"))
    // NDJSON renders row-by-row THROUGH THE DRIVER (toLocalIterator —
    // the reference serializes its JSON export server-side too,
    // `rest_server/src/query/utils.rs:57-169`); a guard keeps a caller
    // from siphoning a full-corpus result through this one process —
    // past the cap, fetch the parquet spill (`/query/{id}/result`)
    // instead, which streams files without row materialization.
    val cap = RelayServer.NdjsonMaxRows
    // parquet count() answers from footer metadata — no row scan
    val n = service.results(id, allowPartial = false).count()
    if (n > cap)
      return respond(ex, 413, "application/json", errJson(
        s"result has $n rows, over the NDJSON export cap of $cap; " +
          "fetch /query/" + id + "/result (parquet) instead"))
    val it = service.resultsNdjson(id).toLocalIterator()
    ex.getResponseHeaders.set("Content-Type", "application/x-ndjson")
    ex.sendResponseHeaders(200, 0) // chunked: stream, don't buffer the result
    val out: OutputStream = ex.getResponseBody
    try {
      while (it.hasNext) {
        out.write(it.next().getBytes(UTF_8))
        out.write('\n')
      }
    } finally out.close()
  }

  /** POST /query/sync: the Flight do_get path — validate/resolve/execute
    * with the caller relay's identity and visited set, then answer in
    * the format the caller accepts. Negotiating `Accept:
    * application/vnd.apache.arrow.stream` (or sending `format: "arrow"`)
    * asks for the Arrow IPC stream a Flight do_get body actually is; a
    * caller that also lists parquet (a peer relay's wire hop) is answered
    * by [[negotiate]]; one that does not gets 413 for a result past
    * [[RelayServer.WireArrowMaxBytes]], decided from one execution before
    * any response byte is sent (the stream is buffered: this is the
    * small-result path); a caller that asks for no Arrow gets parquet.
    * Every column type a result carries goes as Arrow. */
  private def syncQuery(ex: HttpExchange, auth: Auth): Unit = {
    val body = mapper.readTree(ex.getRequestBody)
    val sql = reqField(body, "sql")
    val withProv = Option(body.get("with_provenance")).exists(_.asBoolean(false))
    val (viaRelay, visited) = relayHeaders(ex)
    val df = session.sqlForPeer(
      sql, effectiveUser(auth, optField(body, "user")), viaRelay, visited, withProv)
    val accept = Option(ex.getRequestHeaders.getFirst("Accept")).getOrElse("")
    val wantsArrow = accept.contains("arrow") ||
      Option(body.get("format")).exists(_.asText("") == "arrow")
    if (!wantsArrow) respondParquet(ex, df)
    else if (accept.contains("parquet")) negotiate(ex, df)
    else ResultRows.arrowWithin(df, RelayServer.WireArrowMaxBytes) match {
      case Some(bytes) => respond(ex, 200, ArrowCodec.ContentType, bytes)
      case None => respond(ex, 413, "application/json", errJson(
        s"result exceeds the Arrow bound of ${RelayServer.WireArrowMaxBytes} " +
          "bytes; negotiate parquet instead"))
    }
  }

  /** Answer a caller that accepts both formats from ONE execution of the
    * query: Arrow when the result fits in [[RelayServer.WireArrowMaxBytes]],
    * else parquet. The tasks hand back the rows of a result that fits and
    * write a bulk one to parquet themselves (see
    * `ResultRows.rowsOrParquet`), so the query never runs twice and at
    * most the bound's worth of rows reaches this process's driver. */
  private def negotiate(ex: HttpExchange, df: DataFrame): Unit = {
    // created by the parquet writers only if the answer is parquet
    val tmp = RelayServer.outDir()
    try ResultRows.rowsOrParquet(df, RelayServer.WireArrowMaxBytes, tmp) match {
      case Left(rows) => respond(ex, 200, ArrowCodec.ContentType, ColumnBridge.toArrowStream(
        df.schema, rows.iterator, df.sparkSession.conf.get("spark.sql.session.timeZone")))
      case Right(file) => sendParquet(ex, file)
    } finally RelayServer.deleteRecursively(tmp)
  }

  /** PUT /ingest/{id}/{branch}: do_put — an executor relay pushes a
    * completed branch's parquet; it lands in the same per-branch spill
    * layout the local tasks use, readable via /query/{id}/result. */
  private def ingest(ex: HttpExchange, id: String, branch: String): Unit = {
    val safeBranch = branch.replaceAll("[^A-Za-z0-9_.-]", "_")
    val dir = Paths.get(service.taskResultDir(id),
      s"${QueryService.BranchPartitionCol}=$safeBranch")
    Files.createDirectories(dir)
    val target = dir.resolve("pushed.parquet")
    val in = ex.getRequestBody
    try Files.copy(in, target,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    finally in.close()
    service.noteIngested(id, safeBranch)
    respond(ex, 204, "application/json", Array.emptyByteArray)
  }

  /** POST /admin/apply: the relayctl ConfigCommand stream as the request
    * body (multi-document YAML — Entity / LocalData / LocalMapping /
    * PeerRelay / RemoteMapping / User, applied in the reference's
    * precedence order, `rest_server/src/admin/utils.rs:28-270`). Upserts
    * merge into the live registry; the NEXT query sees the new catalog.
    * Requires a registry-backed relay — a static-mesh relay answers 409. */
  private def adminApply(ex: HttpExchange, auth: Auth): Unit = registry match {
    case None =>
      respond(ex, 409, "application/json",
        errJson("this relay serves a static catalog (no registry); " +
          "admin apply requires a registry-backed session"))
    case Some(reg) =>
      // config mutation is the reference's is_admin-gated surface
      // (`rest_server/src/admin`): under cert auth only a principal whose
      // stored attributes carry is_admin may apply — auto-upserted users
      // default to NOT admin, so trust is granted out-of-band
      // (PrincipalRegistry.register / setAttributes), never self-claimed
      certAuth.foreach { preg =>
        val isAdmin = auth.user.flatMap(preg.get)
          .exists(_.attributes.isAdmin)
        if (!isAdmin)
          return respond(ex, 403, "application/json",
            errJson("admin apply requires an is_admin principal; " +
              auth.user.map(u => s"principal $u is not an admin")
                .getOrElse("relay-forwarded requests cannot apply config")))
      }
      val yaml = new String(ex.getRequestBody.readAllBytes(), UTF_8)
      val docs = graft.catalog.ConfigLoader.parseDocsString(yaml)
      if (docs.isEmpty)
        return respond(ex, 400, "application/json",
          errJson("no ConfigCommand documents in request body"))
      val site = graft.catalog.ConfigLoader.buildSite(session.siteName, docs)
      reg.applySite(site)
      val o = mapper.createObjectNode()
      o.put("applied", docs.size)
      o.put("site", session.siteName)
      respond(ex, 200, "application/json", mapper.writeValueAsBytes(o))
  }

  // ---- plumbing ---------------------------------------------------------

  /** Serialize a DataFrame to a single parquet stream from one execution
    * of it (`ResultRows.asParquet`: rows within
    * [[RelayServer.WireArrowMaxBytes]] come back and the driver writes
    * them; a bulk result keeps the tasks' files, merged). An empty result
    * sends no body; its schema crosses in the `X-Graft-Empty` header
    * instead (Spark's StructType JSON). */
  private def respondParquet(ex: HttpExchange, df: DataFrame): Unit = {
    val tmp = RelayServer.outDir()
    try ResultRows.asParquet(df, RelayServer.WireArrowMaxBytes, tmp) match {
      case (_, true) =>
        ex.getResponseHeaders.set("X-Graft-Empty",
          java.util.Base64.getEncoder.encodeToString(df.schema.json.getBytes(UTF_8)))
        respond(ex, 200, "application/vnd.apache.parquet", Array.emptyByteArray)
      case (file, false) => sendParquet(ex, file)
    } finally RelayServer.deleteRecursively(tmp)
  }

  private def sendParquet(ex: HttpExchange, file: Path): Unit = {
    ex.getResponseHeaders.set("Content-Type", "application/vnd.apache.parquet")
    ex.sendResponseHeaders(200, Files.size(file))
    val out = ex.getResponseBody
    try Files.copy(file, out) finally out.close()
  }

  private def relayHeaders(ex: HttpExchange): (Option[String], Set[String]) = {
    val relay = Option(ex.getRequestHeaders.getFirst("X-Graft-Relay"))
      .filter(_.nonEmpty)
    val visited = Option(ex.getRequestHeaders.getFirst("X-Graft-Visited"))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)
    (relay, visited)
  }

  private def queryParams(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).map {
      _.split("&").toSeq.flatMap { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => Some(
            java.net.URLDecoder.decode(k, UTF_8) ->
              java.net.URLDecoder.decode(v, UTF_8))
          case _ => None
        }
      }.toMap
    }.getOrElse(Map.empty)

  private def reqField(body: JsonNode, name: String): String =
    optField(body, name).getOrElse(
      throw SqlValidator.InvalidQuery(s"missing required field '$name'"))

  private def optField(body: JsonNode, name: String): Option[String] =
    Option(body.get(name)).filterNot(_.isNull).map(_.asText())

  private def errJson(msg: String): Array[Byte] = {
    val o = mapper.createObjectNode()
    o.put("error", msg)
    mapper.writeValueAsBytes(o)
  }

  private def respond(ex: HttpExchange, code: Int, ctype: String,
      body: Array[Byte]): Unit = {
    ex.getResponseHeaders.set("Content-Type", ctype)
    if (body.isEmpty) ex.sendResponseHeaders(code, -1)
    else {
      ex.sendResponseHeaders(code, body.length.toLong)
      val out = ex.getResponseBody
      try out.write(body) finally out.close()
    }
  }
}

object RelayServer {
  /** Sets TCP_NODELAY on every connection this JVM's `HttpServer`s accept,
    * unless the JVM sets `sun.net.httpserver.nodelay` itself. The JDK
    * server writes a response's headers and body as two segments, so
    * without it Nagle holds a small body until the client's delayed ACK:
    * every sync answer arrived ~45 ms after the handler returned (2-5 ms
    * with it), on a 4-core host. The JDK reads the property once, in
    * `sun.net.httpserver.ServerConfig`'s static initializer (JDK 17), so
    * it takes effect only if no `HttpServer` was created in this JVM
    * before the first `RelayServer`. */
  private def noDelay(): Unit =
    sys.props.getOrElseUpdate("sun.net.httpserver.nodelay", "true"): Unit

  /** The verified per-request identity certificate auth produced: the
    * authenticated USER fingerprint for a direct request, None for a
    * trusted relay hop (whose origin user crosses in the body) and for
    * servers without cert auth. */
  private final case class Auth(user: Option[String])

  /** The largest result, in UnsafeRow bytes, sent as Arrow: past it a
    * caller accepting both formats gets parquet, written by the tasks,
    * and an Arrow-only caller 413. A fetched Arrow body is held in the
    * caller's heap, a parquet one is a file scanned lazily, so the bound
    * sits below the measured crossover. Measured on a 4-core host with
    * Spark's Arrow writer: sync fetches plus an aggregate over the
    * fetched frame, the two encodings alternating in one process, 9 pairs
    * a size, medians Arrow vs parquet. A 15-column lineitem entity (144
    * UnsafeRow bytes a row): 392 vs 485 ms at 8 MB (58k rows), 440 vs
    * 482 at 16 MB, 521 vs 519 at 24 MB, 709 vs 568 at 32 MB. Documents
    * (365 bytes a row, ~300-character texts): 228 vs 284 ms at 8 MB (23k
    * rows), 322 vs 321 at 16 MB, 420 vs 384 at 24 MB. The crossover is
    * ~16 MB for long strings and ~24 MB for lineitem rows (~11.5 MB with
    * the earlier boxed-row encoder). Peak RSS of a caller making only
    * 8 MB fetches (4 GB heap): 1.70 GB Arrow vs 1.62 GB parquet for
    * lineitem, 1.73 vs 1.21 GB for documents. A mesh result of the
    * relay-sync benchmark is 10-20k rows. */
  private[graft] val WireArrowMaxBytes: Long = 8L << 20

  /** The most rows `/query/{id}/ndjson` renders through the driver; past
    * it a caller fetches the parquet result. */
  private val NdjsonMaxRows: Long = 1000000L

  /** A fresh path for one result's parquet output; the writers create it. */
  private[transport] def outDir(): Path = Paths.get(System.getProperty("java.io.tmpdir"),
    s"graft_relay_out_${java.util.UUID.randomUUID()}")

  private[transport] def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      try s.forEach(deleteRecursively(_)) finally s.close()
    }
    Files.deleteIfExists(p): Unit
  }
}
