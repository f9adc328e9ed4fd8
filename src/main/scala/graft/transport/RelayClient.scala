package graft.transport

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.Duration

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.graft.{ColumnBridge, ResultRows}
import org.apache.spark.sql.types.{DataType, StructType}

import graft.catalog.{ArrowLikeType, Entity, Information, Site}

/** Client side of [[RelayServer]]'s wire protocol: peer registration
  * (`/catalog` → stub [[Site]]), get_flight_info branch enumeration,
  * synchronous fetch (do_get; what a [[RelayScan]] sends for an
  * endpoint-backed peer's branch, once per query execution, with the
  * query's columns and exact filters in the SQL), the async REST path
  * (submit / status / result / ndjson), and do_put result push.
  *
  * Endpoints are plain `http://host:port` URLs; URL userinfo
  * (`http://token@host:port`) is stripped from the request URI and sent as
  * the `X-Graft-Token` shared secret instead. A sync fetch negotiates
  * the Arrow IPC stream (the Flight do_get body, written and read with
  * Spark's own Arrow mapping, so every column type crosses) and decodes
  * it in memory into Spark's internal rows; the peer answers parquet
  * instead when the result is past its wire Arrow bound (a few MB of rows,
  * `RelayServer.WireArrowMaxBytes`). A parquet body (that fallback, async
  * results) streams through a temp file that Spark then scans lazily (and
  * distributed — the file is splittable), so no bulk result ever
  * materializes on the client driver.
  */
object RelayClient {

  private val mapper = new ObjectMapper()
  private val ParquetType = "application/vnd.apache.parquet"
  private lazy val http = HttpClient.newBuilder()
    .connectTimeout(Duration.ofSeconds(10))
    .build()

  /** This process's client certificate (PEM), sent urlencoded in
    * `X-Graft-Client-Cert` on every request when set — the client half of
    * the reference's cert-header mTLS mode (the reference's FlightRelay
    * likewise holds ONE process-wide `client_cert`,
    * `flight_server/src/flight.rs:135-141`). A cert-authenticating peer
    * fingerprints it for identity; peers without cert auth ignore it. */
  @volatile var clientCertPem: Option[String] = None

  /** Per-request parts derived from an endpoint URL: the clean base URI and
    * the token header, if the URL carries userinfo. */
  private def endpointParts(endpoint: String): (String, Option[String]) = {
    val u = URI.create(endpoint)
    val token = Option(u.getUserInfo).filter(_.nonEmpty)
    val clean = new URI(u.getScheme, null, u.getHost, u.getPort,
      u.getPath, u.getQuery, u.getFragment).toString.stripSuffix("/")
    (clean, token)
  }

  private def request(endpoint: String, path: String,
      viaRelay: Option[String] = None,
      visited: Set[String] = Set.empty): HttpRequest.Builder = {
    val (base, token) = endpointParts(endpoint)
    var b = HttpRequest.newBuilder(URI.create(base + path))
      .timeout(Duration.ofMinutes(10))
    token.foreach(t => b = b.header("X-Graft-Token", t))
    clientCertPem.foreach(pem =>
      b = b.header("X-Graft-Client-Cert", urlEnc(pem)))
    viaRelay.foreach(r => b = b.header("X-Graft-Relay", r))
    if (visited.nonEmpty)
      b = b.header("X-Graft-Visited", visited.toSeq.sorted.mkString(","))
    b
  }

  private def bodyJson(fields: (String, Option[String])*): HttpRequest.BodyPublisher = {
    val o = mapper.createObjectNode()
    fields.foreach { case (k, v) => v.foreach(o.put(k, _)) }
    HttpRequest.BodyPublishers.ofByteArray(mapper.writeValueAsBytes(o))
  }

  private def checkOk(resp: HttpResponse[_], what: String): Unit =
    if (resp.statusCode() / 100 != 2) {
      val detail = resp.body() match {
        case b: Array[Byte]       => new String(b, UTF_8)
        case Left(b: Array[Byte]) => new String(b, UTF_8) // fetch's error body
        case s: String            => s
        case other                => String.valueOf(other)
      }
      throw new RelayException(
        s"$what failed: HTTP ${resp.statusCode()} ${detail.take(500)}")
    }

  final class RelayException(msg: String) extends RuntimeException(msg)

  // ---- peer registration ------------------------------------------------

  /** Fetch a peer's catalog and build the stub [[Site]] a local mesh embeds
    * to federate with it over the wire — the reference's register step
    * (`webengine/src/register.rs:36-90`: `list_flights` → one provider per
    * entity). The stub carries the peer's entity schemas and its endpoint;
    * it has no local sources — the data stays on the peer. */
  def catalogSite(endpoint: String): Site = {
    val resp = http.send(
      request(endpoint, "/catalog").GET().build(),
      HttpResponse.BodyHandlers.ofByteArray())
    checkOk(resp, s"GET $endpoint/catalog")
    val root = mapper.readTree(resp.body())
    val entities = scala.collection.mutable.LinkedHashMap.empty[String, Entity]
    val it = root.get("entities").fields()
    while (it.hasNext) {
      val e = it.next()
      val infos = scala.collection.mutable.ArrayBuffer.empty[Information]
      e.getValue.get("informations").forEach { i =>
        infos += Information(
          i.get("name").asText(), ArrowLikeType.toSpark(i.get("dtype").asText()))
      }
      entities(e.getKey) = Entity(e.getKey, infos.toSeq)
    }
    Site(root.get("site").asText(), entities.toMap, endpoint = Some(endpoint))
  }

  // ---- synchronous path (Flight do_get analogue) ------------------------

  /** What a sync fetch accepts: the Arrow stream, else parquet. */
  private[graft] val SyncAccept =
    s"${ArrowCodec.ContentType}, $ParquetType;q=0.5"

  /** Run `sql` on the peer as forwarding relay `viaRelay` and read the
    * response into a DataFrame: an Arrow body decodes in memory into
    * Spark's internal rows, a parquet body lands in a temp file scanned
    * lazily. The download happens in this call; a [[RelayScan]] makes it
    * when its scan is planned, like get_flight_info + do_get at scan
    * planning. */
  def syncFetch(spark: SparkSession, endpoint: String, sql: String,
      user: Option[String], viaRelay: String, visited: Set[String],
      withProvenance: Boolean): DataFrame = {
    val req = request(endpoint, "/query/sync", Some(viaRelay), visited)
      .header("Content-Type", "application/json")
      .header("Accept", SyncAccept)
      .POST(bodyJson(
        "sql" -> Some(sql),
        "user" -> user,
        "with_provenance" -> Some(withProvenance.toString)))
      .build()
    fetch(spark, req, s"POST $endpoint/query/sync")
  }

  // ---- async REST path --------------------------------------------------

  /** POST an async query. With `callback`, the receiving relay pushes every
    * completed branch result to `(ingest endpoint, origin request id)` via
    * do_put instead of only spilling locally — the reference's remote-task
    * re-POST (`query_runner/src/lib.rs:184-221`); `viaRelay`/`visited`
    * carry the forwarding identity and the cycle guard like the sync path. */
  def submit(endpoint: String, sql: String, user: Option[String] = None,
      requestId: Option[String] = None,
      viaRelay: Option[String] = None,
      visited: Set[String] = Set.empty,
      callback: Option[(String, String)] = None): String = {
    val req = request(endpoint, "/query", viaRelay, visited)
      .header("Content-Type", "application/json")
      .POST(bodyJson(
        "sql" -> Some(sql), "user" -> user, "request_id" -> requestId,
        "callback_url" -> callback.map(_._1),
        "origin_id" -> callback.map(_._2)))
      .build()
    val resp = http.send(req, HttpResponse.BodyHandlers.ofByteArray())
    checkOk(resp, s"POST $endpoint/query")
    mapper.readTree(resp.body()).get("id").asText()
  }

  final case class PeerTask(relay: String, source: String, status: String,
      error: Option[String])
  final case class PeerStatus(id: String, status: String, error: Option[String],
      tasks: Seq[PeerTask])

  def status(endpoint: String, id: String): PeerStatus = {
    val resp = http.send(
      request(endpoint, s"/query/$id").GET().build(),
      HttpResponse.BodyHandlers.ofByteArray())
    checkOk(resp, s"GET $endpoint/query/$id")
    val root = mapper.readTree(resp.body())
    val tasks = scala.collection.mutable.ArrayBuffer.empty[PeerTask]
    root.get("tasks").forEach { t =>
      tasks += PeerTask(
        t.get("relay").asText(), t.get("source").asText(),
        t.get("status").asText(),
        Option(t.get("error")).filterNot(_.isNull).map(_.asText()))
    }
    PeerStatus(
      root.get("id").asText(), root.get("status").asText(),
      Option(root.get("error")).filterNot(_.isNull).map(_.asText()),
      tasks.toSeq)
  }

  /** Poll until the request leaves Queued/InProgress. */
  def await(endpoint: String, id: String, timeoutMs: Long = 120000): PeerStatus = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var st = status(endpoint, id)
    while ((st.status == "Queued" || st.status == "InProgress")
        && System.currentTimeMillis() < deadline) {
      Thread.sleep(50)
      st = status(endpoint, id)
    }
    st
  }

  def result(spark: SparkSession, endpoint: String, id: String,
      allowPartial: Boolean = false): DataFrame = {
    val qs = if (allowPartial) "?allow_partial=true" else ""
    fetch(spark,
      request(endpoint, s"/query/$id/result$qs").GET().build(),
      s"GET $endpoint/query/$id/result")
  }

  def ndjson(endpoint: String, id: String): Seq[String] = {
    val resp = http.send(
      request(endpoint, s"/query/$id/ndjson").GET().build(),
      HttpResponse.BodyHandlers.ofString())
    checkOk(resp, s"GET $endpoint/query/$id/ndjson")
    resp.body().split("\n").toSeq.filter(_.nonEmpty)
  }

  /** POST a relayctl-format ConfigCommand YAML stream to the peer's admin
    * endpoint; returns the number of applied documents. */
  def adminApply(endpoint: String, yaml: String): Int = {
    val req = request(endpoint, "/admin/apply")
      .header("Content-Type", "application/yaml")
      .POST(HttpRequest.BodyPublishers.ofString(yaml))
      .build()
    val resp = http.send(req, HttpResponse.BodyHandlers.ofByteArray())
    checkOk(resp, s"POST $endpoint/admin/apply")
    mapper.readTree(resp.body()).get("applied").asInt()
  }

  // ---- get_flight_info --------------------------------------------------

  /** Enumerate the leaf (relay, source) provenance branches entity `entity`
    * resolves to on the peer — across the peer's own subweb. */
  def flightInfo(endpoint: String, entity: String, user: Option[String],
      viaRelay: String, visited: Set[String]): Seq[(Option[String], Option[String])] = {
    val q = s"/flightinfo?entity=${urlEnc(entity)}" +
      user.map(u => s"&user=${urlEnc(u)}").getOrElse("")
    val resp = http.send(
      request(endpoint, q, Some(viaRelay), visited).GET().build(),
      HttpResponse.BodyHandlers.ofByteArray())
    checkOk(resp, s"GET $endpoint/flightinfo")
    val out = scala.collection.mutable.ArrayBuffer.empty[(Option[String], Option[String])]
    mapper.readTree(resp.body()).forEach { b =>
      out += ((Option(b.get("relay")).filterNot(_.isNull).map(_.asText()),
        Option(b.get("source")).filterNot(_.isNull).map(_.asText())))
    }
    out.toSeq
  }

  // ---- do_put -----------------------------------------------------------

  /** Push a branch result to the origin relay's ingest endpoint (S9
    * do_put): the frame is written as one parquet file from one execution
    * of it (`ResultRows.asParquet`, an empty result as a file of its
    * schema) and streamed. */
  def pushResult(endpoint: String, id: String, branch: String,
      df: DataFrame): Unit = {
    val tmp = RelayServer.outDir()
    try {
      val (file, _) = ResultRows.asParquet(df, RelayServer.WireArrowMaxBytes, tmp)
      val req = request(endpoint, s"/ingest/${urlEnc(id)}/${urlEnc(branch)}")
        .header("Content-Type", ParquetType)
        .PUT(HttpRequest.BodyPublishers.ofFile(file))
        .build()
      val resp = http.send(req, HttpResponse.BodyHandlers.ofByteArray())
      checkOk(resp, s"PUT $endpoint/ingest/$id/$branch")
    } finally RelayServer.deleteRecursively(tmp)
  }

  // ---- plumbing ---------------------------------------------------------

  /** Where a response body goes: an Arrow stream (and an error body) stays
    * in memory; any other 200 body is parquet and lands in a temp file. */
  private val bodyTarget: HttpResponse.BodyHandler[Either[Array[Byte], Path]] =
    info => {
      val arrow = info.headers().firstValue("Content-Type").orElse("") ==
        ArrowCodec.ContentType
      if (arrow || info.statusCode() / 100 != 2)
        HttpResponse.BodySubscribers.mapping(
          HttpResponse.BodySubscribers.ofByteArray(),
          (b: Array[Byte]) => Left(b): Either[Array[Byte], Path])
      else {
        val tmp = Files.createTempFile("graft_wire_", ".parquet")
        tmp.toFile.deleteOnExit()
        HttpResponse.BodySubscribers.mapping(
          HttpResponse.BodySubscribers.ofFile(tmp),
          (p: Path) => Right(p): Either[Array[Byte], Path])
      }
    }

  /** Execute a request whose 200 response is an Arrow stream or parquet
    * bytes. An Arrow body becomes in-memory rows with no Spark job; a
    * parquet body is scanned lazily from its temp file, and an
    * `X-Graft-Empty` header short-circuits to an empty frame with the
    * carried schema. */
  private def fetch(spark: SparkSession, req: HttpRequest,
      what: String): DataFrame = {
    val resp = http.send(req, bodyTarget)
    checkOk(resp, what)
    resp.body() match {
      case Left(body) =>
        val (df, rows) = ColumnBridge.fromArrowStream(spark, body)
        wireLog(s"$what -> arrow rows=$rows bytes=${body.length} " +
          s"schema=${df.schema.simpleString.take(300)}")
        df
      case Right(tmp) =>
        Option(resp.headers().firstValue("X-Graft-Empty").orElse(null)) match {
          case Some(b64) =>
            Files.deleteIfExists(tmp): Unit
            val schema = DataType.fromJson(
              new String(java.util.Base64.getDecoder.decode(b64), UTF_8))
              .asInstanceOf[StructType]
            spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
          case None =>
            val df = spark.read.parquet(tmp.toString)
            if (!wireQuiet) logParquet(what, tmp, df)
            df
        }
    }
  }

  /** Diagnostic stderr lines for every wire fetch. Only mesh RESULTS cross
    * the wire (small by design), and federation divergence has historically
    * been observable only in the driver's sandbox — this makes the fetched
    * payloads auditable from the run log. Disable with GRAFT_WIRE_QUIET=1
    * (or the `graft.wire.quiet` property). */
  private def wireQuiet: Boolean =
    sys.env.get("GRAFT_WIRE_QUIET").exists(_ == "1") ||
      sys.props.get("graft.wire.quiet").exists(_ == "1")

  private def wireLog(line: => String): Unit =
    if (!wireQuiet) System.err.println(s"[wire] $line")

  /** A parquet fetch's line carries the row count and per-column min/max
    * of the payload, one aggregation job (an Arrow fetch logs the decoded
    * stream's row and byte counts instead, with no job). */
  private def logParquet(what: String, tmp: Path, df: DataFrame): Unit =
    try {
      import org.apache.spark.sql.functions.{count, lit, max, min}
      val cols = df.columns
      val aggs = count(lit(1)).as("__n") +:
        cols.flatMap(c => Seq(min(df(c)).as(s"min_$c"), max(df(c)).as(s"max_$c")))
      val r = df.agg(aggs.head, aggs.tail: _*).collect()(0)
      def short(v: Any): String =
        if (v == null) "NULL" else { val s = v.toString; if (s.length > 40) s.take(40) + "…" else s }
      val stats = cols.zipWithIndex.map { case (c, i) =>
        s"$c=[${short(r.get(1 + 2 * i))}..${short(r.get(2 + 2 * i))}]"
      }.mkString(" ")
      wireLog(s"$what -> $tmp rows=${r.getLong(0)} " +
        s"schema=${df.schema.simpleString.take(300)} $stats")
    } catch {
      case e: Throwable =>
        wireLog(s"$what -> $tmp (stats failed: ${e.getMessage})")
    }

  private def urlEnc(s: String): String =
    java.net.URLEncoder.encode(s, UTF_8)
}
