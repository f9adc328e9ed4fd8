package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.time.Duration

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Row, SparkSession}

import graft.mesh.EntityResolver
import graft.transport.{ArrowCodec, RelayClient}
import graft.validation.SqlValidator

/** One finished operation. `body` is the response payload the
  * correctness gate checks (empty for a failed op). */
final case class Sample(op: Op, startNs: Long, endNs: Long, ok: Boolean,
    error: String, body: Array[Byte]) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Client side of relay-sync: the wire calls, the closed loop that drives
  * them, and the traced step-by-step replay. */
final class Relay(web: Web, tracer: Tracer) {
  private val spark: SparkSession = web.session.spark

  private val mapper = new ObjectMapper()
  private val http = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1)
    .connectTimeout(Duration.ofSeconds(10)).build()

  /** One HTTP call to global: the response body, or an exception unless
    * the reply has status `expect`. */
  private def call(method: String, path: String, body: Array[Byte], expect: Int,
      headers: (String, String)*): Array[Byte] = {
    val b = HttpRequest.newBuilder(URI.create(web.url + path)).timeout(Duration.ofMinutes(2))
    headers.foreach { case (k, v) => b.header(k, v) }
    val req =
      if (body == null) b.GET()
      else b.method(method, HttpRequest.BodyPublishers.ofByteArray(body))
    val r = http.send(req.build(), HttpResponse.BodyHandlers.ofByteArray())
    if (r.statusCode() == expect) r.body()
    else throw new RuntimeException(
      s"$method $path: HTTP ${r.statusCode()} ${new String(r.body(), UTF_8).take(300)}")
  }

  private def request(op: Op): Array[Byte] = {
    val o = mapper.createObjectNode()
    o.put("sql", op.sql)
    op.user.foreach(o.put("user", _))
    if (op.arrow) o.put("format", "arrow")
    mapper.writeValueAsBytes(o)
  }

  /** `POST /query/sync`, the Flight do_get path: the response body,
    * Arrow IPC when the op negotiates it, else parquet. */
  def sync(op: Op): Array[Byte] =
    call("POST", "/query/sync", request(op), 200, "Content-Type" -> "application/json",
      "Accept" -> (if (op.arrow) ArrowCodec.ContentType else "application/vnd.apache.parquet"))

  /** One op over the async REST path, each call a span: `POST /query`,
    * `GET /query/{id}` every `pollMs` until the request is terminal, then
    * `GET /query/{id}/result` (parquet). The polls split the wait into
    * queue time (until a poll first sees the request past Queued) and run
    * time; both are as fine as the poll interval. Endpoint peers take
    * their branches as tasks of their own and push them back over
    * `PUT /ingest`. */
  def async(op: Op, k: Int, pollMs: Long): AsyncSample = {
    val id = tracer.span(k, "service.submit") {
      mapper.readTree(call("POST", "/query", request(op.copy(arrow = false)), 202,
        "Content-Type" -> "application/json")).get("id").asText()
    }
    val t0 = System.nanoTime()
    var started = 0L
    var status = "Queued"
    tracer.span(k, "service.wait") {
      while (status == "Queued" || status == "InProgress") {
        if (System.nanoTime() - t0 > 120e9) throw new RuntimeException(s"async $id: still $status")
        status = mapper.readTree(call("GET", s"/query/$id", null, 200)).get("status").asText()
        if (started == 0L && status != "Queued") started = System.nanoTime()
        if (status == "Queued" || status == "InProgress") Thread.sleep(pollMs)
      }
    }
    val end = System.nanoTime()
    if (status != "Complete") throw new RuntimeException(s"async $id: $status")
    val body = tracer.span(k, "service.result_fetch") { call("GET", s"/query/$id/result", null, 200) }
    AsyncSample(op, id, (started - t0) / 1e6, (end - started) / 1e6, body)
  }

  /** `POST /admin/apply` with `yaml`, as a span: the relay swaps in the
    * updated catalog. */
  def adminApply(k: Int, yaml: String): Unit =
    tracer.span(k, "catalog.admin_apply") {
      call("POST", "/admin/apply", yaml.getBytes(UTF_8), 200, "Content-Type" -> "application/yaml")
    }

  def timed(op: Op)(f: => Array[Byte]): Sample = {
    val t0 = System.nanoTime()
    try {
      val b = f
      Sample(op, t0, System.nanoTime(), ok = true, "", b)
    } catch {
      case e: Throwable =>
        Sample(op, t0, System.nanoTime(), ok = false, String.valueOf(e.getMessage).take(300),
          Array.emptyByteArray)
    }
  }

  /** The closed loop: the client sends its next op only once the
    * previous reply is in hand. First `warmupOps` untimed ops; then the
    * window, `windowOps` ops and more until `seconds` have passed. Phases
    * count ops, not seconds, so every run measures the same stretch of the
    * relay's warm-up curve. */
  def closedLoop(ops: Iterator[Op], warmupOps: Int, windowOps: Int, seconds: Double): Window = {
    def one(): Sample = { val op = ops.next(); timed(op)(sync(op)) }
    (0 until warmupOps).foreach(_ => one())
    val start = System.nanoTime()
    val done = scala.collection.mutable.ArrayBuffer.empty[Sample]
    while (done.size < windowOps || (System.nanoTime() - start) / 1e9 < seconds) done += one()
    val end = System.nanoTime()
    Window(start, end, done.toSeq, done.count(_.ok) / ((end - start) / 1e9))
  }

  /** The traced replay of one op: the layers' public
    * functions called one by one, each call a span. Returns the summed
    * layer time in ns. The peer fetch is replayed last and left out of
    * the sum: resolving already made that wire call once. */
  def replay(op: Op, k: Int): Long = {
    val spans0 = tracer.all.size
    val entity = tracer.span(k, "validation.validate") { SqlValidator.validate(op.sql, spark) }
    val mesh = web.session.mesh
    val resolved = tracer.span(k, "mesh.resolve") {
      EntityResolver.resolve(spark, mesh, "global", entity, op.user)
    }
    branchCounts += EntityResolver.provenanceBranches(spark, mesh, "global", entity, op.user).size
    val df = tracer.span(k, "catalyst.analyze") {
      resolved.createOrReplaceTempView(entity)
      spark.sql(SqlValidator.preprocess(op.sql))
    }
    tracer.span(k, "catalyst.optimize") { df.queryExecution.optimizedPlan }
    tracer.span(k, "catalyst.physical") { df.queryExecution.executedPlan }
    val rows = tracer.span(k, "exec.action") { df.collect() }
    val bytes = tracer.span(k, "transport.encode") {
      if (op.arrow) {
        val buf = new java.io.ByteArrayOutputStream()
        ArrowCodec.write(df.schema, rows.iterator, buf)
        buf.size().toLong
      } else parquetSize(rows, df.schema)
    }
    responseBytes += bytes
    val layers = tracer.all.drop(spans0).filter(_.parent == 0).map(_.durNs).sum
    val rm = mesh.site("global").remoteMappings(entity).find(_.peer == "apac").get
    tracer.span(k, "transport.peer_fetch") {
      RelayClient.syncFetch(spark, web.peer.url, rm.renderSql(rm.remoteEntity), op.user,
        viaRelay = "global", visited = Set("global"), withProvenance = false)
    }
    layers
  }

  private def parquetSize(rows: Array[Row], schema: org.apache.spark.sql.types.StructType): Long = {
    val dir = Files.createTempDirectory("perfbench_encode_")
    try {
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(dir.toString)
      Files.list(dir).iterator().asScala.filter(_.toString.endsWith(".parquet"))
        .map(Files.size(_)).sum
    } finally Main.deleteTree(dir)
  }

  val branchCounts = scala.collection.mutable.ArrayBuffer.empty[Int]
  val responseBytes = scala.collection.mutable.ArrayBuffer.empty[Long]

  /** One traced op, three times: over the wire with the Spark listener
    * off the bus and no span (the untraced reference), over the wire
    * with both on, in turn first, and then replayed layer by layer.
    * Returns the untraced and the traced sample and the summed replay
    * layers in ms. */
  def tracedOp(op: Op, k: Int, counters: SparkCounters): (Sample, Sample, Double) = {
    def plain() = counters.detached(spark.sparkContext)(timed(op)(sync(op)))
    def traced() = timed(op)(tracer.span(k, "http.request") { sync(op) })
    val (a, c) =
      if (k % 2 == 0) { val a = plain(); (a, traced()) }
      else { val c = traced(); (plain(), c) }
    if (!a.ok) throw new RuntimeException(a.error)
    if (!c.ok) throw new RuntimeException(c.error)
    (a, c, replay(op, k) / 1e6)
  }
}

/** One finished async op: the request id, the queue and run time the
  * polls saw, and the result body (parquet). */
final case class AsyncSample(op: Op, id: String, queueMs: Double, runMs: Double,
    body: Array[Byte])

final case class Window(startNs: Long, endNs: Long, samples: Seq[Sample], throughput: Double) {
  def seconds: Double = (endNs - startNs) / 1e9
}
