package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog._
import graft.mesh.EntityResolver
import graft.transport.RelayClient

/** TRUE multi-process federation: a peer relay runs as a SEPARATE JVM
  * (`graft.tools.RelayMain`, the reference's single_binary_deployment
  * analogue) booted from a relayctl-format config tree, and this JVM's
  * resolver federates with it over loopback TCP — separate SparkSessions,
  * separate heaps, nothing shared but the wire. This is the deployment
  * shape TransportSpec approximates in-process; here the process boundary
  * is real, including the durable-state restart (kill -> relaunch on the
  * same results dir -> request bookkeeping survives). */
class ProcessRelaySpec extends AnyFunSuite {

  lazy val spark = TestSessions.spark
  private def sfDir = TestSessions.sfDir

  private val docInfos = Seq(
    "doc_id" -> "Int64", "text" -> "Utf8", "lang" -> "Utf8",
    "source" -> "Utf8", "n_chars" -> "Int64")

  /** relayctl config tree: documents entity over the odd-doc_id slice of
    * the test parquet, served through a FileDirectory connection. */
  private def writeConfig(dir: Path): Unit = {
    val infoYaml = docInfos
      .map { case (n, t) => s"    - {name: $n, arrow_dtype: $t}" }
      .mkString("\n")
    val fieldsYaml = docInfos
      .map { case (n, _) => s"        - {name: $n, path: $n}" }
      .mkString("\n")
    val fmYaml = docInfos
      .map { case (n, _) => s"            - {info: $n, field: $n}" }
      .mkString("\n")
    Files.writeString(dir.resolve("beta.yaml"),
      s"""api_version: v1alpha1
         |kind: Entity
         |spec:
         |  name: documents
         |  information:
         |$infoYaml
         |---
         |api_version: v1alpha1
         |kind: LocalData
         |spec:
         |  name: beta_conn
         |  connection_options:
         |    FileDirectory: {}
         |  data_sources:
         |    - name: docs_odd
         |      source_sql: SELECT * FROM docs_odd WHERE doc_id % 2 = 1
         |      source_options:
         |        FileDirectory: {file_type: parquet, prefix: $sfDir/documents.parquet}
         |      fields:
         |$fieldsYaml
         |---
         |api_version: v1alpha1
         |kind: LocalMapping
         |spec:
         |  entity_name: documents
         |  mappings:
         |    - data_con_name: beta_conn
         |      source_mappings:
         |        - data_source_name: docs_odd
         |          field_mappings:
         |$fmYaml
         |""".stripMargin)
  }

  private val addOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  private def freePort(): Int = {
    val s = new java.net.ServerSocket(0)
    try s.getLocalPort finally s.close()
  }

  private def launchRelay(cfg: Path, results: Path, port: Int,
      cwd: Path, log: Path, extraArgs: Seq[String] = Nil): Process = {
    // this forked test JVM's classpath already carries the compiled
    // classes + the Spark jars — hand the child the same one
    val cp = System.getProperty("java.class.path")
    val cmd: Seq[String] =
      Seq("java") ++ addOpens ++ Seq(
        "-Xmx4g", "-cp", cp, "graft.tools.RelayMain",
        "--site", "beta", "--config", cfg.toString,
        "--port", port.toString, "--results", results.toString,
        "--master", "local[4]") ++ extraArgs
    val pb = new ProcessBuilder(cmd: _*)
    pb.directory(cwd.toFile)
    pb.redirectErrorStream(true)
    pb.redirectOutput(log.toFile)
    pb.start()
  }

  private def awaitCatalog(url: String, timeoutMs: Long = 120000): Site = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    var last: Throwable = null
    while (System.nanoTime() < deadline) {
      try return RelayClient.catalogSite(url)
      catch { case e: Throwable => last = e; Thread.sleep(500) }
    }
    throw new AssertionError(s"relay at $url never came up", last)
  }

  test("a RelayMain child process federates, restarts durable, and serves async") {
    val root = Files.createTempDirectory("graft_procrelay")
    val cfg = Files.createDirectory(root.resolve("config"))
    val results = Files.createDirectory(root.resolve("results"))
    val cwd = Files.createDirectory(root.resolve("cwd"))
    writeConfig(cfg)
    val port = freePort()
    val url = s"http://127.0.0.1:$port"
    var proc = launchRelay(cfg, results, port, cwd, root.resolve("relay1.log"))
    try {
      val stub = awaitCatalog(url)
      assert(stub.name == "beta")
      assert(stub.entities("documents").schema.fieldNames.toSeq ==
        docInfos.map(_._1))

      // --- sync federation across the process boundary ------------------
      graft.mesh.Fixtures.registerRaw(spark, sfDir)
      val mesh = Mesh(Map(
        "alpha" -> Site("alpha",
          entities = Map("documents" -> Fixtures.documentsEntity),
          localSources = Map("documents" -> Seq(DataSource(
            id = "docs_even",
            sourceSql = "SELECT * FROM raw_documents WHERE doc_id % 2 = 0",
            mappings = docInfos.map { case (n, _) => FieldMapping(n, n) },
            defaultPermission =
              SourcePermission(docInfos.map(_._1).toSet, "true")))),
          remoteMappings = Map("documents" -> Seq(
            RemoteEntityMapping(peer = "beta", remoteEntity = "documents",
              infoMappings =
                docInfos.map { case (n, _) => RemoteInfoMapping(n, n) })))),
        "beta" -> stub))
      val fed = EntityResolver.resolve(
        spark, mesh, "alpha", "documents", withProvenance = true)
      val all = spark.table("raw_documents")
      assert(fed.count() == all.count())
      // the odd half carries the child's provenance
      val bySrc = fed.groupBy(col(EntityResolver.SourceIdCol)).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(bySrc("beta_conn.docs_odd") ==
        all.where("doc_id % 2 = 1").count())
      // values match the locally-computed slice exactly
      val remoteSum = fed
        .where(col(EntityResolver.SourceIdCol) === "beta_conn.docs_odd")
        .agg(sum("n_chars")).head.getLong(0)
      assert(remoteSum ==
        all.where("doc_id % 2 = 1").agg(sum("n_chars")).head.getLong(0))

      // --- async path + durable restart across PROCESSES ----------------
      val id = RelayClient.submit(url,
        "SELECT lang, count(*) AS n FROM documents GROUP BY lang ORDER BY lang")
      assert(RelayClient.await(url, id).status == "Complete")
      proc.destroy()
      assert(proc.waitFor(30, java.util.concurrent.TimeUnit.SECONDS))
      proc = launchRelay(cfg, results, port, cwd, root.resolve("relay2.log"))
      awaitCatalog(url)
      // the SECOND process, booted on the same results dir, still knows
      // the request and serves its spilled result
      assert(RelayClient.status(url, id).status == "Complete")
      assert(RelayClient.result(spark, url, id).count() > 0)
    } finally {
      proc.destroy()
      proc.waitFor(30, java.util.concurrent.TimeUnit.SECONDS): Unit
    }
  }

  test("--state-jdbc: a relay restart restores request state from the database") {
    val root = Files.createTempDirectory("graft_procjdbc")
    val cfg = Files.createDirectory(root.resolve("config"))
    val results = Files.createDirectory(root.resolve("results"))
    val cwd = Files.createDirectory(root.resolve("cwd"))
    writeConfig(cfg)
    // ON-DISK embedded Derby: dies with neither process, so sequential
    // lives share it exactly like the reference's Postgres (two
    // SIMULTANEOUS processes would need a networked RDBMS — embedded
    // Derby is single-process; the backend is a URL swap)
    val jdbcUrl = s"jdbc:derby:${root.resolve("statedb")};create=true"
    val port = freePort()
    val url = s"http://127.0.0.1:$port"
    var proc = launchRelay(cfg, results, port, cwd, root.resolve("relay1.log"),
      Seq("--state-jdbc", jdbcUrl))
    try {
      awaitCatalog(url)
      val id = RelayClient.submit(url,
        "SELECT lang, count(*) AS n FROM documents GROUP BY lang ORDER BY lang")
      assert(RelayClient.await(url, id).status == "Complete")
      proc.destroy()
      assert(proc.waitFor(30, java.util.concurrent.TimeUnit.SECONDS))
      // no JSON snapshot exists — the DATABASE must be the carrier
      assert(!Files.exists(results.resolve("tasks.json")))
      assert(!Files.exists(results.resolve("state").resolve("tasks.json")))
      proc = launchRelay(cfg, results, port, cwd, root.resolve("relay2.log"),
        Seq("--state-jdbc", jdbcUrl))
      awaitCatalog(url)
      assert(RelayClient.status(url, id).status == "Complete")
      assert(RelayClient.result(spark, url, id).count() > 0)
    } finally {
      proc.destroy()
      proc.waitFor(30, java.util.concurrent.TimeUnit.SECONDS): Unit
    }
  }

  test("a relay answers small sync requests without waiting on the client's delayed ACK") {
    // a forked RelayMain: its RelayServer is the JVM's first HttpServer,
    // so the nodelay setting it makes is the one the JDK reads
    val root = Files.createTempDirectory("graft_procnodelay")
    val cfg = Files.createDirectory(root.resolve("config"))
    val results = Files.createDirectory(root.resolve("results"))
    val cwd = Files.createDirectory(root.resolve("cwd"))
    writeConfig(cfg)
    val port = freePort()
    val url = s"http://127.0.0.1:$port"
    val proc = launchRelay(cfg, results, port, cwd, root.resolve("relay.log"))
    try {
      awaitCatalog(url)
      val http = java.net.http.HttpClient.newBuilder()
        .version(java.net.http.HttpClient.Version.HTTP_1_1).build()
      // the validator rejects this text before Spark runs, so the round
      // trip is the transport's: a small JSON answer, headers then body
      val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url + "/query/sync"))
        .header("Content-Type", "application/json")
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(
          """{"sql": "DROP TABLE documents"}"""))
        .build()
      def roundTripMs(): Double = {
        val t0 = System.nanoTime()
        val resp = http.send(req, java.net.http.HttpResponse.BodyHandlers.ofByteArray())
        assert(resp.statusCode() == 400, new String(resp.body()))
        (System.nanoTime() - t0) / 1e6
      }
      // past the connection's first exchanges, which Linux ACKs at once
      (1 to 5).foreach(_ => roundTripMs())
      val ms = (1 to 15).map(_ => roundTripMs()).sorted
      // with Nagle on, each answer waits ~40 ms for the delayed ACK
      assert(ms(7) < 20, ms.map(m => f"$m%.1f").mkString(", "))
    } finally {
      proc.destroy()
      proc.waitFor(30, java.util.concurrent.TimeUnit.SECONDS): Unit
    }
  }

  private object Fixtures {
    val documentsEntity: Entity = graft.mesh.Fixtures.documentsEntity
  }
}
