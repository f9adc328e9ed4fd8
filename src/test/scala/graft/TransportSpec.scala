package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog._
import graft.mesh.{EntityResolver, Fixtures, MeshSession, QueryService}
import graft.transport.{RelayClient, RelayServer}

/** The wire protocol end-to-end over real loopback TCP: peer registration
  * from `/catalog`, synchronous federation (an endpoint-backed peer in the
  * mesh resolves over HTTP instead of in-process), relay-identity ACLs and
  * the visited-set cycle guard crossing in headers, get_flight_info branch
  * enumeration, the async REST path (submit/status/result/ndjson), do_put
  * result push, token auth, and empty-result schema transport.
  *
  * Both ends share one JVM/SparkSession (single-process harness), but every
  * byte of catalog, query, and result data crosses an HTTP socket — the
  * serialization boundary is real even though the JVM is shared. */
class TransportSpec extends AnyFunSuite {

  lazy val spark = TestSessions.spark
  private def sfDir = TestSessions.sfDir

  private val docCols = Set("doc_id", "text", "lang", "source", "n_chars")
  private val identityDocMappings =
    Fixtures.documentsEntity.informations.map(i => FieldMapping(i.name, i.name))
  private val identityInfoMappings =
    Fixtures.documentsEntity.informations.map(i => RemoteInfoMapping(i.name, i.name))

  private def docSlice(id: String, filt: String,
      perm: SourcePermission = SourcePermission(docCols, "true"),
      relayPerms: Map[String, SourcePermission] = Map.empty): DataSource =
    DataSource(
      id = id,
      sourceSql = s"SELECT * FROM raw_documents WHERE $filt",
      mappings = identityDocMappings,
      defaultPermission = perm,
      relayPermissions = relayPerms)

  /** A one-site mesh serving the odd-doc_id slice of documents. */
  private def betaMesh(
      src: DataSource = docSlice("docs_odd", "doc_id % 2 = 1")): Mesh =
    Mesh(Map("beta" -> Site("beta",
      entities = Map("documents" -> Fixtures.documentsEntity),
      localSources = Map("documents" -> Seq(src)))))

  /** `POST /query/sync` with `sql` and an explicit `Accept`, as a client
    * other than [[RelayClient]] would send it. */
  private def postSync(url: String, sql: String,
      accept: String): java.net.http.HttpResponse[Array[Byte]] = {
    val body = new com.fasterxml.jackson.databind.ObjectMapper()
      .createObjectNode().put("sql", sql).toString
    java.net.http.HttpClient.newHttpClient().send(
      java.net.http.HttpRequest.newBuilder(java.net.URI.create(url + "/query/sync"))
        .header("Content-Type", "application/json")
        .header("Accept", accept)
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body))
        .build(),
      java.net.http.HttpResponse.BodyHandlers.ofByteArray())
  }

  private val ParquetType = "application/vnd.apache.parquet"

  /** Column names and types of a frame, as an answer's schema is compared. */
  private def fieldsOf(df: org.apache.spark.sql.DataFrame) =
    df.schema.map(f => (f.name, f.dataType))

  /** The schema and the rows (sorted by `key`) a parquet-only client gets
    * for `sql`. */
  private def parquetOnlyAnswer(url: String, sql: String, key: String) = {
    val resp = postSync(url, sql, ParquetType)
    assert(resp.statusCode() == 200)
    assert(resp.headers().firstValue("Content-Type").get == ParquetType)
    val f = java.nio.file.Files.createTempFile("graft_spec_", ".parquet")
    java.nio.file.Files.write(f, resp.body())
    try {
      val df = spark.read.parquet(f.toString)
      (fieldsOf(df), df.orderBy(key).collect().toSeq)
    } finally java.nio.file.Files.delete(f)
  }

  /** Run `f` and return its value with the funcNames of the SQL executions
    * that ran meanwhile, leaving out temp-view registrations (a relay
    * registers the entity views a request reads). The client's `[wire]`
    * diagnostic job is turned off for the duration, so with a parquet or
    * Arrow fetch inside `f` only the serving relay's query runs are
    * counted. Sentinel actions run before and after `f` mark the window. */
  private def withExecutions[A](f: => A): (A, Seq[String]) = {
    import org.apache.spark.sql.execution.QueryExecution
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, QueryExecution)]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.add((funcName, qe)): Unit
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        seen.add((funcName, qe)): Unit
    }
    spark.listenerManager.register(listener)
    sys.props("graft.wire.quiet") = "1"
    // run a sentinel action and wait for its event: the bus delivers in
    // order, so every earlier event has arrived once it has
    def mark(): QueryExecution = {
      val sentinel = spark.range(1)
      sentinel.collect()
      val deadline = System.currentTimeMillis() + 30000
      while (!seen.asScala.exists(_._2 eq sentinel.queryExecution) &&
          System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(seen.asScala.exists(_._2 eq sentinel.queryExecution), "listener bus did not drain")
      sentinel.queryExecution
    }
    try {
      // an earlier test's execution can be delivered after `register`
      val start = mark()
      val a = f
      val end = mark()
      (a, seen.asScala.toSeq.dropWhile(!_._2.eq(start)).drop(1)
          .takeWhile(!_._2.eq(end)).collect {
        case (name, qe) if !qe.logical.isInstanceOf[
          org.apache.spark.sql.execution.command.CreateViewCommand] => name
      })
    } finally {
      sys.props.remove("graft.wire.quiet")
      spark.listenerManager.unregister(listener)
    }
  }

  /** Did the fetch decode an Arrow body in memory rather than scan a
    * parquet file? */
  private def decodedInMemory(df: org.apache.spark.sql.DataFrame): Boolean =
    df.inputFiles.isEmpty

  private def syncFetch(url: String, sql: String) =
    RelayClient.syncFetch(spark, url, sql, user = None, viaRelay = "",
      visited = Set.empty, withProvenance = false)

  /** Start a relay process surface over `mesh`/`site`; run `f` against it. */
  private def withServer[A](mesh: Mesh, site: String,
      secret: Option[String] = None)(f: RelayServer => A): A = {
    Fixtures.registerRaw(spark, sfDir)
    val session = new MeshSession(spark, mesh, site)
    val dir = java.nio.file.Files.createTempDirectory("graft_srv_results").toString
    val server = new RelayServer(session, new QueryService(session, dir), secret)
    try f(server) finally server.stop()
  }

  /** Alpha's mesh: local even-doc slice + the peer stub REGISTERED FROM THE
    * PEER'S OWN /catalog — alpha never sees beta's sources or data layout. */
  private def alphaMesh(betaStub: Site): Mesh =
    Mesh(Map(
      "alpha" -> Site("alpha",
        entities = Map("documents" -> Fixtures.documentsEntity),
        localSources = Map("documents" -> Seq(docSlice("docs_even", "doc_id % 2 = 0"))),
        remoteMappings = Map("documents" -> Seq(
          RemoteEntityMapping(peer = "beta", remoteEntity = "documents",
            infoMappings = identityInfoMappings)))),
      betaStub.name -> betaStub))

  /** The same two-site web resolved fully in-process (no endpoint). */
  private def combinedMesh: Mesh =
    Mesh(Map(
      "alpha" -> Site("alpha",
        entities = Map("documents" -> Fixtures.documentsEntity),
        localSources = Map("documents" -> Seq(docSlice("docs_even", "doc_id % 2 = 0"))),
        remoteMappings = Map("documents" -> Seq(
          RemoteEntityMapping(peer = "beta", remoteEntity = "documents",
            infoMappings = identityInfoMappings)))),
      "beta" -> Site("beta",
        entities = Map("documents" -> Fixtures.documentsEntity),
        localSources = Map("documents" -> Seq(docSlice("docs_odd", "doc_id % 2 = 1"))))))

  test("catalog registration: the peer stub carries the peer's entity schemas") {
    withServer(betaMesh(), "beta") { server =>
      val stub = RelayClient.catalogSite(server.url)
      assert(stub.name == "beta")
      assert(stub.endpoint.contains(server.url))
      assert(stub.localSources.isEmpty)
      assert(stub.entities.keySet == Set("documents"))
      assert(stub.entities("documents").schema ==
        Fixtures.documentsEntity.schema)
    }
  }

  test("wire federation equals in-process resolution, provenance included") {
    withServer(betaMesh(), "beta") { server =>
      val stub = RelayClient.catalogSite(server.url)
      val wired = EntityResolver.resolve(
        spark, alphaMesh(stub), "alpha", "documents", withProvenance = true)
      val inProc = EntityResolver.resolve(
        spark, combinedMesh, "alpha", "documents", withProvenance = true)
      val key = Seq("doc_id", EntityResolver.SourceIdCol).map(col)
      assert(wired.orderBy(key: _*).collect().toSeq ==
        inProc.orderBy(key: _*).collect().toSeq)
      // provenance names beta's leaf source even though it executed remotely
      val relays = wired.select(collect_set(col(EntityResolver.SourceRelayCol)))
        .head.getSeq[String](0).toSet
      assert(relays == Set("alpha", "beta"))
    }
  }

  test("relay-identity ACL crosses the wire: beta grants alpha more than strangers") {
    // beta's default hides text and non-en rows; the alpha relay grant opens both
    val restricted = docSlice("docs_odd", "doc_id % 2 = 1",
      perm = SourcePermission(docCols - "text", "lang = 'en'"),
      relayPerms = Map("alpha" -> SourcePermission(docCols, "true")))
    withServer(betaMesh(restricted), "beta") { server =>
      val stub = RelayClient.catalogSite(server.url)
      // direct (no relay identity): default policy only
      val direct = RelayClient.syncFetch(spark, server.url,
        "SELECT * FROM documents", user = None, viaRelay = "",
        visited = Set.empty, withProvenance = false)
        .where(col("doc_id").isNotNull)
      assert(direct.where(col("text").isNotNull).count() == 0)
      assert(direct.where(col("lang") =!= "en").count() == 0)
      // via alpha: default ∪ relay grant — full slice, text visible
      val viaAlpha = EntityResolver.resolve(
        spark, alphaMesh(stub), "alpha", "documents")
        .where(col("doc_id") % 2 === 1)
      val rawOdd = spark.table("raw_documents").where(col("doc_id") % 2 === 1)
      assert(viaAlpha.count() == rawOdd.count())
      assert(viaAlpha.where(col("text").isNotNull).count() ==
        rawOdd.where(col("text").isNotNull).count())
    }
  }

  test("get_flight_info: branch enumeration crosses the wire") {
    withServer(betaMesh(), "beta") { server =>
      val stub = RelayClient.catalogSite(server.url)
      val branches = EntityResolver.provenanceBranches(
        spark, alphaMesh(stub), "alpha", "documents").toSet
      assert(branches == Set(
        (Some("alpha"), Some("docs_even")), (Some("beta"), Some("docs_odd"))))
    }
  }

  test("cycle guard: two relays peered at each other terminate with one hop each") {
    // beta's OWN mesh maps documents back to alpha over the wire, and vice
    // versa — without the visited set crossing in headers this would ping
    // forever (the reference's request-uuid dedup, flight.rs:543-555)
    withServer(betaMesh(), "beta") { betaPlain =>
      // alpha's process: local even slice + a wire hop to (plain) beta
      withServer(alphaMesh(RelayClient.catalogSite(betaPlain.url)), "alpha") {
        alphaServer =>
          // beta's second process: local odd slice + a wire hop BACK to alpha
          val betaBack = Mesh(Map(
            "beta" -> Site("beta",
              entities = Map("documents" -> Fixtures.documentsEntity),
              localSources = Map("documents" ->
                Seq(docSlice("docs_odd", "doc_id % 2 = 1"))),
              remoteMappings = Map("documents" -> Seq(
                RemoteEntityMapping(peer = "alpha", remoteEntity = "documents",
                  infoMappings = identityInfoMappings)))),
            "alpha" -> Site("alpha", Map("documents" -> Fixtures.documentsEntity),
              endpoint = Some(alphaServer.url))))
          withServer(betaBack, "beta") { betaServer =>
            // query beta directly: beta resolves its local slice, hops to
            // alpha; alpha's own beta-hop is cut by the visited set it
            // received — every slice exactly once
            val viaBeta = RelayClient.syncFetch(spark, betaServer.url,
              "SELECT * FROM documents", user = None, viaRelay = "",
              visited = Set.empty, withProvenance = true)
            val total = spark.table("raw_documents").count()
            assert(viaBeta.count() == total)
            assert(viaBeta.select(collect_set(col(EntityResolver.SourceIdCol)))
              .head.getSeq[String](0).toSet == Set("docs_even", "docs_odd"))
          }
      }
    }
  }

  test("async REST path: submit, poll, parquet result, NDJSON provenance") {
    withServer(combinedMesh, "alpha") { server =>
      val id = RelayClient.submit(server.url,
        "SELECT doc_id, lang FROM documents WHERE doc_id <= 20")
      val st = RelayClient.await(server.url, id)
      assert(st.status == "Complete", st.error.getOrElse(""))
      assert(st.tasks.nonEmpty && st.tasks.forall(_.status == "Complete"))
      val df = RelayClient.result(spark, server.url, id)
      assert(df.where(col("doc_id") <= 20).count() == df.count())
      assert(df.count() > 0)
      // idempotent replay: same request_id returns the same tracked request
      val replay = RelayClient.submit(server.url,
        "SELECT doc_id, lang FROM documents WHERE doc_id <= 20",
        requestId = Some(id))
      assert(replay == id)
      val lines = RelayClient.ndjson(server.url, id)
      assert(lines.nonEmpty && lines.head.contains("\"_relay_metadata_\""))
      // unknown id → 404
      val err = intercept[RelayClient.RelayException] {
        RelayClient.result(spark, server.url, "nope")
      }
      assert(err.getMessage.contains("404"))
    }
  }

  /** Like [[withServer]] but hands back the service too (federated-async
    * tests drive submit/status/results on the origin relay directly). */
  private def withServerAndService[A](mesh: Mesh, site: String)(
      f: (RelayServer, QueryService, String) => A): A = {
    Fixtures.registerRaw(spark, sfDir)
    val session = new MeshSession(spark, mesh, site)
    val dir = java.nio.file.Files.createTempDirectory("graft_srv_results").toString
    val service = new QueryService(session, dir)
    val server = new RelayServer(session, service)
    try f(server, service, dir) finally server.stop()
  }

  test("async federation: remote task re-POSTs to the peer, results push back (do_put)") {
    withServer(betaMesh(), "beta") { betaServer =>
      val stub = RelayClient.catalogSite(betaServer.url)
      withServerAndService(alphaMesh(stub), "alpha") { (alphaServer, service, dir) =>
        val id = RelayClient.submit(alphaServer.url,
          "SELECT doc_id, lang FROM documents WHERE doc_id <= 20")
        val st = RelayClient.await(alphaServer.url, id)
        assert(st.status == "Complete", st.error.getOrElse(""))
        // beta's slice arrived by PUSH: its branch landed as a do_put ingest
        // under a name-keyed partition (local branches use integer keys)
        val pushedDir = new java.io.File(
          s"$dir/task_$id/result.parquet/${QueryService.BranchPartitionCol}=beta-docs_odd")
        assert(pushedDir.isDirectory,
          s"expected pushed branch dir, got: ${Option(new java.io.File(
            s"$dir/task_$id/result.parquet").list()).toSeq.flatten.mkString(",")}")
        val tasks = service.branchStatus(id)
        assert(tasks.get(("beta", "(remote)"))
          .exists(_.status == QueryService.Complete))
        assert(tasks.get(("beta-docs_odd", "do_put"))
          .exists(_.status == QueryService.Complete))
        // and the unioned result equals the in-process twin
        val got = RelayClient.result(spark, alphaServer.url, id)
          .select("doc_id", "lang").orderBy("doc_id")
        val want = EntityResolver.resolve(spark, combinedMesh, "alpha", "documents")
          .where(col("doc_id") <= 20).select("doc_id", "lang").orderBy("doc_id")
        assert(got.collect().toSeq == want.collect().toSeq)
      }
    }
  }

  test("federated remote request maps info transforms into the peer's namespace") {
    // alpha's hop halves beta's n_chars — the mapped SQL must compute the
    // transform ON BETA (map_remote_request semantics) so pushed partials
    // arrive already in alpha's semantic space
    val transformHop = RemoteEntityMapping(
      peer = "beta", remoteEntity = "documents",
      infoMappings = identityInfoMappings.map {
        case m if m.localInfo == "n_chars" =>
          m.copy(transform = Transformation("{v} * 2"))
        case m => m
      })
    def meshWith(betaSite: Site): Mesh = Mesh(Map(
      "alpha" -> Site("alpha",
        entities = Map("documents" -> Fixtures.documentsEntity),
        localSources = Map("documents" -> Seq(docSlice("docs_even", "doc_id % 2 = 0"))),
        remoteMappings = Map("documents" -> Seq(transformHop))),
      "beta" -> betaSite))
    withServer(betaMesh(), "beta") { betaServer =>
      val stub = RelayClient.catalogSite(betaServer.url)
      withServerAndService(meshWith(stub), "alpha") { (alphaServer, service, _) =>
        val id = RelayClient.submit(alphaServer.url,
          "SELECT doc_id, n_chars FROM documents WHERE doc_id <= 40")
        val st = RelayClient.await(alphaServer.url, id)
        assert(st.status == "Complete", st.error.getOrElse(""))
        val got = RelayClient.result(spark, alphaServer.url, id)
          .select("doc_id", "n_chars").orderBy("doc_id")
        val inProc = meshWith(Site("beta",
          entities = Map("documents" -> Fixtures.documentsEntity),
          localSources = Map("documents" -> Seq(docSlice("docs_odd", "doc_id % 2 = 1")))))
        val want = EntityResolver.resolve(spark, inProc, "alpha", "documents")
          .where(col("doc_id") <= 40).select("doc_id", "n_chars").orderBy("doc_id")
        assert(got.collect().toSeq == want.collect().toSeq)
        // sanity: odd rows really carry the doubled value
        val odd = got.where(col("doc_id") % 2 === 1)
        val raw = spark.table("raw_documents")
          .where(col("doc_id") % 2 === 1 && col("doc_id") <= 40)
          .select(col("doc_id"), (col("n_chars") * 2).as("n_chars")).orderBy("doc_id")
        assert(odd.collect().toSeq == raw.collect().toSeq)
      }
    }
  }

  test("federated submit storm: requests outnumbering the worker pool all complete") {
    // origin-side awaits must not hold bounded worker slots: 10 concurrent
    // federated submits exceed the 8-thread shared pool, and the peer's
    // executor tasks drain through that same pool in this JVM — with
    // blocking awaits this deadlocks until timeout (pool full of pollers
    // starving the tasks they wait on); with the dedicated poller pool it
    // completes promptly
    withServer(betaMesh(), "beta") { betaServer =>
      val stub = RelayClient.catalogSite(betaServer.url)
      withServerAndService(alphaMesh(stub), "alpha") { (_, service, _) =>
        val ids = (0 until 10).map { i =>
          service.submit(s"SELECT doc_id, lang FROM documents WHERE doc_id <= ${20 + i}")
        }
        val states = ids.map(id => service.await(id, timeoutMs = 180000))
        assert(states.forall(_.status == QueryService.Complete),
          states.mkString(", "))
      }
    }
  }

  test("federated failure: peer task fails, allow_partial returns completed slices") {
    val broken = docSlice("docs_broken", "doc_id % 2 = 1")
      .copy(sourceSql = "SELECT * FROM __graft_no_such_table")
    withServer(betaMesh(broken), "beta") { betaServer =>
      val stub = RelayClient.catalogSite(betaServer.url)
      withServerAndService(alphaMesh(stub), "alpha") { (alphaServer, service, _) =>
        val id = RelayClient.submit(alphaServer.url,
          "SELECT doc_id, lang FROM documents WHERE doc_id <= 20")
        val st = RelayClient.await(alphaServer.url, id)
        assert(st.status == "Failed")
        // the whole-result read refuses, the partial read serves alpha's slice
        intercept[RelayClient.RelayException] {
          RelayClient.result(spark, alphaServer.url, id)
        }
        val partial = RelayClient.result(spark, alphaServer.url, id,
          allowPartial = true)
        assert(partial.count() > 0)
        assert(partial.where(col("doc_id") % 2 === 1).count() == 0)
      }
    }
  }

  test("do_put: a pushed branch result lands in the origin's spill and reads back") {
    withServer(betaMesh(), "beta") { server =>
      val pushed = spark.range(5).select(col("id").as("doc_id"))
      RelayClient.pushResult(server.url, "req-push-1", "beta-docs_odd", pushed)
      val got = RelayClient.result(spark, server.url, "req-push-1")
      assert(got.select(sum("doc_id")).head.getLong(0) == 10)
    }
  }

  test("mapRemoteRequestSql: identity forwards verbatim; transforms wrap; CTEs merge; names re-point") {
    Fixtures.registerRaw(spark, sfDir)
    val entity = Fixtures.documentsEntity
    def mapSql(rm: RemoteEntityMapping, sql: String): String =
      EntityResolver.mapRemoteRequestSql(
        spark, Mesh(Map("beta" -> Site("beta", Map("documents" -> entity)),
          "docs_remote" -> Site("docs_remote", Map("docs_remote" -> entity.copy(name = "docs_remote"))))),
        entity, rm, sql)
    val identity = RemoteEntityMapping(peer = "beta", remoteEntity = "documents",
      infoMappings = identityInfoMappings)
    // identity hop: the SQL crosses unchanged
    assert(mapSql(identity, "SELECT doc_id FROM documents") ==
      "SELECT doc_id FROM documents")
    // transform hop: CTE named after the remote entity, transform + casts inside
    val doubled = identity.copy(infoMappings = identityInfoMappings.map {
      case m if m.localInfo == "n_chars" => m.copy(transform = Transformation("{v} * 2"))
      case m => m
    })
    val wrapped = mapSql(doubled, "SELECT doc_id, n_chars FROM documents")
    assert(wrapped.startsWith("WITH documents AS (SELECT "))
    assert(wrapped.contains("CAST((n_chars) * 2 AS BIGINT) AS n_chars"))
    assert(wrapped.endsWith("SELECT doc_id, n_chars FROM documents"))
    // the wrapped SQL still validates as ONE entity and ANALYZES against a
    // registered view (the peer-side execution path)
    assert(graft.validation.SqlValidator.validate(wrapped, spark) == "documents")
    spark.table("raw_documents").createOrReplaceTempView("documents")
    val out = spark.sql(wrapped)
    assert(out.columns.toSeq == Seq("doc_id", "n_chars"))
    assert(out.where(col("n_chars") % 2 =!= 0).count() == 0) // all doubled
    // a user CTE merges into the hop's WITH list instead of nesting WITHs
    val merged = mapSql(doubled,
      "WITH t AS (SELECT doc_id FROM documents) SELECT doc_id FROM t")
    assert(merged.matches("(?s)WITH documents AS \\(.*\\), t AS .*"))
    assert(spark.sql(merged).count() == spark.table("raw_documents").count())
    // differing names: user text re-points at the remote entity name,
    // keeping the local name as the alias for qualified columns
    val renamed = RemoteEntityMapping(peer = "docs_remote",
      remoteEntity = "docs_remote",
      infoMappings = identityInfoMappings.map {
        case m if m.localInfo == "n_chars" => m.copy(transform = Transformation("{v} * 2"))
        case m => m
      })
    val pointed = mapSql(renamed, "SELECT documents.doc_id FROM documents")
    assert(pointed.contains("WITH docs_remote AS ("))
    assert(pointed.endsWith("SELECT documents.doc_id FROM docs_remote AS documents"))
  }

  test("mapRemoteRequestSql re-points relation references only: literals and columns named like the entity keep their text") {
    Fixtures.registerRaw(spark, sfDir)
    val entity = Fixtures.documentsEntity
    val mesh = Mesh(Map("docs_remote" -> Site("docs_remote",
      Map("docs_remote" -> entity.copy(name = "docs_remote")))))
    val rm = RemoteEntityMapping(peer = "docs_remote", remoteEntity = "docs_remote",
      infoMappings = identityInfoMappings)
    val userSql =
      "SELECT 'documents' AS kind, lang AS documents, count(*) AS n FROM documents " +
        "WHERE doc_id IN (SELECT d.doc_id FROM documents d WHERE d.n_chars > 0) " +
        "GROUP BY lang ORDER BY documents"
    val mapped = EntityResolver.mapRemoteRequestSql(spark, mesh, entity, rm, userSql)
    assert(mapped.endsWith(
      "SELECT 'documents' AS kind, lang AS documents, count(*) AS n " +
        "FROM docs_remote AS documents " +
        "WHERE doc_id IN (SELECT d.doc_id FROM docs_remote d WHERE d.n_chars > 0) " +
        "GROUP BY lang ORDER BY documents"), mapped)
    // the peer sees one entity, and answers what the local text answers
    assert(graft.validation.SqlValidator.validate(mapped, spark) == "docs_remote")
    spark.table("raw_documents").createOrReplaceTempView("docs_remote")
    try {
      val got = spark.sql(mapped)
      assert(got.columns.toSeq == Seq("kind", "documents", "n"))
      assert(got.collect().toSeq == spark.sql(userSql).collect().toSeq)
    } finally spark.catalog.dropTempView("docs_remote"): Unit
    // a user CTE named like the entity: its body reads the entity and is
    // re-pointed, references to the CTE keep their name, so the peer's
    // validator refuses the second name instead of the hop skipping the CTE
    val withCte = EntityResolver.mapRemoteRequestSql(spark, mesh, entity, rm,
      "WITH documents AS (SELECT * FROM documents WHERE doc_id > 5) " +
        "SELECT doc_id FROM documents")
    assert(withCte.endsWith(
      "documents AS (SELECT * FROM docs_remote AS documents WHERE doc_id > 5) " +
        "SELECT doc_id FROM documents"), withCte)
    intercept[graft.validation.SqlValidator.InvalidQuery] {
      graft.validation.SqlValidator.validate(withCte, spark)
    }
  }

  test("admin apply over the wire: upserts land in the live registry, next query sees them") {
    import graft.mesh.MeshRegistry
    Fixtures.registerRaw(spark, sfDir)
    // registry-backed relay starting from an EMPTY site
    val registry = new MeshRegistry(Mesh(Map("gamma" -> Site("gamma", Map.empty))))
    val session = new MeshSession(spark, registry, "gamma")
    val dir = java.nio.file.Files.createTempDirectory("graft_admin_results").toString
    val server = new RelayServer(session, new QueryService(session, dir),
      registry = Some(registry))
    try {
      // before: no entity -> sync query rejects
      val before = intercept[RelayClient.RelayException] {
        RelayClient.syncFetch(spark, server.url, "SELECT * FROM documents",
          user = None, viaRelay = "", visited = Set.empty, withProvenance = false)
      }
      assert(before.getMessage.contains("400"))
      val applied = RelayClient.adminApply(server.url,
        """api_version: v1alpha1
          |kind: Entity
          |spec:
          |  name: documents
          |  information:
          |    - {name: doc_id, arrow_dtype: Int64}
          |    - {name: lang, arrow_dtype: Utf8}
          |---
          |api_version: v1alpha1
          |kind: LocalData
          |spec:
          |  name: gamma_conn
          |  data_sources:
          |    - name: docs_all
          |      source_sql: SELECT * FROM raw_documents
          |      fields:
          |        - {name: doc_id, path: doc_id}
          |        - {name: lang, path: lang}
          |---
          |api_version: v1alpha1
          |kind: LocalMapping
          |spec:
          |  entity_name: documents
          |  mappings:
          |    - data_con_name: gamma_conn
          |      source_mappings:
          |        - data_source_name: docs_all
          |          field_mappings:
          |            - {info: doc_id, field: doc_id}
          |            - {info: lang, field: lang}
          |""".stripMargin)
      assert(applied == 3)
      // after: the same session serves the new entity, and /catalog lists it
      val got = RelayClient.syncFetch(spark, server.url,
        "SELECT doc_id, lang FROM documents", user = None,
        viaRelay = "", visited = Set.empty, withProvenance = false)
      assert(got.count() == spark.table("raw_documents").count())
      assert(RelayClient.catalogSite(server.url).entities.keySet == Set("documents"))
      // a static-mesh relay answers 409
      withServer(betaMesh(), "beta") { plain =>
        val err = intercept[RelayClient.RelayException] {
          RelayClient.adminApply(plain.url, "kind: Entity\nspec: {name: x}")
        }
        assert(err.getMessage.contains("409"))
      }
    } finally server.stop()
  }

  test("shared-secret auth: bad token rejected, URL userinfo accepted") {
    withServer(betaMesh(), "beta", secret = Some("s3cret")) { server =>
      val bare = intercept[RelayClient.RelayException] {
        RelayClient.catalogSite(server.url)
      }
      assert(bare.getMessage.contains("401"))
      val authed = server.url.replace("http://", "http://s3cret@")
      assert(RelayClient.catalogSite(authed).name == "beta")
    }
  }

  test("certificate-fingerprint auth: cert is identity, unknown relays rejected") {
    Fixtures.registerRaw(spark, sfDir)
    // ACL keyed by CERT FINGERPRINT: the default grant sees nothing
    // (filter false); alice's fingerprint is granted the odd slice. A
    // body-claimed user name must be irrelevant — identity comes from the
    // presented certificate alone.
    val src = DataSource(
      id = "docs_acl",
      sourceSql = "SELECT * FROM raw_documents",
      mappings = identityDocMappings,
      defaultPermission = SourcePermission(docCols, "false"),
      userPermissions = Map(
        CertFixtures.aliceFp -> SourcePermission(docCols, "doc_id % 2 = 1")))
    val mesh = Mesh(Map("beta" -> Site("beta",
      entities = Map("documents" -> Fixtures.documentsEntity),
      localSources = Map("documents" -> Seq(src)))))
    val reg = new PrincipalRegistry
    reg.registerRelay(CertFixtures.relayFp, "alpha")
    // registry-backed so the /admin surface is live (case 7 below)
    val meshReg = new graft.mesh.MeshRegistry(mesh)
    val session = new MeshSession(spark, meshReg, "beta")
    val dir = java.nio.file.Files.createTempDirectory("graft_cert_srv").toString
    val server = new RelayServer(session, new QueryService(session, dir),
      certAuth = Some(reg), registry = Some(meshReg))
    def fetch(viaRelay: String, user: Option[String] = None) =
      RelayClient.syncFetch(spark, server.url,
        "SELECT doc_id FROM documents", user = user,
        viaRelay = viaRelay, visited = Set.empty, withProvenance = false)
    try {
      // 1. no certificate: the reference's exact error shape
      val bare = intercept[RelayClient.RelayException] { fetch("") }
      assert(bare.getMessage.contains("401"))
      assert(bare.getMessage.contains("Expected client cert, found none"))
      // 2. unparseable certificate
      RelayClient.clientCertPem = Some("-----BEGIN CERTIFICATE-----\nnope\n-----END CERTIFICATE-----")
      val garbage = intercept[RelayClient.RelayException] { fetch("") }
      assert(garbage.getMessage.contains("unable to parse"))
      // 3. direct user: alice's FINGERPRINT is the ACL key — the odd slice
      // comes back even though the body claims a user with no grant
      RelayClient.clientCertPem = Some(CertFixtures.alicePem)
      val rows = fetch("", user = Some("mallory-claim"))
      assert(rows.count() > 0)
      assert(rows.where(col("doc_id") % 2 === 0).count() == 0)
      // ...and the registry auto-upserted alice (the reference's
      // upsert_user_by_fingerprint on every direct request)
      assert(reg.get(CertFixtures.aliceFp).isDefined)
      // 4. forwarded request with a NON-relay cert: rejected with the
      // reference's unrecognized-relay shape
      val notRelay = intercept[RelayClient.RelayException] { fetch("alpha") }
      assert(notRelay.getMessage.contains("unrecognized relay"))
      assert(notRelay.getMessage.contains(CertFixtures.aliceFp))
      // 5. forwarded request with the TRUSTED relay cert claiming its own
      // site: authenticates (zero rows — relay hops get only the default
      // grant here — but the request is authorized, not 401)
      RelayClient.clientCertPem = Some(CertFixtures.relayPem)
      assert(fetch("alpha").count() == 0)
      // 6. trusted cert claiming a DIFFERENT site: rejected
      val wrongSite = intercept[RelayClient.RelayException] { fetch("gamma") }
      assert(wrongSite.getMessage.contains("unrecognized relay"))
      // 7. the /admin surface is is_admin-gated under cert auth: alice
      // (auto-upserted, NOT admin) is refused; after out-of-band
      // promotion the same certificate applies config
      RelayClient.clientCertPem = Some(CertFixtures.alicePem)
      val entityYaml =
        """api_version: v1alpha1
          |kind: Entity
          |spec:
          |  name: notes
          |  information:
          |    - {name: note_id, arrow_dtype: Int64}""".stripMargin
      val denied = intercept[RelayClient.RelayException] {
        RelayClient.adminApply(server.url, entityYaml)
      }
      assert(denied.getMessage.contains("403"))
      assert(denied.getMessage.contains("not an admin"))
      reg.register(reg.get(CertFixtures.aliceFp).get.copy(
        attributes = PrincipalAttributes(isAdmin = true)))
      assert(RelayClient.adminApply(server.url, entityYaml) == 1)
      assert(meshReg.mesh.site("beta").entities.contains("notes"))
    } finally {
      RelayClient.clientCertPem = None
      server.stop()
    }
  }

  test("empty results cross with their schema intact") {
    withServer(betaMesh(), "beta") { server =>
      val empty = RelayClient.syncFetch(spark, server.url,
        "SELECT * FROM documents WHERE doc_id < 0", user = None,
        viaRelay = "", visited = Set.empty, withProvenance = false)
      assert(empty.count() == 0)
      assert(empty.schema == Fixtures.documentsEntity.schema)
    }
  }

  test("durability: a restarted relay serves completed request statuses and results") {
    Fixtures.registerRaw(spark, sfDir)
    val dir = java.nio.file.Files.createTempDirectory("graft_durable").toString
    // first life: run an async request to completion, then stop the server
    val mesh = betaMesh()
    val session1 = new MeshSession(spark, mesh, "beta")
    val server1 = new RelayServer(session1, new QueryService(session1, dir))
    val id =
      try {
        val id = RelayClient.submit(server1.url,
          "SELECT lang, count(*) AS n FROM documents GROUP BY lang ORDER BY lang")
        val st = RelayClient.await(server1.url, id)
        assert(st.status == "Complete")
        id
      } finally server1.stop()
    // second life: NEW session/service over the same results dir — the
    // reference's restart against its Postgres request rows
    val session2 = new MeshSession(spark, mesh, "beta")
    val server2 = new RelayServer(session2, new QueryService(session2, dir))
    try {
      val st = RelayClient.status(server2.url, id)
      assert(st.status == "Complete")
      assert(st.tasks.nonEmpty) // per-branch statuses restored too
      val rows = RelayClient.result(spark, server2.url, id)
      assert(rows.count() > 0)
    } finally server2.stop()
    // a request caught NON-terminal by the restart: with a persisted
    // submission spec it RE-RUNS (broker redelivery semantics); a
    // spec-less entry (pre-spec snapshot) fails loudly instead of hanging
    graft.catalog.MeshStateStore.writeTasks(
      Map(
        "stuck-id" -> (("InProgress", None)),
        "redo-id" -> (("InProgress", None))),
      Map.empty, java.nio.file.Paths.get(dir, "tasks.json"),
      specs = Map("redo-id" -> Map(
        "sql" -> "SELECT count(*) AS n FROM documents")))
    val session3 = new MeshSession(spark, mesh, "beta")
    val service3 = new QueryService(session3, dir)
    val st3 = service3.status("stuck-id")
    assert(st3.status == QueryService.Failed)
    assert(st3.error.exists(_.contains("restarted")))
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (service3.status("redo-id").status != QueryService.Complete &&
        System.nanoTime() < deadline) Thread.sleep(100)
    assert(service3.status("redo-id").status == QueryService.Complete)
    assert(service3.results("redo-id").count() > 0)
  }

  test("pool: a 3-relay wire chain survives 8 concurrent sync clients") {
    // every hop HOLDS its server thread while calling the next peer — a
    // fixed-width pool deadlocks or stalls once concurrent chains exceed
    // it; the cached pool must drain all clients well within the timeout
    Fixtures.registerRaw(spark, sfDir)
    val gammaMesh = Mesh(Map("gamma" -> Site("gamma",
      entities = Map("documents" -> Fixtures.documentsEntity),
      localSources = Map("documents" -> Seq(docSlice("docs_g", "doc_id % 3 = 2"))))))
    withServer(gammaMesh, "gamma") { gammaSrv =>
      val gStub = RelayClient.catalogSite(gammaSrv.url)
      val betaChain = Mesh(Map(
        "beta" -> Site("beta",
          entities = Map("documents" -> Fixtures.documentsEntity),
          localSources = Map("documents" -> Seq(docSlice("docs_b", "doc_id % 3 = 1"))),
          remoteMappings = Map("documents" -> Seq(
            RemoteEntityMapping(peer = "gamma", remoteEntity = "documents",
              infoMappings = identityInfoMappings)))),
        "gamma" -> gStub))
      withServer(betaChain, "beta") { betaSrv =>
        val expected = spark.table("raw_documents")
          .where("doc_id % 3 = 1 OR doc_id % 3 = 2").count()
        val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
        try {
          val futures = (1 to 8).map { _ =>
            pool.submit(new java.util.concurrent.Callable[Long] {
              override def call(): Long =
                RelayClient.syncFetch(spark, betaSrv.url,
                  "SELECT * FROM documents", user = None,
                  viaRelay = "", visited = Set.empty,
                  withProvenance = false).count()
            })
          }
          futures.foreach { f =>
            assert(f.get(120, java.util.concurrent.TimeUnit.SECONDS) == expected)
          }
        } finally pool.shutdownNow()
      }
    }
  }

  test("a peer that strips requested provenance fails loudly, never NULL-degrades") {
    // Provenance silently degrading to NULL on the wire keeps row counts and
    // schema intact while flipping every provenance-grouped hash — the one
    // failure mode that is invisible to rows/schema gates. The resolver must
    // refuse the payload instead. Fake peer: serves real parquet for
    // /query/sync but WITHOUT the provenance columns it was asked for.
    Fixtures.registerRaw(spark, sfDir)
    val stripped = java.nio.file.Files.createTempDirectory("graft_noprov")
    spark.table("raw_documents").where("doc_id % 2 = 1")
      .coalesce(1).write.mode("overwrite").parquet(stripped.toString)
    val parquetBytes = java.nio.file.Files.list(stripped).iterator()
      .asInstanceOf[java.util.Iterator[java.nio.file.Path]]
    var payload: Array[Byte] = null
    parquetBytes.forEachRemaining { p =>
      if (p.toString.endsWith(".parquet"))
        payload = java.nio.file.Files.readAllBytes(p)
    }
    assert(payload != null)
    val fake = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    fake.createContext("/", (ex: com.sun.net.httpserver.HttpExchange) => {
      ex.getResponseHeaders.add("Content-Type", "application/vnd.apache.parquet")
      ex.sendResponseHeaders(200, payload.length.toLong)
      ex.getResponseBody.write(payload)
      ex.close()
    })
    fake.start()
    try {
      val url = s"http://127.0.0.1:${fake.getAddress.getPort}"
      val stub = Site("beta",
        entities = Map("documents" -> Fixtures.documentsEntity),
        endpoint = Some(url))
      // resolving makes no wire call: the payload is checked when the
      // first action plans the relay scan
      val err = intercept[IllegalStateException] {
        EntityResolver.resolve(
          spark, alphaMesh(stub), "alpha", "documents", withProvenance = true).collect()
      }
      assert(err.getMessage.contains("lacks"))
      assert(err.getMessage.contains(EntityResolver.SourceIdCol))
      // without provenance the same payload is acceptable
      val plain = EntityResolver.resolve(
        spark, alphaMesh(stub), "alpha", "documents", withProvenance = false)
      assert(plain.count() == spark.table("raw_documents").count())
    } finally fake.stop(0)
  }

  test("arrow codec: every carried type round-trips, nulls included") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("l", LongType), StructField("i", IntegerType),
      StructField("s", ShortType), StructField("d", DoubleType),
      StructField("f", FloatType), StructField("str", StringType),
      StructField("b", BooleanType), StructField("dt", DateType),
      StructField("ts", TimestampType), StructField("bin", BinaryType),
      StructField("dec", DecimalType(12, 2)), StructField("ntz", TimestampNTZType),
      StructField("arr", ArrayType(LongType)),
      StructField("st", StructType(Seq(StructField("a", StringType), StructField("n", LongType)))),
      StructField("m", MapType(StringType, LongType)),
      StructField("dti", DayTimeIntervalType())))
    val ts = java.sql.Timestamp.valueOf("2024-06-01 12:34:56.123456")
    val full = Row(7L, 3, 2.toShort, 1.5d, 0.25f, "héllo",
      true, java.sql.Date.valueOf("2024-06-01"), ts, Array[Byte](1, 2, 3),
      new java.math.BigDecimal("12345.67"),
      java.time.LocalDateTime.of(2024, 6, 1, 12, 34, 56, 123456000),
      Seq(1L, null, 3L), Row("a", null), Map("k" -> 1L, "z" -> null),
      java.time.Duration.ofSeconds(93784, 5000))
    // more rows than one record batch holds
    val rows = Seq.fill(2500)(Seq(full, Row.fromSeq(Seq.fill(schema.length)(null)))).flatten
    def values(r: Row) = r.toSeq.map {
      case b: Array[Byte] => b.toSeq
      case v => v
    }
    // the internal rows of a query over them, and the boxed rows
    val internal = spark.createDataFrame(rows.asJava, schema)
      .queryExecution.executedPlan.executeCollect()
    val viaRows = new java.io.ByteArrayOutputStream()
    graft.transport.ArrowCodec.write(schema, rows.iterator, viaRows)
    for (stream <- Seq(
        org.apache.spark.sql.graft.ColumnBridge.toArrowStream(schema, internal.iterator, "UTC"),
        viaRows.toByteArray)) {
      // decoded the way a sync fetch decodes: into in-memory rows
      val (df, n) = org.apache.spark.sql.graft.ColumnBridge.fromArrowStream(spark, stream)
      assert(n == rows.size)
      assert(df.schema == schema)
      assert(df.collect().toSeq.map(values) == rows.map(values))
    }
    // no column type is refused, so an Arrow-only caller never gets 406:
    // each of Spark's remaining types encodes and decodes with its type
    val rest = StructType(Seq(
      StructField("by", ByteType), StructField("nul", NullType),
      StructField("ym", YearMonthIntervalType()), StructField("ci", CalendarIntervalType),
      StructField("v", VariantType),
      StructField("nested", MapType(StringType,
        ArrayType(StructType(Seq(StructField("x", DecimalType(38, 10)))))))))
    val (empty, none) = org.apache.spark.sql.graft.ColumnBridge.fromArrowStream(spark,
      org.apache.spark.sql.graft.ColumnBridge.toArrowStream(rest, Iterator.empty, "UTC"))
    assert(none == 0)
    assert(empty.schema == rest)
  }

  test("arrow wire negotiation: do_get body equals the parquet result, from one execution") {
    withServer(betaMesh(), "beta") { server =>
      val sql = "SELECT doc_id, lang, n_chars FROM documents ORDER BY doc_id"
      val (viaArrow, arrowRuns) = withExecutions(syncFetch(server.url, sql))
      assert(decodedInMemory(viaArrow))
      assert(arrowRuns.size == 1, arrowRuns)
      val (parquetFields, parquetOnly) = parquetOnlyAnswer(server.url, sql, "doc_id")
      assert(fieldsOf(viaArrow) == parquetFields)
      assert(viaArrow.orderBy("doc_id").collect().toSeq == parquetOnly)
      // a caller accepting only Arrow gets the same answer
      val (arrowOnly, arrowOnlyRuns) = withExecutions(
        postSync(server.url, sql, graft.transport.ArrowCodec.ContentType))
      assert(arrowOnlyRuns.size == 1, arrowOnlyRuns)
      assert(arrowOnly.statusCode() == 200)
      val (decoded, _) = org.apache.spark.sql.graft.ColumnBridge.fromArrowStream(
        spark, arrowOnly.body())
      assert(fieldsOf(decoded) == parquetFields)
      assert(decoded.collect().toSeq == parquetOnly)
    }
  }

  test("a DECIMAL, nested and interval entity crosses as Arrow to negotiating and Arrow-only callers") {
    import org.apache.spark.sql.types.{ArrayType, DayTimeIntervalType, DecimalType, LongType, StringType}
    val prices = Entity("prices", Seq(
      Information("doc_id", LongType), Information("price", DecimalType(12, 2)),
      Information("words", ArrayType(StringType)), Information("age", DayTimeIntervalType())))
    val src = DataSource(
      id = "prices_src",
      sourceSql = "SELECT * FROM raw_documents",
      mappings = Seq(FieldMapping("doc_id", "doc_id"),
        FieldMapping("price", "n_chars", Transformation("{v} / 100")),
        FieldMapping("words", "text", Transformation("split({v}, ' ')")),
        FieldMapping("age", "n_chars", Transformation("make_dt_interval(0, 0, 0, {v})"))),
      defaultPermission = SourcePermission(Set("doc_id", "n_chars", "text"), "true"))
    val mesh = Mesh(Map("beta" -> Site("beta",
      entities = Map("prices" -> prices),
      localSources = Map("prices" -> Seq(src)))))
    withServer(mesh, "beta") { server =>
      val sql = "SELECT doc_id, price, words, age FROM prices"
      val (parquetFields, parquetOnly) = parquetOnlyAnswer(server.url, sql, "doc_id")
      assert(parquetFields == prices.informations.map(i => (i.name, i.dtype)))
      val resp = postSync(server.url, sql, RelayClient.SyncAccept)
      assert(resp.statusCode() == 200)
      assert(resp.headers().firstValue("Content-Type").get ==
        graft.transport.ArrowCodec.ContentType)
      val fetched = syncFetch(server.url, sql)
      assert(decodedInMemory(fetched))
      assert(fieldsOf(fetched) == parquetFields)
      assert(fetched.orderBy("doc_id").collect().toSeq == parquetOnly)
      val arrowOnly = postSync(server.url, sql, graft.transport.ArrowCodec.ContentType)
      assert(arrowOnly.statusCode() == 200)
      val (decoded, _) = org.apache.spark.sql.graft.ColumnBridge.fromArrowStream(
        spark, arrowOnly.body())
      assert(fieldsOf(decoded) == parquetFields)
      assert(decoded.orderBy("doc_id").collect().toSeq == parquetOnly)
    }
  }

  test("negotiated wire hop answers a result past the Arrow byte bound in parquet, from one execution") {
    // range(n) splits into contiguous id ranges: the first quarter carries
    // wide rows (over the bound by itself, so its task writes parquet), the
    // rest narrow rows that come back to the driver; the answer is one
    // parquet file in id order
    val n = 2 * RelayServer.WireArrowMaxBytes / 256
    val src = DataSource(
      id = "skewed_docs",
      sourceSql = s"""SELECT id AS doc_id, repeat('x', IF(id < $n / 4, 1024, 8)) AS text,
                     |'en' AS lang, 'gen' AS source, 8L AS n_chars
                     |FROM range($n)""".stripMargin,
      mappings = identityDocMappings,
      defaultPermission = SourcePermission(docCols, "true"))
    withServer(betaMesh(src), "beta") { server =>
      val sql = "SELECT doc_id, text, n_chars FROM documents"
      val (fetched, runs) = withExecutions(syncFetch(server.url, sql))
      assert(!decodedInMemory(fetched))
      assert(runs.size == 1, runs)
      val (parquetFields, parquetOnly) = parquetOnlyAnswer(server.url, sql, "doc_id")
      assert(parquetOnly.size == n)
      assert(fieldsOf(fetched) == parquetFields)
      assert(fetched.collect().toSeq == parquetOnly)
      // a caller accepting only Arrow is refused with 413, decided from
      // one execution of the query
      val (arrowOnly, arrowOnlyRuns) = withExecutions(
        postSync(server.url, sql, graft.transport.ArrowCodec.ContentType))
      assert(arrowOnly.statusCode() == 413)
      assert(arrowOnlyRuns.size == 1, arrowOnlyRuns)
    }
  }

  test("an Arrow-only caller gets 413 exactly when the result is past the Arrow byte bound") {
    // a row of (doc_id, 1000-byte text, n_chars) is 1032 UnsafeRow bytes:
    // an 8-byte null bitset, three 8-byte slots and the text
    val fit = RelayServer.WireArrowMaxBytes / 1032
    def source(n: Long) = DataSource(
      id = s"docs_$n",
      sourceSql = s"""SELECT id AS doc_id, repeat('x', 1000) AS text, 'en' AS lang,
                     |'gen' AS source, 8L AS n_chars FROM range($n)""".stripMargin,
      mappings = identityDocMappings,
      defaultPermission = SourcePermission(docCols, "true"))
    val sql = "SELECT doc_id, text, n_chars FROM documents"
    for ((n, code) <- Seq(fit -> 200, (fit + 1) -> 413))
      withServer(betaMesh(source(n)), "beta") { server =>
        val resp = postSync(server.url, sql, graft.transport.ArrowCodec.ContentType)
        assert(resp.statusCode() == code, n)
      }
  }

  test("a multi-partition parquet-only answer keeps the Arrow answer's rows and order, from one execution") {
    val src = DataSource(
      id = "ranged_docs",
      sourceSql = """SELECT id AS doc_id, concat('t', id) AS text, 'en' AS lang,
                    |'gen' AS source, id AS n_chars FROM range(0, 400, 1, 4)""".stripMargin,
      mappings = identityDocMappings,
      defaultPermission = SourcePermission(docCols, "true"))
    withServer(betaMesh(src), "beta") { server =>
      val sql = "SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 3"
      assert(new MeshSession(spark, betaMesh(src), "beta").sql(sql).rdd.getNumPartitions > 1)
      val viaArrow = syncFetch(server.url, sql)
      assert(decodedInMemory(viaArrow))
      val (resp, runs) = withExecutions(postSync(server.url, sql, ParquetType))
      assert(runs.size == 1, runs)
      assert(resp.statusCode() == 200)
      assert(resp.headers().firstValue("Content-Type").get == ParquetType)
      val f = java.nio.file.Files.createTempFile("graft_spec_", ".parquet")
      java.nio.file.Files.write(f, resp.body())
      try {
        val parquetOnly = spark.read.parquet(f.toString)
        assert(fieldsOf(parquetOnly) == fieldsOf(viaArrow))
        assert(parquetOnly.collect().toSeq == viaArrow.collect().toSeq)
        assert(parquetOnly.count() == 400 - 57)
      } finally java.nio.file.Files.delete(f)
    }
  }

  test("resolving over an endpoint peer leaves no wire temp file behind") {
    withServer(betaMesh(), "beta") { server =>
      val stub = RelayClient.catalogSite(server.url)
      val tmpDir = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
      def wireFiles(): Set[String] = {
        val s = java.nio.file.Files.list(tmpDir)
        try s.iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith("graft_wire_")).toSet
        finally s.close()
      }
      val before = wireFiles()
      val wired = EntityResolver.resolve(spark, alphaMesh(stub), "alpha", "documents")
      assert(wired.count() == spark.table("raw_documents").count())
      assert(wireFiles() -- before == Set.empty[String])
    }
  }

  test("invalid SQL over the wire surfaces the validator's error as HTTP 400") {
    withServer(betaMesh(), "beta") { server =>
      val err = intercept[RelayClient.RelayException] {
        RelayClient.syncFetch(spark, server.url,
          "INSERT INTO documents VALUES (1)", user = None,
          viaRelay = "", visited = Set.empty, withProvenance = false)
      }
      assert(err.getMessage.contains("400"))
    }
  }
}
