package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{RowDataSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog._
import graft.mesh.{Fixtures, MeshRegistry, MeshSession, QueryService}
import graft.transport.{RelayClient, RelayServer}

/** An endpoint peer's branch is a relay scan: each query execution sends
  * the peer its required columns and exact filters, the answer never
  * depends on the peer honouring them, and a session resolves each entity
  * once per catalog while every execution fetches anew. */
class RelayPushdownSpec extends AnyFunSuite {

  lazy val spark = TestSessions.spark
  private def sfDir = TestSessions.sfDir

  private val things = Entity("things", Seq(
    Information("id", LongType), Information("s", StringType),
    Information("d", DateType), Information("ts", TimestampType),
    Information("x", DoubleType), Information("v", LongType)))

  /** The peer's rows: strings with quote, backslash, LIKE wildcards and
    * non-ASCII text, dates and timestamps on both sides of the epoch, a
    * negative double, NaN, -0.0 and -Infinity, and nulls. */
  private def registerThings(): Unit = {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    def d(s: String) = java.sql.Date.valueOf(s)
    val rows = Seq(
      Row(1L, "it's", d("2024-01-02"), ts("2024-01-02 03:04:05.123456"), -2.5, 10L),
      Row(2L, "back\\slash", d("2024-01-03"), ts("2024-01-03 00:00:00"), Double.NaN, 20L),
      Row(3L, "50% off_sale", d("2023-12-31"), ts("2023-12-31 23:59:59.999999"), 3.0, 30L),
      Row(4L, "héllo wörld ✓", d("2024-02-29"), ts("2024-02-29 12:00:00"), -0.0, 40L),
      Row(5L, "50x offXsale", null, null, null, 50L),
      Row(6L, null, d("1969-12-31"), ts("1969-12-31 23:59:59.5"),
        Double.NegativeInfinity, 60L))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), things.schema)
      .createOrReplaceTempView("pd_things")
  }

  private val beta = Site("beta",
    entities = Map("things" -> things),
    localSources = Map("things" -> Seq(DataSource(
      id = "things_src", sourceSql = "SELECT * FROM pd_things",
      mappings = things.informations.map(i => FieldMapping(i.name, i.name)),
      defaultPermission = SourcePermission(things.informations.map(_.name).toSet, "true")))))

  /** Alpha maps `things` from peer `peer`; `v` through `vTransform`. */
  private def alphaMesh(peer: Site, vTransform: Transformation = Transformation.identity) =
    Mesh(Map(
      "alpha" -> Site("alpha",
        entities = Map("things" -> things),
        remoteMappings = Map("things" -> Seq(RemoteEntityMapping(
          peer = "beta", remoteEntity = "things",
          infoMappings = things.informations.map(i =>
            if (i.name == "v") RemoteInfoMapping("v", "v", vTransform)
            else RemoteInfoMapping(i.name, i.name)))))),
      "beta" -> peer))

  private def withBeta[A](f: String => A): A = {
    registerThings()
    val session = new MeshSession(spark, Mesh(Map("beta" -> beta)), "beta")
    val dir = java.nio.file.Files.createTempDirectory("graft_pd_results").toString
    val server = new RelayServer(session, new QueryService(session, dir))
    try f(server.url) finally server.stop()
  }

  private def stub(url: String) = Site("beta", Map("things" -> things), endpoint = Some(url))

  /** The relay scans in `df`'s physical plan (planning fetches). */
  private def relayScans(df: DataFrame): Seq[RowDataSourceScanExec] = {
    def walk(p: SparkPlan): Seq[RowDataSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case s: RowDataSourceScanExec if s.relation.toString.startsWith("RelayScan") => Seq(s)
      case other => other.children.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan)
  }

  /** The SQL each relay scan in `df`'s plan sends. */
  private def wireSqls(df: DataFrame): Seq[String] =
    relayScans(df).map(_.relation.toString.replaceFirst("^RelayScan beta: ", ""))

  test("pushed literals round-trip: strings, dates, timestamps, doubles, null tests and NOT") {
    withBeta { url =>
      val wire = new MeshSession(spark, alphaMesh(stub(url)), "alpha")
      val inProc = new MeshSession(spark, alphaMesh(beta), "alpha")
      val filters = Seq(
        "s = 'it\\'s'", "s = 'back\\\\slash'", "s = '50% off_sale'",
        "s = 'héllo wörld ✓'",
        "d = DATE '2024-02-29'", "d < DATE '1970-01-01'",
        "ts = TIMESTAMP '2024-01-02 03:04:05.123456'",
        "ts < TIMESTAMP '1970-01-01 00:00:00'",
        "x < -1.0", "x = CAST('NaN' AS DOUBLE)", "x > 2.5",
        "s IS NULL", "x IS NOT NULL", "NOT (s = 'it\\'s')")
      for (f <- filters) {
        val q = s"SELECT id, s, d, ts, x FROM things WHERE $f ORDER BY id"
        val df = wire.sql(q)
        val sent = wireSqls(df)
        assert(sent.size == 1 && sent.head.contains(" WHERE "), s"$f was not pushed: $sent")
        val want = inProc.sql(q).collect().toSeq
        assert(want.nonEmpty, f)
        assert(df.collect().toSeq.map(_.toString) == want.map(_.toString), s"$f sent ${sent.head}")
      }
    }
  }

  test("EXPLAIN of a star text over an endpoint entity shows the pushed WHERE and only the selected columns") {
    withBeta { url =>
      val wire = new MeshSession(spark, alphaMesh(stub(url)), "alpha")
      val star = wire.sql("SELECT * FROM things WHERE id BETWEEN 2 AND 4")
      val explained = new java.io.ByteArrayOutputStream()
      Console.withOut(explained)(star.explain())
      // the whole text, pinned: the filter's literals are planned as
      // references (ParamLiteralStrategy) and print as plain literals
      assert(explained.toString.replaceAll("#\\d+", "#").trim ==
        """== Physical Plan ==
          |*(1) Filter ((isnotnull(id#L) AND (id#L >= 2)) AND (id#L <= 4))
          |+- *(1) Scan RelayScan beta: SELECT `id`, `s`, `d`, `ts`, `x`, `v` FROM (SELECT * FROM things) AS __graft_hop WHERE `id` IS NOT NULL AND `id` >= 2 AND `id` <= 4 [id#L,s#,d#,ts#,x#,v#L] PushedFilters: [IsNotNull(id), GreaterThanOrEqual(id,2), LessThanOrEqual(id,4)], ReadSchema: struct<id:bigint,s:string,d:date,ts:timestamp,x:double,v:bigint>"""
          .stripMargin, explained)
      assert(relayScans(star).nonEmpty && star.queryExecution.executedPlan.exists {
        case f: org.apache.spark.sql.execution.FilterExec =>
          f.condition.exists(_.isInstanceOf[graft.plans.ParamLiteral])
        case _ => false
      })
      // the peer answers with the matching rows only
      assert(star.collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 3L, 4L))
      assert(relayScans(star).map(_.metrics("numOutputRows").value) == Seq(3L))
      val proj = wire.sql("SELECT s FROM things WHERE x < 0")
      assert(wireSqls(proj) == Seq(
        "SELECT `s`, `x` FROM (SELECT * FROM things) AS __graft_hop " +
          "WHERE `x` IS NOT NULL AND `x` < CAST('0.0' AS DOUBLE)"))
    }
  }

  test("a filter on a transformed endpoint column is not pushed, and the answer is right") {
    withBeta { url =>
      val half = Transformation("{v} / 2")
      val wire = new MeshSession(spark, alphaMesh(stub(url), half), "alpha")
      val inProc = new MeshSession(spark, alphaMesh(beta, half), "alpha")
      val q = "SELECT id, v FROM things WHERE v > 20 ORDER BY id"
      val df = wire.sql(q)
      val sent = wireSqls(df)
      // only the null test Catalyst infers below the transform may go
      assert(sent.size == 1 && sent.head.startsWith(
        "SELECT `id`, `v` FROM (SELECT * FROM things) AS __graft_hop"), sent)
      assert(!sent.head.contains(">") && !sent.head.contains("20"), sent)
      assert(df.collect().toSeq == inProc.sql(q).collect().toSeq)
      assert(df.collect().map(_.getLong(0)).toSeq == Seq(5L, 6L))
    }
  }

  test("count(*) over an endpoint entity requests one column") {
    withBeta { url =>
      val wire = new MeshSession(spark, alphaMesh(stub(url)), "alpha")
      val df = wire.sql("SELECT count(*) AS n FROM things")
      assert(wireSqls(df) == Seq("SELECT `id` FROM (SELECT * FROM things) AS __graft_hop"))
      assert(df.head().getLong(0) == 6L)
    }
  }

  test("a peer that ignores the pushed SQL and serves the whole entity still yields the right answer") {
    withBeta { url =>
      // forwards every sync request to the real peer as `SELECT * FROM things`
      val http = java.net.http.HttpClient.newHttpClient()
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val fake = com.sun.net.httpserver.HttpServer.create(
        new java.net.InetSocketAddress("127.0.0.1", 0), 0)
      fake.createContext("/", (ex: com.sun.net.httpserver.HttpExchange) => {
        val body = mapper.readTree(ex.getRequestBody)
          .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
        body.put("sql", "SELECT * FROM things")
        val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url + "/query/sync"))
          .header("Content-Type", "application/json")
          .header("Accept", ex.getRequestHeaders.getFirst("Accept"))
          .POST(java.net.http.HttpRequest.BodyPublishers.ofByteArray(mapper.writeValueAsBytes(body)))
          .build()
        val resp = http.send(req, java.net.http.HttpResponse.BodyHandlers.ofByteArray())
        resp.headers().map().forEach((k, v) =>
          if (k != null && k.toLowerCase.startsWith("content-type") ||
              k != null && k.toLowerCase.startsWith("x-graft"))
            ex.getResponseHeaders.put(k, v))
        ex.sendResponseHeaders(resp.statusCode(),
          if (resp.body().isEmpty) -1 else resp.body().length.toLong)
        ex.getResponseBody.write(resp.body())
        ex.close()
      })
      fake.start()
      try {
        val fakeUrl = s"http://127.0.0.1:${fake.getAddress.getPort}"
        val wire = new MeshSession(spark, alphaMesh(stub(fakeUrl)), "alpha")
        val inProc = new MeshSession(spark, alphaMesh(beta), "alpha")
        val q = "SELECT s, id FROM things WHERE id >= 3 AND x IS NOT NULL ORDER BY id"
        val df = wire.sql(q)
        assert(wireSqls(df).head.contains(" WHERE "))
        assert(df.collect().toSeq == inProc.sql(q).collect().toSeq)
        assert(df.collect().map(_.getLong(1)).toSeq == Seq(3L, 4L, 6L))
      } finally fake.stop(0)
    }
  }

  test("a repeated /query/sync GROUP BY text over an endpoint entity sees the peer's change") {
    Fixtures.registerRaw(spark, sfDir)
    def docsYaml(filter: String) =
      s"""api_version: v1alpha1
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
         |  name: beta_conn
         |  data_sources:
         |    - name: docs_some
         |      source_sql: SELECT * FROM raw_documents WHERE $filter
         |      fields:
         |        - {name: doc_id, path: doc_id}
         |        - {name: lang, path: lang}
         |---
         |api_version: v1alpha1
         |kind: LocalMapping
         |spec:
         |  entity_name: documents
         |  mappings:
         |    - data_con_name: beta_conn
         |      source_mappings:
         |        - data_source_name: docs_some
         |          field_mappings:
         |            - {info: doc_id, field: doc_id}
         |            - {info: lang, field: lang}
         |""".stripMargin
    val betaReg = new MeshRegistry(Mesh(Map("beta" -> Site("beta", Map.empty))))
    val betaSession = new MeshSession(spark, betaReg, "beta")
    val betaServer = new RelayServer(betaSession, new QueryService(betaSession,
      java.nio.file.Files.createTempDirectory("graft_pd_beta").toString), registry = Some(betaReg))
    try {
      RelayClient.adminApply(betaServer.url, docsYaml("doc_id < 5"))
      val stub = RelayClient.catalogSite(betaServer.url)
      val docs = stub.entities("documents")
      val alpha = new MeshSession(spark, Mesh(Map(
        "alpha" -> Site("alpha",
          entities = Map("documents" -> docs),
          remoteMappings = Map("documents" -> Seq(RemoteEntityMapping(
            peer = "beta", remoteEntity = "documents",
            infoMappings = docs.informations.map(i => RemoteInfoMapping(i.name, i.name)))))),
        "beta" -> stub)), "alpha")
      val alphaServer = new RelayServer(alpha, new QueryService(alpha,
        java.nio.file.Files.createTempDirectory("graft_pd_alpha").toString))
      try {
        val q = "SELECT lang, count(*) AS n FROM documents GROUP BY lang ORDER BY lang"
        def sync() = RelayClient.syncFetch(spark, alphaServer.url, q, user = None,
          viaRelay = "", visited = Set.empty, withProvenance = false).collect().toSeq
        def expected(filter: String) = spark.table("raw_documents").where(filter)
          .groupBy("lang").agg(count(lit(1)).as("n")).orderBy("lang").collect().toSeq
        assert(sync() == expected("doc_id < 5"))
        RelayClient.adminApply(betaServer.url, docsYaml("doc_id < 8"))
        assert(expected("doc_id < 8") != expected("doc_id < 5"))
        assert(sync() == expected("doc_id < 8"))
      } finally alphaServer.stop()
    } finally betaServer.stop()
  }

  test("two different texts for the same user resolve the entity once") {
    withBeta { url =>
      val wire = new MeshSession(spark, alphaMesh(stub(url)), "alpha")
      // the resolved entity's leaves keep their attribute ids in every
      // query bound over it; a second resolution would mint new ones
      def leafIds(df: DataFrame) =
        df.queryExecution.analyzed.collectLeaves().flatMap(_.output.map(_.exprId)).toSet
      val a = wire.sql("SELECT id FROM things WHERE x > 0", Some("u1"))
      val b = wire.sql("SELECT s, count(*) AS n FROM things GROUP BY s", Some("u1"))
      assert(leafIds(a).nonEmpty && leafIds(a) == leafIds(b))
      // another user is another resolution
      val c = wire.sql("SELECT id FROM things WHERE x > 0", Some("u2"))
      assert((leafIds(c) intersect leafIds(a)).isEmpty)
      assert(a.collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 3L)) // NaN > 0
    }
  }
}
