package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.mesh.Fixtures

/** Mesh-semantics queries (SURVEY §2.4): rewrite operators R5-R14 observable
  * end-to-end — ACL row/column policy, null-padding, per-hop transformation
  * composition, provenance injection, and the two partial-aggregate
  * recombination modes the reference tests (`test/validation.py:29-61`).
  */
object MeshQueries {

  /** Analysis-plan cached (round-16): the view registration + epoch bump
    * + SQL analysis happen only when the MEMOIZED resolved view (the
    * scope object) changes — a cache hit touches no catalog state, so it
    * also stops the per-query shadow bump that forced every later
    * raw/entity re-assert (~45 ms) on unrelated queries. Results still
    * compute from parquet on every action (PlanCacheSpec). */
  private def meshSql(user: Option[String], sql: String)(
      s: SparkSession, dir: String): DataFrame = {
    val view = Fixtures.lineitemView(s, dir, user)
    PlanCache.of(s, s"mesh:$dir:${user.getOrElse("")}:$sql", view) {
      view.createOrReplaceTempView("lineitem_entity")
      graft.mesh.ViewEpoch.noteShadow()
      s.sql(sql)
    }
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_proj_filter_limit" -> ((s, dir) => meshSql(Some("admin"),
      """SELECT linenumber, tax_amount FROM lineitem_entity
        |WHERE tax_percent > 3
        |ORDER BY tax_amount DESC, orderkey, linenumber, quantity, extendedprice LIMIT 10""".stripMargin)(s, dir)),

    "q2_star_nullpad_acl" -> ((s, dir) => meshSql(None,
      """SELECT * FROM lineitem_entity WHERE tax_percent > 3
        |ORDER BY orderkey, linenumber, quantity, extendedprice, partkey LIMIT 10000""".stripMargin)(s, dir)),

    "q3_tpch_q1_mesh" -> ((s, dir) => meshSql(Some("admin"),
      """SELECT returnflag, linestatus,
        |       round(sum(quantity), 2) AS sum_qty,
        |       round(sum(CAST(round(extendedprice * 100) AS BIGINT)) / CAST(100 AS DOUBLE), 2) AS sum_base_price,
        |       round(sum(CAST(round(extendedprice * (1 - discount_percent / 100) * 100) AS BIGINT)) / CAST(100 AS DOUBLE), 2) AS sum_disc_price,
        |       round(avg(quantity), 4) AS avg_qty,
        |       count(*) AS count_order
        |FROM lineitem_entity
        |WHERE shipdate <= DATE '1998-09-02'
        |GROUP BY returnflag, linestatus
        |ORDER BY returnflag, linestatus""".stripMargin)(s, dir)),

    "q4_tpch_q1_acl_default" -> ((s, dir) => meshSql(None,
      """SELECT returnflag, linestatus,
        |       round(sum(quantity), 2) AS sum_qty,
        |       round(avg(quantity), 4) AS avg_qty,
        |       count(*) AS count_order
        |FROM lineitem_entity
        |GROUP BY returnflag, linestatus
        |ORDER BY returnflag, linestatus""".stripMargin)(s, dir)),

    "q5_provenance_counts" -> { (s, dir) =>
      val view = Fixtures.lineitemView(s, dir, Some("admin"), withProvenance = true)
      PlanCache.of(s, s"mesh:$dir:q5", view) {
        view.createOrReplaceTempView("lineitem_entity_prov")
        graft.mesh.ViewEpoch.noteShadow()
        s.sql(
          """SELECT _source_relay_, _source_id_, count(*) AS n,
            |       round(sum(CAST(round(tax_amount * 100) AS BIGINT)) / CAST(100 AS DOUBLE), 2) AS sum_tax
            |FROM lineitem_entity_prov
            |GROUP BY _source_relay_, _source_id_
            |ORDER BY _source_relay_, _source_id_""".stripMargin)
      }
    },

    // Explicit client-side recombination of per-site partial aggregates —
    // the reference's second execution mode (`test/validation.py:29-43`:
    // each relay returns partial sums/counts; the client computes the
    // global weighted average). Runs the full grouped query per leaf site,
    // unions the partials, then re-aggregates.
    "q6_partial_recombine" -> { (s, dir) =>
      // plan-cached on the raw-frame scope: the three per-site
      // resolutions are pure plan construction over the memoized raw
      // views (~100 ms of driver time per invocation)
      PlanCache.of(s, s"mesh:$dir:q6", Fixtures.rawScope(s, dir)) {
        val mesh = Fixtures.mesh
        val partials = Seq("na", "emea", "apac").map { site =>
          graft.mesh.EntityResolver.resolve(s, mesh, site, "lineitem", Some("admin"))
            .groupBy(col("returnflag"), col("linestatus"))
            .agg(sum(col("quantity")).as("p_sum_qty"), count(lit(1)).as("p_count"))
        }
        partials.reduce(_.unionByName(_))
          .groupBy(col("returnflag"), col("linestatus"))
          .agg(
            round(sum(col("p_sum_qty")) / sum(col("p_count")), 4).as("avg_qty"),
            sum(col("p_count")).as("count_order"))
          .orderBy(col("returnflag"), col("linestatus"))
      }
    },

    // Two-hop transformation composition (R10): na_us exposes quantity ×2,
    // na's hop mapping divides by 2 — global must see the original values.
    "q7_transform_compose" -> ((s, dir) => meshSql(Some("admin"),
      """SELECT orderkey, linenumber, quantity FROM lineitem_entity
        |WHERE orderkey % 30 = 0
        |ORDER BY orderkey, linenumber, quantity, extendedprice""".stripMargin)(s, dir)),

    // Nested JSON DataField path: the telemetry entity's `k` maps from
    // `$.props.k` (rendered as get_json_object over the physical column;
    // `core/src/model/data_stores/mod.rs:55-62`).
    "q8_jsonpath_field" -> { (s, dir) =>
      PlanCache.of(s, s"mesh:$dir:q8", Fixtures.rawScope(s, dir)) {
        graft.mesh.EntityResolver
          .resolve(s, Fixtures.mesh, "global", "telemetry", Some("admin"))
          .createOrReplaceTempView("telemetry_entity")
        graft.mesh.ViewEpoch.noteShadow()
        s.sql(
          """SELECT event_type, count(*) AS n, sum(k) AS sum_k
            |FROM telemetry_entity
            |GROUP BY event_type ORDER BY event_type""".stripMargin)
      }
    },

    // Federation OVER THE WIRE: a second relay surface is served on
    // loopback TCP (`transport.RelayServer` — the reference's Flight/REST
    // boundary), the local site registers it from its /catalog and the
    // resolver crosses a real HTTP socket to fetch the odd-doc_id half.
    // Provenance and per-lang aggregates must equal the plain single-table
    // oracle — the wire must be semantically invisible.
    "q9_wire_federation" -> { (s, dir) =>
      import graft.catalog._
      import graft.transport.{RelayClient, RelayServer}
      Fixtures.registerRaw(s, dir)
      val docCols = Set("doc_id", "text", "lang", "source", "n_chars")
      val idMap = Fixtures.documentsEntity.informations
        .map(i => FieldMapping(i.name, i.name))
      def slice(id: String, filt: String) = DataSource(
        id = id,
        sourceSql = s"SELECT * FROM raw_documents WHERE $filt",
        mappings = idMap,
        defaultPermission = SourcePermission(docCols, "true"))
      val betaMesh = Mesh(Map("beta" -> Site("beta",
        entities = Map("documents" -> Fixtures.documentsEntity),
        localSources = Map("documents" -> Seq(slice("docs_odd", "doc_id % 2 = 1"))))))
      val betaSession = new graft.mesh.MeshSession(s, betaMesh, "beta")
      val resultDir =
        java.nio.file.Files.createTempDirectory("graft_q9_results").toString
      val server = new RelayServer(
        betaSession, new graft.mesh.QueryService(betaSession, resultDir))
      try {
        val stub = RelayClient.catalogSite(server.url)
        val mesh = Mesh(Map(
          "alpha" -> Site("alpha",
            entities = Map("documents" -> Fixtures.documentsEntity),
            localSources =
              Map("documents" -> Seq(slice("docs_even", "doc_id % 2 = 0"))),
            remoteMappings = Map("documents" -> Seq(
              RemoteEntityMapping(peer = "beta", remoteEntity = "documents",
                infoMappings = Fixtures.documentsEntity.informations
                  .map(i => RemoteInfoMapping(i.name, i.name)))))),
          "beta" -> stub))
        // the wire fetch happens here (resolve-time do_get); afterwards the
        // remote half is held in memory and the server can go
        graft.mesh.EntityResolver
          .resolve(s, mesh, "alpha", "documents", withProvenance = true)
          .groupBy(col("lang"), col(graft.mesh.EntityResolver.SourceIdCol))
          .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
          .orderBy(col("lang"), col(graft.mesh.EntityResolver.SourceIdCol))
      } finally {
        server.stop()
        // the server spills per-task results under resultDir; nothing
        // references them once the wire fetch has landed locally — clean
        // up so repeated runs in a reused sandbox can't accumulate or
        // collide on stale task spills
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
          f.delete(): Unit
        }
        rm(new java.io.File(resultDir))
      }
    })

  def oracleSql: Map[String, String] = Map(
    "q1_proj_filter_limit" ->
      s"""SELECT linenumber, tax_amount FROM (${Views.lineitemOracle})
         |WHERE tax_percent > 3
         |ORDER BY tax_amount DESC, orderkey, linenumber, quantity, extendedprice LIMIT 10""".stripMargin,

    "q2_star_nullpad_acl" ->
      s"""SELECT * FROM (${Views.lineitemDefaultOracle}) WHERE tax_percent > 3
         |ORDER BY orderkey, linenumber, quantity, extendedprice, partkey LIMIT 10000""".stripMargin,

    "q3_tpch_q1_mesh" ->
      s"""SELECT returnflag, linestatus,
         |       round(sum(quantity), 2) AS sum_qty,
         |       round(sum(CAST(round(extendedprice * 100) AS BIGINT)) / CAST(100 AS DOUBLE), 2) AS sum_base_price,
         |       round(sum(CAST(round(extendedprice * (1 - discount_percent / 100) * 100) AS BIGINT)) / CAST(100 AS DOUBLE), 2) AS sum_disc_price,
         |       round(avg(quantity), 4) AS avg_qty,
         |       count(*) AS count_order
         |FROM (${Views.lineitemOracle})
         |WHERE shipdate <= DATE '1998-09-02'
         |GROUP BY returnflag, linestatus
         |ORDER BY returnflag, linestatus""".stripMargin,

    "q4_tpch_q1_acl_default" ->
      s"""SELECT returnflag, linestatus,
         |       round(sum(quantity), 2) AS sum_qty,
         |       round(avg(quantity), 4) AS avg_qty,
         |       count(*) AS count_order
         |FROM (${Views.lineitemDefaultOracle})
         |GROUP BY returnflag, linestatus
         |ORDER BY returnflag, linestatus""".stripMargin,

    "q5_provenance_counts" ->
      """SELECT CASE l_orderkey % 3 WHEN 0 THEN 'na_us' WHEN 1 THEN 'emea' ELSE 'apac' END AS _source_relay_,
        |       CASE l_orderkey % 3 WHEN 0 THEN 'na_us_lineitem_parquet'
        |            WHEN 1 THEN 'emea_lineitem_parquet' ELSE 'apac_lineitem_parquet' END AS _source_id_,
        |       count(*) AS n, round(sum(CAST(round(l_tax * l_extendedprice * 100) AS BIGINT)) / CAST(100 AS DOUBLE), 2) AS sum_tax
        |FROM lineitem
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q6_partial_recombine" ->
      """SELECT l_returnflag AS returnflag, l_linestatus AS linestatus,
        |       round(sum(l_quantity) / count(*), 4) AS avg_qty,
        |       count(*) AS count_order
        |FROM lineitem
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q7_transform_compose" ->
      """SELECT l_orderkey AS orderkey, CAST(l_linenumber AS BIGINT) AS linenumber,
        |       l_quantity AS quantity
        |FROM lineitem WHERE l_orderkey % 30 = 0
        |ORDER BY orderkey, linenumber, quantity, l_extendedprice""".stripMargin,

    "q8_jsonpath_field" ->
      """SELECT event_type, count(*) AS n,
        |       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
        |FROM events
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // CAST the integer sum: DuckDB's sum(BIGINT) yields HUGEINT, which
    // surfaces to Arrow as decimal128(38,0) while Spark's sum is int64 —
    // numerically-equal values that HASH differently in the driver's
    // value-hash compare (the exact rows/schema-green-hash-red signature
    // q9 showed for three rounds; tools/compare.py masked it because
    // Python Decimal(123) == 123 is true).
    "q9_wire_federation" ->
      """SELECT lang,
        |       CASE WHEN doc_id % 2 = 0 THEN 'docs_even' ELSE 'docs_odd' END AS _source_id_,
        |       count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
}
