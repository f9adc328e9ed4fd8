package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog._
import graft.mesh.{Fixtures, MeshRegistry, MeshSession}
import graft.queries.PlanCache

/** The round-16 analysis-plan cache: plans (never rows) are memoized per
  * (session, key) against a scope object's reference identity — so a hit
  * must return the SAME frame, a registry mutation or scope swap must
  * re-analyze, and every action on a cached plan must still execute from
  * the parquet sources. */
class PlanCacheSpec extends AnyFunSuite {

  lazy val spark = TestSessions.spark
  private def sfDir = TestSessions.sfDir

  test("hit returns the same plan instance; scope swap rebuilds") {
    val scopeA = new Object
    var builds = 0
    def build() = { builds += 1; spark.range(3).toDF("n") }
    val df1 = PlanCache.of(spark, "spec:key1", scopeA)(build())
    val df2 = PlanCache.of(spark, "spec:key1", scopeA)(build())
    assert(df1 eq df2)
    assert(builds == 1)
    val scopeB = new Object
    val df3 = PlanCache.of(spark, "spec:key1", scopeB)(build())
    assert(builds == 2)
    assert(!(df3 eq df1))
    // stamp change alone also rebuilds (the MeshSession epoch semantics)
    PlanCache.of(spark, "spec:key1", scopeB, stamp = 7L)(build()): Unit
    assert(builds == 3)
  }

  test("cached SqlSurface plan executes from parquet on every action (no stored rows)") {
    val fn = SparkEntry.queries("q16_scalar_funcs")
    val a = fn(spark, sfDir)
    val b = fn(spark, sfDir)
    assert(a eq b, "second invocation should hit the plan cache")
    // the cached object is a PLAN over the file sources: no LocalRelation
    // of materialized rows, no InMemoryRelation — an action scans parquet
    val optimized = a.queryExecution.optimizedPlan
    assert(optimized.collect {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation
        if l.data.nonEmpty => l
    }.isEmpty, "cached plan must not embed materialized rows")
    val executed = a.queryExecution.executedPlan.toString
    assert(!executed.contains("InMemoryTableScan"))
    assert(executed.contains("Scan parquet") || executed.contains("FileScan"),
      s"expected a parquet scan in:\n$executed")
    // and the values equal a fresh, uncached analysis of the same text
    assert(a.count() == b.count())
  }

  test("cached plans equal fresh analysis value-for-value (mesh + bridged forms)") {
    for (name <- Seq("q3_tpch_q1_mesh", "q39_quantified_anyall", "q44_array_ordering")) {
      val fn = SparkEntry.queries(name)
      val cached = fn(spark, sfDir) // second+ call in the suite = a hit
      val fresh = fn(spark, sfDir)
      assert(cached eq fresh)
      assert(cached.collect().map(_.toString).toSeq ==
        fresh.collect().map(_.toString).toSeq)
    }
  }

  test("MeshSession: identical text hits; a registry mutation invalidates the plan") {
    Fixtures.registerRaw(spark, sfDir)
    val reg = new MeshRegistry(Fixtures.mesh)
    val session = new MeshSession(spark, reg, "global")
    reg.upsertEntity("global", Entity("pc_probe", Seq(Information("k", LongType))))
    def src(t: Transformation) = DataSource(
      id = "pc_src", sourceSql = "SELECT * FROM raw_region",
      mappings = Seq(FieldMapping("k", "r_regionkey", t)),
      defaultPermission = SourcePermission(Set("r_regionkey"), "true"))
    reg.upsertLocalSource("global", "pc_probe", src(Transformation.identity))
    val q = "select k from pc_probe order by k"
    val df1 = session.sql(q)
    val df2 = session.sql(q)
    assert(df1 eq df2, "unchanged registry + epoch must hit the plan cache")
    assert(df2.agg(sum(col("k"))).head.getLong(0) == 10) // 0+1+2+3+4
    // admin upsert swaps the registry's Mesh value: the SAME text must
    // re-resolve and see the new mapping — a stale cached plan would
    // still return the untransformed values
    reg.upsertLocalSource("global", "pc_probe", src(Transformation("{v} * 10")))
    val df3 = session.sql(q)
    assert(!(df3 eq df2), "mutation must invalidate the cached plan")
    assert(df3.agg(sum(col("k"))).head.getLong(0) == 100)
    // a shared-view shadow (epoch bump) also re-analyzes
    val df4 = session.sql(q)
    assert(df4 eq df3)
    graft.mesh.ViewEpoch.noteShadow()
    assert(!(session.sql(q) eq df4), "an epoch bump must invalidate")
  }

  test("MeshSession: a repeated text sees a wire peer's change (endpoint paths skip the cache)") {
    import graft.transport.{RelayClient, RelayServer}
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
    // beta: a registry-backed peer relay over its own socket
    val betaReg = new MeshRegistry(Mesh(Map("beta" -> Site("beta", Map.empty))))
    val betaSession = new MeshSession(spark, betaReg, "beta")
    val dir = java.nio.file.Files.createTempDirectory("graft_pc_peer").toString
    val beta = new RelayServer(betaSession,
      new graft.mesh.QueryService(betaSession, dir), registry = Some(betaReg))
    try {
      RelayClient.adminApply(beta.url, docsYaml("doc_id < 5"))
      val stub = RelayClient.catalogSite(beta.url)
      val docs = stub.entities("documents")
      val alpha = new MeshSession(spark, Mesh(Map(
        "alpha" -> Site("alpha",
          entities = Map("documents" -> docs),
          remoteMappings = Map("documents" -> Seq(RemoteEntityMapping(
            peer = "beta", remoteEntity = "documents",
            infoMappings = docs.informations.map(i =>
              RemoteInfoMapping(i.name, i.name)))))),
        "beta" -> stub)), "alpha")
      val q = "select doc_id from documents order by doc_id"
      def expected(filter: String) = spark.table("raw_documents").where(filter)
        .select(col("doc_id")).orderBy("doc_id").collect().toSeq
      assert(alpha.sql(q).collect().toSeq == expected("doc_id < 5"))
      // the peer's source changes; alpha's own catalog does not
      RelayClient.adminApply(beta.url, docsYaml("doc_id < 8"))
      assert(expected("doc_id < 8") != expected("doc_id < 5"))
      assert(alpha.sql(q).collect().toSeq == expected("doc_id < 8"))
    } finally beta.stop()
  }
}
