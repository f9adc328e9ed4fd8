package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog._
import graft.mesh.{EntityResolver, Fixtures, MeshSession, QueryService}
import graft.validation.SqlValidator

/** User SQL is bound to the resolved entity by name, for that one query:
  * the relay substitutes the entity's mapped, access-controlled sources
  * for the table reference (`core/src/execute/map_local.rs:24-36`) without
  * writing anything into the session's temp-view catalog. */
class EntityBindingSpec extends AnyFunSuite {

  lazy val spark = TestSessions.spark
  private def sfDir = TestSessions.sfDir

  private def global = new MeshSession(spark, Fixtures.mesh, "global")
  private def lineitem(user: Option[String] = Some("admin")) =
    EntityResolver.resolve(spark, Fixtures.mesh, "global", "lineitem", user)

  /** Every table the catalog lists, with what it reads. */
  private def catalogState(): Map[(String, Boolean), Int] =
    spark.catalog.listTables().collect().map { t =>
      (t.name, t.isTemporary) ->
        spark.table(t.name).queryExecution.analyzed.semanticHash()
    }.toMap

  test("a user CTE named like the entity reads the bound entity in its body") {
    Fixtures.registerRaw(spark, sfDir)
    val n = global.sql(
      """WITH lineitem AS (SELECT * FROM lineitem WHERE returnflag = 'N')
        |SELECT count(*) AS n FROM lineitem""".stripMargin, Some("admin"))
      .head().getLong(0)
    assert(n == lineitem().where(col("returnflag") === "N").count())
    assert(n > 0 && n < lineitem().count())
  }

  test("a mixed-case entity name binds, and the same-named raw table stays as it was") {
    Fixtures.registerRaw(spark, sfDir)
    val docCols = Set("doc_id", "text", "lang", "source", "n_chars")
    val site = Site("mixed",
      entities = Map("Documents" -> Fixtures.documentsEntity.copy(name = "Documents")),
      localSources = Map("Documents" -> Seq(DataSource(
        id = "docs_en", sourceSql = "SELECT * FROM raw_documents WHERE lang = 'en'",
        mappings = Fixtures.documentsEntity.informations
          .map(i => FieldMapping(i.name, i.name)),
        defaultPermission = SourcePermission(docCols, "true")))))
    val session = new MeshSession(spark, Mesh(Map("mixed" -> site)), "mixed")
    val raw = spark.table("documents").count()
    val got = session.sql("SELECT count(*) AS n FROM Documents").head().getLong(0)
    assert(got == spark.table("raw_documents").where(col("lang") === "en").count())
    assert(got < raw)
    // catalog names are case-insensitive: a registered `Documents` view
    // would have replaced the raw `documents` table
    assert(spark.table("documents").count() == raw)
  }

  test("an entity referenced inside an IN (subquery) binds in both places") {
    Fixtures.registerRaw(spark, sfDir)
    val got = global.sql(
      """SELECT count(*) AS n FROM lineitem
        |WHERE orderkey IN (SELECT orderkey FROM lineitem WHERE quantity > 45)""".stripMargin,
      Some("admin")).head().getLong(0)
    val li = lineitem()
    val keys = li.where(col("quantity") > 45).select("orderkey").distinct()
    assert(got == li.join(keys, Seq("orderkey"), "left_semi").count())
    assert(got > 0)
  }

  test("returnSchema casts the bound query's output column by column") {
    Fixtures.registerRaw(spark, sfDir)
    val schema = StructType(Seq(
      StructField("orderkey", StringType), StructField("quantity", LongType)))
    val q = "SELECT orderkey, quantity FROM lineitem ORDER BY orderkey, linenumber LIMIT 5"
    val cast = global.sql(q, Some("admin"), returnSchema = Some(schema))
    assert(cast.schema == schema)
    val plain = global.sql(q, Some("admin")).collect()
    assert(cast.collect().toSeq.map(r => (r.getString(0), r.getLong(1))) ==
      plain.toSeq.map(r => (r.getLong(0).toString, r.getDouble(1).toLong)))
  }

  test("the validator's single-entity rule still rejects a second relation") {
    Fixtures.registerRaw(spark, sfDir)
    val e = intercept[SqlValidator.InvalidQuery] {
      global.sql(
        "SELECT * FROM lineitem WHERE orderkey IN (SELECT orderkey FROM orders)",
        Some("admin"))
    }
    assert(e.getMessage.contains("exactly one entity"))
  }

  test("mesh, peer, async and q-family queries leave the session catalog unchanged") {
    Fixtures.registerRaw(spark, sfDir)
    val before = catalogState()
    val session = global
    session.sql("SELECT count(*) AS n FROM lineitem", user = None).collect()
    assert(catalogState() == before, "MeshSession.sql changed the catalog")
    session.sqlForPeer("SELECT count(*) AS n FROM documents", None,
      viaRelay = Some("na"), alsoVisited = Set("na"), withProvenance = true).collect()
    assert(catalogState() == before, "sqlForPeer changed the catalog")
    val dir = java.nio.file.Files.createTempDirectory("graft_bind_async").toString
    val service = new QueryService(session, dir)
    val id = service.submit("SELECT doc_id FROM documents WHERE doc_id < 10")
    assert(service.await(id).status == QueryService.Complete)
    assert(catalogState() == before, "an async submit changed the catalog")
    SparkEntry.queries("q4_tpch_q1_acl_default")(spark, sfDir).collect()
    assert(catalogState() == before, "a MeshQueries query changed the catalog")
    SparkEntry.queries("q11_window_funcs")(spark, sfDir).collect()
    assert(catalogState() == before, "a SqlSurface query changed the catalog")
  }

  test("two sessions alternating distinct texts from two threads keep every cached plan") {
    Fixtures.registerRaw(spark, sfDir)
    val sessions = Seq(global, global)
    val texts = Seq(
      Seq("SELECT count(*) AS n FROM documents WHERE lang = 'en'",
        "SELECT max(doc_id) AS m FROM documents"),
      Seq("SELECT count(*) AS n FROM customer",
        "SELECT min(custkey) AS m FROM customer WHERE acctbal > 0"))
    val rounds = 3
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val seen = Array.fill(2)(
      scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.DataFrame])
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def await(): Unit =
      barrier.await(120, java.util.concurrent.TimeUnit.SECONDS): Unit
    val threads = (0 until 2).map { t =>
      new Thread(() => {
        try for (_ <- 0 until rounds; text <- texts(t)) {
          // each thread's next text waits for the other's previous one,
          // so every repeat follows a plan (a miss, in round one) of the
          // other session
          if (t == 1) await()
          sessions(t).sql(text, Some("admin"))
          // each call binds a fresh Dataset; a hit is the memoized entity
          seen(t) += sessions(t).resolveFor(text, Some("admin"), withProvenance = false)._2
          if (t == 0) await()
        } catch { case e: Throwable => failures.add(e); barrier.reset() }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(300000))
    assert(failures.isEmpty, failures.toString)
    for (t <- 0 until 2) {
      assert(seen(t).size == rounds * texts(t).size)
      val first = seen(t).take(texts(t).size)
      seen(t).grouped(texts(t).size).foreach { round =>
        round.zip(first).foreach { case (df, df0) =>
          assert(df eq df0, s"session $t re-resolved a repeated text")
        }
      }
    }
  }
}
