package graft

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, Expression, Literal}
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.Mesh
import graft.mesh.{Fixtures, MeshRegistry, MeshSession, QueryService}
import graft.plans.{ParamLiteral, ParamLiteralStrategy}
import graft.transport.{ArrowCodec, RelayClient, RelayServer}

/** Comparison literals in filters are planned as references: a relay
  * query shape compiles its classes once whatever its literals, and every
  * answer equals the answer of a session planning plain literals. */
class ParamLiteralSpec extends AnyFunSuite {

  lazy val spark = TestSessions.spark
  private def sfDir = TestSessions.sfDir

  /** Classes Spark's codegen compiled in this JVM while `f` ran. */
  private def compiling[A](f: => A): (A, Long) = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val a = f
    (a, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before)
  }

  private def postSync(url: String, sql: String): Array[Byte] = {
    val body = new com.fasterxml.jackson.databind.ObjectMapper()
      .createObjectNode().put("sql", sql).put("user", "admin").toString
    val resp = java.net.http.HttpClient.newHttpClient().send(
      java.net.http.HttpRequest.newBuilder(java.net.URI.create(url + "/query/sync"))
        .header("Content-Type", "application/json")
        .header("Accept", ArrowCodec.ContentType)
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body))
        .build(),
      java.net.http.HttpResponse.BodyHandlers.ofByteArray())
    assert(resp.statusCode() == 200, new String(resp.body()))
    resp.body()
  }

  test("a seen relay shape with new int, date and double literals compiles no class at global or apac") {
    Fixtures.registerRaw(spark, sfDir)
    def results(site: String) = Files.createTempDirectory(s"graft_pl_$site").toString
    val apacSession = new MeshSession(spark, Fixtures.mesh, "apac")
    val apac = new RelayServer(apacSession, new QueryService(apacSession, results("apac")))
    try {
      val registry = new MeshRegistry(
        Mesh(Fixtures.mesh.sites + ("apac" -> RelayClient.catalogSite(apac.url))))
      val session = new MeshSession(spark, registry, "global")
      val global = new RelayServer(session, new QueryService(session, results("global")),
        registry = Some(registry))
      try {
        def text(n: Int, q: String, d: String) =
          "SELECT orderkey, linenumber, quantity, shipdate FROM lineitem " +
            s"WHERE linenumber <= $n AND quantity > $q AND shipdate >= DATE '$d' " +
            "ORDER BY orderkey, linenumber"
        postSync(global.url, text(4, "20.5", "1995-03-04"))
        val next = text(5, "12.25", "1996-07-19")
        val (body, classes) = compiling(postSync(global.url, next))
        assert(classes == 0, s"$classes classes compiled for a seen shape")
        val (answer, _) = org.apache.spark.sql.graft.ColumnBridge.fromArrowStream(spark, body)
        val want = new MeshSession(spark, Fixtures.mesh, "global")
          .sql(next, Some("admin")).collect().toSeq
        assert(want.nonEmpty)
        assert(answer.collect().toSeq == want)
      } finally global.stop()
    } finally apac.stop()
  }

  // ---- value-exactness against plain literals -------------------------

  private val schema = StructType(Seq(
    StructField("id", IntegerType), StructField("b", ByteType),
    StructField("s", ShortType), StructField("i", IntegerType),
    StructField("l", LongType), StructField("f", FloatType),
    StructField("d", DoubleType), StructField("dt", DateType),
    StructField("ts", TimestampType), StructField("tsn", TimestampNTZType),
    StructField("flag", BooleanType)))

  /** NaN, ±0.0 and ±Infinity, the integral types' extremes, dates and
    * timestamps each side of the epoch, and a row of nulls. */
  private lazy val dataDir: String = {
    def d(s: String) = java.sql.Date.valueOf(s)
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    def ntz(s: String) = java.time.LocalDateTime.parse(s)
    val rows = Seq(
      Row(1, 1.toByte, 100.toShort, -5, -10000000000L, 1.5f, Double.NaN,
        d("1969-12-31"), ts("1969-12-31 23:59:59.5"), ntz("1969-12-31T23:59:59.5"), true),
      Row(2, -3.toByte, -200.toShort, 0, 0L, -0.0f, -0.0,
        d("1970-01-01"), ts("1970-01-01 00:00:00"), ntz("1970-01-01T00:00:00"), false),
      Row(3, 127.toByte, 32767.toShort, 7, 1L << 40, Float.NaN, 0.0,
        d("2024-02-29"), ts("2024-02-29 12:00:00.123456"), ntz("2024-02-29T12:00:00.123456"), true),
      Row(4, 0.toByte, 0.toShort, Int.MaxValue, Long.MinValue, 3.25f, Double.PositiveInfinity,
        d("1900-01-01"), ts("1900-01-01 00:00:00"), ntz("1900-01-01T00:00:00"), false),
      Row(5, null, null, null, null, null, null, null, null, null, null),
      Row(6, -128.toByte, -32768.toShort, Int.MinValue, 42L, -1e-3f, -2.5,
        d("2000-06-15"), ts("2000-06-15 10:20:30"), ntz("2000-06-15T10:20:30"), true))
    val dir = Files.createTempDirectory("graft_param_lit").resolve("t").toString
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .write.parquet(dir)
    dir
  }

  private val cases = Seq(
    "d = CAST('NaN' AS DOUBLE)", "d <=> CAST('NaN' AS DOUBLE)", "d > 0.0",
    "d = -0.0", "d = 0.0", "d < CAST('Infinity' AS DOUBLE)", "d >= -2.5",
    "f = CAST(-0.0 AS FLOAT)", "f > CAST(1.5 AS FLOAT)", "f = CAST('NaN' AS FLOAT)",
    "b = CAST(-3 AS TINYINT)", "b > CAST(0 AS TINYINT)",
    "s <= CAST(-200 AS SMALLINT)", "s = CAST(32767 AS SMALLINT)",
    "i = 0", "i > -6", "l < 0", "l >= 1099511627776",
    "dt < DATE '1970-01-01'", "dt >= DATE '1969-12-31'", "dt = DATE '2024-02-29'",
    "ts < TIMESTAMP '1970-01-01 00:00:00'", "ts >= TIMESTAMP '1969-12-31 23:59:59.5'",
    "ts = TIMESTAMP '2024-02-29 12:00:00.123456'",
    "tsn < TIMESTAMP_NTZ '1970-01-01 00:00:00'", "tsn > TIMESTAMP_NTZ '1969-12-31 23:59:59'",
    "flag <=> false", "flag > false",
    "i > 5 OR d < -1.0", "NOT (dt >= DATE '1970-01-01')",
    "NOT (i = 0 OR ts < TIMESTAMP '1970-01-01 00:00:00')")

  /** Default codegen; expression codegen without whole-stage codegen; and
    * interpreted evaluation, which needs whole-stage codegen off too (the
    * factory mode governs only the per-expression generators). */
  private val modes = Seq(
    Map.empty[String, String],
    Map("spark.sql.codegen.wholeStage" -> "false"),
    Map("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))

  private def withConf[A](sessions: Seq[SparkSession], conf: Map[String, String])(f: => A): A = {
    sessions.foreach(s => conf.foreach { case (k, v) => s.conf.set(k, v) })
    try f finally sessions.foreach(s => conf.keys.foreach(s.conf.unset))
  }

  private def filters(df: DataFrame): Seq[Expression] = {
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case other => other +: other.children.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan).collect { case f: FilterExec => f.condition }
  }

  private def explained(df: DataFrame): String = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out)(df.explain())
    out.toString.replaceAll("#\\d+", "#").replaceAll("plan_id=\\d+", "plan_id=")
  }

  /** The table in a session with the strategy and in a fresh session
    * without it (`newSession` starts from no extra strategies). */
  private def sessions: (SparkSession, SparkSession) = {
    val plain = spark.newSession()
    assert(!plain.experimental.extraStrategies.contains(ParamLiteralStrategy))
    assert(spark.experimental.extraStrategies.contains(ParamLiteralStrategy))
    Seq(spark, plain).foreach(_.read.parquet(dataDir).createOrReplaceTempView("pl_t"))
    (spark, plain)
  }

  test("every wrapped type compares exactly as a plain literal, under every codegen mode") {
    val (withParams, plain) = sessions
    for (mode <- modes; c <- cases) withConf(Seq(withParams, plain), mode) {
      val q = s"SELECT * FROM pl_t WHERE $c ORDER BY id"
      val df = withParams.sql(q)
      val got = df.collect().toSeq
      assert(filters(df).exists(_.exists(_.isInstanceOf[ParamLiteral])), s"$c: nothing wrapped")
      val plainDf = plain.sql(q)
      val want = plainDf.collect().toSeq
      assert(got.map(_.toString) == want.map(_.toString), s"$c under $mode")
      // the wrapped literal prints as the plain one
      assert(explained(df) == explained(plainDf), s"$c under $mode")
    }
  }

  test("a null comparison literal stays a plain Literal and answers the same") {
    val (withParams, plain) = sessions
    // keep `i > NULL` in the plan: these rules would fold it away
    val keepNull = Map("spark.sql.optimizer.excludedRules" -> Seq(
      "NullPropagation", "ConstantFolding", "ReplaceNullWithFalseInPredicate")
      .map("org.apache.spark.sql.catalyst.optimizer." + _).mkString(","))
    for (mode <- modes) withConf(Seq(withParams, plain), mode ++ keepNull) {
      def query(s: SparkSession) = s.table("pl_t")
        .where(col("i") > typedLit[java.lang.Integer](null) || col("i") === 7)
        .orderBy("id")
      val df = query(withParams)
      val comparisons = filters(df).flatMap(_.collect { case c: BinaryComparison => c })
      assert(comparisons.exists(_.children.contains(Literal(null, IntegerType))),
        filters(df).mkString("; "))
      assert(comparisons.exists(_.children.exists(_.isInstanceOf[ParamLiteral])))
      assert(df.collect().toSeq == query(plain).collect().toSeq)
      assert(df.collect().map(_.getInt(0)).toSeq == Seq(3))
    }
  }
}
