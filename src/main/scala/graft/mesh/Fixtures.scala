package graft.mesh

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

import graft.catalog._

/** Test/demo mesh mirroring the reference's 5-relay dev web
  * (`deploy/compose.yaml`: global, na, na_us, emea, apac) over the driver's
  * deterministic parquet tables (TESTDATA.md).
  *
  * Topology:
  *  - leaf sites `na_us`, `emea`, `apac` each own a disjoint slice of
  *    `lineitem` (`l_orderkey % 3 = 0/1/2`);
  *  - `na` holds no local data and peers `na_us` — its remote info mapping
  *    for `quantity` composes with `na_us`'s local transform
  *    (×2 at the leaf, ÷2 on the hop → identity end-to-end), exercising
  *    `Transformation::compose` semantics across hops
  *    (`core/src/model/mappings.rs:137-149`);
  *  - `global` peers `na`, `emea`, `apac` and owns `customer`/`orders`
  *    entities locally.
  *
  * ACL mirrors the reference dev web (`test/validation.py:45-61`): the
  * default policy hides rows with `l_returnflag <> 'N'` and denies the
  * `l_suppkey` column (null-padded); user "admin" has an all-access override.
  */
object Fixtures {
  val RawTables: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings")

  /** Register the raw physical parquet tables as temp views, once per
    * (session, sfDir) ([[graft.SessionArtifacts]] `raw`): under their bare
    * names and `raw_`-prefixed (source SQL reads the prefixed names). Mesh
    * and query paths bind entities by name for one query and register
    * nothing, so these views are never shadowed and need no re-assert.
    *
    * `events.parquet` stores `ts` as parquet TIMESTAMP(NANOS), which Spark's
    * vectorized reader rejects; read it as nanos-long and truncate to
    * microsecond TimestampType (matching DuckDB's ns->us semantics). */
  def registerRaw(spark: SparkSession, sfDir: String): Unit = {
    // library-native SQL functions ride along with the raw tables: any
    // session that can see `documents` can call vec_dot/word_ngrams
    graft.functions.VectorFunctions.register(spark)
    graft.functions.TextFunctions.register(spark)
    graft.SessionArtifacts(spark, sfDir, "raw") {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      RawTables.foreach { t =>
        // LocalLayout: opt-in (SPARK_GRAFT_COMPACT=1) row-group
        // compaction for scan parallelism; default passthrough — see
        // LocalLayout's doc for the measured trade-off
        val df = graft.sources.LocalLayout.parquet(spark, s"$sfDir/$t.parquet")
        val fixed =
          if (t == "events" && df.schema("ts").dataType == org.apache.spark.sql.types.LongType)
            df.withColumn("ts",
              org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
          else if (t == "events")
            df.withColumn("ts",
              org.apache.spark.sql.functions.col("ts")
                .cast(org.apache.spark.sql.types.TimestampType))
          else df
        fixed.createOrReplaceTempView(t)
        fixed.createOrReplaceTempView(s"raw_$t")
      }
    }
  }

  val lineitemEntity: Entity = Entity("lineitem", Seq(
    Information("orderkey", LongType),
    Information("partkey", LongType),
    Information("suppkey", LongType),
    Information("linenumber", LongType),
    Information("quantity", DoubleType),
    Information("extendedprice", DoubleType),
    Information("discount_percent", DoubleType),
    Information("tax_percent", DoubleType),
    Information("tax_amount", DoubleType),
    Information("unitprice", DoubleType),
    Information("returnflag", StringType),
    Information("linestatus", StringType),
    Information("shipdate", DateType),
    Information("commitdate", DateType),   // unmapped everywhere -> NULL
    Information("receiptdate", DateType))) // unmapped everywhere -> NULL

  val customerEntity: Entity = Entity("customer", Seq(
    Information("custkey", LongType),
    Information("customername", StringType),
    Information("nationkey", LongType),
    Information("acctbal", DoubleType),
    Information("mktsegment", StringType)))

  /** Documents as a mesh entity: the default policy hides the synthetic
    * 'zh' slice and denies the source column — so pipeline operators
    * running over the entity view are automatically ACL-scoped. */
  val documentsEntity: Entity = Entity("documents", Seq(
    Information("doc_id", LongType),
    Information("text", StringType),
    Information("lang", StringType),
    Information("source", StringType),
    Information("n_chars", LongType)))

  /** Telemetry as a mesh entity whose `k` information maps from a nested
    * JSON path into the events `props` column — the reference's
    * DataField.path contract (`core/src/model/data_stores/mod.rs:55-62`). */
  val telemetryEntity: Entity = Entity("telemetry", Seq(
    Information("event_id", LongType),
    Information("event_type", StringType),
    Information("k", LongType)))

  val ordersEntity: Entity = Entity("orders", Seq(
    Information("orderkey", LongType),
    Information("custkey", LongType),
    Information("orderstatus", StringType),
    Information("totalprice", DoubleType),
    Information("orderdate", DateType),
    Information("orderpriority", StringType)))

  private val lineitemPhysCols = Set(
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
    "l_shipdate", "tax_amount_phys", "unitprice_phys")

  private val allAccess = SourcePermission(lineitemPhysCols, "true")
  // default: no l_suppkey column, only 'N' returnflag rows
  private val defaultAccess =
    SourcePermission(lineitemPhysCols - "l_suppkey", "l_returnflag = 'N'")

  /** Standard field mappings for a lineitem slice source; `quantityTransform`
    * lets a leaf expose a transformed quantity (the compose fixture). */
  private def lineitemMappings(quantityTransform: Transformation): Seq[FieldMapping] = Seq(
    FieldMapping("orderkey", "l_orderkey"),
    FieldMapping("partkey", "l_partkey"),
    FieldMapping("suppkey", "l_suppkey"),
    FieldMapping("linenumber", "l_linenumber"),
    FieldMapping("quantity", "l_quantity", quantityTransform),
    FieldMapping("extendedprice", "l_extendedprice"),
    FieldMapping("discount_percent", "l_discount", Transformation("{v} * 100")),
    FieldMapping("tax_percent", "l_tax", Transformation("{v} * 100")),
    FieldMapping("tax_amount", "tax_amount_phys"),
    FieldMapping("unitprice", "unitprice_phys"),
    FieldMapping("returnflag", "l_returnflag"),
    FieldMapping("linestatus", "l_linestatus"),
    FieldMapping("shipdate", "l_shipdate", Transformation("CAST({v} AS DATE)")))

  private def lineitemSlice(id: String, mod: Int, qt: Transformation): DataSource =
    DataSource(
      id = id,
      sourceSql =
        s"""SELECT *, l_tax * l_extendedprice AS tax_amount_phys,
           |       l_extendedprice / l_quantity AS unitprice_phys
           |FROM raw_lineitem WHERE l_orderkey % 3 = $mod""".stripMargin,
      mappings = lineitemMappings(qt),
      defaultPermission = defaultAccess,
      userPermissions = Map("admin" -> allAccess))

  private val identityInfoMappings: Seq[RemoteInfoMapping] =
    lineitemEntity.informations.map(i => RemoteInfoMapping(i.name, i.name))

  def mesh: Mesh = {
    // leaf slices; na_us exposes quantity ×2 (undone by na's hop mapping)
    val naUs = Site("na_us",
      entities = Map("lineitem" -> lineitemEntity),
      localSources = Map("lineitem" ->
        Seq(lineitemSlice("na_us_lineitem_parquet", 0, Transformation("{v} * 2")))))
    val emea = Site("emea",
      entities = Map("lineitem" -> lineitemEntity),
      localSources = Map("lineitem" ->
        Seq(lineitemSlice("emea_lineitem_parquet", 1, Transformation.identity))))
    val apac = Site("apac",
      entities = Map("lineitem" -> lineitemEntity),
      localSources = Map("lineitem" ->
        Seq(lineitemSlice("apac_lineitem_parquet", 2, Transformation.identity))))

    val na = Site("na",
      entities = Map("lineitem" -> lineitemEntity),
      remoteMappings = Map("lineitem" -> Seq(
        RemoteEntityMapping(
          peer = "na_us", remoteEntity = "lineitem",
          infoMappings = identityInfoMappings.map {
            case m if m.localInfo == "quantity" =>
              m.copy(transform = Transformation("{v} / 2"))
            case m => m
          }))))

    val customerSource = DataSource(
      id = "global_customer_parquet",
      sourceSql = "SELECT * FROM raw_customer",
      mappings = Seq(
        FieldMapping("custkey", "c_custkey"),
        FieldMapping("customername", "c_name"),
        FieldMapping("nationkey", "c_nationkey"),
        FieldMapping("acctbal", "c_acctbal"),
        FieldMapping("mktsegment", "c_mktsegment")),
      defaultPermission = SourcePermission(
        Set("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"), "true"))

    val ordersSource = DataSource(
      id = "global_orders_parquet",
      sourceSql = "SELECT * FROM raw_orders",
      mappings = Seq(
        FieldMapping("orderkey", "o_orderkey"),
        FieldMapping("custkey", "o_custkey"),
        FieldMapping("orderstatus", "o_orderstatus"),
        FieldMapping("totalprice", "o_totalprice"),
        FieldMapping("orderdate", "o_orderdate", Transformation("CAST({v} AS DATE)")),
        FieldMapping("orderpriority", "o_orderpriority")),
      defaultPermission = SourcePermission(
        Set("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderdate", "o_orderpriority"), "true"))

    val documentsSource = DataSource(
      id = "global_documents_parquet",
      sourceSql = "SELECT * FROM raw_documents",
      mappings = Seq(
        FieldMapping("doc_id", "doc_id"),
        FieldMapping("text", "text"),
        FieldMapping("lang", "lang"),
        FieldMapping("source", "source"),
        FieldMapping("n_chars", "n_chars")),
      defaultPermission = SourcePermission(
        Set("doc_id", "text", "lang", "n_chars"), "lang <> 'zh'"),
      userPermissions = Map("admin" -> SourcePermission(
        Set("doc_id", "text", "lang", "source", "n_chars"), "true")))

    val telemetrySource = DataSource(
      id = "global_telemetry_parquet",
      sourceSql = "SELECT * FROM raw_events",
      mappings = Seq(
        FieldMapping("event_id", "event_id"),
        FieldMapping("event_type", "event_type"),
        FieldMapping("k", "$.props.k")), // nested JSON DataField path
      defaultPermission = SourcePermission(
        Set("event_id", "event_type", "props"), "true"))

    val global = Site("global",
      entities = Map(
        "lineitem" -> lineitemEntity,
        "customer" -> customerEntity,
        "orders" -> ordersEntity,
        "documents" -> documentsEntity,
        "telemetry" -> telemetryEntity),
      localSources = Map(
        "customer" -> Seq(customerSource),
        "orders" -> Seq(ordersSource),
        "documents" -> Seq(documentsSource),
        "telemetry" -> Seq(telemetrySource)),
      remoteMappings = Map("lineitem" -> Seq(
        RemoteEntityMapping(peer = "na", remoteEntity = "lineitem",
          infoMappings = identityInfoMappings),
        RemoteEntityMapping(peer = "emea", remoteEntity = "lineitem",
          infoMappings = identityInfoMappings),
        RemoteEntityMapping(peer = "apac", remoteEntity = "lineitem",
          infoMappings = identityInfoMappings))))

    Mesh(Map(
      "global" -> global, "na" -> na, "na_us" -> naUs,
      "emea" -> emea, "apac" -> apac))
  }

  /** Convenience: the fully-resolved lineitem view from `global` for `user`.
    * Memoized per (session, sfDir, user, provenance) — resolution is pure
    * plan construction. */
  def lineitemView(
      spark: SparkSession, sfDir: String,
      user: Option[String] = Some("admin"),
      withProvenance: Boolean = false): DataFrame = {
    registerRaw(spark, sfDir)
    graft.SessionArtifacts(spark, sfDir, s"lineitemView:$user:$withProvenance")(
      EntityResolver.resolve(spark, mesh, "global", "lineitem", user, withProvenance))
  }

  def entityView(
      spark: SparkSession, sfDir: String, entity: String,
      user: Option[String] = Some("admin")): DataFrame = {
    registerRaw(spark, sfDir)
    EntityResolver.resolve(spark, mesh, "global", entity, user)
  }
}
