package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.mesh.{EntityResolver, Fixtures}

/** The resolved entity frames SQL-surface queries read (webengine path:
  * every entity becomes an ordinary queryable table bound to its own
  * provider, `webengine/src/register.rs:36-90`), plus their DuckDB oracle
  * reconstructions. Cross-entity SQL runs on Catalyst, which pushes
  * projection/filter/limit into each per-source branch — the Spark-native
  * equivalent of the reference's scan-template pushdown (SURVEY §2.5). */
object Views {
  /** DuckDB-side reconstruction of the resolved `lineitem` entity view for
    * the all-access user. */
  val lineitemOracle: String =
    """SELECT l_orderkey AS orderkey, l_partkey AS partkey, l_suppkey AS suppkey,
      |       CAST(l_linenumber AS BIGINT) AS linenumber, l_quantity AS quantity,
      |       l_extendedprice AS extendedprice, l_discount * 100 AS discount_percent,
      |       l_tax * 100 AS tax_percent, l_tax * l_extendedprice AS tax_amount,
      |       l_extendedprice / l_quantity AS unitprice, l_returnflag AS returnflag,
      |       l_linestatus AS linestatus, CAST(l_shipdate AS DATE) AS shipdate,
      |       CAST(NULL AS DATE) AS commitdate, CAST(NULL AS DATE) AS receiptdate
      |FROM lineitem""".stripMargin

  /** Same view under the default (non-admin) policy. */
  val lineitemDefaultOracle: String =
    """SELECT l_orderkey AS orderkey, l_partkey AS partkey,
      |       CAST(NULL AS BIGINT) AS suppkey,
      |       CAST(l_linenumber AS BIGINT) AS linenumber, l_quantity AS quantity,
      |       l_extendedprice AS extendedprice, l_discount * 100 AS discount_percent,
      |       l_tax * 100 AS tax_percent, l_tax * l_extendedprice AS tax_amount,
      |       l_extendedprice / l_quantity AS unitprice, l_returnflag AS returnflag,
      |       l_linestatus AS linestatus, CAST(l_shipdate AS DATE) AS shipdate,
      |       CAST(NULL AS DATE) AS commitdate, CAST(NULL AS DATE) AS receiptdate
      |FROM lineitem WHERE l_returnflag = 'N'""".stripMargin

  val customerOracle: String =
    """SELECT c_custkey AS custkey, c_name AS customername,
      |       CAST(c_nationkey AS BIGINT) AS nationkey, c_acctbal AS acctbal,
      |       c_mktsegment AS mktsegment FROM customer""".stripMargin

  val ordersOracle: String =
    """SELECT o_orderkey AS orderkey, o_custkey AS custkey,
      |       o_orderstatus AS orderstatus, o_totalprice AS totalprice,
      |       CAST(o_orderdate AS DATE) AS orderdate,
      |       o_orderpriority AS orderpriority FROM orders""".stripMargin

  /** The lineitem/customer/orders entities resolved from `global` for the
    * all-access user, keyed by the names SQL-surface queries bind them to
    * (`lineitem_entity`, `customer_entity`, `orders_entity`); the raw
    * physical tables are registered too. Memoized per (session, sf)
    * ([[graft.SessionArtifacts]] `entities`): resolution is pure plan
    * construction (5-site walk, per-branch SQL analysis, ACL probes —
    * ~100ms of driver time), and the resolved DataFrame captures its plan
    * eagerly, so one resolution serves every later query. */
  def entities(spark: SparkSession, sfDir: String): Map[String, DataFrame] = {
    Fixtures.registerRaw(spark, sfDir)
    graft.SessionArtifacts(spark, sfDir, "entities") {
      val admin = Some("admin")
      Seq("lineitem", "customer", "orders").map { e =>
        s"${e}_entity" -> EntityResolver.resolve(spark, Fixtures.mesh, "global", e, admin)
      }.toMap
    }
  }
}
