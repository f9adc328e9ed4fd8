package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.mesh.Fixtures

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every query gets (SparkSession, sfDir) and returns a DataFrame whose
  * column names match the paired `oracleSql` (DuckDB) exactly; results are
  * fully ordered so hashes are deterministic.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    val df = Fixtures.lineitemView(spark, "/root/testdata/sf0.001")
    org.apache.spark.sql.graft.ColumnBridge.bind(spark,
      """SELECT returnflag, linestatus, round(sum(quantity), 2) AS sum_qty,
        |       count(*) AS count_order
        |FROM lineitem_entity GROUP BY returnflag, linestatus
        |ORDER BY returnflag, linestatus""".stripMargin,
      Map("lineitem_entity" -> df))
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.queries.MeshQueries.queries ++
      graft.queries.SqlSurface.queries ++
      graft.pipeline.PipelineQueries.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    graft.queries.MeshQueries.oracleSql ++
      graft.queries.SqlSurface.oracleSql ++
      graft.pipeline.PipelineQueries.oracleSql

  /** Same map with the stored-ANN artifact paths derived from `sfDir`
    * (ss3/ss5/ss6 parity oracles) — what Verify dumps, so the compare
    * gate runs at any scale, not just the driver's sf0.01. */
  def oracleSqlFor(sfDir: String): Map[String, String] =
    graft.queries.MeshQueries.oracleSql ++
      graft.queries.SqlSurface.oracleSql ++
      graft.pipeline.PipelineQueries.oracleSqlFor(sfDir)
}
