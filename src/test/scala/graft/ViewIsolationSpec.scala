package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver queries must be order-independent: a mesh query that reads an
  * entity under a restricted user's ACL must not leak it into SQL-surface
  * queries that run later in the same session (the name is shared by
  * design — the reference requires user SQL to address the bare entity
  * name; each query binds it for itself). Regression for the old
  * view-registration memoization bug where q4's restricted
  * `lineitem_entity` shrank q11's input. */
class ViewIsolationSpec extends AnyFunSuite {

  lazy val spark = TestSessions.spark
  private def sfDir = TestSessions.sfDir

  test("driver entry smoke: flagship query returns rows at sf0.001") {
    // the driver's first gate — entry() must work on the tiniest fixture
    val rows = SparkEntry.entry(spark).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getLong(3) > 0)) // count_order per group
  }

  test("restricted mesh query does not shrink later SQL-surface queries") {
    val q11 = SparkEntry.queries("q11_window_funcs")
    val before = q11(spark, sfDir).count()
    // q4 resolves the lineitem entity under the DEFAULT (restricted) ACL
    // and binds it as `lineitem_entity`
    SparkEntry.queries("q4_tpch_q1_acl_default")(spark, sfDir).collect()
    val after = q11(spark, sfDir).count()
    assert(after == before,
      s"q11 changed from $before to $after rows after an ACL-scoped mesh query")
  }

  test("a MeshSession entity view under a BARE table name does not shadow raw tables") {
    val q32 = SparkEntry.queries("q32_tpch_q5_join")
    val before = q32(spark, sfDir).collect().toSeq
    // the mesh API binds the queried entity under its bare name
    // ('lineitem'), exactly where the raw physical table lives — with the
    // restricted default ACL (no user), far fewer rows
    val session = new graft.mesh.MeshSession(spark, graft.mesh.Fixtures.mesh, "global")
    session.sql("SELECT count(*) AS n FROM lineitem", user = None).collect()
    val after = q32(spark, sfDir).collect().toSeq
    assert(after == before,
      "q32 results changed after a mesh query registered 'lineitem' as an entity view")
  }
}
