package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites, on the engine every graft
  * main runs. */
object TestSessions {
  lazy val spark: SparkSession = GraftSession("local[4]")

  val sfDir = "/root/testdata/sf0.001"
}
