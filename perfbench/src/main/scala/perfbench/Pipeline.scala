package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** One operator execution: construction (building the DataFrame, which
  * may run eager jobs) and the action that materializes its rows. */
final case class OpRun(name: String, family: String, constructNs: Long, actionNs: Long,
    constructJobs: Long, rows: Array[Row], schema: StructType, error: Option[String]) {
  def seconds: Double = (constructNs + actionNs) / 1e9
}

/** The pipeline-batch workload: one caller runs the pinned operators in
  * seeded order, once in a fresh session (cold pass) and then again in
  * warm passes. */
final class Pipeline(spark: SparkSession, dataDir: String, tracer: Tracer,
    counters: Option[SparkCounters]) {
  private val jobs: () => Long = () => counters.map(_.jobs.get).getOrElse(0L)
  private val fns: Map[String, (SparkSession, String) => DataFrame] =
    graft.pipeline.PipelineQueries.queries

  def missing: Seq[String] = Ops.PipelineOps.map(_._2).filterNot(fns.contains)

  def run(k: Int, family: String, name: String): OpRun = {
    val jobs0 = jobs()
    val t0 = System.nanoTime()
    var t1 = t0
    var jobs1 = jobs0
    try {
      val df = tracer.span(k, "pipeline.construct") { fns(name)(spark, dataDir) }
      t1 = System.nanoTime()
      jobs1 = jobs()
      val rows = tracer.span(k, "pipeline.action") { df.collect() }
      OpRun(name, family, t1 - t0, System.nanoTime() - t1, jobs1 - jobs0, rows, df.schema, None)
    } catch {
      case e: Throwable =>
        OpRun(name, family, t1 - t0, System.nanoTime() - t1, jobs1 - jobs0, Array.empty,
          new StructType(), Some(s"$name: ${String.valueOf(e.getMessage).take(300)}"))
    }
  }

  def pass(order: Seq[(String, String)], k0: Int): Seq[OpRun] =
    order.zipWithIndex.map { case ((fam, name), i) => run(k0 + i, fam, name) }
}
