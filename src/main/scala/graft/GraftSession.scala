package graft

import org.apache.spark.sql.SparkSession

/** The one place graft builds a SparkSession. Bench, Verify, the relay and
  * tool mains and the spec suite all run this engine, so a number one of
  * them reports describes the engine the others check.
  *
  * The settings below are defaults: a key already set as a JVM system
  * property (`-Dspark.sql.adaptive.enabled=false`, passed through
  * `SPARK_GRAFT_JAVA_OPTS` or spark-submit) keeps its value, since Spark
  * reads `spark.*` system properties into every session it builds.
  *
  * Every session it returns plans comparison literals in filters as
  * references ([[graft.plans.ParamLiteralStrategy]]), so a query shape
  * compiles once whatever its literals. */
object GraftSession {

  /** Local task slots: `SPARK_GRAFT_CPUS`, else the host's full width —
    * a caller may not set SPARK_GRAFT_CPUS, and a silent local[4] would
    * publish numbers a third slower than the machine can do. */
  private def width: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** The engine settings for `master`. The 4 MB advisory size and the
    * compression switches are local-mode concessions that a real cluster
    * at real scale does not want, so they apply only when the master is
    * `local…`. */
  def settings(master: String): Seq[(String, String)] = {
    val common = Seq(
      "spark.sql.shuffle.partitions" -> width.toString,
      "spark.sql.adaptive.enabled" -> "true",
      // this suite's exchanges are mostly far below one task's worth of
      // data; with parallelismFirst (the default) AQE keeps ~cpus tasks
      // per kB-sized shuffle purely for parallelism, and the per-task
      // scheduling overhead dominates sub-second queries. Size-first
      // coalescing collapses those to one task while leaving real
      // (≥ advisory size) exchanges at full width.
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
      // the built-in whole-stage-codegen compile cache holds 100 generated
      // classes; this suite's ~104 multi-stage plans generate several
      // hundred codegen units per pass, so at the default size every pass
      // re-runs Janino compilation for every stage (~40% of the measured
      // suite total; A/B'd: an 8-query subset dropped 7.46 s -> 4.67 s).
      // Any long-lived server session running a query workload this wide
      // wants the same setting.
      "spark.sql.codegen.cache.maxEntries" -> "10000",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false")
    val localOnly = Seq(
      // with size-first coalescing, the 64 MB default advisory size
      // collapses EVERY local exchange to one task — sub-second queries
      // want that, but the handful of queries with real MB-scale shuffles
      // (tx10/dd2/dm2) then serialize ~1 s of compute on one core. 4 MB
      // keeps those exchanges a few tasks wide while kB exchanges still
      // collapse to one (A/B'd: suite 23.9 s -> 21.3 s). A real cluster
      // at real scale keeps the 64 MB default — this is the local-mode
      // sweet spot, sized to the sf0.1 fixture.
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "4m",
      // single-JVM local mode: shuffle "transfer" is memory/disk with no
      // network, so lz4 encode/decode on every shuffle/broadcast block is
      // pure overhead — A/B'd -10% on the shuffle-bound subset, neutral
      // on the MB-exchange queries. A real cluster keeps compression
      // (network-bound).
      "spark.shuffle.compress" -> "false",
      "spark.shuffle.spill.compress" -> "false",
      "spark.broadcast.compress" -> "false")
    if (master.startsWith("local")) common ++ localOnly else common
  }

  /** The master when the caller names none: `-Dspark.master` (as
    * spark-submit sets it), else `local[width]`. */
  def defaultMaster: String = sys.props.getOrElse("spark.master", s"local[$width]")

  def apply(master: String = defaultMaster, appName: String = "graft"): SparkSession = {
    val builder = SparkSession.builder().master(master).appName(appName)
    settings(master).foreach { case (k, v) =>
      if (!sys.props.contains(k)) builder.config(k, v)
    }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.ParamLiteralStrategy.install(spark)
    spark
  }
}
