package graft.tools

import scala.collection.concurrent.TrieMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.SparkSession

import graft.{Bench, GraftSession, SparkEntry}

/** Where a SparkEntry query's time goes, on the engine Bench times.
  *
  * Usage: runMain graft.tools.Profile <sfDir> <query>...
  *
  * For each query: one warmup, then three runs with Bench's GC hygiene,
  * each split into *construct* (building the DataFrame, including the
  * eager jobs a pipeline query runs while it builds) and *execute* (the
  * `count()`). It prints
  *  - `TIMED <name> min=<s> s (runs: …)`, the line `tools/sf1_report.py`
  *    reads;
  *  - `PROFILE <name> construct=<s> exec=<s>`, each the min of the three;
  *  - `CODEGEN <name> classes=<n> compile_ms=<ms>`, the classes Spark's
  *    codegen compiled during the last run and their Janino time, from
  *    `CodegenMetrics` and `CodeGenerator.compileTime`;
  *  - every job of the last run with its wall time and phase, and under it
  *    each completed stage's task run and CPU time;
  *  - the executed plan of a `collect()` in full (AQE's final plan first),
  *    with its scan, exchange and reuse counts and vector literals elided.
  */
object Profile {
  /** Local property carrying `<query>#<run>/<phase>` onto every job the
    * phase submits, including AQE's broadcast and subquery jobs, which
    * Spark runs with the submitting thread's local properties. */
  private val Tag = "graft.profile.tag"

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Profile <sfDir> <query>...")
    val sfDir = args.head
    val names = args.toSeq.tail
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(", ")}")
    val spark = GraftSession()
    // as in Bench: the wire diagnostics add a job to every federation query
    sys.props("graft.wire.quiet") = "1"
    val log = new JobLog
    spark.sparkContext.addSparkListener(log)
    names.foreach(profile(spark, sfDir, _, log))
    spark.stop()
  }

  private def profile(spark: SparkSession, sfDir: String, name: String, log: JobLog): Unit = {
    val sc = spark.sparkContext
    val fn = SparkEntry.queries(name)
    fn(spark, sfDir).count() // warmup
    val runs = (1 to 3).map { run =>
      Bench.settle()
      val (classes0, compileNs0) = codegen
      sc.setLocalProperty(Tag, s"$name#$run/construct")
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val t1 = System.nanoTime()
      sc.setLocalProperty(Tag, s"$name#$run/execute")
      df.count()
      val t2 = System.nanoTime()
      sc.setLocalProperty(Tag, null)
      val (classes1, compileNs1) = codegen
      ((t1 - t0) / 1e9, (t2 - t1) / 1e9, classes1 - classes0, compileNs1 - compileNs0)
    }
    val totals = runs.map { case (c, e, _, _) => c + e }
    println(f"TIMED $name%-28s min=${totals.min}%.3f s " +
      s"(runs: ${totals.map(t => f"$t%.3f").mkString(", ")})")
    println(f"PROFILE $name%-28s construct=${runs.map(_._1).min}%.3f " +
      f"exec=${runs.map(_._2).min}%.3f")
    println(f"CODEGEN $name%-28s classes=${runs.last._3}%d " +
      f"compile_ms=${runs.last._4 / 1e6}%.1f")

    log.drain(spark, s"$name/drain")
    Seq("construct", "execute").foreach { phase =>
      log.jobs(s"$name#3/$phase").foreach { j =>
        println(f"JOB ${j.id}%4d $phase%-9s wall=${log.wallMs(j) / 1e3}%.3f s")
        j.stageIds.flatMap(log.stages.get).foreach { si =>
          println(f"  STAGE ${si.stageId}%4d tasks=${si.numTasks}%3d " +
            f"run=${si.taskMetrics.executorRunTime / 1e3}%.3f s " +
            f"cpu=${si.taskMetrics.executorCpuTime / 1e9}%.3f s  ${si.name.take(60)}")
        }
      }
    }

    val df = fn(spark, sfDir)
    // execute THIS Dataset (count() would plan another QueryExecution) so
    // the plan printed is AQE's final plan with its real stage reuse
    val rows = df.collect().length
    val plan = df.queryExecution.executedPlan.toString
      .replaceAll("""\[[-0-9.,Ee \t]{40,}\]""", "[<vec>]")
    val fin = plan.split("== Initial Plan ==").head
    // tree-prefix chars include ':' on left branches (`:- Exchange`)
    def count(op: String) = s"(?m)^[\\s:|*()\\d+-]*($op)".r.findAllIn(fin).size
    println(s"==== $name rows=$rows scans=${count("\\w*Scan\\b")} " +
      s"exchanges=${count("Exchange|ShuffleQueryStage")} " +
      s"reused=${count("ReusedExchange|ReusedQueryStage")} ====")
    println(plan)
  }

  /** Spark's codegen totals in this JVM: classes compiled, compile ns. */
  private def codegen: (Long, Long) = (
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)

  private final case class Job(id: Int, stageIds: Seq[Int], startMs: Long)

  /** Jobs by tag, with their end times and the stages that completed,
    * from the listener bus. */
  private final class JobLog extends SparkListener {
    private val started = TrieMap.empty[Int, (String, Job)]
    private val ends = TrieMap.empty[Int, Long]
    val stages = TrieMap.empty[Int, StageInfo]

    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val tag = Option(js.properties).flatMap(p => Option(p.getProperty(Tag)))
      tag.foreach(t => started(js.jobId) = (t, Job(js.jobId, js.stageIds, js.time)))
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit = ends(je.jobId) = je.time
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
      stages(sc.stageInfo.stageId) = sc.stageInfo

    def wallMs(j: Job): Long = ends.getOrElse(j.id, j.startMs) - j.startMs

    def jobs(tag: String): Seq[Job] =
      started.values.collect { case (`tag`, j) => j }.toSeq.sortBy(_.id)

    /** Run one tagged job and wait for its end event: the bus delivers in
      * order, so every earlier event has arrived by then. */
    def drain(spark: SparkSession, tag: String): Unit = {
      val sc = spark.sparkContext
      sc.setLocalProperty(Tag, tag)
      sc.parallelize(Seq(1), 1).count()
      sc.setLocalProperty(Tag, null)
      val deadline = System.currentTimeMillis() + 30000
      def done = jobs(tag).exists(j => ends.contains(j.id))
      while (!done && System.currentTimeMillis() < deadline) Thread.sleep(20)
      require(done, "the listener bus did not drain")
    }
  }
}
