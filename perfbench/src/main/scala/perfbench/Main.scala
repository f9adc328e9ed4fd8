package perfbench

import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.mesh.Fixtures
import graft.queries.Views

/** The benchmark harness JVM: runs one workload against graft's public
  * entry points and writes `result.json` (metrics, counts and the files
  * the correctness gate checks) into `--out`. `perfbench/run.py` starts
  * it, runs the DuckDB gate and prints the result line.
  *
  *   perfbench.Main --workload relay-sync|pipeline-batch
  *     --seed N --seconds S --trace 0|1 --data DIR --out DIR
  */
object Main {
  /** Set-ups per run; setup_s is their median. */
  val Setups = 3
  /** The reported tail percentile, and the samples a run collects at
    * least so that ten of them lie beyond it. */
  val Tail = 0.75
  val TailSamples: Int = Stats.samplesFor(Tail)

  final case class Conf(workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: String, out: Path)

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val conf = Conf(o("workload"), o("seed").toLong, o("seconds").toDouble, o("trace") == "1",
      o("data"), Paths.get(o("out")))
    Files.createDirectories(conf.out)
    val spark = session(conf)
    val probe = cpuProbeMs
    phase("session up")
    val counters = if (conf.trace) {
      val c = new SparkCounters
      spark.sparkContext.addSparkListener(c)
      Some(c)
    } else None
    val tracer = new Tracer(conf.trace)
    val res = conf.workload match {
      case "relay-sync"     => RelayRun(spark, conf, tracer, counters)
      case "pipeline-batch" => PipelineRun(spark, conf, tracer, counters)
      case other            => sys.error(s"unknown workload $other")
    }
    phase("workload done")
    val metrics = if (conf.trace) res.metrics else res.metrics ++ Map("peak_rss_mb" -> peakRssMb)
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    if (conf.trace)
      mapper.writeValue(conf.out.resolve("spans.json").toFile, tracer.json)
    mapper.writerWithDefaultPrettyPrinter().writeValue(conf.out.resolve("result.json").toFile,
      Map("workload" -> conf.workload, "seed" -> conf.seed, "trace" -> conf.trace,
        "metrics" -> metrics, "attempted" -> res.attempted, "failed" -> res.failed,
        "errors" -> res.errors.take(20), "checks" -> res.checks,
        "info" -> (res.info + ("cpu_probe_ms" -> probe)),
        "host" -> Map("nproc" -> Runtime.getRuntime.availableProcessors(),
          "max_heap_mb" -> Runtime.getRuntime.maxMemory() / (1 << 20),
          "spark_conf" -> spark.conf.getAll.filter(_._1.startsWith("spark.sql")).toMap)))
    spark.stop()
  }

  /** The harness Spark session: the same engine settings `graft.Bench`
    * uses, with every temporary directory inside the run directory. */
  def session(c: Conf): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-${c.workload}")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.shuffle.compress", "false")
      .config("spark.shuffle.spill.compress", "false")
      .config("spark.broadcast.compress", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", c.out.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", c.out.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // per-fetch wire diagnostics are a Verify-time tool (see graft.Bench)
    sys.props("graft.wire.quiet") = "1"
    spark
  }

  final case class Result(metrics: Map[String, Double], attempted: Int, failed: Int,
      errors: Seq[String], checks: Seq[Map[String, Any]], info: Map[String, Any])

  def timeS[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = f
    (v, (System.nanoTime() - t0) / 1e9)
  }

  private val t0 = System.nanoTime()

  /** A phase mark on stderr (the run's log), seconds since JVM start. */
  def phase(name: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%.1fs $name")

  /** Collect garbage outside any timed window, as graft.Bench does. */
  def quiesce(): Unit = { System.gc(); Thread.sleep(100) }

  /** A fixed single-threaded computation, timed (median of 5): how fast
    * this host ran when the run started. Recorded with the run, not a
    * metric. */
  def cpuProbeMs: Double = Stats.median((0 until 5).map { _ =>
    val t = System.nanoTime()
    var x = 0.0
    var i = 1
    while (i < 20000000) { x += math.sqrt(i.toDouble); i += 1 }
    if (x < 0) println(x)
    (System.nanoTime() - t) / 1e6
  })

  def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)

  def sha256(b: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(b).map("%02x".format(_)).mkString

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    if (Files.isDirectory(p)) Files.list(p).iterator().asScala.toList.foreach(deleteTree)
    Files.deleteIfExists(p): Unit
  }

  /** DuckDB's reconstruction of global's `lineitem` entity for `user`,
    * reading the physical table by its schema-qualified name so that the
    * CTE can take the entity's name. */
  def entityCte(user: Option[String]): String =
    (if (user.contains("admin")) Views.lineitemOracle else Views.lineitemDefaultOracle)
      .replace("FROM lineitem", "FROM main.lineitem")

  /** Per-layer metric names, every one emitted on every traced run
    * (0 where a workload does not exercise the layer). */
  val Families: Seq[String] = Ops.PipelineOps.map(_._1).distinct
  val LayerMetrics: Seq[String] = Seq(
    "validation.validate_ms", "mesh.resolve_ms", "mesh.branches",
    "catalyst.analyze_ms", "catalyst.optimize_ms", "catalyst.physical_ms",
    "catalyst.codegen_compile_ms", "catalyst.codegen_classes",
    "exec.action_ms", "exec.jobs", "exec.tasks", "exec.task_cpu_ms", "exec.gc_ms",
    "exec.shuffle_bytes", "exec.spill_bytes",
    "transport.encode_ms", "transport.response_bytes", "transport.peer_fetch_ms",
    "http.unaccounted_ms",
    "service.submit_ms", "service.queue_ms", "service.run_ms", "service.result_fetch_ms",
    "service.spill_bytes", "state.snapshot_bytes", "catalog.admin_apply_ms",
    "pipeline.construct_s", "pipeline.construct_jobs", "pipeline.action_s", "cold_s") ++
    Families.flatMap(f => Seq(s"pipeline.$f.cold_s", s"pipeline.$f.warm_s")) ++
    Seq("tracing.overhead_frac")

  /** Spark-counter deltas per op, as per-layer metrics. */
  def execMetrics(before: Map[String, Long], after: Map[String, Long], ops: Int): Map[String, Double] = {
    def d(k: String): Double = (after(k) - before(k)).toDouble / math.max(ops, 1)
    Map("exec.jobs" -> d("jobs"), "exec.tasks" -> d("tasks"),
      "exec.task_cpu_ms" -> d("task_cpu_ns") / 1e6, "exec.gc_ms" -> d("gc_ms"),
      "exec.shuffle_bytes" -> d("shuffle_bytes"), "exec.spill_bytes" -> d("spill_bytes"),
      "catalyst.codegen_compile_ms" -> d("codegen_ns") / 1e6,
      "catalyst.codegen_classes" -> d("codegen_classes"))
  }

  def layerMetrics(m: Map[String, Double]): Map[String, Double] = {
    val unknown = m.keySet -- LayerMetrics
    require(unknown.isEmpty, s"undeclared per-layer metrics: $unknown")
    LayerMetrics.map(k => k -> m.getOrElse(k, 0.0)).toMap
  }
}

/** relay-sync: set-up, a cold pass, an untimed warm-up, then either the
  * measured closed loop (untraced) or the traced replay. */
object RelayRun {
  import Main._

  /** Untimed warm-up ops, and at least this many measured ops (the window
    * also lasts `--seconds`). */
  val WarmupOps = 10
  val WindowOps: Int = TailSamples
  /** The traced run's async phase: the poll interval of `GET /query/{id}`. */
  val PollMs = 10L

  /** An untimed first request of a shape no workload text has: it pays
    * the JVM's class loading and first compilation of the request path,
    * so the cold pass measures what is cold about each query shape. */
  val Priming = Op("priming", "SELECT count(*) AS n FROM lineitem WHERE quantity < 0",
    "", Some("admin"), arrow = true)

  /** What each traced `POST /admin/apply` sends: an entity and data source
    * no workload text reads, re-upserted each time, so every apply swaps
    * global's catalog without changing any answer. */
  val ApplyYaml: String =
    """api_version: v1alpha1
      |kind: Entity
      |spec:
      |  name: perfbench_regions
      |  information:
      |    - {name: rkey, arrow_dtype: Int64}
      |    - {name: rname, arrow_dtype: Utf8}
      |---
      |api_version: v1alpha1
      |kind: LocalData
      |spec:
      |  name: perfbench_conn
      |  data_sources:
      |    - name: perfbench_region
      |      source_sql: SELECT * FROM raw_region
      |      fields:
      |        - {name: r_regionkey, path: r_regionkey}
      |        - {name: r_name, path: r_name}
      |---
      |api_version: v1alpha1
      |kind: LocalMapping
      |spec:
      |  entity_name: perfbench_regions
      |  mappings:
      |    - data_con_name: perfbench_conn
      |      source_mappings:
      |        - data_source_name: perfbench_region
      |          field_mappings:
      |            - {info: rkey, field: r_regionkey}
      |            - {info: rname, field: r_name}
      |""".stripMargin

  def apply(base: SparkSession, c: Conf, tracer: Tracer, counters: Option[SparkCounters]): Result = {
    quiesce()
    val setups = (0 until Setups).map { i =>
      timeS(new Web(base.newSession(), c.data, c.out.resolve(s"results$i")))
    }
    setups.init.foreach(_._1.stop())
    phase("setups done")
    val web = setups.last._1
    val load = new Relay(web, new Tracer(false))
    val stream = Ops.syncStream(c.seed, 0)
    try {
      load.timed(Priming)(load.sync(Priming))
      quiesce()
      val cold = Ops.syncCold(c.seed).map(op => load.timed(op)(load.sync(op)))
      phase("cold pass done")
      val coldS = cold.map(_.ms).sum / 1e3
      if (!c.trace) {
        quiesce()
        val win = load.closedLoop(stream, WarmupOps, WindowOps, c.seconds)
        phase("window done")
        val lat = win.samples.map(_.ms)
        val all = cold ++ win.samples
        Result(
          Map("setup_s" -> Stats.median(setups.map(_._2)),
            "throughput_per_s" -> win.throughput,
            "p50_ms" -> Stats.median(lat), "p75_ms" -> Stats.quantile(lat, Tail)),
          attempted = all.size, failed = all.count(!_.ok),
          errors = all.filterNot(_.ok).map(s => s"${s.op.template}: ${s.error}"),
          checks = checks(all, c.out),
          info = Map("cold_s" -> coldS, "window_s" -> win.seconds, "samples" -> lat.size,
            "samples_beyond_tail" -> lat.count(_ > Stats.quantile(lat, Tail)),
            "latencies" -> win.samples.map(r => Seq(r.op.template, r.op.user.getOrElse("default"), r.ms)),
            "cold_ms" -> cold.map(r => Seq(r.op.template, r.ms)),
            "warmup_ops" -> WarmupOps, "setups_s" -> setups.map(_._2)))
      } else {
        load.closedLoop(stream, WarmupOps, 0, 0)
        traced(c, web, cold, coldS, setups.map(_._2), tracer, counters.get)
      }
    } finally web.stop()
  }

  /** The traced run: sync ops replayed layer by layer for `--seconds`,
    * then the async phase (each async op after a `POST /admin/apply`). */
  private def traced(c: Conf, web: Web, cold: Seq[Sample], coldS: Double,
      setups: Seq[Double], tracer: Tracer, counters: SparkCounters): Result = {
    quiesce()
    val relay = new Relay(web, tracer)
    val it = Ops.syncStream(c.seed, 1)
    val before = counters.snapshot
    val t0 = System.nanoTime()
    var k = 0
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Sample, Sample, Double)]
    val errors = scala.collection.mutable.ArrayBuffer.empty[String]
    while ((System.nanoTime() - t0) / 1e9 < c.seconds || k < 3) {
      val op = it.next()
      k += 1
      try rows += relay.tracedOp(op, k, counters)
      catch { case e: Throwable => errors += s"${op.template}: ${e.getMessage}" }
    }
    val after = counters.snapshot
    phase("traced sync ops done")
    // the async phase: global's spill and task-state snapshot are read
    // after each op, as the service left them
    val globalDir = web.resultsDir("global")
    val asyncOps = Ops.asyncOps(c.seed)
    val async = asyncOps.flatMap { op =>
      k += 1
      try {
        relay.adminApply(k, ApplyYaml)
        val a = relay.async(op, k, PollMs)
        Some((a, treeBytes(globalDir.resolve(s"task_${a.id}")),
          Files.size(globalDir.resolve("tasks.json")).toDouble))
      } catch { case e: Throwable => errors += s"async ${op.template}: ${e.getMessage}"; None }
    }
    phase("traced async ops done")
    val n = math.max(rows.size, 1)
    val self = tracer.selfNs
    def ms(name: String, per: Int = n): Double = self.getOrElse(name, 0L) / 1e6 / math.max(per, 1)
    def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    val m = Map(
      "cold_s" -> coldS,
      "validation.validate_ms" -> ms("validation.validate"),
      // resolving makes the wire call to apac, which the peer-fetch span
      // replays: the resolve metric is the rest
      "mesh.resolve_ms" -> (ms("mesh.resolve") - ms("transport.peer_fetch")),
      "mesh.branches" -> mean(relay.branchCounts.map(_.toDouble)),
      "catalyst.analyze_ms" -> ms("catalyst.analyze"),
      "catalyst.optimize_ms" -> ms("catalyst.optimize"),
      "catalyst.physical_ms" -> ms("catalyst.physical"),
      "exec.action_ms" -> ms("exec.action"),
      "transport.encode_ms" -> ms("transport.encode"),
      "transport.response_bytes" -> mean(relay.responseBytes.map(_.toDouble)),
      "transport.peer_fetch_ms" -> ms("transport.peer_fetch"),
      "http.unaccounted_ms" -> mean(rows.map(r => r._2.ms - r._3)),
      "service.submit_ms" -> ms("service.submit", async.size),
      "service.queue_ms" -> mean(async.map(_._1.queueMs)),
      "service.run_ms" -> mean(async.map(_._1.runMs)),
      "service.result_fetch_ms" -> ms("service.result_fetch", async.size),
      "service.spill_bytes" -> mean(async.map(_._2)),
      "state.snapshot_bytes" -> mean(async.map(_._3)),
      "catalog.admin_apply_ms" -> ms("catalog.admin_apply", asyncOps.size),
      "tracing.overhead_frac" ->
        (Stats.median(rows.map(_._2.ms).toSeq) / Stats.median(rows.map(_._1.ms).toSeq) - 1))
    val ok = cold.filter(_.ok) ++ rows.map(_._2)
    Result(layerMetrics(m ++ execMetrics(before, after, n)),
      attempted = cold.size + k, failed = cold.count(!_.ok) + errors.size,
      errors = cold.filterNot(_.ok).map(_.error) ++ errors,
      checks = checks(ok, c.out) ++ asyncChecks(async.map(_._1), c.out),
      info = Map("traced_ops" -> rows.size, "async_ops" -> async.size, "setups_s" -> setups))
  }

  def treeBytes(p: Path): Double =
    if (!Files.exists(p)) 0.0
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size(_).toDouble).sum

  /** Gate files for the async ops: each result, checked as a multiset
    * against the entity query (the branches' union has no order). */
  def asyncChecks(async: Seq[AsyncSample], out: Path): Seq[Map[String, Any]] = {
    val dir = Files.createDirectories(out.resolve("async"))
    async.zipWithIndex.map { case (a, i) =>
      val file = dir.resolve(s"$i.parquet")
      Files.write(file, a.body)
      Map("kind" -> "async", "name" -> s"async-${a.op.template}#$i", "sql" -> a.op.sql,
        "user" -> a.op.user.getOrElse("default"), "file" -> file.toString, "count" -> 1,
        "format" -> "parquet",
        "duck_sql" -> s"WITH lineitem AS (${entityCte(a.op.user)}) ${a.op.duckSql}")
    }
  }

  /** Files for the correctness gate: each distinct response body, with
    * how many ops returned it and the DuckDB query it must equal. */
  def checks(samples: Seq[Sample], out: Path): Seq[Map[String, Any]] = {
    val dir = Files.createDirectories(out.resolve("bodies"))
    samples.filter(_.ok).groupBy(s => (s.op.key, sha256(s.body))).toSeq
      .sortBy(_._1).zipWithIndex.map { case ((_, ss), i) =>
        val s = ss.head
        val file = dir.resolve(s"$i.bin")
        Files.write(file, s.body)
        Map("kind" -> "sync", "name" -> s"${s.op.template}#$i", "sql" -> s.op.sql,
          "user" -> s.op.user.getOrElse("default"), "file" -> file.toString,
          "count" -> ss.size, "format" -> (if (s.op.arrow) "arrow" else "parquet"),
          "duck_sql" -> s"WITH lineitem AS (${entityCte(s.op.user)}) ${s.op.duckSql}")
      }
  }
}

/** pipeline-batch: set-up, the cold pass in a fresh session, then warm
  * passes until the window and the sample count are both met. */
object PipelineRun {
  import Main._

  def apply(base: SparkSession, c: Conf, tracer: Tracer, counters: Option[SparkCounters]): Result = {
    quiesce()
    val setups = (0 until Setups).map { _ =>
      timeS {
        val s = base.newSession()
        Fixtures.registerRaw(s, c.data)
        graft.functions.HashFunctions.register(s)
        s
      }
    }
    val spark = setups.last._1
    val p = new Pipeline(spark, c.data, tracer, counters)
    require(p.missing.isEmpty, s"pinned pipeline operators missing: ${p.missing}")
    // untimed priming on the base session, generic Spark work only: the
    // JVM's class loading and first compilations land here, and the cold
    // pass still builds every operator's artifacts and plans itself
    base.read.parquet(s"${c.data}/lineitem.parquet").groupBy("l_returnflag").count().collect()
    base.read.parquet(s"${c.data}/documents.parquet").selectExpr("max(length(text))").collect()
    val order = Ops.pipelineOrder(c.seed)
    quiesce()
    val before = counters.map(_.snapshot)
    phase("setups done")
    def detached[T](body: => T): T = counters.fold(body)(_.detached(base.sparkContext)(body))
    val (cold, coldS) = timeS(p.pass(order, 0))
    phase("cold pass done")
    // one untimed pass: the JIT is still settling right after the cold pass
    val plain = new Pipeline(spark, c.data, new Tracer(false), None)
    val warmup = detached(plain.pass(order, 0))
    val warm = scala.collection.mutable.ArrayBuffer.empty[(Seq[OpRun], Double, Boolean)]
    val t0 = System.nanoTime()
    def samples = warm.map(_._1.size).sum
    while ({
      val el = (System.nanoTime() - t0) / 1e9
      el < 3 * c.seconds + 30 &&
        (el < c.seconds || samples < TailSamples || (c.trace && warm.size < 4))
    }) {
      quiesce()
      // traced runs interleave instrumented passes and plain ones with
      // the listener off the bus (ABBA, so a trend across passes favours
      // neither), which gives the tracing overhead; untraced runs are all
      // plain
      val traced = c.trace && (warm.size % 4 == 0 || warm.size % 4 == 3)
      val (runs, s) =
        if (traced) timeS(p.pass(order, (warm.size + 1) * order.size))
        else timeS(detached(plain.pass(order, 0)))
      warm += ((runs, s, traced))
    }
    phase("warm passes done")
    val after = counters.map(_.snapshot)
    val lat = warm.flatMap(_._1.map(_.seconds * 1e3)).toSeq
    val oracle = graft.SparkEntry.oracleSqlFor(c.data)
    val checks = Seq("cold" -> cold, "warm" -> warm.last._1).flatMap { case (pass, runs) =>
      val n = if (pass == "cold") 1 else warm.size
      runs.filter(_.error.isEmpty).map { r =>
        val dir = c.out.resolve(s"pipeline/$pass/${r.name}")
        spark.createDataFrame(r.rows.toSeq.asJava, r.schema).coalesce(1)
          .write.mode("overwrite").parquet(dir.toString)
        Map("kind" -> "pipeline", "name" -> s"${r.name}/$pass", "file" -> dir.toString,
          "count" -> n, "duck_sql" -> oracle.getOrElse(r.name, ""))
      }
    }
    val attempted = cold.size + warmup.size + samples
    val errors = (cold ++ warmup ++ warm.flatMap(_._1)).flatMap(_.error)
    val info = Map("warm_passes" -> warm.size, "samples" -> lat.size,
      "cold_pass_s" -> coldS, "warm_pass_s" -> warm.map(_._2).toSeq)
    if (!c.trace)
      Result(Map("setup_s" -> Stats.median(setups.map(_._2)),
        "throughput_per_s" -> samples / warm.map(_._2).sum,
        "p50_ms" -> Stats.median(lat), "p75_ms" -> Stats.quantile(lat, Tail)),
        attempted, errors.size, errors, checks, info)
    else {
      val traced = cold +: warm.filter(_._3).map(_._1).toSeq
      val runs = traced.flatten
      val fam = (rs: Seq[OpRun], f: String) => rs.filter(_.family == f).map(_.seconds).sum
      val overhead = Stats.median(warm.filter(_._3).map(_._2).toSeq) /
        Stats.median(warm.filterNot(_._3).map(_._2).toSeq) - 1
      val m = Map(
        "cold_s" -> coldS,
        "pipeline.construct_s" -> runs.map(_.constructNs / 1e9).sum / runs.size,
        "pipeline.construct_jobs" -> runs.map(_.constructJobs.toDouble).sum / runs.size,
        "pipeline.action_s" -> runs.map(_.actionNs / 1e9).sum / runs.size,
        "exec.action_ms" -> runs.map(_.actionNs / 1e6).sum / runs.size,
        "tracing.overhead_frac" -> overhead) ++
        Families.flatMap(f => Seq(s"pipeline.$f.cold_s" -> fam(cold, f),
          s"pipeline.$f.warm_s" -> Stats.median(traced.tail.map(fam(_, f))))) ++
        execMetrics(before.get, after.get, runs.size)
      Result(layerMetrics(m), attempted, errors.size, errors, checks, info)
    }
  }
}
