package graft

/** Benchmark main: times every SparkEntry query at SPARK_GRAFT_SF_DIR and
  * prints one JSON line. A warmup action first absorbs JVM/classloading/
  * parquet-footer costs so per-query numbers reflect steady-state
  * throughput. */
object Bench {
  /** JMH-style hygiene: collect BEFORE each timed window, outside it. A
    * long session otherwise accumulates dead plan/shuffle/broadcast state
    * that the ContextCleaner only drains after a driver GC (a 48g heap
    * rarely collects organically), and queries late in the pass absorb
    * the accumulated debt — measured up to 17x inflation on a 103-query
    * sf1 session vs the same query in a fresh JVM. */
  def settle(): Unit = {
    System.gc()
    Thread.sleep(100) // let the ContextCleaner drain OUTSIDE the window
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession()
    // the per-fetch wire diagnostics (row counts + min/max stats) are a
    // Verify-time tool; inside a timed window they add a whole extra
    // aggregation job to every federation query
    sys.props("graft.wire.quiet") = "1"

    // steady-state methodology: one untimed warmup pass over every query
    // (JIT, codegen cache, parquet footers, broadcast reuse), then three
    // timed passes taking the per-query MIN — single-pass totals on this
    // host swing ~25-50% from GC/cleaner timing (positively skewed: a
    // pass only ever catches EXTRA collections), and the per-query min
    // estimates the query's actual steady-state cost. tools/duck_time.py
    // mirrors the same warm min-of-3 so the ratio compares like with
    // like.
    // optional comma-separated query filter (local iteration; the driver
    // never sets it and times the full set)
    val only: Set[String] = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet).getOrElse(Set.empty)
    val unknown = only.diff(SparkEntry.queries.keySet)
    require(unknown.isEmpty,
      s"unknown query name(s): ${unknown.mkString(", ")} — a typo here would " +
        "otherwise time an empty set and report a healthy-looking total")
    if (only.nonEmpty)
      System.err.println(
        s"[bench] WARNING: SPARK_GRAFT_ONLY=${only.toSeq.sorted.mkString(",")} " +
          "— PARTIAL run; the total covers a query subset and must not be " +
          "compared against full-bench numbers (output JSON is tagged)")
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only(name) }
    // failures are NEVER swallowed silently: a bench that times exceptions
    // publishes garbage indistinguishable from a healthy run (this zeroed
    // two driver rounds). Each failing query is reported to stderr, counted
    // into the output JSON, and fails the process.
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    ordered.foreach { case (name, fn) =>
      try fn(spark, sfDir).count() catch {
        case e: Throwable =>
          failed.getOrElseUpdate(name, String.valueOf(e.getMessage).take(300))
          System.err.println(s"[bench] $name FAILED (warmup): ${e.getMessage}")
      }
    }
    def timedPass(): Seq[(String, Double)] = {
      ordered.map { case (name, fn) =>
        settle()
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count() } catch {
          case e: Throwable =>
            failed.getOrElseUpdate(name, String.valueOf(e.getMessage).take(300))
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
        }
        name -> (System.nanoTime() - t0) / 1e9
      }
    }
    val passes = Seq(timedPass().toMap, timedPass().toMap, timedPass().toMap)
    val results = ordered.map { case (name, _) =>
      name -> passes.map(_(name)).min
    }
    // Output-format constraints learned the hard way (rounds 7-9 all
    // published `parsed: null`): the driver captures only a ~4 KB TAIL of
    // stdout and needs one complete, bare JSON line. So (a) the full
    // per-query map goes to a FILE artifact (BENCH_perquery.json) plus
    // stderr for human logs — never stdout, where its ~4 KB body pushed
    // everything else out of the tail; (b) stdout carries exactly ONE
    // short JSON object, printed last (build.sbt's StdoutOutput strategy
    // keeps sbt from prefixing it with "[info] ", which is what killed
    // round 9's otherwise-correct compact line).
    // Locale.ROOT: a comma-decimal default locale would corrupt the JSON
    def sec3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = results.map { case (k, v) => "\"" + k + "\":" + sec3(v) }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    val filteredTag =
      if (only.isEmpty) ""
      else s""","filtered":true,"only":"${only.toSeq.sorted.mkString(",")}""""
    val perQueryJson =
      s"""{"queries":$qs,"sf":"$sfDir","errors":${failed.size}$filteredTag,"metric":"total","unit":"sec","value":${sec3(total)}}"""
    // a filtered (SPARK_GRAFT_ONLY) iteration run must never clobber the
    // committed full-suite artifact with a partial map
    val artifact =
      if (only.isEmpty) "BENCH_perquery.json" else "BENCH_perquery.filtered.json"
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(artifact), perQueryJson + "\n"): Unit
    System.err.println(perQueryJson)
    spark.stop()
    // AFTER spark.stop(): nothing else can write to stdout behind it.
    // The per-query line prints SECOND-TO-LAST on stdout: the driver keeps
    // only a tail of output, so anything after these two lines would push
    // them out, and if the ~3 KB map itself clips, it clips at its FRONT —
    // the totals line (last) always survives intact, and the full map is
    // still in the BENCH_perquery.json artifact.
    println(perQueryJson)
    println(s"""{"metric":"total","unit":"sec","sf":"$sfDir","errors":${failed.size}$filteredTag,"nqueries":${results.size},"value":${sec3(total)}}""")
    System.out.flush()
    if (failed.nonEmpty) {
      System.err.println(
        s"[bench] ${failed.size} quer${if (failed.size == 1) "y" else "ies"} " +
          s"failed: ${failed.keys.mkString(", ")}")
      sys.exit(1)
    }
  }
}
