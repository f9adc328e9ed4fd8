package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.mesh.Fixtures
import graft.pipeline.{Multimodal, PipelineQueries}
import graft.streaming.EventStream

/** Pipeline-operator semantics beyond the oracle hash-checks: near-dup
  * recall, SimHash locality, ANN recall vs brute force, multimodal
  * mapPartitions plumbing, and the streaming/batch agreement. */
class PipelineSpec extends AnyFunSuite {

  lazy val spark = TestSessions.spark
  private def sfDir = TestSessions.sfDir

  private def run(name: String) =
    graft.SparkEntry.queries(name)(spark, sfDir)

  test("gopher repetition: DataFrame form equals the SQL form; metrics behave") {
    Fixtures.registerRaw(spark, sfDir)
    val docs = spark.table("documents")
    val lib = graft.pipeline.TextAnalysis
      .gopherRepetition(docs, "doc_id", "text").orderBy("doc_id")
    val sql = run("tx11_gopher_repetition")
    assert(lib.columns.toSeq == sql.columns.toSeq)
    assert(lib.collect().toSeq == sql.collect().toSeq)
    val rows = lib.collect()
    assert(rows.nonEmpty)
    // fractions are nonnegative; a doc made of one repeated bigram is
    // all-duplicate mass and must be dropped
    assert(rows.forall(r => (1 to 5).forall(i => r.getDouble(i) >= 0.0)))
    import spark.implicits._
    val degenerate = Seq((1L, ("ab cd " * 40).trim)).toDF("doc_id", "text")
    val d = graft.pipeline.TextAnalysis
      .gopherRepetition(degenerate, "doc_id", "text").head()
    assert(d.getDouble(4) > 0.9 && d.getDouble(5) > 0.9) // dup5/dup10
    assert(!d.getBoolean(6))
    // join-free, doc-local: two aggregation exchanges at most, no joins
    val plan = lib.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan)
  }

  test("text_stats fusion: tx9 equals the exploded entropy spelling row-for-row") {
    Fixtures.registerRaw(spark, sfDir)
    val fused = run("tx9_entropy")
    val exploded = spark.sql(
      """WITH ch AS (SELECT doc_id, c, count(*) AS nc FROM (
        |      SELECT doc_id, explode(split(text, '')) AS c
        |      FROM documents) e GROUP BY doc_id, c),
        |cagg AS (SELECT doc_id, CAST(sum(nc) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS k,
        |           CAST(sum(nc * CAST(round(ln(CAST(nc AS DOUBLE)) * 1e6) AS BIGINT)) AS BIGINT) AS t
        |         FROM ch GROUP BY doc_id),
        |tk AS (SELECT doc_id, token, count(*) AS nc FROM (
        |      SELECT doc_id, explode(split(text, ' ')) AS token FROM documents) e
        |      GROUP BY doc_id, token),
        |tagg AS (SELECT doc_id, CAST(sum(nc) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS k,
        |           CAST(sum(nc * CAST(round(ln(CAST(nc AS DOUBLE)) * 1e6) AS BIGINT)) AS BIGINT) AS t
        |         FROM tk GROUP BY doc_id)
        |SELECT c.doc_id, c.n AS n_chars, c.k AS distinct_chars,
        |       CAST(round(ln(CAST(c.n AS DOUBLE)) * 1e6 - c.t / CAST(c.n AS DOUBLE)) AS BIGINT) AS char_ent_u6,
        |       t2.n AS n_tokens, t2.k AS distinct_tokens,
        |       CAST(round(ln(CAST(t2.n AS DOUBLE)) * 1e6 - t2.t / CAST(t2.n AS DOUBLE)) AS BIGINT) AS token_ent_u6
        |FROM cagg c JOIN tagg t2 ON c.doc_id = t2.doc_id ORDER BY c.doc_id""".stripMargin)
    assert(fused.columns.toSeq == exploded.columns.toSeq)
    assert(fused.collect().toSeq == exploded.collect().toSeq)
    // the fusion is a pure projection: no exchange, no join in the plan
    val plan = fused.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan)
    // edge parity: empty text drops (NULL struct), single space = two
    // empty tokens, multi-space runs keep interior empties
    import spark.implicits._
    val edge = Seq((1L, ""), (2L, " "), (3L, "a  b"), (4L, "aa aa"))
      .toDF("doc_id", "text")
    val lib = graft.pipeline.TextAnalysis.entropySignals(edge, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(lib.map(_.getLong(0)).toSeq == Seq(2L, 3L, 4L)) // doc 1 dropped
    val sp = lib(0) // " ": 1 char; tokens = ["", ""]
    assert(sp.getLong(1) == 1 && sp.getLong(4) == 2 && sp.getLong(5) == 1)
    val ab = lib(1) // "a  b": 4 chars; tokens = ["a", "", "b"]
    assert(ab.getLong(4) == 3 && ab.getLong(5) == 3)
  }

  test("margin bitext mining: pairs are mutual nearest neighbors with sane margins") {
    val rows = run("ss7_margin_bitext").collect()
    assert(rows.nonEmpty)
    // mutual top-1 pairs: every x and every y appears at most once
    assert(rows.map(_.getLong(0)).distinct.length == rows.length)
    assert(rows.map(_.getLong(1)).distinct.length == rows.length)
    // quantized cosines live in [-1e6, 1e6]; accepted pairs clear the
    // 1.05 ratio-margin threshold
    assert(rows.forall(r => math.abs(r.getLong(2)) <= 1000000L))
    assert(rows.filter(_.getBoolean(4)).forall(_.getLong(3) >= 1050000L))
  }

  test("cluster silhouette: library equals SQL; bounds and label coverage") {
    Fixtures.registerRaw(spark, sfDir)
    val emb = spark.table("embeddings")
    val lib = graft.pipeline.Similarity
      .clusterSilhouette(emb, "vec_id", "embedding", "label").orderBy("label")
    val sql = run("emb2_cluster_silhouette")
    assert(lib.columns.toSeq == sql.columns.toSeq)
    assert(lib.collect().toSeq == sql.collect().toSeq)
    val rows = sql.collect()
    assert(rows.nonEmpty)
    // every vector is scored exactly once; silhouettes live in [-1, 1];
    // negative-member counts bound by cluster size
    assert(rows.map(_.getLong(1)).sum == emb.count())
    assert(rows.forall(r => math.abs(r.getDouble(2)) <= 1.0))
    assert(rows.forall(r => r.getLong(3) <= r.getLong(1)))
  }

  test("minhash-LSH finds symmetric near-dup pairs with high jaccard") {
    val pairs = run("dd2_minhash_lsh").collect()
    assert(pairs.nonEmpty)
    assert(pairs.forall(_.getDouble(2) >= 0.8))
    assert(pairs.forall(r => r.getLong(0) < r.getLong(1)))
  }

  test("plan shapes: grouped LSH shuffles the band index once; new ops stay join-free") {
    Fixtures.registerRaw(spark, sfDir)
    val docs = spark.table("documents")
    def exchanges(df: org.apache.spark.sql.DataFrame): Int =
      "(?m)^\\s*\\+?-?\\s*(Exchange|ShuffleQueryStage)"
        .r.findAllIn(df.queryExecution.executedPlan.toString).length
    // candidate generation: shingle explode -> minhash agg -> band explode
    // -> bucket agg -> pair explode. The input repartition plus the ONE
    // (band, bsig) aggregation exchange plus the pair distinct — and NO
    // join anywhere (the self-join form had one, plus a second shuffle of
    // the same index)
    val cand = graft.pipeline.Dedup.lshCandidatesGrouped(
      graft.pipeline.Dedup.bandIndex(docs, "doc_id", "text").drop("hash_family"))
    val candPlan = cand.queryExecution.executedPlan.toString
    assert(!candPlan.contains("Join"), candPlan)
    assert(exchanges(cand) <= 3, s"expected <=3 exchanges:\n$candPlan")
    // ml1 scoring: row-local hash + one aggregation; never a join (the
    // weight table rides inside the projection as a literal array)
    val ml1 = graft.pipeline.TextAnalysis
      .hashedLinearScore(docs, "doc_id", "text", graft.pipeline.TextAnalysis.ml1Weights())
    val ml1Plan = ml1.queryExecution.executedPlan.toString
    assert(!ml1Plan.contains("Join"), ml1Plan)
    assert(exchanges(ml1) <= 2, ml1Plan)
    // ts2: one shuffle for the per-key window, nothing else
    val ts2 = graft.operators.GapFill.rollingZScores(
      spark.table("events").withColumn("ts", col("ts").cast("timestamp")),
      "event_type", "ts")
    val ts2Plan = ts2.queryExecution.executedPlan.toString
    assert(!ts2Plan.contains("Join"), ts2Plan)
    assert(exchanges(ts2) <= 2, ts2Plan)
  }

  test("ev4 WAU plans without a nested-loop join (row-local day explode)") {
    // the days×du range-join formulation planned as a
    // BroadcastNestedLoopJoin — O(|du|·|days|), quadratic in the time
    // span; the explode form fans each (day,user) row into its ≤7 window
    // days and aggregates, O(7·|du|)
    val df = run("ev4_active_user_ratios")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    val rows = df.collect()
    assert(rows.nonEmpty)
    // WAU >= DAU for every day (a day's actives are a subset of its
    // trailing week's actives); stickiness_pm in [0, 1000] — 0 IS legal
    // (integer div truncates to 0 whenever wau > 1000*dau)
    assert(rows.forall(r => r.getLong(2) >= r.getLong(1)))
    assert(rows.forall(r => r.getLong(3) >= 0 && r.getLong(3) <= 1000))
  }

  test("entropy bounds, BPE text reconstruction, temperature-mix invariants") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta")
    val docs = (0L until 60L).map { i =>
      val n = 3 + rng.nextInt(40)
      (i, Seq.fill(n)(vocab(rng.nextInt(vocab.length))).mkString(" "),
        s"src${i % 4}")
    }.toDF("doc_id", "text", "source")
    // Shannon bound: 0 <= H <= ln(distinct symbols); micro-nat quantization
    // adds at most 1 unit per aggregated term
    val ent = graft.pipeline.TextAnalysis.entropySignals(docs, "doc_id", "text")
      .collect()
    ent.foreach { r =>
      val (kc, hc) = (r.getLong(2), r.getLong(3))
      val (kt, ht) = (r.getLong(5), r.getLong(6))
      assert(hc >= 0 && hc <= math.round(math.log(kc.toDouble) * 1e6) + kc, r.toString)
      assert(ht >= 0 && ht <= math.round(math.log(kt.toDouble) * 1e6) + kt, r.toString)
    }
    // BPE merges join with a space, so rejoining the final arrays MUST
    // reproduce every original text byte-for-byte
    val (merges, toks) = graft.pipeline.TextAnalysis.bpeTrain(docs, "doc_id", "text", 8)
    assert(merges.nonEmpty)
    val rejoined = toks.select(col("doc_id"), concat_ws(" ", col("toks")).as("re"))
      .join(docs, "doc_id").where(col("re") =!= col("text")).count()
    assert(rejoined == 0)
    // temperature mix: rates in (0, 1], deterministic across invocations,
    // and the realized sample is within a binomial envelope of the budget
    val m1 = graft.pipeline.Sampling.temperatureMix(docs, "doc_id", "source")
    val m2 = graft.pipeline.Sampling.temperatureMix(docs, "doc_id", "source")
    assert(m1.orderBy("doc_id").collect().toSeq == m2.orderBy("doc_id").collect().toSeq)
    val rates = m1.select("rate").distinct().collect().map(_.getDouble(0))
    assert(rates.forall(r => r > 0 && r <= 1.0))
    val total = docs.count()
    val sampled = m1.where(col("sampled")).count()
    assert(math.abs(sampled - total / 2.0) <= 4 * math.sqrt(total / 4.0) + total * 0.05,
      s"sampled=$sampled of $total")
  }

  test("streaming seasonal anomaly scores equal batch ts3 across micro-batches") {
    import spark.implicits._
    Fixtures.registerRaw(spark, sfDir)
    val tzKey = "spark.sql.session.timeZone"
    val priorTz = spark.conf.get(tzKey)
    spark.conf.set(tzKey, "UTC")
    try {
      // the static seasonal profile (batch ts3's profile CTE) + the
      // finalized hourly counts the stream scores
      val prof = spark.sql(
        """WITH b AS (SELECT event_type,
          |    CAST(unix_timestamp(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS BIGINT) AS hr,
          |    CAST(hour(CAST(ts AS TIMESTAMP)) AS BIGINT) AS hod, count(*) AS n
          |  FROM events GROUP BY 1, 2, 3)
          |SELECT event_type, hod, CAST(sum(n) AS BIGINT) AS s,
          |       CAST(sum(n * n) AS BIGINT) AS ss, CAST(count(*) AS BIGINT) AS k
          |FROM b GROUP BY 1, 2""".stripMargin)
      val hourly = spark.sql(
        """SELECT event_type,
          |  CAST(unix_timestamp(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS BIGINT) AS hr,
          |  CAST(hour(CAST(ts AS TIMESTAMP)) AS BIGINT) AS hod, count(*) AS n
          |FROM events GROUP BY 1, 2, 3 ORDER BY hr""".stripMargin)
        .as[(String, Long, Long, Long)].collect()
      val cuts = Seq(hourly.length / 3, 2 * hourly.length / 3, hourly.length)
      val ms = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(String, Long, Long, Long)](spark)
      val q = graft.streaming.EventStream
        .seasonalAnomalyStream(spark,
          ms.toDF.toDF("event_type", "hr", "hod", "n"), prof)
        .writeStream.outputMode("append").format("memory")
        .queryName("seasonal_stream").start()
      var from = 0
      cuts.foreach { to =>
        ms.addData(hourly.slice(from, to).toSeq)
        q.processAllAvailable()
        from = to
      }
      q.stop()
      val streamed = spark.table("seasonal_stream")
        .select("event_type", "hr_epoch", "n", "baseline_u4", "z_u4", "anomaly")
      val batch = graft.SparkEntry.queries("ts3_seasonal_anomaly")(spark, sfDir)
      assert(streamed.count() == batch.count())
      assert(streamed.exceptAll(batch).count() == 0 &&
        batch.exceptAll(streamed).count() == 0)
    } finally spark.conf.set(tzKey, priorTz)
  }

  test("streaming anomaly scores equal batch ts2 across micro-batches") {
    import spark.implicits._
    Fixtures.registerRaw(spark, sfDir)
    val tzKey = "spark.sql.session.timeZone"
    val priorTz = spark.conf.get(tzKey)
    spark.conf.set(tzKey, "UTC")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // finalized hourly counts, in hour order (what a watermarked hourly
      // window agg emits); fed in 3 ordered micro-batches
      val hourly = spark.sql(
        """SELECT event_type,
          |  CAST(unix_timestamp(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS BIGINT) AS hr,
          |  count(*) AS n
          |FROM events GROUP BY 1, 2 ORDER BY hr""".stripMargin)
        .as[(String, Long, Long)].collect()
      val cuts = Seq(hourly.length / 3, 2 * hourly.length / 3, hourly.length)
      val ms = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(String, Long, Long)](spark)
      val q = graft.streaming.EventStream
        .anomalyStream(spark, ms.toDF.toDF("event_type", "hr", "n"))
        .writeStream.outputMode("update").format("memory")
        .queryName("anomaly_stream").start()
      var from = 0
      cuts.foreach { to =>
        ms.addData(hourly.slice(from, to).toSeq)
        q.processAllAvailable()
        from = to
      }
      q.stop()
      val streamed = spark.table("anomaly_stream")
        .select("event_type", "hr_epoch", "n", "z_u4", "anomaly")
      val batch = graft.SparkEntry.queries("ts2_anomaly")(spark, sfDir)
      assert(streamed.count() == batch.count())
      assert(streamed.exceptAll(batch).count() == 0 &&
        batch.exceptAll(streamed).count() == 0)
    } finally {
      spark.conf.set(tzKey, priorTz)
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("streaming journey transitions equal batch ev3 counts across micro-batches") {
    import spark.implicits._
    Fixtures.registerRaw(spark, sfDir)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // events in global (ts, event_id) order — per-key order follows —
      // fed in 3 micro-batches so transitions must stitch across the cut
      val ev = spark.sql(
        """SELECT user_id, event_id, unix_micros(CAST(ts AS TIMESTAMP)) AS tsUs,
          |       event_type
          |FROM events ORDER BY tsUs, event_id""".stripMargin)
        .as[(Long, Long, Long, String)].collect()
      val cuts = Seq(ev.length / 3, 2 * ev.length / 3, ev.length)
      val ms = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Long, Long, String)](spark)
      val src = ms.toDF.toDF("user_id", "event_id", "tsUs", "event_type")
        .selectExpr("user_id", "event_id",
          "timestamp_micros(tsUs) AS ts", "event_type")
      val q = graft.streaming.EventStream.transitionStream(spark, src)
        .writeStream.outputMode("append").format("memory")
        .queryName("transition_stream").start()
      var from = 0
      cuts.foreach { to =>
        ms.addData(ev.slice(from, to).toSeq)
        q.processAllAvailable()
        from = to
      }
      q.stop()
      val streamed = spark.table("transition_stream")
        .groupBy("from_type", "to_type").count()
      val batch = graft.SparkEntry.queries("ev3_markov_transitions")(spark, sfDir)
        .select(col("from_type"), col("to_type"), col("n").as("count"))
      assert(streamed.exceptAll(batch).count() == 0 &&
        batch.exceptAll(streamed).count() == 0)
    } finally {
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("streaming ordered funnel equals batch ev2 counts across micro-batches") {
    import spark.implicits._
    Fixtures.registerRaw(spark, sfDir)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // global ts order (per-key order follows), 3 micro-batches: funnel
      // stages must advance across the batch cuts
      val ev = spark.sql(
        """SELECT user_id, unix_micros(CAST(ts AS TIMESTAMP)) AS tsUs, event_type
          |FROM events ORDER BY tsUs, event_id""".stripMargin)
        .as[(Long, Long, String)].collect()
      val cuts = Seq(ev.length / 3, 2 * ev.length / 3, ev.length)
      val ms = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Long, String)](spark)
      val src = ms.toDF.toDF("user_id", "tsUs", "event_type")
        .selectExpr("user_id", "timestamp_micros(tsUs) AS ts", "event_type")
      val q = graft.streaming.EventStream.funnelStream(spark, src)
        .writeStream.outputMode("append").format("memory")
        .queryName("funnel_stream").start()
      var from = 0
      cuts.foreach { to =>
        ms.addData(ev.slice(from, to).toSeq)
        q.processAllAvailable()
        from = to
      }
      q.stop()
      val st = spark.table("funnel_stream").groupBy("stage").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val batch = graft.SparkEntry.queries("ev2_funnel")(spark, sfDir).head()
      assert(st.getOrElse("view", 0L) == batch.getLong(0))
      assert(st.getOrElse("click_after_view", 0L) == batch.getLong(1))
      assert(st.getOrElse("purchase_after_click", 0L) == batch.getLong(2))
    } finally {
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("streaming retention cohorts equal batch ev1 across micro-batches") {
    import spark.implicits._
    Fixtures.registerRaw(spark, sfDir)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ev = spark.sql(
        """SELECT user_id, unix_micros(CAST(ts AS TIMESTAMP)) AS tsUs
          |FROM events ORDER BY tsUs, event_id""".stripMargin)
        .as[(Long, Long)].collect()
      val cuts = Seq(ev.length / 3, 2 * ev.length / 3, ev.length)
      val ms = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Long)](spark)
      val src = ms.toDF.toDF("user_id", "tsUs")
        .selectExpr("user_id", "timestamp_micros(tsUs) AS ts")
      val q = graft.streaming.EventStream.retentionStream(spark, src)
        .writeStream.outputMode("append").format("memory")
        .queryName("retention_stream").start()
      var from = 0
      cuts.foreach { to =>
        ms.addData(ev.slice(from, to).toSeq)
        q.processAllAvailable()
        from = to
      }
      q.stop()
      val streamed = spark.table("retention_stream")
        .groupBy("cohort_day", "week_offset")
        .agg(count(lit(1)).as("n_users"))
        .selectExpr("date_add(DATE '1970-01-01', cohort_day) AS cohort",
          "CAST(week_offset AS BIGINT) AS week_offset", "n_users")
      val batch = graft.SparkEntry.queries("ev1_retention_cohorts")(spark, sfDir)
      assert(streamed.count() == batch.count())
      assert(streamed.exceptAll(batch).count() == 0 &&
        batch.exceptAll(streamed).count() == 0)
    } finally {
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("streaming DAU/WAU stickiness equals batch ev4 across micro-batches") {
    import spark.implicits._
    Fixtures.registerRaw(spark, sfDir)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // shuffled event order across 3 micro-batches: day/user contributions
      // arrive interleaved and partially replayed state must stay idempotent
      val ev = spark.sql(
        """SELECT user_id, unix_micros(CAST(ts AS TIMESTAMP)) AS tsUs
          |FROM events ORDER BY user_id, tsUs""".stripMargin)
        .as[(Long, Long)].collect()
      val cuts = Seq(ev.length / 3, 2 * ev.length / 3, ev.length)
      val ms = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Long)](spark)
      val src = ms.toDF.toDF("user_id", "tsUs")
        .selectExpr("user_id", "timestamp_micros(tsUs) AS ts")
      val q = graft.streaming.EventStream.stickinessStream(spark, src)
        .writeStream.outputMode("update").format("memory")
        .queryName("stickiness_stream").start()
      var from = 0
      cuts.foreach { to =>
        ms.addData(ev.slice(from, to).toSeq)
        q.processAllAvailable()
        from = to
      }
      q.stop()
      // update mode emits a row per refinement; the day's FINAL state is
      // the max counts (both only ever grow)
      val streamed = spark.table("stickiness_stream")
        .groupBy("day").agg(max("dau").as("dau"), max("wau").as("wau"))
        .selectExpr("date_add(DATE '1970-01-01', day) AS d", "dau", "wau",
          "CAST((1000 * dau) div wau AS BIGINT) AS stickiness_pm")
      val batch = graft.SparkEntry.queries("ev4_active_user_ratios")(spark, sfDir)
      assert(streamed.count() == batch.count())
      assert(streamed.exceptAll(batch).count() == 0 &&
        batch.exceptAll(streamed).count() == 0)
    } finally {
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("stickiness stream with event-time finalization: matches batch, evicts, ignores late rows") {
    import spark.implicits._
    Fixtures.registerRaw(spark, sfDir)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // TIME-ordered feed (the production contract for the watermarked
      // mode), 3 micro-batches
      val ev = spark.sql(
        """SELECT user_id, unix_micros(CAST(ts AS TIMESTAMP)) AS tsUs
          |FROM events ORDER BY tsUs, event_id""".stripMargin)
        .as[(Long, Long)].collect()
      val maxDay = (ev.map(_._2).max / 86400000000L).toInt
      val cuts = Seq(ev.length / 3, 2 * ev.length / 3, ev.length)
      val ms = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Long)](spark)
      val src = ms.toDF.toDF("user_id", "tsUs")
        .selectExpr("user_id", "timestamp_micros(tsUs) AS ts")
      val q = EventStream.stickinessStream(spark, src,
          watermarkDelay = Some("0 seconds"))
        .writeStream.outputMode("update").format("memory")
        .queryName("stickiness_evict").start()
      var from = 0
      cuts.foreach { to =>
        ms.addData(ev.slice(from, to).toSeq)
        q.processAllAvailable()
        from = to
      }
      // sentinel event 8 days past the last real day: advancing the
      // watermark past end-of-maxDay finalizes (and EVICTS) every real day
      val sentinelUs = (maxDay + 8L) * 86400000000L + 1L
      ms.addData(Seq((ev.head._1, sentinelUs)))
      q.processAllAvailable()
      // state after eviction = only the sentinel's own 7-day window (7 day
      // keys x 1 user) — without the timers it would be ~30 days x 15
      // users of membership rows
      val stateRows = q.lastProgress.stateOperators.head.numRowsTotal
      assert(stateRows < 60, s"state not evicted: $stateRows rows retained")
      // a LATE row for long-finalized days must not resurrect evicted
      // state (a resurrection restarts the day's counts at zero and emits
      // a garbage update row)
      val before = spark.table("stickiness_evict").count()
      ms.addData(Seq(ev.head))
      q.processAllAvailable()
      assert(spark.table("stickiness_evict").count() == before,
        "late row resurrected an evicted day")
      q.stop()
      // final counts (real days only; the sentinel day is synthetic)
      // still equal batch ev4
      val streamed = spark.table("stickiness_evict")
        .where(col("day") <= maxDay)
        .groupBy("day").agg(max("dau").as("dau"), max("wau").as("wau"))
        .selectExpr("date_add(DATE '1970-01-01', day) AS d", "dau", "wau",
          "CAST((1000 * dau) div wau AS BIGINT) AS stickiness_pm")
      val batch = graft.SparkEntry.queries("ev4_active_user_ratios")(spark, sfDir)
      assert(streamed.count() == batch.count())
      assert(streamed.exceptAll(batch).count() == 0 &&
        batch.exceptAll(streamed).count() == 0)
    } finally {
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("trainLinearClassifier separates a planted vocabulary; quantized weights serve") {
    import spark.implicits._
    // planted signal: positive docs speak 'good'-family tokens, negative
    // docs 'bad'-family, shared filler in both
    val docs = (0 until 200).map { i =>
      val y = i % 2
      val words =
        if (y == 1) Seq("good", "great", s"filler${i % 7}", "common")
        else Seq("bad", "awful", s"filler${i % 7}", "common")
      (i.toLong, words.mkString(" "), y)
    }.toDF("doc_id", "text", "label")
    val w = graft.pipeline.TextAnalysis
      .trainLinearClassifier(docs, "doc_id", "text", "label", iters = 10)
    // serve through the quantized scorer: every positive doc must outrank
    // every negative doc (the data is linearly separable)
    val micro = w.map(x => math.round(x * 1e6))
    val scored = graft.pipeline.TextAnalysis
      .hashedLinearScore(docs, "doc_id", "text", micro)
      .select(col("doc_id"), col("score_u6"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pos = (0 until 200).filter(_ % 2 == 1).map(i => scored(i.toLong))
    val neg = (0 until 200).filter(_ % 2 == 0).map(i => scored(i.toLong))
    assert(pos.min > neg.max,
      s"positives must outrank negatives: pos.min=${pos.min} neg.max=${neg.max}")
  }

  test("bpeTrain learns hand-computed merges in order and stops when pairs go unique") {
    import spark.implicits._
    val docs = Seq((1L, "a b a b c"), (2L, "a b c d"), (3L, "a a a"))
      .toDF("doc_id", "text")
    val (merges, toks) = graft.pipeline.TextAnalysis.bpeTrain(docs, "doc_id", "text", 10)
    // round 1: (a,b) x3 wins. round 2 is a TIE at x2 between (a,a)
    // (overlapping positions both count, as in standard BPE statistics)
    // and ("a b",c); lexicographic tie-break picks (a,a), and greedy
    // left-to-right merges only the first overlap: "a a a" -> ["a a","a"].
    // round 3: ("a b",c) x2. round 4: every pair unique -> stop.
    assert(merges == Seq(("a", "b"), ("a", "a"), ("a b", "c")))
    val byId = toks.as[(Long, Seq[String])].collect().toMap
    assert(byId(1L) == Seq("a b", "a b c"))
    assert(byId(2L) == Seq("a b c", "d"))
    assert(byId(3L) == Seq("a a", "a"))
  }

  test("grouped LSH candidate generation equals the self-join form, tags included") {
    import org.apache.spark.sql.functions._
    Fixtures.registerRaw(spark, sfDir)
    val docs = spark.table("documents")
      .withColumn("__src", pmod(col("doc_id"), lit(3)).cast("string"))
    val idx = graft.pipeline.Dedup.bandIndex(docs, "doc_id", "text")
      .drop("hash_family").localCheckpoint()
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("da", "db").collect().toSeq
    assert(norm(graft.pipeline.Dedup.lshCandidatesGrouped(idx)) ==
      norm(graft.pipeline.Dedup.lshCandidates(idx)))
    // tagged: __tag flows through both forms identically
    val tagged = graft.pipeline.Dedup.bandIndex(docs, "doc_id", "text")
      .drop("hash_family")
      .join(docs.select(col("doc_id").as("__id"), col("__src").as("__tag")), "__id")
      .localCheckpoint()
    assert(norm(graft.pipeline.Dedup.lshCandidatesGrouped(tagged)) ==
      norm(graft.pipeline.Dedup.lshCandidates(tagged)))
    assert(graft.pipeline.Dedup.lshCandidatesGrouped(tagged).columns.toSeq ==
      Seq("da", "db", "tag_a", "tag_b"))
  }

  test("incremental simhash ingest equals the full recompute on the batch slice") {
    Fixtures.registerRaw(spark, sfDir)
    val docs = spark.table("documents")
    val corpus = docs.where(col("doc_id") % 5 =!= 0)
    val batch = docs.where(col("doc_id") % 5 === 0)
    val index = graft.pipeline.Dedup.simhashIndex(corpus, "doc_id", "text")
    // default gate = the small-batch brute tier (broadcast popcount)
    val inc = graft.pipeline.Dedup
      .incrementalSimhashPairs(batch, index, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // forced past the gate = the pigeonhole-banded tier; both tiers must
    // produce the identical pair set (banding is exhaustive at h<=6)
    val banded = graft.pipeline.Dedup
      .incrementalSimhashPairs(batch, index, "doc_id", "text",
        bruteForceMaxBatch = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // full recompute, restricted to pairs touching the batch
    val full = graft.SparkEntry.queries("dd6_simhash_pairs")(spark, sfDir)
      .where(col("doc_a") % 5 === 0 || col("doc_b") % 5 === 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(inc == full)
    assert(banded == full)
    assert(inc.nonEmpty)
  }

  test("connected components refuse null endpoints loudly in both tiers") {
    import spark.implicits._
    val bad = Seq((Some(1L), Some(2L)), (Some(3L), None))
      .toDF("doc_a", "doc_b")
    val eDrv = intercept[IllegalArgumentException](
      graft.pipeline.Dedup.connectedComponents(bad).collect())
    assert(eDrv.getMessage.contains("null endpoint"))
    val eDist = intercept[IllegalArgumentException](
      graft.pipeline.Dedup.connectedComponents(bad, driverMaxEdges = -1).collect())
    assert(eDist.getMessage.contains("null endpoint"))
  }

  test("grouped LSH bucket cap drops only mega-bucket pairs") {
    import spark.implicits._
    // 30 identical boilerplate docs (a degenerate bucket in EVERY band) +
    // two genuine near-dup docs
    val boiler = (100L until 130L).map(i =>
      (i, "the same boilerplate text repeated for every single page here"))
    val near = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa extra"))
    val docs = (boiler ++ near).toDF("doc_id", "text")
    val idx = graft.pipeline.Dedup.bandIndex(docs, "doc_id", "text")
      .drop("hash_family").localCheckpoint()
    val unc = graft.pipeline.Dedup.lshCandidatesGrouped(idx)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = graft.pipeline.Dedup.lshCandidatesGrouped(idx, Some(10))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(unc.contains((1L, 2L)) && capped.contains((1L, 2L)))
    assert(unc.count { case (a, b) => a >= 100 && b >= 100 } == 30 * 29 / 2)
    assert(!capped.exists { case (a, b) => a >= 100 && b >= 100 })
  }

  test("connected components label chains and singleton pairs correctly") {
    import spark.implicits._
    // chain 1-2-3-4 (diameter 3), separate pair 10-11, pair 6-2 merging in
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (2L, 6L))
      .toDF("doc_a", "doc_b")
    val cc = graft.pipeline.Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 6L -> 1L,
      10L -> 10L, 11L -> 10L))
  }

  test("connected components: driver union-find tier equals the distributed loop") {
    import spark.implicits._
    // multi-round topology: a diameter-5 chain entered from the high end
    // (the worst case for one-hop propagation), a merge-in edge, a
    // separate pair, a self-contained triangle
    val pairs = Seq((8L, 9L), (7L, 8L), (6L, 7L), (5L, 6L), (4L, 5L),
      (2L, 9L), (20L, 21L), (30L, 31L), (31L, 32L), (30L, 32L))
      .toDF("doc_a", "doc_b")
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val drv = graft.pipeline.Dedup.connectedComponents(pairs)
    val dist = graft.pipeline.Dedup.connectedComponents(pairs, driverMaxEdges = -1)
    assert(asMap(drv) == asMap(dist) && asMap(drv)(4L) == 2L)
    // the driver tier's output is a LocalRelation: the dedup decision
    // costs no further jobs and joins against it broadcast for free
    assert(drv.queryExecution.optimizedPlan.collectFirst {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => l
    }.nonEmpty, "driver tier must return a LocalRelation")
    assert(dist.queryExecution.optimizedPlan.collectFirst {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => l
    }.isEmpty, "forced-distributed tier must not collect to the driver")
    // mergeComponents through the forced-distributed tier lands on the
    // same assignment as the (default) driver tier
    val stored = graft.pipeline.Dedup.connectedComponents(
      Seq((4L, 5L), (30L, 31L)).toDF("doc_a", "doc_b"))
    val mDrv = graft.pipeline.Dedup.mergeComponents(stored, pairs)
    val mDist = graft.pipeline.Dedup.mergeComponents(stored, pairs,
      driverMaxEdges = -1)
    assert(asMap(mDrv) == asMap(mDist))
  }

  test("simhash of near-dup pairs has small hamming distance") {
    val sim = run("dd4_simhash").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dups = run("dd2_minhash_lsh").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(dups.nonEmpty)
    val dists = dups.map { case (a, b) =>
      java.lang.Long.bitCount(sim(a) ^ sim(b))
    }
    // near-identical docs should collide on most of the 32 simhash bits
    assert(dists.forall(_ <= 8), s"hamming distances: ${dists.mkString(",")}")
    // while random pairs shouldn't: median random distance ~16
    val rand = sim.keys.toSeq.sorted.sliding(2, 29).collect {
      case Seq(a, b) if !dups.contains((a, b)) =>
        java.lang.Long.bitCount(sim(a) ^ sim(b))
    }.toSeq
    assert(rand.count(_ > 8) > rand.size / 2)
  }

  test("simhash block-combination banding finds every pair at h<=6") {
    val pairs = run("dd6_simhash_pairs").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.nonEmpty)
    val sim = graft.pipeline.Dedup
      .simhash(spark.table("documents"), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // exhaustiveness: every planted minhash-dup pair within 64-bit hamming 6
    // must have been caught by the 2-of-8 block-combination join
    val expected = run("dd2_minhash_lsh").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => java.lang.Long.bitCount(sim(a) ^ sim(b)) <= 6 }
    assert(expected.nonEmpty)
    expected.foreach(p => assert(pairs.contains(p), s"missing $p"))
  }

  test("IVF top-k recall vs brute-force baseline is reasonable") {
    val brute = run("ss1_bruteforce_topk").collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .view.mapValues(_.map(_._2).take(5).toSet).toMap
    val ivf = run("ss2_ivf_topk").collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val recalls = brute.keys.map { q =>
      val hit = ivf.getOrElse(q, Set.empty).intersect(brute(q)).size
      hit.toDouble / 5
    }.toSeq
    // 2-of-16 cell probing on near-random vectors: expect partial recall
    assert(recalls.sum / recalls.size >= 0.2,
      s"mean recall ${recalls.sum / recalls.size}")
  }

  test("KMV distinct estimate within sketch error; library form matches the query") {
    val df = run("ap1_approx_agg")
    // the query routes its k-smallest selection onto the bounded-heap
    // physical plan (no full per-group sort of the distinct-hash stream)
    assert(df.queryExecution.executedPlan.toString.contains("TopKPerGroup"),
      df.queryExecution.executedPlan.toString)
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val exact = r.getLong(1).toDouble
      val kmv = r.getLong(2).toDouble
      // KMV std error ~ 1/sqrt(k-2) = 12.7% at k=64; 35% is ~2.8 sigma
      // (deterministic data + deterministic hashes: fixed-margin, not flaky)
      assert(math.abs(kmv - exact) / exact < 0.35,
        s"KMV estimate off by >35%: $kmv vs $exact")
    }
    // library twin (TopKPerGroup bounded-heap k-smallest) = query's values
    Fixtures.registerRaw(spark, sfDir)
    val lib = pipeline.Sketches
      .kmvDistinct(spark.table("lineitem"), "l_returnflag", "l_partkey", k = 64)
      .orderBy("l_returnflag").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(lib.toSeq == rows.toSeq.map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2))),
      s"Sketches.kmvDistinct diverges from the oracled ap1 query: ${lib.mkString(", ")}")
  }

  test("count-min heavy hitters never under-count; over-count within epsilon") {
    val rows = run("ap2_heavy_hitters").collect()
    assert(rows.length == 20)
    Fixtures.registerRaw(spark, sfDir)
    val tok = spark.table("documents")
      .select(explode(split(lower(col("text")), " ")).as("token"))
    val totalTokens = tok.count()
    rows.foreach { r =>
      val exact = r.getLong(1); val est = r.getLong(2)
      assert(est >= exact, s"CMS under-counted ${r.getString(0)}: $est < $exact")
      // e/width * N with width=1024: the classic per-query CMS bound
      assert(est - exact <= (math.E / 1024 * totalTokens).ceil.toLong,
        s"CMS over-count beyond eps*N for ${r.getString(0)}: $est vs $exact")
    }
    // library twin = query's values
    val lib = pipeline.Sketches.cmsHeavyHitters(tok, "token", topN = 20)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(lib.toSeq == rows.toSeq.map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2))),
      "Sketches.cmsHeavyHitters diverges from the oracled ap2 query")
  }

  test("as-of join carries the latest preceding click per user") {
    val joined = run("ao1_asof_join")
    Fixtures.registerRaw(spark, sfDir)
    val ev = spark.table("events")
    assert(joined.count() == ev.where(col("event_type") === "purchase").count())
    // every matched click must exist, be a click, and precede the purchase
    val clicks = ev.where(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("ts").as("click_ts"),
        col("user_id").as("cuid"))
    val checked = joined.where(col("click_id").isNotNull)
      .join(clicks, "click_id")
      .join(ev.select(col("event_id"), col("ts").as("purchase_ts")), "event_id")
    assert(checked.where(col("click_ts") > col("purchase_ts")).count() == 0)
    assert(checked.where(col("cuid") =!= col("user_id")).count() == 0)
  }

  test("multimodal: mapPartitions feature extraction preserves rows and shapes") {
    Fixtures.registerRaw(spark, sfDir)
    val docs = spark.table("documents")
    val records = Multimodal.toMediaRecords(spark, docs)
    val feats = Multimodal.extractFeatures(records).collect()
    assert(feats.length == docs.count())
    feats.foreach { f =>
      assert(f.histogram.length == 16)
      assert(math.abs(f.histogram.sum - 1.0) < 1e-9) // normalized
      assert(f.frameOffsets.length <= 15)
      assert(f.nBytes > 0)
    }
  }

  test("stateful mapGroupsWithState accumulates per-user stats across micro-batches") {
    // two files -> two micro-batches with maxFilesPerTrigger=1 semantics is
    // not guaranteed; splitting still exercises state merge when batches split
    val dir = java.nio.file.Files.createTempDirectory("graft_events_state").toString
    Fixtures.registerRaw(spark, sfDir)
    val ev = spark.table("events")
    // stage as two parquet files so the source can form multiple batches
    ev.where(col("event_id") % 2 === 0).write.parquet(s"$dir/part_a")
    ev.where(col("event_id") % 2 === 1).write.parquet(s"$dir/part_b")
    val stagedDir = java.nio.file.Files.createTempDirectory("graft_events_staged").toString
    Seq("part_a", "part_b").foreach { p =>
      java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/$p")).forEach { f =>
        if (f.toString.endsWith(".parquet"))
          java.nio.file.Files.copy(f,
            java.nio.file.Paths.get(s"$stagedDir/${p}_${f.getFileName}"))
      }
    }
    // the staged files carry TimestampType (already converted), so stream
    // them with the post-conversion schema and skip the nanos conversion
    val streamed = spark.readStream
      .schema(ev.schema)
      .parquet(stagedDir)
    val q = EventStream.runningUserStats(spark, streamed)
      .writeStream.outputMode("update").format("memory")
      .queryName("user_stats_test").start()
    q.processAllAvailable()
    q.stop()
    // last update per user must equal the batch totals
    val finalStats = spark.table("user_stats_test")
      .groupBy("user_id").agg(max(col("n_events")).as("n"))
    val batch = ev.groupBy("user_id").agg(count(lit(1)).as("n"))
    assert(finalStats.join(batch, Seq("user_id"))
      .where(finalStats("n") =!= batch("n")).count() == 0)
    assert(finalStats.count() == batch.count())
  }

  test("winnowing property: random docs sharing an 8-word run share a fingerprint") {
    import org.scalacheck.{Gen, Prop}
    // pure-Scala reimplementation of TextAnalysis.staged winnowing expressions'
    // algorithm (k=4 grams, w=5 windows) for property-scale iteration
    def winnow(words: Seq[String]): Set[String] = {
      def md5(s: String): String =
        java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
      val grams = (0 to math.max(words.length - 4, 0))
        .map(i => md5(words.slice(i, i + 4).mkString(" ")))
      (0 to math.max(grams.length - 5, 0)).map(i => grams.slice(i, i + 5).min).toSet
    }
    val word = Gen.oneOf("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta")
    val doc = Gen.chooseNum(0, 12).flatMap(n => Gen.listOfN(n, word))
    val run = Gen.listOfN(8, word) // the shared 8-word run (w + k - 1)
    val prop = Prop.forAll(doc, doc, doc, doc, run) { (p1, s1, p2, s2, r) =>
      val a = p1 ++ r ++ s1
      val b = p2 ++ r ++ s2
      winnow(a).intersect(winnow(b)).nonEmpty
    }
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, res.status.toString)
    // and the Scala reimplementation agrees with the Spark expressions
    Fixtures.registerRaw(spark, sfDir)
    val rows = spark.table("documents").limit(20)
      .select(col("doc_id"), col("text"),
        expr(graft.pipeline.TextAnalysis.gramHashesSparkExpr("text")).as("h"))
      .select(col("doc_id"), col("text"),
        expr(graft.pipeline.TextAnalysis.winnowFromGramsSparkExpr("h")).as("fp"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[String](2).toSet == winnow(r.getString(1).split(" ", -1).toSeq),
        s"doc ${r.getLong(0)} disagrees with the reference implementation")
    }
  }

  test("fused and staged minhash-LSH forms emit identical pairs (incl. tags)") {
    Fixtures.registerRaw(spark, sfDir)
    val docs = spark.table("documents")
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(
      norm(graft.pipeline.Dedup.minhashLshPairs(docs, "doc_id", "text")) ==
        norm(graft.pipeline.Dedup.minhashLshPairsStaged(docs, "doc_id", "text")))
    // provenance tags ride both chains identically
    val tagged = docs.withColumn("src", (col("doc_id") % 2).cast("string"))
    val f = graft.pipeline.Dedup
      .minhashLshPairs(tagged, "doc_id", "text", tagCol = Some("src"))
    assert(f.columns.toSeq == Seq("doc_a", "doc_b", "tag_a", "tag_b", "jaccard"))
    assert(norm(f) == norm(graft.pipeline.Dedup
      .minhashLshPairsStaged(tagged, "doc_id", "text", tagCol = Some("src"))))
  }

  test("fastHash minhash: exact precision, no strong-pair misses, high recall") {
    Fixtures.registerRaw(spark, sfDir)
    val docs = spark.table("documents")
    val md5Pairs = graft.pipeline.Dedup.minhashLshPairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // xxhash64 base hash: different candidate GENERATION, identical exact
    // verification. Contract: precision is exact (every reported pair's
    // jaccard is the true value >= tau), strong pairs are never missed,
    // and overall recall vs the md5 family stays high — borderline pairs
    // near tau may differ between hash families (banding is
    // probabilistic for them in BOTH directions).
    val fastPairs = graft.pipeline.Dedup
      .minhashLshPairs(docs, "doc_id", "text", fastHash = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(fastPairs.forall(_._3 >= 0.8))
    // LSH can legitimately miss any single pair with small probability
    // (~(1-j^3)^4), so pin recall envelopes, not exact membership
    val strong = md5Pairs.filter(_._3 >= 0.95)
    assert(strong.nonEmpty)
    val strongRecall = strong.intersect(fastPairs).size.toDouble / strong.size
    assert(strongRecall >= 0.9, s"fastHash strong-pair recall = $strongRecall")
    val recall = fastPairs.intersect(md5Pairs).size.toDouble / md5Pairs.size
    assert(recall >= 0.9, s"fastHash recall vs md5 family = $recall")
  }

  test("incremental ingest dedup equals the full recompute on the batch slice") {
    Fixtures.registerRaw(spark, sfDir)
    val docs = spark.table("documents")
    val batch = docs.where(col("doc_id") % 10 === 3)
    val corpus = docs.where(col("doc_id") % 10 =!= 3)
    val full = graft.pipeline.Dedup.minhashLshPairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // pairs the incremental path must find: at least one end in the batch
    val expected = full.filter { case (a, b, _) => a % 10 == 3 || b % 10 == 3 }
    val index = graft.pipeline.Dedup.bandIndex(corpus, "doc_id", "text")
    val got = graft.pipeline.Dedup
      .incrementalNearDupPairs(batch, corpus, index, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == expected,
      s"missing=${expected -- got}, extra=${got -- expected}")
  }

  test("cluster-state merge equals full re-clustering (dd14 contraction)") {
    Fixtures.registerRaw(spark, sfDir)
    val docs = spark.table("documents")
    val corpus = docs.where(col("doc_id") % 10 =!= 0)
    val batch = docs.where(col("doc_id") % 10 === 0)
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val allPairs = graft.pipeline.Dedup
      .minhashLshPairs(docs, "doc_id", "text").localCheckpoint()
    val full = asMap(graft.pipeline.Dedup.connectedComponents(allPairs))
    // the rolling-pipeline path: stored corpus-only assignment + the
    // ingest's newly-found pairs folded in by label-graph contraction
    val stored = graft.pipeline.Dedup.connectedComponents(
      graft.pipeline.Dedup.minhashLshPairs(corpus, "doc_id", "text"))
      .localCheckpoint()
    val ingest = graft.pipeline.Dedup.incrementalNearDupPairs(
      batch, corpus, graft.pipeline.Dedup.bandIndex(corpus, "doc_id", "text"),
      "doc_id", "text")
    val merged = asMap(graft.pipeline.Dedup.mergeComponents(stored, ingest))
    assert(merged == full,
      s"merged=${merged.size} full=${full.size}; " +
        s"diff=${(merged.toSet diff full.toSet) ++ (full.toSet diff merged.toSet)}")
    // the merge must actually fuse cross components AND admit new docs
    assert(merged.keys.exists(_ % 10 == 0), "no batch doc entered the assignment")
    assert(stored.count() < merged.size, "merge added nothing — spec is vacuous")
    // idempotency: re-merging pairs already internal to the assignment's
    // components is a no-op (every label edge collapses)
    val fullDf = graft.pipeline.Dedup.connectedComponents(allPairs)
    val again = asMap(graft.pipeline.Dedup.mergeComponents(fullDf, allPairs))
    assert(again == full)
  }

  test("stored-shingle verification equals the text re-read path (dd11 sidecar)") {
    Fixtures.registerRaw(spark, sfDir)
    val docs = spark.table("documents")
    val batch = docs.where(col("doc_id") % 10 === 3)
    val corpus = docs.where(col("doc_id") % 10 =!= 3)
    val index = graft.pipeline.Dedup.bandIndex(corpus, "doc_id", "text")
    // the sidecar is STORED state: parquet round-trip like a real ingest
    val dir = java.nio.file.Files.createTempDirectory("graft_shstore").toString
    graft.pipeline.Dedup.shingleSets(corpus, "doc_id", "text")
      .write.parquet(s"$dir/sh")
    val store = spark.read.parquet(s"$dir/sh")
    def run(ss: Option[org.apache.spark.sql.DataFrame]) = graft.pipeline.Dedup
      .incrementalNearDupPairs(batch, corpus, index, "doc_id", "text",
        storedShingles = ss)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val viaStore = run(Some(store))
    val viaText = run(None)
    assert(viaStore == viaText && viaStore.nonEmpty,
      s"store=${viaStore.size} text=${viaText.size}; " +
        s"diff ${(viaStore diff viaText) ++ (viaText diff viaStore)}")
    // a sidecar built at a different shingle width would yield silently
    // WRONG Jaccard values — refused loudly at the gate instead
    val e = intercept[IllegalArgumentException] {
      graft.pipeline.Dedup.incrementalNearDupPairs(
        batch, corpus, index, "doc_id", "text",
        storedShingles = Some(
          graft.pipeline.Dedup.shingleSets(corpus, "doc_id", "text", n = 2)))
    }
    assert(e.getMessage.contains("does not match"))
    // COVERAGE gate: the width stamp proves the sidecar was built right,
    // not that it is COMPLETE — a store missing a candidate document
    // (an index delta appended without its sidecar companion) would
    // silently drop that doc's pairs at the verify join; refused loudly
    val someCorpusCand = viaText.iterator.flatMap { case (a, b, _) =>
      Seq(a, b).filter(_ % 10 != 3)
    }.next()
    val holed = graft.pipeline.Dedup.shingleSets(
      corpus.where(col("doc_id") =!= someCorpusCand), "doc_id", "text")
    val eCov = intercept[IllegalStateException] {
      graft.pipeline.Dedup.incrementalNearDupPairs(
        batch, corpus, index, "doc_id", "text", storedShingles = Some(holed))
    }
    assert(eCov.getMessage.contains("does not cover"))
    // DUPLICATE sidecar rows (a generation delta appended twice) would
    // silently MULTIPLY the duplicated doc's pairs at the verify join —
    // and under the retired raw-count gate, a duplicate could exactly
    // offset a missing doc and pass. Both shapes refuse loudly now.
    val fullStore = graft.pipeline.Dedup.shingleSets(corpus, "doc_id", "text")
    val dupRow = fullStore.where(col("__id") === someCorpusCand)
    val eDup = intercept[IllegalStateException] {
      graft.pipeline.Dedup.incrementalNearDupPairs(
        batch, corpus, index, "doc_id", "text",
        storedShingles = Some(fullStore.union(dupRow)))
    }
    assert(eDup.getMessage.contains("DUPLICATE"))
    val otherCand = viaText.iterator.flatMap { case (a, b, _) =>
      Seq(a, b).filter(c => c % 10 != 3 && c != someCorpusCand)
    }.next()
    val offsetStore = graft.pipeline.Dedup.shingleSets(
      corpus.where(col("doc_id") =!= otherCand), "doc_id", "text").union(dupRow)
    val eOffset = intercept[IllegalStateException] {
      graft.pipeline.Dedup.incrementalNearDupPairs(
        batch, corpus, index, "doc_id", "text",
        storedShingles = Some(offsetStore))
    }
    assert(eOffset.getMessage.contains("does not cover"))
  }

  test("distributed-tier ingest refuses DUPLICATE shingle-sidecar rows, like the driver tier") {
    Fixtures.registerRaw(spark, sfDir)
    val docs = spark.table("documents")
    val batch = docs.where(col("doc_id") % 10 === 3)
    val corpus = docs.where(col("doc_id") % 10 =!= 3)
    val index = graft.pipeline.Dedup.bandIndex(corpus, "doc_id", "text")
    val corpusCand = graft.pipeline.Dedup
      .incrementalNearDupPairs(batch, corpus, index, "doc_id", "text")
      .collect().iterator.flatMap(r => Seq(r.getLong(0), r.getLong(1)))
      .filter(_ % 10 != 3).next()
    val store = graft.pipeline.Dedup.shingleSets(corpus, "doc_id", "text")
    val dupRow = store.where(col("__id") === corpusCand)
    // inListMaxIds = 0 forces the distributed tier (anti-join coverage
    // check); a duplicated __id would multiply that doc's pairs there
    val e = intercept[IllegalStateException] {
      graft.pipeline.Dedup.incrementalNearDupPairs(
        batch, corpus, index, "doc_id", "text",
        storedShingles = Some(store.union(dupRow)),
        inListMaxIds = 0, broadcastMaxIds = -1).collect()
    }
    assert(e.getMessage.contains("DUPLICATE"))
  }

  test("rolling-merge broadcasts are size-gated: past the bound the joins run unhinted, results identical") {
    Fixtures.registerRaw(spark, sfDir)
    val docs = spark.table("documents")
    val batch = docs.where(col("doc_id") % 10 === 3)
    val corpus = docs.where(col("doc_id") % 10 =!= 3)
    val index = graft.pipeline.Dedup.bandIndex(corpus, "doc_id", "text")
    def hints(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.collect {
        case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
      }.size
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // ingest candidate filters: driver In-list under the bound, UNHINTED
    // semi joins (shuffle at worst, AQE's call at runtime) past it — the
    // backfill-sized-call guard. Results must be identical either side.
    // (The verify subtree is eagerly checkpointed, so the final frame's
    // analyzed plan can no longer carry its hints — the strategy tiers
    // are pinned by result equality here and by the job counts of
    // "stored-shingles ingest decision" below.)
    val hinted = graft.pipeline.Dedup
      .incrementalNearDupPairs(batch, corpus, index, "doc_id", "text")
    val gated = graft.pipeline.Dedup
      .incrementalNearDupPairs(batch, corpus, index, "doc_id", "text",
        inListMaxIds = 0, broadcastMaxIds = -1)
    val p = pairsOf(hinted)
    assert(p == pairsOf(gated) && p.nonEmpty)
    // the stored-sidecar path the same way (In-list under the bound —
    // no join at all — vs unhinted semi joins past it)
    val store = graft.pipeline.Dedup.shingleSets(corpus, "doc_id", "text")
    val gatedStore = graft.pipeline.Dedup
      .incrementalNearDupPairs(batch, corpus, index, "doc_id", "text",
        storedShingles = Some(store), inListMaxIds = 0, broadcastMaxIds = -1)
    assert(hints(gatedStore) == 0)
    assert(pairsOf(gatedStore) == p)
    // the ambiguous band (2·pairs over the In-list bound): the id set is
    // checkpoint-materialized and counted EXACTLY — clustered graphs
    // whose distinct ids undershoot their pair count keep the In-filter
    // path — and results are identical wherever the decision lands
    val ambiguous = graft.pipeline.Dedup
      .incrementalNearDupPairs(batch, corpus, index, "doc_id", "text",
        storedShingles = Some(store), inListMaxIds = 1)
    assert(pairsOf(ambiguous) == p)
    // mergeComponents: the relabel broadcast is gated by the label-graph
    // count — a backfill-sized pair list relabels through a plain join
    val pairs = hinted.localCheckpoint()
    val clusters = graft.pipeline.Dedup.connectedComponents(
      graft.pipeline.Dedup.minhashLshPairs(corpus, "doc_id", "text"))
      .localCheckpoint()
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val mHinted = graft.pipeline.Dedup.mergeComponents(clusters, pairs)
    val mGated = graft.pipeline.Dedup.mergeComponents(clusters, pairs,
      broadcastMaxLabels = -1)
    assert(hints(mHinted) > 0, "ingest-sized relabel lost its broadcast")
    assert(hints(mGated) == 0,
      "a backfill-sized relabel must not carry an explicit broadcast hint")
    assert(asMap(mHinted) == asMap(mGated) && asMap(mHinted).nonEmpty)
  }

  /** Spark jobs `f` submits from this thread (and from the AQE threads
    * that inherit its local properties). A tagged sentinel job marks the
    * end: the listener bus delivers in order, so once its start arrives
    * every earlier one has. */
  private def jobsOf[A](f: => A): (A, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val key = "graft.spec.jobs"
    val tags = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).flatMap(p => Option(p.getProperty(key)))
          .foreach(tags.add(_): Unit)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, "counted")
      val a = try f finally sc.setLocalProperty(key, "sentinel")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.currentTimeMillis() + 30000
      while (!tags.contains("sentinel") && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      assert(tags.contains("sentinel"), "listener bus did not drain")
      (a, tags.toArray.count(_ == "counted"))
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
  }

  test("stored-shingles ingest decision: job counts of the under-bound and past-bound tiers") {
    // The under-bound ingest proves itself under the In-list bound with a
    // block-scan count of the pair list and materializes no ids; only an
    // ambiguous (past-bound) ingest pays one id-set checkpoint + count.
    // Counted on the second run of each, after a warm first run.
    import org.apache.spark.storage.StorageLevel
    import graft.pipeline.Dedup
    val docs = graft.sources.LocalLayout.parquet(spark, s"$sfDir/documents.parquet")
    val corpus = docs.where(col("doc_id") % 10 =!= 0)
    val batch = docs.where(col("doc_id") % 10 === 0)
    val index = Dedup.bandIndex(corpus, "doc_id", "text")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val store = Dedup.shingleSetStore(corpus, "doc_id", "text")
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      index.count()
      store.count()
      def ingest(inListMaxIds: Long): (Long, Int) = {
        Dedup.incrementalNearDupPairs(batch, corpus, index, "doc_id", "text",
          storedShingles = Some(store), inListMaxIds = inListMaxIds).count()
        jobsOf(Dedup.incrementalNearDupPairs(batch, corpus, index, "doc_id", "text",
          storedShingles = Some(store), inListMaxIds = inListMaxIds).count())
      }
      val (underPairs, underJobs) = ingest(100000L)
      val (pastPairs, pastJobs) = ingest(1L)
      assert(underPairs == 12 && pastPairs == 12)
      assert(underJobs == 16, "under-bound ingest job count")
      assert(pastJobs == 24, "past-bound ingest job count")
    } finally {
      index.unpersist()
      store.unpersist()
    }
  }

  test("band-index generation merge: sequential appends == one build") {
    Fixtures.registerRaw(spark, sfDir)
    val docs = spark.table("documents")
    val c0 = docs.where(col("doc_id") % 4 <= 1)
    val b1 = docs.where(col("doc_id") % 4 === 2)
    val b2 = docs.where(col("doc_id") % 4 === 3)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        r.getString(3), r.getInt(4), r.getInt(5))).toSet
    val oneShot = rows(graft.pipeline.Dedup.bandIndex(docs, "doc_id", "text"))
    // each generation round-trips parquet — the rolling-pipeline shape:
    // only the batch is ever banded, never the corpus
    val dir = java.nio.file.Files.createTempDirectory("graft_bimerge").toString
    graft.pipeline.Dedup.bandIndex(c0, "doc_id", "text").write.parquet(s"$dir/g0")
    graft.pipeline.Dedup
      .appendToBandIndex(spark.read.parquet(s"$dir/g0"), b1, "doc_id", "text")
      .write.parquet(s"$dir/g1")
    val merged = graft.pipeline.Dedup
      .appendToBandIndex(spark.read.parquet(s"$dir/g1"), b2, "doc_id", "text")
    assert(rows(merged) == oneShot,
      s"merged=${rows(merged).size} oneShot=${oneShot.size}")
    // the append-FILES delta form: stored generation ∪ validated batch
    // rows == the one-shot build (what mode("append") into the stored
    // table produces, with batch-proportional IO)
    val delta = graft.pipeline.Dedup.bandIndexDeltaFor(
      spark.read.parquet(s"$dir/g1"), b2, "doc_id", "text")
    assert(rows(spark.read.parquet(s"$dir/g1")) ++ rows(delta) == oneShot)
    val eDelta = intercept[IllegalArgumentException] {
      graft.pipeline.Dedup.bandIndexDeltaFor(
        spark.read.parquet(s"$dir/g1"), b2, "doc_id", "text", fastHash = true)
    }
    assert(eDelta.getMessage.contains("does not match"))
    // a mismatched hash family refuses the merge (schemes never collide)
    val e = intercept[IllegalArgumentException] {
      graft.pipeline.Dedup.appendToBandIndex(
        spark.read.parquet(s"$dir/g1"), b2, "doc_id", "text", fastHash = true)
    }
    assert(e.getMessage.contains("does not match"))
    // an EMPTY index stays verifiable through parquet (schema metadata):
    // append works, and an empty index stripped of metadata is refused
    // loudly as unverifiable
    graft.pipeline.Dedup.bandIndex(docs.where(lit(false)), "doc_id", "text")
      .write.parquet(s"$dir/empty")
    val empty = spark.read.parquet(s"$dir/empty")
    assert(graft.pipeline.Dedup
      .appendToBandIndex(empty, b1, "doc_id", "text").count() > 0)
    val stripped = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(
        empty.schema.fields.map(_.copy(
          metadata = org.apache.spark.sql.types.Metadata.empty))))
    val e2 = intercept[IllegalArgumentException] {
      graft.pipeline.Dedup.appendToBandIndex(stripped, b1, "doc_id", "text")
    }
    assert(e2.getMessage.contains("EMPTY"))
    // a metadata-less table with MIXED stamp values (a raw append that
    // bypassed the validated builders — only foreign writers can produce
    // this) is refused as poisoned, never blessed by whichever row a
    // first-row probe happens to return
    val mixedRows = graft.pipeline.Dedup.bandIndex(c0, "doc_id", "text")
      .union(graft.pipeline.Dedup.bandIndex(b1, "doc_id", "text", fastHash = true))
      .collect()
    val mixed = spark.createDataFrame(
      java.util.Arrays.asList(mixedRows: _*), stripped.schema)
    val e3 = intercept[IllegalArgumentException] {
      graft.pipeline.Dedup.appendToBandIndex(mixed, b2, "doc_id", "text")
    }
    assert(e3.getMessage.contains("MIXED"))
    // the shingle-set sidecar merges the same way (per-document,
    // append-only): sets compare as SETS (collect order is merge order)
    def shRows(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getSeq[String](1).toSet,
        r.getInt(2))).toSet
    val shOne = shRows(graft.pipeline.Dedup.shingleSets(docs, "doc_id", "text"))
    graft.pipeline.Dedup.shingleSets(c0, "doc_id", "text")
      .write.parquet(s"$dir/sh0")
    val shMerged = graft.pipeline.Dedup.appendToShingleSets(
      graft.pipeline.Dedup.appendToShingleSets(
        spark.read.parquet(s"$dir/sh0"), b1, "doc_id", "text"),
      b2, "doc_id", "text")
    assert(shRows(shMerged) == shOne)
    // simhash index merge: signatures are per-document and append-only;
    // like every stored index the generation carries its scheme stamp
    // through the parquet round-trip
    def simRows(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val simOne = simRows(graft.pipeline.Dedup.simhashIndex(docs, "doc_id", "text"))
    graft.pipeline.Dedup.simhashIndex(c0, "doc_id", "text")
      .write.parquet(s"$dir/sim0")
    val simMerged = simRows(graft.pipeline.Dedup.appendToSimhashIndex(
      graft.pipeline.Dedup.appendToSimhashIndex(
        spark.read.parquet(s"$dir/sim0"), b1, "doc_id", "text"),
      b2, "doc_id", "text"))
    assert(simMerged == simOne)
    // the append-FILES delta form, scheme-validated like the band index's
    val simDelta = graft.pipeline.Dedup.simhashIndexDeltaFor(
      spark.read.parquet(s"$dir/sim0"), b1, "doc_id", "text")
    assert(simRows(spark.read.parquet(s"$dir/sim0")) ++ simRows(simDelta) ==
      simRows(graft.pipeline.Dedup.simhashIndex(
        docs.where(col("doc_id") % 4 <= 2), "doc_id", "text")))
    // an unstamped (pre-versioning) simhash index is refused loudly at
    // merge and at probe — the uniformity gate every stored index carries
    val eSim = intercept[IllegalArgumentException] {
      graft.pipeline.Dedup.appendToSimhashIndex(
        graft.pipeline.Dedup.simhash(c0, "doc_id", "text"), b1, "doc_id", "text")
    }
    assert(eSim.getMessage.contains("no sh_scheme"))
    val eSim2 = intercept[IllegalArgumentException] {
      graft.pipeline.Dedup.incrementalSimhashPairs(
        b1, graft.pipeline.Dedup.simhash(c0, "doc_id", "text"), "doc_id", "text")
    }
    assert(eSim2.getMessage.contains("no sh_scheme"))
  }

  test("delta-append generations compact to a bit-equal single generation") {
    Fixtures.registerRaw(spark, sfDir)
    val docs = spark.table("documents")
    val corpus0 = docs.where(col("doc_id") % 10 > 4)
    val root = java.nio.file.Files.createTempDirectory("graft_compact").toString
    val idxDir = s"$root/idx"; val shDir = s"$root/sh"
    graft.pipeline.Dedup.bandIndex(corpus0, "doc_id", "text").write.parquet(idxDir)
    graft.pipeline.Dedup.shingleSetStore(corpus0, "doc_id", "text").write.parquet(shDir)
    // four ingest generations fold forward as append-files deltas — the
    // batch-proportional merge — leaving one file-set behind per append
    (0 to 3).foreach { i =>
      val b = docs.where(col("doc_id") % 10 === i)
      graft.pipeline.Dedup
        .bandIndexDeltaFor(spark.read.parquet(idxDir), b, "doc_id", "text")
        .write.mode("append").parquet(idxDir)
      graft.pipeline.Dedup
        .shingleSetsDeltaFor(spark.read.parquet(shDir), b, "doc_id", "text")
        .write.mode("append").parquet(shDir)
    }
    val before = graft.pipeline.IndexMaintenance.health(spark, idxDir)
    assert(graft.pipeline.IndexMaintenance.shouldCompact(spark, idxDir, maxFiles = 8),
      s"file accumulation did not trip the trigger (files=${before.dataFiles})")
    def idxRows(d: String) = spark.read.parquet(d).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getString(3),
        r.getInt(4), r.getInt(5))).toSet
    def shRows(d: String) = spark.read.parquet(d).collect()
      .map(r => (r.getLong(0), r.getSeq[String](1).toSet, r.getInt(2))).toSet
    val idxBefore = idxRows(idxDir)
    val shBefore = shRows(shDir)
    // serving probe over the appended state (batch %10=4 is NOT indexed)
    val probeBatch = docs.where(col("doc_id") % 10 === 4)
    val probeCorpus = docs.where(col("doc_id") % 10 =!= 4)
    def probe() = graft.pipeline.Dedup.incrementalNearDupPairs(
        probeBatch, probeCorpus, spark.read.parquet(idxDir), "doc_id", "text",
        storedShingles = Some(spark.read.parquet(shDir)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val pairsBefore = probe()
    assert(pairsBefore.nonEmpty)
    // compact both stores in place (the sidecar restores its range-by-id
    // layout — the In-filter pruning contract)
    val afterIdx = graft.pipeline.IndexMaintenance.compactIndex(spark, idxDir)
    graft.pipeline.IndexMaintenance.compactIndex(spark, shDir,
      graft.pipeline.IndexMaintenance.rangeByIdLayout("__id"))
    assert(afterIdx.dataFiles < before.dataFiles)
    assert(!graft.pipeline.IndexMaintenance.shouldCompact(spark, idxDir, maxFiles = 8))
    // bit-equal rows (scheme stamps included), identical probe verdicts,
    // and the stamp gates still verify from the rewritten metadata
    assert(idxRows(idxDir) == idxBefore)
    assert(shRows(shDir) == shBefore)
    assert(probe() == pairsBefore)
    graft.pipeline.Dedup.requireBandScheme(
      spark.read.parquet(idxDir), 12, 4, fastHash = false)
  }

  test("streaming ingest dedup: foreachBatch + stored band index equals batch recompute") {
    Fixtures.registerRaw(spark, sfDir)
    val docs = spark.table("documents")
    val corpus0 = docs.where(col("doc_id") % 10 < 6)
    val sliceA = docs.where(col("doc_id") % 10 === 6 || col("doc_id") % 10 === 7)
    val sliceB = docs.where(col("doc_id") % 10 === 8 || col("doc_id") % 10 === 9)

    // production state layout: corpus + band index as stored tables; each
    // arriving micro-batch dedups against the CURRENT state, then appends
    // itself (docs + its index slice) — only the batch is ever re-hashed
    val root = java.nio.file.Files.createTempDirectory("graft_ingest").toString
    val storeDir = s"$root/corpus"; val idxDir = s"$root/index"; val inDir = s"$root/in"
    corpus0.write.parquet(storeDir)
    graft.pipeline.Dedup.bandIndex(corpus0, "doc_id", "text").write.parquet(idxDir)
    sliceA.coalesce(1).write.parquet(inDir)
    sliceB.coalesce(1).write.mode("append").parquet(inDir)

    val results = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    val q = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
      .writeStream.foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val corpus = spark.read.parquet(storeDir)
        val index = spark.read.parquet(idxDir)
        results ++= graft.pipeline.Dedup
          .incrementalNearDupPairs(b, corpus, index, "doc_id", "text")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        b.write.mode("append").parquet(storeDir)
        graft.pipeline.Dedup.bandIndex(b, "doc_id", "text")
          .write.mode("append").parquet(idxDir)
        ()
      }.start()
    q.processAllAvailable()
    q.stop()

    // every pair with >= 1 end in a streamed slice is found exactly when
    // its later end arrives; corpus0-internal pairs were found at build
    val full = graft.pipeline.Dedup.minhashLshPairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val expected = full.filterNot { case (a, b, _) => a % 10 < 6 && b % 10 < 6 }
    assert(results.toSet == expected,
      s"missing=${expected -- results.toSet}, extra=${results.toSet -- expected}")
  }

  test("rolling generations: index delta-appends + cluster merges fold forward per batch") {
    Fixtures.registerRaw(spark, sfDir)
    val docs = spark.table("documents")
    val corpus0 = docs.where(col("doc_id") % 10 < 6)
    val sliceA = docs.where(col("doc_id") % 10 === 6 || col("doc_id") % 10 === 7)
    val sliceB = docs.where(col("doc_id") % 10 === 8 || col("doc_id") % 10 === 9)

    // the COMPLETE rolling-pipeline state layout: corpus + band index +
    // component assignment, all stored tables. Each arriving micro-batch
    // (1) dedups against the CURRENT generation, (2) folds its band rows
    // in via the validated delta append (bandIndexDeltaFor — IO
    // proportional to the batch), and (3) folds its pairs into the
    // cluster assignment via label-graph contraction (mergeComponents,
    // written as generation g+1 and swapped). The corpus is never
    // re-banded and the pair graph never re-clustered.
    val root = java.nio.file.Files.createTempDirectory("graft_rollgen").toString
    val storeDir = s"$root/corpus"; val idxDir = s"$root/index"; val inDir = s"$root/in"
    corpus0.write.parquet(storeDir)
    graft.pipeline.Dedup.bandIndex(corpus0, "doc_id", "text").write.parquet(idxDir)
    graft.pipeline.Dedup.connectedComponents(
        graft.pipeline.Dedup.minhashLshPairs(corpus0, "doc_id", "text"))
      .write.parquet(s"$root/cl0")
    sliceA.coalesce(1).write.parquet(inDir)
    sliceB.coalesce(1).write.mode("append").parquet(inDir)

    val gen = new java.util.concurrent.atomic.AtomicInteger(0)
    val q = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
      .writeStream.foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val corpus = spark.read.parquet(storeDir)
        val index = spark.read.parquet(idxDir)
        val g = gen.get()
        val clusters = spark.read.parquet(s"$root/cl$g")
        val pairs = graft.pipeline.Dedup
          .incrementalNearDupPairs(b, corpus, index, "doc_id", "text")
          .localCheckpoint()
        graft.pipeline.Dedup.mergeComponents(clusters, pairs)
          .write.parquet(s"$root/cl${g + 1}")
        gen.incrementAndGet()
        b.write.mode("append").parquet(storeDir)
        graft.pipeline.Dedup.bandIndexDeltaFor(index, b, "doc_id", "text")
          .write.mode("append").parquet(idxDir)
        ()
      }.start()
    q.processAllAvailable()
    q.stop()

    // the final generation's assignment ≡ clustering the WHOLE corpus's
    // pair graph from scratch — the rolling path must lose nothing
    val full = graft.pipeline.Dedup.connectedComponents(
        graft.pipeline.Dedup.minhashLshPairs(docs, "doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rolled = spark.read.parquet(s"$root/cl${gen.get()}")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gen.get() == 2, s"expected 2 generations, got ${gen.get()}")
    assert(rolled == full,
      s"rolled=${rolled.size} full=${full.size}; " +
        s"diff=${(rolled.toSet diff full.toSet) ++ (full.toSet diff rolled.toSet)}")
    // ... and the final index equals a one-shot build over everything
    val idxRows = spark.read.parquet(idxDir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val oneShot = graft.pipeline.Dedup.bandIndex(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(idxRows == oneShot)
  }

  test("winnowing guarantee: near-dup pairs share selected fingerprints") {
    Fixtures.registerRaw(spark, sfDir)
    val docs = spark.table("documents")
    // per-doc winnowed fingerprint SET — the SAME staged expressions the
    // tx6 driver query is built from (single-sourced in TextAnalysis)
    val fp = docs
      .select(col("doc_id"),
        expr(graft.pipeline.TextAnalysis.gramHashesSparkExpr("text")).as("h"))
      .select(col("doc_id"),
        expr(graft.pipeline.TextAnalysis.winnowFromGramsSparkExpr("h")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    // planted near-dup pairs (trigram jaccard >= 0.8 via the LSH pipeline)
    val pairs = graft.pipeline.Dedup
      .minhashLshPairs(docs, "doc_id", "text")
      .select(col("doc_a"), col("doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "fixture should contain planted near-dups")
    // winnowing guarantees a shared fingerprint for any common run of
    // >= w + k - 1 = 8 words; planted near-dups share long runs
    pairs.foreach { case (a, b) =>
      assert(fp(a).intersect(fp(b)).nonEmpty, s"pair ($a,$b) shares no fingerprint")
    }
  }

  test("contamination op serves batch and streaming with one plan (stream-static join)") {
    Fixtures.registerRaw(spark, sfDir)
    val docs = spark.table("documents")
    val eval = docs.where(col("doc_id") % 10 === 7)
    val train = docs.where(col("doc_id") % 10 =!= 7)
    // stage the training docs as two files -> at least two micro-batches
    val dir = java.nio.file.Files.createTempDirectory("graft_dc_stream").toString
    train.where(col("doc_id") % 2 === 0).coalesce(1).write.parquet(s"$dir/a")
    train.where(col("doc_id") % 2 === 1).coalesce(1).write.parquet(s"$dir/b")
    val staged = java.nio.file.Files.createTempDirectory("graft_dc_staged").toString
    Seq("a", "b").foreach { p =>
      java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/$p")).forEach { f =>
        if (f.toString.endsWith(".parquet"))
          java.nio.file.Files.copy(f,
            java.nio.file.Paths.get(s"$staged/${p}_${f.getFileName}"))
      }
    }
    val streamed = spark.readStream.schema(train.schema).parquet(staged)
    val q = graft.pipeline.Curation
      .contaminationCounts(streamed, eval, "doc_id", "text")
      .writeStream.outputMode("update").format("memory")
      .queryName("dc_stream_test").start()
    q.processAllAvailable()
    q.stop()
    // watermarked variant (bounded state for unbounded streams): an
    // ingest-time column + watermark must not change any per-doc answer
    val stagedTs = java.nio.file.Files.createTempDirectory("graft_dc_staged_ts")
      .toString + "/data"
    spark.read.parquet(staged)
      .withColumn("ingest_ts", lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00")))
      .write.parquet(stagedTs)
    val streamedTs = spark.readStream
      .schema(spark.read.parquet(stagedTs).schema).parquet(stagedTs)
    val qw = graft.pipeline.Curation
      .contaminationCounts(streamedTs, eval, "doc_id", "text",
        watermark = Some(("ingest_ts", "10 minutes")))
      .writeStream.outputMode("update").format("memory")
      .queryName("dc_stream_wm_test").start()
    qw.processAllAvailable()
    qw.stop()
    val wmFinal = spark.table("dc_stream_wm_test")
      .groupBy("doc_id").agg(max(col("n_contaminated")).as("n_contaminated"))
      .where(col("n_contaminated") > 0)
    // last update per doc == the batch op's answer (docs aren't split
    // across files, so each doc's final row is its complete count)
    val streamFinal = spark.table("dc_stream_test")
      .groupBy("doc_id")
      .agg(max(col("n_contaminated")).as("n_contaminated"))
      .where(col("n_contaminated") > 0)
    val batch = graft.pipeline.Curation
      .decontaminate(train, eval, "doc_id", "text")
      .select(col("doc_id"), col("n_contaminated"))
    assert(streamFinal.exceptAll(batch).count() == 0 &&
      batch.exceptAll(streamFinal).count() == 0)
    assert(wmFinal.exceptAll(batch).count() == 0 &&
      batch.exceptAll(wmFinal).count() == 0)
  }

  test("transformWithState accumulates per-user stats (Spark 4 state API)") {
    Fixtures.registerRaw(spark, sfDir)
    val ev = spark.table("events")
    val dir = java.nio.file.Files.createTempDirectory("graft_events_tws").toString
    ev.where(col("event_id") % 2 === 0).coalesce(1).write.parquet(s"$dir/part_a")
    ev.where(col("event_id") % 2 === 1).coalesce(1).write.parquet(s"$dir/part_b")
    val staged = java.nio.file.Files.createTempDirectory("graft_events_tws_staged").toString
    Seq("part_a", "part_b").foreach { p =>
      java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/$p")).forEach { f =>
        if (f.toString.endsWith(".parquet"))
          java.nio.file.Files.copy(f,
            java.nio.file.Paths.get(s"$staged/${p}_${f.getFileName}"))
      }
    }
    // the transformWithState operator requires the RocksDB state store
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val streamed = spark.readStream.schema(ev.schema).parquet(staged)
      val q = EventStream.runningUserStatsTws(spark, streamed)
        .writeStream.outputMode("update").format("memory")
        .queryName("user_stats_tws").start()
      q.processAllAvailable()
      q.stop()
      val finalStats = spark.table("user_stats_tws")
        .groupBy("user_id").agg(max(col("n_events")).as("n"))
      val batch = ev.groupBy("user_id").agg(count(lit(1)).as("n"))
      assert(finalStats.join(batch, Seq("user_id"))
        .where(finalStats("n") =!= batch("n")).count() == 0)
      assert(finalStats.count() == batch.count())
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("stateTtl evicts idle per-user streaming state; active-window equality holds") {
    import spark.implicits._
    Fixtures.registerRaw(spark, sfDir)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // processing-time TTL mode re-triggers micro-batches CONTINUOUSLY
    // (the stateful operator asks for another batch to advance its clock,
    // so neither processAllAvailable nor Trigger.AvailableNow ever
    // settles — the reason the stream builders document a real trigger
    // interval for TTL deployments). Each phase here runs a 100 ms
    // trigger over a file source with a shared checkpoint, polls until
    // the staged rows are consumed, then stops — the restart also pins
    // that TTL state survives across queries and ages by wall clock.
    def runPhase(
        src: org.apache.spark.sql.DataFrame,
        ttlStream: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
        ckpt: String, name: String, mode: String,
        minInput: Long): Seq[org.apache.spark.sql.Row] = {
      // foreachBatch, not the memory sink: only checkpoint-recoverable
      // sinks can resume phase 2 from phase 1's offsets
      val buf = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
      val q = ttlStream(src)
        .writeStream.option("checkpointLocation", ckpt)
        .outputMode(mode)
        .foreachBatch((b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            _: Long) => buf.synchronized { buf ++= b.collect() }: Unit)
        .trigger(org.apache.spark.sql.streaming.Trigger
          .ProcessingTime("100 milliseconds"))
        .start()
      try {
        val deadline = System.currentTimeMillis + 120000
        def consumed: Long = q.recentProgress.map(_.numInputRows).sum
        while (consumed < minInput && System.currentTimeMillis < deadline)
          Thread.sleep(100)
        assert(consumed >= minInput, s"$name consumed only $consumed rows")
        Thread.sleep(700) // grace: let the consuming batch's output commit
      } finally q.stop()
      buf.synchronized(buf.toSeq)
    }
    def stage(dir: String,
        rows: Seq[(Long, Long, Long, String)]): Unit =
      rows.toDF("user_id", "event_id", "tsUs", "event_type")
        .selectExpr("user_id", "event_id",
          "timestamp_micros(tsUs) AS ts", "event_type")
        .coalesce(1).write.mode("append").parquet(dir): Unit
    try {
      // --- eviction: a user idle past the ttl horizon restarts their
      // journey — the resumed event emits NO transition (fresh-user
      // semantics), instead of a stale (last-before-idle -> new) edge
      val dir = java.nio.file.Files.createTempDirectory("graft_ttl_src").toString
      val ckpt = java.nio.file.Files.createTempDirectory("graft_ttl_ck").toString
      val src = spark.readStream
        .schema("user_id LONG, event_id LONG, ts TIMESTAMP, event_type STRING")
        .parquet(dir)
      def stream(s: org.apache.spark.sql.DataFrame) = graft.streaming.EventStream
        .transitionStream(spark, s, stateTtl = Some(java.time.Duration.ofSeconds(2)))
      stage(dir, Seq((1L, 1L, 1000000L, "view"), (1L, 2L, 2000000L, "click")))
      val p1 = runPhase(src, stream, ckpt, "ttl_transitions", "append", 2L)
        .map(r => (r.getString(0), r.getString(1)))
      assert(p1 == Seq(("view", "click")), s"phase 1 got $p1")
      Thread.sleep(3000) // idle past the 2 s ttl
      stage(dir, Seq((1L, 3L, 3000000L, "purchase")))
      val p2 = runPhase(src, stream, ckpt, "ttl_transitions_2", "append", 1L)
        .map(r => (r.getString(0), r.getString(1)))
      assert(p2.isEmpty, s"idle state not evicted: phase 2 emitted $p2")
      // --- active window: a generous ttl must not perturb results —
      // running stats over a continuously-active feed equal the batch
      // aggregate exactly (the same contract as the no-ttl spec above)
      val dir2 = java.nio.file.Files.createTempDirectory("graft_ttl_src2").toString
      val ckpt2 = java.nio.file.Files.createTempDirectory("graft_ttl_ck2").toString
      val ev = spark.sql(
        """SELECT user_id, unix_micros(CAST(ts AS TIMESTAMP)) AS tsUs,
          |       value FROM events ORDER BY tsUs, event_id""".stripMargin)
        .as[(Long, Long, Double)].collect()
      def stage2(rows: Seq[(Long, Long, Double)]): Unit =
        rows.toDF("user_id", "tsUs", "value")
          .selectExpr("user_id", "timestamp_micros(tsUs) AS ts", "value")
          .coalesce(1).write.mode("append").parquet(dir2): Unit
      val src2 = spark.readStream
        .schema("user_id LONG, ts TIMESTAMP, value DOUBLE").parquet(dir2)
      def stream2(s: org.apache.spark.sql.DataFrame) = graft.streaming.EventStream
        .runningUserStatsTws(spark, s, stateTtl = Some(java.time.Duration.ofHours(1)))
      stage2(ev.slice(0, ev.length / 2).toSeq)
      val h1 = runPhase(src2, stream2, ckpt2, "ttl_user_stats_1", "update",
        (ev.length / 2).toLong)
      stage2(ev.slice(ev.length / 2, ev.length).toSeq)
      val h2 = runPhase(src2, stream2, ckpt2, "ttl_user_stats_2", "update",
        (ev.length - ev.length / 2).toLong)
      // phase-2 updates build on phase-1 state (checkpoint restart);
      // the final per-user count is the max across both emissions
      val finalStats = (h1 ++ h2)
        .map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).map { case (u, xs) => (u, xs.map(_._2).max) }
      val batch = spark.table("events").groupBy("user_id")
        .agg(count(lit(1)).as("n")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(finalStats.toMap == batch)
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("real PNG codec: encode/decode round-trips bytes; resize keeps geometry") {
    val payload = (0 until 100).map(_.toByte).toArray
    val png = Multimodal.encodePng(payload)
    assert((png(0) & 0xff) == 0x89 && png(1) == 'P'.toByte) // real PNG container
    val (w, h, gray) = Multimodal.decodeImage(png)
    assert(w == 100 && h == 1)
    assert(gray.toSeq == payload.toSeq) // lossless round-trip through ImageIO
    val (rw, rh, rgray) = Multimodal.decodeImage(Multimodal.resizeImage(png, 10))
    assert(rw == 10 && rh == 1)
    assert(rgray.toSeq == Seq(0, 10, 20, 30, 40, 50, 60, 70, 80, 90).map(_.toByte))
    val (pw, _, pgray) = Multimodal.decodeImage(Multimodal.resizeImage(png, 200))
    assert(pw == 100 && pgray.toSeq == payload.toSeq) // pass-through under target
  }

  test("mm7 pair mining: duplicate (phash, caption) collapses to min id; gate filters") {
    import spark.implicits._
    // doc 1/3 are a true duplicate pair (same image content AND caption),
    // doc 2 is a distinct pair (different caption => different md5 group,
    // whatever its phash), doc 4 fails the token gate
    val cap = (1 to 9).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, cap, "s1"), (3L, cap, "s2"),
      (2L, cap.toUpperCase, "s1"),
      (4L, "too short", "s1")).toDF("doc_id", "text", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val media = graft.pipeline.Multimodal.toMediaRecords(spark, docs)
    val out = graft.pipeline.Multimodal.mineImageTextPairs(media, docs)
      .orderBy("doc_id").collect()
    // doc 3 collapsed into doc 1; doc 4 gated out; doc 2 kept
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(out.forall(_.getAs[Long]("n_tokens") == 9L))
  }

  test("property: exciseSpans equals a brute-force reference on random corpora") {
    import spark.implicits._
    // tiny alphabet + short window so duplicate windows actually occur;
    // seeded RNG keeps the trials reproducible
    val rnd = new scala.util.Random(20260815L)
    val alphabet = Vector("a", "b", "c")
    val k = 3
    def reference(docs: Seq[(Long, String)]): Map[Long, (Long, Long, String)] = {
      val toks = docs.map { case (id, t) => id -> t.split(" ", -1).toSeq }.toMap
      val wins = docs.flatMap { case (id, _) =>
        val w = toks(id)
        if (w.length >= k)
          (0 to w.length - k).map(i => (id, i, w.slice(i, i + k).mkString(" ")))
        else Seq.empty
      }
      val owner = wins.groupBy(_._3).map { case (g, ws) => g -> ws.map(_._1).min }
      val covered = wins
        .filter { case (id, _, g) => owner(g) < id }
        .groupBy(_._1)
        .map { case (id, ws) =>
          id -> ws.flatMap { case (_, i, _) => i until i + k }.toSet }
      docs.map { case (id, _) =>
        val w = toks(id)
        val cov = covered.getOrElse(id, Set.empty[Int])
        val kept = w.zipWithIndex.collect { case (t, p) if !cov(p) => t }
        id -> (w.length.toLong, cov.size.toLong, kept.mkString(" "))
      }.toMap
    }
    (1 to 12).foreach { trial =>
      val docs = (0 until (3 + rnd.nextInt(5))).map { id =>
        val n = rnd.nextInt(12)
        (id.toLong, (0 until n).map(_ => alphabet(rnd.nextInt(3))).mkString(" "))
      }
      val exp = reference(docs)
      val got = graft.pipeline.Dedup
        .exciseSpans(docs.toDF("doc_id", "text"), "doc_id", "text", k)
        .collect()
        .map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), r.getString(3))).toMap
      assert(got == exp, s"trial $trial: corpus=$docs\n got=$got\n exp=$exp")
    }
  }

  test("video container: frame packing round-trips; stride skips frames") {
    val payload = (0 until 100).map(_.toByte).toArray
    val (container, n) = Multimodal.encodeVideo(payload)
    assert(n == 7) // ceil(100 / 16)
    // stride 1 decodes every frame and reassembles the original bytes
    val all = Multimodal.decodeSampledFrames(container, stride = 1)
    assert(all.length == 7)
    assert(all.flatten.toSeq == payload.toSeq) // lossless through ImageIO
    assert(all.take(6).forall(_.length == Multimodal.FrameWidth))
    assert(all.last.length == 100 - 6 * Multimodal.FrameWidth)
    // stride 2 keeps frames 0, 2, 4, 6 only
    val sampled = Multimodal.decodeSampledFrames(container, stride = 2)
    assert(sampled.length == 4)
    assert(sampled.flatten.toSeq ==
      Seq(0, 2, 4, 6).flatMap(f => payload.slice(f * 16, (f + 1) * 16)).map(identity))
  }

  test("WAV codec: AudioSystem encode/decode round-trips PCM16 samples") {
    val bytes = "the quick brown fox".getBytes("utf-8")
    val wav = Multimodal.encodeWav(bytes)
    assert(new String(wav.take(4), "ascii") == "RIFF") // real WAV container
    assert(new String(wav.slice(8, 12), "ascii") == "WAVE")
    val samples = Multimodal.decodeWav(wav)
    assert(samples.toSeq == bytes.toSeq.map(b => Multimodal.sampleOf(b)))
    // sign structure: spaces are strongly negative, letters mostly positive
    assert(samples(3) == (' '.toByte & 0xff) - 100 << 8 && samples(3) < 0)
  }

  test("perceptual hash from the real decode equals the char-wise derivation") {
    Fixtures.registerRaw(spark, sfDir)
    val docs = spark.table("documents").where(col("doc_id") < 40)
    val got = Multimodal.imagePhashes(Multimodal.toMediaRecords(spark, docs))
      .collect().map(t => t._1 -> (t._2, t._3)).toMap
    val texts = docs.select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.nonEmpty && got.keySet == texts.keySet)
    texts.foreach { case (id, text) =>
      val (h, mean) = Multimodal.averageHash(text.getBytes("utf-8"))
      assert(got(id) == ((h, mean)), s"doc $id phash mismatch")
    }
  }

  test("audio features: zero crossings and peak match a direct computation") {
    Fixtures.registerRaw(spark, sfDir)
    // deterministic subset: LIMIT without ORDER BY could pick different
    // rows on the two separate evaluations below
    val docs = spark.table("documents").where(col("doc_id") < 50)
    val feats = Multimodal.extractAudioFeatures(
      Multimodal.toAudioRecords(spark, docs)).collect()
    val texts = docs.select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(feats.length == texts.size && feats.nonEmpty)
    feats.foreach { f =>
      val s = texts(f.doc_id).getBytes("utf-8").map(Multimodal.sampleOf)
      assert(f.nSamples == s.length)
      assert(f.sumAmp == s.map(_.toLong).sum)
      assert(f.peak == s.map(v => math.abs(v).toLong).max)
      assert(f.zeroCross == s.sliding(2).count(p =>
        (p(0) < 0 && p(1) > 0) || (p(0) > 0 && p(1) < 0)))
      assert(f.sumSq == s.map(v => v.toLong * v).sum)
    }
  }

  test("streaming dedup drops replayed events across micro-batches") {
    Fixtures.registerRaw(spark, sfDir)
    val ev = spark.table("events").limit(200)
    // stage the same 200 events twice (two files -> replay across batches)
    val dir = java.nio.file.Files.createTempDirectory("graft_dedup_stream").toString
    ev.coalesce(1).write.parquet(s"$dir/a")
    ev.coalesce(1).write.parquet(s"$dir/b")
    val staged = java.nio.file.Files.createTempDirectory("graft_dedup_staged").toString
    Seq("a", "b").foreach { p =>
      java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/$p")).forEach { f =>
        if (f.toString.endsWith(".parquet"))
          java.nio.file.Files.copy(f,
            java.nio.file.Paths.get(s"$staged/${p}_${f.getFileName}"))
      }
    }
    val stream = spark.readStream.schema(ev.schema).parquet(staged)
    val q = EventStream.dedupped(stream)
      .writeStream.outputMode("append").format("memory")
      .queryName("dedup_stream_test").start()
    q.processAllAvailable()
    q.stop()
    val out = spark.table("dedup_stream_test")
    assert(out.count() == 200) // 400 staged rows -> 200 unique event_ids
    assert(out.select("event_id").distinct().count() == 200)
  }

  test("exactly-once sink: checkpoint resume adds only new data; replays are idempotent") {
    Fixtures.registerRaw(spark, sfDir)
    val ev = spark.table("events").limit(400)
    val a = ev.where(col("event_id") % 2 === 0)
    val b = ev.where(col("event_id") % 2 === 1)
    val staged = java.nio.file.Files.createTempDirectory("graft_eo_staged").toString
    val out = java.nio.file.Files.createTempDirectory("graft_eo_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_eo_ckpt").toString
    def stage(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft_eo_tmp").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      java.nio.file.Files.list(java.nio.file.Paths.get(tmp)).forEach { f =>
        if (f.toString.endsWith(".parquet"))
          java.nio.file.Files.copy(f, java.nio.file.Paths.get(s"$staged/$name.parquet"))
      }
    }
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(a.schema).parquet(staged)
      val q = EventStream.exactlyOnceSink(stream, out, ckpt)
      q.processAllAvailable(); q.stop()
    }
    stage(a, "a"); runOnce()
    val n1 = spark.read.parquet(out).count()
    assert(n1 == a.count())
    // resume from the same checkpoint with one more staged file: only the
    // new file is processed, nothing is re-emitted
    stage(b, "b"); runOnce()
    val all = spark.read.parquet(out)
    assert(all.count() == ev.count())
    assert(all.select("event_id").distinct().count() == ev.count())
    // a replayed batch id rewrites its own directory, not a duplicate
    val batchIds = all.select(col("batch_id")).distinct()
      .collect().map(_.get(0).toString.toLong).sorted
    EventStream.writeBatch(out)(b, batchIds.last)
    assert(spark.read.parquet(out).count() == ev.count())
  }

  test("stream-stream interval join agrees with the batch interval join") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ssj").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    val q = EventStream.purchaseClickJoin(EventStream.readEvents(spark, dir))
      .writeStream.outputMode("append").format("memory")
      .queryName("ssj_test").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("ssj_test")
      .select(col("purchase_id"), col("click_id"))
    Fixtures.registerRaw(spark, sfDir)
    val ev = spark.table("events")
    val batch = ev.where(col("event_type") === "purchase").as("p")
      .join(ev.where(col("event_type") === "click").as("c"),
        col("p.user_id") === col("c.user_id") &&
          col("c.ts") <= col("p.ts") &&
          col("c.ts") >= col("p.ts") - expr("INTERVAL 1 HOUR"))
      .select(col("p.event_id").as("purchase_id"), col("c.event_id").as("click_id"))
    assert(streamed.count() > 0)
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0)
  }

  test("streamed timestamps equal the batch range (silent-corruption canary)") {
    // forcing a wrong ts dtype onto the stream schema corrupts SILENTLY
    // (1970-era values, no exception) — pin the streamed min/max ts to the
    // batch table's so any schema/dtype drift in readEvents turns red here
    val dir = java.nio.file.Files.createTempDirectory("graft_tsrange").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    val q = EventStream.readEvents(spark, dir)
      .groupBy()
      .agg(min(col("ts")).as("lo"), max(col("ts")).as("hi"))
      .writeStream.outputMode("complete").format("memory")
      .queryName("tsrange_test").start()
    q.processAllAvailable()
    q.stop()
    Fixtures.registerRaw(spark, sfDir)
    val batch = spark.table("events")
      .agg(min(col("ts")).as("lo"), max(col("ts")).as("hi")).head
    val streamed = spark.table("tsrange_test").head
    assert(streamed.getTimestamp(0) == batch.getTimestamp(0) &&
      streamed.getTimestamp(1) == batch.getTimestamp(1),
      s"streamed ts range [${streamed.getTimestamp(0)}, ${streamed.getTimestamp(1)}] " +
        s"!= batch [${batch.getTimestamp(0)}, ${batch.getTimestamp(1)}] — " +
        "readEvents is mis-reading the ts dtype")
    // absolute sanity: the generator writes this-century timestamps; a
    // 1970-era min is the classic micros-read-as-nanos signature
    assert(streamed.getTimestamp(0).toInstant
      .isAfter(java.time.Instant.parse("2000-01-01T00:00:00Z")))
  }

  test("streaming hourly agg agrees with the batch query") {
    // stream source needs a directory; stage the single parquet file
    val dir = java.nio.file.Files.createTempDirectory("graft_events").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    val q = EventStream.runHourlyToMemory(spark, dir, "hourly_test")
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("hourly_test")
      .select(unix_timestamp(col("hr")).as("hr_epoch"), col("event_type"), col("n"))
    val batch = run("q20_events_hourly")
      .select(col("hr_epoch"), col("event_type"), col("n"))
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0)
  }

  test("streaming session windows agree with the batch session query") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sess").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    val q = EventStream.runSessionsToMemory(spark, dir, "sessions_test")
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("sessions_test").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    // append mode emits only watermark-closed sessions: a strict subset of
    // the batch result, value-identical on every emitted key
    val batchMap = run("q29_session_window").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(streamed.nonEmpty)
    streamed.foreach { case (k, v) =>
      assert(batchMap.get(k).contains(v), s"session $k: streamed=$v batch=${batchMap.get(k)}")
    }
  }

  test("passage dedup: untouched docs keep a text-identical reassembly") {
    val rows = run("pd1_passage_dedup").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(rows.exists(_._3 > 0), "fixture has no shared passages")
    assert(rows.exists(r => r._3 == 0 && r._2 > 0))
    rows.foreach { case (_, n, dup, _) => assert(dup <= n) }
    // a doc with zero dup passages reassembles to EXACTLY its original
    // text (fixed 10-word segmentation + ' '-joins are lossless), so
    // cleaned_sig must equal md5(text) — an independent end-to-end check
    Fixtures.registerRaw(spark, sfDir)
    val md5ByDoc = spark.table("documents")
      .select(col("doc_id"), md5(col("text")).as("m")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val untouched = rows.filter(_._3 == 0)
    assert(untouched.nonEmpty)
    untouched.foreach { case (id, _, _, sig) => assert(sig == md5ByDoc(id)) }
  }

  test("semantic dedup agrees with exact within-cluster cosine") {
    val dropped = run("sd1_semantic_dedup").collect()
    assert(dropped.nonEmpty)
    dropped.foreach { r =>
      assert(r.getLong(1) < r.getLong(0)) // keeper has the lower id
      assert(r.getDouble(2) >= 0.4)
    }
  }

  test("gap fill: hour spine is dense per type and preserves totals") {
    val rows = run("ts1_gapfill").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val byType = rows.groupBy(_._1)
    byType.foreach { case (_, rs) =>
      val hrs = rs.map(_._2).sorted
      assert(hrs.zip(hrs.tail).forall { case (a, b) => b - a == 3600 })
    }
    val total = rows.map(_._3).sum
    Fixtures.registerRaw(spark, sfDir)
    assert(total == spark.table("events").count())
    assert(rows.exists(_._3 == 0), "fixture has no empty hours to fill")
  }

  test("text cleaning redacts exactly the injected email and URL per doc") {
    val rows = run("tc1_clean_pii").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) == 1, s"doc ${r.getLong(0)}: n_emails=${r.getLong(1)}")
      assert(r.getLong(2) == 1, s"doc ${r.getLong(0)}: n_urls=${r.getLong(2)}")
    }
  }
}
