package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.VectorFunctions.{vec_dot => dot}

/** Composable similarity-search operators over embedding DataFrames, built
  * on the native codegen'd VectorDot expression. Norms are computed once
  * per vector; candidate generation (sign-LSH buckets, IVF cells) bounds
  * pairwise work so the shapes survive 100 TB.
  */
object Similarity {

  /** (id, vec, nrm): precomputed L2 norms. Fanned out first so the
    * vector math downstream (norms, k-centroid score arrays, pair dots)
    * runs cluster-wide even over a single-split file — see
    * [[Partitioning.fanOut]] for the width/pushdown rationale. */
  def withNorm(vecs: DataFrame, idCol: String, vecCol: String): DataFrame =
    Partitioning.fanOut(vecs, idCol)
      .select(col(idCol).as("__id"), col(vecCol).as("__v"))
      .withColumn("nrm", sqrt(dot(col("__v"), col("__v"))))

  /** Exact top-k neighbours for each query id (brute force — the baseline
    * ANN variants are judged against). Ranking on round(cos, 6) with id
    * tiebreak keeps results independent of float summation order. */
  def bruteForceTopK(
      vecs: DataFrame, idCol: String, vecCol: String,
      queryIds: Seq[Long], k: Int = 10): DataFrame = {
    val v = withNorm(vecs, idCol, vecCol)
    val q = v.where(col("__id").isin(queryIds: _*))
      .select(col("__id").as("qid"), col("__v").as("qv"), col("nrm").as("qn"))
    val scored = q.join(v, col("__id") =!= col("qid"))
      .select(col("qid"), col("__id").as("vec_id"),
        round(dot(col("qv"), col("__v")) / (col("qn") * col("nrm")), 6).as("cos"))
    // bounded-heap top-k, not a row_number window: the window form sorts
    // every (query, corpus) score through one task per query — the shape
    // that stops scaling first; the heap keeps k rows per query per
    // partition with partial+final phases (same rewrite as BM25's ranking)
    graft.plans.TopKPerGroup(scored, keys = Seq("qid"),
        orderBy = Seq(("cos", false), ("vec_id", true)), k = k)
      .orderBy(col("qid"), col("cos").desc, col("vec_id"))
  }

  /** MMR diversified rerank (Carbonell & Goldstein, SIGIR'98): greedily
    * select `kSel` of each query's `kCand` nearest candidates, each round
    * maximizing `lambdaPm·rel − (1000−lambdaPm)·max-sim-to-selected` —
    * the standard RAG/retrieval post-processing that trades raw relevance
    * for diversity so near-duplicate hits don't crowd the context window.
    *
    * Determinism discipline: relevance and pairwise similarity quantize
    * to 1e-6 integers (round(cos,6)·1e6), the marginal score is exact
    * integer arithmetic with doc-id tiebreaks, so any engine reproduces
    * the greedy trajectory bit-for-bit (the DuckDB oracle unrolls the
    * same rounds as chained CTEs).
    *
    * Scale shape: the candidate frame is queries×kCand rows and pairwise
    * sims queries×kCand² — BOUNDED model-sized state, never corpus-scale
    * (the corpus pass lives in the ANN operator that produced the
    * candidates). Each greedy round is one join + one windowed argmax
    * over those tiny frames; `kSel` rounds total. */
  def mmrRerank(
      vecs: DataFrame, idCol: String, vecCol: String,
      queryIds: Seq[Long], kCand: Int = 10, kSel: Int = 5,
      lambdaPm: Int = 700): DataFrame = {
    require(kSel >= 1 && kSel <= kCand, s"need 1 <= kSel <= kCand")
    val spark = vecs.sparkSession
    import spark.implicits._
    val v = withNorm(vecs, idCol, vecCol)
    val q = v.where(col("__id").isin(queryIds: _*))
      .select(col("__id").as("qid"), col("__v").as("qv"), col("nrm").as("qn"))
    // candidates: top-kCand by quantized relevance, self excluded
    val rel = q.join(v, col("__id") =!= col("qid"))
      .select(col("qid"), col("__id").as("doc_id"),
        round(round(dot(col("qv"), col("__v")) / (col("qn") * col("nrm")), 6)
          * lit(1000000.0)).cast("long").as("rel_u6"))
    val wRel = Window.partitionBy(col("qid"))
      .orderBy(col("rel_u6").desc, col("doc_id"))
    val cand = rel.withColumn("__r", row_number().over(wRel))
      .where(col("__r") <= kCand).drop("__r")
      .localCheckpoint() // bounded; consumed by the pair join AND cogroup
    // pairwise sims within each query's candidate set (kCand² per query)
    val cv = cand.join(
      v.select(col("__id").as("doc_id"), col("__v"), col("nrm")), "doc_id")
    val pairs = cv.as("x").join(cv.as("y"),
        col("x.qid") === col("y.qid") && col("x.doc_id") =!= col("y.doc_id"))
      .select(col("x.qid").as("qid"), col("x.doc_id").as("a"),
        col("y.doc_id").as("b"),
        round(round(dot(col("x.__v"), col("y.__v")) /
          (col("x.nrm") * col("y.nrm")), 6) * lit(1000000.0))
          .cast("long").as("sim_u6"))
    // the greedy loop is PER-QUERY imperative logic over a bounded
    // candidate set (kCand docs + kCand² sims), so it runs task-locally
    // in one cogroup — queries shard across executors and the whole
    // trajectory is ONE job. (A DataFrame-round formulation was A/B'd
    // and LOST badly: kSel sequential argmax jobs cost ~1.6 s of pure
    // scheduling at ANY scale, and fusing them into one DAG recomputes
    // earlier rounds ~3^k-fold — 3.4 s. Per-group imperative greedy is
    // the honest shape, exactly the mapGroups case the design reserves
    // for logic Catalyst can't express.)
    val candDs = cand.select(col("qid"), col("doc_id"), col("rel_u6"))
      .as[(Long, Long, Long)]
    val pairDs = pairs.as[(Long, Long, Long, Long)]
    candDs.groupByKey(_._1).cogroup(pairDs.groupByKey(_._1)) {
      (qid, cs, ps) =>
        val cands = cs.map { case (_, d, r) => (d, r) }.toArray
          .sortBy { case (d, r) => (-r, d) }
        val sim = ps.map { case (_, a, b, s) => (a, b) -> s }.toMap
        val selected = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Long, Int, Long, Long)]
        val chosen = scala.collection.mutable.Set.empty[Long]
        (1 to math.min(kSel, cands.length)).foreach { rank =>
          val best =
            if (rank == 1) {
              val (d, r) = cands.head
              (d, r, r) // round 1: pure relevance; score = rel
            } else cands.iterator.filterNot(c => chosen(c._1)).map {
              case (d, r) =>
                val ms = chosen.iterator
                  .map(s => sim.getOrElse((d, s), 0L)).max
                (d, r, lambdaPm.toLong * r - (1000L - lambdaPm) * ms)
            }.reduceLeft { (x, y) =>
              // argmax by (score desc, doc_id asc)
              if (y._3 > x._3 || (y._3 == x._3 && y._1 < x._1)) y else x
            }
          chosen += best._1
          selected += ((qid, best._1, rank, best._2, best._3))
        }
        selected.iterator
    }.toDF("qid", "doc_id", "mmr_rank", "rel_u6", "score_u6")
  }

  /** IVF-style ANN: assign every vector to its nearest of the seed
    * centroids, probe the `nprobe` nearest cells per query. */
  def ivfTopK(
      vecs: DataFrame, idCol: String, vecCol: String,
      queryIds: Seq[Long], centroidIds: Seq[Long],
      k: Int = 5, nprobe: Int = 2): DataFrame = {
    val v = withNorm(vecs, idCol, vecCol)
    val cent = v.where(col("__id").isin(centroidIds: _*))
      .select(col("__id").as("cid"), col("__v").as("cv"), col("nrm").as("cn"))
    def nearest(points: DataFrame, pid: String, pv: String, pn: String, take: Int) = {
      val scored = points.crossJoin(cent)
        .select(col(pid), col("cid"),
          round(dot(col(pv), col("cv")) / (col(pn) * col("cn")), 6).as("cc"))
      val w = Window.partitionBy(col(pid)).orderBy(col("cc").desc, col("cid"))
      scored.withColumn("rnk", row_number().over(w)).where(col("rnk") <= take)
        .select(col(pid), col("cid"))
    }
    val assign = nearest(v, "__id", "__v", "nrm", 1)
    val q = v.where(col("__id").isin(queryIds: _*))
      .select(col("__id").as("qid"), col("__v").as("qv"), col("nrm").as("qn"))
    val probe = nearest(q, "qid", "qv", "qn", nprobe)
    val scored = q.join(probe, "qid")
      .join(assign.withColumnRenamed("__id", "vec_id"), "cid")
      .join(v.withColumnRenamed("__id", "vec_id"), Seq("vec_id"))
      .where(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        round(dot(col("qv"), col("__v")) / (col("qn") * col("nrm")), 6).as("cos"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rnk", row_number().over(w)).where(col("rnk") <= k)
      .drop("rnk").orderBy(col("qid"), col("cos").desc, col("vec_id"))
  }

  /** FILTERED IVF ANN — ss9's scale path: the metadata predicate composes
    * with the coarse quantizer, so the scored set is (probed cells ∩
    * filter-passing rows), never every filter-passing row. ss9's brute
    * form stays the exact teaching baseline, but its scored mass grows
    * with the corpus (SCALE.md measured 2.34× at 3× data — the curve's
    * worst); here it is bounded by nprobe × cell occupancy regardless of
    * the filter's selectivity, and the label predicate prunes INSIDE the
    * probed cells before the dot products. Same seeded-centroid IVF
    * semantics as [[ivfTopK]] (deterministic assignment on round(cos,6)
    * with centroid-id tiebreaks), so the DuckDB oracle replays it
    * exactly; ranking runs on the TopKPerGroup bounded heap. */
  def ivfFilteredTopK(
      vecs: DataFrame, idCol: String, vecCol: String, labelCol: String,
      queryIds: Seq[Long], centroidIds: Seq[Long],
      k: Int = 5, nprobe: Int = 2,
      storedAssign: Option[DataFrame] = None): DataFrame = {
    val v = Partitioning.fanOut(vecs, idCol)
      .select(col(idCol).as("__id"), col(vecCol).as("__v"),
        col(labelCol).as("__lab"))
      .withColumn("nrm", sqrt(dot(col("__v"), col("__v"))))
      // zero-norm exclusion (the semanticDedupSeeded rationale): a vector
      // with no cosine direction scores NaN, and Spark's descending sort
      // ranks NaN ABOVE every real hit — it would surface as the #1
      // neighbour of any query probing its cell. Excluding it here also
      // keeps the serving twin (ivfFilteredTopKStream, which must drop
      // such rows before its exact-rounding kernel) structurally equal.
      .where(col("nrm") > 0)
    val cent = centFrame(v, centroidIds)
    val assign = storedAssign.getOrElse(
      ivfAssign(vecs, idCol, vecCol, centroidIds))
    val q = v.where(col("__id").isin(queryIds: _*))
      .select(col("__id").as("qid"), col("__v").as("qv"),
        col("nrm").as("qn"), col("__lab").as("qlab"))
    val probe = nearestCells(q.select(col("qid"), col("qv"), col("qn")),
      cent, "qid", "qv", "qn", nprobe)
    val scored = q.join(probe, "qid")
      .join(assign.withColumnRenamed(assign.columns.head, "vec_id"), "cid")
      .join(v.withColumnRenamed("__id", "vec_id"), Seq("vec_id"))
      .where(col("vec_id") =!= col("qid") && col("__lab") =!= col("qlab"))
      .select(col("qid"), col("vec_id"),
        round(dot(col("qv"), col("__v")) / (col("qn") * col("nrm")), 6).as("cos"))
    graft.plans.TopKPerGroup(scored, keys = Seq("qid"),
        orderBy = Seq(("cos", false), ("vec_id", true)), k = k)
      .orderBy(col("qid"), col("cos").desc, col("vec_id"))
  }

  /** The IVF index build: one corpus pass assigning every vector to its
    * nearest seeded centroid — (id, cid). Like [[sq8Encode]]'s columns,
    * this is STORED table state in production (build once, serve many);
    * callers persist it and hand it back via `storedAssign`. */
  def ivfAssign(
      vecs: DataFrame, idCol: String, vecCol: String,
      centroidIds: Seq[Long]): DataFrame = {
    val v = Partitioning.fanOut(vecs, idCol)
      .select(col(idCol).as("__id"), col(vecCol).as("__v"))
      .withColumn("nrm", sqrt(dot(col("__v"), col("__v"))))
    nearestCells(v, centFrame(v, centroidIds), "__id", "__v", "nrm", 1)
      .select(col("__id").as(idCol), col("cid"))
  }

  /** One frozen serving query of [[ivfFilteredTopK]]: vector, norm, label
    * and the nprobe cells its probe step selects — all computed at index
    * build time, so the streaming twin scores arriving vectors with zero
    * per-row query work beyond the cosine. */
  final case class IvfQueryFrozen(
      qid: Long, qv: Seq[Float], qn: Double, qlab: Long, probed: Seq[Long])

  /** Freeze the SERVING state of [[ivfFilteredTopK]] for a fixed query
    * set: the seeded centroids (id-ordered, with their Spark-computed
    * norms — [[seedCentroids]]) plus each query's vector/norm/label and
    * probed cells. Probe selection replays [[nearestCells]]'s exact
    * arithmetic driver-side (sequential float→double dot — VectorDot's
    * loop — then Spark's HALF_UP round at 6 dp, ranked cos DESC, cid
    * ASC), so the frozen probe set is bit-identical to the batch plan's.
    * Everything here is model state: k×dim centroid floats + queries —
    * the collect pattern of every stored-index build in this file. */
  def ivfFilteredFrozen(
      vecs: DataFrame, idCol: String, vecCol: String, labelCol: String,
      queryIds: Seq[Long], centroidIds: Seq[Long],
      nprobe: Int = 2): (Seq[(Long, Seq[Float], Double)], Seq[IvfQueryFrozen]) = {
    val cents = seedCentroids(vecs, idCol, vecCol, centroidIds)
    // fail at BUILD time, not at serve time: a zero-norm centroid or
    // query makes every cosine NaN, and the driver-side round6 below
    // (like the stream's VectorCosScores kernel) throws on NaN
    require(cents.forall(_._3 > 0),
      "ivfFilteredFrozen: zero-norm centroid vector — no cosine direction")
    def dotFD(a: Seq[Float], b: Seq[Float]): Double = {
      val n = math.min(a.length, b.length)
      var acc = 0.0
      var i = 0
      while (i < n) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      acc
    }
    val qRows = Partitioning.fanOut(vecs, idCol)
      .select(col(idCol).cast("long").as("__id"), col(vecCol).as("__v"),
        col(labelCol).cast("long").as("__lab"))
      .withColumn("nrm", sqrt(dot(col("__v"), col("__v"))))
      .where(col("__id").isin(queryIds: _*))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1), r.getLong(2), r.getDouble(3)))
    val queries = qRows.sortBy(_._1).map { case (qid, qv, qlab, qn) =>
      require(qn > 0,
        s"ivfFilteredFrozen: query $qid has a zero-norm vector — " +
          "no cosine direction")
      val probed = cents
        .map { case (cid, cv, cn) =>
          (cid, graft.functions.VectorCosScores.round6(dotFD(qv, cv) / (qn * cn)))
        }
        .sortBy { case (cid, cc) => (-cc, cid) }
        .take(nprobe).map(_._1)
      IvfQueryFrozen(qid, qv, qn, qlab, probed)
    }.toSeq
    (cents, queries)
  }

  private def centFrame(v: DataFrame, centroidIds: Seq[Long]): DataFrame =
    v.where(col("__id").isin(centroidIds: _*))
      .select(col("__id").as("cid"), col("__v").as("cv"), col("nrm").as("cn"))

  /** The `take` nearest centroids per point on the bounded heap —
    * deterministic on round(cos, 6) with centroid-id tiebreaks. */
  private def nearestCells(
      points: DataFrame, cent: DataFrame,
      pid: String, pv: String, pn: String, take: Int): DataFrame = {
    val scored = points.crossJoin(cent)
      .select(col(pid), col("cid"),
        round(dot(col(pv), col("cv")) / (col(pn) * col("cn")), 6).as("cc"))
    graft.plans.TopKPerGroup(scored, keys = Seq(pid),
      orderBy = Seq(("cc", false), ("cid", true)), k = take)
      .select(col(pid), col("cid"))
  }

  /** int8 scalar quantization encode (library form of ss4's index): per-
    * vector symmetric quantization q_i = floor(v_i * 127 / max|v| + 0.5),
    * carried as FLOAT so the codegen'd vec_dot scores integer-exact
    * quantized cosines. In production the encoded columns are stored
    * table state — encode once, serve many (PipelineQueries caches this
    * per session/sf for exactly that reason). Returns
    * (vec_id, embedding, nrm, qv, qnrm). */
  def sq8Encode(vecs: DataFrame, idCol: String, vecCol: String): DataFrame =
    vecs.select(col(idCol).as("vec_id"), col(vecCol).as("embedding"),
        sqrt(dot(col(vecCol), col(vecCol))).as("nrm"),
        greatest(expr(s"array_max(transform($vecCol, x -> abs(CAST(x AS DOUBLE))))"),
          lit(1e-30)).as("ma"))
      .withColumn("qv", expr(
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 127 / ma + CAST(0.5 AS DOUBLE)) AS FLOAT))"))
      .withColumn("qnrm", sqrt(dot(col("qv"), col("qv"))))
      .drop("ma")

  /** Quantized top-k + exact rerank over a [[sq8Encode]]d index: rank by
    * quantized cosine on the 4x-smaller vectors, rerank only the top page
    * with full-precision cosine. */
  def sq8TopK(encoded: DataFrame, queryIds: Seq[Long], k: Int = 5): DataFrame = {
    val q = encoded.where(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("qid"), col("qv").as("q_qv"), col("qnrm").as("q_qnrm"))
    val cand = q.join(encoded.as("c"), col("c.vec_id") =!= col("qid"))
      .select(col("qid"), col("c.vec_id").as("vid"),
        (dot(col("q_qv"), col("c.qv")) / (col("q_qnrm") * col("c.qnrm"))).as("qcos"))
    val w = Window.partitionBy(col("qid")).orderBy(col("qcos").desc, col("vid"))
    val top = cand.withColumn("rnk", row_number().over(w)).where(col("rnk") <= k)
    top
      .join(encoded.select(col("vec_id"), col("embedding"), col("nrm")).as("a"),
        col("a.vec_id") === col("qid"))
      .join(encoded.select(col("vec_id"), col("embedding"), col("nrm")).as("b"),
        col("b.vec_id") === col("vid"))
      .select(col("qid"), col("vid").as("vec_id"), round(col("qcos"), 6).as("qcos"),
        round(dot(col("a.embedding"), col("b.embedding"))
          / (col("a.nrm") * col("b.nrm")), 6).as("exact_cos"),
        col("rnk"))
      .orderBy(col("qid"), col("rnk"))
      .drop("rnk")
  }

  /** Semantic dedup (SemDeDup, Abbas et al. '23; library form of sd1):
    * cluster on seed-id centroids, compare cosine only WITHIN a cluster,
    * and report every vector owning a lower-id cluster-mate at/above
    * `threshold` with its keeper and best score. Candidate pairs shrink
    * from n² to Σ(cluster size)² — the property that makes embedding
    * dedup feasible at corpus scale; pair work stays inside per-cluster
    * hash-join partitions.
    *
    * Assignment is a pure PROJECTION: the k seed centroids are MODEL
    * STATE (k×dim floats + k norms, a few KB), collected once and scored
    * as constant literals on the codegen'd vec_dot — no cross join, no
    * window, no corpus shuffle before the within-cluster pair join.
    * Scoring is round(cos, 6) with first-max-wins over id-ordered
    * centroids, identical to ranking by (cos DESC, cid ASC) — so results
    * match the former crossJoin+window form bit-for-bit. */
  def semanticDedup(
      vecs: DataFrame, idCol: String, vecCol: String,
      centroidIds: Seq[Long], threshold: Double = 0.4): DataFrame =
    semanticDedupSeeded(vecs, idCol, vecCol,
      seedCentroids(vecs, idCol, vecCol, centroidIds), threshold)

  /** The INDEX-BUILD half of [[semanticDedup]]: collect the seed vectors
    * and their norms (k×dim floats + k doubles — model state, not data).
    * Norms come from the same Spark-computed expression the corpus side
    * uses, so the rounded cosines agree exactly with an all-SQL spelling.
    * Build once per corpus, serve many (PipelineQueries memoizes this per
    * session/sf exactly as for the learned IVF/PQ index state). */
  def seedCentroids(
      vecs: DataFrame, idCol: String, vecCol: String,
      centroidIds: Seq[Long]): Seq[(Long, Seq[Float], Double)] =
    withNorm(vecs, idCol, vecCol)
      .where(col("__id").isin(centroidIds: _*))
      .select(col("__id"), col("__v"), col("nrm"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1), r.getDouble(2)))
      .sortBy(_._1).toSeq

  /** The SERVING half of [[semanticDedup]] against prebuilt centroids.
    *
    * @param blockTarget when set, clusters larger than this are split into
    *   hash blocks and paired block-against-block (triangle join) so a
    *   mega-cluster's quadratic pair work spreads across ~(s/B)²/2 tasks
    *   instead of landing on ONE — the skew valve for boilerplate-heavy
    *   corpora where a few clusters hold a large corpus fraction. Output
    *   is identical to the unblocked path (SimilaritySpec). */
  def semanticDedupSeeded(
      vecs: DataFrame, idCol: String, vecCol: String,
      cents: Seq[(Long, Seq[Float], Double)], threshold: Double = 0.4,
      blockTarget: Option[Int] = None): DataFrame = {
    require(cents.nonEmpty,
      "semanticDedupSeeded needs at least one centroid (empty cents would " +
        "assign every vector a null cid and silently return no pairs)")
    // a zero-norm vector has no cosine direction: every centroid score is
    // NaN (argmax undefined) and a NaN pair cosine would compare TRUE
    // against the threshold under Spark's NaN-greatest ordering — exclude
    // such vectors explicitly; they cannot be a cosine near-duplicate
    val v = withNorm(vecs, idCol, vecCol).where(col("nrm") > 0)
    // native VectorCosScores == the per-j round(vec_dot/(nrm*cn), 6)
    // array spelling, with the matrix as one reference object (see
    // assignScoredExpr for why the literal-tree form was a driver cost)
    val scores = graft.functions.VectorFunctions.vec_cos_scores(
      col("__v"), col("nrm"),
      cents.map(_._2.toIndexedSeq).toIndexedSeq, cents.map(_._3))
    // array_position returns the FIRST index of the max — lowest cid wins
    // ties (centroids are id-sorted), matching ORDER BY cc DESC, cid.
    // coalesce: same non-nullability guard as assignScoredExpr — without
    // it the pair join's inferred isnotnull(cid) clones the k-dot scoring
    // into a pre-exchange filter on the single-split scan
    val assign = v.withColumn("cid",
      coalesce((array_position(scores, array_max(scores)) - 1).cast("int"),
        lit(-1)))
    dedupWithinCluster(assign, threshold, blockTarget)
  }

  /** Semantic dedup against LEARNED centroids (the scale path, as ss3 is
    * to ss2): cluster assignment is a pure PROJECTION against constant
    * centroid literals on the codegen'd vec_dot — no cross join, no
    * window, no shuffle of the corpus before the within-cluster pair
    * join. Same output contract as [[semanticDedup]]. */
  def semanticDedupLearned(
      vecs: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[Seq[Double]], threshold: Double = 0.4,
      blockTarget: Option[Int] = None): DataFrame = {
    require(centroids.nonEmpty, "semanticDedupLearned needs >= 1 centroid")
    // argmax of raw dot == cosine argmax only for equal-norm centroids;
    // normalize here (idempotent for sphericalKMeans output) so external
    // centroids with varying norms can't silently skew assignment
    val unit = centroids.map { c =>
      val n = math.sqrt(c.map(x => x * x).sum)
      if (n == 0) c else c.map(_ / n)
    }
    // zero-norm exclusion: same rationale as semanticDedupSeeded
    val v0 = withNorm(vecs, idCol, vecCol).where(col("nrm") > 0)
    // large k: centroids leave expression space for a broadcast frame
    // (spec-pinned equal assignment; see joinAssignK for the boundary)
    val v =
      if (unit.size <= joinAssignK) v0.withColumn("cid", assignExpr(unit, "__v"))
      else assignJoinFull(v0, unitCentroidFrame(vecs.sparkSession, unit))
    dedupWithinCluster(v, threshold, blockTarget)
  }

  /** Cluster assignment against constant centroids (cosine argmax
    * projection, ties to the lowest cid; zero-norm rows excluded):
    * (__id, cid). Exposed so callers and specs can audit cluster-size
    * balance — the quantity that bounds SemDeDup pair work. */
  def assignClusters(
      vecs: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[Seq[Double]]): DataFrame = {
    require(centroids.nonEmpty, "assignClusters needs >= 1 centroid")
    val unit = centroids.map { c =>
      val n = math.sqrt(c.map(x => x * x).sum)
      if (n == 0) c else c.map(_ / n)
    }
    val v0 = withNorm(vecs, idCol, vecCol).where(col("nrm") > 0)
    val assigned =
      if (unit.size <= joinAssignK) v0.withColumn("cid", assignExpr(unit, "__v"))
      else assignJoinFull(v0, unitCentroidFrame(vecs.sparkSession, unit))
    assigned.select(col("__id"), col("cid"))
  }

  /** Centroid count above which [[semanticDedupLearned]] /
    * [[assignClusters]] / [[sphericalKMeans]] switch from the
    * constant-matrix VectorScores projection to the broadcast-join path
    * ([[assignClustersJoin]]). Measured at sf1 (SCALE.md, round 12,
    * "Large-k centroid assignment A/B"): the projection stays correct
    * AND faster through k = 16384 — no Janino blowup at any k (the
    * matrix is a reference object, not
    * literal nodes) and no shuffle — so the boundary is NOT wall time at
    * moderate k; it is closure mass: the k×dim matrix serializes into
    * every task binary of every stage (1.1 MiB at k = 4096, linear in k),
    * where the join path ships centroids once as a broadcast frame and
    * reads them from a TABLE — the only form that works when the index
    * is stored state too big to collect. Dispatch at the measured edge. */
  val joinAssignK: Int = 16384

  /** Unit-normalized centroid frame (cid, cvu: array<float>) from driver
    * model state — the double-normalize-then-float prep of [[assignExpr]],
    * so either assignment path scores bit-identical dots. At real index
    * scale the frame comes straight from a stored table instead. */
  def centroidFrame(
      spark: org.apache.spark.sql.SparkSession,
      centroids: Seq[Seq[Double]]): DataFrame = {
    import spark.implicits._
    centroids.zipWithIndex.map { case (c, i) =>
      val n = math.sqrt(c.map(x => x * x).sum)
      val u = if (n == 0) c else c.map(_ / n)
      (i, u.map(_.toFloat))
    }.toDF("cid", "cvu")
  }

  /** [[centroidFrame]] minus the normalize, for call sites that already
    * hold unit centroids (re-dividing a unit vector by its ≈1.0 norm
    * would perturb low bits and break parity with the assignExpr path). */
  private def unitCentroidFrame(
      spark: org.apache.spark.sql.SparkSession,
      unit: Seq[Seq[Double]]): DataFrame = {
    import spark.implicits._
    unit.zipWithIndex.map { case (c, i) => (i, c.map(_.toFloat)) }
      .toDF("cid", "cvu")
  }

  /** Cluster assignment against a centroid DATAFRAME — the large-k scale
    * path. The centroid frame (cid, cvu unit float vectors — see
    * [[centroidFrame]]) broadcasts; every vector scores the broadcast side
    * with the codegen'd vec_dot and the argmax runs on the TopKPerGroup
    * bounded heap (score DESC, cid ASC — first-max-wins ties, exactly
    * [[assignExpr]]'s array_position semantics, spec-pinned equal in
    * SimilaritySpec). Unlike the projection form, centroids here are table
    * state, never expression/codegen state, so k scales to broadcast
    * memory; the heap's partial phase reduces map-side to one row per
    * vector, so the one exchange moves the corpus once (the same cost
    * class as the groupBy any downstream consumer adds). Zero-norm rows
    * are excluded like every cosine-assignment caller. Returns
    * (__id, cid). */
  def assignClustersJoin(
      vecs: DataFrame, idCol: String, vecCol: String,
      cents: DataFrame): DataFrame =
    assignJoinFull(withNorm(vecs, idCol, vecCol).where(col("nrm") > 0), cents)
      .select(col("__id"), col("cid"))

  /** Join-path assignment over a prepared (__id, __v, nrm) frame, keeping
    * the vector columns through the heap so pair-join consumers
    * (dedupWithinCluster) need no second corpus join back by id. */
  private def assignJoinFull(v: DataFrame, cents: DataFrame): DataFrame =
    graft.plans.TopKPerGroup(
      v.crossJoin(broadcast(cents))
        .withColumn("__sc", dot(col("__v"), col("cvu"))),
      keys = Seq("__id"), orderBy = Seq(("__sc", false), ("cid", true)), k = 1)
      .drop("__sc", "cvu")

  /** Cluster count that keeps SemDeDup's pair envelope LINEAR in the
    * corpus: k = max(16, ceil(n / targetClusterSize)). With cluster sizes
    * near the target, within-cluster pair work is Σs² ≈ n·targetClusterSize
    * — growing with n, not n²/k. SemDeDup's own protocol scales cluster
    * count with the corpus (Abbas et al. '23 §3 uses tens of thousands of
    * clusters); a FIXED k makes the pair join quadratic in corpus size
    * (measured here: k=16 went 0.98 s → 9.0 s across one 10× data step).
    * The constant-literal assignment projection stays codegen-friendly to
    * k in the low thousands; past that, shard the centroid set and take
    * the per-shard argmax of argmaxes. */
  def targetK(n: Long, targetClusterSize: Int = 4096): Int = {
    require(targetClusterSize > 0, "targetClusterSize must be positive")
    math.max(16L, (n + targetClusterSize - 1) / targetClusterSize).toInt
  }

  /** [[semanticDedupLearned]] with the cluster count scaled to the corpus
    * (k = [[targetK]](n)) — the form a pipeline calls at scale. Seeds are
    * the k lowest ids (deterministic); learning and the dedup tail are the
    * standard spherical-k-means + within-cluster pair join. The count and
    * seed scan are INDEX BUILD (once per corpus), not serving work.
    *
    * The at-scale call signature is safe BY DEFAULT:
    *  - `blockTarget = None` derives `4 * targetClusterSize`, so the
    *    mega-cluster skew valve ([[dedupWithinCluster]]'s triangle
    *    blocking) is always armed — one cluster holding a large corpus
    *    fraction can never make a single task's pair work quadratic. At
    *    the default, clusters at or near the target size get nb = 1
    *    (no extra replication); pass an explicit `Some(b)` to tune, or an
    *    effectively-infinite bound to approximate the unblocked plan.
    *  - past [[joinAssignK]] the ENTIRE training loop moves to table
    *    state ([[sphericalKMeansTable]]): seeds, centroids, and every
    *    Lloyd update live as DataFrames — nothing k-sized ever reaches
    *    the driver, matching how serving already reads centroids
    *    ([[assignClustersJoin]]). Below the boundary the driver-Seq
    *    trainer keeps the measured-faster VectorScores projection. */
  def semanticDedupScaled(
      vecs: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.4, targetClusterSize: Int = 4096,
      iters: Int = 2, dim: Int = 64,
      blockTarget: Option[Int] = None): DataFrame = {
    val n = vecs.count()
    val k = targetK(n, targetClusterSize)
    val bt = Some(blockTarget.getOrElse(4 * targetClusterSize))
    if (k <= joinAssignK) {
      // distinct + cast-to-long ordering, IDENTICAL to the table trainer's
      // seed frame: a duplicated corpus id (or a raw ordering differing
      // from long ordering) must not make the two sides of the
      // joinAssignK boundary train from different seed sets
      val seeds = vecs.select(col(idCol).cast("long").as("__id")).distinct()
        .orderBy(col("__id")).limit(k)
        .collect().map(_.getLong(0)).toIndexedSeq
      val cents = sphericalKMeans(vecs, idCol, vecCol, seeds, iters, dim)
      semanticDedupLearned(vecs, idCol, vecCol, cents, threshold, bt)
    } else {
      // past the join-assignment boundary, full-corpus Lloyd iterations
      // stop paying for themselves — train the quantizer on ~64 points
      // per centroid (the FAISS-order sample), with centroid state as a
      // TABLE end to end; serving assignment sees every row via the same
      // broadcast-join path
      val rate = math.min(256L,
        math.max(1L, (256L * 64L * k) / math.max(n, 1L))).toInt
      val cents = sphericalKMeansTable(vecs, idCol, vecCol, k, iters, dim, rate)
      val v0 = withNorm(vecs, idCol, vecCol).where(col("nrm") > 0)
      dedupWithinCluster(
        assignJoinFull(v0, centroidServingFrame(cents)), threshold, bt)
    }
  }

  /** Shared within-cluster dedup tail: pair join on cluster id, exact
    * cosine at 6-decimal rounding, lower-id keeper per dropped vector.
    * The corpus is repartitioned by cluster id first — pair work is
    * quadratic per cluster and must spread across executors by cluster
    * (the SemDeDup co-location shape); without it a narrow scan pipeline
    * leaves the whole O(Σs²) join on however few partitions the file
    * scan produced.
    *
    * With `blockTarget` set, each cluster of size s splits into
    * nb = ceil(s/B) hash blocks and rows join block-PAIR against
    * block-pair (the triangle self-join): a row in block b serves as the
    * LEFT of pairs (b, j >= b) and the RIGHT of pairs (i <= b, b), so
    * every unordered pair meets in exactly one (lo, hi) block-pair task.
    * Replication is nb+1 copies per row; per-task pair work is bounded by
    * B² regardless of cluster size — the skew valve when one cluster
    * holds a large corpus fraction. */
  private def dedupWithinCluster(
      assigned: DataFrame, threshold: Double,
      blockTarget: Option[Int] = None): DataFrame = {
    val pairs = blockTarget match {
      case None =>
        // no forced repartition(cid): for a shuffled join EnsureRequirements
        // inserts the same hashpartitioning(cid) exchange (reused by both
        // sides of the self-join), and when the corpus fits a broadcast the
        // forced exchange would be a pure extra pass over the vectors
        val byCluster = assigned
        byCluster.as("a").join(byCluster.as("b"),
            col("a.cid") === col("b.cid") && col("a.__id") < col("b.__id"))
          .select(col("a.__id").as("va"), col("b.__id").as("vb"),
            round(dot(col("a.__v"), col("b.__v")) / (col("a.nrm") * col("b.nrm")), 6)
              .as("cos"))
      case Some(bt) =>
        require(bt > 0, "blockTarget must be positive")
        // per-cluster block count from one tiny size aggregation
        val sizes = assigned.groupBy(col("cid"))
          .agg(count(lit(1)).as("__cs"))
          .withColumn("__nb",
            greatest(lit(1L), ceil(col("__cs") / lit(bt.toDouble))).cast("int"))
          .select(col("cid"), col("__nb"))
        val blocked = assigned.join(broadcast(sizes), "cid")
          .withColumn("__b", pmod(xxhash64(col("__id")), col("__nb")).cast("int"))
        val left = blocked.withColumn("__hi",
          explode(sequence(col("__b"), col("__nb") - 1)))
        val right = blocked.withColumn("__lo",
          explode(sequence(lit(0), col("__b"))))
        // within a (lo, hi) task the left row's block IS lo and the right's
        // IS hi, so cross-block pairs meet exactly once (any id order) and
        // same-block pairs order by id; output ids re-normalize since a
        // cross-block left may carry the larger id
        left.as("a").join(right.as("b"),
            col("a.cid") === col("b.cid") &&
              col("a.__b") === col("b.__lo") && col("a.__hi") === col("b.__b") &&
              (col("a.__b") < col("b.__b") ||
                (col("a.__b") === col("b.__b") && col("a.__id") < col("b.__id"))))
          .select(least(col("a.__id"), col("b.__id")).as("va"),
            greatest(col("a.__id"), col("b.__id")).as("vb"),
            round(dot(col("a.__v"), col("b.__v")) / (col("a.nrm") * col("b.nrm")), 6)
              .as("cos"))
    }
    pairs.where(col("cos") >= threshold)
      .groupBy(col("vb").as("vec_id"))
      .agg(min(col("va")).as("keeper"), max(col("cos")).as("max_cos"))
      .orderBy(col("vec_id"))
  }

  /** Spherical k-means (cosine geometry) over an embedding column — the
    * "learned centroids" path an IVF index needs at corpus scale. Lloyd
    * iterations where:
    *  - ASSIGNMENT is a pure projection: the k current centroids are
    *    constant float-array literals evaluated with the codegen'd
    *    `vec_dot` (argmax of k dots) — no cross join, no window, no
    *    shuffle of the corpus;
    *  - the UPDATE is one map-side-combinable groupBy with `dim`
    *    avg columns (sum of unit vectors per cell, re-normalized
    *    driver-side);
    *  - the only data collected per iteration is the k x dim model state
    *    (a few KB), never corpus rows.
    * Cosine argmax is scale-invariant, so raw vectors score against
    * unit-normalized centroids without normalizing the data column.
    * Empty cells retain their previous centroid. */
  def sphericalKMeans(
      vecs: DataFrame, idCol: String, vecCol: String,
      seedIds: Seq[Long], iters: Int = 3, dim: Int = 64): Seq[Seq[Double]] = {
    def normalize(v: Seq[Double]): Seq[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0) v else v.map(_ / n)
    }
    val v = withNorm(vecs, idCol, vecCol).where(col("nrm") > 0)
    // ONE centroid per seed id even when the corpus duplicates an id:
    // lexicographic-min RAW (double-cast) vector per id — the SAME
    // reduction the table trainer's seedCentroidFrame applies, so the
    // two sides of the joinAssignK dispatch boundary train from
    // identical seed vectors (normalize-then-compare would order
    // differently; compare raw, then normalize the winner)
    val seedRows = v.where(col("__id").isin(seedIds: _*))
      .select(col("__id").cast("long"), col("__v")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toSeq))
    import scala.math.Ordering.Implicits._
    var cents: Seq[Seq[Double]] = seedRows.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (_, rs) => normalize(rs.map(_._2).min) }
    for (_ <- 1 to iters) {
      // same large-k dispatch as the serving paths: past joinAssignK the
      // per-iteration assignment joins a broadcast centroid frame instead
      // of carrying the matrix as expression state (iterates are unit-
      // normalized, so the frame skips the re-normalize)
      val assigned =
        if (cents.size <= joinAssignK) v.withColumn("cid", assignExpr(cents, "__v"))
        else assignJoinFull(v, unitCentroidFrame(vecs.sparkSession, cents))
      val sums = assigned.groupBy(col("cid"))
        .agg(avg(element_at(col("__v"), 1) / col("nrm")).as("d0"),
          (2 to dim).map(j =>
            avg(element_at(col("__v"), j) / col("nrm")).as(s"d${j - 1}")): _*)
        .collect()
        .map(r => r.getInt(0) -> (0 until dim).map(j => r.getDouble(j + 1)))
        .toMap
      cents = cents.indices.map(c =>
        sums.get(c).map(normalize).getOrElse(cents(c)))
    }
    cents
  }

  /** [[sphericalKMeans]] trained on a deterministic md5-threshold SAMPLE
    * of the corpus — the industry-standard quantizer-training shape at
    * corpus scale (train on a bounded sample, serve assignment over every
    * row via [[assignClustersJoin]]): past joinAssignK the per-iteration
    * update collect is k×dim model state but the thing that actually
    * stops scaling is touching ALL corpus rows per Lloyd iteration.
    * `rate`/256 of rows train (md5-hex threshold on the id — the sp1
    * discipline, reproducible on any engine/cluster); seed rows are
    * always included so every centroid initializes. Returned centroids
    * feed the same serving paths; recall/cohesion trade with the sample
    * size exactly as in FAISS-style offline index builds. */
  def sphericalKMeansSampled(
      vecs: DataFrame, idCol: String, vecCol: String,
      seedIds: Seq[Long], iters: Int = 3, dim: Int = 64,
      rate: Int = 64, salt: String = "kms"): Seq[Seq[Double]] = {
    require(rate >= 1 && rate <= 256, s"rate must be 1..256, got $rate")
    // keep-all is LITERALLY the identity (no filter at all): a null-id
    // row would fail any draw predicate and silently diverge from full
    // training, and the point of rate=256 is bit-equal delegation
    if (rate >= 256)
      return sphericalKMeans(vecs, idCol, vecCol, seedIds, iters, dim)
    // the sp1 md5 draw (Sampling.hexDraw — ONE engine-portable sampling
    // discipline for the package), seed rows always kept. Seeds ride a
    // broadcast LEFT join marker rather than an isin(seedIds) literal
    // list — the predicate form would put |seeds| literal nodes back
    // into driver/plan state on the one path built to avoid exactly
    // that — and the draw + seed retention evaluate in ONE corpus pass
    // (a union of complementary filters would scan and md5 the corpus
    // twice to build the sample). Exact: a matched seed keeps the row
    // regardless of its draw; a null id draws null and joins nothing,
    // so `null OR false` filters it like the isin form did.
    val spark = vecs.sparkSession
    import spark.implicits._
    val drawKeep = Sampling.hexDraw(col(idCol), salt) < lit(Sampling.hexByte(rate))
    // distinct: a duplicated seed id must not multiply its row through
    // the join and double-weight the Lloyd averages
    val seedDf = broadcast(seedIds.distinct.toDF("__graft_sid"))
    val sampled = vecs.join(
        seedDf, col(idCol).cast("long") === col("__graft_sid"), "left")
      .where(drawKeep || col("__graft_sid").isNotNull)
      .drop("__graft_sid")
      // MATERIALIZE the sample: the filter is lazy, and without this
      // every Lloyd iteration would re-scan and re-hash the FULL corpus —
      // the exact cost this function exists to avoid
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try sphericalKMeans(sampled, idCol, vecCol, seedIds, iters, dim)
    finally { sampled.unpersist(); () }
  }

  /** Serving form of a table-trained centroid frame: (cid, cvu) with the
    * unit centroids cast to float — the [[assignClustersJoin]] /
    * [[assignJoinFull]] input schema, the same double→float rounding the
    * driver-Seq paths apply at assignment time. */
  def centroidServingFrame(cents: DataFrame): DataFrame =
    cents.select(col("cid"),
      transform(col("cv"), x => x.cast("float")).as("cvu"))

  /** Spherical k-means with centroid state as a TABLE end to end — the
    * 100 TB training path. [[sphericalKMeans]] holds centroids as a driver
    * `Seq` and collects the k×dim Lloyd update each iteration; at
    * k ≈ 10⁶ (n ≈ 4B vectors at the default target cluster size) that is
    * ~0.5 GB through the driver per iteration. Here nothing k-sized ever
    * leaves the cluster:
    *  - SEEDS are the k lowest distinct ids via TakeOrderedAndProject
    *    (`orderBy(id).limit(k)` — a distributed bounded heap, no collect),
    *    and the seed id IS the cluster id: nothing renumbers densely, so
    *    no single-task window (or any other k-sized serialization point)
    *    exists anywhere in the training path — consumers only need
    *    DISTINCT cluster labels ([[assignJoinFull]]'s heap keys on cid),
    *    and cid order equals seed-id order so tie-breaks match the dense
    *    numbering the Seq trainer uses (spec-pinned ≡ after label remap);
    *  - ASSIGNMENT is the [[assignClustersJoin]] shape: centroids
    *    broadcast as a frame, argmax on the TopKPerGroup bounded heap;
    *  - the UPDATE stays a map-side-combinable groupBy whose result is
    *    LEFT-JOINED back onto the centroid frame (empty cells retain
    *    their previous centroid) and re-normalized in SQL;
    *  - each iterate is `localCheckpoint`ed so the lineage stays one
    *    iteration deep.
    * Arithmetic mirrors the Seq path exactly — double-precision norms and
    * averages, float rounding only at assignment — so at small k the two
    * trainers agree to merge-order ε (spec-pinned).
    *
    * `rate`/256 of rows train (the [[sphericalKMeansSampled]] md5 draw,
    * seed rows always retained via broadcast semi-join); the sample is
    * persisted across iterations. Returns (cid: long = the seed's id,
    * cv: array<double>) unit centroids — feed [[centroidServingFrame]]
    * to serve. */
  def sphericalKMeansTable(
      vecs: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int = 3, dim: Int = 64,
      rate: Int = 256, salt: String = "kms"): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    require(rate >= 1 && rate <= 256, s"rate must be 1..256, got $rate")
    val v = withNorm(vecs, idCol, vecCol).where(col("nrm") > 0)
    val seedIdsDf = seedIdsFrame(vecs, idCol, k)
    var cents = seedCentroidFrame(vecs, idCol, vecCol, k).localCheckpoint()
    val train =
      if (rate >= 256) v
      else {
        // same one-pass draw + broadcast seed-marker retention as
        // sphericalKMeansSampled (a complementary-filter union would
        // scan and md5 the corpus twice)
        val drawKeep =
          Sampling.hexDraw(col("__id"), salt) < lit(Sampling.hexByte(rate))
        v.join(broadcast(seedIdsDf),
            col("__id").cast("long") === col("__sid"), "left")
          .where(drawKeep || col("__sid").isNotNull)
          .drop("__sid")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      }
    try {
      for (_ <- 1 to iters) {
        val assigned = assignJoinFull(train, centroidServingFrame(cents))
        val sums = assigned.groupBy(col("cid"))
          .agg(avg(element_at(col("__v"), 1) / col("nrm")).as("d0"),
            (2 to dim).map(j =>
              avg(element_at(col("__v"), j) / col("nrm")).as(s"d${j - 1}")): _*)
          .select(col("cid"),
            array((0 until dim).map(j => col(s"d$j")): _*).as("__s"))
        cents = cents.join(sums, Seq("cid"), "left")
          .withColumn("__n",
            sqrt(aggregate(col("__s"), lit(0.0), (a, x) => a + x * x)))
          .select(col("cid"),
            when(col("__s").isNull, col("cv"))
              .otherwise(unitize(col("__s"), col("__n"))).as("cv"))
          .localCheckpoint()
      }
      cents
    } finally {
      if (!(train eq v)) { train.unpersist(); () }
    }
  }

  /** Unit-normalize an array column (zero-norm vectors pass through). */
  private def unitize(
      m: org.apache.spark.sql.Column,
      n: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(n > 0, transform(m, x => x / n)).otherwise(m)

  /** The k lowest DISTINCT ids, cast to long — [[sphericalKMeansTable]]'s
    * seed frame, matching the Seq trainers' collect (distinct + long
    * ordering) so seed selection is identical on both sides of the
    * joinAssignK dispatch boundary. TakeOrderedAndProject: a distributed
    * bounded heap, never a collect. */
  private def seedIdsFrame(vecs: DataFrame, idCol: String, k: Int): DataFrame =
    vecs.select(col(idCol).cast("long").as("__sid")).distinct()
      .orderBy(col("__sid")).limit(k)

  /** Unit seed-centroid frame (cid = THE SEED'S ID, cv unit double
    * vector): the seed id is the cluster label — no dense renumbering.
    * The former row_number() window here had no PARTITION BY, i.e. ONE
    * task sorting all k seed rows (~1 GB of dim-64 arrays at k ≈ 10⁶) —
    * the last k-sized serialization point in the training path. Consumers
    * only need DISTINCT labels ([[assignJoinFull]]'s heap keys on cid),
    * and long ordering of cid equals seed ordering, so argmax tie-breaks
    * (score DESC, cid ASC) elect the same centroid the densely-numbered
    * form did. Zero-norm seeds drop at the semi-join, exactly like the
    * Seq path's collect-and-index. Exposed for SimilaritySpec's plan
    * assertion that no single-partition window remains. */
  private[graft] def seedCentroidFrame(
      vecs: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame = {
    val v = withNorm(vecs, idCol, vecCol).where(col("nrm") > 0)
    v.join(broadcast(seedIdsFrame(vecs, idCol, k)),
        col("__id").cast("long") === col("__sid"), "left_semi")
      .select(col("__id").cast("long").as("cid"),
        transform(col("__v"), x => x.cast("double")).as("__dv"))
      // ONE row per label even when the corpus duplicates a seed id (the
      // semi join keeps every copy): deterministic lexicographic-min
      // vector per cid — without this, a duplicated id would ride two
      // (cid, cv) rows through every Lloyd join, a phantom centroid under
      // one label. k-sized, partial-aggregable.
      .groupBy(col("cid")).agg(min(col("__dv")).as("__dv"))
      .withColumn("__n",
        sqrt(aggregate(col("__dv"), lit(0.0), (a, x) => a + x * x)))
      .select(col("cid"), unitize(col("__dv"), col("__n")).as("cv"))
  }

  /** Argmax-of-(dot + bias) assignment against constant centroids:
    * returns the 0-based index of the best-scoring centroid as a column.
    * bias = 0 per centroid gives the cosine argmax (scale-invariant);
    * bias = -|c|^2/2 gives the nearest-L2 centroid (PQ subspaces).
    * First-max wins on ties (deterministic). */
  private def assignScoredExpr(
      cents: Seq[Seq[Double]], v: org.apache.spark.sql.Column,
      bias: Seq[Double]): org.apache.spark.sql.Column = {
    // native VectorScores: the centroid matrix rides as ONE reference
    // object (k*dim literal nodes inlined 4x per plan made analysis and
    // per-stage AQE re-optimization a visible driver cost) and the k dots
    // run in a codegen'd loop — bit-identical to the per-j
    // vec_dot(v, array(lit..)) + lit(b) spelling
    val scores = graft.functions.VectorFunctions.vec_scores(
      v, cents.map(_.map(_.toFloat)), bias)
    // coalesce never fires (the array is non-empty, its max is a member)
    // but marks cid NON-NULLABLE: otherwise a downstream join on cid
    // infers isnotnull(cid) and predicate pushdown clones this whole
    // k-dot scoring tree into a filter UNDER the fan-out exchange, re-
    // scoring the corpus single-threaded in the scan stage
    coalesce((array_position(scores, array_max(scores)) - 1).cast("int"),
      lit(-1))
  }

  private def assignExpr(cents: Seq[Seq[Double]], vecCol: String): org.apache.spark.sql.Column =
    assignScoredExpr(cents, col(vecCol), cents.map(_ => 0.0))

  /** IVF top-k with LEARNED centroids (from [[sphericalKMeans]]): corpus
    * assignment and query probing are both constant-centroid projections;
    * the search then joins only the probed cells' vectors. */
  def ivfTopKLearned(
      vecs: DataFrame, idCol: String, vecCol: String,
      queryIds: Seq[Long], centroids: Seq[Seq[Double]],
      k: Int = 5, nprobe: Int = 2): DataFrame = {
    val v = withNorm(vecs, idCol, vecCol)
    val assign = v.select(col("__id").as("vec_id"),
      assignExpr(centroids, "__v").as("cid"))
    val q = v.where(col("__id").isin(queryIds: _*))
      .select(col("__id").as("qid"), col("__v").as("qv"), col("nrm").as("qn"))
    // nprobe nearest cells per query: explode the (tiny) per-query dot
    // array — queries are few, so the window touches |queries| * k rows
    val qDots = q.withColumn("dots", graft.functions.VectorFunctions.vec_scores(
      col("qv"), centroids.map(_.map(_.toFloat)), centroids.map(_ => 0.0)))
    val probe = qDots.select(col("qid"), posexplode(col("dots")).as(Seq("cid", "cc")))
    val w0 = Window.partitionBy(col("qid")).orderBy(col("cc").desc, col("cid"))
    val probed = probe.withColumn("rnk", row_number().over(w0))
      .where(col("rnk") <= nprobe).select(col("qid"), col("cid"))
    val scored = q.join(probed, "qid")
      .join(assign, "cid")
      .join(v.withColumnRenamed("__id", "vec_id"), Seq("vec_id"))
      .where(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        round(dot(col("qv"), col("__v")) / (col("qn") * col("nrm")), 6).as("cos"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rnk", row_number().over(w)).where(col("rnk") <= k)
      .drop("rnk").orderBy(col("qid"), col("cos").desc, col("vec_id"))
  }

  // ------------------------------------------------------------------
  // Product quantization (PQ): the industry-standard ANN compression.
  // dim is split into nSub subspaces; each subspace gets a small learned
  // codebook; a vector encodes to nSub 4-bit codes — here 64 float32
  // dims (256 bytes) pack into ONE BIGINT (8 bytes, 32x). Search is
  // asymmetric distance computation: the query stays full-precision and
  // scores codes through a per-query lookup table, so the scan reads
  // only the packed codes + the stored true norm.

  /** Argmax-of-(dot - |c|^2/2) assignment — equivalent to nearest-L2
    * centroid for the subvector; shares the argmax skeleton with the
    * cosine assignment (one tie-break/NaN behavior to maintain). */
  private def pqAssignExpr(
      book: Seq[Seq[Double]], svCol: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    assignScoredExpr(book, svCol, book.map(c => -c.map(x => x * x).sum / 2.0))
      .cast("long")

  /** Train per-subspace codebooks by Lloyd k-means (L2 in each subspace).
    * Assignment is a constant-codebook projection; each update is one
    * map-side-combinable groupBy per subspace; only the nSub x k x subDim
    * model state reaches the driver. */
  def pqTrain(
      vecs: DataFrame, idCol: String, vecCol: String,
      nSub: Int = 8, seedIds: Seq[Long] = 0L until 16L,
      iters: Int = 1, dim: Int = 64): Seq[Seq[Seq[Double]]] = {
    val subDim = dim / nSub
    val v = vecs.select(col(idCol).as("__id"), col(vecCol).as("__v"))
    val seedRows = v.where(col("__id").isin(seedIds: _*)).orderBy(col("__id"))
      .select(col("__v")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toIndexedSeq)
    var books: Seq[Seq[Seq[Double]]] = (0 until nSub).map(s =>
      seedRows.map(r => r.slice(s * subDim, (s + 1) * subDim): Seq[Double]).toSeq)
    for (_ <- 1 to iters) {
      books = (0 until nSub).map { s =>
        val sub = v.select(expr(s"slice(__v, ${s * subDim + 1}, $subDim)").as("sv"))
        val assigned = sub.withColumn("cid", pqAssignExpr(books(s), col("sv")))
        val sums = assigned.groupBy(col("cid"))
          .agg(avg(element_at(col("sv"), 1)).as("d0"),
            (2 to subDim).map(j => avg(element_at(col("sv"), j)).as(s"d${j - 1}")): _*)
          .collect()
          .map(r => r.getLong(0).toInt -> (0 until subDim).map(j => r.getDouble(j + 1)))
          .toMap
        books(s).indices.map(c => sums.getOrElse(c, books(s)(c)): Seq[Double])
      }
    }
    books
  }

  /** Pack the nSub 4-bit codes into one BIGINT column. */
  private def pqCodesExpr(
      books: Seq[Seq[Seq[Double]]], vecCol: String, subDim: Int): org.apache.spark.sql.Column =
    books.zipWithIndex.map { case (book, s) =>
      pqAssignExpr(book, expr(s"slice($vecCol, ${s * subDim + 1}, $subDim)")) *
        lit(1L << (4 * s))
    }.reduce(_ + _)

  /** Build the PQ index state: (__id, __v, nrm, codes). In production the
    * codes column IS the stored index (written next to the table, like
    * any secondary index); cache/persist this instead of re-encoding per
    * query. */
  def pqEncode(
      vecs: DataFrame, idCol: String, vecCol: String,
      books: Seq[Seq[Seq[Double]]], dim: Int = 64): DataFrame =
    withNorm(vecs, idCol, vecCol)
      .withColumn("codes", pqCodesExpr(books, "__v", dim / books.length))

  /** Add the assigned IVF cell to an existing encoded index — a pure
    * projection, so a cached [[pqEncode]] frame extends to IVF+PQ without
    * a second materialization. */
  def withCells(encoded: DataFrame, centroids: Seq[Seq[Double]]): DataFrame =
    encoded.withColumn("cid", assignExpr(centroids, "__v"))

  /** IVF+PQ index state: pqEncode plus the assigned cell id. */
  def ivfPqEncode(
      vecs: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[Seq[Double]], books: Seq[Seq[Seq[Double]]],
      dim: Int = 64): DataFrame =
    withCells(pqEncode(vecs, idCol, vecCol, books, dim), centroids)

  /** PQ top-k by ADC with exact rerank: encode the corpus to packed codes
    * (+ stored true norm), score each query against the codes via its
    * lookup table (sum of nSub element_at's — no float-vector reads in the
    * scan), take the top `rerank` candidates, rerank them full-precision,
    * emit the top `k`. */
  /** Shared PQ serving plumbing: size guards, per-query LUT frame
    * (qid, qn, qv, lut), the sign-safe ADC nibble expression, and the
    * page-then-rerank tail — one implementation for both the flat-PQ and
    * IVF+PQ search paths. */
  private def pqDims(books: Seq[Seq[Seq[Double]]], dim: Int): (Int, Int, Int) = {
    val nSub = books.length
    val subDim = dim / nSub
    val kPer = books.head.length
    // 4-bit nibble packing bounds the codebook size; the LUT stride is the
    // actual codebook size, so smaller books stay correctly indexed
    require(books.forall(_.length == kPer) && kPer >= 2 && kPer <= 16,
      s"per-subspace codebook size must be uniform and in [2,16], got $kPer")
    require(nSub * subDim == dim, s"dim $dim must split evenly into $nSub subspaces")
    (nSub, subDim, kPer)
  }

  /** Per-query model state: (qid, qn, qv, lut) where
    * lut[s*kPer + c] = dot(query_sub_s, books(s)(c)). Queries are a
    * literal handful, so LUT construction is driver-side (like any ANN
    * serving layer), not a corpus operation. */
  private def pqLutDF(
      v: DataFrame, queryIds: Seq[Long], books: Seq[Seq[Seq[Double]]],
      subDim: Int): (DataFrame, Seq[(Long, IndexedSeq[Double])]) = {
    val spark = v.sparkSession
    import spark.implicits._
    // ONE collect fetches the query vectors; callers needing the raw
    // vectors (probe computation) reuse the returned rows instead of
    // re-scanning the index
    val qRows = v.where(col("__id").isin(queryIds: _*))
      .select(col("__id"), col("__v"), col("nrm")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toIndexedSeq,
        r.getDouble(2)))
    val df = qRows.map { case (qid, qv, qn) =>
      val lut = for (s <- books.indices; c <- books(s).indices) yield
        (0 until subDim).map(d => qv(s * subDim + d) * books(s)(c)(d)).sum
      (qid, qn, qv.map(_.toFloat), lut)
    }.toSeq.toDF("qid", "qn", "qv", "lut")
    (df, qRows.map { case (qid, qv, _) => (qid, qv) }.toSeq)
  }

  /** ADC score over the packed codes: sum of nSub LUT lookups. The nibble
    * extraction masks with & 15 (never %: packed codes can go negative
    * when subspace 15 uses the sign nibble, and a sign-preserving modulo
    * would index the LUT negatively). */
  private def adcExpr(nSub: Int, kPer: Int): org.apache.spark.sql.Column =
    (0 until nSub).map { s =>
      element_at(col("lut"),
        shiftright(col("codes"), 4 * s).bitwiseAND(lit(15L)).cast("int") +
          lit(s * kPer) + 1)
    }.reduce(_ + _)

  /** Keep the top `rerank` per query by approx score (the window carries
    * only (qid, vec_id, approx) — 24 bytes per candidate, the point of
    * PQ), then join the float vectors back for ONLY those survivors and
    * emit the full-precision top `k`. */
  private def pqPageAndRerank(
      scored: DataFrame, v: DataFrame, lutDF: DataFrame,
      k: Int, rerank: Int): DataFrame = {
    val w0 = Window.partitionBy(col("qid")).orderBy(col("approx").desc, col("vec_id"))
    val page = scored.withColumn("rnk", row_number().over(w0))
      .where(col("rnk") <= rerank)
      .select(col("qid"), col("vec_id"), round(col("approx"), 6).as("approx_cos"))
    val cand = page
      .join(v.select(col("__id").as("vec_id"), col("__v"), col("nrm")), "vec_id")
      .join(broadcast(lutDF.select(col("qid"), col("qn"), col("qv"))), "qid")
      .select(col("qid"), col("vec_id"), col("approx_cos"),
        round(dot(col("qv"), col("__v")) / (col("qn") * col("nrm")), 6).as("exact_cos"))
    val w = Window.partitionBy(col("qid")).orderBy(col("exact_cos").desc, col("vec_id"))
    cand.withColumn("rnk", row_number().over(w)).where(col("rnk") <= k)
      .drop("rnk").orderBy(col("qid"), col("exact_cos").desc, col("vec_id"))
  }

  def pqTopK(
      vecs: DataFrame, idCol: String, vecCol: String,
      queryIds: Seq[Long], books: Seq[Seq[Seq[Double]]],
      k: Int = 5, rerank: Int = 20, dim: Int = 64,
      index: Option[DataFrame] = None): DataFrame = {
    val (nSub, subDim, kPer) = pqDims(books, dim)
    val encoded = index.getOrElse(pqEncode(vecs, idCol, vecCol, books, dim))
    val v = encoded.select(col("__id"), col("__v"), col("nrm"))
    val (lutDF, _) = pqLutDF(v, queryIds, books, subDim)
    val scored = encoded.crossJoin(broadcast(lutDF.select(col("qid"), col("qn"), col("lut"))))
      .where(col("__id") =!= col("qid"))
      .select(col("qid"), col("__id").as("vec_id"),
        (adcExpr(nSub, kPer) / (col("qn") * col("nrm"))).as("approx"))
    pqPageAndRerank(scored, v, lutDF, k, rerank)
  }

  /** IVF+PQ composition — the standard large-scale ANN serving shape
    * (FAISS IVFPQ): learned IVF centroids prune the search to `nprobe`
    * cells, PQ/ADC scores the candidates inside those cells without
    * touching float vectors, and the top page reranks full-precision.
    * At 10^9 vectors this reads nprobe/k_cells of the corpus as 8-byte
    * codes — the only shape where both the scan volume AND the bytes per
    * row shrink. */
  def ivfPqTopK(
      vecs: DataFrame, idCol: String, vecCol: String,
      queryIds: Seq[Long], centroids: Seq[Seq[Double]],
      books: Seq[Seq[Seq[Double]]],
      k: Int = 5, nprobe: Int = 4, rerank: Int = 20, dim: Int = 64,
      index: Option[DataFrame] = None): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val (nSub, subDim, kPer) = pqDims(books, dim)
    // index build shape: one projection adds (cell, codes) to every row
    val encoded = index.getOrElse(
      ivfPqEncode(vecs, idCol, vecCol, centroids, books, dim))
    val v = encoded.select(col("__id"), col("__v"), col("nrm"))
    val (lutDF, qVecs) = pqLutDF(v, queryIds, books, subDim)
    // probed cells per query: argsort of query-centroid dots (a constant
    // positive norm divisor cannot change the ranking, so raw dots rank)
    val probeDF = qVecs.flatMap { case (qid, qv) =>
      centroids.zipWithIndex
        .map { case (c, i) => (i, qv.zip(c).map { case (a, b) => a * b }.sum) }
        .sortBy { case (i, d) => (-d, i) }.take(nprobe)
        .map { case (i, _) => (qid, i) }
    }.toSeq.toDF("qid", "cid")
    // candidates = probed cells only; the scan carries codes, never vectors
    val scored = encoded
      .join(broadcast(probeDF), "cid")
      .join(broadcast(lutDF.select(col("qid"), col("qn"), col("lut"))), "qid")
      .where(col("__id") =!= col("qid"))
      .select(col("qid"), col("__id").as("vec_id"),
        (adcExpr(nSub, kPer) / (col("qn") * col("nrm"))).as("approx"))
    pqPageAndRerank(scored, v, lutDF, k, rerank)
  }

  /** Near-duplicate pairs: sign-LSH bucket on `nBits` deterministic
    * integer-valued hyperplanes (w[k][d] = (k*73 + d*179) % 97 - 48),
    * exact cosine >= tau within buckets. The hyperplanes are constant
    * float arrays evaluated with the codegen'd vec_dot — no interpreted
    * higher-order functions in the bucketing pass; sign is scale-invariant
    * and float * small-int products are exact in double, so buckets match
    * the DuckDB double-arithmetic oracle bit-for-bit. */
  def cosineNearDupPairs(
      vecs: DataFrame, idCol: String, vecCol: String,
      nBits: Int = 4, tau: Double = 0.4): DataFrame = {
    val buck = signLshBuckets(vecs, idCol, vecCol, nBits)
    val a = buck.as("a"); val b = buck.as("b")
    a.join(b, col("a.bucket") === col("b.bucket") && col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("vec_a"), col("b.__id").as("vec_b"),
        (dot(col("a.__v"), col("b.__v")) / (col("a.nrm") * col("b.nrm"))).as("c"))
      .where(col("c") >= tau)
      .select(col("vec_a"), col("vec_b"), round(col("c"), 4).as("cos"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** Sign-LSH bucket assignment half of [[cosineNearDupPairs]]:
    * (__id, __v, nrm, bucket). Exposed so callers and specs can audit
    * bucket populations — the quantity that bounds within-bucket pair
    * work. */
  def signLshBuckets(
      vecs: DataFrame, idCol: String, vecCol: String, nBits: Int): DataFrame = {
    require(nBits >= 1 && nBits <= 62, s"nBits out of range: $nBits")
    val v = withNorm(vecs, idCol, vecCol)
    val bucketExpr = (0 until nBits).map { k =>
      val plane = array((0 until 64).map(d =>
        lit(((k * 73 + d * 179) % 97 - 48).toFloat)): _*)
      when(dot(col("__v"), plane) >= 0, lit(1L << k)).otherwise(lit(0L))
    }.reduce(_ + _)
    v.withColumn("bucket", bucketExpr)
  }

  /** Hyperplane count that keeps sign-LSH bucket populations bounded as
    * the corpus grows: nBits = clamp(ceil(log2(n / targetBucket)), 4, 20),
    * so the EXPECTED bucket population n / 2^nBits stays <= targetBucket
    * and within-bucket pair work ~ n·targetBucket. A fixed bit count
    * (dd5's fixture keeps 4 only because its corpus is tiny) leaves the
    * self-join O(n²/2^nBits) — quadratic in corpus size. */
  def lshBits(n: Long, targetBucket: Int = 1024): Int = {
    require(targetBucket > 0, "targetBucket must be positive")
    val need = math.ceil(
      math.log(math.max(1.0, n.toDouble / targetBucket)) / math.log(2.0)).toInt
    math.min(20, math.max(4, need))
  }

  /** [[cosineNearDupPairs]] with the bit count scaled to the corpus
    * ([[lshBits]]) — the form a pipeline calls at scale. The count is
    * INDEX BUILD (once per corpus), not serving work. */
  def cosineNearDupPairsScaled(
      vecs: DataFrame, idCol: String, vecCol: String,
      tau: Double = 0.4, targetBucket: Int = 1024): DataFrame =
    cosineNearDupPairs(vecs, idCol, vecCol,
      lshBits(vecs.count(), targetBucket), tau)

  /** Embedding-quality outlier scoring (library form of emb1): cosine of
    * each vector to its LABEL centroid — low cosine flags candidate
    * mislabels/noise, the embedding-space analogue of a text-quality gate.
    *
    * Cross-row arithmetic is fixed-point BIGINT (1e-6 units) so sums are
    * order-independent; the centroid keeps the SUM direction via a
    * per-dimension integer mean (scale cancels in cosine) and the final
    * `round(_, 6)` over identical integer inputs is engine-exact.
    *
    * Scale shape: one posexplode groupBy partial-aggregates the corpus
    * down to a labels x dims centroid frame — model state — which is
    * re-assembled per label and BROADCAST back; the dot product is then
    * row-local (`aggregate` over zipped arrays), so the corpus itself
    * never shuffles. Returns every vector scored: (vec_id, label,
    * centroid_cos); rank/filter downstream. */
  def centroidOutliers(
      vecs: DataFrame, idCol: String, vecCol: String, labelCol: String): DataFrame = {
    val v = vecs.select(col(idCol).as("vec_id"), col(labelCol).as("label"),
      expr(s"transform($vecCol, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT))")
        .as("vu"))
    val cent = v
      .select(col("label"), posexplode(col("vu")).as(Seq("pos", "u")))
      .groupBy("label", "pos")
      .agg(expr("sum(u) DIV count(*)").as("cu"))
      .groupBy("label")
      .agg(expr("transform(array_sort(collect_list(struct(pos, cu))), s -> s.cu)")
        .as("carr"))
    // native VectorDotI64 == the aggregate(zip_with(..)) lambda spelling
    // (exact long arithmetic either way) but codegen'd — the interpreted
    // form ran ~2·dim closure calls per row and was emb1's whole cost
    // (SCALE.md round-12 weak-tail profiles: one 1.6 s task-time stage on
    // a 20 k-row corpus)
    import graft.functions.VectorFunctions.{vec_dot_i64 => doti}
    v.join(broadcast(cent), "label")
      .select(col("vec_id"), col("label"),
        round(
          doti(col("vu"), col("carr")) /
            (sqrt(doti(col("vu"), col("vu")).cast("double")) *
              sqrt(doti(col("carr"), col("carr")).cast("double"))),
          6).as("centroid_cos"))
  }

  /** Embedding-space DRIFT report between two corpus snapshots — the
    * monitoring pass a pipeline runs after re-ingest/re-embedding to see
    * whether each label's population and centroid moved (membership churn
    * + per-label centroid cosine). Same integer discipline as
    * [[centroidOutliers]]: vectors quantize to 1e-6 BIGINT units, per-
    * (label, dim) centroids are integer means (`sum DIV count`), and the
    * v1×v2 centroid cosine is exact integer dots under an IEEE
    * sqrt/divide/round — any engine reproduces it bit-for-bit.
    *
    * Scale shape: each snapshot is scanned ONCE into a labels × dims
    * integer-centroid frame (partial-aggregable posexplode + groupBy);
    * the cosine joins two model-sized frames; membership churn is one
    * full-outer join on (id, label) carrying ids only — the vectors
    * never shuffle for it. */
  def embeddingDrift(
      v1: DataFrame, v2: DataFrame,
      idCol: String, vecCol: String, labelCol: String): DataFrame = {
    def centroid(df: DataFrame, out: String) = df
      .select(col(labelCol).as("label"),
        posexplode(expr(
          s"transform($vecCol, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT))"))
          .as(Seq("pos", "u")))
      .groupBy("label", "pos")
      .agg(expr("sum(u) DIV count(*)").as(out))
    val cos = centroid(v1, "c1").join(centroid(v2, "c2"), Seq("label", "pos"))
      .groupBy("label")
      .agg(round(
        sum(col("c1") * col("c2")) /
          (sqrt(sum(col("c1") * col("c1")).cast("double")) *
            sqrt(sum(col("c2") * col("c2")).cast("double"))), 6)
        .as("centroid_cos"))
    val mem = v1.select(col(idCol).as("id"), col(labelCol).as("label"),
        lit(1).as("in1"))
      .join(v2.select(col(idCol).as("id"), col(labelCol).as("label"),
        lit(1).as("in2")), Seq("id", "label"), "full_outer")
      .groupBy("label")
      .agg(count(col("in1")).as("n1"), count(col("in2")).as("n2"),
        count(when(col("in2").isNotNull && col("in1").isNull, 1)).as("n_added"),
        count(when(col("in1").isNotNull && col("in2").isNull, 1)).as("n_removed"))
    mem.join(cos, Seq("label"), "left")
  }

  /** Cluster-quality dashboard via simplified silhouette (emb2's library
    * form): a = cosine distance to the OWN label centroid, b = distance to
    * the nearest OTHER centroid, s = (b-a)/max(a,b), averaged per label
    * with the count of negative (likely-misassigned) members.
    *
    * Same integer discipline as [[centroidOutliers]]: 1e-6 vector units,
    * integer centroids and dot products; per-row silhouettes quantize to
    * 1e-6 BIGINT before the per-label average, so every cross-row sum is
    * exact at any parallelism. Scale shape: the labels x dims centroid
    * frame broadcasts; the |V| x k scoring is a row-local zip_with
    * projection over the broadcast — the corpus never shuffles before the
    * final per-label aggregation. */
  def clusterSilhouette(
      vecs: DataFrame, idCol: String, vecCol: String, labelCol: String): DataFrame = {
    val v = vecs.select(col(idCol).as("vec_id"), col(labelCol).as("label"),
      expr(s"transform($vecCol, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT))")
        .as("vu"))
    val cent = v
      .select(col("label").as("clabel"), posexplode(col("vu")).as(Seq("pos", "u")))
      .groupBy("clabel", "pos")
      .agg(expr("sum(u) DIV count(*)").as("cu"))
      .groupBy("clabel")
      .agg(expr("transform(array_sort(collect_list(struct(pos, cu))), s -> s.cu)")
        .as("carr"))
    // same native integer-dot swap as centroidOutliers (emb2 scores
    // |V| × k of these per corpus — the interpreted lambda form was the
    // dominant cost)
    import graft.functions.VectorFunctions.{vec_dot_i64 => doti}
    val cosAll = v.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("label"), col("clabel"),
        (doti(col("vu"), col("carr")) /
          (sqrt(doti(col("vu"), col("vu")).cast("double")) *
            sqrt(doti(col("carr"), col("carr")).cast("double"))))
          .as("cos"))
    val sil = cosAll.groupBy("vec_id", "label")
      .agg(
        max(when(col("clabel") === col("label"), col("cos"))).as("own"),
        max(when(col("clabel") =!= col("label"), col("cos"))).as("other"))
    val su = sil.select(col("vec_id"), col("label"),
      floor(((lit(1.0) - col("other")) - (lit(1.0) - col("own"))) /
        greatest(lit(1.0) - col("own"), lit(1.0) - col("other")) * lit(1000000.0))
        .cast("long").as("s_u"))
    su.groupBy("label")
      .agg(
        count(lit(1)).as("n"),
        round(sum(col("s_u")) / (lit(1000000.0) * count(lit(1))), 6).as("avg_silhouette"),
        sum(when(col("s_u") < 0, 1L).otherwise(0L)).as("n_negative"))
      .orderBy("label")
  }
}
