package perfbench

import java.util.Locale

/** One generated request: the SQL graft receives, the same query in
  * DuckDB's dialect for the correctness gate, the user it runs as
  * (None = the default policy) and the response format it negotiates. */
final case class Op(template: String, sql: String, duckSql: String,
    user: Option[String], arrow: Boolean) {
  def key: String = s"${user.getOrElse("default")}|$sql"
}

/** Seeded workload inputs. Everything a run sends is derived from the
  * workload seed here and nowhere else, so the same seed gives the same
  * op sequence and the same texts. */
object Ops {
  private def f2(v: Double): String = String.format(Locale.ROOT, "%.2f", Double.box(v))

  private def date(r: scala.util.Random, y0: Int, y1: Int): String =
    String.format(Locale.ROOT, "%04d-%02d-%02d",
      Int.box(y0 + r.nextInt(y1 - y0 + 1)), Int.box(1 + r.nextInt(12)),
      Int.box(1 + r.nextInt(28)))

  /** The five relay-sync shapes, each with fresh literals from `r`. The
    * literal ranges keep every text of a shape at about the same cost. */
  private def syncText(t: Int, r: scala.util.Random): (String, String, String, Boolean) = t match {
    case 0 => // projection + filter + ORDER BY + LIMIT (q1 shape)
      val s = s"SELECT orderkey, linenumber, quantity, extendedprice, discount_percent " +
        s"FROM lineitem WHERE quantity > ${20 + r.nextInt(10)} AND shipdate >= DATE " +
        s"'${date(r, 1996, 1997)}' ORDER BY extendedprice DESC, orderkey, linenumber, " +
        s"quantity, discount_percent LIMIT ${10 + r.nextInt(11)}"
      ("proj", s, s, true)
    case 1 => // SELECT * under the default ACL: null-padded columns (q2)
      val a = r.nextInt(14000)
      val s = s"SELECT * FROM lineitem WHERE orderkey BETWEEN $a AND ${a + 10 + r.nextInt(3)} " +
        "ORDER BY orderkey, linenumber, partkey, extendedprice, quantity"
      ("star", s, s, true)
    case 2 => // grouped TPC-H Q1 (q3)
      val s = "SELECT returnflag, linestatus, round(sum(quantity), 2) AS sum_qty, " +
        "round(sum(extendedprice), 2) AS sum_base_price, " +
        "round(avg(discount_percent), 4) AS avg_disc, count(*) AS count_order " +
        s"FROM lineitem WHERE shipdate <= DATE '${date(r, 2000, 2001)}' " +
        "GROUP BY returnflag, linestatus ORDER BY returnflag, linestatus"
      ("agg", s, s, true)
    case 3 => // filter across the two-hop na_us -> na transform (q7);
      // the DECIMAL column is one the Arrow codec does not carry, so
      // this shape takes the parquet response
      val q = 10 + r.nextInt(30)
      val s = "SELECT orderkey, linenumber, quantity, " +
        "CAST(extendedprice AS DECIMAL(12,2)) AS price FROM lineitem " +
        s"WHERE orderkey % 3 = 0 AND quantity BETWEEN $q AND ${q + 2} " +
        s"AND shipdate < DATE '${date(r, 2000, 2001)}' " +
        s"ORDER BY orderkey, linenumber, quantity, price LIMIT ${20 + r.nextInt(11)}"
      ("hop", s, s, false)
    case _ => // reference dialect the validator bridges: TOP n
      val n = 10 + r.nextInt(11)
      val p = 4 + r.nextInt(4)
      val tail = s"orderkey, linenumber, extendedprice FROM lineitem " +
        s"WHERE discount_percent >= $p ORDER BY extendedprice DESC, orderkey, linenumber"
      ("top", s"SELECT TOP $n $tail", s"SELECT $tail LIMIT $n", true)
  }

  val SyncPoolSize = 24

  /** The relay-sync text pool: 24 texts, fixed per seed. The shape at
    * each popularity rank is fixed (ranks cycle through the five shapes)
    * and only the literals come from the seed, so every seed puts the
    * same share of traffic on each shape. Every ORDER BY is total over
    * the projected columns, so each text has exactly one right answer. */
  def syncPool(seed: Long): IndexedSeq[(String, String, String, Boolean)] = {
    val r = new scala.util.Random(seed * 7919 + 17)
    (0 until SyncPoolSize).map(i => syncText(i % 5, r))
  }

  /** Zipf(s = 1) rank sampler over `n` ranks, fed a low-discrepancy
    * sequence (golden-ratio steps from a seeded start) rather than
    * independent draws: any 40 consecutive ops then carry the Zipf mix
    * closely, so runs differ in their texts, not in how much of each
    * shape they send. */
  final class Zipf(n: Int, start: Double) {
    private val cdf = {
      val w = (1 to n).map(1.0 / _)
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    private var u = start
    def next(): Int = {
      u = (u + 0.6180339887498949) % 1.0
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  private val Admin = Some("admin")

  /** The measured loop's relay-sync op stream (`stream` 0), or the traced
    * replay's (`stream` 1, texts in an order the warm-up did not send):
    * Zipf over the pool, users alternating admin and default. */
  def syncStream(seed: Long, stream: Int): Iterator[Op] = {
    val pool = syncPool(seed)
    val z = new Zipf(pool.size, new scala.util.Random(seed * 104729 + stream).nextDouble())
    Iterator.from(0).map { k =>
      val (t, s, d, arrow) = pool(z.next())
      Op(t, s, d, if ((k + stream) % 2 == 0) Admin else None, arrow)
    }
  }

  /** A fresh relay's first ops: the highest-ranked pool text of each
    * shape, users alternating. */
  def syncCold(seed: Long): Seq[Op] =
    syncPool(seed).groupBy(_._1).values.map(_.head).toSeq.sortBy(_._1).zipWithIndex
      .map { case ((t, s, d, arrow), i) => Op(t, s, d, if (i % 2 == 0) Admin else None, arrow) }

  /** The traced run's async ops: the pool's `star` texts, users
    * alternating. A filter without LIMIT or aggregate is the shape whose
    * per-branch async result, unioned, is the whole answer, so the gate
    * can check it against the entity query. */
  def asyncOps(seed: Long): Seq[Op] =
    syncPool(seed).filter(_._1 == "star").zipWithIndex
      .map { case ((t, s, d, _), i) => Op(t, s, d, if (i % 2 == 0) Admin else None, arrow = false) }

  /** Pipeline operators the pipeline-batch workload runs: one per
    * operator family, pinned by name so that later additions to
    * `PipelineQueries.queries` do not change the workload. Operators that
    * persist model state outside the working directory (the stored ANN
    * index and BPE merges, under a fixed path of their own) are left out. */
  val PipelineOps: Seq[(String, String)] = Seq(
    "dedup" -> "sd1_semantic_dedup",
    "similarity" -> "emb1_centroid_outliers",
    "retrieval" -> "rt1_bm25_topk",
    "text" -> "tx7_unigram_lm",
    "multimodal" -> "mm3_video_framesample",
    "sampling" -> "cq1_cluster_reps",
    "sketches" -> "ap3_histogram_quantiles",
    "graph" -> "gr3_triangle_stats",
    "events" -> "ao2_asof_next")

  /** The pinned operators in this seed's order. */
  def pipelineOrder(seed: Long): Seq[(String, String)] =
    new scala.util.Random(seed * 31 + 7).shuffle(PipelineOps)
}
