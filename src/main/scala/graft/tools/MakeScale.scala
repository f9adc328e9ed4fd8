package graft.tools

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

import graft.GraftSession

/** Derive an sf1-scale dataset from the driver's sf0.1 tables (the driver
  * provides no generator past sf0.1 and /root/testdata is read-only, so the
  * scale checkpoint uses a deterministic 10x derivation in /tmp).
  *
  * Replication preserves workload character instead of inflating it:
  *  - documents: ids offset per copy; every WORD is prefixed with the copy
  *    tag, so shingle/minhash/simhash structure within a copy is identical
  *    to the base corpus while cross-copy Jaccard is 0 — near-dup pair
  *    counts scale LINEARLY (10x), as a 10x-bigger real corpus would.
  *  - embeddings: ids offset; copy c flips the SIGN of dimension c-1
  *    (copy 0 unchanged) — vectors stay random-direction so IVF cells
  *    stay balanced (an additive shift would aim every copy at whichever
  *    centroid dominates that dimension and melt clustering into one
  *    quadratic mega-cell), while cross-copy cosine drops to ~0.94-0.97:
  *    siblings read as ordinary near-duplicates, pair counts stay linear.
  *  - events: event/user ids offset per copy — 10x users, same per-user
  *    density, so sessionization/as-of/top-k shapes scale linearly.
  *  - lineitem/orders: order keys offset per copy (10x orders over the
  *    same customers/parts/suppliers — the TPC-H scale direction).
  *  - dimension tables (region/nation/customer/supplier/part): copied.
  *
  * Usage: runMain graft.tools.MakeScale [srcDir] [dstDir] [copies] [flipOffset]
  *
  * `flipOffset` shifts which embedding dimension copy c sign-flips
  * (dim c-1+flipOffset). It exists for CHAINED derivations (sf1 -> sf10):
  * without it, a level-2 copy that re-flips the same dim a level-1 copy
  * flipped cancels back to the base vector — every (a, a) diagonal pair
  * becomes an exact duplicate and near-dup pair counts go quadratic. A
  * disjoint dim range (sf10 uses 16) keeps all flip sets distinct, so
  * cross-copy cosine stays in the near-dup band and pair mass stays
  * linear, matching the single-level derivation's character.
  */
object MakeScale {
  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dst = if (args.length > 1) args(1) else "/tmp/sf1"
    val copies = if (args.length > 2) args(2).toInt else 10
    val flipOffset = if (args.length > 3) args(3).toInt else 0
    require(copies - 1 + flipOffset < 64,
      s"flip dims exceed the 64-dim embeddings: copies=$copies flipOffset=$flipOffset")
    val spark = GraftSession()
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    def read(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    def write(df: DataFrame, t: String): Unit = {
      df.write.mode(SaveMode.Overwrite).parquet(s"$dst/$t.parquet")
      println(s"[makescale] $t: ${spark.read.parquet(s"$dst/$t.parquet").count()} rows")
    }
    def offset(df: DataFrame, keyCols: Map[String, Long]): DataFrame =
      (0 until copies).map { c =>
        keyCols.foldLeft(df) { case (d, (k, base)) =>
          d.withColumn(k, col(k) + lit(c * base)) }
      }.reduce(_.unionByName(_))
    def keyBase(df: DataFrame, k: String): Long =
      df.agg(max(col(k))).head.getLong(0) + 1

    // dimensions: straight copies
    Seq("region", "nation", "customer", "supplier", "part").foreach(t => write(read(t), t))

    val orders = read("orders")
    val okBase = keyBase(orders, "o_orderkey")
    write(offset(orders, Map("o_orderkey" -> okBase)), "orders")
    write(offset(read("lineitem"), Map("l_orderkey" -> okBase)), "lineitem")

    val events = read("events")
    write(offset(events, Map(
      "event_id" -> keyBase(events, "event_id"),
      "user_id" -> keyBase(events, "user_id"))), "events")

    val docs = read("documents")
    val docBase = keyBase(docs, "doc_id")
    val docCopies = (0 until copies).map { c =>
      val salted =
        if (c == 0) docs
        else docs.withColumn("text",
          concat_ws(" ", transform(split(col("text"), " "),
            w => concat(lit(s"c${c}_"), w))))
      salted.withColumn("doc_id", col("doc_id") + lit(c * docBase))
        .withColumn("n_chars", length(col("text")).cast("long"))
    }
    write(docCopies.reduce(_.unionByName(_)), "documents")

    val emb = read("embeddings")
    val vecBase = keyBase(emb, "vec_id")
    val embCopies = (0 until copies).map { c =>
      val perturbed =
        if (c == 0) emb
        else emb.withColumn("embedding",
          expr(s"transform(embedding, (x, i) -> IF(i = ${c - 1 + flipOffset}, CAST(-x AS FLOAT), x))"))
      perturbed.withColumn("vec_id", col("vec_id") + lit(c * vecBase))
    }
    write(embCopies.reduce(_.unionByName(_)), "embeddings")

    spark.stop()
  }
}
