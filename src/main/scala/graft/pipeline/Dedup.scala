package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Composable deduplication operators over arbitrary document DataFrames.
  * Same algorithms as the oracle-checked queries (PipelineQueries), exposed
  * as library functions: every step is a declarative plan a 1000-executor
  * cluster can run — explode-shaped shingling, partial-aggregable minhash
  * signatures, hash-joins on band signatures, pair-joins for verification.
  */
object Dedup {

  /** Exact dedup on a content hash: one row per distinct content with the
    * minimal id as keeper. Single shuffle on the hash. */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("sig"))
      .agg(min(col(idCol)).as("keeper"), count(lit(1)).as("n_docs"))

  /** Distinct word n-gram shingles per document: (id, shingle). Documents
    * are hash-repartitioned first — a small input file otherwise yields one
    * partition and the explode+hash work runs on a single core. */
  def shingles(docs: DataFrame, idCol: String, textCol: String, n: Int = ShingleN): DataFrame =
    shinglesRaw(docs, idCol, textCol, n).distinct()

  /** Shingles WITHOUT the per-document dedup (and its corpus-wide shuffle).
    * Correct wherever duplicates are harmless — minhash signatures take a
    * min, which duplicate shingles cannot change. `tagCol` (if set) rides
    * along as `__tag` — one small column on the exploded relation, so a
    * per-document attribute (e.g. mesh provenance) can flow through the
    * whole LSH chain instead of being re-joined onto the pair output. */
  private def shinglesRaw(
      docs: DataFrame, idCol: String, textCol: String, n: Int = ShingleN,
      tagCol: Option[String] = None): DataFrame =
    Partitioning.fanOut(docs, idCol).select(
      col(idCol).as("__id") +: tagCol.map(t => col(t).as("__tag")).toSeq :+
        explode(graft.functions.TextFunctions.word_ngrams(col(textCol), n)).as("shingle"): _*)

  /** THE shingle width of the banding/verification chain: one constant
    * consumed by the n-gram projections (band signatures, shingle sets,
    * the streaming twin's probe) AND the shingle_n gates — so the width
    * used to GENERATE candidates can never drift from the width used to
    * VERIFY them (a drift would be silently wrong Jaccard, the exact
    * failure the sidecar stamp guards against). */
  val ShingleN: Int = 3

  /** Largest prime below 2^31 — the permutation modulus. */
  val MinhashPrime: Long = graft.functions.MinhashSigs.P

  /** Row-count ceiling for the EXPLICIT broadcasts in the rolling-merge
    * path ([[mergeComponents]]' relabel frame, [[incrementalNearDupPairs]]'
    * candidate ids). An explicit `broadcast(...)` hint bypasses
    * autoBroadcastJoinThreshold entirely, so without a gate a
    * BACKFILL-sized call (re-process a month: millions of pairs) would
    * ship a multi-GB broadcast and kill the job at exactly the scale the
    * merge exists for. 1M rows of (long, long) is ~30 MB serialized —
    * comfortably inside any executor this engine targets, and the same
    * order as Spark's own runtime broadcast ceilings. PAST the bound the
    * join is left UNHINTED — a shuffle join at worst, and AQE still
    * converts it back to broadcast when runtime stats prove the side
    * small, so the gate can only ever remove the failure mode, never the
    * optimization. */
  val BroadcastMaxRows: Long = 1000000L

  /** Affine-permutation constants for hash j: a_j odd and < 2^14 so that
    * a_j * h stays < 2^62 for a 48-bit base hash (no BIGINT overflow in
    * either Spark or DuckDB, which checks), b_j < 2^16. Canonical
    * definition lives with the native MinhashSigs expression. */
  def mhA(j: Int): Long = graft.functions.MinhashSigs.a(j)
  def mhB(j: Int): Long = graft.functions.MinhashSigs.b(j)

  // MinHash math (Broder '97 one-hash universal family): one md5 per
  // SHINGLE, k affine permutations of its leading 48 bits — mh_j = min
  // over shingles of (a_j * h + b_j) mod (2^31 - 1). Computing k
  // independent md5s per shingle would cost k× the digest work for no
  // extra LSH power; 48-bit h keeps base-hash collisions negligible at
  // corpus scale (~10^12 shingles ⇒ ~2^-9 per-pair odds) while
  // a_j < 2^14 bounds a_j*h < 2^62 (no BIGINT overflow in Spark or
  // DuckDB). The production implementation is the native one-pass
  // graft.functions.MinhashSigs consumed by bandIndexRowLocal; the
  // DuckDB oracles re-derive the identical values from the SQL spelling.

  /** Candidate pairs sharing any band signature (da < db), generated by
    * grouping the band index into (band, bsig) buckets and exploding each
    * bucket's in-bucket pair combinations — ONE shuffle of the band index,
    * versus two for the equivalent self-join (which shuffles both sides),
    * and no materialization barrier since nothing is consumed twice.
    * Per-bucket work is quadratic in bucket size exactly like the
    * self-join (the same key lands on the same task either way); LSH
    * bucket sizes are small by construction. A `__tag` column on the index
    * comes out per side as (tag_a, tag_b). Output set is identical to
    * [[lshCandidates]] (DedupSpec asserts equality).
    *
    * `maxBucketSize` is the degenerate-signature valve for production
    * corpora: a band bucket orders of magnitude larger than any plausible
    * near-dup cluster means a pathological signature (boilerplate/empty
    * docs that exact dedup should have removed first), and its s² pair
    * work would dominate the job from one task. Capped buckets are SKIPPED
    * entirely — deliberately trading recall on exact-dup-like mega-groups
    * (which dd1 catches at 1/s² the cost) for bounded per-task work. */
  def lshCandidatesGrouped(
      bands: DataFrame, maxBucketSize: Option[Int] = None): DataFrame = {
    val hasTag = bands.columns.contains("__tag")
    val member =
      if (hasTag) struct(col("__id"), col("__tag")) else struct(col("__id"))
    // struct ordering compares fields left-to-right, so the sort is by id;
    // pairs (i < j) over the sorted array give each unordered pair once
    // with da < db already normalized
    val buckets = bands.groupBy(col("band"), col("bsig"))
      .agg(array_sort(collect_list(member)).as("__ms"))
      .where(size(col("__ms")) > 1 &&
        maxBucketSize.map(size(col("__ms")) <= _).getOrElse(lit(true)))
    val pairs = buckets.select(explode(expr(
      """flatten(transform(__ms, (x, i) ->
        |  transform(slice(__ms, i + 2, size(__ms) - i - 1),
        |    y -> struct(x AS pa, y AS pb))))""".stripMargin)).as("p"))
    val tags =
      if (hasTag)
        Seq(col("p.pa.__tag").as("tag_a"), col("p.pb.__tag").as("tag_b"))
      else Seq.empty[Column]
    pairs
      .select(col("p.pa.__id").as("da") +: col("p.pb.__id").as("db") +: tags: _*)
      .distinct()
  }

  /** Candidate pairs sharing any band signature (da < db) via band-index
    * self-join. Prefer [[lshCandidatesGrouped]] (one shuffle instead of
    * two, no need to materialize the index); this form remains for callers
    * that already hold a materialized index on both sides. A `__tag` column
    * on the index comes out per side as (tag_a, tag_b). */
  def lshCandidates(bands: DataFrame): DataFrame = {
    val a = bands.as("a"); val b = bands.as("b")
    val tags =
      if (bands.columns.contains("__tag"))
        Seq(col("a.__tag").as("tag_a"), col("b.__tag").as("tag_b"))
      else Seq.empty[Column]
    a.join(b,
        col("a.band") === col("b.band") && col("a.bsig") === col("b.bsig") &&
          col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("da") +: col("b.__id").as("db") +: tags: _*)
      .distinct()
  }

  /** Exact Jaccard for candidate pairs over per-doc shingle-SET arrays
    * (`__id`, `__sh`): two id-equality joins bring both sets onto the pair
    * row, then intersection/union sizes are row-local array ops. Each
    * array is bounded by its document's length — the same bound as the
    * text column itself — so this carries no more per-row weight than the
    * corpus scan, while replacing the shingle-equality shuffle join (and
    * the three-way reuse of the exploded shingle relation) with one
    * aggregation and two hash joins. */
  def jaccardVerifySets(
      shSets: DataFrame, cand: DataFrame, threshold: Double): DataFrame = {
    // columns beyond the pair ids (e.g. lshCandidates' tag_a/tag_b) pass
    // through to the verified output
    val extras = cand.columns.filterNot(Set("da", "db")).toSeq.map(col)
    cand
      .join(shSets.as("sa"), col("sa.__id") === col("da"))
      .join(shSets.as("sb"), col("sb.__id") === col("db"))
      .select(Seq(col("da").as("doc_a"), col("db").as("doc_b")) ++ extras ++ Seq(
        size(array_intersect(col("sa.__sh"), col("sb.__sh"))).as("__i"),
        size(col("sa.__sh")).as("__na"), size(col("sb.__sh")).as("__nb")): _*)
      .select(Seq(col("doc_a"), col("doc_b")) ++ extras :+
        (col("__i").cast("double") / (col("__na") + col("__nb") - col("__i")))
          .as("jaccard"): _*)
      .where(col("jaccard") >= threshold)
  }

  /** MinHash+LSH near-duplicate pairs end-to-end, FUSED single-shuffle
    * form: shingle set, minhash signature, and band digests are all
    * row-local array expressions (no per-shingle explode, no per-doc
    * groupBy), the ONE corpus shuffle is the (band, bsig) bucket groupBy —
    * which carries each document's shingle set into the bucket row — and
    * exact-Jaccard verification is row-local array arithmetic on the
    * in-bucket pairs. Candidate generation and verification run in the
    * SAME job: no materialization barrier, no second pass over the corpus.
    *
    * Shuffle volume is `bands` copies of the corpus's distinct-shingle
    * sets. When near-dup rates are low and the corpus is huge, the staged
    * form ([[minhashLshPairsStaged]]) — which shuffles only the slim band
    * index and re-reads text for just the candidate documents — moves
    * fewer bytes; the fused form wins wherever per-job overhead or the
    * extra corpus passes dominate, and is the default.
    */
  def minhashLshPairs(
      docs: DataFrame, idCol: String, textCol: String,
      k: Int = 12, bands: Int = 4, threshold: Double = 0.8,
      fastHash: Boolean = false, tagCol: Option[String] = None,
      maxBucketSize: Option[Int] = None): DataFrame = {
    require(k % bands == 0, "k must be divisible by bands")
    val rows = k / bands
    val tagged = tagCol.isDefined
    val tagSel = if (tagged) Seq(col("__tag")) else Seq.empty[Column]
    // row-local shingle SET (array_distinct before anything explodes) —
    // exactly the set the staged form aggregates with collect_set. The
    // fan-out sits UNDER the projection (docs first, shingling after) so
    // the heavy text work runs cluster-wide even over a one-split file;
    // docs with no shingles are dropped at the band explode below rather
    // than by a filter here — a filter on __sh would be predicate-pushed
    // beneath the exchange, cloning the shingling into the narrow scan
    // stage.
    val base = Partitioning.fanOut(docs, idCol).select(
      col(idCol).as("__id") +: tagCol.map(t => col(t).as("__tag")).toSeq :+
        array_distinct(
          graft.functions.TextFunctions.word_ngrams(col(textCol), ShingleN)).as("__sh"): _*)
    // one base hash per shingle, k cheap affine min-passes — the same
    // one-digest universal-hash family as minhashSignatures. The md5
    // family runs on the native one-pass MinhashSigs expression (the
    // lambda spelling is interpreted and allocation-bound — it scaled
    // NEGATIVELY with local parallelism); fastHash keeps the lambda
    // spelling since xxhash64 is only reachable as a SQL function.
    graft.functions.HashFunctions.register(docs.sparkSession)
    val sigs =
      if (fastHash) {
        val hs = base.withColumn("__hs",
          expr("transform(__sh, s -> xxhash64(s) & 281474976710655)"))
        hs.select(Seq(col("__id")) ++ tagSel ++ Seq(col("__sh"),
          array((0 until k).map(j => array_min(expr(
            s"transform(__hs, h -> (h * ${mhA(j)} + ${mhB(j)}) % $MinhashPrime)"))): _*)
            .as("__mh")): _*)
      } else base.select(Seq(col("__id")) ++ tagSel ++ Seq(col("__sh"),
        graft.functions.HashFunctions.minhash_sigs(col("__sh"), k).as("__mh")): _*)
    val bandCol = (b: Int) =>
      md5(concat_ws(":", lit(b.toString) +:
        (0 until rows).map(r =>
          element_at(col("__mh"), b * rows + r + 1).cast("string")): _*))
    // the when-guard drops zero-shingle docs (explode of NULL emits no
    // rows) — same vanishing as the staged form's aggregation, without a
    // pushable predicate that would drag shingling below the exchange
    val banded = sigs.select(Seq(col("__id")) ++ tagSel ++ Seq(col("__sh")) :+
        explode(when(size(col("__sh")) > 0,
          array((0 until bands).map(b =>
            struct(lit(b).as("band"), bandCol(b).as("bsig"))): _*))).as("bb"): _*)
      .select(Seq(col("__id")) ++ tagSel ++
        Seq(col("__sh"), col("bb.band"), col("bb.bsig")): _*)
    // struct ordering compares fields left-to-right, so the sort is by id
    // (ids are unique within a bucket — each doc contributes a band once)
    val member = struct(Seq(col("__id")) ++ tagSel :+ col("__sh"): _*)
    val buckets = banded.groupBy(col("band"), col("bsig"))
      .agg(array_sort(collect_list(member)).as("__ms"))
      .where(size(col("__ms")) > 1 &&
        maxBucketSize.map(size(col("__ms")) <= _).getOrElse(lit(true)))
    val pairStructs = buckets.select(explode(expr(
      """flatten(transform(__ms, (x, i) ->
        |  transform(slice(__ms, i + 2, size(__ms) - i - 1),
        |    y -> struct(x AS pa, y AS pb))))""".stripMargin)).as("p"))
    val tagOut =
      if (tagged) Seq(col("p.pa.__tag").as("tag_a"), col("p.pb.__tag").as("tag_b"))
      else Seq.empty[Column]
    val tagNames = if (tagged) Seq(col("tag_a"), col("tag_b")) else Seq.empty[Column]
    // a pair surfaces once per shared bucket; jaccard is a pure function of
    // the pair, so the post-filter distinct collapses the copies (the
    // staged form dedupes candidates pre-verify — same output set, and the
    // distinct here shuffles only VERIFIED pairs)
    pairStructs
      .select(Seq(col("p.pa.__id").as("doc_a"), col("p.pb.__id").as("doc_b")) ++
        tagOut ++ Seq(
          size(array_intersect(col("p.pa.__sh"), col("p.pb.__sh"))).as("__i"),
          size(col("p.pa.__sh")).as("__na"), size(col("p.pb.__sh")).as("__nb")): _*)
      .select(Seq(col("doc_a"), col("doc_b")) ++ tagNames :+
        (col("__i").cast("double") / (col("__na") + col("__nb") - col("__i")))
          .as("jaccard"): _*)
      .where(col("jaccard") >= threshold)
      .withColumn("jaccard", round(col("jaccard"), 4))
      .distinct()
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** MinHash+LSH near-duplicate pairs, STAGED two-phase form: signature
    * derivation streams the RAW (duplicate-bearing) shingle explosion
    * straight into the per-document partial aggregation — min is
    * duplicate-insensitive, so the corpus-wide `distinct` shuffle (and the
    * full-corpus shingle cache it fed) is unnecessary. Shingle SETS are
    * aggregated only for the candidate documents the verification
    * actually touches, and consumed once (no intermediate cache).
    *
    * Same output as [[minhashLshPairs]] (DedupSpec asserts equality).
    * Prefer this form when the corpus is huge relative to its near-dup
    * rate: the only corpus-wide shuffle is the slim (id, band, bsig)
    * index, at the price of a candidate-id materialization barrier and a
    * second corpus scan for verification.
    */
  def minhashLshPairsStaged(
      docs: DataFrame, idCol: String, textCol: String,
      k: Int = 12, bands: Int = 4, threshold: Double = 0.8,
      fastHash: Boolean = false, tagCol: Option[String] = None): DataFrame = {
    require(k % bands == 0, "k must be divisible by bands")
    // grouped candidate generation consumes the band index exactly once
    // (groupBy buckets → in-bucket pair explosion), so the shingle+minhash
    // chain needs no materialization barrier and the index is shuffled
    // once — the self-join form shuffled it twice and forced an eager
    // checkpoint to avoid running the chain once per side. `tagCol` (a
    // per-document attribute, e.g. mesh provenance) rides the chain as
    // `__tag` and emerges as (tag_a, tag_b) on each pair — no post-hoc
    // re-join against the corpus.
    val bandIdx = bandIndexRowLocal(docs, idCol, textCol, k, bands, fastHash, tagCol)
    // candidates are tiny (pair ids only) and consumed twice: the id
    // broadcast below and the verification join. EAGER checkpoint, on
    // purpose: with a lazy one the broadcast build and the verify join
    // race to materialize it and can each recompute the band-index
    // aggregation (measured slower); eager guarantees the chain runs once
    // before either consumer plans
    val cand = lshCandidatesGrouped(bandIdx).localCheckpoint()
    // verification touches only the candidate docs' shingles: semi-filter
    // the documents by the (tiny, broadcast) candidate id list and
    // re-shingle just those — at scale this is the difference between
    // shuffling the whole corpus's shingles and shuffling ~|candidates| docs
    val candIds = cand.select(col("da").as("__cid"))
      .union(cand.select(col("db").as("__cid"))).distinct()
    val candDocs = docs.join(
      broadcast(candIds), col(idCol) === col("__cid"), "left_semi")
    val shSets = shinglesRaw(candDocs, idCol, textCol)
      .groupBy(col("__id")).agg(collect_set(col("shingle")).as("__sh"))
    // NOT checkpointed: every intermediate above is consumed exactly once,
    // so the caller's first action computes the verify tail in ONE job
    // (a trailing checkpoint would spend a whole extra job materializing
    // the tiny pair list). Callers that consume the output repeatedly
    // cache it themselves (dd7's pair index does).
    jaccardVerifySets(shSets, cand, threshold)
      .withColumn("jaccard", round(col("jaccard"), 4))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Passage-level exact dedup (library form of pd1 — the CCNet/RefinedWeb
    * paragraph-dedup shape on fixed `window`-word passages): drop every
    * passage seen in more than `maxDocs` distinct documents, reassemble
    * the survivors in order. Returns (doc_id, n_passages, n_dup_passages,
    * cleaned_text). One corpus-wide state: the passage-frequency table,
    * partitioned by passage hash. */
  def passageDedup(
      docs: DataFrame, idCol: String, textCol: String,
      window: Int = 10, maxDocs: Int = 1): DataFrame = {
    val seg = docs.select(col(idCol).as("doc_id"),
      posexplode(expr(
        s"""transform(sequence(0, CAST((size(split($textCol, ' ')) - 1) div $window AS INT)),
           |  i -> concat_ws(' ', slice(split($textCol, ' '), i * $window + 1, $window)))"""
          .stripMargin)).as(Seq("seg_idx", "passage")))
    val freq = seg.groupBy(md5(col("passage")).as("ph"))
      .agg(countDistinct(col("doc_id")).as("nd"))
    seg.join(freq, md5(col("passage")) === col("ph"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_passages"),
        sum(when(col("nd") > maxDocs, 1L).otherwise(0L)).as("n_dup_passages"),
        concat_ws(" ", transform(
          array_sort(collect_list(
            when(col("nd") <= maxDocs, struct(col("seg_idx"), col("passage"))))),
          x => x.getField("passage"))).as("cleaned_text"))
  }

  /** Identifies the signature scheme a band index was built with. Bumped
    * whenever the signature derivation changes incompatibly (v2 = one-md5 /
    * xxhash64 48-bit base hash + affine permutation family + ':'-joined
    * band digests; v1 was the retired per-permutation-md5 scheme).
    * Signatures from different schemes never collide, so an unversioned
    * mismatch would silently find zero candidates — hence the stamp. */
  def hashFamily(fastHash: Boolean): String =
    if (fastHash) "xxh48-affine-v2" else "md5-48-affine-v2"

  /** The reusable LSH band index for a corpus: (id, band, bsig,
    * hash_family). In production this is stored state, written once per
    * corpus build and appended at each ingest ([[appendToBandIndex]]) —
    * the input to [[incrementalNearDupPairs]], which refuses an index
    * whose `hash_family` stamp does not match its own parameters. The
    * stamp rides BOTH as a data column and as schema metadata
    * ([[IndexStamp]]), so even an empty index stays verifiable. */
  def bandIndex(
      docs: DataFrame, idCol: String, textCol: String,
      k: Int = 12, bands: Int = 4, fastHash: Boolean = false): DataFrame = {
    require(k % bands == 0, "k must be divisible by bands")
    val fam = hashFamily(fastHash)
    bandIndexRowLocal(docs, idCol, textCol, k, bands, fastHash, tagCol = None)
      .select(col("__id"), col("band"), col("bsig"),
        lit(fam).as("hash_family", IndexStamp.string("hash_family", fam)),
        lit(k).as("mh_k", IndexStamp.long("mh_k", k.toLong)),
        lit(bands).as("mh_bands", IndexStamp.long("mh_bands", bands.toLong)))
  }

  /** The loud scheme gate every band-index probe and merge runs: the hash
    * FAMILY and the banding GEOMETRY (k, bands) — band digests computed
    * over r-row slices of a k-long signature never collide with another
    * (k, bands) scheme even within the same hash family, so an
    * unvalidated merge would silently poison the stored index (the phash
    * index stamps ph_bits/ph_bands for exactly this reason). Empty-index
    * safe via schema metadata ([[IndexStamp]]). */
  private[graft] def requireBandScheme(
      index: DataFrame, k: Int, bands: Int, fastHash: Boolean): Unit = {
    IndexStamp.require(index, "hash_family", hashFamily(fastHash), "band index")
    IndexStamp.require(index, "mh_k", k.toString, "band index")
    IndexStamp.require(index, "mh_bands", bands.toString, "band index")
  }

  /** Fold a NEW batch's band rows into a stored band index — the
    * generation merge a rolling pipeline needs: band rows are row-local
    * and append-only (a document's rows depend only on its own text), so
    * the merged index is bit-identical to rebuilding over corpus ∪ batch
    * (DedupSpec pins build-all-at-once ≡ N sequential appends) at the
    * cost of banding ONLY the batch — never a corpus re-band at
    * generation swap. The scheme stamp is validated first (empty-index
    * safe via schema metadata) and restamped on the output. Batch ids
    * must be disjoint from the indexed corpus's (the
    * [[incrementalNearDupPairs]] convention). */
  def appendToBandIndex(
      index: DataFrame, batch: DataFrame, idCol: String, textCol: String,
      k: Int = 12, bands: Int = 4, fastHash: Boolean = false): DataFrame = {
    val fam = hashFamily(fastHash)
    requireBandScheme(index, k, bands, fastHash)
    index.select(col("__id"), col("band"), col("bsig"), col("hash_family"),
        col("mh_k"), col("mh_bands"))
      .union(bandIndex(batch, idCol, textCol, k, bands, fastHash))
      .select(col("__id"), col("band"), col("bsig"),
        col("hash_family").as("hash_family", IndexStamp.string("hash_family", fam)),
        col("mh_k").as("mh_k", IndexStamp.long("mh_k", k.toLong)),
        col("mh_bands").as("mh_bands", IndexStamp.long("mh_bands", bands.toLong)))
  }

  /** The batch's band rows alone, scheme-validated against the target
    * index — the APPEND-FILES generation merge: band rows are append-only,
    * so `bandIndexDeltaFor(stored, batch, ...).write.mode("append")` INTO
    * the stored index's table IS the whole merge, with IO proportional to
    * the BATCH (SCALE.md round-14 "Generation merge" measures the
    * gap; [[appendToBandIndex]]'s union form rewrites the corpus and
    * exists for one-shot compaction or
    * in-memory merged reads). The validation is the point of going
    * through this method instead of calling [[bandIndex]] directly: an
    * unvalidated append under a scheme mismatch would poison the stored
    * index with rows that can never collide with the rest. */
  def bandIndexDeltaFor(
      index: DataFrame, batch: DataFrame, idCol: String, textCol: String,
      k: Int = 12, bands: Int = 4, fastHash: Boolean = false): DataFrame = {
    requireBandScheme(index, k, bands, fastHash)
    bandIndex(batch, idCol, textCol, k, bands, fastHash)
  }

  /** Per-document shingle-SET sidecar (__id, __sh) — stored state written
    * BESIDE the band index, so that (a) ingest verification
    * ([[incrementalNearDupPairs]] with `storedShingles`) reads stored
    * sets instead of re-reading candidate documents' text, and (b) the
    * streaming twin ([[graft.streaming.NearDupStream]]) loads serving
    * state at stream (re)start instead of re-shingling the whole corpus.
    * Row-local (array_distinct over the n-gram projection — the same set
    * the staged verifier aggregates with collect_set; Jaccard is
    * order-insensitive) and stamped with the shingle width like the band
    * index's hash_family: a set built at a different `n` would yield
    * silently WRONG Jaccard values, so consumers refuse it loudly. */
  def shingleSets(
      docs: DataFrame, idCol: String, textCol: String, n: Int = ShingleN): DataFrame =
    Partitioning.fanOut(docs, idCol).select(
      col(idCol).as("__id"),
      array_distinct(graft.functions.TextFunctions.word_ngrams(col(textCol), n))
        .as("__sh"),
      lit(n).as("shingle_n", IndexStamp.long("shingle_n", n.toLong)))

  /** [[shingleSets]] in RANGE LAYOUT by id — the form to WRITE as the
    * stored sidecar: verification is a point lookup of ~|candidates| ids
    * out of a corpus-sized store, and pruning (parquet row-group stats,
    * in-memory cache batch stats) only fires when ids are range-clustered
    * per file/batch — a hash-scattered layout makes every id filter scan
    * the whole store, which costs MORE than re-shingling the few
    * candidate docs (measured at sf10: SCALE.md round-14 notes). The range
    * shuffle is paid once per corpus build; every ingest probes. Append
    * batches keep their own per-file ranges (typically disjoint from the
    * corpus's), which prune the same way. */
  def shingleSetStore(
      docs: DataFrame, idCol: String, textCol: String, n: Int = ShingleN): DataFrame =
    shingleSets(docs, idCol, textCol, n)
      .repartitionByRange(col("__id"))
      .sortWithinPartitions(col("__id"))

  /** Fold a new batch's shingle sets into the stored sidecar — the
    * companion of [[appendToBandIndex]] (sets are per-document and
    * append-only). */
  def appendToShingleSets(
      store: DataFrame, batch: DataFrame, idCol: String, textCol: String,
      n: Int = ShingleN): DataFrame = {
    IndexStamp.require(store, "shingle_n", n.toString, "shingle-set sidecar")
    store.select(col("__id"), col("__sh"), col("shingle_n"))
      .union(shingleSets(batch, idCol, textCol, n))
      .select(col("__id"), col("__sh"),
        col("shingle_n").as("shingle_n", IndexStamp.long("shingle_n", n.toLong)))
  }

  /** The batch's shingle sets alone, scheme-validated against the target
    * sidecar — the append-files merge form ([[bandIndexDeltaFor]]'s
    * companion): write with mode("append") into the stored sidecar's
    * table for batch-proportional IO. */
  def shingleSetsDeltaFor(
      store: DataFrame, batch: DataFrame, idCol: String, textCol: String,
      n: Int = ShingleN): DataFrame = {
    IndexStamp.require(store, "shingle_n", n.toString, "shingle-set sidecar")
    // delta files carry the same range layout as the store, so appended
    // batches prune under id filters exactly like the base generation
    shingleSetStore(batch, idCol, textCol, n)
  }

  /** The slim (id[, __tag], band, bsig) band index computed ROW-LOCALLY:
    * one projection from text to k minhash minima (min over the raw
    * multiset == min over the distinct set, so there is no distinct, no
    * per-shingle explode, and no per-doc aggregation — the corpus's only
    * shuffle stays the consumer's bucket groupBy). The md5 family runs on
    * the native one-pass [[graft.functions.MinhashSigs]]; values are
    * identical to the exploded minhashSignatures spelling (DedupSpec's
    * staged ≡ fused assertion covers the whole chain). Zero-shingle docs
    * drop at the when-guarded band explode — a filter here would be
    * predicate-pushed beneath the fan-out exchange, dragging the whole
    * signature projection into the narrow scan stage. */
  private def bandIndexRowLocal(
      docs: DataFrame, idCol: String, textCol: String,
      k: Int, bands: Int, fastHash: Boolean,
      tagCol: Option[String]): DataFrame =
    bandProject(Partitioning.fanOut(docs, idCol), idCol, textCol,
      k, bands, fastHash, tagCol)

  /** The band projection itself, over an ALREADY-DISTRIBUTED frame — the
    * batch path fans out first ([[bandIndexRowLocal]]); the streaming
    * ingest twin ([[graft.streaming.NearDupStream]]) feeds its micro-batch
    * frame directly (a stream's parallelism comes from its source, and a
    * repartition would be a per-batch shuffle). ONE derivation shared by
    * both so an index written by either side always matches the other's
    * probes. */
  private[graft] def bandProject(
      docs: DataFrame, idCol: String, textCol: String,
      k: Int, bands: Int, fastHash: Boolean,
      tagCol: Option[String]): DataFrame = {
    val rows = k / bands
    val tagSel = tagCol.map(_ => col("__tag")).toSeq
    graft.functions.HashFunctions.register(docs.sparkSession)
    val grams = graft.functions.TextFunctions.word_ngrams(col(textCol), ShingleN)
    val mh =
      if (fastHash) {
        val hs = transform(grams,
          s => xxhash64(s).bitwiseAND(lit(281474976710655L)))
        array((0 until k).map(j => array_min(transform(hs,
          h => (h * lit(mhA(j)) + lit(mhB(j))) % lit(MinhashPrime)))): _*)
      } else graft.functions.HashFunctions.minhash_sigs(grams, k)
    val sigs = docs.select(
      col(idCol).as("__id") +: tagCol.map(t => col(t).as("__tag")).toSeq :+
        mh.as("__mh"): _*)
    val bandCol = (b: Int) =>
      md5(concat_ws(":", lit(b.toString) +:
        (0 until rows).map(r =>
          element_at(col("__mh"), b * rows + r + 1).cast("string")): _*))
    sigs.select(Seq(col("__id")) ++ tagSel :+
        explode(when(element_at(col("__mh"), 1).isNotNull,
          array((0 until bands).map(b =>
            struct(lit(b).as("band"), bandCol(b).as("bsig"))): _*))).as("bb"): _*)
      .select(Seq(col("__id")) ++ tagSel :+ col("bb.band") :+ col("bb.bsig"): _*)
  }

  /** Incremental ingest dedup: near-dup pairs between a NEW batch and an
    * already-indexed corpus (plus batch-internal pairs) — the production
    * shape where the corpus's band index is stored state and ONLY the
    * batch is shingled/hashed at ingest time. Corpus-vs-corpus pairs were
    * found when the corpus was built and are not recomputed. Batch and
    * corpus ids must be disjoint.
    *
    * Candidate verification:
    *  - with `storedShingles` (the [[shingleSets]] sidecar written beside
    *    the index — the production shape): corpus-side sets come from the
    *    STORE, so corpus TEXT is never re-read at ingest; only the
    *    batch's candidate docs shingle (row-locally, no aggregation
    *    shuffle). Per-ingest cost then tracks the batch like the simhash
    *    and phash ingests, whose stored state already carries everything
    *    verification needs (SCALE.md's dd11-vs-dd12 gap was exactly these
    *    candidate text re-reads).
    *  - without it, verification re-reads original text for just the
    *    candidate docs (both sides) — correct, but each ingest pays
    *    shingling for the corpus-side candidates the store would have
    *    held.
    * Both paths produce identical pairs (DedupSpec pins equality).
    *
    * `inListMaxIds` bounds the driver-side candidate-id collect (the
    * In-filter that prunes the stored sidecar); `broadcastMaxIds`
    * (default [[BroadcastMaxRows]]) bounds the explicit candidate
    * broadcasts. Past the broadcast bound — a backfill-sized call —
    * every candidate join runs UNHINTED (shuffle at worst, AQE
    * re-broadcasts if runtime stats allow), so no input size can turn
    * the hint into a driver/executor OOM. Results are identical on
    * every side of either bound (spec-pinned). */
  def incrementalNearDupPairs(
      batch: DataFrame, corpus: DataFrame, index: DataFrame,
      idCol: String, textCol: String,
      k: Int = 12, bands: Int = 4, threshold: Double = 0.8,
      fastHash: Boolean = false,
      storedShingles: Option[DataFrame] = None,
      inListMaxIds: Long = 100000L,
      broadcastMaxIds: Long = BroadcastMaxRows): DataFrame = {
    // the stored index MUST carry the signature scheme it was built with
    // (hash family AND banding geometry): signatures from different
    // schemes never collide, so a silent mismatch (wrong fastHash/k/bands,
    // or an index predating a scheme change) would find zero candidates
    // with no error. Fail loudly instead — including over an EMPTY index,
    // via the schema-metadata stamp (IndexStamp).
    requireBandScheme(index, k, bands, fastHash)
    // a mismatched shingle width would produce silently WRONG Jaccard
    // values (not zero candidates) — the sidecar's stamp is checked at
    // the same gate
    storedShingles.foreach(
      IndexStamp.require(_, "shingle_n", ShingleN.toString, "shingle-set sidecar"))
    // eager localCheckpoint: the batch's band index feeds BOTH sides of the
    // candidate join (directly and through the union), and a lazy plan
    // would shingle+hash the batch once per side; blocks are
    // ContextCleaner-managed, so no unpersist bookkeeping
    val bi = bandIndex(batch, idCol, textCol, k, bands, fastHash)
      .select(col("__id"), col("band"), col("bsig")).localCheckpoint()
    // candidates: batch vs (stored index ∪ batch); normalize pair order
    val all = index.select(col("__id"), col("band"), col("bsig")).union(bi)
    val cand = bi.as("a").join(all.as("b"),
        col("a.band") === col("b.band") && col("a.bsig") === col("b.bsig") &&
          col("a.__id") =!= col("b.__id"))
      .select(least(col("a.__id"), col("b.__id")).as("da"),
        greatest(col("a.__id"), col("b.__id")).as("db"))
      .distinct()
      .localCheckpoint()
    // Candidate-id sizing, two tiers of cheapness: |candIds| <= 2·|pairs|,
    // and the pair count is a block scan over the checkpoint, so a typical
    // ingest proves itself under the In-list bound with ONE count — and
    // then the endpoint set materializes ON THE DRIVER from the same
    // checkpoint blocks (<= inListMaxIds values, ~16 B each): every
    // candidate filter below becomes an In-filter — the only form that
    // reaches parquet row-group stats — with no distinct-union shuffle, no
    // broadcast-exchange build, and no per-consumer recompute of the id
    // set (the former shape ran the distinct union once per join consumer
    // even under the bound). Only when the bound can't prove it (2·pairs
    // over the limit — which includes CLUSTERED graphs whose distinct ids
    // are far fewer than their pairs) is the id set materialized
    // distributed (eager checkpoint) and counted exactly, so the
    // measured-faster In-filter path is never abandoned on an
    // over-approximation. Gates that follow:
    //  - ids <= inListMaxIds: driver In-list (row-group pruning, zero
    //    joins);
    //  - ids <= BroadcastMaxRows: explicit broadcast semi joins;
    //  - past that — a backfill-sized ingest — joins run UNHINTED:
    //    shuffle at worst, AQE re-broadcasts if runtime stats allow,
    //    and no input size can turn the hint into an OOM.
    val nPairs = cand.count()
    def distinctIdFrame = cand.select(col("da").as("__cid"))
      .union(cand.select(col("db").as("__cid"))).distinct()
    // the past-bound tier carries its already-computed count with the
    // frame: the gate count and the broadcast decision read the SAME
    // number, instead of paying one redundant count job per backfill
    // ingest (round-16 ADVICE fix)
    val (driverIds: Option[Seq[Any]], candIdFrame: Option[(DataFrame, Long)]) =
      if (2 * nPairs <= inListMaxIds)
        (Some(cand.collect().iterator
          .flatMap(r => Iterator(r.get(0), r.get(1))).toSeq.distinct), None)
      else {
        val ck = distinctIdFrame.localCheckpoint()
        val n = ck.count()
        if (n <= inListMaxIds)
          (Some(ck.collect().iterator.map(_.get(0)).toSeq), None)
        else (None, Some((ck, n)))
      }
    def filterCand(df: DataFrame, key: Column): DataFrame = driverIds match {
      case Some(ids) => df.where(key.isInCollection(ids))
      case None =>
        val (ck, nCandIds) = candIdFrame.get
        df.join(
          if (nCandIds <= broadcastMaxIds) broadcast(ck) else ck,
          key === col("__cid"), "left_semi")
    }
    val shSets = storedShingles match {
      case Some(store) =>
        // corpus-side sets are a POINT LOOKUP of the candidate ids out of
        // the store. Up to the bound they go into the scan as an
        // In-filter — the ONLY form that reaches parquet row-group
        // stats / cache batch stats and prunes a range-laid-out store
        // ([[shingleSetStore]]) down to the touched ranges (a broadcast
        // semi join scans the whole store: measured SLOWER than
        // re-shingling the candidates at sf10). Past the bound, the
        // (unhinted) semi join — correctness never depends on the list
        // fitting. Batch-side sets shingle row-locally, and ONLY for the
        // batch's candidate docs (array_distinct == collect_set as a
        // set; Jaccard is order-insensitive).
        val corpSets = filterCand(store.select(col("__id"), col("__sh")), col("__id"))
        val batchCand = filterCand(batch, col(idCol))
        // eager checkpoint: jaccardVerifySets consumes the set frame TWICE
        // (one id join per pair side) — without it the store would scan
        // once per side; the checkpointed frame is candidate-sized
        val sets = corpSets.union(
            shingleSets(batchCand, idCol, textCol).select(col("__id"), col("__sh")))
          .localCheckpoint()
        // COVERAGE gate: the width stamp above proves the sidecar was
        // built RIGHT, not that it was built COMPLETELY — a store missing
        // corpus docs (the band index was delta-appended but the matching
        // shingleSetsDeltaFor append forgotten) would silently DROP every
        // pair of the missing candidates at the verify inner join, the
        // exact silent-wrongness class every other stored-state gate
        // here turns loud. Driver-tier ingests compare DISTINCT ids over
        // the checkpointed set frame (set ids are a subset of the
        // candidate ids by construction, batch and corpus ids disjoint —
        // distinct-count equality == full coverage); past the bound, one
        // candidate-sized anti-join. BOTH tiers run a raw-count check in
        // the same ONE aggregation that turns DUPLICATE sidecar rows loud:
        // a duplicated __id (a generation delta retried twice) would
        // silently MULTIPLY its pairs at the verify join, and under the
        // retired raw-count compare a duplicate could exactly offset a
        // missing doc and pass.
        val cov = sets
          .agg(count(lit(1)).as("n"), countDistinct(col("__id")).as("nd"))
          .head()
        driverIds match {
          case Some(ids) =>
            if (cov.getLong(1) != ids.size) {
              val covered = sets.select(col("__id")).collect().map(_.get(0)).toSet
              val miss = ids.filterNot(covered)
              throw new IllegalStateException(
                "shingle-set sidecar does not cover every candidate document " +
                  "(e.g. " + miss.headOption.getOrElse("?") + ") — the band " +
                  "index and the sidecar are out of sync (a delta append " +
                  "folded the index but not the sidecar?); re-append the " +
                  "missing generation or drop storedShingles to verify from text")
            }
          case None =>
            val missing = candIdFrame.get._1
              .join(sets, col("__cid") === col("__id"), "left_anti")
            if (!missing.isEmpty)
              throw new IllegalStateException(
                "shingle-set sidecar does not cover every candidate document " +
                  "(e.g. " + missing.head.get(0) + ") — the band index and the " +
                  "sidecar are out of sync (a delta append folded the index but " +
                  "not the sidecar?); re-append the missing generation or drop " +
                  "storedShingles to verify from text")
        }
        if (cov.getLong(0) != cov.getLong(1))
          throw new IllegalStateException(
            "shingle-set sidecar holds DUPLICATE rows for candidate " +
              "document(s) (" + cov.getLong(0) + " rows over " +
              cov.getLong(1) + " distinct ids) — a generation delta " +
              "appended twice? Verification would silently multiply the " +
              "duplicated docs' pairs; compact the sidecar to one row " +
              "per doc")
        sets
      case None =>
        val allDocs = corpus.select(col(idCol), col(textCol))
          .union(batch.select(col(idCol), col(textCol)))
        val candDocs = filterCand(allDocs, col(idCol))
        // eager checkpoint, same reason as the stored path above:
        // jaccardVerifySets consumes the set frame TWICE (one id join per
        // pair side), and exchange reuse does NOT collapse the two copies
        // under AQE — the pre-checkpoint plan ran the candidate semi-join
        // + text scan + shingle aggregation once per side (a 64-task
        // doubled stage in the dd11 profile). The checkpointed frame is
        // candidate-sized.
        shinglesRaw(candDocs, idCol, textCol)
          .groupBy(col("__id")).agg(collect_set(col("shingle")).as("__sh"))
          .localCheckpoint()
    }
    // NOT checkpointed (see minhashLshPairs): the ingest's consumer writes
    // or caches the verified pair list itself; intermediates above are
    // consumed once, so the first action runs the tail in one job
    jaccardVerifySets(shSets, cand, threshold)
      .withColumn("jaccard", round(col("jaccard"), 4))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Connected components over an undirected near-dup pair list — the
    * step that turns pairwise matches into dedup decisions (cluster id =
    * min doc id in the component; keep that doc, drop the rest).
    *
    * Two tiers, size-gated like every other bounded-state decision here:
    *  - pair lists up to `driverMaxEdges` (counted on the checkpointed
    *    edge frame — a block scan, not a recompute) run UNION-FIND on the
    *    driver: ≤ [[BroadcastMaxRows]] (long, long) rows is the same
    *    memory budget the relabel broadcast already commits the driver
    *    to, union-by-min-root makes every node's final root exactly the
    *    min doc id of its component (the min-label fixpoint), and the
    *    whole decision costs ONE collect instead of
    *    diameter × (join + aggregate + checkpoint + convergence-probe)
    *    jobs — measured 49 of dd14's 76 jobs before this tier existed.
    *  - past the bound (a corpus-scale pair list — the 100 TB case),
    *    iterative one-hop min-label propagation exactly as before: each
    *    round is one edges⋈labels hash join + per-node min aggregation,
    *    so rounds = component diameter (near-dup clusters are shallow;
    *    `maxIters` guards pathological chains and the method THROWS
    *    rather than return unconverged labels). No driver-side graph
    *    state — labels live as a checkpointed DataFrame; convergence
    *    rides a `__chg` flag computed WITH the round's labels (the old
    *    shape re-joined next-vs-previous labels, a whole extra join job
    *    per round) and probed by isEmpty over the round's checkpoint
    *    blocks.
    * Both tiers return identical labelings (PipelineSpec pins equality
    * on a multi-round chain graph). */
  def connectedComponents(
      pairs: DataFrame, aCol: String = "doc_a", bCol: String = "doc_b",
      maxIters: Int = 20, driverMaxEdges: Long = BroadcastMaxRows): DataFrame = {
    // localCheckpoint (eager), NOT persist: persist caches the data but the
    // logical plan still nests per round, and Catalyst re-analyzes the
    // whole growing lineage on every action — iteration cost inflates even
    // on tiny label sets. Checkpointing truncates the lineage so each
    // round plans against a flat scan. Checkpointing the SINGLE-direction
    // frame (doubling after, from checkpoint blocks) also means the pair
    // subtree — for mergeComponents, the label-edge joins — computes once,
    // where checkpointing the doubled union ran it once per side. (On a
    // fault-tolerant production run, swap for checkpoint(dir) —
    // localCheckpoint trades lineage recovery for speed.)
    val e1 = pairs
      .select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b"))
      .localCheckpoint()
    val spark = pairs.sparkSession
    import spark.implicits._
    // NULL endpoints refuse LOUDLY in BOTH tiers (round-16 ADVICE fix:
    // the driver tier used to NPE in getLong while the distributed loop
    // silently carried a null node — tier behavior diverged on malformed
    // input depending only on pair-list size). The check rides the SAME
    // single job as the tier-gate count: one agg over the checkpoint
    // blocks instead of the former bare count().
    val cnt = e1.agg(count(lit(1)).as("n"),
      count(col("a")).as("na"), count(col("b")).as("nb")).head()
    val nEdges = cnt.getLong(0)
    if (cnt.getLong(1) != nEdges || cnt.getLong(2) != nEdges)
      throw new IllegalArgumentException(
        "connectedComponents: pair list contains " +
          (2 * nEdges - cnt.getLong(1) - cnt.getLong(2)) +
          " null endpoint(s) — a doc id was NULL or not castable to " +
          "long; fix the pair source (both tiers refuse this input)")
    if (nEdges <= driverMaxEdges) {
      // specialized (Long, Long) tuples: ~32 B/edge collected, no boxed
      // Row cells
      val edges = e1.as[(Long, Long)].collect()
      // union-find, path-compressed, union by MIN root: the root of any
      // tree is the min id it contains, so find(node) IS the min-label
      // component id the distributed fixpoint converges to. PRIMITIVE
      // open-addressed storage (round 16): the former boxed
      // HashMap[Long,Long] + LinkedHashSet held ~100 B/node in wrappers
      // and entries — several hundred MB transient at the 1 M-edge gate,
      // not the ~30 MB its comment claimed. The long-array table below
      // (power-of-two capacity ≥ 4×edges ⇒ load ≤ 0.5, linear probing)
      // puts the honest transient peak at the gate near ~120 MB: 32 MB
      // edge tuples + 68 MB table + 16 MB node list, all dead on return.
      val cap = {
        var c = 8
        while (c < edges.length.toLong * 4 && c > 0) c <<= 1
        require(c > 0, "edge count overflows the driver tier's table sizing")
        c
      }
      val keys = new Array[Long](cap)
      val used = new Array[Boolean](cap)
      val par = new Array[Long](cap)
      val nodeList = new Array[Long](edges.length * 2)
      var nNodes = 0
      def slot(k: Long): Int = {
        var h = k * -7046029254386353131L // Fibonacci hashing constant
        h ^= (h >>> 32)
        var i = (h & (cap - 1)).toInt
        while (used(i) && keys(i) != k) i = (i + 1) & (cap - 1)
        i
      }
      def insertIfAbsent(k: Long): Unit = {
        val i = slot(k)
        if (!used(i)) {
          used(i) = true; keys(i) = k; par(i) = k
          nodeList(nNodes) = k; nNodes += 1
        }
      }
      def find(x0: Long): Long = {
        var r = x0
        var ri = slot(r)
        while (par(ri) != r) { r = par(ri); ri = slot(r) }
        var x = x0
        while (x != r) { val xi = slot(x); val nx = par(xi); par(xi) = r; x = nx }
        r
      }
      edges.foreach { case (a, b) =>
        insertIfAbsent(a); insertIfAbsent(b)
        val ra = find(a); val rb = find(b)
        if (ra < rb) par(slot(rb)) = ra
        else if (rb < ra) par(slot(ra)) = rb
      }
      val labeled = new Array[(Long, Long)](nNodes)
      var i = 0
      while (i < nNodes) { labeled(i) = (nodeList(i), find(nodeList(i))); i += 1 }
      // a LocalRelation: consumers (the relabel join, cluster-keyed
      // lookups) see exact size stats and broadcast it for free
      labeled.toSeq.toDF("doc_id", "cluster_id")
    } else {
      val edges = e1.union(e1.select(col("b").as("a"), col("a").as("b")))
      var labels = edges.select(col("a").as("node")).distinct()
        .withColumn("label", col("node"))
        .localCheckpoint()
      var iter = 0
      var converged = false
      while (!converged && iter < maxIters) {
        val nbrMin = edges
          .join(labels.select(col("node").as("b"), col("label").as("nl")), "b")
          .groupBy(col("a").as("node")).agg(min(col("nl")).as("nbr"))
        val next = labels.join(nbrMin, Seq("node"), "left")
          .select(col("node"),
            least(col("label"), coalesce(col("nbr"), col("label"))).as("label"),
            (coalesce(col("nbr"), col("label")) < col("label")).as("__chg"))
          .localCheckpoint()
        converged = next.where(col("__chg")).isEmpty
        labels = next.select(col("node"), col("label"))
        iter += 1
      }
      if (!converged)
        throw new IllegalStateException(
          s"connectedComponents did not converge within $maxIters iterations")
      labels.select(col("node").as("doc_id"), col("label").as("cluster_id"))
    }
  }

  /** Fold NEWLY-discovered pairs into a STORED component assignment — the
    * cluster-state companion of the index generation merge
    * ([[appendToBandIndex]]): a rolling pipeline's ingest finds new pairs
    * against the stored index; without this, refreshing the dedup
    * decision ([[connectedComponents]] labels) would re-cluster the whole
    * corpus's pair list every generation. Per ingest the work is
    * label-graph CONTRACTION instead:
    *  - pair endpoints project onto their CURRENT labels (stored label,
    *    else the doc's own id — old singletons and new arrivals enter as
    *    themselves); edges internal to one existing component drop;
    *  - connected components run over the TINY label graph (≤ 2·|new
    *    pairs| nodes — ingest-sized, never corpus-sized);
    *  - the stored assignment relabels through one join — broadcast while
    *    the label graph is proven ingest-sized (`broadcastMaxLabels`,
    *    counted on the checkpointed frame), unhinted past it so a
    *    backfill-sized pair list degrades to a shuffle join instead of
    *    an unbounded broadcast — and new endpoints append with their
    *    (possibly merged) labels.
    * EXACT, not approximate: contracting min-id-labeled components is
    * lossless, and a merged component's new label (the min over merged
    * labels = the min over member doc ids) equals what a full recompute
    * over old ∪ new pairs assigns — DedupSpec pins
    * mergeComponents(CC(old), new) ≡ CC(old ∪ new). Output covers stored
    * docs ∪ new pair endpoints as (doc_id, cluster_id), the
    * [[connectedComponents]] contract. */
  def mergeComponents(
      labels: DataFrame, pairs: DataFrame,
      aCol: String = "doc_a", bCol: String = "doc_b",
      broadcastMaxLabels: Long = BroadcastMaxRows,
      driverMaxEdges: Long = BroadcastMaxRows): DataFrame = {
    val lab = labels.select(col("doc_id").cast("long").as("__mid"),
      col("cluster_id").cast("long").as("__ml"))
    val pp = pairs.select(col(aCol).cast("long").as("__pa"),
      col(bCol).cast("long").as("__pb"))
    val labelEdges = pp
      .join(lab.as("la"), col("__pa") === col("la.__mid"), "left")
      .select(coalesce(col("la.__ml"), col("__pa")).as("ea"), col("__pb"))
      .join(lab.as("lb"), col("__pb") === col("lb.__mid"), "left")
      .select(col("ea"), coalesce(col("lb.__ml"), col("__pb")).as("eb"))
      .where(col("ea") =!= col("eb"))
    // the relabel frame is label-graph-sized (<= 2·|new pairs|) — DAILY
    // ingests broadcast it, but the contract only says "pairs from an
    // ingest" and a BACKFILL-sized call must not ship a multi-GB hint:
    // connectedComponents returns a localCheckpointed frame, so the
    // size probe is a cheap block-scan count, and past the bound the
    // relabel join runs unhinted (shuffle at worst; AQE re-broadcasts
    // when runtime stats prove it small). Identical results either way
    // (spec-pinned), only the join strategy hint changes.
    val cc = connectedComponents(labelEdges, "ea", "eb",
        driverMaxEdges = driverMaxEdges)
      .select(col("doc_id").as("__ol"), col("cluster_id").as("__nl"))
    // the driver-tier CC returns a LocalRelation whose size is already
    // statically known — read it off the plan instead of paying a count
    // job; only a distributed (backfill-scale) label frame scans blocks
    val ccSize = cc.queryExecution.optimizedPlan match {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        l.data.size.toLong
      case _ => cc.count()
    }
    val relabel = if (ccSize <= broadcastMaxLabels) broadcast(cc) else cc
    // new endpoints (absent from the stored assignment) enter as their
    // own singleton label, then relabel like everyone else
    val newDocs = pp.select(col("__pa").as("doc_id"))
      .union(pp.select(col("__pb").as("doc_id"))).distinct()
      .join(lab, col("doc_id") === col("__mid"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("cluster_id"))
    lab.select(col("__mid").as("doc_id"), col("__ml").as("cluster_id"))
      .union(newDocs)
      .join(relabel, col("cluster_id") === col("__ol"), "left")
      .select(col("doc_id"),
        coalesce(col("__nl"), col("cluster_id")).as("cluster_id"))
  }

  /** SimHash near-dup pairs within `maxHamming` via block-combination
    * banding (the simhash-dedup design from Manku/Jain/Sarma, WWW'07
    * "Detecting Near-Duplicates for Web Crawling"): split the 64-bit simhash
    * into `blocks` equal blocks; a pair within hamming <= blocks-2 has at
    * least two entirely-clean blocks, so an equality hash-join on every
    * 2-block combination's concatenated value is an EXHAUSTIVE candidate
    * generator — no O(n^2) pass at scale. Join-key cardinality per
    * combination is 2^(2*width) (vs 2^width for single-block banding), so
    * candidates shrink from ~n^2/2^width per band to
    * ~C(blocks,2)*n^2/2^(2*width) total: the shape that survives a corpus
    * 10^6x larger. Verification is one xor+popcount per candidate.
    *
    * A GROUPED single-shuffle candidate form (bucket by (band, bv) +
    * in-bucket pair explosion, [[lshCandidatesGrouped]]'s shape) was
    * A/B'd in round 15 and LOSES in the warm bench (dd6 0.90 s -> 1.59 s
    * at sf0.1): the self-join's persisted signature frame keeps the
    * tokenize + md5 + 64-bit-sum chain from re-running per consumer —
    * a same-run necessity with TWO join sides — and the grouped form's
    * single consumption forgoes exactly that reuse, recomputing the
    * signature chain per run. At corpus scale the grouped form still
    * moves fewer bytes (one shuffle, no corpus-sized broadcast/persist);
    * it loses here because this suite is compute/job-floor-bound, not
    * shuffle-bound. Recorded in OPTIMIZATION_r15.md. */
  def simhashPairs(
      sim: DataFrame, blocks: Int = 8, maxHamming: Int = 6,
      persistSignatures: Boolean = true): DataFrame = {
    require(maxHamming <= blocks - 2,
      "pigeonhole exhaustiveness needs maxHamming <= blocks - 2")
    require(64 % blocks == 0, "blocks must divide 64")
    // (doc_id, simhash) is 16 bytes/doc; caching it stops the whole upstream
    // signature computation (tokenize + md5 + 64 bit-sums) from running once
    // per self-join side — the explode below re-derives band keys from the
    // cached rows instead
    val simIn = if (persistSignatures)
      sim.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else sim
    val banded = simhashBanded(simIn, blocks)
    val a = banded.as("a"); val b = banded.as("b")
    // filter on hamming BEFORE deduplicating: a pair can appear once per
    // shared combination, but deduping the full candidate stream shuffles
    // the pre-filter join output — popcount first, then distinct survivors
    a.join(b,
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        expr("CAST(bit_count(a.simhash ^ b.simhash) AS BIGINT)").as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Incremental simhash ingest: near-dup pairs (hamming <= maxHamming)
    * between a NEW batch and an already-indexed corpus, plus batch-internal
    * pairs — the signature index is stored state ((doc_id, simhash): 16
    * bytes/doc), and ONLY the batch is tokenized/hashed at ingest.
    * Corpus-vs-corpus pairs are not recomputed. Batch and corpus ids must
    * be disjoint.
    *
    * Two probe tiers, size-gated on the (checkpointed, block-scan-counted)
    * batch like every other bounded decision here:
    *  - batches up to `bruteForceMaxBatch` (with long doc ids) collect
    *    their signatures to the driver and popcount directly against the
    *    stored index through the codegen'd literal kernel
    *    ([[graft.functions.HammingMatches]]) — one xor+bit_count per
    *    (batch, stored) pair, no band explode, no join machinery;
    *  - past the bound, the 2-of-`blocks` combination banding of
    *    [[simhashPairs]] (exhaustive for hamming <= blocks-2 by
    *    pigeonhole) keeps per-stored-row work constant in |batch|.
    * Both tiers return the identical pair set (spec-pinned). */
  def incrementalSimhashPairs(
      batch: DataFrame, index: DataFrame, idCol: String, textCol: String,
      blocks: Int = 8, maxHamming: Int = 6,
      bruteForceMaxBatch: Long = 1024L): DataFrame = {
    require(maxHamming <= blocks - 2,
      "pigeonhole exhaustiveness needs maxHamming <= blocks - 2")
    require(64 % blocks == 0, "blocks must divide 64")
    // the stored index must carry the scheme it was signed with — a
    // mismatched tokenizer/bit mapping would popcount unrelated vectors
    // with no error (the band/phash/sidecar gate, for uniformity)
    requireSimhashScheme(index)
    // only the batch pays signature derivation; it feeds both sides of
    // the probe (directly and unioned with the stored index), so
    // materialize it — and the gate count below is then a block scan
    val bsig = simhash(batch, idCol, textCol).localCheckpoint()
    val idxSig = index.select(col("doc_id"), col("simhash"))
    val nBatch = bsig.count() // block scan over the checkpoint
    val longIds =
      bsig.schema.head.dataType == org.apache.spark.sql.types.LongType &&
        idxSig.schema.head.dataType == org.apache.spark.sql.types.LongType
    val raw =
      if (nBatch <= bruteForceMaxBatch && longIds) {
        // SMALL-BATCH tier (round 16): the batch signatures (≤ gate ×
        // 16 B — a few KB) collect from the checkpoint blocks and probe
        // the stored index through the codegen'd [[HammingMatches]]
        // literal kernel — ≤ |batch| xor+popcounts per stored row inside
        // whole-stage codegen, allocation only on matches. No band
        // explode (the banded probe materialized C(blocks,2)=28 struct
        // rows per stored row — 15 s task-time / 2.5 s CPU on dd12's
        // 64-task probe stage at sf0.1), no join machinery at all (a
        // broadcast nested-loop spelling evaluated its condition
        // interpreted per pair and was A/B'd SLOWER: dd12 0.40 →
        // 0.55 s). Batch-internal pairs are ≤ gate² driver popcounts —
        // microseconds — emitted as a LocalRelation. Both tiers compute
        // the IDENTICAL pair set: banding is exhaustive for
        // hamming <= blocks-2 (pigeonhole), the popcount probe
        // trivially, both post-filter at maxHamming (spec-pinned; the
        // dd12 oracle is already the brute-force hamming join). Past
        // the gate — a backfill-sized batch — the pigeonhole banding
        // below keeps per-stored-row work constant in |batch|.
        val sess = batch.sparkSession
        import sess.implicits._
        val rows = bsig.collect() // second block scan, no recompute
        val ids = rows.map(_.getLong(0))
        val sigsArr = rows.map(_.getLong(1))
        val internal = for {
          i <- ids.indices.iterator
          j <- (i + 1) until ids.length
          h = java.lang.Long.bitCount(sigsArr(i) ^ sigsArr(j))
          if h <= maxHamming && ids(i) != ids(j)
        } yield (math.min(ids(i), ids(j)), math.max(ids(i), ids(j)), h.toLong)
        val internalDf = internal.toSeq.toDF("doc_a", "doc_b", "hamming")
        idxSig.select(col("doc_id"),
            explode(graft.functions.HashFunctions.hamming_matches(
              col("doc_id"), col("simhash"), ids, sigsArr, maxHamming)).as("m"))
          .select(least(col("doc_id"), col("m.mid")).as("doc_a"),
            greatest(col("doc_id"), col("m.mid")).as("doc_b"),
            col("m.hamming").as("hamming"))
          .union(internalDf)
      } else {
        val bb = simhashBanded(bsig, blocks)
        val all = simhashBanded(idxSig, blocks).union(bb)
        bb.as("a").join(all.as("b"),
            col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
              col("a.doc_id") =!= col("b.doc_id"))
          .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
            greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"),
            expr("CAST(bit_count(a.simhash ^ b.simhash) AS BIGINT)").as("hamming"))
          .where(col("hamming") <= maxHamming)
      }
    raw.distinct().orderBy(col("doc_a"), col("doc_b"))
  }

  /** The 2-of-`blocks` combination band rows over a (doc_id, simhash)
    * frame — ONE derivation shared by the batch self-join
    * ([[simhashPairs]]), the stored-index ingest
    * ([[incrementalSimhashPairs]]), and the streaming twin
    * ([[graft.streaming.SimhashStream]]), so no probe can ever disagree
    * with an index on bucket values. Row-local explode; C(blocks,2)
    * combinations, each keyed by the concatenated pair of clean blocks
    * (exhaustive for hamming <= blocks - 2 by pigeonhole). */
  private[graft] def simhashBanded(sig: DataFrame, blocks: Int): DataFrame = {
    val width = 64 / blocks
    val mask = (1L << width) - 1
    val combos = for { i <- 0 until blocks; j <- (i + 1) until blocks } yield (i, j)
    sig.select(col("doc_id"), col("simhash"),
        explode(array(combos.zipWithIndex.map { case ((i, j), ci) =>
          struct(lit(ci).as("band"),
            expr(s"(shiftright(simhash, ${i * width}) & $mask) | " +
              s"shiftleft(shiftright(simhash, ${j * width}) & $mask, $width)").as("bv"))
        }: _*)).as("bb"))
      .select(col("doc_id"), col("simhash"), col("bb.band"), col("bb.bv"))
  }

  /** The 64-bit simhash of ONE document's token stream — the row-local
    * Scala twin of [[simhash]]'s aggregation, for per-arrival use inside
    * a stream's mapPartitions: the same `split(text, ' ')` tokenization
    * (limit -1 — trailing empty tokens KEPT, like Spark's split), the
    * same md5 leading halves ([[graft.functions.Md5Words]]'s byte
    * packing), the same physical bit mapping (logical bit b = bit 31-b
    * of half 1 / 63-b of half 2), the same majority rule over the raw
    * (duplicate-bearing) token multiset. SimhashStreamSpec pins it equal
    * to the batch form doc-by-doc. The caller supplies the MessageDigest
    * (one per partition, never per row). ONE kernel serves the stream,
    * the batch expression, and every stored-index write — it lives with
    * the native [[graft.functions.SimhashSig]] expression that
    * [[simhash]] now projects row-locally. */
  private[graft] def simhashOf(
      md: java.security.MessageDigest, text: String): Long =
    graft.functions.SimhashSig.compute(md, text)

  /** Identifies the signature scheme a stored simhash index was built
    * with. The derivation has exactly one scheme TODAY ([[simhash]]'s
    * split-on-space md5-majority form), but the tokenizer and the bit
    * mapping are parameters in waiting — and every OTHER stored index
    * here fails loudly on a scheme mismatch, so the simhash index stamps
    * for uniformity: signatures from a different tokenizer would compare
    * hamming distances between unrelated bit vectors with no error. */
  val SimhashScheme: String = "md5-majority-64-v1"

  /** The stored simhash index for a corpus: (doc_id, simhash, sh_scheme) —
    * [[simhash]] plus the scheme stamp, riding both as a data column and
    * as schema metadata ([[IndexStamp]]) so even an EMPTY index stays
    * verifiable. This is the form to WRITE as stored state; probes
    * ([[incrementalSimhashPairs]], the streaming twin) refuse an index
    * without the stamp. */
  def simhashIndex(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    simhash(docs, idCol, textCol)
      .select(col("doc_id"), col("simhash"),
        lit(SimhashScheme).as("sh_scheme",
          IndexStamp.string("sh_scheme", SimhashScheme)))

  /** The loud scheme gate every simhash-index probe and merge runs —
    * empty-index safe via schema metadata ([[IndexStamp]]). */
  private[graft] def requireSimhashScheme(index: DataFrame): Unit =
    IndexStamp.require(index, "sh_scheme", SimhashScheme, "simhash index")

  /** Fold a new batch's signatures into a stored simhash index — the
    * generation merge for [[incrementalSimhashPairs]]'s stored state:
    * signatures are per-document (16 bytes/doc) and append-only, so the
    * merged index is bit-identical to re-signing corpus ∪ batch at the
    * cost of tokenizing ONLY the batch. The scheme stamp is validated
    * first and restamped on the output. */
  def appendToSimhashIndex(
      index: DataFrame, batch: DataFrame, idCol: String, textCol: String): DataFrame = {
    requireSimhashScheme(index)
    index.select(col("doc_id"), col("simhash"), col("sh_scheme"))
      .union(simhashIndex(batch, idCol, textCol))
      .select(col("doc_id"), col("simhash"),
        col("sh_scheme").as("sh_scheme",
          IndexStamp.string("sh_scheme", SimhashScheme)))
  }

  /** The batch's signatures alone, scheme-validated against the target
    * index — the append-files merge form ([[bandIndexDeltaFor]]'s simhash
    * companion): write with mode("append") into the stored index's table
    * for batch-proportional IO. */
  def simhashIndexDeltaFor(
      index: DataFrame, batch: DataFrame, idCol: String, textCol: String): DataFrame = {
    requireSimhashScheme(index)
    simhashIndex(batch, idCol, textCol)
  }

  /** 64-bit SimHash per document from md5 token hashes: bit b of a token's
    * contribution is bit (3 - b%4) of hex char (b div 4) of its md5 — the
    * top 64 bits of the digest, nibble-MSB-first (the low 32 bits coincide
    * with the former 32-bit variant). Majority vote: bit b set iff
    * 2*count_ones(b) > n_tokens.
    *
    * Computed ROW-LOCALLY by the native [[graft.functions.SimhashSig]]
    * expression — the signature depends only on its own document's text,
    * so the former explode(split) → per-token md5 halves → 65-aggregate
    * groupBy spelling shuffled |tokens| rows per corpus for nothing (the
    * same argument that made the minhash chain row-local in round 11;
    * the exchange AND the aggregation hash table disappear — r15 A/B at
    * sf0.1: dd6 0.90 → 0.58 s warm (corpus-wide signing), dd12 neutral
    * at ~1.19 s with its job count down to 6 — an ingest signs only its
    * batch, and dd12's cost lives in the banded probe stage). Values are
    * bit-identical: SimhashSig runs the exact kernel the streaming twin
    * signs arrivals with ([[simhashOf]]), which SimhashStreamSpec pins
    * against golden literals plus an independent md5-hex re-derivation
    * doc-by-doc, and the dd4/dd6/dd12 oracles re-derive independently.
    * Null-text docs drop (the retired aggregation form's
    * explode(split(null)) emitted no rows). */
  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    Partitioning.fanOut(docs.where(col(textCol).isNotNull), idCol)
      .select(col(idCol).as("doc_id"),
        graft.functions.HashFunctions.simhash64(col(textCol)).as("simhash"))

  /** Exact duplicated-SPAN diagnostic (substring-level dedup, the
    * Lee et al. 2021 "Deduplicating Training Data" shape): for every
    * document with at least `k` tokens, how many of its k-token sliding
    * windows also occur verbatim in some OTHER document, and what
    * per-mille fraction of its windows that is. Doc-level dedup (dd1-dd7)
    * misses partial copies — boilerplate headers, quoted passages,
    * licence blocks — which this surfaces for span-level excision.
    *
    * Scale shape: windows travel as md5 digests (16 bytes regardless of
    * k), so the shuffle key is fixed-width; one groupBy on the digest
    * (count-distinct-docs partial-aggregates), one hash join back, one
    * per-doc agg. Window count is linear in corpus tokens — the
    * declarative analogue of the suffix-array pass, trading its
    * O(n log n) construction for embarrassingly-parallel shuffles.
    * The per-mille fraction is integer arithmetic (engine-exact). */
  def duplicatedSpans(
      docs: DataFrame, idCol: String, textCol: String, k: Int = 15): DataFrame = {
    require(k > 0, s"span length must be positive, got $k")
    // the size(w) >= k gate must precede the explode: Spark's
    // sequence(0, negative) counts DOWN rather than returning empty
    val wins = docs
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("w"))
      .where(expr(s"size(w) >= $k"))
      .select(col("doc_id"),
        explode(expr(s"sequence(0, size(w) - $k)")).as("i"), col("w"))
      .select(col("doc_id"),
        md5(expr(s"array_join(slice(w, i + 1, $k), ' ')")).as("gh"))
    val dup = wins.groupBy("gh")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .where(col("nd") > 1)
      .select("gh")
    wins.join(dup, Seq("gh"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("dup_windows"))
      .join(wins.groupBy("doc_id").agg(count(lit(1)).as("n_windows")),
        Seq("doc_id"), "right")
      .select(col("doc_id"), col("n_windows"),
        coalesce(col("dup_windows"), lit(0L)).as("dup_windows"))
      .withColumn("dup_pm",
        expr("dup_windows * 1000 DIV n_windows").cast("long"))
  }

  /** Exact duplicated-span EXCISION — the transform [[duplicatedSpans]]
    * only diagnoses (Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better": remove the duplicated substring, keep the
    * rest of the document). Every `k`-token sliding window that also
    * occurs verbatim in a LOWER-id document is removed from this
    * document's token stream; the first occurrence (lowest doc id — a
    * deterministic stand-in for crawl priority) keeps its text intact.
    * Within-document repeats stay (the repeating doc is its own owner);
    * they are tx5/tx11's domain. Documents shorter than `k` tokens pass
    * through unchanged; a fully-covered document comes back with an
    * empty `text_clean`, not a dropped row.
    *
    * Returns (doc_id, n_tokens, n_removed, text_clean) for EVERY input
    * document.
    *
    * Scale shape: windows travel as fixed-width md5 digests; ownership
    * is one digest-keyed groupBy (min doc id); only FOREIGN-duplicate
    * windows — sparse by construction — explode into covered positions
    * (≤ k rows each, deduplicated by (doc, position)); the rebuild is
    * one per-document aggregation over the token stream with a left
    * join against the covered set. Nothing is quadratic, nothing hits
    * the driver; the per-doc collect_list is doc-local like every other
    * row-local rebuild in this library. */
  def exciseSpans(
      docs: DataFrame, idCol: String, textCol: String, k: Int = 15): DataFrame = {
    require(k > 0, s"span length must be positive, got $k")
    val d = docs.select(col(idCol).as("doc_id"), split(col(textCol), " ").as("w"))
    val toks = d.select(col("doc_id"), posexplode(col("w"))).toDF("doc_id", "p", "tok")
    // the size(w) >= k gate must precede the explode (sequence counts
    // DOWN for a negative span — the dd8 pitfall)
    val wins = d.where(expr(s"size(w) >= $k"))
      .select(col("doc_id"),
        explode(expr(s"sequence(0, size(w) - $k)")).as("i"), col("w"))
      .select(col("doc_id"), col("i"),
        md5(expr(s"array_join(slice(w, i + 1, $k), ' ')")).as("gh"))
    val owner = wins.groupBy("gh").agg(min(col("doc_id")).as("own"))
    val foreign = wins.join(owner, "gh").where(col("own") < col("doc_id"))
      .select("doc_id", "i")
    val covered = foreign
      .select(col("doc_id"), explode(expr(s"sequence(i, i + ${k - 1})")).as("p"))
      .distinct()
      .withColumn("cut", lit(true))
    toks.join(covered, Seq("doc_id", "p"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        count(col("cut")).as("n_removed"),
        array_join(
          transform(
            array_sort(collect_list(when(col("cut").isNull,
              struct(col("p"), col("tok"))))),
            s => s.getField("tok")),
          " ").as("text_clean"))
  }

  /** Per near-dup cluster, pick ONE representative document and mark every
    * member — the curation step that follows clustering in practice
    * (RefinedWeb/Gopher keep one member per duplicate family rather than
    * dropping all): representative = the member with the greatest
    * `lengthCol`, smallest id on ties — an integer argmax, deterministic in
    * any engine. Unclustered documents are their own (singleton) cluster.
    *
    * Scale shape: `clusters` is the stored dedup artifact
    * ([[connectedComponents]] output, ≪ corpus). The corpus joins it once
    * (broadcast when small — Catalyst decides); the argmax is one
    * partial-aggregable groupBy of (cluster, len, id) triples — a
    * max(struct) merge, constant state per cluster; members then join the
    * cluster-sized rep frame back. The corpus never self-joins and no
    * window sort ever sees a whole cluster.
    *
    * `cluster_id` renders as STRING (like [[Sampling.softDedup]]): a
    * non-numeric doc id cast to long would silently NULL the singleton
    * label. */
  def clusterRepresentatives(
      docs: DataFrame, idCol: String, lengthCol: String,
      clusters: DataFrame): DataFrame = {
    val cl = clusters.select(col("doc_id").as("__cr_id"),
      col("cluster_id").cast("string").as("__cr_lbl"))
    val labeled = docs.join(cl, col(idCol) === col("__cr_id"), "left")
      .withColumn("cluster_id",
        coalesce(col("__cr_lbl"), col(idCol).cast("string")))
      .drop("__cr_id", "__cr_lbl")
    // argmax as min(struct(-len, id)): minimal negated length = maximal
    // length, then the MINIMAL id on ties — and the id keeps its native
    // type (a cast-to-long tiebreak would NULL out non-numeric ids, the
    // softDedup/clusterHoldout bug class). A NULL length sorts LAST
    // (coalesce to Long.MaxValue): Spark's min(struct) is nulls-first
    // ascending, which would elect a null-length member over real ones,
    // while the cq1 oracle's ORDER BY n_chars DESC puts NULLs last.
    val rep = labeled.groupBy(col("cluster_id"))
      .agg(
        min(struct(
          coalesce(-col(lengthCol).cast("long"), lit(Long.MaxValue)).as("nl"),
          col(idCol).as("id"))).as("m"),
        count(lit(1)).as("cluster_n"))
      .select(col("cluster_id"), col("m.id").as("__cr_rep"),
        col("cluster_n"))
    labeled.join(rep, "cluster_id")
      .withColumn("is_rep", col(idCol) === col("__cr_rep"))
      .drop("__cr_rep")
  }
}
