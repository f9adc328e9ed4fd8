package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SessionArtifacts
import graft.mesh.Fixtures

/** Large-scale training-data pipeline operators (BASELINE.json north star):
  * deduplication, similarity search, text analysis, multimodal plumbing —
  * each expressed as a declarative Spark plan (explode/groupBy/join — no
  * driver-side loops, no UDFs; everything stays inside codegen'd built-ins)
  * so the same shape scales from 500 docs to 100 TB: shingling is a
  * flatMap-shaped explode, minhash a partial-aggregable groupBy, LSH banding
  * a hash-join on band signature, verification a pair-join on shingles.
  *
  * Every query has a DuckDB oracle computing the identical deterministic
  * algorithm (md5-based hashing, rational LSH hyperplanes, index-ordered
  * double summation), so results hash-match exactly.
  */
object PipelineQueries {

  private case class Q(name: String, sparkSql: String, duckSql: String)

  // --- shared fragments -------------------------------------------------
  // trigram word shingles per doc (distinct), Spark + DuckDB dialects.
  // Spark side uses the native codegen'd word_ngrams (graft.functions) —
  // identical output to the lambda form (WordNGramsSpec), none of its
  // per-element interpreted-closure cost; DuckDB keeps the declarative
  // list form (its list kernels are vectorized C++ already).
  private val sparkShingles =
    """tok AS (SELECT /*+ REPARTITION(doc_id) */ doc_id, text FROM documents),
      |sh AS (SELECT DISTINCT doc_id, shingle FROM tok
      |       LATERAL VIEW explode(word_ngrams(text, 3)) t AS shingle)""".stripMargin
  private val duckShingles =
    """tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |sh AS (SELECT DISTINCT doc_id, array_to_string(list_slice(w, i + 1, i + 3), ' ') AS shingle
      |       FROM tok, unnest(range(0, greatest(len(w) - 2, 1))) AS t(i))""".stripMargin

  // one-md5 minhash (see Dedup.minhashSignatures): base hash = leading 48
  // bits of md5(shingle), k affine permutations mod 2^31-1. `hs` computes
  // the base hash once per shingle row; `sig` is the per-doc min per
  // permutation; `bands` hashes ':'-joined decimal renderings (identical
  // in both engines).
  private val sparkMinhashHs =
    "hs AS (SELECT doc_id, CAST(conv(substring(md5(shingle), 1, 12), 16, 10) AS BIGINT) AS h FROM sh)"
  private val duckMinhashHs =
    "hs AS (SELECT doc_id, ('0x' || substring(md5(shingle), 1, 12))::BIGINT AS h FROM sh)"
  private val minhashSig =
    s"""sig AS (SELECT doc_id, ${(0 until 12).map(j =>
         s"min((h * ${Dedup.mhA(j)} + ${Dedup.mhB(j)}) % ${Dedup.MinhashPrime}) AS mh$j")
         .mkString(", ")}
       |        FROM hs GROUP BY doc_id)""".stripMargin
  private val sparkMinhashBands =
    s"""bands AS (SELECT doc_id, band,
       |    CASE band ${(0 until 4).map(b =>
              s"WHEN $b THEN md5(concat_ws(':', '$b', " +
                (0 until 3).map(r => s"CAST(mh${3 * b + r} AS STRING)").mkString(", ") + "))")
              .mkString(" ")} END AS bsig
       |    FROM sig LATERAL VIEW explode(sequence(0, 3)) t AS band)""".stripMargin
  private val duckMinhashBands =
    s"""bands AS (SELECT doc_id, band,
       |    CASE band ${(0 until 4).map(b =>
              s"WHEN $b THEN md5('$b' || ':' || " +
                (0 until 3).map(r => s"mh${3 * b + r}").mkString(" || ':' || ") + ")")
              .mkString(" ")} END AS bsig
       |    FROM sig, unnest(range(0, 4)) AS t(band))""".stripMargin

  /** dd11 AND dd13 share ONE oracle text (both probe batch %10=0 against
    * everything else; dd13 merely reaches its index via the generation
    * merge): the full re-band restricted to batch-touching pairs. Single
    * definition so the two chains can never drift apart — a tweak to the
    * shingle/minhash/band CTEs lands in both or neither. */
  private def batchIngestSql(shingles: String, hs: String, bands: String) =
    s"""WITH $shingles,
       |$hs,
       |$minhashSig,
       |$bands,
       |cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
       |         FROM bands a JOIN bands b
       |           ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id),
       |inter AS (SELECT c.da, c.db, count(*) AS i
       |          FROM cand c
       |          JOIN sh s1 ON s1.doc_id = c.da
       |          JOIN sh s2 ON s2.doc_id = c.db AND s2.shingle = s1.shingle
       |          GROUP BY c.da, c.db),
       |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id)
       |SELECT da AS doc_a, db AS doc_b,
       |       round(CAST(i AS DOUBLE) / (ca.n + cb.n - i), 4) AS jaccard
       |FROM inter JOIN cnt ca ON ca.doc_id = da JOIN cnt cb ON cb.doc_id = db
       |WHERE CAST(i AS DOUBLE) / (ca.n + cb.n - i) >= 0.8
       |  AND (da % 10 = 0 OR db % 10 = 0)
       |ORDER BY doc_a, doc_b""".stripMargin

  private val batchIngestSparkSql =
    batchIngestSql(sparkShingles, sparkMinhashHs, sparkMinhashBands)
  private val batchIngestDuckSql =
    batchIngestSql(duckShingles, duckMinhashHs, duckMinhashBands)

  // full minhash-LSH chain through verified pairs + symmetrized edges
  // (DuckDB dialect) — the shared prefix of every oracle that consumes the
  // near-dup graph (dd7 clusters, gr1 pagerank). Mirrors
  // Dedup.minhashLshPairs at Jaccard >= 0.8. The multi-referenced CTEs
  // carry explicit MATERIALIZED hints: DuckDB's inlining heuristic
  // otherwise re-evaluates the whole chain per reference, which turns
  // gr1's five chained iterations into an exponential blowup (measured
  // 39 s → 0.8 s at sf0.1; at sf1 the unhinted form spilled >69 GB
  // without finishing).
  private val duckPairsChain =
    s"""$duckShingles,
       |$duckMinhashHs,
       |$minhashSig,
       |$duckMinhashBands,
       |cand AS MATERIALIZED (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
       |         FROM bands a JOIN bands b
       |           ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id),
       |inter AS (SELECT c.da, c.db, count(*) AS i
       |          FROM cand c
       |          JOIN sh s1 ON s1.doc_id = c.da
       |          JOIN sh s2 ON s2.doc_id = c.db AND s2.shingle = s1.shingle
       |          GROUP BY c.da, c.db),
       |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |pairs AS MATERIALIZED (SELECT da, db FROM inter
       |          JOIN cnt ca ON ca.doc_id = da JOIN cnt cb ON cb.doc_id = db
       |          WHERE CAST(i AS DOUBLE) / (ca.n + cb.n - i) >= 0.8),
       |edges AS MATERIALIZED (SELECT da AS a, db AS b FROM pairs
       |          UNION ALL SELECT db, da FROM pairs)""".stripMargin

  /** mm9 AND mm10 share ONE oracle text (both probe the %5=2 image batch
    * against everything else; mm10 merely reaches its index via the
    * generation merge): mm8's char-wise phash re-derivation + banding
    * restricted to batch-touching pairs. */
  private lazy val phashIngestDuckSql =
    """WITH p AS (SELECT doc_id,
      |  CAST(coalesce(list_sum(list_transform(range(0, 48),
      |       j -> CASE WHEN px[CAST(j + 1 AS INT)] > list_sum(px) / 48.0
      |                 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)), 0) AS BIGINT) AS phash
      |FROM (SELECT doc_id,
      |        list_transform(range(0, 48),
      |          j -> CASE WHEN length(text) = 0 THEN 0
      |               ELSE ord(substr(text, CAST((j * length(text)) // 48 + 1 AS INT), 1)) END) AS px
      |      FROM documents) s),
      |bands AS (SELECT doc_id, phash, band,
      |        (phash >> CAST(band * 8 AS INT)) & 255 AS bv
      |      FROM p, unnest(range(0, 6)) AS t(band)),
      |cand AS (SELECT DISTINCT a.doc_id AS da, a.phash AS pa,
      |               b.doc_id AS db, b.phash AS pb
      |         FROM bands a JOIN bands b
      |           ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id)
      |SELECT da AS doc_a, db AS doc_b,
      |       CAST(bit_count(xor(pa, pb)) AS BIGINT) AS hamming
      |FROM cand WHERE bit_count(xor(pa, pb)) <= 5
      |  AND (da % 5 = 2 OR db % 5 = 2)
      |ORDER BY doc_a, doc_b""".stripMargin

  /** Full-corpus connected-components oracle (recursive reachability
    * closure over the verified pair graph, min label per node) — consumed
    * VERBATIM by dd7 (direct clustering) and dd14 (stored-assignment
    * merge): two computation paths, one answer. */
  private lazy val fullClustersDuckSql =
    s"""WITH RECURSIVE $duckPairsChain,
       |reach(node, label) AS (
       |  SELECT a, a FROM edges
       |  UNION
       |  SELECT e.a, r.label FROM edges e JOIN reach r ON r.node = e.b)
       |SELECT node AS doc_id, min(label) AS cluster_id
       |FROM reach GROUP BY node ORDER BY doc_id""".stripMargin

  // exact dot product between two float vectors, index-ordered double
  // summation (bit-identical across Spark and DuckDB). Norms are
  // precomputed once per vector — higher-order functions are interpreted
  // (not codegen'd), so per-pair work must be a single lambda aggregate.
  // vec_dot is the native codegen'd VectorDot expression — bit-identical to
  // aggregate(zip_with(...)) but a compiled loop (graft.functions)
  private def sparkDot(a: String, b: String): String = s"vec_dot($a, $b)"
  private def duckDot(a: String, b: String): String =
    s"""list_sum(list_transform(range(1, 65), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))""".stripMargin
  // sign-LSH hyperplanes: integer-valued weights w[k][d] = (k*73 + d*179) % 97 - 48.
  // sign(dot) is invariant under a positive scale, and float * small-int
  // products are exact in double — so the constant-array codegen'd vec_dot
  // form stays bit-identical to DuckDB's double arithmetic, with no
  // interpreted higher-order functions in the bucketing hot path.
  private def planeWeights(k: Int): Seq[Int] =
    (0 until 64).map(d => (k * 73 + d * 179) % 97 - 48)
  private def sparkPlane(k: Int): String =
    planeWeights(k).map(w => s"CAST($w AS FLOAT)").mkString("array(", ", ", ")")
  // normed-vector CTE: vec_id, embedding, nrm
  private val sparkVecs =
    s"""v AS (SELECT vec_id, embedding, sqrt(${sparkDot("embedding", "embedding")}) AS nrm
       |      FROM embeddings)""".stripMargin
  private val duckVecs =
    s"""v AS (SELECT vec_id, embedding, sqrt(${duckDot("embedding", "embedding")}) AS nrm
       |      FROM embeddings)""".stripMargin

  /** ss8's shared SQL shape (one text, two dialects via the dot
    * renderer): exact top-5 vs IVF top-5 (ss2's fixed-seed layout —
    * 16 cells from vec_id < 16, nprobe = 2), joined on (qid, vec_id)
    * to count hits. */
  /** Shared CTE fragments of the ss8/ss11 recall evals — ONE copy of the
    * assignment and exact-baseline discipline (round(cos, 6) before
    * ranking, cid/vec_id tie-breaks), so the two oracle texts cannot
    * drift (the bm25 shared-builder rule). `recallQSql` takes the query
    * predicate; `recallCentSql` the quantizer size. */
  private def recallCentSql(
      nCells: Int, dot: (String, String) => String): String =
    s"""cent AS (SELECT vec_id AS cid, embedding AS ce, nrm AS cn FROM v WHERE vec_id < $nCells),
       |assign AS (SELECT vec_id, cid FROM (
       |    SELECT e.vec_id, c.cid,
       |           row_number() OVER (PARTITION BY e.vec_id
       |               ORDER BY round(${dot("e.embedding", "c.ce")} / (e.nrm * c.cn), 6) DESC, c.cid) AS rnk
       |    FROM v e CROSS JOIN cent c) a WHERE rnk = 1)""".stripMargin

  private def recallQSql(where: String): String =
    s"q AS (SELECT vec_id AS qid, embedding AS qe, nrm AS qn FROM v $where)"

  private def recallExSql(dot: (String, String) => String): String =
    s"""ex AS (SELECT qid, vec_id FROM (
       |    SELECT qid, vec_id,
       |           row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rnk
       |    FROM (SELECT q.qid, e.vec_id,
       |                 round(${dot("q.qe", "e.embedding")} / (q.qn * e.nrm), 6) AS cos
       |          FROM q CROSS JOIN v e WHERE e.vec_id <> q.qid) c) t
       |    WHERE rnk <= 5)""".stripMargin

  private def annRecallSql(vecs: String, dot: (String, String) => String): String =
    s"""WITH $vecs,
       |${recallCentSql(16, dot)},
       |${recallQSql("WHERE vec_id < 5")},
       |probe AS (SELECT qid, cid FROM (
       |    SELECT q.qid, c.cid,
       |           row_number() OVER (PARTITION BY q.qid
       |               ORDER BY round(${dot("q.qe", "c.ce")} / (q.qn * c.cn), 6) DESC, c.cid) AS rnk
       |    FROM q CROSS JOIN cent c) p WHERE rnk <= 2),
       |iv AS (SELECT qid, vec_id FROM (
       |    SELECT qid, vec_id,
       |           row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rnk
       |    FROM (SELECT q.qid, e.vec_id,
       |                 round(${dot("q.qe", "e.embedding")} / (q.qn * e.nrm), 6) AS cos
       |          FROM q JOIN probe p ON p.qid = q.qid
       |          JOIN assign a ON a.cid = p.cid
       |          JOIN v e ON e.vec_id = a.vec_id AND e.vec_id <> q.qid) c) t
       |    WHERE rnk <= 5),
       |${recallExSql(dot)}
       |SELECT ex.qid, CAST(count(*) AS BIGINT) AS n_exact,
       |       CAST(count(iv.vec_id) AS BIGINT) AS hits,
       |       CAST(count(iv.vec_id) * 20 AS BIGINT) AS recall_pct
       |FROM ex LEFT JOIN iv ON iv.qid = ex.qid AND iv.vec_id = ex.vec_id
       |GROUP BY ex.qid ORDER BY ex.qid""".stripMargin

  /** ss11's shared SQL shape: ss8's recall eval swept across nprobe
    * 1..4 — the TUNING CURVE an IVF deployment actually reads (recall
    * rises with probed cells; the knee picks the operating point). The
    * sweep needs a FINER quantizer than ss8's to be informative: with
    * ss8's 16 cells, one probe already holds every exact neighbour on
    * this corpus (near-dup siblings share the query's cell) and the
    * curve is flat at 100% — measured, so ss11 uses 64 cells and
    * held-out queries (ids 100..104), which yields a real
    * 3/5/8/10-of-25 climb at sf0.01. Corpus-side work is shared across
    * the sweep: ONE cell assignment, ONE per-query cell ranking, and
    * each candidate's cosine scored ONCE (tagged with its cell's rank,
    * max np = 4) — the per-np fan-out only replays cheap row_number
    * windows over the pre-computed scores. recall_pm = hits × 40 (5
    * queries × top-5 = 25 exact slots per np) — integer arithmetic
    * only, so the curve hash-matches in any engine. */
  private def annRecallSweepSql(
      vecs: String, dot: (String, String) => String): String =
    s"""WITH $vecs,
       |${recallCentSql(64, dot)},
       |${recallQSql("WHERE vec_id >= 100 AND vec_id < 105")},
       |nps AS (SELECT np FROM (VALUES (1), (2), (3), (4)) t(np)),
       |cr AS (SELECT q.qid, c.cid,
       |           row_number() OVER (PARTITION BY q.qid
       |               ORDER BY round(${dot("q.qe", "c.ce")} / (q.qn * c.cn), 6) DESC, c.cid) AS rnk
       |       FROM q CROSS JOIN cent c),
       |cand AS (SELECT cr.rnk AS cell_rnk, q.qid, e.vec_id,
       |             round(${dot("q.qe", "e.embedding")} / (q.qn * e.nrm), 6) AS cos
       |         FROM q JOIN cr ON cr.qid = q.qid AND cr.rnk <= 4
       |         JOIN assign a ON a.cid = cr.cid
       |         JOIN v e ON e.vec_id = a.vec_id AND e.vec_id <> q.qid),
       |iv AS (SELECT np, qid, vec_id FROM (
       |    SELECT n.np, c.qid, c.vec_id,
       |           row_number() OVER (PARTITION BY n.np, c.qid ORDER BY c.cos DESC, c.vec_id) AS rnk
       |    FROM nps n JOIN cand c ON c.cell_rnk <= n.np) t
       |    WHERE rnk <= 5),
       |${recallExSql(dot)}
       |SELECT nps.np, CAST(count(*) AS BIGINT) AS n_exact,
       |       CAST(count(iv.vec_id) AS BIGINT) AS hits,
       |       CAST(count(iv.vec_id) * 40 AS BIGINT) AS recall_pm
       |FROM nps CROSS JOIN ex
       |LEFT JOIN iv ON iv.np = nps.np AND iv.qid = ex.qid AND iv.vec_id = ex.vec_id
       |GROUP BY nps.np ORDER BY nps.np""".stripMargin

  private val defs: Seq[Q] = Seq(

    // ------------------------------------------------------------------
    // dd1: exact deduplication — content-hash groupBy (maps to a single
    // shuffle on the hash at scale; keeper = min doc_id).
    Q("dd1_exact_dedup",
      """SELECT md5(text) AS sig, min(doc_id) AS keeper, count(*) AS n_docs
        |FROM documents GROUP BY md5(text) ORDER BY sig""".stripMargin,
      """SELECT md5(text) AS sig, min(doc_id) AS keeper, count(*) AS n_docs
        |FROM documents GROUP BY md5(text) ORDER BY sig""".stripMargin),

    // ------------------------------------------------------------------
    // dd2: MinHash + LSH near-dup pairs. shingle -> ONE md5 base hash ->
    // 12 affine permutations (universal-hash minhash family, Broder '97) ->
    // 4 bands of 3 -> band-signature hash-join -> exact-Jaccard verify at
    // tau=0.8. Everything is partial-aggregable + joins on hashed keys, so
    // the plan survives 1000x scale.
    Q("dd2_minhash_lsh",
      s"""WITH $sparkShingles,
         |$sparkMinhashHs,
         |$minhashSig,
         |$sparkMinhashBands,
         |cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
         |         FROM bands a JOIN bands b
         |           ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id),
         |inter AS (SELECT c.da, c.db, count(*) AS i
         |          FROM cand c
         |          JOIN sh s1 ON s1.doc_id = c.da
         |          JOIN sh s2 ON s2.doc_id = c.db AND s2.shingle = s1.shingle
         |          GROUP BY c.da, c.db),
         |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id)
         |SELECT da AS doc_a, db AS doc_b,
         |       round(CAST(i AS DOUBLE) / (ca.n + cb.n - i), 4) AS jaccard
         |FROM inter JOIN cnt ca ON ca.doc_id = da JOIN cnt cb ON cb.doc_id = db
         |WHERE CAST(i AS DOUBLE) / (ca.n + cb.n - i) >= 0.8
         |ORDER BY doc_a, doc_b""".stripMargin,
      s"""WITH $duckShingles,
         |$duckMinhashHs,
         |$minhashSig,
         |$duckMinhashBands,
         |cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
         |         FROM bands a JOIN bands b
         |           ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id),
         |inter AS (SELECT c.da, c.db, count(*) AS i
         |          FROM cand c
         |          JOIN sh s1 ON s1.doc_id = c.da
         |          JOIN sh s2 ON s2.doc_id = c.db AND s2.shingle = s1.shingle
         |          GROUP BY c.da, c.db),
         |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id)
         |SELECT da AS doc_a, db AS doc_b,
         |       round(CAST(i AS DOUBLE) / (ca.n + cb.n - i), 4) AS jaccard
         |FROM inter JOIN cnt ca ON ca.doc_id = da JOIN cnt cb ON cb.doc_id = db
         |WHERE CAST(i AS DOUBLE) / (ca.n + cb.n - i) >= 0.8
         |ORDER BY doc_a, doc_b""".stripMargin),

    // ------------------------------------------------------------------
    // dd11: INCREMENTAL ingest dedup — the production shape where the
    // corpus's band index is STORED state and only the new batch
    // (doc_id % 10 = 0) is shingled/hashed at ingest
    // (Dedup.incrementalNearDupPairs; superseded by the library override
    // below, which probes the cached stored index). The oracle is dd2's
    // full re-band restricted to pairs touching the batch: candidate
    // generation against a stored index finds exactly the banded pairs
    // with >= 1 batch member, and verification is the same exact Jaccard.
    Q("dd11_incremental_ingest", batchIngestSparkSql, batchIngestDuckSql),

    // ------------------------------------------------------------------
    // dd13: GENERATION MERGE ingest — the rolling-pipeline shape dd11
    // stops short of: generation 0 indexes the base corpus (doc_id % 10
    // NOT IN (0, 5)); batch1 (% 10 = 5) is folded in via
    // Dedup.appendToBandIndex (banding ONLY batch1, never re-banding the
    // corpus); batch2 (% 10 = 0) then probes the MERGED generation. The
    // library override below holds generation 1 as cached stored state.
    // Oracle: IDENTICAL to dd11's (one shared definition — the two chains
    // cannot drift): the full re-band restricted to pairs touching
    // batch2 — band rows are row-local, so an index built by appends is
    // bit-identical to one built at once (PipelineSpec pins it) and finds
    // exactly the same candidates.
    Q("dd13_generation_merge", batchIngestSparkSql, batchIngestDuckSql),

    // ------------------------------------------------------------------
    // dd15: COMPACTED generation probe — dd13's rolling merge taken all
    // the way through the maintenance cycle: generation 0 on DISK, batch1
    // folded in as an append-files DELTA (bandIndexDeltaFor +
    // mode("append") — batch-proportional IO), then
    // IndexMaintenance.compactIndex rewrites the accumulated file-sets as
    // one generation, and batch2 probes the COMPACTED store. Oracle:
    // IDENTICAL to dd11/dd13's (one shared definition) — compaction
    // changes file layout only, never rows, so the probe must land
    // exactly where the in-memory merged generation lands.
    Q("dd15_compacted_generation_probe", batchIngestSparkSql, batchIngestDuckSql),

    // ------------------------------------------------------------------
    // dd3: exact n-gram Jaccard on a deterministic pair sample (metric
    // correctness incl. zero-overlap pairs; LEFT JOIN keeps jaccard=0).
    Q("dd3_ngram_jaccard",
      s"""WITH $sparkShingles,
         |pairs AS (SELECT a.doc_id AS da, b.doc_id AS db FROM documents a
         |          JOIN documents b ON b.doc_id = a.doc_id + 17),
         |inter AS (SELECT s1.doc_id AS da, s2.doc_id AS db, count(*) AS i
         |          FROM sh s1 JOIN sh s2
         |            ON s2.doc_id = s1.doc_id + 17 AND s2.shingle = s1.shingle
         |          GROUP BY s1.doc_id, s2.doc_id),
         |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id)
         |SELECT p.da AS doc_a, p.db AS doc_b,
         |       round(CAST(coalesce(i.i, 0) AS DOUBLE)
         |             / (ca.n + cb.n - coalesce(i.i, 0)), 4) AS jaccard
         |FROM pairs p
         |LEFT JOIN inter i ON i.da = p.da AND i.db = p.db
         |JOIN cnt ca ON ca.doc_id = p.da JOIN cnt cb ON cb.doc_id = p.db
         |ORDER BY doc_a, doc_b""".stripMargin,
      s"""WITH $duckShingles,
         |pairs AS (SELECT a.doc_id AS da, b.doc_id AS db FROM documents a
         |          JOIN documents b ON b.doc_id = a.doc_id + 17),
         |inter AS (SELECT s1.doc_id AS da, s2.doc_id AS db, count(*) AS i
         |          FROM sh s1 JOIN sh s2
         |            ON s2.doc_id = s1.doc_id + 17 AND s2.shingle = s1.shingle
         |          GROUP BY s1.doc_id, s2.doc_id),
         |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id)
         |SELECT p.da AS doc_a, p.db AS doc_b,
         |       round(CAST(coalesce(i.i, 0) AS DOUBLE)
         |             / (ca.n + cb.n - coalesce(i.i, 0)), 4) AS jaccard
         |FROM pairs p
         |LEFT JOIN inter i ON i.da = p.da AND i.db = p.db
         |JOIN cnt ca ON ca.doc_id = p.da JOIN cnt cb ON cb.doc_id = p.db
         |ORDER BY doc_a, doc_b""".stripMargin),

    // ------------------------------------------------------------------
    // dd4: 32-bit SimHash per document from md5 token hashes — the bit-b
    // contribution of a token is the b-th bit of the first 8 hex chars of
    // its md5; weighted by token multiplicity; per-doc = one groupBy.
    Q("dd4_simhash",
      """WITH tok AS (SELECT /*+ REPARTITION(doc_id) */ doc_id, token FROM documents
        |             LATERAL VIEW explode(split(text, ' ')) t AS token),
        |th AS (SELECT doc_id, token, substring(md5(token), 1, 8) AS h8 FROM tok),
        |bits AS (SELECT doc_id, b,
        |         sum(CASE WHEN (shiftright(
        |               CAST(position(substring(h8, CAST(b div 4 AS INT) + 1, 1)
        |                    IN '0123456789abcdef') AS INT) - 1,
        |               3 - CAST(b % 4 AS INT)) % 2) = 1 THEN 1 ELSE -1 END) AS s
        |         FROM th LATERAL VIEW explode(sequence(0, 31)) tb AS b
        |         GROUP BY doc_id, b)
        |SELECT doc_id,
        |       sum(CASE WHEN s > 0 THEN shiftleft(CAST(1 AS BIGINT), CAST(b AS INT))
        |                ELSE CAST(0 AS BIGINT) END) AS simhash
        |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |th AS (SELECT doc_id, token, substring(md5(token), 1, 8) AS h8 FROM tok),
        |bits AS (SELECT doc_id, b,
        |         sum(CASE WHEN ((CAST(position(substring(h8, (b // 4) + 1, 1)
        |                        IN '0123456789abcdef') AS INT) - 1)
        |                        >> (3 - (b % 4))) & 1 = 1 THEN 1 ELSE -1 END) AS s
        |         FROM th, unnest(range(0, 32)) AS tb(b)
        |         GROUP BY doc_id, b)
        |SELECT doc_id,
        |       CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << CAST(b AS INT))
        |                ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash
        |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // ------------------------------------------------------------------
    // dd5: embedding near-dup via 4-bit sign-LSH bucketing (deterministic
    // integer hyperplanes w[k][d] = (k*73 + d*179) % 97 - 48, constant
    // arrays through the codegen'd vec_dot) then exact cosine >= 0.4 within
    // bucket. Bucket join replaces the O(n^2) cross join — the 100 TB path.
    Q("dd5_embedding_neardup",
      s"""WITH $sparkVecs,
         |buck AS (
         |  SELECT vec_id, embedding, nrm,
         |    ${(0 until 4).map(k =>
               s"(CASE WHEN vec_dot(embedding, ${sparkPlane(k)}) >= 0 " +
                 s"THEN CAST(${1L << k} AS BIGINT) ELSE CAST(0 AS BIGINT) END)")
               .mkString("\n         |    + ")} AS bucket
         |  FROM v)
         |SELECT vec_a, vec_b, round(c, 4) AS cos FROM (
         |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |         ${sparkDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS c
         |  FROM buck a JOIN buck b ON a.bucket = b.bucket AND a.vec_id < b.vec_id) p
         |WHERE c >= 0.4
         |ORDER BY vec_a, vec_b""".stripMargin,
      s"""WITH $duckVecs,
         |buck AS (
         |  SELECT vec_id, embedding, nrm,
         |    list_sum(list_transform(range(0, 4), k ->
         |      CASE WHEN list_sum(list_transform(range(0, 64),
         |             d -> CAST(embedding[d + 1] AS DOUBLE)
         |                  * CAST((k * 73 + d * 179) % 97 - 48 AS DOUBLE))) >= 0
         |      THEN (CAST(1 AS BIGINT) << k) ELSE CAST(0 AS BIGINT) END)) AS bucket
         |  FROM v)
         |SELECT vec_a, vec_b, round(c, 4) AS cos FROM (
         |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |         ${duckDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS c
         |  FROM buck a JOIN buck b ON a.bucket = b.bucket AND a.vec_id < b.vec_id) p
         |WHERE c >= 0.4
         |ORDER BY vec_a, vec_b""".stripMargin),

    // ------------------------------------------------------------------
    // ss1: brute-force cosine top-k (the exact baseline an ANN variant is
    // judged against). Ranking on round(cos, 6) with vec_id tiebreak keeps
    // the result independent of float summation order.
    // ss9: FILTERED vector search — hard-negative mining for contrastive
    // training: for each query vector, the top-5 most-similar vectors of a
    // DIFFERENT label (the metadata predicate prunes candidates BEFORE
    // scoring — at scale the filter pushes into the candidate scan, so a
    // selective predicate shrinks the scored set, not just the output).
    // Brute-force teaching baseline like ss1; the IVF/PQ paths compose the
    // same predicate ahead of their coarse quantizer.
    Q("ss9_filtered_topk",
      s"""WITH vl AS (SELECT vec_id, label, embedding,
         |             sqrt(${sparkDot("embedding", "embedding")}) AS nrm
         |           FROM embeddings),
         |q AS (SELECT vec_id AS qid, label AS qlab, embedding AS qe, nrm AS qn
         |      FROM vl WHERE vec_id < 5),
         |c AS (SELECT qid, e.vec_id AS vec_id,
         |             round(${sparkDot("qe", "e.embedding")} / (qn * e.nrm), 6) AS cos
         |      FROM q JOIN vl e ON e.label <> q.qlab)
         |SELECT qid, vec_id, cos FROM (
         |  SELECT qid, vec_id, cos,
         |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rnk
         |  FROM c) t
         |WHERE rnk <= 5 ORDER BY qid, cos DESC, vec_id""".stripMargin,
      s"""WITH vl AS (SELECT vec_id, label, embedding,
         |             sqrt(${duckDot("embedding", "embedding")}) AS nrm
         |           FROM embeddings),
         |q AS (SELECT vec_id AS qid, label AS qlab, embedding AS qe, nrm AS qn
         |      FROM vl WHERE vec_id < 5),
         |c AS (SELECT qid, e.vec_id AS vec_id,
         |             round(${duckDot("qe", "e.embedding")} / (qn * e.nrm), 6) AS cos
         |      FROM q JOIN vl e ON e.label <> q.qlab)
         |SELECT qid, vec_id, cos FROM (
         |  SELECT qid, vec_id, cos,
         |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rnk
         |  FROM c) t
         |WHERE rnk <= 5 ORDER BY qid, cos DESC, vec_id""".stripMargin),

    Q("ss1_bruteforce_topk",
      s"""WITH $sparkVecs,
         |q AS (SELECT vec_id AS qid, embedding AS qe, nrm AS qn FROM v WHERE vec_id < 5),
         |c AS (SELECT qid, e.vec_id AS vec_id,
         |             round(${sparkDot("qe", "e.embedding")} / (qn * e.nrm), 6) AS cos
         |      FROM q CROSS JOIN v e WHERE e.vec_id <> qid)
         |SELECT qid, vec_id, cos FROM (
         |  SELECT qid, vec_id, cos,
         |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rnk
         |  FROM c) t
         |WHERE rnk <= 10 ORDER BY qid, cos DESC, vec_id""".stripMargin,
      s"""WITH $duckVecs,
         |q AS (SELECT vec_id AS qid, embedding AS qe, nrm AS qn FROM v WHERE vec_id < 5),
         |c AS (SELECT qid, e.vec_id AS vec_id,
         |             round(${duckDot("qe", "e.embedding")} / (qn * e.nrm), 6) AS cos
         |      FROM q CROSS JOIN v e WHERE e.vec_id <> qid)
         |SELECT qid, vec_id, cos FROM (
         |  SELECT qid, vec_id, cos,
         |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rnk
         |  FROM c) t
         |WHERE rnk <= 10 ORDER BY qid, cos DESC, vec_id""".stripMargin),

    // ------------------------------------------------------------------
    // dc3: SEMANTIC decontamination — dc1/dc2 catch verbatim n-gram
    // overlap; paraphrased eval leakage needs the embedding-space check
    // (the "semantic dedup against the benchmark" pass of modern data
    // builds). Every corpus vector reports its nearest EVAL-set vector;
    // cos ≥ 0.25 flags it with the eval item it leaks. Scale shape:
    // the eval side is benchmark suites — tiny vs the corpus — so it
    // broadcasts and the corpus side is ONE scan with a row-local argmax
    // over the broadcast eval matrix (the ss1 cross-join here is the
    // oracle-replayable spelling of exactly that plan; Catalyst
    // broadcasts the 2%-slice side). Determinism: cosines quantize to
    // 1e-6 with eval-id tiebreak before the argmax. Eval stand-in:
    // vec_id % 50 = 7.
    Q("dc3_semantic_decontamination",
      s"""WITH $sparkVecs,
         |ev AS (SELECT vec_id AS qid, embedding AS qe, nrm AS qn FROM v
         |       WHERE vec_id % 50 = 7),
         |hit AS (SELECT e.vec_id, q.qid,
         |               round(${sparkDot("e.embedding", "q.qe")} / (e.nrm * q.qn), 6) AS cos
         |        FROM v e CROSS JOIN ev q WHERE e.vec_id % 50 <> 7)
         |SELECT vec_id, qid AS eval_id, cos AS max_cos
         |FROM (SELECT vec_id, qid, cos,
         |             row_number() OVER (PARTITION BY vec_id
         |                 ORDER BY cos DESC, qid) AS rnk
         |      FROM hit) t
         |WHERE rnk = 1 AND cos >= 0.25
         |ORDER BY vec_id""".stripMargin,
      s"""WITH $duckVecs,
         |ev AS (SELECT vec_id AS qid, embedding AS qe, nrm AS qn FROM v
         |       WHERE vec_id % 50 = 7),
         |hit AS (SELECT e.vec_id, q.qid,
         |               round(${duckDot("e.embedding", "q.qe")} / (e.nrm * q.qn), 6) AS cos
         |        FROM v e CROSS JOIN ev q WHERE e.vec_id % 50 <> 7)
         |SELECT vec_id, qid AS eval_id, cos AS max_cos
         |FROM (SELECT vec_id, qid, cos,
         |             row_number() OVER (PARTITION BY vec_id
         |                 ORDER BY cos DESC, qid) AS rnk
         |      FROM hit) t
         |WHERE rnk = 1 AND cos >= 0.25
         |ORDER BY vec_id""".stripMargin),

    // ------------------------------------------------------------------
    // ss8: ANN RECALL@K EVAL — the index-quality dashboard every
    // approximate-retrieval deployment tunes against: per query, how many
    // of the exact brute-force top-5 does the IVF index (ss2's
    // fixed-seed variant: 16 cells, nprobe=2) actually return? Recall is
    // integer hits-of-5 (×20 = percent), so the result hash-matches in
    // any engine. Both rankings quantize cosines to 1e-6 before ranking
    // (the ss-family determinism rule). Scale shape: the exact side is
    // the teaching baseline (like ss1) — at corpus scale the eval runs
    // over a SAMPLE of queries, and the index side reuses the stored
    // cells; the comparison itself is a key-join on (qid, vec_id).
    Q("ss8_ann_recall",
      annRecallSql(sparkVecs, sparkDot),
      annRecallSql(duckVecs, duckDot)),

    // ------------------------------------------------------------------
    // ss11: RECALL-vs-NPROBE TUNING CURVE — ss8's eval swept across
    // nprobe 1..4, the dashboard an IVF deployment reads to pick its
    // operating point (recall rises with probed cells; the knee is the
    // answer). One cell assignment + one per-query cell ranking shared
    // across the whole sweep; recall in integer per-mille (hits × 40
    // over the 25 exact slots) so the curve hash-matches in any engine.
    // At corpus scale this runs over a query SAMPLE against the stored
    // index — the same eval-side shape as ss8.
    Q("ss11_recall_sweep",
      annRecallSweepSql(sparkVecs, sparkDot),
      annRecallSweepSql(duckVecs, duckDot)),

    // ------------------------------------------------------------------
    // ss7: margin-based BITEXT MINING (Artetxe & Schwenk 2019, ratio
    // margin) — the multilingual-pipeline op that mines translation pairs
    // between two embedding spaces: a pair qualifies when x and y are
    // each other's MUTUAL nearest neighbor and their cosine stands out
    // against both sides' k-NN neighborhoods
    // (margin = cos(x,y) / mean(kNN-cos of x, kNN-cos of y)). Label
    // groups 0/1 stand in for the two languages. Determinism: cosines
    // quantize to 1e-6 integers BEFORE the k-NN averages (a 4-double avg
    // would be summation-order-dependent), so every downstream value is
    // arithmetic on exact integers. Scale shape: the cross join is the
    // BRUTE-FORCE baseline (like ss1) — at corpus scale candidates come
    // from the IVF/PQ index family (ss3/ss6) and the margin rescoring
    // touches only candidate pairs.
    Q("ss7_margin_bitext",
      s"""WITH v AS (SELECT vec_id, label, embedding,
         |             sqrt(${sparkDot("embedding", "embedding")}) AS nrm
         |           FROM embeddings WHERE label IN (0, 1)),
         |c AS (SELECT x.vec_id AS xid, y.vec_id AS yid,
         |        CAST(floor(${sparkDot("x.embedding", "y.embedding")}
         |          / (x.nrm * y.nrm) * 1e6) AS BIGINT) AS cu6
         |      FROM (SELECT * FROM v WHERE label = 0) x
         |      CROSS JOIN (SELECT * FROM v WHERE label = 1) y),
         |rx AS (SELECT xid, yid, cu6,
         |         row_number() OVER (PARTITION BY xid ORDER BY cu6 DESC, yid) AS rnk
         |       FROM c),
         |ry AS (SELECT xid, yid, cu6,
         |         row_number() OVER (PARTITION BY yid ORDER BY cu6 DESC, xid) AS rnk
         |       FROM c),
         |nx AS (SELECT xid, CAST(sum(cu6) AS BIGINT) AS ksum, CAST(count(*) AS BIGINT) AS kn
         |       FROM rx WHERE rnk <= 4 GROUP BY xid),
         |ny AS (SELECT yid, CAST(sum(cu6) AS BIGINT) AS ksum, CAST(count(*) AS BIGINT) AS kn
         |       FROM ry WHERE rnk <= 4 GROUP BY yid),
         |best AS (SELECT r1.xid, r1.yid, r1.cu6
         |         FROM rx r1 JOIN ry r2 ON r1.xid = r2.xid AND r1.yid = r2.yid
         |         WHERE r1.rnk = 1 AND r2.rnk = 1)
         |SELECT b.xid, b.yid, b.cu6 AS cos_u6,
         |       CAST(floor(b.cu6 / ((nx.ksum / CAST(nx.kn AS DOUBLE)
         |             + ny.ksum / CAST(ny.kn AS DOUBLE)) / 2) * 1e6) AS BIGINT) AS margin_u6,
         |       (b.cu6 / ((nx.ksum / CAST(nx.kn AS DOUBLE)
         |             + ny.ksum / CAST(ny.kn AS DOUBLE)) / 2) >= CAST(1.05 AS DOUBLE)) AS accept
         |FROM best b JOIN nx ON nx.xid = b.xid JOIN ny ON ny.yid = b.yid
         |ORDER BY b.xid""".stripMargin,
      s"""WITH v AS (SELECT vec_id, label, embedding,
         |             sqrt(${duckDot("embedding", "embedding")}) AS nrm
         |           FROM embeddings WHERE label IN (0, 1)),
         |c AS (SELECT x.vec_id AS xid, y.vec_id AS yid,
         |        CAST(floor(${duckDot("x.embedding", "y.embedding")}
         |          / (x.nrm * y.nrm) * 1e6) AS BIGINT) AS cu6
         |      FROM (SELECT * FROM v WHERE label = 0) x
         |      CROSS JOIN (SELECT * FROM v WHERE label = 1) y),
         |rx AS (SELECT xid, yid, cu6,
         |         row_number() OVER (PARTITION BY xid ORDER BY cu6 DESC, yid) AS rnk
         |       FROM c),
         |ry AS (SELECT xid, yid, cu6,
         |         row_number() OVER (PARTITION BY yid ORDER BY cu6 DESC, xid) AS rnk
         |       FROM c),
         |nx AS (SELECT xid, CAST(sum(cu6) AS BIGINT) AS ksum, CAST(count(*) AS BIGINT) AS kn
         |       FROM rx WHERE rnk <= 4 GROUP BY xid),
         |ny AS (SELECT yid, CAST(sum(cu6) AS BIGINT) AS ksum, CAST(count(*) AS BIGINT) AS kn
         |       FROM ry WHERE rnk <= 4 GROUP BY yid),
         |best AS (SELECT r1.xid, r1.yid, r1.cu6
         |         FROM rx r1 JOIN ry r2 ON r1.xid = r2.xid AND r1.yid = r2.yid
         |         WHERE r1.rnk = 1 AND r2.rnk = 1)
         |SELECT b.xid, b.yid, b.cu6 AS cos_u6,
         |       CAST(floor(b.cu6 / ((nx.ksum / CAST(nx.kn AS DOUBLE)
         |             + ny.ksum / CAST(ny.kn AS DOUBLE)) / 2) * 1e6) AS BIGINT) AS margin_u6,
         |       (b.cu6 / ((nx.ksum / CAST(nx.kn AS DOUBLE)
         |             + ny.ksum / CAST(ny.kn AS DOUBLE)) / 2) >= CAST(1.05 AS DOUBLE)) AS accept
         |FROM best b JOIN nx ON nx.xid = b.xid JOIN ny ON ny.yid = b.yid
         |ORDER BY b.xid""".stripMargin),

    // ------------------------------------------------------------------
    // ss4: int8 SCALAR-QUANTIZED search + exact rerank — the memory-
    // compression serving pattern: per-vector symmetric quantization
    // q_i = floor(v_i * 127 / max|v| + 0.5) shrinks the candidate scan 4x
    // (int8 vs float32 — at 100 TB of embeddings that is the difference
    // between an in-memory and a spilling shuffle), candidates rank by
    // quantized cosine (exact integer dot products), and the final page
    // reranks with the full-precision cosine. Quantization is one
    // per-vector pass (O(n)); the pairwise work runs on the codegen'd
    // vec_dot against the compact vectors. The oracle reproduces the
    // identical integer arithmetic — quantized ranks match bit-for-bit.
    Q("ss4_quantized_topk",
      """WITH base AS (
        |  SELECT vec_id, embedding,
        |         sqrt(vec_dot(embedding, embedding)) AS nrm,
        |         greatest(array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE)))),
        |                  CAST(1e-30 AS DOUBLE)) AS ma
        |  FROM embeddings),
        |qz AS (SELECT vec_id,
        |              transform(embedding, x ->
        |                CAST(floor(CAST(x AS DOUBLE) * 127 / ma + CAST(0.5 AS DOUBLE)) AS FLOAT)) AS qv
        |       FROM base),
        |qn AS (SELECT vec_id, qv, sqrt(vec_dot(qv, qv)) AS qnrm FROM qz),
        |cand AS (SELECT q.vec_id AS qid, c.vec_id AS vid,
        |                vec_dot(q.qv, c.qv) / (q.qnrm * c.qnrm) AS qcos
        |         FROM qn q JOIN qn c ON c.vec_id <> q.vec_id
        |         WHERE q.vec_id IN (0, 1, 2, 3, 4)),
        |top AS (SELECT qid, vid, qcos,
        |               row_number() OVER (PARTITION BY qid ORDER BY qcos DESC, vid) AS rnk
        |        FROM cand)
        |SELECT t.qid, t.vid AS vec_id, round(t.qcos, 6) AS qcos,
        |       round(vec_dot(a.embedding, b.embedding) / (a.nrm * b.nrm), 6) AS exact_cos
        |FROM top t JOIN base a ON a.vec_id = t.qid JOIN base b ON b.vec_id = t.vid
        |WHERE t.rnk <= 5
        |ORDER BY t.qid, t.rnk""".stripMargin,
      s"""WITH base AS (
         |  SELECT vec_id, embedding,
         |         sqrt(${duckDot("embedding", "embedding")}) AS nrm,
         |         greatest(list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))),
         |                  CAST(1e-30 AS DOUBLE)) AS ma
         |  FROM embeddings),
         |qz AS (SELECT vec_id,
         |              list_transform(embedding, x ->
         |                floor(CAST(x AS DOUBLE) * 127 / ma + CAST(0.5 AS DOUBLE))) AS qv
         |       FROM base),
         |qn AS (SELECT vec_id, qv,
         |              sqrt(list_sum(list_transform(range(1, 65), i -> qv[i] * qv[i]))) AS qnrm
         |       FROM qz),
         |cand AS (SELECT q.vec_id AS qid, c.vec_id AS vid,
         |                list_sum(list_transform(range(1, 65), i -> q.qv[i] * c.qv[i]))
         |                  / (q.qnrm * c.qnrm) AS qcos
         |         FROM qn q JOIN qn c ON c.vec_id <> q.vec_id
         |         WHERE q.vec_id IN (0, 1, 2, 3, 4)),
         |top AS (SELECT qid, vid, qcos,
         |               row_number() OVER (PARTITION BY qid ORDER BY qcos DESC, vid) AS rnk
         |        FROM cand)
         |SELECT t.qid, t.vid AS vec_id, round(t.qcos, 6) AS qcos,
         |       round(${duckDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm), 6) AS exact_cos
         |FROM top t JOIN base a ON a.vec_id = t.qid JOIN base b ON b.vec_id = t.vid
         |WHERE t.rnk <= 5
         |ORDER BY t.qid, t.rnk""".stripMargin),

    // ------------------------------------------------------------------
    // ss2: IVF-style ANN — 16 deterministic seed centroids (vec_id < 16),
    // every vector assigned to its nearest centroid, queries probe the 2
    // nearest centroid cells only. The partition-prune shape of a 100 TB
    // vector search: assignment is a bounded 16-way comparison, search
    // touches ~2/16 of the data.
    Q("ss2_ivf_topk",
      s"""WITH $sparkVecs,
         |cent AS (SELECT vec_id AS cid, embedding AS ce, nrm AS cn FROM v WHERE vec_id < 16),
         |assign AS (SELECT vec_id, cid FROM (
         |    SELECT e.vec_id, c.cid,
         |           row_number() OVER (PARTITION BY e.vec_id
         |               ORDER BY round(${sparkDot("e.embedding", "c.ce")} / (e.nrm * c.cn), 6) DESC, c.cid) AS rnk
         |    FROM v e CROSS JOIN cent c) a WHERE rnk = 1),
         |q AS (SELECT vec_id AS qid, embedding AS qe, nrm AS qn FROM v WHERE vec_id < 5),
         |probe AS (SELECT qid, cid FROM (
         |    SELECT q.qid, c.cid,
         |           row_number() OVER (PARTITION BY q.qid
         |               ORDER BY round(${sparkDot("q.qe", "c.ce")} / (q.qn * c.cn), 6) DESC, c.cid) AS rnk
         |    FROM q CROSS JOIN cent c) p WHERE rnk <= 2),
         |c AS (SELECT q.qid, e.vec_id,
         |             round(${sparkDot("q.qe", "e.embedding")} / (q.qn * e.nrm), 6) AS cos
         |      FROM q JOIN probe p ON p.qid = q.qid
         |      JOIN assign a ON a.cid = p.cid
         |      JOIN v e ON e.vec_id = a.vec_id AND e.vec_id <> q.qid)
         |SELECT qid, vec_id, cos FROM (
         |  SELECT qid, vec_id, cos,
         |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rnk
         |  FROM c) t
         |WHERE rnk <= 5 ORDER BY qid, cos DESC, vec_id""".stripMargin,
      s"""WITH $duckVecs,
         |cent AS (SELECT vec_id AS cid, embedding AS ce, nrm AS cn FROM v WHERE vec_id < 16),
         |assign AS (SELECT vec_id, cid FROM (
         |    SELECT e.vec_id, c.cid,
         |           row_number() OVER (PARTITION BY e.vec_id
         |               ORDER BY round(${duckDot("e.embedding", "c.ce")} / (e.nrm * c.cn), 6) DESC, c.cid) AS rnk
         |    FROM v e CROSS JOIN cent c) a WHERE rnk = 1),
         |q AS (SELECT vec_id AS qid, embedding AS qe, nrm AS qn FROM v WHERE vec_id < 5),
         |probe AS (SELECT qid, cid FROM (
         |    SELECT q.qid, c.cid,
         |           row_number() OVER (PARTITION BY q.qid
         |               ORDER BY round(${duckDot("q.qe", "c.ce")} / (q.qn * c.cn), 6) DESC, c.cid) AS rnk
         |    FROM q CROSS JOIN cent c) p WHERE rnk <= 2),
         |c AS (SELECT q.qid, e.vec_id,
         |             round(${duckDot("q.qe", "e.embedding")} / (q.qn * e.nrm), 6) AS cos
         |      FROM q JOIN probe p ON p.qid = q.qid
         |      JOIN assign a ON a.cid = p.cid
         |      JOIN v e ON e.vec_id = a.vec_id AND e.vec_id <> q.qid)
         |SELECT qid, vec_id, cos FROM (
         |  SELECT qid, vec_id, cos,
         |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rnk
         |  FROM c) t
         |WHERE rnk <= 5 ORDER BY qid, cos DESC, vec_id""".stripMargin),

    // ------------------------------------------------------------------
    // ss10: FILTERED IVF — ss9's scale path. ss9 brute-scores every
    // filter-passing row (exact, but scored mass grows with the corpus:
    // the sf1→sf3 curve's worst growth at 2.34×); here the label
    // predicate composes with ss2's coarse quantizer, so the scored set
    // is (nprobe probed cells ∩ label <> query's) — bounded by cell
    // occupancy, independent of how many rows pass the filter overall.
    // The query routes through Similarity.ivfFilteredTopK (TopKPerGroup
    // ranking); this SQL form is the two-implementation check and the
    // oracle replays the identical assignment/probe/filter arithmetic.
    Q("ss10_filtered_ivf",
      s"""WITH vl AS (SELECT vec_id, label, embedding,
         |             sqrt(${sparkDot("embedding", "embedding")}) AS nrm
         |           FROM embeddings),
         |cent AS (SELECT vec_id AS cid, embedding AS ce, nrm AS cn FROM vl WHERE vec_id < 16),
         |assign AS (SELECT vec_id, cid FROM (
         |    SELECT e.vec_id, c.cid,
         |           row_number() OVER (PARTITION BY e.vec_id
         |               ORDER BY round(${sparkDot("e.embedding", "c.ce")} / (e.nrm * c.cn), 6) DESC, c.cid) AS rnk
         |    FROM vl e CROSS JOIN cent c) a WHERE rnk = 1),
         |q AS (SELECT vec_id AS qid, label AS qlab, embedding AS qe, nrm AS qn
         |      FROM vl WHERE vec_id < 5),
         |probe AS (SELECT qid, cid FROM (
         |    SELECT q.qid, c.cid,
         |           row_number() OVER (PARTITION BY q.qid
         |               ORDER BY round(${sparkDot("q.qe", "c.ce")} / (q.qn * c.cn), 6) DESC, c.cid) AS rnk
         |    FROM q CROSS JOIN cent c) p WHERE rnk <= 2),
         |c AS (SELECT q.qid, e.vec_id,
         |             round(${sparkDot("q.qe", "e.embedding")} / (q.qn * e.nrm), 6) AS cos
         |      FROM q JOIN probe p ON p.qid = q.qid
         |      JOIN assign a ON a.cid = p.cid
         |      JOIN vl e ON e.vec_id = a.vec_id AND e.vec_id <> q.qid
         |                AND e.label <> q.qlab)
         |SELECT qid, vec_id, cos FROM (
         |  SELECT qid, vec_id, cos,
         |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rnk
         |  FROM c) t
         |WHERE rnk <= 5 ORDER BY qid, cos DESC, vec_id""".stripMargin,
      s"""WITH vl AS (SELECT vec_id, label, embedding,
         |             sqrt(${duckDot("embedding", "embedding")}) AS nrm
         |           FROM embeddings),
         |cent AS (SELECT vec_id AS cid, embedding AS ce, nrm AS cn FROM vl WHERE vec_id < 16),
         |assign AS (SELECT vec_id, cid FROM (
         |    SELECT e.vec_id, c.cid,
         |           row_number() OVER (PARTITION BY e.vec_id
         |               ORDER BY round(${duckDot("e.embedding", "c.ce")} / (e.nrm * c.cn), 6) DESC, c.cid) AS rnk
         |    FROM vl e CROSS JOIN cent c) a WHERE rnk = 1),
         |q AS (SELECT vec_id AS qid, label AS qlab, embedding AS qe, nrm AS qn
         |      FROM vl WHERE vec_id < 5),
         |probe AS (SELECT qid, cid FROM (
         |    SELECT q.qid, c.cid,
         |           row_number() OVER (PARTITION BY q.qid
         |               ORDER BY round(${duckDot("q.qe", "c.ce")} / (q.qn * c.cn), 6) DESC, c.cid) AS rnk
         |    FROM q CROSS JOIN cent c) p WHERE rnk <= 2),
         |c AS (SELECT q.qid, e.vec_id,
         |             round(${duckDot("q.qe", "e.embedding")} / (q.qn * e.nrm), 6) AS cos
         |      FROM q JOIN probe p ON p.qid = q.qid
         |      JOIN assign a ON a.cid = p.cid
         |      JOIN vl e ON e.vec_id = a.vec_id AND e.vec_id <> q.qid
         |                AND e.label <> q.qlab)
         |SELECT qid, vec_id, cos FROM (
         |  SELECT qid, vec_id, cos,
         |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rnk
         |  FROM c) t
         |WHERE rnk <= 5 ORDER BY qid, cos DESC, vec_id""".stripMargin),

    // ------------------------------------------------------------------
    // tx1: n-gram/stopword language ID heuristic with deterministic argmax
    Q("tx1_langid",
      """SELECT doc_id, lang,
        |       en_score, de_score, fr_score, es_score,
        |       CASE WHEN en_score >= greatest(de_score, fr_score, es_score) THEN 'en'
        |            WHEN de_score >= greatest(fr_score, es_score) THEN 'de'
        |            WHEN fr_score >= es_score THEN 'fr' ELSE 'es' END AS predicted
        |FROM (SELECT doc_id, lang,
        |  CAST(size(filter(split(lower(text), ' '),
        |       t -> t IN ('the', 'a', 'and', 'of', 'to', 'in', 'is', 'it'))) AS BIGINT) AS en_score,
        |  CAST(size(filter(split(lower(text), ' '),
        |       t -> t IN ('der', 'die', 'das', 'und', 'ist'))) AS BIGINT) AS de_score,
        |  CAST(size(filter(split(lower(text), ' '),
        |       t -> t IN ('le', 'les', 'et', 'est'))) AS BIGINT) AS fr_score,
        |  CAST(size(filter(split(lower(text), ' '),
        |       t -> t IN ('el', 'los', 'y', 'es'))) AS BIGINT) AS es_score
        |  FROM documents) s
        |ORDER BY doc_id""".stripMargin,
      """SELECT doc_id, lang,
        |       en_score, de_score, fr_score, es_score,
        |       CASE WHEN en_score >= greatest(de_score, fr_score, es_score) THEN 'en'
        |            WHEN de_score >= greatest(fr_score, es_score) THEN 'de'
        |            WHEN fr_score >= es_score THEN 'fr' ELSE 'es' END AS predicted
        |FROM (SELECT doc_id, lang,
        |  CAST(len(list_filter(string_split(lower(text), ' '),
        |       t -> t IN ('the', 'a', 'and', 'of', 'to', 'in', 'is', 'it'))) AS BIGINT) AS en_score,
        |  CAST(len(list_filter(string_split(lower(text), ' '),
        |       t -> t IN ('der', 'die', 'das', 'und', 'ist'))) AS BIGINT) AS de_score,
        |  CAST(len(list_filter(string_split(lower(text), ' '),
        |       t -> t IN ('le', 'les', 'et', 'est'))) AS BIGINT) AS fr_score,
        |  CAST(len(list_filter(string_split(lower(text), ' '),
        |       t -> t IN ('el', 'los', 'y', 'es'))) AS BIGINT) AS es_score
        |  FROM documents) s
        |ORDER BY doc_id""".stripMargin),

    // ------------------------------------------------------------------
    // tx2: quality scoring — length/stopword/avg-token-length ratios
    Q("tx2_quality",
      """SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(size(split(text, ' ')) AS BIGINT) AS n_tokens,
        |  round(length(replace(text, ' ', '')) / CAST(size(split(text, ' ')) AS DOUBLE), 4) AS avg_token_len,
        |  round(CAST(size(filter(split(lower(text), ' '),
        |        t -> t IN ('the', 'a', 'and', 'of', 'to', 'in', 'is', 'it'))) AS DOUBLE)
        |        / size(split(text, ' ')), 4) AS stopword_ratio,
        |  round(least(CAST(1.0 AS DOUBLE), size(split(text, ' ')) / CAST(100.0 AS DOUBLE)), 4) AS length_score
        |FROM documents ORDER BY doc_id""".stripMargin,
      """SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  round(length(replace(text, ' ', '')) / CAST(len(string_split(text, ' ')) AS DOUBLE), 4) AS avg_token_len,
        |  round(CAST(len(list_filter(string_split(lower(text), ' '),
        |        t -> t IN ('the', 'a', 'and', 'of', 'to', 'in', 'is', 'it'))) AS DOUBLE)
        |        / len(string_split(text, ' ')), 4) AS stopword_ratio,
        |  round(least(CAST(1.0 AS DOUBLE), len(string_split(text, ' ')) / CAST(100.0 AS DOUBLE)), 4) AS length_score
        |FROM documents ORDER BY doc_id""".stripMargin),

    // ------------------------------------------------------------------
    // tx3: token counting — whitespace + regex (BPE-ish word/number split)
    Q("tx3_token_count",
      """SELECT doc_id,
        |  CAST(size(split(text, ' ')) AS BIGINT) AS ws_tokens,
        |  CAST(size(regexp_extract_all(text, '[a-z]+|[0-9]+', 0)) AS BIGINT) AS re_tokens,
        |  round(length(text) / CAST(size(regexp_extract_all(text, '[a-z]+|[0-9]+', 0)) AS DOUBLE), 4)
        |    AS chars_per_token
        |FROM documents ORDER BY doc_id""".stripMargin,
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS BIGINT) AS re_tokens,
        |  round(length(text) / CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS DOUBLE), 4)
        |    AS chars_per_token
        |FROM documents ORDER BY doc_id""".stripMargin),

    // ------------------------------------------------------------------
    // tx4: document fingerprinting — exact md5 + min-shingle (winnowing-
    // style content fingerprint robust to small edits)
    Q("tx4_fingerprint",
      """SELECT doc_id, md5(lower(text)) AS fp_exact,
        |  array_min(transform(word_ngrams(text, 5), g -> md5(g))) AS fp_min_shingle
        |FROM documents ORDER BY doc_id""".stripMargin,
      """SELECT doc_id, md5(lower(text)) AS fp_exact,
        |  list_aggregate(list_transform(range(0, greatest(len(string_split(text, ' ')) - 4, 1)),
        |    i -> md5(array_to_string(list_slice(string_split(text, ' '), i + 1, i + 5), ' '))), 'min')
        |    AS fp_min_shingle
        |FROM documents ORDER BY doc_id""".stripMargin),

    // ------------------------------------------------------------------
    // tx6: WINNOWING document fingerprints (the MOSS algorithm): hash
    // every word 4-gram, slide a window of 5 hashes, keep each window's
    // minimum — guarantees any shared run of >= 8 words between two docs
    // shares a selected fingerprint, at ~1/5 the stored fingerprints of
    // tx4's full shingle set. All row-local array work (one pass, no
    // shuffle); the selected-set size and extremes summarize per doc.
    Q("tx6_winnowing",
      s"""WITH g AS (SELECT doc_id, ${TextAnalysis.gramHashesSparkExpr("text")} AS h
         |           FROM documents),
         |w AS (SELECT doc_id, ${TextAnalysis.winnowFromGramsSparkExpr("h")} AS fp FROM g)
         |SELECT doc_id, CAST(size(fp) AS BIGINT) AS n_fingerprints,
         |       array_min(fp) AS fp_min, array_max(fp) AS fp_max
         |FROM w ORDER BY doc_id""".stripMargin,
      """WITH g AS (SELECT doc_id,
        |             list_transform(range(0, greatest(len(string_split(text, ' ')) - 3, 1)),
        |               i -> md5(array_to_string(list_slice(string_split(text, ' '), i + 1, i + 4), ' '))) AS h
        |           FROM documents),
        |w AS (SELECT doc_id,
        |             list_distinct(list_transform(range(0, greatest(len(h) - 4, 1)),
        |               i -> list_aggregate(list_slice(h, i + 1, i + 5), 'min'))) AS fp
        |      FROM g)
        |SELECT doc_id, CAST(len(fp) AS BIGINT) AS n_fingerprints,
        |       list_aggregate(fp, 'min') AS fp_min, list_aggregate(fp, 'max') AS fp_max
        |FROM w ORDER BY doc_id""".stripMargin),

    // ------------------------------------------------------------------
    // tx7: corpus-level UNIGRAM LM scoring — the model-based quality signal
    // (CCNet-style): one groupBy builds the token-count model, the token
    // stream joins it back (the override broadcasts it explicitly), and
    // per-doc log-likelihood reduces in one aggregation. Tokens seen < 5
    // times are OOV and score at a 0.5-count floor. Per-token log-probs
    // quantize to integer micro-logs (round(ln(p)*1e6)) so document sums
    // are exact integer arithmetic — order- and engine-reproducible; ln's
    // last-ulp wobble sits ~10 orders of magnitude below the quantum.
    // Library form: TextAnalysis.unigramLm.
    Q("tx7_unigram_lm",
      """WITH tok AS (SELECT /*+ REPARTITION(doc_id) */ doc_id, token
        |             FROM documents LATERAL VIEW explode(split(text, ' ')) t AS token),
        |counts AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token),
        |tot AS (SELECT sum(cnt) AS total FROM counts),
        |scored AS (SELECT doc_id,
        |    CASE WHEN m.cnt IS NULL THEN 1 ELSE 0 END AS oov,
        |    CAST(round(ln(CAST(coalesce(m.cnt * 2, 1) AS DOUBLE) / (2 * tot.total)) * 1e6) AS BIGINT) AS lp
        |  FROM tok LEFT JOIN (SELECT * FROM counts WHERE cnt >= 5) m USING (token)
        |  CROSS JOIN tot)
        |SELECT doc_id, count(*) AS n_tokens, sum(oov) AS n_oov, sum(lp) AS logp_u6,
        |       CAST(round(sum(lp) / CAST(count(*) AS DOUBLE)) AS BIGINT) AS avg_logp_u6
        |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      """WITH tok AS (SELECT doc_id, token
        |             FROM documents, unnest(string_split(text, ' ')) AS u(token)),
        |counts AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token),
        |tot AS (SELECT sum(cnt) AS total FROM counts),
        |scored AS (SELECT doc_id,
        |    CASE WHEN m.cnt IS NULL THEN 1 ELSE 0 END AS oov,
        |    CAST(round(ln(CAST(coalesce(m.cnt * 2, 1) AS DOUBLE) / (2 * tot.total)) * 1e6) AS BIGINT) AS lp
        |  FROM tok LEFT JOIN (SELECT * FROM counts WHERE cnt >= 5) m USING (token)
        |  CROSS JOIN tot)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |       CAST(sum(oov) AS BIGINT) AS n_oov, CAST(sum(lp) AS BIGINT) AS logp_u6,
        |       CAST(round(sum(lp) / CAST(count(*) AS DOUBLE)) AS BIGINT) AS avg_logp_u6
        |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // ------------------------------------------------------------------
    // mm1: multimodal column plumbing — text re-encoded as an opaque binary
    // payload with typed metadata; scalar projections only (byte length,
    // mime, stub frame count) so the oracle is engine-neutral. The real
    // decode path lives in graft.pipeline.Multimodal (stubbed decoder).
    Q("mm1_multimodal_meta",
      """SELECT doc_id,
        |  CAST(octet_length(encode(text, 'utf-8')) AS BIGINT) AS n_bytes,
        |  CASE WHEN lang = 'en' THEN 'image/png' ELSE 'image/jpeg' END AS mime,
        |  CAST(n_chars % 16 AS BIGINT) AS frame_count_stub
        |FROM documents ORDER BY doc_id""".stripMargin,
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  CASE WHEN lang = 'en' THEN 'image/png' ELSE 'image/jpeg' END AS mime,
        |  CAST(n_chars % 16 AS BIGINT) AS frame_count_stub
        |FROM documents ORDER BY doc_id""".stripMargin),

    // ------------------------------------------------------------------
    // sp1: deterministic stratified sampling for dataset builds — keep
    // rate varies per language stratum (en 128/256, de 64/256, zh 16/256,
    // rest 32/256), selection = md5-hex threshold so the SAME rows are
    // kept on any cluster size, retry, or engine (rand() is none of
    // those). Library form: graft.pipeline.Sampling.stratifiedSample.
    Q("sp1_stratified_sample",
      """SELECT doc_id, lang FROM documents
        |WHERE substring(md5(concat('sp1:', CAST(doc_id AS STRING))), 1, 2) <
        |      CASE lang WHEN 'en' THEN '80' WHEN 'de' THEN '40'
        |                WHEN 'zh' THEN '10' ELSE '20' END
        |ORDER BY doc_id""".stripMargin,
      """SELECT doc_id, lang FROM documents
        |WHERE substring(md5(concat('sp1:', CAST(doc_id AS VARCHAR))), 1, 2) <
        |      CASE lang WHEN 'en' THEN '80' WHEN 'de' THEN '40'
        |                WHEN 'zh' THEN '10' ELSE '20' END
        |ORDER BY doc_id""".stripMargin),

    // ------------------------------------------------------------------
    // sp2: deterministic shard assignment for training-shard export —
    // hash-derived shard in [0,8), stable across runs/retries, balanced.
    // Library form: Sampling.withShard (+ repartition/partitionBy write).
    Q("sp2_shard_assign",
      """SELECT CAST(shard AS BIGINT) AS shard, count(*) AS n_docs,
        |       min(doc_id) AS first_doc, sum(doc_id) AS sum_ids
        |FROM (SELECT doc_id,
        |        CAST(conv(substring(md5(concat('sp2:', CAST(doc_id AS STRING))), 1, 2),
        |             16, 10) AS INT) % 8 AS shard
        |      FROM documents) s
        |GROUP BY shard ORDER BY shard""".stripMargin,
      """SELECT CAST(shard AS BIGINT) AS shard, CAST(count(*) AS BIGINT) AS n_docs,
        |       min(doc_id) AS first_doc, CAST(sum(doc_id) AS BIGINT) AS sum_ids
        |FROM (SELECT doc_id,
        |        (16 * (position(substring(md5(concat('sp2:', CAST(doc_id AS VARCHAR))), 1, 1)
        |               IN '0123456789abcdef') - 1)
        |         + (position(substring(md5(concat('sp2:', CAST(doc_id AS VARCHAR))), 2, 1)
        |               IN '0123456789abcdef') - 1)) % 8 AS shard
        |      FROM documents) s
        |GROUP BY shard ORDER BY shard""".stripMargin),

    // ------------------------------------------------------------------
    // sp5: deterministic train/val/test split (80/10/10 by md5-byte
    // threshold on the salted doc id) with per-source split counts — the
    // assignment is a pure projection (reproducible under retry, resize,
    // or a different engine), never a rand() or a global sort.
    Q("sp5_train_split",
      """WITH s AS (SELECT source, doc_id,
        |    CASE WHEN h < 204 THEN 'train' WHEN h < 230 THEN 'val' ELSE 'test' END AS split
        |  FROM (SELECT source, doc_id,
        |          CAST(conv(substring(md5(concat('sp5:', CAST(doc_id AS STRING))), 1, 2),
        |               16, 10) AS INT) AS h
        |        FROM documents) h)
        |SELECT source, split, CAST(count(*) AS BIGINT) AS n_docs, min(doc_id) AS first_doc
        |FROM s GROUP BY source, split ORDER BY source, split""".stripMargin,
      """WITH s AS (SELECT source, doc_id,
        |    CASE WHEN h < 204 THEN 'train' WHEN h < 230 THEN 'val' ELSE 'test' END AS split
        |  FROM (SELECT source, doc_id,
        |          CAST(('0x' || substring(md5(concat('sp5:', CAST(doc_id AS VARCHAR))), 1, 2))
        |               AS INT) AS h
        |        FROM documents) h)
        |SELECT source, split, CAST(count(*) AS BIGINT) AS n_docs, min(doc_id) AS first_doc
        |FROM s GROUP BY source, split ORDER BY source, split""".stripMargin),

    // ------------------------------------------------------------------
    // cd1: corpus snapshot diff — the dataset-versioning primitive
    // between two corpus builds: added/removed/changed/unchanged per
    // document, compared by content hash so bodies never shuffle. The
    // two versions derive deterministically in-query (tc1/mm2
    // precedent): v1 lacks doc_id%17=3, v2 lacks doc_id%19=7 and
    // revises doc_id%13=5. Routed through Curation.snapshotDiff
    // (LibraryApiSpec pins equality with this SQL form).
    Q("cd1_snapshot_diff",
      """WITH v1 AS (SELECT doc_id, md5(text) AS h FROM documents
        |            WHERE doc_id % 17 <> 3),
        |v2 AS (SELECT doc_id,
        |         md5(CASE WHEN doc_id % 13 = 5 THEN concat(text, ' rev2')
        |                  ELSE text END) AS h
        |       FROM documents WHERE doc_id % 19 <> 7),
        |d AS (SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id,
        |        CASE WHEN v1.h IS NULL THEN 'added'
        |             WHEN v2.h IS NULL THEN 'removed'
        |             WHEN v1.h <> v2.h THEN 'changed'
        |             ELSE 'unchanged' END AS status
        |      FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id)
        |SELECT status, CAST(count(*) AS BIGINT) AS n_docs,
        |       min(doc_id) AS first_doc, CAST(sum(doc_id) AS BIGINT) AS sum_ids
        |FROM d GROUP BY status ORDER BY status""".stripMargin,
      """WITH v1 AS (SELECT doc_id, md5(text) AS h FROM documents
        |            WHERE doc_id % 17 <> 3),
        |v2 AS (SELECT doc_id,
        |         md5(CASE WHEN doc_id % 13 = 5 THEN concat(text, ' rev2')
        |                  ELSE text END) AS h
        |       FROM documents WHERE doc_id % 19 <> 7),
        |d AS (SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id,
        |        CASE WHEN v1.h IS NULL THEN 'added'
        |             WHEN v2.h IS NULL THEN 'removed'
        |             WHEN v1.h <> v2.h THEN 'changed'
        |             ELSE 'unchanged' END AS status
        |      FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id)
        |SELECT status, CAST(count(*) AS BIGINT) AS n_docs,
        |       min(doc_id) AS first_doc, CAST(sum(doc_id) AS BIGINT) AS sum_ids
        |FROM d GROUP BY status ORDER BY status""".stripMargin),

    // ------------------------------------------------------------------
    // sp4: source-weighted corpus mixing — the training-data "mixture
    // weights" step (Pile/LLaMA-style recipes): premium sources repeat
    // 2.5x, one noisy source keeps 0.25x, the rest 1x. floor(w) full
    // copies + one fractional copy by md5-hex threshold (deterministic on
    // any cluster/retry); each copy gets a deterministic md5 shuffle key
    // for a stable interleaved training order. Row-local explode — no
    // shuffle before the export's ordering. Library form:
    // Sampling.sourceMix.
    Q("sp4_source_mixing",
      """WITH m AS (SELECT doc_id, source,
        |    CASE WHEN source IN ('src0', 'src1', 'src2', 'src3') THEN 2
        |         WHEN source = 'src19' THEN 0 ELSE 1 END AS whole,
        |    CASE WHEN source IN ('src0', 'src1', 'src2', 'src3') THEN '80'
        |         WHEN source = 'src19' THEN '40' ELSE '00' END AS fth
        |  FROM documents),
        |e AS (SELECT doc_id, source,
        |        whole + CASE WHEN substring(md5(concat('sp4:', CAST(doc_id AS STRING))), 1, 2) < fth
        |                     THEN 1 ELSE 0 END AS n
        |      FROM m)
        |SELECT md5(concat('sp4:ord:', CAST(doc_id AS STRING), ':', CAST(copy AS STRING))) AS ord_hash,
        |       doc_id, CAST(copy AS BIGINT) AS copy, source
        |FROM e LATERAL VIEW explode(slice(sequence(0, greatest(n, 1) - 1), 1, n)) t AS copy
        |ORDER BY ord_hash, doc_id, copy""".stripMargin,
      """WITH m AS (SELECT doc_id, source,
        |    CASE WHEN source IN ('src0', 'src1', 'src2', 'src3') THEN 2
        |         WHEN source = 'src19' THEN 0 ELSE 1 END AS whole,
        |    CASE WHEN source IN ('src0', 'src1', 'src2', 'src3') THEN '80'
        |         WHEN source = 'src19' THEN '40' ELSE '00' END AS fth
        |  FROM documents),
        |e AS (SELECT doc_id, source,
        |        whole + CASE WHEN substring(md5('sp4:' || CAST(doc_id AS VARCHAR)), 1, 2) < fth
        |                     THEN 1 ELSE 0 END AS n
        |      FROM m)
        |SELECT md5('sp4:ord:' || CAST(doc_id AS VARCHAR) || ':' || CAST(copy AS VARCHAR)) AS ord_hash,
        |       doc_id, CAST(copy AS BIGINT) AS copy, source
        |FROM e, unnest(range(0, n)) AS t(copy)
        |ORDER BY ord_hash, doc_id, copy""".stripMargin),

    // ------------------------------------------------------------------
    // q32: TPC-H Q5-shape — a 6-table star join (fact lineitem against 5
    // dims) with a selective region filter and a date window. Catalyst
    // broadcasts every dim side, so the fact table never shuffles for the
    // join; revenue sums exact integer (cents x discount-percent) to stay
    // engine-reproducible under unordered summation.
    Q("q32_tpch_q5_join",
      """SELECT n_name,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
        |           CAST(round((1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_e4,
        |  count(*) AS n_rows
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
        |  AND CAST(o_orderdate AS DATE) < DATE '1997-01-01'
        |GROUP BY n_name
        |ORDER BY revenue_e4 DESC, n_name""".stripMargin,
      """SELECT n_name,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
        |           CAST(round((1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_e4,
        |  CAST(count(*) AS BIGINT) AS n_rows
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
        |  AND CAST(o_orderdate AS DATE) < DATE '1997-01-01'
        |GROUP BY n_name
        |ORDER BY revenue_e4 DESC, n_name""".stripMargin),

    // ------------------------------------------------------------------
    // q33: TPC-H Q18-shape — large-order detection. The textbook spelling
    // (IN-subquery over a grouped HAVING + re-aggregating the joined
    // lineitems) scans and shuffles lineitem TWICE: Catalyst does not
    // share the grouped subquery with the outer agg. Since customer⋈orders
    // is 1:1 per order, the outer sum over joined lineitems IS the
    // per-order sum — so aggregate lineitem ONCE in a CTE and reuse it as
    // both the HAVING filter and the join payload: one lineitem shuffle,
    // and the filtered order list (> 160) is small enough to broadcast
    // into orders at any scale factor. Same text on both engines.
    Q("q33_tpch_q18_join",
      """WITH oq AS (
        |  SELECT l_orderkey, sum(l_quantity) AS qty
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING sum(l_quantity) > 160)
        |SELECT c_name, c_custkey, o_orderkey,
        |  CAST(o_orderdate AS DATE) AS orderdate,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS totalprice_cents,
        |  CAST(round(oq.qty) AS BIGINT) AS sum_qty
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN oq ON o_orderkey = oq.l_orderkey
        |ORDER BY totalprice_cents DESC, o_orderkey
        |LIMIT 100""".stripMargin,
      """WITH oq AS (
        |  SELECT l_orderkey, sum(l_quantity) AS qty
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING sum(l_quantity) > 160)
        |SELECT c_name, c_custkey, o_orderkey,
        |  CAST(o_orderdate AS DATE) AS orderdate,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS totalprice_cents,
        |  CAST(round(oq.qty) AS BIGINT) AS sum_qty
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN oq ON o_orderkey = oq.l_orderkey
        |ORDER BY totalprice_cents DESC, o_orderkey
        |LIMIT 100""".stripMargin),

    // ------------------------------------------------------------------
    // ev1: retention cohorts — users grouped by first-seen week, activity
    // counted per week offset: the standard product-analytics triangle.
    // ONE corpus pass: the deduped (user, week) frame is |users·weeks| ≪
    // |events|, and each user's cohort is a min() window over that small
    // frame — no join, no second corpus scan (the fc-CTE + equi-join
    // spelling recomputed the corpus-wide distinct on both sides; AQE
    // did not unify the two inlinings). All date arithmetic is integer
    // (week floors).
    Q("ev1_retention_cohorts",
      """WITH ue AS (SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk
        |            FROM events),
        |w AS (SELECT user_id, wk, min(wk) OVER (PARTITION BY user_id) AS cohort FROM ue)
        |SELECT cohort, CAST(datediff(wk, cohort) div 7 AS BIGINT) AS week_offset,
        |       count(DISTINCT user_id) AS n_users
        |FROM w
        |GROUP BY cohort, week_offset
        |ORDER BY cohort, week_offset""".stripMargin,
      """WITH ue AS (SELECT DISTINCT user_id,
        |                   CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS wk
        |            FROM events),
        |fc AS (SELECT user_id, min(wk) AS cohort FROM ue GROUP BY user_id)
        |SELECT fc.cohort, CAST(date_diff('day', fc.cohort, ue.wk) // 7 AS BIGINT) AS week_offset,
        |       CAST(count(DISTINCT ue.user_id) AS BIGINT) AS n_users
        |FROM ue JOIN fc ON ue.user_id = fc.user_id
        |GROUP BY fc.cohort, week_offset
        |ORDER BY fc.cohort, week_offset""".stripMargin),

    // ------------------------------------------------------------------
    // ev2: funnel analysis — per-user earliest view, then the earliest
    // click AFTER that view, then the earliest purchase AFTER that click:
    // each stage's clock starts at the previous stage's completion (the
    // correct ordered-funnel semantics — a user who clicks before their
    // first view still converts via a later click). Three per-user
    // map-side-combinable aggregations chained by user_id equi-joins;
    // no event self-joins, state is |users| not |events|.
    Q("ev2_funnel",
      """WITH v AS (SELECT user_id, min(CASE WHEN event_type = 'view' THEN ts END) AS t_view
        |           FROM events GROUP BY user_id),
        |c AS (SELECT e.user_id, min(e.ts) AS t_click
        |      FROM events e JOIN v ON e.user_id = v.user_id
        |      WHERE e.event_type = 'click' AND e.ts > v.t_view
        |      GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(e.ts) AS t_purchase
        |      FROM events e JOIN c ON e.user_id = c.user_id
        |      WHERE e.event_type = 'purchase' AND e.ts > c.t_click
        |      GROUP BY e.user_id)
        |SELECT count(v.t_view) AS n_viewed,
        |       count(c.t_click) AS n_clicked_after_view,
        |       count(p.t_purchase) AS n_purchased_after_click
        |FROM v
        |LEFT JOIN c ON v.user_id = c.user_id
        |LEFT JOIN p ON v.user_id = p.user_id""".stripMargin,
      """WITH v AS (SELECT user_id,
        |                  min(CASE WHEN event_type = 'view' THEN CAST(ts AS TIMESTAMP) END) AS t_view
        |           FROM events GROUP BY user_id),
        |c AS (SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS t_click
        |      FROM events e JOIN v ON e.user_id = v.user_id
        |      WHERE e.event_type = 'click' AND CAST(e.ts AS TIMESTAMP) > v.t_view
        |      GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS t_purchase
        |      FROM events e JOIN c ON e.user_id = c.user_id
        |      WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) > c.t_click
        |      GROUP BY e.user_id)
        |SELECT CAST(count(v.t_view) AS BIGINT) AS n_viewed,
        |       CAST(count(c.t_click) AS BIGINT) AS n_clicked_after_view,
        |       CAST(count(p.t_purchase) AS BIGINT) AS n_purchased_after_click
        |FROM v
        |LEFT JOIN c ON v.user_id = c.user_id
        |LEFT JOIN p ON v.user_id = p.user_id""".stripMargin),

    // ------------------------------------------------------------------
    // ev3: user-journey transition mining — the first-order Markov
    // transition matrix over per-user event sequences (the structure a
    // product-analytics path/flow report and a behavioral-cloning data
    // prep both start from). Per user, events order by (ts, event_id)
    // (a deterministic total order — ts alone can tie); lead() pairs
    // each event with its successor; transition probabilities are
    // per-mille integers (n*1000 DIV row-total of the from-state). The
    // window partitions by user_id, so sequences shard across executors
    // like q21's sessionization; the transition frame is |types|² rows.
    Q("ev3_markov_transitions",
      """WITH tr AS (SELECT event_type AS from_type,
        |        lead(event_type) OVER (PARTITION BY user_id
        |          ORDER BY ts, event_id) AS to_type
        |      FROM events),
        |c AS (SELECT from_type, to_type, count(*) AS n FROM tr
        |      WHERE to_type IS NOT NULL GROUP BY from_type, to_type),
        |t AS (SELECT from_type, sum(n) AS tot FROM c GROUP BY from_type)
        |SELECT c.from_type, c.to_type, c.n,
        |       CAST(c.n * 1000 DIV t.tot AS BIGINT) AS pm
        |FROM c JOIN t ON t.from_type = c.from_type
        |ORDER BY c.from_type, c.to_type""".stripMargin,
      """WITH tr AS (SELECT event_type AS from_type,
        |        lead(event_type) OVER (PARTITION BY user_id
        |          ORDER BY CAST(ts AS TIMESTAMP), event_id) AS to_type
        |      FROM events),
        |c AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n FROM tr
        |      WHERE to_type IS NOT NULL GROUP BY from_type, to_type),
        |t AS (SELECT from_type, sum(n) AS tot FROM c GROUP BY from_type)
        |SELECT c.from_type, c.to_type, c.n,
        |       CAST(c.n * 1000 // t.tot AS BIGINT) AS pm
        |FROM c JOIN t ON t.from_type = c.from_type
        |ORDER BY c.from_type, c.to_type""".stripMargin),

    // ------------------------------------------------------------------
    // ev4: rolling ACTIVE-USER ratios (DAU/WAU stickiness) — the
    // engagement dashboard every event pipeline serves. Spark windows
    // have no COUNT(DISTINCT) frame, so WAU comes from a ROW-LOCAL
    // explode: each deduped (day, user) row fans out into the ≤7 window
    // days it contributes to (sequence + explode — no join), then one
    // count-distinct groupBy. That is O(7·|du|) and shuffle-shaped like
    // any aggregation; the previous days×du range JOIN planned as a
    // BroadcastNestedLoopJoin testing every du row against ALL days —
    // O(|du|·|days|), a scale-killer once days span years. Generated
    // days with no events drop out in the inner join with dau (whose
    // keys are exactly the observed days), so results are identical.
    // Stickiness is integer per-mille ((1000·dau) div wau): no float
    // division to disagree across engines.
    Q("ev4_active_user_ratios",
      """WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events),
        |dau AS (SELECT d, count(*) AS dau FROM du GROUP BY d),
        |wau AS (SELECT cd, count(DISTINCT user_id) AS wau
        |        FROM du LATERAL VIEW explode(sequence(d, date_add(d, 6))) t AS cd
        |        GROUP BY cd)
        |SELECT dau.d, dau.dau, wau.wau,
        |       CAST((1000 * dau.dau) div wau.wau AS BIGINT) AS stickiness_pm
        |FROM dau JOIN wau ON dau.d = wau.cd
        |ORDER BY dau.d""".stripMargin,
      """WITH du AS (SELECT DISTINCT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d, user_id
        |            FROM events),
        |days AS (SELECT DISTINCT d FROM du),
        |dau AS (SELECT d, CAST(count(*) AS BIGINT) AS dau FROM du GROUP BY d),
        |wau AS (SELECT a.d, CAST(count(DISTINCT b.user_id) AS BIGINT) AS wau
        |        FROM days a JOIN du b
        |          ON b.d <= a.d AND b.d >= a.d - INTERVAL 6 DAY
        |        GROUP BY a.d)
        |SELECT dau.d, dau.dau, wau.wau,
        |       CAST((1000 * dau.dau) // wau.wau AS BIGINT) AS stickiness_pm
        |FROM dau JOIN wau ON dau.d = wau.d
        |ORDER BY dau.d""".stripMargin),

    // ------------------------------------------------------------------
    // sp3: token-budget SEQUENCE PACKING — assign documents to ~2000-token
    // packs (the chunking a training dataloader consumes), deterministic
    // under retry. Packing is a running token sum bucketed by budget,
    // WITHIN each hash shard: the window partitions by shard, so packing
    // parallelizes across shards instead of a single global sort —
    // the shape that matters when the corpus is 100 TB. Pack id =
    // (shard, prefix_tokens div budget) packed as shard*2^40 + seq —
    // headroom for ~10^12 packs (2 * 10^15 tokens) per shard before ids
    // could collide across shards.
    Q("sp3_token_packing",
      """WITH t AS (SELECT doc_id,
        |             CAST(conv(substring(md5(concat('sp2:', CAST(doc_id AS STRING))), 1, 2),
        |                  16, 10) AS INT) % 8 AS shard,
        |             size(split(text, ' ')) AS n_tok
        |           FROM documents),
        |c AS (SELECT doc_id, shard, n_tok,
        |             sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
        |                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |      FROM t)
        |SELECT CAST(shard * CAST(1099511627776 AS BIGINT) + (cum - n_tok) div 2000 AS BIGINT) AS pack,
        |       count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS tokens,
        |       min(doc_id) AS first_doc
        |FROM c GROUP BY pack ORDER BY pack""".stripMargin,
      """WITH t AS (SELECT doc_id,
        |             (16 * (position(substring(md5(concat('sp2:', CAST(doc_id AS VARCHAR))), 1, 1)
        |                    IN '0123456789abcdef') - 1)
        |              + (position(substring(md5(concat('sp2:', CAST(doc_id AS VARCHAR))), 2, 1)
        |                    IN '0123456789abcdef') - 1)) % 8 AS shard,
        |             len(string_split(text, ' ')) AS n_tok
        |           FROM documents),
        |c AS (SELECT doc_id, shard, n_tok,
        |             sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
        |                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |      FROM t)
        |SELECT CAST(shard * CAST(1099511627776 AS BIGINT) + (cum - n_tok) // 2000 AS BIGINT) AS pack,
        |       CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS tokens,
        |       min(doc_id) AS first_doc
        |FROM c GROUP BY pack ORDER BY pack""".stripMargin),

    // ------------------------------------------------------------------
    // dc1: train/eval DECONTAMINATION — the n-gram-overlap check every
    // training-data build runs before shipping (GPT-3 appx C / PaLM style):
    // any training document sharing an 8-gram with the held-out eval split
    // is flagged with its overlap count. Shape at scale: the eval side is
    // benchmark suites (tiny vs the corpus), so its distinct gram set
    // broadcasts; the training side streams explode -> broadcast-hash-join
    // -> per-doc partial count. No all-pairs work, one corpus pass.
    // Eval split here = doc_id % 10 = 7 (deterministic stand-in).
    Q("dc1_decontamination",
      """WITH g AS (SELECT DISTINCT doc_id, gram FROM documents
        |      LATERAL VIEW explode(word_ngrams(text, 8)) t AS gram),
        |eval_g AS (SELECT DISTINCT gram FROM g WHERE doc_id % 10 = 7)
        |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |       CAST(count(e.gram) AS BIGINT) AS n_contaminated,
        |       round(count(e.gram) / CAST(count(*) AS DOUBLE), 4) AS contamination
        |FROM (SELECT * FROM g WHERE doc_id % 10 <> 7) t
        |LEFT JOIN eval_g e ON t.gram = e.gram
        |GROUP BY t.doc_id HAVING count(e.gram) > 0
        |ORDER BY doc_id""".stripMargin,
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT DISTINCT doc_id, array_to_string(list_slice(w, i + 1, i + 8), ' ') AS gram
        |      FROM tok, unnest(range(0, greatest(len(w) - 7, 1))) AS u(i)),
        |eval_g AS (SELECT DISTINCT gram FROM g WHERE doc_id % 10 = 7)
        |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |       CAST(count(e.gram) AS BIGINT) AS n_contaminated,
        |       round(count(e.gram) / CAST(count(*) AS DOUBLE), 4) AS contamination
        |FROM (SELECT * FROM g WHERE doc_id % 10 <> 7) t
        |LEFT JOIN eval_g e ON t.gram = e.gram
        |GROUP BY t.doc_id HAVING count(e.gram) > 0
        |ORDER BY doc_id""".stripMargin),

    // ------------------------------------------------------------------
    // tx5: repetition-based quality filter (Gopher / RefinedWeb rules):
    // duplicate-word fraction + top-bigram mass per document, with the
    // keep/drop verdict a curation pipeline applies. One explode into a
    // two-level partial-aggregable groupBy, then a doc_id equi-join back
    // to the tokens (both sides hash-partitioned on doc_id — co-located,
    // doc-local keys, no corpus-wide hot key). The groupBy shape — not a
    // per-row nested loop — is what keeps 100k-token documents O(m).
    Q("tx5_repetition",
      """WITH tok AS (SELECT doc_id, text, split(text, ' ') AS w FROM documents),
        |bg AS (SELECT doc_id, gram FROM tok
        |       LATERAL VIEW explode(word_ngrams(text, 2)) t AS gram),
        |cnt AS (SELECT doc_id, gram, count(*) AS c FROM bg GROUP BY doc_id, gram),
        |agg AS (SELECT doc_id, max(c) AS top_c, sum(c) AS total FROM cnt GROUP BY doc_id)
        |SELECT tok.doc_id,
        |  round(CAST(1.0 AS DOUBLE) - size(array_distinct(w)) / CAST(size(w) AS DOUBLE), 4)
        |    AS dup_word_frac,
        |  round(agg.top_c / CAST(agg.total AS DOUBLE), 4) AS top_bigram_frac,
        |  (size(array_distinct(w)) / CAST(size(w) AS DOUBLE) >= CAST(0.3 AS DOUBLE)
        |   AND agg.top_c / CAST(agg.total AS DOUBLE) <= CAST(0.2 AS DOUBLE)) AS keep
        |FROM tok JOIN agg ON tok.doc_id = agg.doc_id
        |ORDER BY tok.doc_id""".stripMargin,
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |bg AS (SELECT doc_id, array_to_string(list_slice(w, i + 1, i + 2), ' ') AS gram
        |       FROM tok, unnest(range(0, greatest(len(w) - 1, 1))) AS u(i)),
        |cnt AS (SELECT doc_id, gram, count(*) AS c FROM bg GROUP BY doc_id, gram),
        |agg AS (SELECT doc_id, max(c) AS top_c, sum(c) AS total FROM cnt GROUP BY doc_id)
        |SELECT tok.doc_id,
        |  round(CAST(1.0 AS DOUBLE) - len(list_distinct(w)) / CAST(len(w) AS DOUBLE), 4)
        |    AS dup_word_frac,
        |  round(agg.top_c / CAST(agg.total AS DOUBLE), 4) AS top_bigram_frac,
        |  (len(list_distinct(w)) / CAST(len(w) AS DOUBLE) >= CAST(0.3 AS DOUBLE)
        |   AND agg.top_c / CAST(agg.total AS DOUBLE) <= CAST(0.2 AS DOUBLE)) AS keep
        |FROM tok JOIN agg ON tok.doc_id = agg.doc_id
        |ORDER BY tok.doc_id""".stripMargin),

    // ------------------------------------------------------------------
    // tx11: the full Gopher repetition-filter suite (Rae et al. 2021,
    // Table A1) over word n-grams — top-{2,3,4}-gram character fraction
    // (char mass of the most frequent n-gram over document chars) and
    // duplicate-{5,10}-gram character fraction (char mass of all
    // occurrences of n-grams seen more than once; the declarative,
    // order-independent form of the paper's covered-character count),
    // with the conjunctive keep verdict at the paper's thresholds. One
    // explode fans each doc into (n, gram) rows for all five n at once,
    // then two partial-aggregable doc-local groupBys — no corpus-wide
    // state, no joins, linear in corpus tokens at any scale. The top
    // gram's mass rides an integer (c * 100000 + len) key so the
    // most-frequent tie-break (longest gram) is engine-agnostic integer
    // arithmetic, not string collation.
    Q("tx11_gopher_repetition",
      """WITH tok AS (SELECT doc_id, length(text) AS total_chars,
        |              split(text, ' ') AS w FROM documents),
        |g AS (SELECT doc_id, total_chars, n,
        |        concat_ws(' ', slice(w, CAST(i + 1 AS INT), n)) AS gram
        |      FROM tok
        |      LATERAL VIEW explode(array(2, 3, 4, 5, 10)) tn AS n
        |      LATERAL VIEW explode(sequence(0, greatest(size(w) - n, 0))) ti AS i
        |      WHERE i + n <= size(w)),
        |cnt AS (SELECT doc_id, total_chars, n, gram,
        |          count(*) AS c, max(length(gram)) AS glen
        |        FROM g GROUP BY doc_id, total_chars, n, gram),
        |agg AS (SELECT doc_id, total_chars, n,
        |          max(c * 100000 + glen) AS top_key,
        |          sum(CASE WHEN c > 1 THEN c * glen ELSE 0 END) AS dup_mass
        |        FROM cnt GROUP BY doc_id, total_chars, n),
        |piv AS (SELECT doc_id, total_chars,
        |          coalesce(max(CASE WHEN n = 2 THEN (top_key div 100000) * (top_key % 100000) END), 0) AS top2,
        |          coalesce(max(CASE WHEN n = 3 THEN (top_key div 100000) * (top_key % 100000) END), 0) AS top3,
        |          coalesce(max(CASE WHEN n = 4 THEN (top_key div 100000) * (top_key % 100000) END), 0) AS top4,
        |          coalesce(max(CASE WHEN n = 5 THEN dup_mass END), 0) AS dup5,
        |          coalesce(max(CASE WHEN n = 10 THEN dup_mass END), 0) AS dup10
        |        FROM agg GROUP BY doc_id, total_chars)
        |SELECT doc_id,
        |  round(top2 / CAST(total_chars AS DOUBLE), 4) AS top2_char_frac,
        |  round(top3 / CAST(total_chars AS DOUBLE), 4) AS top3_char_frac,
        |  round(top4 / CAST(total_chars AS DOUBLE), 4) AS top4_char_frac,
        |  round(dup5 / CAST(total_chars AS DOUBLE), 4) AS dup5_char_frac,
        |  round(dup10 / CAST(total_chars AS DOUBLE), 4) AS dup10_char_frac,
        |  (top2 / CAST(total_chars AS DOUBLE) <= CAST(0.20 AS DOUBLE)
        |   AND top3 / CAST(total_chars AS DOUBLE) <= CAST(0.18 AS DOUBLE)
        |   AND top4 / CAST(total_chars AS DOUBLE) <= CAST(0.16 AS DOUBLE)
        |   AND dup5 / CAST(total_chars AS DOUBLE) <= CAST(0.15 AS DOUBLE)
        |   AND dup10 / CAST(total_chars AS DOUBLE) <= CAST(0.10 AS DOUBLE)) AS keep
        |FROM piv ORDER BY doc_id""".stripMargin,
      """WITH tok AS (SELECT doc_id, length(text) AS total_chars,
        |              string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT doc_id, total_chars, nn.n AS n,
        |        array_to_string(list_slice(w, i + 1, i + nn.n), ' ') AS gram
        |      FROM tok,
        |           (VALUES (2), (3), (4), (5), (10)) nn(n),
        |           unnest(range(0, greatest(len(w) - nn.n + 1, 1))) AS t(i)
        |      WHERE i + nn.n <= len(w)),
        |cnt AS (SELECT doc_id, total_chars, n, gram,
        |          count(*) AS c, max(length(gram)) AS glen
        |        FROM g GROUP BY doc_id, total_chars, n, gram),
        |agg AS (SELECT doc_id, total_chars, n,
        |          max(c * 100000 + glen) AS top_key,
        |          sum(CASE WHEN c > 1 THEN c * glen ELSE 0 END) AS dup_mass
        |        FROM cnt GROUP BY doc_id, total_chars, n),
        |piv AS (SELECT doc_id, total_chars,
        |          coalesce(max(CASE WHEN n = 2 THEN (top_key // 100000) * (top_key % 100000) END), 0) AS top2,
        |          coalesce(max(CASE WHEN n = 3 THEN (top_key // 100000) * (top_key % 100000) END), 0) AS top3,
        |          coalesce(max(CASE WHEN n = 4 THEN (top_key // 100000) * (top_key % 100000) END), 0) AS top4,
        |          coalesce(max(CASE WHEN n = 5 THEN dup_mass END), 0) AS dup5,
        |          coalesce(max(CASE WHEN n = 10 THEN dup_mass END), 0) AS dup10
        |        FROM agg GROUP BY doc_id, total_chars)
        |SELECT doc_id,
        |  round(top2 / CAST(total_chars AS DOUBLE), 4) AS top2_char_frac,
        |  round(top3 / CAST(total_chars AS DOUBLE), 4) AS top3_char_frac,
        |  round(top4 / CAST(total_chars AS DOUBLE), 4) AS top4_char_frac,
        |  round(dup5 / CAST(total_chars AS DOUBLE), 4) AS dup5_char_frac,
        |  round(dup10 / CAST(total_chars AS DOUBLE), 4) AS dup10_char_frac,
        |  (top2 / CAST(total_chars AS DOUBLE) <= CAST(0.20 AS DOUBLE)
        |   AND top3 / CAST(total_chars AS DOUBLE) <= CAST(0.18 AS DOUBLE)
        |   AND top4 / CAST(total_chars AS DOUBLE) <= CAST(0.16 AS DOUBLE)
        |   AND dup5 / CAST(total_chars AS DOUBLE) <= CAST(0.15 AS DOUBLE)
        |   AND dup10 / CAST(total_chars AS DOUBLE) <= CAST(0.10 AS DOUBLE)) AS keep
        |FROM piv ORDER BY doc_id""".stripMargin),

    // ------------------------------------------------------------------
    // pd1: passage-level exact dedup (the CCNet/RefinedWeb paragraph-dedup
    // shape, on fixed 10-word passages since the corpus has no newlines):
    // segment -> global passage-frequency (one shuffle on the passage
    // hash) -> drop passages seen in >1 distinct doc -> reassemble the doc
    // in passage order. Output is per-doc stats + md5 of the cleaned text
    // (compact and hash-comparable). At 100 TB the frequency table is the
    // only corpus-wide state and it is passage-hash-partitioned.
    Q("pd1_passage_dedup",
      """WITH tok AS (SELECT doc_id, split(text, ' ') AS w FROM documents),
        |seg AS (SELECT doc_id, i AS seg_idx,
        |          concat_ws(' ', slice(w, CAST(i * 10 + 1 AS INT), 10)) AS passage
        |        FROM tok LATERAL VIEW explode(sequence(0, CAST((size(w) - 1) div 10 AS INT))) t AS i),
        |freq AS (SELECT md5(passage) AS ph, count(DISTINCT doc_id) AS nd
        |         FROM seg GROUP BY md5(passage)),
        |j AS (SELECT s.doc_id, s.seg_idx, s.passage, f.nd
        |      FROM seg s JOIN freq f ON md5(s.passage) = f.ph)
        |SELECT doc_id,
        |  CAST(count(*) AS BIGINT) AS n_passages,
        |  CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_passages,
        |  md5(concat_ws(' ', transform(
        |    array_sort(collect_list(CASE WHEN nd = 1 THEN struct(seg_idx, passage) END)),
        |    x -> x.passage))) AS cleaned_sig
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |seg AS (SELECT doc_id, i AS seg_idx,
        |          array_to_string(list_slice(w, i * 10 + 1, i * 10 + 10), ' ') AS passage
        |        FROM tok, unnest(range(0, ((len(w) - 1) // 10) + 1)) AS t(i)),
        |freq AS (SELECT md5(passage) AS ph, count(DISTINCT doc_id) AS nd
        |         FROM seg GROUP BY md5(passage)),
        |j AS (SELECT s.doc_id, s.seg_idx, s.passage, f.nd
        |      FROM seg s JOIN freq f ON md5(s.passage) = f.ph)
        |SELECT doc_id,
        |  CAST(count(*) AS BIGINT) AS n_passages,
        |  CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_passages,
        |  md5(coalesce(string_agg(passage, ' ' ORDER BY seg_idx) FILTER (WHERE nd = 1), ''))
        |    AS cleaned_sig
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // ------------------------------------------------------------------
    // sd1: semantic dedup (SemDeDup, Abbas et al. '23): cluster embeddings
    // (deterministic seed centroids, as ss2), compute cosine only WITHIN a
    // cluster, and drop any vector with a lower-id cluster-mate above the
    // similarity threshold. Within-cluster pairing is the SemDeDup scale
    // trick: candidate pairs shrink from n^2 to sum over clusters of
    // (cluster size)^2 — PROVIDED the cluster count grows with the corpus
    // (SemDeDup §3). Both engines therefore derive k from the data itself:
    // k = max(16, ceil(n/256)) (Similarity.targetK semantics, fixture-
    // scaled target) — identical arithmetic, so the gate stays green at
    // every sf while the pair envelope stays ~n·256 instead of n²/16.
    Q("sd1_semantic_dedup",
      s"""WITH $sparkVecs,
         |cent AS (SELECT vec_id AS cid, embedding AS ce, nrm AS cn FROM v
         |         WHERE vec_id < (SELECT greatest(16, CAST(ceil(count(*) / 256.0) AS BIGINT)) FROM v)),
         |assign AS (SELECT vec_id, cid FROM (
         |    SELECT e.vec_id, c.cid,
         |           row_number() OVER (PARTITION BY e.vec_id
         |               ORDER BY round(${sparkDot("e.embedding", "c.ce")} / (e.nrm * c.cn), 6) DESC, c.cid) AS rnk
         |    FROM v e CROSS JOIN cent c) a WHERE rnk = 1),
         |p AS (SELECT a.vec_id AS va, b.vec_id AS vb,
         |        round(${sparkDot("ea.embedding", "eb.embedding")} / (ea.nrm * eb.nrm), 6) AS cos
         |      FROM assign a JOIN assign b ON a.cid = b.cid AND a.vec_id < b.vec_id
         |      JOIN v ea ON ea.vec_id = a.vec_id
         |      JOIN v eb ON eb.vec_id = b.vec_id)
         |SELECT vb AS vec_id, min(va) AS keeper, max(cos) AS max_cos
         |FROM p WHERE cos >= 0.4
         |GROUP BY vb ORDER BY vec_id""".stripMargin,
      s"""WITH $duckVecs,
         |cent AS (SELECT vec_id AS cid, embedding AS ce, nrm AS cn FROM v
         |         WHERE vec_id < (SELECT greatest(16, CAST(ceil(count(*) / 256.0) AS BIGINT)) FROM v)),
         |assign AS (SELECT vec_id, cid FROM (
         |    SELECT e.vec_id, c.cid,
         |           row_number() OVER (PARTITION BY e.vec_id
         |               ORDER BY round(${duckDot("e.embedding", "c.ce")} / (e.nrm * c.cn), 6) DESC, c.cid) AS rnk
         |    FROM v e CROSS JOIN cent c) a WHERE rnk = 1),
         |p AS (SELECT a.vec_id AS va, b.vec_id AS vb,
         |        round(${duckDot("ea.embedding", "eb.embedding")} / (ea.nrm * eb.nrm), 6) AS cos
         |      FROM assign a JOIN assign b ON a.cid = b.cid AND a.vec_id < b.vec_id
         |      JOIN v ea ON ea.vec_id = a.vec_id
         |      JOIN v eb ON eb.vec_id = b.vec_id)
         |SELECT vb AS vec_id, min(va) AS keeper, max(cos) AS max_cos
         |FROM p WHERE cos >= 0.4
         |GROUP BY vb ORDER BY vec_id""".stripMargin),

    // ------------------------------------------------------------------
    // ts1: time-series gap fill — hourly event counts per type with
    // missing hours zero-filled from a generated hour spine. Integer
    // hour-epochs keep the spine arithmetic engine-identical; the spine is
    // |types| x |hours| (tiny next to the events it joins).
    Q("ts1_gapfill",
      """WITH b AS (SELECT event_type,
        |         CAST(unix_timestamp(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS BIGINT) AS hr,
        |         count(*) AS n
        |       FROM events GROUP BY 1, 2),
        |r AS (SELECT event_type, min(hr) AS mn, max(hr) AS mx FROM b GROUP BY 1),
        |hours AS (SELECT event_type, explode(sequence(mn, mx, CAST(3600 AS BIGINT))) AS hr FROM r)
        |SELECT h.event_type, h.hr AS hr_epoch, CAST(coalesce(b.n, 0) AS BIGINT) AS n
        |FROM hours h LEFT JOIN b ON b.event_type = h.event_type AND b.hr = h.hr
        |ORDER BY h.event_type, h.hr""".stripMargin,
      """WITH b AS (SELECT event_type,
        |         CAST(floor(epoch(date_trunc('hour', CAST(ts AS TIMESTAMP)))) AS BIGINT) AS hr,
        |         count(*) AS n
        |       FROM events GROUP BY 1, 2),
        |r AS (SELECT event_type, min(hr) AS mn, max(hr) AS mx FROM b GROUP BY 1),
        |hours AS (SELECT event_type, unnest(range(mn, mx + 1, 3600)) AS hr FROM r)
        |SELECT h.event_type, h.hr AS hr_epoch, CAST(coalesce(b.n, 0) AS BIGINT) AS n
        |FROM hours h LEFT JOIN b ON b.event_type = h.event_type AND b.hr = h.hr
        |ORDER BY h.event_type, h.hr""".stripMargin),

    // ------------------------------------------------------------------
    // tc1: text cleaning + PII redaction. The corpus is clean word soup,
    // so the dirty input is DERIVED deterministically in-query (HTML
    // wrapper + per-doc email + URL — the mm2 encode->decode precedent:
    // the measured operator is the cleaning chain, which in production
    // runs over stored dirty text). Chain: strip tags -> redact emails ->
    // redact URLs -> collapse whitespace -> trim. Patterns avoid
    // backslash escapes ([.] not \\.) so the regex TEXT is identical in
    // Java (Spark) and RE2 (DuckDB) and matches identically in both; all
    // steps are per-row projections (zero shuffles at any scale).
    Q("tc1_clean_pii",
      s"""WITH dirty AS (SELECT doc_id,
        |    concat('<div id="', doc_id, '"> ', text, ' contact user', doc_id,
        |           '@mail.example.com or visit https://site.example/', doc_id,
        |           ' now</div>') AS raw FROM documents),
        |st AS (SELECT doc_id, regexp_replace(raw, '${Curation.TagPattern}', ' ') AS s1 FROM dirty),
        |red AS (SELECT doc_id,
        |    CAST(size(regexp_extract_all(s1,
        |      '${Curation.EmailPattern}', 0)) AS BIGINT) AS n_emails,
        |    CAST(size(regexp_extract_all(s1, '${Curation.UrlPattern}', 0)) AS BIGINT) AS n_urls,
        |    regexp_replace(regexp_replace(s1,
        |      '${Curation.EmailPattern}', '[EMAIL]'),
        |      '${Curation.UrlPattern}', '[URL]') AS s2
        |  FROM st)
        |SELECT doc_id, n_emails, n_urls,
        |       md5(trim(regexp_replace(s2, '  +', ' '))) AS clean_sig,
        |       CAST(length(trim(regexp_replace(s2, '  +', ' '))) AS BIGINT) AS clean_len
        |FROM red ORDER BY doc_id""".stripMargin,
      s"""WITH dirty AS (SELECT doc_id,
        |    concat('<div id="', doc_id, '"> ', text, ' contact user', doc_id,
        |           '@mail.example.com or visit https://site.example/', doc_id,
        |           ' now</div>') AS raw FROM documents),
        |st AS (SELECT doc_id, regexp_replace(raw, '${Curation.TagPattern}', ' ', 'g') AS s1 FROM dirty),
        |red AS (SELECT doc_id,
        |    CAST(len(regexp_extract_all(s1,
        |      '${Curation.EmailPattern}')) AS BIGINT) AS n_emails,
        |    CAST(len(regexp_extract_all(s1, '${Curation.UrlPattern}')) AS BIGINT) AS n_urls,
        |    regexp_replace(regexp_replace(s1,
        |      '${Curation.EmailPattern}', '[EMAIL]', 'g'),
        |      '${Curation.UrlPattern}', '[URL]', 'g') AS s2
        |  FROM st)
        |SELECT doc_id, n_emails, n_urls,
        |       md5(trim(regexp_replace(s2, '  +', ' ', 'g'))) AS clean_sig,
        |       CAST(length(trim(regexp_replace(s2, '  +', ' ', 'g'))) AS BIGINT) AS clean_len
        |FROM red ORDER BY doc_id""".stripMargin),

    // ------------------------------------------------------------------
    // tx8: TF-IDF document scoring — term frequency is DOC-LOCAL state,
    // so the native `token_counts` kernel computes each document's
    // (token, tf) map in one compiled row-local pass and the raw token
    // stream never shuffles at all (the explode→GROUP BY (doc, token)
    // spelling shuffled every token occurrence just to collapse
    // within-document duplicates, and its df branch re-exploded the
    // corpus a second time — AQE could not unify the two inlinings).
    // What remains on the wire: the doc-deduped (token) stream into the
    // vocabulary-sized df aggregate, and one |docs|-row final rollup.
    // IDF quantizes to integer micro-logs (tx7's trick) so per-doc sums
    // are order- and engine-independent.
    Q("tx8_tfidf",
      """WITH tf AS (SELECT doc_id, token, tf FROM documents
        |            LATERAL VIEW explode(token_counts(text)) t AS token, tf),
        |df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
        |n AS (SELECT count(*) AS n FROM documents)
        |SELECT tf.doc_id,
        |  CAST(sum(tf.tf * CAST(floor(ln(n.n / CAST(df.df AS DOUBLE)) * 1000000) AS BIGINT))
        |       AS BIGINT) AS tfidf_micro,
        |  CAST(count(*) AS BIGINT) AS n_terms
        |FROM tf JOIN df ON tf.token = df.token CROSS JOIN n
        |GROUP BY tf.doc_id ORDER BY tf.doc_id""".stripMargin,
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token),
        |df AS (SELECT token, count(DISTINCT doc_id) AS df FROM tok GROUP BY token),
        |n AS (SELECT count(*) AS n FROM documents)
        |SELECT tf.doc_id,
        |  CAST(sum(tf.tf * CAST(floor(ln(n.n / CAST(df.df AS DOUBLE)) * 1000000) AS BIGINT))
        |       AS BIGINT) AS tfidf_micro,
        |  CAST(count(*) AS BIGINT) AS n_terms
        |FROM tf JOIN df ON tf.token = df.token CROSS JOIN n
        |GROUP BY tf.doc_id ORDER BY tf.doc_id""".stripMargin),

    // ------------------------------------------------------------------
    // cs1: per-source corpus report — the mix dashboard a training-data
    // build reads before weighting sources: volume, token mass, language
    // spread, exact-dup rate. Two partial-aggregable passes (per-source
    // agg + content-hash dup counts joined back on the hash). A
    // window-count-over-sig rewrite (one scan, no join) was A/B'd in
    // round 10 and LOST at sf1 — 1.24 s vs 0.80 s warm: the window's
    // per-partition sort on the hash costs more than the second scan +
    // hash join it removes. Keep the join form.
    Q("cs1_corpus_report",
      """WITH t AS (SELECT source, doc_id, text, lang,
        |             size(split(text, ' ')) AS tokens FROM documents),
        |d AS (SELECT md5(text) AS sig, count(*) AS c FROM documents GROUP BY 1)
        |SELECT t.source,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(tokens) AS BIGINT) AS total_tokens,
        |  round(avg(tokens), 2) AS avg_tokens,
        |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |  CAST(sum(CASE WHEN d.c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs
        |FROM t JOIN d ON md5(t.text) = d.sig
        |GROUP BY t.source ORDER BY t.source""".stripMargin,
      """WITH t AS (SELECT source, doc_id, text, lang,
        |             len(string_split(text, ' ')) AS tokens FROM documents),
        |d AS (SELECT md5(text) AS sig, count(*) AS c FROM documents GROUP BY 1)
        |SELECT t.source,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(tokens) AS BIGINT) AS total_tokens,
        |  round(avg(tokens), 2) AS avg_tokens,
        |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |  CAST(sum(CASE WHEN d.c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs
        |FROM t JOIN d ON md5(t.text) = d.sig
        |GROUP BY t.source ORDER BY t.source""".stripMargin),

    // ------------------------------------------------------------------
    // tx9: Shannon-entropy quality signals (character- and token-level) —
    // the compressibility proxy filter (low-entropy text is boilerplate /
    // repetition; used alongside tx2/tx5 in Gopher/Dolma-style rule
    // stacks). H = ln N - (Σ n_c ln n_c)/N per doc with per-symbol ln's
    // quantized to integer micro-nats (tx7's trick). Symbol counting is
    // DOC-LOCAL state, so the native one-pass `text_stats` expression
    // (graft.functions.TextEntropyStats) computes the integer partials
    // row-locally inside codegen — the query is a pure projection, zero
    // shuffles, where the exploded spelling paid two explode→groupBy
    // chains plus a join (0.65 s → ~0.1 s at sf0.1; the DuckDB oracle
    // still assembles the same integers from exploded symbols — two
    // independent routes, one answer). The `st IS NOT NULL` filter
    // reproduces the exploded form's empty-document drop.
    Q("tx9_entropy",
      """WITH s AS (SELECT doc_id, text_stats(text) AS st FROM documents)
        |SELECT doc_id, st.n_chars AS n_chars, st.distinct_chars AS distinct_chars,
        |       CAST(round(ln(CAST(st.n_chars AS DOUBLE)) * 1e6
        |            - st.t_chars / CAST(st.n_chars AS DOUBLE)) AS BIGINT) AS char_ent_u6,
        |       st.n_tokens AS n_tokens, st.distinct_tokens AS distinct_tokens,
        |       CAST(round(ln(CAST(st.n_tokens AS DOUBLE)) * 1e6
        |            - st.t_tokens / CAST(st.n_tokens AS DOUBLE)) AS BIGINT) AS token_ent_u6
        |FROM s WHERE st IS NOT NULL ORDER BY doc_id""".stripMargin,
      """WITH ch AS (SELECT doc_id, c, count(*) AS nc FROM (
        |      SELECT doc_id, substring(text, CAST(i AS INTEGER), 1) AS c
        |      FROM documents, unnest(range(1, length(text) + 1)) AS u(i)) e GROUP BY doc_id, c),
        |cagg AS (SELECT doc_id, CAST(sum(nc) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS k,
        |           CAST(sum(nc * CAST(round(ln(CAST(nc AS DOUBLE)) * 1e6) AS BIGINT)) AS BIGINT) AS t
        |         FROM ch GROUP BY doc_id),
        |tk AS (SELECT doc_id, token, count(*) AS nc FROM (
        |      SELECT doc_id, token FROM documents, unnest(string_split(text, ' ')) AS u(token)) e
        |      GROUP BY doc_id, token),
        |tagg AS (SELECT doc_id, CAST(sum(nc) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS k,
        |           CAST(sum(nc * CAST(round(ln(CAST(nc AS DOUBLE)) * 1e6) AS BIGINT)) AS BIGINT) AS t
        |         FROM tk GROUP BY doc_id)
        |SELECT c.doc_id, c.n AS n_chars, c.k AS distinct_chars,
        |       CAST(round(ln(CAST(c.n AS DOUBLE)) * 1e6 - c.t / CAST(c.n AS DOUBLE)) AS BIGINT) AS char_ent_u6,
        |       t2.n AS n_tokens, t2.k AS distinct_tokens,
        |       CAST(round(ln(CAST(t2.n AS DOUBLE)) * 1e6 - t2.t / CAST(t2.n AS DOUBLE)) AS BIGINT) AS token_ent_u6
        |FROM cagg c JOIN tagg t2 ON c.doc_id = t2.doc_id ORDER BY c.doc_id""".stripMargin),

    // ------------------------------------------------------------------
    // ml1: hashed linear quality classifier (the fastText-style serving
    // shape: hashing trick, Weinberger '09) — token -> md5 bucket mod 1024
    // -> integer micro-weight -> per-doc sum. The weight table here is a
    // deterministic arithmetic stand-in for trained model state (the
    // library form takes real weights as a broadcast array); the measured
    // plan IS the production one: row-local hashing + one partial-
    // aggregable groupBy, no shuffle beyond the doc rollup. Integer
    // micro-weights make document scores exact — engine- and order-
    // independent.
    Q("ml1_classifier_score",
      """WITH tok AS (SELECT /*+ REPARTITION(doc_id) */ doc_id, token
        |             FROM documents LATERAL VIEW explode(split(text, ' ')) t AS token),
        |w AS (SELECT doc_id,
        |        ((CAST(conv(substring(md5(token), 1, 12), 16, 10) AS BIGINT) % 1024)
        |          * 2654435761) % 2000001 - 1000000 AS wt
        |      FROM tok)
        |SELECT doc_id, count(*) AS n_tokens,
        |       CAST(sum(wt) AS BIGINT) AS score_u6,
        |       CAST(round(sum(wt) / CAST(count(*) AS DOUBLE)) AS BIGINT) AS avg_score_u6,
        |       (sum(wt) > 0) AS keep_flag
        |FROM w GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      """WITH tok AS (SELECT doc_id, token
        |             FROM documents, unnest(string_split(text, ' ')) AS u(token)),
        |w AS (SELECT doc_id,
        |        ((('0x' || substring(md5(token), 1, 12))::BIGINT % 1024)
        |          * 2654435761) % 2000001 - 1000000 AS wt
        |      FROM tok)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |       CAST(sum(wt) AS BIGINT) AS score_u6,
        |       CAST(round(CAST(sum(wt) AS DOUBLE) / count(*)) AS BIGINT) AS avg_score_u6,
        |       (sum(wt) > 0) AS keep_flag
        |FROM w GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // ------------------------------------------------------------------
    // tok1: BPE merge-candidate statistics — corpus-wide adjacent-token-
    // pair frequencies, the per-iteration statistic of byte-pair-encoding
    // tokenizer training (Sennrich '16). Pair extraction is row-local
    // (transform over the token array), counting is one partial-aggregable
    // groupBy; the full iterative trainer (count -> argmax merge -> apply)
    // is TextAnalysis.bpeTrain, which loops this exact plan with the
    // merge table as driver-side model state.
    Q("tok1_bpe_pairs",
      """WITH tok AS (SELECT /*+ REPARTITION(doc_id) */ doc_id, split(text, ' ') AS w FROM documents),
        |p AS (SELECT explode(transform(sequence(0, size(w) - 2), i -> struct(w[i] AS a, w[i + 1] AS b))) AS pr
        |      FROM tok WHERE size(w) >= 2)
        |SELECT pr.a AS left_tok, pr.b AS right_tok, count(*) AS cnt
        |FROM p GROUP BY pr.a, pr.b ORDER BY cnt DESC, left_tok, right_tok LIMIT 50""".stripMargin,
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |p AS (SELECT w[CAST(i AS INTEGER) + 1] AS left_tok, w[CAST(i AS INTEGER) + 2] AS right_tok
        |      FROM tok, unnest(range(0, len(w) - 1)) AS t(i) WHERE len(w) >= 2)
        |SELECT left_tok, right_tok, CAST(count(*) AS BIGINT) AS cnt
        |FROM p GROUP BY 1, 2 ORDER BY cnt DESC, left_tok, right_tok LIMIT 50""".stripMargin),

    // ------------------------------------------------------------------
    // sp6: temperature-based source mixing (the multilingual-LM rebalance,
    // alpha = 0.5): target share q_s ∝ n_s^0.5, served by per-doc
    // Bernoulli acceptance at rate min(1, B*q_s/n_s) against an md5-
    // uniform — deterministic, reproducible, one pass. Only correctly-
    // rounded float ops (sqrt, /, *) reach the rates, and the cross-source
    // sqrt sum is index-ordered (source-sorted list fold) so both engines
    // fold identical values in identical order; the md5 uniform divides by
    // 2^48 exactly.
    Q("sp6_temperature_mix",
      """WITH n AS (SELECT source, count(*) AS n_docs,
        |             sqrt(CAST(count(*) AS DOUBLE)) AS sq
        |           FROM documents GROUP BY source),
        |tot AS (SELECT aggregate(transform(array_sort(collect_list(struct(source, sq))), x -> x.sq),
        |                         CAST(0 AS DOUBLE), (a, x) -> a + x) AS z,
        |               CAST(sum(n_docs) AS BIGINT) AS total FROM n),
        |r AS (SELECT source, n_docs,
        |        least(CAST(1 AS DOUBLE), (CAST(total AS DOUBLE) / 2) * (sq / z) / n_docs) AS rate
        |      FROM n CROSS JOIN tot),
        |s AS (SELECT d.doc_id, d.source, r.rate,
        |        (CAST(conv(substring(md5(concat('mix', CAST(d.doc_id AS STRING))), 1, 12), 16, 10) AS BIGINT)
        |          / CAST(281474976710656 AS DOUBLE)) < r.rate AS sampled
        |      FROM documents d JOIN r ON d.source = r.source)
        |SELECT source, count(*) AS n_docs,
        |       CAST(sum(CASE WHEN sampled THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
        |       round(max(rate), 6) AS rate,
        |       CAST(sum(CASE WHEN sampled THEN doc_id ELSE 0 END) AS BIGINT) AS sampled_id_sum
        |FROM s GROUP BY source ORDER BY source""".stripMargin,
      """WITH n AS (SELECT source, count(*) AS n_docs,
        |             sqrt(CAST(count(*) AS DOUBLE)) AS sq
        |           FROM documents GROUP BY source),
        |tot AS (SELECT list_sum(list(sq ORDER BY source)) AS z,
        |               CAST(sum(n_docs) AS BIGINT) AS total FROM n),
        |r AS (SELECT source, n_docs,
        |        least(CAST(1 AS DOUBLE), (CAST(total AS DOUBLE) / 2) * (sq / z) / n_docs) AS rate
        |      FROM n CROSS JOIN tot),
        |s AS (SELECT d.doc_id, d.source, r.rate,
        |        (('0x' || substring(md5('mix' || CAST(d.doc_id AS VARCHAR)), 1, 12))::BIGINT
        |          / CAST(281474976710656 AS DOUBLE)) < r.rate AS sampled
        |      FROM documents d JOIN r ON d.source = r.source)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(CASE WHEN sampled THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
        |       round(max(rate), 6) AS rate,
        |       CAST(sum(CASE WHEN sampled THEN doc_id ELSE 0 END) AS BIGINT) AS sampled_id_sum
        |FROM s GROUP BY source ORDER BY source""".stripMargin),

    // ------------------------------------------------------------------
    // sp7: QUALITY-GREEDY BUDGET FILL — select the highest-quality
    // documents per source until a token budget fills (the "give me the
    // best 10B tokens from each source" curation step). Quality here is
    // the distinct-word fraction (tx5's signal) quantized to 1e-6 so the
    // greedy order (quality DESC, doc_id) and the running token sum are
    // exact integers — deterministic across engines and cluster sizes.
    // One shuffle (the per-source window). At 100 TB the window's
    // per-source partition never needs the whole source: any document in
    // the global budget prefix is also inside its map partition's local
    // budget prefix (better-ranked docs locally are a subset of those
    // globally), so a per-partition pre-prune to `budget` tokens bounds
    // the exchange — `Sampling.budgetFill(prePrune = true)` wires it.
    Q("sp7_budget_fill",
      """WITH d AS (SELECT doc_id, source,
        |        CAST(size(split(text, ' ')) AS BIGINT) AS n_tokens,
        |        CAST(round(size(array_distinct(split(text, ' ')))
        |          / CAST(size(split(text, ' ')) AS DOUBLE) * 1e6) AS BIGINT) AS quality_u6
        |      FROM documents),
        |r AS (SELECT doc_id, source, n_tokens, quality_u6,
        |        sum(n_tokens) OVER (PARTITION BY source
        |          ORDER BY quality_u6 DESC, doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
        |      FROM d)
        |SELECT source, doc_id, quality_u6, n_tokens,
        |       CAST(cum_tokens AS BIGINT) AS cum_tokens
        |FROM r WHERE cum_tokens <= 800
        |ORDER BY source, quality_u6 DESC, doc_id""".stripMargin,
      """WITH d AS (SELECT doc_id, source,
        |        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |        CAST(round(len(list_distinct(string_split(text, ' ')))
        |          / CAST(len(string_split(text, ' ')) AS DOUBLE) * 1e6) AS BIGINT) AS quality_u6
        |      FROM documents),
        |r AS (SELECT doc_id, source, n_tokens, quality_u6,
        |        sum(n_tokens) OVER (PARTITION BY source
        |          ORDER BY quality_u6 DESC, doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
        |      FROM d)
        |SELECT source, doc_id, quality_u6, n_tokens,
        |       CAST(cum_tokens AS BIGINT) AS cum_tokens
        |FROM r WHERE cum_tokens <= 800
        |ORDER BY source, quality_u6 DESC, doc_id""".stripMargin),

    // ------------------------------------------------------------------
    // ts2: rolling z-score anomaly detection over hourly event counts —
    // the data-quality monitor on an ingest stream (per type: trailing-24-
    // observed-hours mean/variance from INTEGER window sums, z in 1e-4
    // units). Window state is (sum, sumsq, count) — partial-aggregable and
    // bounded; all float ops (/, sqrt, *) are correctly rounded and derive
    // from exact integers, so both engines produce identical doubles.
    // Warmup rows (fewer than 12 trailing hours) are excluded.
    Q("ts2_anomaly",
      """WITH b AS (SELECT event_type,
        |         CAST(unix_timestamp(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS BIGINT) AS hr,
        |         count(*) AS n
        |       FROM events GROUP BY 1, 2),
        |w AS (SELECT event_type, hr, n,
        |        CAST(sum(n) OVER win AS BIGINT) AS s,
        |        CAST(sum(n * n) OVER win AS BIGINT) AS ss,
        |        CAST(count(*) OVER win AS BIGINT) AS k
        |      FROM b
        |      WINDOW win AS (PARTITION BY event_type ORDER BY hr
        |                     ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
        |SELECT event_type, hr AS hr_epoch, CAST(n AS BIGINT) AS n,
        |       CAST(round((n - s / CAST(k AS DOUBLE))
        |             / sqrt((ss - s * s / CAST(k AS DOUBLE)) / k + CAST(1 AS DOUBLE)) * 1e4) AS BIGINT) AS z_u4,
        |       (abs((n - s / CAST(k AS DOUBLE))
        |             / sqrt((ss - s * s / CAST(k AS DOUBLE)) / k + CAST(1 AS DOUBLE))) > 3) AS anomaly
        |FROM w WHERE k >= 12 ORDER BY event_type, hr""".stripMargin,
      """WITH b AS (SELECT event_type,
        |         CAST(floor(epoch(date_trunc('hour', CAST(ts AS TIMESTAMP)))) AS BIGINT) AS hr,
        |         count(*) AS n
        |       FROM events GROUP BY 1, 2),
        |w AS (SELECT event_type, hr, n,
        |        CAST(sum(n) OVER win AS BIGINT) AS s,
        |        CAST(sum(n * n) OVER win AS BIGINT) AS ss,
        |        CAST(count(*) OVER win AS BIGINT) AS k
        |      FROM b
        |      WINDOW win AS (PARTITION BY event_type ORDER BY hr
        |                     ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
        |SELECT event_type, hr AS hr_epoch, CAST(n AS BIGINT) AS n,
        |       CAST(round((n - s / CAST(k AS DOUBLE))
        |             / sqrt((ss - s * s / CAST(k AS DOUBLE)) / k + CAST(1 AS DOUBLE)) * 1e4) AS BIGINT) AS z_u4,
        |       (abs((n - s / CAST(k AS DOUBLE))
        |             / sqrt((ss - s * s / CAST(k AS DOUBLE)) / k + CAST(1 AS DOUBLE))) > 3) AS anomaly
        |FROM w WHERE k >= 12 ORDER BY event_type, hr""".stripMargin),

    // ------------------------------------------------------------------
    // ts3: SEASONAL-baseline anomaly — ts2's rolling window flags level
    // shifts but fires on every daily peak; the ops-dashboard form
    // compares each hour against its OWN hour-of-day seasonal profile
    // (mean/std per (event_type, hour-of-day) across the corpus).
    // Two partial-aggregable groupBys + one broadcast join of the tiny
    // (types × 24)-row profile back onto the hourly series; z quantizes
    // to 1e-4 integers (inputs are integer counts, so the float ops are
    // bit-identical across engines — the ts2 determinism argument).
    Q("ts3_seasonal_anomaly",
      """WITH b AS (SELECT event_type,
        |         CAST(unix_timestamp(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS BIGINT) AS hr,
        |         CAST(hour(CAST(ts AS TIMESTAMP)) AS BIGINT) AS hod,
        |         count(*) AS n
        |       FROM events GROUP BY 1, 2, 3),
        |p AS (SELECT event_type, hod,
        |        CAST(sum(n) AS BIGINT) AS s, CAST(sum(n * n) AS BIGINT) AS ss,
        |        CAST(count(*) AS BIGINT) AS k
        |      FROM b GROUP BY 1, 2)
        |SELECT b.event_type, b.hr AS hr_epoch, CAST(b.n AS BIGINT) AS n,
        |       CAST(round(p.s / CAST(p.k AS DOUBLE) * 1e4) AS BIGINT) AS baseline_u4,
        |       CAST(round((b.n - p.s / CAST(p.k AS DOUBLE))
        |             / sqrt((p.ss - p.s * p.s / CAST(p.k AS DOUBLE)) / p.k + CAST(1 AS DOUBLE)) * 1e4) AS BIGINT) AS z_u4,
        |       (abs((b.n - p.s / CAST(p.k AS DOUBLE))
        |             / sqrt((p.ss - p.s * p.s / CAST(p.k AS DOUBLE)) / p.k + CAST(1 AS DOUBLE))) > 3) AS anomaly
        |FROM b JOIN p ON b.event_type = p.event_type AND b.hod = p.hod
        |WHERE p.k >= 5
        |ORDER BY b.event_type, b.hr""".stripMargin,
      """WITH b AS (SELECT event_type,
        |         CAST(floor(epoch(date_trunc('hour', CAST(ts AS TIMESTAMP)))) AS BIGINT) AS hr,
        |         CAST(hour(CAST(ts AS TIMESTAMP)) AS BIGINT) AS hod,
        |         count(*) AS n
        |       FROM events GROUP BY 1, 2, 3),
        |p AS (SELECT event_type, hod,
        |        CAST(sum(n) AS BIGINT) AS s, CAST(sum(n * n) AS BIGINT) AS ss,
        |        CAST(count(*) AS BIGINT) AS k
        |      FROM b GROUP BY 1, 2)
        |SELECT b.event_type, b.hr AS hr_epoch, CAST(b.n AS BIGINT) AS n,
        |       CAST(round(p.s / CAST(p.k AS DOUBLE) * 1e4) AS BIGINT) AS baseline_u4,
        |       CAST(round((b.n - p.s / CAST(p.k AS DOUBLE))
        |             / sqrt((p.ss - p.s * p.s / CAST(p.k AS DOUBLE)) / p.k + CAST(1 AS DOUBLE)) * 1e4) AS BIGINT) AS z_u4,
        |       (abs((b.n - p.s / CAST(p.k AS DOUBLE))
        |             / sqrt((p.ss - p.s * p.s / CAST(p.k AS DOUBLE)) / p.k + CAST(1 AS DOUBLE))) > 3) AS anomaly
        |FROM b JOIN p ON b.event_type = p.event_type AND b.hod = p.hod
        |WHERE p.k >= 5
        |ORDER BY b.event_type, b.hr""".stripMargin),

    // ------------------------------------------------------------------
    // tok4: VOCABULARY Zipf / coverage report — the tokenizer-design
    // diagnostic (how many distinct tokens cover 50/90/99% of the
    // stream?): top-100 tokens by frequency with cumulative coverage in
    // per-mille. Scale shape: the corpus pays ONE explode + groupBy
    // (partial-aggregable word counts); the ranking windows run over the
    // VOCABULARY — bounded by distinct words, not corpus rows — so the
    // single-partition window is a report-sized frame, never the stream.
    // Integer math end to end ((1000·cum) div total).
    Q("tok4_vocab_coverage",
      """WITH t AS (SELECT tok FROM documents
        |           LATERAL VIEW explode(split(text, ' ')) x AS tok
        |           WHERE tok <> ''),
        |c AS (SELECT tok, count(*) AS n FROM t GROUP BY tok),
        |r AS (SELECT tok, n,
        |        row_number() OVER (ORDER BY n DESC, tok) AS rnk,
        |        sum(n) OVER () AS total,
        |        sum(n) OVER (ORDER BY n DESC, tok
        |                     ROWS UNBOUNDED PRECEDING) AS cum
        |      FROM c)
        |SELECT CAST(rnk AS BIGINT) AS rnk, tok, CAST(n AS BIGINT) AS n,
        |       CAST((1000 * cum) div total AS BIGINT) AS coverage_pm
        |FROM r WHERE rnk <= 100 ORDER BY rnk""".stripMargin,
      """WITH t AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        |c AS (SELECT tok, count(*) AS n FROM t WHERE tok <> '' GROUP BY tok),
        |r AS (SELECT tok, n,
        |        row_number() OVER (ORDER BY n DESC, tok) AS rnk,
        |        sum(n) OVER () AS total,
        |        sum(n) OVER (ORDER BY n DESC, tok
        |                     ROWS UNBOUNDED PRECEDING) AS cum
        |      FROM c)
        |SELECT CAST(rnk AS BIGINT) AS rnk, tok, CAST(n AS BIGINT) AS n,
        |       CAST((1000 * cum) // total AS BIGINT) AS coverage_pm
        |FROM r WHERE rnk <= 100 ORDER BY rnk""".stripMargin),

    // ap1: approximate aggregates as DETERMINISTIC sketches — KMV
    // (k-minimum-values, Bar-Yossef et al. RANDOM'02) distinct-count
    // estimate + a hash-Bernoulli sampled median. Unlike HLL++/t-digest
    // (engine-specific layouts, rows-only forever), both sketches are pure
    // functions of md5, so DuckDB reproduces them bit-for-bit and the
    // driver hash-gates the query like any other. Scale shape: the KMV
    // state per group is the k=64 smallest 48-bit hashes (merge = min-k of
    // a union, partial-aggregable; the library twin Sketches.kmvDistinct
    // runs it on the TopKPerGroup bounded-heap plan); the sampler is a
    // row-local predicate, and the sample median sorts ~10% of one group
    // per partition. estimate = (k-1) * 2^48 / h_(k), integer-exact.
    Q("ap1_approx_agg",
      s"""WITH h AS (SELECT DISTINCT l_returnflag AS rf,
         |        CAST(conv(substring(md5(CAST(l_partkey AS STRING)), 1, 12), 16, 10) AS BIGINT) AS hv
         |      FROM lineitem),
         |rk AS (SELECT rf, hv,
         |        row_number() OVER (PARTITION BY rf ORDER BY hv) AS rn,
         |        count(*) OVER (PARTITION BY rf) AS nd
         |      FROM h),
         |kmv AS (SELECT rf, max(nd) AS exact_parts,
         |         max(CASE WHEN rn = 64 THEN hv END) AS h64
         |       FROM rk GROUP BY rf),
         |samp AS (SELECT l_returnflag AS rf, l_extendedprice AS price
         |      FROM lineitem
         |      WHERE CAST(conv(substring(md5(concat(CAST(l_orderkey AS STRING), ':',
         |                CAST(l_linenumber AS STRING))), 1, 12), 16, 10) AS BIGINT) % 10 = 0),
         |sr AS (SELECT rf, price,
         |        row_number() OVER (PARTITION BY rf ORDER BY price) AS rn,
         |        count(*) OVER (PARTITION BY rf) AS n
         |      FROM samp),
         |med AS (SELECT rf, max(CASE WHEN rn = (n + 1) DIV 2 THEN price END) AS p50
         |      FROM sr GROUP BY rf)
         |SELECT k.rf AS l_returnflag, k.exact_parts,
         |       CASE WHEN k.exact_parts >= 64
         |            THEN ${63L * (1L << 48)} DIV greatest(k.h64, 1)
         |            ELSE k.exact_parts END AS kmv_parts,
         |       round(m.p50, 2) AS p50_sample
         |FROM kmv k JOIN med m ON m.rf = k.rf
         |ORDER BY l_returnflag""".stripMargin,
      s"""WITH h AS (SELECT DISTINCT l_returnflag AS rf,
         |        ('0x' || substring(md5(CAST(l_partkey AS VARCHAR)), 1, 12))::BIGINT AS hv
         |      FROM lineitem),
         |rk AS (SELECT rf, hv,
         |        row_number() OVER (PARTITION BY rf ORDER BY hv) AS rn,
         |        count(*) OVER (PARTITION BY rf) AS nd
         |      FROM h),
         |kmv AS (SELECT rf, max(nd) AS exact_parts,
         |         max(CASE WHEN rn = 64 THEN hv END) AS h64
         |       FROM rk GROUP BY rf),
         |samp AS (SELECT l_returnflag AS rf, l_extendedprice AS price
         |      FROM lineitem
         |      WHERE ('0x' || substring(md5(concat(CAST(l_orderkey AS VARCHAR), ':',
         |                CAST(l_linenumber AS VARCHAR))), 1, 12))::BIGINT % 10 = 0),
         |sr AS (SELECT rf, price,
         |        row_number() OVER (PARTITION BY rf ORDER BY price) AS rn,
         |        count(*) OVER (PARTITION BY rf) AS n
         |      FROM samp),
         |med AS (SELECT rf, max(CASE WHEN rn = (n + 1) // 2 THEN price END) AS p50
         |      FROM sr GROUP BY rf)
         |SELECT k.rf AS l_returnflag, k.exact_parts,
         |       CASE WHEN k.exact_parts >= 64
         |            THEN ${63L * (1L << 48)} // greatest(k.h64, 1)
         |            ELSE k.exact_parts END AS kmv_parts,
         |       round(m.p50, 2) AS p50_sample
         |FROM kmv k JOIN med m ON m.rf = k.rf
         |ORDER BY l_returnflag""".stripMargin),

    // ap2: heavy hitters scored against a DETERMINISTIC count-min sketch
    // (Cormode-Muthukrishnan '05): depth d=4 md5-derived hash rows, width
    // w=1024. ONE full-corpus pass: the per-token count groupBy (map-side
    // partial counts), shared by the exact top-20 side and the sketch
    // (AQE reuses the canonically-equal token exchange across both CTE
    // inlinings — verified on the FINAL adaptive plan, SCALE.md
    // round-10 "ap2 audit";
    // the initial plan misleadingly prints two scans) —
    // the d-way explode and the 4*1024-cell counter aggregation run over
    // the vocab-sized count frame, not the token stream (sums commute, so
    // values are identical to the per-occurrence spelling at a fraction of
    // the shuffle). Same md5 family in DuckDB -> identical counters ->
    // hash-gated, unlike the native Spark CountMinSketch whose serialized
    // layout no other engine can replay. PipelineSpec keeps the classic
    // CMS guarantees pinned (never under-counts; over-count within eps*N).
    Q("ap2_heavy_hitters",
      """WITH cnts AS (SELECT token, CAST(sum(c) AS BIGINT) AS cnt FROM documents
        |        LATERAL VIEW explode(token_counts(lower(text))) t AS token, c
        |      GROUP BY token),
        |exact AS (SELECT token, cnt AS exact_count FROM cnts
        |      ORDER BY cnt DESC, token LIMIT 20),
        |cms AS (SELECT j,
        |         md5_key48(j, token) % 1024 AS bucket,
        |         CAST(sum(cnt) AS BIGINT) AS cnt
        |      FROM cnts LATERAL VIEW explode(sequence(0, 3)) s AS j
        |      GROUP BY 1, 2),
        |probe AS (SELECT token, exact_count, j,
        |         md5_key48(j, token) % 1024 AS bucket
        |      FROM exact LATERAL VIEW explode(sequence(0, 3)) s AS j)
        |SELECT p.token, p.exact_count, min(c.cnt) AS cms_estimate
        |FROM probe p JOIN cms c ON c.j = p.j AND c.bucket = p.bucket
        |GROUP BY p.token, p.exact_count
        |ORDER BY exact_count DESC, token""".stripMargin,
      """WITH tok AS (SELECT unnest(string_split(lower(text), ' ')) AS token
        |      FROM documents),
        |cnts AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY token),
        |exact AS (SELECT token, cnt AS exact_count FROM cnts
        |      ORDER BY cnt DESC, token LIMIT 20),
        |cms AS (SELECT j,
        |         ('0x' || substring(md5(concat(CAST(j AS VARCHAR), ':', token)), 1, 12))::BIGINT % 1024 AS bucket,
        |         CAST(sum(cnt) AS BIGINT) AS cnt
        |      FROM cnts, unnest(range(0, 4)) AS s(j)
        |      GROUP BY 1, 2),
        |probe AS (SELECT token, exact_count, j,
        |         ('0x' || substring(md5(concat(CAST(j AS VARCHAR), ':', token)), 1, 12))::BIGINT % 1024 AS bucket
        |      FROM exact, unnest(range(0, 4)) AS s(j))
        |SELECT p.token, p.exact_count, min(c.cnt) AS cms_estimate
        |FROM probe p JOIN cms c ON c.j = p.j AND c.bucket = p.bucket
        |GROUP BY p.token, p.exact_count
        |ORDER BY exact_count DESC, token""".stripMargin),

    // ch1: fixed-window chunking with overlap — the RAG/context-window
    // prep pass that splits every document into 64-token chunks on a
    // 48-token stride (16 tokens of overlap). Entirely row-local: one
    // explode per document, no shuffle at all until the final ORDER BY
    // (which only the oracle contract needs) — the 100 TB shape is a pure
    // map stage that parallelizes with the input partitioning. Chunk
    // content is verified by md5 so the result stays compact.
    Q("ch1_chunk_overlap",
      """WITH d AS (SELECT doc_id, split(text, ' ') AS w FROM documents),
        |ch AS (SELECT doc_id, c,
        |        array_join(slice(w, c * 48 + 1, 64), ' ') AS chunk,
        |        size(slice(w, c * 48 + 1, 64)) AS n_tokens
        |      FROM d LATERAL VIEW explode(sequence(0, (size(w) - 1) DIV 48)) t AS c)
        |SELECT doc_id, CAST(c AS BIGINT) AS chunk_id,
        |       CAST(n_tokens AS BIGINT) AS n_tokens, md5(chunk) AS chunk_md5
        |FROM ch ORDER BY doc_id, chunk_id""".stripMargin,
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |ch AS (SELECT doc_id, c,
        |        array_to_string(list_slice(w, c * 48 + 1, c * 48 + 64), ' ') AS chunk,
        |        len(list_slice(w, c * 48 + 1, c * 48 + 64)) AS n_tokens
        |      FROM d, unnest(range(0, ((len(w) - 1) // 48) + 1)) AS t(c))
        |SELECT doc_id, CAST(c AS BIGINT) AS chunk_id,
        |       CAST(n_tokens AS BIGINT) AS n_tokens, md5(chunk) AS chunk_md5
        |FROM ch ORDER BY doc_id, chunk_id""".stripMargin),

    // tx10: bigram language-model scoring (extends tx7's unigram LM) —
    // add-one-smoothed corpus bigram model, per-document negative
    // log-likelihood. Scores are integer micro-nats
    // (floor(ln(p) * 1e6) summed as BIGINT) so the per-doc sum is
    // order-independent and engine-exact. Scale shape: the bigram model is
    // NOT broadcast — doc bigrams hash-join the count frames on the bigram
    // key (a bigram model over a web corpus is itself huge), then one
    // partial-aggregable per-doc sum; vocab size is the only scalar.
    Q("tx10_bigram_lm",
      """WITH d AS (SELECT doc_id, split(text, ' ') AS w FROM documents
        |      WHERE size(split(text, ' ')) >= 2),
        |bg AS (SELECT doc_id, element_at(w, i + 1) AS w1, element_at(w, i + 2) AS w2
        |      FROM d LATERAL VIEW explode(sequence(0, size(w) - 2)) t AS i),
        |cb AS (SELECT w1, w2, count(*) AS cb FROM bg GROUP BY w1, w2),
        |cu AS (SELECT w1, count(*) AS cu FROM bg GROUP BY w1),
        |vv AS (SELECT count(DISTINCT token) AS v FROM (
        |        SELECT explode(split(text, ' ')) AS token FROM documents)),
        |sc AS (SELECT g.doc_id,
        |        CAST(floor(ln((b.cb + 1) / CAST(u.cu + vv.v AS DOUBLE)) * 1e6) AS BIGINT) AS lp
        |      FROM bg g
        |      JOIN cb b ON b.w1 = g.w1 AND b.w2 = g.w2
        |      JOIN cu u ON u.w1 = g.w1
        |      CROSS JOIN vv)
        |SELECT doc_id, count(*) AS n_bigrams, CAST(-sum(lp) AS BIGINT) AS nll_u6
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |      WHERE len(string_split(text, ' ')) >= 2),
        |bg AS (SELECT doc_id, w[i + 1] AS w1, w[i + 2] AS w2
        |      FROM d, unnest(range(0, len(w) - 1)) AS t(i)),
        |cb AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cb FROM bg GROUP BY w1, w2),
        |cu AS (SELECT w1, CAST(count(*) AS BIGINT) AS cu FROM bg GROUP BY w1),
        |vv AS (SELECT CAST(count(DISTINCT token) AS BIGINT) AS v FROM (
        |        SELECT unnest(string_split(text, ' ')) AS token FROM documents)),
        |sc AS (SELECT g.doc_id,
        |        CAST(floor(ln((b.cb + 1) / CAST(u.cu + vv.v AS DOUBLE)) * 1e6) AS BIGINT) AS lp
        |      FROM bg g
        |      JOIN cb b ON b.w1 = g.w1 AND b.w2 = g.w2
        |      JOIN cu u ON u.w1 = g.w1
        |      CROSS JOIN vv)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |       CAST(-sum(lp) AS BIGINT) AS nll_u6
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // dd8: exact duplicated-SPAN diagnostic (Lee et al. 2021 substring
    // dedup shape) — per document, how many of its 15-token sliding
    // windows occur verbatim in some OTHER document. Windows travel as
    // md5 digests (fixed-width shuffle key); one digest groupBy + one
    // semi join + per-doc agg; per-mille fraction is integer arithmetic.
    // The size(w) >= 15 gate must precede the explode: Spark's
    // sequence(0, negative) counts DOWN instead of returning empty.
    Q("dd8_duplicated_spans",
      """WITH d AS (SELECT doc_id, split(text, ' ') AS w FROM documents
        |      WHERE size(split(text, ' ')) >= 15),
        |wins AS (SELECT doc_id, md5(array_join(slice(w, i + 1, 15), ' ')) AS gh
        |      FROM d LATERAL VIEW explode(sequence(0, size(w) - 15)) t AS i),
        |dup AS (SELECT gh FROM wins GROUP BY gh HAVING count(DISTINCT doc_id) > 1),
        |nw AS (SELECT doc_id, count(*) AS n_windows FROM wins GROUP BY doc_id),
        |dw AS (SELECT doc_id, count(*) AS dup_windows FROM wins
        |      WHERE gh IN (SELECT gh FROM dup) GROUP BY doc_id)
        |SELECT n.doc_id, CAST(n.n_windows AS BIGINT) AS n_windows,
        |       CAST(coalesce(d2.dup_windows, 0) AS BIGINT) AS dup_windows,
        |       CAST(coalesce(d2.dup_windows, 0) * 1000 DIV n.n_windows AS BIGINT) AS dup_pm
        |FROM nw n LEFT JOIN dw d2 ON d2.doc_id = n.doc_id
        |ORDER BY n.doc_id""".stripMargin,
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |      WHERE len(string_split(text, ' ')) >= 15),
        |wins AS (SELECT doc_id, md5(array_to_string(list_slice(w, i + 1, i + 15), ' ')) AS gh
        |      FROM d, unnest(range(0, len(w) - 14)) AS t(i)),
        |dup AS (SELECT gh FROM wins GROUP BY gh HAVING count(DISTINCT doc_id) > 1),
        |nw AS (SELECT doc_id, count(*) AS n_windows FROM wins GROUP BY doc_id),
        |dw AS (SELECT doc_id, count(*) AS dup_windows FROM wins
        |      WHERE gh IN (SELECT gh FROM dup) GROUP BY doc_id)
        |SELECT n.doc_id, CAST(n.n_windows AS BIGINT) AS n_windows,
        |       CAST(coalesce(d2.dup_windows, 0) AS BIGINT) AS dup_windows,
        |       CAST(coalesce(d2.dup_windows, 0) * 1000 // n.n_windows AS BIGINT) AS dup_pm
        |FROM nw n LEFT JOIN dw d2 ON d2.doc_id = n.doc_id
        |ORDER BY n.doc_id""".stripMargin),

    // dd9: duplicated-span EXCISION — the transform dd8 only diagnoses
    // (Lee et al. 2022 dedup-by-removal): every 15-token window that
    // also occurs in a LOWER-id document is cut from this document's
    // token stream; the first occurrence keeps its text. Emits the
    // cleaned text for EVERY document (a fully-covered doc returns
    // empty, never a dropped row). Ownership = one digest groupBy;
    // only foreign-dup windows (sparse) explode into covered positions;
    // the rebuild is one per-doc agg with an ordered token join.
    Q("dd9_span_excision",
      """WITH d AS (SELECT doc_id, split(text, ' ') AS w FROM documents),
        |toks AS (SELECT doc_id, p, tok FROM d LATERAL VIEW posexplode(w) t AS p, tok),
        |dw AS (SELECT doc_id, i, md5(array_join(slice(w, i + 1, 15), ' ')) AS gh
        |      FROM (SELECT * FROM d WHERE size(w) >= 15) dd
        |      LATERAL VIEW explode(sequence(0, size(w) - 15)) t AS i),
        |own AS (SELECT gh, min(doc_id) AS own FROM dw GROUP BY gh),
        |fd AS (SELECT w2.doc_id, w2.i FROM dw w2
        |      JOIN own o ON o.gh = w2.gh WHERE o.own < w2.doc_id),
        |cov AS (SELECT DISTINCT doc_id, i + j AS p
        |      FROM fd LATERAL VIEW explode(sequence(0, 14)) s AS j)
        |SELECT t.doc_id, count(*) AS n_tokens, count(c.p) AS n_removed,
        |       array_join(transform(array_sort(collect_list(
        |         CASE WHEN c.p IS NULL THEN struct(t.p, t.tok) END)),
        |         s -> s.tok), ' ') AS text_clean
        |FROM toks t LEFT JOIN cov c ON c.doc_id = t.doc_id AND c.p = t.p
        |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin,
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |toks AS (SELECT doc_id, p, w[p + 1] AS tok
        |      FROM d, unnest(range(0, len(w))) AS t(p)),
        |dw AS (SELECT doc_id, i, md5(array_to_string(list_slice(w, i + 1, i + 15), ' ')) AS gh
        |      FROM d, unnest(range(0, len(w) - 14)) AS t(i) WHERE len(w) >= 15),
        |own AS (SELECT gh, min(doc_id) AS own FROM dw GROUP BY gh),
        |fd AS (SELECT w2.doc_id, w2.i FROM dw w2
        |      JOIN own o ON o.gh = w2.gh WHERE o.own < w2.doc_id),
        |cov AS (SELECT DISTINCT doc_id, i + j AS p
        |      FROM fd, unnest(range(0, 15)) AS s(j))
        |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |       CAST(count(c.p) AS BIGINT) AS n_removed,
        |       coalesce(string_agg(CASE WHEN c.p IS NULL THEN t.tok END,
        |         ' ' ORDER BY t.p), '') AS text_clean
        |FROM toks t LEFT JOIN cov c ON c.doc_id = t.doc_id AND c.p = t.p
        |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin),

    // tx12: CCNet-style perplexity filtering (Wenzek et al. 2020) — an
    // add-one-smoothed bigram LM trained on the trusted src0 slice (the
    // Wikipedia analogue), applied OUT-OF-DOMAIN to every document
    // (unseen bigram/context => cb = 0 / cu = 0 vs the reference
    // vocabulary), per-token perplexity in integer micro-nats, and
    // per-language head/middle/tail tertiles — the canonical web-crawl
    // quality-stratification step. ntile ties break on doc_id, so the
    // bucketing is engine-deterministic.
    Q("tx12_perplexity_filter",
      """WITH ref AS (SELECT split(text, ' ') AS w FROM documents
        |      WHERE source = 'src0' AND size(split(text, ' ')) >= 2),
        |rb AS (SELECT element_at(w, i + 1) AS w1, element_at(w, i + 2) AS w2
        |      FROM ref LATERAL VIEW explode(sequence(0, size(w) - 2)) t AS i),
        |cb AS (SELECT w1, w2, count(*) AS cb FROM rb GROUP BY w1, w2),
        |cu AS (SELECT w1, count(*) AS cu FROM rb GROUP BY w1),
        |vv AS (SELECT count(DISTINCT token) AS v FROM (
        |        SELECT explode(split(text, ' ')) AS token FROM documents
        |        WHERE source = 'src0')),
        |d AS (SELECT doc_id, split(text, ' ') AS w FROM documents
        |      WHERE size(split(text, ' ')) >= 2),
        |db AS (SELECT doc_id, element_at(w, i + 1) AS w1, element_at(w, i + 2) AS w2
        |      FROM d LATERAL VIEW explode(sequence(0, size(w) - 2)) t AS i),
        |sc AS (SELECT g.doc_id,
        |        CAST(floor(ln((coalesce(b.cb, 0) + 1) /
        |          CAST(coalesce(u.cu, 0) + vv.v AS DOUBLE)) * 1e6) AS BIGINT) AS lp
        |      FROM db g
        |      LEFT JOIN cb b ON b.w1 = g.w1 AND b.w2 = g.w2
        |      LEFT JOIN cu u ON u.w1 = g.w1
        |      CROSS JOIN vv),
        |pp AS (SELECT doc_id, CAST(-sum(lp) AS BIGINT) DIV count(*) AS ppl_u6
        |      FROM sc GROUP BY doc_id)
        |SELECT doc_id, lang, ppl_u6,
        |       CASE t WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
        |         AS ppl_bucket
        |FROM (SELECT p.doc_id, d2.lang, p.ppl_u6,
        |             ntile(3) OVER (PARTITION BY d2.lang
        |               ORDER BY p.ppl_u6, p.doc_id) AS t
        |      FROM pp p JOIN documents d2 ON d2.doc_id = p.doc_id) x
        |ORDER BY doc_id""".stripMargin,
      """WITH ref AS (SELECT string_split(text, ' ') AS w FROM documents
        |      WHERE source = 'src0' AND len(string_split(text, ' ')) >= 2),
        |rb AS (SELECT w[i + 1] AS w1, w[i + 2] AS w2
        |      FROM ref, unnest(range(0, len(w) - 1)) AS t(i)),
        |cb AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cb FROM rb GROUP BY w1, w2),
        |cu AS (SELECT w1, CAST(count(*) AS BIGINT) AS cu FROM rb GROUP BY w1),
        |vv AS (SELECT CAST(count(DISTINCT token) AS BIGINT) AS v FROM (
        |        SELECT unnest(string_split(text, ' ')) AS token FROM documents
        |        WHERE source = 'src0')),
        |d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |      WHERE len(string_split(text, ' ')) >= 2),
        |db AS (SELECT doc_id, w[i + 1] AS w1, w[i + 2] AS w2
        |      FROM d, unnest(range(0, len(w) - 1)) AS t(i)),
        |sc AS (SELECT g.doc_id,
        |        CAST(floor(ln((coalesce(b.cb, 0) + 1) /
        |          CAST(coalesce(u.cu, 0) + vv.v AS DOUBLE)) * 1e6) AS BIGINT) AS lp
        |      FROM db g
        |      LEFT JOIN cb b ON b.w1 = g.w1 AND b.w2 = g.w2
        |      LEFT JOIN cu u ON u.w1 = g.w1
        |      CROSS JOIN vv),
        |pp AS (SELECT doc_id, CAST(-sum(lp) AS BIGINT) // count(*) AS ppl_u6
        |      FROM sc GROUP BY doc_id)
        |SELECT doc_id, lang, ppl_u6,
        |       CASE t WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
        |         AS ppl_bucket
        |FROM (SELECT p.doc_id, d2.lang, p.ppl_u6,
        |             ntile(3) OVER (PARTITION BY d2.lang
        |               ORDER BY p.ppl_u6, p.doc_id) AS t
        |      FROM pp p JOIN documents d2 ON d2.doc_id = p.doc_id) x
        |ORDER BY doc_id""".stripMargin),

    // emb1: embedding-quality outlier scoring — cosine of each vector to
    // its LABEL centroid, ranked ascending within the label (low cosine =
    // candidate mislabel/noise, the embedding-space analogue of tx2's
    // text-quality gate). All arithmetic that crosses rows is fixed-point
    // BIGINT (1e-6 vector units; centroid = per-dimension integer mean),
    // so sums are order-independent; cosine uses the SUM direction — the
    // per-dimension mean and the sum differ only by scale, which cosine
    // cancels — and the final round(x, 6) over identical integer inputs
    // is engine-exact. Scale shape: the posexplode groupBy partial-
    // aggregates to a labels x dims frame (model state); the dot agg
    // partial-aggregates per vector; nothing but the tiny centroid frame
    // is ever joined against twice.
    Q("emb1_centroid_outliers",
      """WITH v AS (SELECT vec_id, label,
        |        transform(embedding,
        |          x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS vu
        |      FROM embeddings),
        |e AS (SELECT vec_id, label, pos, u
        |      FROM v LATERAL VIEW posexplode(vu) t AS pos, u),
        |c AS (SELECT label, pos, sum(u) DIV count(*) AS cu
        |      FROM e GROUP BY label, pos),
        |dots AS (SELECT e.vec_id, e.label,
        |        sum(e.u * c.cu) AS dp, sum(e.u * e.u) AS nv, sum(c.cu * c.cu) AS nc
        |      FROM e JOIN c ON c.label = e.label AND c.pos = e.pos
        |      GROUP BY e.vec_id, e.label),
        |scored AS (SELECT vec_id, label,
        |        round(dp / (sqrt(CAST(nv AS DOUBLE)) * sqrt(CAST(nc AS DOUBLE))), 6)
        |          AS centroid_cos
        |      FROM dots)
        |SELECT label, vec_id, centroid_cos FROM (
        |  SELECT label, vec_id, centroid_cos,
        |         row_number() OVER (PARTITION BY label
        |             ORDER BY centroid_cos, vec_id) AS rn
        |  FROM scored) WHERE rn <= 10
        |ORDER BY label, centroid_cos, vec_id""".stripMargin,
      """WITH v AS (SELECT vec_id, label,
        |        list_transform(embedding,
        |          x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS vu
        |      FROM embeddings),
        |e AS (SELECT vec_id, label, i - 1 AS pos, vu[i] AS u
        |      FROM v, unnest(range(1, len(vu) + 1)) AS t(i)),
        |c AS (SELECT label, pos, sum(u) // count(*) AS cu
        |      FROM e GROUP BY label, pos),
        |dots AS (SELECT e.vec_id, e.label,
        |        CAST(sum(e.u * c.cu) AS BIGINT) AS dp,
        |        CAST(sum(e.u * e.u) AS BIGINT) AS nv,
        |        CAST(sum(c.cu * c.cu) AS BIGINT) AS nc
        |      FROM e JOIN c ON c.label = e.label AND c.pos = e.pos
        |      GROUP BY e.vec_id, e.label),
        |scored AS (SELECT vec_id, label,
        |        round(dp / (sqrt(CAST(nv AS DOUBLE)) * sqrt(CAST(nc AS DOUBLE))), 6)
        |          AS centroid_cos
        |      FROM dots)
        |SELECT label, vec_id, centroid_cos FROM (
        |  SELECT label, vec_id, centroid_cos,
        |         row_number() OVER (PARTITION BY label
        |             ORDER BY centroid_cos, vec_id) AS rn
        |  FROM scored) sub WHERE rn <= 10
        |ORDER BY label, centroid_cos, vec_id""".stripMargin),

    // emb2: CLUSTER QUALITY via simplified silhouette (Kaufman &
    // Rousseeuw's medoid-free variant: a = cosine distance to the OWN
    // label centroid, b = distance to the nearest OTHER centroid,
    // s = (b-a)/max(a,b)) — the labeling-health dashboard a curation
    // pipeline runs before trusting label-conditioned sampling. Same
    // integer discipline as emb1 (1e-6 vector units, integer centroids
    // and dots; per-row silhouettes quantize to 1e-6 BIGINT before the
    // per-label average, so cross-row sums are exact at any parallelism).
    // Scale shape: centroids are a labels x dims model frame (broadcast);
    // the every-(vector, centroid) scoring is |V| x k x dims projection
    // work — linear in the corpus for fixed k, like ss2's assignment.
    Q("emb2_cluster_silhouette",
      """WITH v AS (SELECT vec_id, label,
        |        transform(embedding,
        |          x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS vu
        |      FROM embeddings),
        |e AS (SELECT vec_id, label, pos, u
        |      FROM v LATERAL VIEW posexplode(vu) t AS pos, u),
        |c AS (SELECT label AS clabel, pos, sum(u) DIV count(*) AS cu
        |      FROM e GROUP BY label, pos),
        |dots AS (SELECT e.vec_id, e.label, c.clabel,
        |        sum(e.u * c.cu) AS dp, sum(e.u * e.u) AS nv, sum(c.cu * c.cu) AS nc
        |      FROM e JOIN c ON c.pos = e.pos
        |      GROUP BY e.vec_id, e.label, c.clabel),
        |cs AS (SELECT vec_id, label, clabel,
        |        dp / (sqrt(CAST(nv AS DOUBLE)) * sqrt(CAST(nc AS DOUBLE))) AS cos
        |      FROM dots),
        |sil AS (SELECT vec_id, label,
        |        max(CASE WHEN clabel = label THEN cos END) AS own,
        |        max(CASE WHEN clabel <> label THEN cos END) AS other
        |      FROM cs GROUP BY vec_id, label),
        |su AS (SELECT vec_id, label,
        |        CAST(floor(((CAST(1.0 AS DOUBLE) - other) - (CAST(1.0 AS DOUBLE) - own))
        |          / greatest(CAST(1.0 AS DOUBLE) - own, CAST(1.0 AS DOUBLE) - other)
        |          * 1000000) AS BIGINT) AS s_u
        |      FROM sil)
        |SELECT label, CAST(count(*) AS BIGINT) AS n,
        |  round(sum(s_u) / (CAST(1000000.0 AS DOUBLE) * count(*)), 6) AS avg_silhouette,
        |  CAST(sum(CASE WHEN s_u < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_negative
        |FROM su GROUP BY label ORDER BY label""".stripMargin,
      """WITH v AS (SELECT vec_id, label,
        |        list_transform(embedding,
        |          x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS vu
        |      FROM embeddings),
        |e AS (SELECT vec_id, label, i - 1 AS pos, vu[i] AS u
        |      FROM v, unnest(range(1, len(vu) + 1)) AS t(i)),
        |c AS (SELECT label AS clabel, pos, sum(u) // count(*) AS cu
        |      FROM e GROUP BY label, pos),
        |dots AS (SELECT e.vec_id, e.label, c.clabel,
        |        CAST(sum(e.u * c.cu) AS BIGINT) AS dp,
        |        CAST(sum(e.u * e.u) AS BIGINT) AS nv,
        |        CAST(sum(c.cu * c.cu) AS BIGINT) AS nc
        |      FROM e JOIN c ON c.pos = e.pos
        |      GROUP BY e.vec_id, e.label, c.clabel),
        |cs AS (SELECT vec_id, label, clabel,
        |        dp / (sqrt(CAST(nv AS DOUBLE)) * sqrt(CAST(nc AS DOUBLE))) AS cos
        |      FROM dots),
        |sil AS (SELECT vec_id, label,
        |        max(CASE WHEN clabel = label THEN cos END) AS own,
        |        max(CASE WHEN clabel <> label THEN cos END) AS other
        |      FROM cs GROUP BY vec_id, label),
        |su AS (SELECT vec_id, label,
        |        CAST(floor(((CAST(1.0 AS DOUBLE) - other) - (CAST(1.0 AS DOUBLE) - own))
        |          / greatest(CAST(1.0 AS DOUBLE) - own, CAST(1.0 AS DOUBLE) - other)
        |          * 1000000) AS BIGINT) AS s_u
        |      FROM sil)
        |SELECT label, CAST(count(*) AS BIGINT) AS n,
        |  round(sum(s_u) / (CAST(1000000.0 AS DOUBLE) * count(*)), 6) AS avg_silhouette,
        |  CAST(sum(CASE WHEN s_u < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_negative
        |FROM su GROUP BY label ORDER BY label""".stripMargin))

  /** Media corpora read the PHYSICAL parquet, not the `documents` temp
    * view: mesh queries shadow + re-assert that view constantly, and a
    * cached plan that references a replaced view gets uncached by the
    * CacheManager — the persisted corpus would silently rebuild (and the
    * rebuild, inheriting the small file's single input partition, ran the
    * whole transcode on one thread). Reading the file keeps the cache
    * immune to view churn; the explicit repartition sizes the transcode
    * stage by CORES, not input bytes — the per-row codec work is the cost,
    * so a 65 KB file must still fan out across the cluster. */
  private def mediaDocs(s: SparkSession, dir: String) =
    graft.sources.LocalLayout.parquet(s, s"$dir/documents.parquet")
      .repartition(s.sparkContext.defaultParallelism)

  /** Encoded multimodal corpora (mm2 media, mm3 video, mm4 audio):
    * fixture synthesis, persisted [[SessionArtifacts]] so the measured
    * work is the decode path. */
  private def cachedMedia(s: SparkSession, dir: String) =
    SessionArtifacts.persisted(s, dir, "media")(
      Multimodal.toMediaRecords(s, mediaDocs(s, dir)))

  private def cachedVideo(s: SparkSession, dir: String) =
    SessionArtifacts.persisted(s, dir, "video")(
      Multimodal.toVideoRecords(s, mediaDocs(s, dir)))

  private def cachedAudio(s: SparkSession, dir: String) =
    SessionArtifacts.persisted(s, dir, "audio")(
      Multimodal.toAudioRecords(s, mediaDocs(s, dir)))

  /** Learned IVF centroids (k x dim doubles of driver-side model state)
    * — lazy, independent of the PQ codebooks so ss3 never pays for
    * training it does not use. */
  private def annCentroids(
      s: SparkSession, dir: String,
      emb: org.apache.spark.sql.DataFrame): Seq[Seq[Double]] =
    SessionArtifacts(s, dir, "ivfCentroids") {
      val m = Similarity.sphericalKMeans(
        emb, "vec_id", "embedding", seedIds = 0L until 16L, iters = 2)
      // spill the centroid model state for the stored-state oracle HERE,
      // by whoever first learns it: a Verify subset running ss3 alone
      // must produce a fresh centroids artifact without depending on
      // ss5/ss6's index build having run in the same session
      import s.implicits._
      m.zipWithIndex.map { case (w, i) => (i, w) }.toDF("cid", "w")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"${annArtifactDir(dir)}/centroids.parquet")
      m
    }

  /** Learned PQ codebooks (nSub x k x subDim doubles of driver-side model
    * state) — lazy, symmetric; spilled for the oracle like the
    * centroids. */
  private def annBooks(
      s: SparkSession, dir: String,
      emb: org.apache.spark.sql.DataFrame): Seq[Seq[Seq[Double]]] =
    SessionArtifacts(s, dir, "pqBooks") {
      val m = Similarity.pqTrain(emb, "vec_id", "embedding")
      import s.implicits._
      m.zipWithIndex.flatMap { case (bk, si) =>
        bk.zipWithIndex.map { case (w, c) => (si, c, w) }
      }.toDF("s", "c", "w")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"${annArtifactDir(dir)}/books.parquet")
      m
    }

  /** Root for the stored-ANN-index parity artifacts: the encoded PQ index,
    * codebooks, and IVF centroids that [[annIndex]] persists so the DuckDB
    * oracle re-scores ADC from the SAME stored state. Learned-model floats
    * are not cross-engine reproducible — but they do not need to be: the
    * index is written state (exactly as in production), and correctness
    * means "given this index, serving returns exactly these neighbors".
    * Keyed by the sf directory basename; [[oracleSqlFor]] derives the
    * same path from the Verify dump's sfDir, and Verify clears it up
    * front so the oracle can only ever score state written by its own
    * run. */
  private[graft] def annArtifactDir(dir: String): String =
    s"/tmp/graft_ann/${new java.io.File(dir).getName}"

  /** Encoded ANN index state (codes + cell id) — in production these are
    * stored table columns, so the measured work is the serving scan, not
    * re-encoding. ONE persisted copy serves both the flat-PQ and IVF+PQ
    * queries: pqTopK ignores the extra cid column, and the IVF cell id is
    * a pure projection over it (Similarity.withCells). Its build spills
    * the index to [[annArtifactDir]] for the oracle (tiny: |corpus|
    * 20-byte rows). */
  private def annIndex(
      s: SparkSession, dir: String,
      emb: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    SessionArtifacts.persisted(s, dir, "pqIndex",
      (ds: org.apache.spark.sql.DataFrame) => {
        import org.apache.spark.sql.functions.col
        ds.select(col("__id").as("vec_id"), col("codes"), col("nrm"), col("cid"))
          .coalesce(1).write.mode("overwrite")
          .parquet(s"${annArtifactDir(dir)}/index.parquet")
      })(
      Similarity.ivfPqEncode(emb, "vec_id", "embedding",
        annCentroids(s, dir, emb), annBooks(s, dir, emb)))

  /** Verified minhash-LSH pair list, shared by every graph consumer (dd7
    * clusters, gr1 pagerank) — in production the pair list is a stored
    * artifact of the dedup run, so downstream graph passes re-reading it
    * is the honest serving shape. */
  private def cachedPairs(s: SparkSession, dir: String): DataFrame =
    SessionArtifacts(s, dir, "pairs")(
      Dedup.minhashLshPairs(s.table("documents"), "doc_id", "text")
        .localCheckpoint())

  /** Cluster labeling: dd7's connected-components output, a stored
    * artifact of the dedup run exactly like the pair list above — sp8's
    * split serves from it. */
  private def cachedClusters(s: SparkSession, dir: String): DataFrame =
    SessionArtifacts(s, dir, "clusters")(
      Dedup.connectedComponents(cachedPairs(s, dir)).localCheckpoint())

  /** tok3's trained unigram vocabulary: driver-side model state (~300
    * (piece, micro-log) entries). No spill needed — unlike the BPE merge
    * table, the vocabulary is a pure deterministic function of the
    * corpus, so the oracle re-derives it in SQL. */
  private def cachedUnigramVocab(s: SparkSession, dir: String): Map[String, Long] =
    SessionArtifacts(s, dir, "unigramVocab")(
      TextAnalysis.unigramVocab(s.table("documents"), "doc_id", "text")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap)

  /** tok2's trained BPE merge table: driver-side model state (10 string
    * pairs), same contract as the centroids. */
  private def cachedMerges(s: SparkSession, dir: String): Seq[(String, String)] =
    SessionArtifacts(s, dir, "bpeMerges") {
      val ms = TextAnalysis.bpeTrain(s.table("documents"), "doc_id", "text", 10)._1
      // Spill the merge table next to the ANN artifacts (same contract:
      // trained model state is WRITTEN state, and tok2's oracle replays
      // serving from it — Verify clears the dir up front so the oracle
      // can only ever replay merges trained by its own run).
      import s.implicits._
      ms.zipWithIndex.map { case ((a, b), i) => (i, a, b) }
        .toDF("idx", "left_tok", "right_tok")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"${annArtifactDir(dir)}/merges.parquet")
      ms
    }

  /** IVF cell assignment (ss10): the coarse-quantizer index — stored
    * table state like the sq8/PQ codes (build once, serve many). Reads
    * the PHYSICAL parquet, not the temp view, for the same view-churn
    * immunity as the media caches (see mediaDocs). */
  private def cachedIvfAssign(s: SparkSession, dir: String) =
    SessionArtifacts.persisted(s, dir, "ivfAssign")(
      Similarity.ivfAssign(
        graft.sources.LocalLayout.parquet(s, s"$dir/embeddings.parquet"),
        "vec_id", "embedding", centroidIds = 0L until 16L))

  /** dd11's stored corpus band index (doc_id % 10 != 0 = the already-
    * ingested corpus) — in production this is a table written once per
    * corpus generation, so the measured ingest work must be the batch
    * probe, not an index rebuild per run. dd12's signature index and
    * mm9's phash band index follow the same contract. */
  private def cachedBandIndex(s: SparkSession, dir: String) =
    SessionArtifacts.persisted(s, dir, "bandIndex")(
      Dedup.bandIndex(
        graft.sources.LocalLayout.parquet(s, s"$dir/documents.parquet")
          .where(org.apache.spark.sql.functions.col("doc_id") % 10 =!= 0),
        "doc_id", "text"))

  /** dd13's merged GENERATION 1: base corpus (doc_id % 10 NOT IN (0, 5))
    * indexed once, batch1 (% 10 = 5) folded in by appendToBandIndex —
    * only batch1 is banded at the merge. Held as stored state so dd13
    * measures the batch2 probe against the merged generation, the
    * rolling-pipeline serve path. */
  private def cachedMergedIndex(s: SparkSession, dir: String) =
    SessionArtifacts.persisted(s, dir, "mergedBandIndex") {
      import org.apache.spark.sql.functions.col
      val docs = graft.sources.LocalLayout.parquet(s, s"$dir/documents.parquet")
      Dedup.appendToBandIndex(
        Dedup.bandIndex(
          docs.where(col("doc_id") % 10 =!= 0 && col("doc_id") % 10 =!= 5),
          "doc_id", "text"),
        docs.where(col("doc_id") % 10 === 5), "doc_id", "text")
    }

  /** dd15's COMPACTED merged generation: dd13's generation 1 built the
    * way a long-lived pipeline actually holds it — generation 0 written
    * to disk, batch1 folded in as an append-files delta, then the
    * accumulated file-sets rewritten by IndexMaintenance.compactIndex
    * (bit-equal rows, one compacted layout). Held as the read-back of
    * the compacted store, so dd15 measures the batch2 probe against
    * post-maintenance stored state. */
  private def cachedCompactedIndex(s: SparkSession, dir: String) =
    SessionArtifacts.persisted(s, dir, "compactedBandIndex") {
      import org.apache.spark.sql.functions.col
      val docs = graft.sources.LocalLayout.parquet(s, s"$dir/documents.parquet")
      val root = java.nio.file.Files.createTempDirectory("graft_dd15").toString
      Dedup.bandIndex(
          docs.where(col("doc_id") % 10 =!= 0 && col("doc_id") % 10 =!= 5),
          "doc_id", "text")
        .write.parquet(s"$root/idx")
      Dedup.bandIndexDeltaFor(
          s.read.parquet(s"$root/idx"),
          docs.where(col("doc_id") % 10 === 5), "doc_id", "text")
        .write.mode("append").parquet(s"$root/idx")
      IndexMaintenance.compactIndex(s, s"$root/idx")
      s.read.parquet(s"$root/idx")
    }

  /** dd14's stored CORPUS-ONLY cluster assignment (connected components
    * over the corpus-internal pair list) — the dedup decision artifact a
    * rolling pipeline holds between generations; the ingest merges new
    * pairs into it by label-graph contraction instead of re-clustering
    * the corpus. Held like the band index it pairs with. */
  private def cachedCorpusClusters(s: SparkSession, dir: String) =
    SessionArtifacts.persisted(s, dir, "corpusClusters") {
      import org.apache.spark.sql.functions.col
      Dedup.connectedComponents(
        Dedup.minhashLshPairs(
          graft.sources.LocalLayout.parquet(s, s"$dir/documents.parquet")
            .where(col("doc_id") % 10 =!= 0),
          "doc_id", "text"))
    }

  private def cachedSimhashIndex(s: SparkSession, dir: String) =
    SessionArtifacts.persisted(s, dir, "simhashIndex")(
      Dedup.simhashIndex(
        graft.sources.LocalLayout.parquet(s, s"$dir/documents.parquet")
          .where(org.apache.spark.sql.functions.col("doc_id") % 10 =!= 0),
        "doc_id", "text"))

  private def cachedPhashIndex(s: SparkSession, dir: String) =
    SessionArtifacts.persisted(s, dir, "phashIndex")(
      Multimodal.phashBandIndex(Multimodal.toMediaRecords(s,
        mediaDocs(s, dir)
          // mm9 splits on % 5 = 2 (not dd11's % 10): the sf0.01 fixture's
          // phash pairs happen to avoid % 10 = 0 ids entirely, which would
          // make the oracle vacuously empty
          .where(org.apache.spark.sql.functions.col("doc_id") % 5 =!= 2))))

  /** mm10's merged phash GENERATION 1: base media corpus (doc_id % 5
    * NOT IN (1, 2)) indexed once, batch1 (% 5 = 1) folded in by
    * appendToPhashIndex — only batch1 decodes at the merge. Held as
    * stored state so mm10 measures the batch2 probe against the merged
    * generation (dd13's contract, on the image side). */
  private def cachedMergedPhashIndex(s: SparkSession, dir: String) =
    SessionArtifacts.persisted(s, dir, "mergedPhashIndex") {
      import org.apache.spark.sql.functions.col
      Multimodal.appendToPhashIndex(
        Multimodal.phashBandIndex(Multimodal.toMediaRecords(s,
          mediaDocs(s, dir)
            .where(col("doc_id") % 5 =!= 1 && col("doc_id") % 5 =!= 2))),
        Multimodal.toMediaRecords(s,
          mediaDocs(s, dir).where(col("doc_id") % 5 === 1)))
    }

  /** Deduped click (one row per user,ts) and purchase frames — shared by
    * the backward (ao1) and forward (ao2) as-of drivers. */
  private def clickPurchFrames(s: SparkSession): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions._
    val ev = s.table("events")
    val clicks = ev.where(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("click_id"))
    val purch = ev.where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"),
        round(col("value"), 2).as("pvalue"))
    (clicks, purch)
  }

  /** Scala-side implementations that supersede the SQL text (same results —
    * LibraryApiSpec proves byte-equality — but with caching Catalyst's
    * CTE-inlining can't express: dd2's shingle set is consumed 4x). */
  /** rt1's fixed query set — shared verbatim by the Spark entry and the
    * DuckDB oracle builder so both engines score the same terms. */
  private val bm25QueryDefs: Seq[(Int, Seq[String])] = Seq(
    1 -> Seq("hash", "join"),
    2 -> Seq("window", "sort", "query"),
    3 -> Seq("spark", "stream", "fast"))

  /** rt4's parameters — ONE definition consumed by both the Spark entry
    * and the DuckDB oracle builder, so they cannot desynchronize. */
  private val rt4FbK = 10
  private val rt4ExpK = 5
  /** rt5's parameters (same single-definition contract): BM25 candidate
    * pool depth and negatives kept per query. bmK >= nNeg + 2 so the pool
    * survives the <= 2 exclusions (query doc itself + the positive). */
  private val rt5BmK = 10
  private val rt5NNeg = 7
  private val rt4K = 5

  /** rt2's fusion parameters — like rt4's, ONE definition consumed by both
    * the Spark entry and [[hybridRrfOracle]], so a k change on one side
    * cannot silently break the value-exact gate. */
  private val rt2KEach = 20
  private val rt2K = 10

  private val overrides: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dd2_minhash_lsh" -> ((s: SparkSession, dir: String) => {
      Fixtures.registerRaw(s, dir)
      Dedup.minhashLshPairs(s.table("documents"), "doc_id", "text")
    }),

    // dd11: incremental ingest against the STORED band index — the corpus
    // (doc_id % 10 != 0) indexed once and cached (the sq8/IVF stored-state
    // contract), the batch (doc_id % 10 = 0) probes it; only the batch is
    // shingled/hashed at ingest. Verification deliberately RE-READS the
    // candidate docs' text rather than serving the shingle-set sidecar:
    // the stored-set path was built, spec-pinned equal, and A/B'd at sf10
    // (SCALE.md round-14 notes) — it LOSES here (5.2 vs 3.6 s) because candidate
    // ids spread uniformly across the id space (every row group holds
    // some, so no layout prunes) and the set arrays out-byte the text
    // they derive from. Recorded in SCALE.md; the sidecar remains the
    // right call where text is expensive to reacquire.
    "dd11_incremental_ingest" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      Fixtures.registerRaw(s, dir)
      val docs = s.table("documents")
      Dedup.incrementalNearDupPairs(
        docs.where(col("doc_id") % 10 === 0),
        docs.where(col("doc_id") % 10 =!= 0),
        cachedBandIndex(s, dir).toDF(),
        "doc_id", "text")
    }),

    // dd13: the GENERATION-MERGE ingest — batch2 (% 10 = 0) probes the
    // cached merged generation (base corpus + batch1 folded in by
    // appendToBandIndex, banding only batch1); verification keeps dd11's
    // measured-faster text path (see above)
    "dd13_generation_merge" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      Fixtures.registerRaw(s, dir)
      val docs = s.table("documents")
      Dedup.incrementalNearDupPairs(
        docs.where(col("doc_id") % 10 === 0),
        docs.where(col("doc_id") % 10 =!= 0),
        cachedMergedIndex(s, dir).toDF(),
        "doc_id", "text")
    }),

    // dd15: the COMPACTED-generation probe — batch2 probes stored state
    // that went disk-gen0 -> delta-append(batch1) -> compactIndex;
    // verification keeps dd11's measured-faster text path. Same oracle
    // as dd11/dd13: compaction moves bytes between files, never rows.
    "dd15_compacted_generation_probe" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      Fixtures.registerRaw(s, dir)
      val docs = s.table("documents")
      Dedup.incrementalNearDupPairs(
        docs.where(col("doc_id") % 10 === 0),
        docs.where(col("doc_id") % 10 =!= 0),
        cachedCompactedIndex(s, dir).toDF(),
        "doc_id", "text")
    }),

    // dd14: CLUSTER-STATE merge — the dedup DECISION's rolling update:
    // the stored corpus-only component assignment (cached, the artifact
    // a pipeline holds between generations) absorbs the ingest's
    // newly-found pairs by label-graph contraction
    // (Dedup.mergeComponents) — the corpus pair list is never
    // re-clustered. Oracle: the full-graph recursive closure (dd7's
    // exact text) — the merge path must land exactly where direct
    // clustering lands.
    "dd14_cluster_merge" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      Fixtures.registerRaw(s, dir)
      val docs = s.table("documents")
      val ingest = Dedup.incrementalNearDupPairs(
        docs.where(col("doc_id") % 10 === 0),
        docs.where(col("doc_id") % 10 =!= 0),
        cachedBandIndex(s, dir).toDF(),
        "doc_id", "text")
      Dedup.mergeComponents(cachedCorpusClusters(s, dir).toDF(), ingest)
        .orderBy(col("doc_id"))
    }),

    // dd12: incremental SIMHASH ingest — the stored state is the 16-byte
    // (doc_id, simhash) signature index; only the batch tokenizes at
    // ingest. The 2-of-8 combination banding is EXHAUSTIVE for
    // hamming <= 6 (pigeonhole), so the oracle is dd6's brute-force
    // hamming join restricted to pairs touching the batch.
    "dd12_incremental_simhash" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      Fixtures.registerRaw(s, dir)
      Dedup.incrementalSimhashPairs(
        s.table("documents").where(col("doc_id") % 10 === 0),
        cachedSimhashIndex(s, dir).toDF(),
        "doc_id", "text")
    }),

    // mm9: incremental IMAGE ingest — mm8 against the stored phash band
    // index (Multimodal.phashBandIndex); only the batch's (doc_id % 5 = 2)
    // images decode, verification popcounts the stored hashes. Oracle =
    // mm8's char-wise phash re-derivation restricted to pairs touching
    // the batch (banding is identical on both sides of the split, so the
    // stored index finds exactly the full re-band's batch-touching pairs).
    "mm9_image_ingest" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      Fixtures.registerRaw(s, dir)
      Multimodal.incrementalPhashPairs(
        cachedMedia(s, dir).where(col("doc_id") % 5 === 2),
        cachedPhashIndex(s, dir).toDF())
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // mm10: the image-side GENERATION-MERGE ingest (dd13's contract):
    // batch2 (% 5 = 2) probes the cached merged generation — base media
    // corpus + batch1 folded in by appendToPhashIndex, decoding only
    // batch1; verification popcounts the stored hashes, no payload ever
    // re-reads
    "mm10_image_generation_merge" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      Fixtures.registerRaw(s, dir)
      Multimodal.incrementalPhashPairs(
        cachedMedia(s, dir).where(col("doc_id") % 5 === 2),
        cachedMergedPhashIndex(s, dir).toDF())
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // ss10: filtered IVF (the ss9 scale path) — the label predicate
    // composes with the coarse quantizer inside the library operator, and
    // the cell assignment is CACHED index state (the sq8/PQ stored-table
    // contract), so the measured work is the serve path: probe nprobe
    // cells, filter inside them, score the survivors. LibraryApiSpec
    // proves value identity with the SQL form above.
    "ss10_filtered_ivf" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      Fixtures.registerRaw(s, dir)
      Similarity.ivfFilteredTopK(s.table("embeddings"), "vec_id", "embedding",
          "label", queryIds = 0L until 5L, centroidIds = 0L until 16L,
          k = 5, nprobe = 2,
          storedAssign = Some(cachedIvfAssign(s, dir).toDF()))
        .orderBy(col("qid"), col("cos").desc, col("vec_id"))
    }),

    // rt1: BM25 top-k retrieval for a small query set — the broadcast
    // query-term semi-join prunes the token stream before any
    // aggregation and the ranking runs on the TopKPerGroup bounded heap
    // (see TextAnalysis.bm25TopK's scale notes).
    "rt1_bm25_topk" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      Fixtures.registerRaw(s, dir)
      TextAnalysis.bm25TopK(s.table("documents"), "doc_id", "text",
        bm25QueryDefs, k = 5)
        .orderBy(col("qid"), col("score_micro").desc, col("doc_id"))
    }),

    // rt2: HYBRID retrieval — BM25 top-20 and vector top-20 fused by
    // Reciprocal Rank Fusion (integer 1e6 DIV (60 + rank) contributions,
    // engine-exact). Query vectors are the embeddings whose vec_id equals
    // the BM25 qid (documents and embeddings share the id universe), so
    // one query drives both sides — the sparse+dense production search
    // shape. All corpus-scale work lives in the side operators; fusion
    // is a bounded union + groupBy + TopKPerGroup.
    "rt2_hybrid_rrf" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      Fixtures.registerRaw(s, dir)
      val bm = TextAnalysis.bm25TopK(s.table("documents"), "doc_id", "text",
        bm25QueryDefs, k = rt2KEach)
      val vec = Similarity.bruteForceTopK(s.table("embeddings"), "vec_id",
        "embedding", bm25QueryDefs.map(_._1.toLong), k = rt2KEach)
      TextAnalysis.hybridRrf(bm, vec, k = rt2K, kEach = rt2KEach)
        .orderBy(col("qid"), col("rrf_micro").desc, col("doc_id"))
    }),

    // rt4: pseudo-relevance-feedback query expansion (Rocchio/RM-style
    // PRF): BM25 pass 1 retrieves each query's top-10 feedback docs; the
    // 5 highest-total-tf terms across them (original terms and the empty
    // token excluded; INTEGER tf sums with term tiebreaks, so the
    // selection is engine-exact) expand the query; BM25 pass 2 scores
    // the expanded term set. The expansion table is bounded model state
    // (queries × 5 terms — the centroid/BPE-merge collect pattern);
    // both corpus passes are bm25TopK's shuffle-free shape.
    "rt4_prf_expansion" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      Fixtures.registerRaw(s, dir)
      val docs = s.table("documents")
      val expanded = TextAnalysis.prfExpand(docs, "doc_id", "text",
        bm25QueryDefs, fbK = rt4FbK, expK = rt4ExpK)
      TextAnalysis.bm25TopK(docs, "doc_id", "text", expanded, k = rt4K)
        .orderBy(col("qid"), col("score_micro").desc, col("doc_id"))
    }),

    // rt3: MMR diversified rerank (Carbonell & Goldstein '98) — greedy
    // selection of 5 of each query's 10 nearest candidates maximizing
    // 700·rel − 300·max-sim-to-selected in exact 1e-6 integers; the
    // greedy trajectory is engine-reproducible and the DuckDB oracle
    // unrolls the identical rounds as chained CTEs. All frames after
    // candidate generation are queries×kCand-bounded model state.
    "rt3_mmr_rerank" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      Fixtures.registerRaw(s, dir)
      Similarity.mmrRerank(s.table("embeddings"), "vec_id", "embedding",
          queryIds = bm25QueryDefs.map(_._1.toLong))
        .orderBy(col("qid"), col("mmr_rank"))
    }),

    // rt5: DPR-style hard-negative mining — the retrieval-training data
    // prep pass: per query, the embedding top-1 neighbour is the positive
    // and the BM25 top hits minus {positive, query doc} are the hard
    // negatives a contrastive loss trains against. Both side operators
    // are the existing corpus-pass shapes (bm25TopK shuffle-free kernel
    // pass, bruteForceTopK bounded heap); the mining fusion is
    // queries×k bounded, so the pair mine is flat at any corpus size.
    "rt5_hard_negatives" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      Fixtures.registerRaw(s, dir)
      val bm = TextAnalysis.bm25TopK(s.table("documents"), "doc_id", "text",
        bm25QueryDefs, k = rt5BmK)
      val pos = Similarity.bruteForceTopK(s.table("embeddings"), "vec_id",
        "embedding", bm25QueryDefs.map(_._1.toLong), k = 1)
      TextAnalysis.hardNegatives(bm, pos, nNeg = rt5NNeg)
        .orderBy(col("qid"), col("rnk"), col("doc_id"))
    }),

    // ck1: deterministic overlapping character chunks — pure row-local
    // explode, zero shuffles (TextAnalysis.chunkDocuments).
    "ck1_chunk_documents" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      Fixtures.registerRaw(s, dir)
      TextAnalysis.chunkDocuments(s.table("documents"), "doc_id", "text",
        chunkSize = 200, stride = 150)
        .orderBy(col("doc_id"), col("chunk_idx"))
    }),

    // ds1: DSIR importance-resampling selection (Xie et al. 2023) — keep
    // the 100 documents whose hashed-bigram features look most like the
    // TARGET slice (lang='en') relative to the raw corpus. The library
    // operator holds the whole scale story (one bucket-LM groupBy,
    // broadcast model, partial-aggregable doc sums); selection is a
    // global top-100 (TakeOrdered — never a full sort).
    "ds1_dsir_selection" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      Fixtures.registerRaw(s, dir)
      Curation.dsirWeights(s.table("documents"), "doc_id", "text",
        col("lang") === "en")
        .orderBy(col("w_micro").desc, col("doc_id")).limit(100)
        .select(col("doc_id"), col("n_bigrams"), col("w_micro"))
    }),

    // dd10: duplicate-mass report — the dedup dashboard every corpus
    // build reads (and every dedup paper tables): for each near-dup
    // cluster SIZE, how many clusters and how many documents, and each
    // size's per-mille share of the corpus. Serves from the STORED dd7
    // cluster artifact; two bounded groupBys (cluster frame, then
    // size histogram) — the corpus contributes only its row count.
    "dd10_dup_mass_report" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      Fixtures.registerRaw(s, dir)
      val docs = s.table("documents")
      val cl = cachedClusters(s, dir)
        .select(col("doc_id").as("__id"), col("cluster_id"))
      val labeled = docs.select(col("doc_id"))
        .join(cl, col("doc_id") === col("__id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("cid"))
      val sizes = labeled.groupBy(col("cid")).agg(count(lit(1)).as("sz"))
      val total = docs.agg(count(lit(1)).as("n_total"))
      sizes.groupBy(col("sz").as("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"),
          sum(col("sz")).as("n_docs"))
        .crossJoin(broadcast(total))
        .select(col("cluster_size"), col("n_clusters"), col("n_docs"),
          expr("n_docs * 1000 DIV n_total").as("docs_per_mille"))
        .orderBy(col("cluster_size"))
    }),

    // cq1: one representative per near-dup cluster (longest member,
    // smallest id on ties) over the STORED dd7 cluster artifact — the
    // keep-one curation step that follows clustering.
    "cq1_cluster_reps" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      Fixtures.registerRaw(s, dir)
      Dedup.clusterRepresentatives(s.table("documents"), "doc_id", "n_chars",
        cachedClusters(s, dir))
        .select(col("doc_id"), col("cluster_id"), col("cluster_n"),
          col("is_rep"))
        .orderBy(col("doc_id"))
    }),

    // sd1 routes through the library operator (LibraryApiSpec proves it
    // equals the SQL form): cluster assignment is a constant-centroid
    // argmax PROJECTION on the codegen'd vec_dot — the SQL form's
    // crossJoin + row_number window over the whole corpus disappears.
    // Seed collection is INDEX BUILD (memoized like ss3/ss5's model state);
    // the measured work is the assignment projection + pair join.
    "sd1_semantic_dedup" -> ((s: SparkSession, dir: String) => {
      Fixtures.registerRaw(s, dir)
      val emb = s.table("embeddings")
      // k scales with the corpus (targetK, fixture-scaled target=256) so
      // the pair envelope stays linear; the count + seed collection are
      // INDEX BUILD, memoized with the centroids themselves
      val cents = SessionArtifacts(s, dir, "sd1Seeds") {
        val k = Similarity.targetK(emb.count(), targetClusterSize = 256)
        Similarity.seedCentroids(emb, "vec_id", "embedding", 0L until k.toLong)
      }
      Similarity.semanticDedupSeeded(emb, "vec_id", "embedding", cents)
    }),

    // ap1 routes through the library sketches (PipelineSpec proves value
    // identity with the SQL form): the k-smallest selection runs on the
    // TopKPerGroup bounded-heap plan — partial+final, O(n log k), no full
    // per-group sort of the distinct-hash stream — and only the 10%
    // hash-sample pays a window for its median.
    "ap1_approx_agg" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      Fixtures.registerRaw(s, dir)
      val li = s.table("lineitem")
      val kmv = Sketches.kmvDistinct(li, "l_returnflag", "l_partkey", k = 64)
      // exact sampled median by bucketed selection, FEW-GROUPS form (3
      // return flags): the histogram pass pays the md5 sample filter once;
      // the pick pass filters to the collected target buckets BEFORE the
      // md5, so the second scan hashes only the ~1/buckets in-bucket
      // fraction (sf1: md5 re-scan 0.37 → ~0.2 s). Earlier A/Bs stay
      // recorded: per-bucket value arrays in pass 1 LOST (unbounded
      // collect_list shuffle), localCheckpoint of the sample LOST (round
      // 9: 1.26 vs 0.94 s — write+read costs more than the re-scan).
      val med = Sketches.groupedLowerMedianFiltered(
          li.select(col("l_returnflag"), col("l_extendedprice").as("price"),
            col("l_orderkey"), col("l_linenumber")),
          graft.functions.HashFunctions
            .md5_key48(col("l_orderkey"), col("l_linenumber")) % 10 === 0,
          "l_returnflag", "price")
        .select(col("l_returnflag"), round(col("p50"), 2).as("p50_sample"))
      kmv.join(med, "l_returnflag")
        .select(col("l_returnflag"), col("exact_parts"), col("kmv_parts"),
          col("p50_sample"))
        .orderBy(col("l_returnflag"))
    }),

    // as-of join (graft.operators.AsOfJoin): for each purchase event, the
    // most recent click at-or-before it per user. Oracle = DuckDB's native
    // ASOF LEFT JOIN; our implementation is the union-sort-carry pattern
    // (one shuffle, no range explosion).
    "ao1_asof_join" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      Fixtures.registerRaw(s, dir)
      val (clicks, purch) = clickPurchFrames(s)
      graft.operators.AsOfJoin.asofLast(
          purch, clicks, keys = Seq("user_id"),
          leftTime = "ts", rightTime = "ts", payload = Seq("click_id"))
        .select(col("event_id"), col("user_id"), col("pvalue"), col("click_id"))
        .orderBy(col("event_id"))
    }),

    // ss4 routes through the library encode/serve split: the quantized
    // index is cached state (as ss5/ss6's codes), so the measured work is
    // the 4x-smaller candidate scan + top-page rerank — not re-running the
    // interpreted quantization lambdas on both sides of the join.
    "ss4_quantized_topk" -> ((s: SparkSession, dir: String) => {
      Fixtures.registerRaw(s, dir)
      val enc = SessionArtifacts.persisted(s, dir, "sq8Index")(
        Similarity.sq8Encode(s.table("embeddings"), "vec_id", "embedding"))
      Similarity.sq8TopK(enc, queryIds = 0L to 4L, k = 5)
    }),

    // tk1: top-3 events per user through the custom TopKPerGroup physical
    // operator (LogicalPlan + Strategy + SparkPlan): bounded per-group
    // heaps after one hash exchange — O(n log k), no total sort (the
    // row_number window form sorts every partition). Oracle = the window
    // spelling in DuckDB: two algorithms, one answer.
    "tk1_topk_per_user" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      Fixtures.registerRaw(s, dir)
      val ev = s.table("events").select(col("user_id"), col("event_id"), col("value"))
      graft.plans.TopKPerGroup(ev, keys = Seq("user_id"),
          orderBy = Seq("value" -> false, "event_id" -> true), k = 3)
        .select(col("user_id"), col("event_id"), round(col("value"), 2).as("value"))
        .orderBy(col("user_id"), col("value").desc, col("event_id"))
    }),

    // ao2: FORWARD as-of join — for each purchase, the nearest click
    // at-or-after it per user. Same union-sort-carry shape as ao1 with the
    // window reversed; oracle = correlated first-row lookup in DuckDB.
    "ao2_asof_next" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      Fixtures.registerRaw(s, dir)
      val (clicks, purch) = clickPurchFrames(s)
      graft.operators.AsOfJoin.asofNext(
          purch, clicks, keys = Seq("user_id"),
          leftTime = "ts", rightTime = "ts", payload = Seq("click_id"))
        .select(col("event_id"), col("user_id"), col("pvalue"), col("click_id"))
        .orderBy(col("event_id"))
    }),

    // rj2: interval-overlap join (range x range — the join class rj1's
    // point-in-range doesn't cover): 20-minute click and purchase windows
    // per user that overlap. Bin-bucketed hash join with exactly-once
    // emission from the bin of max(start); oracle = the plain inequality
    // join in DuckDB.
    "rj2_interval_overlap" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      Fixtures.registerRaw(s, dir)
      val ev = s.table("events")
      def side(t: String, idAs: String, sAs: String, eAs: String) =
        ev.where(col("event_type") === t)
          .select(col("user_id"), col("event_id").as(idAs),
            unix_timestamp(col("ts")).as(sAs),
            (unix_timestamp(col("ts")) + 1200).as(eAs))
      val clicks = side("click", "click_id", "cs", "ce")
      val purch = side("purchase", "purchase_id", "ps", "pe")
      graft.operators.RangeJoin.intervalOverlap(
          clicks, purch, keys = Seq("user_id"),
          lStart = "cs", lEnd = "ce", rStart = "ps", rEnd = "pe",
          binWidth = 1200L)
        .select(col("click_id"), col("purchase_id"))
        .orderBy(col("click_id"), col("purchase_id"))
    }),

    // mm6: multimodal retrieval — the decode -> feature -> ANN composition:
    // 16-bin histograms from the REAL PNG decode path become the feature
    // vectors, and each query image retrieves its cosine top-5. Features
    // round to 6 decimals on BOTH sides (mm2 proved decode-vs-char-wise
    // parity at that precision), so the index-ordered double sums agree
    // exactly across engines.
    "mm6_image_retrieval" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      Fixtures.registerRaw(s, dir)
      def dotE(a: String, b: String) = expr(
        s"aggregate(zip_with($a, $b, (x, y) -> x * y), CAST(0 AS DOUBLE), (acc, x) -> acc + x)")
      // localCheckpoint: v feeds both the query side and the cross-join
      // right side; unmaterialized, the full-corpus PNG decode would run
      // once per reference
      val v = Multimodal.extractFeatures(cachedMedia(s, dir)).toDF()
        .select(col("doc_id"), expr("transform(histogram, x -> round(x, 6))").as("h"))
        .select(col("doc_id"), col("h"), sqrt(dotE("h", "h")).as("nrm"))
        .localCheckpoint()
      val q = v.where(col("doc_id") < 5)
        .select(col("doc_id").as("qid"), col("h").as("qh"), col("nrm").as("qn"))
      val scored = q.crossJoin(v).where(col("doc_id") =!= col("qid"))
        .select(col("qid"), col("doc_id").as("img_id"),
          round(dotE("qh", "h") / (col("qn") * col("nrm")), 6).as("cos"))
      val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("img_id"))
      scored.withColumn("rnk", row_number().over(w)).where(col("rnk") <= 5)
        .select(col("qid"), col("img_id"), col("cos"))
        .orderBy(col("qid"), col("cos").desc, col("img_id"))
    }),

    // tx7 routes through the library operator (LibraryApiSpec proves it
    // equals the SQL form): the vocabulary model is checkpointed once and
    // explicitly broadcast, instead of the SQL form's re-derivation of the
    // token CTE on both sides of the join.
    "tx7_unigram_lm" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      Fixtures.registerRaw(s, dir)
      TextAnalysis.unigramLm(s.table("documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // tx10 routes through the library operator (LibraryApiSpec proves it
    // equals the SQL form): per-distinct-bigram scoring on the model side
    // + ONE (w1,w2) hash join of the bigram stream (the SQL form's second
    // stream-wide w1 join disappears), vocabulary as a broadcast 1-row
    // frame instead of a CROSS JOIN against a separately-planned subtree.
    "tx10_bigram_lm" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      Fixtures.registerRaw(s, dir)
      TextAnalysis.bigramLm(s.table("documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // tx12 routes through the library operator (LibraryApiSpec proves it
    // equals the SQL form): the src0 reference model broadcasts, the
    // scored stream never fully shuffles (two broadcast left joins over
    // the scan + a map-side-combined per-doc rollup), and only the
    // one-row-per-doc score frame pays the per-language tertile window.
    "tx12_perplexity_filter" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      Fixtures.registerRaw(s, dir)
      TextAnalysis.perplexityFilter(s.table("documents"), "doc_id", "text",
          "lang", refFilter = col("source") === "src0")
        .orderBy(col("doc_id"))
    }),

    // dd9 routes through the library operator (LibraryApiSpec proves it
    // equals the SQL form): fixed-width digest ownership, sparse covered-
    // position explode, one per-doc rebuild aggregation.
    "dd9_span_excision" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      Fixtures.registerRaw(s, dir)
      Dedup.exciseSpans(s.table("documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // emb1 routes through the library operator (oracle: the SQL form in
    // DuckDB): the centroid frame broadcasts and scoring is a row-local
    // zip_with, so the corpus never joins the exploded dimension frame
    // (the SQL form's e⋈c join re-shuffles |V|·dims rows); the per-label
    // bottom-10 runs on the TopKPerGroup bounded-heap plan instead of a
    // full window sort.
    "emb1_centroid_outliers" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      Fixtures.registerRaw(s, dir)
      val scored = Similarity.centroidOutliers(
        s.table("embeddings"), "vec_id", "embedding", "label")
      graft.plans.TopKPerGroup(scored, keys = Seq("label"),
          orderBy = Seq("centroid_cos" -> true, "vec_id" -> true), k = 10)
        .select(col("label"), col("vec_id"), col("centroid_cos"))
        .orderBy(col("label"), col("centroid_cos"), col("vec_id"))
    }),

    // dc1 routes through the library operator (LibraryApiSpec proves it
    // equals the SQL form): row-local gram dedup (array_distinct before
    // the explode — no corpus-wide distinct shuffle) and an explicit
    // broadcast of the eval gram set.
    "dc1_decontamination" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      Fixtures.registerRaw(s, dir)
      val docs = s.table("documents")
      Curation.decontaminate(
          docs.where(col("doc_id") % 10 =!= 7),
          docs.where(col("doc_id") % 10 === 7),
          "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // dc2: the BLOOM-PRUNED decontamination path — same answer as dc1 by
    // construction (Bloom filters have no false negatives; positives are
    // re-verified exactly), but the corpus-wide gram join shrinks to the
    // candidate documents flagged by a row-local codegen'd might_contain
    // probe. The library gate routes broadcast-sized eval sets (this
    // fixture's included) straight to the exact plan — the Bloom build
    // only pays for itself when the eval gram set cannot broadcast
    // (LibraryApiSpec forces and verifies the Bloom path itself). The
    // oracle is dc1's: two algorithms, one answer.
    "dc2_bloom_decontamination" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      Fixtures.registerRaw(s, dir)
      val docs = s.table("documents")
      Curation.bloomDecontaminate(
          docs.where(col("doc_id") % 10 =!= 7),
          docs.where(col("doc_id") % 10 === 7),
          "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // dm1: pipeline x mesh composition — exact dedup running over the
    // ACL-scoped documents ENTITY view (default policy hides the 'zh'
    // slice and denies `source`), not the raw table: governance applies
    // to data-pipeline operators for free.
    "dm1_dedup_on_entity" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      Fixtures.registerRaw(s, dir)
      val entityView = graft.mesh.EntityResolver.resolve(
        s, Fixtures.mesh, "global", "documents", user = None)
      Dedup.exact(entityView, "doc_id", "text")
        .withColumn("keeper", col("keeper").cast("long"))
        .orderBy(col("sig"))
    }),

    // dm2: FEDERATED dedup with provenance — the thesis query: the
    // documents entity is the union of two mesh sources (each holding one
    // id-slice of the corpus), near-dup detection runs over the resolved
    // entity exactly as over a plain table, and the output labels every
    // pair with whether it CROSSES sources (the pairs a federated dedup
    // exists to find — no single source could see them). The oracle
    // reproduces the union + pair search in DuckDB.
    "dm2_dedup_across_sources" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      import graft.catalog._
      Fixtures.registerRaw(s, dir)
      val allCols = Set("doc_id", "text", "lang", "source", "n_chars")
      def slice(id: String, filt: String) = DataSource(
        id = id,
        sourceSql = s"SELECT * FROM raw_documents WHERE $filt",
        mappings = Fixtures.documentsEntity.informations
          .map(i => FieldMapping(i.name, i.name)),
        defaultPermission = SourcePermission(allCols, "true"))
      val mesh = Mesh(Map("global" -> Site("global",
        entities = Map("documents" -> Fixtures.documentsEntity),
        localSources = Map("documents" -> Seq(
          slice("docs_even", "doc_id % 2 = 0"),
          slice("docs_odd", "doc_id % 2 = 1"))))))
      val entity = graft.mesh.EntityResolver
        .resolve(s, mesh, "global", "documents", user = None, withProvenance = true)
      // provenance rides the LSH chain itself (tagCol → tag_a/tag_b on each
      // pair): no post-hoc corpus re-joins, no second resolution pass.
      // FUSED form (again): round 6 switched dm2 to staged because the
      // fused variant's interpreted lambda minhash made its single big
      // stage the bottleneck; with the native one-pass MinhashSigs the
      // fused chain is one job with no materialization barrier and beats
      // staged's checkpoint + broadcast choreography at this scale
      // (2.36 s staged vs 1.57 s fused, warm min-of-3). DedupSpec pins
      // staged ≡ fused, so either form is the same answer; huge corpora
      // with low dup rates still prefer minhashLshPairsStaged (slim index,
      // candidate-only verification).
      Dedup.minhashLshPairs(entity, "doc_id", "text", tagCol = Some("_source_id_"))
        .select(col("doc_a"), col("doc_b"), col("jaccard"),
          (col("tag_a") =!= col("tag_b")).as("cross_source"))
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // dd6: 64-bit simhash near-dup pairs via 2-of-8 block-combination
    // banding (exhaustive for hamming <= 6; 2^16-value join keys keep
    // buckets tiny at corpus scale). The oracle brute-
    // forces the same result — two independent algorithms, one answer.
    "dd6_simhash_pairs" -> ((s: SparkSession, dir: String) => {
      Fixtures.registerRaw(s, dir)
      Dedup.simhashPairs(
        Dedup.simhash(s.table("documents"), "doc_id", "text"))
    }),

    // mm2: the multimodal batch decode path end-to-end — texts are encoded
    // as REAL 1-row grayscale PNGs on executors, decoded back through
    // javax.imageio, and features derive from the decoded pixels. PNG is
    // lossless, so the oracle recomputes the same histogram bins
    // character-wise (the corpus is ASCII, so bytes == chars == pixels).
    // The ENCODED corpus is fixture synthesis (a real media table already
    // stores payloads), so it is memoized per (session, sf) — the measured
    // work is the decode + feature path, as it would be in production.
    "mm2_multimodal_features" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      Fixtures.registerRaw(s, dir)
      val feats = Multimodal.extractFeatures(cachedMedia(s, dir))
      feats.toDF()
        .select(col("doc_id"),
          col("nBytes").cast("long").as("n_bytes"),
          round(element_at(col("histogram"), 3), 6).as("bin2"),
          round(element_at(col("histogram"), 7), 6).as("bin6"),
          round(element_at(col("histogram"), 8), 6).as("bin7"),
          size(col("frameOffsets")).cast("long").as("n_frames"))
        .orderBy(col("doc_id"))
    }),

    // mm3: VIDEO frame sampling — corpus texts packed into an MJPEG-style
    // container (length-prefixed 1-row PNG frames, 16 pixels per frame),
    // then every 2nd frame decoded through the REAL ImageIO path and
    // reduced to pixel stats. Decode cost scales with frames KEPT, not
    // frames stored — the property that matters when the corpus is 100 TB
    // of video and the pipeline needs 1 fps of it. PNG frames are
    // lossless, so the oracle re-derives the sampled-pixel stats from the
    // characters: two independent routes, one answer.
    "mm3_video_framesample" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      Fixtures.registerRaw(s, dir)
      Multimodal.sampleVideoStats(cachedVideo(s, dir), stride = 2).toDF()
        .select(col("doc_id"),
          col("nFrames").cast("long").as("n_frames"),
          col("nSampled").cast("long").as("n_sampled"),
          col("sampledBytes").as("sampled_bytes"),
          col("sampledSum").as("sampled_sum"),
          // nullif: an empty doc (0 sampled bytes) must yield NULL in both
          // engines, not a NaN-vs-NULL divergence
          round(col("sampledSum") / nullif(col("sampledBytes"), lit(0L)).cast("double"), 4)
            .as("mean_gray"))
        .orderBy(col("doc_id"))
    }),

    // mm4: AUDIO decode — corpus texts as real RIFF/PCM16 WAV payloads
    // (sample i = (byte i - 100) << 8), decoded back through
    // javax.sound.sampled.AudioSystem and reduced to signal features with
    // exact integer accumulators (sum, peak, zero crossings, energy). PCM
    // is lossless, so the DuckDB oracle recomputes the same features from
    // the characters.
    "mm4_audio_features" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      Fixtures.registerRaw(s, dir)
      Multimodal.extractAudioFeatures(cachedAudio(s, dir)).toDF()
        .select(col("doc_id"),
          col("nSamples").as("n_samples"),
          col("sumAmp").as("sum_amp"),
          col("peak"),
          col("zeroCross").as("zero_cross"),
          round(sqrt(col("sumSq") / nullif(col("nSamples"), lit(0L)).cast("double")), 4)
            .as("rms"))
        .orderBy(col("doc_id"))
    }),

    // mm5: perceptual image hashing (average hash) over the REAL decode
    // path — the image-dedup primitive: 8 evenly-sampled decoded pixels
    // thresholded against their mean, packed into a BIGINT (compare by
    // hamming distance like dd6's simhash). The oracle re-derives the
    // same bits character-wise (lossless PNG round-trip).
    "mm5_image_phash" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      Fixtures.registerRaw(s, dir)
      Multimodal.imagePhashes(cachedMedia(s, dir))
        .toDF("doc_id", "phash", "mean_px")
        .select(col("doc_id"), col("phash"), round(col("mean_px"), 4).as("mean_px"))
        .orderBy(col("doc_id"))
    }),

    // mm7: image-text PAIR MINING (CLIP-style contrastive-set curation) —
    // join each image's perceptual hash (REAL decode path) with its
    // caption, gate captions on token count, and collapse
    // (image-phash, exact-caption) duplicate groups to their lowest-id
    // exemplar. Oracle re-derives the phash character-wise (the mm5
    // derivation) and replays the gate + dedup in SQL.
    "mm7_pair_mining" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      Fixtures.registerRaw(s, dir)
      Multimodal.mineImageTextPairs(cachedMedia(s, dir), s.table("documents"))
        .orderBy(col("doc_id"))
    }),

    // dd7: near-dup pairs -> dedup CLUSTERS via iterative min-label
    // connected components (cluster id = min doc id; the keep/drop
    // decision a dedup pipeline actually ships). In a pipeline the
    // cluster stage CONSUMES the pair stage's output (dd2), so the pair
    // index is memoized like the other derived-index state; dd2 itself
    // still computes the chain, keeping that work measured. Oracle
    // recomputes the same pair chain + a recursive-CTE reachability
    // closure in DuckDB — two different CC algorithms, one answer.
    "dd7_dedup_clusters" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      Fixtures.registerRaw(s, dir)
      Dedup.connectedComponents(cachedPairs(s, dir)).orderBy(col("doc_id"))
    }),

    // tok2: BPE ENCODE with the trained merge table (the tokenizer
    // serving phase; tok1/bpeTrain is the training side). The merge
    // table is memoized MODEL STATE per (session, sf) — train once,
    // encode many — and spilled as a stored artifact so the DuckDB
    // oracle replays the same merges (bpeEncodeOracle's recursive-CTE
    // replace chain); the train/encode duality (encoding the training
    // corpus reproduces bpeTrain's tokenization row-for-row,
    // LibraryApiSpec) pins the algorithm itself.
    "tok2_bpe_encode" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      Fixtures.registerRaw(s, dir)
      val merges = cachedMerges(s, dir)
      TextAnalysis.bpeEncode(s.table("documents"), "doc_id", "text", merges)
        .select(col("doc_id"), size(col("toks")).as("n_tokens"),
          md5(concat_ws("", col("toks"))).as("tok_stream_md5"))
        .orderBy(col("doc_id"))
    }),

    // cd1 routes through the library snapshot diff (LibraryApiSpec
    // proves equality with the SQL form): each side reduces to
    // (id, md5) before the single full-outer-join shuffle
    "cd1_snapshot_diff" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      Fixtures.registerRaw(s, dir)
      val docs = s.table("documents")
      val v1 = docs.where(col("doc_id") % 17 =!= 3)
      val v2 = docs.where(col("doc_id") % 19 =!= 7)
        .withColumn("text",
          when(col("doc_id") % 13 === 5, concat(col("text"), lit(" rev2")))
            .otherwise(col("text")))
      Curation.snapshotDiff(v1, v2, "doc_id", "text")
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"),
          sum(col("doc_id")).as("sum_ids"))
        .orderBy(col("status"))
    }),

    // sp8: LEAKAGE-SAFE train/val/test split — sp5's deterministic
    // md5-threshold split keyed by the near-dup CLUSTER instead of the
    // document, so near-duplicates never straddle train and eval (the
    // contamination n-gram decontamination can miss at paraphrase level).
    // Composes the stored dedup artifacts: verified pairs -> connected
    // components -> group key -> split. The oracle replays the whole
    // chain (recursive-CTE closure + the same md5 hex threshold) in
    // DuckDB; the no-straddle invariant itself is spec-pinned on the
    // pair list (SamplingSpec).
    "sp8_leakage_split" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      Fixtures.registerRaw(s, dir)
      // like cachedPairs: the cluster labeling is a stored artifact of
      // the dedup run (dd7's output) — build once per (session, sf),
      // serve the split from it
      val clusters = cachedClusters(s, dir)
      Sampling.leakageSafeSplit(s.table("documents"), "doc_id", clusters)
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("split_group")).as("n_groups"),
          sum(when(col("split_group") =!= col("doc_id"), 1L).otherwise(0L))
            .as("n_regrouped"),
          min(col("doc_id")).as("first_doc"),
          sum(col("doc_id")).as("sum_ids"))
        .orderBy(col("split"))
    }),

    // gr1: PageRank over the near-dup similarity graph (graft.pipeline
    // .Graph) — centrality-weighted canonical-representative selection for
    // template families. Integer fixed-point arithmetic end to end
    // (1e-12 rank units, rational 17/20 damping, per-edge r DIV deg
    // contributions), so the 5 power iterations are bit-reproducible in
    // any engine and the DuckDB oracle — five chained join-agg CTEs over
    // the same verified pair list — hash-matches exactly.
    "gr1_pagerank" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      Fixtures.registerRaw(s, dir)
      Graph.pageRank(cachedPairs(s, dir)).orderBy(col("doc_id"))
    }),

    // gr2: label-propagation COMMUNITIES over the same near-dup graph —
    // deterministic synchronous LPA (majority vote incl. a self-loop,
    // ties to the smallest label, 4 rounds). Distinct from dd7's
    // reachability closure: a bridge node joins the family that dominates
    // its neighborhood instead of merging both families. The oracle
    // unrolls the identical rounds as chained CTEs over the shared
    // duckPairsChain edge list — pure integer voting, one answer.
    "gr2_label_propagation" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      Fixtures.registerRaw(s, dir)
      Graph.labelPropagation(cachedPairs(s, dir)).orderBy(col("doc_id"))
    }),

    // tok3: UNIGRAM-LM tokenizer segmentation (the SentencePiece model
    // family; Kudo 2018) — completes the tokenizer suite next to BPE
    // train/encode (tok1/tok2): vocabulary = all single chars + top-256
    // substrings of the 64-char prefixes with integer micro-log probs
    // (TextAnalysis.unigramVocab, driver-side model state like tok2's
    // merges), segmentation = row-local Viterbi under the broadcast
    // vocabulary (zero shuffle at any corpus size). The gate segments a
    // deterministic 10% doc sample so the oracle's recursive window-DP
    // (64 iterations, one row per sampled doc carrying the last-6
    // dp states) stays bounded; the library segments anything.
    "tok3_unigram_segment" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      Fixtures.registerRaw(s, dir)
      val voc = cachedUnigramVocab(s, dir)
      TextAnalysis.unigramSegment(
        s.table("documents").where(col("doc_id") % 10 === 0),
        "doc_id", "text", voc)
        .orderBy(col("doc_id"))
    }),

    // emb3: embedding-space drift between two corpus snapshots
    // (Similarity.embeddingDrift) — per-label membership churn + the v1×v2
    // integer-centroid cosine (emb1's 1e-6 quantization discipline).
    // Snapshots are deterministic membership slices of the embeddings
    // table (the cd1 pattern); the oracle re-derives centroids and churn
    // from the same slices.
    "emb3_drift_report" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      Fixtures.registerRaw(s, dir)
      val emb = s.table("embeddings")
      val v1 = emb.where(col("vec_id") % 17 =!= 3)
      val v2 = emb.where(col("vec_id") % 19 =!= 7)
      Similarity.embeddingDrift(v1, v2, "vec_id", "embedding", "label")
        .orderBy(col("label"))
    }),

    // ap3: grouped histogram quantiles (Sketches.histogramQuantiles) —
    // the deterministic stand-in for approx_percentile/t-digest: exact
    // IEEE binning (floor(value*10)), one partial-aggregable
    // (group, bin) count shuffle, integer rank resolution over the bin
    // frame. Reported as bin indices so both engines hash-match.
    "ap3_histogram_quantiles" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      Fixtures.registerRaw(s, dir)
      Sketches.histogramQuantiles(s.table("events"), "event_type", "value")
        .orderBy(col("event_type"))
    }),

    // gr3: per-node triangle counts + local clustering coefficient over
    // the near-dup graph — density separates genuine template families
    // (near-cliques) from chains of borderline matches (sparse bridges).
    // Ordered-triple enumeration (a<b<c) over the directed edge list via
    // two hash joins, one explode+groupBy for per-corner counts,
    // per-mille integer coefficient. Oracle replays the identical joins
    // over the shared pair chain.
    "gr3_triangle_stats" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      Fixtures.registerRaw(s, dir)
      Graph.triangleStats(cachedPairs(s, dir)).orderBy(col("doc_id"))
    }),

    // sp9: frequency-weighted SOFT dedup (Sampling.softDedup): keep each
    // near-dup cluster member with probability ~1/cluster_size via the
    // deterministic md5 draw, carrying weight = cluster_size for loss
    // reweighting — the downweight-instead-of-drop alternative to cp1's
    // hard dedup. Serves from the stored cluster artifact like sp8; the
    // oracle replays closure -> sizes -> the same integer draw test.
    "sp9_soft_dedup" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      Fixtures.registerRaw(s, dir)
      Sampling.softDedup(s.table("documents"), "doc_id", cachedClusters(s, dir))
        .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
          col("kept"), col("weight"))
        .orderBy(col("doc_id"))
    }),

    // mm8: image near-dup pairs via banded perceptual hashes — dd6's
    // simhash banding on the REAL decode path: 48-bit average-hash,
    // 6 × 8-bit bands, hamming <= 5 verified by exact popcount
    // (pigeonhole: any qualifying pair agrees on a full band, so the
    // bucket join finds it without all-pairs). The oracle re-derives the
    // 48 sampled pixels character-wise (lossless PNG round-trip, the mm5
    // derivation) and replays banding + popcount in SQL.
    "mm8_image_neardup" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      Fixtures.registerRaw(s, dir)
      Multimodal.phashNearDupPairs(cachedMedia(s, dir))
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // cp1: the full corpus-curation composition (graft.pipeline.Curation):
    // language filter -> quality gate -> exact dedup (min-id keeper) ->
    // 50% deterministic sample -> 4-way shard. The oracle reproduces the
    // ENTIRE chain in DuckDB SQL — every stage is md5/threshold
    // deterministic, which is the point: a retried 100 TB build emits the
    // same shards.
    "cp1_curation" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      Fixtures.registerRaw(s, dir)
      Curation.curate(s.table("documents"), "doc_id", "text", "lang")
        .groupBy(col("shard").cast("long").as("shard"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"),
          sum(col("doc_id")).as("sum_ids"))
        .orderBy(col("shard"))
    }),

    // rj1: range join (graft.operators.RangeJoin) — clicks within the hour
    // before each purchase by the same user, via bin bucketing (pure hash
    // equi-join on (user, bin) + exact filter; no nested-loop shape).
    // Oracle = DuckDB's native inequality join: two independent
    // algorithms, one answer. Bounds compare as epoch micros on both
    // sides (DuckDB CAST(ts NS -> TIMESTAMP) truncates the same way).
    "rj1_range_join" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      Fixtures.registerRaw(s, dir)
      val ev = s.table("events")
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          unix_micros(col("ts")).as("c_us"))
      val purch = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          (unix_micros(col("ts")) - 3600000000L).as("w_start"),
          unix_micros(col("ts")).as("w_end"))
      graft.operators.RangeJoin.pointInRange(
          clicks, purch, Seq("user_id"), "c_us", "w_start", "w_end",
          binWidth = 3600000000L)
        .select(col("purchase_id"), col("click_id"))
        .orderBy(col("purchase_id"), col("click_id"))
    }),

    // ss3: IVF with LEARNED centroids — spherical k-means refines the 16
    // seeds (2 Lloyd iterations), then the same probe-2-cells search as
    // ss2 runs against the learned cells. Iterative float means aren't
    // reproducible cross-engine, but they don't need to be: the centroids
    // are INDEX STATE, spilled to parquet by the shared annIndex build
    // (ss5/ss6 run in the same Verify session), and the oracle re-serves
    // the identical search from that stored state (learnedIvfOracle).
    // SimilaritySpec additionally asserts recall vs brute force and
    // k-means cohesion improvement.
    "ss3_ivf_learned" -> ((s: SparkSession, dir: String) => {
      Fixtures.registerRaw(s, dir)
      val emb = s.table("embeddings")
      // centroid learning is INDEX BUILD — offline, once per corpus (like
      // any IVF index); memoized so the measured work is the serving path
      val cents = annCentroids(s, dir, emb)
      Similarity.ivfTopKLearned(
        emb, "vec_id", "embedding", queryIds = Seq(0L, 1L, 2L, 3L, 4L),
        centroids = cents, k = 5, nprobe = 2)
    }),

    // ss5: PRODUCT-QUANTIZED ANN — per-subspace learned codebooks encode
    // each 256-byte vector into ONE BIGINT (32x compression); search is
    // asymmetric distance computation (per-query LUT over the packed
    // codes — the scan never touches a float vector) with a full-precision
    // rerank of the top candidates. Codebook learning is INDEX BUILD
    // (memoized like ss3's centroids); the measured work is the serving
    // path. Oracle: the stored index/codebooks spill to parquet at build
    // time and DuckDB re-scores ADC from that SAME state (pqAdcOracle) —
    // learned floats need not be cross-engine reproducible when the
    // correctness claim is about serving over stored state.
    "ss5_pq_topk" -> ((s: SparkSession, dir: String) => {
      Fixtures.registerRaw(s, dir)
      val emb = s.table("embeddings")
      val books = annBooks(s, dir, emb)
      Similarity.pqTopK(
        emb, "vec_id", "embedding", queryIds = Seq(0L, 1L, 2L, 3L, 4L),
        books = books, k = 5, rerank = 20, index = Some(annIndex(s, dir, emb)))
    }),

    // ss6: IVF+PQ — the standard billion-scale serving composition:
    // learned IVF cells prune the scan to nprobe/16 of the corpus, PQ/ADC
    // scores the survivors as 8-byte codes, the top page reranks
    // full-precision. Models and the encoded index are memoized state
    // shared with ss5/ss3; the stored-index ADC oracle covers it like ss5
    // (probe ranking re-derived from the stored centroids).
    "ss6_ivfpq_topk" -> ((s: SparkSession, dir: String) => {
      Fixtures.registerRaw(s, dir)
      val emb = s.table("embeddings")
      val cents = annCentroids(s, dir, emb)
      val books = annBooks(s, dir, emb)
      Similarity.ivfPqTopK(
        emb, "vec_id", "embedding", queryIds = Seq(0L, 1L, 2L, 3L, 4L),
        centroids = cents, books = books, k = 5, nprobe = 4, rerank = 20,
        index = Some(annIndex(s, dir, emb)))
    }))

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    defs.map { q =>
      q.name -> ((s: SparkSession, dir: String) => {
        Fixtures.registerRaw(s, dir)
        graft.functions.VectorFunctions.register(s)
        graft.functions.TextFunctions.register(s)
        graft.functions.HashFunctions.register(s)
        s.sql(q.sparkSql)
      })
    }.toMap ++ overrides // overrides supersede SQL forms and add Scala-only ops

  /** DuckDB re-scoring of the STORED PQ/IVF+PQ index (ss5/ss6 parity):
    * reads the exact index the Spark queries served from
    * ([[annArtifactDir]]; written during Verify's ss5/ss6 run at sf0.01),
    * rebuilds each query's LUT from the stored codebooks (8-term
    * index-ordered double sums — bit-reproducible), scores every code by
    * ADC, pages top-20 by raw approx, reranks full-precision from the
    * embeddings table, and emits the top-5 — the identical serving
    * algorithm over identical stored state, independently executed. */
  /** tok2's DuckDB oracle: replay the STORED merge table (trained by this
    * run's bpeTrain, spilled by [[cachedMerges]]) over the corpus with a
    * recursive CTE — one level per merge, in training order. The token
    * stream is encoded as a delimiter string (`\x01tok\x02` per token, so
    * `\x01` counts tokens and patterns can never match across token
    * boundaries), and each merge round is ONE `replace()`: SQL replace's
    * left-to-right continue-after-replacement scan is exactly the greedy
    * non-overlapping pass `TextAnalysis.bpeEncode` runs per merge
    * (verified: `(a,a,a)` with pair `(a,a)` gives `(a a), a` in both).
    * The fingerprint hashes tokens joined by `\x01` (the same separator
    * the Spark query's `concat_ws` uses — unambiguous, since merged
    * tokens contain spaces): dropping `\x02` leaves exactly that
    * `\x01`-joined stream after the leading delimiter is stripped. Two
    * different executions of the same algorithm, one answer — the same
    * stored-model-parity contract as the ss3/ss5/ss6 oracles. */
  private def bpeEncodeOracle(art: String): String = {
    val merges = s"read_parquet('$art/merges.parquet/*.parquet')"
    s"""WITH RECURSIVE m AS (SELECT idx, left_tok, right_tok FROM $merges),
       |enc AS (
       |  SELECT doc_id, 0 AS it,
       |         chr(1) || replace(text, ' ', chr(2) || chr(1)) || chr(2) AS s
       |  FROM documents
       |  UNION ALL
       |  SELECT e.doc_id, e.it + 1,
       |         replace(e.s,
       |                 chr(1) || m.left_tok || chr(2) || chr(1) || m.right_tok || chr(2),
       |                 chr(1) || m.left_tok || ' ' || m.right_tok || chr(2))
       |  FROM enc e JOIN m ON m.idx = e.it)
       |SELECT doc_id,
       |       CAST(length(s) - length(replace(s, chr(1), '')) AS INTEGER) AS n_tokens,
       |       md5(substring(replace(s, chr(2), ''), 2)) AS tok_stream_md5
       |FROM enc
       |WHERE it = (SELECT count(*) FROM m)
       |ORDER BY doc_id""".stripMargin
  }

  private def pqAdcOracle(ivf: Boolean, art: String): String = {
    val idx = s"read_parquet('$art/index.parquet/*.parquet')"
    val books = s"read_parquet('$art/books.parquet/*.parquet')"
    val cents = s"read_parquet('$art/centroids.parquet/*.parquet')"
    val probeCte = if (!ivf) "" else
      s""",
         |probe AS (SELECT qid, cid FROM (
         |  SELECT q.qid, c.cid,
         |         row_number() OVER (PARTITION BY q.qid ORDER BY
         |           list_sum(list_transform(range(1, 65),
         |             d -> CAST(q.embedding[d] AS DOUBLE) * c.w[d])) DESC, c.cid) AS rnk
         |  FROM q, $cents c) pr WHERE rnk <= 4)""".stripMargin
    val scanJoin = if (ivf)
      "JOIN probe p ON p.qid = q.qid JOIN idx i ON i.cid = p.cid AND i.vec_id <> q.qid"
    else
      "JOIN idx i ON i.vec_id <> q.qid"
    s"""WITH idx AS (SELECT * FROM $idx),
       |q AS (SELECT e.vec_id AS qid, e.embedding, i.nrm AS qn
       |      FROM embeddings e JOIN idx i ON i.vec_id = e.vec_id
       |      WHERE e.vec_id < 5),
       |lut AS (SELECT q.qid, b.s, b.c,
       |          list_sum(list_transform(range(1, 9),
       |            d -> CAST(q.embedding[b.s * 8 + d] AS DOUBLE) * b.w[d])) AS v
       |        FROM q, $books b),
       |lutarr AS (SELECT qid, list(v ORDER BY s, c) AS lut FROM lut GROUP BY qid)$probeCte,
       |scored AS (SELECT q.qid, i.vec_id,
       |    list_sum(list_transform(range(0, 8),
       |      s -> la.lut[s * 16 + ((i.codes >> (s * 4)) & 15) + 1]))
       |      / (q.qn * i.nrm) AS approx
       |  FROM q JOIN lutarr la ON la.qid = q.qid $scanJoin),
       |page AS (SELECT qid, vec_id, round(approx, 6) AS approx_cos FROM (
       |    SELECT qid, vec_id, approx,
       |           row_number() OVER (PARTITION BY qid ORDER BY approx DESC, vec_id) AS rnk
       |    FROM scored) t WHERE rnk <= 20),
       |rr AS (SELECT p.qid, p.vec_id, p.approx_cos,
       |         round(list_sum(list_transform(range(1, 65),
       |             d -> CAST(q.embedding[d] AS DOUBLE) * CAST(ve.embedding[d] AS DOUBLE)))
       |           / (q.qn * i.nrm), 6) AS exact_cos
       |       FROM page p
       |       JOIN q ON q.qid = p.qid
       |       JOIN idx i ON i.vec_id = p.vec_id
       |       JOIN embeddings ve ON ve.vec_id = p.vec_id)
       |SELECT qid, vec_id, approx_cos, exact_cos FROM (
       |  SELECT qid, vec_id, approx_cos, exact_cos,
       |         row_number() OVER (PARTITION BY qid ORDER BY exact_cos DESC, vec_id) AS rnk2
       |  FROM rr) f
       |WHERE rnk2 <= 5 ORDER BY qid, exact_cos DESC, vec_id""".stripMargin
  }

  /** DuckDB re-serving of the learned-IVF search (ss3 parity) from the
    * STORED centroids ([[annArtifactDir]], written during Verify's ss5/ss6
    * run in the same session, so both engines see the identical model):
    * corpus assignment = first-max argmax of dots against the
    * FLOAT-truncated centroids (Spark ships them as float literals —
    * `CAST(w[d] AS FLOAT)` reproduces the truncation bit-for-bit), query
    * probing = top-2 cells by the same dot with (score DESC, cid)
    * ordering, then exact cosine over the probed cells' vectors and
    * top-5 per query — the identical serving algorithm over identical
    * stored state, independently executed. */
  private def learnedIvfOracle(art: String): String = {
    val cents = s"read_parquet('$art/centroids.parquet/*.parquet')"
    def centDot(vec: String) =
      s"list_sum(list_transform(range(1, 65), d -> CAST($vec[d] AS DOUBLE) * CAST(CAST(c.w[d] AS FLOAT) AS DOUBLE)))"
    s"""WITH cents AS (SELECT cid, w FROM $cents),
       |v AS (SELECT vec_id, embedding,
       |        sqrt(list_sum(list_transform(range(1, 65),
       |          d -> CAST(embedding[d] AS DOUBLE) * CAST(embedding[d] AS DOUBLE)))) AS nrm
       |      FROM embeddings),
       |assign AS (SELECT vec_id, cid FROM (
       |    SELECT v.vec_id, c.cid,
       |           row_number() OVER (PARTITION BY v.vec_id ORDER BY
       |             ${centDot("v.embedding")} DESC, c.cid) AS rnk
       |    FROM v, cents c) a WHERE rnk = 1),
       |q AS (SELECT vec_id AS qid, embedding AS qv, nrm AS qn FROM v WHERE vec_id < 5),
       |probe AS (SELECT qid, cid FROM (
       |    SELECT q.qid, c.cid,
       |           row_number() OVER (PARTITION BY q.qid ORDER BY
       |             ${centDot("q.qv")} DESC, c.cid) AS rnk
       |    FROM q, cents c) p WHERE rnk <= 2),
       |scored AS (SELECT q.qid, a.vec_id,
       |       round(list_sum(list_transform(range(1, 65),
       |           d -> CAST(q.qv[d] AS DOUBLE) * CAST(ve.embedding[d] AS DOUBLE)))
       |         / (q.qn * ve.nrm), 6) AS cos
       |    FROM q JOIN probe p ON p.qid = q.qid
       |    JOIN assign a ON a.cid = p.cid
       |    JOIN v ve ON ve.vec_id = a.vec_id
       |    WHERE a.vec_id <> q.qid)
       |SELECT qid, vec_id, cos FROM (
       |  SELECT qid, vec_id, cos,
       |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rnk
       |  FROM scored) t
       |WHERE rnk <= 5 ORDER BY qid, cos DESC, vec_id""".stripMargin
  }

  /** Parameterless form keeps the driver-gate default (sf0.01). */
  def oracleSql: Map[String, String] = oracleSqlFor("/root/testdata/sf0.01")

  /** Oracle SQL with the stored-ANN artifact paths derived from `sfDir` —
    * Verify dumps THIS form, so `tools/compare.py` is runnable at every
    * scale (the static sf0.01 path previously false-failed ss3/ss5/ss6 at
    * any other sf). */
  /** Shared BM25 oracle building blocks (ONE copy of the scoring math —
    * rt1/rt2/rt4 all assemble from these, so an oracle-side fix can never
    * silently diverge between the gates). `bm25PreludeSql` renders the
    * original query VALUES + tok/dl/st corpus CTEs; `bm25ChainSql(n, qRel)`
    * renders the tf$n/df$n/sc$n/ts$n/agg$n scoring chain over any term
    * relation. Constants render from the same Scala doubles the Spark
    * plans embed (shortest-round-trip literals parse back bit-identical). */
  private def bm25PreludeSql: String = {
    val vals = bm25QueryDefs.flatMap { case (qid, ts) =>
      ts.distinct.map(t => s"($qid, '$t')")
    }.mkString(", ")
    s"""q(qid, term) AS (SELECT * FROM (VALUES $vals) t(qid, term)),
       |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
       |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
       |st AS (SELECT count(*) AS n_docs, sum(dl) AS total_len FROM dl)""".stripMargin
  }

  private def bm25ChainSql(
      n: Int, qRel: String, k1: Double = 1.2, b: Double = 0.75): String =
    s"""tf$n AS (SELECT t.doc_id, t.token, count(*) AS tf FROM tok t
       |       JOIN (SELECT DISTINCT term FROM $qRel) qt ON qt.term = t.token
       |       GROUP BY t.doc_id, t.token),
       |df$n AS (SELECT token, count(*) AS df FROM tf$n GROUP BY token),
       |sc$n AS (SELECT tf$n.doc_id, tf$n.token,
       |        CAST(floor(ln((st.n_docs - df$n.df + 0.5) / (df$n.df + 0.5) + 1.0) * 1000000.0) AS BIGINT) AS idf_micro,
       |        tf$n.tf * ${k1 + 1.0} / (tf$n.tf + $k1 * (${1.0 - b} + $b * dl.dl / (CAST(st.total_len AS DOUBLE) / st.n_docs))) AS tfn
       |       FROM tf$n JOIN df$n ON df$n.token = tf$n.token
       |       JOIN dl ON dl.doc_id = tf$n.doc_id CROSS JOIN st),
       |ts$n AS (SELECT $qRel.qid, sc$n.doc_id,
       |        CAST(floor(sc$n.idf_micro * sc$n.tfn) AS BIGINT) AS m
       |       FROM sc$n JOIN $qRel ON $qRel.term = sc$n.token),
       |agg$n AS (SELECT qid, doc_id, CAST(sum(m) AS BIGINT) AS score_micro
       |        FROM ts$n GROUP BY qid, doc_id)""".stripMargin

  /** rt1's DuckDB oracle: the identical BM25 arithmetic assembled from
    * the shared chain; `k` mirrors the Spark entry's top-k. */
  private def bm25Oracle(k: Int = 5): String =
    s"""WITH $bm25PreludeSql,
       |${bm25ChainSql(1, "q")}
       |SELECT qid, doc_id, score_micro FROM (
       |  SELECT qid, doc_id, score_micro,
       |         row_number() OVER (PARTITION BY qid
       |             ORDER BY score_micro DESC, doc_id) AS rk
       |  FROM agg1) t
       |WHERE rk <= $k ORDER BY qid, score_micro DESC, doc_id""".stripMargin

  /** rt2's DuckDB oracle: the shared BM25 chain (ranks to kEach) and the
    * ss1-style vector chain (kEach), per-side ranks, then the identical
    * integer RRF sum and top-k. */
  private def hybridRrfOracle(kEach: Int = 20, k: Int = 10): String = {
    val qids = bm25QueryDefs.map(_._1).mkString(", ")
    s"""WITH $bm25PreludeSql,
       |${bm25ChainSql(1, "q")},
       |br AS (SELECT qid, doc_id,
       |        row_number() OVER (PARTITION BY qid
       |            ORDER BY score_micro DESC, doc_id) AS r
       |       FROM agg1),
       |$duckVecs,
       |vq AS (SELECT vec_id AS qid, embedding AS qe, nrm AS qn FROM v
       |       WHERE vec_id IN ($qids)),
       |vc AS (SELECT vq.qid, e.vec_id,
       |        round(${duckDot("qe", "e.embedding")} / (qn * e.nrm), 6) AS cos
       |       FROM vq CROSS JOIN v e WHERE e.vec_id <> vq.qid),
       |vr AS (SELECT qid, vec_id AS doc_id,
       |        row_number() OVER (PARTITION BY qid
       |            ORDER BY cos DESC, vec_id) AS r
       |       FROM vc),
       |c AS (SELECT CAST(qid AS BIGINT) AS qid, CAST(doc_id AS BIGINT) AS doc_id,
       |        1000000 // (60 + r) AS c FROM br WHERE r <= $kEach
       |      UNION ALL
       |      SELECT CAST(qid AS BIGINT), CAST(doc_id AS BIGINT),
       |        1000000 // (60 + r) FROM vr WHERE r <= $kEach),
       |agg AS (SELECT qid, doc_id, CAST(sum(c) AS BIGINT) AS rrf_micro
       |        FROM c GROUP BY qid, doc_id)
       |SELECT qid, doc_id, rrf_micro FROM (
       |  SELECT qid, doc_id, rrf_micro,
       |         row_number() OVER (PARTITION BY qid
       |             ORDER BY rrf_micro DESC, doc_id) AS rk
       |  FROM agg) t
       |WHERE rk <= $k ORDER BY qid, rrf_micro DESC, doc_id""".stripMargin
  }

  /** rt5's DuckDB oracle: the shared BM25 chain provides the candidate
    * pool; the ss1-style vector chain provides each query's top-1
    * neighbour (the positive, scored as 1e-6-quantized cosine); negatives
    * are the pool minus {positive, query doc}, re-ranked by
    * (score DESC, doc_id) — both engines walk identical integer ranks. */
  private def hardNegOracle(bmK: Int = rt5BmK, nNeg: Int = rt5NNeg): String = {
    val qids = bm25QueryDefs.map(_._1).mkString(", ")
    s"""WITH $bm25PreludeSql,
       |${bm25ChainSql(1, "q")},
       |bm AS (SELECT qid, doc_id, score_micro FROM (
       |    SELECT CAST(qid AS BIGINT) AS qid, CAST(doc_id AS BIGINT) AS doc_id,
       |           score_micro,
       |           row_number() OVER (PARTITION BY qid
       |               ORDER BY score_micro DESC, doc_id) AS r
       |    FROM agg1) t WHERE r <= $bmK),
       |$duckVecs,
       |vq AS (SELECT vec_id AS qid, embedding AS qe, nrm AS qn FROM v
       |       WHERE vec_id IN ($qids)),
       |vc AS (SELECT vq.qid, e.vec_id,
       |        round(${duckDot("qe", "e.embedding")} / (qn * e.nrm), 6) AS cos
       |       FROM vq CROSS JOIN v e WHERE e.vec_id <> vq.qid),
       |pos AS (SELECT qid, vec_id, cos FROM (
       |    SELECT qid, vec_id, cos,
       |           row_number() OVER (PARTITION BY qid
       |               ORDER BY cos DESC, vec_id) AS r
       |    FROM vc) t WHERE r = 1),
       |neg AS (SELECT qid, doc_id, rnk, score_micro FROM (
       |    SELECT b.qid, b.doc_id, b.score_micro,
       |           CAST(row_number() OVER (PARTITION BY b.qid
       |               ORDER BY b.score_micro DESC, b.doc_id) AS BIGINT) AS rnk
       |    FROM bm b JOIN pos p ON p.qid = b.qid
       |    WHERE b.doc_id <> CAST(p.vec_id AS BIGINT) AND b.doc_id <> b.qid) t
       |    WHERE rnk <= $nNeg)
       |SELECT qid, doc_id, role, rnk, score_micro FROM (
       |  SELECT CAST(qid AS BIGINT) AS qid, CAST(vec_id AS BIGINT) AS doc_id,
       |         'pos' AS role, CAST(0 AS BIGINT) AS rnk,
       |         CAST(round(cos * 1000000) AS BIGINT) AS score_micro
       |  FROM pos
       |  UNION ALL
       |  SELECT qid, doc_id, 'neg' AS role, rnk, score_micro FROM neg) u
       |ORDER BY qid, rnk, doc_id""".stripMargin
  }

  /** rt3's DuckDB oracle: candidate relevance + pairwise sims quantized
    * to the same 1e-6 integers, then the greedy MMR rounds UNROLLED as
    * chained CTEs (sel1 → r2/sel2 → … — the LPA-oracle technique), so
    * both engines walk the identical integer trajectory. */
  private def mmrOracle(
      kCand: Int = 10, kSel: Int = 5, lambdaPm: Int = 700): String = {
    val qids = bm25QueryDefs.map(_._1).mkString(", ")
    val lp = lambdaPm; val lm = 1000 - lambdaPm
    val rounds = (2 to kSel).map { n =>
      val prev = s"sel${n - 1}"
      s"""r$n AS (SELECT qid, doc_id, $n AS mmr_rank, rel_u6, score_u6 FROM (
         |    SELECT c.qid, c.doc_id, c.rel_u6,
         |           $lp * c.rel_u6 - $lm * ms.ms AS score_u6,
         |           row_number() OVER (PARTITION BY c.qid
         |               ORDER BY ($lp * c.rel_u6 - $lm * ms.ms) DESC, c.doc_id) AS r
         |    FROM cand c
         |    JOIN (SELECT p.qid, p.a, max(p.sim_u6) AS ms FROM pairs p
         |          JOIN $prev s ON s.qid = p.qid AND s.doc_id = p.b
         |          GROUP BY p.qid, p.a) ms
         |      ON ms.qid = c.qid AND ms.a = c.doc_id
         |    WHERE NOT EXISTS (SELECT 1 FROM $prev s
         |                      WHERE s.qid = c.qid AND s.doc_id = c.doc_id)) t
         |  WHERE r = 1),
         |sel$n AS (SELECT * FROM $prev UNION ALL SELECT * FROM r$n)""".stripMargin
    }.mkString(",\n")
    s"""WITH $duckVecs,
       |q AS (SELECT vec_id AS qid, embedding AS qe, nrm AS qn FROM v
       |      WHERE vec_id IN ($qids)),
       |rel AS (SELECT q.qid, e.vec_id AS doc_id,
       |        CAST(round(round(${duckDot("qe", "e.embedding")} / (qn * e.nrm), 6)
       |             * 1000000.0) AS BIGINT) AS rel_u6
       |      FROM q CROSS JOIN v e WHERE e.vec_id <> q.qid),
       |cand AS (SELECT qid, doc_id, rel_u6 FROM (
       |      SELECT qid, doc_id, rel_u6,
       |        row_number() OVER (PARTITION BY qid
       |            ORDER BY rel_u6 DESC, doc_id) AS r
       |      FROM rel) t WHERE r <= $kCand),
       |pairs AS (SELECT x.qid, x.doc_id AS a, y.doc_id AS b,
       |        CAST(round(round(${duckDot("xv.embedding", "yv.embedding")} / (xv.nrm * yv.nrm), 6)
       |             * 1000000.0) AS BIGINT) AS sim_u6
       |      FROM cand x JOIN cand y ON x.qid = y.qid AND x.doc_id <> y.doc_id
       |      JOIN v xv ON xv.vec_id = x.doc_id
       |      JOIN v yv ON yv.vec_id = y.doc_id),
       |sel1 AS (SELECT qid, doc_id, 1 AS mmr_rank, rel_u6,
       |              rel_u6 AS score_u6 FROM (
       |      SELECT qid, doc_id, rel_u6,
       |        row_number() OVER (PARTITION BY qid
       |            ORDER BY rel_u6 DESC, doc_id) AS r
       |      FROM cand) t WHERE r = 1),
       |$rounds
       |SELECT qid, doc_id, mmr_rank, rel_u6, score_u6
       |FROM sel$kSel ORDER BY qid, mmr_rank""".stripMargin
  }

  /** rt4's DuckDB oracle: the shared BM25 chain run twice — pass 1 over
    * the original terms picks each query's top-fbK feedback docs, the
    * expansion terms derive IN SQL (integer tf sums, term tiebreaks,
    * originals and the empty token excluded), and pass 2 re-runs the
    * identical chain over the expanded term relation. Parameters mirror
    * the rt4 entry's prfExpand/bm25TopK call (rt4FbK/rt4ExpK/rt4K). */
  private def prfOracle(
      fbK: Int = rt4FbK, expK: Int = rt4ExpK, k: Int = rt4K): String =
    s"""WITH $bm25PreludeSql,
       |${bm25ChainSql(1, "q")},
       |fb AS (SELECT qid, doc_id FROM (
       |       SELECT qid, doc_id,
       |         row_number() OVER (PARTITION BY qid
       |             ORDER BY score_micro DESC, doc_id) AS rk
       |       FROM agg1) t WHERE rk <= $fbK),
       |expw AS (SELECT fb.qid, t.token AS term, count(*) AS w
       |       FROM fb JOIN tok t ON t.doc_id = fb.doc_id
       |       WHERE t.token <> ''
       |       GROUP BY fb.qid, t.token),
       |expf AS (SELECT qid, term FROM (
       |       SELECT e.qid, e.term,
       |         row_number() OVER (PARTITION BY e.qid
       |             ORDER BY e.w DESC, e.term) AS r
       |       FROM expw e
       |       WHERE NOT EXISTS (SELECT 1 FROM q
       |                         WHERE q.qid = e.qid AND q.term = e.term)) t
       |       WHERE r <= $expK),
       |q2 AS (SELECT qid, term FROM q UNION SELECT qid, term FROM expf),
       |${bm25ChainSql(2, "q2")}
       |SELECT qid, doc_id, score_micro FROM (
       |  SELECT qid, doc_id, score_micro,
       |         row_number() OVER (PARTITION BY qid
       |             ORDER BY score_micro DESC, doc_id) AS rk
       |  FROM agg2) t
       |WHERE rk <= $k ORDER BY qid, score_micro DESC, doc_id""".stripMargin

  def oracleSqlFor(sfDir: String): Map[String, String] =
    defs.map(q => q.name -> q.duckSql).toMap ++ Map(
      "rt1_bm25_topk" -> bm25Oracle(),
      "rt2_hybrid_rrf" -> hybridRrfOracle(rt2KEach, rt2K),
      "rt3_mmr_rerank" -> mmrOracle(),
      "rt4_prf_expansion" -> prfOracle(),
      "rt5_hard_negatives" -> hardNegOracle(),

      // ds1: the same hashed-bigram two-LM importance chain; every
      // log-prob quantizes through the micro-nat floor separately, so the
      // doc weight is an integer sum in both engines
      "ds1_dsir_selection" ->
        """WITH tok AS (SELECT doc_id, lang = 'en' AS tgt,
          |              string_split(text, ' ') AS w FROM documents),
          |g AS (SELECT doc_id, tgt,
          |        array_to_string(list_slice(w, i + 1, i + 2), ' ') AS gram
          |      FROM tok, unnest(range(0, greatest(len(w) - 1, 1))) AS t(i)),
          |gb AS (SELECT doc_id, tgt,
          |        ('0x' || substring(md5(gram), 1, 12))::BIGINT % 8192 AS b
          |       FROM g),
          |lm AS (SELECT b, sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS ct,
          |        count(*) AS cs FROM gb GROUP BY b),
          |tot AS (SELECT CAST(sum(ct) AS BIGINT) AS nt,
          |         CAST(sum(cs) AS BIGINT) AS ns FROM lm),
          |model AS (SELECT b,
          |        CAST(floor(ln((ct + 1) / (CAST(nt AS DOUBLE) + 8192.0)) * 1000000.0) AS BIGINT)
          |        - CAST(floor(ln((cs + 1) / (CAST(ns AS DOUBLE) + 8192.0)) * 1000000.0) AS BIGINT)
          |          AS lr_micro
          |       FROM lm CROSS JOIN tot),
          |dw AS (SELECT gb.doc_id, count(*) AS n_bigrams,
          |        CAST(sum(m.lr_micro) AS BIGINT) AS w_micro
          |       FROM gb JOIN model m ON m.b = gb.b GROUP BY gb.doc_id)
          |SELECT doc_id, n_bigrams, w_micro FROM (
          |  SELECT doc_id, n_bigrams, w_micro,
          |         row_number() OVER (ORDER BY w_micro DESC, doc_id) AS rk
          |  FROM dw) t
          |WHERE rk <= 100 ORDER BY w_micro DESC, doc_id""".stripMargin,

      // ck1: the same integer chunk-count arithmetic + 1-based substring
      // windows; md5 of each window hash-gates the bytes themselves
      "ck1_chunk_documents" ->
        """WITH d AS (SELECT doc_id, text, length(text) AS len FROM documents),
          |n AS (SELECT doc_id, text,
          |        CASE WHEN len <= 200 THEN 1
          |             ELSE (len - 200 + 149) // 150 + 1 END AS n_chunks
          |      FROM d),
          |c AS (SELECT doc_id, text, n_chunks,
          |        unnest(range(0, n_chunks)) AS chunk_idx FROM n)
          |SELECT doc_id, chunk_idx, chunk_idx * 150 + 1 AS chunk_start,
          |       length(substring(text, CAST(chunk_idx * 150 + 1 AS INT), 200)) AS chunk_len,
          |       md5(substring(text, CAST(chunk_idx * 150 + 1 AS INT), 200)) AS chunk_md5,
          |       n_chunks
          |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,

      // dd10: closure -> cluster sizes -> size histogram + per-mille
      "dd10_dup_mass_report" ->
        s"""WITH RECURSIVE $duckPairsChain,
           |reach(node, label) AS (
           |  SELECT a, a FROM edges
           |  UNION
           |  SELECT e.a, r.label FROM edges e JOIN reach r ON r.node = e.b),
           |cl AS (SELECT node AS doc_id, min(label) AS cluster_id
           |       FROM reach GROUP BY node),
           |lab AS (SELECT d.doc_id, coalesce(cl.cluster_id, d.doc_id) AS cid
           |        FROM documents d LEFT JOIN cl ON cl.doc_id = d.doc_id),
           |sz AS (SELECT cid, count(*) AS sz FROM lab GROUP BY cid),
           |tot AS (SELECT count(*) AS n_total FROM documents)
           |SELECT sz AS cluster_size,
           |       count(*) AS n_clusters,
           |       CAST(sum(sz) AS BIGINT) AS n_docs,
           |       CAST(sum(sz) AS BIGINT) * 1000 // n_total AS docs_per_mille
           |FROM sz CROSS JOIN tot
           |GROUP BY sz, n_total ORDER BY cluster_size""".stripMargin,

      // cq1: recursive closure over the verified pair list (the dd7
      // chain) -> per-cluster argmax(n_chars, min id) representative
      "cq1_cluster_reps" ->
        s"""WITH RECURSIVE $duckPairsChain,
           |reach(node, label) AS (
           |  SELECT a, a FROM edges
           |  UNION
           |  SELECT e.a, r.label FROM edges e JOIN reach r ON r.node = e.b),
           |cl AS (SELECT node AS doc_id, min(label) AS cluster_id
           |       FROM reach GROUP BY node),
           |g AS (SELECT d.doc_id, d.n_chars,
           |        coalesce(CAST(cl.cluster_id AS VARCHAR),
           |                 CAST(d.doc_id AS VARCHAR)) AS cluster_id
           |      FROM documents d LEFT JOIN cl ON cl.doc_id = d.doc_id),
           |r AS (SELECT doc_id, cluster_id, n_chars,
           |        count(*) OVER (PARTITION BY cluster_id) AS cluster_n,
           |        row_number() OVER (PARTITION BY cluster_id
           |            ORDER BY n_chars DESC, doc_id) AS rk
           |      FROM g)
           |SELECT doc_id, cluster_id, cluster_n, (rk = 1) AS is_rep
           |FROM r ORDER BY doc_id""".stripMargin,

      "ss5_pq_topk" -> pqAdcOracle(ivf = false, annArtifactDir(sfDir)),
      "ss6_ivfpq_topk" -> pqAdcOracle(ivf = true, annArtifactDir(sfDir)),
      "ss3_ivf_learned" -> learnedIvfOracle(annArtifactDir(sfDir)),
      "tok2_bpe_encode" -> bpeEncodeOracle(annArtifactDir(sfDir)),

      // dc2 = dc1's exact contract served through the Bloom-pruned path
      "dc2_bloom_decontamination" ->
        defs.find(_.name == "dc1_decontamination").get.duckSql,
      // the federated entity is the union of two id-slices = the whole
      // corpus, so the pair chain is dd2's; cross_source = id parity
      "dm2_dedup_across_sources" -> {
        val dd2 = defs.find(_.name == "dd2_minhash_lsh").get.duckSql
        s"""SELECT doc_a, doc_b, jaccard,
           |       (doc_a % 2) <> (doc_b % 2) AS cross_source
           |FROM ($dd2) base
           |ORDER BY doc_a, doc_b""".stripMargin
      },

      "tk1_topk_per_user" ->
        """SELECT user_id, event_id, round(value, 2) AS value FROM (
          |  SELECT user_id, event_id, value,
          |         row_number() OVER (PARTITION BY user_id
          |             ORDER BY value DESC, event_id) AS rn
          |  FROM events) t
          |WHERE rn <= 3 ORDER BY user_id, value DESC, event_id""".stripMargin,

      "ao2_asof_next" ->
        """WITH clicks AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
          |                       max(event_id) AS click_id
          |                FROM events WHERE event_type = 'click' GROUP BY 1, 2),
          |purch AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
          |                 round(value, 2) AS pvalue
          |          FROM events WHERE event_type = 'purchase')
          |SELECT p.event_id, p.user_id, p.pvalue,
          |       (SELECT c.click_id FROM clicks c
          |        WHERE c.user_id = p.user_id AND c.ts >= p.ts
          |        ORDER BY c.ts LIMIT 1) AS click_id
          |FROM purch p ORDER BY p.event_id""".stripMargin,

      "rj2_interval_overlap" ->
        """WITH c AS (SELECT user_id, event_id AS click_id,
          |    CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS cs,
          |    CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) + 1200 AS ce
          |  FROM events WHERE event_type = 'click'),
          |p AS (SELECT user_id, event_id AS purchase_id,
          |    CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS ps,
          |    CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) + 1200 AS pe
          |  FROM events WHERE event_type = 'purchase')
          |SELECT c.click_id, p.purchase_id
          |FROM c JOIN p ON c.user_id = p.user_id AND c.cs <= p.pe AND p.ps <= c.ce
          |ORDER BY click_id, purchase_id""".stripMargin,

      "ao1_asof_join" ->
        """WITH clicks AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
          |                       max(event_id) AS click_id
          |                FROM events WHERE event_type = 'click' GROUP BY 1, 2),
          |purch AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
          |                 round(value, 2) AS pvalue
          |          FROM events WHERE event_type = 'purchase')
          |SELECT p.event_id, p.user_id, p.pvalue, c.click_id
          |FROM purch p ASOF LEFT JOIN clicks c
          |  ON p.user_id = c.user_id AND c.ts <= p.ts
          |ORDER BY p.event_id""".stripMargin,

      "dm1_dedup_on_entity" ->
        """SELECT md5(text) AS sig, min(doc_id) AS keeper, count(*) AS n_docs
          |FROM documents WHERE lang <> 'zh'
          |GROUP BY md5(text) ORDER BY sig""".stripMargin,

      // character-wise re-derivation of the average hash: sampled pixel j
      // = byte (j*len)//8; bit j set iff that byte exceeds the sample mean.
      // Char-wise == byte-wise only because the corpus is ASCII (the same
      // documented precondition as mm2's oracle); a multibyte corpus needs
      // a byte-level oracle
      "mm5_image_phash" ->
        """SELECT doc_id,
          |  CAST(coalesce(list_sum(list_transform(range(0, 8),
          |       j -> CASE WHEN px[CAST(j + 1 AS INT)] > list_sum(px) / 8.0
          |                 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)), 0) AS BIGINT) AS phash,
          |  round(list_sum(px) / 8.0, 4) AS mean_px
          |FROM (SELECT doc_id,
          |        -- empty text decodes as encodePng's single black pixel:
          |        -- all samples 0 on both routes
          |        list_transform(range(0, 8),
          |          j -> CASE WHEN length(text) = 0 THEN 0
          |               ELSE ord(substr(text, CAST((j * length(text)) // 8 + 1 AS INT), 1)) END) AS px
          |      FROM documents) s
          |ORDER BY doc_id""".stripMargin,

      // mm7: the mm5 character-wise phash derivation + caption gate +
      // (phash, caption-md5) exemplar dedup
      "mm7_pair_mining" ->
        """WITH p AS (SELECT doc_id,
          |  CAST(coalesce(list_sum(list_transform(range(0, 8),
          |       j -> CASE WHEN px[CAST(j + 1 AS INT)] > list_sum(px) / 8.0
          |                 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)), 0) AS BIGINT) AS phash
          |FROM (SELECT doc_id,
          |        list_transform(range(0, 8),
          |          j -> CASE WHEN length(text) = 0 THEN 0
          |               ELSE ord(substr(text, CAST((j * length(text)) // 8 + 1 AS INT), 1)) END) AS px
          |      FROM documents) s),
          |cap AS (SELECT doc_id, source,
          |        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
          |        md5(text) AS cap_md5
          |      FROM documents
          |      WHERE len(string_split(text, ' ')) BETWEEN 5 AND 256),
          |pr AS (SELECT c.doc_id, c.source, p.phash, c.n_tokens, c.cap_md5
          |      FROM cap c JOIN p ON p.doc_id = c.doc_id),
          |keep AS (SELECT phash, cap_md5, min(doc_id) AS doc_id
          |      FROM pr GROUP BY phash, cap_md5)
          |SELECT pr.doc_id, pr.source, pr.phash, pr.n_tokens
          |FROM pr JOIN keep k ON k.phash = pr.phash
          |  AND k.cap_md5 = pr.cap_md5 AND k.doc_id = pr.doc_id
          |ORDER BY pr.doc_id""".stripMargin,

      // character-wise re-derivation of the frame-sampled decode: frame f
      // covers bytes [f*16, (f+1)*16); sampled frames are f = 0, 2, 4, ...
      // (char-wise == byte-wise because the corpus is ASCII, as for mm2/mm5)
      "mm3_video_framesample" ->
        """SELECT doc_id, n_frames, n_sampled, sampled_bytes, sampled_sum,
          |       round(sampled_sum / CAST(nullif(sampled_bytes, 0) AS DOUBLE), 4) AS mean_gray
          |FROM (SELECT doc_id,
          |        CAST((length(text) + 15) // 16 AS BIGINT) AS n_frames,
          |        CAST(((length(text) + 15) // 16 + 1) // 2 AS BIGINT) AS n_sampled,
          |        CAST(len(list_filter(range(0, length(text)), i -> (i // 16) % 2 = 0)) AS BIGINT)
          |          AS sampled_bytes,
          |        CAST(coalesce(list_sum(list_transform(
          |               list_filter(range(0, length(text)), i -> (i // 16) % 2 = 0),
          |               i -> ord(substr(text, CAST(i + 1 AS INT), 1)))), 0) AS BIGINT) AS sampled_sum
          |      FROM documents) s
          |ORDER BY doc_id""".stripMargin,

      // character-wise re-derivation of the WAV decode: sample i =
      // least((byte i - 100) * 256, 32767) — PCM clip like the encoder;
      // strict sign changes between consecutive
      "mm4_audio_features" ->
        """SELECT doc_id,
          |  CAST(len(sm) AS BIGINT) AS n_samples,
          |  CAST(coalesce(list_sum(sm), 0) AS BIGINT) AS sum_amp,
          |  CAST(coalesce(list_max(list_transform(sm, x -> abs(x))), 0) AS BIGINT) AS peak,
          |  CAST(len(list_filter(range(2, len(sm) + 1),
          |       i -> (sm[i - 1] < 0 AND sm[i] > 0) OR (sm[i - 1] > 0 AND sm[i] < 0))) AS BIGINT)
          |    AS zero_cross,
          |  round(sqrt(list_sum(list_transform(sm, x -> CAST(x AS DOUBLE) * x)) / nullif(len(sm), 0)), 4)
          |    AS rms
          |FROM (SELECT doc_id,
          |        list_transform(range(1, length(text) + 1),
          |          i -> least((ord(substr(text, CAST(i AS INT), 1)) - 100) * 256, 32767)) AS sm
          |      FROM documents) s
          |ORDER BY doc_id""".stripMargin,

      "dd7_dedup_clusters" -> fullClustersDuckSql,

      // dd14: same ANSWER as dd7 by construction — the merge path
      // (stored corpus assignment + label-graph contraction of the
      // ingest's pairs) must land exactly where direct clustering over
      // the full pair graph lands; ONE shared oracle definition keeps
      // the contract honest
      "dd14_cluster_merge" -> fullClustersDuckSql,

      // the sp8 chain end-to-end: recursive closure over the verified
      // pair list -> per-doc group key (cluster id, else own id) -> sp5's
      // md5 hex-threshold split on the GROUP key -> per-split rollup
      "sp8_leakage_split" ->
        s"""WITH RECURSIVE $duckPairsChain,
           |reach(node, label) AS (
           |  SELECT a, a FROM edges
           |  UNION
           |  SELECT e.a, r.label FROM edges e JOIN reach r ON r.node = e.b),
           |cl AS (SELECT node AS doc_id, min(label) AS cluster_id
           |       FROM reach GROUP BY node),
           |g AS (SELECT d.doc_id, coalesce(cl.cluster_id, d.doc_id) AS grp
           |      FROM documents d LEFT JOIN cl ON cl.doc_id = d.doc_id),
           |s AS (SELECT doc_id, grp,
           |        CASE WHEN h < 204 THEN 'train' WHEN h < 230 THEN 'val'
           |             ELSE 'test' END AS split
           |      FROM (SELECT doc_id, grp,
           |              CAST(('0x' || substring(md5(concat('sp8:',
           |                   CAST(grp AS VARCHAR))), 1, 2)) AS INT) AS h
           |            FROM g))
           |SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
           |       CAST(count(DISTINCT grp) AS BIGINT) AS n_groups,
           |       CAST(sum(CASE WHEN grp <> doc_id THEN 1 ELSE 0 END) AS BIGINT)
           |         AS n_regrouped,
           |       min(doc_id) AS first_doc,
           |       CAST(sum(doc_id) AS BIGINT) AS sum_ids
           |FROM s GROUP BY split ORDER BY split""".stripMargin,

      // five fixed-point power iterations as chained join-agg CTEs — the
      // integer arithmetic (see Graph.pageRank) makes each layer
      // bit-identical to the Spark iteration regardless of join/agg order
      // MATERIALIZED on deg and each rank layer: without the hints DuckDB
      // inlines r_{i-1} into r_i, re-evaluating the whole prefix per
      // iteration — exponential in the iteration count (see
      // duckPairsChain note).
      "gr1_pagerank" -> {
        val scale = Graph.Scale
        val iterCtes = (1 to 5).map { i =>
          s"""r$i AS MATERIALIZED (SELECT d.a AS node,
             |        (3 * $scale) // (20 * (SELECT n FROM nn))
             |        + (17 * CAST(coalesce(c.s, 0) AS BIGINT)) // 20 AS r
             |      FROM deg d LEFT JOIN (
             |        SELECT e.b AS node, CAST(sum(r.r // g.deg) AS BIGINT) AS s
             |        FROM edges e JOIN r${i - 1} r ON r.node = e.a
             |        JOIN deg g ON g.a = e.a
             |        GROUP BY e.b) c ON c.node = d.a)""".stripMargin
        }.mkString(",\n")
        s"""WITH $duckPairsChain,
           |deg AS MATERIALIZED (SELECT a, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY a),
           |nn AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM deg),
           |r0 AS MATERIALIZED (SELECT a AS node, $scale // (SELECT n FROM nn) AS r FROM deg),
           |$iterCtes
           |SELECT d.a AS doc_id, d.deg, r5.r AS rank_p12
           |FROM deg d JOIN r5 ON r5.node = d.a ORDER BY doc_id""".stripMargin
      },

      // four synchronous label-propagation rounds unrolled as chained
      // CTEs: per round, count each node's neighborhood labels (self-loop
      // included) and keep the (count DESC, label ASC) winner — pure
      // integer voting, bit-identical to Graph.labelPropagation.
      // MATERIALIZED per layer for the same inlining reason as gr1.
      "gr2_label_propagation" -> {
        val iterCtes = (1 to 4).map { i =>
          s"""l$i AS MATERIALIZED (SELECT a AS node, label FROM (
             |    SELECT e.a, l.label, count(*) AS n,
             |           row_number() OVER (PARTITION BY e.a
             |             ORDER BY count(*) DESC, l.label) AS rnk
             |    FROM e2 e JOIN l${i - 1} l ON l.node = e.b
             |    GROUP BY e.a, l.label) t
             |  WHERE rnk = 1)""".stripMargin
        }.mkString(",\n")
        s"""WITH $duckPairsChain,
           |nodes AS MATERIALIZED (SELECT DISTINCT a FROM edges),
           |e2 AS MATERIALIZED (SELECT a, b FROM edges
           |      UNION ALL SELECT a, a FROM nodes),
           |l0 AS (SELECT a AS node, a AS label FROM nodes),
           |$iterCtes
           |SELECT node AS doc_id, CAST(label AS BIGINT) AS community
           |FROM l4 ORDER BY doc_id""".stripMargin
      },

      // tok3: vocabulary re-derived from the same prefixes (counts ->
      // top-256 rank -> micro-log probs), then the Viterbi DP replayed
      // as a recursive WINDOW-DP: each iteration advances every sampled
      // doc one character, carrying the last 6 dp (score, n_tokens)
      // states as lists; the candidate argmax key (score*8 + k) is
      // collision-free for k <= 7 and identical to the Scala DP's.
      "tok3_unigram_segment" ->
        """WITH RECURSIVE
          |pre AS (SELECT doc_id, substr(coalesce(text, ''), 1, 64) AS t FROM documents),
          |sub AS (SELECT substr(p.t, CAST(ii.i AS INT), CAST(kk.k AS INT)) AS piece,
          |               kk.k AS k, CAST(count(*) AS BIGINT) AS cnt
          |        FROM pre p,
          |             unnest(range(1, 7)) AS kk(k),
          |             unnest(range(1, greatest(length(p.t) - kk.k + 2, 1))) AS ii(i)
          |        GROUP BY piece, kk.k),
          |chars AS (SELECT piece, cnt FROM sub WHERE k = 1),
          |longs AS (SELECT piece, cnt FROM (
          |          SELECT piece, cnt, row_number() OVER (ORDER BY cnt DESC, piece) AS rnk
          |          FROM sub WHERE k >= 2) r WHERE rnk <= 256),
          |voc0 AS (SELECT piece, cnt FROM chars UNION ALL SELECT piece, cnt FROM longs),
          |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS tot FROM voc0),
          |voc AS (SELECT piece,
          |          CAST(floor(ln(cnt / (SELECT tot FROM tot)) * 1000000) AS BIGINT) AS lp
          |        FROM voc0),
          |seg AS (
          |  SELECT doc_id, 0 AS pos, [CAST(0 AS BIGINT)] AS ws, [CAST(0 AS BIGINT)] AS wt,
          |         t AS txt, length(t) AS n
          |  FROM pre WHERE doc_id % 10 = 0
          |  UNION ALL
          |  SELECT doc_id, pos + 1,
          |         list_prepend(ns, ws[1:5]), list_prepend(nt, wt[1:5]), txt, n
          |  FROM (
          |    SELECT s.doc_id, s.pos, s.txt, s.n, s.ws, s.wt,
          |           arg_max(s.ws[CAST(t.k AS INT)] + v.lp,
          |                   (s.ws[CAST(t.k AS INT)] + v.lp) * 8 + t.k) AS ns,
          |           arg_max(s.wt[CAST(t.k AS INT)] + 1,
          |                   (s.ws[CAST(t.k AS INT)] + v.lp) * 8 + t.k) AS nt
          |    FROM seg s
          |    JOIN unnest(range(1, 7)) AS t(k) ON t.k <= s.pos + 1
          |    JOIN voc v ON v.piece = substr(s.txt, CAST(s.pos + 2 - t.k AS INT), CAST(t.k AS INT))
          |    WHERE s.pos < s.n
          |    GROUP BY s.doc_id, s.pos, s.txt, s.n, s.ws, s.wt) g)
          |SELECT doc_id, wt[1] AS n_tokens, ws[1] AS score
          |FROM seg WHERE pos = n ORDER BY doc_id""".stripMargin,

      // emb3: the emb1 integer-centroid derivation per snapshot slice +
      // exact integer dots for the centroid cosine + membership-flag
      // churn counts
      "emb3_drift_report" ->
        """WITH b AS (SELECT vec_id, label,
          |        list_transform(embedding,
          |          x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS vu
          |      FROM embeddings),
          |e AS (SELECT vec_id, label, i - 1 AS pos, vu[i] AS u
          |      FROM b, unnest(range(1, len(vu) + 1)) AS t(i)),
          |c1 AS (SELECT label, pos, sum(u) // count(*) AS c1
          |       FROM e WHERE vec_id % 17 <> 3 GROUP BY label, pos),
          |c2 AS (SELECT label, pos, sum(u) // count(*) AS c2
          |       FROM e WHERE vec_id % 19 <> 7 GROUP BY label, pos),
          |cs AS (SELECT c1.label,
          |        round(CAST(sum(c1.c1 * c2.c2) AS BIGINT) /
          |          (sqrt(CAST(sum(c1.c1 * c1.c1) AS DOUBLE)) *
          |           sqrt(CAST(sum(c2.c2 * c2.c2) AS DOUBLE))), 6) AS centroid_cos
          |      FROM c1 JOIN c2 ON c2.label = c1.label AND c2.pos = c1.pos
          |      GROUP BY c1.label),
          |mem AS (SELECT label,
          |        CAST(count(CASE WHEN vec_id % 17 <> 3 THEN 1 END) AS BIGINT) AS n1,
          |        CAST(count(CASE WHEN vec_id % 19 <> 7 THEN 1 END) AS BIGINT) AS n2,
          |        CAST(count(CASE WHEN vec_id % 19 <> 7 AND vec_id % 17 = 3 THEN 1 END) AS BIGINT) AS n_added,
          |        CAST(count(CASE WHEN vec_id % 17 <> 3 AND vec_id % 19 = 7 THEN 1 END) AS BIGINT) AS n_removed
          |      FROM b GROUP BY label)
          |SELECT m.label, m.n1, m.n2, m.n_added, m.n_removed, cs.centroid_cos
          |FROM mem m LEFT JOIN cs ON cs.label = m.label
          |ORDER BY m.label""".stripMargin,

      // ap3: identical binning + integer rank resolution in DuckDB SQL
      "ap3_histogram_quantiles" ->
        """WITH h AS (SELECT event_type,
          |        CAST(floor(value * 10) AS BIGINT) AS bin,
          |        CAST(count(*) AS BIGINT) AS c
          |      FROM events GROUP BY event_type, bin),
          |cm AS (SELECT event_type, bin, c,
          |        CAST(sum(c) OVER (PARTITION BY event_type ORDER BY bin
          |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
          |        CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS n
          |      FROM h)
          |SELECT event_type, max(n) AS n,
          |       min(CASE WHEN cum >= (50 * n + 99) // 100 THEN bin END) AS p50_bin,
          |       min(CASE WHEN cum >= (90 * n + 99) // 100 THEN bin END) AS p90_bin,
          |       min(CASE WHEN cum >= (99 * n + 99) // 100 THEN bin END) AS p99_bin
          |FROM cm GROUP BY event_type ORDER BY event_type""".stripMargin,

      // gr3: ordered-triple triangle enumeration + per-corner counts +
      // the same per-mille integer coefficient, over the shared pair
      // chain (pairs already carries da < db)
      "gr3_triangle_stats" ->
        s"""WITH $duckPairsChain,
           |e AS MATERIALIZED (SELECT DISTINCT da AS a, db AS b FROM pairs),
           |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
           |        SELECT a AS node FROM e UNION ALL SELECT b FROM e) u
           |        GROUP BY node),
           |tri AS (SELECT e1.a AS ta, e1.b AS tb, e2.b AS tc
           |        FROM e e1 JOIN e e2 ON e2.a = e1.b
           |        JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
           |pn AS (SELECT node, CAST(count(*) AS BIGINT) AS triangles FROM (
           |        SELECT ta AS node FROM tri
           |        UNION ALL SELECT tb FROM tri
           |        UNION ALL SELECT tc FROM tri) u GROUP BY node)
           |SELECT d.node AS doc_id, d.deg,
           |       coalesce(p.triangles, 0) AS triangles,
           |       CAST(CASE WHEN d.deg >= 2
           |            THEN 2000 * coalesce(p.triangles, 0) // (d.deg * (d.deg - 1))
           |            ELSE 0 END AS BIGINT) AS clustering_pm
           |FROM deg d LEFT JOIN pn p ON p.node = d.node
           |ORDER BY doc_id""".stripMargin,

      // sp9: recursive closure -> cluster sizes -> the same integer draw
      // test (draw * size < 256) Sampling.softDedup runs
      "sp9_soft_dedup" ->
        s"""WITH RECURSIVE $duckPairsChain,
           |reach(node, label) AS (
           |  SELECT a, a FROM edges
           |  UNION
           |  SELECT e.a, r.label FROM edges e JOIN reach r ON r.node = e.b),
           |cl AS (SELECT node AS doc_id, min(label) AS cluster_id
           |       FROM reach GROUP BY node),
           |sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n
           |       FROM cl GROUP BY cluster_id),
           |j AS (SELECT d.doc_id,
           |        CAST(coalesce(cl.cluster_id, d.doc_id) AS VARCHAR) AS cluster_id,
           |        coalesce(sz.n, 1) AS cluster_size,
           |        CAST(('0x' || substring(md5(concat('sp9:',
           |             CAST(d.doc_id AS VARCHAR))), 1, 2)) AS INT) AS h
           |      FROM documents d
           |      LEFT JOIN cl ON cl.doc_id = d.doc_id
           |      LEFT JOIN sz ON sz.cluster_id = cl.cluster_id)
           |SELECT doc_id, cluster_id, CAST(cluster_size AS BIGINT) AS cluster_size,
           |       h * cluster_size < 256 AS kept,
           |       CAST(CASE WHEN h * cluster_size < 256 THEN cluster_size
           |            ELSE 0 END AS BIGINT) AS weight
           |FROM j ORDER BY doc_id""".stripMargin,

      // mm8: the mm5 character-wise phash derivation widened to 48
      // sampled pixels, then the same banding + exact popcount hamming
      // verify (xor(), not ^ — DuckDB's ^ is POWER)
      "mm8_image_neardup" ->
        """WITH p AS (SELECT doc_id,
          |  CAST(coalesce(list_sum(list_transform(range(0, 48),
          |       j -> CASE WHEN px[CAST(j + 1 AS INT)] > list_sum(px) / 48.0
          |                 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)), 0) AS BIGINT) AS phash
          |FROM (SELECT doc_id,
          |        list_transform(range(0, 48),
          |          j -> CASE WHEN length(text) = 0 THEN 0
          |               ELSE ord(substr(text, CAST((j * length(text)) // 48 + 1 AS INT), 1)) END) AS px
          |      FROM documents) s),
          |bands AS (SELECT doc_id, phash, band,
          |        (phash >> CAST(band * 8 AS INT)) & 255 AS bv
          |      FROM p, unnest(range(0, 6)) AS t(band)),
          |cand AS (SELECT DISTINCT a.doc_id AS da, a.phash AS pa,
          |               b.doc_id AS db, b.phash AS pb
          |         FROM bands a JOIN bands b
          |           ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id)
          |SELECT da AS doc_a, db AS doc_b,
          |       CAST(bit_count(xor(pa, pb)) AS BIGINT) AS hamming
          |FROM cand WHERE bit_count(xor(pa, pb)) <= 5
          |ORDER BY doc_a, doc_b""".stripMargin,

      // mm9: mm8's derivation + banding restricted to pairs with >= 1
      // batch (doc_id % 5 = 2) member — bucket sharing is symmetric and
      // split-independent, so the stored-index ingest finds exactly these
      "mm9_image_ingest" -> phashIngestDuckSql,

      // mm10: same ANSWER as mm9 by construction — the probe runs
      // against a generation built by appendToPhashIndex (base corpus +
      // batch1 folded in, decoding only batch1) instead of a one-shot
      // index; band rows are row-local so append-built ≡ one-shot
      // (LibraryApiSpec pins it bit-equal). ONE shared oracle definition
      // keeps the contract honest.
      "mm10_image_generation_merge" -> phashIngestDuckSql,

      "cp1_curation" ->
        """WITH gated AS (
          |  SELECT doc_id, text FROM documents
          |  WHERE lang = 'en'
          |    AND len(string_split(text, ' ')) >= 5
          |    AND round(CAST(len(list_filter(string_split(lower(text), ' '),
          |          t -> t IN ('the', 'a', 'and', 'of', 'to', 'in', 'is', 'it'))) AS DOUBLE)
          |          / len(string_split(text, ' ')), 4) >= 0.05),
          |dedup AS (SELECT doc_id FROM (
          |    SELECT doc_id, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
          |    FROM gated) d WHERE rn = 1),
          |sampled AS (SELECT doc_id FROM dedup
          |  WHERE substring(md5(concat('cp1:', CAST(doc_id AS VARCHAR))), 1, 2) < '80'),
          |sharded AS (SELECT doc_id,
          |  (16 * (position(substring(md5(concat('cp1s:', CAST(doc_id AS VARCHAR))), 1, 1)
          |         IN '0123456789abcdef') - 1)
          |   + (position(substring(md5(concat('cp1s:', CAST(doc_id AS VARCHAR))), 2, 1)
          |         IN '0123456789abcdef') - 1)) % 4 AS shard
          |  FROM sampled)
          |SELECT CAST(shard AS BIGINT) AS shard, CAST(count(*) AS BIGINT) AS n_docs,
          |       min(doc_id) AS first_doc, CAST(sum(doc_id) AS BIGINT) AS sum_ids
          |FROM sharded GROUP BY shard ORDER BY shard""".stripMargin,

      "rj1_range_join" ->
        """WITH clicks AS (SELECT user_id, event_id AS click_id,
          |                       CAST(ts AS TIMESTAMP) AS ts
          |                FROM events WHERE event_type = 'click'),
          |purch AS (SELECT user_id, event_id AS purchase_id,
          |                 CAST(ts AS TIMESTAMP) AS ts
          |          FROM events WHERE event_type = 'purchase')
          |SELECT p.purchase_id, c.click_id
          |FROM purch p JOIN clicks c ON p.user_id = c.user_id
          |  AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
          |ORDER BY purchase_id, click_id""".stripMargin,

      "dd6_simhash_pairs" ->
        """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
          |th AS (SELECT doc_id, token, substring(md5(token), 1, 16) AS h8 FROM tok),
          |bits AS (SELECT doc_id, b,
          |         sum(CASE WHEN ((CAST(position(substring(h8, (b // 4) + 1, 1)
          |                        IN '0123456789abcdef') AS INT) - 1)
          |                        >> (3 - (b % 4))) & 1 = 1 THEN 1 ELSE -1 END) AS s
          |         FROM th, unnest(range(0, 64)) AS tb(b)
          |         GROUP BY doc_id, b),
          |sim AS (SELECT doc_id,
          |        CAST(sum(CASE WHEN s <= 0 THEN CAST(0 AS BIGINT)
          |                 WHEN b = 63 THEN CAST(-9223372036854775808 AS BIGINT)
          |                 ELSE (CAST(1 AS BIGINT) << CAST(b AS INT)) END)
          |             AS BIGINT) AS simhash
          |        FROM bits GROUP BY doc_id)
          |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
          |       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
          |FROM sim a JOIN sim b ON a.doc_id < b.doc_id
          |WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
          |ORDER BY doc_a, doc_b""".stripMargin,

      // dd12: dd6's brute-force hamming join (the 2-of-8 banding is
      // exhaustive at hamming <= 6) restricted to pairs with >= 1 batch
      // (doc_id % 10 = 0) member — exactly what the stored-index ingest
      // computes
      "dd12_incremental_simhash" ->
        """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
          |th AS (SELECT doc_id, token, substring(md5(token), 1, 16) AS h8 FROM tok),
          |bits AS (SELECT doc_id, b,
          |         sum(CASE WHEN ((CAST(position(substring(h8, (b // 4) + 1, 1)
          |                        IN '0123456789abcdef') AS INT) - 1)
          |                        >> (3 - (b % 4))) & 1 = 1 THEN 1 ELSE -1 END) AS s
          |         FROM th, unnest(range(0, 64)) AS tb(b)
          |         GROUP BY doc_id, b),
          |sim AS (SELECT doc_id,
          |        CAST(sum(CASE WHEN s <= 0 THEN CAST(0 AS BIGINT)
          |                 WHEN b = 63 THEN CAST(-9223372036854775808 AS BIGINT)
          |                 ELSE (CAST(1 AS BIGINT) << CAST(b AS INT)) END)
          |             AS BIGINT) AS simhash
          |        FROM bits GROUP BY doc_id)
          |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
          |       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
          |FROM sim a JOIN sim b ON a.doc_id < b.doc_id
          |WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
          |  AND (a.doc_id % 10 = 0 OR b.doc_id % 10 = 0)
          |ORDER BY doc_a, doc_b""".stripMargin,

      // char-wise re-derivation of the 16-bin histogram (the mm2 oracle's
      // precondition: ASCII corpus, so bytes == chars == pixels), then the
      // identical cosine top-5
      "mm6_image_retrieval" ->
        """WITH h0 AS (SELECT doc_id, list_transform(range(0, 16), b ->
          |        round(len(list_filter(range(1, length(text) + 1),
          |              i -> ord(substr(text, i, 1)) // 16 = b))
          |              / CAST(length(text) AS DOUBLE), 6)) AS h
          |  FROM documents),
          |v AS (SELECT doc_id, h,
          |        sqrt(list_sum(list_transform(range(1, 17), i -> h[i] * h[i]))) AS nrm
          |      FROM h0),
          |q AS (SELECT doc_id AS qid, h AS qh, nrm AS qn FROM v WHERE doc_id < 5),
          |scored AS (SELECT q.qid, v.doc_id AS img_id,
          |    round(list_sum(list_transform(range(1, 17), i -> q.qh[i] * v.h[i]))
          |          / (q.qn * v.nrm), 6) AS cos
          |  FROM q CROSS JOIN v WHERE v.doc_id <> q.qid)
          |SELECT qid, img_id, cos FROM (
          |  SELECT qid, img_id, cos,
          |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, img_id) AS rnk
          |  FROM scored) t
          |WHERE rnk <= 5 ORDER BY qid, cos DESC, img_id""".stripMargin,

      "mm2_multimodal_features" ->
        """SELECT doc_id,
          |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
          |  round(len(list_filter(range(1, length(text) + 1),
          |        i -> ord(substr(text, i, 1)) // 16 = 2))
          |        / CAST(length(text) AS DOUBLE), 6) AS bin2,
          |  round(len(list_filter(range(1, length(text) + 1),
          |        i -> ord(substr(text, i, 1)) // 16 = 6))
          |        / CAST(length(text) AS DOUBLE), 6) AS bin6,
          |  round(len(list_filter(range(1, length(text) + 1),
          |        i -> ord(substr(text, i, 1)) // 16 = 7))
          |        / CAST(length(text) AS DOUBLE), 6) AS bin7,
          |  CAST(CASE WHEN n_chars % 16 = 0 OR length(text) = 0 THEN 0
          |            ELSE n_chars % 16 END AS BIGINT) AS n_frames
          |FROM documents ORDER BY doc_id""".stripMargin)

  /** Spark-dialect SQL text of a query (for specs comparing the SQL form
    * against the library API even where `overrides` supersedes it). */
  private[graft] def sparkSqlFor(name: String): String =
    defs.find(_.name == name).get.sparkSql
}
