package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Maintenance for delta-appended STORED indexes (band index, shingle-set
  * sidecar, simhash/phash indexes): the append-files generation merge
  * (`bandIndexDeltaFor` et al., written `mode("append")`) costs IO
  * proportional to the BATCH — the right per-ingest trade — but each
  * append leaves one more file-set behind, and after hundreds of ingests
  * every probe pays small-file open/footer overhead. The union-compaction
  * builders (`appendToBandIndex` et al.) are the rewrite mechanism; this
  * object supplies the POLICY: measure a directory's health, decide when
  * the rewrite is due, and perform it as an in-place generation swap
  * whose row set is bit-identical (spec-pinned) to the appended state.
  *
  * 100 TB shape: `health` is a namenode/object-store LISTING, not a data
  * scan; `compactIndex` is one read→write of the index (corpus-sized by
  * definition — which is WHY it needs a policy instead of running per
  * ingest). The local/HDFS swap is delete+rename; on an object store a
  * production deployment flips a manifest/generation pointer instead —
  * the read/rewrite plan is identical, only the final pointer swap
  * differs.
  */
object IndexMaintenance {

  /** Data-file count and byte size of a stored index directory (listing
    * only — `_SUCCESS`/hidden files excluded, no data read). */
  final case class IndexHealth(dataFiles: Long, bytes: Long)

  /** Default file-count trigger, set AT the measured knee
    * (SCALE.md round-15 "Compaction policy measured", sf1 band
    * index, local SSD): a scan-bound probe is FLAT to ~512 files
    * (128→0.74 s, 512→0.80 s) and degrades linearly past it (2,048→1.76 s, 8,192→4.30 s) — per-file open and
    * footer cost, which an object store only makes worse (each open is
    * a round-trip GET). Each delta append leaves ~write-parallelism
    * files, so 512 ≈ one compaction every ~16 ingests at 32-way — rare
    * enough that the corpus-sized rewrite never erodes the
    * batch-proportional merge it pays for (a threshold at the old 64
    * would have tripped every second ingest for a probe cost the curve
    * shows is still noise there). */
  val DefaultMaxFiles: Int = 512

  /** Default compaction file target — parquet's comfortable row-group
    * packing; also the upper bound a single probe task pays to open. */
  val DefaultTargetFileBytes: Long = 128L << 20

  def health(spark: SparkSession, path: String): IndexHealth = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val rootUri = fs.makeQualified(root).toUri
    // a path is live data only if NO component under the root is hidden —
    // Spark's readers skip whole '_'/'.'-prefixed DIRECTORIES (a crashed
    // append's _temporary attempt files must not count as probe-visible
    // data, or the trigger and the probe would disagree)
    def live(p: Path): Boolean = {
      val rel = rootUri.relativize(fs.makeQualified(p).toUri).getPath
      rel.split('/').forall(seg =>
        seg.nonEmpty && !seg.startsWith("_") && !seg.startsWith("."))
    }
    val it = fs.listFiles(root, true)
    var files = 0L
    var bytes = 0L
    while (it.hasNext) {
      val f = it.next()
      if (live(f.getPath)) {
        files += 1
        bytes += f.getLen
      }
    }
    IndexHealth(files, bytes)
  }

  /** The trigger a long-lived rolling pipeline polls after each delta
    * append: compaction is due when the accumulated file count exceeds
    * `maxFiles`. File count — not delta fraction — is the right signal
    * for probe latency: every probe opens every live file exactly once
    * regardless of how the rows are distributed among them. */
  def shouldCompact(
      spark: SparkSession, path: String,
      maxFiles: Int = DefaultMaxFiles): Boolean =
    health(spark, path).dataFiles > maxFiles

  /** Layout for hash-keyed indexes (band/simhash/phash): plain
    * repartition to the byte-derived file count. */
  val hashLayout: (DataFrame, Int) => DataFrame = (df, n) => df.repartition(n)

  /** Layout for the range-laid shingle-set sidecar: compaction must
    * RESTORE the by-id range clustering (`Dedup.shingleSetStore`'s
    * contract) or the In-filter point lookups stop pruning. */
  def rangeByIdLayout(idCol: String): (DataFrame, Int) => DataFrame =
    (df, n) => df.repartitionByRange(n, col(idCol)).sortWithinPartitions(col(idCol))

  /** Rewrite a delta-appended index directory as ONE compacted generation
    * and swap it in place. Row content (including scheme-stamp columns
    * and their schema metadata, which parquet round-trips) is identical
    * to the appended state — only the file layout changes, so every
    * probe and stamp gate behaves exactly as before at lower open cost.
    * The swap stages the old generation aside before renaming the new
    * one in, so a failure mid-swap leaves a recoverable copy rather
    * than a half-deleted index. Returns the post-compaction health. */
  def compactIndex(
      spark: SparkSession, path: String,
      layout: (DataFrame, Int) => DataFrame = hashLayout,
      targetFileBytes: Long = DefaultTargetFileBytes): IndexHealth = {
    val before = health(spark, path)
    val n = math.max(1L, (before.bytes + targetFileBytes - 1) / targetFileBytes).toInt
    val base = path.stripSuffix("/")
    val tmp = new Path(base + ".__compact_tmp")
    val old = new Path(base + ".__compact_old")
    val p = new Path(base)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(tmp)) fs.delete(tmp, true)
    if (fs.exists(old)) fs.delete(old, true)
    layout(spark.read.parquet(path), n).write.parquet(tmp.toString)
    require(fs.rename(p, old),
      s"compaction could not stage the old generation of $path aside")
    require(fs.rename(tmp, p),
      s"compaction wrote but could not swap in the new generation of $path — " +
        s"the previous generation is intact at $old")
    fs.delete(old, true)
    // an IN-PLACE rewrite under a long-lived session poisons every
    // reader whose plan was built (or cached — Spark dedups cache
    // entries by plan, so even a NEW reader of the same path resolves
    // to the stale entry) against the pre-swap file listing:
    // FAILED_READ_FILE on the deleted generation. Invalidate the
    // path's cached data and file listings as part of the swap —
    // found by GenerationSwapSpec's compact-inside-the-swap-window
    // phase, not hypothetical.
    spark.catalog.refreshByPath(base)
    health(spark, path)
  }
}
