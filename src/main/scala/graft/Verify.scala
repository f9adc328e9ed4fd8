package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** Canonical cell rendering for the diagnostic dump: NULL marker, shortest
    * round-trip form for floats (Java's Double.toString), ISO timestamps via
    * the session's UTC zone, everything else toString. Arrays/structs render
    * via Row.toString — stable for our result shapes. */
  private def cell(v: Any): String = v match {
    case null => "NULL"
    case d: java.lang.Double => d.toString
    case f: java.lang.Float => f.toString
    // java.sql.Timestamp.toString renders in the JVM DEFAULT zone, which
    // nothing pins to UTC — render the instant itself so the dump is
    // comparable against the UTC values the driver actually hashes
    case t: java.sql.Timestamp => t.toInstant.toString
    case b: Array[Byte] => java.util.Base64.getEncoder.encodeToString(b)
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case other => other.toString
  }

  /** Dump the written result parquet as schema line + up to `cap` rows of
    * tab-joined canonical cells, in file order (= compare hash order). */
  private def dumpRows(spark: SparkSession, parquetDir: String,
      outFile: String, cap: Int = 1000): Unit = {
    val df = spark.read.parquet(parquetDir)
    val sb = new StringBuilder
    sb.append(df.schema.map(f => s"${f.name}:${f.dataType.simpleString}")
      .mkString("\t")).append('\n')
    var n = 0L
    val it = df.toLocalIterator()
    while (it.hasNext) {
      val r = it.next()
      if (n < cap)
        sb.append((0 until r.length).map(i => cell(r.get(i))).mkString("\t"))
          .append('\n')
      n += 1
    }
    if (n > cap) sb.append(s"... ${n - cap} more rows (total $n)\n")
    Files.writeString(Paths.get(outFile), sb.toString): Unit
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd arg: comma-separated query-name filter (local iteration;
    // the driver always passes two args and gets the full dump)
    val only: Set[String] =
      if (args.length > 2) args(2).split(",").map(_.trim).toSet else Set.empty
    val unknown = only.diff(SparkEntry.queries.keySet)
    require(unknown.isEmpty,
      s"unknown query name(s): ${unknown.mkString(", ")} — a typo here would " +
        "otherwise produce an empty dump that exits 0")
    val spark = GraftSession()
    new java.io.File(outDir).mkdirs()
    // Clear this sf's stored-ANN artifacts up front: the ss3/ss5/ss6 parity
    // oracles must only ever score index state written by THIS run —
    // artifacts surviving in /tmp from a previous build would otherwise
    // validate (or spuriously fail against) an outdated model. FULL runs
    // only: a subset run (local iteration) that cleared them without
    // re-running the artifact-writing queries would break the compare of
    // every OTHER query's stale-but-valid dump for no reason.
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
      f.delete(): Unit
    }
    if (only.isEmpty)
      rm(new java.io.File(graft.pipeline.PipelineQueries.annArtifactDir(sfDir)))
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      // names the query every Spark warning printed below belongs to
      System.err.println(s"[verify] $name")
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        // Value-level evidence next to the parquet: a deterministic
        // plain-text dump (row order as written, canonical rendering,
        // capped) so a hash-red driver row carries the exact differing
        // cells instead of only a boolean. Read BACK the written file —
        // the dump must reflect exactly the bytes the compare hashes,
        // and re-running fn() would re-execute the query (q9 spins a
        // relay server per call). MUST be underscore-prefixed: pyarrow's
        // parquet.read_table(dir) treats every non-"_"/"."-prefixed file
        // in the directory as a parquet fragment, so a bare rows.txt made
        // the driver reject all 126 result dirs in round 9.
        dumpRows(spark, s"$outDir/$name", s"$outDir/$name/_rows.txt")
      } catch { case e: Throwable =>
        failed += name
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSqlFor(sfDir)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    // exit nonzero AFTER the full dump so partial results + the oracle json
    // still land for the driver — but the process visibly fails (a silent
    // exit-0 with missing result dirs zeroed two correctness rounds).
    if (failed.nonEmpty) {
      System.err.println(
        s"[verify] ${failed.size} quer${if (failed.size == 1) "y" else "ies"} " +
          s"failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
