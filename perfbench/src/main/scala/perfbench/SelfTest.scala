package perfbench

/** The harness's own checks, run by `perfbench/selftest.py`:
  *  - the same seed gives the identical op sequence and texts, and
  *    another seed does not;
  *  - the tail percentile has at least ten samples beyond it at the
  *    sample count the runs collect;
  *  - the declared per-layer metric names.
  * Prints the per-layer names (one per line, after `LAYERS`) and exits
  * non-zero on a failed check. */
object SelfTest {
  private def check(ok: Boolean, what: String): Unit =
    if (!ok) { System.err.println(s"FAILED: $what"); sys.exit(1) }

  private def ops(seed: Long): Seq[String] =
    Seq(0, 1).flatMap(c => Ops.syncStream(seed, c).take(100).map(_.key)) ++
      Ops.syncCold(seed).map(_.key) ++ Ops.asyncOps(seed).map(_.key) ++
      Ops.pipelineOrder(seed).map(_._2)

  def main(args: Array[String]): Unit = {
    check(ops(7) == ops(7), "same seed, same op sequence")
    check(ops(7) != ops(8), "another seed, another op sequence")
    check(Ops.syncPool(7).size == Ops.SyncPoolSize, "sync pool size")
    check(Ops.syncPool(7).map(_._2).distinct.size == Ops.SyncPoolSize, "distinct sync texts")
    // the Zipf mix is carried by every 40-op window, whatever the seed
    def mix(seed: Long, from: Int): Map[String, Int] =
      Ops.syncStream(seed, 0).slice(from, from + 40).toSeq.groupBy(_.template)
        .map { case (t, v) => t -> v.size }
    val ref = mix(7, 0)
    check(ref.size == 5, s"every shape is sent: $ref")
    for (seed <- Seq(7L, 8L, 9L); from <- Seq(0, 10, 40); t <- ref.keys)
      check(math.abs(mix(seed, from).getOrElse(t, 0) - ref(t)) <= 2,
        s"shape mix of seed $seed from op $from: ${mix(seed, from)} vs $ref")
    check(Ops.pipelineOrder(7).toSet == Ops.PipelineOps.toSet, "pipeline order is a permutation")

    val n = Main.TailSamples
    check(n == 40, s"p75 needs 40 samples, got $n")
    val r = new scala.util.Random(1)
    for (size <- Seq(n, n + 1, 3 * n)) {
      val xs = Seq.fill(size)(r.nextDouble())
      val beyond = xs.count(_ > Stats.quantile(xs, Main.Tail))
      check(beyond >= 10, s"$beyond samples beyond p75 of $size")
    }
    check(Stats.samplesFor(0.9) == 100 && Stats.samplesFor(0.5) == 20, "samples for p90 and p50")
    check(RelayRun.WindowOps >= n, "a relay window collects the tail's samples")
    check(Ops.asyncOps(7).nonEmpty && Ops.asyncOps(7).forall(_.template == "star"),
      "the traced async ops are the pool's star texts")

    println("LAYERS")
    Main.LayerMetrics.foreach(println)
    println("PIPELINE")
    Ops.PipelineOps.foreach { case (f, o) => println(s"$f $o") }
  }
}
