package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One recorded interval: a call into one layer on behalf of one op. */
final case class Span(id: Int, parent: Int, op: Int, name: String, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder. Spans are kept in memory while the run
  * measures and written out once it ends. A disabled tracer runs the body
  * and records nothing, so untraced runs carry no spans. */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger(0)
  private val current = new ThreadLocal[Int] { override def initialValue(): Int = 0 }

  def span[T](op: Int, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = current.get()
      current.set(id)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, op, name, t0, System.nanoTime()))
        current.set(parent)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)

  /** Self time per span name, in ns: a span's duration minus the part of
    * it that its child spans cover. */
  def selfNs: Map[String, Long] = {
    val ss = all
    val childNs = ss.filter(_.parent != 0).groupBy(_.parent)
      .map { case (p, cs) => p -> cs.map(_.durNs).sum }
    ss.groupBy(_.name).map { case (n, xs) =>
      n -> xs.map(s => s.durNs - childNs.getOrElse(s.id, 0L)).sum
    }
  }

  def json: Seq[Map[String, Any]] = all.map(s => Map(
    "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
    "start_ns" -> s.startNs, "end_ns" -> s.endNs))
}

/** Spark-side counters for the traced run: jobs, tasks, task CPU, GC,
  * shuffle and spill from a listener, and codegen compile work from
  * Spark's own codegen counters. Both count everything except the work
  * done inside `detached`: the listener is off the bus there, and the
  * codegen counters, global to the JVM, have that section's share taken
  * out. */
final class SparkCounters extends SparkListener {
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val taskCpuNs = new AtomicLong
  val gcMs = new AtomicLong
  val shuffleBytes = new AtomicLong
  val spillBytes = new AtomicLong
  private val detachedCodegenNs = new AtomicLong
  private val detachedCodegenClasses = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.incrementAndGet(): Unit

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) {
      val m = e.taskMetrics
      tasks.incrementAndGet()
      taskCpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled): Unit
    }

  /** Runs `body` with this listener taken off the bus: the untraced
    * reference against which tracing overhead is measured. */
  def detached[T](sc: org.apache.spark.SparkContext)(body: => T): T = {
    sc.removeSparkListener(this)
    val (ns0, n0) = codegen
    try body
    finally {
      val (ns1, n1) = codegen
      detachedCodegenNs.addAndGet(ns1 - ns0)
      detachedCodegenClasses.addAndGet(n1 - n0)
      sc.addSparkListener(this)
    }
  }

  /** Codegen totals so far in this JVM: (compile ns, classes compiled). */
  def codegen: (Long, Long) = (
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime,
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount)

  def snapshot: Map[String, Long] = {
    val (ns, n) = codegen
    val (cNs, cN) = (ns - detachedCodegenNs.get, n - detachedCodegenClasses.get)
    Map("jobs" -> jobs.get, "tasks" -> tasks.get, "task_cpu_ns" -> taskCpuNs.get,
      "gc_ms" -> gcMs.get, "shuffle_bytes" -> shuffleBytes.get,
      "spill_bytes" -> spillBytes.get, "codegen_ns" -> cNs, "codegen_classes" -> cN)
  }
}

object Stats {
  /** Linear-interpolated quantile (q in [0,1]) of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.size == 1) s.head
    else {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Samples a percentile `q` needs so that at least `beyond` samples lie
    * above it: a p75 needs 40 samples, a p90 100. */
  def samplesFor(q: Double, beyond: Int = 10): Int =
    math.ceil(beyond / (1.0 - q) - 1e-9).toInt
}
