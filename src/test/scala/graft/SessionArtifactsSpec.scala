package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.lit
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** The per-session artifact registry's one rule — a session holds the
  * artifacts of one data dir — and its one lock. Each test runs in its
  * own `newSession()`, so the suite's shared session keeps its
  * artifacts. */
class SessionArtifactsSpec extends AnyFunSuite {

  lazy val spark = TestSessions.spark

  test("a dir switch unpersists the old dir's frames and drops its values; returning rebuilds") {
    val s = spark.newSession()
    var frames = 0
    var values = 0
    // the dir is a column, so two dirs' frames never share a cache entry
    def frame(dir: String) = SessionArtifacts.persisted(s, dir, "spec:frame") {
      frames += 1
      s.range(10).toDF("n").withColumn("spec_dir", lit(s"registry-spec:$dir"))
    }
    def value(dir: String) = SessionArtifacts(s, dir, "spec:value") {
      values += 1
      new Object
    }
    val a1 = frame("dirA")
    val v1 = value("dirA")
    assert(a1.storageLevel == StorageLevel.MEMORY_AND_DISK)
    assert(a1.count() == 10)
    assert(frame("dirA") eq a1)
    assert(value("dirA") eq v1)
    assert(frames == 1 && values == 1)

    val b = frame("dirB")
    assert(a1.storageLevel == StorageLevel.NONE,
      "the first request for another dir must unpersist the old dir's frame")
    assert(b.storageLevel == StorageLevel.MEMORY_AND_DISK)
    assert(frames == 2)

    val a2 = frame("dirA")
    val v2 = value("dirA")
    assert(frames == 3 && values == 2, "returning to dir A rebuilds both")
    assert(!(a2 eq a1))
    assert(!(v2 eq v1))
    assert(a2.storageLevel == StorageLevel.MEMORY_AND_DISK)
    assert(b.storageLevel == StorageLevel.NONE)
  }

  test("a nested build (clusters over pairs) completes under the one lock") {
    val s = spark.newSession()
    var inner = 0
    val outer = SessionArtifacts(s, "dirN", "spec:outer") {
      SessionArtifacts(s, "dirN", "spec:inner") { inner += 1; "inner" } + "+outer"
    }
    assert(outer == "inner+outer")
    assert(SessionArtifacts(s, "dirN", "spec:inner") { inner += 1; "rebuilt" } == "inner")
    assert(inner == 1)
    // cq1 serves from the dd7 clusters, whose build requests the pair list
    val reps = graft.pipeline.PipelineQueries.queries("cq1_cluster_reps")(
      s, TestSessions.sfDir)
    assert(reps.count() > 0)
  }

  test("two threads racing a first call build the artifact once") {
    val s = spark.newSession()
    val builds = new AtomicInteger
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val calls = (1 to 2).map(_ => pool.submit(new Callable[AnyRef] {
        def call(): AnyRef = {
          start.await()
          SessionArtifacts(s, "dirR", "spec:race") {
            builds.incrementAndGet()
            Thread.sleep(200)
            new Object
          }
        }
      }))
      start.countDown()
      val got = calls.map(_.get(60, TimeUnit.SECONDS))
      assert(builds.get == 1)
      assert(got(0) eq got(1))
    } finally pool.shutdownNow(): Unit
  }

  test("no src/main file but SessionArtifacts declares a map keyed on SparkSession") {
    // a map type whose key (or key tuple) starts with SparkSession, across
    // line breaks: `TrieMap\n .empty[(SparkSession, String), ...]`
    val keyedOnSession =
      """\w*Map\s*(?:\.\s*empty\s*)?\[\s*\(?\s*(?:org\.apache\.spark\.sql\.)?SparkSession\b""".r
    val sources: Seq[Path] = {
      val walk = Files.walk(Paths.get("src/main"))
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    assert(sources.size > 50, s"expected the src/main tree, found ${sources.size} files")
    val declaring = sources
      .filter(p => keyedOnSession.findFirstIn(Files.readString(p)).isDefined)
      .map(_.getFileName.toString)
    // the registry's own map proves the pattern still matches a declaration
    assert(declaring == Seq("SessionArtifacts.scala"),
      s"hand-rolled per-session memo(s) outside SessionArtifacts: $declaring")
  }
}
