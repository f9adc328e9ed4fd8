package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every session graft builds comes from `GraftSession`, so the engine a
  * test, Verify or the relay runs is the one Bench times. */
class GraftSessionSpec extends AnyFunSuite {

  test("no src/main file but GraftSession calls SparkSession.builder") {
    val sources: Seq[Path] = {
      val walk = Files.walk(Paths.get("src/main"))
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    assert(sources.size > 50, s"expected the src/main tree, found ${sources.size} files")
    val building = sources
      .filter(p => """SparkSession\s*\.\s*builder\b""".r.findFirstIn(Files.readString(p)).isDefined)
      .map(_.getFileName.toString)
    // GraftSession's own call proves the pattern still matches a builder
    assert(building == Seq("GraftSession.scala"),
      s"SparkSession built outside GraftSession: $building")
  }

  test("the local-mode settings apply to a local master only") {
    val localOnly = Set("spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.shuffle.compress", "spark.shuffle.spill.compress", "spark.broadcast.compress")
    val local = GraftSession.settings("local[4]").toMap
    val cluster = GraftSession.settings("spark://host:7077").toMap
    assert(localOnly.subsetOf(local.keySet))
    assert(cluster.keySet == local.keySet -- localOnly)
    assert(TestSessions.spark.conf.get("spark.sql.codegen.cache.maxEntries") == "10000")
    assert(TestSessions.spark.sparkContext.getConf.get("spark.shuffle.compress") == "false")
  }
}
