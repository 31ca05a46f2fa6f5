package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The one session builder: its settings are exactly the ones Bench
  * times, and no other main builds a session of its own. */
class GraftSessionSpec extends AnyFunSuite {

  private def mainSources: Seq[Path] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: $root missing")
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  test("settings are Bench's, setting for setting and in order") {
    assert(GraftSession.settings("4", "256k") == Seq(
      "spark.master" -> "local[4]",
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.codegen.cache.maxEntries" -> "2000",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "256k"))
    assert(GraftSession.settings("32", "1m").take(2) == Seq(
      "spark.master" -> "local[32]", "spark.sql.shuffle.partitions" -> "32"))
    assert(GraftSession.settings("8", "1m").last._2 == "1m")
  }

  test("GraftSession is the only session builder under src/main") {
    val builders = mainSources.filter(p =>
      Files.readString(p).contains("SparkSession.builder"))
    assert(builders.map(_.getFileName.toString) == Seq("GraftSession.scala"))
  }

  test("src/main reads only the four SPARK_GRAFT_* options") {
    val names = mainSources.flatMap(p =>
      "SPARK_GRAFT_[A-Z_]+".r.findAllIn(Files.readString(p))).toSet
    assert(names == Set("SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_CPUS",
      "SPARK_GRAFT_BENCH_RUNS", "SPARK_GRAFT_AQE_MIN_PARTITION"))
  }
}
