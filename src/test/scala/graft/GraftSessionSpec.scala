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

  /** `src` with comments blanked out (block comments nest, as in
    * Scala); string and char literals are kept whole, so a comment
    * opener inside one starts no comment. */
  private def code(src: String): String = {
    val out = new StringBuilder
    val n = src.length
    var i = 0
    def copyTo(j: Int): Unit = { out ++= src.substring(i, j); i = j }
    while (i < n) {
      if (src.startsWith("//", i)) {
        while (i < n && src(i) != '\n') i += 1
      } else if (src.startsWith("/*", i)) {
        var depth = 0
        while ({
          if (src.startsWith("/*", i)) { depth += 1; i += 2 }
          else if (src.startsWith("*/", i)) { depth -= 1; i += 2 }
          else i += 1
          depth > 0 && i < n
        }) ()
        out += ' '
      } else if (src.startsWith("\"\"\"", i)) {
        var e = src.indexOf("\"\"\"", i + 3)
        if (e < 0) e = n - 3
        while (e + 3 < n && src(e + 3) == '"') e += 1 // closing """"
        copyTo(e + 3)
      } else if (src(i) == '"') {
        var j = i + 1
        while (j < n && src(j) != '"' && src(j) != '\n')
          j += (if (src(j) == '\\') 2 else 1)
        copyTo(math.min(j + 1, n))
      } else if (src.startsWith("'\\", i)) {
        copyTo(math.min(src.indexOf('\'', i + 3) + 1, n))
      } else if (i + 2 < n && src(i) == '\'' && src(i + 2) == '\'') {
        copyTo(i + 3)
      } else copyTo(i + 1)
    }
    out.toString
  }

  test("comment stripping keeps code and literals, drops comments") {
    assert(code("a // b\nc /* d /* e */\n e */ f") == "a \nc   f")
    assert(code("x(\"//\", '\"', \"\"\"/*\"\"\") // y") ==
      "x(\"//\", '\"', \"\"\"/*\"\"\") ")
  }

  test("operators.Pin is the only place src/main checkpoints a frame") {
    val banned = Seq("localCheckpoint(", ".checkpoint(", "setCheckpointDir")
    val offenders = mainSources
      .filterNot(_.endsWith(Paths.get("operators", "Pin.scala")))
      .filter(p => banned.exists(code(Files.readString(p)).contains))
    assert(offenders.isEmpty, s"checkpoint outside operators.Pin: $offenders")
  }

  test("graft.io.Layout is the only place src/main renames a path") {
    val banned = Seq("renameTo(", ".rename(")
    val offenders = mainSources
      .filterNot(_.endsWith(Paths.get("io", "Layout.scala")))
      .filter(p => banned.exists(code(Files.readString(p)).contains))
    assert(offenders.isEmpty, s"rename outside graft.io.Layout: $offenders")
  }

  test("src/main never calls ImageIO.read") {
    // ImageIO.read allocates the whole raster before anything can check
    // the size its header declares; Multimodal.decodeImage checks first
    val offenders = mainSources
      .filter(p => code(Files.readString(p)).contains("ImageIO.read("))
    assert(offenders.isEmpty, s"ImageIO.read in src/main: $offenders")
  }

  test("expressions declare input types and emit no generated loops") {
    // input types come from Spark's ExpectsInputTypes; a row kernel is a
    // static Scala method that eval and doGenCode both call, so Java
    // loop syntax can only mean a kernel copied into a codegen string
    val banned = Seq("checkInputDataTypes", "for (int ")
    val offenders = mainSources.flatMap { p =>
      val c = code(Files.readString(p))
      banned.filter(c.contains).map(b => s"$p: $b")
    }
    assert(offenders.isEmpty, s"hand-written type check or codegen loop: " +
      offenders.mkString("; "))
  }

  test("src/main reads only the four SPARK_GRAFT_* options") {
    val names = mainSources.flatMap(p =>
      "SPARK_GRAFT_[A-Z_]+".r.findAllIn(Files.readString(p))).toSet
    assert(names == Set("SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_CPUS",
      "SPARK_GRAFT_BENCH_RUNS", "SPARK_GRAFT_AQE_MIN_PARTITION"))
  }
}
