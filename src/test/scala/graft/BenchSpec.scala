package graft

import java.nio.file.Files

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Bench's records: a failed query is reported as failed, never timed;
  * every embedded string is escaped; the round stamp. */
class BenchSpec extends SparkTestBase {

  private def parse(line: String): JsonNode = new ObjectMapper().readTree(line)
  private def keys(n: JsonNode): Set[String] = n.fieldNames.asScala.toSet

  // a query name and an AQE floor carrying both characters a naive
  // concatenation would break the line on
  private val oddName = "q\"odd\\name"
  private val oddFloor = "2\"5\\6k"

  private lazy val rec = Bench.run(spark, sf001,
    ListMap[String, Bench.Query](
      "q02_filter_project" -> SparkEntry.queries("q02_filter_project"),
      "boom" -> ((_, _) => throw new IllegalStateException("boom")),
      oddName -> SparkEntry.queries("q02_filter_project")),
    runs = 1, oddFloor, round = Some(7))

  test("a throwing query is listed as failed and kept out of every time") {
    assert(rec.failed == Map("boom" -> "IllegalStateException"))
    for (line <- Seq(rec.detail, rec.stdout)) {
      val j = parse(line)
      assert(keys(j.get("failed")) == Set("boom"))
      assert(j.get("failed").get("boom").asText == "IllegalStateException")
      assert(keys(j.get("queries")) == Set("q02_filter_project", oddName))
    }
    val d = parse(rec.detail)
    for (f <- Seq("spread", "all_runs", "gc_all_runs", "janino_all_runs",
        "jit_ms_all_runs"))
      assert(!keys(d.get(f)).contains("boom"), f)
    val medians = keys(d.get("queries")).toSeq.map(d.get("queries").get(_).asDouble)
    assert(math.abs(d.get("value").asDouble - medians.sum) < 0.002)
    assert(d.get("round").asInt == 7)
  }

  test("every embedded string is escaped: the lines parse, values intact") {
    for (line <- Seq(rec.detail, rec.stdout)) {
      val j = parse(line)
      assert(j.get("aqe_min_partition").asText == oddFloor)
      assert(j.get("sf").asText == sf001)
    }
    val d = parse(rec.detail)
    assert(keys(d.get("all_runs")).contains(oddName))
    assert(Json.str("a\"b\\c\td\u0001") == "\"a\\\"b\\\\c\\td\\u0001\"")
  }

  test("both lines keep their keys in the driver's order") {
    // the *_raw calibration fields appear only on a decoupled run, right
    // after `failed`; the rest is fixed
    def ordered(line: String): List[String] =
      parse(line).fieldNames.asScala.toList.filterNot(_.endsWith("_raw"))
    assert(ordered(rec.detail) == List("metric", "value", "unit", "rev",
      "round", "aqe_min_partition", "failed", "runs", "top10_extra_runs",
      "calibration_sec", "calibration_sweeps", "calibration_stability",
      "cpu_stability", "io_stability", "io_calibration_sec",
      "io_calibration_sweeps", "sweep1_total_sec", "queries", "spread",
      "spread_flag", "gc_all_runs", "janino_all_runs", "jit_ms_all_runs",
      "all_runs", "sf", "ts"))
    assert(ordered(rec.stdout) == List("metric", "value", "unit", "round",
      "aqe_min_partition", "failed", "runs", "top10_extra_runs",
      "calibration_sec", "calibration_stability", "cpu_stability",
      "io_stability", "io_calibration_sec", "sweep1_total_sec", "queries",
      "spread_top10", "spread_flag", "n_queries",
      "queries_are_slowest_first", "queries_are_medians", "detail",
      "history", "sf"))
    assert(rec.detail.endsWith("}\n") && !rec.stdout.contains("\n"))
  }

  test("round stamp: a scaling run joins round M, any other run is M+1") {
    def stamp(files: Seq[String], cpus: String): Option[Int] = {
      val dir = Files.createTempDirectory("bench_round").toFile
      files.foreach(f => new java.io.File(dir, f).createNewFile())
      Bench.roundStamp(dir, cpus)
    }
    val r21 = Seq("BENCH_r19.json", "BENCH_r20.json", "BENCH_r20_c8.json",
      "BENCH_r21.json")
    assert(stamp(r21, "8").contains(21)) // the r21 c8 run
    assert(stamp(r21 :+ "BENCH_r21_c8.json", "32").contains(22)) // r22 main
    assert(stamp(r21 :+ "BENCH_r21_c8.json", "8").contains(22))
    assert(stamp(Seq("BENCH_r04.json", "BENCH_r05.json"), "4")
      .contains(6)) // a fresh mid-round run
    assert(stamp(Seq("BENCH_DETAIL_r13.json", "notes.md"), "4").isEmpty)
  }
}
