package graft

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** Each `graft.Profile` mode on one sf0.001 query and one unknown name:
  * the mode's output fields, and the unknown name reported as failed. */
class ProfileSpec extends SparkTestBase {

  private val q = "q02_filter_project"
  private val unknown = "no_such_query"

  private def profile(mode: String): (Int, Seq[String]) = {
    val lines = ArrayBuffer[String]()
    val failures = Profile.run(spark, sf001, mode, Seq(q, unknown), runs = 2,
      context = false, lines += _)
    (failures, lines.toSeq)
  }

  private def record(lines: Seq[String], query: String): Map[String, String] =
    lines.filter(_.startsWith("{")).map(new ObjectMapper().readTree(_))
      .find(_.get("query").asText == query)
      .map(j => j.fieldNames.asScala.map(k => k -> j.get(k).asText).toMap)
      .getOrElse(fail(s"no record for $query in:\n${lines.mkString("\n")}"))

  private def assertUnknownFailed(failures: Int, lines: Seq[String]): Unit = {
    assert(failures >= 1)
    assert(record(lines, unknown)("failed") == "NoSuchElementException")
    assert(!record(lines, q).contains("failed"))
  }

  test("time: cold, warm samples, median and plan-only time") {
    val (failures, lines) = profile("time")
    assertUnknownFailed(failures, lines)
    val r = record(lines, q)
    assert(Set("mode", "query", "rows", "cold_s", "warm_s", "warm_median_s",
      "plan_s").subsetOf(r.keySet))
    assert(r("rows").toLong > 0)
  }

  test("stages: the per-stage table of the profiled count()") {
    val (failures, lines) = profile("stages")
    assertUnknownFailed(failures, lines)
    assert(record(lines, q).contains("wall_s"))
    assert(lines.contains("stage,wallMs,tasks,sumTaskMs,maxTaskMs," +
      "shufReadRec,shufWriteRec,shufWriteMb"))
  }

  test("tail: per-run Janino, JIT and GC deltas") {
    val (failures, lines) = profile("tail")
    assert(failures == 2) // both runs of the unknown name
    assertUnknownFailed(failures, lines)
    val runs = lines.filter(l => l.contains(q))
    assert(runs.size == 2)
    assert(Set("run", "wall_s", "janino_n", "janino_ms", "jit_ms", "gc_s")
      .subsetOf(record(lines, q).keySet))
  }

  test("plan: the audit row and the final executed plan of count()") {
    val (failures, lines) = profile("plan")
    assert(failures == 1)
    assert(lines.head.startsWith("| query | shuffles | broadcasts |"))
    assert(lines.exists(_.startsWith(s"| $q | ")))
    assert(lines.contains(s"| $unknown | failed: NoSuchElementException | | | | | | |"))
    val plan = lines.dropWhile(_ != s"== executed plan of $q count() ==")
    assert(plan.size > 1 && plan(1).contains("isFinalPlan=true"), lines)
  }
}
