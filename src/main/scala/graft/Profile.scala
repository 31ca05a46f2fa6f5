package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one profiling entry point, run under the bench session
  * ([[GraftSession]]) on the tables in `SPARK_GRAFT_SF_DIR` (required):
  *
  *   runMain graft.Profile <mode> <q1,q2,...> [runs=3] [context]
  *
  *  - `time`: one cold plus `runs` warm `construct + count()` samples
  *    per query (what Bench times), and the plan-only time — Catalyst
  *    analysis, optimization and physical planning of the count plan,
  *    no execution.
  *  - `stages`: per-stage wall, tasks, executor time, max task and
  *    shuffle volume of the last of `runs` count() runs, worst first. A
  *    stage whose maxTaskMs ≈ wallMs and sumTaskMs ≈ maxTaskMs is a
  *    ONE-TASK stage — the 1000-executor cluster would idle through it.
  *  - `tail`: per run, wall plus the Janino compile, background JIT and
  *    GC deltas — the costs invisible to stage metrics. A spike with
  *    (run1 − run2) ≈ janino_ms + jit_ms is cold-start compile cost, not
  *    a plan regression. `context` first runs every query that precedes
  *    the first name in bench order once (untimed), reproducing the
  *    bench's sweep-1 JVM state.
  *  - `plan`: the plan-audit table (PLANS.md) — shuffles, broadcasts,
  *    scans, pushed filters, codegen stages and the measured shuffle
  *    volume of each query's executed full-row plan. With no names it
  *    audits the whole surface and applies the plan-size guard; with
  *    names it also prints the final executed plan of each count().
  *
  * A query that throws is reported as `failed` with its error class,
  * never as a time, and the main then exits 1. */
object Profile {
  def main(args: Array[String]): Unit = {
    val rest = args.drop(1)
    val names = rest.headOption.filterNot(a => a == "context" || isNumber(a))
      .map(_.split(",").toSeq).getOrElse(Seq.empty)
    val runs = rest.find(isNumber).map(_.toInt).getOrElse(3)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("set SPARK_GRAFT_SF_DIR to the input tables' directory"))
    val spark = GraftSession.start()
    val failures = run(spark, sfDir, args(0), names, runs,
      rest.contains("context"), println)
    spark.stop()
    if (failures > 0) sys.exit(1)
  }

  private def isNumber(a: String) = a.nonEmpty && a.forall(_.isDigit)

  /** Run one mode, writing its lines to `out`; returns the number of
    * failed queries (or failed runs, in `tail`). */
  def run(spark: SparkSession, sfDir: String, mode: String,
      names: Seq[String], runs: Int, context: Boolean,
      out: String => Unit): Int = {
    def query(name: String): DataFrame = SparkEntry.queries(name)(spark, sfDir)
    def warmUp(): Unit = spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    var failures = 0
    def failed(name: String, err: String, extra: String = ""): Unit = {
      failures += 1
      out(s"""{"mode":${Json.str(mode)},"query":${Json.str(name)},""" +
        s"""$extra"failed":${Json.str(err)}}""")
    }
    def head(name: String, s: Sample) =
      s"""{"mode":${Json.str(mode)},"query":${Json.str(name)},"rows":${s.rows},"""
    def fmt(v: Double) = f"$v%.3f"
    mode match {
      case "time" =>
        warmUp()
        names.foreach { n =>
          val all = Vector.fill(runs + 1)(Sample.of(query(n)))
          all.flatMap(_.failed).headOption match {
            case Some(err) => failed(n, err)
            case None =>
              val warm = all.tail.map(_.seconds)
              val counted = query(n).groupBy().count()
              val t0 = System.nanoTime()
              counted.queryExecution.executedPlan
              val planS = (System.nanoTime() - t0) / 1e9
              out(head(n, all.head) + s""""cold_s":${fmt(all.head.seconds)},""" +
                s""""warm_s":${Json.arr(warm.map(fmt))},""" +
                s""""warm_median_s":${fmt(warm.sorted.apply(warm.size / 2))},""" +
                s""""plan_s":${fmt(planS)}}""")
          }
        }
      case "stages" =>
        warmUp()
        val stages = new StageListener
        spark.sparkContext.addSparkListener(stages)
        try names.foreach { n =>
          val last = (1 to runs).map { _ =>
            stages.clear()
            val s = Sample.of(query(n))
            Thread.sleep(500) // let the async listener bus drain
            s
          }.last
          last.failed match {
            case Some(err) => failed(n, err)
            case None =>
              out(head(n, last) + s""""wall_s":${fmt(last.seconds)}}""")
              out("stage,wallMs,tasks,sumTaskMs,maxTaskMs,shufReadRec," +
                "shufWriteRec,shufWriteMb")
              stages.rows.take(20).foreach(out)
          }
        } finally spark.sparkContext.removeSparkListener(stages)
      case "tail" =>
        if (context) {
          val before = SparkEntry.queries.keys.takeWhile(!names.contains(_))
          out(s"[profile] context: running ${before.size} preceding queries once")
          before.foreach(n => Sample.of(query(n)))
        }
        for (n <- names; i <- 1 to runs) {
          val s = Sample.of(query(n))
          s.failed match {
            case Some(err) => failed(n, err, s""""run":$i,""")
            case None =>
              out(head(n, s) + s""""run":$i,"context":$context,""" +
                s""""wall_s":${fmt(s.seconds)},"janino_n":${s.janinoN},""" +
                s""""janino_ms":${s.janinoMs},"jit_ms":${s.jitMs},""" +
                s""""gc_s":${fmt(s.gcS)}}""")
          }
        }
      case "plan" =>
        failures = planAudit(Option(names).filter(_.nonEmpty), query, out)
      case other =>
        throw new IllegalArgumentException(
          s"unknown mode '$other' (time, stages, tail or plan)")
    }
    failures
  }

  // Per-stage CSV rows, keyed by total executor time, of the stages
  // completed since clear(). Callbacks arrive on the one listener-bus
  // thread; the collections are concurrent because the caller reads and
  // clears them from its own.
  private final class StageListener extends SparkListener {
    private val tasks = TrieMap[Int, (Long, Long)]() // stage -> (sum, max) ms
    private val done = new ConcurrentLinkedQueue[(Long, String)]()
    def clear(): Unit = { tasks.clear(); done.clear() }
    def rows: Seq[String] = done.asScala.toSeq.sortBy(-_._1).map(_._2)
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val d = t.taskInfo.duration
      val (sum, max) = tasks.getOrElse(t.stageId, (0L, 0L))
      tasks(t.stageId) = (sum + d, math.max(max, d))
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      val i = s.stageInfo
      val m = i.taskMetrics
      val wall = (for { a <- i.completionTime; b <- i.submissionTime }
        yield a - b).getOrElse(0L)
      val (sum, max) = tasks.getOrElse(i.stageId, (0L, 0L))
      done.add(sum -> (s"${i.name.takeWhile(_ != '\n').take(70).replace(',', ';')}," +
        s"$wall,${i.numTasks},$sum,$max,${m.shuffleReadMetrics.recordsRead}," +
        f"${m.shuffleWriteMetrics.recordsWritten},${m.shuffleWriteMetrics.bytesWritten / 1e6}%.1f"))
    }
  }

  /** The PLANS.md table over `names` (the whole surface when None). */
  private def planAudit(names: Option[Seq[String]],
      query: String => DataFrame, out: String => Unit): Int = {
    def count(plan: String, token: String): Int =
      token.r.findAllMatchIn(plan).length
    out("| query | shuffles | broadcasts | scans | pushed filters | codegen stages | shuffled records | shuffled KiB |")
    out("|---|---|---|---|---|---|---|---|")
    // Plan-SIZE regression guard (round 13): q129's 23 s bench tail was
    // an O(k²·dim) expression tree whose 344 KB executed plan cost ~2 s
    // of driver time per run — a pathology completely invisible to the
    // shuffle/scan counters above. Flag any query whose FINAL plan text
    // exceeds this bound so the next literal-tree blowup is caught at
    // audit time, not by bench-tail archaeology.
    val planSizeBound = 100 * 1024
    val oversized = scala.collection.mutable.ArrayBuffer[(String, Int)]()
    var unmeasured = 0 // audit-failed queries: their plan size is UNKNOWN
    names.getOrElse(SparkEntry.queries.keys.toSeq).foreach { name =>
      try {
        val df = query(name)
        // ONE execution serves both outputs: shuffleSummary runs the plan
        // (finalizing AQE) and harvests the measured shuffle volume; the
        // plan-string parse below then reads the same finalized plan
        val m = PlanMetrics.shuffleSummary(df)
        // AQE's root is a leaf node (children hidden) → parse the final
        // plan string rather than traversing; only the final section
        val finalPart =
          df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
        if (finalPart.length > planSizeBound)
          oversized += name -> finalPart.length
        val shuffles =
          count(finalPart, "Exchange (hashpartitioning|rangepartitioning|SinglePartition)")
        val bcasts = count(finalPart, "BroadcastExchange")
        val scans = count(finalPart, "FileScan parquet")
        val pushed = count(finalPart, "PushedFilters: \\[\\w") // non-empty
        val codegen = "\\*\\((\\d+)\\)".r
          .findAllMatchIn(finalPart).map(_.group(1)).toSet.size
        // a plan with no scan AND no exchange is rooted at blocks the
        // query materialized EAGERLY at construction (cache/checkpoint
        // chains — q122's per-iteration checkpoints, q41's guardrail):
        // the real shuffles ran in eager jobs this harvest can't see.
        // Mark the row so zeros read as "measured elsewhere", not
        // "free" (the eager stories live in SCALING.md). ASCII on
        // purpose: the marker survives log pipes that mangle multibyte
        // glyphs
        val marker =
          if (scans == 0 && shuffles == 0 && bcasts == 0) " (eager)" else ""
        out(s"| $name$marker | $shuffles | $bcasts | $scans | $pushed " +
          s"| $codegen | ${m.shuffleRecords} | ${m.shuffleBytes / 1024} |")
        // the plan of the count() Bench times: Dataset.count executes
        // exactly this aggregate, and running it here keeps its
        // QueryExecution, so the printed plan is the AQE-final one that
        // ran (a count's column pruning can change exchange reuse — the
        // round-20 q175 finding)
        if (names.isDefined) {
          val counted = query(name).groupBy().count()
          counted.collect()
          out(s"== executed plan of $name count() ==")
          out(counted.queryExecution.executedPlan.toString)
        }
      } catch {
        case e: Throwable =>
          unmeasured += 1
          out(s"| $name | failed: ${Sample.errorClass(e)} | | | | | | |")
      }
    }
    if (names.isEmpty) {
      val caveat = if (unmeasured == 0) "" else s" CAVEAT: $unmeasured " +
        s"quer${if (unmeasured == 1) "y" else "ies"} failed the audit — " +
        "their plan sizes are unmeasured, not clean."
      if (oversized.isEmpty)
        out(s"\nPlan-size guard: every MEASURED final plan under " +
          s"${planSizeBound / 1024} KiB of text (largest-tree pathology " +
          s"class of q129-r12 — see SCALING.md round 13 — not present).$caveat")
      else
        out(((s"\nPlan-size guard: ${oversized.size} FINAL plan(s) over " +
          s"${planSizeBound / 1024} KiB — likely a literal/per-constant " +
          "expression-tree blowup; driver pays O(plan size) per run:") +:
          oversized.sortBy(-_._2).map { case (n, b) => s"  $n: ${b / 1024} KiB" })
          .mkString("\n") + caveat)
    }
    unmeasured
  }
}
