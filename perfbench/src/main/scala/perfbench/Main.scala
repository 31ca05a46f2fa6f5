package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.io.{FlashscoreIO, TableIO}
import graft.pipeline.{CorpusPipeline, FlashscorePipeline}

/** The measured JVM of one benchmark run.
  *
  * Usage: `perfbench.Main <launch-epoch-ms> <spec.json> <result.json>`.
  * The spec (written by run.py) names the workload, its inputs and the
  * measuring time; the result is a JSON record of every operation: its
  * wall time, whether it failed, and in a traced run its layer counters.
  * The JVM only measures and reports; run.py checks the outputs against
  * the generator's expectations and computes the metrics.
  *
  * Operation loop: one cold operation (the first in this JVM), then warm
  * operations until `seconds` have passed since the cold one ended. A
  * traced run registers its listeners for the cold operation and for
  * every other round of warm ones, so the untraced rounds give the
  * tracing overhead from the same JVM.
  */
object Main {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** The session settings of graft.Bench, applied in the same order. */
  def sessionSettings(cores: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.codegen.cache.maxEntries" -> "2000",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "256k")

  final case class Op(kind: String, index: Int, name: String, wallS: Double,
      ok: Boolean, error: String, traced: Boolean,
      layers: Map[String, Double], digest: Map[String, Any])

  def main(args: Array[String]): Unit = {
    val launchMs = args(0).toLong
    Tracer.watchLiveHeap()
    val spec = mapper.readTree(new File(args(1)))
    val cores = spec.get("cores").asInt
    val work = spec.get("work").asText
    val settings = sessionSettings(cores)
    val builder = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.local.dir", s"$work/spark-local")
    settings.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    val setupS = (System.currentTimeMillis() - launchMs) / 1e3
    spark.sparkContext.setLogLevel("ERROR")
    val result = mutable.LinkedHashMap[String, Any](
      "setup_s" -> setupS, "cores" -> cores, "session" -> settings.toMap)
    try {
      val workload = spec.get("workload").asText
      if (workload != "setup") result ++= run(spark, workload, spec)
    } finally {
      result("heap_peak_mb") = Tracer.heapPeakMb()
      result("peak_rss_mb") = Tracer.peakRssMb()
      result("live_heap_peak_mb") = Tracer.liveHeapPeakMb()
      mapper.writerWithDefaultPrettyPrinter()
        .writeValue(new File(args(2)), result)
    }
    // Everything is recorded; stopping the session and running the
    // shutdown hooks would only add seconds that no metric measures.
    Runtime.getRuntime.halt(0)
  }

  private def run(spark: SparkSession, workload: String, spec: JsonNode)
      : Map[String, Any] = {
    val seconds = spec.get("seconds").asDouble
    val trace = spec.get("trace").asBoolean
    val work = spec.get("work").asText
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val w: Workload = workload match {
      case "flashscore_batch" =>
        new Batch(spark, spec.get("input").asText, s"$work/out")
      case "flashscore_stream" =>
        new Stream(spark, spec.get("stage").asText, spec.get("ticks").asInt,
          work)
      case "corpus_curate" =>
        new Curate(spark, spec.get("documents").asText, s"$work/out")
      case "operator_board" =>
        new Board(spark, spec.get("tables").asText,
          spec.get("queries").elements.asScala.map(_.asText).toSeq)
    }
    val ops = mutable.ArrayBuffer[Op]()
    def runOne(i: Int, traced: Boolean): Unit = {
      val t = tracer.filter(_ => traced)
      t.foreach { tr => tr.register(); tr.take() }
      try ops ++= w.op(i, t)
      finally t.foreach(_.unregister())
    }
    runOne(0, trace)
    val jvmAfterFirst = Tracer.jvmCounters()
    val loopStart = System.nanoTime()
    def elapsed = (System.nanoTime() - loopStart) / 1e9
    // the settling operations run first; then one round of measured
    // operations at least (the board: a whole sweep), and in a traced run
    // a traced and an untraced round
    val settle = spec.path("settle").asInt(0)
    var i = 1
    while (i <= settle + (if (trace) 2 else 1) * w.opsPerRound ||
        (elapsed < seconds && w.hasMore(i))) {
      runOne(i, trace && i > settle &&
        ((i - 1 - settle) / w.opsPerRound) % 2 == 0)
      i += 1
    }
    Map("ops" -> ops.map(opMap).toSeq, "jvm_after_first" -> jvmAfterFirst)
  }

  private def opMap(o: Op): Map[String, Any] = Map(
    "kind" -> o.kind, "index" -> o.index, "name" -> o.name,
    "wall_s" -> o.wallS, "ok" -> o.ok, "error" -> o.error,
    "traced" -> o.traced, "layers" -> o.layers, "digest" -> o.digest)

  /** Row count and an order-independent hash of a frame: the sum of
    * xxhash64 over each row's JSON rendering. */
  def digest(df: DataFrame): Map[String, Any] = {
    val row = to_json(struct(df.columns.toSeq.map(c =>
      col("`" + c.replace("`", "``") + "`")): _*))
    val r = df.select(xxhash64(row).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    Map("rows" -> r.getLong(0),
      "hash" -> Option(r.getDecimal(1)).map(_.toString).getOrElse("0"))
  }

  private def secondsOf[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  /** Runs one operation, turning a throw into a failed record. Only
    * `timed` is timed; `after` reads the layer counters of a traced
    * operation. */
  private def attempt[A](kind: String, i: Int, name: String,
      traced: Boolean)(timed: => A)(after: A => Map[String, Double]): Op =
    try {
      val (a, wallS) = secondsOf(timed)
      Op(kind, i, name, wallS, ok = true, null, traced, after(a), Map.empty)
    } catch {
      case e: Throwable =>
        Op(kind, i, name, 0.0, ok = false,
          s"${e.getClass.getName}: ${e.getMessage}".take(2000), traced,
          Map.empty, Map.empty)
    }

  /** Layer counters every traced operation reports. */
  private def sparkLayers(t: Tracer.Taken): Map[String, Double] = {
    val byTable = t.execs.filter(_.table.isDefined).groupBy(_.table.get)
    Map(
      "spark.construct_jobs" -> t.constructJobs.values.sum.toDouble,
      "spark.plan_s" -> t.execs.map(_.planS).sum,
      "spark.exec_s" -> t.execs.map(e => e.durS - e.inActionPlanS).sum,
      "spark.jobs" -> t.jobs.toDouble,
      "spark.stages" -> t.stages.toDouble,
      "spark.tasks" -> t.tasks.toDouble,
      "spark.shuffle_write_bytes" -> t.shuffleBytes.toDouble,
      "spark.executor_run_s" -> t.runS,
      "spark.executor_cpu_s" -> t.cpuS,
      "spark.cache_stored_mb" -> t.cachePeakMb,
      "io.output_bytes" -> t.execs.map(_.bytes).sum.toDouble,
      "io.output_files" -> t.execs.map(_.files).sum.toDouble) ++
      byTable.flatMap { case (tbl, es) => Seq(
        s"io.write_s.$tbl" -> es.map(_.durS).sum,
        s"io.output_rows.$tbl" -> es.map(_.rows).sum.toDouble) }
  }

  private trait Workload {
    /** Runs warm operation `i` (0: the cold one). */
    def op(i: Int, tracer: Option[Tracer]): Seq[Op]
    def hasMore(i: Int): Boolean = true
    /** Warm operations per tracing round: a traced run alternates traced
      * and untraced rounds. */
    def opsPerRound: Int = 1
  }

  /** One `FlashscorePipeline.runBatch` load per operation, each into a
    * fresh output directory. Traced loads make the same calls runBatch
    * makes, one span each; the read span also fills the cache runBatch
    * fills during its first write. */
  private final class Batch(spark: SparkSession, input: String, out: String)
      extends Workload {
    def op(i: Int, tracer: Option[Tracer]): Seq[Op] = {
      val dir = s"$out/load-$i"
      Seq(tracer match {
        case None =>
          attempt("load", i, dir, traced = false)(
            FlashscorePipeline.runBatch(spark, input, dir))(_ => Map.empty)
        case Some(t) =>
          attempt("load", i, dir, traced = true) {
            val ((raw, rows), readS) = secondsOf {
              val r = FlashscoreIO.readJson(spark, input).cache()
              (r, r.count())
            }
            try {
              val (frames, transformS) =
                secondsOf(FlashscorePipeline.transformAll(raw, false))
              frames.foreach { case (table, df) =>
                FlashscoreIO.writeTable(df, dir, table) }
              Map("io.read_s" -> readS, "io.input_rows" -> rows.toDouble,
                "transform.construct_ms" -> transformS * 1e3)
            } finally raw.unpersist()
          }(spans => sparkLayers(t.take()) ++ spans)
      })
    }
  }

  /** Closed loop with one scheduler: each tick lands its staged files in
    * the input directory, then runs `FlashscorePipeline.runStream`
    * (AvailableNow) to termination. A tick is timed from the moment its
    * files have landed until the query has terminated, i.e. until all
    * four tables are committed. */
  private final class Stream(spark: SparkSession, stage: String,
      ticks: Int, work: String) extends Workload {
    private val in = s"$work/in"
    private val out = s"$work/out"
    Files.createDirectories(Paths.get(in))

    override def hasMore(i: Int): Boolean = i < ticks

    def op(i: Int, tracer: Option[Tracer]): Seq[Op] = {
      val tickDir = new File(f"$stage/tick-$i%05d")
      val landed = tickDir.listFiles().filter(_.getName.endsWith(".json"))
        .sortBy(_.getName)
      landed.foreach(f => Files.move(f.toPath,
        Paths.get(in, f.getName), StandardCopyOption.ATOMIC_MOVE))
      Seq(attempt("tick", i, tickDir.getName, tracer.isDefined) {
        val t0 = System.nanoTime()
        val (q, startS) = secondsOf(FlashscorePipeline.runStream(spark, in,
          out, s"$work/checkpoint", Some(s"$work/archive")))
        q.awaitTermination()
        q.exception.foreach(e => throw e)
        (startS, (System.nanoTime() - t0) / 1e9)
      } { case (startS, wallS) =>
        tracer.fold(Map.empty[String, Double]) { t =>
          val k = t.take()
          def d(key: String) = k.progress.map(_.getOrElse(key, 0L)).sum
            .toDouble
          val trigger = d("triggerExecution")
          sparkLayers(k) ++ Map(
            "io.input_files" -> landed.length.toDouble,
            "io.input_rows" -> k.progressRows.toDouble,
            "pipeline.stream.start_ms" -> startS * 1e3,
            "pipeline.stream.latest_offset_ms" -> d("latestOffset"),
            "pipeline.stream.get_batch_ms" -> d("getBatch"),
            "pipeline.stream.query_planning_ms" -> d("queryPlanning"),
            "pipeline.stream.add_batch_ms" -> d("addBatch"),
            "pipeline.stream.wal_commit_ms" -> d("walCommit"),
            "pipeline.stream.commit_offsets_ms" -> d("commitOffsets"),
            "pipeline.stream.trigger_ms" -> trigger,
            // awaitTermination's time outside every trigger
            "pipeline.stream.stop_ms" -> ((wallS - startS) * 1e3 - trigger))
        }
      })
    }
  }

  /** `CorpusPipeline.curate` (default Config, evalDocs = doc_id % 97),
    * then `toTrainingBatches`, then parquet, as the README's recipe.
    * Traced operations call the stage functions curate composes for the
    * default Config, one construction span each. */
  private final class Curate(spark: SparkSession, documents: String,
      out: String) extends Workload {
    def op(i: Int, tracer: Option[Tracer]): Seq[Op] = {
      val dir = s"$out/curate-$i"
      val cfg = CorpusPipeline.Config()
      val o = attempt("curate", i, dir, tracer.isDefined) {
        val docs = TableIO.readParquet(spark, documents)
        val evalDocs = docs.filter(col("doc_id") % 97 === 0)
        tracer match {
          case None =>
            val curated = CorpusPipeline.curate(docs, cfg, Some(evalDocs))
            TableIO.writeParquet(
              CorpusPipeline.toTrainingBatches(curated, cfg), dir)
            Map.empty[String, Double]
          case Some(t) =>
            val spans = mutable.LinkedHashMap[String, Double]()
            def stage[T](name: String)(body: => T): T = {
              val (v, s) = secondsOf(t.construct(name)(body))
              spans(s"pipeline.curate.$name.construct_s") = s
              v
            }
            val annotated =
              stage("annotate")(CorpusPipeline.annotate(docs, cfg))
            val gated = stage("qualityGate")(
              CorpusPipeline.qualityGate(annotated, cfg))
            val exact =
              stage("exactDedup")(CorpusPipeline.exactDedup(gated, cfg))
            val near =
              stage("nearDedup")(CorpusPipeline.nearDedup(exact, cfg))
            val clean = stage("decontaminate")(
              CorpusPipeline.decontaminate(near, Some(evalDocs), cfg))
            val curated = stage("split")(CorpusPipeline.split(clean, cfg))
            val batches = stage("toTrainingBatches")(
              CorpusPipeline.toTrainingBatches(curated, cfg))
            TableIO.writeParquet(batches, dir)
            spans.toMap
        }
      }(spans => tracer.fold(spans)(t => sparkLayers(t.take()) ++ spans))
      // checked outside the timed region
      if (!o.ok) Seq(o)
      else Seq(o.copy(digest = digest(TableIO.readParquet(spark, dir))))
    }
  }

  /** The board queries, each constructed through `SparkEntry.queries` and
    * consumed by [[digest]], which reads every output column (a count()
    * would prune columns and change exchange reuse) and yields the
    * checked row count and hash. The cold operation is a whole sweep;
    * after it, each warm operation is the next query in sweep order, so
    * the measuring time is not rounded up to whole sweeps. Records carry
    * the sweep number as their index. */
  private final class Board(spark: SparkSession, tables: String,
      queries: Seq[String]) extends Workload {
    override def opsPerRound: Int = queries.size

    def op(i: Int, tracer: Option[Tracer]): Seq[Op] =
      if (i == 0) queries.map(run(0, _, tracer))
      else Seq(run((i - 1) / queries.size + 1,
        queries((i - 1) % queries.size), tracer))

    private def run(sweep: Int, q: String, tracer: Option[Tracer]): Op = {
      tracer.foreach(_.take())
      var dig = Map.empty[String, Any]
      attempt("query", sweep, q, tracer.isDefined) {
        val build = () => SparkEntry.queries(q)(spark, tables)
        val (df, constructS) =
          secondsOf(tracer.fold(build())(_.construct(q)(build())))
        dig = digest(df)
        constructS
      } { constructS =>
        tracer.fold(Map.empty[String, Double]) { t =>
          val s = sparkLayers(t.take())
          s ++ Map(
            s"$q.construct_s" -> constructS,
            s"$q.construct_jobs" -> s("spark.construct_jobs"),
            s"$q.plan_s" -> s("spark.plan_s"),
            s"$q.exec_s" -> s("spark.exec_s"))
        }
      }.copy(digest = dig)
    }
  }
}
