package graft.pipeline

import java.util.concurrent.{Executors, TimeUnit}

import scala.util.Try

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions.{col, current_timestamp}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.io.FlashscoreIO
import graft.schema.Flashscore
import graft.transform.FlashscoreTransforms._

/** The end-to-end pipeline (`ETL_pipeline`, reference dags/utils.py:350-365)
  * re-structured for Spark: ONE read, one cached keyed frame, four
  * projections, four concurrent writes — versus the reference's three
  * re-parses of the same JSON per file (utils.py:81,150,174; SURVEY.md §4)
  * and per-row INSERTs.
  */
object FlashscorePipeline {

  /** The four output tables (names from env in the reference,
    * utils.py:22-25). */
  val factTable = "MATCH_FINISHED"
  val homeLineupTable = "HOME_STARTING_LINEUP"
  val awayLineupTable = "AWAY_STARTING_LINEUP"
  val oddsTable = "ODDS"

  /** The input columns the four tables read; the natural key is a subset
    * of the fact columns. */
  private val keyedInputColumns: Seq[String] =
    Flashscore.factKeepColumns ++ Seq("lineups_data", "bookmakers_data")

  /** The finished matches, pruned to `keyedInputColumns`, with their
    * surrogate key: the one frame the four branches fork from. */
  private def keyedFrame(raw: DataFrame, deterministicKeys: Boolean)
      : DataFrame =
    withMatchKey(finished(raw).select(keyedInputColumns.map(col): _*),
      deterministicKeys)

  private def projections(keyed: DataFrame, loadTs: Column)
      : Map[String, DataFrame] =
    Map(
      factTable -> matchFacts(keyed, loadTs),
      homeLineupTable -> startingLineup(keyed, Home),
      awayLineupTable -> startingLineup(keyed, Away),
      oddsTable -> odds(keyed))

  /** Transform a raw Flashscore batch into the four output frames.
    * Filter + key generation happen once; the three branches are
    * projections of the shared keyed plan (fix for the positional zip,
    * SURVEY.md §2.3 N7). */
  def transformAll(
      raw: DataFrame,
      deterministicKeys: Boolean,
      loadTs: Column = current_timestamp())
      : Map[String, DataFrame] =
    projections(keyedFrame(raw, deterministicKeys), loadTs)

  /** Load one raw batch into the four tables under `outDir`. The keyed
    * frame is cached, so the parse, the filter and the key run once and
    * every table reads the same stored `ID_MATCH`. The four writes are
    * submitted together, one pool thread per table, each carrying the
    * caller's session and local properties (job group, SQL execution
    * id). Every write finishes before the cache is dropped; the first
    * failed table's own exception is then rethrown. */
  private def load(
      raw: DataFrame, outDir: String, deterministicKeys: Boolean): Unit = {
    val keyed = keyedFrame(raw, deterministicKeys).cache()
    val session = raw.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val frames = projections(keyed, current_timestamp())
    val pool = Executors.newFixedThreadPool(frames.size, (r: Runnable) => {
      val t = new Thread(r, "flashscore-write")
      t.setDaemon(true) // never holds the JVM open
      t
    })
    try {
      val writes = frames.toSeq.map { case (table, df) =>
        SQLExecution.withThreadLocalCaptured(session, pool)(
          FlashscoreIO.writeTable(df, outDir, table))
      }
      // join() waits uninterruptibly, so no write outlives this call;
      // it wraps a failure in a CompletionException
      writes.flatMap(w => Try(w.join()).failed.toOption).headOption
        .foreach(e => throw Option(e.getCause).getOrElse(e))
    } finally {
      keyed.unpersist()
      // every write has finished, so the idle threads exit at once
      pool.shutdown()
      pool.awaitTermination(1, TimeUnit.MINUTES)
    }
  }

  /** Batch run: read dir → 4 Parquet tables. One scan; the pruned keyed
    * frame is cached because four concurrent writes consume it. */
  def runBatch(
      spark: SparkSession,
      inputDir: String,
      outDir: String,
      deterministicKeys: Boolean = false): Unit =
    load(FlashscoreIO.readJson(spark, inputDir), outDir, deterministicKeys)

  /** Streaming run: file source + foreachBatch + checkpoint. Exactly-once
    * per file (checkpoint) + archive-on-consume (`cleanSource`), replacing
    * the reference's at-most-once move-to-used-bucket (utils.py:31-52) and
    * its duplicate-on-retry window (SURVEY.md §3 E1). Each micro-batch is
    * loaded like a batch run. */
  def runStream(
      spark: SparkSession,
      inputDir: String,
      outDir: String,
      checkpointDir: String,
      archiveDir: Option[String] = None,
      deterministicKeys: Boolean = false,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val stream = FlashscoreIO.readJsonStream(spark, inputDir, archiveDir)
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        load(batch, outDir, deterministicKeys)
      }
      .start()
  }
}
