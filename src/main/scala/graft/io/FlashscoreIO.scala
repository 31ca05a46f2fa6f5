package graft.io

import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}
import graft.schema.Flashscore

/** Sources/sinks for the Flashscore pipeline.
  *
  * The reference reads one GCS JSON blob at a time into pandas
  * (reference dags/utils.py:54-71) and row-INSERTs into Snowflake
  * (utils.py:184-224). Here: a schema-pinned JSON directory source (files
  * split across tasks, one pass) and Parquet sinks (the harness stand-in
  * for the warehouse, SURVEY.md §2.1 S5).
  */
object FlashscoreIO {

  /** The batch JSON reader. PERMISSIVE + explicit schema: malformed
    * records become null-field rows instead of failing the batch — the
    * engine-side fix for the reference's crash-on-bad-record behavior. */
  private def jsonReader(spark: SparkSession): DataFrameReader =
    spark.read
      .schema(Flashscore.inputSchema)
      .option("mode", "PERMISSIVE")
      .option("multiLine", "true") // one file = one JSON array (utils.py:81)

  /** Batch JSON source over every file under `path`. */
  def readJson(spark: SparkSession, path: String): DataFrame =
    jsonReader(spark).json(path)

  /** Batch JSON source restricted to files modified after `since` — the
    * batch analogue of the reference's date-filtered discovery
    * (`get_files_published_today`, main.py:48-52: keep blobs whose
    * `blob.updated` falls in {today, yesterday}). Spark's file-source
    * `modifiedAfter` option applies the same mtime cut at LISTING time,
    * so stale files are never opened — at a 100 TB bucket that is the
    * difference between listing metadata and reading everything.
    * Spark parses the option string in the SESSION timezone
    * (spark.sql.session.timeZone), so the instant is rendered in that
    * zone — formatting in a fixed UTC zone would shift the cut by the
    * session offset on non-UTC sessions. */
  def readJsonModifiedAfter(
      spark: SparkSession, path: String,
      since: java.time.Instant): DataFrame =
    jsonReader(spark)
      .option("modifiedAfter",
        java.time.format.DateTimeFormatter
          .ofPattern("yyyy-MM-dd'T'HH:mm:ss")
          .withZone(java.time.ZoneId.of(
            spark.conf.get("spark.sql.session.timeZone")))
          .format(since))
      .json(path)

  /** Streaming file source over the same directory contract. New-file
    * discovery replaces `get_files_published_today` (utils.py:367-383);
    * `cleanSource=archive` replaces the move-to-used-bucket consumption
    * marker (`move_file`, utils.py:31-52). */
  def readJsonStream(
      spark: SparkSession,
      path: String,
      archiveDir: Option[String] = None): DataFrame = {
    val base = spark.readStream
      .schema(Flashscore.inputSchema)
      .option("multiLine", "true")
      .option("maxFilesPerTrigger", "64")
    val withArchive = archiveDir match {
      case Some(dir) =>
        base.option("cleanSource", "archive")
          .option("sourceArchiveDir", dir)
      case None => base
    }
    withArchive.json(path)
  }

  /** Warehouse sink stand-in: Parquet, append (matches INSERT semantics). */
  def writeTable(df: DataFrame, outDir: String, table: String): Unit =
    df.write.mode("append").parquet(s"$outDir/$table")
}
