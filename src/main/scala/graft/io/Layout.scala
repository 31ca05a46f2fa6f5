package graft.io

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Data-layout writers — the difference between scanning 100 TB and
  * scanning the 1% a query needs:
  *
  *  - [[writePartitioned]]: hive-style directory partitioning; predicates
  *    on the partition columns become PartitionFilters (whole directories
  *    skipped, no file even opened);
  *  - [[writeSortedFiles]]: range-repartition + sort-within-partitions on
  *    a clustering key before writing; parquet row-group min/max stats
  *    then let non-partition predicates skip row groups inside files.
  */
object Layout {

  def writePartitioned(
      df: DataFrame, path: String, partitionCols: Seq[String],
      mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode)
      .partitionBy(partitionCols: _*)
      .parquet(path)

  def writeSortedFiles(
      df: DataFrame, path: String, sortCols: Seq[String],
      numFiles: Int,
      mode: SaveMode = SaveMode.Overwrite): Unit =
    df.repartitionByRange(numFiles, sortCols.map(col): _*)
      .sortWithinPartitions(sortCols.map(col): _*)
      .write.mode(mode).parquet(path)

  def readPartitioned(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Bucketed managed table: rows hash-partitioned into `numBuckets` files
    * by `bucketCols` and sorted within buckets. Two tables bucketed the
    * same way join WITHOUT a shuffle (and without a sort, when sorted) —
    * the co-located-join layout for repeated fact-fact joins at scale.
    * Bucketing metadata lives in the session catalog (saveAsTable). */
  def writeBucketed(
      df: DataFrame, table: String,
      bucketCols: Seq[String], numBuckets: Int,
      mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode)
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(table)

  /** Per-file min/max stats manifest over a parquet directory — the
    * data-skipping index a table format (Delta/Iceberg) keeps in its
    * transaction log, built here as a plain DataFrame: one row per file
    * with min/max of the clustering column. One distributed scan builds
    * it; it is tiny (1 row/file) and cheap to persist next to the data. */
  def statsManifest(
      spark: SparkSession, path: String, column: String): DataFrame =
    spark.read.parquet(path)
      .groupBy(input_file_name().as("file"))
      .agg(min(col(column)).as("min_v"), max(col(column)).as("max_v"))

  /** Range-predicate read that SKIPS whole files via the manifest: only
    * files whose [min, max] overlaps [lo, hi] are passed to the reader —
    * the others are never opened — and the [lo, hi] predicate on
    * `column` (the manifest's clustering column) is then applied to the
    * surviving scan, so the result contains exactly the in-range rows
    * (and the pushed filter lets parquet row-group stats prune further
    * INSIDE the selected files). On a range-clustered layout
    * ([[writeSortedFiles]]) a narrow predicate touches O(1) files out of
    * thousands. The manifest is collected to the driver — 1 row/file,
    * the same order of magnitude as the file listing itself. */
  def readRangeWithSkipping(
      spark: SparkSession, manifest: DataFrame, column: String,
      lo: Any, hi: Any): DataFrame = {
    val files = manifest
      .filter(col("max_v") >= lit(lo) && col("min_v") <= lit(hi))
      .select(col("file")).collect().map(_.getString(0))
    // null min/max rows (files whose clustering column is entirely null)
    // are correctly excluded: null never satisfies a range predicate
    if (files.isEmpty) {
      // empty result, correct schema: scan one known file, keep no rows
      val any = manifest.select(col("file")).limit(1).collect()
      require(any.nonEmpty, "manifest is empty — no files to derive schema")
      spark.read.parquet(any.head.getString(0)).filter(lit(false))
    } else spark.read.parquet(files: _*)
      .filter(col(column).between(lit(lo), lit(hi)))
  }

  /** Per-column bit budget for the z-interleave: the requested
    * log2(zBuckets), capped so `bitsPerCol * nCols <= 63` — the highest
    * usable shift must stay below the long's sign bit. */
  private[graft] def zBitsPerCol(zBuckets: Int, nCols: Int): Int =
    math.min(java.lang.Integer.numberOfTrailingZeros(zBuckets), 63 / nCols)

  /** Z-ordered (multi-dimensional clustered) layout: interleave the bits
    * of each row's per-column QUANTILE bucket ids into one z-value, then
    * range-partition + sort by it. A single-column sort ([[writeSortedFiles]])
    * gives perfect file skipping on that column and none on any other;
    * z-ordering trades a little per-column locality for useful min/max
    * locality on EVERY clustered column — the layout Delta's
    * `OPTIMIZE ZORDER BY` builds, re-expressed with public API only.
    *
    * Buckets come from `approxQuantile` boundaries (driver-tiny:
    * `zBuckets-1` doubles per column), so skewed columns still spread
    * across all buckets; the per-row bucket lookup is a fold over the
    * boundary literal array (`functions.aggregate` — codegen'd, no UDF,
    * no join). Nulls land in bucket 0. Supports 2+ columns. The interleave
    * must stay out of bit 63 (the sign bit of the long z-value — a set sign
    * bit would sort high buckets BEFORE low ones and silently destroy the
    * clustering), so `bitsPerCol` is capped at `63 / cols.length`: wide
    * column sets trade bucket resolution for correct ordering (e.g. 8
    * columns get 7 bits = 128 effective buckets each even if `zBuckets`
    * asked for more).
    */
  def writeZOrdered(
      df: DataFrame, path: String, cols: Seq[String],
      numFiles: Int, zBuckets: Int = 256,
      mode: SaveMode = SaveMode.Overwrite): Unit = {
    require(cols.length >= 2, "z-order needs at least 2 columns")
    require(zBuckets >= 2 && (zBuckets & (zBuckets - 1)) == 0 &&
      zBuckets <= 65536, "zBuckets must be a power of 2 in [2, 65536]")
    val bitsPerCol = zBitsPerCol(zBuckets, cols.length)
    val effBuckets = 1 << bitsPerCol
    val bounds: Map[String, Array[Double]] = cols.map { c =>
      c -> df.stat.approxQuantile(c,
        (1 until effBuckets).map(_.toDouble / effBuckets).toArray, 0.001)
    }.toMap
    // materialize each bucket id once, then interleave its bits
    def bucketOf(c: String): org.apache.spark.sql.Column =
      aggregate(lit(bounds(c)), lit(0),
        (acc, b) => acc + when(col(c).cast("double") > b, 1).otherwise(0))
    val withBuckets = df.withColumns(
      cols.map(c => s"__bk_$c" -> bucketOf(c)).toMap[String,
        org.apache.spark.sql.Column])
    val zBits = for {
      bit <- 0 until bitsPerCol
      (c, j) <- cols.zipWithIndex
    } yield shiftleft(
      shiftright(col(s"__bk_$c"), bit).bitwiseAND(lit(1)).cast("long"),
      bit * cols.length + j)
    val z = zBits.reduce(_.bitwiseOR(_))
    withBuckets.withColumn("__z", z)
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z" +: cols.map(c => s"__bk_$c"): _*)
      .write.mode(mode).parquet(path)
  }

  /** Small-file compaction: rewrite a parquet directory into
    * ceil(bytes / targetFileBytes) files. Streaming sinks and per-batch
    * appends accumulate tiny files; at scale the scan's task-per-file
    * overhead dominates — compaction restores healthy file sizes.
    * The rewrite goes through [[replace]], so it works on any Hadoop
    * path and a crash mid-swap is recovered by the next call.
    */
  def compact(
      spark: SparkSession, path: String,
      targetFileBytes: Long = 128L * 1024 * 1024): Unit =
    replace(spark, path) { tmp =>
      val live = new Path(path)
      val bytes = fileSystem(spark, live).getContentSummary(live).getLength
      val nFiles = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
      spark.read.parquet(path).repartition(nFiles)
        .write.mode(SaveMode.Overwrite).parquet(tmp)
    }

  /** Replace `path` with what `write` writes to the path it is handed,
    * `<path>.compact`, on any Hadoop filesystem (`file:`, `hdfs:`, ...):
    * [[recover]] first, then `write`, then rename live → `<path>.bak`
    * (when live exists), `.compact` → live, and delete `.bak`. Every
    * rename is checked — it throws if it fails or if its target exists —
    * so a failed swap fails the caller (a streaming batch then replays)
    * instead of committing against a half-swapped path. `write` runs
    * after recovery, so it may read the live path.
    *
    * SINGLE-ACCESSOR CONTRACT: `path` and its two siblings belong to one
    * writer. Live is briefly ABSENT between the two renames, and a crash
    * inside that window is repaired only by the next [[recover]] or
    * `replace` on the path; a concurrent reader can see the path missing
    * (or a stale `.bak` state), and a second writer's recovery would
    * delete the first writer's `.compact`. Read such a path only while
    * its writer is stopped.
    */
  def replace(spark: SparkSession, path: String)(write: String => Unit): Unit = {
    recover(spark, path)
    val live = new Path(path)
    val fs = fileSystem(spark, live)
    val (bak, compact) = siblings(live)
    write(compact.toString)
    if (fs.exists(live)) move(fs, live, bak)
    move(fs, compact, live)
    fs.delete(bak, true)
    ()
  }

  /** The one crash state machine for [[replace]], which moves live away
    * only after `.compact` is fully written:
    *
    *  - live exists: any `.bak`/`.compact` is stale — delete both;
    *  - `.bak` and `.compact`: the write finished — promote `.compact`,
    *    delete `.bak`;
    *  - `.bak` only: restore it;
    *  - `.compact` only: a first write that died, possibly partial —
    *    delete it.
    */
  def recover(spark: SparkSession, path: String): Unit = {
    val live = new Path(path)
    val fs = fileSystem(spark, live)
    val (bak, compact) = siblings(live)
    if (!fs.exists(live) && fs.exists(bak))
      move(fs, if (fs.exists(compact)) compact else bak, live)
    fs.delete(bak, true)
    fs.delete(compact, true)
    ()
  }

  private def fileSystem(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def siblings(live: Path): (Path, Path) =
    (new Path(s"$live.bak"), new Path(s"$live.compact"))

  private def move(fs: FileSystem, from: Path, to: Path): Unit =
    if (fs.exists(to) || !fs.rename(from, to))
      throw new IllegalStateException(s"could not rename $from to $to")
}
