package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

import graft.io.Layout

/** Structured Streaming operators over the `events` table contract
  * (event_id, ts, user_id, event_type, value, props).
  *
  * The reference's "streaming" is cron-driven micro-batches of files
  * (SURVEY.md §2.5); these operators are the engine's genuine streaming
  * surface: event-time windows + watermarks, streaming dedup, and custom
  * session state — all checkpointable and scale-out (state is partitioned
  * by grouping key across executors).
  */
object EventStreams {

  /** The events contract schema with the CURRENT fixture ts type
    * (timestamp[us] → TIMESTAMP_NTZ) — the declared schema when a stream
    * starts on a still-empty landing directory (nothing to peek). */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampNTZType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Streaming file source over an events-shaped parquet directory.
    *
    * A streaming source must declare its schema up front, but the ts
    * physical type differs across fixture generations (epoch-ns long via
    * `nanosAsLong` vs native timestamp[us]) — so peek at the directory's
    * CURRENT schema with a one-off batch read (metadata-only: file
    * footers, no data scan) and declare that, then normalize to a µs
    * `event_time` timestamp via [[graft.operators.EventTime]]. Every
    * downstream operator keys on `event_time` only, so the fixture shape
    * never leaks past this reader. An EMPTY landing directory (the
    * normal start state of a production stream) has nothing to peek and
    * falls back to [[eventSchema]], the current-generation contract —
    * if the FIRST files to land later carry the legacy epoch-ns shape
    * instead, the stream's first batch fails with a schema mismatch;
    * restart the stream (the peek then sees real footers and
    * dispatches). That restart-once contract is the deliberate trade:
    * a streaming source cannot re-negotiate its declared schema
    * mid-query, and guessing legacy-on-empty would break the common
    * case to save the already-degraded one. */
  def readEventStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Only a genuinely EMPTY-but-existing landing dir falls back to the
    // contract schema; a missing path or unreadable footers should fail
    // HERE (the schema decision point), not surface confusingly later.
    // The peek walks the directory RECURSIVELY through the Hadoop
    // FileSystem API: partitioned (nested-dir) layouts and non-local
    // schemes (hdfs://, s3a://) count as data too — a top-level
    // java.io.File scan would silently treat both as empty.
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(path) && fs.getFileStatus(path).isDirectory,
      s"events stream dir does not exist: $dir")
    val files = fs.listFiles(path, /* recursive = */ true)
    // Hidden-ness applies to EVERY path component between `dir` and the
    // leaf (mirroring Hadoop's per-directory hiddenFileFilter), not just
    // the file name: a parquet part under an in-flight _temporary/ or
    // .staging/ ancestor is not data — spark.read.parquet(dir) would
    // ignore it, so counting it here would send the peek to a schema
    // inference that fails on an effectively-empty directory.
    // compare against the QUALIFIED root (listFiles returns qualified
    // paths) so the walk stops at `dir` — components ABOVE it may
    // legitimately be dot-dirs and must not disqualify anything
    val root = fs.makeQualified(path)
    def visible(leaf: Path): Boolean = {
      var p = leaf
      while (p != null && p != root) {
        val n = p.getName
        if (n.startsWith("_") || n.startsWith(".")) return false
        p = p.getParent
      }
      true
    }
    var hasData = false
    while (!hasData && files.hasNext) {
      val f = files.next().getPath
      hasData = f.getName.endsWith(".parquet") && visible(f)
    }
    val schema =
      if (hasData) spark.read.parquet(dir).schema
      else eventSchema
    val raw = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", "32")
      .parquet(dir)
    raw.withColumn("event_time",
      graft.operators.EventTime.tsTimestamp(raw))
  }

  /** Event-time tumbling-window counts with a watermark bounding state.
    * Output mode `update` emits revised counts per batch; `append` emits
    * only finalized windows once the watermark passes. */
  def windowedCounts(
      events: DataFrame,
      windowLength: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("event_time", watermark)
      .groupBy(window(col("event_time"), windowLength), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double")
          .as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Event-time SLIDING-window counts: overlapping windows of
    * `windowLength` every `slide` (each event lands in
    * windowLength/slide windows — Spark expands the assignment map-side;
    * state is bounded by watermark × overlap count). The moving-average
    * / rolling-rate shape tumbling windows can't express. */
  def slidingCounts(
      events: DataFrame,
      windowLength: String = "1 hour",
      slide: String = "15 minutes",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("event_time", watermark)
      .groupBy(window(col("event_time"), windowLength, slide),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"))

  /** Event-time windowed VALUE QUANTILES — streaming latency/size
    * percentile monitoring (p50/p95/p99 per window), the order-statistic
    * monitor a counter can't express. State per (window, type) group is
    * ONE mergeable quantile sketch ([[graft.functions.QuantileSketchAgg]]
    * — exact under `sketchK` values, deterministic compaction past it),
    * not the window's raw values, so watermark × groups bounds memory
    * however many events land in a window. QuantileSketchSpec proves the
    * state-store round trip equals the one-shot batch sketch; the spec
    * here checks windows against batch groupBy on the same rows. */
  def windowedQuantiles(
      events: DataFrame,
      valueCol: String = "value",
      probs: Seq[Double] = Seq(0.5, 0.95, 0.99),
      windowLength: String = "1 hour",
      watermark: String = "2 hours",
      sketchK: Int = 4096): DataFrame = {
    val shims = org.apache.spark.sql.graftshim.Shims
    val sketch = shims.column(graft.functions.QuantileSketchAgg(
      shims.expression(col(valueCol)), sketchK).toAggregateExpression())
    val qs = graft.operators.PartialAgg.quantileEstimate(col("__sk"), probs)
    events
      .withWatermark("event_time", watermark)
      .groupBy(window(col("event_time"), windowLength), col("event_type"))
      .agg(count(lit(1)).as("n"), sketch.as("__sk"))
      .select(Seq(col("window.start").as("window_start"),
        col("event_type"), col("n")) ++
        probs.zipWithIndex.map { case (p, i) =>
          qs(i).as(s"p${(p * 100).round}")
        }: _*)
  }

  /** Streaming windowed HEAVY HITTERS over a high-cardinality key
    * (user ids, URLs): per-window state is ONE Misra-Gries summary of
    * `capacity` counters — not a per-key count — so state is
    * `watermark-bounded windows × capacity` at ANY key cardinality.
    * Emits the window's candidate array, PROVABLY a superset of every
    * key with frequency > n/(capacity+1) in that window (the
    * [[graft.operators.HeavyHitters]] guarantee; close with an exact
    * batch count over the flagged windows when exact counts matter —
    * the streaming analogue of its two-pass shape). */
  def windowedHeavyHitters(
      events: DataFrame,
      keyCol: String = "user_id",
      capacity: Int = 32,
      windowLength: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("event_time", watermark)
      .groupBy(window(col("event_time"), windowLength))
      .agg(count(lit(1)).as("n"),
        graft.operators.HeavyHitters
          .mgCandidates(col(keyCol), capacity).as("candidates"))
      .select(col("window.start").as("window_start"), col("n"),
        col("candidates"))

  /** Streaming DRIFT monitor: per event-time window, the PSI and
    * total-variation of the window's `valueCol` distribution against a
    * STATIC reference profile — the live train-vs-serve skew alarm
    * companion to [[graft.operators.Drift.psi]] (one-shot batch) and
    * `Drift.psiSeries` (retrospective series).
    *
    * The reference profile is collected ONCE at stream definition — an
    * nbins-row bounded collect, the smoothed fractions embedded as
    * literals. State per window is the nbins binned counters (fixed
    * width, whatever the event rate), so memory is watermark-bounded.
    * Emits (window_start, n, psi, tvd) under exactly Drift.psi's float
    * discipline (exact-integer smoothed ratios, ln ulp absorbed by
    * DECIMAL(24,10), per-bin terms decimal-added) — a closed window's
    * row equals the batch `Drift.psi` totals on the same rows, which
    * the spec asserts. */
  def windowedDrift(
      events: DataFrame,
      ref: DataFrame,
      edges: Seq[Double],
      valueCol: String = "value",
      windowLength: String = "1 hour",
      watermark: String = "2 hours"): DataFrame = {
    val nbins = edges.size + 1
    val refCounts = ref
      .select(graft.operators.Drift.binIndex(col(valueCol), edges)
        .cast("long").as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val totRef = refCounts.values.sum
    val pRef = (0 until nbins).map(b =>
      (refCounts.getOrElse(b.toLong, 0L) + 1).toDouble /
        (totRef + nbins).toDouble)

    val bin = graft.operators.Drift.binIndex(col(valueCol), edges)
    val counters = (0 until nbins).map(b =>
      sum(when(bin === lit(b), lit(1L)).otherwise(lit(0L))).as(s"__c$b"))
    val n = (0 until nbins).map(b => col(s"__c$b")).reduce(_ + _)
    def pCur(b: Int) = (col(s"__c$b") + lit(1)).cast("double") /
      (col("n") + lit(nbins)).cast("double")
    def term(b: Int) =
      ((pCur(b) - lit(pRef(b))) *
        log(pCur(b) / lit(pRef(b))).cast("decimal(24,10)").cast("double"))
        .cast("decimal(28,12)")
    def ad(b: Int) =
      abs(pCur(b) - lit(pRef(b))).cast("decimal(28,12)")

    events
      .withWatermark("event_time", watermark)
      .groupBy(window(col("event_time"), windowLength))
      .agg(counters.head, counters.tail: _*)
      .withColumn("n", n)
      .select(col("window.start").as("window_start"), col("n"),
        round((0 until nbins).map(term).reduce(_ + _).cast("double"), 6)
          .as("psi"),
        round((0 until nbins).map(ad).reduce(_ + _).cast("double") / lit(2),
          6).as("tvd"))
  }

  /** Streaming per-window LEXICAL drift: for each event-time window, the
    * KL and Jensen-Shannon divergence of the window's unigram
    * distribution against a FROZEN reference profile — the
    * train-vs-serve vocabulary skew monitor (a topic shift, a language
    * flip, or a spam flood moves js_vs_ref long before volume alarms),
    * companion to the one-shot batch
    * [[graft.operators.Drift.divergenceVsReference]], whose rows a
    * closed window equals exactly (the spec asserts bit-parity — both
    * forms ARE the same [[graft.functions.DivergenceCounters]]
    * aggregate).
    *
    * The reference profile is collected ONCE at stream definition
    * (top-`vocabSize` tokens + smoothed probabilities — the
    * [[windowedDrift]] bounded-collect precedent); state per window is
    * the aggregate's (K+1)-slot long vector, fixed-width whatever the
    * event rate, so memory is watermark-bounded. This is also WHY the
    * op rides a custom aggregate: the batch frame shape (contingency +
    * support join) is two chained aggregations, which cannot run as one
    * streaming stateful operator.
    *
    * Run with append output mode to emit each window exactly once when
    * the watermark closes it. */
  def windowedLexicalDrift(
      docs: DataFrame,
      refTokens: DataFrame,
      textCol: String = "props",
      vocabSize: Int = 100,
      windowLength: String = "1 hour",
      watermark: String = "2 hours"): DataFrame = {
    val (vocab, refQ) = graft.operators.Drift.referenceProfile(
      refTokens, "token", vocabSize)
    val shims = org.apache.spark.sql.graftshim.Shims
    val agg = shims.column(
      graft.functions.DivergenceCounters(
        shims.expression(col("__tok")), vocab, refQ)
        .toAggregateExpression())
    docs
      .select(col("event_time"),
        explode(graft.functions.TextFunctions.tokens(col(textCol)))
          .as("__tok"))
      .withWatermark("event_time", watermark)
      .groupBy(window(col("event_time"), windowLength))
      .agg(agg.as("__d"))
      .select(col("window.start").as("window_start"),
        col("__d.n_tokens").as("n_tokens"),
        col("__d.oov_frac").as("oov_frac"),
        col("__d.kl_vs_ref").as("kl_vs_ref"),
        col("__d.js_vs_ref").as("js_vs_ref"))
  }

  /** Per-invocation suffix for streaming observe() metric names (Spark
    * rejects two CollectMetrics nodes sharing a name in one plan). */
  private val streamMetricSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Streaming per-window CLASSIFICATION REPORT: for each event-time
    * window, the per-label (support, predicted, tp, precision, recall,
    * f1) of a predicted-label column against gold labels — the live
    * acceptance gate on a labeler change (language-ID model, quality
    * classifier) watching the serving stream, companion to the one-shot
    * batch [[graft.operators.Metrics.classificationReport]] (q164),
    * whose per-window rows a closed window equals exactly (the spec
    * asserts bit-parity: every ratio is the same ONE division of two
    * exact longs, rounded 6 dp).
    *
    * Plan shape — ONE stateful aggregation, no join: each item explodes
    * map-side into two skinny rows, its gold-side contribution
    * (support 1, tp if gold = pred) and its pred-side contribution
    * (predicted 1), so a single `groupBy(window, label)` sum produces
    * all three counts per label. The batch twin's
    * contingency → two aggregates → full-outer join cannot run as a
    * streaming plan (chained stateful aggregations + a stream-stream
    * join); this decomposition trades 2× skinny input rows — combined
    * map-side before the shuffle — for a single watermark-bounded
    * state store of (windows × labels) count triples. A label present
    * on either side gets its row, matching the twin's full-outer
    * semantics (never-predicted label: precision NULL; hallucinated
    * label: support 0, recall NULL).
    *
    * Null contract (the twin's): rows with a null on either side are
    * dropped — a null prediction is an abstention, which
    * precision/recall over asserted labels must not see — and counted
    * by a `graft.streaming.classification_report.N` observe metric
    * (`null_label_rows_dropped`, surfaced per micro-batch in
    * StreamingQueryProgress.observedMetrics). Gold and pred columns
    * must share an equi-comparable type (cast first otherwise).
    *
    * Run with append output mode to emit each window's report exactly
    * once, when the watermark closes it. */
  def windowedClassificationReport(
      events: DataFrame,
      goldCol: String,
      predCol: String,
      windowLength: String = "1 hour",
      watermark: String = "2 hours"): DataFrame = {
    val labeled = events
      .observe(
        s"graft.streaming.classification_report.${streamMetricSeq.incrementAndGet()}",
        sum(when(col(goldCol).isNull || col(predCol).isNull, 1L)
          .otherwise(0L)).as("null_label_rows_dropped"))
      .filter(col(goldCol).isNotNull && col(predCol).isNotNull)
    val sides = labeled.select(col("event_time"),
      explode(array(
        struct(col(goldCol).as("label"), lit(1L).as("s"), lit(0L).as("p"),
          when(col(goldCol) === col(predCol), lit(1L)).otherwise(lit(0L))
            .as("tp")),
        struct(col(predCol).as("label"), lit(0L).as("s"), lit(1L).as("p"),
          lit(0L).as("tp")))).as("__x"))
      .select(col("event_time"), col("__x.label").as("label"),
        col("__x.s").as("__s"), col("__x.p").as("__p"),
        col("__x.tp").as("__tp"))
    val agg = sides
      .withWatermark("event_time", watermark)
      .groupBy(window(col("event_time"), windowLength), col("label"))
      .agg(sum(col("__s")).as("support"), sum(col("__p")).as("predicted"),
        sum(col("__tp")).as("tp"))
    // the batch twin's exact arithmetic: one double division of two
    // exact longs per ratio, NULL on 0/0, f1 NULL when either side is
    // NULL and 0.0 at p + r = 0
    val p = when(col("predicted") > 0,
      col("tp").cast("double") / col("predicted").cast("double"))
    val r = when(col("support") > 0,
      col("tp").cast("double") / col("support").cast("double"))
    agg
      .withColumn("__prec", p)
      .withColumn("__rec", r)
      .select(col("window.start").as("window_start"), col("label"),
        col("support"), col("predicted"), col("tp"),
        round(col("__prec"), 6).as("precision"),
        round(col("__rec"), 6).as("recall"),
        round(
          when(col("__prec").isNull || col("__rec").isNull, lit(null))
            .when(col("__prec") + col("__rec") > 0,
              lit(2.0) * col("__prec") * col("__rec") /
                (col("__prec") + col("__rec")))
            .otherwise(lit(0.0)).cast("double"), 6).as("f1"))
  }

  /** Streaming per-window k-anonymity / l-diversity audit — the live
    * twin of [[graft.operators.Privacy.anonymityAudit]]: every event-time
    * window gets the per-QI-group (n, n_sensitive, k_anonymous,
    * l_diverse) relation, the release gate evaluated AS data arrives
    * rather than at publication time.
    *
    * ONE stateful aggregation: exact `countDistinct` is unsupported in
    * streaming aggregations (and its state grows with true cardinality),
    * so the distinct test rides [[graft.functions.DistinctUpTo]] — ≤ l
    * longs of state per (window × QI group), watermark-bounded, and the
    * l_diverse flag is IDENTICAL to the batch audit's (min(d, l) ≥ l ⟺
    * d ≥ l). n_sensitive therefore saturates at l; `sensitive` must be
    * an integral generalization bucket (the aggregate's contract). Null
    * QI values form their own visible group; null sensitive values
    * don't count toward diversity — both batch contracts carried over. */
  def windowedAnonymityAudit(
      events: DataFrame,
      qiCols: Seq[String],
      sensitive: Column,
      k: Int,
      l: Int,
      windowLength: String = "1 hour",
      watermark: String = "2 hours"): DataFrame = {
    require(qiCols.nonEmpty, "need at least one quasi-identifier column")
    require(l >= 1, s"l must be >= 1, got $l")
    // ONE shared relation with the batch twins (Privacy.auditRelation):
    // the window is just another grouping key; the capped aggregate is
    // the streaming-legal distinct
    graft.operators.Privacy.auditRelation(
        events.withWatermark("event_time", watermark),
        window(col("event_time"), windowLength) +: qiCols.map(col),
        graft.functions.DistinctUpTo.column(sensitive, l), k, l)
      .select(
        Seq(col("window.start").as("window_start")) ++
          qiCols.map(col) ++ Seq(col("n"), col("n_sensitive"),
          col("k_anonymous"), col("l_diverse")): _*)
  }

  /** Streaming exact dedup on event_id: watermark-bounded state, the
    * streaming form of the batch `dropDuplicates`. */
  def dedupeStream(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("event_time", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-static enrichment join: attach dimension attributes to every
    * event as it arrives. The static side needs NO watermark and NO state
    * — Spark re-resolves it per micro-batch (so a refreshed dim parquet
    * is picked up on the next trigger), and the broadcast hint keeps the
    * per-batch join a map-side hash join: the streaming side never
    * shuffles. The streaming half of the q03/q22 star-join shape. */
  def enrichWithDim(
      events: DataFrame, dim: DataFrame,
      keys: Seq[String]): DataFrame =
    events.join(broadcast(dim), keys, "left")

  /** Streaming merge (upsert) sink: each micro-batch is keyed-merged into
    * a parquet snapshot via foreachBatch — updated keys replace, new keys
    * append, so a REPLAYED batch (restart, at-least-once upstream)
    * converges to the same table instead of duplicating rows: idempotent
    * merge + checkpointed source offsets = effectively-once. Each batch
    * rewrites the snapshot through [[graft.io.Layout.replace]] (any
    * Hadoop path; checked renames, crash recovery), which stands in for a
    * table format's transactional commit (Delta/Iceberg MERGE on a
    * cluster); the merge itself
    * ([[graft.operators.Upsert.mergeByKey]]) is one anti-join + union,
    * shuffle-on-key at any scale. Latest-wins INSIDE a batch is resolved
    * deterministically: highest `seqCol` wins per key, and a (key, seqCol)
    * tie is broken by the remaining payload columns so a replayed batch —
    * whatever its row order — always converges to the same snapshot.
    * Non-orderable payload columns (maps, intervals) can't sort directly,
    * so they enter the tie-break as a deterministic surrogate —
    * `xxhash64(to_json(struct(col)))` — which depends only on the value,
    * never on partition layout; rows identical on every column remain
    * interchangeable, which is still convergent. */
  def mergeSink(
      stream: DataFrame,
      path: String,
      keys: Seq[String],
      seqCol: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        val spark = batch.sparkSession
        val tieBreak = batch.schema.fields.toSeq
          .filterNot(f => keys.contains(f.name) || f.name == seqCol)
          .map { f =>
            val orderable = org.apache.spark.sql.catalyst.expressions
              .RowOrdering.isOrderable(f.dataType)
            if (orderable) col(f.name).asc_nulls_first
            else xxhash64(to_json(struct(col(f.name)))).asc_nulls_first
          }
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(keys.map(col): _*)
          .orderBy(col(seqCol).desc +: tieBreak: _*)
        val latest = batch
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
        // the keyed merge is idempotent, so a batch replayed after a
        // crash converges whichever side of the swap the crash hit
        Layout.replace(spark, path) { tmp =>
          val merged =
            if (exists(spark, path)) graft.operators.Upsert.mergeByKey(
              spark.read.parquet(path), latest, keys)
            else latest
          merged.write.mode("overwrite").parquet(tmp)
        }
      }
      .start()

  /** Whether `path` exists, asked through its Hadoop filesystem: a
    * java.io.File check is always false for hdfs:// or s3a:// paths. */
  private def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Streaming DSIR quality gate: score each micro-batch's documents
    * against a FROZEN bucket-log-ratio frame
    * ([[graft.operators.Selection.bucketLogRatios]], trained offline on
    * a raw/target corpus pair and written to `ratiosPath`) and keep only
    * docs with `log_w >= minLogW` — the serve-time twin of the
    * q179/q183 batch selection: train the weights once on the curated
    * pair, then gate the live ingest with them. Scoring is
    * [[graft.operators.Selection.scoreAgainst]] — the IDENTICAL
    * arithmetic — so a doc passes the stream gate iff the batch scorer
    * keeps it (EventStreamsSpec pins the parity row-for-row).
    *
    * State: NONE beyond the checkpoint. The ratio frame is re-read per
    * micro-batch (a retrained frame is picked up at the next trigger —
    * the [[enrichWithDim]] refresh contract) and BROADCASTS (it is
    * B-bounded by construction); the per-batch job is the batch
    * scorer's plan at batch size. `numBuckets` must equal the value the
    * frame was trained with — the caller's manifest-level contract
    * ([[graft.operators.Selection.scoreAgainst]]'s scaladoc).
    *
    * Exactly-once without an index: each batch OVERWRITES its own
    * `batch_id=N` partition directory, so a replayed batch (restart,
    * at-least-once upstream) rewrites the same files instead of
    * appending duplicates; readers take `outPath` as one partitioned
    * table. Unscored docs (no grams → NULL log_w) fail every threshold
    * and drop unless `keepUnscored` — set it when "no lexical signal"
    * should pass the gate rather than die at it. `idCol` must be unique
    * and non-null within a batch (the sampler uniqueness contract):
    * the payload rejoin is an equi-join on it. */
  def dsirFilterSink(
      docs: DataFrame,
      ratiosPath: String,
      outPath: String,
      checkpoint: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      numBuckets: Int = 1024,
      minLogW: Double = 0.0,
      keepUnscored: Boolean = false): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val spark = batch.sparkSession
        val ratios = spark.read.parquet(ratiosPath)
        // persist: the payload rejoin is a self-join (both legs derive
        // from the batch), so without it every trigger reads the
        // batch's input twice — once through the gram explode, once
        // for the payload side
        val b = batch.toDF().persist()
        try {
          val scored = graft.operators.Selection.scoreAgainst(
            ratios, b, idCol, textCol, numBuckets)
          val pass =
            if (keepUnscored) col("log_w").isNull || col("log_w") >= minLogW
            else col("log_w") >= minLogW
          val kept = b.join(
            scored.filter(pass).select(col(idCol), col("log_w")),
            Seq(idCol))
          kept.write.mode("overwrite")
            .parquet(s"$outPath/batch_id=$batchId")
        } finally { b.unpersist(); () }
      }.start()

  /** Streaming NEAR-dup filter — the continuous-ingest dedup shape: each
    * micro-batch of documents is (1) internally deduplicated (OPH
    * MinHash-LSH pairs → connected components → keep-one representative)
    * and (2) checked against a PERSISTED bucket index of everything
    * already accepted; a new doc that near-matches an accepted doc is
    * dropped (first-accepted-wins). Survivors are appended to the output,
    * and their buckets + texts are appended to the index state — so
    * per-batch cost scales with the BATCH, never the accumulated corpus
    * (the [[graft.operators.Dedup.incrementalOphNearDups]] argument).
    *
    * State layout under `statePath`: `buckets.parquet` (the LSH index —
    * (id, __band, __bucket), equi-joinable at any scale) and
    * `docs.parquet` ((id, text) for the exact-Jaccard verify of
    * candidate pairs only). Both are APPEND-only on the batch path: no
    * batch rewrites corpus-sized state as part of processing. Index
    * MAINTENANCE is separate and threshold-triggered: once a dir
    * accumulates more than `compactIndexAboveFiles` parquet data files
    * (one fragment set lands per batch — at continuous ingest that is
    * thousands of small files, the classic listing/open-cost killer for
    * exactly the reads every batch pays), it is compacted into ~128 MB
    * files by [[graft.io.Layout.compact]]; every batch first runs
    * [[graft.io.Layout.recover]] on both index dirs and the manifest.
    *
    * Delivery: at-least-once on the output (a batch replayed after a
    * crash re-appends its survivors — replay recomputes the SAME
    * survivor set, because a doc's own index entries are excluded by id
    * equality, so duplicates are exact row-level copies a downstream
    * exact dedup or [[mergeSink]]-style keyed merge removes; duplicate
    * index entries only inflate bucket counts toward the maxBucketSize
    * guardrail, never change candidate pairs, which are distinct).
    *
    * Policy notes: batch-internal clusters keep their MIN id (the
    * [[graft.operators.Dedup.keepClusterRepresentatives]] contract);
    * recall is the LSH operating point's (raise bands for more).
    *
    * SINGLE-ACCESSOR CONTRACT: `statePath` is owned exclusively by
    * this sink — [[graft.io.Layout.replace]]'s contract, extended to the
    * state dirs the checkpoint describes. Query the OUTPUT (`outPath`)
    * instead, or stop the stream first. */
  def nearDupFilterSink(
      docs: DataFrame,
      outPath: String,
      statePath: String,
      checkpoint: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      numSlots: Int = 64,
      bands: Int = 16,
      shingleSize: Int = 3,
      threshold: Double = 0.8,
      maxBucketSize: Int = 1000,
      compactIndexAboveFiles: Int = 64): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        import graft.operators.Dedup
        val spark = batch.sparkSession
        val hconf = spark.sparkContext.hadoopConfiguration
        val bucketsDir = s"$statePath/buckets.parquet"
        val docsDir = s"$statePath/docs.parquet"
        val paramsFile = s"$statePath/_GRAFT_LSH_PARAMS"
        // finish/undo any swap a crash interrupted BEFORE the state is read
        Seq(bucketsDir, docsDir, paramsFile).foreach(Layout.recover(spark, _))
        // LSH parameters are part of the index format: a restart with
        // different bands/slots/shingles produces same-TYPE buckets that
        // match (near) nothing against the old index — invisible to the
        // __bucket type guard, so pin them in a manifest and fail fast.
        val params = s"oph,$numSlots,$bands,$shingleSize"
        val pfs = new Path(paramsFile).getFileSystem(hconf)
        val bucketsDirExists = exists(spark, bucketsDir)
        // Atomic manifest write: create-then-write leaves an EMPTY file
        // if the process dies between create and close, and every later
        // restart — even a correctly configured one — would then fail
        // the stored==params check with a misleading "built with params
        // []". Layout.replace renames the finished write into place, so
        // the manifest is either absent or complete.
        def writeManifest(): Unit = Layout.replace(spark, paramsFile) { tmp =>
          val outS = pfs.create(new Path(tmp), true)
          try outS.write(params.getBytes("UTF-8")) finally outS.close()
        }
        val stored: Option[String] =
          if (!exists(spark, paramsFile)) None
          else {
            val in = pfs.open(new Path(paramsFile))
            Some(try scala.io.Source.fromInputStream(in, "UTF-8")
              .mkString.trim finally in.close())
          }
        stored match {
          case Some(s) if s.nonEmpty =>
            require(s == params,
              s"near-dup index at $statePath was built with LSH params " +
                s"[$s] but this sink is configured with [$params] — " +
                "same-type buckets under different params silently match " +
                "nothing; rebuild the index or restore the original params")
          case Some(_) =>
            // Empty manifest = a torn legacy write. With no index built
            // yet it is safely absent — rewrite it; with an index it is
            // exactly the unverifiable-params case below.
            require(!bucketsDirExists,
              s"near-dup index at $statePath has an EMPTY LSH-params " +
                "manifest (torn write) — its build parameters cannot be " +
                "verified. Restore _GRAFT_LSH_PARAMS " +
                "(family,slots,bands,shingleSize) from the original job " +
                "config, or rebuild the index.")
            writeManifest()
          case None =>
            // An index WITHOUT a manifest must not silently adopt this
            // sink's params as truth: if the restart is the misconfigured
            // one, the manifest would pin the WRONG params and a later
            // correctly-configured restart would be the one that fails.
            require(!bucketsDirExists,
              s"near-dup index at $statePath predates the LSH-params " +
                "manifest — its build parameters cannot be verified. " +
                "Write _GRAFT_LSH_PARAMS (family,slots,bands,shingleSize) " +
                "from the original job config, or rebuild the index.")
            writeManifest()
        }
        val b = batch.persist()
        // ONE bucket pass serves all three uses (internal dedup,
        // cross-check, index append) — the sketch is the dominant
        // per-batch cost and must not be paid three times
        val bBuckets = Dedup.ophPortableBuckets(b, idCol, textCol,
          numSlots, bands, shingleSize).persist()
        var reps: DataFrame = null
        var sv: DataFrame = null
        try {
          if (b.count() > 0) {
            // (1) batch-internal keep-one. pinVerifyFanout = false
            // (round 21, ADVICE r20): the pin repartitions to the FULL
            // session shuffle parallelism, sized for batch corpora —
            // on a usually-tiny micro-batch candidate set it costs AQE
            // coalescing and the map-side partial distinct per batch
            // for parallelism the batch can't use. Same opt-out as the
            // stage-count-heavy Curation composite.
            val internal = Dedup.jaccardVerify(
              Dedup.candidatePairs(bBuckets, idCol, maxBucketSize,
                pinVerifyFanout = false),
              b, idCol, textCol, shingleSize, threshold)
            reps = Dedup.keepClusterRepresentatives(b, idCol, internal)
              .persist()
            val repIds = reps.select(col(idCol))
            // (2) cross-check reps against the accepted-corpus index
            val survivors =
              if (!exists(spark, bucketsDir)) reps
              else {
                val oldBuckets = spark.read.parquet(bucketsDir)
                val oldDocs = spark.read.parquet(docsDir)
                // newDocs must match the index's (id, text) schema: the
                // incremental verify unions old and new doc frames, and
                // a stream carrying ANY extra column would fail that
                // union on every post-first batch
                val pairs = Dedup.incrementalNearDupsFromBuckets(
                  bBuckets.join(repIds, Seq(idCol), "left_semi"),
                  reps.select(col(idCol), col(textCol)),
                  oldDocs, oldBuckets, idCol, textCol,
                  shingleSize, threshold, maxBucketSize)
                val oldIds = oldDocs.select(col(idCol))
                // a NEW endpoint paired with an OLD endpoint is dropped;
                // (new, new) residuals among representatives survive —
                // same contract as the batch keep-one
                val aOld = pairs.join(oldIds.withColumnRenamed(idCol, "id_a"),
                  Seq("id_a"), "left_semi").select(col("id_b").as(idCol))
                val bOld = pairs.join(oldIds.withColumnRenamed(idCol, "id_b"),
                  Seq("id_b"), "left_semi").select(col("id_a").as(idCol))
                val dropNew = aOld.unionByName(bOld)
                  .join(oldIds, Seq(idCol), "left_anti").distinct()
                reps.join(dropNew, Seq(idCol), "left_anti")
              }
            sv = survivors.persist()
            sv.select(col(idCol), col(textCol))
              .write.mode("append").parquet(docsDir)
            bBuckets.join(sv.select(col(idCol)), Seq(idCol), "left_semi")
              .write.mode("append").parquet(bucketsDir)
            sv.write.mode("append").parquet(outPath)
            // Threshold-triggered index maintenance: each batch appends
            // one parquet fragment set to both index dirs, and at
            // continuous ingest thousands of small files are the classic
            // listing/open-cost killer for exactly the reads every batch
            // pays. Compact once the data-file count crosses the
            // threshold; a compaction failure throws, the batch replays,
            // and the recovery above makes the replay see a consistent
            // index either way.
            Seq(bucketsDir, docsDir).foreach { dir =>
              val p = new Path(dir)
              val nData = p.getFileSystem(hconf).listStatus(p).count { f =>
                val n = f.getPath.getName
                f.isFile && !n.startsWith("_") && !n.startsWith(".")
              }
              if (nData > compactIndexAboveFiles) Layout.compact(spark, dir)
            }
          }
        } finally {
          if (sv != null) sv.unpersist()
          if (reps != null) reps.unpersist()
          bBuckets.unpersist()
          b.unpersist()
          ()
        }
        ()
      }
      .start()

  /** Stream-stream interval join: each click matched to purchases by the
    * same user within `maxDelay` AFTER the click. Both sides carry
    * watermarks so the join state is bounded (Spark retains only rows
    * inside watermark + interval). */
  def clickPurchaseJoin(
      events: DataFrame,
      maxDelay: String = "30 minutes"): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("click_user"),
        col("event_id").as("click_id"),
        col("event_time").as("click_time"))
      .withWatermark("click_time", "1 hour")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("purchase_user"),
        col("event_id").as("purchase_id"),
        col("value").as("purchase_value"),
        col("event_time").as("purchase_time"))
      .withWatermark("purchase_time", "1 hour")
    clicks.join(purchases,
      col("click_user") === col("purchase_user") &&
        col("purchase_time") >= col("click_time") &&
        col("purchase_time") <= col("click_time") + expr(s"INTERVAL $maxDelay"))
      .select(col("click_user").as("user_id"), col("click_id"),
        col("purchase_id"), col("purchase_value"),
        col("click_time"), col("purchase_time"))
  }

  final case class SessionEvent(
      user_id: Long, ts_ns: Long, value: Double)
  final case class SessionState(
      startNs: Long, endNs: Long, n: Int, total: Double)
  final case class UserSession(
      user_id: Long, start_ns: Long, end_ns: Long,
      n_events: Int, total_value: Double)

  implicit private val seEnc: Encoder[SessionEvent] =
    Encoders.product[SessionEvent]
  implicit private val ssEnc: Encoder[SessionState] =
    Encoders.product[SessionState]
  implicit private val usEnc: Encoder[UserSession] =
    Encoders.product[UserSession]

  /** Gap-based sessionization with custom state
    * (`flatMapGroupsWithState`): a session closes when the next event for
    * the user arrives more than `gap` after the previous one (emitted
    * immediately), or when the state times out past the watermark (the
    * trailing session). State per user is O(1). */
  def sessionize(
      events: DataFrame,
      gapNs: Long): Dataset[UserSession] = {
    val spark = events.sparkSession
    import spark.implicits._
    // ts_ns is derived from the normalized event_time (µs-truncated ticks
    // × 1000), not the raw ts column — so either fixture shape works; the
    // ns unit is kept for the gapNs/state contract. Sub-µs precision was
    // never real data (the nanos fixtures' sub-µs digits were zero).
    val typed = events
      .select(col("user_id"),
        (unix_micros(col("event_time")) * lit(1000L)).as("ts_ns"),
        col("value"))
      .as[SessionEvent]

    def fn(userId: Long, it: Iterator[SessionEvent],
        state: GroupState[SessionState]): Iterator[UserSession] = {
      // events within a batch are not time-ordered; sort this group's slice
      val evs = it.toSeq.sortBy(_.ts_ns)
      var cur = state.getOption
      val out = Seq.newBuilder[UserSession]
      if (state.hasTimedOut) {
        cur.foreach(s =>
          out += UserSession(userId, s.startNs, s.endNs, s.n, s.total))
        state.remove()
        cur = None
      }
      evs.foreach { e =>
        cur = cur match {
          case Some(s) if e.ts_ns - s.endNs <= gapNs =>
            Some(SessionState(s.startNs, e.ts_ns, s.n + 1, s.total + e.value))
          case Some(s) => // gap exceeded: close previous, open new
            out += UserSession(userId, s.startNs, s.endNs, s.n, s.total)
            Some(SessionState(e.ts_ns, e.ts_ns, 1, e.value))
          case None =>
            Some(SessionState(e.ts_ns, e.ts_ns, 1, e.value))
        }
      }
      cur.foreach { s =>
        state.update(s)
        if (!state.hasTimedOut && evs.nonEmpty)
          state.setTimeoutTimestamp(
            s.endNs / 1000000L + gapNs / 1000000L, "30 seconds")
      }
      out.result().iterator
    }

    typed
      .withColumn("event_time", expr("timestamp_micros(ts_ns DIV 1000)"))
      .withWatermark("event_time", "1 hour")
      .as[SessionEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fn _)
  }
}
