package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.streaming.EventStreams

/** JVM-static failure switch for the mid-batch kill test: executor
  * threads (same JVM under local[n]) read it inside the batch's write
  * action, so arming it makes the NEXT batch die mid-write. */
object MergeFailureInjector {
  val armed = new java.util.concurrent.atomic.AtomicBoolean(false)
}

class EventStreamsSpec extends SparkTestBase {
  import spark.implicits._

  private def mkEventsDir(
      rows: Seq[(Long, Long, Long, String, Double, String)]): String = {
    val dir = Files.createTempDirectory("graft_events").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    dir
  }

  test("readEventStream starts on an EMPTY landing dir and picks up " +
      "the first files (contract-schema fallback)") {
    val dir = Files.createTempDirectory("graft_empty").toString
    // nothing to peek yet: the reader must fall back to eventSchema
    val stream = EventStreams.readEventStream(spark, dir)
    val q = EventStreams.windowedCounts(stream)
      .writeStream.format("memory").queryName("wce")
      .outputMode("update").start()
    try {
      q.processAllAvailable()
      assert(spark.sql("SELECT * FROM wce").count() == 0)
      // first files land AFTER the stream started — current fixture shape
      Files.copy(java.nio.file.Paths.get(s"$sf001/events.parquet"),
        java.nio.file.Paths.get(dir, "events.parquet"))
      q.processAllAvailable()
      assert(spark.sql("SELECT * FROM wce").count() > 0)
    } finally q.stop()
  }

  test("peek ignores parquet under hidden/temp ANCESTOR dirs " +
      "(in-flight _temporary writes are not data)") {
    val dir = Files.createTempDirectory("graft_hidden").toString
    // an aborted/in-flight write's part file under _temporary/: the
    // batch reader spark.read.parquet(dir) ignores it, so the peek must
    // too — counting it as data sends schema inference into a directory
    // the reader sees as empty, which fails hard where the contract
    // fallback would have worked
    val tmp = java.nio.file.Paths.get(dir, "_temporary", "0", "task-0")
    Files.createDirectories(tmp)
    Files.copy(java.nio.file.Paths.get(s"$sf001/events.parquet"),
      tmp.resolve("part-0.parquet"))
    val stream = EventStreams.readEventStream(spark, dir) // must not throw
    // fallback means the contract schema was declared
    assert(stream.schema.fieldNames.contains("event_time"))
    // and a REAL file at the top level still counts as data: the same
    // walk that skips hidden ancestors must find it
    Files.copy(java.nio.file.Paths.get(s"$sf001/events.parquet"),
      java.nio.file.Paths.get(dir, "events.parquet"))
    val stream2 = EventStreams.readEventStream(spark, dir)
    assert(stream2.schema.fieldNames.contains("event_time"))
  }

  test("dsirFilterSink: the stream gate equals the batch scorer, " +
      "unscored docs drop (or pass with keepUnscored), restarts add " +
      "no duplicates") {
    import graft.operators.Selection
    val root = Files.createTempDirectory("graft_dsirsink").toString
    val srcDir = s"$root/in"
    Files.createDirectories(java.nio.file.Paths.get(srcDir))
    // frozen ratios trained OFFLINE on a raw/target pair
    val trainRaw = Seq("alpha beta", "alpha beta", "gamma delta epsilon",
      "x y z w", "x y z").toDF("text")
    val trainTgt = Seq("alpha beta", "alpha beta gamma").toDF("text")
    val ratiosPath = s"$root/ratios"
    Selection.bucketLogRatios(trainRaw, trainTgt, "text", 64)
      .write.parquet(ratiosPath)
    def addFile(n: String, rows: Seq[(Long, String)]): Unit = {
      val tmp = s"$root/$n"
      rows.toDF("doc_id", "text").coalesce(1).write.parquet(tmp)
      val f = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(f.toPath, java.nio.file.Paths.get(srcDir, s"$n.parquet"))
    }
    def stream = spark.readStream
      .schema("doc_id LONG, text STRING").parquet(srcDir)
    val out = s"$root/out"; val cp = s"$root/cp"
    addFile("b1", Seq((1L, "alpha beta"), (2L, "x y z w"), (3L, "")))
    val q = EventStreams.dsirFilterSink(stream, ratiosPath, out, cp,
      numBuckets = 64, minLogW = 0.0)
    try {
      q.processAllAvailable()
      addFile("b2", Seq((4L, "alpha beta gamma"), (5L, "w w w w")))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(out)
    // exactly the docs the BATCH scorer keeps at the same threshold,
    // with the same log_w values
    val expect = Selection.scoreAgainst(
        spark.read.parquet(ratiosPath),
        spark.read.parquet(srcDir).toDF("doc_id", "text"),
        "doc_id", "text", 64)
      .filter(col("log_w") >= 0.0)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val gotMap = got.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("log_w")).toMap
    assert(gotMap === expect)
    assert(!gotMap.contains(3L), "unscored (empty-text) doc dropped")
    assert(got.columns.toSet ===
      Set("doc_id", "text", "log_w", "batch_id"))
    // restart from the same checkpoint: committed batches do not
    // reprocess; a new file lands exactly once
    addFile("b3", Seq((6L, "alpha beta"), (7L, "z z z")))
    val q2 = EventStreams.dsirFilterSink(stream, ratiosPath, out, cp,
      numBuckets = 64, minLogW = 0.0)
    try q2.processAllAvailable() finally q2.stop()
    val after = spark.read.parquet(out).select("doc_id")
      .as[Long].collect().toSeq
    assert(after.size === after.distinct.size, "no replay duplicates")
    // still exactly the batch scorer's keep-set over ALL landed files
    val expectAfter = Selection.scoreAgainst(
        spark.read.parquet(ratiosPath),
        spark.read.parquet(srcDir).toDF("doc_id", "text"),
        "doc_id", "text", 64)
      .filter(col("log_w") >= 0.0)
      .select("doc_id").as[Long].collect().toSet
    assert(after.toSet === expectAfter)
    assert(expectAfter.nonEmpty, "fixture must keep at least one doc")
    // keepUnscored: the no-signal doc passes the gate with NULL log_w
    val q3 = EventStreams.dsirFilterSink(stream, ratiosPath,
      s"$root/out2", s"$root/cp2", numBuckets = 64, minLogW = 0.0,
      keepUnscored = true)
    try q3.processAllAvailable() finally q3.stop()
    val kept2 = spark.read.parquet(s"$root/out2")
    val row3 = kept2.filter(col("doc_id") === 3L).collect()
    assert(row3.length === 1 && row3.head.isNullAt(
      kept2.columns.indexOf("log_w")))
  }

  test("nearDupFilterSink: continuous-ingest near-dedup across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sqlContext
    val in = MemoryStream[(Long, String)]
    val base = Files.createTempDirectory("graft_neardup").toString
    val out = s"$base/out"; val state = s"$base/state"; val cp = s"$base/cp"
    val q = EventStreams.nearDupFilterSink(
      in.toDF().toDF("doc_id", "text"), out, state, cp,
      numSlots = 16, bands = 4, shingleSize = 1, threshold = 0.8)
    try {
      // batch 1: two distinct docs + an in-batch near-dup of doc 1
      in.addData(
        (1L, "alpha beta gamma delta epsilon zeta"),
        (2L, "alpha beta gamma delta epsilon zeta"), // exact dup of 1
        (10L, "one two three four five six seven"))
      q.processAllAvailable()
      val r1 = spark.read.parquet(out).select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(r1 == Set(1L, 10L)) // in-batch cluster keeps min id
      // batch 2: a near-dup of an ACCEPTED doc + one genuinely new doc
      in.addData(
        (20L, "alpha beta gamma delta epsilon zeta"), // dups accepted 1
        (30L, "completely different words here entirely now"))
      q.processAllAvailable()
      val r2 = spark.read.parquet(out).select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(r2 == Set(1L, 10L, 30L)) // 20 dropped vs the index
      // the index state grew append-only and holds exactly the accepted
      val idx = spark.read.parquet(s"$state/docs.parquet")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(idx == Set(1L, 10L, 30L))
    } finally q.stop()
    // a stream carrying EXTRA columns beyond (id, text) must keep
    // working after the index exists: the cross-check's doc union is
    // against the 2-column index schema (regression — full-schema reps
    // made every post-first batch die on a union-width mismatch)
    val in3 = MemoryStream[(Long, String, Long)]
    val base3 = Files.createTempDirectory("graft_neardup3").toString
    val q3 = EventStreams.nearDupFilterSink(
      in3.toDF().toDF("doc_id", "text", "extra"),
      s"$base3/out", s"$base3/state", s"$base3/cp",
      numSlots = 16, bands = 4, shingleSize = 1, threshold = 0.8)
    try {
      in3.addData((1L, "alpha beta gamma delta", 7L))
      q3.processAllAvailable()
      in3.addData((2L, "alpha beta gamma delta", 8L), // dups accepted 1
        (3L, "totally unrelated wording here", 9L))
      q3.processAllAvailable() // must not throw
      val out3 = spark.read.parquet(s"$base3/out")
      assert(out3.columns.toSet == Set("doc_id", "text", "extra"))
      assert(out3.select("doc_id").collect().map(_.getLong(0)).toSet ==
        Set(1L, 3L))
    } finally q3.stop()
    // restarting against the same index with DIFFERENT LSH params must
    // fail fast: same-type buckets under other params silently match
    // nothing, which the params manifest exists to catch
    val in2 = MemoryStream[(Long, String)]
    val q2 = EventStreams.nearDupFilterSink(
      in2.toDF().toDF("doc_id", "text"), out, state, s"$base/cp2",
      numSlots = 16, bands = 2, shingleSize = 1, threshold = 0.8)
    try {
      in2.addData((40L, "whatever text this is now"))
      val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
      }
      def msgs(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(e =>
          Option(e.getMessage).toSeq ++ msgs(e.getCause))
      assert(msgs(err).exists(_.contains("LSH params")))
    } finally q2.stop()
  }

  test("nearDupFilterSink: survivors equal the batch incremental " +
      "composition, and replaying batch 2 is survivor-stable") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Dedup
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sqlContext
    // seeded corpus: in-batch dups, cross-batch dups of accepted docs,
    // fresh docs — shingleSize=1/threshold=0.8 makes same-word docs dups
    val b1 = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"), // in-batch dup of 1
      (3L, "one two three four five six seven"),
      (4L, "completely different content right here"))
    val b2 = Seq(
      (10L, "alpha beta gamma delta epsilon zeta"), // dups accepted 1
      (11L, "one two three four five six seven"), // dups accepted 3
      (12L, "fresh new wording appears only here"),
      (13L, "fresh new wording appears only here")) // in-batch dup of 12
    val in = MemoryStream[(Long, String)]
    val base = Files.createTempDirectory("graft_ndp").toString
    val out = s"$base/out"; val state = s"$base/state"
    val q = EventStreams.nearDupFilterSink(
      in.toDF().toDF("doc_id", "text"), out, state, s"$base/cp",
      numSlots = 16, bands = 4, shingleSize = 1, threshold = 0.8)
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    val sinkSurvivors = ids(spark.read.parquet(out))

    // BATCH ORACLE: the same split through the batch operators the sink
    // composes — internal keep-one per batch, then the incremental
    // cross-check against the accepted index, dropping any NEW endpoint
    // paired with an OLD one (the q135-style incremental contract).
    def keepOne(df: org.apache.spark.sql.DataFrame) =
      Dedup.keepClusterRepresentatives(df, "doc_id",
        Dedup.jaccardVerify(
          Dedup.candidatePairs(
            Dedup.ophPortableBuckets(df, "doc_id", "text", 16, 4, 1),
            "doc_id"),
          df, "doc_id", "text", 1, 0.8))
    val d1 = b1.toDF("doc_id", "text")
    val d2 = b2.toDF("doc_id", "text")
    val s1 = keepOne(d1)
    val reps2 = keepOne(d2)
    val crossPairs = Dedup.incrementalOphNearDups(
      reps2, s1.select("doc_id", "text"),
      Dedup.ophPortableBuckets(s1, "doc_id", "text", 16, 4, 1),
      "doc_id", "text", 16, 4, 1, 0.8)
    val oldIds = s1.select("doc_id")
    val dropNew = crossPairs
      .join(oldIds.withColumnRenamed("doc_id", "id_a"), Seq("id_a"),
        "left_semi").select(col("id_b").as("doc_id"))
      .unionByName(crossPairs
        .join(oldIds.withColumnRenamed("doc_id", "id_b"), Seq("id_b"),
          "left_semi").select(col("id_a").as("doc_id")))
      .join(oldIds, Seq("doc_id"), "left_anti").distinct()
    val s2 = reps2.join(dropNew, Seq("doc_id"), "left_anti")
    val batchSurvivors = ids(s1) ++ ids(s2)
    assert(sinkSurvivors == batchSurvivors,
      s"sink $sinkSurvivors != batch composition $batchSurvivors")
    assert(sinkSurvivors == Set(1L, 3L, 4L, 12L)) // sanity: seeded truth

    // CRASH-REPLAY of batch 2: a fresh checkpoint replays the batch
    // against an index that already holds batch 2's survivors. Replay
    // must recompute the SAME survivor set (a doc's own index entries
    // are excluded by id equality) — at-least-once means duplicate ROW
    // copies in the output, never a different survivor set.
    val in2 = MemoryStream[(Long, String)]
    val q2 = EventStreams.nearDupFilterSink(
      in2.toDF().toDF("doc_id", "text"), out, state, s"$base/cp_replay",
      numSlots = 16, bands = 4, shingleSize = 1, threshold = 0.8)
    try {
      in2.addData(b2: _*); q2.processAllAvailable()
    } finally q2.stop()
    assert(ids(spark.read.parquet(out)) == batchSurvivors)
    assert(ids(spark.read.parquet(s"$state/docs.parquet")) == batchSurvivors)
  }

  test("nearDupFilterSink: index compaction bounds file count with " +
      "identical filter behavior") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sqlContext
    val in = MemoryStream[(Long, String)]
    val base = Files.createTempDirectory("graft_ndc").toString
    val out = s"$base/out"; val state = s"$base/state"
    val q = EventStreams.nearDupFilterSink(
      in.toDF().toDF("doc_id", "text"), out, state, s"$base/cp",
      numSlots = 16, bands = 4, shingleSize = 1, threshold = 0.8,
      compactIndexAboveFiles = 2)
    def dataFiles(dir: String): Int =
      Option(new java.io.File(dir).listFiles()).map(_.count { f =>
        f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith(".")
      }).getOrElse(0)
    try {
      // many small batches: uncompacted, each appends a fragment set
      (0 until 6).foreach { i =>
        in.addData((100L + i, s"unique document number $i with words w$i"))
        q.processAllAvailable()
      }
      val bucketFiles = dataFiles(s"$state/buckets.parquet")
      val docFiles = dataFiles(s"$state/docs.parquet")
      // threshold 2 → compaction fires repeatedly; without it 6 batches
      // leave >= 6 fragments per dir
      assert(bucketFiles <= 4, s"buckets.parquet holds $bucketFiles files")
      assert(docFiles <= 4, s"docs.parquet holds $docFiles files")
      // no swap debris
      assert(!new java.io.File(s"$state/buckets.parquet.bak").exists())
      assert(!new java.io.File(s"$state/buckets.parquet.compact").exists())
      // filter behavior over the COMPACTED index is unchanged: a
      // near-dup of the first accepted doc is still dropped, a fresh
      // doc still accepted
      in.addData((200L, "unique document number 0 with words w0"),
        (201L, "entirely novel content never seen"))
      q.processAllAvailable()
      val got = spark.read.parquet(out).select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(got == (0 until 6).map(100L + _).toSet + 201L)
    } finally q.stop()
  }

  test("nearDupFilterSink: empty (torn) LSH manifest with no index is " +
      "rewritten; with an index it fails fast") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sqlContext
    // case 1: empty manifest, no index yet — a crash between create and
    // close must not brick every restart; the manifest is rewritten
    val base = Files.createTempDirectory("graft_ndm").toString
    val state = s"$base/state"
    new java.io.File(state).mkdirs()
    Files.write(java.nio.file.Paths.get(s"$state/_GRAFT_LSH_PARAMS"),
      Array.empty[Byte])
    val in = MemoryStream[(Long, String)]
    val q = EventStreams.nearDupFilterSink(
      in.toDF().toDF("doc_id", "text"), s"$base/out", state, s"$base/cp",
      numSlots = 16, bands = 4, shingleSize = 1, threshold = 0.8)
    try {
      in.addData((1L, "some words here"))
      q.processAllAvailable() // must not throw
      val stored = new String(Files.readAllBytes(
        java.nio.file.Paths.get(s"$state/_GRAFT_LSH_PARAMS")), "UTF-8")
      assert(stored == "oph,16,4,1")
    } finally q.stop()
    // case 2: empty manifest but the index EXISTS — params unverifiable,
    // fail fast instead of guessing
    Files.write(java.nio.file.Paths.get(s"$state/_GRAFT_LSH_PARAMS"),
      Array.empty[Byte])
    val in2 = MemoryStream[(Long, String)]
    val q2 = EventStreams.nearDupFilterSink(
      in2.toDF().toDF("doc_id", "text"), s"$base/out", state, s"$base/cp2",
      numSlots = 16, bands = 4, shingleSize = 1, threshold = 0.8)
    try {
      in2.addData((2L, "other words instead"))
      val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
      }
      def msgs(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(e =>
          Option(e.getMessage).toSeq ++ msgs(e.getCause))
      assert(msgs(err).exists(_.contains("EMPTY LSH-params")))
    } finally q2.stop()
  }

  test("windowedCounts over a file stream matches the batch aggregate") {
    // streaming file source needs a directory: stage the single parquet
    val dir = Files.createTempDirectory("graft_wc").toString
    Files.copy(java.nio.file.Paths.get(s"$sf001/events.parquet"),
      java.nio.file.Paths.get(dir, "events.parquet"))
    // batch truth straight from the parquet (hour buckets via the same
    // EventTime normalization the stream reader uses)
    val all = spark.read.parquet(s"$dir/events.parquet")
    val batch = all
      .groupBy(date_trunc("hour", graft.operators.EventTime.tsTimestamp(all))
        .as("window_start"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.get(0).toString, r.getString(1)) -> r.getLong(2))
      .toMap

    val stream = EventStreams.readEventStream(spark, dir)
    val q = EventStreams.windowedCounts(stream)
      .writeStream.format("memory").queryName("wc")
      .outputMode("update").start()
    try {
      q.processAllAvailable()
      val got = spark.sql("SELECT * FROM wc")
        .collect().map(r => (r.get(0).toString, r.getString(1)) -> r.getLong(2))
        .toMap
      assert(got == batch)
    } finally q.stop()
  }

  test("windowedQuantiles over a file stream match exact batch " +
      "percentiles per window") {
    val dir = Files.createTempDirectory("graft_wq").toString
    Files.copy(java.nio.file.Paths.get(s"$sf001/events.parquet"),
      java.nio.file.Paths.get(dir, "events.parquet"))
    // exact percentile_disc truth per (hour window, type): event counts
    // per group sit far under sketchK, so the sketch must be EXACT
    val all = spark.read.parquet(s"$dir/events.parquet")
    val batch = all
      .groupBy(date_trunc("hour", graft.operators.EventTime.tsTimestamp(all))
        .as("window_start"), col("event_type"))
      .agg(expr("percentile(value, array(0.5, 0.95), 1)").as("exact"),
        collect_list(col("value")).as("vals"))
      .collect().map { r =>
        val vals = r.getSeq[Double](3).sorted
        def disc(q: Double) =
          vals(math.max(1, math.ceil(q * vals.size).toInt) - 1)
        (r.get(0).toString, r.getString(1)) -> ((disc(0.5), disc(0.95)))
      }.toMap
    val stream = EventStreams.readEventStream(spark, dir)
    val q = EventStreams.windowedQuantiles(stream,
        probs = Seq(0.5, 0.95))
      .writeStream.format("memory").queryName("wq")
      .outputMode("update").start()
    try {
      q.processAllAvailable()
      val got = spark.sql("SELECT * FROM wq")
        .collect().map(r => (r.get(0).toString, r.getString(1)) ->
          ((r.getDouble(3), r.getDouble(4)))).toMap
      assert(got == batch)
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("windowedHeavyHitters: bounded state, MG superset guarantee " +
    "per window") {
    val dir = Files.createTempDirectory("graft_hh").toString
    Files.copy(java.nio.file.Paths.get(s"$sf001/events.parquet"),
      java.nio.file.Paths.get(dir, "events.parquet"))
    val capacity = 8
    // exact per-(hour, user) truth for the guarantee check
    val all = spark.read.parquet(s"$dir/events.parquet")
    val exact = all
      .groupBy(date_trunc("hour", graft.operators.EventTime.tsTimestamp(all))
        .as("window_start"), col("user_id"))
      .agg(count(lit(1)).as("cnt"))
      .collect().groupBy(_.get(0).toString)
      .view.mapValues(_.map(r => r.getLong(1) -> r.getLong(2)).toMap)
      .toMap
    val stream = EventStreams.readEventStream(spark, dir)
    val q = EventStreams.windowedHeavyHitters(stream,
        keyCol = "user_id", capacity = capacity)
      .writeStream.format("memory").queryName("whh")
      .outputMode("update").start()
    try {
      q.processAllAvailable()
      val got = spark.sql("SELECT * FROM whh").collect()
        .map(r => r.get(0).toString ->
          ((r.getLong(1), r.getSeq[Long](2)))).toMap
      assert(got.nonEmpty && got.keySet == exact.keySet)
      got.foreach { case (w, (n, cands)) =>
        assert(cands.length <= capacity, s"window $w state unbounded")
        assert(n === exact(w).values.sum)
        // every key above n/(capacity+1) must be in the candidates
        val mustHave = exact(w).collect {
          case (u, c) if c > n.toDouble / (capacity + 1) => u
        }
        mustHave.foreach(u => assert(cands.contains(u),
          s"window $w: heavy user $u missing from ${cands.toSeq}"))
      }
    } finally q.stop()
  }

  test("slidingCounts: overlapping windows match the batch assignment") {
    val dir = Files.createTempDirectory("graft_sw").toString
    Files.copy(java.nio.file.Paths.get(s"$sf001/events.parquet"),
      java.nio.file.Paths.get(dir, "events.parquet"))
    // batch truth: the SAME window() expansion in batch mode (each event
    // lands in 60/15 = 4 overlapping windows)
    val all = spark.read.parquet(s"$dir/events.parquet")
    val batch = all
      .withColumn("event_time",
        graft.operators.EventTime.tsTimestamp(all))
      .groupBy(window(col("event_time"), "1 hour", "15 minutes"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("event_type"), col("n"))
      .collect().map(r => (r.get(0).toString, r.getString(1)) -> r.getLong(2))
      .toMap
    val q = EventStreams.slidingCounts(
      EventStreams.readEventStream(spark, dir),
      windowLength = "1 hour", slide = "15 minutes")
      .writeStream.format("memory").queryName("sw")
      .outputMode("update").start()
    try {
      q.processAllAvailable()
      val got = spark.sql("SELECT * FROM sw")
        .collect().map(r => (r.get(0).toString, r.getString(1)) -> r.getLong(2))
        .toMap
      assert(got == batch)
      // genuinely overlapping: more window rows than a tumbling hour
      val tumbling = batch.keys.map(_._1).toSet.size
      assert(tumbling > 0 && got.keys.map(_._1).toSet.size >= tumbling)
    } finally q.stop()
  }

  test("dedupeStream drops duplicate event_ids within the watermark") {
    val h = 3600L * 1000000000L // 1h in ns
    val dir = mkEventsDir(Seq(
      (1L, h, 10L, "click", 1.0, "{}"),
      (1L, h + 1, 10L, "click", 1.0, "{}"), // dup id
      (2L, h + 2, 10L, "view", 2.0, "{}"),
      (3L, h + 3, 11L, "click", 3.0, "{}")))
    val q = EventStreams.dedupeStream(
      EventStreams.readEventStream(spark, dir))
      .writeStream.format("memory").queryName("dd")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val ids = spark.sql("SELECT event_id FROM dd")
        .collect().map(_.getLong(0)).sorted
      assert(ids.toSeq == Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("stream-static enrichment joins dim attributes without state") {
    val h = 3600L * 1000000000L
    val dir = mkEventsDir(Seq(
      (1L, h, 10L, "click", 1.0, "{}"),
      (2L, h + 1, 11L, "view", 2.0, "{}"),
      (3L, h + 2, 99L, "click", 3.0, "{}"))) // no dim row -> null attrs
    val dim = Seq((10L, "gold"), (11L, "basic"))
      .toDF("user_id", "tier")
    val q = EventStreams.enrichWithDim(
      EventStreams.readEventStream(spark, dir), dim, Seq("user_id"))
      .select(col("event_id"), col("tier"))
      .writeStream.format("memory").queryName("enrich")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.sql("SELECT event_id, tier FROM enrich")
        .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
      assert(got == Map(1L -> Some("gold"), 2L -> Some("basic"), 3L -> None))
    } finally q.stop()
  }

  test("observed counters surface per micro-batch in streaming progress") {
    val h = 3600L * 1000000000L
    val dir = mkEventsDir(Seq(
      (1L, h, 10L, "click", 1.0, "{}"),
      (2L, h + 1, 10L, "view", 2.0, "{}"),
      (3L, h + 2, 11L, "click", 3.0, "{}")))
    val observed = graft.operators.Quality.withCounters(
      EventStreams.readEventStream(spark, dir), "ingest", Map(
        "n_rows" -> count(lit(1)),
        "n_clicks" -> sum(when(col("event_type") === "click", 1L)
          .otherwise(0L))))
    val q = observed.writeStream.format("memory").queryName("obs")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val metrics = q.recentProgress.flatMap(p =>
        Option(p.observedMetrics.get("ingest"))).lastOption
      assert(metrics.nonEmpty, "no observed metrics in progress")
      assert(metrics.get.getAs[Long]("n_rows") == 3L)
      assert(metrics.get.getAs[Long]("n_clicks") == 2L)
    } finally q.stop()
  }

  test("mergeSink: replayed batches converge, latest-in-batch wins") {
    val h = 3600L * 1000000000L
    val root = Files.createTempDirectory("graft_merge").toString
    val src = s"$root/in"
    Files.createDirectories(java.nio.file.Paths.get(src))
    val sink = s"$root/snapshot"
    def addBatch(n: String,
        rows: Seq[(Long, Long, Long, String, Double, String)]): Unit = {
      val tmp = s"$root/$n"
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.parquet(tmp)
      val f = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(f.toPath, java.nio.file.Paths.get(src, s"$n.parquet"))
    }
    // batch 1: two keys; event 1 appears twice -> highest ts wins
    addBatch("b1", Seq(
      (1L, h, 10L, "click", 1.0, "{}"),
      (1L, h + 5, 10L, "click", 1.5, "{}"),
      (2L, h + 1, 11L, "view", 2.0, "{}")))
    val q = EventStreams.mergeSink(
      EventStreams.readEventStream(spark, src).drop("event_time"),
      sink, Seq("event_id"), "ts", s"$root/ckpt")
    try {
      q.processAllAvailable()
      val snap1 = spark.read.parquet(sink)
        .collect().map(r => r.getLong(0) -> r.getDouble(4)).toMap
      assert(snap1 == Map(1L -> 1.5, 2L -> 2.0))
      // batch 2: update key 2, add key 3
      addBatch("b2", Seq(
        (2L, h + 10, 11L, "view", 9.0, "{}"),
        (3L, h + 11, 12L, "purchase", 5.0, "{}")))
      q.processAllAvailable()
      val snap2 = spark.read.parquet(sink)
        .collect().map(r => r.getLong(0) -> r.getDouble(4)).toMap
      assert(snap2 == Map(1L -> 1.5, 2L -> 9.0, 3L -> 5.0))
      // row count stays keyed: no duplicate growth across batches
      assert(spark.read.parquet(sink).count() == 3)
    } finally q.stop()
    // restart from the same checkpoint with the same files: no re-merge
    // duplicates (offsets are committed) — the snapshot is unchanged
    val q2 = EventStreams.mergeSink(
      EventStreams.readEventStream(spark, src).drop("event_time"),
      sink, Seq("event_id"), "ts", s"$root/ckpt")
    try {
      q2.processAllAvailable()
      assert(spark.read.parquet(sink).count() == 3)
    } finally q2.stop()
  }

  test("mergeSink: a file: URI sink converges over two batches") {
    val h = 3600L * 1000000000L
    val root = Files.createTempDirectory("graft_merge_uri").toString
    val src = s"$root/in"
    Files.createDirectories(java.nio.file.Paths.get(src))
    val sink = s"file:$root/snapshot"
    def addBatch(n: String,
        rows: Seq[(Long, Long, Long, String, Double, String)]): Unit = {
      val tmp = s"$root/$n"
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.parquet(tmp)
      val f = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(f.toPath, java.nio.file.Paths.get(src, s"$n.parquet"))
    }
    def snapshot() = spark.read.parquet(sink)
      .collect().map(r => r.getLong(0) -> r.getDouble(4)).toMap
    addBatch("b1", Seq(
      (1L, h, 10L, "click", 1.0, "{}"),
      (2L, h + 1, 11L, "view", 2.0, "{}")))
    val q = EventStreams.mergeSink(
      EventStreams.readEventStream(spark, src).drop("event_time"),
      sink, Seq("event_id"), "ts", s"$root/ckpt")
    try {
      q.processAllAvailable()
      assert(snapshot() == Map(1L -> 1.0, 2L -> 2.0))
      addBatch("b2", Seq(
        (2L, h + 10, 11L, "view", 9.0, "{}"),
        (3L, h + 11, 12L, "purchase", 5.0, "{}")))
      q.processAllAvailable()
      assert(snapshot() == Map(1L -> 1.0, 2L -> 9.0, 3L -> 5.0))
      assert(spark.read.parquet(sink).count() == 3)
    } finally q.stop()
    assert(!new java.io.File(s"$root/snapshot.bak").exists())
    assert(!new java.io.File(s"$root/snapshot.compact").exists())
  }

  test("mergeSink: a query killed MID-BATCH replays and converges") {
    // Harder than restart-at-boundary: the failure happens inside the
    // batch's own write action (a poison row throws while `merged` is
    // being computed into the tmp dir), so the batch dies with tmp
    // partially written and the checkpoint NOT committed. The snapshot
    // swap is rename-based, so the published snapshot must be untouched
    // by the failed attempt, and a restarted query must replay the SAME
    // batch to the converged result.
    val h = 3600L * 1000000000L
    val root = Files.createTempDirectory("graft_merge_kill").toString
    val src = s"$root/in"
    Files.createDirectories(java.nio.file.Paths.get(src))
    val sink = s"$root/snapshot"
    def addBatch(n: String,
        rows: Seq[(Long, Long, Long, String, Double, String)]): Unit = {
      val tmp = s"$root/$n"
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.parquet(tmp)
      val f = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(f.toPath, java.nio.file.Paths.get(src, s"$n.parquet"))
    }
    def poisonedStream() = {
      val s = EventStreams.readEventStream(spark, src).drop("event_time")
      s.as[(Long, Long, Long, String, Double, String)].map { r =>
        if (MergeFailureInjector.armed.get && r._1 == 99L)
          throw new RuntimeException("injected mid-batch failure")
        r
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    }
    def startSink() = EventStreams.mergeSink(
      poisonedStream(), sink, Seq("event_id"), "ts", s"$root/ckpt")
    addBatch("b1", Seq(
      (1L, h, 10L, "click", 1.0, "{}"),
      (2L, h + 1, 11L, "view", 2.0, "{}")))
    val q1 = startSink()
    try q1.processAllAvailable() finally q1.stop()
    val snap1 = spark.read.parquet(sink)
      .collect().map(r => r.getLong(0) -> r.getDouble(4)).toMap
    assert(snap1 == Map(1L -> 1.0, 2L -> 2.0))
    // batch 2 carries the poison row plus a real update
    MergeFailureInjector.armed.set(true)
    addBatch("b2", Seq(
      (2L, h + 10, 11L, "view", 9.0, "{}"),
      (99L, h + 11, 12L, "purchase", 5.0, "{}")))
    val q2 = startSink()
    val failed = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.processAllAvailable()
      q2.awaitTermination()
    }
    q2.stop()
    assert(failed.getMessage.contains("injected") ||
      Option(failed.getCause).exists(_.toString.contains("injected")))
    // the published snapshot is EXACTLY the pre-batch state: the failed
    // attempt's partial tmp writes never surfaced
    val snapAfterKill = spark.read.parquet(sink)
      .collect().map(r => r.getLong(0) -> r.getDouble(4)).toMap
    assert(snapAfterKill == snap1)
    // disarm and restart from the same checkpoint: the killed batch
    // replays in full and converges to the clean-run result
    MergeFailureInjector.armed.set(false)
    val q3 = startSink()
    try q3.processAllAvailable() finally q3.stop()
    val snapFinal = spark.read.parquet(sink)
      .collect().map(r => r.getLong(0) -> r.getDouble(4)).toMap
    assert(snapFinal == Map(1L -> 1.0, 2L -> 9.0, 99L -> 5.0))
    assert(spark.read.parquet(sink).count() == 3)
    // narrowest crash window: die BETWEEN the two renames (snapshot
    // staged to .bak, tmp not promoted) — simulated exactly, since a
    // timed kill cannot land there deterministically. The next batch
    // must restore the backup and merge against real history.
    assert(new java.io.File(sink)
      .renameTo(new java.io.File(sink + ".bak")))
    addBatch("b3", Seq((1L, h + 20, 10L, "click", 7.0, "{}")))
    val q4 = startSink()
    try q4.processAllAvailable() finally q4.stop()
    val snapRestored = spark.read.parquet(sink)
      .collect().map(r => r.getLong(0) -> r.getDouble(4)).toMap
    assert(snapRestored == Map(1L -> 7.0, 2L -> 9.0, 99L -> 5.0))
    assert(!new java.io.File(sink + ".bak").exists())
  }

  test("mergeSink: (key, seq) ties break deterministically by payload") {
    // two rows share (event_id, ts) — only the payload differs. Whatever
    // order the batch arrives in, the merged snapshot must converge to
    // the same row (payload-ascending winner), or a replay could flip it.
    val h = 3600L * 1000000000L
    def runOnce(tag: String, rows: Seq[(Long, Long, Long, String, Double,
        String)]): Map[Long, (String, Double)] = {
      val root = Files.createTempDirectory(s"graft_tie_$tag").toString
      val src = s"$root/in"
      Files.createDirectories(java.nio.file.Paths.get(src))
      val tmp = s"$root/stage"
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.parquet(tmp)
      val f = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(f.toPath, java.nio.file.Paths.get(src, "b.parquet"))
      val q = EventStreams.mergeSink(
        EventStreams.readEventStream(spark, src).drop("event_time"),
        s"$root/snap", Seq("event_id"), "ts", s"$root/ckpt")
      try q.processAllAvailable() finally q.stop()
      spark.read.parquet(s"$root/snap").collect()
        .map(r => r.getLong(0) -> (r.getString(3), r.getDouble(4))).toMap
    }
    val tied = Seq(
      (1L, h, 10L, "click", 2.0, "{}"),
      (1L, h, 10L, "click", 1.0, "{}"), // same key, same seq, same type
      (2L, h, 11L, "view", 3.0, "{}"))
    val forward = runOnce("f", tied)
    val backward = runOnce("b", tied.reverse)
    assert(forward == backward, s"tie broke differently: $forward vs $backward")
    assert(forward(1L) == ("click", 1.0)) // payload-ascending winner
  }

  test("mergeSink: non-orderable (map) payload still ties deterministically") {
    // a MapType column can't enter a sort order directly, so the tie-break
    // folds it in as xxhash64(to_json(struct(col))) — a value-only
    // surrogate. Two rows identical on (key, seq) but differing ONLY in
    // the map must converge to the same winner whatever the batch order.
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("ts", LongType),
      StructField("tags", MapType(StringType, LongType))))
    def runOnce(tag: String, rows: Seq[(Long, Long, Map[String, Long])])
        : Map[Long, Map[String, Long]] = {
      val root = Files.createTempDirectory(s"graft_maptie_$tag").toString
      val src = s"$root/in"
      Files.createDirectories(java.nio.file.Paths.get(src))
      val tmp = s"$root/stage"
      rows.toDF("k", "ts", "tags").coalesce(1).write.parquet(tmp)
      val f = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(f.toPath, java.nio.file.Paths.get(src, "b.parquet"))
      val q = EventStreams.mergeSink(
        spark.readStream.schema(schema).parquet(src),
        s"$root/snap", Seq("k"), "ts", s"$root/ckpt")
      try q.processAllAvailable() finally q.stop()
      spark.read.parquet(s"$root/snap").collect()
        .map(r => r.getLong(0) -> r.getMap[String, Long](2).toMap).toMap
    }
    val tied = Seq(
      (1L, 5L, Map("a" -> 1L)),
      (1L, 5L, Map("b" -> 2L)), // same key, same seq; only the map differs
      (2L, 5L, Map("c" -> 3L)))
    val forward = runOnce("f", tied)
    val backward = runOnce("b", tied.reverse)
    assert(forward == backward,
      s"map tie broke differently: $forward vs $backward")
    assert(forward.keySet == Set(1L, 2L))
  }

  test("append mode emits only watermark-finalized windows across batches") {
    val s = 1000000000L
    val dir = Files.createTempDirectory("graft_wm").toString
    val hour = 3600 * s
    // batch 1: events in hour 1
    Seq((1L, hour + 60 * s, 1L, "click", 1.0, "{}"),
      (2L, hour + 120 * s, 1L, "click", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$dir/b1")
    val src = s"$dir/in"
    Files.createDirectories(java.nio.file.Paths.get(src))
    def addFile(n: String, from: String): Unit = {
      val f = new java.io.File(from).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(f.toPath, java.nio.file.Paths.get(src, n))
    }
    addFile("b1.parquet", s"$dir/b1")
    val q = EventStreams.windowedCounts(
      EventStreams.readEventStream(spark, src),
      windowLength = "1 hour", watermark = "30 minutes")
      .writeStream.format("memory").queryName("wmapp")
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // watermark hasn't passed hour-1's end: nothing finalized yet
      assert(spark.sql("SELECT * FROM wmapp").count() == 0)
      // batch 2: an event far in hour 4 pushes the watermark past hour 1
      Seq((3L, 4 * hour, 2L, "view", 1.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.parquet(s"$dir/b2")
      addFile("b2.parquet", s"$dir/b2")
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT event_type, n FROM wmapp").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(rows == Map("click" -> 2L)) // hour-1 window finalized
    } finally q.stop()
  }

  test("sessionize emits the trailing session on event-time timeout") {
    val s = 1000000000L
    val dir = Files.createTempDirectory("graft_sto").toString
    val src = s"$dir/in"
    Files.createDirectories(java.nio.file.Paths.get(src))
    def writeBatch(n: String,
        rows: Seq[(Long, Long, Long, String, Double, String)]): Unit = {
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.parquet(s"$dir/$n")
      val f = new java.io.File(s"$dir/$n").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(f.toPath, java.nio.file.Paths.get(src, s"$n.parquet"))
    }
    val base = 7200L * s
    writeBatch("b1", Seq(
      (1L, base, 10L, "click", 1.0, "{}"),
      (2L, base + 10 * s, 10L, "click", 2.0, "{}")))
    val q = EventStreams.sessionize(
      EventStreams.readEventStream(spark, src), gapNs = 60 * s)
      .writeStream.format("memory").queryName("sto")
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.sql("SELECT * FROM sto").count() == 0) // still open
      // another user's much later event advances the watermark (1h delay)
      // far past user 10's session end + gap -> timeout fires
      writeBatch("b2", Seq((3L, base + 7200 * s, 11L, "view", 1.0, "{}")))
      q.processAllAvailable()
      // one more batch so timeouts registered against the new watermark run
      writeBatch("b3", Seq((4L, base + 7300 * s, 11L, "view", 1.0, "{}")))
      q.processAllAvailable()
      val sessions = spark.sql("SELECT * FROM sto")
        .as[EventStreams.UserSession].collect()
      assert(sessions.exists(ss =>
        ss.user_id == 10L && ss.n_events == 2 && ss.total_value == 3.0))
    } finally q.stop()
  }

  test("stream-stream interval join matches purchases after clicks") {
    val s = 1000000000L
    val base = 7200L * s
    val dir = mkEventsDir(Seq(
      (1L, base, 10L, "click", 0.0, "{}"),
      (2L, base + 600 * s, 10L, "purchase", 9.99, "{}"), // 10 min after
      (3L, base + 3000 * s, 10L, "purchase", 5.0, "{}"), // 50 min: outside
      (4L, base, 11L, "click", 0.0, "{}"), // different user, no purchase
      (5L, base - 60 * s, 12L, "purchase", 1.0, "{}"))) // before any click
    val q = EventStreams.clickPurchaseJoin(
      EventStreams.readEventStream(spark, dir), maxDelay = "30 minutes")
      .writeStream.format("memory").queryName("cpj")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val rows = spark.sql("SELECT click_id, purchase_id FROM cpj")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(rows == Set((1L, 2L)))
    } finally q.stop()
  }

  test("sessionize closes a session when the gap is exceeded") {
    val s = 1000000000L // 1s in ns
    val base = 3600L * s
    val dir = mkEventsDir(Seq(
      // user 10: burst of 3, then a 10-minute gap, then 2 more
      (1L, base, 10L, "click", 1.0, "{}"),
      (2L, base + 10 * s, 10L, "click", 2.0, "{}"),
      (3L, base + 20 * s, 10L, "click", 3.0, "{}"),
      (4L, base + 620 * s, 10L, "click", 4.0, "{}"),
      (5L, base + 630 * s, 10L, "click", 5.0, "{}"),
      // user 11: single burst (stays open in state)
      (6L, base, 11L, "view", 1.0, "{}")))
    val q = EventStreams.sessionize(
      EventStreams.readEventStream(spark, dir), gapNs = 60 * s)
      .writeStream.format("memory").queryName("sess")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val sessions = spark.sql("SELECT * FROM sess").as[EventStreams.UserSession]
        .collect()
      // only user 10's first session is closed within the batch
      assert(sessions.length == 1)
      val sess = sessions.head
      assert(sess.user_id == 10L)
      assert(sess.n_events == 3)
      assert(sess.total_value == 6.0)
      assert(sess.start_ns == base && sess.end_ns == base + 20 * s)
    } finally q.stop()
  }

  test("windowedDrift: per-window PSI/TVD equal batch Drift.psi on the " +
      "same rows") {
    val dir = Files.createTempDirectory("graft_wd").toString
    Files.copy(java.nio.file.Paths.get(s"$sf001/events.parquet"),
      java.nio.file.Paths.get(dir, "events.parquet"))
    val edges = Seq(5.0, 10.0, 20.0, 40.0, 80.0, 160.0, 320.0)
    val all0 = spark.read.parquet(s"$dir/events.parquet")
    val all = all0.withColumn("ts_us",
      graft.operators.EventTime.tsMicros(all0))
    val ref = all.filter(col("event_type") === "view")
    // batch truth: Drift.psi per hour window over the same rows
    val hourUs = 3600000000L
    val hours = all.select(expr(s"ts_us DIV $hourUs").as("h"))
      .distinct().collect().map(_.getLong(0))
    val truth = hours.map { h =>
      val rows = all.filter(expr(s"ts_us DIV $hourUs") === h)
      val head = graft.operators.Drift.psi(ref, rows, "value", edges).head()
      h -> ((rows.count(),
        head.getDouble(head.fieldIndex("psi_total")),
        head.getDouble(head.fieldIndex("tvd"))))
    }.toMap

    val q = EventStreams.windowedDrift(
        EventStreams.readEventStream(spark, dir), ref, edges)
      .writeStream.format("memory").queryName("wd")
      .outputMode("update").start()
    try {
      q.processAllAvailable()
      val got = spark.sql("SELECT * FROM wd").collect().map { r =>
        val startUs = r.getTimestamp(0).getTime * 1000L
        (startUs / hourUs) ->
          ((r.getLong(1), r.getDouble(2), r.getDouble(3)))
      }.toMap
      assert(got.nonEmpty)
      assert(got == truth)
    } finally q.stop()
  }

  test("windowedClassificationReport: closed windows equal batch " +
      "classificationReport on the same rows, across crash-restarts") {
    val s = 1000000000L
    val hour = 3600L * s
    val dir = Files.createTempDirectory("graft_wcr").toString
    val src = s"$dir/in"
    val out = s"$dir/out"
    Files.createDirectories(java.nio.file.Paths.get(src))
    def writeBatch(n: String,
        rows: Seq[(Long, Long, Long, String, Double, String)]): Unit = {
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.parquet(s"$dir/$n")
      val f = new java.io.File(s"$dir/$n").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(f.toPath, java.nio.file.Paths.get(src, s"$n.parquet"))
    }
    // hour-1 labels exercise every report edge: correct predictions,
    // a label predicted but never gold ("misc" — hallucinated:
    // support 0, recall NULL), a label gold but never predicted
    // ("purchase": precision NULL), and a null-pred abstention row
    // (value < 0) that BOTH twins must drop
    writeBatch("b1", Seq(
      (1L, hour + 60 * s, 1L, "click", 1.0, "{}"),
      (2L, hour + 120 * s, 1L, "click", 9.0, "{}"), // -> pred misc
      (3L, hour + 180 * s, 2L, "view", 1.0, "{}"),
      (4L, hour + 240 * s, 2L, "view", 9.0, "{}"), // -> pred misc
      (5L, hour + 300 * s, 3L, "purchase", 1.0, "{}"),
      (6L, hour + 360 * s, 3L, "view", -1.0, "{}"))) // -> pred null
    def withPred(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("pred",
        when(col("value") < 0, lit(null).cast("string"))
          .when(col("value") > 1.5, lit("misc"))
          .otherwise(col("event_type")))
    def start() = EventStreams.windowedClassificationReport(
        withPred(EventStreams.readEventStream(spark, src)),
        "event_type", "pred",
        windowLength = "1 hour", watermark = "30 minutes")
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode("append").start()
    // batch 1 lands in state, nothing finalized; STOP (crash point 1:
    // all of hour-1's counts live only in the checkpointed state store)
    val q1 = start()
    q1.processAllAvailable()
    q1.stop()
    // restart from checkpoint; an hour-4 event closes hour 1
    writeBatch("b2", Seq((7L, 4 * hour, 9L, "view", 1.0, "{}")))
    val q2 = start()
    try {
      q2.processAllAvailable()
      def readOut() = spark.read.parquet(out).collect().map { r =>
        (r.getTimestamp(0).getTime * 1000000L / hour,
          r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4),
          if (r.isNullAt(5)) None else Some(r.getDouble(5)),
          if (r.isNullAt(6)) None else Some(r.getDouble(6)),
          if (r.isNullAt(7)) None else Some(r.getDouble(7)))
      }.toSet
      val got = readOut()
      assert(got.nonEmpty && got.forall(_._1 == 1L),
        "only the hour-1 window is closed")
      // batch truth: the batch twin on exactly hour-1's rows
      val truth = graft.operators.Metrics.classificationReport(
          withPred(spark.read.parquet(src).filter(col("ts") < 2 * hour)),
          "event_type", "pred")
        .collect().map { r =>
          (1L, r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
            if (r.isNullAt(4)) None else Some(r.getDouble(4)),
            if (r.isNullAt(5)) None else Some(r.getDouble(5)),
            if (r.isNullAt(6)) None else Some(r.getDouble(6)))
        }.toSet
      assert(got == truth)
      // spot the contract rows: hallucinated label and abstention drop
      val misc = got.find(_._2 == "misc").get
      assert(misc._3 == 0L && misc._7.isEmpty, "misc: support 0, recall NULL")
      val view = got.find(_._2 == "view").get
      assert(view._3 == 2L, "the null-pred view row was dropped")
      q2.stop()
      // crash point 2: restart AFTER emission and reprocess — the file
      // sink's commit log must not re-emit the closed window
      val q3 = start()
      q3.processAllAvailable()
      q3.stop()
      assert(readOut() == got, "replay after emission duplicated rows")
    } finally if (q2.isActive) q2.stop()
  }

  test("windowedAnonymityAudit: closed windows equal the batch audit " +
      "on the same rows, across a crash-restart, no re-emission") {
    val s = 1000000000L
    val hour = 3600L * s
    val dir = Files.createTempDirectory("graft_waa").toString
    val src = s"$dir/in"
    val out = s"$dir/out"
    Files.createDirectories(java.nio.file.Paths.get(src))
    def writeBatch(n: String,
        rows: Seq[(Long, Long, Long, String, Double, String)]): Unit = {
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.parquet(s"$dir/$n")
      val f = new java.io.File(s"$dir/$n").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(f.toPath, java.nio.file.Paths.get(src, s"$n.parquet"))
    }
    // hour-1 QI groups (event_type): click 3 rows / 3 sensitive buckets
    // (k- and l-good), view 2 rows / 1 bucket (k-good, not diverse),
    // purchase 1 row (neither)
    writeBatch("b1", Seq(
      (1L, hour + 60 * s, 1L, "click", 1.0, "{}"),
      (2L, hour + 120 * s, 1L, "click", 2.0, "{}"),
      (3L, hour + 180 * s, 2L, "click", 3.0, "{}"),
      (4L, hour + 240 * s, 2L, "view", 5.0, "{}"),
      (5L, hour + 300 * s, 3L, "view", 5.0, "{}"),
      (6L, hour + 360 * s, 3L, "purchase", 7.0, "{}")))
    def start() = EventStreams.windowedAnonymityAudit(
        EventStreams.readEventStream(spark, src),
        Seq("event_type"), floor(col("value")), k = 2, l = 2,
        windowLength = "1 hour", watermark = "30 minutes")
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode("append").start()
    // crash point: hour-1 lives only in checkpointed state
    val q1 = start()
    q1.processAllAvailable()
    q1.stop()
    // restart; an hour-4 event closes hour 1
    writeBatch("b2", Seq((7L, 4 * hour, 9L, "view", 1.0, "{}")))
    val q2 = start()
    try {
      q2.processAllAvailable()
      def readOut() = spark.read.parquet(out).collect().map { r =>
        (r.getTimestamp(0).getTime * 1000000L / hour, r.getString(1),
          r.getLong(2), r.getLong(3), r.getBoolean(4), r.getBoolean(5))
      }.toSet
      val got = readOut()
      assert(got.nonEmpty && got.forall(_._1 == 1L),
        "only the hour-1 window is closed")
      // batch truth: the CAPPED audit (the twin's exact contract) on
      // hour-1's rows — and its flags equal the exact audit's
      val hour1 = spark.read.parquet(src).filter(col("ts") < 2 * hour)
      val truth = graft.operators.Privacy.anonymityAuditCapped(
          hour1, Seq("event_type"), floor(col("value")), 2, 2)
        .collect().map(r => (1L, r.getString(0), r.getLong(1),
          r.getLong(2), r.getBoolean(3), r.getBoolean(4)))
        .toSet
      assert(got == truth)
      val exactFlags = graft.operators.Privacy.anonymityAudit(
          hour1, Seq("event_type"), floor(col("value")), 2, 2)
        .collect().map(r => (r.getString(0), r.getBoolean(3),
          r.getBoolean(4))).toSet
      assert(got.map(g => (g._2, g._5, g._6)) == exactFlags)
      assert(got.map(g => g._2 -> g._6).toMap ===
        Map("click" -> true, "view" -> false, "purchase" -> false))
      q2.stop()
      // replay after emission: the file sink's commit log must not
      // duplicate the closed window
      val q3 = start()
      q3.processAllAvailable()
      q3.stop()
      assert(readOut() == got, "replay after emission duplicated rows")
    } finally if (q2.isActive) q2.stop()
  }

  test("windowedLexicalDrift: closed windows equal batch " +
      "divergenceVsReference on the same rows, across crash-restarts") {
    val s = 1000000000L
    val hour = 3600L * s
    val dir = Files.createTempDirectory("graft_wld").toString
    val src = s"$dir/in"
    val out = s"$dir/out"
    Files.createDirectories(java.nio.file.Paths.get(src))
    def writeBatch(n: String,
        rows: Seq[(Long, Long, Long, String, Double, String)]): Unit = {
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.parquet(s"$dir/$n")
      val f = new java.io.File(s"$dir/$n").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(f.toPath, java.nio.file.Paths.get(src, s"$n.parquet"))
    }
    // reference profile: an on-distribution text slice; hour-1 events
    // carry text in `props` — one on-distribution doc, one with heavy
    // OOV mass (the drift the monitor exists to catch)
    val ref = Seq("the quick brown fox", "the lazy dog",
      "the quick dog").toDF("t")
      .select(explode(graft.functions.TextFunctions.tokens(col("t")))
        .as("token"))
    writeBatch("b1", Seq(
      (1L, hour + 60 * s, 1L, "view", 1.0, "the quick dog"),
      (2L, hour + 120 * s, 1L, "view", 1.0, "zorp blarg zorp the"),
      (3L, hour + 180 * s, 2L, "view", 1.0, "lazy fox")))
    def start() = EventStreams.windowedLexicalDrift(
        EventStreams.readEventStream(spark, src), ref,
        textCol = "props", vocabSize = 5,
        windowLength = "1 hour", watermark = "30 minutes")
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode("append").start()
    // crash point 1: hour-1 counters live only in the state store
    val q1 = start()
    q1.processAllAvailable()
    q1.stop()
    // an hour-4 event closes hour 1 on restart
    writeBatch("b2", Seq((4L, 4 * hour, 9L, "view", 1.0, "the end")))
    val q2 = start()
    try {
      q2.processAllAvailable()
      def readOut() = spark.read.parquet(out).collect().map { r =>
        (r.getTimestamp(0).getTime * 1000000L / hour, r.getLong(1),
          r.getDouble(2), r.getDouble(3), r.getDouble(4))
      }.toSet
      val got = readOut()
      assert(got.nonEmpty && got.forall(_._1 == 1L),
        "only the hour-1 window is closed")
      // batch truth: the batch twin on exactly hour-1's rows, same
      // profile (both forms are the same aggregate — parity pins the
      // windowing/watermark/recovery machinery, not the arithmetic)
      val (vocab, refQ) =
        graft.operators.Drift.referenceProfile(ref, "token", 5)
      val hourOne = spark.read.parquet(src).filter(col("ts") < 2 * hour)
        .select(lit(1L).as("h"),
          explode(graft.functions.TextFunctions.tokens(col("props")))
            .as("token"))
      val truth = graft.operators.Drift
        .divergenceVsReference(hourOne, "h", "token", vocab, refQ)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getDouble(2), r.getDouble(3), r.getDouble(4))).toSet
      assert(got == truth)
      // the OOV doc moved the needle: drift is visibly nonzero
      val row = got.head
      assert(row._3 > 0.1, s"oov_frac should see zorp/blarg: $row")
      assert(row._5 > 0.0, s"js_vs_ref should be nonzero: $row")
      q2.stop()
      // crash point 2: restart after emission — no re-emission
      val q3 = start()
      q3.processAllAvailable()
      q3.stop()
      assert(readOut() == got, "replay after emission duplicated rows")
    } finally if (q2.isActive) q2.stop()
  }
}
