package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
object Bench {
  type Query = (SparkSession, String) => DataFrame

  /** One bench run: the detail line (bench_detail.json and
    * bench_history.jsonl), the stdout line, and the queries that threw,
    * by error class. */
  final case class Record(detail: String, stdout: String,
      failed: Map[String, String])

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Per-query times are MEDIANS over `runs` full sweeps: a single
    // sequential pass lets one heavy query's GC/JIT land on its small
    // neighbors (2-3x apparent swings on untouched 0.5 s queries between
    // rounds), which makes regressions unfalsifiable. Three sweeps cost
    // ~3x wall-clock once per round and give every query a noise-robust
    // central value; the sweep order is identical across passes so
    // neighborhood effects are at least stable.
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val spark = GraftSession.start()
    val rec = run(spark, sfDir, SparkEntry.queries, runs,
      GraftSession.aqeMinPartition, roundStamp(new java.io.File("."),
        GraftSession.cpus))
    java.nio.file.Files.write(
      java.nio.file.Paths.get("bench_detail.json"), rec.detail.getBytes("UTF-8"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get("bench_history.jsonl"), rec.detail.getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
    println(rec.stdout)
    spark.stop()
    // a failed query is reported in both records, never as a time, and
    // fails the run
    if (rec.failed.nonEmpty) sys.exit(1)
  }

  /** Explicit ROUND marker (round 19, ADVICE r18 #1): bench_compare's
    * same-file anchor mode equated "previous round" with "previous
    * field-generation era", which breaks the first time a round adds no
    * new Bench fields. The round number is derived, not hand-bumped:
    * BENCH_r{N}.json is written at the END of round N's main bench
    * run, and BENCH_r{N}_c{cpus}.json after the scaling re-run at other
    * core counts that follows it. With M the highest N on disk,
    * a scaling run at `cpus` whose BENCH_rM_c{cpus}.json is still
    * missing belongs to round M; any other run (the next main run, a
    * mid-round run) belongs to round M+1. Rev can't serve here (it
    * changes per COMMIT — a round spans many). If no BENCH_r files are
    * visible (run outside the repo root), the field is omitted and
    * bench_compare falls back to era grouping — degraded, never
    * wrong-era. */
  def roundStamp(dir: java.io.File, cpus: String): Option[Int] = {
    val names = Option(dir.list()).map(_.toSeq).getOrElse(Seq.empty)
    val main = "^BENCH_r(\\d+)\\.json$".r
    val scaled = s"^BENCH_r(\\d+)_c${java.util.regex.Pattern.quote(cpus)}\\.json$$".r
    names.flatMap(main.findFirstMatchIn(_).map(_.group(1).toInt)).maxOption
      .map { m =>
        val scaledRounds =
          names.flatMap(scaled.findFirstMatchIn(_).map(_.group(1).toInt))
        if (scaledRounds.nonEmpty && !scaledRounds.contains(m)) m else m + 1
      }
  }

  /** Calibrate, sweep `queries` `runs` times (plus two extra sweeps of
    * the ten slowest) and build both records. A query that throws in
    * any sweep is listed in `failed` and left out of every time field,
    * median and the total. */
  def run(spark: SparkSession, sfDir: String, queries: Map[String, Query],
      runs: Int, aqeMinPartition: String, round: Option[Int]): Record = {
    // Warm up the JVM / codegen / parquet reader paths once so timings
    // measure the queries, not first-query JIT+classloading (~4s).
    // The warmup doubles as an ENVIRONMENT CALIBRATION: its work is
    // fixed across rounds (range-sum + one lineitem groupBy at the same
    // sf), so its WARM repetitions time the machine, not the code.
    // Cross-round totals are only comparable after dividing by the
    // calibration ratio — round-over-round full-board totals have
    // swung ~30 % on environment alone (SCALING.md round-11 notes).
    // First rep absorbs JIT/classloading and is excluded; the emitted
    // scalar is the median of 3 warm reps. A rep whose workload THROWS
    // (e.g. lineitem unreadable) must not produce a tiny-but-plausible
    // number — a broken calibration silently mis-normalizes every
    // cross-round ratio in bench_compare, which is worse than none.
    // Emit -1 instead; bench_compare treats non-positive as absent.
    def calibrationRep(): Double = {
      val t0 = System.nanoTime()
      spark.range(1000000L).selectExpr("sum(id)").collect()
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .groupBy("l_returnflag").count().collect()
      (System.nanoTime() - t0) / 1e9
    }
    // the median of 3 warm reps after a discarded cold one (JIT,
    // classloading, the first real scan of the file); -1 if one throws
    def warmMedian(rep: () => Double): Double =
      try { rep(); Vector.fill(3)(rep()).sorted.apply(1) }
      catch { case _: Throwable => -1.0 }
    val calibrationSec = warmMedian(calibrationRep)
    // I/O-SENSITIVE calibration rep (round 17, VERDICT r16 #1): the
    // CPU-bound rep above is blind to page-cache / memory-bandwidth
    // pressure — the r16 driver record ran uniformly 1.24× slow
    // per-query (cold sweep 184 s vs the sibling records' 113–139 s)
    // yet posted the round's FASTEST CPU calibration (0.447 s) and a
    // stability of 1.24, under the 1.3 gate. This rep scans EVERY
    // column of the trimmed lineitem fixture — keys, numerics, the
    // flag/status strings, the date, i.e. the whole file's bytes
    // (a count(1) would read no columns at all, parquet metadata
    // answers it) — so it moves when the machine's I/O or
    // memory path is contended even while cores are free. Same
    // throw-means--1 discipline as the CPU rep.
    def ioCalibrationRep(): Double = {
      val t0 = System.nanoTime()
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .selectExpr("sum(l_extendedprice)", "sum(l_quantity)",
          "sum(l_discount)", "sum(l_tax)", "sum(l_orderkey)",
          "sum(l_partkey)", "sum(l_suppkey)", "sum(l_linenumber)",
          "count(l_returnflag)", "count(l_linestatus)",
          "max(l_shipdate)")
        .collect()
      (System.nanoTime() - t0) / 1e9
    }
    val ioCalibrationSec = warmMedian(ioCalibrationRep)
    // Every successful Sample per query, in sweep order. Besides the
    // wall time each carries three process-wide counters:
    //  - GC seconds: the recurring 3-6x worst-run spikes concentrate on
    //    the components/verify chains, and without an attribution signal
    //    a GC stall landing on a query is indistinguishable from a plan
    //    regression. gc ≈ wall on a spiked sample says "collector, not
    //    code"; gc ≈ 0 says look at the plan.
    //  - Janino compile COUNT (the exact Counter, not the
    //    reservoir-corruptible time histogram — see Sample.janino): a
    //    WARM sample with compiles > 0 is direct evidence the codegen
    //    cache evicted that query's classes mid-sweep (178 queries ×
    //    multi-stage codegen vs the 2000-entry bound), which is the one
    //    warm-tail mechanism wall+gc numbers cannot see (VERDICT r14
    //    #1). BOUND (r15 census): 195 queries compile ~1390 classes on
    //    sweep 1 against the 2000-entry codegen cache — if the board
    //    grows past ~270 queries, re-run the janino_all_runs census
    //    FIRST: eviction stops being a falsified hypothesis and becomes
    //    arithmetic there.
    //  - background-JIT ms (CompilationMXBean): the round-17 q101 census
    //    showed warm samples swing 0.55–1.17 s while the C1/C2 threads
    //    are still chewing (jit_ms 700–2800/run) and settle to
    //    0.26–0.37 once they go quiet — the one second-order counter
    //    that moved with the spikes after gc and janino both read zero
    //    (VERDICT r16 #2). A flagged worst with high jit_ms says
    //    "compiler contention", not plan.
    val taken = scala.collection.mutable.Map[String, Vector[Sample]]()
      .withDefaultValue(Vector.empty)
    def samples(n: String): Vector[Double] = taken(n).map(_.seconds)
    // query -> error class of its (first) throw; such a query has no
    // time anywhere in the records
    val failed = scala.collection.mutable.LinkedHashMap[String, String]()
    def runOnce(name: String): Unit = {
      val s = Sample.of(queries(name)(spark, sfDir))
      s.failed match {
        case Some(err) => if (!failed.contains(name)) failed(name) = err
        case None => taken(name) = taken(name) :+ s
      }
    }
    // One calibration rep INTERLEAVED after every sweep (VERDICT r14
    // #5): the machine's speed swung 0.41–0.64 within hours of one r14
    // day, making cross-round normalized deltas ±50 % ambiguous exactly
    // when a regression question mattered. The pre-run calibration
    // can't see an in-run swing, and a naive pre/post pair conflates
    // machine contention with JVM warm-up (measured: pre 0.44 on the
    // half-warm JVM vs 0.23 fully warm — a fake 0.52 "drift" on a quiet
    // box). Per-sweep reps are all in comparably warm states from sweep
    // 2 on, so max/min over the WARM reps isolates genuine environment
    // instability; the cold first rep rides along in the artifact only.
    val calSweeps = scala.collection.mutable.ArrayBuffer[Double]()
    val ioCalSweeps = scala.collection.mutable.ArrayBuffer[Double]()
    def calSweepRep(): Unit = {
      calSweeps += (try calibrationRep() catch { case _: Throwable => -1.0 })
      // the I/O rep rides the same interleave: its warm max/min folds
      // into the stability gate below, closing the r16 blind spot
      ioCalSweeps +=
        (try ioCalibrationRep() catch { case _: Throwable => -1.0 })
    }
    for (_ <- 0 until runs) { queries.keys.foreach(runOnce); calSweepRep() }
    def ok = queries.keys.toSeq.filterNot(failed.contains)
    def median(xs: Vector[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    // The heaviest queries dominate the total AND carry the worst
    // run-to-run contention noise (a 3-sample median can still land on an
    // outlier — q122 read [21.4, 9.5, 4.0] one round). Give the top-10 by
    // provisional median two extra sweeps: their medians become
    // 5-sample, everything else stays at `runs`.
    val extraRuns = 2
    val top10 = ok.sortBy(n => -median(samples(n))).take(10)
    for (_ <- 0 until extraRuns) { top10.foreach(runOnce); calSweepRep() }
    val names = ok // the queries that never threw
    val results = names.map(n => n -> median(samples(n)))
    val total = results.map(_._2).sum
    def fmt(v: Double) = f"$v%.3f"
    // Full detail (median map + every raw sample) goes to files: the
    // harness captures only the last ~2000 chars of stdout, which a
    // 128-entry map overflows. bench_detail.json is the current round's
    // view; bench_history.jsonl is APPEND-ONLY so no round's per-query
    // detail is ever lost to an overwrite (the r05 detail was).
    val detail = Json.obj(names)(n => fmt(median(samples(n))))
    val allRuns = Json.obj(names)(n => Json.arr(samples(n).map(fmt)))
    // Explicit [min, median, max] per query so a regression read is one
    // line (is the new median inside last round's spread?) instead of
    // all_runs archaeology.
    def spread(n: String): String = {
      val s = samples(n)
      Json.arr(Seq(s.min, median(s), s.max).map(fmt))
    }
    val spreadAll = Json.obj(names)(spread)
    // Tail-regression flag: worst WARM run / median > 3 AND
    // worst-median > 0.5 s (the absolute floor keeps 0.1 s queries from
    // flagging on scheduler jitter). WARM = samples after the first
    // sweep: sample 1 is each query's first execution in the JVM and
    // carries its Janino + JIT cold-start (round-14 TailProbe receipts
    // in SCALING.md — ALL 14 of the r13 final record's flagged worsts
    // sat on sweep 1, drowning the signal the flag exists for: a spike
    // on a run that should already be warm). The cold cost is still in
    // the artifact — all_runs[0] per query, and sweep1_total_sec below —
    // it is just no longer misreported as a tail regression. Flagged
    // queries carry the GC share of the worst warm sample so the
    // attribution is in the artifact, not a follow-up investigation:
    // gc_frac_worst ≈ 1 → collector stall; ≈ 0 → the plan itself went
    // long (recompute, skew, compile).
    def warmWorst(n: String): (Double, Int) = {
      val s = samples(n)
      if (s.size < 2) (s.max, s.indexOf(s.max))
      else s.zipWithIndex.drop(1).maxBy(_._1) match { case (v, i) => (v, i) }
    }
    val flagged = names.filter { n =>
      val m = median(samples(n))
      val w = warmWorst(n)._1
      m > 0 && w / m > 3.0 && w - m > 0.5
    }
    // one formatter for both the detail artifact and the stdout line —
    // a format/attribution fix applied to one must not silently diverge
    // the other. `cold` is the sweep-1 sample for reference (the spread
    // arrays include it; the flag criterion does not).
    def flagEntry(n: String): String = {
      val (w, worstIdx) = warmWorst(n)
      val worst = taken(n)(worstIdx)
      "{\"worst\":" + fmt(w) + ",\"median\":" +
        fmt(median(samples(n))) + ",\"cold\":" + fmt(samples(n).head) +
        ",\"gc_frac_worst\":" +
        fmt(math.min(1.0, worst.gcS / math.max(w, 1e-9))) +
        ",\"janino_worst\":" + worst.janinoN +
        ",\"jit_ms_worst\":" + worst.jitMs + "}"
    }
    val spreadFlag = Json.obj(flagged)(flagEntry)
    def all(n: String)(f: Sample => String) = Json.arr(taken(n).map(f))
    val gcAll = Json.obj(names)(all(_)(s => fmt(s.gcS)))
    val janinoAll = Json.obj(names)(all(_)(_.janinoN.toString))
    val jitAll = Json.obj(names)(all(_)(_.jitMs.toString))
    // "runs" is the BASE sweep count; the 10 provisionally-slowest
    // queries carry runs+top10_extra_runs samples (their all_runs arrays
    // are the ground truth for per-query sample counts).
    val sweep1Total = names.map(n => samples(n).head).sum
    // calibration_sweeps: one rep after every sweep (cold sweep 1
    // included for the record); calibration_stability = max/min over
    // the WARM reps (sweep 2+) — 1.0 = rock-steady machine, and a value
    // far above ~1.3 marks THIS record's per-query medians as
    // contention-ambiguous by roughly that factor. calibration_sec
    // (pre-run, half-warm JVM) keeps its r12 definition untouched so
    // cross-round normalization stays apples-to-apples with every
    // earlier record; bench_compare reads the stability field and warns.
    val calWarm = calSweeps.drop(1).filter(_ > 0)
    val cpuStability =
      if (calWarm.size >= 2) calWarm.max / calWarm.min else -1.0
    // calibration_stability is the FOLD of the CPU and I/O components
    // (round 17): max of the two warm max/min ratios, so an in-run
    // swing on EITHER axis trips the same 1.3 gate bench_compare
    // already reads. Folding only widens the flag — a record quiet on
    // both axes scores exactly what the old scalar said; components
    // are emitted separately so a flagged record arrives
    // pre-attributed (cpu vs io) like gc_frac/janino do for queries.
    val ioCalWarm = ioCalSweeps.drop(1).filter(_ > 0)
    val ioStability =
      if (ioCalWarm.size >= 2) ioCalWarm.max / ioCalWarm.min else -1.0
    val calibrationStability = math.max(cpuStability, ioStability)
    val calSweepsJson = Json.arr(calSweeps.toSeq.map(fmt))
    val ioCalSweepsJson = Json.arr(ioCalSweeps.toSeq.map(fmt))
    // DECOUPLING check (round 18): the pre-run calibration block is
    // one-shot, so a transient (a just-exited JVM's residue, a host
    // blip) can make it measure a DIFFERENT machine than the run —
    // observed: pre-run 2.253 s vs in-run warm sweeps 0.229 s (9.8x)
    // on a record whose queries and stability were quiet. Quiet
    // records sit at ~1.6-2.7x (pre-run carries leftover JIT);
    // uniform contention tracks BOTH down to ~1.1x. Past 4x the
    // scalar would mis-normalize every cross-round ratio — emit the
    // existing FAILED sentinel (-1, consumers treat as absent) and
    // keep the raw value in a *_raw forensics field.
    def decoupled(pre: Double, warm: Seq[Double]): Boolean = {
      val w = warm.sorted
      pre > 0 && w.nonEmpty && pre / w(w.size / 2) > 4.0
    }
    val calDecoupled = decoupled(calibrationSec, calWarm.toSeq)
    val ioCalDecoupled = decoupled(ioCalibrationSec, ioCalWarm.toSeq)
    val calibrationSecOut = if (calDecoupled) -1.0 else calibrationSec
    val ioCalibrationSecOut = if (ioCalDecoupled) -1.0 else ioCalibrationSec
    val decoupleFields =
      (if (calDecoupled)
        s""""calibration_sec_raw":${fmt(calibrationSec)},""" else "") +
      (if (ioCalDecoupled)
        s""""io_calibration_sec_raw":${fmt(ioCalibrationSec)},""" else "")
    // Code revision stamp (round 18, ADVICE r17): bench_compare's
    // sweep1 gate can't distinguish "machine under pressure" from
    // "code got slower" on its own — the rev lets its warn path say
    // whether the record and its era-sibling minimum measured the
    // same code. The FIELD is always emitted ("unknown" when git
    // isn't resolvable): bench_compare identifies measurement eras by
    // field PRESENCE, so a best-effort field would misclassify a
    // rev-less record into the previous era and invert same-file
    // round anchors (round-18 review catch). Guards: a 2 s waitFor
    // timeout (a wedged git must not block record emission), and the
    // resolved toplevel must actually contain this engine's sources —
    // a wrapper cwd inside some OTHER git repo (a dotfiles home dir)
    // would otherwise stamp an unrelated repo's HEAD and make the
    // rev-pair warning assert a false code identity.
    def git(args: String*): Option[String] = scala.util.Try {
      val p = new ProcessBuilder(("git" +: args): _*)
        .redirectErrorStream(true).start()
      val done = p.waitFor(2, java.util.concurrent.TimeUnit.SECONDS)
      if (!done) { p.destroyForcibly(); None }
      else {
        val out = new String(p.getInputStream.readAllBytes, "UTF-8").trim
        if (p.exitValue() == 0) Some(out) else None
      }
    }.toOption.flatten
    val rev = (for {
      top <- git("rev-parse", "--show-toplevel")
      if new java.io.File(top, "src/main/scala/graft").isDirectory
      r <- git("rev-parse", "--short", "HEAD")
      if r.matches("[0-9a-f]{4,40}")
    } yield r).getOrElse("unknown")
    val revField = s""""rev":${Json.str(rev)},"""
    val roundField = round.map(n => s""""round":$n,""").getOrElse("")
    // Effective AQE coalescing floor (round 21, VERDICT r20 #8): the
    // driver's scaling sweep re-runs the bench at other core counts —
    // recording the floor lets a future sweep attribute mode changes
    // to it instead of guessing which env the record ran under.
    val aqeFloorField =
      s""""aqe_min_partition":${Json.str(aqeMinPartition)},"""
    // the queries that threw (query -> error class), in both lines
    val failedField =
      "\"failed\":" + Json.obj(failed.keys.toSeq)(k => Json.str(failed(k))) + ","
    val line = s"""{"metric":"total","value":${fmt(total)},"unit":"sec",""" +
      revField + roundField + aqeFloorField + failedField + decoupleFields +
      s""""runs":$runs,"top10_extra_runs":$extraRuns,""" +
      s""""calibration_sec":${fmt(calibrationSecOut)},""" +
      s""""calibration_sweeps":$calSweepsJson,""" +
      s""""calibration_stability":${fmt(calibrationStability)},""" +
      s""""cpu_stability":${fmt(cpuStability)},""" +
      s""""io_stability":${fmt(ioStability)},""" +
      s""""io_calibration_sec":${fmt(ioCalibrationSecOut)},""" +
      s""""io_calibration_sweeps":$ioCalSweepsJson,""" +
      s""""sweep1_total_sec":${fmt(sweep1Total)},""" +
      s""""queries":$detail,"spread":$spreadAll,""" +
      s""""spread_flag":$spreadFlag,"gc_all_runs":$gcAll,""" +
      s""""janino_all_runs":$janinoAll,""" +
      s""""jit_ms_all_runs":$jitAll,""" +
      s""""all_runs":$allRuns,""" +
      s""""sf":${Json.str(sfDir)},"ts":${System.currentTimeMillis()}}""" + "\n"
    // The stdout JSON line must fit, whole, inside the captured tail
    // (budget ~1800 chars after sbt's trailing "[success]" line), so it
    // carries the slowest queries only, greediest-first, plus the total.
    val byTime = results.sortBy(-_._2)
    // Spread for the 10 slowest ([min, median, max]) rides in the stdout
    // line too — these are the queries whose medians move under
    // contention, so the spread is what tells a regression from noise.
    val spreadTop = Json.obj(byTime.take(10).map(_._1))(spread)
    // stdout carries at most the 5 worst flagged queries (full set in
    // bench_detail.json) — and DROPS entries beyond what fits: with
    // several long-named flags the fixed fields alone could exceed the
    // ~1800-char captured tail and truncate the JSON mid-object (the
    // query-list budget below would go negative but the line would
    // still overflow — ADVICE r13), so flag entries are shed
    // least-severe-first until the fixed fields leave headroom.
    val flaggedBySeverity =
      flagged.sortBy(n => -(warmWorst(n)._1 / median(samples(n))))
    def flagTopStr(k: Int): String =
      Json.obj(flaggedBySeverity.take(k))(flagEntry)
    // The whole stdout line must fit the ~1800-char captured tail, so
    // the query-list budget is computed from what the VARIABLE fixed
    // fields (spread_top10, spread_flag) actually cost this run — a
    // constant budget overflowed the tail on rounds where several
    // queries tripped the flag.
    def stdoutLine(qs: String, ft: String): String =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec",""" +
        roundField + aqeFloorField + failedField +
        s""""runs":$runs,"top10_extra_runs":$extraRuns,"calibration_sec":${fmt(calibrationSecOut)},"calibration_stability":${fmt(calibrationStability)},"cpu_stability":${fmt(cpuStability)},"io_stability":${fmt(ioStability)},"io_calibration_sec":${fmt(ioCalibrationSecOut)},"sweep1_total_sec":${fmt(sweep1Total)},"queries":$qs,"spread_top10":$spreadTop,"spread_flag":$ft,"n_queries":${results.size},"queries_are_slowest_first":true,"queries_are_medians":true,"detail":"bench_detail.json","history":"bench_history.jsonl","sf":${Json.str(sfDir)}}"""
    var nFlags = math.min(5, flaggedBySeverity.size)
    while (nFlags > 0 && stdoutLine("{}", flagTopStr(nFlags)).length > 1600)
      nFlags -= 1
    val flagTop = flagTopStr(nFlags)
    val budget = 1750 - stdoutLine("{}", flagTop).length
    val kept = new scala.collection.mutable.ArrayBuffer[String]
    var used = 0
    byTime.foreach { case (k, v) =>
      val entry = Json.str(k) + ":" + fmt(v)
      if (used + entry.length + 1 <= budget) { kept += entry; used += entry.length + 1 }
    }
    Record(line, stdoutLine(kept.mkString("{", ",", "}"), flagTop),
      failed.toMap)
  }
}
