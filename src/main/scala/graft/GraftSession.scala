package graft

import org.apache.spark.sql.SparkSession

/** The one session every main runs under: the settings `graft.Bench`
  * times, so a demo, a probe or a plan audit measures the planner and
  * the confs the bench does. Env: `SPARK_GRAFT_CPUS` (default 4) and
  * `SPARK_GRAFT_AQE_MIN_PARTITION` (default 256k). Any other key can be
  * set with a `-Dspark.*` JVM system property, which reaches SparkConf
  * for every key not listed in [[settings]]. */
object GraftSession {
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
  def aqeMinPartition: String =
    sys.env.getOrElse("SPARK_GRAFT_AQE_MIN_PARTITION", "256k")

  /** Every conf the session sets, in order (the extensions are set by
    * [[builder]]). */
  def settings(cpus: String, aqeMinPartition: String): Seq[(String, String)] =
    Seq(
      "spark.master" -> s"local[$cpus]",
      "spark.sql.shuffle.partitions" -> cpus,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      // legacy-fixture compatibility: older events.parquet drops wrote
      // TIMESTAMP(NANOS), readable only as an epoch-ns long; current
      // drops write timestamp[us]. operators.EventTime dispatches on the
      // actual type, so this conf is harmless-but-required dual support.
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      // The 128-query run generates >100 distinct codegen classes; the
      // default 100-entry cache evicts the MinHash-chain classes between
      // q57 and q96, re-paying multi-second Janino compiles mid-run.
      "spark.sql.codegen.cache.maxEntries" -> "2000",
      // AQE partition-coalescing floor (round 20, guide §2.2/§2.5): the
      // default 1 MB minPartitionSize is a BYTE heuristic, but this
      // engine's text/LSH stages cost 100-1000x their shuffle bytes in
      // CPU (a 0.6 MB signature exchange feeds shingling + band hashing
      // + pair verify), so byte-based coalescing collapsed them to ONE
      // task while 31 cores idled — the r20 stage profile: q157's verify
      // chain ran as a single 1.7 s task. A smaller floor lets
      // parallelismFirst actually use the cores; at production scale
      // partitions are orders of magnitude above either floor, so the
      // setting is a no-op there (scale-adaptive by construction).
      // 256k is the measured sweet spot of a 1m/256k/128k/64k sweep
      // (6-run warm medians, same box): q157 2.39→1.47→1.16→0.92 but
      // the task-launch overhead inverts on short exchange-light
      // queries below 256k (q42 0.49→0.45→0.49→0.62, q172
      // 1.60→1.40→1.56→2.19), so 256k keeps the dense-stage win
      // without a tail regression. Env-overridable so a scaling sweep
      // at other core counts stays in control.
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" ->
        aqeMinPartition)

  /** The configured builder, for a caller that layers deliberate
    * overrides on top (SkewProbe's AQE-off, no-broadcast join). */
  def builder(): SparkSession.Builder =
    settings(cpus, aqeMinPartition).foldLeft(
      SparkSession.builder().withExtensions(new graft.functions.GraftExtensions)) {
      case (b, (k, v)) => b.config(k, v)
    }

  /** Create the session (from [[builder]] unless given one), at log
    * level WARN minus the known bounded-window warning. */
  def start(b: SparkSession.Builder = builder()): SparkSession = {
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    silenceKnownBoundedWindowWarn()
    spark
  }

  /** Harness-main-only log hygiene: five deliberately single-partition
    * windows (q90 group-count share, Zipf ≤topK rank, Metrics shard
    * offsets, Normalize maxRefRows-guarded rank, Skew topN diagnostic)
    * are all bounded by construction and `require`-guarded at their
    * sites (see PLANS.md), but each still emits WindowExec's generic
    * "No Partition Defined" WARN, making every bench/verify tail read
    * dirtier than it is. Deny exactly THAT message via a RegexFilter on
    * the WindowExec logger — NOT a level raise: a level raise would
    * also swallow any FUTURE accidentally-unpartitioned window's
    * warning in precisely the harness runs meant to surface it.
    * Library code never touches log config, so any production session
    * keeps the warning in full. */
  def silenceKnownBoundedWindowWarn(): Unit = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.LoggerContext
    import org.apache.logging.log4j.core.Filter
    import org.apache.logging.log4j.core.config.LoggerConfig
    import org.apache.logging.log4j.core.filter.RegexFilter
    val name = "org.apache.spark.sql.execution.window.WindowExec"
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    val filter = RegexFilter.createFilter(
      ".*No Partition Defined for Window operation.*",
      null, false, Filter.Result.DENY, Filter.Result.NEUTRAL)
    val existing = cfg.getLoggers.get(name)
    val lc =
      if (existing != null) existing
      else {
        // additive logger config at the root level: everything else the
        // logger emits still flows to the root appenders unchanged
        val created = new LoggerConfig(name, Level.WARN, true)
        cfg.addLogger(name, created)
        created
      }
    lc.addFilter(filter)
    ctx.updateLoggers()
  }
}
