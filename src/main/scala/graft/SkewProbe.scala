package graft

import org.apache.spark.sql.functions._
import graft.operators.Skew

/** Skew stress probe — measures where salting pays and where it does NOT:
  *
  *  1. Hot-key SUM/COUNT aggregation: Spark's map-side PARTIAL
  *     aggregation already combines the hot key inside each scan
  *     partition, so the shuffle carries ~(#partitions × #keys) rows
  *     regardless of skew — salting only adds a second shuffle (measured
  *     slower). This is why the engine prefers declarative algebraic
  *     aggregates and reserves `saltedSumCount` for non-combinable
  *     shapes.
  *  2. Hot-key shuffle JOIN with broadcast disabled and AQE off (a dim
  *     too large to broadcast, no runtime skew split): the hot key lands
  *     on ONE join task; `saltedJoin` spreads it across `numSalts` tasks.
  *     This is the shape where salting is the only lever.
  *  3. The same join under Spark's OWN rescue — AQE skew-join
  *     (`spark.sql.adaptive.skewJoin.*`): the runtime splits the skewed
  *     shuffle partition into sub-reads after seeing the map output
  *     sizes, with zero query rewrite. Measuring it against
  *     `saltedJoin` on the identical fixture documents which lever to
  *     use when (see SCALING.md).
  *
  * All variants assert result equality. Usage:
  * SPARK_GRAFT_CPUS=32 sbt "runMain graft.SkewProbe [rows]"
  */
object SkewProbe {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(20000000L)
    val spark = GraftSession.start(GraftSession.builder()
      .config("spark.sql.adaptive.enabled", "false") // no AQE skew rescue
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")) // force shuffle
    // key 0 owns 50% of all rows; the rest spread over 10k keys. The
    // value is hash-derived so the hot partition's shuffle blocks don't
    // compress to nothing — skew DETECTION (AQE's and any operator's)
    // works on post-compression byte sizes, and a constant column would
    // understate the skew by two orders of magnitude.
    val fact = spark.range(n).select(
      when(col("id") % 2 === 0, 0L)
        .otherwise(pmod(col("id"), lit(10000L))).as("k"),
      (pmod(xxhash64(col("id")), lit(1000000L)) / 1000.0).as("v"))
      .cache()
    fact.count()
    val dim = spark.range(10000).select(col("id").as("k"),
      concat(lit("payload_"), col("id")).as("name")).cache()
    dim.count()

    def time(label: String)(f: => Long): Long = {
      val t0 = System.nanoTime()
      val rows = f
      val ms = (System.nanoTime() - t0) / 1000000
      println(f"[skewprobe] $label%-14s ${ms / 1000.0}%7.3f s  rows=$rows")
      ms
    }
    // --- aggregation: partial agg already handles the hot key
    fact.groupBy("k").agg(sum(col("v").cast("decimal(28,6)"))).count()
    Skew.saltedSumCount(fact, Seq("k"), "v").count()
    val aggPlain = time("agg-unsalted") {
      fact.groupBy("k")
        .agg(sum(col("v").cast("decimal(28,6)")).cast("double").as("sum_v"),
          count(lit(1)).as("n")).count()
    }
    val aggSalted = time("agg-salted") {
      Skew.saltedSumCount(fact, Seq("k"), "v").count()
    }
    // --- join: the shape where the hot key serializes one task
    val plainJoin = fact.join(dim, "k")
    val saltJoin = Skew.saltedJoin(fact, dim, "k")
    plainJoin.count(); saltJoin.count() // warm both plans
    val joinPlain = time("join-unsalted") { plainJoin.count() }
    val joinSalted = time("join-salted") { saltJoin.count() }
    // --- join under AQE skew-join: Spark's runtime split of the skewed
    // shuffle partition (thresholds lowered so the ~50%-of-rows hot
    // partition trips the split at this fixture size; on a real cluster
    // the defaults — 256 MB threshold, 5x median factor — fire on any
    // genuinely hot partition without tuning)
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16m")
    spark.conf.set(
      "spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
    val aqeJoin = fact.join(dim, "k") // rebuilt so AQE plans it fresh
    aqeJoin.count() // warm
    val joinAqe = time("join-aqe-skew") { aqeJoin.count() }
    // diagnostic: confirm OptimizeSkewedJoin actually split the hot
    // partition (the SMJ node prints "skew=true" in the final adaptive
    // plan) — a parity result with the split NOT applied would say
    // nothing about AQE
    val diag = fact.join(dim, "k")
    diag.queryExecution.toRdd.foreachPartition(_ => ())
    println("[skewprobe] aqe_skew_applied=" +
      diag.queryExecution.executedPlan.toString.contains("skew=true"))
    println("[skewprobe-plan] " + diag.queryExecution.executedPlan.toString
      .linesIterator.take(12).mkString(" | "))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    // equality on a stable aggregate of the join output
    val a = plainJoin.groupBy("k").count().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = saltJoin.groupBy("k").count().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val c = aqeJoin.groupBy("k").count().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    println(s"[skewprobe] join_equal=${a == b && a == c} " +
      f"agg_ratio=${aggPlain.toDouble / aggSalted}%.2f " +
      f"join_speedup=${joinPlain.toDouble / joinSalted}%.2f " +
      f"aqe_speedup=${joinPlain.toDouble / joinAqe}%.2f")
    spark.stop()
  }
}
