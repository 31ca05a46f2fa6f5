package graft

import org.apache.spark.sql.functions._
import graft.operators.Fuzzy

/** Blocked fuzzy-join operators, cross-checked against the naive O(n²)
  * plans they replace — both blockings are COMPLETE by construction
  * (PassJoin pigeonhole / prefix filtering), so outputs must be
  * set-identical to brute force, including adversarial shapes: short
  * strings (below k+1 chars, the segment scheme's edge), duplicate
  * strings, empty strings/sets, and near-threshold similarities.
  */
class FuzzySpec extends SparkTestBase {
  import spark.implicits._

  private def bruteEd(strs: Seq[String], k: Int): Set[(String, String, Int)] = {
    val d = strs.distinct
    (for {
      a <- d; b <- d if a < b
      dist = levDist(a, b) if dist <= k
    } yield (a, b, dist)).toSet
  }

  private def levDist(as: String, bs: String): Int = {
    // over codepoints, matching Spark's levenshtein (an astral char is ONE
    // edit, not a surrogate pair's two)
    val a = as.codePoints().toArray
    val b = bs.codePoints().toArray
    val dp = Array.tabulate(a.length + 1)(i => i)
    for (j <- 1 to b.length) {
      var prev = dp(0)
      dp(0) = j
      for (i <- 1 to a.length) {
        val cur = dp(i)
        dp(i) = math.min(math.min(dp(i) + 1, dp(i - 1) + 1),
          prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
        prev = cur
      }
    }
    dp(a.length)
  }

  private def edJoin(strs: Seq[String], k: Int): Set[(String, String, Int)] =
    Fuzzy.editDistanceSelfJoin(strs.toDF("s"), "s", k)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet

  test("editDistanceSelfJoin matches brute force on hand-picked cases") {
    val strs = Seq(
      "kettle", "kettles", "kettle", "settle", "cat", "cats", "ca", "c", "",
      "abcdefgh", "abcdefxx", "xxcdefgh", "abcdefghijkl", "abcdefghijklmno",
      "banana", "bananas", "bandana", "bananarama")
    for (k <- 1 to 3) {
      assert(edJoin(strs, k) == bruteEd(strs, k), s"k=$k")
    }
  }

  test("editDistanceSelfJoin matches brute force on random strings (property)") {
    val rng = new scala.util.Random(7)
    // small alphabet and lengths straddling the short-string cutoff (2k)
    // force collisions, empty segments, and cross-length pairs
    val strs = Seq.fill(120)(
      (0 until rng.nextInt(13)).map(_ => ('a' + rng.nextInt(3)).toChar).mkString)
    for (k <- Seq(1, 2, 3)) {
      assert(edJoin(strs, k) == bruteEd(strs, k), s"k=$k")
    }
  }

  test("editDistanceSelfJoin handles unicode beyond the BMP") {
    // suppletives are 2 UTF-16 units but 1 codepoint: positions must track
    // codepoints or segment boundaries drift vs levenshtein's chars
    val strs = Seq("a😀bcd", "a😀bce", "abcd", "axbcd")
    assert(edJoin(strs, 2) == bruteEd(strs, 2))
  }

  private def bruteJac(sets: Seq[(Long, Seq[String])], t: Double)
      : Set[(Long, Long, Double)] =
    (for {
      (ia, sa) <- sets; (ib, sb) <- sets
      da = sa.distinct.toSet; db = sb.distinct.toSet
      u = (da ++ db).size if u > 0
      j = (da & db).size.toDouble / u if j >= t
    } yield (ia, ib, j)).toSet

  test("jaccardJoin matches brute force on random sets (property)") {
    val rng = new scala.util.Random(11)
    val vocab = (0 until 30).map(i => s"w$i")
    val sets = (0L until 60L).map(i =>
      (i, Seq.fill(rng.nextInt(12))(vocab(rng.nextInt(vocab.size)))))
    val df = sets.toDF("id", "st")
    for (t <- Seq(0.3, 0.5, 0.8)) {
      val got = Fuzzy.jaccardJoin(df, df, "id", "st", t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == bruteJac(sets, t), s"t=$t")
    }
  }

  test("jaccardSelfJoin equals two-sided join carved by the predicate") {
    val rng = new scala.util.Random(13)
    val vocab = (0 until 20).map(i => s"w$i")
    val sets = (0L until 50L).map(i =>
      (i, Seq.fill(1 + rng.nextInt(10))(vocab(rng.nextInt(vocab.size)))))
    val df = sets.toDF("id", "st")
    val t = 0.4
    val self = Fuzzy.jaccardSelfJoin(df, "id", "st", t, col("id") % 5 === 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val two = Fuzzy.jaccardJoin(df.filter(col("id") % 5 === 0), df,
        "id", "st", t)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(self == two)
    assert(self == bruteJac(sets, t).filter(_._1 % 5 == 0))
  }

  private def bruteContain(
      sets: Seq[(Long, Seq[String])], t: Double): Set[(Long, Long, Double)] = {
    val d = sets.map { case (i, s) => (i, s.distinct.toSet) }
    (for {
      (ia, sa) <- d if sa.nonEmpty
      (ib, sb) <- d if ia != ib
      c = sa.intersect(sb).size.toDouble / sa.size if c >= t
    } yield (ia, ib, c)).toSet
  }

  test("containmentSelfJoin matches brute force, both slice forms") {
    val rng = new scala.util.Random(17)
    val vocab = (0 until 25).map(i => s"w$i")
    val sets = (0L until 60L).map(i =>
      (i, Seq.fill(rng.nextInt(12))(vocab(rng.nextInt(vocab.size)))))
    val df = sets.toDF("id", "st")
    for (t <- Seq(0.5, 0.8, 1.0)) {
      val wholeDf = Fuzzy.containmentSelfJoin(df, "id", "st", t, lit(true))
      // the whole-corpus arm reads its input only through the pinned set
      // frame: every leaf of its plan is the pin, none is the input
      assert(wholeDf.queryExecution.analyzed.collectLeaves().forall(
        _.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]),
        s"whole corpus re-reads its input, t=$t")
      val whole = wholeDf
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(whole == bruteContain(sets, t), s"whole corpus, t=$t")
      val slice = Fuzzy.containmentSelfJoin(df, "id", "st", t,
          col("id") % 4 === 0)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(slice == bruteContain(sets, t).filter(_._1 % 4 == 0),
        s"slice, t=$t")
    }
  }

  test("containment is directed: excerpt-in-document found one way only") {
    // the subset-duplication case Jaccard misses: a 3-token excerpt
    // inside a 12-token document
    val doc = (1 to 12).map(i => s"t$i")
    val df = Seq((1L, doc.take(3)), (2L, doc)).toDF("id", "st")
    val got = Fuzzy.containmentSelfJoin(df, "id", "st", 0.9, lit(true))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == Set((1L, 2L, 1.0))) // excerpt ⊂ doc; doc ⊄ excerpt
    // and Jaccard at the same bar sees nothing (self-pairs excluded —
    // jaccardSelfJoin leaves orientation to callers)
    assert(Fuzzy.jaccardSelfJoin(df, "id", "st", 0.9, lit(true))
      .filter(col("id_a") =!= col("id_b")).collect().isEmpty)
  }

  test("containment cap keeps best partners; empty sets emit nothing") {
    val base = (1 to 10).map(i => s"t$i")
    val df = Seq(
      (1L, base.take(4)),             // query: 4 tokens
      (2L, base),                     // superset: containment 1.0
      (3L, base.take(3) ++ Seq("x")), // 3/4 = 0.75
      (4L, base.take(4) ++ Seq("y")), // 1.0
      (5L, Seq.empty[String])         // empty: no rows either side
    ).toDF("id", "st")
    val capped = Fuzzy.containmentSelfJoin(df, "id", "st", 0.7,
        col("id") === 1, maxPairsPerDoc = 2)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSet
    assert(capped == Set((2L, 1.0), (4L, 1.0))) // 0.75 partner dropped
    assert(Fuzzy.containmentSelfJoin(df, "id", "st", 0.5, col("id") === 5)
      .collect().isEmpty)
  }

  test("maxPairsPerDoc keeps the strongest partners, default is uncapped") {
    val rng = new scala.util.Random(17)
    val vocab = (0 until 20).map(i => s"w$i")
    val sets = (0L until 50L).map(i =>
      (i, Seq.fill(1 + rng.nextInt(10))(vocab(rng.nextInt(vocab.size)))))
    val df = sets.toDF("id", "st")
    val t = 0.3
    val full = Fuzzy.jaccardSelfJoin(df, "id", "st", t, lit(true))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val cap = 2
    val capped = Fuzzy.jaccardSelfJoin(df, "id", "st", t, lit(true),
        maxPairsPerDoc = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // capped = per-id_a top-`cap` of the full result under
    // (jaccard desc, id_b asc) — same rows, never reordered scores
    val expected = full.toSeq.groupBy(_._1).values.flatMap(rows =>
      rows.sortBy(r => (-r._3, r._2)).take(cap)).toSet
    assert(capped.toSet == expected)
    assert(capped.length < full.length) // the fixture overflows the cap
    // a cap larger than any doc's pair count is the identity
    val loose = Fuzzy.jaccardSelfJoin(df, "id", "st", t, lit(true),
        maxPairsPerDoc = 1000000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(loose.toSet == full.toSet)
  }

  test("cap truncation metric reports the exact dropped-pair count") {
    val rng = new scala.util.Random(19)
    val vocab = (0 until 15).map(i => s"w$i")
    val sets = (0L until 40L).map(i =>
      (i, Seq.fill(1 + rng.nextInt(8))(vocab(rng.nextInt(vocab.size)))))
    val df = sets.toDF("id", "st")
    // the cap reports paired counts: <name>.pre carries pairs_before_cap
    // on the TopK input, <name>.post carries pairs_after_cap on its
    // output — dropped pairs = before − after
    @volatile var observedPre: Option[Long] = None
    @volatile var observedPost: Option[Long] = None
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          d: Long): Unit =
        qe.observedMetrics.foreach { case (name, row) =>
          if (name.startsWith("graft.fuzzy.jaccard_truncation")) {
            if (name.endsWith(".pre"))
              observedPre =
                Some(row.getLong(row.fieldIndex("pairs_before_cap")))
            else if (name.endsWith(".post"))
              observedPost =
                Some(row.getLong(row.fieldIndex("pairs_after_cap")))
          }
        }
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val full = Fuzzy.jaccardSelfJoin(df, "id", "st", 0.3, lit(true))
        .count()
      val capped = Fuzzy.jaccardSelfJoin(df, "id", "st", 0.3, lit(true),
          maxPairsPerDoc = 1)
        .count()
      // QueryExecutionListener delivery is async — poll with a deadline
      val deadline = System.currentTimeMillis + 20000
      while ((observedPre.isEmpty || observedPost.isEmpty) &&
        System.currentTimeMillis < deadline)
        Thread.sleep(50)
      assert(observedPre.nonEmpty && observedPost.nonEmpty,
        "truncation metrics never observed")
      assert(observedPre.get == full) // pre metric sees every pre-cap pair
      assert(observedPost.get == capped) // post metric sees the kept set
      assert(observedPre.get - observedPost.get == full - capped)
      assert(observedPre.get - observedPost.get > 0)
    } finally spark.listenerManager.unregister(listener)
  }

  test("two capped joins compose into one plan (unique metric names)") {
    // Regression: a fixed observe() name made `cappedA union cappedB`
    // fail analysis with a duplicate-observed-metric error.
    val df = Seq(
      (1L, Seq("a", "b", "c")), (2L, Seq("a", "b", "c")),
      (3L, Seq("a", "b", "d")), (4L, Seq("a", "b"))).toDF("id", "st")
    val a = Fuzzy.jaccardSelfJoin(df, "id", "st", 0.3, lit(true),
      maxPairsPerDoc = 1)
    val b = Fuzzy.jaccardSelfJoin(df, "id", "st", 0.5, lit(true),
      maxPairsPerDoc = 1)
    assert(a.unionByName(b).count() > 0) // analyzes and runs
  }

  test("editDistanceSelfJoin cap keeps nearest partners per name") {
    val df = Seq("aaaa", "aaab", "aaac", "aabb", "zzzz")
      .toDF("name")
    val full = Fuzzy.editDistanceSelfJoin(df, "name", 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2)))
    val capped = Fuzzy.editDistanceSelfJoin(df, "name", 2,
        maxPairsPerDoc = 1)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2)))
    val expected = full.toSeq.groupBy(_._1).values.flatMap(rows =>
      rows.sortBy(r => (r._3, r._2)).take(1)).toSet
    assert(capped.toSet == expected)
    assert(capped.length < full.length)
  }

  test("fan-out pin: selective slice is pinned, whole corpus is not") {
    // Regression pin for the round-11 AQE pathology: with a SELECTIVE
    // left slice every intermediate is tiny in bytes, so AQE's
    // byte-based coalescing would fold the prefix-carve exchange to one
    // partition, and the broadcast-resolved downstream joins would run
    // candidate generation + verify in ONE task (790 of 805 s at the
    // 10× probe). The fix pins REPARTITION_BY_NUM — the one shuffle
    // shape AQE never coalesces — at the carve and candidate exchanges,
    // but ONLY for the selective form: the whole-corpus arm's shuffles
    // are corpus-sized and the pin's two-phase carve taxed it ~1.4×
    // (round-12 A/B in SCALING.md). Both halves are asserted so neither
    // a dropped pin nor a leaked pin can regress silently.
    val rng = new scala.util.Random(37)
    val vocab = (0 until 12).map(i => s"w$i")
    val df = (0L until 80L).map(i =>
      (i, Seq.fill(2 + rng.nextInt(6))(vocab(rng.nextInt(vocab.size)))))
      .toDF("id", "st")
    def finalPlan(q: org.apache.spark.sql.DataFrame): String = {
      q.collect()
      q.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
    }
    val selective = finalPlan(
      Fuzzy.jaccardSelfJoin(df, "id", "st", 0.3, col("id") % 4 === 0))
    assert(selective.contains("REPARTITION_BY_NUM"),
      "selective-slice form lost its fan-out pin — AQE can fold " +
        "candidate generation to one task again")
    val whole = finalPlan(
      Fuzzy.jaccardSelfJoin(df, "id", "st", 0.3, lit(true)))
    assert(!whole.contains("REPARTITION_BY_NUM"),
      "whole-corpus form carries the fan-out pin — it pays the " +
        "two-phase carve + fixed fan-out constants for nothing")
    // The gate is SEMANTIC, not structural: any predicate that
    // constant-folds to true after analysis selects the whole corpus
    // and must ride the unpinned arm. Under the old structural
    // `leftPred != lit(true)` test, both of these silently took the
    // pinned selective arm with the whole corpus behind it — the exact
    // ~1.4× carve tax the gate exists to avoid.
    val aliasedTrue = finalPlan(
      Fuzzy.jaccardSelfJoin(df, "id", "st", 0.3, lit(true).alias("keep")))
    assert(!aliasedTrue.contains("REPARTITION_BY_NUM"),
      "aliased lit(true) took the pinned selective arm — the pin gate " +
        "regressed to a structural Column-equality test")
    val computedTrue = finalPlan(
      Fuzzy.jaccardSelfJoin(df, "id", "st", 0.3, lit(1) === lit(1)))
    assert(!computedTrue.contains("REPARTITION_BY_NUM"),
      "foldable-true predicate took the pinned selective arm — the " +
        "pin gate regressed to a structural Column-equality test")
  }

  test("the pin gate changes the plan, never the result") {
    // leftPred = lit(true) takes the unpinned whole-corpus arm;
    // a trivially-true COMPUTED predicate takes the pinned selective
    // arm. Same semantics either way — the two arms must agree exactly.
    val rng = new scala.util.Random(43)
    val vocab = (0 until 10).map(i => s"w$i")
    val df = (0L until 70L).map(i =>
      (i, Seq.fill(2 + rng.nextInt(6))(vocab(rng.nextInt(vocab.size)))))
      .toDF("id", "st")
    def rows(pred: org.apache.spark.sql.Column) =
      Fuzzy.jaccardSelfJoin(df, "id", "st", 0.4, pred)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
    assert(rows(lit(true)) == rows(col("id") >= 0L))
  }

  test("selective-slice candidate generation runs at pinned parallelism") {
    // The behavioral half of the pin: on a byte-tiny selective slice,
    // at least one post-carve stage must still run with the session's
    // configured shuffle parallelism (here 8). Under the pathology the
    // whole chain collapses to single-task stages, so max tasks over
    // the job's shuffle stages would be 1.
    val rng = new scala.util.Random(41)
    val vocab = (0 until 12).map(i => s"w$i")
    val df = (0L until 80L).map(i =>
      (i, Seq.fill(2 + rng.nextInt(6))(vocab(rng.nextInt(vocab.size)))))
      .toDF("id", "st")
    val maxTasks = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        maxTasks.getAndAccumulate(s.stageInfo.numTasks, Math.max _)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      Fuzzy.jaccardSelfJoin(df, "id", "st", 0.3, col("id") % 4 === 0)
        .count()
      // listener bus is async — poll with a deadline for the pinned
      // stage's completion event (same pattern as the observe test)
      val numPart = spark.sessionState.conf.numShufflePartitions
      val deadline = System.currentTimeMillis + 20000
      while (maxTasks.get < numPart && System.currentTimeMillis < deadline)
        Thread.sleep(50)
      assert(maxTasks.get >= numPart,
        s"no stage reached the pinned parallelism ($numPart): " +
          s"max tasks seen = ${maxTasks.get} — the carve exchange " +
          "coalesced and candidate generation is single-task again")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("the cap never sorts, and adds at most one skinny exchange") {
    // The heap-based cap must not sort anything (that was the
    // row_number formulation's scale bug), and the only exchange it may
    // add over the uncapped plan is the hash partition of the SKINNY
    // verified (id_a, id_b, jaccard) rows for TopK's distribution — it
    // must never re-shuffle the fat pre-verify candidate/set data.
    val rng = new scala.util.Random(31)
    val vocab = (0 until 12).map(i => s"w$i")
    val df = (0L until 60L).map(i =>
      (i, Seq.fill(2 + rng.nextInt(6))(vocab(rng.nextInt(vocab.size)))))
      .toDF("id", "st")
    def countNodes(q: org.apache.spark.sql.DataFrame,
        needle: String): Int = {
      q.collect() // force the AQE final plan
      // AdaptiveSparkPlan.toString appends the pre-AQE "Initial Plan"
      // section — count the FINAL plan only, or every node tallies twice
      q.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
        .linesIterator.count(_.contains(needle))
    }
    val uncapped = Fuzzy.jaccardSelfJoin(df, "id", "st", 0.3, lit(true))
    val capped = Fuzzy.jaccardSelfJoin(df, "id", "st", 0.3, lit(true),
      maxPairsPerDoc = 2)
    val extraExchanges =
      countNodes(capped, "Exchange") - countNodes(uncapped, "Exchange")
    assert(extraExchanges <= 1,
      s"capping added $extraExchanges exchanges — it re-shuffled more " +
        "than the skinny verified pair set")
    assert(countNodes(capped, "Sort") == countNodes(uncapped, "Sort"),
      "capping sorted the verified pair set")
  }
}
