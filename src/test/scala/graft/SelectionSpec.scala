package graft

import java.math.{BigDecimal => JBD, MathContext, RoundingMode}

import org.apache.spark.sql.functions._

import graft.functions.PortableHash
import graft.operators.Selection

/** DSIR importance weights: gram featurization pinned by hand, the full
  * log-ratio arithmetic replayed by an in-test reference model built on
  * the same portable md5 hash (so the expected values are exact, not
  * property-level). */
class SelectionSpec extends SparkTestBase {
  import spark.implicits._

  test("gramRows: unigrams + adjacent bigrams, empty/null text handling") {
    val docs = Seq(
      (1L, "a b c"), (2L, "solo"), (3L, ""), (4L, null.asInstanceOf[String])
    ).toDF("id", "text")
    val inner = Selection.gramRows(docs, "id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(inner.filter(_._1 == 1L).map(_._2).sorted.toSeq ===
      Seq("a", "a b", "b", "b c", "c"))
    assert(inner.filter(_._1 == 2L).map(_._2).toSeq === Seq("solo"))
    assert(!inner.exists(r => r._1 == 3L || r._1 == 4L))
    // outer: the token-less docs survive as one null-gram row each
    val outer = Selection.gramRows(docs, "id", "text", outer = true)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(outer.count(_._1 == 1L) === 5)
    assert(outer.filter(r => r._1 == 3L || r._1 == 4L).map(_._2).toSeq ===
      Seq(null, null))
  }

  /** Reference model: the exact DSIR arithmetic over explicit gram lists,
    * bucket hash shared with the operator via PortableHash.hash32. */
  private def refLogW(
      rawDocs: Map[Long, Seq[String]], tgtGrams: Seq[String],
      b: Int): Map[Long, Option[Double]] = {
    def bucketOf(g: String): Long =
      PortableHash.hash32(g.getBytes("UTF-8")) % b
    val rawCounts = rawDocs.values.flatten.toSeq.groupBy(bucketOf)
      .map { case (k, v) => k -> v.size.toLong }
    val tgtCounts = tgtGrams.groupBy(bucketOf)
      .map { case (k, v) => k -> v.size.toLong }
    val nr = rawCounts.values.sum
    val nt = tgtGrams.size.toLong
    def q10(x: Double): JBD =
      new JBD(x, MathContext.DECIMAL128).setScale(10, RoundingMode.HALF_UP)
    val lr: Map[Long, JBD] = rawCounts.map { case (bk, cr) =>
      val ct = tgtCounts.getOrElse(bk, 0L)
      val pt = (ct + 1).toDouble / (nt + b).toDouble
      val pr = (cr + 1).toDouble / (nr + b).toDouble
      bk -> q10(math.log(pt)).subtract(q10(math.log(pr)))
        .setScale(12, RoundingMode.HALF_UP)
    }
    rawDocs.map { case (id, grams) =>
      // round the exact DECIMAL sum to 6dp, THEN convert to double —
      // the operator's tie-free order (decimal-round-then-cast)
      id -> (if (grams.isEmpty) None
      else Some(grams.map(g => lr(bucketOf(g)))
        .reduce(_.add(_))
        .setScale(6, RoundingMode.HALF_UP).doubleValue()))
    }
  }

  private def grams(text: String): Seq[String] = {
    val t = text.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
    t ++ t.sliding(2).filter(_.size == 2).map(_.mkString(" ")).toSeq
  }

  test("importanceWeights matches the exact reference model") {
    val raw = Seq(
      (1L, "the quick fox"), (2L, "slow turtle walks slow"),
      (3L, "the quick quick fox"), (4L, ""),
      (5L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val target = Seq("the quick fox jumps", "quick fox")
      .toDF("text")
    val b = 64
    val out = Selection.importanceWeights(raw, target, "doc_id", "text", b)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)))))
      .toMap
    val rawModel = Map(
      1L -> grams("the quick fox"), 2L -> grams("slow turtle walks slow"),
      3L -> grams("the quick quick fox"), 4L -> Seq.empty[String],
      5L -> Seq.empty[String])
    val tgtModel = grams("the quick fox jumps") ++ grams("quick fox")
    val expected = refLogW(rawModel, tgtModel, b)
    assert(out.keySet === rawModel.keySet, "one row per raw doc")
    rawModel.foreach { case (id, g) =>
      assert(out(id)._1 === g.size.toLong, s"n_grams of doc $id")
      assert(out(id)._2 === expected(id), s"log_w of doc $id")
    }
    // the target-like docs outscore the unrelated one
    assert(out(1L)._2.get > out(2L)._2.get)
    assert(out(3L)._2.get > out(2L)._2.get)
  }

  test("scoreAgainst a frozen frame Laplace-scores never-trained " +
      "buckets instead of skipping them") {
    import java.math.{BigDecimal => JBD, RoundingMode}
    val raw = Seq("aa bb").toDF("text") // grams: aa, bb, "aa bb" (nr=3)
    val tgt = Seq("aa").toDF("text") // grams: aa (nt=1)
    val b = 64
    val ratios = Selection.bucketLogRatios(raw, tgt, "text", b)
    // DENSE: every bucket has a finite smoothed ratio
    assert(ratios.count() === b.toLong)
    assert(ratios.filter(col("__lr").isNull).count() === 0L)
    // a doc of entirely novel vocabulary: its buckets were never
    // trained, but each gram must score the Laplace floor
    // ln(1/(nt+B)) − ln(1/(nr+B)), not vanish into a NULL sum
    def bucketOf(g: String): Long =
      PortableHash.hash32(g.getBytes("UTF-8")) % b
    assert(Seq("zz", "zz zz").map(bucketOf)
      .intersect(Seq("aa", "bb", "aa bb").map(bucketOf)).isEmpty,
      "fixture requires the novel grams to miss every trained bucket")
    val out = Selection.scoreAgainst(ratios,
        Seq((1L, "zz zz")).toDF("doc_id", "text"), "doc_id", "text", b)
      .collect().head
    def q10(x: Double): JBD =
      new JBD(x, java.math.MathContext.DECIMAL128)
        .setScale(10, RoundingMode.HALF_UP)
    val lr0 = q10(math.log(1.0 / (1 + b)))
      .subtract(q10(math.log(1.0 / (3 + b)))).setScale(12)
    val expected = lr0.add(lr0).add(lr0) // grams: zz, zz, "zz zz"
      .setScale(6, RoundingMode.HALF_UP).doubleValue()
    assert(out.getLong(1) === 3L, "n_grams")
    assert(!out.isNullAt(2), "novel-vocab doc must not read as unscored")
    assert(out.getDouble(2) === expected, "the Laplace-floor score")
  }

  test("gumbelTopK matches the exact reference keys, excludes null " +
      "scores, and is layout-independent") {
    import java.math.{BigDecimal => JBD, RoundingMode}
    val scored = Seq[(Long, Option[Double])](
      (1L, Some(0.5)), (2L, Some(-1.25)), (3L, Some(2.0)),
      (4L, Some(0.5)), (5L, None), (6L, Some(0.0)), (7L, Some(-0.3)))
      .toDF("doc_id", "score")
    val out = Selection.gumbelTopK(scored, "doc_id", "score", 4, "s1")
      .collect().map(r => r.getLong(0) ->
        r.getDecimal(2).asInstanceOf[java.math.BigDecimal]).toMap
    assert(out.size === 4 && !out.contains(5L), "null score excluded")
    // reference: key = q10(score) + q10(-ln(-ln((h+0.5)/2^60)))
    def md5h(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        d.take(8).map("%02x".format(_)).mkString.take(15), 16)
    }
    def key(id: Long, score: Double): JBD = {
      val u = (md5h("s1" + id).toDouble + 0.5) / math.pow(2, 60)
      JBD.valueOf(score).setScale(10, RoundingMode.HALF_UP).add(
        JBD.valueOf(-math.log(-math.log(u)))
          .setScale(10, RoundingMode.HALF_UP))
    }
    val expected = Seq(1L, 2L, 3L, 4L, 6L, 7L)
      .map(id => id -> key(id, Map(1L -> 0.5, 2L -> -1.25, 3L -> 2.0,
        4L -> 0.5, 6L -> 0.0, 7L -> -0.3)(id)))
      .sortBy { case (id, k) => (BigDecimal(k.negate), id) }
      .take(4)
    assert(out.keySet === expected.map(_._1).toSet, "the sampled SET")
    expected.foreach { case (id, k) =>
      assert(out(id).compareTo(k) === 0, s"key of doc $id")
    }
    // layout-independent: a different partitioning samples the same set
    val repart = Selection.gumbelTopK(scored.repartition(7, col("score")),
        "doc_id", "score", 4, "s1")
      .select("doc_id").as[Long].collect().toSet
    assert(repart === out.keySet)
    // a different seed draws a different sample (6 choose 4 = 15 sets;
    // collision possible but these two measured distinct)
    val other = Selection.gumbelTopK(scored, "doc_id", "score", 4, "s2")
      .select("doc_id").as[Long].collect().toSet
    assert(other !== out.keySet)
  }

  test("gumbelTopK samples proportionally to exp(score): a dominant " +
      "score wins k=1 under every seed") {
    // gap 15: P(miss) ~ n*e^-15 per seed — deterministic in practice
    val scored = ((1 to 20).map(i => (i.toLong, 0.0)) :+ (21L, 15.0))
      .toDF("doc_id", "score")
    (1 to 10).foreach { s =>
      val got = Selection.gumbelTopK(scored, "doc_id", "score", 1, s"p$s")
        .select("doc_id").as[Long].collect()
      assert(got.toSeq === Seq(21L), s"seed p$s picked ${got.toSeq}")
    }
  }

  test("importanceWeights on real documents: target source scores highest " +
      "on average and every doc has a row") {
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    val target = docs.filter(col("source") === "src13").select("text")
    val out = Selection.importanceWeights(docs, target, "doc_id", "text",
      numBuckets = 1024)
    assert(out.count() === docs.count())
    val bySrc = out.join(docs.select("doc_id", "source"), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(avg(col("log_w")).as("m"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val best = bySrc.maxBy(_._2)._1
    assert(best === "src13",
      s"target source should score highest, got $best: $bySrc")
  }

  test("the DSIR scoring join is BROADCAST, never sort-merge " +
      "(VERDICT r18 #4 pin — the B-row ratio frame must reach every " +
      "executor, not shuffle the gram explode)") {
    // the q139-class hazard: the corpus side of scoreAgainst is the
    // full gram explode (corpus-cardinal × ~2 grams/token); if the
    // B-row ratio frame's broadcast ever demotes (a null-safe
    // condition, a lost hint), that explode shuffles — the exact
    // scale-killer PLANS.md documents this operator avoiding. All
    // joins in the chain carry bounded sides (the B-row grid frames,
    // the hinted ratio frame), so the pin is global: zero
    // SortMergeJoin in the FINAL adaptive plan, and the scoring join
    // visible as a BroadcastHashJoin.
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    val target = docs.filter(col("source") === "src13").select("text")
    val out = Selection.importanceWeights(docs, target, "doc_id", "text",
      numBuckets = 64)
    val plan = finalPlan(out)
    assert(plan.contains("BroadcastHashJoin"),
      s"no broadcast join in the scoring chain:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"a bounded-side join demoted to SortMergeJoin:\n$plan")
  }

  test("importanceWeights (shared one-pass form) is row-identical to " +
      "the per-occurrence composition scoreAgainst∘bucketLogRatios") {
    // round 20: importanceWeights derives the raw bucket counts AND the
    // per-doc score from ONE pinned (doc, bucket, cnt) frame, scoring
    // as Σ_b cnt_b·lr_b; the frozen-frame path still scores per gram
    // occurrence. The two must agree BIT-for-bit (exact decimal
    // algebra), including the zero-gram/null-text edge docs.
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
      .unionByName(Seq((100001L, "", "srcE"), (100002L, null, "srcN"))
        .toDF("doc_id", "text", "source"), allowMissingColumns = true)
    val target = docs.filter(col("source") === "src13").select("text")
    val onePass = Selection.importanceWeights(docs, target,
      "doc_id", "text", numBuckets = 128)
    val twoPass = Selection.scoreAgainst(
      Selection.bucketLogRatios(docs, target, "text", 128),
      docs, "doc_id", "text", numBuckets = 128)
    assert(onePass.count() === twoPass.count())
    assert(onePass.except(twoPass).isEmpty &&
      twoPass.except(onePass).isEmpty,
      "one-pass importanceWeights diverged from the per-occurrence form")
  }

  test("curriculumSchedule: tiers are equal-frequency up to ties, " +
      "positions unique, schedule interleaves") {
    val rng = new scala.util.Random(23)
    val df = (0L until 200L).map(i => (i, rng.nextInt(50).toLong))
      .toDF("id", "score")
    val out = Selection.curriculumSchedule(df, "id", "score",
      nBuckets = 4, seed = "s1")
    val rows = out.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    assert(rows.length === 200)
    // positions unique; position ≡ tier−1 (mod nBuckets)
    assert(rows.map(_._4).distinct.length === 200)
    assert(rows.forall { case (_, _, tier, pos) => pos % 4 == tier - 1 })
    // tiers are monotone in score: a higher score never lands in a
    // lower tier, and equal scores share one tier
    val byScore = rows.groupBy(_._2).map { case (s, rs) =>
      assert(rs.map(_._3).distinct.length === 1, s"score $s split tiers")
      s -> rs.head._3
    }
    assert(byScore.toSeq.sortBy(_._1).map(_._2).sliding(2)
      .forall(p => p.length < 2 || p(0) <= p(1)))
    // the first window of the schedule touches every nonempty tier
    val firstWindow = rows.sortBy(_._4).take(4).map(_._3).toSet
    assert(firstWindow === rows.map(_._3).toSet)
  }

  test("curriculumSchedule's salted two-phase rank equals the " +
      "single-partition reference rank under a mega-tie") {
    // 400 rows, ~75 % tied at score 7 (one tier swallows the tie mass —
    // the shape whose serial sort the salting exists to parallelize);
    // reference = the pre-salt formula: rank over ONE partition per tier
    // by (md5 order key, id)
    val rng = new scala.util.Random(41)
    val df = (0L until 400L)
      .map(i => (i, if (rng.nextInt(4) == 0) rng.nextInt(6).toLong else 7L))
      .toDF("id", "score")
    val out = Selection.curriculumSchedule(df, "id", "score", 4, "mt")
      .collect().map(r => (r.getLong(0), r.getInt(2), r.getLong(3)))
    val shuf = df.withColumn("__h", PortableHash.md5Prefix(
        concat(lit("mt"), col("id").cast("string")), 15))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val tiers = out.map(r => r._1 -> r._2).toMap
    val refPos = out.map(_._2).distinct.flatMap { t =>
      out.filter(_._2 == t).map(_._1)
        .sortBy(id => (shuf(id), id)).zipWithIndex
        .map { case (id, r) => id -> (r.toLong * 4 + (t - 1)) }
    }.toMap
    out.foreach { case (id, _, pos) =>
      assert(pos === refPos(id), s"id=$id tier=${tiers(id)}")
    }
  }

  test("curriculumSchedule is layout-invariant and excludes null scores") {
    val df = Seq((1L, Some(3L)), (2L, Some(1L)), (3L, None), (4L, Some(3L)),
      (5L, Some(2L)), (6L, Some(9L))).toDF("id", "score")
    val a = Selection.curriculumSchedule(df, "id", "score", 3, "z")
      .collect().map(r => (r.getLong(0), r.getInt(2), r.getLong(3))).toSet
    val b = Selection.curriculumSchedule(df.repartition(5), "id", "score",
        3, "z")
      .collect().map(r => (r.getLong(0), r.getInt(2), r.getLong(3))).toSet
    assert(a === b)
    assert(!a.exists(_._1 == 3L)) // null score: no difficulty, no row
    // 5 scored rows into 3 tiers: cdf ⌈·⌉ puts score 1 in tier 1,
    // score 2 in tier 2, the 3s in tier 3 (cdf 4/5·3 → ⌈2.4⌉), 9 in 3
    val tiers = a.map(r => r._1 -> r._2).toMap
    assert(tiers === Map(2L -> 1, 5L -> 2, 1L -> 3, 4L -> 3, 6L -> 3))
  }
}
