package graft

import org.apache.spark.sql.functions._
import graft.operators.{Mixing, Pin}

class MixingSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val corpus = (0 until 3000).map { i =>
    val src = Seq("web", "code", "books", "junk")(i % 4) // 750 each
    (i.toLong, src, s"doc $i")
  }.toDF("id", "source", "text").cache()

  test("mixFractions keeps the binding source whole, scales the rest") {
    val f = Mixing.mixFractions(
      Map("web" -> 750L, "code" -> 750L, "books" -> 750L),
      Map("web" -> 0.6, "code" -> 0.3, "books" -> 0.1))
    // web binds: N = 750/0.6 = 1250 → web 1.0, code 0.5, books 1/6
    assert(f("web") == 1.0)
    assert(math.abs(f("code") - 0.5) < 1e-12)
    assert(math.abs(f("books") - 1.0 / 6) < 1e-12)
  }

  test("temperatureWeights: alpha=1 natural, alpha=0 uniform, low alpha upweights rare") {
    val counts = Map("web" -> 900L, "code" -> 90L, "books" -> 10L)
    val natural = Mixing.temperatureWeights(counts, 1.0)
    assert(math.abs(natural("web") - 0.9) < 1e-12)
    assert(math.abs(natural("books") - 0.01) < 1e-12)
    val uniform = Mixing.temperatureWeights(counts, 0.0)
    assert(uniform.values.forall(w => math.abs(w - 1.0 / 3) < 1e-12))
    val t03 = Mixing.temperatureWeights(counts, 0.3)
    // rare source gains share vs natural, dominant loses; sums to 1
    assert(t03("books") > natural("books") && t03("web") < natural("web"))
    assert(math.abs(t03.values.sum - 1.0) < 1e-12)
    // composes with the mixer: weights are a valid mixSources target
    val rows = (1 to 100).map(i =>
      (i.toLong, if (i <= 80) "web" else if (i <= 95) "code" else "books"))
      .toDF("id", "source")
    val mixed = Mixing.mixSources(rows, "id", "source",
      Mixing.temperatureWeights(Map("web" -> 80L, "code" -> 15L,
        "books" -> 5L), 0.5))
    assert(mixed.count() > 0)
  }

  test("mixSources hits target proportions and drops unlisted sources") {
    val out = Mixing.mixSources(corpus, "id", "source",
      Map("web" -> 0.6, "code" -> 0.3, "books" -> 0.1))
    val got = out.groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!got.contains("junk"))
    val total = got.values.sum.toDouble
    // hash buckets are approximate at n=750; 5% absolute tolerance
    assert(math.abs(got("web") / total - 0.6) < 0.05)
    assert(math.abs(got("code") / total - 0.3) < 0.05)
    assert(math.abs(got("books") / total - 0.1) < 0.05)
    // binding source (web) is kept whole — no upsampling anywhere
    assert(got("web") == 750L)
    // deterministic: identical output set on re-run
    val again = Mixing.mixSources(corpus, "id", "source",
      Map("web" -> 0.6, "code" -> 0.3, "books" -> 0.1))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(again == out.select("id").collect().map(_.getLong(0)).toSet)
  }

  test("a target source absent from the data yields an empty mix") {
    // absent source has 0 rows -> N = min(n_s/w_s) = 0 -> nothing can
    // satisfy the proportions without upsampling
    val out = Mixing.mixSources(corpus, "id", "source",
      Map("web" -> 0.5, "nonexistent" -> 0.5))
    assert(out.count() == 0)
  }

  test("token-budget selection keeps best-first within each source's cap") {
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      // (id, source, tokens, quality)
      (1L, "web", 50L, 0.9), (2L, "web", 60L, 0.8), (3L, "web", 40L, 0.7),
      (4L, "code", 100L, 0.5), (5L, "code", 30L, 0.9)
    ).toDF("id", "source", "n_tokens", "quality")
    val out = Mixing.selectWithinTokenBudget(docs, "source", "n_tokens",
      budget = 120L, Seq(col("quality").desc, col("id")))
      .collect().map(r => r.getLong(0) -> r.getLong(4)).toMap
    // web: 1 (cum 50), 2 (cum 110); 3 would hit 150 > 120 -> dropped
    // code: 5 (cum 30), 4 (cum 130 > 120) -> dropped
    assert(out.keySet == Set(1L, 2L, 5L))
    assert(out(2L) == 110L && out(5L) == 30L)
    // layout independence: same survivors from a different partitioning
    val re = Mixing.selectWithinTokenBudget(docs.repartition(7),
      "source", "n_tokens", budget = 120L,
      Seq(col("quality").desc, col("id")))
      .collect().map(_.getLong(0)).toSet
    assert(re == out.keySet)
  }

  test("weights must be positive and sum to 1") {
    intercept[IllegalArgumentException] {
      Mixing.mixFractions(Map("a" -> 1L), Map("a" -> 0.4, "b" -> 0.4))
    }
    intercept[IllegalArgumentException] {
      Mixing.mixFractions(Map("a" -> 1L), Map("a" -> 1.5, "b" -> -0.5))
    }
  }

  private def waterfillRows(rows: (String, Long, Double)*) =
    rows.toSeq.toDF("source", "n_tokens", "weight")

  test("budgetWaterfill: no cap binds -> pure proportional split") {
    // caps 1000/1000 dwarf the budget: lambda = 300/1.0, allocs 225/75
    val out = Mixing.budgetWaterfill(
      waterfillRows(("a", 100L, 0.75), ("b", 100L, 0.25)),
      "source", "n_tokens", "weight", budget = 300L, maxEpochs = 10.0)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("a").getAs[Double]("alloc_tokens") === 225.0)
    assert(out("b").getAs[Double]("alloc_tokens") === 75.0)
    assert(out("a").getAs[Boolean]("capped") === false)
    assert(out("b").getAs[Boolean]("capped") === false)
    assert(out("a").getAs[Double]("lambda") === 300.0)
    assert(out("a").getAs[Double]("epochs") === 2.25)
  }

  test("budgetWaterfill: a binding cap redistributes to the rest") {
    // caps 20/200 (maxEpochs 2), T=100: unconstrained lambda 100 > r_a=40
    // -> a capped at 20, remaining 80 to b (lambda 160); sum == T
    val out = Mixing.budgetWaterfill(
      waterfillRows(("a", 10L, 0.5), ("b", 100L, 0.5)),
      "source", "n_tokens", "weight", budget = 100L, maxEpochs = 2.0)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("a").getAs[Double]("alloc_tokens") === 20.0)
    assert(out("a").getAs[Boolean]("capped") === true)
    assert(out("a").getAs[Double]("epochs") === 2.0)
    assert(out("b").getAs[Double]("alloc_tokens") === 80.0)
    assert(out("b").getAs[Boolean]("capped") === false)
    assert(out("b").getAs[Double]("lambda") === 160.0)
    assert(out("a").getAs[Double]("alloc_tokens") +
      out("b").getAs[Double]("alloc_tokens") === 100.0)
  }

  test("budgetWaterfill: infeasible budget -> NULL lambda, all capped, " +
      "visible shortfall") {
    val out = Mixing.budgetWaterfill(
      waterfillRows(("a", 10L, 0.5), ("b", 100L, 0.5)),
      "source", "n_tokens", "weight", budget = 1000L, maxEpochs = 2.0)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("a").isNullAt(out("a").fieldIndex("lambda")))
    assert(out("a").getAs[Double]("alloc_tokens") === 20.0)
    assert(out("b").getAs[Double]("alloc_tokens") === 200.0)
    assert(out.values.forall(_.getAs[Boolean]("capped")))
  }

  test("budgetWaterfill: empty source allocates zero with NULL epochs") {
    val out = Mixing.budgetWaterfill(
      waterfillRows(("a", 0L, 0.5), ("b", 100L, 0.5)),
      "source", "n_tokens", "weight", budget = 50L, maxEpochs = 2.0)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("a").getAs[Double]("alloc_tokens") === 0.0)
    assert(out("a").isNullAt(out("a").fieldIndex("epochs")))
    assert(out("a").getAs[Boolean]("capped") === true) // r=0 <= lambda
    assert(out("b").getAs[Double]("alloc_tokens") === 50.0)
  }

  test("budgetWaterfill rejects a non-positive budget or ceiling") {
    intercept[IllegalArgumentException] {
      Mixing.budgetWaterfill(waterfillRows(("a", 1L, 1.0)),
        "source", "n_tokens", "weight", budget = 0L, maxEpochs = 2.0)
    }
    intercept[IllegalArgumentException] {
      Mixing.budgetWaterfill(waterfillRows(("a", 1L, 1.0)),
        "source", "n_tokens", "weight", budget = 10L, maxEpochs = 0.0)
    }
  }

  test("budgetWaterfill fails fast on a non-positive or NaN weight " +
      "instead of silently corrupting lambda") {
    // a negative weight sorts first in ratio order and inflates lambda
    // for every other source — the guard turns that into an error
    for (badW <- Seq(-0.2, 0.0, Double.NaN)) {
      val e = intercept[Exception] {
        Mixing.budgetWaterfill(
          waterfillRows(("a", 10L, badW), ("b", 100L, 0.5)),
          "source", "n_tokens", "weight", budget = 100L, maxEpochs = 2.0)
          .collect()
      }
      val msg = Option(e.getMessage).getOrElse("") +
        Option(e.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")
      assert(msg.contains("weight must be a positive number"),
        s"weight=$badW raised: $e")
    }
  }

  test("doremiReweight matches the exact reference model incl. " +
      "null-loss, all-null-domain, clipping, and null-domain edges") {
    import java.math.{BigDecimal => JBD, RoundingMode}
    val ex = Seq[(String, Option[Double], Option[Double])](
      ("a", Some(2.5), Some(1.0)), ("a", Some(3.0), Some(1.5)), // 1.5, 1.5
      ("b", Some(1.0), Some(2.0)),                              // clips to 0
      ("b", Some(1.2), Some(1.2)),                              // 0
      ("c", None, Some(1.0)),               // unscored: no loss, no count
      (null, Some(4.0), Some(1.0)))                             // excess 3
      .toDF("dom", "p", "r")
    val out = Mixing.doremiReweight(ex, "dom", col("p"), col("r"))
      .collect()
      .map(r => Option(r.getString(0)).getOrElse("<null>") -> r).toMap
    // reference replay with the operator's exact arithmetic
    // JBD.valueOf mirrors Spark's double->decimal cast (shortest-repr
    // BigDecimal.valueOf, then HALF_UP at the target scale)
    def eq10(x: Double): JBD =
      JBD.valueOf(x).setScale(10, RoundingMode.HALF_UP)
    val means = Map("a" -> Some(1.5), "b" -> Some(0.0),
      "c" -> None, "<null>" -> Some(3.0))
    val prior = JBD.valueOf(1.0 / 4).setScale(12, RoundingMode.HALF_UP)
    val u = means.map { case (d, m) =>
      d -> prior.multiply(m.map(v => eq10(math.exp(v)))
        .getOrElse(JBD.ONE.setScale(10)))
    }
    val z = u.values.reduce(_.add(_))
    means.foreach { case (d, m) =>
      val row = out(d)
      assert(row.getLong(1) === (if (d == "c") 0L
        else if (d == "a") 2L else if (d == "b") 2L else 1L),
        s"n_examples of $d")
      m match {
        case Some(v) => assert(row.getDouble(2) === v, s"mean of $d")
        case None => assert(row.isNullAt(2), s"mean of $d should be NULL")
      }
      assert(row.getDouble(3) === 0.25, s"alpha_prior of $d")
      val expected = 0.99 * (u(d).doubleValue() / z.doubleValue()) +
        0.01 / 4.0
      assert(row.getDouble(4) === expected, s"alpha of $d")
    }
    // renormalized: alphas sum to 1 (up to double addition error)
    assert(math.abs(out.values.map(_.getDouble(4)).sum - 1.0) < 1e-12)
    // the high-excess domains gained weight, the clipped one lost it
    assert(out("<null>").getDouble(4) > out("a").getDouble(4))
    assert(out("a").getDouble(4) > out("b").getDouble(4))
    // the signal-less domain kept its prior modulo renorm + smoothing
    assert(out("c").getDouble(4) < 0.25)
  }

  test("doremiReweight uses a supplied prior and fails fast on a " +
      "domain the prior is missing") {
    val ex = Seq(("a", 2.0, 1.0), ("b", 1.0, 1.0)).toDF("dom", "p", "r")
    val prior = Seq(("a", 0.8), ("b", 0.2)).toDF("dom", "alpha")
    val out = Mixing.doremiReweight(ex, "dom", col("p"), col("r"),
        Some(prior)).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out("a").getDouble(3) === 0.8 && out("b").getDouble(3) === 0.2)
    // a has excess 1, b has 0: a's share grows past its prior's 0.8
    // relative share under the multiplicative update
    assert(out("a").getDouble(4) > out("b").getDouble(4))
    assert(out("a").getDouble(4) / out("b").getDouble(4) > 0.8 / 0.2)
    val e = intercept[Exception] {
      Mixing.doremiReweight(ex, "dom", col("p"), col("r"),
        Some(prior.filter(col("dom") =!= "b"))).collect()
    }
    val msg = Option(e.getMessage).getOrElse("") +
      Option(e.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")
    assert(msg.contains("has no prior alpha"), s"raised: $e")
  }

  test("selectWithinTokenBudgets cuts each source at its own budget " +
      "and excludes unplanned sources by contract") {
    val docs = Seq(("a", 1L, 10L), ("a", 2L, 10L), ("a", 3L, 10L),
      ("b", 4L, 10L), ("b", 5L, 10L), ("c", 6L, 10L))
      .toDF("source", "id", "tok")
    val budgets = Seq(("a", 25.0), ("b", 100.0)).toDF("source", "budget")
    val kept = Mixing.selectWithinTokenBudgets(docs, "source", "tok",
        budgets, "budget", Seq(col("id")))
      .select("id").as[Long].collect().sorted
    // a: ids 1,2 (cum 10,20; id 3 would hit 30 > 25); b: both; c: none
    assert(kept.toSeq === Seq(1L, 2L, 4L, 5L))
  }

  test("materializeMixture reconciles the plan: per-source keeps within " +
      "alloc, zero-keep sources visible, null ids dropped") {
    val docs = ((1 to 10).map(i => ("a", Some(i.toLong), 10L)) ++ Seq(
      ("a", None, 10L), // null id: dropped from counts and keeps
      ("tiny", Some(11L), 100L))) // alloc below its one doc -> 0, visible
      .toDF("source", "doc_id", "tok")
    val weights = Seq(("a", 0.989), ("tiny", 0.011))
      .toDF("source", "weight")
    val out = Mixing.materializeMixture(Pin(docs), "source", "doc_id",
        col("tok"), weights, budget = 60L, maxEpochs = 1.0)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out.keySet === Set("a", "tiny"))
    // null-id doc is in neither n_docs nor the keeps
    assert(out("a").getAs[Long]("n_docs") === 10L)
    assert(out("a").getAs[Long]("n_tokens") === 100L)
    // lambda = 60: a gets 59.34 -> 5 docs / 50 tokens kept
    assert(out("a").getAs[Long]("n_docs_kept") === 5L)
    assert(out("a").getAs[Long]("tokens_kept") === 50L)
    assert(out("a").getAs[Long]("tokens_kept") <=
      out("a").getAs[Double]("alloc_tokens").toLong)
    // tiny's alloc (0.66) is below its single 100-token doc
    assert(out("tiny").getAs[Long]("n_docs_kept") === 0L)
    assert(out("tiny").getAs[Long]("tokens_kept") === 0L)
    // a source the weights frame is missing fails fast in the guard
    val e = intercept[Exception] {
      Mixing.materializeMixture(Pin(docs), "source", "doc_id", col("tok"),
        weights.filter(col("source") =!= "tiny"),
        budget = 60L, maxEpochs = 1.0).collect()
    }
    val msg = Option(e.getMessage).getOrElse("") +
      Option(e.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")
    assert(msg.contains("weight must be a positive number"), s"raised: $e")
  }

  test("null-twin parity (NullGroupParity helper): materializeMixture " +
      "plans and cuts a null source exactly like its named twin") {
    // round-19 convention rollout (VERDICT r18 #3): source "a" cloned
    // as a null source (ids shifted — the samplers' id-uniqueness
    // contract), with the weights frame carrying a matching null row.
    // UNIFORM token costs make the greedy cut's kept COUNTS identical
    // whatever the md5-of-id order inside each source, so the parity
    // covers the whole report row, not just the planning columns. A
    // null-rejecting join anywhere in the chain (the per-source
    // aggregate join, the keep-list bind, the report joins) would
    // zero or drop the null row.
    val base = ((1L to 4L).map(i => ("a", i, 10L)) ++
      (11L to 14L).map(i => ("b", i, 10L)))
      .toDF("source", "doc_id", "tok")
    val weights = Seq(
      (Some("a"), 1.0), (Some("b"), 1.0),
      (None: Option[String], 1.0)).toDF("source", "weight")
    NullGroupParity.assertParity(
      base, "source", "a",
      df => Mixing.materializeMixture(Pin(df), "source", "doc_id",
        col("tok"), weights, budget = 60L, maxEpochs = 1.0),
      sig = half => half.select("n_docs", "n_tokens", "weight",
          "alloc_tokens", "capped", "n_docs_kept", "tokens_kept")
        .collect().map(_.toSeq.mkString(",")).toSeq,
      idCol = Some("doc_id"))
  }

  test("materializeMixture's frame joins stay BROADCAST under the " +
      "null-safe conditions, never sort-merge (VERDICT r18 #4 pin)") {
    // every join in the chain carries a |sources|-bounded side (the
    // budget keep-list, the perSrc/kept report frames) under explicit
    // broadcast hints WITH `<=>` conditions — the hinted form keeps
    // BroadcastHashJoin (EqualNullSafe extracts as an equi-key);
    // losing a hint would shuffle the corpus side on every epoch cut
    val docs = (1 to 200).map(i =>
      (Seq("a", "b")(i % 2), i.toLong, 10L)).toDF("source", "doc_id", "tok")
    val weights = Seq(("a", 0.5), ("b", 0.5)).toDF("source", "weight")
    val out = Mixing.materializeMixture(Pin(docs), "source", "doc_id",
      col("tok"), weights, budget = 500L, maxEpochs = 1.0)
    val plan = finalPlan(out)
    assert(plan.contains("BroadcastHashJoin"),
      s"no broadcast join in the mixture chain:\n$plan")
    // the ONE non-broadcast join allowed is the documented FullOuter
    // of the two |sources|-row frames (perSrc vs weights — full outer
    // can't broadcast); any other join shape demoting is the hazard
    val demoted = plan.linesIterator
      .filter(l => l.contains("SortMergeJoin") ||
        l.contains("ShuffledHashJoin"))
      .filterNot(_.contains("FullOuter")).toSeq
    assert(demoted.isEmpty,
      s"a frame join demoted to a shuffle join:\n${demoted.mkString("\n")}" +
        s"\n--- full plan:\n$plan")
  }

  test("materializeMixture keeps a PLANNED source with zero corpus " +
      "docs visible as an all-zero reconciliation row") {
    val docs = Seq(("a", Some(1L), 10L), ("a", Some(2L), 10L))
      .toDF("source", "doc_id", "tok")
    // the plan names a source an upstream filter emptied: the report
    // must surface the discrepancy, not silently redistribute it
    val weights = Seq(("a", 0.6), ("ghost", 0.4)).toDF("source", "weight")
    val out = Mixing.materializeMixture(Pin(docs), "source", "doc_id",
        col("tok"), weights, budget = 10L, maxEpochs = 1.0)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out.keySet === Set("a", "ghost"))
    val g = out("ghost")
    assert(g.getAs[Long]("n_docs") === 0L)
    assert(g.getAs[Long]("n_tokens") === 0L)
    assert(g.getAs[Double]("alloc_tokens") === 0.0)
    assert(g.getAs[Boolean]("capped") === true) // cap 0 binds at r = 0
    assert(g.getAs[Long]("n_docs_kept") === 0L)
    assert(g.getAs[Long]("tokens_kept") === 0L)
    // a keeps lambda * 0.6 = 10 tokens -> exactly one 10-token doc
    assert(out("a").getAs[Double]("alloc_tokens") === 10.0)
    assert(out("a").getAs[Long]("tokens_kept") === 10L)
  }

  test("null-twin parity (NullGroupParity helper): temperatureMixture " +
      "weights a null source exactly like its named twin") {
    // insurance retrofit of the round-18 convention: the null source
    // must surface as a mixture row with the same n_tokens/weight/
    // epochs as its named twin (identical token mass), not vanish or
    // zero out. resultGroupCol: the operator renames the source col.
    val docs = ((1 to 16).map(i => (i.toLong, "big", "tok")) ++
      Seq((100L, "small", "a b c d"))).toDF("id", "source", "text")
    NullGroupParity.assertParity(
      docs, "source", "big",
      df => Mixing.temperatureMixture(df, "source", "text",
        BigDecimal("0.3"), budgetTokens = 100L),
      sig = half => half.select("n_tokens", "weight", "epochs")
        .collect().map(_.toString).toSeq,
      resultGroupCol = Some("source"),
      idCol = Some("id"))
  }

  test("temperatureMixture matches an exact in-test replay and the " +
      "alpha limits; zero-token sources stay visible as NULLs") {
    // big: 16 one-token docs; small: 1 four-token doc; empty: no tokens
    val docs = (
      (1 to 16).map(i => (i.toLong, "big", "tok")) ++
      Seq((100L, "small", "a b c d"), (101L, "empty", "   "))
    ).toDF("id", "source", "text")
    def run(alpha: BigDecimal) = Mixing.temperatureMixture(
        docs, "source", "text", alpha, budgetTokens = 100L)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getDouble(2)),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    // exact replay of the operator's quantization recipe
    def dec10(x: Double) = java.math.BigDecimal.valueOf(x)
      .setScale(10, java.math.RoundingMode.HALF_UP)
    def raised(n: Long, a: BigDecimal) = dec10(math.exp(
      dec10(math.log(n.toDouble)).multiply(a.bigDecimal).doubleValue()))
    def r6(x: Double) = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    val a = BigDecimal("0.3")
    val rb = raised(16L, a); val rs = raised(4L, a)
    val tot = rb.add(rs)
    val out = run(a)
    assert(out("big")._1 === 16L && out("small")._1 === 4L)
    assert(out("big")._2 === Some(r6(rb.doubleValue() / tot.doubleValue())))
    assert(out("small")._2 === Some(r6(rs.doubleValue() / tot.doubleValue())))
    assert(out("empty") === ((0L, None, None)))
    // alpha = 1 reproduces the natural share; alpha = 0 is uniform over
    // token-bearing sources
    val nat = run(BigDecimal(1))
    assert(nat("big")._2 === Some(0.8)) // 16 / 20
    val uni = run(BigDecimal(0))
    assert(uni("big")._2 === Some(0.5) && uni("small")._2 === Some(0.5))
    // epochs: small source repeats — weight*budget/n > 1
    assert(out("small")._3.get > 1.0)
    assert(out("big")._3.get ===
      r6(BigDecimal(out("big")._2.get).setScale(6).bigDecimal
        .multiply(java.math.BigDecimal.valueOf(100L)).doubleValue() / 16.0))
  }
}
