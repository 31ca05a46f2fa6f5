package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Curriculum source mixing: downsample each source so the output matches
  * target mixture proportions ("60% web, 30% code, 10% books") — the
  * standard pre-training data-recipe step.
  *
  * No upsampling: the achievable total is N = min_s(n_s / w_s) (the
  * binding source is kept whole) and every other source is hash-
  * downsampled to w_s·N rows. Sampling is the deterministic md5-bucket
  * primitive from [[Sampling]] — a row's keep/drop never changes across
  * runs, partitionings, or engines, so the mix is reproducible lineage.
  *
  * Scale note: the only driver-side data is the per-source row count
  * (k = |weights| rows — bounded by the mixture spec, the same
  * justified-collect shape as IVF centroids); the sampling itself is a
  * pure map-side filter.
  */
object Mixing {

  /** Keep fractions per source for target `weights` (must sum to ~1; no
    * normalization is applied so oracle SQL can mirror the arithmetic
    * operation-for-operation). */
  def mixFractions(
      counts: Map[String, Long],
      weights: Map[String, Double]): Map[String, Double] = {
    require(weights.nonEmpty && weights.values.forall(_ > 0),
      "weights must be positive")
    require(math.abs(weights.values.sum - 1.0) < 1e-9,
      s"weights must sum to 1, got ${weights.values.sum}")
    val total = weights.map { case (s, w) =>
      counts.getOrElse(s, 0L).toDouble / w
    }.min
    weights.map { case (s, w) =>
      val n = counts.getOrElse(s, 0L)
      s -> (if (n == 0) 0.0 else math.min(1.0, w * total / n))
    }
  }

  /** Temperature-scaled mixture weights from raw source sizes:
    * w_s ∝ n_s^alpha (then normalized). alpha = 1 reproduces the natural
    * distribution; alpha = 0 is uniform; the 0.2–0.5 range is the
    * published multilingual-pretraining practice for upweighting
    * low-resource sources relative to their natural share. Compose with
    * [[mixSources]]: `mixSources(df, key, src, temperatureWeights(counts,
    * 0.3))`. */
  def temperatureWeights(
      counts: Map[String, Long], alpha: Double): Map[String, Double] = {
    require(counts.nonEmpty && counts.values.forall(_ > 0),
      "counts must be positive")
    require(alpha >= 0, "alpha must be >= 0")
    val raised = counts.map { case (s, n) =>
      s -> math.pow(n.toDouble, alpha)
    }
    val z = raised.values.sum
    raised.map { case (s, p) => s -> p / z }
  }

  /** Per-source token-budget selection: keep each source's documents in
    * `orderCols` order (quality-descending, typically) while the source's
    * RUNNING token total stays ≤ `budget` — the greedy knapsack every
    * data recipe runs when a source's share is capped in tokens, not
    * rows. One window per source partition (shuffle-on-source; within a
    * partition the cumulative sum is a single sorted pass — no global
    * window, so no serial point). Adds `__cum` (tokens through this row)
    * to the survivors; callers drop it or aggregate on it.
    *
    * Deterministic: `orderCols` must be a total order (tie-break with the
    * doc id) or the boundary row at the budget edge is layout-dependent. */
  def selectWithinTokenBudget(
      df: DataFrame, sourceCol: String, tokenCol: String,
      budget: Long, orderCols: Seq[org.apache.spark.sql.Column]): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(sourceCol)).orderBy(orderCols: _*)
    df.withColumn("__cum", sum(col(tokenCol)).over(w))
      .filter(col("__cum") <= budget)
  }

  /** The data-frame form of [[temperatureWeights]] with oracle-exact
    * float discipline: per-source token volumes → w_s ∝ n_s^α →
    * normalized weight + effective epochs under a token budget
    * (epochs_s = w_s·T / n_s — how many times source s's data repeats
    * if the mixture is drawn for T tokens; the >1 rows are exactly the
    * low-resource sources temperature upweighting repeats). α in the
    * 0.2–0.5 range is the published multilingual-pretraining practice.
    *
    * Scale shape: ONE map-combined corpus token aggregate; everything
    * after is |sources|-frame window math (the [[budgetWaterfill]]
    * solve contract). Exactness: n^α = exp(α·ln n) with ln quantized
    * DECIMAL(24,10) (the q179 ulp recipe), α an exact decimal so the
    * exp argument is an exact decimal both engines cast identically,
    * and exp's result re-quantized DECIMAL(24,10) (libm exp is not
    * correctly rounded; at n^α magnitudes the 1e-10 absolute grid
    * absorbs the ulp); the weight division runs on those exact
    * decimals' identical double casts and rounds once at 6. Zero-token
    * (and null-token) sources stay VISIBLE with NULL weight/epochs —
    * ln(0) is an error in ANSI engines, not a mixture answer. */
  def temperatureMixture(
      docs: DataFrame, sourceCol: String, textCol: String,
      alpha: BigDecimal, budgetTokens: Long): DataFrame = {
    require(alpha >= 0 && alpha <= 1,
      s"alpha must be in [0, 1], got $alpha")
    // the exponent rides an EXACT decimal(6,5) so both engines see the
    // same exp argument — an alpha with more than 5 decimals would be
    // silently rounded into a different mixture than the caller asked for
    require(alpha.scale <= 5,
      s"alpha must have at most 5 decimal digits (exact-decimal " +
        s"contract), got $alpha")
    require(budgetTokens > 0, "budgetTokens must be positive")
    val w = org.apache.spark.sql.expressions.Window
    val counts = docs
      .groupBy(col(sourceCol).as("source"))
      .agg(sum(graft.functions.TextFunctions.tokenCount(col(textCol))
        .cast("bigint")).as("n_tokens"))
    val raised = counts.withColumn("__raised",
      when(col("n_tokens") > 0,
        exp((ln(col("n_tokens").cast("double")).cast("decimal(24,10)") *
          lit(alpha).cast("decimal(6,5)")).cast("double"))
          .cast("decimal(24,10)")))
    val totW = w.rowsBetween(w.unboundedPreceding, w.unboundedFollowing)
    raised
      .withColumn("__tot", sum(col("__raised")).over(totW))
      .withColumn("weight",
        round(col("__raised").cast("double") / col("__tot").cast("double"),
          6))
      .withColumn("epochs",
        round((col("weight").cast("decimal(8,6)") *
          lit(budgetTokens).cast("decimal(20,0)")).cast("double") /
          col("n_tokens").cast("double"), 6))
      .select(col("source"), col("n_tokens"), col("weight"), col("epochs"))
  }

  /** Token-budget WATERFILL across sources: given each source's token
    * count, a target mixture weight, and a per-source repetition ceiling
    * (`maxEpochs` — the "don't repeat data more than k times" rule of
    * published pretraining recipes), allocate a global token budget T so
    * every source receives tokens ∝ its weight until its ceiling binds:
    *
    *   alloc_s = min(λ · w_s, cap_s),   cap_s = n_s · maxEpochs,
    *   λ chosen so Σ_s alloc_s = T.
    *
    * The classic waterfilling solution: sort sources by r_s = cap_s/w_s
    * ascending; the first k sources (smallest ratios) are capped, the
    * rest share the remaining budget in proportion to weight, and
    * k is the smallest count with λ(k) = (T − Σ_{j≤k} cap_j)/Σ_{j>k} w_j
    * ≤ r_{k+1}. When even capping everything cannot reach T (Σ cap < T),
    * λ is NULL, every source is capped, and Σ alloc < T — the caller
    * sees the infeasibility in the output rather than an error.
    *
    * Scale shape: the input is the |sources|-row mixture frame (bounded
    * — it is the OUTPUT of a corpus aggregate, never the corpus), so the
    * single-partition windows are bounded by construction; nothing here
    * touches data-sized rows. Exactness: caps and cumulative sums fold
    * in DECIMAL(38,6); λ and the allocations are single correctly-
    * rounded double divisions of exact decimals, so Spark and a replay
    * engine agree bit-for-bit; ROUND(6) once at the end.
    *
    * Output per source: (source, n_tokens, weight, cap_tokens,
    * alloc_tokens, epochs, capped, lambda) — epochs NULL for an empty
    * source (0/0), lambda replicated for report reading.
    *
    * Weights must be positive numbers: a null/NaN/non-positive weight
    * raises at evaluation (it would otherwise sort into the ratio order
    * and silently corrupt λ for every other source). */
  def budgetWaterfill(
      sources: DataFrame, sourceCol: String, tokensCol: String,
      weightCol: String, budget: Long, maxEpochs: Double): DataFrame = {
    require(budget > 0, "budget must be positive")
    require(maxEpochs > 0, "maxEpochs must be positive")
    val w = org.apache.spark.sql.expressions.Window
    val cap = col(tokensCol).cast("decimal(38,6)") *
      lit(maxEpochs).cast("decimal(12,6)")
    // a non-positive / NaN / null weight doesn't error anywhere
    // downstream — it sorts into the ratio order and silently corrupts
    // λ for every OTHER source — so fail fast at evaluation like the
    // driver-side requires above (the frame is |sources|-sized, the
    // check is free)
    val wGuard = {
      val dw = col(weightCol).cast("double")
      when(dw.isNull || isnan(dw) || dw <= 0d,
        raise_error(concat(
          lit("budgetWaterfill: weight must be a positive number, got "),
          coalesce(dw.cast("string"), lit("null")),
          lit(" for source "),
          coalesce(col(sourceCol).cast("string"), lit("null")))))
        .otherwise(dw)
    }
    val base = sources.select(
        col(sourceCol).as("source"),
        col(tokensCol).cast("bigint").as("n_tokens"),
        wGuard.as("weight"))
      .withColumn("__cap", cap)
      .withColumn("__w", col("weight").cast("decimal(28,12)"))
      .withColumn("__r",
        col("__cap").cast("double") / col("weight"))
    // sorted ascending by ratio (ties broken by source for a total
    // order): prefix caps C_{i-1} and remaining weight W_{i-1}
    val order = w.partitionBy(lit(1))
      .orderBy(col("__r"), col("source"))
    val annotated = base
      .withColumn("__cum_cap",
        coalesce(sum(col("__cap")).over(
          order.rowsBetween(w.unboundedPreceding, -1)),
          lit(0).cast("decimal(38,6)")))
      .withColumn("__w_rem",
        sum(col("__w")).over(
          order.rowsBetween(w.currentRow, w.unboundedFollowing)))
      .withColumn("__lam_prev",
        (lit(budget).cast("decimal(38,6)") - col("__cum_cap"))
          .cast("double") / col("__w_rem").cast("double"))
    // λ* = λ(k*) where k* is the smallest prefix with λ(k) ≤ r_{k+1}:
    // the first row (in ratio order) whose λ_prev stops exceeding its
    // own ratio. A one-row frame; empty ⇒ infeasible ⇒ NULL λ via the
    // condition-less left join (a cross join would DROP every row).
    val lamRow = annotated
      .filter(col("__lam_prev") <= col("__r"))
      .orderBy(col("__r"), col("source")).limit(1)
      .select(col("__lam_prev").as("__lambda"))
    annotated.join(broadcast(lamRow), lit(true), "left")
      .select(col("source"), col("n_tokens"), col("weight"),
        round(col("__cap").cast("double"), 6).as("cap_tokens"),
        round(when(col("__lambda").isNull,
            col("__cap").cast("double"))
          .otherwise(least(col("__lambda") * col("weight"),
            col("__cap").cast("double"))), 6).as("alloc_tokens"),
        round(when(col("n_tokens") === 0, lit(null).cast("double"))
          .otherwise(
            when(col("__lambda").isNull, col("__cap").cast("double"))
              .otherwise(least(col("__lambda") * col("weight"),
                col("__cap").cast("double"))) /
            col("n_tokens").cast("double")), 6).as("epochs"),
        (col("__lambda").isNull ||
          col("__r") <= col("__lambda")).as("capped"),
        round(col("__lambda"), 6).as("lambda"))
      .orderBy(col("source"))
  }

  /** Per-invocation suffix for observe() metric names (Spark rejects
    * two CollectMetrics nodes sharing a name in one plan). */
  private val mixingMetricSeq =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** [[selectWithinTokenBudget]] with a PER-SOURCE budget frame — the
    * execution step of a solved mixture plan: each source keeps its
    * docs in `orderCols` order while the source's running token total
    * stays ≤ its own budget row. `budgets` is (sourceCol, budgetCol),
    * joined null-safe and BROADCAST (it is |sources|-sized by
    * construction — the output of a plan solve, never the corpus).
    *
    * CONTRACT: the join is inner — a source with no budget row is
    * excluded, because the budget frame IS the keep-list (an un-planned
    * source has no allocation, not an implicit infinite one). Pass an
    * explicit zero/infinite row to keep a source visible. Same
    * determinism contract as the single-budget form: `orderCols` must
    * be a total order or the boundary row is layout-dependent. */
  def selectWithinTokenBudgets(
      df: DataFrame, sourceCol: String, tokenCol: String,
      budgets: DataFrame, budgetCol: String,
      orderCols: Seq[org.apache.spark.sql.Column]): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val bud = broadcast(budgets.select(col(sourceCol).as("__bsrc"),
      col(budgetCol).as("__budget")))
    val cum = w.partitionBy(col(sourceCol)).orderBy(orderCols: _*)
      .rowsBetween(w.unboundedPreceding, w.currentRow)
    df.join(bud, col(sourceCol) <=> col("__bsrc"), "inner")
      .drop("__bsrc")
      .withColumn("__cum", sum(col(tokenCol)).over(cum))
      .filter(col("__cum") <= col("__budget"))
      .drop("__budget")
  }

  /** The mixture-plan EXECUTION composite: solve a token-budget
    * waterfill over the corpus's per-source token counts (with caller-
    * supplied mixture weights — e.g. a [[doremiReweight]] output) and
    * materialize it — each source keeps documents in deterministic
    * 60-bit md5-prefix hash order (the replayable epoch order every
    * sampler here uses, ties by id) until its allocation is spent.
    * Returns the per-source RECONCILIATION report, one row per planned
    * source: (source, n_docs, n_tokens, weight, alloc_tokens, capped,
    * n_docs_kept, tokens_kept) — kept counts zero-filled, never
    * dropped, when an allocation is too small for even one document.
    *
    * A source missing from `weights` fails fast inside
    * [[budgetWaterfill]]'s weight guard (a silent zero would
    * permanently evict the source); docs with a NULL id are dropped
    * from both counts and keeps under the samplers' uniqueness
    * contract, counted by a `graft.mixing.materialize.N` observe
    * metric, never silently.
    *
    * Scale shape: two corpus passes (the per-source token aggregate;
    * the ordered cut — each re-evaluating `tokens`, the documented
    * q178-style composition trade) plus ONE source-partitioned sort
    * for the greedy prefix — inherent to an exact per-source cut; a
    * single hot source concentrates its sort in one task chain, the
    * spillable-sort skew note of the sampler family. Round 16 measured
    * two salted two-phase alternatives SLOWER on a 50 %-hot source at
    * 100× (the rejection receipt in SCALING.md round 16 and at the
    * call site below) — the serial running sum is not the bottleneck.
    * Everything else is |sources|-sized.
    *
    * LAZY, and never pins: the (source, id, tok) base has two
    * corpus-pass consumers (the per-source aggregate and the ordered
    * cut), so a caller whose `tokens` is expensive pins a narrow
    * `docs` itself with [[Pin]] and passes it in — q182 shares one
    * pinned tokenized base between the doremi reweight and this cut.
    * `null_id_rows_dropped` is observed on the lazy base, which the
    * plan instantiates in several subtrees: it fires once per
    * consuming action, possibly as several emissions to the
    * ObservedLog listener (the last one wins). */
  def materializeMixture(
      docs: DataFrame, sourceCol: String, idCol: String,
      tokens: org.apache.spark.sql.Column, weights: DataFrame,
      budget: Long, maxEpochs: Double): DataFrame = {
    ObservedLog.ensure(docs.sparkSession)
    val n = mixingMetricSeq.incrementAndGet()
    // a doc with a NULL token count costs zero (kept for free) — the
    // alternative leaks layout-dependence: a null-costed doc sitting
    // FIRST in a source's order makes the running sum NULL and the
    // filter silently drop it, while the same doc later rides along.
    val base = docs.select(col(sourceCol).as("source"),
        col(idCol).as("__id"),
        coalesce(tokens.cast("bigint"), lit(0L)).as("__tok"))
      .observe(s"graft.mixing.materialize.$n",
        sum(when(col("__id").isNull, 1L).otherwise(0L))
          .as("null_id_rows_dropped"))
      .filter(col("__id").isNotNull)
    // perSrc is not pinned (round 20): its two consumers prune opposite
    // columns (the waterfill reads n_tokens, the report join reads
    // n_docs — structurally different aggregate subtrees, no
    // ReusedExchange, the r16 4-scans receipt), but over a caller's
    // pinned narrow base the second copy costs a bounded aggregate of
    // checkpoint blocks rather than a corpus tokenize pass.
    val perSrc = base.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__tok")).as("n_tokens"))
    // FULL outer against the plan's weights: a doc-source the weights
    // frame is missing still raises in the waterfill guard (left
    // semantics preserved), and a PLANNED source with no docs at all —
    // an upstream filter emptied it — stays a visible zero-token row
    // instead of silently vanishing from the very reconciliation report
    // that exists to surface it (its cap is 0, so it allocates 0 and
    // reports n_docs/kept 0). Both sides are bounded (|sources| rows),
    // so the non-broadcastable full join is frame-sized.
    val wf = budgetWaterfill(
      perSrc.join(weights.select(col("source").as("__wsrc"),
          col("weight").as("weight")),
        col("source") <=> col("__wsrc"), "full")
        .withColumn("source", coalesce(col("source"), col("__wsrc")))
        .drop("__wsrc")
        .na.fill(0L, Seq("n_tokens")),
      "source", "n_tokens", "weight", budget, maxEpochs)
    // The greedy cut stays on the general single-window-per-source form
    // DELIBERATELY (round 16, settled by receipt): two salted two-phase
    // variants were measured SLOWER at 100× lineitem with a ~50 %-hot
    // source — 79.4 s (separate salt-histogram pass: the second per-row
    // md5 costs more than the serial cumsum it removes) and 76.8 s
    // (ReusedExchange form: the reuse is defeated in the joined plan,
    // doubling the corpus shuffle) vs 68–70 s for this form. The serial
    // per-source running sum is a single sorted pass, spill-safe, and
    // NOT the bottleneck at any measured scale; see SCALING.md round 16.
    val kept = selectWithinTokenBudgets(base, "source", "__tok",
        wf.select(col("source"), col("alloc_tokens")), "alloc_tokens",
        Seq(graft.functions.PortableHash
          .md5Prefix(col("__id").cast("string"), 15), col("__id")))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs_kept"),
        sum(col("__tok")).as("tokens_kept"))
      .select(col("source").as("__ksrc"),
        col("n_docs_kept"), col("tokens_kept"))
    wf.join(broadcast(perSrc.select(col("source").as("__dsrc"),
        col("n_docs"))), col("source") <=> col("__dsrc"), "left")
      .drop("__dsrc")
      .join(broadcast(kept), col("source") <=> col("__ksrc"), "left")
      .drop("__ksrc")
      // n_docs included: a planned source absent from the corpus has no
      // perSrc row — its report row reads all-zero, never missing
      .na.fill(0L, Seq("n_docs", "n_docs_kept", "tokens_kept"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("weight"), col("alloc_tokens"), col("capped"),
        col("n_docs_kept"), col("tokens_kept"))
      .orderBy(col("source"))
  }

  /** One DoReMi domain-reweighting step (Xie et al. 2023, "DoReMi:
    * Optimizing Data Mixtures Speeds Up Language Model Pretraining"):
    * given per-example proxy- and reference-model losses, compute each
    * domain's mean clipped excess loss and apply the multiplicative-
    * weights update
    *
    *   α'_k ∝ α_k · exp(η · excess_k),  α''_k = (1−c)·α'_k + c/K,
    *
    * the step a data recipe iterates to find the mixture that trains
    * fastest. `prior` is the incoming (domainCol, alpha) frame — None
    * means uniform 1/K; a domain MISSING from a supplied prior raises
    * at evaluation (silently coalescing it to 0 would zero the domain's
    * weight forever — the multiplicative update can never recover a
    * zero). Prior alphas are the caller's contract to have summed to 1;
    * the update renormalizes its own output, not the input.
    *
    * Scale shape: ONE map-combined corpus aggregate (domain → clipped-
    * excess decimal sum + counts); everything downstream is |domains|-
    * sized window math, and the single-partition windows are bounded by
    * construction. Null domains survive as their own visible row (the
    * null-key-visible sampler contract); examples with a NULL loss on
    * either side contribute to neither the mean's numerator nor its
    * denominator (n_examples counts scored examples only), and a domain
    * with NO scored examples keeps its prior weight (e = 1, mean_excess
    * NULL) rather than erroring or vanishing.
    *
    * Exactness (the oracle-parity recipe): per-example clipped excess
    * quantizes to DECIMAL before the order-free decimal sum; the mean
    * is floor-ppm integer arithmetic (tie-free); exp() rides the ln
    * discipline (quantize to DECIMAL(20,10) immediately); the update
    * products/sums stay exact decimals sized to avoid precision-loss
    * rounding (14,12 × 20,10 → 35,22 < 38); and the final α is built
    * from correctly-rounded divisions of exact decimals plus identical
    * IEEE double ops, so a replay engine reproduces every output BIT —
    * which is why no column is rounded for presentation.
    *
    * Output per domain: (domainCol, n_examples, mean_excess,
    * alpha_prior, alpha). */
  def doremiReweight(
      examples: DataFrame, domainCol: String,
      proxyLoss: Column, refLoss: Column,
      prior: Option[DataFrame] = None,
      eta: Double = 1.0, smoothing: Double = 0.01): DataFrame = {
    require(eta > 0, "eta must be positive")
    require(smoothing >= 0 && smoothing < 1, "smoothing must be in [0, 1)")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
    // NULL-loss examples must stay NULL (don't count, don't contribute)
    // — spelled explicitly because greatest() IGNORES nulls (a null
    // diff would otherwise clip to 0 and count as a scored example).
    // The cast makes the clipped excess a (24,10) decimal whether the
    // caller passed quantized decimals (exact, cast is value-identity)
    // or raw doubles (quantized here, so the sum is still order-free).
    val diff = proxyLoss - refLoss
    val excess = when(diff.isNull, lit(null))
      .otherwise(greatest(diff, lit(0)))
      .cast("decimal(24,10)")
    val agg = examples
      .groupBy(col(domainCol))
      .agg(count(excess).as("n_examples"),
        sum(excess).as("__sum_ex"))
    val withPrior = prior match {
      case Some(p) =>
        val pa = broadcast(p.select(col(domainCol).as("__pd"),
          col("alpha").cast("double").as("__a0")))
        agg.join(pa, col(domainCol) <=> col("__pd"), "left")
          .withColumn("alpha_prior",
            when(col("__a0").isNull, raise_error(concat(
              lit("doremiReweight: domain "),
              coalesce(col(domainCol).cast("string"), lit("null")),
              lit(" has no prior alpha"))))
              .otherwise(col("__a0")))
          .drop("__pd", "__a0")
      case None =>
        agg.withColumn("alpha_prior",
          lit(1.0) / count(lit(1)).over(w).cast("double"))
    }
    withPrior
      // floor-ppm mean over scored examples; a domain with none keeps
      // mean NULL (guarded — ANSI integral divide errors on 0)
      .withColumn("mean_excess",
        when(col("n_examples") === 0, lit(null).cast("double"))
          .otherwise(
            expr("CAST(__sum_ex * 1000000 AS DECIMAL(38,10)) " +
              "DIV CAST(n_examples AS DECIMAL(38,0))").cast("double") /
              lit(1e6)))
      // exp through the decimal quantization the ln recipe uses; the
      // signal-less (NULL-mean) case is spelled as an explicit branch,
      // NOT a coalesce over the cast — a coalesce would also absorb a
      // cast overflow (eta·excess ≥ ln(1e10) ≈ 23 at DECIMAL(20,10))
      // and silently hand the HIGHEST-excess domain an update factor of
      // exactly 1, the opposite of its semantics. This way overflow
      // surfaces as the ANSI cast error it is; the boundary is the
      // documented envelope (eta·mean_excess < ~23 — far above any
      // published DoReMi operating point, eta ≈ 1, excess a few nats)
      .withColumn("__e",
        when(col("mean_excess").isNull, lit(1).cast("decimal(20,10)"))
          .otherwise(
            exp(lit(eta) * col("mean_excess")).cast("decimal(20,10)")))
      .withColumn("__u",
        col("alpha_prior").cast("decimal(14,12)") * col("__e"))
      .withColumn("__z", sum(col("__u")).over(w))
      .withColumn("__k", count(lit(1)).over(w))
      .select(col(domainCol), col("n_examples"), col("mean_excess"),
        col("alpha_prior"),
        ((lit(1.0) - lit(smoothing)) *
          (col("__u").cast("double") / col("__z").cast("double")) +
          lit(smoothing) / col("__k").cast("double")).as("alpha"))
  }

  /** The mixed corpus: rows from sources named in `weights`, hash-
    * downsampled to the target proportions. */
  def mixSources(
      df: DataFrame, keyCol: String, sourceCol: String,
      weights: Map[String, Double],
      buckets: Int = 1000): DataFrame = {
    val counts = df
      .filter(col(sourceCol).isin(weights.keys.toSeq: _*))
      .groupBy(col(sourceCol)).agg(count(lit(1)).as("__n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    Sampling.stratifiedSample(df, keyCol, sourceCol,
      mixFractions(counts, weights), buckets)
  }
}
