package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multi-rater agreement for labeling campaigns: Fleiss' kappa (fixed
  * rater count per item) and Krippendorff's alpha (nominal metric,
  * variable rater count, missing ratings tolerated). The 2-rater gates
  * live in [[Metrics.agreementStats]] (Cohen's kappa / MCC); these are
  * the r-rater generalizations a real annotation pipeline needs once
  * items carry 3+ judgments.
  *
  * Input shape for both: LONG format — one row per (item, rating), the
  * natural output of an annotation store. No per-item pivot is ever
  * materialized.
  *
  * Scale contract: both metrics are CONTINGENCY-BOUNDED by design. The
  * only data-sized shuffle is the (item, category) count aggregate
  * (≤ one row per distinct item-category pair, itself ≤ the rating
  * count); everything after is per-item aggregates that reduce to ONE
  * row of exact integer sums, so the 100 TB cost is one map-combined
  * shuffle + a scalar fold. Per-item ratios that must survive
  * reaggregation order-insensitively ride exact arithmetic: Fleiss'
  * P-bar folds to pure integer sums (equal rater count lets the
  * per-item denominator factor out), and Krippendorff's variable-m_i
  * terms are cast to DECIMAL(28,10) BEFORE summing — decimal addition
  * is exact, so partial-aggregation order cannot change the result
  * (the board's q163-entropy discipline).
  */
object RaterAgreement {

  /** Per-invocation suffix for observe() metric names: Spark rejects a
    * plan holding two CollectMetrics nodes with the same name, so a
    * composite that unions/joins two agreement frames needs unique
    * names — the Metrics.metricSeq convention. */
  private val metricSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Fleiss' kappa over items rated by a FIXED number of raters.
    *
    * One output row: n_items, n_raters, n_categories, p_bar (mean
    * observed per-item agreement), p_e (chance agreement from category
    * marginals), fleiss_kappa — doubles rounded to 6, computed from
    * exact integer sums:
    *
    *   P-bar = (Σ_i Σ_j n_ij² − N·m) / (N·m·(m−1))
    *   P_e   = Σ_j (Σ_i n_ij)² / (N·m)²
    *   κ     = (P-bar − P_e) / (1 − P_e)   (NULL when P_e = 1)
    *
    * Items whose rating count differs from the modal rater count m are
    * DROPPED (Fleiss is undefined for them — use
    * [[krippendorffAlpha]] when rater counts vary); the drop is NOT
    * silent: the output row carries `n_items_dropped`. Null item ids
    * or categories are dropped with the count reported through the
    * `graft.rater.fleiss.N` observe metric (`null_rows_dropped`;
    * N is a per-invocation suffix so composed frames coexist). m is
    * the MODAL rating count (most items win; ties break to the larger
    * m so a 50/50 fixture prefers the richer panel), computed
    * distributedly — no driver collect. The contingency subtree feeds
    * several consumers, but each reuse is the SAME subplan inside one
    * plan, so the planner's ReusedExchange serves them from one
    * shuffle (the q163 pattern).
    *
    * Eager: the contingency and per-item frames are [[Pin]]s (see its
    * contract — `null_rows_dropped` fires at pin time).
    */
  def fleissKappa(
      df: DataFrame, itemCol: String, categoryCol: String): DataFrame = {
    val raw = df.select(
        col(itemCol).as("item"), col(categoryCol).as("cat"))
      .observe(s"graft.rater.fleiss.${metricSeq.incrementAndGet()}",
        count(when(col("item").isNull || col("cat").isNull, 1))
          .as("null_rows_dropped"))
    val nullDropped =
      raw.filter(col("item").isNotNull && col("cat").isNotNull)
    // (item, category) contingency — the one data-sized shuffle — is
    // PINNED (round 20): it has two consumers (the per-item roll-up and
    // the kept-category marginal join), and exchange reuse between them
    // is pruning-fragile — under a count()-shaped action the final
    // projection prunes different columns into each copy and the WHOLE
    // corpus scan + shuffle ran three/two times (executed-plan receipt
    // in plans/r20: 3 FileScans, 2 (item,cat) exchanges; a collect-
    // shaped action reused them — the round-13 unfoldable-reference
    // workaround only covered that shape). The frame is the operator's
    // own scale contract ("contingency-bounded": ≤ one row per distinct
    // (item, category) pair, 3 narrow columns), so materializing it
    // once is strictly cheaper than one recompute of its corpus pass.
    // The pin also retires the tautological
    // reference-the-column tricks this chain previously needed.
    val ct = Pin(nullDropped.groupBy(col("item"), col("cat"))
      .agg(count(lit(1)).as("n")))
    // per-item: rating count m_i and Σ_j n_ij² (exact longs) — pinned
    // for the same reason (three consumers: modal, kept, all-items)
    val perItem = Pin(ct.groupBy(col("item"))
      .agg(sum(col("n")).as("m"),
        sum(col("n") * col("n")).as("sum_sq")))
    // modal m: aggregate the (m → item count) frame (rater-count-
    // bounded — one row per distinct panel size) and keep the mode,
    // ties to the larger m for determinism.
    val modal = perItem.groupBy(col("m"))
      .agg(count(lit(1)).as("k"))
      .orderBy(col("k").desc, col("m").desc).limit(1)
      .select(col("m").as("modal_m"))
    val kept = perItem.join(broadcast(modal), col("m") === col("modal_m"))
    // category marginals over kept items only (rejoin through the
    // contingency frame so dropped items don't skew P_e)
    val keptCt = ct.join(kept.select(col("item")), Seq("item"))
    val catTot = keptCt.groupBy(col("cat"))
      .agg(sum(col("n")).as("nj"))
      .agg(count(lit(1)).as("n_categories"),
        sum(col("nj").cast("decimal(38,0)") *
          col("nj").cast("decimal(38,0)")).as("sum_nj_sq"))
    val itemTot = kept.agg(
      count(lit(1)).as("n_items"),
      first(col("modal_m")).as("n_raters"),
      sum(col("sum_sq")).as("tot_sq"))
    val allItems = perItem.agg(count(lit(1)).as("n_items_all"))
    itemTot.crossJoin(catTot).crossJoin(allItems)
      .withColumn("n_items_dropped", col("n_items_all") - col("n_items"))
      .select(col("n_items"), col("n_items_dropped"),
        col("n_raters"), col("n_categories"),
        // N·m and (N·m)² in decimal so corpus-scale counts can't
        // overflow int64 when squared
        (col("n_items").cast("decimal(38,0)") *
          col("n_raters").cast("decimal(38,0)")).as("nm"),
        col("tot_sq"), col("sum_nj_sq"))
      .select(col("n_items"), col("n_items_dropped"),
        col("n_raters"), col("n_categories"),
        // modal m = 1 (every item rated once) makes P-bar's
        // denominator N·m·(m−1) zero — a DIVIDE_BY_ZERO under ANSI,
        // not a meaningful statistic (per-item agreement needs ≥ 2
        // ratings). Guard it like the p_e = 1 case: NULL p_bar and a
        // NULL kappa row instead of a runtime error (ADVICE r14).
        when(col("n_raters") === 1, lit(null).cast("double"))
          .otherwise(
            (col("tot_sq").cast("decimal(38,0)") - col("nm"))
              .cast("double") /
            (col("nm") * (col("n_raters") - 1).cast("decimal(38,0)"))
              .cast("double")).as("p_bar"),
        (col("sum_nj_sq").cast("double") /
          (col("nm") * col("nm")).cast("double")).as("p_e"))
      .select(col("n_items"), col("n_items_dropped"),
        col("n_raters"), col("n_categories"),
        round(col("p_bar"), 6).as("p_bar"),
        round(col("p_e"), 6).as("p_e"),
        round(when(col("p_e") === 1.0 || col("p_bar").isNull,
            lit(null).cast("double"))
          .otherwise((col("p_bar") - col("p_e")) / (lit(1.0) - col("p_e"))),
          6).as("fleiss_kappa"))
  }

  /** Krippendorff's alpha, nominal metric, over items with VARIABLE
    * rater counts (the missing-ratings case Fleiss can't handle).
    * Items with fewer than 2 ratings carry no pairable information and
    * are excluded, per the definition.
    *
    * One output row: n_items (m_i ≥ 2), n_ratings (Σ m_i over those),
    * d_o, d_e (observed/expected disagreement), krippendorff_alpha —
    * via the coincidence-matrix computational form:
    *
    *   D_o·n = Σ_i (m_i² − Σ_c n_ic²) / (m_i − 1)
    *   α = 1 − (n−1) · D_o·n / (n² − Σ_c n_c²)
    *
    * The per-item term divides by (m_i − 1), which varies by item, so
    * the fold casts each item's term to DECIMAL(28,10) before summing:
    * exact decimal addition makes the total independent of partial-agg
    * order (doubles would not be). Category marginals n_c square in
    * DECIMAL(38,0) — n is a corpus-scale count.
    *
    * Eager: the contingency frames are [[Pin]]s, as in [[fleissKappa]]
    * (see its contract — `null_rows_dropped` fires at pin time).
    */
  def krippendorffAlpha(
      df: DataFrame, itemCol: String, categoryCol: String): DataFrame = {
    // same no-silent-drops contract as fleissKappa: nulls can't form
    // ratings, but their count must be visible to the caller
    val rows = df.select(
        col(itemCol).as("item"), col(categoryCol).as("cat"))
      .observe(s"graft.rater.krippendorff.${metricSeq.incrementAndGet()}",
        count(when(col("item").isNull || col("cat").isNull, 1))
          .as("null_rows_dropped"))
      .filter(col("item").isNotNull && col("cat").isNotNull)
    // both contingency frames PINNED — same pruning-fragile-reuse
    // rationale and receipts as fleissKappa above (ct: per-item roll-up
    // + marginal join; perItem: the disagreement fold + the pairable-
    // item keep list)
    val ct = Pin(rows.groupBy(col("item"), col("cat"))
      .agg(count(lit(1)).as("n")))
    val perItem = Pin(ct.groupBy(col("item"))
      .agg(sum(col("n")).as("m"),
        sum(col("n") * col("n")).as("sum_sq"))
      .filter(col("m") >= 2))
    // observed-disagreement fold: per-item rational term → exact decimal
    val obs = perItem.agg(
      count(lit(1)).as("n_items"),
      sum(col("m")).as("n_ratings"),
      sum(((col("m") * col("m") - col("sum_sq")).cast("double") /
        (col("m") - 1).cast("double")).cast("decimal(28,10)"))
        .as("do_n"))
    // category marginals over pairable items only
    val margin = ct.join(perItem.select(col("item")), Seq("item"))
      .groupBy(col("cat")).agg(sum(col("n")).as("nc"))
      .agg(sum(col("nc").cast("decimal(38,0)") *
        col("nc").cast("decimal(38,0)")).as("sum_nc_sq"))
    obs.crossJoin(margin)
      .select(col("n_items"), col("n_ratings"), col("do_n"),
        (col("n_ratings").cast("decimal(38,0)") *
          col("n_ratings").cast("decimal(38,0)") -
          col("sum_nc_sq")).as("de_n"))
      .select(col("n_items"), col("n_ratings"),
        round(col("do_n").cast("double") /
          col("n_ratings").cast("double"), 6).as("d_o"),
        round(col("de_n").cast("double") /
          (col("n_ratings").cast("decimal(38,0)") *
            (col("n_ratings") - 1).cast("decimal(38,0)")).cast("double"),
          6).as("d_e"),
        round(when(col("de_n").cast("double") === 0.0,
            lit(null).cast("double"))
          .otherwise(lit(1.0) -
            (col("n_ratings") - 1).cast("double") *
              col("do_n").cast("double") / col("de_n").cast("double")),
          6).as("krippendorff_alpha"))
  }
}
