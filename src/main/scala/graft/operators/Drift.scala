package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distribution-drift metrics between two snapshots of a numeric
  * column — the health check a training-data pipeline runs before
  * admitting a new crawl/source into the mix (reference window vs
  * candidate window), and the train-vs-serve skew monitor on the
  * model side.
  *
  * The headline metric is PSI (population stability index,
  * `sum((p_cur - p_ref) * ln(p_cur / p_ref))` over fixed bins) with
  * Laplace-smoothed bin fractions `p = (n + 1) / (total + nbins)` so
  * empty bins stay finite and every fraction is an exact integer
  * ratio. The same per-bin frame carries the total-variation distance
  * (`sum(|p_cur - p_ref|) / 2`), giving a bounded [0,1] companion to
  * the unbounded PSI.
  *
  * Scale shape: one scan + one nbins-row aggregate per side, an
  * nbins-row join against the literal bin frame, and window totals
  * over nbins rows — nothing wider than the bin count ever shuffles,
  * so the cost at 100 TB is the two scans (which push the value
  * column projection down to parquet).
  *
  * Float parity with the SQL oracle (README rules): smoothed
  * fractions are correctly-rounded double divisions of exact
  * integers; `ln` (libm, last-ulp-unspecified) is absorbed by a
  * DECIMAL(24,10) round before any further arithmetic (the q142
  * recipe); per-bin products go through DECIMAL(28,12) so the
  * whole-frame totals are order-independent exact decimal sums.
  */
object Drift {

  /** 0-based bin index over sorted `edges`: number of edges <= v,
    * i.e. bin 0 is (-inf, e0), bin i is [e(i-1), e(i)), last bin is
    * [e(n-1), +inf). Pure codegen comparison chain, no UDF. */
  def binIndex(v: Column, edges: Seq[Double]): Column = {
    require(edges.nonEmpty && edges == edges.sorted, "edges must be sorted")
    edges.map(e => when(v >= lit(e), lit(1)).otherwise(lit(0)))
      .reduce(_ + _)
  }

  /** Per-bin drift frame between `ref` and `cur` on `valueCol`:
    * (bin, n_ref, n_cur, p_ref, p_cur, psi_term, psi_total, tvd).
    * `psi_total` and `tvd` are whole-distribution scalars repeated on
    * every row (window sums over the nbins-row frame) so the output
    * stays a single tidy relation. */
  def psi(
      ref: DataFrame,
      cur: DataFrame,
      valueCol: String,
      edges: Seq[Double]): DataFrame = {
    val nbins = edges.size + 1
    val spark = ref.sparkSession

    def binned(df: DataFrame, cnt: String): DataFrame =
      df.select(binIndex(col(valueCol), edges).cast("long").as("bin"))
        .groupBy(col("bin")).agg(count(lit(1)).as(cnt))

    // Literal 0..nbins-1 frame so empty bins surface with count 0
    // (the Laplace smoothing depends on seeing them).
    val bins = spark.range(nbins).select(col("id").as("bin"))
    val joined = bins
      .join(binned(ref, "n_ref"), Seq("bin"), "left")
      .join(binned(cur, "n_cur"), Seq("bin"), "left")
      .na.fill(0L, Seq("n_ref", "n_cur"))

    val all = Window.partitionBy(lit(1))
    val totRef = sum(col("n_ref")).over(all)
    val totCur = sum(col("n_cur")).over(all)
    // Exact-integer ratios -> correctly-rounded double division.
    val pRef = (col("n_ref") + lit(1)).cast("double") /
      (totRef + lit(nbins)).cast("double")
    val pCur = (col("n_cur") + lit(1)).cast("double") /
      (totCur + lit(nbins)).cast("double")
    // ln ulp absorbed by DECIMAL(24,10); products through
    // DECIMAL(28,12) make the window totals order-independent.
    val lnRatio = log(col("p_cur") / col("p_ref"))
      .cast("decimal(24,10)").cast("double")
    val psiTerm = ((col("p_cur") - col("p_ref")) * lnRatio)
      .cast("decimal(28,12)")
    val absDiff = abs(col("p_cur") - col("p_ref")).cast("decimal(28,12)")

    joined
      .withColumn("p_ref", pRef)
      .withColumn("p_cur", pCur)
      .withColumn("__psi_term", psiTerm)
      .withColumn("__abs_diff", absDiff)
      .select(
        col("bin"), col("n_ref"), col("n_cur"),
        round(col("p_ref"), 6).as("p_ref"),
        round(col("p_cur"), 6).as("p_cur"),
        round(col("__psi_term").cast("double"), 6).as("psi_term"),
        round(sum(col("__psi_term")).over(all).cast("double"), 6)
          .as("psi_total"),
        round(sum(col("__abs_diff")).over(all).cast("double") / lit(2), 6)
          .as("tvd"))
  }

  /** Drift SERIES: one (grp, n_cur, psi, tvd) row per value of
    * `groupCol` in `cur` (e.g. per week), each measured against the
    * single fixed `ref` distribution — the continuous monitoring form
    * of [[psi]] (which compares two snapshots once).
    *
    * Scale shape: the reference collapses to an nbins-row profile, the
    * current side to a (groups × nbins)-row count aggregate; the bin
    * frame joins broadcast, per-group totals are windows over the same
    * (groups × nbins) relation, and the final reduce is a groups-row
    * aggregate — nothing wider than groups × nbins ever shuffles, so
    * at 100 TB the cost is the two pushed-projection scans. Float
    * discipline is [[psi]]'s: exact-integer smoothed ratios, ln ulp
    * absorbed by DECIMAL(24,10), decimal-summed terms. */
  def psiSeries(
      ref: DataFrame,
      cur: DataFrame,
      valueCol: String,
      groupCol: String,
      edges: Seq[Double]): DataFrame = {
    val nbins = edges.size + 1
    val spark = ref.sparkSession

    val bins = spark.range(nbins).select(col("id").as("bin"))
    val refCounts = bins.join(
        ref.select(binIndex(col(valueCol), edges).cast("long").as("bin"))
          .groupBy(col("bin")).agg(count(lit(1)).as("n_ref")),
        Seq("bin"), "left")
      .na.fill(0L, Seq("n_ref"))
    val allRef = Window.partitionBy(lit(1))
    val pRef = refCounts.select(col("bin"),
      ((col("n_ref") + lit(1)).cast("double") /
        (sum(col("n_ref")).over(allRef) + lit(nbins)).cast("double"))
        .as("p_ref"))

    val curCounts = cur.select(col(groupCol).as("grp"),
        binIndex(col(valueCol), edges).cast("long").as("bin"))
      .groupBy(col("grp"), col("bin")).agg(count(lit(1)).as("n_cur"))
    // (groups x nbins) frame so per-group empty bins surface with 0.
    // The count side joins back NULL-SAFELY on grp (renamed to avoid
    // ambiguity): a null group is a value of groupCol like any other —
    // groupBy above already forms it — and a plain using-join would
    // null-reject its counts, emitting a WRONG all-zero-bin row
    // (uniform p_cur) for exactly that group (round-17 null-join
    // sweep; the balanceKeepWindow review catch generalized).
    val frame = curCounts.select(col("grp")).distinct().crossJoin(bins)
    val byGrp = Window.partitionBy(col("grp"))
    val cells = frame
      .join(curCounts.select(col("grp").as("__cgrp"),
          col("bin").as("__cbin"), col("n_cur")),
        col("grp") <=> col("__cgrp") && col("bin") === col("__cbin"),
        "left")
      .drop("__cgrp", "__cbin")
      .na.fill(0L, Seq("n_cur"))
      .join(pRef, Seq("bin"))
      .withColumn("p_cur",
        (col("n_cur") + lit(1)).cast("double") /
          (sum(col("n_cur")).over(byGrp) + lit(nbins)).cast("double"))
      .withColumn("__term",
        ((col("p_cur") - col("p_ref")) *
          log(col("p_cur") / col("p_ref"))
            .cast("decimal(24,10)").cast("double"))
          .cast("decimal(28,12)"))
      .withColumn("__ad",
        abs(col("p_cur") - col("p_ref")).cast("decimal(28,12)"))

    cells.groupBy(col("grp"))
      .agg(
        sum(col("n_cur")).as("n_cur"),
        round(sum(col("__term")).cast("double"), 6).as("psi"),
        round(sum(col("__ad")).cast("double") / lit(2), 6).as("tvd"))
  }

  /** Lexical drift per source: KL and Jensen-Shannon divergence of each
    * source's unigram distribution against the GLOBAL (all-source)
    * distribution — the data-mixing diagnostic that ranks sources by
    * how far their vocabulary sits from the corpus average (a
    * near-duplicate source scores ~0; a code source against a prose
    * corpus scores high).
    *
    * The distribution support is the top-`vocabSize` global tokens plus
    * one `<oov>` bucket holding the remaining mass — the standard
    * bounded-support trick: divergences over an UNBOUNDED vocabulary
    * would make the comparison frame corpus-sized, while the top-K +
    * OOV support is exactly what tokenizer-level monitoring uses.
    * KL(p_s‖q) stays finite by construction: every support symbol has
    * global mass (q > 0), and p_s = 0 terms contribute 0.
    *
    * Input: `tokens` = one row per (source, token) occurrence (explode
    * upstream). Output: one row per source — n_tokens, oov_frac,
    * kl_vs_global, js_vs_global (JS in nats, ≤ ln 2).
    *
    * Scale shape: one corpus-sized token aggregate for the global
    * counts (map-combines to vocab), a TakeOrdered top-K cut
    * (k-bounded), then the per-(source, symbol) aggregate — map-combined
    * to sources × (K+1) rows and pinned (bounded, three consumers — see
    * the inline note; eager, see [[Pin]]'s contract) — against which
    * everything else is broadcast joins and (sources × (K+1))-row
    * windows. Exactly TWO corpus token passes; nothing wider than
    * sources × (K+1) shuffles after them.
    * Float discipline is [[psi]]'s: exact-integer ratios, ln through
    * DECIMAL(24,10), per-cell terms decimal-summed. */
  def unigramDivergence(
      tokens: DataFrame, sourceCol: String, tokenCol: String,
      vocabSize: Int): DataFrame = {
    require(vocabSize > 0, "vocabSize must be positive")
    val tok = tokens.select(col(sourceCol).as("src"),
        col(tokenCol).as("token"))
      .filter(col("src").isNotNull && col("token").isNotNull)
    val vocab = tok.groupBy(col("token")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token")).limit(vocabSize)
      .select(col("token"), lit(true).as("__in_vocab"))
    val mapped = tok.join(broadcast(vocab), Seq("token"), "left")
      .select(col("src"),
        when(col("__in_vocab"), col("token")).otherwise(lit("<oov>"))
          .as("sym"))
    // The contingency frame is BOUNDED (sources × (K+1) rows) but has
    // THREE consumers (global marginals, the source list, the join
    // back); exchange reuse does not dedupe them — their pruned
    // subtrees differ pre-AQE, and PlanAudit measured the corpus
    // explode running twice. The pin materializes the tiny frame once
    // (the q172 pattern for bounded multi-consumer intermediates), so
    // the whole query is exactly TWO corpus token passes: the vocab
    // count and this aggregate.
    val bySrcSym = Pin(mapped.groupBy(col("src"), col("sym"))
      .agg(count(lit(1)).as("n_ss")))
    val all = Window.partitionBy(lit(1))
    // global per-symbol counts + the grand total, attached on the
    // (K+1)-row symbol frame (a window over support-sized rows)
    val bySym = bySrcSym.groupBy(col("sym")).agg(sum(col("n_ss")).as("n_g"))
      .withColumn("n_tot", sum(col("n_g")).over(all))
    // sources x support frame so zero-mass cells surface (JS needs the
    // q-side term even where the source lacks the symbol); all three
    // reads below hit the checkpointed frame, not the corpus
    val frame = bySrcSym.select(col("src")).distinct()
      .crossJoin(broadcast(bySym))
      .join(bySrcSym, Seq("src", "sym"), "left")
      .na.fill(0L, Seq("n_ss"))
    val bySrc = Window.partitionBy(col("src"))
    // exact-integer ratios -> correctly-rounded double divisions
    val cells = frame
      .withColumn("n_src", sum(col("n_ss")).over(bySrc))
      .withColumn("p", col("n_ss").cast("double") /
        col("n_src").cast("double"))
      .withColumn("q", col("n_g").cast("double") /
        col("n_tot").cast("double"))
      .withColumn("m", (col("p") + col("q")) / lit(2.0))
      .withColumn("__kl", when(col("n_ss") > 0,
          (col("p") * log(col("p") / col("q"))
            .cast("decimal(24,10)").cast("double"))
            .cast("decimal(28,12)"))
        .otherwise(lit(0).cast("decimal(28,12)")))
      .withColumn("__jsp", when(col("n_ss") > 0,
          (col("p") * log(col("p") / col("m"))
            .cast("decimal(24,10)").cast("double"))
            .cast("decimal(28,12)"))
        .otherwise(lit(0).cast("decimal(28,12)")))
      .withColumn("__jsq", when(col("n_g") > 0,
          (col("q") * log(col("q") / col("m"))
            .cast("decimal(24,10)").cast("double"))
            .cast("decimal(28,12)"))
        .otherwise(lit(0).cast("decimal(28,12)")))
    cells.groupBy(col("src"))
      .agg(
        sum(col("n_ss")).as("n_tokens"),
        sum(when(col("sym") === "<oov>", col("n_ss"))
          .otherwise(lit(0L))).as("__oov"),
        round(sum(col("__kl")).cast("double"), 6).as("kl_vs_global"),
        round((sum(col("__jsp")) + sum(col("__jsq"))).cast("double") /
          lit(2.0), 6).as("js_vs_global"))
      // oov_frac is an EXACT integer ratio, so it rides floor-ppm
      // integer arithmetic (the q173 tie lesson — HALF_UP on an exact
      // ratio can land on an engine-splitting .5 tie; the divergences
      // stay ROUND: they are ln-derived doubles that can't tie exactly).
      // n_tokens ≥ 1 by construction — every src row exists because the
      // source contributed ≥ 1 token to the contingency.
      .select(col("src"), col("n_tokens"),
        (expr("CAST(__oov AS DECIMAL(38,0)) * 1000000 " +
          "DIV CAST(n_tokens AS DECIMAL(38,0))").cast("double") / lit(1e6))
          .as("oov_frac"),
        col("kl_vs_global"), col("js_vs_global"))
      .withColumnRenamed("src", sourceCol)
  }

  /** Frozen reference profile for [[divergenceVsReference]] and the
    * streaming twin: (vocab, refQ) where vocab is the reference slice's
    * top-`vocabSize` tokens ((count desc, token) order — deterministic
    * at the cutoff) and refQ carries the Laplace-smoothed probabilities
    * q_i = (n_i + 1) / (total + K + 1) with the `<oov>` mass last —
    * smoothing guarantees q > 0 on every support symbol, so current-side
    * tokens the reference never saw stay finite in KL (the [[psi]]
    * recipe, exact integer ratios).
    *
    * Bounded collects at DEFINITION time (the windowedDrift precedent):
    * the K-row top cut plus a one-row total — the profile is computed
    * once and embedded, never joined at stream rate. */
  def referenceProfile(
      refTokens: DataFrame, tokenCol: String,
      vocabSize: Int): (Seq[String], Seq[Double]) = {
    require(vocabSize > 0, "vocabSize must be positive")
    val counts = refTokens.select(col(tokenCol).as("token"))
      .filter(col("token").isNotNull)
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
    val top = counts.orderBy(col("n").desc, col("token")).limit(vocabSize)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    require(top.nonEmpty, "reference slice has no tokens")
    val total = counts.agg(sum(col("n"))).head().getLong(0)
    val k = top.length
    val denom = (total + k + 1).toDouble
    val vocab = top.map(_._1).toSeq
    val oovRaw = total - top.map(_._2).sum
    val refQ = top.map { case (_, n) => (n + 1).toDouble / denom }.toSeq :+
      (oovRaw + 1).toDouble / denom
    (vocab, refQ)
  }

  /** Per-group lexical drift against a FROZEN reference profile — the
    * train-vs-serve form of [[unigramDivergence]] (which compares
    * against the all-source global): one row per group with
    * (n_tokens, oov_frac, kl_vs_ref, js_vs_ref), computed by the
    * [[graft.functions.DivergenceCounters]] aggregate.
    *
    * Scale shape: ONE map-side-combined pass over the token rows — the
    * shuffled partial is a (K+1)-long counter vector per (mapper,
    * group), fixed-width whatever the token rate; no contingency frame,
    * no support join. The same aggregate is the streaming window state
    * ([[graft.streaming.EventStreams.windowedLexicalDrift]]), which is
    * why this form exists: chained aggregations can't run as one
    * streaming stateful operator, a single custom aggregate can. */
  def divergenceVsReference(
      tokens: DataFrame, groupCol: String, tokenCol: String,
      vocab: Seq[String], refQ: Seq[Double]): DataFrame = {
    val shims = org.apache.spark.sql.graftshim.Shims
    val agg = shims.column(
      graft.functions.DivergenceCounters(
        shims.expression(col(tokenCol)), vocab, refQ)
        .toAggregateExpression())
    tokens
      .filter(col(groupCol).isNotNull)
      .groupBy(col(groupCol))
      .agg(agg.as("__d"))
      .select(col(groupCol), col("__d.n_tokens").as("n_tokens"),
        col("__d.oov_frac").as("oov_frac"),
        col("__d.kl_vs_ref").as("kl_vs_ref"),
        col("__d.js_vs_ref").as("js_vs_ref"))
  }
}
