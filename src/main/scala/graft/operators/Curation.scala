package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The END-TO-END corpus-curation loop as one declared, oracle-checked
  * operator — the composition real pipelines break on even when every
  * piece is individually green: near-dup threshold sweep → deterministic
  * operating-point choice → pairwise dedup at that threshold →
  * leakage-safe k-fold assignment → per-fold health report (residual
  * exact-dup attribution + PSI/TVD drift of each fold against the
  * deduped corpus).
  */
object Curation {

  /** Curation pipeline report, one row per fold:
    * (fold, chosen_threshold, n_docs, n_dup_docs, n_dup_groups,
    * dup_rate, psi, tvd).
    *
    * Stages (every one an existing oracle-green operator — this is
    * their value-verified composition):
    *
    *  1. ONE portable MinHash-LSH chain execution at min(thresholds)
    *     produces the verified pair frame; the tuning curve
    *     ([[Dedup.sweepOverPairs]]) and the dedup both read it — the
    *     pair frame is a [[Pin]] (LSH-candidate-bounded; eager, see its
    *     contract; blocks are reclaimed by the ContextCleaner once the
    *     frame is unreferenced) so the chain never runs twice.
    *  2. Operating point: the SMALLEST threshold whose affected-doc
    *     count fits `maxAffectedDocs` (dedup as aggressively as the
    *     removal budget allows), falling back to max(thresholds) when
    *     none fits — a deterministic, engine-replayable rule. The
    *     curve collect is |thresholds| rows, driver-bounded.
    *  3. Pairwise survivor policy at the chosen threshold: the GREATER
    *     id of every qualifying pair loses (pairs are emitted
    *     id_a < id_b), survivors anti-join the loser set. Pairwise —
    *     not connected-components — by design: it is exactly
    *     replayable in plain SQL (the oracle contract), removes every
    *     directly-verified duplicate, and never over-deletes a
    *     transitive chain the verify never confirmed (a-b and b-c
    *     qualifying says nothing about a-c).
    *  4. Leakage-safe folds ([[Sampling.kFold]] on `groupCol`, e.g.
    *     the source domain): every group's rows land in one fold,
    *     map-only, layout-independent; a null group key surfaces as a
    *     VISIBLE fold -1 row in the report (kFold emits fold = null
    *     for it; the report relabels, because a null key would be
    *     dropped by stage 5's equi-join and zeroed by psiSeries's
    *     group-frame join — see the stage-4 inline note).
    *  5. Per-fold health: [[Dedup.dupRateByGroup]] keyed by fold
    *     (duplicate groups corpus-wide over the DEDUPED corpus,
    *     attribution per fold — the q156 discipline) joined with
    *     [[Drift.psiSeries]] of `valueCol` per fold against the whole
    *     deduped corpus as reference (a fold whose length/score
    *     distribution drifts from the corpus signals a skewed split).
    *
    * Scale shape: the deduped frame is consumed twice (dup attribution
    * and both drift sides) — deliberately re-derived per consumer
    * rather than checkpointed: it is corpus-sized, its re-derivation
    * is scan + broadcast-anti-join (the loser set is
    * LSH-candidate-bounded), and each consumer prunes to its own
    * column set, which one materialization would forfeit. Nothing
    * wider than (folds × nbins) + the pair frame ever sits in driver
    * or single-executor memory. */
  def curationReport(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      groupCol: String,
      valueCol: String,
      thresholds: Seq[Double],
      maxAffectedDocs: Long,
      folds: Int,
      edges: Seq[Double],
      numHashes: Int = 64,
      bands: Int = 16,
      shingleSize: Int = 3,
      seed: Long = 42L): DataFrame = {
    require(thresholds.nonEmpty, "thresholds must be non-empty")
    require(maxAffectedDocs >= 0, "maxAffectedDocs must be >= 0")
    val ts = thresholds.distinct.sorted
    // stage 1: one chain execution feeds curve AND dedup
    // pinVerifyFanout = false: the composite is stage-count-heavy and
    // its frames small — the candidate-exchange pin that wins on the
    // plain chains inverted here (A/B 2.06 → 2.49 s med; the same
    // inversion this query showed in the AQE-floor sweep), so the
    // sweep keeps the AQE-coalescible distinct
    val pairs = Pin(Dedup.portableNearDups(docs, idCol, textCol,
      numHashes, bands, shingleSize, ts.head, seed,
      pinVerifyFanout = false))
    // stage 2: smallest threshold within the removal budget, else the
    // most conservative one — as a ONE-ROW broadcast frame, not a
    // driver collect (round 21, the pagerank nTot recipe): the old
    // |thresholds|-row collect was its own full Spark action (AQE
    // planning + scheduling) run purely to seed a plan literal; the
    // aggregate below is the same decision (min threshold whose
    // affected-doc count fits, coalesce to max(ts) when none does)
    // riding the main action's plan. sweepOverPairs zero-fills missing
    // thresholds, so the aggregate sees every candidate exactly as the
    // collect did.
    val chosenF = Dedup.sweepOverPairs(pairs, ts, pairsBuiltAt = Some(ts.head))
      .agg(coalesce(
        min(when(col("n_docs") <= maxAffectedDocs, col("threshold"))),
        lit(ts.last)).as("chosen_threshold"))
    // stage 3: pairwise keep-smaller-id dedup at the chosen threshold
    val losers = pairs.crossJoin(broadcast(chosenF))
      .filter(col("jaccard") >= col("chosen_threshold"))
      .select(col("id_b").as(idCol)).distinct()
    val deduped = docs.join(losers, Seq(idCol), "left_anti")
    // stage 4: group-coherent folds. Docs with a NULL group key get
    // fold = null from kFold (its visible-null contract) — the report
    // RELABELS that fold to -1 before stage 5, because null keys are
    // poison downstream: the equi-join between dup stats and drift
    // would drop the row (null != null), and psiSeries's internal
    // (group × bin) frame join would zero the null group's counts.
    // -1 cannot collide (real folds are 0..k-1), stays one visible row
    // in the report, and keeps every stage-5 key null-free.
    val folded = Sampling.kFold(deduped, groupCol, folds)
      .withColumn("fold", coalesce(col("fold"), lit(-1)))
    // stage 5: per-fold residual-dup attribution + drift vs corpus
    val dupStats = Dedup.dupRateByGroup(folded, "fold", textCol)
    val drift = Drift.psiSeries(deduped, folded, valueCol, "fold", edges)
      .withColumnRenamed("grp", "fold")
    dupStats
      .join(drift.select(col("fold"), col("psi"), col("tvd")), Seq("fold"))
      .crossJoin(broadcast(chosenF))
      .select(col("fold"), col("chosen_threshold"),
        col("n_docs"), col("n_dup_docs"), col("n_dup_groups"),
        col("dup_rate"), col("psi"), col("tvd"))
      .orderBy(col("fold"))
  }
}
