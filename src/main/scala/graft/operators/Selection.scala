package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{PortableHash, TextFunctions}

/** Data SELECTION for language-model training: score every raw document
  * by how target-like its hashed n-gram distribution is — the importance
  * log-weight of DSIR (Xie et al. 2023, "Data Selection for Language
  * Models via Importance Resampling", arXiv:2302.03169). The published
  * recipe: featurize text as hashed uni+bigram counts over B buckets,
  * fit bag-of-words bucket distributions p_target and p_raw, and weight
  * each raw doc x by
  *
  *   log w(x) = Σ_{g ∈ grams(x)} [ ln p_target(b(g)) − ln p_raw(b(g)) ]
  *
  * (the per-doc log likelihood ratio); selection keeps the top slice by
  * log w. Both distributions are Laplace-smoothed — (c_b + 1)/(N + B) —
  * so every bucket has positive mass under both and the ratio is finite
  * even for buckets the target never hits.
  *
  * Scale contract (the 100 TB shape): TWO corpus gram passes, each a
  * map-side-combined aggregate onto the B-bounded bucket frame (the
  * target pass is usually tiny — the target corpus is the small curated
  * set); the B-row log-ratio frame then BROADCASTS into one scoring pass
  * whose only data-sized shuffle is the per-doc sum, map-combined to one
  * row per (mapper, doc). Nothing wider than B rows is ever collected or
  * joined non-broadcast. Gram hashing is the portable md5-prefix family
  * (PortableHash.md5Prefix — replayable in any engine), so the whole
  * chain is oracle-checkable.
  *
  * Float discipline: each bucket's two ln() values are quantized to
  * DECIMAL(24,10) (the psi recipe — libm ulp differences absorbed) and
  * SUBTRACTED as exact decimals; per-gram terms are summed as
  * DECIMAL(28,12), so partial-aggregation order cannot change the
  * result; the double cast + ROUND(6) happen once at the end.
  */
object Selection {

  /** (id, __gram) rows: lowercase whitespace unigrams plus adjacent
    * bigrams ("a b") — DSIR's published featurization. With
    * `outer = false` docs with null/empty text yield no rows; with
    * `outer = true` they yield one null-gram row, so a single scoring
    * pass can keep them visible without a distinct + join-back (the
    * no-silent-drop contract at zero extra shuffles). */
  def gramRows(docs: DataFrame, idCol: String, textCol: String,
      outer: Boolean = false): DataFrame = {
    // fan a narrow (single-split) scan out before the gram explode: the
    // per-gram md5 bucket hash downstream is the md5-portable-chain
    // cost profile, which serializes on one core when the input is one
    // file/row group (see Dedup.fanOutNarrowScan — a no-op at
    // production scan parallelism)
    val tk = Dedup.fanOutNarrowScan(docs.select(col(idCol), col(textCol)))
      .select(col(idCol), TextFunctions.tokens(col(textCol)).as("__tk"))
    // bigram array built positionally inside codegen (the Collocations
    // idiom); sequence(1, size-1) is only evaluated when size >= 2 —
    // sequence(1, 0) would yield a DESCENDING [1, 0], not empty
    val bigrams = when(size(col("__tk")) >= 2,
      transform(sequence(lit(1), size(col("__tk")) - 1),
        i => concat_ws(" ", element_at(col("__tk"), i),
          element_at(col("__tk"), i + 1))))
      .otherwise(array().cast("array<string>"))
    val grams = concat(coalesce(col("__tk"), array().cast("array<string>")),
      bigrams)
    if (outer) tk.select(col(idCol), explode_outer(grams).as("__gram"))
    else tk.select(col(idCol), explode(grams).as("__gram"))
  }

  private def bucket(gram: Column, numBuckets: Int): Column =
    PortableHash.md5Prefix(gram, 8) % numBuckets

  /** B-row (bucket, log-ratio) frame from the two corpora: one
    * map-combined gram aggregate per side, scalars attached as one-row
    * broadcasts (never collected). lr is DECIMAL(28,12):
    * quantized-ln(p_t) − quantized-ln(p_r), exact decimal subtraction. */
  def bucketLogRatios(
      raw: DataFrame, target: DataFrame, textCol: String,
      numBuckets: Int): DataFrame = {
    require(numBuckets > 0, "numBuckets must be positive")
    val rawG = gramRows(raw.withColumn("__rid", lit(1)), "__rid", textCol)
      .select(bucket(col("__gram"), numBuckets).as("__b"))
      .groupBy(col("__b")).agg(count(lit(1)).as("__cr"))
    val tgtG = gramRows(target.withColumn("__rid", lit(1)), "__rid", textCol)
      .select(bucket(col("__gram"), numBuckets).as("__b"))
      .groupBy(col("__b")).agg(count(lit(1)).as("__ct"))
    ratiosFromCounts(raw, rawG, tgtG, numBuckets)
  }

  /** The dense B-row log-ratio frame from precomputed per-bucket counts
    * (rawG: (__b, __cr), tgtG: (__b, __ct)) — the tail of
    * [[bucketLogRatios]], split out so [[importanceWeights]] can feed a
    * raw-side count frame DERIVED from its one shared corpus gram pass
    * instead of paying a second full tokenize+md5 pass (round 20,
    * guide §1.2 "how many full passes are unavoidable"). */
  private def ratiosFromCounts(
      raw: DataFrame, rawG: DataFrame, tgtG: DataFrame,
      numBuckets: Int): DataFrame = {
    val b = lit(numBuckets.toLong)
    // The corpus totals N_r/N_t are WINDOW sums over the B-row joined
    // bucket frame, not second aggregate consumers of rawG/tgtG: a
    // one-row `rawG.agg(sum)` consumer re-ran the whole corpus explode
    // (measured: 5 scans instead of 3 at audit) because the scoring
    // join pushes an isnotnull(__b) constraint into ITS copy of the
    // aggregate subtree and the totals copy has none — structurally
    // different subtrees, no ReusedExchange (the q95 pruning-trap
    // class, constraint-propagation flavor). The single-partition
    // window is bounded by construction: the frame holds exactly
    // numBuckets rows whatever the corpus size.
    //
    // The frame is DENSE — every bucket 0..B-1 gets a row, zero-filled
    // counts where neither corpus hit it — because the module contract
    // says Laplace smoothing makes EVERY bucket's ratio finite: a
    // bucket absent from the training pair must still score
    // ln(1/(N_t+B)) − ln(1/(N_r+B)) when a FROZEN frame meets novel
    // vocabulary (scoreAgainst / the streaming gate). The sparse form
    // left-joined those grams to nothing: null lr terms biased
    // partially-novel docs and an all-novel doc read as "unscored"
    // (NULL log_w with n_grams > 0) and silently failed every gate
    // threshold. importanceWeights itself never met the edge (it
    // scores the corpus the frame was trained on), which is why 183
    // oracle queries couldn't catch it.
    val all = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
    raw.sparkSession.range(numBuckets.toLong)
      .select(col("id").as("__b"))
      .join(rawG, Seq("__b"), "left")
      .join(tgtG, Seq("__b"), "left")
      .na.fill(0L, Seq("__cr", "__ct"))
      .withColumn("__nr", sum(col("__cr")).over(all))
      .withColumn("__nt", sum(col("__ct")).over(all))
      .select(col("__b"),
        (log((col("__ct") + 1).cast("double") /
            (col("__nt") + b).cast("double")).cast("decimal(24,10)") -
          log((col("__cr") + 1).cast("double") /
            (col("__nr") + b).cast("double")).cast("decimal(24,10)"))
          .cast("decimal(28,12)").as("__lr"))
  }

  /** Per-document DSIR importance log-weights: one row per `raw` doc —
    * (id, n_grams, log_w), log_w NULL (and n_grams 0) for docs with no
    * tokens (no lexical signal — kept visible, never dropped). Positive
    * log_w = more target-like than the raw average; selection is a
    * descending-order cut the caller applies.
    *
    * ONE corpus gram pass, not two (round 20, guide §1.2): the naive
    * composition (bucketLogRatios over `raw`, then scoreAgainst over
    * `raw`) tokenizes + md5-buckets every gram occurrence TWICE — and
    * the per-gram hash is the dominant CPU of the whole chain (two
    * ~equal 32-task stages in the q183 StageProfile). Instead the
    * per-(doc, bucket) gram-count frame is computed once and eagerly
    * pinned, and BOTH consumers derive from it: the raw bucket counts
    * are its per-bucket re-aggregate (Σ_doc cnt ≡ the occurrence
    * count), and the scoring pass multiplies each doc's bucket count
    * into the broadcast log-ratio (Σ_grams lr(b(g)) ≡ Σ_b cnt_b·lr_b —
    * exact DECIMAL multiply by an integral count, so the sum is
    * bit-identical to the per-occurrence form; SelectionSpec pins
    * parity). The pinned frame is |docs| × min(B, doc grams) narrow
    * rows — strictly smaller than the gram-occurrence flow it replaces.
    * Only the raw side shares — the target pass stays its own (usually
    * tiny) aggregate. A job that both selects on and samples from the
    * scores pins the returned frame with [[Pin]]: measured 0.60× of
    * re-running the chain per consumer (SCALING.md round 16); a single
    * consumer should not.
    *
    * Eager: the count frame is a [[Pin]] (see its contract). */
  def importanceWeights(
      raw: DataFrame, target: DataFrame, idCol: String, textCol: String,
      numBuckets: Int = 1024): DataFrame = {
    require(numBuckets > 0, "numBuckets must be positive")
    val db = Pin(gramRows(raw, idCol, textCol, outer = true)
      .withColumn("__b", bucket(col("__gram"), numBuckets))
      .groupBy(col(idCol), col("__b"))
      .agg(count(col("__gram")).as("__cnt")))
    // Σ_doc cnt per bucket = the raw occurrence count; the zero-gram
    // docs' (null bucket, 0) group is dropped by the dense range join
    // inside ratiosFromCounts exactly as outer=false dropped their rows
    val rawG = db.groupBy(col("__b")).agg(sum(col("__cnt")).as("__cr"))
    val tgtG = gramRows(target.withColumn("__rid", lit(1)), "__rid", textCol)
      .select(bucket(col("__gram"), numBuckets).as("__b"))
      .groupBy(col("__b")).agg(count(lit(1)).as("__ct"))
    val ratios = ratiosFromCounts(raw, rawG, tgtG, numBuckets)
    db.join(broadcast(ratios), Seq("__b"), "left")
      .groupBy(col(idCol))
      // n_grams = Σ cnt (count of non-null grams, zero-gram docs read
      // 0 from their single null-bucket group); log_w = Σ cnt·lr with
      // the same NULL algebra as the per-occurrence sum (the zero-gram
      // group's lr is NULL — no ratio row for a null bucket — so its
      // 0·NULL term is NULL and the doc's sum stays NULL)
      // exact-decimal multiply, deliberately typed: __lr's VALUE is an
      // exact multiple of 1e-10 (quantized-ln difference at scale 10,
      // only TYPED (28,12)), so the (24,10) re-cast is value-identity;
      // cnt rides decimal(12,0) (≤ 1e12 grams per doc ≈ 4 TB of text
      // in one row — unreachable). (24,10)×(12,0) → decimal(37,10):
      // UNDER the 38-precision cap, so Spark keeps the full scale and
      // the product is exact — a bare __lr(28,12)×bigint would land on
      // the cap and silently HALF_UP each term at scale 6 BEFORE the
      // sum, changing low-order digits vs the per-occurrence sum
      .agg(sum(col("__cnt")).as("n_grams"),
        sum(col("__lr").cast("decimal(24,10)") *
          col("__cnt").cast("decimal(12,0)")).as("__sum_lr"))
      .select(col(idCol), col("n_grams"),
        round(col("__sum_lr"), 6).cast("double").as("log_w"))
  }

  /** The scoring pass alone, against a FROZEN (__b, __lr) ratio frame
    * from [[bucketLogRatios]] — score a NEW corpus (or a micro-batch;
    * see `EventStreams.dsirFilterSink`) with weights trained elsewhere.
    * Same arithmetic and output contract as [[importanceWeights]],
    * whose scoring pass this IS. `numBuckets` must equal the value the
    * ratio frame was built with — a mismatch silently maps grams to
    * buckets the frame never populated (null lr), so it is the
    * caller's manifest-level contract (the LSH-params precedent). */
  def scoreAgainst(
      ratios: DataFrame, docs: DataFrame, idCol: String, textCol: String,
      numBuckets: Int = 1024): DataFrame = {
    // validated here too (importanceWeights gets it via bucketLogRatios,
    // but this is its own entry point now): 0 would divide-by-zero deep
    // in the stream, and a NEGATIVE B maps grams to (-B, 0] — buckets
    // the frame's [0, B) keys can never match, i.e. every doc silently
    // "unscored"
    require(numBuckets > 0, "numBuckets must be positive")
    // outer grams + LEFT broadcast join: a zero-gram doc rides the same
    // single pass as everything else (null gram → null bucket → null
    // lr), so no distinct-ids shuffle and no join-back — at corpus
    // scale those were a second full pass just to resurrect edge rows
    gramRows(docs, idCol, textCol, outer = true)
      .withColumn("__b", bucket(col("__gram"), numBuckets))
      .join(broadcast(ratios), Seq("__b"), "left")
      .groupBy(col(idCol))
      .agg(count(col("__gram")).as("n_grams"),
        sum(col("__lr")).as("__sum_lr"))
      .select(col(idCol), col("n_grams"),
        // round the DECIMAL sum, then cast: the sum is an exact multiple
        // of 10^-12, so a double-side round can land on a .5 tie at 6dp
        // (~1e-4 per doc — and this emits one row per document) that
        // Spark HALF_UPs while a replay engine rounds the binary double
        // a ulp off the tie. Decimal-round-then-cast is tie-free on
        // both sides (the q173 floor-ppm lesson, round flavor).
        round(col("__sum_lr"), 6).cast("double").as("log_w"))
  }

  /** DSIR's SAMPLING step, deterministic: Gumbel top-k over a score
    * column. Sampling k items with probability ∝ exp(score) is exactly
    * taking the top k by (score + g_i) with iid standard Gumbel noise
    * g_i = −ln(−ln(u_i)) (the Gumbel-top-k trick) — the importance
    * RESAMPLING of Xie et al. 2023 applied to [[importanceWeights]]'
    * log w. The noise is derandomized the way every sampler here is:
    * u_i = (md5(seed ++ id)₆₀ + 0.5) / 2⁶⁰ ∈ (0,1) strictly — a row's
    * selection never depends on layout, and a different seed draws an
    * independent sample. Rows with a NULL score or a NULL id are
    * excluded (an unscored doc has no sampling weight, a null id has
    * no hash — and NULL-key ordering differs across engines); `idCol`
    * must be unique (the [[Sampling.deterministicShuffle]] contract)
    * or the tie-broken order is layout-dependent.
    *
    * Scale shape: map-only key computation + ONE k-bounded reduction
    * (TakeOrdered — per-partition heaps, k rows to the driver side of
    * the sort), no shuffle of the corpus at any k. Exactness: u is an
    * exact 61-bit rational both engines compute identically; the
    * double-chained ln rides the single DECIMAL(24,10) quantization
    * (the ln ulp recipe — quantizing the INNER ln instead would floor
    * −ln(u) to 0 for u within 5e-11 of 1 and blow up the outer ln);
    * score quantizes to the same scale, so the sort key is an exact
    * decimal sum and the returned SET is engine-identical. */
  def gumbelTopK(
      scored: DataFrame, idCol: String, scoreCol: String,
      k: Int, seed: String): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val h = PortableHash.md5Prefix(
      concat(lit(seed), col(idCol).cast("string")), 15)
    val u = (h.cast("double") + lit(0.5)) / lit(math.pow(2, 60))
    val g = (-log(-log(u))).cast("decimal(24,10)")
    // null ids are excluded like null scores (and for the same two
    // reasons): concat-with-null nulls the hash, so the row's key would
    // be NULL — a scored doc silently sorting to zero sampling
    // probability — and NULL-key ordering differs across engines
    scored.filter(col(scoreCol).isNotNull && col(idCol).isNotNull)
      .withColumn("__gumbel_key",
        col(scoreCol).cast("decimal(24,10)") + g)
      .orderBy(col("__gumbel_key").desc, col(idCol))
      .limit(k)
  }

  /** Curriculum training schedule (Bengio et al., ICML 2009, as
    * practiced in data-ordering pipelines): stratify the corpus into
    * `nBuckets` difficulty tiers by `scoreCol` (ascending = easy first)
    * and emit an interleaved order — position r·nBuckets + b takes the
    * r-th element of tier b — so every consecutive window of the
    * schedule mixes all difficulty tiers while the WITHIN-tier order is
    * a deterministic hash shuffle (each epoch window is a diverse
    * mini-batch, not a sorted run; sorted-by-difficulty batches are the
    * known curriculum failure mode).
    *
    * Tier assignment is equal-frequency UP TO TIES and computed at the
    * VALUE level: one map-combined groupBy(score) builds the
    * |distinct scores|-row CDF frame, tier(v) = ⌈cdf(v)·nBuckets / n⌉,
    * joined back — equal scores land in one tier by construction (no
    * layout-dependent ntile tie split), and no global row-number pass
    * ever runs. The only data-sized exchanges are the within-tier rank
    * window — hash-partitioned on (tier, salt), nBuckets × 64
    * partitions via a two-phase rank whose salt is the top bits of the
    * deterministic order key, so a mega-tie tier parallelizes instead
    * of serializing on one task (see the body comment; output
    * bit-identical to the unsalted form) — plus the salt histogram's
    * map-combined pass; at extreme scale materializing a TOTAL
    * training order is inherently a sort, and callers who only need
    * the order can sort by the emitted (rank, tier) pair instead of
    * collecting positions.
    *
    * PRECONDITION: `scoreCol` must be LOW-CARDINALITY (integral counts,
    * quantized losses, pre-bucketed difficulty) — the CDF frame is
    * |distinct scores| rows, window-sorted in one partition and joined
    * back (Catalyst/AQE broadcasts it when small; no forced hint, so a
    * continuous score degrades to a shuffle join instead of blowing the
    * broadcast limit). For continuous difficulty scores, bucket first
    * (e.g. round the loss to 3 decimals): curriculum semantics only
    * need ordinal tiers, never raw-float resolution.
    *
    * Eager: the bounded value-level histogram (≤ |distinct scores| × 64
    * rows) is a [[Pin]] (see its contract).
    *
    * Output: (idCol, scoreCol, tier 1-based, position 0-based). Position
    * is unique (position ≡ tier−1 mod nBuckets) and sorting by it yields
    * the schedule; it is NOT dense when tiers are unequal (ties). Rows
    * with null score or null id are excluded (null has no difficulty;
    * null ids would hash to null shuffle keys — same contract as
    * [[gumbelTopK]]). */
  def curriculumSchedule(
      df: DataFrame, idCol: String, scoreCol: String,
      nBuckets: Int, seed: String): DataFrame = {
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    import org.apache.spark.sql.expressions.Window
    val rows = df.filter(col(scoreCol).isNotNull && col(idCol).isNotNull)
      .select(col(idCol), col(scoreCol))
    // the 60-bit deterministic order key — ONE definition shared by the
    // per-row shuffle column and the histogram below (drift between two
    // copies would silently desync the offsets from the rank
    // partitioning — review catch)
    def shufExpr = PortableHash.md5Prefix(
      concat(lit(seed), col(idCol).cast("string")), 15)
    def saltExpr = shiftright(shufExpr, 54).cast("int")
    // ONE value-level corpus aggregate serves BOTH frames (round-16
    // review: the first draft ran a groupBy(score) CDF pass AND a
    // groupBy(score, salt) histogram pass — two corpus scans where one
    // suffices). hist is |distinct scores| × 64 rows (bounded by the
    // documented low-cardinality precondition); the pin serves the
    // single computation to its two consumers (exchange reuse across
    // differently-shaped consumers is not guaranteed, the q182_hotcut
    // lesson).
    val hist = Pin(rows.withColumn("__salt", saltExpr)
      .groupBy(col(scoreCol), col("__salt"))
      .agg(count(lit(1)).as("__vc")))
    val cdfW = Window.orderBy(col(scoreCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val totW = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val tiers = hist.groupBy(col(scoreCol))
      .agg(sum(col("__vc")).as("__c"))
      .withColumn("__cdf", sum(col("__c")).over(cdfW))
      .withColumn("__n", sum(col("__c")).over(totW))
      // ⌈cdf·B/n⌉ in exact integer arithmetic: (cdf·B + n − 1) DIV n
      .withColumn("tier",
        expr(s"(CAST(__cdf AS DECIMAL(38,0)) * $nBuckets " +
          s"+ __n - 1) DIV __n").cast("int"))
      .select(col(scoreCol), col("tier"))
    // Two-phase distributed within-tier rank (round 16). The plain
    // Window.partitionBy(tier) form puts an ENTIRE tier on one task,
    // and a mega-tie tier (one score value holding ≫ 1/nBuckets of the
    // corpus — ties can't split across tiers by contract) serializes
    // there: measured 141.6 s for a ~50M-row tied tier at the 100×
    // probe, pure single-task sort. Fix without changing one output
    // bit: salt by the TOP 6 BITS of the 60-bit order key itself —
    // salt is monotone in __shuf, every row of salt s sorts before
    // every row of salt s+1, and equal keys share a salt — so
    //   rank = Σ|salts below| + rank within (tier, salt),
    // the exact single-partition rank, computed on nBuckets×64-way
    // parallelism (measured 5.6× on the 100× skewed-tier probe,
    // 141.6 → 25.3 s pre-fusion, shuffled volume unchanged).
    val salted = rows
      .join(tiers, Seq(scoreCol))
      .withColumn("__shuf", shufExpr)
      .withColumn("__salt", shiftright(col("__shuf"), 54).cast("int"))
    val offW = Window.partitionBy(col("tier")).orderBy(col("__salt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = hist
      .join(tiers, Seq(scoreCol))
      .groupBy(col("tier"), col("__salt"))
      .agg(sum(col("__vc")).as("__sc"))
      .withColumn("__off", coalesce(sum(col("__sc")).over(offW), lit(0L)))
      .select(col("tier"), col("__salt"), col("__off"))
    val rankW = Window.partitionBy(col("tier"), col("__salt"))
      .orderBy(col("__shuf"), col(idCol))
    salted
      // the offsets frame is PARAMETER-bounded (≤ nBuckets × 64 rows),
      // so a broadcast hint is safe by construction — unlike the tier
      // frame above, whose |distinct scores| size is data-dependent
      // and deliberately unhinted (r15 review)
      .join(broadcast(offsets), Seq("tier", "__salt"))
      .withColumn("__r", row_number().over(rankW) + col("__off"))
      .withColumn("position",
        (col("__r").cast("long") - 1) * nBuckets + (col("tier") - 1))
      .select(col(idCol), col(scoreCol), col("tier"), col("position"))
  }
}
