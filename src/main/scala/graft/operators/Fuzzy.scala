package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Fuzzy string matching as *blocked* equi-join plans — the scale-correct
  * replacements for the two all-pairs shapes flagged in round 1:
  *
  *  - [[editDistanceSelfJoin]]: all pairs within Levenshtein distance k,
  *    via segment-pigeonhole blocking (the PassJoin scheme of Li, Deng &
  *    Feng, "PASS-JOIN: A Partition-based Method for Similarity Joins",
  *    VLDB 2011): split each string into k+1 segments; any pair within k
  *    edits must share one segment verbatim at a position shifted by at
  *    most k, so an equi-join on (indexed length, segment index, segment
  *    text) finds every candidate. COMPLETE — output is provably identical
  *    to the O(n²) cross join, but the plan is explode → shuffle hash join
  *    → verify: linear emit per row (≤ (2k+1)²·(k+1) probe keys), no
  *    BroadcastNestedLoopJoin anywhere.
  *
  *  - [[jaccardJoin]]: all pairs with Jaccard ≥ t, via prefix filtering
  *    (Chaudhuri, Ganti & Kaushik, "A Primitive Operator for Similarity
  *    Joins in Data Cleaning", ICDE 2006; Bayardo, Ma & Srikant, "Scaling
  *    Up All Pairs Similarity Search", WWW 2007): order every set by
  *    global token rarity; two sets with Jaccard ≥ t must share a token
  *    within their first |s| - ceil(t·|s|) + 1 elements, so an equi-join
  *    on prefix tokens finds every candidate. COMPLETE — exact-Jaccard
  *    verify runs only on blocked candidates.
  *
  * Unlike the LSH chains in [[Dedup]] (probabilistic recall), both
  * operators here are exact: they return precisely the pairs the naive
  * quadratic plan would.
  */
object Fuzzy {

  /** All unordered pairs of distinct values of `strCol` within Levenshtein
    * distance `k`, as (name_a, name_b, dist) with name_a < name_b.
    *
    * Blocking (PassJoin): each string s of length L ≥ k+1 is indexed under
    * k+1 keys (L, i, segment_i(s)) using an even L-div-(k+1) segmentation;
    * each string r probes, for every target length L in [|r|-k, |r|+k] and
    * segment i, the substrings of r at the segment's position shifted by
    * d ∈ [-k, k]. If ed(r, s) ≤ k, some segment of s is untouched by the
    * optimal edit script and appears in r shifted by at most k (pigeonhole
    * over k+1 segments vs ≤ k edits), so the equi-join cannot miss a pair.
    * Strings shorter than k+1 (where empty segments would break the
    * argument) fall into a single tiny "short" block — any partner within
    * distance k has length ≤ 2k, a bounded set.
    *
    * Candidate volume is ≤ (2k+1)·(2k+1)·(k+1) keys per row — linear in n,
    * shuffled on selective (length, seg, text) keys. The levenshtein
    * verify runs per candidate, codegen'd.
    */
  def editDistanceSelfJoin(
      df: DataFrame, strCol: String, k: Int,
      maxPairsPerDoc: Int = Int.MaxValue): DataFrame = {
    require(k >= 1, s"edit-distance threshold must be >= 1, got $k")
    val strs = df
      .select(col(strCol).cast("string").as("__s"))
      .filter(col("__s").isNotNull)
      .distinct()

    // segment-key generation lives in one codegen'd expression
    // (EditSegmentKeys) — a column-tree probe side would be ~200
    // conditional structs of mostly janino-compile cost
    def keys(probe: Boolean): Column =
      org.apache.spark.sql.graftshim.Shims.column(
        graft.functions.EditSegmentKeys(
          org.apache.spark.sql.graftshim.Shims.expression(col("__s")),
          k, probe))

    val index = strs
      .select(col("__s").as("__sa"), explode(keys(probe = false)).as("__k"))
    val probe = strs
      .select(col("__s").as("__sb"), explode(keys(probe = true)).as("__k"))

    index.join(probe, index("__k") === probe("__k"))
      .select(least(col("__sa"), col("__sb")).as("name_a"),
        greatest(col("__sa"), col("__sb")).as("name_b"))
      .filter(col("name_a") < col("name_b"))
      .distinct()
      // banded 3-arg levenshtein: O(len·k) DP instead of the full
      // O(len²) matrix, independent of whether the session carries
      // BoundedEditDistanceRule (which applies the same rewrite to
      // user-written 2-arg predicates). Returns -1 past the threshold,
      // hence the >= 0 guard; surviving rows carry the exact distance.
      .withColumn("dist",
        levenshtein(col("name_a"), col("name_b"), k))
      .filter(col("dist") >= 0 && col("dist") <= k)
      .transform(capPerDoc("name_a",
        -col("dist"), "name_b", maxPairsPerDoc,
        "graft.fuzzy.edit_distance_truncation"))
  }

  /** All (left, right) pairs with exact Jaccard ≥ `threshold` over the
    * array-typed `setCol`, as (id_a, id_b, jaccard) — id_a from `left`,
    * id_b from `right`, including id_a == id_b when both sides share ids
    * (callers add their own orientation predicate, e.g. id_a < id_b).
    *
    * Blocking (prefix filtering): tokens are globally ordered by
    * (document frequency, token); a set of size S keeps a prefix of
    * S - ceil(t·S) + 1 tokens. Two sets with Jaccard ≥ t overlap in at
    * least ceil(t·max(S_a, S_b)) tokens, which cannot fit entirely in
    * both suffixes, so the prefixes must share a token — the equi-join on
    * prefix tokens finds every qualifying pair. A size-ratio filter
    * (min ≥ t·max, implied by J ≥ t) prunes before the exact verify.
    * Frequency-ascending ordering puts RARE tokens in prefixes, keeping
    * per-token candidate lists short (the Bayardo et al. heuristic).
    *
    * ceil() calls subtract 1e-9 first so double rounding can only widen a
    * prefix/filter, never drop a true pair.
    *
    * Set elements must be NON-NULL (the shingle producers guarantee it):
    * a null element would vanish at the prefix equi-join (null keys never
    * match) while still counting in the verify's set sizes.
    *
    * Eager: both set frames are built through [[Pin]] (see its contract).
    */
  def jaccardJoin(
      left: DataFrame, right: DataFrame,
      idCol: String, setCol: String,
      threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    // sorted sets: the verify merge-intersects per pair (see
    // jaccardSelfJoin's note); every consumer here is order-insensitive.
    // Both set frames PINNED (round 21): l feeds the frequency union +
    // verify (2 corpus passes), r those plus the prefix carve (3) — the
    // same multi-consumer tokenize recompute as the self-join form,
    // same §1.2/§8 trade (see jaccardSelfJoin's pin note).
    val l = Pin(left.select(col(idCol).as("id_a"),
      array_sort(array_distinct(col(setCol))).as("__set_a")))
    val r = Pin(right.select(col(idCol).as("id_b"),
      array_sort(array_distinct(col(setCol))).as("__set_b")))

    // global token order: (df over both sides, token) — any consistent
    // total order is correct; rarity-first minimizes candidates
    val tokenDf = l.select(explode(col("__set_a")).as("__t"))
      .union(r.select(explode(col("__set_b")).as("__t")))
      .groupBy(col("__t"))
      .agg(count(lit(1)).as("__df"))

    // same pinned id_b exchange as the self-join form: one shuffle for
    // the distinct AND the verify's co-partitioned r join
    val numPart = left.sparkSession.sessionState.conf.numShufflePartitions
    val candidates = prefixes(l, "id_a", "__set_a", tokenDf, threshold)
      .join(prefixes(r, "id_b", "__set_b", tokenDf, threshold), Seq("__t"))
      .filter(candidateFilter(threshold))
      .select(col("id_a"), col("id_b"))
      .repartition(numPart, col("id_b"))
      .distinct()

    verify(candidates, l, r, threshold)
  }

  /** Self-join form of [[jaccardJoin]] with a predicate selecting the left
    * side. Token rarity (`__df`) comes from ONE whole-corpus frequency
    * aggregate, and the whole corpus is exploded, annotated, and
    * prefix-carved ONCE (`rp`) — the left side is carved OUT of that
    * shared prefix table by an id join against the `leftPred` doc ids
    * (broadcast when the slice is small), so neither a selective slice
    * nor the whole-corpus form (leftPred = true, where both references
    * to `rp` are one reused exchange) pays the carve twice. Returns
    * (id_a, id_b, jaccard) with id_a satisfying `leftPred`, id_a !=
    * id_b not implied — callers orient (e.g. id_a < id_b).
    *
    * FAN-OUT PIN GATE: the explicit-partition-count pins (carve +
    * candidate exchange, see [[orderedPrefixes]]) apply only to the
    * SELECTIVE-slice form — `leftPred` not statically true after
    * analysis + constant evaluation (see [[isStaticallyTrue]]). They
    * exist for
    * the "tiny slice probes big corpus" shape, where every downstream
    * join broadcasts and candidate generation hangs off one
    * AQE-coalescible exchange. The whole-corpus form never has that
    * shape — its candidate join is a shuffle join whose own exchanges
    * carry the parallelism — and the pin's two-phase carve plus fixed
    * fan-out added measured constants (~2× at sf0.1, round-11 q121) to
    * an arm that gains nothing from it, so it rides plain
    * ENSURE_REQUIREMENTS aggregation instead.
    *
    * Eager: the corpus set frame is built through [[Pin]] (see its
    * contract).
    */
  def jaccardSelfJoin(
      sets: DataFrame, idCol: String, setCol: String,
      threshold: Double, leftPred: Column,
      maxPairsPerDoc: Int = Int.MaxValue): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    // Pin gate: a predicate that STATICALLY evaluates to true selects
    // the whole corpus, so it rides the unpinned arm. The check is
    // semantic, not structural: the predicate is resolved against the
    // input and constant-evaluated, so `lit(true)`,
    // `lit(true).alias("x")`, and `lit(1) === lit(1)` all gate the
    // same way — a structural `leftPred != lit(true)` test silently
    // sent aliased/computed trivially-true predicates down the pinned
    // selective arm with the whole corpus behind it (~1.4× carve tax,
    // round-12 A/B). CONTRACT: only compile-time-constant truths are
    // recognized; a data-dependent always-true predicate (e.g.
    // `col("id") >= 0` on non-negative ids) still takes the selective
    // arm — pass `lit(true)` when you mean the whole corpus.
    val selectiveSlice = !isStaticallyTrue(sets, leftPred)
    // sets ride SORTED (round 20): the verify's per-pair intersection
    // then runs as an allocation-free linear merge (jaccardSortedFast)
    // instead of building a hash set per candidate pair — the sort is
    // paid once per doc, the merge once per pair, and every downstream
    // consumer here (size, explode→groupBy, the rarity carve) is
    // order-insensitive, so answers are bit-identical.
    // ... and PINNED (round 21, guide §1.2/§5): the set frame has FOUR
    // full-corpus consumers — the token-frequency aggregate, the prefix
    // carve, and both verify sides — and left lazy each re-ran the
    // tokenize + array_distinct + array_sort scan chain (StageProfile
    // r21: four serial one-task scan stages at sf0.1, the stage family
    // behind the driver's q150 32-core bimodal slow mode, spread
    // [1.8, 17.7]). One materialization trades a write + three block
    // reads of (id, sorted set) for three corpus tokenize+sort passes —
    // the §8 "fingerprint once" recipe; at 100 TB the pinned frame is
    // token-scale but each avoided pass is a full corpus re-scan AND
    // re-tokenize, strictly more I/O + CPU than reading the blocks
    // back. Answers unchanged: same frame content, different physical
    // source.
    val r = Pin(sets.select(col(idCol).as("id_b"),
      array_sort(array_distinct(col(setCol))).as("__set_b")))
    // whole-corpus rarity: map-side-combined frequency aggregate (left
    // docs are a subset of r, so counting r once is the single-corpus df)
    val tokenDf = r.select(explode(col("__set_b")).as("__t"))
      .groupBy(col("__t"))
      .agg(count(lit(1)).as("__df"))
    // one shared prefix carve, pinned inside orderedPrefixes when the
    // slice is selective — the candidate probe then streams it at the
    // session's shuffle parallelism whichever side the planner broadcasts
    val rp = prefixes(r, "id_b", "__set_b", tokenDf, threshold,
      pinFanout = selectiveSlice)
    // The left prefix table is the corpus prefix table renamed; a
    // selective slice carves its doc ids out of it (broadcast when the
    // slice is small). Whole corpus: use it directly — a
    // filter(true)-ids join would re-shuffle every prefix row for
    // nothing (Catalyst does not eliminate a self-keyed semi join).
    val lpFull = rp.withColumnRenamed("id_b", "id_a")
      .withColumnRenamed("__n_id_b", "__n_id_a")
      .withColumnRenamed("__i_id_b", "__i_id_a")
    val lp =
      if (selectiveSlice)
        sets.filter(leftPred)
          .select(col(idCol).as("id_a"))
          .join(lpFull, Seq("id_a"))
      else lpFull
    // Selective slice: ONE pinned exchange serves both the distinct and
    // the verify — hashing by id_b co-locates duplicate (id_a, id_b)
    // rows (subset of the distinct keys → the aggregate needs no further
    // shuffle) AND co-partitions the verify's id_b join with `r` — see
    // the fan-out note on orderedPrefixes for why the pin must be
    // explicit. Whole corpus: plain distinct; its ENSURE exchange is
    // proportional to the corpus and never byte-coalesces to one task.
    val numPart = sets.sparkSession.sessionState.conf.numShufflePartitions
    val candBase = lp.join(rp, Seq("__t"))
      .filter(candidateFilter(threshold))
      .select(col("id_a"), col("id_b"))
    val candidates =
      if (selectiveSlice)
        candBase.repartition(numPart, col("id_b")).distinct()
      else candBase.distinct()
    verify(candidates,
      r.select(col("id_b").as("id_a"), col("__set_b").as("__set_a")),
      r, threshold)
      .transform(capPerDoc("id_a",
        col("jaccard"), "id_b", maxPairsPerDoc,
        "graft.fuzzy.jaccard_truncation"))
  }

  /** Asymmetric CONTAINMENT self-join: pairs (a, b) with
    * C(a→b) = |set_a ∩ set_b| / |set_a| ≥ `threshold` — "at least t of
    * a's tokens appear in b". The asymmetric cousin of
    * [[jaccardSelfJoin]]: Jaccard misses subset duplication (a 50-token
    * excerpt inside a 5000-token document has J ≈ 0.01 but containment
    * 1.0), and excerpt/quote detection is exactly the dedup case where
    * symmetric measures go blind (Broder's containment, SEQUENCES 1997).
    *
    * Blocking is one-sided prefix filtering: C ≥ t means overlap ≥
    * ⌈t·n_a⌉, so at most n_a − ⌈t·n_a⌉ of a's tokens are OUTSIDE b —
    * a's first n_a − ⌈t·n_a⌉ + 1 tokens under global rarity order must
    * hit b. Candidates are therefore an equi-join of a's rarity prefix
    * against b's FLAT token postings — the b side needs no carve, no
    * positions, no sort: (id_b, n_b, token) straight off the explode.
    * Two prunes are sound per matched row: n_b ≥ ⌈t·n_a⌉ (overlap can't
    * exceed |b|), and at a's prefix position i_a the remaining-overlap
    * bound 1 + (n_a − i_a − 1) ≥ ⌈t·n_a⌉ (valid at the FIRST shared
    * token, which always survives — later rows of the same pair may be
    * pruned, thinning duplicates before the distinct). COMPLETE: exact
    * intersection verify on candidates equals the all-pairs answer.
    *
    * `leftPred` selects the query side (the natural 100 TB shape:
    * "which corpus docs contain ≥ t of THIS release's docs"); pass
    * `lit(true)` for the whole-corpus form. Self-pairs are excluded;
    * (a, b) and (b, a) are distinct answers (containment is directed).
    * Scale: the corpus-side explode is flat postings — one shuffle on
    * token; hot (frequent) tokens never enter the join unless they sit
    * in someone's RARITY prefix, which by construction they rarely do.
    * `maxPairsPerDoc` caps each id_a's partners best-first via the
    * heap exec, same contract as [[jaccardSelfJoin]]'s cap.
    *
    * Eager: the corpus set frame is built through [[Pin]] (see its
    * contract). */
  def containmentSelfJoin(
      sets: DataFrame, idCol: String, setCol: String,
      threshold: Double, leftPred: Column,
      maxPairsPerDoc: Int = Int.MaxValue): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    val selectiveSlice = !isStaticallyTrue(sets, leftPred)
    // corpus set frame pinned — THREE consumers here (frequency
    // aggregate, flat postings, verify); same trade as jaccardSelfJoin
    val r = Pin(sets.select(col(idCol).as("id_b"),
      array_sort(array_distinct(col(setCol))).as("__set_b")))
    val tokenDf = r.select(explode(col("__set_b")).as("__t"))
      .groupBy(col("__t"))
      .agg(count(lit(1)).as("__df"))
    // query-side rarity prefix (same pinned carve as the jaccard form);
    // a selective slice filters BEFORE the set build — unlike the
    // jaccard self-join there is no shared corpus prefix table to carve
    // out of, so filtering first pushes the predicate into the scan.
    // The whole corpus is the pinned r renamed: no second tokenize pass.
    val lSets =
      if (selectiveSlice)
        sets.filter(leftPred).select(col(idCol).as("id_a"),
          array_sort(array_distinct(col(setCol))).as("__set_a"))
      else r.select(col("id_b").as("id_a"), col("__set_b").as("__set_a"))
    val lp = prefixes(lSets, "id_a", "__set_a", tokenDf, threshold,
      pinFanout = selectiveSlice)
    // corpus-side FLAT postings: no carve — (id_b, n_b, token)
    val rPost = r.select(col("id_b"),
      size(col("__set_b")).as("__n_id_b"), explode(col("__set_b")).as("__t"))
    val minOverlap = ceil(lit(threshold) * col("__n_id_a") - 1e-9)
    val numPart = sets.sparkSession.sessionState.conf.numShufflePartitions
    val candBase = lp.join(rPost, Seq("__t"))
      .filter(col("id_a") =!= col("id_b"))
      .filter(col("__n_id_b") >= minOverlap)
      .filter(lit(1) + (col("__n_id_a") - col("__i_id_a") - 1) >= minOverlap)
      .select(col("id_a"), col("id_b"))
    val candidates =
      if (selectiveSlice) candBase.repartition(numPart, col("id_b")).distinct()
      else candBase.distinct()
    // exact directed verify: |a ∩ b| / |a| — the id_a side re-reads only
    // the slice (its filter pushes to the scan) or the pin
    candidates
      .join(r, Seq("id_b"))
      .join(lSets, Seq("id_a"))
      .withColumn("containment",
        // sorted-distinct sides: merge count == size(array_intersect)
        graft.functions.TextFunctions.intersectCountSorted(
          col("__set_a"), col("__set_b")).cast("double") /
          size(col("__set_a")).cast("double"))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), col("containment"))
      .transform(capPerDoc("id_a",
        col("containment"), "id_b", maxPairsPerDoc,
        "graft.fuzzy.containment_truncation"))
  }

  /** True iff `pred`, resolved against `df` and cast to boolean, is a
    * compile-time constant `true` — the [[jaccardSelfJoin]] pin gate's
    * whole-corpus test. Resolution goes through the analyzer (so
    * aliases and implicit casts are normalized), then the expression is
    * checked foldable and constant-evaluated. Foldable implies
    * deterministic and input-independent, so eval(null) is safe. */
  private def isStaticallyTrue(df: DataFrame, pred: Column): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, Expression}
    val analyzed =
      df.select(pred.cast("boolean").as("__p")).queryExecution.analyzed
    @annotation.tailrec
    def strip(e: Expression): Expression = e match {
      case a: Alias => strip(a.child)
      case other => other
    }
    val e = strip(analyzed.asInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.Project].projectList.head)
    e.foldable && (e.eval() == true)
  }

  /** Per-doc output cap for the exact threshold joins. The PLANS of both
    * self-joins are sub-quadratic, but their ANSWER is inherently
    * quadratic on duplicate-heavy corpora (one 10k-copy template alone is
    * 5·10⁷ pairs), so at 100 TB an uncapped pair report is the wrong ask.
    * `maxPairsPerDoc` keeps the strongest `cap` partners per left doc
    * (best score first, ties by partner id — deterministic). The default
    * (Int.MaxValue) byte-preserves the uncapped contract — the oracle
    * queries run uncapped. Full-corpus dedup at scale should go through
    * LSH + connectedComponents instead of pair reports.
    *
    * The cap rides the engine's heap-based
    * [[graft.plans.TopKPerGroupExec]] — O(n log k) per partition,
    * O(#docs × k) memory, and the only exchange is the hash partition on
    * the doc key. The previous formulation (`row_number` window) SORTED
    * the full pre-cap pair set — exactly the quadratic-ish intermediate
    * the cap exists to bound; SCALING.md measured q150 at 125× time for
    * 10× data under it. Drops stay observable two ways: paired
    * `observe` counts (`pairs_before_cap` on the input /
    * `pairs_after_cap` on the output, logged by [[ObservedLog]] —
    * dropped = before − after) and the exec node's own
    * `numDroppedRows` SQL metric in the Spark UI.
    *
    * Plan note: the cap blocks predicate pushdown — a caller's post-cap
    * filter on (id_a, id_b) (e.g. `id_a < id_b` orientation) can no
    * longer reach the candidate stage, where uncapped it would halve the
    * verify work. That is also semantically required: pairs filtered
    * AFTER the cap still count against each doc's budget. Put selection
    * predicates in `leftPred` (they push) and treat the cap as a per-doc
    * output budget over ALL partners. */
  /** Per-invocation suffix for observe() metric names: Spark rejects a
    * plan containing two CollectMetrics nodes with the same name (e.g.
    * two capped self-joins composed into one union), so every cap gets
    * a unique name — same convention as Dedup.metricSeq. */
  private val metricSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** `orderDesc` ranks best-first DESC (negate ascending measures at the
    * call site); `tieCol` breaks ties ASC and must be integral or string
    * (the TopKPerGroup contract). */
  private def capPerDoc(
      docCol: String, orderDesc: Column, tieCol: String, cap: Int,
      metric: String)(pairs: DataFrame): DataFrame =
    if (cap == Int.MaxValue) pairs
    else {
      require(cap >= 1, s"maxPairsPerDoc must be >= 1, got $cap")
      ObservedLog.ensure(pairs.sparkSession)
      val n = metricSeq.incrementAndGet()
      val pre = pairs
        .observe(s"$metric.$n.pre", count(lit(1)).as("pairs_before_cap"))
        .withColumn("__ord", orderDesc)
      graft.plans.TopKPerGroup
        .perKey(pre, Seq(docCol), "__ord", tieCol, cap)
        .drop("__ord")
        .observe(s"$metric.$n.post", count(lit(1)).as("pairs_after_cap"))
    }

  /** Rarity-ordered prefix tokens of each set: (id, set size, token) for
    * the first |s| - ceil(t·|s|) + 1 tokens under (df, token) order. */
  private def prefixes(
      side: DataFrame, id: String, set: String,
      tokenDf: DataFrame, threshold: Double,
      pinFanout: Boolean = true): DataFrame =
    orderedPrefixes(
      side.select(col(id), explode(col(set)).as("__t")).join(tokenDf, Seq("__t")),
      id, threshold, pinFanout)

  /** Prefix carve-out over rows (id, __t, __df) already annotated with
    * token frequency.
    *
    * FANOUT-POINT PARALLELISM PIN: the carve's groupBy exchange is a
    * repartition with an EXPLICIT count (REPARTITION_BY_NUM — the one
    * shuffle shape AQE's byte-based coalescing must not touch), because
    * everything downstream of the carve hangs off it with no further
    * exchange: the posexplode, the candidate equi-join probe (the other
    * side broadcasts), and its massive pair fan-out. Prefix rows are
    * tiny in BYTES but each feeds thousands of candidate pairs, so
    * letting AQE coalesce this exchange by size folds the entire
    * candidate generation into one task — measured 790 of 805 s in ONE
    * task at the 10× probe before the pin (a 1000-executor cluster
    * idles identically). The aggregate's required distribution is
    * satisfied by the pinned exchange, so this replaces — not adds to —
    * the ENSURE_REQUIREMENTS shuffle.
    *
    * `pinFanout = false` (the whole-corpus self-join arm) skips the pin
    * AND the two-phase split: a single ENSURE_REQUIREMENTS groupBy whose
    * partial_collect_list packs each mapper's rows per doc before the
    * one shuffle. That is the cheapest carve when nothing downstream
    * hangs off this exchange alone — see the gate note on
    * [[jaccardSelfJoin]]. */
  private def orderedPrefixes(
      annotated: DataFrame, id: String, threshold: Double,
      pinFanout: Boolean): DataFrame = {
    val numPart =
      annotated.sparkSession.sessionState.conf.numShufflePartitions
    // Two-phase aggregation so the PIN does not lose map-side combining:
    // a naive repartition(id)+groupBy ships every exploded token row raw
    // (measured 13× the records — and 13× the stage CPU — of the
    // ENSURE_REQUIREMENTS plan, whose partial_collect_list packs each
    // mapper's rows per doc into one buffer before the shuffle). Phase 1
    // groups by (id, input partition id): the partial aggregate is then
    // map-side COMPLETE — one compact list row per (mapper, doc) — and
    // its cheap ENSURE exchange ships only those. Phase 2 is the pinned
    // merge: flatten + sort over doc-count-bounded rows. The sort makes
    // the result independent of how phase 1 split each doc. The pinned
    // exchange feeds a groupBy that REQUIRES its distribution, which
    // also keeps AQE's local-shuffle-read from quietly replacing the
    // pinned partitioning with the mapper count.
    val carved =
      if (pinFanout)
        annotated
          .groupBy(col(id), spark_partition_id().as("__p"))
          .agg(collect_list(struct(col("__df").as("f"),
            col("__t").as("t"))).as("__pl"))
          .repartition(numPart, col(id))
          .groupBy(col(id))
          .agg(sort_array(flatten(collect_list(col("__pl")))).as("__o"))
      else
        annotated
          .groupBy(col(id))
          .agg(sort_array(collect_list(struct(col("__df").as("f"),
            col("__t").as("t")))).as("__o"))
    carved
      .select(col(id), size(col("__o")).as("__n"),
        posexplode(expr("transform(__o, s -> s.t)"))
          .as(Seq("__i", "__t")))
      .filter(col("__i") <
        col("__n") - ceil(lit(threshold) * col("__n") - 1e-9) + 1)
      .select(col(id), col("__n").as(s"__n_$id"),
        col("__i").as(s"__i_$id"), col("__t"))
  }

  /** PPJoin positional filter (Xiao, Wang, Lin & Yu, "Efficient
    * Similarity Joins for Near Duplicate Detection", WWW 2008) plus the
    * size-ratio filter, applied per matched prefix-token row: a match at
    * 0-based prefix positions (i_a, i_b) bounds the overlap by
    * 1 + min(n_a − i_a − 1, n_b − i_b − 1), and J ≥ t requires overlap
    * ≥ t/(1+t)·(n_a+n_b). EXACT: for a true pair the bound is valid at
    * its FIRST shared token (every shared token sits at or after that
    * position in both orders), so that row always survives — later
    * matched rows of the same pair may be pruned, which only thins
    * duplicate candidate rows before the distinct. ceil() subtracts
    * 1e-9 so double rounding can only weaken the filter, never drop a
    * true pair. */
  private def candidateFilter(threshold: Double): Column =
    (least(col("__n_id_a"), col("__n_id_b")) >=
      lit(threshold) * greatest(col("__n_id_a"), col("__n_id_b")) - 1e-9) &&
      (lit(1) + least(col("__n_id_a") - col("__i_id_a") - 1,
        col("__n_id_b") - col("__i_id_b") - 1) >=
        ceil(lit(threshold / (1.0 + threshold)) *
          (col("__n_id_a") + col("__n_id_b")) - 1e-9))

  /** Exact-Jaccard verify over candidate (id_a, id_b) pairs.
    *
    * Join order matters at scale: the LAST join keys on `id_a`, so the
    * verified pair set leaves here hash-partitioned by id_a — which
    * satisfies the per-doc cap's ClusteredDistribution(id_a)
    * ([[capPerDoc]]/TopKPerGroupExec) with NO additional exchange. The
    * reversed order (id_a first) would re-shuffle the entire pair set —
    * the largest intermediate in the plan — once more just to cap it. */
  /** Exact-Jaccard verify over candidate (id_a, id_b) pairs. The pair
    * set is SKINNY in bytes but each row costs an exact set
    * intersection, so callers hand in `candidates` already behind a
    * PINNED id_b hash exchange (their distinct rides the same one) —
    * the verify's r join is then co-partitioned at the session's
    * shuffle parallelism, immune to AQE's byte-based coalescing folding
    * it into one task. */
  private def verify(
      candidates: DataFrame, l: DataFrame, r: DataFrame,
      threshold: Double): DataFrame =
    candidates
      .join(r, Seq("id_b"))
      .join(l, Seq("id_a"))
      .withColumn("jaccard",
        // both sides are the sorted-distinct set frames built above —
        // the merge form is exact there (see jaccardSelfJoin's r)
        graft.functions.TextFunctions.jaccardSortedFast(
          col("__set_a"), col("__set_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
}
