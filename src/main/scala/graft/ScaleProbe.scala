package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scaling probe: synthesizes a ~10× dataset from sf0.1 by unioning
  * key-shifted copies (join/group cardinalities scale with the data, so
  * the plans exercise real 10× work, not 10× duplicate hits), then times
  * representative queries at both scales.
  *
  * Purpose: evidence for the "would this hold at 1000×?" question — a
  * near-linear time ratio at 10× means the plan's shuffles/aggregations
  * scale with data, with no accidental quadratic or driver-bound step.
  * Usage: runMain graft.ScaleProbe [outDir]
  */
object ScaleProbe {

  private val copies = 10

  /** Join node class names in the EXECUTED (AQE-final) plan. String-
    * matching `executedPlan.toString` is wrong here: whenever AQE
    * changed the plan the string contains BOTH "Final Plan" and
    * "Initial Plan" sections, so a contains() check can report the
    * initial strategy exactly when the two differ. Walk the final tree
    * instead (the PlanMetrics traversal). */
  private def executedJoinKinds(df: DataFrame): String = {
    val kinds = PlanMetrics.executedNodes(df)
      .map(_.getClass.getSimpleName.stripSuffix("Exec")).filter(_.contains("Join"))
    if (kinds.isEmpty) "none" else kinds.distinct.sorted.mkString("+")
  }

  private def shiftCopies(df: DataFrame, shifts: Map[String, Long]): DataFrame =
    (0 until copies).map { i =>
      shifts.foldLeft(df) { case (d, (c, base)) =>
        d.withColumn(c, col(c) + lit(i * base))
      }
    }.reduce(_ unionByName _)

  def synthesize(spark: SparkSession, srcDir: String, outDir: String): Unit = {
    val li = spark.read.parquet(s"$srcDir/lineitem.parquet")
    val o = spark.read.parquet(s"$srcDir/orders.parquet")
    val c = spark.read.parquet(s"$srcDir/customer.parquet")
    val keyBase = 1000000000L
    shiftCopies(li, Map("l_orderkey" -> keyBase))
      .write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")
    shiftCopies(o, Map("o_orderkey" -> keyBase, "o_custkey" -> keyBase))
      .write.mode("overwrite").parquet(s"$outDir/orders.parquet")
    shiftCopies(c, Map("c_custkey" -> keyBase))
      .write.mode("overwrite").parquet(s"$outDir/customer.parquet")
    // documents: id-shifted copies — texts DUPLICATE, so 10× docs also
    // means 10-member exact-dup clusters per original (the dedup stress
    // shape: candidate pairs grow ~45× per cluster, bounded by LSH
    // bucketing + maxBucketSize)
    val docs = spark.read.parquet(s"$srcDir/documents.parquet")
    shiftCopies(docs, Map("doc_id" -> keyBase))
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    shiftCopies(spark.read.parquet(s"$srcDir/embeddings.parquet"),
      Map("vec_id" -> keyBase))
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
    // events: 10× users (user_id-shifted) — sessionization state and
    // window partitions scale with users, not rows-per-user
    shiftCopies(spark.read.parquet(s"$srcDir/events.parquet"),
      Map("event_id" -> keyBase, "user_id" -> keyBase))
      .write.mode("overwrite").parquet(s"$outDir/events.parquet")
    // dimensions stay as-is (they are dimensions)
    Seq("nation", "region", "supplier", "part").foreach { t =>
      spark.read.parquet(s"$srcDir/$t.parquet")
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }
  }

  /** Second decade: ~100× from the 10× synthesis, SELECTIVE — only the
    * tables the x100 spot probes (q117, q122) read. The shift base is
    * 10¹⁰ so the second round of copies cannot collide with the first's
    * `orig + i·10⁹` id space. Documents duplicate again, so each original
    * text now has a 100-member exact-dup cluster — the worst-case LSH
    * stress another decade out. */
  def synthesize100(spark: SparkSession, tenxDir: String, outDir: String): Unit = {
    val base100 = 10000000000L
    shiftCopies(spark.read.parquet(s"$tenxDir/documents.parquet"),
      Map("doc_id" -> base100))
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    shiftCopies(spark.read.parquet(s"$tenxDir/customer.parquet"),
      Map("c_custkey" -> base100))
      .write.mode("overwrite").parquet(s"$outDir/customer.parquet")
    shiftCopies(spark.read.parquet(s"$tenxDir/orders.parquet"),
      Map("o_orderkey" -> base100, "o_custkey" -> base100))
      .write.mode("overwrite").parquet(s"$outDir/orders.parquet")
    // q122 joins lineitem⋈orders for its edge list (suppliers stay a
    // dimension: unshifted, like nation/region)
    shiftCopies(spark.read.parquet(s"$tenxDir/lineitem.parquet"),
      Map("l_orderkey" -> base100))
      .write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")
    Seq("nation", "region").foreach { t =>
      spark.read.parquet(s"$tenxDir/$t.parquet")
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }
    // completion marker: written LAST, so a mid-synthesis crash (partial
    // table dirs on disk) re-synthesizes on the next run instead of
    // silently probing against corrupt data
    java.nio.file.Files.write(
      java.nio.file.Paths.get(outDir, "_GRAFT_COMPLETE"),
      Array.emptyByteArray)
    ()
  }

  private val probes = Seq(
    "q01_pricing_summary", "q03_join_agg_nations", "q04_join_priority",
    "q07_window_top1", "q22_star_join",
    "q31_quality_score", "q35_minhash_neardup", "q38_cosine_topk",
    "q36_jaccard_pairs", "q66_sessionize", "q67_chunking",
    // q77/q84 are excluded: their doc_id/user_id <= k demo filters keep
    // input constant under the id-shifted 10x synthesis (no real work
    // growth to measure); their window/join shapes are covered by
    // q07/q19/q82 anyway.
    "q74_grouping_sets", "q81_winsorize",
    "q82_asof_forward", "q83_vocab_coverage",
    "q88_funnel", "q89_retention",
    // round 6 (q106 excluded: its user_id<30 demo filter keeps input
    // constant under the id-shifted synthesis, like q77/q84)
    "q108_collocations", "q109_leakage_split", "q111_skipgrams",
    "q112_adaptive_quality", "q113_domain_cap",
    // round 6: OPH sketch chain, state merge, Lloyd step (10x vectors),
    // AUC (10x events), exact prefix join (output grows like q36 — its
    // contract is every qualifying pair), PageRank (10x customers)
    "q117_oph_neardup", "q118_incremental_rollup", "q119_kmeans_step",
    "q120_auc", "q121_prefix_join", "q122_pagerank", "q126_sketch_rollup",
    // round 8: substring-dedup postings (10x docs, duplicated texts make
    // EVERY gram hot — worst-case posting/hot-join growth), the map-only
    // classifier pass (represents q132/q134's shape too), and the
    // quantile rollup (10x pushes priority groups past sketch capacity,
    // so compaction is IN the measured path)
    "q130_repeated_spans", "q131_classifier_score", "q133_quantile_rollup",
    // round 14: the incremental-spans twin (same k-gram posting family
    // as q130 — the engine's largest per-row shuffle multiplier — kept
    // in the main table so its x100 row has same-run 10x legs)
    "q135_incremental_spans",
    // round 8 late additions: BM25 (hit-filtered explode + broadcast
    // idf), BPE learn (vocab-sized iterations), BPE encode (map-only
    // codegen chain), line-level boilerplate removal (3 line-shuffles)
    "q136_bm25", "q137_bpe_learn", "q138_bpe_encode", "q139_line_dedup",
    "q140_script_detect", "q141_pii_scan", "q142_lm_score",
    "q143_span_excise", "q144_interval_join", "q145_bpe_pipeline",
    // round 8 close: PSI drift (events 10x, bin frame constant) and the
    // cross-set LSH decontamination chain (duplicated texts make true
    // cross pairs grow ~1000x like q35/q57 — the LSH-bounded shape)
    "q146_psi_drift", "q147_cross_decontam",
    // round 10: the r9 additions (q148-q156) + the two ANN rows the
    // verdict flagged as missing (q128/q129) + the portable banded
    // SimHash arm (q37; dup clusters make its hamming-0 pairs grow
    // quadratically per cluster like q35's, bounded by band buckets)
    "q128_ann_ivfpq", "q129_semantic_dedup", "q37_simhash_neardup",
    // round 13: the one-scan sign-LSH chain (q41; dup embeddings make
    // within-bucket true pairs grow quadratically per bucket, bounded
    // by the new maxBucketSize guardrail) and the keep-one dedup's
    // argmin-aggregate shape (q158; the 10× synthesis's 10-member
    // exact-dup clusters are its group-size stress)
    "q41_embedding_neardup", "q158_keep_one_dedup",
    // round 13 late: ranked-retrieval eval (q159; 10x orders grow both
    // the per-customer heap cut's input and the judgment aggregates —
    // the k-bounded rank windows and grade join must stay k*|Q|-sized)
    // and the one-scan dup-ngram profile (q95; the dup-cluster
    // synthesis makes every gram appear in >=10 docs — the pair-fold
    // and join-back worst case)
    "q159_ranking_eval", "q95_dup_ngrams",
    // paired ranker t-test (q160: two full eval passes + a 1-row
    // exact-decimal stats aggregate — must stay 2x q159's shape)
    "q160_ranker_ttest",
    // round 13 post-close: clustering agreement (q161; the item-sized
    // contingency shuffle is the only thing that should grow — the
    // metric aggregates stay contingency-bounded) and hard-negative
    // mining (q162; 10x orders grow the anti-join probe side and the
    // heap cut's input, the positive build side stays judgment-bounded)
    "q161_cluster_agreement", "q162_hard_negatives",
    // info-theoretic twin of q161 (three entropy legs over the one
    // contingency exchange), the per-class labeler report (same
    // contingency + label-sized joins), and the kappa/MCC scalar gates
    // (contingency + union re-aggregate)
    "q163_info_agreement", "q164_classification_report",
    "q165_agreement_stats",
    // ANN recall gate (q166: two bounded-heap corpus passes — exact +
    // probed — over 10x vectors; everything after the cuts is
    // k*|Q|-bounded)
    "q166_ann_recall",
    // threshold sweep (q167: the q57 chain + a |T|-explode of the
    // candidate-bounded pair frame — dup clusters at 10x grow true
    // pairs quadratically per cluster like q35/q57)
    "q167_threshold_sweep",
    // B-cubed (q168: contingency + two cell-row windows — the q161
    // shape with window marginals)
    "q168_bcubed",
    // PR-AUC (q170: q120's sharded-prefix shape, cumulative-from-top)
    "q170_average_precision",
    "q148_psi_series", "q149_quantile_norm", "q150_capped_jaccard",
    "q151_capped_editdist", "q152_gopher_rules", "q153_c4_clean",
    "q154_zipf_fit", "q155_tokenizer_fertility", "q156_dup_rate_by_source",
    // round 14: the end-to-end curation composite (q172: one q57-class
    // chain + |T|-sweep + anti-join dedup + fold report — its pair
    // frame grows quadratically per dup cluster like q167, everything
    // downstream is corpus-linear)
    "q172_curation_pipeline",
    // round 14: the multi-rater agreement pair (contingency over 10x
    // orders — the per-item aggregate is the only data-sized step),
    // the max_len sweep (map-only explode over a bounded grid), and
    // per-source lexical divergence (two corpus token aggregates, then
    // support-bounded)
    "q173_packing_sweep", "q174_source_divergence",
    "q175_fleiss_kappa", "q176_krippendorff_alpha",
    // frozen-reference divergence: one fixed-width-state aggregate pass
    // — the shuffled partial is (K+1) longs per (mapper, source)
    // whatever the token rate
    "q177_reference_divergence",
    // the datasheet composite: ~5 corpus passes, everything downstream
    // source-sized — the 10x ratio should read like its pieces' sum
    "q178_corpus_datasheet",
    // round 15: DSIR selection (two gram aggregates onto the B-bounded
    // bucket frame + one broadcast-scored per-doc sum — the 10x ratio
    // should track the gram explode) and the waterfill (a bounded-frame
    // solve after one token aggregate — should be scan-bound, ~flat)
    "q179_dsir_weights", "q180_budget_waterfill",
    // round 15b: the mixture LEARN step (one corpus aggregate → bounded
    // update math — should be scan-bound, ~flat) and the plan EXECUTION
    // composite (3 corpus passes + one source-partitioned sort — the
    // 10x ratio should track the cut's sort)
    "q181_doremi_reweight", "q182_mixture_materialize",
    // the resample step: q179's scorer + map-only gumbel keys + one
    // k-bounded TakeOrdered — should track q179's ratio exactly
    "q183_gumbel_topk",
    // round 15c: the privacy audit (one map-combined QI groupBy +
    // distinct expand — should be scan-bound) and Neyman (one 3-long
    // aggregate + |strata| math — ~flat)
    "q184_k_anonymity", "q185_neyman_allocation",
    // the directed containment join: slice prefix × FLAT corpus
    // postings — candidates track the slice's true-partner volume
    // (the dup-cluster synthesis multiplies it ~100×, like q36)
    "q186_containment_join",
    // curriculum: value-level CDF broadcast + ONE within-tier rank
    // window (the schedule's inherent sort) — should track the sort
    "q187_curriculum_order",
    // concentration: two map-combined aggregates + value-frame windows
    "q188_concentration",
    // round 15c batch 2: the cross-source dup matrix (two map-combined
    // shuffles, pair fan-out |sources|²-bounded per distinct text),
    // the suppress-to-k release (group sizes semi-joined back), and the
    // capped-distinct gate (≤ l longs of state per group, no expand)
    "q189_cross_source_dups", "q190_suppress_to_k",
    "q191_anonymity_gate",
    // q192_entity_resolution is EXCLUDED like q77/q84: it reads `part`,
    // which the synthesis copies as-is (a dimension), so its "10×" leg
    // measures constant input. Its match chain's scaling is q121/q36's
    // (measured); its CC tail is the q122 class (measured).
    // temperature mixture: one token aggregate + |sources| math (~flat)
    // and the dup spectrum: two map-combined shuffles (~flat)
    "q193_temperature_mixture", "q194_dup_spectrum",
    // release summary: two nested map-combined aggregates, one row out
    "q195_suppression_summary")

  /** Re-stage every sf table as an N-file parquet dir. The driver's sf
    * fixtures are single-file/single-row-group, so scan-rooted stages
    * run on ONE mapper locally and the small side of every probe ratio
    * under-reports scan parallelism (SCALING.md's long-standing
    * footnote). A cluster's inputs split naturally; `multifile` makes
    * the local probe match that. round_robin repartition (not
    * coalesce): equal-size files regardless of source row groups. */
  def stageMultiFile(
      spark: SparkSession, srcDir: String, outDir: String,
      files: Int): Unit = {
    val done = new java.io.File(s"$outDir/_GRAFT_COMPLETE")
    if (done.exists()) return
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      spark.read.parquet(s"$srcDir/$t.parquet")
        .repartition(files)
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }
    java.nio.file.Files.write(done.toPath, Array.emptyByteArray)
    ()
  }

  def main(args: Array[String]): Unit = {
    // "multifile" re-stages sf0.1 as 8-file tables and probes from the
    // staged copy — the small side of each ratio then scans in parallel
    // like a cluster's split files (see stageMultiFile)
    val multiFile = args.contains("multifile")
    val src0 = "/root/testdata/sf0.1"
    // outDir must be an ABSOLUTE path — the structural rule, replacing
    // a growing denylist of flag names that twice let a new option arg
    // be mistaken for the positional outDir (a run synthesized ~150 MB
    // of 10x data into a RELATIVE dir literally named "warmmain"
    // inside the repo checkout; "only=q150" was the first recurrence)
    val out = args.find(_.startsWith("/"))
      .getOrElse("/tmp/graft_sf1synth")
    val spark = GraftSession.start()
    // the 10× synthesis always derives from the original fixtures (same
    // rows either way; keeps the synth dir independent of staging)
    if (!new java.io.File(s"$out/lineitem.parquet").exists())
      synthesize(spark, src0, out)
    val src =
      if (multiFile) {
        val staged = "/tmp/graft_sf01_x8"
        stageMultiFile(spark, src0, staged, files = 8)
        staged
      } else src0
    // warm up
    spark.read.parquet(s"$src/lineitem.parquet")
      .groupBy("l_returnflag").count().collect()

    def time(dir: String, name: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, dir).count()
      (System.nanoTime() - t0) / 1e9
    }
    // one x100 receipt line: wall from before construction (eager
    // operators work there) through the executed plan's shuffle summary
    def x100(label: String, extra: DataFrame => String = _ => "")(
        build: => DataFrame): Unit = {
      val t0 = System.nanoTime()
      val df = build
      val m = PlanMetrics.shuffleSummary(df)
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"x100,$label,$sec%.2f s,${m.shuffleRecords} shuffled rows," +
        f"${m.shuffleBytes / 1024 / 1024} shuffled MiB" + extra(df))
    }
    // "caponly" arg skips the main table (re-measure just the q36 cap);
    // "only=<substr>[,<substr>...]" restricts the main table for fast
    // iteration (a probe runs if it contains ANY listed substring);
    // "x100only=" does the same for the x100 block — one shared parser
    def substrFilter(prefix: String): String => Boolean =
      args.find(_.startsWith(prefix)) match {
        case Some(a) =>
          val terms = a.stripPrefix(prefix).split(",").toSeq
          name => terms.exists(name.contains)
        case None => _ => true
      }
    val onlyFilter = substrFilter("only=")
    if (!args.contains("caponly")) {
      // "warmmain": run the whole main table TWICE in this JVM and
      // print the SECOND sweep — the head-of-table probes otherwise
      // absorb the fresh JVM's Janino + JIT cold-start (round 14's
      // TailProbe receipts: first executions run 4-10x their warm
      // time), which reads as fake super-linear ratios on whichever
      // queries happen to run first. Same warm-only discipline the
      // bench spread_flag adopted.
      val selected = probes.filter(onlyFilter)
      if (args.contains("warmmain"))
        selected.foreach { name => time(src, name); time(out, name) }
      val rows = selected.map { name =>
        val small = time(src, name)
        val big = time(out, name)
        (name, small, big, big / small)
      }
      println("query,sf0.1_sec,sf1synth_sec,ratio_at_10x_data")
      rows.foreach { case (n, s, b, r) =>
        println(f"$n,$s%.2f,$b%.2f,$r%.1f")
      }
    }
    // round 8: q36's 1%-slice left side, capped vs uncapped at the
    // OPERATOR level (no external orientation filter on either arm —
    // post-cap filters are a different contract AND cannot push through
    // the cap window; see Fuzzy.capPerDoc's plan note). The uncapped
    // contract (every qualifying pair) has quadratic OUTPUT on the
    // dup-heavy 10x synthesis; maxPairsPerDoc bounds what downstream
    // stages receive. The cap bounds the ANSWER, not the candidate
    // search, so the time stays ~the uncapped time; full-corpus dedup at
    // scale goes through LSH + components instead. Dropped counts are
    // printed here and logged per-action by ObservedLog via the
    // operator's observe metric.
    def q36Shape(dir: String, cap: Int): (Double, Long) = {
      val sets = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          graft.functions.TextFunctions.shinglesFast(col("text"), 1).as("st"))
      val j = graft.operators.Fuzzy.jaccardSelfJoin(sets, "doc_id", "st",
        0.3, col("doc_id") % 100 === 0, maxPairsPerDoc = cap)
      val t0 = System.nanoTime()
      val n = j.count()
      ((System.nanoTime() - t0) / 1e9, n)
    }
    // the q36 cap re-measure is expensive (~10 min at 10×): skip it
    // when an only= filter asked for a targeted main-table run
    if (!args.exists(_.startsWith("only="))) {
      val (tCapS, nCapS) = q36Shape(src, 16)
      val (tUncS, nUncS) = q36Shape(src, Int.MaxValue)
      val (tCapB, nCapB) = q36Shape(out, 16)
      val (tUncB, nUncB) = q36Shape(out, Int.MaxValue)
      println(f"q36_cap16: time $tCapS%.2f->$tCapB%.2f s, " +
        f"rows $nCapS->$nCapB (dropped ${nUncS - nCapS}->${nUncB - nCapB}); " +
        f"uncapped time $tUncS%.2f->$tUncB%.2f s, rows $nUncS->$nUncB")
    }
    // round 10 (one decade further): `x100` times q117 (OPH LSH chain)
    // and q122 (PageRank) at ~100× sf0.1 with measured shuffle volume —
    // the "does the 10× curve hold another decade?" spot check. Output
    // rows for q117 grow ~100× (100-member dup clusters ⇒ ~4950
    // pairs/cluster); the claim under test is that TIME tracks output +
    // input, never candidate-pair quadratics outside the clusters.
    if (args.contains("x100")) {
      val out100 = out + "_x100"
      // the marker is written LAST by synthesize100, so partial output
      // from a crashed run (or a pre-marker layout) re-synthesizes
      if (!new java.io.File(s"$out100/_GRAFT_COMPLETE").exists())
        synthesize100(spark, out, out100)
      // round 13 post-close: q162 (the eval family's only corpus-
      // carrying chain — 100x orders through the anti-join + heap cut)
      // and q167 (the q57 chain + sweep under 100-member dup clusters,
      // ~4950 true pairs each — candidate growth must stay in-cluster)
      // round 14: the two biggest remaining shuffle chains (VERDICT r13
      // ask #4) — q130/q135 (positional k-gram postings: the gram
      // fan-out is the engine's largest per-row shuffle multiplier, and
      // 100-member dup clusters make EVERY gram's posting list hot) and
      // q121 (whole-corpus prefix join, unpinned arm: output is its
      // contract — every qualifying pair, ~4950 per 100-member cluster;
      // the claim under test is time ∝ input + output, with candidate
      // growth confined to clusters by the prefix filter)
      Seq("q117_oph_neardup", "q122_pagerank", "q162_hard_negatives",
          "q167_threshold_sweep", "q121_prefix_join", "q130_repeated_spans",
          "q135_incremental_spans",
          // round 14 close: the multi-rater contingency family's only
          // data-sized step is the (item, category) count over 100x
          // lineitem — the claim under test is that everything after it
          // stays contingency-bounded
          "q175_fleiss_kappa", "q176_krippendorff_alpha",
          // round 15 (VERDICT r14 #3): the two new composites and the
          // fixed-width divergence aggregate. q172 — the LSH chain +
          // TWO corpus re-derivations through a broadcast anti-join
          // whose loser set grows with true-dup volume (100-member
          // clusters ⇒ ~99 losers each); the claim under test is that
          // the anti-join side stays broadcastable-or-demotes-gracefully
          // and the pair frame's quadratic stays in-cluster. q178 —
          // ~5 documented corpus passes; the claim is the PASS COUNT
          // stays the cost (each pass linear, nothing new data-sized).
          // q177 — the (K+1)-slot fixed-width aggregate state is the
          // scale claim: shuffled bytes must stay (mappers × sources ×
          // K)-bounded whatever the token rate.
          "q172_curation_pipeline", "q177_reference_divergence",
          "q178_corpus_datasheet",
          // round 15b: the mixture tier one decade further. q179 — the
          // gram explode is the scorer's only data-sized stage; the
          // claim is two map-combined aggregates onto the B-bounded
          // bucket frame + one broadcast-scored doc pass, nothing
          // quadratic in the 100-member dup clusters. q182 — the
          // composite's source-partitioned sort under the greedy cut
          // is its only corpus-wide shuffle; the claim is the sort's
          // input is the DOC frame (never pairs) and the waterfill/
          // report stay |sources|-bounded.
          "q179_dsir_weights", "q182_mixture_materialize",
          // round 15c: the privacy audit at 100× customers (one
          // map-combined QI groupBy + same-key distinct expand — the
          // claim is shuffled volume stays |QI groups| × mappers
          // whatever the row count) and the cross-source dup matrix at
          // 100× documents with 100-member exact-dup clusters (the
          // claim: pair fan-out stays |sources|²-bounded per DISTINCT
          // text — clusters make texts hot, never wider)
          "q184_k_anonymity", "q189_cross_source_dups")
          // q186_containment_join is deliberately NOT probed at 100×:
          // the dup-cluster synthesis grows its exact answer ~100× per
          // decade (measured at 10×: 140k → 14.0M pairs for 7.1× wall
          // — linear per emitted pair), so the 100× answer is ~1.4B
          // pairs whose verify/distinct shuffle alone exceeds this
          // box's ~79 GiB spill ceiling (the q121 class, which already
          // documents this decade with 663M rows under zstd). The
          // uncapped exact contract makes the ANSWER the cost; the
          // 100 TB form is the capped arm (maxPairsPerDoc — the
          // q150/q151 family) plus leftPred slicing. SCALING.md carries
          // the analysis.
        .filter(substrFilter("x100only="))
        .foreach { name =>
        // t0 BEFORE df construction: q122's iterations execute eagerly
        // inside Graph.pagerank (cache + per-iteration checkpoint), so
        // construction IS the work; its shuffle summary reads ~0 (the
        // checkpoint-scan audit artifact documented in PLANS.md).
        x100(name)(SparkEntry.queries(name)(spark, out100))
      }
      // Round 16 (VERDICT r15 ask #2): third-decade receipts for the two
      // round-15 operators whose data-sized exchange hadn't been probed
      // past 10× — parameterized shapes, so they run here rather than
      // through SparkEntry.queries.
      //
      // q187-shape: curriculumSchedule's data-sized exchange is the
      // within-tier rank window. This probe FOUND the round-16 serial
      // tail (pre-rework: the mega-tie tier ranked ~50M rows on ONE
      // task, 141.6 s) and now guards the salted two-phase rank that
      // fixed it — the claim under test today: a ~82 %-tie tier ranks
      // on (tier, salt) partitions with wall close to the balanced arm
      // and input-linear shuffled volume, never a single-task sort.
      // the parameterized round-16 arms are OPT-IN (explicit x100only=
      // naming): they add several minutes of 60M-row window work and
      // would otherwise silently change the duration/load profile of
      // the historical plain-`x100` sweep every prior round's numbers
      // came from
      val x100Sel = substrFilter("x100only=")
      val explicitX100 = args.exists(_.startsWith("x100only="))
      if (explicitX100 && x100Sel("q187_skewtier")) {
        // two arms: BALANCED (raw l_quantity, 50 uniform values → 10
        // equal tiers of ~6M rows) vs SKEWED (least(quantity, 10) ties
        // ~82 % of rows at one value → one tier ≈ 50M rows). The delta
        // isolates what tie skew still costs post-rework.
        Seq(("balanced", col("l_quantity").cast("int")),
            ("skewtier", least(col("l_quantity"), lit(10)).cast("int")))
          .foreach { case (label, difficulty) =>
          val li = spark.read.parquet(s"$out100/lineitem.parquet")
            .select(col("l_orderkey"), col("l_linenumber"),
              difficulty.as("__difficulty"))
            .withColumn("__row_id",
              col("l_orderkey") * 10 + col("l_linenumber"))
          x100(s"q187_${label}_curriculum")(graft.operators.Selection
            .curriculumSchedule(li, "__row_id", "__difficulty",
              nBuckets = 10, seed = "r16"))
        }
      }
      // q190-shape: suppressToK's semi-join back on the QI key, at a QI
      // cardinality where the kept-groups side CANNOT broadcast. The
      // id-shifted synthesis COPIES attribute values (a customer-QI
      // probe measured broadcast anyway: distinct cells stay sf0.1-
      // sized however many copies exist), so the high-cardinality QI
      // must ride a shifted ID column: QI = (l_orderkey, l_returnflag)
      // over 100× lineitem is ~10⁷ distinct cells whose ≥k survivors
      // are far past any broadcast threshold. The claim under test:
      // graceful demotion to a shuffled join (no broadcast OOM, no
      // plan-size blowup), shuffle volume ∝ rows + kept groups. The
      // executed join strategy is printed as the receipt.
      // q182-shape: the greedy token-budget cut on a HOT-SOURCE corpus
      // (100× lineitem, source = l_returnflag: 3 sources, one ~50 % of
      // 60M rows — the shape the documents fixture's 20 balanced
      // sources can't show). This receipt SETTLED the round-16
      // salted-cut question: two two-phase variants measured slower
      // than this general single-window form (79.4 s double-hash /
      // 76.8 s reuse-defeated vs 68–70 s), so the general form stays.
      if (explicitX100 && x100Sel("q182_hotcut")) {
        val li = spark.read.parquet(s"$out100/lineitem.parquet")
          .select(col("l_returnflag").as("source"),
            (col("l_orderkey") * 10 + col("l_linenumber")).as("id"),
            col("l_quantity").cast("long").as("tok"))
        import spark.implicits._
        val budgets = Seq(("A", 1.0e8), ("N", 1.0e8), ("R", 1.0e8))
          .toDF("source", "budget")
        x100("q182_hotcut_general")(graft.operators.Mixing
          .selectWithinTokenBudgets(li, "source", "tok", budgets,
            "budget", Seq(graft.functions.PortableHash.md5Prefix(
              col("id").cast("string"), 15), col("id"))))
      }
      // Round 17 (VERDICT r16 ask #5): balanceClasses' big-minN WINDOW
      // arm — the last q187-class serial-rank site holding only a
      // measure-first comment, no receipt of its own. Trigger shape:
      // minN past the heap bound (2²⁰) AND one label holding a
      // task-breaking row count. 100× lineitem with
      // label = l_returnflag is exactly it: minN ≈ 15M ≫ 2²⁰ selects
      // the window arm, and the hot label ('N', ~50 % of 60M rows)
      // ranks ~30M rows on ONE window task in the unsalted form. The
      // key (l_orderkey·10 + l_linenumber) is unique per row — the
      // operator's keyCol contract.
      if (explicitX100 && x100Sel("qbalance_skewlabel")) {
        val li = spark.read.parquet(s"$out100/lineitem.parquet")
          .select((col("l_orderkey") * 10 + col("l_linenumber")).as("id"),
            col("l_returnflag").as("label"), col("l_quantity"))
        x100("qbalance_skewlabel")(
          graft.operators.Sampling.balanceClasses(li, "id", "label"))
      }
      // Round 17 follow-through: quantileNormalize's CUR-side
      // per-source rank — the remaining q187-class window with only a
      // measure-first comment (the maxRefRows guard bounds the REF
      // side; the crawl side ranks per source). Same trigger shape as
      // qbalance: 100× lineitem, source = l_returnflag (hot source
      // ~50 % of 60M rows), continuous score = l_extendedprice, ref =
      // an sf0.1-sized curated slice (the operator's contract).
      if (explicitX100 && x100Sel("qnorm_hotsrc")) {
        val li = spark.read.parquet(s"$out100/lineitem.parquet")
          .select((col("l_orderkey") * 10 + col("l_linenumber")).as("id"),
            col("l_returnflag").as("source"),
            col("l_extendedprice").cast("double").as("score"))
        val ref = spark.read.parquet(s"$out/lineitem.parquet")
          .limit(500000)
          .select((col("l_orderkey") * 10 + col("l_linenumber")).as("id"),
            col("l_extendedprice").cast("double").as("score"))
        x100("qnorm_hotsrc")(graft.operators.Normalize.quantileNormalize(
          li, ref, "id", "score", "source", k = 10))
      }
      if (explicitX100 && x100Sel("q190_semijoin")) {
        val li = spark.read.parquet(s"$out100/lineitem.parquet")
          .select(col("l_orderkey"), col("l_returnflag"),
            col("l_quantity"))
        x100("q190_semijoin_highcard", df => s",join=${executedJoinKinds(df)}")(
          graft.operators.Privacy.suppressToK(
            li, Seq("l_orderkey", "l_returnflag"), k = 3))
      }
    }
    spark.stop()
  }
}
