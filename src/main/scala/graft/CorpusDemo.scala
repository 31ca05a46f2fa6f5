package graft

import graft.pipeline.CorpusPipeline

/** Runnable end-to-end training-corpus curation on the test data —
  * the "switch to this library" demo: annotate → quality gate → exact
  * dedup → MinHash-LSH near-dedup → eval decontamination → split →
  * chunk → pack → epoch order, printing per-stage row counts and the
  * per-language report. Usage: `runMain graft.CorpusDemo [sfDir]`. */
object CorpusDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = GraftSession.start()

    // round-8-late gates ON, with open-but-real bounds: latin-dominant
    // docs only, no Luhn-valid cards/emails/IPs, compression band wide
    // enough for prose, LM perplexity ≤ 10x the corpus median under a
    // model fitted on the corpus itself
    val docsAll = spark.read.parquet(s"$sfDir/documents.parquet")
    val cfg = CorpusPipeline.Config(
      allowedScripts = Some(Set("latin")),
      maxPiiHits = Some(0L),
      minCompressionRatio = 0.05, maxCompressionRatio = 0.95,
      lmRef = Some(docsAll), lmPplxBand = (0.0, 500.0))
    val docs = docsAll
    val evalSet = docs.filter(org.apache.spark.sql.functions
      .col("doc_id") % 97 === 0) // stand-in benchmark corpus
    def stage(name: String, n: Long): Unit =
      println(f"[corpus] $name%-22s $n%8d rows")

    // cache the expensive intermediates: every stage count below would
    // otherwise re-run the whole upstream chain (the LSH pair join +
    // connected components several times over) — at scale the per-stage
    // counters would come from Quality.withCounters riding the single
    // final write instead of standalone counts
    stage("input", docs.count())
    val annotated = CorpusPipeline.annotate(docs, cfg)
    val gated = CorpusPipeline.qualityGate(annotated, cfg)
    stage("quality gate", gated.count())
    val model = graft.operators.LangModel.train(docs, cfg.textCol,
      cfg.lmVocabSize, cfg.idCol)
    val lmScores = graft.operators.LangModel.scoreDocs(gated, cfg.idCol,
      cfg.textCol, model, cfg.lmLambda)
      .select(org.apache.spark.sql.functions.col(cfg.idCol),
        org.apache.spark.sql.functions.col("pplx"))
    val lmGated = gated.join(lmScores, cfg.idCol)
      .filter(org.apache.spark.sql.functions.col("pplx")
        .between(cfg.lmPplxBand._1, cfg.lmPplxBand._2)).cache()
    stage("LM pplx band", lmGated.count())
    val exact = CorpusPipeline.exactDedup(lmGated, cfg)
    stage("exact dedup", exact.count())
    val near = CorpusPipeline.nearDedup(exact, cfg).cache()
    stage("near dedup (LSH)", near.count())
    val clean = CorpusPipeline.decontaminate(near, Some(evalSet), cfg)
      .cache()
    stage("decontaminated", clean.count())
    val curated = CorpusPipeline.split(clean, cfg)
    val batches = CorpusPipeline.toTrainingBatches(curated, cfg).cache()
    stage("packed chunks", batches.count())
    val epoch1 = CorpusPipeline.epochOrder(batches, epoch = 1, cfg)
    stage("epoch-1 ordered", epoch1.count())

    println("[corpus] per-language report:")
    CorpusPipeline.report(curated).show(truncate = false)

    // ---- evaluation gates (round-13 eval family) -------------------
    // pick the near-dup verify threshold from evidence, not folklore:
    // pair/doc counts per candidate threshold from ONE chain run
    println("[corpus] near-dup threshold tuning curve:")
    graft.operators.Dedup.thresholdSweep(docs, cfg.idCol, cfg.textCol,
      thresholds = Seq(0.7, 0.8, 0.9, 0.95)).show()
    // gate a labeler change: per-class report + the chance-corrected
    // scalars + partition-level agreement for the langid model vs the
    // gold language tags. Cached like the other expensive
    // intermediates: four operators (one of them eagerly counting)
    // would otherwise re-scan the corpus and re-run langId each
    val labeled = docs.select(
      org.apache.spark.sql.functions.col("lang"),
      graft.functions.TextFunctions.langId(
        org.apache.spark.sql.functions.col(cfg.textCol)).as("predicted"))
      .cache()
    println("[corpus] langid per-class report:")
    graft.operators.Metrics.classificationReport(labeled, "lang",
      "predicted").orderBy("label").show()
    println("[corpus] langid chance-corrected agreement:")
    graft.operators.Metrics.agreementStats(labeled, "lang", "predicted")
      .show()
    println("[corpus] langid partition agreement (pairs + information):")
    graft.operators.ClusterEval.agreement(labeled, "lang", "predicted")
      .show()
    graft.operators.ClusterEval.informationAgreement(labeled, "lang",
      "predicted").show()

    labeled.unpersist()
    batches.unpersist(); clean.unpersist(); near.unpersist()
    spark.stop()
  }
}
