package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graftshim.Shims

/** SQL registration for graft's custom Catalyst expressions, so
  * `spark.sql("SELECT cosine_similarity(a, b) ...")` works alongside the
  * Column API.
  *
  * Two entry points:
  *  - [[GraftExtensions]] for a session builder's `withExtensions(...)`
  *    (or `spark.sql.extensions=graft.functions.GraftExtensions`);
  *  - [[GraftFunctions.registerAll]] for an already-running session.
  */
object GraftFunctions {

  val all: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "cosine_similarity" -> (es => CosineSimilarity(es(0), es(1))),
    "euclidean_dist_sq" -> (es => EuclideanDistSq(es(0), es(1))),
    "simhash64" -> (es => SimHash64(es(0))),
    "rolling_hash" -> (es => RollingHash(es(0))),
    "normalize_unicode" -> (es => NormalizeUnicode(es(0), "NFC")),
    "jaccard_similarity" -> (es => JaccardSimilarity(es(0), es(1))),
    "char_entropy" -> (es => CharEntropy(es(0))),
    "positional_word_shingles" -> (es => PositionalWordShingles(es(0),
      es(1).eval().asInstanceOf[Number].intValue())),
    // aggregates: the analyzer wraps a returned AggregateFunction in an
    // AggregateExpression itself, same as the built-in registry entries
    "quantile_sketch_agg" -> (es => QuantileSketchAgg(es(0),
      es(1).eval().asInstanceOf[Number].intValue())),
    "quantile_sketch_union" -> (es => QuantileSketchUnion(es(0))),
    "sketch_quantiles" -> (es => SketchQuantiles(es(0), es(1))),
    // n / k arguments arrive as foldable int literals from SQL
    "word_shingles" -> (es => WordShingles(es(0),
      es(1).eval().asInstanceOf[Number].intValue())),
    // rank-ordered merge list as a foldable 'l r;l2 r2' literal
    "bpe_apply" -> (es => graft.operators.Bpe.applyMergesExpr(es(0),
      graft.operators.Bpe.parseMerges(es(1).eval().toString))),
    "compression_ratio" -> (es => CompressionRatio(es(0))),
    // hexChars arrives as a foldable int literal from SQL
    "md5_prefix64" -> (es => Md5Prefix64(es(0),
      es(1).eval().asInstanceOf[Number].intValue())))

  def registerAll(spark: SparkSession): Unit =
    all.foreach { case (name, builder) =>
      Shims.registerFunction(spark, name, builder)
    }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach { case (name, builder) =>
      e.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.functions", name),
        builder))
    }
    e.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
    e.injectOptimizerRule(_ => graft.plans.BoundedEditDistanceRule)
  }
}
