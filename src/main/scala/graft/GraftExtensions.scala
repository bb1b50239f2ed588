package graft

import graft.functions.HashExpressions
import graft.functions.HashExpressions.{MinHashBandKeys, ShingleHashes, SimHash64}
import graft.functions.TextStatsExpression.TextStats
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** SQL surface for graft's custom expressions.
  *
  * New sessions: `GraftSession.builder().withExtensions(new
  * GraftExtensions)` or `spark.sql.extensions=graft.GraftExtensions`.
  * Existing sessions: `GraftExtensions.register(spark)`.
  *
  * {{{
  *   SELECT simhash64(tokens),
  *          minhash_band_keys(shingle_hashes(tokens, 5), 64, 4)
  *   FROM docs
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => graft.plans.JaccardRules.JaccardSizePrefilter)
    ext.injectPlannerStrategy(_ => graft.plans.BroadcastAsofJoin.AsofStrategy)
  }
}

object GraftExtensions {

  private def intArg(e: Expression, name: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(s"$name must be an integer literal, got $other")
  }

  /** Clear arity errors instead of IndexOutOfBounds from inside
    * function resolution.
    */
  private def arity(fn: String, children: Seq[Expression], n: Int): Unit =
    if (children.length != n)
      throw new IllegalArgumentException(
        s"$fn requires $n arguments, got ${children.length}")

  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (
      new FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      (children: Seq[Expression]) => { arity("simhash64", children, 1); SimHash64(children.head, 17L) }
    ),
    (
      new FunctionIdentifier("shingle_hashes"),
      new ExpressionInfo(classOf[ShingleHashes].getName, "shingle_hashes"),
      (children: Seq[Expression]) => { arity("shingle_hashes", children, 2); ShingleHashes(children.head, intArg(children(1), "n"), 13L) }
    ),
    (
      new FunctionIdentifier("minhash_band_keys"),
      new ExpressionInfo(classOf[MinHashBandKeys].getName, "minhash_band_keys"),
      (children: Seq[Expression]) => {
        arity("minhash_band_keys", children, 3)
        MinHashBandKeys(children.head, intArg(children(1), "numHashes"), intArg(children(2), "rowsPerBand"), 13L)
      }
    ),
    (
      new FunctionIdentifier("text_stats"),
      new ExpressionInfo(classOf[TextStats].getName, "text_stats"),
      (children: Seq[Expression]) => { arity("text_stats", children, 1); TextStats(children.head) }
    ),
    (
      new FunctionIdentifier("jaccard_sim"),
      new ExpressionInfo(classOf[graft.plans.JaccardRules.JaccardSim].getName, "jaccard_sim"),
      (children: Seq[Expression]) => { arity("jaccard_sim", children, 2); graft.plans.JaccardRules.JaccardSim(children.head, children(1)) }
    ),
    (
      new FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[HashExpressions.CosineSim].getName, "cosine_sim"),
      (children: Seq[Expression]) => { arity("cosine_sim", children, 2); HashExpressions.CosineSim(children.head, children(1)) }
    ),
    (
      new FunctionIdentifier("hyperplane_lsh"),
      new ExpressionInfo(classOf[HashExpressions.HyperplaneLsh].getName, "hyperplane_lsh"),
      (children: Seq[Expression]) => { arity("hyperplane_lsh", children, 2); HashExpressions.HyperplaneLsh(children.head, intArg(children(1), "nBits"), 7L) }
    ),
    (
      new FunctionIdentifier("vec_mean"),
      new ExpressionInfo(classOf[graft.functions.VectorAggregates.VecMean].getName, "vec_mean"),
      (children: Seq[Expression]) => { arity("vec_mean", children, 1); graft.functions.VectorAggregates.VecMean(children.head) }
    ),
    (
      new FunctionIdentifier("top_k"),
      new ExpressionInfo(classOf[graft.functions.TopKAggregate.TopK].getName, "top_k"),
      (children: Seq[Expression]) => {
        arity("top_k", children, 3)
        graft.functions.TopKAggregate.TopK(children.head, children(1), intArg(children(2), "k"))
      }
    ),
    (
      new FunctionIdentifier("heavy_hitters"),
      new ExpressionInfo(classOf[graft.functions.HeavyHittersAggregate.HeavyHitters].getName, "heavy_hitters"),
      (children: Seq[Expression]) => {
        arity("heavy_hitters", children, 3)
        graft.functions.HeavyHittersAggregate.HeavyHitters(
          children.head, intArg(children(1), "capacity"), intArg(children(2), "k"))
      }
    ),
    (
      new FunctionIdentifier("unicode_normalize"),
      new ExpressionInfo(classOf[graft.functions.CurationExpressions.UnicodeNormalize].getName, "unicode_normalize"),
      (children: Seq[Expression]) => {
        arity("unicode_normalize", children, 2)
        val form = children(1) match {
          case Literal(s: org.apache.spark.unsafe.types.UTF8String, _) => s.toString
          case other => throw new IllegalArgumentException(s"form must be a string literal, got $other")
        }
        graft.functions.CurationExpressions.UnicodeNormalize(children.head, form)
      }
    ),
    (
      new FunctionIdentifier("jaro_winkler_sim"),
      new ExpressionInfo(classOf[graft.functions.StringSimilarity.JaroWinklerSim].getName, "jaro_winkler_sim"),
      (children: Seq[Expression]) => {
        arity("jaro_winkler_sim", children, 2)
        graft.functions.StringSimilarity.JaroWinklerSim(children.head, children(1))
      }
    )
  )

  /** Register into an already-built session (temp functions). */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (id, _, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(id.funcName, builder, "scala_udf")
    }
}
