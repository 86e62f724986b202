package graft

import graft.functions.{CosineSimilarity, DotProduct, InterleaveBits, JaroWinkler, Md5GramHashes, NormalizeText, PosWordGrams, RollingHashGrams, SimHash32, SquaredL2, WindowMin, WordGramHashes}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session extension entry point for deployments: makes the engine's
  * custom expressions, optimizer rules and band-join strategy available
  * via `--conf spark.sql.extensions=graft.GraftExtensions`.
  *
  * Sessions built by [[GraftSession]] get the same function table but
  * not the rules: the engine's queries install a rule for one query
  * with [[GraftSession.scoped]], and its specs compare results with and
  * without each rule.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.injectFunctions(e)
    // custom whole-operator path: band join logical node → physical plan
    e.injectPlannerStrategy(_ => graft.plans.BandJoin.BandJoinStrategy)
    // thresholded levenshtein comparisons → bounded banded DP
    e.injectOptimizerRule(_ => graft.plans.BoundedLevenshteinRule)
    // No-op until views are registered via SummaryRewriteRule.register.
    e.injectOptimizerRule(_ => graft.plans.SummaryRewriteRule)
    // date_format(ts, ...) comparisons → pushable timestamp ranges
    e.injectOptimizerRule(_ => graft.plans.SargableDateRule)
    // No-op until constraints are declared via ConstraintRules.declare*.
    e.injectOptimizerRule(_ => graft.plans.ConstraintRules)
  }
}

object GraftExtensions {

  private def int(e: Expression): Int = e.eval().asInstanceOf[Number].intValue()

  /** The engine's SQL functions: one (name, builder) row each. Literal
    * arguments (gram sizes, seeds, the fold flag) are evaluated once at
    * analysis time.
    */
  val functions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "cosine_sim" -> (a => CosineSimilarity(a(0), a(1))),
    "dot_product" -> (a => DotProduct(a(0), a(1))),
    "squared_l2" -> (a => SquaredL2(a(0), a(1))),
    "jaro_winkler" -> (a => JaroWinkler(a(0), a(1))),
    "z_interleave" -> (a => InterleaveBits(a(0), a(1))),
    "normalize_text" -> (a => NormalizeText(a(0), a(1).eval().asInstanceOf[Boolean])),
    "rolling_hash_grams" -> (a => RollingHashGrams(a(0), int(a(1)))),
    "word_gram_hashes" -> (a => WordGramHashes(a(0), int(a(1)))),
    "md5_gram_hashes" -> (a => Md5GramHashes(a(0), int(a(1)))),
    "pos_word_grams" -> (a => PosWordGrams(a(0), int(a(1)))),
    "window_min" -> (a => WindowMin(a(0), int(a(1)))),
    "simhash32" -> (a => SimHash32(a(0), 0)),
    "simhash32s" -> (a => SimHash32(a(0), int(a(1)))))

  def injectFunctions(e: SparkSessionExtensions): Unit =
    functions.foreach { case (name, builder) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name), builder))
    }
}
