package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{BigramStatsF, DotProductF, FloorLog2F, Hash60F, RollingFpF, SimHashF, ZValueF}

/** SparkSessionExtensions entry point: registers the engine's native
  * expressions as SQL functions. Activate with
  * `spark.sql.extensions=graft.GraftExtensions` (or call
  * [[GraftExtensions.register]] on an existing session).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.injections.foreach(ext.injectFunction)
    // rewrite the portable HOF dot-product fold to the native kernel
    ext.injectOptimizerRule(_ => graft.plans.DotRewriteRule)
    // length-guard + banded-DP rewrite for levenshtein(a,b) <= k
    ext.injectOptimizerRule(_ => graft.plans.LevenshteinGuardRule)
    // plan the as-of whole-operator node (AsofJoin.merge) + prune
    // columns through it (ColumnPruning skips foreign nodes)
    ext.injectPlannerStrategy(_ => graft.plans.AsofMergeJoin.Strategy)
    ext.injectOptimizerRule(_ => graft.plans.AsofMergeJoin.PruneRule)
  }
}

object GraftExtensions {

  // the implementing class is per-function metadata (DESCRIBE FUNCTION
  // EXTENDED reports it); a shared hardcoded class would misdirect
  // anyone debugging the other five registered functions
  private def info(cls: Class[_], name: String, usage: String) =
    new ExpressionInfo(cls.getName, null, name, usage,
      "", "", "", "", "", "", "scala_udf")

  val injections: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("graft_dot"),
      info(classOf[DotProductF], "graft_dot",
        "graft_dot(a, b) - double-precision dot product of two float arrays"),
      (args: Seq[Expression]) => DotProductF(args(0), args(1))),
    (FunctionIdentifier("graft_hash60"),
      info(classOf[Hash60F], "graft_hash60",
        "graft_hash60(s) - 60-bit md5-prefix hash mod 2^31-1"),
      (args: Seq[Expression]) => Hash60F(args(0))),
    (FunctionIdentifier("graft_simhash"),
      info(classOf[SimHashF], "graft_simhash",
        "graft_simhash(xs) - 16-bit simhash sketch of a hashed-token array"),
      (args: Seq[Expression]) => SimHashF(args(0), 16)),
    (FunctionIdentifier("graft_rolling_fp"),
      info(classOf[RollingFpF], "graft_rolling_fp",
        "graft_rolling_fp(xs) - rolling polynomial fingerprint mod 2^31-1"),
      (args: Seq[Expression]) => RollingFpF(args(0))),
    (FunctionIdentifier("graft_zvalue"),
      info(classOf[ZValueF], "graft_zvalue",
        "graft_zvalue(a, b) - Z-order (Morton) interleave of two bigint keys"),
      (args: Seq[Expression]) => ZValueF(args(0), args(1))),
    (FunctionIdentifier("graft_bigram_stats"),
      info(classOf[BigramStatsF], "graft_bigram_stats",
        "graft_bigram_stats(s) - struct(n_bigrams, n_distinct) of the " +
          "2-token shingles of a single-space-tokenized string"),
      (args: Seq[Expression]) => BigramStatsF(args(0))),
    (FunctionIdentifier("graft_floor_log2"),
      info(classOf[FloorLog2F], "graft_floor_log2",
        "graft_floor_log2(v) - msb position of a non-negative bigint; " +
          "equals length(bin(v)) - 1 without the string round trip"),
      (args: Seq[Expression]) => FloorLog2F(args(0))))

  /** Idempotent registration on a live session (for sessions not started
    * with spark.sql.extensions).
    */
  def register(spark: SparkSession): Unit = {
    val reg: FunctionRegistry = spark.sessionState.functionRegistry
    injections.foreach { case (id, inf, builder) =>
      if (!reg.functionExists(id))
        reg.registerFunction(id, inf, builder)
    }
    // live sessions can't injectOptimizerRule; the experimental-methods
    // hook runs the same rule at the same (post-operator-optimization)
    // point
    val em = spark.sessionState.experimentalMethods
    if (!em.extraOptimizations.contains(graft.plans.DotRewriteRule))
      em.extraOptimizations = em.extraOptimizations :+ graft.plans.DotRewriteRule
    if (!em.extraOptimizations.contains(graft.plans.LevenshteinGuardRule))
      em.extraOptimizations =
        em.extraOptimizations :+ graft.plans.LevenshteinGuardRule
    if (!em.extraStrategies.contains(graft.plans.AsofMergeJoin.Strategy))
      em.extraStrategies =
        em.extraStrategies :+ graft.plans.AsofMergeJoin.Strategy
    if (!em.extraOptimizations.contains(graft.plans.AsofMergeJoin.PruneRule))
      em.extraOptimizations =
        em.extraOptimizations :+ graft.plans.AsofMergeJoin.PruneRule
  }
}
