package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

import graft.functions.{ExactDotProduct, ExactSumSq}

/** Optimizer rule: `exact_dot(x, x)` ≡ `exact_sumsq(x)` — the kernels
  * compute the identical rounded-product sum (round12(xᵢ·xᵢ) folds),
  * so the rewrite is bit-exact and halves the array reads. A tiny but
  * real demonstration of extension point (c): semantics the engine
  * already guarantees, recovered by a `Rule[LogicalPlan]` instead of
  * asking every call site to notice the self-application. */
object DotSelfToSumSq extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case ExactDotProduct(a, b) if a.semanticEquals(b) => ExactSumSq(a)
    }
}

/** SparkSessionExtensions entry point: enable with
  * `.config("spark.sql.extensions", "graft.plans.GraftExtensions")`
  * (or `spark.experimental.extraOptimizations` /
  * `spark.experimental.extraStrategies` on a live session). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => DotSelfToSumSq)
    // transparent MV routing (sources/MvRewrite): fires in the
    // operator batch, where manifest reads are still pre-pushdown
    // DataSourceV2Relations; the rule also matches the post-pushdown
    // scan-relation shape so extraOptimizations registration works on
    // sessions without extensions
    ext.injectOptimizerRule(_ => graft.sources.MvRewrite)
    ext.injectPlannerStrategy(_ => GroupTopKStrategy)
    // SQL views over the catalog's ViewCatalog — vanilla Spark 4.1
    // ships the API with no engine wiring; these rules close the gap.
    // HINTS-batch injection is load-bearing: the Hints batch precedes
    // Resolution, so the view plans are rewritten before the built-in
    // ResolveSessionCatalog can reject them (see GraftViewRules)
    ext.injectHintResolutionRule(s => new graft.sources.RewriteGraftViewCommands(s))
    ext.injectHintResolutionRule(s => new graft.sources.ResolveGraftViews(s))
  }
}
