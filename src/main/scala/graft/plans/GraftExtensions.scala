package graft.plans

import graft.functions.CosineSim
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal, Round}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.types.IntegerType

/** The public extension surface (SURVEY.md §4 stretch): a
  * `SparkSessionExtensions` installer wiring in
  *   - the native [[CosineSim]] expression as SQL function
  *     `cosine_sim_native` (via injectFunction — the supported API,
  *     vs. the internal registry call used for ad-hoc registration), and
  *   - [[CollapseRedundantRound]], a small optimizer rule, and
  *   - the [[GraftRules]] list.
  *
  * Enable with
  * `.config("spark.sql.extensions", "graft.plans.GraftExtensions")`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("cosine_sim_native"),
      new ExpressionInfo(classOf[CosineSim].getName, "cosine_sim_native"),
      (args: Seq[Expression]) => {
        // a proper arity error instead of an opaque IndexOutOfBounds
        // from args(1) during resolution
        require(args.length == 2,
          s"cosine_sim_native requires exactly 2 arguments, got ${args.length}")
        CosineSim(args(0), args(1))
      },
    ))
    ext.injectOptimizerRule(_ => CollapseRedundantRound)
    // the same rule/strategy set that operators install at runtime —
    // extension-configured sessions get them statically
    GraftRules.optimizerRules.foreach(r => ext.injectOptimizerRule(_ => r))
    GraftRules.strategies.foreach(st => ext.injectPlannerStrategy(_ => st))
  }
}

/** The engine's transparent Catalyst rules and planner strategy, in ONE
  * list that [[GraftExtensions]] and the runtime [[install]] both read.
  * Each stays inert until its own gate opens: the three routing rules are
  * SESSION-gated (their EnabledKey conf — registry-gating alone would arm
  * every session on first registration), the interval rewrite is
  * conf-gated (`spark.graft.intervalJoin.bucketWidth` unset ⇒ no-op), and
  * the strategy plans only [[TopKPerGroup]] nodes. So installing the
  * whole list wherever one of them is needed changes no other plan.
  */
object GraftRules {
  val optimizerRules: Seq[Rule[LogicalPlan]] = Seq(RouteAggregateToMv,
    RouteFilterToProjection, RouteTokenFilterToIndex, IntervalJoinRewrite)
  val strategies: Seq[SparkStrategy] = Seq(TopKPerGroupStrategy)

  /** Idempotent runtime install (extensions-based injection is
    * static-conf-only and absent in driver sessions). Idempotence is a
    * membership check, NOT a static session set: a strong-reference
    * registry would pin every session (joinIntervalAuto mints one per
    * invocation) for the JVM's lifetime.
    */
  def install(s: SparkSession): Unit = {
    val e = s.experimental
    e.extraOptimizations ++= optimizerRules.filterNot(e.extraOptimizations.contains)
    e.extraStrategies ++= strategies.filterNot(e.extraStrategies.contains)
  }
}

/** `round(round(x, d1), d2)` with literal scales and d2 ≥ d1 is the inner
  * round alone: a value already rounded to d1 decimals is a fixed point of
  * any coarser-or-equal re-rounding. Collapsing saves a per-row BigDecimal
  * conversion — the kind of expression canonicalization ClickHouse does in
  * its own analyzer, expressed here as a 10-line Catalyst rule.
  */
object CollapseRedundantRound extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      // the dataType guard keeps the optimizer's type-preservation
      // invariant: on DECIMAL inputs each Round widens precision by 1,
      // so collapsing would change the plan's output type vs the
      // analyzed schema — only collapse when the types already agree
      // (doubles, and decimals at saturated precision)
      case outer @ Round(inner @ Round(_, Literal(d1: Int, IntegerType), _),
          Literal(d2: Int, IntegerType), _)
          if d2 >= d1 && d1 >= 0 && outer.dataType == inner.dataType =>
        inner
    }
}
