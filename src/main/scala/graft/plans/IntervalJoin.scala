package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Generate, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.LongType

/** Transparent interval-overlap join rewrite — the optimizer-rule answer
  * to the scale killer join_interval works around by hand. A user who
  * writes the natural predicate
  *
  *   A JOIN B ON a.s < b.e AND b.s < a.e        -- no equi key
  *
  * gets a BroadcastNestedLoopJoin: O(|A|·|B|) row comparisons, the plan
  * that stops working somewhere around the first terabyte. This rule
  * detects the overlap shape on bigint interval endpoints, explodes each
  * side to the fixed-width buckets its interval spans, and re-plans the
  * join as an EQUI join on the bucket id — with the original predicate
  * kept as a refinement and pairs counted exactly once in the bucket
  * containing the overlap start (`bucket == greatest(a.s, b.s) div W`).
  * Result sets are identical; the plan becomes one shuffle.
  *
  * Activation is explicit: the rule fires only when
  * `spark.graft.intervalJoin.bucketWidth` is set to a positive bucket
  * width (same unit as the endpoints). Picking W is a physical-design
  * decision (fan-out O(len/W) per row vs candidates per bucket), so it
  * stays a knob, not a heuristic. The rewritten join carries an equi
  * conjunct, which is also what stops the rule re-firing on its own
  * output.
  *
  * Scale notes: the rewrite is exactly the manual join_interval plan —
  * see that operator's notes; this rule makes every naive overlap join
  * in a session inherit it without touching query code.
  */
object IntervalJoinRewrite extends Rule[LogicalPlan] {

  val WidthConf = "spark.graft.intervalJoin.bucketWidth"

  /** Per-row bucket fan-out cap: the overlap-shape detector is
    * syntactic (any pair of opposite-direction long inequalities), so a
    * predicate whose "interval" spans a huge value range — or a genuine
    * interval much longer than W — would explode each row into
    * millions of buckets and OOM a query the naive plan completed.
    * Rows past the cap raise a NAMED error pointing at the knobs
    * instead of dying in an opaque allocation.
    */
  val MaxBucketsConf = "spark.graft.intervalJoin.maxBucketsPerRow"

  private def confLong(key: String, dflt: Long): Long = {
    val raw = SQLConf.get.getConfString(key, dflt.toString)
    try raw.toLong catch {
      // an EXPLICITLY set but unparseable value must fail loudly — the
      // old coerce-to-0 silently disabled the rewrite, reverting every
      // overlap join to the O(|A|·|B|) plan the knob exists to prevent
      case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"$key must be an integral value, got '$raw'")
    }
  }

  private def width: Long = confLong(WidthConf, 0L)
  private def maxBuckets: Long = confLong(MaxBucketsConf, 4096L)

  /** Conjuncts of an expression tree of ANDs. */
  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other     => Seq(other)
  }

  private def sideOf(e: Expression, left: LogicalPlan,
      right: LogicalPlan): Option[Boolean] =
    if (e.references.isEmpty) None
    else if (e.references.subsetOf(left.outputSet)) Some(true)
    else if (e.references.subsetOf(right.outputSet)) Some(false)
    else None

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val w = width
    if (w <= 0) return plan
    plan.transform {
      case j @ Join(left, right, Inner, Some(cond), hint)
          if j.resolved && {
            val cs = conjuncts(cond)
            // never touch a join that already has an equi key (Spark
            // plans those fine; this also makes the rewrite idempotent)
            val hasEqui = cs.exists {
              case EqualTo(a, b) =>
                sideOf(a, left, right).isDefined &&
                  sideOf(b, left, right).isDefined &&
                  sideOf(a, left, right) != sideOf(b, left, right)
              case EqualNullSafe(a, b) =>
                sideOf(a, left, right).isDefined &&
                  sideOf(b, left, right).isDefined &&
                  sideOf(a, left, right) != sideOf(b, left, right)
              case _ => false
            }
            !hasEqui && overlapShape(cond, left, right).isDefined
          } =>
        val (aS, aE, bS, bE) = overlapShape(cond, left, right).get
        val wLit = Literal(w)
        val cap = maxBuckets
        def buckets(child: LogicalPlan, s: Expression, e: Expression,
            name: String): (LogicalPlan, Attribute) = {
          val attr = AttributeReference(name, LongType, nullable = false)()
          val lo = IntegralDivide(s, wLit)
          val hi = IntegralDivide(e, wLit)
          // timeZoneId set explicitly: ResolveTimeZone already ran (this
          // is the optimizer), and TimeZoneAwareExpression.resolved
          // requires it even for integral sequences
          val seq = Sequence(lo, hi, None,
            Some(SQLConf.get.sessionLocalTimeZone))
          // fan-out guard: a row spanning more than maxBuckets buckets
          // fails with a named error (tune W up or the cap) rather than
          // allocating a multi-GB per-row array. NULL-span rows (null
          // endpoint) take the TRUE branch: the sequence is NULL and
          // Explode drops the row — the pre-guard behavior, not an error
          // BOTH bounds guarded: hi - lo <= cap-1 alone admits a REVERSED
          // span (corrupt end < start), where Sequence's default -1 step
          // still explodes |lo-hi|+1 buckets — and a large reversal is
          // exactly the multi-GB allocation the guard exists to stop.
          // GreaterThanOrEqual(hi, lo) rejects reversed rows into the
          // same named error.
          val guarded = If(
            Coalesce(Seq(And(GreaterThanOrEqual(hi, lo),
              LessThanOrEqual(Subtract(hi, lo),
                Literal(cap - 1))), Literal(true))),
            seq,
            Cast(RaiseError(Literal(
              s"interval-join rewrite: a row spans more than $cap " +
                s"buckets at $WidthConf=$w — raise the width or " +
                s"$MaxBucketsConf")), seq.dataType))
          (Generate(Explode(guarded), unrequiredChildIndex = Nil,
            outer = false, qualifier = None, generatorOutput = Seq(attr),
            child = child), attr)
        }
        val (genL, bL) = buckets(left, aS, aE, "__graft_bucket_l")
        val (genR, bR) = buckets(right, bS, bE, "__graft_bucket_r")
        val once = EqualTo(bL,
          IntegralDivide(Greatest(Seq(aS, bS)), wLit))
        val newCond = And(EqualTo(bL, bR), And(cond, once))
        Project(j.output,
          Join(genL, genR, Inner, Some(newCond), hint))
    }
  }

  /** Detect `aS < bE && bS < aE` (either strictness) over bigint
    * endpoints: two inequality conjuncts in opposite directions between
    * the sides. Returns (leftStart, leftEnd, rightStart, rightEnd).
    */
  private def overlapShape(cond: Expression, left: LogicalPlan,
      right: LogicalPlan): Option[(Expression, Expression, Expression, Expression)] = {
    def asLtr(e: Expression): Option[(Expression, Expression)] = e match {
      // normalized as (leftSideExpr, rightSideExpr) for x < y / x <= y
      case LessThan(x, y) => Some((x, y))
      case LessThanOrEqual(x, y) => Some((x, y))
      case GreaterThan(x, y) => Some((y, x))
      case GreaterThanOrEqual(x, y) => Some((y, x))
      case _ => None
    }
    val cs = conjuncts(cond).flatMap(asLtr)
    val ltr = cs.filter { case (x, y) =>
      x.dataType == LongType && y.dataType == LongType &&
        sideOf(x, left, right).contains(true) &&
        sideOf(y, left, right).contains(false)
    } // aS < bE
    val rtl = cs.filter { case (x, y) =>
      x.dataType == LongType && y.dataType == LongType &&
        sideOf(x, left, right).contains(false) &&
        sideOf(y, left, right).contains(true)
    } // bS < aE
    (ltr, rtl) match {
      case (Seq((as_, be)), Seq((bs_, ae))) => Some((as_, ae, bs_, be))
      case _ => None
    }
  }

  def install(s: SparkSession): Unit = GraftRules.install(s)
}
