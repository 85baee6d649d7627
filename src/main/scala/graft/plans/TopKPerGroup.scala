package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** Whole-operator extension (the §2.12 ladder's rung (c), beyond the
  * CosineSim expression and the MvRouting rule): ClickHouse `LIMIT k BY
  * group` as a first-class physical operator. The window formulation
  * (row_number ≤ k) fully SORTS every group; this operator keeps a
  * k-bounded heap per group — O(n log k) with O(groups·k) state — and,
  * crucially, runs a PARTIAL pass before the exchange, so each map task
  * ships at most k rows per group into the shuffle (the same
  * partial→final contract as hash aggregation, applied to top-k). At
  * 100 TB with k=3 the shuffle carries ~k·groups·tasks rows instead of
  * the whole table.
  *
  * Wiring: logical [[TopKPerGroup]] → [[TopKPerGroupStrategy]] (installed
  * via `experimental.extraStrategies`, runtime-safe like the MV rule) →
  * partial [[TopKPerGroupExec]] → exchange (EnsureRequirements satisfies
  * the final's ClusteredDistribution) → final [[TopKPerGroupExec]].
  */
case class TopKPerGroup(k: Int, groupExprs: Seq[Attribute],
    orderExprs: Seq[SortOrder], child: LogicalPlan) extends UnaryNode {
  // k = 0 would NPE in the exec's heap comparator (peek() on an empty
  // bounded heap); reject at construction with a named error instead
  require(k > 0, s"TopKPerGroup requires k > 0, got $k")
  // empty grouping would otherwise surface as ClusteredDistribution's
  // internal "should not be Nil" require deep inside EnsureRequirements
  require(groupExprs.nonEmpty,
    "TopKPerGroup requires at least one group column (global top-k is a plain ORDER BY ... LIMIT)")
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerGroup =
    copy(child = newChild)
}

object TopKPerGroupStrategy extends SparkStrategy {
  // float/double group keys are NORMALIZED (-0.0 → 0.0, NaN canonical):
  // Spark's NormalizeFloatingNumbers rule only rewrites Aggregate/Join/
  // Window keys, never a custom node, so without this the byte-equality
  // group map AND the hash exchange would split -0.0 and 0.0 into two
  // groups (up to 2k rows emitted for one SQL group)
  private def normalizeKey(e: Expression): Expression =
    // Spark's OWN normalizer via the Bridge — it RECURSES into
    // structs/arrays, where the previous scalar-only wrapper left a
    // float nested in a struct group key un-normalized (still splitting
    // -0.0/0.0 into two groups for exactly the complex-key case)
    org.apache.spark.sql.graft.Bridge.normalizeFloats(e)

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerGroup(k, g, o, child) =>
      val gn = g.map(normalizeKey)
      TopKPerGroupExec(k, gn, o, partial = false,
        TopKPerGroupExec(k, gn, o, partial = true, planLater(child))) :: Nil
    case _ => Nil
  }

  def install(s: SparkSession): Unit = GraftRules.install(s)
}

case class TopKPerGroupExec(k: Int, groupExprs: Seq[Expression],
    orderExprs: Seq[SortOrder], partial: Boolean, child: SparkPlan)
    extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  override def nodeName: String =
    if (partial) "TopKPerGroupPartial" else "TopKPerGroupFinal"

  /** Partial runs wherever the data already is; final needs each group
    * co-located (EnsureRequirements inserts the hash exchange).
    */
  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) UnspecifiedDistribution :: Nil
    else ClusteredDistribution(groupExprs) :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    val kLocal = k
    val group = groupExprs
    val order = orderExprs
    val schema = child.output
    child.execute().mapPartitions { iter =>
      val grouping = UnsafeProjection.create(group, schema)
      val ordering = GenerateOrdering.generate(order, schema)
      // heap head = WORST retained row (reverse ordering) → O(log k) evict
      val heaps = new java.util.HashMap[UnsafeRow, java.util.PriorityQueue[InternalRow]]()
      while (iter.hasNext) {
        val row = iter.next()
        val key = grouping(row)
        var heap = heaps.get(key)
        if (heap == null) {
          heap = new java.util.PriorityQueue[InternalRow](kLocal + 1,
            ordering.reversed())
          heaps.put(key.copy(), heap)
        }
        if (heap.size < kLocal) heap.add(row.copy())
        else if (ordering.compare(row, heap.peek()) < 0) {
          heap.poll(); heap.add(row.copy())
        }
      }
      val out = new scala.collection.mutable.ArrayBuffer[InternalRow]()
      heaps.values().forEach { h =>
        val rows = new java.util.ArrayList[InternalRow](h)
        rows.sort(ordering)
        rows.forEach(r => out += r)
      }
      out.iterator
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerGroupExec =
    copy(child = newChild)
}
