package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** ClickHouse non-aggregate PROJECTION routing: a second physical copy
  * of the SAME rows, clustered/sorted on a different key, registered
  * against the base table path — and an optimizer rule that rewrites a
  * filtered scan to whichever layout the predicate matches, without the
  * query text changing. This is the `ADD PROJECTION (SELECT * ORDER BY
  * other_key)` mechanic: ClickHouse picks the projection part whose
  * sort order serves the WHERE clause; here the scan path is swapped so
  * parquet min/max file stats prune on the alternate key.
  *
  * Soundness: both layouts hold identical rows (the projection is
  * maintained from the same write — asserted by the shared oracle), so
  * routing any predicate is value-preserving; the rule routes only when
  * the predicate references the alternate cluster key and NOT the
  * base's own sort key (a predicate the base layout already serves
  * stays put — no routing ping-pong).
  *
  * At 100 TB: a point/range lookup on the alternate key scans O(files
  * admitted by min/max) instead of every file — the same reason the
  * base layout serves time predicates. The projection doubles write
  * amplification (each mutation maintains both layouts), which is the
  * documented ClickHouse trade too; the rewrite itself is O(plan)
  * driver work.
  */
object ProjectionRouting {

  /** @param basePath base layout path (registered scan target)
    * @param baseCol  the base layout's cluster key (predicates on it
    *                 stay on the base layout)
    * @param altPath  projection path: same rows clustered by altCol
    * @param altCol   the projection's cluster key
    * @param baseFingerprint BUILD-time file-list fingerprint of the base
    *                 layout (the MvRouting out-of-band-change sentinel —
    *                 worse here, since a stale projection serves wrong
    *                 ROWS): the rule only re-targets while the scan's
    *                 current file set still matches. Capture it from the
    *                 listing the projection build actually read and pass
    *                 it explicitly; register()'s auto-fill snapshots the
    *                 base's CURRENT listing, which is only safe when
    *                 registration immediately follows the build — an
    *                 artifact built BEFORE an out-of-band base change
    *                 would otherwise re-arm the sentinel around stale
    *                 rows (r13 ADVICE finding 3).
    */
  case class ProjDef(basePath: String, baseCol: String,
      altPath: String, altCol: String,
      baseFingerprint: Option[(Long, Long)] = None)

  private val registry = new PathRegistry[ProjDef]

  def register(d: ProjDef): Unit = {
    val d2 =
      if (d.baseFingerprint.isDefined) d
      else d.copy(baseFingerprint =
        scala.util.Try(PathRegistry.fileFingerprint(
          SparkSession.active.read.parquet(d.basePath).inputFiles.toSeq))
          .toOption)
    registry.put(d2.basePath, d2)
  }

  def forPath(p: String): Option[ProjDef] = registry.forPath(p)

  /** Drop the registration for a base path (the [[Routing]] freshness
    * hub): an un-rebuilt projection must not serve pre-mutation rows.
    */
  def invalidate(basePath: String): Unit = registry.remove(basePath)

  /** Per-session activation flag (the MvRouting.EnabledKey pattern): the
    * registry is JVM-global and the extensions-injected rule rides every
    * session of an extensions-configured JVM, so without a session gate
    * one ensureProjection call would arm transparent scan re-targeting
    * in EVERY session — run-order-dependent plan shapes across suites.
    */
  private[graft] val EnabledKey = "spark.graft.projection.routing.enabled"

  def enable(s: SparkSession): Unit = {
    s.conf.set(EnabledKey, "true")
    GraftRules.install(s)
  }

  /** Opt the session back out; shared-session tests must call this in a
    * finally (see MvRouting.disable).
    */
  def disable(s: SparkSession): Unit = s.conf.set(EnabledKey, "false")
}

object RouteFilterToProjection extends Rule[LogicalPlan] {
  import ProjectionRouting._

  /** The registered base relation under a Filter, tolerating the
    * column-pruning Project; anything else blocks routing.
    */
  private def baseRel(p: LogicalPlan): Option[(LogicalRelation, ProjDef)] = {
    def of(l: LogicalRelation): Option[(LogicalRelation, ProjDef)] =
      l.relation match {
        // EXACTLY one root path (the MvRouting rule): a multi-root scan
        // only partially overlaps the projection — swapping it wholesale
        // to altPath would silently drop the other roots' rows
        case fs: HadoopFsRelation if fs.location.rootPaths.length == 1 =>
          forPath(fs.location.rootPaths.head.toString)
            // staleness sentinel: an out-of-band append/overwrite on the
            // base (never routed through the mutation hub) changes its
            // file set — the un-rebuilt projection must NOT serve rows.
            // Zero extra I/O: the scan's listing is already materialized,
            // and the per-FileIndex memo makes the O(files) hash a
            // one-time cost per scan instead of per FixedPoint iteration.
            .filter(d => PathRegistry.fingerprintsByRoot(fs.location)
              .get(fs.location.rootPaths.head.toString)
              .forall(cur => d.baseFingerprint.forall(_ == cur)))
            .map(d => (l, d))
        case _ => None
      }
    p match {
      case l: LogicalRelation => of(l)
      case Project(projList, l: LogicalRelation)
          if projList.forall(_.isInstanceOf[AttributeReference]) => of(l)
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    // session opt-in gate: the statically injected copy of this rule is
    // present in every session of an extensions-configured JVM, but must
    // stay inert until THIS session called ProjectionRouting.enable
    if (conf.getConfString(ProjectionRouting.EnabledKey, "false") != "true")
      return plan
    applyRouting(plan)
  }

  private def applyRouting(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(cond, child) =>
      baseRel(child) match {
        case Some((rel, d))
            if cond.references.exists(_.name == d.altCol)
              && !cond.references.exists(_.name == d.baseCol)
              // altPath may have been superseded-GC'd between registry
              // writes (see PathRegistry.targetExists) — stay unrouted
              && PathRegistry.targetExists(d.altPath) =>
          // fresh resolved projection scan; the original exprIds are
          // re-established by aliasing each projection attribute back to
          // the base attribute's id, so the Filter (and everything above
          // it) resolves unchanged
          val altPlan = SparkSession.active.read.parquet(d.altPath)
            .queryExecution.analyzed
          val altAttr = altPlan.output
            .map(a => a.name -> a.asInstanceOf[AttributeReference]).toMap
          if (rel.output.forall(a => altAttr.get(a.name)
              .exists(_.dataType == a.dataType))) {
            val restore = Project(rel.output.map(a =>
              Alias(altAttr(a.name), a.name)(exprId = a.exprId)), altPlan)
            // re-apply the pruning Project if one sat under the Filter
            val newChild = child match {
              case Project(projList, _) => Project(projList, restore)
              case _ => restore
            }
            Filter(cond, newChild)
          } else f
        case _ => f
      }
  }
}
