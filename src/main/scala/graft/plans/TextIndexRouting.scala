package graft.plans

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, And, ArrayContains, AttributeReference, Contains, Expression, Like, Literal, Or, StringSplit, XxHash64}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** TRANSPARENT token skip-index routing — the rule form of the
  * `scan_text_index` operator (ClickHouse `tokenbf_v1` semantics): a
  * per-file token-bloom index registered against a table path, and an
  * optimizer rule that recognizes a token-membership predicate
  * (`array_contains(split(textCol, ' '), 'tok')`) over the indexed scan
  * and rewrites the scan to open ONLY the files whose bloom admits the
  * token. The query text never changes; the ORIGINAL filter stays above
  * the pruned scan, so correctness never depends on bloom precision —
  * only the amount of pruning does (bloom false positives admit extra
  * files; false negatives are impossible for an indexed file).
  *
  * Soundness rules:
  *   - only boolean combinations of the exact token-membership shape
  *     route: AND conjuncts intersect admitted sets (each prunes
  *     independently), OR disjunctions admit the UNION of per-token
  *     sets — and only when EVERY disjunct is a token probe (one
  *     opaque disjunct could match any file). A substring LIKE
  *     (`text LIKE '%tok%'`) is NOT routed: the bloom indexes whole
  *     tokens, and a substring can match inside a longer token the
  *     bloom never saw — pruning on it would drop matching files
  *     (ClickHouse's tokenbf has the same constraint and only serves
  *     LIKE when the pattern contains delimiter-bounded tokens).
  *   - a file absent from the index (written after the index build) is
  *     ALWAYS admitted — unindexed parts are read, never skipped.
  *   - zero admitted files rewrites to an empty LocalRelation over the
  *     SAME output attributes (no file opened at all — the fast path).
  *   - admitted == all files leaves the plan untouched (no churn).
  *
  * Scale notes: the index is O(files × bits) control-plane metadata
  * (the scan_manifest_skip class), built in ONE distributed aggregate
  * and persisted next to the layout; the rewrite is O(plan) + an
  * O(admitted) footer listing. At 10⁶ files a probe for a rare token
  * opens the handful of files that contain it instead of listing the
  * lake.
  */
object TextIndexRouting {

  /** @param basePath table path (as passed to spark.read.parquet)
    * @param textCol  indexed text column (whitespace-tokenized)
    * @param bits     bloom width (positions are pmod(xxhash64, bits))
    * @param blooms   file URI → admitted bloom positions
    */
  case class TextIndexDef(basePath: String, textCol: String, bits: Int,
      blooms: Map[String, Set[Long]])

  private val registry = new PathRegistry[TextIndexDef]

  def register(d: TextIndexDef): Unit = registry.put(d.basePath, d)

  def forPath(p: String): Option[TextIndexDef] = registry.forPath(p)

  /** Drop the registration for a base path (the [[Routing]] freshness
    * hub): a mutated layout must not be pruned by a stale index.
    */
  def invalidate(basePath: String): Unit = registry.remove(basePath)

  /** Per-session activation flag (the MvRouting.EnabledKey pattern):
    * the registry is JVM-global and the installed rule rides the whole
    * session, so routing must be an explicit per-session opt-in or plan
    * shapes become run-order-dependent across suites.
    */
  private[graft] val EnabledKey = "spark.graft.textindex.routing.enabled"

  def enable(s: SparkSession): Unit = {
    s.conf.set(EnabledKey, "true")
    GraftRules.install(s)
  }

  /** Opt the session back out; shared-session tests must call this in a
    * finally (see MvRouting.disable).
    */
  def disable(s: SparkSession): Unit = s.conf.set(EnabledKey, "false")

  /** ClickHouse `hasToken(text, 'tok')` surface — sugar that BUILDS the
    * canonical token-membership expression (array_contains over the
    * single-space split), so it routes through the index rule with no
    * extra machinery and keeps exactly the tokenizer the index build
    * used (whitespace — ours; ClickHouse's splits on non-alphanumeric,
    * a registration-level choice either way).
    */
  def hasToken(text: Column, tok: String): Column =
    org.apache.spark.sql.functions.array_contains(
      org.apache.spark.sql.functions.split(text, " ", -1), tok)

  /** SQL spelling of [[hasToken]]: registers a `has_token(text, 'tok')`
    * temp function on the session that expands to the SAME canonical
    * expression tree — `expr("has_token(text, 'err')")` and the SQL
    * parser both route identically to the Column form.
    */
  def registerHasToken(s: SparkSession): Unit =
    s.sessionState.functionRegistry.createOrReplaceTempFunction(
      "has_token",
      exprs => exprs match {
        case Seq(t, tok) =>
          ArrayContains(StringSplit(t,
            Literal(UTF8String.fromString(" "), StringType), Literal(-1)),
            tok)
        case _ => throw new IllegalArgumentException(
          "has_token(text, token) takes exactly 2 arguments")
      },
      "built-in")

  /** Canonical file key: `input_file_name()` (index build) renders
    * `file:///p` while `FileIndex.inputFiles` (rule time) renders
    * `file:/p` — both normalize to the bare path, or pass through
    * verbatim when not URI-parseable. A mismatch here would silently
    * mark every file "unindexed" (admitted always) and turn the rule
    * into a no-op — the partial-admission ScalaTest catches that.
    */
  private[graft] def normFile(p: String): String =
    try {
      val q = new java.net.URI(p).getPath
      if (q == null || q.isEmpty) p else q
    } catch { case scala.util.control.NonFatal(_) => p }

  /** The probe token's bloom positions, computed through the SAME
    * catalyst expressions the index build ran in codegen
    * (xxhash64(tok) and xxhash64(tok, 1), pmod to the bloom width) — a
    * driver-side hash reimplementation could silently drift from the
    * engine's and turn pruning into row loss.
    */
  private[graft] def tokenPositions(tok: String, bits: Int): Seq[Long] = {
    val t = Literal(UTF8String.fromString(tok), StringType)
    Seq(
      XxHash64(Seq(t), 42L).eval(null).asInstanceOf[Long],
      XxHash64(Seq(t, Literal(1)), 42L).eval(null).asInstanceOf[Long])
      .map(h => ((h % bits) + bits) % bits)
  }
}

object RouteTokenFilterToIndex extends Rule[LogicalPlan] {
  import TextIndexRouting._

  /** The registered base relation under the Filter, tolerating one
    * column-pruning Project (the ProjectionRouting pattern).
    *
    * MULTI-ROOT scans route too (r13 — the MvRouting task-6 twin):
    * admission is PER FILE against the bloom of whichever index covers
    * it, and a file under an unregistered root is simply absent from
    * the merged map — admitted always, the same rule that already
    * protects files appended after an index build. Registered roots
    * must agree on (textCol, bits) or nothing routes (one probe, one
    * hash geometry). The `read.parquet(history, tail)` shape thus
    * prunes the indexed history while always scanning the hot tail.
    */
  private def baseRel(p: LogicalPlan)
      : Option[(LogicalRelation, HadoopFsRelation, TextIndexDef)] = {
    def of(l: LogicalRelation) = l.relation match {
      case fs: HadoopFsRelation =>
        val roots = fs.location.rootPaths.map(_.toString).toSeq
        val defs = roots.flatMap(forPath(_).toSeq)
        if (defs.isEmpty) None
        else if (defs.exists(d => d.textCol != defs.head.textCol ||
            d.bits != defs.head.bits)) None
        else if (defs.lengthCompare(1) == 0 && roots.lengthCompare(1) == 0)
          Some((l, fs, defs.head))
        else Some((l, fs, TextIndexDef(roots.head, defs.head.textCol,
          defs.head.bits,
          // file keys are absolute normalized paths — disjoint across
          // roots, so a plain union is exact
          defs.iterator.flatMap(_.blooms).toMap)))
      case _ => None
    }
    p match {
      case l: LogicalRelation => of(l)
      case Project(projList, l: LogicalRelation)
          if projList.forall(_.isInstanceOf[AttributeReference]) => of(l)
      case _ => None
    }
  }

  /** Compile the filter into a per-file admission predicate over the
    * file's (possibly absent) bloom, or None when nothing in it can
    * prune. Token probes admit when the bloom admits (an UNINDEXED file
    * — bloom absent — always admits: never skip unindexed parts); the
    * boolean structure follows the predicate's own:
    *   - And: both prunable → intersect; ONE prunable → use it alone
    *     (dropping a conjunct only admits MORE files — sound);
    *   - Or: prunable only when EVERY disjunct is (the r12
    *     generalization — `contains 'a' OR contains 'b'`, the
    *     multi-keyword search shape, admits the UNION of per-token
    *     sets; one un-analyzable disjunct could match any file, so the
    *     whole disjunction must admit everything → None);
    *   - anything else (Not, LIKE, non-literal probes): None.
    * Token hash positions are computed ONCE here (predicate build,
    * O(tokens)), never per file — the rewrite stays O(files) at the
    * 10⁶-file scale the index exists for.
    */
  private def filePredicate(e: Expression, d: TextIndexDef)
      : Option[Option[Set[Long]] => Boolean] = e match {
    case And(l, r) =>
      (filePredicate(l, d), filePredicate(r, d)) match {
        case (Some(a), Some(b)) => Some(bl => a(bl) && b(bl))
        case (one @ Some(_), None) => one
        case (None, one) => one
      }
    case Or(l, r) =>
      for { a <- filePredicate(l, d); b <- filePredicate(r, d) }
        yield (bl: Option[Set[Long]]) => a(bl) || b(bl)
    case _ =>
      tokenProbe(e, d.textCol).map { tok =>
        val pos = tokenPositions(tok, d.bits)
        (bl: Option[Set[Long]]) => bl.forall(b => pos.forall(b.contains))
      }
  }

  /** The routable token-membership conjunct:
    * `array_contains(split(textCol, ' ', -1), 'literal-token')` with
    * the single-space separator the index build tokenized on, or a
    * DELIMITER-BOUNDED LIKE — `textCol LIKE '% tok %'` (r13, the
    * spelling real users type first; ClickHouse's tokenbf serves the
    * same shape). Soundness of the LIKE route: a matching row contains
    * the literal substring " tok " — tok bounded by single spaces on
    * BOTH sides — so the whitespace tokenizer the index build ran
    * yields `tok` as a whole token of that row, and the file's bloom
    * necessarily admits it (LIKE-match ⊆ token-containment; the
    * original filter stays above the pruned scan either way). An
    * UNBOUNDED substring LIKE (`'%tok%'`) must NEVER route: the
    * substring can hide inside a longer token the bloom never saw as
    * `tok`. Anything else (regex separators, column probes, escapes,
    * `_` wildcards) never routes.
    */
  private def tokenProbe(c: Expression, textCol: String): Option[String] =
    c match {
      case ArrayContains(
          StringSplit(a: AttributeReference,
            Literal(sep: UTF8String, StringType),
            Literal(-1, IntegerType)),
          Literal(tok: UTF8String, StringType))
          // tok must be NON-EMPTY: the index build excludes empty
          // tokens, but split(text, ' ', -1) keeps them (double/
          // leading/trailing spaces), so routing a '' probe would prune
          // to an empty relation and drop genuinely matching rows
          if a.name == textCol && sep.toString == " " && tok != null &&
            tok.toString.nonEmpty =>
        Some(tok.toString)
      case Like(a: AttributeReference, Literal(pat: UTF8String, StringType),
          escapeChar)
          if a.name == textCol && escapeChar == '\\' && pat != null =>
        likeBoundedToken(pat.toString)
      // the main optimizer's LikeSimplification rewrites
      // `LIKE '% tok %'` (no inner wildcards) into
      // Contains(text, " tok ") BEFORE extraOptimizations run, so the
      // simplified form is what this rule usually sees; a direct
      // `col.contains(" tok ")` probe is the same shape. The needle is
      // a LITERAL here (wildcards were consumed or never existed), so
      // only the space-bounded single-token contract needs checking.
      case Contains(a: AttributeReference,
          Literal(pat: UTF8String, StringType))
          if a.name == textCol && pat != null => {
        val p = pat.toString
        if (p.length >= 3 && p.startsWith(" ") && p.endsWith(" ")) {
          val tok = p.substring(1, p.length - 1)
          if (tok.nonEmpty && !tok.contains(' ')) Some(tok) else None
        } else None
      }
      case _ => None
    }

  /** `% tok %` → tok, for a tok that is a single whole token: no LIKE
    * metacharacters (`%` would widen the match, `_` matches any char —
    * including the delimiter itself), no escape char (an escaped
    * wildcard changes meaning), no space (the bloom indexes single
    * tokens; a multi-word phrase would need per-word probes), and
    * non-empty (`'%  %'` matches a double space — not a token at all).
    */
  private def likeBoundedToken(p: String): Option[String] =
    if (p.length >= 5 && p.startsWith("% ") && p.endsWith(" %")) {
      val tok = p.substring(2, p.length - 2)
      if (tok.nonEmpty && !tok.exists(ch =>
          ch == '%' || ch == '_' || ch == '\\' || ch == ' ')) Some(tok)
      else None
    } else None

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (conf.getConfString(TextIndexRouting.EnabledKey, "false") != "true")
      return plan
    applyRouting(plan)
  }

  private def applyRouting(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(cond, child) if cond.deterministic =>
      baseRel(child) match {
        case Some((rel, fs, d)) =>
          filePredicate(cond, d) match {
            case None => f
            case Some(admits) =>
            val files = fs.location.inputFiles.toSeq
            // a file missing from the index is admitted unconditionally
            // (admits receives None — every leaf admits)
            val admitted =
              files.filter(file => admits(d.blooms.get(normFile(file))))
            if (admitted.length == files.length) f // nothing to prune
            else if (admitted.isEmpty) {
              // no file can contain the token: nothing is opened at
              // all. The child's column-pruning Project (if any) is
              // RE-APPLIED over the empty relation — replacing the
              // whole child with LocalRelation(rel.output) widened the
              // Filter's output schema mid-optimization, breaking the
              // transformUp output contract for parents resolved
              // against the pruned schema (the non-empty branch below
              // always preserved it)
              val empty = LocalRelation(rel.output)
              val newChild = child match {
                case Project(projList, _) => Project(projList, empty)
                case _ => empty
              }
              Filter(cond, newChild)
            }
            else {
              // pruned scan of the admitted files only, read with the
              // relation's own data schema (inferring it again would run
              // a footer-read job while optimizing); original exprIds
              // restored by aliasing (ProjectionRouting pattern), and the
              // FULL original filter stays above — bloom false positives
              // cost I/O, never correctness
              val pruned = SparkSession.active.read.schema(fs.dataSchema)
                .parquet(admitted: _*).queryExecution.analyzed
              val prunedAttr = pruned.output
                .map(a => a.name -> a.asInstanceOf[AttributeReference])
                .toMap
              if (rel.output.forall(a => prunedAttr.get(a.name)
                  .exists(_.dataType == a.dataType))) {
                val restore = Project(rel.output.map(a =>
                  Alias(prunedAttr(a.name), a.name)(exprId = a.exprId)),
                  pruned)
                val newChild = child match {
                  case Project(projList, _) => Project(projList, restore)
                  case _ => restore
                }
                Filter(cond, newChild)
              } else f
            }
          }
        case _ => f
      }
  }
}
