package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Transitive near-duplicate clustering — the step every pairwise dedup
  * (minhash/simhash/jaccard) needs before it can DROP anything: near-dup
  * is not transitive, so pairs (a,b),(b,c) must collapse into one cluster
  * {a,b,c} with a single canonical survivor. This is connected components
  * over the candidate-pair graph.
  *
  * Spark-first shape: iterative min-label propagation as a driver loop of
  * DataFrame joins — each round every node adopts the smallest component
  * id among itself and its neighbours; fixpoint = components found. The
  * loop body is declarative (Catalyst plans each round; AQE sizes the
  * shuffles), `localCheckpoint()` cuts the lineage each round so plan
  * depth stays O(1), and convergence needs O(graph diameter) rounds —
  * near-dup clusters are short chains (bounded by the blocking window),
  * so diameter is small by construction. For adversarial long-chain
  * graphs the same loop upgrades to large-star/small-star (Kiveris et al.
  * 2014) at O(log n) rounds; the fixture graph converges in 2-3 either
  * way, so the simpler alternating form is the one shipped.
  *
  * Scale notes: state per round is one (id, comp) row per node — O(docs),
  * never O(pairs); edges persist once (MEMORY_AND_DISK) and re-join each
  * round; the convergence probe is `isEmpty` on the changed-set (driver
  * reads one boolean, not data). 100 TB corpora have ~10^10 nodes: each
  * round is one shuffled join + partial-agg min — the same plan GraphX'
  * connectedComponents lowers to, without the RDD detour.
  */
object DedupGraph {

  /** Near-dup edges: exact-Jaccard ≥ 0.8 inside the deterministic
    * candidate block (doc_id % 10 == 0) — same inverted-index-in-block
    * shape as dedup_jaccard (LlmText.scala), which documents why that
    * form is the verification oracle while banded MinHash is the scale
    * path for candidate generation.
    */
  private[graft] def edges(s: SparkSession, dir: String): DataFrame = {
    val cand = Tables.documents(s, dir)
      .filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"),
        array_distinct(split(col("text"), " ")).as("tokset"))
    // shared pair plan; this caller's intentional difference: UNROUNDED
    // Jaccard at the 0.8 edge threshold, ids only
    LlmText.jaccardPairCounts(cand, "tokset")
      .filter(col("n_inter").cast("double")
        / (col("sz_a") + col("sz_b") - col("n_inter")) >= 0.8)
      .select(col("id_a"), col("id_b"))
  }

  /** The propagation FIXPOINT cached per (session, fixture): both
    * dedup_cluster and dedup_canonical consume the same labels, and the
    * loop (pair self-join + up to 30 checkpointed rounds) is the most
    * expensive plan in this file — the affinityEdgesCached rule applied
    * to the dedup side. Checkpoint-backed, so session-keyed like
    * edgeCache; the fingerprint re-derives on an in-JVM testdata swap.
    */
  private[graft] val labelCache = new graft.DfCache(16)

  /** The propagation loop itself, shared by dedup_cluster (reports the
    * components) and dedup_canonical (uses them to pick survivors).
    */
  private[graft] def clusterLabels(s: SparkSession, dir: String): DataFrame =
    labelCache.get(s, s"$dir@${graft.Scratch.fixtureFingerprint(dir)}") {
      clusterLabelsUncached(s, dir)
    }

  private def clusterLabelsUncached(s: SparkSession, dir: String): DataFrame = {
    val e = edges(s, dir)
    // undirected: propagate labels both ways
    val und = e.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(e.select(col("id_b").as("src"), col("id_a").as("dst")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = Tables.documents(s, dir)
      .filter(col("doc_id") % 10 === 0)
      .select(col("doc_id").as("id"))
    // metric-delivery latch is PER INVOCATION: one transient >10s
    // delivery delay (GC pause, loaded listener bus) skips the observe
    // fast path for the REMAINING rounds of this loop only — a JVM-global
    // latch (the previous design) permanently degraded every later
    // invocation in every session over one slow delivery
    var obsDown = false
    var labels: DataFrame = null
    var converged = false
    var rounds = 0
    // EVERY eager job from the first checkpoint on runs inside try: the
    // persisted edge frame must be unpersisted even when the initial
    // labels checkpoint fails, or failed invocations accumulate pinned
    // CacheManager entries for the session's lifetime
    try {
    labels = nodes.select(col("id"), col("id").as("comp")).localCheckpoint()
    while (!converged && rounds < 30) {
      val nbrMin = und.join(labels, col("dst") === col("id"))
        .groupBy(col("src")).agg(min(col("comp")).as("nbr_min"))
      // convergence detection piggybacks on the checkpoint's own job via
      // Dataset.observe (localCheckpoint is an action, so the observation
      // metric is delivered by its QueryExecutionListener — asserted in
      // ObservedLoopSpec): ONE Spark action per round, not a separate
      // isEmpty probe. At 1000-executor scale the probe was a full extra
      // stage launch per round of an O(diameter) loop.
      // Once the latch is down, NO Observation is constructed at all:
      // each .observe registers a listener that only unregisters on
      // delivery — on a broken bus they would otherwise accumulate one
      // per round, each retaining its Dataset.
      val obs =
        if (obsDown) None else Some(org.apache.spark.sql.Observation())
      val nextBase = labels.as("l")
        .join(nbrMin, col("l.id") === col("src"), "left")
        .select(col("l.id").as("id"),
          least(col("l.comp"), coalesce(col("nbr_min"), col("l.comp")))
            .as("comp"),
          coalesce(col("nbr_min") < col("l.comp"), lit(false)).as("changed"))
      val next = obs.fold(nextBase)(o => nextBase.observe(o,
          sum(col("changed").cast("long")).as("n_changed")))
        .localCheckpoint()
      // poll observationPeek instead of a Future-wrapped blocking get:
      // the action already completed, so the metric normally lands
      // within milliseconds; on a broken listener bus the old
      // Await-on-Future leaked one permanently-blocked thread AND paid
      // the full timeout EVERY remaining round — the first miss flips
      // the latch and later rounds go straight to the explicit probe
      converged = {
        val metric: Option[Long] = obs.flatMap { o =>
          val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
          var m = org.apache.spark.sql.graft.Bridge.observationPeek(o)
          while (m.isEmpty && System.nanoTime() < deadline) {
            Thread.sleep(20)
            m = org.apache.spark.sql.graft.Bridge.observationPeek(o)
          }
          if (m.isEmpty) { obsDown = true; None }
          else Some(m("n_changed").asInstanceOf[Long])
        }
        metric match {
          case Some(n) => n == 0L
          case None => next.filter(col("changed")).isEmpty
        }
      }
      labels = next.drop("changed")
      rounds += 1
    }
    } finally {
      // swallow: on a dead SparkContext (the very failure class this
      // finally exists for) unpersist itself throws and would MASK the
      // root-cause job failure (the DfCache.drop rule)
      try { und.unpersist(); () } catch { case _: Throwable => () }
    }
    // a silent cap exit would emit labels that are NOT component minima
    // and fail (or worse, quietly corrupt) downstream survivor choice;
    // one-hop min propagation converges within the component diameter,
    // so a 30-round miss means a >30-eccentricity chain — fail loudly
    require(converged,
      "label propagation did not converge within 30 rounds — component " +
        "diameter exceeds the bound; raise the round cap for this corpus")
    labels.select(col("id").as("doc_id"), col("comp").as("cluster_id"))
  }

  private def dedupCluster(s: SparkSession, dir: String): DataFrame =
    clusterLabels(s, dir)
      .withColumn("is_canonical", col("doc_id") === col("cluster_id"))
      .orderBy(col("doc_id"))

  /** Quality-based survivor selection — the decision step a production
    * dedup actually runs: within each near-dup cluster keep the HIGHEST
    * QUALITY member (text_quality's score), not the smallest id. Min-id
    * canonicalization (dedup_cluster) is the bookkeeping answer; a
    * training pipeline wants the best copy of each duplicated document to
    * survive. Tiebreak doc_id for determinism.
    *
    * Scale notes: labels are O(docs in blocks); the quality score is the
    * map-side text_quality expression computed only for clustered docs;
    * survivor choice is one window over clusters (bounded groups — a
    * cluster is a near-dup set, not the corpus).
    */
  private def dedupCanonical(s: SparkSession, dir: String): DataFrame = {
    val quality = Tables.documents(s, dir)
      .filter(col("doc_id") % 10 === 0)
      .withColumn("arr", split(col("text"), " "))
      // THE text_quality score (LlmText.qualityScore) — shared, not
      // copied, so the survivor choice cannot drift from the contract
      .select(col("doc_id"), LlmText.qualityScore(col("arr")).as("quality"))
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("quality").desc, col("doc_id"))
    clusterLabels(s, dir)
      .join(quality, "doc_id")
      .withColumn("keep", row_number().over(w) === 1)
      .select(col("doc_id"), col("cluster_id"), col("quality"), col("keep"))
      .orderBy(col("doc_id"))
  }

  /** One PageRank iteration over the customer→supplier purchase graph
    * (who supplies the important buyers?), in FIXED-POINT micro-units so
    * the damped contribution `0.85/outdeg` is integer division — exact
    * and identical on both engines, no double summation anywhere. From a
    * uniform prior (1.0 per node): pr_micro(s) = 150000 +
    * Σ_{c→s} 850000 div outdeg(c). One iteration is THE production step —
    * at 100 TB you checkpoint between iterations (dedup_cluster's loop
    * pattern), you don't fuse them.
    *
    * Scale notes: the edge list is built once, from the lineitem ⋈
    * orders join (broadcast while orders fits the threshold), and
    * shuffled once, on src. Inside that partitioning the distinct and
    * the per-src outdegree (a window over src) need no further exchange;
    * the contribution sum is one partial-agg shuffle on dst. Linear in
    * |edges|, the textbook distributed PR step. A null src has no
    * outdegree: its edges are dropped, as the oracle's `JOIN deg USING
    * (src)` drops them.
    */
  private def graphPagerankStep(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("src"), col("l_suppkey").as("dst"))
      .filter(col("src").isNotNull)
      .repartition(col("src"))
      .distinct()
      .withColumn("outdeg",
        count(lit(1)).over(Window.partitionBy(col("src"))))
      .groupBy(col("dst").as("s_suppkey"))
      .agg((lit(150000L) + sum(expr("850000 div outdeg"))).as("pr_micro"),
        count(lit(1)).as("n_in"))
      .orderBy(col("s_suppkey"))

  /** Distributed triangle counting over the part co-purchase graph
    * (parts appearing in the same order are connected): the ORDERED-
    * WEDGE formulation with DEGREE orientation (Suri & Vassilvitskii,
    * WWW'11 — node-iterator++). Undirected edges are oriented from the
    * (degree, key)-smaller endpoint to the larger, wedges built by
    * joining oriented edges on the shared source, and each wedge closed
    * by probing the oriented edge set. (degree, key) is a total order,
    * so every triangle has exactly one rank-ordering a≺b≺c and is
    * counted once, with the closing edge b→c already oriented.
    * Orientation by DEGREE (not key) is load-bearing, not cosmetic:
    * key-ordering leaves low-keyed hubs with huge out-neighborhoods;
    * degree-ordering bounds every node's out-degree by O(√m), the
    * arboricity bound, and total wedge work by O(m^1.5).
    * Integer counts only — exact on both engines.
    *
    * The graph is the co-purchase AFFINITY graph: edges need support
    * ≥ 2 distinct orders, the frequent-itemset convention. This too is
    * load-bearing at scale — the unthresholded graph is quadratic
    * random noise (sf0.1: 1.2 M edges, mean degree 120, 41 M wedges
    * even degree-ordered, 23 s measured; thresholding prunes it to the
    * 3.6 k edges that co-occur non-accidentally). At 100 TB the same
    * rule holds the edge set near-linear in parts; for counting on a
    * graph that must stay dense, DOULION edge-sampling composes with
    * this plan unchanged.
    *
    * Scale notes: one groupBy builds support-filtered edges, one O(m)
    * degree agg joined back (node-sized, shuffles with the edges), then
    * the two wedge/closing shuffle joins of the canonical MapReduce
    * algorithm. The apex reported per triangle is its minimum-DEGREE
    * node.
    */
  /** The part co-purchase affinity edge set (u < v, support ≥ 2 distinct
    * orders) shared by graph_triangle_count and graph_common_neighbors.
    */
  private def affinityEdges(s: SparkSession, dir: String): DataFrame = {
    // r16 (guide §2.3/§2.4 — aggregate before you shuffle; remove the
    // join outright): the fact-table SELF-JOIN on l_orderkey shuffled
    // the item stream twice and multiplied duplicates before the
    // count_distinct Expand deduped them again. An order's basket is a
    // BOUNDED set (TPC-H ≤ 7 items), so collapse to one sorted distinct
    // item array per order (one exchange, map-side partial collect_set),
    // expand the C(n,2) pairs MAP-SIDE with array HOFs, and count plain
    // pair occurrences (support = #orders containing both, exactly as
    // before — each order now contributes a pair at most once by
    // construction). Plan: 2 exchanges total, no join, no Expand.
    // sort_array gives the u < v orientation the old a.pk < b.pk
    // filter produced; the edge SET is identical.
    val orders = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .groupBy(col("ok"))
      .agg(sort_array(collect_set(col("pk"))).as("pks"))
    orders
      .select(explode(expr(
        """flatten(transform(pks, (x, i) ->
             transform(slice(pks, i + 2, size(pks)),
               y -> struct(x AS u, y AS v))))""")).as("p"))
      .select(col("p.u").as("u"), col("p.v").as("v"))
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("sup"))
      .filter(col("sup") >= 2)
      .select(col("u"), col("v"))
  }

  /** The edge list materialized ONCE PER (JVM, sfDir) and shared by all
    * three graph traversals: at 100 TB an adjacency derived from a
    * fact-table pair self-join is an asset you build once and query
    * many times, not lineage you replay per query. `localCheckpoint`
    * severs the self-join lineage; the map is keyed by (session, dir) —
    * a checkpointed DataFrame is bound to its owning SparkSession's
    * context, so a dir-only key would hand a frame backed by dead
    * checkpoint RDDs to a second session in the same JVM (same rule as
    * LlmVector.kmeansCache); a testdata swap re-derives.
    */
  private[graft] val edgeCache = new graft.DfCache(16)
  private def affinityEdgesCached(s: SparkSession, dir: String): DataFrame =
    // DfCache provides the whole discipline (stopped-context sweep,
    // oldest-first eviction, build-outside-the-lock putIfAbsent): the
    // previous hand-rolled map+queue had already drifted twice
    // (off-by-one cap, eviction before the hit check). Eviction's
    // unpersist is a CacheManager no-op on a localCheckpoint-backed
    // frame; the checkpoint blocks are reclaimed by the ContextCleaner
    // once the frame is unreferenced.
    // fingerprint in the key (the parsedCache discipline): an in-JVM
    // testdata swap at the same dir must re-derive, not replay stale
    // checkpointed edges
    edgeCache.get(s, s"$dir@${graft.Scratch.fixtureFingerprint(dir)}")(
      affinityEdges(s, dir).localCheckpoint())
  /** Degree table of the affinity graph — shared by the triangle family. */
  private def degrees(edges: DataFrame): DataFrame =
    edges.select(explode(array(col("u"), col("v"))).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))

  /** Symmetrized (both-directions) edge list with caller-chosen output
    * names — previously restated inline at three traversal sites, where
    * the union spelling could drift independently.
    */
  private def symmetrize(e: DataFrame, o1: String, o2: String): DataFrame =
    e.select(col("u").as(o1), col("v").as(o2))
      .union(e.select(col("v").as(o1), col("u").as(o2)))

  /** Every triangle of the affinity graph exactly ONCE, as (a, b, c) —
    * the Suri-Vassilvitskii degree-oriented wedge join shared by
    * graph_triangle_count (global counts) and graph_cluster_coeff
    * (per-node counts): low-degree endpoints emit wedges, the closing
    * edge joins them shut.
    */
  private def triangles(s: SparkSession, dir: String): DataFrame = {
    // materialize the bounded edge list once: its lineage (the fact-table
    // pair self-join) would otherwise re-run for the degree table AND
    // each of the three oriented-edge uses below — at scale the adjacency
    // is persisted once per traversal, never recomputed from the fact
    val edges = affinityEdgesCached(s, dir)
    val deg = degrees(edges)
    val fwd = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val oriented = edges
      .join(deg.select(col("n").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("n").as("v"), col("d").as("dv")), "v")
      .select(when(fwd, col("u")).otherwise(col("v")).as("s"),
        when(fwd, col("v")).otherwise(col("u")).as("t"),
        when(fwd, col("dv")).otherwise(col("du")).as("dt"))
      // three consumers (both wedge sides + the closing join): O(edges)
      .localCheckpoint()
    val wedges = oriented.as("e1").join(oriented.as("e2"),
        col("e1.s") === col("e2.s") && (col("e1.dt") < col("e2.dt") ||
          (col("e1.dt") === col("e2.dt") && col("e1.t") < col("e2.t"))))
      .select(col("e1.s").as("a"), col("e1.t").as("b"), col("e2.t").as("c"))
    wedges.join(
      oriented.select(col("s").as("b"), col("t").as("c")), Seq("b", "c"))
  }

  private def graphTriangleCount(s: SparkSession, dir: String): DataFrame =
    triangles(s, dir).agg(count(lit(1)).as("n_triangles"),
      count_distinct(col("a")).as("n_apex_nodes"))

  /** Local clustering coefficient (Watts-Strogatz) per node: c(v) =
    * 2·tri(v) / (deg(v)·(deg(v)−1)) — "how much of my neighborhood
    * already knows each other", the density diagnostic that separates
    * near-dup CLIQUES (c → 1, safe to collapse to one survivor) from
    * hub-shaped chains (c → 0, where transitive collapsing
    * over-merges). Emitted in exact integer micro-units (all-positive
    * int division — identical on both engines, no float edge), over
    * nodes with deg ≥ 2 (c is undefined below).
    *
    * Scale notes: per-node triangle counts ride the SAME bounded
    * oriented wedge join as the global count (each triangle credits
    * its three corners via one explode); degrees join back node-sized.
    * Nothing new shuffles at 100 TB beyond what triangle counting
    * already paid.
    */
  private def graphClusterCoeff(s: SparkSession, dir: String): DataFrame = {
    val triPerNode = triangles(s, dir)
      .select(explode(array(col("a"), col("b"), col("c"))).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("tri"))
    degrees(affinityEdgesCached(s, dir))
      .filter(col("d") >= 2)
      .join(triPerNode, Seq("n"), "left")
      .withColumn("tri0", coalesce(col("tri"), lit(0L)))
      .select(col("n").as("node"), col("d").as("degree"),
        col("tri0").as("n_triangles"),
        expr("(2000000 * tri0) div (d * (d - 1))").as("cc_micro"))
      .orderBy(col("node"))
  }

  /** "People also bought": node similarity by common neighbors over the
    * affinity graph — for part pairs sharing ≥ 2 neighbors, Jaccard =
    * |N(u)∩N(v)| / |N(u)∪N(v)| in integer micro-units (all-positive int
    * div, exact both engines). The pair domain is generated by the
    * WEDGE join (two edges sharing an endpoint), never nodes² — the
    * same bounded formulation every recommender co-occurrence job uses.
    *
    * Scale notes: undirected adjacency is edges×2; one self-join on the
    * shared neighbor generates exactly the wedge set, one hash-agg
    * counts common neighbors, degrees join back (node-sized, shuffles
    * on the pair's endpoints). Top-50 leaves via TakeOrderedAndProject.
    */
  private def graphCommonNeighbors(s: SparkSession, dir: String): DataFrame = {
    // one materialization of the bounded edge list; the wedge self-join
    // and the degree rollup below both read it (the fact-table pair
    // self-join it derives from must not run per consumer)
    val e = affinityEdgesCached(s, dir)
    val und = symmetrize(e, "n", "m")
    val deg = und.groupBy(col("n")).agg(count(lit(1)).as("d"))
    val common = und.as("a").join(und.as("b"),
        col("a.m") === col("b.m") && col("a.n") < col("b.n"))
      .groupBy(col("a.n").as("u"), col("b.n").as("v"))
      .agg(count(lit(1)).as("common"))
      .filter(col("common") >= 2)
    common
      .join(deg.select(col("n").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("n").as("v"), col("d").as("dv")), "v")
      .select(col("u"), col("v"), col("common"),
        expr("common * 1000000 div (du + dv - common)").as("jaccard_micro"))
      .orderBy(col("jaccard_micro").desc, col("u"), col("v"))
      .limit(50)
  }

  /** Degree distribution of the affinity graph — the first diagnostic
    * any graph job runs, because the tail decides the physical plan:
    * a power-law hub means the neighbor join needs the high/low-degree
    * orientation graph_triangle_count already applies (and, at 100 TB,
    * hub salting). Histogram is two tiny aggregations over the bounded
    * edge list; the fact table is scanned once to build the edges.
    */
  private def graphDegreeHist(s: SparkSession, dir: String): DataFrame =
    affinityEdgesCached(s, dir)
      .select(explode(array(col("u"), col("v"))).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
      .groupBy(col("d").as("degree"))
      .agg(count(lit(1)).as("n_nodes"))
      .orderBy(col("degree"))

  /** Resource-Allocation link prediction (Zhou, Lü & Zhang, EPJ B 2009):
    * score a non-adjacent-or-adjacent pair (u,v) by Σ_w 1/deg(w) over
    * common neighbors w — common-neighbor counting where going through
    * a hub is worth less. Each term is exact integer micro-units
    * (1000000 div deg), so the per-pair SUM is order-independent and
    * the oracle matches bit-for-bit with no float edge rounding — the
    * same determinism device as graph_pagerank_step.
    *
    * Scale notes: the wedge join is the identical (bounded-support)
    * shape graph_common_neighbors uses over the shared cached edge
    * list; degrees broadcast-join onto wedges by the hub node; one
    * hash agg on (u,v). No new shuffle class at 100 TB.
    */
  private def graphResourceAlloc(s: SparkSession, dir: String): DataFrame = {
    val e = affinityEdgesCached(s, dir)
    val und = symmetrize(e, "n", "m")
    val deg = und.groupBy(col("n")).agg(count(lit(1)).as("d"))
    und.as("a").join(und.as("b"),
        col("a.m") === col("b.m") && col("a.n") < col("b.n"))
      .select(col("a.n").as("u"), col("b.n").as("v"), col("a.m").as("w"))
      .join(deg.select(col("n").as("w"), col("d").as("dw")), "w")
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("common"),
        sum(expr("1000000 div dw")).as("ra_micro"))
      .filter(col("common") >= 2)
      .orderBy(col("ra_micro").desc, col("u"), col("v"))
      .limit(50)
  }

  /** Degree assortativity (Newman 2002): the Pearson correlation of
    * endpoint degrees over the symmetrized edge list — positive means
    * hubs attach to hubs (merge-risky near-dup blocks), negative means
    * hub-and-spoke (the shape that needs the high/low-degree join
    * orientation graph_triangle_count applies). Exact-integer moments
    * (Σd_u, Σd_u², Σd_u·d_v over 2·edges pairs) feed ONE closed-form
    * double chain — shipped unrounded, with the zero-variance guard on
    * exact integers (a regular graph has no assortativity: NULL on
    * both engines, never NULL-vs-NaN).
    *
    * Scale notes: degrees join onto the edge list by endpoint (two
    * node-sized broadcast-shaped joins), then ONE global partial agg —
    * no new shuffle class beyond what the degree table already paid.
    */
  private def graphAssortativity(s: SparkSession, dir: String): DataFrame = {
    val edges = affinityEdgesCached(s, dir)
    val deg = degrees(edges)
    val und = symmetrize(edges, "a", "b")
    und
      .join(deg.select(col("n").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("d").as("db")), "b")
      .agg(count(lit(1)).as("m"),
        sum(col("da")).as("sx"),
        sum(col("da") * col("da")).as("sxx"),
        sum(col("da") * col("db")).as("sxy"))
      .select(expr("m div 2").as("n_edges"), {
        val num = col("m").cast("double") * col("sxy").cast("double") -
          col("sx").cast("double") * col("sx").cast("double")
        val den = col("m").cast("double") * col("sxx").cast("double") -
          col("sx").cast("double") * col("sx").cast("double")
        // guard in the DOUBLE domain the quotient lives in: the previous
        // exact-integer compare multiplied BIGINTs, which overflows (and
        // under ANSI, THROWS) once sx passes ~3e9 — a few million nodes
        // of mean degree 50, squarely inside the claimed 100 TB posture.
        // Exact zero variance still lands den exactly 0.0 (correctly-
        // rounded products of equal exact values are equal).
        when(den === 0.0, lit(null).cast("double"))
          .otherwise(num / den).as("assortativity")
      })
  }

  def defs: Seq[QueryDef] = Seq(
    QueryDef("graph_assortativity", graphAssortativity,
      Some("""WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk
                FROM lineitem),
              e0 AS (SELECT u, v FROM (
                SELECT a.pk AS u, b.pk AS v, COUNT(DISTINCT a.ok) AS sup
                FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
                GROUP BY 1, 2) sup_f WHERE sup >= 2),
              und AS (SELECT u AS a, v AS b FROM e0
                UNION ALL SELECT v, u FROM e0),
              deg AS (SELECT n, COUNT(*) AS d FROM (
                SELECT u AS n FROM e0 UNION ALL SELECT v FROM e0) x
                GROUP BY n),
              mo AS (SELECT COUNT(*) AS m,
                CAST(SUM(du.d) AS BIGINT) AS sx,
                CAST(SUM(du.d * du.d) AS BIGINT) AS sxx,
                CAST(SUM(du.d * dv.d) AS BIGINT) AS sxy
                FROM und JOIN deg du ON und.a = du.n
                         JOIN deg dv ON und.b = dv.n)
              SELECT m // 2 AS n_edges,
                CASE WHEN m * sxx = sx * sx THEN NULL ELSE
                  (CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                  / (CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                END AS assortativity
              FROM mo""")),
    QueryDef("graph_resource_alloc", graphResourceAlloc,
      Some("""WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk
                FROM lineitem),
              e0 AS (SELECT u, v FROM (
                SELECT a.pk AS u, b.pk AS v, COUNT(DISTINCT a.ok) AS sup
                FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
                GROUP BY 1, 2) sup_f WHERE sup >= 2),
              und AS (SELECT u AS n, v AS m FROM e0
                UNION ALL SELECT v, u FROM e0),
              deg AS (SELECT n, COUNT(*) AS d FROM und GROUP BY n),
              wdg AS (SELECT a.n AS u, b.n AS v, a.m AS w
                FROM und a JOIN und b ON a.m = b.m AND a.n < b.n)
              SELECT u, v, COUNT(*) AS common,
                CAST(SUM(1000000 // deg.d) AS BIGINT) AS ra_micro
              FROM wdg JOIN deg ON wdg.w = deg.n
              GROUP BY u, v HAVING COUNT(*) >= 2
              ORDER BY ra_micro DESC, u, v LIMIT 50""")),
    QueryDef("graph_degree_hist", graphDegreeHist,
      Some("""WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk
                FROM lineitem),
              e0 AS (SELECT u, v FROM (
                SELECT a.pk AS u, b.pk AS v, COUNT(DISTINCT a.ok) AS sup
                FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
                GROUP BY 1, 2) sup_f WHERE sup >= 2),
              deg AS (SELECT n, COUNT(*) AS d FROM (
                SELECT u AS n FROM e0 UNION ALL SELECT v FROM e0) x
                GROUP BY n)
              SELECT d AS degree, COUNT(*) AS n_nodes
              FROM deg GROUP BY d ORDER BY degree""")),
    QueryDef("graph_common_neighbors", graphCommonNeighbors,
      Some("""WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk
                FROM lineitem),
              e0 AS (SELECT u, v FROM (
                SELECT a.pk AS u, b.pk AS v, COUNT(DISTINCT a.ok) AS sup
                FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
                GROUP BY 1, 2) sup_f WHERE sup >= 2),
              und AS (SELECT u AS n, v AS m FROM e0
                UNION ALL SELECT v, u FROM e0),
              deg AS (SELECT n, COUNT(*) AS d FROM und GROUP BY n),
              cm AS (SELECT a.n AS u, b.n AS v, COUNT(*) AS common
                FROM und a JOIN und b ON a.m = b.m AND a.n < b.n
                GROUP BY 1, 2 HAVING COUNT(*) >= 2)
              SELECT u, v, common,
                common * 1000000 // (du.d + dv.d - common) AS jaccard_micro
              FROM cm JOIN deg du ON cm.u = du.n
                      JOIN deg dv ON cm.v = dv.n
              ORDER BY jaccard_micro DESC, u, v LIMIT 50""")),
    QueryDef("graph_cluster_coeff", graphClusterCoeff,
      Some("""WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk
                FROM lineitem),
              e0 AS (SELECT u, v FROM (
                SELECT a.pk AS u, b.pk AS v, COUNT(DISTINCT a.ok) AS sup
                FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
                GROUP BY 1, 2) sup_f WHERE sup >= 2),
              deg AS (SELECT n, COUNT(*) AS d FROM (
                SELECT u AS n FROM e0 UNION ALL SELECT v FROM e0) x
                GROUP BY n),
              o AS (SELECT
                CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v)
                  THEN u ELSE v END AS s,
                CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v)
                  THEN v ELSE u END AS t,
                CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v)
                  THEN dv.d ELSE du.d END AS dt
                FROM e0 JOIN deg du ON e0.u = du.n
                        JOIN deg dv ON e0.v = dv.n),
              w AS (SELECT e1.s AS a, e1.t AS b, e2.t AS c
                FROM o e1 JOIN o e2 ON e1.s = e2.s
                AND (e1.dt < e2.dt OR (e1.dt = e2.dt AND e1.t < e2.t))),
              tris AS (SELECT w.a, w.b, w.c FROM w
                JOIN o ON w.b = o.s AND w.c = o.t),
              pn AS (SELECT n, COUNT(*) AS tri FROM (
                SELECT a AS n FROM tris UNION ALL SELECT b FROM tris
                UNION ALL SELECT c FROM tris) x GROUP BY n)
              SELECT deg.n AS node, deg.d AS degree,
                COALESCE(pn.tri, 0) AS n_triangles,
                (2000000 * COALESCE(pn.tri, 0)) // (deg.d * (deg.d - 1))
                  AS cc_micro
              FROM deg LEFT JOIN pn ON deg.n = pn.n
              WHERE deg.d >= 2 ORDER BY node""")),
    QueryDef("graph_triangle_count", graphTriangleCount,
      Some("""WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk
                FROM lineitem),
              e0 AS (SELECT u, v FROM (
                SELECT a.pk AS u, b.pk AS v, COUNT(DISTINCT a.ok) AS sup
                FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
                GROUP BY 1, 2) sup_f WHERE sup >= 2),
              deg AS (SELECT n, COUNT(*) AS d FROM (
                SELECT u AS n FROM e0 UNION ALL SELECT v FROM e0) x
                GROUP BY n),
              o AS (SELECT
                CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v)
                  THEN u ELSE v END AS s,
                CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v)
                  THEN v ELSE u END AS t,
                CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v)
                  THEN dv.d ELSE du.d END AS dt
                FROM e0 JOIN deg du ON e0.u = du.n
                        JOIN deg dv ON e0.v = dv.n),
              w AS (SELECT e1.s AS a, e1.t AS b, e2.t AS c
                FROM o e1 JOIN o e2 ON e1.s = e2.s
                AND (e1.dt < e2.dt OR (e1.dt = e2.dt AND e1.t < e2.t))),
              tris AS (SELECT w.a FROM w
                JOIN o ON w.b = o.s AND w.c = o.t)
              SELECT COUNT(*) AS n_triangles,
                COUNT(DISTINCT a) AS n_apex_nodes
              FROM tris""")),
    QueryDef("graph_pagerank_step", graphPagerankStep,
      Some("""WITH edges AS (SELECT DISTINCT o_custkey AS src,
                 l_suppkey AS dst
                 FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
               deg AS (SELECT src, COUNT(*) AS outdeg
                 FROM edges GROUP BY src)
              SELECT dst AS s_suppkey,
                CAST(150000 + SUM(850000 // outdeg) AS BIGINT) AS pr_micro,
                COUNT(*) AS n_in
              FROM edges JOIN deg USING (src)
              GROUP BY dst ORDER BY s_suppkey""")),
    QueryDef("dedup_cluster", dedupCluster,
      // oracle: transitive closure by recursive CTE — exact fixpoint
      // semantics, feasible because blocking bounds component size
      Some("""WITH RECURSIVE
              cand AS (SELECT doc_id,
                list_distinct(string_split(text, ' ')) AS tokset
                FROM documents WHERE doc_id % 10 = 0),
              sizes AS (SELECT doc_id, len(tokset) AS sz FROM cand),
              inv AS (SELECT doc_id, unnest(tokset) AS token FROM cand),
              inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                COUNT(*) AS n_inter
                FROM inv a JOIN inv b
                  ON a.token = b.token AND a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id),
              pairs AS (SELECT id_a, id_b FROM inter
                JOIN sizes sa ON sa.doc_id = id_a
                JOIN sizes sb ON sb.doc_id = id_b
                WHERE CAST(n_inter AS DOUBLE)
                  / (sa.sz + sb.sz - n_inter) >= 0.8),
              edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                UNION ALL SELECT id_b, id_a FROM pairs),
              reach(src, dst) AS (
                SELECT doc_id, doc_id FROM cand
                UNION
                SELECT r.src, e.dst FROM reach r
                JOIN edges e ON r.dst = e.src)
              SELECT src AS doc_id, MIN(dst) AS cluster_id,
                src = MIN(dst) AS is_canonical
              FROM reach GROUP BY src ORDER BY doc_id""")),
    QueryDef("dedup_canonical", dedupCanonical,
      Some("""WITH RECURSIVE
              cand AS (SELECT doc_id,
                list_distinct(string_split(text, ' ')) AS tokset
                FROM documents WHERE doc_id % 10 = 0),
              sizes AS (SELECT doc_id, len(tokset) AS sz FROM cand),
              inv AS (SELECT doc_id, unnest(tokset) AS token FROM cand),
              inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                COUNT(*) AS n_inter
                FROM inv a JOIN inv b
                  ON a.token = b.token AND a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id),
              pairs AS (SELECT id_a, id_b FROM inter
                JOIN sizes sa ON sa.doc_id = id_a
                JOIN sizes sb ON sb.doc_id = id_b
                WHERE CAST(n_inter AS DOUBLE)
                  / (sa.sz + sb.sz - n_inter) >= 0.8),
              edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                UNION ALL SELECT id_b, id_a FROM pairs),
              reach(src, dst) AS (
                SELECT doc_id, doc_id FROM cand
                UNION
                SELECT r.src, e.dst FROM reach r
                JOIN edges e ON r.dst = e.src),
              labels AS (SELECT src AS doc_id, MIN(dst) AS cluster_id
                FROM reach GROUP BY src),
              q AS (SELECT doc_id,
                round(CAST(len(list_filter(arr,
                    x -> x IN ('the','a','of','and','to','in'))) AS DOUBLE)
                    / len(arr) * 0.5
                  + CAST(len(list_distinct(arr)) AS DOUBLE) / len(arr) * 0.5,
                  6) AS quality
                FROM (SELECT doc_id, string_split(text, ' ') AS arr
                      FROM documents WHERE doc_id % 10 = 0) t),
              j AS (SELECT l.doc_id, l.cluster_id, q.quality,
                row_number() OVER (PARTITION BY l.cluster_id
                  ORDER BY q.quality DESC, l.doc_id) AS rn
                FROM labels l JOIN q ON l.doc_id = q.doc_id)
              SELECT doc_id, cluster_id, quality, rn = 1 AS keep
              FROM j ORDER BY doc_id""")),
  )
}
