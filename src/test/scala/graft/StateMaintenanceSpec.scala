package graft

import graft.operators.Cdc
import graft.streaming.StreamOps
import org.apache.spark.sql.functions._

/** Incremental-state properties of the CDC upsert store and the
  * compaction operator: per-batch I/O is O(touched buckets), untouched
  * buckets are never rewritten, and at-least-once replay of a batch is
  * idempotent (the merge reads only versions strictly below its own
  * batchId — never a mutable "latest" pointer).
  */
class StateMaintenanceSpec extends GraftSpec {

  private def typed(rows: Seq[(Long, Double, Long, Long, String)]) = {
    import spark.implicits._
    rows.toDF("o_orderkey", "o_totalprice", "es", "ts", "type")
  }

  private def bucketDirs(path: String): Set[String] =
    Option(new java.io.File(path).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory && f.getName.startsWith("bucket="))
      .map(_.getName).toSet

  test("versionedRoot GC: same-basename hex siblings only; sentinel skips") {
    val tmp = sys.props("java.io.tmpdir")
    // unique kind per run: the sweep memoizes per (kind, basename, fp)
    val kind = s"vrt${System.nanoTime() % 1000000}"
    val sfDir = s"$tmp/graft_vrt_src/sf0.1" // only the basename matters
    def mk(name: String) = {
      val f = new java.io.File(s"$tmp/$name"); f.mkdirs(); f
    }
    val stale = mk(s"graft_${kind}_sf0_1_abc123") // superseded fingerprint
    val other = mk(s"graft_${kind}_sf0_1_v2_deadbeef") // OTHER sfDir whose
      // sanitized basename extends this one — must never be swept
    val legacyRoot = mk(s"graft_$kind") // pre-versioning shared root
    val cur = graft.Scratch.versionedRoot(kind, sfDir, "fffe12")
    try {
      assert(!stale.exists(), "superseded same-basename root must be GC'd")
      assert(other.exists(),
        "a different sfDir extending this basename must survive the sweep")
      assert(!legacyRoot.exists(), "legacy unversioned root must be GC'd")
      // fp "0" is the listing-failure sentinel: resolving under it must
      // never delete the current valid root out from under live readers
      val live = mk(s"graft_${kind}_sf0_1_aa")
      val sentinel = graft.Scratch.versionedRoot(kind, sfDir, "0")
      assert(live.exists(), "sentinel fingerprint must never GC")
      assert(sentinel.endsWith("_0"))
      graft.Scratch.deleteRecursively(live)
      // DISTINCT sfDirs sharing a sanitized basename (…/a/sf0.1 vs
      // …/b/sf0.1) must never sweep each other: the path TAG in the
      // r12 name format pins the sweep to one directory identity
      val sfDirB = s"$tmp/graft_vrt_src_b/sf0.1"
      val curB = new java.io.File(
        graft.Scratch.versionedRoot(kind, sfDirB, "cafe01"))
      curB.mkdirs()
      val curAgain = graft.Scratch.versionedRoot(kind, sfDir, "fffe13")
      assert(curB.exists(),
        "a same-basename root of a DIFFERENT sfDir must survive the sweep")
      graft.Scratch.deleteRecursively(curB)
      graft.Scratch.deleteRecursively(new java.io.File(curAgain))
    } finally Seq(new java.io.File(cur), other)
      .foreach(graft.Scratch.deleteRecursively)
  }

  test("fixtureFingerprint: missing/empty dirs yield the GC-skip sentinel") {
    // listFiles reports a missing dir by returning NULL (not throwing),
    // and a mid-swap dir can hold zero parquet files — both must map to
    // the "0" sentinel or the supersession GC would fire on a
    // real-looking empty-signature hash and delete the live root
    assert(graft.Scratch.fixtureFingerprint("/nonexistent/graft_fp") == "0")
    val empty = graft.Scratch.dir("fp_empty_test")
    assert(graft.Scratch.fixtureFingerprint(empty) == "0")
    assert(graft.Scratch.fixtureFingerprint(sf) != "0",
      "a real fixture dir must fingerprint to non-sentinel")
  }

  test("mutation machinery auto-writes the durable ledger (issue→apply)") {
    import graft.operators.Scans
    val scratch = graft.Scratch.dir("ledgertest")
    val (root, cut) = Scans.mutationStage(spark, sf, scratch)
    // issued-but-pending: one entry, parts_total at issue time, not done
    val idPending = Scans.issueMutation(root, "day",
      "ALTER TABLE t UPDATE value = value + 1 WHERE event_type = 'view'")
    val afterIssue = Scans.readLedgerEntries(root)
    assert(afterIssue.map(e => (e.id, e.partsDone, e.isDone))
      == Seq((idPending, 0L, 0)))
    assert(afterIssue.head.partsTotal ==
      graft.Scratch.listPartitionDirs(root, "day=")
        .count(_.getName != "day=__HIVE_DEFAULT_PARTITION__").toLong,
      "parts_total must be the non-null partition count at issue time")
    // a mutation run through mutatePartitions writes its OWN issue and
    // apply records — no caller-side bookkeeping anywhere
    val touched = Scans.mutatePartitions(spark, root, "day",
      d => !java.time.LocalDate.parse(d).isBefore(cut),
      _.filter(col("event_type") =!= "click"),
      s"ALTER TABLE t DELETE WHERE day >= $cut AND event_type = 'click'")
    assert(touched.nonEmpty, "fixture must span the cutoff")
    val entries = Scans.readLedgerEntries(root)
    assert(entries.map(_.id) == Seq(idPending, idPending + 1),
      "ids must be monotonic per root")
    val applied = entries.find(_.id == idPending + 1).get
    assert(applied.isDone == 1 && applied.partsDone == touched.size.toLong)
    assert(applied.command.contains("DELETE"))
    assert(entries.find(_.id == idPending).get.isDone == 0,
      "the pending mutation must stay pending")
    // zero-admission mutation drains to done (parts_done = 0), so an
    // operator watching the ledger sees it complete, not hang
    assert(Scans.mutatePartitions(spark, root, "day", _ => false,
      identity, "ALTER TABLE t DELETE WHERE false").isEmpty)
    val noop = Scans.readLedgerEntries(root).find(_.id == idPending + 2).get
    assert(noop.isDone == 1 && noop.partsDone == 0L)
    // the system.mutations view serves exactly the machinery's records
    val view = Scans.readMutationLedger(spark, root)
      .collect().map(r => (r.getLong(0), r.getInt(4)))
    assert(view.toSeq == Seq((idPending, 0), (idPending + 1, 1),
      (idPending + 2, 1)))
  }

  test("a real mutation key leaves a machinery-written ledger trace") {
    import graft.operators.Scans
    SparkEntry.queries("mutation_delete_where")(spark, sf).collect()
    val scratchRoot =
      new java.io.File(s"${sys.props("java.io.tmpdir")}/graft_scratch")
    // the key staged its table under a fresh mutdel_<nanoTime> dir;
    // newest suffix = this run (parallel suites never share the prefix)
    // scratch names are <prefix>_<nanoTime>_<counter> (the counter
    // disambiguates same-tick calls) — order on the numeric pair
    val newest = Option(scratchRoot.listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(_.getName.startsWith("mutdel_"))
      .maxBy { f =>
        val parts = f.getName.stripPrefix("mutdel_").split('_')
        (parts(0).toLong, parts.lift(1).map(_.toLong).getOrElse(0L))
      }
    val entries = Scans.readLedgerEntries(s"$newest/t")
    assert(entries.nonEmpty,
      s"mutation_delete_where left no ledger under $newest/t")
    assert(entries.forall(e => e.isDone == 1 && e.partsDone > 0L))
    assert(entries.exists(_.command.contains("DELETE")))
  }

  test("modify-column tolerates a null-day partition (virtual tier)") {
    import graft.operators.Scans
    import spark.implicits._
    // a layout WITH day=__HIVE_DEFAULT_PARTITION__: 3 dated days
    // spanning the cutoff plus 2 null-day rows (null-ts events)
    val base = graft.Scratch.dir("mutmodnull")
    val root = s"$base/t"
    val cut = java.time.LocalDate.parse("2024-01-03")
    val rows = Seq(
      (Some(java.sql.Date.valueOf("2024-01-01")), 1L, "view", 3.7),
      (Some(java.sql.Date.valueOf("2024-01-02")), 2L, "click", 5.2),
      (Some(java.sql.Date.valueOf("2024-01-04")), 3L, "view", 7.9),
      (None, 4L, "view", 11.5),
      (None, 5L, "purchase", 13.1))
    rows.toDF("day", "event_id", "event_type", "value")
      .write.partitionBy("day").parquet(root)
    val nullDir = new java.io.File(s"$root/day=__HIVE_DEFAULT_PARTITION__")
    assert(nullDir.isDirectory, "fixture must materialize the null-day dir")
    val out = Scans.modifyColumnApply(spark, base, root, cut)
      .collect().map(r => (Option(r.getDate(0)).map(_.toString),
        r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(4)))
    // every row survives: null-day rows serve floor(value) virtually
    // (11+13=24), pre-cut days are materialized, post-cut day virtual;
    // NULLS LAST pins the null-day group to the end on both engines
    assert(out.toSeq == Seq(
      (Some("2024-01-01"), 1L, 3L, 0L, 1),
      (Some("2024-01-02"), 1L, 5L, 0L, 1),
      (Some("2024-01-04"), 1L, 7L, 1L, 1),
      (None, 2L, 24L, 2L, 1)), out.toSeq.toString)
    // and the null-day partition's files were never rewritten (cold):
    // cold_files_unchanged == 1 above already proves the SHA snapshot
    // (which now INCLUDES the null-day dir) matched before vs after
  }

  test("ledger counts model COUNT(DISTINCT partCol): null partition excluded") {
    import graft.operators.Scans
    import spark.implicits._
    // 3 dated partitions + the Hive null-partition dir (null-day rows):
    // the DuckDB oracle models parts_total as COUNT(DISTINCT day), which
    // excludes NULL — so must the ledger (r11 ADVICE medium finding)
    val root = s"${graft.Scratch.dir("ledgernull")}/t"
    Seq(
      (Some(java.sql.Date.valueOf("2024-01-01")), 1L, "view", 1.0),
      (Some(java.sql.Date.valueOf("2024-01-02")), 2L, "click", 2.0),
      (Some(java.sql.Date.valueOf("2024-01-03")), 3L, "view", 3.0),
      (None, 4L, "click", 4.0))
      .toDF("day", "event_id", "event_type", "value")
      .write.partitionBy("day").parquet(root)
    assert(new java.io.File(s"$root/day=__HIVE_DEFAULT_PARTITION__")
      .isDirectory, "fixture must materialize the null-day dir")
    val id = Scans.issueMutation(root, "day", "ALTER TABLE t DELETE WHERE x")
    assert(Scans.readLedgerEntries(root).find(_.id == id).get.partsTotal
      == 3L, "parts_total must exclude the null partition")
    // admit-everything apply: parts_done counts the same universe, so
    // done <= total holds even though the null dir WAS rewritten
    Scans.mutatePartitions(spark, root, "day", _ => true,
      _.filter(col("event_type") =!= "click"),
      "ALTER TABLE t DELETE WHERE event_type = 'click'")
    val applied = Scans.readLedgerEntries(root).maxBy(_.id)
    assert(applied.partsTotal == 3L && applied.partsDone == 3L
      && applied.isDone == 1, applied.toString)
    // the rewrite itself DID cover the null partition's rows
    val left = spark.read.parquet(root).select("event_id")
      .collect().map(_.getLong(0)).sorted
    assert(left.toSeq == Seq(1L, 3L), left.mkString(","))
  }

  test("a mutation invalidates every routing registration on its base") {
    import graft.operators.Scans
    import spark.implicits._
    val scratch = graft.Scratch.dir("mutinval")
    val root = s"$scratch/base"
    Seq((java.sql.Date.valueOf("2024-01-01"), 1L, 1.0),
      (java.sql.Date.valueOf("2024-01-02"), 2L, 2.0))
      .toDF("day", "k", "v").write.partitionBy("day").parquet(root)
    graft.plans.MvRouting.register(graft.plans.MvRouting.MvDef(
      basePath = root, mvPath = s"$scratch/mv", groupCols = Set("k"),
      sumMap = Map("v" -> "sv"), countCol = "n"))
    graft.plans.ProjectionRouting.register(graft.plans.ProjectionRouting
      .ProjDef(root, "day", s"$scratch/alt", "k"))
    graft.plans.TextIndexRouting.register(graft.plans.TextIndexRouting
      .TextIndexDef(root, "text", 256, Map.empty))
    assert(graft.plans.MvRouting.forPath(root).nonEmpty)
    Scans.mutatePartitions(spark, root, "day", _ => true,
      _.filter(col("k") =!= 1L), "ALTER TABLE t DELETE WHERE k = 1")
    // the machinery (not caller discipline) dropped all three — stale
    // derived artifacts are unreachable the moment the swap lands
    assert(graft.plans.MvRouting.forPath(root).isEmpty,
      "MV registration must be invalidated by the mutation")
    assert(graft.plans.ProjectionRouting.forPath(root).isEmpty,
      "projection registration must be invalidated by the mutation")
    assert(graft.plans.TextIndexRouting.forPath(root).isEmpty,
      "text-index registration must be invalidated by the mutation")
  }

  test("mv routing falls through when the registered MV path was GC'd") {
    import org.apache.spark.sql.types.DecimalType
    val s = spark.newSession() // routing armed on a clone only
    val scratch = graft.Scratch.dir("mvstale")
    val basePath = s"$scratch/base"
    spark.range(10)
      .select((col("id") % 2).as("g"), col("id").cast("double").as("v"))
      .write.parquet(basePath)
    // registry entry dangles: mvPath was superseded-GC'd before re-stage
    graft.plans.MvRouting.register(graft.plans.MvRouting.MvDef(
      basePath = basePath, mvPath = s"$scratch/missing_mv",
      groupCols = Set("g"), sumMap = Map("v" -> "sum_v"), countCol = "n"))
    graft.plans.MvRouting.enable(s)
    val q = s.read.parquet(basePath).groupBy(col("g"))
      .agg(sum(col("v").cast(DecimalType(30, 6))).as("sv"),
        count(lit(1)).as("n"))
      .orderBy(col("g"))
    // must not crash inside the optimizer; must scan the base, unrouted
    assert(q.queryExecution.executedPlan.toString.contains("base"),
      "dangling MV registration must fall through to the base scan")
    val rows = q.collect().map(r =>
      (r.getLong(0), r.getDecimal(1).doubleValue, r.getLong(2)))
    assert(rows.toSeq == Seq((0L, 20.0, 5L), (1L, 25.0, 5L)))
  }

  test("bucketed CDC upsert rewrites only touched buckets; replay idempotent") {
    val state = java.nio.file.Files
      .createTempDirectory("graft_cdc_state_test").toString
    // batch 0: keys 0..7 → every bucket (pk % 8)
    StreamOps.mergeCdcTyped(
      typed((0L until 8L).map(k => (k, 100.0 + k, 10L, 10L, "INSERT"))),
      0L, state)
    assert(bucketDirs(s"$state/v=0").size == StreamOps.cdcStateBuckets)
    // batch 1 touches buckets 0 (new key 8) and 1 (update key 1) only
    val b1 = typed(Seq((8L, 200.0, 20L, 20L, "INSERT"),
      (1L, 999.0, 20L, 21L, "UPDATE")))
    StreamOps.mergeCdcTyped(b1, 1L, state)
    assert(bucketDirs(s"$state/v=1") == Set("bucket=0", "bucket=1"),
      "untouched buckets must not be rewritten")
    // untouched buckets still served from v=0; touched ones from v=1
    val latest = StreamOps.cdcBucketPaths(state, Long.MaxValue)
    assert(latest(2).contains("/v=0/") && latest(0).contains("/v=1/"))
    val before = StreamOps.readCdcState(spark, state)
      .orderBy("o_orderkey", "es").collect().toSeq
    // at-least-once replay of batch 1: the merge reads only versions < 1,
    // so re-executing it cannot read its own half-written output
    StreamOps.mergeCdcTyped(b1, 1L, state)
    val after = StreamOps.readCdcState(spark, state)
      .orderBy("o_orderkey", "es").collect().toSeq
    assert(before == after, "replay of the same batchId must be a no-op")
    val m = StreamOps.readCdcState(spark, state)
      .select("o_orderkey", "o_totalprice").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(m(1L) == 999.0 && m(8L) == 200.0 && m(2L) == 102.0 && m.size == 9)
  }

  test("mvMaintainBatch: untouched base buckets byte-identical; fold + route exact") {
    val root = graft.Scratch.dir("graft_mvmaint_test")
    val stateDir = s"$root/merge_state"
    val baseDir = s"$root/smm_base"
    val mvDir = s"$root/smm_mv"
    // hand-built Canal envelopes — (okey, ckey, price, es, type, oldPrice)
    def env(rows: Seq[(Long, Long, Double, Long, String, Option[Double])]) = {
      import spark.implicits._
      val lines = rows.map { case (k, c, p, es, t, old) =>
        val oldPart = old.map(o => s""","old":[{"o_totalprice":"$o"}]""")
          .getOrElse("")
        s"""{"id":$k,"database":"d","table":"orders","pkNames":["o_orderkey"],"isDdl":false,"type":"$t","es":$es,"ts":$es,"data":[{"o_orderkey":"$k","o_custkey":"$c","o_totalprice":"$p"}]$oldPart}"""
      }
      spark.read.schema(Cdc.envelopeSchema).json(lines.toDS)
    }
    def baseFiles(): Map[String, (Long, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory)
          Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
            .toSeq.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(baseDir))
        .map(f => f.getPath -> ((f.length(), f.lastModified()))).toMap
    }
    try {
      // batch 0: 32 inserts, every bucket touched (pk % 8)
      val ins = (0L until 32L).map(k =>
        (k, k % 4, 100.0 + k, 10L, "INSERT", None: Option[Double]))
      StreamOps.mvMaintainBatch(env(ins), 0L, stateDir, baseDir, mvDir)
      assert(bucketDirs(baseDir).size == StreamOps.cdcStateBuckets)
      val snap0 = baseFiles()
      // batch 1 touches buckets 0 (update key 8) and 1 (delete key 17)
      val b1 = env(Seq(
        (8L, 0L, 999.0, 20L, "UPDATE", Some(108.0)),
        (17L, 1L, 117.0, 20L, "DELETE", None)))
      StreamOps.mvMaintainBatch(b1, 1L, stateDir, baseDir, mvDir)
      val snap1 = baseFiles()
      val untouched0 = snap0.filterNot(e =>
        e._1.contains("/bucket=0/") || e._1.contains("/bucket=1/"))
      // the core O(touched) publish claim: files of buckets 2..7 are
      // BYTE-IDENTICAL objects across the batch — same path, same
      // length, same mtime; never rewritten, not merely equal content
      assert(untouched0.forall { case (p, m) => snap1.get(p).contains(m) },
        "untouched buckets' base files were rewritten by the publish")
      assert(snap1.keys.exists(p => p.contains("/bucket=0/") &&
        !snap0.contains(p)), "touched bucket 0 must have been republished")
      // fold + registration: a routed probe serves the post-batch truth
      val s2 = graft.Sessions.isolatedClone(spark)
      graft.plans.MvRouting.enable(s2)
      def probe() = {
        val df = s2.read.parquet(baseDir).groupBy(col("o_custkey"))
          .agg(Det.dsum(col("o_totalprice")).as("spend"),
            count(lit(1)).as("n")).orderBy(col("o_custkey"))
        val p = df.queryExecution.executedPlan.toString
        assert(p.contains("smm_mv") && !p.contains("smm_base"),
          s"probe must be served from the maintained MV:\n${p.take(600)}")
        df.collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
          .toSeq
      }
      val expected = {
        val live = (0L until 32L).filterNot(_ == 17L)
          .map(k => (k % 4, if (k == 8L) 999.0 else 100.0 + k))
        live.groupBy(_._1).map { case (c, vs) =>
          (c, vs.map(_._2).sum, vs.size.toLong) }.toSeq.sortBy(_._1)
      }
      assert(probe() == expected, "routed fold diverged from recompute")
      // at-least-once replay of batch 1: same content, untouched
      // buckets STILL the original byte-identical objects
      StreamOps.mvMaintainBatch(b1, 1L, stateDir, baseDir, mvDir)
      val snap2 = baseFiles()
      assert(untouched0.forall { case (p, m) => snap2.get(p).contains(m) },
        "replay rewrote untouched buckets")
      assert(probe() == expected, "replay changed the routed result")
    } finally graft.plans.MvRouting.invalidate(baseDir)
  }

  test("mvMaintainBatch work: one state shuffle, base from the merge, no inference") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution,
      SQLExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
      QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.util.QueryExecutionListener
    val root = graft.Scratch.dir("graft_mvwork_test")
    val stateDir = s"$root/merge_state"
    val baseDir = s"$root/smm_base"
    val mvDir = s"$root/smm_mv"
    val (partsBase, partsMv) = (s"$root/parts_base", s"$root/parts_mv")
    def env(rows: Seq[(Long, Long, Double, Long, String, Option[Double])]) = {
      import spark.implicits._
      val lines = rows.map { case (k, c, p, es, t, old) =>
        val oldPart = old.map(o => s""","old":[{"o_totalprice":"$o"}]""")
          .getOrElse("")
        s"""{"id":$k,"database":"d","table":"orders","pkNames":["o_orderkey"],"isDdl":false,"type":"$t","es":$es,"ts":$es,"data":[{"o_orderkey":"$k","o_custkey":"$c","o_totalprice":"$p"}]$oldPart}"""
      }
      spark.read.schema(Cdc.envelopeSchema).json(lines.toDS)
    }
    // every operator of a physical plan, looking through adaptive
    // wrappers, query stages and (when `intoCache`) cached relations
    def nodes(p: SparkPlan, intoCache: Boolean): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan, intoCache)
      case q: QueryStageExec => nodes(q.plan, intoCache)
      case m: InMemoryTableScanExec if intoCache =>
        nodes(m.relation.cachedPlan, intoCache)
      case other => other.children.flatMap(nodes(_, intoCache))
    })
    def shuffles(p: SparkPlan, intoCache: Boolean) =
      nodes(p, intoCache).count(_.isInstanceOf[ShuffleExchangeExec])
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Option[String]]()
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[(String, SparkPlan)]()
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY))))
        ()
      }
    }
    val writeListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        // the write command runs inside the adaptive plan's result stage
        nodes(qe.executedPlan, intoCache = false)
          .collectFirst { case w: DataWritingCommandExec => w }
          .foreach { w => w.cmd match {
            case i: InsertIntoHadoopFsRelationCommand =>
              writes.add(i.outputPath.toString -> w.child); ()
            case _ => ()
          } }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    try {
      // batch 0: every bucket and MV v=0 exist before the measured batch
      StreamOps.mvMaintainBatch(env((0L until 32L).map(k =>
        (k, k % 4, 100.0 + k, 10L, "INSERT", None: Option[Double]))),
        0L, stateDir, baseDir, mvDir)
      // batch 1: several changes over three buckets (0, 1, 2)
      val b1 = env(Seq(
        (8L, 0L, 999.0, 20L, "UPDATE", Some(108.0)),
        (17L, 1L, 117.0, 20L, "DELETE", None),
        (34L, 2L, 340.0, 21L, "INSERT", None),
        (8L, 0L, 555.0, 22L, "UPDATE", Some(999.0))))
      def measured(body: => Unit): Unit = {
        jobs.clear(); writes.clear()
        org.apache.spark.TestBridge.drainListenerBus(spark.sparkContext)
        spark.sparkContext.addSparkListener(jobListener)
        spark.listenerManager.register(writeListener)
        try {
          body
          org.apache.spark.TestBridge.drainListenerBus(spark.sparkContext)
        } finally {
          spark.sparkContext.removeSparkListener(jobListener)
          spark.listenerManager.unregister(writeListener)
        }
      }
      measured(StreamOps.mvMaintainBatch(b1, 1L, stateDir, baseDir, mvDir))
      import scala.jdk.CollectionConverters._
      def written = writes.asScala.toSeq
      def writeTo(dir: String) = {
        val w = written.filter(_._1.endsWith(dir))
        assert(w.size == 1, s"expected one write to $dir, saw ${written.map(_._1)}")
        w.head._2
      }
      // the merge: prev ∪ batch shuffled ONCE, the window inside it
      // (written to the version's staging dir, then renamed to v=1)
      val merge = writeTo("/merge_state/.txn_v=1")
      assert(shuffles(merge, intoCache = true) == 1,
        s"the merge must shuffle the state once:\n$merge")
      // the live base is published from the cached merge result: no
      // further shuffle, and no scan of the state files just written
      val base = writeTo("/smm_base")
      val baseOps = nodes(base, intoCache = false)
      assert(shuffles(base, intoCache = false) == 0 &&
        baseOps.exists(_.isInstanceOf[InMemoryTableScanExec]) &&
        !baseOps.exists(_.isInstanceOf[FileSourceScanExec]),
        s"the base publish must read the cached merge:\n$base")
      // one file per touched bucket dir, in the state and the base alike
      for (d <- Seq(s"$stateDir/v=1", baseDir); b <- 0 to 2)
        assert(new java.io.File(s"$d/bucket=$b").list()
          .count(_.endsWith(".parquet")) == 1, s"files in $d/bucket=$b")
      // every job belongs to a query — schema inference of the prior
      // state or MV would run a bare footer-reading job — and the job
      // count stays at its ceiling: the touched-bucket probe 3 (batch
      // cache, shuffle, result), the merge 3 (shuffle, merge cache,
      // write), the base publish 1, the MV fold 2 (shuffle, write)
      def checkJobs(): Unit = {
        val js = jobs.asScala.toSeq
        assert(js.forall(_.nonEmpty),
          s"${js.count(_.isEmpty)} of ${js.size} jobs ran outside a query")
        assert(js.size <= 9, s"one mvMaintainBatch ran ${js.size} jobs")
      }
      checkJobs()
      // and the batch's answer is right
      val liveBase = spark.read.parquet(baseDir)
        .select("o_orderkey", "o_totalprice").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(liveBase.size == 32 && liveBase(8L) == 555.0 &&
        liveBase(34L) == 340.0 && !liveBase.contains(17L))
      // with parts live: 100 orders per bucket, then five batches that
      // each change one order per bucket leave every bucket a base and
      // five parts — 48 bucket dirs in 6 version dirs. The measured
      // batch reads them all; passed as bucket dirs (over 32 paths) the
      // read would start Spark's parallel listing job, outside a query
      val partsDir = s"$root/parts_state"
      val upd = (b: Long) => env((0L until 8L).map(k =>
        (8 * b + k, k % 4, 1000.0 * b + k, 10L + b, "UPDATE",
          Some(100.0 + 8 * b + k): Option[Double])))
      StreamOps.mvMaintainBatch(env((0L until 800L).map(k =>
        (k, k % 4, 100.0 + k, 10L, "INSERT", None: Option[Double]))),
        0L, partsDir, partsBase, partsMv)
      (1L to 5L).foreach(b =>
        StreamOps.mvMaintainBatch(upd(b), b, partsDir, partsBase, partsMv))
      def bucketDirsBelow(v: Long) = (0L until v).map(i =>
        bucketDirs(s"$partsDir/v=$i").size).sum
      assert(bucketDirsBelow(6L) == 48, "every bucket has a base and 5 parts")
      measured(StreamOps.mvMaintainBatch(upd(6L), 6L, partsDir, partsBase, partsMv))
      assert(shuffles(writeTo("/parts_state/.txn_v=6"), intoCache = true) == 1)
      checkJobs()
      // the batch wrote 8 one-row parts, no base
      assert(bucketDirs(s"$partsDir/v=6").size == 8 &&
        (0 until 8).forall(b => !new java.io.File(
          s"$partsDir/v=6/bucket=$b/${StreamOps.cdcBaseMarker}").exists()))
      assert(spark.read.parquet(s"$partsDir/v=6").count() == 8)
      val liveParts = spark.read.parquet(partsBase)
        .select("o_orderkey", "o_totalprice").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(liveParts.size == 800 && liveParts(50L) == 6002.0 &&
        liveParts(8L) == 1000.0 && liveParts(47L) == 5007.0 && liveParts(7L) == 107.0)
    } finally Seq(baseDir, partsBase).foreach(graft.plans.MvRouting.invalidate)
  }

  test("mvMaintainBatch crash window: torn publish never serves a stale MV") {
    // the window VERDICT r14 task 7 names: a crash BETWEEN the base
    // publish and the MV fold + re-registration. The defense is the
    // registry fingerprint — the still-registered def snapshotted the
    // PRE-batch listing, the torn base listing no longer matches, so a
    // routed query FALLS THROUGH to the base instead of reading an MV
    // that no longer describes it; replaying the batch converges.
    val root = graft.Scratch.dir("graft_mvcrash_test")
    val stateDir = s"$root/merge_state"
    val baseDir = s"$root/smm_base"
    val mvDir = s"$root/smm_mv"
    def env(rows: Seq[(Long, Long, Double, Long, String, Option[Double])]) = {
      import spark.implicits._
      val lines = rows.map { case (k, c, p, es, t, old) =>
        val oldPart = old.map(o => s""","old":[{"o_totalprice":"$o"}]""")
          .getOrElse("")
        s"""{"id":$k,"database":"d","table":"orders","pkNames":["o_orderkey"],"isDdl":false,"type":"$t","es":$es,"ts":$es,"data":[{"o_orderkey":"$k","o_custkey":"$c","o_totalprice":"$p"}]$oldPart}"""
      }
      spark.read.schema(Cdc.envelopeSchema).json(lines.toDS)
    }
    try {
      val ins = (0L until 16L).map(k =>
        (k, k % 2, 100.0 + k, 10L, "INSERT", None: Option[Double]))
      StreamOps.mvMaintainBatch(env(ins), 0L, stateDir, baseDir, mvDir)
      // simulate the torn batch-1 publish: bucket 0's dir replaced by
      // hand (the update applied), crash before fold/register
      val b1row = Seq((8L, 0L, 999.0, 20L, "UPDATE", Some(108.0)))
      import spark.implicits._
      Seq((8L, 0L, 999.0)).toDF("o_orderkey", "o_custkey", "o_totalprice")
        .unionByName(spark.read.parquet(s"$baseDir/bucket=0")
          .filter(col("o_orderkey") =!= 8L)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")))
        .write.mode("overwrite").parquet(s"$root/torn_stage")
      graft.Scratch.deleteRecursively(new java.io.File(s"$baseDir/bucket=0"))
      java.nio.file.Files.move(
        java.nio.file.Paths.get(s"$root/torn_stage"),
        java.nio.file.Paths.get(s"$baseDir/bucket=0"))
      val s2 = graft.Sessions.isolatedClone(spark)
      graft.plans.MvRouting.enable(s2)
      def plan() = s2.read.parquet(baseDir).groupBy(col("o_custkey"))
        .agg(Det.dsum(col("o_totalprice")).as("spend"))
        .queryExecution.executedPlan.toString
      val torn = plan()
      assert(torn.contains("smm_base") && !torn.contains("smm_mv"),
        s"a torn publish must UNROUTE (stale-MV window):\n${torn.take(600)}")
      // recovery: the checkpoint replays batch 1 in full — publish,
      // fold, re-register — and the route comes back, values exact
      StreamOps.mvMaintainBatch(env(b1row), 1L, stateDir, baseDir, mvDir)
      val df = s2.read.parquet(baseDir).groupBy(col("o_custkey"))
        .agg(Det.dsum(col("o_totalprice")).as("spend"),
          count(lit(1)).as("n")).orderBy(col("o_custkey"))
      val healed = df.queryExecution.executedPlan.toString
      assert(healed.contains("smm_mv") && !healed.contains("smm_base"),
        s"replayed batch must re-arm the route:\n${healed.take(600)}")
      val expected = (0L until 16L)
        .map(k => (k % 2, if (k == 8L) 999.0 else 100.0 + k))
        .groupBy(_._1).map { case (c, vs) =>
          (c, vs.map(_._2).sum, vs.size.toLong) }.toSeq.sortBy(_._1)
      assert(df.collect().map(r =>
        (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq == expected)
    } finally graft.plans.MvRouting.invalidate(baseDir)
  }

  test("version GC prunes superseded dirs with a one-batch replay margin") {
    val state = java.nio.file.Files
      .createTempDirectory("graft_cdc_gc_test").toString
    def versionDirs(): Set[String] =
      Option(new java.io.File(state).listFiles())
        .getOrElse(Array.empty[java.io.File])
        .filter(f => f.isDirectory && f.getName.startsWith("v="))
        .map(_.getName).toSet
    // batch 0: all 8 buckets; batch 1: buckets 0,1 only
    StreamOps.mergeCdcTyped(
      typed((0L until 8L).map(k => (k, 100.0 + k, 10L, 10L, "INSERT"))),
      0L, state)
    StreamOps.mergeCdcTyped(
      typed(Seq((8L, 200.0, 20L, 20L, "INSERT"),
        (1L, 999.0, 20L, 21L, "UPDATE"))), 1L, state)
    // batch 2 rewrites every bucket — v=0/v=1 become dead, but only
    // w.r.t. v=2 itself, so the replay margin keeps them this batch
    StreamOps.mergeCdcTyped(
      typed((0L until 8L).map(k => (k, 300.0 + k, 30L, 30L, "UPDATE"))),
      2L, state)
    assert(versionDirs() == Set("v=0", "v=1", "v=2"),
      "versions a replay of batch 2 would read must survive its own GC")
    // batch 3: every pre-2 version is now fully superseded below 3 → GC'd
    StreamOps.mergeCdcTyped(
      typed(Seq((16L, 400.0, 40L, 40L, "INSERT"))), 3L, state)
    assert(versionDirs() == Set("v=2", "v=3"),
      s"superseded versions not collected: ${versionDirs()}")
    // state is still correct after pruning
    val m = StreamOps.readCdcState(spark, state)
      .select("o_orderkey", "o_totalprice").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(m(0L) == 300.0 && m(7L) == 307.0 && m(16L) == 400.0
      && m(8L) == 200.0 && m.size == 10)
    // replay of batch 3 after its GC still reads intact inputs
    StreamOps.mergeCdcTyped(
      typed(Seq((16L, 400.0, 40L, 40L, "INSERT"))), 3L, state)
    val m2 = StreamOps.readCdcState(spark, state)
      .select("o_orderkey", "o_totalprice").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(m2 == m, "replay after GC must be a no-op")
  }

  test("version GC steady state: disk metadata stays O(buckets) over a long run") {
    val state = java.nio.file.Files
      .createTempDirectory("graft_cdc_gc_loop_test").toString
    def nVersions(): Int =
      Option(new java.io.File(state).listFiles())
        .getOrElse(Array.empty[java.io.File])
        .count(f => f.isDirectory && f.getName.startsWith("v="))
    // seed every bucket, then 10 single-bucket batches: the version
    // count must stay bounded by buckets + replay margin, never O(history)
    StreamOps.mergeCdcTyped(
      typed((0L until 8L).map(k => (k, 100.0 + k, 10L, 10L, "INSERT"))),
      0L, state)
    (1L to 10L).foreach { b =>
      StreamOps.mergeCdcTyped(
        typed(Seq((b % 8, 500.0 + b, 10L + b, 10L + b, "UPDATE"))), b, state)
      assert(nVersions() <= StreamOps.cdcStateBuckets + 2,
        s"batch $b left $nVersions() version dirs — metadata grows with history")
    }
    // after a final all-bucket rewrite + one more batch, only the
    // steady-state pair remains
    StreamOps.mergeCdcTyped(
      typed((0L until 8L).map(k => (k, 900.0 + k, 99L, 99L, "UPDATE"))),
      11L, state)
    StreamOps.mergeCdcTyped(
      typed(Seq((0L, 1000.0, 100L, 100L, "UPDATE"))), 12L, state)
    assert(nVersions() <= 2, s"steady state after full rewrite: $nVersions()")
    val m = StreamOps.readCdcState(spark, state)
      .select("o_orderkey", "o_totalprice").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(m(0L) == 1000.0 && m(7L) == 907.0 && m.size == 8)
  }

  /** The merge state as key → (price, es, ts, type), read back. */
  private def cdcState(state: String): Map[Long, (Double, Long, Long, String)] =
    StreamOps.readCdcState(spark, state).collect().map(r =>
      r.getLong(0) -> ((r.getDouble(1), r.getLong(2), r.getLong(3), r.getString(4))))
      .toMap

  /** The bucket dirs one version wrote, split into (parts, bases). */
  private def partsAndBases(state: String, v: Long): (Set[Int], Set[Int]) =
    graft.Scratch.listPartitionDirs(s"$state/v=$v", "bucket=").toSet
      .partition(d => !new java.io.File(d, StreamOps.cdcBaseMarker).exists()) match {
      case (p, b) => (p.map(_.getName.drop(7).toInt), b.map(_.getName.drop(7).toInt))
    }

  private def versionCount(state: String): Int =
    graft.Scratch.listPartitionDirs(state, "v=").length

  test("CDC merge: an (es, ts) tie goes to the later batch, then to the row columns") {
    def price(state: String) = StreamOps.readCdcState(spark, state)
      .filter(col("o_orderkey") === 41L).select("o_totalprice").collect()
      .map(_.getDouble(0)).toSeq
    val conf = spark.conf.get("spark.sql.shuffle.partitions")
    // alone, key 41's bucket compacts on every batch; among 80 other
    // keys it takes parts, so the read settles the tie as well
    try for (n <- Seq("2", "7"); others <- Seq(0L, 80L)) {
      spark.conf.set("spark.sql.shuffle.partitions", n)
      val rest = (0L until others).filter(_ != 41L)
        .map(k => (k, 100.0 + k, 1L, 1L, "INSERT"))
      for ((a, b) <- Seq((10.0, 20.0), (20.0, 10.0))) {
        val state = java.nio.file.Files
          .createTempDirectory("graft_cdc_tie_test").toString
        StreamOps.mergeCdcTyped(typed(rest :+ ((41L, a, 5L, 5L, "INSERT"))), 0L, state)
        StreamOps.mergeCdcTyped(typed(Seq((41L, b, 5L, 5L, "UPDATE"))), 1L, state)
        assert(price(state) == Seq(b),
          s"a tie with the state must go to the later batch ($n partitions, $others other keys)")
        assert(partsAndBases(state, 1L)._1 == (if (others == 0L) Set() else Set(1)))
        // two tied rows in one batch, in both arrival orders (a replay
        // of batch 2 reads the same inputs)
        val tied = Seq((41L, 30.0, 6L, 6L, "UPDATE"), (41L, 40.0, 6L, 6L, "UPDATE"))
        val won = Seq(tied, tied.reverse).map { rows =>
          StreamOps.mergeCdcTyped(typed(rows), 2L, state)
          price(state)
        }
        assert(won == Seq(Seq(40.0), Seq(40.0)),
          s"a tie inside one batch must not depend on arrival order: $won " +
            s"($n partitions, $others other keys)")
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", conf)
  }

  test("CDC parts: live version dirs stay bounded over a long run; state exact") {
    val state = java.nio.file.Files
      .createTempDirectory("graft_cdc_parts_loop_test").toString
    val rnd = new scala.util.Random(5)
    val keys = 2000L
    val model = scala.collection.mutable.Map[Long, (Double, Long, Long, String)]()
    def apply(rows: Seq[(Long, Double, Long, Long, String)], b: Long): Unit = {
      StreamOps.mergeCdcTyped(typed(rows), b, state)
      rows.foreach { case (k, p, es, ts, t) => model(k) = (p, es, ts, t) }
    }
    apply((0L until keys).map(k => (k, 100.0 + k, 1L, 1L, "INSERT")), 0L)
    var parts, bases = 0
    (1L to 40L).foreach { b =>
      // mostly small batches over every bucket, a large one every tenth
      // batch, and a one-bucket batch every seventh
      val ks =
        if (b % 10 == 0) Seq.fill(1200)(rnd.nextLong(keys))
        else if (b % 7 == 0) Seq.fill(3)(rnd.nextLong(keys / 8) * 8 + b % 8)
        else Seq.fill(16 + rnd.nextInt(64))(rnd.nextLong(keys))
      apply(ks.distinct.map(k =>
        (k, b * 10000.0 + k, b + 1, 1L, if (k % 5 == 0) "DELETE" else "UPDATE")), b)
      val (p, bs) = partsAndBases(state, b)
      parts += p.size; bases += bs.size
      assert(versionCount(state) <=
        StreamOps.cdcStateBuckets + StreamOps.cdcMaxParts + 2,
        s"batch $b left ${versionCount(state)} version dirs")
    }
    assert(parts > 0 && bases > 0, s"$parts parts and $bases bases written")
    assert(cdcState(state) == model, "state differs from the model")
  }

  test("readCdcState: a key filter goes below the latest-per-key window") {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Window => WindowNode}
    import org.apache.spark.sql.execution.FileSourceScanExec
    val state = java.nio.file.Files
      .createTempDirectory("graft_cdc_lookup_test").toString
    StreamOps.mergeCdcTyped(
      typed((0L until 80L).map(k => (k, 100.0 + k, 1L, 1L, "INSERT"))), 0L, state)
    StreamOps.mergeCdcTyped(typed(Seq((17L, 999.0, 2L, 1L, "UPDATE"))), 1L, state)
    assert(partsAndBases(state, 1L) == ((Set(1), Set())), "bucket 1 took a part")
    val df = StreamOps.readCdcState(spark, state).filter(col("o_orderkey") === 17L)
    def onKey(f: Filter) = f.condition.references.exists(_.name == "o_orderkey")
    val plan = df.queryExecution.optimizedPlan
    val windows = plan.collect { case w: WindowNode => w }
    assert(windows.size == 1, s"one window expected:\n$plan")
    assert(windows.head.child.exists { case f: Filter => onKey(f); case _ => false },
      s"the key filter must sit below the window:\n$plan")
    assert(!plan.exists {
      case f: Filter => onKey(f) && f.child.exists(_.isInstanceOf[WindowNode])
      case _ => false
    }, s"no key filter may stay above the window:\n$plan")
    assert(df.queryExecution.sparkPlan.collect { case f: FileSourceScanExec => f }
      .exists(_.dataFilters.exists(_.references.exists(_.name == "o_orderkey"))),
      "the key filter must reach the scan")
    assert(df.select("o_totalprice").collect().map(_.getDouble(0)).toSeq == Seq(999.0))
  }

  test("CDC parts durable steps: an unmarked base reads right and supersedes nothing") {
    val state = java.nio.file.Files
      .createTempDirectory("graft_cdc_marker_test").toString
    val model = scala.collection.mutable.Map[Long, Double]()
    def apply(rows: Seq[(Long, Double, Long, Long, String)], b: Long): Unit = {
      StreamOps.mergeCdcTyped(typed(rows), b, state)
      rows.foreach { case (k, p, _, _, _) => model(k) = p }
    }
    def prices() = cdcState(state).map { case (k, v) => k -> v._1 }
    // 10 keys per bucket; batch 1 writes a part to bucket 1, batch 2
    // compacts bucket 1 (3 + 2 of its 10 rows changed) and parts bucket 2
    apply((0L until 80L).map(k => (k, 100.0 + k, 1L, 1L, "INSERT")), 0L)
    apply(Seq(1L, 9L).map(k => (k, 200.0 + k, 2L, 1L, "UPDATE")), 1L)
    val b2 = Seq(17L, 25L, 33L, 2L).map(k => (k, 300.0 + k, 3L, 1L, "UPDATE"))
    apply(b2, 2L)
    assert(partsAndBases(state, 1L) == ((Set(1), Set())))
    assert(partsAndBases(state, 2L) == ((Set(2), Set(1))))
    // the crash: bucket 1's new base is written, its marker is not
    val marker = new java.io.File(s"$state/v=2/bucket=1/${StreamOps.cdcBaseMarker}")
    assert(marker.delete())
    assert(prices() == model, "an unmarked base must read as a part")
    // GC must not count it: v=1 (bucket 1's part) is still needed
    assert(StreamOps.gcCdcVersions(state, 3L).isEmpty)
    assert(new java.io.File(s"$state/v=1").isDirectory)
    // the replay of batch 2 marks the base; the next GC collects v=1
    apply(b2, 2L)
    assert(marker.exists())
    assert(StreamOps.gcCdcVersions(state, 3L) == Seq(1L))
    assert(prices() == model)
    // a merge over the unmarked state compacts bucket 1 again and stays exact
    assert(marker.delete())
    apply(Seq((41L, 400.0, 4L, 1L, "UPDATE")), 3L)
    assert(partsAndBases(state, 3L) == ((Set(), Set(1))))
    assert(prices() == model)
  }

  test("CDC parts durable steps: a torn txn staging of parts is swept; replay converges") {
    val root = graft.Scratch.dir("graft_cdc_txn_parts_test")
    val (a, b) = (s"$root/a", s"$root/b")
    val batches = Seq(
      (0L until 80L).map(k => (k, 100.0 + k, 1L, 1L, "INSERT")),
      Seq(3L, 12L).map(k => (k, 200.0 + k, 2L, 1L, "UPDATE")),
      Seq((5L, 0.0, 3L, 1L, "DELETE"), (22L, 322.0, 3L, 1L, "UPDATE"),
        (80L, 380.0, 3L, 1L, "INSERT")))
    val ends = Seq(80L, 82L, 85L)
    def run(state: String, i: Int): Unit = StreamOps.mergeCdcTypedTxn(
      typed(batches(i)), i.toLong, state, Some(Map(0 -> ends(i))))
    (0 to 2).foreach(run(b, _))
    (0 to 1).foreach(run(a, _))
    val committed = cdcState(a)
    // the crash: batch 2 staged its parts but never wrote its position
    // or renamed the staging dir
    val staging = new java.io.File(s"$a/.txn_v=2")
    graft.Scratch.cloneTree(s"$b/v=2", staging.getPath)
    assert(new java.io.File(staging, "_offsets").delete())
    val staged = graft.Scratch.listPartitionDirs(staging.getPath, "bucket=")
    assert(staged.nonEmpty && staged.forall(d =>
      !new java.io.File(d, StreamOps.cdcBaseMarker).exists()),
      "the torn staging holds parts")
    assert(StreamOps.txnCommittedOffsets(a) == Map(0 -> 82L))
    assert(cdcState(a) == committed, "the staging must stay invisible")
    run(a, 2)
    assert(!staging.exists(), "the replay must sweep the torn staging")
    assert(StreamOps.txnCommittedOffsets(a) == Map(0 -> 85L))
    assert(StreamOps.txnCommittedOffsets(a) == StreamOps.txnCommittedOffsets(b))
    assert(cdcState(a) == cdcState(b), "the replay must converge to the uninterrupted state")
    val live = cdcState(a).filter(_._2._4 != "DELETE").map { case (k, v) => k -> v._1 }
    assert(live.size == 80 && live(22L) == 322.0 && live(80L) == 380.0 &&
      live(3L) == 203.0 && !live.contains(5L))
    // the non-txn entry point commits the same way: a torn staging it
    // left stays invisible, and its replay sweeps it
    val (c, d) = (s"$root/c", s"$root/d")
    def plain(state: String, i: Int): Unit =
      StreamOps.mergeCdcTyped(typed(batches(i)), i.toLong, state)
    (0 to 2).foreach(plain(d, _))
    (0 to 1).foreach(plain(c, _))
    val plainCommitted = cdcState(c)
    val torn = new java.io.File(s"$c/.txn_v=2")
    graft.Scratch.cloneTree(s"$d/v=2", torn.getPath)
    assert(graft.Scratch.listPartitionDirs(torn.getPath, "bucket=").nonEmpty)
    assert(cdcState(c) == plainCommitted, "the staging must stay invisible")
    plain(c, 2)
    assert(!torn.exists(), "the replay must sweep the torn staging")
    assert(!new java.io.File(s"$c/v=2/_offsets").exists(),
      "a version without offsets carries no position")
    assert(cdcState(c) == cdcState(d), "the replay must converge to the uninterrupted state")
    assert(cdcState(c) == cdcState(a))
  }

  private def stagedDir(root: java.nio.file.Path, name: String,
      body: String): java.nio.file.Path = {
    val d = java.nio.file.Files.createDirectories(root.resolve(name))
    java.nio.file.Files.writeString(d.resolve("part"), body)
    d
  }

  private def listing(d: java.nio.file.Path): Map[String, Seq[Byte]] =
    new java.io.File(d.toString).listFiles().map(f =>
      f.getName -> java.nio.file.Files.readAllBytes(f.toPath).toSeq).toMap

  test("Scratch.claimDir: a free slot wins; a taken slot loses and sweeps; other errors propagate") {
    val root = java.nio.file.Paths.get(graft.Scratch.dir("graft_claim_test"))
    val slot = root.resolve("v=1")
    val a = stagedDir(root, ".txn_a", "winner")
    assert(graft.Scratch.claimDir(a, slot))
    assert(!java.nio.file.Files.exists(a) && listing(slot) == Map(
      "part" -> "winner".getBytes("UTF-8").toSeq))
    val won = listing(slot)
    val b = stagedDir(root, ".txn_b", "loser")
    assert(!graft.Scratch.claimDir(b, slot), "a taken slot must lose the claim")
    assert(!java.nio.file.Files.exists(b), "a lost claim must sweep its staging")
    assert(listing(slot) == won, "the winner's files must stay byte-identical")
    // an empty dir in the slot is taken too
    val empty = java.nio.file.Files.createDirectories(root.resolve("v=2"))
    assert(!graft.Scratch.claimDir(stagedDir(root, ".txn_e", "x"), empty))
    assert(listing(empty).isEmpty)
    // a missing parent is an I/O failure, not a lost race: it propagates
    // and the staged data stays where it was
    val c = stagedDir(root, ".txn_c", "orphan")
    intercept[java.nio.file.NoSuchFileException] {
      graft.Scratch.claimDir(c, root.resolve("absent/v=1"))
    }
    assert(listing(c) == Map("part" -> "orphan".getBytes("UTF-8").toSeq),
      "a failed claim must sweep nothing")
  }

  test("Scratch.publishDir replaces an existing target and leaves no staging dir") {
    val root = java.nio.file.Paths.get(graft.Scratch.dir("graft_publish_test"))
    val target = root.resolve("v=1")
    graft.Scratch.publishDir(stagedDir(root, ".txn_a", "first"), target)
    assert(listing(target) == Map("part" -> "first".getBytes("UTF-8").toSeq))
    val old = stagedDir(root, "v=1/nested", "old")
    assert(java.nio.file.Files.exists(old))
    val b = stagedDir(root, ".txn_b", "second")
    graft.Scratch.publishDir(b, target)
    assert(listing(target) == Map("part" -> "second".getBytes("UTF-8").toSeq),
      "the publish must replace the whole target")
    assert(new java.io.File(root.toString).list().toSet == Set("v=1"),
      "no staging dir may outlive its publish")
  }

  test("no main source outside Scratch (Core.scala) calls Files.move") {
    import scala.jdk.CollectionConverters._
    val srcs = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
      .iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    def moves(p: java.nio.file.Path) =
      java.nio.file.Files.readString(p).contains("Files.move")
    val (core, rest) = srcs.partition(_.getFileName.toString == "Core.scala")
    assert(core.size == 1 && moves(core.head) && rest.size > 30,
      s"the guard must see Scratch's own move and the other sources: ${srcs.size}")
    val raw = rest.filter(moves).map(_.toString).sorted
    assert(raw.isEmpty, s"commit through Scratch.publishDir/claimDir/atomicPublish: $raw")
  }

  test("summing-state MV folds deltas across batches; replay + GC safe") {
    import spark.implicits._
    val state = java.nio.file.Files
      .createTempDirectory("graft_summing_test").toString
    def deltas(rows: Seq[(Long, java.math.BigDecimal, Long)]) =
      rows.toDF("o_custkey", "spend_state", "orders_state")
        .withColumn("spend_state",
          col("spend_state").cast(org.apache.spark.sql.types.DecimalType(38, 6)))
    def dec(v: String) = new java.math.BigDecimal(v)
    StreamOps.mergeSummingState(
      deltas(Seq((1L, dec("100.5"), 1L), (2L, dec("50.0"), 1L))), 0L, state)
    StreamOps.mergeSummingState(
      deltas(Seq((1L, dec("-20.5"), 0L), (3L, dec("7.0"), 1L))), 1L, state)
    val b2 = deltas(Seq((2L, dec("-50.0"), -1L)))
    StreamOps.mergeSummingState(b2, 2L, state)
    // replay of batch 2 must read the same inputs and converge
    StreamOps.mergeSummingState(b2, 2L, state)
    def snap() = {
      val latest = new java.io.File(state).listFiles()
        .filter(_.getName.startsWith("v=")).map(_.getName.drop(2).toLong).max
      spark.read.parquet(s"$state/v=$latest")
        .collect().map(r => r.getLong(0) ->
          (r.getDecimal(1).doubleValue, r.getLong(2))).toMap
    }
    val m = snap()
    assert(m(1L) == ((80.0, 1L)) && m(2L) == ((0.0, 0L)) && m(3L) == ((7.0, 1L)))
    // GC: only the replay-margin version and the latest survive
    val vs = new java.io.File(state).listFiles()
      .filter(_.getName.startsWith("v=")).map(_.getName).toSet
    assert(vs == Set("v=1", "v=2"), s"stale versions not collected: $vs")
  }

  test("multi-table txn: a torn publish never exposes a mixed pair") {
    import spark.implicits._
    val root = graft.Scratch.dir("mttxn_test")
    val tA1 = Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v")
    val tB1 = Seq((1L, "x"), (2L, "y")).toDF("k", "s")
    Cdc.txnPublish(root, 1, Map("a" -> tA1, "b" -> tB1))
    // torn publish of v2: table a written, CRASH before b + manifest flip
    Seq((1L, 99.0)).toDF("k", "v").write.parquet(s"$root/v=2/a")
    assert(Cdc.txnCurrent(root) == 1, "manifest must still point at v1")
    val a = spark.read.parquet(s"$root/v=${Cdc.txnCurrent(root)}/a")
    val b = spark.read.parquet(s"$root/v=${Cdc.txnCurrent(root)}/b")
    // the readable pair is the COMPLETE v1 transaction, not a mix
    assert(a.count() == 2 && b.count() == 2)
    // completing the publish flips both tables at once
    Seq((1L, "z")).toDF("k", "s").write.parquet(s"$root/v=2/b")
    Cdc.txnPublish(root, 2, Map.empty) // data already staged; commit only
    assert(Cdc.txnCurrent(root) == 2)
    assert(spark.read.parquet(s"$root/v=2/a").count() == 1
      && spark.read.parquet(s"$root/v=2/b").count() == 1)
  }

  test("atomic swap: readers keep their snapshot across a publish") {
    import spark.implicits._
    import graft.operators.Scans.{publishVersion, readCurrent}
    val root = graft.Scratch.dir("swaptest")
    publishVersion(spark, root, Seq((1L, 10.0), (2L, 20.0)).toDF("k", "x"))
    // a reader resolves the manifest BEFORE the next publish
    val snapshot = readCurrent(spark, root)
    val before = snapshot.as[(Long, Double)].collect().sortBy(_._1)
    publishVersion(spark, root, Seq((1L, 99.0)).toDF("k", "x"))
    // the resolved snapshot is immutable — re-collecting the SAME plan
    // must replay v1 even though _CURRENT now points at v2
    val after = snapshot.as[(Long, Double)].collect().sortBy(_._1)
    assert(before.sameElements(after), "snapshot changed under the reader")
    assert(before.toSeq == Seq((1L, 10.0), (2L, 20.0)))
    // a NEW reader sees exactly the new version
    val fresh = readCurrent(spark, root).as[(Long, Double)].collect()
    assert(fresh.toSeq == Seq((1L, 99.0)))
    // the manifest is a single version pointer, never a partial state
    val cur = scala.io.Source.fromFile(s"$root/_CURRENT").mkString.trim
    assert(cur == "2")
  }

  test("compaction rewrites only delta buckets; view equals merge-on-read") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_compact_test").toString
    val nb = Cdc.compactBucketCount
    typed((0L until 16L).map(k => (k, 100.0 + k, 10L, 10L, "INSERT")))
      .withColumn("bucket", pmod(col("o_orderkey"), lit(nb)).cast("int"))
      .write.partitionBy("bucket").parquet(s"$root/base")
    // deltas touch buckets 0 (update key 8) and 3 (tombstone key 3) only
    typed(Seq((8L, 888.0, 20L, 20L, "UPDATE"), (3L, 103.0, 20L, 20L, "DELETE")))
      .withColumn("bucket", pmod(col("o_orderkey"), lit(nb)).cast("int"))
      .write.partitionBy("bucket").parquet(s"$root/delta")
    val touched = Cdc.compactBuckets(spark, s"$root/base", s"$root/delta",
      s"$root/out")
    assert(touched == Seq(0, 3))
    assert(bucketDirs(s"$root/out") == Set("bucket=0", "bucket=3"),
      "compaction must only write buckets that had deltas")
    val view = Cdc.compactedView(spark, s"$root/base", s"$root/out", touched)
    val m = view.select("o_orderkey", "o_totalprice").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(m(8L) == 888.0, "update not applied")
    assert(!m.contains(3L), "tombstone not folded")
    assert(m(5L) == 105.0, "untouched bucket corrupted")
    assert(m.size == 15)
  }

  test("refresh proof gate: every mv refresh bit-equals its full rebuild") {
    // The operators' in-line full-rebuild proof is OFF by default (it is
    // the O(base) scan the refreshes exist to avoid — VERDICT r13 item
    // 7); THIS is the named test that arms it and runs each refresh key
    // end-to-end, so the bit-equality claim stays continuously asserted
    // without riding the measured bench path. The keys' own requires
    // fire on any divergence.
    assert(!graft.operators.MvOps.refreshProofGate,
      "proof gate must default OFF so bench measures staging+fold only")
    graft.operators.MvOps.refreshProofGate = true
    try {
      Seq("mv_refresh_incremental", "mv_refresh_append",
          "mv_refresh_minmax", "mv_refresh_quantile_delete",
          "mv_refresh_join_view", "mv_refresh_join_view_dim",
          "mv_refresh_join_view_star_dim")
        .foreach { key =>
        val n = SparkEntry.queries(key)(spark, sf).count()
        assert(n > 0, s"$key returned no rows under the armed proof gate")
      }
    } finally graft.operators.MvOps.refreshProofGate = false
  }

  test("joinViewMaintainBatch: replay-idempotent landing + fold; routed probe join-free") {
    import spark.implicits._
    val root = graft.Scratch.dir("graft_jvmaint_test")
    val factDir = s"$root/tjv_fact_t"
    val mvDir = s"$root/tjv_mv"
    val dimPath = s"$root/tjv_dim"
    // tiny dim: 4 suppliers over 2 nations
    Seq((1L, 0), (2L, 0), (3L, 1), (4L, 1))
      .toDF("s_suppkey", "s_nationkey").write.parquet(dimPath)
    val dimFp = Some(graft.plans.PathRegistry.fileFingerprint(
      spark.read.parquet(dimPath).inputFiles.toSeq))
    def batch(rows: Seq[(Long, Double)]) =
      rows.toDF("l_suppkey", "l_extendedprice")
    val b1 = Seq((2L, 5.0), (3L, 7.0), (4L, 1.0))
    try {
      StreamOps.joinViewMaintainBatch(batch(Seq((1L, 10.0), (3L, 20.0))),
        0L, factDir, dimPath, mvDir, dimFp)
      StreamOps.joinViewMaintainBatch(batch(b1), 1L, factDir, dimPath,
        mvDir, dimFp)
      def canonMv() = spark.read.parquet(s"$mvDir/v=1")
        .orderBy("s_nationkey").collect().toSeq
      def canonFact() = spark.read.parquet(factDir)
        .orderBy("l_suppkey", "l_extendedprice").collect().toSeq
      val mv1 = canonMv()
      val fact1 = canonFact()
      // at-least-once replay of batch 1: the landing OVERWRITES its own
      // batch dir (no duplicate rows) and the fold re-reads versions
      // < 1 only — both must reproduce identical content
      StreamOps.joinViewMaintainBatch(batch(b1), 1L, factDir, dimPath,
        mvDir, dimFp)
      assert(canonMv() == mv1, "replayed fold diverged")
      assert(canonFact() == fact1, "replayed landing duplicated fact rows")
      // the re-registered view serves the probe join-free and exact
      val s2 = graft.Sessions.isolatedClone(spark)
      graft.plans.MvRouting.enable(s2)
      val df = s2.read.parquet(factDir)
        .join(s2.read.parquet(dimPath),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_nationkey"))
        .agg(Det.dsum(col("l_extendedprice")).as("sum_price"),
          count(lit(1)).as("n"))
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("tjv_mv") && !p.contains("tjv_fact_t"),
        s"probe must be served from the join view:\n${p.take(600)}")
      assert(!p.contains("Join"),
        s"routed probe must be join-free:\n${p.take(400)}")
      val m = df.collect()
        .map(r => r.getInt(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
      assert(m(0) == ((15.0, 2L)) && m(1) == ((28.0, 3L)),
        s"routed values diverged from recompute: $m")
    } finally graft.plans.MvRouting.invalidate(factDir)
  }
}
