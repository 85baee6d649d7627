package graft.perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer

/** One timed op: `run` is the timed call and returns the check, which
  * runs after the clock stops and yields None or what is wrong.
  */
final case class Op(kind: String, run: () => (() => Option[String]))

/** A workload: set-up (timed as a whole into setup_s), then rounds of
  * ops. Every round holds the same multiset of ops in a seeded order, and
  * a run measures whole rounds.
  */
trait Workload {
  /** Builds the inputs and stores, then runs every op at least once
    * untimed, so lazy set-up and the first calls' compilation are done
    * before the clock starts.
    */
  def setup(): Unit
  def round(): Seq[Op]
  /** Checks once the timed region is over (None = right). */
  def finalCheck(): Option[String] = None
  /** Bytes on disk of what the workload stores. */
  def storeBytes(): Long
  /** Per-layer sizes on disk (trace runs), read with [[storeBytes]]. */
  def sizeFigures(): Map[String, Double] = Map.empty
  /** Per-layer figures only this workload can give (trace runs). */
  def layerFigures(tr: Tracer): Map[String, Double] = Map.empty
  /** Where the answers that `tools/check.py` compares with DuckDB after
    * the JVM exits are, and how many timed ops each key ran.
    */
  def duckCheck(timedOps: Map[String, Int]): Option[String] = None
  /** Corrupts one right answer and confirms the checker rejects it. */
  def selfTest(): Boolean
}

/** Sizes on disk, summed over the regular files under each path. */
object Files {
  import java.nio.file.{Files => F, Path}
  private def files(paths: Seq[String]): Seq[Path] = paths
    .map(p => java.nio.file.Paths.get(p)).filter(F.exists(_))
    .flatMap { root =>
      scala.util.Using.resource(F.walk(root)) { s =>
        import scala.jdk.CollectionConverters._
        s.iterator.asScala.filter(F.isRegularFile(_)).toList
      }
    }
  def bytes(paths: String*): Long = files(paths).map(F.size).sum
  def dataFiles(paths: String*): Long =
    files(paths).count(_.getFileName.toString.endsWith(".parquet")).toLong
}

/** Seeded shuffles of a fixed op list, one per round. */
final class Rounds(seed: Long) {
  private val rnd = new java.util.SplittableRandom(seed ^ 0x0dd5L)
  def shuffle[T](xs: Seq[T]): Seq[T] = {
    val a = ArrayBuffer.from(xs)
    for (i <- a.indices.reverse if i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }
}

/** cdc_ingest: each op hands one change batch to the log and ends when
  * the routed per-customer answer that includes it returns. After the
  * clock stops, the answer is checked against the model, and one order
  * per change kind in the batch (plus one untouched order) is looked up
  * in the merge store through `StreamOps.readCdcState`.
  */
final class CdcIngest(s: SparkSession, root: String, seed: Long, tr: Tracer)
    extends Workload {
  private val model = new OrdersModel(seed)
  private val store = new CdcStore(s, s"$root/store", tr)
  private var answer: Array[Row] = Array.empty
  private var probes, routedProbes = 0
  private val pointFiles = ArrayBuffer[Double]()

  def setup(): Unit = {
    graft.plans.MvRouting.enable(s)
    val snapshot = tr.span("setup.generate") { model.snapshot() }
    tr.span("setup.snapshot") { store.ingest(snapshot) }
    // two untimed warm-up batches, checked like the timed ones: after
    // one, the next two batches ran up to ≈40% slower while the JIT
    // compiled the batch path
    (1 to 2).foreach(_ => round().foreach(op =>
      op.run()().foreach(e => sys.error(s"warm-up: $e"))))
  }

  /** Point lookups of the orders the last batch touched, one per kind. */
  private def pointChecks(): Option[String] =
    (model.lastTouched.groupBy(_._2).values.map(_.head._1).toSeq.sorted :+
      model.randomLive()).iterator.map { k =>
      val (rows, files) = store.pointLookup(k)
      pointFiles += files
      CdcChecks.point(rows, k, model)
    }.collectFirst { case Some(e) => e }

  def round(): Seq[Op] = Seq(Op("batch", () => {
    val batch = model.batch(Scale.BatchChanges)
    store.ingest(batch)
    val (rows, routed) = store.spendByCustomer()
    probes += 1; if (routed) routedProbes += 1
    answer = rows
    () => {
      if (!routed) Some("the per-customer probe read the base, not the MV")
      else CdcChecks.spend(rows, model).orElse(pointChecks())
    }
  }))

  override def finalCheck(): Option[String] = {
    val live = s.read.parquet(store.baseDir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .collect()
    CdcChecks.liveRows(live, model)
      .orElse(CdcChecks.offsets(store.committed, store.logEnd, model))
  }

  def storeBytes(): Long =
    Files.bytes(store.logRoot, store.stateDir, store.baseDir, store.mvDir)

  override def sizeFigures(): Map[String, Double] = Map(
    "OffsetLog.log_bytes" -> Files.bytes(store.logRoot).toDouble,
    "StreamOps.store_files" -> Files.dataFiles(store.stateDir, store.baseDir,
      store.mvDir).toDouble)

  override def layerFigures(tr: Tracer): Map[String, Double] = Map(
    "StreamOps.point_lookup_files" -> Stats.median(pointFiles.toSeq),
    "MvRouting.routed_share" ->
      (if (probes == 0) 0.0 else routedProbes.toDouble / probes),
    "StreamOps.buckets_touched" -> Stats.median(
      (0L until store.batches).map(v => graft.Scratch.listPartitionDirs(
        s"${store.stateDir}/v=$v", "bucket=").length.toDouble)
        .filter(_ > 0).takeRight(8)))

  def selfTest(): Boolean = answer.nonEmpty && {
    val bad = answer.clone()
    val r = bad(0)
    bad(0) = Row(r.getLong(0), r.getDouble(1) + 0.01, r.getLong(2))
    val live = model.randomLive()
    CdcChecks.spend(bad, model).isDefined &&
      CdcChecks.spend(answer, model).isEmpty &&
      CdcChecks.point(Array.empty, live, model).isDefined
  }
}

/** llm_batch: the LLM-pipeline operator keys and token probes of an
  * indexed document table, round-robin in a seeded order; each op is one
  * key invoked and its rows counted, or one probe answered.
  */
final class LlmBatch(s: SparkSession, root: String, seed: Long, tr: Tracer)
    extends Workload {
  import LlmBatch._
  private val rounds = new Rounds(seed)
  private val sf = s"$root/sf"
  private val out = s"$root/llm_out"
  private val docsDir = s"$root/docs"
  private val firstCount = scala.collection.mutable.Map[String, Long]()
  private var docs: IndexedSeq[(Long, String, String, String)] = IndexedSeq()
  private val filesAdmitted = ArrayBuffer[Double]()
  private var tokenProbes, tokenRouted = 0
  private lazy val defs: Map[String, graft.QueryDef] =
    graft.SparkEntry.defs.filter(d => Keys.contains(d.key))
      .map(d => d.key -> d).toMap

  def setup(): Unit = {
    new java.io.File(sf).mkdirs()
    docs = Fixtures.documents(seed)
    Seq("documents" -> (() => Fixtures.documentsDf(s, docs)),
      "embeddings" -> (() => Fixtures.embeddingsDf(s, seed)),
      "lineitem" -> (() => Fixtures.lineitemDf(s, seed)),
      "orders" -> (() => Fixtures.ordersDf(s, seed))).foreach { case (t, df) =>
      tr.span(s"setup.fixture.$t") { Fixtures.writeTable(df(), sf, t) }
    }
    require(defs.keySet == Keys.toSet,
      s"keys missing from the registry: ${Keys.filterNot(defs.contains)}")
    // the probe table: the same documents in doc_id-ranged files (only
    // the third holds the rare token), indexed by the token-bloom fold
    graft.plans.TextIndexRouting.enable(s)
    val per = Scale.Documents / DocFiles
    docs = docs.map { case d @ (id, t, l, src) =>
      if (id / per == 2 && id % 7 == 0) (id, s"$t $Rare", l, src) else d
    }
    tr.span("setup.index") {
      (0 until DocFiles).foreach { f =>
        Fixtures.documentsDf(s, docs.slice(f * per, (f + 1) * per))
          .select(col("doc_id"), col("text"))
          .coalesce(1).write.mode("append").parquet(docsDir)
      }
      graft.operators.Scans.appendTextIndex(s, docsDir)
      graft.plans.TextIndexRouting.register(
        graft.plans.TextIndexRouting.TextIndexDef(docsDir, "text",
          graft.operators.Scans.TextIndexBits,
          graft.operators.Scans.parseIndex(docsDir)))
    }
    // every key once, its full answer kept for DuckDB in the layout
    // tools/check.py reads (oracle_sql.json, keys.json, <key>/)
    Keys.foreach(k => tr.span(s"setup.$k") {
      val df = defs(k).fn(s, sf)
      df.coalesce(1).write.mode("overwrite").parquet(s"$out/$k")
      firstCount(k) = s.read.parquet(s"$out/$k").count()
    })
    def write(name: String, json: String) = java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$out/$name"), json)
    write("oracle_sql.json",
      Json.obj(Keys.map(k => k -> Json.str(defs(k).oracle.get)): _*))
    write("keys.json", Keys.map(Json.str).mkString("[", ",", "]"))
    // one untimed round, checked like the timed ones: after the first
    // calls, the next round's median op ran ≈30–60% slower on some seeds
    // while C2 compiled
    round().foreach(op => op.run()().foreach(e => sys.error(s"warm-up: $e")))
    filesAdmitted.clear(); tokenProbes = 0; tokenRouted = 0
  }

  /** (matching docs, sum of their ids) and the files the scan admitted. */
  private def tokenProbe(tok: String): ((Long, Long), Int) = {
    val df = tr.span("Core.construct") {
      s.read.parquet(docsDir)
        .filter(array_contains(split(col("text"), " "), tok))
        .agg(count(lit(1)).as("n"),
          coalesce(sum(col("doc_id")), lit(0L)).as("ids"))
    }
    tr.span("TextIndexRouting.plan") { df.queryExecution.executedPlan }
    val r = tr.span("TextIndexRouting.exec") { df.collect()(0) }
    ((r.getLong(0), r.getLong(1)), Scanned.files(df))
  }

  /** Counts over the documents the benchmark wrote, and the files the
    * index must admit: the rare token's file only, none for the absent
    * token, all for the common one.
    */
  private def probeCheck(tok: String, got: ((Long, Long), Int))
      : Option[String] = {
    val hits = docs.filter(_._2.split(" ").contains(tok))
    val want = (hits.length.toLong, hits.map(_._1).sum)
    val admit = tok match { case Rare => 1; case Absent => 0; case _ => DocFiles }
    if (got._2 != admit) Some(s"token $tok admitted ${got._2} files, want $admit")
    else if (got._1 != want) Some(s"token $tok: ${got._1}, documents hold $want")
    else None
  }

  private def countCheck(k: String, n: Long): Option[String] =
    if (n != firstCount(k))
      Some(s"$k returned $n rows, its first call ${firstCount(k)}")
    else None

  def round(): Seq[Op] = rounds.shuffle(Keys ++ Probes).map {
    case tok if Probes.contains(tok) => Op(s"token_$tok", () => {
      val got = tokenProbe(tok)
      tokenProbes += 1; if (got._2 < DocFiles) tokenRouted += 1
      filesAdmitted += got._2
      () => probeCheck(tok, got)
    })
    case k => Op(k, () => {
      val df = tr.span("Core.construct") { defs(k).fn(s, sf) }
      // rdd.count evaluates every output column; Dataset.count would let
      // the optimizer prune the columns and the final sort away
      val n = tr.span(s"${moduleOf(k)}.exec") { df.rdd.count() }
      () => countCheck(k, n)
    })
  }

  def storeBytes(): Long = Files.bytes(sf, docsDir)

  override def layerFigures(tr: Tracer): Map[String, Double] = Map(
    "TextIndexRouting.files_admitted" -> Stats.median(filesAdmitted.toSeq),
    "TextIndexRouting.routed_share" ->
      (if (tokenProbes == 0) 0.0 else tokenRouted.toDouble / tokenProbes))

  override def duckCheck(timedOps: Map[String, Int]): Option[String] =
    Some(Json.obj("sf" -> Json.str(sf), "out" -> Json.str(out),
      "ops" -> Json.obj(Keys.map(k =>
        k -> timedOps.getOrElse(k, 0).toString): _*)))

  def selfTest(): Boolean = Keys.forall(k =>
    countCheck(k, firstCount(k) + 1).isDefined &&
      countCheck(k, firstCount(k)).isEmpty) &&
    probeCheck(Rare, ((0L, 0L), 1)).isDefined
}

object LlmBatch {
  /** Keys with a DuckDB oracle whose repeat call recomputes its answer:
    * keys that serve a repeat from an in-JVM memo (a DfCache-held label,
    * edge or k-means frame) are left out.
    */
  val Keys: Seq[String] = Seq(
    "text_stats", "dedup_exact_hash",
    "vec_norm", "sim_cosine_pair",
    "graph_pagerank_step",
    "mm_pack", "mm_spectrogram")

  /** Token probes: a rare token in one file, an absent one, a common one. */
  val Rare = "alpha7"
  val Absent = "zzz9"
  val Common = "spark"
  val Probes: Seq[String] = Seq(Rare, Absent, Common)
  val DocFiles = 5

  def moduleOf(k: String): String =
    graft.SparkEntry.modules.collectFirst {
      case (m, ds) if ds.exists(_.key == k) => m.split('/').last
    }.getOrElse("unknown")
}

object Stats {
  /** Median of the samples (0 for none). */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val a = xs.sorted
      val n = a.length
      if (n % 2 == 1) a(n / 2) else (a(n / 2 - 1) + a(n / 2)) / 2
    }
}

object Json {
  def str(s: String): String = graft.Json.q(s)
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
}
