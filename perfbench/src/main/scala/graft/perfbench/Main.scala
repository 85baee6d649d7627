package graft.perfbench

import scala.collection.mutable.ArrayBuffer

/** The benchmark JVM: set up one workload, run whole rounds of its ops
  * for the given seconds, check every answer, and write the figures as
  * one JSON object to `--out` (run.py adds the DuckDB checks and prints
  * the result line).
  *
  * {{{
  * Main --workload cdc_ingest|llm_batch --seed N --seconds S
  *      --trace 0|1 --cpus K --root <private scratch dir> --out <json>
  *      [--spans <jsonl>]
  * }}}
  */
object Main {
  final case class OpRecord(kind: String, seconds: Double, error: Option[String])

  def main(args: Array[String]): Unit = {
    val mainEntry = System.nanoTime()
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }
      .toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val root = a("root")
    val cpus = a("cpus").toInt

    // the program's own harness session, so a change to its settings
    // reaches the benchmark; run.py points its local and warehouse dirs
    // into the run's scratch root with -Dspark.* properties
    val spark = graft.Sessions.localHarness(cpus, "ERROR")
    val sessionS = (System.nanoTime() - mainEntry) / 1e9
    val tr = new Tracer(trace, spark.sparkContext)
    tr.op(-1)
    val w: Workload = workload match {
      case "cdc_ingest" => new CdcIngest(spark, s"$root/work", seed, tr)
      case "llm_batch" => new LlmBatch(spark, s"$root/work", seed, tr)
      case other => sys.error(s"unknown workload $other")
    }
    w.setup()

    val ops = ArrayBuffer[OpRecord]()
    val t0 = System.nanoTime()
    val setupS = (t0 - mainEntry) / 1e9
    val gc0 = JvmTimes.gcMs
    val jit0 = JvmTimes.jitMs
    val cg0 = JvmTimes.codegenCompiles
    var r = 0
    // what the workload stores, after the first timed round: a count of
    // rounds, unlike a run's length, does not depend on how fast ops run
    var storeBytes = 0L
    var sizes = Map.empty[String, Double]
    while (System.nanoTime() - t0 < seconds * 1e9) {
      w.round().foreach { op =>
        tr.op(ops.length.toLong)
        val start = System.nanoTime()
        val outcome =
          try Right(tr.span("op") { op.run() })
          catch { case scala.util.control.NonFatal(e) => Left(e.toString) }
        val secs = (System.nanoTime() - start) / 1e9
        val err = outcome.fold(e => Some(e.take(300)), check => check())
        ops += OpRecord(op.kind, secs, err)
      }
      r += 1
      if (r == 1) { storeBytes = w.storeBytes(); sizes = w.sizeFigures() }
    }
    val gcS = (JvmTimes.gcMs - gc0) / 1e3
    val jitS = (JvmTimes.jitMs - jit0) / 1e3
    val codegenN = JvmTimes.codegenCompiles - cg0
    tr.op(-2)

    val measureS = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val finalErr = w.finalCheck()
    val selfTestOk = w.selfTest()
    val lat = ops.map(_.seconds).toSeq
    val e2e = Map(
      "setup_s" -> setupS,
      "op_p50_s" -> Stats.median(lat),
      "ops_per_s" -> lat.length / lat.sum,
      "store_bytes" -> storeBytes.toDouble)
    val layers =
      if (trace) Layers.figures(tr, w, ops.toSeq, gcS, jitS) ++ sizes
      else Map.empty
    val errors = (ops.flatMap(o => o.error.map(e => s"${o.kind}: $e")) ++
      finalErr.map(e => s"final check: $e") ++
      (if (selfTestOk) Nil else Seq("self-test: a corrupted answer passed")))
      .take(5)
    val json = Json.obj(
      "correct" -> (finalErr.isEmpty && selfTestOk).toString,
      "attempted" -> ops.length.toString,
      "failed" -> ops.count(_.error.isDefined).toString,
      "rounds" -> r.toString,
      "op_s" -> lat.map(Json.num).mkString("[", ",", "]"),
      "op_kind" -> ops.map(o => Json.str(o.kind)).mkString("[", ",", "]"),
      "phases" -> Json.obj("session_s" -> Json.num(sessionS),
        "codegen_compiles" -> codegenN.toString, "jit_s" -> Json.num(jitS),
        "measure_s" -> Json.num(measureS),
        "check_s" -> Json.num((System.nanoTime() - t1) / 1e9)),
      "e2e" -> Json.obj(e2e.toSeq.sortBy(_._1)
        .map { case (k, v) => k -> Json.num(v) }: _*),
      "layers" -> Json.obj(layers.toSeq.sortBy(_._1)
        .map { case (k, v) => k -> Json.num(v) }: _*),
      "errors" -> errors.map(Json.str).mkString("[", ",", "]"),
      "duck" -> w.duckCheck(ops.groupBy(_.kind).map { case (k, v) =>
        k -> v.length }).getOrElse("null"))
    java.nio.file.Files.write(java.nio.file.Paths.get(a("out")),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    a.get("spans").filter(_ => trace)
      .foreach(p => tr.writeJsonLines(java.nio.file.Paths.get(p)))
    spark.stop()
  }
}

/** Per-layer figures of a traced run, from its spans (timed ops only). */
object Layers {
  val Modules = Seq("LlmText", "LlmVector", "DedupGraph", "Multimodal")

  def figures(tr: Tracer, w: Workload, ops: Seq[Main.OpRecord],
      gcS: Double, jitS: Double): Map[String, Double] = {
    val timed = tr.spans.filter(_.op >= 0).toSeq
    def of(name: String) = timed.filter(_.name == name)
    def med(xs: Seq[Double]) = Stats.median(xs)
    def secs(name: String) = med(of(name).map(_.seconds))
    def cnt(name: String, c: String) = med(of(name).map(_.count(c).toDouble))
    val perOp = of("op")
    val maintain = of("StreamOps.maintain")
    val byModule = ops.groupBy(o => LlmBatch.moduleOf(o.kind))
    Map(
      "OffsetLog.append_s" -> secs("OffsetLog.append"),
      "OffsetLog.append_jobs" -> cnt("OffsetLog.append", "jobs"),
      "OffsetLog.commit_s" -> secs("OffsetLog.commit"),
      "OffsetLog.log_bytes" -> 0.0,
      "StreamOps.maintain_s" -> secs("StreamOps.maintain"),
      "StreamOps.maintain_jobs" -> cnt("StreamOps.maintain", "jobs"),
      "StreamOps.maintain_tasks" -> cnt("StreamOps.maintain", "tasks"),
      "StreamOps.shuffle_bytes" -> cnt("StreamOps.maintain", "shuffle_bytes"),
      "StreamOps.buckets_touched" -> 0.0,
      "StreamOps.written_bytes_per_change" -> med(maintain.map(
        _.count("written_bytes").toDouble / Scale.BatchChanges)),
      "StreamOps.store_files" -> 0.0,
      "StreamOps.point_lookup_s" -> secs("StreamOps.point_lookup"),
      "StreamOps.point_lookup_files" -> 0.0,
      "MvRouting.plan_s" -> secs("MvRouting.plan"),
      "MvRouting.exec_s" -> secs("MvRouting.exec"),
      "MvRouting.routed_share" -> 0.0,
      "TextIndexRouting.plan_s" -> secs("TextIndexRouting.plan"),
      "TextIndexRouting.files_admitted" -> 0.0,
      "TextIndexRouting.routed_share" -> 0.0,
      "Core.construct_s" -> secs("Core.construct"),
      "Core.construct_jobs" -> cnt("Core.construct", "jobs"),
      "exec.jobs" -> med(perOp.map(_.count("jobs").toDouble)),
      "exec.tasks" -> med(perOp.map(_.count("tasks").toDouble)),
      "exec.task_cpu_s" -> med(perOp.map(_.count("cpu_ns") / 1e9)),
      "exec.shuffle_bytes" -> med(perOp.map(_.count("shuffle_bytes").toDouble)),
      "exec.spill_bytes" -> med(perOp.map(_.count("spill_bytes").toDouble)),
      "jvm.gc_s" -> gcS,
      "jvm.jit_s" -> jitS,
    ) ++ Modules.map(m => s"$m.op_s" ->
      med(byModule.getOrElse(m, Nil).map(_.seconds))) ++
      w.layerFigures(tr)
  }
}
