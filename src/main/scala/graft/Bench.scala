package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    // dev-loop isolation mode: trailing args restrict the run to those
    // keys (and repeat each `SPARK_GRAFT_BENCH_REPS` times) so a
    // suspected regression can be timed in a fresh JVM without the
    // other 280+ queries' GC/cache pressure. The driver passes no args
    // → full suite, identical behavior to prior rounds.
    val only = args.toSet
    val unknown = only -- SparkEntry.queries.keySet
    require(unknown.isEmpty,
      s"unknown bench keys: ${unknown.toSeq.sorted.mkString(", ")} — " +
        "a typo here would otherwise time zero queries and report success")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "1").toInt
    require(reps >= 1, s"SPARK_GRAFT_BENCH_REPS must be >= 1, got $reps")
    val spark = Sessions.localHarness(defaultCpus = 4, logLevel = "WARN")
    // previous run's at-rest per-query map AND calibration record, read
    // ONCE and BEFORE overwrite: the standing regression guard diffs
    // against them at the end of the run
    val Prior(prev, prevCal, prevCalIo) =
      parsePrior(readAll("target/bench_queries.json"))
    // one-time shared-fixture ETL (bucketed tables, staged stream feeds):
    // amortized setup at cluster scale, so it isn't part of any query's time
    // a fixture-prep failure must be VISIBLE (it cascades into dozens of
    // dependent query failures that would otherwise be undiagnosable)
    // each prep in its OWN try: the five are independent, and one
    // failure must not skip the other four (that would cascade into
    // dozens of unrelated -1s with a single stderr line to explain them)
    def prep(label: String)(f: => Unit): Unit =
      try f catch {
        case e: Throwable =>
          System.err.println(
            s"[bench] fixture prep $label FAILED: ${e.toString.take(500)}")
      }
    prep("bucketed")(graft.operators.Joins.ensureBucketed(spark, sfDir))
    prep("streams")(graft.streaming.StreamOps.prepareFixtures(spark, sfDir))
    prep("cdc")(graft.operators.Cdc.ordersTyped(spark, sfDir)) // parse cache
    prep("stats")(graft.operators.Stats.ensureAnalyzed(spark, sfDir))
    prep("mv")(graft.operators.MvOps.stageMv(spark, sfDir)) // staging only —
    // no routing rule on the measured session (mv_route clones)
    prep("daybase")(graft.operators.Scans.stagedDayEvents(spark, sfDir))
    // ^ r16: the day-partitioned events base every mutation/MV-refresh
    // key clones (hardlinks) instead of re-writing per invocation
    // r16b: ALL remaining cross-run staged fixtures (scan dumps, index
    // layouts, mvfx_* standing views, CDC compact base, DPP dim) —
    // staged-on-first-use meant a COLD scratch dir (fresh host/tmp)
    // charged each build to the first measured invocation of whichever
    // key needed it, ~60s of fixture ETL misattributed as query time
    prep("scanfx")(graft.operators.Scans.prestage(spark, sfDir))
    prep("mvfx")(graft.operators.MvOps.prestage(spark, sfDir))
    prep("cdcfx")(graft.operators.Cdc.compactBaseRoot(spark, sfDir))
    prep("dppdim")(graft.operators.Joins.dppDimPath(spark))
    // calibration probe, run FIRST and LAST: constant CPU-bound work
    // independent of fixtures, so its ratio to the at-rest record
    // measures HOST LOAD, not code. Two rounds in a row the regression
    // tail was 100% environmental false positives (r8: 2 keys, r9: 29
    // keys at a uniform 1.5-2.2x) — normalizing the per-key threshold
    // by the calibration ratio makes a loaded run self-identifying
    // instead of crying wolf.
    val calStart = calibrate(spark)
    val ioStart = calibrateIo()
    val selected =
      if (only.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (k, _) => only(k) }
    val results = selected.map { case (name, fn) =>
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        // contract (BASELINE.md): failed queries record -1, not elapsed;
        // the cause goes to stderr (stdout stays parseable JSON)
        try { fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
        catch {
          case e: Throwable =>
            System.err.println(
              s"[bench] $name FAILED: ${e.toString.linesIterator.take(1).mkString.take(300)}")
            -1.0
        }
      }
      if (reps > 1) println(s"""{"bench_reps":${Json.q(name)},"times":[${times.mkString(",")}]}""")
      // min of the reps: with reps=1 this IS the single time; with more,
      // the steady-state floor (head would record the coldest rep and
      // persist JIT noise into the at-rest baseline). A failed rep's -1
      // must still dominate: any failure marks the key failed.
      // Semantics note: the at-rest baseline is only ever WRITTEN by
      // full runs (args empty), which use reps=1 — so min-vs-head
      // never mixes across a baseline transition; multi-rep isolation
      // runs compare against it for triage only (isolated and in-suite
      // numbers are already not like-for-like).
      name -> (if (times.exists(_ < 0)) -1.0 else times.min)
    }
    val calEnd = calibrate(spark)
    val ioEnd = calibrateIo()
    // run-average load estimate: start and end brackets catch load that
    // arrives mid-run (each bracket is already a min-of-3, JIT-immune)
    val calObserved = (calStart + calEnd) / 2
    val ioObserved = (ioStart + ioEnd) / 2
    val qs = results.map { case (k, v) => Json.q(k) + ":" + v }
      .mkString("{", ",", "}")
    val (total, nOk, nFailed) = summarize(results)
    // load ratios computed BEFORE the record write, because record
    // adoption is now gated on them (VERDICT r13 task 3): a loaded
    // run's inflated per-key times must never become the standing
    // at-rest baseline — that masked real regressions for a round.
    val cpuRatio =
      if (prevCal > 0) math.max(1.0, calObserved / prevCal) else 1.0
    val ioRatio =
      if (prevCalIo > 0) math.max(1.0, ioObserved / prevCalIo) else 1.0
    val medRatio = medianRatio(prev, results)
    // -Dgraft.bench.forceAdopt=1 is the explicit RE-BASELINE escape
    // hatch (r14 ADVICE finding 4): a legitimate code change that slows
    // a majority of keys past 1.1× would otherwise read median>1.1
    // against the stale record forever — the gate could never re-adopt
    // and regression diffs would stay pinned to pre-change code. The
    // flag is deliberate-operator-only (never set by the driver), so
    // the accidental-loaded-run protection stays intact by default.
    val adopt = adoptDecision(cpuRatio, ioRatio, medRatio,
      sys.props.get("graft.bench.forceAdopt").contains("1"))
    // full per-query map also persisted to a file: the driver's tail
    // capture keeps only ~64 of 260+ entries of the stdout line, so
    // round-over-round per-query diffs need the at-rest copy
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"calibration":$calObserved,"calibration_io":$ioObserved,"sf":${Json.q(sfDir)}}"""
    // reps == 1 too, not just a full key set: a full run under
    // SPARK_GRAFT_BENCH_REPS>1 would write MIN-of-reps floors into the
    // baseline, and the next at-rest reps=1 run would flag short keys
    // on pure min-vs-single sampling — the mixing the baseline
    // semantics note above promises never happens
    if (only.isEmpty && reps == 1 && adopt) {
      // published atomically: the next run reads it as its baseline, and
      // a torn write would silently read as "no baseline"
      try {
        new java.io.File("target").mkdirs()
        Scratch.atomicPublish(
          java.nio.file.Paths.get("target/bench_queries.json"), line)
      } catch {
        // warn, don't swallow silently: a stale file from a previous run
        // would otherwise be diffed as if it were this run's data
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[bench] bench_queries.json not written: $e")
      }
    } else if (only.isEmpty && reps == 1) {
      // say so on stderr AND in the parseable summary line below — a
      // silently-kept old record would read as "this run was adopted"
      System.err.println(s"[bench] record NOT adopted (loaded run: " +
        s"cpu=$cpuRatio io=$ioRatio median=$medRatio) — " +
        "target/bench_queries.json keeps the prior at-rest baseline")
    }
    // every FULL run also writes the complete per-query map to a
    // COMMITTED artifact at one fixed path, so run-over-run per-query
    // comparison does not depend on a truncated stdout tail and is a
    // plain `git diff` of one file. Additive only — the timed
    // methodology above is untouched.
    if (only.isEmpty) {
      val record = java.nio.file.Paths.get("plans", "bench_queries.json")
      try {
        if (java.nio.file.Files.isDirectory(record.getParent))
          java.nio.file.Files.writeString(record,
            s"""{"cpus":${Json.q(sys.env.getOrElse("SPARK_GRAFT_CPUS", ""))},"reps":$reps,"adopted":${adopt && reps == 1},"run":$line}""" + "\n")
      } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[bench] $record not written: $e")
      }
    }
    println(line)
    // per-key map re-emitted as SHORT chunk lines, slowest keys LAST
    // (r13: the driver's artifact keeps a byte TAIL of stdout, so the
    // one big "queries" line above always truncates mid-map — BENCH_r12
    // preserved ~6 of 450 per-key times). ~25-key lines at millisecond
    // precision put the heavy keys — the ones round-over-round
    // adjudication needs — nearest the end, just above the summary
    // lines, so the surviving suffix is self-sufficient.
    val chunks = results.toSeq.sortBy(_._2).grouped(25).toSeq
    chunks.zipWithIndex.foreach { case (c, i) =>
      val cq = c.map { case (k, v) =>
        Json.q(k) + ":" + math.rint(v * 1000) / 1000 }.mkString("{", ",", "}")
      println(s"""{"metric":"bench_chunk","i":${i + 1},"n_chunks":${chunks.size},"queries":$cq}""")
    }
    // standing regression guard (VERDICT r5 task 8, load-normalized per
    // VERDICT r9 finding 1): every overlapping key >1.5x the previous
    // run's time AFTER scaling the threshold by the calibration ratio
    // (observed/recorded constant-work probe — >1 means the host is
    // slower than when the baseline was taken, and per-key times
    // inflate by roughly that multiplier through no fault of the code).
    // Floored at 0.2s so sub-JIT noise on trivial queries can't page
    // anyone. One short JSON line — empty list is the expected state.
    // never scale the threshold DOWN below the classic 1.5x: a baseline
    // taken under load would otherwise make an at-rest run over-flag.
    // The effective ratio is the WORSE of the CPU and I/O probes: the
    // r10 driver run proved uniform load can be purely I/O-side
    // (checkpoint fsyncs, staged-swap writes inflated 10–40× while the
    // CPU probe read 1.0) — a single-resource probe under-normalizes.
    // (cpuRatio/ioRatio computed above, pre-write; medRatio is the
    // distribution-based load estimate — the r11 driver run's lesson:
    // bracketed probes read 1.2×/1.0× while mid-run load inflated keys
    // up to 13.7× — min-of-3 probes at the run's ends are blind to load
    // that arrives between them. median(now/prev) over all overlapping
    // keys needs no probe model: uniform host load shifts the whole
    // distribution (median tracks it); a genuine code regression moves
    // only its own keys (median stays ≈1, so they still flag — robust
    // while fewer than half the keys regress, which a real code change
    // always satisfies.)
    val calRatio = math.max(math.max(cpuRatio, ioRatio), medRatio)
    val regs = regressions(prev, results, calRatio)
    // cap the printed list at the worst 20: the driver's tail capture
    // truncates stdout from the FRONT, so an uncapped worst-first list
    // under uniform load preserved only its mildest TAIL entries
    // (BENCH_r10 kept the ~2× keys and dropped the 10–40× heads).
    // All three load ratios ride the FRONT of this line too — BENCH_r11
    // lost the end of the summary line to truncation, and the head of
    // the regressions line demonstrably survives both directions.
    val shown = regs.take(20)
    println(s"""{"metric":"bench_regressions","base_threshold":1.5,"effective_threshold":${1.5 * calRatio},"cal_cpu_ratio":$cpuRatio,"cal_io_ratio":$ioRatio,"median_key_ratio":$medRatio,"keys":${
      shown.map { case (k, o, n) =>
        s"""{"key":${Json.q(k)},"prev":$o,"now":$n}""" }.mkString("[", ",", "]")}}""")
    // one-line summary AFTER the capped list (closest to the surviving
    // tail): flag count, worst ratio, and all load ratios, so a loaded
    // run self-identifies even if the key list is truncated away
    val maxRatio = regs.headOption.map { case (_, o, n) => n / o }.getOrElse(1.0)
    println(s"""{"metric":"bench_regressions_summary","n_flagged":${regs.size},"shown":${shown.size},"max_ratio":$maxRatio,"cal_cpu_ratio":$cpuRatio,"cal_io_ratio":$ioRatio,"median_key_ratio":$medRatio,"calibration_sec":$calObserved,"calibration_io_sec":$ioObserved,"record_adopted":${only.isEmpty && reps == 1 && adopt}}""")
    // compact line LAST: the driver's tail capture truncates long lines
    // from the front, so the parseable summary must be short and final
    println(s"""{"metric":"total","value":$total,"unit":"sec","n":$nOk,"failed":$nFailed,"sf":${Json.q(sfDir)}}""")
    spark.stop()
  }

  /** Record-adoption gate (VERDICT r13 task 3): a full reps=1 run may
    * only overwrite the standing at-rest baseline when its OWN load
    * signals say it ran at rest — every calibration ratio ≤ 1.1 (the
    * probes and the per-key median all read ≈1.0 on an unloaded host;
    * the driver's loaded runs read 1.5–10×). A loaded run keeps the
    * prior record and says so, instead of inflating the baselines the
    * regression guard diffs against — which masked a real 2× for a
    * round. With no prior record every ratio defaults to 1.0, so the
    * first run always seeds the baseline. Unit-tested.
    */
  private[graft] def adoptRecord(cpuRatio: Double, ioRatio: Double,
      medRatio: Double): Boolean =
    cpuRatio <= 1.1 && ioRatio <= 1.1 && medRatio <= 1.1

  /** The full adoption decision: the calibration gate, or the explicit
    * operator override (unit-tested; see the forceAdopt call-site note).
    */
  private[graft] def adoptDecision(cpuRatio: Double, ioRatio: Double,
      medRatio: Double, force: Boolean): Boolean =
    force || adoptRecord(cpuRatio, ioRatio, medRatio)

  /** (total over successful queries, #ok, #failed) — the -1 failure
    * sentinel must never pollute the summed total (unit-tested).
    */
  private[graft] def summarize(results: Map[String, Double]): (Double, Int, Int) = {
    val ok = results.values.filter(_ >= 0)
    (if (ok.nonEmpty) ok.sum else 0.0, ok.size, results.values.count(_ < 0))
  }

  /** Fixed constant-work CPU probe (no fixture I/O): 64M-row codegen'd
    * modulo-sum over 32 partitions, min of 3 reps (JIT-immune; sustained
    * host load inflates all reps alike). Its ratio to the at-rest record
    * is the run's load multiplier.
    */
  private def calibrate(spark: SparkSession): Double =
    (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      spark.range(0, 64L * 1000 * 1000, 1, 32)
        .selectExpr("sum(id % 1000003)").collect()
      (System.nanoTime() - t0) / 1e9
    }.min

  /** Median per-key time ratio now/prev over overlapping keys with a
    * non-trivial previous time (same ≥ 0.2 s floor as the guard —
    * sub-JIT keys are pure noise), clamped ≥ 1 so a baseline taken
    * under load never TIGHTENS an at-rest run's threshold. 1.0 when too
    * few keys overlap to be meaningful (scoped dev runs).
    */
  private[graft] def medianRatio(prev: Map[String, Double],
      now: Map[String, Double]): Double = {
    val rs = now.toSeq.collect {
      case (k, n) if n >= 0 && prev.get(k).exists(_ >= 0.2) => n / prev(k)
    }.sorted
    if (rs.length < 8) 1.0
    else math.max(1.0,
      if (rs.length % 2 == 1) rs(rs.length / 2)
      else (rs(rs.length / 2 - 1) + rs(rs.length / 2)) / 2)
  }

  /** Overlapping keys whose time grew >1.5x × calRatio vs the previous
    * per-query map, previous time ≥ 0.2s (unit-tested). calRatio is the
    * calibration-probe load multiplier (1.0 = at-rest / no record);
    * sorted worst-first.
    */
  private[graft] def regressions(prev: Map[String, Double],
      now: Map[String, Double], calRatio: Double = 1.0)
      : Seq[(String, Double, Double)] =
    now.toSeq.collect {
      case (k, n) if n >= 0 &&
          prev.get(k).exists(o => o >= 0.2 && n > 1.5 * calRatio * o) =>
        (k, prev(k), n)
    }.sortBy { case (_, o, n) => -(n / o) }

  /** Fixed constant-work I/O probe: 16 × 256 KiB files written and
    * fsync'd to a fresh tmp dir, min of 3 reps. Write+force is the
    * operation the expensive keys actually pay (state-store commits,
    * staged-swap publishes, offset-log fsyncs) — the r10 driver run
    * proved the CPU probe's blind spot when host I/O contention
    * inflated exactly those keys 10–40× while the CPU ratio read 1.0.
    */
  private def calibrateIo(): Double = {
    val dir = java.nio.file.Files.createTempDirectory("graft_bench_ioprobe")
    try {
      val payload = new Array[Byte](256 * 1024)
      java.util.Arrays.fill(payload, 0x67.toByte)
      (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        (0 until 16).foreach { i =>
          val ch = java.nio.channels.FileChannel.open(dir.resolve(s"f_$i"),
            java.nio.file.StandardOpenOption.CREATE,
            java.nio.file.StandardOpenOption.WRITE,
            java.nio.file.StandardOpenOption.TRUNCATE_EXISTING)
          try { ch.write(java.nio.ByteBuffer.wrap(payload)); ch.force(true) }
          finally ch.close()
        }
        (System.nanoTime() - t0) / 1e9
      }.min
    } finally Scratch.deleteRecursively(dir.toFile)
  }

  /** The prior run's at-rest record, read ONCE: its per-query map and
    * its `calibration` / `calibration_io` probe seconds. A missing or
    * garbled record, or a field absent from it, disables that part of
    * the guard: an empty map, 0.0 (guard unnormalized).
    */
  private[graft] case class Prior(queries: Map[String, Double],
      calibration: Double, calibrationIo: Double)

  private[graft] def parsePrior(s: String): Prior =
    try {
      import scala.jdk.CollectionConverters._
      val n = new com.fasterxml.jackson.databind.ObjectMapper().readTree(s)
      def num(f: String) = Option(n.get(f)).filter(_.isNumber).fold(0.0)(_.asDouble)
      Prior(n.path("queries").properties().asScala.collect {
          case e if e.getValue.isNumber => e.getKey -> e.getValue.asDouble
        }.toMap, num("calibration"), num("calibration_io"))
    } catch { case scala.util.control.NonFatal(_) => Prior(Map.empty, 0.0, 0.0) }

  // path and field overloads for the unit tests
  private[graft] def readPrev(path: String): Map[String, Double] =
    parsePrior(readAll(path)).queries
  private[graft] def readPrevCalibration(path: String): Double =
    parsePrior(readAll(path)).calibration
  private[graft] def parseCalibration(s: String): Double = parsePrior(s).calibration
  private[graft] def parseCalibrationIo(s: String): Double = parsePrior(s).calibrationIo

  /** The prior baseline file's raw content; "" when missing/unreadable
    * (the parse treats "" as guard-disabled).
    */
  private def readAll(path: String): String =
    try new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), java.nio.charset.StandardCharsets.UTF_8)
    catch { case scala.util.control.NonFatal(_) => "" }
}
