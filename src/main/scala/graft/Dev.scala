package graft

import org.apache.spark.sql.DataFrame

/** The dev harness (not part of the driver contract): runs the chosen
  * keys (all registered keys when none are named) in one JVM and does
  * one thing with each key's DataFrame. Usage:
  *   sbt "runMain graft.Dev profile <sfDir> [key ...]"
  *   sbt "runMain graft.Dev plans <sfDir> <outDir> [key ...]"
  *   sbt "runMain graft.Dev sweep <sfDir> <regex> [key ...]"
  *
  *  - `profile` runs each key twice and prints cold vs warm wall-clock,
  *    separating JIT/session warm-up from steady-state cost.
  *  - `plans` writes `.explain("formatted")` of each key's final
  *    DataFrame to `<outDir>/<key>.txt` — the before/after plan evidence
  *    an optimization commits under plans/. Fixture/protocol keys
  *    (staged mutations, streaming epochs) build their result eagerly
  *    inside the query fn, so their dump is the final — often
  *    control-plane — frame's plan; their interesting plans are asserted
  *    in PlanShapeSpec instead.
  *  - `sweep` prints every key whose PHYSICAL plan matches the regex —
  *    the tool behind structural invariants like AllQueriesSmokeSpec's
  *    CartesianProduct ban (sweep first, judge each hit, then encode the
  *    allowlist as a test). Findings: `Exchange SinglePartition` hits ~60
  *    keys and is NOT a smell by itself (two-phase global aggregates and
  *    bounded domain-compressed windows plan it correctly);
  *    CartesianProduct hits none (machine-checked ban);
  *    `ExistingRDD|LocalTableScan` hits 39 keys, all bounded
  *    control-plane by class (localCheckpoint'd graph/cluster frames,
  *    trained codebooks, staged stream/CDC fixtures, metadata frames).
  */
object Dev {
  private val usage = "usage: Dev profile <sfDir> [key...] | " +
    "plans <sfDir> <outDir> [key...] | sweep <sfDir> <regex> [key...]"

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, usage)
    val (mode, sfDir) = (args(0), args(1))
    val (arg, named) = mode match {
      case "profile" => ("", args.drop(2).toSeq)
      case "plans" | "sweep" =>
        require(args.length >= 3, usage); (args(2), args.drop(3).toSeq)
      case m => throw new IllegalArgumentException(s"unknown mode '$m'; $usage")
    }
    val qs = SparkEntry.queries
    val keys = if (named.nonEmpty) named else qs.keys.toSeq.sorted
    val unknown = keys.toSet -- qs.keySet
    require(unknown.isEmpty,
      s"unknown keys: ${unknown.toSeq.sorted.mkString(", ")} — failing " +
        "up front beats dying mid-loop after minutes of work")
    val spark = Sessions.localHarness(defaultCpus = 4, logLevel = "ERROR")
    // String.valueOf: getMessage can be null (bare NPEs), and the
    // handler NPEing would abort the whole loop
    def msg(e: Throwable, n: Int) = String.valueOf(e.getMessage).take(n)
    var hits = 0
    val each: (String, () => DataFrame) => Unit = mode match {
      case "profile" =>
        // one throwaway action to absorb session/codegen start-up
        Tables.region(spark, sfDir).count()
        (k, df) => {
          // Bench's -1 failure sentinel, not elapsed-to-failure: a key
          // that throws in 0.3s must not print a plausible timing
          def once(): Double = {
            val t0 = System.nanoTime()
            try { df().count(); (System.nanoTime() - t0) / 1e9 }
            catch {
              case e: Throwable => println(s"$k FAILED: ${msg(e, 200)}"); -1.0
            }
          }
          val cold = once(); val warm = once()
          println(f"PROFILE $k%-24s cold=$cold%7.2fs warm=$warm%7.2fs")
        }
      case "plans" =>
        val outDir = java.nio.file.Paths.get(arg)
        java.nio.file.Files.createDirectories(outDir)
        (k, df) => {
          val txt =
            try df().queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            catch { case e: Throwable => s"ERR: ${e.toString.take(2000)}" }
          java.nio.file.Files.writeString(outDir.resolve(s"$k.txt"), txt)
          println(s"dumped $k (${txt.length} chars)")
        }
      case _ =>
        val pattern = arg.r
        (k, df) =>
          try {
            val p = df().queryExecution.executedPlan.toString
            if (pattern.findFirstIn(p).isDefined) { hits += 1; println(s"HIT $k") }
          } catch { case e: Throwable => println(s"ERR $k ${msg(e, 120)}") }
    }
    keys.foreach(k => each(k, () => qs(k)(spark, sfDir)))
    if (mode == "sweep") println(s"== $hits of ${keys.size} keys match '$arg'")
    spark.stop()
  }
}
