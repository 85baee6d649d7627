package graft

/** Dev plan-pattern sweep (not part of the driver contract): prints every
  * registered key whose PHYSICAL plan matches a regex — the tool behind
  * structural invariants like AllQueriesSmokeSpec's CartesianProduct ban
  * (sweep first, judge each hit, then encode the allowlist as a test).
  * Usage:
  *   sbt "runMain graft.PlanSweep <sfDir> <pattern>"
  *   sbt "runMain graft.PlanSweep /root/testdata/sf0.001 CartesianProduct"
  *
  * Findings log: `Exchange SinglePartition` hits ~60 keys and is NOT a
  * smell by itself — the two-phase global aggregate (partial states
  * cross, never rows) and bounded domain-compressed windows plan it
  * correctly; CartesianProduct hits 0 of all 415 keys (machine-checked ban);
  * `ExistingRDD|LocalTableScan` hits 39 keys, all bounded
  * control-plane by class — localCheckpoint'd graph/cluster frames,
  * O(k×dim) trained codebooks, staged stream/CDC fixtures, and
  * metadata frames — consistent with the all-collects-bounded audit.
  */
object PlanSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val pattern = args.lift(1).getOrElse("CartesianProduct").r
    val spark = graft.Sessions.localHarness(defaultCpus = 8, logLevel = "ERROR")
    var hits = 0
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (k, fn) =>
      try {
        val p = fn(spark, sfDir).queryExecution.executedPlan.toString
        if (pattern.findFirstIn(p).isDefined) { hits += 1; println(s"HIT $k") }
      } catch {
        // String.valueOf: getMessage can be null (bare NPEs), and the
        // handler NPEing would abort the whole sweep mid-loop
        case e: Throwable =>
          println(s"ERR $k ${String.valueOf(e.getMessage).take(120)}")
      }
    }
    println(s"== $hits of ${SparkEntry.queries.size} keys match '$pattern'")
    spark.stop()
  }
}
