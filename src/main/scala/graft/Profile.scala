package graft

/** Dev profiling harness (not part of the driver contract): runs the named
  * queries (or all) twice in one JVM and reports cold vs warm wall-clock,
  * separating JIT/session warm-up from steady-state cost. Usage:
  *   sbt "runMain graft.Profile <sfDir> [key ...]"
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val qs = SparkEntry.queries
    val keys = if (args.length > 1) args.drop(1).toSeq
               else qs.keys.toSeq.sorted
    val unknown = keys.toSet -- qs.keySet
    require(unknown.isEmpty,
      s"unknown keys: ${unknown.toSeq.sorted.mkString(", ")} — failing " +
        "up front beats dying mid-loop after minutes of profiling")
    val spark = graft.Sessions.localHarness(defaultCpus = 4, logLevel = "ERROR")
    // one throwaway action to absorb session/codegen start-up
    spark.read.parquet(s"$sfDir/region.parquet").count()
    keys.foreach { k =>
      val fn = qs(k)
      // Bench's -1 failure sentinel, not elapsed-to-failure: a key that
      // throws in 0.3s must not print a plausible-looking timing
      def once(): Double = {
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
        catch {
          case e: Throwable =>
            println(s"$k FAILED: ${String.valueOf(e.getMessage).take(200)}")
            -1.0
        }
      }
      val cold = once(); val warm = once()
      println(f"PROFILE $k%-24s cold=$cold%7.2fs warm=$warm%7.2fs")
    }
    spark.stop()
  }
}
