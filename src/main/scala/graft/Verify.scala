package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: runMain graft.Verify <sfDir> <outDir> [key ...]")
    val Array(sfDir, outDir) = args.take(2)
    // optional trailing args: restrict to these keys (dev loop only; the
    // driver always passes exactly two args → full dump)
    val only = args.drop(2).toSet
    val unknown = only -- SparkEntry.queries.keySet
    require(unknown.isEmpty,
      s"unknown keys: ${unknown.toSeq.sorted.mkString(", ")}")
    val spark = Sessions.localHarness(defaultCpus = 4, logLevel = "WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.toString.take(500)}")
        // a failed key must not leave a STALE result from a previous run
        // for the local gate to pass on (observed once: an analysis
        // exception left the prior parquet in place and check.py
        // compared the stale output green)
        graft.Scratch.deleteRecursively(new java.io.File(s"$outDir/$name"))
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Json.q(k)}: ${Json.q(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // the COMPLETE key list, so the checker can tell a rows-only key
    // whose job failed (dir deleted above) from one that never existed —
    // without this, a crashed no-oracle key is invisible to the gate
    Files.writeString(Paths.get(s"$outDir/keys.json"),
      SparkEntry.queries.keys.toSeq.sorted.map(Json.q)
        .mkString("[", ",", "]"))
    spark.stop()
  }
}
