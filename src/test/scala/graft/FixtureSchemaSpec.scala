package graft

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, TimestampNTZType}

/** Fixture reads with known schemas: `Tables.t` infers a fixture's parquet
  * schema once per (path, file signature, inference confs), and the reads
  * that bypass it are fenced by a source guard.
  */
class FixtureSchemaSpec extends GraftSpec {

  /** Spark jobs started while `body` runs, with the listener bus drained
    * at both edges so no job of earlier work is counted and none of this
    * body's is missed.
    */
  private def jobsDuring[T](body: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        n.incrementAndGet(); ()
      }
    }
    org.apache.spark.TestBridge.drainListenerBus(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val r = body
      org.apache.spark.TestBridge.drainListenerBus(spark.sparkContext)
      (r, n.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def copyFixture(name: String): String = {
    val d = Scratch.dir("fixture_schema")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/$name.parquet"),
      java.nio.file.Paths.get(s"$d/$name.parquet"))
    d
  }

  test("Tables.t: a second read of an unchanged fixture runs no Spark job") {
    val d = copyFixture("nation")
    val (first, inferJobs) = jobsDuring(Tables.t(spark, d, "nation"))
    assert(inferJobs >= 1, "the first read infers the schema")
    val (second, jobs) = jobsDuring(Tables.t(spark, d, "nation"))
    assert(jobs == 0, s"a known schema must need no job, ran $jobs")
    val plain = spark.read.parquet(s"$d/nation.parquet")
    assert(second.schema == plain.schema && first.schema == plain.schema)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("n_nationkey")).collect().toSeq
    assert(rows(second) == rows(plain) && rows(plain).nonEmpty)
  }

  test("Tables.t: a missing fixture fails as a plain read does") {
    val d = Scratch.dir("fixture_schema_missing")
    val plain = intercept[org.apache.spark.sql.AnalysisException](
      spark.read.parquet(s"$d/nation.parquet"))
    val got = intercept[org.apache.spark.sql.AnalysisException](
      Tables.t(spark, d, "nation"))
    assert(got.getCondition == plain.getCondition, got.getMessage)
  }

  test("Tables.t: a fixture rewritten at the same path with a new schema is inferred again") {
    import spark.implicits._
    val d = Scratch.dir("fixture_schema_rewrite")
    Seq((1L, "a")).toDF("k", "v").write.parquet(s"$d/t.parquet")
    assert(Tables.t(spark, d, "t").schema.fieldNames.toSeq == Seq("k", "v"))
    Seq((2L, "b", 3.5)).toDF("k", "v", "w")
      .write.mode("overwrite").parquet(s"$d/t.parquet")
    val got = Tables.t(spark, d, "t")
    assert(got.schema.fieldNames.toSeq == Seq("k", "v", "w"))
    assert(got.collect().toSeq.map(_.toSeq) == Seq(Seq(2L, "b", 3.5)))
  }

  /** events.parquet with `ts` written as TIMESTAMP(`unit`,
    * isAdjustedToUTC=false), the two encodings the testdata drops used.
    */
  private def writeEvents(path: String, unit: String, ts: Seq[Long]): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      s"message events { required int64 event_id; " +
        s"required int64 ts (TIMESTAMP($unit,false)); }")
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(path))
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(path)).withType(schema).build()
    try {
      val g = new SimpleGroupFactory(schema)
      ts.zipWithIndex.foreach { case (t, i) =>
        w.write(g.newGroup().append("event_id", i.toLong).append("ts", t))
      }
    } finally w.close()
  }

  test("Tables.t: events.ts re-encoded at the same path, and nanosAsLong flipped, infer again") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val s = Sessions.isolatedClone(spark) // the conf flips stay here
    val d = Scratch.dir("fixture_schema_events")
    val path = s"$d/events.parquet"
    val ns = 1700000000123456789L
    writeEvents(path, "NANOS", Seq(ns))
    s.conf.set(key, "true")
    val nanos = Tables.t(s, d, "events")
    assert(nanos.schema("ts").dataType == LongType)
    assert(nanos.collect().map(_.getLong(1)).toSeq == Seq(ns))
    // flipped conf: whatever a plain read infers (or how it fails),
    // never the schema cached under the other value
    s.conf.set(key, "false")
    val plain = scala.util.Try(s.read.parquet(path).schema)
    val got = scala.util.Try(Tables.t(s, d, "events").schema)
    assert(got.map(_.toString) == plain.map(_.toString) ||
      (got.isFailure && plain.isFailure), s"got $got, plain $plain")
    // the round-7 re-encoding: MICROS at the same path, same conf as the
    // first read
    s.conf.set(key, "true")
    writeEvents(path, "MICROS", Seq(ns / 1000, ns / 1000 + 1))
    val micros = Tables.t(s, d, "events")
    assert(micros.schema("ts").dataType == TimestampNTZType)
    assert(micros.count() == 2)
  }

  test("a pruned token-index probe plans with no Spark job") {
    import graft.plans.TextIndexRouting
    import graft.operators.Scans
    import org.apache.spark.sql.execution.FileSourceScanExec
    import spark.implicits._
    val s = Sessions.isolatedClone(spark) // rule isolation
    val root = s"${Scratch.dir("textidx_nojob")}/t"
    Seq((1L, "alpha beta")).toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(root)
    Seq((2L, "gamma delta")).toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(root)
    assert(Scans.appendTextIndex(s, root) == 2)
    TextIndexRouting.register(TextIndexRouting.TextIndexDef(root, "text",
      Scans.TextIndexBits, Scans.parseIndex(root)))
    TextIndexRouting.enable(s)
    try {
      val df = s.read.parquet(root).filter(org.apache.spark.sql.functions
        .array_contains(org.apache.spark.sql.functions.split(col("text"), " "),
          "alpha"))
      val (plan, jobs) = jobsDuring(df.queryExecution.executedPlan)
      assert(jobs == 0, s"planning the pruned scan ran $jobs jobs")
      val files = plan.collect { case f: FileSourceScanExec => f }
        .flatMap(_.relation.location.inputFiles)
      assert(files.length == 1, s"the probe must admit one file: ${files.toSeq}")
      assert(df.collect().map(_.getLong(0)).toSeq == Seq(1L))
    } finally TextIndexRouting.disable(s)
  }

  test("no main source outside Tables (Core.scala) reads a fixture table by its path") {
    import scala.jdk.CollectionConverters._
    // one read that must name two roots in one scan: mvRouteMultiRoot
    // tests MV routing over a fixture root plus an unregistered tail,
    // which a single-path Tables read cannot express
    val allowed = Map("MvOps.scala" -> 1)
    val tables = "lineitem|orders|customer|supplier|part|nation|region|" +
      "events|documents|embeddings"
    val read = (s"""\\.parquet\\(\\s*s"\\$$\\{?\\w+\\}?/(?:$tables)\\.parquet"""").r
    val srcs = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
      .iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    val rest = srcs.filter(_.getFileName.toString != "Core.scala")
    assert(rest.size > 30 && rest.size < srcs.size,
      s"the guard must see the main sources: ${srcs.size}")
    val found = rest.map(p => p.getFileName.toString ->
      read.findAllIn(java.nio.file.Files.readString(p)).length)
      .filter(_._2 > 0).toMap
    assert(found == allowed,
      s"read fixtures through Tables.t (known schemas): $found")
  }
}
