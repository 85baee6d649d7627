package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Watermark / late-data / dedup semantics that no batch oracle can state:
  * injected out-of-order rows via MemoryStream, asserting what the state
  * machinery emits and drops.
  */
class StreamSemanticsSpec extends GraftSpec {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  // ---- shared offset-log fixtures (previously copy-pasted per test) ----

  /** CDC envelope encoder: rows → (partition, json value, ordering cols). */
  private def envRecs(rows: Seq[(Long, Double, Long, String)])
      : org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    rows.toDF("o_orderkey", "o_totalprice", "es", "type")
      .withColumn("ts", col("es"))
      .withColumn("p", pmod(col("o_orderkey"), lit(2L)).cast("int"))
      .withColumn("value", to_json(struct(col("o_orderkey"),
        col("o_totalprice"), col("es"), col("ts"), col("type"))))
      .select("p", "value", "es", "o_orderkey")
  }

  private lazy val envSchema = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("o_orderkey", LongType),
      StructField("o_totalprice", DoubleType), StructField("es", LongType),
      StructField("ts", LongType), StructField("type", StringType)))
  }

  private def envTyped(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    df.select(from_json(col("value"), envSchema).as("m")).select("m.*")

  /** Simple (k, value) append into an offset log, pmod-2 partitioned. */
  private def apKv(root: String)(epoch: Long,
      rows: Seq[(Long, String)]): Unit = {
    import spark.implicits._
    graft.streaming.OffsetLog.append(root, epoch,
      rows.toDF("k", "value")
        .withColumn("p", pmod(col("k"), lit(2L)).cast("int"))
        .select("p", "value", "k"),
      col("k"))
  }

  test("rows later than the watermark are dropped from append output") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long)]
    val agg = in.toDF().toDF("ts", "v")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes")).agg(count(lit(1)).as("n"))
    val q = agg.writeStream.format("memory").queryName("wm_test")
      .outputMode("append").start()
    try {
      in.addData((ts("2024-01-01 10:00:00"), 1L), (ts("2024-01-01 10:04:00"), 2L))
      q.processAllAvailable()
      // advance watermark to 10:50 → the 10:00 window finalizes
      in.addData((ts("2024-01-01 11:00:00"), 3L))
      q.processAllAvailable()
      // this row is 59 minutes late, far beyond the watermark → dropped
      in.addData((ts("2024-01-01 10:01:00"), 4L))
      q.processAllAvailable()
      in.addData((ts("2024-01-01 12:00:00"), 5L))
      q.processAllAvailable()
      val pairs = spark.table("wm_test")
        .select(col("window.start").cast("string"), col("n"))
        .as[(String, Long)].collect()
      // toMap would mask a re-emitted window last-wins; a finalized
      // window must appear exactly once in append output
      assert(pairs.map(_._1).distinct.length == pairs.length,
        s"a window was emitted twice: ${pairs.toSeq}")
      val rows = pairs.toMap
      assert(rows("2024-01-01 10:00:00") == 2L,
        s"late row must not be counted: $rows")
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark makes a replayed feed effectively-once") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long)]
    val dedup = in.toDF().toDF("ts", "id")
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("id")
    val q = dedup.writeStream.format("memory").queryName("dedup_test")
      .outputMode("append").start()
    try {
      val batch = Seq((ts("2024-01-01 10:00:00"), 1L), (ts("2024-01-01 10:01:00"), 2L))
      in.addData(batch: _*)
      q.processAllAvailable()
      in.addData(batch: _*) // at-least-once replay of the same rows
      q.processAllAvailable()
      assert(spark.table("dedup_test").count() == 2)
    } finally q.stop()
  }

  test("tws timers kill-and-recover: crash between batches, sessions converge") {
    import graft.streaming.StreamOps
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, Trigger}
    import org.apache.spark.sql.types._
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "4")
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import s.implicits._
    val root = graft.Scratch.dir("graft_tws_recover")

    // time-ordered two-file feed (an ordered replayable log, Kafka-style)
    // + a far-future sentinel file LAST so the final watermark fires all
    // remaining timers
    val ev = Tables.events(s, sf)
      .select(col("event_id"), col("user_id"), col("ts"))
      .as[(Long, Long, java.sql.Timestamp)].collect()
      .sortBy(e => (tsUs(e._3), e._1))
    val feed = s"$root/feed"; new java.io.File(feed).mkdirs()
    val (f0, f1) = ev.splitAt(ev.length / 2)
    val sentinel = {
      val mx = ev.map(_._3.getTime).max
      Array((-1L, -1L, new java.sql.Timestamp(mx + 30L * 86400000L)))
    }
    Seq(("part0", f0), ("part1", f1), ("zz_sentinel", sentinel))
      .foreach { case (name, rows) =>
        val stage = s"$root/stage_$name"
        rows.toSeq.toDF("event_id", "user_id", "ts")
          .coalesce(1).write.parquet(stage)
        val part = new java.io.File(stage).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        java.nio.file.Files.copy(part.toPath,
          java.nio.file.Paths.get(s"$feed/$name.parquet"))
        Thread.sleep(5) // distinct mtimes → deterministic ingest order
      }

    val schema = StructType(Seq(StructField("event_id", LongType),
      StructField("user_id", LongType), StructField("ts", TimestampType)))
    def run(ckpt: String, out: String, crashOnBatch: Option[Long]): Unit = {
      val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
      val sessions = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(feed)
        .withWatermark("ts", "1 second")
        .as[StreamOps.EvT]
        .groupByKey(_.user_id)
        .transformWithState(new StreamOps.SessionTimerProcessor,
          TimeMode.EventTime(), OutputMode.Append())
      val q = sessions.toDF().writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          batch.write.mode("overwrite").parquet(s"$out/v=$id")
          // crash AFTER the emission write, BEFORE the checkpoint commit:
          // restart must re-execute from the checkpointed state version
          // and the per-batch overwrite must absorb the replay
          if (crashOnBatch.contains(id) && crashed.compareAndSet(false, true))
            throw new RuntimeException("injected crash")
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination()
      catch { case _: org.apache.spark.sql.streaming.StreamingQueryException => () }
    }

    run(s"$root/ckpt_a", s"$root/out_a", crashOnBatch = Some(1L))
    run(s"$root/ckpt_a", s"$root/out_a", crashOnBatch = None)
    run(s"$root/ckpt_b", s"$root/out_b", crashOnBatch = None)

    def snap(out: String): Seq[(Long, Long, Long, Long)] =
      s.read.parquet(out).filter(col("user_id") >= 0)
        .select("user_id", "start_us", "end_us", "n_events")
        .as[(Long, Long, Long, Long)].collect().toSeq.sorted
    val a = snap(s"$root/out_a")
    // a Set compare would collapse a double-emitted session — the
    // exactly-once property this test exists to catch
    assert(a.distinct.size == a.size,
      s"a session was emitted twice: ${a.diff(a.distinct)}")
    assert(a == snap(s"$root/out_b"),
      "recovered sessions must equal the uninterrupted run")
    // and both equal an independent sequential sessionization
    val want = ev.groupBy(_._2).flatMap { case (uid, rows) =>
      val ts = rows.sortBy(e => (tsUs(e._3), e._1)).map(e => tsUs(e._3))
      val splits = ts.tail.foldLeft(List(List(ts.head))) { (acc, t) =>
        if (t - acc.head.head <= 30L * 60 * 1000 * 1000)
          (t :: acc.head) :: acc.tail
        else List(t) :: acc
      }
      splits.map(sess => (uid, sess.last, sess.head, sess.length.toLong))
    }.toSet
    assert(a.toSet == want, "sessions must equal the sequential recompute")
  }

  test("checkpoint kill-and-recover: crash mid-batch, restart converges") {
    import graft.operators.Cdc
    import graft.streaming.StreamOps
    val root = graft.Scratch.dir("graft_recover_test")
    // multi-file feed: the synthesized envelope stream split in two files
    // so maxFilesPerTrigger=1 yields two distinct micro-batches
    val all = Cdc.envelopes(spark, sf).collect().map(_.getString(0))
    val (f0, f1) = all.splitAt(all.length / 2)
    val feed = s"$root/feed"; new java.io.File(feed).mkdirs()
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$feed/part0.json"),
      f0.mkString("\n").getBytes)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$feed/part1.json"),
      f1.mkString("\n").getBytes)

    def run(state: String, ckpt: String,
        crashOnBatch: Option[Long]): Unit = {
      val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
      val q = spark.readStream.schema(Cdc.envelopeSchema)
        .option("maxFilesPerTrigger", "1").json(feed)
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          StreamOps.mergeCdcTyped(
            Cdc.typeMapOrders(batch).select("o_orderkey", "o_totalprice",
              "es", "ts", "type"), id, state)
          // crash AFTER the merge wrote v=<id> but BEFORE the checkpoint
          // commits — the worst-case kill point; restart must re-execute
          // this batch and converge (the merge reads only versions < id)
          if (crashOnBatch.contains(id) && crashed.compareAndSet(false, true))
            throw new RuntimeException("injected crash")
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination()
      catch { case _: org.apache.spark.sql.streaming.StreamingQueryException => () }
    }

    // interrupted run: batch 0 commits, batch 1 merges then dies uncommitted
    run(s"$root/state_a", s"$root/ckpt_a", crashOnBatch = Some(1L))
    // restart from the SAME checkpoint: batch 1 re-executes, stream drains
    run(s"$root/state_a", s"$root/ckpt_a", crashOnBatch = None)
    // uninterrupted control run
    run(s"$root/state_b", s"$root/ckpt_b", crashOnBatch = None)

    def snap(state: String) =
      StreamOps.readCdcState(spark, state)
        .orderBy("o_orderkey", "es", "ts", "type").collect().toSeq
    val a = snap(s"$root/state_a")
    assert(a == snap(s"$root/state_b"),
      "recovered state must equal the uninterrupted run")
    assert(a.nonEmpty)
  }

  test("offset log: contiguous offsets, resume-from-commit, crash replay converges") {
    import graft.streaming.{OffsetLog, StreamOps}
    import org.apache.spark.sql.types._
    import spark.implicits._
    val base = graft.Scratch.dir("graft_offlog_test")
    val root = s"$base/log"
    def recs(rows: Seq[(Long, Double, Long, String)]) = envRecs(rows)
    def toTyped(df: org.apache.spark.sql.DataFrame) = envTyped(df)
    val snapshot = (0L until 10L).map(k => (k, 100.0 + k, 10L, "INSERT"))
    val tail = Seq((1L, 999.0, 20L, "UPDATE"), (4L, 0.0, 20L, "DELETE"),
      (10L, 500.0, 21L, "INSERT"))
    OffsetLog.append(root, 0L, recs(snapshot),
      struct(col("es"), col("o_orderkey")))
    OffsetLog.append(root, 1L, recs(tail),
      struct(col("es"), col("o_orderkey")))
    // offsets are contiguous per partition ACROSS epochs: 5 even + 5 odd
    // snapshot keys, then the tail continues 5,6 / 5
    assert(OffsetLog.endOffsetsAt(root, 0L) == Map(0 -> 5L, 1 -> 5L))
    assert(OffsetLog.endOffsets(root) == Map(0 -> 7L, 1 -> 6L))
    val g = "grp"
    val stateA = s"$base/state_a"; val stateB = s"$base/state_b"
    // session 1 merges the snapshot range, then CRASHES before commit —
    // the worst-case kill point of commit-after-merge
    val hwm0 = OffsetLog.endOffsetsAt(root, 0L)
    StreamOps.mergeCdcTyped(
      toTyped(OffsetLog.read(spark, root, OffsetLog.committed(root, g), hwm0)),
      0L, stateA)
    assert(OffsetLog.committed(root, g).isEmpty, "crash lost no commit")
    // restart re-reads position 0 and REPLAYS the same range — the merge
    // (overwrite v=batchId) must be idempotent
    StreamOps.mergeCdcTyped(
      toTyped(OffsetLog.read(spark, root, OffsetLog.committed(root, g), hwm0)),
      0L, stateA)
    OffsetLog.commit(root, g, hwm0)
    // resume consumes ONLY the tail, from the committed offsets
    val resumed = OffsetLog.read(spark, root, OffsetLog.committed(root, g))
    assert(resumed.count() == tail.size)
    assert(resumed.agg(min(col("offset"))).head.getLong(0) == 5L)
    StreamOps.mergeCdcTyped(toTyped(resumed), 1L, stateA)
    OffsetLog.commit(root, g, OffsetLog.endOffsets(root))
    assert(OffsetLog.committed(root, g) == Map(0 -> 7L, 1 -> 6L))
    // uninterrupted control run over the same two ranges
    StreamOps.mergeCdcTyped(
      toTyped(OffsetLog.read(spark, root, Map.empty, hwm0)), 0L, stateB)
    StreamOps.mergeCdcTyped(
      toTyped(OffsetLog.read(spark, root, hwm0)), 1L, stateB)
    def snap(st: String) = StreamOps.readCdcState(spark, st)
      .orderBy("o_orderkey").collect().toSeq
    assert(snap(stateA) == snap(stateB),
      "crashed+replayed consumer must converge to the uninterrupted state")
    // end-state semantics: update applied, delete tombstoned, insert added
    val live = StreamOps.readCdcState(spark, stateA)
      .filter(col("type") =!= "DELETE")
      .select("o_orderkey", "o_totalprice").as[(Long, Double)].collect().toMap
    assert(live(1L) == 999.0 && !live.contains(4L) && live(10L) == 500.0)
  }

  test("offset log rebalance: split-partition consumers commit without clobbering") {
    import graft.streaming.OffsetLog
    import spark.implicits._
    val root = graft.Scratch.dir("graft_offlog_rebal_test") + "/log"
    val rows = (0L until 12L).map(k => (k, s"r$k"))
    OffsetLog.append(root, 0L,
      rows.toDF("k", "value")
        .withColumn("p", pmod(col("k"), lit(3L)).cast("int"))
        .select("p", "value", "k"),
      col("k"))
    assert(OffsetLog.endOffsets(root) == Map(0 -> 4L, 1 -> 4L, 2 -> 4L))
    val g = "shared"
    // consumer A owns partitions {0, 1}; consumer B owns {2}. Each
    // commits ONLY its partitions — B's commit must not reset A's.
    OffsetLog.commit(root, g, Map(0 -> 4L, 1 -> 2L))
    OffsetLog.commit(root, g, Map(2 -> 4L))
    assert(OffsetLog.committed(root, g) == Map(0 -> 4L, 1 -> 2L, 2 -> 4L),
      "per-partition commits must merge, not overwrite")
    // positions never regress: a late duplicate commit at a lower offset
    // (at-least-once replay of an old consumer) is a no-op
    OffsetLog.commit(root, g, Map(0 -> 1L))
    assert(OffsetLog.committed(root, g)(0) == 4L,
      "a stale commit must not move a position backwards")
    // resume from the merged position reads exactly the uncommitted tail
    val tail = OffsetLog.read(spark, root, OffsetLog.committed(root, g))
      .select("p", "offset").as[(Int, Long)].collect().toSet
    assert(tail == Set((1, 2L), (1, 3L)), s"unexpected tail: $tail")
  }

  test("offset log retention: segments below the committed floor drop, reads survive") {
    import graft.streaming.OffsetLog
    import spark.implicits._
    val root = graft.Scratch.dir("graft_offlog_ret_test") + "/log"
    def ap(epoch: Long, rows: Seq[(Long, String)]): Unit =
      apKv(root)(epoch, rows)
    ap(0L, (0L until 4L).map(k => (k, s"a$k")))
    ap(1L, (4L until 8L).map(k => (k, s"b$k")))
    ap(2L, (8L until 10L).map(k => (k, s"c$k")))
    // two groups: the slower one pins the low-water mark
    OffsetLog.commit(root, "fast", Map(0 -> 5L, 1 -> 5L))
    OffsetLog.commit(root, "slow", Map(0 -> 2L, 1 -> 2L))
    val floor = Seq("fast", "slow").map(OffsetLog.committed(root, _))
      .reduce((a, b) => a.map { case (p, o) => p -> math.min(o, b(p)) })
    // epoch 0 ends at 2/2 == the slow group's floor → dropped; epoch 1
    // is beyond it → kept
    assert(OffsetLog.truncate(root, floor) == Seq(0L))
    assert(!new java.io.File(s"$root/seg=0").exists())
    assert(new java.io.File(s"$root/seg=1").exists())
    // accounting unchanged; both groups still read their exact tails
    assert(OffsetLog.endOffsets(root) == Map(0 -> 5L, 1 -> 5L))
    val slowTail = OffsetLog.read(spark, root, OffsetLog.committed(root, "slow"))
    assert(slowTail.count() == 6) // epochs 1 and 2, offsets 2..4 per p
    val fastTail = OffsetLog.read(spark, root, OffsetLog.committed(root, "fast"))
    assert(fastTail.count() == 0)
    // a second truncate at the same floor is a no-op
    assert(OffsetLog.truncate(root, floor).isEmpty)
  }

  test("graftlog DSv2: plan-time segment pruning, resume option, read parity") {
    import graft.streaming.OffsetLog
    import spark.implicits._
    val root = graft.Scratch.dir("graft_offlog_dsv2_test") + "/log"
    def ap(epoch: Long, rows: Seq[(Long, String)]): Unit =
      apKv(root)(epoch, rows)
    ap(0L, (0L until 6L).map(k => (k, s"a$k")))
    ap(1L, (6L until 10L).map(k => (k, s"b$k")))
    val full = spark.read.format("graftlog").option("path", root).load()
    // parity with the library read path
    val viaApi = OffsetLog.read(spark, root, Map.empty)
      .select("p", "offset", "value").as[(Int, Long, String)].collect().toSet
    val viaDsv2 = full.as[(Int, Long, String)].collect().toSet
    assert(viaDsv2 == viaApi && viaDsv2.size == 10)
    // plan-time parallelism: one task per live (epoch, partition)
    assert(full.rdd.getNumPartitions == 4,
      s"expected 4 segment tasks, got ${full.rdd.getNumPartitions}")
    // resume via the group option: epoch 0 pruned AT PLAN TIME, and the
    // straddling position inside epoch 1 is honored by the reader
    OffsetLog.commit(root, "g", Map(0 -> 4L, 1 -> 3L))
    val resumed = spark.read.format("graftlog").option("path", root)
      .option("group", "g").load()
    assert(resumed.rdd.getNumPartitions == 2,
      "fully-consumed epoch-0 segments must not become tasks")
    val tail = resumed.select("p", "offset").as[(Int, Long)].collect().toSet
    assert(tail == Set((0, 4L), (1, 3L), (1, 4L)), s"unexpected tail: $tail")
  }

  test("graftlog streaming: checkpoint offsets resume; only the tail replays") {
    import graft.streaming.OffsetLog
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val base = graft.Scratch.dir("graft_offlog_stream_test")
    val root = s"$base/log"; val ckpt = s"$base/ckpt"; val out = s"$base/out"
    def ap(epoch: Long, rows: Seq[(Long, String)]): Unit =
      apKv(root)(epoch, rows)
    val seen = java.util.Collections.synchronizedList(
      new java.util.ArrayList[(Long, Long)]())
    def drain(): Unit = {
      val q = spark.readStream.format("graftlog").option("path", root).load()
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          seen.add((id, b.count()))
          b.write.mode("append").parquet(out)
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    ap(0L, (0L until 6L).map(k => (k, s"a$k")))
    drain() // run 1: all of epoch 0
    ap(1L, (6L until 10L).map(k => (k, s"b$k")))
    drain() // run 2, SAME checkpoint: must read ONLY the appended tail
    val batches = seen.toArray(Array.empty[(Long, Long)]).toSeq.sortBy(_._1)
    assert(batches.map(_._2).sum == 10, s"batches: $batches")
    assert(batches.last._2 == 4,
      s"resume must process only the 4 tail records: $batches")
    val rows = spark.read.parquet(out)
      .select("p", "offset", "value").as[(Int, Long, String)].collect()
    assert(rows.length == 10 && rows.toSet.size == 10,
      "no record lost or duplicated across the resume")
  }

  test("graftlog streaming: resume over retention — clean below floor, loud past it") {
    // the r15 DSv2 adversarial scenario: the log MUTATES (retention
    // truncates segments) between checkpointed runs. Contract-
    // respecting truncation (floor ≤ the checkpointed position) must
    // resume cleanly — only the tail, no duplicate, no crash; a
    // contract-VIOLATING truncation (segments the checkpoint still
    // needs are gone) must fail LOUDLY instead of silently resuming
    // with a gap — the Kafka failOnDataLoss contract.
    import graft.streaming.OffsetLog
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val base = graft.Scratch.dir("graft_offlog_trunc_test")
    val root = s"$base/log"; val ckpt = s"$base/ckpt"; val out = s"$base/out"
    val seen = java.util.Collections.synchronizedList(
      new java.util.ArrayList[java.lang.Long]())
    def drain(): Unit = {
      val q = spark.readStream.format("graftlog").option("path", root).load()
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          seen.add(b.count())
          b.write.mode("append").parquet(out)
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    apKv(root)(0L, (0L until 6L).map(k => (k, s"a$k")))
    drain() // run 1 consumes epoch 0 fully; checkpoint = end of epoch 0
    // contract-respecting retention: floor = the consumed position
    val dropped = OffsetLog.truncate(root, OffsetLog.endOffsetsAt(root, 0L))
    assert(dropped == Seq(0L), s"epoch 0 must be reclaimable: $dropped")
    apKv(root)(1L, (6L until 10L).map(k => (k, s"b$k")))
    drain() // resume over the truncated log: tail only
    import scala.jdk.CollectionConverters._
    assert(seen.asScala.map(_.longValue).sum == 10,
      s"retention below the checkpoint must not change delivery: $seen")
    val rows = spark.read.parquet(out)
      .select("p", "offset", "value").as[(Int, Long, String)].collect()
    assert(rows.length == 10 && rows.toSet.size == 10,
      "no record lost or duplicated across the retention resume")
    // contract-VIOLATING retention: delete epoch 1's segments although
    // the NEXT run's checkpoint… is already past them — so append an
    // epoch 2 the checkpoint has NOT consumed, then truncate it away
    apKv(root)(2L, (10L until 14L).map(k => (k, s"c$k")))
    (2L to 2L).foreach { e =>
      graft.Scratch.deleteRecursively(new java.io.File(s"$root/seg=$e"))
    }
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q = spark.readStream.format("graftlog").option("path", root).load()
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.count(); () }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    def rootCauseChain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => String.valueOf(e.getMessage)).toSeq
    assert(rootCauseChain(ex).exists(_.contains("truncated past")),
      s"data loss must fail loudly, got: ${rootCauseChain(ex)}")
  }

  test("exactly-once offsets: position and state share one atomic commit") {
    import graft.streaming.{OffsetLog, StreamOps}
    import org.apache.spark.sql.types._
    import spark.implicits._
    val base = graft.Scratch.dir("graft_offlog_txn_test")
    val root = s"$base/log"; val state = s"$base/state"
    def recs(rows: Seq[(Long, Double, Long, String)]) = envRecs(rows)
    def toTyped(df: org.apache.spark.sql.DataFrame) = envTyped(df)
    OffsetLog.append(root, 0L,
      recs((0L until 6L).map(k => (k, 100.0 + k, 10L, "INSERT"))),
      struct(col("es"), col("o_orderkey")))
    OffsetLog.append(root, 1L,
      recs(Seq((1L, 999.0, 20L, "UPDATE"), (6L, 600.0, 21L, "INSERT"))),
      struct(col("es"), col("o_orderkey")))
    // batch 0: state + position land in ONE atomic rename
    val hwm0 = OffsetLog.endOffsetsAt(root, 0L)
    StreamOps.mergeCdcTypedTxn(
      toTyped(OffsetLog.read(spark, root, StreamOps.txnCommittedOffsets(state),
        hwm0)), 0L, state, Some(hwm0))
    assert(StreamOps.txnCommittedOffsets(state) == hwm0,
      "position must be readable out of the committed version")
    // simulate a crash MID-STAGING of batch 1: a .txn_ dir exists but was
    // never renamed — it must be invisible to position recovery
    val staging = new java.io.File(s"$state/.txn_v=1")
    staging.mkdirs()
    java.nio.file.Files.writeString(
      staging.toPath.resolve("_offsets"), "0 99\n1 99")
    assert(StreamOps.txnCommittedOffsets(state) == hwm0,
      "an unrenamed staging dir must not advance the position")
    // restart: recovery resumes from the state's own position; the
    // replay sweeps the leftover staging and commits atomically
    val resumed = StreamOps.txnCommittedOffsets(state)
    StreamOps.mergeCdcTypedTxn(
      toTyped(OffsetLog.read(spark, root, resumed)),
      1L, state, Some(OffsetLog.endOffsets(root)))
    assert(!staging.exists(), "replay must sweep crash leftovers")
    assert(StreamOps.txnCommittedOffsets(state) == OffsetLog.endOffsets(root))
    val live = StreamOps.readCdcState(spark, state)
      .select("o_orderkey", "o_totalprice").as[(Long, Double)].collect().toMap
    assert(live(1L) == 999.0 && live(6L) == 600.0 && live.size == 7)
    // EMPTY consumed range: the position must STILL advance (a stale
    // position would make a restarted consumer re-read a processed
    // range — at-least-once, not exactly-once), published as a
    // bucketless version carrying only _offsets
    val bumped = OffsetLog.endOffsets(root).map { case (p, o) => p -> (o + 5) }
    StreamOps.mergeCdcTypedTxn(
      toTyped(OffsetLog.read(spark, root, bumped, bumped)), // empty frame
      2L, state, Some(bumped))
    assert(StreamOps.txnCommittedOffsets(state) == bumped,
      "an empty batch must still commit its consumed range")
    // ...the empty version must survive GC (it is the newest _offsets
    // carrier) and the state itself must be unchanged
    StreamOps.gcCdcVersions(state, 3L)
    assert(StreamOps.txnCommittedOffsets(state) == bumped,
      "GC must protect the newest offsets carrier even when bucketless")
    val live2 = StreamOps.readCdcState(spark, state)
      .select("o_orderkey", "o_totalprice").as[(Long, Double)].collect().toMap
    assert(live2 == live, "an empty batch must not disturb the state")
  }

  test("offset-log append work: two jobs, zstd parquet segments, ranges from the footers") {
    import graft.streaming.OffsetLog
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.metadata.CompressionCodecName
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.execution.SQLExecution
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    val root = graft.Scratch.dir("graft_offlog_work_test") + "/log"
    def ap(epoch: Long, rows: Seq[(Int, Long)]): Unit =
      OffsetLog.append(root, epoch,
        rows.map { case (p, k) => (p, s"v$k", k) }.toDF("p", "value", "k"),
        col("k"))
    ap(0L, (0L until 9L).map(k => ((k % 3).toInt, k))) // 3 per partition 0..2
    // the measured batch skips partition 1 and opens partition 3
    val batch = Seq((0, 10L), (0, 11L), (2, 12L), (3, 13L), (3, 14L),
      (3, 15L), (0, 16L))
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Option[String]]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY))))
        ()
      }
    }
    org.apache.spark.TestBridge.drainListenerBus(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      ap(1L, batch)
      org.apache.spark.TestBridge.drainListenerBus(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    // the window's shuffle and the write; the ranges cost no job
    val js = jobs.asScala.toSeq
    assert(js.forall(_.nonEmpty),
      s"${js.count(_.isEmpty)} of ${js.size} jobs ran outside a query")
    assert(js.size <= 2, s"one append ran ${js.size} jobs")
    val data = new java.io.File(s"$root/seg=1").listFiles().toSeq
      .filter(_.isDirectory).flatMap(_.listFiles())
      .filterNot(f => f.getName.startsWith(".") || f.getName.startsWith("_"))
    assert(data.nonEmpty && data.forall(_.getName.endsWith(".parquet")),
      s"data files: ${data.map(_.getName)}")
    val codecs = data.flatMap { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.toURI),
        spark.sparkContext.hadoopConfiguration))
      try r.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala.map(_.getCodec))
      finally r.close()
    }.toSet
    assert(codecs == Set(CompressionCodecName.ZSTD), s"codecs: $codecs")
    // [base, base + rows) per partition: a skipped partition publishes
    // no range, a new one starts at 0
    val published = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(s"$root/_ENDS")).asScala.toSeq
      .filter(_.startsWith("1 ")).toSet
    assert(published == Set("1 0 3 6", "1 2 3 4", "1 3 0 3"),
      s"epoch 1 ranges: $published")
    assert(OffsetLog.endOffsets(root) == Map(0 -> 6L, 1 -> 3L, 2 -> 4L, 3 -> 3L))
    val tail = OffsetLog.read(spark, root, OffsetLog.endOffsetsAt(root, 0L))
      .as[(Int, Long, String)].collect().toSet
    assert(tail == Set((0, 3L, "v10"), (0, 4L, "v11"), (0, 5L, "v16"),
      (2, 3L, "v12"), (3, 0L, "v13"), (3, 1L, "v14"), (3, 2L, "v15")),
      s"epoch 1 records: $tail")
  }

  test("offset-log append durable steps: epoch guard, crash retry, empty epoch") {
    import graft.streaming.OffsetLog
    import spark.implicits._
    val root = graft.Scratch.dir("graft_offlog_durable_test") + "/log"
    val endsFile = java.nio.file.Paths.get(s"$root/_ENDS")
    val tailRows = (6L until 10L).map(k => (k, s"b$k"))
    apKv(root)(0L, (0L until 6L).map(k => (k, s"a$k")))
    val ex = intercept[IllegalArgumentException] {
      apKv(root)(0L, Seq((6L, "x")))
    }
    assert(ex.getMessage.contains("already published _ENDS"), ex.getMessage)
    apKv(root)(1L, tailRows)
    val published = java.nio.file.Files.readString(endsFile)
    def all() = OffsetLog.read(spark, root, Map.empty)
      .as[(Int, Long, String)].collect().toSeq.sorted
    val want = all()
    // a crash between epoch 1's segment write and its _ENDS publish: the
    // segment is on disk, the index does not name it
    java.nio.file.Files.writeString(endsFile,
      published.linesIterator.filterNot(_.startsWith("1 ")).mkString("\n"))
    apKv(root)(1L, tailRows) // the retry
    assert(java.nio.file.Files.readString(endsFile) == published,
      "the retry must publish the same ranges")
    assert(all() == want && want.size == 10,
      s"the retry must give the same records, once each: ${all()}")
    // an empty epoch leaves no segment and no _ENDS entry
    apKv(root)(2L, Seq.empty[(Long, String)])
    assert(!new java.io.File(s"$root/seg=2").exists())
    assert(java.nio.file.Files.readString(endsFile) == published)
  }

  test("session windows split on gaps > 30 minutes") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long)]
    val agg = in.toDF().toDF("ts", "uid")
      .groupBy(session_window(col("ts"), "30 minutes"), col("uid"))
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.format("memory").queryName("sess_test")
      .outputMode("complete").start()
    try {
      in.addData(
        (ts("2024-01-01 10:00:00"), 1L), (ts("2024-01-01 10:10:00"), 1L),
        (ts("2024-01-01 11:30:00"), 1L)) // 80-min gap → second session
      q.processAllAvailable()
      val sessions = spark.table("sess_test").collect()
      assert(sessions.length == 2, sessions.mkString(";"))
    } finally q.stop()
  }

  test("mid-stream ALTER: new column lands after the DDL batch, state survives") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // hand-built FlatMessage JSON so the envelope can GAIN a column
    // between addData calls — one running query, true in-run evolution
    def j(m: Map[String, String]): String =
      m.map { case (k, v) => s""""$k":"$v"""" }.mkString("{", ",", "}")
    def env(id: Long, typ: String, es: Long, img: Map[String, String],
        mt: Map[String, String], isDdl: Boolean = false,
        sql: String = ""): String =
      s"""{"id":$id,"database":"demo","table":"orders","pkNames":["o_orderkey"],""" +
        s""""isDdl":$isDdl,"type":"$typ","es":$es,"ts":${es + 500},""" +
        s""""sql":"$sql","mysqlType":${j(mt)},"data":[${j(img)}],"old":null}"""
    val mtV1 = Map("o_orderkey" -> "bigint(20)", "o_totalprice" -> "decimal(15,2)")
    val mtV2 = mtV1 + ("o_note" -> "varchar(64)")
    val state = graft.Scratch.dir("evolve_test") + "/state"
    val in = MemoryStream[String]
    val parsed = in.toDF()
      .select(from_json(col("value"), graft.operators.Cdc.envelopeSchema).as("m"))
      .select(col("m.*"))
    val q = parsed.writeStream
      .foreachBatch((batch: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.streaming.StreamOps.mergeEvolving(batch, state))
      .option("checkpointLocation", graft.Scratch.dir("evolve_test_ckpt"))
      .start()
    try {
      // epoch 1: schema v1 inserts for keys 1 and 2
      in.addData(
        env(10, "INSERT", 100, Map("o_orderkey" -> "1", "o_totalprice" -> "10.00"), mtV1),
        env(20, "INSERT", 100, Map("o_orderkey" -> "2", "o_totalprice" -> "20.00"), mtV1))
      q.processAllAvailable()
      val v1 = spark.read.option("mergeSchema", "true").parquet(state)
      assert(!v1.columns.contains("o_note"),
        "o_note must not exist before the DDL")
      // epoch 2, same running query: DDL + post-DDL update carrying o_note
      in.addData(
        env(-1, "ALTER", 150, Map.empty, mtV2, isDdl = true,
          sql = "ALTER TABLE orders ADD COLUMN o_note VARCHAR(64)"),
        env(21, "UPDATE", 200,
          Map("o_orderkey" -> "2", "o_totalprice" -> "21.00", "o_note" -> "x2"),
          mtV2))
      q.processAllAvailable()
    } finally q.stop()
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_orderkey")).orderBy(col("es").desc)
    val latest = spark.read.option("mergeSchema", "true").parquet(state)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("o_orderkey"), col("o_totalprice").cast("double"),
        col("o_note"))
      .as[(Long, Double, Option[String])].collect().sortBy(_._1)
    // pre-DDL state survived (key 1), and the new column landed (key 2)
    assert(latest.toSeq == Seq(
      (1L, 10.0, None), (2L, 21.0, Some("x2"))), latest.mkString(";"))
  }

  test("one micro-batch straddling the ALTER still lands the new column") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    def j(m: Map[String, String]): String =
      m.map { case (k, v) => s""""$k":"$v"""" }.mkString("{", ",", "}")
    def env(id: Long, typ: String, es: Long, img: Map[String, String],
        mt: Map[String, String]): String =
      s"""{"id":$id,"database":"demo","table":"orders","pkNames":["o_orderkey"],""" +
        s""""isDdl":false,"type":"$typ","es":$es,"ts":${es + 500},""" +
        s""""sql":"","mysqlType":${j(mt)},"data":[${j(img)}],"old":null}"""
    val mtV1 = Map("o_orderkey" -> "bigint(20)", "o_totalprice" -> "decimal(15,2)")
    val mtV2 = mtV1 + ("o_note" -> "varchar(64)")
    val state = graft.Scratch.dir("straddle_test") + "/state"
    val in = MemoryStream[String]
    val parsed = in.toDF()
      .select(from_json(col("value"), graft.operators.Cdc.envelopeSchema).as("m"))
      .select(col("m.*"))
    val q = parsed.writeStream
      .foreachBatch((batch: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.streaming.StreamOps.mergeEvolving(batch, state))
      .option("checkpointLocation", graft.Scratch.dir("straddle_ckpt"))
      .start()
    try {
      // a consumer catching up after downtime reads pre- AND post-ALTER
      // envelopes in ONE batch: schema resolution must take the union
      // (latest declaration per column), never an arbitrary envelope
      in.addData(
        env(10, "INSERT", 100, Map("o_orderkey" -> "1", "o_totalprice" -> "10.00"), mtV1),
        env(20, "INSERT", 200,
          Map("o_orderkey" -> "2", "o_totalprice" -> "20.00", "o_note" -> "n2"), mtV2))
      q.processAllAvailable()
    } finally q.stop()
    import org.apache.spark.sql.expressions.Window
    val rows = spark.read.parquet(state)
      .select(col("o_orderkey"), col("o_note"))
      .as[(Long, Option[String])].collect().sortBy(_._1)
    assert(rows.toSeq == Seq((1L, None), (2L, Some("n2"))),
      rows.mkString(";"))
  }
}
