package graft.streaming

import java.io.File

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** A replayable PARTITIONED LOG with explicit offset semantics, file-
  * backed — the deployment shape of the Canal→Kafka→consumer topology
  * with the broker modeled on shared storage (no Kafka jar exists in
  * this environment, a documented constraint; the SEMANTICS are the
  * point: per-partition append sequencing, consumer-group committed
  * offsets, resume-from-offset, at-least-once replay).
  *
  * Layout:
  * {{{
  *   root/seg=<epoch>/p=<k>/ (parquet, zstd)
  *                                   records {offset INT64, value}; offsets
  *                                   are assigned AT APPEND TIME,
  *                                   contiguous per partition across epochs
  *   root/_ENDS                      append history: "epoch p start end"
  *                                   per (epoch, partition) — the segment
  *                                   index that prunes reads
  *   root/_COMMIT_<group>            consumer group's committed offsets:
  *                                   "p offset" lines, atomic manifest
  * }}}
  * Only this object knows the segment format ([[read]],
  * [[segmentRecords]]).
  *
  * Scale notes: appending assigns offsets with ONE window shuffle over
  * the new records only, partitioned by p — exactly Kafka's
  * per-partition sequencer, never a global sort and never O(log) — and
  * the write is the only other job. The new ranges are [base, base +
  * rows) per partition, with the rows summed from the written files'
  * parquet footers (O(files) driver metadata), so no second pass touches
  * the records. Segments are columnar zstd: the Canal payloads repeat
  * their table's column and type maps, and the sf0.01 CDC feed's log
  * stores ≈36 B per change where JSON lines took ≈604 B. Reads prune whole
  * segment dirs via the _ENDS index (O(epochs × parts) metadata) before
  * any data is opened, then keep only offsets ≥ the consumer's position
  * with a broadcast of the O(parts) offset map. Commits are O(parts)
  * manifest writes through the fsync + atomic-rename discipline shared
  * with the table publish paths.
  */
object OffsetLog {

  private def endsFile(root: String) = s"$root/_ENDS"
  private def commitFile(root: String, group: String) = s"$root/_COMMIT_$group"

  /** (epoch, p, start, end) append history — Nil before the first append. */
  private def endsHistory(root: String): Seq[(Long, Int, Long, Long)] = {
    val f = new java.io.File(endsFile(root))
    if (!f.exists()) Nil
    else {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.readAllLines(f.toPath).asScala.toSeq
        .filter(_.nonEmpty).map { l =>
          val Array(e, p, a, b) = l.split(' ')
          (e.toLong, p.toInt, a.toLong, b.toLong)
        }
    }
  }

  /** Next offset to be assigned per partition (0 before any append). */
  def endOffsets(root: String): Map[Int, Long] = endsOf(endsHistory(root))

  /** Log end as it stood after `epoch` — what a consumer polling at that
    * point in time would have seen as the high-water mark.
    */
  def endOffsetsAt(root: String, epoch: Long): Map[Int, Long] =
    endsOf(endsHistory(root).filter(_._1 <= epoch))

  private def endsOf(hist: Seq[(Long, Int, Long, Long)]): Map[Int, Long] =
    hist.groupBy(_._2).map { case (p, hs) => p -> hs.map(_._4).max }

  /** Append one epoch of records. `records` must carry `p` (partition
    * id) and `value` (payload string); `seq` orders records WITHIN a
    * partition deterministically (the producer's send order) and must
    * be UNIQUE per partition — a tie would make the offset assignment
    * depend on shuffle arrival order. Offsets continue from the
    * previous epoch's end per partition. An empty epoch is a no-op
    * (no segment dir, no _ENDS entry).
    */
  def append(root: String, epoch: Long, records: DataFrame,
      seq: org.apache.spark.sql.Column): Unit = {
    // SINGLE PRODUCER per log root, like commit()'s per-group contract:
    // the offset assignment + _ENDS rewrite is a read-modify-write, so
    // two concurrent appends would assign duplicate offsets and the
    // last _ENDS publish would silently drop the other epoch's ranges.
    // One _ENDS snapshot feeds the epoch guard, the bases and the
    // published lines.
    val hist = endsHistory(root)
    // monotonic-epoch contract, ENFORCED (r12 ADVICE): an epoch that
    // already published _ENDS ranges must never be re-appended — the
    // seg-dir overwrite would orphan those ranges (empty source: the
    // dir is deleted under them, and read()'s epoch list still includes
    // the epoch; non-empty: offsets would re-base on the epoch's OWN
    // published ends, double-counting every record). A crash-retry
    // BETWEEN seg write and _ENDS publish remains legal: such an epoch
    // has no _ENDS entry yet, which is exactly what this checks.
    require(!hist.exists(_._1 == epoch),
      s"offset-log epoch $epoch at $root already published _ENDS " +
        "ranges — re-appending a committed epoch would corrupt the log")
    val ends = endsOf(hist)
    // the O(parts) bases ride the plan as a literal map: no join, no job
    val base = coalesce(element_at(typedLit(ends), col("p").cast("int")),
      lit(0L))
    val segDir = new File(s"$root/seg=$epoch")
    // OVERWRITE, not append: each epoch owns its seg dir, so the only
    // way data pre-exists here is a RETRY after a crash between this
    // write and the _ENDS publish — append would then duplicate every
    // record at identical offsets; overwrite replays idempotently (the
    // recomputed offsets are identical because _ENDS has no epoch entry)
    records
      .withColumn("offset",
        base + row_number().over(Window.partitionBy(col("p")).orderBy(seq)) - 1)
      .select(col("p"), col("offset"), col("value"))
      .write.partitionBy("p").mode("overwrite").option("compression", "zstd")
      .parquet(segDir.getPath)
    // row_number numbers each partition's records 1..n, so the ranges
    // are [base, base + rows), with the rows read from the footers
    val rows = partDirs(segDir).map { d =>
      d.getName.stripPrefix("p=").toInt -> footerRows(records.sparkSession, d)
    }.toMap
    if (rows.isEmpty) {
      // empty epoch: drop the seg dir the write left and publish nothing
      graft.Scratch.deleteRecursively(segDir)
      return
    }
    val lines = hist.map { case (e, p, a, b) => s"$e $p $a $b" } ++
      rows.toSeq.sorted.map { case (p, n) =>
        val a = ends.getOrElse(p, 0L)
        s"$epoch $p $a ${a + n}"
      }
    atomicWrite(endsFile(root), lines.mkString("\n"))
  }

  /** Rows of one dir's parquet files, summed from their footers —
    * O(files) driver metadata, no Spark job. The CDC state's compaction
    * rule sizes its bucket dirs with it too.
    */
  private[graft] def footerRows(s: SparkSession, dir: File): Long = {
    val conf = s.sparkContext.hadoopConfiguration
    // options built once, without a file path: built from each file's
    // path they look up its decryption properties first, ≈10 ms a file
    // against under 1 ms for the open alone
    val opts = HadoopReadOptions.builder(conf).build()
    dataFiles(dir).map { f =>
      val r = ParquetFileReader.open(
        HadoopInputFile.fromPath(new Path(f.toURI), conf), opts)
      try r.getRecordCount finally r.close()
    }.sum
  }

  private def partDirs(segDir: File): Seq[File] =
    Option(segDir.listFiles()).getOrElse(Array.empty[File]).toSeq
      .filter(d => d.isDirectory && d.getName.startsWith("p="))

  /** A segment partition dir's parquet data files, in name order. */
  private def dataFiles(partDir: File): Seq[File] =
    Option(partDir.listFiles()).getOrElse(Array.empty[File]).toSeq
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)

  /** The (offset, value) records of one segment partition dir
    * (`seg=<epoch>/p=<k>`), file by file — the DSv2 reader's record
    * source. Close it to release the open file.
    */
  def segmentRecords(dir: String): Iterator[(Long, String)] with java.io.Closeable =
    new Iterator[(Long, String)] with java.io.Closeable {
      private lazy val conf = new Configuration()
      private var open: java.io.Closeable = () => ()
      private val recs = dataFiles(new File(dir)).iterator.flatMap { f =>
        open.close() // no fd leak across files
        val r = ParquetReader.builder(new GroupReadSupport(),
          new Path(f.toURI)).withConf(conf).build()
        open = r
        Iterator.continually(r.read()).takeWhile(_ != null).map { g =>
          (g.getLong("offset", 0),
            if (g.getFieldRepetitionCount("value") == 0) null
            else g.getString("value", 0))
        }
      }
      override def hasNext: Boolean = recs.hasNext
      override def next(): (Long, String) = recs.next()
      override def close(): Unit = open.close()
    }

  /** Records with offset ≥ the group's position, segment-pruned via the
    * _ENDS index: an epoch dir is opened only if SOME partition's range
    * extends past the consumer's committed offset for it.
    */
  def read(s: SparkSession, root: String, from: Map[Int, Long],
      until: Map[Int, Long] = Map.empty): DataFrame = {
    import s.implicits._
    val hist = endsHistory(root)
    // an until SNAPSHOT that omits a partition means the consumer's
    // poll saw NOTHING for it — bound it at 0 (no rows), not MaxValue:
    // the unbounded default is only for the until-less "read everything"
    // call. The DSv2 connector patched this at its own call site; the
    // shared primitive must agree or an as-of read leaks
    // post-snapshot partitions (degrading exactly-once to
    // at-least-once where the merge happens to be idempotent).
    def untilOf(p: Int): Long =
      if (until.isEmpty) Long.MaxValue else until.getOrElse(p, 0L)
    val segs = hist.filter { case (_, p, a, b) =>
      b > from.getOrElse(p, 0L) && a < untilOf(p)
    }.map(_._1).distinct.sorted.map(e => new File(s"$root/seg=$e"))
      // retention guard (the liveSegments rule): _ENDS remembers
      // truncated epochs by design, so a consumer positioned below the
      // retention floor must SKIP them (Kafka's jump-to-earliest), not
      // crash the read on a deleted seg dir
      .filter(_.exists())
    if (segs.isEmpty)
      return s.emptyDataFrame
        .select(lit(0).as("p"), lit(0L).as("offset"), lit("").as("value"))
        .limit(0)
    val parts = hist.map(_._2).distinct
    val boundsDf = parts.map(p => (p, from.getOrElse(p, 0L),
      untilOf(p))).toDF("p", "from", "until")
    // explicit schema: inference would cost a footer pass. basePath
    // anchors partition discovery: without it, a read spanning MULTIPLE
    // epoch dirs makes Spark infer conflicting structures (seg= itself
    // looks like a partition level) — a latent bug the retention spec's
    // two-epoch tail read exposed
    s.read.schema("offset BIGINT, value STRING").option("basePath", root)
      .parquet(segs.map(_.getPath): _*)
      .withColumn("p", col("p").cast("int"))
      .join(broadcast(boundsDf), Seq("p"))
      .filter(col("offset") >= col("from") && col("offset") < col("until"))
      .select(col("p"), col("offset"), col("value"))
  }

  /** The group's committed offsets (0 per partition before any commit). */
  def committed(root: String, group: String): Map[Int, Long] = {
    val f = new java.io.File(commitFile(root, group))
    if (!f.exists()) Map.empty
    else {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.readAllLines(f.toPath).asScala
        .filter(_.nonEmpty).map { l =>
          val Array(p, o) = l.split(' '); p.toInt -> o.toLong
        }.toMap
    }
  }

  /** Commit the group's position — fsync'd bytes, atomic rename, fsync'd
    * dirent: the same torn-manifest discipline as the table publishes.
    * Committing AFTER the downstream merge gives at-least-once delivery;
    * the merge must be (and is) idempotent per consumed range.
    *
    * Commits MERGE per partition (a commit only advances the partitions
    * it names, Kafka's semantics): consumers in one group that split the
    * partition set commit independently without clobbering each other's
    * positions — the rebalance shape, spec-tested. Positions never move
    * backwards (max with the existing commit). The merge is a
    * read-modify-write of the group manifest: like Kafka's group
    * coordinator, commits for one group are assumed serialized (one
    * committer at a time); partition OWNERSHIP may be split, concurrent
    * commit RACES for the same group are not arbitrated here.
    */
  def commit(root: String, group: String, offsets: Map[Int, Long]): Unit = {
    val prior = committed(root, group)
    val merged = prior ++ offsets.map { case (p, o) =>
      p -> math.max(o, prior.getOrElse(p, 0L))
    }
    atomicWrite(commitFile(root, group),
      merged.toSeq.sorted.map { case (p, o) => s"$p $o" }.mkString("\n"))
  }

  /** Live (epoch, partition) segments intersecting (from, until) — the
    * DSv2 connector's plan-time unit: one Spark task per entry. Both
    * bounds prune from the _ENDS ranges (a segment wholly at/above
    * `until` — e.g. appended after an AvailableNow run snapshotted its
    * cap — plans NO task instead of a parse-and-drop-everything task).
    * Truncated dirs are excluded even though _ENDS remembers them.
    */
  def liveSegments(root: String, from: Map[Int, Long],
      until: Map[Int, Long] = Map.empty): Seq[(Long, Int)] =
    endsHistory(root).collect {
      // same absent-partition snapshot rule as read(): a non-empty
      // until that omits p bounds it at 0
      case (e, p, a, b) if b > from.getOrElse(p, 0L) &&
          a < (if (until.isEmpty) Long.MaxValue
               else until.getOrElse(p, 0L)) &&
          new java.io.File(s"$root/seg=$e/p=$p").exists() => (e, p)
    }.sorted

  /** Offset ranges a consumer positioned at `from` can NEVER read
    * because retention already deleted their segment dirs — Kafka's
    * data-loss detection (r15 DSv2 review): a truncated segment whose
    * end is above the consumer's position means records in
    * [max(start, from), end) are gone. Empty iff the truncate contract
    * (floor ≤ every consumer's committed position) was respected.
    * Returns (partition, lostFrom, lostUntil) triples.
    */
  def lostRanges(root: String, from: Map[Int, Long])
      : Seq[(Int, Long, Long)] =
    endsHistory(root).collect {
      case (e, p, a, b) if b > from.getOrElse(p, 0L) &&
          !new java.io.File(s"$root/seg=$e/p=$p").exists() =>
        (p, math.max(a, from.getOrElse(p, 0L)), b)
    }.sorted

  /** Log RETENTION (Kafka's segment deletion): drop every segment epoch
    * whose ranges lie wholly below `floor` on every partition — the
    * low-water mark, normally min over all consumer groups' committed
    * offsets. The _ENDS index keeps the dropped epochs' entries (offset
    * continuity and end-offset accounting never change; the index is
    * O(epochs × parts) metadata), and reads are safe by contract: a
    * consumer's `from` is ≥ its committed position ≥ the floor, so a
    * truncated epoch can never be selected by the segment pruning.
    * Returns the dropped epoch ids.
    */
  def truncate(root: String, floor: Map[Int, Long]): Seq[Long] = {
    val hist = endsHistory(root)
    val dead = hist.groupBy(_._1).collect {
      case (e, rs) if rs.forall { case (_, p, _, b) =>
        b <= floor.getOrElse(p, 0L) } => e
    }.toSeq.sorted
      // _ENDS keeps dropped epochs' entries by design (offset
      // accounting) — report only dirs that actually exist
      .filter(e => new java.io.File(s"$root/seg=$e").exists())
    dead.foreach { e =>
      graft.Scratch.deleteRecursively(new java.io.File(s"$root/seg=$e"))
    }
    dead
  }

  /** Remove a consumer group's commit manifest — for one-shot groups
    * whose position has been fully consumed, so a shared cross-run log
    * root does not accumulate dead manifests.
    */
  def dropGroup(root: String, group: String): Unit = {
    new java.io.File(commitFile(root, group)).delete(); ()
  }

  private def atomicWrite(path: String, content: String): Unit =
    graft.Scratch.atomicPublish(java.nio.file.Paths.get(path), content)
}
