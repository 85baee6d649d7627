package graft.sources

import java.util

import graft.streaming.OffsetLog
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, SupportsTriggerAvailableNow}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 connector for the [[OffsetLog]] — the log as a named
  * Spark format, the deepest extension rung after expressions and
  * optimizer rules (SURVEY §2.12's ladder):
  *
  * {{{
  *   spark.read.format("graftlog")
  *     .option("path", root)
  *     .option("group", consumerGroup)   // optional: resume position
  *     .load()                           // p INT, offset LONG, value STRING
  * }}}
  *
  * Planning happens against the log's OWN metadata, not directory
  * listing: the `_ENDS` segment index yields one InputPartition per
  * (epoch, partition) whose range extends past the group's committed
  * position — segment pruning and resume-from-offset are DONE AT PLAN
  * TIME inside the connector, invisible to the query. Each reader
  * iterates its segment's records through [[OffsetLog.segmentRecords]]
  * and skips records below the committed offset (a segment can
  * straddle the position).
  *
  * Scale notes: one Spark task per live (epoch, partition) segment —
  * the log's natural parallelism; planning is O(epochs × parts) driver
  * metadata; a fully-consumed or truncated segment never becomes a
  * task at all.
  */
class OffsetLogSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {

  override def shortName(): String = "graftlog"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    OffsetLogSource.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new OffsetLogTable(properties.get("path"),
      Option(properties.get("group")))
}

object OffsetLogSource {
  val schema: StructType = StructType(Seq(
    StructField("p", IntegerType, nullable = false),
    StructField("offset", LongType, nullable = false),
    StructField("value", StringType)))
}

private class OffsetLogTable(root: String, group: Option[String])
    extends Table with SupportsRead {
  require(root != null, "graftlog requires option(\"path\", ...)")

  override def name(): String = s"graftlog(`$root`)"
  override def schema(): StructType = OffsetLogSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with Scan with Batch {
      override def build(): Scan = this
      override def readSchema(): StructType = OffsetLogSource.schema
      override def toBatch: Batch = this

      override def planInputPartitions(): Array[InputPartition] = {
        val from: Map[Int, Long] =
          group.map(OffsetLog.committed(root, _)).getOrElse(Map.empty)
        // the _ENDS index IS the planner: one task per live segment
        OffsetLog.liveSegments(root, from).map { case (epoch, p) =>
          OffsetLogInputPartition(s"$root/seg=$epoch/p=$p", p,
            from.getOrElse(p, 0L), Long.MaxValue): InputPartition
        }.toArray
      }

      override def createReaderFactory(): PartitionReaderFactory =
        OffsetLogReaderFactory

      override def toMicroBatchStream(checkpointLocation: String)
          : MicroBatchStream = new OffsetLogMicroBatchStream(root, group)
    }
}

/** Per-partition positions as a streaming Offset — the same shape the
  * Kafka source checkpoints. Serialized "p:offset" CSV for the commit
  * log.
  */
private case class LogOffsets(pos: Map[Int, Long]) extends Offset {
  override def json(): String =
    pos.toSeq.sorted.map { case (p, o) => s"$p:$o" }.mkString(",")
}

private object LogOffsets {
  def parse(s: String): LogOffsets =
    if (s == null || s.trim.isEmpty) LogOffsets(Map.empty)
    else LogOffsets(s.split(',').map { kv =>
      val Array(p, o) = kv.split(':'); p.toInt -> o.toLong
    }.toMap)
}

/** The log as a CUSTOM STRUCTURED STREAMING SOURCE (the Kafka-connector
  * shape): Spark's commit log checkpoints [[LogOffsets]]; each
  * micro-batch plans one task per segment overlapping (start, end];
  * `Trigger.AvailableNow` snapshots the high-water mark up front so a
  * run drains exactly the log as it stood. The source's own `commit` is
  * a no-op by design — the CHECKPOINT is the position of record
  * (exactly-once with an idempotent sink), not the log's `_COMMIT_*`
  * manifests, which belong to the non-Spark consumer protocol.
  */
private class OffsetLogMicroBatchStream(root: String, group: Option[String])
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  private var availableNowCap: Option[Map[Int, Long]] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(OffsetLog.endOffsets(root))

  override def initialOffset(): Offset =
    LogOffsets(group.map(OffsetLog.committed(root, _)).getOrElse(Map.empty))

  override def latestOffset(): Offset =
    LogOffsets(availableNowCap.getOrElse(OffsetLog.endOffsets(root)))

  // SupportsAdmissionControl (via SupportsTriggerAvailableNow): no read
  // limiting — every micro-batch takes the full available range
  override def latestOffset(start: Offset,
      limit: streaming.ReadLimit): Offset = latestOffset()

  override def deserializeOffset(json: String): Offset = LogOffsets.parse(json)

  override def planInputPartitions(start: Offset, end: Offset)
      : Array[InputPartition] = {
    val from = start.asInstanceOf[LogOffsets].pos
    val until = end.asInstanceOf[LogOffsets].pos
    // failOnDataLoss (r15 DSv2 review — the Kafka source's contract):
    // if retention deleted segments the checkpointed position still
    // needs, records are unrecoverable — silently planning around the
    // missing dirs would resume with a GAP the checkpoint never
    // records. Fail loudly instead (no opt-out: the log's truncate
    // contract says the floor never passes a committed position, so
    // reaching this is always an operational error worth stopping on).
    val lost = OffsetLog.lostRanges(root, from)
    if (lost.nonEmpty)
      throw new IllegalStateException(
        s"graftlog($root): retention truncated past the checkpointed " +
          s"position — lost (partition, from, until) ranges: " +
          s"${lost.mkString(", ")}")
    // a partition ABSENT from the batch's end-offset snapshot is NOT
    // part of this batch (it appeared after the cap was taken): plan
    // nothing for it — reading it to MaxValue would consume data whose
    // end offset the checkpoint never records, and the next batch
    // would re-read it from 0 (duplicate delivery)
    OffsetLog.liveSegments(root, from, until)
      .filter { case (_, p) =>
        until.get(p).exists(_ > from.getOrElse(p, 0L)) }
      .map { case (epoch, p) =>
        OffsetLogInputPartition(s"$root/seg=$epoch/p=$p", p,
          from.getOrElse(p, 0L), until(p))
          : InputPartition
      }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    OffsetLogReaderFactory

  override def commit(end: Offset): Unit = () // checkpoint is the record
  override def stop(): Unit = ()
}

private case class OffsetLogInputPartition(dir: String, p: Int,
    from: Long, until: Long) extends InputPartition

private object OffsetLogReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val part = partition.asInstanceOf[OffsetLogInputPartition]
    val recs = OffsetLog.segmentRecords(part.dir)
    // [from, until): a segment can straddle either bound (the streaming
    // path bounds both ends per micro-batch)
    val kept = recs.filter { case (off, _) => off >= part.from && off < part.until }
    new PartitionReader[InternalRow] {
      private var row: InternalRow = _
      override def next(): Boolean = kept.hasNext && {
        val (off, v) = kept.next()
        row = InternalRow(part.p, off, UTF8String.fromString(v))
        true
      }
      override def get(): InternalRow = row
      override def close(): Unit = recs.close()
    }
  }
}
