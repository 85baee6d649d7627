package graft.perfbench

import graft.streaming.{OffsetLog, StreamOps}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

/** What a query's optimized plan scans: the root paths and the number of
  * files of every file relation in it. Routing rules rewrite exactly
  * this, so it is how the benchmark tells a routed read from a base read.
  */
object Scanned {
  private def rels(df: DataFrame): Seq[HadoopFsRelation] =
    df.queryExecution.optimizedPlan.collect {
      case l: LogicalRelation => l.relation
    }.collect { case h: HadoopFsRelation => h }
  def roots(df: DataFrame): Seq[String] =
    rels(df).flatMap(_.location.rootPaths.map(_.toString))
  def files(df: DataFrame): Int = rels(df).map(_.location.inputFiles.length).sum
}

/** The write path of the system: a Canal change batch is appended to the
  * offset log, read back from the committed position, parsed with the
  * Canal envelope schema, merged into the bucketed CDC store, the live
  * base and the per-customer MV, and committed; a per-customer aggregate
  * over the live base then answers from the MV.
  */
final class CdcStore(s: SparkSession, root: String, tr: Tracer) {
  val logRoot = s"$root/log"
  val stateDir = s"$root/cdc_state"
  val baseDir = s"$root/cdc_base"
  val mvDir = s"$root/cdc_mv"
  private val group = "perfbench"
  private var epoch = 0L

  def batches: Long = epoch

  /** Hand one batch to the log and carry it through to the commit. */
  def ingest(changes: Seq[Change]): Unit = {
    import s.implicits._
    val records = changes.toDF()
    tr.span("OffsetLog.append") {
      OffsetLog.append(logRoot, epoch, records, struct(col("es"), col("id")))
    }
    val until = OffsetLog.endOffsets(logRoot)
    val batch = tr.span("OffsetLog.read") {
      OffsetLog.read(s, logRoot, OffsetLog.committed(logRoot, group), until)
        .select(from_json(col("value"), graft.operators.Cdc.envelopeSchema)
          .as("m"))
        .select(col("m.*"))
    }
    tr.span("StreamOps.maintain") {
      StreamOps.mvMaintainBatch(batch, epoch, stateDir, baseDir, mvDir)
    }
    tr.span("OffsetLog.commit") {
      OffsetLog.commit(logRoot, group, until)
    }
    epoch += 1
  }

  /** The per-customer spend and order count over the live base. */
  def spendByCustomer(): (Array[Row], Boolean) = {
    val df = tr.span("Core.construct") {
      s.read.parquet(baseDir).groupBy(col("o_custkey"))
        .agg(graft.Det.dsum(col("o_totalprice")).as("spend"),
          count(lit(1)).as("n_orders"))
    }
    tr.span("MvRouting.plan") { df.queryExecution.executedPlan }
    val rows = tr.span("MvRouting.exec") { df.collect() }
    val r = Scanned.roots(df)
    (rows, r.exists(_.contains(mvDir)) && !r.exists(_.contains(baseDir)))
  }

  /** The current row of one order in the merge store, and the files the
    * lookup scanned.
    */
  def pointLookup(k: Int): (Array[Row], Int) =
    tr.span("StreamOps.point_lookup") {
      val df = StreamOps.readCdcState(s, stateDir)
        .filter(col("o_orderkey") === k.toLong)
      (df.collect(), Scanned.files(df))
    }

  def committed: Map[Int, Long] = OffsetLog.committed(logRoot, group)
  def logEnd: Map[Int, Long] = OffsetLog.endOffsets(logRoot)
}

/** Checks of the store's answers against the [[OrdersModel]]. Each returns
  * None when the answer is right, else what is wrong with it.
  */
object CdcChecks {
  /** Every customer with live orders, with exactly the model's spend and
    * count, and no other customer.
    */
  def spend(rows: Array[Row], m: OrdersModel): Option[String] = {
    val want = (0 until Scale.Customers).count(c => m.liveCount(c) > 0)
    if (rows.length != want)
      return Some(s"${rows.length} customers answered, model has $want")
    rows.iterator.map { r =>
      val c = r.getLong(0).toInt
      if (c < 0 || c >= Scale.Customers || m.liveCount(c) == 0)
        Some(s"customer $c has no live orders in the model")
      else if (r.getLong(2) != m.liveCount(c))
        Some(s"customer $c: ${r.getLong(2)} orders, model ${m.liveCount(c)}")
      else if (r.getDouble(1) != m.spendOf(c))
        Some(s"customer $c: spend ${r.getDouble(1)}, model ${m.spendOf(c)}")
      else None
    }.collectFirst { case Some(e) => e }
  }

  /** The live base holds exactly the model's live orders. */
  def liveRows(rows: Array[Row], m: OrdersModel): Option[String] = {
    if (rows.length != m.liveSize)
      return Some(s"${rows.length} live rows, model has ${m.liveSize}")
    rows.iterator.map { r =>
      val k = r.getLong(0).toInt
      if (!m.live(k)) Some(s"order $k is live but deleted in the model")
      else if (r.getLong(1) != m.custOf(k) || r.getDouble(2) != m.priceOf(k))
        Some(s"order $k: (${r.getLong(1)}, ${r.getDouble(2)}), model " +
          s"(${m.custOf(k)}, ${m.priceOf(k)})")
      else None
    }.collectFirst { case Some(e) => e }
  }

  /** Committed offsets equal the log's end, which equals what was sent. */
  def offsets(committed: Map[Int, Long], end: Map[Int, Long],
      m: OrdersModel): Option[String] = {
    val sent = m.emitted.zipWithIndex.collect { case (n, p) if n > 0 => p -> n }
      .toMap
    if (committed != end) Some(s"committed $committed != log end $end")
    else if (end != sent) Some(s"log end $end != records sent $sent")
    else None
  }

  /** The current row of one order, read from the merge store: one live
    * row at the model's price, or (for a deleted order) no row or a
    * tombstone.
    */
  def point(rows: Array[Row], k: Int, m: OrdersModel): Option[String] =
    if (m.live(k)) {
      if (rows.length != 1) Some(s"order $k: ${rows.length} rows")
      else if (rows(0).getAs[String]("type") == "DELETE")
        Some(s"order $k is live but the store holds a tombstone")
      else if (rows(0).getAs[Double]("o_totalprice") != m.priceOf(k))
        Some(s"order $k: price ${rows(0).getAs[Double]("o_totalprice")}, " +
          s"model ${m.priceOf(k)}")
      else None
    } else if (rows.exists(_.getAs[String]("type") != "DELETE"))
      Some(s"order $k is deleted but the store holds a live row")
    else None
}
