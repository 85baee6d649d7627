package graft.perfbench

import java.util.SplittableRandom
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable.ArrayBuffer

/** Sizes of the generated inputs: the row counts of the sf0.1 fixtures
  * the program's bench tier runs on (TESTDATA.md), as their parquet
  * footers give them.
  */
object Scale {
  val Orders = 150000
  val Customers = 15000
  val Lineitems = 600000
  val Suppliers = 1000
  val Parts = 20000
  val Documents = 5000
  val Embeddings = 2000
  val Dim = 64
  /** Changes per CDC batch. */
  val BatchChanges = 2000
  /** INSERT : UPDATE : DELETE weights of a batch, the orders part of the
    * program's own change script (`Cdc.envelopes`): every order is
    * inserted, one in three is updated and one in seven is deleted, so
    * 21 : 7 : 3.
    */
  val Mix: (Int, Int, Int) = (21, 7, 3)
  /** What an UPDATE adds to a price, in cents: `Cdc`'s `price + 1000`. */
  val UpdateCents = 100000L
  val SnapshotRowsPerMessage = 500
  /** Offset-log partitions: the program's own pk-hash routing width. */
  val LogParts: Int = graft.streaming.StreamOps.offsetLogParts
}

/** One Canal change the generator emitted, as the log record it becomes. */
final case class Change(p: Int, value: String, es: Long, id: Long)

/** The plain model of live `orders` the CDC workloads check against:
  * exact integer cents, kept from the changes the generator emits (never
  * read back from the program). It is also the change generator, so a
  * change and its effect on the model are made in one place.
  */
final class OrdersModel(seed: Long) {
  private val rnd = new SplittableRandom(seed)
  private val cap = Scale.Orders * 4
  val custOf = new Array[Int](cap)
  val cents = new Array[Long](cap)
  val live = new Array[Boolean](cap)
  private val liveKeys = ArrayBuffer[Int]()
  private val slot = Array.fill(cap)(-1)
  val spendCents = new Array[Long](Scale.Customers)
  val liveCount = new Array[Long](Scale.Customers)
  /** Records appended per log partition — the log's expected end offsets. */
  val emitted = new Array[Long](Scale.LogParts)
  private var nextKey = 0
  private var nextId = 0L
  private var clock = 1700000000000L

  private def addLive(k: Int): Unit = {
    slot(k) = liveKeys.length; liveKeys += k; live(k) = true
    spendCents(custOf(k)) += cents(k); liveCount(custOf(k)) += 1
  }
  private def dropLive(k: Int): Unit = {
    val i = slot(k); val last = liveKeys.last
    liveKeys(i) = last; slot(last) = i; liveKeys.remove(liveKeys.length - 1)
    slot(k) = -1; live(k) = false
    spendCents(custOf(k)) -= cents(k); liveCount(custOf(k)) -= 1
  }

  def liveSize: Int = liveKeys.length
  def liveKey(i: Int): Int = liveKeys(i)

  private def price(): Long = 100000L + rnd.nextLong(49900000L)

  private def fmt(c: Long): String = f"${c / 100}.${c % 100}%02d"

  private val statuses = Array("F", "O", "P")
  private val priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM",
    "4-NOT SPECIFIED", "5-LOW")
  private val mysqlType = """{"o_orderkey":"bigint(20)",""" +
    """"o_custkey":"bigint(20)","o_orderstatus":"char(1)",""" +
    """"o_totalprice":"decimal(15,2)","o_orderdate":"datetime",""" +
    """"o_orderpriority":"varchar(15)"}"""

  private def image(k: Int): String = {
    val day = java.time.LocalDate.of(1995, 1, 1).plusDays((k * 7919L) % 2405)
    s"""{"o_orderkey":"$k","o_custkey":"${custOf(k)}",""" +
      s""""o_orderstatus":"${statuses(k % 3)}",""" +
      s""""o_totalprice":"${fmt(cents(k))}",""" +
      s""""o_orderdate":"$day 00:00:00",""" +
      s""""o_orderpriority":"${priorities(k % 5)}"}"""
  }

  /** One Canal message: the row images of `keys` (all in one log
    * partition), with their old images for an UPDATE.
    */
  private def envelope(keys: Seq[Int], kind: String, old: String): Change = {
    nextId += 1; clock += 1
    val p = keys.head % Scale.LogParts
    emitted(p) += 1
    Change(p,
      s"""{"id":$nextId,"database":"tpch","table":"orders",""" +
        s""""pkNames":["o_orderkey"],"isDdl":false,"type":"$kind",""" +
        s""""es":$clock,"ts":${clock + 5},"sql":"",""" +
        s""""mysqlType":$mysqlType,"data":[${keys.map(image).mkString(",")}],""" +
        s""""old":$old}""",
      clock, nextId)
  }

  private def insertKey(): Int = {
    val k = nextKey; nextKey += 1
    custOf(k) = rnd.nextInt(Scale.Customers); cents(k) = price()
    addLive(k)
    k
  }

  /** The initial INSERT snapshot: every sf0.1 order, as multi-row
    * messages of up to [[Scale.SnapshotRowsPerMessage]] rows per log
    * partition, the shape a bulk load takes in the binlog.
    */
  def snapshot(): Seq[Change] =
    Seq.fill(Scale.Orders)(insertKey()).groupBy(_ % Scale.LogParts)
      .toSeq.sortBy(_._1)
      .flatMap(_._2.grouped(Scale.SnapshotRowsPerMessage))
      .map(ks => envelope(ks, "INSERT", "null"))

  /** One batch of changes to distinct keys, drawn in [[Scale.Mix]]:
    * INSERTs of new keys, UPDATEs of a live key's price (plus
    * [[Scale.UpdateCents]]) carrying the old image, DELETEs of live keys.
    */
  def batch(n: Int): Seq[Change] = {
    val taken = scala.collection.mutable.HashSet[Int]()
    val touched = ArrayBuffer[(Int, String)]()
    def pickLive(): Int = {
      var k = liveKey(rnd.nextInt(liveSize))
      while (taken(k)) k = liveKey(rnd.nextInt(liveSize))
      taken += k; k
    }
    val (ins, upd, del) = Scale.Mix
    val changes = Seq.fill(n) {
      val u = rnd.nextInt(ins + upd + del)
      if (u < ins) {
        val k = insertKey(); taken += k
        touched += k -> "INSERT"
        envelope(Seq(k), "INSERT", "null")
      } else if (u < ins + upd) {
        val k = pickLive()
        touched += k -> "UPDATE"
        val old = s"""[{"o_totalprice":"${fmt(cents(k))}"}]"""
        dropLive(k); cents(k) += Scale.UpdateCents; addLive(k)
        envelope(Seq(k), "UPDATE", old)
      } else {
        val k = pickLive()
        touched += k -> "DELETE"
        val c = envelope(Seq(k), "DELETE", "null")
        dropLive(k); c
      }
    }
    lastTouched = touched.toSeq
    changes
  }

  /** (order, change kind) of every change in the last batch. */
  var lastTouched: Seq[(Int, String)] = Nil

  /** The per-customer answer the routed aggregate must return. */
  def spendOf(cust: Int): Double = BigDecimal(spendCents(cust), 2).toDouble
  def priceOf(k: Int): Double = BigDecimal(cents(k), 2).toDouble
  def randomLive(): Int = liveKey(rnd.nextInt(liveSize))
}

/** Seeded fixtures written as parquet, in the schemas of the program's
  * fixtures (FIXTURES.md) and with the value ranges and shapes of the
  * sf0.1 drop, one file per table named as there, so `graft.Tables`
  * reads them as it reads a testdata drop and `tools/check.py` can query
  * them with DuckDB.
  */
object Fixtures {
  /** The sf0.1 documents' vocabulary: 30 words, plus `dup`, which only
    * near-duplicates carry.
    */
  val Vocab: Array[String] = ("spark window merge table column vector " +
    "stream value data small join filter big group hash customer sort " +
    "order slow line part fast row the agg key query a scan batch")
    .split(' ')
  private val Langs = Array("de", "es", "fr", "zh")

  /** Write `df` as the single parquet file `<dir>/<name>.parquet`. */
  def writeTable(df: DataFrame, dir: String, name: String): String = {
    val tmp = new java.io.File(s"$dir/_$name")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
    val part = tmp.listFiles().filter(f =>
      f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    require(part.length == 1, s"$name: ${part.length} part files")
    val dst = java.nio.file.Paths.get(s"$dir/$name.parquet")
    java.nio.file.Files.move(part(0).toPath, dst)
    graft.Scratch.deleteRecursively(tmp)
    dst.toString
  }

  /** Word-soup documents of 10–100 words, as in the sf0.1 drop: 41% `en`
    * and the rest spread over four languages, `src0`..`src19` by doc id,
    * one in twenty a near-duplicate (an earlier text plus ` dup`), and
    * eight exact copies of an earlier text.
    */
  def documents(seed: Long): IndexedSeq[(Long, String, String, String)] = {
    val rnd = new SplittableRandom(seed ^ 0x5eedL)
    val texts = ArrayBuffer[String]()
    (0 until Scale.Documents).map { i =>
      val text =
        if (i > 0 && i % 625 == 624) texts(rnd.nextInt(i))
        else if (i > 0 && i % 20 == 11) texts(rnd.nextInt(i)) + " dup"
        else Seq.fill(10 + rnd.nextInt(91))(Vocab(rnd.nextInt(Vocab.length)))
          .mkString(" ")
      texts += text
      val lang = if (rnd.nextInt(100) < 41) "en" else Langs(rnd.nextInt(4))
      (i.toLong, text, lang, s"src${i % 20}")
    }
  }

  def documentsDf(s: SparkSession,
      docs: Seq[(Long, String, String, String)]): DataFrame = {
    import s.implicits._
    docs.map { case (id, t, l, src) => (id, t, l, src, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  /** 64-dimensional float embeddings around ten label centroids. */
  def embeddingsDf(s: SparkSession, seed: Long): DataFrame = {
    val rnd = new SplittableRandom(seed ^ 0xe3bL)
    val centers = Array.fill(10, Scale.Dim)(rnd.nextDouble() * 0.4 - 0.2)
    val rows = (0 until Scale.Embeddings).map { i =>
      val label = rnd.nextInt(10)
      val v = Array.tabulate(Scale.Dim) { d =>
        (centers(label)(d) + (rnd.nextDouble() - 0.5) * 0.3).toFloat
      }
      Row(i.toLong, v.toSeq, label)
    }
    s.createDataFrame(s.sparkContext.parallelize(rows, 1), StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType))))
  }

  /** Hash-derived columns: a pure function of (seed, row id, column). */
  private def h(seed: Long, salt: Int, mod: Long): Column =
    pmod(xxhash64(lit(seed), col("id"), lit(salt)), lit(mod))

  private def pick(seed: Long, salt: Int, xs: String*): Column =
    element_at(array(xs.map(lit): _*), (h(seed, salt, xs.length) + 1).cast("int"))

  /** `from` plus up to `days - 1` days, as a naive timestamp. */
  private def day(seed: Long, salt: Int, from: String, days: Int): Column =
    date_add(lit(java.sql.Date.valueOf(from)), h(seed, salt, days).cast("int"))
      .cast("timestamp_ntz")

  def lineitemDf(s: SparkSession, seed: Long): DataFrame =
    s.range(Scale.Lineitems).select(
      h(seed, 3, Scale.Orders).as("l_orderkey"),
      h(seed, 4, Scale.Parts).as("l_partkey"),
      h(seed, 5, Scale.Suppliers).as("l_suppkey"),
      (h(seed, 6, 7L) + 1).cast("int").as("l_linenumber"),
      (h(seed, 7, 50L) + 1).cast("double").as("l_quantity"),
      ((h(seed, 8, 10410000L) + 90000L) / 100.0).as("l_extendedprice"),
      (h(seed, 11, 11L) / 100.0).as("l_discount"),
      (h(seed, 12, 9L) / 100.0).as("l_tax"),
      pick(seed, 13, "A", "N", "R").as("l_returnflag"),
      pick(seed, 14, "F", "O").as("l_linestatus"),
      day(seed, 15, "1995-01-02", 2499).as("l_shipdate"))

  def ordersDf(s: SparkSession, seed: Long): DataFrame =
    s.range(Scale.Orders).select(col("id").as("o_orderkey"),
      h(seed, 9, Scale.Customers).as("o_custkey"),
      pick(seed, 16, "F", "O", "P").as("o_orderstatus"),
      ((h(seed, 10, 49900000L) + 100000L) / 100.0).as("o_totalprice"),
      day(seed, 17, "1995-01-01", 2405).as("o_orderdate"),
      pick(seed, 18, "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW").as("o_orderpriority"))
}
