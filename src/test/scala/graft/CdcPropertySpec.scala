package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** ScalaCheck-generated property tests for the CDC fold laws (SURVEY.md
  * §5.3): MergeTree emulations must be insensitive to event arrival order
  * and idempotent — the exact properties that make an at-least-once
  * binlog feed safe. Samples are drawn with fixed seeds (no
  * scalatestplus bridge in the offline cache), so runs are reproducible.
  */
class CdcPropertySpec extends GraftSpec {

  private case class Ev(key: Long, es: Long, seq: Long, isDelete: Boolean)

  private val evGen: Gen[List[Ev]] = for {
    n <- Gen.choose(1, 25)
    evs <- Gen.listOfN(n, for {
      key <- Gen.choose(1L, 5L)
      es <- Gen.choose(1L, 50L)
      del <- Gen.oneOf(true, false)
    } yield (key, es, del))
  } yield evs.zipWithIndex.map { case ((k, es, d), i) => Ev(k, es, i.toLong, d) }

  private def samples: Seq[List[Ev]] =
    (1 to 8).map(i => evGen.pureApply(Gen.Parameters.default, Seed(i.toLong)))

  private def upsert(evs: Seq[Ev]): Map[Long, (Long, Long)] = {
    import spark.implicits._
    val df = evs.map(e => (e.key, e.es, e.seq, e.isDelete))
      .toDF("key", "es", "seq", "isDelete")
    val w = Window.partitionBy(col("key"))
      .orderBy(col("es").desc, col("seq").desc)
    df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select("key", "es", "seq").as[(Long, Long, Long)]
      .collect().map { case (k, es, sq) => k -> (es, sq) }.toMap
  }

  test("upsert result is invariant under event arrival order") {
    samples.foreach { evs =>
      val shuffled = new scala.util.Random(7).shuffle(evs)
      val a = upsert(evs)
      assert(a == upsert(shuffled) && a == upsert(evs.reverse))
    }
  }

  test("upsert is idempotent under full replay (at-least-once feed)") {
    samples.foreach { evs =>
      assert(upsert(evs) == upsert(evs ++ evs))
    }
  }

  test("collapsing fold is order-free through the REAL operator") {
    import spark.implicits._
    // drives Cdc.deleteFoldOf itself (the old version summed signs with
    // its own groupBy — both sides of that assert went through stock
    // Spark sum, covering no graft code at all)
    samples.foreach { evs =>
      def fold(es: Seq[Ev]): Set[(Long, Double)] = {
        val df = es.map(e => (e.key, e.es, e.seq,
            if (e.isDelete) "DELETE" else "INSERT", e.es.toDouble))
          .toDF("o_orderkey", "es", "ts", "type", "o_totalprice")
          .withColumn("old_img", lit(null).cast("map<string,string>"))
        graft.operators.Cdc.deleteFoldOf(df)
          .as[(Long, Double)].collect().toSet
      }
      assert(fold(evs) == fold(evs.reverse),
        "collapsing fold must not depend on arrival order")
    }
  }

  test("backfill merge: snapshot-only keys survive, logged keys fold") {
    import spark.implicits._
    samples.foreach { evs =>
      // snapshot covers keys 1..8; the log only the generated keys (1..5)
      val snapKeys = (1L to 8L)
      val snapshot = snapKeys.map(k => (k, Long.MinValue, Long.MinValue, false))
      val log = evs.map(e => (e.key, e.es, e.seq, e.isDelete))
      val merged = {
        val df = (snapshot ++ log).toDF("key", "es", "seq", "isDelete")
        val w = Window.partitionBy(col("key"))
          .orderBy(col("es").desc, col("seq").desc)
        df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .filter(!col("isDelete")).select("key").as[Long].collect().toSet
      }
      val expected = snapKeys.toSet.filter { k =>
        evs.filter(_.key == k).sortBy(e => (e.es, e.seq)).lastOption
          .forall(!_.isDelete) // no log → snapshot survives; else latest wins
      }
      assert(merged == expected, s"merged=$merged expected=$expected")
    }
  }

  test("versioned collapse: merge is invariant under signed-row order") {
    import spark.implicits._
    // generate (key, version, payload, sign) multisets where cancels copy
    // a prior state row — then the merge must give the same survivors for
    // ANY permutation, the VersionedCollapsingMergeTree contract
    def collapse(rows: Seq[(Long, Long, Double, Int)]): Map[Long, (Long, Double)] = {
      val df = rows.toDF("key", "version", "payload", "sign")
      val w = Window.partitionBy(col("key")).orderBy(col("version").desc)
      df.groupBy(col("key"), col("version"), col("payload"))
        .agg(sum(col("sign")).as("net")).filter(col("net") > 0)
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select("key", "version", "payload").as[(Long, Long, Double)]
        .collect().map { case (k, v, p) => k -> ((v, p)) }.toMap
    }
    samples.foreach { evs =>
      // build a versioned state/cancel script from the generated events:
      // per key, sorted by (es, seq): each event adds state (v=2*seq) and
      // cancels the prior state row exactly (same version AND payload)
      val rows = evs.groupBy(_.key).toSeq.flatMap { case (k, es) =>
        val ordered = es.sortBy(e => (e.es, e.seq))
        ordered.zipWithIndex.flatMap { case (e, i) =>
          val st = (k, 2L * e.seq, e.es.toDouble, 1)
          val cancel = if (i == 0) Nil else {
            val p = ordered(i - 1)
            Seq((k, 2L * p.seq, p.es.toDouble, -1))
          }
          cancel :+ st
        }
      }
      val base = collapse(rows)
      val rnd = new scala.util.Random(11)
      assert(base == collapse(rnd.shuffle(rows)))
      assert(base == collapse(rows.reverse))
      // survivors are exactly each key's LAST state row
      val want = evs.groupBy(_.key).map { case (k, es) =>
        val last = es.maxBy(e => (e.es, e.seq))
        k -> ((2L * last.seq, last.es.toDouble))
      }
      assert(base == want)
    }
  }

  /** One change of a generated Canal history: the row image (for a
    * DELETE, the deleted row), exact cents, and an UPDATE's old price.
    */
  private case class Change(id: Long, key: Long, cust: Long, cents: Long,
      es: Long, ts: Long, kind: String, oldCents: Option[Long])

  /** A consistent binlog generator: in history order (es, ts) strictly
    * increases, but es repeats often (so ties fall to ts) and ts
    * restarts low whenever es moves on (so ts alone would order wrongly).
    */
  private class Binlog(seed: Long) {
    val rnd = new scala.util.Random(seed)
    val live = scala.collection.mutable.Map[Long, (Long, Long)]()
    var es = 100L; var ts = 0L; var id = 0L
    def next(key: Long, kind: String, cust: Long, cents: Long,
        old: Option[Long], tie: Boolean = false): Change = {
      if (!tie && rnd.nextInt(3) == 0) { es += 1; ts = rnd.nextInt(3).toLong }
      else ts += 1
      id += 1
      if (kind == "DELETE") live -= key else live(key) = (cust, cents)
      Change(id, key, cust, cents, es, ts, kind, old)
    }
    def price() = 1000L + rnd.nextInt(900000)
    def random(key: Long): Change = live.get(key) match {
      case None => next(key, "INSERT", rnd.nextInt(4).toLong, price(), None)
      case Some((c, p)) =>
        if (rnd.nextInt(3) > 0) next(key, "UPDATE", c, price(), Some(p))
        else next(key, "DELETE", c, p, None)
    }
    def update(key: Long, tie: Boolean) = {
      val (c, p) = live(key)
      next(key, "UPDATE", c, price(), Some(p), tie)
    }
  }

  /** A history over keys 0..23 (3 per bucket), in batches. Batch 0
    * inserts every key; batch 1 changes key 5 three times at one es and
    * deletes and re-inserts key 6 under a new customer; batch 2 touches
    * only buckets 2 and 5; batch 3 is random over every key.
    */
  private def history(seed: Long): Seq[Seq[Change]] = {
    val g = new Binlog(seed)
    import g._
    val keys = 0L until 24L
    val b0 = keys.map(k => next(k, "INSERT", k % 4, price(), None))
    val b1 = Seq(update(5L, tie = false), update(5L, tie = true),
      update(5L, tie = true)) ++ {
      val (c, p) = live(6L)
      val del = next(6L, "DELETE", c, p, None)
      es += 1; ts = -2L // the re-INSERT wins on es with the lower ts
      Seq(del, next(6L, "INSERT", (c + 1) % 4, price(), None, tie = true))
    } ++ Seq.fill(8)(random(keys(rnd.nextInt(keys.size))))
    val someBuckets = keys.filter(k => k % 8 == 2 || k % 8 == 5)
    val b2 = Seq.fill(10)(random(someBuckets(rnd.nextInt(someBuckets.size))))
    val b3 = Seq.fill(12)(random(keys(rnd.nextInt(keys.size))))
    Seq(b0, b1, b2, b3)
  }

  /** A history over 2,000 keys (250 per bucket) in 23 batches: batch 0
    * inserts every key, most later batches change 10–119 random keys
    * (so buckets take parts), and every eighth changes 1,100 (so buckets
    * compact by size).
    */
  private def wideHistory(seed: Long): Seq[Seq[Change]] = {
    val g = new Binlog(seed)
    val keys = 0L until 2000L
    keys.map(k => g.next(k, "INSERT", k % 4, g.price(), None)) +:
      (1 to 22).map { i =>
        val n = if (i % 8 == 0) 1100 else 10 + g.rnd.nextInt(110)
        Seq.fill(n)(g.random(keys(g.rnd.nextInt(keys.size))))
      }
  }

  test("mvMaintainBatch equals a plain-Scala model: state, live base, MV") {
    def money(c: Long) = f"${c / 100}.${c % 100}%02d"
    def envelopes(batch: Seq[Change], seed: Long) = {
      import spark.implicits._
      // arrival order inside a batch is not history order
      val lines = new scala.util.Random(seed).shuffle(batch).map { c =>
        val old = c.oldCents.map(o => s""","old":[{"o_totalprice":"${money(o)}"}]""")
          .getOrElse("")
        s"""{"id":${c.id},"database":"d","table":"orders","pkNames":["o_orderkey"],"isDdl":false,"type":"${c.kind}","es":${c.es},"ts":${c.ts},"data":[{"o_orderkey":"${c.key}","o_custkey":"${c.cust}","o_totalprice":"${money(c.cents)}"}]$old}"""
      }
      spark.read.schema(graft.operators.Cdc.envelopeSchema).json(lines.toDS)
    }
    Seq(1L -> history(1L), 2L -> history(2L), 3L -> wideHistory(3L)).foreach {
        case (seed, batches) =>
      val root = graft.Scratch.dir(s"graft_cdc_model_$seed")
      val (stateDir, baseDir, mvDir) =
        (s"$root/state", s"$root/base", s"$root/mv")
      def versions(dir: String) = graft.Scratch.listPartitionDirs(dir, "v=")
        .map(_.getName.drop(2).toLong)
      def check(applied: Seq[Change], what: String): Unit = {
        // the model: each key's last change in history order
        val last = applied.groupBy(_.key).map(_._2.last)
        val state = graft.streaming.StreamOps.readCdcState(spark, stateDir)
          .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2),
            r.getLong(3), r.getString(4))).toSet
        assert(state == last.map(c =>
          (c.key, c.cents / 100.0, c.es, c.ts, c.kind)).toSet,
          s"seed $seed, $what: merge state differs from the model")
        val liveRows = last.filter(_.kind != "DELETE")
        val base = spark.read.parquet(baseDir)
          .select("o_orderkey", "o_custkey", "o_totalprice").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
        assert(base.sortBy(_._1) == liveRows.toSeq.map(c =>
          (c.key, c.cust, c.cents / 100.0)).sortBy(_._1),
          s"seed $seed, $what: live base differs from the model")
        // exact cents: longValueExact throws on any sub-cent residue
        val mv = spark.read.parquet(s"$mvDir/v=${versions(mvDir).max}")
          .collect().map(r => (r.getLong(0),
            r.getDecimal(1).movePointRight(2).longValueExact(), r.getLong(2)))
          .toSet
        assert(mv == liveRows.groupBy(_.cust).map { case (c, rs) =>
          (c, rs.toSeq.map(_.cents).sum, rs.size.toLong) }.toSet,
          s"seed $seed, $what: MV differs from the model")
      }
      // bucket dirs written after batch 0, as parts and as new bases
      var parts, bases = 0
      try {
        batches.zipWithIndex.foreach { case (b, i) =>
          graft.streaming.StreamOps.mvMaintainBatch(envelopes(b, seed + i),
            i.toLong, stateDir, baseDir, mvDir)
          check(batches.take(i + 1).flatten, s"batch $i")
          if (i > 0) graft.Scratch.listPartitionDirs(s"$stateDir/v=$i", "bucket=")
            .foreach { d =>
              if (new java.io.File(d, graft.streaming.StreamOps.cdcBaseMarker)
                  .exists()) bases += 1
              else parts += 1
            }
        }
        // batch 2 touched buckets 2 and 5 only, and rewrote only them
        if (batches.size == 4)
          assert(graft.Scratch.listPartitionDirs(s"$stateDir/v=2", "bucket=")
            .map(_.getName).toSet.subsetOf(Set("bucket=2", "bucket=5")))
        else assert(parts > 0 && bases > 0,
          s"seed $seed: $parts parts and $bases bases after batch 0")
        // at-least-once replay of the last batch, after its GC ran
        val lastId = batches.size - 1L
        assert(versions(mvDir).toSet == Set(lastId - 1, lastId))
        graft.streaming.StreamOps.mvMaintainBatch(
          envelopes(batches.last, seed + lastId), lastId, stateDir, baseDir,
          mvDir)
        check(batches.flatten, "replayed last batch")
      } finally graft.plans.MvRouting.invalidate(baseDir)
    }
  }

  test("scd2 intervals partition each key's timeline") {
    import spark.implicits._
    samples.foreach { evs =>
      val versions = evs.filterNot(_.isDelete)
      if (versions.nonEmpty) {
        val df = versions.map(e => (e.key, e.es, e.seq))
          .toDF("key", "es", "seq")
        val w = Window.partitionBy(col("key")).orderBy(col("es"), col("seq"))
        val scd = df
          .withColumn("valid_to", lead(col("es"), 1).over(w))
          .select("key", "es", "valid_to")
          .as[(Long, Long, Option[Long])].collect()
        val open = scd.filter(_._3.isEmpty)
        assert(open.map(_._1).distinct.length ==
          versions.map(_.key).distinct.length)
        assert(scd.forall { case (_, from, to) => to.forall(from <= _) })
      }
    }
  }
}
