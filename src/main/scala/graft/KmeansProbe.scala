package graft

import org.apache.spark.sql.functions._

/** Dev cost probe for the Lloyd's training loop (not part of the driver
  * contract): times each phase of one training run so the per-round cost
  * can be attributed (plan/codegen vs shuffle vs collect).
  * Usage: sbt "runMain graft.KmeansProbe <sfDir>"
  */
object KmeansProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val s = graft.Sessions.localHarness(defaultCpus = 32, logLevel = "WARN")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    import s.implicits._
    graft.functions.GraftFunctions.register(s)
    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"PROBE $label%-28s ${(System.nanoTime() - t0) / 1e9}%7.3fs")
      r
    }
    val e = t("read+persist") {
      val x = graft.Tables.embeddings(s, dir)
        .select(col("vec_id"),
          expr("transform(embedding, x -> cast(x as double))").as("v"))
        .repartition(32).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      x.count(); x
    }
    val cents: IndexedSeq[Seq[Double]] = t("seed collect") {
      e.filter(col("vec_id") < 8).orderBy(col("vec_id")).select(col("v"))
        .collect().map(_.getSeq[Double](0).toIndexedSeq: Seq[Double]).toIndexedSeq
    }
    (1 to 5).foreach { r =>
      val cdf = t(s"round $r broadcast") {
        broadcast(Seq(cents.zipWithIndex.map { case (c, i) => (i, c) }).toDF("cb"))
      }
      val df = t(s"round $r build df") {
        e.crossJoin(cdf)
          .withColumn("cid", array_min(expr(
            "transform(cb, c -> struct(l2_sq_native(v, c._2) AS d2, c._1 AS cid))"))
            .getField("cid"))
          .select(col("cid"), posexplode(col("v")).as(Seq("pos", "x")))
          .groupBy(col("cid"), col("pos"))
          .agg(count(lit(1)).as("n"), Det.dsum(col("x")).as("sx"),
            Det.dsum(col("x") * col("x")).as("sxx"),
            Det.davg(col("x")).as("m"))
      }
      val plan = t(s"round $r plan (executedPlan)") {
        df.queryExecution.executedPlan.toString.length
      }
      val rows = t(s"round $r collect") { df.collect() }
      println(s"  plan chars $plan rows ${rows.length}")
    }
    s.stop()
  }
}
