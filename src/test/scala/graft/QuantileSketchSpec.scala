package graft

import org.apache.spark.sql.functions._

import graft.functions.{GraftFunctions, MrlSketch}

/** Pins for the deterministic mergeable quantile sketch
  * ([[graft.functions.MrlSketch]] + the TypedImperativeAggregate pair +
  * the SketchQuantiles probe).
  */
class QuantileSketchSpec extends SparkTestBase {
  import spark.implicits._

  /** Deterministic LCG stream (no Random: reproducible across runs). */
  private def lcg(n: Int, seed: Long = 12345L): Array[Double] = {
    var x = seed
    Array.fill(n) {
      x = x * 6364136223846793005L + 1442695040888963407L
      ((x >>> 11).toDouble / (1L << 53).toDouble)
    }
  }

  private def exactRankErr(data: Array[Double], est: Double, f: Double): Double = {
    val rank = data.count(_ <= est).toDouble
    math.abs(rank / data.length - f)
  }

  test("below capacity the sketch is exact (no compaction ever fires)") {
    val sk = new MrlSketch(128)
    (1 to 100).foreach(i => sk.insert(i.toDouble))
    assert(sk.count == 100L)
    // ceil(f·n) rank convention, straight off the sorted values.
    assert(sk.quantile(0.0) == 1.0)
    assert(sk.quantile(0.5) == 50.0)
    assert(sk.quantile(0.25) == 25.0)
    assert(sk.quantile(1.0) == 100.0)
    assert(sk.quantile(0.999) == 100.0)
  }

  test("mass conservation: weights always sum to count, through compactions and merges") {
    val sk = new MrlSketch(32)
    lcg(10000).foreach(sk.insert)
    assert(sk.weightedItems.map(_._2).sum == sk.count && sk.count == 10000L)
    val other = new MrlSketch(32)
    lcg(3333, seed = 7L).foreach(other.insert)
    sk.merge(other)
    assert(sk.weightedItems.map(_._2).sum == sk.count && sk.count == 13333L)
  }

  test("compacted sketch stays within the rank-error envelope (k=128, n=100k)") {
    val data = lcg(100000)
    val sk = new MrlSketch(128)
    data.foreach(sk.insert)
    for (f <- Seq(0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99)) {
      val err = exactRankErr(data, sk.quantile(f), f)
      assert(err <= 0.02, s"f=$f rank error $err exceeds 2% envelope")
    }
  }

  test("merge of split streams obeys the same envelope and matches count") {
    val data = lcg(50000)
    // 7 uneven chunks, each sketched independently, folded pairwise —
    // the shard-then-union shape.
    val chunks = data.grouped(7919).toSeq
    val merged = chunks.map { c =>
      val s = new MrlSketch(128); c.foreach(s.insert); s
    }.reduce(_ merge _)
    assert(merged.count == 50000L)
    for (f <- Seq(0.1, 0.5, 0.9)) {
      val err = exactRankErr(data, merged.quantile(f), f)
      assert(err <= 0.02, s"merged f=$f rank error $err exceeds 2% envelope")
    }
  }

  test("serialization round-trips count, levels, and every quantile") {
    val sk = new MrlSketch(64)
    lcg(20000).foreach(sk.insert)
    val back = MrlSketch.deserialize(sk.serialize())
    assert(back.count == sk.count)
    assert(back.k == sk.k)
    for (f <- Seq(0.0, 0.1, 0.5, 0.9, 1.0))
      assert(back.quantile(f) == sk.quantile(f), s"f=$f drifted through serde")
    // And a deserialized sketch keeps ACCEPTING inserts/merges correctly.
    back.insert(0.5)
    assert(back.count == sk.count + 1)
  }

  test("alternating parity debiases: signed rank errors do not all share one sign") {
    val data = lcg(100000)
    val sk = new MrlSketch(64)
    data.foreach(sk.insert)
    val signed = Seq(0.1, 0.3, 0.5, 0.7, 0.9).map { f =>
      data.count(_ <= sk.quantile(f)).toDouble / data.length - f
    }
    // A fixed-parity compactor drifts systematically one way; the
    // alternating compactor's errors straddle zero.
    assert(signed.exists(_ > 0) || signed.forall(math.abs(_) < 1e-4), signed.toString)
    assert(signed.exists(_ < 0) || signed.forall(math.abs(_) < 1e-4), signed.toString)
  }

  test("weighted insert: mass conservation, hand quantiles, envelope under compaction") {
    // Small exact case: values 1..4 with weights 1,2,3,4 (total 10).
    val sk = new MrlSketch(64)
    (1 to 4).foreach(i => sk.insertWeighted(i.toDouble, i.toLong))
    assert(sk.count == 10L)
    assert(sk.weightedItems.map(_._2).sum == 10L)
    // ceil(f·10) ranks over mass [1|2 2|3 3 3|4 4 4 4].
    assert(sk.quantile(0.1) == 1.0)
    assert(sk.quantile(0.3) == 2.0)
    assert(sk.quantile(0.6) == 3.0)
    assert(sk.quantile(0.7) == 4.0)
    assert(sk.quantile(1.0) == 4.0)
    // Zero weight adds nothing.
    sk.insertWeighted(99.0, 0L)
    assert(sk.count == 10L)
    // Compaction case: heavy skewed weights, envelope vs exact weighted
    // ranks (deterministic LCG values, weight = 1 + (i mod 97)).
    val vals = lcg(30000)
    val big = new MrlSketch(128)
    vals.zipWithIndex.foreach { case (v, i) => big.insertWeighted(v, 1L + (i % 97)) }
    val totalW = vals.indices.map(i => 1L + (i % 97)).sum
    assert(big.count == totalW)
    for (f <- Seq(0.1, 0.5, 0.9)) {
      val est = big.quantile(f)
      val wrank = vals.zipWithIndex.collect {
        case (v, i) if v <= est => 1L + (i % 97)
      }.sum
      val err = math.abs(wrank.toDouble / totalW - f)
      assert(err <= 0.02, s"weighted f=$f rank error $err")
    }
  }

  test("Spark end-to-end: build agg, merge agg, probe; nulls skipped; SQL registration") {
    val df = (1 to 4000).map(i => (i % 4, if (i % 97 == 0) None else Some(i.toDouble)))
      .toDF("g", "v")
    // Build per (g, g2) shards, merge per g — both aggs in one plan.
    val shards = df.withColumn("g2", col("v").isNotNull && col("v") > 2000)
      .groupBy("g", "g2")
      .agg(GraftFunctions.quantileSketch(col("v"), 256).as("sk"))
    val out = shards.groupBy("g")
      .agg(GraftFunctions.quantileSketchMerge(col("sk")).as("sk"))
      .select(col("g"), GraftFunctions.sketchQuantiles(col("sk"), Seq(0.5)).as("qs"))
      .select(col("g"), element_at(col("qs"), 1).as("p50"))
      .as[(Int, Double)].collect().toMap
    // Per group ~1000 values spread over 1..4000; medians land mid-range
    // (nulls are skipped, not counted).
    out.foreach { case (g, p50) =>
      assert(p50 > 1500 && p50 < 2500, s"group $g median $p50 out of band")
    }
    // All three kernels through SQL.
    df.createOrReplaceTempView("skq_in")
    val viaSql = spark.sql(
      """SELECT element_at(
        |  graft_sketch_quantiles(graft_quantile_sketch(v, 256), array(0.5D)), 1) AS p50
        |FROM skq_in""".stripMargin).head().getDouble(0)
    assert(viaSql > 1500 && viaSql < 2500, s"SQL path median $viaSql")
  }

  test("probe of an all-null group is null; codegen fallback disabled") {
    val conf = "spark.sql.codegen.fallback"
    val prev = spark.conf.get(conf)
    spark.conf.set(conf, "false")
    try {
      val df = Seq((1, Option.empty[Double]), (1, None)).toDF("g", "v")
      val r = df.groupBy("g")
        .agg(GraftFunctions.quantileSketch(col("v"), 64).as("sk"))
        .select(GraftFunctions.sketchQuantiles(col("sk"), Seq(0.5)).as("qs"))
        .collect()
      assert(r.length == 1 && r(0).isNullAt(0),
        "an empty sketch must probe to null, not NaN or a crash")
    } finally spark.conf.set(conf, prev)
  }
}
