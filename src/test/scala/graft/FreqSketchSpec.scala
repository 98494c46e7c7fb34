package graft

import org.apache.spark.sql.functions._

import graft.functions.{GraftFunctions, MgSummary}

/** Pins for the Misra–Gries frequent-items summary
  * ([[graft.functions.MgSummary]] + the TypedImperativeAggregate pair +
  * the MgEntries probe).
  */
class FreqSketchSpec extends SparkTestBase {
  import spark.implicits._

  /** Skewed deterministic stream: term t_i appears (i+1)·w times,
    * round-robin interleaved (the adversarial order for counter-based
    * summaries — no term ever runs uncontested).
    */
  private def skewed(nTerms: Int, w: Int): Seq[String] = {
    val remaining = Array.tabulate(nTerms)(i => (i + 1) * w)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var left = remaining.sum
    while (left > 0) {
      var i = 0
      while (i < nTerms) {
        if (remaining(i) > 0) { out += s"t$i"; remaining(i) -= 1; left -= 1 }
        i += 1
      }
    }
    out.toSeq
  }

  test("below k distinct terms the summary is exact") {
    val mg = new MgSummary(16)
    val stream = Seq("a", "b", "a", "c", "a", "b")
    stream.foreach(mg.insert)
    assert(mg.n == 6L)
    assert(mg.estimate("a") == 3L && mg.estimate("b") == 2L && mg.estimate("c") == 1L)
    assert(mg.estimate("zzz") == 0L)
  }

  test("undercount guarantee under eviction pressure: est <= freq, freq - est <= n/(k+1)") {
    val stream = skewed(nTerms = 50, w = 40) // 51k items, 50 terms, k=8 << 50
    val mg = new MgSummary(8)
    stream.foreach(mg.insert)
    val exact = stream.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val bound = mg.n.toDouble / 9.0
    exact.foreach { case (t, freq) =>
      val est = mg.estimate(t)
      assert(est <= freq, s"$t overcounted: $est > $freq")
      assert(freq - est <= bound, s"$t undercount ${freq - est} exceeds n/(k+1)=$bound")
      if (freq > bound) assert(est > 0L, s"heavy term $t missing from the summary")
    }
  }

  test("merge preserves the additive envelope and sums n") {
    val stream = skewed(nTerms = 40, w = 25)
    val chunks = stream.grouped(997).toSeq
    val merged = chunks.map { c =>
      val m = new MgSummary(8); c.foreach(m.insert); m
    }.reduce(_ merge _)
    assert(merged.n == stream.size)
    assert(merged.counts.size <= 8, "merge must re-prune to k counters")
    val exact = stream.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val bound = merged.n.toDouble / 9.0
    exact.foreach { case (t, freq) =>
      val est = merged.estimate(t)
      assert(est <= freq, s"$t overcounted after merge")
      assert(freq - est <= bound, s"$t merged undercount ${freq - est} > $bound")
    }
  }

  test("serialization round-trips n, counters, and keeps accepting inserts") {
    val mg = new MgSummary(8)
    skewed(nTerms = 20, w = 10).foreach(mg.insert)
    val back = MgSummary.deserialize(mg.serialize())
    assert(back.n == mg.n && back.k == mg.k)
    assert(back.counts == mg.counts)
    back.insert("fresh")
    assert(back.n == mg.n + 1)
  }

  test("Spark end-to-end: build + merge aggs, entries probe, nulls, SQL registration") {
    val rows = skewed(nTerms = 30, w = 20).zipWithIndex
      .map { case (t, i) => (i % 4, if (i % 513 == 0) None else Some(t)) }
    val df = rows.toDF("shard", "term")
    val entries = df.groupBy("shard")
      .agg(GraftFunctions.mgTopK(col("term"), 64).as("sk"))
      .agg(GraftFunctions.mgMerge(col("sk")).as("sk"))
      .select(explode(GraftFunctions.mgEntries(col("sk"))).as("e"))
      .select($"e.term", $"e.est", $"e.n")
      .as[(String, Long, Long)].collect()
    val nNonNull = rows.count(_._2.isDefined).toLong
    assert(entries.nonEmpty && entries.forall(_._3 == nNonNull),
      "every entry carries the null-skipped stream length")
    val exact = rows.flatMap(_._2).groupBy(identity).view.mapValues(_.size.toLong).toMap
    entries.foreach { case (t, est, n) =>
      assert(est <= exact(t), s"$t overcounted through the Spark path")
      assert(exact(t) - est <= n / 65.0, s"$t bound violated through the Spark path")
    }
    df.createOrReplaceTempView("mg_in")
    val viaSql = spark.sql(
      """SELECT size(graft_mg_entries(graft_mg_topk(term, 64))) AS nc
        |FROM mg_in""".stripMargin).head().getInt(0)
    assert(viaSql > 0 && viaSql <= 64)
  }

  test("all-null build and empty merge probe to null entries") {
    val df = Seq((1, Option.empty[String]), (1, None)).toDF("g", "term")
    val r = df.groupBy("g")
      .agg(GraftFunctions.mgTopK(col("term"), 8).as("sk"))
      .select(GraftFunctions.mgEntries(col("sk")).as("e"))
      .head()
    // An all-null build still emits a summary — with zero counters.
    assert(!r.isNullAt(0) && r.getSeq[Any](0).isEmpty)
    val merged = df.filter(lit(false)).groupBy("g")
      .agg(GraftFunctions.mgTopK(col("term"), 8).as("sk"))
      .agg(GraftFunctions.mgMerge(col("sk")).as("sk"))
      .select(GraftFunctions.mgEntries(col("sk")).as("e"))
      .head()
    assert(merged.isNullAt(0), "an empty merge has no summary: entries must be null")
  }
}
