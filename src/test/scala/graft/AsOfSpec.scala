package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{AsOf, Reshape, Writers}

/** As-of join (core.AsOf), K2/K5 writer dispatch, and the static
  * zipWithPad fast path.
  */
class AsOfSpec extends SparkTestBase {
  import spark.implicits._

  test("AsOf.asOfJoin picks the most recent right row at-or-before each left time") {
    val quotes = Seq( // (sym, t, px)
      ("A", 10L, 1.0), ("A", 20L, 2.0), ("A", 30L, 3.0),
      ("B", 15L, 9.0),
    ).toDF("sym", "qt", "px")
    val trades = Seq( // (sym, t, qty)
      ("A", 5L, 100),  // before any quote -> null
      ("A", 20L, 200), // tie -> inclusive, px=2.0
      ("A", 25L, 300), // px=2.0
      ("A", 99L, 400), // px=3.0
      ("B", 15L, 500), // px=9.0
      ("C", 50L, 600), // key never quoted -> null
    ).toDF("sym", "tt", "qty")
    val got = AsOf
      .asOfJoin(trades, quotes, "sym", "tt", "sym", "qt", Seq("px"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2), Option(r.get(3))))
      .toSet
    assert(got == Set(
      ("A", 5L, 100, None),
      ("A", 20L, 200, Some(2.0)),
      ("A", 25L, 300, Some(2.0)),
      ("A", 99L, 400, Some(3.0)),
      ("B", 15L, 500, Some(9.0)),
      ("C", 50L, 600, None),
    ))
  }

  test("AsOf.asOfJoin: null keys/times on either side never match (SQL semantics)") {
    val quotes = Seq(
      (Some("A"), Some(10L), 1.0),
      (None: Option[String], Some(5L), 99.0), // null key: unmatchable
      (Some("A"), None: Option[Long], 88.0),  // null time: unmatchable
    ).toDF("sym", "qt", "px")
    val trades = Seq(
      (Some("A"), Some(20L), 1),
      (None: Option[String], Some(20L), 2),   // null-key left row: kept, no match
      (Some("A"), None: Option[Long], 3),     // null-time left row: kept, no match
    ).toDF("sym", "tt", "qty")
    val got = AsOf.asOfJoin(trades, quotes, "sym", "tt", "sym", "qt", Seq("px"))
      .collect().map(r => (r.getAs[Int]("qty"), Option(r.get(3)))).toMap
    assert(got == Map(1 -> Some(1.0), 2 -> None, 3 -> None))
  }

  test("AsOf.asOfJoin matches the naive range-join + top-1 formulation on testdata") {
    val ev = spark.read.parquet(s"$sf/events.parquet")
      .select($"event_id", $"user_id", (unix_micros($"ts".cast("timestamp")) * 1000).as("ts"))
    val ord = spark.read.parquet(s"$sf/orders.parquet")
      .groupBy("o_custkey", "o_orderdate")
      .agg(max("o_orderkey").as("ok"))
      .select($"o_custkey", (unix_micros($"o_orderdate".cast("timestamp")) * 1000).as("odn"), $"ok")
    val fast = AsOf.asOfJoin(ev, ord, "user_id", "ts", "o_custkey", "odn", Seq("ok"))
    val naive = ev
      .join(ord, ev("user_id") === ord("o_custkey") && ord("odn") <= ev("ts"), "left")
      .withColumn("rn", row_number().over(
        Window.partitionBy("event_id").orderBy($"odn".desc_nulls_last)))
      .filter($"rn" === 1)
      .select($"event_id", $"user_id", $"ts", $"ok")
    assert(fast.count() == ev.count())
    assert(fast.exceptAll(naive).isEmpty && naive.exceptAll(fast).isEmpty)
  }

  test("asOfJoinExec (physical operator): identical to asOfJoin on the hand cases") {
    val quotes = Seq(
      ("A", 10L, 1.0), ("A", 20L, 2.0), ("A", 30L, 3.0), ("B", 15L, 9.0),
    ).toDF("sym", "qt", "px")
    val trades = Seq(
      ("A", 5L, 100), ("A", 20L, 200), ("A", 25L, 300),
      ("A", 99L, 400), ("B", 15L, 500), ("C", 50L, 600),
    ).toDF("sym", "tt", "qty")
    val got = AsOf.asOfJoinExec(trades, quotes, "sym", "tt", "sym", "qt", Seq("px"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2), Option(r.get(3))))
      .toSet
    val want = AsOf.asOfJoin(trades, quotes, "sym", "tt", "sym", "qt", Seq("px"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2), Option(r.get(3))))
      .toSet
    assert(got == want)
  }

  test("asOfJoinExec: null keys/times follow SQL semantics (rows kept, no match)") {
    val quotes = Seq(
      (Some("A"), Some(10L), 1.0),
      (None: Option[String], Some(5L), 99.0),
      (Some("A"), None: Option[Long], 88.0),
    ).toDF("sym", "qt", "px")
    val trades = Seq(
      (Some("A"), Some(20L), 1),
      (None: Option[String], Some(20L), 2),
      (Some("A"), None: Option[Long], 3),
    ).toDF("sym", "tt", "qty")
    val got = AsOf.asOfJoinExec(trades, quotes, "sym", "tt", "sym", "qt", Seq("px"))
      .collect().map(r => (r.getAs[Int]("qty"), Option(r.get(3)))).toMap
    assert(got == Map(1 -> Some(1.0), 2 -> None, 3 -> None))
  }

  test("asOfJoinExec == asOfJoin on testdata (string keys exercised too)") {
    val ev = spark.read.parquet(s"$sf/events.parquet")
      .select($"event_id", $"user_id", (unix_micros($"ts".cast("timestamp")) * 1000).as("ts"))
    val ord = spark.read.parquet(s"$sf/orders.parquet")
      .groupBy("o_custkey", "o_orderdate")
      .agg(max("o_orderkey").as("ok"))
      .select($"o_custkey", (unix_micros($"o_orderdate".cast("timestamp")) * 1000).as("odn"), $"ok")
    val exec = AsOf.asOfJoinExec(ev, ord, "user_id", "ts", "o_custkey", "odn", Seq("ok"))
    val comp = AsOf.asOfJoin(ev, ord, "user_id", "ts", "o_custkey", "odn", Seq("ok"))
    assert(exec.count() == ev.count())
    assert(exec.exceptAll(comp).isEmpty && comp.exceptAll(exec).isEmpty)
    // string-keyed variant: events joined to a per-type dictionary
    val l = spark.read.parquet(s"$sf/events.parquet")
      .select($"event_id", $"event_type", (unix_micros($"ts".cast("timestamp"))).as("ts"))
    val dict = l.groupBy($"event_type", ($"ts" - pmod($"ts", lit(86400000000L))).as("day_us"))
      .agg(max("event_id").as("day_first"))
    val e2 = AsOf.asOfJoinExec(l, dict, "event_type", "ts", "event_type", "day_us", Seq("day_first"))
    val c2 = AsOf.asOfJoin(l, dict, "event_type", "ts", "event_type", "day_us", Seq("day_first"))
    assert(e2.exceptAll(c2).isEmpty && c2.exceptAll(e2).isEmpty)
  }

  test("asOfJoinExec forward: earliest right row at-or-after; ties inclusive; peek not consume") {
    val quotes = Seq(
      ("A", 10L, 1.0), ("A", 20L, 2.0), ("A", 30L, 3.0), ("B", 15L, 9.0),
    ).toDF("sym", "qt", "px")
    val trades = Seq(
      ("A", 5L, 100),  // -> 10 (1.0)
      ("A", 20L, 200), // tie inclusive -> 2.0
      ("A", 25L, 300), // -> 30 (3.0)
      ("A", 99L, 400), // after all -> null
      ("B", 15L, 500), // -> 9.0
      ("B", 16L, 600), // after B's only quote -> null
      ("C", 50L, 700), // no key -> null
    ).toDF("sym", "tt", "qty")
    val got = AsOf.asOfJoinExec(trades, quotes, "sym", "tt", "sym", "qt",
        Seq("px"), forward = true)
      .collect()
      .map(r => (r.getInt(2), Option(r.get(3)))).toMap
    assert(got == Map(100 -> Some(1.0), 200 -> Some(2.0), 300 -> Some(3.0),
      400 -> None, 500 -> Some(9.0), 600 -> None, 700 -> None))
  }

  test("asOfJoinExec forward == naive range-join + top-1 on testdata") {
    val ev = spark.read.parquet(s"$sf/events.parquet")
      .select($"event_id", $"user_id", (unix_micros($"ts".cast("timestamp")) * 1000).as("ts"))
    val ord = spark.read.parquet(s"$sf/orders.parquet")
      .groupBy("o_custkey", "o_orderdate")
      .agg(max("o_orderkey").as("ok"))
      .select($"o_custkey", (unix_micros($"o_orderdate".cast("timestamp")) * 1000).as("odn"), $"ok")
    val exec = AsOf.asOfJoinExec(ev, ord, "user_id", "ts", "o_custkey", "odn",
      Seq("ok"), forward = true)
    val naive = ev
      .join(ord, ev("user_id") === ord("o_custkey") && ord("odn") >= ev("ts"), "left")
      .withColumn("rn", row_number().over(
        Window.partitionBy("event_id").orderBy($"odn".asc_nulls_last)))
      .filter($"rn" === 1)
      .select($"event_id", $"user_id", $"ts", $"ok")
    assert(exec.count() == ev.count())
    assert(exec.exceptAll(naive).isEmpty && naive.exceptAll(exec).isEmpty)
  }

  test("asOfJoinExec tolerance: stale matches null out, in-window matches keep payload") {
    val quotes = Seq(("A", 10L, 1.0), ("A", 100L, 2.0)).toDF("sym", "qt", "px")
    val trades = Seq(
      ("A", 12L, 1),   // 2 from quote@10, within tol 5 -> 1.0
      ("A", 50L, 2),   // 40 from quote@10, beyond tol -> null
      ("A", 100L, 3),  // exact tie, distance 0 -> 2.0
      ("A", 105L, 4),  // distance 5 == tol, inclusive -> 2.0
      ("A", 106L, 5),  // distance 6 > tol -> null
    ).toDF("sym", "tt", "qty")
    val got = AsOf.asOfJoinExec(trades, quotes, "sym", "tt", "sym", "qt",
        Seq("px"), toleranceNs = Some(5L))
      .collect().map(r => (r.getInt(2), Option(r.get(3)))).toMap
    assert(got == Map(1 -> Some(1.0), 2 -> None, 3 -> Some(2.0),
      4 -> Some(2.0), 5 -> None))
    // forward + tolerance compose
    val fw = AsOf.asOfJoinExec(trades, quotes, "sym", "tt", "sym", "qt",
        Seq("px"), forward = true, toleranceNs = Some(5L))
      .collect().map(r => (r.getInt(2), Option(r.get(3)))).toMap
    assert(fw == Map(1 -> None, 2 -> None, 3 -> Some(2.0),
      4 -> None, 5 -> None),
      s"forward: only the exact-time trade has a quote within +5, got $fw")
  }

  test("asOfJoinExec plan: custom exec node, no Window, both sides clustered+sorted") {
    val p = SparkEntry.queries("q_asof_physical")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("AsOfJoin"), s"expected the custom exec in the plan:\n$p")
    assert(!p.contains("Window"), s"the physical operator must not plan a window:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"no generic join may appear:\n$p")
  }

  test("asOfJoinExecSalted: identical to asOfJoin/asOfJoinExec on the hand cases") {
    val quotes = Seq(
      ("A", 10L, 1.0), ("A", 20L, 2.0), ("A", 30L, 3.0),
      ("B", 15L, 9.0),
    ).toDF("sym", "qt", "px")
    val trades = Seq(
      ("A", 5L, 100), ("A", 20L, 200), ("A", 25L, 300), ("A", 99L, 400),
      ("B", 15L, 500), ("C", 50L, 600),
    ).toDF("sym", "tt", "qty")
    val salted = AsOf.asOfJoinExecSalted(
      trades, quotes, "sym", "tt", "sym", "qt", Seq("px"), chunks = 4)
    val compose = AsOf.asOfJoin(trades, quotes, "sym", "tt", "sym", "qt", Seq("px"))
    assert(salted.exceptAll(compose).isEmpty && compose.exceptAll(salted).isEmpty)
    // null keys/times still follow SQL semantics through the struct key
    val q2 = Seq(
      (Some("A"), Some(10L), 1.0),
      (None: Option[String], Some(5L), 99.0),
      (Some("A"), None: Option[Long], 88.0),
    ).toDF("sym", "qt", "px")
    val t2 = Seq(
      (Some("A"), Some(20L), 1),
      (None: Option[String], Some(20L), 2),
      (Some("A"), None: Option[Long], 3),
    ).toDF("sym", "tt", "qty")
    val got = AsOf.asOfJoinExecSalted(t2, q2, "sym", "tt", "sym", "qt", Seq("px"), chunks = 4)
      .collect().map(r => (r.getAs[Int]("qty"), Option(r.get(3)))).toMap
    assert(got == Map(1 -> Some(1.0), 2 -> None, 3 -> None))
  }

  test("asOfJoinExecSalted: a 50%-hot key spreads across tasks, values unchanged") {
    // hot key H owns 60% of left rows, spanning the whole time axis —
    // the shape that serializes the unsalted exec through one task
    val hotL = (0 until 1500).map(i => ("H", i.toLong * 10, i))
    val coldL = (0 until 1000).map(i => (s"k${i % 50}", i.toLong * 15, 10000 + i))
    val trades = (hotL ++ coldL).toDF("sym", "tt", "qty").repartition(8)
    val hotR = (0 until 30).map(i => ("H", i.toLong * 500, i * 1.0))
    val coldR = (0 until 200).map(i => (s"k${i % 50}", i.toLong * 70, 100.0 + i))
    val quotes = (hotR ++ coldR).toDF("sym", "qt", "px")

    for (fwd <- Seq(false, true); tol <- Seq(None, Some(1000L))) {
      val salted = AsOf.asOfJoinExecSalted(trades, quotes, "sym", "tt", "sym", "qt",
        Seq("px"), forward = fwd, toleranceNs = tol, chunks = 8)
      val unsalted = AsOf.asOfJoinExec(trades, quotes, "sym", "tt", "sym", "qt",
        Seq("px"), forward = fwd, toleranceNs = tol)
      assert(salted.exceptAll(unsalted).isEmpty && unsalted.exceptAll(salted).isEmpty,
        s"salted != unsalted at forward=$fwd tolerance=$tol")
    }

    // the serialization pin: the hot key's rows must be PROCESSED by
    // several tasks. The exec preserves its (composite-key-clustered)
    // partitioning through the output projection, so counting hot rows
    // per output partition measures exactly how many merge tasks shared
    // the key — the unsalted exec is the 1-partition control. AQE's
    // small-shuffle coalescing would re-merge the tiny test buckets into
    // one partition and hide the very property under test; pin it off
    // (and widen the 4-partition test default) for this block only.
    def hotSpread(df: org.apache.spark.sql.DataFrame): Int = df
      .rdd.mapPartitionsWithIndex { (i, it) =>
        val n = it.count(_.getAs[String]("sym") == "H")
        if (n > 0) Iterator.single(i) else Iterator.empty
      }.collect().length
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val partsKey = "spark.sql.shuffle.partitions"
    val (oldCoalesce, oldParts) = (spark.conf.get(coalesceKey), spark.conf.get(partsKey))
    try {
      spark.conf.set(coalesceKey, "false")
      spark.conf.set(partsKey, "16")
      val saltedSpread = hotSpread(AsOf.asOfJoinExecSalted(
        trades, quotes, "sym", "tt", "sym", "qt", Seq("px"), chunks = 8))
      val unsaltedSpread = hotSpread(AsOf.asOfJoinExec(
        trades, quotes, "sym", "tt", "sym", "qt", Seq("px")))
      assert(unsaltedSpread == 1,
        s"control: unsalted hot key should sit in 1 task, got $unsaltedSpread")
      assert(saltedSpread >= 4,
        s"salted hot key should spread across >=4 of 8 chunk-tasks, got $saltedSpread")
    } finally {
      spark.conf.set(coalesceKey, oldCoalesce)
      spark.conf.set(partsKey, oldParts)
    }
  }

  test("asOfJoinExecSalted: extreme time domains cannot overflow the bucketizer") {
    // r13 ADVICE pin: (rightTime - tmin) as a LONG subtraction wraps when
    // a right row sits far outside the left span (or when the left span
    // itself exceeds Long.MaxValue), clamping a POST-span row into chunk
    // 0 — a forward join then never seeds it into later chunks, and left
    // rows whose ONLY forward match is that row get a wrong NULL. The
    // bucketizer now computes in double space; pin both overflow shapes
    // against the unsalted exec.
    // (a) right row at Long.MaxValue with the left span crossing zero
    //     (tmin < 0 => rt - tmin wraps negative as a long)
    val l1 = (-100L to 100L by 10L).zipWithIndex
      .map { case (t, i) => ("k", t, i) }.toDF("sym", "tt", "qty")
    val r1 = Seq(("k", Long.MaxValue, 7.0)).toDF("sym", "qt", "px")
    val sFwd = AsOf.asOfJoinExecSalted(l1, r1, "sym", "tt", "sym", "qt",
      Seq("px"), forward = true, chunks = 8)
    val uFwd = AsOf.asOfJoinExec(l1, r1, "sym", "tt", "sym", "qt",
      Seq("px"), forward = true)
    assert(sFwd.exceptAll(uFwd).isEmpty && uFwd.exceptAll(sFwd).isEmpty)
    assert(sFwd.filter($"px".isNull).count() == 0,
      "the MaxValue row is every left row's only forward match — no NULLs allowed")
    // (b) left span wider than Long.MaxValue (tmax - tmin wraps as a long)
    val l2 = Seq(("k", Long.MinValue + 10, 1), ("k", 0L, 2),
      ("k", Long.MaxValue - 10, 3)).toDF("sym", "tt", "qty")
    val r2 = Seq(("k", Long.MinValue + 5, 1.0), ("k", -5L, 2.0),
      ("k", Long.MaxValue - 20, 3.0)).toDF("sym", "qt", "px")
    for (fwd <- Seq(false, true)) {
      val s = AsOf.asOfJoinExecSalted(l2, r2, "sym", "tt", "sym", "qt",
        Seq("px"), forward = fwd, chunks = 4)
      val u = AsOf.asOfJoinExec(l2, r2, "sym", "tt", "sym", "qt",
        Seq("px"), forward = fwd)
      assert(s.exceptAll(u).isEmpty && u.exceptAll(s).isEmpty,
        s"span-overflow domain drifted from unsalted at forward=$fwd")
    }
  }

  test("asOfJoinExecSalted plan: still the custom exec, no window, no generic join") {
    val p = SparkEntry.queries("q_asof_salted")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("AsOfJoin"), s"expected the custom exec in the plan:\n$p")
    assert(!p.contains("Window"), s"the salted path must not plan a window:\n$p")
  }

  test("Reshape.zipWithPadStatic is equivalent to the lambda zipWithPad") {
    val df = spark.read.parquet(s"$sf/lineitem.parquet").limit(500)
    val dyn = df.select(explode(Reshape.zipWithPad(
      array($"l_quantity", $"l_extendedprice", $"l_discount"),
      array($"l_returnflag", $"l_linestatus"))).as("z"))
    val sta = df.select(explode(Reshape.zipWithPadStatic(
      Seq($"l_quantity", $"l_extendedprice", $"l_discount"),
      Seq($"l_returnflag", $"l_linestatus"))).as("z"))
    assert(dyn.select("z.value", "z.type").exceptAll(sta.select("z.value", "z.type")).isEmpty)
    assert(sta.select("z.value", "z.type").exceptAll(dyn.select("z.value", "z.type")).isEmpty)
  }

  test("q_approx_stats sketches stay within error bounds of exact answers") {
    // The r6 contract shape: exact answers ride the output; the sketch
    // estimates are distilled into in-envelope booleans the DuckDB
    // oracle expects TRUE. This spec independently recomputes the exact
    // answers and asserts the contract columns both hold and agree.
    val got = SparkEntry.queries("q_approx_stats")(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val exact = li.groupBy("l_returnflag")
      .agg(countDistinct($"l_orderkey").as("d"), count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got.keySet == exact.keySet)
    exact.foreach { case (k, (d, n)) =>
      val r = got(k)
      assert(r.getAs[Long]("exact_orders") == d && r.getAs[Long]("n") == n)
      assert(r.getAs[Boolean]("hll_within_3rsd"), s"$k: HLL drifted out of 3·rsd")
      assert(r.getAs[Boolean]("median_in_rank_window"), s"$k: approx median outside rank window")
    }
  }

  test("q_sketch_merge: unioned per-month HLL sketches = direct single-pass sketch") {
    // Mergeability is the point: incrementally-built sketches must track
    // the single-pass sketch. The union path round-trips registers
    // through the union gadget (HLL_4 → HGM → HLL_4), so estimates can
    // drift from the direct sketch (measured up to ~1.2%: 1066 vs 1079)
    // — assert 3% agreement, i.e. within the sketches' own combined
    // ~2.4% standard error at lgK=12, not bit-equality. (The r6 registry
    // query distills the merged estimate into a contract boolean, so the
    // merged estimate is recomputed here the way the query builds it.)
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val merged = li
      .groupBy($"l_returnflag", date_format($"l_shipdate", "yyyy-MM").as("month"))
      .agg(hll_sketch_agg($"l_orderkey").as("sk"))
      .groupBy("l_returnflag")
      .agg(hll_sketch_estimate(hll_union_agg($"sk")).as("m"))
      .collect().map(r => r.getString(0) -> r.getAs[Long]("m")).toMap
    val direct = li
      .groupBy("l_returnflag")
      .agg(hll_sketch_estimate(hll_sketch_agg($"l_orderkey")).as("d"))
      .collect().map(r => r.getString(0) -> r.getAs[Long]("d")).toMap
    assert(merged.keySet == direct.keySet)
    merged.foreach { case (k, m) =>
      assert(math.abs(m - direct(k)).toDouble / direct(k) < 0.03,
        s"$k: merged $m vs direct ${direct(k)} drifted over 3%")
    }
    // And the registry query's contract columns hold on the same data.
    val got = SparkEntry.queries("q_sketch_merge")(spark, sf).collect()
    assert(got.nonEmpty && got.forall(_.getAs[Boolean]("merged_within_3rsd")))
  }

  // The bench shapes (QueryDef.bench) are what Bench times, but the
  // oracle gate never sees them: their raw estimates are checked here
  // against exact answers, inside the envelopes the verified shapes
  // assert.
  private def benchRows(name: String): Map[String, org.apache.spark.sql.Row] =
    SparkEntry.byName(name).bench.get(spark, sf).collect()
      .map(r => r.getAs[String]("l_returnflag") -> r).toMap

  /** (flag, price, weight = truncated quantity) for every lineitem row. */
  private lazy val linePrices: Seq[(String, Double, Long)] =
    spark.read.parquet(s"$sf/lineitem.parquet")
      .select($"l_returnflag", $"l_extendedprice", $"l_quantity".cast("long"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSeq

  private def exactDistinctOrders: Map[String, Long] =
    spark.read.parquet(s"$sf/lineitem.parquet")
      .groupBy("l_returnflag").agg(countDistinct($"l_orderkey"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("q_approx_stats bench shape: HLL within 6% of exact, median rank in [0.449, 0.551]") {
    val got = benchRows("q_approx_stats")
    val exact = exactDistinctOrders
    assert(got.keySet == exact.keySet)
    linePrices.groupBy(_._1).foreach { case (k, rows) =>
      val r = got(k)
      assert(r.getAs[Long]("n") == rows.size)
      val est = r.getAs[Long]("approx_orders")
      assert(math.abs(est - exact(k)) <= 0.06 * exact(k), s"$k: approx_orders $est vs exact ${exact(k)}")
      val med = r.getAs[Double]("approx_median")
      val (le, lt) = (rows.count(_._2 <= med).toDouble, rows.count(_._2 < med).toDouble)
      assert(le / rows.size >= 0.449 && lt / rows.size <= 0.551,
        s"$k: approx_median $med has rank [${lt / rows.size}, ${le / rows.size}]")
    }
  }

  test("q_sketch_merge bench shape: merged HLL estimate within 5% of exact") {
    val got = benchRows("q_sketch_merge")
    val exact = exactDistinctOrders
    assert(got.keySet == exact.keySet)
    exact.foreach { case (k, d) =>
      val est = got(k).getAs[Long]("approx_distinct_orders")
      assert(math.abs(est - d) <= 0.05 * d, s"$k: approx_distinct_orders $est vs exact $d")
    }
  }

  test("q_sketch_intersect bench shape: overlap estimate within 10% of the exact union") {
    val rows = SparkEntry.byName("q_sketch_intersect").bench.get(spark, sf).collect()
    assert(rows.length == 1)
    val ev = spark.read.parquet(s"$sf/events.parquet").filter($"value" > 100)
    def users(kind: String): Set[Long] =
      ev.filter($"event_type" === kind).select($"user_id".cast("long")).distinct()
        .collect().map(_.getLong(0)).toSet
    val (a, b) = (users("purchase"), users("error"))
    val (both, union) = ((a & b).size, (a | b).size)
    assert(both > 0 && both < union, s"cohorts must overlap partially: both $both, union $union")
    val est = rows.head.getAs[Long]("approx_both")
    assert(math.abs(est - both) <= 0.10 * union, s"approx_both $est vs exact $both (union $union)")
  }

  test("q_quantile_sketch / q_weighted_quantile bench shapes: p50 (weighted) rank within 0.02 of 0.5") {
    val byFlag = linePrices.groupBy(_._1)
    val plain = benchRows("q_quantile_sketch")
    val weighted = benchRows("q_weighted_quantile")
    assert(plain.keySet == byFlag.keySet && weighted.keySet == byFlag.keySet)
    byFlag.foreach { case (k, rows) =>
      val p50 = plain(k).getAs[Double]("approx_p50")
      val rank = rows.count(_._2 <= p50).toDouble / rows.size
      assert(math.abs(rank - 0.5) <= 0.02, s"$k: approx_p50 $p50 has rank $rank")
      val wp50 = weighted(k).getAs[Double]("approx_p50")
      val wTotal = rows.map(_._3).sum
      assert(weighted(k).getAs[Long]("w_total") == wTotal)
      val wrank = rows.filter(_._2 <= wp50).map(_._3).sum.toDouble / wTotal
      assert(math.abs(wrank - 0.5) <= 0.02, s"$k: weighted approx_p50 $wp50 has weighted rank $wrank")
    }
  }

  test("Sampling.hashSample is deterministic, partition-independent, and ~keep/16") {
    val df = spark.read.parquet(s"$sf/orders.parquet")
    val total = df.count()
    val s1 = graft.core.Sampling.hashSample(df, $"o_orderkey", 4)
    val s2 = graft.core.Sampling.hashSample(df.repartition(7), $"o_orderkey", 4)
    assert(s1.count() == s2.count(), "membership must not depend on partitioning")
    assert(s1.exceptAll(s2).isEmpty)
    val frac = s1.count().toDouble / total
    assert(frac > 0.15 && frac < 0.35, s"expected ~0.25, got $frac")
    assert(graft.core.Sampling.hashSample(df, $"o_orderkey", 16).count() == total)
    // 64k-bucket variant nests inside the 16-bucket one (prefix property).
    val fine = graft.core.Sampling.hashSample64k(df, $"o_orderkey", 4 * 4096)
    assert(fine.exceptAll(s1).isEmpty && s1.exceptAll(fine).isEmpty)
  }

  test("Sampling.weightedMix: per-group fractions, nesting, default fallback") {
    import graft.core.Sampling
    val df = spark.read.parquet(s"$sf/documents.parquet")
    val keeps = Seq("src0" -> 256, "src1" -> 128, "src2" -> 64)
    val out = Sampling.weightedMix(df, $"doc_id", $"source", keeps, defaultKeep = 32)
    val by = out.groupBy("source").count().as[(String, Long)].collect().toMap
    val in = df.groupBy("source").count().as[(String, Long)].collect().toMap
    assert(by("src0") == in("src0"), "keep=256 must keep every row")
    assert(by.getOrElse("src1", 0L) < in("src1") &&
      by.getOrElse("src2", 0L) <= by.getOrElse("src1", 0L))
    // Unknown groups use the default (32/256 = 1/8): strictly sampled.
    assert(by.getOrElse("src7", 0L) < in("src7"))
    // Nesting: tightening a group's keep produces a SUBSET (same key ->
    // same bucket), the property per-run random sampling lacks.
    val tighter = Sampling.weightedMix(df, $"doc_id", $"source",
      Seq("src0" -> 64, "src1" -> 64, "src2" -> 64), defaultKeep = 16)
    assert(tighter.exceptAll(out).isEmpty, "tighter mix must nest inside the looser one")
  }

  test("Sampling.stratifiedSplit: total cover, growth-stable, ~80/10/10") {
    import graft.core.Sampling
    val cuts = Seq("train" -> "cc", "val" -> "e6")
    val df = spark.read.parquet(s"$sf/documents.parquet")
      .withColumn("split", Sampling.stratifiedSplit($"doc_id", cuts, "test"))
    val byTag = df.groupBy("split").count().as[(String, Long)].collect().toMap
    val total = byTag.values.sum
    assert(byTag.keySet == Set("train", "val", "test"), s"got $byTag")
    assert(byTag("train").toDouble / total > 0.7 && byTag("train").toDouble / total < 0.9)
    // Growth stability: assignments on a half-corpus agree with the full
    // corpus (the anti-leakage property a per-run random split lacks).
    val half = spark.read.parquet(s"$sf/documents.parquet").filter($"doc_id" % 2 === 0)
      .withColumn("split", Sampling.stratifiedSplit($"doc_id", cuts, "test"))
    val joined = half.select($"doc_id", $"split".as("half_split"))
      .join(df.select($"doc_id", $"split"), "doc_id")
    assert(joined.filter($"half_split" =!= $"split").isEmpty)
  }

  test("Sampling.weightedSample: exact A-ES membership, partition-independent") {
    import graft.core.Sampling
    val df = spark.read.parquet(s"$sf/documents.parquet")
      .select($"lang", $"doc_id", $"n_chars")
    val out = Sampling.weightedSample(df, $"lang", $"n_chars", $"doc_id", k = 5)
      .select($"lang", $"doc_id", $"rn").as[(String, Long, Int)].collect().toSet
    // Driver-side reference: the identical md5-hex race, independently
    // implemented (MessageDigest + parseLong vs Spark md5/conv/substring).
    def ek(id: Long, w: Long): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      val hex = md.take(4).map(b => f"$b%02x").mkString
      -math.log((java.lang.Long.parseLong(hex, 16) + 0.5) / 4294967296.0) / w
    }
    val want = df.as[(String, Long, Long)].collect().groupBy(_._1).toSeq.flatMap {
      case (lang, rs) =>
        rs.sortBy(r => (ek(r._2, r._3), r._2)).take(5).zipWithIndex
          .map { case (r, i) => (lang, r._2, i + 1) }.toSeq
    }.toSet
    assert(out == want, "engine sample must equal the reference race exactly")
    // Membership is a pure function of the key bytes — repartitioning
    // must not move it (the property Dataset.sample lacks).
    val out2 = Sampling
      .weightedSample(df.repartition(13), $"lang", $"n_chars", $"doc_id", k = 5)
      .select($"lang", $"doc_id", $"rn").as[(String, Long, Int)].collect().toSet
    assert(out2 == out)
  }

  test("Sampling.temperatureMix: flattens skewed groups, nests under lower alpha, floors rare groups") {
    import graft.core.Sampling
    val docs = spark.read.parquet(s"$sf/documents.parquet").select($"doc_id", $"lang")
    def props(df: org.apache.spark.sql.DataFrame): Map[String, Double] = {
      val m = df.groupBy("lang").count().as[(String, Long)].collect().toMap
      val t = m.values.sum.toDouble
      m.map { case (k, v) => k -> v / t }
    }
    val before = props(docs)
    val mixed = Sampling.temperatureMix(docs, $"doc_id", $"lang", alpha = 0.5)
    val after = props(mixed.select("doc_id", "lang"))
    // alpha=0.5 must pull the majority class toward the rest.
    val big = before.maxBy(_._2)._1
    assert(after(big) < before(big), s"majority '$big' share must shrink: $before -> $after")
    // alpha=1 keeps everything.
    assert(Sampling.temperatureMix(docs, $"doc_id", $"lang", alpha = 1.0).count() == docs.count())
    // Nesting: a harsher temperature's sample is a subset of a milder one's.
    val ids = (df: org.apache.spark.sql.DataFrame) => df.select("doc_id").as[Long].collect().toSet
    val harsh = ids(Sampling.temperatureMix(docs, $"doc_id", $"lang", alpha = 0.2))
    assert(harsh.subsetOf(ids(mixed)), "lower alpha must nest inside higher alpha")
    // minKeep floors every group's rate; no group vanishes even at alpha=0.
    val flat = Sampling.temperatureMix(docs, $"doc_id", $"lang", alpha = 0.0, minKeep = 8192)
    assert(flat.select("lang").distinct().count() == before.size,
      "minKeep must keep every group represented")
  }

  test("Writers.writeCompacted sizes the output file count from plan stats") {
    val dir = tmpDir("compacted")
    val df = spark.read.parquet(s"$sf/lineitem.parquet")
    // Huge target -> exactly one file; tiny target -> several.
    val one = Writers.writeCompacted(df, s"$dir/one", targetBytes = 10L << 30)
    assert(one == 1)
    val onDisk = new java.io.File(s"$dir/one").listFiles().count(_.getName.endsWith(".parquet"))
    assert(onDisk == 1, s"expected a single parquet file, got $onDisk")
    // plan-stat sizeInBytes is the COMPRESSED scan size (~128 KB here)
    val many = Writers.writeCompacted(df, s"$dir/many", targetBytes = 16L << 10)
    assert(many > 1, s"tiny target should fan out, got $many partitions")
    // round-trip integrity
    assert(spark.read.parquet(s"$dir/many").count() == df.count())
  }

  test("Writers.writeByExtension dispatches parquet/json/tsv (K2, K5)") {
    val dir = tmpDir("k2sink")
    val df = Seq(("g1", 1), ("g2", 2)).toDF("gene", "n")

    Writers.writeByExtension(df, s"$dir/out.parquet")
    assert(spark.read.parquet(s"$dir/out.parquet").count() == 2)

    Writers.writeByExtension(df, s"$dir/out.json.gz")
    assert(new java.io.File(s"$dir/out.json.gz").isFile)
    assert(spark.read.json(s"$dir/out.json.gz").count() == 2)

    Writers.writeByExtension(df, s"$dir/out.tsv")
    val back = spark.read.option("sep", "\t").option("header", "true").csv(s"$dir/out.tsv")
    assert(back.count() == 2)
    assert(back.columns.toSeq == Seq("gene", "n"))

    Writers.writeByExtension(df, s"$dir/out_default")
    assert(spark.read.parquet(s"$dir/out_default").count() == 2)
  }

  test("Scd.scd2 compresses repeats into half-open validity intervals") {
    import org.apache.spark.sql.functions._
    // key A: tiers 1,1,2,2,1 at t=10..50 → intervals (1)[10,30), (2)[30,50), (1)[50,∞).
    val ev = Seq(
      ("A", 1L, 10L, 1L), ("A", 1L, 20L, 2L), ("A", 2L, 30L, 3L),
      ("A", 2L, 40L, 4L), ("A", 1L, 50L, 5L),
      ("B", 7L, 5L, 6L),
    ).toDF("k", "attr", "ts", "id")
    val got = graft.core.Scd.scd2(ev, $"k", $"attr", $"ts", $"id")
      .orderBy("k", "version")
      .as[(String, Long, Long, Option[Long], Int, Boolean)].collect().toSeq
    assert(got == Seq(
      ("A", 1L, 10L, Some(30L), 1, false),
      ("A", 2L, 30L, Some(50L), 2, false),
      ("A", 1L, 50L, None, 3, true),
      ("B", 7L, 5L, None, 1, true),
    ))
  }

  test("Scd.scd2Increment folds a batch == full recompute: collapse, close, new key, untouched") {
    import org.apache.spark.sql.functions._
    // History: A tiers 1,2 (live 2 since t=20); B tier 7 (live); C tier 9 (live, untouched).
    val hist = Seq(
      ("A", 1L, 10L, 1L), ("A", 2L, 20L, 2L),
      ("B", 7L, 5L, 3L), ("C", 9L, 8L, 4L),
    ).toDF("k", "attr", "ts", "id")
    // Batch: A opens with the LIVE value (must collapse) then changes;
    // B changes; D is a brand-new key with an internal repeat.
    val batch = Seq(
      ("A", 2L, 30L, 5L), ("A", 3L, 40L, 6L),
      ("B", 8L, 35L, 7L),
      ("D", 5L, 50L, 8L), ("D", 5L, 60L, 9L),
    ).toDF("k", "attr", "ts", "id")
    val all = hist.unionByName(batch)
    def sixt(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("k", "version")
        .as[(String, Long, Long, Option[Long], Int, Boolean)].collect().toSeq
    val full = sixt(graft.core.Scd.scd2(all, $"k", $"attr", $"ts", $"id"))
    val folded = sixt(graft.core.Scd.scd2Increment(
      graft.core.Scd.scd2(hist, $"k", $"attr", $"ts", $"id"),
      batch, $"k", $"attr", $"ts", $"id"))
    assert(folded == full, s"fold must equal full recompute:\n$folded\nvs\n$full")
    // The collapse really happened: A has 3 intervals (1,2,3), not 4.
    assert(full.count(_._1 == "A") == 3)
    // Untouched key's live row survived the fold intact.
    assert(folded.filter(_._1 == "C") == Seq(("C", 9L, 8L, None, 1, true)))
  }

  test("Scd.scd2 null attr runs collapse null-safely and tiebreak orders same-instant rows") {
    import org.apache.spark.sql.functions._
    val ev = Seq(
      ("A", None: Option[Long], 10L, 1L), ("A", None: Option[Long], 20L, 2L),
      ("A", Some(3L), 30L, 3L),
      // same ts=30: tiebreak id=4 sorts after id=3 → value 4 wins the tail
      ("A", Some(4L), 30L, 4L),
    ).toDF("k", "attr", "ts", "id")
    val got = graft.core.Scd.scd2(ev, $"k", $"attr", $"ts", $"id")
      .orderBy("version")
      .as[(String, Option[Long], Long, Option[Long], Int, Boolean)].collect().toSeq
    assert(got == Seq(
      ("A", None, 10L, Some(30L), 1, false),
      ("A", Some(3L), 30L, Some(30L), 2, false),
      ("A", Some(4L), 30L, None, 3, true),
    ))
  }
}
