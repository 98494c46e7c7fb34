package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Cleanup, Dedup, Ivm, Preference, Rank, Readers, Reshape, Scd, Stats, Union}
import graft.graph.PageRank
import graft.similarity.{Ann, KCenter, KMeans, MlpScore, Mmr, NearDup, RandomProjection, SemDeDup, SetSimJoin, SparseSim}
import graft.text.{SubstringDedup, TextAnalysis, Unigram, WordPiece}

/** Driver contract — one named query per implemented operator family from
  * SURVEY.md §2, each a [[QueryDef]] in [[SparkEntry.registry]] that carries
  * its DuckDB-runnable oracle SQL.
  *
  * Queries are expressed through the graft core library (graft.core,
  * graft.text, graft.similarity, graft.functions) over the TPC-H-ish test
  * tables (TESTDATA.md). Determinism rules for oracle parity:
  *  - double sums go through exact decimal accumulation, then cast back;
  *  - every window/top-k has a total order (unique tiebreakers);
  *  - collected sets are sorted before leaving the query.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Readers.table(s, dir, name)

  /** Exact decimal sum of a double column, surfaced as double (sum order
    * independence — see SURVEY.md §7.3 float-vs-double risk).
    */
  private def dsum(c: Column): Column =
    sum(c.cast("decimal(24,6)")).cast("double")

  /** Event-time normalization: the testdata's parquet TIMESTAMP(µs)
    * columns read as TIMESTAMP_NTZ; the engine's event-time convention
    * is integer epoch longs (integer gap arithmetic, no interval types
    * in window frames, and exact cross-engine comparison — DuckDB's
    * epoch_us/epoch_ns of a naive timestamp is the same integer). The
    * NTZ→LTZ cast inside unix_micros is a no-op on the stored value
    * because every session runs spark.sql.session.timeZone=UTC.
    */
  private def tsUs(c: Column): Column = unix_micros(c.cast("timestamp"))
  private def tsNs(c: Column): Column = tsUs(c) * 1000

  /** One row (a, b) per order and pair of distinct parts a < b in it.
    * `collect_set` dedups repeated parts inside the basket during the
    * aggregation itself — one shuffle on l_orderkey, not a distinct
    * shuffle on (order, part) followed by a second on order. Pairing
    * happens inside each order (r15: one codegen'd successor-pairs kernel
    * + one explode — the posexplode×slice chain duplicated the basket per
    * position), so output is bounded by Σ basket², never a corpus-wide
    * self-join.
    */
  private def basketPairs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy("l_orderkey")
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
      .select(explode(graft.functions.GraftFunctions.successorPairs(col("ps"))).as("pr"))
      .select(col("pr.a").as("a"), col("pr.b").as("b"))

  /** The part co-purchase graph: [[basketPairs]] that share ≥ 2 orders,
    * with their co-basket count (a, b, n).
    */
  private def copurchasePairs(s: SparkSession, dir: String): DataFrame =
    basketPairs(s, dir)
      .groupBy("a", "b")
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2)

  /** Undirected edges (src, dst) from (a, b) pairs: both directions. */
  private def bothDirections(pairs: DataFrame): DataFrame =
    pairs.select(col("a").as("src"), col("b").as("dst"))
      .union(pairs.select(col("b").as("src"), col("a").as("dst")))

  /** [[copurchasePairs]] with the path cost w = floor(1000/n): strong
    * partnerships (high co-basket count n) are cheap, one-off pairings
    * expensive.
    */
  private def copurchaseCostPairs(s: SparkSession, dir: String): DataFrame =
    copurchasePairs(s, dir)
      .withColumn("w", floor(lit(1000.0) / col("n").cast("double")).cast("long"))

  /** [[copurchasePairs]]' variant that deduplicates (order, part) in its
    * own shuffle before the baskets are built: a, b and their co-basket
    * count nab, kept where nab ≥ 2.
    */
  private def itemPairs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("item")).distinct()
      .groupBy("ok").agg(sort_array(collect_set(col("item"))).as("items"))
      .select(explode(graft.functions.GraftFunctions.successorPairs(col("items"))).as("pr"))
      .select(col("pr.a").as("a"), col("pr.b").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("nab"))
      .filter(col("nab") >= 2)

  /** Per-user pre/post totals (user_id, x, y) split at the integer
    * midpoint day of the events: each value quantizes to decimal(12,3),
    * sums exactly on its side of the split (x: day < mid), then floors to
    * integer units, so every moment downstream is an exact BIGINT.
    */
  private def userPrePost(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events").select(
      col("user_id"),
      floor(tsUs(col("ts")) / 86400000000L).cast("long").as("day"),
      col("value").cast("decimal(12,3)").as("v"))
    val mid = e.agg(floor((min(col("day")) + max(col("day"))).cast("double") / lit(2.0))
      .cast("long").as("mid"))
    e.crossJoin(broadcast(mid))
      .groupBy("user_id")
      .agg(
        floor(coalesce(sum(when(col("day") < col("mid"), col("v"))),
          lit(java.math.BigDecimal.ZERO)).cast("double")).cast("long").as("x"),
        floor(coalesce(sum(when(col("day") >= col("mid"), col("v"))),
          lit(java.math.BigDecimal.ZERO)).cast("double")).cast("long").as("y"))
  }

  /** Each event type's daily series (event_type, day, v): the integer
    * epoch day and the exact decimal(12,3) sum of that day's values.
    */
  private def dailyEventTotals(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("event_type"),
        floor(tsUs(col("ts")) / 86400000000L).cast("long").as("day"))
      .agg(sum(col("value").cast("decimal(12,3)")).as("v"))

  /** The as-of queries' left side: events (event_id, user_id, ts), ts in
    * epoch ns.
    */
  private def asofEvents(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(col("event_id"), col("user_id"), tsNs(col("ts")).as("ts"))

  /** The as-of queries' right side: the latest order per (customer,
    * order date) as (o_custkey, odn, asof_orderkey) — unique (key, time),
    * so every match is deterministic. odn is the order date in epoch ns:
    * orderdate is TIMESTAMP_NTZ and the session TZ is UTC, so the cast to
    * (local) TIMESTAMP is exact and matches DuckDB epoch_ns.
    */
  private def asofOrders(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy("o_custkey", "o_orderdate")
      .agg(max("o_orderkey").as("asof_orderkey"))
      .select(
        col("o_custkey"),
        (unix_micros(col("o_orderdate").cast("timestamp")) * 1000).as("odn"),
        col("asof_orderkey"))

  /** A deterministic typo of each customer name, its class picked by
    * c_custkey % 3 — dropped char / doubled char / transposition, the
    * classic linkage error classes. The last 4 characters stay intact
    * under all three, so they are a sound blocking key.
    */
  private def typoCustomerName: Column =
    when(pmod(col("c_custkey"), lit(3)) === 0,
      concat(lit("C"), substring(col("c_name"), 3, 64)))
      .when(pmod(col("c_custkey"), lit(3)) === 1,
        concat(substring(col("c_name"), 1, 6), lit("m"), substring(col("c_name"), 7, 64)))
      .otherwise(concat(lit("Cuts"), substring(col("c_name"), 5, 64)))

  /** The daily order-revenue series (day, kilo) in KILODOLLAR integer
    * units: exact decimal daily sum → one IEEE division → exact floor,
    * which keeps every moment sum over it under 2⁵³ (see Stats.autocorr).
    */
  private def dailyRevenueKilo(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy(floor(tsUs(col("o_orderdate")) / 86400000000L).cast("long").as("day"))
      .agg(sum(col("o_totalprice").cast("decimal(12,3)")).as("v"))
      .select(col("day"),
        floor(col("v").cast("double") / lit(1000.0)).cast("long").as("kilo"))

  /** Each user's exact decimal(12,3) value total per event type
    * (event_type, user_id, v), with the arm `pos` = odd user_id.
    */
  private def userTotalsByParity(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("event_type"), col("user_id"))
      .agg(sum(col("value").cast("decimal(12,3)")).as("v"))
      .withColumn("pos", pmod(col("user_id"), lit(2)) === 1)

  /** Per event type, the count, exact sum and exact sum of squares of
    * [[userTotalsByParity]]' v in each arm: n1/n0, s1/s0, q1/q0.
    */
  private def parityMoments(u: DataFrame): DataFrame =
    u.groupBy("event_type").agg(
      sum(when(col("pos"), 1L).otherwise(0L)).as("n1"),
      sum(when(!col("pos"), 1L).otherwise(0L)).as("n0"),
      sum(when(col("pos"), col("v"))).as("s1"),
      sum(when(!col("pos"), col("v"))).as("s0"),
      sum(when(col("pos"), col("v") * col("v"))).as("q1"),
      sum(when(!col("pos"), col("v") * col("v"))).as("q0"))

  /** One split side's Gini impurity weighted by its size: nc rows, pc of
    * them positive (0 for an empty side).
    */
  private def giniSide(nc: Column, pc: Column): Column = {
    val d = (c: Column) => c.cast("double")
    when(nc === 0L, lit(0.0)).otherwise(
      d(nc) * (lit(1.0) - (d(pc) / d(nc)) * (d(pc) / d(nc)) -
        (d(nc - pc) / d(nc)) * (d(nc - pc) / d(nc))))
  }

  /** The IVM retraction queries' changelog over `ev`'s day of month
    * `day`: two insert batches (days ≤ 15, then the rest; op = 1) and one
    * delete batch (TTL-expire days 1-10, retract 'error' entirely;
    * op = -1).
    */
  private def retractChangelog(ev: DataFrame): (DataFrame, DataFrame, DataFrame) =
    (ev.filter(col("day") <= 15).withColumn("op", lit(1)),
      ev.filter(col("day") > 15).withColumn("op", lit(1)),
      ev.filter(col("day") <= 10 || col("event_type") === "error")
        .withColumn("op", lit(-1)))

  /** The three lowest-id nodes of a src/dst edge list, as `source`. */
  private def lowestSources(edges: DataFrame): DataFrame =
    edges.select(col("src")).distinct()
      .orderBy(col("src")).limit(3).select(col("src").as("source"))

  /** 6-hop shortest paths from the three lowest parts over the cost-
    * weighted co-purchase graph: source, node, dist. r14: the substrate
    * feeds three jobs (the sources collect, the sizing count, the edge
    * collect/driver-BF input), so it is checkpointed once.
    */
  private def copurchaseShortestPaths(s: SparkSession, dir: String): DataFrame = {
    val pairs = copurchaseCostPairs(s, dir)
    val edges = pairs.select(col("a").as("src"), col("b").as("dst"), col("w"))
      .union(pairs.select(col("b").as("src"), col("a").as("dst"), col("w")))
      .localCheckpoint(eager = false)
    graft.graph.ShortestPath.runAdaptive(edges, lowestSources(edges), iters = 6)
  }

  /** Per-node triangle participation (part, n_tri) over a canonical
    * (pa < pb) edge list. The compact "forward" join: edges meet on the
    * middle vertex, then one membership join closes (a,c) — candidate
    * pairs stay bounded by Σ deg², never the n³ triple cross; each
    * triangle then credits its three corners via one explode. The edge
    * list feeds three consumers, so callers checkpoint it once.
    */
  private def triangleCounts(edges: DataFrame): DataFrame =
    edges.select(col("pa").as("a"), col("pb").as("b"))
      .join(edges.select(col("pa").as("b"), col("pb").as("c")), Seq("b"))
      .join(edges.select(col("pa").as("a"), col("pb").as("c")), Seq("a", "c"))
      .select(explode(array(col("a"), col("b"), col("c"))).as("part"))
      .groupBy("part").agg(count(lit(1)).as("n_tri"))

  /** Deterministic multi-line corpus for the line-dedup queries: the flat
    * token stream becomes two 8-token content lines, with boilerplate
    * lines injected by doc_id arithmetic ("subscribe…" in every 3rd doc,
    * "all rights reserved" in every 2nd) so the threshold rule has real
    * cross-document matches. Empty slices filter out, so short docs
    * degrade gracefully. The DuckDB oracle re-derives this synthesis.
    */
  private def synthLineDocs(docs: DataFrame): DataFrame = {
    val toks = split(col("text"), " ")
    val lines = filter(array(
      array_join(slice(toks, 1, 8), " "),
      when(pmod(col("doc_id"), lit(3)) === 0,
        lit("subscribe to our newsletter today")).otherwise(lit("")),
      array_join(slice(toks, 9, 8), " "),
      when(pmod(col("doc_id"), lit(2)) === 0,
        lit("all rights reserved")).otherwise(lit(""))
    ), x => x =!= "")
    docs.select(col("doc_id"), array_join(lines, "\n").as("text"))
  }

  /** Shared builder for the sequence-packing queries (q_pack_batches /
    * q_pack_sharded): one definition of the token convention, budget,
    * and batch arithmetic, so the variants cannot drift.
    */
  private def packQuery(s: SparkSession, dir: String, shards: Option[Int]): DataFrame = {
    val budget = 2000L
    val partCols = col("lang") +: shards.map(_ => col("shard")).toSeq
    val w = Window.partitionBy(partCols: _*).orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cols = Seq(col("doc_id"), col("lang")) ++
      shards.map(n => pmod(col("doc_id"), lit(n)).cast("long").as("shard")).toSeq :+
      graft.functions.GraftFunctions.textStats(col("text")).getField("n_tokens")
        .cast("long").as("n_tokens")
    t(s, dir, "documents")
      .select(cols: _*)
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .withColumn("batch_id", floor((col("cum") - col("n_tokens")) / budget))
      .drop("cum")
  }

  /** q_approx_stats' verified shape: sketches PLUS the exact contract
    * columns DuckDB hash-compares. Its bench shape is the pure-sketch
    * path — the exact columns are verification cost (they double the
    * aggregate work), not query cost.
    */
  private def approxStatsExact(li: DataFrame): DataFrame = {
    // The t-digest-ish median sketch lives in its OWN tiny aggregate:
    // it is consumed twice (broadcast rank probe + nothing heavy), so
    // keeping countDistinct's Expand out of its subtree means the
    // expensive pass runs once, not once per consumer.
    val med = li.groupBy("l_returnflag")
      .agg(percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000)).as("amed"))
    val rank = li
      .join(broadcast(med), Seq("l_returnflag"))
      .groupBy("l_returnflag")
      .agg(
        sum(when(col("l_extendedprice") <= col("amed"), 1L).otherwise(0L)).as("n_le"),
        sum(when(col("l_extendedprice") < col("amed"), 1L).otherwise(0L)).as("n_lt"),
      )
    // HLL rides its OWN aggregate: co-locating approx_count_distinct
    // (imperative buffer) with countDistinct (Expand + declarative agg)
    // in one groupBy forces a sort-based fallback over the expanded
    // stream — measured 14 s vs 1.8 s + 2.0 s split at sf1. The join
    // glue is 3 rows.
    val hll = li.groupBy("l_returnflag")
      .agg(approx_count_distinct(col("l_orderkey"), rsd = 0.02).as("hll"))
    li.groupBy("l_returnflag")
      .agg(
        countDistinct(col("l_orderkey")).as("exact_orders"),
        count(lit(1)).as("n"),
      )
      .join(broadcast(hll), Seq("l_returnflag"))
      .join(broadcast(rank), Seq("l_returnflag"))
      .select(
        col("l_returnflag"), col("exact_orders"), col("n"),
        (abs(col("hll") - col("exact_orders")) <= col("exact_orders") * lit(0.06))
          .as("hll_within_3rsd"),
        (col("n_le") / col("n") >= 0.449 && col("n_lt") / col("n") <= 0.551)
          .as("median_in_rank_window"),
      )
  }

  /** q_sketch_intersect's shared prefix: the events table, the two
    * cohort predicates, and the one-row frame of the three HLL
    * estimates (est_a, est_b, est_u = |A∪B|).
    */
  private def cohortSketches(s: SparkSession, dir: String): (DataFrame, Column, Column, DataFrame) = {
    val ev = t(s, dir, "events")
    // Cohorts with genuinely partial overlap at every SF: big-ticket
    // purchasers vs users who hit a high-severity error.
    val inA = col("event_type") === "purchase" && col("value") > 100
    val inB = col("event_type") === "error" && col("value") > 100
    val ska = ev.filter(inA).agg(hll_sketch_agg(col("user_id")).as("ska"))
    val skb = ev.filter(inB).agg(hll_sketch_agg(col("user_id")).as("skb"))
    val ests = ska.crossJoin(skb).select(
      hll_sketch_estimate(col("ska")).as("est_a"),
      hll_sketch_estimate(col("skb")).as("est_b"),
      hll_sketch_estimate(hll_union(col("ska"), col("skb"))).as("est_u"))
    (ev, inA, inB, ests)
  }

  /** q_sketch_merge's shared prefix: per-(flag, month) HLL sketches of
    * l_orderkey unioned per flag — (l_returnflag, n_months, est).
    */
  private def mergedMonthlyHll(s: SparkSession, dir: String): DataFrame = {
    val monthly = t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"),
        date_format(col("l_shipdate"), "yyyy-MM").as("month"))
      .agg(hll_sketch_agg(col("l_orderkey")).as("sk"))
    monthly
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n_months"),
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"),
      )
  }

  /** q_quantile_sketch's shared prefix: lineitem, the probed fractions,
    * and per-flag (l_returnflag, n_months, qs) from per-(flag, month)
    * MrlSketches folded by the merge agg.
    */
  private def monthlyQuantileSketch(s: SparkSession, dir: String): (DataFrame, Seq[Double], DataFrame) = {
    import graft.functions.GraftFunctions._
    val fracs = Seq(0.10, 0.50, 0.90, 0.99)
    val li = t(s, dir, "lineitem")
    val monthly = li
      .groupBy(col("l_returnflag"),
        date_format(col("l_shipdate"), "yyyy-MM").as("month"))
      .agg(quantileSketch(col("l_extendedprice"), 512).as("sk"))
    val merged = monthly
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_months"), quantileSketchMerge(col("sk")).as("sk"))
      .select(col("l_returnflag"), col("n_months"),
        sketchQuantiles(col("sk"), fracs).as("qs"))
    (li, fracs, merged)
  }

  /** q_weighted_quantile's shared prefix: the (l_returnflag,
    * l_extendedprice, w) rows, the probed fractions, and per-flag
    * (l_returnflag, w_total, qs) from one weighted sketch per flag.
    */
  private def weightedQuantileSketch(s: SparkSession, dir: String): (DataFrame, Seq[Double], DataFrame) = {
    import graft.functions.GraftFunctions._
    val fracs = Seq(0.25, 0.50, 0.75)
    val li = t(s, dir, "lineitem").select(col("l_returnflag"),
      col("l_extendedprice"), col("l_quantity").cast("long").as("w"))
    val merged = li.groupBy("l_returnflag")
      .agg(quantileSketchWeighted(col("l_extendedprice"), col("w"), 512).as("sk"),
        sum(col("w")).as("w_total"))
      .select(col("l_returnflag"), col("w_total"),
        sketchQuantiles(col("sk"), fracs).as("qs"))
    (li, fracs, merged)
  }

  // ---------------------------------------------------------------------
  // Bench-only production probes
  // ---------------------------------------------------------------------

  /** Production-path perf probes, timed by Bench alongside `queries` but
    * NOT part of the correctness registry: round 9 converted
    * q_neardup_minhash/simhash to contract queries (candidates → exact
    * Jaccard verify → signature re-join at a recall≈1 config), which is
    * the right correctness shape but means the benched number measures
    * the contract harness — a regression in the actual 100 TB dedup path
    * ([[graft.similarity.NearDup.minhashCandidates]] /
    * [[graft.similarity.NearDup.simhashCandidates]] at their production
    * defaults) would be invisible. These entries keep that path benched
    * (`b_` prefix; Verify ignores them, so the 254-query oracle gate is
    * untouched). Correctness for the kernels stays pinned by
    * NearDupSpec + the contract queries.
    */
  def benchProbes: Map[String, (SparkSession, String) => DataFrame] = Map(
    "b_neardup_minhash_cands" -> ((s, dir) =>
      NearDup.minhashCandidates(t(s, dir, "documents"), "doc_id", "text")),
    "b_neardup_simhash_cands" -> ((s, dir) =>
      NearDup.simhashCandidates(t(s, dir, "documents"), "doc_id", "text")),
    // Forced-DISTRIBUTED probes (r15, verdict item 6): at gate scale every
    // graph query and every KMeans fit sits within the driver tier's
    // budget, so a regression in the distributed loops — the code the
    // 100 TB story actually depends on — would be invisible to the bench.
    // One probe each pins them: the operator's distributed entry point on
    // the same substrate/fit the oracled queries use. The substrate is
    // checkpointed once, as DriverTier does for the adaptive entry points,
    // so the probe times the loop and not three recomputations of it.
    "b_pagerank_dist" -> ((s, dir) => {
      PageRank.run(bothDirections(copurchasePairs(s, dir)).localCheckpoint(eager = false), iters = 8)
        .select(col("node").as("part"), round(col("rank"), 6).as("rank"))
    }),
    "b_kmeans_dist" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      KMeans.assignWith(emb, "vec_id", "embedding",
        KMeans.fitDistributed(emb, "vec_id", "embedding", m = 1, dsub = 64, k = 8, iters = 2).head)
    }),
  )

  // ---------------------------------------------------------------------
  // Queries
  // ---------------------------------------------------------------------

  /** Every registry query, each declared once with its DuckDB oracle
    * beside it (see [[QueryDef]]). Lazy: the oracle SQL reads `private
    * val` helpers declared further down this object, which a strict val
    * here would see as null.
    */
  lazy val registry: Seq[QueryDef] = Seq(
    // --- A3/A5: grouped aggregation over the fact table ---------------
    QueryDef("q_agg_stats", (s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          count(lit(1)).as("n"),
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
          min(col("l_quantity")).as("min_qty"),
          max(col("l_extendedprice")).as("max_price"),
        )
    }, oracleSql =
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(24,6))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(24,6))) AS DOUBLE) AS revenue,
        |  min(l_quantity) AS min_qty, max(l_extendedprice) AS max_price
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin),

    // --- A1 signature: groupBy + collect_set, sorted (nesting motif) --
    QueryDef("q_agg_nest", (s, dir) => {
      t(s, dir, "orders")
        .groupBy("o_custkey")
        .agg(
          array_join(sort_array(collect_set(col("o_orderpriority"))), "|").as("priorities"),
          count(lit(1)).as("n_orders"),
        )
    }, oracleSql =
      """SELECT o_custkey,
        |  array_to_string(list_sort(list_distinct(list(o_orderpriority))), '|') AS priorities,
        |  count(*) AS n_orders
        |FROM orders GROUP BY o_custkey""".stripMargin),

    // --- P5–P9: compound predicates, isin, rlike, range ---------------
    QueryDef("q_filter_compound", (s, dir) => {
      t(s, dir, "orders")
        .filter(
          col("o_orderstatus").isin("O", "F") &&
            col("o_totalprice") > 50000.0 &&
            col("o_orderpriority").rlike("^[12]-")
        )
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    }, oracleSql =
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders
        |WHERE o_orderstatus IN ('O','F') AND o_totalprice > 50000.0
        |  AND regexp_matches(o_orderpriority, '^[12]-')""".stripMargin),

    // --- J1: multi-way inner equi-join + aggregation ------------------
    QueryDef("q_join_inner", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val ord = t(s, dir, "orders")
      val cust = t(s, dir, "customer")
      val nat = broadcast(t(s, dir, "nation"))
      val reg = broadcast(t(s, dir, "region"))
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .join(cust, ord("o_custkey") === cust("c_custkey"))
        .join(nat, cust("c_nationkey") === nat("n_nationkey"))
        .join(reg, nat("n_regionkey") === reg("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
          count(lit(1)).as("n_lines"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
        )
    }, oracleSql =
      """SELECT r_name, n_name, count(*) AS n_lines,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(24,6))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin),

    // --- J2: left join keeping unmatched, with zero-count repair ------
    QueryDef("q_join_left_null", (s, dir) => {
      val cust = t(s, dir, "customer")
      val ord = t(s, dir, "orders")
      cust
        .join(ord, cust("c_custkey") === ord("o_custkey"), "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(count(col("o_orderkey")).as("n_orders"), dsum(col("o_totalprice")).as("total_spent"))
    }, oracleSql =
      """SELECT c_custkey, c_mktsegment, count(o_orderkey) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(24,6))) AS DOUBLE) AS total_spent
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey, c_mktsegment""".stripMargin),

    // --- J3: left anti (subtract) -------------------------------------
    // Customers with no HIGH-VALUE order: every synthetic customer has
    // at least one order, so the anti-join runs against the filtered
    // subset (>400k total) to keep the result non-empty at every SF
    // (20 rows at sf0.001, 202 at sf0.01) — a real, non-vacuous gate.
    QueryDef("q_join_anti", (s, dir) => {
      val cust = t(s, dir, "customer")
      val bigOrd = t(s, dir, "orders").filter(col("o_totalprice") > 400000)
      cust
        .join(bigOrd, cust("c_custkey") === bigOrd("o_custkey"), "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
    }, oracleSql =
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 400000)""".stripMargin),

    // --- left semi (EXISTS) -------------------------------------------
    QueryDef("q_join_semi", (s, dir) => {
      val supp = t(s, dir, "supplier")
      val li = t(s, dir, "lineitem").filter(col("l_quantity") >= 45)
      supp
        .join(li, supp("s_suppkey") === li("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
    }, oracleSql =
      """SELECT s_suppkey, s_name FROM supplier
        |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_suppkey = s_suppkey AND l_quantity >= 45)""".stripMargin),

    // --- full outer: unmatched rows survive on BOTH sides -------------
    // Finished orders vs the per-order aggregate of near-full-quantity
    // lines: 'O'/'P' orders appear only on the aggregate side, finished
    // orders without a qualifying line only on the orders side. Shuffle
    // on the join key only; the aggregate side is partially combined
    // map-side before the exchange.
    QueryDef("q_join_full", (s, dir) => {
      val ord = t(s, dir, "orders")
        .filter(col("o_orderstatus") === "F")
        .select("o_orderkey", "o_totalprice")
      val big = t(s, dir, "lineitem")
        .filter(col("l_quantity") >= 48)
        .groupBy("l_orderkey")
        .agg(count(lit(1)).as("n_big"), dsum(col("l_extendedprice")).as("big_price"))
      ord
        .join(big, ord("o_orderkey") === big("l_orderkey"), "full_outer")
        .select(
          coalesce(ord("o_orderkey"), big("l_orderkey")).as("orderkey"),
          when(ord("o_orderkey").isNotNull && big("l_orderkey").isNotNull, "both")
            .when(ord("o_orderkey").isNotNull, "order_only")
            .otherwise("lines_only")
            .as("side"),
          col("o_totalprice"),
          col("n_big"),
          col("big_price"),
        )
    }, oracleSql =
      """WITH ord AS (
        |  SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderstatus = 'F'
        |), big AS (
        |  SELECT l_orderkey, count(*) AS n_big,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(24,6))) AS DOUBLE) AS big_price
        |  FROM lineitem WHERE l_quantity >= 48 GROUP BY l_orderkey
        |)
        |SELECT coalesce(o_orderkey, l_orderkey) AS orderkey,
        |  CASE WHEN o_orderkey IS NOT NULL AND l_orderkey IS NOT NULL THEN 'both'
        |       WHEN o_orderkey IS NOT NULL THEN 'order_only'
        |       ELSE 'lines_only' END AS side,
        |  o_totalprice, n_big, big_price
        |FROM ord FULL JOIN big ON o_orderkey = l_orderkey""".stripMargin),

    // --- J5: null-safe equality join (the ontology-map join shape) ----
    QueryDef("q_join_nullsafe", (s, dir) => {
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), when(col("c_nationkey") % 7 =!= 0, col("c_nationkey")).as("nk"))
      val nat = t(s, dir, "nation")
        .select(when(col("n_nationkey") % 7 =!= 0, col("n_nationkey")).as("nk2"), col("n_name"))
      cust
        .join(broadcast(nat), cust("nk") <=> nat("nk2"), "left")
        .groupBy("n_name")
        .agg(count(lit(1)).as("n_cust"))
    }, oracleSql =
      """WITH cust AS (
        |  SELECT c_custkey, CASE WHEN c_nationkey % 7 <> 0 THEN c_nationkey END AS nk FROM customer
        |), nat AS (
        |  SELECT CASE WHEN n_nationkey % 7 <> 0 THEN n_nationkey END AS nk2, n_name FROM nation
        |)
        |SELECT n_name, count(*) AS n_cust
        |FROM cust LEFT JOIN nat ON nk IS NOT DISTINCT FROM nk2
        |GROUP BY n_name""".stripMargin),

    // --- W1: window dedup — keep best row per key (via core.Dedup) ----
    QueryDef("q_window_dedup", (s, dir) => {
      Dedup
        .topOnePerKey(
          t(s, dir, "lineitem"),
          keys = Seq("l_orderkey"),
          order = Seq(col("l_extendedprice").desc, col("l_linenumber").asc),
        )
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
    }, oracleSql =
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM (
        |  SELECT l_orderkey, l_linenumber, l_extendedprice,
        |    row_number() OVER (PARTITION BY l_orderkey
        |                       ORDER BY l_extendedprice DESC, l_linenumber ASC) AS rn
        |  FROM lineitem) WHERE rn = 1""".stripMargin),

    // --- W1 at scale: agg-based keep-best (max(struct), partial agg) --
    // Same result as the window variant but the shuffle carries one
    // pre-combined row per (partition, key) instead of every row — the
    // form to use at 100 TB when only the survivor matters.
    QueryDef("q_argmax_dedup", (s, dir) => {
      Dedup
        .bestRowPerKey(
          t(s, dir, "lineitem").select("l_extendedprice", "l_orderkey", "l_linenumber", "l_suppkey"),
          keys = Seq("l_suppkey"),
          orderCols = Seq("l_extendedprice", "l_orderkey", "l_linenumber"),
        )
        .select("l_suppkey", "l_orderkey", "l_linenumber", "l_extendedprice")
    }, oracleSql =
      """SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice FROM (
        |  SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
        |    row_number() OVER (PARTITION BY l_suppkey
        |      ORDER BY l_extendedprice DESC, l_orderkey DESC, l_linenumber DESC) AS rn
        |  FROM lineitem)
        |WHERE rn = 1""".stripMargin),

    // --- window running aggregate (frame spec) ------------------------
    QueryDef("q_window_running", (s, dir) => {
      val w = Window
        .partitionBy("l_suppkey")
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "lineitem")
        .select(
          col("l_suppkey"),
          col("l_orderkey"),
          col("l_linenumber"),
          // l_quantity is integral (1..50): a long accumulator is exact
          // and far cheaper per row than the decimal path (which is only
          // needed for fractional doubles — see q_stouffer_z).
          sum(col("l_quantity").cast("long")).over(w).cast("double").as("running_qty"),
        )
    }, oracleSql =
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |  CAST(sum(CAST(l_quantity AS BIGINT))
        |    OVER (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_qty
        |FROM lineitem""".stripMargin),

    // --- U1: schema-tolerant unionByName over heterogeneous branches --
    QueryDef("q_union_byname", (s, dir) => {
      val a = t(s, dir, "orders")
        .select(col("o_custkey").as("custkey"), col("o_totalprice").as("amount"), lit("order").as("src"))
      val b = t(s, dir, "customer")
        .select(col("c_custkey").as("custkey"), col("c_acctbal").as("balance"), lit("customer").as("src"))
      Union
        .unionByNameAll(Seq(a, b), allowMissingColumns = true)
        .groupBy("src")
        .agg(count(lit(1)).as("n"), dsum(col("amount")).as("sum_amount"), dsum(col("balance")).as("sum_balance"))
    }, oracleSql =
      """WITH u AS (
        |  SELECT o_custkey AS custkey, o_totalprice AS amount, 'order' AS src FROM orders
        |  UNION ALL BY NAME
        |  SELECT c_custkey AS custkey, c_acctbal AS balance, 'customer' AS src FROM customer
        |)
        |SELECT src, count(*) AS n,
        |  CAST(sum(CAST(amount AS DECIMAL(24,6))) AS DOUBLE) AS sum_amount,
        |  CAST(sum(CAST(balance AS DECIMAL(24,6))) AS DOUBLE) AS sum_balance
        |FROM u GROUP BY src""".stripMargin),

    // --- U2: positional union (identical schemas) ---------------------
    QueryDef("q_union_positional", (s, dir) => {
      val hi = t(s, dir, "orders").filter(col("o_totalprice") > 300000.0)
        .select(col("o_orderkey"), lit("high").as("bucket"))
      val lo = t(s, dir, "orders").filter(col("o_totalprice") < 10000.0)
        .select(col("o_orderkey"), lit("low").as("bucket"))
      Union.unionAll(Seq(hi, lo))
    }, oracleSql =
      """SELECT o_orderkey, 'high' AS bucket FROM orders WHERE o_totalprice > 300000.0
        |UNION ALL
        |SELECT o_orderkey, 'low' AS bucket FROM orders WHERE o_totalprice < 10000.0""".stripMargin),

    // --- R1: explode(split(...)) — multi-valued cell to rows ----------
    QueryDef("q_explode_split", (s, dir) => {
      t(s, dir, "part")
        .select(explode(split(col("p_name"), " ")).as("word"))
        .filter(col("word") =!= "")
        .groupBy("word")
        .agg(count(lit(1)).as("n"))
    }, oracleSql =
      """SELECT word, count(*) AS n FROM (
        |  SELECT unnest(string_split(p_name, ' ')) AS word FROM part)
        |WHERE word <> '' GROUP BY word""".stripMargin),

    // --- R3: unpivot/melt (via core.Reshape, single Expand node) ------
    QueryDef("q_unpivot", (s, dir) => {
      Reshape.melt(
        t(s, dir, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount"),
        idCols = Seq("l_orderkey", "l_linenumber"),
        varName = "metric",
        valName = "value",
      )
    }, oracleSql =
      """SELECT l_orderkey, l_linenumber, metric, value
        |FROM (SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount FROM lineitem)
        |UNPIVOT (value FOR metric IN (l_quantity, l_extendedprice, l_discount))""".stripMargin),

    // --- R8: literal map lookup as column expression ------------------
    QueryDef("q_map_lookup", (s, dir) => {
      val statusMap = map(
        lit("O"), lit("open"),
        lit("F"), lit("finished"),
        lit("P"), lit("pending"),
      )
      t(s, dir, "orders")
        .select(coalesce(element_at(statusMap, col("o_orderstatus")), lit("unknown")).as("status"))
        .groupBy("status")
        .agg(count(lit(1)).as("n"))
    }, oracleSql =
      """SELECT CASE o_orderstatus WHEN 'O' THEN 'open' WHEN 'F' THEN 'finished'
        |  WHEN 'P' THEN 'pending' ELSE 'unknown' END AS status, count(*) AS n
        |FROM orders GROUP BY 1""".stripMargin),

    // --- R6/R7: higher-order array functions over collected arrays ----
    QueryDef("q_higher_order", (s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(sort_array(collect_list(round(col("l_extendedprice"), 2))).as("prices"))
        .select(
          col("l_orderkey"),
          size(col("prices")).as("n_items"),
          // Exact decimal arithmetic end-to-end: a double multiply+round
          // is nondeterministic across engines at .xx5 boundaries.
          aggregate(
            transform(col("prices"), p =>
              (p.cast("decimal(24,2)") * lit(new java.math.BigDecimal("0.9"))).cast("decimal(38,6)")),
            lit(java.math.BigDecimal.ZERO).cast("decimal(38,6)"),
            (acc, x) => acc + x,
          ).cast("double").as("discounted_total"),
          element_at(col("prices"), -1).as("max_price"),
        )
    }, oracleSql =
      """WITH arr AS (
        |  SELECT l_orderkey, list_sort(list(round(l_extendedprice, 2))) AS prices
        |  FROM lineitem GROUP BY l_orderkey)
        |SELECT l_orderkey, len(prices) AS n_items,
        |  CAST(list_sum(list_transform(prices,
        |    p -> CAST(CAST(p AS DECIMAL(24,2)) * CAST(0.9 AS DECIMAL(2,1)) AS DECIMAL(38,6)))) AS DOUBLE) AS discounted_total,
        |  prices[-1] AS max_price
        |FROM arr""".stripMargin),

    // --- §2.9 math: the p-value mantissa/exponent motif (core.Stats) --
    QueryDef("q_pvalue_motif", (s, dir) => {
      // +0.123 keeps the mantissa's digit tail off exact round-half ties
      // (engine round implementations disagree only at .xxx5 boundaries).
      val p = (col("o_totalprice") + lit(0.123)) / lit(1.0e9)
      t(s, dir, "orders")
        .select(
          col("o_orderkey"),
          Stats.pValueExponent(p).as("p_exp"),
          Stats.pValueMantissa(p).as("p_mantissa"),
        )
    }, oracleSql =
      """SELECT o_orderkey,
        |  CAST(trunc(log10((o_totalprice + 0.123) / 1e9)) AS INT) - 1 AS p_exp,
        |  round(((o_totalprice + 0.123) / 1e9) / pow(10, CAST(trunc(log10((o_totalprice + 0.123) / 1e9)) AS INT) - 1), 3) AS p_mantissa
        |FROM orders""".stripMargin),

    // --- A4: global-min repair of zero values (in-plan, no action) ----
    QueryDef("q_zero_repair", (s, dir) => {
      Stats
        .repairZeroPValues(
          t(s, dir, "lineitem").select(col("l_orderkey"), col("l_linenumber"), col("l_discount")),
          "l_discount",
        )
        .select(col("l_orderkey"), col("l_linenumber"), round(col("l_discount"), 6).as("discount_repaired"))
    }, oracleSql =
      """SELECT l_orderkey, l_linenumber,
        |  round(CASE WHEN l_discount = 0
        |    THEN (SELECT min(l_discount) FROM lineitem WHERE l_discount > 0)
        |    ELSE l_discount END, 6) AS discount_repaired
        |FROM lineitem""".stripMargin),

    // --- when/otherwise + coalesce + nullif conditional routing -------
    QueryDef("q_case_route", (s, dir) => {
      t(s, dir, "orders")
        .select(
          col("o_orderkey"),
          when(col("o_orderstatus") === "O",
            round(col("o_totalprice").cast("decimal(24,2)") * lit(new java.math.BigDecimal("1.1")), 2))
            .when(col("o_orderstatus") === "F",
              round(col("o_totalprice").cast("decimal(24,2)") * lit(new java.math.BigDecimal("0.9")), 2))
            .otherwise(lit(null))
            .cast("double")
            .as("adjusted"),
          coalesce(Cleanup.emptyToNull(col("o_orderpriority")), lit("NONE")).as("priority"),
        )
    }, oracleSql =
      """SELECT o_orderkey,
        |  CAST(CASE WHEN o_orderstatus = 'O' THEN round(CAST(o_totalprice AS DECIMAL(24,2)) * CAST(1.1 AS DECIMAL(2,1)), 2)
        |            WHEN o_orderstatus = 'F' THEN round(CAST(o_totalprice AS DECIMAL(24,2)) * CAST(0.9 AS DECIMAL(2,1)), 2) END AS DOUBLE) AS adjusted,
        |  coalesce(CASE WHEN trim(o_orderpriority) <> '' THEN o_orderpriority END, 'NONE') AS priority
        |FROM orders""".stripMargin),

    // --- §2.9 regex + JSON extraction over semi-structured props ------
    QueryDef("q_regex_extract", (s, dir) => {
      t(s, dir, "events")
        .filter(col("event_type").rlike("^(click|view|signup)$"))
        .select(
          col("event_id"),
          col("event_type"),
          regexp_extract(col("props"), "\"k\":\\s*(\\d+)", 1).cast("int").as("k_val"),
        )
    }, oracleSql =
      """SELECT event_id, event_type,
        |  CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS INT) AS k_val
        |FROM events WHERE regexp_matches(event_type, '^(click|view|signup)$')""".stripMargin),

    // --- date/time bucketing ------------------------------------------
    QueryDef("q_date_bucket", (s, dir) => {
      t(s, dir, "orders")
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("volume"))
    }, oracleSql =
      """SELECT strftime(o_orderdate, '%Y-%m') AS month, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(24,6))) AS DOUBLE) AS volume
        |FROM orders GROUP BY 1""".stripMargin),

    // --- regex rulebook fold (PanelApp.py:18-56 pattern) --------------
    QueryDef("q_regex_rulebook", (s, dir) => {
      val rules = Seq(
        "^(\\d)-" -> "P$1 ",           // priority digit to tag
        "URGENT" -> "RUSH",            // vocabulary normalization
        "\\s+$" -> "",                 // trailing whitespace scrub
      )
      Cleanup
        .applyRegexRules(
          t(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority").as("prio")),
          "prio", rules)
        .groupBy("prio")
        .agg(count(lit(1)).as("n"))
    }, oracleSql =
      """SELECT regexp_replace(regexp_replace(regexp_replace(o_orderpriority,
        |    '^(\d)-', 'P\1 ', 'g'), 'URGENT', 'RUSH', 'g'), '\s+$', '', 'g') AS prio,
        |  count(*) AS n
        |FROM orders GROUP BY 1""".stripMargin),

    // --- string cleanup library (translate/trim/concat_ws/lower) ------
    QueryDef("q_string_clean", (s, dir) => {
      t(s, dir, "customer")
        .select(
          col("c_custkey"),
          concat_ws(":", lower(translate(col("c_name"), "#", "_")), col("c_mktsegment")).as("ckey"),
          length(col("c_name")).as("name_len"),
        )
    }, oracleSql =
      """SELECT c_custkey,
        |  concat_ws(':', lower(replace(c_name, '#', '_')), c_mktsegment) AS ckey,
        |  length(c_name) AS name_len
        |FROM customer""".stripMargin),

    // --- P10: distinct ------------------------------------------------
    QueryDef("q_distinct", (s, dir) => {
      t(s, dir, "lineitem").select("l_returnflag", "l_linestatus").distinct()
    }, oracleSql =
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem"),

    // --- beyond-reference: exact dedup (hash-groupBy, core.Dedup) -----
    QueryDef("q_dedup_exact", (s, dir) => {
      val docs = t(s, dir, "documents")
      docs
        .select(TextAnalysis.fingerprintMd5(col("text")).as("fp"), col("doc_id"))
        .groupBy("fp")
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
    }, oracleSql =
      """SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp,
        |  min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin),

    // --- beyond-reference: document fingerprinting --------------------
    QueryDef("q_fingerprint", (s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.fingerprintMd5(col("text")).as("fp"), col("n_chars"))
    }, oracleSql =
      """SELECT doc_id, md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp, n_chars
        |FROM documents""".stripMargin),

    // --- beyond-reference: token counting (one-pass TextStats kernel;
    //     HOF formulation in graft.text equivalence-tested) ------------
    QueryDef("q_token_count", (s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.GraftFunctions.textStats(col("text")).getField("n_tokens").as("n_tokens"))
    }, oracleSql =
      """SELECT doc_id,
        |  CASE WHEN trim(text) = '' OR text IS NULL THEN 0
        |       ELSE len(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) END AS n_tokens
        |FROM documents""".stripMargin),

    // --- beyond-reference: quality scoring ----------------------------
    QueryDef("q_text_quality", (s, dir) => {
      val st = graft.functions.GraftFunctions.textStats(col("text"))
      t(s, dir, "documents")
        .select(col("doc_id"), st.as("s"))
        .select(
          col("doc_id"),
          col("s.n_chars").as("n_chars"),
          col("s.n_tokens").as("n_tokens"),
          when(col("s.n_tokens") > 0,
            round(col("s.n_chars_no_ws").cast("double") / col("s.n_tokens"), 4)).as("mean_token_len"),
          when(col("s.n_tokens") > 0,
            round(col("s.h_en").cast("double") / col("s.n_tokens"), 4)).as("stopword_ratio"),
        )
    }, oracleSql =
      """WITH base AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents)
        |SELECT doc_id, length(text) AS n_chars, len(toks) AS n_tokens,
        |  CASE WHEN len(toks) > 0
        |    THEN round(CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE) / len(toks), 4) END AS mean_token_len,
        |  CASE WHEN len(toks) > 0
        |    THEN round(CAST(len(list_filter(list_transform(toks, x -> lower(x)),
        |      x -> list_contains(['the','and','of','to','in','is','that','for','with','a'], x))) AS DOUBLE) / len(toks), 4) END AS stopword_ratio
        |FROM base""".stripMargin),

    // --- beyond-reference: char-distribution entropy quality signal ---
    // One-pass codegen'd kernel (CharEntropy): per-code-point Shannon
    // entropy in nats — near-zero flags repeated-filler docs, ~4+ on
    // ASCII flags random bytes. Scan-side projection, zero shuffles;
    // determinism contract in CharEntropyImpl (per-term decimal(28,12)
    // quantization ≡ the DuckDB oracle's CAST, order-free exact sum).
    QueryDef("q_char_entropy", (s, dir) => {
      val ce = graft.functions.GraftFunctions.charEntropy(col("text"))
      t(s, dir, "documents")
        .select(col("doc_id"), ce.as("ce"))
        .select(
          col("doc_id"),
          col("ce.n_chars").as("n_chars"),
          col("ce.n_distinct").as("n_distinct"),
          col("ce.ent_nats").as("ent_nats"),
          (col("ce.ent_nats") < 2.0).as("low_entropy"),
        )
    },
      // Empty/whitespace-free docs yield no unnest rows, so the per-doc
      // entropy LEFT JOINs back onto documents with coalesce-to-zero —
      // the Spark kernel emits (0, 0, 0.0) for them, never drops the row.
      // (Corpus is ASCII; for combining/astral chars DuckDB string_split
      // and per-code-point counting could diverge — contract is BMP-safe.)
      oracleSql =
      """WITH chars AS (
        |  SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents
        |), counts AS (
        |  SELECT doc_id, ch, count(*) AS c FROM chars GROUP BY doc_id, ch
        |), spread AS (
        |  SELECT doc_id, c, sum(c) OVER (PARTITION BY doc_id) AS n FROM counts
        |), ent AS (
        |  SELECT doc_id,
        |    CAST(max(n) AS INT) AS n_chars,
        |    CAST(count(*) AS INT) AS n_distinct,
        |    CAST(-sum(CAST((c / n) * ln(c / n) AS DECIMAL(28,12))) AS DOUBLE) AS ent_nats
        |  FROM spread GROUP BY doc_id
        |)
        |SELECT d.doc_id,
        |  coalesce(e.n_chars, 0) AS n_chars,
        |  coalesce(e.n_distinct, 0) AS n_distinct,
        |  coalesce(e.ent_nats, 0.0) AS ent_nats,
        |  coalesce(e.ent_nats, 0.0) < 2.0 AS low_entropy
        |FROM documents d LEFT JOIN ent e USING (doc_id)""".stripMargin),

    // --- beyond-reference: DEFLATE-compressibility quality signal -----
    // CCNet/Dolma-style gzip-compressibility filter (boilerplate and
    // filler compress far better than natural text; random bytes don't
    // compress). The deflate byte count depends on the JDK's zlib, so
    // the oracle is the contract form: exact n_bytes hash-compare plus
    // per-row envelope booleans DuckDB expects TRUE (the q_approx_stats
    // pattern); golden relative ordering is pinned in FunctionsSpec.
    QueryDef("q_compress_ratio", (s, dir) => {
      val ds = graft.functions.GraftFunctions.deflateStats(col("text"))
      t(s, dir, "documents")
        .select(col("doc_id"), ds.as("ds"))
        .select(
          col("doc_id"),
          col("ds.n_bytes").as("n_bytes"),
          // Small docs get the same escape as compresses_when_sizable:
          // deflate's ~5-byte block overhead pushes tiny inputs past the
          // 1.1 ceiling, and an empty doc has ratio 0.0 — both are
          // fine, not envelope violations.
          (col("ds.n_bytes") < lit(64) ||
            (col("ds.ratio") > 0.0 && col("ds.ratio") <= 1.1)).as("ratio_in_envelope"),
          (col("ds.deflate_bytes") < col("ds.n_bytes") || col("ds.n_bytes") < lit(64))
            .as("compresses_when_sizable"),
        )
    }, oracleSql =
      """SELECT doc_id, CAST(strlen(text) AS INT) AS n_bytes,
        |  TRUE AS ratio_in_envelope, TRUE AS compresses_when_sizable
        |FROM documents""".stripMargin),

    // --- beyond-reference: Gopher-style repetition signals -------------
    // Intra-document repetition filters (Rae et al. 2021 "Gopher"
    // MassiveText rules, reused by RefinedWeb/FineWeb): the char share of
    // the single most frequent word 2-gram and the duplicate fraction of
    // word 5-grams. Shingles from the codegen'd WordShingles kernel;
    // each signal is one explode + doc-keyed aggregation — no cross-doc
    // shuffle, a map-side pipeline at corpus scale. Ratios are single
    // divisions of exact integers (bit-stable across engines); the top
    // 2-gram tie-breaks on (count, gram) descending via max(struct).
    QueryDef("q_repetition", (s, dir) => {
      // TextAnalysis.tokens, not a raw split: leading whitespace must not
      // mint an empty token (the oracle trims + filters). Checkpointed —
      // three consumers (top2, dup5, the id spine) would otherwise each
      // re-run the scan + both shingle kernels.
      val toks = graft.text.TextAnalysis.tokens(col("text"))
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), length(col("text")).as("n_chars"),
          graft.functions.GraftFunctions.wordShingles(toks, 2).as("g2"),
          graft.functions.GraftFunctions.wordShingles(toks, 5).as("g5"))
        .localCheckpoint(eager = false)
      val top2 = docs.select(col("doc_id"), col("n_chars"), explode(col("g2")).as("g"))
        .groupBy("doc_id", "n_chars", "g").agg(count(lit(1)).as("cnt"))
        .groupBy("doc_id", "n_chars")
        .agg(max(struct(col("cnt"), col("g"))).as("top"))
        .select(col("doc_id"), col("top.g").as("top2_gram"),
          ((col("top.cnt") * length(col("top.g"))).cast("double")
            / col("n_chars").cast("double")).as("top2_share"))
      val dup5 = docs.select(col("doc_id"), explode(col("g5")).as("g"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n5"), countDistinct(col("g")).as("d5"))
        .select(col("doc_id"),
          ((col("n5") - col("d5")).cast("double") / col("n5").cast("double")).as("dup5_frac"))
      docs.select("doc_id")
        .join(top2, Seq("doc_id"), "left")
        .join(dup5, Seq("doc_id"), "left")
    }, oracleSql =
      """WITH base AS (
        |  SELECT doc_id, length(text) AS n_chars,
        |    list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |g2 AS (
        |  SELECT doc_id, n_chars, toks[i] || ' ' || toks[i+1] AS g
        |  FROM base, unnest(range(1, len(toks))) AS r(i)
        |  WHERE len(toks) >= 2),
        |top2 AS (
        |  SELECT doc_id, g AS top2_gram,
        |    CAST(cnt * length(g) AS DOUBLE) / CAST(n_chars AS DOUBLE) AS top2_share
        |  FROM (SELECT doc_id, n_chars, g, count(*) AS cnt,
        |          row_number() OVER (PARTITION BY doc_id ORDER BY count(*) DESC, g DESC) AS rn
        |        FROM g2 GROUP BY doc_id, n_chars, g)
        |  WHERE rn = 1),
        |g5 AS (
        |  SELECT doc_id,
        |    toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4] AS g
        |  FROM base, unnest(range(1, len(toks) - 3)) AS r(i)
        |  WHERE len(toks) >= 5),
        |dup5 AS (
        |  SELECT doc_id,
        |    CAST(count(*) - count(DISTINCT g) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS dup5_frac
        |  FROM g5 GROUP BY doc_id)
        |SELECT b.doc_id, t.top2_gram, t.top2_share, d.dup5_frac
        |FROM base b
        |LEFT JOIN top2 t USING (doc_id)
        |LEFT JOIN dup5 d USING (doc_id)""".stripMargin),

    // --- beyond-reference: language ID (stopword heuristic) -----------
    QueryDef("q_lang_id", (s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.GraftFunctions.textStats(col("text")).getField("lang_pred").as("lang_pred"))
    }, oracleSql =
      """WITH scored AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |hits AS (
        |  SELECT doc_id,
        |    len(list_filter(toks, x -> list_contains(['the','and','of','to','in','is','that','for','with','a'], x))) AS h_en,
        |    len(list_filter(toks, x -> list_contains(['el','la','de','que','y','en','los','del','se','un'], x))) AS h_es,
        |    len(list_filter(toks, x -> list_contains(['der','die','und','das','von','zu','mit','den','ist','ein'], x))) AS h_de,
        |    len(list_filter(toks, x -> list_contains(['le','la','de','et','les','des','un','une','du','est'], x))) AS h_fr
        |  FROM scored)
        |SELECT doc_id,
        |  CASE WHEN greatest(h_en, h_es, h_de, h_fr) = 0 THEN 'und'
        |       WHEN h_fr = greatest(h_en, h_es, h_de, h_fr) THEN 'fr'
        |       WHEN h_es = greatest(h_en, h_es, h_de, h_fr) THEN 'es'
        |       WHEN h_en = greatest(h_en, h_es, h_de, h_fr) THEN 'en'
        |       ELSE 'de' END AS lang_pred
        |FROM hits""".stripMargin),

    // --- beyond-reference: n-gram Jaccard near-dup (LSH recall≈1 cfg) -
    // doc_id%2 / J≥0.7 keeps the verified pair set non-empty at every
    // SF (12 pairs at sf0.001, 6 at sf0.01); single-hash bands put the
    // LSH miss probability at (1-J)^12 ≤ 0.3^12 ≈ 5e-7 for J≥0.7, so
    // the candidate stage is exhaustive w.r.t. the oracle's all-pairs.
    QueryDef("q_neardup_jaccard", (s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") % 2 === 0)
      val cands = NearDup.minhashCandidates(
        docs, "doc_id", "text",
        shingleLen = 3, numHashes = 12, bands = 12, maxBucket = 10000,
      )
      NearDup.jaccardVerify(cands, docs, "doc_id", "text", shingleLen = 3, minJaccard = 0.7)
    }, oracleSql =
      jaccardPairsSql("documents WHERE doc_id % 2 = 0", minJaccard = 0.7, extraCols = Nil)),

    // --- beyond-reference: SimHash near-dup (CONTRACT oracle) ---------
    // Row set = exact-Jaccard ≥ 0.7 pairs (DuckDB all-pairs reproducible;
    // LSH recall ≈ 1 at 12 single-hash bands); the xxhash64 SimHash
    // fingerprint — inexpressible in SQL — is certified by the
    // hamming ≤ 28 envelope boolean the oracle expects TRUE (≥ 6σ;
    // NearDup.simhashContract scaladoc). Kernel bit-semantics remain
    // golden-tested in FunctionsSpec.
    QueryDef("q_neardup_simhash", (s, dir) => {
      NearDup.simhashContract(t(s, dir, "documents"), "doc_id", "text")
    },
      // SimHash contract: same all-pairs row set at >= 0.7; the 64-bit
      // fingerprint is certified by the hamming <= 28 envelope boolean.
      oracleSql =
      jaccardPairsSql("documents", minJaccard = 0.7, extraCols = Seq("TRUE AS sh_within_envelope"))),

    // --- beyond-reference: MinHash near-dup (CONTRACT oracle) ---------
    // Same contract pattern: exact-Jaccard ≥ 0.8 row set, MinHash
    // estimate certified by |est − jaccard| ≤ 0.4 (≥ 4.8σ at k=12).
    QueryDef("q_neardup_minhash", (s, dir) => {
      NearDup.minhashContract(t(s, dir, "documents"), "doc_id", "text")
    },
      // MinHash contract: the exact-Jaccard row set is all-pairs
      // reproducible; the xxhash64 MinHash estimate arrives as an envelope
      // boolean DuckDB expects TRUE (NearDup.minhashContract scaladoc).
      oracleSql =
      jaccardPairsSql("documents", minJaccard = 0.8, extraCols = Seq("TRUE AS mh_within_envelope"))),

    // --- beyond-reference: near-dup CLUSTERS (pairs → components) -----
    // Duplicate groups are transitive; connected components over the
    // verified pairs turn candidate edges into dedup clusters (label =
    // min doc_id per component). LSH here is a deterministic function of
    // the data (fixed xxhash64 seeds), so the edge set — and thus the
    // clustering — is reproducible and oracle-checkable.
    QueryDef("q_dedup_clusters", (s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = NearDup.jaccardVerify(
        NearDup.minhashCandidates(docs, "doc_id", "text",
          shingleLen = 3, numHashes = 16, bands = 16, maxBucket = 10000),
        docs, "doc_id", "text", shingleLen = 3, minJaccard = 0.5)
      // Oracle-equality assumption (data-dependent): 16 single-hash
      // bands surface every pair the oracle's exact all-pairs Jaccard
      // finds — a J = 0.5 pair (the worst case at this threshold)
      // escapes all bands with prob 0.5¹⁶ ≈ 1.5e-5, and jaccardVerify
      // removes any false positives. (Raised from 12 bands in r9: at 12
      // the borderline-pair miss odds were ~2.4e-4 — a real flip risk
      // across per-round testdata regeneration.)
      // Adaptive CC: the verified pair list is tiny relative to the corpus
      // (256 edges at sf0.1), so this routes to the driver union-find
      // (exact); past ~2M edges it falls back to convergent distributed
      // propagation. Min doc_id per component either way.
      NearDup.connectedComponentsAdaptive(pairs, "doc_id_a", "doc_id_b")
        .select(col("id").as("doc_id"), col("label").as("cluster"))
    }, oracleSql =
      dedupClustersSql),

    // --- beyond-reference: dedup CLUSTERS under ingest ------------------
    // Incremental components: the base corpus's clusters collapse to a
    // standing (id, label) table — the sufficient state, stars per
    // component — and the batch contributes only its verified
    // batch-involving pairs (incrementalCandidates: old×old never
    // re-paired). CC over labels ∪ new edges is bit-equal to a full
    // recompute (star compression preserves connectivity; GraphSpec
    // pins it), so the oracle is the SAME full-corpus recursive-CTE
    // closure as q_dedup_clusters. Same recall≈1 LSH assumption,
    // documented there.
    QueryDef("q_dedup_clusters_incremental", (s, dir) => {
      val docs = t(s, dir, "documents")
      val base = docs.filter(col("doc_id") % 10 =!= 0)
      val batch = docs.filter(col("doc_id") % 10 === 0)
      // r15: the base corpus feeds TWO candidate generators (its own
      // clusters + the incremental old side) — ONE checkpointed
      // signature pass instead of two full tokenize+minhash corpus
      // scans (signature values identical, so candidates are identical).
      val baseSigs = NearDup.minhashSignatures(base, "doc_id", "text",
        shingleLen = 3, numHashes = 16).localCheckpoint(false)
      val baseLabels = NearDup.connectedComponentsAdaptive(
        NearDup.jaccardVerify(
          NearDup.minhashCandidatesFromSigs(baseSigs, "doc_id",
            numHashes = 16, bands = 16, maxBucket = 10000),
          base, "doc_id", "text", shingleLen = 3, minJaccard = 0.5),
        "doc_id_a", "doc_id_b")
      val newPairs = NearDup.jaccardVerify(
        NearDup.incrementalCandidatesFromSigs(
          NearDup.minhashSignatures(batch, "doc_id", "text",
            shingleLen = 3, numHashes = 16),
          baseSigs, "doc_id", numHashes = 16, bands = 16, maxBucket = 10000),
        docs, "doc_id", "text", shingleLen = 3, minJaccard = 0.5)
      NearDup.incrementalComponents(baseLabels, newPairs, "doc_id_a", "doc_id_b")
        .select(col("id").as("doc_id"), col("label").as("cluster"))
    },
      // Incremental clusters: bit-equal to the full recompute (star
      // compression), so the oracle IS the full-corpus closure.
      oracleSql =
      dedupClustersSql),

    // --- J4: right outer join -----------------------------------------
    QueryDef("q_join_right", (s, dir) => {
      val li = t(s, dir, "lineitem").filter(col("l_quantity") >= 48)
      val supp = t(s, dir, "supplier")
      li.join(supp, li("l_suppkey") === supp("s_suppkey"), "right")
        .groupBy("s_suppkey", "s_name")
        .agg(count(col("l_orderkey")).as("n_big_lines"))
    }, oracleSql =
      """SELECT s_suppkey, s_name, count(l_orderkey) AS n_big_lines
        |FROM (SELECT * FROM lineitem WHERE l_quantity >= 48) li
        |RIGHT JOIN supplier ON li.l_suppkey = s_suppkey
        |GROUP BY s_suppkey, s_name""".stripMargin),

    // --- R2: explode_outer keeps parents with null/empty arrays -------
    QueryDef("q_explode_outer", (s, dir) => {
      t(s, dir, "orders")
        .select(
          col("o_orderkey"),
          explode_outer(when(col("o_orderstatus") =!= "P", split(col("o_orderpriority"), "-"))).as("part"),
        )
    }, oracleSql =
      """SELECT o_orderkey, u.part FROM orders
        |LEFT JOIN LATERAL (
        |  SELECT unnest(CASE WHEN o_orderstatus <> 'P'
        |                     THEN string_split(o_orderpriority, '-') END) AS part
        |) u ON TRUE""".stripMargin),

    // --- beyond-reference: embedding-cosine near-dup pairs ------------
    // Fixed-size subset (vec_id < 1000): the brute-force O(n²) tier is the
    // correctness baseline; the corpus-scale path is q_ann_lsh's bucketing.
    QueryDef("q_embed_neardup", (s, dir) => {
      val emb = t(s, dir, "embeddings").filter(col("vec_id") < 1000)
      val a = emb.select(col("vec_id").as("vec_id_a"), col("embedding").as("emb_a"))
      val b = emb.select(col("vec_id").as("vec_id_b"), col("embedding").as("emb_b"))
      a.join(b, col("vec_id_a") < col("vec_id_b"))
        .select(
          col("vec_id_a"), col("vec_id_b"),
          graft.functions.GraftFunctions.cosineSim(col("emb_a"), col("emb_b")).as("sim"),
        )
        // Quantized threshold decision (see q_semdedup): a pair an ulp
        // from tau must not flip membership between engines.
        .filter(col("sim").cast("decimal(28,12)") >= lit(new java.math.BigDecimal("0.35")))
        .select(col("vec_id_a"), col("vec_id_b"), round(col("sim"), 6).as("sim"))
    }, oracleSql =
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id < 1000)
        |SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
        |  round(list_cosine_similarity(a.v, b.v), 6) AS sim
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE CAST(list_cosine_similarity(a.v, b.v) AS DECIMAL(28,12)) >= 0.35""".stripMargin),

    // --- A1 signature op: collect rows into sorted array<struct> ------
    // The array<struct> aggregation is the operator under test; the final
    // projection flattens it to scalar columns (count + canonical string)
    // because the driver's comparator hashes pandas frames, which cannot
    // sort/hash raw array cells.
    QueryDef("q_collect_struct", (s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(sort_array(collect_list(struct(
          col("l_linenumber").as("ln"),
          col("l_quantity").cast("int").as("qty")))).as("items"))
        .select(
          col("l_orderkey"),
          size(col("items")).as("n_items"),
          array_join(
            transform(col("items"), x => concat_ws(":", x.getField("ln"), x.getField("qty"))),
            "|").as("items_s"),
        )
    }, oracleSql =
      """SELECT l_orderkey, count(*) AS n_items,
        |  string_agg(l_linenumber || ':' || CAST(l_quantity AS INT), '|'
        |             ORDER BY l_linenumber, l_quantity) AS items_s
        |FROM lineitem GROUP BY l_orderkey""".stripMargin),

    // --- A1 two-level nesting (Essentiality.py:149-182 pattern) -------
    // Same flatten-at-the-edge rationale as q_collect_struct.
    // Partition-once: hash-partitioning on the OUTER key satisfies the
    // clustered distribution of both groupBys ((ok,sk) ⊆ cluster-by ok),
    // so the two-level nesting runs with ONE exchange of raw rows instead
    // of two exchanges of collect_list buffers — the pattern to use for
    // multi-level re-aggregation at 100 TB.
    QueryDef("q_collect_nested", (s, dir) => {
      t(s, dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_linenumber")
        .repartition(col("l_orderkey"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(sort_array(collect_list(col("l_linenumber"))).as("lns"))
        .groupBy("l_orderkey")
        .agg(sort_array(collect_list(struct(col("l_suppkey").as("sk"), col("lns")))).as("supps"))
        .select(
          col("l_orderkey"),
          size(col("supps")).as("n_supps"),
          array_join(
            transform(col("supps"), x =>
              concat(
                x.getField("sk").cast("string"), lit(":"),
                array_join(transform(x.getField("lns"), e => e.cast("string")), ","))),
            "|").as("supps_s"),
        )
    }, oracleSql =
      """WITH inner_g AS (
        |  SELECT l_orderkey, l_suppkey,
        |    string_agg(CAST(l_linenumber AS VARCHAR), ',' ORDER BY l_linenumber) AS lns_s
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT l_orderkey, count(*) AS n_supps,
        |  string_agg(l_suppkey || ':' || lns_s, '|' ORDER BY l_suppkey) AS supps_s
        |FROM inner_g GROUP BY 1""".stripMargin),

    // --- §2.9 Gini coefficient via higher-order fns (core.Stats) ------
    QueryDef("q_gini", (s, dir) => {
      // One-pass Gini kernel (graft.functions.Gini); equivalent HOF
      // formulation lives in core.Stats (equivalence-tested).
      t(s, dir, "lineitem")
        .groupBy("l_suppkey")
        .agg(collect_list(col("l_quantity")).as("qs"))
        .select(col("l_suppkey"), round(graft.functions.GraftFunctions.gini(col("qs")), 6).as("gini"))
    }, oracleSql =
      """WITH g AS (
        |  SELECT l_suppkey, list_sort(list(l_quantity)) AS qs FROM lineitem GROUP BY 1)
        |SELECT l_suppkey,
        |  round(2.0 * list_dot_product(qs, list_transform(range(1, len(qs) + 1), i -> CAST(i AS DOUBLE)))
        |        / (CAST(len(qs) AS DOUBLE) * list_sum(qs))
        |        - (CAST(len(qs) AS DOUBLE) + 1.0) / CAST(len(qs) AS DOUBLE), 6) AS gini
        |FROM g""".stripMargin),

    // --- §2.9 HPA specificity/distribution classifiers (core.Stats) ---
    QueryDef("q_hpa_metrics", (s, dir) => {
      // One-pass custom expression (HpaClassify); the composable HOF
      // variant in core.Stats is semantically identical but O(n²)/row
      // interpreted — see graft.functions.HpaImpl.
      t(s, dir, "lineitem")
        .groupBy("l_suppkey")
        .agg(collect_list(col("l_quantity")).as("qs"))
        .select(
          col("l_suppkey"),
          graft.functions.GraftFunctions.hpaClassify(col("qs"), 1.0).getField("specificity").as("specificity"),
          graft.functions.GraftFunctions.hpaClassify(col("qs"), 1.0).getField("distribution").as("distribution"),
        )
    }, oracleSql =
      """WITH g AS (
        |  SELECT l_suppkey, list_sort(list(l_quantity)) AS qs FROM lineitem GROUP BY 1)
        |SELECT l_suppkey,
        |  CASE WHEN qs[-1] < 1.0 THEN 'Not detected'
        |       WHEN qs[-2] = 0 OR qs[-1]/qs[-2] >= 4.0 THEN 'Tissue enriched'
        |       WHEN (qs[-3] = 0 OR qs[-2]/qs[-3] >= 4.0) OR (qs[-4] = 0 OR qs[-3]/qs[-4] >= 4.0)
        |         OR (qs[-5] = 0 OR qs[-4]/qs[-5] >= 4.0) OR (qs[-6] = 0 OR qs[-5]/qs[-6] >= 4.0)
        |         THEN 'Group enriched'
        |       WHEN len(list_filter(qs, e -> e / (list_sum(qs)/len(qs)) >= 4.0)) BETWEEN 1 AND 5
        |         THEN 'Tissue enhanced'
        |       ELSE 'Low tissue specificity' END AS specificity,
        |  CASE WHEN qs[-1] < 1.0 THEN 'Not detected'
        |       WHEN len(list_filter(qs, e -> e > 1.0)) = 1 THEN 'Detected in single'
        |       WHEN len(list_filter(qs, e -> e > 1.0)) < CAST(len(qs) AS DOUBLE)/3 THEN 'Detected in some'
        |       WHEN len(list_filter(qs, e -> e > 1.0)) < len(qs) THEN 'Detected in many'
        |       ELSE 'Detected in all' END AS distribution
        |FROM g""".stripMargin),

    // --- R9: zip arrays with first-element padding (core.Reshape) -----
    QueryDef("q_zip_pad", (s, dir) => {
      t(s, dir, "lineitem")
        .select(
          col("l_orderkey"),
          col("l_linenumber"),
          explode(
            Reshape.zipWithPadStatic(
              Seq(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
              Seq(col("l_returnflag"), col("l_linestatus")),
            )
          ).as("z"),
        )
        .select(col("l_orderkey"), col("l_linenumber"), col("z.value").as("value"), col("z.type").as("type"))
    }, oracleSql =
      """SELECT l_orderkey, l_linenumber, l_quantity AS value, l_returnflag AS type FROM lineitem
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, l_extendedprice, l_linestatus FROM lineitem
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, l_discount, l_returnflag FROM lineitem""".stripMargin),

    // --- R10: delimited scalar → named struct fields ------------------
    QueryDef("q_split_struct", (s, dir) => {
      t(s, dir, "orders")
        .select(col("o_orderkey"), Reshape.splitToStruct(col("o_orderpriority"), "-", Seq("rank", "label")).as("pr"))
        .select(col("o_orderkey"), col("pr.rank").cast("int").as("rank"), col("pr.label").as("label"))
    }, oracleSql =
      """SELECT o_orderkey,
        |  CAST(string_split(o_orderpriority, '-')[1] AS INT) AS rank,
        |  string_split(o_orderpriority, '-')[2] AS label
        |FROM orders""".stripMargin),

    // --- R11: exact-match dictionary replace (core.Cleanup) -----------
    QueryDef("q_dict_replace", (s, dir) => {
      Cleanup
        .dictReplace(
          t(s, dir, "lineitem").select("l_returnflag", "l_linestatus"),
          Seq("l_returnflag"),
          Map("A" -> "accepted", "N" -> "none", "R" -> "returned"),
        )
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"))
    }, oracleSql =
      """SELECT CASE l_returnflag WHEN 'A' THEN 'accepted' WHEN 'N' THEN 'none'
        |  WHEN 'R' THEN 'returned' ELSE l_returnflag END AS l_returnflag,
        |  l_linestatus, count(*) AS n
        |FROM lineitem GROUP BY 1, 2""".stripMargin),

    // --- ordered top-k via sort+limit (TakeOrderedAndProject) ---------
    QueryDef("q_topk_limit", (s, dir) => {
      t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)
        .select("o_orderkey", "o_totalprice")
    }, oracleSql =
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin),

    // --- J7: aggregate-then-rejoin (TargetSafety.py:221-227 shape) ----
    QueryDef("q_agg_rejoin", (s, dir) => {
      val ord = t(s, dir, "orders")
      val custTotal = ord
        .groupBy("o_custkey")
        .agg(dsum(col("o_totalprice")).as("cust_total"))
      ord
        .join(custTotal, Seq("o_custkey"))
        .select(
          col("o_orderkey"),
          col("o_custkey"),
          round(col("o_totalprice") / col("cust_total"), 6).as("share"),
        )
    }, oracleSql =
      """WITH ct AS (
        |  SELECT o_custkey, CAST(sum(CAST(o_totalprice AS DECIMAL(24,6))) AS DOUBLE) AS cust_total
        |  FROM orders GROUP BY 1)
        |SELECT o_orderkey, orders.o_custkey, round(o_totalprice / cust_total, 6) AS share
        |FROM orders JOIN ct ON orders.o_custkey = ct.o_custkey""".stripMargin),

    // --- min-max renormalize to [0.5,1] (SystemsBiology.py:9-57) ------
    QueryDef("q_minmax_scale", (s, dir) => {
      val cust = t(s, dir, "customer")
      val bounds = cust.agg(min(col("c_acctbal")).as("__min"), max(col("c_acctbal")).as("__max"))
      cust
        .crossJoin(broadcast(bounds))
        .select(
          col("c_custkey"),
          round(Stats.minMaxScale(col("c_acctbal"), col("__min"), col("__max")), 6).as("scaled"),
        )
    }, oracleSql =
      """SELECT c_custkey,
        |  round(CASE WHEN (SELECT max(c_acctbal) FROM customer) <> (SELECT min(c_acctbal) FROM customer)
        |    THEN 0.5 + (c_acctbal - (SELECT min(c_acctbal) FROM customer))
        |         / ((SELECT max(c_acctbal) FROM customer) - (SELECT min(c_acctbal) FROM customer)) * 0.5
        |    ELSE 0.5 END, 6) AS scaled
        |FROM customer""".stripMargin),

    // --- Bonferroni threshold from an in-plan distinct count ----------
    // Synthetic p = discount²/10 spans 0 … 1e-3, straddling the α/n
    // cut at both SFs (2633/6000 rows at sf0.001, 8923/60000 at
    // sf0.01) — selective AND non-empty, so the hash check is real.
    QueryDef("q_bonferroni", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val nTests = broadcast(t(s, dir, "part").agg(countDistinct(col("p_partkey")).as("__n")))
      li.crossJoin(nTests)
        .filter(col("l_discount") * col("l_discount") / lit(10.0) < Stats.bonferroni(col("__n")))
        .select("l_orderkey", "l_linenumber", "l_discount")
    }, oracleSql =
      """SELECT l_orderkey, l_linenumber, l_discount FROM lineitem
        |WHERE l_discount * l_discount / 10.0 < 0.05 / (SELECT count(DISTINCT p_partkey) FROM part)""".stripMargin),

    // --- Stouffer combined z per group (encore_parser.py:246-255) -----
    QueryDef("q_stouffer_z", (s, dir) => {
      val z = (col("l_quantity") - lit(25.5)) / lit(14.4)
      t(s, dir, "lineitem")
        .groupBy("l_suppkey")
        .agg(
          sum(z.cast("decimal(38,18)")).cast("double").as("sum_z"),
          count(lit(1)).as("n"),
        )
        .select(
          col("l_suppkey"),
          round(Stats.stoufferZ(col("sum_z"), col("n")), 6).as("z_combined"),
        )
    }, oracleSql =
      """SELECT l_suppkey,
        |  round(CAST(sum(CAST((l_quantity - 25.5) / 14.4 AS DECIMAL(38,18))) AS DOUBLE)
        |        / sqrt(count(*)), 6) AS z_combined
        |FROM lineitem GROUP BY l_suppkey""".stripMargin),

    // --- erf-based two-sided p from z (CONTRACT oracle) ---------------
    // DuckDB has no erf, and commons-math3's continued-fraction erfc
    // cannot be replicated bit-exactly in SQL — so the oracle-matched
    // column is `p_approx`, the Abramowitz–Stegun 7.1.26 rational
    // polynomial evaluated as IDENTICAL plain arithmetic in both engines
    // (Stats.erfcAS7126), and the high-precision Erfc KERNEL is certified
    // by `p_ok` = |kernel − approx| ≤ 3e-7 (A&S publishes ≤ 1.5e-7 vs
    // true erfc; commons-math adds ~1e-15) — a mathematical identity in
    // z, so no data regeneration can flip it. Kernel precision beyond
    // the envelope stays golden-tested in FunctionsSpec.
    QueryDef("q_stouffer_p", (s, dir) => {
      val z = (col("l_quantity") - lit(25.5)) / lit(14.4)
      val zc = Stats.stoufferZ(col("sum_z"), col("n"))
      val x = abs(zc) / sqrt(lit(2.0))
      t(s, dir, "lineitem")
        .groupBy("l_suppkey")
        .agg(sum(z.cast("decimal(38,18)")).cast("double").as("sum_z"), count(lit(1)).as("n"))
        .select(
          col("l_suppkey"),
          round(zc, 6).as("z_combined"),
          round(Stats.erfcAS7126(x), 6).as("p_approx"),
          (abs(Stats.twoSidedPFromZ(zc) - Stats.erfcAS7126(x)) <= lit(3e-7)).as("p_ok"),
        )
    },
      // Stouffer-p contract: z and the A&S 7.1.26 rational polynomial are
      // IDENTICAL plain-arithmetic chains in both engines (hash-exact); the
      // commons-math Erfc kernel is certified by p_ok = TRUE.
      oracleSql =
      """WITH g AS (
        |  SELECT l_suppkey,
        |    CAST(sum(CAST((l_quantity - 25.5) / 14.4 AS DECIMAL(38,18))) AS DOUBLE)
        |      / sqrt(count(*)) AS zc
        |  FROM lineitem GROUP BY l_suppkey),
        |f AS (
        |  SELECT l_suppkey, zc, abs(zc) / sqrt(2.0) AS x,
        |    1.0 / (1.0 + 0.3275911 * (abs(zc) / sqrt(2.0))) AS tt
        |  FROM g)
        |SELECT l_suppkey, round(zc, 6) AS z_combined,
        |  round(tt * (0.254829592 + tt * (-0.284496736 + tt * (1.421413741 +
        |    tt * (-1.453152027 + tt * 1.061405429)))) * exp(-(x * x)), 6) AS p_approx,
        |  TRUE AS p_ok
        |FROM f""".stripMargin),

    // --- date arithmetic: datediff across a join ----------------------
    QueryDef("q_date_diff", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val ord = t(s, dir, "orders")
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .select(
          col("l_orderkey"),
          col("l_linenumber"),
          datediff(col("l_shipdate").cast("date"), col("o_orderdate").cast("date")).as("ship_days"),
        )
    }, oracleSql =
      """SELECT l_orderkey, l_linenumber,
        |  date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) AS ship_days
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey""".stripMargin),

    // --- batch sessionization: lag + cumulative gap-count windows -----
    QueryDef("q_sessionize", (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val gapNs = 30L * 60 * 1000000000L // 30 min in nanos (ts as epoch-ns long)
      t(s, dir, "events")
        .withColumn("ts", tsNs(col("ts")))
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("new_session",
          when(col("prev_ts").isNull || col("ts") - col("prev_ts") > gapNs, 1L).otherwise(0L))
        .withColumn("session_id", sum(col("new_session")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id")
        .agg(max(col("session_id")).as("n_sessions"), count(lit(1)).as("n_events"))
    }, oracleSql =
      """WITH base AS (
        |  SELECT user_id, event_id, epoch_ns(ts) AS tsn FROM events),
        |flagged AS (
        |  SELECT user_id, event_id, tsn,
        |    CASE WHEN lag(tsn) OVER (PARTITION BY user_id ORDER BY tsn, event_id) IS NULL
        |           OR tsn - lag(tsn) OVER (PARTITION BY user_id ORDER BY tsn, event_id) > 1800000000000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM base),
        |sess AS (
        |  SELECT user_id,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY tsn, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM flagged)
        |SELECT user_id, CAST(max(session_id) AS BIGINT) AS n_sessions, count(*) AS n_events
        |FROM sess GROUP BY user_id""".stripMargin),

    // --- beyond-reference: the pretraining filter funnel composed -----
    // lang-ID gate -> quality gate -> exact-dedup survivors, one pass.
    QueryDef("q_text_funnel", (s, dir) => {
      val st = graft.functions.GraftFunctions.textStats(col("text"))
      val scored = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), st.as("s"))
        .select(
          col("doc_id"),
          col("s.n_tokens").as("n_tokens"),
          when(col("s.n_tokens") > 0,
            round(col("s.n_chars_no_ws").cast("double") / col("s.n_tokens"), 4)).as("mean_token_len"),
          col("s.lang_pred").as("lang_pred"),
          TextAnalysis.fingerprintMd5(col("text")).as("fp"),
        )
      val survivors = scored
        .filter(col("lang_pred") =!= "und" && col("n_tokens") >= 10 && col("mean_token_len") >= 2.0)
      val keepers = survivors
        .groupBy("fp")
        .agg(min(col("doc_id")).as("doc_id"))
      survivors
        .join(keepers, Seq("fp", "doc_id"), "left_semi")
        .select("doc_id", "lang_pred", "n_tokens")
    }, oracleSql =
      """WITH scored AS (
        |  SELECT doc_id, text,
        |    md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp,
        |    list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |sig AS (
        |  SELECT doc_id, fp, len(toks) AS n_tokens,
        |    CASE WHEN len(toks) > 0
        |      THEN round(CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE) / len(toks), 4) END AS mean_token_len,
        |    len(list_filter(list_transform(toks, x -> lower(x)),
        |      x -> list_contains(['the','and','of','to','in','is','that','for','with','a'], x))) AS h_en,
        |    len(list_filter(list_transform(toks, x -> lower(x)),
        |      x -> list_contains(['el','la','de','que','y','en','los','del','se','un'], x))) AS h_es,
        |    len(list_filter(list_transform(toks, x -> lower(x)),
        |      x -> list_contains(['der','die','und','das','von','zu','mit','den','ist','ein'], x))) AS h_de,
        |    len(list_filter(list_transform(toks, x -> lower(x)),
        |      x -> list_contains(['le','la','de','et','les','des','un','une','du','est'], x))) AS h_fr
        |  FROM scored),
        |lang AS (
        |  SELECT *, CASE WHEN greatest(h_en, h_es, h_de, h_fr) = 0 THEN 'und'
        |       WHEN h_fr = greatest(h_en, h_es, h_de, h_fr) THEN 'fr'
        |       WHEN h_es = greatest(h_en, h_es, h_de, h_fr) THEN 'es'
        |       WHEN h_en = greatest(h_en, h_es, h_de, h_fr) THEN 'en'
        |       ELSE 'de' END AS lang_pred
        |  FROM sig),
        |survivors AS (
        |  SELECT * FROM lang
        |  WHERE lang_pred <> 'und' AND n_tokens >= 10 AND mean_token_len >= 2.0),
        |keepers AS (
        |  SELECT fp, min(doc_id) AS doc_id FROM survivors GROUP BY fp)
        |SELECT s.doc_id, s.lang_pred, s.n_tokens
        |FROM survivors s
        |WHERE EXISTS (SELECT 1 FROM keepers k WHERE k.fp = s.fp AND k.doc_id = s.doc_id)""".stripMargin),

    // --- beyond-reference: lexical kNN via inverted index -------------
    // Embedding-free top-k similar docs: TF-IDF cosine over word
    // 3-gram shingles, postings self-join bounded by the df cap (see
    // SparseSim scaladoc for the shuffle/fan-out budget). Every
    // cross-row double sum is decimal(28,12)-quantized → DuckDB oracle
    // is hash-exact.
    QueryDef("q_sparse_topk", (s, dir) => {
      val p = SparseSim.postings(
        t(s, dir, "documents"), idCol = "doc_id", textCol = "text",
        shingleLen = 3, dfCap = 100)
      SparseSim.topKNeighbors(p, k = 5)
    }, oracleSql =
      """WITH base AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |terms AS (
        |  SELECT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS term
        |  FROM base, unnest(range(1, len(toks) - 1)) AS r(i)
        |  WHERE len(toks) >= 3),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY doc_id, term),
        |dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |nd AS (SELECT count(*) AS n_docs FROM documents),
        |w AS (
        |  SELECT doc_id, term, tf * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)) AS w
        |  FROM tf JOIN dfx USING (term), nd
        |  WHERE df <= 100 AND df < n_docs),
        |norms AS (
        |  SELECT doc_id, sqrt(CAST(sum(CAST(w * w AS DECIMAL(28,12))) AS DOUBLE)) AS norm
        |  FROM w GROUP BY doc_id),
        |p AS (SELECT doc_id, term, w / norm AS u FROM w JOIN norms USING (doc_id)),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared,
        |    CAST(sum(CAST(a.u * b.u AS DECIMAL(28,12))) AS DOUBLE) AS cos
        |  FROM p a JOIN p b ON a.term = b.term AND a.doc_id < b.doc_id
        |  GROUP BY doc_a, doc_b),
        |sym AS (
        |  SELECT doc_a, doc_b, n_shared, cos FROM pairs
        |  UNION ALL
        |  SELECT doc_b, doc_a, n_shared, cos FROM pairs)
        |SELECT doc_a, doc_b, n_shared, cos, rn FROM (
        |  SELECT *, row_number() OVER (PARTITION BY doc_a ORDER BY cos DESC, doc_b ASC) AS rn
        |  FROM sym)
        |WHERE rn <= 5""".stripMargin),

    // --- beyond-reference: INCREMENTAL lexical kNN --------------------
    // The daily-batch path: 90% of the corpus is the standing postings
    // index (frozen TF-IDF model carried as df/n_docs columns), the
    // doc_id%10==0 slice arrives as a new batch and is scored against
    // index ∪ batch WITHOUT ever pairing corpus×corpus — the SparseSim
    // analogue of q_dedup_incremental. The batch's distinct terms prune
    // the index via broadcast semi-join before any shuffle; a term-
    // bucketed index additionally drops the index-side exchange
    // (LayoutSpec pin). Oracle mirrors the frozen-model weighting in SQL.
    QueryDef("q_sparse_incremental", (s, dir) => {
      val docs = t(s, dir, "documents")
      val corpus = docs.filter(col("doc_id") % 10 =!= 0)
      val batch = docs.filter(col("doc_id") % 10 === 0)
      val index = SparseSim.buildPostingsIndex(
        corpus, idCol = "doc_id", textCol = "text", shingleLen = 3, dfCap = 100)
      SparseSim.incrementalNeighbors(
        batch, idCol = "doc_id", textCol = "text", index, shingleLen = 3, k = 5)
    },
      // Frozen-model incremental scoring: the corpus half builds the exact
      // q_sparse_topk weighting (df/n_docs over the CORPUS only); the batch
      // half re-weights its tf in that model (terms absent from the index
      // drop out — no IDF exists for them), then pairs batch × (corpus ∪
      // batch) excluding self. Same decimal(28,12) per-product quantization
      // → hash-exact.
      oracleSql =
      """WITH base AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |cterms AS (
        |  SELECT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS term
        |  FROM base, unnest(range(1, len(toks) - 1)) AS r(i)
        |  WHERE len(toks) >= 3 AND doc_id % 10 <> 0),
        |ctf AS (SELECT doc_id, term, count(*) AS tf FROM cterms GROUP BY doc_id, term),
        |cdf AS (SELECT term, count(*) AS df FROM ctf GROUP BY term),
        |cnd AS (SELECT count(*) AS n_docs FROM documents WHERE doc_id % 10 <> 0),
        |cw AS (
        |  SELECT doc_id, term, df, n_docs,
        |    tf * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)) AS w
        |  FROM ctf JOIN cdf USING (term), cnd
        |  WHERE df <= 100 AND df < n_docs),
        |cnorms AS (
        |  SELECT doc_id, sqrt(CAST(sum(CAST(w * w AS DECIMAL(28,12))) AS DOUBLE)) AS norm
        |  FROM cw GROUP BY doc_id),
        |cp AS (SELECT doc_id, term, w / norm AS u FROM cw JOIN cnorms USING (doc_id)),
        |model AS (SELECT DISTINCT term, df, n_docs FROM cw),
        |bterms AS (
        |  SELECT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS term
        |  FROM base, unnest(range(1, len(toks) - 1)) AS r(i)
        |  WHERE len(toks) >= 3 AND doc_id % 10 = 0),
        |btf AS (SELECT doc_id, term, count(*) AS tf FROM bterms GROUP BY doc_id, term),
        |bw AS (
        |  SELECT doc_id, term, tf * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)) AS w
        |  FROM btf JOIN model USING (term)),
        |bnorms AS (
        |  SELECT doc_id, sqrt(CAST(sum(CAST(w * w AS DECIMAL(28,12))) AS DOUBLE)) AS norm
        |  FROM bw GROUP BY doc_id),
        |bp AS (SELECT doc_id, term, w / norm AS u FROM bw JOIN bnorms USING (doc_id)),
        |all_p AS (
        |  SELECT doc_id, term, u FROM cp
        |  UNION ALL
        |  SELECT doc_id, term, u FROM bp),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared,
        |    CAST(sum(CAST(a.u * b.u AS DECIMAL(28,12))) AS DOUBLE) AS cos
        |  FROM bp a JOIN all_p b ON a.term = b.term AND b.doc_id <> a.doc_id
        |  GROUP BY doc_a, doc_b)
        |SELECT doc_a, doc_b, n_shared, cos, rn FROM (
        |  SELECT *, row_number() OVER (PARTITION BY doc_a ORDER BY cos DESC, doc_b ASC) AS rn
        |  FROM pairs)
        |WHERE rn <= 5""".stripMargin),

    // --- beyond-reference: BM25 retrieval over the inverted index ------
    // Okapi BM25 top-k: the ranking function retrieval-style
    // decontamination and seed expansion actually use (length-normalized,
    // saturating tf — a raw cosine over-rewards long docs). Query terms
    // broadcast into the postings; corpus never shuffles for the query
    // batch (SparseSim.bm25TopK scaladoc for the full shuffle budget).
    QueryDef("q_bm25_topk", (s, dir) => {
      SparseSim.bm25TopK(
        t(s, dir, "documents"), idCol = "doc_id", textCol = "text",
        isQuery = col("doc_id") % 17 === 0, k = 5)
    },
      // Okapi BM25 (k1=1.2, b=0.75) with the smoothed always-positive idf;
      // query-side tf binary; per-term contributions decimal(28,12)-
      // quantized before the exact sum (engine parity rules). Terms are
      // word BIGRAMS (the SparseSim vector space — unigram df over this
      // small-vocabulary corpus exceeds dfCap everywhere); dl is the
      // shingle count, avgdl counts every doc (sub-2-token docs as 0).
      oracleSql =
      s"""WITH base AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, toks[i] || ' ' || toks[i+1] AS term, count(*) AS tf
        |  FROM base, unnest(range(1, len(toks))) AS r(i)
        |  WHERE len(toks) >= 2 GROUP BY 1, 2),
        |dl AS (SELECT doc_id, COALESCE(GREATEST(len(toks) - 1, 0), 0) AS dl FROM base),
        |stats AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS DOUBLE)/count(*) AS avgdl FROM dl),
        |dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |post AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, dl.dl, dfx.df, stats.n_docs, stats.avgdl
        |  FROM tf JOIN dl USING (doc_id) JOIN dfx USING (term), stats
        |  WHERE dfx.df <= 100),
        |qterms AS (SELECT DISTINCT doc_id AS q_id, term FROM tf WHERE doc_id % 17 = 0),
        |$bm25Top5Sql""".stripMargin),

    // --- beyond-reference: HYBRID retrieval via reciprocal-rank fusion --
    // The two lexical rankers this library ships — Okapi BM25 and
    // TF-IDF-cosine kNN — fused per query with RRF (1/(60+rank), the
    // calibration-free hybrid merge real retrieval stacks run between
    // sparse and dense lists). Ranks are deterministic in both rankers
    // (doc_b tie-break) and each contribution is decimal-quantized
    // before the exact sum, so the fused ordering is hash-exact against
    // the composed oracle (both retrieval pipelines + the fusion in one
    // SQL statement).
    QueryDef("q_hybrid_rrf", (s, dir) => {
      val docs = t(s, dir, "documents").localCheckpoint(eager = false) // two retrievals
      val bm = SparseSim.bm25TopK(
        docs, idCol = "doc_id", textCol = "text",
        isQuery = col("doc_id") % 17 === 0, k = 10)
        .select(col("q_id"), col("doc_b"), col("rn"))
      val lex = SparseSim.topKNeighbors(
        SparseSim.postings(docs, idCol = "doc_id", textCol = "text", shingleLen = 3, dfCap = 100),
        k = 10)
        .filter(col("doc_a") % 17 === 0)
        .select(col("doc_a").as("q_id"), col("doc_b"), col("rn"))
      SparseSim.rrfFuse(Seq(bm, lex), k = 5)
    }, oracleSql =
      s"""WITH $retrievalRankCtes,
        |u AS (
        |  SELECT q_id, doc_b, CAST(CAST(1 AS DOUBLE) / (60 + rn) AS DECIMAL(18,12)) AS contrib FROM bm
        |  UNION ALL
        |  SELECT q_id, doc_b, CAST(CAST(1 AS DOUBLE) / (60 + rn) AS DECIMAL(18,12)) FROM lex),
        |fused AS (
        |  SELECT q_id, doc_b, count(*) AS n_lists, sum(contrib) AS rrfd
        |  FROM u GROUP BY q_id, doc_b)
        |SELECT q_id, doc_b, CAST(n_lists AS BIGINT) AS n_lists,
        |  CAST(rrfd AS DOUBLE) AS rrf, rn FROM (
        |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY rrfd DESC, doc_b ASC) AS rn
        |  FROM fused)
        |WHERE rn <= 5""".stripMargin),

    // --- beyond-reference: HLL set-operation estimates -------------------
    // Audience overlap WITHOUT a join: per-cohort HLL sketches of
    // distinct users estimate |A∩B| by inclusion-exclusion
    // |A|+|B|−|A∪B| — at 100 TB three mergeable sketch scans replace a
    // user-keyed join+distinct, and the cohort sketches are reusable
    // against ANY other cohort. Contract oracle (q_sketch_merge
    // pattern): exact cohort sizes + exact overlap hash-compare; the IE
    // estimate must land within 10% of the UNION size (compounded error
    // of three ≈1.6%-rsd estimates scales with |A∪B|, not the overlap;
    // envelope kept 2× the expected compound for regeneration safety).
    QueryDef("q_sketch_intersect", (s, dir) => {
      val (ev, inA, inB, ests) = cohortSketches(s, dir)
      val exact = ev.filter(inA || inB)
        .groupBy("user_id")
        .agg(
          max(when(inA, 1L).otherwise(0L)).as("v"),
          max(when(inB, 1L).otherwise(0L)).as("p"))
        .agg(
          sum(col("v")).as("n_a"),
          sum(col("p")).as("n_b"),
          sum(col("v") * col("p")).as("n_both"))
      // 10%-of-union envelope, deliberately 2× the ~5% three-sketch
      // compound rsd: the bound is probabilistic and the test data is
      // regenerated per round, so a tail draw could flip a
      // tight envelope with no code defect (same reasoning as
      // q_heavy_hitters' 2× slack).
      exact.crossJoin(ests).select(
        col("n_a"), col("n_b"), col("n_both"),
        (abs(col("est_a") + col("est_b") - col("est_u") - col("n_both"))
          <= col("est_u") * lit(0.10)).as("ie_within_bound"))
    }, bench = Some((s, dir) => {
      val (_, _, _, ests) = cohortSketches(s, dir)
      ests.select(
        round(col("est_a"), 0).cast("long").as("approx_a"),
        round(col("est_b"), 0).cast("long").as("approx_b"),
        round(col("est_a") + col("est_b") - col("est_u"), 0).cast("long")
          .as("approx_both"))
    }),
      // IE-overlap contract: exact cohort/overlap counts hash-compare; the
      // inclusion-exclusion estimate's 5%-of-union envelope arrives as a
      // boolean DuckDB expects TRUE (deterministic at fixed data).
      oracleSql =
      """WITH f AS (
        |  SELECT user_id,
        |    max(CASE WHEN event_type = 'purchase' AND value > 100 THEN 1 ELSE 0 END) AS v,
        |    max(CASE WHEN event_type = 'error' AND value > 100 THEN 1 ELSE 0 END) AS p
        |  FROM events
        |  WHERE (event_type = 'purchase' OR event_type = 'error') AND value > 100
        |  GROUP BY user_id)
        |SELECT CAST(sum(v) AS BIGINT) AS n_a,
        |  CAST(sum(p) AS BIGINT) AS n_b,
        |  CAST(sum(v * p) AS BIGINT) AS n_both,
        |  TRUE AS ie_within_bound
        |FROM f""".stripMargin),

    // --- beyond-reference: Count-Min heavy hitters -----------------------
    // Frequent-term detection with a mergeable fixed-memory sketch: one
    // pass builds the CMS (partial sketches merge across partitions —
    // the 100 TB shape: no term-keyed shuffle needed to ESTIMATE), the
    // codegen'd CmsEstimate probe rides the exact aggregate used by the
    // oracle. Contract columns (q_approx_stats pattern): CMS never
    // undercounts, and overcounts at most eps*N at fixed seed — DuckDB
    // expects both booleans TRUE, so sketch drift fails the gate.
    QueryDef("q_heavy_hitters", (s, dir) => {
      val terms = t(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("term"))
        .localCheckpoint(eager = false) // two consumers: sketch + exact agg
      val eps = 0.001
      val cms = terms.stat.countMinSketch("term", eps, 0.99, 42)
      val bc = s.sparkContext.broadcast(cms)
      // 2× the eps·N guarantee, deliberately: the 1× bound holds per
      // query only with prob 1−δ (δ=0.01), so across ~dozens of heavy
      // terms AND per-round testdata regeneration a legitimate
      // exceedance would flip the gate without any code defect; at 2×
      // the per-term failure odds drop ~2^-depth further (Markov per
      // row, min over depth rows) — drift-proof while still certifying
      // the sketch is a real eps-grade CMS.
      val slack = 2 * math.ceil(eps * cms.totalCount()).toLong
      val threshold = math.ceil(0.005 * cms.totalCount()).toLong
      terms.groupBy("term")
        .agg(count(lit(1)).as("n_exact"))
        .filter(col("n_exact") >= threshold)
        .withColumn("est", graft.functions.GraftFunctions.cmsEstimate(col("term"), bc))
        .select(
          col("term"), col("n_exact"),
          (col("est") >= col("n_exact")).as("cms_no_undercount"),
          (col("est") <= col("n_exact") + lit(slack)).as("cms_within_eps"))
    },
      // Heavy hitters: the exact counts + threshold are the oracle-checked
      // half; the CMS's guarantees (never undercounts; overcounts <= eps*N
      // at the fixed seed) arrive as contract booleans DuckDB expects TRUE.
      oracleSql =
      """WITH toks AS (
        |  SELECT unnest(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) AS term
        |  FROM documents),
        |tot AS (SELECT count(*) AS n FROM toks)
        |SELECT term, CAST(count(*) AS BIGINT) AS n_exact,
        |  TRUE AS cms_no_undercount, TRUE AS cms_within_eps
        |FROM toks, tot
        |GROUP BY term, tot.n
        |HAVING count(*) >= ceil(0.005 * tot.n)""".stripMargin),

    // --- beyond-reference: INCREMENTAL BM25 against a standing index ---
    // The retrieval-serving shape: 90% of the corpus is a stored BM25
    // index with FROZEN stats carried as data (df/n_docs/avgdl columns —
    // the NgramLm model-as-data rule), the doc_id%10==0 slice arrives as
    // a query batch and is scored via broadcast term pruning — the
    // corpus-scale index never shuffles for a batch, and a term-bucketed
    // store drops its exchange entirely (LayoutSpec pin).
    QueryDef("q_bm25_incremental", (s, dir) => {
      val docs = t(s, dir, "documents")
      val index = SparseSim.buildBm25Index(
        docs.filter(col("doc_id") % 10 =!= 0), idCol = "doc_id", textCol = "text",
        shingleLen = 2, dfCap = 100)
      SparseSim.bm25Retrieve(
        docs.filter(col("doc_id") % 10 === 0), idCol = "doc_id", textCol = "text",
        index, shingleLen = 2, k = 5)
    },
      // Frozen-model BM25: corpus stats (df, n_docs, avgdl) over the
      // doc_id%10<>0 index slice ONLY; the batch's terms score in that
      // model, unseen terms dropping out. Same decimal(28,12) per-term
      // quantization -> hash-exact.
      oracleSql =
      s"""WITH base AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |ctf AS (
        |  SELECT doc_id, toks[i] || ' ' || toks[i+1] AS term, count(*) AS tf
        |  FROM base, unnest(range(1, len(toks))) AS r(i)
        |  WHERE len(toks) >= 2 AND doc_id % 10 <> 0 GROUP BY 1, 2),
        |cdl AS (SELECT doc_id, COALESCE(GREATEST(len(toks) - 1, 0), 0) AS dl
        |  FROM base WHERE doc_id % 10 <> 0),
        |stats AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS DOUBLE)/count(*) AS avgdl FROM cdl),
        |dfx AS (SELECT term, count(*) AS df FROM ctf GROUP BY term),
        |post AS (
        |  SELECT ctf.doc_id, ctf.term, ctf.tf, cdl.dl, dfx.df, stats.n_docs, stats.avgdl
        |  FROM ctf JOIN cdl USING (doc_id) JOIN dfx USING (term), stats
        |  WHERE dfx.df <= 100),
        |qterms AS (
        |  SELECT DISTINCT doc_id AS q_id, toks[i] || ' ' || toks[i+1] AS term
        |  FROM base, unnest(range(1, len(toks))) AS r(i)
        |  WHERE len(toks) >= 2 AND doc_id % 10 = 0),
        |$bm25Top5Sql""".stripMargin),

    // --- beyond-reference: deterministic weighted sampling (A-ES) ------
    // Efraimidis–Spirakis exponential-race keys drawn from content
    // hashes: P(keep) grows with n_chars, yet membership is a pure
    // function of doc_id — stable across engines, partitionings, and
    // incremental loads (core.Sampling.weightedSample scaladoc). k per
    // lang; the race key is not emitted.
    QueryDef("q_weighted_sample", (s, dir) => {
      graft.core.Sampling.weightedSample(
        t(s, dir, "documents").select("lang", "doc_id", "n_chars"),
        group = col("lang"), weight = col("n_chars"), key = col("doc_id"),
        k = 10)
    },
      // A-ES exponential race: u from the first 8 md5 hex chars of the key
      // (exact integer, +0.5 dodges ln(0)), e = -ln(u)/w. (v+0.5)/2^32 and
      // the ln/divide are identical IEEE doubles in both engines (the
      // q_sparse_topk idf precedent); the race key is not emitted.
      oracleSql =
      """WITH keyed AS (
        |  SELECT lang, doc_id, n_chars,
        |    -ln((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) + 0.5)
        |        / 4294967296.0) / CAST(n_chars AS DOUBLE) AS ek
        |  FROM documents)
        |SELECT lang, doc_id, n_chars, rn FROM (
        |  SELECT *, row_number() OVER (PARTITION BY lang ORDER BY ek ASC, doc_id ASC) AS rn
        |  FROM keyed)
        |WHERE rn <= 10""".stripMargin),

    // --- beyond-reference: z-order (Morton) clustering cells -----------
    // The multi-dim data-layout lever: sorting by the interleaved
    // (custkey, day) bits makes every consecutive run a tight rectangle
    // in BOTH dimensions, so parquet min/max footers prune point/range
    // predicates on either one (Layout.zValue2/zOrderWrite; LayoutSpec
    // quantifies the pruning win vs a single-dim sort). The query emits
    // per-cell occupancy + bounding boxes — the skippability evidence
    // itself — via one partial-agg shuffle over codegen'd bit math.
    QueryDef("q_zorder_cells", (s, dir) => {
      t(s, dir, "orders")
        .select(
          col("o_custkey"),
          // Base at/below the data minimum (TPC-H orderdates span
          // 1992-1998): days stay non-negative and inside zValue2's
          // 16-bit range, so no value aliases through the mask and the
          // emitted min/max rectangles are the tightness evidence they
          // claim to be.
          datediff(col("o_orderdate").cast("date"), lit("1992-01-01").cast("date"))
            .cast("long").as("day"))
        .withColumn("cell",
          shiftright(graft.core.Layout.zValue2(col("o_custkey"), col("day")), 18))
        .groupBy("cell")
        .agg(
          count(lit(1)).as("n"),
          min("o_custkey").as("min_ck"), max("o_custkey").as("max_ck"),
          min("day").as("min_day"), max("day").as("max_day"))
    },
      // Morton interleave via the same magic-mask ladder as Layout.zValue2
      // (pure BIGINT bit ops — both engines compute the identical value);
      // cells are zval >> 18, so each output row is one 512x512 rectangle
      // of (custkey, day) space with its occupancy and bounding box.
      oracleSql =
      s"""WITH $mortonSpreadCtes
        |z AS (SELECT o_custkey, day, (x4 | (y4 << 1)) AS zval FROM s4)
        |SELECT zval >> 18 AS cell, CAST(count(*) AS BIGINT) AS n,
        |  min(o_custkey) AS min_ck, max(o_custkey) AS max_ck,
        |  min(day) AS min_day, max(day) AS max_day
        |FROM z GROUP BY cell""".stripMargin),

    // --- beyond-reference: brute-force cosine top-k ANN ---------------
    QueryDef("q_ann_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.bruteForceTopK(
        queries = emb.filter(col("vec_id") < 8),
        corpus = emb,
        idCol = "vec_id",
        vecCol = "embedding",
        k = 5,
      )
    }, oracleSql =
      """SELECT qid, vec_id, round(sim, 6) AS sim, rn FROM (
        |  SELECT q.vec_id AS qid, c.vec_id AS vec_id,
        |    list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) AS sim,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id) AS rn
        |  FROM embeddings q JOIN embeddings c ON q.vec_id < 8 AND c.vec_id <> q.vec_id)
        |WHERE rn <= 5""".stripMargin),

    // --- beyond-reference: IVF ANN (rows-only check) ------------------
    // kmeansIters > 0: the registry exercises the production path
    // end-to-end — KMeans-FITTED cell centroids (offline Lloyd step),
    // not the default deterministic sample. Recall@k vs brute force at
    // this exact config is pinned in SimilaritySpec.
    QueryDef("q_ann_ivf", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.ivfTopK(
        queries = emb.filter(col("vec_id") < 8),
        corpus = emb,
        idCol = "vec_id",
        vecCol = "embedding",
        k = 5,
        nList = 16,
        nProbe = 4,
        kmeansIters = 3,
      )
    },
      // Generated: the SAME Lloyd rounds fit the 16 IVF cell centroids
      // (kmeansIters = 3), which are then rounded through FLOAT — exactly
      // the corpus-element-type cast Ann.ivfTopK applies — before the
      // assignment / probe / score / top-k dataflow. Full fitted-IVF
      // pipeline, engine-exact.
      oracleSql = ivfOracleSql(fitWhere = "TRUE")),

    // --- beyond-reference: STANDING IVF index (incremental ANN) --------
    // The IVF member of the standing-index family: cells fit ONCE on the
    // base load (vec_id%4!=0), the %4==0 slice assigns in the FROZEN
    // model (Ann.appendToIvfIndex — no refit), queries probe the
    // standing cells. Oracle: the q_ann_ivf pipeline with the Lloyd fit
    // restricted to the base slice (lloydCtes fitWhere) — assignment,
    // probe, and scoring over the union are unchanged, hash-exact.
    QueryDef("q_ann_ivf_incremental", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idx = Ann.buildIvfIndex(
        emb.filter(col("vec_id") % 4 =!= 0), "vec_id", "embedding",
        nList = 16, iters = 3)
      val idx2 = Ann.appendToIvfIndex(idx, emb.filter(col("vec_id") % 4 === 0), "vec_id", "embedding")
      Ann.ivfRetrieve(
        queries = emb.filter(col("vec_id") < 8),
        idCol = "vec_id",
        vecCol = "embedding",
        index = idx2,
        k = 5,
        nProbe = 4,
      )
    },
      // Standing-index IVF: same pipeline, Lloyd fit on the base slice only.
      oracleSql = ivfOracleSql(fitWhere = "vec_id % 4 <> 0")),

    // --- beyond-reference: product-quantization ANN (ORACLED) ----------
    // The memory-bounded 100 TB embedding-scan path: 8 subspace
    // codebooks fitted offline (KMeans per subspace), vectors encoded to
    // 8 centroid ids (32x compression), queries scan the compressed
    // codes via per-query distance LUTs (ADC), exact re-rank on the
    // shortlist only. HASH-EXACT against the generated pqOracleSql
    // DuckDB oracle (the full pipeline unrolled in SQL; its m/ksub/
    // iters/rerank/k MUST mirror this config); recall vs brute force is
    // additionally pinned in SimilaritySpec.
    QueryDef("q_ann_pq", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val books = Ann.pqCodebooks(emb, "vec_id", "embedding", dim = 64,
        m = 8, ksub = 16, iters = 2)
      Ann.pqTopK(
        queries = emb.filter(col("vec_id") < 8),
        corpus = emb,
        idCol = "vec_id",
        vecCol = "embedding",
        codebooks = books,
        k = 5,
        rerank = 32,
      )
    },
      // Generated: the full PQ pipeline unrolled (8 subspace Lloyd fits,
      // encode, ADC, rerank) — see pqOracleSql. Matches the registry
      // config exactly: m=8, ksub=16, dsub=8, iters=2, rerank=32, k=5.
      oracleSql = pqOracleSql(m = 8, ksub = 16, dsub = 8, iters = 2, rerank = 32, k = 5)),

    // --- beyond-reference: IVF-PQ routed ANN (ORACLED) ------------------
    // The composed FAISS shape: the IVF coarse quantizer routes each
    // query to nProbe of nList cells and the PQ ADC scan covers ONLY
    // those cells' codes — the whole-corpus compressed scan of q_ann_pq
    // becomes partition pruning when the codes table is laid out by
    // cell. Non-residual codes (same codes table as q_ann_pq), so
    // nProbe = nList degenerates to exactly pqTopK (SimilaritySpec pin).
    // HASH-EXACT oracle: pqOracleSql with the coarse-routing CTE block
    // (full-dim Lloyd, FLOAT-narrowed centroids, candidate-set join).
    QueryDef("q_ann_ivfpq", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val books = Ann.pqCodebooks(emb, "vec_id", "embedding", dim = 64,
        m = 8, ksub = 16, iters = 2)
      Ann.ivfPqTopK(
        queries = emb.filter(col("vec_id") < 8),
        corpus = emb,
        idCol = "vec_id",
        vecCol = "embedding",
        codebooks = books,
        k = 5,
        nList = 8,
        nProbe = 3,
        coarseIters = 3,
        rerank = 32,
      )
    },
      // IVF-PQ: the PQ pipeline with the coarse-routing candidate set
      // (nList/nProbe/coarseIters mirror the Scala call exactly).
      oracleSql = pqOracleSql(m = 8, ksub = 16, dsub = 8, iters = 2, rerank = 32, k = 5,
      coarse = Some((8, 3, 3)))),

    // --- beyond-reference: STANDING IVF-PQ index (incremental) ----------
    // The composed standing store: coarse cells AND codebooks fit ONCE
    // on the base load (vec_id%4!=0), the %4==0 batch assigns + encodes
    // through BOTH frozen models (appendToIvfPqIndex — no refit
    // anywhere), queries route and ADC-scan the standing stores. Oracle:
    // the q_ann_ivfpq pipeline with BOTH fits restricted to the base
    // slice (coarse lloydCtes fitWhere + subspace fitWhere) —
    // assignment, encoding, routing, and scoring over the union are
    // unchanged, hash-exact.
    QueryDef("q_ann_ivfpq_incremental", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idx = Ann.buildIvfPqIndex(
        emb.filter(col("vec_id") % 4 =!= 0), "vec_id", "embedding",
        dim = 64, nList = 8, coarseIters = 3, m = 8, ksub = 16, iters = 2)
      val idx2 = Ann.appendToIvfPqIndex(idx, emb.filter(col("vec_id") % 4 === 0), "vec_id", "embedding")
      Ann.ivfPqRetrieve(
        queries = emb.filter(col("vec_id") < 8),
        idCol = "vec_id",
        vecCol = "embedding",
        index = idx2,
        vectors = emb,
        k = 5,
        nProbe = 3,
        rerank = 32,
      )
    },
      // Standing IVF-PQ: both fits (coarse Lloyd AND subspace codebooks)
      // restricted to the base slice; assignment/encoding/routing over all.
      oracleSql = pqOracleSql(m = 8, ksub = 16, dsub = 8, iters = 2,
      rerank = 32, k = 5, fitWhere = "vec_id % 4 <> 0", coarse = Some((8, 3, 3)))),

    // --- beyond-reference: STANDING PQ index (incremental ANN) --------
    // The frozen-model serving shape that completes the incremental
    // retrieval family: codebooks fit ONCE on the base load
    // (vec_id % 4 != 0), the % 4 == 0 slice arrives later and is
    // encoded in the FROZEN books (Ann.appendToPqIndex — no refit, no
    // touch of stored codes), queries ADC-scan the standing store.
    // Oracle: the same generated PQ pipeline with the Lloyd fit
    // restricted to the base slice (fitWhere) and encode/ADC over the
    // union — hash-exact. Split-append ≡ one-shot is pinned in
    // SimilaritySpec.
    QueryDef("q_ann_pq_incremental", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idx = Ann.buildPqIndex(
        emb.filter(col("vec_id") % 4 =!= 0), "vec_id", "embedding",
        dim = 64, m = 8, ksub = 16, iters = 2)
      val idx2 = Ann.appendToPqIndex(idx, emb.filter(col("vec_id") % 4 === 0), "vec_id", "embedding")
      Ann.pqRetrieve(
        queries = emb.filter(col("vec_id") < 8),
        idCol = "vec_id",
        vecCol = "embedding",
        index = idx2,
        vectors = emb,
        k = 5,
        rerank = 32,
      )
    },
      // Standing-index variant: Lloyd fit restricted to the base slice,
      // encode/ADC over the full corpus — the frozen-books append scenario.
      oracleSql = pqOracleSql(m = 8, ksub = 16, dsub = 8, iters = 2,
      rerank = 32, k = 5, fitWhere = "vec_id % 4 <> 0")),

    // --- beyond-reference: LSH-bucketed ANN (rows-only check) ---------
    QueryDef("q_ann_lsh", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.lshTopK(
        queries = emb.filter(col("vec_id") < 8),
        corpus = emb,
        idCol = "vec_id",
        vecCol = "embedding",
        dim = 64,
        k = 5,
      )
    },
      // Generated, not hand-written: the random-hyperplane components are
      // deterministic dyadic rationals computed by Ann.hyperplaneValues —
      // embedding the SAME doubles as list literals makes the bucket bits,
      // probes, and scores engine-identical (Double.toString round-trips).
      oracleSql =
      s"""WITH $lshRankCtes
         |SELECT qid, vec_id, round(sim, 6) AS sim, rn FROM lranked WHERE rn <= 5""".stripMargin),

    // --- beyond-reference: rollup (hierarchical subtotals) -------------
    // Rollup over a pre-aggregate: the Expand operator multiplies its
    // input by the number of grouping sets, so roll up the 6-row
    // (flag,status) aggregate, not the 600k-row fact table. DECIMAL
    // partials make the re-aggregation exactly the direct rollup.
    QueryDef("q_rollup", (s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("pn"), sum(col("l_quantity").cast("decimal(24,6)")).as("pq"))
        .rollup("l_returnflag", "l_linestatus")
        .agg(sum(col("pn")).as("n"), sum(col("pq")).cast("double").as("sum_qty"))
    }, oracleSql =
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(24,6))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin),

    // --- beyond-reference: cube + grouping_id (all subtotal combos) ----
    // Same pre-aggregate trick as q_rollup: Expand runs over the tiny
    // grouped input, not the fact table.
    QueryDef("q_cube", (s, dir) => {
      t(s, dir, "orders")
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("pn"))
        .cube("o_orderstatus", "o_orderpriority")
        .agg(sum(col("pn")).as("n"), grouping_id().cast("int").as("gid"))
    }, oracleSql =
      """WITH pre AS (
        |  SELECT o_orderstatus, o_orderpriority, count(*) AS pn
        |  FROM orders GROUP BY 1, 2)
        |SELECT o_orderstatus, o_orderpriority, CAST(sum(pn) AS BIGINT) AS n,
        |  CAST(GROUPING(o_orderstatus, o_orderpriority) AS INT) AS gid
        |FROM pre GROUP BY CUBE(o_orderstatus, o_orderpriority)""".stripMargin),

    // --- beyond-reference: exact percentiles (sort-based agg) ----------
    // Quarter percentiles only: with integral inputs the linear
    // interpolation at .25/.5/.75 is exact in binary, so Spark percentile
    // and DuckDB quantile_cont agree bit-for-bit (other fractions differ
    // in formula rounding across engines).
    QueryDef("q_percentile", (s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          percentile(col("l_quantity"), lit(0.25)).as("p25"),
          percentile(col("l_quantity"), lit(0.5)).as("p50"),
          percentile(col("l_quantity"), lit(0.75)).as("p75"),
        )
    }, oracleSql =
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.25) AS p25,
        |  quantile_cont(l_quantity, 0.5) AS p50,
        |  quantile_cont(l_quantity, 0.75) AS p75
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),

    // --- §2.9 initcap (ProjectScore.py:43) -----------------------------
    QueryDef("q_initcap", (s, dir) => {
      t(s, dir, "part").select(col("p_partkey"), initcap(col("p_name")).as("p_name_tc"))
    }, oracleSql =
      """SELECT p_partkey,
        |  array_to_string(list_transform(string_split(p_name, ' '),
        |    w -> upper(substr(w, 1, 1)) || lower(substr(w, 2))), ' ') AS p_name_tc
        |FROM part""".stripMargin),

    // --- beyond-reference: corpus term stats (document frequency) ------
    QueryDef("q_term_stats", (s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), explode(TextAnalysis.tokens(lower(col("text")))).as("term"))
        .groupBy("term")
        .agg(countDistinct(col("doc_id")).as("df"), count(lit(1)).as("tf"))
        .filter(col("df") >= 3)
    }, oracleSql =
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '')) AS term
        |  FROM documents)
        |SELECT term, count(DISTINCT doc_id) AS df, count(*) AS tf
        |FROM toks GROUP BY term HAVING count(DISTINCT doc_id) >= 3""".stripMargin),

    // --- beyond-reference: skew-safe two-stage (salted) aggregation ----
    // Stage 1 on (key, salt) spreads a hot key over 16 reducers; stage 2
    // re-aggregates the 16 partials per key. Partials stay DECIMAL until
    // the end so the re-aggregation is exactly the one-stage sum.
    QueryDef("q_salted_agg", (s, dir) => {
      t(s, dir, "lineitem")
        .withColumn("_salt", pmod(col("l_orderkey"), lit(16)))
        .groupBy("l_returnflag", "_salt")
        .agg(count(lit(1)).as("pn"), sum(col("l_quantity").cast("decimal(24,6)")).as("pq"))
        .groupBy("l_returnflag")
        .agg(sum(col("pn")).as("n"), sum(col("pq")).cast("double").as("sum_qty"))
    }, oracleSql =
      """SELECT l_returnflag, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(24,6))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),

    // --- beyond-reference: mergeable-sketch approximations -------------
    // HLL++ cardinality and t-digest-style quantiles: the sub-linear path
    // when exact distinct/percentile is too expensive at 100 TB. Sketches
    // are partition-mergeable, so these stay one-pass map-combine aggs.
    // Oracled by CONTRACT: the raw estimates are engine-specific (no
    // DuckDB bit-match exists), so the query emits the exact answers
    // (hash-comparable) plus booleans asserting each sketch landed inside
    // its documented error envelope — the DuckDB row expects TRUE, so a
    // sketch that drifts out of contract FAILS the gate. The envelopes:
    // HLL rsd 0.02 → 3·rsd = 6%; percentile_approx(acc=1000) → rank
    // error ≤ n/1000, far inside a [0.449, 0.551] rank window. The
    // median's EXACT rank is verified with a second conditional-count
    // pass against the broadcast 6-row sketch table (tie-robust: strict
    // and non-strict counts bracket the estimate's rank) — NOT with
    // exact percentile(), whose per-group value buffering is a
    // one-task-per-group memory bomb at scale (measured 32 s at sf1
    // before this shape). Both sketches are data-deterministic.
    //
    // The bench shape is the sketch path a user would actually run: one
    // aggregate, no Expand, no exact-rank second pass. The verified shape
    // keeps the exact contract columns the DuckDB oracle hash-compares —
    // they exist to BUY the green row and double the aggregate work (r6:
    // +0.4–1.4 s), which is verification cost, not query cost.
    QueryDef("q_approx_stats", (s, dir) => approxStatsExact(t(s, dir, "lineitem")),
      bench = Some((s, dir) => {
        // percentile_approx and HLL are both imperative buffers — no
        // countDistinct Expand here, so one aggregate carries both
        // without the sort-based fallback the exact path must dodge.
        t(s, dir, "lineitem").groupBy("l_returnflag")
          .agg(
            count(lit(1)).as("n"),
            approx_count_distinct(col("l_orderkey"), rsd = 0.02).as("approx_orders"),
            percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000)).as("approx_median"),
          )
      }),
      // Contract oracles for the sketch queries: exact columns hash-compare;
      // the booleans assert the (deterministic) sketches landed inside their
      // error envelopes — DuckDB expects TRUE, so sketch drift fails the gate.
      oracleSql =
      """SELECT l_returnflag,
        |  count(DISTINCT l_orderkey) AS exact_orders,
        |  count(*) AS n,
        |  TRUE AS hll_within_3rsd,
        |  TRUE AS median_in_rank_window
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),

    // --- beyond-reference: winnowing rolling-hash fingerprints ---------
    // Schleimer et al. winnowing over normalized text (rows-only: the
    // rolling-hash values are engine-specific; FingerprintSpec checks the
    // shared-substring guarantee instead).
    QueryDef("q_winnow", (s, dir) => {
      val fps = graft.functions.GraftFunctions.winnow(
        Cleanup.normalizeText(col("text")), 8, 4)
      t(s, dir, "documents")
        .select(col("doc_id"), fps.as("fps"))
        .select(col("doc_id"), size(col("fps")).as("n_fps"), array_min(col("fps")).as("fp_min"))
    },
      // Generated: the winnow fingerprint SET per document is the distinct
      // sliding-window minima — order-insensitive readouts (count + min)
      // need no deque replication.
      oracleSql = {
      s"""WITH ${winnowCtes(k = 8, w = 4)}
         |SELECT d.doc_id, coalesce(f.n_fps, 0) AS n_fps, f.fp_min
         |FROM documents d LEFT JOIN (
         |  SELECT doc_id, count(DISTINCT mh) AS n_fps, min(mh) AS fp_min
         |  FROM mn GROUP BY doc_id) f USING (doc_id)""".stripMargin
    }),

    // --- beyond-reference: winnowing near-dup candidates (rows-only) ---
    QueryDef("q_winnow_neardup", (s, dir) => {
      NearDup.winnowCandidates(t(s, dir, "documents"), "doc_id", "text")
    },
      // Generated: same kernel at the candidate config (k=16, w=8); the
      // banded successor-pair emission collapses relationally to a
      // fp-keyed self-join + HAVING, with the [2, maxBucket] selectivity
      // band applied per fingerprint.
      oracleSql = {
      s"""WITH ${winnowCtes(k = 16, w = 8)},
         |fps AS MATERIALIZED (SELECT DISTINCT doc_id, mh AS fp FROM mn),
         |ok AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) BETWEEN 2 AND 20)
         |SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
         |  CAST(count(*) AS BIGINT) AS n_shared
         |FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |WHERE a.fp IN (SELECT fp FROM ok)
         |GROUP BY a.doc_id, b.doc_id HAVING count(*) >= 10""".stripMargin
    }),

    // --- beyond-reference: deterministic content-hash sampling ---------
    // Membership depends only on the key bytes, not partitioning/rng —
    // reproducible across engines and incremental loads (core.Sampling).
    QueryDef("q_hash_sample", (s, dir) => {
      graft.core.Sampling
        .hashSample(t(s, dir, "events"), col("user_id"), keep = 4)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
    }, oracleSql =
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(24,6))) AS DOUBLE) AS sum_value
        |FROM events
        |WHERE substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '4'
        |GROUP BY event_type""".stripMargin),

    // --- beyond-reference: multimodal frame-sampling plumbing ----------
    // Binary media column -> per-partition codec lifecycle -> frame
    // explode -> byte accounting. The stub codec's frame slicing is
    // deterministic integer arithmetic, so the whole mapPartitions
    // pipeline is oracle-checkable end to end (the real-codec swap point
    // is inside Multimodal.StubCodec; the dataflow under test is real).
    QueryDef("q_multimodal", (s, dir) => {
      val media = graft.multimodal.Multimodal.mediaFromDocuments(s, dir)
      graft.multimodal.Multimodal
        .explodeFrames(media, "content", framesPerVideo = 4)
        .groupBy("media_id")
        .agg(count(lit(1)).as("n_frames"), sum(length(col("frame"))).as("frame_bytes"))
    }, oracleSql =
      """WITH m AS (
        |  SELECT doc_id AS media_id, strlen(text) AS len
        |  FROM documents WHERE text IS NOT NULL AND strlen(text) > 0),
        |f AS (SELECT media_id, len, unnest([0,1,2,3]) AS i FROM m),
        |fr AS (SELECT media_id,
        |         (len * i) // 4 AS s,
        |         least(len, (len * i) // 4 + greatest(1, len // 4)) AS e
        |       FROM f)
        |SELECT media_id, count(*) AS n_frames, CAST(sum(e - s) AS BIGINT) AS frame_bytes
        |FROM fr GROUP BY media_id""".stripMargin),

    // --- beyond-reference: as-of join (core.AsOf union+window) ---------
    // Latest order at or before each event's timestamp, per user. Both
    // time axes normalize to epoch-ns longs (tsNs) so the as-of
    // comparison is integer, matching DuckDB epoch_ns.
    QueryDef("q_asof_join", (s, dir) => {
      val ev = asofEvents(s, dir)
      val ord = asofOrders(s, dir)
      graft.core.AsOf
        .asOfJoin(ev, ord, "user_id", "ts", "o_custkey", "odn", Seq("asof_orderkey"))
        .select("event_id", "user_id", "asof_orderkey")
    }, oracleSql =
      asofLatestOrderSql),

    // --- beyond-reference: as-of join as a FIRST-CLASS plan node --------
    // The same as-of semantics through the injected physical operator
    // (AsOfJoinPlan → AsOfJoinStrategy → AsOfJoinExec, the rung-(c)
    // extension path): each side shuffles once on its key, sorts by
    // (key, time) — both inserted by EnsureRequirements from the declared
    // distribution/ordering — and one merge pass per co-partition carries
    // O(1) state. No union row, no window frame, no post-filter; the
    // oracle is the same DuckDB ASOF LEFT JOIN as q_asof_join, so the
    // custom exec is hash-checked against a genuinely independent
    // implementation.
    QueryDef("q_asof_physical", (s, dir) => {
      val ev = asofEvents(s, dir)
      val ord = asofOrders(s, dir)
      graft.core.AsOf
        .asOfJoinExec(ev, ord, "user_id", "ts", "o_custkey", "odn", Seq("asof_orderkey"))
        .select("event_id", "user_id", "asof_orderkey")
    },
      // Same independent oracle for the physical operator: the custom exec
      // must reproduce DuckDB's native ASOF LEFT JOIN bit-for-bit.
      oracleSql =
      asofLatestOrderSql),

    // Forward direction (pandas merge_asof direction='forward'): earliest
    // order at-or-after each event — same physical operator, peek-not-
    // carry merge; DuckDB oracles it natively with ASOF ... ON l.t <= r.t.
    QueryDef("q_asof_forward", (s, dir) => {
      val ev = asofEvents(s, dir)
      val ord = asofOrders(s, dir).withColumnRenamed("asof_orderkey", "next_orderkey")
      graft.core.AsOf
        .asOfJoinExec(ev, ord, "user_id", "ts", "o_custkey", "odn",
          Seq("next_orderkey"), forward = true)
        .select("event_id", "user_id", "next_orderkey")
    },
      // Forward as-of: DuckDB's native ASOF with the inequality flipped.
      oracleSql =
      asofNextOrderSql),

    // Tolerance bound (merge_asof tolerance, the stale-quote guard): a
    // matched order older than 30 days yields null payload — in-operator,
    // not a post-filter; the oracle post-NULLifies DuckDB's unbounded
    // ASOF match, which is semantically identical because the asof
    // candidate is unique per left row.
    QueryDef("q_asof_tolerance", (s, dir) => {
      val ev = asofEvents(s, dir)
      val ord = asofOrders(s, dir)
      graft.core.AsOf
        .asOfJoinExec(ev, ord, "user_id", "ts", "o_custkey", "odn",
          Seq("asof_orderkey"), toleranceNs = Some(30L * 86400 * 1000000000L))
        .select("event_id", "user_id", "asof_orderkey")
    },
      // Tolerance: the asof candidate is unique per left row, so
      // post-NULLifying DuckDB's unbounded match == the in-operator bound.
      oracleSql =
      """WITH o AS (
        |  SELECT o_custkey, epoch_ns(o_orderdate) AS odn, max(o_orderkey) AS ok
        |  FROM orders GROUP BY 1, 2),
        |e AS (SELECT event_id, user_id, epoch_ns(ts) AS tsn FROM events)
        |SELECT e.event_id, e.user_id,
        |  CASE WHEN e.tsn - o.odn <= 2592000000000000 THEN o.ok ELSE NULL END
        |    AS asof_orderkey
        |FROM e ASOF LEFT JOIN o ON e.user_id = o.o_custkey AND e.tsn >= o.odn""".stripMargin),

    // SKEW path of the physical as-of: the same semantics through
    // AsOf.asOfJoinExecSalted — time-chunked composite (key, chunk) keys
    // spread a hot key across tasks, per-chunk seed rows keep the merge
    // exact (monotone bucketizer ⇒ one seed per chunk dominates all
    // earlier-chunk candidates). Same unmodified AsOfJoinExec underneath;
    // the DuckDB ASOF oracle hash-checks that salting changed nothing.
    // AsOfSpec additionally pins the no-single-task-serialization claim
    // on a synthetic 50%-hot key.
    QueryDef("q_asof_salted", (s, dir) => {
      val ev = asofEvents(s, dir)
      val ord = asofOrders(s, dir)
      graft.core.AsOf
        .asOfJoinExecSalted(ev, ord, "user_id", "ts", "o_custkey", "odn",
          Seq("asof_orderkey"), chunks = 8)
        .select("event_id", "user_id", "asof_orderkey")
    },
      // And for the salted skew path: salting is internal plumbing — the
      // answer must stay bit-identical to DuckDB's native ASOF.
      oracleSql =
      asofLatestOrderSql),

    // FORWARD salted as-of: the seed here propagates BACKWARD (earliest
    // right row from chunks > c), the direction the r14 bucketizer
    // overflow fix protects — a post-span right row misbucketed into
    // chunk 0 would never seed later chunks and silently NULL their
    // matches. DuckDB's native ASOF with the inequality flipped
    // hash-checks the whole path cross-engine at gate scale (AsOfSpec
    // pins the synthetic extreme-domain shapes).
    QueryDef("q_asof_salted_forward", (s, dir) => {
      val ev = asofEvents(s, dir)
      val ord = asofOrders(s, dir).withColumnRenamed("asof_orderkey", "next_orderkey")
      graft.core.AsOf
        .asOfJoinExecSalted(ev, ord, "user_id", "ts", "o_custkey", "odn",
          Seq("next_orderkey"), forward = true, chunks = 8)
        .select("event_id", "user_id", "next_orderkey")
    },
      // Forward + salted: salting stays internal plumbing in the flipped
      // direction too.
      oracleSql =
      asofNextOrderSql),

    // --- beyond-reference: lead/lag + frame spec (time-series deltas) --
    // SURVEY §2.6 notes the reference never uses lead/lag/frames; a
    // training pipeline needs them (inter-event gaps, trailing windows).
    // Total order inside each partition: (o_orderdate, o_orderkey).
    QueryDef("q_window_lag", (s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, dir, "orders").select(
        col("o_orderkey"),
        col("o_custkey"),
        datediff(col("o_orderdate").cast("date"),
          lag(col("o_orderdate"), 1).over(w).cast("date")).as("days_since_prev"),
        lag(col("o_orderkey"), 1).over(w).as("prev_key"),
        lead(col("o_orderkey"), 1).over(w).as("next_key"),
        // decimal accumulation inside the frame: order-independent sum
        sum(col("o_totalprice").cast("decimal(24,6)"))
          .over(w.rowsBetween(-2, 0)).cast("double").as("trail3_spend"),
      )
    }, oracleSql =
      """SELECT o_orderkey, o_custkey,
        |  date_diff('day', CAST(lag(o_orderdate) OVER w AS DATE),
        |            CAST(o_orderdate AS DATE)) AS days_since_prev,
        |  lag(o_orderkey) OVER w AS prev_key,
        |  lead(o_orderkey) OVER w AS next_key,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(24,6))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS trail3_spend
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin),

    // --- beyond-reference: ranking family (dense_rank/percent_rank/ntile)
    // percent_rank = (rank-1)/(n-1): one exact IEEE division, so the
    // doubles hash-match across engines.
    QueryDef("q_rank_family", (s, dir) => {
      val w = Window.partitionBy("c_mktsegment").orderBy(col("c_acctbal").desc, col("c_custkey"))
      t(s, dir, "customer").select(
        col("c_custkey"),
        col("c_mktsegment"),
        dense_rank().over(w).as("drank"),
        rank().over(w).as("rnk"),
        percent_rank().over(w).as("prank"),
        ntile(4).over(w).as("quartile"),
      )
    }, oracleSql =
      """SELECT c_custkey, c_mktsegment,
        |  dense_rank() OVER w AS drank,
        |  rank() OVER w AS rnk,
        |  percent_rank() OVER w AS prank,
        |  ntile(4) OVER w AS quartile
        |FROM customer
        |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)""".stripMargin),

    // --- beyond-reference: INTERSECT / EXCEPT set algebra --------------
    // (the reference plays the subtract role with left_anti only —
    // SURVEY §2.7; these are the remaining two set operators)
    QueryDef("q_set_ops", (s, dir) => {
      val o = t(s, dir, "orders")
      def custs(yr: Int) =
        o.filter(year(col("o_orderdate")) === yr).select("o_custkey").distinct()
      val k94 = custs(1995)
      val k95 = custs(1996)
      k94.intersect(k95).withColumn("tag", lit("both"))
        .unionByName(k94.except(k95).withColumn("tag", lit("only_first")))
    }, oracleSql =
      """WITH k94 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995),
        |k95 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996)
        |SELECT o_custkey, 'both' AS tag FROM (SELECT o_custkey FROM k94 INTERSECT SELECT o_custkey FROM k95)
        |UNION ALL
        |SELECT o_custkey, 'only_first' AS tag FROM (SELECT o_custkey FROM k94 EXCEPT SELECT o_custkey FROM k95)""".stripMargin),

    // --- beyond-reference: pivot (long → wide), fixed value list -------
    // The inverse of q_unpivot; explicit values keep the schema static
    // (no extra distinct-scan job, stable at 100 TB).
    QueryDef("q_pivot", (s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_linestatus")
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .agg(dsum(col("l_quantity")))
    }, oracleSql =
      """SELECT l_linestatus,
        |  CAST(sum(CASE WHEN l_returnflag = 'A' THEN CAST(l_quantity AS DECIMAL(24,6)) END) AS DOUBLE) AS "A",
        |  CAST(sum(CASE WHEN l_returnflag = 'N' THEN CAST(l_quantity AS DECIMAL(24,6)) END) AS DOUBLE) AS "N",
        |  CAST(sum(CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS DECIMAL(24,6)) END) AS DOUBLE) AS "R"
        |FROM lineitem GROUP BY l_linestatus""".stripMargin),

    // --- beyond-reference: GROUPING SETS (general form of cube/rollup) -
    QueryDef("q_grouping_sets", (s, dir) => {
      val o = t(s, dir, "orders")
      o.groupingSets(
          Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority")), Seq()),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), grouping_id().cast("int").as("gid"))
    }, oracleSql =
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  CAST(GROUPING(o_orderstatus, o_orderpriority) AS INT) AS gid
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""".stripMargin),

    // --- beyond-reference: JSON field extraction from a string column --
    // events.props is a JSON object column; semi-structured extraction is
    // a staple of log/training-data pipelines.
    QueryDef("q_json_extract", (s, dir) => {
      t(s, dir, "events")
        .select(col("event_type"), get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
    }, oracleSql =
      """WITH e AS (
        |  SELECT event_type, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |  FROM events)
        |SELECT event_type, count(*) AS n, CAST(sum(k) AS BIGINT) AS sum_k,
        |  min(k) AS min_k, max(k) AS max_k
        |FROM e GROUP BY event_type""".stripMargin),

    // --- beyond-reference: date spine + gap fill ------------------------
    // Generated dimension (sequence→explode) left-joined to the facts:
    // the canonical dense-time-series shape; zero-fill keeps silent gaps
    // from vanishing downstream.
    QueryDef("q_date_spine", (s, dir) => {
      val spine = t(s, dir, "orders").sparkSession.range(1).select(
        explode(sequence(
          to_date(lit("1995-01-01")), to_date(lit("1995-12-31")),
          expr("interval 1 day"))).as("day"))
      val daily = t(s, dir, "orders")
        .filter(year(col("o_orderdate")) === 1995)
        .groupBy(col("o_orderdate").cast("date").as("day"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("spend"))
      spine.join(daily, Seq("day"), "left")
        .select(
          col("day"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"),
          coalesce(col("spend"), lit(0.0)).as("spend"),
        )
    }, oracleSql =
      """WITH spine AS (
        |  SELECT CAST(gs AS DATE) AS day
        |  FROM generate_series(DATE '1995-01-01', DATE '1995-12-31', INTERVAL 1 DAY) t(gs)),
        |daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS n_orders,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(24,6))) AS DOUBLE) AS spend
        |  FROM orders WHERE year(o_orderdate) = 1995 GROUP BY 1)
        |SELECT s.day, coalesce(d.n_orders, 0) AS n_orders,
        |  coalesce(d.spend, 0.0) AS spend
        |FROM spine s LEFT JOIN daily d ON s.day = d.day""".stripMargin),

    // --- beyond-reference: edit distance (fuzzy string matching) -------
    QueryDef("q_levenshtein", (s, dir) => {
      t(s, dir, "part").select(
        col("p_partkey"),
        levenshtein(col("p_name"), col("p_type")).as("dist"),
      )
    }, oracleSql =
      "SELECT p_partkey, levenshtein(p_name, p_type) AS dist FROM part"),

    // --- beyond-reference: deterministic Pearson correlation -----------
    // Built-in corr() accumulates doubles (order-dependent); this derives
    // r from exact decimal moment sums, then a fixed-order IEEE double
    // expression — bit-identical on any partitioning AND across engines.
    QueryDef("q_corr_manual", (s, dir) => {
      // decimal(12,3): wide enough for price (<1e5, 2 decimals), and the
      // per-row PRODUCTS still fit DuckDB's int64 decimal storage
      // (decimal(18,6)² overflows it before promotion).
      val d18 = (c: Column) => c.cast("decimal(12,3)")
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        // Moment sums scaled to exact INTEGERS before the double cast
        // (corr is scale-invariant): a fractional decimal→double cast is
        // correctly rounded in one step on the JVM but double-rounds
        // through DuckDB's scaled-int path — a 1-ulp divergence that an
        // integer-valued decimal can't have.
        .agg(
          count(lit(1)).as("n"),
          (sum(d18(col("l_quantity"))) * lit(1000)).cast("decimal(38,0)").cast("double").as("sx"),
          (sum(d18(col("l_extendedprice"))) * lit(1000)).cast("decimal(38,0)").cast("double").as("sy"),
          (sum(d18(col("l_quantity")) * d18(col("l_quantity"))) * lit(1000000)).cast("decimal(38,0)").cast("double").as("sxx"),
          (sum(d18(col("l_extendedprice")) * d18(col("l_extendedprice"))) * lit(1000000)).cast("decimal(38,0)").cast("double").as("syy"),
          (sum(d18(col("l_quantity")) * d18(col("l_extendedprice"))) * lit(1000000)).cast("decimal(38,0)").cast("double").as("sxy"),
        )
        .select(
          col("l_returnflag"), col("n"),
          ((col("n") * col("sxy") - col("sx") * col("sy")) /
            (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
              sqrt(col("n") * col("syy") - col("sy") * col("sy")))).as("corr_qty_price"),
        )
    }, oracleSql =
      """WITH s AS (
        |  SELECT l_returnflag, count(*) AS n,
        |    CAST(CAST(sum(CAST(l_quantity AS DECIMAL(12,3))) * 1000 AS DECIMAL(38,0)) AS DOUBLE) AS sx,
        |    CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,3))) * 1000 AS DECIMAL(38,0)) AS DOUBLE) AS sy,
        |    CAST(CAST(sum(CAST(l_quantity AS DECIMAL(12,3)) * CAST(l_quantity AS DECIMAL(12,3))) * 1000000 AS DECIMAL(38,0)) AS DOUBLE) AS sxx,
        |    CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,3)) * CAST(l_extendedprice AS DECIMAL(12,3))) * 1000000 AS DECIMAL(38,0)) AS DOUBLE) AS syy,
        |    CAST(CAST(sum(CAST(l_quantity AS DECIMAL(12,3)) * CAST(l_extendedprice AS DECIMAL(12,3))) * 1000000 AS DECIMAL(38,0)) AS DOUBLE) AS sxy
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |  (n * sxy - sx * sy) /
        |    (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) AS corr_qty_price
        |FROM s""".stripMargin),

    // --- beyond-reference: TF-IDF-weighted top terms per document ------
    // Linear idf (N/df as an exact integer ratio → one IEEE division)
    // instead of log-idf: same ranking monotonicity, but bit-identical
    // across engines (ln() is transcendental and libm-dependent).
    // N arrives as a 1-row broadcast cross join, not a collected scalar.
    QueryDef("q_tfidf_topterms", (s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), explode(TextAnalysis.tokens(lower(col("text")))).as("term"))
      val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val ndocs = t(s, dir, "documents").agg(countDistinct(col("doc_id")).as("n_docs"))
      val weighted = tf.join(dfreq, Seq("term")).crossJoin(broadcast(ndocs))
        .withColumn("weight",
          (col("tf") * col("n_docs")).cast("double") / col("df").cast("double"))
      val w = Window.partitionBy("doc_id").orderBy(col("weight").desc, col("term"))
      weighted
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("doc_id", "rn", "term", "weight")
    }, oracleSql =
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
        |weighted AS (
        |  SELECT tf.doc_id, tf.term,
        |    CAST(tf.tf * nd.n_docs AS DOUBLE) / CAST(dfreq.df AS DOUBLE) AS weight
        |  FROM tf JOIN dfreq USING (term) CROSS JOIN nd),
        |ranked AS (
        |  SELECT doc_id, term, weight,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY weight DESC, term) AS rn
        |  FROM weighted)
        |SELECT doc_id, rn, term, weight FROM ranked WHERE rn <= 3""".stripMargin),

    // --- beyond-reference: banded range join (core.RangeJoin) ----------
    // Trailing-window interval join as an equi-join on time bands: the
    // non-equi BETWEEN would plan as a broadcast nested loop (O(n·m));
    // banding shuffles by band key instead — see RangeJoin scaladoc.
    QueryDef("q_range_join", (s, dir) => {
      val days = t(s, dir, "lineitem")
        .select(col("l_shipdate").cast("date").as("ship_day")).distinct()
      val ords = t(s, dir, "orders")
        .select(col("o_orderdate").cast("date").as("o_day"))
      graft.core.RangeJoin
        .trailingWindowJoin(days, "ship_day", ords, "o_day", lookbackDays = 3, bandDays = 4)
        .groupBy("ship_day")
        .agg(count(lit(1)).as("n_orders_trailing3"))
    }, oracleSql =
      """WITH days AS (SELECT DISTINCT CAST(l_shipdate AS DATE) AS ship_day FROM lineitem)
        |SELECT d.ship_day, count(*) AS n_orders_trailing3
        |FROM days d JOIN orders o
        |  ON CAST(o.o_orderdate AS DATE) BETWEEN d.ship_day - 3 AND d.ship_day
        |GROUP BY d.ship_day""".stripMargin),

    // --- beyond-reference: deterministic train/val/test split ----------
    // Content-hash assignment (core.Sampling.stratifiedSplit): stable
    // across partitioning, engines, and corpus growth — no leakage when
    // the pipeline is re-run incrementally.
    QueryDef("q_train_split", (s, dir) => {
      t(s, dir, "documents")
        .withColumn("split", graft.core.Sampling.stratifiedSplit(
          col("doc_id"), Seq("train" -> "cc", "val" -> "e6"), rest = "test"))
        .groupBy("lang", "split")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
    }, oracleSql =
      """SELECT lang,
        |  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc' THEN 'train'
        |       WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
        |       ELSE 'test' END AS split,
        |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY 1, 2""".stripMargin),

    // --- beyond-reference: fixed-width histogram ------------------------
    // floor((x - lo) / width): one exact IEEE subtraction+division per
    // row, no width_bucket dependency — identical bucketing in any engine.
    QueryDef("q_histogram", (s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(floor((col("l_extendedprice") - 900.0) / 5000.0).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("l_extendedprice")).as("lo"),
          max(col("l_extendedprice")).as("hi"))
    }, oracleSql =
      """SELECT CAST(floor((l_extendedprice - 900.0) / 5000.0) AS BIGINT) AS bucket,
        |  count(*) AS n, min(l_extendedprice) AS lo, max(l_extendedprice) AS hi
        |FROM lineitem GROUP BY 1""".stripMargin),

    // --- beyond-reference: salted join (skew mitigation), oracled ------
    // l_returnflag has 3 values over the whole fact table — the worst
    // join-key skew possible. Layout.saltedJoin spreads each hot key over
    // saltFactor reducers; the oracle is the PLAIN join, proving the
    // rewrite is result-identical.
    QueryDef("q_salted_join", (s, dir) => {
      val flags = t(s, dir, "lineitem").sparkSession.createDataFrame(Seq(
        ("A", "returned"), ("N", "in_transit"), ("R", "refused")
      )).toDF("l_returnflag", "flag_desc")
      graft.core.Layout
        .saltedJoin(t(s, dir, "lineitem"), flags, "l_returnflag", saltFactor = 8)
        .groupBy("flag_desc")
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
    }, oracleSql =
      """WITH flags(l_returnflag, flag_desc) AS (
        |  VALUES ('A', 'returned'), ('N', 'in_transit'), ('R', 'refused'))
        |SELECT flag_desc, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(24,6))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN flags USING (l_returnflag)
        |GROUP BY flag_desc""".stripMargin),

    // --- beyond-reference: end-to-end dedup — cluster → survivor -------
    // The full corpus-dedup contract: EVERY doc maps to a representative
    // (its cluster's min id; itself when unique). Downstream consumes
    // `WHERE doc_id = rep` as the deduplicated corpus.
    QueryDef("q_dedup_survivors", (s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") % 5 === 0)
      val pairs = NearDup.jaccardVerify(
        NearDup.minhashCandidates(docs, "doc_id", "text",
          shingleLen = 3, numHashes = 12, bands = 12, maxBucket = 10000),
        docs, "doc_id", "text", shingleLen = 3, minJaccard = 0.8)
      val labels = NearDup
        .connectedComponentsAdaptive(pairs, "doc_id_a", "doc_id_b")
      docs.join(labels, docs("doc_id") === labels("id"), "left")
        .select(
          col("doc_id"),
          coalesce(col("label"), col("doc_id")).as("rep"),
          (coalesce(col("label"), col("doc_id")) === col("doc_id")).as("is_survivor"),
        )
    }, oracleSql =
      s"""WITH RECURSIVE docs AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS toks
        |  FROM documents WHERE doc_id % 5 = 0),
        |${shingleClosureCtes("docs", minJaccard = 0.8)},
        |labels AS (SELECT s AS doc_id, min(t) AS cluster FROM reach GROUP BY s)
        |SELECT d.doc_id, coalesce(l.cluster, d.doc_id) AS rep,
        |  coalesce(l.cluster, d.doc_id) = d.doc_id AS is_survivor
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 0) d
        |LEFT JOIN labels l USING (doc_id)""".stripMargin),

    // --- beyond-reference: quality-aware dedup survivors ----------------
    // Keep-BEST per near-dup cluster (longest doc wins, ties to the
    // smaller id) — the survivor policy production dedup runs, vs
    // q_dedup_survivors' keep-min-id. The argmax is one map-side-
    // combining max(struct) per cluster, no corpus-wide window
    // (NearDup.survivorsByQuality).
    QueryDef("q_dedup_best", (s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") % 5 === 0)
        .localCheckpoint(eager = false) // pairs + survivor join
      val labels = NearDup.connectedComponentsAdaptive(
        NearDup.jaccardVerify(
          NearDup.minhashCandidates(docs, "doc_id", "text",
            shingleLen = 3, numHashes = 12, bands = 12, maxBucket = 10000),
          docs, "doc_id", "text", shingleLen = 3, minJaccard = 0.8),
        "doc_id_a", "doc_id_b")
      NearDup.survivorsByQuality(docs, "doc_id", labels, quality = col("n_chars"))
        .select("doc_id", "cluster", "survivor_id", "is_survivor")
    },
      // Keep-best survivors: all-pairs closure at >= 0.8 on the %5 slice,
      // singleton fallback to own id, argmax (n_chars DESC, doc_id ASC).
      oracleSql =
      s"""WITH RECURSIVE d0 AS (
        |  SELECT doc_id, n_chars,
        |    list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS toks
        |  FROM documents WHERE doc_id % 5 = 0),
        |${shingleClosureCtes("d0", minJaccard = 0.8)},
        |lab AS (SELECT s AS doc_id, min(t) AS cluster FROM reach GROUP BY s),
        |cl AS (
        |  SELECT d0.doc_id, d0.n_chars, COALESCE(lab.cluster, d0.doc_id) AS cluster
        |  FROM d0 LEFT JOIN lab ON d0.doc_id = lab.doc_id),
        |best AS (
        |  SELECT cluster, doc_id AS survivor_id FROM (
        |    SELECT cluster, doc_id,
        |      row_number() OVER (PARTITION BY cluster ORDER BY n_chars DESC, doc_id ASC) AS rn
        |    FROM cl) WHERE rn = 1)
        |SELECT cl.doc_id, cl.cluster, best.survivor_id,
        |  cl.doc_id = best.survivor_id AS is_survivor
        |FROM cl JOIN best USING (cluster)""".stripMargin),

    // --- beyond-reference: Bloom-filter semi-join reduction ------------
    // Exact result (oracle = the PLAIN semi join): the Bloom pre-filter
    // only shrinks what reaches the shuffle — see core.BloomJoin.
    QueryDef("q_bloom_join", (s, dir) => {
      val bigOrders = t(s, dir, "orders").filter(col("o_totalprice") > 250000.0)
      graft.core.BloomJoin
        .semiJoinReduced(t(s, dir, "lineitem"), bigOrders,
          "l_orderkey", "o_orderkey", expectedItems = 100000L)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
    }, oracleSql =
      """SELECT l_returnflag, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(24,6))) AS DOUBLE) AS sum_qty
        |FROM lineitem l
        |WHERE EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_orderkey = l.l_orderkey AND o.o_totalprice > 250000.0)
        |GROUP BY l_returnflag""".stripMargin),

    // --- beyond-reference: ANSI-safe dirty-data ingestion ---------------
    // Malformed values become null instead of failing the job (Spark 4
    // runs ANSI mode by default, where a single bad row would kill a
    // 100 TB ingest; the reference relied on the permissive 3.x casts).
    // Performance note, measured here: try_cast/try_divide internally
    // throw-and-catch a JVM exception PER BAD ROW — fine when bad rows
    // are rare, ruinous on a known-dirty column (every junk_num row
    // fails → 2.5× query cost). For those, guard the cast with a cheap
    // regex/zero check so no exception path ever fires. The guard IS
    // the accepted-input spec (trimmed, ≤9 digits — deliberately
    // narrower than TRY_CAST, which also takes 10-digit ints, '5.0',
    // '1e3'); the oracle mirrors the same regex.
    QueryDef("q_try_cast", (s, dir) => {
      val prioNum = expr("try_cast(split(o_orderpriority, '-')[0] AS INT)") // rare-failure path: try_cast
      t(s, dir, "orders").select(
        col("o_orderkey"),
        prioNum.as("prio_num"),
        // known-dirty column: regex-guarded cast, no per-row exceptions.
        // trim first (TRY_CAST trims); ≤9 digits so the guarded ANSI cast
        // itself can never overflow int32 and throw. \z, not $: Java's $
        // also matches before a trailing newline, RE2's (DuckDB) does not.
        when(trim(col("o_orderpriority")).rlike("^[+-]?\\d{1,9}\\z"),
          trim(col("o_orderpriority")).cast("int")).as("junk_num"),
        // guarded divide instead of try_divide: the prio=1 band would
        // throw-and-catch DIVIDE_BY_ZERO on every row
        when(prioNum - 1 =!= 0, col("o_totalprice") / (prioNum - 1)).as("per_unit"),
      )
    }, oracleSql =
      """SELECT o_orderkey,
        |  TRY_CAST(string_split(o_orderpriority, '-')[1] AS INT) AS prio_num,
        |  CASE WHEN regexp_matches(trim(o_orderpriority), '^[+-]?\d{1,9}$')
        |       THEN CAST(trim(o_orderpriority) AS INT) END AS junk_num,
        |  o_totalprice / nullif(TRY_CAST(string_split(o_orderpriority, '-')[1] AS INT) - 1, 0) AS per_unit
        |FROM orders""".stripMargin),

    // --- beyond-reference: running distinct count (window rewrite) -----
    // No engine supports COUNT(DISTINCT) OVER a running frame; the
    // standard rewrite marks each key's first occurrence with row_number
    // and running-sums the flags — pure window algebra, shuffle-once.
    QueryDef("q_window_countd", (s, dir) => {
      val firstSeen = Window.partitionBy("o_custkey", "o_orderpriority")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val running = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders")
        .withColumn("first_flag",
          when(row_number().over(firstSeen) === 1, 1L).otherwise(0L))
        .select(
          col("o_orderkey"), col("o_custkey"),
          sum(col("first_flag")).over(running).as("distinct_prios_so_far"),
        )
    }, oracleSql =
      """WITH flagged AS (
        |  SELECT o_orderkey, o_custkey, o_orderdate,
        |    CASE WHEN row_number() OVER (PARTITION BY o_custkey, o_orderpriority
        |      ORDER BY o_orderdate, o_orderkey) = 1 THEN 1 ELSE 0 END AS first_flag
        |  FROM orders)
        |SELECT o_orderkey, o_custkey,
        |  CAST(sum(first_flag) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS distinct_prios_so_far
        |FROM flagged""".stripMargin),

    // --- beyond-reference: percent-of-total (ratio_to_report) ----------
    // Share = row / group total → one IEEE division per row. NOT a
    // whole-partition window: `sum() OVER (PARTITION BY flag)` on a
    // 3-value key collapses parallelism to 3 tasks and spills the whole
    // fact table through them. The agg+broadcast-join-back formulation is
    // result-identical, map-side combines, and scales with the input.
    QueryDef("q_pct_of_total", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val totals = li.groupBy("l_returnflag")
        .agg(sum(col("l_extendedprice").cast("decimal(24,6)")).cast("double").as("_tot"))
      li.join(broadcast(totals), Seq("l_returnflag"))
        .select(
          col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          (col("l_extendedprice") / col("_tot")).as("price_share"),
        )
    }, oracleSql =
      """SELECT l_orderkey, l_linenumber, l_returnflag,
        |  l_extendedprice / CAST(sum(CAST(l_extendedprice AS DECIMAL(24,6)))
        |    OVER (PARTITION BY l_returnflag) AS DOUBLE) AS price_share
        |FROM lineitem""".stripMargin),

    // --- beyond-reference: sequence packing (token-budget batches) -----
    // Assign docs to fixed-token-budget training batches in a stable
    // order (doc_id within lang): batch = floor(tokens-before-me /
    // budget) via a running window sum — deterministic, resumable, and
    // one shuffle per language partition. (Shared builder with
    // q_pack_sharded so the two variants cannot drift.)
    QueryDef("q_pack_batches", (s, dir) => packQuery(s, dir, shards = None), oracleSql =
      """WITH tk AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN trim(text) = '' OR text IS NULL THEN 0
        |         ELSE len(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) END AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, lang, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM tk)
        |SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(floor((cum - n_tokens) / 2000.0) AS BIGINT) AS batch_id
        |FROM c""".stripMargin),

    // --- beyond-reference: intra-doc repetition score (quality filter) --
    // Gopher-style repetition signal: fraction of word 3-grams that are
    // repeats of an earlier one in the SAME doc — high values flag
    // boilerplate/spam. distinct/total as an exact integer ratio.
    QueryDef("q_rep_ngrams", (s, dir) => {
      val sh = TextAnalysis.wordShingles(col("text"), 3)
      t(s, dir, "documents")
        .select(col("doc_id"), size(sh).as("n_grams"),
          size(array_distinct(sh)).as("n_distinct"))
        .filter(col("n_grams") > 0)
        .select(col("doc_id"), col("n_grams"), col("n_distinct"),
          (lit(1.0) - col("n_distinct").cast("double") / col("n_grams").cast("double"))
            .as("rep_score"))
    }, oracleSql =
      """WITH g AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) >= 3 THEN list_transform(range(1, len(toks) - 1),
        |      i -> array_to_string(toks[i:i+2], ' ')) ELSE [] END AS grams
        |  FROM (SELECT doc_id,
        |          list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS toks
        |        FROM documents))
        |SELECT doc_id, CAST(len(grams) AS INT) AS n_grams,
        |  CAST(len(list_distinct(grams)) AS INT) AS n_distinct,
        |  1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / CAST(len(grams) AS DOUBLE) AS rep_score
        |FROM g WHERE len(grams) > 0""".stripMargin),

    // --- beyond-reference: one-pass data profiling ----------------------
    // Per-column null/distinct/min/max in a single aggregation job
    // (core.Profile). acctbal is pinned to decimal(12,2) first: the
    // profile stringifies min/max, and double→string formatting is
    // engine-specific while decimal→string is not.
    QueryDef("q_profile", (s, dir) => {
      graft.core.Profile.profile(
        t(s, dir, "customer").withColumn("c_acctbal", col("c_acctbal").cast("decimal(12,2)")))
    }, oracleSql =
      """SELECT 'c_custkey' AS column_name, count(*) AS n,
        |  count(*) - count(c_custkey) AS nulls, count(DISTINCT c_custkey) AS n_distinct,
        |  CAST(min(c_custkey) AS VARCHAR) AS min_s, CAST(max(c_custkey) AS VARCHAR) AS max_s
        |FROM customer
        |UNION ALL SELECT 'c_name', count(*), count(*) - count(c_name), count(DISTINCT c_name),
        |  CAST(min(c_name) AS VARCHAR), CAST(max(c_name) AS VARCHAR) FROM customer
        |UNION ALL SELECT 'c_nationkey', count(*), count(*) - count(c_nationkey), count(DISTINCT c_nationkey),
        |  CAST(min(c_nationkey) AS VARCHAR), CAST(max(c_nationkey) AS VARCHAR) FROM customer
        |UNION ALL SELECT 'c_acctbal', count(*), count(*) - count(c_acctbal), count(DISTINCT c_acctbal),
        |  CAST(CAST(min(c_acctbal) AS DECIMAL(12,2)) AS VARCHAR),
        |  CAST(CAST(max(c_acctbal) AS DECIMAL(12,2)) AS VARCHAR) FROM customer
        |UNION ALL SELECT 'c_mktsegment', count(*), count(*) - count(c_mktsegment), count(DISTINCT c_mktsegment),
        |  CAST(min(c_mktsegment) AS VARCHAR), CAST(max(c_mktsegment) AS VARCHAR) FROM customer""".stripMargin),

    // --- beyond-reference: gaps-and-islands (SCD-2 interval build) ------
    // Collapse consecutive equal attribute values per key into validity
    // intervals via the row_number-difference trick: rn(key) − rn(key,
    // value) is constant within a run — pure window algebra, one shuffle,
    // the building block of slowly-changing-dimension histories.
    QueryDef("q_islands", (s, dir) => {
      val byKey = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
      val byKeyVal = Window.partitionBy("o_custkey", "o_orderpriority")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("grp", row_number().over(byKey) - row_number().over(byKeyVal))
        .groupBy("o_custkey", "o_orderpriority", "grp")
        .agg(
          min(col("o_orderdate").cast("date")).as("valid_from"),
          max(col("o_orderdate").cast("date")).as("valid_to"),
          count(lit(1)).as("n_orders"),
        )
        .drop("grp")
    }, oracleSql =
      """WITH g AS (
        |  SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) -
        |    row_number() OVER (PARTITION BY o_custkey, o_orderpriority
        |      ORDER BY o_orderdate, o_orderkey) AS grp
        |  FROM orders)
        |SELECT o_custkey, o_orderpriority,
        |  CAST(min(o_orderdate) AS DATE) AS valid_from,
        |  CAST(max(o_orderdate) AS DATE) AS valid_to,
        |  count(*) AS n_orders
        |FROM g GROUP BY o_custkey, o_orderpriority, grp""".stripMargin),

    // --- beyond-reference: per-dimension embedding statistics -----------
    // Feature-scaler "fit" at corpus scale: mean/sd per embedding
    // dimension. Values are quantized to decimal(12,6) per row; ties CAN
    // occur (dyadic floats end in a decimal 5 — e.g. 1/128 = 0.0078125
    // scales to 7812.5), but Spark's HALF_UP and DuckDB's half-away-from-
    // zero agree on every tie, positive or negative, so the quantization
    // is engine-identical; then the q_zscore integer-decimal recipe
    // applies.
    QueryDef("q_embed_dimstats", (s, dir) => {
      val qi = (col("v").cast("double").cast("decimal(12,6)") * lit(1000000))
        .cast("decimal(18,0)")
      t(s, dir, "embeddings")
        .select(posexplode(col("embedding")).as(Seq("pos", "v")))
        .select((col("pos") + 1).cast("int").as("dim"), qi.as("qi"))
        .groupBy("dim")
        .agg(count(lit(1)).as("n"),
          sum(col("qi")).cast("double").as("sx"),
          sum(col("qi") * col("qi")).cast("double").as("sxx"))
        .select(col("dim"), col("n"),
          (col("sx") / lit(1000000.0) / col("n")).as("mean_v"),
          (sqrt((col("n") * col("sxx") - col("sx") * col("sx")) /
            (col("n") * (col("n") - lit(1)))) / lit(1000000.0)).as("sd_v"))
    }, oracleSql =
      """WITH e AS (
        |  SELECT CAST(generate_subscripts(embedding, 1) AS INT) AS dim,
        |    CAST(CAST(CAST(unnest(embedding) AS DOUBLE) AS DECIMAL(12,6)) * 1000000
        |      AS DECIMAL(18,0)) AS qi
        |  FROM embeddings),
        |s AS (
        |  SELECT dim, count(*) AS n, CAST(sum(qi) AS DOUBLE) AS sx,
        |    CAST(sum(qi * qi) AS DOUBLE) AS sxx
        |  FROM e GROUP BY dim)
        |SELECT dim, n, sx / 1000000.0 / n AS mean_v,
        |  sqrt((n * sxx - sx * sx) / (n * (n - 1))) / 1000000.0 AS sd_v
        |FROM s""".stripMargin),

    // --- beyond-reference: INCREMENTAL dedup (new batch vs corpus) ------
    // Daily-ingest shape: find near-dups of the NEW docs (odd ids)
    // against themselves and the standing corpus (even ids) without ever
    // re-pairing the old corpus — see NearDup.incrementalCandidates.
    QueryDef("q_dedup_incremental", (s, dir) => {
      val docs = t(s, dir, "documents")
      val newBatch = docs.filter(col("doc_id") % 2 === 1)
      val corpus = docs.filter(col("doc_id") % 2 === 0)
      NearDup.jaccardVerify(
        NearDup.incrementalCandidates(newBatch, corpus, "doc_id", "text",
          shingleLen = 3, numHashes = 12, bands = 12, maxBucket = 10000),
        docs, "doc_id", "text", shingleLen = 3, minJaccard = 0.8)
    }, oracleSql =
      """WITH docs AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, CASE WHEN len(toks) >= 3
        |    THEN list_distinct(list_transform(range(1, len(toks) - 1),
        |      i -> array_to_string(toks[i:i+2], ' ')))
        |    ELSE [] END AS sh FROM docs)
        |SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
        |  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |        len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jaccard
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE (a.doc_id % 2 = 1 OR b.doc_id % 2 = 1)
        |  AND len(list_distinct(list_concat(a.sh, b.sh))) > 0
        |  AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |      len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8""".stripMargin),

    // --- beyond-reference: cross-document exact substring dedup ---------
    // The suffix-array training-data op (Lee et al. 2022) as gram-anchored
    // span assembly: 40-char windows shared by ≥2 distinct docs, merged
    // into maximal per-doc spans ≥60 chars — the verbatim text a dedup
    // pass would cut even when the documents as a whole are distinct.
    // Shuffles key on gram then doc_id, never doc×doc; see SubstringDedup.
    QueryDef("q_substring_dedup", (s, dir) =>
      SubstringDedup.sharedSpans(t(s, dir, "documents"), "doc_id", "text",
        gramLen = 40, minSpan = 60), oracleSql =
      s"""WITH $sharedGramRunCtes
        |SELECT doc_id, min(pos) AS span_start, max(pos) + 39 AS span_end,
        |  max(pos) + 40 - min(pos) AS span_len, count(*) AS n_grams
        |FROM grp GROUP BY doc_id, g
        |HAVING span_len >= 60""".stripMargin),

    // The removal half of the same operator: splice every non-canonical
    // copy of each shared span out of its document and account for the
    // cut (scrubbed text surfaces as length + md5 — scalar, hashable).
    QueryDef("q_substring_scrub", (s, dir) =>
      SubstringDedup.removeShared(t(s, dir, "documents"), "doc_id", "text",
        gramLen = 40, minSpan = 60)
        .select(col("doc_id"), col("n_cuts"), col("chars_removed"),
          length(col("text_clean")).cast("long").as("out_len"),
          md5(col("text_clean")).as("out_md5")), oracleSql =
      s"""WITH $sharedGramRunCtes,
        |spans AS (
        |  SELECT doc_id, min(pos) AS span_start, max(pos) + 39 AS span_end,
        |    max(pos) + 40 - min(pos) AS span_len
        |  FROM grp GROUP BY doc_id, g HAVING span_len >= 60),
        |stext AS (
        |  SELECT s.*, substr(d.text, CAST(span_start AS INT), CAST(span_len AS INT)) AS span_text
        |  FROM spans s JOIN documents d USING (doc_id)),
        |cuts AS (
        |  SELECT doc_id, span_start, span_end, span_len FROM (
        |    SELECT *,
        |      row_number() OVER (PARTITION BY span_text ORDER BY doc_id, span_start) AS occ,
        |      count(*) OVER (PARTITION BY span_text) AS n_occ
        |    FROM stext)
        |  WHERE occ > 1 AND n_occ > 1),
        |segf AS (
        |  SELECT doc_id, span_start, span_end, span_len,
        |    coalesce(lag(span_end) OVER (PARTITION BY doc_id ORDER BY span_start), 0) + 1 AS seg_from
        |  FROM cuts),
        |agg AS (
        |  SELECT s.doc_id, count(*) AS n_cuts,
        |    CAST(sum(span_len) AS BIGINT) AS chars_removed,
        |    string_agg(substr(d.text, CAST(seg_from AS INT), CAST(span_start - seg_from AS INT)), ''
        |      ORDER BY span_start)
        |      || substr(d.text, CAST(max(span_end) + 1 AS INT), length(d.text)) AS text_clean
        |  FROM segf s JOIN documents d USING (doc_id)
        |  GROUP BY s.doc_id, d.text)
        |SELECT d.doc_id,
        |  coalesce(a.n_cuts, 0) AS n_cuts,
        |  coalesce(a.chars_removed, 0) AS chars_removed,
        |  length(coalesce(a.text_clean, d.text)) AS out_len,
        |  md5(coalesce(a.text_clean, d.text)) AS out_md5
        |FROM documents d LEFT JOIN agg a USING (doc_id)""".stripMargin),

    // --- beyond-reference: corpus boilerplate n-grams (C4-style) --------
    // Word 5-grams appearing in ≥ 3 distinct docs are boilerplate
    // (headers, disclaimers, spam templates — threshold sized so the
    // synthetic corpus actually HAS hot grams; a higher cut would leave
    // the signal path untested); per-doc boilerplate fraction is the
    // removal signal. Exact integer ratio — no libm. Grams computed
    // once: hot-set membership arrives as a flag join, and one groupBy
    // yields both counts (no triple shingle pass, no right-join repair).
    QueryDef("q_boilerplate", (s, dir) => {
      // grams feeds two consumers (hot-set agg + the flag join); the lazy
      // checkpoint runs the shingle+explode pass once instead of twice.
      // Hot membership stays a JOIN (not collect_list per gram): a mega-
      // hot boilerplate gram in millions of docs would make a per-gram
      // doc-list aggregation a skew bomb at corpus scale.
      val grams = t(s, dir, "documents")
        .select(col("doc_id"), explode(array_distinct(
          TextAnalysis.wordShingles(col("text"), 5))).as("gram"))
        .localCheckpoint(false)
      val hot = grams.groupBy("gram")
        .agg(countDistinct(col("doc_id")).as("ndocs"))
        .filter(col("ndocs") >= 3)
        .select(col("gram"), lit(1L).as("is_hot"))
      grams
        .join(hot, Seq("gram"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(coalesce(col("is_hot"), lit(0L))).as("n_boiler"))
        .select(col("doc_id"), col("n_boiler"), col("n_grams"),
          (col("n_boiler").cast("double") / col("n_grams").cast("double")).as("boiler_frac"))
    }, oracleSql =
      s"""WITH $docWord5GramCtes
        |hot AS (SELECT gram FROM grams GROUP BY gram HAVING count(DISTINCT doc_id) >= 3)
        |SELECT doc_id,
        |  CAST(sum(CASE WHEN gram IN (SELECT gram FROM hot) THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
        |  count(*) AS n_grams,
        |  CAST(sum(CASE WHEN gram IN (SELECT gram FROM hot) THEN 1 ELSE 0 END) AS DOUBLE) /
        |    CAST(count(*) AS DOUBLE) AS boiler_frac
        |FROM grams GROUP BY doc_id""".stripMargin),

    // --- beyond-reference: SHARDED sequence packing ---------------------
    // q_pack_batches' window partitions by language alone — correct, but
    // a 5-language corpus caps the packing at 5 tasks. Sharding the
    // window key by a doc-id bucket restores parallelism; batch ids are
    // then unique per (lang, shard), the usual contract when packing is
    // distributed. Same determinism: stable order within every shard.
    QueryDef("q_pack_sharded", (s, dir) => packQuery(s, dir, shards = Some(8)), oracleSql =
      """WITH tk AS (
        |  SELECT doc_id, lang, doc_id % 8 AS shard,
        |    CASE WHEN trim(text) = '' OR text IS NULL THEN 0
        |         ELSE len(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) END AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, lang, shard, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM tk)
        |SELECT doc_id, lang, CAST(shard AS BIGINT) AS shard,
        |  CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(floor((cum - n_tokens) / 2000.0) AS BIGINT) AS batch_id
        |FROM c""".stripMargin),

    // --- beyond-reference: RANGE window frame (trailing calendar week) -
    // Value-based frame, not row-based: every order sums the SAME
    // customer's orders whose date falls within the prior 6 days —
    // rows-frames can't express this when days are missing or repeated.
    QueryDef("q_window_range", (s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate").cast("date").cast("timestamp").cast("long"))
        .rangeBetween(-6L * 86400, 0)
      t(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"),
        col("o_orderdate").cast("date").as("day"),
        sum(col("o_totalprice").cast("decimal(24,6)")).over(w).cast("double").as("trail7d_spend"),
        count(lit(1)).over(w).as("trail7d_orders"),
      )
    }, oracleSql =
      """SELECT o_orderkey, o_custkey, CAST(o_orderdate AS DATE) AS day,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(24,6))) OVER w AS DOUBLE) AS trail7d_spend,
        |  count(*) OVER w AS trail7d_orders
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE)
        |  RANGE BETWEEN INTERVAL 6 DAYS PRECEDING AND CURRENT ROW)""".stripMargin),

    // --- beyond-reference: forward-fill imputation ----------------------
    // last_value(... IGNORE NULLS) over a running frame: carry the most
    // recent observed value forward — the standard time-series/feature
    // imputation. Here: each order carries the last finished ('F')
    // order's price for its customer.
    QueryDef("q_forward_fill", (s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"),
        last(when(col("o_orderstatus") === "F", col("o_totalprice")), ignoreNulls = true)
          .over(w).as("last_f_price"),
      )
    }, oracleSql =
      """SELECT o_orderkey, o_custkey,
        |  last_value(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END IGNORE NULLS)
        |    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_f_price
        |FROM orders""".stripMargin),

    // --- beyond-reference: per-group mode (most frequent value) --------
    // Mode with a deterministic tiebreak (smallest value wins): count per
    // (group, value), keep-best by (count desc, value asc) — the same
    // partial-aggregate shape as q_argmax_dedup, no full sort.
    QueryDef("q_mode", (s, dir) => {
      val counted = t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_quantity")
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("l_returnflag").orderBy(col("n").desc, col("l_quantity"))
      counted
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("l_returnflag"), col("l_quantity").as("mode_qty"), col("n"))
    }, oracleSql =
      """SELECT l_returnflag, l_quantity AS mode_qty, n FROM (
        |  SELECT l_returnflag, l_quantity, count(*) AS n,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY count(*) DESC, l_quantity) AS rn
        |  FROM lineitem GROUP BY l_returnflag, l_quantity)
        |WHERE rn = 1""".stripMargin),

    // --- beyond-reference: winsorize (outlier clipping at quartiles) ---
    // Per-group p25/p75 from exact quarter percentiles (bit-stable across
    // engines for integral inputs), broadcast back, clip with
    // least/greatest — the standard feature-cleaning step, fully
    // deterministic.
    QueryDef("q_winsorize", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val bounds = li.groupBy("l_returnflag")
        .agg(
          percentile(col("l_quantity"), lit(0.25)).as("p25"),
          percentile(col("l_quantity"), lit(0.75)).as("p75"))
      li.join(broadcast(bounds), Seq("l_returnflag"))
        .select(
          col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          greatest(col("p25"), least(col("p75"), col("l_quantity"))).as("qty_clipped"),
        )
    }, oracleSql =
      """WITH b AS (
        |  SELECT l_returnflag,
        |    quantile_cont(l_quantity, 0.25) AS p25,
        |    quantile_cont(l_quantity, 0.75) AS p75
        |  FROM lineitem GROUP BY 1)
        |SELECT l_orderkey, l_linenumber, l.l_returnflag,
        |  greatest(p25, least(p75, l_quantity)) AS qty_clipped
        |FROM lineitem l JOIN b USING (l_returnflag)""".stripMargin),

    // --- beyond-reference: per-group z-score normalization --------------
    // mean/std from exact decimal moment sums (same determinism recipe as
    // q_corr_manual: integer-scaled decimals → fixed-order IEEE doubles).
    QueryDef("q_zscore", (s, dir) => {
      val d12 = (c: Column) => c.cast("decimal(12,3)")
      val li = t(s, dir, "lineitem")
      val m = li.groupBy("l_returnflag")
        .agg(
          count(lit(1)).as("n"),
          (sum(d12(col("l_quantity"))) * lit(1000)).cast("decimal(38,0)").cast("double").as("sx"),
          (sum(d12(col("l_quantity")) * d12(col("l_quantity"))) * lit(1000000)).cast("decimal(38,0)").cast("double").as("sxx"),
        )
        .select(col("l_returnflag"),
          (col("sx") / lit(1000.0) / col("n")).as("mean_qty"),
          (sqrt((col("n") * col("sxx") - col("sx") * col("sx")) /
            (col("n") * (col("n") - lit(1)))) / lit(1000.0)).as("sd_qty"))
      li.join(broadcast(m), Seq("l_returnflag"))
        .select(
          col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          ((col("l_quantity") - col("mean_qty")) / col("sd_qty")).as("z_qty"),
        )
    }, oracleSql =
      """WITH s AS (
        |  SELECT l_returnflag, count(*) AS n,
        |    CAST(CAST(sum(CAST(l_quantity AS DECIMAL(12,3))) * 1000 AS DECIMAL(38,0)) AS DOUBLE) AS sx,
        |    CAST(CAST(sum(CAST(l_quantity AS DECIMAL(12,3)) * CAST(l_quantity AS DECIMAL(12,3))) * 1000000 AS DECIMAL(38,0)) AS DOUBLE) AS sxx
        |  FROM lineitem GROUP BY 1),
        |m AS (SELECT l_returnflag, sx / 1000.0 / n AS mean_qty,
        |    sqrt((n * sxx - sx * sx) / (n * (n - 1))) / 1000.0 AS sd_qty FROM s)
        |SELECT l_orderkey, l_linenumber, l.l_returnflag,
        |  (l_quantity - mean_qty) / sd_qty AS z_qty
        |FROM lineitem l JOIN m USING (l_returnflag)""".stripMargin),

    // --- beyond-reference: benchmark decontamination ---------------------
    // The training-corpus hygiene step: flag training docs sharing word
    // 5-grams with a held-out benchmark/eval set, so eval questions do
    // not leak into the training data. Shape is a gram-keyed left join
    // (train grams × distinct benchmark grams) — never doc×doc; at
    // 100 TB the benchmark gram set is small and broadcasts.
    QueryDef("q_decontaminate", (s, dir) => {
      val docs = t(s, dir, "documents")
      def grams(df: DataFrame) = df.select(col("doc_id"), explode(array_distinct(
        TextAnalysis.wordShingles(col("text"), 5))).as("gram"))
      val benchGrams = grams(docs.filter(col("doc_id") % 10 === 0))
        .select("gram").distinct().withColumn("hit", lit(1L))
      grams(docs.filter(col("doc_id") % 10 =!= 0))
        .join(broadcast(benchGrams), Seq("gram"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(coalesce(col("hit"), lit(0L))).as("n_contaminated"))
        .withColumn("contaminated", col("n_contaminated") > 0)
    }, oracleSql =
      s"""WITH $docWord5GramCtes
        |bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 10 = 0)
        |SELECT doc_id, count(*) AS n_grams,
        |  CAST(sum(CASE WHEN gram IN (SELECT gram FROM bench) THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_contaminated,
        |  sum(CASE WHEN gram IN (SELECT gram FROM bench) THEN 1 ELSE 0 END) > 0 AS contaminated
        |FROM grams WHERE doc_id % 10 <> 0 GROUP BY doc_id""".stripMargin),

    // --- beyond-reference: co-occurrence pairs (market-basket) ----------
    // Part pairs appearing together in ≥ 2 orders. Pairing happens INSIDE
    // each order (successor pairs over the sorted basket) — output is
    // bounded by Σ basket², never the corpus-wide O(n²) a self-join
    // builds; the oracle self-join is only viable because DuckDB runs at
    // toy scale.
    QueryDef("q_cooccur", (s, dir) =>
      basketPairs(s, dir)
        .select(col("a").as("part_a"), col("b").as("part_b"))
        .groupBy("part_a", "part_b")
        .agg(count(lit(1)).as("n_orders"))
        .filter(col("n_orders") >= 2),
      oracleSql =
      """WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
        |SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS n_orders
        |FROM lp a JOIN lp b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin),

    // --- beyond-reference: cohort retention matrix ----------------------
    // Classic activation analytics: cohort = month of a user's first
    // event; count distinct users active per (cohort, activity month).
    // Months derive from integer nanos via integer division only (a
    // double division of epoch-nanos would lose precision past 2^53).
    QueryDef("q_retention", (s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"),
          date_format(timestamp_micros(tsUs(col("ts"))), "yyyy-MM").as("month"))
        .distinct()
      val cohort = ev.groupBy("user_id").agg(min(col("month")).as("cohort_month"))
      ev.join(cohort, Seq("user_id"))
        .groupBy("cohort_month", "month")
        .agg(countDistinct(col("user_id")).as("n_users"))
    }, oracleSql =
      """WITH ev AS (
        |  SELECT DISTINCT user_id,
        |    strftime(make_timestamp(epoch_ns(ts) // 1000), '%Y-%m') AS month
        |  FROM events),
        |cohort AS (SELECT user_id, min(month) AS cohort_month FROM ev GROUP BY 1)
        |SELECT cohort_month, month, CAST(count(DISTINCT ev.user_id) AS BIGINT) AS n_users
        |FROM ev JOIN cohort USING (user_id) GROUP BY 1, 2""".stripMargin),

    // --- beyond-reference: CDC snapshot diff ----------------------------
    // Two keyed snapshots → added / removed / changed rows via one full
    // outer join on the key — the change-capture primitive when the
    // source has no log. Unchanged rows are dropped before they ever
    // leave the join.
    QueryDef("q_cdc_diff", (s, dir) => {
      val base = t(s, dir, "orders").select("o_orderkey", "o_totalprice")
      val old = base.filter(col("o_orderkey") % 7 =!= 0)
        .select(col("o_orderkey"), col("o_totalprice").as("old_price"))
      val neu = base.filter(col("o_orderkey") % 5 =!= 0)
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 3 === 0, col("o_totalprice") + 10.0)
            .otherwise(col("o_totalprice")).as("new_price"))
      old.join(neu, Seq("o_orderkey"), "full_outer")
        .withColumn("status",
          when(col("new_price").isNull, "removed")
            .when(col("old_price").isNull, "added")
            .when(col("old_price") =!= col("new_price"), "changed")
            .otherwise("unchanged"))
        .filter(col("status") =!= "unchanged")
    }, oracleSql =
      """WITH old AS (
        |  SELECT o_orderkey, o_totalprice AS old_price FROM orders WHERE o_orderkey % 7 <> 0),
        |neu AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 10.0 ELSE o_totalprice END AS new_price
        |  FROM orders WHERE o_orderkey % 5 <> 0),
        |d AS (
        |  SELECT coalesce(old.o_orderkey, neu.o_orderkey) AS o_orderkey, old_price, new_price,
        |    CASE WHEN new_price IS NULL THEN 'removed'
        |         WHEN old_price IS NULL THEN 'added'
        |         WHEN old_price <> new_price THEN 'changed'
        |         ELSE 'unchanged' END AS status
        |  FROM old FULL OUTER JOIN neu ON old.o_orderkey = neu.o_orderkey)
        |SELECT * FROM d WHERE status <> 'unchanged'""".stripMargin),

    // --- beyond-reference: interval → bucket coverage (in-transit/week) -
    // Each line occupies a bounded time interval (ship → ship+transit,
    // transit derived deterministically, ≤ 4 weeks); coverage per week
    // comes from EXPLODING each interval into its few week buckets and
    // aggregating — the same banding trick as core.RangeJoin, and the
    // scale-safe alternative to a non-equi interval join (no nested
    // loop, fan-out bounded by interval/bucket width). Integer day/week
    // arithmetic only — engine-portable, no timezone or rounding traps.
    QueryDef("q_interval_transit", (s, dir) => {
      t(s, dir, "lineitem")
        .select(
          expr("datediff(CAST(l_shipdate AS DATE), DATE '1995-01-01')").as("d0"),
          (pmod(col("l_orderkey") * 7 + col("l_linenumber"), lit(28)) + 1).cast("int").as("transit"),
        )
        .select(explode(sequence(expr("d0 div 7"), expr("(d0 + transit) div 7"))).as("week"))
        .groupBy("week")
        .agg(count(lit(1)).as("n_in_transit"))
        .select(
          col("week").cast("long").as("week"),
          date_add(lit("1995-01-01").cast("date"), (col("week") * 7).cast("int")).as("week_start"),
          col("n_in_transit"),
        )
    }, oracleSql =
      """WITH iv AS (
        |  SELECT date_diff('day', DATE '1995-01-01', CAST(l_shipdate AS DATE)) AS d0,
        |    (l_orderkey * 7 + l_linenumber) % 28 + 1 AS transit
        |  FROM lineitem),
        |wk AS (SELECT unnest(range(d0 // 7, (d0 + transit) // 7 + 1)) AS week FROM iv)
        |SELECT week, DATE '1995-01-01' + CAST(week * 7 AS INTEGER) AS week_start,
        |  count(*) AS n_in_transit
        |FROM wk GROUP BY 1, 2""".stripMargin),

    // --- beyond-reference: per-group least-squares regression -----------
    // Group-wise OLS of extendedprice on quantity from exact decimal
    // moment sums (q_corr_manual's determinism recipe: integer-scaled
    // decimals → a fixed tree of IEEE double ops). One partial-agg
    // shuffle; no second pass over the data.
    QueryDef("q_regress_slope", (s, dir) => {
      val d12 = (c: Column) => c.cast("decimal(12,3)")
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          count(lit(1)).as("n"),
          (sum(d12(col("l_quantity"))) * lit(1000)).cast("decimal(38,0)").cast("double").as("sx"),
          (sum(d12(col("l_extendedprice"))) * lit(1000)).cast("decimal(38,0)").cast("double").as("sy"),
          (sum(d12(col("l_quantity")) * d12(col("l_extendedprice"))) * lit(1000000)).cast("decimal(38,0)").cast("double").as("sxy"),
          (sum(d12(col("l_quantity")) * d12(col("l_quantity"))) * lit(1000000)).cast("decimal(38,0)").cast("double").as("sxx"),
        )
        .withColumn("slope",
          (col("n") * (col("sxy") / lit(1.0e6)) - (col("sx") / lit(1.0e3)) * (col("sy") / lit(1.0e3))) /
            (col("n") * (col("sxx") / lit(1.0e6)) - (col("sx") / lit(1.0e3)) * (col("sx") / lit(1.0e3))))
        .withColumn("intercept",
          ((col("sy") / lit(1.0e3)) - col("slope") * (col("sx") / lit(1.0e3))) / col("n"))
        .select("l_returnflag", "n", "slope", "intercept")
    }, oracleSql =
      """WITH m AS (
        |  SELECT l_returnflag, count(*) AS n,
        |    CAST(CAST(sum(CAST(l_quantity AS DECIMAL(12,3))) * 1000 AS DECIMAL(38,0)) AS DOUBLE) AS sx,
        |    CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,3))) * 1000 AS DECIMAL(38,0)) AS DOUBLE) AS sy,
        |    CAST(CAST(sum(CAST(l_quantity AS DECIMAL(12,3)) * CAST(l_extendedprice AS DECIMAL(12,3))) * 1000000 AS DECIMAL(38,0)) AS DOUBLE) AS sxy,
        |    CAST(CAST(sum(CAST(l_quantity AS DECIMAL(12,3)) * CAST(l_quantity AS DECIMAL(12,3))) * 1000000 AS DECIMAL(38,0)) AS DOUBLE) AS sxx
        |  FROM lineitem GROUP BY 1),
        |sl AS (
        |  SELECT l_returnflag, n,
        |    (n * (sxy / 1.0e6) - (sx / 1.0e3) * (sy / 1.0e3)) /
        |      (n * (sxx / 1.0e6) - (sx / 1.0e3) * (sx / 1.0e3)) AS slope,
        |    sx, sy
        |  FROM m)
        |SELECT l_returnflag, n, slope,
        |  ((sy / 1.0e3) - slope * (sx / 1.0e3)) / n AS intercept
        |FROM sl""".stripMargin),

    // --- beyond-reference: deterministic take-N per stratum -------------
    // "3 examples per class" without Dataset.sample's partition-dependent
    // randomness: order each stratum by md5(key) (content-derived,
    // engine-portable) and keep row_number ≤ N. Stable across runs,
    // repartitioning, and corpus growth for retained keys.
    QueryDef("q_stratified_take", (s, dir) => {
      val w = Window.partitionBy("lang")
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      t(s, dir, "documents")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select("lang", "doc_id", "rk")
    }, oracleSql =
      """SELECT lang, doc_id, rk FROM (
        |  SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 3""".stripMargin),

    // --- beyond-reference: vocabulary build + dictionary encoding -------
    // The tokenizer-adjacent step: rank terms by document frequency into
    // a dense vocab (top 50), broadcast it, and encode each doc as its
    // sorted in-vocab id set + OOV count. The top-50 cut is a distributed
    // TakeOrderedAndProject — NOT a global window, which would drag the
    // whole distinct-token table (tens of millions of rows at 100 TB)
    // through one task; ranks are then assigned window-free by
    // position-in-sorted-array over the already-bounded 50 rows.
    QueryDef("q_vocab_encode", (s, dir) => {
      // toks feeds the vocab build AND the encode join — checkpointed so
      // the tokenize+explode pass runs once, not twice.
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), explode(array_distinct(TextAnalysis.tokens(col("text")))).as("tok"))
        .localCheckpoint(false)
      val top50 = toks.groupBy("tok")
        .agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("tok"))
        .limit(50)
      // vid = 1-based rank by (df desc, tok): sort the 50 survivors inside
      // one collect_list (negated df makes the ascending array sort equal
      // the desired descending order) and posexplode the positions.
      val vocab = top50
        .agg(sort_array(collect_list(struct((-col("df")).as("ndf"), col("tok")))).as("arr"))
        .select(posexplode(col("arr")).as(Seq("p", "e")))
        .select(col("e.tok").as("tok"), (col("p") + 1).cast("int").as("vid"))
      toks.join(broadcast(vocab), Seq("tok"), "left")
        .groupBy("doc_id")
        .agg(
          count(when(col("vid").isNotNull, 1)).as("n_in_vocab"),
          count(when(col("vid").isNull, 1)).as("n_oov"),
          array_join(transform(sort_array(collect_list(col("vid"))), _.cast("string")), ",")
            .as("vocab_ids"),
        )
        // All-OOV docs: Spark's empty collect_list would render "", the
        // oracle's FILTERed list() renders NULL — pin NULL on both sides.
        .withColumn("vocab_ids", when(col("n_in_vocab") > 0, col("vocab_ids")))
    }, oracleSql =
      """WITH toks AS (
        |  SELECT DISTINCT doc_id, tok FROM (
        |    SELECT doc_id,
        |      unnest(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) AS tok
        |    FROM documents)),
        |vocab AS (
        |  SELECT tok, vid FROM (
        |    SELECT tok, row_number() OVER (ORDER BY count(*) DESC, tok) AS vid
        |    FROM toks GROUP BY tok)
        |  WHERE vid <= 50)
        |SELECT doc_id,
        |  CAST(sum(CASE WHEN vid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_in_vocab,
        |  CAST(sum(CASE WHEN vid IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |  array_to_string(list_sort(list(vid) FILTER (WHERE vid IS NOT NULL)), ',') AS vocab_ids
        |FROM toks LEFT JOIN vocab USING (tok) GROUP BY doc_id""".stripMargin),

    // --- beyond-reference: exponential moving average (sequential fold) -
    // EMA is inherently order-sequential — no window frame expresses it.
    // Per-key it folds INSIDE a collected array (aggregate HOF over the
    // sorted per-customer order history): one shuffle, fold is a narrow
    // codegen'd expression, per-key state never leaves its row. Exact
    // cross-engine because both engines run the identical IEEE op tree
    // (left fold of acc/2 + x/2 over identically-sorted doubles).
    QueryDef("q_ema", (s, dir) => {
      val arr = sort_array(collect_list(struct(
        col("o_orderdate"), col("o_orderkey"), col("o_totalprice"))))
      t(s, dir, "orders")
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"), arr.as("hist"))
        .withColumn("prices", transform(col("hist"), x => x.getField("o_totalprice")))
        .withColumn("ema",
          aggregate(
            slice(col("prices"), lit(2), greatest(size(col("prices")) - 1, lit(0))),
            get(col("prices"), lit(0)),
            (acc, x) => acc / lit(2) + x / lit(2)))
        .select("o_custkey", "n_orders", "ema")
    }, oracleSql =
      """SELECT o_custkey, n_orders,
        |  list_reduce(CAST(prices AS DOUBLE[]), (acc, x) -> acc / 2 + x / 2) AS ema
        |FROM (
        |  SELECT o_custkey, count(*) AS n_orders,
        |    list(o_totalprice ORDER BY o_orderdate, o_orderkey) AS prices
        |  FROM orders GROUP BY 1)""".stripMargin),

    // --- beyond-reference: day-of-week seasonality index -----------------
    // The multiplicative seasonal profile (the decomposition's seasonal
    // factor at weekly period): per event type and weekday, mean value
    // over the weekday's events divided by the type's overall mean.
    // Weekday derives from integer epoch-day arithmetic ((d+4) mod 7,
    // 0 = Sunday) — engine date functions disagree on week conventions,
    // integer math cannot. Exact decimal sums; two aggregations.
    QueryDef("q_seasonal_index", (s, dir) => {
      val daily = t(s, dir, "events")
        .select(col("event_type"), col("value"),
          pmod(floor(tsUs(col("ts")) / 86400000000L) + 4, lit(7)).cast("int").as("dow"))
      val byDow = daily.groupBy("event_type", "dow")
        .agg(count(lit(1)).as("n"), sum(col("value").cast("decimal(24,6)")).as("sv"))
      val overall = daily.groupBy("event_type")
        .agg(count(lit(1)).as("n_all"), sum(col("value").cast("decimal(24,6)")).as("sv_all"))
      byDow.join(broadcast(overall), Seq("event_type"))
        .select(col("event_type"), col("dow"), col("n"),
          round((col("sv").cast("double") / col("n").cast("double")) /
            (col("sv_all").cast("double") / col("n_all").cast("double")), 6).as("seasonal_index"))
    }, oracleSql =
      """WITH d AS (
        |  SELECT event_type, value,
        |    CAST((CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) + 4) % 7 AS INT) AS dow
        |  FROM events),
        |byd AS (
        |  SELECT event_type, dow, CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(value AS DECIMAL(24,6))) AS sv
        |  FROM d GROUP BY 1, 2),
        |ov AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_all,
        |    sum(CAST(value AS DECIMAL(24,6))) AS sv_all
        |  FROM d GROUP BY 1)
        |SELECT event_type, dow, n,
        |  round((CAST(sv AS DOUBLE) / CAST(n AS DOUBLE)) /
        |        (CAST(sv_all AS DOUBLE) / CAST(n_all AS DOUBLE)), 6) AS seasonal_index
        |FROM byd JOIN ov USING (event_type)""".stripMargin),

    // --- beyond-reference: CUSUM changepoint detection -------------------
    // Where did the level shift? Per event type, daily value totals
    // (exact decimal), CUSUM_d = running Σ (v_d − mean) over the day
    // sequence, changepoint = the day maximizing |CUSUM| (ties to the
    // earliest day). Prefix sums are sequential by definition
    // (order-deterministic), the mean is one division of exact decimal
    // casts, and the argmax is a WindowGroupLimit top-1 — one shuffle on
    // the type key carries the running window, the stats join, and the
    // argmax.
    QueryDef("q_changepoint", (s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(col("event_type"),
          floor(tsUs(col("ts")) / 86400000000L).cast("long").as("day"))
        .agg(sum(col("value").cast("decimal(24,6)")).as("vd"))
      val stats = daily.groupBy("event_type")
        .agg(count(lit(1)).as("n_days"), sum(col("vd")).as("tot"))
        .withColumn("mean", col("tot").cast("double") / col("n_days").cast("double"))
        .select("event_type", "n_days", "mean")
      val wRun = Window.partitionBy(col("event_type")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wOrd = Window.partitionBy(col("event_type")).orderBy(col("day"))
      val wTop = Window.partitionBy(col("event_type"))
        .orderBy(abs(col("cusum")).desc, col("day"))
      daily
        .join(broadcast(stats), Seq("event_type"))
        // CUSUM_d = (Σ_{i≤d} v_i) − d·mean: the prefix sum stays DECIMAL
        // (exact — immune to DuckDB's segment-tree window summation
        // order on doubles), only the final two ops are float.
        .withColumn("prefix", sum(col("vd")).over(wRun))
        .withColumn("idx", row_number().over(wOrd))
        .withColumn("cusum",
          col("prefix").cast("double") - col("idx").cast("double") * col("mean"))
        .withColumn("rn", row_number().over(wTop))
        .filter(col("rn") === 1)
        .select(col("event_type"), col("n_days"), col("day").as("cp_day"),
          round(col("cusum"), 4).as("cusum"))
    }, oracleSql =
      """WITH daily AS (
        |  SELECT event_type,
        |    CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
        |    sum(CAST(value AS DECIMAL(24,6))) AS vd
        |  FROM events GROUP BY 1, 2),
        |stats AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
        |    CAST(sum(vd) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean
        |  FROM daily GROUP BY 1),
        |cus AS (
        |  SELECT d.event_type, s.n_days, d.day,
        |    CAST(sum(d.vd) OVER (PARTITION BY d.event_type ORDER BY d.day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    - CAST(row_number() OVER (PARTITION BY d.event_type ORDER BY d.day) AS DOUBLE)
        |      * s.mean AS cusum
        |  FROM daily d JOIN stats s USING (event_type))
        |SELECT event_type, n_days, day AS cp_day, round(cusum, 4) AS cusum
        |FROM (
        |  SELECT event_type, n_days, day, cusum,
        |    row_number() OVER (PARTITION BY event_type ORDER BY abs(cusum) DESC, day) AS rn
        |  FROM cus)
        |WHERE rn = 1""".stripMargin),

    // --- beyond-reference: Holt double-exponential forecast --------------
    // The forecasting member of the time-series family (q_ema smooths
    // level only; Holt carries level + trend): per customer, fold the
    // ordered spend history through l ← αx + (1−α)(l+b),
    // b ← β(l − l_prev) + (1−β)b with dyadic α = β = 0.5 (every product
    // exactly representable-op — correctly rounded identically in both
    // engines), init (l, b) = (x₁, 0) so single-order customers need no
    // special case; one-step-ahead forecast = l + b. One shuffle to the
    // sorted per-key history, then a struct-state HOF fold — the oracle
    // replays the recursion as a recursive CTE (the PageRank shape).
    QueryDef("q_holt", (s, dir) => {
      val arr = sort_array(collect_list(struct(
        col("o_orderdate"), col("o_orderkey"), col("o_totalprice"))))
      t(s, dir, "orders")
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"), arr.as("hist"))
        .withColumn("prices", transform(col("hist"), x => x.getField("o_totalprice")))
        // Emitted UNROUNDED: every update op is correctly rounded on
        // identical trees, so the raw double is bit-equal cross-engine —
        // where round(…, 6) diverged on an exact .xxxxxx5 tie (HALF_UP
        // on the exact expansion vs DuckDB's scaled-away rounding; hit
        // in practice at sf0.01, custkey 1077).
        .withColumn("forecast", aggregate(
          slice(col("prices"), lit(2), greatest(size(col("prices")) - 1, lit(0))),
          struct(get(col("prices"), lit(0)).as("l"), lit(0.0).as("b")),
          (acc, x) => {
            val lNew = lit(0.5) * x + lit(0.5) * (acc.getField("l") + acc.getField("b"))
            struct(lNew.as("l"),
              (lit(0.5) * (lNew - acc.getField("l")) + lit(0.5) * acc.getField("b")).as("b"))
          },
          acc => acc.getField("l") + acc.getField("b")))
        .select("o_custkey", "n_orders", "forecast")
    },
      // Holt recursion replayed as a recursive CTE: the same dyadic
      // level/trend updates step i → i+1 per customer.
      oracleSql =
      """WITH RECURSIVE p AS (
        |  SELECT o_custkey, CAST(count(*) AS BIGINT) AS n,
        |    CAST(list(o_totalprice ORDER BY o_orderdate, o_orderkey) AS DOUBLE[]) AS prices
        |  FROM orders GROUP BY 1),
        |h(o_custkey, i, l, b) AS (
        |  SELECT o_custkey, 1, prices[1], CAST(0.0 AS DOUBLE) FROM p
        |  UNION ALL
        |  SELECT h.o_custkey, h.i + 1,
        |    0.5 * p.prices[h.i + 1] + 0.5 * (h.l + h.b),
        |    0.5 * ((0.5 * p.prices[h.i + 1] + 0.5 * (h.l + h.b)) - h.l) + 0.5 * h.b
        |  FROM h JOIN p USING (o_custkey) WHERE h.i < p.n)
        |SELECT x.o_custkey, p.n AS n_orders, x.l + x.b AS forecast
        |FROM (
        |  SELECT o_custkey, l, b,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY i DESC) AS rn
        |  FROM h) x JOIN p USING (o_custkey)
        |WHERE x.rn = 1""".stripMargin),

    // --- beyond-reference: bigram language-model scoring ----------------
    // Model-based text quality: train bigram transition counts on 90% of
    // the corpus, score EVERY doc by its weakest transition (min p) and
    // its unseen-bigram count. min over identical one-division doubles is
    // order-independent — engine-exact without log-space math. The model
    // is a grams-keyed join, never doc×doc; at scale the model table is
    // the aggregation output, naturally small.
    QueryDef("q_bigram_lm", (s, dir) => {
      // bi feeds three consumers (bigram counts, prefix counts, scoring
      // join) — checkpointed so the shingle pass runs once, not thrice.
      val bi = t(s, dir, "documents")
        .select(col("doc_id"), explode(TextAnalysis.wordShingles(col("text"), 2)).as("bg"))
        .localCheckpoint(false)
      val train = bi.filter(col("doc_id") % 10 =!= 9)
      val bgCount = train.groupBy("bg").agg(count(lit(1)).as("c_bg"))
      val pfxCount = train
        .select(substring_index(col("bg"), " ", 1).as("pfx"))
        .groupBy("pfx").agg(count(lit(1)).as("c_pfx"))
      val model = bgCount
        .withColumn("pfx", substring_index(col("bg"), " ", 1))
        .join(pfxCount, Seq("pfx"))
        .select(col("bg"), (col("c_bg").cast("double") / col("c_pfx").cast("double")).as("p"))
      bi.join(model, Seq("bg"), "left")
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_bigrams"),
          count(when(col("p").isNull, 1)).as("n_oov"),
          min(col("p")).as("min_p"),
        )
    }, oracleSql =
      s"""WITH $docBigramCtes
        |bgc AS (SELECT bg, count(*) AS c_bg FROM bi WHERE doc_id % 10 <> 9 GROUP BY 1),
        |pfx AS (SELECT split_part(bg, ' ', 1) AS pfx, count(*) AS c_pfx
        |  FROM bi WHERE doc_id % 10 <> 9 GROUP BY 1),
        |model AS (
        |  SELECT bg, CAST(c_bg AS DOUBLE) / CAST(c_pfx AS DOUBLE) AS p
        |  FROM bgc JOIN pfx ON split_part(bgc.bg, ' ', 1) = pfx.pfx)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  CAST(sum(CASE WHEN p IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |  min(p) AS min_p
        |FROM bi LEFT JOIN model USING (bg) GROUP BY doc_id""".stripMargin),

    // (overlapping document chunking lives at "q_chunk_overlap" below —
    // consolidated r10 into the graft.text.Packing library operator.)

    // --- beyond-reference: mergeable sketch aggregation ----------------
    // The incremental-pipeline primitive: per-month HLL sketches of
    // distinct order keys union into the per-flag total WITHOUT rescanning
    // history — yesterday's corpus sketch + today's batch sketch = the
    // updated total. Oracled by CONTRACT like q_approx_stats: exact
    // per-flag distinct counts + month counts hash-compare against
    // DuckDB, and the merged estimate must sit within 3·rsd (lgK=12 →
    // rsd ≈ 1.6%, bound 5%) of exact or the boolean flips and the gate
    // fails. AsOfSpec additionally asserts merged ≈ direct single-pass.
    //
    // The bench shape is the sketch pipeline a user would run (partial →
    // merged estimate); the exact countDistinct pass exists only to buy
    // the oracle's green row — same trade as q_approx_stats.
    QueryDef("q_sketch_merge", (s, dir) => {
      val exact = t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(countDistinct(col("l_orderkey")).as("exact_distinct_orders"))
      mergedMonthlyHll(s, dir).join(exact, Seq("l_returnflag"))
        .select(
          col("l_returnflag"), col("n_months"), col("exact_distinct_orders"),
          (abs(col("est") - col("exact_distinct_orders"))
            <= col("exact_distinct_orders") * lit(0.05)).as("merged_within_3rsd"),
        )
    }, bench = Some((s, dir) =>
      mergedMonthlyHll(s, dir).select(col("l_returnflag"), col("n_months"),
        round(col("est"), 0).cast("long").as("approx_distinct_orders"))),
      oracleSql =
      """SELECT l_returnflag,
        |  count(DISTINCT strftime(CAST(l_shipdate AS DATE), '%Y-%m')) AS n_months,
        |  count(DISTINCT l_orderkey) AS exact_distinct_orders,
        |  TRUE AS merged_within_3rsd
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),

    // --- beyond-reference: ordered event funnel (view→click→purchase) ---
    // Sequence detection per user as a HOF state machine: one shuffle
    // collects each user's time-sorted events, then a codegen'd fold
    // walks the sequence tracking the first view, the first click after
    // it, and the first purchase after that. Equivalent to the oracle's
    // three chained min-aggregations but in ONE pass (the three-CTE form
    // rescans and reshuffles events per step). Per-user state is one
    // small struct; the collected array is bounded by per-user activity
    // (the usual sessionization caveat at 100 TB — window the input
    // first when users can be unbounded).
    QueryDef("q_funnel_events", (s, dir) => {
      def f(st: Column, field: String) = st.getField(field)
      val folded = aggregate(
        col("seq"),
        struct(lit(null).cast("long").as("t1"), lit(null).cast("long").as("t2"),
          lit(null).cast("long").as("t3")),
        (st, e) => {
          val ts = e.getField("ts"); val et = e.getField("event_type")
          when(f(st, "t1").isNull && et === "view",
            struct(ts.as("t1"), f(st, "t2").as("t2"), f(st, "t3").as("t3")))
            .when(f(st, "t1").isNotNull && f(st, "t2").isNull && et === "click" && ts > f(st, "t1"),
              struct(f(st, "t1").as("t1"), ts.as("t2"), f(st, "t3").as("t3")))
            .when(f(st, "t2").isNotNull && f(st, "t3").isNull && et === "purchase" && ts > f(st, "t2"),
              struct(f(st, "t1").as("t1"), f(st, "t2").as("t2"), ts.as("t3")))
            .otherwise(st)
        })
      // Microsecond timestamps throughout: DuckDB timestamps are µs-
      // precision, so nano-space comparisons would diverge at ties.
      t(s, dir, "events")
        .select(tsUs(col("ts")).as("ts"), col("event_type"), col("user_id"))
        .groupBy("user_id")
        .agg(sort_array(collect_list(struct(col("ts"), col("event_type")))).as("seq"))
        .withColumn("st", folded)
        .select(
          col("user_id"),
          (when(col("st.t1").isNotNull, 1).otherwise(0) +
            when(col("st.t2").isNotNull, 1).otherwise(0) +
            when(col("st.t3").isNotNull, 1).otherwise(0)).as("step_reached"),
          col("st.t1").as("view_ts"), col("st.t2").as("click_ts"), col("st.t3").as("purchase_ts"),
        )
    }, oracleSql =
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tsn FROM events),
        |v AS (SELECT user_id, min(tsn) AS t1 FROM e WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(tsn) AS t2 FROM e JOIN v USING (user_id)
        |  WHERE event_type = 'click' AND tsn > t1 GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(tsn) AS t3 FROM e JOIN c USING (user_id)
        |  WHERE event_type = 'purchase' AND tsn > t2 GROUP BY e.user_id)
        |SELECT u.user_id,
        |  CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END +
        |  CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END +
        |  CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END AS step_reached,
        |  t1 AS view_ts, t2 AS click_ts, t3 AS purchase_ts
        |FROM (SELECT DISTINCT user_id FROM e) u
        |LEFT JOIN v USING (user_id) LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)""".stripMargin),

    // --- beyond-reference: skyline (Pareto front) ------------------------
    // Non-dominated (cheapest price, largest size) parts, computed in the
    // standard distributed two-phase shape: local skylines per price
    // bucket (parallel windows; dominance inside a bucket implies global
    // dominance, so nothing a local pass drops could have survived), then
    // the exact global skyline over the few survivors as a BROADCAST
    // anti-join dominance check — the r5 shape ran the global phase as an
    // unpartitioned running-max window, i.e. the exact single-partition
    // funnel this engine bans everywhere else. Over DISTINCT (price, size)
    // points, p survives iff no point q has price ≤ p.price AND size ≥
    // p.size with at least one strict; the survivor set is small (a union
    // of per-bucket skylines), so it broadcasts and the check streams.
    QueryDef("q_skyline", (s, dir) => {
      val pts = t(s, dir, "part")
        .select(col("p_retailprice").as("price"), col("p_size").as("size"))
        .distinct()
      // Local phase: running-max-of-size per price bucket (exact within a
      // bucket over distinct points: dominated iff an earlier point in
      // (price asc, size desc) order has size ≥ its own).
      val w = Window.partitionBy(col("bucket"))
        .orderBy(col("price").asc, col("size").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val local = pts.withColumn("bucket", floor(col("price") / 1000.0))
        .withColumn("mx", max(col("size")).over(w))
        .filter(col("mx").isNull || col("mx") < col("size"))
        .drop("mx", "bucket")
      val dom = local.select(col("price").as("dp"), col("size").as("dsz"))
      local.join(broadcast(dom),
        col("dp") <= col("price") && col("dsz") >= col("size") &&
          (col("dp") < col("price") || col("dsz") > col("size")), "left_anti")
    }, oracleSql =
      """WITH pts AS (SELECT DISTINCT p_retailprice AS price, p_size AS size FROM part),
        |m AS (
        |  SELECT price, size, max(size) OVER (ORDER BY price ASC, size DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mx
        |  FROM pts)
        |SELECT price, size FROM m WHERE mx IS NULL OR mx < size""".stripMargin),

    // --- beyond-reference: PII scrubbing rulebook ------------------------
    // Redact emails, phone numbers, and account names with an ORDERED
    // regex fold (Cleanup.regexRules — same fold as the reference's
    // PanelApp rulebook) and count each class for the compliance audit.
    // The corpus here is synthesized deterministically from customer so
    // the rules have real matches. One narrow codegen'd projection.
    QueryDef("q_pii_scrub", (s, dir) => {
      val raw = concat(
        lit("reach "), col("c_name"),
        lit(" at "), lower(regexp_replace(col("c_name"), "#", "")), lit("@corp.example or +1-555-"),
        lpad(pmod(col("c_custkey"), lit(10000)).cast("string"), 4, "0"))
      t(s, dir, "customer")
        .select(col("c_custkey"), raw.as("contact"))
        .withColumn("n_email", size(regexp_extract_all(col("contact"), lit("[a-z0-9]+@[a-z.]+"), lit(0))).cast("long"))
        .withColumn("n_phone", size(regexp_extract_all(col("contact"), lit("\\+1-[0-9]{3}-[0-9]{4}"), lit(0))).cast("long"))
        .withColumn("n_name", size(regexp_extract_all(col("contact"), lit("Customer#[0-9]+"), lit(0))).cast("long"))
        .withColumn("scrubbed", Cleanup.regexRules(col("contact"), Seq(
          "[a-z0-9]+@[a-z.]+" -> "<EMAIL>",
          "\\+1-[0-9]{3}-[0-9]{4}" -> "<PHONE>",
          "Customer#[0-9]+" -> "<NAME>")))
        .drop("contact")
    }, oracleSql =
      """WITH c AS (
        |  SELECT c_custkey,
        |    'reach ' || c_name || ' at ' || lower(replace(c_name, '#', '')) ||
        |      '@corp.example or +1-555-' || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')
        |      AS contact
        |  FROM customer)
        |SELECT c_custkey,
        |  len(regexp_extract_all(contact, '[a-z0-9]+@[a-z.]+')) AS n_email,
        |  len(regexp_extract_all(contact, '\+1-[0-9]{3}-[0-9]{4}')) AS n_phone,
        |  len(regexp_extract_all(contact, 'Customer#[0-9]+')) AS n_name,
        |  regexp_replace(regexp_replace(regexp_replace(contact,
        |    '[a-z0-9]+@[a-z.]+', '<EMAIL>', 'g'),
        |    '\+1-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'),
        |    'Customer#[0-9]+', '<NAME>', 'g') AS scrubbed
        |FROM c""".stripMargin),

    // --- beyond-reference: canonical-URL keep-best dedup ---------------
    // Composition of Urls.canonicalizeUrl with the aggregation-path
    // keep-best (Dedup.bestRowPerKey: shuffles pre-combined partials,
    // never whole-row windows): the fetch-dedup step of a crawl pipeline
    // — same page under case/www/slash/tracking variants keeps the
    // longest copy (ties: max doc id). The oracle constructs the expected
    // CANONICAL form directly from the synthesis arithmetic, so any drift
    // in the Spark-side canonicalization rules breaks the hash.
    QueryDef("q_url_dedup", (s, dir) => {
      val k = col("doc_id")
      def m(n: Int): Column = pmod(k, lit(n))
      val url = concat(
        lit("https://"),
        when(m(3) === 0, lit("WWW.")).otherwise(lit("")),
        lit("site"), m(30).cast("string"), lit(".example.org/art/"), m(40).cast("string"),
        when(m(4) === 0, lit("/")).otherwise(lit("")),
        when(m(5) === 0, lit("?utm_source=feed")).otherwise(lit("")))
      val withCanon = t(s, dir, "documents")
        .select(k, graft.text.Urls.canonicalizeUrl(url).as("canon"), col("n_chars"))
      graft.core.Dedup.bestRowPerKey(withCanon, Seq("canon"), Seq("n_chars"))
    },
      // The oracle derives each row's canonical URL straight from the
      // synthesis arithmetic (lowercased www-less host, slash collapsed,
      // tracking param gone) — an independent statement of what
      // canonicalizeUrl must produce — then takes the keep-best row with
      // plain window semantics (max n_chars, ties to max doc_id, matching
      // bestRowPerKey's struct-max ordering).
      oracleSql =
      """WITH c AS (
        |  SELECT doc_id,
        |    'https://site' || CAST(doc_id % 30 AS VARCHAR) || '.example.org/art/' ||
        |      CAST(doc_id % 40 AS VARCHAR) AS canon,
        |    n_chars
        |  FROM documents),
        |r AS (SELECT doc_id, canon, n_chars,
        |  row_number() OVER (PARTITION BY canon ORDER BY n_chars DESC, doc_id DESC) AS rn
        |  FROM c)
        |SELECT doc_id, canon, n_chars FROM r WHERE rn = 1""".stripMargin),

    // --- beyond-reference: DSIR importance weights ---------------------
    // Domain-tilted resampling (Xie et al. 2023): weight every doc by the
    // mean unigram log-likelihood ratio between a TARGET slice (here the
    // English sub-corpus) and the RAW corpus, both add-k smoothed over
    // the raw vocabulary. Two count tables + two 1-row totals, joined on
    // the token key — the same no-driver-state shape as q_lm_score.
    QueryDef("q_dsir_weight", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"), col("text"))
      graft.text.NgramLm.importanceWeights(
        docs.select(col("doc_id"), col("text")),
        "doc_id", "text",
        target = docs.filter(col("lang") === "en").select(col("doc_id"), col("text")),
        raw = docs.select(col("doc_id"), col("text")))
    }, oracleSql =
      """WITH d AS (SELECT doc_id, lang,
        |  list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS toks FROM documents),
        |tc AS (SELECT tok, count(*) AS tc FROM (SELECT unnest(toks) AS tok FROM d WHERE lang = 'en') GROUP BY tok),
        |rc AS (SELECT tok, count(*) AS rc FROM (SELECT unnest(toks) AS tok FROM d) GROUP BY tok),
        |ttot AS (SELECT CAST(sum(tc) AS BIGINT) AS tn FROM tc),
        |rtot AS (SELECT CAST(sum(rc) AS BIGINT) AS rn, count(*) AS rv FROM rc),
        |ev AS (SELECT doc_id, unnest(toks) AS tok FROM d),
        |sc AS (SELECT e.doc_id,
        |    ln((CAST(coalesce(tc.tc, 0) AS DOUBLE) + CAST(0.5 AS DOUBLE)) /
        |       (CAST(ttot.tn AS DOUBLE) + CAST(0.5 AS DOUBLE) * CAST(rtot.rv AS DOUBLE)))
        |  - ln((CAST(coalesce(rc.rc, 0) AS DOUBLE) + CAST(0.5 AS DOUBLE)) /
        |       (CAST(rtot.rn AS DOUBLE) + CAST(0.5 AS DOUBLE) * CAST(rtot.rv AS DOUBLE))) AS lr
        |  FROM ev e LEFT JOIN tc USING (tok) LEFT JOIN rc USING (tok), ttot, rtot),
        |per AS (SELECT doc_id, count(*) AS nt,
        |          CAST(sum(CAST(lr AS DECIMAL(28,12))) AS DOUBLE) AS slr
        |        FROM sc GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(per.nt, 0) AS n_tokens,
        |  CAST(CAST(per.slr / per.nt AS DECIMAL(18,6)) AS DOUBLE) AS weight
        |FROM d LEFT JOIN per USING (doc_id)""".stripMargin),

    // --- beyond-reference: quality-classifier scoring (model-as-data) --
    // fastText-shape linear scorer over hashed n-gram features,
    // distilling a keyword teacher (docs mentioning "spark" — the
    // FineWeb-Edu/DCLM workflow: a cheap rule or LLM labels a slice, a
    // linear hashed-ngram model generalizes it): log-count-ratio
    // weights + max-margin threshold fit on the doc_id%3!=0 split,
    // DECIMAL(18,6)-quantized into the stored model, held-out docs
    // scored via a broadcast weight join + exact decimal sum
    // (QualityModel scaladoc for the determinism contract). The oracle
    // replicates fit, calibration, AND scoring in SQL — the whole
    // pipeline hash-compares. (The synthetic corpus shares one
    // vocabulary across langs, so a lang teacher would be unlearnable;
    // the keyword teacher is, and TextSpec pins held-out separation.)
    QueryDef("q_quality_model", (s, dir) => {
      val docs = t(s, dir, "documents")
      val model = graft.text.QualityModel.fit(
        docs.filter(col("doc_id") % 3 =!= 0), "doc_id", "text",
        label = array_contains(TextAnalysis.tokens(col("text")), "spark"))
      graft.text.QualityModel.score(
        docs.filter(col("doc_id") % 3 === 0), "doc_id", "text", model)
    },
      // DSIR oracle: same double-forcing discipline as q_lm_score; the raw
      // vocabulary (rv) is the shared smoothing support for BOTH sides.
      // Quality classifier: the full log-count-ratio fit + max-margin
      // calibration + hashed-feature scoring in SQL. md5-prefix feature
      // hashing and DECIMAL(18,6) model quantization make every
      // cross-engine chain exact (ln ulps are absorbed at the 1e-6 grid);
      // score sums and the pred comparison are pure decimal.
      oracleSql =
      """WITH base AS (
        |  SELECT doc_id, list_contains(toks, 'spark') AS y, toks FROM (
        |    SELECT doc_id,
        |      list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS toks
        |    FROM documents)),
        |feats AS (
        |  SELECT DISTINCT doc_id, y,
        |    CAST('0x' || substr(md5(term), 1, 8) AS BIGINT) % 4096 AS feature
        |  FROM (SELECT doc_id, y, unnest(toks) AS term FROM base)),
        |tr AS (SELECT * FROM feats WHERE doc_id % 3 <> 0),
        |cnt AS (SELECT feature,
        |    sum(CASE WHEN y THEN 1 ELSE 0 END) AS c_pos,
        |    sum(CASE WHEN NOT y THEN 1 ELSE 0 END) AS c_neg
        |  FROM tr GROUP BY feature),
        |tot AS (SELECT
        |    sum(CASE WHEN y THEN 1 ELSE 0 END) AS t_pos,
        |    sum(CASE WHEN NOT y THEN 1 ELSE 0 END) AS t_neg
        |  FROM tr),
        |w AS (SELECT feature,
        |    CAST(ln(((c_pos + 0.5) / (c_neg + 0.5)) *
        |            (CAST(t_neg AS DOUBLE) / t_pos)) AS DECIMAL(18,6)) AS w
        |  FROM cnt, tot),
        |pr AS (SELECT CAST(ln((sum(CASE WHEN y THEN 1 ELSE 0 END) + 0.5) /
        |                      (sum(CASE WHEN NOT y THEN 1 ELSE 0 END) + 0.5)) AS DECIMAL(18,6)) AS w0
        |  FROM base WHERE doc_id % 3 <> 0),
        |trs AS (SELECT tr.doc_id, sum(CAST(w.w AS DECIMAL(28,6))) AS s
        |  FROM tr JOIN w USING (feature) GROUP BY tr.doc_id),
        |cal AS (SELECT CAST(CAST(min(CASE WHEN y THEN sc END) +
        |                         max(CASE WHEN NOT y THEN sc END) AS DOUBLE) * 0.5
        |          AS DECIMAL(18,6)) AS tau
        |  FROM (SELECT b.doc_id, b.y, COALESCE(trs.s, 0) + pr.w0 AS sc
        |        FROM (SELECT doc_id, y FROM base WHERE doc_id % 3 <> 0) b
        |        LEFT JOIN trs ON b.doc_id = trs.doc_id, pr)),
        |te AS (SELECT doc_id, feature FROM feats WHERE doc_id % 3 = 0),
        |sc AS (SELECT te.doc_id, count(*) AS n_feats,
        |    sum(CAST(w.w AS DECIMAL(28,6))) AS s
        |  FROM te JOIN w USING (feature) GROUP BY te.doc_id)
        |SELECT b.doc_id,
        |  CAST(COALESCE(sc.n_feats, 0) AS BIGINT) AS n_feats,
        |  round(CAST(COALESCE(sc.s, 0) + pr.w0 AS DOUBLE), 6) AS score,
        |  (COALESCE(sc.s, 0) + pr.w0) > cal.tau AS pred
        |FROM (SELECT doc_id FROM base WHERE doc_id % 3 = 0) b
        |LEFT JOIN sc ON b.doc_id = sc.doc_id, pr, cal""".stripMargin),

    // --- beyond-reference: TEMPERATURE source mixing --------------------
    // rate_g ∝ n_g^(α−1) derived in-plan from the lang counts (α = 0.5
    // flattens the skewed lang distribution: the 'en' majority keeps the
    // smallest fraction), membership by the md5 64k-bucket primitive —
    // deterministic, growth-stable, nested under lower α. Emits the
    // per-row keep threshold so the oracle checks membership AND the
    // derived rates row by row.
    QueryDef("q_temperature_mix", (s, dir) =>
      graft.core.Sampling.temperatureMix(
        t(s, dir, "documents").select(col("doc_id"), col("lang")),
        key = col("doc_id"), group = col("lang"), alpha = 0.5)
        .select(col("doc_id"), col("lang"), col("__keep").as("keep")),
      // Temperature mix: pow/floor chains on identical integer inputs are
      // engine-identical modulo a sub-ulp floor-boundary coincidence; the
      // md5-bucket membership is the established exact primitive.
      oracleSql =
      """WITH c AS (SELECT lang AS g, count(*) AS n FROM documents GROUP BY lang),
        |r AS (SELECT g, pow(CAST(n AS DOUBLE), -0.5) AS r FROM c),
        |mx AS (SELECT max(r) AS rmax FROM r),
        |k AS (SELECT g,
        |    LEAST(65536, GREATEST(1, CAST(floor(r / rmax * 65536) AS INT))) AS keep
        |  FROM r, mx)
        |SELECT d.doc_id, d.lang, k.keep
        |FROM documents d JOIN k ON d.lang = k.g
        |WHERE k.keep >= 65536
        |   OR substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4) < printf('%04x', k.keep)""".stripMargin),

    // --- beyond-reference: domain-mix weighted sampling ----------------
    // Pile/Dolma-style source reweighting: each source keeps k/256 of its
    // docs by md5 bucket — deterministic, growth-stable, nested under
    // tightening, and a pure scan-side filter (no join, no shuffle; a
    // 100 TB remix is one pass). Emits the kept rows with their bucket so
    // the oracle checks membership row by row.
    QueryDef("q_domain_mix", (s, dir) =>
      graft.core.Sampling.weightedMix(
        t(s, dir, "documents"),
        col("doc_id"), col("source"),
        Seq("src0" -> 256, "src1" -> 128, "src2" -> 64, "src3" -> 192),
        defaultKeep = 32)
        .select(col("doc_id"), col("source"),
          substring(md5(col("doc_id").cast("string")), 1, 2).as("bucket")), oracleSql =
      """SELECT doc_id, source, substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS bucket
        |FROM documents
        |WHERE CASE source
        |  WHEN 'src0' THEN TRUE
        |  WHEN 'src1' THEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '80'
        |  WHEN 'src2' THEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '40'
        |  WHEN 'src3' THEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'c0'
        |  ELSE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '20' END""".stripMargin),

    // --- beyond-reference: n-gram LM perplexity scoring (CCNet) --------
    // Train add-k bigram statistics on the md5-sampled half of the corpus
    // (deterministic slice, Sampling convention), score EVERY doc against
    // the model by joins — the model is two count tables plus a 1-row
    // vocab scalar, never driver state. Exact columns (counts, oov, mean
    // add-k probability) hash against DuckDB; perplexity goes through the
    // decimal(28,12)-per-term / decimal(18,3)-final quantization that
    // absorbs cross-engine libm ulps (NgramLm scaladoc).
    QueryDef("q_lm_score", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val trainSlice = docs.filter(
        substring(md5(col("doc_id").cast("string")), 1, 1) < "8")
      val model = graft.text.NgramLm.train(trainSlice, "doc_id", "text")
      graft.text.NgramLm.score(docs, "doc_id", "text", model)
    },
      // LM-scoring oracle: replicate training slice, bigram/context/vocab
      // counts, and the add-k probability with every operand FORCED to
      // DOUBLE (DuckDB decimal literals would otherwise run the division in
      // DECIMAL arithmetic — the q_pagerank ulp trap). Same decimal
      // quantization ladder as the Spark side.
      oracleSql =
      """WITH d AS (SELECT doc_id,
        |  list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS toks FROM documents),
        |tr AS (SELECT * FROM d WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '8'),
        |trev AS (SELECT toks[CAST(i AS INT)] || ' ' || toks[CAST(i AS INT) + 1] AS bg
        |         FROM tr, unnest(range(1, len(toks))) AS t(i)),
        |bc AS (SELECT bg, count(*) AS c FROM trev GROUP BY bg),
        |cw AS (SELECT string_split(bg, ' ')[1] AS w, count(*) AS ctx FROM trev GROUP BY 1),
        |vv AS (SELECT count(DISTINCT tok) AS V FROM (SELECT unnest(toks) AS tok FROM tr)),
        |ev AS (SELECT doc_id, toks[CAST(i AS INT)] || ' ' || toks[CAST(i AS INT) + 1] AS bg
        |       FROM d, unnest(range(1, len(toks))) AS t(i)),
        |sc AS (SELECT e.doc_id,
        |         (CAST(coalesce(bc.c, 0) AS DOUBLE) + CAST(0.5 AS DOUBLE)) /
        |           (CAST(coalesce(cw.ctx, 0) AS DOUBLE) + CAST(0.5 AS DOUBLE) * CAST(vv.V AS DOUBLE)) AS p,
        |         CASE WHEN bc.c IS NULL THEN 1 ELSE 0 END AS oov
        |       FROM ev e LEFT JOIN bc USING (bg)
        |         LEFT JOIN cw ON cw.w = string_split(e.bg, ' ')[1], vv),
        |per AS (SELECT doc_id, count(*) AS nb, CAST(sum(oov) AS BIGINT) AS noov,
        |          CAST(sum(CAST(p AS DECIMAL(28,12))) AS DOUBLE) AS sump,
        |          CAST(sum(CAST(-ln(p) AS DECIMAL(28,12))) AS DOUBLE) AS snll
        |        FROM sc GROUP BY doc_id)
        |SELECT d.doc_id,
        |  coalesce(per.nb, 0) AS n_bigrams,
        |  coalesce(per.noov, 0) AS n_oov,
        |  per.sump / per.nb AS mean_p,
        |  CAST(CAST(exp(per.snll / per.nb) AS DECIMAL(18,3)) AS DOUBLE) AS ppl
        |FROM d LEFT JOIN per USING (doc_id)""".stripMargin),

    // --- beyond-reference: line-level corpus dedup (RefinedWeb/C4) -----
    // Whole-line boilerplate removal with reassembly: lines in >= 3
    // distinct docs drop everywhere except the earliest occurrence
    // (LineDedup scaladoc has the full scale argument — line-keyed, no
    // gram explosion). The corpus has no newlines, so multi-line docs are
    // synthesized deterministically: two 8-token content slices plus
    // boilerplate lines injected by doc_id arithmetic, replicated by the
    // oracle.
    QueryDef("q_line_dedup", (s, dir) =>
      graft.text.LineDedup.dedupLines(
        synthLineDocs(t(s, dir, "documents")), "doc_id", "text", minDocs = 3),
      // Line-dedup oracle: replicate the line synthesis (1-based DuckDB list
      // slices ≡ Spark 1-based slice()), 0-based line numbers (≡ posexplode),
      // the >=3-distinct-docs threshold, the (min doc, then min line_no)
      // owner, and filtered ordered reassembly. sum/count cast to BIGINT to
      // match the Spark long columns.
      oracleSql =
      s"""$lineDedupCtes
         |SELECT doc_id,
         |  coalesce(array_to_string(list(line ORDER BY line_no) FILTER (WHERE keep), chr(10)), '') AS clean_text,
         |  CAST(count(*) AS BIGINT) AS n_lines,
         |  CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped
         |FROM k GROUP BY doc_id""".stripMargin),

    // The audit side of the same operator: the shared-line table a
    // pipeline persists next to the scrubbed corpus.
    QueryDef("q_line_shared", (s, dir) =>
      graft.text.LineDedup.sharedLines(
        synthLineDocs(t(s, dir, "documents")), "doc_id", "text", minDocs = 3), oracleSql =
      s"""$lineDedupCtes
         |SELECT f2.line, CAST(f2.ndocs AS BIGINT) AS ndocs,
         |  f2.o_doc AS owner_doc, f2.o_line AS owner_line
         |FROM f2""".stripMargin),

    // --- beyond-reference: URL canonicalization ------------------------
    // Web-corpus hygiene: the same page arrives under scheme/host case
    // variants, default ports, tracking params, fragments, and shuffled
    // query order; grouping by the raw string splits it. Urls.canonicalize
    // is a pure codegen'd projection (regex + array HOFs, no UDF), so
    // URL-keyed dedup costs one shuffle on the canonical key. The messy
    // URLs are synthesized deterministically from customer (same pattern
    // as q_pii_scrub) so every rule has real matches, and the oracle
    // re-derives both the synthesis and the canonicalization in SQL.
    QueryDef("q_url_canon", (s, dir) => {
      val k = col("c_custkey")
      def m(n: Int): Column = pmod(k, lit(n))
      val hostCore = concat(lit("shop"), m(50).cast("string"), lit(".example.com"))
      val url = concat(
        when(m(2) === 0, lit("http")).otherwise(lit("https")), lit("://"),
        when(m(3) === 0, concat(lit("WWW."), upper(hostCore))).otherwise(hostCore),
        when(m(5) === 0, when(m(2) === 0, lit(":80")).otherwise(lit(":443")))
          .when(m(7) === 0, lit(":8080")).otherwise(lit("")),
        lit("/p/"), m(100).cast("string"),
        when(m(4) === 0, lit("/")).otherwise(lit("")),
        when(m(6) === 0, concat(lit("?utm_source=mail&b="), m(4).cast("string"), lit("&a=1")))
          .when(m(6) === 1, concat(lit("?b="), m(4).cast("string"), lit("&a=1&fbclid=XYZ")))
          .when(m(6) === 2, concat(lit("?a=1&b="), m(4).cast("string")))
          .otherwise(lit("")),
        when(m(8) === 0, lit("#sec-2")).otherwise(lit("")))
      t(s, dir, "customer")
        .select(col("c_custkey"), url.as("url"))
        .select(
          col("c_custkey"),
          graft.text.Urls.canonicalizeUrl(col("url")).as("canon"),
          graft.text.Urls.canonicalHost(col("url")).as("host"))
    },
      // Re-derives the deterministic URL synthesis AND every canonicalization
      // rule in SQL (lowercase scheme/host, www + default-port strip,
      // trailing-slash collapse, fragment drop, tracking-param filter +
      // param sort). list_sort/string_split mirror array_sort/split —
      // ASCII params, so bytewise string order agrees across engines.
      oracleSql =
      """WITH u AS (
        |  SELECT c_custkey,
        |    (CASE WHEN c_custkey % 2 = 0 THEN 'http' ELSE 'https' END) || '://' ||
        |    (CASE WHEN c_custkey % 3 = 0
        |          THEN 'WWW.' || upper('shop' || CAST(c_custkey % 50 AS VARCHAR) || '.example.com')
        |          ELSE 'shop' || CAST(c_custkey % 50 AS VARCHAR) || '.example.com' END) ||
        |    (CASE WHEN c_custkey % 5 = 0 THEN (CASE WHEN c_custkey % 2 = 0 THEN ':80' ELSE ':443' END)
        |          WHEN c_custkey % 7 = 0 THEN ':8080' ELSE '' END) ||
        |    '/p/' || CAST(c_custkey % 100 AS VARCHAR) ||
        |    (CASE WHEN c_custkey % 4 = 0 THEN '/' ELSE '' END) ||
        |    (CASE WHEN c_custkey % 6 = 0 THEN '?utm_source=mail&b=' || CAST(c_custkey % 4 AS VARCHAR) || '&a=1'
        |          WHEN c_custkey % 6 = 1 THEN '?b=' || CAST(c_custkey % 4 AS VARCHAR) || '&a=1&fbclid=XYZ'
        |          WHEN c_custkey % 6 = 2 THEN '?a=1&b=' || CAST(c_custkey % 4 AS VARCHAR)
        |          ELSE '' END) ||
        |    (CASE WHEN c_custkey % 8 = 0 THEN '#sec-2' ELSE '' END) AS url
        |  FROM customer),
        |p AS (
        |  SELECT c_custkey, url,
        |    lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS scheme,
        |    regexp_replace(lower(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]*)', 1)),
        |      '^www\.', '') AS host,
        |    regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/:?#]*:([0-9]+)', 1) AS port,
        |    regexp_replace(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1),
        |      '/+$', '') AS path,
        |    array_to_string(list_sort(list_filter(string_split(regexp_extract(url, '\?([^#]*)', 1), '&'),
        |      x -> x <> '' AND NOT regexp_matches(x, '^(utm_[a-z0-9]+|gclid|fbclid|ref)='))), '&') AS q
        |  FROM u)
        |SELECT c_custkey,
        |  CASE WHEN scheme = '' OR host = '' THEN NULL
        |       ELSE scheme || '://' || host ||
        |         (CASE WHEN port <> '' AND NOT (scheme = 'http' AND port = '80')
        |                    AND NOT (scheme = 'https' AND port = '443')
        |               THEN ':' || port ELSE '' END) ||
        |         path ||
        |         (CASE WHEN q <> '' THEN '?' || q ELSE '' END) END AS canon,
        |  host
        |FROM p""".stripMargin),

    // --- beyond-reference: BPE merge training --------------------------
    // Tokenizer-vocabulary learning (Sennrich et al. 2016): the corpus
    // collapses once to the bounded (word, freq) table, then each round
    // explodes adjacent symbol pairs, counts them weighted by word
    // frequency, collects the ONE argmax row, and applies the greedy
    // merge via an HOF fold — no UDF, no driver-side corpus. Oracled:
    // the 8 rounds unroll into materialized DuckDB CTEs (greedy merge =
    // bracketed replace()); TextSpec additionally pins the canonical
    // merge sequence on a hand corpus.
    QueryDef("q_bpe_merges", (s, dir) =>
      graft.text.Bpe.learnMerges(t(s, dir, "documents"), "text", nMerges = 8),
      // Generated: the eight unrolled merge rounds of [[bpeMergeCtes]],
      // then one row per round's merge.
      oracleSql = {
      val readout = (1 to 8).map(k =>
        s"""SELECT ${k - 1} AS merge_rank, a AS "left", b AS "right", n AS pair_count FROM m$k""")
        .mkString("\nUNION ALL ")
      s"""WITH ${bpeMergeCtes("documents")}
         |$readout""".stripMargin
    }),

    // --- beyond-reference: BPE APPLY (encode with a learned model) ------
    // The tokenizer's other half: merges learned on the doc_id%3!=0
    // split (the model), the held-out split segmented by replaying them
    // in rank order — Bpe.encodeWords compiles the merge table into ONE
    // chained fold projection (no join, no shuffle; the corpus never
    // moves), sharing mergePair with training so apply cannot drift.
    // Scalar readout per doc: word/subword counts + the first word's
    // segmentation. Oracle: the q_bpe_merges bracketed-replace rounds
    // with the fit slice restricted, then per-word replays in SQL.
    QueryDef("q_bpe_encode", (s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = graft.text.Bpe.learnMerges(
        docs.filter(col("doc_id") % 3 =!= 0), "text", nMerges = 8)
      graft.text.Bpe.encodeWords(
        docs.filter(col("doc_id") % 3 === 0), "doc_id", "text", merges)
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_words"),
          sum(size(col("subwords"))).as("n_subwords"),
          max(when(col("word_pos") === 0, array_join(col("subwords"), "|"))).as("first_seg"))
    },
      // BPE apply: the same 8 bracketed-replace merge rounds with the fit
      // restricted to the train split, then every held-out word replayed
      // through the learned merges (replace = the greedy leftmost scan).
      oracleSql = {
      val so = "chr(30)"
      val sc = "chr(31)"
      def enc(k: Int): String =
        s"""e$k AS MATERIALIZED (
           |  SELECT doc_id, word_pos,
           |    CASE WHEN (SELECT count(*) FROM m$k) = 0 THEN symstr
           |         ELSE replace(symstr,
           |           $so || (SELECT a FROM m$k) || $sc || $so || (SELECT b FROM m$k) || $sc,
           |           $so || (SELECT a FROM m$k) || (SELECT b FROM m$k) || $sc)
           |    END AS symstr
           |  FROM e${k - 1})""".stripMargin
      s"""WITH ${bpeMergeCtes("documents WHERE doc_id % 3 <> 0")},
         |tw AS MATERIALIZED (
         |  SELECT doc_id, CAST(i - 1 AS INT) AS word_pos, toks[CAST(i AS INT)] AS w
         |  FROM (SELECT doc_id,
         |          list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '') AS toks
         |        FROM documents WHERE doc_id % 3 = 0),
         |       unnest(range(1, len(toks) + 1)) AS t(i)),
         |e0 AS MATERIALIZED (
         |  SELECT doc_id, word_pos,
         |    list_aggregate(list_transform(range(1, length(w) + 1),
         |      i -> $so || substr(w, CAST(i AS INT), 1) || $sc), 'string_agg', '') AS symstr
         |  FROM tw),
         |${(1 to 8).map(enc).mkString(",\n")},
         |seg AS (
         |  SELECT doc_id, word_pos,
         |    string_split(substr(symstr, 2, length(symstr) - 2), $sc || $so) AS s
         |  FROM e8)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(sum(len(s)) AS BIGINT) AS n_subwords,
         |  max(CASE WHEN word_pos = 0 THEN array_to_string(s, '|') END) AS first_seg
         |FROM seg GROUP BY doc_id""".stripMargin
    }),

    // --- beyond-reference: sequence packing (context-window layout) ------
    // The pretraining-example constructor ([[graft.text.Packing
    // .packSequences]]): docs concat end-to-end (+1 EOS each) on 16
    // md5-sharded token streams, cut every 256 tokens. One hash shuffle
    // into shard-partitioned windows; straddle marks docs crossing a
    // cut. Shards bound the window partitions, so the layout
    // parallelizes at any corpus size. Completes the packing family
    // with q_pack_batches/q_pack_sharded (lang-keyed batch ids): this
    // variant reports the per-doc BIN INTERVAL (bin_first/bin_last +
    // straddle) with EOS accounting; q_pack_greedy is the no-straddle
    // sibling; q_pack_waste its padding cost.
    QueryDef("q_pack_sequences", (s, dir) =>
      graft.text.Packing.packSequences(
        t(s, dir, "documents"), "doc_id", "text", ctxLen = 256, shards = 16),
      // Concat-and-split packing: pure integer window arithmetic, so the
      // oracle replays it exactly (md5-rank shard + order, cumulative
      // token stream, floor-division bins).
      oracleSql =
      s"""WITH $packSequencesCtes
        |SELECT doc_id, shard, n_tokens,
        |  tok_end - (n_tokens + 1) AS tok_start,
        |  (tok_end - (n_tokens + 1)) // 256 AS bin_first,
        |  (tok_end - 1) // 256 AS bin_last,
        |  ((tok_end - 1) // 256) > ((tok_end - (n_tokens + 1)) // 256) AS straddles
        |FROM c""".stripMargin),

    // --- beyond-reference: packing-bin utilization -----------------------
    // Per (shard, bin) doc count + straddle count — the packing
    // diagnostic over the same layout.
    QueryDef("q_pack_stats", (s, dir) =>
      graft.text.Packing.packStats(graft.text.Packing.packSequences(
        t(s, dir, "documents"), "doc_id", "text", ctxLen = 256, shards = 16)), oracleSql =
      s"""WITH $packSequencesCtes,
        |p AS (
        |  SELECT shard,
        |    (tok_end - (n_tokens + 1)) // 256 AS bin_first,
        |    (tok_end - 1) // 256 AS bin_last
        |  FROM c),
        |b AS (
        |  SELECT shard, bin_last > bin_first AS straddles,
        |    unnest(range(bin_first, bin_last + 1)) AS bin
        |  FROM p)
        |SELECT shard, bin, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN straddles THEN 1 ELSE 0 END) AS BIGINT) AS n_straddling
        |FROM b GROUP BY 1, 2""".stripMargin),

    // --- beyond-reference: no-straddle greedy packing (T5-style) ---------
    // Next-fit example packing ([[graft.text.Packing.packGreedy]]): docs
    // fill a 256-token bin until the next would overflow; no document
    // crosses a boundary; oversize docs bin alone, flagged truncated.
    // The scan is sequential by nature, so it runs per md5 shard through
    // the codegen'd O(m) NextFitBins kernel (shards = parallelism AND
    // memory envelope). The oracle replays the scan as a per-shard
    // recursive CTE.
    QueryDef("q_pack_greedy", (s, dir) =>
      graft.text.Packing.packGreedy(
        t(s, dir, "documents"), "doc_id", "text", ctxLen = 256, shards = 16),
      // Next-fit is a sequential fold — the oracle replays it as a
      // per-shard recursive CTE (one recursion step per shard row).
      oracleSql =
      s"""WITH RECURSIVE $packGreedyCtes
        |SELECT doc_id, shard, n_tokens, bin, n_tokens > 256 AS truncated
        |FROM r""".stripMargin),

    // --- beyond-reference: packing waste (padding cost of no-straddle) ---
    // The metric the packSequences/packGreedy trade-off turns on: per
    // (shard, bin), occupancy and padding waste ctx − Σ min(n, ctx).
    // One groupBy over the greedy layout.
    QueryDef("q_pack_waste", (s, dir) =>
      graft.text.Packing.packGreedy(
        t(s, dir, "documents"), "doc_id", "text", ctxLen = 256, shards = 16)
        .groupBy("shard", "bin")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(least(col("n_tokens"), lit(256L))).as("fill"),
          (lit(256L) - sum(least(col("n_tokens"), lit(256L)))).as("waste")), oracleSql =
      s"""WITH RECURSIVE $packGreedyCtes
        |SELECT shard, bin, count(*) AS n_docs,
        |  CAST(sum(least(n_tokens, 256)) AS BIGINT) AS fill,
        |  256 - CAST(sum(least(n_tokens, 256)) AS BIGINT) AS waste
        |FROM r GROUP BY 1, 2""".stripMargin),

    // --- beyond-reference: overlapping token chunking (RAG cut) ----------
    // window=32, stride=24 → 8-token overlap; scan-side posexplode, no
    // shuffle. chunk_text is the embedding-input payload; tail chunks
    // run short rather than dropping context.
    QueryDef("q_chunk_overlap", (s, dir) =>
      graft.text.Packing.chunkTokens(
        t(s, dir, "documents"), "doc_id", "text", window = 32, stride = 24), oracleSql =
      """WITH d AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |f AS (SELECT doc_id, toks, len(toks) AS n FROM d WHERE len(toks) > 0),
        |e AS (
        |  SELECT doc_id, toks, n,
        |    CAST(unnest(range(0, (n - 1) // 24 + 1)) AS INT) AS chunk_idx
        |  FROM f)
        |SELECT doc_id, chunk_idx,
        |  CAST(chunk_idx AS BIGINT) * 24 AS tok_start,
        |  least(CAST(32 AS BIGINT), n - CAST(chunk_idx AS BIGINT) * 24) AS chunk_len,
        |  array_to_string(
        |    toks[CAST(chunk_idx AS BIGINT) * 24 + 1 : CAST(chunk_idx AS BIGINT) * 24 + 32],
        |    ' ') AS chunk_text
        |FROM e""".stripMargin),

    // --- beyond-reference: chi-square contingency cells ------------------
    // Independence test input (priority × status): observed counts plus
    // expected = rowTot·colTot/n and the per-cell (o−e)²/e term. The
    // marginals are tiny aggregates broadcast back over the 15-cell
    // table (the statistic-broadcast shape again). Expected/term are each
    // ONE fixed IEEE expression from exact integer counts — bit-stable —
    // while the global Σ is left to the caller: a float sum's order
    // isn't deterministic, per-cell terms are.
    QueryDef("q_chisq_cells", (s, dir) => {
      val cells = t(s, dir, "orders")
        .groupBy("o_orderpriority", "o_orderstatus")
        .agg(count(lit(1)).as("n_obs"))
      val rowTot = cells.groupBy("o_orderpriority").agg(sum(col("n_obs")).as("row_tot"))
      val colTot = cells.groupBy("o_orderstatus").agg(sum(col("n_obs")).as("col_tot"))
      val nTot = cells.agg(sum(col("n_obs")).as("n_tot"))
      val e = (col("row_tot") * col("col_tot")).cast("double") / col("n_tot").cast("double")
      cells
        .join(broadcast(rowTot), Seq("o_orderpriority"))
        .join(broadcast(colTot), Seq("o_orderstatus"))
        .join(broadcast(nTot))
        .withColumn("expected", e)
        .withColumn("chi2_term",
          (col("n_obs").cast("double") - col("expected")) *
            (col("n_obs").cast("double") - col("expected")) / col("expected"))
        .select("o_orderpriority", "o_orderstatus", "n_obs", "expected", "chi2_term")
    }, oracleSql =
      """WITH cells AS (SELECT o_orderpriority, o_orderstatus,
        |  CAST(count(*) AS BIGINT) AS n_obs FROM orders GROUP BY 1, 2),
        |rt AS (SELECT o_orderpriority, sum(n_obs) AS row_tot FROM cells GROUP BY 1),
        |ct AS (SELECT o_orderstatus, sum(n_obs) AS col_tot FROM cells GROUP BY 1),
        |nt AS (SELECT sum(n_obs) AS n_tot FROM cells)
        |SELECT o_orderpriority, o_orderstatus, n_obs,
        |  CAST(row_tot * col_tot AS DOUBLE) / CAST(n_tot AS DOUBLE) AS expected,
        |  (CAST(n_obs AS DOUBLE) - CAST(row_tot * col_tot AS DOUBLE) / CAST(n_tot AS DOUBLE)) *
        |  (CAST(n_obs AS DOUBLE) - CAST(row_tot * col_tot AS DOUBLE) / CAST(n_tot AS DOUBLE)) /
        |  (CAST(row_tot * col_tot AS DOUBLE) / CAST(n_tot AS DOUBLE)) AS chi2_term
        |FROM cells JOIN rt USING (o_orderpriority) JOIN ct USING (o_orderstatus), nt""".stripMargin),

    // --- beyond-reference: top-decile concentration ----------------------
    // Revenue concentration (the "whales" readout): share of total spend
    // held by the top 10% of customers. Per-customer spend is an exact
    // decimal aggregate; the global rank uses Rank.rowNumberDesc — the
    // bucketed two-phase rank — because the customer dimension grows
    // linearly with the corpus: a bare Window.orderBy would pull hundreds
    // of millions of aggregate rows through ONE task at 100 TB. One
    // decimal/decimal division at the very end → engine-stable.
    QueryDef("q_topk_share", (s, dir) => {
      // spend feeds three consumers (totals, rank splits, rank pass) —
      // checkpointed so the orders scan+agg runs once.
      val spend = t(s, dir, "orders")
        .groupBy("o_custkey")
        .agg(sum(col("o_totalprice").cast("decimal(24,6)")).as("spend"))
        .localCheckpoint(false)
      val n = spend.agg(
        count(lit(1)).as("n_cust"), sum(col("spend")).as("total_spend"))
      Rank.rowNumberDesc(spend, "spend", Seq("o_custkey"), out = "rn")
        .join(broadcast(n))
        .filter(col("rn") <= ceil(col("n_cust") / 10.0))
        .agg(
          count(lit(1)).as("n_top"),
          max(col("n_cust")).as("n_cust"),
          // Cast each side to double BEFORE dividing: decimal/decimal
          // result-scale rules differ across engines, one IEEE division
          // of two exactly-converted decimals does not.
          (sum(col("spend")).cast("double") / max(col("total_spend")).cast("double")).as("top_share"),
        )
    }, oracleSql =
      """WITH spend AS (SELECT o_custkey,
        |  sum(CAST(o_totalprice AS DECIMAL(24,6))) AS spend FROM orders GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_cust, sum(spend) AS total_spend FROM spend),
        |r AS (SELECT o_custkey, spend,
        |  row_number() OVER (ORDER BY spend DESC, o_custkey) AS rn FROM spend)
        |SELECT CAST(count(*) AS BIGINT) AS n_top, max(n_cust) AS n_cust,
        |  CAST(sum(spend) AS DOUBLE) / CAST(max(total_spend) AS DOUBLE) AS top_share
        |FROM r, tot WHERE rn <= ceil(n_cust / 10.0)""".stripMargin),

    // --- beyond-reference: event transition paths (Markov edges) ---------
    // The product-analytics "user journey" collapse (sankey/Markov-chain
    // input): consecutive-event transitions per user, counted per
    // (from, to) pair. Same ONE-shuffle sorted-sequence shape as
    // q_funnel_events/q_attribution — the oracle's lead() window
    // re-sorts events instead; here transitions fall out of the already
    // sorted array as a narrow pairwise transform.
    QueryDef("q_event_paths", (s, dir) => {
      t(s, dir, "events")
        .select(col("user_id"), tsUs(col("ts")).as("ts"), col("event_id"), col("event_type"))
        .groupBy("user_id")
        .agg(sort_array(collect_list(struct(col("ts"), col("event_id"), col("event_type")))).as("seq"))
        .select(explode(when(size(col("seq")) >= 2,
          transform(sequence(lit(1), size(col("seq")) - 1), i =>
            struct(
              element_at(col("seq"), i).getField("event_type").as("from_type"),
              element_at(col("seq"), i + 1).getField("event_type").as("to_type"))))
          .otherwise(array())).as("tr"))
        .groupBy(col("tr.from_type").as("from_type"), col("tr.to_type").as("to_type"))
        .agg(count(lit(1)).as("n_transitions"))
    }, oracleSql =
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts, event_id, event_type FROM events),
        |t AS (SELECT user_id, event_type AS from_type,
        |  lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
        |  FROM e)
        |SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n_transitions
        |FROM t WHERE to_type IS NOT NULL GROUP BY 1, 2""".stripMargin),

    // --- beyond-reference: frequent sequence mining (GSP/PrefixSpan core)
    // q_event_paths counts ADJACENT transitions; this mines gap-allowed
    // ordered patterns A→B and A→B→C with session support (12 h
    // inactivity gap — q_sessionize's idiom at mining granularity).
    // Over the bounded type alphabet, per-session existence folds to
    // order statistics (min/max occurrence times and one B-after-A
    // minimum — SeqMine.scala's exactness argument), so no session is
    // ever scanned per pattern and nothing recursive grows: supports
    // are counts over (session, type)-grain aggregate rows, exact longs
    // end to end. The threshold is RELATIVE (2% of sessions, in-plan
    // broadcast scalar) so the same query discriminates at every scale
    // instead of emptying below sf0.01.
    QueryDef("q_seq_mining", (s, dir) =>
      graft.core.SeqMine.frequentSequencesFrac(
        t(s, dir, "events"),
        user = col("user_id"), tsUs = tsUs(col("ts")), typ = col("event_type"),
        tieBreak = col("event_id"),
        gapUs = 12L * 3600 * 1000000, minSupportFrac = 0.02),
      // Same order-statistic folding as SeqMine: sessionize (12 h gap),
      // per-(session, type) min/max, pair rule mn(A) < mx(B), triple rule
      // mx(C) > min{ t(B) > mn(A) }. Integer µs throughout.
      oracleSql =
      """WITH e AS (
        |  SELECT user_id AS u, epoch_us(ts) AS t, event_type AS a, event_id AS tb
        |  FROM events),
        |lg AS (
        |  SELECT u, t, a,
        |    lag(t) OVER (PARTITION BY u ORDER BY t, tb) AS pt, tb
        |  FROM e),
        |sm AS (
        |  SELECT u, t, a,
        |    sum(CASE WHEN pt IS NULL OR t - pt > 43200000000 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY u ORDER BY t, tb ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM lg),
        |bounds AS (
        |  SELECT u, sid, a, min(t) AS mn, max(t) AS mx FROM sm GROUP BY 1, 2, 3),
        |p2 AS (
        |  SELECT x.a AS a1, y.a AS a2, count(*) AS support
        |  FROM bounds x JOIN bounds y ON x.u = y.u AND x.sid = y.sid
        |  WHERE x.mn < y.mx GROUP BY 1, 2),
        |mba AS (
        |  SELECT s.u, s.sid, b.a AS a1, s.a AS a2, min(s.t) AS m2
        |  FROM sm s JOIN bounds b ON s.u = b.u AND s.sid = b.sid
        |  WHERE s.t > b.mn GROUP BY 1, 2, 3, 4),
        |p3 AS (
        |  SELECT m.a1, m.a2, c.a AS a3, count(*) AS support
        |  FROM mba m JOIN bounds c ON m.u = c.u AND m.sid = c.sid
        |  WHERE c.mx > m.m2 GROUP BY 1, 2, 3),
        |ns AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_sessions
        |  FROM (SELECT DISTINCT u, sid FROM sm)),
        |thr AS (
        |  SELECT CAST(ceil(0.02 * CAST(n_sessions AS DOUBLE)) AS BIGINT) AS t FROM ns)
        |SELECT a1 || '>' || a2 AS pattern, 2 AS k, support
        |FROM p2, thr WHERE support >= t
        |UNION ALL
        |SELECT a1 || '>' || a2 || '>' || a3 AS pattern, 3 AS k, support
        |FROM p3, thr WHERE support >= t""".stripMargin),

    // --- beyond-reference: ordered group concatenation (LISTAGG) ---------
    // Time-ordered sequence building (the "events → training sequence"
    // collapse): per customer, order priorities concatenated in
    // (date, key) order. Deterministic by construction — the sort key is
    // total — where a bare string_agg/collect_list would be
    // partition-order-dependent. One shuffle, struct-sorted in the agg.
    QueryDef("q_listagg", (s, dir) => {
      t(s, dir, "orders")
        .groupBy("o_custkey")
        .agg(
          count(lit(1)).as("n_orders"),
          array_join(
            transform(
              sort_array(collect_list(struct(
                col("o_orderdate"), col("o_orderkey"), col("o_orderpriority")))),
              x => x.getField("o_orderpriority")),
            ",").as("priority_seq"),
        )
    }, oracleSql =
      """SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
        |  string_agg(o_orderpriority, ',' ORDER BY o_orderdate, o_orderkey) AS priority_seq
        |FROM orders GROUP BY 1""".stripMargin),

    // --- beyond-reference: URL/domain extraction -------------------------
    // Web-corpus domain accounting: pull every http(s) hostname out of the
    // text (URLs synthesized onto the docs so the extraction has real
    // matches, then the raw text scanned too) and count references and
    // referencing docs per domain. Narrow codegen'd extract+explode, one
    // small agg shuffle on the host key.
    QueryDef("q_url_extract", (s, dir) => {
      val synth = concat(
        lit("mirror https://"), col("source"), lit(".example.org/d/"), col("doc_id"),
        lit(" cdn http://cdn-"), col("lang"), lit(".example.net/a/"), col("doc_id"),
        lit(" "), col("text"))
      t(s, dir, "documents")
        .select(col("doc_id"), explode(TextAnalysis.urlHosts(synth)).as("host"))
        .groupBy("host")
        .agg(count(lit(1)).as("n_refs"), countDistinct(col("doc_id")).as("n_docs"))
    }, oracleSql =
      """WITH h AS (
        |  SELECT doc_id,
        |    unnest(regexp_extract_all(lower(
        |      'mirror https://' || source || '.example.org/d/' || doc_id ||
        |      ' cdn http://cdn-' || lang || '.example.net/a/' || doc_id || ' ' || text),
        |      'https?://([a-z0-9.-]+)', 1)) AS host
        |  FROM documents)
        |SELECT host, CAST(count(*) AS BIGINT) AS n_refs,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        |FROM h GROUP BY 1""".stripMargin),

    // --- beyond-reference: normalization-collapsed dedup accounting ------
    // The "fuzzy-exact" dedup pass (case/punctuation/whitespace folded
    // before hashing — Dolma-style): per language, how many distinct docs
    // survive raw hashing vs normalized hashing. The md5 signatures keep
    // the comparison portable; the count-distinct pair rides one agg.
    QueryDef("q_norm_dedup", (s, dir) => {
      val norm = TextAnalysis.normalizeForDedup(col("text"))
      t(s, dir, "documents")
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct(md5(col("text"))).as("n_raw_distinct"),
          countDistinct(md5(norm)).as("n_norm_distinct"),
        )
    }, oracleSql =
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_raw_distinct,
        |  CAST(count(DISTINCT md5(trim(regexp_replace(regexp_replace(
        |    lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')))) AS BIGINT)
        |    AS n_norm_distinct
        |FROM documents GROUP BY 1""".stripMargin),

    // --- beyond-reference: two-proportion A/B z-test ---------------------
    // Experiment readout over the events stream: variant = user parity,
    // conversion = a high-value purchase (plain "any purchase" converts
    // every synthetic user — p_pool=1 makes the pooled SE exactly 0 and
    // ANSI division throws). One groupBy to the per-user bit, one
    // global conditional agg to the 2×2 table, then the pooled z-score as
    // a single fixed-order IEEE expression (divisions and sqrt are
    // correctly rounded, so the oracle's identical op tree is bit-equal).
    QueryDef("q_ab_ztest", (s, dir) => {
      val users = t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase" && col("value") > 90.0, 1)
          .otherwise(0)).as("conv"))
        .withColumn("variant", pmod(col("user_id"), lit(2)))
      val d = (c: Column) => c.cast("double")
      users
        .agg(
          count(when(col("variant") === 0, 1)).as("n_a"),
          count(when(col("variant") === 0 && col("conv") === 1, 1)).as("c_a"),
          count(when(col("variant") === 1, 1)).as("n_b"),
          count(when(col("variant") === 1 && col("conv") === 1, 1)).as("c_b"),
        )
        .withColumn("p_a", d(col("c_a")) / d(col("n_a")))
        .withColumn("p_b", d(col("c_b")) / d(col("n_b")))
        .withColumn("p_pool", d(col("c_a") + col("c_b")) / d(col("n_a") + col("n_b")))
        .withColumn("z",
          (col("p_a") - col("p_b")) /
            sqrt(col("p_pool") * (lit(1.0) - col("p_pool")) *
              (lit(1.0) / d(col("n_a")) + lit(1.0) / d(col("n_b")))))
    }, oracleSql =
      """WITH u AS (
        |  SELECT user_id,
        |    max(CASE WHEN event_type = 'purchase' AND value > 90.0 THEN 1 ELSE 0 END) AS conv
        |  FROM events GROUP BY 1),
        |t AS (
        |  SELECT
        |    CAST(count(CASE WHEN user_id % 2 = 0 THEN 1 END) AS BIGINT) AS n_a,
        |    CAST(count(CASE WHEN user_id % 2 = 0 AND conv = 1 THEN 1 END) AS BIGINT) AS c_a,
        |    CAST(count(CASE WHEN user_id % 2 = 1 THEN 1 END) AS BIGINT) AS n_b,
        |    CAST(count(CASE WHEN user_id % 2 = 1 AND conv = 1 THEN 1 END) AS BIGINT) AS c_b
        |  FROM u)
        |SELECT n_a, c_a, n_b, c_b,
        |  CAST(c_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS p_a,
        |  CAST(c_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS p_b,
        |  CAST(c_a + c_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE) AS p_pool,
        |  (CAST(c_a AS DOUBLE) / CAST(n_a AS DOUBLE) - CAST(c_b AS DOUBLE) / CAST(n_b AS DOUBLE)) /
        |    sqrt((CAST(c_a + c_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)) *
        |         (1.0 - CAST(c_a + c_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)) *
        |         (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))) AS z
        |FROM t""".stripMargin),

    // --- beyond-reference: exact rolling median --------------------------
    // Robust trailing statistic (the running-mean outlier-sensitivity
    // fix): lower median of the last 5 order totals per customer. The
    // frame collects ≤5 values, sorts, and PICKS an element — no
    // interpolation, so the result is an actual input double and
    // bit-equal in any engine (DuckDB's quantile_disc picks the same
    // element). Frame-bounded collect keeps per-row state O(frame).
    QueryDef("q_rolling_median", (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(-4, Window.currentRow)
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"), col("o_totalprice"))
        .withColumn("win", array_sort(collect_list(col("o_totalprice")).over(w)))
        .withColumn("med5", get(col("win"), ((size(col("win")) + 1) / 2).cast("int") - 1))
        .drop("win")
    }, oracleSql =
      """SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice,
        |  quantile_disc(o_totalprice, 0.5) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS med5
        |FROM orders""".stripMargin),

    // --- beyond-reference: marketing attribution -------------------------
    // First-touch / last-touch credit per converting user, folded from ONE
    // shuffle: sort each user's events once, then the first purchase, the
    // first event, and the last pre-purchase touch are all array lookups
    // on the sorted sequence (the three-CTE oracle rescans events per
    // step). get() is null on empty/missing — users whose first event is
    // the purchase credit a null last touch, kept as its own row.
    QueryDef("q_attribution", (s, dir) => {
      val seqd = t(s, dir, "events")
        .select(col("user_id"), tsUs(col("ts")).as("ts"), col("event_id"), col("event_type"))
        .groupBy("user_id")
        .agg(sort_array(collect_list(struct(col("ts"), col("event_id"), col("event_type")))).as("seq"))
      val pts = element_at(
        filter(col("seq"), x => x.getField("event_type") === "purchase"), 1).getField("ts")
      seqd
        .withColumn("pts", pts)
        .filter(col("pts").isNotNull)
        .withColumn("pre",
          filter(col("seq"), x =>
            x.getField("ts") < col("pts") && x.getField("event_type") =!= "purchase"))
        .select(
          get(col("seq"), lit(0)).getField("event_type").as("first_touch"),
          get(col("pre"), size(col("pre")) - 1).getField("event_type").as("last_touch"),
        )
        .groupBy("first_touch", "last_touch")
        .agg(count(lit(1)).as("n_users"))
    }, oracleSql =
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts, event_id, event_type FROM events),
        |p AS (SELECT user_id, min(ts) AS pts FROM e WHERE event_type = 'purchase' GROUP BY 1),
        |fr AS (SELECT DISTINCT user_id,
        |  first_value(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS first_touch
        |  FROM e),
        |lt AS (SELECT DISTINCT e.user_id,
        |  last_value(event_type) OVER (PARTITION BY e.user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_touch
        |  FROM e JOIN p USING (user_id) WHERE ts < pts AND event_type <> 'purchase')
        |SELECT first_touch, last_touch, CAST(count(*) AS BIGINT) AS n_users
        |FROM p JOIN fr USING (user_id) LEFT JOIN lt USING (user_id)
        |GROUP BY 1, 2""".stripMargin),

    // --- beyond-reference: Bradley-Terry preference strengths ------------
    // The pairwise-judgment model behind reward-model data curation and
    // arena leaderboards (see [[Preference.bradleyTerry]]). Comparisons
    // derive from exact per-user counts: within a user, type a "beats"
    // type b when the user fired a more often (integer compare — no
    // float ambiguity); three Hunter-MM rounds then run on the T²-row
    // model tier. The corpus contributes ONE aggregation; user-level
    // pair expansion is bounded by T² per user.
    QueryDef("q_bradley_terry", (s, dir) => {
      val c = t(s, dir, "events")
        .groupBy("user_id", "event_type").agg(count(lit(1)).as("c"))
        .localCheckpoint(eager = false) // self-joined a-vs-b
      val a = c.toDF("user_id", "ta", "ca")
      val b = c.toDF("user_id", "tb", "cb")
      val comp = a.join(b, Seq("user_id"))
        .filter(col("ta") =!= col("tb") && col("ca") > col("cb"))
        .groupBy(col("ta").as("winner"), col("tb").as("loser"))
        .agg(count(lit(1)).as("n"))
      Preference.bradleyTerry(comp, "winner", "loser", "n", iters = 3)
        .select(col("item").as("event_type"), col("wins"),
          round(col("strength"), 6).as("strength"))
    },
      // Generated: the same exact-count comparison derivation and three
      // unrolled Hunter-MM rounds; each 1/(s_i+s_j) term quantizes to
      // DECIMAL(28,12) before its order-free sum, rescaling anchors on
      // the smallest item.
      oracleSql = {
      val rounds = (1 to 3).map { r =>
        s"""d$r AS (
           |  SELECT p.i AS item,
           |    sum(CAST(CAST(p.nij AS DOUBLE) / (si.s + sj.s) AS DECIMAL(28,12))) AS den
           |  FROM pairT p JOIN s${r - 1} si ON si.item = p.i
           |    JOIN s${r - 1} sj ON sj.item = p.j
           |  GROUP BY 1),
           |r$r AS (
           |  SELECT d.item,
           |    CAST(coalesce(w.wins, 0) AS DOUBLE) / CAST(d.den AS DOUBLE) AS sr
           |  FROM d$r d LEFT JOIN wins w USING (item)),
           |f$r AS (SELECT sr AS refv FROM r$r ORDER BY item LIMIT 1),
           |s$r AS (SELECT item, sr / refv AS s FROM r$r, f$r)""".stripMargin
      }.mkString(",\n")
      s"""WITH c AS (
         |  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
         |  FROM events GROUP BY 1, 2),
         |comp AS (
         |  SELECT a.event_type AS w, b.event_type AS l, CAST(count(*) AS BIGINT) AS n
         |  FROM c a JOIN c b ON a.user_id = b.user_id
         |    AND a.event_type <> b.event_type AND a.c > b.c
         |  GROUP BY 1, 2),
         |wins AS (SELECT w AS item, CAST(sum(n) AS BIGINT) AS wins FROM comp GROUP BY 1),
         |pairT AS (
         |  SELECT i, j, CAST(sum(n) AS BIGINT) AS nij FROM (
         |    SELECT w AS i, l AS j, n FROM comp
         |    UNION ALL SELECT l AS i, w AS j, n FROM comp)
         |  GROUP BY 1, 2),
         |s0 AS (SELECT DISTINCT i AS item, CAST(1.0 AS DOUBLE) AS s FROM pairT),
         |$rounds
         |SELECT s.item AS event_type, coalesce(w.wins, 0) AS wins,
         |  round(s.s, 6) AS strength
         |FROM s3 s LEFT JOIN wins w ON w.item = s.item""".stripMargin
    }),

    // --- beyond-reference: implicit-feedback rank-1 ALS ------------------
    // Hu-Koren confidence-weighted factorization of the user×event-type
    // interaction matrix (see [[Preference.alsImplicitRank1]]): c = 1 +
    // 0.1·count, λ = 0.1, two alternating closed-form rounds from v ≡ 1.
    // One corpus aggregation; every later table is bounded by users or
    // by the item vocabulary, factors broadcast into each update.
    QueryDef("q_als_implicit", (s, dir) =>
      Preference.alsImplicitRank1(
        t(s, dir, "events")
          .groupBy("user_id", "event_type").agg(count(lit(1)).as("cnt")),
        "user_id", "event_type", "cnt", alpha = 0.1, lambda = 0.1, iters = 2)
        .select(col("item").as("event_type"), col("n_entities").as("n_users"),
          round(col("v_1"), 6).as("v_1"), round(col("v_2"), 6).as("v_2")),
      // Generated: the same confidence weights and two unrolled alternating
      // rounds; every c·u / c·v product quantizes to DECIMAL(28,12) before
      // its order-free sum, λ added after the double cast.
      oracleSql = {
      val rounds = (1 to 2).map { it =>
        s"""u$it AS (
           |  SELECT r.e,
           |    CAST(sum(CAST(r.c * v.v AS DECIMAL(28,12))) AS DOUBLE) /
           |    (CAST(sum(CAST(r.c * v.v * v.v AS DECIMAL(28,12))) AS DOUBLE) + 0.1) AS u
           |  FROM r JOIN v${it - 1} v USING (item) GROUP BY 1),
           |v$it AS (
           |  SELECT r.item, CAST(count(*) AS BIGINT) AS n_entities,
           |    CAST(sum(CAST(r.c * u.u AS DECIMAL(28,12))) AS DOUBLE) /
           |    (CAST(sum(CAST(r.c * u.u * u.u AS DECIMAL(28,12))) AS DOUBLE) + 0.1) AS v
           |  FROM r JOIN u$it u USING (e) GROUP BY 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH r AS (
         |  SELECT user_id AS e, event_type AS item,
         |    1.0 + 0.1 * CAST(count(*) AS DOUBLE) AS c
         |  FROM events GROUP BY 1, 2),
         |v0 AS (
         |  SELECT item, CAST(1.0 AS DOUBLE) AS v
         |  FROM (SELECT DISTINCT item FROM r)),
         |$rounds
         |SELECT v1.item AS event_type, v1.n_entities AS n_users,
         |  round(v1.v, 6) AS v_1, round(v2.v, 6) AS v_2
         |FROM v1 JOIN v2 USING (item)""".stripMargin
    }),

    // --- beyond-reference: equal-frequency binning -----------------------
    // Length-balanced batch construction: exact quartile boundaries of
    // n_chars (quarter fractions — interpolation exact in binary on
    // integer inputs, SURVEY §7.3) broadcast back over the table, then
    // per-bin occupancy. The boundary row is a one-row broadcast, the
    // binning a codegen'd projection: two scans, zero wide shuffles.
    QueryDef("q_quantile_bin", (s, dir) => {
      val q = t(s, dir, "documents").agg(
        percentile(col("n_chars"), lit(0.25)).as("q1"),
        percentile(col("n_chars"), lit(0.5)).as("q2"),
        percentile(col("n_chars"), lit(0.75)).as("q3"))
      t(s, dir, "documents")
        .join(broadcast(q))
        .withColumn("bin",
          when(col("n_chars") <= col("q1"), 0)
            .when(col("n_chars") <= col("q2"), 1)
            .when(col("n_chars") <= col("q3"), 2)
            .otherwise(3))
        .groupBy("bin")
        .agg(
          count(lit(1)).as("n_docs"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"),
        )
    }, oracleSql =
      """WITH q AS (SELECT quantile_cont(n_chars, 0.25) AS q1,
        |  quantile_cont(n_chars, 0.5) AS q2, quantile_cont(n_chars, 0.75) AS q3
        |  FROM documents)
        |SELECT CASE WHEN n_chars <= q1 THEN 0 WHEN n_chars <= q2 THEN 1
        |  WHEN n_chars <= q3 THEN 2 ELSE 3 END AS bin,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |FROM documents, q GROUP BY 1""".stripMargin),

    // --- beyond-reference: MAD robust outlier flags ----------------------
    // Median-absolute-deviation outlier rate per language (the robust
    // z-score: immune to the very outliers it hunts). Medians at the .5
    // fraction interpolate halves — exact in binary on integer n_chars
    // and the integer-grid deviations, so both engines agree bitwise.
    // The deviation subtree feeds two consumers (MAD agg + final agg) —
    // checkpointed so the scan+join runs once.
    QueryDef("q_mad_outliers", (s, dir) => {
      val med = t(s, dir, "documents")
        .groupBy("lang")
        .agg(percentile(col("n_chars"), lit(0.5)).as("med"))
      val dev = t(s, dir, "documents")
        .join(broadcast(med), Seq("lang"))
        .withColumn("dev", abs(col("n_chars") - col("med")))
        .localCheckpoint(false)
      val mad = dev.groupBy("lang").agg(percentile(col("dev"), lit(0.5)).as("mad"))
      dev
        .join(broadcast(mad), Seq("lang"))
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          max(col("med")).as("med"),
          max(col("mad")).as("mad"),
          count(when(col("dev") > lit(3.0) * col("mad"), 1)).as("n_outliers"),
        )
    }, oracleSql =
      """WITH med AS (SELECT lang, quantile_cont(n_chars, 0.5) AS med
        |  FROM documents GROUP BY 1),
        |dev AS (SELECT d.lang, abs(n_chars - med) AS dev, med
        |  FROM documents d JOIN med USING (lang)),
        |mad AS (SELECT lang, quantile_cont(dev, 0.5) AS mad FROM dev GROUP BY 1)
        |SELECT dev.lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  max(med) AS med, max(mad) AS mad,
        |  CAST(count(CASE WHEN dev > 3.0 * mad THEN 1 END) AS BIGINT) AS n_outliers
        |FROM dev JOIN mad USING (lang) GROUP BY 1""".stripMargin),

    // --- beyond-reference: k-means semantic clustering -------------------
    // The semantic-sharding / SemDeDup primitive: Lloyd k-means over the
    // embedding table (KMeans.lloyd — data never collected, model
    // broadcast per round), read out as per-cluster occupancy and
    // cohesion. Oracled: the 4 Lloyd rounds unroll into materialized
    // DuckDB CTEs with the same decimal(28,12) centroid accumulation;
    // SimilaritySpec additionally pins determinism, separation recovery,
    // and assignment optimality.
    QueryDef("q_semantic_cluster", (s, dir) => {
      KMeans.lloyd(t(s, dir, "embeddings"), "vec_id", "embedding", k = 8, dim = 64, iters = 4)
        .groupBy("cluster")
        .agg(
          count(lit(1)).as("n_vecs"),
          round(sum(col("sim").cast("decimal(24,12)")).cast("double") / count(lit(1)), 6).as("avg_sim"),
          min(col("id")).as("min_vec"),
          max(col("id")).as("max_vec"),
        )
    },
      // Generated, not hand-written: four unrolled Lloyd rounds. Assignment
      // is the (sim DESC, cid) argmax per vector; the centroid update sums
      // through DECIMAL(28,12) exactly like the KMeans fit, so the per-round
      // model is engine-identical (the only FP risk is an argmax between
      // two centroids within ~1e-15 cosine — a measure-zero tie on this
      // data, and the gate re-checks the same corpus every round). Empty
      // clusters inherit the previous centroid via the left join, matching
      // the Scala loop's degenerate-case handling.
      oracleSql = {
      s"""WITH ${lloydCtes(k = 8, iters = 4, dim = 64)},
         |a5 AS MATERIALIZED (
         |  SELECT vec_id, cid, sim FROM (
         |    SELECT e.vec_id, c.cid, list_cosine_similarity(e.v, c.cv) AS sim,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS rn
         |    FROM e, c4 c)
         |  WHERE rn = 1)
         |SELECT cid AS cluster, count(*) AS n_vecs,
         |  round(CAST(sum(CAST(sim AS DECIMAL(24,12))) AS DOUBLE) / count(*), 6) AS avg_sim,
         |  min(vec_id) AS min_vec, max(vec_id) AS max_vec
         |FROM a5 GROUP BY cid""".stripMargin
    }),

    // --- beyond-reference: semantic dedup (SemDeDup, Abbas et al. 2023) --
    // Cluster-then-dedup-within-cluster via SemDeDup.dedupAuto: fitted
    // k-means assigns every embedding to a cell, then pairwise cosine runs
    // ONLY inside each (cluster, subcell) — Σc² work with cᵢ ≤ maxCell
    // enforced in code (deterministic sub-sharding of oversized cells, the
    // NearDup bucket-cap pattern), and k derived from the corpus size
    // (SemDeDup.kForCorpus) so cells stay constant-sized as n grows. At
    // every oracle scale (n ≤ 8·4096) the derived k is the minK floor of 8
    // and no cell exceeds the cap, so the plan is bit-identical to the
    // uncapped k=8 oracle below; at sf1 the ScaleBench row runs k=13 —
    // the envelope working, not documented. A vector attaches to the
    // smallest earlier id in its cell with sim >= tau (greedy pruning,
    // deterministic, decimal(28,12)-quantized threshold); survivors keep
    // NULL attachment. Oracle: the SAME Lloyd rounds as q_semantic_cluster
    // via lloydCtes, then the pair join in SQL.
    QueryDef("q_semdedup", (s, dir) =>
      SemDeDup.dedupAuto(t(s, dir, "embeddings"), "vec_id", "embedding",
        dim = 64, tau = new java.math.BigDecimal("0.35"), iters = 4,
        targetCell = 4096L, minK = 8, maxCell = 4096),
      // Generated: same Lloyd rounds + assignment as q_semantic_cluster,
      // then the within-cell pair join. Greedy attach = min earlier id
      // above tau; keep = no such partner.
      oracleSql = {
      s"""WITH ${lloydCtes(k = 8, iters = 4, dim = 64)},
         |a5 AS MATERIALIZED (
         |  SELECT vec_id, cid FROM (
         |    SELECT e.vec_id, c.cid,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS rn
         |    FROM e, c4 c)
         |  WHERE rn = 1),
         |av AS MATERIALIZED (
         |  SELECT a5.vec_id, a5.cid, e.v FROM a5 JOIN e USING (vec_id)),
         |dup AS (
         |  SELECT a.cid, a.vec_id, count(*) AS n_near, min(b.vec_id) AS attached_to
         |  FROM av a JOIN av b ON a.cid = b.cid AND b.vec_id < a.vec_id
         |    AND CAST(list_cosine_similarity(a.v, b.v) AS DECIMAL(28,12)) >= 0.35
         |  GROUP BY a.cid, a.vec_id)
         |SELECT av.vec_id, av.cid AS cluster, dup.attached_to,
         |  CAST(coalesce(dup.n_near, 0) AS BIGINT) AS n_near,
         |  dup.attached_to IS NULL AS keep
         |FROM av LEFT JOIN dup ON av.cid = dup.cid AND av.vec_id = dup.vec_id""".stripMargin
    }),

    // --- beyond-reference: cluster assignment-margin quality -------------
    // How confident is each k-means assignment? Per vector, cosine to
    // the best and second-best FITTED centroid (the same Lloyd fit as
    // q_semantic_cluster — oracle reuses lloydCtes), margin = a − b;
    // per cluster: occupancy, mean margin (decimal-summed), and the
    // weakest assignment. The clustering-quality readout of the eval
    // family (a near-zero min margin marks boundary vectors SemDeDup's
    // cell pruning would treat as interchangeable). Centroids broadcast
    // as literals — one scan, one aggregation.
    QueryDef("q_cluster_margin", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = KMeans.centroids(emb, "vec_id", "embedding", k = 8, dim = 64, iters = 4)
      val scored = array(cents.zipWithIndex.map { case (c, i) =>
        struct(
          (-nanvl(graft.functions.GraftFunctions.cosineSim(
            col("embedding"), array(c.map(lit(_)).toIndexedSeq: _*)), lit(-2.0))).as("negsim"),
          lit(i).as("cid"))
      }.toIndexedSeq: _*)
      emb.select(col("vec_id"), array_sort(scored).as("ranked"))
        .select(col("vec_id"),
          element_at(col("ranked"), 1).getField("cid").as("cluster"),
          (-element_at(col("ranked"), 1).getField("negsim")).as("a"),
          (-element_at(col("ranked"), 2).getField("negsim")).as("b"))
        .withColumn("margin", col("a") - col("b"))
        .groupBy("cluster")
        .agg(
          count(lit(1)).as("n"),
          round(sum(col("margin").cast("decimal(28,12)")).cast("double") /
            count(lit(1)).cast("double"), 6).as("avg_margin"),
          round(min(col("margin")), 6).as("min_margin"))
    },
      // Same Lloyd fit as q_semantic_cluster (lloydCtes), then top-2
      // centroid sims per vector and the per-cluster margin readout.
      oracleSql = {
      s"""WITH ${lloydCtes(k = 8, iters = 4, dim = 64)},
         |ranked AS (
         |  SELECT vec_id, cid, sim, rn FROM (
         |    SELECT e.vec_id, c.cid, list_cosine_similarity(e.v, c.cv) AS sim,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS rn
         |    FROM e, c4 c) WHERE rn <= 2),
         |m AS (
         |  SELECT a.vec_id, a.cid AS cluster, a.sim - b.sim AS margin
         |  FROM ranked a JOIN ranked b
         |    ON a.vec_id = b.vec_id AND a.rn = 1 AND b.rn = 2)
         |SELECT cluster, CAST(count(*) AS BIGINT) AS n,
         |  round(CAST(sum(CAST(margin AS DECIMAL(28,12))) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE), 6) AS avg_margin,
         |  round(min(margin), 6) AS min_margin
         |FROM m GROUP BY 1""".stripMargin
    }),

    // --- beyond-reference: INCREMENTAL semantic dedup (standing index) --
    // The dense member of the incremental-dedup family: centroids fit
    // ONCE on the base load (vec_id%4!=0), the base dedups into a kept
    // store, and the %4==0 batch assigns to the FROZEN centroids and
    // dedups against kept ∪ batch within cells — old×old never
    // re-paired, removed base dups never re-enter (a new near-copy of a
    // removed dup still dies via the kept survivor). Oracle: the same
    // Lloyd rounds with the fit restricted to the base slice
    // (lloydCtes(fitWhere)), base dedup, kept set, batch assignment, and
    // the kept-eligible-at-any-id pair rule — hash-exact.
    QueryDef("q_semdedup_incremental", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val tau = new java.math.BigDecimal("0.35")
      val idx = SemDeDup.buildIndex(
        emb.filter(col("vec_id") % 4 =!= 0), "vec_id", "embedding",
        dim = 64, tau = tau, k = 8, iters = 4)
      SemDeDup.dedupIncrement(emb.filter(col("vec_id") % 4 === 0), "vec_id", "embedding", idx, tau)
    },
      // Incremental SemDeDup: Lloyd fit restricted to the base slice,
      // base dedup -> kept set, batch assigned in the frozen model, pair
      // rule = kept at any id OR smaller-id batch member (the
      // SemDeDup.dedupIncrement contract).
      oracleSql = {
      s"""WITH ${lloydCtes(k = 8, iters = 4, dim = 64, fitWhere = "vec_id % 4 <> 0")},
         |ba AS MATERIALIZED (
         |  SELECT vec_id, cid FROM (
         |    SELECT e.vec_id, c.cid,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS rn
         |    FROM ef e, c4 c)
         |  WHERE rn = 1),
         |bav AS MATERIALIZED (
         |  SELECT ba.vec_id, ba.cid, e.v FROM ba JOIN e USING (vec_id)),
         |bdup AS (
         |  SELECT a.cid, a.vec_id, min(b.vec_id) AS attached_to
         |  FROM bav a JOIN bav b ON a.cid = b.cid AND b.vec_id < a.vec_id
         |    AND CAST(list_cosine_similarity(a.v, b.v) AS DECIMAL(28,12)) >= 0.35
         |  GROUP BY a.cid, a.vec_id),
         |kept AS MATERIALIZED (
         |  SELECT bav.vec_id, bav.cid, bav.v
         |  FROM bav LEFT JOIN bdup ON bav.cid = bdup.cid AND bav.vec_id = bdup.vec_id
         |  WHERE bdup.attached_to IS NULL),
         |na AS MATERIALIZED (
         |  SELECT vec_id, cid FROM (
         |    SELECT e.vec_id, c.cid,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS rn
         |    FROM (SELECT vec_id, v FROM e WHERE vec_id % 4 = 0) e, c4 c)
         |  WHERE rn = 1),
         |nav AS MATERIALIZED (
         |  SELECT na.vec_id, na.cid, e.v FROM na JOIN e USING (vec_id)),
         |cand AS (
         |  SELECT vec_id AS other_id, cid, v, FALSE AS other_new FROM kept
         |  UNION ALL
         |  SELECT vec_id, cid, v, TRUE FROM nav),
         |dup AS (
         |  SELECT a.cid, a.vec_id, count(*) AS n_near, min(b.other_id) AS attached_to
         |  FROM nav a JOIN cand b ON a.cid = b.cid
         |    AND (NOT b.other_new OR b.other_id < a.vec_id)
         |    AND CAST(list_cosine_similarity(a.v, b.v) AS DECIMAL(28,12)) >= 0.35
         |  GROUP BY a.cid, a.vec_id)
         |SELECT nav.vec_id, nav.cid AS cluster, dup.attached_to,
         |  CAST(coalesce(dup.n_near, 0) AS BIGINT) AS n_near,
         |  dup.attached_to IS NULL AS keep
         |FROM nav LEFT JOIN dup ON nav.cid = dup.cid AND nav.vec_id = dup.vec_id""".stripMargin
    }),

    // --- beyond-reference: PageRank centrality (rows-only) ---------------
    // Power iteration over the part co-purchase graph (edges = q_cooccur's
    // basket pairs, both directions). One shuffle per round, decimal mass
    // accumulation, checkpoint cadence capping plan growth — GraphSpec
    // pins the fixpoint algebra on hand graphs; the DuckDB oracle runs the
    // same 8 rounds as a recursive CTE (identical decimal(28,12) contrib
    // quantization → hash-exact, not approximate).
    // runAdaptive: the n>=2 filter leaves a few-thousand-edge graph at
    // bench scale, which iterates on the driver (bit-identically) instead
    // of paying 8 distributed rounds of scheduler latency; a 100 TB
    // basket graph exceeds the threshold and takes the distributed path.
    QueryDef("q_pagerank", (s, dir) => {
      PageRank.runAdaptive(bothDirections(copurchasePairs(s, dir)), iters = 8)
        .select(col("node").as("part"), round(col("rank"), 6).as("rank"))
    },
      // Power iteration as a recursive CTE: the working table is one
      // iteration's (node, rank) frontier; contributions quantize through
      // the SAME decimal(28,12) as the Spark path, so the comparison is
      // hash-exact. The teleport base is forced to DOUBLE subtraction —
      // bare (1.0 - 0.85) would evaluate in DuckDB's DECIMAL arithmetic,
      // whose 0.15 cast to double is one ulp below Spark's
      // lit(1.0 - 0.85) = 0.15000000000000002.
      oracleSql =
      s"""WITH RECURSIVE
        |$basketCandCtes
        |pairs AS (SELECT a, b FROM cand GROUP BY a, b HAVING count(*) >= 2),
        |edges AS (SELECT a AS src, b AS dst FROM pairs UNION ALL SELECT b, a FROM pairs),
        |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
        |nodes AS (SELECT src AS node FROM deg),
        |${pageRankCte(init = "CAST(1.0 AS DOUBLE)",
          rank = "(CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) + 0.85 * CAST(COALESCE(m.mass, 0) AS DOUBLE)",
          contrib = "p.rank / d.deg")}""".stripMargin),

    // --- beyond-reference: personalized PageRank -------------------------
    // "Related to THESE items": teleport mass lands only on the seed
    // parts (every 50th id), so rank measures proximity to the seed set
    // instead of global centrality — q_pagerank's dataflow with a
    // seed-masked teleport vector (shared power loop, decimal mass,
    // 8 unrolled recursive-CTE rounds in the oracle). Nodes unreachable
    // from any seed read exactly 0.
    QueryDef("q_ppr", (s, dir) => {
      PageRank.runPersonalizedAdaptive(bothDirections(copurchasePairs(s, dir)),
        isSeed = col("node") % 50 === 0, iters = 8)
        .select(col("node").as("part"), round(col("rank"), 6).as("rank"))
    },
      // Personalized variant: identical recursion with the seed-masked
      // teleport (init = teleport; floor = (1-d)*tele).
      oracleSql =
      s"""WITH RECURSIVE
        |$basketCandCtes
        |pairs AS (SELECT a, b FROM cand GROUP BY a, b HAVING count(*) >= 2),
        |edges AS (SELECT a AS src, b AS dst FROM pairs UNION ALL SELECT b, a FROM pairs),
        |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
        |nodes AS (SELECT src AS node,
        |  CASE WHEN src % 50 = 0 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END AS tele
        |  FROM deg),
        |${pageRankCte(init = "tele",
          rank = "(CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) * n.tele\n" +
            "           + 0.85 * CAST(COALESCE(m.mass, 0) AS DOUBLE)",
          contrib = "p.rank / d.deg")}""".stripMargin),

    // --- beyond-reference: two-sample Kolmogorov-Smirnov drift test ------
    // Distribution-drift QC between data slices (the training-mix
    // question "do even-numbered sources ship the same length profile as
    // odd ones?"): per language, KS of n_chars between the two source
    // halves. Stats.ksTest2 — one shuffle on the group key; the two
    // cumulative ECDFs (RANGE frame: ties land inclusively on both
    // sides) and the two sample totals ride the same window exchange;
    // every float op is a correctly-rounded division/subtraction of
    // exact integers, so the identical-tree oracle hashes exactly.
    QueryDef("q_ks_test", (s, dir) =>
      Stats.ksTest2(t(s, dir, "documents"),
        group = col("lang"), value = col("n_chars"),
        inSample1 = pmod(substring(col("source"), 4, 10).cast("int"), lit(2)) === 0)
        .withColumnRenamed("g", "lang")
        .withColumn("d", round(col("d"), 12))
        .withColumn("ks_stat", round(col("ks_stat"), 12))
        .withColumn("p_asym", round(col("p_asym"), 12)), oracleSql =
      """WITH base AS (
        |  SELECT lang, CAST(n_chars AS DOUBLE) AS v,
        |    CASE WHEN CAST(substr(source, 4, 10) AS INT) % 2 = 0 THEN 1 ELSE 0 END AS s1
        |  FROM documents),
        |cum AS (
        |  SELECT lang, s1,
        |    sum(s1) OVER (PARTITION BY lang ORDER BY v
        |      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c1,
        |    sum(1 - s1) OVER (PARTITION BY lang ORDER BY v
        |      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c2,
        |    sum(s1) OVER (PARTITION BY lang) AS n1,
        |    sum(1 - s1) OVER (PARTITION BY lang) AS n2
        |  FROM base),
        |agg AS (
        |  SELECT lang, CAST(max(n1) AS BIGINT) AS n1, CAST(max(n2) AS BIGINT) AS n2,
        |    max(abs(CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE)
        |          - CAST(c2 AS DOUBLE) / CAST(n2 AS DOUBLE))) AS d
        |  FROM cum WHERE n1 > 0 AND n2 > 0 GROUP BY 1),
        |ks AS (
        |  SELECT lang, n1, n2, d,
        |    sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE)) * d AS ks_stat
        |  FROM agg)
        |SELECT lang, n1, n2, round(d, 12) AS d, round(ks_stat, 12) AS ks_stat,
        |  round(least(1.0, 2.0 * exp(-2.0 * ks_stat * ks_stat)), 12) AS p_asym
        |FROM ks""".stripMargin),

    // --- beyond-reference: Mann-Whitney U rank-sum test ------------------
    // The rank-based experiment readout beside q_ab_ztest's proportion z:
    // per event type, does the A variant (even user_id) draw
    // stochastically larger values than B? Half-integer average ranks
    // accumulate as INTEGER 2·rank-sums (sum order cannot perturb them)
    // and the tie term folds from the per-row ct²−1 identity, so the
    // tie-corrected z is a fixed IEEE expression over exact integers.
    QueryDef("q_mannwhitney", (s, dir) =>
      Stats.mannWhitneyU(t(s, dir, "events"),
        group = col("event_type"), value = col("value"),
        inSample1 = pmod(col("user_id"), lit(2)) === 0)
        .withColumnRenamed("g", "event_type")
        .withColumn("u1", round(col("u1"), 6))
        .withColumn("z", round(col("z"), 12)), oracleSql =
      """WITH base AS (
        |  SELECT event_type AS g, CAST(value AS DOUBLE) AS v,
        |    CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS s1
        |  FROM events),
        |rk AS (
        |  SELECT g, s1,
        |    2 * rank() OVER (PARTITION BY g ORDER BY v)
        |      + count(*) OVER (PARTITION BY g, v) - 1 AS r2,
        |    count(*) OVER (PARTITION BY g, v) AS ct
        |  FROM base),
        |agg AS (
        |  SELECT g AS event_type,
        |    CAST(sum(s1) AS BIGINT) AS n1, CAST(sum(1 - s1) AS BIGINT) AS n2,
        |    CAST(sum(CASE WHEN s1 = 1 THEN r2 ELSE 0 END) AS BIGINT) AS r2sum,
        |    CAST(sum(ct * ct - 1) AS BIGINT) AS tiesum
        |  FROM rk GROUP BY 1),
        |u AS (
        |  SELECT event_type, n1, n2,
        |    CAST(r2sum AS DOUBLE) / 2.0 - CAST(n1 * (n1 + 1) AS DOUBLE) / 2.0 AS u1,
        |    tiesum
        |  FROM agg WHERE n1 > 0 AND n2 > 0)
        |SELECT event_type, n1, n2, round(u1, 6) AS u1,
        |  round((u1 - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 2.0) /
        |    sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0 *
        |      (CAST(n1 + n2 + 1 AS DOUBLE)
        |       - CAST(tiesum AS DOUBLE) / (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 - 1 AS DOUBLE)))), 12) AS z
        |FROM u""".stripMargin),

    // --- beyond-reference: two-sample energy distance --------------------
    // The metric-weighted drift test beside q_ks_test (sup-gap) and
    // q_mannwhitney (rank shift): per ship month, how far apart are the
    // RETURNED ('R') and ACCEPTED ('A') price distributions, in price
    // units? Energy distance is zero iff the distributions match, so it
    // catches shape drift KS underweights in the tails. The O(n²)
    // pairwise |diff| sums fold to one pass over the sorted DISTINCT
    // cent domain (order-statistic identity, Stats.energyDistance) —
    // the windows run over the price DOMAIN, not the rows, and every
    // accumulator is an exact integer until the final IEEE expression.
    QueryDef("q_energy_dist", (s, dir) =>
      Stats.energyDistance(
        t(s, dir, "lineitem").filter(col("l_returnflag").isin("R", "A")),
        group = month(col("l_shipdate").cast("timestamp")),
        valueInt = (col("l_extendedprice").cast("decimal(12,2)") * 100)
          .cast("decimal(14,0)").cast("long"),
        inSample1 = col("l_returnflag") === "R")
        .withColumnRenamed("g", "ship_month")
        .withColumn("e_xx", round(col("e_xx"), 6))
        .withColumn("e_yy", round(col("e_yy"), 6))
        .withColumn("e_xy", round(col("e_xy"), 6))
        .withColumn("energy", round(col("energy"), 6)),
      // Energy distance via the same order-statistic reduction the Spark
      // side runs: exclusive prefix count/sum windows over the distinct
      // cent domain, exact integer charges, one IEEE expression at the end
      // (identical op order → identical bits; round(6) is ulp armor).
      oracleSql =
      """WITH pts AS (
        |  SELECT CAST(month(l_shipdate) AS INT) AS g,
        |    CAST(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS DECIMAL(14,0)) AS BIGINT) AS v,
        |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS s1
        |  FROM lineitem WHERE l_returnflag IN ('R', 'A')),
        |g AS (SELECT g, v, sum(s1) AS cx, sum(1 - s1) AS cy FROM pts GROUP BY g, v),
        |c AS (
        |  SELECT g, v, cx, cy,
        |    coalesce(sum(cx) OVER w, 0) AS pxlt,
        |    coalesce(sum(cy) OVER w, 0) AS pylt,
        |    coalesce(sum(cx * v) OVER w, 0) AS sxlt,
        |    coalesce(sum(cy * v) OVER w, 0) AS sylt
        |  FROM g
        |  WINDOW w AS (PARTITION BY g ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |m AS (
        |  SELECT g,
        |    CAST(sum(cx) AS BIGINT) AS nx, CAST(sum(cy) AS BIGINT) AS ny,
        |    sum(cx * (v * pxlt - sxlt)) AS sxx,
        |    sum(cy * (v * pylt - sylt)) AS syy,
        |    sum(cy * (v * pxlt - sxlt)) + sum(cx * (v * pylt - sylt)) AS sxy
        |  FROM c GROUP BY g)
        |SELECT g AS ship_month, nx, ny,
        |  round(CAST(sxx AS DOUBLE) * 2.0 / (CAST(nx AS DOUBLE) * CAST(nx AS DOUBLE)), 6) AS e_xx,
        |  round(CAST(syy AS DOUBLE) * 2.0 / (CAST(ny AS DOUBLE) * CAST(ny AS DOUBLE)), 6) AS e_yy,
        |  round(CAST(sxy AS DOUBLE) / (CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE)), 6) AS e_xy,
        |  round(2.0 * (CAST(sxy AS DOUBLE) / (CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE)))
        |    - CAST(sxx AS DOUBLE) * 2.0 / (CAST(nx AS DOUBLE) * CAST(nx AS DOUBLE))
        |    - CAST(syy AS DOUBLE) * 2.0 / (CAST(ny AS DOUBLE) * CAST(ny AS DOUBLE)), 6) AS energy
        |FROM m WHERE nx > 0 AND ny > 0""".stripMargin),

    // --- beyond-reference: SCD2 interval construction --------------------
    // Slowly-changing-dimension build from a change stream: each user's
    // purchase "spend tier" (floor(value/25)) becomes half-open validity
    // intervals — consecutive same-tier purchases collapse, the live
    // interval carries valid_to null / is_current true. Scd.scd2 plans
    // ONE exchange on user_id feeding lag + lead + row_number
    // back-to-back (the filter between them preserves the sort), vs the
    // naive self-join-on-next-change. Event-time as integer µs
    // (engine convention), event_id the uniqueness tiebreak.
    QueryDef("q_scd2", (s, dir) =>
      Scd.scd2(
        t(s, dir, "events").filter(col("event_type") === "purchase"),
        key = col("user_id"),
        attr = floor(col("value") / 25.0).cast("long"),
        ts = tsUs(col("ts")),
        tiebreak = col("event_id"))
        .withColumnRenamed("k", "user_id")
        .withColumnRenamed("attr", "tier"), oracleSql =
      scd2TierSql),

    // --- beyond-reference: INCREMENTAL SCD2 maintenance ------------------
    // The warehouse-dimension member of the incremental family: the
    // standing SCD2 table is built from the first ~3 weeks of purchases,
    // the tail folds in through Scd.scd2Increment (closed intervals
    // immutable; only affected live rows close; cross-boundary repeats
    // collapse), and the oracle is the FULL recompute — fold ≡ rebuild
    // is the correctness claim, hash-exact. The standing table is never
    // re-shuffled; only the batch pays the key exchange.
    QueryDef("q_scd2_incremental", (s, dir) => {
      val cutUs = 1706054400000000L // 2024-01-24T00:00Z in epoch micros
      val p = t(s, dir, "events").filter(col("event_type") === "purchase")
      val base = Scd.scd2(
        p.filter(tsUs(col("ts")) < cutUs),
        key = col("user_id"), attr = floor(col("value") / 25.0).cast("long"),
        ts = tsUs(col("ts")), tiebreak = col("event_id"))
      Scd.scd2Increment(
        base,
        p.filter(tsUs(col("ts")) >= cutUs),
        key = col("user_id"), attr = floor(col("value") / 25.0).cast("long"),
        ts = tsUs(col("ts")), tiebreak = col("event_id"))
        .withColumnRenamed("k", "user_id")
        .withColumnRenamed("attr", "tier")
    },
      // Fold == full rebuild: the incremental query's oracle IS the
      // one-shot recompute over the union.
      oracleSql =
      scd2TierSql),

    // --- beyond-reference: blocked entity resolution (record linkage) ----
    // Fuzzy-match dirtied customer names back to the clean roster: a
    // deterministic typo per name (key%3 picks dropped-char / doubled-
    // char / transposition — the classic linkage error classes), then
    // candidates = equi-join on the blocking key (last 4 digits, intact
    // under all three typos), scored by the codegen'd JaroWinkler kernel
    // (DuckDB-exact semantics, Expressions.scala), best match per dirty
    // record via (sim desc, key) argmax. Scale shape: blocking turns the
    // n² all-pairs into Σ block², with 10^4 key values keeping blocks
    // O(n/10^4); the window's top-1 compiles to WindowGroupLimit.
    QueryDef("q_entity_match", (s, dir) => {
      val c = t(s, dir, "customer").select(col("c_custkey"), col("c_name"))
      val dirty = c.select(
        col("c_custkey").as("d_key"),
        typoCustomerName.as("d_name"))
      graft.core.Linkage.bestMatch(
        dirty, "d_key", "d_name", c, "c_custkey", "c_name",
        blockLen = 4, minSim = 0.85)
    }, oracleSql =
      s"""WITH $typoMatchCtes
        |r AS (
        |  SELECT d_key, d_name, c_custkey, sim,
        |    row_number() OVER (PARTITION BY d_key ORDER BY sim DESC, c_custkey) AS rn
        |  FROM j)
        |SELECT d_key, d_name, c_custkey AS matched_key, round(sim, 6) AS sim
        |FROM r WHERE rn = 1""".stripMargin),

    // --- beyond-reference: reciprocal (mutual-argmax) entity match -------
    // q_entity_match's one-directional argmax lets many dirty probes pile
    // onto one popular roster row; this keeps a pair only when each side
    // is the OTHER's single best (ties by id, both directions) — the 1:1
    // precision tightening review queues are built on. Same block join
    // and JW scoring, run ONCE: the two argmax windows re-key the same
    // scored pairs (Linkage.reciprocalBestMatch).
    QueryDef("q_reciprocal_match", (s, dir) => {
      val c = t(s, dir, "customer").select(col("c_custkey"), col("c_name"))
      val dirty = c.select(
        col("c_custkey").as("d_key"),
        typoCustomerName.as("d_name"))
      graft.core.Linkage.reciprocalBestMatch(
        dirty, "d_key", "d_name", c, "c_custkey", "c_name",
        blockLen = 4, minSim = 0.85)
    },
      // Mutual argmax: the q_entity_match candidate CTE with row_number
      // in BOTH directions, both filtered to 1.
      oracleSql =
      s"""WITH $typoMatchCtes
        |r AS (
        |  SELECT d_key, d_name, c_custkey, sim,
        |    row_number() OVER (PARTITION BY d_key ORDER BY sim DESC, c_custkey) AS rp,
        |    row_number() OVER (PARTITION BY c_custkey ORDER BY sim DESC, d_key) AS rr
        |  FROM j)
        |SELECT d_key, d_name, c_custkey AS matched_key, round(sim, 6) AS sim
        |FROM r WHERE rp = 1 AND rr = 1""".stripMargin),

    // --- beyond-reference: edit-distance audit of the typo classes -------
    // The metric contrast the linkage kit is built on, read directly:
    // per injected typo class (dropped char / doubled char /
    // transposition), mean Damerau-Levenshtein vs mean plain Levenshtein
    // between each dirty name and its true clean form. The transposition
    // row shows DL = 1 where Levenshtein charges 2 — the reason the
    // transposition-aware metric exists. Integer DP kernels (no floats
    // until the final mean division); one broadcast-joined scan.
    QueryDef("q_edit_audit", (s, dir) => {
      val c = t(s, dir, "customer").select(col("c_custkey"), col("c_name"))
      val dirty = c.select(
        col("c_custkey"), col("c_name"),
        pmod(col("c_custkey"), lit(3)).as("cls"),
        typoCustomerName.as("d_name"))
      dirty
        .withColumn("dl", graft.functions.GraftFunctions
          .damerauLevenshtein(col("d_name"), col("c_name")))
        .withColumn("lev", levenshtein(col("d_name"), col("c_name")))
        .groupBy("cls")
        .agg(
          count(lit(1)).as("n"),
          round(sum(col("dl")).cast("double") / count(lit(1)).cast("double"), 6).as("avg_dl"),
          round(sum(col("lev")).cast("double") / count(lit(1)).cast("double"), 6).as("avg_lev"),
          max(col("dl")).as("max_dl"))
    }, oracleSql =
      """WITH d AS (
        |  SELECT c_custkey % 3 AS cls, c_name,
        |    CASE WHEN c_custkey % 3 = 0 THEN 'C' || substr(c_name, 3, 64)
        |         WHEN c_custkey % 3 = 1 THEN substr(c_name, 1, 6) || 'm' || substr(c_name, 7, 64)
        |         ELSE 'Cuts' || substr(c_name, 5, 64) END AS d_name
        |  FROM customer)
        |SELECT cls, CAST(count(*) AS BIGINT) AS n,
        |  round(CAST(sum(damerau_levenshtein(d_name, c_name)) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE), 6) AS avg_dl,
        |  round(CAST(sum(levenshtein(d_name, c_name)) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE), 6) AS avg_lev,
        |  CAST(max(damerau_levenshtein(d_name, c_name)) AS INT) AS max_dl
        |FROM d GROUP BY 1""".stripMargin),

    // --- beyond-reference: Fellegi-Sunter EM linkage calibration ---------
    // q_entity_match thresholds at a HAND-PICKED 0.85; this learns what
    // agreement is worth, unlabeled: sorted-neighborhood candidate pairs
    // over part (block p_type, order p_name, 3 forward neighbors — the
    // q_sorted_neighbor linear idiom, never n²) are compared on brand
    // equality / size proximity / name JW, and two EM rounds estimate
    // the m/u probabilities and match prevalence λ. Each round is ONE
    // aggregation; the E-step weight is a fixed IEEE tree whose
    // parameters ride a broadcast 1-row cross join, quantized to
    // decimal(28,12) before every sum (Linkage.fellegiSunterEM — the
    // PageRank mass discipline, so the oracle adds the same integers).
    QueryDef("q_fellegi_sunter", (s, dir) => {
      val w = Window.partitionBy("p_type").orderBy(col("p_name"), col("p_partkey"))
      val led = t(s, dir, "part").select(
        Seq(col("p_partkey"), col("p_name"), col("p_brand"), col("p_size")) ++
          (1 to 3).flatMap(i => Seq(
            lead(col("p_partkey"), i).over(w).as(s"k$i"),
            lead(col("p_name"), i).over(w).as(s"n$i"),
            lead(col("p_brand"), i).over(w).as(s"b$i"),
            lead(col("p_size"), i).over(w).as(s"s$i"))): _*)
      val pairs = (1 to 3).map(i => led.filter(col(s"k$i").isNotNull).select(
        (col("p_brand") === col(s"b$i")).cast("int").as("a_brand"),
        (abs(col("p_size") - col(s"s$i")) <= 2).cast("int").as("a_size"),
        (graft.functions.GraftFunctions.jaroWinkler(col("p_name"), col(s"n$i")) >= 0.85)
          .cast("int").as("a_name")))
        .reduce(_ unionByName _)
      graft.core.Linkage.fellegiSunterEM(
        pairs, Seq("a_brand", "a_size", "a_name"), iters = 2)
        .select(col("n_pairs"), round(col("lam"), 9).as("lam"),
          round(col("m_a_brand"), 9).as("m_brand"), round(col("u_a_brand"), 9).as("u_brand"),
          round(col("m_a_size"), 9).as("m_size"), round(col("u_a_size"), 9).as("u_size"),
          round(col("m_a_name"), 9).as("m_name"), round(col("u_a_name"), 9).as("u_name"))
    },
      // Generated helper: the EM rounds must be textually identical per
      // iteration (and op-for-op identical to Linkage.fellegiSunterEM),
      // so the SQL is built by the same fold that builds the Spark plan.
      oracleSql = fellegiSunterOracleSql),

    // --- beyond-reference: Welch's unequal-variance t-test ---------------
    // The parametric member of the two-sample family (q_ks_test shape,
    // q_mannwhitney rank-order, this one mean-difference) on the same
    // slices: per language, do even-numbered sources ship longer docs?
    // Means/variances from exact decimal sums of v and v² (sum-order
    // independent), t and Welch-Satterthwaite df as fixed IEEE trees —
    // one aggregation, no window, oracle bit-equal.
    QueryDef("q_welch_t", (s, dir) =>
      Stats.welchT(t(s, dir, "documents"),
        group = col("lang"), value = col("n_chars"),
        inSample1 = pmod(substring(col("source"), 4, 10).cast("int"), lit(2)) === 0)
        .withColumnRenamed("g", "lang")
        .withColumn("m1", round(col("m1"), 6))
        .withColumn("m2", round(col("m2"), 6))
        .withColumn("t_stat", round(col("t_stat"), 12))
        .withColumn("df", round(col("df"), 9)), oracleSql =
      """WITH base AS (
        |  SELECT lang, CAST(n_chars AS DOUBLE) AS v,
        |    CAST(substr(source, 4, 10) AS INT) % 2 = 0 AS in1
        |  FROM documents),
        |agg AS (
        |  SELECT lang,
        |    CAST(count(CASE WHEN in1 THEN 1 END) AS BIGINT) AS n1,
        |    CAST(count(CASE WHEN NOT in1 THEN 1 END) AS BIGINT) AS n2,
        |    CAST(sum(CASE WHEN in1 THEN CAST(v AS DECIMAL(24,6)) END) AS DOUBLE) AS s1,
        |    CAST(sum(CASE WHEN NOT in1 THEN CAST(v AS DECIMAL(24,6)) END) AS DOUBLE) AS s2,
        |    CAST(sum(CASE WHEN in1 THEN CAST(v * v AS DECIMAL(30,6)) END) AS DOUBLE) AS q1,
        |    CAST(sum(CASE WHEN NOT in1 THEN CAST(v * v AS DECIMAL(30,6)) END) AS DOUBLE) AS q2
        |  FROM base GROUP BY 1),
        |vv AS (
        |  SELECT lang, n1, n2,
        |    s1 / CAST(n1 AS DOUBLE) AS m1, s2 / CAST(n2 AS DOUBLE) AS m2,
        |    (q1 - s1 * s1 / CAST(n1 AS DOUBLE)) / CAST(n1 - 1 AS DOUBLE) AS var1,
        |    (q2 - s2 * s2 / CAST(n2 AS DOUBLE)) / CAST(n2 - 1 AS DOUBLE) AS var2
        |  FROM agg WHERE n1 >= 2 AND n2 >= 2),
        |se AS (
        |  SELECT lang, n1, n2, m1, m2, var1, var2,
        |    var1 / CAST(n1 AS DOUBLE) AS se1, var2 / CAST(n2 AS DOUBLE) AS se2
        |  FROM vv)
        |SELECT lang, n1, n2, round(m1, 6) AS m1, round(m2, 6) AS m2,
        |  round((m1 - m2) / sqrt(se1 + se2), 12) AS t_stat,
        |  round((se1 + se2) * (se1 + se2) /
        |    (se1 * se1 / CAST(n1 - 1 AS DOUBLE) + se2 * se2 / CAST(n2 - 1 AS DOUBLE)), 9) AS df
        |FROM se""".stripMargin),

    // --- beyond-reference: triangle counting -----------------------------
    // Per-node triangle participation over the part co-purchase graph
    // (q_cooccur's edge rule: canonical a<b pairs in >= 2 baskets) — the
    // clustering-coefficient numerator beside q_pagerank's centrality,
    // through [[triangleCounts]]; the edge list is checkpointed once (the
    // q_mad_outliers pattern).
    QueryDef("q_triangles", (s, dir) => {
      triangleCounts(copurchasePairs(s, dir)
        .select(col("a").as("pa"), col("b").as("pb"))
        .localCheckpoint(false))
    }, oracleSql =
      s"""WITH $copurchaseEdgeCtes
        |tri AS (
        |  SELECT e1.pa AS a, e1.pb AS b, e2.pb AS c
        |  FROM e e1
        |  JOIN e e2 ON e1.pb = e2.pa
        |  JOIN e e3 ON e3.pa = e1.pa AND e3.pb = e2.pb)
        |SELECT part, CAST(count(*) AS BIGINT) AS n_tri FROM (
        |  SELECT unnest([a, b, c]) AS part FROM tri)
        |GROUP BY 1""".stripMargin),

    // --- beyond-reference: local clustering coefficient ----------------
    // q_triangles' counts normalized per node: of the deg·(deg−1)/2
    // possible ties among a part's neighbors, what fraction close into
    // triangles? The per-node cohesion read beside the global
    // q_assortativity number. Integer counts (triangle enumeration +
    // degree agg), one IEEE tree; nodes of degree < 2 are excluded
    // (coefficient undefined).
    QueryDef("q_clustering_coef", (s, dir) => {
      val edges = copurchasePairs(s, dir)
        .select(col("a").as("pa"), col("b").as("pb"))
        .localCheckpoint(false) // degree + triangle consumers
      val deg = edges.select(col("pa").as("part")).unionByName(edges.select(col("pb").as("part")))
        .groupBy("part").agg(count(lit(1)).as("deg"))
      val tris = triangleCounts(edges)
      deg.filter(col("deg") >= 2)
        .join(tris, Seq("part"), "left")
        .select(col("part"), col("deg"),
          coalesce(col("n_tri"), lit(0L)).as("n_tri"),
          round(lit(2.0) * coalesce(col("n_tri"), lit(0L)).cast("double") /
            (col("deg").cast("double") * (col("deg") - 1).cast("double")), 9)
            .as("clustering"))
    }, oracleSql =
      s"""WITH $copurchaseEdgeCtes
        |deg AS (
        |  SELECT part, count(*) AS deg FROM (
        |    SELECT pa AS part FROM e UNION ALL SELECT pb FROM e)
        |  GROUP BY 1),
        |tri AS (
        |  SELECT e1.pa AS a, e1.pb AS b, e2.pb AS c
        |  FROM e e1
        |  JOIN e e2 ON e1.pb = e2.pa
        |  JOIN e e3 ON e3.pa = e1.pa AND e3.pb = e2.pb),
        |tn AS (
        |  SELECT part, CAST(count(*) AS BIGINT) AS n_tri FROM (
        |    SELECT unnest([a, b, c]) AS part FROM tri)
        |  GROUP BY 1)
        |SELECT d.part, d.deg, coalesce(tn.n_tri, 0) AS n_tri,
        |  round(2.0 * CAST(coalesce(tn.n_tri, 0) AS DOUBLE) /
        |    (CAST(d.deg AS DOUBLE) * CAST(d.deg - 1 AS DOUBLE)), 9) AS clustering
        |FROM deg d LEFT JOIN tn ON tn.part = d.part
        |WHERE d.deg >= 2""".stripMargin),

    // --- beyond-reference: population-stability index (PSI) --------------
    // The binned drift monitor ML dashboards actually alert on, beside
    // q_ks_test's exact statistic: reference = even sources, current =
    // odd, octile bins fit on the reference (eighth fractions are
    // dyadic → percentile interpolation exact in binary, the
    // q_quantile_bin argument), +0.5 smoothing keeps empty current bins
    // finite, and the 8 bin terms sum through DECIMAL (order-free).
    QueryDef("q_psi", (s, dir) =>
      Stats.psi(t(s, dir, "documents"),
        group = col("lang"), value = col("n_chars"),
        inRef = pmod(substring(col("source"), 4, 10).cast("int"), lit(2)) === 0)
        .withColumnRenamed("g", "lang"),
      // Hybrid RRF: both lexical retrieval pipelines (BM25 at k=10,
      // TF-IDF-cosine kNN at k=10, s-/b-prefixed CTEs) composed with the
      // 1/(60+rank) fusion; contributions CAST to DECIMAL(18,12) before
      // the exact sum, mirroring rrfFuse.
      oracleSql =
      """WITH base AS (
        |  SELECT lang, CAST(n_chars AS DOUBLE) AS v,
        |    CAST(substr(source, 4, 10) AS INT) % 2 = 0 AS ref
        |  FROM documents),
        |cuts AS (
        |  SELECT lang,
        |    quantile_cont(v, 0.125) AS c1, quantile_cont(v, 0.25) AS c2,
        |    quantile_cont(v, 0.375) AS c3, quantile_cont(v, 0.5) AS c4,
        |    quantile_cont(v, 0.625) AS c5, quantile_cont(v, 0.75) AS c6,
        |    quantile_cont(v, 0.875) AS c7
        |  FROM base WHERE ref GROUP BY 1),
        |binned AS (
        |  SELECT b.lang, b.ref,
        |    CASE WHEN v <= c1 THEN 0 WHEN v <= c2 THEN 1 WHEN v <= c3 THEN 2
        |         WHEN v <= c4 THEN 3 WHEN v <= c5 THEN 4 WHEN v <= c6 THEN 5
        |         WHEN v <= c7 THEN 6 ELSE 7 END AS bin
        |  FROM base b JOIN cuts USING (lang)),
        |perbin AS (
        |  SELECT lang, bin,
        |    CAST(count(CASE WHEN ref THEN 1 END) AS BIGINT) AS n_ref,
        |    CAST(count(CASE WHEN NOT ref THEN 1 END) AS BIGINT) AS n_cur
        |  FROM binned GROUP BY 1, 2),
        |tot AS (
        |  SELECT lang, bin, n_ref, n_cur,
        |    sum(n_ref) OVER (PARTITION BY lang) AS tr,
        |    sum(n_cur) OVER (PARTITION BY lang) AS tc
        |  FROM perbin),
        |termed AS (
        |  SELECT lang, tr, tc,
        |    CAST(((CAST(n_cur AS DOUBLE) + 0.5) / (CAST(tc AS DOUBLE) + 4.0)
        |         - (CAST(n_ref AS DOUBLE) + 0.5) / (CAST(tr AS DOUBLE) + 4.0))
        |      * ln(((CAST(n_cur AS DOUBLE) + 0.5) / (CAST(tc AS DOUBLE) + 4.0))
        |          / ((CAST(n_ref AS DOUBLE) + 0.5) / (CAST(tr AS DOUBLE) + 4.0)))
        |      AS DECIMAL(28,15)) AS term
        |  FROM tot WHERE tc > 0)
        |SELECT lang, CAST(max(tr) AS BIGINT) AS n_ref, CAST(max(tc) AS BIGINT) AS n_cur,
        |  CAST(sum(term) AS DOUBLE) AS psi
        |FROM termed GROUP BY 1""".stripMargin),

    // --- beyond-reference: Jensen-Shannon vocabulary divergence ----------
    // Token-distribution drift between the two source halves per
    // language — the vocabulary-level complement of q_psi's scalar
    // binning (JSD ≤ ln 2; 0 ⇔ identical unigram mixes). One explode +
    // one (lang, token) count aggregation feeds Stats.jsdFromCounts;
    // per-term xlogx values quantize to DECIMAL before the vocabulary
    // sum so aggregation order cannot perturb the hash.
    QueryDef("q_jsd", (s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("lang"),
          (pmod(substring(col("source"), 4, 10).cast("int"), lit(2)) === 0).as("ina"),
          explode(filter(split(trim(col("text")), "\\s+"), x => x =!= "")).as("tok"))
      val counts = toks.groupBy("lang", "tok").agg(
        count(when(col("ina"), 1)).as("ca"),
        count(when(!col("ina"), 1)).as("cb"))
      Stats.jsdFromCounts(counts, col("lang"), col("ca"), col("cb"))
        .withColumnRenamed("g", "lang")
        .withColumn("jsd", round(col("jsd"), 12))
    }, oracleSql =
      """WITH base AS (
        |  SELECT lang, CAST(substr(source, 4, 10) AS INT) % 2 = 0 AS ina,
        |    list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |tk AS (SELECT lang, ina, unnest(toks) AS tok FROM base),
        |counts AS (
        |  SELECT lang, tok,
        |    CAST(count(CASE WHEN ina THEN 1 END) AS BIGINT) AS ca,
        |    CAST(count(CASE WHEN NOT ina THEN 1 END) AS BIGINT) AS cb
        |  FROM tk GROUP BY 1, 2),
        |tot AS (
        |  SELECT lang, ca, cb,
        |    sum(ca) OVER (PARTITION BY lang) AS na,
        |    sum(cb) OVER (PARTITION BY lang) AS nb
        |  FROM counts),
        |ps AS (
        |  SELECT lang,
        |    CAST(ca AS DOUBLE) / CAST(na AS DOUBLE) AS pa,
        |    CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE) AS pb,
        |    (CAST(ca AS DOUBLE) / CAST(na AS DOUBLE)
        |     + CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE)) / 2.0 AS m
        |  FROM tot WHERE na > 0 AND nb > 0),
        |termed AS (
        |  SELECT lang,
        |    CAST(((CASE WHEN pa > 0.0 THEN pa * ln(pa / m) ELSE 0.0 END)
        |        + (CASE WHEN pb > 0.0 THEN pb * ln(pb / m) ELSE 0.0 END)) / 2.0
        |      AS DECIMAL(28,18)) AS term
        |  FROM ps)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_vocab,
        |  round(CAST(sum(term) AS DOUBLE), 12) AS jsd
        |FROM termed GROUP BY 1""".stripMargin),

    // --- beyond-reference: k-anonymity / l-diversity audit ---------------
    // The privacy QC a dataset release runs before the q_dp_counts
    // mechanism: equivalence classes over quasi-identifiers (language ×
    // length bucket), per-language readout of class count, rows in
    // classes below k=5 (re-identification risk), and the minimum
    // l-diversity (distinct sensitive values — source — in any class).
    // Two aggregations, no window; integer-exact until one final
    // division.
    QueryDef("q_k_anon", (s, dir) => {
      val classes = t(s, dir, "documents")
        .groupBy(col("lang"), floor(col("n_chars") / 100L).as("len_bucket"))
        .agg(count(lit(1)).as("class_size"), countDistinct(col("source")).as("l_div"))
      classes
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_classes"),
          sum(col("class_size")).as("n_rows"),
          sum(when(col("class_size") < 5, col("class_size")).otherwise(lit(0L))).as("rows_at_risk"),
          min(col("l_div")).as("min_l"))
        .withColumn("risk_frac",
          round(col("rows_at_risk").cast("double") / col("n_rows").cast("double"), 6))
    }, oracleSql =
      """WITH cls AS (
        |  SELECT lang, CAST(floor(n_chars / 100) AS BIGINT) AS len_bucket,
        |    CAST(count(*) AS BIGINT) AS class_size,
        |    CAST(count(DISTINCT source) AS BIGINT) AS l_div
        |  FROM documents GROUP BY 1, 2)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_classes,
        |  CAST(sum(class_size) AS BIGINT) AS n_rows,
        |  CAST(sum(CASE WHEN class_size < 5 THEN class_size ELSE 0 END) AS BIGINT) AS rows_at_risk,
        |  min(l_div) AS min_l,
        |  round(CAST(sum(CASE WHEN class_size < 5 THEN class_size ELSE 0 END) AS DOUBLE)
        |    / CAST(sum(class_size) AS DOUBLE), 6) AS risk_frac
        |FROM cls GROUP BY 1""".stripMargin),

    // --- beyond-reference: Laplace-mechanism noised counts ---------------
    // The differential-privacy release SHAPE as columnar compute:
    // per-group counts plus Laplace(1/ε) noise via inverse-CDF of a
    // uniform draw. The draw here is DETERMINISTIC (md5 of the group
    // key — the Sampling.hashSample primitive) so the query is
    // reproducible and oracle-checkable; that seeding is explicitly NOT
    // private — a production release swaps the hash for a real RNG and
    // keeps every other operator of this dataflow.
    QueryDef("q_dp_counts", (s, dir) => {
      val eps = 0.1
      val u = (conv(substring(md5(col("event_type")), 1, 8), 16, 10)
        .cast("long").cast("double") + lit(0.5)) / lit(4294967296.0)
      t(s, dir, "events")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"))
        .withColumn("u", u)
        .withColumn("noise",
          lit(-1.0 / eps) * when(col("u") >= 0.5, lit(1.0)).otherwise(lit(-1.0)) *
            log(lit(1.0) - lit(2.0) * abs(col("u") - lit(0.5))))
        .select(col("event_type"), col("n"),
          round(col("n") + col("noise"), 6).as("n_noised"))
    }, oracleSql =
      """WITH c AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1),
        |noised AS (
        |  SELECT event_type, n,
        |    (CAST('0x' || substr(md5(event_type), 1, 8) AS BIGINT) + 0.5) / 4294967296.0 AS u
        |  FROM c)
        |SELECT event_type, n,
        |  round(n + -10.0 * (CASE WHEN u >= 0.5 THEN 1.0 ELSE -1.0 END)
        |    * ln(1.0 - 2.0 * abs(u - 0.5)), 6) AS n_noised
        |FROM noised""".stripMargin),

    // --- beyond-reference: rank-biased overlap (RBO) ---------------------
    // Retrieval-evaluation as columnar compute: how much do the BM25 and
    // sparse-cosine rankings agree per query? Truncated RBO@10 (p=0.9)
    // via the per-item identity: an item at ranks (rA, rB) in the two
    // lists contributes W[max(rA,rB)] = Σ_{d≥max} p^(d-1)/d, so the
    // whole metric is one equi-join + one weight lookup + one DECIMAL
    // sum (exact, order-independent) — no per-depth loop. The weight
    // table is 10 pre-quantized decimal literals shared verbatim with
    // the oracle. Queries with disjoint lists read rbo = 0 through the
    // left join.
    QueryDef("q_rbo", (s, dir) => {
      val docs = t(s, dir, "documents").localCheckpoint(eager = false)
      val bm = SparseSim.bm25TopK(docs, idCol = "doc_id", textCol = "text",
        isQuery = col("doc_id") % 17 === 0, k = 10)
        .select(col("q_id"), col("doc_b"), col("rn").as("r_bm"))
      // Asymmetric query-side scoring: row-identical to topKNeighbors +
      // filter, but the pair space never forms for the 16/17 non-query
      // anchors (SparseSim.topKNeighborsFor scaladoc).
      val lex = SparseSim.topKNeighborsFor(
        SparseSim.postings(docs, idCol = "doc_id", textCol = "text", shingleLen = 3, dfCap = 100),
        isQuery = col("doc_id") % 17 === 0, k = 10)
        .select(col("doc_a").as("q_id"), col("doc_b"), col("rn").as("r_lex"))
      val wLit = array(rboWeights.map(w => lit(new java.math.BigDecimal(w))): _*)
      val overlap = bm.join(lex, Seq("q_id", "doc_b"))
        .withColumn("contrib", element_at(wLit, greatest(col("r_bm"), col("r_lex"))))
        .groupBy("q_id")
        .agg(count(lit(1)).as("n_both"), sum(col("contrib")).as("wsum"))
      bm.select("q_id").distinct()
        .join(overlap, Seq("q_id"), "left")
        .select(col("q_id"),
          coalesce(col("n_both"), lit(0L)).as("n_both"),
          coalesce((lit(new java.math.BigDecimal("0.1")) * col("wsum")).cast("double"), lit(0.0))
            .as("rbo"))
    },
      // Agreement metric over the same two rankings q_hybrid_rrf fuses:
      // join on (query, doc), look up the max-rank weight, DECIMAL-sum.
      oracleSql = {
      val wList = rboWeights.mkString("[", ", ", "]")
      s"""WITH $retrievalRankCtes,
         |ov AS (
         |  SELECT bm.q_id, CAST(count(*) AS BIGINT) AS n_both,
         |    sum(($wList)[greatest(bm.rn, lex.rn)]) AS wsum
         |  FROM bm JOIN lex ON bm.q_id = lex.q_id AND bm.doc_b = lex.doc_b
         |  GROUP BY 1)
         |SELECT q.q_id, coalesce(n_both, 0) AS n_both,
         |  CAST(coalesce(0.1 * wsum, 0.0) AS DOUBLE) AS rbo
         |FROM (SELECT DISTINCT q_id FROM bm) q LEFT JOIN ov USING (q_id)""".stripMargin
    }),

    // --- beyond-reference: nDCG ranking quality --------------------------
    // Completes the eval trio (q_rbo agreement, q_calibration
    // probability quality, this one ranking quality): nDCG@5 of the LSH
    // ANN list against the brute-force ideal, gains = the exact rounded
    // cosines each list emits. Per-term gain/log2(rank+1) quantizes to
    // DECIMAL before the 5-term sums; a query whose buckets missed
    // entirely reads ndcg 0 through the left join.
    QueryDef("q_ndcg", (s, dir) => {
      val emb = t(s, dir, "embeddings").localCheckpoint(eager = false)
      val q = emb.filter(col("vec_id") < 8)
      def dcgOf(df: DataFrame, out: String) =
        df.withColumn("term",
            (col("sim") / (log((col("rn") + 1).cast("double")) / log(lit(2.0))))
              .cast("decimal(28,15)"))
          .groupBy("qid").agg(sum(col("term")).as(out))
      val l = dcgOf(Ann.lshTopK(q, emb, "vec_id", "embedding", dim = 64, k = 5), "dcg")
      val i = dcgOf(Ann.bruteForceTopK(q, emb, "vec_id", "embedding", k = 5), "idcg")
      i.join(l, Seq("qid"), "left")
        .select(col("qid"),
          round(coalesce(col("dcg").cast("double"), lit(0.0)), 6).as("dcg"),
          round(col("idcg").cast("double"), 6).as("idcg"),
          round(coalesce(col("dcg").cast("double"), lit(0.0)) / col("idcg").cast("double"), 12)
            .as("ndcg"))
    },
      // nDCG@5 of the LSH ranking against the brute-force ideal: gains are
      // the ROUNDED exact cosines of each list (matching the Scala
      // consumers of lshTopK/bruteForceTopK output), per-term gain/log2
      // quantized to DECIMAL before the 5-term sums (order-free), ratio as
      // one double division.
      oracleSql =
      s"""WITH $lshRankCtes,
         |bf AS (
         |  SELECT qid, vec_id, sim, rn FROM (
         |    SELECT q.vec_id AS qid, c.vec_id, list_cosine_similarity(q.v, c.v) AS sim,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY list_cosine_similarity(q.v, c.v) DESC, c.vec_id) AS rn
         |    FROM e q, e c WHERE q.vec_id < 8 AND c.vec_id <> q.vec_id)
         |  WHERE rn <= 5),
         |ldcg AS (
         |  SELECT qid, sum(CAST(round(sim, 6) / (ln(CAST(rn + 1 AS DOUBLE)) / ln(2.0))
         |    AS DECIMAL(28,15))) AS dcg
         |  FROM lranked WHERE rn <= 5 GROUP BY 1),
         |idcg AS (
         |  SELECT qid, sum(CAST(round(sim, 6) / (ln(CAST(rn + 1 AS DOUBLE)) / ln(2.0))
         |    AS DECIMAL(28,15))) AS idcg
         |  FROM bf GROUP BY 1)
         |SELECT i.qid, round(CAST(coalesce(l.dcg, 0.0) AS DOUBLE), 6) AS dcg,
         |  round(CAST(i.idcg AS DOUBLE), 6) AS idcg,
         |  round(CAST(coalesce(l.dcg, 0.0) AS DOUBLE) / CAST(i.idcg AS DOUBLE), 12) AS ndcg
         |FROM idcg i LEFT JOIN ldcg l USING (qid)""".stripMargin),

    // --- beyond-reference: distilled MLP scorer as columnar compute ------
    // The "tiny neural quality head over embeddings" pipeline stage,
    // with the whole forward pass (8 relu units over 64 dims) as a
    // codegen'd projection of literal weights — no UDF, no model
    // server; scoring 100 TB is one scan and the top-k readout is
    // TakeOrderedAndProject. Weights are deterministic dyadic rationals
    // (the hyperplaneValues discipline), so the generated DuckDB oracle
    // replays the identical folds bit-for-bit.
    QueryDef("q_mlp_score", (s, dir) =>
      MlpScore.topK(t(s, dir, "embeddings"), "vec_id", "embedding",
        dim = 64, hidden = 8, k = 20),
      // Generated: the MLP forward pass with the SAME literal weights and
      // fold order as MlpScore.score (list_reduce left fold ≡ the Spark
      // aggregate's op order — the pqOracleSql precedent).
      oracleSql =
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |scored AS (SELECT vec_id, round($mlpScoreSqlExpr, 6) AS score FROM e)
         |SELECT vec_id, score FROM scored ORDER BY score DESC, vec_id LIMIT 20""".stripMargin),

    // --- beyond-reference: model calibration (reliability diagram) -------
    // The eval readout a scorer ships with: per score bin, mean
    // predicted score vs realized positive rate (target = even label).
    // Bins are fixed-width between the global min/max of the ROUNDED
    // score — percentile interpolation on computed doubles would not be
    // cross-engine stable (Spark and DuckDB use different interpolation
    // trees), where min/max/width arithmetic is the same IEEE tree in
    // both. One scan to score, one broadcast min/max, one aggregation.
    QueryDef("q_calibration", (s, dir) => {
      val scored = t(s, dir, "embeddings")
        .select(col("vec_id"),
          round(MlpScore.score(col("embedding"), 64, 8), 6).as("s"),
          when(pmod(col("label"), lit(2)) === 0, 1L).otherwise(0L).as("y"))
      val mm = scored.agg(min(col("s")).as("lo"), max(col("s")).as("hi"))
      scored
        .join(broadcast(mm))
        // Degenerate guard: hi == lo (every score identical — a
        // regeneration edge) would NaN the width and ANSI-throw on the
        // int cast; collapse to bin 0 instead, identically in both
        // engines.
        .withColumn("bin",
          when(col("hi") === col("lo"), lit(0)).otherwise(
            least(floor((col("s") - col("lo")) / ((col("hi") - col("lo")) / lit(8.0))).cast("int"),
              lit(7))))
        .groupBy("bin")
        .agg(
          count(lit(1)).as("n"),
          dsum(col("s")).as("ssum"),
          sum(col("y")).as("ny"))
        .select(col("bin"), col("n"),
          round(col("ssum") / col("n").cast("double"), 6).as("mean_score"),
          round(col("ny").cast("double") / col("n").cast("double"), 6).as("pos_rate"))
    },
      // Calibration readout over the same forward pass: rounded scores,
      // fixed-width bins between the global min/max (identical IEEE trees
      // both engines — interpolating percentiles on computed doubles would
      // NOT be cross-engine stable), exact decimal means per bin.
      oracleSql =
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |scored AS (
         |  SELECT vec_id, round($mlpScoreSqlExpr, 6) AS s,
         |    CASE WHEN label % 2 = 0 THEN 1 ELSE 0 END AS y
         |  FROM e),
         |mm AS (SELECT min(s) AS lo, max(s) AS hi FROM scored),
         |binned AS (
         |  SELECT CASE WHEN hi = lo THEN 0
         |    ELSE least(CAST(trunc((s - lo) / ((hi - lo) / 8.0)) AS INT), 7) END AS bin, s, y
         |  FROM scored, mm),
         |agg AS (
         |  SELECT bin, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(CAST(s AS DECIMAL(24,6))) AS DOUBLE) AS ssum,
         |    CAST(sum(y) AS BIGINT) AS ny
         |  FROM binned GROUP BY 1)
         |SELECT bin, n,
         |  round(ssum / CAST(n AS DOUBLE), 6) AS mean_score,
         |  round(CAST(ny AS DOUBLE) / CAST(n AS DOUBLE), 6) AS pos_rate
         |FROM agg""".stripMargin),

    // --- beyond-reference: label-propagation communities -----------------
    // Community detection over the part co-purchase graph (the third
    // graph member: PageRank centrality, CC reachability, LPA
    // communities). SYNCHRONOUS WEIGHTED rounds (weight = basket
    // co-occurrence count) with min-label tie-breaks — the classic
    // asynchronous LPA is vertex-order-dependent, and the unweighted
    // synchronous variant degenerates to min-label flooding (GraphSpec
    // demonstrates both); this one is deterministic and
    // oracle-replayable as 4 unrolled CTE rounds. Per round: one
    // integer-exact sum aggregate + one argmax window, both keyed on
    // the destination node; localCheckpoint caps plan growth.
    QueryDef("q_communities", (s, dir) => {
      val pairs = copurchasePairs(s, dir)
      val edges = pairs.select(col("a").as("src"), col("b").as("dst"), col("n").as("weight"))
        .union(pairs.select(col("b").as("src"), col("a").as("dst"), col("n").as("weight")))
      graft.graph.LabelProp.runAdaptive(edges, iters = 4)
        .groupBy(col("label").as("community"))
        .agg(count(lit(1)).as("n_nodes"),
          min(col("node")).as("min_node"), max(col("node")).as("max_node"))
    },
      // Generated: 4 synchronous WEIGHTED label-propagation rounds unrolled
      // (the lloydCtes discipline — integer weight-mass argmax with
      // min-label ties, isolated nodes keep their label via the LEFT JOIN
      // coalesce).
      oracleSql = {
      def round(tr: Int): String =
        s"""cc$tr AS MATERIALIZED (
           |  SELECT e.dst AS node, l.label, CAST(sum(e.w) AS BIGINT) AS mass
           |  FROM eg e JOIN lp${tr - 1} l ON l.node = e.src GROUP BY 1, 2),
           |wn$tr AS MATERIALIZED (
           |  SELECT node, label FROM (
           |    SELECT node, label,
           |      row_number() OVER (PARTITION BY node ORDER BY mass DESC, label) AS rn
           |    FROM cc$tr) WHERE rn = 1),
           |lp$tr AS MATERIALIZED (
           |  SELECT n.node, coalesce(w.label, l.label) AS label
           |  FROM nd n JOIN lp${tr - 1} l USING (node) LEFT JOIN wn$tr w USING (node))""".stripMargin
      s"""WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         |pr AS (
         |  SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS w
         |  FROM op a JOIN op b
         |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
         |  GROUP BY 1, 2 HAVING count(*) >= 2),
         |eg AS (SELECT pa AS src, pb AS dst, w FROM pr
         |  UNION ALL SELECT pb AS src, pa AS dst, w FROM pr),
         |nd AS (SELECT DISTINCT src AS node FROM eg),
         |lp0 AS (SELECT node, node AS label FROM nd),
         |${(1 to 4).map(round).mkString(",\n")}
         |SELECT label AS community, CAST(count(*) AS BIGINT) AS n_nodes,
         |  min(node) AS min_node, max(node) AS max_node
         |FROM lp4 GROUP BY 1""".stripMargin
    }),

    // --- beyond-reference: tie-corrected ROC-AUC (rank estimator) ------
    // "Is this document English?" scored by raw document length, per
    // source: P(random positive outranks a random negative), ties at
    // half credit. Stats.rocAuc rides the Mann-Whitney doubled-rank
    // trick — the rank sum stays an exact BIGINT, so the AUC is ONE IEEE
    // division of exact integers (bit-equal, no rounding). A deliberately
    // weak scorer: AUC lands mid-range and exercises the tie path
    // (n_chars collides heavily).
    QueryDef("q_auc", (s, dir) => {
      Stats.rocAuc(
        t(s, dir, "documents"),
        group = col("source"), score = col("n_chars"),
        isPositive = col("lang") === "en")
        .withColumnRenamed("g", "source")
    }, oracleSql =
      """WITH d AS (
        |  SELECT source, n_chars AS v,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
        |  FROM documents),
        |rk AS (
        |  SELECT source, pos,
        |    2 * rank() OVER (PARTITION BY source ORDER BY v)
        |      + count(*) OVER (PARTITION BY source, v) - 1 AS r2
        |  FROM d),
        |a AS (
        |  SELECT source, CAST(sum(pos) AS BIGINT) AS np,
        |    CAST(sum(1 - pos) AS BIGINT) AS nn,
        |    CAST(sum(CASE WHEN pos = 1 THEN r2 ELSE 0 END) AS BIGINT) AS r2sum
        |  FROM rk GROUP BY 1)
        |SELECT source, np, nn,
        |  CAST(r2sum - np * (np + 1) AS DOUBLE)
        |    / (2.0 * CAST(np * nn AS DOUBLE)) AS auc
        |FROM a WHERE np > 0 AND nn > 0""".stripMargin),

    // --- beyond-reference: Cohen's kappa inter-rater agreement ---------
    // Two deterministic 3-class quality raters over documents (char-count
    // buckets vs whitespace-count buckets), agreement chance-corrected
    // per language. Stats.cohenKappa collapses the scan to the
    // contingency table in ONE aggregation; κ is one IEEE division of
    // exact BIGINTs.
    QueryDef("q_kappa", (s, dir) => {
      val spaces = length(col("text")) - length(translate(col("text"), " ", ""))
      Stats.cohenKappa(
        t(s, dir, "documents"),
        group = col("lang"),
        raterA = when(col("n_chars") < 150, 0).when(col("n_chars") < 350, 1).otherwise(2),
        raterB = when(spaces < 25, 0).when(spaces < 55, 1).otherwise(2))
        .withColumnRenamed("g", "lang")
    }, oracleSql =
      """WITH d AS (
        |  SELECT lang,
        |    CASE WHEN n_chars < 150 THEN 0 WHEN n_chars < 350 THEN 1 ELSE 2 END AS ra,
        |    CASE WHEN length(text) - length(replace(text, ' ', '')) < 25 THEN 0
        |         WHEN length(text) - length(replace(text, ' ', '')) < 55 THEN 1
        |         ELSE 2 END AS rb
        |  FROM documents),
        |ct AS (SELECT lang, ra, rb, count(*) AS c FROM d GROUP BY 1, 2, 3),
        |base AS (
        |  SELECT lang, CAST(sum(c) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN ra = rb THEN c ELSE 0 END) AS BIGINT) AS diag
        |  FROM ct GROUP BY 1),
        |ma AS (SELECT lang, ra, CAST(sum(c) AS BIGINT) AS ca FROM ct GROUP BY 1, 2),
        |mb AS (SELECT lang, rb, CAST(sum(c) AS BIGINT) AS cb FROM ct GROUP BY 1, 2),
        |ch AS (
        |  SELECT ma.lang, CAST(sum(ca * cb) AS BIGINT) AS chance
        |  FROM ma JOIN mb ON ma.lang = mb.lang AND ma.ra = mb.rb GROUP BY 1)
        |SELECT lang, n, diag,
        |  CAST(n * diag - chance AS DOUBLE) / CAST(n * n - chance AS DOUBLE) AS kappa
        |FROM base JOIN ch USING (lang) WHERE n * n > chance""".stripMargin),

    // --- beyond-reference: autocorrelation of daily revenue ------------
    // ACF at calendar-day lags 1..7 over the daily order-revenue series —
    // the seasonality detector feeding q_seasonal_index/q_holt. Sparse
    // days just contribute fewer pairs. The series is quantized to
    // KILODOLLAR integer units (exact decimal daily sum → one IEEE
    // division → exact floor) BEFORE the moments, keeping every moment
    // sum under 2⁵³ — see Stats.autocorr for why the usual decimal-
    // scaling recipe breaks on daily aggregates (DuckDB's int128→double
    // cast is 1-ulp off past 53 bits).
    QueryDef("q_acf", (s, dir) => {
      Stats.autocorr(dailyRevenueKilo(s, dir), time = col("day"), value = col("kilo"), maxLag = 7)
    }, oracleSql =
      s"""WITH ${acfMomentCtes(maxLag = 7)}
        |SELECT lag_d, n,
        |  (n * sxy - sx * sy) /
        |    (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) AS acf
        |FROM m""".stripMargin),

    // --- beyond-reference: EXACT set-similarity join (prefix filter) ---
    // The lossless counterpart to MinHash-LSH near-dup: all document
    // pairs with shingle-set Jaccard ≥ 0.5, found via AllPairs prefix
    // filtering (rarest-first order, no doc×doc). The oracle is the
    // BRUTE-FORCE all-pairs join — the gate therefore proves the prefix
    // filter loses nothing. Shingles = the q_neardup_jaccard 3-gram
    // formation over all docs (no sample: the prefix filter IS the
    // scale path, unlike that query's LSH-candidates-on-a-sample).
    QueryDef("q_setsim_join", (s, dir) => {
      SetSimJoin.selfJoin(
        t(s, dir, "documents"),
        id = col("doc_id"),
        tokenSet = TextAnalysis.wordShingles(col("text"), 3),
        t = 0.5)
    },
      // Brute-force all-pairs: every pair with shingle-Jaccard >= 0.5 —
      // deliberately NOT the prefix-filtered plan, so a green row proves
      // the Spark-side prefix filter is lossless.
      oracleSql =
      s"""WITH $shingleSetCtes
        |sz AS (SELECT doc_id, len(sh) AS m FROM sh WHERE len(sh) > 0),
        |ov AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS inter
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE len(a.sh) > 0 AND len(b.sh) > 0)
        |SELECT ov.doc_a, ov.doc_b, ov.inter,
        |  CAST(sa.m + sb.m - ov.inter AS BIGINT) AS un,
        |  CAST(ov.inter AS DOUBLE) / CAST(sa.m + sb.m - ov.inter AS DOUBLE) AS jaccard
        |FROM ov
        |JOIN sz sa ON sa.doc_id = ov.doc_a
        |JOIN sz sb ON sb.doc_id = ov.doc_b
        |WHERE CAST(ov.inter AS DOUBLE) >= 0.5 * CAST(sa.m + sb.m - ov.inter AS DOUBLE)""".stripMargin),

    // --- beyond-reference: market-basket association rules -------------
    // Support/confidence/lift over order baskets with ANTI-MONOTONE
    // pruning: items below min-support are dropped BEFORE the quadratic
    // successor-pair emission (pair support ≤ item support, so nothing is
    // lost), then pairs below min-support drop before the rule join. All
    // three metrics are exact-integer ratios — one IEEE division each,
    // bit-equal across engines. Basket count arrives as a 1-row broadcast
    // cross join, not a collected scalar.
    QueryDef("q_assoc_rules", (s, dir) => {
      val minSupp = 2
      val ip = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("item")).distinct()
      val ic = ip.groupBy("item").agg(count(lit(1)).as("ci")).filter(col("ci") >= minSupp)
      val baskets = ip.join(ic.select("item"), "item")
        .groupBy("ok").agg(sort_array(collect_set(col("item"))).as("items"))
      val pairs = baskets
        // r15: successor-pairs kernel (see basketPairs).
        .select(explode(graft.functions.GraftFunctions.successorPairs(col("items"))).as("pr"))
        .select(col("pr.a").as("ia"), col("pr.b").as("ib"))
        .groupBy("ia", "ib").agg(count(lit(1)).as("nab"))
        .filter(col("nab") >= minSupp)
      val nb = ip.agg(countDistinct(col("ok")).as("n_baskets"))
      val rules = pairs.select(col("ia").as("ante"), col("ib").as("cons"), col("nab"))
        .union(pairs.select(col("ib").as("ante"), col("ia").as("cons"), col("nab")))
      rules
        .join(ic.select(col("item").as("ante"), col("ci").as("ca")), "ante")
        .join(ic.select(col("item").as("cons"), col("ci").as("cc")), "cons")
        .crossJoin(broadcast(nb))
        .select(col("ante"), col("cons"), col("nab"),
          (col("nab").cast("double") / col("ca").cast("double")).as("confidence"),
          ((col("n_baskets") * col("nab")).cast("double") /
            (col("ca") * col("cc")).cast("double")).as("lift"))
    }, oracleSql =
      """WITH ip AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS item FROM lineitem),
        |ic AS MATERIALIZED (
        |  SELECT item, CAST(count(*) AS BIGINT) AS ci
        |  FROM ip GROUP BY 1 HAVING count(*) >= 2),
        |fi AS (SELECT ok, item FROM ip JOIN ic USING (item)),
        |pr AS MATERIALIZED (
        |  SELECT a.item AS ia, b.item AS ib, CAST(count(*) AS BIGINT) AS nab
        |  FROM fi a JOIN fi b ON a.ok = b.ok AND a.item < b.item
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |nb AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n_baskets FROM ip),
        |rules AS (
        |  SELECT ia AS ante, ib AS cons, nab FROM pr
        |  UNION ALL SELECT ib, ia, nab FROM pr)
        |SELECT r.ante, r.cons, r.nab,
        |  CAST(r.nab AS DOUBLE) / CAST(a.ci AS DOUBLE) AS confidence,
        |  CAST(nb.n_baskets * r.nab AS DOUBLE) / CAST(a.ci * c.ci AS DOUBLE) AS lift
        |FROM rules r
        |JOIN ic a ON a.item = r.ante
        |JOIN ic c ON c.item = r.cons
        |CROSS JOIN nb""".stripMargin),

    // --- beyond-reference: k-core decomposition (fixed-round peel) -----
    // The cohesion filter for the co-purchase graph: nodes surviving 6
    // peels at k=3, with their surviving degree. Edge set = the
    // q_communities basket-pair graph (n_orders ≥ 2, both directions).
    // graph.KCore: one degree agg + two semi-joins per round, keyed on
    // node; the oracle replays the identical chain as unrolled
    // MATERIALIZED CTEs.
    QueryDef("q_kcore", (s, dir) => {
      graft.graph.KCore.peelAdaptive(bothDirections(itemPairs(s, dir)), k = 3, rounds = 6)
    }, oracleSql = kcoreOracleSql(k = 3, rounds = 6)),

    // --- beyond-reference: k-truss peeling (triangle cohesion) ---------
    // The triangle-grade sibling of q_kcore on the same basket graph:
    // an edge survives only while ≥ k−2 triangles witness it, so
    // hub-and-spoke stars (which a k-core keeps) fall away and what
    // remains is the community-core mesh. graph.KTruss: per round one
    // |E|·deg canonical triangle join with map-side counts; same
    // fixed-round contract as KCore, oracle = the identical chain
    // unrolled as MATERIALIZED CTEs.
    QueryDef("q_ktruss", (s, dir) => {
      val pairs = itemPairs(s, dir).select(col("a"), col("b"))
      graft.graph.KTruss.peelAdaptive(pairs, k = 3, rounds = 2)
        .select(col("a").as("part_a"), col("b").as("part_b"), col("support"))
    }, oracleSql = ktrussOracleSql(k = 3, rounds = 2)),

    // --- beyond-reference: degree assortativity (Newman's r) -----------
    // One number the whole graph kit reads together: do high-degree
    // parts co-purchase with high-degree parts (r > 0, hub-clustered)
    // or with leaves (r < 0, hub-and-spoke)? Newman's r is Pearson over
    // the (deg src, deg dst) pairs of the SYMMETRIZED edge list —
    // degrees are exact integers, so the q_corr_manual discipline costs
    // nothing: decimal moment sums (order-free), one fixed IEEE tree.
    // Scale: a degree aggregation + two stats-sized joins back to edges.
    QueryDef("q_assortativity", (s, dir) => {
      val sym = bothDirections(itemPairs(s, dir))
        .localCheckpoint(eager = false) // degree agg + two rejoin consumers
      val deg = sym.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      val pairsDeg = sym
        .join(deg.select(col("src"), col("deg").as("dx")), Seq("src"))
        .join(deg.select(col("src").as("dst"), col("deg").as("dy")), Seq("dst"))
      val dec = (c: Column) => c.cast("decimal(38,0)")
      val d = (c: Column) => c.cast("double")
      pairsDeg.agg(
        count(lit(1)).as("n_edges"),
        sum(dec(col("dx"))).as("sx"), sum(dec(col("dy"))).as("sy"),
        sum(dec(col("dx")) * dec(col("dx"))).as("sxx"),
        sum(dec(col("dy")) * dec(col("dy"))).as("syy"),
        sum(dec(col("dx")) * dec(col("dy"))).as("sxy"))
        .select(col("n_edges"),
          round((d(col("n_edges")) * d(col("sxy")) - d(col("sx")) * d(col("sy"))) /
            (sqrt(d(col("n_edges")) * d(col("sxx")) - d(col("sx")) * d(col("sx"))) *
              sqrt(d(col("n_edges")) * d(col("syy")) - d(col("sy")) * d(col("sy")))), 9)
            .as("assortativity"))
    }, oracleSql =
      """WITH ip AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS item FROM lineitem),
        |pr AS (
        |  SELECT a.item AS ia, b.item AS ib
        |  FROM ip a JOIN ip b ON a.ok = b.ok AND a.item < b.item
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |sym AS (SELECT ia AS src, ib AS dst FROM pr UNION ALL SELECT ib, ia FROM pr),
        |deg AS (SELECT src, count(*) AS deg FROM sym GROUP BY 1),
        |pd AS (
        |  SELECT dx.deg AS dx, dy.deg AS dy
        |  FROM sym e JOIN deg dx ON dx.src = e.src JOIN deg dy ON dy.src = e.dst),
        |m AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_edges,
        |    CAST(sum(CAST(dx AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
        |    CAST(sum(CAST(dy AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy,
        |    CAST(sum(CAST(dx AS DECIMAL(38,0)) * CAST(dx AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxx,
        |    CAST(sum(CAST(dy AS DECIMAL(38,0)) * CAST(dy AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS syy,
        |    CAST(sum(CAST(dx AS DECIMAL(38,0)) * CAST(dy AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxy
        |  FROM pd)
        |SELECT n_edges,
        |  round((CAST(n_edges AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |    (sqrt(CAST(n_edges AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
        |     sqrt(CAST(n_edges AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 9)
        |    AS assortativity
        |FROM m""".stripMargin),

    // --- beyond-reference: Kaplan-Meier reorder survival ---------------
    // Time-to-reorder per market segment: each consecutive order pair is
    // an event observation (gap days), each customer's last order a
    // RIGHT-CENSORED one (days to the dataset's max order day — which
    // arrives as a 1-row broadcast, not a collected scalar). Stats
    // .kaplanMeier turns the exact per-time factors into a decimal
    // prefix sum of quantized ln terms (see its scaladoc for the float
    // discipline); the oracle replays the identical chain.
    QueryDef("q_km_survival", (s, dir) => {
      val day = floor(tsUs(col("o_orderdate")) / 86400000000L).cast("long")
      val o = t(s, dir, "orders").select(col("o_custkey"), day.as("day"), col("o_orderkey"))
      val w = Window.partitionBy("o_custkey").orderBy(col("day"), col("o_orderkey"))
      val obs = o.withColumn("nd", lead(col("day"), 1).over(w))
        .crossJoin(broadcast(o.agg(max(col("day")).as("maxday"))))
        .select(col("o_custkey"),
          coalesce(col("nd") - col("day"), col("maxday") - col("day")).as("dur"),
          col("nd").isNotNull.as("ev"))
      val seg = t(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment"))
      Stats.kaplanMeier(
        obs.join(broadcast(seg), obs("o_custkey") === seg("c_custkey")),
        group = col("c_mktsegment"), duration = col("dur"), event = col("ev"))
        .withColumnRenamed("g", "segment")
    }, oracleSql =
      """WITH o AS (
        |  SELECT o_custkey,
        |    CAST(floor(epoch_us(o_orderdate) / 86400000000) AS BIGINT) AS day,
        |    o_orderkey
        |  FROM orders),
        |mx AS (SELECT max(day) AS maxday FROM o),
        |led AS (
        |  SELECT o_custkey, day,
        |    lead(day) OVER (PARTITION BY o_custkey ORDER BY day, o_orderkey) AS nd
        |  FROM o),
        |obs AS (
        |  SELECT led.o_custkey,
        |    coalesce(nd - day, mx.maxday - day) AS dur,
        |    CASE WHEN nd IS NOT NULL THEN 1 ELSE 0 END AS ev
        |  FROM led, mx),
        |gr AS (
        |  SELECT c.c_mktsegment AS g, obs.dur,
        |    CAST(sum(obs.ev) AS BIGINT) AS d, CAST(count(*) AS BIGINT) AS tot
        |  FROM obs JOIN customer c ON c.c_custkey = obs.o_custkey
        |  GROUP BY 1, 2),
        |rk AS (
        |  SELECT g, dur, d,
        |    CAST(sum(tot) OVER (PARTITION BY g) AS BIGINT)
        |      - CAST(coalesce(sum(tot) OVER (PARTITION BY g ORDER BY dur
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS n_risk
        |  FROM gr),
        |cm AS (
        |  SELECT g, dur, d, n_risk,
        |    sum(CAST(CASE WHEN d < n_risk
        |        THEN ln(CAST(n_risk - d AS DOUBLE) / CAST(n_risk AS DOUBLE))
        |        ELSE 0.0 END AS DECIMAL(28,12)))
        |      OVER (PARTITION BY g ORDER BY dur
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumln,
        |    max(CASE WHEN d = n_risk THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY g ORDER BY dur
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dead
        |  FROM rk)
        |SELECT g AS segment, dur AS t_day, n_risk, d AS d_events,
        |  CASE WHEN dead = 1 THEN 0.0
        |       ELSE CAST(CAST(exp(CAST(cumln AS DOUBLE)) AS DECIMAL(18,6)) AS DOUBLE)
        |  END AS survival
        |FROM cm WHERE d > 0""".stripMargin),

    // --- beyond-reference: average precision (PR-space eval) -----------
    // The class-imbalance-robust complement to q_auc, on the same task
    // and scorer. AP is NOT tie-invariant, so the (score DESC, doc_id)
    // total order is part of the contract — Stats.avgPrecision quantizes
    // each exact cumpos/k term to decimal before the order-free sum.
    QueryDef("q_avg_precision", (s, dir) => {
      Stats.avgPrecision(
        t(s, dir, "documents"),
        group = col("source"), score = col("n_chars"), id = col("doc_id"),
        isPositive = col("lang") === "en")
        .withColumnRenamed("g", "source")
    }, oracleSql =
      """WITH d AS (
        |  SELECT source, doc_id, n_chars AS v,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
        |  FROM documents),
        |rk AS (
        |  SELECT source, pos,
        |    row_number() OVER (PARTITION BY source ORDER BY v DESC, doc_id) AS k,
        |    sum(pos) OVER (PARTITION BY source ORDER BY v DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumpos
        |  FROM d),
        |ap AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS np,
        |    sum(CAST(CAST(cumpos AS DOUBLE) / CAST(k AS DOUBLE) AS DECIMAL(28,12))) AS s
        |  FROM rk WHERE pos = 1 GROUP BY 1)
        |SELECT source, np,
        |  CAST(s AS DOUBLE) / CAST(np AS DOUBLE) AS avg_precision
        |FROM ap""".stripMargin),

    // --- beyond-reference: Benjamini-Hochberg FDR ------------------------
    // The multiple-testing step q_bonferroni is too blunt for: per
    // nation, BH step-up over each supplier's mean-quantity test.
    // The test p is a Gaussian-bound pseudo-p exp(-z²/2) from the
    // decimal-exact supplier mean — squeezed through decimal(18,12) so
    // libm's exp last-ulp cannot flip a step-up comparison downstream
    // (Stats.bhFdr runs pure products, no division, on that quantized p).
    QueryDef("q_bh_fdr", (s, dir) => {
      val d12 = (c: Column) => c.cast("decimal(12,3)")
      val tests = t(s, dir, "lineitem")
        .groupBy("l_suppkey")
        .agg(count(lit(1)).as("n"),
          (sum(d12(col("l_quantity"))) * lit(1000)).cast("decimal(38,0)").cast("double").as("sx"))
        .withColumn("z",
          ((col("sx") / lit(1000.0)) / col("n").cast("double") - lit(25.5)) *
            sqrt(col("n").cast("double")) / lit(14.4))
        .withColumn("p",
          exp(lit(-0.5) * col("z") * col("z")).cast("decimal(18,12)").cast("double"))
      val sup = t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
      Stats.bhFdr(
        tests.join(broadcast(sup), tests("l_suppkey") === sup("s_suppkey")),
        family = col("s_nationkey"), testId = col("l_suppkey"), p = col("p"), q = 0.1)
        .withColumnRenamed("g", "nation")
        .withColumnRenamed("tid", "suppkey")
    }, oracleSql =
      """WITH tests AS (
        |  SELECT l_suppkey,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(CAST(sum(CAST(l_quantity AS DECIMAL(12,3))) * 1000 AS DECIMAL(38,0)) AS DOUBLE) AS sx
        |  FROM lineitem GROUP BY 1),
        |pv AS (
        |  SELECT s.s_nationkey AS nation, t.l_suppkey AS suppkey,
        |    CAST(CAST(exp(-0.5 * z * z) AS DECIMAL(18,12)) AS DOUBLE) AS p
        |  FROM (
        |    SELECT l_suppkey,
        |      ((sx / 1000.0) / CAST(n AS DOUBLE) - 25.5)
        |        * sqrt(CAST(n AS DOUBLE)) / 14.4 AS z
        |    FROM tests) t
        |  JOIN supplier s ON s.s_suppkey = t.l_suppkey),
        |rk AS (
        |  SELECT nation, suppkey, p,
        |    CAST(count(*) OVER (PARTITION BY nation) AS BIGINT) AS m,
        |    row_number() OVER (PARTITION BY nation ORDER BY p, suppkey) AS rnk
        |  FROM pv),
        |st AS (
        |  SELECT nation, suppkey, p, m, rnk,
        |    max(CASE WHEN p * CAST(m AS DOUBLE) <= 0.1 * CAST(rnk AS DOUBLE)
        |        THEN rnk END) OVER (PARTITION BY nation) AS kstar,
        |    min(p * CAST(m AS DOUBLE) / CAST(rnk AS DOUBLE))
        |      OVER (PARTITION BY nation ORDER BY rnk DESC
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS padj_q
        |  FROM rk)
        |SELECT nation, suppkey, p, m, rnk,
        |  least(padj_q, 1.0) AS p_adj,
        |  rnk <= coalesce(kstar, 0) AS discovered
        |FROM st""".stripMargin),

    // --- beyond-reference: HITS hubs & authorities ----------------------
    // Bipartite purchase graph customer→part: hub customers are broad
    // buyers, authority parts are what hub customers buy. graph.Hits
    // runs 3 alternating rounds in exact BIGINT arithmetic (no per-round
    // normalization — see its scaladoc for the 2⁵³ growth budget) and
    // normalizes once at the end per role.
    QueryDef("q_hits", (s, dir) => {
      val edges = t(s, dir, "orders").select(col("o_custkey"), col("o_orderkey"))
        .join(t(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("src"), col("l_partkey").as("dst"))
        .distinct()
      graft.graph.Hits.runAdaptive(edges, rounds = 3)
    }, oracleSql =
      """WITH e AS MATERIALIZED (
        |  SELECT DISTINCT o.o_custkey AS src, l.l_partkey AS dst
        |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
        |h1 AS (SELECT src, CAST(count(*) AS BIGINT) AS h FROM e GROUP BY 1),
        |a1 AS (SELECT e.dst, CAST(sum(h1.h) AS BIGINT) AS a
        |       FROM e JOIN h1 USING (src) GROUP BY 1),
        |h2 AS (SELECT e.src, CAST(sum(a1.a) AS BIGINT) AS h
        |       FROM e JOIN a1 USING (dst) GROUP BY 1),
        |a2 AS (SELECT e.dst, CAST(sum(h2.h) AS BIGINT) AS a
        |       FROM e JOIN h2 USING (src) GROUP BY 1),
        |h3 AS (SELECT e.src, CAST(sum(a2.a) AS BIGINT) AS h
        |       FROM e JOIN a2 USING (dst) GROUP BY 1),
        |a3 AS (SELECT e.dst, CAST(sum(h3.h) AS BIGINT) AS a
        |       FROM e JOIN h3 USING (src) GROUP BY 1),
        |hm AS (SELECT max(h) AS mx FROM h3),
        |am AS (SELECT max(a) AS mx FROM a3)
        |SELECT 'hub' AS role, src AS node, h AS score,
        |  CAST(h AS DOUBLE) / CAST(hm.mx AS DOUBLE) AS score_norm
        |FROM h3, hm
        |UNION ALL
        |SELECT 'auth', dst, a, CAST(a AS DOUBLE) / CAST(am.mx AS DOUBLE)
        |FROM a3, am""".stripMargin),

    // --- beyond-reference: Adamic-Adar link prediction -------------------
    // Which co-purchase edge forms next: non-adjacent part pairs scored
    // by hub-discounted shared neighborhood over the basket graph.
    // graph.LinkPred: successor-slice pair emission through the pivot,
    // maxDeg hub cap bounding the two-hop fan-out, one left-anti to
    // drop existing edges.
    QueryDef("q_adamic_adar", (s, dir) => {
      graft.graph.LinkPred.adamicAdar(bothDirections(itemPairs(s, dir)), minCommon = 2, maxDeg = 200)
    }, oracleSql =
      """WITH ip AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS item FROM lineitem),
        |pr AS MATERIALIZED (
        |  SELECT a.item AS ia, b.item AS ib
        |  FROM ip a JOIN ip b ON a.ok = b.ok AND a.item < b.item
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |e AS MATERIALIZED (
        |  SELECT ia AS src, ib AS dst FROM pr UNION ALL SELECT ib, ia FROM pr),
        |dg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY 1),
        |ne AS (
        |  SELECT e.src AS z, e.dst AS nb, dg.deg AS degz
        |  FROM e JOIN dg USING (src) WHERE dg.deg <= 200),
        |ag AS (
        |  SELECT a.nb AS a, b.nb AS b, CAST(count(*) AS BIGINT) AS cn,
        |    CAST(sum(CAST(1.0 / ln(CAST(a.degz AS DOUBLE)) AS DECIMAL(28,12)))
        |      AS DOUBLE) AS aa
        |  FROM ne a JOIN ne b ON a.z = b.z AND a.nb < b.nb
        |  GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT a AS node_a, b AS node_b, cn, aa FROM ag
        |WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.src = ag.a AND e.dst = ag.b)""".stripMargin),

    // --- beyond-reference: INCREMENTAL exact set-similarity -------------
    // The standing-index member of the setsim family (the
    // q_semdedup_incremental slice convention): the %4!=0 base builds a
    // frozen-order index ONCE, the %4==0 batch joins it — batch×index
    // and batch×batch pairs only, index×index never re-formed. The
    // frozen (df, token) order stays LOSSLESS under drift (prefix
    // pigeonhole never uses what df means — SetSimJoin.buildIndex
    // scaladoc); the oracle is again brute force over exactly the
    // batch-touching pair space.
    QueryDef("q_setsim_incremental", (s, dir) => {
      val docs = t(s, dir, "documents")
      val shingles = TextAnalysis.wordShingles(col("text"), 3)
      val idx = SetSimJoin.buildIndex(
        docs.filter(col("doc_id") % 4 =!= 0), col("doc_id"), shingles)
      SetSimJoin.selfJoinIncrement(
        docs.filter(col("doc_id") % 4 === 0), col("doc_id"), shingles, idx, t = 0.5)
    }, oracleSql =
      s"""WITH $shingleSetCtes
        |bs AS (SELECT doc_id, sh, len(sh) AS m FROM sh WHERE doc_id % 4 = 0 AND len(sh) > 0),
        |ix AS (SELECT doc_id, sh, len(sh) AS m FROM sh WHERE doc_id % 4 <> 0 AND len(sh) > 0),
        |pairs AS (
        |  SELECT b.doc_id AS batch_id, i.doc_id AS partner_id, 'index' AS side,
        |    CAST(len(list_intersect(b.sh, i.sh)) AS BIGINT) AS inter,
        |    CAST(b.m + i.m AS BIGINT) AS msum
        |  FROM bs b JOIN ix i ON TRUE
        |  UNION ALL
        |  SELECT a.doc_id, b.doc_id, 'batch',
        |    CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT),
        |    CAST(a.m + b.m AS BIGINT)
        |  FROM bs a JOIN bs b ON a.doc_id < b.doc_id)
        |SELECT batch_id, partner_id, side, inter,
        |  msum - inter AS un,
        |  CAST(inter AS DOUBLE) / CAST(msum - inter AS DOUBLE) AS jaccard
        |FROM pairs
        |WHERE CAST(inter AS DOUBLE) >= 0.5 * CAST(msum - inter AS DOUBLE)""".stripMargin),

    // --- beyond-reference: RFM customer segmentation ---------------------
    // Recency / frequency / monetary quintiles WITHIN each market
    // segment (the partition key keeps every ntile keyed — no global
    // window), ties broken by custkey so the quintile assignment is a
    // total order both engines replay. Monetary goes through the exact
    // decimal sum; its quintile ordering uses the decimal directly.
    // 5 = best on every axis (most recent / most orders / most spend).
    QueryDef("q_rfm", (s, dir) => {
      val day = floor(tsUs(col("o_orderdate")) / 86400000000L).cast("long")
      val o = t(s, dir, "orders")
        .select(col("o_custkey"), day.as("day"), col("o_totalprice"))
      val per = o.groupBy("o_custkey").agg(
        max(col("day")).as("lastday"),
        count(lit(1)).as("frequency"),
        sum(col("o_totalprice").cast("decimal(12,3)")).as("mon"))
        .crossJoin(broadcast(o.agg(max(col("day")).as("maxday"))))
        .withColumn("recency", col("maxday") - col("lastday"))
      val seg = t(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment"))
      val base = per.join(broadcast(seg), per("o_custkey") === seg("c_custkey"))
      def score(order: Seq[Column]) = ntile(5).over(
        Window.partitionBy(col("c_mktsegment")).orderBy(order: _*))
      base
        .withColumn("r_score", score(Seq(col("recency").desc, col("c_custkey").asc)))
        .withColumn("f_score", score(Seq(col("frequency").asc, col("c_custkey").asc)))
        .withColumn("m_score", score(Seq(col("mon").asc, col("c_custkey").asc)))
        .select(
          col("c_custkey").as("custkey"), col("c_mktsegment").as("segment"),
          col("recency"), col("frequency"), col("mon").cast("double").as("monetary"),
          col("r_score"), col("f_score"), col("m_score"),
          (col("r_score") * 100 + col("f_score") * 10 + col("m_score")).as("rfm"),
          when(col("r_score") >= 4 && col("f_score") >= 4, "champion")
            .when(col("r_score") <= 2 && col("f_score") <= 2, "at_risk")
            .otherwise("regular").as("segment_label"))
    }, oracleSql =
      """WITH o AS (
        |  SELECT o_custkey,
        |    CAST(floor(epoch_us(o_orderdate) / 86400000000) AS BIGINT) AS day,
        |    o_totalprice
        |  FROM orders),
        |mx AS (SELECT max(day) AS maxday FROM o),
        |per AS (
        |  SELECT o_custkey, max(day) AS lastday,
        |    CAST(count(*) AS BIGINT) AS frequency,
        |    sum(CAST(o_totalprice AS DECIMAL(12,3))) AS mon
        |  FROM o GROUP BY 1),
        |b AS (
        |  SELECT c.c_custkey, c.c_mktsegment, mx.maxday - per.lastday AS recency,
        |    per.frequency, per.mon
        |  FROM per JOIN customer c ON c.c_custkey = per.o_custkey, mx),
        |sc AS (
        |  SELECT c_custkey, c_mktsegment, recency, frequency, mon,
        |    ntile(5) OVER (PARTITION BY c_mktsegment ORDER BY recency DESC, c_custkey) AS r_score,
        |    ntile(5) OVER (PARTITION BY c_mktsegment ORDER BY frequency ASC, c_custkey) AS f_score,
        |    ntile(5) OVER (PARTITION BY c_mktsegment ORDER BY mon ASC, c_custkey) AS m_score
        |  FROM b)
        |SELECT c_custkey AS custkey, c_mktsegment AS segment,
        |  recency, frequency, CAST(mon AS DOUBLE) AS monetary,
        |  r_score, f_score, m_score,
        |  r_score * 100 + f_score * 10 + m_score AS rfm,
        |  CASE WHEN r_score >= 4 AND f_score >= 4 THEN 'champion'
        |       WHEN r_score <= 2 AND f_score <= 2 THEN 'at_risk'
        |       ELSE 'regular' END AS segment_label
        |FROM sc""".stripMargin),

    // --- beyond-reference: Benford first-digit audit ---------------------
    // Data-forensics staple: first-digit distribution of order totals per
    // priority class vs Benford's law. The digit comes from exact integer
    // cents via the string-length power (log10 on a double reads
    // 2.999…96 for some libms at exact powers of ten — never use it for
    // digit extraction); expected counts and χ² contributions are pure
    // identical IEEE trees on (BIGINT n, 6-dp literal e_d) — the nine
    // 6-dp Benford constants sum to exactly 1.000000.
    QueryDef("q_benford", (s, dir) => {
      val benford = array(Seq(0.301030, 0.176091, 0.124939, 0.096910, 0.079181,
        0.066947, 0.057992, 0.051153, 0.045757).map(lit(_)): _*)
      val cents = floor(col("o_totalprice") * lit(100.0) + lit(0.5)).cast("long")
      val o = t(s, dir, "orders")
        .select(col("o_orderpriority").as("priority"), cents.as("cents"))
        .withColumn("digit",
          floor(col("cents").cast("double") /
            pow(lit(10.0), (length(col("cents").cast("string")) - 1).cast("double")))
            .cast("int"))
      val counts = o.groupBy("priority", "digit").agg(count(lit(1)).as("obs"))
      val totals = o.groupBy("priority").agg(count(lit(1)).as("n"))
      counts.join(broadcast(totals), "priority")
        .withColumn("e", element_at(benford, col("digit")))
        .withColumn("expected", col("n").cast("double") * col("e"))
        .withColumn("contrib",
          (col("obs").cast("double") - col("expected")) *
            (col("obs").cast("double") - col("expected")) / col("expected"))
        .select("priority", "digit", "obs", "n", "expected", "contrib")
    }, oracleSql =
      """WITH o AS (
        |  SELECT o_orderpriority AS priority,
        |    CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
        |  FROM orders),
        |d AS (
        |  SELECT priority,
        |    CAST(floor(CAST(cents AS DOUBLE)
        |      / power(10.0, CAST(length(CAST(cents AS VARCHAR)) - 1 AS DOUBLE))) AS INT)
        |      AS digit
        |  FROM o),
        |counts AS (
        |  SELECT priority, digit, CAST(count(*) AS BIGINT) AS obs FROM d GROUP BY 1, 2),
        |totals AS (SELECT priority, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1),
        |j AS (
        |  SELECT c.priority, c.digit, c.obs, t.n,
        |    CAST(n AS DOUBLE) * CAST(([0.301030, 0.176091, 0.124939, 0.096910, 0.079181,
        |      0.066947, 0.057992, 0.051153, 0.045757])[c.digit] AS DOUBLE) AS expected
        |  FROM counts c JOIN totals t ON t.priority = c.priority)
        |SELECT priority, digit, obs, n, expected,
        |  (CAST(obs AS DOUBLE) - expected) * (CAST(obs AS DOUBLE) - expected)
        |    / expected AS contrib
        |FROM j""".stripMargin),

    // --- beyond-reference: Neyman allocation + effective sample size -----
    // Stratified-sampling planning over order strata: per priority class,
    // the Neyman-optimal share N_h·σ_h / Σ N_h·σ_h of a 1000-row budget,
    // plus the effective sample size (Σw)²/Σw² the value-weighted
    // estimator would actually carry. EVERYTHING runs in kilodollar
    // INTEGER units (the Stats.autocorr lesson — moment sums must stay
    // < 2⁵³ for the decimal→double cast to be safe at both engines);
    // Neyman shares and ESS are scale-invariant, so the quantization
    // changes only the statistic's documented contract, not its meaning.
    // Per-stratum N·σ terms quantize to decimal before the cross-stratum
    // total (order-free); shares and ESS are single IEEE divisions.
    QueryDef("q_neyman", (s, dir) => {
      val v = floor(col("o_totalprice") / lit(1000.0)).cast("long")
      val m = t(s, dir, "orders")
        .select(col("o_orderpriority").as("priority"), v.as("v"))
        .groupBy("priority")
        .agg(count(lit(1)).as("n"),
          sum(col("v")).as("sv"), sum(col("v") * col("v")).as("svv"))
        .withColumn("sd",
          sqrt((col("n").cast("double") * col("svv").cast("double") -
            col("sv").cast("double") * col("sv").cast("double")) /
            (col("n").cast("double") * (col("n") - lit(1)).cast("double"))))
        // decimal(28,6), not (28,12): N·σ terms reach ~1e7, and a 12-dp
        // raw value would cross 2⁵³ — the same cast hazard the kilodollar
        // units exist to dodge. 6 dp keeps term AND total raw < 2⁵³.
        .withColumn("term", (col("n").cast("double") * col("sd")).cast("decimal(28,6)"))
      val tot = m.agg(sum(col("term")).as("tot"))
      m.crossJoin(broadcast(tot))
        .select(col("priority"), col("n"), round(col("sd"), 6).as("sd_kilo"),
          (col("term").cast("double") / col("tot").cast("double")).as("share"),
          floor(lit(1000.0) * (col("term").cast("double") / col("tot").cast("double")))
            .cast("long").as("alloc"),
          ((col("sv").cast("double") * col("sv").cast("double")) /
            col("svv").cast("double")).as("ess"))
    }, oracleSql =
      """WITH o AS (
        |  SELECT o_orderpriority AS priority,
        |    CAST(floor(o_totalprice / 1000.0) AS BIGINT) AS v
        |  FROM orders),
        |m AS (
        |  SELECT priority, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(v) AS BIGINT) AS sv, CAST(sum(v * v) AS BIGINT) AS svv
        |  FROM o GROUP BY 1),
        |sd AS (
        |  SELECT priority, n, sv, svv,
        |    sqrt((CAST(n AS DOUBLE) * CAST(svv AS DOUBLE)
        |        - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE))
        |      / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))) AS sd
        |  FROM m),
        |tm AS (SELECT *, CAST(CAST(n AS DOUBLE) * sd AS DECIMAL(28,6)) AS term FROM sd),
        |tot AS (SELECT sum(term) AS tot FROM tm)
        |SELECT priority, n, round(sd, 6) AS sd_kilo,
        |  CAST(term AS DOUBLE) / CAST(tot AS DOUBLE) AS share,
        |  CAST(floor(1000.0 * (CAST(term AS DOUBLE) / CAST(tot AS DOUBLE))) AS BIGINT) AS alloc,
        |  (CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE)) / CAST(svv AS DOUBLE) AS ess
        |FROM tm, tot""".stripMargin),

    // --- beyond-reference: declarative expectations report ----------------
    // The dbt-test/Great-Expectations-style contract run as ONE query:
    // each expectation is an independent exact aggregate (not-null,
    // key uniqueness, accepted range, accepted values, referential
    // integrity via anti-join counts), unioned into the audit report a
    // warehouse would persist per load. Complements core/Qc's in-code
    // assertions (which THROW) with the report-shaped surface; every
    // violation count is an exact integer.
    QueryDef("q_expectations", (s, dir) => {
      val o = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
      val c = t(s, dir, "customer")
      def row(tbl: String, column: String, exp: String, viol: DataFrame) =
        viol.select(
          lit(tbl).as("table_name"), lit(column).as("column_name"),
          lit(exp).as("expectation"), col("v").cast("long").as("n_violations"),
          (col("v") === 0L).as("passed"))
      row("orders", "o_orderkey", "not_null",
        o.agg(sum(col("o_orderkey").isNull.cast("long")).as("v")))
        .unionByName(row("orders", "o_orderkey", "unique",
          o.agg((count(lit(1)) - countDistinct(col("o_orderkey"))).as("v"))))
        .unionByName(row("orders", "o_totalprice", "range_0_1e6",
          o.agg(sum((col("o_totalprice") < 0.0 || col("o_totalprice") > 1.0e6 ||
            col("o_totalprice").isNull).cast("long")).as("v"))))
        .unionByName(row("orders", "o_orderpriority", "accepted_values",
          o.agg(sum((!col("o_orderpriority").isin(
            "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")).cast("long")).as("v"))))
        .unionByName(row("orders", "o_custkey", "ref_customer",
          o.join(c, o("o_custkey") === c("c_custkey"), "left_anti")
            .agg(count(lit(1)).as("v"))))
        .unionByName(row("lineitem", "l_orderkey", "ref_orders",
          li.join(o, li("l_orderkey") === o("o_orderkey"), "left_anti")
            .agg(count(lit(1)).as("v"))))
        .unionByName {
          val docs = t(s, dir, "documents")
          row("documents", "doc_id", "unique",
            docs.agg((count(lit(1)) - countDistinct(col("doc_id"))).as("v")))
            .unionByName(row("documents", "text", "not_null",
              docs.agg(sum(col("text").isNull.cast("long")).as("v"))))
            .unionByName(row("documents", "lang", "accepted_values",
              docs.agg(sum((!col("lang").isin("en", "de", "es", "fr", "zh"))
                .cast("long")).as("v"))))
            .unionByName(row("documents", "n_chars", "range_1_1e6",
              docs.agg(sum((col("n_chars") < 1L || col("n_chars") > 1000000L ||
                col("n_chars").isNull).cast("long")).as("v"))))
        }
    }, oracleSql =
      """SELECT 'orders' AS table_name, 'o_orderkey' AS column_name,
        |  'not_null' AS expectation,
        |  CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_violations,
        |  CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) = 0
        |    AS passed
        |FROM orders
        |UNION ALL
        |SELECT 'orders', 'o_orderkey', 'unique',
        |  CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT),
        |  CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) = 0
        |FROM orders
        |UNION ALL
        |SELECT 'orders', 'o_totalprice', 'range_0_1e6',
        |  CAST(sum(CASE WHEN o_totalprice < 0.0 OR o_totalprice > 1.0e6
        |    OR o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(sum(CASE WHEN o_totalprice < 0.0 OR o_totalprice > 1.0e6
        |    OR o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) = 0
        |FROM orders
        |UNION ALL
        |SELECT 'orders', 'o_orderpriority', 'accepted_values',
        |  CAST(sum(CASE WHEN o_orderpriority NOT IN
        |    ('1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW')
        |    THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(sum(CASE WHEN o_orderpriority NOT IN
        |    ('1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW')
        |    THEN 1 ELSE 0 END) AS BIGINT) = 0
        |FROM orders
        |UNION ALL
        |SELECT 'orders', 'o_custkey', 'ref_customer',
        |  CAST(count(*) AS BIGINT), CAST(count(*) AS BIGINT) = 0
        |FROM orders o WHERE NOT EXISTS (
        |  SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
        |UNION ALL
        |SELECT 'lineitem', 'l_orderkey', 'ref_orders',
        |  CAST(count(*) AS BIGINT), CAST(count(*) AS BIGINT) = 0
        |FROM lineitem l WHERE NOT EXISTS (
        |  SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
        |UNION ALL
        |SELECT 'documents', 'doc_id', 'unique',
        |  CAST(count(*) - count(DISTINCT doc_id) AS BIGINT),
        |  CAST(count(*) - count(DISTINCT doc_id) AS BIGINT) = 0
        |FROM documents
        |UNION ALL
        |SELECT 'documents', 'text', 'not_null',
        |  CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) = 0
        |FROM documents
        |UNION ALL
        |SELECT 'documents', 'lang', 'accepted_values',
        |  CAST(sum(CASE WHEN lang NOT IN ('en', 'de', 'es', 'fr', 'zh')
        |    THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(sum(CASE WHEN lang NOT IN ('en', 'de', 'es', 'fr', 'zh')
        |    THEN 1 ELSE 0 END) AS BIGINT) = 0
        |FROM documents
        |UNION ALL
        |SELECT 'documents', 'n_chars', 'range_1_1e6',
        |  CAST(sum(CASE WHEN n_chars < 1 OR n_chars > 1000000 OR n_chars IS NULL
        |    THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(sum(CASE WHEN n_chars < 1 OR n_chars > 1000000 OR n_chars IS NULL
        |    THEN 1 ELSE 0 END) AS BIGINT) = 0
        |FROM documents""".stripMargin),

    // --- beyond-reference: Hill tail index of key skew --------------------
    // The diagnosis that motivates q_salted_join/q_salted_agg: how heavy
    // is the tail of the join-key frequency distribution? Hill estimator
    // over the top-100 partkey group sizes per returnflag slice —
    // ĥ = (1/k)Σ ln(x_(i)/x_(k+1)), α̂ = 1/ĥ; α̂ ≤ ~2 says the
    // heaviest keys dominate enough that an unsalted shuffle will
    // straggle. Group sizes are exact BIGINTs; each ln of an exact ratio
    // quantizes to decimal before the order-free sum; one keyed window
    // ranks the sizes (top-k per slice, never a global sort).
    QueryDef("q_skew_index", (s, dir) => {
      val k = 100
      val sizes = t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_partkey"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("l_returnflag").orderBy(col("cnt").desc, col("l_partkey").asc)
      val ranked = sizes.withColumn("rn", row_number().over(w)).filter(col("rn") <= k + 1)
      val thresh = ranked.filter(col("rn") === k + 1)
        .select(col("l_returnflag"), col("cnt").as("x_thresh"))
      ranked.filter(col("rn") <= k)
        .join(broadcast(thresh), "l_returnflag")
        .withColumn("lnterm",
          log(col("cnt").cast("double") / col("x_thresh").cast("double"))
            .cast("decimal(28,12)"))
        .groupBy(col("l_returnflag"), col("x_thresh"))
        .agg(count(lit(1)).as("k"), sum(col("lnterm")).as("s"))
        .select(col("l_returnflag"), col("k"), col("x_thresh"),
          (col("s").cast("double") / col("k").cast("double")).as("hill"),
          (col("k").cast("double") / col("s").cast("double")).as("alpha"))
    }, oracleSql =
      """WITH sizes AS (
        |  SELECT l_returnflag, l_partkey, CAST(count(*) AS BIGINT) AS cnt
        |  FROM lineitem GROUP BY 1, 2),
        |ranked AS (
        |  SELECT l_returnflag, cnt,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY cnt DESC, l_partkey) AS rn
        |  FROM sizes),
        |th AS (
        |  SELECT l_returnflag, cnt AS x_thresh FROM ranked WHERE rn = 101),
        |terms AS (
        |  SELECT r.l_returnflag, th.x_thresh,
        |    CAST(ln(CAST(r.cnt AS DOUBLE) / CAST(th.x_thresh AS DOUBLE))
        |      AS DECIMAL(28,12)) AS lnterm
        |  FROM ranked r JOIN th USING (l_returnflag) WHERE r.rn <= 100),
        |agg AS (
        |  SELECT l_returnflag, x_thresh,
        |    CAST(count(*) AS BIGINT) AS k, sum(lnterm) AS s
        |  FROM terms GROUP BY 1, 2)
        |SELECT l_returnflag, k, x_thresh,
        |  CAST(s AS DOUBLE) / CAST(k AS DOUBLE) AS hill,
        |  CAST(k AS DOUBLE) / CAST(s AS DOUBLE) AS alpha
        |FROM agg""".stripMargin),

    // --- beyond-reference: kNN-distance outlier score ---------------------
    // The dense-side anomaly detector (q_mad_outliers/q_zscore cover
    // scalars): a monitored sample's distance to its 5th nearest
    // neighbor — points whose k-th neighbor is already far are isolated.
    // Score = 1 − cos@5 from the exact brute-force ranking; per label
    // class the top-3 most isolated flag for review. The sample-vs-
    // corpus shape (not corpus×corpus) is the monitoring deployment: a
    // fixed probe set scanning the full store stays linear in the
    // corpus.
    QueryDef("q_knn_outlier", (s, dir) => {
      val emb = t(s, dir, "embeddings").localCheckpoint(eager = false)
      val q = emb.filter(col("vec_id") < 64)
      val kth = Ann.bruteForceTopK(q, emb, "vec_id", "embedding", k = 5)
        .filter(col("rn") === 5)
        .select(col("qid").as("vec_id"), col("sim").as("cos_k5"))
      val w = Window.partitionBy("label").orderBy(col("score").desc, col("vec_id").asc)
      q.select(col("vec_id"), col("label"))
        .join(kth, "vec_id")
        .withColumn("score", lit(1.0) - col("cos_k5"))
        .withColumn("rk", row_number().over(w))
        .select(col("label"), col("rk"), col("vec_id"), col("cos_k5"),
          col("score"), (col("rk") <= 3).as("flagged"))
    }, oracleSql =
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |kth AS (
        |  SELECT qid AS vec_id, round(sim, 6) AS cos_k5 FROM (
        |    SELECT q.vec_id AS qid, c.vec_id AS cid,
        |      list_cosine_similarity(q.v, c.v) AS sim,
        |      row_number() OVER (PARTITION BY q.vec_id
        |        ORDER BY list_cosine_similarity(q.v, c.v) DESC, c.vec_id) AS rn
        |    FROM e q, e c WHERE q.vec_id < 64 AND c.vec_id <> q.vec_id)
        |  WHERE rn = 5),
        |sc AS (
        |  SELECT e.label, e.vec_id, kth.cos_k5, 1.0 - kth.cos_k5 AS score
        |  FROM e JOIN kth USING (vec_id) WHERE e.vec_id < 64)
        |SELECT label, rk, vec_id, cos_k5, score, rk <= 3 AS flagged FROM (
        |  SELECT *, row_number() OVER (PARTITION BY label
        |    ORDER BY score DESC, vec_id) AS rk
        |  FROM sc)""".stripMargin),

    // --- beyond-reference: split-conformal prediction intervals ----------
    // Distribution-free intervals with finite-sample coverage: fit a
    // per-priority mean on the calibration half (content-derived
    // orderkey%2 split), take q̂ = the ⌈(n+1)·0.875⌉-th smallest
    // calibration residual as an EXACT ORDER STATISTIC (no interpolation
    // — the dyadic-fraction rule says interpolated quantiles are the
    // cross-engine hazard; a rank-selected data value is bit-identical
    // by construction), then read the realized coverage on the held-out
    // half. α = 1/8 keeps the nominal level dyadic too.
    QueryDef("q_conformal", (s, dir) => {
      val d = (c: Column) => c.cast("double")
      val o = t(s, dir, "orders").select(
        col("o_orderpriority").as("priority"), col("o_orderkey"),
        col("o_totalprice"), (col("o_orderkey") % 2 === 0).as("cal"))
      val mu = o.filter(col("cal"))
        .groupBy("priority")
        .agg(count(lit(1)).as("n_cal"),
          (sum(col("o_totalprice").cast("decimal(12,3)")) * lit(1000))
            .cast("decimal(38,0)").cast("double").as("sp"))
        .withColumn("mu", col("sp") / lit(1000.0) / d(col("n_cal")))
        .withColumn("k", ceil(lit(0.875) * d(col("n_cal") + lit(1))).cast("long"))
      val wR = Window.partitionBy("priority")
        .orderBy(col("resid").asc, col("o_orderkey").asc)
      val qhat = o.filter(col("cal"))
        .join(broadcast(mu), "priority")
        .withColumn("resid", abs(col("o_totalprice") - col("mu")))
        .withColumn("rn", row_number().over(wR))
        .filter(col("rn") === col("k"))
        .select(col("priority"), col("n_cal"), col("k"), col("resid").as("qhat"))
      o.filter(!col("cal"))
        .join(broadcast(mu.select("priority", "mu")), "priority")
        .join(broadcast(qhat), "priority")
        .groupBy("priority")
        .agg(
          max(col("n_cal")).as("n_cal"), max(col("k")).as("k"),
          max(col("qhat")).as("qhat"),
          count(lit(1)).as("n_test"),
          sum((abs(col("o_totalprice") - col("mu")) <= col("qhat")).cast("long"))
            .as("n_covered"))
        .select(col("priority"), col("n_cal"), col("k"), col("qhat"),
          col("n_test"), col("n_covered"),
          (d(col("n_covered")) / d(col("n_test"))).as("coverage"))
    }, oracleSql =
      """WITH o AS (
        |  SELECT o_orderpriority AS priority, o_orderkey, o_totalprice,
        |    o_orderkey % 2 = 0 AS cal
        |  FROM orders),
        |mu AS (
        |  SELECT priority, CAST(count(*) AS BIGINT) AS n_cal,
        |    CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(12,3))) * 1000 AS DECIMAL(38,0))
        |      AS DOUBLE) / 1000.0 / CAST(count(*) AS DOUBLE) AS mu,
        |    CAST(ceil(0.875 * CAST(count(*) + 1 AS DOUBLE)) AS BIGINT) AS k
        |  FROM o WHERE cal GROUP BY 1),
        |res AS (
        |  SELECT o.priority, o.o_orderkey, abs(o.o_totalprice - mu.mu) AS resid,
        |    mu.n_cal, mu.k
        |  FROM o JOIN mu USING (priority) WHERE o.cal),
        |qh AS (
        |  SELECT priority, n_cal, k, resid AS qhat FROM (
        |    SELECT *, row_number() OVER (PARTITION BY priority
        |      ORDER BY resid, o_orderkey) AS rn
        |    FROM res) WHERE rn = k),
        |tst AS (
        |  SELECT o.priority, qh.n_cal, qh.k, qh.qhat,
        |    CAST(count(*) AS BIGINT) AS n_test,
        |    CAST(sum(CASE WHEN abs(o.o_totalprice - mu.mu) <= qh.qhat
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_covered
        |  FROM o JOIN mu USING (priority) JOIN qh USING (priority)
        |  WHERE NOT o.cal
        |  GROUP BY 1, 2, 3, 4)
        |SELECT priority, n_cal, k, qhat, n_test, n_covered,
        |  CAST(n_covered AS DOUBLE) / CAST(n_test AS DOUBLE) AS coverage
        |FROM tst""".stripMargin),

    // --- beyond-reference: delete-one-group jackknife ---------------------
    // The resampling sibling of q_bootstrap for CLUSTERED data: within
    // each region, leave one nation out at a time and read the
    // leave-one-out mean of customer balances; the jackknife SE over the
    // G deletions estimates the cluster-robust uncertainty. LOO means
    // come from exact decimal sum differences (never re-aggregating the
    // deleted slice); cross-deletion moments go through kilodollar-free
    // decimal(15,3) quantization of the means (cast-safe), and the
    // variance is clamped at 0 before sqrt — the float identity
    // Σm²−(Σm)²/G can land a hair negative when the deletions agree.
    QueryDef("q_jackknife", (s, dir) => {
      val d = (c: Column) => c.cast("double")
      val base = t(s, dir, "customer")
        .select(col("c_nationkey"), col("c_acctbal").cast("decimal(12,3)").as("v"))
        .join(broadcast(t(s, dir, "nation").select(col("n_nationkey"), col("n_regionkey"))),
          col("c_nationkey") === col("n_nationkey"))
      val per = base.groupBy(col("n_regionkey").as("region"), col("c_nationkey").as("nation"))
        .agg(count(lit(1)).as("n_g"), sum(col("v")).as("s_g"))
      val reg = per.groupBy("region")
        .agg(sum(col("n_g")).as("n"), sum(col("s_g")).as("st"), count(lit(1)).as("g"))
      val wReg = Window.partitionBy("region")
      per.join(broadcast(reg), "region")
        .withColumn("loo_mean", (col("st") - col("s_g")).cast("double") /
          d(col("n") - col("n_g")))
        .withColumn("mk", col("loo_mean").cast("decimal(15,3)"))
        .withColumn("sm", sum(col("mk")).over(wReg))
        .withColumn("smm", sum(col("mk") * col("mk")).over(wReg))
        .select(col("region"), col("nation"), col("n_g"), col("loo_mean"),
          sqrt((d(col("g")) - lit(1.0)) / d(col("g")) *
            greatest(d(col("smm")) - d(col("sm")) * d(col("sm")) / d(col("g")), lit(0.0)))
            .as("jk_se"))
    }, oracleSql =
      """WITH base AS (
        |  SELECT n.n_regionkey AS region, c.c_nationkey AS nation,
        |    CAST(c.c_acctbal AS DECIMAL(12,3)) AS v
        |  FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey),
        |per AS (
        |  SELECT region, nation, CAST(count(*) AS BIGINT) AS n_g, sum(v) AS s_g
        |  FROM base GROUP BY 1, 2),
        |reg AS (
        |  SELECT region, CAST(sum(n_g) AS BIGINT) AS n, sum(s_g) AS st,
        |    CAST(count(*) AS BIGINT) AS g
        |  FROM per GROUP BY 1),
        |loo AS (
        |  SELECT per.region, per.nation, per.n_g,
        |    CAST(reg.st - per.s_g AS DOUBLE) / CAST(reg.n - per.n_g AS DOUBLE) AS loo_mean,
        |    reg.g
        |  FROM per JOIN reg USING (region)),
        |mk AS (SELECT *, CAST(loo_mean AS DECIMAL(15,3)) AS mk FROM loo),
        |agg AS (
        |  SELECT *,
        |    sum(mk) OVER (PARTITION BY region) AS sm,
        |    sum(mk * mk) OVER (PARTITION BY region) AS smm
        |  FROM mk)
        |SELECT region, nation, n_g, loo_mean,
        |  sqrt((CAST(g AS DOUBLE) - 1.0) / CAST(g AS DOUBLE)
        |    * greatest(CAST(smm AS DOUBLE)
        |        - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE) / CAST(g AS DOUBLE), 0.0)) AS jk_se
        |FROM agg""".stripMargin),

    // --- beyond-reference: Poisson bootstrap (deterministic resampling) --
    // The resampling design that actually works at 100 TB: each (row,
    // replicate) draws an independent Poisson(1) weight — no global
    // multinomial to coordinate — from the md5-uniform primitive, so
    // the "randomness" is content-derived and engine/partition/growth
    // stable (the q_hash_sample doctrine). 8 replicates of mean order
    // value per priority class in EXACT CENTS (every weighted sum a
    // BIGINT < 2⁵³); the bootstrap SE folds the replicate means through
    // kilodollar decimal quantization so the cross-replicate moments
    // stay cast-safe. Inverse-CDF thresholds are 12-dp Poisson(1)
    // cumulative literals shared verbatim with the oracle.
    QueryDef("q_bootstrap", (s, dir) => {
      val pcum = Seq("0.367879441171", "0.735758882343", "0.919698602929",
        "0.980988306262", "0.996339732021", "0.999406017295", "0.999916758850")
      val d = (c: Column) => c.cast("double")
      val cents = floor(col("o_totalprice") * lit(100.0) + lit(0.5)).cast("long")
      val rows = t(s, dir, "orders")
        .select(col("o_orderpriority").as("priority"), col("o_orderkey"), cents.as("cents"))
        .select(col("*"), explode(array((1 to 8).map(lit(_)): _*)).as("rep"))
        .withColumn("u",
          (conv(substring(md5(concat_ws(":", col("o_orderkey"), col("rep"))), 1, 8), 16, 10)
            .cast("long").cast("double") + lit(0.5)) / lit(4294967296.0))
        .withColumn("w", pcum.zipWithIndex.foldRight(lit(7L): Column) {
          case ((c, i), els) => when(col("u") < lit(new java.math.BigDecimal(c)).cast("double"), lit(i.toLong)).otherwise(els)
        })
      val reps = rows.groupBy("priority", "rep")
        .agg(sum(col("w")).as("n_eff"), sum(col("w") * col("cents")).as("swc"))
        .withColumn("mean_cents", d(col("swc")) / d(col("n_eff")))
        .withColumn("mk", (col("mean_cents") / lit(100000.0)).cast("decimal(15,3)"))
      val wAll = Window.partitionBy("priority")
      reps
        .withColumn("sm", sum(col("mk")).over(wAll))
        .withColumn("smm", sum(col("mk") * col("mk")).over(wAll))
        .select(col("priority"), col("rep"), col("n_eff"), col("mean_cents"),
          sqrt((lit(8.0) * d(col("smm")) - d(col("sm")) * d(col("sm"))) /
            (lit(8.0) * lit(7.0))).as("se_kilo"))
    }, oracleSql =
      """WITH o AS (
        |  SELECT o_orderpriority AS priority, o_orderkey,
        |    CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
        |  FROM orders),
        |rows_ AS (
        |  SELECT priority, o_orderkey, cents, CAST(g.gs AS INT) AS rep,
        |    (CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || ':'
        |       || CAST(g.gs AS VARCHAR)), 1, 8) AS BIGINT) + 0.5) / 4294967296.0 AS u
        |  FROM o CROSS JOIN (SELECT unnest(range(1, 9)) AS gs) g),
        |wt AS (
        |  SELECT priority, rep, cents,
        |    CASE WHEN u < CAST(0.367879441171 AS DOUBLE) THEN 0
        |         WHEN u < CAST(0.735758882343 AS DOUBLE) THEN 1
        |         WHEN u < CAST(0.919698602929 AS DOUBLE) THEN 2
        |         WHEN u < CAST(0.980988306262 AS DOUBLE) THEN 3
        |         WHEN u < CAST(0.996339732021 AS DOUBLE) THEN 4
        |         WHEN u < CAST(0.999406017295 AS DOUBLE) THEN 5
        |         WHEN u < CAST(0.999916758850 AS DOUBLE) THEN 6
        |         ELSE 7 END AS w
        |  FROM rows_),
        |reps AS (
        |  SELECT priority, rep,
        |    CAST(sum(w) AS BIGINT) AS n_eff,
        |    CAST(CAST(sum(w * cents) AS BIGINT) AS DOUBLE)
        |      / CAST(CAST(sum(w) AS BIGINT) AS DOUBLE) AS mean_cents
        |  FROM wt GROUP BY 1, 2),
        |mk AS (
        |  SELECT *, CAST(mean_cents / 100000.0 AS DECIMAL(15,3)) AS mk FROM reps),
        |agg AS (
        |  SELECT *,
        |    sum(mk) OVER (PARTITION BY priority) AS sm,
        |    sum(mk * mk) OVER (PARTITION BY priority) AS smm
        |  FROM mk)
        |SELECT priority, rep, n_eff, mean_cents,
        |  sqrt((8.0 * CAST(smm AS DOUBLE) - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE))
        |    / (8.0 * 7.0)) AS se_kilo
        |FROM agg""".stripMargin),

    // --- beyond-reference: PMI-lift keywords per source -------------------
    // Which terms characterize a source: lift = N·c_ts / (c_t·c_s) over
    // DOC frequencies (exact-integer PMI ranking — lift is monotone in
    // PMI, so no ln enters the sort key), df≥3 in-source support, top 5
    // per source by (lift DESC, term). Identical-tree doubles order
    // identically on both engines, so the rank itself is the contract.
    QueryDef("q_keywords", (s, dir) => {
      val docs = t(s, dir, "documents")
      val dt = docs.select(col("source"), col("doc_id"),
        explode(array_distinct(TextAnalysis.tokens(lower(col("text"))))).as("term"))
      val cts = dt.groupBy("source", "term").agg(count(lit(1)).as("c_ts"))
        .filter(col("c_ts") >= 3)
      val ct = dt.groupBy("term").agg(count(lit(1)).as("c_t"))
      val cs = docs.groupBy("source").agg(count(lit(1)).as("c_s"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy("source").orderBy(col("lift").desc, col("term").asc)
      cts.join(ct, "term").join(broadcast(cs), "source").crossJoin(broadcast(n))
        .withColumn("lift",
          (col("n_docs") * col("c_ts")).cast("double") /
            (col("c_t") * col("c_s")).cast("double"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select("source", "rk", "term", "c_ts", "lift")
    }, oracleSql =
      """WITH dt AS (
        |  SELECT source, doc_id, unnest(list_distinct(
        |    list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> ''))) AS term
        |  FROM documents),
        |cts AS (
        |  SELECT source, term, CAST(count(*) AS BIGINT) AS c_ts
        |  FROM dt GROUP BY 1, 2 HAVING count(*) >= 3),
        |ct AS (SELECT term, CAST(count(*) AS BIGINT) AS c_t FROM dt GROUP BY 1),
        |cs AS (SELECT source, CAST(count(*) AS BIGINT) AS c_s FROM documents GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
        |lf AS (
        |  SELECT cts.source, cts.term, cts.c_ts,
        |    CAST(n.n_docs * cts.c_ts AS DOUBLE) / CAST(ct.c_t * cs.c_s AS DOUBLE) AS lift
        |  FROM cts JOIN ct USING (term) JOIN cs USING (source), n),
        |rk AS (
        |  SELECT source, term, c_ts, lift,
        |    row_number() OVER (PARTITION BY source ORDER BY lift DESC, term) AS rk
        |  FROM lf)
        |SELECT source, rk, term, c_ts, lift FROM rk WHERE rk <= 5""".stripMargin),

    // --- beyond-reference: distributed decision stump ---------------------
    // The one-split learner over (n_chars → lang='en') per source: 15
    // candidate cuts at fixed integer positions between the source's
    // min/max, weighted Gini impurity per cut from exact-integer
    // class counts, argmin by (score, cut). The cut grid joins back to
    // the scan ONCE (15× row multiplication, then one map-side-combining
    // aggregation) — per-cut passes would scan 15×. Empty sides
    // contribute zero impurity by definition.
    QueryDef("q_stump", (s, dir) => {
      val d = (c: Column) => c.cast("double")
      val base = t(s, dir, "documents").select(
        col("source"), col("n_chars"), (col("lang") === "en").cast("long").as("pos"))
      val stats = base.groupBy("source").agg(
        min(col("n_chars")).as("mn"), max(col("n_chars")).as("mx"),
        count(lit(1)).as("n"), sum(col("pos")).as("p"))
      val cuts = stats.select(col("source"), col("mn"), col("mx"),
          explode(array((1 to 15).map(lit(_)): _*)).as("i"))
        .withColumn("cut", col("mn") +
          floor(d(col("i")) * d(col("mx") - col("mn")) / lit(16.0)).cast("long"))
        .select("source", "cut").distinct()
      val sides = base.join(cuts, "source")
        .groupBy("source", "cut")
        .agg(
          sum(when(col("n_chars") < col("cut"), 1L).otherwise(0L)).as("nl"),
          sum(when(col("n_chars") < col("cut") && col("pos") === 1L, 1L).otherwise(0L)).as("pl"))
        .join(broadcast(stats.select("source", "n", "p")), "source")
        .withColumn("nr", col("n") - col("nl"))
        .withColumn("pr", col("p") - col("pl"))
      val w = Window.partitionBy("source").orderBy(col("score").asc, col("cut").asc)
      sides
        .withColumn("score",
          (giniSide(col("nl"), col("pl")) + giniSide(col("nr"), col("pr"))) / d(col("n")))
        .withColumn("rk", row_number().over(w))
        .select("source", "rk", "cut", "nl", "pl", "nr", "pr", "score")
    }, oracleSql =
      s"""WITH base AS (
        |  SELECT source, n_chars,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
        |  FROM documents),
        |stats AS (
        |  SELECT source, min(n_chars) AS mn, max(n_chars) AS mx,
        |    CAST(count(*) AS BIGINT) AS n, CAST(sum(pos) AS BIGINT) AS p
        |  FROM base GROUP BY 1),
        |cuts AS (
        |  SELECT DISTINCT source,
        |    mn + CAST(floor(CAST(i AS DOUBLE) * CAST(mx - mn AS DOUBLE) / 16.0) AS BIGINT)
        |      AS cut
        |  FROM stats, (SELECT unnest(range(1, 16)) AS i)),
        |sides AS (
        |  SELECT b.source, c.cut,
        |    CAST(sum(CASE WHEN b.n_chars < c.cut THEN 1 ELSE 0 END) AS BIGINT) AS nl,
        |    CAST(sum(CASE WHEN b.n_chars < c.cut AND b.pos = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS pl
        |  FROM base b JOIN cuts c ON c.source = b.source
        |  GROUP BY 1, 2),
        |sc AS (
        |  SELECT s.source, s.cut, s.nl, s.pl,
        |    t.n - s.nl AS nr, t.p - s.pl AS pr, t.n
        |  FROM sides s JOIN stats t USING (source)),
        |g AS (
        |  SELECT source, cut, nl, pl, nr, pr,
        |    $giniScoreSql AS score
        |  FROM sc)
        |SELECT source, rk, cut, nl, pl, nr, pr, score FROM (
        |  SELECT *, row_number() OVER (PARTITION BY source ORDER BY score, cut) AS rk
        |  FROM g)""".stripMargin),

    // --- beyond-reference: CUPED variance-reduced A/B readout ------------
    // The industry-standard pre-period adjustment: per user, pre- and
    // post-period value totals (split at the integer midpoint day),
    // Y' = Y − θ(X − μ_X) with θ = cov(X,Y)/var(X) POOLED across
    // variants (assignment-independent, so the adjustment cannot bias
    // the contrast). Per-user totals quantize decimal(12,3) before the
    // exact sum, then floor to INTEGER units — every moment after that
    // is a BIGINT < 2⁵³ and θ/ρ²/means are fixed IEEE trees. Emits per
    // variant the raw and adjusted means plus the shared θ and ρ²
    // (ρ² IS the variance-reduction fraction CUPED delivers).
    QueryDef("q_cuped", (s, dir) => {
      val u = userPrePost(s, dir)
        .withColumn("variant", pmod(col("user_id"), lit(2)).cast("int"))
        .localCheckpoint(false) // two consumers: pooled moments + per-variant means
      val d = (c: Column) => c.cast("double")
      val m = u.agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("y") * col("y")).as("syy"))
      u.groupBy("variant")
        .agg(count(lit(1)).as("nv"), sum(col("x")).as("svx"), sum(col("y")).as("svy"))
        .crossJoin(broadcast(m))
        .withColumn("theta",
          (d(col("n")) * d(col("sxy")) - d(col("sx")) * d(col("sy"))) /
            (d(col("n")) * d(col("sxx")) - d(col("sx")) * d(col("sx"))))
        .select(
          col("variant"), col("nv"),
          (d(col("svy")) / d(col("nv"))).as("mean_y"),
          (d(col("svy")) / d(col("nv")) -
            col("theta") * (d(col("svx")) / d(col("nv")) - d(col("sx")) / d(col("n"))))
            .as("mean_adj"),
          col("theta"),
          ((d(col("n")) * d(col("sxy")) - d(col("sx")) * d(col("sy"))) *
            (d(col("n")) * d(col("sxy")) - d(col("sx")) * d(col("sy"))) /
            ((d(col("n")) * d(col("sxx")) - d(col("sx")) * d(col("sx"))) *
              (d(col("n")) * d(col("syy")) - d(col("sy")) * d(col("sy"))))).as("rho2"))
    }, oracleSql =
      s"""WITH $userDayCtes
        |u AS (
        |  SELECT user_id,
        |    CAST(floor(CAST(coalesce(sum(CASE WHEN day < mid THEN v END),
        |      CAST(0 AS DECIMAL(12,3))) AS DOUBLE)) AS BIGINT) AS x,
        |    CAST(floor(CAST(coalesce(sum(CASE WHEN day >= mid THEN v END),
        |      CAST(0 AS DECIMAL(12,3))) AS DOUBLE)) AS BIGINT) AS y,
        |    CAST(user_id % 2 AS INT) AS variant
        |  FROM e, md GROUP BY 1),
        |m AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx,
        |    CAST(sum(x * y) AS BIGINT) AS sxy,
        |    CAST(sum(y * y) AS BIGINT) AS syy
        |  FROM u),
        |pv AS (
        |  SELECT variant, CAST(count(*) AS BIGINT) AS nv,
        |    CAST(sum(x) AS BIGINT) AS svx, CAST(sum(y) AS BIGINT) AS svy
        |  FROM u GROUP BY 1),
        |j AS (
        |  SELECT pv.*, m.*,
        |    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |      / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |      AS theta
        |  FROM pv, m)
        |SELECT variant, nv,
        |  CAST(svy AS DOUBLE) / CAST(nv AS DOUBLE) AS mean_y,
        |  CAST(svy AS DOUBLE) / CAST(nv AS DOUBLE)
        |    - theta * (CAST(svx AS DOUBLE) / CAST(nv AS DOUBLE)
        |               - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) AS mean_adj,
        |  theta,
        |  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |       * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
        |    AS rho2
        |FROM j""".stripMargin),

    // --- beyond-reference: sample-ratio-mismatch guardrail ---------------
    // The first thing a trustworthy A/B system checks: per event type,
    // did the 50/50 user split actually land 50/50? χ² of the two
    // distinct-user counts against the half-total expectation; the flag
    // trips at the 0.05 critical value (3.841). Exact integer counts →
    // one fixed IEEE tree.
    QueryDef("q_srm", (s, dir) => {
      val d = (c: Column) => c.cast("double")
      val u = t(s, dir, "events")
        .select(col("event_type"), col("user_id")).distinct()
        .groupBy("event_type")
        .agg(
          sum(when(pmod(col("user_id"), lit(2)) === 0, 1L).otherwise(0L)).as("n0"),
          sum(when(pmod(col("user_id"), lit(2)) === 1, 1L).otherwise(0L)).as("n1"))
      u.withColumn("expected", d(col("n0") + col("n1")) / lit(2.0))
        .withColumn("chi2",
          (d(col("n0")) - col("expected")) * (d(col("n0")) - col("expected")) / col("expected") +
            (d(col("n1")) - col("expected")) * (d(col("n1")) - col("expected")) / col("expected"))
        .select(col("event_type"), col("n0"), col("n1"), col("chi2"),
          (col("chi2") > lit(3.841)).as("srm_flag"))
    }, oracleSql =
      """WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
        |u AS (
        |  SELECT event_type,
        |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
        |    CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1
        |  FROM du GROUP BY 1),
        |x AS (
        |  SELECT event_type, n0, n1,
        |    CAST(n0 + n1 AS DOUBLE) / 2.0 AS expected
        |  FROM u)
        |SELECT event_type, n0, n1,
        |  (CAST(n0 AS DOUBLE) - expected) * (CAST(n0 AS DOUBLE) - expected) / expected
        |    + (CAST(n1 AS DOUBLE) - expected) * (CAST(n1 AS DOUBLE) - expected) / expected
        |    AS chi2,
        |  ((CAST(n0 AS DOUBLE) - expected) * (CAST(n0 AS DOUBLE) - expected) / expected
        |    + (CAST(n1 AS DOUBLE) - expected) * (CAST(n1 AS DOUBLE) - expected) / expected)
        |    > 3.841 AS srm_flag
        |FROM x""".stripMargin),

    // --- beyond-reference: reciprocal rank of the true neighbor ----------
    // The last standard retrieval-eval metric (after q_ndcg, q_rbo,
    // q_avg_precision): where does the LSH list put the brute-force #1?
    // rr = 1/rank (0 when the probe sequence missed it entirely) — the
    // per-query MRR terms; the mean is a trivial downstream fold the
    // consumer picks a grouping for.
    QueryDef("q_mrr", (s, dir) => {
      val emb = t(s, dir, "embeddings").localCheckpoint(eager = false)
      val q = emb.filter(col("vec_id") < 8)
      val ideal = Ann.bruteForceTopK(q, emb, "vec_id", "embedding", k = 1)
        .select(col("qid"), col("vec_id").as("ideal_id"))
      val lsh = Ann.lshTopK(q, emb, "vec_id", "embedding", dim = 64, k = 10)
        .select(col("qid"), col("vec_id").as("ideal_id"), col("rn"))
      ideal.join(lsh, Seq("qid", "ideal_id"), "left")
        .select(col("qid"), col("ideal_id"),
          coalesce(col("rn"), lit(0)).as("found_rank"),
          coalesce(lit(1.0) / col("rn").cast("double"), lit(0.0)).as("rr"))
    }, oracleSql =
      s"""WITH $lshRankCtes,
         |ideal AS (
         |  SELECT qid, vec_id AS ideal_id FROM (
         |    SELECT q.vec_id AS qid, c.vec_id,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY list_cosine_similarity(q.v, c.v) DESC, c.vec_id) AS rn
         |    FROM e q, e c WHERE q.vec_id < 8 AND c.vec_id <> q.vec_id)
         |  WHERE rn = 1),
         |hit AS (
         |  SELECT qid, vec_id AS ideal_id, rn FROM lranked WHERE rn <= 10)
         |SELECT i.qid, i.ideal_id,
         |  CAST(coalesce(h.rn, 0) AS INT) AS found_rank,
         |  coalesce(1.0 / CAST(h.rn AS DOUBLE), 0.0) AS rr
         |FROM ideal i LEFT JOIN hit h ON h.qid = i.qid AND h.ideal_id = i.ideal_id""".stripMargin),

    // --- beyond-reference: multi-feature OLS via normal equations --------
    // Two-regressor least squares (price ~ quantity + discount) per
    // returnflag, solved in closed form by Cramer's rule on the 3×3
    // normal-equation matrix — the multivariate sibling of
    // q_regress_slope. Features quantize to exact integers (whole
    // dollars / units / discount percent: floor on doubles both engines
    // share bit-for-bit), so all ten moments are exact BIGINT sums far
    // below 2^53 at gate scale, and the determinant arithmetic is one
    // identical IEEE tree in Spark and DuckDB. One map-side-combining
    // aggregation over the scan; no window, no second pass — at 100 TB
    // this is a single shuffle of 3 groups × 10 longs.
    QueryDef("q_ols_multi", (s, dir) => {
      val d = (c: Column) => c.cast("double")
      val mo = t(s, dir, "lineitem")
        .select(col("l_returnflag"),
          floor(col("l_extendedprice")).cast("long").as("y"),
          floor(col("l_quantity")).cast("long").as("x1"),
          round(col("l_discount") * 100, 0).cast("long").as("x2"))
        .groupBy("l_returnflag")
        .agg(
          count(lit(1)).as("n"),
          sum(col("x1")).as("s1"), sum(col("x2")).as("s2"),
          sum(col("x1") * col("x1")).as("s11"),
          sum(col("x1") * col("x2")).as("s12"),
          sum(col("x2") * col("x2")).as("s22"),
          sum(col("y")).as("sy"),
          sum(col("x1") * col("y")).as("s1y"),
          sum(col("x2") * col("y")).as("s2y"),
          sum(col("y") * col("y")).as("syy"))
      mo
        .withColumn("det",
          d(col("n")) * (d(col("s11")) * d(col("s22")) - d(col("s12")) * d(col("s12")))
            - d(col("s1")) * (d(col("s1")) * d(col("s22")) - d(col("s12")) * d(col("s2")))
            + d(col("s2")) * (d(col("s1")) * d(col("s12")) - d(col("s11")) * d(col("s2"))))
        .withColumn("det0",
          d(col("sy")) * (d(col("s11")) * d(col("s22")) - d(col("s12")) * d(col("s12")))
            - d(col("s1")) * (d(col("s1y")) * d(col("s22")) - d(col("s12")) * d(col("s2y")))
            + d(col("s2")) * (d(col("s1y")) * d(col("s12")) - d(col("s11")) * d(col("s2y"))))
        .withColumn("det1",
          d(col("n")) * (d(col("s1y")) * d(col("s22")) - d(col("s2y")) * d(col("s12")))
            - d(col("sy")) * (d(col("s1")) * d(col("s22")) - d(col("s12")) * d(col("s2")))
            + d(col("s2")) * (d(col("s1")) * d(col("s2y")) - d(col("s1y")) * d(col("s2"))))
        .withColumn("det2",
          d(col("n")) * (d(col("s11")) * d(col("s2y")) - d(col("s12")) * d(col("s1y")))
            - d(col("s1")) * (d(col("s1")) * d(col("s2y")) - d(col("s1y")) * d(col("s2")))
            + d(col("sy")) * (d(col("s1")) * d(col("s12")) - d(col("s11")) * d(col("s2"))))
        .withColumn("b0", col("det0") / col("det"))
        .withColumn("b1", col("det1") / col("det"))
        .withColumn("b2", col("det2") / col("det"))
        .withColumn("sse",
          d(col("syy")) - (col("b0") * d(col("sy")) + col("b1") * d(col("s1y"))
            + col("b2") * d(col("s2y"))))
        .withColumn("sst", d(col("syy")) - d(col("sy")) * d(col("sy")) / d(col("n")))
        .select(col("l_returnflag"), col("n"),
          round(col("b0"), 6).as("beta0"), round(col("b1"), 6).as("beta1"),
          round(col("b2"), 6).as("beta2"),
          round(lit(1.0) - col("sse") / col("sst"), 6).as("r2"))
    },
      // Cramer's rule on exact-BIGINT moments; the determinant expressions
      // are the same IEEE trees as the Spark side, term for term.
      oracleSql =
      """WITH q AS (
        |  SELECT l_returnflag,
        |    CAST(floor(l_extendedprice) AS BIGINT) AS y,
        |    CAST(floor(l_quantity) AS BIGINT) AS x1,
        |    CAST(round(l_discount * 100, 0) AS BIGINT) AS x2
        |  FROM lineitem),
        |mo AS (
        |  SELECT l_returnflag,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x1) AS BIGINT) AS s1, CAST(sum(x2) AS BIGINT) AS s2,
        |    CAST(sum(x1 * x1) AS BIGINT) AS s11,
        |    CAST(sum(x1 * x2) AS BIGINT) AS s12,
        |    CAST(sum(x2 * x2) AS BIGINT) AS s22,
        |    CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x1 * y) AS BIGINT) AS s1y,
        |    CAST(sum(x2 * y) AS BIGINT) AS s2y,
        |    CAST(sum(y * y) AS BIGINT) AS syy
        |  FROM q GROUP BY 1),
        |dets AS (
        |  SELECT l_returnflag, n, sy, s1y, s2y, syy,
        |    CAST(n AS DOUBLE) * (CAST(s11 AS DOUBLE) * CAST(s22 AS DOUBLE) - CAST(s12 AS DOUBLE) * CAST(s12 AS DOUBLE))
        |      - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s22 AS DOUBLE) - CAST(s12 AS DOUBLE) * CAST(s2 AS DOUBLE))
        |      + CAST(s2 AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s12 AS DOUBLE) - CAST(s11 AS DOUBLE) * CAST(s2 AS DOUBLE)) AS det,
        |    CAST(sy AS DOUBLE) * (CAST(s11 AS DOUBLE) * CAST(s22 AS DOUBLE) - CAST(s12 AS DOUBLE) * CAST(s12 AS DOUBLE))
        |      - CAST(s1 AS DOUBLE) * (CAST(s1y AS DOUBLE) * CAST(s22 AS DOUBLE) - CAST(s12 AS DOUBLE) * CAST(s2y AS DOUBLE))
        |      + CAST(s2 AS DOUBLE) * (CAST(s1y AS DOUBLE) * CAST(s12 AS DOUBLE) - CAST(s11 AS DOUBLE) * CAST(s2y AS DOUBLE)) AS det0,
        |    CAST(n AS DOUBLE) * (CAST(s1y AS DOUBLE) * CAST(s22 AS DOUBLE) - CAST(s2y AS DOUBLE) * CAST(s12 AS DOUBLE))
        |      - CAST(sy AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s22 AS DOUBLE) - CAST(s12 AS DOUBLE) * CAST(s2 AS DOUBLE))
        |      + CAST(s2 AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s2y AS DOUBLE) - CAST(s1y AS DOUBLE) * CAST(s2 AS DOUBLE)) AS det1,
        |    CAST(n AS DOUBLE) * (CAST(s11 AS DOUBLE) * CAST(s2y AS DOUBLE) - CAST(s12 AS DOUBLE) * CAST(s1y AS DOUBLE))
        |      - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s2y AS DOUBLE) - CAST(s1y AS DOUBLE) * CAST(s2 AS DOUBLE))
        |      + CAST(sy AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s12 AS DOUBLE) - CAST(s11 AS DOUBLE) * CAST(s2 AS DOUBLE)) AS det2
        |  FROM mo),
        |beta AS (
        |  SELECT *, det0 / det AS b0, det1 / det AS b1, det2 / det AS b2 FROM dets),
        |fit AS (
        |  SELECT *,
        |    CAST(syy AS DOUBLE) - (b0 * CAST(sy AS DOUBLE) + b1 * CAST(s1y AS DOUBLE) + b2 * CAST(s2y AS DOUBLE)) AS sse,
        |    CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS sst
        |  FROM beta)
        |SELECT l_returnflag, n,
        |  round(b0, 6) + 0 AS beta0, round(b1, 6) + 0 AS beta1, round(b2, 6) + 0 AS beta2,
        |  round(1.0 - sse / sst, 6) + 0 AS r2
        |FROM fit""".stripMargin),

    // --- beyond-reference: isotonic recalibration (PAV via minimax) ------
    // Monotone recalibration of the q_calibration readout: the isotonic
    // (pool-adjacent-violators) fit over the 8 score bins, computed by
    // the minimax identity iso(k) = max_{i<=k} min_{j>=k} rate(i..j) —
    // no iterative pooling, so the whole fit is three joins over a
    // bin-pair table whose size is FIXED (8 bins → 36 ranges) no matter
    // how large the corpus gets; the only full-data work is the same
    // single scoring scan q_calibration already does. Range rates divide
    // exact BIGINT pools, so min/max compare identical doubles in both
    // engines.
    QueryDef("q_isotonic", (s, dir) => {
      val scored = t(s, dir, "embeddings")
        .select(col("vec_id"),
          round(MlpScore.score(col("embedding"), 64, 8), 6).as("sc"),
          when(pmod(col("label"), lit(2)) === 0, 1L).otherwise(0L).as("y"))
      val mm = scored.agg(min(col("sc")).as("lo"), max(col("sc")).as("hi"))
      val bins = scored.join(broadcast(mm))
        .withColumn("bin",
          when(col("hi") === col("lo"), lit(0)).otherwise(
            least(floor((col("sc") - col("lo")) / ((col("hi") - col("lo")) / lit(8.0))).cast("int"),
              lit(7))))
        .groupBy("bin").agg(count(lit(1)).as("n"), sum(col("y")).as("ny"))
        .localCheckpoint(eager = false) // 4 consumers below, all ≤8 rows
      val ranges = broadcast(bins.select(col("bin").as("i")))
        .join(broadcast(bins.select(col("bin").as("j"))), col("i") <= col("j"))
      val rangeRate = ranges
        .join(bins, col("bin").between(col("i"), col("j")))
        .groupBy("i", "j")
        .agg((sum(col("ny")).cast("double") / sum(col("n")).cast("double")).as("avg"))
      val iso = broadcast(bins.select(col("bin").as("k")))
        .join(rangeRate, col("i") <= col("k") && col("j") >= col("k"))
        .groupBy("k", "i").agg(min(col("avg")).as("mavg"))
        .groupBy("k").agg(max(col("mavg")).as("iso"))
      bins.join(iso, col("bin") === col("k"))
        .select(col("bin"), col("n"),
          round(col("ny").cast("double") / col("n").cast("double"), 6).as("raw_rate"),
          round(col("iso"), 6).as("iso_rate"))
    },
      // PAV by the minimax identity over the q_calibration bins; range
      // rates divide exact BIGINT pools, so the min/max lattice compares
      // identical doubles in both engines.
      oracleSql =
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |scored AS (
         |  SELECT vec_id, round($mlpScoreSqlExpr, 6) AS s,
         |    CASE WHEN label % 2 = 0 THEN 1 ELSE 0 END AS y
         |  FROM e),
         |mm AS (SELECT min(s) AS lo, max(s) AS hi FROM scored),
         |binned AS (
         |  SELECT CASE WHEN hi = lo THEN 0
         |    ELSE least(CAST(trunc((s - lo) / ((hi - lo) / 8.0)) AS INT), 7) END AS bin, y
         |  FROM scored, mm),
         |bins AS (
         |  SELECT bin, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS ny
         |  FROM binned GROUP BY 1),
         |rng AS (
         |  SELECT i.bin AS i, j.bin AS j,
         |    CAST(sum(b.ny) AS DOUBLE) / CAST(sum(b.n) AS DOUBLE) AS avg
         |  FROM bins i JOIN bins j ON i.bin <= j.bin
         |    JOIN bins b ON b.bin BETWEEN i.bin AND j.bin
         |  GROUP BY 1, 2),
         |mn AS (
         |  SELECT k.bin AS k, r.i, min(r.avg) AS mavg
         |  FROM bins k JOIN rng r ON r.i <= k.bin AND r.j >= k.bin
         |  GROUP BY 1, 2),
         |iso AS (SELECT k, max(mavg) AS iso FROM mn GROUP BY 1)
         |SELECT b.bin, b.n,
         |  round(CAST(b.ny AS DOUBLE) / CAST(b.n AS DOUBLE), 6) AS raw_rate,
         |  round(i.iso, 6) AS iso_rate
         |FROM bins b JOIN iso i ON i.k = b.bin""".stripMargin),

    // --- beyond-reference: Luhn checksum validation (PII hardening) ------
    // The validation step behind credit-card PII detection: a regex hit
    // (q_pii_scrub's territory) is only a REAL card number if the mod-10
    // Luhn checksum closes. The corpus has no digit runs, so the query
    // synthesizes one 16-digit PAN per document from doc_id arithmetic —
    // even doc_ids get the correct check digit, odd ones a corrupted one
    // — then validates from scratch with a pure integer fold over the
    // digit positions (doubling every second digit from the right).
    // Everything is exact integer arithmetic: per-row compute, no
    // shuffle at all beyond the scan.
    QueryDef("q_luhn", (s, dir) => {
      val base = (pmod(col("doc_id") * 48271L + 11L, lit(899999999999999L))
        + 100000000000000L).cast("string")
      def luhnSum(pan: Column, len: Int): Column =
        aggregate(sequence(lit(1), lit(len)), lit(0),
          (acc, i) => {
            val dig = pan.substr(i, lit(1)).cast("int")
            // position from the right in the final 16-digit PAN is
            // 17 - i; even positions double (9-subtract wrap)
            val term = when(pmod(lit(17) - i, lit(2)) === 0,
              when(dig * 2 > 9, dig * 2 - 9).otherwise(dig * 2)).otherwise(dig)
            acc + term
          })
      val check = pmod(lit(10) - pmod(luhnSum(col("base15"), 15), lit(10)), lit(10))
      t(s, dir, "documents")
        .select(col("doc_id"), base.as("base15"))
        .withColumn("pan",
          concat(col("base15"),
            when(pmod(col("doc_id"), lit(2)) === 0, check)
              .otherwise(pmod(check + 5, lit(10))).cast("string")))
        .select(col("doc_id"), col("pan").substr(13, 4).as("last4"),
          TextAnalysis.luhnValid(col("pan")).as("luhn_valid"))
    },
      // Pure integer fold over digit positions; synthesis and validation
      // re-derive the same Luhn sum, so the oracle is fully independent of
      // the Spark fold only in the validation direction (as intended).
      oracleSql =
      """WITH base AS (
        |  SELECT doc_id,
        |    CAST((doc_id * 48271 + 11) % 899999999999999 + 100000000000000 AS VARCHAR) AS base15
        |  FROM documents),
        |withcheck AS (
        |  SELECT doc_id, base15,
        |    (10 - list_reduce(list_transform(range(1, 16),
        |      i -> CASE WHEN (17 - i) % 2 = 0 THEN
        |             CASE WHEN CAST(substr(base15, CAST(i AS INT), 1) AS INT) * 2 > 9
        |               THEN CAST(substr(base15, CAST(i AS INT), 1) AS INT) * 2 - 9
        |               ELSE CAST(substr(base15, CAST(i AS INT), 1) AS INT) * 2 END
        |           ELSE CAST(substr(base15, CAST(i AS INT), 1) AS INT) END),
        |      (x, y) -> x + y) % 10) % 10 AS chk
        |  FROM base),
        |pans AS (
        |  SELECT doc_id,
        |    base15 || CAST(CASE WHEN doc_id % 2 = 0 THEN chk ELSE (chk + 5) % 10 END AS VARCHAR) AS pan
        |  FROM withcheck)
        |SELECT doc_id, substr(pan, 13, 4) AS last4,
        |  list_reduce(list_transform(range(1, 17),
        |    i -> CASE WHEN (17 - i) % 2 = 0 THEN
        |           CASE WHEN CAST(substr(pan, CAST(i AS INT), 1) AS INT) * 2 > 9
        |             THEN CAST(substr(pan, CAST(i AS INT), 1) AS INT) * 2 - 9
        |             ELSE CAST(substr(pan, CAST(i AS INT), 1) AS INT) * 2 END
        |         ELSE CAST(substr(pan, CAST(i AS INT), 1) AS INT) END),
        |    (x, y) -> x + y) % 10 = 0 AS luhn_valid
        |FROM pans""".stripMargin),

    // --- beyond-reference: contrastive negative sampling -----------------
    // Deterministic hard-negative assignment for contrastive training:
    // each anchor document (a ~1% hash slice) gets 4 negatives drawn
    // from OTHER sources, with zero doc×doc work. The trick is
    // position-addressed sampling: candidates are ranked once inside
    // (source, md5-bucket) cells, and each (anchor, slot) hashes to a
    // (source≠own, bucket, index) address — so the "draw" is an
    // EQUI-join on (source, bucket, rank), not a scan of the bucket.
    // One partitioned window over the corpus, broadcast dims, and a
    // key-unique probe join: at 100 TB the corpus shuffles once by
    // (source, bucket) and never again. A hash landing in an empty cell
    // yields a null negative (left joins) — identically in both engines.
    QueryDef("q_negative_pairs", (s, dir) => {
      val nb = 4
      def h32(c: Column, at: Int) =
        conv(substring(c, at, 8), 16, 10).cast("long")
      val docs = t(s, dir, "documents").select(col("doc_id"), col("source"))
        .localCheckpoint(eager = false) // anchors + candidates + source dim
      val srcs = docs.select(col("source")).distinct()
        .localCheckpoint(eager = false) // rank dim + count, both tiny
      val srcRank = srcs.as("a")
        .join(srcs.as("b"), col("b.source") < col("a.source"), "left")
        .groupBy(col("a.source").as("source"))
        .agg(count(col("b.source")).as("src_rank"))
      val nSrc = srcs.agg(count(lit(1)).as("n_src"))
      val cands = docs
        .withColumn("bucket", pmod(h32(md5(col("doc_id").cast("string")), 1), lit(nb)))
        .withColumn("rk", row_number().over(
          Window.partitionBy("source", "bucket")
            .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))))
        .localCheckpoint(eager = false) // cell sizes + the probe join
      val sizes = cands.groupBy("source", "bucket").agg(count(lit(1)).as("sz"))
      docs.filter(pmod(col("doc_id"), lit(101)) === 0)
        .select(col("doc_id").as("anchor_id"), col("source").as("anchor_source"))
        .select(col("*"), explode(array((1 to 4).map(lit(_)): _*)).as("j"))
        .withColumn("h", md5(concat_ws(":", col("anchor_id"), col("j"))))
        .join(broadcast(srcRank.select(col("source").as("anchor_source"),
          col("src_rank").as("a_rank"))), "anchor_source")
        .crossJoin(broadcast(nSrc))
        // ≥2 distinct sources is a hard precondition of cross-source
        // negatives; the filter makes a single-source corpus return
        // empty IDENTICALLY in both engines instead of pmod-by-zero
        // (NULL in Spark, divergent/erroring modulo in DuckDB).
        .filter(col("n_src") > 1)
        .withColumn("pick0", pmod(h32(col("h"), 1), col("n_src") - 1))
        .withColumn("pick_rank",
          when(col("pick0") >= col("a_rank"), col("pick0") + 1).otherwise(col("pick0")))
        .join(broadcast(srcRank.select(col("source").as("neg_source"),
          col("src_rank").as("pick_rank"))), Seq("pick_rank"))
        .withColumn("bucket", pmod(h32(col("h"), 9), lit(nb)))
        .join(broadcast(sizes.select(col("source").as("neg_source"), col("bucket"),
          col("sz"))), Seq("neg_source", "bucket"), "left")
        .withColumn("idx", pmod(h32(col("h"), 17), col("sz")) + 1)
        .join(cands.select(col("source").as("neg_source"), col("bucket"),
          col("rk").cast("long").as("idx"), col("doc_id").as("neg_id")),
          Seq("neg_source", "bucket", "idx"), "left")
        .select(col("anchor_id"), col("j"), col("neg_source"), col("neg_id"))
    },
      // Position-addressed sampling: the draw is an equi-join on
      // (source, bucket, rank); hashes land identically in both engines
      // (32-bit hex slices of md5), empty cells null out via left joins.
      oracleSql =
      """WITH docs AS (SELECT doc_id, source FROM documents),
        |srcs AS (SELECT DISTINCT source FROM docs),
        |srcrank AS (
        |  SELECT a.source, count(b.source) AS src_rank
        |  FROM srcs a LEFT JOIN srcs b ON b.source < a.source GROUP BY 1),
        |ns AS (SELECT count(*) AS n_src FROM srcs),
        |cands AS (
        |  SELECT doc_id, source,
        |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 4 AS bucket,
        |    row_number() OVER (PARTITION BY source,
        |        CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 4
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM docs),
        |sizes AS (SELECT source, bucket, count(*) AS sz FROM cands GROUP BY 1, 2),
        |slots AS (
        |  SELECT d.doc_id AS anchor_id, d.source AS anchor_source, CAST(g.gs AS INT) AS j,
        |    md5(CAST(d.doc_id AS VARCHAR) || ':' || CAST(g.gs AS VARCHAR)) AS h
        |  FROM docs d CROSS JOIN (SELECT unnest(range(1, 5)) AS gs) g
        |  WHERE d.doc_id % 101 = 0),
        |prep AS (
        |  SELECT s.*, ar.src_rank AS a_rank, ns.n_src,
        |    CAST('0x' || substr(s.h, 1, 8) AS BIGINT) % (ns.n_src - 1) AS pick0
        |  FROM slots s JOIN srcrank ar ON ar.source = s.anchor_source, ns
        |  WHERE ns.n_src > 1),
        |picked AS (
        |  SELECT p.*,
        |    CASE WHEN pick0 >= a_rank THEN pick0 + 1 ELSE pick0 END AS pick_rank,
        |    CAST('0x' || substr(h, 9, 8) AS BIGINT) % 4 AS bucket
        |  FROM prep p),
        |withsrc AS (
        |  SELECT pk.*, sr.source AS neg_source
        |  FROM picked pk JOIN srcrank sr ON sr.src_rank = pk.pick_rank),
        |withsz AS (
        |  SELECT w.*, CAST('0x' || substr(w.h, 17, 8) AS BIGINT) % z.sz + 1 AS idx
        |  FROM withsrc w LEFT JOIN sizes z
        |    ON z.source = w.neg_source AND z.bucket = w.bucket)
        |SELECT w.anchor_id, w.j, w.neg_source, c.doc_id AS neg_id
        |FROM withsz w LEFT JOIN cands c
        |  ON c.source = w.neg_source AND c.bucket = w.bucket AND c.rk = w.idx""".stripMargin),

    // --- beyond-reference: quantile normalization (rank-bin) -------------
    // The cross-group distribution equalizer (microarray-style quantile
    // normalization, feature-scaling flavor): each event's value maps to
    // its within-type rank percentile, percentiles pool into 20 fixed
    // bins, and the normalized value is the POOLED mean of the bin —
    // so every event_type ends up on the same reference distribution.
    // Percentiles come from exact integer ranks (never interpolated
    // percentile_cont, which is not cross-engine stable); bin means are
    // exact decimal sums. One partitioned window + two aggregations.
    QueryDef("q_quantile_norm", (s, dir) => {
      val e = t(s, dir, "events").select(col("event_type"), col("event_id"), col("value"))
      val ranked = e.withColumn("rk", row_number().over(
        Window.partitionBy("event_type").orderBy(col("value").asc, col("event_id").asc)))
      val nt = e.groupBy("event_type").agg(count(lit(1)).as("nt"))
      val binned = ranked.join(broadcast(nt), "event_type")
        .withColumn("bin",
          when(col("nt") === 1, lit(0)).otherwise(
            least(floor((col("rk") - 1).cast("double") / (col("nt") - 1).cast("double")
              * lit(20.0)).cast("int"), lit(19))))
        .localCheckpoint(eager = false) // pooled reference + per-type readout
      val ref = binned.groupBy("bin")
        .agg((sum(col("value").cast("decimal(24,6)")).cast("double") /
          count(lit(1)).cast("double")).as("norm_value"))
      binned.groupBy("event_type", "bin")
        .agg(count(lit(1)).as("n"), sum(col("value").cast("decimal(24,6)")).as("vsum"))
        .join(broadcast(ref), "bin")
        .select(col("event_type"), col("bin"), col("n"),
          round(col("vsum").cast("double") / col("n").cast("double"), 6).as("raw_mean"),
          round(col("norm_value"), 6).as("norm_value"))
    },
      // Exact integer ranks → fixed bins → exact decimal pooled means; no
      // percentile interpolation anywhere.
      oracleSql =
      """WITH e AS (SELECT event_type, event_id, value FROM events),
        |ranked AS (
        |  SELECT event_type, value,
        |    row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rk
        |  FROM e),
        |nt AS (SELECT event_type, count(*) AS nt FROM e GROUP BY 1),
        |binned AS (
        |  SELECT r.event_type, r.value,
        |    CASE WHEN nt.nt = 1 THEN 0 ELSE
        |      least(CAST(trunc(CAST(r.rk - 1 AS DOUBLE) / CAST(nt.nt - 1 AS DOUBLE) * 20.0) AS INT), 19)
        |    END AS bin
        |  FROM ranked r JOIN nt USING (event_type)),
        |ref AS (
        |  SELECT bin,
        |    CAST(sum(CAST(value AS DECIMAL(24,6))) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS norm_value
        |  FROM binned GROUP BY 1),
        |agg AS (
        |  SELECT event_type, bin, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(value AS DECIMAL(24,6))) AS DOUBLE) AS vsum
        |  FROM binned GROUP BY 1, 2)
        |SELECT a.event_type, a.bin, a.n,
        |  round(a.vsum / CAST(a.n AS DOUBLE), 6) + 0 AS raw_mean,
        |  round(r.norm_value, 6) + 0 AS norm_value
        |FROM agg a JOIN ref r USING (bin)""".stripMargin),

    // --- beyond-reference: Gonzalez k-center diversity coreset -----------
    // Farthest-point selection over the embedding corpus (see
    // [[KCenter.select]]): 8 maximally-spread exemplars plus the
    // covering-radius curve. The per-round argmax is a 1-row TakeOrdered
    // collect (the KMeans/BPE bounded driver tier); all distance work is
    // the codegen'd cosine kernel over the partitioned corpus.
    QueryDef("q_kcenter", (s, dir) =>
      KCenter.select(t(s, dir, "embeddings"), "vec_id", "embedding", k = 8)
        .select(col("ord"), col("center_id"), round(col("radius"), 6).as("radius")),
      // Generated: 7 unrolled farthest-point rounds; each round is one
      // argmax over the running min-distance column, ties on vec_id.
      // '+ 0' on the rounded radius: dmin = 1 - cosine can go
      // epsilon-negative on (near-)identical vectors, and DuckDB round()
      // preserves the resulting -0.0 while Spark never emits it.
      oracleSql =
      s"""WITH $kcenterCtes
         |SELECT CAST(0 AS INT) AS ord, cid AS center_id, 0.0 AS radius FROM c0
         |${(1 to 7).map(r =>
             s"UNION ALL SELECT CAST($r AS INT), cid, round(rad, 6) + 0 FROM p$r").mkString("\n")}""".stripMargin),

    // --- beyond-reference: MMR diversified re-ranking --------------------
    // Maximal Marginal Relevance over the retrieval pool (see
    // [[Mmr.select]]): query = smallest-id vector, pool = TakeOrdered
    // top-16 by relevance (one corpus scan — never a window), then six
    // greedy picks maximizing 0.7·rel − 0.3·max-sim-to-selected. The
    // redundancy cut a retrieval stage runs before filling a context
    // window. λ and μ are independent literals (1−λ would be
    // 0.30000000000000004 in IEEE and diverge from the SQL oracle).
    QueryDef("q_mmr", (s, dir) =>
      Mmr.select(t(s, dir, "embeddings"), "vec_id", "embedding",
        k = 6, lambda = 0.7, mu = 0.3, poolSize = 16)
        .select(col("ord"), col("id").as("vec_id"),
          round(col("rel"), 6).as("rel"), round(col("ms"), 6).as("ms"),
          round(col("score"), 6).as("score")),
      // Generated: the same TakeOrdered pool and six unrolled greedy
      // rounds (mmrCtes); every rounded column is sign-capable → + 0.
      oracleSql =
      s"""WITH $mmrCtes
         |${(1 to 6).map(r =>
             s"SELECT CAST($r AS INT) AS ord, vec_id, round(rel, 6) + 0 AS rel, " +
               s"round(ms, 6) + 0 AS ms, round(score, 6) + 0 AS score FROM p$r")
           .mkString("\nUNION ALL\n")}""".stripMargin),

    // --- beyond-reference: knee/elbow detection on the radius curve ------
    // "How many centers are enough?" — the kneedle-style readout over
    // q_kcenter's covering-radius decay: the knee is the point farthest
    // BELOW the chord from the first to the last radius (convex decay).
    // Pure arithmetic over the 7-point curve; max/argmax compare
    // identical doubles, ties break on the earliest round.
    QueryDef("q_knee", (s, dir) => {
      val d = (c: Column) => c.cast("double")
      val curve = KCenter.select(t(s, dir, "embeddings"), "vec_id", "embedding", k = 8)
        .filter(col("ord") >= 1) // seed's 0 radius is not part of the decay
        .select(col("ord"), col("radius"))
        .localCheckpoint(eager = false) // ends + line + argmax consumers
      val lo = curve.orderBy(col("ord").asc).limit(1)
        .select(col("ord").as("o1"), col("radius").as("rl"))
      val hi = curve.orderBy(col("ord").desc).limit(1)
        .select(col("ord").as("o2"), col("radius").as("rh"))
      val lined = curve.crossJoin(broadcast(lo)).crossJoin(broadcast(hi))
        .withColumn("line", col("rl") + (col("rh") - col("rl")) *
          ((d(col("ord")) - d(col("o1"))) / (d(col("o2")) - d(col("o1")))))
        .withColumn("chord_drop", col("line") - col("radius"))
        .localCheckpoint(eager = false) // max + argmax + readout
      val mx = lined.agg(max(col("chord_drop")).as("mxd"))
      val best = lined.crossJoin(broadcast(mx))
        .filter(col("chord_drop") === col("mxd"))
        .agg(min(col("ord")).as("knee_ord"))
      lined.crossJoin(broadcast(best))
        .select(col("ord"), round(col("radius"), 6).as("radius"),
          round(col("line"), 6).as("line"),
          round(col("chord_drop"), 6).as("chord_drop"),
          (col("ord") === col("knee_ord")).as("is_knee"))
    },
      // The same selection rounds; knee = the curve point farthest below
      // the first-to-last chord, double-exact comparisons both engines.
      oracleSql =
      s"""WITH $kcenterCtes,
         |curve AS (
         |${(1 to 7).map(r => s"  SELECT CAST($r AS INT) AS ord, rad AS radius FROM p$r").mkString("\nUNION ALL\n")}),
         |ends AS (
         |  SELECT l.radius AS rl, h.radius AS rh, l.ord AS o1, h.ord AS o2
         |  FROM (SELECT ord, radius FROM curve ORDER BY ord LIMIT 1) l,
         |       (SELECT ord, radius FROM curve ORDER BY ord DESC LIMIT 1) h),
         |lined AS (
         |  SELECT c.ord, c.radius,
         |    e.rl + (e.rh - e.rl) *
         |      ((CAST(c.ord AS DOUBLE) - CAST(e.o1 AS DOUBLE)) /
         |       (CAST(e.o2 AS DOUBLE) - CAST(e.o1 AS DOUBLE))) AS line
         |  FROM curve c, ends e),
         |dropped AS (SELECT ord, radius, line, line - radius AS drop_ FROM lined),
         |mx AS (SELECT max(drop_) AS mxd FROM dropped),
         |best AS (
         |  SELECT min(ord) AS knee_ord FROM dropped, mx WHERE drop_ = mxd)
         |SELECT d.ord, round(d.radius, 6) + 0 AS radius, round(d.line, 6) + 0 AS line,
         |  round(d.drop_, 6) + 0 AS chord_drop, d.ord = b.knee_ord AS is_knee
         |FROM dropped d, best b""".stripMargin),

    // --- beyond-reference: top principal component (power iteration) -----
    // PCA over the first 16 embedding dimensions: the covariance matrix
    // condenses to ONE row of 152 exact-decimal moment aggregates (the
    // KMeans wide-agg shape — never a posexplode, which would shuffle
    // 16× the data); that bounded 137-double row is read to the driver
    // (pcaTopComponent's .head() — building this query is an EAGER
    // action) and the three power-iteration rounds replay there with
    // identical left-associated IEEE chains, landing back as literals;
    // at 100 TB the whole query is one map-side-combining pass. Every
    // sum quantizes through DECIMAL(28,12) (the PQ-oracle convention)
    // and every dot product is a left-associated 16-term chain, so
    // Spark and DuckDB walk identical IEEE trees; λ is the final
    // iterate's norm.
    QueryDef("q_pca_power", (s, dir) =>
      pcaTopComponent(t(s, dir, "embeddings"))
        .select(posexplode(array((1 to 16).map(i => col(s"v3_$i")): _*))
          .as(Seq("pos", "loading")), col("nrm3"))
        .select((col("pos") + 1).as("dim"), round(col("loading"), 6).as("loading"),
          round(col("nrm3"), 6).as("lambda")),
      // Generated: the same one-row moment condensation and three unrolled
      // power-iteration rounds, left-associated term for term.
      oracleSql =
      s"""WITH $pcaPowerCtes
         |${(1 to 16).map(i =>
             s"SELECT CAST($i AS INT) AS dim, round(v3_$i, 6) + 0 AS loading, round(nrm3, 6) AS lambda FROM v3")
           .mkString("\nUNION ALL\n")}""".stripMargin),

    // --- beyond-reference: PCA projection / whitening readout ------------
    // The serving half of q_pca_power: every embedding's coordinate along
    // the fitted top component (the "whitening" score a curation
    // pipeline thresholds on) plus its residual norm in the 16-dim
    // slice. The 1-row component broadcasts into a codegen'd projection
    // — one scan, no shuffle; both the dot product and the residual are
    // left-associated 16-term chains shared with the oracle.
    QueryDef("q_pca_project", (s, dir) => {
      val dim = 16
      val comp = pcaTopComponent(t(s, dir, "embeddings"))
        .select((1 to dim).map(i => col(s"v3_$i")): _*)
      def x(i: Int) = element_at(col("embedding"), i).cast("double")
      t(s, dir, "embeddings")
        .crossJoin(broadcast(comp))
        .withColumn("proj",
          (1 to dim).map(i => x(i) * col(s"v3_$i")).reduceLeft(_ + _))
        .withColumn("resid",
          sqrt((1 to dim).map(i => (x(i) - col("proj") * col(s"v3_$i"))
            * (x(i) - col("proj") * col(s"v3_$i"))).reduceLeft(_ + _)))
        .select(col("vec_id"), round(col("proj"), 6).as("proj"),
          round(col("resid"), 6).as("resid"))
    },
      // Same component CTEs; projection and residual are the Spark side's
      // left-associated chains term for term.
      oracleSql = {
      val proj = (1 to 16).map(i => s"e2.v[$i] * v3.v3_$i").mkString(" + ")
      val resid = (1 to 16)
        .map(i => s"(e2.v[$i] - proj * v3.v3_$i) * (e2.v[$i] - proj * v3.v3_$i)")
        .mkString(" + ")
      s"""WITH $pcaPowerCtes,
         |e2 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |pr AS (SELECT e2.vec_id, $proj AS proj FROM e2, v3)
         |SELECT pr.vec_id, round(pr.proj, 6) + 0 AS proj,
         |  round(sqrt($resid), 6) AS resid
         |FROM pr JOIN e2 ON e2.vec_id = pr.vec_id, v3""".stripMargin
    }),

    // --- beyond-reference: Johnson-Lindenstrauss random projection -------
    // 64 → 8 dims through a ±1 Achlioptas sign matrix (MD5-derived
    // model-as-code constants — see RandomProjection.signs). ONE
    // codegen'd scan-side projection: no fit, no shuffle, no UDF; at
    // 100 TB it rides the scan that produced the vectors and feeds the
    // ANN/KMeans family at 8× smaller compare cost. Each output dim is
    // a left-associated ±v_i chain the oracle replays from the same
    // generated constants.
    QueryDef("q_rand_project", (s, dir) => {
      val p = RandomProjection.project(
        t(s, dir, "embeddings"), "vec_id", "embedding", dIn = 64, dOut = 8)
      p.select(col("vec_id") +:
        (1 to 8).map(j => round(col(s"p$j"), 6).as(s"p$j")): _*)
    },
      // Generated: the same ±1 sign constants (RandomProjection.signs)
      // replayed as left-associated ±v[i] chains. Rounded dims carry the
      // + 0 negative-zero guard (sign-capable).
      oracleSql =
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
         |SELECT vec_id,
         |  ${(1 to 8).map(j => s"round(${jlChainSql("v", j)}, 6) + 0 AS p$j")
             .mkString(",\n  ")}
         |FROM e""".stripMargin),

    // --- beyond-reference: JL distortion audit ---------------------------
    // "Did the projection keep the geometry?" — the acceptance check a
    // pipeline runs BEFORE switching its ANN/cluster stages onto the
    // projected vectors: pairwise Euclidean distance before vs after,
    // on a FIXED 32-probe panel (496 pairs — bounded regardless of
    // corpus size; the pair join broadcasts). Both distances are
    // left-associated squared-diff chains over the same unrounded
    // projection columns the oracle rebuilds.
    QueryDef("q_jl_distortion", (s, dir) => {
      val (dIn, dOut) = (64, 8)
      // Materialize the 32-row panel: without the barrier Catalyst
      // collapses the 8×64-term projection chains into the pair-join
      // stage and the generated method overflows janino's limits,
      // dropping the whole stage out of codegen.
      val probes = t(s, dir, "embeddings").filter(col("vec_id") < 32)
        .select(col("vec_id") +: col("embedding") +:
          RandomProjection.projectCols(col("embedding"), dIn, dOut): _*)
        .localCheckpoint(eager = false)
      val a = probes.toDF(probes.columns.map("a_" + _): _*)
      val b = probes.toDF(probes.columns.map("b_" + _): _*)
      def xa(i: Int) = element_at(col("a_embedding"), i).cast("double")
      def xb(i: Int) = element_at(col("b_embedding"), i).cast("double")
      val d2o = (1 to dIn).map(i => (xa(i) - xb(i)) * (xa(i) - xb(i)))
        .reduceLeft(_ + _)
      val d2p = (1 to dOut).map(j => (col(s"a_p$j") - col(s"b_p$j")) *
        (col(s"a_p$j") - col(s"b_p$j"))).reduceLeft(_ + _)
      a.join(broadcast(b), col("a_vec_id") < col("b_vec_id"))
        .withColumn("d2o", d2o).withColumn("d2p", d2p)
        .filter(col("d2o") > 0) // identical-point pairs have no ratio
        .select(col("a_vec_id"), col("b_vec_id"),
          round(sqrt(col("d2o")), 6).as("d_orig"),
          round(sqrt(col("d2p")), 6).as("d_proj"),
          round(sqrt(col("d2p") / col("d2o")), 6).as("ratio"))
    },
      // Same projection CTE unrounded; both squared-distance chains are
      // the Spark side's left-associated term order. Distances are
      // non-negative, so no -0.0 guard is needed on the rounded columns.
      oracleSql = {
      val d2o = (1 to 64)
        .map(i => s"(a.v[$i] - b.v[$i]) * (a.v[$i] - b.v[$i])").mkString(" + ")
      val d2p = (1 to 8)
        .map(j => s"(a.p$j - b.p$j) * (a.p$j - b.p$j)").mkString(" + ")
      s"""WITH e AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
         |  WHERE vec_id < 32),
         |p AS (
         |  SELECT vec_id, v,
         |    ${(1 to 8).map(j => s"${jlChainSql("v", j)} AS p$j").mkString(",\n    ")}
         |  FROM e),
         |pr AS (
         |  SELECT a.vec_id AS a_vec_id, b.vec_id AS b_vec_id,
         |    $d2o AS d2o,
         |    $d2p AS d2p
         |  FROM p a JOIN p b ON a.vec_id < b.vec_id)
         |SELECT a_vec_id, b_vec_id, round(sqrt(d2o), 6) AS d_orig,
         |  round(sqrt(d2p), 6) AS d_proj, round(sqrt(d2p / d2o), 6) AS ratio
         |FROM pr WHERE d2o > 0""".stripMargin
    }),

    // --- beyond-reference: mutual-information feature ranking ------------
    // Filter-style feature selection: MI between each candidate feature
    // (source, 4-bin doc length) and the "is English" target, from
    // exact joint counts. The map-explode unpivots features so ALL of
    // them share one aggregation pass; each p·ln(p/..) term quantizes
    // to DECIMAL(28,12) before the order-free sum (the q_skew_index ln
    // pattern), so partial-aggregation order can never leak into the
    // result. Cell tables are tiny regardless of corpus size.
    QueryDef("q_mutual_info", (s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("source"), col("n_chars"), (col("lang") === "en").cast("int").as("y"))
      val mm = d.agg(min(col("n_chars")).as("lo"), max(col("n_chars")).as("hi"))
      val joint = d.join(broadcast(mm))
        .withColumn("len4",
          when(col("hi") === col("lo"), lit(0)).otherwise(
            least(floor((col("n_chars") - col("lo")).cast("double") /
              ((col("hi") - col("lo")).cast("double") / lit(4.0))).cast("int"), lit(3))))
        .select(col("y"), explode(map(
          lit("source"), col("source"),
          lit("len4"), col("len4").cast("string"))).as(Seq("feature", "fv")))
        .groupBy("feature", "fv", "y").agg(count(lit(1)).as("nxy"))
        .localCheckpoint(eager = false) // 3 marginal consumers, ≤96 rows
      val fx = joint.groupBy("feature", "fv").agg(sum("nxy").as("nx"))
      val fy = joint.groupBy("feature", "y").agg(sum("nxy").as("ny_"))
      val nn = joint.groupBy("feature").agg(sum("nxy").as("nt"))
      joint.join(fx, Seq("feature", "fv")).join(fy, Seq("feature", "y"))
        .join(broadcast(nn), "feature")
        .withColumn("term",
          ((col("nxy").cast("double") / col("nt").cast("double")) *
            log((col("nt").cast("double") * col("nxy").cast("double")) /
              (col("nx").cast("double") * col("ny_").cast("double"))))
            .cast("decimal(28,12)"))
        .groupBy("feature")
        .agg(sum(col("term")).as("mi_q"), count(lit(1)).as("n_cells"))
        .select(col("feature"), round(col("mi_q").cast("double"), 6).as("mi"),
          col("n_cells"))
    },
      // Exact joint counts; each p·ln term decimal-quantized before the
      // order-free sum (the q_skew_index ln convention).
      oracleSql =
      """WITH d AS (
        |  SELECT source, n_chars, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        |  FROM documents),
        |mm AS (SELECT min(n_chars) AS lo, max(n_chars) AS hi FROM d),
        |fb AS (
        |  SELECT y, source, CASE WHEN hi = lo THEN 0 ELSE
        |    least(CAST(trunc(CAST(n_chars - lo AS DOUBLE) / (CAST(hi - lo AS DOUBLE) / 4.0)) AS INT), 3)
        |  END AS len4
        |  FROM d, mm),
        |feat AS (
        |  SELECT y, 'source' AS feature, source AS fv FROM fb
        |  UNION ALL
        |  SELECT y, 'len4', CAST(len4 AS VARCHAR) FROM fb),
        |joint AS (
        |  SELECT feature, fv, y, CAST(count(*) AS BIGINT) AS nxy
        |  FROM feat GROUP BY 1, 2, 3),
        |fx AS (SELECT feature, fv, CAST(sum(nxy) AS BIGINT) AS nx FROM joint GROUP BY 1, 2),
        |fy AS (SELECT feature, y, CAST(sum(nxy) AS BIGINT) AS ny_ FROM joint GROUP BY 1, 2),
        |nn AS (SELECT feature, CAST(sum(nxy) AS BIGINT) AS nt FROM joint GROUP BY 1),
        |terms AS (
        |  SELECT j.feature,
        |    CAST((CAST(j.nxy AS DOUBLE) / CAST(n.nt AS DOUBLE)) *
        |      ln((CAST(n.nt AS DOUBLE) * CAST(j.nxy AS DOUBLE)) /
        |        (CAST(f.nx AS DOUBLE) * CAST(g.ny_ AS DOUBLE))) AS DECIMAL(28,12)) AS term
        |  FROM joint j
        |    JOIN fx f ON f.feature = j.feature AND f.fv = j.fv
        |    JOIN fy g ON g.feature = j.feature AND g.y = j.y
        |    JOIN nn n ON n.feature = j.feature)
        |SELECT feature, round(CAST(sum(term) AS DOUBLE), 6) + 0 AS mi,
        |  CAST(count(*) AS BIGINT) AS n_cells
        |FROM terms GROUP BY 1""".stripMargin),

    // --- beyond-reference: raking / iterative proportional fitting -------
    // Survey-style weight calibration: the (order priority × market
    // segment) cell table rakes to uniform margins over 3 unrolled IPF
    // rounds (row-scale then column-scale). Margin sums quantize to
    // DECIMAL(28,12) before summing, so every scale factor is one IEEE
    // division of deterministic doubles; the whole fit runs on the
    // ≤25-row cell table — only the initial count touches the data.
    QueryDef("q_raking", (s, dir) => {
      val c = t(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment"))
      var cells = t(s, dir, "orders")
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("o_orderpriority").as("pr"), col("c_mktsegment").as("seg"))
        .agg(count(lit(1)).as("n_cell"))
        .localCheckpoint(eager = false) // root of 6 re-aggregations below
      val dims = cells.agg(sum("n_cell").as("n"),
        countDistinct("pr").as("npr"), countDistinct("seg").as("nseg"))
      cells = cells.crossJoin(broadcast(dims))
        .withColumn("w", col("n_cell").cast("double"))
        .withColumn("t_r", col("n").cast("double") / col("npr").cast("double"))
        .withColumn("t_c", col("n").cast("double") / col("nseg").cast("double"))
      // margin sums as PARTITIONED window aggregates (frameless over the
      // whole pr/seg partition): the six rounds fuse into one stage with
      // two tiny exchanges instead of six broadcast-join jobs — same
      // decimal-quantized sums, same IEEE trees, identical values.
      def qwin(c: Column, key: String) =
        sum(c.cast("decimal(28,12)")).over(Window.partitionBy(key)).cast("double")
      for (_ <- 1 to 3) {
        cells = cells.withColumn("w", col("w") * (col("t_r") / qwin(col("w"), "pr")))
        cells = cells.withColumn("w", col("w") * (col("t_c") / qwin(col("w"), "seg")))
      }
      cells.select(col("pr"), col("seg"), col("n_cell"),
        round(col("w"), 6).as("weight"),
        round(col("w") / col("n_cell").cast("double"), 6).as("raking_factor"))
    },
      // Generated: three unrolled IPF rounds (row scale, column scale);
      // margin sums decimal-quantized, scale factors identical IEEE trees.
      oracleSql = {
      val rounds = (1 to 3).map { t =>
        val prev = if (t == 1) "c0" else s"b${t - 1}"
        s"""a$t AS (
           |  SELECT c.pr, c.seg, c.n_cell, c.w * (c.t_r / m.rs) AS w, c.t_r, c.t_c
           |  FROM $prev c JOIN (
           |    SELECT pr, CAST(sum(CAST(w AS DECIMAL(28,12))) AS DOUBLE) AS rs
           |    FROM $prev GROUP BY 1) m ON m.pr = c.pr),
           |b$t AS (
           |  SELECT c.pr, c.seg, c.n_cell, c.w * (c.t_c / m.cs) AS w, c.t_r, c.t_c
           |  FROM a$t c JOIN (
           |    SELECT seg, CAST(sum(CAST(w AS DECIMAL(28,12))) AS DOUBLE) AS cs
           |    FROM a$t GROUP BY 1) m ON m.seg = c.seg)""".stripMargin
      }.mkString(",\n")
      s"""WITH cells0 AS (
         |  SELECT o_orderpriority AS pr, c_mktsegment AS seg,
         |    CAST(count(*) AS BIGINT) AS n_cell
         |  FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1, 2),
         |dims AS (
         |  SELECT CAST(sum(n_cell) AS BIGINT) AS n,
         |    CAST(count(DISTINCT pr) AS BIGINT) AS npr,
         |    CAST(count(DISTINCT seg) AS BIGINT) AS nseg
         |  FROM cells0),
         |c0 AS (
         |  SELECT pr, seg, n_cell, CAST(n_cell AS DOUBLE) AS w,
         |    CAST(n AS DOUBLE) / CAST(npr AS DOUBLE) AS t_r,
         |    CAST(n AS DOUBLE) / CAST(nseg AS DOUBLE) AS t_c
         |  FROM cells0, dims),
         |$rounds
         |SELECT pr, seg, n_cell, round(w, 6) AS weight,
         |  round(w / CAST(n_cell AS DOUBLE), 6) AS raking_factor
         |FROM b3""".stripMargin
    }),

    // --- beyond-reference: cumulative gains / lift curve -----------------
    // The targeting readout beside q_auc/q_calibration: "if we act on
    // the top-scoring slice, what share of positives do we capture?"
    // Score bins are the q_calibration fixed-width kind; the cumulative
    // top-down sums come from a 20×20 bin self-join (never a global
    // window — PlanShapeSpec bans those), so nothing here grows with
    // the corpus except the one scoring scan.
    QueryDef("q_gain_curve", (s, dir) => {
      val scored = t(s, dir, "embeddings")
        .select(round(MlpScore.score(col("embedding"), 64, 8), 6).as("sc"),
          when(pmod(col("label"), lit(2)) === 0, 1L).otherwise(0L).as("y"))
      val mm = scored.agg(min(col("sc")).as("lo"), max(col("sc")).as("hi"))
      val bins = scored.join(broadcast(mm))
        .withColumn("bin",
          when(col("hi") === col("lo"), lit(0)).otherwise(
            least(floor((col("sc") - col("lo")) / ((col("hi") - col("lo")) / lit(20.0))).cast("int"),
              lit(19))))
        .groupBy("bin").agg(count(lit(1)).as("n"), sum(col("y")).as("ny"))
        .localCheckpoint(eager = false) // totals + cumulative self-join
      val tot = bins.agg(sum("n").as("n_tot"), sum("ny").as("pos_tot"))
      bins.select(col("bin"))
        .join(broadcast(bins.select(col("bin").as("b2"), col("n"), col("ny"))),
          col("b2") >= col("bin"))
        .groupBy("bin").agg(sum("n").as("cum_n"), sum("ny").as("cum_pos"))
        .crossJoin(broadcast(tot))
        .select(col("bin"), col("cum_n"),
          round(col("cum_n").cast("double") / col("n_tot").cast("double"), 6).as("frac_targeted"),
          round(col("cum_pos").cast("double") / col("pos_tot").cast("double"), 6).as("gain"),
          round((col("cum_pos").cast("double") / col("pos_tot").cast("double")) /
            (col("cum_n").cast("double") / col("n_tot").cast("double")), 6).as("lift"))
    },
      // Cumulative top-down sums from the bin self-join; everything else
      // is the q_calibration binning verbatim.
      oracleSql =
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |scored AS (
         |  SELECT round($mlpScoreSqlExpr, 6) AS s,
         |    CASE WHEN label % 2 = 0 THEN 1 ELSE 0 END AS y
         |  FROM e),
         |mm AS (SELECT min(s) AS lo, max(s) AS hi FROM scored),
         |binned AS (
         |  SELECT CASE WHEN hi = lo THEN 0
         |    ELSE least(CAST(trunc((s - lo) / ((hi - lo) / 20.0)) AS INT), 19) END AS bin, y
         |  FROM scored, mm),
         |bins AS (
         |  SELECT bin, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS ny
         |  FROM binned GROUP BY 1),
         |tot AS (
         |  SELECT CAST(sum(n) AS BIGINT) AS n_tot, CAST(sum(ny) AS BIGINT) AS pos_tot
         |  FROM bins),
         |cum AS (
         |  SELECT a.bin, CAST(sum(b.n) AS BIGINT) AS cum_n, CAST(sum(b.ny) AS BIGINT) AS cum_pos
         |  FROM bins a JOIN bins b ON b.bin >= a.bin GROUP BY 1)
         |SELECT bin, cum_n,
         |  round(CAST(cum_n AS DOUBLE) / CAST(n_tot AS DOUBLE), 6) AS frac_targeted,
         |  round(CAST(cum_pos AS DOUBLE) / CAST(pos_tot AS DOUBLE), 6) AS gain,
         |  round((CAST(cum_pos AS DOUBLE) / CAST(pos_tot AS DOUBLE)) /
         |    (CAST(cum_n AS DOUBLE) / CAST(n_tot AS DOUBLE)), 6) AS lift
         |FROM cum, tot""".stripMargin),

    // --- beyond-reference: Heaps-law vocabulary growth -------------------
    // Corpus-health diagnostic: vocabulary size V(N) vs token count N at
    // 10 doc-id checkpoints, plus the fitted Heaps exponent b from OLS
    // on (ln N, ln V). A stagnating b is the classic duplicated-corpus
    // smell the dedup family exists to fix. First occurrences come from
    // one token aggregation (min doc per token); checkpoints are fixed
    // thresholds (no global ranks); each ln quantizes to decimal before
    // the 10-point fit, whose slope is one shared IEEE tree.
    QueryDef("q_heaps_law", (s, dir) => {
      val docs = t(s, dir, "documents")
      val toks = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "")
        .localCheckpoint(eager = false) // first occurrences + instance counts
      val ks = broadcast(docs.agg(min("doc_id").as("lo"), max("doc_id").as("hi"))
        .select(col("*"), explode(array((1 to 10).map(lit(_)): _*)).as("k"))
        .withColumn("thr", col("lo") +
          floor((col("hi") - col("lo")).cast("double") * col("k") / lit(10.0)).cast("long"))
        .select("k", "thr"))
      val vocab = toks.groupBy("tok").agg(min("doc_id").as("first_doc"))
        .join(ks, col("first_doc") <= col("thr"))
        .groupBy("k").agg(count(lit(1)).as("vocab"))
      val insts = toks.join(ks, col("doc_id") <= col("thr"))
        .groupBy("k").agg(count(lit(1)).as("n_tokens"))
      val pts = vocab.join(insts, "k")
        .withColumn("lnn", log(col("n_tokens").cast("double")).cast("decimal(28,12)").cast("double"))
        .withColumn("lnv", log(col("vocab").cast("double")).cast("decimal(28,12)").cast("double"))
        .localCheckpoint(eager = false) // fit + readout
      val d = (c: Column) => c.cast("double")
      val fit = pts.agg(count(lit(1)).as("np"),
          sum(col("lnn").cast("decimal(28,12)")).as("sx"),
          sum(col("lnv").cast("decimal(28,12)")).as("sy"),
          sum((col("lnn") * col("lnn")).cast("decimal(28,12)")).as("sxx"),
          sum((col("lnn") * col("lnv")).cast("decimal(28,12)")).as("sxy"))
        .withColumn("b",
          (d(col("np")) * d(col("sxy")) - d(col("sx")) * d(col("sy"))) /
            (d(col("np")) * d(col("sxx")) - d(col("sx")) * d(col("sx"))))
        .withColumn("a", (d(col("sy")) - col("b") * d(col("sx"))) / d(col("np")))
        .select(col("b"), col("a"))
      pts.crossJoin(broadcast(fit))
        .select(col("k"), col("n_tokens"), col("vocab"),
          round(col("b"), 6).as("heaps_b"), round(col("a"), 6).as("heaps_a"))
    },
      // Fixed doc-id thresholds (no global ranks); quantized-ln OLS fit.
      oracleSql =
      """WITH toks AS (
        |  SELECT doc_id, tok
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
        |  WHERE tok <> ''),
        |ks AS (
        |  SELECT CAST(g.gs AS INT) AS k,
        |    lo + CAST(floor(CAST(hi - lo AS DOUBLE) * g.gs / 10.0) AS BIGINT) AS thr
        |  FROM (SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM documents)
        |  CROSS JOIN (SELECT unnest(range(1, 11)) AS gs) g),
        |firsts AS (SELECT tok, min(doc_id) AS first_doc FROM toks GROUP BY 1),
        |vocab AS (
        |  SELECT k, CAST(count(*) AS BIGINT) AS vocab
        |  FROM firsts JOIN ks ON first_doc <= thr GROUP BY 1),
        |insts AS (
        |  SELECT k, CAST(count(*) AS BIGINT) AS n_tokens
        |  FROM toks JOIN ks ON doc_id <= thr GROUP BY 1),
        |pts AS (
        |  SELECT k, n_tokens, vocab,
        |    CAST(CAST(ln(CAST(n_tokens AS DOUBLE)) AS DECIMAL(28,12)) AS DOUBLE) AS lnn,
        |    CAST(CAST(ln(CAST(vocab AS DOUBLE)) AS DECIMAL(28,12)) AS DOUBLE) AS lnv
        |  FROM vocab JOIN insts USING (k)),
        |mo AS (
        |  SELECT CAST(count(*) AS BIGINT) AS np,
        |    CAST(sum(CAST(lnn AS DECIMAL(28,12))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(lnv AS DECIMAL(28,12))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(lnn * lnn AS DECIMAL(28,12))) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(lnn * lnv AS DECIMAL(28,12))) AS DOUBLE) AS sxy
        |  FROM pts),
        |fit AS (
        |  SELECT (CAST(np AS DOUBLE) * sxy - sx * sy) /
        |         (CAST(np AS DOUBLE) * sxx - sx * sx) AS b, np, sx, sy
        |  FROM mo),
        |fit2 AS (SELECT b, (sy - b * sx) / CAST(np AS DOUBLE) AS a FROM fit)
        |SELECT k, n_tokens, vocab, round(b, 6) + 0 AS heaps_b, round(a, 6) + 0 AS heaps_a
        |FROM pts, fit2""".stripMargin),

    // --- beyond-reference: permutation test (hash-sign replicates) -------
    // The nonparametric sibling of q_ab_ztest/q_welch_t: 16 label
    // permutations, each flipping every user's variant by an md5 bit
    // keyed on (user, replicate) — deterministic, partition-independent,
    // growth-stable, like q_bootstrap's Poisson weights. Per-user totals
    // are exact decimals; each replicate's mean gap is two divisions of
    // exact sums, so the exceeds-observed flags are cross-engine exact.
    QueryDef("q_perm_test", (s, dir) => {
      val d = (c: Column) => c.cast("double")
      val u = t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(sum(col("value").cast("decimal(12,3)")).as("v"))
        .withColumn("variant", pmod(col("user_id"), lit(2)).cast("int"))
        .localCheckpoint(eager = false) // observed gap + 16 replicates
      val obs = u.agg(
          sum(when(col("variant") === 1, col("v"))).as("s1"),
          count(when(col("variant") === 1, lit(1))).as("n1"),
          sum(when(col("variant") === 0, col("v"))).as("s0"),
          count(when(col("variant") === 0, lit(1))).as("n0"))
        .select((d(col("s1")) / d(col("n1")) - d(col("s0")) / d(col("n0"))).as("d_obs"))
      u.select(col("*"), explode(array((1 to 16).map(lit(_)): _*)).as("rep"))
        .withColumn("bit",
          pmod(conv(substring(md5(concat_ws(":", col("user_id"), col("rep"))), 1, 8), 16, 10)
            .cast("long"), lit(2)).cast("int"))
        .withColumn("g", pmod(col("variant") + col("bit"), lit(2)))
        .groupBy("rep")
        .agg(
          sum(when(col("g") === 1, col("v"))).as("s1"),
          count(when(col("g") === 1, lit(1))).as("n1"),
          sum(when(col("g") === 0, col("v"))).as("s0"),
          count(when(col("g") === 0, lit(1))).as("n0"))
        .withColumn("d_rep", d(col("s1")) / d(col("n1")) - d(col("s0")) / d(col("n0")))
        .crossJoin(broadcast(obs))
        .select(col("rep"), round(col("d_rep"), 6).as("d_rep"),
          round(col("d_obs"), 6).as("d_obs"),
          (abs(col("d_rep")) >= abs(col("d_obs"))).as("exceeds"))
    },
      // md5-bit label flips per (user, replicate); exact decimal totals.
      oracleSql =
      """WITH u AS (
        |  SELECT user_id, sum(CAST(value AS DECIMAL(12,3))) AS v,
        |    CAST(user_id % 2 AS INT) AS variant
        |  FROM events GROUP BY user_id),
        |obs AS (
        |  SELECT CAST(sum(CASE WHEN variant = 1 THEN v END) AS DOUBLE) /
        |    CAST(count(CASE WHEN variant = 1 THEN 1 END) AS DOUBLE) -
        |    CAST(sum(CASE WHEN variant = 0 THEN v END) AS DOUBLE) /
        |    CAST(count(CASE WHEN variant = 0 THEN 1 END) AS DOUBLE) AS d_obs
        |  FROM u),
        |reps AS (
        |  SELECT u.user_id, u.v, u.variant, CAST(g.gs AS INT) AS rep,
        |    CAST((u.variant + CAST('0x' || substr(md5(CAST(u.user_id AS VARCHAR) || ':'
        |      || CAST(g.gs AS VARCHAR)), 1, 8) AS BIGINT) % 2) % 2 AS INT) AS g
        |  FROM u CROSS JOIN (SELECT unnest(range(1, 17)) AS gs) g),
        |per AS (
        |  SELECT rep,
        |    CAST(sum(CASE WHEN g = 1 THEN v END) AS DOUBLE) /
        |    CAST(count(CASE WHEN g = 1 THEN 1 END) AS DOUBLE) -
        |    CAST(sum(CASE WHEN g = 0 THEN v END) AS DOUBLE) /
        |    CAST(count(CASE WHEN g = 0 THEN 1 END) AS DOUBLE) AS d_rep
        |  FROM reps GROUP BY 1)
        |SELECT rep, round(d_rep, 6) + 0 AS d_rep, round(d_obs, 6) + 0 AS d_obs,
        |  abs(d_rep) >= abs(d_obs) AS exceeds
        |FROM per, obs""".stripMargin),

    // --- beyond-reference: Zipf rank-frequency fit ------------------------
    // Heaps' companion diagnostic (same quantized-ln OLS machinery): the
    // per-source slope of ln(term frequency) on ln(rank) over each
    // source's top-50 terms. Natural text sits near −1; a much flatter
    // slope flags templated/duplicated content before the dedup family
    // even runs. One term aggregation + one source-partitioned top-k
    // window; the 50-point fits are map-side-combining aggregates.
    QueryDef("q_zipf_fit", (s, dir) => {
      val k = 50
      val d = (c: Column) => c.cast("double")
      val tf = t(s, dir, "documents")
        .select(col("source"), explode(TextAnalysis.tokens(col("text"))).as("term"))
        .groupBy("source", "term").agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("source").orderBy(col("n").desc, col("term").asc)
      tf.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
        .withColumn("lnr", log(col("rk").cast("double")).cast("decimal(28,12)").cast("double"))
        .withColumn("lnn", log(col("n").cast("double")).cast("decimal(28,12)").cast("double"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_terms"),
          sum(col("lnr").cast("decimal(28,12)")).as("sx"),
          sum(col("lnn").cast("decimal(28,12)")).as("sy"),
          sum((col("lnr") * col("lnr")).cast("decimal(28,12)")).as("sxx"),
          sum((col("lnr") * col("lnn")).cast("decimal(28,12)")).as("sxy"))
        .withColumn("slope",
          (d(col("n_terms")) * d(col("sxy")) - d(col("sx")) * d(col("sy"))) /
            (d(col("n_terms")) * d(col("sxx")) - d(col("sx")) * d(col("sx"))))
        .select(col("source"), col("n_terms"),
          round(col("slope"), 6).as("zipf_slope"),
          round((d(col("sy")) - col("slope") * d(col("sx"))) / d(col("n_terms")), 6)
            .as("zipf_a"))
    },
      // Same tokenizer convention as the retrieval oracles; quantized-ln
      // OLS per source over the top-50 window.
      oracleSql =
      """WITH tf AS (
        |  SELECT source, tok AS term, CAST(count(*) AS BIGINT) AS n
        |  FROM (SELECT source,
        |          unnest(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) AS tok
        |        FROM documents)
        |  GROUP BY 1, 2),
        |pts AS (
        |  SELECT source,
        |    CAST(CAST(ln(CAST(rk AS DOUBLE)) AS DECIMAL(28,12)) AS DOUBLE) AS lnr,
        |    CAST(CAST(ln(CAST(n AS DOUBLE)) AS DECIMAL(28,12)) AS DOUBLE) AS lnn
        |  FROM (
        |    SELECT source, n,
        |      row_number() OVER (PARTITION BY source ORDER BY n DESC, term) AS rk
        |    FROM tf)
        |  WHERE rk <= 50),
        |mo AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_terms,
        |    CAST(sum(CAST(lnr AS DECIMAL(28,12))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(lnn AS DECIMAL(28,12))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(lnr * lnr AS DECIMAL(28,12))) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(lnr * lnn AS DECIMAL(28,12))) AS DOUBLE) AS sxy
        |  FROM pts GROUP BY 1),
        |fit AS (
        |  SELECT source, n_terms,
        |    (CAST(n_terms AS DOUBLE) * sxy - sx * sy) /
        |    (CAST(n_terms AS DOUBLE) * sxx - sx * sx) AS slope, sx, sy
        |  FROM mo)
        |SELECT source, n_terms, round(slope, 6) + 0 AS zipf_slope,
        |  round((sy - slope * sx) / CAST(n_terms AS DOUBLE), 6) + 0 AS zipf_a
        |FROM fit""".stripMargin),

    // --- beyond-reference: Hopkins cluster-tendency statistic ------------
    // "Is this embedding space clustered at all, or uniform noise?" —
    // the go/no-go diagnostic BEFORE KMeans/SemDeDup spend anything.
    // A ~3% hash slice of real points and equally many synthetic
    // points (per-dim uniform via the q_bootstrap md5-uniform, inside
    // the per-dim min/max box) each find their nearest real neighbor
    // over the first 16 dims; H = Σu/(Σu+Σw) reads ~0.5 for uniform
    // data, →1 for clustered. Probes broadcast over ONE corpus scan
    // (never corpus×corpus); min-distances decimal-quantize before the
    // final order-free sums.
    QueryDef("q_hopkins", (s, dir) => {
      val dim = 16
      def x(i: Int) = element_at(col("embedding"), i).cast("double")
      val emb = t(s, dir, "embeddings")
      val mmCols = (1 to dim).map(i => min(x(i)).as(s"lo$i")) ++
        (1 to dim).map(i => max(x(i)).as(s"hi$i"))
      val mm = emb.agg(mmCols.head, mmCols.tail: _*)
      def u(i: Int) =
        (conv(substring(md5(concat_ws(":", col("pid"), lit(i))), 1, 8), 16, 10)
          .cast("long").cast("double") + lit(0.5)) / lit(4294967296.0)
      // Probe set bounded at a FIXED 64 rows by md5 rank (not a corpus
      // fraction): the broadcast side and the probe-by-corpus distance
      // work stay volume-independent — one corpus scan of O(64·n)
      // distances at any data size. TakeOrderedAndProject keeps the
      // top-K selection itself one pass, no global sort.
      val withSynth = emb
        .select(col("vec_id").as("pid") +: (1 to dim).map(i => x(i).as(s"p$i")): _*)
        .orderBy(
          conv(substring(md5(col("pid").cast("string")), 1, 8), 16, 10)
            .cast("long").asc,
          col("pid").asc)
        .limit(64)
        .crossJoin(broadcast(mm))
        .select(col("pid") +:
          ((1 to dim).map(i => col(s"p$i")) ++
            (1 to dim).map(i =>
              (col(s"lo$i") + (col(s"hi$i") - col(s"lo$i")) * u(i)).as(s"s$i"))): _*)
      def chainDist(a: Int => Column, b: Int => Column) =
        sqrt((1 to dim).map(i => (a(i) - b(i)) * (a(i) - b(i))).reduceLeft(_ + _))
      emb.select(col("vec_id") +: (1 to dim).map(i => x(i).as(s"x$i")): _*)
        .crossJoin(broadcast(withSynth))
        .select(col("pid"), col("vec_id"),
          chainDist(i => col(s"x$i"), i => col(s"p$i")).as("dw"),
          chainDist(i => col(s"x$i"), i => col(s"s$i")).as("du"))
        .groupBy("pid")
        .agg(
          min(when(col("vec_id") =!= col("pid"), col("dw"))).as("w"),
          min(col("du")).as("u"))
        .agg(count(lit(1)).as("n_probes"),
          sum(col("u").cast("decimal(28,12)")).as("su"),
          sum(col("w").cast("decimal(28,12)")).as("sw"))
        .select(col("n_probes"),
          round(col("su").cast("double"), 6).as("sum_u"),
          round(col("sw").cast("double"), 6).as("sum_w"),
          round(col("su").cast("double") /
            (col("su").cast("double") + col("sw").cast("double")), 6).as("hopkins"))
    },
      // Generated: 16-dim min/max box, md5-uniform synthetic probes, and
      // left-associated distance chains, term for term with the Spark side.
      oracleSql = {
      val dim = 16
      def uexpr(i: Int) =
        s"(CAST('0x' || substr(md5(CAST(pid AS VARCHAR) || ':' || '$i'), 1, 8) AS BIGINT) + 0.5) / 4294967296.0"
      def chain(a: String, b: String) =
        "sqrt(" + (1 to dim).map(i => s"($a$i - $b$i) * ($a$i - $b$i)").mkString(" + ") + ")"
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |mm AS (SELECT ${(1 to dim).map(i => s"min(v[$i]) AS lo$i").mkString(", ")},
         |  ${(1 to dim).map(i => s"max(v[$i]) AS hi$i").mkString(", ")} FROM e),
         |probes AS (
         |  SELECT vec_id AS pid, ${(1 to dim).map(i => s"v[$i] AS p$i").mkString(", ")}
         |  FROM e
         |  ORDER BY CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8) AS BIGINT), vec_id
         |  LIMIT 64),
         |ps AS (
         |  SELECT pid, ${(1 to dim).map(i => s"p$i").mkString(", ")},
         |    ${(1 to dim).map(i => s"lo$i + (hi$i - lo$i) * ${uexpr(i)} AS s$i").mkString(",\n    ")}
         |  FROM probes, mm),
         |corpus AS (
         |  SELECT vec_id, ${(1 to dim).map(i => s"v[$i] AS x$i").mkString(", ")} FROM e),
         |dists AS (
         |  SELECT ps.pid, c.vec_id,
         |    ${chain("c.x", "ps.p")} AS dw,
         |    ${chain("c.x", "ps.s")} AS du
         |  FROM corpus c, ps),
         |mins AS (
         |  SELECT pid,
         |    min(CASE WHEN vec_id <> pid THEN dw END) AS w,
         |    min(du) AS u
         |  FROM dists GROUP BY 1),
         |agg AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_probes,
         |    CAST(sum(CAST(u AS DECIMAL(28,12))) AS DOUBLE) AS su,
         |    CAST(sum(CAST(w AS DECIMAL(28,12))) AS DOUBLE) AS sw
         |  FROM mins)
         |SELECT n_probes, round(su, 6) AS sum_u, round(sw, 6) AS sum_w,
         |  round(su / (su + sw), 6) AS hopkins
         |FROM agg""".stripMargin
    }),

    // --- beyond-reference: directed containment join ---------------------
    // The quote/subset detector (see [[SetSimJoin.containmentJoin]]):
    // |A∩B|/|A| ≥ 0.5 over 3-token shingles — asymmetric prefix filter
    // (probe-side prefix, full postings on the candidate side, length
    // prune ε-guarded). The oracle is the BRUTE-FORCE directed
    // all-pairs join, so the gate re-proves prefix losslessness on
    // every run, like q_setsim_join's.
    QueryDef("q_containment", (s, dir) =>
      SetSimJoin.containmentJoin(
        t(s, dir, "documents"),
        id = col("doc_id"),
        tokenSet = TextAnalysis.wordShingles(col("text"), 3),
        t = 0.5),
      // BRUTE FORCE directed all-pairs — the losslessness gate for the
      // asymmetric prefix filter.
      oracleSql =
      s"""WITH $shingleSetCtes
        |ov AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS inter,
        |    CAST(len(a.sh) AS BIGINT) AS size_a
        |  FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
        |  WHERE len(a.sh) > 0 AND len(b.sh) > 0)
        |SELECT doc_a, doc_b, inter, size_a,
        |  CAST(inter AS DOUBLE) / CAST(size_a AS DOUBLE) AS containment
        |FROM ov
        |WHERE CAST(inter AS DOUBLE) >= 0.5 * CAST(size_a AS DOUBLE)""".stripMargin),

    // --- beyond-reference: paired t-test (pre/post per user) --------------
    // The within-subject sibling of q_welch_t: each user's post-minus-pre
    // gap (the q_cuped split: integer midpoint day, floored integer
    // totals) is one sample; t = mean(d) / (sd(d)/√n) from three exact
    // BIGINT moments. Pairing removes the between-user variance that
    // q_welch_t has to carry.
    QueryDef("q_paired_t", (s, dir) => {
      val d = (c: Column) => c.cast("double")
      userPrePost(s, dir)
        .select((col("y") - col("x")).as("dd"))
        .agg(count(lit(1)).as("n"), sum(col("dd")).as("sd"),
          sum(col("dd") * col("dd")).as("sdd"))
        .select(col("n"),
          round(d(col("sd")) / d(col("n")), 6).as("mean_diff"),
          round((d(col("sd")) / d(col("n"))) /
            (sqrt((d(col("sdd")) - d(col("sd")) * d(col("sd")) / d(col("n"))) /
              (d(col("n")) - lit(1.0))) / sqrt(d(col("n")))), 6).as("t_stat"),
          (col("n") - 1).as("dof"))
    },
      // Three exact BIGINT moments of the per-user post-minus-pre gap.
      oracleSql =
      s"""WITH $userDayCtes
        |u AS (
        |  SELECT user_id,
        |    CAST(floor(CAST(coalesce(sum(CASE WHEN day >= mid THEN v END),
        |      CAST(0 AS DECIMAL(12,3))) AS DOUBLE)) AS BIGINT)
        |    - CAST(floor(CAST(coalesce(sum(CASE WHEN day < mid THEN v END),
        |      CAST(0 AS DECIMAL(12,3))) AS DOUBLE)) AS BIGINT) AS dd
        |  FROM e, md GROUP BY user_id),
        |mo AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dd) AS BIGINT) AS sd,
        |    CAST(sum(dd * dd) AS BIGINT) AS sdd
        |  FROM u)
        |SELECT n,
        |  round(CAST(sd AS DOUBLE) / CAST(n AS DOUBLE), 6) + 0 AS mean_diff,
        |  round((CAST(sd AS DOUBLE) / CAST(n AS DOUBLE)) /
        |    (sqrt((CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE) / CAST(n AS DOUBLE)) /
        |      (CAST(n AS DOUBLE) - 1.0)) / sqrt(CAST(n AS DOUBLE))), 6) + 0 AS t_stat,
        |  n - 1 AS dof
        |FROM mo""".stripMargin),

    // --- beyond-reference: minimum detectable effect (A/B planning) ------
    // The planning readout over q_effect_size's moments: at α=0.05
    // (two-sided) and 80% power, MDE = (z_{α/2} + z_β)·s_p·√(1/n1+1/n0)
    // per event type — "what lift could this traffic even see?". The z
    // constants are shared literals; everything else is the exact
    // pooled-moment arithmetic.
    QueryDef("q_mde", (s, dir) => {
      val d = (c: Column) => c.cast("double")
      parityMoments(userTotalsByParity(s, dir))
        .withColumn("sp",
          sqrt(((d(col("q1")) - d(col("s1")) * d(col("s1")) / d(col("n1"))) +
            (d(col("q0")) - d(col("s0")) * d(col("s0")) / d(col("n0")))) /
            (d(col("n1")) + d(col("n0")) - lit(2.0))))
        .withColumn("mde",
          lit(2.801585) * col("sp") *
            sqrt(lit(1.0) / d(col("n1")) + lit(1.0) / d(col("n0"))))
        .select(col("event_type"), col("n1"), col("n0"),
          round(col("sp"), 6).as("pooled_sd"),
          round(col("mde"), 6).as("mde_abs"),
          round(col("mde") / (d(col("s0")) / d(col("n0"))), 6).as("mde_rel"))
    },
      // Shared z constants (1.959964 + 0.841621 = 2.801585); pooled-moment
      // arithmetic identical to q_effect_size's.
      oracleSql =
      s"""WITH $parityMomentCtes
        |sp AS (
        |  SELECT event_type, n1, n0, s0,
        |    sqrt(((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)) +
        |          (CAST(q0 AS DOUBLE) - CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE))) /
        |         (CAST(n1 AS DOUBLE) + CAST(n0 AS DOUBLE) - 2.0)) AS sp
        |  FROM mo),
        |m2 AS (
        |  SELECT event_type, n1, n0, s0, sp,
        |    2.801585 * sp * sqrt(1.0 / CAST(n1 AS DOUBLE) + 1.0 / CAST(n0 AS DOUBLE)) AS mde
        |  FROM sp)
        |SELECT event_type, n1, n0,
        |  round(sp, 6) AS pooled_sd,
        |  round(mde, 6) AS mde_abs,
        |  round(mde / (CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE)), 6) + 0 AS mde_rel
        |FROM m2""".stripMargin),

    // --- beyond-reference: mixture diversity indices ----------------------
    // The data-mixing diagnostic (domain_mix/temperature_mix's readout
    // side): per language, how concentrated is the source mix? Shannon
    // entropy (p·ln p terms decimal-quantized before the order-free
    // sum — the q_mutual_info rule) and the Simpson index (Σ p², same
    // quantization), from exact joint counts. Tiny cell tables at any
    // corpus size.
    QueryDef("q_diversity", (s, dir) => {
      val d = (c: Column) => c.cast("double")
      val cells = t(s, dir, "documents")
        .groupBy("lang", "source").agg(count(lit(1)).as("nc"))
        .localCheckpoint(eager = false) // totals + index terms
      val tot = cells.groupBy("lang").agg(sum("nc").as("nl"), count(lit(1)).as("n_sources"))
      cells.join(broadcast(tot), "lang")
        .withColumn("p", d(col("nc")) / d(col("nl")))
        .withColumn("sh_term", (col("p") * log(col("p"))).cast("decimal(28,12)"))
        .withColumn("si_term", (col("p") * col("p")).cast("decimal(28,12)"))
        .groupBy(col("lang"), col("nl"), col("n_sources"))
        .agg(sum(col("sh_term")).as("sh"), sum(col("si_term")).as("si"))
        .select(col("lang"), col("nl").as("n_docs"), col("n_sources"),
          round(-col("sh").cast("double"), 6).as("shannon"),
          round(col("si").cast("double"), 6).as("simpson"))
    },
      // p·ln p and p² terms quantized before the order-free sums.
      oracleSql =
      """WITH cells AS (
        |  SELECT lang, source, CAST(count(*) AS BIGINT) AS nc
        |  FROM documents GROUP BY 1, 2),
        |tot AS (
        |  SELECT lang, CAST(sum(nc) AS BIGINT) AS nl, CAST(count(*) AS BIGINT) AS n_sources
        |  FROM cells GROUP BY 1),
        |terms AS (
        |  SELECT c.lang, t.nl, t.n_sources,
        |    CAST((CAST(c.nc AS DOUBLE) / CAST(t.nl AS DOUBLE))
        |      * ln(CAST(c.nc AS DOUBLE) / CAST(t.nl AS DOUBLE)) AS DECIMAL(28,12)) AS sh_term,
        |    CAST((CAST(c.nc AS DOUBLE) / CAST(t.nl AS DOUBLE))
        |      * (CAST(c.nc AS DOUBLE) / CAST(t.nl AS DOUBLE)) AS DECIMAL(28,12)) AS si_term
        |  FROM cells c JOIN tot t USING (lang))
        |SELECT lang, nl AS n_docs, n_sources,
        |  round(-CAST(sum(sh_term) AS DOUBLE), 6) + 0 AS shannon,
        |  round(CAST(sum(si_term) AS DOUBLE), 6) AS simpson
        |FROM terms GROUP BY 1, 2, 3""".stripMargin),

    // --- beyond-reference: vocabulary coverage curve -----------------------
    // Tokenizer/vocab sizing: per source, what share of token INSTANCES
    // do the top-10 and top-100 types cover? One term aggregation + one
    // source-partitioned rank window + conditional exact-integer sums.
    // High coverage at tiny k = templated text (the q_zipf_fit smell,
    // read as a budget number).
    QueryDef("q_coverage_curve", (s, dir) => {
      val d = (c: Column) => c.cast("double")
      val tf = t(s, dir, "documents")
        .select(col("source"), explode(TextAnalysis.tokens(col("text"))).as("term"))
        .groupBy("source", "term").agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("source").orderBy(col("n").desc, col("term").asc)
      tf.withColumn("rk", row_number().over(w))
        .groupBy("source")
        .agg(count(lit(1)).as("n_types"), sum("n").as("n_instances"),
          sum(when(col("rk") <= 10, col("n")).otherwise(0L)).as("c10"),
          sum(when(col("rk") <= 100, col("n")).otherwise(0L)).as("c100"))
        .select(col("source"), col("n_types"), col("n_instances"),
          round(d(col("c10")) / d(col("n_instances")), 6).as("coverage_10"),
          round(d(col("c100")) / d(col("n_instances")), 6).as("coverage_100"))
    },
      // Same tokenizer convention; conditional exact-integer sums under
      // the per-source rank.
      oracleSql =
      """WITH tf AS (
        |  SELECT source, tok AS term, CAST(count(*) AS BIGINT) AS n
        |  FROM (SELECT source,
        |          unnest(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) AS tok
        |        FROM documents)
        |  GROUP BY 1, 2),
        |rk AS (
        |  SELECT source, n,
        |    row_number() OVER (PARTITION BY source ORDER BY n DESC, term) AS rk
        |  FROM tf)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_types,
        |  CAST(sum(n) AS BIGINT) AS n_instances,
        |  round(CAST(sum(CASE WHEN rk <= 10 THEN n ELSE 0 END) AS DOUBLE)
        |    / CAST(sum(n) AS DOUBLE), 6) AS coverage_10,
        |  round(CAST(sum(CASE WHEN rk <= 100 THEN n ELSE 0 END) AS DOUBLE)
        |    / CAST(sum(n) AS DOUBLE), 6) AS coverage_100
        |FROM rk GROUP BY 1""".stripMargin),

    // --- beyond-reference: local peak detection ----------------------------
    // Spike surfacing in each event type's daily series: a peak is a
    // strict local maximum over its ±2 observation window, with a
    // prominence-lite score (value minus the window's best neighbor).
    // Exact decimal comparisons inside type-partitioned frame windows;
    // emits only the peak rows.
    QueryDef("q_peaks", (s, dir) => {
      val daily = dailyEventTotals(s, dir)
      val wOrd = Window.partitionBy("event_type").orderBy(col("day"))
      val wb = wOrd.rowsBetween(-2, -1)
      val wa = wOrd.rowsBetween(1, 2)
      daily
        .withColumn("mb", max(col("v")).over(wb))
        .withColumn("ma", max(col("v")).over(wa))
        .filter(col("mb").isNotNull && col("ma").isNotNull &&
          col("v") > col("mb") && col("v") > col("ma"))
        .select(col("event_type"), col("day"), col("v").cast("double").as("v"),
          round((col("v") - greatest(col("mb"), col("ma"))).cast("double"), 6)
            .as("prominence"))
    },
      // Identical frame windows; decimal comparisons.
      oracleSql =
      s"""WITH $dailyEventCte
        |n AS (
        |  SELECT event_type, day, v,
        |    max(v) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN 2 PRECEDING AND 1 PRECEDING) AS mb,
        |    max(v) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN 1 FOLLOWING AND 2 FOLLOWING) AS ma
        |  FROM daily)
        |SELECT event_type, day, CAST(v AS DOUBLE) AS v,
        |  round(CAST(v - greatest(mb, ma) AS DOUBLE), 6) AS prominence
        |FROM n
        |WHERE mb IS NOT NULL AND ma IS NOT NULL AND v > mb AND v > ma""".stripMargin),

    // --- beyond-reference: partial autocorrelation (PACF) -----------------
    // The AR-order diagnostic beside q_acf: PACF at lags 1–3 via the
    // Durbin-Levinson recursion on the same integer-quantized daily
    // revenue series — "is the lag-2/3 correlation real structure or
    // just lag-1 echo?". The recursion is pure scalar arithmetic on the
    // three ACF values (identical doubles both engines).
    QueryDef("q_pacf", (s, dir) => {
      Stats.autocorr(dailyRevenueKilo(s, dir), time = col("day"), value = col("kilo"), maxLag = 3)
        .agg(
          max(when(col("lag_d") === 1, col("acf"))).as("r1"),
          max(when(col("lag_d") === 2, col("acf"))).as("r2"),
          max(when(col("lag_d") === 3, col("acf"))).as("r3"))
        .withColumn("p2",
          (col("r2") - col("r1") * col("r1")) / (lit(1.0) - col("r1") * col("r1")))
        .withColumn("a21", col("r1") * (lit(1.0) - col("p2")))
        .withColumn("p3",
          (col("r3") - col("a21") * col("r2") - col("p2") * col("r1")) /
            (lit(1.0) - col("a21") * col("r1") - col("p2") * col("r2")))
        .select(
          round(col("r1"), 6).as("r1"), round(col("r2"), 6).as("r2"),
          round(col("r3"), 6).as("r3"),
          round(col("r1"), 6).as("pacf1"), round(col("p2"), 6).as("pacf2"),
          round(col("p3"), 6).as("pacf3"))
    },
      // The q_acf moment machinery at lags 1..3, then the scalar
      // Durbin-Levinson tree.
      oracleSql =
      s"""WITH ${acfMomentCtes(maxLag = 3)},
        |acf AS (
        |  SELECT lag_d,
        |    (n * sxy - sx * sy) /
        |      (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) AS acf
        |  FROM m),
        |wide AS (
        |  SELECT
        |    max(CASE WHEN lag_d = 1 THEN acf END) AS r1,
        |    max(CASE WHEN lag_d = 2 THEN acf END) AS r2,
        |    max(CASE WHEN lag_d = 3 THEN acf END) AS r3
        |  FROM acf),
        |dl AS (
        |  SELECT r1, r2, r3,
        |    (r2 - r1 * r1) / (1.0 - r1 * r1) AS p2
        |  FROM wide),
        |dl2 AS (SELECT *, r1 * (1.0 - p2) AS a21 FROM dl)
        |SELECT round(r1, 6) + 0 AS r1, round(r2, 6) + 0 AS r2, round(r3, 6) + 0 AS r3,
        |  round(r1, 6) + 0 AS pacf1, round(p2, 6) + 0 AS pacf2,
        |  round((r3 - a21 * r2 - p2 * r1) /
        |    (1.0 - a21 * r1 - p2 * r2), 6) + 0 AS pacf3
        |FROM dl2""".stripMargin),

    // --- beyond-reference: kernel density estimate -------------------------
    // Gaussian KDE of the per-user total distribution at 20 fixed grid
    // points, Silverman bandwidth. Cross-engine note: exp/pow are the
    // one place libm parity is not bit-guaranteed, so the bandwidth and
    // every kernel term round to 6 dp BEFORE the decimal-quantized sum
    // — a 1-ulp libm gap then only matters within 1e-16 of a rounding
    // boundary (odds ~1e-10 per term). The corpus side is one
    // broadcast-grid scan; 20 cells aggregate map-side.
    QueryDef("q_kde", (s, dir) => {
      val d = (c: Column) => c.cast("double")
      val u = t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(sum(col("value").cast("decimal(12,3)")).as("vd"))
        .select(d(col("vd")).as("x"))
        .localCheckpoint(eager = false) // stats + kernel scan
      val st = u.agg(count(lit(1)).as("n"),
          sum(col("x").cast("decimal(24,6)")).as("sx"),
          sum((col("x") * col("x")).cast("decimal(28,12)")).as("sxx"),
          min(col("x")).as("lo"), max(col("x")).as("hi"))
        .withColumn("sd", sqrt((col("sxx").cast("double")
          - col("sx").cast("double") * col("sx").cast("double") / d(col("n"))) /
          (d(col("n")) - lit(1.0))))
        .withColumn("h", round(lit(1.06) * col("sd") * pow(d(col("n")), lit(-0.2)), 6))
      val grid = broadcast(st.select(col("n"), col("h"), col("lo"), col("hi"))
        .select(col("*"), explode(array((0 to 19).map(lit(_)): _*)).as("i"))
        .withColumn("g", col("lo") + (col("hi") - col("lo")) * d(col("i")) / lit(19.0)))
      u.crossJoin(grid)
        .withColumn("t",
          round(exp(lit(-0.5) * ((col("x") - col("g")) / col("h"))
            * ((col("x") - col("g")) / col("h"))), 6).cast("decimal(28,12)"))
        .groupBy("i", "g", "n", "h")
        .agg(sum(col("t")).as("ts"))
        .select(col("i"), round(col("g"), 6).as("g"),
          round(col("ts").cast("double") /
            (d(col("n")) * col("h") * lit(2.5066282746310002)), 9).as("density"))
    },
      // Bandwidth and kernel terms rounded at 6 dp before the quantized
      // sum (the libm-parity dodge documented on the Spark side).
      oracleSql =
      """WITH u AS (
        |  SELECT CAST(sum(CAST(value AS DECIMAL(12,3))) AS DOUBLE) AS x
        |  FROM events GROUP BY user_id),
        |st AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(x AS DECIMAL(24,6))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(x * x AS DECIMAL(28,12))) AS DOUBLE) AS sxx,
        |    min(x) AS lo, max(x) AS hi
        |  FROM u),
        |hb AS (
        |  SELECT n, lo, hi,
        |    round(1.06 * sqrt((sxx - sx * sx / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0))
        |      * pow(CAST(n AS DOUBLE), -0.2), 6) AS h
        |  FROM st),
        |grid AS (
        |  SELECT n, h, CAST(g.gs AS INT) AS i,
        |    lo + (hi - lo) * CAST(g.gs AS DOUBLE) / 19.0 AS g
        |  FROM hb, (SELECT unnest(range(0, 20)) AS gs) g),
        |terms AS (
        |  SELECT gr.i, gr.g, gr.n, gr.h,
        |    CAST(round(exp(-0.5 * ((u.x - gr.g) / gr.h) * ((u.x - gr.g) / gr.h)), 6)
        |      AS DECIMAL(28,12)) AS t
        |  FROM u, grid gr)
        |SELECT i, round(g, 6) AS g,
        |  round(CAST(sum(t) AS DOUBLE) /
        |    (CAST(n AS DOUBLE) * h * 2.5066282746310002), 9) AS density
        |FROM terms GROUP BY i, g, n, h""".stripMargin),

    // --- beyond-reference: SAX symbolization -------------------------------
    // Symbolic Aggregate approXimation of each event type's daily
    // series: 8-observation PAA segments (exact decimal means),
    // z-normalized against the type's own exact moments, mapped to a
    // 4-symbol alphabet at the standard N(0,1) quartile breakpoints
    // (±0.6745, 0). The compact string that makes series indexable /
    // motif-searchable; thresholds compare identical doubles.
    QueryDef("q_sax", (s, dir) => {
      val d = (c: Column) => c.cast("double")
      val daily = dailyEventTotals(s, dir)
      val w = Window.partitionBy("event_type").orderBy(col("day"))
      val seg = daily
        .withColumn("segi", ((row_number().over(w) - 1) / lit(8)).cast("int"))
        .groupBy("event_type", "segi")
        .agg((sum(col("v").cast("decimal(28,12)")).cast("double") /
          count(lit(1)).cast("double")).as("paa"))
        .localCheckpoint(eager = false) // moments + symbol pass
      val mo = seg.groupBy("event_type")
        .agg(count(lit(1)).as("nseg"),
          sum(col("paa").cast("decimal(28,12)")).as("sp"),
          sum((col("paa") * col("paa")).cast("decimal(28,12)")).as("spp"))
        .withColumn("mu", col("sp").cast("double") / d(col("nseg")))
        .withColumn("sd", sqrt(
          (col("spp").cast("double") - col("sp").cast("double") *
            col("sp").cast("double") / d(col("nseg"))) / (d(col("nseg")) - lit(1.0))))
      seg.join(broadcast(mo.select("event_type", "nseg", "mu", "sd")), "event_type")
        .withColumn("z", (col("paa") - col("mu")) / col("sd"))
        .withColumn("sym",
          when(col("z") < -0.6745, lit("a"))
            .when(col("z") < 0.0, lit("b"))
            .when(col("z") < 0.6745, lit("c"))
            .otherwise(lit("d")))
        .groupBy(col("event_type"), col("nseg").as("n_segments"))
        .agg(array_join(transform(
          sort_array(collect_list(struct(col("segi"), col("sym")))),
          e => e.getField("sym")), "").as("sax"))
    },
      // Same PAA segmentation; symbol thresholds on identical doubles.
      oracleSql =
      s"""WITH $dailyEventCte
        |seg AS (
        |  SELECT event_type,
        |    CAST(trunc((row_number() OVER (PARTITION BY event_type ORDER BY day) - 1) / 8.0) AS INT)
        |      AS segi, v
        |  FROM daily),
        |paa AS (
        |  SELECT event_type, segi,
        |    CAST(sum(CAST(v AS DECIMAL(28,12))) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS paa
        |  FROM seg GROUP BY 1, 2),
        |mo AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS nseg,
        |    CAST(sum(CAST(paa AS DECIMAL(28,12))) AS DOUBLE) AS sp,
        |    CAST(sum(CAST(paa * paa AS DECIMAL(28,12))) AS DOUBLE) AS spp
        |  FROM paa GROUP BY 1),
        |st AS (
        |  SELECT event_type, nseg, sp / CAST(nseg AS DOUBLE) AS mu,
        |    sqrt((spp - sp * sp / CAST(nseg AS DOUBLE)) / (CAST(nseg AS DOUBLE) - 1.0)) AS sd
        |  FROM mo),
        |sym AS (
        |  SELECT p.event_type, s.nseg, p.segi,
        |    CASE WHEN (p.paa - s.mu) / s.sd < -0.6745 THEN 'a'
        |         WHEN (p.paa - s.mu) / s.sd < 0.0 THEN 'b'
        |         WHEN (p.paa - s.mu) / s.sd < 0.6745 THEN 'c'
        |         ELSE 'd' END AS sym
        |  FROM paa p JOIN st s USING (event_type))
        |SELECT event_type, nseg AS n_segments,
        |  string_agg(sym, '' ORDER BY segi) AS sax
        |FROM sym GROUP BY 1, 2""".stripMargin),

    // --- beyond-reference: difference-in-differences ----------------------
    // The 2×2 causal staple on the q_cuped split (pre/post at the
    // integer midpoint day, floored integer per-user totals, variants
    // by parity): DiD = (post−pre | treat) − (post−pre | control), with
    // the SE from the per-user gap variances — all from five exact
    // BIGINT moments per variant.
    QueryDef("q_did", (s, dir) => {
      val d = (c: Column) => c.cast("double")
      val u = userPrePost(s, dir)
        .withColumn("g", pmod(col("user_id"), lit(2)).cast("int"))
        .withColumn("dd", col("y") - col("x"))
      u.groupBy("g")
        .agg(count(lit(1)).as("n"), sum(col("dd")).as("sd"),
          sum(col("dd") * col("dd")).as("sdd"))
        .withColumn("mean_d", d(col("sd")) / d(col("n")))
        .withColumn("var_d",
          (d(col("sdd")) - d(col("sd")) * d(col("sd")) / d(col("n"))) /
            (d(col("n")) - lit(1.0)))
        .groupBy()
        .agg(
          max(when(col("g") === 1, col("n"))).as("n_t"),
          max(when(col("g") === 0, col("n"))).as("n_c"),
          max(when(col("g") === 1, col("mean_d"))).as("mt"),
          max(when(col("g") === 0, col("mean_d"))).as("mc"),
          max(when(col("g") === 1, col("var_d"))).as("vt"),
          max(when(col("g") === 0, col("var_d"))).as("vc"))
        .withColumn("did", col("mt") - col("mc"))
        .withColumn("se", sqrt(col("vt") / d(col("n_t")) + col("vc") / d(col("n_c"))))
        .select(col("n_t"), col("n_c"), round(col("did"), 6).as("did"),
          round(col("se"), 6).as("se"),
          round(col("did") / col("se"), 6).as("t_stat"))
    },
      // The q_cuped per-user split; five exact BIGINT moments per variant.
      oracleSql =
      s"""WITH $userDayCtes
        |u AS (
        |  SELECT user_id,
        |    CAST(floor(CAST(coalesce(sum(CASE WHEN day >= mid THEN v END),
        |      CAST(0 AS DECIMAL(12,3))) AS DOUBLE)) AS BIGINT)
        |    - CAST(floor(CAST(coalesce(sum(CASE WHEN day < mid THEN v END),
        |      CAST(0 AS DECIMAL(12,3))) AS DOUBLE)) AS BIGINT) AS dd,
        |    CAST(user_id % 2 AS INT) AS g
        |  FROM e, md GROUP BY user_id),
        |pg AS (
        |  SELECT g, CAST(count(*) AS BIGINT) AS n, CAST(sum(dd) AS BIGINT) AS sd,
        |    CAST(sum(dd * dd) AS BIGINT) AS sdd
        |  FROM u GROUP BY 1),
        |st AS (
        |  SELECT g, n, CAST(sd AS DOUBLE) / CAST(n AS DOUBLE) AS mean_d,
        |    (CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE) / CAST(n AS DOUBLE)) /
        |      (CAST(n AS DOUBLE) - 1.0) AS var_d
        |  FROM pg),
        |wide AS (
        |  SELECT
        |    max(CASE WHEN g = 1 THEN n END) AS n_t,
        |    max(CASE WHEN g = 0 THEN n END) AS n_c,
        |    max(CASE WHEN g = 1 THEN mean_d END) AS mt,
        |    max(CASE WHEN g = 0 THEN mean_d END) AS mc,
        |    max(CASE WHEN g = 1 THEN var_d END) AS vt,
        |    max(CASE WHEN g = 0 THEN var_d END) AS vc
        |  FROM st),
        |fin AS (
        |  SELECT n_t, n_c, mt - mc AS did,
        |    sqrt(vt / CAST(n_t AS DOUBLE) + vc / CAST(n_c AS DOUBLE)) AS se
        |  FROM wide)
        |SELECT n_t, n_c, round(did, 6) + 0 AS did, round(se, 6) AS se,
        |  round(did / se, 6) + 0 AS t_stat
        |FROM fin""".stripMargin),

    // --- beyond-reference: stratified ATT (CEM-style) ---------------------
    // Coarsened-exact-matching flavor: users stratify into 5 fixed-width
    // PRE-activity bins (the calibration binning — never quantiles),
    // strata keep both groups or prune (standard CEM), and the ATT is
    // the treated-weighted sum of within-stratum post-mean gaps. Exact
    // integer totals; per-stratum rows plus the pooled ATT replicated
    // via a broadcast scalar.
    QueryDef("q_att_strata", (s, dir) => {
      val d = (c: Column) => c.cast("double")
      val u = userPrePost(s, dir)
        .withColumn("g", pmod(col("user_id"), lit(2)).cast("int"))
        .localCheckpoint(eager = false) // bin bounds + stratum aggregates
      val mm = u.agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
      val strata = u.join(broadcast(mm))
        .withColumn("bin",
          when(col("hi") === col("lo"), lit(0)).otherwise(
            least(floor((col("x") - col("lo")).cast("double") /
              ((col("hi") - col("lo")).cast("double") / lit(5.0))).cast("int"), lit(4))))
        .groupBy("bin")
        .agg(
          sum(when(col("g") === 1, 1L).otherwise(0L)).as("n_t"),
          sum(when(col("g") === 0, 1L).otherwise(0L)).as("n_c"),
          sum(when(col("g") === 1, col("y"))).as("sy_t"),
          sum(when(col("g") === 0, col("y"))).as("sy_c"))
        .filter(col("n_t") > 0 && col("n_c") > 0) // CEM prune
        .withColumn("gap", d(col("sy_t")) / d(col("n_t")) - d(col("sy_c")) / d(col("n_c")))
        .localCheckpoint(eager = false) // att scalar + readout
      val att = strata
        .withColumn("wgap", (col("gap") * d(col("n_t"))).cast("decimal(28,12)"))
        .agg((sum(col("wgap")).cast("double") / sum(col("n_t")).cast("double")).as("att"))
      strata.crossJoin(broadcast(att))
        .select(col("bin"), col("n_t"), col("n_c"),
          round(col("gap"), 6).as("stratum_gap"),
          round(col("att"), 6).as("att"))
    },
      // Fixed-width pre-activity bins (the calibration binning), CEM
      // prune, treated-weighted gap sum with decimal-quantized terms.
      oracleSql =
      s"""WITH $userDayCtes
        |u AS (
        |  SELECT user_id,
        |    CAST(floor(CAST(coalesce(sum(CASE WHEN day < mid THEN v END),
        |      CAST(0 AS DECIMAL(12,3))) AS DOUBLE)) AS BIGINT) AS x,
        |    CAST(floor(CAST(coalesce(sum(CASE WHEN day >= mid THEN v END),
        |      CAST(0 AS DECIMAL(12,3))) AS DOUBLE)) AS BIGINT) AS y,
        |    CAST(user_id % 2 AS INT) AS g
        |  FROM e, md GROUP BY user_id),
        |mm AS (SELECT min(x) AS lo, max(x) AS hi FROM u),
        |sb AS (
        |  SELECT CASE WHEN hi = lo THEN 0 ELSE
        |    least(CAST(trunc(CAST(x - lo AS DOUBLE) / (CAST(hi - lo AS DOUBLE) / 5.0)) AS INT), 4)
        |  END AS bin, g, y
        |  FROM u, mm),
        |strata AS (
        |  SELECT bin,
        |    CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
        |    CAST(sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
        |    CAST(sum(CASE WHEN g = 1 THEN y END) AS BIGINT) AS sy_t,
        |    CAST(sum(CASE WHEN g = 0 THEN y END) AS BIGINT) AS sy_c
        |  FROM sb GROUP BY 1),
        |kept AS (
        |  SELECT bin, n_t, n_c,
        |    CAST(sy_t AS DOUBLE) / CAST(n_t AS DOUBLE)
        |      - CAST(sy_c AS DOUBLE) / CAST(n_c AS DOUBLE) AS gap
        |  FROM strata WHERE n_t > 0 AND n_c > 0),
        |att AS (
        |  SELECT CAST(sum(CAST(gap * CAST(n_t AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE)
        |    / CAST(sum(n_t) AS DOUBLE) AS att
        |  FROM kept)
        |SELECT k.bin, k.n_t, k.n_c,
        |  round(k.gap, 6) + 0 AS stratum_gap, round(a.att, 6) + 0 AS att
        |FROM kept k, att a""".stripMargin),

    // --- beyond-reference: lead-lag cross-correlation ---------------------
    // "Does event type A lead event type B?" — Pearson correlation
    // between every ordered type pair's daily series at lags −3..3
    // (b shifted k days). Daily totals quantize to DECIMAL(15,3) so
    // every cross-moment product stays inside exact decimal precision;
    // the correlation is the shared moment tree. Pair×lag volume is
    // TYPES²×7 — fixed, tiny, volume-independent after the rollup.
    QueryDef("q_lag_corr", (s, dir) => {
      val d = (c: Column) => c.cast("double")
      val daily = t(s, dir, "events")
        .groupBy(col("event_type"),
          floor(tsUs(col("ts")) / 86400000000L).cast("long").as("day"))
        .agg(sum(col("value").cast("decimal(12,3)")).cast("decimal(15,3)").as("v"))
        .localCheckpoint(eager = false) // both join sides × 7 lags
      val lags = broadcast(s.range(-3, 4).select(col("id").cast("int").as("lag")))
      val a = daily.select(col("event_type").as("eta"), col("day"), col("v").as("va"))
      val b = daily.select(col("event_type").as("etb"), col("day").as("dayb"), col("v").as("vb"))
      a.crossJoin(lags)
        .join(b, col("eta") < col("etb") && col("dayb") === col("day") + col("lag"))
        .groupBy("eta", "etb", "lag")
        .agg(count(lit(1)).as("n"),
          sum(col("va")).as("sx"), sum(col("vb")).as("sy"),
          sum(col("va") * col("va")).as("sxx"),
          sum(col("vb") * col("vb")).as("syy"),
          sum(col("va") * col("vb")).as("sxy"))
        .filter(col("n") >= 3)
        .select(col("eta"), col("etb"), col("lag"), col("n"),
          round((d(col("n")) * d(col("sxy")) - d(col("sx")) * d(col("sy"))) /
            (sqrt(d(col("n")) * d(col("sxx")) - d(col("sx")) * d(col("sx"))) *
              sqrt(d(col("n")) * d(col("syy")) - d(col("sy")) * d(col("sy")))), 6)
            .as("corr"))
    },
      // Exact decimal cross-moments at each lag; shared correlation tree.
      oracleSql =
      """WITH daily AS (
        |  SELECT event_type,
        |    CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
        |    CAST(sum(CAST(value AS DECIMAL(12,3))) AS DECIMAL(15,3)) AS v
        |  FROM events GROUP BY 1, 2),
        |lags AS (SELECT CAST(g.gs AS INT) AS lag FROM (SELECT unnest(range(-3, 4)) AS gs) g),
        |mo AS (
        |  SELECT a.event_type AS eta, b.event_type AS etb, l.lag,
        |    CAST(count(*) AS BIGINT) AS n,
        |    sum(a.v) AS sx, sum(b.v) AS sy,
        |    sum(a.v * a.v) AS sxx, sum(b.v * b.v) AS syy,
        |    sum(a.v * b.v) AS sxy
        |  FROM daily a CROSS JOIN lags l
        |    JOIN daily b ON a.event_type < b.event_type AND b.day = a.day + l.lag
        |  GROUP BY 1, 2, 3)
        |SELECT eta, etb, lag, n,
        |  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |    (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
        |     sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) + 0
        |    AS corr
        |FROM mo WHERE n >= 3""".stripMargin),

    // --- beyond-reference: bigram conditional entropy ---------------------
    // Corpus predictability per source: H(next | current) =
    // −Σ p(c,n)·ln p(n|c) over token bigrams, from exact counts with
    // every p·ln term decimal-quantized (the q_mutual_info rule). Low
    // conditional entropy = templated/predictable text — the
    // information-theoretic reading of what q_repetition counts.
    QueryDef("q_ngram_entropy", (s, dir) => {
      val d = (c: Column) => c.cast("double")
      val toks = t(s, dir, "documents")
        .select(col("source"), TextAnalysis.tokens(col("text")).as("ts"))
        .filter(size(col("ts")) >= 2)
        .select(col("source"), posexplode(col("ts")).as(Seq("pos", "cur")), col("ts"))
        .filter(col("pos") < size(col("ts")) - 1) // guard BEFORE element_at (ANSI)
        .select(col("source"), col("cur"), element_at(col("ts"), col("pos") + 2).as("nxt"))
      val big = toks.groupBy("source", "cur", "nxt").agg(count(lit(1)).as("nb"))
        .localCheckpoint(eager = false) // marginals + terms
      val marg = big.groupBy("source", "cur").agg(sum("nb").as("nc"))
      val tot = big.groupBy("source").agg(sum("nb").as("nt"))
      big.join(marg, Seq("source", "cur")).join(broadcast(tot), "source")
        .withColumn("term",
          ((d(col("nb")) / d(col("nt"))) * log(d(col("nb")) / d(col("nc"))))
            .cast("decimal(28,12)"))
        .groupBy(col("source"), col("nt"))
        .agg(sum(col("term")).as("hsum"), count(lit(1)).as("n_bigrams"))
        .select(col("source"), col("nt").as("n_pairs"), col("n_bigrams"),
          round(-col("hsum").cast("double"), 6).as("cond_entropy_nats"))
    },
      // Bigram counts with the same tokenizer; p·ln terms quantized.
      oracleSql =
      """WITH toks AS (
        |  SELECT source, toks[i] AS cur, toks[i + 1] AS nxt
        |  FROM (SELECT source,
        |          list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS toks
        |        FROM documents),
        |    unnest(range(1, len(toks))) AS r(i)
        |  WHERE len(toks) >= 2),
        |big AS (
        |  SELECT source, cur, nxt, CAST(count(*) AS BIGINT) AS nb
        |  FROM toks GROUP BY 1, 2, 3),
        |marg AS (SELECT source, cur, CAST(sum(nb) AS BIGINT) AS nc FROM big GROUP BY 1, 2),
        |tot AS (SELECT source, CAST(sum(nb) AS BIGINT) AS nt FROM big GROUP BY 1),
        |terms AS (
        |  SELECT b.source, t.nt,
        |    CAST((CAST(b.nb AS DOUBLE) / CAST(t.nt AS DOUBLE))
        |      * ln(CAST(b.nb AS DOUBLE) / CAST(m.nc AS DOUBLE)) AS DECIMAL(28,12)) AS term
        |  FROM big b JOIN marg m ON m.source = b.source AND m.cur = b.cur
        |    JOIN tot t ON t.source = b.source)
        |SELECT source, nt AS n_pairs, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  round(-CAST(sum(term) AS DOUBLE), 6) + 0 AS cond_entropy_nats
        |FROM terms GROUP BY 1, 2""".stripMargin),

    // --- beyond-reference: traffic burstiness ------------------------------
    // Queueing-flavored load diagnostic per event type: the index of
    // dispersion (variance/mean of daily counts — 1 for Poisson
    // arrivals) and the Goh-Barabási burstiness (σ−μ)/(σ+μ) ∈ (−1, 1),
    // from three exact BIGINT moments of the daily count series.
    QueryDef("q_burstiness", (s, dir) => {
      val d = (c: Column) => c.cast("double")
      t(s, dir, "events")
        .groupBy(col("event_type"),
          floor(tsUs(col("ts")) / 86400000000L).cast("long").as("day"))
        .agg(count(lit(1)).as("c"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_days"), sum(col("c")).as("sc"),
          sum(col("c") * col("c")).as("scc"))
        .withColumn("mean_c", d(col("sc")) / d(col("n_days")))
        .withColumn("var_c",
          (d(col("scc")) - d(col("sc")) * d(col("sc")) / d(col("n_days"))) /
            (d(col("n_days")) - lit(1.0)))
        .withColumn("sd_c", sqrt(col("var_c")))
        .select(col("event_type"), col("n_days"),
          round(col("mean_c"), 6).as("mean_daily"),
          round(col("var_c") / col("mean_c"), 6).as("dispersion"),
          round((col("sd_c") - col("mean_c")) / (col("sd_c") + col("mean_c")), 6)
            .as("burstiness"))
    },
      // Three exact BIGINT moments of the daily count series.
      oracleSql =
      """WITH daily AS (
        |  SELECT event_type,
        |    CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |mo AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
        |    CAST(sum(c) AS BIGINT) AS sc, CAST(sum(c * c) AS BIGINT) AS scc
        |  FROM daily GROUP BY 1),
        |st AS (
        |  SELECT event_type, n_days,
        |    CAST(sc AS DOUBLE) / CAST(n_days AS DOUBLE) AS mean_c,
        |    (CAST(scc AS DOUBLE) - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE) / CAST(n_days AS DOUBLE)) /
        |      (CAST(n_days AS DOUBLE) - 1.0) AS var_c
        |  FROM mo)
        |SELECT event_type, n_days,
        |  round(mean_c, 6) AS mean_daily,
        |  round(var_c / mean_c, 6) AS dispersion,
        |  round((sqrt(var_c) - mean_c) / (sqrt(var_c) + mean_c), 6) + 0 AS burstiness
        |FROM st""".stripMargin),

    // --- beyond-reference: log-log price elasticity -----------------------
    // The econometrics staple on the OLS machinery: elasticity =
    // d ln(quantity) / d ln(unit price) per returnflag. Each ln
    // quantizes to DECIMAL(28,12) (the q_skew_index rule) so the moment
    // sums are order-free exact; the slope is one shared IEEE tree.
    QueryDef("q_elasticity", (s, dir) => {
      val d = (c: Column) => c.cast("double")
      def qln(c: Column) = log(c).cast("decimal(28,12)").cast("double")
      val base = t(s, dir, "lineitem")
        .filter(col("l_quantity") > 0.0 && col("l_extendedprice") > 0.0)
        .select(col("l_returnflag"),
          qln(col("l_quantity")).as("lq"),
          qln(col("l_extendedprice") / col("l_quantity")).as("lp"))
      base.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(col("lp").cast("decimal(28,12)")).as("sx"),
          sum(col("lq").cast("decimal(28,12)")).as("sy"),
          sum((col("lp") * col("lp")).cast("decimal(28,12)")).as("sxx"),
          sum((col("lp") * col("lq")).cast("decimal(28,12)")).as("sxy"))
        .withColumn("elasticity",
          (d(col("n")) * d(col("sxy")) - d(col("sx")) * d(col("sy"))) /
            (d(col("n")) * d(col("sxx")) - d(col("sx")) * d(col("sx"))))
        .select(col("l_returnflag"), col("n"),
          round(col("elasticity"), 6).as("elasticity"),
          round((d(col("sy")) - col("elasticity") * d(col("sx"))) / d(col("n")), 6)
            .as("intercept"))
    },
      // Quantized-ln OLS slope per returnflag; the q_norm_dedup ln rules.
      oracleSql =
      """WITH base AS (
        |  SELECT l_returnflag,
        |    CAST(CAST(ln(l_quantity) AS DECIMAL(28,12)) AS DOUBLE) AS lq,
        |    CAST(CAST(ln(l_extendedprice / l_quantity) AS DECIMAL(28,12)) AS DOUBLE) AS lp
        |  FROM lineitem WHERE l_quantity > 0.0 AND l_extendedprice > 0.0),
        |mo AS (
        |  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(lp AS DECIMAL(28,12))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(lq AS DECIMAL(28,12))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(lp * lp AS DECIMAL(28,12))) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(lp * lq AS DECIMAL(28,12))) AS DOUBLE) AS sxy
        |  FROM base GROUP BY 1),
        |fit AS (
        |  SELECT l_returnflag, n, sx, sy,
        |    (CAST(n AS DOUBLE) * sxy - sx * sy) /
        |    (CAST(n AS DOUBLE) * sxx - sx * sx) AS elasticity
        |  FROM mo)
        |SELECT l_returnflag, n, round(elasticity, 6) + 0 AS elasticity,
        |  round((sy - elasticity * sx) / CAST(n AS DOUBLE), 6) + 0 AS intercept
        |FROM fit""".stripMargin),

    // --- beyond-reference: duplication profile -----------------------------
    // "How duplicated is this corpus, exactly?" — the size distribution
    // of exact-duplicate clusters (normalized-text md5, the
    // q_norm_dedup key): for each cluster size, how many clusters, how
    // many documents, and the corpus share. The first number a dedup
    // run should report; two aggregations, all exact integers.
    QueryDef("q_dup_profile", (s, dir) => {
      val d = (c: Column) => c.cast("double")
      val sizes = t(s, dir, "documents")
        .groupBy(TextAnalysis.fingerprintNormMd5(col("text")).as("fp"))
        .agg(count(lit(1)).as("sz"))
      val tot = sizes.agg(sum(col("sz")).as("n_docs_total"))
      sizes.groupBy("sz")
        .agg(count(lit(1)).as("n_clusters"))
        .crossJoin(broadcast(tot))
        .select(col("sz").as("cluster_size"), col("n_clusters"),
          (col("sz") * col("n_clusters")).as("n_docs"),
          round((col("sz") * col("n_clusters")).cast("double") /
            d(col("n_docs_total")), 6).as("corpus_share"))
    },
      // The q_norm_dedup normalization; all exact integers.
      oracleSql =
      """WITH sizes AS (
        |  SELECT md5(trim(regexp_replace(regexp_replace(
        |      lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g'))) AS fp,
        |    CAST(count(*) AS BIGINT) AS sz
        |  FROM documents GROUP BY 1),
        |tot AS (SELECT CAST(sum(sz) AS BIGINT) AS n_docs_total FROM sizes)
        |SELECT sz AS cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
        |  CAST(sz * count(*) AS BIGINT) AS n_docs,
        |  round(CAST(sz * count(*) AS DOUBLE) / CAST(max(t.n_docs_total) AS DOUBLE), 6)
        |    AS corpus_share
        |FROM sizes, tot t GROUP BY sz""".stripMargin),

    // --- beyond-reference: QQ plot points (A vs B distributions) ----------
    // The full-curve companion to q_ks_test's single max-distance: the
    // two variants' per-user total distributions compared at 19 exact
    // order statistics (rank k = trunc((n+1)·i/20), never interpolated
    // — the q_conformal rule). Matching quantiles on the diagonal ⇒
    // same distribution; a bowed curve localizes WHERE they differ.
    QueryDef("q_qq_points", (s, dir) => {
      val u = t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(sum(col("value").cast("decimal(12,3)")).as("v"))
        .withColumn("variant", pmod(col("user_id"), lit(2)).cast("int"))
      val w = Window.partitionBy("variant").orderBy(col("v").asc, col("user_id").asc)
      val ranked = u.withColumn("rk", row_number().over(w))
        .join(broadcast(u.groupBy("variant").agg(count(lit(1)).as("n"))), "variant")
      val pts = ranked
        .select(col("*"), explode(array((1 to 19).map(lit(_)): _*)).as("i"))
        .filter(col("rk") ===
          floor((col("n") + 1).cast("double") * col("i").cast("double") / lit(20.0)).cast("int"))
      pts.groupBy("i")
        .agg(
          max(when(col("variant") === 0, col("v"))).cast("double").as("q_control"),
          max(when(col("variant") === 1, col("v"))).cast("double").as("q_treat"))
        .select(col("i"), round(col("i").cast("double") / lit(20.0), 6).as("p"),
          round(col("q_control"), 6).as("q_control"),
          round(col("q_treat"), 6).as("q_treat"))
    },
      // Exact order statistics at rank trunc((n+1)·i/20); pivot by the
      // max-of-single-match trick.
      oracleSql =
      """WITH u AS (
        |  SELECT user_id, sum(CAST(value AS DECIMAL(12,3))) AS v,
        |    CAST(user_id % 2 AS INT) AS variant
        |  FROM events GROUP BY user_id),
        |ranked AS (
        |  SELECT u.variant, u.v,
        |    row_number() OVER (PARTITION BY u.variant ORDER BY u.v, u.user_id) AS rk,
        |    n.n
        |  FROM u JOIN (SELECT variant, CAST(count(*) AS BIGINT) AS n
        |               FROM u GROUP BY 1) n USING (variant)),
        |pts AS (
        |  SELECT r.variant, r.v, CAST(g.gs AS INT) AS i
        |  FROM ranked r CROSS JOIN (SELECT unnest(range(1, 20)) AS gs) g
        |  WHERE r.rk = CAST(trunc(CAST(r.n + 1 AS DOUBLE) * g.gs / 20.0) AS INT))
        |SELECT i, round(CAST(i AS DOUBLE) / 20.0, 6) AS p,
        |  round(CAST(max(CASE WHEN variant = 0 THEN v END) AS DOUBLE), 6) + 0 AS q_control,
        |  round(CAST(max(CASE WHEN variant = 1 THEN v END) AS DOUBLE), 6) + 0 AS q_treat
        |FROM pts GROUP BY 1""".stripMargin),

    // --- beyond-reference: Lorenz concentration curve ---------------------
    // Revenue concentration per market segment (the curve behind
    // q_gini's scalar): customers ranked by exact-cent spend, spend
    // deciles, cumulative spend share per decile from a 10×10
    // self-join (no global window). The "top decile owns X% of
    // revenue" readout.
    QueryDef("q_lorenz", (s, dir) => {
      val d = (c: Column) => c.cast("double")
      val spend = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(sum((col("o_totalprice").cast("decimal(12,2)") * 100)
          .cast("decimal(14,0)")).as("cents"))
      val cust = t(s, dir, "customer")
        .join(spend, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_mktsegment").as("seg"), col("c_custkey"),
          coalesce(col("cents"), lit(java.math.BigDecimal.ZERO)
            .cast("decimal(14,0)")).as("cents"))
      val w = Window.partitionBy("seg").orderBy(col("cents").asc, col("c_custkey").asc)
      val deciles = cust
        .withColumn("rk", row_number().over(w))
        .join(broadcast(cust.groupBy("seg").agg(count(lit(1)).as("n"))), "seg")
        .withColumn("dec",
          least(floor((col("rk") - 1).cast("double") * lit(10.0) / col("n").cast("double"))
            .cast("int") + 1, lit(10)))
        .groupBy("seg", "dec")
        .agg(count(lit(1)).as("n_cust"), sum(col("cents")).as("dc"))
        .localCheckpoint(eager = false) // totals + cumulative self-join
      val tot = deciles.groupBy("seg").agg(sum(col("dc")).as("tc"))
      deciles.select(col("seg"), col("dec"), col("n_cust"))
        .join(broadcast(deciles.select(col("seg"), col("dec").as("d2"), col("dc"))),
          Seq("seg"))
        .filter(col("d2") <= col("dec"))
        .groupBy("seg", "dec", "n_cust")
        .agg(sum(col("dc")).as("cum"))
        .join(broadcast(tot), "seg")
        .select(col("seg"), col("dec"), col("n_cust"),
          round(d(col("cum")) / d(col("tc")), 6).as("cum_share"))
    },
      // Exact-cent spend deciles; cumulative shares from the decile
      // self-join.
      oracleSql =
      """WITH spend AS (
        |  SELECT o_custkey,
        |    sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS DECIMAL(14,0))) AS cents
        |  FROM orders GROUP BY 1),
        |cust AS (
        |  SELECT c.c_mktsegment AS seg, c.c_custkey,
        |    coalesce(s.cents, CAST(0 AS DECIMAL(14,0))) AS cents
        |  FROM customer c LEFT JOIN spend s ON s.o_custkey = c.c_custkey),
        |deciles AS (
        |  SELECT seg,
        |    least(CAST(trunc(CAST(rk - 1 AS DOUBLE) * 10.0 / CAST(n AS DOUBLE)) AS INT) + 1, 10)
        |      AS dec, CAST(count(*) AS BIGINT) AS n_cust, sum(cents) AS dc
        |  FROM (
        |    SELECT c.seg, c.cents,
        |      row_number() OVER (PARTITION BY c.seg ORDER BY c.cents, c.c_custkey) AS rk,
        |      n.n
        |    FROM cust c JOIN (SELECT seg, CAST(count(*) AS BIGINT) AS n
        |                      FROM cust GROUP BY 1) n USING (seg))
        |  GROUP BY 1, 2),
        |tot AS (SELECT seg, sum(dc) AS tc FROM deciles GROUP BY 1)
        |SELECT a.seg, a.dec, a.n_cust,
        |  round(CAST(sum(b.dc) AS DOUBLE) / CAST(max(t.tc) AS DOUBLE), 6) AS cum_share
        |FROM deciles a
        |  JOIN deciles b ON b.seg = a.seg AND b.dec <= a.dec
        |  JOIN tot t ON t.seg = a.seg
        |GROUP BY 1, 2, 3""".stripMargin),

    // --- beyond-reference: quality-gate funnel report ---------------------
    // Ingest observability (the q_expectations idea applied to the
    // quality gates): how many documents survive each SEQUENTIAL stage —
    // token floor, mean-token-length band, stopword ceiling, Luhn-PII
    // clearance. One scan computes every gate boolean; stage counts are
    // conditional exact sums over the cumulative AND chain, emitted as
    // one unioned report.
    QueryDef("q_gate_report", (s, dir) => {
      val toks = TextAnalysis.tokens(col("text"))
      val nTok = size(toks)
      val meanLen = length(regexp_replace(col("text"), "\\s+", "")).cast("double") /
        nTok.cast("double")
      val stopRatio = size(filter(transform(toks, x => lower(x)),
        x => x.isin("the", "and", "of", "to", "in", "is", "that", "for", "with", "a")))
        .cast("double") / nTok.cast("double")
      val g = t(s, dir, "documents").select(
        (nTok >= 10).as("g1"),
        (meanLen >= 2.0 && meanLen <= 12.0).as("g2"),
        (stopRatio <= 0.6).as("g3"),
        (!TextAnalysis.containsValidPan(col("text"))).as("g4"))
      val agg = g.agg(
        count(lit(1)).as("n0"),
        sum(col("g1").cast("long")).as("p1"),
        sum((col("g1") && col("g2")).cast("long")).as("p2"),
        sum((col("g1") && col("g2") && col("g3")).cast("long")).as("p3"),
        sum((col("g1") && col("g2") && col("g3") && col("g4")).cast("long")).as("p4"))
      def row(stage: Int, name: String, nin: Column, npass: Column) =
        agg.select(lit(stage).as("stage"), lit(name).as("gate"),
          nin.as("n_in"), npass.as("n_pass"),
          round((nin - npass).cast("double") / nin.cast("double"), 6).as("drop_rate"))
      row(1, "token_floor", col("n0"), col("p1"))
        .unionByName(row(2, "token_len_band", col("p1"), col("p2")))
        .unionByName(row(3, "stopword_ceiling", col("p2"), col("p3")))
        .unionByName(row(4, "pii_clearance", col("p3"), col("p4")))
    },
      // One scan of gate booleans; the cumulative AND chain as exact
      // conditional sums. The Luhn clearance reuses the q_luhn digit fold
      // inside a list filter.
      oracleSql =
      """WITH g AS (
        |  SELECT
        |    len(toks) >= 10 AS g1,
        |    CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
        |      / CAST(len(toks) AS DOUBLE) BETWEEN 2.0 AND 12.0 AS g2,
        |    CAST(len(list_filter(list_transform(toks, x -> lower(x)),
        |      x -> list_contains(['the','and','of','to','in','is','that','for','with','a'], x))) AS DOUBLE)
        |      / CAST(len(toks) AS DOUBLE) <= 0.6 AS g3,
        |    len(list_filter(regexp_extract_all(text, '[0-9]{13,19}'),
        |      p -> length(p) >= 2 AND list_reduce(list_transform(range(1, length(p) + 1),
        |        i -> CASE WHEN (length(p) - i + 1) % 2 = 0 THEN
        |               CASE WHEN CAST(p[CAST(i AS INT)] AS INT) * 2 > 9
        |                 THEN CAST(p[CAST(i AS INT)] AS INT) * 2 - 9
        |                 ELSE CAST(p[CAST(i AS INT)] AS INT) * 2 END
        |             ELSE CAST(p[CAST(i AS INT)] AS INT) END),
        |        (x, y) -> x + y) % 10 = 0)) = 0 AS g4
        |  FROM (SELECT text,
        |          list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS toks
        |        FROM documents)),
        |agg AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n0,
        |    CAST(sum(CASE WHEN g1 THEN 1 ELSE 0 END) AS BIGINT) AS p1,
        |    CAST(sum(CASE WHEN g1 AND g2 THEN 1 ELSE 0 END) AS BIGINT) AS p2,
        |    CAST(sum(CASE WHEN g1 AND g2 AND g3 THEN 1 ELSE 0 END) AS BIGINT) AS p3,
        |    CAST(sum(CASE WHEN g1 AND g2 AND g3 AND g4 THEN 1 ELSE 0 END) AS BIGINT) AS p4
        |  FROM g)
        |SELECT CAST(1 AS INT) AS stage, 'token_floor' AS gate, n0 AS n_in, p1 AS n_pass,
        |  round(CAST(n0 - p1 AS DOUBLE) / CAST(n0 AS DOUBLE), 6) AS drop_rate FROM agg
        |UNION ALL SELECT CAST(2 AS INT), 'token_len_band', p1, p2,
        |  round(CAST(p1 - p2 AS DOUBLE) / CAST(p1 AS DOUBLE), 6) FROM agg
        |UNION ALL SELECT CAST(3 AS INT), 'stopword_ceiling', p2, p3,
        |  round(CAST(p2 - p3 AS DOUBLE) / CAST(p2 AS DOUBLE), 6) FROM agg
        |UNION ALL SELECT CAST(4 AS INT), 'pii_clearance', p3, p4,
        |  round(CAST(p3 - p4 AS DOUBLE) / CAST(p3 AS DOUBLE), 6) FROM agg""".stripMargin),

    // --- beyond-reference: forecast-accuracy eval (MASE) ------------------
    // The eval half of the forecasting family (q_holt/q_seasonal_index
    // produce, this judges): seasonal-naive (value 7 observations back)
    // vs naive (previous observation) one-step errors on the SAME eval
    // rows, per event type; MASE = ΣAE_seasonal / ΣAE_naive from exact
    // decimal absolute errors — below 1 means the weekly pattern is
    // real signal. Lags are observation lags over the daily rollup
    // (rows, not calendar — identical framing both engines).
    QueryDef("q_forecast_eval", (s, dir) => {
      val daily = dailyEventTotals(s, dir)
      val w = Window.partitionBy("event_type").orderBy(col("day"))
      daily
        .withColumn("l1", lag(col("v"), 1).over(w))
        .withColumn("l7", lag(col("v"), 7).over(w))
        .filter(col("l7").isNotNull)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_evals"),
          sum(abs(col("v") - col("l1"))).as("ae1"),
          sum(abs(col("v") - col("l7"))).as("ae7"))
        .select(col("event_type"), col("n_evals"),
          round(col("ae1").cast("double") / col("n_evals").cast("double"), 6).as("mae_naive"),
          round(col("ae7").cast("double") / col("n_evals").cast("double"), 6).as("mae_seasonal"),
          round(col("ae7").cast("double") / col("ae1").cast("double"), 6).as("mase"))
    },
      // Observation lags over the same daily rollup; exact decimal
      // absolute-error sums.
      oracleSql =
      s"""WITH $dailyEventCte
        |lagged AS (
        |  SELECT event_type, v,
        |    lag(v, 1) OVER w AS l1, lag(v, 7) OVER w AS l7
        |  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)),
        |ag AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_evals,
        |    sum(abs(v - l1)) AS ae1, sum(abs(v - l7)) AS ae7
        |  FROM lagged WHERE l7 IS NOT NULL GROUP BY 1)
        |SELECT event_type, n_evals,
        |  round(CAST(ae1 AS DOUBLE) / CAST(n_evals AS DOUBLE), 6) AS mae_naive,
        |  round(CAST(ae7 AS DOUBLE) / CAST(n_evals AS DOUBLE), 6) AS mae_seasonal,
        |  round(CAST(ae7 AS DOUBLE) / CAST(ae1 AS DOUBLE), 6) AS mase
        |FROM ag""".stripMargin),

    // --- beyond-reference: Spearman rank correlation ----------------------
    // The monotone-association sibling of q_corr_manual's Pearson: per
    // market segment, does a customer's balance RANK track their order
    // count RANK? Two partitioned rank windows (total orders via unique
    // tiebreaks), then the Pearson formula on exact integer rank
    // moments — every sum a BIGINT, two sqrts and one division at the
    // very edge.
    QueryDef("q_spearman", (s, dir) => {
      val d = (c: Column) => c.cast("double")
      val oc = t(s, dir, "orders").groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
      val base = t(s, dir, "customer")
        .join(oc, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_mktsegment").as("seg"), col("c_custkey"),
          col("c_acctbal"), coalesce(col("n_orders"), lit(0L)).as("n_orders"))
      val r1 = Window.partitionBy("seg").orderBy(col("c_acctbal").asc, col("c_custkey").asc)
      val r2 = Window.partitionBy("seg").orderBy(col("n_orders").asc, col("c_custkey").asc)
      base
        .withColumn("ra", row_number().over(r1).cast("long"))
        .withColumn("rb", row_number().over(r2).cast("long"))
        .groupBy("seg")
        .agg(count(lit(1)).as("n"),
          sum(col("ra")).as("s1"), sum(col("rb")).as("s2"),
          sum(col("ra") * col("ra")).as("s11"),
          sum(col("rb") * col("rb")).as("s22"),
          sum(col("ra") * col("rb")).as("s12"))
        .select(col("seg"), col("n"),
          round((d(col("n")) * d(col("s12")) - d(col("s1")) * d(col("s2"))) /
            (sqrt(d(col("n")) * d(col("s11")) - d(col("s1")) * d(col("s1"))) *
              sqrt(d(col("n")) * d(col("s22")) - d(col("s2")) * d(col("s2")))), 6)
            .as("spearman_rho"))
    },
      // Pearson on exact integer ranks; unique tiebreaks make both rank
      // windows total orders.
      oracleSql =
      """WITH oc AS (
        |  SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders
        |  FROM orders GROUP BY 1),
        |base AS (
        |  SELECT c.c_mktsegment AS seg, c.c_custkey, c.c_acctbal,
        |    coalesce(o.n_orders, 0) AS n_orders
        |  FROM customer c LEFT JOIN oc o ON o.o_custkey = c.c_custkey),
        |ranked AS (
        |  SELECT seg,
        |    CAST(row_number() OVER (PARTITION BY seg ORDER BY c_acctbal, c_custkey) AS BIGINT) AS ra,
        |    CAST(row_number() OVER (PARTITION BY seg ORDER BY n_orders, c_custkey) AS BIGINT) AS rb
        |  FROM base),
        |mo AS (
        |  SELECT seg, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(ra) AS BIGINT) AS s1, CAST(sum(rb) AS BIGINT) AS s2,
        |    CAST(sum(ra * ra) AS BIGINT) AS s11, CAST(sum(rb * rb) AS BIGINT) AS s22,
        |    CAST(sum(ra * rb) AS BIGINT) AS s12
        |  FROM ranked GROUP BY 1)
        |SELECT seg, n,
        |  round((CAST(n AS DOUBLE) * CAST(s12 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s2 AS DOUBLE)) /
        |    (sqrt(CAST(n AS DOUBLE) * CAST(s11 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) *
        |     sqrt(CAST(n AS DOUBLE) * CAST(s22 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE))), 6) + 0
        |    AS spearman_rho
        |FROM mo""".stripMargin),

    // --- beyond-reference: Kendall tau-b rank agreement ----------------
    // The pairwise sibling of q_spearman: per ship month, do suppliers
    // rank the same by total quantity as by total revenue? Tau-b counts
    // concordant minus discordant supplier PAIRS with the standard tie
    // correction — every count is an exact integer (sign() is three
    // decimal comparisons, never a float subtraction), and tau is one
    // IEEE tree at the end. Scale: the pair join is per-month over the
    // supplier DIMENSION (aggregate rows, bounded by the roster — never
    // lineitem²); tie counts ride the same aggregate.
    QueryDef("q_kendall_tau", (s, dir) => {
      val d = (c: Column) => c.cast("double")
      val m = t(s, dir, "lineitem").select(
          month(col("l_shipdate").cast("timestamp")).as("mth"),
          col("l_suppkey"),
          col("l_quantity").cast("decimal(12,2)").as("q"),
          col("l_extendedprice").cast("decimal(12,2)").as("r"))
        .groupBy("mth", "l_suppkey")
        .agg(sum(col("q")).as("qty"), sum(col("r")).as("rev"))
        // r14: AQE coalesces this tiny aggregate to ~1 partition, and the
        // explosive per-month pair join below then expands ~12M rows in a
        // single task. A deterministic keyed repartition spreads the probe
        // side BEFORE the checkpoint pins the layout (explosion skew fixed
        // at the source). EXPLICIT partition count (AQE re-coalesces a
        // bare keyed repartition), derived from the session conf so it
        // scales with the configured parallelism, never a local-mode
        // constant. Idle A/B at 32 cores: 2.92 → 2.02 s.
        .repartition(s.sessionState.conf.numShufflePartitions,
          col("mth"), col("l_suppkey"))
        .localCheckpoint(eager = false) // pair join (both sides) + ties + counts
      val sgn = (a: Column, b: Column) =>
        when(a > b, 1L).when(a < b, -1L).otherwise(0L)
      val pairs = m.select(col("mth"), col("l_suppkey").as("ka"),
          col("qty").as("qa"), col("rev").as("ra"))
        .join(m.select(col("mth"), col("l_suppkey").as("kb"),
          col("qty").as("qb"), col("rev").as("rb")), Seq("mth"))
        .filter(col("ka") < col("kb"))
        .groupBy("mth")
        .agg(sum(sgn(col("qa"), col("qb")) * sgn(col("ra"), col("rb"))).as("cmd"))
      // DOUBLED tie/pair counts (c(c−1), n(n−1)) keep everything in
      // exact longs — the mannWhitneyU 2·rank trick; the single /2 folds
      // into the final tree as 2·cmd / sqrt(...).
      val tq = m.groupBy(col("mth"), col("qty")).agg(count(lit(1)).as("c"))
        .groupBy("mth").agg(sum(col("c") * (col("c") - 1)).as("t1x2"))
      val tr = m.groupBy(col("mth"), col("rev")).agg(count(lit(1)).as("c"))
        .groupBy("mth").agg(sum(col("c") * (col("c") - 1)).as("t2x2"))
      val nn = m.groupBy("mth").agg(count(lit(1)).as("n_supp"))
        .withColumn("n0x2", col("n_supp") * (col("n_supp") - 1))
      nn.join(pairs, Seq("mth")).join(tq, Seq("mth")).join(tr, Seq("mth"))
        .select(col("mth"), col("n_supp"), col("cmd"),
          round(lit(2.0) * d(col("cmd")) /
            sqrt(d(col("n0x2") - col("t1x2")) * d(col("n0x2") - col("t2x2"))), 9)
            .as("tau_b"))
    },
      // Tau-b with DOUBLED tie/pair counts (exact longs; the mannWhitneyU
      // 2· trick) — sign() as three decimal comparisons, one IEEE tree.
      oracleSql =
      """WITH m AS (
        |  SELECT CAST(month(l_shipdate) AS INT) AS mth, l_suppkey,
        |    sum(CAST(l_quantity AS DECIMAL(12,2))) AS qty,
        |    sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS rev
        |  FROM lineitem GROUP BY 1, 2),
        |cd AS (
        |  SELECT x.mth,
        |    CAST(sum((CASE WHEN x.qty > y.qty THEN 1 WHEN x.qty < y.qty THEN -1 ELSE 0 END)
        |           * (CASE WHEN x.rev > y.rev THEN 1 WHEN x.rev < y.rev THEN -1 ELSE 0 END)) AS BIGINT) AS cmd
        |  FROM m x JOIN m y ON x.mth = y.mth AND x.l_suppkey < y.l_suppkey
        |  GROUP BY 1),
        |tq AS (
        |  SELECT mth, CAST(sum(c * (c - 1)) AS BIGINT) AS t1x2 FROM (
        |    SELECT mth, qty, count(*) AS c FROM m GROUP BY 1, 2) GROUP BY 1),
        |tr AS (
        |  SELECT mth, CAST(sum(c * (c - 1)) AS BIGINT) AS t2x2 FROM (
        |    SELECT mth, rev, count(*) AS c FROM m GROUP BY 1, 2) GROUP BY 1),
        |nn AS (
        |  SELECT mth, CAST(count(*) AS BIGINT) AS n_supp,
        |    CAST(count(*) * (count(*) - 1) AS BIGINT) AS n0x2
        |  FROM m GROUP BY 1)
        |SELECT nn.mth, nn.n_supp, cd.cmd,
        |  round(2.0 * CAST(cd.cmd AS DOUBLE) /
        |    sqrt(CAST(nn.n0x2 - tq.t1x2 AS DOUBLE) * CAST(nn.n0x2 - tr.t2x2 AS DOUBLE)), 9) AS tau_b
        |FROM nn JOIN cd ON cd.mth = nn.mth
        |JOIN tq ON tq.mth = nn.mth JOIN tr ON tr.mth = nn.mth""".stripMargin),

    // --- beyond-reference: Mann-Kendall trend test ------------------------
    // The nonparametric "is this series trending?" beside q_acf/q_holt:
    // S = Σ sign(v_b − v_a) over all day pairs per event type (sign on
    // exact decimals — integer-exact), tie-corrected variance, and the
    // continuity-corrected z. The pair join is bounded by DAYS² per
    // type — a function of the time range, not data volume, so it is
    // scale-stable by construction.
    QueryDef("q_mannkendall", (s, dir) => {
      val d = (c: Column) => c.cast("double")
      val daily = dailyEventTotals(s, dir)
        .localCheckpoint(eager = false) // pair join (both sides) + tie groups
      val pairs = daily.select(col("event_type"), col("day").as("da"), col("v").as("va"))
        .join(daily.select(col("event_type"), col("day").as("db"), col("v").as("vb")),
          Seq("event_type"))
        .filter(col("da") < col("db"))
        .groupBy("event_type")
        .agg(sum(signum(col("vb") - col("va")).cast("long")).as("s_stat"),
          count(lit(1)).as("n_pairs"))
      val ties = daily.groupBy("event_type", "v").agg(count(lit(1)).as("tg"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_groups"), sum(col("tg")).as("n_days"),
          sum(col("tg") * (col("tg") - 1) * (lit(2) * col("tg") + 5)).as("tie_term"))
      pairs.join(ties, "event_type")
        .withColumn("var_s",
          (d(col("n_days")) * d(col("n_days") - 1) * d(lit(2) * col("n_days") + 5)
            - d(col("tie_term"))) / lit(18.0))
        .select(col("event_type"), col("n_days"), col("s_stat"), col("n_pairs"),
          round(col("var_s"), 6).as("var_s"),
          round(
            when(col("s_stat") > 0, (d(col("s_stat")) - lit(1.0)) / sqrt(col("var_s")))
              .when(col("s_stat") < 0, (d(col("s_stat")) + lit(1.0)) / sqrt(col("var_s")))
              .otherwise(lit(0.0)), 6).as("z"))
    },
      // sign() on exact decimals; tie-corrected variance from exact
      // integer group sizes; one division by 18.
      oracleSql =
      s"""WITH $dailyEventCte
        |pr AS (
        |  SELECT a.event_type,
        |    CAST(sum(CAST(sign(b.v - a.v) AS BIGINT)) AS BIGINT) AS s_stat,
        |    CAST(count(*) AS BIGINT) AS n_pairs
        |  FROM daily a JOIN daily b
        |    ON a.event_type = b.event_type AND a.day < b.day
        |  GROUP BY 1),
        |tg AS (
        |  SELECT event_type, v, CAST(count(*) AS BIGINT) AS tg
        |  FROM daily GROUP BY 1, 2),
        |ties AS (
        |  SELECT event_type, CAST(sum(tg) AS BIGINT) AS n_days,
        |    CAST(sum(tg * (tg - 1) * (2 * tg + 5)) AS BIGINT) AS tie_term
        |  FROM tg GROUP BY 1),
        |vs AS (
        |  SELECT p.event_type, t.n_days, p.s_stat, p.n_pairs,
        |    (CAST(t.n_days AS DOUBLE) * CAST(t.n_days - 1 AS DOUBLE)
        |      * CAST(2 * t.n_days + 5 AS DOUBLE) - CAST(t.tie_term AS DOUBLE)) / 18.0 AS var_s
        |  FROM pr p JOIN ties t USING (event_type))
        |SELECT event_type, n_days, s_stat, n_pairs,
        |  round(var_s, 6) AS var_s,
        |  round(CASE WHEN s_stat > 0 THEN (CAST(s_stat AS DOUBLE) - 1.0) / sqrt(var_s)
        |             WHEN s_stat < 0 THEN (CAST(s_stat AS DOUBLE) + 1.0) / sqrt(var_s)
        |             ELSE 0.0 END, 6) + 0 AS z
        |FROM vs""".stripMargin),

    // --- beyond-reference: Theil-Sen robust trend line --------------------
    // Mann-Kendall's estimator half: slope = the LOWER MEDIAN (exact
    // order statistic — never interpolated, the q_conformal rule) of
    // all pairwise slopes per type; intercept = lower median of the
    // residuals v − slope·day. Same bounded DAYS² pair join; two
    // partitioned rank windows.
    QueryDef("q_theil_sen", (s, dir) => {
      val d = (c: Column) => c.cast("double")
      val daily = dailyEventTotals(s, dir)
        .localCheckpoint(eager = false) // slopes + residual pass
      val slopes = daily.select(col("event_type"), col("day").as("da"), col("v").as("va"))
        .join(daily.select(col("event_type"), col("day").as("db"), col("v").as("vb")),
          Seq("event_type"))
        .filter(col("da") < col("db"))
        .select(col("event_type"), col("da"), col("db"),
          ((col("vb") - col("va")).cast("double") / d(col("db") - col("da"))).as("sl"))
      val wS = Window.partitionBy("event_type").orderBy(col("sl").asc, col("da").asc, col("db").asc)
      val med = slopes
        .withColumn("rk", row_number().over(wS))
        .join(broadcast(slopes.groupBy("event_type").agg(count(lit(1)).as("np"))), "event_type")
        .filter(col("rk") === floor((col("np") + 1).cast("double") / lit(2.0)).cast("int"))
        .select(col("event_type"), col("np").as("n_pairs"), col("sl").as("slope"))
      val wR = Window.partitionBy("event_type").orderBy(col("resid").asc, col("day").asc)
      daily.join(broadcast(med), "event_type")
        .withColumn("resid", d(col("v")) - col("slope") * d(col("day")))
        .withColumn("rk", row_number().over(wR))
        .join(broadcast(daily.groupBy("event_type").agg(count(lit(1)).as("nd"))), "event_type")
        .filter(col("rk") === floor((col("nd") + 1).cast("double") / lit(2.0)).cast("int"))
        .select(col("event_type"), col("n_pairs"),
          round(col("slope"), 6).as("slope"),
          round(col("resid"), 6).as("intercept"))
    },
      // Lower-median order statistics (never interpolated) for slope and
      // intercept, under total orders shared with the Spark windows.
      oracleSql =
      s"""WITH $dailyEventCte
        |slopes AS (
        |  SELECT a.event_type, a.day AS da, b.day AS db,
        |    CAST(b.v - a.v AS DOUBLE) / CAST(b.day - a.day AS DOUBLE) AS sl
        |  FROM daily a JOIN daily b
        |    ON a.event_type = b.event_type AND a.day < b.day),
        |np AS (SELECT event_type, CAST(count(*) AS BIGINT) AS np FROM slopes GROUP BY 1),
        |med AS (
        |  SELECT s.event_type, n.np AS n_pairs, s.sl AS slope
        |  FROM (SELECT event_type, sl,
        |          row_number() OVER (PARTITION BY event_type ORDER BY sl, da, db) AS rk
        |        FROM slopes) s
        |    JOIN np n ON n.event_type = s.event_type
        |  WHERE s.rk = CAST(trunc(CAST(n.np + 1 AS DOUBLE) / 2.0) AS INT)),
        |nd AS (SELECT event_type, CAST(count(*) AS BIGINT) AS nd FROM daily GROUP BY 1),
        |res AS (
        |  SELECT d.event_type, m.n_pairs, m.slope,
        |    CAST(d.v AS DOUBLE) - m.slope * CAST(d.day AS DOUBLE) AS resid, d.day
        |  FROM daily d JOIN med m USING (event_type)),
        |rr AS (
        |  SELECT event_type, n_pairs, slope, resid,
        |    row_number() OVER (PARTITION BY event_type ORDER BY resid, day) AS rk
        |  FROM res)
        |SELECT r.event_type, r.n_pairs,
        |  round(r.slope, 6) + 0 AS slope,
        |  round(r.resid, 6) + 0 AS intercept
        |FROM rr r JOIN nd n USING (event_type)
        |WHERE r.rk = CAST(trunc(CAST(n.nd + 1 AS DOUBLE) / 2.0) AS INT)""".stripMargin),

    // --- beyond-reference: STL-lite seasonal decomposition ---------------
    // value = trend + seasonal + residual, per event type's daily
    // series: trend is a 7-row centered moving average (window frame,
    // partitioned by type — day gaps take their 7 nearest rows, which
    // both engines frame identically), seasonal is the day-of-week mean
    // of the detrended values (quantized to decimal before the
    // order-free group sum), residual the remainder. Completes the
    // time-series family next to q_ema/q_holt/q_seasonal_index/
    // q_changepoint; everything after the daily rollup is windows and
    // one small aggregate — no extra scans.
    QueryDef("q_stl_lite", (s, dir) => {
      val d = (c: Column) => c.cast("double")
      val daily = dailyEventTotals(s, dir)
      val w7 = Window.partitionBy("event_type").orderBy(col("day"))
        .rowsBetween(-3, 3)
      val det = daily
        .withColumn("trend", sum(col("v")).over(w7).cast("double") /
          count(lit(1)).over(w7).cast("double"))
        .withColumn("detr", (d(col("v")) - col("trend")).cast("decimal(28,12)"))
        .withColumn("dow", pmod(col("day"), lit(7)))
      val seas = det.groupBy("event_type", "dow")
        .agg((sum(col("detr")).cast("double") /
          count(lit(1)).cast("double")).as("seasonal"))
      det.join(broadcast(seas), Seq("event_type", "dow"))
        .select(col("event_type"), col("day"), d(col("v")).as("v"),
          round(col("trend"), 6).as("trend"),
          round(col("seasonal"), 6).as("seasonal"),
          round(col("detr").cast("double") - col("seasonal"), 6).as("resid"))
    },
      // Identical 7-row centered frames; detrended values quantize before
      // the day-of-week means.
      oracleSql =
      s"""WITH $dailyEventCte
        |det AS (
        |  SELECT event_type, day, v,
        |    CAST(sum(v) OVER w7 AS DOUBLE) / CAST(count(*) OVER w7 AS DOUBLE) AS trend,
        |    day % 7 AS dow
        |  FROM daily
        |  WINDOW w7 AS (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |det2 AS (
        |  SELECT event_type, day, v, trend, dow,
        |    CAST(CAST(v AS DOUBLE) - trend AS DECIMAL(28,12)) AS detr
        |  FROM det),
        |seas AS (
        |  SELECT event_type, dow,
        |    CAST(sum(detr) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS seasonal
        |  FROM det2 GROUP BY 1, 2)
        |SELECT d.event_type, d.day, CAST(d.v AS DOUBLE) AS v,
        |  round(d.trend, 6) + 0 AS trend,
        |  round(s.seasonal, 6) + 0 AS seasonal,
        |  round(CAST(d.detr AS DOUBLE) - s.seasonal, 6) + 0 AS resid
        |FROM det2 d JOIN seas s USING (event_type, dow)""".stripMargin),

    // --- beyond-reference: standardized effect sizes ----------------------
    // The "how big, not just how significant" readout beside
    // q_welch_t/q_mannwhitney: Cohen's d (pooled-SD standardized mean
    // gap, from exact decimal moments) and Cliff's delta (the
    // rank-based 2·AUC−1, riding Stats.rocAuc's doubled-rank trick —
    // exact BIGINT rank sums) per event type, variants by user parity.
    // One aggregation for moments + one partitioned rank window.
    QueryDef("q_effect_size", (s, dir) => {
      val d = (c: Column) => c.cast("double")
      val u = userTotalsByParity(s, dir)
        .localCheckpoint(eager = false) // moment branch + rank branch
      val cohen = parityMoments(u)
        .select(col("event_type"), col("n1"), col("n0"),
          ((d(col("s1")) / d(col("n1"))) - (d(col("s0")) / d(col("n0")))).as("mean_gap"),
          sqrt(((d(col("q1")) - d(col("s1")) * d(col("s1")) / d(col("n1"))) +
            (d(col("q0")) - d(col("s0")) * d(col("s0")) / d(col("n0")))) /
            (d(col("n1")) + d(col("n0")) - lit(2.0))).as("sp"))
      val auc = Stats.rocAuc(u, col("event_type"), col("v").cast("double"), col("pos"))
        .select(col("g").as("event_type"), col("auc"))
      cohen.join(auc, "event_type")
        .select(col("event_type"), col("n1"), col("n0"),
          round(col("mean_gap") / col("sp"), 6).as("cohens_d"),
          round(col("auc") * 2.0 - 1.0, 6).as("cliffs_delta"))
    },
      // Exact decimal moments for d; the rocAuc doubled-rank convention
      // for delta (2·AUC − 1), rank on the DOUBLE cast both engines share.
      oracleSql =
      s"""WITH $parityMomentCtes
        |cohen AS (
        |  SELECT event_type, n1, n0,
        |    (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)) - (CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE)) AS mean_gap,
        |    sqrt(((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)) +
        |          (CAST(q0 AS DOUBLE) - CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE))) /
        |         (CAST(n1 AS DOUBLE) + CAST(n0 AS DOUBLE) - 2.0)) AS sp
        |  FROM mo),
        |rk AS (
        |  SELECT event_type, pos,
        |    2 * rank() OVER (PARTITION BY event_type ORDER BY CAST(v AS DOUBLE))
        |      + count(*) OVER (PARTITION BY event_type, CAST(v AS DOUBLE)) - 1 AS r2
        |  FROM u),
        |ag AS (
        |  SELECT event_type,
        |    CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS np,
        |    CAST(sum(CASE WHEN NOT pos THEN 1 ELSE 0 END) AS BIGINT) AS nn,
        |    CAST(sum(CASE WHEN pos THEN r2 ELSE 0 END) AS BIGINT) AS r2sum
        |  FROM rk GROUP BY 1),
        |a2 AS (
        |  SELECT event_type,
        |    CAST(r2sum - np * (np + 1) AS DOUBLE) / (2.0 * CAST(np * nn AS DOUBLE)) AS auc
        |  FROM ag WHERE np > 0 AND nn > 0)
        |SELECT c.event_type, c.n1, c.n0,
        |  round(c.mean_gap / c.sp, 6) + 0 AS cohens_d,
        |  round(a.auc * 2.0 - 1.0, 6) + 0 AS cliffs_delta
        |FROM cohen c JOIN a2 a USING (event_type)""".stripMargin),

    // --- beyond-reference: incremental containment vs the standing index -
    // The ingest-time quote detector ([[SetSimJoin.containmentIncrement]]):
    // both directions against the frozen store plus batch-internal
    // pairs; index×index pairs never re-form. The oracle is the
    // brute-force directed join over batch-touching pairs — frozen-order
    // pruning can never change the result set, only its cost.
    QueryDef("q_containment_incremental", (s, dir) => {
      val docs = t(s, dir, "documents")
      val shingles = TextAnalysis.wordShingles(col("text"), 3)
      val idx = SetSimJoin.buildIndex(
        docs.filter(col("doc_id") % 4 =!= 0), col("doc_id"), shingles)
      SetSimJoin.containmentIncrement(
        docs.filter(col("doc_id") % 4 === 0), col("doc_id"), shingles, idx, t = 0.5)
    },
      // Brute force over batch-touching directed pairs, side-tagged by
      // index membership (doc_id % 4 splits exactly as the query does).
      oracleSql =
      s"""WITH $shingleSetCtes
        |mz AS (
        |  SELECT doc_id, sh, len(sh) AS m, doc_id % 4 = 0 AS isb
        |  FROM sh WHERE len(sh) > 0),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CASE WHEN a.isb AND NOT b.isb THEN 'batch_in_index'
        |         WHEN NOT a.isb AND b.isb THEN 'index_in_batch'
        |         ELSE 'batch_in_batch' END AS side,
        |    CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS inter,
        |    CAST(a.m AS BIGINT) AS size_a
        |  FROM mz a JOIN mz b ON a.doc_id <> b.doc_id AND (a.isb OR b.isb))
        |SELECT doc_a, doc_b, side, inter, size_a,
        |  CAST(inter AS DOUBLE) / CAST(size_a AS DOUBLE) AS containment
        |FROM pairs
        |WHERE CAST(inter AS DOUBLE) >= 0.5 * CAST(size_a AS DOUBLE)""".stripMargin),

    // --- beyond-reference: k-fold cross-validation of the stump ----------
    // The honest-eval loop around q_stump: 3 hash-assigned folds
    // (md5 membership — growth/partition/engine-stable, the
    // q_hash_sample rule), each fold's stump fit ONLY on the other two
    // (same cut grid, same Gini argmin, keyed by (source, fold)), then
    // scored on the held-out fold with the train-side majority rule.
    // Train/test accuracies are exact-integer ratios; one extra key in
    // every aggregation is the whole cost of the CV — no per-fold scans.
    QueryDef("q_crossval", (s, dir) => {
      val d = (c: Column) => c.cast("double")
      val base = t(s, dir, "documents").select(
          col("source"), col("n_chars"), (col("lang") === "en").cast("long").as("pos"),
          pmod(conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
            .cast("long"), lit(3)).cast("int").as("fold"))
        .localCheckpoint(eager = false) // 3 train fits + 3 held-out evals
      val folds = broadcast(s.range(3).select(col("id").cast("int").as("f")))
      val train = base.join(folds, col("fold") =!= col("f"))
      val stats = train.groupBy("source", "f").agg(
        min(col("n_chars")).as("mn"), max(col("n_chars")).as("mx"),
        count(lit(1)).as("n"), sum(col("pos")).as("p"))
      val cuts = stats.select(col("source"), col("f"), col("mn"), col("mx"),
          explode(array((1 to 15).map(lit(_)): _*)).as("i"))
        .withColumn("cut", col("mn") +
          floor(d(col("i")) * d(col("mx") - col("mn")) / lit(16.0)).cast("long"))
        .select("source", "f", "cut").distinct()
      val w = Window.partitionBy("source", "f").orderBy(col("score").asc, col("cut").asc)
      val best = train.join(cuts, Seq("source", "f"))
        .groupBy("source", "f", "cut")
        .agg(
          sum(when(col("n_chars") < col("cut"), 1L).otherwise(0L)).as("nl"),
          sum(when(col("n_chars") < col("cut") && col("pos") === 1L, 1L).otherwise(0L)).as("pl"))
        .join(broadcast(stats.select("source", "f", "n", "p")), Seq("source", "f"))
        .withColumn("nr", col("n") - col("nl"))
        .withColumn("pr", col("p") - col("pl"))
        .withColumn("score",
          (giniSide(col("nl"), col("pl")) + giniSide(col("nr"), col("pr"))) / d(col("n")))
        .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
        .select(col("source"), col("f"), col("cut"), col("score"),
          (col("pl") * 2 > col("nl")).as("predl"),
          (col("pr") * 2 > col("nr")).as("predr"))
        .localCheckpoint(eager = false) // test eval + readout join
      base.join(folds, col("fold") === col("f"))
        .join(broadcast(best), Seq("source", "f"))
        .withColumn("pred",
          when(col("n_chars") < col("cut"), col("predl")).otherwise(col("predr")))
        .groupBy("source", "f")
        .agg(count(lit(1)).as("n_test"),
          sum(when(col("pred") === (col("pos") === 1L), 1L).otherwise(0L)).as("n_correct"))
        .join(broadcast(best.select("source", "f", "cut", "score")), Seq("source", "f"))
        .select(col("source"), col("f").as("fold"), col("cut"),
          round(col("score"), 6).as("train_score"), col("n_test"),
          round(d(col("n_correct")) / d(col("n_test")), 6).as("test_acc"))
    },
      // The q_stump fit with one extra (fold) key, then held-out scoring
      // under the train-side majority rule; md5 fold membership.
      oracleSql =
      s"""WITH base AS (
        |  SELECT source, n_chars,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos,
        |    CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 3 AS INT)
        |      AS fold
        |  FROM documents),
        |folds AS (SELECT CAST(g.gs AS INT) AS f FROM (SELECT unnest(range(0, 3)) AS gs) g),
        |train AS (SELECT b.*, f.f FROM base b JOIN folds f ON b.fold <> f.f),
        |stats AS (
        |  SELECT source, f, min(n_chars) AS mn, max(n_chars) AS mx,
        |    CAST(count(*) AS BIGINT) AS n, CAST(sum(pos) AS BIGINT) AS p
        |  FROM train GROUP BY 1, 2),
        |cuts AS (
        |  SELECT DISTINCT source, f,
        |    mn + CAST(floor(CAST(i AS DOUBLE) * CAST(mx - mn AS DOUBLE) / 16.0) AS BIGINT)
        |      AS cut
        |  FROM stats, (SELECT unnest(range(1, 16)) AS i)),
        |sides AS (
        |  SELECT b.source, b.f, c.cut,
        |    CAST(sum(CASE WHEN b.n_chars < c.cut THEN 1 ELSE 0 END) AS BIGINT) AS nl,
        |    CAST(sum(CASE WHEN b.n_chars < c.cut AND b.pos = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS pl
        |  FROM train b JOIN cuts c ON c.source = b.source AND c.f = b.f
        |  GROUP BY 1, 2, 3),
        |sc AS (
        |  SELECT s.source, s.f, s.cut, s.nl, s.pl,
        |    t.n - s.nl AS nr, t.p - s.pl AS pr, t.n
        |  FROM sides s JOIN stats t USING (source, f)),
        |g AS (
        |  SELECT source, f, cut, nl, pl, nr, pr,
        |    $giniScoreSql AS score
        |  FROM sc),
        |best AS (
        |  SELECT source, f, cut, score,
        |    pl * 2 > nl AS predl, pr * 2 > nr AS predr
        |  FROM (SELECT *, row_number() OVER (PARTITION BY source, f ORDER BY score, cut) AS rk
        |        FROM g)
        |  WHERE rk = 1),
        |test_ AS (
        |  SELECT b.source, b.fold AS f, CAST(count(*) AS BIGINT) AS n_test,
        |    CAST(sum(CASE WHEN (CASE WHEN b.n_chars < x.cut THEN x.predl ELSE x.predr END)
        |                       = (b.pos = 1) THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
        |  FROM base b JOIN best x ON x.source = b.source AND x.f = b.fold
        |  GROUP BY 1, 2)
        |SELECT t.source, t.f AS fold, x.cut,
        |  round(x.score, 6) AS train_score, t.n_test,
        |  round(CAST(t.n_correct AS DOUBLE) / CAST(t.n_test AS DOUBLE), 6) AS test_acc
        |FROM test_ t JOIN best x USING (f) WHERE x.source = t.source""".stripMargin),

    // =====================================================================
    // Round 11: one-pass multi-pattern scan, Unicode canonicalization,
    // rendezvous sharding, int8 scalar quantization, table digests,
    // readability.
    // =====================================================================

    // --- beyond-reference: Aho-Corasick one-pass k-keyword scan ----------
    // ONE automaton walk per document (the automaton rides inside the
    // codegen'd expression) where the regexp form costs k passes: at a
    // 100 TB corpus with a thousand-term scrub list that is the
    // difference between reading every byte once and a thousand times.
    // Patterns here are border-free (no proper prefix = suffix), so the
    // kernel's every-end-position counts equal the oracle's
    // non-overlapping replace counts exactly.
    QueryDef("q_multi_match", (s, dir) => {
      val kws = multiMatchKeywords
      t(s, dir, "documents")
        .select(col("source"),
          posexplode(graft.functions.GraftFunctions
            .multiMatchCounts(lower(col("text")), kws)).as(Seq("kid", "hits")))
        .select(col("source"),
          element_at(array(kws.map(lit): _*), col("kid") + 1).as("kw"),
          col("hits"))
        .groupBy("source", "kw")
        .agg(sum("hits").as("hits"),
          sum(when(col("hits") > 0, 1L).otherwise(0L)).as("docs_with"))
    },
      // Relational mirror of the Aho-Corasick scan: per-keyword
      // non-overlapping replace counts (equal to every-end-position counts
      // for border-free patterns — see multiMatchKeywords).
      oracleSql = {
      val vals = multiMatchKeywords.map(k => s"('$k')").mkString(", ")
      s"""WITH kws(kw) AS (VALUES $vals)
         |SELECT d.source, k.kw,
         |  CAST(sum((length(lower(d.text)) - length(replace(lower(d.text), k.kw, '')))
         |           // length(k.kw)) AS BIGINT) AS hits,
         |  CAST(sum(CASE WHEN contains(lower(d.text), k.kw) THEN 1 ELSE 0 END)
         |    AS BIGINT) AS docs_with
         |FROM documents d CROSS JOIN kws k
         |GROUP BY 1, 2""".stripMargin
    }),

    // --- beyond-reference: Unicode NFC canonicalization ------------------
    // Composed (U+00E9) and decomposed (e + U+0301) "é" are
    // byte-different, render identically, and land in DIFFERENT
    // exact-dedup buckets unless canonicalized — NFC belongs upstream of
    // every content hash in a web-scale pipeline. The decomposed suffix
    // is constructed here (the TPC-H-ish testdata is ASCII); NFC
    // composes 3 pairs per row, so len drops by exactly 3 and the md5
    // fingerprint matches any composed-form source.
    QueryDef("q_unicode_norm", (s, dir) => {
      // DECOMPOSED escapes (base char + combining mark), NOT composed
      // codepoints - NFC must have real work to do: e+U+0301 -> \u00e9,
      // a+U+030A -> \u00e5, o+U+0308 -> \u00f6. Escapes, not raw marks,
      // so an editor/tool normalization pass cannot silently flip the
      // query to a no-op.
      val raw = concat(col("c_name"),
        lit(" cafe\u0301 a\u030Angstro\u0308m"))
      t(s, dir, "customer")
        .select(col("c_custkey"), raw.as("raw"))
        .select(col("c_custkey"),
          length(col("raw")).as("len_raw"),
          graft.functions.GraftFunctions.unicodeNorm(col("raw"), "NFC").as("nfc"))
        .withColumn("len_nfc", length(col("nfc")))
        .withColumn("fp", md5(col("nfc")))
    },
      // chr(769/778/776) = the combining acute/ring/diaeresis the Spark
      // side appends as escapes; nfc_normalize is DuckDB's NFC.
      oracleSql =
      """WITH r AS (SELECT c_custkey,
        |  c_name || ' cafe' || chr(769) || ' a' || chr(778) || 'ngstro' || chr(776) || 'm' AS raw
        |  FROM customer)
        |SELECT c_custkey, length(raw) AS len_raw,
        |  nfc_normalize(raw) AS nfc,
        |  length(nfc_normalize(raw)) AS len_nfc,
        |  md5(nfc_normalize(raw)) AS fp
        |FROM r""".stripMargin),

    // --- beyond-reference: rendezvous (HRW) sharding + stability ---------
    // Highest-random-weight sharding: per (doc, shard) 48-bit md5 score,
    // assignment = argmax — a PURE PROJECTION (the 16 scores live in one
    // in-row array; no join, no shuffle until the 16-row rollup).
    // Stability is the point: growing 16 → 17 shards moves only the docs
    // the new shard wins (expected 1/17), where mod-hashing reshuffles
    // ~16/17 of the corpus — n_moved reads that directly.
    QueryDef("q_rendezvous", (s, dir) => {
      def score(sh: Int): Column =
        conv(substring(md5(concat(col("doc_id").cast("string"),
          lit(":" + sh))), 1, 12), 16, 10).cast("long")
      def assign(n: Int): Column = array_max(array((0 until n).map(sh =>
        struct(score(sh).as("score"), lit(sh).as("shard"))): _*))
        .getField("shard").cast("long")
      t(s, dir, "documents")
        .select(col("doc_id"), assign(16).as("s16"), assign(17).as("s17"))
        .groupBy(col("s16").as("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("s16") =!= col("s17"), 1L).otherwise(0L)).as("n_moved"))
    },
      // The argmax is tie-broken (score DESC, s DESC) exactly like Spark's
      // lexicographic struct max — 48-bit scores make ties ~impossible,
      // but the oracle must not depend on that.
      oracleSql =
      """WITH shards AS (SELECT range AS s FROM range(0, 17)),
        |sc AS (SELECT d.doc_id, shards.s,
        |  CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || ':' || CAST(shards.s AS VARCHAR)), 1, 12)
        |    AS BIGINT) AS score
        |  FROM documents d CROSS JOIN shards),
        |a16 AS (SELECT doc_id, s FROM (
        |  SELECT doc_id, s,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, s DESC) AS rn
        |  FROM sc WHERE s < 16) WHERE rn = 1),
        |a17 AS (SELECT doc_id, s FROM (
        |  SELECT doc_id, s,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, s DESC) AS rn
        |  FROM sc) WHERE rn = 1)
        |SELECT a16.s AS shard, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN a17.s <> a16.s THEN 1 ELSE 0 END) AS BIGINT) AS n_moved
        |FROM a16 JOIN a17 USING (doc_id)
        |GROUP BY 1""".stripMargin),

    // --- beyond-reference: int8 scalar quantization (SQ8) ----------------
    // The 4×-smaller affine-per-dimension embedding layout every vector
    // store ships beside PQ. The dim min/max model is 64 rows —
    // aggregated once, carried back as two in-row arrays on a broadcast
    // 1-row cross join — and the quantize + reconstruct + squared-error
    // fold runs INSIDE the row (zip_with + aggregate over a LONG
    // accumulator): the corpus never shuffles; the label rollup moves 10
    // rows. Codes are reconstruction-centered (q + 0.5); a constant
    // dimension quantizes to code 0 with zero error. Each squared error
    // quantizes to an exact micro-integer (floor(err·1e12) — IEEE double
    // arithmetic then floor, identical on any engine) so every output
    // column is BIGINT: wide decimals never reach the output schema
    // (the r11 lesson — >18-precision decimal outputs render
    // engine-dependently; see `GateLintSpec`).
    QueryDef("q_sq8", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val stats = emb
        .select(posexplode(col("embedding")).as(Seq("d", "v")))
        .groupBy("d").agg(min("v").as("mn"), max("v").as("mx"))
        .agg(array_sort(collect_list(struct(col("d"), col("mn"), col("mx")))).as("st"))
        .select(
          transform(col("st"), x => x.getField("mn").cast("double")).as("mns"),
          transform(col("st"), x => x.getField("mx").cast("double")).as("mxs"))
      def term(v: Column, mn: Column, mx: Column): Column = {
        val range = mx - mn
        val q = least(floor(((v - mn) / range) * lit(256.0)), lit(255.0))
        val recon = mn + (q + lit(0.5)) * range / lit(256.0)
        when(range === lit(0.0), lit(0L))
          .otherwise(floor(((v - recon) * (v - recon)) * lit(1e12)))
      }
      emb.crossJoin(broadcast(stats))
        .select(col("vec_id"), col("label"),
          aggregate(
            zip_with(col("embedding").cast("array<double>"),
              arrays_zip(col("mns"), col("mxs")),
              (v, mm) => term(v, mm.getField("mns"), mm.getField("mxs"))),
            lit(0L),
            (acc, x) => acc + x).as("sse_e12"))
        .groupBy("label")
        .agg(count(lit(1)).as("n_vecs"),
          sum(col("sse_e12")).as("sse_total_e12"),
          max(col("sse_e12")).as("sse_max_e12"))
    },
      // Same affine quantizer, term-for-term: double arithmetic is IEEE-
      // identical, each squared error quantizes to an exact micro-integer
      // (floor(err·1e12)) BEFORE the order-free BIGINT sums.
      oracleSql =
      """WITH x AS (SELECT vec_id, label,
        |    CAST(generate_subscripts(embedding, 1) AS INT) AS d,
        |    CAST(unnest(embedding) AS DOUBLE) AS v
        |  FROM embeddings),
        |dim AS (SELECT d, min(v) AS mn, max(v) AS mx FROM x GROUP BY d),
        |q AS (SELECT x.vec_id, x.label, x.v, dim.mn, dim.mx,
        |    CASE WHEN dim.mx = dim.mn THEN 0.0
        |      ELSE least(floor((x.v - dim.mn) / (dim.mx - dim.mn) * 256.0), 255.0)
        |    END AS qc
        |  FROM x JOIN dim USING (d)),
        |tm AS (SELECT vec_id, label,
        |    CASE WHEN mx = mn THEN CAST(0 AS BIGINT)
        |      ELSE CAST(floor((v - (mn + (qc + 0.5) * (mx - mn) / 256.0))
        |               * (v - (mn + (qc + 0.5) * (mx - mn) / 256.0))
        |               * 1e12)
        |           AS BIGINT)
        |    END AS term
        |  FROM q),
        |pv AS (SELECT vec_id, label,
        |    CAST(sum(term) AS BIGINT) AS sse_e12
        |  FROM tm GROUP BY 1, 2)
        |SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
        |  CAST(sum(sse_e12) AS BIGINT) AS sse_total_e12,
        |  max(sse_e12) AS sse_max_e12
        |FROM pv GROUP BY 1""".stripMargin),

    // --- beyond-reference: order-free table content digest ---------------
    // Replication/migration integrity at 100 TB: one scan per table, a
    // 48-bit md5 row hash, and a commutative sum — the digest is
    // partition-order- and engine-independent, so a source and a copy
    // compare with one tiny row each side instead of a row-level diff.
    // Floating columns quantize through decimal(18,2) BEFORE the string
    // render (double→varchar formatting is engine-specific; decimal is
    // not).
    QueryDef("q_table_digest", (s, dir) => {
      // Every column coalesces to '' BEFORE the join: Spark's concat_ws
      // SKIPS nulls (fields would shift) while DuckDB's || NULLifies the
      // whole row (it would vanish from the sum) — divergent null
      // handling on a digest advertised as engine-independent. With the
      // coalesce both sides serialize identically.
      def digest(name: String, df: DataFrame, cols: Seq[Column]) = df.select(
        lit(name).as("tbl"),
        conv(substring(md5(concat_ws("|", cols.map(coalesce(_, lit(""))): _*)),
          1, 12), 16, 10).cast("long").as("h"))
      val parts = Seq(
        digest("region", t(s, dir, "region"),
          Seq(col("r_regionkey").cast("string"), col("r_name"))),
        digest("nation", t(s, dir, "nation"),
          Seq(col("n_nationkey").cast("string"), col("n_name"),
            col("n_regionkey").cast("string"))),
        digest("supplier", t(s, dir, "supplier"),
          Seq(col("s_suppkey").cast("string"), col("s_name"),
            col("s_nationkey").cast("string"),
            col("s_acctbal").cast("decimal(18,2)").cast("string"))))
      // The 48-bit row hashes sum through decimal(38,0): a bigint
      // accumulator would overflow silently past ~3×10^4 billion rows;
      // decimal is exact at any table size and hash-identical to
      // DuckDB's hugeint sum. The OUTPUT then folds mod 2^53 back to
      // BIGINT — still an order-free content digest (commutative sum mod
      // a constant), but wide decimals never reach the output schema
      // (the r11 lesson; see `GateLintSpec`).
      parts.reduce(_ unionByName _)
        .groupBy("tbl")
        .agg(count(lit(1)).as("n_rows"),
          (sum(col("h").cast("decimal(38,0)")) % lit(9007199254740992L))
            .cast("long").as("digest"))
    },
      // Identical row serialization ('|' joins, decimal(18,2) before any
      // float renders), identical 48-bit md5 prefix, commutative sum.
      oracleSql =
      """WITH rows_ AS (
        |  SELECT 'region' AS tbl,
        |    CAST('0x' || substr(md5(COALESCE(CAST(r_regionkey AS VARCHAR), '')
        |      || '|' || COALESCE(r_name, '')), 1, 12)
        |      AS BIGINT) AS h
        |  FROM region
        |  UNION ALL
        |  SELECT 'nation',
        |    CAST('0x' || substr(md5(COALESCE(CAST(n_nationkey AS VARCHAR), '')
        |      || '|' || COALESCE(n_name, '')
        |      || '|' || COALESCE(CAST(n_regionkey AS VARCHAR), '')), 1, 12) AS BIGINT)
        |  FROM nation
        |  UNION ALL
        |  SELECT 'supplier',
        |    CAST('0x' || substr(md5(COALESCE(CAST(s_suppkey AS VARCHAR), '')
        |      || '|' || COALESCE(s_name, '')
        |      || '|' || COALESCE(CAST(s_nationkey AS VARCHAR), '')
        |      || '|' || COALESCE(CAST(CAST(s_acctbal AS DECIMAL(18,2)) AS VARCHAR), '')),
        |      1, 12) AS BIGINT)
        |  FROM supplier)
        |SELECT tbl, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(h) % 9007199254740992 AS BIGINT) AS digest
        |FROM rows_ GROUP BY 1""".stripMargin),

    // --- beyond-reference: readability scoring (Flesch reading ease) -----
    // The classic quality gate beside q_text_quality: words, sentences
    // and vowel-group syllables all come from the run-counting identity
    // len(replace(p,'X')) − len(remove(p)) — pure regexp algebra that
    // mirrors into SQL symbol-for-symbol, one scan, no shuffle until the
    // 20-row source rollup. Sentence-less docs (the synthetic corpus has
    // no punctuation) clamp to 1 sentence, the standard convention.
    QueryDef("q_readability", (s, dir) => {
      def runs(c: Column, pat: String): Column =
        (length(regexp_replace(c, pat, "X")) -
          length(regexp_replace(c, pat, ""))).cast("double")
      val low = lower(col("text"))
      t(s, dir, "documents")
        .select(col("source"),
          runs(col("text"), "\\S+").as("words"),
          greatest(runs(col("text"), "[.!?]+"), lit(1.0)).as("sents"),
          runs(low, "[aeiouy]+").as("sylls"))
        // Both denominators clamp to 1 (empty docs would put NaN through
        // the formula). sum_words stays UNclamped. The per-doc score
        // quantizes to micro-units via floor(flesch·1e6) — IEEE double
        // arithmetic then floor is engine-identical and the sum is an
        // exact order-free BIGINT, with no double→decimal repr hop and
        // no wide-decimal output column (the r11 lesson; see
        // `GateLintSpec`).
        .withColumn("flesch_micro",
          floor((lit(206.835) -
            lit(1.015) * (greatest(col("words"), lit(1.0)) / col("sents")) -
            lit(84.6) * (col("sylls") / greatest(col("words"), lit(1.0))))
            * lit(1e6)))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("words").cast("long")).as("sum_words"),
          sum(col("sylls").cast("long")).as("sum_sylls"),
          sum(col("flesch_micro")).as("sum_flesch_micro"))
    },
      // The run-counting identity len(replace(p,'X')) − len(remove(p)),
      // symbol-for-symbol; sentence-less docs clamp to 1. The flesch
      // double quantizes via floor(flesch·1e6): IEEE double arithmetic
      // then floor, engine-identical, summed as exact BIGINT — no
      // double→VARCHAR repr hop, no wide-decimal output.
      oracleSql =
      """WITH d AS (SELECT source,
        |    CAST(length(regexp_replace(text, '\S+', 'X', 'g'))
        |       - length(regexp_replace(text, '\S+', '', 'g')) AS DOUBLE) AS words,
        |    greatest(CAST(length(regexp_replace(text, '[.!?]+', 'X', 'g'))
        |       - length(regexp_replace(text, '[.!?]+', '', 'g')) AS DOUBLE), 1.0) AS sents,
        |    CAST(length(regexp_replace(lower(text), '[aeiouy]+', 'X', 'g'))
        |       - length(regexp_replace(lower(text), '[aeiouy]+', '', 'g')) AS DOUBLE) AS sylls
        |  FROM documents),
        |f AS (SELECT source, words, sylls,
        |    CAST(floor((206.835 - 1.015 * (greatest(words, 1.0) / sents)
        |                        - 84.6 * (sylls / greatest(words, 1.0)))
        |               * 1e6) AS BIGINT) AS flesch_micro
        |  FROM d)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CAST(words AS BIGINT)) AS BIGINT) AS sum_words,
        |  CAST(sum(CAST(sylls AS BIGINT)) AS BIGINT) AS sum_sylls,
        |  CAST(sum(flesch_micro) AS BIGINT) AS sum_flesch_micro
        |FROM f GROUP BY 1""".stripMargin),

    // --- beyond-reference: mergeable deterministic quantile sketch -------
    // The 100 TB percentile shape: per-(flag, month) MrlSketches (one
    // streaming pass, O(k·log(n/k)) doubles each, built by a custom
    // TypedImperativeAggregate) fold with the MERGE agg into per-flag
    // sketches — no global sort, no value-keyed shuffle, and yesterday's
    // sketch + today's batch sketch = the updated percentile without a
    // rescan (where exact `percentile` re-sorts every group every time).
    // Contract oracle (q_sketch_merge pattern): exact n/n_months
    // hash-compare; the probed p10/p50/p90/p99 must each sit within 2%
    // RANK error of their target fraction (k=512 measures ≤0.31% at
    // sf0.1; 6× slack for per-round regeneration, same reasoning as
    // q_heavy_hitters). Sketch CONTENTS are merge-order-dependent, so
    // only the bound is oracled; QuantileSketchSpec pins exactness under
    // a fixed feed.
    //
    // The bench shape is the sketch pipeline a user would run; the exact
    // rank pass exists only to buy the oracle's green row.
    QueryDef("q_quantile_sketch", (s, dir) => {
      val (li, fracs, merged) = monthlyQuantileSketch(s, dir)
      val est = merged.select(col("l_returnflag"), col("n_months"),
        posexplode(col("qs")).as(Seq("fi", "est")))
      est.join(li.select(col("l_returnflag"), col("l_extendedprice")), Seq("l_returnflag"))
        .groupBy("l_returnflag", "n_months", "fi")
        .agg(count(lit(1)).as("n"),
          sum(when(col("l_extendedprice") <= col("est"), 1L).otherwise(0L)).as("rank"))
        .withColumn("f", element_at(array(fracs.map(lit): _*), col("fi") + 1))
        .groupBy("l_returnflag", "n_months", "n")
        .agg(max(when(abs(col("rank") / col("n") - col("f")) > 0.02, 1L)
          .otherwise(0L)).as("worst"))
        .select(col("l_returnflag"), col("n_months"), col("n"),
          (col("worst") === 0L).as("all_ranks_within_2pct"))
    }, bench = Some((s, dir) => {
      val (_, _, merged) = monthlyQuantileSketch(s, dir)
      merged.select(col("l_returnflag"), col("n_months"),
        round(element_at(col("qs"), 2), 0).as("approx_p50"))
    }),
      // Contract oracle: exact n/n_months; the 2%-rank-error envelope is
      // the sketch's guarantee, so the boolean is literally TRUE.
      oracleSql =
      """SELECT l_returnflag,
        |  CAST(count(DISTINCT strftime(CAST(l_shipdate AS DATE), '%Y-%m')) AS BIGINT)
        |    AS n_months,
        |  CAST(count(*) AS BIGINT) AS n,
        |  TRUE AS all_ranks_within_2pct
        |FROM lineitem GROUP BY 1""".stripMargin),

    // --- beyond-reference: WEIGHTED quantile sketch ----------------------
    // Weighted percentiles (here: the unit-sales-weighted price
    // distribution) via the power-of-two level decomposition — each row
    // adds `w` units of mass in O(popcount(w)), a capability the
    // built-in approx_percentile lacks. Same contract shape as
    // q_quantile_sketch: exact weighted totals hash-compare; each probe
    // must sit within 2% WEIGHTED rank error.
    QueryDef("q_weighted_quantile", (s, dir) => {
      val (li, fracs, merged) = weightedQuantileSketch(s, dir)
      val est = merged.select(col("l_returnflag"), col("w_total"),
        posexplode(col("qs")).as(Seq("fi", "est")))
      est.join(li, Seq("l_returnflag"))
        .groupBy("l_returnflag", "w_total", "fi")
        .agg(sum(when(col("l_extendedprice") <= col("est"), col("w"))
          .otherwise(0L)).as("wrank"))
        .withColumn("f", element_at(array(fracs.map(lit): _*), col("fi") + 1))
        .groupBy("l_returnflag", "w_total")
        .agg(max(when(
          abs(col("wrank") / col("w_total") - col("f")) > 0.02, 1L)
          .otherwise(0L)).as("worst"))
        .select(col("l_returnflag"), col("w_total"),
          (col("worst") === 0L).as("all_wranks_within_2pct"))
    }, bench = Some((s, dir) => {
      val (_, _, merged) = weightedQuantileSketch(s, dir)
      merged.select(col("l_returnflag"), col("w_total"),
        round(element_at(col("qs"), 2), 0).as("approx_p50"))
    }),
      // Weighted contract: exact weighted totals (trunc per the
      // double→int idiom); the 2% weighted-rank envelope → TRUE.
      oracleSql =
      """SELECT l_returnflag,
        |  CAST(sum(CAST(trunc(l_quantity) AS BIGINT)) AS BIGINT) AS w_total,
        |  TRUE AS all_wranks_within_2pct
        |FROM lineitem GROUP BY 1""".stripMargin),

    // --- beyond-reference: Misra–Gries frequent items (deterministic) ----
    // The deterministic-memory complement of the CMS path: k=200
    // counters per partial, merged counter-wise (Agarwal et al.'s
    // mergeable construction — the additive n/(k+1) envelope survives
    // shard-then-union), carrying the CANDIDATE TERMS themselves with a
    // guaranteed undercount. Contract oracle: every term with exact
    // frequency above n/(k+1) must be PRESENT in the merged summary with
    // est ≤ freq and freq − est ≤ n/(k+1); the row set (the heavy terms)
    // and freq are exact in both engines, the boolean is the guarantee.
    QueryDef("q_mg_topk", (s, dir) => {
      import graft.functions.GraftFunctions._
      val k = 200
      val bound = lit((k + 1).toDouble)
      val terms = t(s, dir, "documents")
        .select(col("source"),
          explode(filter(split(trim(col("text")), "\\s+"), _ =!= "")).as("term"))
        .localCheckpoint(eager = false) // consumers: summaries + exact counts
      val entries = terms
        .groupBy("source").agg(mgTopK(col("term"), k).as("sk"))
        .agg(mgMerge(col("sk")).as("sk"))
        .select(explode(mgEntries(col("sk"))).as("e"))
        .select(col("e.term").as("term"), col("e.est").as("est"))
      val total = terms.agg(count(lit(1)).as("n_total"))
      terms.groupBy("term").agg(count(lit(1)).as("freq"))
        .crossJoin(broadcast(total))
        .filter(col("freq") > col("n_total") / bound)
        .join(entries, Seq("term"), "left")
        .select(col("term"), col("freq"),
          (col("est").isNotNull && col("est") <= col("freq") &&
            (col("freq") - coalesce(col("est"), lit(0L))) <=
              col("n_total") / bound).as("present_and_bounded"))
    },
      // MG contract: exact heavy-term row set + frequencies; presence and
      // the undercount envelope are the summary's guarantee → TRUE.
      oracleSql =
      """WITH tms AS (SELECT
        |    unnest(list_filter(string_split_regex(trim(text), '\s+'),
        |      x -> x <> '')) AS term
        |  FROM documents),
        |tot AS (SELECT count(*) AS n_total FROM tms)
        |SELECT term, CAST(count(*) AS BIGINT) AS freq,
        |  TRUE AS present_and_bounded
        |FROM tms, tot
        |GROUP BY term, tot.n_total
        |HAVING count(*) > tot.n_total / 201.0""".stripMargin),

    // --- beyond-reference: writing-system (script) detection -------------
    // Multilingual web corpora route by SCRIPT before language: a
    // Unicode-block histogram is one regexp-algebra scan (chars in
    // class = len − len(after removal)), no shuffle until the per-source
    // rollup, and the \x{...} class syntax is shared verbatim by Java
    // regex and RE2 so the oracle mirrors symbol-for-symbol. BMP ranges
    // only (UTF-16 units ≡ code points — the length() parity the oracle
    // needs). The ASCII testdata gets deterministic per-row script
    // suffixes (c_custkey%4, same constants interpolated into both
    // sides); c_name carries exactly 8 Latin letters, so the 11/12/10-
    // letter suffixes flip dominance and ALL four classifier branches
    // fire. Dominant = explicit >= case-chain (earlier script wins
    // ties), identical in both engines.
    QueryDef("q_script_detect", (s, dir) => {
      def cnt(c: Column, pat: String): Column =
        (length(c) - length(regexp_replace(c, pat, ""))).cast("long")
      val suffix = element_at(
        array(scriptSuffixes.map(lit): _*), (col("c_custkey") % 4).cast("int") + 1)
      val txt = concat(col("c_name"), suffix)
      val counted = t(s, dir, "customer")
        .select(col("c_mktsegment"),
          cnt(txt, scriptRanges("latin")).as("latin"),
          cnt(txt, scriptRanges("cyrillic")).as("cyr"),
          cnt(txt, scriptRanges("greek")).as("greek"),
          cnt(txt, scriptRanges("cjk")).as("cjk"))
        .withColumn("dominant",
          when(col("latin") >= col("cyr") && col("latin") >= col("greek") &&
            col("latin") >= col("cjk"), "latin")
            .when(col("cyr") >= col("greek") && col("cyr") >= col("cjk"), "cyrillic")
            .when(col("greek") >= col("cjk"), "greek")
            .otherwise("cjk"))
      counted.groupBy("c_mktsegment", "dominant")
        .agg(count(lit(1)).as("n_rows"),
          sum("latin").as("sum_latin"), sum("cyr").as("sum_cyr"),
          sum("greek").as("sum_greek"), sum("cjk").as("sum_cjk"))
    },
      // Same \x{...} classes, same suffix constants, same >= case-chain —
      // interpolated from the shared Scala values so the two sides cannot
      // drift.
      oracleSql = {
      def cnt(p: String) =
        s"CAST(length(txt) - length(regexp_replace(txt, '$p', '', 'g')) AS BIGINT)"
      s"""WITH t AS (SELECT c_mktsegment,
         |  c_name || CASE CAST(c_custkey % 4 AS INT)
         |    WHEN 0 THEN '${scriptSuffixes(0)}' WHEN 1 THEN '${scriptSuffixes(1)}'
         |    WHEN 2 THEN '${scriptSuffixes(2)}' ELSE '${scriptSuffixes(3)}' END AS txt
         |  FROM customer),
         |c AS (SELECT c_mktsegment,
         |  ${cnt(scriptRanges("latin"))} AS latin,
         |  ${cnt(scriptRanges("cyrillic"))} AS cyr,
         |  ${cnt(scriptRanges("greek"))} AS greek,
         |  ${cnt(scriptRanges("cjk"))} AS cjk
         |  FROM t),
         |d AS (SELECT *,
         |  CASE WHEN latin >= cyr AND latin >= greek AND latin >= cjk THEN 'latin'
         |       WHEN cyr >= greek AND cyr >= cjk THEN 'cyrillic'
         |       WHEN greek >= cjk THEN 'greek' ELSE 'cjk' END AS dominant
         |  FROM c)
         |SELECT c_mktsegment, dominant, CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(sum(latin) AS BIGINT) AS sum_latin,
         |  CAST(sum(cyr) AS BIGINT) AS sum_cyr,
         |  CAST(sum(greek) AS BIGINT) AS sum_greek,
         |  CAST(sum(cjk) AS BIGINT) AS sum_cjk
         |FROM d GROUP BY 1, 2""".stripMargin
    }),

    // --- beyond-reference: sorted-neighborhood near-dup ------------------
    // The classic entity-resolution alternative to LSH blocking: sort by
    // a similarity-preserving key (here the first 3 of the sorted
    // distinct tokens — near-dups share most tokens, so their sorted
    // prefixes collide), then compare each doc ONLY against its w−1=2
    // successors in key order. O(n·w) comparisons after one sort-shuffle
    // — at 100 TB the window rides a partitioned sort (partition by
    // source; a finer key prefix at higher cardinality), never a global
    // one. Exact distinct-token Jaccard on the surviving pairs mirrors
    // into DuckDB's window+list algebra one-to-one.
    QueryDef("q_sorted_neighbor", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy("key", "doc_id")
      val base = t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          array_distinct(filter(split(trim(col("text")), "\\s+"), _ =!= ""))
            .as("toks"))
        .withColumn("key", concat_ws(" ", slice(array_sort(col("toks")), 1, 3)))
      val withNext = base
        .withColumn("n1", lead(col("toks"), 1).over(w))
        .withColumn("n2", lead(col("toks"), 2).over(w))
      def jac(other: Column): Column = {
        val i = size(array_intersect(col("toks"), other)).cast("double")
        val u = size(array_union(col("toks"), other)).cast("double")
        when(other.isNull, lit(null)).otherwise(
          when(u > 0.0, i / u).otherwise(0.0))
      }
      withNext
        .select(col("source"), jac(col("n1")).as("j1"), jac(col("n2")).as("j2"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          (count(col("j1")) + count(col("j2"))).as("n_pairs"),
          (sum(when(col("j1") >= 0.5, 1L).otherwise(0L)) +
            sum(when(col("j2") >= 0.5, 1L).otherwise(0L))).as("n_dups"))
    },
      // Window + list algebra, one-to-one with the Spark side: same sorted-
      // token-prefix key, same (key, doc_id) order, same exact Jaccard.
      oracleSql =
      """WITH docs AS (SELECT doc_id, source,
        |    list_distinct(list_filter(string_split_regex(trim(text), '\s+'),
        |      x -> x <> '')) AS toks
        |  FROM documents),
        |k AS (SELECT *, array_to_string(list_sort(toks)[1:3], ' ') AS key FROM docs),
        |w AS (SELECT source, toks,
        |    lead(toks, 1) OVER (PARTITION BY source ORDER BY key, doc_id) AS n1,
        |    lead(toks, 2) OVER (PARTITION BY source ORDER BY key, doc_id) AS n2
        |  FROM k),
        |j AS (SELECT source,
        |    CASE WHEN n1 IS NULL THEN NULL
        |         WHEN len(list_distinct(list_concat(toks, n1))) > 0
        |         THEN CAST(len(list_intersect(toks, n1)) AS DOUBLE)
        |              / len(list_distinct(list_concat(toks, n1)))
        |         ELSE 0.0 END AS j1,
        |    CASE WHEN n2 IS NULL THEN NULL
        |         WHEN len(list_distinct(list_concat(toks, n2))) > 0
        |         THEN CAST(len(list_intersect(toks, n2)) AS DOUBLE)
        |              / len(list_distinct(list_concat(toks, n2)))
        |         ELSE 0.0 END AS j2
        |  FROM w)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(j1) + count(j2) AS BIGINT) AS n_pairs,
        |  CAST(sum(CASE WHEN j1 >= 0.5 THEN 1 ELSE 0 END)
        |     + sum(CASE WHEN j2 >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_dups
        |FROM j GROUP BY 1""".stripMargin),

    // --- beyond-reference: incremental view maintenance (append-only) ---
    // The daily-pipeline primitive: four weekly delta batches fold through
    // Ivm.mergeAggStates (union + re-agg, each step persisted like a real
    // pipeline persists yesterday's state) and the folded state must be
    // BIT-IDENTICAL to the one-shot group-by the oracle runs — count/sum/
    // min/max maintained in O(|delta|) per day, never rescanning history.
    // Sums ride decimal(18,6) end-to-end so the fold is order-free.
    QueryDef("q_ivm_agg", (s, dir) => {
      val keys = Seq("event_type", "ubucket")
      val ev = t(s, dir, "events")
        .select(col("event_type"),
          (col("user_id") % 10).cast("int").as("ubucket"),
          col("value").cast("decimal(18,6)").as("v"),
          dayofmonth(col("ts")).as("day"))
      val weeks = Seq(
        ev.filter(col("day") <= 7),
        ev.filter(col("day") > 7 && col("day") <= 14),
        ev.filter(col("day") > 14 && col("day") <= 21),
        ev.filter(col("day") > 21),
      ).map(b => Ivm.aggState(b, keys, "v"))
      val state = weeks.tail.foldLeft(weeks.head)((st, d) =>
        Ivm.mergeAggStates(st, d, keys).localCheckpoint(eager = false))
      state.select(col("event_type"), col("ubucket"), col("n"),
        col("sum_v").cast("double").as("sum_v"),
        col("min_v").cast("double").as("min_v"),
        col("max_v").cast("double").as("max_v"))
    },
      // The IVM oracles are FULL RECOMPUTES: the Spark side assembles the
      // view from persisted state + delta algebra, DuckDB scans everything
      // once — hash equality proves the maintenance is exact, not
      // approximately right. Decimal casts mirror Spark's double→decimal
      // Cast, which rounds the SHORTEST-REPR string (BigDecimal.valueOf):
      // DuckDB's double→VARCHAR→DECIMAL chain is the semantics-identical
      // mirror (a direct double→DECIMAL cast rounds the binary expansion
      // and drifts one ulp on repr-boundary rows). These decimals stay
      // INTERNAL (≤18 precision where they do surface; see GateLintSpec).
      oracleSql =
      """SELECT event_type, CAST(user_id % 10 AS INTEGER) AS ubucket,
        |  count(*) AS n,
        |  CAST(sum(CAST(CAST(value AS VARCHAR) AS DECIMAL(18,6))) AS DOUBLE) AS sum_v,
        |  CAST(min(CAST(CAST(value AS VARCHAR) AS DECIMAL(18,6))) AS DOUBLE) AS min_v,
        |  CAST(max(CAST(CAST(value AS VARCHAR) AS DECIMAL(18,6))) AS DOUBLE) AS max_v
        |FROM events GROUP BY 1, 2""".stripMargin),

    // IVM for a JOIN view: J = orders ⋈ customer under append-only deltas
    // on BOTH sides. The maintained view is assembled as
    // J_old ∪ (ΔA⋈B_old) ∪ (A_old⋈ΔB) ∪ (ΔA⋈ΔB) — old never re-pairs
    // against old; every delta term broadcasts its customer side — and
    // must reproduce the full-recompute join the oracle runs, aggregated
    // per nation so the gate hashes a stable small result.
    QueryDef("q_ivm_join", (s, dir) => {
      val orders = t(s, dir, "orders").select(
        col("o_custkey").as("c_custkey"), col("o_totalprice"),
        col("o_orderdate"))
      val cust = t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
      val cut = to_timestamp(lit("1998-07-01"))
      val aOld = orders.filter(col("o_orderdate") < cut)
      val aDelta = orders.filter(col("o_orderdate") >= cut)
      val bOld = cust.filter(col("c_custkey") % 2 === 0)
      val bDelta = cust.filter(col("c_custkey") % 2 === 1)
      val jOld = aOld.join(broadcast(bOld), Seq("c_custkey"))
      val j = jOld.unionByName(
        Ivm.joinDelta(aOld, aDelta, broadcast(bOld), broadcast(bDelta),
          Seq("c_custkey")))
      j.groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").as("revenue"))
    }, oracleSql =
      """SELECT c_nationkey, count(*) AS n_orders,
        |  CAST(sum(CAST(CAST(o_totalprice AS VARCHAR) AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1""".stripMargin),

    // IVM under RETRACTION: a signed changelog (op = +1 insert / −1
    // retract) folds through the counting algorithm — two insert batches,
    // then a retraction batch expiring days 1–10 (a retention-window TTL)
    // and the whole 'error' type (a full key retraction). count/sum
    // maintain as signed sums; min/max day come off a (key, day, support)
    // support table, which is what survives retracting the CURRENT
    // minimum — 'error' keys reach zero support and leave the view.
    QueryDef("q_ivm_retract", (s, dir) => {
      val keys = Seq("event_type", "ubucket")
      val ev = t(s, dir, "events")
        .select(col("event_type"),
          (col("user_id") % 10).cast("int").as("ubucket"),
          col("value").cast("decimal(18,6)").as("v"),
          dayofmonth(col("ts")).as("day"))
      val (ins1, ins2, dels) = retractChangelog(ev)
      val scalarSt = Seq(ins2, dels).foldLeft(
        Ivm.signedAggState(ins1, keys, "v", "op"))((acc, b) =>
        Ivm.mergeSignedStates(acc, Ivm.signedAggState(b, keys, "v", "op"), keys)
          .localCheckpoint(eager = false))
      val supportSt = Seq(ins2, dels).foldLeft(
        Ivm.supportState(ins1, keys, "day", "op"))((acc, b) =>
        Ivm.mergeSupportStates(acc, Ivm.supportState(b, keys, "day", "op"),
          keys, "day").localCheckpoint(eager = false))
      Ivm.finishSigned(scalarSt)
        .join(Ivm.extremaFromSupport(supportSt, keys, "day"), keys)
        .select(col("event_type"), col("ubucket"), col("n"),
          col("sum_v").cast("double").as("sum_v"),
          col("min_v").as("min_day"), col("max_v").as("max_day"))
    }, oracleSql =
      """SELECT event_type, CAST(user_id % 10 AS INTEGER) AS ubucket,
        |  count(*) AS n,
        |  CAST(sum(CAST(CAST(value AS VARCHAR) AS DECIMAL(18,6))) AS DOUBLE) AS sum_v,
        |  CAST(min(date_part('day', ts)) AS INTEGER) AS min_day,
        |  CAST(max(date_part('day', ts)) AS INTEGER) AS max_day
        |FROM events
        |WHERE date_part('day', ts) > 10 AND event_type <> 'error'
        |GROUP BY 1, 2""".stripMargin),

    // Retraction THROUGH a join: a signed order changelog (insert all,
    // then purge pre-1996 'F' orders — a retention delete) joins the
    // customer dimension with its op intact, and the per-nation view
    // folds as signed sums — deletes propagate through joins by
    // multiplicity algebra (m_join = m_A · m_B), never by rescanning.
    QueryDef("q_ivm_join_retract", (s, dir) => {
      val keys = Seq("c_nationkey")
      val orders = t(s, dir, "orders").select(
        col("o_custkey").as("c_custkey"),
        col("o_totalprice").cast("decimal(18,2)").as("v"),
        col("o_orderdate"), col("o_orderstatus"))
      val cust = t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
      val purgeCut = to_timestamp(lit("1996-01-01"))
      val ins = orders.withColumn("op", lit(1))
      val dels = orders
        .filter(col("o_orderstatus") === "F" && col("o_orderdate") < purgeCut)
        .withColumn("op", lit(-1))
      val st = Ivm.mergeSignedStates(
        Ivm.signedAggState(ins.join(broadcast(cust), Seq("c_custkey")), keys, "v", "op"),
        Ivm.signedAggState(dels.join(broadcast(cust), Seq("c_custkey")), keys, "v", "op"),
        keys)
      Ivm.finishSigned(st)
        .select(col("c_nationkey"), col("n").as("n_orders"),
          col("sum_v").cast("double").as("revenue"))
    }, oracleSql =
      """SELECT c_nationkey, count(*) AS n_orders,
        |  CAST(sum(CAST(CAST(o_totalprice AS VARCHAR) AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE NOT (o_orderstatus = 'F' AND o_orderdate < TIMESTAMP '1996-01-01')
        |GROUP BY 1""".stripMargin),

    // COUNT DISTINCT under retraction — the textbook non-distributive
    // IVM case: the (key, user, support) table is the state that makes
    // it maintainable, because a user leaves the view only when their
    // LAST event is retracted (support hits 0) — a scalar distinct count
    // could never know. Same changelog as q_ivm_retract (TTL-expire
    // days 1–10, retract the 'error' type entirely).
    QueryDef("q_ivm_distinct", (s, dir) => {
      val keys = Seq("event_type", "ubucket")
      val ev = t(s, dir, "events")
        .select(col("event_type"),
          (col("user_id") % 10).cast("int").as("ubucket"),
          col("user_id").as("user"),
          dayofmonth(col("ts")).as("day"))
      val (ins1, ins2, dels) = retractChangelog(ev)
      val st = Seq(ins2, dels).foldLeft(
        Ivm.supportState(ins1, keys, "user", "op"))((acc, b) =>
        Ivm.mergeSupportStates(acc, Ivm.supportState(b, keys, "user", "op"),
          keys, "user").localCheckpoint(eager = false))
      Ivm.distinctFromSupport(st, keys)
        .select(col("event_type"), col("ubucket"), col("n_distinct"))
    }, oracleSql =
      """SELECT event_type, CAST(user_id % 10 AS INTEGER) AS ubucket,
        |  count(DISTINCT user_id) AS n_distinct
        |FROM events
        |WHERE date_part('day', ts) > 10 AND event_type <> 'error'
        |GROUP BY 1, 2""".stripMargin),

    // QUANTILES under retraction — sketches are the append-only shape
    // (mergeable, O(k) state) but CANNOT retract; the support table
    // makes order statistics exact under arbitrary insert/delete churn
    // because the live distribution IS the state, at distinct-value
    // grain (integer-floored values here, so the state is value-bounded
    // like q_ivm_retract's day grain — NOT row-bounded). Type-1 lower
    // quantile (smallest value with cumulative support ≥ ceil(f·N)) is
    // pure integer/IEEE-identical arithmetic, so the gate hashes it
    // cross-engine. Same TTL changelog as the rest of the family.
    QueryDef("q_ivm_quantile_retract", (s, dir) => {
      val keys = Seq("event_type")
      val ev = t(s, dir, "events")
        .filter(col("value").isNotNull)
        .select(col("event_type"),
          floor(col("value")).cast("int").as("v"),
          dayofmonth(col("ts")).as("day"))
      val (ins1, ins2, dels) = retractChangelog(ev)
      val st = Seq(ins2, dels).foldLeft(
        Ivm.supportState(ins1, keys, "v", "op"))((acc, b) =>
        Ivm.mergeSupportStates(acc, Ivm.supportState(b, keys, "v", "op"),
          keys, "v").localCheckpoint(eager = false))
      Ivm.quantileFromSupport(st, keys, "v",
        Seq("p25_v" -> 0.25, "median_v" -> 0.5, "p90_v" -> 0.9))
    },
      // full recompute over the live rows: type-1 quantiles off the
      // support-table shape, mirrored arithmetic (ceil(f*N) on identical
      // IEEE doubles)
      oracleSql =
      """WITH sup AS (
        |  SELECT event_type, CAST(floor(value) AS INTEGER) AS v,
        |    count(*) AS support
        |  FROM events
        |  WHERE value IS NOT NULL
        |    AND date_part('day', ts) > 10 AND event_type <> 'error'
        |  GROUP BY 1, 2),
        |c AS (
        |  SELECT event_type, v,
        |    sum(support) OVER (PARTITION BY event_type ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(support) OVER (PARTITION BY event_type) AS tot
        |  FROM sup)
        |SELECT event_type,
        |  min(CASE WHEN cum >= ceil(0.25 * tot) THEN v END) AS p25_v,
        |  min(CASE WHEN cum >= ceil(0.5 * tot) THEN v END) AS median_v,
        |  min(CASE WHEN cum >= ceil(0.9 * tot) THEN v END) AS p90_v
        |FROM c GROUP BY 1""".stripMargin),

    // TOP-K under retraction — the aggregate family the append-only
    // leaderboard fold (q_topk_incremental) cannot maintain under
    // deletes: retracting the reigning #1 needs the runner-up, which a
    // ≤k scalar state no longer has. The id-grain support table is the
    // fix (same contract as q_ivm_distinct: live rows ARE the state;
    // exactness under arbitrary retraction requires them), and the READ
    // stays bounded — TopKAgg carries ≤k pairs per key per exchange, so
    // a skewed key never window-sorts its live set. Same changelog as
    // q_ivm_retract (TTL-expire days 1-10, retract 'error' entirely —
    // which deletes whole reigning leaderboards, not just tail rows).
    QueryDef("q_ivm_topk_retract", (s, dir) => {
      val keys = Seq("event_type")
      val grain = keys :+ "value"
      val ev = t(s, dir, "events")
        .filter(col("value").isNotNull)
        .select(col("event_type"), col("event_id"), col("value"),
          dayofmonth(col("ts")).as("day"))
      val (ins1, ins2, dels) = retractChangelog(ev)
      val st = Seq(ins2, dels).foldLeft(
        Ivm.supportState(ins1, grain, "event_id", "op"))((acc, b) =>
        Ivm.mergeSupportStates(acc, Ivm.supportState(b, grain, "event_id", "op"),
          grain, "event_id").localCheckpoint(eager = false))
      Ivm.topKFromSupport(st, keys, "value", "event_id", 5)
        .select(col("event_type"), col("rank").cast("int").as("rank"),
          col("event_id"), col("value"))
    },
      // full recompute over the live rows: the maintained leaderboard must
      // equal the one-shot window ranking bit-for-bit
      oracleSql =
      liveLeaderboardSql),

    // TOP-K under retraction with BOUNDED state — the compacting trade
    // the exact support table (q_ivm_topk_retract, state = live rows)
    // cannot make: keep only the top k·m rows per key plus a live
    // counter; deletes below the buffer's watermark touch ONLY the
    // counter, and the buffer invariant (every hidden row sorts below
    // every buffered row) keeps reads bit-identical to a full recompute
    // until deletes gnaw the buffer below k with rows still hidden —
    // then the read fails LOUDLY and Ivm.topKBoundedRebuild re-seeds
    // exactly those keys from the changelog (IvmSpec drives that path;
    // this churn stays within the m·k slack, as a tuned buffer should).
    // Same changelog as q_ivm_topk_retract; same full-recompute oracle —
    // state here is ~k·m rows/key vs the live set (BENCH.md pins the
    // growth gap).
    QueryDef("q_ivm_topk_bounded", (s, dir) => {
      val keys = Seq("event_type")
      val ev = t(s, dir, "events")
        .filter(col("value").isNotNull)
        .select(col("event_type"), col("event_id"), col("value"),
          dayofmonth(col("ts")).as("day"))
      val (ins1, ins2, dels) = retractChangelog(ev)
      val st0 = Ivm.topKBoundedInit(ins1, keys, "value", "event_id", k = 5, m = 4)
      val folded = Seq(ins2, dels).foldLeft(st0) { (acc, b) =>
        val next = Ivm.topKBoundedMerge(acc, b, keys, "value", "event_id", "op",
          k = 5, m = 4)
        Ivm.TopKBoundedState(
          next.buffer.localCheckpoint(eager = false),
          next.meta.localCheckpoint(eager = false))
      }
      // The FULL bounded protocol includes the rebuild decision: check
      // which keys underflowed (deletes beyond the m·k slack — at sf10
      // the replicated corpus makes deletes perfectly value-correlated
      // and wipes whole buffers at once) and re-seed exactly those from
      // the changelog's live rows. The check is a bounded driver action
      // over the (checkpointed, ≤keys-sized) state — the same decision a
      // real maintenance job makes before paying for a changelog read;
      // at the gate scales nothing underflows and the rebuild lineage is
      // never even planned, so the oracle checks the maintained path.
      val st =
        if (Ivm.topKBoundedUnderflowKeys(folded, keys, 5).isEmpty) folded
        else Ivm.topKBoundedRebuild(
          folded,
          ev.filter(!(col("day") <= 10 || col("event_type") === "error"))
            .select(col("event_type"), col("event_id"), col("value")),
          keys, "value", "event_id", k = 5, m = 4)
      Ivm.topKFromBounded(st, keys, "value", "event_id", 5)
        .select(col("event_type"), col("rank").cast("int").as("rank"),
          col("event_id"), col("value"))
    },
      // the bounded-buffer variant maintains a different state but must
      // read back the IDENTICAL leaderboard while churn stays in-buffer
      oracleSql =
      liveLeaderboardSql),

    // --- beyond-reference: feature-hashing vectorizer (hashing trick) ---
    // Weinberger et al. 2009: token → bucket via hash, ± sign via a
    // second hash bit, per-doc sparse vector = signed counts per bucket —
    // the fixed-width featurizer that needs NO vocabulary table, so at
    // 100 TB there is no dictionary build, no OOV, and the plan is one
    // explode + one (doc, bucket) partial-combining agg, sparse
    // end-to-end (never densified). The gate hashes per-doc integer
    // invariants (nnz, squared norm, bucket-weighted checksum) — exact
    // integer arithmetic, zero libm; the md5 bucket/sign replay in
    // DuckDB via the established conv/substr idiom.
    QueryDef("q_feature_hash", (s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("doc_id"),
          explode(filter(split(trim(col("text")), "\\s+"), _ =!= "")).as("tok"))
      val h = md5(col("tok"))
      val bucket = conv(substring(h, 1, 8), 16, 10).cast("long") % 64
      val sgn = when(
        conv(substring(h, 9, 1), 16, 10).cast("long") % 2 === 0, 1L)
        .otherwise(-1L)
      toks.select(col("doc_id"), bucket.as("bucket"), sgn.as("sgn"))
        .groupBy("doc_id", "bucket")
        .agg(sum(col("sgn")).as("w"))
        .filter(col("w") =!= 0)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_nonzero"),
          sum(col("w") * col("w")).as("sq_norm"),
          sum(col("bucket") * col("w")).as("checksum"))
    }, oracleSql =
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(string_split_regex(trim(text), '\s+'),
        |    x -> x <> '')) AS tok
        |  FROM documents),
        |b AS (
        |  SELECT doc_id,
        |    CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) % 64 AS bucket,
        |    CASE WHEN CAST('0x' || substr(md5(tok), 9, 1) AS BIGINT) % 2 = 0
        |         THEN 1 ELSE -1 END AS sgn
        |  FROM toks),
        |w AS (
        |  SELECT doc_id, bucket, CAST(sum(sgn) AS BIGINT) AS w
        |  FROM b GROUP BY 1, 2 HAVING sum(sgn) <> 0)
        |SELECT doc_id, count(*) AS n_nonzero,
        |  CAST(sum(w * w) AS BIGINT) AS sq_norm,
        |  CAST(sum(bucket * w) AS BIGINT) AS checksum
        |FROM w GROUP BY 1""".stripMargin),

    // --- beyond-reference: positional phrase search ----------------------
    // Retrieval-engine phrase query: the corpus's top-3 trigram phrases
    // (discovered in-query, so nothing is hard-coded against regenerating
    // testdata) are located through a POSITIONAL POSTINGS probe — w1
    // postings seed, w2/w3 postings pre-pruned by a broadcast term
    // semi-join, then equi-joins on (doc, pos+1)/(doc, pos+2). At 100 TB
    // the probe touches only the query terms' postings rows — never a
    // text scan. The oracle counts the same phrases by shingle counting:
    // two DIFFERENT algorithms that must agree exactly.
    QueryDef("q_phrase_search", (s, dir) => {
      val docs = t(s, dir, "documents")
      // one tokenize pass feeds trigram discovery and the three probes
      val posts = docs.select(col("doc_id"),
        posexplode(filter(split(trim(col("text")), "\\s+"), _ =!= ""))
          .as(Seq("pos", "tok")))
        .localCheckpoint(eager = false)
      val tri = docs
        .select(explode(TextAnalysis.wordShingles(col("text"), 3)).as("gram"))
        .groupBy("gram").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("gram")).limit(3)
        .select(col("gram"),
          split(col("gram"), " ").getItem(0).as("w1"),
          split(col("gram"), " ").getItem(1).as("w2"),
          split(col("gram"), " ").getItem(2).as("w3"))
      val probe = posts.join(broadcast(tri), col("tok") === col("w1"))
        .select(col("gram"), col("w2"), col("w3"), col("doc_id"), col("pos"))
      def pruned(wCol: String, d: String, q: String, tk: String) =
        posts.join(broadcast(tri.select(col(wCol)).distinct()),
            col("tok") === col(wCol), "leftsemi")
          .select(col("doc_id").as(d), col("pos").as(q), col("tok").as(tk))
      probe
        .join(pruned("w2", "d2", "q2", "t2"),
          col("d2") === col("doc_id") && col("q2") === col("pos") + 1 &&
            col("t2") === col("w2"))
        .join(pruned("w3", "d3", "q3", "t3"),
          col("d3") === col("doc_id") && col("q3") === col("pos") + 2 &&
            col("t3") === col("w3"))
        .groupBy("gram")
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_occ"))
    },
      // Phrase search: the oracle counts the top-3 trigrams by SHINGLE
      // counting — a different algorithm than the engine's positional
      // postings joins; exact agreement is the point.
      oracleSql =
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'),
        |    x -> x <> '') AS t
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, unnest(CASE WHEN len(t) >= 3
        |    THEN list_transform(range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' '))
        |    ELSE [] END) AS gram
        |  FROM toks),
        |top3 AS (SELECT gram, count(*) AS n FROM grams
        |  GROUP BY 1 ORDER BY n DESC, gram LIMIT 3)
        |SELECT g.gram, count(DISTINCT g.doc_id) AS n_docs, count(*) AS n_occ
        |FROM grams g JOIN top3 USING (gram)
        |GROUP BY 1""".stripMargin),

    // --- beyond-reference: mergeable MinHash set signatures -------------
    // Signatures as UNION-mergeable sketches: per-(source, shard) partial
    // signatures (16 column-wise mins over md5-hashed shingles) merge by
    // ELEMENTWISE MIN into the per-source corpus signature — min(h(A∪B))
    // = min(min(h(A)), min(h(B))), the property that lets a standing
    // corpus signature absorb a day's batch without rescanning history.
    // Exact-replay twist on the xxhash64 production path (NearDup): md5
    // hashes make every signature component, match count, AND the exact
    // shingle-set Jaccard identically computable in DuckDB — the gate
    // hashes the real values, no envelope booleans.
    QueryDef("q_minhash_union", (s, dir) => {
      val docs = t(s, dir, "documents")
      def h(i: Int): Column = conv(substring(
        md5(concat(lit(s"${i}_"), col("sh"))), 1, 8), 16, 10).cast("long")
      // r14: signatures hash the DISTINCT (source, shingle) set — min-hash
      // over duplicated rows is identical (min of repeated values), and the
      // exact-verification side needs exactly that distinct anyway, so the
      // 16 per-row md5s run once per distinct shingle instead of once per
      // (doc, shingle) occurrence and the two paths share one shuffle. The
      // (source, shard) partial-agg level is gone with it: min() already
      // partial-aggregates map-side, so the shard tier bought nothing the
      // hash aggregate doesn't do by itself. Idle A/B at sf0.1: 4.56 →
      // 1.82 s, output bit-identical (same oracle, same hash).
      val setsAll = docs.select(col("source"),
          explode(array_distinct(TextAnalysis.wordShingles(col("text"), 3))).as("sh"))
        .distinct()
        .localCheckpoint(eager = false) // feeds signatures AND exact sets
      val sigAggs = (0 until 16).map(i => min(h(i)).as(s"sig$i"))
      val merged = setsAll.groupBy("source").agg(sigAggs.head, sigAggs.tail: _*)
      // Exact-verification side: Jaccard over the df-CAPPED shingle
      // universe (source-df ≤ 64, mirrored in the oracle). At 20 sources
      // the cap cannot bind, so the value IS the true Jaccard; at corpus
      // scale it bounds the shingle self-join below to ≤ C(64,2) pairs
      // per shingle — the prefix-filter treatment the PPJoin path
      // already applies, without which one corpus-universal shingle
      // multiplies by S². The production signature path above is
      // UNcapped and never self-joins.
      val sets = setsAll.join(
        setsAll.groupBy("sh").agg(count(lit(1)).as("df"))
          .filter(col("df") <= 64).select("sh"),
        Seq("sh"), "leftsemi")
      val sizes = sets.groupBy("source").agg(count(lit(1)).as("n"))
      val inter = sets.as("x").join(sets.as("y"),
          col("x.sh") === col("y.sh") && col("x.source") < col("y.source"))
        .groupBy(col("x.source").as("source_a"), col("y.source").as("source_b"))
        .agg(count(lit(1)).as("n_inter"))
      val nMatch = (0 until 16)
        .map(i => when(col(s"a.sig$i") === col(s"b.sig$i"), 1L).otherwise(0L))
        .reduceLeft(_ + _)
      val pairs = merged.as("a")
        .join(broadcast(merged.as("b")), col("a.source") < col("b.source"))
        .select(col("a.source").as("source_a"), col("b.source").as("source_b"),
          nMatch.as("n_match_sig"))
      pairs
        .join(broadcast(sizes.select(col("source").as("source_a"), col("n").as("n_a"))), Seq("source_a"))
        .join(broadcast(sizes.select(col("source").as("source_b"), col("n").as("n_b"))), Seq("source_b"))
        .join(inter, Seq("source_a", "source_b"), "left")
        .select(col("source_a"), col("source_b"), col("n_match_sig"),
          coalesce(col("n_inter"), lit(0L)).as("n_inter"),
          (col("n_a") + col("n_b") - coalesce(col("n_inter"), lit(0L))).as("n_union"),
          (col("n_match_sig") / lit(16.0)).as("est_jaccard"),
          (coalesce(col("n_inter"), lit(0L)).cast("double") /
            (col("n_a") + col("n_b") - coalesce(col("n_inter"), lit(0L))).cast("double"))
            .as("jaccard"))
    }, oracleSql = {
      val sigP = (0 until 16).map(i =>
        s"min(CAST('0x' || substr(md5('${i}_' || sh), 1, 8) AS BIGINT)) AS sig$i")
        .mkString(",\n    ")
      val sigM = (0 until 16).map(i => s"min(sig$i) AS sig$i").mkString(", ")
      val matches = (0 until 16)
        .map(i => s"(CASE WHEN a.sig$i = b.sig$i THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH toks AS (
         |  SELECT doc_id, source, list_filter(string_split_regex(trim(text), '\\s+'),
         |    x -> x <> '') AS t
         |  FROM documents),
         |hs AS (
         |  SELECT source, doc_id % 4 AS shard, unnest(list_distinct(
         |    CASE WHEN len(t) >= 3
         |    THEN list_transform(range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' '))
         |    ELSE [] END)) AS sh
         |  FROM toks),
         |partial AS (
         |  SELECT source, shard,
         |    $sigP
         |  FROM hs GROUP BY 1, 2),
         |merged AS (SELECT source, $sigM FROM partial GROUP BY 1),
         |sets0 AS (SELECT DISTINCT source, sh FROM hs),
         |sets AS (
         |  SELECT s.source, s.sh FROM sets0 s
         |  JOIN (SELECT sh FROM sets0 GROUP BY sh HAVING count(*) <= 64) r
         |  ON s.sh = r.sh),
         |sizes AS (SELECT source, count(*) AS n FROM sets GROUP BY 1),
         |inter AS (
         |  SELECT x.source AS source_a, y.source AS source_b, count(*) AS n_inter
         |  FROM sets x JOIN sets y ON x.sh = y.sh AND x.source < y.source
         |  GROUP BY 1, 2),
         |pairs AS (
         |  SELECT a.source AS source_a, b.source AS source_b,
         |    CAST($matches AS BIGINT) AS n_match_sig
         |  FROM merged a JOIN merged b ON a.source < b.source)
         |SELECT p.source_a, p.source_b, p.n_match_sig,
         |  CAST(coalesce(i.n_inter, 0) AS BIGINT) AS n_inter,
         |  CAST(na.n + nb.n - coalesce(i.n_inter, 0) AS BIGINT) AS n_union,
         |  p.n_match_sig / 16.0 AS est_jaccard,
         |  CAST(coalesce(i.n_inter, 0) AS DOUBLE)
         |    / CAST(na.n + nb.n - coalesce(i.n_inter, 0) AS DOUBLE) AS jaccard
         |FROM pairs p
         |JOIN sizes na ON p.source_a = na.source
         |JOIN sizes nb ON p.source_b = nb.source
         |LEFT JOIN inter i ON p.source_a = i.source_a AND p.source_b = i.source_b""".stripMargin
    }),

    // --- beyond-reference: WordPiece subword tokenizer ------------------
    // Fit: exactly-64-piece inventory = every corpus character (totality)
    // + top multi-char substrings by occurrences × length, ties
    // lexicographic — all integer arithmetic, so the oracle re-derives
    // the ENTIRE vocabulary exactly (no contract booleans).
    QueryDef("q_wordpiece_vocab", (s, dir) =>
      WordPiece.buildVocab(t(s, dir, "documents"), "text",
        vocabSize = 64, maxPieceLen = 6),
      // WordPiece: the oracle re-derives the full vocabulary (integer
      // scores, lexicographic ties) — shared CTE block with the encode
      // oracle, which additionally replays the greedy walk recursively.
      oracleSql =
      s"""WITH ${wordpieceVocabCtes("TRUE")}
         |SELECT piece, score FROM chars
         |UNION ALL SELECT piece, score FROM multi""".stripMargin),

    // Encode: greedy longest-match segmentation of every document against
    // the fitted inventory — a broadcast-model codegen kernel, zero
    // shuffles on the corpus side (the BERT-tokenizer inference shape).
    // The oracle replays fit AND the greedy walk (recursive CTE) and
    // must match the canonical segmentation string md5 per document —
    // the strongest possible cross-engine check for a tokenizer.
    QueryDef("q_wordpiece_encode", (s, dir) => {
      import s.implicits._
      val vocab = WordPiece.buildVocab(t(s, dir, "documents"), "text",
        vocabSize = 64, maxPieceLen = 6)
        .select("piece").as[String].collect().toSeq.sorted
      t(s, dir, "documents")
        .select(col("doc_id"), WordPiece.encode(col("text"), vocab, 6).as("e"))
        .select(col("doc_id"), col("e.n_words").as("n_words"),
          col("e.n_pieces").as("n_pieces"), col("e.n_unk").as("n_unk"),
          col("e.n_piece_chars").as("sum_piece_len"),
          md5(col("e.seg")).as("seg_md5"))
        .filter(col("n_words") > 0)
    }, oracleSql = wordpieceEncodeSql("TRUE", "TRUE")),

    // OOV: fit on the even half, encode the odd half with a Cyrillic
    // suffix appended (the q_script_detect synthesis trick — the stored
    // corpus is pure Latin, so unseen characters must be introduced
    // in-query, identically in both engines). The unknown-character path
    // fires for real: every encoded doc carries n_unk > 0, gate-hashed.
    QueryDef("q_wordpiece_oov", (s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val vocab = WordPiece.buildVocab(docs.filter(col("doc_id") % 2 === 0),
        "text", vocabSize = 64, maxPieceLen = 6)
        .select("piece").as[String].collect().toSeq.sorted
      docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), WordPiece.encode(
          concat(col("text"), lit(scriptSuffixes(1))), vocab, 6).as("e"))
        .select(col("doc_id"), col("e.n_words").as("n_words"),
          col("e.n_pieces").as("n_pieces"), col("e.n_unk").as("n_unk"),
          col("e.n_piece_chars").as("sum_piece_len"),
          md5(col("e.seg")).as("seg_md5"))
        .filter(col("n_words") > 0)
    },
      // OOV path: fit on even docs, encode odd docs with the Cyrillic
      // suffix appended in-query (identical synthesis both engines), so
      // unknown characters actually fire and n_unk > 0 rows are gate-hashed.
      oracleSql = wordpieceEncodeSql("doc_id % 2 = 0", "doc_id % 2 = 1",
      s"text || '${scriptSuffixes(1)}'")),

    // --- beyond-reference: unigram-LM (SentencePiece) tokenizer ---------
    // The third tokenizer family: same deterministic piece inventory as
    // WordPiece, but pieces carry integer micro-nat log-probs and encode
    // is VITERBI max-probability segmentation (Kudo 2018) — globally
    // optimal per word where WordPiece is greedy. ln fires once per
    // vocabulary piece then quantizes (floor(1e6·ln)), so the DP is pure
    // BIGINT arithmetic and the oracle replays fit + forward DP +
    // backward path reconstruction EXACTLY (two recursive CTEs, the
    // canonical path = shortest last piece achieving dp[i]).
    QueryDef("q_unigram_vocab", (s, dir) =>
      Unigram.buildVocab(t(s, dir, "documents"), "text",
        vocabSize = 64, maxPieceLen = 6),
      // Unigram-LM: the oracle re-derives the full (piece, micro-nat
      // log-prob) model — ln fires on exact BIGINT ratios and quantizes
      // immediately, so the model rows hash-compare directly.
      oracleSql =
      s"""WITH ${unigramVocabCtes("TRUE")}
         |SELECT piece, lp FROM uvocab""".stripMargin),

    // Encode: broadcast-model codegen kernel, zero corpus shuffles (the
    // same scan-side-projection tier as WordPiece/BPE apply). Per-doc
    // md5 of the canonical segmentation + the exact integer Viterbi
    // score total — the DP's optimality is hash-checked, not sampled.
    QueryDef("q_unigram_encode", (s, dir) => {
      import s.implicits._
      val model = Unigram.buildVocab(t(s, dir, "documents"), "text",
        vocabSize = 64, maxPieceLen = 6)
        .select("piece", "lp").as[(String, Long)].collect().toSeq.sortBy(_._1)
      t(s, dir, "documents")
        .select(col("doc_id"), Unigram.encode(col("text"), model, 6).as("e"))
        .select(col("doc_id"), col("e.n_words").as("n_words"),
          col("e.n_pieces").as("n_pieces"), col("e.n_unk").as("n_unk"),
          col("e.score_total").as("score_total"),
          md5(col("e.seg")).as("seg_md5"))
        .filter(col("n_words") > 0)
    },
      // Full Viterbi replay: forward DP + backward canonical path, per-doc
      // segmentation md5 AND the exact optimal integer score — the
      // strongest cross-engine check a DP tokenizer can get.
      oracleSql = unigramEncodeSql("TRUE", "TRUE")),

    // OOV: fit on the even half, encode the odd half with the Cyrillic
    // suffix (q_wordpiece_oov's in-query synthesis) — unknown characters
    // take the derived unk penalty (min vocab lp − 1e6) inside the DP,
    // and n_unk > 0 rows are gate-hashed.
    QueryDef("q_unigram_oov", (s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val model = Unigram.buildVocab(docs.filter(col("doc_id") % 2 === 0),
        "text", vocabSize = 64, maxPieceLen = 6)
        .select("piece", "lp").as[(String, Long)].collect().toSeq.sortBy(_._1)
      docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), Unigram.encode(
          concat(col("text"), lit(scriptSuffixes(1))), model, 6).as("e"))
        .select(col("doc_id"), col("e.n_words").as("n_words"),
          col("e.n_pieces").as("n_pieces"), col("e.n_unk").as("n_unk"),
          col("e.score_total").as("score_total"),
          md5(col("e.seg")).as("seg_md5"))
        .filter(col("n_words") > 0)
    }, oracleSql = unigramEncodeSql("doc_id % 2 = 0", "doc_id % 2 = 1",
      s"text || '${scriptSuffixes(1)}'")),

    // --- beyond-reference: 3-dim z-order cells ---------------------------
    // Layout.zValueN's 3-dim interleave (bit i of dim d at position
    // 3i+d, the 0x1249… mask cascade) surfaced as a gate query: the
    // per-cell min/max rectangles ARE the data-skipping evidence a
    // 3-dim z-clustered layout buys (Delta/Iceberg z-order semantics),
    // and the oracle replays the full mask cascade in SQL bit algebra —
    // every interleaved bit is hash-checked.
    QueryDef("q_zorder3_cells", (s, dir) => {
      t(s, dir, "orders")
        .select(
          col("o_custkey"),
          datediff(col("o_orderdate").cast("date"), lit("1992-01-01").cast("date"))
            .cast("long").as("day"),
          floor(col("o_totalprice") / lit(1000.0)).as("kilo"))
        .withColumn("cell",
          shiftright(graft.core.Layout.zValueN(
            Seq(col("o_custkey"), col("day"), col("kilo"))), 27))
        .groupBy("cell")
        .agg(
          count(lit(1)).as("n"),
          min("o_custkey").as("min_ck"), max("o_custkey").as("max_ck"),
          min("day").as("min_day"), max("day").as("max_day"),
          min("kilo").as("min_kilo"), max("kilo").as("max_kilo"))
    },
      // 3-dim z-order: the spread16x3 mask cascade replayed in SQL bit
      // algebra (decimal constants of the 0x1f00000000ffff … 0x1249249249249249
      // masks), three interleaved dims, same >>27 cell fold.
      oracleSql = zorder3OracleSql),

    // --- beyond-reference: Matryoshka truncation recall ------------------
    // The MRL question (Kusupati et al. 2022): how much ANN recall does a
    // 4×-cheaper 16-dim PREFIX of the 64-dim embedding keep? Exact top-10
    // by full-dim cosine vs top-10 by prefix cosine for 16 probe queries,
    // overlap counted per probe — the offline eval every embedding-
    // truncation rollout runs. Both sides are the proven brute-force
    // shape (probes broadcast, corpus scanned once per side, ties by id);
    // output is pure integers, so the gate hash-checks the SETS, not
    // float renders.
    QueryDef("q_matryoshka", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      def top10(e: DataFrame) = Ann.bruteForceTopK(
          queries = e.filter(col("vec_id") < 16), corpus = e,
          idCol = "vec_id", vecCol = "embedding", k = 10)
        .select(col("qid"), col("vec_id").as("vid"))
      val full = top10(emb)
      val trunc = top10(emb.select(col("vec_id"),
          slice(col("embedding"), 1, 16).as("embedding")))
        .select(col("qid").as("tqid"), col("vid").as("tvid"))
      full
        .join(trunc,
          col("qid") === col("tqid") && col("vid") === col("tvid"), "left")
        .groupBy(col("qid"))
        .agg(lit(10L).as("k"),
          count(col("tvid")).as("n_overlap"))
    },
      // Matryoshka recall: both top-10 sets re-derived brute-force (full
      // cosine and 16-dim-prefix cosine), overlap counted — integer output,
      // the sims never surface.
      oracleSql =
      """WITH f AS (
        |  SELECT q.vec_id AS qid, c.vec_id AS vid,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |                 CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id) AS rn
        |  FROM embeddings q JOIN embeddings c
        |    ON q.vec_id < 16 AND c.vec_id <> q.vec_id),
        |g AS (
        |  SELECT q.vec_id AS qid, c.vec_id AS vid,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(CAST(q.embedding[1:16] AS DOUBLE[]),
        |                 CAST(c.embedding[1:16] AS DOUBLE[])) DESC, c.vec_id) AS rn
        |  FROM embeddings q JOIN embeddings c
        |    ON q.vec_id < 16 AND c.vec_id <> q.vec_id),
        |ft AS (SELECT qid, vid FROM f WHERE rn <= 10),
        |gt AS (SELECT qid, vid FROM g WHERE rn <= 10)
        |SELECT ft.qid, CAST(10 AS BIGINT) AS k,
        |  CAST(count(gt.vid) AS BIGINT) AS n_overlap
        |FROM ft LEFT JOIN gt ON ft.qid = gt.qid AND ft.vid = gt.vid
        |GROUP BY 1""".stripMargin),

    // --- beyond-reference: tokenizer bake-off ----------------------------
    // The eval every tokenizer rollout runs: greedy WordPiece vs Viterbi
    // unigram-LM fitted on the SAME corpus with the SAME inventory
    // statistic, compared on compression (pieces per corpus) per source —
    // BOTH kernels in ONE scan projection (two broadcast models, zero
    // corpus shuffles before the 20-row rollup). sum_chars is tokenizer-
    // independent (segmentations are total), so (sum_chars, wp_pieces,
    // ug_pieces) IS the chars-per-piece comparison in exact integers.
    // The oracle replays both fits and both walks in one statement —
    // the two CTE chains were kept textually disjoint for exactly this.
    QueryDef("q_tokenizer_compare", (s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val wpVocab = WordPiece.buildVocab(docs, "text", vocabSize = 64, maxPieceLen = 6)
        .select("piece").as[String].collect().toSeq.sorted
      val ugModel = Unigram.buildVocab(docs, "text", vocabSize = 64, maxPieceLen = 6)
        .select("piece", "lp").as[(String, Long)].collect().toSeq.sortBy(_._1)
      docs
        .select(col("source"),
          WordPiece.encode(col("text"), wpVocab, 6).as("w"),
          Unigram.encode(col("text"), ugModel, 6).as("u"))
        .filter(col("w.n_words") > 0)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("w.n_piece_chars")).as("sum_chars"),
          sum(col("w.n_pieces")).as("wp_pieces"),
          sum(col("w.n_unk")).as("wp_unk"),
          sum(col("u.n_pieces")).as("ug_pieces"),
          sum(col("u.n_unk")).as("ug_unk"))
    },
      // Tokenizer bake-off: BOTH fit+walk chains replayed in one statement
      // (the CTE names are disjoint by construction), rolled up per source.
      // Zero-word docs drop via join absence, mirroring the n_words > 0
      // filter.
      oracleSql =
      s"""WITH RECURSIVE ${wordpieceEncodeCtes("TRUE", "TRUE")},
         |${unigramEncodeCtes("TRUE", "TRUE")},
         |wpd AS (
         |  SELECT p.doc_id,
         |    CAST(sum(s.npieces) AS BIGINT) AS np,
         |    CAST(sum(s.unk) AS BIGINT) AS unk,
         |    CAST(sum(len(replace(s.seg, chr(31), ''))) AS BIGINT) AS ch
         |  FROM wpos p JOIN segw s USING (w) GROUP BY 1),
         |ugd AS (
         |  SELECT p.doc_id,
         |    CAST(sum(s.np) AS BIGINT) AS np,
         |    CAST(sum(s.unk) AS BIGINT) AS unk
         |  FROM uwpos p JOIN useg s USING (w) GROUP BY 1)
         |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(wpd.ch) AS BIGINT) AS sum_chars,
         |  CAST(sum(wpd.np) AS BIGINT) AS wp_pieces,
         |  CAST(sum(wpd.unk) AS BIGINT) AS wp_unk,
         |  CAST(sum(ugd.np) AS BIGINT) AS ug_pieces,
         |  CAST(sum(ugd.unk) AS BIGINT) AS ug_unk
         |FROM documents d
         |JOIN wpd ON wpd.doc_id = d.doc_id
         |JOIN ugd ON ugd.doc_id = d.doc_id
         |GROUP BY 1""".stripMargin),

    // --- beyond-reference: banded dynamic-time-warping distance ---------
    // Sakoe–Chiba DTW (radius 3) between per-type daily series — the
    // classic elastic-alignment distance for run-behavior clustering.
    // Series assemble on a GLOBAL day spine (equal lengths, missing
    // days = 0) with values micro-quantized per row (floor(v·1e6), IEEE-
    // identical) so the whole DP is exact BIGINT arithmetic. The DP runs
    // in a codegen'd kernel (O(n·r) time, O(r) memory — the band rows
    // slide, the n×m matrix never exists) over broadcast 5-row sides;
    // the oracle replays it with a recursive CTE advancing one band row
    // per step, the 7 in-band cells unrolled as chained LATERALs
    // (left-to-right dependency inside a row). At corpus scale the pair
    // grid is bounded by the type universe, not the event count — the
    // series build is the only corpus-sized pass (one groupBy).
    QueryDef("q_dtw", (s, dir) => {
      import graft.functions.GraftFunctions
      val daily = t(s, dir, "events")
        .groupBy(col("event_type"),
          floor(tsUs(col("ts")) / 86400000000L).cast("long").as("day"))
        .agg(sum(floor(col("value") * lit(1e6)).cast("long")).as("q"))
      val spine = daily.agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
      val series = daily.groupBy("event_type")
        .agg(map_from_entries(collect_list(struct(col("day"), col("q")))).as("m"))
        .crossJoin(broadcast(spine))
        .select(col("event_type"),
          transform(sequence(col("mn"), col("mx")),
            d => coalesce(element_at(col("m"), d), lit(0L))).as("v"))
      series.as("x").join(broadcast(series.as("y")),
          col("x.event_type") < col("y.event_type"))
        .select(col("x.event_type").as("type_a"),
          col("y.event_type").as("type_b"),
          size(col("x.v")).cast("long").as("n"),
          GraftFunctions.dtwBand(col("x.v"), col("y.v"), 3).as("dtw_e6"))
    },
      // Banded DTW: identical micro-quantization, identical band algebra —
      // the recursive CTE advances one band row per step with the 7
      // in-band cells unrolled as chained LATERALs (dp[i][j-1] is a
      // within-row dependency), INF = 1e15 shared with the kernel.
      oracleSql = dtwOracleSql),

    // --- beyond-reference: DTW nearest neighbor --------------------------
    // kNN-by-DTW, the classic time-series classification shape: each
    // probe user's daily series matched to its nearest other probe by
    // banded DTW (argmin with (dtw, nn) tie-break). The probe set is
    // id-bounded — exactly how a production run blocks the quadratic pair
    // grid (cluster reps / LSH buckets / probe samples), so the kernel
    // cost is probes², never users². Same micro-integer series and the
    // same kernel as q_dtw.
    QueryDef("q_dtw_knn", (s, dir) => {
      import graft.functions.GraftFunctions
      val daily = t(s, dir, "events")
        .filter(col("user_id") < 64)
        .groupBy(col("user_id"),
          floor(tsUs(col("ts")) / 86400000000L).cast("long").as("day"))
        .agg(sum(floor(col("value") * lit(1e6)).cast("long")).as("q"))
      val spine = daily.agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
      val series = daily.groupBy("user_id")
        .agg(map_from_entries(collect_list(struct(col("day"), col("q")))).as("m"))
        .crossJoin(broadcast(spine))
        .select(col("user_id"),
          transform(sequence(col("mn"), col("mx")),
            d => coalesce(element_at(col("m"), d), lit(0L))).as("v"))
      series.as("x").join(broadcast(series.as("y")),
          col("x.user_id") =!= col("y.user_id"))
        .select(col("x.user_id").as("user_id"),
          col("y.user_id").as("cand"),
          GraftFunctions.dtwBand(col("x.v"), col("y.v"), 3).as("d"))
        .groupBy("user_id")
        .agg(min(struct(col("d"), col("cand"))).as("best"))
        .select(col("user_id"), col("best.cand").as("nn_user"),
          col("best.d").as("dtw_e6"))
    },
      // DTW-kNN: the same band-row recursion over the probe pair grid,
      // argmin by (dtw, candidate) per probe.
      oracleSql = dtwKnnOracleSql),

    // --- beyond-reference: exact bounded top-k aggregate ----------------
    // graft_topk: top-5 events by value per type WITHOUT a window — the
    // aggregate partial-combines map-side, so exchanges carry ≤ k pairs
    // per key instead of every row the row_number formulation shuffles
    // and sorts (the Dedup.bestRowPerKey win generalized to k > 1).
    // Deliberately TWO-LEVEL (per-day states merged per type with
    // graft_topk_merge) so the gate's hash check covers the merge path:
    // top-k under a total order is exact and order-free, so the merged
    // answer must equal the oracle's direct window bit-for-bit.
    QueryDef("q_topk_agg", (s, dir) => {
      import graft.functions.GraftFunctions
      t(s, dir, "events")
        .groupBy(col("event_type"), dayofmonth(col("ts")).as("day"))
        .agg(GraftFunctions.topK(col("value"), col("event_id"), 5).as("st"))
        .groupBy("event_type")
        .agg(GraftFunctions.topKMerge(col("st")).as("st"))
        .select(col("event_type"),
          explode(GraftFunctions.topKEntries(col("st"))).as("e"))
        .select(col("event_type"), col("e.rank").as("rank"),
          col("e.id").as("event_id"), col("e.v").as("value"))
    },
      // Exact top-k: the aggregate's two-level build+merge must equal the
      // direct window ranking — total order (value DESC, event_id ASC).
      oracleSql =
      topValuedEventsSql),

    // Standing leaderboard: the same top-k state folded INCREMENTALLY —
    // three ten-day batches, each merge step persisted like a daily
    // pipeline persists the standing state. Exactness of the state
    // (order-free total order) means the fold must equal the one-shot
    // window ranking bit-for-bit; maintenance cost is O(|delta| + k·keys)
    // per day, never a history rescan.
    QueryDef("q_topk_incremental", (s, dir) => {
      import graft.functions.GraftFunctions
      val ev = t(s, dir, "events")
        .select(col("event_type"), col("event_id"), col("value"),
          dayofmonth(col("ts")).as("day"))
      def stateOf(b: DataFrame) = b.groupBy("event_type")
        .agg(GraftFunctions.topK(col("value"), col("event_id"), 5).as("st"))
      val batches = Seq(
        ev.filter(col("day") <= 10),
        ev.filter(col("day") > 10 && col("day") <= 20),
        ev.filter(col("day") > 20))
      val state = batches.tail.foldLeft(stateOf(batches.head))((acc, b) =>
        acc.unionByName(stateOf(b))
          .groupBy("event_type")
          .agg(GraftFunctions.topKMerge(col("st")).as("st"))
          .localCheckpoint(eager = false))
      state
        .select(col("event_type"),
          explode(GraftFunctions.topKEntries(col("st"))).as("e"))
        .select(col("event_type"), col("e.rank").as("rank"),
          col("e.id").as("event_id"), col("e.v").as("value"))
    },
      // identical oracle to q_topk_agg: the incremental fold must land on
      // the same exact ranking
      oracleSql =
      topValuedEventsSql),

    // Deterministic reservoir sample as the same aggregate: A-Res
    // (Efraimidis & Spiridakis 2006) with the randomness replaced by an
    // md5-uniform key, so the k-per-group sample is growth-stable,
    // mergeable, and REPLAYABLE by the oracle — both engines rank the
    // identical hash keys. The scale story is the same bounded-exchange
    // one as q_topk_agg; md5 ties break on event_id in both engines.
    QueryDef("q_reservoir_sample", (s, dir) => {
      import graft.functions.GraftFunctions
      val key = conv(substring(md5(col("event_id").cast("string")), 1, 8),
        16, 10).cast("double")
      t(s, dir, "events")
        .groupBy("event_type")
        .agg(GraftFunctions.topK(key, col("event_id"), 8).as("st"))
        .select(col("event_type"),
          explode(GraftFunctions.topKEntries(col("st"))).as("e"))
        .select(col("event_type"), col("e.rank").as("rank"),
          col("e.id").as("event_id"))
    }, oracleSql =
      """SELECT event_type, CAST(rank AS INTEGER) AS rank, event_id
        |FROM (SELECT event_type, event_id,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY CAST(CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8)
        |        AS BIGINT) AS DOUBLE) DESC, event_id) AS rank
        |  FROM events) t
        |WHERE rank <= 8""".stripMargin),

    // --- beyond-reference: edge-WEIGHTED PageRank ----------------------
    // q_pagerank's co-purchase graph keeps the pair multiplicity it
    // already computes (n = co-basket count) instead of flattening every
    // edge to weight 1: mass now flows in proportion to how OFTEN two
    // parts co-occur, so a part reached through a few strong
    // partnerships outranks one reached through many one-off baskets —
    // the centrality a recommender actually wants. Same dataflow as
    // q_pagerank (one shuffle per round, decimal(28,12) contribution
    // quantization, adaptive driver escape below 2M edges — both paths
    // bit-identical, GraphSpec-pinned), oracle = the same 8-round
    // recursive CTE with sum(w) out-mass in place of out-degree.
    QueryDef("q_pagerank_weighted", (s, dir) => {
      val pairs = copurchasePairs(s, dir)
      val edges = pairs.select(col("a").as("src"), col("b").as("dst"), col("n"))
        .union(pairs.select(col("b").as("src"), col("a").as("dst"), col("n")))
      PageRank.runWeightedAdaptive(edges, "n", iters = 8)
        .select(col("node").as("part"), round(col("rank"), 6).as("rank"))
    },
      // Weighted variant: identical recursion, but pairs keep their
      // co-basket multiplicity n, out-mass normalizes by sum(w) instead of
      // out-degree, and each contribution is rank·w/wsum — same
      // decimal(28,12) quantization so the cross-engine hash is exact.
      oracleSql =
      s"""WITH RECURSIVE
        |$basketCandCtes
        |pairs AS (SELECT a, b, count(*) AS n FROM cand GROUP BY a, b HAVING count(*) >= 2),
        |edges AS (SELECT a AS src, b AS dst, n AS w FROM pairs
        |          UNION ALL SELECT b, a, n FROM pairs),
        |deg AS (SELECT src, sum(w) AS wsum FROM edges GROUP BY src),
        |nodes AS (SELECT src AS node FROM deg),
        |${pageRankCte(init = "CAST(1.0 AS DOUBLE)",
          rank = "(CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) + 0.85 * CAST(COALESCE(m.mass, 0) AS DOUBLE)",
          contrib = "p.rank * e.w / d.wsum")}""".stripMargin),

    // --- beyond-reference: multi-source hop-bounded shortest paths -----
    // The co-purchase graph again, now asked a PATH question: the
    // cheapest route from each of three seed parts to every part within
    // 6 hops, where an edge costs floor(1000/n) — strong partnerships
    // (high co-basket count n) are cheap, one-off pairings expensive.
    // That is the "how close is this item to these anchors" proximity a
    // substitution recommender wants, and it needs Bellman-Ford, not a
    // join. Costs are LONG end to end, so cross-engine parity is
    // structural (no float accumulates across a path); the hop bound is
    // the semantic contract shared with the recursive-CTE oracle, which
    // states each round as a min over relaxations of a zero-cost
    // self-loop-augmented edge set — exactly ShortestPath.run's
    // carry ∪ relax. Sparse state: only reached (source, node) pairs
    // ever shuffle (ShortestPath.scala scale notes).
    QueryDef("q_sssp", (s, dir) => {
      copurchaseShortestPaths(s, dir)
        .select(col("source"), col("node").as("part"), col("dist"))
    },
      // Hop-bounded Bellman-Ford as a recursive CTE: each round is a min
      // over one-edge relaxations of the previous round's reached set,
      // with a zero-cost self-loop per node supplying the carried dist —
      // the same carry ∪ relax round ShortestPath.run executes. State is
      // sparse (reached pairs only), mirroring the Spark side.
      oracleSql =
      s"""WITH RECURSIVE
        |${copurchaseBfCtes(rounds = 6)}
        |SELECT source, node AS part, dist FROM bf WHERE it = 6""".stripMargin),

    // --- beyond-reference: INCREMENTAL shortest paths (edge addition) --
    // The IVM member of the path family: ~1/5 of the co-purchase edges
    // arrive "late" ((a+b)%5 hash split — symmetric, so both directions
    // of an undirected pair ride the same batch), and the converged
    // base distances absorb them through ShortestPath.incrementalAdd's
    // improvement wavefront instead of a recompute: distances only
    // DECREASE under edge addition, so relaxing the stale state through
    // the delta seeds exactly the affected region and each wave is a
    // frontier × edges join, not state × edges. The oracle knows
    // nothing of the split — it converges over the FULL edge set, which
    // is the point: incremental fold ≡ batch fixpoint (fixpoints are
    // unique; GraphSpec pins the same equality on random splits).
    QueryDef("q_sssp_incremental", (s, dir) => {
      val pairs = copurchaseCostPairs(s, dir)
      val edges = pairs.select(col("a").as("src"), col("b").as("dst"), col("w"), col("a"), col("b"))
        .union(pairs.select(col("b").as("src"), col("a").as("dst"), col("w"), col("a"), col("b")))
        .localCheckpoint(eager = false) // base/delta split + the full set
      val isLate = pmod(col("a") + col("b"), lit(5)) === 0
      val base = edges.filter(!isLate).select(col("src"), col("dst"), col("w"))
      val delta = edges.filter(isLate).select(col("src"), col("dst"), col("w"))
      val sources = lowestSources(edges)
      // r14: adaptive tiers — at this scale the co-purchase graph is far
      // under the 2M-edge driver bound, so base fixpoint + incremental
      // fold run as driver sweeps (bit-identical: unique fixpoint, long
      // min-plus) instead of ~15 scheduled rounds each; the distributed
      // wavefront takes over beyond the bound, unchanged.
      val baseDist = graft.graph.ShortestPath.runConvergedAdaptive(base, sources, maxIters = 30)
      graft.graph.ShortestPath
        .incrementalAddAdaptive(baseDist, edges.select(col("src"), col("dst"), col("w")), delta)
        .select(col("source"), col("node").as("part"), col("dist"))
    },
      // CONVERGED variant of the q_sssp recursion — the oracle never sees
      // the base/delta split; incremental fold ≡ batch fixpoint. Empirics
      // at the gate scale: stable from round 10; 14 is margin (the CTE
      // carries the full state per round, so extra rounds are idempotent).
      oracleSql =
      s"""WITH RECURSIVE
        |${copurchaseBfCtes(rounds = 14)}
        |SELECT source, node AS part, dist FROM bf WHERE it = 14""".stripMargin),

    // --- beyond-reference: harmonic centrality of the seed parts -------
    // The centrality READOUT of the q_sssp state: Σ 1/dist over reached
    // parts — harmonic, not closeness, so disconnected pairs cost zero
    // instead of poisoning the mean. Per-term 1/dist is one correctly-
    // rounded IEEE division of exact longs, quantized to decimal(28,12)
    // before the sum (the PageRank mass discipline: partitioning cannot
    // reorder a decimal sum).
    QueryDef("q_harmonic_centrality", (s, dir) => {
      copurchaseShortestPaths(s, dir)
        .filter(col("dist") > 0)
        .groupBy("source")
        .agg(count(lit(1)).as("n_reached"),
          sum((lit(1.0) / col("dist").cast("double")).cast("decimal(28,12)")).as("hsum"))
        .select(col("source"), col("n_reached"),
          round(col("hsum").cast("double"), 9).as("harmonic"))
    },
      // Harmonic readout of the q_sssp recursion: per-term 1/dist
      // quantized decimal(28,12) before the sum (order-free), self rows
      // (dist 0) excluded.
      oracleSql =
      s"""WITH RECURSIVE
        |${copurchaseBfCtes(rounds = 6)}
        |SELECT source, CAST(count(*) AS BIGINT) AS n_reached,
        |  round(CAST(sum(CAST(1.0 / CAST(dist AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE), 9)
        |    AS harmonic
        |FROM bf WHERE it = 6 AND dist > 0 GROUP BY source""".stripMargin),

    // --- beyond-reference: interpolated Kneser-Ney bigram LM -----------
    // q_bigram_lm's MLE model assigns unseen bigrams NOTHING (null p) —
    // useless as a quality filter the moment a doc contains one novel
    // pair. Kneser-Ney is the standard fix and the model real data
    // pipelines score with: discount D=0.75 off every seen bigram,
    // redistribute the held-out mass over the CONTINUATION distribution
    // (how many distinct left-contexts a word follows — "Francisco" is
    // frequent but only ever follows "San", so its continuation
    // probability is tiny). P(w2|w1) = max(c−D,0)/c(w1) +
    // (D·N1+(w1·)/c(w1))·N1+(·w2)/N1+(··); unseen prefix backs off to
    // the continuation distribution alone. Every term is an integer
    // count ratio in fixed IEEE op order and the per-doc sum runs
    // through decimal(28,12), so the oracle hashes exactly. Scale shape:
    // 3 count aggregations over the train shingles + one broadcast
    // scalar (type count) + doc-keyed aggregation — no cross-doc state,
    // same corpus-linear profile as q_bigram_lm.
    QueryDef("q_kn_lm", (s, dir) => {
      val D = lit(0.75)
      val bi = t(s, dir, "documents")
        .select(col("doc_id"), explode(TextAnalysis.wordShingles(col("text"), 2)).as("bg"))
        .withColumn("pfx", substring_index(col("bg"), " ", 1))
        .withColumn("w2", substring_index(col("bg"), " ", -1))
        .localCheckpoint(false) // feeds 4 count passes + the scoring join
      val train = bi.filter(col("doc_id") % 10 =!= 9)
      val bgc = train.groupBy("bg").agg(count(lit(1)).as("c_bg"))
      val pfxStats = train.groupBy("pfx")
        .agg(count(lit(1)).as("c_pfx"), countDistinct(col("bg")).as("n1_fwd"))
      val contStats = train.select("pfx", "w2").distinct()
        .groupBy("w2").agg(count(lit(1)).as("n1_bwd"))
      val nTypes = train.select("bg").distinct().agg(count(lit(1)).as("n_types"))
      val pcont = coalesce(col("n1_bwd"), lit(0L)) / col("n_types")
      val p = when(col("c_pfx").isNotNull,
        greatest(coalesce(col("c_bg"), lit(0L)) - D, lit(0.0)) / col("c_pfx")
          + ((D * col("n1_fwd")) / col("c_pfx")) * pcont)
        .otherwise(pcont)
      bi.join(bgc, Seq("bg"), "left")
        .join(pfxStats, Seq("pfx"), "left")
        .join(contStats, Seq("w2"), "left")
        .crossJoin(broadcast(nTypes))
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_bigrams"),
          count(when(col("c_pfx").isNull, 1)).as("n_unseen_pfx"),
          sum(p.cast("decimal(28,12)")).cast("double").as("sum_p"),
          min(p).as("min_p"))
    },
      // Kneser-Ney oracle: the same count CTEs spelled independently —
      // bigram counts, prefix totals + distinct continuations, backward
      // continuation types, global type count — composed in the exact
      // IEEE op order of the Spark expression (greatest/COALESCE guards
      // included), per-doc sum through decimal(28,12).
      oracleSql =
      s"""WITH $docBigramCtes
        |b2 AS (SELECT doc_id, bg, split_part(bg, ' ', 1) AS pfx,
        |              split_part(bg, ' ', 2) AS w2 FROM bi),
        |tr AS (SELECT * FROM b2 WHERE doc_id % 10 <> 9),
        |bgc AS (SELECT bg, count(*) AS c_bg FROM tr GROUP BY 1),
        |pfxs AS (SELECT pfx, count(*) AS c_pfx, count(DISTINCT bg) AS n1_fwd
        |  FROM tr GROUP BY 1),
        |conts AS (SELECT w2, count(*) AS n1_bwd
        |  FROM (SELECT DISTINCT pfx, w2 FROM tr) GROUP BY 1),
        |nt AS (SELECT count(DISTINCT bg) AS n_types FROM tr),
        |scored AS (
        |  SELECT b2.doc_id, p.c_pfx,
        |    CASE WHEN p.c_pfx IS NOT NULL THEN
        |      greatest(COALESCE(c.c_bg, 0) - 0.75, 0.0) / p.c_pfx
        |        + ((0.75 * p.n1_fwd) / p.c_pfx) * (COALESCE(ct.n1_bwd, 0) / nt.n_types)
        |    ELSE (COALESCE(ct.n1_bwd, 0) / nt.n_types) END AS pr
        |  FROM b2 LEFT JOIN bgc c USING (bg) LEFT JOIN pfxs p USING (pfx)
        |       LEFT JOIN conts ct USING (w2) CROSS JOIN nt)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  CAST(sum(CASE WHEN c_pfx IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unseen_pfx,
        |  CAST(sum(CAST(pr AS DECIMAL(28,12))) AS DOUBLE) AS sum_p,
        |  min(pr) AS min_p
        |FROM scored GROUP BY doc_id""".stripMargin),

    // --- beyond-reference: zone-map pruning audit ----------------------
    // q_zorder_cells emits the per-cell bounding boxes; this query
    // CLOSES THE LOOP and measures what those boxes buy: for the same
    // orders table laid out (a) z-ordered on (custkey, day), (b)
    // linearly sorted on custkey alone, and (c) Hilbert-ordered on the
    // same two dims, evaluate two predicate shapes — a 2-dim rectangle
    // and a day-ONLY range — against each layout's zone map and report
    // zones scanned vs pruned and the rows behind them. The structural
    // story a 100 TB layout decision rests on: the linear layout prunes
    // custkey predicates perfectly but scans ~100% of zones for a
    // day-only predicate (every zone's day range spans the whole
    // domain); both space-filling curves bound BOTH dims, so both
    // shapes prune, with Hilbert's unit-step walk giving the tightest
    // boxes. Two groupBy shuffles (zone build + rollup), no windows, no
    // global sort — the audit itself scales like any aggregation.
    QueryDef("q_zonemap_prune", (s, dir) => {
      val base = t(s, dir, "orders").select(
        col("o_custkey"),
        datediff(col("o_orderdate").cast("date"), lit("1992-01-01").cast("date"))
          .cast("long").as("day"))
      val hitBoth = col("o_custkey").between(100, 300) && col("day").between(1500, 1700)
      val hitDay = col("day").between(1500, 1700)
      val z = base.withColumn("layout", lit("zorder"))
        .withColumn("cell",
          shiftright(graft.core.Layout.zValue2(col("o_custkey"), col("day")), 18))
      val l = base.withColumn("layout", lit("linear"))
        .withColumn("cell", floor(col("o_custkey") / 128).cast("long"))
      val h = graft.core.Layout.withHilbert(base, "o_custkey", "day", "hval")
        .withColumn("layout", lit("hilbert"))
        .withColumn("cell", shiftright(col("hval"), 18))
        .drop("hval")
      val zones = z.unionByName(l).unionByName(h)
        .groupBy("layout", "cell")
        .agg(
          count(lit(1)).as("n"),
          sum(when(hitBoth, lit(1L)).otherwise(lit(0L))).as("hit_both"),
          sum(when(hitDay, lit(1L)).otherwise(lit(0L))).as("hit_day"),
          min("o_custkey").as("min_ck"), max("o_custkey").as("max_ck"),
          min("day").as("min_day"), max("day").as("max_day"))
        .localCheckpoint(false) // two predicate rollups share the build
      val ovBoth = col("max_ck") >= 100 && col("min_ck") <= 300 &&
        col("max_day") >= 1500 && col("min_day") <= 1700
      val ovDay = col("max_day") >= 1500 && col("min_day") <= 1700
      def rollup(pred: String, ov: Column, hit: Column) = zones
        .groupBy("layout")
        .agg(
          count(lit(1)).as("n_zones"),
          sum(when(ov, lit(1L)).otherwise(lit(0L))).as("n_scanned"),
          sum(when(ov, col("n")).otherwise(lit(0L))).as("rows_scanned"),
          sum(col("n")).as("n_rows"),
          sum(hit).as("n_match"))
        .withColumn("pred", lit(pred))
      rollup("both", ovBoth, col("hit_both"))
        .unionByName(rollup("day_only", ovDay, col("hit_day")))
        .select("layout", "pred", "n_zones", "n_scanned", "rows_scanned",
          "n_rows", "n_match")
    },
      // Zone-map pruning audit: the q_zorder_cells spread cascade builds
      // the z-layout zones, a custkey/128 bucket the linear ones, the
      // generated Hilbert walk the curve's; both predicate shapes roll up
      // scanned-vs-pruned from the zone bounding boxes. Pure integer
      // counts — hash-exact by construction.
      oracleSql = zonemapOracleSql),

    // --- beyond-reference: Hilbert-curve clustering cells --------------
    // q_zorder_cells' sibling on the locality-optimal curve: the Morton
    // layout jumps a long diagonal at every quadrant seam, the Hilbert
    // walk never does (consecutive indexes are Manhattan-adjacent —
    // LayoutSpec proves it exhaustively at 8-bit resolution), so
    // consecutive runs cover tighter regions and min/max footers prune
    // harder. Same cell-occupancy + bounding-box evidence as the Morton
    // query; the 16-level flip/swap walk runs as a collapsed projection
    // chain of codegen'd integer ops (Layout.withHilbert), and the
    // oracle replays the identical walk as 16 generated CTE rounds.
    QueryDef("q_hilbert_cells", (s, dir) => {
      val base = t(s, dir, "orders").select(
        col("o_custkey"),
        datediff(col("o_orderdate").cast("date"), lit("1992-01-01").cast("date"))
          .cast("long").as("day"))
      graft.core.Layout.withHilbert(base, "o_custkey", "day", "hval")
        .withColumn("cell", shiftright(col("hval"), 18))
        .groupBy("cell")
        .agg(
          count(lit(1)).as("n"),
          min("o_custkey").as("min_ck"), max("o_custkey").as("max_ck"),
          min("day").as("min_day"), max("day").as("max_day"))
    },
      // Hilbert walk replayed as 16 generated CTE rounds (same cell fold
      // and bounding-box evidence as the Morton twin).
      oracleSql = hilbertOracleSql),
  )

  /** The registry by name; fails at load on a duplicate name. */
  lazy val byName: Map[String, QueryDef] = QueryDef.index(registry)

  /** The verified (`build`) shape of every query, by name. */
  lazy val queries: Map[String, QueryDef.Builder] =
    byName.map { case (name, d) => name -> d.build }

  /** One-row top-principal-component fit over the first 16 embedding
    * dims: 152 exact-decimal moment aggregates condense the covariance,
    * the bounded covariance row collects to the driver (.head() — an
    * EAGER action at query-build time), and three power-iteration
    * rounds replay there with identical IEEE chains, returning a 1-row
    * literal frame (columns v3_1..v3_16 + nrm3). Shared by
    * q_pca_power/q_pca_project; the SQL twin is [[pcaPowerCtes]].
    */
  private def pcaTopComponent(emb: DataFrame): DataFrame = {
    val dim = 16
    def x(i: Int) = element_at(col("embedding"), i).cast("double")
    val moCols =
      (1 to dim).map(i => sum(x(i).cast("decimal(28,12)")).cast("double").as(s"s$i")) ++
        (for { i <- 1 to dim; j <- i to dim }
          yield sum((x(i) * x(j)).cast("decimal(28,12)")).cast("double").as(s"p${i}_$j"))
    val mo = emb.agg(count(lit(1)).cast("double").as("n"), moCols: _*)
    val covCols = for { i <- 1 to dim; j <- i to dim }
      yield (col(s"p${i}_$j") / col("n")
        - (col(s"s$i") / col("n")) * (col(s"s$j") / col("n"))).as(s"c${i}_$j")
    // r14: the three power rounds ran as nested 16×16-term column chains
    // over the 1-ROW covariance frame — CollapseProject re-expands each
    // round's terms into the next, so the final expression trees grow
    // ~16× per round and the query spent its time PLANNING/codegen'ing a
    // single-row projection (idle A/B: q_pca_power 2.10 → measured in
    // OPTIMIZATION_r14.md). The covariance row is a BOUNDED driver
    // readout (1 + dim·(dim+1)/2 doubles — the KMeans-model-collect
    // class), and the rounds replay on the driver with the IDENTICAL
    // left-associated IEEE chains (reduceLeft ≡ Spark's binary-Add
    // association, same op order, same values), so the emitted literals
    // are bit-equal to the old column arithmetic — the unchanged DuckDB
    // oracle (pcaPowerCtes) keeps proving it every run.
    val covRow = mo.select(col("n") +: covCols: _*).head()
    def cval(i: Int, j: Int): Double =
      covRow.getAs[Double](s"c${math.min(i, j)}_${math.max(i, j)}")
    var v = Array.fill(dim)(0.25)
    var nrm = 0.0
    for (_ <- 1 to 3) {
      val w = Array.tabulate(dim)(i0 =>
        (1 to dim).map(j => cval(i0 + 1, j) * v(j - 1)).reduceLeft(_ + _))
      nrm = math.sqrt(w.map(x => x * x).reduceLeft(_ + _))
      v = w.map(_ / nrm)
    }
    emb.sparkSession.range(1).select(
      v.zipWithIndex.map { case (x, i) => lit(x).as(s"v3_${i + 1}") } :+
        lit(nrm).as("nrm3"): _*)
  }

  // ---------------------------------------------------------------------
  // Oracles (DuckDB SQL over the same parquet tables)
  // ---------------------------------------------------------------------

  /** Generated DuckDB oracle for q_ann_pq — the FULL product-quantization
    * pipeline in SQL: normalize (list_reduce sequential fold ≡ the Spark
    * HOF aggregate's op order), per-subspace unrolled Lloyd (the
    * [[lloydCtes]] shape: cosine assignment with lower-cid ties, decimal
    * centroid means, empty cells keep their centroid), L2² argmin encode,
    * per-query LUT assembly, ADC fold in subspace order, top-`rerank`
    * shortlist, exact cosine re-rank. Every cross-engine float chain is
    * either an identical-order fold (list_reduce vs aggregate — DuckDB's
    * left fold starts x1 where Spark starts 0.0+x1, identical in IEEE) or
    * the established list_cosine_similarity ≡ CosineSimilarity pairing,
    * so the final rows hash exactly.
    *
    * @param fitWhere SQL predicate selecting the codebook-FIT slice of
    *   the corpus (the standing-index scenario fits on the base load
    *   only; later appends encode in the frozen books). Default: fit on
    *   everything — the one-shot q_ann_pq shape. Encode/ADC always run
    *   over the full corpus (`ea` CTEs).
    * @param coarse when Some((nList, nProbe, coarseIters)): the IVF-PQ
    *   routed variant — an additional full-dim Lloyd chain (the
    *   [[lloydCtes]] shape, RAW vectors, centroids narrowed through
    *   FLOAT exactly like fittedCentroidsDf) assigns every vector to its
    *   cell and every query to its nProbe cells, and the ADC scan joins
    *   through the resulting (qid, vec_id) candidate set instead of the
    *   full codes × queries cross.
    */
  private def pqOracleSql(m: Int, ksub: Int, dsub: Int, iters: Int, rerank: Int, k: Int,
      fitWhere: String = "TRUE", coarse: Option[(Int, Int, Int)] = None): String = {
    def l2(a: String, b: String): String =
      s"list_reduce(list_transform(range(1, ${dsub + 1}), " +
        s"i -> ($a[CAST(i AS INT)] - $b[CAST(i AS INT)]) * ($a[CAST(i AS INT)] - $b[CAST(i AS INT)])), (x, y) -> x + y)"
    def subLloyd(s: Int): String = {
      val (lo, hi) = (s * dsub + 1, s * dsub + dsub)
      val init = s"""es$s AS MATERIALIZED (
        |  SELECT vec_id, (vn)[$lo:$hi] AS v FROM en WHERE $fitWhere),
        |ea$s AS MATERIALIZED (
        |  SELECT vec_id, (vn)[$lo:$hi] AS v FROM en),
        |c${s}_0 AS MATERIALIZED (
        |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
        |  FROM (SELECT vec_id, v FROM es$s ORDER BY vec_id LIMIT $ksub))""".stripMargin
      val rounds = (1 to iters).map { t =>
        s"""a${s}_$t AS MATERIALIZED (
          |  SELECT vec_id, v, cid FROM (
          |    SELECT e.vec_id, e.v, c.cid,
          |      row_number() OVER (PARTITION BY e.vec_id
          |        ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS rn
          |    FROM es$s e, c${s}_${t - 1} c)
          |  WHERE rn = 1),
          |s${s}_$t AS MATERIALIZED (
          |  SELECT cid, i AS dim,
          |    CAST(sum(CAST(v[CAST(i AS INT)] AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS m
          |  FROM a${s}_$t, unnest(range(1, ${dsub + 1})) AS t(i)
          |  GROUP BY cid, i),
          |c${s}_$t AS MATERIALIZED (
          |  SELECT c.cid, coalesce(n.cv, c.cv) AS cv
          |  FROM c${s}_${t - 1} c LEFT JOIN (
          |    SELECT cid, list(m ORDER BY dim) AS cv FROM s${s}_$t GROUP BY cid) n USING (cid))""".stripMargin
      }
      (init +: rounds).mkString(",\n")
    }
    val codeCtes = (0 until m).map { s =>
      s"""code$s AS MATERIALIZED (
        |  SELECT vec_id, cid AS code FROM (
        |    SELECT e.vec_id, c.cid,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY ${l2("e.v", "c.cv")} ASC, c.cid) AS rn
        |    FROM ea$s e, c${s}_$iters c) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val centsUnion = (0 until m)
      .map(s => s"SELECT $s AS s, cid, cv FROM c${s}_$iters").mkString(" UNION ALL ")
    s"""WITH en AS MATERIALIZED (
      |  SELECT vec_id,
      |    CASE WHEN nrm = 0 THEN v ELSE list_transform(v, x -> x / nrm) END AS vn
      |  FROM (
      |    SELECT vec_id, v, sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS nrm
      |    FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings))),
      |${(0 until m).map(subLloyd).mkString(",\n")},
      |$codeCtes,
      |codes AS MATERIALIZED (
      |  SELECT code0.vec_id, [${(0 until m).map(s => s"code$s.code").mkString(", ")}] AS codes
      |  FROM code0 ${(1 until m).map(s => s"JOIN code$s USING (vec_id)").mkString(" ")}),
      |cents AS MATERIALIZED ($centsUnion),
      |qd AS MATERIALIZED (
      |  SELECT q.vec_id AS qid, c.s, c.cid,
      |    ${l2(s"(q.vn)[c.s * $dsub + 1 : c.s * $dsub + $dsub]", "c.cv")} AS d
      |  FROM en q, cents c WHERE q.vec_id < 8),
      |qlut AS MATERIALIZED (
      |  SELECT qid, list(row ORDER BY s) AS lut FROM (
      |    SELECT qid, s, list(d ORDER BY cid) AS row FROM qd GROUP BY qid, s)
      |  GROUP BY qid),
      |${coarse.fold("")(c => coarseRoutingCtes(c._1, c._2, c._3, fitWhere))}adc AS (
      |  SELECT l.qid, k.vec_id,
      |    list_reduce(list_transform(range(1, ${m + 1}),
      |      s -> (l.lut)[CAST(s AS INT)][CAST((k.codes)[CAST(s AS INT)] AS INT) + 1]), (x, y) -> x + y) AS adc
      |  FROM ${
        if (coarse.isDefined)
          "cand cd JOIN codes k ON k.vec_id = cd.vec_id JOIN qlut l ON l.qid = cd.qid"
        else "codes k, qlut l WHERE k.vec_id <> l.qid"
      }),
      |short AS (
      |  SELECT qid, vec_id FROM (
      |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY adc ASC, vec_id ASC) AS arn
      |    FROM adc) WHERE arn <= $rerank),
      |rescored AS (
      |  SELECT s.qid, s.vec_id,
      |    list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) AS sim
      |  FROM short s
      |  JOIN embeddings q ON q.vec_id = s.qid
      |  JOIN embeddings c ON c.vec_id = s.vec_id)
      |SELECT qid, vec_id, round(sim, 6) AS sim, rn FROM (
      |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn
      |  FROM rescored) WHERE rn <= $k""".stripMargin
  }

  /** The IVF-PQ routing block (q_ann_ivfpq): the full-dim coarse Lloyd
    * chain ([[lloydCtes]] — RAW vectors, cosine assignment), centroids
    * narrowed through FLOAT (`cf`) exactly as fittedCentroidsDf casts to
    * the corpus element type, then cell assignment (top-1 per vector),
    * query probes (top-nProbe), and the (qid, vec_id) candidate set the
    * ADC scan is restricted to. Emitted as a comma-terminated CTE block.
    */
  private def coarseRoutingCtes(nList: Int, nProbe: Int, coarseIters: Int,
      fitWhere: String = "TRUE"): String =
    s"""${lloydCtes(k = nList, iters = coarseIters, dim = 64, fitWhere = fitWhere)},
       |cf AS MATERIALIZED (
       |  SELECT cid, list_transform(cv, x -> CAST(CAST(x AS FLOAT) AS DOUBLE)) AS cv
       |  FROM c$coarseIters),
       |cellassign AS MATERIALIZED (
       |  SELECT vec_id, cid FROM (
       |    SELECT e.vec_id, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS rn
       |    FROM e, cf c) WHERE rn = 1),
       |probes AS MATERIALIZED (
       |  SELECT vec_id AS qid, cid FROM (
       |    SELECT e.vec_id, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS rn
       |    FROM e, cf c WHERE e.vec_id < 8) WHERE rn <= $nProbe),
       |cand AS MATERIALIZED (
       |  SELECT p.qid, a.vec_id FROM probes p JOIN cellassign a USING (cid)
       |  WHERE a.vec_id <> p.qid),
       |""".stripMargin

  /** The fitted-IVF top-5 pipeline for the 8 query vectors (vec_id < 8):
    * 16 cells from 3 Lloyd rounds over the `fitWhere` slice, rounded
    * through FLOAT as Ann's cell centroids are, then assignment of every
    * vector, a 4-cell probe per query and the cosine top 5 (qid, vec_id,
    * sim, rn).
    */
  private def ivfOracleSql(fitWhere: String): String =
    s"""WITH ${lloydCtes(k = 16, iters = 3, dim = 64, fitWhere = fitWhere)},
       |cf AS MATERIALIZED (
       |  SELECT cid, list_transform(cv, x -> CAST(CAST(x AS FLOAT) AS DOUBLE)) AS cv
       |  FROM c3),
       |assigned AS MATERIALIZED (
       |  SELECT vec_id, v, cid FROM (
       |    SELECT e.vec_id, e.v, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS rn
       |    FROM e, cf c)
       |  WHERE rn = 1),
       |probed AS MATERIALIZED (
       |  SELECT vec_id AS qid, v AS qv, cid FROM (
       |    SELECT e.vec_id, e.v, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS rn
       |    FROM e, cf c WHERE e.vec_id < 8)
       |  WHERE rn <= 4),
       |scored AS (
       |  SELECT DISTINCT q.qid, a.vec_id, list_cosine_similarity(q.qv, a.v) AS sim
       |  FROM probed q JOIN assigned a USING (cid) WHERE a.vec_id <> q.qid),
       |ranked AS (SELECT qid, vec_id, sim,
       |  row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn FROM scored)
       |SELECT qid, vec_id, round(sim, 6) AS sim, rn FROM ranked WHERE rn <= 5""".stripMargin

  /** Generated DuckDB CTE chain for `iters` Lloyd k-means rounds over the
    * embeddings table: `e` (vec_id, v double[]), `c0` (first-k-by-id
    * init) … `c\$iters` (fitted centroids). Mirrors the KMeans Lloyd fit
    * exactly: (sim DESC, cid) argmax assignment, per-dimension DECIMAL(28,12)
    * sums cast to double then divided, empty clusters inheriting the
    * previous round's centroid. MATERIALIZED stops DuckDB's CTE inlining
    * from re-expanding the chain exponentially.
    *
    * @param fitWhere SQL predicate selecting the Lloyd-FIT slice (the
    *   standing-index scenario fits centroids on the base load only);
    *   the `e` CTE still exposes ALL vectors for downstream assignment.
    */
  private def lloydCtes(k: Int, iters: Int, dim: Int, fitWhere: String = "TRUE"): String = {
    def round(t: Int): String =
      s"""a$t AS MATERIALIZED (
         |  SELECT vec_id, v, cid FROM (
         |    SELECT e.vec_id, e.v, c.cid,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS rn
         |    FROM ef e, c${t - 1} c)
         |  WHERE rn = 1),
         |s$t AS MATERIALIZED (
         |  SELECT cid, i AS dim,
         |    CAST(sum(CAST(v[CAST(i AS INT)] AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS m
         |  FROM a$t, unnest(range(1, ${dim + 1})) AS t(i)
         |  GROUP BY cid, i),
         |c$t AS MATERIALIZED (
         |  SELECT c.cid, coalesce(n.cv, c.cv) AS cv
         |  FROM c${t - 1} c LEFT JOIN (
         |    SELECT cid, list(m ORDER BY dim) AS cv FROM s$t GROUP BY cid) n USING (cid))""".stripMargin
    s"""e AS MATERIALIZED (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |ef AS MATERIALIZED (
       |  SELECT vec_id, v FROM e WHERE $fitWhere),
       |c0 AS MATERIALIZED (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
       |  FROM (SELECT vec_id, v FROM ef ORDER BY vec_id LIMIT $k)),
       |${(1 to iters).map(round).mkString(",\n")}""".stripMargin
  }

  /** Generated DuckDB CTE chain replicating the winnowing kernel
    * (functions.Winnow) bit-exactly: the Java rolling hash is the
    * polynomial Σ ord(cⱼ)·B^(k-1-j) under WRAPPING 64-bit arithmetic, so
    * each position's hash is a HUGEINT dot product against precomputed
    * wrapped powers of B, reduced mod 2^64 and re-centred to two's
    * complement; the winnow selection is a (w-1)-preceding sliding ROWS
    * min per document. Produces CTEs `nt`, `hs`, and `mn`
    * (doc_id, pos, mh) for positions ≥ w. Assumes every document yields
    * ≥ w grams (true of the test corpus; the kernel's shorter-doc branch
    * shrinks the window instead).
    */
  private def winnowCtes(k: Int, w: Int): String = {
    val B = 1000003L
    val pows = Iterator.iterate(1L)(_ * B).take(k).toSeq // Long × wraps like the kernel
    val terms = (0 until k).map { j =>
      val pu = java.lang.Long.toUnsignedString(pows(k - 1 - j))
      s"CAST(ord(substr(s, CAST(i AS INT) + $j, 1)) AS HUGEINT) * $pu"
    }.mkString("\n        + ")
    s"""nt AS MATERIALIZED (
       |  SELECT doc_id, lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS s
       |  FROM documents),
       |hs AS MATERIALIZED (
       |  SELECT doc_id, pos,
       |    CAST(CASE WHEN m >= 9223372036854775808 THEN m - 18446744073709551616
       |              ELSE m END AS BIGINT) AS h
       |  FROM (
       |    SELECT doc_id, i AS pos,
       |      ($terms) % 18446744073709551616 AS m
       |    FROM nt, unnest(generate_series(1, greatest(length(s) - ${k - 1}, 0))) AS t(i))),
       |mn AS MATERIALIZED (
       |  SELECT doc_id, pos, mh FROM (
       |    SELECT doc_id, pos,
       |      min(h) OVER (PARTITION BY doc_id ORDER BY pos
       |        ROWS BETWEEN ${w - 1} PRECEDING AND CURRENT ROW) AS mh
       |    FROM hs)
       |  WHERE pos >= $w)""".stripMargin
  }

  /** The co-purchase baskets and their (a < b) candidate pairs, one row
    * per shared order — the substrate the graph oracles group into
    * `pairs` (≥ 2 shared orders). Ends with a comma.
    */
  private val basketCandCtes: String =
    """baskets AS (
      |  SELECT l_orderkey, list_sort(list_distinct(list(l_partkey))) AS ps
      |  FROM lineitem GROUP BY l_orderkey),
      |cand AS (
      |  SELECT ps[i] AS a, ps[j] AS b
      |  FROM baskets,
      |       unnest(generate_series(1, len(ps))) t1(i),
      |       unnest(generate_series(1, len(ps))) t2(j)
      |  WHERE i < j),""".stripMargin

  /** The co-purchase graph's canonical edges `e` (pa < pb, ≥ 2 shared
    * orders) by a self-join of the distinct (order, part) rows — the
    * triangle oracles' substrate. Ends with a comma.
    */
  private val copurchaseEdgeCtes: String =
    """op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |e AS (
      |  SELECT a.l_partkey AS pa, b.l_partkey AS pb
      |  FROM op a JOIN op b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2 HAVING count(*) >= 2),""".stripMargin

  /** Hop-bounded Bellman-Ford over the cost-weighted co-purchase graph
    * (w = floor(1000/n)) from its three lowest parts, as a recursive CTE:
    * each round is a min over one-edge relaxations of the previous
    * round's reached set, with a zero-cost self-loop per node supplying
    * the carried dist — the carry ∪ relax round ShortestPath.run
    * executes. State is sparse (reached pairs only). `bf` holds rounds
    * 0..`rounds`, tagged `it`.
    */
  private def copurchaseBfCtes(rounds: Int): String =
    s"""$basketCandCtes
      |pairs AS (
      |  SELECT a, b, CAST(floor(1000.0 / count(*)) AS BIGINT) AS w
      |  FROM cand GROUP BY a, b HAVING count(*) >= 2),
      |edges AS (SELECT a AS src, b AS dst, w FROM pairs
      |          UNION ALL SELECT b, a, w FROM pairs),
      |srcs AS (SELECT src AS source
      |         FROM (SELECT DISTINCT src FROM edges ORDER BY src LIMIT 3)),
      |loop_edges AS (SELECT src, dst, w FROM edges
      |               UNION ALL
      |               SELECT DISTINCT src, src, CAST(0 AS BIGINT) FROM edges),
      |bf AS (
      |  SELECT source, source AS node, CAST(0 AS BIGINT) AS dist, 0 AS it FROM srcs
      |  UNION ALL
      |  SELECT m.source, m.node, m.dist, i.nit
      |  FROM (SELECT p.source, e.dst AS node, min(p.dist + e.w) AS dist
      |        FROM bf p JOIN loop_edges e ON e.src = p.node
      |        GROUP BY p.source, e.dst) m
      |  CROSS JOIN (SELECT it + 1 AS nit FROM bf GROUP BY it) i
      |  WHERE i.nit <= $rounds)""".stripMargin

  /** 8 rounds of PageRank power iteration as a recursive CTE over `nodes`,
    * `edges` and `deg`, then the rounded readout (part, rank). `init` is
    * the round-0 rank, `rank` the next round's rank from its mass
    * `m.mass`, and `contrib` one edge's contribution to that mass, which
    * quantizes through decimal(28,12) as on the Spark side, so the
    * comparison is hash-exact.
    */
  private def pageRankCte(init: String, rank: String, contrib: String): String =
    s"""pr AS (
      |  SELECT node, $init AS rank, 0 AS it FROM nodes
      |  UNION ALL
      |  SELECT n.node,
      |         $rank AS rank,
      |         i.nit
      |  FROM nodes n
      |  CROSS JOIN (SELECT it + 1 AS nit FROM pr GROUP BY it) i
      |  LEFT JOIN (
      |    SELECT e.dst AS node, sum(CAST($contrib AS DECIMAL(28,12))) AS mass
      |    FROM pr p JOIN edges e ON e.src = p.node JOIN deg d ON d.src = e.src
      |    GROUP BY e.dst) m ON m.node = n.node
      |  WHERE i.nit <= 8)
      |SELECT node AS part, round(rank, 6) AS rank FROM pr WHERE it = 8""".stripMargin

  /** Per-user event days `e` (user_id, day, v as decimal(12,3)) and
    * their integer midpoint day `md`, the pre/post split of the A/B
    * oracles. Ends with a comma.
    */
  private val userDayCtes: String =
    """e AS (
      |  SELECT user_id,
      |    CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
      |    CAST(value AS DECIMAL(12,3)) AS v
      |  FROM events),
      |md AS (
      |  SELECT CAST(floor(CAST(min(day) + max(day) AS DOUBLE) / 2.0) AS BIGINT) AS mid
      |  FROM e),""".stripMargin

  /** Each document's distinct word 3-shingles `sh` (doc_id, sh; empty
    * below 3 tokens) over its whitespace tokens `docs` — the set-
    * similarity oracles' substrate (TextAnalysis.wordShingles). Ends with
    * a comma.
    */
  private val shingleSetCtes: String =
    """docs AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS toks
      |  FROM documents),
      |sh AS MATERIALIZED (
      |  SELECT doc_id,
      |    CASE WHEN len(toks) >= 3
      |      THEN list_distinct(list_transform(range(1, len(toks) - 1),
      |        i -> array_to_string(toks[i:i+2], ' ')))
      |      ELSE [] END AS sh
      |  FROM docs),""".stripMargin

  /** Each event type's daily series `daily` (event_type, day, v) — the
    * time-series oracles' substrate. Ends with a comma.
    */
  private val dailyEventCte: String =
    """daily AS (
      |  SELECT event_type,
      |    CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
      |    sum(CAST(value AS DECIMAL(12,3))) AS v
      |  FROM events GROUP BY 1, 2),""".stripMargin

  /** Every doc pair (a < b) of `docs` whose word-3-shingle Jaccard is
    * ≥ `minJaccard`, by brute force: doc_id_a, doc_id_b, jaccard (4
    * places), then `extraCols`, one select item each — the exact row set
    * the near-dup queries' LSH stages must reproduce.
    */
  private def jaccardPairsSql(docs: String, minJaccard: Double, extraCols: Seq[String]): String =
    s"""WITH docs AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS toks
      |  FROM $docs),
      |sh AS (
      |  SELECT doc_id,
      |    CASE WHEN len(toks) >= 3
      |      THEN list_distinct(list_transform(range(1, len(toks) - 1),
      |        i -> array_to_string(toks[i:i+2], ' ')))
      |      ELSE [] END AS sh
      |  FROM docs)
      |SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
      |  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
      |        len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jaccard${extraCols.map(",\n  " + _).mkString}
      |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |WHERE len(list_distinct(list_concat(a.sh, b.sh))) > 0
      |  AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
      |      len(list_distinct(list_concat(a.sh, b.sh))) >= $minJaccard""".stripMargin

  /** Near-dup components by brute force over the tokenized docs CTE
    * `docs` (doc_id, toks): word-3-shingle sets `sh`, pairs with Jaccard
    * ≥ `minJaccard`, symmetric edges plus self-loops, and their
    * transitive closure `reach(s, t)` — min(t) per s is the cluster
    * label. The recursive CTE needs WITH RECURSIVE.
    */
  private def shingleClosureCtes(docs: String, minJaccard: Double): String =
    s"""sh AS (
      |  SELECT doc_id, CASE WHEN len(toks) >= 3
      |    THEN list_distinct(list_transform(range(1, len(toks) - 1),
      |      i -> array_to_string(toks[i:i+2], ' ')))
      |    ELSE [] END AS sh FROM $docs),
      |pairs AS (
      |  SELECT a.doc_id AS a, b.doc_id AS b
      |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |  WHERE len(list_distinct(list_concat(a.sh, b.sh))) > 0
      |    AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
      |        len(list_distinct(list_concat(a.sh, b.sh))) >= $minJaccard),
      |edges AS (
      |  SELECT a, b FROM pairs UNION SELECT b, a FROM pairs
      |  UNION SELECT a, a FROM pairs UNION SELECT b, b FROM pairs),
      |reach(s, t) AS (
      |  SELECT a, b FROM edges
      |  UNION
      |  SELECT r.s, e.b FROM reach r JOIN edges e ON r.t = e.a)""".stripMargin

  /** q_dedup_clusters' oracle: the full-corpus closure at Jaccard ≥ 0.5,
    * (doc_id, cluster). Its incremental sibling is bit-equal to the full
    * recompute, so it shares this oracle.
    */
  private def dedupClustersSql: String =
    s"""WITH RECURSIVE docs AS (
      |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS toks
      |  FROM documents),
      |${shingleClosureCtes("docs", minJaccard = 0.5)}
      |SELECT s AS doc_id, min(t) AS cluster FROM reach GROUP BY s""".stripMargin

  /** BM25 (k1 = 1.2, b = 0.75) of every `post` posting (doc_id, term, tf,
    * dl, df, n_docs, avgdl) against each query's `qterms` (q_id, term),
    * each term's score decimal-quantized before the exact sum, then the
    * top 5 per query (score desc, doc_b asc).
    */
  private val bm25Top5Sql: String =
    """scored AS (
      |  SELECT q.q_id, p.doc_id AS doc_b, count(*) AS n_shared,
      |    CAST(sum(CAST(
      |      ln(1 + (p.n_docs - p.df + 0.5) / (p.df + 0.5)) *
      |      (p.tf * 2.2) / (p.tf + 1.2 * (0.25 + 0.75 * p.dl / p.avgdl))
      |      AS DECIMAL(28,12))) AS DOUBLE) AS score
      |  FROM qterms q JOIN post p USING (term)
      |  WHERE p.doc_id <> q.q_id
      |  GROUP BY q.q_id, p.doc_id)
      |SELECT q_id, doc_b, n_shared, score, rn FROM (
      |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_b ASC) AS rn
      |  FROM scored)
      |WHERE rn <= 5""".stripMargin

  /** DuckDB's native ASOF join of each event to its customer's latest
    * order at or before it (event_id, user_id, asof_orderkey) — the
    * independent oracle of every backward as-of path.
    */
  private val asofLatestOrderSql: String =
    """WITH o AS (
      |  SELECT o_custkey, epoch_ns(o_orderdate) AS odn, max(o_orderkey) AS asof_orderkey
      |  FROM orders GROUP BY 1, 2),
      |e AS (SELECT event_id, user_id, epoch_ns(ts) AS tsn FROM events)
      |SELECT e.event_id, e.user_id, o.asof_orderkey
      |FROM e ASOF LEFT JOIN o ON e.user_id = o.o_custkey AND e.tsn >= o.odn""".stripMargin

  /** [[asofLatestOrderSql]] forward: the earliest order at or after each
    * event (event_id, user_id, next_orderkey).
    */
  private val asofNextOrderSql: String =
    """WITH o AS (
      |  SELECT o_custkey, epoch_ns(o_orderdate) AS odn, max(o_orderkey) AS next_orderkey
      |  FROM orders GROUP BY 1, 2),
      |e AS (SELECT event_id, user_id, epoch_ns(ts) AS tsn FROM events)
      |SELECT e.event_id, e.user_id, o.next_orderkey
      |FROM e ASOF LEFT JOIN o ON e.user_id = o.o_custkey AND e.tsn <= o.odn""".stripMargin

  /** The substring-dedup substrate: every 40-char window `grams` (doc_id,
    * pos, gram), the windows shared by ≥ 2 docs, and each doc's runs of
    * shared windows `grp` (doc_id, pos, g) — a new run starts where a
    * hit lies more than 40 chars past the previous one.
    */
  private val sharedGramRunCtes: String =
    """grams AS (
      |  SELECT doc_id, i AS pos, substr(text, i, 40) AS gram
      |  FROM documents,
      |       unnest(generate_series(1, greatest(length(text) - 39, 0))) AS t(i)),
      |dup AS (SELECT gram FROM grams GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
      |hits AS (SELECT g.doc_id, g.pos FROM grams g JOIN dup USING (gram)),
      |flagged AS (
      |  SELECT doc_id, pos,
      |    CASE WHEN pos > lag(pos) OVER w + 40 THEN 1 ELSE 0 END AS brk
      |  FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
      |grp AS (
      |  SELECT doc_id, pos,
      |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS g
      |  FROM flagged)""".stripMargin

  /** Each document's distinct word 5-grams `grams` (doc_id, gram) over
    * its whitespace tokens. Ends with a comma.
    */
  private val docWord5GramCtes: String =
    """toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS t
      |  FROM documents),
      |grams AS (
      |  SELECT DISTINCT doc_id, gram FROM (
      |    SELECT doc_id, unnest(CASE WHEN len(t) >= 5
      |      THEN list_transform(range(1, len(t) - 3), i -> array_to_string(t[i:i+4], ' '))
      |      ELSE [] END) AS gram
      |    FROM toks)),""".stripMargin

  /** Eight unrolled BPE merge rounds over the words of `docs`, mirroring
    * Bpe.learnMerges: `w0` (freq, symstr) holds each distinct lower-cased
    * word in a BRACKETED symbol encoding (chr(30) sym chr(31) per
    * symbol), and round k adds pair counts `pk` (≥ 2 floor), the
    * (n DESC, a, b) argmax merge `mk` and the rewritten words `wk`. The
    * greedy left-to-right merge scan is string replace(): it consumes
    * matches leftmost-first without overlap — exactly the Bpe.mergePair
    * fold — and the brackets make a match mid-symbol impossible. An
    * early-stopped round yields an empty mk and leaves its words as they
    * were, like the Scala loop break.
    */
  private def bpeMergeCtes(docs: String): String = {
    val so = "chr(30)"
    val sc = "chr(31)"
    def round(k: Int): String =
      s"""p$k AS MATERIALIZED (
         |  SELECT s[CAST(i AS INT)] AS a, s[CAST(i AS INT) + 1] AS b,
         |         CAST(sum(freq) AS BIGINT) AS n
         |  FROM (SELECT freq,
         |          string_split(substr(symstr, 2, length(symstr) - 2), $sc || $so) AS s
         |        FROM w${k - 1}),
         |       unnest(range(1, len(s))) AS t(i)
         |  GROUP BY a, b HAVING n >= 2),
         |m$k AS MATERIALIZED (SELECT a, b, n FROM p$k ORDER BY n DESC, a, b LIMIT 1),
         |w$k AS MATERIALIZED (
         |  SELECT freq,
         |    CASE WHEN (SELECT count(*) FROM m$k) = 0 THEN symstr
         |         ELSE replace(symstr,
         |           $so || (SELECT a FROM m$k) || $sc || $so || (SELECT b FROM m$k) || $sc,
         |           $so || (SELECT a FROM m$k) || (SELECT b FROM m$k) || $sc)
         |    END AS symstr
         |  FROM w${k - 1})""".stripMargin
    s"""w0 AS MATERIALIZED (
       |  SELECT CAST(count(*) AS BIGINT) AS freq,
       |    list_aggregate(list_transform(range(1, length(w) + 1),
       |      i -> $so || substr(w, CAST(i AS INT), 1) || $sc), 'string_agg', '') AS symstr
       |  FROM (SELECT unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
       |                x -> x <> '')) AS w
       |        FROM $docs)
       |  GROUP BY w),
       |${(1 to 8).map(round).mkString(",\n")}""".stripMargin
  }

  /** Concat-and-split packing (Packing.packSequences at ctxLen 256, 16
    * shards): each doc's token count, md5-rank shard and order `f`, and
    * its cumulative end in its shard's token stream `c` (doc_id, shard,
    * n_tokens, tok_end) — +1 EOS per doc.
    */
  private val packSequencesCtes: String =
    """d AS (
      |  SELECT doc_id,
      |    len(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) AS n_tokens,
      |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) AS rnk
      |  FROM documents),
      |f AS (SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, rnk, rnk % 16 AS shard
      |      FROM d WHERE n_tokens > 0),
      |c AS (
      |  SELECT doc_id, shard, n_tokens,
      |    CAST(sum(n_tokens + 1) OVER (PARTITION BY shard ORDER BY rnk, doc_id
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tok_end
      |  FROM f)""".stripMargin

  /** Next-fit packing (Packing.packGreedy at ctxLen 256, 16 shards) as a
    * per-shard recursive CTE, one recursion step per shard row: `r`
    * (shard, rn, doc_id, n_tokens, bin, fill). Needs WITH RECURSIVE.
    */
  private val packGreedyCtes: String =
    """d AS (
      |  SELECT doc_id,
      |    CAST(len(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) AS BIGINT) AS n_tokens,
      |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) AS rnk
      |  FROM documents),
      |f AS (
      |  SELECT doc_id, n_tokens, rnk % 16 AS shard,
      |    least(n_tokens, 256) AS n_eff,
      |    row_number() OVER (PARTITION BY rnk % 16 ORDER BY rnk, doc_id) AS rn
      |  FROM d WHERE n_tokens > 0),
      |r AS (
      |  SELECT shard, rn, doc_id, n_tokens,
      |    CAST(0 AS BIGINT) AS bin, n_eff AS fill
      |  FROM f WHERE rn = 1
      |  UNION ALL
      |  SELECT f.shard, f.rn, f.doc_id, f.n_tokens,
      |    CASE WHEN r.fill + f.n_eff <= 256 THEN r.bin ELSE r.bin + 1 END,
      |    CASE WHEN r.fill + f.n_eff <= 256 THEN r.fill + f.n_eff ELSE f.n_eff END
      |  FROM r JOIN f ON f.shard = r.shard AND f.rn = r.rn + 1)""".stripMargin

  /** The one-shot SCD2 recompute of each user's purchase tier
    * floor(value / 25): a new version wherever the tier changes in
    * (ts, event_id) order, with valid_from/valid_to/version/is_current —
    * q_scd2's oracle, and q_scd2_incremental's, since fold ≡ rebuild.
    */
  private val scd2TierSql: String =
    """WITH p AS (
      |  SELECT user_id AS k, CAST(floor(value / 25.0) AS BIGINT) AS attr,
      |    epoch_us(ts) AS ts, event_id AS tb
      |  FROM events WHERE event_type = 'purchase'),
      |lg AS (
      |  SELECT k, attr, ts, tb,
      |    lag(attr) OVER w AS prev, lag(1) OVER w AS prev_seen
      |  FROM p WINDOW w AS (PARTITION BY k ORDER BY ts, tb)),
      |ch AS (
      |  SELECT k, attr, ts, tb FROM lg
      |  WHERE prev_seen IS NULL OR attr IS DISTINCT FROM prev),
      |iv AS (
      |  SELECT k, attr, ts AS valid_from,
      |    lead(ts) OVER w2 AS valid_to,
      |    CAST(row_number() OVER w2 AS INT) AS version
      |  FROM ch WINDOW w2 AS (PARTITION BY k ORDER BY ts, tb))
      |SELECT k AS user_id, attr AS tier, valid_from, valid_to, version,
      |  valid_to IS NULL AS is_current
      |FROM iv""".stripMargin

  /** The roster `c` (c_custkey, c_name), its typo'd copy `d` (d_key,
    * d_name; the typo class by c_custkey % 3) and their candidate pairs
    * `j` (d_key, d_name, c_custkey, sim): blocked on the last 4
    * characters and kept at Jaro-Winkler ≥ 0.85. Ends with a comma.
    */
  private val typoMatchCtes: String =
    """c AS (SELECT c_custkey, c_name FROM customer),
      |d AS (
      |  SELECT c_custkey AS d_key,
      |    CASE WHEN c_custkey % 3 = 0 THEN 'C' || substr(c_name, 3, 64)
      |         WHEN c_custkey % 3 = 1 THEN substr(c_name, 1, 6) || 'm' || substr(c_name, 7, 64)
      |         ELSE 'Cuts' || substr(c_name, 5, 64) END AS d_name
      |  FROM c),
      |j AS (
      |  SELECT d.d_key, d.d_name, c.c_custkey,
      |    jaro_winkler_similarity(d.d_name, c.c_name) AS sim
      |  FROM d JOIN c ON right(d.d_name, 4) = right(c.c_name, 4)
      |  WHERE jaro_winkler_similarity(d.d_name, c.c_name) >= 0.85),""".stripMargin

  /** The autocorrelation oracles' moments: the daily revenue series
    * `daily` (day, kilo), its day pairs `lag_d` calendar days apart for
    * lags 1..`maxLag`, and per lag the exact BIGINT moment sums `m`
    * (lag_d, n, sx, sy, sxx, syy, sxy).
    */
  private def acfMomentCtes(maxLag: Int): String =
    s"""daily AS (
      |  SELECT day, CAST(floor(CAST(v AS DOUBLE) / 1000.0) AS BIGINT) AS kilo
      |  FROM (
      |    SELECT CAST(floor(epoch_us(o_orderdate) / 86400000000) AS BIGINT) AS day,
      |      sum(CAST(o_totalprice AS DECIMAL(12,3))) AS v
      |    FROM orders GROUP BY 1)),
      |pairs AS (
      |  SELECT CAST(g.gs AS INT) AS lag_d, a.kilo AS x, b.kilo AS y
      |  FROM daily a
      |  CROSS JOIN (SELECT unnest(range(1, ${maxLag + 1})) AS gs) g
      |  JOIN daily b ON b.day = a.day + g.gs),
      |m AS (
      |  SELECT lag_d, count(*) AS n,
      |    CAST(CAST(sum(x) AS BIGINT) AS DOUBLE) AS sx,
      |    CAST(CAST(sum(y) AS BIGINT) AS DOUBLE) AS sy,
      |    CAST(CAST(sum(x * x) AS BIGINT) AS DOUBLE) AS sxx,
      |    CAST(CAST(sum(y * y) AS BIGINT) AS DOUBLE) AS syy,
      |    CAST(CAST(sum(x * y) AS BIGINT) AS DOUBLE) AS sxy
      |  FROM pairs GROUP BY 1)""".stripMargin

  /** Each user's value total per event type `u` (event_type, user_id, v,
    * pos = odd user_id) and its per-arm moments `mo` (n1/n0, s1/s0,
    * q1/q0). Ends with a comma.
    */
  private val parityMomentCtes: String =
    """u AS (
      |  SELECT event_type, user_id, sum(CAST(value AS DECIMAL(12,3))) AS v,
      |    user_id % 2 = 1 AS pos
      |  FROM events GROUP BY 1, 2),
      |mo AS (
      |  SELECT event_type,
      |    CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |    CAST(sum(CASE WHEN NOT pos THEN 1 ELSE 0 END) AS BIGINT) AS n0,
      |    sum(CASE WHEN pos THEN v END) AS s1,
      |    sum(CASE WHEN NOT pos THEN v END) AS s0,
      |    sum(CASE WHEN pos THEN v * v END) AS q1,
      |    sum(CASE WHEN NOT pos THEN v * v END) AS q0
      |  FROM u GROUP BY 1),""".stripMargin

  /** The split score of the stump oracles: both sides' size-weighted
    * Gini impurity (nl/pl left, nr/pr right) over the n rows.
    */
  private val giniScoreSql: String =
    """((CASE WHEN nl = 0 THEN 0.0 ELSE
      |        CAST(nl AS DOUBLE) * (1.0
      |          - (CAST(pl AS DOUBLE) / CAST(nl AS DOUBLE))
      |            * (CAST(pl AS DOUBLE) / CAST(nl AS DOUBLE))
      |          - (CAST(nl - pl AS DOUBLE) / CAST(nl AS DOUBLE))
      |            * (CAST(nl - pl AS DOUBLE) / CAST(nl AS DOUBLE))) END)
      |     + (CASE WHEN nr = 0 THEN 0.0 ELSE
      |        CAST(nr AS DOUBLE) * (1.0
      |          - (CAST(pr AS DOUBLE) / CAST(nr AS DOUBLE))
      |            * (CAST(pr AS DOUBLE) / CAST(nr AS DOUBLE))
      |          - (CAST(nr - pr AS DOUBLE) / CAST(nr AS DOUBLE))
      |            * (CAST(nr - pr AS DOUBLE) / CAST(nr AS DOUBLE))) END))
      |      / CAST(n AS DOUBLE)""".stripMargin

  /** The top 5 valued events per event type (value desc, event_id): the
    * direct window ranking the top-k aggregate states must reproduce.
    */
  private val topValuedEventsSql: String =
    """SELECT event_type, CAST(rank AS INTEGER) AS rank, event_id, value
      |FROM (SELECT event_type, event_id, value,
      |    row_number() OVER (PARTITION BY event_type
      |      ORDER BY value DESC, event_id) AS rank
      |  FROM events WHERE value IS NOT NULL) t
      |WHERE rank <= 5""".stripMargin

  /** [[topValuedEventsSql]] over the rows [[retractChangelog]] leaves
    * live — the full recompute every maintained leaderboard must equal
    * bit-for-bit.
    */
  private val liveLeaderboardSql: String =
    """SELECT event_type, CAST(rank AS INTEGER) AS rank, event_id, value
      |FROM (SELECT event_type, event_id, value,
      |    row_number() OVER (PARTITION BY event_type
      |      ORDER BY value DESC, event_id) AS rank
      |  FROM events
      |  WHERE value IS NOT NULL
      |    AND date_part('day', ts) > 10 AND event_type <> 'error') t
      |WHERE rank <= 5""".stripMargin

  /** Every word bigram occurrence `bi` (doc_id, bg as "w1 w2") over each
    * document's whitespace tokens. Ends with a comma.
    */
  private val docBigramCtes: String =
    """toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS t
      |  FROM documents),
      |bi AS (
      |  SELECT doc_id, unnest(CASE WHEN len(t) >= 2
      |    THEN list_transform(range(1, len(t)), i -> array_to_string(t[i:i+1], ' '))
      |    ELSE [] END) AS bg
      |  FROM toks),""".stripMargin

  /** Shared CTE chain for the two line-dedup oracles: line synthesis →
    * 0-based line explode → threshold table (f) → owner line (f2) → keep
    * flags (k). Mirrors synthLineDocs + LineDedup exactly.
    */
  private val lineDedupCtes: String =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |syn AS (SELECT doc_id,
      |  list_filter([
      |    array_to_string(toks[1:8], ' '),
      |    CASE WHEN doc_id % 3 = 0 THEN 'subscribe to our newsletter today' ELSE '' END,
      |    array_to_string(toks[9:16], ' '),
      |    CASE WHEN doc_id % 2 = 0 THEN 'all rights reserved' ELSE '' END
      |  ], x -> x <> '') AS lines FROM d),
      |l AS (SELECT doc_id, CAST(i AS BIGINT) AS line_no, lines[CAST(i AS INT) + 1] AS line
      |      FROM syn, unnest(range(0, len(lines))) AS t(i)),
      |f AS (SELECT line, count(DISTINCT doc_id) AS ndocs, min(doc_id) AS o_doc
      |      FROM l WHERE trim(line) <> ''  -- blank lines exempt, as in LineDedup
      |      GROUP BY line HAVING count(DISTINCT doc_id) >= 3),
      |f2 AS (SELECT f.line, f.ndocs, f.o_doc, min(l.line_no) AS o_line
      |       FROM f JOIN l ON l.line = f.line AND l.doc_id = f.o_doc GROUP BY 1, 2, 3),
      |k AS (SELECT l.doc_id, l.line_no, l.line,
      |        (f2.line IS NULL OR (l.doc_id = f2.o_doc AND l.line_no = f2.o_line)) AS keep
      |      FROM l LEFT JOIN f2 ON l.line = f2.line)""".stripMargin

  /** q_multi_match's scan list: high-frequency corpus terms, all
    * border-free (no proper prefix = suffix), so Aho-Corasick
    * every-end-position counts equal non-overlapping replace counts and
    * the DuckDB oracle is exact. The property is ENFORCED below — a
    * bordered keyword (e.g. "hash": h…h, "window": w…w) can self-overlap
    * ("hashash" holds two AC ends but one non-overlapping replace) and
    * would diverge the two sides on regenerated data.
    */
  private val multiMatchKeywords: Seq[String] = Seq(
    "join", "group", "scan", "filter", "merge", "stream", "shuffle", "sort")
  require(multiMatchKeywords.forall(w =>
    (1 until w.length).forall(b => w.take(b) != w.takeRight(b))),
    s"multiMatchKeywords must be border-free, got $multiMatchKeywords")

  /** q_script_detect's Unicode-block classes. The `\x{...}` char-class
    * syntax is valid in BOTH Java regex (Spark) and RE2 (DuckDB), so the
    * identical pattern string runs on both sides. BMP-only ranges keep
    * UTF-16-unit counts (Spark `length`) equal to code-point counts
    * (DuckDB `length`).
    */
  private val scriptRanges: Map[String, String] = Map(
    "latin" -> "[A-Za-z\\x{00C0}-\\x{024F}]",
    "cyrillic" -> "[\\x{0400}-\\x{04FF}]",
    "greek" -> "[\\x{0370}-\\x{03FF}]",
    "cjk" -> "[\\x{4E00}-\\x{9FFF}]",
  )

  /** Deterministic per-doc script suffixes (index = doc_id % 4); escape
    * literals so tooling normalization can't alter them. Interpolated
    * into BOTH the Spark query and the DuckDB oracle SQL.
    */
  private val scriptSuffixes: Seq[String] = Seq(
    "", // pure-Latin docs
    " \u043f\u0440\u0438\u0432\u0435\u0442 \u043c\u0438\u0440 \u0434\u0430", // Cyrillic: privet mir da
    " \u03b3\u03b5\u03b9\u03b1 \u03c3\u03bf\u03c5 \u03ba\u03bf\u03c3\u03bc\u03b5", // Greek: geia sou kosme
    " \u4f60\u597d\u4e16\u754c\u518d\u89c1\u8c22\u8c22\u670b\u53cb", // CJK: ni hao shi jie zai jian xie xie peng you (10 chars)
  )

  /** RBO@10 weight table (p = 0.9): W[m] = Σ_{d=m..10} p^(d-1)/d,
    * pre-quantized to 12 decimals and embedded VERBATIM in both the
    * Spark plan and the oracle SQL — decimal arithmetic makes the
    * per-query sum exact, so the cross-engine hash cannot drift on
    * summation order.
    */
  private val rboWeights: Seq[String] = Seq(
    "2.354163994257", "1.354163994257", "0.904163994257", "0.634163994257",
    "0.451913994257", "0.320693994257", "0.222278994257", "0.146358851400",
    "0.086571738900", "0.038742048900")

  /** The LSH ANN ranking as an oracle CTE chain ending at `lranked`
    * (qid, vec_id, sim UNROUNDED, rn) — the q_ann_lsh pipeline with the
    * identical hyperplane literals (Ann.hyperplaneValues dyadic
    * rationals, Double.toString round-trips). Shared by the q_ann_lsh
    * and q_ndcg oracles; `e` (vec_id, v DOUBLE[]) is also exposed.
    */
  private val lshRankCtes: String = {
    val bucketExpr = (0 until 8).map { p =>
      val plane = Ann.hyperplaneValues(p, 64).map(_.toString).mkString("[", ",", "]")
      s"(CASE WHEN list_cosine_similarity(v, $plane) >= 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString("\n   + ")
    val probes = "[bucket" + (0 until 8).map(i => s", xor(bucket, ${1L << i})").mkString + "]"
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |cb AS (SELECT vec_id, v,
       |   $bucketExpr AS bucket FROM e),
       |qb AS (SELECT vec_id AS qid, v AS qv, unnest($probes) AS bucket
       |       FROM cb WHERE vec_id < 8),
       |lscored AS (
       |  SELECT DISTINCT q.qid, c.vec_id, list_cosine_similarity(q.qv, c.v) AS sim
       |  FROM qb q JOIN cb c USING (bucket) WHERE c.vec_id <> q.qid),
       |lranked AS (SELECT qid, vec_id, sim,
       |  row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn FROM lscored)""".stripMargin
  }

  /** The MLP forward pass over alias `v` (DOUBLE[]) as a DuckDB
    * expression — the q_mlp_score weights, fold order preserved
    * (list_reduce left fold ≡ the Spark aggregate). Shared by the
    * q_mlp_score and q_calibration oracles.
    */
  private val mlpScoreSqlExpr: String = {
    val dim = 64
    def lst(ws: Seq[Double]) = ws.map(_.toString).mkString("[", ",", "]")
    val units = (0 until 8).map { j =>
      s"${MlpScore.w2(j)} * greatest(0.0, ${MlpScore.b1(j)} + " +
        s"list_reduce(list_transform(range(1, ${dim + 1}), " +
        s"i -> v[CAST(i AS INT)] * (${lst(MlpScore.w1Row(j, dim))})[CAST(i AS INT)]), " +
        "(x, y) -> x + y))"
    }
    (s"${MlpScore.b2}" +: units).mkString("\n    + ")
  }

  /** Shared oracle CTE chain producing the two retrieval rankings the
    * composition queries consume: `bm` (q_id, doc_b, rn - BM25 top-10)
    * and `lex` (q_id, doc_b, rn - sparse-cosine kNN top-10), mirroring
    * SparseSim.bm25TopK / topKNeighbors at the q_hybrid_rrf config.
    * q_hybrid_rrf fuses them (RRF); q_rbo measures their agreement
    * (rank-biased overlap).
    */
  private val retrievalRankCtes: String =
    """base AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |sterms AS (
        |  SELECT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS term
        |  FROM base, unnest(range(1, len(toks) - 1)) AS r(i)
        |  WHERE len(toks) >= 3),
        |stf AS (SELECT doc_id, term, count(*) AS tf FROM sterms GROUP BY doc_id, term),
        |sdf AS (SELECT term, count(*) AS df FROM stf GROUP BY term),
        |snd AS (SELECT count(*) AS n_docs FROM documents),
        |sw AS (
        |  SELECT doc_id, term, tf * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)) AS w
        |  FROM stf JOIN sdf USING (term), snd
        |  WHERE df <= 100 AND df < n_docs),
        |snorms AS (
        |  SELECT doc_id, sqrt(CAST(sum(CAST(w * w AS DECIMAL(28,12))) AS DOUBLE)) AS norm
        |  FROM sw GROUP BY doc_id),
        |sp AS (SELECT doc_id, term, w / norm AS u FROM sw JOIN snorms USING (doc_id)),
        |spairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CAST(sum(CAST(a.u * b.u AS DECIMAL(28,12))) AS DOUBLE) AS cos
        |  FROM sp a JOIN sp b ON a.term = b.term AND a.doc_id < b.doc_id
        |  GROUP BY doc_a, doc_b),
        |ssym AS (
        |  SELECT doc_a, doc_b, cos FROM spairs
        |  UNION ALL
        |  SELECT doc_b, doc_a, cos FROM spairs),
        |lex AS (
        |  SELECT doc_a AS q_id, doc_b, rn FROM (
        |    SELECT *, row_number() OVER (PARTITION BY doc_a ORDER BY cos DESC, doc_b ASC) AS rn
        |    FROM ssym)
        |  WHERE rn <= 10 AND doc_a % 17 = 0),
        |btf AS (
        |  SELECT doc_id, toks[i] || ' ' || toks[i+1] AS term, count(*) AS tf
        |  FROM base, unnest(range(1, len(toks))) AS r(i)
        |  WHERE len(toks) >= 2 GROUP BY 1, 2),
        |bdl AS (SELECT doc_id, COALESCE(GREATEST(len(toks) - 1, 0), 0) AS dl FROM base),
        |bstats AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS DOUBLE)/count(*) AS avgdl FROM bdl),
        |bdf AS (SELECT term, count(*) AS df FROM btf GROUP BY term),
        |bpost AS (
        |  SELECT btf.doc_id, btf.term, btf.tf, bdl.dl, bdf.df, bstats.n_docs, bstats.avgdl
        |  FROM btf JOIN bdl USING (doc_id) JOIN bdf USING (term), bstats
        |  WHERE bdf.df <= 100),
        |bq AS (SELECT DISTINCT doc_id AS q_id, term FROM btf WHERE doc_id % 17 = 0),
        |bscored AS (
        |  SELECT q.q_id, p.doc_id AS doc_b,
        |    CAST(sum(CAST(
        |      ln(1 + (p.n_docs - p.df + 0.5) / (p.df + 0.5)) *
        |      (p.tf * 2.2) / (p.tf + 1.2 * (0.25 + 0.75 * p.dl / p.avgdl))
        |      AS DECIMAL(28,12))) AS DOUBLE) AS score
        |  FROM bq q JOIN bpost p USING (term)
        |  WHERE p.doc_id <> q.q_id
        |  GROUP BY q.q_id, p.doc_id),
        |bm AS (
        |  SELECT q_id, doc_b, rn FROM (
        |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_b ASC) AS rn
        |    FROM bscored)
        |  WHERE rn <= 10)""".stripMargin

  /** q_ktruss oracle: KTruss.peel's round chain unrolled — per round the
    * symmetric adjacency, the canonical triangle-support count (inner
    * join drops zero-support edges, exactly like the Spark count), and
    * the ≥ k−2 filter.
    */
  private def ktrussOracleSql(k: Int, rounds: Int): String = {
    val chain = (1 to rounds).map { r =>
      s"""s$r AS MATERIALIZED (
         |  SELECT a AS u, b AS v FROM c${r - 1} UNION ALL SELECT b, a FROM c${r - 1}),
         |p$r AS MATERIALIZED (
         |  SELECT e.a, e.b, count(*) AS support
         |  FROM c${r - 1} e
         |  JOIN s$r x ON x.u = e.a JOIN s$r y ON y.u = e.b AND y.v = x.v
         |  GROUP BY 1, 2 HAVING count(*) >= ${k - 2}),
         |c$r AS MATERIALIZED (SELECT a, b FROM p$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH ip AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS item FROM lineitem),
       |pr AS MATERIALIZED (
       |  SELECT a.item AS ia, b.item AS ib
       |  FROM ip a JOIN ip b ON a.ok = b.ok AND a.item < b.item
       |  GROUP BY 1, 2 HAVING count(*) >= 2),
       |c0 AS MATERIALIZED (SELECT ia AS a, ib AS b FROM pr),
       |$chain
       |SELECT a AS part_a, b AS part_b, support FROM p$rounds""".stripMargin
  }

  /** Generated DuckDB oracle for q_kcore: the identical fixed-round peel
    * chain unrolled — e0 is the symmetric frequent-basket-pair graph,
    * each round keeps edges whose BOTH endpoints have degree ≥ k in the
    * previous round. MATERIALIZED is load-bearing: every e_i is
    * referenced three times by e_{i+1}, so inlining would blow up 3^R.
    */
  private def kcoreOracleSql(k: Int, rounds: Int): String = {
    val chain = (1 to rounds).map { r =>
      s"""n$r AS (SELECT src FROM e${r - 1} GROUP BY 1 HAVING count(*) >= $k),
         |e$r AS MATERIALIZED (
         |  SELECT e.src, e.dst FROM e${r - 1} e
         |  JOIN n$r a ON a.src = e.src JOIN n$r b ON b.src = e.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH ip AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS item FROM lineitem),
       |pr AS MATERIALIZED (
       |  SELECT a.item AS ia, b.item AS ib
       |  FROM ip a JOIN ip b ON a.ok = b.ok AND a.item < b.item
       |  GROUP BY 1, 2 HAVING count(*) >= 2),
       |e0 AS MATERIALIZED (
       |  SELECT ia AS src, ib AS dst FROM pr UNION ALL SELECT ib, ia FROM pr),
       |$chain
       |SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
       |FROM e$rounds GROUP BY 1""".stripMargin
  }

  /** WordPiece fit as CTEs, shared by the q_wordpiece_vocab /
    * q_wordpiece_encode oracles: token counts → substring explosion
    * (every start × length ≤ 6, multiplicity included) → integer score =
    * occurrences × length → all single chars + top multi-char pieces to
    * a 64-piece inventory, ties lexicographic — mirrors
    * [[graft.text.WordPiece.buildVocab]] decision for decision.
    */
  private def wordpieceVocabCtes(fitFilter: String): String =
    s"""toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'),
      |    x -> x <> '') AS t
      |  FROM documents WHERE $fitFilter),
      |words0 AS (SELECT unnest(t) AS w FROM toks),
      |words AS (SELECT w, count(*) AS f FROM words0 GROUP BY 1),
      |subs AS (
      |  SELECT substr(w, CAST(s AS INT), CAST(l AS INT)) AS piece, f
      |  FROM words,
      |    unnest(range(1, len(w) + 1)) AS ts(s),
      |    unnest(range(1, least(6, len(w) - s + 1) + 1)) AS tl(l)),
      |scored AS (SELECT piece, CAST(sum(f) * len(piece) AS BIGINT) AS score
      |  FROM subs GROUP BY 1),
      |chars AS (SELECT piece, score FROM scored WHERE len(piece) = 1),
      |multi AS (SELECT piece, score FROM scored WHERE len(piece) > 1
      |  QUALIFY row_number() OVER (ORDER BY score DESC, piece)
      |    <= 64 - (SELECT count(*) FROM chars))""".stripMargin

  /** WordPiece encode CTE block (etoks .. wpos), shareable with the
    * unigram chain in one statement (names are disjoint by design).
    */
  private def wordpieceEncodeCtes(fitFilter: String, encFilter: String,
      encText: String = "text"): String =
    s"""${wordpieceVocabCtes(fitFilter)},
       |vocab AS (SELECT piece FROM chars UNION ALL SELECT piece FROM multi),
       |etoks AS (
       |  SELECT doc_id, list_filter(string_split_regex(trim($encText), '\\s+'),
       |    x -> x <> '') AS t
       |  FROM documents WHERE $encFilter),
       |dwords AS (SELECT DISTINCT unnest(t) AS w FROM etoks),
       |walk AS (
       |  SELECT w, 1 AS pos, CAST('' AS VARCHAR) AS seg, 0 AS unk FROM dwords
       |  UNION ALL
       |  SELECT w, pos + l,
       |    seg || CASE WHEN pos = 1 THEN '' ELSE chr(31) END ||
       |      CASE WHEN hit THEN substr(w, pos, l) ELSE substr(w, pos, 1) END,
       |    unk + CASE WHEN hit THEN 0 ELSE 1 END
       |  FROM (
       |    SELECT w, pos, seg, unk,
       |      CASE WHEN substr(w, pos, 6) IN (SELECT piece FROM vocab WHERE len(piece) = 6) THEN 6
       |           WHEN substr(w, pos, 5) IN (SELECT piece FROM vocab WHERE len(piece) = 5) THEN 5
       |           WHEN substr(w, pos, 4) IN (SELECT piece FROM vocab WHERE len(piece) = 4) THEN 4
       |           WHEN substr(w, pos, 3) IN (SELECT piece FROM vocab WHERE len(piece) = 3) THEN 3
       |           WHEN substr(w, pos, 2) IN (SELECT piece FROM vocab WHERE len(piece) = 2) THEN 2
       |           WHEN substr(w, pos, 1) IN (SELECT piece FROM vocab WHERE len(piece) = 1) THEN 1
       |           ELSE 0 END AS ml
       |    FROM walk WHERE pos <= len(w)) t(w, pos, seg, unk, ml),
       |    LATERAL (SELECT CASE WHEN ml = 0 THEN 1 ELSE ml END AS l, ml > 0 AS hit) x
       |),
       |segw AS (SELECT w, seg, unk, len(string_split(seg, chr(31))) AS npieces
       |  FROM walk WHERE pos = len(w) + 1),
       |wpos AS (SELECT doc_id, unnest(t) AS w, unnest(range(1, len(t) + 1)) AS wi FROM etoks)""".stripMargin

  /** WordPiece encode oracle: fit the inventory on `fitFilter` docs,
    * replay the greedy walk (recursive CTE) over the DISTINCT words of
    * `encFilter` docs, reassemble per doc in word order, md5 the
    * canonical segmentation. q_wordpiece_encode uses TRUE/TRUE;
    * q_wordpiece_oov splits fit/encode so unknowns actually fire.
    */
  private def wordpieceEncodeSql(fitFilter: String, encFilter: String,
      encText: String = "text"): String =
    s"""WITH RECURSIVE ${wordpieceEncodeCtes(fitFilter, encFilter, encText)}
       |SELECT p.doc_id,
       |  count(*) AS n_words,
       |  CAST(sum(s.npieces) AS BIGINT) AS n_pieces,
       |  CAST(sum(s.unk) AS BIGINT) AS n_unk,
       |  CAST(sum(len(replace(s.seg, chr(31), ''))) AS BIGINT) AS sum_piece_len,
       |  md5(string_agg(s.seg, chr(30) ORDER BY p.wi)) AS seg_md5
       |FROM wpos p JOIN segw s USING (w)
       |GROUP BY 1""".stripMargin

  /** q_zorder3_cells oracle: Layout.spread16x3's mask cascade as SQL bit
    * algebra, generated per dimension (bit i → position 3i), combined
    * x | y<<1 | z<<2 exactly like zValueN.
    */
  private def zorder3OracleSql: String = {
    val masks = Seq(0xFFFFL, 0x1f00000000ffffL, 0x1f0000ff0000ffL,
      0x100f00f00f00f00fL, 0x10c30c30c30c30c3L, 0x1249249249249249L)
    val shifts = Seq(32, 16, 8, 4, 2)
    def spread(col: String): String =
      masks.tail.zip(shifts).foldLeft(s"($col & ${masks.head})") {
        case (e, (m, sh)) => s"(($e | ($e << $sh)) & $m)"
      }
    s"""WITH d AS (
       |  SELECT o_custkey,
       |    CAST(date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
       |    CAST(floor(o_totalprice / 1000.0) AS BIGINT) AS kilo
       |  FROM orders),
       |z AS (SELECT o_custkey, day, kilo,
       |  (${spread("o_custkey")} | (${spread("day")} << 1)
       |   | (${spread("kilo")} << 2)) AS zval FROM d)
       |SELECT zval >> 27 AS cell, CAST(count(*) AS BIGINT) AS n,
       |  min(o_custkey) AS min_ck, max(o_custkey) AS max_ck,
       |  min(day) AS min_day, max(day) AS max_day,
       |  min(kilo) AS min_kilo, max(kilo) AS max_kilo
       |FROM z GROUP BY cell""".stripMargin
  }

  /** q_fellegi_sunter oracle: Linkage.fellegiSunterEM's two EM rounds
    * generated by the same fold that builds the Spark plan — per round,
    * the E-step weight expression (left-assoc field products, one IEEE
    * division) over pairs CROSS JOIN the previous parameter row, then
    * the M-step sums of the decimal(28,12)-quantized weights. Identical
    * op order per round, exact integer accumulation between rounds.
    */
  private def fellegiSunterOracleSql: String = {
    val ks = Seq("a_brand", "a_size", "a_name")
    def fProd(p: String) =
      ks.map(k => s"(CASE WHEN $k = 1 THEN $p.m_$k ELSE 1.0 - $p.m_$k END)").mkString(" * ")
    def gProd(p: String) =
      ks.map(k => s"(CASE WHEN $k = 1 THEN $p.u_$k ELSE 1.0 - $p.u_$k END)").mkString(" * ")
    def eStep(i: Int, p: String) =
      s"""e$i AS (
         |  SELECT ${ks.mkString(", ")},
         |    ($p.lam * (${fProd(p)})) /
         |      ($p.lam * (${fProd(p)}) + (1.0 - $p.lam) * (${gProd(p)})) AS w
         |  FROM pairs CROSS JOIN $p)"""
    def clampO(e: String) = s"least(greatest($e, 1e-6), 1.0 - 1e-6)"
    val wq = "CAST(w AS DECIMAL(28,12))"
    val wn = "CAST(1.0 - w AS DECIMAL(28,12))"
    def mStep(i: Int) =
      s"""p$i AS (
         |  SELECT count(*) AS n,
         |    ${clampO(s"CAST(sum($wq) AS DOUBLE) / CAST(count(*) AS DOUBLE)")} AS lam,
         |${ks.map(k =>
           s"    ${clampO(s"CAST(sum(CASE WHEN $k = 1 THEN $wq ELSE CAST(0.0 AS DECIMAL(28,12)) END) AS DOUBLE) / CAST(sum($wq) AS DOUBLE)")} AS m_$k,\n" +
           s"    ${clampO(s"CAST(sum(CASE WHEN $k = 1 THEN $wn ELSE CAST(0.0 AS DECIMAL(28,12)) END) AS DOUBLE) / CAST(sum($wn) AS DOUBLE)")} AS u_$k")
           .mkString(",\n")}
         |  FROM e$i)"""
    val leadCols = (1 to 3).flatMap(i => Seq(
      s"lead(p_partkey, $i) OVER w AS k$i", s"lead(p_name, $i) OVER w AS n$i",
      s"lead(p_brand, $i) OVER w AS b$i", s"lead(p_size, $i) OVER w AS s$i")).mkString(",\n    ")
    val branches = (1 to 3).map(i =>
      s"""  SELECT CAST(p_brand = b$i AS INT) AS a_brand,
         |    CAST(abs(p_size - s$i) <= 2 AS INT) AS a_size,
         |    CAST(jaro_winkler_similarity(p_name, n$i) >= 0.85 AS INT) AS a_name
         |  FROM pw WHERE k$i IS NOT NULL""").mkString("\n  UNION ALL\n")
    s"""WITH pw AS (
       |  SELECT p_partkey, p_name, p_brand, p_size,
       |    $leadCols
       |  FROM part WINDOW w AS (PARTITION BY p_type ORDER BY p_name, p_partkey)),
       |pairs AS (
       |$branches),
       |p0 AS (SELECT CAST(0.1 AS DOUBLE) AS lam,
       |  ${ks.map(k => s"CAST(0.9 AS DOUBLE) AS m_$k, CAST(0.1 AS DOUBLE) AS u_$k").mkString(",\n  ")}),
       |${eStep(1, "p0")},
       |${mStep(1)},
       |${eStep(2, "p1")},
       |${mStep(2)}
       |SELECT n AS n_pairs, round(lam, 9) AS lam,
       |  round(m_a_brand, 9) AS m_brand, round(u_a_brand, 9) AS u_brand,
       |  round(m_a_size, 9) AS m_size, round(u_a_size, 9) AS u_size,
       |  round(m_a_name, 9) AS m_name, round(u_a_name, 9) AS u_name
       |FROM p2""".stripMargin
  }

  /** The 16 generated Hilbert walk rounds h0..h16 over a CTE `d`
    * carrying (o_custkey, day) — shared by the q_hilbert_cells and
    * q_zonemap_prune oracles.
    */
  private def hilbertWalkCtes: String = {
    val rounds = (0 until 16).map { r =>
      val s = 1L << (15 - r)
      s"""h${r + 1} AS (
         |  SELECT o_custkey, day,
         |    hd + CAST(${s * s} AS BIGINT) * xor(3 * rx, ry) AS hd,
         |    CASE WHEN ry = 1 THEN hx WHEN rx = 0 THEN hy ELSE ${s - 1} - hy END AS hx,
         |    CASE WHEN ry = 1 THEN hy WHEN rx = 0 THEN hx ELSE ${s - 1} - hx END AS hy
         |  FROM (SELECT hx, hy, hd, o_custkey, day,
         |      CASE WHEN (hx & $s) > 0 THEN 1 ELSE 0 END AS rx,
         |      CASE WHEN (hy & $s) > 0 THEN 1 ELSE 0 END AS ry FROM h$r))""".stripMargin
    }.mkString(",\n")
    """h0 AS (SELECT o_custkey, day, o_custkey & 65535 AS hx, day & 65535 AS hy,
      |       CAST(0 AS BIGINT) AS hd FROM d),
      |""".stripMargin + rounds
  }

  /** The orders' (o_custkey, day since 1992-01-01) points `d` and the
    * Morton bit-spread cascade of their low 16 bits, b through s4 — the
    * same magic-mask ladder as Layout.zValue2, in pure BIGINT bit ops;
    * s4 carries the spread x4/y4. Ends with a comma.
    */
  private val mortonSpreadCtes: String =
    """d AS (
      |  SELECT o_custkey,
      |    CAST(date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS day
      |  FROM orders),
      |b AS (SELECT *, o_custkey & 65535 AS xb, day & 65535 AS yb FROM d),
      |s1 AS (SELECT *, ((xb | (xb << 8)) & 16711935) AS x1, ((yb | (yb << 8)) & 16711935) AS y1 FROM b),
      |s2 AS (SELECT *, ((x1 | (x1 << 4)) & 252645135) AS x2, ((y1 | (y1 << 4)) & 252645135) AS y2 FROM s1),
      |s3 AS (SELECT *, ((x2 | (x2 << 2)) & 858993459) AS x3, ((y2 | (y2 << 2)) & 858993459) AS y3 FROM s2),
      |s4 AS (SELECT *, ((x3 | (x3 << 1)) & 1431655765) AS x4, ((y3 | (y3 << 1)) & 1431655765) AS y4 FROM s3),""".stripMargin

  /** q_zonemap_prune oracle: one rows CTE feeds all three layouts'
    * zone aggregations (z-spread cascade for Morton, custkey/128 for
    * linear, the shared [[hilbertWalkCtes]] for the curve), then the two
    * predicate rollups read only zone bounding boxes. Pure integers.
    */
  private def zonemapOracleSql: String = {
    val predBoth = "o_custkey BETWEEN 100 AND 300 AND day BETWEEN 1500 AND 1700"
    val predDay = "day BETWEEN 1500 AND 1700"
    def zoneAgg(layout: String, cellExpr: String, src: String): String =
      s"""  SELECT '$layout' AS layout, $cellExpr AS cell, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(CASE WHEN $predBoth THEN 1 ELSE 0 END) AS BIGINT) AS hit_both,
         |    CAST(sum(CASE WHEN $predDay THEN 1 ELSE 0 END) AS BIGINT) AS hit_day,
         |    min(o_custkey) AS min_ck, max(o_custkey) AS max_ck,
         |    min(day) AS min_day, max(day) AS max_day
         |  FROM $src GROUP BY 2""".stripMargin
    s"""WITH $mortonSpreadCtes
       |r AS (SELECT o_custkey, day, ((x4 | (y4 << 1)) >> 18) AS zcell,
       |             CAST(floor(o_custkey / 128) AS BIGINT) AS lcell FROM s4),
       |""".stripMargin + hilbertWalkCtes + s""",
       |zones AS (
       |${zoneAgg("zorder", "zcell", "r")}
       |  UNION ALL
       |${zoneAgg("linear", "lcell", "r")}
       |  UNION ALL
       |${zoneAgg("hilbert", "(hd >> 18)", "h16")})
       |SELECT layout, 'both' AS pred, CAST(count(*) AS BIGINT) AS n_zones,
       |  CAST(sum(CASE WHEN max_ck >= 100 AND min_ck <= 300
       |                 AND max_day >= 1500 AND min_day <= 1700 THEN 1 ELSE 0 END) AS BIGINT) AS n_scanned,
       |  CAST(sum(CASE WHEN max_ck >= 100 AND min_ck <= 300
       |                 AND max_day >= 1500 AND min_day <= 1700 THEN n ELSE 0 END) AS BIGINT) AS rows_scanned,
       |  CAST(sum(n) AS BIGINT) AS n_rows,
       |  CAST(sum(hit_both) AS BIGINT) AS n_match
       |FROM zones GROUP BY 1
       |UNION ALL
       |SELECT layout, 'day_only', CAST(count(*) AS BIGINT),
       |  CAST(sum(CASE WHEN max_day >= 1500 AND min_day <= 1700 THEN 1 ELSE 0 END) AS BIGINT),
       |  CAST(sum(CASE WHEN max_day >= 1500 AND min_day <= 1700 THEN n ELSE 0 END) AS BIGINT),
       |  CAST(sum(n) AS BIGINT),
       |  CAST(sum(hit_day) AS BIGINT)
       |FROM zones GROUP BY 1""".stripMargin
  }

  /** q_hilbert_cells oracle: Layout.withHilbert's 16-level xy→d walk
    * replayed as generated CTE rounds — per level, the quadrant digit
    * lands via xor(3·rx, ry) (s² promoted to BIGINT: at the top level
    * 3·s² overflows INT32) and the flip/swap rotation carries (hx, hy)
    * into the subquadrant frame. Pure integer algebra, hash-exact.
    */
  private def hilbertOracleSql: String =
    s"""WITH d AS (
       |  SELECT o_custkey,
       |    CAST(date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS day
       |  FROM orders),
       |""".stripMargin + hilbertWalkCtes + s"""
       |SELECT hd >> 18 AS cell, CAST(count(*) AS BIGINT) AS n,
       |  min(o_custkey) AS min_ck, max(o_custkey) AS max_ck,
       |  min(day) AS min_day, max(day) AS max_day
       |FROM h16 GROUP BY cell""".stripMargin

  /** The 7 chained in-band LATERALs of one DTW band-row step (shared by
    * the q_dtw and q_dtw_knn oracles).
    */
  private def dtwLaterals: String = {
    val inf = "1000000000000000"
    (0 until 7).map { o =>
      val prevUp = s"coalesce(dp[${o + 2}], $inf)"
      val prevDiag = s"coalesce(dp[${o + 1}], $inf)"
      val curLeft = if (o == 0) s"CAST($inf AS BIGINT)" else s"x${o - 1}.c${o - 1}"
      s"""LATERAL (SELECT CASE WHEN i - 3 + $o BETWEEN 1 AND m THEN
         |      abs(a[CAST(i AS INT)] - b[CAST(i - 3 + $o AS INT)]) +
         |      least($prevUp, $prevDiag, $curLeft)
         |    ELSE CAST($inf AS BIGINT) END AS c$o) x$o""".stripMargin
    }.mkString(",\n    ")
  }

  /** q_dtw oracle: banded (radius 3) DTW replay. Forward-only DP — one
    * recursive-CTE step per band row, the 7 in-band cells generated as
    * chained LATERALs because dp[i][j-1] is a left-to-right dependency
    * INSIDE the row (same trick budget as the Viterbi CTEs: carry the
    * state as a list, unroll the intra-row scan). In offset space
    * (o = j − i + 3): dp[i−1][j] sits at prev index o+2, dp[i−1][j−1] at
    * o+1, dp[i][j−1] is the previous lateral. INF = 1e15, matching
    * [[graft.functions.DtwImpl.Inf]]; out-of-list probes coalesce to INF.
    */
  private def dtwOracleSql: String = {
    val inf = "1000000000000000"
    val lats = dtwLaterals
    s"""WITH RECURSIVE daily AS (
       |  SELECT event_type,
       |    CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
       |    CAST(sum(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT) AS q
       |  FROM events GROUP BY 1, 2),
       |spine AS (SELECT min(day) AS mn, max(day) AS mx FROM daily),
       |grid AS (
       |  SELECT s.t, ds.d
       |  FROM (SELECT DISTINCT event_type AS t FROM daily) s, spine,
       |    unnest(range(mn, mx + 1)) AS ds(d)),
       |series AS (
       |  SELECT grid.t AS event_type, list(coalesce(dd.q, 0) ORDER BY grid.d) AS v
       |  FROM grid LEFT JOIN daily dd ON dd.event_type = grid.t AND dd.day = grid.d
       |  GROUP BY 1),
       |pairs AS (
       |  SELECT x.event_type AS type_a, y.event_type AS type_b,
       |    x.v AS a, y.v AS b, len(x.v) AS n, len(y.v) AS m
       |  FROM series x JOIN series y ON x.event_type < y.event_type),
       |dtw AS (
       |  SELECT type_a, type_b, a, b, n, m, 0 AS i,
       |    [CAST($inf AS BIGINT), $inf, $inf, 0, $inf, $inf, $inf] AS dp
       |  FROM pairs
       |  UNION ALL
       |  SELECT type_a, type_b, a, b, n, m, i,
       |    [x0.c0, x1.c1, x2.c2, x3.c3, x4.c4, x5.c5, x6.c6]
       |  FROM (SELECT type_a, type_b, a, b, n, m, i + 1 AS i, dp
       |        FROM dtw WHERE i < n) t,
       |    $lats)
       |SELECT type_a, type_b, CAST(n AS BIGINT) AS n, dp[4] AS dtw_e6
       |FROM dtw WHERE i = n""".stripMargin
  }

  /** q_dtw_knn oracle: same band-row recursion over the id-bounded probe
    * pair grid, argmin by (dtw, candidate) per probe.
    */
  private def dtwKnnOracleSql: String = {
    val inf = "1000000000000000"
    s"""WITH RECURSIVE daily AS (
       |  SELECT user_id,
       |    CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
       |    CAST(sum(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT) AS q
       |  FROM events WHERE user_id < 64 GROUP BY 1, 2),
       |spine AS (SELECT min(day) AS mn, max(day) AS mx FROM daily),
       |grid AS (
       |  SELECT s.u, ds.d
       |  FROM (SELECT DISTINCT user_id AS u FROM daily) s, spine,
       |    unnest(range(mn, mx + 1)) AS ds(d)),
       |series AS (
       |  SELECT grid.u AS user_id, list(coalesce(dd.q, 0) ORDER BY grid.d) AS v
       |  FROM grid LEFT JOIN daily dd ON dd.user_id = grid.u AND dd.day = grid.d
       |  GROUP BY 1),
       |pairs AS (
       |  SELECT x.user_id AS uid, y.user_id AS cand,
       |    x.v AS a, y.v AS b, len(x.v) AS n, len(y.v) AS m
       |  FROM series x JOIN series y ON x.user_id <> y.user_id),
       |dtw AS (
       |  SELECT uid, cand, a, b, n, m, 0 AS i,
       |    [CAST($inf AS BIGINT), $inf, $inf, 0, $inf, $inf, $inf] AS dp
       |  FROM pairs
       |  UNION ALL
       |  SELECT uid, cand, a, b, n, m, i,
       |    [x0.c0, x1.c1, x2.c2, x3.c3, x4.c4, x5.c5, x6.c6]
       |  FROM (SELECT uid, cand, a, b, n, m, i + 1 AS i, dp
       |        FROM dtw WHERE i < n) t,
       |    $dtwLaterals)
       |SELECT uid AS user_id, cand AS nn_user, dp[4] AS dtw_e6
       |FROM dtw WHERE i = n
       |QUALIFY row_number() OVER (PARTITION BY uid ORDER BY dp[4], cand) = 1""".stripMargin
  }

  /** Unigram-LM fit CTEs: the WordPiece inventory selection carrying
    * occurrence counts, then micro-nat log-probs floor(1e6·ln(occ/Σocc))
    * normalized over the selected vocabulary, the derived unknown
    * penalty (min lp − 1e6), and the piece→lp lookup map the Viterbi
    * CTEs probe. Shares nothing with wordpieceVocabCtes textually so
    * the two can appear in one statement if ever needed.
    */
  private def unigramVocabCtes(fitFilter: String): String =
    s"""utoks AS (
      |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'),
      |    x -> x <> '') AS t
      |  FROM documents WHERE $fitFilter),
      |uwords0 AS (SELECT unnest(t) AS w FROM utoks),
      |uwords AS (SELECT w, count(*) AS f FROM uwords0 GROUP BY 1),
      |usubs AS (
      |  SELECT substr(w, CAST(s AS INT), CAST(l AS INT)) AS piece, f
      |  FROM uwords,
      |    unnest(range(1, len(w) + 1)) AS ts(s),
      |    unnest(range(1, least(6, len(w) - s + 1) + 1)) AS tl(l)),
      |uscored AS (SELECT piece, CAST(sum(f) AS BIGINT) AS occ,
      |  CAST(sum(f) * len(piece) AS BIGINT) AS score FROM usubs GROUP BY 1),
      |uchars AS (SELECT piece, occ FROM uscored WHERE len(piece) = 1),
      |umulti AS (SELECT piece, occ FROM uscored WHERE len(piece) > 1
      |  QUALIFY row_number() OVER (ORDER BY score DESC, piece)
      |    <= 64 - (SELECT count(*) FROM uchars)),
      |uvoc AS (SELECT piece, occ FROM uchars UNION ALL SELECT piece, occ FROM umulti),
      |utot AS (SELECT CAST(sum(occ) AS DOUBLE) AS t FROM uvoc),
      |uvocab AS (SELECT piece,
      |  CAST(floor(1e6 * ln(CAST(occ AS DOUBLE) / t)) AS BIGINT) AS lp
      |  FROM uvoc, utot),
      |uunk AS (SELECT min(lp) - 1000000 AS ulp FROM uvocab),
      |vmapt AS (SELECT map(list(piece ORDER BY piece),
      |  list(lp ORDER BY piece)) AS vm FROM uvocab)""".stripMargin

  /** Unigram encode CTE block (u-prefixed names, textually disjoint from
    * the WordPiece walk so both chains can share one statement — see
    * q_tokenizer_compare): uetoks .. uwpos.
    */
  private def unigramEncodeCtes(fitFilter: String, encFilter: String,
      encText: String = "text"): String =
    s"""${unigramVocabCtes(fitFilter)},
       |uetoks AS (
       |  SELECT doc_id, list_filter(string_split_regex(trim($encText), '\\s+'),
       |    x -> x <> '') AS t
       |  FROM documents WHERE $encFilter),
       |udwords AS (SELECT DISTINCT unnest(t) AS w FROM uetoks),
       |vit AS (
       |  SELECT w, 0 AS i, [CAST(0 AS BIGINT)] AS dp FROM udwords
       |  UNION ALL
       |  SELECT w, i + 1, list_append(dp, (
       |    SELECT max(dp[j + 1] + CASE
       |        WHEN len(map_extract(vm, substr(w, CAST(j + 1 AS INT), CAST(i + 1 - j AS INT)))) > 0
       |          THEN map_extract(vm, substr(w, CAST(j + 1 AS INT), CAST(i + 1 - j AS INT)))[1]
       |        WHEN i = j THEN ulp
       |        ELSE NULL END)
       |    FROM unnest(range(greatest(0, i + 1 - 6), i + 1)) AS tj(j)))
       |  FROM vit, vmapt, uunk WHERE i < len(w)),
       |vfin AS (SELECT w, dp FROM vit WHERE i = len(w)),
       |bwalk AS (
       |  SELECT w, dp, vm, ulp, len(w) AS i, CAST('' AS VARCHAR) AS seg,
       |    0 AS np, 0 AS unk
       |  FROM vfin, vmapt, uunk
       |  UNION ALL
       |  SELECT w, dp, vm, ulp, i - l,
       |    substr(w, CAST(i - l + 1 AS INT), CAST(l AS INT)) ||
       |      CASE WHEN seg = '' THEN '' ELSE chr(31) END || seg,
       |    np + 1,
       |    unk + CASE WHEN len(map_extract(vm,
       |      substr(w, CAST(i - l + 1 AS INT), CAST(l AS INT)))) > 0 THEN 0 ELSE 1 END
       |  FROM (
       |    SELECT w, dp, vm, ulp, i, seg, np, unk,
       |      (SELECT min(l) FROM unnest(range(1, least(6, i) + 1)) AS tl(l)
       |       WHERE dp[CAST(i - l + 1 AS INT)] + CASE
       |           WHEN len(map_extract(vm, substr(w, CAST(i - l + 1 AS INT), CAST(l AS INT)))) > 0
       |             THEN map_extract(vm, substr(w, CAST(i - l + 1 AS INT), CAST(l AS INT)))[1]
       |           WHEN l = 1 THEN ulp ELSE NULL END = dp[CAST(i + 1 AS INT)]) AS l
       |    FROM bwalk WHERE i > 0) t),
       |useg AS (SELECT w, seg, np, unk FROM bwalk WHERE i = 0),
       |wsc AS (SELECT w, dp[CAST(len(w) + 1 AS INT)] AS sc FROM vfin),
       |uwpos AS (SELECT doc_id, unnest(t) AS w,
       |  unnest(range(1, len(t) + 1)) AS wi FROM uetoks)""".stripMargin

  /** Unigram encode oracle: fit on `fitFilter` docs, then per DISTINCT
    * word of `encFilter` docs run the forward Viterbi DP (recursive CTE
    * carrying the dp prefix as a BIGINT list) and the backward canonical
    * path reconstruction (second recursive CTE, shortest last piece
    * achieving dp[i]), reassemble per doc in word order, md5 the
    * segmentation — the DP twin of wordpieceEncodeSql's greedy walk.
    */
  private def unigramEncodeSql(fitFilter: String, encFilter: String,
      encText: String = "text"): String =
    s"""WITH RECURSIVE ${unigramEncodeCtes(fitFilter, encFilter, encText)}
       |SELECT p.doc_id, count(*) AS n_words,
       |  CAST(sum(s.np) AS BIGINT) AS n_pieces,
       |  CAST(sum(s.unk) AS BIGINT) AS n_unk,
       |  CAST(sum(f.sc) AS BIGINT) AS score_total,
       |  md5(string_agg(s.seg, chr(30) ORDER BY p.wi)) AS seg_md5
       |FROM uwpos p JOIN useg s USING (w) JOIN wsc f USING (w)
       |GROUP BY 1""".stripMargin

  /** Generated k-center rounds shared by the q_kcenter / q_knee oracles:
    * CTEs `e, c0, d0, p1..p7, c1..c7, d1..d7` (picks carry `cid, rad`).
    */
  private val kcenterCtes: String = {
    val rounds = (1 to 7).map { r =>
      // Picked ids leave the argmax pool (NOT IN) — mirrors
      // KCenter.select's exclusion, which matters only on duplicate-
      // heavy corpora where every dmin can reach 0.
      val pickedSoFar = ("SELECT cid FROM c0" +:
        (1 until r).map(i => s"SELECT cid FROM p$i")).mkString(" UNION ALL ")
      s"""p$r AS MATERIALIZED (
         |  SELECT vec_id AS cid, dmin AS rad FROM d${r - 1}
         |  WHERE vec_id NOT IN ($pickedSoFar)
         |  ORDER BY dmin DESC, vec_id LIMIT 1),
         |c$r AS MATERIALIZED (
         |  SELECT e.v AS cv FROM e JOIN p$r ON e.vec_id = p$r.cid),
         |d$r AS MATERIALIZED (
         |  SELECT d.vec_id, d.v,
         |    least(d.dmin, 1 - list_cosine_similarity(d.v, c$r.cv)) AS dmin
         |  FROM d${r - 1} d, c$r)""".stripMargin
    }.mkString(",\n")
    s"""e AS MATERIALIZED (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |c0 AS MATERIALIZED (
       |  SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 1),
       |d0 AS MATERIALIZED (
       |  SELECT e.vec_id, e.v, 1 - list_cosine_similarity(e.v, c0.cv) AS dmin
       |  FROM e, c0),
       |$rounds""".stripMargin
  }

  /** Generated MMR rounds shared by the q_mmr oracle: CTEs `e, q, pool,
    * p1..p6, c1..c6, d1..d5` — picks carry (vec_id, rel, ms, score),
    * `d` tables keep the running max-sim-to-selected, exclusion chains
    * exactly like [[Mmr.select]]'s pool filtering.
    */
  private val mmrCtes: String = {
    val rounds = (2 to 6).map { r =>
      s"""p$r AS MATERIALIZED (
         |  SELECT vec_id, rel, ms, 0.7 * rel - 0.3 * ms AS score
         |  FROM d${r - 1} ORDER BY score DESC, vec_id LIMIT 1),
         |c$r AS MATERIALIZED (
         |  SELECT pool.v AS cv FROM pool JOIN p$r USING (vec_id))""".stripMargin +
        (if (r < 6)
          s""",
             |d$r AS MATERIALIZED (
             |  SELECT d.vec_id, d.v, d.rel,
             |    greatest(d.ms, list_cosine_similarity(d.v, c$r.cv)) AS ms
             |  FROM d${r - 1} d, c$r
             |  WHERE d.vec_id NOT IN (SELECT vec_id FROM p$r))""".stripMargin
        else "")
    }.mkString(",\n")
    s"""e AS MATERIALIZED (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |q AS MATERIALIZED (
       |  SELECT vec_id AS qid, v AS qv FROM e ORDER BY vec_id LIMIT 1),
       |pool AS MATERIALIZED (
       |  SELECT e.vec_id, e.v, list_cosine_similarity(e.v, q.qv) AS rel
       |  FROM e, q WHERE e.vec_id <> q.qid
       |  ORDER BY rel DESC, e.vec_id LIMIT 16),
       |p1 AS MATERIALIZED (
       |  SELECT vec_id, rel, CAST(0.0 AS DOUBLE) AS ms,
       |    0.7 * rel - 0.3 * CAST(0.0 AS DOUBLE) AS score
       |  FROM pool ORDER BY rel DESC, vec_id LIMIT 1),
       |c1 AS MATERIALIZED (
       |  SELECT pool.v AS cv FROM pool JOIN p1 USING (vec_id)),
       |d1 AS MATERIALIZED (
       |  SELECT pool.vec_id, pool.v, pool.rel,
       |    list_cosine_similarity(pool.v, c1.cv) AS ms
       |  FROM pool, c1 WHERE pool.vec_id NOT IN (SELECT vec_id FROM p1)),
       |$rounds""".stripMargin
  }

  /** DuckDB twin of [[RandomProjection.projectCols]]: the j-th projected
    * dim as a left-associated ±vec[i] chain over the SAME driver-derived
    * sign constants, scaled by 1/√dOut — term for term the Spark tree.
    */
  private def jlChainSql(vec: String, j: Int, dIn: Int = 64, dOut: Int = 8): String = {
    val s = RandomProjection.signs(dIn, dOut)
    val terms = (0 until dIn).map { i =>
      val cell = s"$vec[${i + 1}]"
      if (i == 0) { if (s(i)(j - 1) > 0) cell else s"(- $cell)" }
      else if (s(i)(j - 1) > 0) s"+ $cell"
      else s"- $cell"
    }.mkString(" ")
    s"($terms) / sqrt(${dOut}.0)"
  }

  /** SQL twin of [[pcaTopComponent]]: CTEs ending in `v3` with columns
    * v3_1..v3_16 + nrm3 (plus everything upstream). Left-associated
    * term order matches the Spark reduceLeft chains exactly.
    */
  private val pcaPowerCtes: String = {
    val dim = 16
    def cn(i: Int, j: Int) = if (i <= j) s"c${i}_$j" else s"c${j}_$i"
    val moCols =
      (1 to dim).map(i => s"CAST(sum(CAST(v[$i] AS DECIMAL(28,12))) AS DOUBLE) AS s$i") ++
        (for { i <- 1 to dim; j <- i to dim }
          yield s"CAST(sum(CAST(v[$i] * v[$j] AS DECIMAL(28,12))) AS DOUBLE) AS p${i}_$j")
    val covCols = (for { i <- 1 to dim; j <- i to dim }
      yield s"p${i}_$j / n - (s$i / n) * (s$j / n) AS c${i}_$j").mkString(",\n    ")
    val v0 = (1 to dim).map(i => s"0.25 AS v0_$i").mkString(", ")
    val iters = (1 to 3).map { t =>
      val w = (1 to dim).map { i =>
        (1 to dim).map(j => s"${cn(i, j)} * v${t - 1}_$j").mkString(" + ") + s" AS w${t}_$i"
      }.mkString(",\n    ")
      val nrm = "sqrt(" +
        (1 to dim).map(i => s"w${t}_$i * w${t}_$i").mkString(" + ") + s") AS nrm$t"
      val vn = (1 to dim).map(i => s"w${t}_$i / nrm$t AS v${t}_$i").mkString(", ")
      s"""w$t AS (SELECT *,
         |    $w
         |  FROM ${if (t == 1) "v0" else s"v${t - 1}"}),
         |n$t AS (SELECT *, $nrm FROM w$t),
         |v$t AS (SELECT *, $vn FROM n$t)""".stripMargin
    }.mkString(",\n")
    s"""e AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |mo AS (
       |  SELECT CAST(count(*) AS DOUBLE) AS n,
       |    ${moCols.mkString(",\n    ")}
       |  FROM e),
       |cov AS (
       |  SELECT n,
       |    $covCols
       |  FROM mo),
       |v0 AS (SELECT *, $v0 FROM cov),
       |$iters""".stripMargin
  }

  /** Flagship query — driver smoke-checks rows > 0 at sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_join_inner")(spark, "/root/testdata/sf0.001")
}
