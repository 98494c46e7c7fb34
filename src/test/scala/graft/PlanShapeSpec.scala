package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

/** Physical plan-shape regression tests: the scale invariants documented
  * in BENCH.md, asserted on the actual plans so they cannot silently
  * regress. (LayoutSpec does the same for bucketed zero-shuffle joins.)
  */
class PlanShapeSpec extends SparkTestBase {

  private def plan(name: String): String = {
    val df: DataFrame = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
  }

  private def countOccurrences(s: String, sub: String): Int =
    s.sliding(sub.length).count(_ == sub)

  test("q_range_join: banded interval join plans as an equi-join, not a nested loop") {
    val p = plan("q_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"banding must turn the BETWEEN into an equi-join:\n$p")
  }

  test("RangeJoin.trailingWindowJoin matches the naive non-equi join") {
    import org.apache.spark.sql.functions._
    val days = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_shipdate").cast("date").as("ship_day")).distinct()
    val ords = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_orderdate").cast("date").as("o_day"))
    val banded = graft.core.RangeJoin
      .trailingWindowJoin(days, "ship_day", ords, "o_day", lookbackDays = 3, bandDays = 4)
      .groupBy("ship_day").agg(count(lit(1)).as("n"))
    val naive = days.join(ords,
        col("o_day").between(date_sub(col("ship_day"), 3), col("ship_day")))
      .groupBy("ship_day").agg(count(lit(1)).as("n"))
    assert(banded.collect().toSet == naive.collect().toSet)
  }

  test("BloomJoin: pre-filter shrinks the shuffled side; result stays exact") {
    import org.apache.spark.sql.functions._
    val fact = spark.read.parquet(s"$sf/lineitem.parquet")
    val dim = spark.read.parquet(s"$sf/orders.parquet").filter(col("o_totalprice") > 250000.0)
    val reduced = graft.core.BloomJoin
      .semiJoinReduced(fact, dim, "l_orderkey", "o_orderkey", expectedItems = 100000L)
    val plain = fact.join(dim.select(col("o_orderkey").as("k")),
      col("l_orderkey") === col("k"), "left_semi")
    assert(reduced.count() == plain.count())
    // The Bloom stage alone must cut the fact side hard (selective dim):
    val bf = dim.stat.bloomFilter("o_orderkey", 100000L, 0.01)
    val bc = spark.sparkContext.broadcast(bf)
    val probed = fact.filter(
      graft.functions.GraftFunctions.bloomMightContain(col("l_orderkey").cast("long"), bc))
    val kept = probed.count()
    assert(kept < fact.count() / 2,
      s"bloom pre-filter kept $kept of ${fact.count()} — no reduction")
    // The probe is a codegen'd Catalyst expression, not a UDF: the filter
    // must sit INSIDE a WholeStageCodegen stage (starred in the simple
    // plan), so the pre-shuffle cut doesn't break the scan's stage.
    val simple = probed.queryExecution.executedPlan.toString
    val filterLine = simple.linesIterator
      .find(_.contains("graft_bloom_might_contain"))
      .getOrElse(fail(s"no bloom probe filter in plan:\n$simple"))
    assert(filterLine.trim.startsWith("*") && !simple.contains("BatchEvalPython"),
      s"bloom probe filter not whole-stage-codegen'd:\n$simple")
  }

  test("q_substring_dedup: shared-gram detection is partial-aggregated, never windowed on gram") {
    // The r5 formulation (min/max OVER (PARTITION BY gram)) had no
    // map-side partial aggregation: a hot boilerplate gram funneled its
    // entire occurrence list through ONE window task. The r6 plan must
    // detect sharing via HashAggregate pairs (partial_min/partial_max
    // collapse each gram to one state row per map partition) and window
    // only per-doc for the islands assembly.
    val p = plan("q_substring_dedup")
    assert(p.contains("partial_min") && p.contains("partial_max"),
      s"expected map-side partial min/max aggregation in:\n$p")
    assert(!p.contains("windowspecdefinition(gram"),
      s"gram-partitioned window (the skew bomb) is back:\n$p")
  }

  test("q_islands: both windows and the final agg ride ONE exchange") {
    // hashpartitioning(o_custkey) co-locates the finer (o_custkey,
    // o_orderpriority) window partitions too — Catalyst reuses it instead
    // of re-shuffling between the two Window operators.
    val p = plan("q_islands")
    assert(countOccurrences(p, "Arguments: hashpartitioning") == 1,
      s"expected a single hash exchange under both windows:\n$p")
  }

  test("q_collect_nested: two-level nesting runs on ONE shuffle (partition-once)") {
    val p = plan("q_collect_nested")
    assert(countOccurrences(p, "Arguments: hashpartitioning") == 1,
      s"expected a single hash exchange, got:\n$p")
  }

  test("q_argmax_dedup: keep-best is a partial aggregate, not a window sort") {
    val p = plan("q_argmax_dedup")
    assert(p.contains("partial_max"), s"expected map-side partial_max:\n$p")
    assert(!p.contains("Window"), s"expected no window operator:\n$p")
    assert(countOccurrences(p, "Arguments: hashpartitioning") == 1)
  }

  test("q_join_inner: fact table never shuffles — broadcasts + one agg exchange") {
    val p = plan("q_join_inner")
    assert(countOccurrences(p, "Arguments: hashpartitioning") == 1,
      s"only the final aggregation may shuffle:\n$p")
    assert(countOccurrences(p, ") BroadcastHashJoin") == 4,
      s"all four dimension joins must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no SMJ expected at this scale:\n$p")
  }

  test("q_zip_pad: row explosion stays inside whole-stage codegen") {
    val p = plan("q_zip_pad")
    // The static zip-pad keeps the Generate codegen'd — formatted plans
    // tag codegen'd nodes with "[codegen id : N]" on the node header.
    val genLine = p.linesIterator.find(l => l.contains(") Generate"))
    assert(genLine.isDefined, s"explode expected:\n$p")
    assert(genLine.get.contains("codegen id"),
      s"Generate must be inside whole-stage codegen, got: ${genLine.get}\n$p")
  }

  test("q_asof_join: union+window — no range-join pair materialization") {
    val p = plan("q_asof_join")
    assert(p.contains("Window"), s"running-window carry expected:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"as-of must not plan a theta join:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"as-of is join-free by construction (union + window):\n$p")
  }

  test("q_salted_agg: two aggregation stages, map-side partials in both") {
    val p = plan("q_salted_agg")
    assert(countOccurrences(p, "Arguments: hashpartitioning") == 2,
      s"salted agg = exactly two exchanges (key+salt, then key):\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"stage 1 must partial-aggregate map-side:\n$p")
  }

  test("q_rollup: Expand runs over the pre-aggregate, not the fact table") {
    val p = plan("q_rollup")
    assert(p.contains("Expand"), s"rollup needs an Expand node:\n$p")
    // Pre-agg exchange + rollup exchange; a fact-table rollup would show
    // Expand directly over the scan with a single exchange.
    assert(countOccurrences(p, "Arguments: hashpartitioning") == 2, p)
  }

  test("q_filter_compound: predicates reach the parquet scan") {
    val p = plan("q_filter_compound")
    assert(p.contains("PushedFilters"), s"expected parquet pushdown:\n$p")
    assert(p.contains("GreaterThan(o_totalprice"), s"range predicate must push down:\n$p")
    assert(p.contains("In(o_orderstatus"), s"isin predicate must push down:\n$p")
  }

  test("q_agg_stats: column pruning — scan reads only the five needed columns") {
    val p = plan("q_agg_stats")
    val schemaLine = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!schemaLine.contains("l_shipdate") && !schemaLine.contains("l_partkey"),
      s"scan must not read unused columns:\n$schemaLine")
  }

  test("q_funnel_events: the whole funnel rides ONE exchange (user_id)") {
    val p = plan("q_funnel_events")
    assert(countOccurrences(p, "Arguments: hashpartitioning") == 1,
      s"state-machine fold = one shuffle, vs three for the chained-min form:\n$p")
  }

  test("q_chunk_overlap: chunking is a narrow pipeline — zero exchanges") {
    val p = plan("q_chunk_overlap")
    assert(countOccurrences(p, "Exchange") == 0,
      s"chunk explosion must not shuffle:\n$p")
    assert(p.contains("Generate"), s"expected an explode Generate node:\n$p")
  }

  test("q_pack_sequences: ONE shard exchange feeds a partitioned running-sum window") {
    val p = plan("q_pack_sequences")
    assert(countOccurrences(p, "Arguments: hashpartitioning") == 1,
      s"packing layout = one shuffle on shard:\n$p")
    assert(p.contains("Window"), s"expected the per-shard running sum:\n$p")
  }

  test("q_pack_greedy: the sequential scan rides ONE shard exchange, no window") {
    val p = plan("q_pack_greedy")
    assert(countOccurrences(p, "Arguments: hashpartitioning") == 1,
      s"next-fit = one shard shuffle into the NextFitBins kernel projection:\n$p")
    assert(!p.contains("Window"), s"no window — the kernel scan does the fold:\n$p")
    assert(p.contains("Generate"), s"expected the placement explode:\n$p")
  }

  test("q_decontaminate: benchmark gram set joins as a broadcast, never SMJ") {
    val p = plan("q_decontaminate")
    assert(p.contains("BroadcastHashJoin"), s"gram join must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no sort-merge on the gram join:\n$p")
  }

  test("q_skyline: bucket-parallel local phase, broadcast anti-join global phase") {
    val p = plan("q_skyline")
    assert(p.contains("hashpartitioning(bucket"),
      s"local skylines must partition by price bucket:\n$p")
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    // The local-skyline subtree appears on BOTH join sides (probe +
    // broadcast build; the identical Exchange is deduped by ReuseExchange
    // at runtime) — what matters is every Window carries the bucket key.
    val lws = SparkEntry.queries("q_skyline")(spark, sf)
      .queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(lws.nonEmpty && lws.forall(_.partitionSpec.nonEmpty),
      s"every skyline Window must be bucket-partitioned — the global phase is a join:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"global dominance check must broadcast the survivor set:\n$p")
  }

  test("registry-wide: no query plans an unpartitioned Window") {
    // The single-partition window is this engine's canonical scale-killer
    // (VERDICT r4/r5); guard the WHOLE registry so a new query cannot
    // reintroduce one — bench shapes included. Logical plans only —
    // nothing executes.
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val offenders = (SparkEntry.queries.toSeq ++ benchShapes).sortBy(_._1).flatMap { case (name, fn) =>
      val bad = fn(spark, sf).queryExecution.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty => w
      }
      if (bad.nonEmpty) Some(s"$name (${bad.size})") else None
    }
    assert(offenders.isEmpty, s"unpartitioned windows in: ${offenders.mkString(", ")}")
  }

  test("q_quantile_bin: boundary row broadcasts — the table never wide-shuffles") {
    val p = plan("q_quantile_bin")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"the one-row quartile frame must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no sort-merge against a 1-row side:\n$p")
  }

  test("q_mad_outliers: both statistic tables broadcast back over the docs") {
    val p = plan("q_mad_outliers")
    assert(countOccurrences(p, "BroadcastHashJoin") >= 2,
      s"med and mad are per-lang LUTs — both joins must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no sort-merge on tiny stat tables:\n$p")
  }

  test("q_rolling_median: one exchange feeds the frame window") {
    val p = plan("q_rolling_median")
    assert(countOccurrences(p, "Arguments: hashpartitioning") == 1,
      s"frame-bounded median = one shuffle on the partition key:\n$p")
  }

  test("q_vocab_encode: top-50 is a distributed TakeOrderedAndProject, not a global window") {
    val p = plan("q_vocab_encode")
    assert(!p.contains("Window"),
      s"the df-rank must not window the distinct-token table:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"orderBy+limit must plan as TakeOrderedAndProject:\n$p")
  }

  test("q_topk_share: every window is partitioned — no single-partition rank") {
    // Rank.rowNumberDesc buckets by approx-percentile splits; the only
    // Window operators left must carry a partitionSpec (the __bkt key).
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    def windows(plan: SparkPlan): Seq[WindowExec] = plan.collect {
      case a: AdaptiveSparkPlanExec => windows(a.executedPlan)
      case w: WindowExec => Seq(w)
    }.flatten
    val df = SparkEntry.queries("q_topk_share")(spark, sf)
    val ws = windows(df.queryExecution.executedPlan)
    assert(ws.nonEmpty, "expected the bucketed rank window to survive planning")
    assert(ws.forall(_.partitionSpec.nonEmpty),
      s"found an unpartitioned Window:\n${ws.map(_.partitionSpec).mkString("\n")}")
  }

  test("q_substring_dedup: gram-keyed joins only — never a pair/theta join") {
    val p = plan("q_substring_dedup")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"span assembly must stay gram/doc keyed:\n$p")
  }

  test("q_readability: FuseRegexCount live in the registry plan — zero regexp_replace") {
    val p = plan("q_readability")
    assert(countOccurrences(p, "graft_regex_count") >= 3,
      s"all three run counts must plan as the one-scan kernel:\n$p")
    assert(!p.contains("regexp_replace"),
      s"the double-scan idiom must be fused away:\n$p")
  }

  test("q_ivm_topk_retract: maintained leaderboard read is a bounded agg, not a window") {
    val p = plan("q_ivm_topk_retract")
    assert(p.contains("graft_topk"), s"TopKAgg read expected:\n$p")
    assert(!p.contains("Window"),
      s"the live set must never be window-sorted:\n$p")
  }

  test("q_attribution: first/last/purchase lookups ride ONE exchange (user_id)") {
    val p = plan("q_attribution")
    // one shuffle collects per-user sequences + one small agg exchange on
    // the (first_touch, last_touch) readout — never three event rescans.
    assert(countOccurrences(p, ") Scan parquet") == 1,
      s"events must be scanned once, vs three times in the CTE form:\n$p")
    assert(countOccurrences(p, "Arguments: hashpartitioning") <= 2,
      s"sequence fold + readout agg only:\n$p")
  }
}
