package graft.graph

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed PageRank by power iteration — the graph-centrality
  * counterpart to [[graft.similarity.NearDup]]'s connected components
  * (same iterate-as-lazy-plan discipline, same checkpoint cadence).
  *
  * Scale shape: each iteration is ONE shuffle — contributions join ranks
  * to edges on `src` (the edge table, annotated with out-degree, is
  * checkpointed once and re-read every round) and aggregate on `dst` with
  * map-side partial sums. Rank mass is accumulated in DECIMAL, so results
  * are partitioning-independent and bit-reproducible; the damping blend
  * happens once per node per round in double.
  *
  * Plan growth is linear in iterations; `checkpointEvery` caps compile
  * cost the same way NearDup's propagation loop does. No driver-side
  * graph state at any size — the driver only tracks the loop counter.
  */
object PageRank {

  /** Ranks after `iters` rounds of r ← (1−d) + d·Σ_in r/deg.
    *
    * Node set = the distinct `src` endpoints; callers with undirected
    * graphs emit both edge directions (which also makes dangling-mass
    * redistribution a non-issue: every node has out-degree ≥ 1). Nodes
    * with no in-edges settle at the (1−d) floor. Uniform start rank 1.0
    * keeps total mass = |V| at every round (the standard N-normalized
    * formulation).
    */
  def run(
      edges: DataFrame,
      iters: Int,
      damping: Double = 0.85,
      checkpointEvery: Int = 3,
  ): DataFrame =
    runWithTeleport(edges, iters, damping, checkpointEvery, tele = lit(1.0))

  /** Personalized PageRank: the teleport mass lands ONLY on the seed
    * set (proximity to the seeds replaces global centrality — the
    * "related items to THESE items" query). Teleport vector e = 1 for
    * seeds, 0 otherwise; start rank = e; update
    * r ← (1−d)·e + d·Σ_in r/deg. Non-seed nodes unreachable from any
    * seed settle at exactly 0. Same per-round dataflow, decimal mass
    * discipline, and checkpoint cadence as [[run]] (shared loop — the
    * paths cannot drift).
    */
  def runPersonalized(
      edges: DataFrame,
      isSeed: Column,
      iters: Int,
      damping: Double = 0.85,
      checkpointEvery: Int = 3,
  ): DataFrame =
    runWithTeleport(edges, iters, damping, checkpointEvery,
      tele = when(isSeed, lit(1.0)).otherwise(lit(0.0)))

  /** Edge-weighted PageRank: mass splits over out-edges in proportion to
    * the edge weight instead of uniformly —
    * r ← (1−d) + d·Σ_in r·w/Σ_out w. The natural centrality for graphs
    * whose edges carry multiplicities (co-purchase counts, citation
    * counts, link frequencies): a node reached through HEAVY edges
    * outranks one reached through the same number of light ones.
    *
    * `edges` carries (src, dst, `weightCol`) with strictly positive
    * integer weights. Same loop, same decimal(28,12) contribution
    * quantization, same one-shuffle-per-round shape as [[run]] — the
    * unweighted path is the w ≡ 1 special case (rank·1/deg is an IEEE
    * identity with rank/deg, so [[run]]'s results are unchanged by the
    * shared implementation).
    */
  def runWeighted(
      edges: DataFrame,
      weightCol: String,
      iters: Int,
      damping: Double = 0.85,
      checkpointEvery: Int = 3,
  ): DataFrame =
    runWithTeleport(
      edges.select(col("src"), col("dst"), col(weightCol).cast("long").as("w")),
      iters, damping, checkpointEvery, tele = lit(1.0), weighted = true)

  /** Shared power-iteration loop over an arbitrary per-node teleport
    * column (evaluated against the node id as `node`). When `weighted`,
    * `edges` carries a long `w` column and contributions are r·w/Σw;
    * otherwise the classic r/deg (kept byte-identical — existing plans
    * must not move).
    */
  private def runWithTeleport(
      edges: DataFrame,
      iters: Int,
      damping: Double,
      checkpointEvery: Int,
      tele: Column,
      weighted: Boolean = false,
  ): DataFrame = {
    require(iters >= 0 && damping >= 0 && damping < 1 && checkpointEvery > 0,
      s"bad pagerank config iters=$iters d=$damping checkpointEvery=$checkpointEvery")
    val deg =
      if (weighted) edges.groupBy(col("src")).agg(sum(col("w")).as("deg"))
      else edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val eCols =
      if (weighted) Seq(col("src"), col("dst"), col("w"), col("deg"))
      else Seq(col("src"), col("dst"), col("deg"))
    val e = edges.join(deg, "src").select(eCols: _*).localCheckpoint(false)
    val nodes = deg.select(col("src").as("node"), tele.as("tele")).localCheckpoint(false)

    var rank = nodes.select(col("node"), col("tele").as("rank"))
    // Lineage cap: checkpoint every N rounds, EAGERLY, then release the
    // previous round's checkpoint blocks — otherwise executor storage
    // grows O(iters/checkpointEvery × |V|) over a long run.
    var prevCkpt: Option[DataFrame] = None
    for (i <- 1 to iters) {
      val contrib =
        if (weighted) (col("rank") * col("w") / col("deg")).cast("decimal(28,12)")
        else (col("rank") / col("deg")).cast("decimal(28,12)")
      val inMass = e
        .join(rank, e("src") === rank("node"))
        .select(col("dst").as("node"), contrib.as("contrib"))
        .groupBy(col("node"))
        .agg(sum(col("contrib")).as("in_mass"))
      rank = nodes
        .join(inMass, Seq("node"), "left")
        .select(
          col("node"),
          (lit(1.0 - damping) * col("tele") +
            lit(damping) * coalesce(col("in_mass").cast("double"), lit(0.0))).as("rank"),
        )
      if (i % checkpointEvery == 0) {
        rank = rank.localCheckpoint() // eager: owns its blocks before the old ones go
        prevCkpt.foreach(_.unpersist())
        prevCkpt = Some(rank)
      }
    }
    rank
  }

  /** [[run]] through [[DriverTier]]: a graph within the driver budget
    * iterates on the driver ([[run]] itself is the distributed tier). The tiers are BIT-IDENTICAL: contributions
    * are quantized to decimal(28,12) (HALF_UP, matching Spark's
    * double→decimal cast), summed exactly (order-free), and blended in
    * the same double op order — GraphSpec asserts equality. Long node ids
    * only (the cast is ANSI — non-numeric ids throw rather than corrupt);
    * graphs with string ids hash them first or use [[run]].
    */
  def runAdaptive(
      edges: DataFrame,
      iters: Int,
      damping: Double = 0.85,
  ): DataFrame =
    DriverTier.pairs(longPairs(edges))(run(_, iters, damping)) { es =>
      driverRanks(edges.sparkSession, unitWeights(es), iters, damping, isSeed = None)
    }

  /** [[runPersonalized]] through [[DriverTier]], bit-identical like [[runAdaptive]]. */
  def runPersonalizedAdaptive(
      edges: DataFrame,
      isSeed: Column,
      iters: Int,
      damping: Double = 0.85,
  ): DataFrame =
    DriverTier.pairs(longPairs(edges))(runPersonalized(_, isSeed, iters, damping)) {
      es => driverRanks(edges.sparkSession, unitWeights(es), iters, damping, Some(isSeed))
    }

  /** [[runWeighted]] through [[DriverTier]], bit-identical like [[runAdaptive]]. */
  def runWeightedAdaptive(
      edges: DataFrame,
      weightCol: String,
      iters: Int,
      damping: Double = 0.85,
  ): DataFrame = {
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"),
      col(weightCol).cast("long").as("w"))
    DriverTier.triples(e)(runWeighted(_, "w", iters, damping)) { es =>
      driverRanks(edges.sparkSession, es, iters, damping, isSeed = None)
    }
  }

  private def longPairs(edges: DataFrame): DataFrame =
    edges.select(col("src").cast("long"), col("dst").cast("long"))

  private def unitWeights(es: Array[(Long, Long)]): Array[(Long, Long, Long)] =
    es.map { case (s, d) => (s, d, 1L) }

  /** The driver mirror of [[runWithTeleport]], shared by the three
    * adaptive entry points: r ← (1−d)·tele + d·Σ_in r·w/Σ_out w over
    * (src, dst, w) long triples. Unweighted callers pass w ≡ 1 (the
    * driver's `rank·w/wsum` promotes the long weight to double exactly
    * like Spark's mixed-type arithmetic, and rank·1/deg is an IEEE
    * identity with rank/deg); `isSeed = None` is tele ≡ 1.0, and
    * (1−d)·1.0 == (1−d). A seed predicate is evaluated by Spark itself
    * over the collected node set (one LocalRelation projection, no
    * shuffle), so the driver sees exactly the per-node teleport the
    * distributed loop would.
    */
  private def driverRanks(
      spark: SparkSession,
      es: Array[(Long, Long, Long)],
      iters: Int,
      damping: Double,
      isSeed: Option[Column],
  ): DataFrame = {
    import spark.implicits._
    val wsum = es.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val nodes = wsum.keys.toArray.sorted
    val tele: Long => Double = isSeed.fold((_: Long) => 1.0) { seed =>
      nodes.toSeq.toDF("node")
        .select(col("node"), when(seed, lit(1.0)).otherwise(lit(0.0)))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    }
    var rank = nodes.map(n => n -> tele(n)).toMap
    for (_ <- 1 to iters) {
      val mass = collection.mutable.Map.empty[Long, java.math.BigDecimal]
      es.foreach { case (s, d, w) =>
        val contrib = java.math.BigDecimal.valueOf(rank(s) * w / wsum(s))
          .setScale(12, java.math.RoundingMode.HALF_UP)
        mass.updateWith(d)(prev => Some(prev.fold(contrib)(_.add(contrib))))
      }
      rank = nodes.map { n =>
        n -> ((1.0 - damping) * tele(n) + damping * mass.get(n).fold(0.0)(_.doubleValue))
      }.toMap
    }
    nodes.map(n => (n, rank(n))).toSeq.toDF("node", "rank")
  }
}
