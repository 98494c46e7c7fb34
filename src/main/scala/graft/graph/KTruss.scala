package graft.graph

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixed-round k-truss peeling — the TRIANGLE-grade cohesion filter
  * beside [[KCore]]'s degree grade: repeatedly delete every edge whose
  * support (number of triangles containing it) falls below k−2. A
  * k-core keeps hub-and-spoke stars a community miner does not want;
  * the k-truss demands each surviving tie be WITNESSED by closed
  * triangles, which is why truss decomposition is the standard
  * community-core primitive. Same deterministic contract as
  * [[KCore.peel]]: EXACTLY `rounds` peels, each replayed identically by
  * the unrolled-CTE oracle, fixpoint or not.
  *
  * Support counting per round is the canonical-edge triangle join: with
  * e the canonical a<b edges and sym both orientations,
  * support(a,b) = |{c : (a,c) ∈ sym ∧ (b,c) ∈ sym}| — one |E|·deg join
  * with map-side-combining count, never node×node. Edges in NO triangle
  * vanish from the count's inner join, which IS the peel for k ≥ 3
  * (enforced). Sets shrink monotonically; localCheckpoint every second
  * round caps plan growth (the PageRank cadence).
  *
  * @return (a, b, support) for canonical edges surviving `rounds`
  *         peels, with the support that justified the LAST survival.
  */
object KTruss {

  def peel(canonEdges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 3, s"k must be >= 3 (edges outside any triangle drop), got $k")
    require(rounds >= 1 && rounds <= 32, s"rounds must be in [1, 32], got $rounds")
    var e = canonEdges.select(col("a"), col("b"))
    var out: DataFrame = null
    for (r <- 1 to rounds) {
      val sym = e.select(col("a").as("u"), col("b").as("v"))
        .unionByName(e.select(col("b").as("u"), col("a").as("v")))
      val sup = e
        .join(sym.select(col("u").as("a"), col("v").as("c1")), Seq("a"))
        .join(sym.select(col("u").as("b"), col("v").as("c2")), Seq("b"))
        .filter(col("c1") === col("c2"))
        .groupBy(col("a"), col("b"))
        .agg(count(lit(1)).as("support"))
      out = sup.filter(col("support") >= k - 2)
      e = out.select(col("a"), col("b"))
      if (r % 2 == 0 && r < rounds) {
        out = out.localCheckpoint(false)
        e = out.select(col("a"), col("b"))
      }
    }
    out
  }

  /** [[peel]] through [[DriverTier]], which engages only on LongType ids:
    * support(a,b) = |N(a) ∩ N(b)| over symmetric adjacency sets, exactly
    * the canonical triangle join's count, all integer, so the two tiers
    * are bit-identical (GraphSpec pins it). Non-long node ids fall
    * through to [[peel]] unchanged.
    */
  def peelAdaptive(canonEdges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 3, s"k must be >= 3 (edges outside any triangle drop), got $k")
    require(rounds >= 1 && rounds <= 32, s"rounds must be in [1, 32], got $rounds")
    DriverTier.pairs(canonEdges.select(col("a"), col("b")))(peel(_, k, rounds)) {
      es0 =>
        var es = es0
        var out = Array.empty[(Long, Long, Long)]
        for (_ <- 1 to rounds) {
          val adj = mutable.LongMap.empty[mutable.HashSet[Long]]
          def add(u: Long, v: Long): Unit = adj.getOrElseUpdate(u, mutable.HashSet.empty[Long]) += v
          es.foreach { case (a, b) => add(a, b); add(b, a) }
          out = es.flatMap { case (a, b) =>
            val (small, large) =
              if (adj(a).size <= adj(b).size) (adj(a), adj(b)) else (adj(b), adj(a))
            val support = small.count(large.contains).toLong
            if (support >= k - 2) Some((a, b, support)) else None
          }
          es = out.map { case (a, b, _) => (a, b) }
        }
        val spark = canonEdges.sparkSession
        import spark.implicits._
        out.toSeq.toDF("a", "b", "support")
    }
  }
}
