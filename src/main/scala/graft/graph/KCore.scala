package graft.graph

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixed-round k-core peeling: repeatedly delete nodes of degree < k and
  * every edge touching them. The k-core (maximal subgraph with min degree
  * ≥ k) is the fixpoint; this runs EXACTLY `rounds` peels — a
  * deterministic contract both engines replay identically (the DuckDB
  * oracle is the same chain unrolled as MATERIALIZED CTEs), independent
  * of whether the fixpoint has been reached. At the gate scales the
  * basket graph converges within the default rounds; at larger scale the
  * result is still well-defined ("the round-R peel state") and each extra
  * round costs one more pass.
  *
  * Scale: per round ONE map-side-combining degree aggregation + two
  * left-semi joins, all keyed on the node id — no driver collect, no
  * windows, no all-pairs. Surviving-node sets shrink monotonically, so
  * later rounds are cheaper. localCheckpoint every second round caps the
  * iterative plan growth (the PageRank cadence lesson).
  *
  * Expects a SYMMETRIC edge list (both directions present), so the
  * out-degree of `src` equals the full degree.
  */
object KCore {

  /** @return (node, deg) for every node surviving `rounds` peels, with
    *         its degree in the surviving subgraph.
    */
  def peel(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1 && rounds <= 32, s"rounds must be in [1, 32], got $rounds")
    var e = edges.select(col("src"), col("dst"))
    for (r <- 1 to rounds) {
      val keep = e.groupBy("src")
        .agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k)
        .select("src")
      e = e
        .join(keep, Seq("src"), "left_semi")
        .join(keep.withColumnRenamed("src", "dst"), Seq("dst"), "left_semi")
      if (r % 2 == 0 && r < rounds) e = e.localCheckpoint(false)
    }
    e.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
  }

  /** [[peel]] through [[DriverTier]], which engages only on LongType ids:
    * pure integer degree counting and set filtering, so the two tiers are
    * bit-identical by construction (GraphSpec pins it). Non-long node ids
    * fall through to [[peel]] unchanged.
    */
  def peelAdaptive(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1 && rounds <= 32, s"rounds must be in [1, 32], got $rounds")
    def degrees(es: Array[(Long, Long)]): mutable.LongMap[Long] = {
      val deg = mutable.LongMap.empty[Long]
      es.foreach { case (s, _) => deg(s) = deg.getOrElse(s, 0L) + 1L }
      deg
    }
    DriverTier.pairs(edges.select(col("src"), col("dst")))(peel(_, k, rounds)) {
      es0 =>
        var es = es0
        for (_ <- 1 to rounds) {
          val keep = degrees(es).filter(_._2 >= k).keySet
          es = es.filter { case (s, d) => keep(s) && keep(d) }
        }
        val spark = edges.sparkSession
        import spark.implicits._
        degrees(es).toSeq.toDF("node", "deg")
    }
  }
}
