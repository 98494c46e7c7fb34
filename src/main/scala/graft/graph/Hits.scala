package graft.graph

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** HITS hubs & authorities (Kleinberg) over a DIRECTED edge list, run a
  * fixed number of alternating rounds in EXACT INTEGER arithmetic:
  * h ← A·a, a ← Aᵀ·h with a₀ = 1, no per-round normalization. Skipping
  * the normalization is what makes the fixpoint algebra exact — every
  * intermediate score is a BIGINT sum of BIGINTs — and the direction of
  * the ranking is unchanged (normalization only rescales). Scores are
  * normalized ONCE at the end, against the per-role maximum, as a single
  * IEEE division of exact integers — bit-equal across engines with no
  * rounding.
  *
  * The growth budget is the caller's contract: after r alternating
  * rounds scores are bounded by maxdeg^(2r−1), and every score must stay
  * below 2⁵³ for the final BIGINT→DOUBLE cast to be value-preserving
  * (the DuckDB int128→double hazard documented at Stats.autocorr).
  * rounds ≤ 3 keeps that true for max degree up to ~400 (400⁶ < 2⁵³);
  * `require` guards the bound.
  *
  * Scale: each half-round is one keyed join + one map-side-combining
  * aggregation on the edge list — the same shuffle shape as one PageRank
  * round; no driver action, no windows.
  */
object Hits {

  /** @param edges directed (src, dst)
    * @return (role, node, score, score_norm): role "hub" for src nodes,
    *         "auth" for dst nodes; score_norm = score / max(score) within
    *         the role.
    */
  def run(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 3,
      s"rounds must be in [1, 3] (integer-growth budget, see scaladoc), got $rounds")
    val e = edges.select(col("src"), col("dst")).localCheckpoint(false)
    // a = 1 for every dst node → first hub pass is the out-degree.
    var hub = e.groupBy("src").agg(count(lit(1)).as("h"))
    var auth = e.join(hub, "src").groupBy("dst").agg(sum(col("h")).as("a"))
    for (_ <- 2 to rounds) {
      hub = e.join(auth, "dst").groupBy("src").agg(sum(col("a")).as("h"))
      auth = e.join(hub, "src").groupBy("dst").agg(sum(col("h")).as("a"))
    }
    val hm = broadcast(hub.agg(max(col("h")).as("mx")))
    val am = broadcast(auth.agg(max(col("a")).as("mx")))
    hub.crossJoin(hm)
      .select(lit("hub").as("role"), col("src").as("node"), col("h").as("score"),
        (col("h").cast("double") / col("mx").cast("double")).as("score_norm"))
      .unionByName(
        auth.crossJoin(am)
          .select(lit("auth").as("role"), col("dst").as("node"), col("a").as("score"),
            (col("a").cast("double") / col("mx").cast("double")).as("score_norm")))
  }

  /** [[run]] through [[DriverTier]], which engages only on LongType ids:
    * every intermediate is the same exact BIGINT sum (addExact mirrors the
    * ANSI sum's overflow loudness), and the one closing IEEE division per
    * row is identical, so the two tiers are bit-identical (GraphSpec pins
    * it). Non-long node ids fall through to [[run]] unchanged; an empty
    * edge set gives [[run]]'s empty result.
    */
  def runAdaptive(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 3,
      s"rounds must be in [1, 3] (integer-growth budget, see scaladoc), got $rounds")
    DriverTier.pairs(edges.select(col("src"), col("dst")))(run(_, rounds)) { es =>
      def sumBy(pairs: Array[(Long, Long)]): mutable.LongMap[Long] = {
        val m = mutable.LongMap.empty[Long]
        pairs.foreach { case (k, v) => m(k) = Math.addExact(m.getOrElse(k, 0L), v) }
        m
      }
      var hub = sumBy(es.map { case (s, _) => (s, 1L) })
      var auth = sumBy(es.map { case (s, d) => (d, hub(s)) })
      for (_ <- 2 to rounds) {
        hub = sumBy(es.flatMap { case (s, d) => auth.get(d).map(a => (s, a)) })
        auth = sumBy(es.flatMap { case (s, d) => hub.get(s).map(h => (d, h)) })
      }
      // per-role max; the 1.0 for an empty role is never divided by
      def maxOf(m: mutable.LongMap[Long]) = m.valuesIterator.maxOption.fold(1.0)(_.toDouble)
      val (hm, am) = (maxOf(hub), maxOf(auth))
      val spark = edges.sparkSession
      import spark.implicits._
      (hub.toSeq.map { case (n, h) => ("hub", n, h, h.toDouble / hm) } ++
        auth.toSeq.map { case (n, a) => ("auth", n, a, a.toDouble / am) })
        .toDF("role", "node", "score", "score_norm")
    }
  }
}
