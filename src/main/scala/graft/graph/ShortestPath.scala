package graft.graph

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed multi-source shortest paths by hop-bounded Bellman-Ford —
  * the path-cost member of the graph kit beside [[PageRank]] (centrality)
  * and NearDup's connected components (reachability). Reference scope:
  * the reference's interaction parsers only ever need 1-hop joins; path
  * cost over the derived graphs (e.g. co-purchase proximity) is
  * beyond-reference capability with the same edge tables.
  *
  * SEMANTICS — after `iters` relaxation rounds, `dist(source, node)` is
  * the EXACT minimum total edge cost over paths from `source` to `node`
  * using at most `iters` edges (unreached pairs are absent). The hop
  * bound is the semantic contract, not an approximation knob: it is what
  * a bounded recursive-CTE oracle computes, it is well-defined on graphs
  * with cycles, and on graphs whose diameter is below the bound it IS
  * the unbounded shortest path. Costs are LONG integers end to end —
  * no float anywhere, so cross-engine parity is structural (the same
  * reason [[graft.functions.DamerauLevenshteinImpl]] is integer DP).
  *
  * Scale shape: the state is SPARSE — only (source, reached-node) rows
  * exist, so round r shuffles O(sources × nodes-within-r-hops), never
  * |V|×|sources|. Each round is ONE shuffle: state joins the (localCheck-
  * pointed, reused) edge table on `src` and min-aggregates on
  * (source, dst) with map-side partial min. Multi-source costs no extra
  * rounds — the source id rides the state key through the same joins.
  * Lineage is capped with the [[PageRank]] eager-checkpoint cadence.
  */
object ShortestPath {

  /** Sparse Bellman-Ford. `edges` carries (`src`, `dst`, `w`) with
    * non-negative LONG costs (directed — undirected callers emit both
    * directions); `sources` carries one `source` column. Output:
    * (source, node, dist), one row per reached pair, sources included at
    * dist 0.
    */
  def run(
      edges: DataFrame,
      sources: DataFrame,
      iters: Int,
      checkpointEvery: Int = 3,
  ): DataFrame = {
    require(iters >= 0 && checkpointEvery > 0,
      s"bad sssp config iters=$iters checkpointEvery=$checkpointEvery")
    val e = edges
      .select(col("src"), col("dst"), col("w").cast("long").as("w"))
      .localCheckpoint(eager = false)
    var state = sources
      .select(col("source"), col("source").as("node"), lit(0L).as("dist"))
    var prevCkpt: Option[DataFrame] = None
    for (i <- 1 to iters) {
      // Carry ∪ relax, then exact min per (source, node). The union is
      // the zero-cost-self-loop identity: a kept dist is a relaxation
      // over the implicit (node, node, 0) edge, which is how the
      // recursive-CTE oracle states the same round.
      val relaxed = state
        .join(e, state("node") === e("src"))
        .select(col("source"), col("dst").as("node"),
          (col("dist") + col("w")).as("dist"))
      state = state
        .unionByName(relaxed)
        .groupBy(col("source"), col("node"))
        .agg(min(col("dist")).as("dist"))
      if (i % checkpointEvery == 0) {
        state = state.localCheckpoint() // eager: owns its blocks first
        prevCkpt.foreach(_.unpersist())
        prevCkpt = Some(state)
      }
    }
    state
  }

  /** [[run]] driven to FIXPOINT: rounds continue until the state stops
    * changing (capped at `maxIters` — a loud cap, not a silent
    * truncation). CONVERGED distances are the unbounded shortest paths
    * and are UNIQUE, which is what makes [[incrementalAdd]] well-defined
    * (hop-bounded intermediate states are fold-order-dependent;
    * fixpoints are not — the same reason NearDup's incremental
    * components build on converged labels).
    *
    * Fixpoint detection without a diff join: a relaxation round never
    * removes a (source, node) row and never increases a dist, so the
    * state is unchanged iff (row count, Σdist) is unchanged — two exact
    * longs per check, the NearDup fixpoint-count discipline.
    */
  def runConverged(
      edges: DataFrame,
      sources: DataFrame,
      maxIters: Int = 30,
      checkpointEvery: Int = 3,
  ): DataFrame = {
    val e = edges
      .select(col("src"), col("dst"), col("w").cast("long").as("w"))
      .localCheckpoint(eager = false)
    var state = sources
      .select(col("source"), col("source").as("node"), lit(0L).as("dist"))
      .localCheckpoint()
    var fingerprint = fp(state)
    var prevCkpt: Option[DataFrame] = Some(state)
    var i = 0
    var done = false
    while (i < maxIters && !done) {
      i += 1
      val relaxed = state.join(e, state("node") === e("src"))
        .select(col("source"), col("dst").as("node"), (col("dist") + col("w")).as("dist"))
      var next = state.unionByName(relaxed)
        .groupBy(col("source"), col("node"))
        .agg(min(col("dist")).as("dist"))
      if (i % checkpointEvery == 0 || i == maxIters) {
        next = next.localCheckpoint()
        val nfp = fp(next)
        done = nfp == fingerprint
        fingerprint = nfp
        prevCkpt.foreach(_.unpersist())
        prevCkpt = Some(next)
      }
      state = next
    }
    state
  }

  private def fp(state: DataFrame): (Long, Long) = {
    val r = state.agg(count(lit(1)), sum(col("dist"))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** INCREMENTAL edge addition over a converged state: given
    * `dist` = [[runConverged]] over an edge set E and a batch of new
    * edges ΔE, produce the converged distances over E ∪ ΔE touching
    * only the AFFECTED region — distances can only decrease under edge
    * addition (the monotonicity that makes this exact), so the work is
    * a wavefront: seed improvements by relaxing the current state
    * through ΔE alone, then propagate each improvement wave through the
    * full edge set until no row improves. Rounds ∝ the affected
    * region's eccentricity, work per round ∝ |wavefront| × degree —
    * NOT a full recompute (ShortestPathSpec pins equality with one).
    *
    * `edgesAll` must be E ∪ ΔE (the full post-addition set); weights of
    * existing edges must be unchanged (weight DECREASE is also safe —
    * it is an addition of a cheaper parallel edge; weight increase or
    * deletion breaks monotonicity and needs a rebuild, the documented
    * contract — the same asymmetry as Ivm's append-vs-retract split).
    */
  def incrementalAdd(
      dist: DataFrame,
      edgesAll: DataFrame,
      newEdges: DataFrame,
      maxIters: Int = 30,
      checkpointEvery: Int = 3,
  ): DataFrame = {
    val eAll = edgesAll
      .select(col("src"), col("dst"), col("w").cast("long").as("w"))
      .localCheckpoint(eager = false)
    val eNew = newEdges
      .select(col("src"), col("dst"), col("w").cast("long").as("w"))
    var state = dist.select(col("source"), col("node"), col("dist").cast("long").as("dist"))
      .localCheckpoint()
    // Seed wave: the only rows that can change flow through ΔE.
    var wave = state.join(eNew, state("node") === eNew("src"))
      .select(col("source"), col("dst").as("node"), (col("dist") + col("w")).as("dist"))
      .groupBy(col("source"), col("node")).agg(min(col("dist")).as("dist"))
    var prevCkpt: Option[DataFrame] = Some(state)
    var i = 0
    var done = false
    while (i < maxIters && !done) {
      i += 1
      // Improvements = wave entries strictly better than (or absent
      // from) the current state; everything else has converged already.
      val improved = wave.as("w")
        .join(state.as("s"), Seq("source", "node"), "left")
        .filter(col("s.dist").isNull || col("w.dist") < col("s.dist"))
        .select(col("source"), col("node"), col("w.dist").as("dist"))
        .localCheckpoint() // consumed by the empty-check, merge, and next wave
      if (improved.isEmpty) done = true
      else {
        state = state.as("s")
          .join(improved.as("i").withColumnRenamed("dist", "idist"),
            Seq("source", "node"), "outer")
          .select(col("source"), col("node"),
            coalesce(least(col("s.dist"), col("idist")),
              col("idist"), col("s.dist")).as("dist"))
        wave = improved.join(eAll, improved("node") === eAll("src"))
          .select(col("source"), col("dst").as("node"), (col("dist") + col("w")).as("dist"))
          .groupBy(col("source"), col("node")).agg(min(col("dist")).as("dist"))
        if (i % checkpointEvery == 0) {
          state = state.localCheckpoint()
          prevCkpt.foreach(_.unpersist())
          prevCkpt = Some(state)
        }
      }
    }
    state
  }

  /** [[run]] through [[DriverTier]]: a graph within the driver budget runs
    * the hop-bounded relaxation as [[driverConverged]] capped at `iters`
    * sweeps (a sweep that changes nothing leaves every later sweep
    * unchanged, so the early exit keeps the hop-bound contract). Pure
    * long arithmetic admits no accumulation-order effects, so the tiers
    * are bit-identical by construction (GraphSpec asserts it anyway).
    * Long node ids only (ANSI casts throw on non-numeric ids).
    */
  def runAdaptive(
      edges: DataFrame,
      sources: DataFrame,
      iters: Int,
  ): DataFrame =
    DriverTier.triples(longTriples(edges))(run(_, sources, iters)) { es =>
      driverConverged(edges.sparkSession, sourceStates(sources), es, iters)
    }

  /** [[runConverged]] through [[DriverTier]]. Pure long min-plus admits no
    * accumulation-order effects and converged fixpoints are unique, so the
    * two tiers are bit-identical (GraphSpec pins it).
    */
  def runConvergedAdaptive(
      edges: DataFrame,
      sources: DataFrame,
      maxIters: Int = 30,
      checkpointEvery: Int = 3,
  ): DataFrame =
    DriverTier.triples(longTriples(edges))(
      runConverged(_, sources, maxIters, checkpointEvery)) { es =>
      driverConverged(edges.sparkSession, sourceStates(sources), es, maxIters)
    }

  /** [[incrementalAdd]] through [[DriverTier]], sized on `edgesAll`: the
    * converged base state (bounded by sources × reached nodes — the same
    * state every distributed round shuffles anyway) collects, and
    * relaxation sweeps over the FULL post-addition edge set run to the
    * fixpoint. Distances only decrease under edge addition and the
    * fixpoint is unique, so this converges to exactly what the
    * distributed improvement wavefront converges to (GraphSpec pins
    * driver ≡ distributed ≡ full recompute).
    */
  def incrementalAddAdaptive(
      dist: DataFrame,
      edgesAll: DataFrame,
      newEdges: DataFrame,
      maxIters: Int = 30,
      checkpointEvery: Int = 3,
  ): DataFrame =
    DriverTier.triples(longTriples(edgesAll))(
      incrementalAdd(dist, _, newEdges, maxIters, checkpointEvery)) { es =>
      val state = dist
        .select(col("source").cast("long"), col("node").cast("long"), col("dist").cast("long"))
        .collect().groupBy(_.getLong(0)).toSeq
        .map { case (s, rs) => s -> mutable.LongMap(rs.map(r => r.getLong(1) -> r.getLong(2)): _*) }
      driverConverged(edgesAll.sparkSession, state, es, maxIters)
    }

  private def longTriples(edges: DataFrame): DataFrame =
    edges.select(col("src").cast("long"), col("dst").cast("long"), col("w").cast("long"))

  private def sourceStates(sources: DataFrame): Seq[(Long, mutable.LongMap[Long])] =
    sources.select(col("source").cast("long")).collect().toSeq
      .map(r => r.getLong(0) -> mutable.LongMap(r.getLong(0) -> 0L))

  /** The one driver relaxation sweep: full-edge relaxation from the
    * given per-source state, early-exit when a sweep changes nothing,
    * capped at `maxIters` sweeps like the distributed rounds. Each sweep
    * reads the PREVIOUS sweep's map (sweeps copy), so after sweep r a
    * distance is the min cost over paths of ≤ r more edges — exactly one
    * distributed round.
    */
  private def driverConverged(
      spark: SparkSession,
      init: Seq[(Long, mutable.LongMap[Long])],
      es: Array[(Long, Long, Long)],
      maxIters: Int,
  ): DataFrame = {
    import spark.implicits._
    init.flatMap { case (s, init0) =>
      var dist = init0
      var i = 0
      var changed = true
      while (i < maxIters && changed) {
        val next = dist.clone()
        changed = false
        es.foreach { case (u, v, w) =>
          dist.get(u).foreach { du =>
            val cand = du + w
            if (next.get(v).forall(_ > cand)) { next(v) = cand; changed = true }
          }
        }
        dist = next
        i += 1
      }
      dist.toSeq.map { case (n, d) => (s, n, d) }
    }.toDF("source", "node", "dist")
  }
}
