package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import graft.graph.PageRank

/** PageRank invariants on hand graphs — the rows-only q_pagerank query's
  * correctness anchor (no SQL oracle can express the iteration).
  */
class GraphSpec extends SparkTestBase {
  import spark.implicits._

  private def undirected(pairs: (Long, Long)*) =
    (pairs ++ pairs.map(p => (p._2, p._1))).toDF("src", "dst")

  test("star graph converges to the analytic fixpoint, hub above leaves") {
    // hub 0 <-> leaves 1,2,3. Fixpoint of r_h = 0.15 + 0.85·3·r_l,
    // r_l = 0.15 + 0.85·r_h/3  →  r_h = 0.5325/0.2775, r_l from r_h.
    // Convergence is |λ|=d=0.85 per round (bipartite star oscillates):
    // 0.85^60 ≈ 6e-5 residual — the tolerance below, with headroom.
    val ranks = PageRank.run(undirected((0L, 1L), (0L, 2L), (0L, 3L)), iters = 60)
      .as[(Long, Double)].collect().toMap
    val rh = 0.5325 / 0.2775
    val rl = 0.15 + 0.85 * rh / 3
    assert(math.abs(ranks(0L) - rh) < 2e-4, s"hub ${ranks(0L)} != $rh")
    Seq(1L, 2L, 3L).foreach(l => assert(math.abs(ranks(l) - rl) < 2e-4))
    assert(ranks(0L) > ranks(1L))
    // symmetric leaves get EXACTLY equal ranks (decimal accumulation)
    assert(ranks(1L) == ranks(2L) && ranks(2L) == ranks(3L))
  }

  test("mass conservation and bit-deterministic reruns on a path graph") {
    val edges = undirected((1L, 2L), (2L, 3L))
    val a = PageRank.run(edges, iters = 5).as[(Long, Double)].collect().toMap
    val b = PageRank.run(edges, iters = 5).as[(Long, Double)].collect().toMap
    assert(a == b, "rerun diverged — accumulation not partition-independent")
    assert(math.abs(a.values.sum - 3.0) < 1e-9, s"mass leaked: ${a.values.sum}")
    assert(a(2L) > a(1L) && a(1L) == a(3L), s"middle node must dominate: $a")
  }

  test("adaptive driver path is bit-identical to distributed propagation") {
    val edges = undirected((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (3L, 4L))
    val driver = PageRank.runAdaptive(edges, iters = 7)
      .as[(Long, Double)].collect().toMap
    val dist = PageRank.run(edges, iters = 7)
      .as[(Long, Double)].collect().toMap
    assert(driver == dist, s"paths diverge:\n driver=$driver\n dist=$dist")
  }

  test("weighted: w≡1 equals unweighted; heavy edge pulls rank; paths bit-identical") {
    val edges = undirected((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (3L, 4L))
    // w ≡ 1 must reproduce the unweighted result EXACTLY (rank·1/deg is
    // an IEEE identity with rank/deg — the shared-loop guarantee).
    val flat = edges.withColumn("w", lit(1L))
    val unw = PageRank.run(edges, iters = 7).as[(Long, Double)].collect().toMap
    val w1 = PageRank.runWeighted(flat, "w", iters = 7).as[(Long, Double)].collect().toMap
    assert(unw == w1, s"w≡1 diverged from unweighted:\n unw=$unw\n w1=$w1")

    // Asymmetric weights shift mass: triangle 0-1-2 with edge 0-1 carrying
    // weight 10 vs weight-1 everywhere else — node 1 now receives most of
    // 0's out-mass (10/12 of it), so rank(1) must beat rank(2); in the
    // unweighted graph the two are symmetric and exactly equal.
    val tri = Seq((0L, 1L, 10L), (1L, 0L, 10L), (0L, 2L, 1L), (2L, 0L, 1L),
      (1L, 2L, 1L), (2L, 1L, 1L)).toDF("src", "dst", "w")
    val wr = PageRank.runWeighted(tri, "w", iters = 20).as[(Long, Double)].collect().toMap
    assert(wr(1L) > wr(2L), s"heavy edge failed to pull rank: $wr")
    assert(math.abs(wr.values.sum - 3.0) < 1e-6, s"mass leaked: ${wr.values.sum}")

    // Driver escape hatch ≡ distributed, weighted edition.
    val driver = PageRank.runWeightedAdaptive(tri, "w", iters = 7)
      .as[(Long, Double)].collect().toMap
    val dist = PageRank.runWeighted(tri, "w", iters = 7)
      .as[(Long, Double)].collect().toMap
    assert(driver == dist, s"weighted paths diverge:\n driver=$driver\n dist=$dist")
  }

  test("isolated-direction node keeps the damping floor") {
    // 1 -> 2 only: node 1 has no in-edges, so it settles at 1-d = 0.15.
    // (Node 2 is not in the src set — documented contract.)
    val ranks = PageRank.run(Seq((1L, 2L)).toDF("src", "dst"), iters = 3)
      .as[(Long, Double)].collect().toMap
    assert(ranks.keySet == Set(1L))
    assert(math.abs(ranks(1L) - 0.15) < 1e-12)
  }

  test("incrementalComponents == full recompute on random edge splits (star sufficiency)") {
    import graft.similarity.NearDup
    val rnd = new scala.util.Random(11)
    (1 to 4).foreach { trial =>
      val n = 30 + rnd.nextInt(40)
      val edges = Seq.fill(n)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
        .filter(e => e._1 != e._2)
      val cut = rnd.nextInt(edges.length)
      val (oldE, newE) = edges.splitAt(cut)
      val full = NearDup.connectedComponentsAdaptive(
        edges.toDF("a", "b"), "a", "b")
        .as[(Long, Long)].collect().toMap
      val inc =
        if (oldE.isEmpty)
          NearDup.connectedComponentsAdaptive(newE.toDF("a", "b"), "a", "b")
            .as[(Long, Long)].collect().toMap
        else if (newE.isEmpty)
          NearDup.connectedComponentsAdaptive(oldE.toDF("a", "b"), "a", "b")
            .as[(Long, Long)].collect().toMap
        else {
          val labels = NearDup.connectedComponentsAdaptive(oldE.toDF("a", "b"), "a", "b")
          NearDup.incrementalComponents(labels, newE.toDF("a", "b"), "a", "b")
            .as[(Long, Long)].collect().toMap
        }
      assert(inc == full, s"trial $trial: incremental fold must equal full recompute")
    }
  }

  test("LabelProp: weighted votes keep bridged cliques separate; unweighted ties flood") {
    import graft.graph.LabelProp
    // Cliques {1,2,3} and {10,11,12} with heavy internal edges (5),
    // joined by a light bridge 3-10 (1).
    val und = Seq((1L, 2L, 5L), (1L, 3L, 5L), (2L, 3L, 5L),
      (10L, 11L, 5L), (10L, 12L, 5L), (11L, 12L, 5L), (3L, 10L, 1L))
    val edges = (und ++ und.map(p => (p._2, p._1, p._3))).toDF("src", "dst", "weight")
    val got = LabelProp.run(edges, iters = 4).as[(Long, Long)].collect().toMap
    assert(Set(1L, 2L, 3L).map(got) == Set(1L),
      s"left clique must converge to min label 1: $got")
    assert(Set(10L, 11L, 12L).map(got) == Set(10L),
      s"right clique must converge to min label 10, not leak across the bridge: $got")
    // Deterministic across reruns (synchronous + min-label ties).
    val again = LabelProp.run(edges, iters = 4).as[(Long, Long)].collect().toMap
    assert(again == got)
    // The degeneracy the weights exist to prevent: with equal weights,
    // round-1 votes all tie, min labels win everywhere, and a left-clique
    // label invades the right clique through the bridge.
    val flat = edges.withColumn("weight", org.apache.spark.sql.functions.lit(1L))
    val deg = LabelProp.run(flat, iters = 4).as[(Long, Long)].collect().toMap
    assert(deg(10L) == 3L, s"unweighted ties must flood the bridge label: $deg")
  }

  test("runPersonalized: mass localizes around seeds; disconnected nodes read exactly 0") {
    import graft.graph.PageRank
    // Chain 1-2-3-4 plus a disconnected pair 10-11; seed = node 1.
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
    val edges = (und ++ und.map(p => (p._2, p._1))).toDF("src", "dst")
    val r = PageRank.runPersonalized(edges, $"node" === 1L, iters = 12)
      .as[(Long, Double)].collect().toMap
    assert(r(1L) > r(2L) && r(2L) > r(3L) && r(3L) > r(4L),
      s"rank must decay with distance from the seed: $r")
    assert(r(10L) == 0.0 && r(11L) == 0.0,
      s"no seed reaches the island -> exactly zero: $r")
    // Global run on the same graph gives the island nonzero mass - the
    // personalization is what zeroes it.
    val g = PageRank.run(edges, iters = 12).as[(Long, Double)].collect().toMap
    assert(g(10L) > 0.0)
  }

  test("hits: one-round bipartite hand graph — exact integer scores and norms") {
    // customers 1,2 -> parts: 1 buys {10,11,12}, 2 buys {10}.
    val e = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 10L)).toDF("src", "dst")
    val got = graft.graph.Hits.run(e, rounds = 1)
      .collect()
      .map(r => (r.getString(0), r.getAs[Long]("node")) ->
        ((r.getAs[Long]("score"), r.getAs[Double]("score_norm"))))
      .toMap
    assert(got(("hub", 1L)) == ((3L, 1.0)) && got(("hub", 2L)) == ((1L, 1.0 / 3.0)))
    assert(got(("auth", 10L)) == ((4L, 1.0)), "part 10 collects both hub scores")
    assert(got(("auth", 11L)) == ((3L, 0.75)) && got(("auth", 12L)) == ((3L, 0.75)))
  }

  test("hits: more rounds keep the dominant hub/authority on top; growth guard trips") {
    val e = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 10L)).toDF("src", "dst")
    val r3 = graft.graph.Hits.run(e, rounds = 3).collect()
      .map(r => (r.getString(0), r.getAs[Long]("node")) -> r.getAs[Double]("score_norm")).toMap
    assert(r3(("hub", 1L)) == 1.0 && r3(("auth", 10L)) == 1.0)
    assert(r3(("hub", 2L)) < 1.0 && r3(("auth", 11L)) < 1.0)
    intercept[IllegalArgumentException] { graft.graph.Hits.run(e, rounds = 4) }
  }

  test("adamicAdar: 4-cycle scores exactly the two diagonals; hub cap empties it") {
    val edges = undirected((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))
    val got = graft.graph.LinkPred.adamicAdar(edges, minCommon = 2, maxDeg = 200)
      .collect()
      .map(r => (r.getAs[Long]("node_a"), r.getAs[Long]("node_b")) ->
        ((r.getAs[Long]("cn"), r.getAs[Double]("aa"))))
      .toMap
    assert(got.keySet == Set((1L, 3L), (2L, 4L)), s"only the diagonals: ${got.keySet}")
    // two pivots of degree 2: AA = 2 · (1/ln 2 quantized at 12 dp)
    got.values.foreach { case (cn, aa) =>
      assert(cn == 2L)
      assert(math.abs(aa - 2.0 / math.log(2.0)) < 1e-9, s"aa=$aa")
    }
    // Star 0-{1,2,3}: the only pair-emitting pivot has degree 3, so a
    // maxDeg=2 hub cap must empty the candidate space.
    val star = undirected((0L, 1L), (0L, 2L), (0L, 3L))
    assert(graft.graph.LinkPred.adamicAdar(star, minCommon = 1, maxDeg = 2).count() == 0L,
      "a hub cap below every pair-emitting pivot degree must empty the candidates")
  }

  test("kcore: pendant peels off, triangle survives as the 2-core") {
    // Triangle 1-2-3 with pendant 4 hanging off node 1.
    val edges = undirected((1L, 2L), (2L, 3L), (1L, 3L), (1L, 4L))
    val got = graft.graph.KCore.peel(edges, k = 2, rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 2L),
      s"2-core must be the triangle with degree 2 each: $got")
  }

  test("kcore: a path has no 2-core — peels to empty") {
    val edges = undirected((1L, 2L), (2L, 3L), (3L, 4L))
    assert(graft.graph.KCore.peel(edges, k = 2, rounds = 3).count() == 0L)
  }

  test("kcore: fixed-round contract exposes the intermediate peel state") {
    // Path of 6: round 1 kills the endpoints, round 2 the next pair, ...
    val edges = undirected((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
    val r1 = graft.graph.KCore.peel(edges, k = 2, rounds = 1)
      .as[(Long, Long)].collect().map(_._1).toSet
    assert(r1 == Set(2L, 3L, 4L, 5L), s"after ONE peel only endpoints die: $r1")
    val r3 = graft.graph.KCore.peel(edges, k = 2, rounds = 3)
    assert(r3.count() == 0L, "three peels exhaust a 6-path")
  }

  // --- ShortestPath: hop-bounded Bellman-Ford ------------------------

  /** Weighted directed triangle with a shortcut: 1→2 (cost 10), 2→3
    * (cost 10), 1→3 direct (cost 25). Two hops beat the direct edge
    * ONLY once the hop budget allows them.
    */
  private def weighted(tris: (Long, Long, Long)*) =
    tris.toDF("src", "dst", "w")

  test("sssp: hop bound is the semantic contract — cheaper 2-hop path needs 2 rounds") {
    val edges = weighted((1L, 2L, 10L), (2L, 3L, 10L), (1L, 3L, 25L))
    val srcs = Seq(1L).toDF("source")
    val one = graft.graph.ShortestPath.run(edges, srcs, iters = 1)
      .as[(Long, Long, Long)].collect().map(r => r._2 -> r._3).toMap
    assert(one == Map(1L -> 0L, 2L -> 10L, 3L -> 25L),
      s"after ONE relaxation the direct edge must win: $one")
    val two = graft.graph.ShortestPath.run(edges, srcs, iters = 2)
      .as[(Long, Long, Long)].collect().map(r => r._2 -> r._3).toMap
    assert(two == Map(1L -> 0L, 2L -> 10L, 3L -> 20L),
      s"round 2 must discover the cheaper 2-hop route: $two")
    // runAdaptive keeps the same hop bound on both tiers: the driver
    // sweep must stop after `iters` relaxations, not at the fixpoint.
    for ((iters, want) <- Seq(1 -> one, 2 -> two)) {
      val got = graft.graph.ShortestPath.runAdaptive(edges, srcs, iters)
        .as[(Long, Long, Long)].collect().map(r => r._2 -> r._3).toMap
      assert(got == want, s"runAdaptive iters=$iters: $got != $want")
    }
  }

  test("sssp: multi-source rides the same rounds; unreached pairs are absent") {
    // 1→2→3 and an island 9→8; sources 1 and 9 never mix distances.
    val edges = weighted((1L, 2L, 1L), (2L, 3L, 2L), (9L, 8L, 7L))
    val srcs = Seq(1L, 9L).toDF("source")
    val got = graft.graph.ShortestPath.run(edges, srcs, iters = 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 1L, 0L), (1L, 2L, 1L), (1L, 3L, 3L),
      (9L, 9L, 0L), (9L, 8L, 7L)), s"got $got")
  }

  test("sssp: adaptive driver path is identical to distributed relaxation") {
    // Random-ish dense little graph exercising carries, ties, and cycles.
    val tris = for {
      a <- 0L to 9L; b <- 0L to 9L
      if a != b && (a * 7 + b * 3) % 4 == 0
    } yield (a, b, ((a * 13 + b * 5) % 9) + 1)
    val edges = weighted(tris: _*)
    val srcs = Seq(0L, 5L).toDF("source")
    val dist = graft.graph.ShortestPath.run(edges, srcs, iters = 5)
      .as[(Long, Long, Long)].collect().toSet
    val drv = graft.graph.ShortestPath.runAdaptive(edges, srcs, iters = 5)
      .as[(Long, Long, Long)].collect().toSet
    assert(dist == drv, s"driver/distributed drift: ${dist.diff(drv)} vs ${drv.diff(dist)}")
  }

  test("sssp: runConverged reaches the fixpoint a generous hop bound agrees with") {
    val tris = for {
      a <- 0L to 11L; b <- 0L to 11L
      if a != b && (a * 5 + b * 11) % 3 == 0
    } yield (a, b, ((a + 2 * b) % 7) + 1)
    val edges = weighted(tris: _*)
    val srcs = Seq(0L, 7L).toDF("source")
    val conv = graft.graph.ShortestPath.runConverged(edges, srcs, maxIters = 30)
      .as[(Long, Long, Long)].collect().toSet
    val bounded = graft.graph.ShortestPath.run(edges, srcs, iters = 20)
      .as[(Long, Long, Long)].collect().toSet
    assert(conv == bounded, "fixpoint must equal a hop bound past the diameter")
  }

  test("sssp: incrementalAdd == full recompute on random edge splits") {
    val tris = (for {
      a <- 0L to 14L; b <- 0L to 14L
      if a != b && (a * 3 + b * 7) % 4 == 0
    } yield (a, b, ((a * 11 + b) % 9) + 1)).toVector
    val srcs = Seq(0L, 9L).toDF("source")
    for (seed <- Seq(1, 2)) {
      // Deterministic split: ~1/3 of edges arrive late.
      val (delta, base) = tris.partition { case (a, b, w) => (a + b * seed + w) % 3 == 0 }
      val full = weighted(tris: _*)
      val baseD = graft.graph.ShortestPath.runConverged(weighted(base: _*), srcs)
      val inc = graft.graph.ShortestPath
        .incrementalAdd(baseD, full, weighted(delta: _*))
        .as[(Long, Long, Long)].collect().toSet
      val direct = graft.graph.ShortestPath.runConverged(full, srcs)
        .as[(Long, Long, Long)].collect().toSet
      assert(inc == direct,
        s"seed $seed drift: ${inc.diff(direct)} vs ${direct.diff(inc)}")
    }
  }

  // --- KTruss: fixed-round triangle-support peeling ------------------

  private def canon(pairs: (Long, Long)*) = pairs.toDF("a", "b")

  test("ktruss: pendant dies, triangle survives with support 1; stars vanish") {
    // Triangle 1-2-3 plus pendant 3-4: the pendant is in no triangle.
    val got = graft.graph.KTruss.peel(
      canon((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)), k = 3, rounds = 2)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 2L, 1L), (1L, 3L, 1L), (2L, 3L, 1L)), s"got $got")
    // A star has maximal k-core-ness at the hub but NO triangles.
    val star = graft.graph.KTruss.peel(
      canon((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L)), k = 3, rounds = 1)
    assert(star.count() == 0L, "a star must peel to empty — the k-core contrast")
  }

  test("ktruss: shared edge carries support 2; k=4 peel cascades across rounds") {
    // Triangles 1-2-3 and 1-3-4 share edge 1-3 (support 2, others 1).
    val edges = canon((1L, 2L), (2L, 3L), (1L, 3L), (1L, 4L), (3L, 4L))
    val r1 = graft.graph.KTruss.peel(edges, k = 4, rounds = 1)
      .as[(Long, Long, Long)].collect().toSet
    assert(r1 == Set((1L, 3L, 2L)), s"round 1 keeps only the doubly-witnessed edge: $r1")
    // Its witnesses died with the other edges: round 2 must empty it.
    assert(graft.graph.KTruss.peel(edges, k = 4, rounds = 2).count() == 0L,
      "the fixed-round contract exposes the cascade")
    // At k=3 the bowtie is stable: both triangles survive intact.
    val r3 = graft.graph.KTruss.peel(edges, k = 3, rounds = 3)
    assert(r3.count() == 5L)
  }

  test("sssp: incrementalAdd with an empty delta is a no-op (zero waves)") {
    val edges = weighted((1L, 2L, 3L), (2L, 3L, 4L))
    val srcs = Seq(1L).toDF("source")
    val conv = graft.graph.ShortestPath.runConverged(edges, srcs)
    val inc = graft.graph.ShortestPath
      .incrementalAdd(conv, edges, weighted())
      .as[(Long, Long, Long)].collect().toSet
    assert(inc == conv.as[(Long, Long, Long)].collect().toSet)
  }

  // ---- r14 driver-tier pins: every new adaptive escape hatch must be
  // bit-identical to its distributed path (the PageRank.runAdaptive
  // discipline — equality, not approximation).

  test("sssp: runConvergedAdaptive / incrementalAddAdaptive == distributed") {
    val tris = (for {
      a <- 0L to 12L; b <- 0L to 12L
      if a != b && (a * 3 + b * 7) % 4 == 0
    } yield (a, b, ((a * 11 + b) % 9) + 1)).toVector
    val srcs = Seq(0L, 9L).toDF("source")
    val full = weighted(tris: _*)
    val drv = graft.graph.ShortestPath.runConvergedAdaptive(full, srcs)
      .as[(Long, Long, Long)].collect().toSet
    val dist = graft.graph.ShortestPath.runConverged(full, srcs)
      .as[(Long, Long, Long)].collect().toSet
    assert(drv == dist, s"converged driver/distributed drift: ${drv.diff(dist)} / ${dist.diff(drv)}")
    val (delta, base) = tris.partition { case (a, b, w) => (a + b + w) % 3 == 0 }
    val baseD = graft.graph.ShortestPath.runConvergedAdaptive(weighted(base: _*), srcs)
    val incDrv = graft.graph.ShortestPath
      .incrementalAddAdaptive(baseD, full, weighted(delta: _*))
      .as[(Long, Long, Long)].collect().toSet
    val incDist = graft.graph.ShortestPath
      .incrementalAdd(baseD, full, weighted(delta: _*))
      .as[(Long, Long, Long)].collect().toSet
    assert(incDrv == incDist && incDrv == dist,
      s"incremental driver/distributed drift:\n drv=$incDrv\n dist=$incDist\n full=$dist")
  }

  test("LabelProp.runAdaptive == run (long weights); non-long falls through") {
    import graft.graph.LabelProp
    val edges = (Seq((0L, 1L, 5L), (1L, 2L, 5L), (3L, 4L, 7L), (2L, 3L, 1L)) ++
      Seq((1L, 0L, 5L), (2L, 1L, 5L), (4L, 3L, 7L), (3L, 2L, 1L)))
      .toDF("src", "dst", "weight")
    val drv = LabelProp.runAdaptive(edges, iters = 4).as[(Long, Long)].collect().toSet
    val dist = LabelProp.run(edges, iters = 4).as[(Long, Long)].collect().toSet
    assert(drv == dist, s"LabelProp drift:\n drv=$drv\n dist=$dist")
    // fractional weights must take the distributed path (exact-vote guard)
    val frac = edges.withColumn("weight", col("weight").cast("double") / 2.0)
    val fd = LabelProp.runAdaptive(frac, iters = 2).as[(Long, Long)].collect().toSet
    assert(fd == LabelProp.run(frac, iters = 2).as[(Long, Long)].collect().toSet)
  }

  test("Hits.runAdaptive == run, all three round budgets") {
    import graft.graph.Hits
    val edges = Seq((0L, 10L), (0L, 11L), (1L, 10L), (2L, 11L), (2L, 12L), (3L, 12L))
      .toDF("src", "dst")
    for (r <- 1 to 3) {
      val drv = Hits.runAdaptive(edges, rounds = r)
        .as[(String, Long, Long, Double)].collect().toSet
      val dist = Hits.run(edges, rounds = r)
        .as[(String, Long, Long, Double)].collect().toSet
      assert(drv == dist, s"HITS drift at rounds=$r:\n drv=$drv\n dist=$dist")
    }
    // integer ids take the distributed path and keep their type
    val intEdges = edges.select(col("src").cast("int"), col("dst").cast("int"))
    val intDrv = Hits.runAdaptive(intEdges, rounds = 2)
    assert(intDrv.schema("node").dataType == IntegerType)
    assert(intDrv.collect().toSet == Hits.run(intEdges, rounds = 2).collect().toSet)
  }

  test("KCore.peelAdaptive == peel; KTruss.peelAdaptive == peel") {
    // clique 0-3 (deg 3) + a pendant chain 3-4-5: peeling at k=3 must
    // keep only the clique, and the truss support inside it is 2.
    val cliquePairs = for (a <- 0L to 3L; b <- 0L to 3L if a < b) yield (a, b)
    val canon = (cliquePairs ++ Seq((3L, 4L), (4L, 5L))).toDF("a", "b")
    val sym = canon.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(canon.select(col("b").as("src"), col("a").as("dst")))
    val kcDrv = graft.graph.KCore.peelAdaptive(sym, k = 3, rounds = 4)
      .as[(Long, Long)].collect().toSet
    val kcDist = graft.graph.KCore.peel(sym, k = 3, rounds = 4)
      .as[(Long, Long)].collect().toSet
    assert(kcDrv == kcDist, s"KCore drift:\n drv=$kcDrv\n dist=$kcDist")
    val ktDrv = graft.graph.KTruss.peelAdaptive(canon, k = 3, rounds = 2)
      .as[(Long, Long, Long)].collect().toSet
    val ktDist = graft.graph.KTruss.peel(canon, k = 3, rounds = 2)
      .as[(Long, Long, Long)].collect().toSet
    assert(ktDrv == ktDist, s"KTruss drift:\n drv=$ktDrv\n dist=$ktDist")
    // integer ids take the distributed path and keep their type
    val intSym = sym.select(col("src").cast("int"), col("dst").cast("int"))
    val kcInt = graft.graph.KCore.peelAdaptive(intSym, k = 3, rounds = 4)
    assert(kcInt.schema("node").dataType == IntegerType)
    assert(kcInt.collect().toSet == graft.graph.KCore.peel(intSym, k = 3, rounds = 4).collect().toSet)
    val intCanon = canon.select(col("a").cast("int"), col("b").cast("int"))
    val ktInt = graft.graph.KTruss.peelAdaptive(intCanon, k = 3, rounds = 2)
    assert(Seq("a", "b").forall(c => ktInt.schema(c).dataType == IntegerType))
    assert(ktInt.collect().toSet == graft.graph.KTruss.peel(intCanon, k = 3, rounds = 2).collect().toSet)
  }

  test("PageRank.runPersonalizedAdaptive == runPersonalized, bit-identical") {
    val edges = undirected((0L, 1L), (0L, 2L), (2L, 3L), (3L, 4L), (4L, 0L))
    val seed = col("node") % 2 === 0
    val drv = PageRank.runPersonalizedAdaptive(edges, seed, iters = 6)
      .as[(Long, Double)].collect().toMap
    val dist = PageRank.runPersonalized(edges, seed, iters = 6)
      .as[(Long, Double)].collect().toMap
    assert(drv == dist, s"PPR drift:\n drv=$drv\n dist=$dist")
  }

  test("empty long edge set: every adaptive entry point agrees across tiers") {
    import graft.graph.{Hits, KCore, KTruss, LabelProp, ShortestPath}
    import graft.similarity.NearDup
    val pairs = Seq.empty[(Long, Long)].toDF("src", "dst")
    val triples = Seq.empty[(Long, Long, Long)].toDF("src", "dst", "w")
    val srcs = Seq(1L, 2L).toDF("source")
    val converged = ShortestPath.runConverged(triples, srcs)
    // Each adaptive entry point beside its distributed entry point.
    val entryPoints: Seq[(String, DataFrame, DataFrame)] = Seq(
      ("PageRank.runAdaptive", PageRank.runAdaptive(pairs, 3), PageRank.run(pairs, 3)),
      ("PageRank.runPersonalizedAdaptive",
        PageRank.runPersonalizedAdaptive(pairs, col("node") === 1L, 3),
        PageRank.runPersonalized(pairs, col("node") === 1L, 3)),
      ("PageRank.runWeightedAdaptive",
        PageRank.runWeightedAdaptive(triples, "w", 3), PageRank.runWeighted(triples, "w", 3)),
      ("ShortestPath.runAdaptive",
        ShortestPath.runAdaptive(triples, srcs, 3), ShortestPath.run(triples, srcs, 3)),
      ("ShortestPath.runConvergedAdaptive",
        ShortestPath.runConvergedAdaptive(triples, srcs), ShortestPath.runConverged(triples, srcs)),
      ("ShortestPath.incrementalAddAdaptive",
        ShortestPath.incrementalAddAdaptive(converged, triples, triples),
        ShortestPath.incrementalAdd(converged, triples, triples)),
      ("LabelProp.runAdaptive",
        LabelProp.runAdaptive(triples.withColumnRenamed("w", "weight"), 3),
        LabelProp.run(triples.withColumnRenamed("w", "weight"), 3)),
      ("Hits.runAdaptive", Hits.runAdaptive(pairs, 2), Hits.run(pairs, 2)),
      ("KCore.peelAdaptive", KCore.peelAdaptive(pairs, 2, 3), KCore.peel(pairs, 2, 3)),
      ("KTruss.peelAdaptive",
        KTruss.peelAdaptive(pairs.toDF("a", "b"), 3, 2), KTruss.peel(pairs.toDF("a", "b"), 3, 2)),
      ("NearDup.connectedComponentsAdaptive",
        NearDup.connectedComponentsAdaptive(pairs, "src", "dst"),
        NearDup.connectedComponents(pairs, "src", "dst")),
    )
    entryPoints.foreach { case (name, drv, dist) =>
      assert(drv.schema.map(c => c.name -> c.dataType) == dist.schema.map(c => c.name -> c.dataType),
        s"$name schema: ${drv.schema.simpleString} vs ${dist.schema.simpleString}")
      assert(drv.collect().toSet == dist.collect().toSet, s"$name rows differ")
    }
  }
}
