package graft

import org.apache.spark.sql.functions._
import graft.core.Stats

class StatsSpec extends SparkTestBase {
  import spark.implicits._

  test("pValue mantissa/exponent motif matches reference semantics") {
    // Reference (AzGeneBurden.py:214-221): exp = int(log10(p)) - 1
    // (truncation toward zero), mantissa = round(p / 10^exp, 3).
    val df = Seq(3e-5, 0.05, 2.5e-8, 0.9).toDF("p")
      .select(
        $"p",
        Stats.pValueExponent($"p").as("e"),
        Stats.pValueMantissa($"p").as("m"))
    val got = df.collect().map(r => r.getDouble(0) -> ((r.getInt(1), r.getDouble(2)))).toMap
    assert(got(3e-5) == ((-5, 3.0)))
    assert(got(0.05) == ((-2, 5.0)))   // int(-1.30)=-1, -1-1=-2, 0.05/1e-2=5
    assert(got(2.5e-8) == ((-8, 2.5)))
    assert(got(0.9) == ((-1, 9.0)))    // int(-0.045)=0, 0-1=-1
  }

  test("pFromNegLog10 inverts the LOG10P encoding") {
    val p = Seq(7.0).toDF("lg").select(Stats.pFromNegLog10($"lg").as("p")).head().getDouble(0)
    assert(math.abs(p - 1e-7) < 1e-20)
  }

  test("repairZeroPValues substitutes global min positive") {
    val df = Seq(0.0, 1e-12, 0.5).toDF("p")
    val out = Stats.repairZeroPValues(df, "p").as[Double].collect().sorted.toSeq
    assert(out == Seq(1e-12, 1e-12, 0.5))
  }

  test("repairZeroPValues keeps rows when NO positive p exists (edge)") {
    val df = Seq(0.0, 0.0).toDF("p")
    val out = Stats.repairZeroPValues(df, "p").as[Double].collect().toSeq
    assert(out == Seq(0.0, 0.0), "rows must survive an all-zero column")
  }

  test("gini: uniform array -> 0, fully concentrated -> (n-1)/n; kernel agrees with HOF") {
    val df = Seq(
      (1, Seq(5.0, 5.0, 5.0, 5.0)),
      (2, Seq(0.0, 0.0, 0.0, 8.0)),
    ).toDF("k", "xs").select(
      $"k",
      round(Stats.gini($"xs"), 9).as("g"),
      round(graft.functions.GraftFunctions.gini($"xs"), 9).as("gk"))
    df.collect().foreach { r =>
      assert(r.getDouble(1) == r.getDouble(2), s"kernel/HOF gini disagree: $r")
    }
    val m = df.select("k", "g").as[(Int, Double)].collect().toMap
    assert(m(1) == 0.0)
    assert(m(2) == 0.75)
  }

  test("minMaxScale maps to [0.5, 1] with degenerate-range guard") {
    val df = Seq((0.0, 0.0, 10.0), (10.0, 0.0, 10.0), (5.0, 0.0, 10.0), (3.0, 3.0, 3.0))
      .toDF("x", "lo", "hi")
      .select(Stats.minMaxScale($"x", $"lo", $"hi").as("s"))
    assert(df.as[Double].collect().toSeq == Seq(0.5, 1.0, 0.75, 0.5))
  }

  test("bonferroni") {
    val a = Seq(500).toDF("n").select(Stats.bonferroni($"n").as("a")).head().getDouble(0)
    assert(a == 0.0001)
  }

  test("ksTest2 golden: two-sample KS matches the hand ECDF computation") {
    // a = [1,2,3,4,10] (s1), b = [2,5,6,7]: D = |3/5 - 1/4| at x=4 → 0.55.
    val df = (Seq(1.0, 2.0, 3.0, 4.0, 10.0).map(v => ("g1", v, true)) ++
      Seq(2.0, 5.0, 6.0, 7.0).map(v => ("g1", v, false))).toDF("g", "v", "in1")
    val r = Stats.ksTest2(df, $"g", $"v", $"in1").collect().head
    assert(r.getAs[Long]("n1") == 5L && r.getAs[Long]("n2") == 4L)
    assert(math.abs(r.getAs[Double]("d") - 0.55) < 1e-15)
    val ks = math.sqrt(5.0 * 4.0 / 9.0) * 0.55
    assert(math.abs(r.getAs[Double]("ks_stat") - ks) < 1e-15)
    assert(math.abs(r.getAs[Double]("p_asym") - math.min(1.0, 2.0 * math.exp(-2.0 * ks * ks))) < 1e-15)
  }

  test("ksTest2 drops groups missing either sample") {
    val df = Seq(("only1", 1.0, true), ("only1", 2.0, true), ("both", 1.0, true), ("both", 2.0, false))
      .toDF("g", "v", "in1")
    val got = Stats.ksTest2(df, $"g", $"v", $"in1").select("g").as[String].collect().toSeq
    assert(got == Seq("both"), "a one-sample group has no defined D")
  }

  test("mannWhitneyU golden: tie-corrected z matches the hand rank-sum") {
    // Same samples; value 2.0 tied across samples → avg rank 2.5,
    // tiesum = 2³−2 = 6, U1 = 6.5, z = −0.8609160647753271.
    val df = (Seq(1.0, 2.0, 3.0, 4.0, 10.0).map(v => ("g1", v, true)) ++
      Seq(2.0, 5.0, 6.0, 7.0).map(v => ("g1", v, false))).toDF("g", "v", "in1")
    val r = Stats.mannWhitneyU(df, $"g", $"v", $"in1").collect().head
    assert(r.getAs[Long]("n1") == 5L && r.getAs[Long]("n2") == 4L)
    assert(r.getAs[Double]("u1") == 6.5)
    assert(math.abs(r.getAs[Double]("z") - (-0.8609160647753271)) < 1e-14)
  }

  test("mannWhitneyU is antisymmetric in the sample flag") {
    val df = (Seq(1.0, 2.0, 3.0).map(v => ("g", v, true)) ++
      Seq(2.5, 4.0).map(v => ("g", v, false))).toDF("g", "v", "in1")
    val z1 = Stats.mannWhitneyU(df, $"g", $"v", $"in1").collect().head.getAs[Double]("z")
    val z2 = Stats.mannWhitneyU(df, $"g", $"v", !$"in1").collect().head.getAs[Double]("z")
    assert(math.abs(z1 + z2) < 1e-12, s"flipping samples must negate z: $z1 vs $z2")
  }

  test("psi: identical distributions read exactly 0; a shifted one reads positive") {
    val same = (1 to 64).flatMap(i => Seq(("g", i.toDouble, true), ("g", i.toDouble, false)))
      .toDF("g", "v", "ref")
    val z = Stats.psi(same, $"g", $"v", $"ref").collect().head
    assert(z.getAs[Double]("psi") == 0.0, "equal per-bin shares must cancel exactly")
    assert(z.getAs[Long]("n_ref") == 64L && z.getAs[Long]("n_cur") == 64L)
    val shifted = ((1 to 64).map(i => ("g", i.toDouble, true)) ++
      (1 to 64).map(i => ("g", i.toDouble + 40.0, false))).toDF("g", "v", "ref")
    val s = Stats.psi(shifted, $"g", $"v", $"ref").collect().head.getAs[Double]("psi")
    assert(s > 0.5, s"a 40-unit shift on a 64-wide support must alarm: $s")
  }

  test("jsdFromCounts: identical mixes read 0; disjoint vocabularies read ln 2") {
    val z = Stats.jsdFromCounts(
      Seq(("g", 3L, 3L), ("g", 7L, 7L)).toDF("g", "ca", "cb"), $"g", $"ca", $"cb")
      .collect().head.getAs[Double]("jsd")
    assert(math.abs(z) < 1e-15, s"identical mixes: $z")
    val disj = Stats.jsdFromCounts(
      Seq(("g", 5L, 0L), ("g", 0L, 5L)).toDF("g", "ca", "cb"), $"g", $"ca", $"cb")
      .collect().head.getAs[Double]("jsd")
    assert(math.abs(disj - math.log(2.0)) < 1e-9, s"disjoint vocab must hit ln2: $disj")
  }

  test("rocAuc: perfect separation -> 1, inverted -> 0, tied run -> hand value") {
    val perfect = (Seq(3L, 4L).map(v => ("g", v, true)) ++
      Seq(1L, 2L).map(v => ("g", v, false))).toDF("g", "v", "pos")
    assert(Stats.rocAuc(perfect, $"g", $"v", $"pos")
      .collect().head.getAs[Double]("auc") == 1.0)
    assert(Stats.rocAuc(perfect, $"g", $"v", !$"pos")
      .collect().head.getAs[Double]("auc") == 0.0)
    // pos scores (2,3), neg (1,2): ranks 1→1, {2,2}→2.5 each, 3→4;
    // rank-sum⁺ = 2.5+4 = 6.5, U = 6.5 − 3 = 3.5, AUC = 3.5/4.
    val tied = (Seq(2L, 3L).map(v => ("g", v, true)) ++
      Seq(1L, 2L).map(v => ("g", v, false))).toDF("g", "v", "pos")
    assert(Stats.rocAuc(tied, $"g", $"v", $"pos")
      .collect().head.getAs[Double]("auc") == 0.875)
  }

  test("rocAuc drops groups missing either class") {
    val df = (Seq(("a", 1L, true), ("a", 2L, false)) ++
      Seq(("b", 1L, true), ("b", 2L, true))).toDF("g", "v", "pos")
    val got = Stats.rocAuc(df, $"g", $"v", $"pos").collect().map(_.getString(0)).toSet
    assert(got == Set("a"), s"all-positive group must vanish: $got")
  }

  test("cohenKappa: perfect agreement -> 1; hand 2x2 matrix -> 0.4; constant raters dropped") {
    val agree = Seq(("g", 0, 0), ("g", 1, 1), ("g", 2, 2), ("g", 1, 1)).toDF("g", "ra", "rb")
    assert(Stats.cohenKappa(agree, $"g", $"ra", $"rb")
      .collect().head.getAs[Double]("kappa") == 1.0)
    // counts (a,b): (0,0)=20 (0,1)=5 (1,0)=10 (1,1)=15; n=50, diag=35,
    // marginals a=(25,25) b=(30,20), chance=25·30+25·20=1250,
    // κ = (50·35−1250)/(2500−1250) = 0.4.
    val hand = (Seq.fill(20)((0, 0)) ++ Seq.fill(5)((0, 1)) ++
      Seq.fill(10)((1, 0)) ++ Seq.fill(15)((1, 1)))
      .map { case (a, b) => ("g", a, b) }.toDF("g", "ra", "rb")
    val r = Stats.cohenKappa(hand, $"g", $"ra", $"rb").collect().head
    assert(r.getAs[Long]("n") == 50L && r.getAs[Long]("diag") == 35L)
    assert(r.getAs[Double]("kappa") == 0.4)
    // both raters constant -> p_e = 1, undefined -> dropped
    val const = Seq(("g", 1, 1), ("g", 1, 1)).toDF("g", "ra", "rb")
    assert(Stats.cohenKappa(const, $"g", $"ra", $"rb").count() == 0L)
  }

  test("autocorr: linear series -> +1 at every lag; alternating -> -1 at lag 1, +1 at lag 2") {
    val lin = (1L to 10L).map(t => (t, t)).toDF("t", "v")
    val got = Stats.autocorr(lin, $"t", $"v", maxLag = 2)
      .collect().map(r => r.getInt(0) -> r.getAs[Double]("acf")).toMap
    assert(math.abs(got(1) - 1.0) < 1e-12 && math.abs(got(2) - 1.0) < 1e-12, s"$got")
    val alt = (1L to 10L).map(t => (t, if (t % 2 == 0) 2L else 1L)).toDF("t", "v")
    val a = Stats.autocorr(alt, $"t", $"v", maxLag = 2)
      .collect().map(r => r.getInt(0) -> r.getAs[Double]("acf")).toMap
    assert(math.abs(a(1) + 1.0) < 1e-12 && math.abs(a(2) - 1.0) < 1e-12, s"$a")
  }

  test("avgPrecision: hand list [+,-,+] -> (1 + 2/3)/2; tie order is part of the contract") {
    val df = Seq(("g", 3L, 1L, true), ("g", 2L, 2L, false), ("g", 1L, 3L, true))
      .toDF("g", "v", "id", "pos")
    val r = Stats.avgPrecision(df, $"g", $"v", $"id", $"pos").collect().head
    assert(r.getAs[Long]("np") == 2L)
    assert(math.abs(r.getAs[Double]("avg_precision") - 5.0 / 6.0) < 1e-12)
  }

  test("bhFdr: hand family — step-up cutoff, discoveries, and monotone adjusted p") {
    // p = [.01, .02, .2, .9], q=.1, m=4: thresholds .025/.05/.075/.1 ->
    // k*=2. padj (suffix min of p·m/j): [.04, .04, 4/15, .9].
    val df = Seq((1L, 0.01), (2L, 0.02), (3L, 0.2), (4L, 0.9))
      .map { case (id, p) => ("g", id, p) }.toDF("g", "id", "p")
    val got = Stats.bhFdr(df, $"g", $"id", $"p", q = 0.1)
      .collect()
      .map(r => r.getAs[Long]("tid") ->
        ((r.getAs[Int]("rnk"), r.getAs[Double]("p_adj"), r.getAs[Boolean]("discovered"))))
      .toMap
    assert(got(1L)._3 && got(2L)._3, s"ranks 1,2 are discoveries: $got")
    assert(!got(3L)._3 && !got(4L)._3, s"ranks 3,4 are not: $got")
    assert(math.abs(got(1L)._2 - 0.04) < 1e-15 && math.abs(got(2L)._2 - 0.04) < 1e-15)
    assert(math.abs(got(3L)._2 - 4.0 / 15.0) < 1e-15)
    assert(math.abs(got(4L)._2 - 0.9) < 1e-15)
    assert(got(1L)._2 <= got(3L)._2 && got(3L)._2 <= got(4L)._2, "padj must be monotone in rank")
  }

  test("bhFdr: a family with no passing rank discovers nothing") {
    val df = Seq(("g", 1L, 0.5), ("g", 2L, 0.9)).toDF("g", "id", "p")
    val got = Stats.bhFdr(df, $"g", $"id", $"p", q = 0.1).collect()
    assert(got.forall(!_.getAs[Boolean]("discovered")))
  }

  test("kaplanMeier: hand curve with a censored subject; exhausted risk set pins S=0") {
    // obs: events at t=1,2,3 plus one censor at t=2.
    // t=1: n=4, d=1 -> S=3/4; t=2: n=3, d=1 (censor leaves silently)
    // -> S=1/2; t=3: n=1, d=1 -> factor 0 -> S=0 exactly.
    val df = Seq((1L, true), (2L, true), (2L, false), (3L, true))
      .map { case (d, e) => ("g", d, e) }.toDF("g", "dur", "ev")
    val got = Stats.kaplanMeier(df, $"g", $"dur", $"ev")
      .collect()
      .map(r => r.getAs[Long]("t_day") ->
        ((r.getAs[Long]("n_risk"), r.getAs[Long]("d_events"), r.getAs[Double]("survival"))))
      .toMap
    assert(got.keySet == Set(1L, 2L, 3L), s"only event times emit rows: ${got.keySet}")
    assert(got(1L) == ((4L, 1L, 0.75)))
    assert(got(2L) == ((3L, 1L, 0.5)))
    assert(got(3L) == ((1L, 1L, 0.0)), "whole risk set dying must pin survival to exact 0")
  }

  test("kaplanMeier: censor-only times emit no row but still shrink the risk set") {
    val df = Seq((1L, true), (3L, false), (5L, true))
      .map { case (d, e) => ("g", d, e) }.toDF("g", "dur", "ev")
    val got = Stats.kaplanMeier(df, $"g", $"dur", $"ev")
      .collect().map(r => r.getAs[Long]("t_day") -> r.getAs[Long]("n_risk")).toMap
    assert(got.keySet == Set(1L, 5L))
    assert(got(1L) == 3L && got(5L) == 1L, s"censor at t=3 must leave silently: $got")
  }

  test("autocorr: a missing time point only shrinks the pair count") {
    val sparse = (1L to 10L).filter(_ != 5L).map(t => (t, t)).toDF("t", "v")
    val n = Stats.autocorr(sparse, $"t", $"v", maxLag = 1)
      .collect().head.getAs[Long]("n")
    assert(n == 7L, s"9 points with a hole -> 7 adjacent pairs, got $n")
  }

  test("bradleyTerry: recovers a planted dominance order; winless item -> 0; anchor = 1") {
    // a beats b 9:1, b beats c 9:1, a beats c 9:1, d loses everything.
    val comp = Seq(
      ("a", "b", 9L), ("b", "a", 1L),
      ("b", "c", 9L), ("c", "b", 1L),
      ("a", "c", 9L), ("c", "a", 1L),
      ("a", "d", 5L), ("b", "d", 5L), ("c", "d", 5L))
      .toDF("winner", "loser", "n")
    val s = graft.core.Preference.bradleyTerry(comp, "winner", "loser", "n", iters = 6)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(s.keySet == Set("a", "b", "c", "d"))
    assert(s("a")._2 > s("b")._2 && s("b")._2 > s("c")._2,
      s"dominance order lost: $s")
    assert(s("d")._1 == 0L && s("d")._2 < 1e-3, s"winless item should sink to ~0: ${s("d")}")
    assert(math.abs(s("a")._2 - 1.0) < 1e-12, "smallest item anchors the rescale at 1")
  }

  test("bradleyTerry: driver MM tier == distributed rounds, bit for bit") {
    val comp = Seq(
      ("a", "b", 9L), ("b", "a", 1L),
      ("b", "c", 9L), ("c", "b", 1L),
      ("a", "c", 9L), ("c", "a", 1L),
      ("a", "d", 5L), ("b", "d", 5L), ("c", "d", 5L))
      .toDF("winner", "loser", "n")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    import graft.core.Preference
    assert(rows(Preference.bradleyTerry(comp, "winner", "loser", "n", iters = 4)) ==
      rows(Preference.bradleyTerryDistributed(comp, "winner", "loser", "n", iters = 4)),
      "driver MM loop drifted from the distributed rounds")
  }

  test("bradleyTerry refuses a winless anchor instead of NaNing the model") {
    // The rescale anchors on the smallest item key; if that item never
    // won, refv = 0 and every strength would silently become NaN/Inf.
    val comp = Seq(("b", "a", 3L), ("c", "b", 1L)).toDF("winner", "loser", "n")
    val e = intercept[IllegalArgumentException] {
      graft.core.Preference.bradleyTerry(comp, "winner", "loser", "n", iters = 2)
    }
    assert(e.getMessage.contains("anchor"), e.getMessage)
  }

  test("alsImplicitRank1: block structure separates; heavier interaction -> larger factor") {
    // Items x,y live with entities 1-4 at high counts; z only with
    // entity 5 at count 1 -> z's factor must come out far smaller.
    val inter = (for (e <- 1L to 4L; i <- Seq("x", "y")) yield (e, i, 20L)) :+ ((5L, "z", 1L))
    val v = graft.core.Preference.alsImplicitRank1(
      inter.toDF("e", "item", "cnt"), "e", "item", "cnt",
      alpha = 0.1, lambda = 0.1, iters = 2)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(v.keySet == Set("x", "y", "z"))
    assert(v("x")._1 == 4L && v("z")._1 == 1L)
    assert(math.abs(v("x")._3 - v("y")._3) < 1e-12, "symmetric items get equal factors")
    // With p ≡ 1 the closed-form updates drive every u·v toward 1, so
    // factor magnitudes stay near 1 regardless of confidence — the
    // dominance contract is the ORDERING (x above 1, z below), not a
    // magnitude ratio. Hand-checking the two rounds: v_x ≈ 1.0156,
    // v_z ≈ 0.9741.
    assert(v("x")._3 > 1.0 && v("z")._3 < 1.0 && v("x")._3 > 1.02 * v("z")._3,
      s"heavily-connected items should rank above sparse ones: ${v("x")._3} vs ${v("z")._3}")
    assert(v.values.forall(t => t._2 > 0 && t._3 > 0), "all-positive data -> positive factors")
  }

  test("energyDistance: order-statistic reduction equals the O(n²) definition") {
    // Two deliberately tie-heavy samples; brute force the V-statistic
    // definition and demand the folded kernel reproduce it exactly.
    val xs = Seq(3L, 7L, 7L, 12L, 20L)
    val ys = Seq(1L, 7L, 9L, 9L, 15L, 30L)
    val df = (xs.map(v => ("g1", v, true)) ++ ys.map(v => ("g1", v, false)))
      .toDF("grp", "v", "isx")
    val got = Stats.energyDistance(df, col("grp"), col("v"), col("isx"))
      .collect().head
    def meanAbs(a: Seq[Long], b: Seq[Long]): Double =
      a.flatMap(x => b.map(y => math.abs(x - y))).sum.toDouble / (a.size * b.size)
    val exx = meanAbs(xs, xs); val eyy = meanAbs(ys, ys); val exy = meanAbs(xs, ys)
    assert(got.getLong(1) == xs.size && got.getLong(2) == ys.size)
    assert(math.abs(got.getDouble(3) - exx) < 1e-12, s"e_xx ${got.getDouble(3)} != $exx")
    assert(math.abs(got.getDouble(4) - eyy) < 1e-12, s"e_yy ${got.getDouble(4)} != $eyy")
    assert(math.abs(got.getDouble(5) - exy) < 1e-12, s"e_xy ${got.getDouble(5)} != $exy")
    assert(math.abs(got.getDouble(6) - (2 * exy - exx - eyy)) < 1e-12)
    assert(got.getDouble(6) > 0, "different distributions -> strictly positive energy")
  }

  test("energyDistance: zero iff identical multisets; one-sample groups drop") {
    val same = Seq(2L, 5L, 5L, 9L)
    val df = (same.map(v => ("dup", v, true)) ++ same.map(v => ("dup", v, false)) ++
      Seq(("solo", 4L, true))).toDF("grp", "v", "isx")
    val rows = Stats.energyDistance(df, col("grp"), col("v"), col("isx")).collect()
    assert(rows.map(_.getString(0)).toSet == Set("dup"), "one-sample group must drop")
    assert(rows.head.getDouble(6) == 0.0, s"identical samples must read EXACTLY zero energy")
  }

  test("fellegiSunterEM: one hand-computed round; separable data orders m above u") {
    // 4 pairs agreeing on both fields, 16 agreeing on neither: EM must
    // sharpen toward a small match class with m >> u on both fields.
    val pairs = (Seq.fill(4)((1, 1)) ++ Seq.fill(16)((0, 0))).toDF("f1", "f2")
    val got = graft.core.Linkage.fellegiSunterEM(pairs, Seq("f1", "f2"), iters = 1)
      .collect().head
    // Hand E-step with lam=.1, m=.9, u=.1: agree-agree pair
    // w = .1*.81/(.1*.81 + .9*.01) = .9, disagree-disagree
    // w = .1*.01/(.1*.01 + .9*.81) = .001369863...; quantized 28,12.
    val wAA = 0.1 * (0.9 * 0.9) / (0.1 * (0.9 * 0.9) + (1.0 - 0.1) * (0.1 * 0.1))
    val wDD = 0.1 * (0.1 * 0.1) / (0.1 * (0.1 * 0.1) + (1.0 - 0.1) * (0.9 * 0.9))
    def q(x: Double) = BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP)
    val sw = q(wAA) * 4 + q(wDD) * 16
    val lam = (sw / 20).toDouble
    val m1 = (q(wAA) * 4 / sw).toDouble
    val u1 = ((q(1.0 - wAA) * 4) / (q(1.0 - wAA) * 4 + q(1.0 - wDD) * 16)).toDouble
    assert(got.getLong(0) == 20L)
    assert(math.abs(got.getDouble(1) - lam) < 1e-12, s"lam ${got.getDouble(1)} != $lam")
    assert(math.abs(got.getDouble(2) - m1) < 1e-12, s"m_f1 ${got.getDouble(2)} != $m1")
    assert(math.abs(got.getDouble(3) - u1) < 1e-12, s"u_f1 ${got.getDouble(3)} != $u1")
    // Symmetric fields estimate identically; more rounds keep m above u.
    assert(got.getDouble(2) == got.getDouble(4) && got.getDouble(3) == got.getDouble(5))
    val it3 = graft.core.Linkage.fellegiSunterEM(pairs, Seq("f1", "f2"), iters = 3)
      .collect().head
    assert(it3.getDouble(2) > it3.getDouble(3), "EM must keep m_f1 > u_f1")
    assert(it3.getDouble(1) > 0 && it3.getDouble(1) < 1)
  }

  test("fellegiSunterEM: clamp keeps degenerate all-agree input finite") {
    val pairs = Seq.fill(8)((1, 1)).toDF("f1", "f2")
    val got = graft.core.Linkage.fellegiSunterEM(pairs, Seq("f1", "f2"), iters = 3)
      .collect().head
    (1 to 5).foreach { i =>
      val v = got.getDouble(i)
      assert(!v.isNaN && v >= 1e-6 && v <= 1.0 - 1e-6, s"col $i escaped the clamp: $v")
    }
  }
}
