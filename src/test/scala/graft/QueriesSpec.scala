package graft

class QueriesSpec extends SparkTestBase {

  test("entry flagship returns rows (t1 smoke)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("QueryDef.index rejects a duplicate query name") {
    // Each query's name and oracle are declared once, in its QueryDef; the
    // index is what catches a second entry under the same name (a Map
    // literal would keep the last one without a word).
    val b: QueryDef.Builder = (s, _) => s.range(1).toDF()
    val defs = Seq(QueryDef("q_a", b, "SELECT 1"), QueryDef("q_b", b, "SELECT 2"),
      QueryDef("q_a", b, "SELECT 3"), QueryDef("q_c", b, "SELECT 4"), QueryDef("q_c", b, "SELECT 5"))
    val e = intercept[IllegalArgumentException](QueryDef.index(defs))
    assert(e.getMessage.contains("duplicate query names: q_a, q_c"), e.getMessage)
    assert(QueryDef.index(defs.distinctBy(_.name)).keySet == Set("q_a", "q_b", "q_c"))
    assert(SparkEntry.byName.size == SparkEntry.registry.size)
  }

  test("QueryDef.only: a SPARK_GRAFT_ONLY value naming an unknown query fails, naming it") {
    val known = Set("q_pagerank", "q_ppr", "b_pagerank_dist")
    assert(QueryDef.only(None, known).isEmpty)
    assert(QueryDef.only(Some(" q_pagerank, ,q_ppr,"), known).contains(Set("q_pagerank", "q_ppr")))
    val e = intercept[IllegalArgumentException](
      QueryDef.only(Some("q_pagernk,q_ppr,q_zzz"), known))
    assert(e.getMessage.contains("unknown queries: q_pagernk, q_zzz"), e.getMessage)
    assert(intercept[IllegalArgumentException](QueryDef.only(Some(" , "), known))
      .getMessage.contains("names no query"))
  }

  test("ShuffleAudit: an unknown query name on the command line fails before any session, naming it") {
    assert(ShuffleAudit.queryNames(Nil) == ShuffleAudit.defaultQueries)
    assert(ShuffleAudit.queryNames(Seq("q_pagerank", " q_ppr ")) == Seq("q_pagerank", "q_ppr"))
    val e = intercept[IllegalArgumentException](ShuffleAudit.queryNames(Seq("q_pagernk", "q_ppr", "q_zzz")))
    assert(e.getMessage.contains("ShuffleAudit names unknown queries: q_pagernk, q_zzz"), e.getMessage)
    assert(intercept[IllegalArgumentException](ShuffleAudit.queryNames(Seq(" ")))
      .getMessage.contains("names no query"))
  }

  test("q_join_full keeps unmatched rows from BOTH sides") {
    val sides = SparkEntry.queries("q_join_full")(spark, sf)
      .groupBy("side").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sides.keySet == Set("both", "order_only", "lines_only"), s"got $sides")
  }

  test("forced-distributed bench probes match the default driver tier at sf0.001") {
    // Bench times these probes; they run the distributed loops, which
    // must give what the driver tier gives on the same input.
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    val pagerank = rows(SparkEntry.queries("q_pagerank")(spark, sf))
    assert(pagerank.nonEmpty)
    assert(rows(SparkEntry.benchProbes("b_pagerank_dist")(spark, sf)) == pagerank,
      "b_pagerank_dist must return exactly q_pagerank's rows")
    val kmeans = rows(graft.similarity.KMeans.lloyd(
      graft.core.Readers.table(spark, sf, "embeddings"), "vec_id", "embedding",
      k = 8, dim = 64, iters = 2))
    assert(kmeans.nonEmpty)
    assert(rows(SparkEntry.benchProbes("b_kmeans_dist")(spark, sf)) == kmeans,
      "b_kmeans_dist must equal the driver-tier KMeans.lloyd fit")
  }

  test("Explain prints a bench probe's plan (b_pagerank_dist) and fails on an unknown name") {
    val plan = Explain.plan(spark, sf, Explain.resolve(Seq("b_pagerank_dist")).head, finalPlan = false)
    assert(plan.contains("== Physical Plan =="), plan)
    assert(plan.contains("rank"), plan)
    val e = intercept[IllegalArgumentException](Explain.resolve(Seq("b_pagerank_dist", "q_pagernk")))
    assert(e.getMessage.contains("unknown query names: q_pagernk;"), e.getMessage)
    assert(e.getMessage.contains("b_kmeans_dist") && e.getMessage.contains("q_pagerank"), e.getMessage)
  }

  test("all queries execute and return rows at sf0.001 (except known-empty)") {
    // r10: no allowlist — every registered query must be non-vacuous,
    // including the former zero-row trio (q_join_anti, q_bonferroni,
    // q_neardup_jaccard), whose predicates now leave survivors at
    // every SF. The bench shapes Bench times run here too.
    (SparkEntry.queries ++ benchShapes).foreach { case (name, fn) =>
      val n = fn(spark, sf).count()
      assert(n > 0, s"$name returned 0 rows")
    }
  }

  test("q_kn_lm: KN probabilities bounded; train docs fully in-model") {
    // Interpolated Kneser-Ney normalizes to 1 over the vocab, so every
    // individual P(w2|w1) sits in [0,1] — sum_p can't exceed the bigram
    // count and min_p can't go negative. Train-split docs (doc_id%10!=9)
    // contributed every one of their prefixes to the model, so their
    // unseen-prefix count is structurally 0 and (their own bigram having
    // c_bg>=1, hence a live continuation) min_p strictly positive.
    val rows = SparkEntry.queries("q_kn_lm")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (doc, nBg) = (r.getAs[Long]("doc_id"), r.getAs[Long]("n_bigrams"))
      val (sumP, minP) = (r.getAs[Double]("sum_p"), r.getAs[Double]("min_p"))
      assert(minP >= 0.0 && minP <= 1.0, s"doc $doc min_p $minP outside [0,1]")
      assert(sumP >= 0.0 && sumP <= nBg + 1e-9, s"doc $doc sum_p $sumP > n_bigrams $nBg")
      if (doc % 10 != 9) {
        assert(r.getAs[Long]("n_unseen_pfx") == 0L, s"train doc $doc has unseen prefix")
        assert(minP > 0.0, s"train doc $doc min_p must be strictly positive")
      }
    }
  }

  test("q_zonemap_prune: layouts agree on truth; z-order skips where linear can't") {
    val rows = SparkEntry.queries("q_zonemap_prune")(spark, sf).collect()
      .map(r => (r.getAs[String]("layout"), r.getAs[String]("pred")) -> r).toMap
    assert(rows.size == 6, s"expected 3 layouts x 2 preds, got ${rows.keySet}")
    Seq("both", "day_only").foreach { pred =>
      val perLayout = Seq("linear", "zorder", "hilbert").map(l => rows((l, pred)))
      // Zone maps are lossy indexes, never wrong: all layouts must see
      // the same ground truth, and no scan set may miss a matching row.
      assert(perLayout.map(_.getAs[Long]("n_match")).distinct.size == 1)
      assert(perLayout.map(_.getAs[Long]("n_rows")).distinct.size == 1)
      perLayout.foreach { r =>
        assert(r.getAs[Long]("rows_scanned") >= r.getAs[Long]("n_match"),
          s"$pred ${r.getAs[String]("layout")}: pruned away matching rows")
        assert(r.getAs[Long]("n_scanned") <= r.getAs[Long]("n_zones"))
      }
    }
    // The structural claim: a custkey-sorted layout cannot skip ANY zone
    // for a day-only predicate (every zone's day range spans the whole
    // domain), while both space-filling curves must skip some.
    val linDay = rows(("linear", "day_only"))
    assert(linDay.getAs[Long]("n_scanned") == linDay.getAs[Long]("n_zones"),
      "linear layout unexpectedly pruned a day-only predicate")
    Seq("zorder", "hilbert").foreach { curve =>
      val r = rows((curve, "day_only"))
      assert(r.getAs[Long]("n_scanned") < r.getAs[Long]("n_zones"),
        s"$curve layout failed to prune a day-only predicate")
    }
  }

  test("q_rbo stays inside truncated-RBO bounds; identical lists would cap at 1-p^10") {
    import spark.implicits._
    val rows = SparkEntry.queries("q_rbo")(spark, sf)
      .as[(Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    val cap = 1.0 - math.pow(0.9, 10) // truncated RBO@10 of IDENTICAL lists
    rows.foreach { case (q, nBoth, rbo) =>
      assert(nBoth >= 0 && nBoth <= 10, s"q $q overlap out of range: $nBoth")
      assert(rbo >= 0.0 && rbo <= cap + 1e-9, s"q $q rbo $rbo outside [0, $cap]")
      if (nBoth == 0) assert(rbo == 0.0)
    }
  }

  test("q_rfm: quintiles balanced within each segment; label rules hold") {
    import spark.implicits._
    val rows = SparkEntry.queries("q_rfm")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[String]("segment")).foreach { case (seg, rs) =>
      val sizes = rs.groupBy(_.getAs[Int]("r_score")).view.mapValues(_.length).values.toSeq
      assert(sizes.max - sizes.min <= 1, s"$seg r_score quintiles unbalanced: $sizes")
    }
    rows.foreach { r =>
      val (rc, fc) = (r.getAs[Int]("r_score"), r.getAs[Int]("f_score"))
      val label = r.getAs[String]("segment_label")
      if (rc >= 4 && fc >= 4) assert(label == "champion")
      else if (rc <= 2 && fc <= 2) assert(label == "at_risk")
      else assert(label == "regular")
      assert(r.getAs[Int]("rfm") == rc * 100 + fc * 10 + r.getAs[Int]("m_score"))
    }
  }

  test("q_benford: digits 1-9, observed counts account for every order, chi2 terms nonneg") {
    import spark.implicits._
    val rows = SparkEntry.queries("q_benford")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val d = r.getAs[Int]("digit")
      assert(d >= 1 && d <= 9, s"first digit out of range: $d")
      assert(r.getAs[Double]("contrib") >= 0.0)
    }
    rows.groupBy(_.getAs[String]("priority")).foreach { case (p, rs) =>
      val n = rs.head.getAs[Long]("n")
      assert(rs.map(_.getAs[Long]("obs")).sum == n, s"$p: digit counts must partition n")
      val expSum = rs.map(_.getAs[Double]("expected")).sum
      // only digits that OCCUR emit rows, but the 6-dp constants sum to 1
      assert(expSum <= n + 1e-6, s"$p: expected mass exceeds n: $expSum vs $n")
    }
  }

  test("q_stump: best cut ranks first, Gini bounded, side counts partition every source") {
    import spark.implicits._
    val rows = SparkEntry.queries("q_stump")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[String]("source")).foreach { case (src, rs) =>
      val scores = rs.sortBy(_.getAs[Int]("rk")).map(_.getAs[Double]("score"))
      assert(scores.head == scores.min, s"$src: rk=1 must carry the minimal impurity")
      scores.foreach(sc => assert(sc >= 0.0 && sc <= 0.5 + 1e-12, s"$src gini $sc"))
      val totals = rs.map(r => r.getAs[Long]("nl") + r.getAs[Long]("nr")).distinct
      assert(totals.size == 1, s"$src: nl+nr must be the source size for every cut")
      rs.foreach { r =>
        assert(r.getAs[Long]("pl") <= r.getAs[Long]("nl"))
        assert(r.getAs[Long]("pr") <= r.getAs[Long]("nr"))
      }
    }
  }

  test("q_bootstrap: Poisson mass near n, SE constant per stratum and nonnegative") {
    import spark.implicits._
    val rows = SparkEntry.queries("q_bootstrap")(spark, sf).collect()
    val nOrders = spark.read.parquet(s"$sf/orders.parquet")
      .groupBy("o_orderpriority").count()
      .as[(String, Long)].collect().toMap
    rows.groupBy(_.getAs[String]("priority")).foreach { case (p, rs) =>
      assert(rs.length == 8, s"$p: 8 replicates expected")
      val ses = rs.map(_.getAs[Double]("se_kilo")).distinct
      assert(ses.length == 1 && ses.head >= 0.0, s"$p: SE must be one nonneg value: ${ses.toSeq}")
      val n = nOrders(p)
      rs.foreach { r =>
        val eff = r.getAs[Long]("n_eff")
        assert(math.abs(eff - n) < 5 * math.sqrt(n.toDouble) + 10,
          s"$p rep ${r.getAs[Int]("rep")}: Poisson mass $eff far from $n")
      }
    }
  }

  test("q_keywords: five ranked terms per source with real support and positive lift") {
    import spark.implicits._
    val rows = SparkEntry.queries("q_keywords")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[String]("source")).foreach { case (src, rs) =>
      assert(rs.map(_.getAs[Int]("rk")).sorted.toSeq == (1 to rs.length),
        s"$src: ranks must be dense from 1")
      assert(rs.length <= 5)
      rs.foreach { r =>
        assert(r.getAs[Long]("c_ts") >= 3L)
        assert(r.getAs[Double]("lift") > 0.0)
      }
    }
  }

  test("q_conformal: realized coverage brackets the nominal 0.875; rank formula holds") {
    import spark.implicits._
    val rows = SparkEntry.queries("q_conformal")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nCal, k) = (r.getAs[Long]("n_cal"), r.getAs[Long]("k"))
      assert(k == math.ceil(0.875 * (nCal + 1)).toLong, s"rank formula broke: $k vs $nCal")
      assert(r.getAs[Double]("qhat") > 0.0)
      val cov = r.getAs[Double]("coverage")
      // Finite-sample guarantee is >= 0.875 in expectation over splits;
      // on one fixed split allow the binomial wiggle around it.
      val n = r.getAs[Long]("n_test").toDouble
      val slack = 4.0 * math.sqrt(0.875 * 0.125 / n)
      assert(cov > 0.875 - slack && cov < 1.0,
        s"${r.getAs[String]("priority")}: coverage $cov far from nominal (slack $slack)")
    }
  }

  test("q_assoc_rules: rules come in mirrored pairs, lift is symmetric, confidence bounded") {
    import spark.implicits._
    val rows = SparkEntry.queries("q_assoc_rules")(spark, sf)
      .as[(Long, Long, Long, Double, Double)].collect()
    assert(rows.nonEmpty)
    val byPair = rows.map(r => (r._1, r._2) -> r).toMap
    rows.foreach { case (a, c, nab, conf, lift) =>
      assert(conf > 0.0 && conf <= 1.0, s"confidence out of (0,1]: $conf")
      assert(lift > 0.0)
      val mirror = byPair.get((c, a))
      assert(mirror.isDefined, s"rule $a->$c has no mirror")
      assert(mirror.get._5 == lift, "lift must be direction-independent")
      assert(mirror.get._3 == nab)
    }
  }

  test("q_ols_multi: betas solve the normal equations recomputed driver-side") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q_ols_multi")(spark, sf).collect()
    assert(rows.nonEmpty)
    val mo = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_returnflag"),
        floor(col("l_extendedprice")).cast("long").as("y"),
        floor(col("l_quantity")).cast("long").as("x1"),
        round(col("l_discount") * 100, 0).cast("long").as("x2"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), sum("x1").as("s1"), sum("x2").as("s2"),
        sum(col("x1") * col("x1")).as("s11"), sum(col("x1") * col("x2")).as("s12"),
        sum(col("x2") * col("x2")).as("s22"), sum("y").as("sy"),
        sum(col("x1") * col("y")).as("s1y"), sum(col("x2") * col("y")).as("s2y"))
      .collect().map(r => r.getString(0) -> r).toMap
    rows.foreach { r =>
      val m = mo(r.getString(0))
      val Seq(n, s1, s2, s11, s12, s22, sy, s1y, s2y) =
        (1 to 9).map(i => m.getLong(i).toDouble)
      val (b0, b1, b2) = (r.getAs[Double]("beta0"), r.getAs[Double]("beta1"), r.getAs[Double]("beta2"))
      // each normal equation, scaled to per-row units, closes at the fit
      assert(math.abs((b0 * n + b1 * s1 + b2 * s2 - sy) / n) < 1e-3)
      assert(math.abs((b0 * s1 + b1 * s11 + b2 * s12 - s1y) / s1y.max(1.0)) < 1e-3)
      assert(math.abs((b0 * s2 + b1 * s12 + b2 * s22 - s2y) / s2y.max(1.0)) < 1e-3)
      val r2 = r.getAs[Double]("r2")
      assert(r2 >= 0.0 && r2 <= 1.0, s"r2 out of range: $r2")
    }
  }

  test("q_isotonic: fit is monotone, bounded, and preserves weighted mass") {
    val rows = SparkEntry.queries("q_isotonic")(spark, sf)
      .orderBy("bin").collect()
    assert(rows.nonEmpty)
    val iso = rows.map(_.getAs[Double]("iso_rate"))
    val raw = rows.map(_.getAs[Double]("raw_rate"))
    val n = rows.map(_.getAs[Long]("n"))
    iso.sliding(2).foreach { case Array(a, b) =>
      assert(a <= b + 1e-9, s"isotonic fit not monotone: $a > $b")
    }
    iso.foreach(v => assert(v >= 0.0 && v <= 1.0))
    // PAV preserves the weighted total: sum n_k * iso_k == sum n_k * raw_k
    val massIso = iso.zip(n).map { case (v, w) => v * w }.sum
    val massRaw = raw.zip(n).map { case (v, w) => v * w }.sum
    assert(math.abs(massIso - massRaw) / massRaw.max(1.0) < 1e-4,
      s"PAV mass not preserved: $massIso vs $massRaw")
  }

  test("q_negative_pairs: 4 slots per anchor, negatives from a different source") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q_negative_pairs")(spark, sf).collect()
    assert(rows.nonEmpty)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("source")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val byAnchor = rows.groupBy(_.getAs[Long]("anchor_id"))
    byAnchor.foreach { case (a, rs) =>
      assert(rs.map(_.getAs[Int]("j")).sorted.sameElements(Array(1, 2, 3, 4)),
        s"anchor $a missing slots")
      rs.foreach { r =>
        assert(docs(a) != r.getAs[String]("neg_source"),
          s"anchor $a drew a negative from its own source")
        Option(r.getAs[java.lang.Long]("neg_id")).foreach { nid =>
          assert(nid != a)
          assert(docs(nid) == r.getAs[String]("neg_source"),
            s"neg $nid source mismatch")
        }
      }
    }
  }

  test("q_quantile_norm: per-type raw means ride the rank order; reference shared") {
    val rows = SparkEntry.queries("q_quantile_norm")(spark, sf).collect()
    assert(rows.nonEmpty)
    // within a type, higher rank-bins pool strictly later order statistics
    rows.groupBy(_.getAs[String]("event_type")).foreach { case (et, rs) =>
      val sorted = rs.sortBy(_.getAs[Int]("bin"))
      sorted.map(_.getAs[Double]("raw_mean")).sliding(2).foreach { case Array(a, b) =>
        assert(a <= b + 1e-9, s"$et raw_mean not monotone in bin: $a > $b")
      }
    }
    // the normalized value is a function of bin alone (the shared reference)
    rows.groupBy(_.getAs[Int]("bin")).foreach { case (bin, rs) =>
      assert(rs.map(_.getAs[Double]("norm_value")).distinct.length == 1,
        s"bin $bin maps to multiple normalized values")
    }
  }

  test("q_kcenter: radius curve non-increasing, centers distinct") {
    val rows = SparkEntry.queries("q_kcenter")(spark, sf)
      .orderBy("ord").collect()
    assert(rows.length == 8)
    assert(rows.map(_.getAs[Long]("center_id")).distinct.length == 8)
    val radii = rows.map(_.getAs[Double]("radius"))
    assert(radii(0) == 0.0)
    radii.foreach(r => assert(r >= 0.0 && r <= 2.0))
    // Gonzalez guarantees the selection radius never increases
    radii.drop(1).sliding(2).foreach { case Array(a, b) =>
      assert(a >= b - 1e-9, s"covering radius increased: $a then $b")
    }
  }

  test("KCenter.select: double vectors accepted, clear failures on bad input (r10 guards)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.similarity.KCenter
    // Double-element embeddings work (generic element read, same greedy
    // selection as the float path on value-identical vectors).
    val emb = spark.read.parquet(s"$sf/embeddings.parquet").limit(50)
    val asDouble = emb.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("embedding"))
    val viaDouble = KCenter.select(asDouble, "vec_id", "embedding", k = 4)
      .orderBy("ord").select("center_id").as[Long].collect().toSeq
    val viaFloat = KCenter.select(emb, "vec_id", "embedding", k = 4)
      .orderBy("ord").select("center_id").as[Long].collect().toSeq
    assert(viaDouble.length == 4 && viaFloat.length == 4)
    // n < k fails loudly instead of silently re-picking exhausted points.
    val tiny = emb.limit(2)
    val e1 = intercept[IllegalArgumentException](
      KCenter.select(tiny, "vec_id", "embedding", k = 4))
    assert(e1.getMessage.contains("at least k"), e1.getMessage)
    // Unsupported element types name the column, not a ClassCastException.
    val bad = emb.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("string")).as("embedding"))
    val e2 = intercept[IllegalArgumentException](
      KCenter.select(bad, "vec_id", "embedding", k = 2))
    assert(e2.getMessage.contains("array<float> or array<double>"), e2.getMessage)
    // Degenerate corpus (all-identical vectors): centers stay DISTINCT —
    // picked points leave the pool — with radius 0 marking the tail,
    // instead of silently re-picking the seed id.
    val dup = (0L until 5L).map(i => (i, Seq.fill(8)(0.5f))).toDF("vec_id", "embedding")
    val degC = KCenter.select(dup, "vec_id", "embedding", k = 3)
      .orderBy("ord").collect()
    assert(degC.map(_.getAs[Long]("center_id")).distinct.length == 3, degC.mkString(","))
    assert(degC.drop(1).forall(r => math.abs(r.getAs[Double]("radius")) < 1e-9))
  }

  test("q_pca_power: unit-norm loadings matching a driver-side power iteration") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q_pca_power")(spark, sf).orderBy("dim").collect()
    assert(rows.length == 16)
    val loadings = rows.map(_.getAs[Double]("loading"))
    val norm = math.sqrt(loadings.map(v => v * v).sum)
    assert(math.abs(norm - 1.0) < 1e-4, s"loadings not unit norm: $norm")
    assert(rows.map(_.getAs[Double]("lambda")).distinct.length == 1)
    assert(rows.head.getAs[Double]("lambda") > 0.0)
    // driver-side reference: same covariance, same 3 rounds from 0.25
    val xs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(slice(col("embedding"), 1, 16).cast("array<double>").as("v"))
      .collect().map(_.getSeq[Double](0).toArray)
    val n = xs.length.toDouble
    val mu = (0 until 16).map(i => xs.map(_(i)).sum / n).toArray
    val cov = Array.tabulate(16, 16)((i, j) =>
      xs.map(r => r(i) * r(j)).sum / n - mu(i) * mu(j))
    var v = Array.fill(16)(0.25)
    for (_ <- 1 to 3) {
      val w = Array.tabulate(16)(i => (0 until 16).map(j => cov(i)(j) * v(j)).sum)
      val nm = math.sqrt(w.map(x => x * x).sum)
      v = w.map(_ / nm)
    }
    loadings.zip(v).zipWithIndex.foreach { case ((got, want), i) =>
      assert(math.abs(got - want) < 1e-3, s"dim ${i + 1}: $got vs driver $want")
    }
  }

  test("q_pca_project: proj and resid close the Pythagorean identity per vector") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q_pca_project")(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Double]("proj"), r.getAs[Double]("resid"))).toMap
    assert(rows.nonEmpty)
    val norms = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"),
        expr("aggregate(slice(embedding, 1, 16), 0d, (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))").as("n2"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    rows.foreach { case (id, (p, res)) =>
      assert(res >= 0.0)
      assert(math.abs(p * p + res * res - norms(id)) < 1e-3,
        s"vec $id: proj/resid do not decompose the slice norm")
    }
  }

  test("q_mutual_info: both features present, MI within [0, ln(cells)]") {
    val rows = SparkEntry.queries("q_mutual_info")(spark, sf).collect()
    assert(rows.map(_.getAs[String]("feature")).sorted.sameElements(Array("len4", "source")))
    rows.foreach { r =>
      val (mi, cells) = (r.getAs[Double]("mi"), r.getAs[Long]("n_cells"))
      assert(cells >= 2)
      assert(mi >= -1e-9, s"negative MI: $mi")
      assert(mi <= math.log(cells.toDouble) + 1e-9, s"MI $mi above ln($cells)")
    }
  }

  test("q_raking: column margins exact after the final scale, totals preserved") {
    val rows = SparkEntry.queries("q_raking")(spark, sf).collect()
    assert(rows.nonEmpty)
    val n = rows.map(_.getAs[Long]("n_cell")).sum.toDouble
    val segs = rows.groupBy(_.getAs[String]("seg"))
    val prs = rows.groupBy(_.getAs[String]("pr"))
    val segTarget = n / segs.size
    segs.foreach { case (seg, rs) =>
      val m = rs.map(_.getAs[Double]("weight")).sum
      assert(math.abs(m - segTarget) < 1e-3, s"seg $seg margin $m vs $segTarget")
    }
    // row margins converge but are not exact after a column-last round
    val prTarget = n / prs.size
    prs.foreach { case (pr, rs) =>
      val m = rs.map(_.getAs[Double]("weight")).sum
      assert(math.abs(m - prTarget) / prTarget < 0.05, s"pr $pr margin $m far from $prTarget")
    }
    rows.foreach(r => assert(r.getAs[Double]("weight") > 0.0))
  }

  test("q_gain_curve: anchored at (1,1), monotone as the targeted slice narrows") {
    val rows = SparkEntry.queries("q_gain_curve")(spark, sf)
      .orderBy("bin").collect()
    assert(rows.nonEmpty)
    val bottom = rows.head
    assert(bottom.getAs[Int]("bin") == 0)
    assert(math.abs(bottom.getAs[Double]("frac_targeted") - 1.0) < 1e-9)
    assert(math.abs(bottom.getAs[Double]("gain") - 1.0) < 1e-9)
    // narrowing the slice (higher bins) can only shrink frac and gain
    val fracs = rows.map(_.getAs[Double]("frac_targeted"))
    val gains = rows.map(_.getAs[Double]("gain"))
    fracs.sliding(2).foreach { case Array(a, b) => assert(a >= b - 1e-9) }
    gains.sliding(2).foreach { case Array(a, b) => assert(a >= b - 1e-9) }
    rows.foreach { r =>
      assert(r.getAs[Double]("gain") >= -1e-9 && r.getAs[Double]("gain") <= 1.0 + 1e-9)
      assert(r.getAs[Double]("lift") >= -1e-9)
    }
  }

  test("q_heaps_law: both growth curves monotone, vocab bounded by tokens") {
    val rows = SparkEntry.queries("q_heaps_law")(spark, sf)
      .orderBy("k").collect()
    assert(rows.length == 10)
    val v = rows.map(_.getAs[Long]("vocab"))
    val n = rows.map(_.getAs[Long]("n_tokens"))
    v.sliding(2).foreach { case Array(a, b) => assert(a <= b) }
    n.sliding(2).foreach { case Array(a, b) => assert(a <= b) }
    v.zip(n).foreach { case (vv, nn) => assert(vv <= nn) }
    val b = rows.head.getAs[Double]("heaps_b")
    assert(rows.map(_.getAs[Double]("heaps_b")).distinct.length == 1)
    // sublinear growth: 0 <= b < 1 (a saturated synthetic vocab sits near 0)
    assert(b > -0.05 && b < 1.0, s"heaps exponent out of range: $b")
  }

  test("q_perm_test: 16 replicates share the observed gap; flags consistent") {
    val rows = SparkEntry.queries("q_perm_test")(spark, sf).collect()
    val reps: Seq[Int] = rows.map(r => r.getAs[Int]("rep")).toSeq
    assert(reps.sorted == (1 to 16).toList)
    assert(rows.map(_.getAs[Double]("d_obs")).distinct.length == 1)
    rows.foreach { r =>
      // flag computed pre-rounding; only assert away from the boundary
      val gap = math.abs(r.getAs[Double]("d_rep")) - math.abs(r.getAs[Double]("d_obs"))
      if (math.abs(gap) > 2e-6)
        assert(r.getAs[Boolean]("exceeds") == (gap >= 0))
    }
  }

  test("q_zipf_fit: one fit per source, non-positive slope over the top-50") {
    val rows = SparkEntry.queries("q_zipf_fit")(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getAs[String]("source")).distinct.length == rows.length)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_terms")
      assert(n >= 2 && n <= 50)
      // frequencies are non-increasing in rank, so the OLS slope
      // can never be positive (0 only if every count ties)
      assert(r.getAs[Double]("zipf_slope") <= 1e-9)
    }
  }

  test("q_hopkins: statistic bounded in (0,1), components consistent") {
    val r = SparkEntry.queries("q_hopkins")(spark, sf).collect().head
    val (su, sw, h) = (r.getAs[Double]("sum_u"), r.getAs[Double]("sum_w"),
      r.getAs[Double]("hopkins"))
    assert(r.getAs[Long]("n_probes") > 0)
    assert(su > 0.0 && sw >= 0.0)
    assert(h > 0.0 && h < 1.0, s"hopkins out of (0,1): $h")
    assert(math.abs(h - su / (su + sw)) < 1e-4)
    // real embeddings are not uniform noise: expect at least mild
    // clustering signal (H > 0.4 rules out 'synthetic closer than real')
    assert(h > 0.4, s"hopkins $h says probes are farther than noise")
  }

  test("q_crossval: every (source, fold) cell scored; accuracies are proper ratios") {
    val rows = SparkEntry.queries("q_crossval")(spark, sf).collect()
    assert(rows.nonEmpty)
    val cells = rows.map(r => (r.getAs[String]("source"), r.getAs[Int]("fold")))
    assert(cells.distinct.length == cells.length, "duplicate (source, fold) cells")
    rows.groupBy(_.getAs[String]("source")).foreach { case (src, rs) =>
      assert(rs.map(_.getAs[Int]("fold")).sorted.toSeq == Seq(0, 1, 2),
        s"$src missing folds")
    }
    rows.foreach { r =>
      assert(r.getAs[Long]("n_test") > 0)
      val acc = r.getAs[Double]("test_acc")
      assert(acc >= 0.0 && acc <= 1.0)
      val ts = r.getAs[Double]("train_score")
      assert(ts >= 0.0 && ts <= 0.5 + 1e-9, s"gini out of range: $ts")
    }
  }

  test("q_effect_size: delta bounded in [-1,1]; d and delta agree in sign when material") {
    val rows = SparkEntry.queries("q_effect_size")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n1") > 0 && r.getAs[Long]("n0") > 0)
      val delta = r.getAs[Double]("cliffs_delta")
      assert(delta >= -1.0 - 1e-9 && delta <= 1.0 + 1e-9)
      val dd = r.getAs[Double]("cohens_d")
      // parity variants on the same population: both effects are small,
      // and when either is non-trivial the two measures agree in sign
      if (math.abs(dd) > 0.05 && math.abs(delta) > 0.05)
        assert(dd.sign == delta.sign, s"d=$dd delta=$delta disagree")
    }
  }

  test("q_stl_lite: decomposition reassembles the series; seasonal sums to ~0") {
    val rows = SparkEntry.queries("q_stl_lite")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (v, tr, se, re) = (r.getAs[Double]("v"), r.getAs[Double]("trend"),
        r.getAs[Double]("seasonal"), r.getAs[Double]("resid"))
      assert(math.abs(v - (tr + se + re)) < 5e-6,
        s"decomposition broken: $v vs ${tr + se + re}")
    }
    // the dow means absorb the detrended signal: per type, residuals
    // average ~0 within each day-of-week
    rows.groupBy(r => (r.getAs[String]("event_type"), r.getAs[Long]("day") % 7))
      .foreach { case (key, rs) =>
        val m = rs.map(_.getAs[Double]("resid")).sum / rs.length
        assert(math.abs(m) < 1e-4, s"$key residual mean $m not ~0")
      }
  }

  test("q_diversity: entropy within [0, ln k]; Simpson within [1/k, 1]") {
    val rows = SparkEntry.queries("q_diversity")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val k = r.getAs[Long]("n_sources").toDouble
      val (h, si) = (r.getAs[Double]("shannon"), r.getAs[Double]("simpson"))
      assert(h >= -1e-9 && h <= math.log(k) + 1e-9, s"H=$h outside [0, ln $k]")
      assert(si >= 1.0 / k - 1e-9 && si <= 1.0 + 1e-9, s"Simpson=$si outside [1/$k, 1]")
    }
  }

  test("q_coverage_curve: coverage monotone in k and properly bounded") {
    val rows = SparkEntry.queries("q_coverage_curve")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (c10, c100) = (r.getAs[Double]("coverage_10"), r.getAs[Double]("coverage_100"))
      assert(c10 >= 0.0 && c10 <= c100 + 1e-9 && c100 <= 1.0 + 1e-9)
      assert(r.getAs[Long]("n_types") >= 1)
      if (r.getAs[Long]("n_types") <= 100)
        assert(math.abs(c100 - 1.0) < 1e-9, "top-100 of <=100 types must cover all")
    }
  }

  test("q_paired_t: t recomputes from mean and a driver-side sd of the gaps") {
    import org.apache.spark.sql.functions._
    val r = SparkEntry.queries("q_paired_t")(spark, sf).collect().head
    val n = r.getAs[Long]("n")
    assert(n > 1 && r.getAs[Long]("dof") == n - 1)
    // driver-side recompute of the same pre/post construction
    val e = spark.read.parquet(s"$sf/events.parquet").select(
      col("user_id"), floor(unix_micros(col("ts").cast("timestamp")) / 86400000000L).as("day"),
      col("value").cast("decimal(12,3)").as("v"))
    val Array(lo, hi) = e.agg(min("day"), max("day")).collect().head.toSeq.map(_.asInstanceOf[Long]).toArray
    val mid = math.floor((lo + hi).toDouble / 2.0).toLong
    val gaps = e.collect().groupBy(_.getLong(0)).map { case (_, rs) =>
      def tot(p: org.apache.spark.sql.Row => Boolean) =
        math.floor(rs.filter(p).map(r => BigDecimal(r.getDecimal(2)))
          .foldLeft(BigDecimal(0))(_ + _).doubleValue).toLong
      tot(_.getLong(1) >= mid) - tot(_.getLong(1) < mid)
    }.toSeq
    val mean = gaps.sum.toDouble / gaps.length
    val sd = math.sqrt(gaps.map(g => (g - mean) * (g - mean)).sum / (gaps.length - 1))
    val want = mean / (sd / math.sqrt(gaps.length.toDouble))
    assert(math.abs(r.getAs[Double]("t_stat") - want) < 1e-2,
      s"t=${r.getAs[Double]("t_stat")} vs driver $want")
  }

  test("q_mde: planning numbers positive and consistent with the pooled sd") {
    val rows = SparkEntry.queries("q_mde")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n1, n0) = (r.getAs[Long]("n1"), r.getAs[Long]("n0"))
      val (sp, mde) = (r.getAs[Double]("pooled_sd"), r.getAs[Double]("mde_abs"))
      assert(sp > 0.0 && mde > 0.0)
      val want = 2.801585 * sp * math.sqrt(1.0 / n1 + 1.0 / n0)
      assert(math.abs(mde - want) < 1e-4, s"mde $mde vs $want")
    }
  }

  test("q_knee: exactly one knee, at the maximal chord drop; endpoints on the chord") {
    val rows = SparkEntry.queries("q_knee")(spark, sf).orderBy("ord").collect()
    assert(rows.length == 7)
    assert(rows.count(_.getAs[Boolean]("is_knee")) == 1)
    val drops = rows.map(_.getAs[Double]("chord_drop"))
    val knee = rows.find(_.getAs[Boolean]("is_knee")).get
    assert(knee.getAs[Double]("chord_drop") >= drops.max - 1e-9)
    // the chord passes through the first and last points exactly
    assert(math.abs(rows.head.getAs[Double]("chord_drop")) < 1e-6)
    assert(math.abs(rows.last.getAs[Double]("chord_drop")) < 1e-6)
  }

  test("q_mannkendall: S bounded by pairs; z recomputes; a planted ramp maxes S") {
    import org.apache.spark.sql.functions.signum
    import spark.implicits._
    val rows = SparkEntry.queries("q_mannkendall")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (s_, np) = (r.getAs[Long]("s_stat"), r.getAs[Long]("n_pairs"))
      assert(math.abs(s_) <= np)
      val (vs, z) = (r.getAs[Double]("var_s"), r.getAs[Double]("z"))
      assert(vs > 0.0)
      val want = if (s_ > 0) (s_ - 1.0) / math.sqrt(vs)
        else if (s_ < 0) (s_ + 1.0) / math.sqrt(vs) else 0.0
      assert(math.abs(z - want) < 1e-4, s"z $z vs $want")
    }
    // strictly increasing series: S = n(n-1)/2 exactly
    val ramp = (1 to 20).map(i => ("t", i.toLong, BigDecimal(i))).toDF("et", "day", "v")
    val pairs = ramp.as("a").join(ramp.as("b"),
      $"a.day" < $"b.day").select(signum($"b.v" - $"a.v").cast("long")).as[Long].collect()
    assert(pairs.sum == 190 && pairs.length == 190)
  }

  test("q_theil_sen: slope is a real pair slope; residual median centers the line") {
    val rows = SparkEntry.queries("q_theil_sen")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_pairs") > 0)
      // intercept = a median residual → about half the days sit below the line
      assert(!r.getAs[Double]("slope").isNaN && !r.getAs[Double]("intercept").isNaN)
    }
  }

  test("q_forecast_eval: MASE is the error ratio; all errors nonnegative") {
    val rows = SparkEntry.queries("q_forecast_eval")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (m1, m7, mase) = (r.getAs[Double]("mae_naive"),
        r.getAs[Double]("mae_seasonal"), r.getAs[Double]("mase"))
      assert(m1 >= 0.0 && m7 >= 0.0 && r.getAs[Long]("n_evals") > 0)
      assert(math.abs(mase - m7 / m1) < 1e-4, s"mase $mase vs ${m7 / m1}")
    }
  }

  test("q_spearman: rho bounded; a perfect monotone pairing reads exactly 1") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val rows = SparkEntry.queries("q_spearman")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val rho = r.getAs[Double]("spearman_rho")
      assert(rho >= -1.0 - 1e-9 && rho <= 1.0 + 1e-9, s"rho out of range: $rho")
    }
    // planted perfect monotone relation: ranks coincide, rho = 1
    val df = (1 to 50).map(i => ("s", i.toLong, i.toDouble, i.toLong * 2))
      .toDF("seg", "c_custkey", "c_acctbal", "n_orders")
    val w1 = org.apache.spark.sql.expressions.Window.partitionBy("seg")
      .orderBy(col("c_acctbal"), col("c_custkey"))
    val w2 = org.apache.spark.sql.expressions.Window.partitionBy("seg")
      .orderBy(col("n_orders"), col("c_custkey"))
    val ranked = df
      .withColumn("ra", org.apache.spark.sql.functions.row_number().over(w1).cast("long"))
      .withColumn("rb", org.apache.spark.sql.functions.row_number().over(w2).cast("long"))
      .filter(col("ra") =!= col("rb")).count()
    assert(ranked == 0, "monotone pairing must give identical ranks")
  }

  test("q_gate_report: funnel counts telescope; drop rates consistent") {
    val rows = SparkEntry.queries("q_gate_report")(spark, sf).orderBy("stage").collect()
    assert(rows.length == 4)
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[Long]("n_pass") == b.getAs[Long]("n_in"),
        "stage k's survivors must be stage k+1's input")
    }
    rows.foreach { r =>
      val (nin, np) = (r.getAs[Long]("n_in"), r.getAs[Long]("n_pass"))
      assert(np <= nin)
      assert(math.abs(r.getAs[Double]("drop_rate") - (nin - np).toDouble / nin) < 1e-4)
    }
  }

  test("q_qq_points: quantiles nondecreasing in p for both variants") {
    val rows = SparkEntry.queries("q_qq_points")(spark, sf).orderBy("i").collect()
    assert(rows.nonEmpty)
    Seq("q_control", "q_treat").foreach { c =>
      rows.map(_.getAs[Double](c)).sliding(2).foreach { case Array(a, b) =>
        assert(a <= b + 1e-9, s"$c quantiles not monotone: $a > $b")
      }
    }
    rows.foreach(r => assert(
      math.abs(r.getAs[Double]("p") - r.getAs[Int]("i") / 20.0) < 1e-9))
  }

  test("q_lorenz: curve convex-monotone per segment, top decile ends at 1") {
    val rows = SparkEntry.queries("q_lorenz")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[String]("seg")).foreach { case (seg, rs) =>
      val sorted = rs.sortBy(_.getAs[Int]("dec"))
      assert(sorted.last.getAs[Int]("dec") == 10)
      assert(math.abs(sorted.last.getAs[Double]("cum_share") - 1.0) < 1e-9,
        s"$seg curve must end at 1")
      val shares = sorted.map(_.getAs[Double]("cum_share"))
      shares.sliding(2).foreach { case Array(a, b) => assert(a <= b + 1e-9) }
      // spend-sorted deciles: the curve sits on or below the diagonal
      sorted.foreach { r =>
        assert(r.getAs[Double]("cum_share") <= r.getAs[Int]("dec") / 10.0 + 0.05,
          s"$seg Lorenz curve above the diagonal")
      }
    }
  }

  test("q_elasticity: slope recomputes from driver-side quantized-ln moments") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q_elasticity")(spark, sf).collect()
    assert(rows.length >= 1)
    val mo = spark.read.parquet(s"$sf/lineitem.parquet")
      .filter(col("l_quantity") > 0.0 && col("l_extendedprice") > 0.0)
      .select(col("l_returnflag"),
        log(col("l_quantity")).as("lq"),
        log(col("l_extendedprice") / col("l_quantity")).as("lp"))
      .collect().groupBy(_.getString(0))
    rows.foreach { r =>
      val pts = mo(r.getString(0)).map(x => (x.getDouble(2), x.getDouble(1)))
      val n = pts.length.toDouble
      val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
      val sxx = pts.map(p => p._1 * p._1).sum
      val sxy = pts.map(p => p._1 * p._2).sum
      val want = (n * sxy - sx * sy) / (n * sxx - sx * sx)
      assert(math.abs(r.getAs[Double]("elasticity") - want) < 1e-4,
        s"${r.getString(0)}: ${r.getAs[Double]("elasticity")} vs $want")
    }
  }

  test("q_dup_profile: shares sum to 1; docs account for the corpus") {
    val rows = SparkEntry.queries("q_dup_profile")(spark, sf).collect()
    assert(rows.nonEmpty)
    val total = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == total)
    val shareSum = rows.map(_.getAs[Double]("corpus_share")).sum
    assert(math.abs(shareSum - 1.0) < 1e-4, s"shares sum to $shareSum")
    rows.foreach { r =>
      assert(r.getAs[Long]("cluster_size") >= 1 && r.getAs[Long]("n_clusters") >= 1)
      assert(r.getAs[Long]("n_docs") ==
        r.getAs[Long]("cluster_size") * r.getAs[Long]("n_clusters"))
    }
  }

  test("q_ngram_entropy: conditional entropy within [0, ln(n_bigrams)]") {
    val rows = SparkEntry.queries("q_ngram_entropy")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val h = r.getAs[Double]("cond_entropy_nats")
      assert(h >= -1e-9, s"negative entropy: $h")
      // H(next|cur) <= H(cur,next) <= ln(#distinct bigrams)
      assert(h <= math.log(r.getAs[Long]("n_bigrams").toDouble) + 1e-9)
      assert(r.getAs[Long]("n_pairs") >= r.getAs[Long]("n_bigrams"))
    }
  }

  test("q_burstiness: burstiness within (-1,1); dispersion consistent with moments") {
    val rows = SparkEntry.queries("q_burstiness")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val b = r.getAs[Double]("burstiness")
      assert(b > -1.0 - 1e-9 && b < 1.0 + 1e-9, s"burstiness out of range: $b")
      assert(r.getAs[Double]("dispersion") >= 0.0)
      assert(r.getAs[Double]("mean_daily") > 0.0)
      assert(r.getAs[Long]("n_days") > 1)
    }
  }

  test("q_lag_corr: correlations bounded, ordered pairs, full lag grid present") {
    val rows = SparkEntry.queries("q_lag_corr")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[String]("eta") < r.getAs[String]("etb"))
      val c = r.getAs[Double]("corr")
      assert(c >= -1.0 - 1e-9 && c <= 1.0 + 1e-9, s"corr out of range: $c")
      assert(math.abs(r.getAs[Int]("lag")) <= 3)
      assert(r.getAs[Long]("n") >= 3)
    }
    rows.groupBy(r => (r.getAs[String]("eta"), r.getAs[String]("etb")))
      .foreach { case (pair, rs) =>
        assert(rs.map(_.getAs[Int]("lag")).sorted.toSeq == (-3 to 3).toSeq,
          s"$pair missing lags")
      }
  }

  test("q_did: estimate equals the paired-t mean gap difference of the variants") {
    val r = SparkEntry.queries("q_did")(spark, sf).collect().head
    assert(r.getAs[Long]("n_t") > 1 && r.getAs[Long]("n_c") > 1)
    assert(r.getAs[Double]("se") > 0.0)
    assert(math.abs(r.getAs[Double]("t_stat") -
      r.getAs[Double]("did") / r.getAs[Double]("se")) < 1e-3)
  }

  test("q_att_strata: every kept stratum has both groups; ATT is the weighted gap mean") {
    val rows = SparkEntry.queries("q_att_strata")(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getAs[Double]("att")).distinct.length == 1)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_t") > 0 && r.getAs[Long]("n_c") > 0)
    }
    val att = rows.head.getAs[Double]("att")
    val want = rows.map(r => r.getAs[Double]("stratum_gap") * r.getAs[Long]("n_t")).sum /
      rows.map(_.getAs[Long]("n_t")).sum
    assert(math.abs(att - want) < 1e-4, s"att $att vs weighted $want")
  }

  test("q_sax: strings use the 4-letter alphabet and match segment counts") {
    val rows = SparkEntry.queries("q_sax")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val sax = r.getAs[String]("sax")
      assert(sax.length == r.getAs[Long]("n_segments"))
      assert(sax.forall(c => c >= 'a' && c <= 'd'), s"bad symbol in $sax")
      // z-normalized segments must straddle the mean: both halves appear
      assert(sax.exists(c => c <= 'b') && sax.exists(c => c >= 'c'),
        s"degenerate symbolization: $sax")
    }
  }

  test("q_kde: densities nonnegative and integrate to roughly 1 over the grid") {
    val rows = SparkEntry.queries("q_kde")(spark, sf).orderBy("i").collect()
    assert(rows.length == 20)
    val gs = rows.map(_.getAs[Double]("g"))
    val ds = rows.map(_.getAs[Double]("density"))
    ds.foreach(v => assert(v >= 0.0))
    gs.sliding(2).foreach { case Array(a, b) => assert(a < b) }
    // trapezoid over the grid: most of the mass sits inside [lo, hi]
    val pts = gs.zip(ds)
    val area = pts.zip(pts.tail).map { case ((g1, d1), (g2, d2)) =>
      (g2 - g1) * (d1 + d2) / 2.0
    }.sum
    assert(area > 0.5 && area < 1.2, s"KDE grid mass $area far from 1")
  }

  test("q_pacf: pacf1 equals r1; level-2 recursion closes on the reported acf values") {
    val r = SparkEntry.queries("q_pacf")(spark, sf).collect().head
    val (r1, r2) = (r.getAs[Double]("r1"), r.getAs[Double]("r2"))
    assert(r.getAs[Double]("pacf1") == r1)
    val p2 = (r2 - r1 * r1) / (1.0 - r1 * r1)
    assert(math.abs(r.getAs[Double]("pacf2") - p2) < 1e-4)
    Seq("pacf1", "pacf2", "pacf3").foreach { c =>
      val v = r.getAs[Double](c)
      assert(v >= -1.0 - 1e-6 && v <= 1.0 + 1e-6, s"$c out of range: $v")
    }
  }

  test("q_peaks: every peak strictly dominates its window; prominence positive") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q_peaks")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getAs[Double]("prominence") > 0.0))
    // cross-check one type driver-side: peaks must be local maxima of
    // the recomputed daily series
    val et = rows.head.getAs[String]("event_type")
    val daily = spark.read.parquet(s"$sf/events.parquet")
      .filter(col("event_type") === et)
      .groupBy(floor(unix_micros(col("ts").cast("timestamp")) / 86400000000L).as("day"))
      .agg(sum(col("value").cast("decimal(12,3)")).as("v"))
      .orderBy("day").collect()
      .map(r => r.getLong(0) -> r.getDecimal(1).doubleValue)
    val series = daily.map(_._2)
    val dayIdx = daily.map(_._1).zipWithIndex.toMap
    rows.filter(_.getAs[String]("event_type") == et).foreach { r =>
      val i = dayIdx(r.getAs[Long]("day"))
      val nb = (math.max(0, i - 2) until i).map(series) ++
        ((i + 1) to math.min(series.length - 1, i + 2)).map(series)
      assert(nb.forall(_ < series(i)), s"day ${r.getAs[Long]("day")} is not a local max")
    }
  }

  test("q_luhn: validation recovers the synthesis rule exactly (even=valid)") {
    val rows = SparkEntry.queries("q_luhn")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (id, last4, valid) =
        (r.getAs[Long]("doc_id"), r.getAs[String]("last4"), r.getAs[Boolean]("luhn_valid"))
      assert(last4.length == 4 && last4.forall(_.isDigit))
      assert(valid == (id % 2 == 0), s"doc $id: luhn_valid=$valid")
    }
  }
}
