package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.core.{Dedup, Reshape, Sampling}
import graft.similarity.NearDup

/** Property-style generative tests: each operator is checked against an
  * independent reference implementation (driver-side Scala, or its own
  * composable formulation) on deterministic pseudo-random inputs.
  */
class PropertySpec extends SparkTestBase {
  import spark.implicits._

  /** Deterministic ScalaCheck sampling: case i draws from Seed(base+i). */
  private def samples[A](g: Gen[A], n: Int, base: Long): Seq[A] =
    (0 until n).map(i => g.pureApply(Gen.Parameters.default, Seed(base + i)))

  test("connectedComponents agrees with driver-side union-find on random graphs") {
    val edgeGen = for {
      n <- Gen.choose(5, 18)
      m <- Gen.choose(1, 25)
      edges <- Gen.listOfN(m, for {
        a <- Gen.choose(0, n - 1); b <- Gen.choose(0, n - 1) if a != b
      } yield (a.toLong, b.toLong))
    } yield edges
    samples(edgeGen, 6, 1000L).zipWithIndex.foreach { case (edges, i) =>
      if (edges.nonEmpty) {
        // Reference: naive union-find with min-label roots.
        val parent = scala.collection.mutable.Map.empty[Long, Long]
        def find(x: Long): Long = { val p = parent.getOrElse(x, x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
        def union(a: Long, b: Long): Unit = { val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) }
        edges.foreach { case (a, b) => union(a, b) }
        val want = edges.flatMap(e => Seq(e._1, e._2)).distinct.map(v => v -> find(v)).toMap
        val got = NearDup.connectedComponents(edges.toDF("a", "b"), "a", "b")
          .as[(Long, Long)].collect().toMap
        assert(got == want, s"case $i: edges=$edges")
      }
    }
  }

  test("driver tier == distributed tier on random inputs (graph kit, KMeans, Bradley-Terry)") {
    import org.apache.spark.sql.DataFrame
    import graft.core.Preference
    import graft.graph.{Hits, KCore, KTruss, LabelProp, PageRank, ShortestPath}
    import graft.similarity.KMeans
    def same(what: String, drv: DataFrame, dist: DataFrame): Unit = {
      assert(drv.schema.map(c => c.name -> c.dataType) == dist.schema.map(c => c.name -> c.dataType),
        s"$what schema: ${drv.schema.simpleString} vs ${dist.schema.simpleString}")
      val (d, r) = (drv.collect().map(_.toString).sorted.toSeq, dist.collect().map(_.toString).sorted.toSeq)
      assert(d == r, s"$what: driver ${d.diff(r)} vs distributed ${r.diff(d)}")
    }

    // Graph kit: random long-id graphs with self-loops and duplicate
    // edges (the empty graph first); each adaptive entry point against
    // its distributed entry point, bit for bit. KTruss takes its
    // documented canonical input (a < b, each edge once).
    val graphGen = for {
      n <- Gen.choose(1, 10)
      m <- Gen.choose(1, 18)
      edges <- Gen.listOfN(m, for {
        a <- Gen.choose(0L, n - 1L); b <- Gen.choose(0L, n - 1L); w <- Gen.choose(0L, 9L)
      } yield (a, b, w))
      srcs <- Gen.nonEmptyListOf(Gen.choose(0L, n.toLong)).map(_.distinct.take(2))
    } yield (edges, srcs)
    val graphs = (List.empty[(Long, Long, Long)], List(0L)) +: samples(graphGen, 3, 6000L)
    graphs.zipWithIndex.foreach { case ((es, srcList), i) =>
      val triples = es.toDF("src", "dst", "w")
      val positive = triples.withColumn("w", col("w") + 1L) // runWeighted's contract: w > 0
      val pairs = triples.select("src", "dst")
      val canon = es.collect { case (a, b, _) if a != b => (math.min(a, b), math.max(a, b)) }
        .distinct.toDF("a", "b")
      val weights = triples.withColumnRenamed("w", "weight")
      val srcs = srcList.toDF("source")
      val (delta, base) = es.partition(_._3 % 3 == 0)
      val converged = ShortestPath.runConverged(base.toDF("src", "dst", "w"), srcs)
      val deltaDf = delta.toDF("src", "dst", "w")
      val seed = col("node") % 2 === 0
      val cases = Seq(
        ("PageRank.runAdaptive", PageRank.runAdaptive(pairs, 4), PageRank.run(pairs, 4)),
        ("PageRank.runPersonalizedAdaptive",
          PageRank.runPersonalizedAdaptive(pairs, seed, 4), PageRank.runPersonalized(pairs, seed, 4)),
        ("PageRank.runWeightedAdaptive",
          PageRank.runWeightedAdaptive(positive, "w", 4), PageRank.runWeighted(positive, "w", 4)),
        ("ShortestPath.runAdaptive",
          ShortestPath.runAdaptive(triples, srcs, 3), ShortestPath.run(triples, srcs, 3)),
        ("ShortestPath.runConvergedAdaptive",
          ShortestPath.runConvergedAdaptive(triples, srcs), ShortestPath.runConverged(triples, srcs)),
        ("ShortestPath.incrementalAddAdaptive",
          ShortestPath.incrementalAddAdaptive(converged, triples, deltaDf),
          ShortestPath.incrementalAdd(converged, triples, deltaDf)),
        ("LabelProp.runAdaptive", LabelProp.runAdaptive(weights, 3), LabelProp.run(weights, 3)),
        ("Hits.runAdaptive", Hits.runAdaptive(pairs, 3), Hits.run(pairs, 3)),
        ("KCore.peelAdaptive", KCore.peelAdaptive(pairs, 2, 3), KCore.peel(pairs, 2, 3)),
        ("KTruss.peelAdaptive", KTruss.peelAdaptive(canon, 3, 2), KTruss.peel(canon, 3, 2)),
        ("NearDup.connectedComponentsAdaptive",
          NearDup.connectedComponentsAdaptive(pairs, "src", "dst"),
          NearDup.connectedComponents(pairs, "src", "dst")),
      )
      cases.foreach { case (name, drv, dist) => same(s"graph $i $name (edges=$es)", drv, dist) }
    }

    // KMeans: random vectors; the full-dim fit through lloyd and the
    // fused two-subspace fit, each against the forced-distributed fit.
    val vecGen = for {
      dsub <- Gen.choose(1, 3)
      n <- Gen.choose(1, 24)
      k <- Gen.choose(1, 4)
      vs <- Gen.listOfN(n, Gen.listOfN(2 * dsub, Gen.choose(-1.0, 1.0)))
    } yield (dsub, k, vs)
    samples(vecGen, 3, 7000L).zipWithIndex.foreach { case ((dsub, k, vs), i) =>
      val df = vs.zipWithIndex.map { case (v, id) => (id.toLong, v) }.toDF("vec_id", "emb")
      val dim = 2 * dsub
      same(s"kmeans $i lloyd", KMeans.lloyd(df, "vec_id", "emb", k, dim, 2),
        KMeans.assignWith(df, "vec_id", "emb",
          KMeans.fitDistributed(df, "vec_id", "emb", 1, dim, k, 2).head))
      val fused = KMeans.fitSubspaces(df.select($"vec_id".as("id"), $"emb".as("v")), 2, dsub, k, 2)
      val fusedDist = KMeans.fitDistributed(df, "vec_id", "emb", 2, dsub, k, 2)
      assert(fused.map(_.map(_.toSeq).toSeq).toSeq == fusedDist.map(_.map(_.toSeq).toSeq).toSeq,
        s"kmeans $i fitSubspaces drifted")
    }

    // Bradley-Terry: random decided comparisons over a few items; the
    // smallest item is given a win (the anchor precondition).
    val compGen = for {
      t <- Gen.choose(2, 6)
      m <- Gen.choose(1, 14)
      cs <- Gen.listOfN(m, for {
        a <- Gen.choose(0, t - 1); b <- Gen.choose(0, t - 1) if a != b; n <- Gen.choose(1L, 9L)
      } yield (s"i$a", s"i$b", n))
    } yield cs
    samples(compGen, 3, 8000L).zipWithIndex.foreach { case (cs, i) =>
      val items = cs.flatMap(c => Seq(c._1, c._2)).distinct.sorted
      val comps = if (cs.exists(_._1 == items.head)) cs else cs :+ ((items.head, items(1), 1L))
      val comp = comps.toDF("winner", "loser", "n")
      same(s"bradleyTerry $i (comparisons=$comps)",
        Preference.bradleyTerry(comp, "winner", "loser", "n", iters = 3),
        Preference.bradleyTerryDistributed(comp, "winner", "loser", "n", iters = 3))
    }
  }

  test("Gini kernel agrees with a driver-side reference on random vectors") {
    val vecGen = Gen.nonEmptyListOf(Gen.choose(0.0, 100.0))
    samples(vecGen, 8, 2000L).foreach { xs =>
      val sorted = xs.sorted
      val n = sorted.size
      val s = sorted.sum
      val ref =
        if (s == 0.0) 0.0
        else 2.0 * sorted.zipWithIndex.map { case (x, i) => (i + 1) * x }.sum / (n * s) - (n + 1.0) / n
      val got = Seq(Tuple1(xs)).toDF("v")
        .select(graft.functions.GraftFunctions.gini($"v").as("g"))
        .head().getDouble(0)
      assert(math.abs(got - ref) < 1e-9, s"vec=$xs got=$got ref=$ref")
    }
  }

  test("zipWithPadStatic equals zipWithPad on random arrays with nulls") {
    val sGen = Gen.option(Gen.alphaStr.map(_.take(4))).map(_.orNull)
    val caseGen = for {
      nv <- Gen.choose(1, 4)
      nt <- Gen.choose(1, 3)
      vs <- Gen.listOfN(nv, Gen.choose(-100.0, 100.0))
      ts <- Gen.listOfN(nt, sGen)
    } yield (vs, ts)
    samples(caseGen, 8, 3000L).foreach { case (vs, ts) =>
      val df = Seq((vs, ts)).toDF("vs", "ts")
      val dynCols = df.select(explode(Reshape.zipWithPad(
        array(vs.indices.map(i => element_at($"vs", i + 1)): _*),
        array(ts.indices.map(i => element_at($"ts", i + 1)): _*))).as("z"))
      val staCols = df.select(explode(Reshape.zipWithPadStatic(
        vs.indices.map(i => element_at($"vs", i + 1)),
        ts.indices.map(i => element_at($"ts", i + 1)))).as("z"))
      val dyn = dynCols.select("z.value", "z.type").collect().map(r => (r.get(0), r.get(1))).toSeq
      val sta = staCols.select("z.value", "z.type").collect().map(r => (r.get(0), r.get(1))).toSeq
      assert(dyn == sta, s"vs=$vs ts=$ts")
    }
  }

  test("p-value mantissa/exponent reconstructs the p-value") {
    val pGen = for {
      m <- Gen.choose(1.0, 9.999)
      e <- Gen.choose(-250, -1)
    } yield m * math.pow(10, e)
    samples(pGen, 8, 4000L).foreach { p =>
      val r = Seq(Tuple1(p)).toDF("p")
        .select(
          graft.core.Stats.pValueMantissa($"p").as("m"),
          graft.core.Stats.pValueExponent($"p").as("e"))
        .head()
      val rebuilt = r.getDouble(0) * math.pow(10, r.getInt(1))
      assert(math.abs(rebuilt - p) / p < 5e-3, s"p=$p -> m=${r.getDouble(0)} e=${r.getInt(1)}")
    }
  }

  test("hashSample64k at keep*4096 equals hashSample at keep (prefix nesting)") {
    val df = spark.read.parquet(s"$sf/customer.parquet")
    samples(Gen.choose(1, 15), 4, 5000L).foreach { keep =>
      val coarse = Sampling.hashSample(df, $"c_custkey", keep)
      val fine = Sampling.hashSample64k(df, $"c_custkey", keep * 4096)
      assert(coarse.exceptAll(fine).isEmpty && fine.exceptAll(coarse).isEmpty, s"keep=$keep")
    }
  }

  test("trailingWindowJoin equals the naive non-equi join for random windows") {
    import org.apache.spark.sql.functions._
    val paramGen = for {
      lookback <- Gen.choose(0, 10)
      band <- Gen.choose(1, 8)
    } yield (lookback, band)
    val days = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_shipdate").cast("date").as("d")).distinct().limit(200)
    val ords = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_orderdate").cast("date").as("od")).limit(3000)
    samples(paramGen, 4, 7000L).foreach { case (lookback, band) =>
      val banded = graft.core.RangeJoin
        .trailingWindowJoin(days, "d", ords, "od", lookback, band)
        .groupBy("d").agg(count(lit(1)).as("n"))
      val naive = days.join(ords, col("od").between(date_sub(col("d"), lookback), col("d")))
        .groupBy("d").agg(count(lit(1)).as("n"))
      assert(banded.collect().toSet == naive.collect().toSet,
        s"lookback=$lookback band=$band")
    }
  }

  test("stratifiedSplit rejects malformed cut tables") {
    intercept[IllegalArgumentException](
      Sampling.stratifiedSplit($"x", Seq("a" -> "e6", "b" -> "cc"), "r")) // not ascending
    intercept[IllegalArgumentException](
      Sampling.stratifiedSplit($"x", Seq("a" -> "CC"), "r")) // uppercase hex
    intercept[IllegalArgumentException](
      Sampling.stratifiedSplit($"x", Seq.empty, "r"))
  }

  test("bestRowPerKey equals window top-1 under a total order on random data") {
    val rowGen = for {
      k <- Gen.choose(0, 5)
      v <- Gen.choose(0, 1000)
      id <- Gen.choose(0, 100000)
    } yield (k, v, id)
    samples(Gen.listOfN(60, rowGen), 4, 6000L).foreach { rows =>
      val df = rows.toDF("k", "v", "id").distinct() // (v,id) ties would break totality
      val viaAgg = Dedup.bestRowPerKey(df, Seq("k"), Seq("v", "id"))
      val viaWin = df.withColumn("rn",
          row_number().over(Window.partitionBy("k").orderBy($"v".desc, $"id".desc)))
        .filter($"rn" === 1).drop("rn")
      assert(viaAgg.exceptAll(viaWin).isEmpty && viaWin.exceptAll(viaAgg).isEmpty)
    }
  }

  test("frame lower-median (q_rolling_median shape) agrees with a driver reference") {
    // The exact pick-an-element median over a trailing 5-row frame,
    // re-computed independently with a plain Scala sliding window.
    val rowGen = for {
      k <- Gen.choose(0, 3); v <- Gen.choose(0, 1000)
    } yield (k.toLong, v.toDouble)
    samples(Gen.listOfN(40, rowGen), 5, 7000L).foreach { rows =>
      val df = rows.zipWithIndex.map { case ((k, v), i) => (k, i.toLong, v) }
        .toDF("k", "ord", "v")
      val w = Window.partitionBy($"k").orderBy($"ord").rowsBetween(-4, Window.currentRow)
      val got = df
        .withColumn("win", array_sort(collect_list($"v").over(w)))
        .withColumn("med", get($"win", ((size($"win") + 1) / 2).cast("int") - 1))
        .select($"k", $"ord", $"med").as[(Long, Long, Double)].collect()
        .map(r => (r._1, r._2) -> r._3).toMap
      val want = rows.zipWithIndex.map { case ((k, v), i) => (k, i.toLong, v) }
        .groupBy(_._1).flatMap { case (k, g) =>
          val sortedByOrd = g.sortBy(_._2)
          sortedByOrd.indices.map { i =>
            val frame = sortedByOrd.slice(math.max(0, i - 4), i + 1).map(_._3).sorted
            (k, sortedByOrd(i)._2) -> frame((frame.size + 1) / 2 - 1)
          }
        }
      assert(got == want)
    }
  }

  test("kmeans sims stay in cosine bounds and reruns are bit-identical on random inputs") {
    val vecGen = Gen.listOfN(4, Gen.choose(-1.0, 1.0))
    samples(Gen.listOfN(10, vecGen), 3, 8000L).foreach { vecs =>
      val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("vec_id", "emb")
      val out = graft.similarity.KMeans.lloyd(df, "vec_id", "emb", k = 3, dim = 4, iters = 3)
        .select("id", "cluster", "sim").as[(Long, Int, Double)].collect()
      // sims are cosine values — bounded, and deterministic across reruns
      assert(out.forall(r => r._3 >= -1.0001 && r._3 <= 1.0001))
      val rerun = graft.similarity.KMeans.lloyd(df, "vec_id", "emb", k = 3, dim = 4, iters = 3)
        .select("id", "cluster", "sim").as[(Long, Int, Double)].collect()
      assert(out.toSet == rerun.toSet)
    }
  }

  test("substring-dedup invariants hold on low-alphabet random corpora") {
    import graft.text.SubstringDedup
    // A 3-letter alphabet forces dense natural repeats — periodic runs,
    // overlapping islands, doc-boundary spans — the shapes planted
    // fixtures never cover. Checked per corpus:
    //   1. splice arithmetic: len(clean) = len(text) − chars_removed,
    //      and n_cuts = 0 ⟺ chars_removed = 0 with text unchanged;
    //   2. funnel ≡ exact removal (the subset-equivalence constraint);
    //   3. hot-gram routing invariance on sharedSpans.
    val corpusGen = for {
      n <- Gen.choose(3, 7)
      docs <- Gen.listOfN(n, Gen.choose(30, 160).flatMap(len =>
        Gen.listOfN(len, Gen.oneOf('a', 'b', 'c')).map(_.mkString)))
    } yield docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    samples(corpusGen, 5, 7700L).zipWithIndex.foreach { case (corpus, i) =>
      val docs = corpus.toDF("doc_id", "text")
      val exact = SubstringDedup
        .removeShared(docs, "doc_id", "text", gramLen = 12, minSpan = 14)
        .as[(Long, String, Long, Long)].collect().sortBy(_._1)
      val orig = corpus.toMap
      exact.foreach { case (id, clean, nCuts, removed) =>
        assert(clean.length == orig(id).length - removed, s"case $i doc $id: length arithmetic")
        assert((nCuts == 0) == (removed == 0L), s"case $i doc $id: cut accounting")
        if (nCuts == 0) assert(clean == orig(id), s"case $i doc $id: untouched doc changed")
      }
      val funneled = SubstringDedup
        .removeSharedFunneled(docs, "doc_id", "text", gramLen = 12, minSpan = 14,
          winnowGramLen = 8, window = 5)
        .as[(Long, String, Long, Long)].collect().sortBy(_._1)
      assert(funneled.toSeq == exact.toSeq, s"case $i: funnel diverged from exact removal")
      val viaHot = SubstringDedup
        .sharedSpans(docs, "doc_id", "text", gramLen = 12, minSpan = 14, hotGramOcc = 2)
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      val viaCold = SubstringDedup
        .sharedSpans(docs, "doc_id", "text", gramLen = 12, minSpan = 14, hotGramOcc = 1 << 30)
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      assert(viaHot == viaCold, s"case $i: hot routing changed the answer")
    }
  }

  test("bm25TopK equals a driver reference on random low-vocab corpora (short/empty/dup docs)") {
    val docGen = for {
      n <- Gen.choose(6, 25)
      docs <- Gen.listOfN(n, for {
        len <- Gen.frequency(1 -> Gen.const(0), 1 -> Gen.const(1), 6 -> Gen.choose(2, 12))
        ws <- Gen.listOfN(len, Gen.oneOf("a", "b", "c", "d", "e"))
      } yield ws.mkString(" "))
    } yield docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    def q12(x: Double): BigDecimal =
      BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP)
    samples(docGen, 5, 9000L).zipWithIndex.foreach { case (docs, case_i) =>
      val df = docs.toDF("doc_id", "text")
      val got = graft.similarity.SparseSim
        .bm25TopK(df, "doc_id", "text", col("doc_id") % 3 === 0, shingleLen = 2, k = 3, dfCap = 100)
        .as[(Long, Long, Long, Double, Int)].collect().toSet
      // Reference (bigram shingles, binary query model, corpus-wide stats).
      val shing = docs.map { case (id, t) =>
        id -> t.trim.split("\\s+").filter(_.nonEmpty)
          .sliding(2).filter(_.length == 2).map(_.mkString(" ")).toVector
      }.toMap
      val tf = shing.map { case (id, s2) => id -> s2.groupBy(identity).map { case (k2, v) => k2 -> v.length } }
      val dl = shing.map { case (id, s2) => id -> s2.length }
      val nDocs = docs.length
      val avgdl = dl.values.sum.toDouble / nDocs
      val dfm = tf.values.flatMap(_.keys).groupBy(identity)
        .map { case (k2, v) => k2 -> v.size }.filter(_._2 <= 100)
      val want = docs.map(_._1).filter(_ % 3 == 0).flatMap { q =>
        val cand = docs.map(_._1).filter(_ != q).flatMap { d =>
          val shared = tf(q).keySet.intersect(tf(d).keySet).filter(dfm.contains)
          if (shared.isEmpty) None
          else Some((q, d, shared.size.toLong,
            shared.toSeq.map { t =>
              val idf = math.log(1.0 + (nDocs - dfm(t) + 0.5) / (dfm(t) + 0.5))
              q12(idf * (tf(d)(t) * 2.2) / (tf(d)(t) + 1.2 * (0.25 + 0.75 * dl(d) / avgdl)))
            }.sum.toDouble))
        }
        cand.sortBy(c => (-c._4, c._2)).take(3).zipWithIndex
          .map { case (c, i) => (c._1, c._2, c._3, c._4, i + 1) }
      }.toSet
      assert(got == want, s"case $case_i: docs=$docs")
    }
  }

  test("zValue2 is a bijection on random 16-bit pairs (deinterleave recovers both dims)") {
    val pairGen = for {
      x <- Gen.choose(0L, 65535L); y <- Gen.choose(0L, 65535L)
    } yield (x, y)
    val pairs = samples(pairGen, 40, 7000L).distinct
    def unspread(z: Long): Long = { // inverse magic-mask ladder (even bits)
      var x = z & 0x55555555L
      x = (x | (x >> 1)) & 0x33333333L
      x = (x | (x >> 2)) & 0x0F0F0F0FL
      x = (x | (x >> 4)) & 0x00FF00FFL
      (x | (x >> 8)) & 0x0000FFFFL
    }
    val got = pairs.toDF("x", "y")
      .select($"x", $"y", graft.core.Layout.zValue2($"x", $"y").as("z"))
      .as[(Long, Long, Long)].collect()
    got.foreach { case (x, y, z) =>
      assert(unspread(z) == x && unspread(z >> 1) == y, s"($x,$y) -> $z not invertible")
    }
    // Distinct inputs -> distinct z (bijectivity on the sampled set).
    assert(got.map(_._3).distinct.length == pairs.length)
  }

  test("weightedSample equals the reference A-ES race on random weighted corpora") {
    val rowGen = for {
      n <- Gen.choose(6, 40)
      rows <- Gen.listOfN(n, for {
        id <- Gen.choose(0L, 100000L)
        g <- Gen.oneOf("a", "b", "c")
        w <- Gen.choose(1L, 5000L)
      } yield (g, id, w))
    } yield rows.distinctBy(_._2) // unique keys: the race key derives from id
    def ek(id: Long, w: Long): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      val hex = md.take(4).map(b => f"$b%02x").mkString
      -math.log((java.lang.Long.parseLong(hex, 16) + 0.5) / 4294967296.0) / w
    }
    samples(rowGen, 6, 8000L).zipWithIndex.foreach { case (rows, i) =>
      val df = rows.toDF("g", "id", "w")
      val got = Sampling.weightedSample(df, $"g", $"w", $"id", k = 3)
        .select($"g", $"id", $"rn").as[(String, Long, Int)].collect().toSet
      val want = rows.groupBy(_._1).toSeq.flatMap { case (g, rs) =>
        rs.sortBy(r => (ek(r._2, r._3), r._2)).take(3).zipWithIndex
          .map { case (r, j) => (g, r._2, j + 1) }
      }.toSet
      assert(got == want, s"case $i: rows=$rows")
    }
  }

  test("QualityModel fit+score equals a driver reference on random labeled corpora") {
    import graft.text.QualityModel
    import java.math.{BigDecimal => JBD, RoundingMode}
    def q6(x: Double): JBD = new JBD(x).setScale(6, RoundingMode.HALF_UP)
    def bucket(term: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(term.getBytes("UTF-8"))
      val hex = md.take(4).map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex, 16) % 4096L
    }
    val corpusGen = for {
      n <- Gen.choose(8, 24)
      docs <- Gen.listOfN(n, for {
        len <- Gen.frequency(1 -> Gen.const(0), 6 -> Gen.choose(1, 10))
        ws <- Gen.listOfN(len, Gen.oneOf("a", "b", "c", "d", "e"))
      } yield ws.mkString(" "))
    } yield docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    samples(corpusGen, 6, 4400L).zipWithIndex.foreach { case (corpus, ci) =>
      // Teacher: doc mentions "a". Skip draws whose TRAIN split lacks a class.
      def yOf(t: String) = t.split("\\s+").filter(_.nonEmpty).contains("a")
      val train = corpus.filter(_._1 % 3 != 0)
      val test = corpus.filter(_._1 % 3 == 0)
      val trainY = train.map(d => yOf(d._2))
      if (test.nonEmpty && trainY.contains(true) && trainY.contains(false)) {
        // ---- driver reference (same math, BigDecimal-exact) ----
        def feats(t: String): Set[Long] =
          t.split("\\s+").filter(_.nonEmpty).map(bucket).toSet
        val trF = train.map { case (id, t) => (id, yOf(t), feats(t)) }
        val cnt = collection.mutable.Map.empty[Long, (Long, Long)].withDefaultValue((0L, 0L))
        trF.foreach { case (_, y, fs) =>
          fs.foreach { f =>
            val (p, ng) = cnt(f); cnt(f) = if (y) (p + 1, ng) else (p, ng + 1)
          }
        }
        val tPos = trF.filter(_._2).map(_._3.size.toLong).sum
        val tNeg = trF.filterNot(_._2).map(_._3.size.toLong).sum
        val w = cnt.map { case (f, (p, ng)) =>
          f -> q6(math.log(((p + 0.5) / (ng + 0.5)) * (tNeg.toDouble / tPos)))
        }.toMap
        val nPos = trF.count(_._2); val nNeg = trF.size - nPos
        val w0 = q6(math.log((nPos + 0.5) / (nNeg + 0.5)))
        def scoreOf(fs: Set[Long]): JBD =
          fs.toSeq.flatMap(w.get).foldLeft(w0)(_.add(_))
        val trScores = trF.map { case (_, y, fs) => (y, scoreOf(fs)) }
        val tau = q6((trScores.filter(_._1).map(_._2).min(Ordering.by[JBD, JBD](identity))
          .add(trScores.filterNot(_._1).map(_._2).max(Ordering.by[JBD, JBD](identity)))
          ).doubleValue * 0.5)
        val want = test.map { case (id, t) =>
          val fs = feats(t)
          val matched = fs.count(w.contains)
          val sc = scoreOf(fs)
          id -> ((matched.toLong, sc.doubleValue, sc.compareTo(tau) > 0))
        }.toMap
        // ---- Spark ----
        val df = corpus.toDF("doc_id", "text")
        val model = QualityModel.fit(df.filter($"doc_id" % 3 =!= 0), "doc_id", "text",
          label = array_contains(graft.text.TextAnalysis.tokens($"text"), "a"))
        val got = QualityModel.score(df.filter($"doc_id" % 3 === 0), "doc_id", "text", model)
          .as[(Long, Long, Double, Boolean)].collect()
          .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
        assert(got.keySet == want.keySet, s"case $ci row set")
        want.foreach { case (id, (nf, sc, pred)) =>
          val (gnf, gsc, gpred) = got(id)
          assert(gnf == nf, s"case $ci doc $id n_feats: $gnf vs $nf")
          assert(math.abs(gsc - sc) < 1e-9, s"case $ci doc $id score: $gsc vs $sc")
          assert(gpred == pred, s"case $ci doc $id pred: $gpred vs $pred")
        }
      }
    }
  }

  test("ksTest2 and mannWhitneyU agree with driver references on random two-sample data") {
    import graft.core.Stats
    val rowGen = for {
      n <- Gen.choose(8, 60)
      rows <- Gen.listOfN(n, for {
        g <- Gen.oneOf("a", "b")
        v <- Gen.choose(0, 30) // small support forces heavy ties
        s1 <- Gen.oneOf(true, false)
      } yield (g, v.toDouble, s1))
    } yield rows
    samples(rowGen, 6, 4100L).zipWithIndex.foreach { case (rows, i) =>
      val df = rows.toDF("g", "v", "in1")
      // --- KS reference: ECDF over pooled points, inclusive of ties.
      val wantKs = rows.groupBy(_._1).flatMap { case (g, rs) =>
        val a = rs.filter(_._3).map(_._2)
        val b = rs.filterNot(_._3).map(_._2)
        if (a.isEmpty || b.isEmpty) None
        else {
          val d = (a ++ b).distinct.map { x =>
            math.abs(a.count(_ <= x).toDouble / a.size - b.count(_ <= x).toDouble / b.size)
          }.max
          Some(g -> (a.size.toLong, b.size.toLong, d))
        }
      }
      val gotKs = Stats.ksTest2(df, $"g", $"v", $"in1")
        .select($"g", $"n1", $"n2", $"d").as[(String, Long, Long, Double)]
        .collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      assert(gotKs.keySet == wantKs.keySet, s"case $i groups")
      wantKs.foreach { case (g, (n1, n2, d)) =>
        val (gn1, gn2, gd) = gotKs(g)
        assert(gn1 == n1 && gn2 == n2 && math.abs(gd - d) < 1e-12,
          s"case $i group $g: got ($gn1,$gn2,$gd) want ($n1,$n2,$d)")
      }
      // --- Mann-Whitney reference: average ranks + tie-corrected z.
      val wantMw = rows.groupBy(_._1).flatMap { case (g, rs) =>
        val a = rs.filter(_._3).map(_._2)
        val b = rs.filterNot(_._3).map(_._2)
        if (a.isEmpty || b.isEmpty) None
        else {
          val all = (a ++ b).sorted
          def avgRank(x: Double): Double = {
            val lo = all.count(_ < x); val hi = all.count(_ <= x)
            (lo + 1 + hi) / 2.0
          }
          val r1 = a.map(avgRank).sum
          val (n1, n2) = (a.size.toDouble, b.size.toDouble)
          val bigN = n1 + n2
          val u1 = r1 - n1 * (n1 + 1) / 2
          val tiesum = all.groupBy(identity).values.map { t =>
            val c = t.size.toDouble; c * c * c - c
          }.sum
          val sigma = math.sqrt(n1 * n2 / 12.0 * ((bigN + 1) - tiesum / (bigN * (bigN - 1))))
          Some(g -> (u1, (u1 - n1 * n2 / 2) / sigma))
        }
      }
      val gotMw = Stats.mannWhitneyU(df, $"g", $"v", $"in1")
        .select($"g", $"u1", $"z").as[(String, Double, Double)]
        .collect().map(r => r._1 -> ((r._2, r._3))).toMap
      assert(gotMw.keySet == wantMw.keySet, s"case $i mw groups")
      wantMw.foreach { case (g, (u1, z)) =>
        val (gu, gz) = gotMw(g)
        assert(gu == u1, s"case $i group $g: U $gu != $u1 (half-integers, must be exact)")
        assert((z.isNaN && gz.isNaN) || math.abs(gz - z) < 1e-10,
          s"case $i group $g: z $gz != $z")
      }
    }
  }
}
