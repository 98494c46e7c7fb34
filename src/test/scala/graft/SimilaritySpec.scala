package graft

import org.apache.spark.sql.functions._
import graft.similarity.{Ann, KMeans, NearDup, SemDeDup, SparseSim}

class SimilaritySpec extends SparkTestBase {
  import spark.implicits._

  private def mkDocs = {
    val base = (1 to 60).map(i => s"w$i").mkString(" ")
    val nearDup = ((1 to 59).map(i => s"w$i") :+ "CHANGED").mkString(" ")
    val other = (1 to 60).map(i => s"z$i").mkString(" ")
    Seq((1L, base), (2L, base), (3L, nearDup), (4L, other)).toDF("doc_id", "text")
  }

  test("minhashCandidates surfaces dup and near-dup pairs, not unrelated ones") {
    val pairs = NearDup.minhashCandidates(mkDocs, "doc_id", "text")
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)), s"exact dup pair missing from $pairs")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L), s"unrelated doc paired: $pairs")
  }

  test("jaccardVerify computes exact jaccard and filters") {
    val cands = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("doc_id_a", "doc_id_b")
    val out = NearDup.jaccardVerify(cands, mkDocs, "doc_id", "text", minJaccard = 0.5)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(out((1L, 2L)) == 1.0)
    assert(out.contains((1L, 3L)) && out((1L, 3L)) < 1.0)
    assert(!out.contains((1L, 4L)))
  }

  test("simhashCandidates finds near-identical docs within hamming bound") {
    val pairs = NearDup.simhashCandidates(mkDocs, "doc_id", "text", maxDist = 10)
      .select("doc_id_a", "doc_id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("survivorsByQuality keeps the best-quality member per cluster; singletons survive") {
    val docs = Seq(
      (1L, 10L), (2L, 99L), (3L, 99L), // cluster {1,2,3}: 2 wins (quality tie -> smaller id)
      (9L, 5L),                        // unclustered singleton
    ).toDF("doc_id", "quality")
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L)).toDF("id", "label")
    val out = NearDup.survivorsByQuality(docs, "doc_id", labels, $"quality")
      .select("doc_id", "cluster", "survivor_id", "is_survivor")
      .as[(Long, Long, Long, Boolean)].collect().map(r => r._1 -> r).toMap
    assert(out(2L) == ((2L, 1L, 2L, true)), s"highest quality, then smaller id: $out")
    assert(!out(1L)._4 && !out(3L)._4)
    assert(out(9L) == ((9L, 9L, 9L, true)), "singleton is its own survivor")
  }

  test("minhashContract/simhashContract: verified row set with envelope booleans TRUE") {
    val mh = NearDup.minhashContract(mkDocs, "doc_id", "text")
      .as[(Long, Long, Double, Boolean)].collect()
    assert(mh.map(r => (r._1, r._2)).toSet == Set((1L, 2L), (1L, 3L), (2L, 3L)),
      s"dup trio pairs (and nothing touching the unrelated doc 4) expected: ${mh.toSeq}")
    assert(mh.forall(_._4), "minhash estimate must sit inside the envelope")
    val sh = NearDup.simhashContract(mkDocs, "doc_id", "text")
      .as[(Long, Long, Double, Boolean)].collect()
    assert(sh.map(r => (r._1, r._2)).toSet.contains((1L, 2L)))
    assert(sh.forall(_._4), "simhash hamming must sit inside the envelope")
  }

  test("bruteForceTopK returns k best neighbors with self excluded") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val out = Ann.bruteForceTopK(emb.filter($"vec_id" < 3), emb, "vec_id", "embedding", k = 4)
    val byQ = out.select("qid", "vec_id", "sim", "rn").collect().groupBy(_.getLong(0))
    assert(byQ.keySet == Set(0L, 1L, 2L))
    byQ.values.foreach { rows =>
      assert(rows.length == 4)
      val sims = rows.sortBy(_.getInt(3)).map(_.getDouble(2))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b }, "sims not descending")
      assert(!rows.exists(r => r.getLong(1) == r.getLong(0)), "self in neighbors")
    }
  }

  test("ivfTopK: probing more cells monotonically approaches brute force") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = emb.filter($"vec_id" < 10)
    val exact = Ann.bruteForceTopK(q, emb, "vec_id", "embedding", k = 3)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    def recallAt(nProbe: Int): Double = {
      val got = Ann.ivfTopK(q, emb, "vec_id", "embedding", k = 3, nList = 8, nProbe = nProbe)
        .select("qid", "vec_id").as[(Long, Long)].collect().toSet
      (exact intersect got).size.toDouble / exact.size
    }
    val r1 = recallAt(1)
    val r8 = recallAt(8) // probing ALL cells == exhaustive -> recall 1
    assert(r8 == 1.0, s"full probe must equal brute force, got $r8")
    assert(r1 <= r8 + 1e-9)
    assert(r1 > 0.1, s"single-probe recall suspiciously low: $r1")
  }

  test("pqTopK: recall vs brute force, rerank-to-exhaustive equality, 32x code compression") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = emb.filter($"vec_id" < 8)
    val n = emb.count().toInt
    val books = Ann.pqCodebooks(emb, "vec_id", "embedding", dim = 64,
      m = 8, ksub = 16, iters = 2)
    assert(books.length == 8 && books.forall(b => b.length == 16 && b.forall(_.length == 8)))
    // Codes: m small ids per vector — the 32x compression (64 floats -> 8 ids).
    val codes = Ann.pqEncode(emb, "vec_id", "embedding", books)
    val c0 = codes.head().getSeq[Int](1)
    assert(c0.length == 8 && c0.forall(c => c >= 0 && c < 16))
    val exact = Ann.bruteForceTopK(q, emb, "vec_id", "embedding", k = 3)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    def recallAt(rerank: Int): Double = {
      val got = Ann.pqTopK(q, emb, "vec_id", "embedding", books, k = 3, rerank = rerank)
        .select("qid", "vec_id").as[(Long, Long)].collect().toSet
      (exact intersect got).size.toDouble / exact.size
    }
    // Reranking the ENTIRE corpus is exhaustive exact search — recall 1
    // for ANY codebook quality (the ivfTopK full-probe invariant).
    assert(recallAt(n) == 1.0, "full rerank must equal brute force")
    val r32 = recallAt(32)
    assert(r32 > 0.3, s"ADC shortlist recall suspiciously low: $r32")
    // Deterministic end to end: refit + rescore is bit-identical.
    val books2 = Ann.pqCodebooks(emb, "vec_id", "embedding", dim = 64,
      m = 8, ksub = 16, iters = 2)
    val a = Ann.pqTopK(q, emb, "vec_id", "embedding", books, k = 3, rerank = 32)
      .as[(Long, Long, Double, Int)].collect().toSet
    val b = Ann.pqTopK(q, emb, "vec_id", "embedding", books2, k = 3, rerank = 32)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(a == b, "PQ pipeline must be deterministic across refits")
  }

  test("ivfPqTopK: full probe equals pqTopK exactly; routed probe recall is sane") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = emb.filter($"vec_id" < 8)
    val books = Ann.pqCodebooks(emb, "vec_id", "embedding", dim = 64, m = 8, ksub = 16, iters = 2)
    val pq = Ann.pqTopK(q, emb, "vec_id", "embedding", books, k = 3, rerank = 32)
      .as[(Long, Long, Double, Int)].collect().toSet
    // nProbe = nList: every cell probed — the candidate set is the whole
    // corpus minus self, so the routed scan IS the unrouted one.
    val full = Ann.ivfPqTopK(q, emb, "vec_id", "embedding", books, k = 3,
      nList = 8, nProbe = 8, coarseIters = 3, rerank = 32)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(full == pq, "full-probe IVF-PQ must equal the unrouted PQ scan")
    // Partial probe prunes candidates; recall against the unrouted scan
    // degrades gracefully, never exceeds it.
    val routedPairs = Ann.ivfPqTopK(q, emb, "vec_id", "embedding", books, k = 3,
      nList = 8, nProbe = 3, coarseIters = 3, rerank = 32)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    val pqPairs = pq.map(t => (t._1, t._2))
    val recall = (routedPairs intersect pqPairs).size.toDouble / pqPairs.size
    assert(recall > 0.3, s"routed recall vs unrouted PQ suspiciously low: $recall")
  }

  test("standing IVF-PQ index: full-build retrieve == one-shot; sub-batch append invariant") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = emb.filter($"vec_id" < 8)
    // Full-corpus build: retrieval through the standing stores IS the
    // one-shot routed scan (shared scan core, same fits).
    val full = Ann.buildIvfPqIndex(emb, "vec_id", "embedding", dim = 64,
      nList = 8, coarseIters = 3, m = 8, ksub = 16, iters = 2)
    val viaIndex = Ann.ivfPqRetrieve(q, "vec_id", "embedding", full, emb, k = 3,
      nProbe = 3, rerank = 32).as[(Long, Long, Double, Int)].collect().toSet
    val books = Ann.pqCodebooks(emb, "vec_id", "embedding", dim = 64, m = 8, ksub = 16, iters = 2)
    val oneShot = Ann.ivfPqTopK(q, emb, "vec_id", "embedding", books, k = 3,
      nList = 8, nProbe = 3, coarseIters = 3, rerank = 32)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(viaIndex == oneShot, "standing retrieve must equal the one-shot routed scan")
    // Frozen models make micro-batching invisible: appending the
    // remainder in one batch or two sub-batches yields identical stores
    // and identical retrievals.
    val base = emb.filter($"vec_id" % 4 =!= 0)
    val batchA = emb.filter($"vec_id" % 4 === 0 && $"vec_id" % 8 === 0)
    val batchB = emb.filter($"vec_id" % 4 === 0 && $"vec_id" % 8 =!= 0)
    val idx = Ann.buildIvfPqIndex(base, "vec_id", "embedding", dim = 64,
      nList = 8, coarseIters = 3, m = 8, ksub = 16, iters = 2)
    val one = Ann.appendToIvfPqIndex(idx, emb.filter($"vec_id" % 4 === 0), "vec_id", "embedding")
    val two = Ann.appendToIvfPqIndex(
      Ann.appendToIvfPqIndex(idx, batchA, "vec_id", "embedding"), batchB, "vec_id", "embedding")
    val rOne = Ann.ivfPqRetrieve(q, "vec_id", "embedding", one, emb, k = 3, nProbe = 3, rerank = 32)
      .as[(Long, Long, Double, Int)].collect().toSet
    val rTwo = Ann.ivfPqRetrieve(q, "vec_id", "embedding", two, emb, k = 3, nProbe = 3, rerank = 32)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(rOne == rTwo, "sub-batching must be invisible under frozen models")
  }

  test("standing IVF index: frozen-cell append == one-shot assign; retrieve == ivfTopK; full probe exact") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = emb.filter($"vec_id" < 8)
    // Retrieve against an index built on the FULL corpus == one-shot
    // fitted ivfTopK (shared scan core, same fit).
    val idx = Ann.buildIvfIndex(emb, "vec_id", "embedding", nList = 16, iters = 3)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Double, Int)].collect().toSet
    assert(rows(Ann.ivfRetrieve(q, "vec_id", "embedding", idx, k = 3, nProbe = 4)) ==
      rows(Ann.ivfTopK(q, emb, "vec_id", "embedding", k = 3, nList = 16, nProbe = 4, kmeansIters = 3)),
      "standing-index retrieval must match one-shot fitted IVF")
    // Frozen-model append == one-shot assignment of the union.
    val base = emb.filter($"vec_id" % 4 =!= 0)
    val batch = emb.filter($"vec_id" % 4 === 0)
    val bIdx = Ann.buildIvfIndex(base, "vec_id", "embedding", nList = 16, iters = 3)
    val appended = Ann.appendToIvfIndex(bIdx, batch, "vec_id", "embedding")
    val cellsOf = (c: org.apache.spark.sql.DataFrame) =>
      c.select("vec_id", "cid").as[(Long, Long)].collect().toMap
    val oneShot = Ann.appendToIvfIndex(Ann.IvfIndex(bIdx.centroids,
      bIdx.cells.limit(0)), emb, "vec_id", "embedding")
    assert(cellsOf(appended.cells) == cellsOf(oneShot.cells),
      "split append must equal one-shot assignment in the same frozen cells")
    // Probing ALL cells == brute force, for ANY centroid quality.
    val exact = Ann.bruteForceTopK(q, emb, "vec_id", "embedding", k = 3)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    val full = Ann.ivfRetrieve(q, "vec_id", "embedding", appended, k = 3, nProbe = 16)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    assert(full == exact, "full probe of the standing index must equal brute force")
  }

  test("standing PQ index: frozen-books append == one-shot encode; retrieve == pqTopK on base books") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val base = emb.filter($"vec_id" % 4 =!= 0)
    val batch = emb.filter($"vec_id" % 4 === 0)
    val q = emb.filter($"vec_id" < 8)
    val idx = Ann.buildPqIndex(base, "vec_id", "embedding", dim = 64, m = 8, ksub = 16, iters = 2)
    // Round-trip: the stored codebook DataFrame reconstructs the fitted matrix exactly.
    val books = Ann.pqCodebooks(base, "vec_id", "embedding", dim = 64, m = 8, ksub = 16, iters = 2)
    val stored = Ann.codebookArrays(idx.codebooks)
    assert(stored.length == books.length &&
      stored.flatten.map(_.toSeq).toSeq == books.flatten.map(_.toSeq).toSeq,
      "codebooks must round-trip through the model-as-data store")
    // Append in frozen books == encoding the union in one shot.
    val appended = Ann.appendToPqIndex(idx, batch, "vec_id", "embedding")
    val oneShot = Ann.pqEncode(emb, "vec_id", "embedding", books)
    val aCodes = appended.codes.as[(Long, Seq[Int])].collect().toMap
    val oCodes = oneShot.as[(Long, Seq[Int])].collect().toMap
    assert(aCodes == oCodes, "split append must equal one-shot encode")
    // Retrieval against the standing store == pqTopK with the base-fitted
    // books over the full corpus (scores a pure function of query+index).
    val viaIndex = Ann.pqRetrieve(q, "vec_id", "embedding", appended, emb, k = 3, rerank = 32)
      .as[(Long, Long, Double, Int)].collect().toSet
    val direct = Ann.pqTopK(q, emb, "vec_id", "embedding", books, k = 3, rerank = 32)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(viaIndex == direct, "standing-index retrieval must match direct PQ search")
  }

  test("incremental SemDeDup: frozen-centroid assignment, kept-vs-batch pair rule, append") {
    val tau = new java.math.BigDecimal("0.95")
    val base = Seq(
      (1L, Seq(1.0, 0.0, 0.0, 0.0)),
      (2L, Seq(0.0, 1.0, 0.0, 0.0)),
      (3L, Seq(0.99, 0.14, 0.0, 0.0)), // dup of 1 -> removed at build
    ).toDF("vec_id", "embedding")
    val idx = SemDeDup.buildIndex(base, "vec_id", "embedding", dim = 4, tau = tau, k = 2, iters = 2)
    assert(idx.kept.select("vec_id").as[Long].collect().toSet == Set(1L, 2L),
      "build must retain survivors only")
    val batch = Seq(
      (10L, Seq(0.995, 0.0999, 0.0, 0.0)), // near kept 1 -> attaches to 1
      (12L, Seq(0.0, 0.1, 0.995, 0.0)),    // near nothing -> survives
      (13L, Seq(0.99, 0.1, 0.0, 0.0)),     // near kept 1 AND batch 10 -> min id 1
    ).toDF("vec_id", "embedding")
    val res = SemDeDup.dedupIncrement(batch, "vec_id", "embedding", idx, tau)
      .select("vec_id", "attached_to", "keep")
      .as[(Long, Option[Long], Boolean)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(res.keySet == Set(10L, 12L, 13L), "output covers the batch only (old x old never re-paired)")
    assert(res(10L) == ((Some(1L), false)), s"batch near-dup of a kept vector must attach: $res")
    assert(res(12L) == ((None, true)), s"novel batch vector must survive: $res")
    assert(res(13L) == ((Some(1L), false)), "min id across kept and smaller batch candidates")
    // Fold survivors in: the standing store grows by exactly the keepers.
    val res2 = SemDeDup.dedupIncrement(batch, "vec_id", "embedding", idx, tau)
    val idx2 = SemDeDup.appendSurvivors(idx, batch, "vec_id", "embedding", res2)
    assert(idx2.kept.select("vec_id").as[Long].collect().toSet == Set(1L, 2L, 12L))
    // A later near-copy of the NEW survivor dies against the grown index.
    val batch2 = Seq((20L, Seq(0.0, 0.1001, 0.995, 0.0))).toDF("vec_id", "embedding")
    val r3 = SemDeDup.dedupIncrement(batch2, "vec_id", "embedding", idx2, tau)
      .select("vec_id", "attached_to").as[(Long, Option[Long])].collect().toMap
    assert(r3(20L).contains(12L), s"near-copy of an appended survivor must attach to it: $r3")
  }

  test("rrfFuse: consensus docs outrank single-list docs; rank monotone; exact arithmetic") {
    // Query 1: doc 10 is rank-1 in BOTH lists, doc 20 rank-2 in one only,
    // doc 30 rank-2/3 split. RRF must put the consensus doc first.
    val listA = Seq((1L, 10L, 1), (1L, 30L, 2), (1L, 20L, 3)).toDF("q_id", "doc_b", "rn")
    val listB = Seq((1L, 10L, 1), (1L, 30L, 3)).toDF("q_id", "doc_b", "rn")
    val fused = SparseSim.rrfFuse(Seq(listA, listB), k = 5)
      .as[(Long, Long, Long, Double, Int)].collect().sortBy(_._5)
    assert(fused.map(r => (r._2, r._3)).toSeq == Seq((10L, 2L), (30L, 2L), (20L, 1L)),
      s"consensus-first ordering expected: ${fused.toSeq}")
    // Exact RRF values at c=60 (quantized decimal arithmetic).
    val top = fused.head
    assert(math.abs(top._4 - (1.0 / 61 + 1.0 / 61)) < 1e-9)
    // Fusing a list with itself doubles scores, never changes ranks.
    val self = SparseSim.rrfFuse(Seq(listA, listA), k = 5)
      .as[(Long, Long, Long, Double, Int)].collect().sortBy(_._5)
    assert(self.map(_._2).toSeq == Seq(10L, 30L, 20L))
  }

  test("cosineSim kernel matches the zip_with/aggregate HOF formulation on real embeddings") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet").limit(100)
    val pairs = emb.select($"vec_id".as("ida"), $"embedding".as("va"))
      .crossJoin(emb.select($"vec_id".as("idb"), $"embedding".as("vb")).limit(5))
    val diff = pairs.select(
      abs(graft.functions.GraftFunctions.cosineSim($"va", $"vb") -
        Ann.cosineSimHof($"va", $"vb")).as("d"))
      .agg(max($"d")).head().getDouble(0)
    assert(diff < 1e-9, s"kernel vs HOF cosine max diff $diff")
  }

  test("connectedComponents: chains, cliques, and separate components get min-id labels") {
    // Components: chain 1-2-3-4 (diameter 3), triangle 10-11-12, pair 20-21.
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L), (10L, 12L), (21L, 20L))
      .toDF("a", "b")
    val got = NearDup.connectedComponents(edges, "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
    // maxIter below the diameter leaves the far end unconverged — the
    // iteration count is doing real work.
    val truncated = NearDup.connectedComponents(edges, "a", "b", maxIter = 1)
      .as[(Long, Long)].collect().toMap
    assert(truncated(4L) != 1L, "one iteration cannot reach across a diameter-3 chain")
    // Fixed-iteration (single lazy plan) mode matches the convergent mode
    // whenever maxIter covers the diameter.
    val fixed = NearDup.connectedComponents(edges, "a", "b", maxIter = 3, fixedIterations = true)
      .as[(Long, Long)].collect().toMap
    assert(fixed == got)
  }

  test("connectedComponents: string ids are hashed, not silently nulled; null-endpoint edges drop") {
    // cast("long") on string ids yields null, and null==null joins never
    // match — the old behavior degenerated to an empty propagation.
    val edges = Seq(
      (Option("doc-a"), Option("doc-b")),
      (Option("doc-b"), Option("doc-c")),
      (Option("doc-x"), Option("doc-y")),
      (Option("doc-z"), Option.empty[String]), // null endpoint: dropped
    ).toDF("a", "b")
    val got = NearDup.connectedComponents(edges, "a", "b")
      .as[(Long, Long)].collect().toMap
    // 5 nodes: a,b,c,x,y. The null-endpoint edge drops whole, so doc-z
    // (no surviving edge) never enters the node set.
    assert(got.size == 5)
    // a,b,c share one label; x,y share another; the two labels differ.
    val hash = (s: String) => spark.range(1)
      .select(xxhash64(lit(s))).head().getLong(0)
    val abc = Seq("doc-a", "doc-b", "doc-c").map(s => got(hash(s))).distinct
    val xy = Seq("doc-x", "doc-y").map(s => got(hash(s))).distinct
    assert(abc.size == 1 && xy.size == 1 && abc != xy)
  }

  test("connectedComponentsAdaptive: union-find path = propagation path = plain CC") {
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L), (10L, 12L), (21L, 20L))
      .toDF("a", "b")
    val ref = NearDup.connectedComponents(edges, "a", "b")
      .as[(Long, Long)].collect().toMap
    val fast = NearDup.connectedComponentsAdaptive(edges, "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(fast == ref)
  }

  test("connectedComponents: fractional ids are hashed, not truncated onto the same node") {
    // cast("long") would map 1.2 and 1.7 to node 1 and silently merge the
    // two (unconnected) components; hashing keeps them apart.
    val edges = Seq((1.2, 2.5), (1.7, 3.5)).toDF("a", "b")
    val got = NearDup.connectedComponents(edges, "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(got.size == 4, "four distinct fractional ids must stay four nodes")
    val hash = (d: Double) => spark.range(1)
      .select(xxhash64(lit(d))).head().getLong(0)
    assert(got(hash(1.2)) == got(hash(2.5)))
    assert(got(hash(1.7)) == got(hash(3.5)))
    assert(got(hash(1.2)) != got(hash(1.7)))
  }

  test("minhashCandidates under aggressive bucket capping = per-band+distinct reference") {
    // Regression: the first-collision-band dedup must not suppress a pair
    // whose earliest signature-equal band sat in a capped-away bucket —
    // such a pair was never emitted there, so suppression at its first
    // SURVIVING band would drop it everywhere. maxBucket=3 caps many
    // buckets on the real corpus, exercising exactly that path.
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val (shingleLen, numHashes, bands, maxBucket) = (3, 12, 12, 3)
    val got = NearDup.minhashCandidates(docs, "doc_id", "text",
        shingleLen, numHashes, bands, maxBucket)
      .as[(Long, Long)].collect().toSet
    // Reference = the old formulation: emit per surviving band, distinct.
    val sig = docs
      .filter(size(graft.text.TextAnalysis.tokens($"text")) >= shingleLen)
      .select($"doc_id",
        graft.functions.GraftFunctions
          .minhashShingles(graft.text.TextAnalysis.tokens($"text"), shingleLen, numHashes).as("sig"))
    val want = sig
      .select($"doc_id", explode(NearDup.lshBands($"sig", bands, numHashes / bands)).as("b"))
      .groupBy($"b.band", $"b.bucket")
      .agg(sort_array(collect_list($"doc_id")).as("ids"))
      .filter(size($"ids").between(2, maxBucket))
      .select(posexplode($"ids").as(Seq("pos", "a")), $"ids")
      .select($"a", explode(slice($"ids", $"pos" + 2, size($"ids"))).as("b"))
      .distinct()
      .as[(Long, Long)].collect().toSet
    assert(got == want, s"got ${got.size} pairs, reference ${want.size}; " +
      s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
  }

  test("incrementalCandidates = full candidates restricted to new-involving pairs") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val newB = docs.filter($"doc_id" % 2 === 1)
    val oldB = docs.filter($"doc_id" % 2 === 0)
    val inc = NearDup.incrementalCandidates(newB, oldB, "doc_id", "text",
        shingleLen = 3, numHashes = 12, bands = 12, maxBucket = 10000)
      .as[(Long, Long)].collect().toSet
    val full = NearDup.minhashCandidates(docs, "doc_id", "text",
        shingleLen = 3, numHashes = 12, bands = 12, maxBucket = 10000)
      .as[(Long, Long)].collect().toSet[(Long, Long)]
      .filter { case (a, b) => a % 2 == 1 || b % 2 == 1 }
    assert(inc == full,
      s"incremental ${inc.size} pairs vs filtered-full ${full.size}")
    // and strictly no old×old pair leaks through
    assert(inc.forall { case (a, b) => a % 2 == 1 || b % 2 == 1 })
  }

  test("lshTopK recall against brute force is reasonable on real embeddings") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = emb.filter($"vec_id" < 10)
    val exact = Ann.bruteForceTopK(q, emb, "vec_id", "embedding", k = 3)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    // 6 planes -> 64 buckets over ~500 vectors: recall/cost point suited
    // to near-uniform synthetic embeddings (more planes = finer buckets =
    // lower recall; production tuning depends on the embedding geometry).
    val approx = Ann.lshTopK(q, emb, "vec_id", "embedding", dim = 64, k = 3, nPlanes = 6)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.3, s"LSH recall too low: $recall")
  }

  // Two tight blobs around orthogonal directions with deterministic
  // per-vector jitter — k-means must recover the split exactly.
  private def blobs = {
    def vec(axis: Int, i: Int): Seq[Double] =
      Seq.tabulate(4)(d => (if (d == axis) 10.0 else 0.0) + 0.1 * ((i + d) % 3))
    val rows = (0 until 6).map(i => (i.toLong, vec(0, i))) ++
      (6 until 12).map(i => (i.toLong, vec(1, i)))
    rows.toDF("vec_id", "embedding")
  }

  test("kmeans lloyd recovers separated blobs and is deterministic") {
    def fit() = KMeans.lloyd(blobs, "vec_id", "embedding", k = 2, dim = 4, iters = 3)
      .select("id", "cluster").as[(Long, Int)].collect().toMap
    val m = fit()
    val c0 = (0L until 6L).map(m).toSet
    val c1 = (6L until 12L).map(m).toSet
    assert(c0.size == 1 && c1.size == 1 && c0 != c1,
      s"blobs not separated: $m")
    assert(fit() == m, "rerun diverged — fit not deterministic")
  }

  test("fitSubspaces == independent per-subspace KMeans.centroids, bit for bit") {
    // 8-dim vectors, m=2 subspaces of 4 dims: the fused one-job-per-
    // iteration fit must reproduce the per-subspace Lloyd loop EXACTLY
    // (same init, same assignment tie-breaks, same decimal sums).
    val rows = (0 until 14).map { i =>
      (i.toLong, Seq.tabulate(8)(d => ((i * 7 + d * 3) % 11).toDouble - 5.0 + 0.25 * d))
    }
    val df = rows.toDF("id", "v")
    val fused = KMeans.fitSubspaces(df, m = 2, dsub = 4, k = 3, iters = 3)
    val solo = (0 until 2).map { s =>
      KMeans.centroids(
        df.select(col("id"), slice(col("v"), s * 4 + 1, 4).as("v")),
        "id", "v", k = 3, dim = 4, iters = 3)
    }.toArray
    assert(fused.length == solo.length)
    for (s <- fused.indices; c <- fused(s).indices)
      assert(fused(s)(c).toSeq == solo(s)(c).toSeq,
        s"subspace $s centroid $c drifted:\n fused=${fused(s)(c).toSeq}\n solo=${solo(s)(c).toSeq}")
  }

  test("kmeans assignment is a fixpoint once converged") {
    val a = KMeans.lloyd(blobs, "vec_id", "embedding", k = 2, dim = 4, iters = 2)
      .select("id", "cluster", "sim").as[(Long, Int, Double)].collect().toSet
    val b = KMeans.lloyd(blobs, "vec_id", "embedding", k = 2, dim = 4, iters = 5)
      .select("id", "cluster", "sim").as[(Long, Int, Double)].collect().toSet
    assert(a == b, "extra iterations moved a converged assignment")
  }

  test("ivfTopK with fitted centroids: full probe stays exactly brute force") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = emb.filter($"vec_id" < 5)
    val exact = Ann.bruteForceTopK(q, emb, "vec_id", "embedding", k = 3)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    // Exactness is centroid-independent when every cell is probed —
    // fitted centroids only move the recall/cost curve at partial probe.
    val fittedFull = Ann.ivfTopK(q, emb, "vec_id", "embedding", k = 3,
      nList = 8, nProbe = 8, kmeansIters = 2)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    assert(fittedFull == exact, "full-probe fitted IVF diverged from brute force")
  }

  test("ivfTopK fitted-centroid recall@k vs brute force at the registry config") {
    // The exact q_ann_ivf configuration (nList=16, nProbe=4, kmeansIters=3)
    // — pins the recall/cost point the registry query ships at, so a
    // centroid-fitting regression shows up here, not as silent recall loss.
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = emb.filter($"vec_id" < 8)
    val exact = Ann.bruteForceTopK(q, emb, "vec_id", "embedding", k = 5)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    val fitted = Ann.ivfTopK(q, emb, "vec_id", "embedding", k = 5,
      nList = 16, nProbe = 4, kmeansIters = 3)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect fitted).size.toDouble / exact.size
    assert(recall >= 0.5, s"fitted IVF recall@5 too low at nProbe=4/16: $recall")
    // Determinism: the fit collects no RNG — same data, same recall set.
    val rerun = Ann.ivfTopK(q, emb, "vec_id", "embedding", k = 5,
      nList = 16, nProbe = 4, kmeansIters = 3)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    assert(rerun == fitted, "fitted IVF rerun diverged")
  }

  test("q_semdedup: survivors are pairwise sub-threshold within every cluster") {
    // The greedy attach rule implies a strong invariant: if two kept
    // vectors shared a cluster at sim >= tau, the larger id would have
    // attached to the smaller — so the kept set must be an independent
    // set at tau inside each cell. Also pin flag consistency.
    val out = SparkEntry.queries("q_semdedup")(spark, sf).cache()
    val bad = out.filter(($"keep" && $"n_near" > 0) || (!$"keep" && $"attached_to".isNull))
    assert(bad.isEmpty, bad.collect().mkString(","))
    assert(out.filter(!$"keep").count() > 0, "fixture must produce some duplicates")
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select($"vec_id", transform($"embedding", x => x.cast("double")).as("v"))
    val kept = out.filter($"keep").select($"vec_id", $"cluster").join(emb, "vec_id")
    val pairs = kept.as("a").join(kept.as("b"),
        $"a.cluster" === $"b.cluster" && $"a.vec_id" < $"b.vec_id")
      .filter(graft.functions.GraftFunctions.cosineSim($"a.v", $"b.v") >= 0.35)
    assert(pairs.isEmpty, s"kept set not independent at tau: ${pairs.count()} pairs")
    out.unpersist()
  }

  test("SparseSim incremental: batch vs index ≡ the full machinery in the same frozen model") {
    // Corpus with internal structure + a batch holding a near-dup of a
    // corpus doc, a batch-internal near-dup pair, and a doc of entirely
    // unseen terms. The pin: incrementalNeighbors must return, for the
    // new docs, EXACTLY the rows the batch machinery (successor-pair
    // topKNeighbors) produces over the same frozen-model postings —
    // bit-identical cosines (both paths decimal-quantize per term
    // product), identical ranks.
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"),
      (3L, "completely different corpus content sits right here friends"),
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta kappa"), // near-dup of 1/2
      (11L, "completely different corpus content sits right here indeed"), // near-dup of 3
      (12L, "completely different corpus content sits right here too"), // near-dup of 3 AND 11
      (13L, "wholly novel vocabulary never indexed anywhere at all"), // unseen terms only
    ).toDF("doc_id", "text")
    val index = SparseSim.buildPostingsIndex(corpus, "doc_id", "text", shingleLen = 3, dfCap = 100)
      .localCheckpoint()
    val inc = SparseSim.incrementalNeighbors(batch, "doc_id", "text", index, shingleLen = 3, k = 5)
      .as[(Long, Long, Long, Double, Int)].collect().toSet
    val newIds = Set(10L, 11L, 12L, 13L)
    assert(inc.map(_._1).subsetOf(newIds), "incremental must never emit corpus-side rows")
    assert(!inc.exists(r => r._1 == 13L || r._2 == 13L), "unseen-term doc must pair with nobody")
    assert(inc.exists(r => r._1 == 10L && r._2 <= 2L), "cross batch×corpus pair missing")
    assert(inc.exists(r => r._1 == 11L && r._2 == 12L), "batch-internal pair missing")
    // Reference: the same frozen model driven through the batch path.
    val frozen = index.select($"doc_id", $"term", $"u")
      .unionByName(SparseSim.postingsInModel(batch, "doc_id", "text", index, shingleLen = 3))
    val ref = SparseSim.topKNeighbors(frozen, k = 5)
      .filter($"doc_a".isin(newIds.toSeq: _*))
      .as[(Long, Long, Long, Double, Int)].collect().toSet
    assert(inc == ref, s"incremental diverged from batch-in-model:\n inc=$inc\n ref=$ref")
  }

  test("SemDeDup.kForCorpus: k grows with n, floored at minK") {
    assert(SemDeDup.kForCorpus(500) == 8, "bench-scale corpus must sit on the minK floor")
    assert(SemDeDup.kForCorpus(8 * 4096) == 8, "envelope edge still on the floor")
    assert(SemDeDup.kForCorpus(8 * 4096 + 1) == 9, "one past the edge must grow k")
    assert(SemDeDup.kForCorpus(40000) == 10, "the 20x ScaleBench row's configuration")
    assert(SemDeDup.kForCorpus(1L << 40, targetCell = 1L << 20) == (1 << 20),
      "100 TB-ish corpus: k = n/targetCell exactly")
  }

  test("SemDeDup cap is invariant when no cell exceeds it (registry config)") {
    // The capped plan joins on (cluster, subcell); with every nsub = 1 the
    // subcell is identically 0 and results must be BIT-identical to an
    // uncapped cluster-only pair join — the invariance that keeps
    // q_semdedup hash-exact against its uncapped k=8 DuckDB oracle.
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val tau = new java.math.BigDecimal("0.35")
    val capped = SemDeDup.dedup(emb, "vec_id", "embedding", dim = 64, tau = tau,
      k = 8, iters = 4, maxCell = 4096)
      .as[(Long, Int, Option[Long], Long, Boolean)].collect().toSet
    // Uncapped reference: the r6 registry formulation, inline.
    val assigned = KMeans.lloyd(emb, "vec_id", "embedding", k = 8, dim = 64, iters = 4)
      .select($"id".as("vec_id"), $"v", $"cluster").localCheckpoint(false)
    val b = assigned.select($"cluster", $"vec_id".as("other_id"), $"v".as("ov"))
    val dup = assigned.join(b, Seq("cluster"))
      .filter($"other_id" < $"vec_id" &&
        graft.functions.GraftFunctions.cosineSim($"v", $"ov")
          .cast("decimal(28,12)") >= lit(tau))
      .groupBy("cluster", "vec_id")
      .agg(count(lit(1)).as("n_near"), min($"other_id").as("attached_to"))
    val uncapped = assigned.join(dup, Seq("cluster", "vec_id"), "left")
      .select($"vec_id", $"cluster", $"attached_to",
        coalesce($"n_near", lit(0L)).as("n_near"), $"attached_to".isNull.as("keep"))
      .as[(Long, Int, Option[Long], Long, Boolean)].collect().toSet
    assert(capped == uncapped, "non-binding cap changed the answer")
    // And the registry config genuinely does not bind at this scale.
    val stats = SemDeDup.cellStats(emb, "vec_id", "embedding", dim = 64, k = 8,
      iters = 4, maxCell = 4096)
    assert(stats.filter($"capped").isEmpty, "a cell exceeded the cap at bench scale")
  }

  test("SemDeDup cap bounds a planted oversized cell") {
    // 40 near-identical vectors collapse onto one centroid — the exact
    // degenerate shape (boilerplate corpus) the envelope exists for.
    // With maxCell=8 the cell hash-splits into 5 subcells; comparisons
    // run within subcells only, so no vector can see all 39 earlier
    // neighbors it would see uncapped.
    def vec(axis: Int, i: Int): Seq[Double] =
      Seq.tabulate(4)(d => (if (d == axis) 10.0 else 0.0) + 0.01 * ((i + d) % 7))
    val rows = (0 until 40).map(i => (i.toLong, vec(0, i))) ++
      (40 until 44).map(i => (i.toLong, vec(1, i)))
    val docs = rows.toDF("vec_id", "embedding")
    val tau = new java.math.BigDecimal("0.35")
    def run(maxCell: Int) =
      SemDeDup.dedup(docs, "vec_id", "embedding", dim = 4, tau = tau,
        k = 2, iters = 2, maxCell = maxCell)
        .as[(Long, Int, Option[Long], Long, Boolean)].collect()
    val capped = run(8)
    val uncapped = run(1000)
    assert(uncapped.map(_._4).max == 39L, "uncapped big cell must see every earlier neighbor")
    assert(capped.map(_._4).max < 39L, "cap did not bound the within-cell fan-in")
    // Capping only LOSES comparisons: the kept set can only grow.
    val keptCapped = capped.filter(_._5).map(_._1).toSet
    val keptUncapped = uncapped.filter(_._5).map(_._1).toSet
    assert(keptUncapped.subsetOf(keptCapped), "cap must never attach a pair the uncapped run kept apart")
    assert(capped.toSet == run(8).toSet, "capped run not deterministic")
    // cellStats reports the envelope binding: the 40-cell splits 5 ways.
    val stats = SemDeDup.cellStats(docs, "vec_id", "embedding", dim = 4, k = 2,
      iters = 2, maxCell = 8).as[(Int, Long, Long, Boolean)].collect()
    assert(stats.exists(s => s._2 == 40L && s._3 == 5L && s._4), s"stats: ${stats.mkString(",")}")
  }

  test("kmeans keeps every vector and clusters within bounds on real embeddings") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val out = KMeans.lloyd(emb, "vec_id", "embedding", k = 8, dim = 64, iters = 2)
    assert(out.count() == emb.count())
    val cs = out.select("cluster").distinct().as[Int].collect()
    assert(cs.forall(c => c >= 0 && c < 8))
    assert(out.agg(min($"sim")).head().getDouble(0) >= -1.0000001)
  }

  test("sparse lexical kNN: near-dups rank first, df-cap drops ubiquitous shingles, disjoint docs never pair") {
    // Every doc shares the "common common common" shingle — with dfCap=3
    // (< 4 docs) it leaves the vector space, so d4 (only that shingle)
    // has NO postings and pairs with nobody.
    val docs = Seq(
      (1L, "common common common alpha beta gamma delta epsilon"),
      (2L, "common common common alpha beta gamma delta zeta"), // near-dup of 1
      (3L, "common common common totally different words here now"),
      (4L, "common common common"),
    ).toDF("doc_id", "text")
    val p = SparseSim.postings(docs, "doc_id", "text", shingleLen = 3, dfCap = 3)
    assert(p.filter($"doc_id" === 4L).count() == 0, "capped-out doc must have no postings")
    // L2 norms are 1 within fp error
    val norms = p.groupBy("doc_id").agg(sum($"u" * $"u").as("n2")).as[(Long, Double)].collect()
    norms.foreach { case (_, n2) => assert(math.abs(n2 - 1.0) < 1e-9) }
    val knn = SparseSim.topKNeighbors(p, k = 2)
      .select("doc_a", "doc_b", "rn").as[(Long, Long, Int)].collect()
    val first = knn.filter(_._3 == 1).map(r => r._1 -> r._2).toMap
    assert(first(1L) == 2L && first(2L) == 1L, s"near-dups must be rank-1 of each other: $first")
    assert(!knn.exists(r => r._1 == 3L || r._2 == 3L), "doc 3 shares no in-space shingle with 1/2")
    assert(!knn.exists(r => r._1 == 4L || r._2 == 4L))
  }

  test("bm25TopK matches a driver-side reference BM25 on testdata") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val got = SparseSim.bm25TopK(docs, "doc_id", "text",
        isQuery = col("doc_id") % 7 === 0, shingleLen = 2, k = 3)
      .select($"q_id", $"doc_b", $"n_shared", $"score", $"rn")
      .as[(Long, Long, Long, Double, Int)].collect().toSet
    // Independent reference: scala collections + BigDecimal HALF_UP at
    // scale 12 (the engine's decimal(28,12) per-term quantization).
    val raw = docs.select($"doc_id", $"text").as[(Long, String)].collect()
    val shing = raw.map { case (id, t) =>
      id -> t.trim.split("\\s+").filter(_.nonEmpty)
        .sliding(2).filter(_.length == 2).map(_.mkString(" ")).toVector
    }.toMap
    val tf = shing.map { case (id, s) =>
      id -> s.groupBy(identity).map { case (k2, v) => k2 -> v.length }
    }
    val dl = shing.map { case (id, s) => id -> s.length }
    val nDocs = raw.length
    val avgdl = dl.values.sum.toDouble / nDocs
    val dfm = tf.values.flatMap(_.keys).groupBy(identity)
      .map { case (k2, v) => k2 -> v.size }.filter(_._2 <= 100)
    val (k1, b) = (1.2, 0.75)
    def q12(x: Double): BigDecimal =
      BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP)
    val want = raw.map(_._1).filter(_ % 7 == 0).flatMap { q =>
      val cand = raw.map(_._1).filter(_ != q).flatMap { d =>
        val shared = tf(q).keySet.intersect(tf(d).keySet).filter(dfm.contains)
        if (shared.isEmpty) None
        else {
          val score = shared.toSeq.map { t =>
            val idf = math.log(1.0 + (nDocs - dfm(t) + 0.5) / (dfm(t) + 0.5))
            q12(idf * (tf(d)(t) * (k1 + 1.0)) /
              (tf(d)(t) + k1 * ((1.0 - b) + b * dl(d) / avgdl)))
          }.sum.toDouble
          Some((q, d, shared.size.toLong, score))
        }
      }
      cand.sortBy(c => (-c._4, c._2)).take(3).zipWithIndex
        .map { case (c, i) => (c._1, c._2, c._3, c._4, i + 1) }
    }.toSet
    assert(got == want, "engine BM25 must equal the reference bit-for-bit")
    assert(got.nonEmpty && got.groupBy(_._1).size > 3, "several query docs expected")
  }

  test("bm25Retrieve: frozen-model scores, split-batch equality, overlap self-exclusion") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val batch = docs.filter(col("doc_id") % 10 === 0)
    val index = SparseSim.buildBm25Index(corpus, "doc_id", "text",
      shingleLen = 2, dfCap = 100)
    val whole = SparseSim.bm25Retrieve(batch, "doc_id", "text", index, k = 3)
      .as[(Long, Long, Long, Double, Int)].collect().toSet
    assert(whole.nonEmpty)
    // Frozen model: df/avgdl/n_docs come from the INDEX slice only —
    // identical to bm25TopK run over the corpus alone would use. Check
    // one query's scores against a direct recomputation where the batch
    // doc is appended to the corpus: the scores must DIFFER (the frozen
    // model is not silently refit) unless the batch adds no mass — so
    // instead pin the positive property: each query's rows depend only
    // on (query, index): scoring the batch in two sub-batches is
    // bit-identical to scoring it whole.
    val half1 = SparseSim.bm25Retrieve(batch.filter($"doc_id" % 20 === 0),
      "doc_id", "text", index, k = 3)
    val half2 = SparseSim.bm25Retrieve(batch.filter($"doc_id" % 20 =!= 0),
      "doc_id", "text", index, k = 3)
    val split = (half1.as[(Long, Long, Long, Double, Int)].collect() ++
      half2.as[(Long, Long, Long, Double, Int)].collect()).toSet
    assert(split == whole, "sub-batch scoring must be bit-identical")
    // Overlap-safe: a query doc that IS in the index never matches itself.
    val selfQ = SparseSim.bm25Retrieve(corpus.limit(5), "doc_id", "text", index, k = 5)
      .as[(Long, Long, Long, Double, Int)].collect()
    assert(selfQ.forall(r => r._1 != r._2), "self-matches must be excluded")
    // And the registry pair agrees: q_bm25_incremental == this shape.
    val reg = SparkEntry.queries("q_bm25_incremental")(spark, sf)
      .as[(Long, Long, Long, Double, Int)].collect().toSet
    val k5 = SparseSim.bm25Retrieve(batch, "doc_id", "text", index, k = 5)
      .as[(Long, Long, Long, Double, Int)].collect().toSet
    assert(reg == k5)
  }

  test("MlpScore: column forward pass is bit-equal to a driver-side reference; topK deterministic") {
    import graft.similarity.MlpScore
    val emb = spark.read.parquet(s"$sf/embeddings.parquet").limit(32)
    // Driver reference replaying the same fold order (0.0-seeded
    // left-to-right), same weights.
    def ref(v: Seq[Float]): Double = {
      var acc = MlpScore.b2
      for (j <- 0 until 8) {
        var dot = 0.0
        val w = MlpScore.w1Row(j, 64)
        for (i <- 0 until 64) dot += v(i).toDouble * w(i)
        acc += MlpScore.w2(j) * math.max(0.0, MlpScore.b1(j) + dot)
      }
      acc
    }
    val got = emb.select($"vec_id", MlpScore.score($"embedding", 64, 8).as("s"))
      .as[(Long, Double)].collect().toMap
    val vecs = emb.select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect()
    vecs.foreach { case (id, v) =>
      assert(got(id) == ref(v), s"vec $id: column ${got(id)} != driver ${ref(v)} (bit-exact)")
    }
    val t1 = MlpScore.topK(emb, "vec_id", "embedding", 64, 8, 5).collect().toSeq
    val t2 = MlpScore.topK(emb, "vec_id", "embedding", 64, 8, 5).collect().toSeq
    assert(t1 == t2 && t1.size == 5)
  }

  test("topKNeighborsFor == topKNeighbors filtered to the query anchors (bit-exact)") {
    val docs = Seq(
      (0L, "alpha beta gamma delta epsilon"),
      (1L, "alpha beta gamma delta zeta"),
      (2L, "alpha beta gamma eta theta"),
      (3L, "iota kappa lambda mu nu"),
      (4L, "iota kappa lambda mu xi"),
      (5L, "alpha kappa gamma mu epsilon"),
      (6L, "beta delta zeta theta kappa"))
      .toDF("doc_id", "text")
    val p = graft.similarity.SparseSim
      .postings(docs, "doc_id", "text", shingleLen = 2, dfCap = 100)
      .localCheckpoint(false)
    val q = $"doc_id" % 3 === 0
    val sym = graft.similarity.SparseSim.topKNeighbors(p, k = 3)
      .filter($"doc_a" % 3 === 0)
      .as[(Long, Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._5))
    val asym = graft.similarity.SparseSim.topKNeighborsFor(p, q, k = 3)
      .as[(Long, Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._5))
    assert(asym.nonEmpty && asym.toSeq == sym.toSeq,
      s"asymmetric scoring must be bit-identical:\n sym=${sym.toSeq}\n asym=${asym.toSeq}")
  }

  test("setSimJoin golden: exact counts; below-threshold and empty sets drop; dup tokens dedup") {
    val df = Seq(
      (1L, Seq("a", "b", "c", "d")),
      (2L, Seq("a", "b", "c", "e")),       // J(1,2) = 3/5 = 0.6
      (3L, Seq("x", "y")),                 // unrelated
      (4L, Seq("a", "a", "b", "c", "d")),  // dups collapse -> identical to 1
      (5L, Seq.empty[String]))             // empty never matches
      .toDF("id", "ts")
    val got = graft.similarity.SetSimJoin.selfJoin(df, $"id", $"ts", t = 0.5)
      .as[(Long, Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    assert(got.keySet == Set((1L, 2L), (1L, 4L), (2L, 4L)), s"pair set: ${got.keySet}")
    assert(got((1L, 2L)) == ((3L, 5L, 0.6)))
    assert(got((1L, 4L)) == ((4L, 4L, 1.0)), "dup tokens must collapse before matching")
  }

  test("setSimJoin incremental == full join restricted to batch-touching pairs; unseen tokens safe") {
    val rnd = new scala.util.Random(7)
    val vocab = (0 until 25).map(i => s"t$i")
    // Batch sets also draw from 5 tokens the BASE has never seen — the
    // frozen-order df=0 path must stay lossless.
    val fresh = (0 until 5).map(i => s"new$i")
    val sets = (1L to 30L).map { id =>
      val pool = if (id % 4 == 0) vocab ++ fresh else vocab
      id -> rnd.shuffle(pool).take(4 + rnd.nextInt(6)).toSet
    }
    val df = sets.map { case (i, s) => (i, s.toSeq) }.toDF("id", "ts")
    val t = 0.4
    val base = df.filter($"id" % 4 =!= 0)
    val batch = df.filter($"id" % 4 === 0)
    val idx = graft.similarity.SetSimJoin.buildIndex(base, $"id", $"ts")
    val got = graft.similarity.SetSimJoin.selfJoinIncrement(batch, $"id", $"ts", idx, t)
      .as[(Long, Long, String, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    val want = (for {
      (ia, sa) <- sets if ia % 4 == 0
      (ib, sb) <- sets if ib != ia && (ib % 4 != 0 || ib > ia)
      inter = (sa & sb).size; un = (sa | sb).size
      if inter.toDouble >= t * un.toDouble
    } yield (ia, ib) -> ((if (ib % 4 == 0) "batch" else "index", inter.toLong, un.toLong))).toMap
    assert(got == want,
      s"missing=${want.keySet -- got.keySet} extra=${got.keySet -- want.keySet} diff=${
        got.filter { case (k, v) => want.get(k).exists(_ != v) }}")
  }

  test("setSimJoin is lossless vs brute force on random sets (prefix-filter property)") {
    val rnd = new scala.util.Random(42)
    val vocab = (0 until 30).map(i => s"t$i")
    val sets = (1L to 40L).map { id =>
      val m = 3 + rnd.nextInt(8)
      id -> rnd.shuffle(vocab).take(m).toSet
    }
    val df = sets.map { case (id, s) => (id, s.toSeq) }.toDF("id", "ts")
    val t = 0.4
    val got = graft.similarity.SetSimJoin.selfJoin(df, $"id", $"ts", t)
      .as[(Long, Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2)).toSet
    val want = (for {
      (ia, sa) <- sets; (ib, sb) <- sets if ia < ib
      inter = (sa & sb).size; un = (sa | sb).size
      if un > 0 && inter.toDouble >= t * un.toDouble
    } yield (ia, ib)).toSet
    assert(got == want, s"missing=${want -- got} extra=${got -- want}")
  }

  test("containmentJoin golden: a quote inside a long doc; symmetric Jaccard misses it") {
    val docs = Seq(
      (1L, Seq("a", "b", "c")),                                     // the quote
      (2L, Seq("a", "b", "c", "d", "e", "f", "g", "h", "i", "j")),  // contains it
      (3L, Seq("x", "y", "z")),                                     // unrelated
    ).toDF("id", "ts")
    val got = graft.similarity.SetSimJoin.containmentJoin(docs, $"id", $"ts", 0.9)
      .as[(Long, Long, Long, Long, Double)].collect().toSet
    // 1 ⊂ 2 fully (containment 1.0); the reverse direction is 3/10
    assert(got == Set((1L, 2L, 3L, 3L, 1.0)), s"got $got")
    // the symmetric join at the same bar finds nothing: J(1,2) = 0.3
    assert(graft.similarity.SetSimJoin.selfJoin(docs, $"id", $"ts", 0.9).count() == 0)
  }

  test("containmentJoin is lossless vs brute force on random sets (asymmetric prefix)") {
    val rnd = new scala.util.Random(31)
    val vocab = (0 until 30).map(i => s"t$i")
    val sets = (1L to 40L).map { id =>
      val m = 2 + rnd.nextInt(10)
      id -> rnd.shuffle(vocab).take(m).toSet
    }
    val df = sets.map { case (id, s) => (id, s.toSeq) }.toDF("id", "ts")
    val t = 0.6
    val got = graft.similarity.SetSimJoin.containmentJoin(df, $"id", $"ts", t)
      .as[(Long, Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2)).toSet
    val want = (for {
      (ia, sa) <- sets; (ib, sb) <- sets if ia != ib
      inter = (sa & sb).size
      if inter.toDouble >= t * sa.size.toDouble
    } yield (ia, ib)).toSet
    assert(got == want, s"missing=${want -- got} extra=${got -- want}")
  }

  test("containmentIncrement == full containmentJoin restricted to batch-touching pairs") {
    val rnd = new scala.util.Random(77)
    val vocab = (0 until 25).map(i => s"t$i")
    val sets = (1L to 40L).map { id =>
      val m = 2 + rnd.nextInt(9)
      id -> rnd.shuffle(vocab).take(m).toSeq
    }
    val df = sets.toDF("id", "ts")
    val isBatch = (id: Long) => id % 3 == 0
    val t = 0.6
    val idx2 = graft.similarity.SetSimJoin.buildIndex(df.filter($"id" % 3 =!= 0), $"id", $"ts")
    val inc = graft.similarity.SetSimJoin.containmentIncrement(
        df.filter($"id" % 3 === 0), $"id", $"ts", idx2, t)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val fullPairs: Set[(Long, Long)] =
      graft.similarity.SetSimJoin.containmentJoin(df, $"id", $"ts", t)
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val full = fullPairs.filter(p => isBatch(p._1) || isBatch(p._2))
    assert(inc == full, s"missing=${full -- inc} extra=${inc -- full}")
  }

  test("Mmr.select: diversity term breaks pure-relevance ranking; invariants hold") {
    // id 0 is the query (smallest id). A-cluster (1,2,3) is nearest the
    // query but internally near-identical; B-cluster (4,5) is slightly
    // less relevant but far from A. Pure top-3 by relevance would be
    // {1,2,3}; MMR must defect to a B pick by round 2:
    //   A second pick: 0.7·0.92 − 0.3·≈1    ≈ 0.344
    //   B first  pick: 0.7·0.90 − 0.3·≈0.81 ≈ 0.387  ← wins
    val a = (i: Int) => Array(0.92f, 0.392f + i * 1e-4f, 0f)
    val emb = Seq(
      (0L, Array(1f, 0f, 0f)), (1L, a(0)), (2L, a(1)), (3L, a(2)),
      (4L, Array(0.9f, 0f, 0.436f)), (5L, Array(0.9f, 0f, 0.435f)))
      .toDF("vec_id", "embedding")
    val sel = graft.similarity.Mmr.select(emb, "vec_id", "embedding",
      k = 3, lambda = 0.7, mu = 0.3, poolSize = 5).collect()
    val ids = sel.map(_.getLong(1))
    assert(ids.length == 3 && ids.distinct.length == 3)
    assert(sel.map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    assert(ids.head >= 1L && ids.head <= 3L, s"first pick must be an A (most relevant), got ${ids.head}")
    assert(ids.exists(i => i == 4L || i == 5L),
      s"diversity term should pull in a B-cluster pick, got ${ids.toSeq}")
    assert(sel.head.getDouble(3) == 0.0, "first pick has no selected set: ms = 0")
    sel.foreach { r =>
      assert(math.abs(r.getDouble(4) - (0.7 * r.getDouble(2) - 0.3 * r.getDouble(3))) < 1e-12)
    }
    // rel of the first pick is the pool max
    assert(sel.map(_.getDouble(2)).forall(_ <= sel.head.getDouble(2) + 1e-12))
  }

  test("RandomProjection: reproducible balanced signs; JL preserves distances in expectation") {
    val s1 = graft.similarity.RandomProjection.signs(64, 8)
    val s2 = graft.similarity.RandomProjection.signs(64, 8)
    assert(s1.flatten.toSeq == s2.flatten.toSeq, "sign matrix must be a pure function of (i,j)")
    assert(s1.flatten.forall(v => v == 1 || v == -1))
    val pos = s1.flatten.count(_ == 1)
    assert(pos > 512 * 0.35 && pos < 512 * 0.65, s"±1 balance off: $pos/512 positive")

    val proj = graft.similarity.RandomProjection.project(
      spark.read.parquet(s"$sf/embeddings.parquet"), "vec_id", "embedding", 64, 8)
    assert(proj.columns.toSeq == ("vec_id" +: (1 to 8).map(j => s"p$j")))

    // E[|Pu-Pv|²/|u-v|²] = 1 for the ±1/√d matrix; the panel mean over
    // 496 pairs must land near it even at dOut = 8.
    val ratios = SparkEntry.queries("q_jl_distortion")(spark, sf)
      .select("ratio").collect().map(_.getDouble(0))
    assert(ratios.length > 400, s"expected the 32-probe pair panel, got ${ratios.length}")
    val meanSq = ratios.map(r => r * r).sum / ratios.length
    assert(meanSq > 0.6 && meanSq < 1.4, s"E[d2p/d2o] should be ~1, got $meanSq")
  }

  test("KMeans driver tier == distributed fits, bit for bit (centroids + fitSubspaces)") {
    // The driver tier must reproduce the distributed Lloyd loops EXACTLY
    // — same cosine assignment/tie rule, same double→decimal(28,12)
    // HALF_UP sums — on the real embeddings table, for the full-dim fit
    // (m = 1) and the fused PQ subspace fit (m = 8).
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val cDrv = KMeans.centroids(emb, "vec_id", "embedding", k = 8, dim = 64, iters = 3)
    val cDist = KMeans.fitDistributed(emb, "vec_id", "embedding", m = 1, dsub = 64, k = 8, iters = 3).head
    val bDrv = KMeans.fitSubspaces(
      emb.select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("v")),
      m = 8, dsub = 8, k = 16, iters = 2)
    val bDist = KMeans.fitDistributed(emb, "vec_id", "embedding", m = 8, dsub = 8, k = 16, iters = 2)
    for (i <- cDrv.indices)
      assert(cDrv(i).toSeq == cDist(i).toSeq, s"coarse centroid $i drifted")
    for (s <- bDrv.indices; c <- bDrv(s).indices)
      assert(bDrv(s)(c).toSeq == bDist(s)(c).toSeq, s"codebook ($s,$c) drifted")
  }

  test("PQ kernels == HOF executable specs, bit for bit (encode + ADC scan)") {
    // The r14 codegen kernels (PqEncodeCodes / AdcDistance) must replay
    // the interpreted HOF formulations EXACTLY — same per-element fold
    // order, same argmin tie/NaN rule — on the real embeddings table.
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val books = Ann.pqCodebooks(emb, "vec_id", "embedding", dim = 64,
      m = 8, ksub = 16, iters = 2)
    val kernel = Ann.pqEncode(emb, "vec_id", "embedding", books)
      .select(col("vec_id"), col("codes").cast("array<int>"))
      .as[(Long, Seq[Int])].collect().toMap
    val hof = Ann.pqEncodeHof(emb, "vec_id", "embedding", books)
      .select(col("vec_id"), col("codes").cast("array<int>"))
      .as[(Long, Seq[Int])].collect().toMap
    assert(kernel.size == hof.size && kernel.nonEmpty)
    kernel.foreach { case (id, cs) =>
      assert(cs == hof(id), s"codes drifted for vec $id: kernel=$cs hof=${hof(id)}")
    }
    // ADC distance over a hand-built (codes, lut) frame: kernel fold ==
    // HOF fold on every row, including irregular LUT values.
    val rows = Seq(
      (Seq(0, 2, 1), Seq(Seq(1.5, 2.0, -0.25), Seq(0.0, 4.0, 8.5), Seq(-1.0, 0.125, 3.0))),
      (Seq(2, 0, 0), Seq(Seq(0.1, 0.2, 0.3), Seq(7.0, -2.5, 1.0), Seq(2.25, 0.0, -4.5))),
    ).toDF("codes", "lut")
    val both = rows
      .select(
        graft.functions.GraftFunctions.adcDistance(col("codes"), col("lut")).as("k"),
        Ann.adcSumHof.as("h"))
      .as[(Double, Double)].collect()
    both.foreach { case (k, h) => assert(k == h, s"adc drifted: kernel=$k hof=$h") }
  }

  test("SparseSim agg+join normalization == independent reconstruction, bit for bit") {
    // Regression pin: the postings' per-doc L2 normalization (norm
    // aggregate joined back on doc — the shape kept after the r15 norm
    // fold was measured and rejected, see SparseSim.postings) must stay
    // BIT-identical to the independent reconstruction below on the real
    // documents table. Exact decimal sums are order-free, so any change
    // to the weighting or normalization shows here.
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val got = SparseSim.postings(docs, "doc_id", "text", shingleLen = 3, dfCap = 100)
      .select("doc_id", "term", "u")
      .as[(Long, String, Double)].collect().toSet
    // Reconstruction: tf-idf weights, then the norm aggregation joined back on doc.
    val toks = graft.text.TextAnalysis.tokens(col("text"))
    val tf = docs.select(col("doc_id"),
        explode(graft.functions.GraftFunctions.wordShingles(toks, 3)).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val w = tf.join(df.filter(col("df") <= 100), Seq("term"))
      .crossJoin(broadcast(nDocs))
      .filter(col("df") < col("n_docs"))
      .withColumn("w", col("tf").cast("double") *
        log(col("n_docs").cast("double") / col("df").cast("double")))
    val norms = w.groupBy("doc_id")
      .agg(sqrt(sum((col("w") * col("w")).cast("decimal(28,12)")).cast("double")).as("norm"))
    val want = w.join(norms, Seq("doc_id"))
      .select(col("doc_id"), col("term"), (col("w") / col("norm")).as("u"))
      .as[(Long, String, Double)].collect().toSet
    assert(got.nonEmpty && got == want)
  }
}
