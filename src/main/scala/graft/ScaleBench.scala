package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.similarity.NearDup

/** Dedup-pipeline scaling harness (not driver-run): replicates the sf0.1
  * documents corpus N× and times the full q_dedup_clusters pipeline
  * (MinHash-LSH candidates → exact Jaccard verify → connected components)
  * at each N — the "would this hold at sf1?" measurement BENCH.md records.
  *
  * Replicas are made DISJOINT in shingle space (every token of replica k>0
  * is prefixed `xk`), so each replica keeps the original's internal
  * near-dup structure while adding no cross-replica duplicates: bucket
  * occupancy stays constant and the honest expectation is linear total
  * time. Replicating without the salt would instead turn every planted
  * pair into an N-clique — a quadratic candidate bomb that measures the
  * corpus change, not the engine.
  *
  * Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 runMain graft.ScaleBench
  * [replica counts, default 1 2 5 10 — 10× sf0.1 = the sf1 document count]
  */
object ScaleBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(1, 2, 5, 10)
    val spark = GraftSession("graft-scale-bench", GraftSession.cores(default = 32))

    val base = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
      .localCheckpoint() // one materialization feeds every replica build

    def replica(k: Int): DataFrame =
      if (k == 0) base
      else base.select(
        (col("doc_id") + lit(k * MakeScale.KeyOffset)).as("doc_id"),
        MakeScale.saltTokens(col("text"), k).as("text"))

    reps.foreach { n =>
      val docs = (0 until n).map(replica).reduce(_.union(_)).localCheckpoint()
      val nDocs = docs.count()
      val t0 = System.nanoTime()
      val pairs = NearDup.jaccardVerify(
        NearDup.minhashCandidates(docs, "doc_id", "text",
          shingleLen = 3, numHashes = 16, bands = 16, maxBucket = 10000),
        docs, "doc_id", "text", shingleLen = 3, minJaccard = 0.5)
      val clusters = NearDup.connectedComponentsAdaptive(pairs, "doc_id_a", "doc_id_b")
      val nClusters = clusters.count()
      val sec = (System.nanoTime() - t0) / 1e9
      val nPairs = pairs.count()
      println(f"""{"replicas":$n,"docs":$nDocs,"pairs":$nPairs,"clustered_docs":$nClusters,"sec":$sec%.2f}""")
      docs.unpersist()
    }

    // Substring-dedup gram-stream economics: the stride-1 exhaustive
    // configuration vs the winnow-anchored scale path, on the same
    // corpus. `grams` counts the rows entering the shared-gram shuffle —
    // the quantity that multiplies against 100 TB.
    {
      import graft.text.SubstringDedup
      def timed[A](f: => A): (A, Double) = {
        val t0 = System.nanoTime()
        val a = f
        (a, (System.nanoTime() - t0) / 1e9)
      }
      val strideGrams = SubstringDedup.gramStream(base, "doc_id", "text", 24, 1).count()
      val winnowGrams = SubstringDedup.winnowAnchorStream(base, "doc_id", "text", 24, 16).count()
      val (nStride, tStride) = timed(
        SubstringDedup.sharedSpans(base, "doc_id", "text", gramLen = 24, minSpan = 60).count())
      val (nWinnow, tWinnow) = timed(
        SubstringDedup.sharedSpansWinnowed(base, "doc_id", "text",
          gramLen = 24, window = 16, minSpan = 60).count())
      println(f"""{"op":"substring_dedup","stride1_grams":$strideGrams,"winnow_grams":$winnowGrams,""" +
        f""""gram_reduction":${strideGrams.toDouble / winnowGrams}%.1f,""" +
        f""""stride1_spans":$nStride,"winnow_spans":$nWinnow,""" +
        f""""stride1_sec":$tStride%.2f,"winnow_sec":$tWinnow%.2f}""")
      // Removal funnel: how many docs stage 1 flags (= the subset that
      // pays stride-1 amplification) and end-to-end cost vs exact-everywhere.
      val (nExact, tExact) = timed(
        SubstringDedup.removeShared(base, "doc_id", "text", gramLen = 40, minSpan = 60)
          .filter(col("n_cuts") > 0).count())
      val (nFun, tFun) = timed(
        SubstringDedup.removeSharedFunneled(base, "doc_id", "text", gramLen = 40, minSpan = 60)
          .filter(col("n_cuts") > 0).count())
      val flagged = SubstringDedup.sharedSpansWinnowed(base, "doc_id", "text",
        gramLen = 24, window = 16, minSpan = 24).select("doc_id").distinct().count()
      val total = base.count()
      println(f"""{"op":"substring_removal","docs":$total,"flagged":$flagged,""" +
        f""""cut_docs_exact":$nExact,"cut_docs_funnel":$nFun,""" +
        f""""exact_sec":$tExact%.2f,"funnel_sec":$tFun%.2f}""")
    }

    // SemDeDup envelope at scale: the k-scaling rule (SemDeDup.kForCorpus)
    // WORKING, not documented — 1× and 10× sf0.1 embeddings sit on the
    // minK floor (k=8, matching the oracle config; 2k/20k vecs are both
    // under the 8·4096 envelope edge), while the 20× replica (40k vecs)
    // derives k=10, holding expected cell size ~constant as n grows; the
    // maxCell hash-split stands behind it for skewed corpora.
    // `capped_cells` counts cells past the cap; near-linear `sec` growth
    // is the Σc² ≪ n² claim measured.
    {
      import graft.similarity.SemDeDup
      val embBase = spark.read.parquet(s"$sfDir/embeddings.parquet").localCheckpoint()
      def embReplica(k: Int): DataFrame =
        if (k == 0) embBase
        else embBase
          .withColumn("vec_id", col("vec_id") + lit(k * MakeScale.KeyOffset))
          .withColumn("embedding", transform(col("embedding"),
            (x, i) => (x + sin(col("vec_id") * (i + 1) * lit(k)) * lit(0.01f)).cast("float")))
      Seq(1, 10, 20).foreach { n =>
        val emb = (0 until n).map(embReplica).reduce(_.union(_)).localCheckpoint()
        val nVec = emb.count()
        val k = SemDeDup.kForCorpus(nVec)
        val t0 = System.nanoTime()
        val out = SemDeDup.dedupAuto(emb, "vec_id", "embedding", dim = 64,
          tau = new java.math.BigDecimal("0.35")).localCheckpoint()
        val row = out.agg(
          count(lit(1)).as("total"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("kept")).head()
        val sec = (System.nanoTime() - t0) / 1e9
        val cappedCells = out.groupBy("cluster").count().filter(col("count") > 4096).count()
        println(f"""{"op":"semdedup","replicas":$n,"vecs":$nVec,"k":$k,""" +
          f""""kept":${row.getAs[Long]("kept")},"capped_cells":$cappedCells,"sec":$sec%.2f}""")
        emb.unpersist()
      }
    }
    // Standing-index amortization (PQ, IVF, IVF-PQ): the point of the
    // build*Index constructors is that the model fits + corpus
    // assign/encode run ONCE; each arriving query batch pays only the
    // probe against the stored halves. Measured here per family: index
    // build (materialized), then 3 retrieve batches against the standing
    // store vs the same batches through the one-shot entry point (which
    // refits per call).
    {
      import graft.similarity.Ann
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").localCheckpoint()
      def timed[A](f: => A): (A, Double) = {
        val t0 = System.nanoTime()
        val a = f
        (a, (System.nanoTime() - t0) / 1e9)
      }
      def f3(xs: Seq[Double]) = xs.map(x => f"$x%.2f").mkString("[", ",", "]")
      val batches = Seq(0L, 8L, 16L).map(lo =>
        emb.filter(col("vec_id") >= lo && col("vec_id") < lo + 8))

      val (idx, buildSec) = timed {
        val i = Ann.buildPqIndex(emb, "vec_id", "embedding", dim = 64, m = 8, ksub = 16, iters = 2)
        val m = Ann.PqIndex(i.codebooks.localCheckpoint(), i.codes.localCheckpoint())
        m.codes.count() // materialize the store
        m
      }
      val retrieveSecs = batches.map { q =>
        timed(Ann.pqRetrieve(q, "vec_id", "embedding", idx, emb, k = 5, rerank = 32).count())._2
      }
      val refitSecs = batches.map { q =>
        timed {
          val books = Ann.pqCodebooks(emb, "vec_id", "embedding", dim = 64, m = 8, ksub = 16, iters = 2)
          Ann.pqTopK(q, emb, "vec_id", "embedding", books, k = 5, rerank = 32).count()
        }._2
      }
      println(f"""{"op":"pq_standing_index","build_sec":$buildSec%.2f,""" +
        f""""retrieve_sec":${f3(retrieveSecs)},"oneshot_refit_sec":${f3(refitSecs)}}""")

      val (ivfIdx, ivfBuildSec) = timed {
        val i = Ann.buildIvfIndex(emb, "vec_id", "embedding", nList = 16, iters = 3)
        val m = Ann.IvfIndex(i.centroids.localCheckpoint(), i.cells.localCheckpoint())
        m.cells.count()
        m
      }
      val ivfRetr = batches.map { q =>
        timed(Ann.ivfRetrieve(q, "vec_id", "embedding", ivfIdx, k = 5).count())._2
      }
      val ivfOneshot = batches.map { q =>
        timed(Ann.ivfTopK(q, emb, "vec_id", "embedding", k = 5, kmeansIters = 3).count())._2
      }
      println(f"""{"op":"ivf_standing_index","build_sec":$ivfBuildSec%.2f,""" +
        f""""retrieve_sec":${f3(ivfRetr)},"oneshot_refit_sec":${f3(ivfOneshot)}}""")

      val (ipIdx, ipBuildSec) = timed {
        val i = Ann.buildIvfPqIndex(emb, "vec_id", "embedding", dim = 64)
        val m = Ann.IvfPqIndex(
          Ann.IvfIndex(i.ivf.centroids.localCheckpoint(), i.ivf.cells.localCheckpoint()),
          Ann.PqIndex(i.pq.codebooks.localCheckpoint(), i.pq.codes.localCheckpoint()))
        m.ivf.cells.count(); m.pq.codes.count()
        m
      }
      val ipRetr = batches.map { q =>
        timed(Ann.ivfPqRetrieve(q, "vec_id", "embedding", ipIdx, emb, k = 5).count())._2
      }
      val ipOneshot = batches.map { q =>
        timed {
          val books = Ann.pqCodebooks(emb, "vec_id", "embedding", dim = 64, m = 8, ksub = 16, iters = 2)
          Ann.ivfPqTopK(q, emb, "vec_id", "embedding", books, k = 5).count()
        }._2
      }
      println(f"""{"op":"ivfpq_standing_index","build_sec":$ipBuildSec%.2f,""" +
        f""""retrieve_sec":${f3(ipRetr)},"oneshot_refit_sec":${f3(ipOneshot)}}""")
    }

    // Incremental SemDeDup at 10×: standing index fitted on 9 replicas,
    // the 10th arrives as a batch. Amortized maintenance = assign the
    // batch in the FROZEN centroids + one (cluster, subcell)-keyed join
    // against the kept store; the one-shot alternative refits and
    // re-pairs the whole 10× corpus. append_sec ≪ rebuild_sec is the
    // claim; the survivors themselves are pinned equivalent in
    // SimilaritySpec, so only cost is measured here.
    {
      import graft.similarity.SemDeDup
      def timed[A](f: => A): (A, Double) = {
        val t0 = System.nanoTime()
        val a = f
        (a, (System.nanoTime() - t0) / 1e9)
      }
      val embBase = spark.read.parquet(s"$sfDir/embeddings.parquet").localCheckpoint()
      def embReplica(k: Int): DataFrame =
        if (k == 0) embBase
        else embBase
          .withColumn("vec_id", col("vec_id") + lit(k * MakeScale.KeyOffset))
          .withColumn("embedding", transform(col("embedding"),
            (x, i) => (x + sin(col("vec_id") * (i + 1) * lit(k)) * lit(0.01f)).cast("float")))
      val base9 = (0 until 9).map(embReplica).reduce(_.union(_)).localCheckpoint()
      val batch1 = embReplica(9).localCheckpoint()
      val tau = new java.math.BigDecimal("0.35")
      val k9 = SemDeDup.kForCorpus(base9.count())
      val (semIdx, semBuildSec) = timed {
        val i = SemDeDup.buildIndex(base9, "vec_id", "embedding", dim = 64, tau = tau, k = k9)
        val m = SemDeDup.SemIndex(i.centroids.localCheckpoint(), i.kept.localCheckpoint())
        m.kept.count()
        m
      }
      val (nAppendKept, appendSec) = timed(
        SemDeDup.dedupIncrement(batch1, "vec_id", "embedding", semIdx, tau)
          .filter(col("keep")).count())
      val (nRebuildKept, rebuildSec) = timed(
        SemDeDup.dedupAuto(base9.unionByName(batch1), "vec_id", "embedding", dim = 64, tau = tau)
          .filter(col("keep")).count())
      println(f"""{"op":"semdedup_incremental","replicas":10,"build9_sec":$semBuildSec%.2f,""" +
        f""""append_sec":$appendSec%.2f,"rebuild_sec":$rebuildSec%.2f,""" +
        f""""append_kept":$nAppendKept,"rebuild_kept":$nRebuildKept}""")
      base9.unpersist(); batch1.unpersist()
    }

    // Incremental near-dup maintenance at 10×: standing labels over 9
    // replicas' verified pairs; replica 10 arrives as a batch. Amortized
    // = batch candidates against (old ∪ new) + verify + label fold
    // (old×old never re-pairs); one-shot = full LSH + verify + CC over
    // the 10× corpus. Replicas are token-disjoint, so the batch's true
    // pairs are batch-internal — the candidate join against the old side
    // is the real (empty-result) work the incremental path must price.
    {
      def timed[A](f: => A): (A, Double) = {
        val t0 = System.nanoTime()
        val a = f
        (a, (System.nanoTime() - t0) / 1e9)
      }
      def verifiedPairs(cands: DataFrame, d: DataFrame) =
        NearDup.jaccardVerify(cands, d, "doc_id", "text", shingleLen = 3, minJaccard = 0.5)
      def oneShot(d: DataFrame) = verifiedPairs(
        NearDup.minhashCandidates(d, "doc_id", "text",
          shingleLen = 3, numHashes = 16, bands = 16, maxBucket = 10000), d)
      val docs9 = (0 until 9).map(replica).reduce(_.union(_)).localCheckpoint()
      val batch10 = replica(9).localCheckpoint()
      val labels = NearDup
        .connectedComponentsAdaptive(oneShot(docs9), "doc_id_a", "doc_id_b")
        .localCheckpoint()
      labels.count()
      val (nInc, incSec) = timed {
        val newPairs = verifiedPairs(
          NearDup.incrementalCandidates(batch10, docs9, "doc_id", "text",
            shingleLen = 3, numHashes = 16, bands = 16, maxBucket = 10000),
          docs9.unionByName(batch10))
        NearDup.incrementalComponents(labels, newPairs, "doc_id_a", "doc_id_b").count()
      }
      val all10 = docs9.unionByName(batch10)
      val (nFull, fullSec) = timed(
        NearDup.connectedComponentsAdaptive(oneShot(all10), "doc_id_a", "doc_id_b").count())
      println(f"""{"op":"neardup_incremental","replicas":10,"fold_sec":$incSec%.2f,""" +
        f""""rebuild_sec":$fullSec%.2f,"fold_labeled":$nInc,"rebuild_labeled":$nFull}""")
      docs9.unpersist(); batch10.unpersist()
    }

    // SCD2 fold at 10×: dimension history built from 10× user-replicated
    // purchase events (29 days), then the LAST DAY arrives as the CDC
    // batch — the realistic daily-fold shape (the fold's advantage is
    // the history/batch ratio: only the batch pays a window shuffle, so
    // a week-sized batch at this volume measures nothing). Amortized =
    // scd2Increment (batch-keyed window + a broadcast-size close-stamp
    // join; history is never re-shuffled); one-shot = full scd2 over
    // history ∪ batch. Equivalence is the q_scd2_incremental oracle's
    // job; cost is measured here.
    {
      import graft.core.Scd
      def timed[A](f: => A): (A, Double) = {
        val t0 = System.nanoTime()
        val a = f
        (a, (System.nanoTime() - t0) / 1e9)
      }
      val ev0 = spark.read.parquet(s"$sfDir/events.parquet")
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("value"),
          unix_micros(col("ts").cast("timestamp")).as("ts_us"))
        .localCheckpoint()
      // 10× AND 100×: at 10× (≈200k dimension rows) both paths sit on
      // local[32]'s fixed per-job overhead (~0.4 s) and wall-clock
      // cannot separate them — the fold's advantage is WINDOW-SHUFFLE
      // VOLUME (batch_rows vs history+batch rows, the recorded fields);
      // 100× makes the rebuild's shuffle big enough that the same
      // volume gap shows up as seconds.
      Seq(10, 100).foreach { reps =>
        val ev = (0 until reps).map { k =>
          if (k == 0) ev0
          else ev0
            .withColumn("user_id", col("user_id") + lit(k * MakeScale.KeyOffset))
            .withColumn("event_id", col("event_id") + lit(k * MakeScale.KeyOffset))
        }.reduce(_.unionByName(_)).localCheckpoint()
        val cutUs = 1706572800000000L // 2024-01-30T00:00Z — last-day batch
        val hist = ev.filter(col("ts_us") < cutUs)
        val batch = ev.filter(col("ts_us") >= cutUs)
        val current = Scd.scd2(hist, key = col("user_id"),
          attr = floor(col("value") / 25.0).cast("long"),
          ts = col("ts_us"), tiebreak = col("event_id")).localCheckpoint()
        current.count()
        val (nFold, foldSec) = timed(
          Scd.scd2Increment(current, batch, key = col("user_id"),
            attr = floor(col("value") / 25.0).cast("long"),
            ts = col("ts_us"), tiebreak = col("event_id")).count())
        val (nFull, fullSec) = timed(
          Scd.scd2(ev, key = col("user_id"),
            attr = floor(col("value") / 25.0).cast("long"),
            ts = col("ts_us"), tiebreak = col("event_id")).count())
        println(f"""{"op":"scd2_incremental","replicas":$reps,"history_rows":${hist.count()},""" +
          f""""batch_rows":${batch.count()},"fold_sec":$foldSec%.2f,"rebuild_sec":$fullSec%.2f,""" +
          f""""fold_rows":$nFold,"rebuild_rows":$nFull}""")
        ev.unpersist(); current.unpersist()
      }
    }
    spark.stop()
  }
}
