package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.functions._

import graft.text.TextAnalysis

/** Structured Streaming ingest for DOCUMENT feeds — the continuous face
  * of the text/dedup operators (a crawler or firehose landing training
  * text nonstop, rather than the batch `documents` table).
  *
  * Everything stateless here is the SAME codegen'd kernels the batch
  * path uses (TextStats, fingerprints) running inside the micro-batch
  * plan — StreamingSpec asserts stream ≡ batch on identical input, so
  * the two paths cannot drift. The one stateful stage (fingerprint
  * dedup) bounds its state with the watermark, the standing requirement
  * for an infinite feed.
  */
object DocsStream {

  /** Stateless enrichment: language ID, token count, quality signals via
    * the one-pass TextStats kernel — a narrow codegen'd projection per
    * micro-batch, no state, no shuffle. The stream stays partitioned as
    * it arrives (100 TB/day is fine if the source is).
    */
  def enriched(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val st = graft.functions.GraftFunctions.textStats(col(textCol))
    docs
      .withColumn("stats", st)
      .select(
        col("*"),
        col("stats.n_tokens").as("n_tokens"),
        col("stats.n_chars").as("n_chars_seen"),
        col("stats.lang_pred").as("lang_id"),
        TextAnalysis.fingerprintMd5(col(textCol)).as("fp"),
      )
      .drop("stats")
  }

  /** Stateless quality gate: the Gopher/CCNet-style drop rules over the
    * one-pass kernels — token floor (TextStats), char-distribution
    * entropy floor (CharEntropy: near-zero = repeated filler), and a
    * DEFLATE-compressibility band (DeflateStats: far-left = boilerplate
    * that compresses to nothing, ≥1 = binary noise). A pure codegen'd
    * projection+filter per micro-batch — no state, no shuffle — and the
    * SAME expressions the batch queries use (q_text_quality,
    * q_char_entropy, q_compress_ratio), so stream ≡ batch by
    * construction (pinned in StreamingSpec anyway). Surviving rows keep
    * the three signals as columns for downstream routing.
    */
  def qualityGated(
      docs: DataFrame,
      textCol: String = "text",
      minTokens: Int = 10,
      minEntropyNats: Double = 1.5,
      deflateBand: (Double, Double) = (0.05, 1.0),
  ): DataFrame = {
    val st = graft.functions.GraftFunctions.textStats(col(textCol))
    val ce = graft.functions.GraftFunctions.charEntropy(col(textCol))
    val ds = graft.functions.GraftFunctions.deflateStats(col(textCol))
    docs
      .withColumn("n_tokens", st.getField("n_tokens"))
      .withColumn("ent_nats", ce.getField("ent_nats"))
      .withColumn("deflate_ratio", ds.getField("ratio"))
      .filter(
        col("n_tokens") >= minTokens &&
          col("ent_nats") >= minEntropyNats &&
          col("deflate_ratio") > deflateBand._1 &&
          col("deflate_ratio") < deflateBand._2)
  }

  /** Stateless boilerplate gate from an OFFLINE-built Count-Min sketch:
    * the sketch is fitted batch-side on the standing corpus's term
    * stream (frozen model-as-data, the NgramLm rule — the stream must
    * not refit corpus statistics per micro-batch), broadcast once, and
    * probed per arriving document through the codegen'd
    * [[graft.functions.CmsEstimate]] expression. A document whose
    * FREQUENT-term share exceeds `maxHotFrac` (its terms estimate ≥
    * `hotCount` in the corpus) is boilerplate/template-heavy and drops.
    * Zero state, zero shuffle: the gate is a scan-side projection, so
    * the stream keeps its source partitioning at any rate — and the
    * sketch stays a few KB no matter how large the fitted corpus was
    * (the property an exact hot-term TABLE broadcast loses at 100 TB
    * vocabularies).
    */
  def cmsGated(
      docs: DataFrame,
      sketch: org.apache.spark.broadcast.Broadcast[org.apache.spark.util.sketch.CountMinSketch],
      hotCount: Long,
      maxHotFrac: Double = 0.5,
      textCol: String = "text",
  ): DataFrame = {
    val toks = TextAnalysis.tokens(col(textCol))
    val hot = filter(toks,
      t => graft.functions.GraftFunctions.cmsEstimate(t, sketch) >= hotCount)
    docs
      // <= 0, not === 0: size(null array) is -1, so a null text must
      // take the hot_frac-0 branch. Convention: null/empty docs PASS
      // this gate (no terms = no boilerplate evidence) — rejecting
      // degenerate docs is qualityGated's job (min-token floor), not a
      // silent null-propagation side effect here.
      .withColumn("hot_frac",
        when(size(toks) <= 0, lit(0.0))
          .otherwise(size(hot).cast("double") / size(toks).cast("double")))
      .filter(col("hot_frac") <= maxHotFrac)
  }

  /** STANDING-INDEX MAINTENANCE under ingest: append each micro-batch's
    * doc-LOCAL BM25 rows (lengths + raw postings,
    * [[graft.similarity.SparseSim.bm25DocLengths]]/[[graft.similarity.SparseSim.bm25RawPostings]])
    * to two parquet stores via foreachBatch. Corpus-global statistics
    * are NOT stored — they derive at snapshot time
    * (`SparseSim.bm25IndexFrom` over the accumulated files), so appends
    * never rewrite existing rows, replayed batches are idempotent at
    * the row level, and the maintained store is BIT-IDENTICAL to a
    * batch rebuild over the same documents (StreamingSpec pin). This is
    * the ingest half the frozen-model retrieval queries
    * (q_bm25_incremental) assume exists.
    *
    * Scale shape: each micro-batch's work is a pure per-doc projection +
    * one batch-local (doc,term) groupBy — cost scales with the BATCH,
    * never the standing corpus; store the postings bucketed on `term`
    * (core/Layout) and snapshot scoring keeps the index-side exchange
    * elided (LayoutSpec).
    */
  def bm25IndexAppender(
      docs: DataFrame,
      lengthsPath: String,
      postingsPath: String,
      checkpointPath: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      shingleLen: Int = 2,
  ): StreamingQuery =
    docsStreamForeach(docs, checkpointPath) { (batch, _) =>
      graft.similarity.SparseSim.bm25DocLengths(batch, idCol, textCol, shingleLen)
        .write.mode("append").parquet(lengthsPath)
      graft.similarity.SparseSim.bm25RawPostings(batch, idCol, textCol, shingleLen)
        .write.mode("append").parquet(postingsPath)
    }

  /** Same maintenance discipline for the substring-dedup anchor index:
    * [[graft.text.SubstringDedup.buildAnchorIndex]] rows are already
    * pure per-document (gram, doc_id, pos) — no snapshot derivation
    * needed; the appended store IS the index
    * (`incrementalSharedSpans` consumes it directly).
    */
  def anchorIndexAppender(
      docs: DataFrame,
      indexPath: String,
      checkpointPath: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      gramLen: Int = 24,
      window: Int = 16,
  ): StreamingQuery =
    docsStreamForeach(docs, checkpointPath) { (batch, _) =>
      graft.text.SubstringDedup.buildAnchorIndex(batch, idCol, textCol, gramLen, window)
        .write.mode("append").parquet(indexPath)
    }

  /** Streaming CROSS-DOC SUBSTRING dedup gate against the standing
    * anchor index: each micro-batch detects winnow-anchored shared spans
    * vs the STORED corpus
    * ([[graft.text.SubstringDedup.incrementalSharedSpans]], cross-index
    * spans only — the symmetric batch-internal detection would flag BOTH
    * copies of an in-batch duplicate and drop the content entirely,
    * so the micro-batch is the gate's dedup horizon, exactly like
    * [[dedupedDocs]]'s within-watermark contract), appends per-doc
    * decisions (shared_chars, n_spans, keep = shared fraction ≤
    * `maxSharedFrac`) to `resultsPath`, and folds the SURVIVORS' anchors
    * into `indexPath` — later batches see them, so a later copy of any
    * kept document gets gated. Seed the standing index with an offline
    * [[graft.text.SubstringDedup.buildAnchorIndex]] of the base corpus
    * written at `indexPath/batch=-1` (the versioned layout below).
    *
    * REPLAY SAFETY (r13 ADVICE): foreachBatch is at-least-once, and the
    * pre-r14 blind appends corrupted on batch re-execution — the index
    * already held the replayed batch's survivors' anchors, so a survivor
    * matched its OWN anchors, the recomputed decision flipped
    * keep=true→false, and `resultsPath` ended up with CONTRADICTORY
    * decisions for one doc (plus duplicated anchors). Both sinks now
    * ride the versioned layout the sketch appenders use: a batch reads
    * ONLY index versions STRICTLY BELOW its own id (exactly the corpus
    * it saw the first time — the index is append-only, so the union of
    * versions < id IS that corpus) and OVERWRITES its own `batch=<id>`
    * partition under each sink, so a replay recomputes identical
    * decisions and replaces rather than duplicates. Readers consume the
    * whole partitioned dataset at `indexPath`/`resultsPath`.
    *
    * Micro-batches run serially and the index is append-only, so any
    * micro-batching of a feed yields the sequential-fold semantics —
    * StreamingSpec pins stream ≡ the hand-driven batch-API fold, the
    * three gate behaviors (stored-content copy dropped, fresh doc
    * kept, copy of a STREAMED survivor dropped), and a REAL replay
    * (commit log truncated, stream restarted): decisions and index
    * bit-identical, no duplicates.
    */
  def substringDedupAppender(
      docs: DataFrame,
      indexPath: String,
      resultsPath: String,
      checkpointPath: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      gramLen: Int = 24,
      window: Int = 16,
      minSpan: Int = 60,
      maxSharedFrac: Double = 0.5,
  ): StreamingQuery = {
    import graft.text.SubstringDedup
    docsStreamForeach(docs, checkpointPath) { (batch, batchId) =>
      val spark = batch.sparkSession
      val versions = stateVersionsBelow(spark, indexPath, batchId)
      // Union of versions strictly below this batch's id = the corpus
      // state this batch saw the first time it ran (append-only index);
      // explicit leaf paths keep the partition column out of the schema.
      val idx =
        if (versions.isEmpty)
          // unseeded cold start: an empty index with the right schema
          SubstringDedup.buildAnchorIndex(
            batch.limit(0), idCol, textCol, gramLen, window)
        else spark.read.parquet(versions.map(v => s"$indexPath/batch=$v"): _*)
      val spans = SubstringDedup.incrementalSharedSpans(
        batch, idCol, textCol, idx, gramLen, window, minSpan,
        includeBatchInternal = false)
      val cover = spans.groupBy("doc_id")
        .agg(sum(col("span_len")).as("shared_chars"), count(lit(1)).as("n_spans"))
      val res = batch
        .select(col(idCol).as("doc_id"), length(col(textCol)).cast("long").as("n_chars"))
        .join(cover, Seq("doc_id"), "left")
        .select(
          col("doc_id"),
          coalesce(col("shared_chars"), lit(0L)).as("shared_chars"),
          coalesce(col("n_spans"), lit(0L)).as("n_spans"),
          col("n_chars"),
          (coalesce(col("shared_chars"), lit(0L)).cast("double") <=
            lit(maxSharedFrac) * col("n_chars").cast("double")).as("keep"))
        .localCheckpoint() // two consumers: results write + survivor join
      res.write.mode("overwrite").parquet(s"$resultsPath/batch=$batchId")
      val survivors = batch.join(
        res.filter(col("keep")).select(col("doc_id").as(idCol)),
        Seq(idCol), "left_semi")
      SubstringDedup.buildAnchorIndex(survivors, idCol, textCol, gramLen, window)
        .write.mode("overwrite").parquet(s"$indexPath/batch=$batchId")
    }
  }

  /** Streaming SEMANTIC dedup against a standing
    * [[graft.similarity.SemDeDup.SemIndex]]: each micro-batch of
    * (id, embedding) rows assigns to the FROZEN centroids, dedups
    * against the kept store (`SemDeDup.dedupIncrement`), appends its
    * decisions to `resultsPath`, and folds its SURVIVORS into
    * `keptPath` — so later batches (and later near-copies) see them.
    * The kept store is APPEND-ONLY (survivors only ever add), the
    * centroid model never refits, and micro-batches run serially in
    * foreachBatch, so consuming a corpus in any micro-batching yields
    * the sequential-fold semantics StreamingSpec pins against the batch
    * API. `centroids`/`keptSeed` come from an offline
    * `SemDeDup.buildIndex` on the base load.
    */
  def semDedupAppender(
      vecs: DataFrame,
      centroids: DataFrame,
      keptPath: String,
      resultsPath: String,
      checkpointPath: String,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      tau: java.math.BigDecimal = new java.math.BigDecimal("0.35"),
      maxCell: Int = 4096,
  ): StreamingQuery = {
    import graft.similarity.SemDeDup
    docsStreamForeach(vecs, checkpointPath) { (batch, _) =>
      val spark = batch.sparkSession
      val idx = SemDeDup.SemIndex(centroids, spark.read.parquet(keptPath))
      val res = SemDeDup.dedupIncrement(batch, idCol, vecCol, idx, tau, maxCell)
        .localCheckpoint() // two consumers (results write + survivor join) + decisions must pre-date the kept append
      res.write.mode("append").parquet(resultsPath)
      // Survivors fold in with their frozen-model assignment — the
      // append-only row set appendSurvivors would union in memory.
      graft.similarity.KMeans
        .assignWith(batch, idCol, vecCol, SemDeDup.centroidArrays(centroids))
        .select(col("id").as("vec_id"), col("v"), col("cluster"))
        .join(res.filter(col("keep")).select("vec_id"), Seq("vec_id"), "left_semi")
        .write.mode("append").parquet(keptPath)
    }
  }

  /** Stateless ingest gate from an offline-DISTILLED quality classifier
    * ([[graft.text.QualityModel]]): each micro-batch scores in the
    * FROZEN model (broadcast weight join + decimal sum — the model never
    * refits on stream data) and only docs the model accepts (score >
    * fitted tau) land. The per-doc decision is a pure function of
    * (doc, model), so micro-batching is invisible: gated output ≡ one
    * batch score+filter over the same docs (StreamingSpec pin). This is
    * the model-based stage that sits beside [[qualityGated]]'s hand
    * rules and [[cmsGated]]'s frequency sketch in a real ingest stack.
    */
  def qualityModelGated(
      docs: DataFrame,
      model: graft.text.QualityModel.LinearTextModel,
      outPath: String,
      checkpointPath: String,
      idCol: String = "doc_id",
      textCol: String = "text",
  ): StreamingQuery =
    docsStreamForeach(docs, checkpointPath) { (batch, _) =>
      val accepted = graft.text.QualityModel.score(batch, idCol, textCol, model)
        .filter(col("pred")).select(idCol)
      batch.join(accepted, Seq(idCol), "left_semi")
        .write.mode("append").parquet(outPath)
    }

  /** Streaming drift monitor: per micro-batch, PSI of the batch's value
    * distribution against a FROZEN reference histogram
    * ([[graft.core.Stats.psiAgainstRef]] — literal octile cuts + counts
    * fitted offline via refHistogram), one (batch_id, n, psi) row
    * appended per trigger. The QC that catches an upstream source going
    * sideways WHILE ingesting, before the bad slice lands in the
    * training mix; stateless per batch (StreamingSpec pins streamed
    * rows ≡ the batch call per slice).
    */
  def driftMonitor(
      docs: DataFrame,
      outPath: String,
      checkpointPath: String,
      valueCol: String,
      cuts: Seq[Double],
      refCounts: Seq[Long],
  ): StreamingQuery =
    docsStreamForeach(docs, checkpointPath) { (batch, batchId) =>
      graft.core.Stats.psiAgainstRef(batch, col(valueCol), cuts, refCounts)
        .withColumn("batch_id", lit(batchId))
        .write.mode("append").parquet(outPath)
    }

  /** Retrieval SERVING from a query stream: each micro-batch of query
    * documents scores against a standing FROZEN BM25 index
    * ([[graft.similarity.SparseSim.bm25Retrieve]]) and appends its top-k
    * to `outPath`. Because every query's result is a pure function of
    * (query, index) — the frozen-model contract — micro-batching is
    * invisible: stream-served rows are bit-identical to one batch call
    * over the same queries (StreamingSpec pin). Stateless between
    * batches; per-batch cost is the broadcast term-pruned join, the
    * corpus-scale index never reshuffles (term-bucketed store drops its
    * exchange entirely, LayoutSpec).
    */
  def bm25ServeStream(
      queries: DataFrame,
      index: DataFrame,
      outPath: String,
      checkpointPath: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      shingleLen: Int = 2,
      k: Int = 5,
  ): StreamingQuery =
    docsStreamForeach(queries, checkpointPath) { (batch, _) =>
      graft.similarity.SparseSim
        .bm25Retrieve(batch, idCol, textCol, index, shingleLen, k)
        .write.mode("append").parquet(outPath)
    }

  /** STANDING-LAYOUT MAINTENANCE for greedy sequence packing
    * ([[graft.text.Packing.packGreedyAppend]]): each micro-batch packs
    * into the standing per-shard (bin, fill) tails, appends its
    * placements to `placementsPath`, and rolls the tiny state table
    * forward at `statePath`. The state is ≤ `shards` rows BY
    * CONSTRUCTION (the open tail bin per shard — closed bins are
    * immutable), so it round-trips through the driver each batch, the
    * same bounded-model tier as KMeans centroids; the standing
    * PLACEMENTS are never read. Micro-batches run serially in
    * foreachBatch, so any micro-batching of a feed yields the
    * sequential-fold semantics PackingSpec pins against one-shot
    * [[graft.text.Packing.packGreedy]] (StreamingSpec pins stream ≡
    * sequential batch appends bit-identically).
    *
    * No seeding needed: an empty `statePath` means an empty layout (to
    * resume a prior layout, write its rolled state as
    * `statePath/batch=0` and start the stream's batch ids above it via
    * the checkpoint).
    */
  def packAppender(
      docs: DataFrame,
      placementsPath: String,
      statePath: String,
      checkpointPath: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      ctxLen: Int = 256,
      shards: Int = 16,
  ): StreamingQuery = {
    import graft.text.Packing
    // REPLAY SAFETY: foreachBatch gives at-least-once delivery, so both
    // writes must be idempotent under batch re-execution. State is
    // VERSIONED (statePath/batch=<id>, overwrite) and each batch seeds
    // from the newest version STRICTLY BELOW its own id — a replayed
    // batch re-reads the exact state it saw the first time even though
    // its own version already exists, and rewrites the same outputs.
    // Placements land in per-batch partitions (placementsPath/batch=<id>,
    // overwrite), so a replay replaces rather than duplicates; readers
    // see one partitioned dataset at placementsPath. A crash between the
    // two writes leaves only a stale/fresh version pair, never a
    // half-written standing layout (the in-place overwrite this replaces
    // could be caught mid-delete). Versions are <= shards rows each.
    docsStreamForeach(docs, checkpointPath) { (batch, batchId) =>
      val spark = batch.sparkSession
      val versions = stateVersionsBelow(spark, statePath, batchId)
      val state =
        if (versions.isEmpty) Packing.emptyPackState(spark)
        else spark.read.parquet(s"$statePath/batch=${versions.max}")
      val placed = Packing
        .packGreedyAppend(batch, idCol, textCol, ctxLen, shards, state)
        .localCheckpoint() // placements write + state roll share one pack
      placed.write.mode("overwrite").parquet(s"$placementsPath/batch=$batchId")
      Packing.packState(state, placed, ctxLen)
        .write.mode("overwrite").parquet(s"$statePath/batch=$batchId")
    }
  }

  /** Standing-state version ids strictly below `batchId` at
    * `statePath/batch=<id>`. Listing goes through the Hadoop FileSystem
    * of statePath — the same resolution the Spark writers use — so
    * hdfs://, s3a:// and file:/-prefixed paths all list correctly (a
    * java.io.File listing returns null for every non-local URI and
    * would silently seed each batch from the EMPTY state).
    */
  private[streaming] def stateVersionsBelow(
      spark: org.apache.spark.sql.SparkSession,
      statePath: String,
      batchId: Long): Array[Long] = {
    val stateDir = new org.apache.hadoop.fs.Path(statePath)
    val fs = stateDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    (if (fs.exists(stateDir)) fs.listStatus(stateDir)
     else Array.empty[org.apache.hadoop.fs.FileStatus])
      .flatMap(st => st.getPath.getName match {
        case s if s.startsWith("batch=") => s.stripPrefix("batch=").toLongOption
        case _ => None
      })
      .filter(_ < batchId)
  }

  /** Load a sketch-appender state version, accepting the LEGACY key
    * column: state written before r13 named the key column with the
    * literal "g" instead of the caller's `groupCol`. Resuming a stream
    * over such a statePath would fail LOUDLY at the first merged batch
    * (unionByName: old files carry "g", the fresh aggregation carries
    * `groupCol`) — rename on load instead, so pre-existing quantile/
    * mg/topK state stores stay readable across the upgrade; every
    * version written from here on carries `groupCol`.
    */
  private def loadKeyedState(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      groupCol: String): DataFrame = {
    val df = spark.read.parquet(path)
    if (groupCol != "g" && df.columns.contains("g") && !df.columns.contains(groupCol))
      df.withColumnRenamed("g", groupCol)
    else df
  }

  /** STANDING QUANTILE-SKETCH MAINTENANCE: each micro-batch sketches
    * `valueCol` per `groupCol` with the mergeable deterministic
    * [[graft.functions.MrlSketch]] aggregate and FOLDS it into the
    * standing per-group sketches — the continuously-maintained
    * percentile monitor (per-source document-length / quality-score
    * distributions) that never rescans history: yesterday's sketch +
    * today's batch sketch = the updated distribution. State is one
    * binary sketch row per group (k·log(n/k) doubles), the same
    * bounded-model tier as packAppender's tails, and rides the SAME
    * replay-safe versioned layout (state/batch=<id>, seed strictly
    * below own id, overwrite on replay).
    *
    * Sketch CONTENTS are merge-order-dependent (see MrlSketch scaladoc),
    * so the stream ≡ batch pin is on the invariants: exact counts and
    * the rank-error envelope — StreamingSpec asserts both.
    */
  def quantileAppender(
      docs: DataFrame,
      statePath: String,
      checkpointPath: String,
      groupCol: String = "source",
      valueCol: String = "n_tokens",
      k: Int = 256,
  ): StreamingQuery = {
    import graft.functions.GraftFunctions
    docsStreamForeach(docs, checkpointPath) { (batch, batchId) =>
      val spark = batch.sparkSession
      val fresh = batch
        .groupBy(col(groupCol))
        .agg(GraftFunctions.quantileSketch(col(valueCol), k).as("sk"))
      val versions = stateVersionsBelow(spark, statePath, batchId)
      val merged =
        if (versions.isEmpty) fresh
        else fresh.unionByName(
          loadKeyedState(spark, s"$statePath/batch=${versions.max}", groupCol))
          .groupBy(groupCol)
          .agg(GraftFunctions.quantileSketchMerge(col("sk")).as("sk"))
      merged.write.mode("overwrite").parquet(s"$statePath/batch=$batchId")
    }
  }

  /** STANDING FREQUENT-TERMS MAINTENANCE: the Misra–Gries twin of
    * [[quantileAppender]] — each micro-batch summarizes `termCol` per
    * `groupCol` with [[graft.functions.MgSummary]] and folds it into the
    * standing per-group summaries (k counters each, deterministic
    * memory). The continuously-maintained vocabulary/heavy-hitter
    * watchlist: the n/(k+1) undercount envelope survives the fold
    * (mergeable-summaries construction), so any term above threshold in
    * the corpus-so-far is guaranteed present in the standing state.
    * Same replay-safe versioned layout.
    */
  def mgAppender(
      docs: DataFrame,
      statePath: String,
      checkpointPath: String,
      groupCol: String = "source",
      termCol: String = "term",
      k: Int = 256,
  ): StreamingQuery = {
    import graft.functions.GraftFunctions
    docsStreamForeach(docs, checkpointPath) { (batch, batchId) =>
      val spark = batch.sparkSession
      val fresh = batch
        .groupBy(col(groupCol))
        .agg(GraftFunctions.mgTopK(col(termCol), k).as("sk"))
      val versions = stateVersionsBelow(spark, statePath, batchId)
      val merged =
        if (versions.isEmpty) fresh
        else fresh.unionByName(
          loadKeyedState(spark, s"$statePath/batch=${versions.max}", groupCol))
          .groupBy(groupCol)
          .agg(GraftFunctions.mgMerge(col("sk")).as("sk"))
      merged.write.mode("overwrite").parquet(s"$statePath/batch=$batchId")
    }
  }

  /** STANDING EXACT-AGGREGATE MAINTENANCE: the IVM member of the
    * appender family — each micro-batch condenses to its per-key
    * [[graft.core.Ivm.aggState]] (count/sum/min/max, sums in the
    * caller's decimal type) and folds into the standing state via
    * [[graft.core.Ivm.mergeAggStates]]. Unlike the sketch appenders the
    * state is EXACT, so the stream ≡ batch pin is full equality: the
    * standing table after N micro-batches is bit-identical to a one-shot
    * aggregate of everything ingested (StreamingSpec asserts it). State
    * size is the key cardinality — the usual IVM contract; at corpus
    * scale the state table is bucketed on the keys so the fold's
    * union + re-agg needs no state-side exchange. Same replay-safe
    * versioned layout as the other appenders.
    *
    * `valueCol` must already be deterministic (decimal-cast) — it is
    * summed as-is.
    */
  def ivmAppender(
      docs: DataFrame,
      statePath: String,
      checkpointPath: String,
      keys: Seq[String],
      valueCol: String,
  ): StreamingQuery = {
    import graft.core.Ivm
    docsStreamForeach(docs, checkpointPath) { (batch, batchId) =>
      val spark = batch.sparkSession
      val fresh = Ivm.aggState(batch, keys, valueCol)
      val versions = stateVersionsBelow(spark, statePath, batchId)
      val merged =
        if (versions.isEmpty) fresh
        else Ivm.mergeAggStates(
          spark.read.parquet(s"$statePath/batch=${versions.max}"),
          fresh, keys)
      merged.write.mode("overwrite").parquet(s"$statePath/batch=$batchId")
    }
  }

  /** STANDING CHANGELOG (CDC) MAINTENANCE: the retraction-capable member
    * of the appender family — the input stream is a SIGNED changelog
    * (rows carry `opCol` = +1 insert / -1 retract, the shape every CDC
    * feed and streaming changelog engine emits), each micro-batch
    * condenses to its [[graft.core.Ivm.signedAggState]] and folds with
    * [[graft.core.Ivm.mergeSignedStates]]. Unlike [[ivmAppender]]
    * (append-only), deletes maintain the view: keys whose support
    * reaches zero leave it, and a retraction for a row never inserted
    * fails LOUDLY at read time ([[graft.core.Ivm.finishSigned]] — read
    * the standing state through it). Stream ≡ batch is full equality:
    * the finished state after N micro-batches equals a one-shot
    * aggregate of the surviving multiset, bit for bit (StreamingSpec).
    * State size is key cardinality; the fold is O(|delta| + one
    * co-partitioned state merge) — the usual contract. `valueCol` must
    * already be deterministic (decimal-cast); same versioned replay-safe
    * layout as every appender here.
    */
  def changelogAppender(
      docs: DataFrame,
      statePath: String,
      checkpointPath: String,
      keys: Seq[String],
      valueCol: String,
      opCol: String = "op",
  ): StreamingQuery = {
    import graft.core.Ivm
    docsStreamForeach(docs, checkpointPath) { (batch, batchId) =>
      val spark = batch.sparkSession
      val fresh = Ivm.signedAggState(batch, keys, valueCol, opCol)
      val versions = stateVersionsBelow(spark, statePath, batchId)
      val merged =
        if (versions.isEmpty) fresh
        else Ivm.mergeSignedStates(
          spark.read.parquet(s"$statePath/batch=${versions.max}"),
          fresh, keys)
      merged.write.mode("overwrite").parquet(s"$statePath/batch=$batchId")
    }
  }

  /** STANDING LEADERBOARD MAINTENANCE: the exact-top-k member of the
    * appender family — each micro-batch condenses to per-group
    * [[graft.functions.TopKAgg]] states (≤k (value, id) pairs each,
    * canonical value DESC / id ASC order) and folds into the standing
    * leaderboards with the MERGE aggregate. Like [[ivmAppender]] the
    * state is EXACT, so the stream ≡ batch pin is full equality: the
    * standing top-k after N micro-batches is bit-identical to a one-shot
    * window ranking of everything ingested (StreamingSpec asserts it) —
    * at a standing cost of k pairs per group, never a history rescan.
    * Doubly replay-tolerant: the versioned state layout replays cleanly
    * like every appender here, AND TopKState.merge is a (value, id) SET
    * union, so an at-least-once re-delivery of the same pair cannot
    * double-insert and evict a genuinely distinct entry. (Top-k under
    * RETRACTION is deliberately not this operator — deletes need the
    * live-row support table, see [[graft.core.Ivm.topKFromSupport]].)
    *
    * State schema (shared by the sketch-appender family): the caller's
    * `groupCol` name is preserved as the key column; the summary column
    * is always "sk". Versions written before r13 carry the literal "g"
    * as the key column — loads rename transparently ([[loadKeyedState]])
    * so an existing state store survives the upgrade.
    */
  def topKAppender(
      docs: DataFrame,
      statePath: String,
      checkpointPath: String,
      groupCol: String,
      valueCol: String,
      idCol: String,
      k: Int = 10,
  ): StreamingQuery = {
    import graft.functions.GraftFunctions
    docsStreamForeach(docs, checkpointPath) { (batch, batchId) =>
      val spark = batch.sparkSession
      val fresh = batch
        .groupBy(col(groupCol))
        .agg(GraftFunctions.topK(col(valueCol), col(idCol), k).as("sk"))
      val versions = stateVersionsBelow(spark, statePath, batchId)
      val merged =
        if (versions.isEmpty) fresh
        else fresh.unionByName(
          loadKeyedState(spark, s"$statePath/batch=${versions.max}", groupCol))
          .groupBy(groupCol)
          .agg(GraftFunctions.topKMerge(col("sk")).as("sk"))
      merged.write.mode("overwrite").parquet(s"$statePath/batch=$batchId")
    }
  }

  /** STANDING AS-OF ENRICHMENT: the streaming member of the as-of
    * family (r13 verdict item 6) — each events micro-batch is enriched
    * with the latest-at-or-before (earliest-at-or-after when
    * `forward`) dimension row per key through the custom physical
    * operator [[graft.core.AsOf.asOfJoinExec]], against the STANDING
    * dimension at `dimPath`: a slowly-APPENDED parquet table (quote
    * feed, reference prices, sensor calibrations) maintained outside
    * this stream. The snapshot is re-read each micro-batch, so a
    * dimension row that lands between micro-batches enriches every
    * LATER batch — the standing contract, same shape as
    * [[bm25ServeStream]]'s frozen-index serving but with a moving
    * index. Enriched rows land at `resultsPath/batch=<id>` (overwrite:
    * a replayed batch REPLACES its partition, never duplicates;
    * readers consume the whole partitioned dataset).
    *
    * This is the BIG-dimension member of the streaming as-of pair:
    * [[graft.streaming.EventsStream.asOfEnrich]] broadcasts a per-key
    * version-history array inside the streaming plan (the SCD lookup —
    * right when the dimension fits the broadcast budget); this appender
    * runs the full sort-merge physical operator per micro-batch, so the
    * dimension can be arbitrarily large and freshly re-read each batch.
    *
    * Stream ≡ batch: per micro-batch the output IS
    * `asOfJoinExec(batch, snapshot, …)` by construction — StreamingSpec
    * pins equality against the batch operator per snapshot, plus the
    * growth-visibility split (a dim row appended mid-stream enriches
    * the later batch only). Time columns follow the exec's contract
    * (same type both sides; LONG epoch-ns when `toleranceNs` is set).
    *
    * Replay caveat — the one input this appender does not own: output
    * is a pure function of (batch, dimension snapshot), and the
    * snapshot can GROW between a batch's first run and a replay, so a
    * replayed batch may re-enrich against later dimension rows
    * (fresher, but not bit-identical). When bit-exact replay matters
    * more than freshness, version the dimension like the appender
    * states (append to `dimPath/batch=<id>` and enrich against a
    * pinned view).
    */
  def asOfEnrichAppender(
      events: DataFrame,
      dimPath: String,
      resultsPath: String,
      checkpointPath: String,
      leftKey: String,
      leftTime: String,
      rightKey: String,
      rightTime: String,
      payload: Seq[String],
      forward: Boolean = false,
      toleranceNs: Option[Long] = None,
  ): StreamingQuery =
    docsStreamForeach(events, checkpointPath) { (batch, batchId) =>
      val dim = batch.sparkSession.read.parquet(dimPath)
      graft.core.AsOf.asOfJoinExec(batch, dim, leftKey, leftTime,
          rightKey, rightTime, payload, forward, toleranceNs)
        .write.mode("overwrite").parquet(s"$resultsPath/batch=$batchId")
    }

  /** Start `df` as an append-mode stream checkpointed at
    * `checkpointPath` that runs `f(batch, batchId)` on every micro-batch,
    * fired by `trigger` (default: Spark's own default, ProcessingTime(0)
    * — the next batch as soon as the previous one ends). Every
    * foreachBatch sink in this package starts through here.
    */
  private[streaming] def docsStreamForeach(
      df: DataFrame,
      checkpointPath: String,
      trigger: Trigger = Trigger.ProcessingTime(0L))(
      f: (DataFrame, Long) => Unit): StreamingQuery =
    df.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointPath)
      .trigger(trigger)
      .foreachBatch(f)
      .start()

  /** Streaming fuzzy-exact dedup: drop any document whose normalized
    * (case/punctuation/whitespace) fingerprint was already seen within the
    * watermark horizon — re-crawled pages with cosmetic edits never
    * reach the corpus. State is one fingerprint per surviving doc and
    * expires with the watermark (bounded on an infinite feed); the
    * within-horizon semantics match the batch `q_norm_dedup` collapse
    * exactly — both hash TextAnalysis.normalizeForDedup, one definition.
    *
    * `eventTimeCol` is the ingest timestamp the watermark rides on.
    */
  def dedupedDocs(
      docs: DataFrame,
      eventTimeCol: String = "ingest_time",
      watermark: String = "10 minutes",
      textCol: String = "text",
  ): DataFrame =
    docs
      .withColumn("fp", TextAnalysis.fingerprintNormMd5(col(textCol)))
      .withWatermark(eventTimeCol, watermark)
      .dropDuplicatesWithinWatermark("fp")

  /** FROZEN-INDEX near-dup ingest gate: each micro-batch runs the exact
    * prefix-filter join ([[graft.similarity.SetSimJoin.selfJoinIncrement]])
    * against a standing corpus index and drops any arriving document
    * whose shingle-set Jaccard against a STORED document reaches `t`
    * — the exact-similarity stage that sits between [[dedupedDocs]]'s
    * fingerprint equality and [[cmsGated]]'s frequency heuristics in an
    * ingest stack.
    *
    * Contract (the [[qualityModelGated]] shape): the keep/drop decision
    * is a pure function of (document, frozen index) — batch-internal
    * pairs are deliberately NOT consulted, so micro-batching is
    * invisible and gated output ≡ one batch filter over the same docs
    * (StreamingSpec pin). Within-feed duplicates are the upstream
    * fingerprint stage's job; newly-arrived near-dup CLUSTERS accumulate
    * until the periodic index rebuild folds survivors in — the standard
    * frozen-model refresh cadence. The frozen (df, token) order stays
    * LOSSLESS under drift (SetSimJoin.buildIndex scaladoc), so the gate
    * never misses a qualifying store match no matter how stale the
    * dictionary.
    */
  def setsimGate(
      docs: DataFrame,
      index: (DataFrame, DataFrame),
      outPath: String,
      checkpointPath: String,
      t: Double = 0.5,
      idCol: String = "doc_id",
      textCol: String = "text",
      shingleLen: Int = 3,
  ): StreamingQuery =
    docsStreamForeach(docs, checkpointPath) { (batch, _) =>
      val hits = graft.similarity.SetSimJoin
        .selfJoinIncrement(
          batch, col(idCol), TextAnalysis.wordShingles(col(textCol), shingleLen), index, t)
        .filter(col("side") === "index")
        .select(col("batch_id").as(idCol))
        .distinct()
      batch.join(hits, Seq(idCol), "left_anti")
        .write.mode("append").parquet(outPath)
    }

  /** Containment ingest gate: drop any micro-batch document that is
    * (mostly) a QUOTE of the standing corpus — batch_in_index
    * containment ≥ t against a frozen [[graft.similarity.SetSimJoin.buildIndex]]
    * store. Keep/drop is a pure function of (document, frozen index),
    * so micro-batching is invisible (StreamingSpec pins stream ≡ one
    * batch filter); the near-dup setsimGate catches resemblance, this
    * catches subset-ness a Jaccard bar misses.
    */
  def containmentGate(
      docs: DataFrame,
      index: (DataFrame, DataFrame),
      outPath: String,
      checkpointPath: String,
      t: Double = 0.5,
      idCol: String = "doc_id",
      textCol: String = "text",
      shingleLen: Int = 3,
  ): StreamingQuery =
    docsStreamForeach(docs, checkpointPath) { (batch, _) =>
      val hits = graft.similarity.SetSimJoin
        .containmentIncrement(
          batch, col(idCol), TextAnalysis.wordShingles(col(textCol), shingleLen), index, t)
        .filter(col("side") === "batch_in_index")
        .select(col("doc_a").as(idCol))
        .distinct()
      batch.join(hits, Seq(idCol), "left_anti")
        .write.mode("append").parquet(outPath)
    }

  /** Stateless PII ingest gate: drop any document containing a
    * Luhn-VALID card-number candidate ([[TextAnalysis.containsValidPan]]
    * — a bare 13–19-digit run with a failing checksum passes, a real
    * PAN does not). Pure per-row predicate, so micro-batching is
    * invisible: the streamed survivors are exactly the batch filter's
    * (StreamingSpec pins it). Null text passes, matching qualityGated's
    * "null predicate → keep" convention via the explicit coalesce.
    */
  def piiGate(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.filter(!coalesce(TextAnalysis.containsValidPan(col(textCol)), lit(false)))

  /** Stateless TOKENIZER-HEALTH gate: drop documents whose WordPiece
    * unknown-piece rate exceeds `maxUnkPct` percent — the
    * vocabulary/script-mismatch filter an ingest runs once a tokenizer
    * is frozen (a doc the tokenizer can't cover degrades training).
    * One greedy-kernel walk per doc ([[graft.functions.WordPieceEncode]],
    * frozen inventory rides the codegen'd projection); the rate compare
    * is exact integer arithmetic (n_unk·100 ≤ pct·n_pieces — no float
    * thresholds). Survivors keep an `unk_pct_x100`-free schema: the gate
    * is a pure filter, so stream ≡ batch by construction; StreamingSpec
    * pins it on a mixed-script feed. Null-text docs drop (nothing to
    * tokenize — same convention as the quality gates).
    */
  def unkRateGate(
      docs: DataFrame,
      pieces: Seq[String],
      maxPieceLen: Int = 6,
      maxUnkPct: Int = 10,
      textCol: String = "text",
  ): DataFrame = {
    import graft.functions.GraftFunctions
    val e = GraftFunctions.wordpieceEncode(col(textCol), pieces, maxPieceLen)
    docs.filter(coalesce(
      e.getField("n_unk") * 100 <= lit(maxUnkPct.toLong) * e.getField("n_pieces"),
      lit(false)))
  }

  /** [[unkRateGate]] for a frozen UNIGRAM-LM model: same exact-integer
    * rate compare, but the walk is the Viterbi kernel
    * ([[graft.functions.UnigramEncode]]) — the health gate matching the
    * tokenizer actually deployed matters because greedy and Viterbi
    * segmentations count unknowns identically only on text both can
    * cover; near the vocabulary's edge the deployed model's own rate is
    * the truthful signal. Same stream ≡ batch / null-drop conventions.
    */
  def unigramUnkRateGate(
      docs: DataFrame,
      model: Seq[(String, Long)],
      maxPieceLen: Int = 6,
      maxUnkPct: Int = 10,
      textCol: String = "text",
  ): DataFrame = {
    import graft.functions.GraftFunctions
    val e = GraftFunctions.unigramEncode(col(textCol), model, maxPieceLen)
    docs.filter(coalesce(
      e.getField("n_unk") * 100 <= lit(maxUnkPct.toLong) * e.getField("n_pieces"),
      lit(false)))
  }

  /** Stateless BLOCKLIST gate: drop any document containing one of
    * `blocked` (case-insensitive), annotate survivors with the total hit
    * count across the watchlist — ONE Aho-Corasick walk per document
    * ([[graft.functions.MultiMatchCounts]], the automaton rides the
    * codegen'd projection) regardless of list size, where a regexp
    * blocklist costs k passes. The scrub-list gate every web-scale
    * ingest runs; stream ≡ batch by construction (same expression), and
    * StreamingSpec pins it.
    */
  def blocklistGate(
      docs: DataFrame,
      blocked: Seq[String],
      watch: Seq[String] = Nil,
      textCol: String = "text",
  ): DataFrame = {
    import graft.functions.GraftFunctions
    val low = lower(col(textCol))
    val blockedHits = aggregate(
      GraftFunctions.multiMatchCounts(low, blocked.map(_.toLowerCase)),
      lit(0L), (acc, x) => acc + x)
    val watchHits =
      if (watch.isEmpty) lit(0L)
      else aggregate(
        GraftFunctions.multiMatchCounts(low, watch.map(_.toLowerCase)),
        lit(0L), (acc, x) => acc + x)
    docs
      .withColumn("blocked_hits", coalesce(blockedHits, lit(0L)))
      .withColumn("watch_hits", coalesce(watchHits, lit(0L)))
      .filter(col("blocked_hits") === 0L)
      .drop("blocked_hits")
  }
}
