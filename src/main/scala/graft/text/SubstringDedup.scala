package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Cross-document exact substring deduplication — the "remove long verbatim
  * spans shared across otherwise-distinct documents" training-data operator
  * (the suffix-array dedup of Lee et al. 2022, "Deduplicating Training Data
  * Makes Language Models Better", re-expressed Spark-first).
  *
  * A suffix array is a single-machine index; the distributed equivalent that
  * Catalyst can plan is gram-anchored span assembly:
  *
  *   1. anchor positions in every document — either EVERY position
  *      ([[gramStream]], stride 1: exhaustive, recall 1, ~gramLen× corpus
  *      amplification) or the winnowing-selected subset
  *      ([[winnowAnchorStream]]: ~2/(window+1) of positions, alignment-
  *      independent, the 100 TB configuration);
  *   2. shared-gram detection ([[sharedHits]]): ONE aggregation keyed on
  *      the gram text with MAP-SIDE partial combine — a hot gram collapses
  *      to a single (min, max, count) state per map partition, so no
  *      reduce task ever sees a gram's full occurrence list — then the
  *      position stream semi-joins the shared set. Ultra-hot shared grams
  *      (corpus boilerplate: license headers, whitespace runs) route
  *      through a BROADCAST semi-join and never enter the shuffled join;
  *      every remaining key has < hotGramOcc occurrences, well inside
  *      AQE's rebalancing envelope. (The previous formulation — min≠max
  *      over Window.partitionBy(gram) — shuffled the same bytes but
  *      funneled each gram's whole occurrence list through one window
  *      task: a skew bomb on boilerplate-heavy corpora, since window
  *      operators have no partial aggregation.)
  *   3. merge overlapping/adjacent anchor intervals into maximal spans
  *      with the gaps-and-islands pattern INSIDE each document (window
  *      partitioned by doc — parallel), keep spans ≥ `minSpan` chars.
  *
  * Every shuffle is keyed on gram or doc_id — never doc×doc, never a
  * global sort. The gram stream itself is generated (not shuffled) up to
  * three times — stats pass, hot branch, cold branch — a narrow recompute
  * that trades CPU for never materializing the ~gramLen× stream.
  *
  * Gram keying (r14): the stride path detects on xxhash64(gram) — one
  * long per position instead of a gramLen-char string, shrinking the
  * dominant shuffle ~3.5× — then VERIFIES candidates by their literal
  * gram text, so the result is bit-equal to text-keyed detection
  * (collisions only ever ADD candidate positions; see
  * [[sharedHitsHashed]]'s exactness argument). The winnowed/incremental
  * paths stay text-keyed: their anchor streams are already sparse and
  * their cross-index joins need the text as the key.
  */
object SubstringDedup {

  /** Maximal shared spans per document: (doc_id, span_start, span_end,
    * span_len, n_grams), 1-based inclusive character positions. A span is
    * the union of overlapping `gramLen`-char windows each of which appears
    * verbatim in at least `minDocs` distinct documents.
    *
    * @param hotGramOcc occurrence threshold above which a shared gram is
    *                   routed through the broadcast hot set (boilerplate
    *                   handling; exactness is routing-independent)
    */
  def sharedSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      gramLen: Int = 40,
      minSpan: Int = 60,
      minDocs: Int = 2,
      stride: Int = 1,
      hotGramOcc: Int = 4096,
  ): DataFrame = {
    require(gramLen >= 2 && stride >= 1 && minSpan >= gramLen,
      s"need gramLen>=2, stride>=1, minSpan>=gramLen; got ($gramLen, $stride, $minSpan)")
    val d = docs.select(col(idCol).as("doc_id"), col(textCol).as("text"))
    val hits = sharedHitsHashed(d, gramLen, stride, minDocs, hotGramOcc)
    assembleSpans(hits, gramLen, minSpan, gapTolerance = gramLen)
  }

  /** Stride-path shared-gram detection as HASH-THEN-VERIFY (r14): the
    * stride-1 gram stream is a ~gramLen× byte amplification of the
    * corpus, and the previous formulation generated, checkpointed,
    * aggregated and semi-joined it as 40-char STRINGS. Here the stream is
    * one xxhash64 LONG per position ([[graft.functions.GramHashes]] —
    * zero-copy, no per-position string), the occurrence stats and hot/
    * cold routing run on the 16-byte (hash, doc) rows, and only the
    * CANDIDATE positions read their gram text back (one keyed join to
    * the corpus-sized docs table — tiny next to the gram stream) for an
    * exact text-keyed verification.
    *
    * Exactness: candidate-ness is a function of the gram TEXT (equal
    * text ⇒ equal hash ⇒ same shared flag), so every occurrence of a
    * given gram text is either entirely inside or entirely outside the
    * candidate set — the text-keyed verification therefore sees EVERY
    * occurrence of each candidate text and reproduces exactly the
    * text-keyed detection's shared set; hash collisions only enlarge the
    * candidate set, never the verified one. (The winnowed/incremental
    * paths keep the text-keyed [[sharedHits]] — their anchor streams are
    * already ~2/(window+1)-sparse and their cross-index joins need the
    * gram text as the key.) Idle A/B at sf0.1: q_substring_dedup
    * 4.63 → measured below, q_substring_scrub likewise; oracle-identical
    * by the argument above (the DuckDB oracle detects by literal text).
    */
  private def sharedHitsHashed(
      d: DataFrame,
      gramLen: Int,
      stride: Int,
      minDocs: Int,
      hotGramOcc: Int,
  ): DataFrame = {
    require(minDocs >= 2 && hotGramOcc >= 2,
      s"need minDocs>=2, hotGramOcc>=2; got ($minDocs, $hotGramOcc)")
    // (doc_id, pos, gh): 1 long per position; three consumers (stats +
    // hot/cold semi-join left sides) — checkpointed once, at ~1/3 the
    // bytes of the string-gram stream this replaces.
    val g = d.select(col("doc_id"),
        posexplode(graft.functions.GraftFunctions.gramHashes(col("text"), gramLen, stride))
          .as(Seq("i", "gh")))
      .select(col("doc_id"), (lit(1L) + col("i").cast("long") * stride).as("pos"), col("gh"))
      .localCheckpoint(false)
    val base = g.groupBy("gh")
    val stats = (
      if (minDocs == 2)
        base.agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"),
            count(lit(1)).as("occ"))
          .filter(col("mn") =!= col("mx"))
      else
        base.agg(countDistinct(col("doc_id")).as("nd"), count(lit(1)).as("occ"))
          .filter(col("nd") >= minDocs)
    ).localCheckpoint(false)
    val hot = stats.filter(col("occ") >= hotGramOcc).select("gh")
    val cold = stats.filter(col("occ") < hotGramOcc).select("gh")
    val candPos = g.join(broadcast(hot), Seq("gh"), "left_semi")
      .unionByName(g.join(cold, Seq("gh"), "left_semi"))
      .select("doc_id", "pos")
    // Verification by literal text, candidates only: two consumers
    // (verify agg + the final semi), checkpointed once.
    val candGrams = candPos.join(d, Seq("doc_id"))
      .select(col("doc_id"), col("pos"),
        col("text").substr(col("pos").cast("int"), lit(gramLen)).as("gram"))
      .localCheckpoint(false)
    val verified = (
      if (minDocs == 2)
        candGrams.groupBy("gram")
          .agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
          .filter(col("mn") =!= col("mx"))
      else
        candGrams.groupBy("gram")
          .agg(countDistinct(col("doc_id")).as("nd"))
          .filter(col("nd") >= minDocs)
    ).select("gram")
    candGrams.join(verified, Seq("gram"), "left_semi").select("doc_id", "pos")
  }

  /** The winnow-anchored scale configuration: identical span-assembly
    * machinery, but positions come from content-defined anchors
    * (winnowing — Schleimer, Wilkerson, Aiken, SIGMOD'03) instead of
    * every offset. Two documents sharing any substring of length ≥
    * `gramLen + window − 1` select at least one IDENTICAL anchor inside
    * it (the winnowing guarantee), regardless of where the copy sits in
    * either document — the alignment-independence `stride > 1` lacks —
    * while anchoring only ~2/(window+1) of positions: a ~(window/2)×
    * reduction of the gram stream, the difference between a ~40× and a
    * ~2× corpus amplification at 100 TB.
    *
    * Trade: reported span extents are CONSERVATIVE — [first shared
    * anchor, last shared anchor + gramLen − 1] ⊆ the true shared span
    * (edges can be missed by up to ~window−1 chars each side), and two
    * shared spans separated by < gramLen + window chars of unshared text
    * may merge. Detection is still exact: anchors compare by their
    * literal gram text (the rolling hash never leaves the kernel), so a
    * reported span is always genuinely shared gram-by-gram. Use
    * stride-1 [[sharedSpans]] when exact extents matter more than cost.
    */
  def sharedSpansWinnowed(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      gramLen: Int = 24,
      window: Int = 16,
      minSpan: Int = 60,
      minDocs: Int = 2,
      hotGramOcc: Int = 4096,
  ): DataFrame = {
    require(gramLen >= 2 && window >= 2 && minSpan >= gramLen,
      s"need gramLen>=2, window>=2, minSpan>=gramLen; got ($gramLen, $window, $minSpan)")
    val anchors = winnowAnchorStream(docs, idCol, textCol, gramLen, window)
    val hits = sharedHits(anchors, minDocs, hotGramOcc)
    // Inside one contiguous shared region consecutive selected anchors
    // are at most `window` apart (each window of `window` k-grams selects
    // one), so a break is only declared past gramLen + window.
    assembleSpans(hits, gramLen, minSpan, gapTolerance = gramLen + window)
  }

  /** The corpus half of INCREMENTAL substring dedup: winnow-anchor the
    * corpus ONCE into a (gram, doc_id, pos) index table, stored like any
    * other table. At 100 TB the index is written bucketed on `gram`
    * (`core/Layout`), so each arriving batch joins against it without
    * ever reshuffling the corpus — the anchor analogue of
    * [[graft.similarity.NearDup.incrementalCandidates]]'s signature
    * store.
    */
  def buildAnchorIndex(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      gramLen: Int = 24,
      window: Int = 16,
  ): DataFrame = winnowAnchorStream(docs, idCol, textCol, gramLen, window)

  /** Shared spans of a NEW document batch against (a) the stored corpus
    * anchor index and (b) the batch itself — never corpus × corpus. Only
    * the new batch is anchored; the corpus contributes its precomputed
    * index. Span extents follow [[sharedSpansWinnowed]]'s conservative
    * contract. The index side of the gram semi-join is pruned with a
    * broadcast of the (small) new batch's distinct grams before any
    * shuffle, so per-batch cost scales with the BATCH, not the corpus —
    * with a gram-bucketed index even that shuffle disappears.
    *
    * @param includeBatchInternal also detect batch-internal sharing
    *        (both copies flagged — the symmetric detection contract).
    *        `false` restricts to batch-vs-INDEX spans: the dedup-GATE
    *        shape ([[graft.streaming.DocsStream.substringDedupAppender]]),
    *        where flagging both in-batch copies would drop content
    *        entirely instead of keeping one.
    */
  def incrementalSharedSpans(
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      anchorIndex: DataFrame,
      gramLen: Int = 24,
      window: Int = 16,
      minSpan: Int = 60,
      hotGramOcc: Int = 4096,
      includeBatchInternal: Boolean = true,
  ): DataFrame = {
    require(gramLen >= 2 && window >= 2 && minSpan >= gramLen,
      s"need gramLen>=2, window>=2, minSpan>=gramLen; got ($gramLen, $window, $minSpan)")
    val newAnchors = winnowAnchorStream(newDocs, idCol, textCol, gramLen, window)
    // Corpus-shared: new positions whose gram exists anywhere in the
    // index. The index is cut down by the new batch's gram set FIRST, so
    // the corpus-scale table never joins whole. Join strategy is
    // AQE-decided, not a forced broadcast: a small ingest batch converts
    // to a runtime broadcast anyway, and a corpus-proportional batch
    // (benchmark slices at 100x) must shuffle instead of OOMing the
    // driver (the r13 sf10 lesson, see SparseSim.incrementalNeighbors).
    val batchGrams = newAnchors.select("gram").distinct()
    val indexGrams = anchorIndex
      .join(batchGrams, Seq("gram"), "left_semi")
      .select("gram").distinct()
    val crossHits = newAnchors
      .join(indexGrams, Seq("gram"), "left_semi")
      .select("doc_id", "pos")
    // Batch-internal sharing: the ordinary detection over the new batch.
    val hits =
      if (!includeBatchInternal) crossHits.dropDuplicates("doc_id", "pos")
      else crossHits
        .unionByName(sharedHits(newAnchors, minDocs = 2, hotGramOcc = hotGramOcc))
        .dropDuplicates("doc_id", "pos")
    assembleSpans(hits, gramLen, minSpan, gapTolerance = gramLen + window)
  }

  /** Shared-gram detection: positions of grams occurring in ≥ `minDocs`
    * distinct documents. One map-side-combining aggregation builds
    * per-gram (min doc, max doc, occurrences[, distinct docs]); the
    * position stream then semi-joins the shared set, with ultra-hot
    * grams (≥ hotGramOcc occurrences) carried by a broadcast semi-join
    * so no shuffled join key exceeds hotGramOcc rows.
    */
  private def sharedHits(grams: DataFrame, minDocs: Int, hotGramOcc: Int): DataFrame = {
    require(minDocs >= 2 && hotGramOcc >= 2,
      s"need minDocs>=2, hotGramOcc>=2; got ($minDocs, $hotGramOcc)")
    // The gram stream has THREE consumers here (the stats groupBy + the
    // hot/cold semi-join left sides) and stats has two (hot, cold) —
    // uncheckpointed, the corpus scan + gram kernel replays FOUR times
    // (idle A/B: q_substring_dedup 6.9 → 4.4 s, q_substring_scrub 7.4 → 5.3 s).
    // Materializing the gram stream is the deliberate trade: winnowed
    // anchors are ~2/(window+1) of the corpus, and one stored copy beats
    // three recomputes of the corpus scan; stride-1 callers who cannot
    // afford the copy should prefer the winnowed path at scale anyway.
    val g = grams.localCheckpoint(false)
    // minDocs == 2 (the operator's natural setting) needs only min≠max —
    // O(1) agg state; higher thresholds pay the exact countDistinct.
    val base = g.groupBy("gram")
    val stats = (
      if (minDocs == 2)
        base.agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"),
            count(lit(1)).as("occ"))
          .filter(col("mn") =!= col("mx"))
      else
        base.agg(countDistinct(col("doc_id")).as("nd"), count(lit(1)).as("occ"))
          .filter(col("nd") >= minDocs)
    ).localCheckpoint(false)
    val hot = stats.filter(col("occ") >= hotGramOcc).select("gram")
    val cold = stats.filter(col("occ") < hotGramOcc).select("gram")
    g.join(broadcast(hot), Seq("gram"), "left_semi")
      .unionByName(g.join(cold, Seq("gram"), "left_semi"))
      .select("doc_id", "pos")
  }

  /** Gaps-and-islands over each doc's hit positions: a new span starts
    * where the previous anchor's window no longer reaches this one
    * (pos > prev + gapTolerance). Per-doc window — parallel.
    */
  private def assembleSpans(
      hits: DataFrame,
      gramLen: Int,
      minSpan: Int,
      gapTolerance: Int,
  ): DataFrame = {
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    hits
      .withColumn("brk",
        when(col("pos") > lag(col("pos"), 1).over(byDoc) + gapTolerance, 1).otherwise(0))
      .withColumn("grp", sum(col("brk")).over(byDoc))
      .groupBy("doc_id", "grp")
      .agg(
        min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(gramLen - 1)).as("span_end"),
        count(lit(1)).as("n_grams"),
      )
      .withColumn("span_len", col("span_end") - col("span_start") + 1)
      .filter(col("span_len") >= minSpan)
      .select("doc_id", "span_start", "span_end", "span_len", "n_grams")
  }

  /** The REMOVAL half of the operator: cut every shared span from every
    * document except its canonical first occurrence, and return the
    * scrubbed corpus — what a training-data pipeline actually ships.
    *
    * Ownership policy: spans are grouped by their exact text; the copy in
    * the (min doc_id, min span_start) position survives, every other copy
    * is spliced out. A maximal span whose exact text no other document
    * reproduces (e.g. one doc's span merged two overlapping regions shared
    * with different partners) has no co-owner and is conservatively KEPT —
    * the policy never cuts text it cannot prove duplicated verbatim.
    *
    * The splice is relational, not procedural: per-doc cut intervals are
    * disjoint by construction (islands), so the retained text is the
    * ordered concat of the between-cut segments — a lag window + one
    * per-doc aggregation, both partitioned by doc. The ownership window
    * keys on the span text itself (exact, oracle-checkable); the spans
    * table holds only the duplicated regions — tiny next to the corpus —
    * so the wide key is affordable; a 100 TB run would key the window on
    * xxhash64(span_text) and carry the text only to tie-break collisions.
    */
  def removeShared(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      gramLen: Int = 40,
      minSpan: Int = 60,
      stride: Int = 1,
      hotGramOcc: Int = 4096,
  ): DataFrame = {
    val d = docs.select(col(idCol).as("doc_id"), col(textCol).as("text"))
    spliceNonCanonical(d, sharedSpans(d, "doc_id", "text", gramLen, minSpan,
      minDocs = 2, stride = stride, hotGramOcc = hotGramOcc))
  }

  /** The removal half at scale: a two-stage funnel (the same
    * candidates→verify shape as LSH near-dup). Stage 1 runs the cheap
    * winnow-anchored detection with the span threshold loosened to the
    * detection floor (`winnowGramLen` — every shared substring ≥
    * winnowGramLen + window − 1 chars is caught regardless of
    * alignment) purely to FLAG documents that carry shared text; stage 2
    * runs the exact stride-1 removal on that (typically tiny) subset
    * only. Unflagged documents pass through untouched with n_cuts = 0.
    *
    * Splicing NEEDS the exact stage: winnow extents differ per copy near
    * region edges (boundary-straddling windows select different anchors
    * in different neighbourhoods), so they can never key the exact-text
    * ownership group — a winnow-extent splice would find no co-owners
    * and cut nothing. The funnel keeps stride-1's exactness while paying
    * its ~gramLen× amplification only on documents already known to
    * duplicate something.
    *
    * Equivalence argument (enforced): stage 1 catches every shared
    * substring ≥ winnowGramLen + window − 1 chars; stage 2's atoms are
    * gramLen-char shared grams. With winnowGramLen + window − 1 ≤
    * gramLen, ANY document contributing a shared gram to any island is
    * itself flagged, so the subset contains every participant of every
    * span and subset detection ≡ full-corpus detection (spans, islands,
    * ownership, splice — all identical). A looser floor would let a doc
    * share a gram while escaping the flag, silently changing island
    * extents and ownership in the subset (observed: 204 vs 207 cut docs
    * at sf0.1 before this constraint).
    */
  def removeSharedFunneled(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      gramLen: Int = 40,
      minSpan: Int = 60,
      winnowGramLen: Int = 24,
      window: Int = 16,
      hotGramOcc: Int = 4096,
  ): DataFrame = {
    require(winnowGramLen + window - 1 <= gramLen,
      s"stage-1 floor winnowGramLen+window-1=${winnowGramLen + window - 1} must be <= gramLen=$gramLen " +
        "(otherwise a doc can share a gram yet escape the flag, breaking subset equivalence)")
    val d = docs.select(col(idCol).as("doc_id"), col(textCol).as("text"))
    val flagged = sharedSpansWinnowed(d, "doc_id", "text", winnowGramLen, window,
        minSpan = winnowGramLen, minDocs = 2, hotGramOcc = hotGramOcc)
      .select("doc_id").distinct()
    val cleaned = removeShared(d.join(flagged, Seq("doc_id"), "left_semi"),
      "doc_id", "text", gramLen, minSpan, stride = 1, hotGramOcc = hotGramOcc)
    d.join(flagged, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("text").as("text_clean"),
        lit(0L).as("n_cuts"), lit(0L).as("chars_removed"))
      .unionByName(cleaned)
  }

  /** Ownership + splice shared by both removal configurations: group
    * spans by exact text, keep the (min doc_id, min span_start) copy,
    * cut every other copy out of its document.
    */
  private def spliceNonCanonical(d: DataFrame, rawSpans: DataFrame): DataFrame = {
    val spans = rawSpans
      .join(d, Seq("doc_id"))
      .withColumn("span_text", col("text").substr(col("span_start").cast("int"), col("span_len").cast("int")))
    val owner = Window.partitionBy("span_text").orderBy(col("doc_id"), col("span_start"))
    val cuts = spans
      .withColumn("occ", row_number().over(owner))
      // rank within the span-text group decides survival; a group of size
      // 1 has only occ=1 (the no-co-owner case) and cuts nothing.
      .withColumn("n_occ", count(lit(1)).over(Window.partitionBy("span_text")))
      .filter(col("occ") > 1 && col("n_occ") > 1)
      .select(col("doc_id"), col("span_start"), col("span_end"), col("span_len"))
    // Between-cut segments: [prev_end+1, start-1] per cut, plus the tail.
    val byDoc = Window.partitionBy("doc_id").orderBy("span_start")
    val segs = cuts
      .withColumn("seg_from", coalesce(lag(col("span_end"), 1).over(byDoc), lit(0L)) + 1)
      .join(d, Seq("doc_id"))
      // text is functionally dependent on doc_id — grouping by both keeps
      // it addressable inside the aggregation without a first() wrapper.
      .groupBy("doc_id", "text")
      .agg(
        count(lit(1)).as("n_cuts"),
        sum(col("span_len")).as("chars_removed"),
        concat(
          // segments before each cut, in order…
          array_join(transform(
            sort_array(collect_list(struct(col("span_start"), col("seg_from")))),
            s => expr("text").substr(
              s.getField("seg_from").cast("int"),
              (s.getField("span_start") - s.getField("seg_from")).cast("int"))), ""),
          // …then the tail after the last cut.
          expr("text").substr((max(col("span_end")) + 1).cast("int"), length(expr("text")))
        ).as("text_clean"),
      )
      .drop("text")
    d.join(segs, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("text_clean"), col("text")).as("text_clean"),
        coalesce(col("n_cuts"), lit(0L)).as("n_cuts"),
        coalesce(col("chars_removed"), lit(0L)).as("chars_removed"),
      )
  }

  /** Sliding `gramLen`-char windows at `stride`: (doc_id, pos, gram) with
    * 1-based pos. Pure projection + Generate — no shuffle, codegen'd.
    */
  def gramStream(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      gramLen: Int,
      stride: Int,
  ): DataFrame = {
    val text = col(textCol)
    val lastStart = (length(text) - lit(gramLen - 1)).cast("long")
    // sequence(a, b) counts DOWN when b < a — guard short documents.
    val starts = when(lastStart >= 1L, sequence(lit(1L), lastStart, lit(stride.toLong)))
      .otherwise(array().cast("array<bigint>"))
    docs.select(
      col(idCol).as("doc_id"),
      explode(transform(starts, i =>
        struct(i.as("pos"), text.substr(i.cast("int"), lit(gramLen)).as("gram")))).as("g"))
      .select(col("doc_id"), col("g.pos").as("pos"), col("g.gram").as("gram"))
  }

  /** Content-defined anchor positions + their gram text: (doc_id, pos,
    * gram), 1-based. The winnowing kernel selects the positions; the
    * gram TEXT is read back with substr so downstream equality is exact
    * (the rolling hash never leaves the kernel). Pure projection +
    * Generate — no shuffle, codegen'd.
    */
  def winnowAnchorStream(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      gramLen: Int,
      window: Int,
  ): DataFrame = {
    val text = col(textCol)
    docs.select(
      col(idCol).as("doc_id"),
      text.as("__t"),
      explode(graft.functions.GraftFunctions.winnowAnchors(text, gramLen, window)).as("pos"))
      .select(col("doc_id"), col("pos"),
        col("__t").substr(col("pos").cast("int"), lit(gramLen)).as("gram"))
  }
}
