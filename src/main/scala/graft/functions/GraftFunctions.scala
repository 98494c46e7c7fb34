package graft.functions

import org.apache.spark.sql.{Column, GraftShim}

/** Column-API façade over graft's custom Catalyst expressions, mirroring
  * `org.apache.spark.sql.functions`' style. Also registers them as SQL
  * functions (`graft_erf`, `graft_simhash64`, `graft_cosine`).
  */
object GraftFunctions {

  def erf(c: Column): Column =
    GraftShim.toColumn(Erf(GraftShim.toExpression(c)))

  def erfc(c: Column): Column =
    GraftShim.toColumn(Erfc(GraftShim.toExpression(c)))

  def simhash64(tokens: Column): Column =
    GraftShim.toColumn(SimHash64(GraftShim.toExpression(tokens)))

  def cosineSim(a: Column, b: Column): Column =
    GraftShim.toColumn(CosineSimilarity(GraftShim.toExpression(a), GraftShim.toExpression(b)))

  /** All m PQ subspace codes of a vector in one codegen'd pass (codebooks
    * embedded as a plan-time constant); see [[PqEncodeCodes]].
    */
  def pqEncodeCodes(vec: Column, books: Array[Array[Array[Double]]]): Column =
    GraftShim.toColumn(PqEncodeCodes(GraftShim.toExpression(vec), books))

  /** PQ asymmetric (ADC) distance Σ_s lut[s][codes[s]] as one codegen'd
    * call; see [[AdcDistance]].
    */
  def adcDistance(codes: Column, lut: Column): Column =
    GraftShim.toColumn(AdcDistance(GraftShim.toExpression(codes), GraftShim.toExpression(lut)))

  /** Hilbert-curve index of two integer dims at bit order `bits` (one
    * codegen'd walk per row; see [[HilbertIndex]]).
    */
  def hilbert(x: Column, y: Column, bits: Int = 16): Column =
    GraftShim.toColumn(HilbertIndex(
      GraftShim.toExpression(x.cast("long")),
      GraftShim.toExpression(y.cast("long")), bits))

  /** Jaro-Winkler similarity (DuckDB-exact semantics; see kernel doc). */
  def jaroWinkler(a: Column, b: Column): Column =
    GraftShim.toColumn(JaroWinkler(GraftShim.toExpression(a), GraftShim.toExpression(b)))

  /** 64-bit perceptual dHash of a binary image column (null when the
    * bytes don't decode) — the image near-dup key.
    */
  def imageDHash(bytes: Column): Column =
    GraftShim.toColumn(ImageDHash(GraftShim.toExpression(bytes)))

  /** True (unrestricted) Damerau-Levenshtein distance, DuckDB-variant-exact. */
  def damerauLevenshtein(a: Column, b: Column): Column =
    GraftShim.toColumn(DamerauLevenshtein(GraftShim.toExpression(a), GraftShim.toExpression(b)))

  /** Per-pattern occurrence counts in one Aho-Corasick pass (position i
    * counts `patterns(i)`); see kernel doc for the overlap semantics.
    */
  def multiMatchCounts(text: Column, patterns: Seq[String]): Column =
    GraftShim.toColumn(MultiMatchCounts(GraftShim.toExpression(text), patterns))

  /** Unicode normalization (form in NFC/NFD/NFKC/NFKD). */
  def unicodeNorm(text: Column, form: String = "NFC"): Column =
    GraftShim.toColumn(UnicodeNorm(GraftShim.toExpression(text), form))

  def minhashShingles(tokens: Column, n: Int, k: Int): Column =
    GraftShim.toColumn(MinHashShingles(GraftShim.toExpression(tokens), n, k))

  /** One-pass word n-gram shingles over a token array. */
  def wordShingles(tokens: Column, n: Int): Column =
    GraftShim.toColumn(WordShingles(GraftShim.toExpression(tokens), n))

  /** Greedy BPE segmentation of a word under a frozen merge list. */
  def bpeEncodeWord(word: Column, merges: Seq[(String, String)]): Column =
    GraftShim.toColumn(BpeEncodeWord(GraftShim.toExpression(word), merges))

  /** One-pass next-fit bin assignment over a doc-size array, seeded
    * with a standing (bin, fill) tail.
    */
  def nextFitBins(sizes: Column, bin0: Column, fill0: Column, ctxLen: Long): Column =
    GraftShim.toColumn(NextFitBins(
      GraftShim.toExpression(sizes), GraftShim.toExpression(bin0),
      GraftShim.toExpression(fill0), ctxLen))

  /** Winnowing rolling-hash fingerprints (k-gram length, window size). */
  def winnow(text: Column, k: Int, w: Int): Column =
    GraftShim.toColumn(Winnow(GraftShim.toExpression(text), k, w))

  /** Winnowing-selected k-gram positions (1-based, ascending) — the
    * content-defined anchors for alignment-independent substring dedup.
    */
  def winnowAnchors(text: Column, k: Int, w: Int): Column =
    GraftShim.toColumn(WinnowAnchors(GraftShim.toExpression(text), k, w))

  /** xxhash64 of every gramLen-char window at `stride`, zero-copy — the
    * hash half of hash-then-verify substring dedup (see [[GramHashes]]).
    */
  def gramHashes(text: Column, gramLen: Int, stride: Int): Column =
    GraftShim.toColumn(GramHashes(GraftShim.toExpression(text), gramLen, stride))

  /** All (i<j) element pairs of an array as array<struct<a,b>> in one
    * codegen'd pass — explode this instead of the posexplode×slice
    * successor chain (see [[SuccessorPairs]]).
    *
    * Contract: at most 46,340 elements per array
    * (`SuccessorPairsImpl.MaxElements`). A larger array fails the query
    * with `successor_pairs: array too large to pair (n elements)`;
    * callers bound n upstream (bucket caps, document-frequency caps,
    * degree caps).
    */
  def successorPairs(arr: Column): Column =
    GraftShim.toColumn(SuccessorPairs(GraftShim.toExpression(arr)))

  /** Ordered regex rulebook in one fused pipeline — the direct-API form
    * of the nested `regexp_replace` fold plans.FuseRegexChain rewrites
    * (sequential semantics preserved exactly; see RegexChainImpl).
    */
  def regexChain(text: Column, rules: Seq[(String, String)]): Column =
    GraftShim.toColumn(RegexChainReplace(GraftShim.toExpression(text),
      rules.map(_._1), rules.map(_._2)))

  /** One-pass text statistics (token/char counts, stopword hits, lang). */
  def textStats(text: Column): Column =
    GraftShim.toColumn(TextStats(GraftShim.toExpression(text)))

  /** One-pass per-code-point Shannon entropy → struct<n_chars,
    * n_distinct, ent_nats>; (0,0,0.0) on empty input.
    */
  def charEntropy(text: Column): Column =
    GraftShim.toColumn(CharEntropy(GraftShim.toExpression(text)))

  /** DEFLATE compressibility → struct<n_bytes, deflate_bytes, ratio>. */
  def deflateStats(text: Column): Column =
    GraftShim.toColumn(DeflateStats(GraftShim.toExpression(text)))

  /** One-pass Gini; input must be array<double>. */
  def gini(values: Column): Column =
    GraftShim.toColumn(Gini(GraftShim.toExpression(values)))

  /** One-pass HPA classification; input must be array<double>. */
  def hpaClassify(values: Column, low: Double): Column =
    GraftShim.toColumn(HpaClassify(GraftShim.toExpression(values), low))

  /** Image-header metadata struct from a binary column through a
    * stateless codec; null struct for undecodable bytes.
    */
  def imageMeta(bytes: Column, codec: graft.multimodal.Multimodal.ImageCodec): Column =
    GraftShim.toColumn(ImageMeta(GraftShim.toExpression(bytes), codec))

  /** Audio-header metadata struct from a binary column through a
    * stateless codec; null struct for undecodable bytes.
    */
  def audioMeta(bytes: Column, codec: graft.multimodal.Multimodal.AudioCodec): Column =
    GraftShim.toColumn(AudioMeta(GraftShim.toExpression(bytes), codec))

  /** Video-container metadata struct from a binary column through a
    * stateless codec; null struct for undecodable bytes.
    */
  def videoMeta(bytes: Column, codec: graft.multimodal.Multimodal.VideoCodec): Column =
    GraftShim.toColumn(VideoMeta(GraftShim.toExpression(bytes), codec))

  /** Codegen'd Bloom-sketch membership probe over an integral key column
    * (null → false). The sketch travels by Broadcast handle, not value.
    * The key is cast to long here; the expression itself rejects
    * non-long children at analysis.
    */
  def bloomMightContain(
      key: Column,
      sketch: org.apache.spark.broadcast.Broadcast[org.apache.spark.util.sketch.BloomFilter],
  ): Column =
    GraftShim.toColumn(BloomMightContain(GraftShim.toExpression(key.cast("long")), sketch))

  /** Count-Min estimate probe (codegen'd; see [[CmsEstimate]]). */
  def cmsEstimate(
      term: Column,
      sketch: org.apache.spark.broadcast.Broadcast[org.apache.spark.util.sketch.CountMinSketch],
  ): Column =
    GraftShim.toColumn(CmsEstimate(GraftShim.toExpression(term), sketch))

  /** Mergeable deterministic quantile sketch over a double column →
    * binary (see [[MrlSketch]]). Probe with [[sketchQuantiles]]; fold
    * shard sketches with [[quantileSketchMerge]].
    */
  def quantileSketch(c: Column, k: Int): Column =
    GraftShim.toColumn(QuantileSketchAgg(
      GraftShim.toExpression(c.cast("double")), k).toAggregateExpression())

  /** Weighted build: each row adds `w` units of mass at its value. */
  def quantileSketchWeighted(c: Column, w: Column, k: Int): Column =
    GraftShim.toColumn(WeightedQuantileSketchAgg(
      GraftShim.toExpression(c.cast("double")),
      GraftShim.toExpression(w.cast("long")), k).toAggregateExpression())

  /** Fold serialized sketches (shard-then-union / incremental). */
  def quantileSketchMerge(sketch: Column): Column =
    GraftShim.toColumn(QuantileSketchMergeAgg(
      GraftShim.toExpression(sketch)).toAggregateExpression())

  /** Quantile estimates of a serialized sketch at constant fractions. */
  def sketchQuantiles(sketch: Column, fractions: Seq[Double]): Column =
    GraftShim.toColumn(SketchQuantiles(GraftShim.toExpression(sketch), fractions))

  /** Misra–Gries frequent-items summary over a string column → binary
    * (deterministic memory, deterministic UNDERcount; see [[MgSummary]]).
    */
  def mgTopK(term: Column, k: Int): Column =
    GraftShim.toColumn(MgTopKAgg(
      GraftShim.toExpression(term), k).toAggregateExpression())

  /** Fold serialized MG summaries (shard-then-union / incremental). */
  def mgMerge(summary: Column): Column =
    GraftShim.toColumn(MgMergeAgg(
      GraftShim.toExpression(summary)).toAggregateExpression())

  /** Surviving (term, est, n) counters of a serialized MG summary. */
  def mgEntries(summary: Column): Column =
    GraftShim.toColumn(MgEntries(GraftShim.toExpression(summary)))

  /** Exact bounded top-k by (value DESC, id ASC) → binary state (see
    * [[TopKState]]). Probe with [[topKEntries]]; fold shard states with
    * [[topKMerge]]. Exact and order-free, unlike the sketch kits.
    */
  def topK(value: Column, id: Column, k: Int): Column =
    GraftShim.toColumn(TopKAgg(
      GraftShim.toExpression(value.cast("double")),
      GraftShim.toExpression(id.cast("long")), k).toAggregateExpression())

  /** Fold serialized top-k states (shard-then-union / incremental). */
  def topKMerge(state: Column): Column =
    GraftShim.toColumn(TopKMergeAgg(
      GraftShim.toExpression(state)).toAggregateExpression())

  /** Kept (rank, id, v) pairs of a serialized top-k state, best first. */
  def topKEntries(state: Column): Column =
    GraftShim.toColumn(TopKEntries(GraftShim.toExpression(state)))

  /** Greedy longest-match subword segmentation against a frozen piece
    * inventory → struct<n_words,n_pieces,n_unk,n_piece_chars,seg> (see
    * [[graft.text.WordPiece]]).
    */
  def wordpieceEncode(text: Column, pieces: Seq[String], maxLen: Int): Column =
    GraftShim.toColumn(WordPieceEncode(GraftShim.toExpression(text), pieces, maxLen))

  /** Viterbi unigram-LM segmentation against a frozen (piece, micro-nat
    * log-prob) model → struct<n_words,n_pieces,n_unk,score_total,seg>
    * (see [[graft.text.Unigram]]).
    */
  def unigramEncode(text: Column, model: Seq[(String, Long)], maxLen: Int): Column =
    GraftShim.toColumn(UnigramEncode(GraftShim.toExpression(text),
      model.map(_._1), model.map(_._2), maxLen))

  /** Banded (Sakoe–Chiba) DTW distance between two BIGINT series (see
    * [[graft.functions.DtwBand]]).
    */
  def dtwBand(a: Column, b: Column, radius: Int): Column =
    GraftShim.toColumn(DtwBand(GraftShim.toExpression(a),
      GraftShim.toExpression(b), radius))
}
