package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, LongType, StringType}

import graft.functions._

/** Library-level session extension: injects every graft kernel expression
  * as a SQL function, so the engine's surface is reachable from
  * `spark.sql(...)` as well as the Column API.
  *
  * Enable either way:
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  *   builder.withExtensions(new GraftExtensions()) ...  // what GraftSession does
  * }}}
  *
  * Injection happens at session build, before any query parses; every
  * session [[graft.GraftSession]] builds carries it, and a session built
  * elsewhere gets it with `spark.sql.extensions=graft.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.all.foreach { case (name, builder) =>
      ext.injectFunction(
        (FunctionIdentifier(name), new ExpressionInfo("graft.functions", name), builder))
    }
    // Library-level Catalyst rule: fuse the HOF token-count idiom into
    // the one-pass kernel, plan-wide (see graft.plans.FuseTokenCount).
    ext.injectOptimizerRule(_ => graft.plans.FuseTokenCount)
    // Rule #2: fuse the run-counting double-regexp_replace algebra into
    // the one-scan kernels (see graft.plans.FuseRegexCount).
    ext.injectOptimizerRule(_ => graft.plans.FuseRegexCount)
    // Rule #3: fuse nested regexp_replace rulebook chains into the
    // single-pipeline scrub kernel (see graft.plans.FuseRegexChain).
    ext.injectOptimizerRule(_ => graft.plans.FuseRegexChain)
    // First-class plan node: AS-OF JOIN (logical node + strategy +
    // physical sort-merge exec — see graft.plans.AsOfJoinExec).
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
  }
}

object GraftExtensions {

  /** Fold a (literal) argument expression to a constant, casting to the
    * kernel's parameter type — SQL integer/decimal literals arrive as
    * `Literal` of varying numeric types.
    */
  private def constInt(e: Expression, what: String): Int = {
    require(e.foldable, s"$what must be a constant")
    Cast(e, IntegerType).eval().asInstanceOf[Int]
  }
  private def constDouble(e: Expression, what: String): Double = {
    require(e.foldable, s"$what must be a constant")
    Cast(e, DoubleType).eval().asInstanceOf[Double]
  }
  private def constString(e: Expression, what: String): String = {
    require(e.foldable, s"$what must be a constant")
    Cast(e, StringType).eval().asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString
  }
  private def constStringSeq(e: Expression, what: String): Seq[String] = {
    require(e.foldable, s"$what must be a constant array")
    Cast(e, ArrayType(StringType)).eval()
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toArray[org.apache.spark.unsafe.types.UTF8String](StringType)
      .map(_.toString).toSeq
  }
  private def constDoubleSeq(e: Expression, what: String): Seq[Double] = {
    require(e.foldable, s"$what must be a constant array")
    Cast(e, ArrayType(DoubleType)).eval()
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toDoubleArray().toSeq
  }
  private def constLongSeq(e: Expression, what: String): Seq[Long] = {
    require(e.foldable, s"$what must be a constant array")
    Cast(e, ArrayType(LongType)).eval()
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toLongArray().toSeq
  }
  private def constDouble3d(e: Expression, what: String): Array[Array[Array[Double]]] = {
    require(e.foldable, s"$what must be a constant nested array")
    // Null-check every level: a null cast result or null mid/inner
    // array/element would otherwise surface as a bare NPE instead of the
    // require-style diagnostic the other const* helpers give.
    val outer = Cast(e, ArrayType(ArrayType(ArrayType(DoubleType)))).eval()
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    require(outer != null, s"$what must be a non-null constant nested array")
    Array.tabulate(outer.numElements()) { i =>
      val mid = outer.getArray(i)
      require(mid != null, s"$what must not contain null subarrays (outer index $i)")
      Array.tabulate(mid.numElements()) { j =>
        val inner = mid.getArray(j)
        require(inner != null && !(0 until inner.numElements()).exists(inner.isNullAt),
          s"$what must not contain null inner arrays/elements (index $i,$j)")
        inner.toDoubleArray()
      }
    }
  }

  /** Name → expression builder for every kernel. */
  val all: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_erf" -> (es => Erf(Cast(es.head, DoubleType))),
    "graft_erfc" -> (es => Erfc(Cast(es.head, DoubleType))),
    "graft_simhash64" -> (es => SimHash64(es.head)),
    "graft_cosine" -> (es => CosineSimilarity(es(0), es(1))),
    "graft_minhash_shingles" ->
      (es => MinHashShingles(es(0), constInt(es(1), "shingle length"), constInt(es(2), "num hashes"))),
    "graft_word_shingles" -> (es => WordShingles(es(0), constInt(es(1), "shingle length"))),
    "graft_winnow" ->
      (es => Winnow(es(0), constInt(es(1), "k-gram length"), constInt(es(2), "window size"))),
    "graft_winnow_anchors" ->
      (es => WinnowAnchors(es(0), constInt(es(1), "k-gram length"), constInt(es(2), "window size"))),
    "graft_image_meta" -> (es => ImageMeta(es.head, graft.multimodal.Multimodal.ImageIoCodec)),
    "graft_audio_meta" -> (es => AudioMeta(es.head, graft.multimodal.Multimodal.JavaSoundCodec)),
    "graft_video_meta" -> (es => VideoMeta(es.head, graft.multimodal.Multimodal.Mp4Codec)),
    // SQL numeric array literals arrive as array<decimal> — cast to the
    // kernel's array<double> input type.
    "graft_gini" -> (es => Gini(Cast(es.head, ArrayType(DoubleType)))),
    "graft_hpa_classify" ->
      (es => HpaClassify(Cast(es(0), ArrayType(DoubleType)), constDouble(es(1), "low cutoff"))),
    "graft_text_stats" -> (es => TextStats(es.head)),
    "graft_jaro_winkler" -> (es => JaroWinkler(es(0), es(1))),
    "graft_image_dhash" -> (es => ImageDHash(es.head)),
    "graft_damerau_levenshtein" -> (es => DamerauLevenshtein(es(0), es(1))),
    "graft_char_entropy" -> (es => CharEntropy(es.head)),
    "graft_deflate_stats" -> (es => DeflateStats(es.head)),
    "graft_multi_match" ->
      (es => MultiMatchCounts(es(0), constStringSeq(es(1), "pattern list"))),
    "graft_unicode_norm" ->
      (es => UnicodeNorm(es(0), constString(es(1), "normalization form"))),
    "graft_next_fit_bins" -> (es => NextFitBins(
      Cast(es(0), ArrayType(LongType)), Cast(es(1), LongType), Cast(es(2), LongType),
      constInt(es(3), "context length").toLong)),
    // Aggregates: the analyzer wraps a bare AggregateFunction returned
    // from a function builder in AggregateExpression itself.
    "graft_quantile_sketch" -> (es => QuantileSketchAgg(
      Cast(es(0), DoubleType), constInt(es(1), "sketch capacity k"))),
    "graft_quantile_sketch_merge" -> (es => QuantileSketchMergeAgg(es.head)),
    "graft_quantile_sketch_w" -> (es => WeightedQuantileSketchAgg(
      Cast(es(0), DoubleType), Cast(es(1), LongType),
      constInt(es(2), "sketch capacity k"))),
    "graft_sketch_quantiles" -> (es => SketchQuantiles(
      es(0), constDoubleSeq(es(1), "fraction list"))),
    "graft_mg_topk" -> (es => MgTopKAgg(
      Cast(es(0), StringType), constInt(es(1), "counter budget k"))),
    "graft_mg_merge" -> (es => MgMergeAgg(es.head)),
    "graft_mg_entries" -> (es => MgEntries(es.head)),
    "graft_topk" -> (es => TopKAgg(
      Cast(es(0), DoubleType), Cast(es(1), LongType), constInt(es(2), "top-k size"))),
    "graft_token_count" -> (es => TokenCount(es.head)),
    "graft_regex_count" ->
      (es => RegexCount(es.head, constString(es(1), "regex pattern"))),
    "graft_regex_matched_chars" ->
      (es => RegexMatchedChars(es.head, constString(es(1), "regex pattern"))),
    "graft_regex_chain" -> (es => RegexChainReplace(es.head,
      constStringSeq(es(1), "pattern list"),
      constStringSeq(es(2), "replacement list"))),
    "graft_wordpiece" -> (es => WordPieceEncode(
      es(0), constStringSeq(es(1), "piece inventory"),
      constInt(es(2), "max piece length"))),
    "graft_dtw" -> (es => DtwBand(es(0), es(1), constInt(es(2), "band radius"))),
    "graft_unigram" -> (es => UnigramEncode(
      es(0), constStringSeq(es(1), "piece inventory"),
      constLongSeq(es(2), "piece log-probs (micro-nats)"),
      constInt(es(3), "max piece length"))),
    "graft_topk_merge" -> (es => TopKMergeAgg(es.head)),
    "graft_topk_entries" -> (es => TopKEntries(es.head)),
    "graft_pq_encode" -> (es => PqEncodeCodes(es(0), constDouble3d(es(1), "codebooks"))),
    "graft_adc" -> (es => AdcDistance(es(0), es(1))),
    "graft_gram_hashes" -> (es => GramHashes(es(0),
      constInt(es(1), "gram length"), constInt(es(2), "stride"))),
    "graft_successor_pairs" -> (es => SuccessorPairs(es(0))),
  )
}
