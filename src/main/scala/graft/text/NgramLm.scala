package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Count-based n-gram language-model scoring (CCNet-style quality
  * filtering, Wenzek et al. 2020): train word-bigram statistics on a
  * reference slice of the corpus, score every document's perplexity
  * under the model, and filter/partition the corpus by the score.
  *
  * The reference pipeline has nothing like this (curated inputs); for a
  * 100 TB web corpus it is the standard quality gate. The design is
  * join-shaped, never model-in-driver:
  *
  *   - TRAIN: one narrow shingle projection over the training slice, one
  *     map-side-combining `groupBy(bigram)` and one `groupBy(left word)`
  *     — the model IS two count tables (+ a 1-row vocab scalar). No
  *     driver-side vocabulary, no collect.
  *   - SCORE: the corpus joins the model on the bigram key, then the
  *     context key, then aggregates per doc. When the model fits the
  *     broadcast threshold AQE broadcasts it; otherwise both sides
  *     shuffle on the key — either way data-parallel, no iteration.
  *     Mega-hot bigrams ("of the") skew the probe side only; AQE's
  *     skew-join split handles them because the hot key arrives from a
  *     shuffle, not a window.
  *
  * Probability model: add-k smoothing over the training vocabulary,
  * P(v|w) = (c(w v) + k) / (ctx(w) + k·V). With integer counts and
  * dyadic k each P is ONE correctly-rounded IEEE division — bit-equal in
  * any engine — so per-doc sums quantize through DECIMAL and hash-match
  * DuckDB exactly (the repo's dsum convention). Perplexity needs ln/exp,
  * which are NOT cross-engine bit-stable; each -ln P is quantized to
  * DECIMAL(28,12) before the exact decimal sum, and the final ppl to
  * DECIMAL(18,3), absorbing ulp-level libm differences (same discipline
  * as q_pagerank's decimal(28,12) contributions).
  */
object NgramLm {

  /** The trained model: bigram counts, left-context counts, and the
    * 1-row vocabulary size — all DataFrames, so scoring stays a join.
    */
  final case class Model(bigrams: DataFrame, contexts: DataFrame, vocab: DataFrame)

  /** (id, bg) bigram events; bg is the space-joined adjacent word pair. */
  private def events(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol),
      explode(TextAnalysis.wordShingles(col(textCol), 2)).as("bg"))

  /** Train on `trainDocs`: bigram counts c(w v), context counts ctx(w) =
    * Σ_v c(w v), and vocab size V = |distinct unigrams|.
    */
  def train(trainDocs: DataFrame, idCol: String, textCol: String): Model = {
    val ev = events(trainDocs, idCol, textCol)
    val bigrams = ev.groupBy("bg").agg(count(lit(1)).as("c"))
    val contexts = ev
      .select(substring_index(col("bg"), " ", 1).as("w"))
      .groupBy("w").agg(count(lit(1)).as("ctx"))
    val vocab = trainDocs
      .select(explode(TextAnalysis.tokens(col(textCol))).as("tok"))
      .agg(countDistinct(col("tok")).as("V"))
    Model(bigrams, contexts, vocab)
  }

  /** DSIR-style importance weights (Xie et al. 2023): score every doc by
    * how much more likely its unigrams are under a TARGET distribution
    * than under the RAW corpus distribution,
    * `w(doc) = Σ_tok [ln p_target(tok) − ln p_raw(tok)] / n_tokens`.
    * Both distributions are add-k over the shared raw vocabulary, so the
    * two model tables join on the token key exactly like [[score]]'s
    * bigram join — no driver state, one scan of each slice. High-weight
    * docs resemble the target domain; resampling by `exp(weight)` (or
    * top-quantile selection on the weight itself) tilts the corpus
    * toward it. Per-term log-ratios are decimal(28,12)-quantized before
    * the exact sum and the mean decimal(18,3)-final, same cross-engine
    * discipline as [[score]]'s perplexity.
    */
  def importanceWeights(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      target: DataFrame,
      raw: DataFrame,
      k: Double = 0.5): DataFrame = {
    require(k > 0, s"add-k smoothing needs k > 0, got $k")
    def counts(slice: DataFrame, c: String): DataFrame = slice
      .select(explode(TextAnalysis.tokens(col(textCol))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as(c))
    def totals(cnt: DataFrame, c: String, n: String, v: String): DataFrame =
      cnt.agg(sum(col(c)).as(n), count(lit(1)).as(v))
    val tc = counts(target, "tc")
    val rc = counts(raw, "rc")
    // Shared smoothing support: the raw vocab (the scorable universe).
    val tTot = totals(tc, "tc", "tn", "tv")
    val rTot = totals(rc, "rc", "rn", "rv")
    val lr =
      log((coalesce(col("tc"), lit(0L)).cast("double") + lit(k)) /
        (col("tn").cast("double") + lit(k) * col("rv").cast("double"))) -
      log((coalesce(col("rc"), lit(0L)).cast("double") + lit(k)) /
        (col("rn").cast("double") + lit(k) * col("rv").cast("double")))
    val scored = docs
      .select(col(idCol), explode(TextAnalysis.tokens(col(textCol))).as("tok"))
      .join(tc, Seq("tok"), "left")
      .join(rc, Seq("tok"), "left")
      .crossJoin(broadcast(tTot))
      .crossJoin(broadcast(rTot))
      .withColumn("lr", lr)
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(col("lr").cast("decimal(28,12)")).cast("double").as("sum_lr"))
      .select(col(idCol), col("n_tokens"),
        (col("sum_lr") / col("n_tokens"))
          .cast("decimal(18,6)").cast("double").as("weight"))
    docs.select(col(idCol)).join(scored, Seq(idCol), "left")
      .na.fill(0L, Seq("n_tokens"))
  }

  /** Score every document: (id, n_bigrams, n_oov, mean_p, ppl).
    *
    * n_oov counts UNSEEN bigram events (training count 0 — smoothing
    * still prices them); mean_p is the arithmetic mean of the add-k
    * probabilities (exact, oracle-hashable); ppl = exp(mean -ln P),
    * decimal(18,3)-quantized. Documents with < 2 tokens keep their row
    * with n_bigrams = 0 and NULL scores.
    */
  def score(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      model: Model,
      k: Double = 0.5): DataFrame = {
    require(k > 0, s"add-k smoothing needs k > 0, got $k")
    val p = (coalesce(col("c"), lit(0L)).cast("double") + lit(k)) /
      (coalesce(col("ctx"), lit(0L)).cast("double") + lit(k) * col("V").cast("double"))
    val scored = events(docs, idCol, textCol)
      .join(model.bigrams, Seq("bg"), "left")
      .withColumn("w", substring_index(col("bg"), " ", 1))
      .join(model.contexts, Seq("w"), "left")
      .crossJoin(broadcast(model.vocab))
      .withColumn("p", p)
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum(when(col("c").isNull, 1L).otherwise(0L)).as("n_oov"),
        sum(col("p").cast("decimal(28,12)")).cast("double").as("sum_p"),
        sum((-log(col("p"))).cast("decimal(28,12)")).cast("double").as("sum_nll"))
      .select(
        col(idCol),
        col("n_bigrams"),
        col("n_oov"),
        (col("sum_p") / col("n_bigrams")).as("mean_p"),
        exp(col("sum_nll") / col("n_bigrams"))
          .cast("decimal(18,3)").cast("double").as("ppl"))
    docs.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .na.fill(0L, Seq("n_bigrams", "n_oov"))
  }
}
