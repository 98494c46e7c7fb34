package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}
import graft.functions.GraftFunctions.erfc

/** Statistical column library — SURVEY.md §2.9 math/statistics.
  *
  * Everything here is a pure Column expression (codegen'd, no UDFs), so it
  * rides whole-stage codegen and scales linearly with the scan.
  */
object Stats {

  /** The reference's recurring p-value → (mantissa, exponent) motif
    * (`AzGeneBurden.py:214-221`, `GeneBurden.py:83-92`,
    * `GenebassGeneBurden.py:141-149`, `CvdiGeneBurden.py:226-234`):
    *
    *   exponent = int(log10(p)) - 1   // cast truncates toward zero
    *   mantissa = round(p / 10^exponent, 3)
    *
    * Exact reproduction matters (truncation, not floor — negative
    * exponents!): for p = 3e-5, log10 = -4.52, int() = -4, exponent = -5,
    * mantissa = 3.0.
    */
  def pValueExponent(p: Column): Column =
    log10(p).cast(IntegerType) - lit(1)

  def pValueMantissa(p: Column): Column =
    round(p / pow(lit(10.0), pValueExponent(p)), 3)

  /** `10 ** -LOG10P` (reference `GeneBurden.py:83`). */
  def pFromNegLog10(negLog10P: Column): Column =
    pow(lit(10.0), -negLog10P)

  /** Zero-p repair: replace exact-0 p-values with the global minimum
    * positive value (reference `AzGeneBurden.py:98-115` computes the global
    * min via an action; here it stays in-plan as a broadcast scalar join so
    * no driver round-trip is needed).
    */
  def repairZeroPValues(df: DataFrame, pCol: String): DataFrame = {
    // Conditional min INSIDE the aggregate (not a filter before it): the
    // aggregate then always yields exactly one row — a filtered-empty
    // build side would cross-join every row away when no p > 0 exists.
    val minPos = df.agg(min(when(col(pCol) > 0, col(pCol))).as("__minp"))
    df.crossJoin(broadcast(minPos))
      .withColumn(pCol,
        when(col(pCol) === 0 && col("__minp").isNotNull, col("__minp")).otherwise(col(pCol)))
      .drop("__minp")
  }

  /** Stouffer combined z: sum(z) / sqrt(n) (reference
    * `encore_parser.py:246-255`).
    */
  def stoufferZ(sumZ: Column, n: Column): Column = sumZ / sqrt(n)

  /** Two-sided p from a z-score: 2·Φ̄(|z|) = erfc(|z|/√2)
    * (reference used a scipy UDF, `encore_parser.py:256-264`; here a
    * codegen'd custom Catalyst expression — see graft.functions.Erfc).
    * erfc, not 1−erf: the latter underflows to 0 beyond z ≈ 8 while deep
    * GWAS tails (p ~ 1e-300) are exactly the regime this motif serves.
    */
  def twoSidedPFromZ(z: Column): Column =
    erfc(abs(z) / sqrt(lit(2.0)))

  /** Abramowitz–Stegun 7.1.26 rational-polynomial erfc(x), valid for
    * x ≥ 0 with published absolute error ≤ 1.5e-7 (Handbook of
    * Mathematical Functions, eq. 7.1.26). Built from plain column
    * arithmetic (one Horner chain + exp) so a SQL oracle can evaluate the
    * IDENTICAL expression: the contract query `q_stouffer_p` emits this
    * value as its oracle-matched `p_approx` column and certifies the
    * high-precision [[twoSidedPFromZ]] kernel against it with a
    * `|kernel − approx| ≤ tol` boolean (the q_heavy_hitters
    * exact-plus-envelope pattern). The cross-engine float chain is safe:
    * +,−,×,÷ are IEEE-identical given identical order, and an ulp-level
    * exp() difference only matters within ~1e-16 of a round(…,6)
    * boundary.
    */
  def erfcAS7126(x: Column): Column = {
    val t = lit(1.0) / (lit(1.0) + lit(0.3275911) * x)
    t * (lit(0.254829592) + t * (lit(-0.284496736) + t * (lit(1.421413741) +
      t * (lit(-1.453152027) + t * lit(1.061405429))))) * exp(-(x * x))
  }

  /** Bonferroni α = baseAlpha / nTests (reference
    * `common/evidence.py:349-358`).
    */
  def bonferroni(nTests: Column, baseAlpha: Double = 0.05): Column =
    lit(baseAlpha) / nTests

  /** Confidence interval from beta ± 1.96·SE (reference
    * `GenebassGeneBurden.py:153-154`, `GeneBurden.py:98-103`).
    */
  def ciLower(beta: Column, se: Column): Column = beta - lit(1.96) * se
  def ciUpper(beta: Column, se: Column): Column = beta + lit(1.96) * se

  /** Gini coefficient over an array column (reference
    * `baseline_expression/metrics.py:15-28`, numpy per-row; here
    * higher-order functions — sort, prefix-weighted sum — fully codegen'd,
    * no UDF, no shuffle).
    *
    * gini = (2·Σᵢ i·xᵢ / (n·Σx)) - (n+1)/n   for sorted ascending x, 1-based i.
    */
  def gini(values: Column): Column = {
    val sorted = array_sort(values)
    val n = size(sorted).cast(DoubleType)
    val total = aggregate(sorted, lit(0.0), (acc, x) => acc + x)
    val weighted = aggregate(
      zip_with(sorted, sequence(lit(1), size(sorted)), (x, i) => x * i.cast(DoubleType)),
      lit(0.0),
      (acc, x) => acc + x,
    )
    when(total > 0, lit(2.0) * weighted / (n * total) - (n + lit(1.0)) / n)
  }

  /** HPA expression-specificity classifier (reference
    * `baseline_expression/metrics.py:31-44`, per-row numpy over the tissue
    * vector; here a pure sorted-array rule chain — no UDF).
    *
    * Rules, on ascending-sorted expression vector `expr` (1-indexed from
    * the top as expr[-k]):
    *   top < low                      → Not detected
    *   expr[-2]=0 ∨ top/expr[-2] ≥ 4  → Tissue enriched
    *   ∃i∈2..5: expr[-i-1]=0 ∨ expr[-i]/expr[-i-1] ≥ 4 → Group enriched
    *   1 ≤ #{e : e/mean ≥ 4} ≤ 5      → Tissue enhanced
    *   otherwise                      → Low tissue specificity
    *
    * Short vectors (n < 6) degrade gracefully: out-of-range lookups are
    * null and their rules simply don't fire (the reference would throw).
    */
  def hpaSpecificity(values: Column, lowThreshold: Double): Column = {
    val sorted = array_sort(values)
    val n = size(sorted)
    def fromTop(k: Int): Column = get(sorted, n - k) // 0-based get: expr[-k]
    val top = fromTop(1)
    val mean = aggregate(sorted, lit(0.0), (a, x) => a + x) / n.cast(DoubleType)
    val enhancedCount = size(filter(values, e => e / mean >= 4.0))
    val groupEnriched = (2 to 5)
      .map(i => (fromTop(i + 1) === 0.0) || (fromTop(i) / fromTop(i + 1) >= 4.0))
      .reduce(_ || _)
    when(top < lowThreshold, "Not detected")
      .when((fromTop(2) === 0.0) || (top / fromTop(2) >= 4.0), "Tissue enriched")
      .when(groupEnriched, "Group enriched")
      .when(enhancedCount.between(1, 5), "Tissue enhanced")
      .otherwise("Low tissue specificity")
  }

  /** HPA expression-distribution classifier (reference
    * `baseline_expression/metrics.py:47-58`).
    */
  def hpaDistribution(values: Column, lowThreshold: Double): Column = {
    val n = size(values)
    val top = get(array_sort(values), n - 1)
    val numDetected = size(filter(values, e => e > lowThreshold))
    when(top < lowThreshold, "Not detected")
      .when(numDetected === 1, "Detected in single")
      .when(numDetected < n.cast(DoubleType) / 3, "Detected in some")
      .when(numDetected < n, "Detected in many")
      .otherwise("Detected in all")
  }

  /** Min-max renormalization to [lo, hi] (reference
    * `SystemsBiology.py:9-57` renormalizes scores to [0.5, 1]).
    * The min/max come in as columns (from a global agg or window).
    */
  def minMaxScale(x: Column, xMin: Column, xMax: Column, lo: Double = 0.5, hi: Double = 1.0): Column =
    when(xMax =!= xMin, lit(lo) + (x - xMin) / (xMax - xMin) * lit(hi - lo))
      .otherwise(lit(lo))

  /** Two-sample Kolmogorov-Smirnov test per group (beyond-reference:
    * distribution-drift detection between data slices — the
    * training-mix QC question "does source A's length/score distribution
    * match source B's?").
    *
    * D = max over pooled observed points of |F1(x) − F2(x)|, with both
    * ECDFs evaluated INCLUSIVE of ties via a RANGE frame (a ROWS frame
    * would split tied values across the two samples and overstate D).
    * One shuffle on `group`; the two cumulative counts and the two
    * totals ride the same window exchange. Also emits the scaled
    * statistic √(n1·n2∕(n1+n2))·D and the one-term asymptotic p-value
    * 2·exp(−2·ks²) (clamped to 1) — every term is a correctly-rounded
    * IEEE op on exact integer ratios, so an identical-tree oracle is
    * bit-equal.
    *
    * Output: (group, n1, n2, d, ks_stat, p_asym), one row per group
    * having at least one observation in each sample.
    */
  def ksTest2(df: DataFrame, group: Column, value: Column, inSample1: Column): DataFrame = {
    val base = df.select(
      group.as("g"), value.cast(DoubleType).as("v"),
      when(inSample1, 1L).otherwise(0L).as("s1"))
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(col("v"))
      .rangeBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(col("g"))
    val diffed = base
      .withColumn("c1", sum(col("s1")).over(wCum))
      .withColumn("c2", sum(lit(1L) - col("s1")).over(wCum))
      .withColumn("n1", sum(col("s1")).over(wAll))
      .withColumn("n2", sum(lit(1L) - col("s1")).over(wAll))
      .filter(col("n1") > 0 && col("n2") > 0)
      .withColumn("diff", abs(
        col("c1").cast(DoubleType) / col("n1").cast(DoubleType) -
          col("c2").cast(DoubleType) / col("n2").cast(DoubleType)))
    val ks = sqrt(col("n1").cast(DoubleType) * col("n2").cast(DoubleType) /
      (col("n1") + col("n2")).cast(DoubleType)) * col("d")
    diffed
      .groupBy(col("g"))
      .agg(max(col("n1")).as("n1"), max(col("n2")).as("n2"), max(col("diff")).as("d"))
      .withColumn("ks_stat", ks)
      .withColumn("p_asym", least(lit(1.0), lit(2.0) * exp(lit(-2.0) * col("ks_stat") * col("ks_stat"))))
  }

  /** Welch's unequal-variance t-test per group — the parametric member
    * of the two-sample family ([[ksTest2]] distribution-shape,
    * [[mannWhitneyU]] rank-order, this one mean-difference).
    *
    * Exactness discipline: means and variances come from EXACT decimal
    * sums of v and v² (the dsum doctrine — sum order cannot perturb
    * them; exact for integer-grid inputs), then the t statistic and the
    * Welch-Satterthwaite degrees of freedom are fixed IEEE expression
    * trees over those exact sums, so an identical-tree oracle is
    * bit-equal. One aggregation, no window.
    *
    * Output: (group, n1, n2, m1, m2, t_stat, df), groups with ≥ 2
    * observations in each sample (sample variance needs n−1).
    */
  def welchT(df: DataFrame, group: Column, value: Column, inSample1: Column): DataFrame = {
    val d = (c: Column) => c.cast(DoubleType)
    val base = df.select(group.as("g"), value.cast(DoubleType).as("v"), inSample1.as("in1"))
    val agg = base.groupBy(col("g")).agg(
      count(when(col("in1"), 1)).as("n1"),
      count(when(!col("in1"), 1)).as("n2"),
      sum(when(col("in1"), col("v").cast("decimal(24,6)"))).as("s1"),
      sum(when(!col("in1"), col("v").cast("decimal(24,6)"))).as("s2"),
      sum(when(col("in1"), (col("v") * col("v")).cast("decimal(30,6)"))).as("q1"),
      sum(when(!col("in1"), (col("v") * col("v")).cast("decimal(30,6)"))).as("q2"),
    ).filter(col("n1") >= 2 && col("n2") >= 2)
    val se1 = col("var1") / d(col("n1"))
    val se2 = col("var2") / d(col("n2"))
    agg
      .withColumn("m1", d(col("s1")) / d(col("n1")))
      .withColumn("m2", d(col("s2")) / d(col("n2")))
      .withColumn("var1",
        (d(col("q1")) - d(col("s1")) * d(col("s1")) / d(col("n1"))) / d(col("n1") - lit(1)))
      .withColumn("var2",
        (d(col("q2")) - d(col("s2")) * d(col("s2")) / d(col("n2"))) / d(col("n2") - lit(1)))
      .withColumn("t_stat", (col("m1") - col("m2")) / sqrt(se1 + se2))
      .withColumn("df",
        (se1 + se2) * (se1 + se2) /
          (se1 * se1 / d(col("n1") - lit(1)) + se2 * se2 / d(col("n2") - lit(1))))
      .select(col("g"), col("n1"), col("n2"), col("m1"), col("m2"), col("t_stat"), col("df"))
  }

  /** Population-stability index per group — the binned drift monitor
    * beside [[ksTest2]] (PSI is what ML monitoring dashboards actually
    * alert on): bin boundaries are OCTILES of the REFERENCE sample
    * (eighths are dyadic, so percentile interpolation is exact in
    * binary on integer-grid inputs — the q_quantile_bin argument; decile
    * fractions would not be), both samples bin against them, and
    * PSI = Σ_bins (cur% − ref%)·ln(cur%/ref%) with +0.5/bin smoothing
    * so an empty current bin stays finite. Each bin's term is a
    * deterministic IEEE value; the 8-term sum goes through DECIMAL so
    * aggregation order cannot perturb it.
    *
    * Plan shape: one reference-side percentile aggregation broadcast
    * back, one codegen'd binning projection, one (group, bin)
    * aggregation, one group aggregation. Output: (group, n_ref, n_cur,
    * psi); groups need a non-empty reference sample.
    */
  def psi(df: DataFrame, group: Column, value: Column, inRef: Column): DataFrame = {
    val d = (c: Column) => c.cast(DoubleType)
    val base = df.select(group.as("g"), value.cast(DoubleType).as("v"), inRef.as("ref"))
    val cutCols = (1 to 7).map(i => percentile(col("v"), lit(i / 8.0)).as(s"c$i"))
    val cuts = base.filter(col("ref")).groupBy(col("g")).agg(cutCols.head, cutCols.tail: _*)
    val bin = (1 to 7).foldLeft(when(col("v") <= col("c1"), 0)) { (acc, i) =>
      if (i == 7) acc.otherwise(7) else acc.when(col("v") <= col(s"c${i + 1}"), i)
    }
    val binned = base.join(broadcast(cuts), Seq("g")).withColumn("bin", bin)
    val perBin = binned.groupBy(col("g"), col("bin")).agg(
      count(when(col("ref"), 1)).as("n_ref"),
      count(when(!col("ref"), 1)).as("n_cur"))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(col("g"))
    val termed = perBin
      .withColumn("tot_ref", sum(col("n_ref")).over(wAll))
      .withColumn("tot_cur", sum(col("n_cur")).over(wAll))
      .filter(col("tot_cur") > 0)
      .withColumn("p_ref", (d(col("n_ref")) + lit(0.5)) / (d(col("tot_ref")) + lit(4.0)))
      .withColumn("p_cur", (d(col("n_cur")) + lit(0.5)) / (d(col("tot_cur")) + lit(4.0)))
      .withColumn("term",
        ((col("p_cur") - col("p_ref")) * log(col("p_cur") / col("p_ref"))).cast("decimal(28,15)"))
    termed.groupBy(col("g")).agg(
      max(col("tot_ref")).as("n_ref"),
      max(col("tot_cur")).as("n_cur"),
      sum(col("term")).cast(DoubleType).as("psi"))
  }

  /** Fit the FROZEN reference model for [[psiAgainstRef]]: octile cut
    * points and per-bin counts of the reference sample. Driver collect
    * is bounded by construction (7 + 8 numbers) — the model-fit step of
    * the streaming drift monitor, run once offline.
    */
  def refHistogram(df: DataFrame, value: Column): (Seq[Double], Seq[Long]) = {
    val base = df.select(value.cast(DoubleType).as("v"))
    val cutRow = base.agg(
      (1 to 7).map(i => percentile(col("v"), lit(i / 8.0)).as(s"c$i")).head,
      (1 to 7).map(i => percentile(col("v"), lit(i / 8.0)).as(s"c$i")).tail: _*).head()
    val cuts = (0 until 7).map(cutRow.getDouble)
    val bin = binOf(col("v"), cuts)
    val counts = base.groupBy(bin.as("bin")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    (cuts, (0 until 8).map(counts.getOrElse(_, 0L)))
  }

  private def binOf(v: Column, cuts: Seq[Double]): Column =
    (1 until 8).foldLeft(when(v <= cuts.head, 0)) { (acc, i) =>
      if (i == 7) acc.otherwise(7) else acc.when(v <= cuts(i), i)
    }

  /** PSI of `df` against a FROZEN reference histogram (literal cuts +
    * counts — the model-as-data discipline): one conditional aggregation
    * to the 8 current-bin counts, then the 8 smoothed terms as a FIXED
    * literal-chain sum (each term decimal-quantized) — a single-row
    * (n, psi) readout with no window and no second scan, which is what
    * lets a streaming micro-batch monitor run it per trigger
    * (stream ≡ batch pinned in StreamingSpec).
    */
  def psiAgainstRef(
      df: DataFrame,
      value: Column,
      cuts: Seq[Double],
      refCounts: Seq[Long],
  ): DataFrame = {
    require(cuts.length == 7 && refCounts.length == 8, "octile model: 7 cuts, 8 bins")
    val d = (c: Column) => c.cast(DoubleType)
    val base = df.select(value.cast(DoubleType).as("v"))
    val binned = base.withColumn("bin", binOf(col("v"), cuts))
    val agg = binned.agg(
      count(lit(1)).as("n"),
      (0 until 8).map(i => count(when(col("bin") === i, 1)).as(s"b$i")): _*)
    val refTotal = refCounts.sum
    val terms = (0 until 8).map { i =>
      val pRef = lit((refCounts(i) + 0.5) / (refTotal + 4.0))
      val pCur = (d(col(s"b$i")) + lit(0.5)) / (d(col("n")) + lit(4.0))
      ((pCur - pRef) * log(pCur / pRef)).cast("decimal(28,15)")
    }
    agg.select(col("n"), terms.reduce(_ + _).cast(DoubleType).as("psi"))
  }

  /** Jensen-Shannon divergence between two token-count distributions per
    * group (nats; ≤ ln 2) — the vocabulary-level drift complement of
    * [[psi]]'s scalar binning. `df` carries one row per (group, term)
    * with the two counts; absent-side terms contribute only through the
    * present side (0·ln0 = 0). Per-term xlogx values are deterministic
    * IEEE; the vocabulary sum goes through DECIMAL (order-free).
    */
  def jsdFromCounts(df: DataFrame, group: Column, cntA: Column, cntB: Column): DataFrame = {
    val d = (c: Column) => c.cast(DoubleType)
    val base = df.select(group.as("g"), cntA.as("ca"), cntB.as("cb"))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(col("g"))
    val termed = base
      .withColumn("na", sum(col("ca")).over(wAll))
      .withColumn("nb", sum(col("cb")).over(wAll))
      .filter(col("na") > 0 && col("nb") > 0)
      .withColumn("pa", d(col("ca")) / d(col("na")))
      .withColumn("pb", d(col("cb")) / d(col("nb")))
      .withColumn("m", (col("pa") + col("pb")) / lit(2.0))
      .withColumn("term",
        ((when(col("pa") > 0.0, col("pa") * log(col("pa") / col("m"))).otherwise(lit(0.0)) +
          when(col("pb") > 0.0, col("pb") * log(col("pb") / col("m"))).otherwise(lit(0.0))) / lit(2.0))
          .cast("decimal(28,18)"))
    termed.groupBy(col("g")).agg(
      count(lit(1)).as("n_vocab"),
      sum(col("term")).cast(DoubleType).as("jsd"))
  }

  /** Two-sample Mann-Whitney U (rank-sum) test per group, with the
    * tie-corrected normal approximation — the rank-based complement of
    * [[ksTest2]] for "is slice A stochastically larger than slice B?".
    *
    * Exactness discipline: average ranks are half-integers, so the
    * rank-sum is accumulated as the INTEGER 2·rank-sum (2r + ct − 1 per
    * row) and halved once at the end — sum order cannot perturb it, and
    * the tie term Σ(t³−t) folds from the per-row identity
    * Σ_rows(ct²−1) = Σ_groups t(t²−1), so the whole statistic reduces to
    * a fixed IEEE expression over exact integers (oracle bit-equal).
    * One shuffle on `group` (the rank window and the tie-count window
    * share it).
    *
    * Output: (group, n1, n2, u1, z), one row per group having both
    * samples; z > 0 means sample 1 ranks higher.
    */
  def mannWhitneyU(df: DataFrame, group: Column, value: Column, inSample1: Column): DataFrame = {
    val base = df.select(
      group.as("g"), value.cast(DoubleType).as("v"),
      when(inSample1, 1L).otherwise(0L).as("s1"))
    val wOrd = org.apache.spark.sql.expressions.Window.partitionBy(col("g")).orderBy(col("v"))
    val wTie = org.apache.spark.sql.expressions.Window.partitionBy(col("g"), col("v"))
    val ranked = base
      .withColumn("r2", lit(2L) * rank().over(wOrd) + count(lit(1)).over(wTie) - lit(1L))
      .withColumn("ct", count(lit(1)).over(wTie))
    val d = (c: Column) => c.cast(DoubleType)
    val agg = ranked.groupBy(col("g")).agg(
      sum(col("s1")).as("n1"),
      sum(lit(1L) - col("s1")).as("n2"),
      sum(when(col("s1") === 1L, col("r2")).otherwise(lit(0L))).as("r2sum"),
      sum(col("ct") * col("ct") - lit(1L)).as("tiesum"),
    ).filter(col("n1") > 0 && col("n2") > 0)
    val bigN = col("n1") + col("n2")
    val u1 = d(col("r2sum")) / lit(2.0) - d(col("n1") * (col("n1") + lit(1L))) / lit(2.0)
    val sigma = sqrt(
      d(col("n1")) * d(col("n2")) / lit(12.0) *
        (d(bigN + lit(1L)) - d(col("tiesum")) / (d(bigN) * d(bigN - lit(1L)))))
    agg
      .withColumn("u1", u1)
      .withColumn("z", (col("u1") - d(col("n1")) * d(col("n2")) / lit(2.0)) / sigma)
      .select(col("g"), col("n1"), col("n2"), col("u1"), col("z"))
  }

  /** Tie-corrected ROC-AUC per group: the probability a random positive
    * outranks a random negative by `score`, ties at half credit — the
    * rank estimator (equivalently U/(n⁺·n⁻), the Mann-Whitney relation).
    *
    * Determinism: [[mannWhitneyU]]'s doubled-rank trick. The average rank
    * of a tied run starting at min-rank r with c members is r + (c-1)/2,
    * so 2·avg = 2·rank() + c - 1 stays INTEGRAL; the positive-class rank
    * sum is an exact BIGINT and the final AUC is ONE IEEE division of
    * exact integers — bit-equal on any partitioning and across engines,
    * no rounding needed.
    *
    * Scale: one window keyed on the group (never an empty partitionSpec)
    * + one aggregation — shuffles on the group key only; no global sort.
    * Groups with a missing class are dropped (AUC undefined).
    */
  def rocAuc(df: DataFrame, group: Column, score: Column, isPositive: Column): DataFrame = {
    val base = df.select(
      group.as("g"), score.as("v"),
      when(isPositive, 1L).otherwise(0L).as("pos"))
    val wOrd = org.apache.spark.sql.expressions.Window.partitionBy(col("g")).orderBy(col("v"))
    val wTie = org.apache.spark.sql.expressions.Window.partitionBy(col("g"), col("v"))
    base
      .withColumn("r2", lit(2L) * rank().over(wOrd) + count(lit(1)).over(wTie) - lit(1L))
      .groupBy(col("g"))
      .agg(
        sum(col("pos")).as("np"),
        sum(lit(1L) - col("pos")).as("nn"),
        sum(when(col("pos") === 1L, col("r2")).otherwise(lit(0L))).as("r2sum"))
      .filter(col("np") > 0 && col("nn") > 0)
      .select(
        col("g"), col("np"), col("nn"),
        ((col("r2sum") - col("np") * (col("np") + lit(1L))).cast(DoubleType) /
          (lit(2.0) * (col("np") * col("nn")).cast(DoubleType))).as("auc"))
  }

  /** Cohen's kappa per group: chance-corrected agreement between two
    * categorical raters, κ = (n·Σdiag − Σ_c a_c·b_c) / (n² − Σ_c a_c·b_c)
    * — the (p_o − p_e)/(1 − p_e) definition with both sides multiplied
    * through by n² so every term stays an exact BIGINT; the final κ is
    * ONE IEEE division (bit-equal across engines, no rounding).
    *
    * Scale: the input is collapsed to the contingency table (group ×
    * |A-categories| × |B-categories| rows — tiny) in a SINGLE map-side-
    * combining aggregation; diagonal, marginals, and the chance term all
    * derive from that table, so the raw data is scanned exactly once.
    * Groups where both raters are constant (p_e = 1, κ undefined) are
    * dropped.
    */
  def cohenKappa(df: DataFrame, group: Column, raterA: Column, raterB: Column): DataFrame = {
    val ct = df
      .select(group.as("g"), raterA.as("ra"), raterB.as("rb"))
      .groupBy(col("g"), col("ra"), col("rb"))
      .agg(count(lit(1)).as("c"))
    val base = ct.groupBy(col("g")).agg(
      sum(col("c")).as("n"),
      sum(when(col("ra") === col("rb"), col("c")).otherwise(lit(0L))).as("diag"))
    val ma = ct.groupBy(col("g"), col("ra")).agg(sum(col("c")).as("ca"))
    val mb = ct.groupBy(col("g"), col("rb")).agg(sum(col("c")).as("cb"))
    val chance = ma.alias("ma")
      .join(mb.alias("mb"), col("ma.g") === col("mb.g") && col("ma.ra") === col("mb.rb"))
      .groupBy(col("ma.g").as("g"))
      .agg(sum(col("ca") * col("cb")).as("chance"))
    base
      .join(broadcast(chance), "g")
      .filter(col("n") * col("n") > col("chance"))
      .select(
        col("g"), col("n"), col("diag"),
        ((col("n") * col("diag") - col("chance")).cast(DoubleType) /
          (col("n") * col("n") - col("chance")).cast(DoubleType)).as("kappa"))
  }

  /** Average precision (the area under the precision-recall curve in its
    * standard rank-sum form) per group: AP = (1/R) Σ_{k: rel(k)}
    * cumpos(k)/k over the list ranked by (score DESC, id ASC) — the
    * PR-space complement to [[rocAuc]], preferred under class imbalance.
    * The id tiebreaker makes the ranked list (and therefore AP — which,
    * unlike AUC, is NOT tie-invariant) a total order both engines replay.
    *
    * Determinism: each term cumpos/k is an exact-integer IEEE division,
    * quantized to decimal(28,12) so the per-group sum is order-free; the
    * final 1/R division is one more fixed tree. Groups without a
    * positive are dropped (AP undefined).
    */
  def avgPrecision(df: DataFrame, group: Column, score: Column, id: Column, isPositive: Column): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(col("v").desc, col("tid").asc)
    df.select(group.as("g"), score.as("v"), id.as("tid"),
        when(isPositive, 1L).otherwise(0L).as("pos"))
      .withColumn("k", row_number().over(w))
      .withColumn("cumpos", sum(col("pos")).over(w.rowsBetween(Long.MinValue, 0)))
      .filter(col("pos") === 1L)
      .withColumn("term",
        (col("cumpos").cast(DoubleType) / col("k").cast(DoubleType)).cast("decimal(28,12)"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("np"), sum(col("term")).as("s"))
      .select(col("g"), col("np"),
        (col("s").cast(DoubleType) / col("np").cast(DoubleType)).as("avg_precision"))
  }

  /** Benjamini-Hochberg FDR control per family: rank the family's
    * p-values ascending, find k* = max{k : p_(k) ≤ q·k/m}, mark ranks
    * ≤ k* discovered, and emit the standard step-up adjusted p-value
    * padj_(k) = min(1, min_{j ≥ k} p_(j)·m/j).
    *
    * Determinism: the step-up test is the comparison p·m ≤ q·k — two
    * exact-factor IEEE products, no division. The padj suffix-min runs
    * on RAW doubles: p·m/j is an identical IEEE tree on both engines and
    * min — unlike sum — is order-free, so no decimal quantization is
    * needed (and re-quantizing a computed double to decimal is exactly
    * the half-boundary hazard that bit-flipped this query's first
    * version). The (p, id) order key is total per family.
    *
    * Scale: two windows and one full-partition count, all keyed on the
    * family column — no global sort, no driver action.
    */
  def bhFdr(df: DataFrame, family: Column, testId: Column, p: Column, q: Double): DataFrame = {
    require(q > 0.0 && q < 1.0, s"q must be in (0,1), got $q")
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(col("p").asc, col("tid").asc)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(col("g"))
    val wDesc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(col("rnk").desc)
    df.select(family.as("g"), testId.as("tid"), p.cast(DoubleType).as("p"))
      .withColumn("m", count(lit(1)).over(wAll))
      .withColumn("rnk", row_number().over(wOrd))
      .withColumn("kstar",
        max(when(col("p") * col("m").cast(DoubleType) <= lit(q) * col("rnk").cast(DoubleType),
          col("rnk"))).over(wAll))
      .withColumn("padj_q",
        min(col("p") * col("m").cast(DoubleType) / col("rnk").cast(DoubleType))
          .over(wDesc.rowsBetween(Long.MinValue, 0)))
      .select(
        col("g"), col("tid"), col("p"), col("m"), col("rnk"),
        least(col("padj_q"), lit(1.0)).as("p_adj"),
        (col("rnk") <= coalesce(col("kstar"), lit(0))).as("discovered"))
  }

  /** Kaplan-Meier survival estimator per group: S(t) = Π_{tᵢ ≤ t}
    * (1 − dᵢ/nᵢ) over event times tᵢ, with right-censored observations
    * leaving the risk set without an event. Emits one row per EVENT time
    * (the standard KM curve points) with the risk-set size and event
    * count at that time.
    *
    * Determinism (the q_lm_score float playbook): each factor is an exact
    * integer ratio; its ln() — an identical IEEE tree on both engines up
    * to 1 ulp of libm — is quantized to decimal(28,12) PER TERM, the
    * cumulative product becomes an exact DECIMAL prefix sum of those
    * terms (order-free; double window sums would be engine-reordered),
    * and the final exp() is squeezed through decimal(18,6) to absorb
    * transcendental last-ulp wobble. A factor of exactly zero (dᵢ = nᵢ —
    * the whole risk set dies) can't go through ln; a cumulative max flag
    * pins survival to exactly 0.0 from that time on.
    *
    * Scale: one aggregation to (group, duration) — the curve table, tiny
    * relative to observations — then windows keyed on the group. No
    * driver action; the raw observations are scanned once.
    */
  def kaplanMeier(df: DataFrame, group: Column, duration: Column, event: Column): DataFrame = {
    val obs = df.select(
      group.as("g"), duration.cast("long").as("dur"),
      when(event, 1L).otherwise(0L).as("ev"))
    val grouped = obs.groupBy(col("g"), col("dur"))
      .agg(sum(col("ev")).as("d"), count(lit(1)).as("tot"))
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(col("dur"))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(col("g"))
    val lnFactor = when(col("d") < col("n_risk"),
      log((col("n_risk") - col("d")).cast(DoubleType) / col("n_risk").cast(DoubleType)))
      .otherwise(lit(0.0))
    grouped
      .withColumn("before", coalesce(
        sum(col("tot")).over(wCum.rowsBetween(Long.MinValue, -1)), lit(0L)))
      .withColumn("n_risk", sum(col("tot")).over(wAll) - col("before"))
      .withColumn("lnq", lnFactor.cast("decimal(28,12)"))
      .withColumn("cumln", sum(col("lnq")).over(wCum.rowsBetween(Long.MinValue, 0)))
      .withColumn("dead",
        max((col("d") === col("n_risk")).cast(IntegerType)).over(wCum.rowsBetween(Long.MinValue, 0)))
      .filter(col("d") > 0)
      .select(
        col("g"), col("dur").as("t_day"), col("n_risk"), col("d").as("d_events"),
        when(col("dead") === 1, lit(0.0))
          .otherwise(exp(col("cumln").cast(DoubleType)).cast("decimal(18,6)").cast(DoubleType))
          .as("survival"))
  }

  /** Sample autocorrelation of an evenly-indexed series at lags 1..maxLag:
    * for each lag k, the Pearson correlation between (x_t, x_{t+k}) over
    * every pair whose BOTH time points exist (a sparse series simply
    * yields fewer pairs — no imputation).
    *
    * `value` MUST be an already-INTEGER-valued column (the caller picks
    * the quantization, e.g. floor(revenue/1000) — kilodollar units).
    * Rationale, learned the hard way: the q_corr_manual decimal-scaling
    * recipe produces moment sums beyond 2⁵³ here (daily AGGREGATES are
    * ~10× per-row facts, squared), and DuckDB's int128-decimal → DOUBLE
    * cast is NOT correctly rounded (1-ulp off the JVM's BigDecimal
    * round-to-nearest), so the "exact decimal then one cast" trick
    * silently breaks past 53 bits. Integer units keep every moment sum
    * < 2⁵³ — each BIGINT→DOUBLE cast is value-preserving on both
    * engines, and the final Pearson expression is a fixed-order IEEE
    * tree. The caller-side floor(x/c) on a nonnegative double is itself
    * engine-identical (correctly-rounded division, exact floor) —
    * unlike a decimal→long cast, which truncates on the JVM but ROUNDS
    * in DuckDB.
    *
    * Scale: the series is already aggregated (one row per time index), so
    * the lag fan-out is maxLag× a SMALL table; the pair join is keyed on
    * the shifted index (equi-join, shuffles on time only).
    */
  def autocorr(df: DataFrame, time: Column, value: Column, maxLag: Int): DataFrame = {
    require(maxLag >= 1 && maxLag <= 64, s"maxLag must be in [1, 64], got $maxLag")
    val series = df.select(time.as("t"), value.as("v"))
    val lagged = series
      .select(col("t"), col("v"),
        explode(array((1 to maxLag).map(lit(_)): _*)).as("lag_d"))
      .withColumn("tt", col("t") + col("lag_d"))
    val pairs = lagged.alias("a")
      .join(series.alias("b"), col("tt") === col("b.t"))
      .select(col("lag_d"), col("a.v").as("x"), col("b.v").as("y"))
    pairs.groupBy("lag_d")
      .agg(
        count(lit(1)).as("n"),
        sum(col("x")).cast(DoubleType).as("sx"),
        sum(col("y")).cast(DoubleType).as("sy"),
        sum(col("x") * col("x")).cast(DoubleType).as("sxx"),
        sum(col("y") * col("y")).cast(DoubleType).as("syy"),
        sum(col("x") * col("y")).cast(DoubleType).as("sxy"))
      .select(
        col("lag_d"), col("n"),
        ((col("n") * col("sxy") - col("sx") * col("sy")) /
          (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
            sqrt(col("n") * col("syy") - col("sy") * col("sy")))).as("acf"))
  }

  /** Two-sample ENERGY DISTANCE per group — Székely & Rizzo's
    * D² = 2·E|X−Y| − E|X−X'| − E|Y−Y'| over 1-D integer-valued samples
    * (values arrive pre-scaled to exact integers, e.g. price cents).
    * Unlike [[ksTest2]] (sup of CDF gap) it weighs the WHOLE
    * distribution difference with metric units, and unlike [[welchT]]
    * it is zero IFF the distributions are equal — the two-sample test a
    * drift monitor wants when shape matters, not just location.
    *
    * Exactness discipline: the naive statistic is an O(n²) pairwise
    * sum; this reduces each Σ|a−b| to ONE pass over the sorted DISTINCT
    * value domain via the order-statistic identity
    *   Σ_{i<j}|x_i−x_j| = Σ_v cx_v·(v·PxLT_v − SxLT_v)
    * (each unordered pair charged at its larger value; PxLT/SxLT =
    * count/sum of the sample strictly below v), and the cross term is
    * the same identity charged on whichever sample holds the larger
    * element. Every accumulator is an exact integer (long window sums,
    * decimal(38,0) final sums — magnitudes ≤ n²·vmax), so the statistic
    * reduces to a fixed IEEE expression over exact integers at the very
    * end: bit-equal on any partitioning and across engines, the
    * [[mannWhitneyU]] rule.
    *
    * Scale: one partial-agg shuffle collapses rows to the per-group
    * DISTINCT value domain; the prefix-sum windows then run over that
    * reduced domain (for cent-valued metrics, bounded by the price
    * range — not the row count), keyed on the group. A single group
    * whose value domain outgrows one task takes the Rank.rowNumberDesc
    * bucketed-prefix-sum treatment; at the domain sizes money-like
    * columns have, the reduction IS the scale plan.
    *
    * Output: (g, nx, ny, e_xx, e_yy, e_xy, energy), groups having both
    * samples only; energy ≥ 0, = 0 iff the samples are identical
    * multisets.
    */
  def energyDistance(df: DataFrame, group: Column, valueInt: Column, inSample1: Column): DataFrame = {
    val base = df.select(
      group.as("g"), valueInt.cast(LongType).as("v"),
      when(inSample1, 1L).otherwise(0L).as("s1"))
    val g = base.groupBy(col("g"), col("v")).agg(
      sum(col("s1")).as("cx"), sum(lit(1L) - col("s1")).as("cy"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(col("v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val c = g.select(col("g"), col("v"), col("cx"), col("cy"),
      coalesce(sum(col("cx")).over(w), lit(0L)).as("pxlt"),
      coalesce(sum(col("cy")).over(w), lit(0L)).as("pylt"),
      coalesce(sum(dec(col("cx")) * dec(col("v"))).over(w), dec(lit(0L))).as("sxlt"),
      coalesce(sum(dec(col("cy")) * dec(col("v"))).over(w), dec(lit(0L))).as("sylt"))
    // Per-value charges: (v·PxLT − SxLT) = Σ over the x's below v of
    // (v − x), all ≥ 0 by construction — decimal throughout.
    val chgX = dec(col("v")) * dec(col("pxlt")) - col("sxlt")
    val chgY = dec(col("v")) * dec(col("pylt")) - col("sylt")
    val agg = c.groupBy(col("g")).agg(
      sum(col("cx")).as("nx"),
      sum(col("cy")).as("ny"),
      sum(dec(col("cx")) * chgX).as("sxx"),
      sum(dec(col("cy")) * chgY).as("syy"),
      (sum(dec(col("cy")) * chgX) + sum(dec(col("cx")) * chgY)).as("sxy"),
    ).filter(col("nx") > 0 && col("ny") > 0)
    val d = (c0: Column) => c0.cast(DoubleType)
    val exx = d(col("sxx")) * lit(2.0) / (d(col("nx")) * d(col("nx")))
    val eyy = d(col("syy")) * lit(2.0) / (d(col("ny")) * d(col("ny")))
    val exy = d(col("sxy")) / (d(col("nx")) * d(col("ny")))
    agg.select(
      col("g"), col("nx"), col("ny"),
      exx.as("e_xx"), eyy.as("e_yy"), exy.as("e_xy"),
      (lit(2.0) * exy - exx - eyy).as("energy"))
  }
}
