package graft.parsers

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Baseline-expression metrics parser (reference
  * `modules/baseline_expression/{baseline.py,metrics.py}`): the GTEx
  * gene×tissue matrix (pandas there) becomes a per-gene tissue
  * vector → Gini + HPA specificity/distribution classifiers, all as
  * higher-order column expressions (no UDF, no driver loop).
  *
  * AdaTiSS Z-scores (`metrics.py:65-124`) shell out to R in the reference
  * — an external model, modeled here as a precomputed LUT join
  * (SURVEY.md §7.1: all external services become lookup tables).
  */
object BaselineExpressionParser {

  /** @param wide       gene id column + one numeric column per tissue
    * @param adatissLut optional precomputed (geneId, tissueName,
    *                   adatissScore) stand-in for the R model output
    */
  def apply(
      wide: DataFrame,
      geneCol: String = "gene_id",
      lowExpressionThreshold: Double = 1.0,
      adatissLut: Option[DataFrame] = None,
  ): DataFrame = {
    // One tissue array per input row, grouped by gene: the same vector as
    // melting to gene × tissue rows and collecting them back, without the
    // rows (a gene listed twice gets both rows' tissues, a null cell a
    // null expression).
    val tissueNames = wide.columns.filterNot(_ == geneCol).toSeq
    val vectors = wide
      .groupBy(geneCol)
      .agg(
        sort_array(flatten(collect_list(array(tissueNames.map(t =>
          struct(lit(t).as("tissueName"), col(t).cast("double").as("expression"))): _*))))
          .as("tissues"))
      .withColumn("expr_vec", transform(col("tissues"), _.getField("expression")))
    val hpa = graft.functions.GraftFunctions.hpaClassify(col("expr_vec"), lowExpressionThreshold)
    val withMetrics = vectors.select(
      col(geneCol),
      col("tissues"),
      round(graft.functions.GraftFunctions.gini(col("expr_vec")), 6).as("gini"),
      hpa.getField("specificity").as("hpaSpecificity"),
      hpa.getField("distribution").as("hpaDistribution"),
    )
    adatissLut match {
      case None => withMetrics
      case Some(lut) =>
        val packed = lut
          .groupBy(col("geneId").as(geneCol))
          .agg(sort_array(collect_list(struct(
            col("tissueName").as("bodyPartName"),
            round(col("adatissScore"), 3).as("adatissScore"),
          ))).as("adatissScores"))
        withMetrics.join(broadcast(packed), Seq(geneCol), "left")
    }
  }
}
