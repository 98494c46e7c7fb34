package graft.parsers

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Stats, Union}

// The remaining thin reference modules — each is a short pipeline whose
// operators are already library primitives; included so the module
// inventory is complete (a reference user can run every parser shape).

/** Project Score parser (reference `modules/ProjectScore.py:60-76`):
  * J4 right join of cancer-type LUT onto cell-passport disease cell lines,
  * then groupBy + collect_set of the diseaseCellLine structs.
  */
object ProjectScoreParser {
  def apply(cellLines: DataFrame, passportCellLines: DataFrame): DataFrame =
    cellLines
      .select(lower(col("CANCER_TYPE")).as("cancerType"), col("CMP_ID").as("id"))
      .join(passportCellLines, Seq("id"), "right")
      .groupBy("cancerType")
      .agg(sort_array(collect_set(col("diseaseCellLine"))).as("diseaseCellLines"))
}

/** TEP parser (reference `modules/TEP.py:24-40`): URL synthesis via
  * concat + regexp_replace, multi-gene explode.
  */
object TepParser {
  def apply(raw: DataFrame): DataFrame =
    raw
      .withColumn("url",
        concat(lit("https://www.thesgc.org/tep/"), regexp_replace(lower(col("Gene")), "/", "")))
      .withColumn("targetFromSourceId", explode(split(col("Gene"), "/")))
      .withColumnRenamed("Therapeutic Area", "therapeuticArea")
      .withColumnRenamed("Description", "description")
      .select("targetFromSourceId", "url", "therapeuticArea", "description")
}

/** Genebass gene-burden parser (reference `modules/GenebassGeneBurden.py`):
  * parquet scan, significance filter, p-value motif, CI from beta ± SE.
  */
object GenebassParser {
  def apply(raw: DataFrame, pCutoff: Double = 6.7e-7): DataFrame =
    raw
      .filter(col("Pvalue_Burden") <= pCutoff)
      .select(
        lit("gene_burden").as("datasourceId"),
        lit("genetic_association").as("datatypeId"),
        lit("Genebass").as("projectId"),
        col("gene_id").as("targetFromSourceId"),
        col("description").as("diseaseFromSource"),
        col("Pvalue_Burden").cast("double").as("resourceScore"),
        Stats.pValueExponent(col("Pvalue_Burden")).as("pValueExponent"),
        Stats.pValueMantissa(col("Pvalue_Burden")).as("pValueMantissa"),
        col("BETA_Burden").cast("double").as("beta"),
        round(Stats.ciLower(col("BETA_Burden"), col("SE_Burden")), 6).as("betaConfidenceIntervalLower"),
        round(Stats.ciUpper(col("BETA_Burden"), col("SE_Burden")), 6).as("betaConfidenceIntervalUpper"),
      )
}

/** Validation-lab parser core (reference
  * `partner_preview_scripts/ValidationLab.py:126-207`): the F6 biomarker
  * mapper as a broadcast LUT join (was a dict-driven Python UDF), plus
  * the assay-column melt.
  */
object ValidationLabParser {

  /** (biomarkerColumn, rawValue) → struct(name, description); "0" rows
    * mean not-applied and drop out (reference returns None).
    */
  def mapBiomarkers(assays: DataFrame, biomarkerLut: DataFrame): DataFrame =
    assays
      .filter(col("biomarkerValue") =!= "0")
      .join(broadcast(biomarkerLut), Seq("biomarkerName", "biomarkerValue"), "left")
      .withColumn("biomarker",
        when(col("mappedName").isNotNull,
          struct(col("mappedName").as("name"), col("mappedDescription").as("description"))))

  def apply(raw: DataFrame, biomarkerLut: DataFrame): DataFrame = {
    val molten = graft.core.Reshape.melt(
      raw, idCols = Seq("cellLineName", "targetFromSourceId"),
      varName = "biomarkerName", valName = "biomarkerValue")
    mapBiomarkers(molten, biomarkerLut)
      .filter(col("biomarker").isNotNull)
      .groupBy("cellLineName", "targetFromSourceId")
      .agg(sort_array(collect_set(col("biomarker"))).as("biomarkerList"))
  }
}

/** Systems-biology parser (reference `modules/SystemsBiology.py`): score
  * renormalization to [0.5, 1] per study via min-max over a window-free
  * agg join.
  */
object SystemsBiologyParser {
  def apply(raw: DataFrame): DataFrame = {
    val bounds = raw.groupBy("studyId")
      .agg(min(col("score")).as("__min"), max(col("score")).as("__max"))
    raw
      .join(broadcast(bounds), Seq("studyId"))
      .select(
        lit("sysbio").as("datasourceId"),
        col("studyId"),
        col("targetFromSourceId"),
        col("diseaseFromSource"),
        round(Stats.minMaxScale(col("score"), col("__min"), col("__max")), 6).as("resourceScore"),
      )
  }
}

/** CRISPR-screens fan-out shell (reference `modules/crispr_screens.py:
  * 20-35`): combine per-source evidence sets with the U1 fold; sources
  * persist before the count action.
  */
object CrisprScreensParser {
  def apply(sources: Seq[DataFrame]): DataFrame =
    Union.unionByNameAll(sources.map(_.persist()), allowMissingColumns = true)
}
