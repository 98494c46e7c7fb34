package graft.parsers

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Stats, Union}

// Remaining reference modules, each demonstrating its distinctive
// operator shape. Together with SimpleParsers/AnalyticalParsers/
// BaselineExpression/Chembl/Orphanet this completes the module inventory
// (SURVEY.md intro list).

/** IntOGen driver-genes parser (reference `modules/IntOGen.py`):
  * the F4 DOI→PMID dictionary "UDF" as a literal map + coalesce
  * (unmapped DOIs pass through), source-prefix routing, and the
  * Bonferroni-threshold filter from an in-plan count
  * (`common/evidence.py:349-358` applied as in `GeneBurden.py:123-127`).
  */
object IntOGenParser {

  /** `DOI_TO_PMID_MAPPING` (`IntOGen.py:23-33`) shape. */
  val doiToPmid: Map[String, String] = Map(
    "10.1038/ng.2529" -> "23334666",
    "10.1038/s41588-023-01321-1" -> "36928603",
    "10.1038/ng.3940" -> "28825729",
  )

  /** `parse_source` (`IntOGen.py:36-44`): WEB sources → null; otherwise
    * take the value after ':', map DOI→PMID with pass-through, wrap in a
    * single-element array. No UDF: map literal + coalesce.
    */
  def parseSource(source: Column): Column = {
    val m = map(doiToPmid.toSeq.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
    // get() not element_at(): a colon-less source must yield null (as the
    // reference's split()[1] does), not an ANSI out-of-bounds error.
    val processed = when(source.startsWith("WEB"), lit(null))
      .otherwise(trim(get(split(source, ":"), lit(1))))
    val mapped = coalesce(element_at(m, processed), processed)
    when(mapped.isNotNull, array(mapped))
  }

  def apply(raw: DataFrame, cohorts: DataFrame): DataFrame = {
    val nGenes = broadcast(raw.agg(countDistinct(col("SYMBOL")).as("__n")))
    raw
      .join(broadcast(cohorts), Seq("COHORT"), "left")
      .crossJoin(nGenes)
      .filter(col("QVALUE_COMBINATION") < Stats.bonferroni(col("__n")))
      .select(
        lit("intogen").as("datasourceId"),
        lit("somatic_mutation").as("datatypeId"),
        col("SYMBOL").as("targetFromSourceId"),
        col("CANCER_TYPE").as("diseaseFromSource"),
        col("QVALUE_COMBINATION").cast("double").as("resourceScore"),
        parseSource(col("SOURCE")).as("literature"),
        col("cohortShortName"),
      )
  }
}

/** Pharmacogenetics parser (reference `modules/Pharmacogenetics.py`):
  * R10 `from_csv` genotypeId → chr/pos/ref/alt split (`:117-129`), the
  * multi-allelic alt explode with self-filter, right-join back, and the
  * F10 GPT-phenotype cache as a LUT join (`:101-106` — the reference
  * itself caches LLM output to a table).
  */
object PharmacogeneticsParser {

  /** `add_variantid_column` (`Pharmacogenetics.py:117-129`), faithfully:
    * split, explode alts, drop ref==alt, rebuild variantId, right join.
    */
  def addVariantId(input: DataFrame): DataFrame = {
    val split_ = from_csv(
      col("genotypeId"),
      org.apache.spark.sql.types.StructType.fromDDL("chr string, pos string, ref string, alt string"),
      Map("sep" -> "_"))
    input
      .select(col("genotypeId"), split_.as("g"))
      .select(col("genotypeId"), col("g.chr"), col("g.pos"), col("g.ref"), explode(split(col("g.alt"), ",")).as("alt"))
      .filter(!(col("ref") === col("alt")))
      .select(col("genotypeId"), concat_ws("_", col("chr"), col("pos"), col("ref"), col("alt")).as("variantId"))
      .join(input, Seq("genotypeId"), "right")
  }

  def apply(raw: DataFrame, phenotypeLut: DataFrame): DataFrame =
    addVariantId(raw)
      .join(broadcast(phenotypeLut), Seq("genotypeAnnotationText"), "left")
      .select(
        lit("pharmgkb").as("datasourceId"),
        col("genotypeId"),
        col("variantId"),
        col("gene").as("targetFromSourceId"),
        col("drug").as("drugFromSource"),
        col("phenotypeText"),
        explode_outer(col("phenotypeEfoIds")).as("diseaseFromSourceMappedId"),
      )
}

/** OTAR CRISPR parser (reference `partner_preview_scripts/ot_crispr.py`):
  * the §2.12 config-driven fan-out — a collected study table drives
  * per-study sub-pipelines that union — plus J3 left-anti control-gene
  * subtraction (`:281-293`) and the W4 stabilized replicates[0] pick
  * (`:322-342`).
  */
object OtCrisprParser {

  final case class StudyConfig(studyId: String, threshold: Double)

  /** Per-replicate hit selection with left-anti control removal. */
  def processReplicate(hits: DataFrame, controls: Option[DataFrame], threshold: Double): DataFrame = {
    val thresholded = hits.filter(col("resourceScore") <= threshold)
    controls match {
      case Some(c) => thresholded.join(c, Seq("targetFromSourceId"), "left_anti")
      case None => thresholded
    }
  }

  /** Aggregate replicate rows per gene; require presence in all
    * replicates; pick the representative replicate deterministically
    * (reference takes `replicates[0]` of a collect_list — order-sensitive,
    * stabilized here with sort_array per SURVEY §7.3).
    */
  def combineReplicates(replicates: Seq[DataFrame], studyId: String): DataFrame =
    Union.unionByNameAll(replicates)
      .groupBy("targetFromSourceId")
      .agg(sort_array(collect_list(struct(col("resourceScore"), col("log2FoldChangeValue")))).as("replicates"))
      .filter(size(col("replicates")) === replicates.size)
      .select(
        col("targetFromSourceId"),
        col("replicates").getItem(0).getField("resourceScore").as("resourceScore"),
        col("replicates").getItem(0).getField("log2FoldChangeValue").as("log2FoldChangeValue"),
        lit(studyId).as("studyId"),
      )

  /** Config fan-out: one sub-pipeline per study row, unioned (the
    * reference collects the study table to the driver, `:349-355`).
    */
  def apply(studies: Seq[StudyConfig], replicatesByStudy: Map[String, Seq[DataFrame]],
            controlsByStudy: Map[String, DataFrame] = Map.empty): DataFrame =
    Union.unionByNameAll(studies.map { s =>
      val reps = replicatesByStudy(s.studyId)
        .map(r => processReplicate(r, controlsByStudy.get(s.studyId), s.threshold))
      combineReplicates(reps, s.studyId)
    })
}

/** Chemical-probes parser (reference `modules/chemicalProbes.py`):
  * R7 array algebra — per-probe quality flags assembled with
  * array/array_except/array_contains and a rating derived from scores
  * (`:64-81,152-157`).
  */
object ChemicalProbesParser {
  def apply(raw: DataFrame): DataFrame =
    raw
      .withColumn("flags", filter(array(
        when(col("cellScore") >= 75, lit("high-quality cell probe")),
        when(col("organismScore") >= 75, lit("high-quality organism probe")),
        when(col("isPanelMember") === 1, lit("probe panel member")),
      ), _.isNotNull))
      .select(
        lit("chemical_probes").as("datasourceId"),
        col("targetFromSourceId"),
        col("probeName").as("id"),
        col("flags"),
        when(col("cellScore") >= 75 || col("organismScore") >= 75, lit("suitable"))
          .otherwise(lit("suitable with caution")).as("scientificUseRating"),
        array_contains(col("flags"), "probe panel member").as("isInProbesPanel"),
      )
}

/** Brain-CRISPR parser, description-splitting core (reference
  * `modules/BrainCRISPR.py:118-175` — an F5 struct-returning Python UDF
  * over a markdown-ish experiment description; here native
  * regexp_extracts).
  */
object BrainCrisprParser {

  /** One `|`-delimited part of "TITLE | experiment: EXP | analysis: AN",
    * trimmed; null when missing or blank.
    */
  private def part(desc: Column, re: String): Column =
    graft.core.Cleanup.emptyToNull(trim(regexp_extract(desc, re, 1)))

  def apply(raw: DataFrame, diseaseLut: DataFrame): DataFrame =
    raw
      .withColumn("studyOverview", part(col("description"), "^([^|]+)"))
      .withColumn("experimentDescription", part(col("description"), "experiment:\\s*([^|]+)"))
      .join(broadcast(diseaseLut), Seq("screenId"), "left")
      .select(
        lit("crispr_brain").as("datasourceId"),
        col("targetFromSourceId"),
        col("screenId").as("studyId"),
        col("studyOverview"),
        col("experimentDescription"),
        col("diseaseFromSourceMappedId"),
        col("resourceScore").cast("double").as("resourceScore"),
      )
}

/** CVDI gene-burden parser (reference `modules/CvdiGeneBurden.py`):
  * S10 multi-header input (see Readers.csvMultiHeader) and the
  * "OR (95% CI)" free-text statistic parsing via regexp_extract
  * (`:176-191`).
  */
object CvdiGeneBurdenParser {

  /** `"1.25 (1.10-1.42)"` → (oddsRatio, ciLower, ciUpper) doubles.
    * Non-matching cells ("NA", "-") extract "" — nulled before the cast,
    * which would otherwise throw under ANSI mode (pandas reference
    * degrades to NaN for the same cells).
    */
  def parseOrCi(orCi: Column): (Column, Column, Column) = {
    def num(pat: String): Column =
      graft.core.Cleanup.emptyToNull(regexp_extract(orCi, pat, 1)).cast("double")
    (num("^([\\d.]+)"), num("\\(([\\d.]+)[-–]"), num("[-–]([\\d.]+)\\)"))
  }

  def apply(raw: DataFrame, efoLut: DataFrame, pCutoffCol: String = "pCutoff"): DataFrame = {
    val (or_, lo, hi) = parseOrCi(col("orCi"))
    raw
      .filter(col("pValue") <= col(pCutoffCol))
      .select(
        lit("gene_burden").as("datasourceId"),
        lit("genetic_association").as("datatypeId"),
        lit("CVDI Human Disease Portal").as("projectId"),
        col("gene").as("targetFromSourceId"),
        col("phenotype").as("diseaseFromSource"),
        col("pValue").cast("double").as("resourceScore"),
        Stats.pValueExponent(col("pValue")).as("pValueExponent"),
        Stats.pValueMantissa(col("pValue")).as("pValueMantissa"),
        or_.as("oddsRatio"),
        lo.as("oddsRatioConfidenceIntervalLower"),
        hi.as("oddsRatioConfidenceIntervalUpper"),
      )
      .transform(df => graft.core.OntologyMap.nullSafeLeftJoin(
        df, efoLut, Seq("diseaseFromSource" -> "diseaseFromSource"), Seq("diseaseFromSourceMappedId")))
  }
}
