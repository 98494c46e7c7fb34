package graft.parsers

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{Cleanup, OntologyMap, Stats, Union}

// Linear single-source parsers (SURVEY.md §3.1 lifecycle).
// Each is a pure DataFrame→DataFrame pipeline; file I/O stays in
// graft.core.Readers so tests can inject fixtures directly.

/** ClinGen gene-validity parser (reference `modules/ClinGen.py:75-98`):
  * project + rename, literal datasource fields, URL struct wrap,
  * single-element MOI array, classification-date formatting, then EFO
  * mapping via the null-safe LUT join (F9).
  *
  * Input schema (B1, FIXTURES.md): GENE SYMBOL, DISEASE LABEL, DISEASE ID
  * (MONDO), MOI, CLASSIFICATION, ONLINE REPORT, CLASSIFICATION DATE.
  */
object ClinGenParser {
  def apply(raw: DataFrame, efoLut: DataFrame): DataFrame = {
    val shaped = raw.select(
      lit("clingen").as("datasourceId"),
      lit("genetic_literature").as("datatypeId"),
      col("GENE SYMBOL").as("targetFromSourceId"),
      col("DISEASE LABEL").as("diseaseFromSource"),
      col("DISEASE ID (MONDO)").as("diseaseFromSourceId"),
      when(col("MOI").isNotNull, array(col("MOI"))).as("allelicRequirements"),
      col("CLASSIFICATION").as("confidence"),
      Evidence.urlStruct("ClinGen gene validity curation", col("ONLINE REPORT")).as("urls"),
      date_format(col("CLASSIFICATION DATE"), "yyyy-MM-dd").as("releaseDate"),
    )
    OntologyMap.addEfoMapping(shaped, efoLut)
  }
}

/** SLAPEnrich pathway-enrichment parser (reference
  * `modules/SLAPEnrich.py:59-93`): significance threshold filter, pathway
  * → Reactome LUT left join, struct/array evidence projection.
  */
object SLAPEnrichParser {
  def apply(raw: DataFrame, pathwayLut: DataFrame, pCutoff: Double = 1e-4): DataFrame =
    raw
      .filter(col("SLAPEnrichPval") < pCutoff)
      .join(broadcast(pathwayLut), Seq("pathway"), "left")
      .select(
        lit("slapenrich").as("datasourceId"),
        lit("affected_pathway").as("datatypeId"),
        col("gene").as("targetFromSourceId"),
        col("tumor_type").as("diseaseFromSource"),
        col("SLAPEnrichPval").cast("double").as("resourceScore"),
        when(col("reactomeId").isNotNull,
          array(struct(col("reactomeId").as("id"), col("description").as("name"))))
          .as("pathways"),
      )
}

/** Gene2Phenotype panel parser (reference
  * `modules/Gene2Phenotype.py:104-191`): publication-list split (R5),
  * allelic-requirement array wrap, and the F3 max-priority functional
  * consequence picker — a semicolon list mapped through a priority table
  * and reduced to the highest-priority SO term, all native (no UDF).
  */
object Gene2PhenotypeParser {

  /** Variant-consequence priority, highest first (reference
    * `Gene2Phenotype.py:151-176` VARIANT_CONSEQUENCE_MAP shape).
    */
  val consequencePriority: Seq[(String, String)] = Seq(
    "absent gene product" -> "SO_0002317",
    "altered gene product structure" -> "SO_0002318",
    "decreased gene product level" -> "SO_0002316",
    "increased gene product level" -> "SO_0002315",
    "uncertain" -> "SO_0002220",
  )

  def apply(raw: DataFrame): DataFrame = {
    // term -> (priority index, SO code) as two literal maps (R8).
    val prio = map(consequencePriority.zipWithIndex.flatMap {
      case ((term, _), i) => Seq(lit(term), lit(i))
    }: _*)
    val soCode = map(consequencePriority.flatMap {
      case (term, so) => Seq(lit(term), lit(so))
    }: _*)
    val terms = filter(
      transform(split(lower(col("variant consequence")), ";"), trim(_)),
      t => element_at(prio, t).isNotNull)
    // argmin by priority: min over (priority, term) structs.
    val best = array_min(transform(terms, t => struct(element_at(prio, t).as("p"), t.as("t"))))
    raw.select(
      lit("gene2phenotype").as("datasourceId"),
      lit("genetic_literature").as("datatypeId"),
      col("gene symbol").as("targetFromSourceId"),
      col("disease name").as("diseaseFromSource"),
      col("confidence"),
      when(col("allelic requirement").isNotNull, array(col("allelic requirement")))
        .as("allelicRequirements"),
      Evidence.literatureList(col("publications")).as("literature"),
      element_at(soCode, best.getField("t")).as("variantFunctionalConsequenceId"),
    )
  }
}

/** Gene-burden multi-source parser (reference `modules/GeneBurden.py:26-59`
  * + `AzGeneBurden.py`): per-source pipelines with the p-value
  * mantissa/exponent motif, zero-p repair, trait-mapping join, then the U1
  * schema-tolerant union + distinct.
  */
object GeneBurdenParser {

  /** AZ-PheWAS-shaped branch (`AzGeneBurden.py:48-135`). */
  def azBranch(raw: DataFrame, traitLut: DataFrame, pCutoff: Double = 1e-7): DataFrame = {
    val repaired = Stats.repairZeroPValues(raw, "pValue")
    repaired
      .filter(col("pValue") <= pCutoff)
      .join(broadcast(traitLut), Seq("diseaseFromSource"), "left")
      .select(
        lit("gene_burden").as("datasourceId"),
        lit("genetic_association").as("datatypeId"),
        col("Gene").as("targetFromSourceId"),
        col("diseaseFromSource"),
        col("diseaseFromSourceMappedId"),
        lit("AstraZeneca PheWAS Portal").as("projectId"),
        col("pValue").cast("double").as("resourceScore"),
        Stats.pValueExponent(col("pValue")).as("pValueExponent"),
        Stats.pValueMantissa(col("pValue")).as("pValueMantissa"),
        when(col("Type") === "Quantitative", col("beta")).cast("float").as("beta"),
        when(col("Type") === "Binary", col("oddsRatio")).cast("float").as("oddsRatio"),
      )
  }

  /** Curated-TSV-shaped branch (`GeneBurden.py:130-178`). */
  def curatedBranch(raw: DataFrame): DataFrame =
    raw.select(
      lit("gene_burden").as("datasourceId"),
      lit("genetic_association").as("datatypeId"),
      col("targetFromSourceId"),
      col("diseaseFromSource"),
      col("diseaseFromSourceMappedId"),
      col("projectId"),
      col("resourceScore").cast("double").as("resourceScore"),
      Stats.pValueExponent(col("resourceScore")).as("pValueExponent"),
      Stats.pValueMantissa(col("resourceScore")).as("pValueMantissa"),
      split(col("sex"), ",\\s*").as("sex"),
    )

  def apply(branches: Seq[DataFrame]): DataFrame =
    Union.unionByNameAll(branches, allowMissingColumns = true).distinct()
}

/** PanelApp phenotype parser (reference `modules/PanelApp.py:101-216`):
  * multi-valued phenotype split+explode (R1), the regex rulebook fold
  * (§2.9), OMIM/ontology-ID harvesting via regexp_extract, and
  * empty-string → null scrubbing.
  */
object PanelAppParser {

  /** Pre-split cleanup rulebook — the reference's
    * `PHENOTYPE_BEFORE_SPLIT_RE` (`PanelApp.py:18-36`), applied in order
    * before the ';' split: record-specific fixes, curly-brace removal,
    * unglue phenotypes fused after a 6-digit OMIM code, whitespace
    * normalization, semicolon-spacing normalization.
    */
  val phenotypeRulesBeforeSplit: Seq[(String, String)] = Seq(
    ("\\(HP:0006574;\\);", "(HP:0006574);"),
    ("Abruzzo-Erickson;syndrome", "Abruzzo-Erickson syndrome"),
    ("Deafness, autosomal recessive; 12", "Deafness, autosomal recessive, 12"),
    ("Waardenburg syndrome, type; 3", "Waardenburg syndrome, type 3"),
    ("Ectrodactyly, ectodermal dysplasia, and cleft lip/palate syndrome; 3",
      "Ectrodactyly, ectodermal dysplasia, and cleft lip/palate syndrome, 3"),
    ("[{}]", ""),
    ("(\\d{6})([A-Za-z])", "$1;$2"),
    ("[\\t ]+", " "),
    (" ?; ?", ";"),
  )

  /** Post-split scrubs — `PHENOTYPE_AFTER_SPLIT_RE` (`PanelApp.py:39-44`). */
  val phenotypeRulesAfterSplit: Seq[(String, String)] = Seq(
    (" \\(no OMIM number\\)", ""),
    (" \\(NO phenotype number in OMIM\\)", ""),
    ("(no|No|NO) OMIM( phenotype|number|entry|NUMBER|NUMBER OR DISEASE)?", ""),
    ("[( ]*(from )?PMID:? *\\d+[ ).]*", ""),
  )

  /** Ontology-ID harvesting patterns (`PanelApp.py:46-56`). */
  private val leading = "[ ,-]*"
  private val sep = "[:_ #]*"
  private val trailing = "[:.]*"
  val omimRe: String = leading + "(OMIM|MIM)?" + sep + "(\\d{6})" + trailing
  val otherRe: String = leading + "(OrphaNet: ORPHA|Orphanet|ORPHA|HP|MONDO)" + sep + "(\\d+)" + trailing

  /** PMID harvesting (reference `PanelApp.py:58-74,333-360`): ASCII-scrub,
    * the two known publication-string shapes regexp_extract_all'd, digit
    * runs pulled from every occurrence, deduped as a sorted set; the
    * placeholder `0` and over-long IDs dropped; the known garbage string
    * filtered out entirely. The reference runs this per row in driver
    * Python — here it is one pure column expression.
    */
  def extractPubmedIds(pub: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val clean = trim(regexp_replace(pub, "[^\\x20-\\x7E]", ""))
    val p1 = regexp_extract_all(clean, lit("^[\\d, ]+(?: |$)"), lit(0))
    val p2 = regexp_extract_all(clean, lit("(?:PubMed|PMID)[: ]*[\\d, ]+"), lit(0))
    val ids = regexp_extract_all(array_join(concat(p1, p2), " "), lit("(\\d+)"), lit(1))
    val kept = filter(array_distinct(ids), i => i =!= "0" && length(i) <= 8)
    when(clean.rlike("^224,614,752,030,146,000,000,000"), array().cast("array<string>"))
      .otherwise(sort_array(kept))
  }

  def apply(raw: DataFrame): DataFrame = {
    val preCleaned = Cleanup.applyRegexRules(
      raw
        .filter(col("phenotypes").isNotNull && col("confidence_level").isin("2", "3"))
        .withColumn("phenotype", col("phenotypes")),
      "phenotype", phenotypeRulesBeforeSplit)
    val exploded = preCleaned
      .withColumn("phenotype", explode(split(col("phenotype"), ";")))
    val cleaned = Cleanup.applyRegexRules(exploded, "phenotype", phenotypeRulesAfterSplit)
    cleaned
      // Only a blank phenotype yields no disease name and no ID (both ID
      // patterns need digits), so blanks are dropped before any extract.
      .filter(trim(col("phenotype")) =!= "")
      // Each regex runs once per row: the extracts are bound in one
      // projection before the `CASE WHEN`s read them.
      .select(
        col("gene_symbol"), col("panel_name"),
        regexp_extract(col("phenotype"), omimRe, 2).as("omim"),
        regexp_extract(col("phenotype"), otherRe, 1).as("otherTag"),
        regexp_extract(col("phenotype"), otherRe, 2).as("otherId"),
        trim(regexp_replace(regexp_replace(col("phenotype"), omimRe, ""), otherRe, "")).as("rest"),
      )
      .select(
        lit("genomics_england").as("datasourceId"),
        col("gene_symbol").as("targetFromSourceId"),
        col("panel_name").as("studyId"),
        Cleanup.emptyToNull(col("rest")).as("diseaseFromSource"),
        Cleanup.emptyToNull(col("omim")).as("omimId"),
        // Normalize source tag to its canonical prefix; the ":" keeps the
        // ID non-blank.
        when(col("otherId") =!= "",
          concat(
            when(upper(col("otherTag")).contains("ORPHA"), lit("Orphanet")).otherwise(col("otherTag")),
            lit(":"),
            col("otherId")))
          .as("ontologyId"),
      )
      .distinct()
  }
}

/** PROGENy pathway-activity parser (reference `modules/PROGENY.py:32-110`):
  * literal-PMID literature array, cancer-type → EFO left LUT join
  * (`cancer2EFO`, `:64-77`), pathway → Reactome inner LUT join
  * (`pathway2Reactome`, `:79-90`), comma-space target-list split+explode,
  * and the evidence projection the reference builds row-by-row on the
  * driver (`parseEvidenceString`, `:93-110`) — expressed here as one
  * declarative select (its K3 collect-loop is an anti-pattern, SURVEY
  * §2.2).
  *
  * @param diseaseLut (Cancer_type, EFO_id); pre-renamed from the
  *                   resource file's Cancer_type_acronym
  * @param pathwayLut (Pathway, reactomeId, description)
  */
object ProgenyParser {
  def apply(raw: DataFrame, diseaseLut: DataFrame, pathwayLut: DataFrame): DataFrame =
    raw
      .join(broadcast(diseaseLut), Seq("Cancer_type"), "left")
      .join(broadcast(pathwayLut), Seq("Pathway"), "inner")
      .withColumn("target", explode(split(col("target"), ", ")))
      .select(
        lit("progeny").as("datasourceId"),
        lit("affected_pathway").as("datatypeId"),
        col("`P.Value`").cast("double").as("resourceScore"),
        col("target").as("targetFromSourceId"),
        col("Cancer_type").as("diseaseFromSource"),
        array(struct(col("reactomeId").as("id"), col("description").as("name"))).as("pathways"),
        array(lit("29295995")).as("literature"),
        col("EFO_id").as("diseaseFromSourceMappedId"),
      )
}
