package graft.parsers

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Dedup, Reshape, Stats}
import graft.functions.GraftFunctions

// Multi-table / matrix-shaped parsers (SURVEY.md §3.2–3.3 lifecycles).

/** DepMap essentiality parser (reference `modules/Essentiality.py`):
  * the wide gene×cell-line matrix melt (R3, `:210-247`) followed by the
  * TWO-LEVEL nesting aggregation (`:149-182`): per (gene, tissue) collect
  * screen structs, then per gene collect tissue structs.
  */
object EssentialityParser {

  /** Melt `CRISPRGeneEffect`-shaped wide matrix: row key depmapId, one
    * column per `"SYMBOL (entrezId)"` gene, float effect values.
    */
  def meltGeneMatrix(wide: DataFrame, idCol: String = "depmapId"): DataFrame =
    Reshape
      .melt(wide, Seq(idCol), varName = "geneRaw", valName = "geneEffect")
      .withColumn("targetSymbol", trim(regexp_replace(col("geneRaw"), "\\s*\\(\\d+\\)$", "")))
      .drop("geneRaw")

  /** @param keepOnlyEssentials reference `keep_only_essentials`
    *   (`Essentiality.py:119-120`): restrict to rows flagged essential.
    *
    * Reference behaviors carried over (`Essentiality.py:100-115`):
    * missing tissue → "other"; mutation classified damaging/hotspot from
    * whichever mutation columns the model LUT carries; rows without a
    * gene effect dropped (no data for that gene × cell line).
    */
  def apply(
      geneEffectWide: DataFrame,
      modelLut: DataFrame,
      essentialThreshold: Double = -1.0,
      keepOnlyEssentials: Boolean = false,
  ): DataFrame = {
    val lutCols = modelLut.columns.toSet
    val dm = if (lutCols("damagingMutation")) col("damagingMutation") else lit(null)
    val hm = if (lutCols("hotspotMutation")) col("hotspotMutation") else lit(null)
    val flagged = meltGeneMatrix(geneEffectWide)
      .filter(col("geneEffect").isNotNull)
      .join(broadcast(modelLut), Seq("depmapId"), "left")
      .withColumn("tissueName", coalesce(col("tissueName"), lit("other")))
      .withColumn("mutation", when(dm.isNotNull, "damaging").when(hm.isNotNull, "hotspot"))
      .withColumn("isEssential", coalesce(col("geneEffect") <= essentialThreshold, lit(false)))
    val base = if (keepOnlyEssentials) flagged.filter(col("isEssential")) else flagged
    base
      .groupBy("targetSymbol", "tissueName")
      .agg(
        sort_array(collect_list(struct(
          col("depmapId"), col("cellLineName"),
          col("mutation"),
          round(col("geneEffect").cast("double"), 6).as("geneEffect"),
          col("isEssential"),
        ))).as("screens"))
      .groupBy("targetSymbol")
      .agg(sort_array(collect_list(struct(col("tissueName"), col("screens")))).as("depMapEssentiality"))
  }
}

/** IMPC mouse-model parser, join-DAG core (reference `modules/IMPC.py`):
  * the MGI→HGNC→Ensembl mapping chain (J1 ×2, `:237-245`), free-text
  * phenotype harvesting with regexp_extract_all (`:258-271`), the
  * phenotype-set groupBy-collect (`:374-413`), score filter with null
  * preservation (P7, `:421`), and the W1 window dedup (`:453-462`).
  */
object ImpcParser {
  def apply(
      diseaseModelSummary: DataFrame, // model_id, model_phenotypes text, disease_id, score
      mouseGeneMap: DataFrame,        // gene_id (MGI), hgnc_gene_id
      humanGeneMap: DataFrame,        // hgnc_id, ensembl_gene_id
      scoreCutoff: Double = 0.4,
  ): DataFrame = {
    val geneChain = mouseGeneMap
      .join(humanGeneMap, mouseGeneMap("hgnc_gene_id") === humanGeneMap("hgnc_id"), "inner")
      .select(col("gene_id").as("targetInModelMgiId"), col("ensembl_gene_id").as("targetFromSourceId"))

    val withPhenotypes = diseaseModelSummary
      .withColumn("phenotypeIds",
        expr("regexp_extract_all(model_phenotypes, 'MP:\\\\d+', 0)"))
      .withColumn("diseaseModelAssociatedModelPhenotypes",
        sort_array(array_distinct(col("phenotypeIds"))))
      .drop("phenotypeIds")

    val scored = withPhenotypes
      // Rescale 0-100 → 0-1 FIRST (matching the reference, which filters
      // the already-rescaled resourceScore) so the cutoff is in the same
      // units as the 0.4 default.
      .withColumn("resourceScore", round(col("disease_model_avg_norm").cast("double") / 100, 4))
      // Reference `IMPC.py:421`: ~(score < cutoff). Three-valued logic:
      // NULL < cutoff is NULL, NOT NULL is NULL, and filter drops non-TRUE
      // rows — so null-scored associations are dropped, same as PySpark.
      .filter(!(col("resourceScore") < scoreCutoff))
      .join(geneChain, Seq("targetInModelMgiId"), "inner")
      .select(
        lit("impc").as("datasourceId"),
        lit("animal_model").as("datatypeId"),
        col("targetFromSourceId"),
        col("disease_id").as("diseaseFromSourceId"),
        col("model_id").as("biologicalModelId"),
        col("resourceScore"),
        col("diseaseModelAssociatedModelPhenotypes"),
      )

    Dedup.topOnePerKey(
      scored,
      keys = Seq("targetFromSourceId", "diseaseFromSourceId"),
      order = Seq(col("resourceScore").desc_nulls_last, col("biologicalModelId").asc),
    )
  }

  /** Literature references per (model, gene): distinct model-target pairs
    * joined through model phenotypes to the MGI↔PubMed table, then
    * collect_set (reference `IMPC.py:337-346`).
    */
  def literature(
      diseaseModelSummary: DataFrame,  // model_id, targetInModelMgiId, ...
      modelMousePhenotypes: DataFrame, // model_id, mp_id
      mgiPubmed: DataFrame,            // targetInModelMgiId, mp_id, literature
  ): DataFrame =
    diseaseModelSummary
      .select("model_id", "targetInModelMgiId")
      .distinct()
      .join(modelMousePhenotypes, Seq("model_id"), "inner")
      .join(mgiPubmed, Seq("targetInModelMgiId", "mp_id"), "inner")
      .groupBy("model_id", "targetInModelMgiId")
      .agg(sort_array(collect_set(col("literature"))).as("literature"))

  /** Model-ID cleanup (reference `IMPC.py:348-369`): strip `#hom#early`
    * zygosity modifiers, then null out anything not in the MGI namespace
    * (e.g. `NOT-RELEASED-…`).
    */
  def cleanupModelId(df: DataFrame): DataFrame =
    df
      .withColumn("biologicalModelId", split(col("model_id"), "#").getItem(0))
      .drop("model_id")
      .withColumn("biologicalModelId",
        when(col("biologicalModelId").rlike("^MGI:\\d+$"), col("biologicalModelId")))

  /** The module's SECOND output (reference `IMPC.py:472-525`): the
    * mousePhenotypes dataset built from the same cached inputs as the
    * evidence — the §2.12 multi-consumer reuse point (callers persist
    * `diseaseModelSummary` before producing both outputs).
    */
  def mousePhenotypes(
      diseaseModelSummary: DataFrame,  // model_id, allelic, background, targetInModelMgiId
      geneMapping: DataFrame,          // targetInModelMgiId, targetFromSourceId
      modelMousePhenotypes: DataFrame, // model_id, mp_id
      mpTerms: DataFrame,              // mp_id, mp_term
      mpClass: DataFrame,              // modelPhenotypeId, modelPhenotypeClassId, modelPhenotypeClassLabel
      lit3: DataFrame,                 // output of [[literature]]
  ): DataFrame = {
    val base = diseaseModelSummary
      .select("model_id", "biologicalModelAllelicComposition",
        "biologicalModelGeneticBackground", "targetInModelMgiId")
      .distinct()
      .join(geneMapping, Seq("targetInModelMgiId"), "inner")
      .join(modelMousePhenotypes, Seq("model_id"), "inner")
      .join(mpTerms, Seq("mp_id"), "inner")
      .join(lit3, Seq("model_id", "targetInModelMgiId"), "left")
      .withColumnRenamed("mp_id", "modelPhenotypeId")
      .withColumnRenamed("mp_term", "modelPhenotypeLabel")
      .join(mpClass, Seq("modelPhenotypeId"), "inner")
    cleanupModelId(base)
      .groupBy("targetFromSourceId", "targetInModelMgiId", "modelPhenotypeId", "modelPhenotypeLabel")
      .agg(
        collect_set(struct(
          col("biologicalModelAllelicComposition").as("allelicComposition"),
          col("biologicalModelGeneticBackground").as("geneticBackground"),
          col("biologicalModelId").as("id"),
          col("literature"),
        )).as("biologicalModels"),
        collect_set(struct(
          col("modelPhenotypeClassId").as("id"),
          col("modelPhenotypeClassLabel").as("label"),
        )).as("modelPhenotypeClasses"),
      )
  }
}

/** Encore combinatorial-CRISPR parser (reference
  * `partner_preview_scripts/encore_parser.py`): per-cell-line stat-triplet
  * melt (R3 variant, `:137-170`), gene-pair symmetrization without a UDF
  * (F7, `:57-95`), and the Stouffer z-combination with the erf-based
  * two-sided p (`:246-264`) on the custom Catalyst expression.
  */
object EncoreParser {

  /** `GENE1~GENE2` + per-cell-line columns → one row per
    * (gene, partner, cellLine) with pval/lfc columns.
    */
  def meltAndSymmetrize(wide: DataFrame, metrics: Seq[String] = Seq("pval", "lfc")): DataFrame = {
    val molten = Reshape.meltMetricTriplets(wide, Seq("id"), metrics, entityName = "cellLine")
    // F7: emit (target, interactor) and (interactor, target) natively.
    val genes = split(col("id"), "~")
    val (g0, g1) = (get(genes, lit(0)), get(genes, lit(1))) // null-safe under ANSI
    molten
      .withColumn("pair", array(
        struct(g0.as("targetFromSourceId"), g1.as("interactorId")),
        struct(g1.as("targetFromSourceId"), g0.as("interactorId")),
      ))
      .withColumn("p", explode(col("pair")))
      .select((Seq(col("p.targetFromSourceId"), col("p.interactorId"), col("cellLine")) ++
        metrics.map(col)): _*)
  }

  /** Stouffer combination across cell lines per gene pair:
    * z_i from per-line p-values (probit via erf inverse is overkill here —
    * the reference combines z-scores it already has; we derive z from lfc
    * sign × |probit-ish| stand-in of the p), then p = 2·Φ̄(|Σz/√n|).
    */
  def stoufferCombine(perLine: DataFrame): DataFrame =
    perLine
      .withColumn("z", signum(col("lfc")) * -log(col("pval") + lit(1e-300)))
      .groupBy("targetFromSourceId", "interactorId")
      .agg(
        sum(col("z").cast("decimal(38,18)")).cast("double").as("sumZ"),
        count(lit(1)).as("n"),
      )
      .select(
        col("targetFromSourceId"),
        col("interactorId"),
        round(Stats.stoufferZ(col("sumZ"), col("n")), 6).as("zCombined"),
        // Deliberately unrounded: tail p-values live at 1e-20..1e-300.
        Stats.twoSidedPFromZ(Stats.stoufferZ(col("sumZ"), col("n"))).as("pCombined"),
      )

  def apply(wide: DataFrame): DataFrame =
    stoufferCombine(meltAndSymmetrize(wide))
}

/** Cancer-biomarkers parser (reference `modules/cancerBiomarkers.py`):
  * the F1 gDNA→variant-ID native chain (regexp_extract + concat_ws,
  * `:301-316`) and the R9 zip-with-pad of alterations × types (`:318-331`).
  */
object CancerBiomarkersParser {

  /** The groups of a `chr7:g.140453136A>T`-ish gDNA HGVS, in variant-ID
    * order (`7_140453136_A_T`): chromosome, position, reference, alternate.
    */
  private val gdnaGroups: Seq[(String, String)] = Seq(
    "chr" -> "^chr([0-9XYM]+):",
    "pos" -> "g\\.(\\d+)",
    "ref" -> "\\d+([ACGT]+)>",
    "alt" -> ">([ACGT]+)$",
  )

  /** The gDNA groups and both `;` splits are bound in one projection, so
    * each regex and split runs once per row: the variant ID's `CASE WHEN`
    * reads every group in its condition and again in its value, and the
    * zip reads the types twice per alteration. The ID is null unless all
    * four groups match.
    */
  def apply(raw: DataFrame): DataFrame = {
    val groups = gdnaGroups.map { case (name, _) => col(name) }
    raw
      .select(Seq(
        col("gene"), col("tumorType"), col("drug"),
        split(col("alterations"), ";").as("alterations"),
        split(col("alterationTypes"), ";").as("alterationTypes"),
      ) ++ gdnaGroups.map { case (name, re) => regexp_extract(col("gDNA"), re, 1).as(name) }: _*)
      .select(
        lit("cancer_biomarkers").as("datasourceId"),
        col("gene").as("targetFromSourceId"),
        col("tumorType").as("diseaseFromSource"),
        col("drug").as("drugFromSource"),
        when(groups.map(_ =!= "").reduce(_ && _), concat_ws("_", groups: _*)).as("variantId"),
        transform(Reshape.zipWithPad(col("alterations"), col("alterationTypes")),
          e => struct(e.getField("value").as("name"), e.getField("type").as("type")))
          .as("biomarkers"),
      )
  }
}

/** Target-safety parser (reference `modules/TargetSafety.py:69-141`):
  * multi-source unionByName → groupBy collect_set → empty-array→null
  * repair (A7) → in-place array-of-struct rewrite with the higher-order
  * transform (R6, `:85-100`).
  */
object TargetSafetyParser {
  def apply(sources: Seq[DataFrame]): DataFrame =
    graft.core.Union
      .unionByNameAll(sources, allowMissingColumns = true)
      .groupBy("targetFromSourceId", "event")
      .agg(
        sort_array(collect_set(struct(col("studyType").as("type"), col("studyDesc").as("description"))))
          .as("studies"),
        sort_array(collect_set(col("datasource"))).as("datasources"),
      )
      .withColumn("studies", Reshape.emptyArrayToNull(
        filter(col("studies"), s => s.getField("type").isNotNull)))
      // R6: rewrite each struct in place (uppercase the type tag).
      .withColumn("studies",
        transform(col("studies"), s =>
          struct(upper(s.getField("type")).as("type"), s.getField("description").as("description"))))
}
