package graft.parsers

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.Qc.EvidenceContract
import graft.core.Writers

/** The engine-level pipeline registry — the Spark-native counterpart of
  * the reference's Snakemake DAG (`Snakefile:60-86`): ~25 independent
  * rules, one per parser, each `(inputs) => evidence DataFrame` ending in
  * the K1 sink.
  *
  * Parsers stay pure (DataFrames in → DataFrame out, injected by the
  * caller/test); this registry carries the wiring metadata: which module
  * each pipeline reproduces, the input tables it expects, and the
  * pipeline's EVIDENCE CONTRACT — the value-level output schema the
  * reference enforces with a JSON Schema validation step before
  * accepting any evidence file (`Snakefile:110,130,154`). [[runToFile]]
  * validates the contract during the write itself (Dataset.observe — no
  * extra scan), and PipelinesSpec validates every registry entry's
  * contract on real parser output.
  *
  * Rules are independent, so a driver can run them embarrassingly
  * parallel exactly like `snakemake --cores all` — or submit each as its
  * own Spark job.
  */
object Pipelines {

  final case class Pipeline(
      name: String,
      referenceModule: String,
      inputs: Seq[String],
      run: (SparkSession, Map[String, DataFrame]) => DataFrame,
      contract: EvidenceContract = EvidenceContract(),
  )

  private val geneticAssociation =
    Map("datasourceId" -> Seq("gene_burden"), "datatypeId" -> Seq("genetic_association"))

  val all: Seq[Pipeline] = Seq(
    Pipeline("clingen", "modules/ClinGen.py", Seq("raw", "efoLut"),
      (_, in) => ClinGenParser(in("raw"), in("efoLut")),
      EvidenceContract(
        required = Seq("datasourceId", "datatypeId", "targetFromSourceId",
          "diseaseFromSource", "confidence", "releaseDate"),
        enums = Map("datasourceId" -> Seq("clingen"), "datatypeId" -> Seq("genetic_literature")),
        patterns = Map("releaseDate" -> "^\\d{4}-\\d{2}-\\d{2}$"),
        elementRequired = Seq("urls" -> "url"))),
    Pipeline("slapenrich", "modules/SLAPEnrich.py", Seq("raw", "pathwayLut"),
      (_, in) => SLAPEnrichParser(in("raw"), in("pathwayLut")),
      EvidenceContract(
        required = Seq("datasourceId", "datatypeId", "targetFromSourceId",
          "diseaseFromSource", "resourceScore"),
        enums = Map("datasourceId" -> Seq("slapenrich"), "datatypeId" -> Seq("affected_pathway")),
        elementRequired = Seq("pathways" -> "id"))),
    Pipeline("gene2phenotype", "modules/Gene2Phenotype.py", Seq("raw"),
      (_, in) => Gene2PhenotypeParser(in("raw")),
      EvidenceContract(
        required = Seq("datasourceId", "datatypeId", "targetFromSourceId",
          "diseaseFromSource", "confidence"),
        enums = Map("datasourceId" -> Seq("gene2phenotype"),
          "datatypeId" -> Seq("genetic_literature")),
        patterns = Map("variantFunctionalConsequenceId" -> "^SO_\\d+$"))),
    Pipeline("gene_burden", "modules/GeneBurden.py", Seq("azRaw", "azTraitLut", "curated"),
      (_, in) => GeneBurdenParser(Seq(
        GeneBurdenParser.azBranch(in("azRaw"), in("azTraitLut")),
        GeneBurdenParser.curatedBranch(in("curated")))),
      EvidenceContract(
        required = Seq("datasourceId", "datatypeId", "targetFromSourceId", "diseaseFromSource",
          "projectId", "resourceScore", "pValueExponent", "pValueMantissa"),
        enums = geneticAssociation)),
    Pipeline("panelapp", "modules/PanelApp.py", Seq("raw"),
      (_, in) => PanelAppParser(in("raw")),
      EvidenceContract(
        required = Seq("datasourceId", "targetFromSourceId", "studyId"),
        enums = Map("datasourceId" -> Seq("genomics_england")),
        patterns = Map(
          "omimId" -> "^\\d{6}$",
          "ontologyId" -> "^(Orphanet|HP|MONDO):\\d+$"))),
    Pipeline("essentiality", "modules/Essentiality.py", Seq("geneEffectWide", "modelLut"),
      (_, in) => EssentialityParser(in("geneEffectWide"), in("modelLut")),
      EvidenceContract(
        required = Seq("targetSymbol", "depMapEssentiality"),
        nonEmptyArrays = Seq("depMapEssentiality"),
        elementRequired = Seq("depMapEssentiality" -> "tissueName"))),
    Pipeline("impc", "modules/IMPC.py", Seq("diseaseModelSummary", "mouseGeneMap", "humanGeneMap"),
      (_, in) => ImpcParser(in("diseaseModelSummary"), in("mouseGeneMap"), in("humanGeneMap")),
      EvidenceContract(
        required = Seq("datasourceId", "datatypeId", "targetFromSourceId",
          "diseaseFromSourceId", "biologicalModelId", "resourceScore"),
        enums = Map("datasourceId" -> Seq("impc"), "datatypeId" -> Seq("animal_model")))),
    Pipeline("encore", "partner_preview_scripts/encore_parser.py", Seq("wide"),
      (_, in) => EncoreParser(in("wide")),
      EvidenceContract(
        required = Seq("targetFromSourceId", "interactorId", "zCombined", "pCombined"))),
    Pipeline("cancer_biomarkers", "modules/cancerBiomarkers.py", Seq("raw"),
      (_, in) => CancerBiomarkersParser(in("raw")),
      EvidenceContract(
        required = Seq("datasourceId", "targetFromSourceId", "diseaseFromSource", "drugFromSource"),
        enums = Map("datasourceId" -> Seq("cancer_biomarkers")),
        patterns = Map("variantId" -> "^\\w+_\\d+_[A-Z]+_[A-Z]+$"),
        elementRequired = Seq("biomarkers" -> "name"))),
    Pipeline("target_safety", "modules/TargetSafety.py", Seq("sources"),
      (_, in) => TargetSafetyParser(in.collect { case (k, v) if k.startsWith("source") => v }.toSeq),
      EvidenceContract(
        required = Seq("targetFromSourceId", "event", "datasources"),
        nonEmptyArrays = Seq("datasources"),
        elementRequired = Seq("studies" -> "type"))),
    Pipeline("baseline_expression", "modules/baseline_expression/", Seq("wide"),
      (_, in) => BaselineExpressionParser(in("wide")),
      EvidenceContract(
        required = Seq("gene_id", "tissues", "gini", "hpaSpecificity", "hpaDistribution"),
        nonEmptyArrays = Seq("tissues"),
        elementRequired = Seq("tissues" -> "tissueName"))),
    Pipeline("chembl", "modules/ChEMBL.py", Seq("evidence", "predictions"),
      (_, in) => ChemblParser(in("evidence"), in("predictions")),
      EvidenceContract(
        required = Seq("id", "urls"),
        elementRequired = Seq("urls" -> "url"))),
    Pipeline("orphanet", "modules/Orphanet.py", Seq("associations"),
      (_, in) => OrphanetParser(in("associations")),
      EvidenceContract(
        required = Seq("datasourceId", "datatypeId", "targetFromSourceId",
          "diseaseFromSource", "diseaseFromSourceId"),
        enums = Map("datasourceId" -> Seq("orphanet"),
          "datatypeId" -> Seq("genetic_association")),
        patterns = Map(
          "diseaseFromSourceId" -> "^Orphanet_\\d+$",
          "variantFunctionalConsequenceId" -> "^SO_\\d+$"))),
    Pipeline("intogen", "modules/IntOGen.py", Seq("raw", "cohorts"),
      (_, in) => IntOGenParser(in("raw"), in("cohorts")),
      EvidenceContract(
        required = Seq("datasourceId", "datatypeId", "targetFromSourceId",
          "diseaseFromSource", "resourceScore", "cohortShortName"),
        enums = Map("datasourceId" -> Seq("intogen"),
          "datatypeId" -> Seq("somatic_mutation")))),
    Pipeline("pharmacogenetics", "modules/Pharmacogenetics.py", Seq("raw", "phenotypeLut"),
      (_, in) => PharmacogeneticsParser(in("raw"), in("phenotypeLut")),
      EvidenceContract(
        required = Seq("datasourceId", "genotypeId", "targetFromSourceId", "drugFromSource"),
        enums = Map("datasourceId" -> Seq("pharmgkb")),
        patterns = Map("variantId" -> "^[^_]+_[^_]+_[^_]+_[^_]+$"))),
    Pipeline("chemical_probes", "modules/chemicalProbes.py", Seq("raw"),
      (_, in) => ChemicalProbesParser(in("raw")),
      EvidenceContract(
        required = Seq("datasourceId", "targetFromSourceId", "id", "flags",
          "scientificUseRating", "isInProbesPanel"),
        enums = Map("datasourceId" -> Seq("chemical_probes"),
          "scientificUseRating" -> Seq("suitable", "suitable with caution")))),
    Pipeline("crispr_brain", "modules/BrainCRISPR.py", Seq("raw", "diseaseLut"),
      (_, in) => BrainCrisprParser(in("raw"), in("diseaseLut")),
      EvidenceContract(
        required = Seq("datasourceId", "targetFromSourceId", "studyId",
          "studyOverview", "resourceScore"),
        enums = Map("datasourceId" -> Seq("crispr_brain")))),
    Pipeline("cvdi_gene_burden", "modules/CvdiGeneBurden.py", Seq("raw", "efoLut"),
      (_, in) => CvdiGeneBurdenParser(in("raw"), in("efoLut")),
      EvidenceContract(
        required = Seq("datasourceId", "datatypeId", "projectId", "targetFromSourceId",
          "diseaseFromSource", "resourceScore", "pValueExponent", "pValueMantissa"),
        enums = geneticAssociation +
          ("projectId" -> Seq("CVDI Human Disease Portal")))),
    Pipeline("project_score", "modules/ProjectScore.py", Seq("cellLines", "passportCellLines"),
      (_, in) => ProjectScoreParser(in("cellLines"), in("passportCellLines")),
      // cancerType stays OUT of required: the J4 right join keeps
      // passport lines with no cancer-type mapping as a null group.
      EvidenceContract(
        required = Seq("diseaseCellLines"),
        nonEmptyArrays = Seq("diseaseCellLines"))),
    Pipeline("tep", "modules/TEP.py", Seq("raw"),
      (_, in) => TepParser(in("raw")),
      EvidenceContract(
        required = Seq("targetFromSourceId", "url", "therapeuticArea"),
        patterns = Map("url" -> "^https://www\\.thesgc\\.org/tep/[a-z0-9]+$"))),
    Pipeline("genebass", "modules/GenebassGeneBurden.py", Seq("raw"),
      (_, in) => GenebassParser(in("raw")),
      EvidenceContract(
        required = Seq("datasourceId", "datatypeId", "projectId", "targetFromSourceId",
          "diseaseFromSource", "resourceScore", "pValueExponent", "pValueMantissa",
          "beta", "betaConfidenceIntervalLower", "betaConfidenceIntervalUpper"),
        enums = geneticAssociation + ("projectId" -> Seq("Genebass")))),
    Pipeline("validation_lab", "partner_preview_scripts/ValidationLab.py", Seq("raw", "biomarkerLut"),
      (_, in) => ValidationLabParser(in("raw"), in("biomarkerLut")),
      EvidenceContract(
        required = Seq("cellLineName", "targetFromSourceId", "biomarkerList"),
        nonEmptyArrays = Seq("biomarkerList"),
        elementRequired = Seq("biomarkerList" -> "name"))),
    Pipeline("sysbio", "modules/SystemsBiology.py", Seq("raw"),
      (_, in) => SystemsBiologyParser(in("raw")),
      EvidenceContract(
        required = Seq("datasourceId", "studyId", "targetFromSourceId",
          "diseaseFromSource", "resourceScore"),
        enums = Map("datasourceId" -> Seq("sysbio")))),
    Pipeline("crispr_screens", "modules/crispr_screens.py", Seq("sources"),
      (_, in) => CrisprScreensParser(in.collect { case (k, v) if k.startsWith("source") => v }.toSeq),
      // Schema-tolerant U1 fan-out: only the shared join key is
      // guaranteed across heterogeneous sources.
      EvidenceContract(required = Seq("targetFromSourceId"))),
    Pipeline("progeny", "modules/PROGENY.py", Seq("raw", "diseaseLut", "pathwayLut"),
      (_, in) => ProgenyParser(in("raw"), in("diseaseLut"), in("pathwayLut")),
      EvidenceContract(
        required = Seq("datasourceId", "datatypeId", "resourceScore", "targetFromSourceId",
          "diseaseFromSource", "pathways", "literature"),
        enums = Map("datasourceId" -> Seq("progeny"), "datatypeId" -> Seq("affected_pathway")),
        nonEmptyArrays = Seq("pathways", "literature"),
        elementRequired = Seq("pathways" -> "id"))),
    // Config fan-out (§2.12): replicate inputs keyed "rep*", optional
    // "controls"; single-study wiring — multi-study callers use
    // OtCrisprParser.apply directly.
    Pipeline("ot_crispr", "partner_preview_scripts/ot_crispr.py", Seq("rep1", "rep2", "controls"),
      (_, in) => OtCrisprParser(
        Seq(OtCrisprParser.StudyConfig("OTAR", 0.05)),
        Map("OTAR" -> in.keys.filter(_.startsWith("rep")).toSeq.sorted.map(in)),
        in.get("controls").map("OTAR" -> _).toMap),
      EvidenceContract(
        required = Seq("targetFromSourceId", "resourceScore", "log2FoldChangeValue", "studyId"))),
  )

  def byName: Map[String, Pipeline] = all.map(p => p.name -> p).toMap

  /** Run one pipeline and write its evidence with the K1 sink, the
    * pipeline's contract validated DURING the write (observe — the
    * reference's pre-accept JSON Schema gate, at zero extra scans).
    * Returns the sink's report: rows, bytes and violation counts.
    */
  def runToFile(
      spark: SparkSession,
      name: String,
      inputs: Map[String, DataFrame],
      outFile: String): Writers.Written = {
    val p = byName(name)
    Writers.writeJsonGzSingle(p.run(spark, inputs), outFile,
      if (p.contract.isEmpty) None else Some(p.contract))
  }
}
