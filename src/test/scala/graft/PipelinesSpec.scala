package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import graft.parsers.Pipelines
import graft.streaming.{EventsStream, EvidenceSink}

class PipelinesSpec extends SparkTestBase {
  import spark.implicits._

  test("registry covers 26 pipelines with unique names and reference citations") {
    assert(Pipelines.all.size == 26)
    assert(Pipelines.byName.size == 26, "duplicate pipeline names")
    assert(Pipelines.all.forall(_.referenceModule.nonEmpty))
  }

  test("runToFile executes a pipeline end-to-end through the K1 sink") {
    val dir = tmpDir("pipe")
    val raw = Seq(("SLC12A4/SLC12A6", "Neuro", "d")).toDF("Gene", "Therapeutic Area", "Description")
    val written = Pipelines.runToFile(spark, "tep", Map("raw" -> raw), s"$dir/tep.json.gz")
    val back = spark.read.json(s"$dir/tep.json.gz")
    assert(back.count() == 2)
    assert(back.columns.contains("targetFromSourceId"))
    // RunPipeline's report: rows from the write's metric, bytes from the
    // file, one count per contract rule.
    assert(written.rows.contains(2L))
    assert(written.bytes == new java.io.File(s"$dir/tep.json.gz").length())
    val report = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(RunPipeline.report("tep", s"$dir/tep.json.gz", written))
    assert(report.get("pipeline").asText == "tep" && report.get("rows_written").asLong == 2L)
    assert(report.get("bytes_written").asLong == written.bytes)
    val rules = Pipelines.byName("tep").contract
    assert(report.get("violations").size == graft.core.Qc.contractViolations(rules).size)
    assert(report.get("violations").elements().asScala.forall(_.asLong == 0L))
  }

  test("evidence contract validates a full parser pipeline output at the K1 sink") {
    val dir = tmpDir("pipe_contract")
    val raw = Seq(("SLC12A4/SLC12A6", "Neuro", "d"), ("BRD4", "Oncology", "e"))
      .toDF("Gene", "Therapeutic Area", "Description")
    val ev = Pipelines.byName("tep").run(spark, Map("raw" -> raw))
    val contract = graft.core.Qc.EvidenceContract(
      required = Seq("targetFromSourceId", "url", "therapeuticArea"),
      patterns = Map("url" -> "^https://www\\.thesgc\\.org/tep/[a-z0-9]+$"))
    graft.core.Writers.writeJsonGzSingle(ev, s"$dir/tep.json.gz", Some(contract))
    assert(spark.read.json(s"$dir/tep.json.gz").count() == 3)
    // A gene symbol with an illegal URL character violates the pattern rule.
    val bad = Seq(("AB CD", "X", "y")).toDF("Gene", "Therapeutic Area", "Description")
    val ex = intercept[graft.core.Qc.QcException](
      graft.core.Writers.writeJsonGzSingle(
        Pipelines.byName("tep").run(spark, Map("raw" -> bad)), s"$dir/bad.json.gz", Some(contract)))
    assert(ex.getMessage.contains("pattern:url=1"))
  }

  // Deterministic fixtures shaped like the real gene-burden inputs —
  // a known significant slice under each filter, plus edge rows (zero
  // p-values, unparseable CI text). Shared by the count-window and
  // evidence-contract tests below.
  private def azFixture = {
    val azRaw = spark.range(0, 200000).select(
      concat(lit("ENSG"), format_string("%06d", $"id" % 20000)).as("Gene"),
      concat(lit("trait"), ($"id" % 500).cast("string")).as("diseaseFromSource"),
      when($"id" % 2 === 0, "Quantitative").otherwise("Binary").as("Type"),
      (($"id" % 100) / lit(50.0) - 1.0).as("beta"),
      exp(($"id" % 100) / lit(100.0)).as("oddsRatio"),
      when($"id" >= 199980, lit(0.0))
        .when($"id" < 29000, lit(1e-9) * (($"id" % 97) + 1))
        .otherwise(lit(1e-4) + ($"id" % 1000) * lit(1e-7)).as("pValue"))
    val azLut = Seq(("trait0", "EFO:0000001"), ("trait1", "EFO:0000002"))
      .toDF("diseaseFromSource", "diseaseFromSourceMappedId")
    (azRaw, azLut)
  }

  private def genebassFixture =
    spark.range(0, 120000).select(
      concat(lit("ENSG"), format_string("%06d", $"id" % 15000)).as("gene_id"),
      concat(lit("phenotype "), ($"id" % 800).cast("string")).as("description"),
      when($"id" < 9100, lit(1e-8) * (($"id" % 50) + 1))
        .otherwise(lit(1e-3) + ($"id" % 100) * lit(1e-6)).as("Pvalue_Burden"),
      (($"id" % 60) / lit(30.0) - 1.0).as("BETA_Burden"),
      lit(0.01).as("SE_Burden"))

  private def cvdiFixture = {
    val cvdiRaw = spark.range(0, 30000).select(
      concat(lit("GENE"), ($"id" % 3000).cast("string")).as("gene"),
      concat(lit("pheno"), ($"id" % 200).cast("string")).as("phenotype"),
      when($"id" % 2 === 0, "LOF").otherwise("missense").as("mask"),
      when($"id" % 3 === 0, lit("NA")).otherwise(lit("1.25 (1.10-1.42)")).as("orCi"),
      when($"id" < 1550, lit(1e-7) * (($"id" % 30) + 1))
        .otherwise(lit(0.5)).as("pValue"),
      when($"id" % 2 === 0, lit(5e-6)).otherwise(lit(4e-6)).as("pCutoff"))
    val cvdiLut = Seq(("pheno0", "EFO:0000100")).toDF("diseaseFromSource", "diseaseFromSourceMappedId")
    (cvdiRaw, cvdiLut)
  }

  test("AZ / Genebass / CVDI pipelines land inside the reference's hard count windows") {
    import graft.core.Qc
    // The reference asserts its output volumes as hard QC gates
    // (BASELINE.md: AzGeneBurden.py:126-132 28-30k, GenebassGeneBurden
    // .py:64-68 8-10k, CvdiGeneBurden.py:66-73 1.5-1.6k).

    // AZ PheWAS: 29,000 sub-cutoff rows + 20 zero-p rows that the global
    // min/2 repair pulls under the cutoff -> 29,020 expected.
    val (azRaw, azLut) = azFixture
    val az = graft.parsers.GeneBurdenParser.azBranch(azRaw, azLut)
    assert(Qc.assertCountBetween(az, 28000, 30000, "AZ evidence") == 29020L)

    // Genebass: 9,100 rows under the 6.7e-7 cutoff.
    val gb = graft.parsers.GenebassParser(genebassFixture)
    assert(Qc.assertCountBetween(gb, 8000, 10000, "Genebass evidence") == 9100L)

    // CVDI: per-mask FDR cutoffs ride a pCutoff column; 1,550 rows pass,
    // a third of them with unparseable CI text (nulls, not crashes).
    val (cvdiRaw, cvdiLut) = cvdiFixture
    val cvdi = graft.parsers.CvdiGeneBurdenParser(cvdiRaw, cvdiLut)
    assert(Qc.assertCountBetween(cvdi, 1500, 1600, "CVDI evidence") == 1550L)

    // The gate is a real gate: an out-of-window output throws.
    val ex = intercept[Qc.QcException](
      Qc.assertCountBetween(gb.limit(100), 8000, 10000, "Genebass evidence"))
    assert(ex.getMessage.contains("outside expected"))
  }

  test("evidence contracts hold on the three full gene-burden parser outputs") {
    import graft.core.Qc
    // The reference validates every evidence file against a JSON Schema
    // before accepting it (Snakefile:110,130,154). Same gate here, on
    // REAL parser output (not planted rows): required fields + enum'd
    // datasource/datatype/project + ID-shape patterns, one aggregate
    // pass per output via Qc.validateEvidence.
    val burdenCore = Qc.EvidenceContract(
      required = Seq("datasourceId", "datatypeId", "projectId", "targetFromSourceId",
        "diseaseFromSource", "resourceScore", "pValueExponent", "pValueMantissa"),
      enums = Map(
        "datasourceId" -> Seq("gene_burden"),
        "datatypeId" -> Seq("genetic_association")))

    val (azRaw, azLut) = azFixture
    val az = graft.parsers.GeneBurdenParser.azBranch(azRaw, azLut)
    val azCounts = Qc.validateEvidence(az, burdenCore.copy(
      enums = burdenCore.enums + ("projectId" -> Seq("AstraZeneca PheWAS Portal")),
      patterns = Map(
        "targetFromSourceId" -> "^ENSG\\d{6}$",
        "diseaseFromSourceMappedId" -> "^EFO:\\d{7}$")))
    assert(azCounts.values.forall(_ == 0L) && azCounts.size == 13,
      s"8 required + 3 enum + 2 pattern rules, all zero: $azCounts")

    val gb = graft.parsers.GenebassParser(genebassFixture)
    Qc.validateEvidence(gb, burdenCore.copy(
      required = burdenCore.required ++
        Seq("beta", "betaConfidenceIntervalLower", "betaConfidenceIntervalUpper"),
      enums = burdenCore.enums + ("projectId" -> Seq("Genebass")),
      patterns = Map("targetFromSourceId" -> "^ENSG\\d{6}$")))

    val (cvdiRaw, cvdiLut) = cvdiFixture
    val cvdi = graft.parsers.CvdiGeneBurdenParser(cvdiRaw, cvdiLut)
    // oddsRatio / CI columns stay OUT of required: a third of the
    // fixture's orCi cells are unparseable "NA" by design and must
    // surface as nulls, not violations.
    Qc.validateEvidence(cvdi, burdenCore.copy(
      enums = burdenCore.enums + ("projectId" -> Seq("CVDI Human Disease Portal")),
      patterns = Map("targetFromSourceId" -> "^GENE\\d+$")))

    // The gate bites on real output: a malformed EFO id entering through
    // the trait LUT violates the mapped-id pattern after the full parse.
    val badLut = Seq(("trait0", "EFO_0000001x"))
      .toDF("diseaseFromSource", "diseaseFromSourceMappedId")
    val ex = intercept[Qc.QcException](Qc.validateEvidence(
      graft.parsers.GeneBurdenParser.azBranch(azRaw, badLut),
      Qc.EvidenceContract(patterns = Map("diseaseFromSourceMappedId" -> "^EFO:\\d{7}$"))))
    assert(ex.getMessage.contains("pattern:diseaseFromSourceMappedId"))
  }

  // One deterministic input fixture per registry pipeline (shapes match
  // the per-parser specs in Parsers*Spec), for the registry-wide
  // contract sweep below.
  private def pipelineFixtures: Map[String, Map[String, org.apache.spark.sql.DataFrame]] = {
    val efoLut = Seq(
      ("Noonan syndrome", "MONDO:0018997", "EFO_A"),
      ("CATSHL syndrome", null, "EFO_B"),
    ).toDF("diseaseFromSource", "diseaseFromSourceId", "diseaseFromSourceMappedId")
    val orphaXmlDir = tmpDir("pipe_sweep_orphanet")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(orphaXmlDir, "product6.xml"),
      """<?xml version="1.0"?>
        |<JDBOR><DisorderList count="1">
        |<Disorder id="17601">
        |  <OrphaCode>15</OrphaCode>
        |  <Name lang="en">Achondroplasia</Name>
        |  <DisorderType><Name lang="en">Disease</Name></DisorderType>
        |  <DisorderGeneAssociationList count="1">
        |    <DisorderGeneAssociation>
        |      <SourceOfValidation>21538838[PMID]</SourceOfValidation>
        |      <Gene id="20160">
        |        <Name lang="en">fibroblast growth factor receptor 3</Name>
        |        <Symbol>FGFR3</Symbol>
        |        <ExternalReferenceList count="1">
        |          <ExternalReference><Source>Ensembl</Source><Reference>ENSG00000068078</Reference></ExternalReference>
        |        </ExternalReferenceList>
        |      </Gene>
        |      <DisorderGeneAssociationType><Name lang="en">Disease-causing germline mutation(s) in</Name></DisorderGeneAssociationType>
        |      <DisorderGeneAssociationStatus><Name lang="en">Assessed</Name></DisorderGeneAssociationStatus>
        |    </DisorderGeneAssociation>
        |  </DisorderGeneAssociationList>
        |</Disorder>
        |</DisorderList></JDBOR>
        |""".stripMargin)
    Map(
      "clingen" -> Map(
        "raw" -> Seq(
          ("PTPN11", "Noonan syndrome", "MONDO:0018997", "Autosomal dominant", "Definitive",
            "https://search.clinicalgenome.org/kb/gene-validity/x",
            java.sql.Timestamp.valueOf("2020-03-14 10:00:00")),
          ("FGFR3", "CATSHL syndrome", null, null, "Limited", null,
            java.sql.Timestamp.valueOf("2021-12-31 23:00:00")),
        ).toDF("GENE SYMBOL", "DISEASE LABEL", "DISEASE ID (MONDO)", "MOI", "CLASSIFICATION",
          "ONLINE REPORT", "CLASSIFICATION DATE"),
        "efoLut" -> efoLut),
      "slapenrich" -> Map(
        "raw" -> Seq(("BRCA1", "BRCA", "P1", 1e-6), ("TP53", "LUAD", "P2", 0.01))
          .toDF("gene", "tumor_type", "pathway", "SLAPEnrichPval"),
        "pathwayLut" -> Seq(("P1", "R-HSA-1", "DNA Repair")).toDF("pathway", "reactomeId", "description")),
      "gene2phenotype" -> Map(
        "raw" -> Seq(
          ("KMT2D", "Kabuki syndrome", "definitive", "monoallelic", "123; 456;123 ",
            "uncertain;absent gene product"),
          ("NOCON", "X", "limited", null, null, "made-up term"),
        ).toDF("gene symbol", "disease name", "confidence", "allelic requirement",
          "publications", "variant consequence")),
      "gene_burden" -> Map(
        "azRaw" -> Seq(
          ("G1", "trait A", "Binary", 3e-9, 0.5, 2.5),
          ("G2", "trait B", "Quantitative", 1e-9, 0.9, 1.0),
        ).toDF("Gene", "diseaseFromSource", "Type", "pValue", "beta", "oddsRatio"),
        "azTraitLut" -> Seq(("trait A", "EFO_T")).toDF("diseaseFromSource", "diseaseFromSourceMappedId"),
        "curated" -> Seq(("G3", "trait C", "EFO_C", "Epi25", 5e-8, "male, female"))
          .toDF("targetFromSourceId", "diseaseFromSource", "diseaseFromSourceMappedId",
            "projectId", "resourceScore", "sex")),
      "panelapp" -> Map(
        "raw" -> Seq(
          ("BRCA2", "Breast cancer panel", "3",
            "{Breast cancer susceptibility} 600185;Ovarian cancer, HP:0100615"),
          ("MIMPFX", "P", "2", "Some disease MIM# 123456; Another (no OMIM number)"),
        ).toDF("gene_symbol", "panel_name", "confidence_level", "phenotypes")),
      "essentiality" -> Map(
        "geneEffectWide" -> Seq(("ACH-1", -1.5, 0.2), ("ACH-2", -1.2, -1.1))
          .toDF("depmapId", "BRCA1 (672)", "TP53 (7157)"),
        "modelLut" -> Seq(("ACH-1", "HeLa", "Cervix"), ("ACH-2", "A549", "Lung"))
          .toDF("depmapId", "cellLineName", "tissueName")),
      "impc" -> Map(
        "diseaseModelSummary" -> Seq(
          ("m1", "MP:0001 increased x,MP:0002 weird y", "OMIM:1", Some(90.0), "MGI:97490"),
          ("m2", "MP:0003 z", "OMIM:1", Some(95.0), "MGI:97490"),
        ).toDF("model_id", "model_phenotypes", "disease_id", "disease_model_avg_norm", "targetInModelMgiId"),
        "mouseGeneMap" -> Seq(("MGI:97490", "HGNC:9644")).toDF("gene_id", "hgnc_gene_id"),
        "humanGeneMap" -> Seq(("HGNC:9644", "ENSG000PTEN")).toDF("hgnc_id", "ensembl_gene_id")),
      "encore" -> Map(
        "wide" -> Seq(("BRCA1~PARP1", 0.001, -2.0, 0.002, -1.5))
          .toDF("id", "SIDM1_pval", "SIDM1_lfc", "SIDM2_pval", "SIDM2_lfc")),
      "cancer_biomarkers" -> Map(
        "raw" -> Seq(
          ("BRAF", "Melanoma", "Vemurafenib", "chr7:g.140453136A>T", "V600E;V600K", "MUT"),
          ("KRAS", "CRC", "X", "not-gdna", "G12D", "MUT"),
        ).toDF("gene", "tumorType", "drug", "gDNA", "alterations", "alterationTypes")),
      "target_safety" -> Map(
        "source1" -> Seq(("T1", "cardiotoxicity", "clinical", "trial A", "src1"))
          .toDF("targetFromSourceId", "event", "studyType", "studyDesc", "datasource"),
        "source2" -> Seq(
          ("T1", "cardiotoxicity", "preclinical", "mouse B", "src2"),
          ("T2", "hepatotoxicity", null, null, "src3"),
        ).toDF("targetFromSourceId", "event", "studyType", "studyDesc", "datasource")),
      "baseline_expression" -> Map(
        "wide" -> Seq(("ENSG1", 0.0, 0.0, 50.0), ("ENSG2", 5.0, 5.0, 5.0))
          .toDF("gene_id", "Lung", "Liver", "Brain")),
      "chembl" -> Map(
        "evidence" -> Seq(
          ("e1", Some("Trial was stopped"), Seq("https://clinicaltrials.gov/study/NCT001")),
          ("e2", None, Seq("https://clinicaltrials.gov/study/NCT999")),
        ).toDF("id", "studyStopReason", "url_list")
          .withColumn("urls", transform(col("url_list"),
            u => struct(lit("ct").as("niceName"), u.as("url"))))
          .drop("url_list"),
        "predictions" -> Seq(("NCT001", Seq("Safety_Sideeffects", "Covid19")))
          .toDF("nct_id", "subclasses")),
      "orphanet" -> Map(
        "associations" -> graft.parsers.OrphanetParser.readProduct6(spark, s"$orphaXmlDir/product6.xml")),
      "intogen" -> Map(
        "raw" -> Seq(
          ("BRCA1", "BRCA", 1e-9, "PMID:123", "C1"),
          ("TP53", "LUAD", 1e-8, "DOI:10.1038/ng.2529", "C1"),
        ).toDF("SYMBOL", "CANCER_TYPE", "QVALUE_COMBINATION", "SOURCE", "COHORT"),
        "cohorts" -> Seq(("C1", "cohort one")).toDF("COHORT", "cohortShortName")),
      "pharmacogenetics" -> Map(
        "raw" -> Seq(
          ("7_117559590_G_A,T", "CFTR", "ivacaftor", "Patients respond"),
          ("1_100_C_C", "G1", "drugX", "No effect"),
        ).toDF("genotypeId", "gene", "drug", "genotypeAnnotationText"),
        "phenotypeLut" -> Seq(("Patients respond", "improved response", Seq("EFO_1", "EFO_2")))
          .toDF("genotypeAnnotationText", "phenotypeText", "phenotypeEfoIds")),
      "chemical_probes" -> Map(
        "raw" -> Seq(("T1", "probeA", 80.0, 10.0, 1), ("T2", "probeB", 10.0, 20.0, 0))
          .toDF("targetFromSourceId", "probeName", "cellScore", "organismScore", "isPanelMember")),
      "crispr_brain" -> Map(
        "raw" -> Seq(
          ("S1", "G1", 0.5, "Neuron survival screen | experiment: CRISPRi KO | analysis: MAGeCK"),
          ("S2", "G2", 0.7, "Bare title"),
        ).toDF("screenId", "targetFromSourceId", "resourceScore", "description"),
        "diseaseLut" -> Seq(("S1", "EFO_X")).toDF("screenId", "diseaseFromSourceMappedId")),
      "cvdi_gene_burden" -> Map(
        "raw" -> Seq(("G1", "Aortic stenosis", 1e-8, 1e-6, "1.25 (1.10-1.42)"))
          .toDF("gene", "phenotype", "pValue", "pCutoff", "orCi"),
        "efoLut" -> Seq(("Aortic stenosis", "EFO_AS")).toDF("diseaseFromSource", "diseaseFromSourceMappedId")),
      "project_score" -> Map(
        "cellLines" -> Seq(("COAD", "SIDM1")).toDF("CANCER_TYPE", "CMP_ID"),
        "passportCellLines" -> Seq(
          ("SIDM1", ("HT29", "large intestine")),
          ("SIDM2", ("HeLa", "cervix")),
        ).toDF("id", "diseaseCellLine")),
      "tep" -> Map(
        "raw" -> Seq(("SLC12A4/SLC12A6", "Neuro", "desc"))
          .toDF("Gene", "Therapeutic Area", "Description")),
      "genebass" -> Map(
        "raw" -> Seq(("ENSG1", "T2D", 3e-9, -0.25, 0.04))
          .toDF("gene_id", "description", "Pvalue_Burden", "BETA_Burden", "SE_Burden")),
      "validation_lab" -> Map(
        "raw" -> Seq(("HT29", "BRAF", "1", "0"))
          .toDF("cellLineName", "targetFromSourceId", "MS_status", "KRAS_status"),
        "biomarkerLut" -> Seq(("MS_status", "1", "MSI", "microsatellite instable"))
          .toDF("biomarkerName", "biomarkerValue", "mappedName", "mappedDescription")),
      "sysbio" -> Map(
        "raw" -> Seq(("S1", "G1", "D", 10.0), ("S1", "G2", "D", 20.0))
          .toDF("studyId", "targetFromSourceId", "diseaseFromSource", "score")),
      "crispr_screens" -> Map(
        "source1" -> Seq(("G1", 0.5)).toDF("targetFromSourceId", "resourceScore"),
        "source2" -> Seq(("G2", "note")).toDF("targetFromSourceId", "comment")),
      "progeny" -> Map(
        "raw" -> Seq(("BRCA", "EGFR", "G1, G2", 1e-5))
          .toDF("Cancer_type", "Pathway", "target", "P.Value"),
        "diseaseLut" -> Seq(("BRCA", "EFO_0000305")).toDF("Cancer_type", "EFO_id"),
        "pathwayLut" -> Seq(("EGFR", "R-HSA-177929", "Signaling by EGFR"))
          .toDF("Pathway", "reactomeId", "description")),
      "ot_crispr" -> Map(
        "rep1" -> Seq(("G1", 0.001, -2.0), ("CTRL1", 0.0001, -3.0))
          .toDF("targetFromSourceId", "resourceScore", "log2FoldChangeValue"),
        "rep2" -> Seq(("G1", 0.003, -1.8), ("CTRL1", 0.0002, -2.9))
          .toDF("targetFromSourceId", "resourceScore", "log2FoldChangeValue"),
        "controls" -> Seq("CTRL1").toDF("targetFromSourceId")),
    )
  }

  test("REGISTRY-WIDE contract sweep: every pipeline's output validates its evidence contract") {
    import graft.core.Qc
    val fixtures = pipelineFixtures
    val missing = Pipelines.all.map(_.name).filterNot(fixtures.contains)
    assert(missing.isEmpty, s"pipelines without a sweep fixture: $missing")
    assert(Pipelines.all.forall(!_.contract.isEmpty),
      "every registry pipeline must declare a non-empty evidence contract")
    Pipelines.all.foreach { p =>
      val out = p.run(spark, fixtures(p.name))
      assert(out.count() > 0, s"${p.name}: fixture produced no evidence rows")
      val counts = withClue(s"pipeline ${p.name}: ")(Qc.validateEvidence(out, p.contract))
      assert(counts.values.forall(_ == 0L), s"${p.name}: $counts")
    }
  }

  test("EvidenceSink lands gzip JSON-lines evidence from a stream with QC hook") {
    // tmpDir itself wipes and recreates the directory.
    def fresh(name: String): String = tmpDir(name)
    val srcDir = fresh("esink_src")
    val outDir = fresh("esink_out")
    val ckDir = fresh("esink_ck")
    spark.read.schema(EventsStream.eventsSchema).parquet(s"$sf/events.parquet")
      .limit(300).write.mode("overwrite").parquet(srcDir)
    var qcBatches = 0
    val stream = EventsStream.readEvents(spark, srcDir, maxFilesPerTrigger = 1)
      .select(col("event_id"), col("event_type"), col("value"))
    val q = EvidenceSink.start(stream, outDir, ckDir, qc = { b => qcBatches += 1; assert(b.columns.length == 3) })
    try {
      q.processAllAvailable()
      val back = spark.read.json(outDir)
      assert(back.count() == 300)
      assert(qcBatches >= 1)
      val gz = new java.io.File(outDir).listFiles().count(_.getName.endsWith(".json.gz"))
      assert(gz >= 1, "expected gzipped part files")
    } finally q.stop()
  }

  test("EvidenceSink validates the contract per micro-batch BEFORE the batch lands") {
    // tmpDir itself wipes and recreates the directory.
    def fresh(name: String): String = tmpDir(name)
    val srcDir = fresh("csink_src")
    val contract = graft.core.Qc.EvidenceContract(
      required = Seq("event_type"),
      enums = Map("event_type" -> Seq("view", "click", "purchase", "signup", "error")))
    val base = spark.read.schema(EventsStream.eventsSchema).parquet(s"$sf/events.parquet").limit(100)

    // Good batches stream through and land.
    base.write.mode("overwrite").parquet(srcDir)
    val okOut = fresh("csink_ok_out")
    val q1 = EvidenceSink.start(
      EventsStream.readEvents(spark, srcDir, maxFilesPerTrigger = 1)
        .select(col("event_id"), col("event_type")),
      okOut, fresh("csink_ok_ck"), contract = Some(contract))
    try {
      q1.processAllAvailable()
      assert(spark.read.json(okOut).count() == 100)
    } finally q1.stop()

    // A batch violating the enum fails the QUERY (nothing silently lands).
    val badSrc = fresh("csink_bad_src")
    base.withColumn("event_type",
        when(col("event_id") % 10 === 0, lit("corrupt")).otherwise(col("event_type")))
      .write.mode("overwrite").parquet(badSrc)
    val badOut = fresh("csink_bad_out")
    val q2 = EvidenceSink.start(
      EventsStream.readEvents(spark, badSrc, maxFilesPerTrigger = 1)
        .select(col("event_id"), col("event_type")),
      badOut, fresh("csink_bad_ck"), contract = Some(contract))
    try {
      val ex = intercept[Exception](q2.processAllAvailable())
      def messages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
      assert(messages(ex).exists(_.contains("enum:event_type")), s"got: ${messages(ex)}")
      val landed = Option(new java.io.File(badOut).listFiles())
        .getOrElse(Array.empty).count(_.getName.endsWith(".json.gz"))
      assert(landed == 0, "violating batch must not land")
    } finally q2.stop()
  }
}
