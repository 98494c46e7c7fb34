package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.parsers._

class Parsers3Spec extends SparkTestBase {
  import spark.implicits._

  test("IntOGenParser: DOI map pass-through + Bonferroni from in-plan count") {
    val raw = Seq(
      ("BRCA1", "BRCA", 1e-9, "PMID:123", "C1"),
      ("TP53", "LUAD", 1e-8, "DOI:10.1038/ng.2529", "C1"),
      ("WEAK", "X", 0.04, "PMID:9", "C1"),        // 0.04 > 0.05/3
      ("WEBGENE", "Y", 1e-9, "WEB:somewhere", "C2"),
    ).toDF("SYMBOL", "CANCER_TYPE", "QVALUE_COMBINATION", "SOURCE", "COHORT")
    val cohorts = Seq(("C1", "cohort one"), ("C2", "cohort two")).toDF("COHORT", "cohortShortName")
    val out = IntOGenParser(raw, cohorts)
    assert(out.filter($"targetFromSourceId" === "WEAK").count() == 0, "Bonferroni filter")
    val m = out.select("targetFromSourceId", "literature")
      .collect().map(r => r.getString(0) -> Option(r.getAs[scala.collection.Seq[String]](1))).toMap
    assert(m("BRCA1").get == Seq("123"), "PMID passes through")
    assert(m("TP53").get == Seq("23334666"), "DOI mapped to PMID")
    assert(m("WEBGENE").isEmpty, "WEB source yields null literature")
  }

  test("PharmacogeneticsParser: from_csv split + multi-allelic explode + LUT") {
    val raw = Seq(
      ("7_117559590_G_A,T", "CFTR", "ivacaftor", "Patients respond"),
      ("1_100_C_C", "G1", "drugX", "No effect"), // ref==alt -> no variantId
    ).toDF("genotypeId", "gene", "drug", "genotypeAnnotationText")
    val lut = Seq(("Patients respond", "improved response", Seq("EFO_1", "EFO_2")))
      .toDF("genotypeAnnotationText", "phenotypeText", "phenotypeEfoIds")
    val out = PharmacogeneticsParser(raw, lut)
    val cftr = out.filter($"targetFromSourceId" === "CFTR").collect()
    // 2 alts x 2 EFO ids
    assert(cftr.length == 4)
    assert(cftr.map(_.getAs[String]("variantId")).toSet ==
      Set("7_117559590_G_A", "7_117559590_G_T"))
    assert(cftr.map(_.getAs[String]("diseaseFromSourceMappedId")).toSet == Set("EFO_1", "EFO_2"))
    val g1 = out.filter($"targetFromSourceId" === "G1").collect()
    assert(g1.length == 1 && g1.head.getAs[Any]("variantId") == null,
      "ref==alt keeps row via right join with null variantId")
  }

  test("OtCrisprParser: config fan-out + left-anti controls + stabilized replicate pick") {
    val s1r1 = Seq(("GENE1", 0.001, -2.0), ("GENE2", 0.002, -1.0), ("CTRL1", 0.0001, -3.0))
      .toDF("targetFromSourceId", "resourceScore", "log2FoldChangeValue")
    val s1r2 = Seq(("GENE1", 0.003, -1.8), ("CTRL1", 0.0002, -2.9))
      .toDF("targetFromSourceId", "resourceScore", "log2FoldChangeValue")
    val controls = Seq("CTRL1").toDF("targetFromSourceId")
    val out = OtCrisprParser(
      Seq(OtCrisprParser.StudyConfig("OTAR001", 0.01)),
      Map("OTAR001" -> Seq(s1r1, s1r2)),
      Map("OTAR001" -> controls))
    // GENE2 present in only one replicate -> dropped; CTRL1 anti-joined out.
    val rows = out.collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[String]("targetFromSourceId") == "GENE1")
    assert(rows.head.getAs[Double]("resourceScore") == 0.001, "best (sorted-first) replicate")
    assert(rows.head.getAs[String]("studyId") == "OTAR001")
  }

  test("ChemicalProbesParser: array-algebra flags and rating") {
    val raw = Seq(
      ("T1", "probeA", 80.0, 10.0, 1),
      ("T2", "probeB", 10.0, 20.0, 0),
    ).toDF("targetFromSourceId", "probeName", "cellScore", "organismScore", "isPanelMember")
    val out = ChemicalProbesParser(raw)
    val a = out.filter($"id" === "probeA").head()
    assert(a.getAs[scala.collection.Seq[String]]("flags").toSet ==
      Set("high-quality cell probe", "probe panel member"))
    assert(a.getAs[String]("scientificUseRating") == "suitable")
    assert(a.getAs[Boolean]("isInProbesPanel"))
    val b = out.filter($"id" === "probeB").head()
    assert(b.getAs[scala.collection.Seq[String]]("flags").isEmpty)
    assert(b.getAs[String]("scientificUseRating") == "suitable with caution")
  }

  test("BrainCrisprParser: native struct-returning description parse (F5)") {
    val raw = Seq(
      ("S1", "G1", 0.5, "Neuron survival screen | experiment: CRISPRi KO | analysis: MAGeCK"),
      ("S2", "G2", 0.7, "Bare title"),
    ).toDF("screenId", "targetFromSourceId", "resourceScore", "description")
    val lut = Seq(("S1", "EFO_X")).toDF("screenId", "diseaseFromSourceMappedId")
    val out = BrainCrisprParser(raw, lut)
    val r1 = out.filter($"studyId" === "S1").head()
    assert(r1.getAs[String]("studyOverview") == "Neuron survival screen")
    assert(r1.getAs[String]("experimentDescription") == "CRISPRi KO")
    assert(r1.getAs[String]("diseaseFromSourceMappedId") == "EFO_X")
    val r2 = out.filter($"studyId" === "S2").head()
    assert(r2.getAs[String]("studyOverview") == "Bare title")
    assert(r2.getAs[Any]("experimentDescription") == null)
  }

  /** The Brain-CRISPR parser as first written: a struct of all three
    * description parts, each scrubbed with the two-sided empty-to-null.
    */
  private def brainCrisprReference(raw: DataFrame, diseaseLut: DataFrame): DataFrame = {
    def emptyToNull(c: Column): Column = when(trim(c) =!= "", c)
    def parseDescription(desc: Column): Column = struct(
      emptyToNull(trim(regexp_extract(desc, "^([^|]+)", 1))).as("title"),
      emptyToNull(trim(regexp_extract(desc, "experiment:\\s*([^|]+)", 1))).as("experiment"),
      emptyToNull(trim(regexp_extract(desc, "analysis:\\s*([^|]+)", 1))).as("analysis"),
    )
    raw
      .withColumn("desc", parseDescription(col("description")))
      .join(broadcast(diseaseLut), Seq("screenId"), "left")
      .select(
        lit("crispr_brain").as("datasourceId"),
        col("targetFromSourceId"),
        col("screenId").as("studyId"),
        col("desc.title").as("studyOverview"),
        col("desc.experiment").as("experimentDescription"),
        col("diseaseFromSourceMappedId"),
        col("resourceScore").cast("double").as("resourceScore"),
      )
  }

  test("BrainCrisprParser equals its three-part struct formulation: blanks, missing tails, nulls") {
    val raw = Seq[(String, String, String, String)](
      ("S1", "G1", "0.5", "Neuron survival screen | experiment: CRISPRi KO | analysis: MAGeCK"),
      ("S2", "G2", "0.7", "Bare title"),
      ("S3", "G3", "0.1", "   | experiment:    | analysis: BAGEL"),
      ("S4", "G4", "0.2", "Title only | analysis: casTLE"),
      ("S5", "G5", null, null),
      ("S6", "G6", "1", ""),
    ).toDF("screenId", "targetFromSourceId", "resourceScore", "description").repartition(2)
    val lut = Seq(("S1", "EFO_X"), ("S3", "EFO_Y")).toDF("screenId", "diseaseFromSourceMappedId")
    assert(jsonLines(BrainCrisprParser(raw, lut)) == jsonLines(brainCrisprReference(raw, lut)))
  }

  test("CvdiGeneBurdenParser: OR (95% CI) parsing + per-mask cutoff + EFO join") {
    val raw = Seq(
      ("G1", "Aortic stenosis", 1e-8, 1e-6, "1.25 (1.10-1.42)"),
      ("G2", "X", 0.01, 1e-6, "2.0 (1.5-2.7)"), // above its mask cutoff
    ).toDF("gene", "phenotype", "pValue", "pCutoff", "orCi")
    val efo = Seq(("Aortic stenosis", "EFO_AS")).toDF("diseaseFromSource", "diseaseFromSourceMappedId")
    val out = CvdiGeneBurdenParser(raw, efo)
    assert(out.count() == 1)
    val r = out.head()
    assert(r.getAs[Double]("oddsRatio") == 1.25)
    assert(r.getAs[Double]("oddsRatioConfidenceIntervalLower") == 1.10)
    assert(r.getAs[Double]("oddsRatioConfidenceIntervalUpper") == 1.42)
    assert(r.getAs[Int]("pValueExponent") == -9)
    assert(r.getAs[String]("diseaseFromSourceMappedId") == "EFO_AS")
  }
}
