package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.core.{Cleanup, Reshape}
import graft.parsers._

class ParsersSpec extends SparkTestBase {
  import spark.implicits._

  private val efoLut = Seq(
    ("Noonan syndrome", "MONDO:0018997", "EFO_A"),
    ("CATSHL syndrome", null, "EFO_B"),
  ).toDF("diseaseFromSource", "diseaseFromSourceId", "diseaseFromSourceMappedId")

  test("ClinGenParser: shape + EFO mapping + date formatting") {
    val raw = Seq(
      ("PTPN11", "Noonan syndrome", "MONDO:0018997", "Autosomal dominant", "Definitive",
        "https://search.clinicalgenome.org/kb/gene-validity/x", java.sql.Timestamp.valueOf("2020-03-14 10:00:00")),
      ("FGFR3", "CATSHL syndrome", null, null, "Limited", null,
        java.sql.Timestamp.valueOf("2021-12-31 23:00:00")),
    ).toDF("GENE SYMBOL", "DISEASE LABEL", "DISEASE ID (MONDO)", "MOI", "CLASSIFICATION",
      "ONLINE REPORT", "CLASSIFICATION DATE")
    val out = ClinGenParser(raw, efoLut)
    val r = out.filter($"targetFromSourceId" === "PTPN11").head()
    assert(r.getAs[String]("diseaseFromSourceMappedId") == "EFO_A")
    assert(r.getAs[String]("releaseDate") == "2020-03-14")
    assert(r.getAs[scala.collection.Seq[Row]]("urls").head.getAs[String]("niceName").contains("ClinGen"))
    val r2 = out.filter($"targetFromSourceId" === "FGFR3").head()
    assert(r2.getAs[String]("diseaseFromSourceMappedId") == "EFO_B", "null-safe join on null id")
    assert(r2.getAs[Any]("urls") == null)
  }

  test("SLAPEnrichParser: threshold + pathway LUT join") {
    val raw = Seq(
      ("BRCA1", "BRCA", "P1", 1e-6), ("TP53", "LUAD", "P2", 0.01),
    ).toDF("gene", "tumor_type", "pathway", "SLAPEnrichPval")
    val lut = Seq(("P1", "R-HSA-1", "DNA Repair")).toDF("pathway", "reactomeId", "description")
    val out = SLAPEnrichParser(raw, lut)
    assert(out.count() == 1)
    val r = out.head()
    assert(r.getAs[String]("targetFromSourceId") == "BRCA1")
    assert(r.getAs[scala.collection.Seq[Row]]("pathways").head.getAs[String]("id") == "R-HSA-1")
  }

  test("Gene2PhenotypeParser: publication split + max-priority consequence (F3)") {
    val raw = Seq(
      ("KMT2D", "Kabuki syndrome", "definitive", "monoallelic",
        "123; 456;123 ", "uncertain;absent gene product"),
      ("NOCON", "X", "limited", null, null, "made-up term"),
    ).toDF("gene symbol", "disease name", "confidence", "allelic requirement",
      "publications", "variant consequence")
    val out = Gene2PhenotypeParser(raw)
    val r = out.filter($"targetFromSourceId" === "KMT2D").head()
    assert(r.getAs[scala.collection.Seq[String]]("literature") == Seq("123", "456"))
    // absent gene product (priority 0) wins over uncertain (priority 4)
    assert(r.getAs[String]("variantFunctionalConsequenceId") == "SO_0002317")
    val r2 = out.filter($"targetFromSourceId" === "NOCON").head()
    assert(r2.getAs[Any]("variantFunctionalConsequenceId") == null)
  }

  test("GeneBurdenParser: AZ branch motif + union of heterogeneous branches") {
    val az = Seq(
      ("G1", "trait A", "Binary", 3e-9, 0.5, 2.5),
      ("G1", "trait A", "Binary", 0.0, 0.4, 2.0),  // zero-p repaired to 3e-9 (global min>0)
      ("G2", "trait B", "Quantitative", 1e-3, 0.9, 1.0), // filtered: p > 1e-7
    ).toDF("Gene", "diseaseFromSource", "Type", "pValue", "beta", "oddsRatio")
    val traitLut = Seq(("trait A", "EFO_T")).toDF("diseaseFromSource", "diseaseFromSourceMappedId")
    val curated = Seq(
      ("G3", "trait C", "EFO_C", "Epi25", 5e-8, "male, female"),
    ).toDF("targetFromSourceId", "diseaseFromSource", "diseaseFromSourceMappedId",
      "projectId", "resourceScore", "sex")
    val out = GeneBurdenParser(Seq(GeneBurdenParser.azBranch(az, traitLut), GeneBurdenParser.curatedBranch(curated)))
    assert(out.count() == 3) // 2 AZ rows (incl. repaired) + 1 curated
    val az1 = out.filter($"targetFromSourceId" === "G1" && $"pValueMantissa" === 3.0).collect()
    assert(az1.length == 2 && az1.forall(_.getAs[Int]("pValueExponent") == -9))
    val cur = out.filter($"targetFromSourceId" === "G3").head()
    assert(cur.getAs[scala.collection.Seq[String]]("sex") == Seq("male", "female"))
    assert(cur.getAs[Any]("beta") == null, "missing AZ columns null-padded by U1")
  }

  test("PanelAppParser: explode + rulebook + ID harvesting") {
    val raw = Seq(
      ("BRCA2", "Breast cancer panel", "3",
        "{Breast cancer susceptibility} 600185;Ovarian cancer, HP:0100615"),
      // Reference rulebook cases (PanelApp.py:18-44): glued phenotypes
      // after an OMIM code, MIM-prefixed ids, '(no OMIM number)' scrub.
      ("GLUE", "P", "3",
        "Aarskog-Scott syndrome, 305400Mental retardation, X-linked syndromic 16, 305400"),
      ("MIMPFX", "P", "2", "Some disease MIM# 123456; Another (no OMIM number)"),
      ("LOWCONF", "P", "1", "whatever"),
    ).toDF("gene_symbol", "panel_name", "confidence_level", "phenotypes")
    val out = PanelAppParser(raw)
    assert(out.filter($"targetFromSourceId" === "LOWCONF").count() == 0)
    val rows = out.filter($"targetFromSourceId" === "BRCA2").collect()
    assert(rows.exists(r => r.getAs[String]("omimId") == "600185"))
    assert(rows.exists(r => r.getAs[String]("ontologyId") == "HP:0100615"))
    assert(rows.exists(r => Option(r.getAs[String]("diseaseFromSource"))
      .exists(_.startsWith("Breast cancer susceptibility"))))
    val glued = out.filter($"targetFromSourceId" === "GLUE").collect()
    assert(glued.length == 2, s"glued phenotypes must unglue into 2 rows, got ${glued.length}")
    assert(glued.forall(_.getAs[String]("omimId") == "305400"))
    val mim = out.filter($"targetFromSourceId" === "MIMPFX").collect()
    assert(mim.exists(r => r.getAs[String]("omimId") == "123456"), "MIM#-prefixed id harvested")
    assert(mim.exists(r => r.getAs[String]("diseaseFromSource") == "Another"),
      "'(no OMIM number)' scrubbed")
  }

  test("EssentialityParser: melt + two-level nesting (A1)") {
    val wide = Seq(
      ("ACH-1", -1.5, 0.2), ("ACH-2", -1.2, -1.1),
    ).toDF("depmapId", "BRCA1 (672)", "TP53 (7157)")
    val models = Seq(
      ("ACH-1", "HeLa", "Cervix"), ("ACH-2", "A549", "Lung"),
    ).toDF("depmapId", "cellLineName", "tissueName")
    val out = EssentialityParser(wide, models)
    assert(out.count() == 2) // one row per gene
    val brca = out.filter($"targetSymbol" === "BRCA1").head()
    val tissues = brca.getAs[scala.collection.Seq[Row]]("depMapEssentiality")
    assert(tissues.map(_.getAs[String]("tissueName")).toSet == Set("Cervix", "Lung"))
    val cervixScreens = tissues.find(_.getAs[String]("tissueName") == "Cervix").get.getAs[scala.collection.Seq[Row]]("screens")
    assert(cervixScreens.head.getAs[Boolean]("isEssential"))
  }

  test("EssentialityParser: mutation classes, tissue fallback, null-effect drop, essentials-only") {
    val wide = Seq(
      ("ACH-1", Some(-1.5)), ("ACH-2", Some(-0.2)), ("ACH-3", None: Option[Double]),
    ).toDF("depmapId", "BRCA1 (672)")
    val models = Seq(
      ("ACH-1", "HeLa", Some("Cervix"), Some("p.V600E"), None: Option[String]),
      ("ACH-2", "A549", None: Option[String], None: Option[String], Some("hs1")),
      ("ACH-3", "K562", Some("Blood"), None: Option[String], None: Option[String]),
    ).toDF("depmapId", "cellLineName", "tissueName", "damagingMutation", "hotspotMutation")
    val out = EssentialityParser(wide, models)
    val tissues = out.head().getAs[scala.collection.Seq[Row]]("depMapEssentiality")
    // ACH-3 dropped (null effect); ACH-2's missing tissue falls back to "other".
    assert(tissues.map(_.getAs[String]("tissueName")).toSet == Set("Cervix", "other"))
    val byTissue = tissues.map(t => t.getAs[String]("tissueName") ->
      t.getAs[scala.collection.Seq[Row]]("screens").head).toMap
    assert(byTissue("Cervix").getAs[String]("mutation") == "damaging")
    assert(byTissue("other").getAs[String]("mutation") == "hotspot")
    val essOnly = EssentialityParser(wide, models, keepOnlyEssentials = true).head()
      .getAs[scala.collection.Seq[Row]]("depMapEssentiality")
    assert(essOnly.map(_.getAs[String]("tissueName")) == Seq("Cervix"),
      "only the ACH-1 screen is at or below the -1.0 threshold")
  }

  test("ImpcParser: gene chain + phenotype harvest + tri-state filter + W1 dedup") {
    val dms = Seq(
      ("m1", "MP:0001 increased x,MP:0002 weird y", "OMIM:1", Some(90.0), "MGI:97490"),
      ("m2", "MP:0003 z", "OMIM:1", Some(95.0), "MGI:97490"),     // better score, same (gene,disease)
      ("m3", "MP:0004 w", "OMIM:2", None: Option[Double], "MGI:97490"),     // null score: dropped by P7 (3VL)
      ("m4", "MP:0005 v", "OMIM:1", Some(10.0), "MGI:97490"),     // below cutoff, dropped
    ).toDF("model_id", "model_phenotypes", "disease_id", "disease_model_avg_norm", "targetInModelMgiId")
    val mouse = Seq(("MGI:97490", "HGNC:9644")).toDF("gene_id", "hgnc_gene_id")
    val human = Seq(("HGNC:9644", "ENSG000PTEN")).toDF("hgnc_id", "ensembl_gene_id")
    val out = ImpcParser(dms, mouse, human, scoreCutoff = 0.4)
    // Reference semantics (`IMPC.py:421`): ~(NULL < cutoff) is NULL in
    // three-valued logic, so the null-scored m3 row is dropped.
    assert(out.count() == 1)
    val best = out.filter($"diseaseFromSourceId" === "OMIM:1").head()
    assert(best.getAs[String]("biologicalModelId") == "m2", "window dedup keeps best-scored model")
    assert(best.getAs[Double]("resourceScore") == 0.95)
    assert(out.filter($"diseaseFromSourceId" === "OMIM:2").count() == 0, "null score dropped (3VL)")
  }

  test("PanelAppParser.extractPubmedIds: all known publication-string shapes") {
    val cases = Seq(
      "15643612",                                              // bare id
      "28055140, 27333055, 23063529",                          // comma list
      "observed in the patient. PMID: 1908107 - describing",   // prefixed mid-string
      "PubMed: 11111, 22222 and PMID 33333",                   // multiple prefixed runs
      "224,614,752,030,146,000,000,000 garbage",               // filtered out
      "0",                                                     // placeholder dropped
      "123456789",                                             // 9 digits: too long
      "some free text without ids",
    ).toDF("pub")
    val got = cases.select(PanelAppParser.extractPubmedIds($"pub").as("ids"))
      .collect().map(_.getSeq[String](0))
    assert(got(0) == Seq("15643612"))
    assert(got(1) == Seq("23063529", "27333055", "28055140"))
    assert(got(2) == Seq("1908107"))
    assert(got(3) == Seq("11111", "22222", "33333"))
    assert(got(4).isEmpty && got(5).isEmpty && got(6).isEmpty && got(7).isEmpty)
  }

  test("ImpcParser second output: literature chain + model-ID cleanup + double nesting") {
    val dms = Seq(
      ("MGI:3821355#hom#early", "alleleA", "bgA", "MGI:97490"),
      ("NOT-RELEASED-025eb4", "alleleB", "bgB", "MGI:97490"),
    ).toDF("model_id", "biologicalModelAllelicComposition",
      "biologicalModelGeneticBackground", "targetInModelMgiId")
    val geneMap = Seq(("MGI:97490", "ENSG000PTEN")).toDF("targetInModelMgiId", "targetFromSourceId")
    val mmp = Seq(("MGI:3821355#hom#early", "MP:0001"), ("NOT-RELEASED-025eb4", "MP:0001"))
      .toDF("model_id", "mp_id")
    val pub = Seq(("MGI:97490", "MP:0001", "12345"), ("MGI:97490", "MP:0001", "67890"))
      .toDF("targetInModelMgiId", "mp_id", "literature")
    val mpTerms = Seq(("MP:0001", "increased body weight")).toDF("mp_id", "mp_term")
    val mpClass = Seq(("MP:0001", "MP:0005375", "adipose tissue phenotype"))
      .toDF("modelPhenotypeId", "modelPhenotypeClassId", "modelPhenotypeClassLabel")

    val lit3 = ImpcParser.literature(dms, mmp, pub)
    assert(lit3.count() == 2, "both models get the gene's pubmed refs")
    assert(lit3.head().getSeq[String](2) == Seq("12345", "67890"))

    val out = ImpcParser.mousePhenotypes(dms, geneMap, mmp, mpTerms, mpClass, lit3)
    assert(out.count() == 1, "one row per (gene, phenotype) after nesting")
    val row = out.head()
    assert(row.getAs[String]("modelPhenotypeLabel") == "increased body weight")
    val models = row.getSeq[Row](row.fieldIndex("biologicalModels"))
    assert(models.length == 2)
    val ids = models.map(_.getAs[String]("id")).toSet
    assert(ids == Set("MGI:3821355", null), "zygosity stripped; non-MGI nulled")
    val classes = row.getSeq[Row](row.fieldIndex("modelPhenotypeClasses"))
    assert(classes.map(_.getAs[String]("id")) == Seq("MP:0005375"))
  }

  test("EncoreParser: triplet melt + symmetrization + Stouffer/erf combine") {
    val wide = Seq(
      ("BRCA1~PARP1", 0.001, -2.0, 0.002, -1.5),
    ).toDF("id", "SIDM1_pval", "SIDM1_lfc", "SIDM2_pval", "SIDM2_lfc")
    val out = EncoreParser(wide)
    assert(out.count() == 2) // both directions
    val fwd = out.filter($"targetFromSourceId" === "BRCA1").head()
    assert(fwd.getAs[String]("interactorId") == "PARP1")
    assert(fwd.getAs[Double]("zCombined") < 0, "negative lfc -> negative combined z")
    val p = fwd.getAs[Double]("pCombined")
    assert(p > 0 && p < 1e-4, s"combined p should be significant, got $p")
    val rev = out.filter($"targetFromSourceId" === "PARP1").head()
    assert(rev.getAs[Double]("zCombined") == fwd.getAs[Double]("zCombined"))
  }

  test("CancerBiomarkersParser: F1 variant chain + R9 zip-pad") {
    val raw = Seq(
      ("BRAF", "Melanoma", "Vemurafenib", "chr7:g.140453136A>T", "V600E;V600K", "MUT"),
      ("KRAS", "CRC", "X", "not-gdna", "G12D", "MUT"),
    ).toDF("gene", "tumorType", "drug", "gDNA", "alterations", "alterationTypes")
    val out = CancerBiomarkersParser(raw)
    val braf = out.filter($"targetFromSourceId" === "BRAF").head()
    assert(braf.getAs[String]("variantId") == "7_140453136_A_T")
    val bms = braf.getAs[scala.collection.Seq[Row]]("biomarkers")
    assert(bms.map(b => (b.getAs[String]("name"), b.getAs[String]("type"))) ==
      Seq(("V600E", "MUT"), ("V600K", "MUT")), "second alteration padded with first type")
    assert(out.filter($"targetFromSourceId" === "KRAS").head().getAs[Any]("variantId") == null)
  }

  /** The cancer-biomarkers parser as first written, each gDNA group
    * extracted twice per row: the reference for the bound projection.
    */
  private def cancerBiomarkersReference(raw: DataFrame): DataFrame = {
    val gdna = col("gDNA")
    val chr = regexp_extract(gdna, "^chr([0-9XYM]+):", 1)
    val pos = regexp_extract(gdna, "g\\.(\\d+)", 1)
    val ref = regexp_extract(gdna, "\\d+([ACGT]+)>", 1)
    val alt = regexp_extract(gdna, ">([ACGT]+)$", 1)
    raw
      .withColumn("variantId", when(chr =!= "" && pos =!= "" && ref =!= "" && alt =!= "",
        concat_ws("_", chr, pos, ref, alt)))
      .withColumn("alterationEntries",
        Reshape.zipWithPad(split(col("alterations"), ";"), split(col("alterationTypes"), ";")))
      .select(
        lit("cancer_biomarkers").as("datasourceId"),
        col("gene").as("targetFromSourceId"),
        col("tumorType").as("diseaseFromSource"),
        col("drug").as("drugFromSource"),
        col("variantId"),
        transform(col("alterationEntries"),
          e => struct(e.getField("value").as("name"), e.getField("type").as("type")))
          .as("biomarkers"),
      )
  }

  test("CancerBiomarkersParser equals its unbound formulation: malformed gDNA, alterations beyond types") {
    val raw = Seq[(String, String, String, String, String, String)](
      ("BRAF", "Melanoma", "Vemurafenib", "chr7:g.140453136A>T", "V600E;V600K", "MUT"),
      ("KRAS", "CRC", "X", "not-gdna", "G12D", "MUT"),
      ("EGFR", "NSCLC", "Y", "chr7:g.55259515T>", "L858R;T790M;C797S", "MUT;AMP"),
      ("TP53", "BRCA", "Z", "chrZ:g.7577120C>T", "R175H", "MUT;AMP;DEL"),
      ("MYC", "AML", "W", "chrX:g.12ACG>TT", null, "AMP"),
      ("ALK", "NB", "V", null, "F1174L;R1275Q", null),
      ("RET", "MTC", "U", "", "M918T", ""),
    ).toDF("gene", "tumorType", "drug", "gDNA", "alterations", "alterationTypes").repartition(2)
    assert(jsonLines(CancerBiomarkersParser(raw)) == jsonLines(cancerBiomarkersReference(raw)))
  }

  /** The PanelApp parser as first written, the regex extracts repeated in
    * each `CASE WHEN` and doubled by the two-sided empty-to-null scrub.
    */
  private def panelAppReference(raw: DataFrame): DataFrame = {
    import PanelAppParser.{omimRe, otherRe}
    def emptyToNull(c: Column): Column = when(trim(c) =!= "", c)
    val preCleaned = Cleanup.applyRegexRules(
      raw
        .filter(col("phenotypes").isNotNull && col("confidence_level").isin("2", "3"))
        .withColumn("phenotype", col("phenotypes")),
      "phenotype", PanelAppParser.phenotypeRulesBeforeSplit)
    val exploded = preCleaned.withColumn("phenotype", explode(split(col("phenotype"), ";")))
    Cleanup.applyRegexRules(exploded, "phenotype", PanelAppParser.phenotypeRulesAfterSplit)
      .withColumn("omimId", emptyToNull(regexp_extract(col("phenotype"), omimRe, 2)))
      .withColumn("ontologyId", emptyToNull(
        when(regexp_extract(col("phenotype"), otherRe, 2) =!= "",
          concat(
            when(upper(regexp_extract(col("phenotype"), otherRe, 1)).contains("ORPHA"), lit("Orphanet"))
              .otherwise(regexp_extract(col("phenotype"), otherRe, 1)),
            lit(":"),
            regexp_extract(col("phenotype"), otherRe, 2)))
          .otherwise(lit(""))))
      .withColumn("cleanPhenotype",
        emptyToNull(trim(regexp_replace(regexp_replace(col("phenotype"), omimRe, ""), otherRe, ""))))
      .select(
        lit("genomics_england").as("datasourceId"),
        col("gene_symbol").as("targetFromSourceId"),
        col("panel_name").as("studyId"),
        col("cleanPhenotype").as("diseaseFromSource"),
        col("omimId"),
        col("ontologyId"),
      )
      .filter(col("diseaseFromSource").isNotNull || col("omimId").isNotNull || col("ontologyId").isNotNull)
      .distinct()
  }

  test("PanelAppParser equals its unbound formulation across tag shapes, blanks and nulls") {
    val raw = Seq[(String, String, String, String)](
      ("BRCA2", "Breast cancer panel", "3",
        "{Breast cancer susceptibility} 600185;Ovarian cancer, HP:0100615"),
      ("GLUE", "P", "3", "Aarskog-Scott syndrome, 305400Mental retardation, X-linked syndromic 16, 305400"),
      ("MIMPFX", "P", "2", "Some disease MIM# 123456; Another (no OMIM number)"),
      ("ORPHA", "P", "3", "ORPHA:558 Marfan; Orphanet_1234 thing; OrphaNet: ORPHA99 x"),
      ("MONDO", "P", "2", "MONDO_0007739 related anomaly; HP:0000118"),
      ("BLANK", "P", "3", " ; ;  "),
      ("NULLPH", "P", "3", null),
      ("LOWCONF", "P", "1", "whatever 123456"),
      ("PLAIN", "P", "2", "Plain disease name"),
    ).toDF("gene_symbol", "panel_name", "confidence_level", "phenotypes").repartition(2)
    assert(jsonLines(PanelAppParser(raw)) == jsonLines(panelAppReference(raw)))
  }

  test("each regexp_extract runs once per row: one per pattern and group in the executed plan") {
    // Repartitioned, so the projections are planned rather than folded
    // into a local relation.
    val cb = Seq(("BRAF", "Melanoma", "V", "chr7:g.140453136A>T", "V600E", "MUT"))
      .toDF("gene", "tumorType", "drug", "gDNA", "alterations", "alterationTypes").repartition(2)
    val pa = Seq(("BRCA2", "P", "3", "Ovarian cancer, HP:0100615 600185"))
      .toDF("gene_symbol", "panel_name", "confidence_level", "phenotypes").repartition(2)
    val br = Seq(("S1", "G1", 0.5, "T | experiment: E | analysis: A"))
      .toDF("screenId", "targetFromSourceId", "resourceScore", "description").repartition(2)
    val lut = Seq(("S1", "EFO_X")).toDF("screenId", "diseaseFromSourceMappedId")
    for ((name, df, extracts) <- Seq(
        ("cancer_biomarkers", CancerBiomarkersParser(cb), 4),
        ("panelapp", PanelAppParser(pa), 3),
        ("crispr_brain", BrainCrisprParser(br, lut), 2))) {
      val counts = regexpExtracts(df)
      assert(counts.size == extracts, s"$name: $counts")
      assert(counts.values.forall(_ == 1), s"$name evaluates a regexp_extract more than once per row: $counts")
    }
  }

  test("TargetSafetyParser: union + collect_set + A7 null repair + R6 rewrite") {
    val s1 = Seq(("T1", "cardiotoxicity", "clinical", "trial A", "src1"))
      .toDF("targetFromSourceId", "event", "studyType", "studyDesc", "datasource")
    val s2 = Seq(
      ("T1", "cardiotoxicity", "preclinical", "mouse B", "src2"),
      ("T2", "hepatotoxicity", null, null, "src3"),
    ).toDF("targetFromSourceId", "event", "studyType", "studyDesc", "datasource")
    val out = TargetSafetyParser(Seq(s1, s2))
    val t1 = out.filter($"targetFromSourceId" === "T1").head()
    val studies = t1.getAs[scala.collection.Seq[Row]]("studies")
    assert(studies.map(_.getAs[String]("type")).toSet == Set("CLINICAL", "PRECLINICAL"))
    assert(t1.getAs[scala.collection.Seq[String]]("datasources") == Seq("src1", "src2"))
    val t2 = out.filter($"targetFromSourceId" === "T2").head()
    assert(t2.getAs[Any]("studies") == null, "empty study set repaired to null")
  }
}
