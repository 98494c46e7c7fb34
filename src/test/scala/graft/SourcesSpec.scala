package graft

import org.apache.spark.SparkFiles
import org.apache.spark.sql.functions._
import graft.core.{Qc, Readers, Writers, Xml}

class SourcesSpec extends SparkTestBase {
  import spark.implicits._

  test("S2: multiline quoted CSV records (cell-passport shape)") {
    val dir = tmpDir("mlcsv")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "models.csv"),
      "model_name,model_id,tissue\n\"HeLa\nsubline\",SIDM1,Cervix\nA549,SIDM2,Lung\n")
    val df = Readers.csv(spark, s"$dir/models.csv", multiLine = true)
    assert(df.count() == 2)
    assert(df.filter($"model_id" === "SIDM1").head().getString(0) == "HeLa\nsubline")
  }

  test("S6: recursive directory JSON scan") {
    val dir = tmpDir("recjson")
    Seq(("a", 1)).toDF("k", "v").write.mode("overwrite").json(s"$dir/nested/part1")
    Seq(("b", 2)).toDF("k", "v").write.mode("overwrite").json(s"$dir/nested/deeper/part2")
    val df = Readers.json(spark, dir, recursive = true)
    assert(df.count() == 2)
  }

  test("S9: addFile + SparkFiles.get staging (remote-file pattern)") {
    val dir = tmpDir("addfile")
    val f = java.nio.file.Paths.get(dir, "lut_staged.tsv")
    java.nio.file.Files.writeString(f, "k\tv\nx\t1\n")
    spark.sparkContext.addFile(f.toUri.toString)
    val staged = SparkFiles.get("lut_staged.tsv")
    val df = Readers.tsv(spark, staged)
    assert(df.head().getString(0) == "x")
  }

  test("S11: StAX XML records reader (Orphanet product6 shape)") {
    val dir = tmpDir("xml")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "orphanet.xml"),
      """<?xml version="1.0" encoding="UTF-8"?>
        |<JDBOR>
        |  <DisorderList>
        |    <Disorder id="17601">
        |      <OrphaCode>166024</OrphaCode>
        |      <Name lang="en">Multiple epiphyseal dysplasia</Name>
        |      <Gene><Symbol>KIF7</Symbol></Gene>
        |    </Disorder>
        |    <Disorder id="2">
        |      <OrphaCode>93</OrphaCode>
        |      <Name lang="en">Achondroplasia &amp; co</Name>
        |    </Disorder>
        |  </DisorderList>
        |</JDBOR>
        |""".stripMargin)
    val df = Xml.readRecords(spark, s"$dir/orphanet.xml", "Disorder", Seq("OrphaCode", "Name", "Symbol"))
    assert(df.count() == 2)
    val r = df.filter($"OrphaCode" === "166024").head()
    assert(r.getAs[String]("Symbol") == "KIF7")
    val r2 = df.filter($"OrphaCode" === "93").head()
    assert(r2.getAs[String]("Name") == "Achondroplasia & co")
    assert(r2.getAs[Any]("Symbol") == null)
  }

  test("Contracts: schema conformance + required-field nullness") {
    import graft.core.Contracts
    import org.apache.spark.sql.types._
    val ev = Seq(("clingen", "BRCA1", Seq("123")))
      .toDF("datasourceId", "targetFromSourceId", "literature")
    Contracts.assertConforms(ev, Contracts.evidenceCore)
    Contracts.assertConforms(ev, StructType(Seq(
      StructField("literature", ArrayType(StringType)))))
    intercept[Contracts.ContractViolation] {
      Contracts.assertConforms(ev, StructType(Seq(StructField("resourceScore", DoubleType))))
    }
    intercept[Contracts.ContractViolation] {
      Contracts.assertConforms(ev, StructType(Seq(StructField("literature", ArrayType(DoubleType)))))
    }
    Contracts.assertNoNulls(ev, Seq("datasourceId", "targetFromSourceId"))
    val withNull = Seq((null.asInstanceOf[String], "g")).toDF("datasourceId", "targetFromSourceId")
    intercept[graft.core.Qc.QcException] {
      Contracts.assertNoNulls(withNull, Seq("datasourceId"))
    }
  }

  test("Qc: count windows, uniqueness, invariants, fractions") {
    val df = Seq((1, 0.5), (2, 0.1), (3, 0.0)).toDF("id", "p")
    assert(Qc.assertCountBetween(df, 2, 5) == 3)
    intercept[Qc.QcException](Qc.assertCountBetween(df, 10, 20))
    Qc.assertUniqueKey(df, Seq("id"))
    intercept[Qc.QcException](Qc.assertUniqueKey(df.union(df), Seq("id")))
    intercept[Qc.QcException](Qc.assertNone(df, $"p" === 0.0, "zero p-values"))
    val frac = Qc.assertFractionBetween(df, $"p" >= 0.5, 0.2, 0.5, "high-p share")
    assert(math.abs(frac - 1.0 / 3) < 1e-9)
    Qc.assertAll(df, Seq("neg_p" -> ($"p" < 0), "huge_p" -> ($"p" > 1)))
    intercept[Qc.QcException](Qc.assertAll(df, Seq("zero_p" -> ($"p" === 0.0))))
  }

  test("Qc.observed records metrics during the pipeline's own action (no extra job)") {
    val base = spark.read.parquet(s"$sf/lineitem.parquet")
    val observed = Qc.observed(base, "qc",
      count(lit(1)).as("rows"),
      sum(when($"l_quantity" <= 0, 1L).otherwise(0L)).as("bad_qty"))
      .filter($"l_quantity" > 0) // QC sees pre-filter rows: attached at the scan
    // collect() runs the Dataset's OWN QueryExecution — the one observe is
    // attached to (a write would build a fresh one; see Qc scaladoc).
    val n = observed.collect().length
    val m = Qc.observedMetrics(observed)("qc")
    assert(m.getAs[Long]("rows") == base.count() && m.getAs[Long]("bad_qty") == 0L)
    assert(n == base.count(), "filter dropped nothing (no non-positive quantities)")
  }

  test("Qc.validateEvidence: per-rule violation counts, nested shapes, planted bad rows") {
    val df = Seq(
      ("ENSG1", "clingen", Seq("HP:1"), "1e-8", Seq(("d1", "EFO:1"))),
      ("ENSG2", "gene_burden", Seq("HP:2"), "2.5e-5", Seq(("d2", "EFO:2"))),
      (null: String, "clingen", Seq("HP:3"), "1e-2", Seq(("d3", "EFO:3"))),   // required
      ("ENSG3", "bogus_source", Seq[String](), "xx", Seq(("d4", null: String))), // enum+array+pattern+element
    ).toDF("targetFromSourceId", "datasourceId", "phenotypes", "pValue", "diseases")
      .withColumn("diseases", $"diseases".cast("array<struct<label:string,id:string>>"))
    val contract = Qc.EvidenceContract(
      required = Seq("targetFromSourceId", "datasourceId"),
      enums = Map("datasourceId" -> Seq("clingen", "gene_burden")),
      patterns = Map("pValue" -> "^[0-9.]+e-?[0-9]+$"),
      nonEmptyArrays = Seq("phenotypes"),
      elementRequired = Seq(("diseases", "id")))
    val ex = intercept[Qc.QcException](Qc.validateEvidence(df, contract))
    for (rule <- Seq("required:targetFromSourceId=1", "enum:datasourceId=1",
        "pattern:pValue=1", "nonEmptyArray:phenotypes=1", "elementRequired:diseases.id=1"))
      assert(ex.getMessage.contains(rule), s"missing $rule in: ${ex.getMessage}")
    // The clean subset passes and reports all-zero counts.
    val clean = df.filter($"targetFromSourceId".isNotNull &&
      $"datasourceId".isin("clingen", "gene_burden") && size($"phenotypes") > 0 &&
      $"pValue".rlike("^[0-9.]+e-?[0-9]+$") && !exists($"diseases", e => e.getField("id").isNull))
    assert(Qc.validateEvidence(clean, contract).values.forall(_ == 0L))
  }

  test("writeJsonGzSingle validates the evidence contract DURING the write (observe, no rescan)") {
    val dir = tmpDir("contract_sink")
    val good = Seq(("ENSG1", "clingen", 0.5), ("ENSG2", "clingen", 0.7))
      .toDF("targetFromSourceId", "datasourceId", "score")
    val contract = Qc.EvidenceContract(
      required = Seq("targetFromSourceId"),
      enums = Map("datasourceId" -> Seq("clingen")))
    val clean = Writers.writeJsonGzSingle(good, s"$dir/good.json.gz", Some(contract))
    assert(spark.read.json(s"$dir/good.json.gz").count() == 2)
    assert(clean.rows.contains(2L) && clean.violations.values.forall(_ == 0L))
    // The two violations sit in different partitions (1 and 6 of 8), so
    // each partition's counters must be summed into the one observed row.
    val planted = spark.range(0, 4000, 1, 8).select(
      when($"id" === 700, lit(null)).otherwise(concat(lit("ENSG"), $"id")).as("targetFromSourceId"),
      when($"id" === 3300, "not_clingen").otherwise("clingen").as("datasourceId"),
      ($"id" / 4000.0).as("score"))
    assert(planted.rdd.getNumPartitions == 8)
    val ex = intercept[Qc.QcException](
      Writers.writeJsonGzSingle(planted, s"$dir/bad.json.gz", Some(contract)))
    assert(ex.getMessage.contains("enum:datasourceId=1,") &&
      ex.getMessage.endsWith("required:targetFromSourceId=1"), ex.getMessage)
    val written = ex.written.get
    assert(written.violations == Map("required:targetFromSourceId" -> 1L, "enum:datasourceId" -> 1L))
    // The bytes landed before the throw, and the report describes them.
    assert(written.rows.contains(4000L))
    assert(written.bytes == new java.io.File(s"$dir/bad.json.gz").length())
    assert(spark.read.text(s"$dir/bad.json.gz").count() == 4000)
  }

  // A genuine .xlsx built from its OOXML parts (ECMA-376: zip + XML) —
  // structurally what Excel/openpyxl write, covering shared strings
  // (incl. a rich-text multi-run cell), inline strings, booleans,
  // numbers, and omitted (gap) cells.
  private def writeXlsxFixture(path: String): Unit = {
    def sheetXml(rows: String): String =
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
         |<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
         |<sheetData>$rows</sheetData></worksheet>""".stripMargin
    // Header (2 rows, B1/C2-style merged-cell blanks) + 3 data rows.
    // Shared strings: 0=id 1=metrics 2=name 3=p 4=BRCA1 5=TP53(rich, two runs)
    val probes = sheetXml(
      """<row r="1"><c r="A1" t="s"><v>0</v></c><c r="C1" t="s"><v>1</v></c></row>
        |<row r="2"><c r="B2" t="s"><v>2</v></c><c r="C2" t="s"><v>3</v></c><c r="D2" t="str"><v>beta</v></c></row>
        |<row r="3"><c r="A3"><v>1</v></c><c r="B3" t="s"><v>4</v></c><c r="C3"><v>0.5</v></c><c r="D3"><v>-1.25</v></c></row>
        |<row r="4"><c r="A4"><v>2</v></c><c r="B4" t="s"><v>5</v></c><c r="D4" t="b"><v>1</v></c></row>
        |<row r="5"><c r="A5"><v>3</v></c><c r="B5" t="inlineStr"><is><t>EGFR</t></is></c><c r="C5"><v>0.01</v></c></row>""".stripMargin)
    val notes = sheetXml("""<row r="1"><c r="A1" t="inlineStr"><is><t>note</t></is></c></row>""")
    val shared =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="6" uniqueCount="6">
        |<si><t>id</t></si><si><t>metrics</t></si><si><t>name</t></si><si><t>p</t></si>
        |<si><t>BRCA1</t></si><si><r><t>TP</t></r><r><t>53</t></r></si></sst>""".stripMargin
    val workbook =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"
        |  xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
        |<sheets><sheet name="probes" sheetId="1" r:id="rId1"/>
        |<sheet name="notes" sheetId="2" r:id="rId2"/></sheets></workbook>""".stripMargin
    val rels =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
        |<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>
        |<Relationship Id="rId2" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet2.xml"/>
        |</Relationships>""".stripMargin
    val contentTypes =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
        |<Default Extension="xml" ContentType="application/xml"/>
        |<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>
        |</Types>""".stripMargin
    val zos = new java.util.zip.ZipOutputStream(new java.io.FileOutputStream(path))
    try Seq(
      "[Content_Types].xml" -> contentTypes,
      "xl/workbook.xml" -> workbook,
      "xl/_rels/workbook.xml.rels" -> rels,
      "xl/sharedStrings.xml" -> shared,
      "xl/worksheets/sheet1.xml" -> probes,
      "xl/worksheets/sheet2.xml" -> notes,
    ).foreach { case (name, content) =>
      zos.putNextEntry(new java.util.zip.ZipEntry(name))
      zos.write(content.getBytes("UTF-8"))
      zos.closeEntry()
    } finally zos.close()
  }

  test("Xlsx reads multi-sheet, multi-row-header Excel directly (S10, real xlsx)") {
    val path = tmpDir("xlsx_fixture") + "/probes.xlsx"
    writeXlsxFixture(path)
    assert(graft.core.Xlsx.sheetNames(path) == Seq("probes", "notes"))
    val df = graft.core.Xlsx.read(spark, path, "probes", headerRows = 2)
    // Same ffill+join contract as csvMultiHeader: A spans down, C1 spans right.
    assert(df.columns.toSeq == Seq("id", "id_name", "metrics_p", "metrics_beta"))
    val rows = df.collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)))
    assert(rows.toSeq == Seq(
      ("1", "BRCA1", "0.5", "-1.25"),
      ("2", "TP53", null, "TRUE"),   // rich-text si; C4 omitted → null; boolean
      ("3", "EGFR", "0.01", null),   // inline string; D5 omitted → null
    ))
  }

  test("Xlsx handles address-less cells (sequential placement) and skips rPh phonetic runs") {
    // ECMA-376 makes the cell address attribute `r` OPTIONAL; streaming
    // writers omit it. Mixed form: row 2 has no addresses at all, row 3
    // anchors C3 then continues sequentially (D). Shared string 1 carries
    // an <rPh> furigana block that must NOT leak into the cell text.
    val dir = tmpDir("xlsx_noaddr")
    val path = s"$dir/na.xlsx"
    val sheet =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>
        |<row r="1"><c t="s"><v>0</v></c><c><v>7</v></c></row>
        |<row><c t="s"><v>1</v></c><c t="inlineStr"><is><t>x</t></is></c></row>
        |<row r="3"><c r="C3"><v>9</v></c><c><v>10</v></c></row>
        |</sheetData></worksheet>""".stripMargin
    val shared =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="2" uniqueCount="2">
        |<si><t>plain</t></si>
        |<si><r><t>東京</t></r><rPh sb="0" eb="2"><t>トウキョウ</t></rPh><phoneticPr fontId="1"/></si></sst>""".stripMargin
    val workbook =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"
        |  xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
        |<sheets><sheet name="s" sheetId="1" r:id="rId1"/></sheets></workbook>""".stripMargin
    val rels =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
        |<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>
        |</Relationships>""".stripMargin
    val zos = new java.util.zip.ZipOutputStream(new java.io.FileOutputStream(path))
    try Seq(
      "xl/workbook.xml" -> workbook,
      "xl/_rels/workbook.xml.rels" -> rels,
      "xl/sharedStrings.xml" -> shared,
      "xl/worksheets/sheet1.xml" -> sheet,
    ).foreach { case (name, content) =>
      zos.putNextEntry(new java.util.zip.ZipEntry(name))
      zos.write(content.getBytes("UTF-8"))
      zos.closeEntry()
    } finally zos.close()
    val rows = graft.core.Xlsx.sheetRows(path, "s")
    assert(rows == Seq(
      Seq("plain", "7", "", ""),
      Seq("東京", "x", "", ""), // rPh run skipped: NOT 東京トウキョウ
      Seq("", "", "9", "10"),   // C3 anchors col 2; next cell flows to col 3
    ))
  }

  test("Xlsx and csvMultiHeader agree on the header contract (same table both ways)") {
    val dir = tmpDir("xlsx_vs_csv")
    val xlsxPath = s"$dir/t.xlsx"
    writeXlsxFixture(xlsxPath)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/t.csv"),
      "id,,metrics,\n,name,p,beta\n1,BRCA1,0.5,-1.25\n")
    val viaCsv = Readers.csvMultiHeader(spark, s"$dir/t.csv", headerRows = 2)
    val viaXlsx = graft.core.Xlsx.read(spark, xlsxPath, "probes", headerRows = 2)
    assert(viaCsv.columns.toSeq == viaXlsx.columns.toSeq)
    assert(viaCsv.collect().head.toSeq == viaXlsx.collect().head.toSeq)
    // readPath dispatches on the extension like every other format.
    assert(Readers.readPath(spark, xlsxPath).columns.nonEmpty)
  }

  test("ORC round-trip with predicate pushdown and writeByExtension dispatch") {
    val out = tmpDir("orc_roundtrip") + "/nation.orc"
    val nation = spark.read.parquet(s"$sf/nation.parquet")
    graft.core.Writers.writeByExtension(nation, out)
    val back = graft.core.Readers.readPath(spark, out)
    assert(back.collect().toSet == nation.collect().toSet, "ORC round-trip lost rows")
    val p = back.filter($"n_nationkey" > 10).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("PushedFilters: [IsNotNull(n_nationkey), GreaterThan(n_nationkey,10)]"),
      s"ORC scan must push the predicate:\n$p")
  }
}
