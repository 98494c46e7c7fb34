package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.core.{Readers, Stats}
import graft.parsers.BaselineExpressionParser

class BaselineSpec extends SparkTestBase {
  import spark.implicits._

  test("hpaSpecificity rule chain matches reference semantics") {
    val cases = Seq(
      ("not_detected", Seq(0.1, 0.2, 0.3, 0.4, 0.5, 0.9)),            // top < 1
      ("enriched", Seq(1.0, 2.0, 2.0, 2.0, 2.0, 9.0)),                // 9/2 >= 4
      ("group", Seq(1.0, 1.0, 1.0, 2.0, 8.5, 9.0)),                   // i=2: 8.5/2 >= 4
      // top-6 declines gently (no 4x steps) but mean is dragged low by the
      // tail, so exactly 5 elements exceed 4x mean -> Tissue enhanced.
      ("enhanced", Seq(12.0, 10.0, 9.0, 8.5, 8.0, 7.5) ++ Seq.fill(30)(0.5)),
      ("low", Seq(5.0, 5.0, 5.0, 5.0, 6.0, 7.0)),
    ).toDF("k", "xs").select($"k", Stats.hpaSpecificity($"xs", 1.0).as("c"))
    val m = cases.as[(String, String)].collect().toMap
    assert(m("not_detected") == "Not detected")
    assert(m("enriched") == "Tissue enriched")
    assert(m("group") == "Group enriched")
    assert(m("enhanced") == "Tissue enhanced")
    assert(m("low") == "Low tissue specificity")
  }

  test("HpaClassify expression agrees with the composable HOF formulation") {
    val vecs = Seq(
      Seq(0.1, 0.2, 0.3, 0.4, 0.5, 0.9),
      Seq(1.0, 2.0, 2.0, 2.0, 2.0, 9.0),
      Seq(1.0, 1.0, 1.0, 2.0, 8.5, 9.0),
      Seq(12.0, 10.0, 9.0, 8.5, 8.0, 7.5) ++ Seq.fill(30)(0.5),
      Seq(5.0, 5.0, 5.0, 5.0, 6.0, 7.0),
      Seq(0.1, 0.2, 5.0),
      Seq(0.5, 2.0, 3.0),
    ).toDF("xs")
    val hpa = graft.functions.GraftFunctions.hpaClassify($"xs", 1.0)
    val both = vecs.select(
      Stats.hpaSpecificity($"xs", 1.0).as("s1"), hpa.getField("specificity").as("s2"),
      Stats.hpaDistribution($"xs", 1.0).as("d1"), hpa.getField("distribution").as("d2"),
    ).collect()
    both.foreach { r =>
      assert(r.getString(0) == r.getString(1), s"specificity mismatch: $r")
      assert(r.getString(2) == r.getString(3), s"distribution mismatch: $r")
    }
  }

  test("hpaDistribution rule chain") {
    val cases = Seq(
      ("nd", Seq(0.1, 0.2, 0.9)),
      ("single", Seq(0.1, 0.2, 5.0)),
      ("some", Seq(0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 5.0, 6.0)),  // 2 of 8 < 8/3
      ("many", Seq(0.5, 2.0, 3.0)),
      ("all", Seq(2.0, 3.0, 4.0)),
    ).toDF("k", "xs").select($"k", Stats.hpaDistribution($"xs", 1.0).as("c"))
    val m = cases.as[(String, String)].collect().toMap
    assert(m("nd") == "Not detected")
    assert(m("single") == "Detected in single")
    assert(m("some") == "Detected in some")
    assert(m("many") == "Detected in many")
    assert(m("all") == "Detected in all")
  }

  test("BaselineExpressionParser: melt + metrics + adatiss LUT join") {
    val wide = Seq(
      ("ENSG1", 0.0, 0.0, 50.0),
      ("ENSG2", 5.0, 5.0, 5.0),
    ).toDF("gene_id", "Lung", "Liver", "Brain")
    val lut = Seq(("ENSG1", "Brain", 7.1234)).toDF("geneId", "tissueName", "adatissScore")
    val out = BaselineExpressionParser(wide, adatissLut = Some(lut))
    val g1 = out.filter($"gene_id" === "ENSG1").head()
    assert(g1.getAs[String]("hpaSpecificity") == "Tissue enriched")
    assert(g1.getAs[String]("hpaDistribution") == "Detected in single")
    assert(g1.getAs[Double]("gini") > 0.6)
    val ad = g1.getAs[scala.collection.Seq[Row]]("adatissScores")
    assert(ad.head.getAs[String]("bodyPartName") == "Brain")
    assert(ad.head.getAs[Double]("adatissScore") == 7.123)
    val g2 = out.filter($"gene_id" === "ENSG2").head()
    assert(g2.getAs[Double]("gini") == 0.0)
    assert(g2.getAs[String]("hpaDistribution") == "Detected in all")
    assert(g2.getAs[Any]("adatissScores") == null)
  }

  /** The baseline parser's metrics as first written: melt to one row per
    * gene and tissue, then collect the rows back by gene.
    */
  private def baselineReference(wide: DataFrame, geneCol: String = "gene_id"): DataFrame = {
    val molten = graft.core.Reshape.melt(wide, Seq(geneCol), varName = "tissueName", valName = "expression")
    val vectors = molten
      .groupBy(geneCol)
      .agg(
        sort_array(collect_list(struct(col("tissueName"), col("expression").cast("double").as("expression"))))
          .as("tissues"))
      .withColumn("expr_vec", transform(col("tissues"), _.getField("expression")))
    val hpa = graft.functions.GraftFunctions.hpaClassify(col("expr_vec"), 1.0)
    vectors.select(
      col(geneCol),
      col("tissues"),
      round(graft.functions.GraftFunctions.gini(col("expr_vec")), 6).as("gini"),
      hpa.getField("specificity").as("hpaSpecificity"),
      hpa.getField("distribution").as("hpaDistribution"),
    )
  }

  test("BaselineExpressionParser equals the melt formulation: duplicate gene rows, null cells, int columns") {
    val wide = Seq[(String, java.lang.Double, java.lang.Double, Integer)](
      ("ENSG1", 0.0, 0.0, 50),
      ("ENSG2", 5.0, 5.0, 5),
      ("ENSG1", 3.5, null, 1),
      ("ENSG3", null, null, null),
      ("ENSG4", 1.25, 900.0, 0),
    ).toDF("gene_id", "Lung", "Liver", "Brain").repartition(3)
    assert(jsonLines(BaselineExpressionParser(wide)) == jsonLines(baselineReference(wide)))
  }

  test("csvMultiHeader flattens multiindex headers with ffill (S10)") {
    val dir = tmpDir("mh")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "cvdi.csv"),
      "Gene,Mask A,,Mask B\n,OR,p,OR\nBRCA1,1.5,0.01,2.0\n")
    val df = Readers.csvMultiHeader(spark, s"$dir/cvdi.csv", headerRows = 2)
    assert(df.columns.toSeq == Seq("Gene", "Mask A_OR", "Mask A_p", "Mask B_OR"))
    val r = df.head()
    assert(r.getString(0) == "BRCA1" && r.getString(3) == "2.0")
  }
}
