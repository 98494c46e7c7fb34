package graft

import org.apache.spark.sql.functions._

/** SQL surface injected by [[graft.GraftExtensions]] (the shared test
  * session is built `withExtensions`, so these functions resolve with no
  * runtime registration).
  */
class ExtensionsSpec extends SparkTestBase {
  import spark.implicits._

  test("the shared session carries every GraftSession setting (the CLI's configuration)") {
    // TestSession is built by the same GraftSession.apply as RunPipeline
    // and the other mains, so this pins what the shipped CLI runs with.
    val cores = "local\\[(\\d+)\\]".r
      .findFirstMatchIn(spark.sparkContext.master).map(_.group(1))
    assert(cores.contains("4"), spark.sparkContext.master)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == cores.get)
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(spark.catalog.functionExists("graft_erf"), "GraftExtensions injected")
  }

  test("GraftSession.cores trims SPARK_GRAFT_CPUS and falls back on unset or blank") {
    assert(GraftSession.parseCores(None, 4) == 4)
    assert(GraftSession.parseCores(Some("  "), 4) == 4)
    assert(GraftSession.parseCores(Some(" 32 "), 4) == GraftSession.CanonicalCores)
    assert(GraftSession.parseCores(Some("8"), 32) == 8)
    Seq("abc", "0", "-2", "*").foreach { v =>
      intercept[IllegalArgumentException](GraftSession.parseCores(Some(v), 4))
    }
  }

  test("all kernels resolve and evaluate through spark.sql") {
    val r = spark.sql(
      """SELECT
        |  graft_erf(1.0) AS e,
        |  graft_erfc(1.0) AS ec,
        |  graft_simhash64(array('the','quick','fox')) AS sh,
        |  graft_cosine(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
        |               array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS cos,
        |  graft_minhash_shingles(array('a','b','c','d'), 2, 4) AS mh,
        |  graft_word_shingles(array('a','b','c'), 2) AS ws,
        |  size(graft_winnow('abcdefghijklmnop', 8, 4)) AS nw,
        |  graft_winnow_anchors('abcdefghijklmnop', 8, 4) AS wa,
        |  graft_image_meta(CAST('junk' AS BINARY)) AS im,
        |  graft_audio_meta(CAST('junk' AS BINARY)) AS am,
        |  graft_gini(array(1.0, 1.0, 1.0)) AS g,
        |  graft_hpa_classify(array(10.0, 1.0, 1.0), 1.0).specificity AS spec,
        |  graft_text_stats('the quick brown fox').n_tokens AS nt,
        |  graft_next_fit_bins(array(5, 4, 7, 12, 3), 0, 0, 8) AS nfb
        |""".stripMargin).head()
    assert(math.abs(r.getAs[Double]("e") - 0.8427007929497149) < 1e-12)
    assert(math.abs(r.getAs[Double]("e") + r.getAs[Double]("ec") - 1.0) < 1e-12)
    assert(r.getAs[Double]("cos") == 1.0)
    assert(r.getSeq[Long](r.fieldIndex("mh")).length == 4)
    assert(r.getSeq[String](r.fieldIndex("ws")) == Seq("a b", "b c"))
    assert(r.getAs[Int]("nw") > 0)
    val wa = r.getSeq[Long](r.fieldIndex("wa"))
    assert(wa.nonEmpty && wa == wa.sorted && wa.forall(p => p >= 1 && p <= 9),
      "winnow anchors: ascending 1-based k-gram starts")
    assert(r.isNullAt(r.fieldIndex("im")) && r.isNullAt(r.fieldIndex("am")),
      "undecodable bytes => null metadata structs via the real codecs")
    assert(math.abs(r.getAs[Double]("g")) < 1e-12, "equal values => gini 0")
    assert(r.getAs[String]("spec") == "Tissue enriched")
    assert(r.getAs[Int]("nt") == 4)
    // next-fit at ctx 8: 5 | 4 | 7 | 12→capped own bin | 3 → bins 0,1,2,3,4
    // (4 doesn't fit after 5? 5+4=9>8 → new bin; 4+7=11>8 → new; cap(12)=8
    // can't join 7's bin → new; 8 full → 3 opens the next.)
    assert(r.getSeq[Long](r.fieldIndex("nfb")) == Seq(0L, 1L, 2L, 3L, 4L))
  }

  test("two graft_next_fit_bins calls share one generated method (freshName)") {
    // Both calls land in a single whole-stage-codegen projection; a
    // fixed local name in doGenCode would be a duplicate declaration
    // and a janino failure. Fallback is disabled so a codegen bug
    // fails the test instead of silently de-optimizing.
    val conf = "spark.sql.codegen.fallback"
    val prev = spark.conf.get(conf)
    spark.conf.set(conf, "false")
    try {
      val r = spark.sql(
        """SELECT graft_next_fit_bins(array(5, 4), 0, 0, 8) AS a,
          |       graft_next_fit_bins(array(5, 4), 2, 0, 8) AS b
          |""".stripMargin).head()
      assert(r.getSeq[Long](0) == Seq(0L, 1L))
      assert(r.getSeq[Long](1) == Seq(2L, 3L))
    } finally spark.conf.set(conf, prev)
  }

  test("SQL function results match the Column-API facade") {
    val df = spark.read.parquet(s"$sf/documents.parquet").limit(50)
    df.createOrReplaceTempView("ext_docs")
    val viaSql = spark.sql(
      "SELECT doc_id, graft_text_stats(text).lang_pred AS lp FROM ext_docs")
    val viaCol = df.select($"doc_id",
      graft.functions.GraftFunctions.textStats($"text").getField("lang_pred").as("lp"))
    assert(viaSql.exceptAll(viaCol).isEmpty && viaCol.exceptAll(viaSql).isEmpty)
  }

  test("GraftExtensions is instantiable via the spark.sql.extensions reflection path") {
    // The config path (`--conf spark.sql.extensions=graft.GraftExtensions`)
    // instantiates by class name with a zero-arg constructor and applies
    // to a SparkSessionExtensions — assert those mechanics directly.
    val inst = Class.forName("graft.GraftExtensions")
      .getDeclaredConstructor().newInstance()
      .asInstanceOf[org.apache.spark.sql.SparkSessionExtensions => Unit]
    inst(new org.apache.spark.sql.SparkSessionExtensions) // must not throw
  }

  test("non-constant kernel parameters are rejected with a clear error") {
    val e = intercept[Exception] {
      spark.sql("SELECT graft_minhash_shingles(array('a'), CAST(rand()*3 AS INT), 4)").head()
    }
    assert(e.getMessage.contains("constant"))
  }
}
