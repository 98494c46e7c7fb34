package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core._

class CoreSpec extends SparkTestBase {
  import spark.implicits._

  test("Readers.csv with forced schema and nullValue") {
    val dir = tmpDir("csv1")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "in.csv"),
      "gene,score\nBRCA1,1.5\nTP53,null\n")
    val schema = StructType(Seq(
      StructField("gene", StringType), StructField("score", DoubleType)))
    val df = Readers.csv(spark, s"$dir/in.csv", schema = Some(schema), nullValue = Some("null"))
    val rows = df.orderBy("gene").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("BRCA1", "TP53"))
    assert(rows(0).getDouble(1) == 1.5)
    assert(rows(1).isNullAt(1))
  }

  test("Readers.csvSkipRows drops leading metadata lines (ClinGen S4)") {
    val dir = tmpDir("csv2")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "in.csv"),
      "JUNK LINE 1\nJUNK LINE 2\ngene,score\nBRCA1,1\nTP53,2\n")
    val schema = StructType(Seq(
      StructField("gene", StringType), StructField("score", IntegerType)))
    val df = Readers.csvSkipRows(spark, s"$dir/in.csv", skipRows = 2, schema = schema)
    assert(df.count() == 2)
    assert(df.filter($"gene" === "BRCA1").head().getInt(1) == 1)
  }

  test("Readers.readPath dispatches by extension") {
    val dir = tmpDir("auto")
    Seq(("a", 1), ("b", 2)).toDF("k", "v").write.mode("overwrite").parquet(s"$dir/t.parquet")
    assert(Readers.readPath(spark, s"$dir/t.parquet").count() == 2)
    Seq(("a", 1)).toDF("k", "v").coalesce(1).write.mode("overwrite").json(s"$dir/t.json")
    assert(Readers.readPath(spark, s"$dir/t.json").count() == 1)
  }

  test("Readers.readPath lists a directory through the Hadoop FS: a file: URI of JSON parts reads as JSON") {
    val dir = tmpDir("auto_uri")
    Seq(("a", 1), ("b", 2)).toDF("k", "v").write.json(s"$dir/parts")
    val df = Readers.readPath(spark, s"file://$dir/parts")
    assert(df.columns.toSeq == Seq("k", "v"))
    assert(df.orderBy("k").collect().map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(("a", 1L), ("b", 2L)))
  }

  /** Spark's own inferred read with the options [[Readers.csv]] sets. */
  private def sparkInferred(path: String, sep: String) =
    spark.read.option("sep", sep).option("header", "true").option("multiLine", "false")
      .option("quote", "\"").option("escape", "\"").option("inferSchema", "true").csv(path)

  /** The value `body` returns and the Spark jobs it ran on this thread. */
  private def withJobCount[T](body: => T): (T, Int) = {
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.test.jobs") == tag)) jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setLocalProperty("graft.test.jobs", tag)
    try {
      val out = body
      org.apache.spark.sql.GraftShim.drainListenerBus(spark)
      (out, jobs.get)
    } finally {
      spark.sparkContext.setLocalProperty("graft.test.jobs", null)
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  /** `readPath` gives Spark's own inferred schema and rows, in `jobs` jobs. */
  private def assertInfersLikeSpark(path: String, sep: String, jobs: Int): Unit = {
    val (got, n) = withJobCount(Readers.readPath(spark, path))
    val want = sparkInferred(path, sep)
    assert(got.schema == want.schema, path)
    assert(got.collect().map(_.toString).sorted.toSeq == want.collect().map(_.toString).sorted.toSeq, path)
    assert(n == jobs, s"$path: $n Spark jobs to read, expected $jobs")
  }

  private def write(path: String, text: String): String = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath, text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    path
  }

  test("Readers.readPath infers TSV/CSV schemas like Spark does, in one job when the first lines agree") {
    val dir = tmpDir("infer")
    val body = "gene\tscore\tn\nBRCA1\t1.5\t3\nTP53\t\t4\nEGFR\t2e-3\t\n"
    assertInfersLikeSpark(write(s"$dir/single.tsv", body), "\t", jobs = 1)
    Seq(("BRCA1", 1.5, 3), ("TP53", 2.0, 4), ("EGFR", 0.5, 5), ("KRAS", 1.0, 6)).toDF("gene", "score", "n")
      .repartition(3).write.option("sep", "\t").option("header", "true").csv(s"$dir/multi.tsv")
    assertInfersLikeSpark(s"$dir/multi.tsv", "\t", jobs = 1)
    val gz = new java.util.zip.GZIPOutputStream(new java.io.FileOutputStream(s"$dir/packed.tsv.gz"))
    try gz.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8)) finally gz.close()
    assertInfersLikeSpark(s"$dir/packed.tsv.gz", "\t", jobs = 1)
    assertInfersLikeSpark(write(s"$dir/blank.tsv", "\n  \n" + body), "\t", jobs = 1)
    // Spark's header pick trims spaces only: a tab-only line is the header.
    assertInfersLikeSpark(write(s"$dir/tab_line.tsv", "\t\n" + body), "\t", jobs = 1)
    assertInfersLikeSpark(write(s"$dir/crlf.csv", "a,b\r\n1,x\r\n2,y\r\n"), ",", jobs = 1)
    assertInfersLikeSpark(write(s"$dir/cr.csv", "a,b\r1,x\r2,y\r"), ",", jobs = 1)
    assertInfersLikeSpark(write(s"$dir/bom.csv", "\uFEFFgene,score\nBRCA1,1\n"), ",", jobs = 1)
    assertInfersLikeSpark(write(s"$dir/quoted.csv", "\"a,b\",c\n1,2.5\n3,4\n"), ",", jobs = 1)
    assertInfersLikeSpark(write(s"$dir/header_only.tsv", "gene\tscore\n"), "\t", jobs = 1)
    write(s"$dir/with_empty.tsv/part-0.tsv", body)
    write(s"$dir/with_empty.tsv/part-1.tsv", "")
    write(s"$dir/with_empty.tsv/part-2.tsv", body)
    assertInfersLikeSpark(s"$dir/with_empty.tsv", "\t", jobs = 1)
    // First lines differ: the header is whichever line Spark reads first,
    // so Spark's own two-job inference decides.
    write(s"$dir/differ.tsv/part-0.tsv", "a\tb\n1\t2\n")
    write(s"$dir/differ.tsv/part-1.tsv", "x\ty\n3\t4.5\n")
    assertInfersLikeSpark(s"$dir/differ.tsv", "\t", jobs = 2)
  }

  test("Writers.writeJsonGzSingle produces exactly one gz json file (K1)") {
    val dir = tmpDir("sink")
    val out = s"$dir/evidence.json.gz"
    Writers.writeJsonGzSingle(Seq(("g1", 0.5), ("g2", 0.7)).toDF("target", "score"), out)
    assert(new java.io.File(out).isFile)
    val back = spark.read.json(out)
    assert(back.count() == 2)
    assert(back.columns.sorted.toSeq == Seq("score", "target"))
  }

  /** Every line of a gzip file, read with the JDK's reader (which, like
    * Hadoop's codec, reads every member of a multi-member file).
    */
  private def gzLines(path: String): Vector[String] = {
    val src = scala.io.Source.fromInputStream(
      new java.util.zip.GZIPInputStream(new java.io.FileInputStream(path)), "UTF-8")
    try src.getLines().toVector finally src.close()
  }

  test("Writers.writeJsonGzSingle joins parallel parts in partition order into one file (K1)") {
    val dir = tmpDir("sink_parts")
    val out = s"$dir/ordered.json.gz"
    // 7919 is coprime to 50000, so k is a permutation of the ids. A range
    // repartition plus a partition-local sort is orderBy's plan with a
    // fixed partition count (orderBy leaves the count to AQE, which may
    // coalesce a small output to one); 13 parts put indices past 9 into
    // the join.
    val df = spark.range(0, 50000, 1, 7)
      .select(($"id" * 7919 % 50000).as("k"), concat(lit("g"), $"id").as("target"))
      .repartitionByRange(13, $"k").sortWithinPartitions("k")
    assert(df.rdd.getNumPartitions == 13)
    val expected = df.toJSON.collect().toVector
    assert(expected.size == 50000)
    Writers.writeJsonGzSingle(df, out)
    // Compared line by line: a failure names the first line out of order.
    def firstMismatch(lines: Vector[String]) =
      if (lines.size != expected.size) Some(s"${lines.size} lines, expected ${expected.size}")
      else lines.indices.find(i => lines(i) != expected(i)).map(i => s"line $i out of partition order: ${lines(i)}")
    val jdk = gzLines(out)
    assert(firstMismatch(jdk).isEmpty, firstMismatch(jdk))
    val hadoop = spark.read.text(out).as[String].collect().toVector
    assert(firstMismatch(hadoop).isEmpty, firstMismatch(hadoop))
    // One non-hidden file, no temp dir.
    assert(new java.io.File(dir).listFiles().filterNot(_.getName.startsWith(".")).map(_.getName).toSeq ==
      Seq("ordered.json.gz"))
    assert(!new java.io.File(out + "_tmp").exists())
  }

  test("Writers.writeJsonGzSingle: zero rows over many partitions is a valid empty gzip; a rewrite overwrites") {
    val dir = tmpDir("sink_empty")
    val out = s"$dir/evidence.json.gz"
    val empty = spark.range(0, 1000, 1, 5).filter($"id" < 0).select($"id".as("k"))
    assert(empty.rdd.getNumPartitions == 5)
    val w = Writers.writeJsonGzSingle(empty, out)
    assert(gzLines(out).isEmpty)
    assert(spark.read.text(out).count() == 0)
    assert(w.bytes == new java.io.File(out).length() && w.bytes > 0)
    val again = spark.range(0, 30, 1, 3).select($"id".as("k"))
    Writers.writeJsonGzSingle(again, out)
    assert(gzLines(out) == again.toJSON.collect().toVector)
    assert(!new java.io.File(out + "_tmp").exists())
  }

  test("Union.unionByNameAll tolerates missing columns (U1)") {
    val a = Seq((1, "x")).toDF("id", "only_a")
    val b = Seq((2, 9.9)).toDF("id", "only_b")
    val u = Union.unionByNameAll(Seq(a, b))
    assert(u.count() == 2)
    assert(u.columns.sorted.toSeq == Seq("id", "only_a", "only_b"))
    assert(u.filter($"id" === 2).head().getAs[Any]("only_a") == null)
  }

  test("Dedup.topOnePerKey keeps the best row deterministically (W1)") {
    val df = Seq((1, "a", 5.0), (1, "b", 9.0), (1, "c", 9.0), (2, "d", 1.0))
      .toDF("k", "tag", "score")
    val out = Dedup.topOnePerKey(df, Seq("k"), Seq($"score".desc, $"tag".asc))
    val m = out.collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(m == Map(1 -> "b", 2 -> "d")) // tie on 9.0 broken by tag asc
  }

  test("Dedup.bestRowPerKey agrees with window variant") {
    val df = Seq((1, "a", 5.0), (1, "b", 9.0), (2, "d", 1.0)).toDF("k", "tag", "score")
    val viaAgg = Dedup.bestRowPerKey(df, Seq("k"), Seq("score", "tag"))
      .select("k", "tag").as[(Int, String)].collect().toSet
    assert(viaAgg == Set((1, "b"), (2, "d")))
  }

  test("Dedup.exactTextDedup keeps one survivor per normalized text") {
    val df = Seq(
      (1L, "Hello  World"), (2L, "hello world"), (3L, "different"),
    ).toDF("id", "text")
    val out = Dedup.exactTextDedup(df, "id", "text")
    assert(out.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
  }

  test("Cleanup.emptyToNull equals when(trim(c) =!= \"\", c) and evaluates c once") {
    val df = Seq[(String, Integer)](("x", 1), ("  ", 2), ("", 3), (null, null), (" a b ", 0), ("\t", 5))
      .toDF("s", "i").repartition(2)
    val c = regexp_extract(col("s"), "^(.*)$", 1)
    val got = df.select(Cleanup.emptyToNull(c).as("e"), Cleanup.emptyToNull(col("i")).as("n"))
    val want = df.select(when(trim(c) =!= "", c).as("e"), when(trim(col("i")) =!= "", col("i")).as("n"))
    assert(got.schema == want.schema)
    assert(got.collect().map(_.toString).sorted.toSeq == want.collect().map(_.toString).sorted.toSeq)
    assert(regexpExtracts(got) == Map(("^(.*)$", 1) -> 1))
  }

  test("Cleanup.dictReplace only replaces exact matches (R11)") {
    val df = Seq("A", "AB", "R").toDF("flag")
    val out = Cleanup.dictReplace(df, Seq("flag"), Map("A" -> "accepted"))
    assert(out.as[String].collect().sorted.toSeq == Seq("AB", "R", "accepted"))
  }

  test("Cleanup.applyRegexRules applies rulebook in order") {
    val df = Seq("Frontotemporal dementia, TDP-43 type").toDF("phenotype")
    val out = Cleanup.applyRegexRules(df, "phenotype", Seq(
      (",.*$", ""),         // strip qualifier tail
      ("\\s+$", ""),
    ))
    assert(out.head().getString(0) == "Frontotemporal dementia")
  }

  test("Reshape.melt unpivots runtime-discovered columns (R3)") {
    val wide = Seq(("m1", 1.0, 2.0, 3.0)).toDF("id", "gA", "gB", "gC")
    val out = Reshape.melt(wide, Seq("id"), "gene", "effect")
    assert(out.count() == 3)
    assert(out.filter($"gene" === "gB").head().getDouble(2) == 2.0)
  }

  test("Reshape.meltMetricTriplets pivots <entity>_<metric> columns (Encore R3)") {
    val wide = Seq(("p1", 0.01, 0.5, 0.02, 0.7)).toDF(
      "id", "SIDM1_pval", "SIDM1_lfc", "SIDM2_pval", "SIDM2_lfc")
    val out = Reshape.meltMetricTriplets(wide, Seq("id"), Seq("pval", "lfc"), "cellLine")
    assert(out.count() == 2)
    val r = out.filter($"cellLine" === "SIDM2").head()
    assert(r.getAs[Double]("pval") == 0.02 && r.getAs[Double]("lfc") == 0.7)
  }

  test("Reshape.zipWithPad reuses first type for overflow (R9)") {
    val df = Seq((Seq("v1", "v2", "v3"), Seq("t1", "t2"))).toDF("vals", "types")
    val out = df.select(Reshape.zipWithPad($"vals", $"types").as("z"))
      .select(explode($"z").as("p")).select("p.value", "p.type")
      .as[(String, String)].collect().toSeq
    assert(out == Seq(("v1", "t1"), ("v2", "t2"), ("v3", "t1")))
  }

  test("Profile.profile survives hostile column names (quotes, backticks, dots)") {
    // The melt is built with the Column API, never by splicing names into
    // SQL text — names that would break a selectExpr/stack profile fine.
    val df = Seq((1, "x", 2.0), (2, "y", 2.0), (2, null, 3.0))
      .toDF("it's", "back`tick", "dot.ted")
    val out = Profile.profile(df).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out.keySet == Set("it's", "back`tick", "dot.ted"))
    assert(out("it's") == ((3L, 0L, 2L)))       // n, nulls, distinct
    assert(out("back`tick") == ((3L, 1L, 2L)))
    assert(out("dot.ted") == ((3L, 0L, 2L)))
  }

  test("OntologyMap.addEfoMapping null-safe joins on both keys (J5/F9)") {
    val evidence = Seq(
      ("asthma", "MONDO:1", "g1"), ("asthma", null, "g2"), (null, null, "g3"),
    ).toDF("diseaseFromSource", "diseaseFromSourceId", "target")
    val lut = Seq(
      ("asthma", "MONDO:1", "EFO_A"), ("asthma", null, "EFO_B"), (null, null, "EFO_C"),
    ).toDF("diseaseFromSource", "diseaseFromSourceId", "diseaseFromSourceMappedId")
    val out = OntologyMap.addEfoMapping(evidence, lut)
    val m = out.select("target", "diseaseFromSourceMappedId")
      .as[(String, String)].collect().toMap
    assert(m == Map("g1" -> "EFO_A", "g2" -> "EFO_B", "g3" -> "EFO_C"))
  }

  test("reciprocalBestMatch: mutuality drops the loser of a roster collision") {
    import org.apache.spark.sql.functions._
    // Probes "smith" and "smyth" both best-match roster "smith"; only
    // the exact probe survives mutuality, and bestMatch keeps BOTH.
    // Blocking key: last 2 chars ("th" shared by all).
    val probes = Seq((1L, "smith"), (2L, "smyth")).toDF("pid", "pname")
    val roster = Seq((10L, "smith")).toDF("rid", "rname")
    val rbm = graft.core.Linkage.reciprocalBestMatch(
      probes, "pid", "pname", roster, "rid", "rname", blockLen = 2, minSim = 0.5)
      .select("d_key", "matched_key").as[(Long, Long)].collect().toSet
    assert(rbm == Set((1L, 10L)), s"only the mutual best survives: $rbm")
    val bm = graft.core.Linkage.bestMatch(
      probes, "pid", "pname", roster, "rid", "rname", blockLen = 2, minSim = 0.5)
      .select("d_key", "matched_key").as[(Long, Long)].collect().toSet
    assert(bm == Set((1L, 10L), (2L, 10L)), "one-directional argmax keeps both")
  }
}
