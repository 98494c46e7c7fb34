package graft.core

import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.spark.sql.{DataFrame, Dataset, GraftShim, SparkSession}
import org.apache.spark.sql.types.StructType

/** Source readers — SURVEY.md §2.1 (S1–S9, S13).
  *
  * Capability-equivalent to the reference's `common/evidence.py:230-285`
  * (`read_path` format auto-detection) plus the per-parser scan options
  * (forced schema `ClinGen.py:64-70`, multiline CSV
  * `common/evidence.py:156-157`, nullValue `IMPC.py:179-190`, metadata-row
  * skip `ClinGen.py:66-70`), re-expressed on `DataFrameReader`.
  *
  * Scale notes: all readers return lazy scans. An inferred CSV/TSV schema
  * costs one Spark job that reads every input line before the real scan
  * (at 100 TB that is a full extra pass over the data), so parsers that
  * know their schema must pass one; [[readPath]] takes the header from the
  * files' first lines on the driver, so inference is that one job only.
  */
object Readers {

  /** S1/S2/S3: delimited scan with the option surface the reference uses. */
  def csv(
      spark: SparkSession,
      path: String,
      sep: String = ",",
      header: Boolean = true,
      schema: Option[StructType] = None,
      multiLine: Boolean = false,
      nullValue: Option[String] = None,
      inferSchema: Boolean = false,
  ): DataFrame = {
    var r = spark.read.options(csvOptions(sep, header, multiLine))
    schema.foreach(s => r = r.schema(s))
    if (schema.isEmpty && inferSchema) r = r.option("inferSchema", "true")
    nullValue.foreach(v => r = r.option("nullValue", v))
    r.csv(path)
  }

  /** The scan options [[csv]] sets on every delimited read. */
  private def csvOptions(sep: String, header: Boolean, multiLine: Boolean): Map[String, String] = Map(
    "sep" -> sep,
    "header" -> header.toString,
    "multiLine" -> multiLine.toString,
    "quote" -> "\"",
    "escape" -> "\"",
  )

  /** TSV shorthand (the dominant delimited format in the reference). */
  def tsv(
      spark: SparkSession,
      path: String,
      schema: Option[StructType] = None,
      header: Boolean = true,
  ): DataFrame =
    csv(spark, path, sep = "\t", header = header, schema = schema)

  /** S4: skip N leading metadata lines, then parse as CSV with a forced
    * schema (reference: ClinGen's 6 junk header lines, `ClinGen.py:66-70`).
    *
    * The reference used `monotonically_increasing_id` + filter, which is
    * only correct single-partition. Scale-correct version: read lines,
    * zipWithIndex (a narrow, order-preserving op), drop the first N
    * globally, and feed the remainder to the CSV parser.
    */
  def csvSkipRows(
      spark: SparkSession,
      path: String,
      skipRows: Int,
      schema: StructType,
      sep: String = ",",
      header: Boolean = true,
  ): DataFrame = {
    import spark.implicits._
    val lines: Dataset[String] = spark.read.textFile(path)
    val body = lines.rdd
      .zipWithIndex()
      .filter { case (_, i) => i >= skipRows.toLong }
      .map(_._1)
    val bodyDs = spark.createDataset(body)
    spark.read
      .option("sep", sep)
      .option("header", header.toString)
      .schema(schema)
      .csv(bodyDs)
  }

  /** S5/S6: JSON-lines scan (incl. .json.gz, recursive directories). */
  def json(spark: SparkSession, path: String, recursive: Boolean = false): DataFrame =
    spark.read.option("recursiveFileLookup", recursive.toString).json(path)

  /** S7: parquet scan. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** ORC scan — the other columnar lake format warehouses standardize on
    * (predicate pushdown and column pruning work exactly as for parquet;
    * SourcesSpec asserts a round-trip).
    */
  def orc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** S8: format auto-detect by extension (reference `read_path`,
    * `common/evidence.py:230-285`). Directories default to parquet unless
    * they contain JSON parts; the directory is listed through the Hadoop
    * FS, so `file:`, `hdfs://` and plain paths behave alike.
    */
  def readPath(spark: SparkSession, path: String): DataFrame = {
    val lower = path.toLowerCase.stripSuffix(".gz").stripSuffix(".bz2")
    if (lower.endsWith(".parquet")) parquet(spark, path)
    else if (lower.endsWith(".orc")) orc(spark, path)
    else if (lower.endsWith(".xlsx"))
      Xlsx.read(spark, path, Xlsx.sheetNames(path).head)
    else if (lower.endsWith(".json") || lower.endsWith(".jsonl") || lower.endsWith(".ndjson"))
      json(spark, path)
    else if (lower.endsWith(".tsv") || lower.endsWith(".tab")) inferred(spark, path, "\t")
    else if (lower.endsWith(".csv")) inferred(spark, path, ",")
    else {
      val p = new Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p) && fs.getFileStatus(p).isDirectory &&
          fs.listStatus(p).exists(_.getPath.getName.contains(".json")))
        json(spark, path, recursive = true)
      else parquet(spark, path)
    }
  }

  /** [[csv]] with Spark's own inferred schema, in one Spark job instead of
    * two. Spark's inference runs a `take(1)` job for the header line, then
    * the inference scan. Here each file's first non-blank line is read on
    * the driver instead; when every file that has one gives the same line,
    * that line is the header Spark would pick, whatever its split order,
    * and only the inference scan runs. Otherwise (the files disagree, or
    * none has a line) the plain `inferSchema` read decides, as before.
    */
  private def inferred(spark: SparkSession, path: String, sep: String): DataFrame = {
    val lines = spark.read.textFile(path)
    lines.inputFiles.toSeq.flatMap(f => firstLine(spark, f)).distinct match {
      case Seq(header) =>
        val options = csvOptions(sep, header = true, multiLine = false) + ("inferSchema" -> "true")
        csv(spark, path, sep = sep, schema = Some(GraftShim.inferCsvSchema(spark, lines, header, options)))
      case _ => csv(spark, path, sep = sep, inferSchema = true)
    }
  }

  /** The first line of one file that is not all spaces (Spark's header
    * pick trims spaces only, so a tab-only line counts), as the text scan
    * reads it: the codec chosen by extension, UTF-8, a leading byte-order
    * mark dropped (as Hadoop's `LineRecordReader` does) and `\n`, `\r\n` or
    * `\r` ending a line. Read through the Hadoop FS on the driver: no
    * Spark job.
    */
  private def firstLine(spark: SparkSession, file: String): Option[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(new java.net.URI(file))
    val raw = p.getFileSystem(conf).open(p)
    val in = Option(new CompressionCodecFactory(conf).getCodec(p)).fold[java.io.InputStream](raw)(_.createInputStream(raw))
    val reader = new java.io.BufferedReader(new java.io.InputStreamReader(in, java.nio.charset.StandardCharsets.UTF_8))
    try Iterator.continually(reader.readLine()).takeWhile(_ != null).zipWithIndex
      .map { case (l, i) => if (i == 0) l.stripPrefix("\uFEFF") else l }
      .find(_.exists(_ != ' '))
    finally reader.close()
  }

  /** S10: multi-row-header delimited scan (reference CvdiGeneBurden Excel
    * sheets with pandas `header=[0,1,2]` + horizontal ffill,
    * `CvdiGeneBurden.py:100-150`; Excel itself is out of engine scope —
    * inputs arrive pre-converted to CSV, this reproduces the multiindex
    * flattening).
    *
    * The first `headerRows` lines are read on the driver (tiny), each row
    * forward-filled horizontally (merged-cell semantics), and the
    * per-column name is the '_'-joined non-empty parts. Data rows are then
    * parsed with [[csvSkipRows]] under the synthesized all-string schema.
    */
  def csvMultiHeader(
      spark: SparkSession,
      path: String,
      headerRows: Int,
      sep: String = ",",
  ): DataFrame = {
    // Through the Spark reader (not java.io): works on any Hadoop FS
    // (hdfs://, s3://, …), and take(n) on a single file preserves the
    // leading-line order.
    val headerLines = spark.read.textFile(path).take(headerRows).toList
    val cells = headerLines.map(_.split(java.util.regex.Pattern.quote(sep), -1).toSeq)
    val names = multiHeaderNames(cells)
    val schema = StructType(names.map(n => org.apache.spark.sql.types.StructField(n, org.apache.spark.sql.types.StringType)))
    csvSkipRows(spark, path, skipRows = headerRows, schema = schema, sep = sep, header = false)
  }

  /** The multiindex flattening shared by [[csvMultiHeader]] and
    * [[Xlsx.read]]: each header row forward-fills horizontally (merged-
    * cell semantics), a column's name is the '_'-join of its distinct
    * non-empty parts, unnamed columns become `_cI`.
    */
  private[core] def multiHeaderNames(cells: List[Seq[String]]): Seq[String] = {
    val width = cells.map(_.length).max
    val filled = cells.map { row =>
      row.padTo(width, "").scanLeft("") { (prev, c) => if (c.trim.isEmpty) prev else c.trim }.drop(1)
    }
    (0 until width).map { i =>
      val parts = filled.map(_(i)).filter(_.nonEmpty).distinct
      if (parts.isEmpty) s"_c$i" else parts.mkString("_")
    }
  }

  /** Loads a testdata table from a scale-factor directory (TESTDATA.md). */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")
}
