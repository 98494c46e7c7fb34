package evbench

import java.io.File
import java.security.MessageDigest

import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.MessageTypeParser

/** Seeded input generators. Every value is a pure function of
  * (seed, salt, row id), so the same seed gives the same bytes, and the
  * program under test only ever sees the staged files. Gene keys are
  * Zipf-skewed (log-uniform rank, the continuous s = 1 Zipf law): a few
  * genes carry most rows, as in real evidence sources.
  *
  * Inputs are written by plain JVM code (parquet through parquet-mr's
  * example writer), not by Spark, so that staging stays cheap and the
  * first pass, not the set-up, pays Spark's cold start.
  */
object Inputs {

  /** Row counts of the staged inputs; the notes record why each was chosen. */
  object Size {
    val cancerBiomarkers = 100000L
    val crisprBrain = 100000L
    val baselineGenes = 6000L
    val baselineTissues = 50
    val panelapp = 20000L
    val encore = 8000L
    val encoreCellLines = 10
    val genebass = 150000L
  }

  /** Files per staged input, so Spark reads each input with that many tasks. */
  val Files = 4

  /** Per-row uniform numbers: a SplitMix64 finaliser over (seed, salt, id). */
  final class Rng(seed: Long) {
    private def mix(z0: Long): Long = {
      var z = z0
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }

    /** Uniform double in [0, 1). */
    def u(salt: Int, id: Long): Double =
      (mix(mix(seed * 0x9e3779b97f4a7c15L + salt) + id) >>> 11) * (1.0 / (1L << 53))

    /** Uniform integer in [0, n). */
    def int(salt: Int, id: Long, n: Long): Long = math.min((u(salt, id) * n).toLong, n - 1)

    /** Zipf-skewed rank in [0, n): floor(exp(U·ln(n+1))) − 1 is log-uniform. */
    def zipf(salt: Int, id: Long, n: Long): Long =
      math.min(StrictMath.floor(StrictMath.exp(u(salt, id) * StrictMath.log(n + 1.0))).toLong - 1, n - 1)

    def pick(values: IndexedSeq[String], salt: Int, id: Long): String = values(int(salt, id, values.size).toInt)
  }

  private def fmt(digits: Int, x: Double): String =
    java.math.BigDecimal.valueOf(x).setScale(digits, java.math.RoundingMode.HALF_EVEN).toPlainString

  private def ensg(rank: Long): String = f"ENSG$rank%011d"

  /** Writes `n` rows as [[Files]] tab-separated files with a header each. */
  def writeTsv(path: String, header: Seq[String], n: Long)(row: Long => Seq[String]): Unit = {
    val dir = new File(path)
    dir.mkdirs()
    for (f <- 0 until Files) {
      val out = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
        new java.io.FileOutputStream(new File(dir, f"part-$f%05d.tsv")), java.nio.charset.StandardCharsets.UTF_8), 1 << 16)
      try {
        out.write(header.mkString("\t")); out.write('\n')
        var id = n * f / Files
        while (id < n * (f + 1) / Files) {
          out.write(row(id).mkString("\t")); out.write('\n')
          id += 1
        }
      } finally out.close()
    }
  }

  private val tumors = (0 until 30).map(i => s"Tumour type $i")
  private val chroms = (1 to 22).map(_.toString) ++ Seq("X", "Y")
  private val bases = Vector("A", "C", "G", "T")
  private val aminoFrom = Vector("V", "G", "R", "E", "K")
  private val aminoTo = Vector("E", "D", "K", "*")

  def cancerBiomarkers(path: String, seed: Long, n: Long): Unit = {
    val r = new Rng(seed)
    def alt(salt: Int, id: Long) =
      s"p.${r.pick(aminoFrom, salt, id)}${r.int(salt + 1, id, 900) + 1}${r.pick(aminoTo, salt + 2, id)}"
    writeTsv(path, Seq("gene", "tumorType", "drug", "gDNA", "alterations", "alterationTypes"), n) { id =>
      val two = r.u(11, id) < 0.35
      Seq(
        s"GENE${r.zipf(1, id, 20000)}",
        r.pick(tumors, 2, id),
        s"DRUG${r.int(12, id, 500)}",
        if (r.u(13, id) < 0.9)
          s"chr${r.pick(chroms, 3, id)}:g.${r.int(4, id, 240000000L) + 1}${r.pick(bases, 5, id)}>${r.pick(bases, 6, id)}"
        else "not-gdna",
        if (two) s"${alt(7, id)};${alt(20, id)}" else alt(7, id),
        if (two && r.u(14, id) < 0.5) "MUT;AMP" else "MUT")
    }
  }

  private val titles = (0 until 40).map(i => s"Neuronal survival screen number $i in iPSC-derived neurons")
  private val experiments = Vector("CRISPRi knockdown with dCas9-KRAB", "CRISPRn knockout with SpCas9",
    "CRISPRa activation with dCas9-VPH")
  private val analyses = Vector("MAGeCK robust rank aggregation", "BAGEL Bayesian classifier", "casTLE likelihood")
  val BrainScreens = 200

  def crisprBrain(path: String, lutPath: String, seed: Long, n: Long): Unit = {
    val r = new Rng(seed)
    writeTsv(path, Seq("screenId", "targetFromSourceId", "resourceScore", "description"), n) { id =>
      val tail = r.u(5, id)
      Seq(
        s"BS${r.int(1, id, BrainScreens)}",
        ensg(r.zipf(2, id, 19000)),
        fmt(6, r.u(3, id)),
        r.pick(titles, 4, id) +
          (if (tail < 0.8) s" | experiment: ${r.pick(experiments, 6, id)}" else "") +
          (if (tail < 0.6) s" | analysis: ${r.pick(analyses, 7, id)}" else ""))
    }
    val screens = (0L until BrainScreens).filter(r.u(8, _) < 0.75)
    writeTsv(lutPath, Seq("screenId", "diseaseFromSourceMappedId"), screens.size.toLong) { i =>
      val id = screens(i.toInt)
      Seq(s"BS$id", f"EFO_${r.int(9, id, 9999999L)}%07d")
    }
  }

  def baselineExpression(path: String, seed: Long, genes: Long, tissues: Int): Unit = {
    val r = new Rng(seed)
    // Skewed magnitudes (log-uniform over 0..1000 TPM) with ~10% zeros.
    writeTsv(path, "gene_id" +: (0 until tissues).map(t => f"tissue_$t%02d"), genes) { id =>
      ensg(id) +: (0 until tissues).map { t =>
        if (r.u(100 + t, id) < 0.1) "0.0"
        else fmt(3, StrictMath.exp(r.u(300 + t, id) * StrictMath.log(1001.0)) - 1.0)
      }
    }
  }

  /** Phenotype vocabulary: each entry exercises a different branch of the
    * PanelApp rulebook (OMIM codes, fused codes, curly braces, HP / ORPHA /
    * MONDO tags, "no OMIM" scrubs, PMID tails, multi-value ';' splits).
    */
  private val phenotypes: IndexedSeq[String] = (0 until 400).map { i =>
    val omim = 100000 + i * 1237
    i % 8 match {
      case 0 => s"{Disorder $i susceptibility} $omim"
      case 1 => f"Syndrome $i, HP:${100000 + i * 31}%07d"
      case 2 => s"Dystrophy $i MIM# $omim; Another condition $i (no OMIM number)"
      case 3 => s"ORPHA:${i * 3 + 7} rare disease $i"
      case 4 => s"MONDO_${1000000 + i} related anomaly"
      case 5 => s"Condition $i  with   spacing ; Second $i"
      case 6 => s"Disease $i ${omim}Fused phenotype $i"
      case _ => s"Anomaly $i (PMID: ${20000000 + i})"
    }
  }

  def panelapp(path: String, seed: Long, n: Long): Unit = {
    val r = new Rng(seed)
    val levels = Vector("1", "2", "3", "3")
    writeTsv(path, Seq("gene_symbol", "panel_name", "confidence_level", "phenotypes"), n) { id =>
      Seq(
        s"G${r.zipf(1, id, 5000)}",
        s"Panel ${r.int(2, id, 300)}",
        r.pick(levels, 3, id),
        if (r.u(4, id) < 0.3) s"${r.pick(phenotypes, 5, id)};${r.pick(phenotypes, 6, id)}"
        else phenotypes(r.zipf(7, id, phenotypes.size).toInt))
    }
  }

  def encore(path: String, seed: Long, n: Long, cellLines: Int): Unit = {
    val r = new Rng(seed)
    // Gene pairs are Zipf-skewed too, so the per-pair Stouffer sum
    // combines many duplicate rows and the output stays small.
    val header = "id" +: (0 until cellLines).flatMap(c => Seq(f"SIDM$c%03d_pval", f"SIDM$c%03d_lfc"))
    writeTsv(path, header, n) { id =>
      val pair = r.zipf(1, id, 40000)
      s"GENE${pair % 400}~GENE${pair / 400}" +: (0 until cellLines).flatMap { c =>
        Seq((math.pow(r.u(10 + c, id), 3) + 1e-12).toString, fmt(6, (r.u(40 + c, id) - 0.5) * 4))
      }
    }
  }

  /** Writes `n` rows as one parquet file; `schema` is a parquet message
    * type and `row` fills the fields in schema order.
    */
  def writeParquetFile(file: File, schema: String, n: Long)(row: (Long, Group) => Unit): Unit = {
    val t = MessageTypeParser.parseMessageType(schema)
    file.getParentFile.mkdirs()
    val w = ExampleParquetWriter.builder(new LocalOutputFile(file.toPath))
      .withType(t)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
    val groups = new SimpleGroupFactory(t)
    try {
      var id = 0L
      while (id < n) { val g = groups.newGroup(); row(id, g); w.write(g); id += 1 }
    } finally w.close()
  }

  private def round2(x: Double): Double = math.rint(x * 100) / 100

  def genebass(path: String, seed: Long, n: Long): Unit = {
    val r = new Rng(seed)
    val schema = """message genebass {
      optional binary gene_id (STRING); optional binary description (STRING);
      optional double Pvalue_Burden; optional double BETA_Burden; optional double SE_Burden; }"""
    for (f <- 0 until Files)
      writeParquetFile(new File(path, f"part-$f%05d.parquet"), schema, n * (f + 1) / Files - n * f / Files) { (i, g) =>
        val id = n * f / Files + i
        g.append("gene_id", ensg(r.zipf(1, id, 18000)))
          .append("description", s"phenotype ${r.int(2, id, 1000)}")
          .append("Pvalue_Burden",
            if (r.u(3, id) < 0.01) 1e-8 * (r.u(4, id) + 0.01) else 1e-3 + r.u(4, id) * 0.5)
          .append("BETA_Burden", math.rint((r.u(5, id) - 0.5) * 1e6) / 1e6)
          .append("SE_Burden", math.rint((0.01 + r.u(6, id) * 0.05) * 1e6) / 1e6)
      }
  }

  /** A small star schema with the column names and types of the TPC-H
    * style tables the registry queries read (region, nation, customer,
    * orders, lineitem). Fixed content: the registry workload ignores the
    * seed, so its recorded output digests stay valid. Part keys are
    * Zipf-skewed so that order baskets share part pairs, which the graph
    * queries need for a non-trivial edge set.
    */
  object Star {
    val Seed = 20240101L
    val Customers = 3000L
    val Orders = 30000L
    val LinesPerOrder = 4
    val Parts = 8000L
    val Suppliers = 1000L

    private val Epoch = 694224000L // 1992-01-01

    private def ts(r: Rng, salt: Int, id: Long): Long = (Epoch + r.int(salt, id, 2400L * 86400L)) * 1000000L

    /** Writes the tables as `<dir>/<table>.parquet`; returns their paths. */
    def write(dir: String): Seq[String] = {
      val r = new Rng(Seed)
      val regions = Vector("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
      val segments = Vector("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
      val priorities = Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
      def table(name: String, schema: String, n: Long)(row: (Long, Group) => Unit): String = {
        val f = new File(dir, s"$name.parquet")
        writeParquetFile(f, s"message $name { $schema }", n)(row)
        f.getPath
      }
      val micros = "(TIMESTAMP(MICROS,false))"
      Seq(
        table("region", "optional int32 r_regionkey; optional binary r_name (STRING);", 5) { (id, g) =>
          g.append("r_regionkey", id.toInt).append("r_name", regions(id.toInt))
        },
        table("nation", "optional int32 n_nationkey; optional binary n_name (STRING); optional int32 n_regionkey;", 25) {
          (id, g) => g.append("n_nationkey", id.toInt).append("n_name", s"NATION$id").append("n_regionkey", (id % 5).toInt)
        },
        table("customer", """optional int64 c_custkey; optional binary c_name (STRING); optional int32 c_nationkey;
            optional double c_acctbal; optional binary c_mktsegment (STRING);""", Customers) { (id, g) =>
          g.append("c_custkey", id + 1).append("c_name", f"Customer#${id + 1}%09d")
            .append("c_nationkey", r.int(1, id, 25).toInt).append("c_acctbal", round2(r.u(2, id) * 10999 - 999))
            .append("c_mktsegment", r.pick(segments, 3, id))
        },
        table("orders", s"""optional int64 o_orderkey; optional int64 o_custkey; optional binary o_orderstatus (STRING);
            optional double o_totalprice; optional int64 o_orderdate $micros; optional binary o_orderpriority (STRING);""",
          Orders) { (id, g) =>
          g.append("o_orderkey", id + 1).append("o_custkey", r.int(4, id, Customers) + 1)
            .append("o_orderstatus", r.pick(Vector("O", "F", "P"), 5, id))
            .append("o_totalprice", round2(1000 + r.u(6, id) * 450000)).append("o_orderdate", ts(r, 7, id))
            .append("o_orderpriority", r.pick(priorities, 8, id))
        },
        table("lineitem", s"""optional int64 l_orderkey; optional int64 l_partkey; optional int64 l_suppkey;
            optional int32 l_linenumber; optional double l_quantity; optional double l_extendedprice;
            optional double l_discount; optional double l_tax; optional binary l_returnflag (STRING);
            optional binary l_linestatus (STRING); optional int64 l_shipdate $micros;""",
          Orders * LinesPerOrder) { (id, g) =>
          g.append("l_orderkey", id / LinesPerOrder + 1).append("l_partkey", r.zipf(9, id, Parts) + 1)
            .append("l_suppkey", r.int(10, id, Suppliers) + 1).append("l_linenumber", (id % LinesPerOrder + 1).toInt)
            .append("l_quantity", (r.int(11, id, 50) + 1).toDouble)
            .append("l_extendedprice", round2(900 + r.u(12, id) * 100000))
            .append("l_discount", r.int(13, id, 11) / 100.0).append("l_tax", r.int(14, id, 9) / 100.0)
            .append("l_returnflag", r.pick(Vector("R", "A", "N"), 15, id))
            .append("l_linestatus", r.pick(Vector("O", "F"), 16, id)).append("l_shipdate", ts(r, 17, id))
        },
      )
    }
  }

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(deleteRecursively)
    f.delete()
  }

  /** The data files of a staged input, in a stable order. */
  def dataFiles(path: String): Seq[File] = {
    val f = new File(path)
    if (f.isFile) Seq(f)
    else Option(f.listFiles()).getOrElse(Array.empty[File]).toSeq
      .filter(x => x.isFile && !x.getName.startsWith("_") && !x.getName.startsWith("."))
      .sortBy(_.getName)
  }

  /** Byte digest of every staged file under `paths`, in path order. */
  def digest(paths: Seq[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val buf = new Array[Byte](1 << 16)
    for (p <- paths; f <- dataFiles(p)) {
      val in = new java.io.FileInputStream(f)
      try {
        var n = in.read(buf)
        while (n > 0) { md.update(buf, 0, n); n = in.read(buf) }
      } finally in.close()
    }
    md.digest().map(b => f"$b%02x").mkString
  }
}
