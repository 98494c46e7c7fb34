package evbench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftExtensions

/** Benchmark entry point: one workload, one JVM, one closed-loop caller.
  *
  *   evbench.Main --workload W --seed N --seconds S --trace 0|1
  *                --cores K --work DIR
  *
  * Sets up (session, seeded inputs staged three times, a warm-up job),
  * runs one cold pass, then steady passes until `--seconds` have
  * elapsed, checks every output against a second computation, and
  * prints one JSON line.
  */
object Main {

  final case class Opts(
      workload: String = "",
      seed: Long = 1L,
      seconds: Double = 20.0,
      trace: Boolean = false,
      cores: Int = 4,
      work: String = "",
  )

  def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case "--workload" :: v :: t => parse(t, o.copy(workload = v))
    case "--seed" :: v :: t => parse(t, o.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, o.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, o.copy(trace = v == "1"))
    case "--cores" :: v :: t => parse(t, o.copy(cores = v.toInt))
    case "--work" :: v :: t => parse(t, o.copy(work = v))
    case Nil => o
    case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
  }

  /** Session settings, copied from `graft.RunPipeline` (pipelines) and
    * `graft.Bench` (registry, which adds the library's extensions); the
    * core count is pinned by the caller instead of read from the
    * environment.
    */
  def session(cores: Int, withExtensions: Boolean, app: String): SparkSession = {
    val b = SparkSession.builder()
    if (withExtensions) b.withExtensions(new GraftExtensions())
    val spark = b
      .master(s"local[$cores]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args.toList)
    val w = Workload.byName.getOrElse(o.workload,
      throw new IllegalArgumentException(s"unknown workload '${o.workload}'; known: ${Workload.byName.keys.toSeq.sorted.mkString(", ")}"))
    require(o.work.nonEmpty, "--work DIR is required")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val ticks0 = Interval.ticks()
    val spark = session(o.cores, w.withExtensions, s"evbench-${w.name}")
    val started = Interval((System.currentTimeMillis() - jvmStartMs) / 1000.0, Interval.stolenSince(ticks0))
    try {
      val result = new Run(spark, w, o, started).execute()
      println(result)
    } finally spark.stop()
  }
}

/** Wall seconds of an interval (`raw`) and the share of the VM's non-idle
  * CPU time that the hypervisor stole during it, from Linux's
  * `/proc/stat` summed over all CPUs. `seconds`, the wall time less that
  * share, is what the benchmark reports: the host is shared, and the
  * steal it imposes (from 1% to over 30% of a pass, by the hour) would
  * otherwise move the timings more than the program does.
  */
final case class Interval(raw: Double, stolen: Double) {
  def seconds: Double = raw * (1 - stolen)
  override def toString: String = f"$seconds%.2f s (wall $raw%.2f s, $stolen%.3f stolen)"
}

object Interval {
  /** Non-idle and stolen clock ticks of all CPUs since boot. */
  def ticks(): (Long, Long) = {
    val f = scala.io.Source.fromFile("/proc/stat")
    val v = try f.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally f.close()
    // cpu  user nice system idle iowait irq softirq steal ...
    (v(0) + v(1) + v(2) + v(5) + v(6), v(7))
  }

  def stolenSince(t0: (Long, Long)): Double = {
    val t1 = ticks()
    val busy = t1._1 - t0._1
    val stolen = t1._2 - t0._2
    if (busy + stolen > 0) stolen.toDouble / (busy + stolen) else 0.0
  }

  def of[T](body: => T): (T, Interval) = {
    val t0 = ticks()
    val n0 = System.nanoTime()
    val r = body
    (r, Interval((System.nanoTime() - n0) / 1e9, stolenSince(t0)))
  }
}

/** The median of a small sample. */
object Stat {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}

/** Order-insensitive content digest of a set of lines: line count and
  * the exact sum of the lines' 64-bit xxhash values.
  */
final case class Digest(lines: Long, hashSum: java.math.BigDecimal) {
  override def toString: String = s"$lines:${hashSum.toPlainString}"
}

object Digest {
  def of(lines: DataFrame): Digest = {
    val r = lines.agg(count(lit(1)), sum(xxhash64(col("value")).cast("decimal(38,0)"))).head()
    Digest(r.getLong(0), Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
  }

  /** Digest of a gzip JSON-lines evidence file, as stored. */
  def ofFile(spark: SparkSession, path: String): Digest = of(spark.read.text(path))

  /** Digest of a DataFrame as the JSON lines the K1 sink would write. */
  def ofRows(df: DataFrame): Digest = of(df.toJSON.toDF("value"))

  def parse(s: String): Digest = {
    val Array(n, h) = s.split(":", 2)
    Digest(n.toLong, new java.math.BigDecimal(h))
  }
}
