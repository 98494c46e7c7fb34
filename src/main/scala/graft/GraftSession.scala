package graft

import org.apache.spark.sql.SparkSession

/** The one session builder: every main and the test suite get their
  * SparkSession here — the counterpart of the reference's single session
  * initializer shared by every parser (`common/evidence.py`) — so the
  * CLI runs in exactly the configuration the specs cover.
  *
  * The session is `local[cores]` with one shuffle partition per core,
  * the library extension ([[GraftExtensions]]: kernel SQL functions,
  * fusion rules, the as-of join strategy), UTC session time, AQE on,
  * parquet TIMESTAMP(NANOS) read as long, no UI, and WARN logging.
  */
object GraftSession {

  /** Core count of the canonical bench host: `Bench` keeps its history
    * file `BENCH_FULL.json` for runs at this count only.
    */
  val CanonicalCores: Int = 32

  /** `SPARK_GRAFT_CPUS`, trimmed, or `default` when unset or blank — the
    * only place the variable is read.
    */
  def cores(default: Int): Int = parseCores(sys.env.get("SPARK_GRAFT_CPUS"), default)

  private[graft] def parseCores(value: Option[String], default: Int): Int =
    value.map(_.trim).filter(_.nonEmpty).fold(default) { v =>
      v.toIntOption.filter(_ > 0).getOrElse(
        throw new IllegalArgumentException(s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'"))
    }

  /** A session on `local[cores]`; `conf` adds caller-specific settings. */
  def apply(app: String, cores: Int, conf: Map[String, String] = Map.empty): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(new GraftExtensions())
      .master(s"local[$cores]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // older testdata generations carry TIMESTAMP(NANOS); read as long
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config(conf)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
