package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Plan-audit main: prints the formatted physical plan for the named
  * queries (or all registry queries). Usage: runMain graft.Explain
  * [sfDir] [q1 q2 ...]. A name is a registry query (its verified shape)
  * or a bench probe (`b_*`), the names Bench times; an unknown name fails
  * the run, listing the known ones.
  * Pass `--final` as the first query name to EXECUTE each query first and
  * print the AQE final plan (isFinalPlan=true, with the runtime-chosen
  * joins and AQEShuffleRead coalescing) instead of the initial one.
  */
object Explain {

  /** Every name Explain resolves: the registry's verified shapes and the bench probes. */
  val builders: Map[String, QueryDef.Builder] = SparkEntry.queries ++ SparkEntry.benchProbes

  /** `names` checked against [[builders]]; fails naming the unknown ones and listing the known. */
  def resolve(names: Seq[String]): Seq[String] = {
    val unknown = names.filterNot(builders.contains)
    require(unknown.isEmpty, s"Explain: unknown query names: ${unknown.mkString(", ")}; " +
      s"known: ${builders.keys.toSeq.sorted.mkString(", ")}")
    names
  }

  /** The formatted physical plan of query `name` (`Dataset.explain("formatted")`'s text). */
  def plan(spark: SparkSession, sfDir: String, name: String, finalPlan: Boolean): String = {
    val df = builders(name)(spark, sfDir)
    // Execute THIS QueryExecution's physical plan (a write/count would
    // wrap a fresh one and leave this AdaptiveSparkPlan un-finalized).
    if (finalPlan) df.queryExecution.executedPlan.execute().count()
    df.queryExecution.explainString(FormattedMode)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val rest = args.drop(1).toSeq
    val finalPlan = rest.headOption.contains("--final")
    val qargs = if (finalPlan) rest.drop(1) else rest
    val names = if (qargs.nonEmpty) resolve(qargs) else SparkEntry.queries.keys.toSeq.sorted
    // Fixed 4 cores, not SPARK_GRAFT_CPUS: captured plans must not
    // depend on the environment.
    val spark = GraftSession("graft-explain", cores = 4)
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n======== $n ========")
      println(plan(spark, sfDir, n, finalPlan))
    }
    spark.stop()
  }
}
