package graft

/** Plan-audit main: prints the formatted physical plan for the named
  * queries (or all). Usage: runMain graft.Explain [sfDir] [q1 q2 ...]
  * Pass `--final` as the first query name to EXECUTE each query first and
  * print the AQE final plan (isFinalPlan=true, with the runtime-chosen
  * joins and AQEShuffleRead coalescing) instead of the initial one.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val rest = args.drop(1).toSeq
    val finalPlan = rest.headOption.contains("--final")
    val qargs = if (finalPlan) rest.drop(1) else rest
    val names = if (qargs.nonEmpty) qargs else SparkEntry.queries.keys.toSeq.sorted
    // Fixed 4 cores, not SPARK_GRAFT_CPUS: captured plans must not
    // depend on the environment.
    val spark = GraftSession("graft-explain", cores = 4)
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n======== $n ========")
      val df = SparkEntry.queries(n)(spark, sfDir)
      // Execute THIS QueryExecution's physical plan (a write/count would
      // wrap a fresh one and leave this AdaptiveSparkPlan un-finalized).
      if (finalPlan) df.queryExecution.executedPlan.execute().count()
      df.explain("formatted")
    }
    spark.stop()
  }
}
