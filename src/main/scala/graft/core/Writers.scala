package graft.core

import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.IOUtils
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.DataWritingCommandExec

/** Sinks — SURVEY.md §2.2 (K1, K2, K5).
  *
  * Reference contract: one gzipped JSON-lines file per parser
  * (`common/evidence.py:66-80`: coalesce(1) → json+gzip → rename the single
  * part file, assert exactly one chunk).
  *
  * [[writeJsonGzSingle]] keeps the one file but not the one task: every
  * partition writes its own gzip part in parallel, and the driver joins
  * the parts, in partition order, into one multi-member gzip file
  * (RFC 1952 §2.2). The TSV branch of [[writeByExtension]] (the K5 debug
  * side output) still goes through `coalesce(1)`: a header must come
  * first and exactly once.
  */
object Writers {

  /** What one K1 write left.
    *
    * @param rows       rows the write command wrote (its `numOutputRows`
    *                   metric, read by the contract listener); None on the
    *                   no-contract path, which registers no listener
    * @param bytes      length of the evidence file
    * @param violations violating-row count per contract rule; empty
    *                   without a contract
    */
  final case class Written(rows: Option[Long], bytes: Long, violations: Map[String, Long])

  /** K1: single-file gzipped JSON-lines sink (reference
    * `common/evidence.py:66-80`), written by as many tasks as `df` has
    * partitions.
    *
    * Pass a `contract` to validate the output against the reference's
    * JSON-Schema-style rules (§5 mechanism 1, `Snakefile:110`): the
    * violation counters ride `Dataset.observe`, accumulating DURING the
    * write itself — no second scan — and are read back through a
    * QueryExecutionListener once the write's execution completes. Like
    * the reference's file-then-validate flow, a violation throws AFTER
    * the bytes land; the exception names every violated rule and carries
    * the [[Written]] report.
    */
  def writeJsonGzSingle(
      df: DataFrame,
      outFile: String,
      contract: Option[Qc.EvidenceContract] = None,
  ): Written = contract match {
    case None => Written(None, writeJsonGzSingleRaw(df, outFile), Map.empty)
    case Some(c) =>
      val spark = df.sparkSession
      // Unique per call: the listener is session-global, so two
      // concurrent contract writes sharing one metric name would capture
      // each other's counter rows — a violating output could be silently
      // accepted against the clean write's all-zero metrics.
      val metricName = s"evidence_contract_${java.util.UUID.randomUUID()}"
      val observed = Qc.observedEvidence(df, c, metricName)
      val captured = new java.util.concurrent.atomic.AtomicReference[(Row, Option[Long])]()
      val listener = new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(
            funcName: String,
            qe: QueryExecution,
            durationNs: Long): Unit =
          qe.observedMetrics.get(metricName).foreach(m => captured.compareAndSet(null, (m, outputRows(qe))))
        override def onFailure(
            funcName: String,
            qe: QueryExecution,
            exception: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      val bytes =
        try {
          val n = writeJsonGzSingleRaw(observed, outFile)
          // Listener dispatch is asynchronous; drain before reading.
          org.apache.spark.sql.GraftShim.drainListenerBus(spark)
          n
        } finally spark.listenerManager.unregister(listener)
      val (metrics, rows) = Option(captured.get).getOrElse(throw new IllegalStateException(
        "evidence-contract metrics were not observed during the write"))
      val written = Written(rows, bytes, Qc.contractCounts(metrics))
      Qc.failOnViolations(written.violations, Some(written))
      written
  }

  /** The write command's `numOutputRows` metric. */
  private def outputRows(qe: QueryExecution): Option[Long] =
    qe.executedPlan.collectFirst { case w: DataWritingCommandExec => w.cmd.metrics.get("numOutputRows") }
      .flatten.map(_.value)

  private val PartIndex = "part-(\\d+)-.*".r

  /** Writes `df` as one gzip part per partition under `<outFile>_tmp`,
    * joins the parts on the driver into `outFile` and returns its length.
    * Joining in partition order (the index in the part name, compared as
    * a number) keeps an `orderBy` output globally ordered.
    */
  private def writeJsonGzSingleRaw(df: DataFrame, outFile: String): Long = {
    val tmp = new Path(outFile + "_tmp")
    df.write
      .mode("overwrite")
      .option("compression", "gzip")
      .json(tmp.toString)
    val fs = tmp.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    val parts = fs.globStatus(new Path(tmp, "part-*")).toSeq.map { s =>
      s.getPath.getName match {
        case PartIndex(i) => (i.toLong, s.getPath)
        case other => throw new java.io.IOException(s"unexpected part file $other in $tmp")
      }
    }.sortBy(_._1)
    // Spark writes partition 0 even when every partition is empty.
    require(parts.nonEmpty, s"no part file in $tmp")
    require(parts.map(_._1).distinct.size == parts.size, s"two part files share a partition index in $tmp")
    val joined = new Path(tmp, "joined.json.gz")
    val out = fs.create(joined, false)
    try parts.foreach { case (_, p) =>
      val in = fs.open(p)
      try IOUtils.copyBytes(in, out, 1 << 16, false) finally in.close()
    } finally out.close()
    val dest = new Path(outFile)
    // Hadoop FS ops report failure via booleans, not exceptions — check
    // them, and only clean the temp dir AFTER the rename landed (a failed
    // rename must not lose the only copy of the data).
    if (fs.exists(dest) && !fs.delete(dest, true))
      throw new java.io.IOException(s"could not remove existing $outFile")
    if (!fs.rename(joined, dest))
      throw new java.io.IOException(s"rename to $outFile failed; data retained in $tmp")
    if (!fs.delete(tmp, true))
      throw new java.io.IOException(s"wrote $outFile but could not remove $tmp")
    fs.getFileStatus(dest).getLen
  }

  /** K2: format-dispatched writer (reference `BrainCRISPR.py:310-317`).
    * `.tsv` (K5, the debug side output) is one file through `coalesce(1)`,
    * since its header must come first and once.
    */
  def writeByExtension(df: DataFrame, path: String): Unit = {
    val lower = path.toLowerCase
    if (lower.endsWith(".parquet")) df.write.mode("overwrite").parquet(path)
    else if (lower.endsWith(".orc")) df.write.mode("overwrite").orc(path)
    else if (lower.contains(".json")) writeJsonGzSingle(df, path)
    else if (lower.endsWith(".tsv"))
      df.coalesce(1).write.mode("overwrite").option("sep", "\t").option("header", "true").csv(path)
    else df.write.mode("overwrite").parquet(path)
  }

  /** Size-targeted parquet write — the small-files compaction step every
    * long-lived 100 TB table needs: thousands of kilobyte-sized files
    * wreck scan planning (file listing, footer reads, task-per-file) and
    * downstream shuffle fan-in. Partition count comes from Catalyst's
    * optimized-plan size statistics, so no extra pass over the data; a
    * round-robin repartition levels the output files.
    *
    * Without CBO the statistics are only trustworthy for scan-rooted
    * plans: joins multiply child sizes and stat-less leaves default to
    * Long.MaxValue. Estimates beyond `statSanityBytes` (default 1 PB)
    * are treated as junk and fall back to the session's default
    * parallelism rather than fanning out to the clamp.
    *
    * At true scale prefer the declarative knob
    * (`spark.sql.files.maxRecordsPerFile` / AQE coalescing) when it
    * fits; this helper is for explicit re-compaction of an existing
    * fragmented table.
    *
    * @return the partition (≈ file) count chosen
    */
  def writeCompacted(
      df: DataFrame,
      path: String,
      targetBytes: Long = 128L << 20,
      statSanityBytes: BigInt = BigInt(1L) << 50,
  ): Int = {
    require(targetBytes > 0)
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val parts =
      if (bytes > statSanityBytes) df.sparkSession.sparkContext.defaultParallelism
      else ((bytes + targetBytes - 1) / targetBytes).min(10000).max(1).toInt
    df.repartition(parts).write.mode("overwrite").parquet(path)
    parts
  }
}
