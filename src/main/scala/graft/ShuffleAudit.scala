package graft

import java.util.concurrent.atomic.LongAdder

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Cost-model probe (dev harness, not driver-run): executes registry
  * queries end-to-end (noop sink) while a SparkListener sums every
  * task's shuffle WRITE bytes/records and input-read bytes — the two
  * quantities that multiply against 100 TB. Shuffle write is counted
  * (not read) so a value is attributed exactly once per exchange, and
  * re-used/replayed reads don't double-count.
  *
  * Output: one JSON line per query —
  * {"q":name,"sec":s,"input_mb":m,"shuffle_mb":m,"shuffle_rows":n,
  *  "amplification":shuffle_bytes/input_bytes}
  * `amplification` is the scale verdict in one number: an operator whose
  * shuffle grows faster than its input (ratio rising across sf0.1 → sf1
  * → sf10) is the one that breaks first on a 1000-executor cluster.
  *
  * The same rows persist to `SHUFFLEAUDIT.json` in the cwd (r13 verdict
  * item 5), merge-on-write keyed by the scale dir's basename — the
  * committed sf0.1/sf1/sf10 sweep is a TRACKED artifact, so a scale
  * regression (a new forced broadcast, an amplification phase change)
  * shows up as a git diff instead of a BENCH.md re-read.
  * ShuffleAuditSpec lints the committed file for full watchlist
  * coverage at every swept scale.
  *
  * Usage: SPARK_GRAFT_SF_DIR=target/sf10 runMain graft.ShuffleAudit q1 q2 ...
  * (no args = the BENCH.md scaling-table family)
  */
object ShuffleAudit {

  /** The standing-index / dedup / IVM shapes whose state or fan-out
    * could bend super-linearly — the sf10 table's rows.
    */
  val defaultQueries: Seq[String] = Seq(
    "q_dedup_clusters", "q_dedup_clusters_incremental",
    "q_substring_dedup", "q_sparse_incremental",
    "q_ann_ivf_incremental", "q_ann_pq_incremental", "q_ann_ivfpq_incremental",
    "q_setsim_join", "q_containment_incremental",
    "q_ivm_agg", "q_ivm_retract", "q_ivm_topk_retract",
    "q_ivm_quantile_retract", "q_ivm_topk_bounded",
    "q_asof_salted")

  /** The queries to audit: the command line's names, or
    * [[defaultQueries]] when it names none. Fails, before any session
    * starts, naming every name the registry does not know.
    */
  def queryNames(args: Seq[String]): Seq[String] =
    QueryDef.checked("ShuffleAudit", if (args.nonEmpty) args else defaultQueries, SparkEntry.byName.contains)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", sys.error(
      "ShuffleAudit: set SPARK_GRAFT_SF_DIR to the parquet scale dir to audit"))
    val names = queryNames(args.toSeq)
    val spark = GraftSession("graft-shuffle-audit", GraftSession.cores(default = 32))

    val shuffleBytes = new LongAdder
    val shuffleRows = new LongAdder
    val inputBytes = new LongAdder
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          shuffleBytes.add(m.shuffleWriteMetrics.bytesWritten)
          shuffleRows.add(m.shuffleWriteMetrics.recordsWritten)
          inputBytes.add(m.inputMetrics.bytesRead)
        }
      }
    })

    val preexisting = spark.sparkContext.getPersistentRDDs.keySet
    val measured = Seq.newBuilder[(String, Double, Long, Long, Long)]
    names.foreach { name =>
      shuffleBytes.reset(); shuffleRows.reset(); inputBytes.reset()
      val t0 = System.nanoTime()
      try {
        SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        // listener events are posted async; drain before reading
        org.apache.spark.sql.GraftShim.drainListenerBus(spark)
        val in = inputBytes.sum(); val sh = shuffleBytes.sum()
        val amp = if (in > 0) sh.toDouble / in else Double.NaN
        println(f"""{"q":"$name","sec":$sec%.2f,"input_mb":${in / 1048576.0}%.1f,"shuffle_mb":${sh / 1048576.0}%.1f,"shuffle_rows":${shuffleRows.sum()},"amplification":$amp%.3f}""")
        measured += ((name, sec, in, sh, shuffleRows.sum()))
      } catch {
        case e: Throwable => System.err.println(s"[audit] $name failed: $e")
      }
      spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!preexisting.contains(id)) rdd.unpersist(blocking = false)
      }
    }
    persist(new java.io.File(sfDir).getName, measured.result())
    spark.stop()
  }

  /** Merge this sweep's rows into SHUFFLEAUDIT.json under `scaleKey` —
    * existing scales/queries are preserved, re-audited queries replaced.
    * Values are rounded (sec 2dp, MB 1dp, amplification 3dp) so that a
    * re-run with unchanged behavior diffs quietly.
    */
  private def persist(
      scaleKey: String,
      rows: Seq[(String, Double, Long, Long, Long)]): Unit = {
    import com.fasterxml.jackson.databind.ObjectMapper
    import com.fasterxml.jackson.databind.node.ObjectNode
    if (rows.isEmpty) return
    try {
      val om = new ObjectMapper()
      val f = new java.io.File("SHUFFLEAUDIT.json")
      val root = (if (f.isFile) om.readTree(f) else null) match {
        case o: ObjectNode => o
        case _ => om.createObjectNode()
      }
      val scaleNode = root.get(scaleKey) match {
        case o: ObjectNode => o
        case _ =>
          val n = om.createObjectNode(); root.set[ObjectNode](scaleKey, n); n
      }
      def r(v: Double, dp: Int): Double = {
        val m = math.pow(10, dp); math.round(v * m) / m
      }
      rows.foreach { case (name, sec, in, sh, shRows) =>
        val e = om.createObjectNode()
        e.put("sec", r(sec, 2))
        e.put("input_mb", r(in / 1048576.0, 1))
        e.put("shuffle_mb", r(sh / 1048576.0, 1))
        e.put("shuffle_rows", shRows)
        if (in > 0) e.put("amplification", r(sh.toDouble / in, 3))
        else e.putNull("amplification") // NaN is not JSON
        scaleNode.set[ObjectNode](name, e)
      }
      om.writerWithDefaultPrettyPrinter().writeValue(f, root)
      System.err.println(s"[audit] merged ${rows.size} rows into SHUFFLEAUDIT.json under $scaleKey")
    } catch {
      case e: Throwable => System.err.println(s"[audit] SHUFFLEAUDIT.json write failed: $e")
    }
  }
}
