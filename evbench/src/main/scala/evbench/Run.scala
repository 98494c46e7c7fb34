package evbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.core.{Qc, Readers, Writers}
import graft.parsers.Pipelines

/** Wall time and process CPU seconds (less JIT compilation) of one pass,
  * and the live heap (MB) it left.
  */
final case class PassTime(wall: Interval, cpu: Double, heapMb: Double)

/** One benchmark run of one workload (see [[Main]]). */
final class Run(spark: SparkSession, w: Workload, o: Main.Opts, session: Interval) {

  private val StageRepeats = 3
  private val MinPasses = 3
  private val tracer = new Tracer(spark, o.trace)
  private val process = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Process CPU nanoseconds less the JIT compiler threads'. A run lasts
    * well under a minute, so the compiler is still busy in the steady
    * passes (several CPU seconds per pass, falling from pass to pass);
    * left in, it would swamp the program's own CPU. Everything else stays
    * in: task and driver threads, Spark's scheduler and result threads,
    * any thread pool the program starts, and young collections. The
    * compiler threads' CPU comes from Linux's per-thread `stat` (clock
    * ticks of 10 ms); the JVM keeps them alive for the whole run
    * (`-XX:-UseDynamicNumberOfCompilerThreads`), so none of their CPU is
    * lost with an exited thread.
    */
  private def cpuNs(): Long = process.getProcessCpuTime - compilerCpuNs()

  private def compilerCpuNs(): Long = {
    val ticks = Option(new File("/proc/self/task").listFiles()).getOrElse(Array.empty[File]).iterator.map { t =>
      try {
        val comm = new String(java.nio.file.Files.readAllBytes(new File(t, "comm").toPath)).trim
        if (!comm.matches("C[12] CompilerThre.*")) 0L
        else {
          val stat = new String(java.nio.file.Files.readAllBytes(new File(t, "stat").toPath))
          // Fields after the command name: state is field 3, utime 14, stime 15.
          val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
          f(11).toLong + f(12).toLong
        }
      } catch { case _: java.io.IOException => 0L } // the thread exited while being read
    }.sum
    ticks * 10000000L
  }

  /** Runs a full collection and returns the heap still in use (MB): the
    * live data, without the eden and uncollected old generation whose
    * size only GC sizing sets.
    */
  private def liveHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  /** Items with any failure: a thrown error or contract violation in any
    * pass, or an output that fails its check. Each item counts once.
    */
  private val failedItems = mutable.LinkedHashSet.empty[String]
  private var violations = 0L
  private def fail(item: String, what: String): Unit = {
    failedItems += item
    System.err.println(s"[evbench] FAIL $item: $what")
  }

  private def sp[T](traced: Boolean, name: String, item: String)(body: => T): T =
    if (traced) tracer.span(name, item)(body) else body

  private def readInputs(item: PipeItem, traced: Boolean): Map[String, DataFrame] =
    item.inputs.map { case (k, path) =>
      k -> sp(traced, "Readers.readPath", item.name)(Readers.readPath(spark, path))
    }.toMap

  /** The registry as `graft.Bench` sees it: the oracle-gated queries plus
    * the forced-tier bench probes.
    */
  private lazy val registry = SparkEntry.queries ++ SparkEntry.benchProbes

  private def outFile(kind: String, item: Item): String = s"${o.work}/out/$kind/${item.name}.json.gz"

  /** Runs one item; a thrown error or contract violation counts as failed. */
  private def runItem(item: Item, kind: String, dir: String, traced: Boolean): Unit = {
    val t0 = System.nanoTime()
    try sp(traced, "item", item.name) {
      item match {
        case p: PipeItem =>
          val in = readInputs(p, traced)
          sp(traced, "Pipelines.runToFile", p.name)(Pipelines.runToFile(spark, p.name, in, outFile(kind, p)))
        case q: QueryItem =>
          val df = sp(traced, "SparkEntry.build", q.name)(registry(q.name)(spark, dir))
          sp(traced, "SparkEntry.exec", q.name)(df.write.format("noop").mode("overwrite").save())
      }
    } catch {
      case e: Qc.QcException =>
        violations += math.max(1L, "=(\\d+)".r.findAllMatchIn(e.getMessage).map(_.group(1).toLong).sum)
        fail(item.name, e.toString)
      case NonFatal(e) => fail(item.name, e.toString)
    }
    itemSeconds(item.name) = itemSeconds.getOrElse(item.name, Vector.empty) :+ (System.nanoTime() - t0) / 1e9
  }

  /** Seconds of each item in every pass so far, for the run log. */
  private val itemSeconds = mutable.LinkedHashMap.empty[String, Vector[Double]]

  private def itemLog(what: String, f: Vector[Double] => Double): Unit =
    System.err.println(s"[evbench] $what: " + itemSeconds.map { case (k, v) => f"$k=${f(v)}%.2f" }.mkString(" "))

  private def pass(items: Seq[Item], kind: String, dir: String, traced: Boolean): PassTime = {
    val c0 = cpuNs()
    val (_, wall) = Interval.of(items.foreach(runItem(_, kind, dir, traced)))
    val cpu = (cpuNs() - c0) / 1e9
    // Outside the timing: every pass starts from the same old generation.
    PassTime(wall, cpu, liveHeapMb())
  }

  /** Untimed layer split of each pipeline item: the parser output run to
    * a noop sink, and the K1 sink without the contract.
    */
  private def decompose(items: Seq[Item]): Unit = items.foreach {
    case p: PipeItem =>
      try {
        val in = readInputs(p, traced = false)
        val pipeline = Pipelines.byName(p.name)
        val df = tracer.span("Pipelines.run", p.name)(pipeline.run(spark, in))
        tracer.span("parsers.exec", p.name)(df.write.format("noop").mode("overwrite").save())
        tracer.span("Writers.writeJsonGzSingle", p.name)(
          Writers.writeJsonGzSingle(pipeline.run(spark, in), outFile("k1", p), None))
      } catch { case NonFatal(e) => fail(p.name, s"layer split: $e") }
    case _: QueryItem => ()
  }

  def execute(): String = {
    val work = new File(o.work)
    Inputs.deleteRecursively(work)
    work.mkdirs()
    // Set-up, repeated: the median staging time enters setup_s, and every
    // repeat must leave byte-identical inputs.
    val stagings = (0 until StageRepeats).map { i =>
      val dir = s"${o.work}/stage$i"
      val (st, t) = Interval.of(w.stage(o.seed, dir, 1.0))
      (t, st, Inputs.digest(st.paths), dir)
    }
    val inputDigests = stagings.map(_._3).distinct
    if (inputDigests.size != 1)
      stagings.head._2.items.foreach(i => fail(i.name, s"staging the same seed gave different inputs: ${inputDigests.mkString(", ")}"))
    stagings.drop(1).foreach(s => Inputs.deleteRecursively(new File(s._4)))
    val (_, staged, inputDigest, dir) = stagings.head
    // Bench-style warm-up: absorbs Spark's one-time start-up (first job,
    // code generator) so that the first pass measures the pipelines' own
    // cold cost.
    val (_, warm) = Interval.of(spark.range(1000).selectExpr("sum(id)").collect())
    val setupS = session.seconds + Stat.median(stagings.map(_._1.seconds)) + warm.seconds
    System.err.println(s"[evbench] session $session, staging ${stagings.map(_._1).mkString(", ")}, warm-up $warm")
    val items = staged.items
    liveHeapMb() // the first pass, too, starts after a full collection

    val first = pass(items, "steady", dir, traced = false)
    itemLog("first pass items", _.head)
    val steady = mutable.ArrayBuffer.empty[PassTime]
    val traced = mutable.ArrayBuffer.empty[(PassTime, Int, Map[String, Double])]
    // Untraced passes fill the window; a traced run gives a third of it to
    // untraced passes (the overhead baseline) and the rest to traced ones.
    val untracedShare = if (o.trace) 1.0 / 3 else 1.0
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    val minSteady = if (o.trace) 2 else MinPasses
    while (steady.size < minSteady || elapsed < o.seconds * untracedShare)
      steady += pass(items, "steady", dir, traced = false)
    if (o.trace) {
      val t1 = System.nanoTime()
      while (traced.size < 2 || (System.nanoTime() - t1) / 1e9 < o.seconds * (1 - untracedShare)) {
        tracer.drain(); tracer.takePhases()
        val firstSpan = tracer.spans.size
        val pt = pass(items, "traced", dir, traced = true)
        tracer.drain()
        traced += ((pt, firstSpan, tracer.takePhases()))
        decompose(items)
      }
      tracer.drain()
    }

    val checkT0 = System.nanoTime()
    val checked = check(items, dir, Seq("steady") ++ (if (o.trace) Seq("traced") else Nil))
    val attempted = items.size
    val failed = items.count(i => failedItems(i.name))
    System.err.println(f"[evbench] first pass ${first.wall}, checks ${(System.nanoTime() - checkT0) / 1e9}%.2f s")
    val metrics: Seq[(String, Double)] =
      if (!o.trace) {
        val wall = Stat.median(steady.map(_.wall.seconds).toSeq)
        Seq(
          "setup_s" -> setupS,
          "first_pass_s" -> first.wall.seconds,
          "wall_s" -> wall,
          "rows_per_s" -> staged.inputRows / wall,
          "cpu_s" -> Stat.median(steady.map(_.cpu).toSeq),
          "peak_heap_mb" -> steady.map(_.heapMb).max,
          "out_bytes_per_row" -> outBytesPerRow(items, checked),
          "ok_ratio" -> (attempted - failed).toDouble / attempted,
        )
      } else layerMetrics(items, steady.toSeq, traced.toSeq, checked)
    if (o.trace) writeTrace()
    tracer.close()
    val steadyLog = steady.map(p => f"${p.wall.seconds}%.3f/${p.wall.raw}%.3f/${p.cpu}%.2f/${p.heapMb}%.0f").mkString(",")
    itemLog("median item seconds", v => Stat.median(v.drop(2)))
    System.err.println(s"[evbench] ${w.name} seed=${o.seed} inputs=$inputDigest passes=${steady.size} wall/raw/cpu/heap=$steadyLog")
    val correct = failed == 0 && attempted > 0
    val m = metrics.map { case (k, v) => s""""$k":${num(v)}""" }.mkString(",")
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{$m}}"""
  }

  private def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString

  /** Gzip bytes per evidence row over the pipelines' checked files. */
  private def outBytesPerRow(items: Seq[Item], checked: Map[String, Checked]): Double = {
    val files = items.collect { case p: PipeItem => p.name }.flatMap(checked.get)
    val rows = files.map(_.rows).sum
    if (rows > 0) files.map(_.bytes).sum.toDouble / rows else 0.0
  }

  /** Per item: rows and bytes of the checked evidence file. */
  final case class Checked(rows: Long, bytes: Long)

  /** Checks every output. A pipeline's evidence file must be the one file
    * the sink left, with the same lines (count and order-insensitive
    * digest) as the parser output serialised a second way (`toJSON` over
    * the pipeline's `run`). A registry query's rows must match the digest
    * recorded for it in `registry_expected.tsv`; the failure message
    * prints the digest it got. Each mismatch counts as a failed item.
    */
  private def check(items: Seq[Item], dir: String, kinds: Seq[String]): Map[String, Checked] = {
    val expectedFile = new File("evbench/registry_expected.tsv")
    val recorded: Map[String, Digest] =
      if (!expectedFile.isFile) Map.empty
      else scala.io.Source.fromFile(expectedFile).getLines().filter(_.nonEmpty).map { l =>
        val Array(q, d) = l.split("\t", 2)
        q -> Digest.parse(d)
      }.toMap
    // (item, checked, problems): items are checked concurrently, since
    // most check jobs are single-task reads of one gzip file.
    def checkOne(item: Item): (String, Option[Checked], Seq[String]) = item match {
      case p: PipeItem =>
        try {
          val expected = Digest.ofRows(Pipelines.byName(p.name).run(spark, readInputs(p, traced = false)))
          val bad = kinds.filterNot { kind =>
            val f = new File(outFile(kind, p))
            f.isFile && !new File(f.getPath + "_tmp").exists() && Digest.ofFile(spark, f.getPath) == expected
          }
          (p.name, Some(Checked(expected.lines, new File(outFile("steady", p)).length())),
            bad.map(k => s"$k pass: output differs from the parser's rows"))
        } catch { case NonFatal(e) => (p.name, None, Seq(s"check failed: $e")) }
      case q: QueryItem =>
        try {
          val got = Digest.ofRows(registry(q.name)(spark, dir))
          val bad =
            if (recorded.get(q.name).contains(got)) Nil
            else Seq(s"rows $got, recorded ${recorded.get(q.name).map(_.toString).getOrElse("none")}")
          (q.name, Some(Checked(got.lines, 0L)), bad)
        } catch { case NonFatal(e) => (q.name, None, Seq(s"check failed: $e")) }
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(o.cores)
    val results =
      try {
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
        Await.result(Future.sequence(items.map(i => Future(checkOne(i)))), Duration.Inf)
      } finally pool.shutdown()
    results.foreach { case (name, _, problems) => problems.foreach(fail(name, _)) }
    results.collect { case (name, Some(c), _) => name -> c }.toMap
  }

  /** Per-layer metrics from the traced passes (medians over passes). */
  private def layerMetrics(
      items: Seq[Item],
      untraced: Seq[PassTime],
      traced: Seq[(PassTime, Int, Map[String, Double])],
      checked: Map[String, Checked],
  ): Seq[(String, Double)] = {
    val spans = tracer.spans.toSeq
    // Spans of traced pass i: from its first span to the next pass's first.
    val bounds = traced.map(_._2) :+ spans.size
    def inPass(i: Int): Seq[Span] = spans.slice(bounds(i), bounds(i + 1))
    def med(f: Int => Double): Double = Stat.median(traced.indices.map(f))
    def secs(i: Int, name: String, item: String = null): Double =
      inPass(i).filter(s => s.name == name && (item == null || s.item == item)).map(_.seconds).sum
    def jobs(i: Int, name: String): Double =
      inPass(i).filter(_.name == name).map(s => tracer.countsUnder(s.id).map(_.jobs).sum).sum.toDouble
    val pipes = items.collect { case p: PipeItem => p.name }
    def sinkS(i: Int, p: String) = secs(i, "Writers.writeJsonGzSingle", p) - secs(i, "parsers.exec", p)

    val stageMetrics: Seq[(String, Double)] = {
      def itemCounts(i: Int) = inPass(i).filter(_.name == "item").flatMap(s => tracer.countsUnder(s.id))
      def sumOf(i: Int, f: SpanCounts => Long) = itemCounts(i).map(f).sum.toDouble
      // Raw wall time: task busy time, too, includes what the host stole.
      def wall(i: Int) = traced(i)._1.wall.raw
      Seq(
        "stages.jobs" -> med(sumOf(_, _.jobs)),
        "stages.tasks" -> med(sumOf(_, _.tasks)),
        "stages.active_s" -> med(i => tracer.activeSeconds(itemCounts(i))),
        "stages.task_busy_s" -> med(sumOf(_, _.taskBusyMs) / 1000.0),
        "stages.core_util" -> med(i => sumOf(i, _.taskBusyMs) / 1000.0 / (wall(i) * o.cores)),
        "stages.driver_residual_s" -> med(i => wall(i) - tracer.activeSeconds(itemCounts(i))),
        "stages.shuffle_write_mb" -> med(sumOf(_, _.shuffleWriteBytes) / (1024.0 * 1024.0)),
        "stages.spill_mb" -> med(sumOf(_, _.spillBytes) / (1024.0 * 1024.0)),
        "stages.gc_s" -> med(sumOf(_, _.gcMs) / 1000.0),
        "catalyst.analysis_s" -> med(traced(_)._3.getOrElse("analysis", 0.0)),
        "catalyst.optimizer_s" -> med(traced(_)._3.getOrElse("optimization", 0.0)),
        "catalyst.planning_s" -> med(traced(_)._3.getOrElse("planning", 0.0)),
      )
    }
    val k1Tasks = med(i => inPass(i).filter(_.name == "Writers.writeJsonGzSingle")
      .map(s => tracer.countsUnder(s.id).filter(_.lastStageId >= 0).map(_.lastStageTasks).maxOption.getOrElse(0L)).sum.toDouble)
    val rowsOut = pipes.flatMap(checked.get).map(_.rows).sum.toDouble
    val outBytes = pipes.flatMap(checked.get).map(_.bytes).sum.toDouble
    val untracedWall = Stat.median(untraced.map(_.wall.seconds))
    val tracedWall = Stat.median(traced.map(_._1.wall.seconds))
    Seq(
      "Readers.read_s" -> med(secs(_, "Readers.readPath")),
      "Readers.jobs" -> med(jobs(_, "Readers.readPath")),
      "parsers.build_s" -> med(secs(_, "Pipelines.run")),
      "parsers.exec_s" -> med(secs(_, "parsers.exec")),
      "Pipelines.runToFile_s" -> med(secs(_, "Pipelines.runToFile")),
      "Writers.k1_s" -> med(secs(_, "Writers.writeJsonGzSingle")),
      "Writers.sink_s" -> med(i => pipes.map(sinkS(i, _)).sum),
      "Writers.sink_share" -> med(i => {
        val total = secs(i, "Pipelines.runToFile")
        if (total > 0) pipes.map(sinkS(i, _)).sum / total else 0.0
      }),
      // One K1 sink call per pipeline item; registry items go to noop.
      "Writers.calls" -> med(i => inPass(i).count(_.name == "Pipelines.runToFile").toDouble),
      "Writers.final_stage_tasks" -> k1Tasks,
      "Writers.rows_out" -> rowsOut,
      "Writers.out_bytes" -> outBytes,
      "Writers.out_bytes_per_row" -> outBytesPerRow(items, checked),
      "Qc.contract_s" -> med(i => secs(i, "Pipelines.runToFile") - secs(i, "Writers.writeJsonGzSingle")),
      "Qc.violations" -> violations.toDouble,
      "SparkEntry.build_s" -> med(secs(_, "SparkEntry.build")),
      "SparkEntry.build_jobs" -> med(jobs(_, "SparkEntry.build")),
      "SparkEntry.exec_s" -> med(secs(_, "SparkEntry.exec")),
    ) ++ stageMetrics ++ Seq(
      "trace.wall_untraced_s" -> untracedWall,
      "trace.wall_traced_s" -> tracedWall,
      "trace.overhead_s" -> (tracedWall - untracedWall),
    ) ++ pipelineNames.flatMap { p =>
        Seq(s"$p.runToFile_s" -> med(secs(_, "Pipelines.runToFile", p)), s"$p.sink_s" -> med(sinkS(_, p)))
      } ++
      Workload.registryQueries.flatMap { q =>
        Seq(s"SparkEntry.build_s.$q" -> med(secs(_, "SparkEntry.build", q)),
          s"SparkEntry.exec_s.$q" -> med(secs(_, "SparkEntry.exec", q)))
      }
  }

  /** Every pipeline item of every workload, so each run prints the same
    * per-layer metric names (zero where a workload has no such item).
    */
  private def pipelineNames: Seq[String] =
    Seq("cancer_biomarkers", "crispr_brain", "baseline_expression", "panelapp", "encore", "genebass")

  private def writeTrace(): Unit = {
    val f = new File(s"${o.work}/trace.jsonl")
    val pw = new java.io.PrintWriter(f)
    try {
      tracer.spansJson.foreach(pw.println)
      // Self time per layer, summed over every span of that name.
      tracer.spans.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (name, ss) =>
        pw.println(f"""{"layer":"$name","spans":${ss.size},"total_s":${ss.map(_.seconds).sum},"self_s":${ss.map(tracer.selfSeconds).sum}}""")
      }
    } finally pw.close()
  }
}
