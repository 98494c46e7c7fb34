package evbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer of the program. Spans of one item share
  * `item`; `parent` is the enclosing span (-1 for a pass).
  */
final case class Span(id: Int, parent: Int, name: String, item: String, start: Long, var end: Long = 0L) {
  def seconds: Double = (end - start) / 1e9
}

/** Counters that the Spark listener attributes to the span whose id the
  * submitting thread carried as a job property.
  */
final class SpanCounts {
  var jobs = 0L
  var tasks = 0L
  var taskBusyMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var lastStageId = -1
  var lastStageTasks = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** In-memory span recorder plus the listeners behind the `stages.*` and
  * `catalyst.*` metrics. With tracing off every call is a plain
  * pass-through and no listener is registered.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val Prop = "evbench.span"
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private val counts = mutable.HashMap.empty[Int, SpanCounts]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val jobStart = mutable.HashMap.empty[Int, (Int, Long)]
  /** Catalyst phase milliseconds summed since the last [[takePhases]]. */
  private val phases = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)

  private def countsOf(span: Int): SpanCounts = counts.getOrElseUpdate(span, new SpanCounts)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(Prop))).map(_.toInt).getOrElse(-1)
      countsOf(span).jobs += 1
      e.stageIds.foreach(stageSpan(_) = span)
      jobStart(e.jobId) = (span, e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobStart.remove(e.jobId).foreach { case (span, t0) => countsOf(span).jobIntervals += ((t0, e.time)) }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val info = e.stageInfo
      val c = countsOf(stageSpan.getOrElse(info.stageId, -1))
      c.tasks += info.numTasks
      if (info.stageId > c.lastStageId) { c.lastStageId = info.stageId; c.lastStageTasks = info.numTasks }
      Option(info.taskMetrics).foreach { m =>
        c.taskBusyMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Tracer.this.synchronized {
        qe.tracker.phases.foreach { case (phase, summary) => phases(phase) += summary.durationMs }
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Runs `body` inside a span named `name`; spans nest. */
  def span[T](name: String, item: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, open.headOption.getOrElse(-1), name, item, System.nanoTime())
      spans += s
      open = s.id :: open
      spark.sparkContext.setLocalProperty(Prop, s.id.toString)
      try body
      finally {
        s.end = System.nanoTime()
        open = open.tail
        spark.sparkContext.setLocalProperty(Prop, open.headOption.map(_.toString).orNull)
      }
    }

  /** Waits until every queued listener event has been delivered. */
  def drain(): Unit = if (enabled) org.apache.spark.sql.GraftShim.drainListenerBus(spark)

  /** Catalyst phase seconds (analysis, optimization, planning) since the
    * previous call; call after [[drain]].
    */
  def takePhases(): Map[String, Double] = synchronized {
    val out = phases.toMap.map { case (k, ms) => k -> ms / 1000.0 }
    phases.clear()
    out
  }

  /** Listener counters of `span` and of every span nested in it. */
  def countsUnder(span: Int): Seq[SpanCounts] = synchronized {
    val ids = descendants(span) + span
    ids.toSeq.flatMap(counts.get)
  }

  def descendants(span: Int): Set[Int] = {
    val kids = spans.filter(_.parent == span).map(_.id)
    kids.toSet ++ kids.flatMap(descendants)
  }

  /** A span's duration minus the time its direct children cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum

  /** Seconds during which at least one job of the given spans ran. */
  def activeSeconds(cs: Seq[SpanCounts]): Double = {
    val iv = cs.flatMap(_.jobIntervals).sortBy(_._1)
    var total = 0L
    var (cur0, cur1) = (-1L, -1L)
    iv.foreach { case (a, b) =>
      if (a > cur1) { if (cur1 >= 0) total += cur1 - cur0; cur0 = a; cur1 = b }
      else cur1 = math.max(cur1, b)
    }
    if (cur1 >= 0) total += cur1 - cur0
    total / 1000.0
  }

  def close(): Unit = if (enabled) {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Spans as JSON lines, with each span's self time. */
  def spansJson: Seq[String] = spans.toSeq.map { s =>
    f"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","item":"${s.item}","start_ns":${s.start},"end_ns":${s.end},"self_s":${selfSeconds(s)}}"""
  }
}
