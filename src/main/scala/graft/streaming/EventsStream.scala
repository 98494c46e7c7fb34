package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming ingest for the `events` table (stretch scope —
  * SURVEY.md §2.11: the reference has no streaming; this is the
  * beyond-reference path a training-data pipeline needs for continuous
  * ingest).
  *
  * Scale notes: watermark + tumbling window keeps state bounded; the
  * aggregation is keyed on (window, event_type) so state partitions across
  * executors; `maxFilesPerTrigger` paces file-source backfills.
  */
object EventsStream {

  /** events.parquet schema: ts is parquet TIMESTAMP(µs), naive →
    * TIMESTAMP_NTZ on read.
    */
  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampNTZType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType),
  ))

  /** Watermark/window columns must be TIMESTAMP (LTZ); with the UTC
    * session timezone every engine session runs, the NTZ→LTZ cast is a
    * value-preserving relabel of the stored micros.
    */
  def withEventTime(df: DataFrame): DataFrame =
    df.withColumn("event_time", col("ts").cast("timestamp"))

  /** File-source stream over a directory of events parquet. */
  def readEvents(spark: SparkSession, dir: String, maxFilesPerTrigger: Int = 1): DataFrame =
    withEventTime(
      spark.readStream
        .schema(eventsSchema)
        .option("maxFilesPerTrigger", maxFilesPerTrigger)
        .parquet(dir))

  /** Tumbling-window counts/sums per event type with a watermark for
    * bounded state and late-data discard.
    */
  def windowedCounts(events: DataFrame, windowLen: String = "5 minutes", watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("event_time", watermark)
      .groupBy(window(col("event_time"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n"), col("total_value"),
      )

  /** Streaming exact dedup: drop rows whose key was already seen within
    * the watermark horizon (`dropDuplicatesWithinWatermark`) — state
    * expires with the watermark, so it stays bounded on an infinite
    * stream. The continuous-ingest face of `core.Dedup.exactTextDedup`:
    * dedup re-delivered events/documents by id or content fingerprint.
    */
  def dedupedEvents(
      events: DataFrame,
      keys: Seq[String] = Seq("event_id"),
      watermark: String = "10 minutes",
  ): DataFrame =
    events
      .withWatermark("event_time", watermark)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  /** Session windows: activity bursts per user separated by `gap` of
    * silence (native `session_window`, state bounded by the watermark).
    */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes", watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("event_time", watermark)
      .groupBy(session_window(col("event_time"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("session_value"))
      .select(
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("session_value"),
      )

  /** Stream-stream join: per-user conversion pairs — a later event of
    * `toType` joined to an earlier event of `fromType` within
    * `window`. Both sides carry watermarks and the join condition bounds
    * the event-time distance, so each side's state is droppable once the
    * watermark passes (the canonical bounded-state stream-stream join).
    */
  def conversions(
      events: DataFrame,
      fromType: String,
      toType: String,
      window: String = "30 minutes",
      watermark: String = "1 hour",
  ): DataFrame = {
    val a = events
      .filter(col("event_type") === fromType)
      .select(col("user_id"), col("event_time").as("from_time"), col("event_id").as("from_id"))
      .withWatermark("from_time", watermark)
    val b = events
      .filter(col("event_type") === toType)
      .select(col("user_id").as("user_id_b"), col("event_time").as("to_time"), col("event_id").as("to_id"))
      .withWatermark("to_time", watermark)
    a.join(
      b,
      col("user_id") === col("user_id_b") &&
        col("to_time") >= col("from_time") &&
        col("to_time") <= col("from_time") + expr(s"INTERVAL $window"),
    ).select("user_id", "from_id", "to_id", "from_time", "to_time")
  }

  case class UserEvent(user_id: Long, event_time: java.sql.Timestamp, value: Double)
  case class UserSession(user_id: Long, n_events: Long, total_value: Double)

  /** Custom stateful aggregation: running per-user totals via
    * mapGroupsWithState (the KeyValueGroupedDataset state API).
    */
  def userRunningTotals(events: DataFrame)(implicit spark: SparkSession): Dataset[UserSession] = {
    import spark.implicits._
    events
      .select(col("user_id"), col("event_time"), col("value"))
      .as[UserEvent]
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserSession, UserSession](GroupStateTimeout.NoTimeout()) {
        case (uid, batch, state: GroupState[UserSession]) =>
          val prev = state.getOption.getOrElse(UserSession(uid, 0L, 0.0))
          val (n, v) = batch.foldLeft((prev.n_events, prev.total_value)) {
            case ((cn, cv), e) => (cn + 1, cv + e.value)
          }
          val next = UserSession(uid, n, v)
          state.update(next)
          next
      }
  }

  case class SessionEvent(user_id: Long, ts: Long, event_time: java.sql.Timestamp)
  case class SessionState(startNs: Long, lastNs: Long, n: Long)

  /** One closed session per (user, interval). OVERLAP CONTRACT: because
    * early orphan intervals are emitted as soon as a batch closes them,
    * a later in-watermark batch carrying a bridge event can produce a
    * SECOND session for the same user whose [start,end] overlaps (and
    * subsumes) an earlier emission. Downstream consumers must reconcile
    * per user with last-write-wins on overlapping intervals — e.g. keep
    * only sessions not contained in a later session's span, or re-merge
    * intervals per user in the sink. Sessions that never receive a
    * bridge are emitted exactly once.
    */
  case class CompletedSession(user_id: Long, session_start_ns: Long, session_end_ns: Long, n_events: Long)

  /** Completed-session emission via flatMapGroupsWithState: a session is
    * emitted when the next event arrives after more than `gap` of silence
    * (data-driven close) or when the event-time watermark passes the
    * session's timeout (state expiry close). Hand-rolled counterpart of
    * [[sessionCounts]]' native session_window for when the per-session
    * output needs custom shape/logic; state is one small record per
    * active user, expired by the timeout — bounded on an infinite stream.
    */
  def completedSessions(
      events: DataFrame,
      gapNs: Long = 30L * 60 * 1000000000L,
      watermark: String = "1 hour",
  )(implicit spark: SparkSession): Dataset[CompletedSession] = {
    import spark.implicits._
    events
      // SessionState's gap arithmetic is integer epoch-nanos (the engine
      // event-time convention); derive it from the watermark column.
      .select(col("user_id"), (unix_micros(col("event_time")) * 1000).as("ts"),
        col("event_time"))
      .withWatermark("event_time", watermark)
      .as[SessionEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, CompletedSession](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (uid, batch, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(CompletedSession(uid, s.startNs, s.lastNs, s.n))
          } else {
            // Interval-merge sessionization: sessionize the batch's
            // events standalone, merge the resulting intervals with the
            // state's open session, close everything but the last.
            // Handles forward gaps, late events that chain a session
            // backwards, and late orphans merging with EACH OTHER — a
            // naive per-event fold mis-splits when a batch carries both
            // a far-late event and its bridge. (Remaining approximation,
            // inherent to emit-on-close: a closed-and-emitted session
            // cannot absorb an even-later bridge from a FUTURE batch.)
            val batchIvs = scala.collection.mutable.ListBuffer.empty[SessionState]
            batch.toSeq.sortBy(_.ts).foreach { e =>
              batchIvs.lastOption match {
                case Some(s) if e.ts - s.lastNs <= gapNs =>
                  batchIvs(batchIvs.length - 1) =
                    SessionState(s.startNs, math.max(s.lastNs, e.ts), s.n + 1)
                case _ => batchIvs += SessionState(e.ts, e.ts, 1)
              }
            }
            val merged = scala.collection.mutable.ListBuffer.empty[SessionState]
            (state.getOption.toSeq ++ batchIvs).sortBy(_.startNs).foreach { s =>
              merged.lastOption match {
                case Some(p) if s.startNs - p.lastNs <= gapNs =>
                  merged(merged.length - 1) = SessionState(
                    math.min(p.startNs, s.startNs), math.max(p.lastNs, s.lastNs), p.n + s.n)
                case _ => merged += s
              }
            }
            val cur = merged.last
            state.update(cur)
            // Close the session once the watermark passes last-event +
            // gap — clamped above the current watermark: with bursty
            // sources the watermark can already be past the target
            // (e.g. out-of-order file backfill), and Spark rejects
            // timeouts at or below it.
            val target = cur.lastNs / 1000000L + gapNs / 1000000L
            state.setTimeoutTimestamp(math.max(target, state.getCurrentWatermarkMs + 1))
            merged.init.map(s => CompletedSession(uid, s.startNs, s.lastNs, s.n)).iterator
          }
      }
  }

  /** Streaming as-of enrichment against a time-versioned static dimension
    * (slowly-changing-dimension lookup): each event picks the latest
    * dimension version with version_ts ≤ event ts.
    *
    * Shape: the dimension is pre-aggregated to ONE row per key holding its
    * time-sorted version history as an array, then broadcast-joined to the
    * stream; a higher-order filter + element_at(-1) picks the as-of
    * version inside a pure projection. No stateful operator, no watermark
    * bookkeeping, no per-event shuffle — the canonical stream×static
    * enrichment, and the streaming face of core.AsOf.asOfJoin (which
    * handles the big-big batch case via union+window).
    *
    * Scale: dimension history must fit the broadcast budget (it is the
    * per-key HISTORY, not the fact stream — the usual SCD case). A
    * too-big dimension falls back to the batch formulation per
    * micro-batch via forEachBatch.
    *
    * @param dim static DataFrame with columns (key, versionTs, payload)
    * @return stream columns + `payload` (null when no version ≤ ts exists)
    */
  def asOfEnrich(
      stream: DataFrame,
      dim: DataFrame,
      streamKey: String,
      streamTimeNs: String,
      dimKey: String,
      dimTimeNs: String,
      payload: String,
  ): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val reserved = Set("_dk", "_hist", "_eligible", payload)
    val clash = stream.columns.filter(reserved)
    require(clash.isEmpty,
      s"stream columns collide with asOfEnrich internals/payload: ${clash.mkString(",")}")
    val hist = dim
      .groupBy(col(dimKey).as("_dk"))
      .agg(sort_array(collect_list(struct(col(dimTimeNs).as("_vt"), col(payload)))).as("_hist"))
    stream
      .join(broadcast(hist), col(streamKey) === col("_dk"), "left")
      .withColumn("_eligible", filter(col("_hist"), v => v("_vt") <= col(streamTimeNs)))
      // when-guard: ANSI mode throws on element_at over an empty array
      // (no eligible version, or no history at all → size(null) = -1).
      .withColumn(payload,
        when(size(col("_eligible")) > 0, element_at(col("_eligible"), -1)(payload)))
      .drop("_dk", "_hist", "_eligible")
  }

  /** Streaming SCD2 maintenance: fold each micro-batch of change events
    * into a standing dimension table via
    * [[graft.core.Scd.scd2Increment]] — the mutable-store member of the
    * streaming maintenance family (bm25IndexAppender appends immutable
    * rows; an SCD2 fold must CLOSE affected live rows, so each batch
    * writes a whole new table version, the parquet analogue of a
    * MERGE-capable table format's row-level upsert, which is what this
    * becomes at 100 TB).
    *
    * REPLAY SAFETY: the table rides the versioned layout of the other
    * stateful appenders. It is REPLACE-state: a batch folds into the
    * newest version strictly below its own id (a plain
    * [[graft.core.Scd.scd2]] build when there is none) and overwrites
    * its own `tablePath/batch=<id>`. A re-executed batch therefore
    * refolds into exactly the table it saw the first time — never into
    * one that already holds it, which would break scd2Increment's
    * append-only precondition — and a failed write leaves the previous
    * version in place. [[scd2Table]] reads the current table; to
    * continue a table built elsewhere, write it as `tablePath/batch=-1`.
    * Micro-batch boundaries are invisible under the append-only CDC
    * contract (StreamingSpec pins stream-folded ≡ one-shot build, also
    * across a replay).
    */
  def scd2Appender(
      events: DataFrame,
      tablePath: String,
      checkpointPath: String,
      key: Column,
      attr: Column,
      ts: Column,
      tiebreak: Column,
  ): StreamingQuery =
    DocsStream.docsStreamForeach(events, checkpointPath) { (batch, batchId) =>
      val spark = batch.sparkSession
      val versions = DocsStream.stateVersionsBelow(spark, tablePath, batchId)
      val folded =
        if (versions.isEmpty) graft.core.Scd.scd2(batch, key, attr, ts, tiebreak)
        else graft.core.Scd.scd2Increment(
          spark.read.parquet(s"$tablePath/batch=${versions.max}"), batch, key, attr, ts, tiebreak)
      folded.write.mode("overwrite").parquet(s"$tablePath/batch=$batchId")
    }

  /** The current dimension table of [[scd2Appender]]: its newest version. */
  def scd2Table(spark: SparkSession, tablePath: String): DataFrame = {
    val versions = DocsStream.stateVersionsBelow(spark, tablePath, Long.MaxValue)
    require(versions.nonEmpty, s"no SCD2 table version under $tablePath")
    spark.read.parquet(s"$tablePath/batch=${versions.max}")
  }

  /** Streaming record-linkage serving: each micro-batch of dirty
    * records fuzzy-matches against a STATIC clean roster through
    * [[graft.core.Linkage.bestMatch]] (blocked JaroWinkler + per-probe
    * argmax) and appends its matches — the serve-side complement of
    * q_entity_match's batch formulation. The roster is a static
    * DataFrame captured by the closure: per batch it joins on the
    * blocking key, so the streaming side never holds linkage state
    * (StreamingSpec pins streamed matches ≡ one batch call).
    */
  def linkageServe(
      probes: DataFrame,
      roster: DataFrame,
      outPath: String,
      checkpointPath: String,
      probeId: String,
      probeName: String,
      rosterId: String,
      rosterName: String,
      blockLen: Int = 4,
      minSim: Double = 0.85,
  ): StreamingQuery =
    DocsStream.docsStreamForeach(probes, checkpointPath) { (batch, _) =>
      graft.core.Linkage
        .bestMatch(batch, probeId, probeName, roster, rosterId, rosterName, blockLen, minSim)
        .write.mode("append").parquet(outPath)
    }

  /** STANDING FREQUENT-SEQUENCE MINING: fold each micro-batch into
    * [[graft.core.SeqMine]]'s session-pattern supports without ever
    * rescanning history. The batch unions the standing OPEN-EVENTS
    * buffer with the new events, sessionizes (the exact batch stage),
    * CLOSES every session that can no longer grow, mines the closed
    * sessions with the identical per-session pattern stage, and writes
    * (a) the closed sessions' (pattern, k, support) delta and (b) the
    * surviving open events back to the buffer. Support totals are the
    * SUM over delta versions ([[seqSupports]]); only the final count
    * becomes an incremental fold — per-session existence is computed
    * once, exactly, when the session closes.
    *
    * CLOSURE RULE — a session closes when its last event precedes the
    * batch maximum by MORE THAN 2×gap. Under the bounded-disorder
    * contract (events in later batches carry t ≥ this batch's max − gap,
    * the dedupedDocs within-watermark discipline) that is exact, not
    * heuristic: a future event can only join a session whose last event
    * is within gap of it, i.e. lastT ≥ (maxT − gap) − gap — every such
    * session is still in the buffer, including both sides of any
    * to-be-bridged pair. Sessions still open when the stream pauses are
    * in the buffer, not the results (callers flush by mining the buffer
    * — the StreamingSpec equality does exactly that).
    *
    * REPLAY SAFETY: both sinks ride the versioned layout (r14
    * discipline). The buffer is REPLACE-state — a batch reads the
    * single LATEST version strictly below its id (not the union: each
    * version is the full open set) and overwrites its own `batch=<id>`
    * partition under both paths, so a re-executed batch reads exactly
    * what it read the first time and replaces rather than duplicates.
    *
    * State size = open events only (sessions close after 2×gap of
    * silence), the same bounded tier as the sketch appenders.
    */
  def seqMiningAppender(
      events: DataFrame,
      statePath: String,
      resultsPath: String,
      checkpointPath: String,
      gapUs: Long,
      userCol: String = "user_id",
      tsCol: String = "ts",
      typeCol: String = "event_type",
      tieCol: String = "event_id",
  ): StreamingQuery =
    DocsStream.docsStreamForeach(events, checkpointPath) { (batch0, batchId) =>
      val spark = batch0.sparkSession
      val batch = batch0.select(
        col(userCol).as("u"),
        unix_micros(col(tsCol).cast("timestamp")).as("t"),
        col(typeCol).as("a"), col(tieCol).as("tb"))
      val versions = DocsStream.stateVersionsBelow(spark, statePath, batchId)
      val buffered =
        if (versions.isEmpty) batch.limit(0)
        else spark.read.parquet(s"$statePath/batch=${versions.max}")
      val all = buffered.unionByName(batch)
      val sess = graft.core.SeqMine.sessionize(all, gapUs)
        .localCheckpoint() // three consumers: closure split (semi + anti) + horizon
      // In-plan closure horizon (1-row broadcast, no collected scalar).
      val horizon = sess.agg((max(col("t")) - lit(2L * gapUs)).as("h"))
      val closedKeys = sess.groupBy(col("u"), col("sid"))
        .agg(max(col("t")).as("lastT"))
        .crossJoin(broadcast(horizon))
        .filter(col("lastT") < col("h"))
        .select(col("u"), col("sid"))
      val closed = sess.join(closedKeys, Seq("u", "sid"), "left_semi")
      val open = sess.join(closedKeys, Seq("u", "sid"), "left_anti")
      graft.core.SeqMine.sessionPatterns(closed)
        .groupBy(col("pattern"), col("k"))
        .agg(count(lit(1)).as("support"))
        .write.mode("overwrite").parquet(s"$resultsPath/batch=$batchId")
      open.select(col("u"), col("t"), col("a"), col("tb"))
        .write.mode("overwrite").parquet(s"$statePath/batch=$batchId")
    }

  /** Reader for [[seqMiningAppender]]'s delta versions: total supports
    * with the batch threshold applied at read time.
    */
  def seqSupports(spark: SparkSession, resultsPath: String, minSupport: Long): DataFrame =
    spark.read.parquet(resultsPath)
      .groupBy(col("pattern"), col("k"))
      .agg(sum(col("support")).as("support"))
      .filter(col("support") >= minSupport)

  /** Drive a streaming DataFrame to a named in-memory table and block
    * until the backlog drains — the local smoke harness.
    */
  def runToMemory(df: DataFrame, name: String, outputMode: OutputMode = OutputMode.Append()): StreamingQuery = {
    val q = df.writeStream
      .outputMode(outputMode)
      .format("memory")
      .queryName(name)
      .trigger(Trigger.ProcessingTime("1 second"))
      .start()
    q.processAllAvailable()
    q
  }
}
