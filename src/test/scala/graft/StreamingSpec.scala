package graft

import org.apache.spark.sql.functions._
import graft.streaming.{DocsStream, EventsStream}

class StreamingSpec extends SparkTestBase {
  import spark.implicits._

  /** Synthesized event times are epoch-nanos longs (the engine's event-
    * time convention); the events schema stores TIMESTAMP_NTZ, whose
    * external row type is LocalDateTime. UTC keeps the value identical.
    */
  private def ntz(ns: Long): java.time.LocalDateTime =
    java.time.LocalDateTime.ofInstant(
      java.time.Instant.ofEpochSecond(ns / 1000000000L, ns % 1000000000L),
      java.time.ZoneOffset.UTC)

  test("windowedCounts over streamed events matches batch computation") {
    val dir = tmpDir("stream_in")
    // Stage the events parquet as the stream source directory.
    spark.read.schema(EventsStream.eventsSchema)
      .parquet(s"$sf/events.parquet")
      .limit(2000)
      .write.mode("overwrite").parquet(dir)

    val stream = EventsStream.readEvents(spark, dir, maxFilesPerTrigger = 2)
    val agg = EventsStream.windowedCounts(stream, "5 minutes", "10 minutes")
    val q = EventsStream.runToMemory(agg, "win_counts",
      org.apache.spark.sql.streaming.OutputMode.Append())
    try {
      val streamed = spark.table("win_counts")
        .select("window_start", "event_type", "n")
        .as[(java.sql.Timestamp, String, Long)].collect().toSet

      val batch = EventsStream.withEventTime(
          spark.read.schema(EventsStream.eventsSchema).parquet(dir))
        .groupBy(window($"event_time", "5 minutes"), $"event_type")
        .agg(count(lit(1)).as("n"))
        .select($"window.start", $"event_type", $"n")
        .as[(java.sql.Timestamp, String, Long)].collect().toSet

      // Append mode only emits windows the watermark has closed; every
      // emitted window must match the batch result exactly.
      assert(streamed.nonEmpty, "no windows emitted")
      assert(streamed.subsetOf(batch), s"streamed windows disagree with batch")
    } finally q.stop()
  }

  test("dedupedEvents drops re-delivered rows across micro-batches (bounded state)") {
    val dir = tmpDir("stream_dedup")
    val base = spark.read.schema(EventsStream.eventsSchema)
      .parquet(s"$sf/events.parquet")
      .limit(300)
    // Two files with identical content: the second micro-batch re-delivers
    // every event (at-least-once source behavior).
    base.coalesce(1).write.mode("overwrite").parquet(dir)
    base.coalesce(1).write.mode("append").parquet(dir)

    val stream = EventsStream.readEvents(spark, dir, maxFilesPerTrigger = 1)
    val deduped = EventsStream.dedupedEvents(stream, Seq("event_id"), "10 minutes")
    val q = EventsStream.runToMemory(deduped, "dedup_events",
      org.apache.spark.sql.streaming.OutputMode.Append())
    try {
      val got = spark.table("dedup_events").select("event_id").as[Long].collect()
      assert(got.length == got.distinct.length, "duplicates survived the stream dedup")
      assert(got.length == base.count(), "dedup must keep exactly one copy per event")
    } finally q.stop()
  }

  test("completedSessions emits on data-driven gap across micro-batches (flatMapGroupsWithState)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val dir = tmpDir("stream_sessions")
    def write(part: String, rows: Seq[(Long, Long, Long)]): Unit = {
      val data = rows.map { case (id, ts, uid) => Row(id, ntz(ts), uid, "click", 1.0, "{}") }
      spark.createDataFrame(spark.sparkContext.parallelize(data, 1), EventsStream.eventsSchema)
        .coalesce(1).write.mode("append").parquet(dir)
    }
    val min = 60L * 1000000000L // one minute in nanos
    // Keep the timeline away from epoch 0: the initial watermark is 0, and
    // events at/below it are dropped as late data.
    val base = 1704067200L * 1000000000L // 2024-01-01
    // File 1: user 7 has two events a minute apart (one open session).
    write("a", Seq((1L, base, 7L), (2L, base + 1 * min, 7L)))
    // The file source orders micro-batches by modification time; a tie
    // would let file 2 go first, advance the watermark, and drop file 1
    // as late data.
    Thread.sleep(1500)
    // File 2: user 7 again 2 hours later -> the 30-min gap closes session 1.
    write("b", Seq((3L, base + 120 * min, 7L)))

    val stream = EventsStream.readEvents(spark, dir, maxFilesPerTrigger = 1)
    val sessions = EventsStream.completedSessions(stream)(spark)
    val q = EventsStream.runToMemory(sessions.toDF(), "done_sessions")
    try {
      val got = spark.table("done_sessions")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(got.contains((7L, base, base + 1 * min, 2L)),
        s"first session (2 events, minute 0-1) must be emitted on the gap; got $got")
    } finally q.stop()
  }

  test("completedSessions: a late in-watermark event must not regress the session end") {
    import org.apache.spark.sql.Row
    val dir = tmpDir("stream_sessions_late")
    def write(rows: Seq[(Long, Long, Long)]): Unit = {
      val data = rows.map { case (id, ts, uid) => Row(id, ntz(ts), uid, "click", 1.0, "{}") }
      spark.createDataFrame(spark.sparkContext.parallelize(data, 1), EventsStream.eventsSchema)
        .coalesce(1).write.mode("append").parquet(dir)
      Thread.sleep(1500) // distinct mtimes -> deterministic micro-batch order
    }
    val min = 60L * 1000000000L
    val base = 1704067200L * 1000000000L // 2024-01-01, off epoch 0
    // Batch 1: on-time event at +10min (watermark -> +10min - 1h).
    write(Seq((1L, base + 10 * min, 7L)))
    // Batch 2: LATE event at +0min — above the watermark, so accepted.
    // Overwriting lastNs with it would shrink the session end to +0min.
    write(Seq((2L, base, 7L)))
    // Batch 3: +35min. Against max(lastNs)=+10min the gap is 25min < 30
    // (same session); against a regressed end of +0min it is 35min > 30
    // and would falsely split.
    write(Seq((3L, base + 35 * min, 7L)))
    // Batch 4: +120min closes the session via the data-driven gap.
    write(Seq((4L, base + 120 * min, 7L)))
    val stream = EventsStream.readEvents(spark, dir, maxFilesPerTrigger = 1)
    val sessions = EventsStream.completedSessions(stream)(spark)
    val q = EventsStream.runToMemory(sessions.toDF(), "late_sessions")
    try {
      val got = spark.table("late_sessions")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(got.contains((7L, base, base + 35 * min, 3L)),
        s"late event split or shrank the session; got $got")
    } finally q.stop()
  }

  test("completedSessions: a late event a full gap before the session is its own session") {
    import org.apache.spark.sql.Row
    val dir = tmpDir("stream_sessions_orphan")
    def write(rows: Seq[(Long, Long, Long)]): Unit = {
      val data = rows.map { case (id, ts, uid) => Row(id, ntz(ts), uid, "click", 1.0, "{}") }
      spark.createDataFrame(spark.sparkContext.parallelize(data, 1), EventsStream.eventsSchema)
        .coalesce(1).write.mode("append").parquet(dir)
      Thread.sleep(1500)
    }
    val min = 60L * 1000000000L
    val base = 1704067200L * 1000000000L
    // Batch 1: session at +40..+41min. Batch 2: LATE orphan at +0min —
    // 40min before the session start, beyond the 30min gap: it must NOT
    // stretch the session backwards across the silence.
    write(Seq((1L, base + 40 * min, 7L), (2L, base + 41 * min, 7L)))
    write(Seq((3L, base, 7L)))
    // Batch 3: close the live session via the data-driven gap.
    write(Seq((4L, base + 150 * min, 7L)))
    val stream = EventsStream.readEvents(spark, dir, maxFilesPerTrigger = 1)
    val sessions = EventsStream.completedSessions(stream)(spark)
    val q = EventsStream.runToMemory(sessions.toDF(), "orphan_sessions")
    try {
      val got = spark.table("orphan_sessions")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(got.contains((7L, base, base, 1L)),
        s"orphan late event must emit as its own closed session; got $got")
      assert(got.contains((7L, base + 40 * min, base + 41 * min, 2L)),
        s"main session must keep its true start; got $got")
    } finally q.stop()
  }

  test("completedSessions: one batch with a far-late event AND its bridge merges into the session") {
    import org.apache.spark.sql.Row
    val dir = tmpDir("stream_sessions_bridge")
    def write(rows: Seq[(Long, Long, Long)]): Unit = {
      val data = rows.map { case (id, ts, uid) => Row(id, ntz(ts), uid, "click", 1.0, "{}") }
      spark.createDataFrame(spark.sparkContext.parallelize(data, 1), EventsStream.eventsSchema)
        .coalesce(1).write.mode("append").parquet(dir)
      Thread.sleep(1500)
    }
    val min = 60L * 1000000000L
    val base = 1704067200L * 1000000000L
    // State session at [+40, +41]. One late batch carries +0 AND +15:
    // +0 alone is an orphan (40 > gap before the session), but +15
    // bridges it (0→15 ≤ 30, 15→40 ≤ 30) — interval-merge must yield
    // ONE session [0, 41] n=4, where a per-event fold would mis-emit
    // (0,0,1) as an orphan before seeing the bridge.
    write(Seq((1L, base + 40 * min, 7L), (2L, base + 41 * min, 7L)))
    write(Seq((3L, base, 7L), (4L, base + 15 * min, 7L)))
    write(Seq((5L, base + 150 * min, 7L)))
    val stream = EventsStream.readEvents(spark, dir, maxFilesPerTrigger = 1)
    val sessions = EventsStream.completedSessions(stream)(spark)
    val q = EventsStream.runToMemory(sessions.toDF(), "bridge_sessions")
    try {
      val got = spark.table("bridge_sessions")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(got.contains((7L, base, base + 41 * min, 4L)),
        s"bridged late events must merge into one session; got $got")
      assert(!got.exists(s => s._2 == base && s._4 == 1L),
        s"no single-event orphan must be emitted for the bridged event; got $got")
    } finally q.stop()
  }

  test("conversions stream-stream join matches the batch inequality join") {
    val dir = tmpDir("stream_conv")
    val base = spark.read.schema(EventsStream.eventsSchema)
      .parquet(s"$sf/events.parquet").limit(2000)
    base.coalesce(1).write.mode("overwrite").parquet(dir)
    val types = base.select("event_type").distinct().as[String].collect().sorted
    assume(types.length >= 2, "need two event types")
    val (from, to) = (types(0), types(1))
    val stream = EventsStream.readEvents(spark, dir, maxFilesPerTrigger = 1)
    val q = EventsStream.runToMemory(
      EventsStream.conversions(stream, from, to, window = "30 minutes"), "conv")
    try {
      val got = spark.table("conv")
        .select("from_id", "to_id").as[(Long, Long)].collect().toSet
      val b = EventsStream.withEventTime(base)
      val a = b.filter($"event_type" === from)
        .select($"user_id", $"event_time".as("from_time"), $"event_id".as("from_id"))
      val c = b.filter($"event_type" === to)
        .select($"user_id".as("ub"), $"event_time".as("to_time"), $"event_id".as("to_id"))
      val want = a.join(c, $"user_id" === $"ub" && $"to_time" >= $"from_time" &&
          $"to_time" <= $"from_time" + expr("INTERVAL 30 minutes"))
        .select("from_id", "to_id").as[(Long, Long)].collect().toSet
      assert(got == want, s"stream ${got.size} pairs vs batch ${want.size}")
    } finally q.stop()
  }

  test("asOfEnrich on a stream matches the batch as-of join") {
    val dir = tmpDir("stream_asof")
    val base = spark.read.schema(EventsStream.eventsSchema)
      .parquet(s"$sf/events.parquet").limit(2000)
    base.coalesce(1).write.mode("overwrite").parquet(dir)
    // Time-versioned dimension: per user, versions at the min event ts and
    // +30 min, so some events precede version 1 (null), some straddle.
    val min30 = 30L * 60 * 1000000000L
    // Time axes as epoch-ns longs on both sides (asOfEnrich compares the
    // raw columns; NTZ ts converts via the UTC session timezone).
    val tsn = (unix_micros($"ts".cast("timestamp")) * 1000).as("tsn")
    val dim = base.groupBy($"user_id".as("k"))
      .agg(org.apache.spark.sql.functions.min(unix_micros($"ts".cast("timestamp")) * 1000).as("t0"))
      .select($"k", explode(array(
        struct($"t0".as("vt"), concat(lit("v1-"), $"k").as("tier")),
        struct(($"t0" + min30).as("vt"), concat(lit("v2-"), $"k").as("tier")))).as("v"))
      .select($"k", $"v.vt", $"v.tier")
    val stream = EventsStream.readEvents(spark, dir, maxFilesPerTrigger = 1)
      .withColumn("tsn", unix_micros($"event_time") * 1000)
    val enriched = EventsStream.asOfEnrich(stream, dim, "user_id", "tsn", "k", "vt", "tier")
      .select("event_id", "tier")
    val q = EventsStream.runToMemory(enriched, "asof_enrich")
    try {
      val got = spark.table("asof_enrich")
        .as[(Long, Option[String])].collect().toMap
      val want = graft.core.AsOf.asOfJoin(
          base.select($"event_id", $"user_id", tsn), dim, "user_id", "tsn", "k", "vt", Seq("tier"))
        .select("event_id", "tier").as[(Long, Option[String])].collect().toMap
      assert(got.size == want.size && got == want,
        s"stream enrich diverges from batch as-of (${got.size} vs ${want.size})")
    } finally q.stop()
  }

  test("userRunningTotals keeps per-user state across micro-batches") {
    val dir = tmpDir("stream_state")
    spark.read.schema(EventsStream.eventsSchema)
      .parquet(s"$sf/events.parquet")
      .limit(500)
      .write.mode("overwrite").parquet(dir)

    val stream = EventsStream.readEvents(spark, dir, maxFilesPerTrigger = 1)
    val totals = EventsStream.userRunningTotals(stream)(spark)
    val q = EventsStream.runToMemory(totals.toDF(), "user_totals",
      org.apache.spark.sql.streaming.OutputMode.Update())
    try {
      // Update mode re-emits a row per state change; the latest row per
      // user must equal the batch aggregate.
      val latest = spark.table("user_totals")
        .groupBy("user_id").agg(max("n_events").as("n_events"))
        .as[(Long, Long)].collect().toMap
      val batch = spark.read.schema(EventsStream.eventsSchema).parquet(dir)
        .groupBy("user_id").agg(count(lit(1)).as("n"))
        .as[(Long, Long)].collect().toMap
      assert(latest == batch, "stateful totals diverge from batch")
    } finally q.stop()
  }

  private val docsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("ingest_time", org.apache.spark.sql.types.TimestampType),
  ))

  test("DocsStream.enriched: text kernels under streaming match the batch path") {
    val dir = tmpDir("stream_docs_enrich")
    val docs = spark.read.parquet(s"$sf/documents.parquet").limit(80)
      .select($"doc_id", $"text", lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00")).as("ingest_time"))
    docs.coalesce(1).write.mode("overwrite").parquet(dir)

    val stream = spark.readStream.schema(docsSchema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = EventsStream.runToMemory(DocsStream.enriched(stream), "docs_enriched")
    try {
      val streamed = spark.table("docs_enriched")
        .select("doc_id", "n_tokens", "lang_id", "fp")
        .as[(Long, Int, String, String)].collect().toSet
      val batch = DocsStream.enriched(spark.read.schema(docsSchema).parquet(dir))
        .select("doc_id", "n_tokens", "lang_id", "fp")
        .as[(Long, Int, String, String)].collect().toSet
      assert(streamed == batch, "streaming kernel output diverges from batch")
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("DocsStream.blocklistGate: one-pass AC scrub drops and annotates, stream == batch") {
    val dir = tmpDir("stream_docs_block")
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val docs = Seq(
      (1L, "a perfectly clean document about joins and streams", t0),
      (2L, "this one mentions FORBIDDENWORD in passing", t0),
      (3L, "watchterm here, watchterm there, nothing blocked", t0),
      (4L, "Forbiddenword capitalized still counts", t0),
    ).toDF("doc_id", "text", "ingest_time")
    docs.coalesce(1).write.mode("overwrite").parquet(dir)

    def gate(df: org.apache.spark.sql.DataFrame) =
      DocsStream.blocklistGate(df, blocked = Seq("forbiddenword"),
        watch = Seq("watchterm", "stream"))

    val stream = spark.readStream.schema(docsSchema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = EventsStream.runToMemory(gate(stream), "docs_blocked")
    try {
      val streamed = spark.table("docs_blocked")
        .select("doc_id", "watch_hits").as[(Long, Long)].collect().toSet
      val batch = gate(spark.read.schema(docsSchema).parquet(dir))
        .select("doc_id", "watch_hits").as[(Long, Long)].collect().toSet
      assert(streamed == batch, "streaming gate diverges from batch")
      // Docs 2 and 4 (case-insensitive hit) are dropped; 3 counts its
      // two watch hits; 1 counts the "stream" watch term.
      assert(streamed == Set((1L, 1L), (3L, 2L)), streamed.toString)
    } finally q.stop()
  }

  test("DocsStream.qualityGated drops filler/noise under streaming, identical to batch") {
    val dir = tmpDir("stream_docs_gate")
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val prose = "the quick brown fox jumps over the lazy dog near the old stone bridge every day"
    val rnd = new scala.util.Random(7)
    val noise = Array.fill(600)((rnd.nextInt(94) + 33).toChar).mkString // incompressible
    val docs = Seq(
      (1L, prose, t0),                       // keeps: tokens, entropy, band all pass
      (2L, "spam spam spam " * 200, t0),    // 3000 B of filler: deflate ratio ~0.01, below band
      (3L, "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa", t0), // entropy ~0 and 1 token
      (4L, "too short", t0),                 // token floor
      (5L, noise, t0),                       // incompressible: ratio ≥ 1 (and 1 token)
    ).toDF("doc_id", "text", "ingest_time")
    docs.coalesce(1).write.mode("overwrite").parquet(dir)

    val stream = spark.readStream.schema(docsSchema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = EventsStream.runToMemory(DocsStream.qualityGated(stream), "docs_gated")
    try {
      val streamed = spark.table("docs_gated").select("doc_id").as[Long].collect().toSet
      val batch = DocsStream.qualityGated(spark.read.schema(docsSchema).parquet(dir))
        .select("doc_id").as[Long].collect().toSet
      assert(streamed == batch, "streaming gate diverges from batch")
      assert(streamed == Set(1L), s"only the prose doc should survive, got $streamed")
    } finally q.stop()
  }

  test("DocsStream.cmsGated: offline CMS boilerplate gate, stream identical to batch") {
    val dir = tmpDir("stream_docs_cms")
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    // Standing corpus: "subscribe"/"newsletter"/"copyright" are hot
    // (appear in many docs), content words are rare.
    val corpusTerms = (1 to 120).flatMap(i =>
      Seq("subscribe", "newsletter", "copyright", s"content$i", s"word$i"))
    val cms = corpusTerms.toDF("t").stat.countMinSketch("t", 0.01, 0.99, 11)
    val bc = spark.sparkContext.broadcast(cms)
    val docs = Seq(
      (1L, "fresh content about word7 and content9 plus subscribe once", t0), // 1/9 hot
      (2L, "subscribe newsletter copyright subscribe newsletter copyright", t0), // all hot
      (3L, "entirely novel tokens nobody indexed before today anywhere", t0), // 0 hot
    ).toDF("doc_id", "text", "ingest_time")
    docs.coalesce(1).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(docsSchema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = EventsStream.runToMemory(
      DocsStream.cmsGated(stream, bc, hotCount = 100L, maxHotFrac = 0.5), "docs_cms")
    try {
      val streamed = spark.table("docs_cms").select("doc_id").as[Long].collect().toSet
      val batch = DocsStream
        .cmsGated(spark.read.schema(docsSchema).parquet(dir), bc, 100L, 0.5)
        .select("doc_id").as[Long].collect().toSet
      assert(streamed == batch, "streaming CMS gate diverges from batch")
      assert(streamed == Set(1L, 3L), s"boilerplate doc must drop, got $streamed")
    } finally q.stop()
  }

  test("DocsStream.dedupedDocs drops cosmetic re-crawls across micro-batches") {
    val dir = tmpDir("stream_docs_dedup")
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val first = Seq(
      (1L, "The quick brown fox", t0),
      (2L, "totally different content", t0),
    ).toDF("doc_id", "text", "ingest_time")
    // Second delivery: same pages re-crawled with cosmetic whitespace and
    // case changes (same normalized fingerprint), plus one genuinely new.
    val second = Seq(
      (3L, "the  QUICK   brown fox ", t0),
      (4L, "brand new page", t0),
    ).toDF("doc_id", "text", "ingest_time")
    first.coalesce(1).write.mode("overwrite").parquet(dir)
    second.coalesce(1).write.mode("append").parquet(dir)

    val stream = spark.readStream.schema(docsSchema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = EventsStream.runToMemory(DocsStream.dedupedDocs(stream), "docs_deduped")
    try {
      val kept = spark.table("docs_deduped").select("fp").as[String].collect()
      assert(kept.length == kept.distinct.length, "same fingerprint emitted twice")
      // 1 and 3 collapse to one fingerprint; 2 and 4 are unique → 3 rows.
      assert(kept.length == 3, s"expected 3 surviving docs, got ${kept.length}")
    } finally q.stop()
  }

  test("bm25IndexAppender: stream-maintained store == batch-built index; retrieval identical") {
    import graft.similarity.SparseSim
    val dir = tmpDir("stream_bm25_in")
    val (lengths, postings, ckpt) =
      (tmpDir("stream_bm25_len"), tmpDir("stream_bm25_post"), tmpDir("stream_bm25_ckpt"))
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val corpus = spark.read.parquet(s"$sf/documents.parquet")
      .filter($"doc_id" % 10 =!= 0).limit(120)
      .select($"doc_id", $"text", lit(t0).as("ingest_time"))
      .localCheckpoint()
    // Three files -> three micro-batches of appends.
    corpus.filter($"doc_id" % 3 === 0).coalesce(1).write.mode("overwrite").parquet(dir)
    corpus.filter($"doc_id" % 3 === 1).coalesce(1).write.mode("append").parquet(dir)
    corpus.filter($"doc_id" % 3 === 2).coalesce(1).write.mode("append").parquet(dir)

    val stream = spark.readStream.schema(docsSchema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = DocsStream.bm25IndexAppender(stream, lengths, postings, ckpt)
    try q.processAllAvailable() finally q.stop()

    val maintained = SparseSim.bm25IndexFrom(
      spark.read.parquet(lengths), spark.read.parquet(postings))
    val rebuilt = SparseSim.buildBm25Index(corpus, "doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, String, Long, Int, Long, Long, Double)].collect().toSet
    assert(rows(maintained) == rows(rebuilt),
      "stream-maintained BM25 store must equal a batch rebuild bit-for-bit")
    // And retrieval against the maintained store matches the batch index.
    val queries = spark.read.parquet(s"$sf/documents.parquet")
      .filter($"doc_id" % 10 === 0).limit(20).select($"doc_id", $"text")
    def hits(idx: org.apache.spark.sql.DataFrame) =
      SparseSim.bm25Retrieve(queries, "doc_id", "text", idx)
        .as[(Long, Long, Long, Double, Int)].collect().toSet
    val h = hits(maintained)
    assert(h.nonEmpty && h == hits(rebuilt), "retrieval must not see the maintenance path")
  }

  test("packAppender: stream-maintained layout == sequential batch-API appends") {
    import graft.text.Packing
    val dir = tmpDir("stream_pack_in")
    val (placements, statePath, ckpt) =
      (tmpDir("stream_pack_out"), tmpDir("stream_pack_state"), tmpDir("stream_pack_ckpt"))
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val corpus = spark.read.parquet(s"$sf/documents.parquet").limit(90)
      .select($"doc_id", $"text", lit(t0).as("ingest_time"))
      .localCheckpoint()
    // Three files -> three serial micro-batches.
    val parts = (0 to 2).map(i => corpus.filter($"doc_id" % 3 === i).localCheckpoint())
    parts(0).coalesce(1).write.mode("overwrite").parquet(dir)
    parts(1).coalesce(1).write.mode("append").parquet(dir)
    parts(2).coalesce(1).write.mode("append").parquet(dir)

    val stream = spark.readStream.schema(docsSchema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = DocsStream.packAppender(stream, placements, statePath, ckpt,
      ctxLen = 64, shards = 4)
    try q.processAllAvailable() finally q.stop()

    // Sequential batch-API appends over the same micro-batch order. The
    // stream's batch order follows file order (maxFilesPerTrigger=1).
    var state = Packing.emptyPackState(spark)
    val batchPlaced = parts.map { p =>
      val placed = Packing
        .packGreedyAppend(p, "doc_id", "text", ctxLen = 64, shards = 4, state = state)
        .localCheckpoint()
      state = Packing.packState(state, placed, ctxLen = 64).localCheckpoint()
      placed
    }.reduce(_ unionByName _)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "shard", "n_tokens", "bin", "truncated")
        .as[(Long, Long, Long, Long, Boolean)].collect().toSet
    assert(rows(spark.read.parquet(placements)) == rows(batchPlaced),
      "stream-maintained placements must equal the sequential batch fold")
    // Final state = the NEWEST version dir (state is versioned per batch
    // for replay idempotency).
    val latest = new java.io.File(statePath).listFiles()
      .map(_.getName).filter(_.startsWith("batch="))
      .map(_.stripPrefix("batch=").toLong).max
    assert(spark.read.parquet(s"$statePath/batch=$latest")
      .as[(Long, Long, Long)].collect().toSet ==
      state.as[(Long, Long, Long)].collect().toSet,
      "rolled state must match the batch fold's tail")
  }

  test("packAppender lists standing state through Hadoop FS (file:-URI statePath)") {
    // The r10 version listing used java.io.File, which returns null for
    // ANY URI-prefixed path — every batch would silently seed from the
    // EMPTY state and bins would restart at 0. This pin drives the
    // appender with file:-prefixed placements/state paths (the minimal
    // non-plain-local shape) and checks batch 2 really continued from
    // batch 1's rolled state.
    import graft.text.Packing
    val dir = tmpDir("uri_pack_in")
    val placements = "file:" + tmpDir("uri_pack_out")
    val statePath = "file:" + tmpDir("uri_pack_state")
    val ckpt = tmpDir("uri_pack_ckpt")
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val corpus = spark.read.parquet(s"$sf/documents.parquet").limit(60)
      .select($"doc_id", $"text", lit(t0).as("ingest_time"))
      .localCheckpoint()
    val parts = (0 to 1).map(i => corpus.filter($"doc_id" % 2 === i).localCheckpoint())
    parts(0).coalesce(1).write.mode("overwrite").parquet(dir)
    parts(1).coalesce(1).write.mode("append").parquet(dir)

    val stream = spark.readStream.schema(docsSchema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = DocsStream.packAppender(stream, placements, statePath, ckpt,
      ctxLen = 64, shards = 4)
    try q.processAllAvailable() finally q.stop()

    var state = Packing.emptyPackState(spark)
    val batchPlaced = parts.map { p =>
      val placed = Packing
        .packGreedyAppend(p, "doc_id", "text", ctxLen = 64, shards = 4, state = state)
        .localCheckpoint()
      state = Packing.packState(state, placed, ctxLen = 64).localCheckpoint()
      placed
    }.reduce(_ unionByName _)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "shard", "n_tokens", "bin", "truncated")
        .as[(Long, Long, Long, Long, Boolean)].collect().toSet
    assert(rows(spark.read.parquet(placements)) == rows(batchPlaced),
      "URI statePath: batch 2 must seed from batch 1's state, not from empty")
  }

  test("quantileAppender: standing sketches track counts exactly and quantiles within envelope") {
    import graft.functions.MrlSketch
    val dir = tmpDir("qsk_in")
    val statePath = "file:" + tmpDir("qsk_state") // URI path: exercises the FS listing
    val ckpt = tmpDir("qsk_ckpt")
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val corpus = spark.read.parquet(s"$sf/documents.parquet").limit(80)
      .select($"doc_id", $"text", lit(t0).as("ingest_time"))
      .localCheckpoint()
    val parts = (0 to 1).map(i => corpus.filter($"doc_id" % 2 === i).localCheckpoint())
    parts(0).coalesce(1).write.mode("overwrite").parquet(dir)
    parts(1).coalesce(1).write.mode("append").parquet(dir)

    val stream = spark.readStream.schema(docsSchema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
      .withColumn("n_tokens", size(filter(split(trim($"text"), "\\s+"), _ =!= "")))
      .withColumn("g", $"doc_id" % 4)
    val q = DocsStream.quantileAppender(stream, statePath, ckpt,
      groupCol = "g", valueCol = "n_tokens", k = 64)
    try q.processAllAvailable() finally q.stop()

    // Exact per-group token-count streams for ground truth.
    val exact = corpus
      .select($"doc_id" % 4 as "g",
        size(filter(split(trim($"text"), "\\s+"), _ =!= "")).cast("double").as("v"))
      .as[(Long, Double)].collect().groupBy(_._1).view.mapValues(_.map(_._2)).toMap

    // batch=1 is the final standing state (two micro-batches: 0 then 1).
    val standing = spark.read.parquet(s"$statePath/batch=1")
      .as[(Long, Array[Byte])].collect().toMap
    assert(standing.keySet == exact.keySet)
    standing.foreach { case (g, bytes) =>
      val sk = MrlSketch.deserialize(bytes)
      assert(sk.count == exact(g).length,
        s"group $g: standing count ${sk.count} != exact ${exact(g).length}")
      for (f <- Seq(0.25, 0.5, 0.9)) {
        val est = sk.quantile(f)
        val rankErr = math.abs(exact(g).count(_ <= est).toDouble / exact(g).length - f)
        // ~20 values per group at k=64: no compaction, only the ceil-
        // rank convention (≤ 1/n) separates estimate from exact.
        assert(rankErr <= 0.06, s"group $g f=$f rank error $rankErr")
      }
    }
    // Batch 1's state must have SEEDED from batch 0 (not restarted):
    // batch=0 holds only part 0's rows.
    val v0 = spark.read.parquet(s"$statePath/batch=0")
      .as[(Long, Array[Byte])].collect().toMap
    val part0Sizes = parts(0).select($"doc_id" % 4 as "g").groupBy("g").count()
      .as[(Long, Long)].collect().toMap
    v0.foreach { case (g, bytes) =>
      assert(MrlSketch.deserialize(bytes).count == part0Sizes(g),
        s"version 0 should hold only micro-batch 0's rows for group $g")
    }
  }

  test("quantileAppender: legacy 'g'-keyed state versions stay readable after the groupCol rename") {
    import graft.functions.{GraftFunctions, MrlSketch}
    // r13 ADVICE pin: state written before the key column followed the
    // caller's groupCol carries the literal "g"; resuming a stream with
    // groupCol="src" over it used to fail at unionByName on the first
    // merged batch. loadKeyedState renames on load — the fold must both
    // SUCCEED and keep exact counts (legacy + streamed).
    val dir = tmpDir("qlg_in")
    val statePath = tmpDir("qlg_state")
    val ckpt = tmpDir("qlg_ckpt")
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def toks(c: org.apache.spark.sql.Column) =
      size(filter(split(trim(c), "\\s+"), _ =!= ""))
    val corpus = spark.read.parquet(s"$sf/documents.parquet").limit(40)
      .select($"doc_id", $"text", lit(t0).as("ingest_time"))
      .localCheckpoint()
    val hist = corpus.filter($"doc_id" % 2 === 0)
    val live = corpus.filter($"doc_id" % 2 =!= 0)
    // the legacy version a pre-r13 writer would have left behind
    hist.select(($"doc_id" % 4).as("g"), toks($"text").as("v"))
      .groupBy("g").agg(GraftFunctions.quantileSketch($"v", 64).as("sk"))
      .write.mode("overwrite").parquet(s"$statePath/batch=-1")
    live.coalesce(1).write.mode("overwrite").parquet(dir)

    val stream = spark.readStream.schema(docsSchema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
      .withColumn("n_tokens", toks($"text"))
      .withColumn("src", $"doc_id" % 4)
    val q = DocsStream.quantileAppender(stream, statePath, ckpt,
      groupCol = "src", valueCol = "n_tokens", k = 64)
    try q.processAllAvailable() finally q.stop()

    val standing = spark.read.parquet(s"$statePath/batch=0")
      .select("src", "sk").as[(Long, Array[Byte])].collect().toMap
    val exactSizes = corpus.select(($"doc_id" % 4).as("g")).groupBy("g").count()
      .as[(Long, Long)].collect().toMap
    assert(standing.keySet == exactSizes.keySet,
      s"merged state must cover every group: ${standing.keySet} vs ${exactSizes.keySet}")
    standing.foreach { case (g, bytes) =>
      assert(MrlSketch.deserialize(bytes).count == exactSizes(g),
        s"group $g: legacy+streamed count must be exact")
    }
  }

  test("mgAppender: standing summaries keep n exact and every heavy term present+bounded") {
    import graft.functions.MgSummary
    val dir = tmpDir("mg_in")
    val statePath = "file:" + tmpDir("mg_state")
    val ckpt = tmpDir("mg_ckpt")
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val corpus = spark.read.parquet(s"$sf/documents.parquet").limit(60)
      .select($"doc_id", $"text", lit(t0).as("ingest_time"))
      .localCheckpoint()
    val parts = (0 to 1).map(i => corpus.filter($"doc_id" % 2 === i).localCheckpoint())
    parts(0).coalesce(1).write.mode("overwrite").parquet(dir)
    parts(1).coalesce(1).write.mode("append").parquet(dir)

    val stream = spark.readStream.schema(docsSchema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
      .select($"doc_id" % 2 as "g",
        explode(filter(split(trim($"text"), "\\s+"), _ =!= "")).as("term"))
    val q = DocsStream.mgAppender(stream, statePath, ckpt,
      groupCol = "g", termCol = "term", k = 32)
    try q.processAllAvailable() finally q.stop()

    val exact = corpus
      .select($"doc_id" % 2 as "g",
        explode(filter(split(trim($"text"), "\\s+"), _ =!= "")).as("term"))
      .as[(Long, String)].collect().groupBy(_._1).view
      .mapValues(_.map(_._2)).toMap
    val standing = spark.read.parquet(s"$statePath/batch=1")
      .as[(Long, Array[Byte])].collect().toMap
    assert(standing.keySet == exact.keySet)
    standing.foreach { case (g, bytes) =>
      val mg = MgSummary.deserialize(bytes)
      val terms = exact(g)
      assert(mg.n == terms.length, s"group $g: standing n ${mg.n} != ${terms.length}")
      val freqs = terms.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val bound = mg.n.toDouble / 33.0
      freqs.foreach { case (t, f) =>
        val est = mg.estimate(t)
        assert(est <= f, s"group $g term $t overcounted")
        assert(f - est <= bound, s"group $g term $t bound violated: ${f - est} > $bound")
        if (f > bound) assert(est > 0L, s"group $g heavy term $t missing from standing state")
      }
    }
  }

  test("ivmAppender: standing exact agg state == one-shot aggregate, bit for bit") {
    import graft.core.Ivm
    val dir = tmpDir("ivm_in")
    val statePath = "file:" + tmpDir("ivm_state") // URI path: exercises the FS listing
    val ckpt = tmpDir("ivm_ckpt")
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val corpus = spark.read.parquet(s"$sf/documents.parquet").limit(90)
      .select($"doc_id", $"text", lit(t0).as("ingest_time"))
      .localCheckpoint()
    val parts = (0 to 2).map(i => corpus.filter($"doc_id" % 3 === i).localCheckpoint())
    parts(0).coalesce(1).write.mode("overwrite").parquet(dir)
    parts(1).coalesce(1).write.mode("append").parquet(dir)
    parts(2).coalesce(1).write.mode("append").parquet(dir)

    def shape(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("g", $"doc_id" % 4)
      .withColumn("v", size(filter(split(trim($"text"), "\\s+"), _ =!= ""))
        .cast("decimal(18,6)"))
      .select($"g", $"v")
    val stream = spark.readStream.schema(docsSchema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = DocsStream.ivmAppender(shape(stream), statePath, ckpt,
      keys = Seq("g"), valueCol = "v")
    try q.processAllAvailable() finally q.stop()

    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select($"g", $"n", $"sum_v".cast("decimal(38,6)").as("sum_v"),
        $"min_v".cast("decimal(18,6)").as("min_v"),
        $"max_v".cast("decimal(18,6)").as("max_v"))
    val standing = canon(spark.read.parquet(s"$statePath/batch=2"))
    val oneShot = canon(Ivm.aggState(shape(corpus), Seq("g"), "v"))
    assert(standing.exceptAll(oneShot).isEmpty && oneShot.exceptAll(standing).isEmpty,
      "standing IVM state after 3 micro-batches must equal the one-shot aggregate")
    // and batch=0 holds ONLY micro-batch 0 (seeding is strictly versioned)
    val v0 = canon(spark.read.parquet(s"$statePath/batch=0"))
    val p0 = canon(Ivm.aggState(shape(parts(0)), Seq("g"), "v"))
    assert(v0.exceptAll(p0).isEmpty && p0.exceptAll(v0).isEmpty)
  }

  test("changelogAppender: CDC stream with retractions == one-shot agg of survivors") {
    import graft.core.Ivm
    val dir = tmpDir("cdc_in")
    val statePath = tmpDir("cdc_state")
    val ckpt = tmpDir("cdc_ckpt")
    // deterministic changelog off the corpus: g = doc_id % 4, v = length;
    // batch 2 retracts every doc_id % 3 == 0 row AND all of g == 3
    val base = spark.read.parquet(s"$sf/documents.parquet").limit(90)
      .select(($"doc_id" % 4).as("g"), $"doc_id".as("id"),
        length($"text").cast("decimal(18,6)").as("v"))
      .localCheckpoint()
    val ins = base.withColumn("op", lit(1))
    val parts = Seq(
      ins.filter($"id" % 2 === 0),
      ins.filter($"id" % 2 === 1),
      base.filter($"id" % 3 === 0 || $"g" === 3).withColumn("op", lit(-1)))
      .map(_.select($"g", $"v", $"op").localCheckpoint())
    parts(0).coalesce(1).write.mode("overwrite").parquet(dir)
    parts(1).coalesce(1).write.mode("append").parquet(dir)
    parts(2).coalesce(1).write.mode("append").parquet(dir)

    val cdcSchema = new org.apache.spark.sql.types.StructType()
      .add("g", "long").add("v", "decimal(18,6)").add("op", "int")
    val stream = spark.readStream.schema(cdcSchema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = DocsStream.changelogAppender(stream, statePath, ckpt,
      keys = Seq("g"), valueCol = "v")
    try q.processAllAvailable() finally q.stop()

    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select($"g", $"n", $"sum_v".cast("decimal(38,6)").as("sum_v"))
    val standing = canon(Ivm.finishSigned(
      spark.read.parquet(s"$statePath/batch=2")))
    val oneShot = canon(base
      .filter(!($"id" % 3 === 0 || $"g" === 3))
      .groupBy("g").agg(count(lit(1)).as("n"), sum($"v").as("sum_v")))
    assert(standing.exceptAll(oneShot).isEmpty && oneShot.exceptAll(standing).isEmpty,
      "finished changelog state must equal the one-shot survivor aggregate")
    // the fully-retracted key left the view
    assert(standing.filter($"g" === 3).isEmpty)
    // a retraction for a row never inserted fails loudly at read time
    val bogus = Seq((99L, BigDecimal(1), -1)).toDF("g", "v", "op")
      .select($"g", $"v".cast("decimal(18,6)").as("v"), $"op")
    val poisoned = Ivm.mergeSignedStates(
      spark.read.parquet(s"$statePath/batch=2"),
      Ivm.signedAggState(bogus, Seq("g"), "v", "op"), Seq("g"))
    intercept[Exception] { Ivm.finishSigned(poisoned).collect() }
  }

  test("topKAppender: standing leaderboard == one-shot window ranking, bit for bit") {
    val dir = tmpDir("topk_in")
    val statePath = tmpDir("topk_state")
    val ckpt = tmpDir("topk_ckpt")
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val corpus = spark.read.parquet(s"$sf/documents.parquet").limit(90)
      .select($"doc_id", $"text", lit(t0).as("ingest_time"))
      .localCheckpoint()
    val parts = (0 to 2).map(i => corpus.filter($"doc_id" % 3 === i).localCheckpoint())
    parts(0).coalesce(1).write.mode("overwrite").parquet(dir)
    parts(1).coalesce(1).write.mode("append").parquet(dir)
    parts(2).coalesce(1).write.mode("append").parquet(dir)

    // score = char length (ties broken by doc_id via the canonical order)
    def shape(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("g", $"doc_id" % 4)
      .withColumn("v", length($"text").cast("double"))
      .select($"g", $"doc_id".as("id"), $"v")
    val stream = spark.readStream.schema(docsSchema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = DocsStream.topKAppender(shape(stream), statePath, ckpt,
      groupCol = "g", valueCol = "v", idCol = "id", k = 5)
    try q.processAllAvailable() finally q.stop()

    import graft.functions.GraftFunctions
    val standing = spark.read.parquet(s"$statePath/batch=2")
      .select($"g", explode(GraftFunctions.topKEntries($"sk")).as("e"))
      .select($"g", $"e.rank".as("rank"), $"e.id".as("id"), $"e.v".as("v"))
    val oneShot = shape(corpus)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("g")
          .orderBy($"v".desc, $"id")))
      .filter($"rank" <= 5)
      .select($"g", $"rank", $"id", $"v")
    assert(standing.exceptAll(oneShot).isEmpty && oneShot.exceptAll(standing).isEmpty,
      "standing leaderboard after 3 micro-batches must equal the one-shot ranking")
    // replay tolerance beyond the versioned layout: folding batch 0's
    // state into the final state twice changes nothing (set-union merge)
    val replayed = spark.read.parquet(s"$statePath/batch=2")
      .unionByName(spark.read.parquet(s"$statePath/batch=0"))
      .groupBy("g").agg(GraftFunctions.topKMerge($"sk").as("sk"))
      .select($"g", explode(GraftFunctions.topKEntries($"sk")).as("e"))
      .select($"g", $"e.rank".as("rank"), $"e.id".as("id"), $"e.v".as("v"))
    assert(replayed.exceptAll(oneShot).isEmpty && oneShot.exceptAll(replayed).isEmpty,
      "re-delivering an already-folded state must be a no-op")
  }

  test("unkRateGate: mixed-script feed filters identically streamed and batch") {
    import graft.text.WordPiece
    val dir = tmpDir("unk_in")
    val outP = tmpDir("unk_out")
    val ckpt = tmpDir("unk_ckpt")
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val base = spark.read.parquet(s"$sf/documents.parquet").limit(80)
      .filter(length(trim($"text")) > 0)
    // odd docs get a Cyrillic tail the vocabulary never saw
    val feed = base
      .select($"doc_id",
        when($"doc_id" % 2 === 1,
          concat($"text", lit(" \u043f\u0440\u0438\u0432\u0435\u0442")))
          .otherwise($"text").as("text"),
        lit(t0).as("ingest_time"))
      .localCheckpoint()
    val vocab = WordPiece.buildVocab(base, "text", 64, 6)
      .select("piece").as[String].collect().toSeq.sorted
    val parts = (0 to 1).map(i => feed.filter($"doc_id" % 3 === i).localCheckpoint())
    parts(0).coalesce(1).write.mode("overwrite").parquet(dir)
    parts(1).coalesce(1).write.mode("append").parquet(dir)

    val stream = spark.readStream.schema(docsSchema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = DocsStream.unkRateGate(stream, vocab, maxPieceLen = 6, maxUnkPct = 3)
      .writeStream.format("parquet")
      .option("path", outP).option("checkpointLocation", ckpt)
      .start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.read.parquet(outP).select("doc_id").as[Long].collect().toSet
    val batch = DocsStream.unkRateGate(
      feed.filter($"doc_id" % 3 <= 1), vocab, maxPieceLen = 6, maxUnkPct = 3)
      .select("doc_id").as[Long].collect().toSet
    assert(streamed == batch)
    assert(batch.nonEmpty && batch.forall(_ % 2 == 0),
      "suffixed (odd) docs must drop, clean (even) docs must survive")

    // the unigram-model variant of the same gate: Viterbi walk, same
    // exact-integer rate compare, same stream-visible feed
    val ugModel = graft.text.Unigram.buildVocab(base, "text", 64, 6)
      .as[(String, Long)].collect().toSeq.sortBy(_._1)
    val ugOutP = tmpDir("unk_ug_out")
    val ugCkpt = tmpDir("unk_ug_ckpt")
    val q2 = DocsStream.unigramUnkRateGate(
        spark.readStream.schema(docsSchema)
          .option("maxFilesPerTrigger", 1).parquet(dir),
        ugModel, maxPieceLen = 6, maxUnkPct = 3)
      .writeStream.format("parquet")
      .option("path", ugOutP).option("checkpointLocation", ugCkpt)
      .start()
    try q2.processAllAvailable() finally q2.stop()
    val ugStreamed = spark.read.parquet(ugOutP).select("doc_id").as[Long].collect().toSet
    val ugBatch = DocsStream.unigramUnkRateGate(
      feed.filter($"doc_id" % 3 <= 1), ugModel, maxPieceLen = 6, maxUnkPct = 3)
      .select("doc_id").as[Long].collect().toSet
    assert(ugStreamed == ugBatch)
    assert(ugBatch.nonEmpty && ugBatch.forall(_ % 2 == 0),
      "unigram gate: suffixed docs drop, clean docs survive")
  }

  test("continual tokenizer: refit from ivmAppender word-count state == full-corpus fit") {
    import graft.text.WordPiece
    val dir = tmpDir("wpiv_in")
    val statePath = tmpDir("wpiv_state")
    val ckpt = tmpDir("wpiv_ckpt")
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val corpus = spark.read.parquet(s"$sf/documents.parquet").limit(90)
      .select($"doc_id", $"text", lit(t0).as("ingest_time"))
      .localCheckpoint()
    val parts = (0 to 2).map(i => corpus.filter($"doc_id" % 3 === i).localCheckpoint())
    parts(0).coalesce(1).write.mode("overwrite").parquet(dir)
    parts(1).coalesce(1).write.mode("append").parquet(dir)
    parts(2).coalesce(1).write.mode("append").parquet(dir)

    // standing word-count state: one IVM appender keyed on the word
    val stream = spark.readStream.schema(docsSchema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
      .select(explode(filter(split(trim($"text"), "\\s+"), _ =!= "")).as("w"))
      .withColumn("v", lit(1).cast("decimal(18,6)"))
    val q = DocsStream.ivmAppender(stream, statePath, ckpt,
      keys = Seq("w"), valueCol = "v")
    try q.processAllAvailable() finally q.stop()

    // refit from the standing counts — NO corpus rescan — must equal the
    // one-shot fit exactly (vocabulary is a function of word counts only)
    val standingCounts = spark.read.parquet(s"$statePath/batch=2")
      .select($"w", $"n".as("f"))
    val refit = WordPiece.vocabFromWordCounts(standingCounts, 48, 6)
      .as[(String, Long)].collect().toMap
    val oneShot = WordPiece.buildVocab(corpus, "text", 48, 6)
      .as[(String, Long)].collect().toMap
    assert(refit == oneShot,
      "refit from standing state must reproduce the full-corpus vocabulary")

    // the Unigram fit is a function of the SAME word-count state — the
    // continual-refit story holds for the Viterbi tokenizer too, log-prob
    // for log-prob (ln of exact counts, quantized)
    val ugRefit = graft.text.Unigram.vocabFromWordCounts(standingCounts, 48, 6)
      .as[(String, Long)].collect().toMap
    val ugOneShot = graft.text.Unigram.buildVocab(corpus, "text", 48, 6)
      .as[(String, Long)].collect().toMap
    assert(ugRefit == ugOneShot,
      "unigram refit from standing state must reproduce the full-corpus model")
  }

  test("semDedupAppender: streamed micro-batches == the sequential batch-API fold") {
    import graft.similarity.SemDeDup
    val tau = new java.math.BigDecimal("0.35")
    val emb = spark.read.parquet(s"$sf/embeddings.parquet").localCheckpoint()
    val base = emb.filter($"vec_id" % 4 =!= 0)
    val b1 = emb.filter($"vec_id" % 8 === 0).localCheckpoint()
    val b2 = emb.filter($"vec_id" % 8 === 4).localCheckpoint()
    val idx = SemDeDup.buildIndex(base, "vec_id", "embedding", dim = 64, tau = tau, k = 8, iters = 2)
    val cents = idx.centroids.localCheckpoint()

    // Seed the kept store, stage the two micro-batch files.
    val (keptP, resP, ckP, inP) = (tmpDir("sem_kept"), tmpDir("sem_res"),
      tmpDir("sem_ck"), tmpDir("sem_in"))
    idx.kept.write.mode("overwrite").parquet(keptP)
    b1.coalesce(1).write.mode("overwrite").parquet(inP)
    Thread.sleep(1100) // distinct mod-times -> deterministic file order
    b2.coalesce(1).write.mode("append").parquet(inP)

    val stream = spark.readStream.schema(emb.schema).option("maxFilesPerTrigger", 1).parquet(inP)
    val q = DocsStream.semDedupAppender(stream, cents, keptP, resP, ckP, tau = tau)
    try q.processAllAvailable() finally q.stop()

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "cluster", "attached_to", "n_near", "keep")
        .as[(Long, Int, Option[Long], Long, Boolean)].collect().toSet
    // Sequential batch-API fold in either file order (mod-time ordering
    // is deterministic here, but the pin must not depend on it).
    def fold(x: org.apache.spark.sql.DataFrame, y: org.apache.spark.sql.DataFrame) = {
      val r1 = SemDeDup.dedupIncrement(x, "vec_id", "embedding", idx, tau)
      val i2 = SemDeDup.appendSurvivors(idx, x, "vec_id", "embedding", r1)
      rows(r1) ++ rows(SemDeDup.dedupIncrement(y, "vec_id", "embedding", i2, tau))
    }
    val streamed = rows(spark.read.parquet(resP))
    val fwd = fold(b1, b2)
    assert(streamed == fwd || streamed == fold(b2, b1),
      "streamed decisions must equal the sequential batch fold")
    // The kept store grew by exactly the streamed survivors.
    val keptIds = spark.read.parquet(keptP).select("vec_id").as[Long].collect().toSet
    val baseKept = idx.kept.select("vec_id").as[Long].collect().toSet
    val survivors = streamed.filter(_._5).map(_._1)
    assert(keptIds == baseKept ++ survivors, "kept store must grow by the survivors only")
  }

  test("substringDedupAppender: stored-copy gated, fresh kept, streamed-survivor copy gated") {
    import graft.text.SubstringDedup
    // deterministic corpus: ~50-token sentences, each token unique to
    // its base string so cross-doc sharing exists ONLY where planted
    def sentence(tag: String): String =
      (1 to 50).map(i => s"$tag$i").mkString(" ")
    val seedText = sentence("seed")
    val freshA = sentence("alpha")
    val freshB = sentence("beta")
    val seed = Seq((1L, seedText)).toDF("doc_id", "text")

    val (idxP, resP, ckP, inP) = (tmpDir("ssd_idx"), tmpDir("ssd_res"),
      tmpDir("ssd_ck"), tmpDir("ssd_in"))
    // seed contract: the versioned layout's batch=-1 (below every real id)
    SubstringDedup.buildAnchorIndex(seed, "doc_id", "text", gramLen = 16, window = 8)
      .write.mode("overwrite").parquet(s"$idxP/batch=-1")

    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    // batch 1: a copy of STORED content (drop) + a fresh doc (keep)
    val b1 = Seq((11L, s"intro11 $seedText outro11"), (12L, freshA))
      .toDF("doc_id", "text").withColumn("ingest_time", lit(t0))
    // batch 2: a copy of batch-1's SURVIVOR (drop — proves the fold),
    // a fresh doc (keep), and a copy of the DROPPED doc 11's content
    // (drop — via the seed index, not via 11, whose anchors never landed)
    val b2 = Seq((21L, s"pre21 $freshA post21"), (22L, freshB),
      (23L, s"x23 $seedText y23"))
      .toDF("doc_id", "text").withColumn("ingest_time", lit(t0))
    b1.coalesce(1).write.mode("overwrite").parquet(inP)
    Thread.sleep(1100) // distinct mod-times -> deterministic file order
    b2.coalesce(1).write.mode("append").parquet(inP)

    val stream = spark.readStream.schema(docsSchema)
      .option("maxFilesPerTrigger", 1).parquet(inP)
    val q = DocsStream.substringDedupAppender(stream, idxP, resP, ckP,
      gramLen = 16, window = 8, minSpan = 40, maxSharedFrac = 0.5)
    try q.processAllAvailable() finally q.stop()

    val keeps = spark.read.parquet(resP)
      .select("doc_id", "keep").as[(Long, Boolean)].collect().toMap
    assert(keeps == Map(11L -> false, 12L -> true, 21L -> false,
      22L -> true, 23L -> false), s"gate decisions wrong: $keeps")

    // the index grew by exactly the survivors' doc ids
    val idxDocs = spark.read.parquet(idxP).select("doc_id").as[Long].collect().toSet
    assert(idxDocs == Set(1L, 12L, 22L),
      s"anchor index must hold seed + survivors only: $idxDocs")

    // stream ≡ the hand-driven sequential batch-API fold
    def decide(batch: org.apache.spark.sql.DataFrame,
        idx: org.apache.spark.sql.DataFrame): Map[Long, Boolean] = {
      val spans = SubstringDedup.incrementalSharedSpans(batch, "doc_id", "text",
        idx, gramLen = 16, window = 8, minSpan = 40, includeBatchInternal = false)
      val cover = spans.groupBy("doc_id").agg(sum($"span_len").as("sc"))
      batch.join(cover, Seq("doc_id"), "left")
        .select($"doc_id",
          (coalesce($"sc", lit(0L)).cast("double") <=
            lit(0.5) * length($"text").cast("double")).as("keep"))
        .as[(Long, Boolean)].collect().toMap
    }
    val idx0 = SubstringDedup.buildAnchorIndex(seed, "doc_id", "text", 16, 8)
      .localCheckpoint()
    val d1 = decide(b1, idx0)
    val surv1 = b1.filter($"doc_id".isin(d1.filter(_._2).keys.toSeq: _*))
    val idx1 = idx0.unionByName(
      SubstringDedup.buildAnchorIndex(surv1, "doc_id", "text", 16, 8)).localCheckpoint()
    val d2 = decide(b2, idx1)
    assert(d1 ++ d2 == keeps, "streamed decisions must equal the sequential batch fold")

    // REAL replay (the r13 ADVICE failure mode): truncate the commit log
    // so batch 1 re-executes on restart. The pre-r14 blind appends
    // corrupted here — the replayed survivor (22) matched its OWN anchors
    // already in the index, flipped to keep=false, and appended a second,
    // contradictory decision row. The versioned layout must instead
    // reproduce decisions and index bit-identically, with no duplicates.
    val resBefore = spark.read.parquet(resP)
      .select("doc_id", "shared_chars", "n_spans", "n_chars", "keep")
      .collect().toSeq.sortBy(_.getLong(0))
    val idxBefore = spark.read.parquet(idxP).count()
    assert(new java.io.File(s"$ckP/commits/1").delete(),
      "test harness: expected commit file for batch 1")
    new java.io.File(s"$ckP/commits/.1.crc").delete() // ChecksumFs sidecar
    // stop() returns before the manager deregisters the query; starting
    // the restart too early trips the concurrent-checkpoint guard
    while (spark.streams.active.nonEmpty) Thread.sleep(50)
    val stream2 = spark.readStream.schema(docsSchema)
      .option("maxFilesPerTrigger", 1).parquet(inP)
    val q2 = DocsStream.substringDedupAppender(stream2, idxP, resP, ckP,
      gramLen = 16, window = 8, minSpan = 40, maxSharedFrac = 0.5)
    try q2.processAllAvailable() finally q2.stop()
    val resAfter = spark.read.parquet(resP)
      .select("doc_id", "shared_chars", "n_spans", "n_chars", "keep")
      .collect().toSeq.sortBy(_.getLong(0))
    assert(resAfter == resBefore,
      s"replayed batch must reproduce identical decisions, no duplicates:\n$resAfter\nvs\n$resBefore")
    assert(spark.read.parquet(idxP).count() == idxBefore,
      "replayed batch must replace, not duplicate, its anchor partition")
  }

  test("asOfEnrichAppender: micro-batch enrichment == batch as-of; dim growth visible to later batches only") {
    import graft.core.AsOf
    val (dimP, resP, ckP, inP) = (tmpDir("aoe_dim"), tmpDir("aoe_res"),
      tmpDir("aoe_ck"), tmpDir("aoe_in"))
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val dim0 = Seq(("A", 10L, 1.0), ("A", 20L, 2.0), ("B", 5L, 9.0))
      .toDF("sym", "qt", "px")
    dim0.write.mode("overwrite").parquet(dimP)
    val e0 = Seq(("A", 15L, 100), ("B", 50L, 200), ("C", 9L, 300))
      .toDF("sym", "tt", "qty").withColumn("ingest_time", lit(t0))
    e0.coalesce(1).write.mode("overwrite").parquet(inP)

    def start() = DocsStream.asOfEnrichAppender(
      spark.readStream.schema(e0.schema).option("maxFilesPerTrigger", 1).parquet(inP),
      dimP, resP, ckP, "sym", "tt", "sym", "qt", Seq("px"))
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()

    // the dimension grows AFTER batch 0 ran; only batch 1's events see it
    Seq(("A", 18L, 3.0)).toDF("sym", "qt", "px").write.mode("append").parquet(dimP)
    val e1 = Seq(("A", 19L, 400), ("B", 4L, 500)).toDF("sym", "tt", "qty")
      .withColumn("ingest_time", lit(t0))
    e1.coalesce(1).write.mode("append").parquet(inP)
    while (spark.streams.active.nonEmpty) Thread.sleep(50) // q1 deregisters async
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()

    val got = spark.read.parquet(resP).select("qty", "px")
      .as[(Int, Option[Double])].collect().toMap
    // batch 0 vs dim0: A@15→1.0 (the 18-quote did not exist yet),
    // B@50→9.0, C@9→null; batch 1 vs the grown dim: A@19→3.0 (growth
    // visible), B@4→null (nothing at-or-before 4)
    assert(got == Map(100 -> Some(1.0), 200 -> Some(9.0), 300 -> None,
      400 -> Some(3.0), 500 -> None), s"enrichment drifted: $got")

    // stream ≡ batch: each partition equals the batch exec on its snapshot
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"sym", $"tt", $"qty", $"px").collect().toSet
    assert(rows(spark.read.parquet(s"$resP/batch=0")) ==
      rows(AsOf.asOfJoinExec(e0, dim0, "sym", "tt", "sym", "qt", Seq("px"))))
    assert(rows(spark.read.parquet(s"$resP/batch=1")) ==
      rows(AsOf.asOfJoinExec(e1, spark.read.parquet(dimP),
        "sym", "tt", "sym", "qt", Seq("px"))))
  }

  test("qualityModelGated: distilled-classifier gate, stream == batch score+filter") {
    import graft.text.QualityModel
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val model = QualityModel.fit(
      docs.filter($"doc_id" % 3 =!= 0), "doc_id", "text",
      label = array_contains(graft.text.TextAnalysis.tokens($"text"), "spark"))
    // Materialize the model: the streaming gate must not re-run the fit
    // lineage per micro-batch.
    val frozen = QualityModel.LinearTextModel(
      model.weights.localCheckpoint(), model.scalars.localCheckpoint())
    val held = docs.filter($"doc_id" % 3 === 0).limit(60)
      .select($"doc_id", $"text",
        lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00")).as("ingest_time"))
      .localCheckpoint()
    val (inP, outP, ckP) = (tmpDir("qmg_in"), tmpDir("qmg_out"), tmpDir("qmg_ck"))
    held.filter($"doc_id" % 2 === 0).coalesce(1).write.mode("overwrite").parquet(inP)
    held.filter($"doc_id" % 2 =!= 0).coalesce(1).write.mode("append").parquet(inP)

    val stream = spark.readStream.schema(docsSchema).option("maxFilesPerTrigger", 1).parquet(inP)
    val q = DocsStream.qualityModelGated(stream, frozen, outP, ckP)
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.read.parquet(outP).select("doc_id").as[Long].collect().toSet
    val batchKept = held.join(
      QualityModel.score(held, "doc_id", "text", frozen).filter($"pred").select("doc_id"),
      Seq("doc_id"), "left_semi").select("doc_id").as[Long].collect().toSet
    assert(streamed == batchKept, "gate decisions must not depend on micro-batching")
    assert(streamed.nonEmpty && streamed.size < 60, "gate must actually separate")
  }

  test("bm25ServeStream: stream-served retrieval == one batch call (frozen-model invariance)") {
    import graft.similarity.SparseSim
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val index = SparseSim.buildBm25Index(
      docs.filter($"doc_id" % 10 =!= 0), "doc_id", "text").localCheckpoint()
    val queries = docs.filter($"doc_id" % 10 === 0).limit(40)
      .select($"doc_id", $"text",
        lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00")).as("ingest_time"))
      .localCheckpoint()
    val (inP, outP, ckP) = (tmpDir("bm25srv_in"), tmpDir("bm25srv_out"), tmpDir("bm25srv_ck"))
    queries.filter($"doc_id" % 20 === 0).coalesce(1).write.mode("overwrite").parquet(inP)
    queries.filter($"doc_id" % 20 === 10).coalesce(1).write.mode("append").parquet(inP)

    val stream = spark.readStream.schema(docsSchema).option("maxFilesPerTrigger", 1).parquet(inP)
    val q = DocsStream.bm25ServeStream(stream, index, outP, ckP)
    try q.processAllAvailable() finally q.stop()

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long, Double, Int)].collect().toSet
    val served = rows(spark.read.parquet(outP)
      .select("q_id", "doc_b", "n_shared", "score", "rn"))
    val batch = rows(SparseSim.bm25Retrieve(queries, "doc_id", "text", index)
      .select("q_id", "doc_b", "n_shared", "score", "rn"))
    assert(served.nonEmpty && served == batch,
      "micro-batched serving must be bit-identical to one batch retrieval")
  }

  test("anchorIndexAppender: stream-appended anchor index == batch buildAnchorIndex") {
    import graft.text.SubstringDedup
    val dir = tmpDir("stream_anchor_in")
    val (idx, ckpt) = (tmpDir("stream_anchor_idx"), tmpDir("stream_anchor_ckpt"))
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val corpus = spark.read.parquet(s"$sf/documents.parquet").limit(90)
      .select($"doc_id", $"text", lit(t0).as("ingest_time"))
      .localCheckpoint()
    corpus.filter($"doc_id" % 2 === 0).coalesce(1).write.mode("overwrite").parquet(dir)
    corpus.filter($"doc_id" % 2 === 1).coalesce(1).write.mode("append").parquet(dir)

    val stream = spark.readStream.schema(docsSchema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = DocsStream.anchorIndexAppender(stream, idx, ckpt)
    try q.processAllAvailable() finally q.stop()

    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select($"doc_id", $"pos".cast("long"), $"gram")
      .as[(Long, Long, String)].collect().toSet
    val maintained = rows(spark.read.parquet(idx))
    val rebuilt = rows(SubstringDedup.buildAnchorIndex(corpus, "doc_id", "text"))
    assert(maintained == rebuilt,
      "stream-appended anchor index must equal the batch build row set")
    assert(maintained.nonEmpty)
  }

  test("scd2Appender: stream-folded dimension == one-shot batch build") {
    import graft.core.Scd
    val real = spark.read.parquet(s"$sf/events.parquet")
      .filter($"event_type" === "purchase")
      .select($"user_id", $"event_id", $"ts", $"value")
    // One synthetic key whose tier changes INSIDE the last batch (tier 0,
    // then tier 4 a second later): a replay that refolds the batch into
    // a table already holding it closes the tier-4 row before it opens.
    val last = real.orderBy($"ts".desc, $"event_id".desc).limit(1)
    val flip = last.select(lit(-1L).as("user_id"), lit(-2L).as("event_id"), $"ts",
        lit(10.0).as("value"))
      .unionByName(last.select(lit(-1L).as("user_id"), lit(-1L).as("event_id"),
        ($"ts" + expr("INTERVAL 1 SECOND")).as("ts"), lit(100.0).as("value")))
      .select(real.schema.fields.map(f => col(f.name).cast(f.dataType)): _*)
    val purchases = real.unionByName(flip).localCheckpoint()
    val evSchema = purchases.schema
    val dir = tmpDir("scd2_in")
    val table = tmpDir("scd2_table") + "/dim"
    val ckpt = tmpDir("scd2_ckpt")
    // Three TIME-SLICED files written in order — micro-batches must
    // respect the append-only CDC contract per key, so slices are by ts.
    val day = dayofmonth($"ts")
    val isFlip = $"user_id" === -1L
    purchases.filter(day <= 10 && !isFlip).coalesce(1).write.mode("overwrite").parquet(dir)
    purchases.filter(day > 10 && day <= 20 && !isFlip).coalesce(1).write.mode("append").parquet(dir)
    purchases.filter(day > 20 || isFlip).coalesce(1).write.mode("append").parquet(dir)

    def stream() = spark.readStream.schema(evSchema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val attr = floor($"value" / 25.0).cast("long")
    val tsUs = unix_micros($"ts".cast("timestamp"))
    def run(): Unit = {
      val q = EventsStream.scd2Appender(stream(), table, ckpt,
        key = $"user_id", attr = attr, ts = tsUs, tiebreak = $"event_id")
      try q.processAllAvailable() finally q.stop()
    }
    run()

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long, Option[Long], Int, Boolean)].collect().toSet
    val folded = rows(EventsStream.scd2Table(spark, table))
    val oneShot = rows(Scd.scd2(purchases, $"user_id", attr, tsUs, $"event_id"))
    assert(oneShot.count(_._1 == -1L) == 2, "the synthetic key must carry two versions")
    assert(folded.nonEmpty && folded == oneShot,
      "stream-folded SCD2 table must equal the one-shot batch build")

    // REAL replay: truncate the commit log for the last batch and restart
    // — the batch re-executes, and the table must come out unchanged.
    assert(new java.io.File(s"$ckpt/commits/2").delete(),
      "test harness: expected commit file for batch 2")
    new java.io.File(s"$ckpt/commits/.2.crc").delete() // ChecksumFs sidecar
    while (spark.streams.active.nonEmpty) Thread.sleep(50)
    run()
    val replayed = rows(EventsStream.scd2Table(spark, table))
    assert(replayed == oneShot, "a replayed batch must refold into the table it first saw")
  }

  test("linkageServe: streamed fuzzy matches == one batch bestMatch call") {
    import graft.core.Linkage
    val roster = spark.read.parquet(s"$sf/customer.parquet")
      .select($"c_custkey", $"c_name").localCheckpoint()
    // Dirty probes: the q_entity_match typo classes, derived here so the
    // stream carries realistic linkage dirt.
    val dirty = roster.select($"c_custkey".as("d_key"),
      when($"c_custkey" % 3 === 0, concat(lit("C"), substring($"c_name", 3, 64)))
        .when($"c_custkey" % 3 === 1,
          concat(substring($"c_name", 1, 6), lit("m"), substring($"c_name", 7, 64)))
        .otherwise(concat(lit("Cuts"), substring($"c_name", 5, 64))).as("d_name"))
      .localCheckpoint()
    val dir = tmpDir("linkage_in")
    val out = tmpDir("linkage_out") + "/matches"
    val ckpt = tmpDir("linkage_ckpt")
    dirty.filter($"d_key" % 3 === 0).coalesce(1).write.mode("overwrite").parquet(dir)
    dirty.filter($"d_key" % 3 === 1).coalesce(1).write.mode("append").parquet(dir)
    dirty.filter($"d_key" % 3 === 2).coalesce(1).write.mode("append").parquet(dir)
    val stream = spark.readStream.schema(dirty.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = EventsStream.linkageServe(stream, roster, out, ckpt,
      probeId = "d_key", probeName = "d_name", rosterId = "c_custkey", rosterName = "c_name")
    try q.processAllAvailable() finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, String, Long, Double)].collect().toSet
    val streamed = rows(spark.read.parquet(out))
    val batch = rows(Linkage.bestMatch(dirty, "d_key", "d_name", roster, "c_custkey", "c_name"))
    assert(streamed.nonEmpty && streamed == batch,
      "stream-served matches must equal the batch call (stateless per-batch linkage)")
  }

  test("setsimGate: frozen-index near-dup gate, stream == one batch filter; drops real dups") {
    import graft.similarity.SetSimJoin
    import graft.text.TextAnalysis
    val docs = spark.read.parquet(s"$sf/documents.parquet").localCheckpoint()
    val base = docs.filter($"doc_id" % 4 =!= 0)
    val batchAll = docs.filter($"doc_id" % 4 === 0).localCheckpoint()
    val b1 = batchAll.filter($"doc_id" % 8 === 0).localCheckpoint()
    val b2 = batchAll.filter($"doc_id" % 8 === 4).localCheckpoint()
    val shingles = TextAnalysis.wordShingles($"text", 3)
    val idx = SetSimJoin.buildIndex(base, $"doc_id", shingles)

    val (outP, ckP, inP) = (tmpDir("ssg_out"), tmpDir("ssg_ck"), tmpDir("ssg_in"))
    b1.coalesce(1).write.mode("overwrite").parquet(inP)
    Thread.sleep(1100) // distinct mod-times -> deterministic file order
    b2.coalesce(1).write.mode("append").parquet(inP)
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(inP)
    val q = DocsStream.setsimGate(stream, idx, outP, ckP, t = 0.5)
    try q.processAllAvailable() finally q.stop()

    val got = spark.read.parquet(outP).select("doc_id").as[Long].collect().toSet
    // The frozen-gate decision is per-doc vs the index, so one batch
    // filter over the SAME docs must agree exactly.
    val hits = SetSimJoin.selfJoinIncrement(batchAll, $"doc_id", shingles, idx, t = 0.5)
      .filter($"side" === "index").select($"batch_id").as[Long].collect().toSet
    val all = batchAll.select("doc_id").as[Long].collect().toSet
    assert(got == all -- hits, "streamed survivors must equal the batch filter")
    assert(hits.nonEmpty, "the sf0.001 slice must exercise real index near-dups")
  }

  test("containmentGate: frozen-index quote filter, stream == one batch filter") {
    import graft.similarity.SetSimJoin
    import graft.text.TextAnalysis
    val docs = spark.read.parquet(s"$sf/documents.parquet").localCheckpoint()
    val base = docs.filter($"doc_id" % 4 =!= 0)
    val batchAll = docs.filter($"doc_id" % 4 === 0).localCheckpoint()
    val b1 = batchAll.filter($"doc_id" % 8 === 0).localCheckpoint()
    val b2 = batchAll.filter($"doc_id" % 8 === 4).localCheckpoint()
    val shingles = TextAnalysis.wordShingles($"text", 3)
    val idx = SetSimJoin.buildIndex(base, $"doc_id", shingles)

    val (outP, ckP, inP) = (tmpDir("cg_out"), tmpDir("cg_ck"), tmpDir("cg_in"))
    b1.coalesce(1).write.mode("overwrite").parquet(inP)
    Thread.sleep(1100)
    b2.coalesce(1).write.mode("append").parquet(inP)
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(inP)
    val q = DocsStream.containmentGate(stream, idx, outP, ckP, t = 0.5)
    try q.processAllAvailable() finally q.stop()

    val got = spark.read.parquet(outP).select("doc_id").as[Long].collect().toSet
    val hits = SetSimJoin.containmentIncrement(batchAll, $"doc_id", shingles, idx, t = 0.5)
      .filter($"side" === "batch_in_index").select($"doc_a").as[Long].collect().toSet
    val all = batchAll.select("doc_id").as[Long].collect().toSet
    assert(got == all -- hits, "streamed survivors must equal the batch filter")
    assert(hits.nonEmpty, "the sf0.001 slice must exercise real contained uploads")
  }

  test("driftMonitor: per-batch PSI rows == the batch psiAgainstRef on each slice") {
    import graft.core.Stats
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"n_chars").localCheckpoint()
    // Frozen reference model fitted offline on the even half.
    val (cuts, refCounts) = Stats.refHistogram(docs.filter($"doc_id" % 2 === 0), $"n_chars")
    val dir = tmpDir("drift_in")
    val out = tmpDir("drift_out") + "/psi"
    val ckpt = tmpDir("drift_ckpt")
    val s0 = docs.filter($"doc_id" % 3 === 0)
    val s1 = docs.filter($"doc_id" % 3 === 1)
    val s2 = docs.filter($"doc_id" % 3 === 2)
    s0.coalesce(1).write.mode("overwrite").parquet(dir)
    s1.coalesce(1).write.mode("append").parquet(dir)
    s2.coalesce(1).write.mode("append").parquet(dir)
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = DocsStream.driftMonitor(stream, out, ckpt, "n_chars", cuts, refCounts)
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.read.parquet(out).select($"n", $"psi")
      .as[(Long, Double)].collect().toSet
    val batch = Seq(s0, s1, s2).map(sl =>
      Stats.psiAgainstRef(sl, $"n_chars", cuts, refCounts)
        .as[(Long, Double)].collect().head).toSet
    assert(streamed.size == 3 && streamed == batch,
      "per-trigger PSI must equal the batch computation on the same slice")
    // Sanity: same-population slices sit well under the 0.25 action line.
    streamed.foreach { case (_, psi) => assert(psi >= 0.0 && psi < 0.25, s"psi $psi") }
  }

  test("DocsStream.piiGate drops Luhn-valid card numbers, stream identical to batch") {
    val dir = tmpDir("stream_docs_pii")
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val docs = Seq(
      (1L, "ordinary prose with no digits at all", t0),
      // 4532015112830366 passes the Luhn checksum — a real-looking PAN
      (2L, "card on file 4532015112830366 thanks", t0),
      // same digits, corrupted check digit: a false-positive digit run
      (3L, "invoice ref 4532015112830367 attached", t0),
      // short digit runs never qualify as candidates
      (4L, "order 12345 shipped 2026", t0),
      (5L, null.asInstanceOf[String], t0), // null text passes by convention
    ).toDF("doc_id", "text", "ingest_time")
    docs.coalesce(1).write.mode("overwrite").parquet(dir)

    val stream = spark.readStream.schema(docsSchema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = EventsStream.runToMemory(DocsStream.piiGate(stream), "docs_pii_gated")
    try {
      val streamed = spark.table("docs_pii_gated").select("doc_id").as[Long].collect().toSet
      val batch = DocsStream.piiGate(spark.read.schema(docsSchema).parquet(dir))
        .select("doc_id").as[Long].collect().toSet
      assert(streamed == batch, "streaming PII gate diverges from batch")
      assert(streamed == Set(1L, 3L, 4L, 5L),
        s"only the valid-checksum PAN doc should drop, got $streamed")
    } finally q.stop()
  }

  test("seqMiningAppender: closed sessions mined once, cross-batch bridge buffered, stream ≡ batch; replay idempotent") {
    import graft.core.SeqMine
    val evSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType)))
    def ev(rows: (Long, Long, String, Long)*) =
      rows.toDF("user_id", "t", "event_type", "event_id")
        .select(col("user_id"), timestamp_micros(col("t")).as("ts"),
          col("event_type"), col("event_id"))
    // gap = 100 µs. Batch 1: user 1 session (a b c) + user 2 opener (d).
    // Batch 2: user 1 far-later (a b) — closes the first session — and
    // user 2's BRIDGE (e at t=120, within gap of 50: one session across
    // batches, provable only if the buffer carried d). Batch 3: user 1
    // far-later (c) closes the (a b) session; its own opener stays open.
    val b1 = ev((1L, 0L, "a", 1L), (1L, 10L, "b", 2L), (1L, 20L, "c", 3L),
      (2L, 50L, "d", 4L))
    val b2 = ev((1L, 10000L, "a", 5L), (1L, 10010L, "b", 6L), (2L, 120L, "e", 7L))
    val b3 = ev((1L, 20000L, "c", 8L))
    val (inP, stP, resP, ckP) = (tmpDir("seq_in"), tmpDir("seq_state"),
      tmpDir("seq_res"), tmpDir("seq_ck"))
    b1.coalesce(1).write.mode("overwrite").parquet(inP)
    Thread.sleep(1100)
    b2.coalesce(1).write.mode("append").parquet(inP)
    Thread.sleep(1100)
    b3.coalesce(1).write.mode("append").parquet(inP)

    val stream = spark.readStream.schema(evSchema)
      .option("maxFilesPerTrigger", 1).parquet(inP)
    val q = EventsStream.seqMiningAppender(stream, stP, resP, ckP, gapUs = 100L)
    try q.processAllAvailable() finally q.stop()

    val streamed = EventsStream.seqSupports(spark, resP, minSupport = 1L)
      .as[(String, Int, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(streamed(("a>b", 2)) == 2L, s"both closed user-1 sessions witness a>b: $streamed")
    assert(streamed(("a>b>c", 3)) == 1L && streamed(("d>e", 2)) == 1L,
      s"bridged user-2 session must mine as ONE session: $streamed")
    assert(!streamed.keySet.exists(_._1.contains("c>")) || streamed.get(("c>", 2)).isEmpty)

    // stream + open-buffer flush ≡ one batch mine over the whole feed
    val latest = new java.io.File(stP).listFiles()
      .map(_.getName).filter(_.startsWith("batch=")).map(_.stripPrefix("batch=").toLong).max
    val buffer = spark.read.parquet(s"$stP/batch=$latest")
    val flushed = SeqMine.sessionPatterns(SeqMine.sessionize(buffer, 100L))
      .groupBy(col("pattern"), col("k")).agg(count(lit(1)).as("support"))
      .as[(String, Int, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(flushed.isEmpty, s"the lone trailing event mines nothing: $flushed")
    val full = SeqMine.frequentSequences(
      b1.unionByName(b2).unionByName(b3),
      user = col("user_id"), tsUs = unix_micros(col("ts")), typ = col("event_type"),
      tieBreak = col("event_id"), gapUs = 100L, minSupport = 1L)
      .as[(String, Int, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    val total = (streamed.keySet ++ flushed.keySet).map(k =>
      k -> (streamed.getOrElse(k, 0L) + flushed.getOrElse(k, 0L))).toMap
    assert(total == full, s"stream + flush must equal the batch mine: $total vs $full")

    // REAL replay: re-execute batch 1 — versioned sinks must reproduce
    // identical supports and buffer (no duplicates, no drift).
    assert(new java.io.File(s"$ckP/commits/1").delete(),
      "test harness: expected commit file for batch 1")
    new java.io.File(s"$ckP/commits/.1.crc").delete()
    while (spark.streams.active.nonEmpty) Thread.sleep(50)
    val stream2 = spark.readStream.schema(evSchema)
      .option("maxFilesPerTrigger", 1).parquet(inP)
    val q2 = EventsStream.seqMiningAppender(stream2, stP, resP, ckP, gapUs = 100L)
    try q2.processAllAvailable() finally q2.stop()
    val replayed = EventsStream.seqSupports(spark, resP, minSupport = 1L)
      .as[(String, Int, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(replayed == streamed, s"replay must be idempotent: $replayed vs $streamed")
  }
}
