package graft

import org.apache.spark.sql.streaming.OutputMode

import graft.operators.Events
import graft.streaming.EventStreams

/** Streaming twins vs batch operators on the real events fixture:
  * run the stream to completion over the static parquet and compare
  * with the batch result (which the DuckDB oracle already arbitrates).
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  // file stream sources need a DIRECTORY of (non-nanos) parquet: stage
  // the converted events table once
  private lazy val streamDir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft-stream").toString
    graft.sources.Tables(spark, dir).events.write.mode("overwrite").parquet(d)
    d
  }

  test("streaming hourly rollup == batch hourly rollup") {
    val tables = graft.sources.Tables(spark, dir)
    val stream = EventStreams.readEvents(spark, streamDir)
    // complete mode: emit all windows regardless of watermark, since
    // the static file is one batch (append would hold the tail back)
    val got = EventStreams.runToMemory(
      EventStreams.hourlyRollup(stream), "rollup_test", OutputMode.Complete())
      .select($"hour", $"event_type", $"n",
        $"sum_value".cast("decimal(18,2)").cast("double").as("sum_value"))
      .as[(java.sql.Timestamp, String, Long, Double)].collect().toSet
    val want = Events.hourlyRollup(tables.events)
      .as[(java.sql.Timestamp, String, Long, Double)].collect().toSet
    assert(got.size === want.size)
    // compare counts exactly; sums via the same decimal rounding
    assert(got.map(t => (t._1, t._2, t._3)) === want.map(t => (t._1, t._2, t._3)))
  }

  test("streaming hot-key counts == batch per-window groupBy") {
    val tables = graft.sources.Tables(spark, dir)
    val stream = EventStreams.readEvents(spark, streamDir)
    val got = EventStreams.runToMemory(
      EventStreams.hotKeys(stream), "hotkeys_test", OutputMode.Complete())
      .as[(java.sql.Timestamp, String, Long)].collect().toSet
    val want = tables.events
      .groupBy(org.apache.spark.sql.functions.window($"ts", "1 hour"),
        $"user_id".cast("string").as("key_value"))
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n_rows"))
      .select($"window.start".as("window_start"), $"key_value", $"n_rows")
      .as[(java.sql.Timestamp, String, Long)].collect().toSet
    assert(got === want)
    // downstream top-k read (the documented foreachBatch shape) finds
    // a per-window maximum consistent with the batch profile
    assert(got.groupBy(_._1).forall { case (_, rows) =>
      rows.exists(_._3 == rows.map(_._3).max)
    })
  }

  test("watermark finalizes windows and drops late data (append mode)") {
    import java.sql.Timestamp
    def ev(id: Long, ts: String, v: Double) =
      (id, Timestamp.valueOf(ts), 1L, "view", v, "{}")
    val dir = java.nio.file.Files.createTempDirectory("graft-late").toString
    def writeBatch(name: String, rows: Seq[(Long, Timestamp, Long, String, Double, String)]): Unit =
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(dir)

    writeBatch("b1", Seq(
      ev(1, "2024-01-01 08:10:00", 1.0),
      ev(2, "2024-01-01 12:00:00", 1.0)))  // watermark -> 10:00
    val q = EventStreams.hourlyRollup(EventStreams.readEvents(spark, dir))
      .writeStream.outputMode("append")
      .format("memory").queryName("late_test").start()
    try {
      q.processAllAvailable()
      writeBatch("b2", Seq(
        ev(3, "2024-01-01 08:20:00", 1.0),   // LATE: behind the watermark
        ev(4, "2024-01-01 15:00:00", 1.0)))  // advances watermark to 13:00
      q.processAllAvailable()
    } finally q.stop()

    val rows = spark.table("late_test")
      .select($"hour", $"n").as[(java.sql.Timestamp, Long)].collect().toMap
    // 08:00 window finalized after batch 1 with n=1; the late event
    // must NOT re-emit or extend it
    assert(rows(java.sql.Timestamp.valueOf("2024-01-01 08:00:00")) === 1L)
    // 12:00 window finalized once the watermark passed 13:00
    assert(rows(java.sql.Timestamp.valueOf("2024-01-01 12:00:00")) === 1L)
    // 15:00 window is still open -> not emitted in append mode
    assert(!rows.contains(java.sql.Timestamp.valueOf("2024-01-01 15:00:00")))
  }

  test("streaming sessionize == batch sessionize (single-batch case)") {
    import org.apache.spark.sql.functions.{max => fmax, unix_micros}
    val tables = graft.sources.Tables(spark, dir)
    val events = EventStreams.readEvents(spark, streamDir)
      .as[EventStreams.Event]
    val sessions = EventStreams.sessionize(events)
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("sess_test").start()
    try q.processAllAvailable() finally q.stop()
    // append mode emits sessions closed by a gap, PLUS open sessions
    // flushed by the event-time timeout once the final watermark
    // (max event ts − 2h delay, ms-floored like Spark's EventTimeStats)
    // passes session_end + gap. Timestamps compare exactly: the stream
    // reconstructs micros (ADVICE round 1).
    val got = spark.table("sess_test")
      .select("user_id", "session_id", "session_start", "session_end", "n_events")
      .as[(Long, Long, java.sql.Timestamp, java.sql.Timestamp, Long)].collect().toSet
    val batch = Events.sessionize(tables.events)
    val lastPerUser = batch.groupBy($"user_id")
      .agg(fmax($"session_id").as("last"))
    val maxTsUs = tables.events
      .agg(fmax(unix_micros($"ts"))).as[Long].head()
    val wmMs = maxTsUs / 1000L - 2L * 3600L * 1000L
    val gapMs = 30L * 60L * 1000L
    val expected = batch.join(lastPerUser, "user_id")
      .filter($"session_id" < $"last" ||
        unix_micros($"session_end") / 1000L + gapMs < wmMs)
      .select("user_id", "session_id", "session_start", "session_end", "n_events")
      .as[(Long, Long, java.sql.Timestamp, java.sql.Timestamp, Long)].collect().toSet
    assert(got === expected)
    assert(got.nonEmpty)
    // the timeout path actually fired (some last-sessions were flushed)
    val closedOnly = batch.join(lastPerUser, "user_id")
      .filter($"session_id" < $"last")
      .select("user_id", "session_id", "session_start", "session_end", "n_events")
      .as[(Long, Long, java.sql.Timestamp, java.sql.Timestamp, Long)].collect().toSet
    assert(got.size > closedOnly.size,
      "expected at least one idle-user session flushed by EventTimeTimeout")
  }

  test("streaming as-of attribution == batch clickAttribution (single batch)") {
    val tables = graft.sources.Tables(spark, dir)
    val events = EventStreams.readEvents(spark, streamDir)
      .as[EventStreams.Event]
    val attributed = EventStreams.clickAttribution(events)
    val q = attributed.writeStream.outputMode("append")
      .format("memory").queryName("asof_stream").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("asof_stream")
      .as[(Long, Long, Long, java.sql.Timestamp)].collect().toSet
    // single batch: every user's events fold in one invocation, so the
    // TTL never intervenes and the streaming result must EQUAL batch
    val want = Events.clickAttribution(tables.events)
      .as[(Long, Long, Long, java.sql.Timestamp)].collect().toSet
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("streaming attribution carries click state across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val in = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double, String)]
    val events = in.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .as[EventStreams.Event]
    val q = EventStreams.clickAttribution(events).writeStream
      .outputMode("append").format("memory").queryName("asof_rebatch").start()
    try {
      in.addData((1L, ts("2024-01-01 10:00:00"), 5L, "click", 0.0, "{}"))
      q.processAllAvailable()
      in.addData((2L, ts("2024-01-01 10:30:00"), 5L, "purchase", 1.0, "{}"))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("asof_rebatch")
      .select("event_id", "click_id").as[(Long, Long)].collect().toMap
    assert(got === Map(2L -> 1L),
      "a batch-2 purchase must attribute to the batch-1 click held in state")
  }

  test("stream-stream interval join == batch recentClickJoin (single batch)") {
    val tables = graft.sources.Tables(spark, dir)
    val events = EventStreams.readEvents(spark, streamDir)
    val joined = EventStreams.recentClickJoin(events)
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssj_test").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("ssj_test")
      .as[(Long, Long, Long, Long)].collect().toSet
    val want = Events.recentClickJoin(tables.events)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("stream-stream join matches across micro-batches within the horizon") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val in = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double, String)]
    val events = in.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val q = EventStreams.recentClickJoin(events).writeStream
      .outputMode("append").format("memory").queryName("ssj_rebatch").start()
    try {
      in.addData(
        (1L, ts("2024-01-01 10:00:00"), 5L, "click", 0.0, "{}"),
        (2L, ts("2024-01-01 08:00:00"), 5L, "click", 0.0, "{}")) // outside horizon
      q.processAllAvailable()
      in.addData((3L, ts("2024-01-01 10:30:00"), 5L, "purchase", 1.0, "{}"))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("ssj_rebatch")
      .select("purchase_id", "click_id", "gap_sec")
      .as[(Long, Long, Long)].collect().toSet
    assert(got === Set((3L, 1L, 1800L)),
      "batch-2 purchase joins the in-horizon batch-1 click only")
  }

  test("soak: clickAttribution state stays bounded by the TTL across batches") {
    import java.sql.Timestamp
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def ts(min: Long) = new Timestamp(base + min * 60000L)
    val dir = java.nio.file.Files.createTempDirectory("graft-soak-asof").toString
    val events = EventStreams.readEvents(spark, dir).as[EventStreams.Event]
    val q = EventStreams.clickAttribution(events).writeStream
      .outputMode("append").format("memory").queryName("soak_asof").start()
    def stateRows(): Long = q.recentProgress.reverse
      .find(_.stateOperators.nonEmpty)
      .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(-1L)
    val perBatch = 20
    val nBatches = 6
    val sizes = Seq.newBuilder[Long]
    try {
      var id = 0L
      for (b <- 0 until nBatches) {
        // each batch: 20 fresh users click, then purchase 10 min later;
        // batches 4h of EVENT time apart, so the 2h watermark delay +
        // 2h state TTL evict users two batches back
        val t0 = b.toLong * 240
        val rows = (1 to perBatch).flatMap { u =>
          val uid = (b * perBatch + u).toLong
          id += 2
          Seq((id - 1, ts(t0), uid, "click", 0.0, "{}"),
            (id, ts(t0 + 10), uid, "purchase", 1.0, "{}"))
        }
        rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
          .coalesce(1).write.mode("append").parquet(dir)
        q.processAllAvailable()
        sizes += stateRows()
      }
    } finally q.stop()
    val trace = sizes.result()
    val total = (nBatches * perBatch).toLong
    // every purchase attributed (state was alive within the horizon)
    assert(spark.table("soak_asof").count() === total)
    // the leak check: state must NOT accumulate one entry per user ever
    // seen — the TTL bounds it to the last few batches' active users
    assert(trace.last < total,
      s"state grew monotonically to all $total users: $trace")
    assert(trace.max <= 3L * perBatch,
      s"state exceeded a 3-batch working set: $trace")
  }

  test("soak: stream-stream join state is evicted past the horizon") {
    import java.sql.Timestamp
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def ts(min: Long) = new Timestamp(base + min * 60000L)
    val dir = java.nio.file.Files.createTempDirectory("graft-soak-ssj").toString
    val events = EventStreams.readEvents(spark, dir)
    val q = EventStreams.recentClickJoin(events).writeStream
      .outputMode("append").format("memory").queryName("soak_ssj").start()
    def stateRows(): Long = q.recentProgress.reverse
      .find(_.stateOperators.nonEmpty)
      .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(-1L)
    val perBatch = 20
    val nBatches = 5
    val sizes = Seq.newBuilder[Long]
    try {
      var id = 0L
      for (b <- 0 until nBatches) {
        val t0 = b.toLong * 240 // 4h apart: prior clicks leave the
        // 60min horizon + 2h delay before the next batch lands
        val rows = (1 to perBatch).flatMap { u =>
          val uid = (b * perBatch + u).toLong
          id += 2
          Seq((id - 1, ts(t0), uid, "click", 0.0, "{}"),
            (id, ts(t0 + 30), uid, "purchase", 1.0, "{}"))
        }
        rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
          .coalesce(1).write.mode("append").parquet(dir)
        q.processAllAvailable()
        sizes += stateRows()
      }
    } finally q.stop()
    val trace = sizes.result()
    val totalRows = (2L * nBatches * perBatch)
    assert(spark.table("soak_ssj").count() === (nBatches * perBatch).toLong)
    assert(trace.last < totalRows,
      s"join state retained every buffered row: $trace")
    assert(trace.max <= 3L * 2L * perBatch,
      s"join state exceeded a 3-batch working set: $trace")
  }

  test("streaming exact dedup == batch exactDuplicates (single batch)") {
    import graft.streaming.DocStreams
    val tables = graft.sources.Tables(spark, dir)
    val docDir = java.nio.file.Files.createTempDirectory("graft-docs").toString
    tables.documents.write.mode("overwrite").parquet(docDir)
    val keepers = DocStreams.dedupedDocs(DocStreams.readDocs(spark, docDir))
    val q = keepers.writeStream.outputMode("append")
      .format("memory").queryName("dedup_stream").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("dedup_stream")
      .as[(String, Long)].collect().toSet
    val want = graft.operators.Dedup.exactDuplicates(tables.documents)
      .select("fp", "keep_id").as[(String, Long)].collect().toSet
    assert(got === want,
      "single-batch streaming keepers must equal the batch canonical set")
    assert(got.nonEmpty)
  }

  test("streaming dedup never re-emits a fingerprint across batches") {
    // Spark 4.1 moved MemoryStream under execution.streaming.runtime
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.{length, lit}
    import graft.streaming.DocStreams
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val docs = in.toDF().toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("mem"))
      .withColumn("n_chars", length($"text").cast("long"))
    val q = DocStreams.dedupedDocs(docs).writeStream.outputMode("append")
      .format("memory").queryName("dedup_rebatch").start()
    try {
      in.addData((7L, "same body"), (9L, "same body"), (2L, "other body"))
      q.processAllAvailable()
      // duplicate content arrives again in a LATER batch with a
      // smaller doc_id: the earlier keeper must stand, nothing re-emits
      in.addData((1L, "same body"), (3L, "fresh body"))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("dedup_rebatch").as[(String, Long)].collect()
      .map(_._2).toSet
    assert(got === Set(7L, 2L, 3L),
      "keepers must be first-batch mins (7, 2) plus the new content (3)")
  }

  test("streaming near-dup pairs == batch simhashDupPairs (single batch)") {
    import graft.streaming.DocStreams
    val tables = graft.sources.Tables(spark, dir)
    val docDir = java.nio.file.Files.createTempDirectory("graft-neardup").toString
    tables.documents.write.mode("overwrite").parquet(docDir)
    val pairs = DocStreams.nearDupPairs(DocStreams.readDocs(spark, docDir))
    val q = pairs.writeStream.outputMode("append")
      .format("memory").queryName("neardup_stream").start()
    try q.processAllAvailable() finally q.stop()
    // a pair sharing several bands emits once per band — consumers
    // dropDuplicates, mirroring the batch operator's post-join dedup
    val got = spark.table("neardup_stream")
      .select("id1", "id2", "hamming").distinct()
      .as[(Long, Long, Long)].collect().toSet
    val want = graft.operators.Dedup.simhashDupPairs(tables.documents)
      .as[(Long, Long, Long)].collect().toSet
    assert(got === want,
      "single-batch streaming pairs must equal the batch pair set")
  }

  test("streaming near-dup detects pairs straddling micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.{length, lit}
    import graft.streaming.DocStreams
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val docs = in.toDF().toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("mem"))
      .withColumn("n_chars", length($"text").cast("long"))
    val base = "The quick brown fox jumps over the lazy dog and runs far away"
    val q = DocStreams.nearDupPairs(docs).writeStream.outputMode("append")
      .format("memory").queryName("neardup_rebatch").start()
    try {
      in.addData((1L, base + " home"),
        (4L, "Completely different content about distributed query engines"))
      q.processAllAvailable()
      // the near-copy arrives in a LATER batch: the pair must still
      // surface, against the state kept from batch one
      in.addData((2L, base + " home"))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("neardup_rebatch")
      .select("id1", "id2").distinct().as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 2L)),
      "the cross-batch near-dup pair (1,2) and nothing else")
  }

  test("streaming repeated spans == batch duplicatedWindows fps (single batch)") {
    import graft.streaming.DocStreams
    val tables = graft.sources.Tables(spark, dir)
    val docDir = java.nio.file.Files.createTempDirectory("graft-spans").toString
    tables.documents.write.mode("overwrite").parquet(docDir)
    val spans = DocStreams.repeatedSpans(DocStreams.readDocs(spark, docDir))
    val q = spans.writeStream.outputMode("append")
      .format("memory").queryName("spans_stream").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("spans_stream").as[String].collect().toSet
    val want = graft.operators.SubstringDedup.duplicatedWindows(tables.documents)
      .select("fp").as[String].collect().toSet
    assert(got === want,
      "single-batch streaming span set must equal the batch dup-window set")
    assert(got.nonEmpty)
  }

  test("streaming repeated spans fire once, on the batch that crosses 2") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.{length, lit}
    import graft.streaming.DocStreams
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val docs = in.toDF().toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("mem"))
      .withColumn("n_chars", length($"text").cast("long"))
    val span = "one two three four five six seven eight"
    val q = DocStreams.repeatedSpans(docs).writeStream.outputMode("append")
      .format("memory").queryName("spans_rebatch").start()
    try {
      in.addData((1L, span), (2L, "totally different words in this body here now"))
      q.processAllAvailable()
      assert(spark.table("spans_rebatch").count() === 0,
        "no span repeated yet after batch one")
      // the repeat arrives in a LATER batch — count crosses 2 against
      // state kept from batch one
      in.addData((3L, span))
      q.processAllAvailable()
      // a third copy must NOT re-emit
      in.addData((4L, span))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("spans_rebatch").as[String].collect()
    assert(got.length === 1, s"expected exactly one emission, got ${got.length}")
  }

  test("streaming bloom probe == batch decontaminateWithFilter (single batch)") {
    import graft.operators.BloomDecontam
    import graft.streaming.DocStreams
    val tables = graft.sources.Tables(spark, dir)
    val docDir = java.nio.file.Files.createTempDirectory("graft-bloom").toString
    tables.documents.write.mode("overwrite").parquet(docDir)
    // the filter is built OFFLINE from the (static) eval set, then
    // broadcast into the stream — the slowly-changing-side-input shape
    val filter = BloomDecontam.buildFilter(tables.documents)
    val flagged = BloomDecontam.decontaminateWithFilter(
      DocStreams.readDocs(spark, docDir), filter)
    val q = flagged.writeStream.outputMode("append")
      .format("memory").queryName("bloom_stream").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("bloom_stream")
      .as[(Long, Long)].collect().toSet
    val want = BloomDecontam.decontaminateRelational(tables.documents)
      .as[(Long, Long)].collect().toSet
    assert(got === want,
      "streaming bloom flags must equal the oracle-gated relational bloom")
    assert(got.nonEmpty)
  }

  test("streaming bloom probe is stateless: per-doc output ignores batch history") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.{length, lit}
    import graft.operators.BloomDecontam
    import graft.streaming.DocStreams
    implicit val sqlCtx = spark.sqlContext
    val leak = "alpha beta gamma delta epsilon zeta eta theta"
    // eval doc 10 (doc_id % 10 == 0) defines the filter
    val evalDocs = Seq((10L, leak)).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("mem"))
      .withColumn("n_chars", length($"text").cast("long"))
    val filter = BloomDecontam.buildFilter(evalDocs)
    val in = MemoryStream[(Long, String)]
    val docs = in.toDF().toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("mem"))
      .withColumn("n_chars", length($"text").cast("long"))
    val q = BloomDecontam.decontaminateWithFilter(docs, filter).writeStream
      .outputMode("append").format("memory").queryName("bloom_rebatch").start()
    try {
      in.addData((1L, leak), (2L, "totally different words in this body here now"))
      q.processAllAvailable()
      // the SAME contaminated text under a new id in a later batch is
      // flagged again — no keyed state, every doc judged on arrival
      in.addData((3L, leak))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("bloom_rebatch").as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 1L), (3L, 1L)),
      "both arrivals of the leaked span flag, the clean doc never does")
  }

  test("streaming bm25 query scoring == batch bm25Batch pre-rank scores") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.TextAnalysis
    import graft.streaming.DocStreams
    implicit val sqlCtx = spark.sqlContext
    val docsT = graft.sources.Tables(spark, dir).documents
    val impacts = TextAnalysis.bm25TermTable(docsT)
    val in = MemoryStream[(Long, String)]
    val q = DocStreams.bm25ScoreStream(
      in.toDF().toDF("query_id", "token"), impacts)
      .writeStream.outputMode("complete")
      .format("memory").queryName("bm25_stream").start()
    try {
      // two deliveries, including a duplicate term that must not
      // double-count and a second query arriving late
      in.addData((0L, "data"), (0L, "query"), (0L, "data"))
      q.processAllAvailable()
      in.addData((1L, "table"), (1L, "scan"))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("bm25_stream")
      .as[(Long, Long, Long)].collect().toSet
    val queries = Seq((0L, "data"), (0L, "query"), (1L, "table"),
      (1L, "scan")).toDF("query_id", "token")
    val want = TextAnalysis.bm25Batch(docsT, queries, topK = 1000000)
      .select("query_id", "doc_id", "score_micro")
      .as[(Long, Long, Long)].collect().toSet
    assert(got === want,
      "streamed scores must equal the oracle-gated batch scores")
    assert(got.nonEmpty)
  }

  test("streaming nb scoring == batch nbClassifierScores across batches") {
    import graft.operators.TextAnalysis
    import graft.streaming.DocStreams
    val docsT = graft.sources.Tables(spark, dir).documents
    val (pos, neg) = (Seq("src0", "src1", "src2"), Seq("src3", "src4", "src5"))
    // model trained OFFLINE by the batch tier; lm and the one-row
    // constants join the stream as static sides
    val (lm, consts) = TextAnalysis.nbModel(docsT, pos, neg)
    val nbDir = java.nio.file.Files.createTempDirectory("graft-nb-stream").toString
    docsT.filter($"doc_id" % 2 === 0).write.mode("append").parquet(nbDir)
    val q = TextAnalysis.nbScoreFrom(lm, consts,
        DocStreams.readDocs(spark, nbDir))
      .writeStream.outputMode("complete")
      .format("memory").queryName("nb_stream").start()
    try {
      q.processAllAvailable()
      docsT.filter($"doc_id" % 2 === 1).write.mode("append").parquet(nbDir)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("nb_stream")
      .as[(Long, Long, Long, Long)].collect().toSet
    val want = TextAnalysis.nbClassifierScores(docsT, pos, neg)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got === want,
      "streamed scores must equal the oracle-gated batch scorer's")
    assert(got.nonEmpty)
  }

  test("streaming composite gate == served batch gate across deliveries") {
    import graft.operators.{Curation, TextAnalysis}
    import graft.streaming.DocStreams
    val docsT = graft.sources.Tables(spark, dir).documents
    val (pos, neg) = (Seq("src0", "src1", "src2"), Seq("src3", "src4", "src5"))
    // artifacts trained OFFLINE by the batch tier: the LM ships as
    // the static join side, the constants AND the K-row threshold
    // table as literals (the codebook pattern)
    val (lm, consts) = TextAnalysis.nbModel(docsT, pos, neg)
    val (o1, o0, pd) = consts.select($"oov1", $"oov0", $"prior_diff")
      .as[(Long, Long, Long)].head()
    val thrRows = Curation.gateThresholds(docsT, pos, neg)
      .as[(String, Long, Long)].collect().toSeq
    val gDir = java.nio.file.Files.createTempDirectory("graft-gate-stream").toString
    docsT.filter($"doc_id" % 2 === 0).write.mode("append").parquet(gDir)
    val q = DocStreams.compositeGateStream(DocStreams.readDocs(spark, gDir),
        lm, o1, o0, pd, thrRows)
      .writeStream.outputMode("complete")
      .format("memory").queryName("gate_stream").start()
    try {
      q.processAllAvailable()
      docsT.filter($"doc_id" % 2 === 1).write.mode("append").parquet(gDir)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("gate_stream")
      .as[(Long, String, Long, Long, Boolean, Boolean, Boolean, Boolean)]
      .collect().toSet
    val want = Curation.compositeGateFrom(
        Curation.gateThresholds(docsT, pos, neg), lm, consts, docsT)
      .as[(Long, String, Long, Long, Boolean, Boolean, Boolean, Boolean)]
      .collect().toSet
    assert(got === want,
      "streamed gate rows must equal the served batch gate's")
    assert(got.exists(_._8) && got.exists(!_._8),
      "fixture must exercise both keep verdicts")
  }

  test("streaming composite gate: EMPTY threshold table matches the batch twin") {
    // a trained gate whose every source has keep quota zero emits NO
    // threshold rows; both twins must then return every doc with
    // ok_nb = false (and keep = false) rather than diverge — the
    // batch form's left join yields NULL thr, the stream ships typed
    // NULL lookup columns instead of a zero-arg map literal
    import graft.operators.{Curation, TextAnalysis}
    import graft.streaming.DocStreams
    val docsT = graft.sources.Tables(spark, dir).documents
    val (pos, neg) = (Seq("src0", "src1", "src2"), Seq("src3", "src4", "src5"))
    val (lm, consts) = TextAnalysis.nbModel(docsT, pos, neg)
    val (o1, o0, pd) = consts.select($"oov1", $"oov0", $"prior_diff")
      .as[(Long, Long, Long)].head()
    val gDir = java.nio.file.Files
      .createTempDirectory("graft-gate-empty").toString
    docsT.write.mode("append").parquet(gDir)
    val q = DocStreams.compositeGateStream(DocStreams.readDocs(spark, gDir),
        lm, o1, o0, pd, thresholds = Seq.empty)
      .writeStream.outputMode("complete")
      .format("memory").queryName("gate_empty_stream").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("gate_empty_stream")
      .as[(Long, String, Long, Long, Boolean, Boolean, Boolean, Boolean)]
      .collect().toSet
    val want = Curation.compositeGateFrom(
        Curation.gateThresholds(docsT, pos, neg).limit(0), lm, consts, docsT)
      .as[(Long, String, Long, Long, Boolean, Boolean, Boolean, Boolean)]
      .collect().toSet
    assert(got === want, "empty-threshold twins diverged")
    assert(got.nonEmpty && got.forall(r => !r._5 && !r._8),
      "empty threshold table must NB-drop (and keep-drop) every doc")
  }

  test("A1 airportTraffic runs UNCHANGED as a streaming query") {
    // the reference's flagship explode-count is declarative enough to
    // be execution-mode-agnostic: the SAME operator object runs over
    // readStream and its running counts equal the batch answer — no
    // twin reimplementation needed (explode + groupBy-count is a
    // supported streaming aggregation)
    import graft.operators.Airline
    val flights = Seq(
      ("ORD", "JFK"), ("ORD", "SFO"), ("JFK", "ORD"),
      ("CMI", null.asInstanceOf[String]))
      .toDF("Origin", "Dest")
    val fDir = java.nio.file.Files.createTempDirectory("graft-flights").toString
    flights.limit(2).write.mode("append").parquet(fDir)
    val schema = flights.schema
    val q = Airline.airportTraffic(
        spark.readStream.schema(schema).parquet(fDir))
      .writeStream.outputMode("complete")
      .format("memory").queryName("a1_stream").start()
    try {
      q.processAllAvailable()
      flights.write.mode("append").parquet(fDir) // second delivery: all 4
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("a1_stream").as[(String, Long)].collect().toMap
    val want = Airline.airportTraffic(
        spark.read.parquet(fDir))
      .as[(String, Long)].collect().toMap
    assert(got === want)
    assert(got("ORD") >= 3L)
  }

  test("streaming window index == batch windowIndex across batches") {
    import graft.operators.SubstringDedup
    import graft.streaming.DocStreams
    val docsT = graft.sources.Tables(spark, dir).documents
    val wDir = java.nio.file.Files.createTempDirectory("graft-widx-stream").toString
    docsT.filter($"doc_id" % 2 === 0).write.mode("append").parquet(wDir)
    val q = SubstringDedup.windowIndex(DocStreams.readDocs(spark, wDir))
      .writeStream.outputMode("complete")
      .format("memory").queryName("widx_stream").start()
    try {
      q.processAllAvailable()
      docsT.filter($"doc_id" % 2 === 1).write.mode("append").parquet(wDir)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("widx_stream")
      .as[(Long, Long)].collect().toSet
    val want = SubstringDedup.windowIndex(docsT)
      .as[(Long, Long)].collect().toSet
    assert(got === want,
      "the live index must equal the batch window index exactly")
    assert(got.nonEmpty)
  }

  test("streaming LM bigram counts == batch bigramCounts across batches") {
    import graft.operators.NgramLm
    import graft.streaming.DocStreams
    val ref = graft.sources.Tables(spark, dir).documents
      .filter($"source".isin("src0", "src1", "src2"))
      .localCheckpoint(true)
    val wDir = java.nio.file.Files
      .createTempDirectory("graft-lm-stream").toString
    ref.filter($"doc_id" % 2 === 0).write.mode("append").parquet(wDir)
    val q = NgramLm.bigramCounts(DocStreams.readDocs(spark, wDir))
      .writeStream.outputMode("complete")
      .format("memory").queryName("lm_stream").start()
    try {
      q.processAllAvailable()
      ref.filter($"doc_id" % 2 === 1).write.mode("append").parquet(wDir)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("lm_stream")
      .as[(String, String, Long)].collect().toSet
    val want = NgramLm.bigramCounts(ref)
      .as[(String, String, Long)].collect().toSet
    assert(got === want,
      "the live count state must equal the batch bigram table exactly")
    assert(got.nonEmpty)
  }

  test("streaming cluster split == batch clusterAwareSplit across deliveries") {
    import graft.operators.{Curation, Dedup}
    import graft.streaming.DocStreams
    val docsT = graft.sources.Tables(spark, dir).documents
    // the label store is trained OFFLINE by the batch tier
    val labels = Dedup.componentsOf(
        Dedup.minhashDupPairs(docsT, threshold = 0.7)
          .select($"id1", $"id2"))
      .localCheckpoint(true)
    val sDir = java.nio.file.Files
      .createTempDirectory("graft-split-stream").toString
    docsT.filter($"doc_id" % 2 === 0).write.mode("append").parquet(sDir)
    val q = Curation.clusterAwareSplit(
        DocStreams.readDocs(spark, sDir), labels)
      .writeStream.outputMode("append")
      .format("memory").queryName("split_stream").start()
    try {
      q.processAllAvailable()
      docsT.filter($"doc_id" % 2 === 1).write.mode("append").parquet(sDir)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("split_stream")
      .as[(Long, Long, Long, String)].collect().toSet
    val want = Curation.clusterAwareSplit(docsT, labels)
      .as[(Long, Long, Long, String)].collect().toSet
    assert(got === want,
      "streamed split rows must equal the batch cluster-aware split")
    assert(got.nonEmpty)
  }

  test("streaming media decode == batch extractFeatures across deliveries") {
    import graft.operators.Multimodal
    import graft.streaming.EmbStreams
    val docs = graft.sources.Tables(spark, dir).documents
    val assets = Multimodal.synthesizeMediaFiles(docs).localCheckpoint(true)
    val mDir = java.nio.file.Files
      .createTempDirectory("graft-media-stream").toString
    assets.filter($"media_id" % 2 === 0).write.mode("append").parquet(mDir)
    val q = Multimodal.extractFeatures(EmbStreams.readMedia(spark, mDir)).toDF()
      .writeStream.outputMode("append")
      .format("memory").queryName("media_stream").start()
    try {
      q.processAllAvailable()
      assets.filter($"media_id" % 2 === 1).write.mode("append").parquet(mDir)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("media_stream")
      .as[(Long, String, Seq[Float])].collect()
      .map(r => (r._1, r._2, r._3)).toSet
    val want = Multimodal.extractFeatures(assets)
      .collect().map(f => (f.media_id, f.modality, f.features.toSeq)).toSet
    assert(got === want,
      "streamed decode+features must equal the batch operator exactly")
    assert(got.nonEmpty)
  }

  test("streaming image dHash == batch imageDHashes across deliveries") {
    import graft.operators.Multimodal
    import graft.streaming.EmbStreams
    val docs = graft.sources.Tables(spark, dir).documents
    val assets = Multimodal.synthesizeMediaFiles(docs).localCheckpoint(true)
    val mDir = java.nio.file.Files
      .createTempDirectory("graft-dhash-stream").toString
    assets.filter($"media_id" % 2 === 0).write.mode("append").parquet(mDir)
    val q = Multimodal.imageDHashes(EmbStreams.readMedia(spark, mDir))
      .writeStream.outputMode("append")
      .format("memory").queryName("dhash_stream").start()
    try {
      q.processAllAvailable()
      assets.filter($"media_id" % 2 === 1).write.mode("append").parquet(mDir)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("dhash_stream")
      .as[(Long, Long, Long)].collect().toSet
    val want = Multimodal.imageDHashes(assets)
      .as[(Long, Long, Long)].collect().toSet
    assert(got === want,
      "streamed perceptual hashes must equal the batch operator exactly")
    assert(got.nonEmpty)
  }

  test("streaming components fold == batch componentsOf across deliveries") {
    import graft.operators.Dedup
    import graft.streaming.DocStreams
    val pDir = java.nio.file.Files
      .createTempDirectory("graft-pairs-stream").toString
    val sDir = java.nio.file.Files
      .createTempDirectory("graft-labels-store").toString
    val cDir = java.nio.file.Files
      .createTempDirectory("graft-pairs-ckpt").toString
    def labels() = DocStreams.currentLabels(spark, sDir)
      .as[(Long, Long, Long)].collect().toSet
    def scratch(pairs: org.apache.spark.sql.DataFrame) =
      Dedup.componentsOf(pairs).as[(Long, Long, Long)].collect().toSet
    // before any delivery: an empty typed store
    assert(labels() === Set.empty)
    val d1 = Seq((1L, 2L), (5L, 6L), (8L, 9L)).toDF("id1", "id2")
    d1.write.mode("append").parquet(pDir)
    val q = DocStreams.componentsFoldSink(
      DocStreams.readPairs(spark, pDir), sDir, cDir)
    try {
      q.processAllAvailable()
      assert(labels() === scratch(d1),
        "after delivery 1 the store must equal components from scratch")
      // delivery 2: bridge 2-5 MERGES two earlier components; 10-11 new
      val d2 = Seq((2L, 5L), (10L, 11L)).toDF("id1", "id2")
      d2.write.mode("append").parquet(pDir)
      q.processAllAvailable()
      val got = labels()
      assert(got === scratch(d1.unionByName(d2)),
        "after the merging delivery the store must equal from-scratch")
      Seq(1L, 2L, 5L, 6L).foreach(id =>
        assert(got.contains((id, 1L, 4L)),
          s"cross-batch merged family wrong at $id"))
      assert(got.contains((10L, 10L, 2L)))
    } finally q.stop()
  }

  test("streaming LM gate == served batch lmGateFrom across deliveries") {
    import graft.operators.NgramLm
    import graft.streaming.DocStreams
    val docsT = graft.sources.Tables(spark, dir).documents
    val ref = docsT.filter($"source".isin("src0", "src1", "src2"))
      .localCheckpoint(true)
    // artifacts trained OFFLINE: count/context tables join
    // stream-static, the constants and the K-row cut ship as literals
    val bi = NgramLm.bigramCounts(ref).localCheckpoint(true)
    val (uniRaw, consts) = NgramLm.lmFromCounts(bi)
    val uni = uniRaw.localCheckpoint(true)
    val v = consts.as[Long].head()
    val thrRows = NgramLm.lmThresholds(ref, docsT)
      .as[(String, Long, Long)].collect().toSeq
    val gDir = java.nio.file.Files
      .createTempDirectory("graft-lmgate-stream").toString
    docsT.filter($"doc_id" % 2 === 0).write.mode("append").parquet(gDir)
    val q = DocStreams.lmGateStream(DocStreams.readDocs(spark, gDir),
        bi, uni, v, thrRows)
      .writeStream.outputMode("complete")
      .format("memory").queryName("lm_gate_stream").start()
    try {
      q.processAllAvailable()
      docsT.filter($"doc_id" % 2 === 1).write.mode("append").parquet(gDir)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("lm_gate_stream")
      .as[(Long, String, Long, Boolean)].collect().toSet
    val want = NgramLm.lmGateFrom(
        NgramLm.lmThresholds(ref, docsT), ref, docsT)
      .as[(Long, String, Long, Boolean)].collect().toSet
    assert(got === want,
      "streamed LM gate verdicts must equal the served batch gate's")
    assert(got.exists(_._4) && got.exists(!_._4),
      "fixture must exercise both keep verdicts")
  }

  test("signed LM counts: takedown events == batch retraction") {
    import graft.operators.NgramLm
    import graft.streaming.DocStreams
    val ref = graft.sources.Tables(spark, dir).documents
      .filter($"source".isin("src0", "src1", "src2"))
      .localCheckpoint(true)
    val wDir = java.nio.file.Files
      .createTempDirectory("graft-lm-signed").toString
    ref.withColumn("op", org.apache.spark.sql.functions.lit(1L))
      .write.mode("append").parquet(wDir)
    val q = DocStreams.lmCountStreamSigned(
        DocStreams.readSignedDocs(spark, wDir))
      .writeStream.outputMode("complete")
      .format("memory").queryName("lm_signed").start()
    try {
      q.processAllAvailable()
      ref.filter($"doc_id" % 3 === 0)
        .withColumn("op", org.apache.spark.sql.functions.lit(-1L))
        .write.mode("append").parquet(wDir)
      q.processAllAvailable()
    } finally q.stop()
    val state = spark.table("lm_signed")
      .as[(String, String, Long)].collect()
    val got = state.filter(_._3 > 0).toSet
    val want = NgramLm.bigramCounts(ref.filter($"doc_id" % 3 =!= 0))
      .as[(String, String, Long)].collect().toSet
    assert(got === want,
      "live signed counts (c12 > 0) must equal batch counts over survivors")
    // fully-retracted bigrams surface as ZERO rows — the update-mode
    // delete tombstone, where the batch fold drops the row
    assert(state.exists(_._3 == 0L),
      "expected tombstone rows for fully-retracted bigrams")
    assert(!state.exists(_._3 < 0L),
      "no count may go negative under disciplined ingest-before-takedown")
  }

  test("the stateless quality layer runs UNCHANGED on a stream") {
    // langId / quality / gopherRules are narrow per-row expression
    // chains — the SAME operator objects run over readStream (append
    // mode, no state), so the ingest tier gets the full rule-based
    // quality gate without twin reimplementation
    import graft.operators.TextAnalysis
    import graft.streaming.DocStreams
    val docsT = graft.sources.Tables(spark, dir).documents
    val qDir = java.nio.file.Files.createTempDirectory("graft-qual-stream").toString
    docsT.write.mode("append").parquet(qDir)
    val stream = DocStreams.readDocs(spark, qDir)
    val q = TextAnalysis.langId(stream)
      .join(TextAnalysis.quality(stream), Seq("doc_id"))
      .writeStream.outputMode("append")
      .format("memory").queryName("qual_stream").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("qual_stream")
      .select($"doc_id", $"pred_lang", $"quality")
      .as[(Long, String, Double)].collect().toSet
    val want = TextAnalysis.langId(docsT)
      .join(TextAnalysis.quality(docsT), Seq("doc_id"))
      .select($"doc_id", $"pred_lang", $"quality")
      .as[(Long, String, Double)].collect().toSet
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("the live window index composes with incrementalSpanStats") {
    // glue proof: the STREAMED index state is a drop-in input for the
    // batch delivery prober — ingest keeps the index live, and span
    // dedup of a new delivery probes it without any batch rebuild
    import graft.operators.SubstringDedup
    import graft.streaming.DocStreams
    val docsT = graft.sources.Tables(spark, dir).documents
    val even = docsT.filter($"doc_id" % 2 === 0)
    val odd = docsT.filter($"doc_id" % 2 === 1)
    val wDir = java.nio.file.Files.createTempDirectory("graft-widx-glue").toString
    even.write.mode("append").parquet(wDir)
    val q = SubstringDedup.windowIndex(DocStreams.readDocs(spark, wDir))
      .writeStream.outputMode("complete")
      .format("memory").queryName("widx_glue").start()
    try q.processAllAvailable() finally q.stop()
    val got = SubstringDedup
      .incrementalSpanStats(spark.table("widx_glue"), odd)
      .as[(Long, Long, Long, Double)].collect().toSet
    val want = SubstringDedup
      .incrementalSpanStats(SubstringDedup.windowIndex(even), odd)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("streaming nb counts == batch nbCounts type table across batches") {
    import graft.operators.TextAnalysis
    import graft.streaming.DocStreams
    val docsT = graft.sources.Tables(spark, dir).documents
    val (pos, neg) = (Seq("src0", "src1", "src2"), Seq("src3", "src4", "src5"))
    import org.apache.spark.sql.functions.when
    val labeled = docsT
      .filter($"source".isin((pos ++ neg): _*))
      .withColumn("cls", when($"source".isin(pos: _*), 1L).otherwise(0L))
      .select("doc_id", "text", "cls")
    val nbDir = java.nio.file.Files.createTempDirectory("graft-nbc-stream").toString
    labeled.filter($"doc_id" % 2 === 0).write.mode("append").parquet(nbDir)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("cls",
        org.apache.spark.sql.types.LongType)))
    val q = TextAnalysis.nbTypeCounts(
        spark.readStream.schema(schema).parquet(nbDir))
      .writeStream.outputMode("complete")
      .format("memory").queryName("nbc_stream").start()
    try {
      q.processAllAvailable()
      labeled.filter($"doc_id" % 2 === 1).write.mode("append").parquet(nbDir)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("nbc_stream")
      .as[(String, Long, Long)].collect().toSet
    val want = TextAnalysis.nbCounts(docsT, pos, neg)._1
      .as[(String, Long, Long)].collect().toSet
    assert(got === want,
      "the running state must equal the batch count artifact")
    assert(got.nonEmpty)
  }

  test("signed window index: takedown events == batch retraction, zeros tombstone") {
    import graft.operators.SubstringDedup
    import graft.streaming.DocStreams
    val docsT = graft.sources.Tables(spark, dir).documents
    val wDir = java.nio.file.Files
      .createTempDirectory("graft-widx-signed").toString
    // delivery 1: the whole corpus ingested (+1); delivery 2: every
    // third doc retracted as a takedown event (-1) carrying the same
    // text — ingest-before-takedown, the retraction stream's contract
    docsT.withColumn("op", org.apache.spark.sql.functions.lit(1L)).write.mode("append").parquet(wDir)
    val q = DocStreams.windowIndexStreamSigned(
        DocStreams.readSignedDocs(spark, wDir))
      .writeStream.outputMode("complete")
      .format("memory").queryName("widx_signed").start()
    try {
      q.processAllAvailable()
      docsT.filter($"doc_id" % 3 === 0).withColumn("op", org.apache.spark.sql.functions.lit(-1L))
        .write.mode("append").parquet(wDir)
      q.processAllAvailable()
    } finally q.stop()
    val state = spark.table("widx_signed")
      .as[(Long, Long)].collect()
    // live positive counts == the batch retracted index == a fresh
    // index over the survivors
    val got = state.filter(_._2 > 0).toSet
    val want = SubstringDedup.windowIndex(
      docsT.filter($"doc_id" % 3 =!= 0)).as[(Long, Long)].collect().toSet
    assert(got === want,
      "live signed state (n_occ > 0) must equal the batch index over survivors")
    // fully-retracted fingerprints surface as ZERO rows — the upsert
    // sink's delete tombstone, matching where the batch fold drops
    assert(state.exists(_._2 == 0L),
      "expected tombstone rows for fully-retracted windows")
    assert(!state.exists(_._2 < 0L), "no count may go negative")
  }

  test("signed manifest digest: takedown events == batch receipt digests over survivors") {
    import graft.operators.Curation
    import graft.streaming.DocStreams
    val docsT = graft.sources.Tables(spark, dir).documents
    val mDir = java.nio.file.Files
      .createTempDirectory("graft-mdig-signed").toString
    docsT.withColumn("op", org.apache.spark.sql.functions.lit(1L))
      .write.mode("append").parquet(mDir)
    val q = DocStreams.manifestDigestStreamSigned(
        DocStreams.readSignedDocs(spark, mDir))
      .writeStream.outputMode("complete")
      .format("memory").queryName("mdig_signed").start()
    try {
      q.processAllAvailable()
      docsT.filter($"doc_id" % 3 === 0)
        .withColumn("op", org.apache.spark.sql.functions.lit(-1L))
        .write.mode("append").parquet(mDir)
      q.processAllAvailable()
    } finally q.stop()
    val state = spark.table("mdig_signed")
      .as[(String, Long, Long, Long, Long)].collect()
    // live positive cells == the BATCH sub-manifest's count/token/
    // digest columns over the survivors (the receipt of record's own
    // commutative digest — the q178/q184 family, streamed)
    val got = state.filter(_._3 > 0).toSet
    val surv = docsT.filter($"doc_id" % 3 =!= 0)
    val withSplit = surv.join(
      Curation.hashSplit(surv).select("doc_id", "split"), Seq("doc_id"))
    val want = Curation.subManifestFromUnits(
        Curation.manifestUnits(withSplit, subShards = 4))
      .select("split", "sub", "n_docs", "n_tok", "sub_dig61")
      .as[(String, Long, Long, Long, Long)].collect().toSet
    assert(got === want,
      "live signed digest state (n_docs > 0) must equal the batch " +
        "receipt digests over survivors")
    assert(!state.exists(_._3 < 0L), "no cell count may go negative")
  }

  test("signed manifest digest: over-retraction SURFACES as n_docs < 0") {
    // the batch twin (signedSubDigest) raises on a negative fold; a
    // firehose cannot see the whole ledger, so the documented
    // contract is that a takedown without a matching ingest drives
    // the cell negative and the corrupted cell is EMITTED that way —
    // visible to a drift monitor, never clamped or filtered
    import graft.streaming.DocStreams
    val docsT = graft.sources.Tables(spark, dir).documents.limit(20)
    val oDir = java.nio.file.Files
      .createTempDirectory("graft-mdig-overretract").toString
    // takedown-only stream: every event is op = -1, no ingests at all
    docsT.withColumn("op", org.apache.spark.sql.functions.lit(-1L))
      .write.mode("append").parquet(oDir)
    val q = DocStreams.manifestDigestStreamSigned(
        DocStreams.readSignedDocs(spark, oDir))
      .writeStream.outputMode("complete")
      .format("memory").queryName("mdig_overretract").start()
    try q.processAllAvailable() finally q.stop()
    val state = spark.table("mdig_overretract")
      .as[(String, Long, Long, Long, Long)].collect()
    assert(state.nonEmpty && state.forall(_._3 < 0L),
      "over-retracted cells must be emitted with n_docs < 0")
    // ... and the digest column still lands in [0, 2^61-1): it LOOKS
    // valid, which is exactly why consumers must alarm on the count
    assert(state.forall(c => c._5 >= 0L &&
      c._5 < graft.operators.Curation.Dig61P))
  }

  test("signed nb counts: takedown events == batch retraction on the count table") {
    import graft.operators.TextAnalysis
    import graft.streaming.DocStreams
    val docsT = graft.sources.Tables(spark, dir).documents
    val (pos, neg) =
      (Seq("src0", "src1", "src2"), Seq("src3", "src4", "src5"))
    import org.apache.spark.sql.functions.when
    val labeled = docsT
      .filter($"source".isin((pos ++ neg): _*))
      .withColumn("cls", when($"source".isin(pos: _*), 1L).otherwise(0L))
      .select("doc_id", "text", "cls")
    val nbDir = java.nio.file.Files
      .createTempDirectory("graft-nbc-signed").toString
    labeled.withColumn("op", org.apache.spark.sql.functions.lit(1L)).write.mode("append").parquet(nbDir)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("cls",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("op",
        org.apache.spark.sql.types.LongType)))
    val q = DocStreams.nbCountStreamSigned(
        spark.readStream.schema(schema).parquet(nbDir))
      .writeStream.outputMode("complete")
      .format("memory").queryName("nbc_signed").start()
    try {
      q.processAllAvailable()
      labeled.filter($"doc_id" % 3 === 0).withColumn("op", org.apache.spark.sql.functions.lit(-1L))
        .write.mode("append").parquet(nbDir)
      q.processAllAvailable()
    } finally q.stop()
    val state = spark.table("nbc_signed")
      .as[(String, Long, Long)].collect()
    val got = state.filter(r => r._2 + r._3 > 0).toSet
    val want = TextAnalysis.nbCounts(
      docsT.filter($"doc_id" % 3 =!= 0), pos, neg)._1
      .as[(String, Long, Long)].collect().toSet
    assert(got === want,
      "live signed counts (nonzero) must equal batch nbCounts over survivors")
    assert(!state.exists(r => r._2 < 0 || r._3 < 0),
      "no class count may go negative")
  }

  test("streaming cms cells == batch cmsTable, including across batches") {
    import graft.streaming.DocStreams
    val tables = graft.sources.Tables(spark, dir)
    val cmsDir = java.nio.file.Files.createTempDirectory("graft-cms").toString
    // two deliveries: the stream must MERGE, not restart, across them
    tables.documents.filter($"doc_id" % 2 === 0)
      .write.mode("append").parquet(cmsDir)
    val q = DocStreams.cmsCells(DocStreams.readDocs(spark, cmsDir))
      .writeStream.outputMode("complete")
      .format("memory").queryName("cms_stream").start()
    try {
      q.processAllAvailable()
      tables.documents.filter($"doc_id" % 2 === 1)
        .write.mode("append").parquet(cmsDir)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("cms_stream")
      .as[(Long, Long, Long)].collect().toSet
    val want = graft.operators.Sketches.cmsTable(tables.documents)
      .as[(Long, Long, Long)].collect().toSet
    assert(got === want,
      "final streaming cells must equal the oracle-gated batch sketch")
    assert(got.nonEmpty)
  }

  test("streaming centroid labels == batch classifier assignment") {
    import graft.operators.Similarity
    import graft.streaming.EmbStreams
    val emb = graft.sources.Tables(spark, dir).embeddings
    val embDir = java.nio.file.Files.createTempDirectory("graft-cc-emb").toString
    emb.write.mode("overwrite").parquet(embDir)
    // centroids train OFFLINE on the batch tier's bucket 0-7 split,
    // then ship into the stream as literals (the codebook pattern)
    val model = Similarity.centroidModelLocal(emb)
    val q = EmbStreams.centroidLabels(
        EmbStreams.readEmbeddings(spark, embDir), model)
      .writeStream.outputMode("append")
      .format("memory").queryName("cc_stream").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("cc_stream")
      .as[(Long, Long)].collect().toMap
    val want = Similarity.centroidClassifier(emb)
      .select($"vec_id", $"pred_label").as[(Long, Long)].collect().toMap
    assert(got === want,
      "streamed assignments must equal the oracle-gated batch classifier")
    assert(got.nonEmpty)
  }

  test("streaming semantic ingest gate == batch gate (single batch)") {
    import graft.operators.Similarity
    import graft.streaming.EmbStreams
    val emb = graft.sources.Tables(spark, dir).embeddings
    val store = emb.filter($"vec_id" % 2 === 0).localCheckpoint(true)
    val batch = emb.filter($"vec_id" % 2 === 1).localCheckpoint(true)
    val cents = Similarity.ivfCentroidsDf(store).localCheckpoint(true)
    val cells = Similarity.cellsFromCentroids(cents, store)
      .localCheckpoint(true)
    val centsLocal = cents.as[(Long, Seq[Long], Double)].collect().toSeq
    val eDir = java.nio.file.Files
      .createTempDirectory("graft-anngate-stream").toString
    batch.write.mode("append").parquet(eDir)
    val q = EmbStreams.semanticGateFlags(
        EmbStreams.readEmbeddings(spark, eDir), centsLocal, cells, store)
      .writeStream.outputMode("complete")
      .format("memory").queryName("ann_gate_stream").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("ann_gate_stream")
      .as[(Long, Long, Long, Double)].collect().toSet
    val want = Similarity.semanticIngestGate(cents, cells, store, batch)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(got === want,
      "streamed gate flags must equal the oracle-gated batch gate")
    assert(got.nonEmpty, "fixture must flag at least one vector")
  }

  test("streaming pq codes == batch pqEncode codes (single batch)") {
    import graft.operators.Similarity
    import graft.streaming.EmbStreams
    val emb = graft.sources.Tables(spark, dir).embeddings
    val embDir = java.nio.file.Files.createTempDirectory("graft-emb").toString
    emb.write.mode("overwrite").parquet(embDir)
    // the codebook is trained OFFLINE by the batch tier, then shipped
    // into the stream as a literal — the model/data split
    val cb = Similarity.pqCodebookLocal(emb)
    val q = EmbStreams.pqCodes(EmbStreams.readEmbeddings(spark, embDir), cb)
      .writeStream.outputMode("append")
      .format("memory").queryName("pq_stream").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("pq_stream")
      .as[(Long, Seq[Long])].collect().map(r => r._1 -> r._2.toList).toMap
    val want = Similarity.pqEncode(emb)
      .as[(Long, Long, Long, Long)].collect()
      .groupBy(_._1)
      .map { case (id, rows) => id -> rows.sortBy(_._2).map(_._3).toList }
    assert(got === want,
      "per-vector streaming codes must equal the oracle-gated batch encoding")
    assert(got.nonEmpty)
  }

  test("streaming sq codes == batch sqEncodeFrom codes (single batch)") {
    import graft.operators.Similarity
    import graft.streaming.EmbStreams
    val emb = graft.sources.Tables(spark, dir).embeddings
    val embDir = java.nio.file.Files.createTempDirectory("graft-sqemb").toString
    emb.write.mode("overwrite").parquet(embDir)
    // extrema trained OFFLINE by the batch tier, shipped as literals
    val stats = Similarity.sqStats(emb).localCheckpoint(true)
    val (vmin, vmax) = Similarity.sqStatsLocal(stats)
    val q = EmbStreams.sqCodes(EmbStreams.readEmbeddings(spark, embDir),
        vmin, vmax)
      .writeStream.outputMode("append")
      .format("memory").queryName("sq_stream").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("sq_stream")
      .as[(Long, Seq[Long])].collect().map(r => r._1 -> r._2.toList).toMap
    val want = Similarity.sqEncodeFrom(stats, emb)
      .as[(Long, Seq[Long], Long)].collect()
      .map(r => r._1 -> r._2.toList).toMap
    assert(got === want,
      "per-vector streaming SQ codes must equal the batch encode")
    assert(got.nonEmpty)
  }
}
