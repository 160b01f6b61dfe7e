package graft

import graft.streaming.EventStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("streaming windowed counts match the batch aggregation") {
    // stream the sf0.001 events parquet as a finite file source
    val dir = TestSpark.tempDir("events").toString
    // copy the single parquet file into a directory-shaped source
    val src = java.nio.file.Paths.get(TestSpark.sfDir, "events.parquet")
    java.nio.file.Files.copy(src, java.nio.file.Paths.get(dir, "events.parquet"))

    val stream = EventStream.readEvents(spark, dir)
    assert(stream.isStreaming)
    val q = EventStream.runToMemory(
      EventStream.windowedCounts(stream, "1 hour", "2 hours"), "stream_counts")
    try {
      val streamed = spark.table("stream_counts")
        .select(col("window.start").as("hour"), col("event_type"), col("n_events"))
        .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap

      val batch = EventStream.normalizedBatch(spark, s"$dir/events.parquet")
        .withColumn("event_time", timestamp_micros(expr("ts DIV 1000")))
        .groupBy(date_trunc("hour", col("event_time")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
        .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap

      assert(streamed === batch)
    } finally q.stop()
  }

  test("watermark drops data later than the threshold (append mode)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(java.sql.Timestamp, String, Double)]
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val agg = mem.toDF().toDF("event_time", "event_type", "value")
      .withWatermark("event_time", "10 minutes")
      .groupBy(window(col("event_time"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("late_test").start()
    try {
      mem.addData((ts(5), "click", 1.0), (ts(7), "click", 1.0))
      q.processAllAvailable()
      // advance event time far past the watermark → closes the first window
      mem.addData((ts(40), "view", 1.0))
      q.processAllAvailable()
      // now send data for the long-closed 10:00 window: must be dropped
      mem.addData((ts(6), "click", 99.0))
      q.processAllAvailable()
      val out = spark.table("late_test")
        .select(col("window.start").cast("string"), col("event_type"), col("n_events"))
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(out(("2024-01-01 10:00:00", "click")) === 2L) // late row NOT counted
    } finally q.stop()
  }

  test("streaming upsert sink applies latest-wins merges across batches") {
    import spark.implicits._
    val root = TestSpark.tempDir("sink").toString
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String, Long)]
    val q = EventStream.upsertSink(
      mem.toDF().toDF("id", "content", "v"), root, "docs", "id", "v")
    try {
      mem.addData((1L, "a", 1L), (2L, "b", 1L))
      q.processAllAvailable()
      mem.addData((1L, "a2", 2L), (3L, "c", 1L))
      q.processAllAvailable()
      val out = spark.read.parquet(graft.sources.CollectionStore.path(root, "docs"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(out === Map(1L -> "a2", 2L -> "b", 3L -> "c"))
    } finally q.stop()
  }

  test("streaming exact dedup keeps first arrival within the watermark horizon") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(h: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:00:00")
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(java.sql.Timestamp, Long, String)]
    val deduped = EventStream.dedupStream(
      mem.toDF().toDF("event_time", "doc_id", "text"), "text", "event_time",
      watermarkDelay = "1 hour")
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dedup_stream").start()
    try {
      // batch 1: "Hello World" twice (differing case/whitespace — same
      // canonical fingerprint) + one distinct doc
      mem.addData((ts(10), 1L, "Hello  World"), (ts(10), 2L, "hello world"),
        (ts(10), 3L, "another doc"))
      q.processAllAvailable()
      // batch 2: another copy inside the horizon — still suppressed
      mem.addData((ts(10), 4L, "HELLO WORLD"))
      q.processAllAvailable()
      val kept = spark.table("dedup_stream").select($"doc_id").as[Long].collect().toSet
      assert(kept === Set(1L, 3L), "first arrival per fingerprint within horizon")
      // jump event time far past the horizon. The watermark only advances
      // AFTER a batch, so doc 5 is still judged against the live ts(10)
      // state (suppressed) while its batch moves the watermark to 19:00,
      // evicting that state — doc 6 then re-emits (the documented
      // within-horizon contract), and doc 7 is suppressed by doc 6's state.
      mem.addData((ts(20), 5L, "hello world"))
      q.processAllAvailable()
      mem.addData((ts(20), 6L, "hello world"))
      q.processAllAvailable()
      mem.addData((ts(20), 7L, "hello world"))
      q.processAllAvailable()
      val kept2 = spark.table("dedup_stream").select($"doc_id").as[Long].collect().toSet
      assert(kept2 === Set(1L, 3L, 6L), "re-emitted after horizon eviction, copies suppressed")
    } finally q.stop()
  }

  test("streaming exact dedup state stays horizon-bounded under a continuous feed") {
    // 16 batches of distinct docs, event time advancing horizon/2 per
    // batch: a fingerprint leaves the state once the watermark (max event
    // − horizon) passes it, ~3 batches after arrival. Without eviction
    // the state would hold every fingerprint of the feed.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docsPerBatch = 100
    val horizonS = 1000L
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String, Long)]
    val src = mem.toDS().toDF("doc_id", "text", "ts_ms")
      .withColumn("event_time", timestamp_millis(col("ts_ms")))
    val q = EventStream.dedupStream(src, "text", "event_time",
        watermarkDelay = s"$horizonS seconds")
      .writeStream.outputMode("append").format("noop").start()
    val stateRows = scala.collection.mutable.ArrayBuffer.empty[Long]
    try {
      (0 until 16).foreach { b =>
        val ts = 1000000000L + b * horizonS * 1000L / 2
        mem.addData((0 until docsPerBatch).map { i =>
          val id = b * 1000L + i
          (id, s"distinct document $id", ts)
        })
        q.processAllAvailable()
        Option(q.lastProgress).filter(_.stateOperators.nonEmpty)
          .foreach(p => stateRows += p.stateOperators(0).numRowsTotal)
      }
    } finally q.stop()
    assert(stateRows.size === 16, s"no state readings: $stateRows")
    val steady = stateRows.takeRight(4)
    assert(steady.max <= docsPerBatch * 5L,
      s"fingerprints outlive the horizon: $stateRows")
    assert(stateRows.last <= stateRows.slice(6, 12).max,
      s"state still climbing at end of feed: $stateRows")
  }

  test("streaming quality gate equals the batch battery, batch by batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val good = (("the quick brown fox jumps over a lazy dog near the river " +
      "bank and waits in that shade for food ") * 3).trim
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val gated = graft.streaming.EventStream.qualityFilterStream(
      mem.toDF().toDF("doc_id", "text"), "text")
    val q = gated.writeStream.outputMode("append")
      .format("memory").queryName("quality_stream").start()
    try {
      mem.addData((1L, good), (2L, "way too short"), (3L, good + " extra"))
      q.processAllAvailable()
      mem.addData((4L, Array.fill(60)("kubernetes docker jenkins").mkString(" ")))
      q.processAllAvailable()
      val kept = spark.table("quality_stream").select($"doc_id").as[Long].collect().toSet
      assert(kept === Set(1L, 3L), "stateless battery: same verdicts as batch")
      // batch twin agrees on the identical input
      val batchKept = graft.operators.QualityFilters.keepDocuments(
          Seq((1L, good), (2L, "way too short"), (3L, good + " extra"),
            (4L, Array.fill(60)("kubernetes docker jenkins").mkString(" ")))
            .toDF("doc_id", "text"), "doc_id", "text")
        .select($"doc_id").as[Long].collect().toSet
      assert(batchKept === kept)
    } finally q.stop()
  }

  test("streaming scrub gate: blocklist drop + PII redaction, batch-identical") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val scrubbed = graft.streaming.EventStream.scrubStream(
      mem.toDF().toDF("doc_id", "text"), "text", Seq("forbidden phrase"))
    val q = scrubbed.writeStream.outputMode("append")
      .format("memory").queryName("scrub_stream").start()
    try {
      mem.addData(
        (1L, "mail me at a@b.io or 555-1234"),
        (2L, "contains the forbidden phrase here"),
        (3L, "clean text no pii"))
      q.processAllAvailable()
      val rows = spark.table("scrub_stream")
        .select($"doc_id", $"text").as[(Long, String)].collect().toMap
      assert(rows.keySet === Set(1L, 3L)) // blocklisted doc dropped
      assert(rows(1L) === "mail me at <EMAIL> or <PHONE>")
      assert(rows(3L) === "clean text no pii")
    } finally q.stop()
  }
}
