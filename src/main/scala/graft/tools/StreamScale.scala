package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Streaming state-growth measurement over a REAL corpus feed — the
 * round-9 evidence that the stateful streaming gates hold bounded state
 * under sustained load (the specs prove semantics at toy scale; this
 * drives the ×10 corpus through the same operators and publishes the
 * state store's row count per micro-batch).
 *
 * Feed: the sf dir's documents, split into `batches` micro-batches with
 * event time advancing horizon/2 per batch — so claims/fingerprints
 * MUST expire mid-run (watermark = max event − horizon passes a claim's
 * expiry ~4 batches after arrival) and a bounded plateau, not a
 * monotone climb, is the pass shape. Two pipelines:
 *
 *  - `neardup`: scrub gate → quality gate → [[graft.streaming.EventStream.nearDupBandVerdicts]]
 *    (the full streaming curation chain; state = band-bucket claims)
 *  - `exact`: [[graft.streaming.EventStream.dedupStream]]
 *    (state = canonical fingerprints within the watermark)
 *
 * Usage: runMain graft.tools.StreamScale <sfDir> [batches]
 */
object StreamScale {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val nBatches = if (args.length > 1) args(1).toInt else 20
    val spark = graft.Graft.session()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val docs = graft.Tables(spark, dir, "documents")
      .select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)].collect()
    println(s"corpus: ${docs.length} docs, $nBatches batches of " +
      s"~${math.max(1, (docs.length + nBatches - 1) / nBatches)}")
    val horizonMs = 1000L * 1000L
    val t0 = 1000000000L

    def drive(name: String, mk: DataFrame => DataFrame): Unit = {
      implicit val sqlCtx = spark.sqlContext
      val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String, Long)]
      val src = mem.toDS().toDF("doc_id", "text", "ts_ms")
        .withColumn("event_time", timestamp_millis(col("ts_ms")))
      val q = mk(src).writeStream.outputMode("append").format("noop").start()
      // ceil-sized batches: the tail remainder must be fed, not dropped
      // (and a batch count above the corpus size must not divide by zero)
      val per = math.max(1, (docs.length + nBatches - 1) / nBatches)
      try {
        (0 until nBatches).foreach { b =>
          val ts = t0 + b * horizonMs / 2
          val slice = docs.slice(b * per, math.min((b + 1) * per, docs.length))
          val w0 = System.nanoTime()
          mem.addData(slice.map { case (id, t) => (id, t, ts) }.toSeq)
          q.processAllAvailable()
          val wall = (System.nanoTime() - w0) / 1e9
          val st = Option(q.lastProgress).toSeq
            .flatMap(_.stateOperators.toSeq).headOption
          println(f"$name batch=$b%02d docs=${slice.length}%d wall=$wall%.2f " +
            f"state_rows=${st.map(_.numRowsTotal).getOrElse(-1L)}%d " +
            f"state_mem_bytes=${st.map(_.memoryUsedBytes).getOrElse(-1L)}%d")
        }
      } finally q.stop()
    }

    // how much of the corpus the stateless gates pass through — the
    // gated pipeline's state is bounded by THIS rate times the horizon
    val kept = graft.Tables(spark, dir, "documents")
      .where(graft.operators.QualityFilters.keepPredicate(col("text")))
      .count()
    println(s"quality gate keeps $kept/${docs.length} docs")

    drive("neardup", src =>
      graft.streaming.EventStream.nearDupBandVerdicts(
        src, "doc_id", "text", "event_time",
        numHashes = 16, bands = 4, shingleLen = 3, horizonMs = horizonMs).toDF())
    drive("neardup_gated", src =>
      graft.streaming.EventStream.nearDupBandVerdicts(
        graft.streaming.EventStream.qualityFilterStream(
          graft.streaming.EventStream.scrubStream(src, "text", Seq("lorem ipsum dolor")),
          "text"),
        "doc_id", "text", "event_time",
        numHashes = 16, bands = 4, shingleLen = 3, horizonMs = horizonMs).toDF())
    drive("exact", src =>
      graft.streaming.EventStream.dedupStream(src, "text", "event_time",
        s"$horizonMs milliseconds"))
    spark.stop()
  }
}
