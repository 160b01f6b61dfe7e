package graft

import graft.operators._
import graft.sources._
import org.apache.spark.sql.functions._

/**
 * End-to-end demo of the reference's user journey on this engine
 * (SURVEY §3: ingest → index → search → RAG → evaluate):
 *
 *   sbt "runMain graft.Demo [testdataDir]"
 *
 * 1. load documents, clean text, chunk, mock-embed (day_10 pipeline)
 * 2. store as a parquet collection + build an IVF index (day_9 pgvector)
 * 3. exact + ANN top-k search with metadata filtering (day_4/6/8)
 * 4. assemble a RAG context and a deterministic answer (day_11/12/15)
 * 5. IR-evaluate retrieval against label ground truth (day_13)
 * 6. dedup report over the corpus (training-data pipeline ops)
 */
object Demo {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Graft.session()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    println(s"== 1. ingest ($dir) ==")
    val docs = Tables(spark, dir, "documents")
      .withColumn("text", graft.functions.TextClean.cleanText(col("text")))
    val chunks = Chunkers.withChunkIds(
      Chunkers.tokenChunks(docs, "doc_id", "text", maxTokens = 60, overlapTokens = 10))
    val embedded = Embedder.embed(chunks, "doc_id", "text")
    println(s"docs=${docs.count()} chunks=${chunks.count()}")

    println("== 2. collection + IVF index ==")
    val root = java.nio.file.Files.createTempDirectory("graft-demo").toString
    CollectionStore.write(embedded, root, "kb")
    val coll = CollectionStore.read(spark, root, "kb")
    val index = AnnIndex.buildIvf(
      Tables(spark, dir, "embeddings"), "vec_id", "embedding", nlist = 8)
    AnnIndex.writeIndex(index, s"$root/ivf")

    println("== 3. search ==")
    val qv = Embedder.MockEncoder().encodeBatch(Seq("spark filter join table")).head
    KnnSearch.topK(coll, "doc_id", "embedding", qv, 5).show(5, truncate = false)
    val e = Tables(spark, dir, "embeddings")
    val queries = (0L until 5L).map(id => id -> Tables.queryVector(spark, dir, id))
    AnnIndex.searchIvf(index, queries, k = 3, nprobe = 2, excludeSelf = true)
      .show(6, truncate = false)

    println("== 3b. serving tier (resident slabs + sharded HNSW) ==")
    val typedVecs = e.select(col("vec_id").cast("long"), col("embedding").cast("array<float>"))
      .as[(Long, Array[Float])].rdd
    val dim = e.select(size(col("embedding"))).head().getInt(0)
    val servingQs = queries.map { case (id, v) => (id, v) }.toArray
    val flat = ServingIndex.buildFlat(typedVecs, dim)
    val hnsw = HnswIndex.build(typedVecs, dim, metric = KnnSearch.Cosine)
    val exactTop = flat.search(servingQs, k = 3, KnnSearch.Cosine)
    val hnswTop = hnsw.search(servingQs, k = 3)
    println("fused exact top-3 for q0: " + exactTop.head._2.toSeq)
    println("hnsw  top-3 for q0:       " + hnswTop.head._2.toSeq)
    flat.slabs.unpersist(); hnsw.shards.unpersist()

    println("== 3b'. SQ8 quantized tier (1 byte/dim, ADC search) ==")
    val sq8 = ServingIndex.buildSq8(typedVecs, dim)
    val sq8Top = sq8.search(servingQs, k = 3, KnnSearch.Cosine)
    println(s"sq8 top-3 for q0 (${sq8.bytesPerVector} B/vec vs ${8 + 4 * dim} flat): "
      + sq8Top.head._2.toSeq)
    sq8.slabs.unpersist()

    println("== 3c. mutable serving loop (insert -> search -> delete -> compact) ==")
    val mutable = ServingIndex.mutableFlat(typedVecs, dim)
    val q0 = servingQs.head._2
    mutable.upsert(900001L, q0) // insert a vector equal to query 0
    val afterInsert = mutable.search(servingQs.take(1), k = 3, KnnSearch.Cosine)
    println("after insert, q0 top-3:   " + afterInsert.head._2.toSeq)
    mutable.delete(900001L)
    mutable.compact()
    val afterDelete = mutable.search(servingQs.take(1), k = 3, KnnSearch.Cosine)
    println("after delete+compact:     " + afterDelete.head._2.toSeq)

    println("== 3d. keyword + hybrid retrieval (BM25 / RRF) ==")
    val bm = TextSearch.bm25TopK(docs, "doc_id", "text",
      Seq("spark", "join", "window"), k = 5)
    bm.show(5, truncate = false)
    val vecRank = KnnSearch.topKBatch(e, "vec_id", "embedding",
        queries.take(1), 5, KnnSearch.Cosine, excludeSelf = true)
      .select(col("doc_id"), col("rank"))
    val fused = TextSearch.rrfFuse(Seq(vecRank, TextSearch.asRanking(bm)), k = 5)
    println("hybrid RRF top-5: " + fused.collect().map(r =>
      s"${r.getLong(0)}@${r.getDouble(1)}").mkString(", "))

    println("== 4. RAG ==")
    val hits = KnnSearch.topKBatch(coll.dropDuplicates("doc_id"), "doc_id", "embedding",
      Seq((0L, qv)), 3)
    val ctx = Rag.buildContext(
      Rag.hydrate(hits, docs, "doc_id", "text"), budgetChars = 1200, perDocChars = 300)
    val answer = Rag.mockAnswer(
      Rag.renderPrompt(ctx, lit("What is a vector database?"))
        .withColumn("question", lit("What is a vector database?")), "question")
    answer.select("query_id", "answer").show(truncate = false)

    println("== 5. evaluation (label ground truth) ==")
    val retrieved = KnnSearch.topKBatch(e, "vec_id", "embedding", queries, 10,
        KnnSearch.Cosine, excludeSelf = true)
      .select("query_id", "doc_id", "rank")
    val lab = e.select(col("vec_id"), col("label"))
    val truth = lab.where(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("label"))
      .join(lab.select(col("vec_id").as("doc_id"), col("label")), Seq("label"))
      .where(col("query_id") =!= col("doc_id"))
      .select("query_id", "doc_id")
    IREval.sweep(retrieved, truth, Seq(1, 5, 10)).show(truncate = false)

    println("== 6. dedup report ==")
    Dedup.exactStats(docs, "text").show()
    println("near-dup pairs (jaccard>=0.5): " +
      Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5).count())
    docs.select(col("doc_id"),
        graft.functions.TextFunctions.rollingFingerprint(col("text")).as("rolling_fp"))
      .show(3, truncate = false)
    println("md5-simhash signatures (oracle-checked variant):")
    Dedup.simhashMd5Signatures(docs, "doc_id", "text").show(3)

    println("== 7. streaming near-dup filter (LSH bucket claims) ==")
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String, Long)]
    val src = mem.toDS().toDF("doc_id", "text", "ts_ms")
      .withColumn("event_time", timestamp_millis(col("ts_ms")))
    val verdicts = graft.streaming.EventStream.nearDupBandVerdicts(
      src, "doc_id", "text", "event_time")
    val keptBatches = scala.collection.mutable.ArrayBuffer.empty[Seq[Long]]
    val sq = verdicts.toDF().writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val ids = graft.streaming.EventStream.keptOf(b).collect().map(_.getLong(0)).toSeq.sorted
        if (ids.nonEmpty) keptBatches.synchronized { keptBatches += ids }
        ()
      }.start()
    val t0 = docs.select("text").head.getString(0)
    mem.addData((1L, t0, 1000000L))
    sq.processAllAvailable()
    mem.addData((2L, t0 + " tail", 1060000L), (3L, "an entirely different streaming document body", 1060000L))
    sq.processAllAvailable()
    sq.stop()
    println(s"kept per batch (doc 2 is a near-dup of doc 1): $keptBatches")

    spark.stop()
  }
}
