package graft.tools

import graft.operators.Dedup
import graft.streaming.ArchiveDedup
import org.apache.spark.sql.functions._

/**
 * Scale measurement for the streaming archive-dedup loop
 * (`runMain graft.tools.ArchiveScale <dir> [nBatches] [batchRows]
 * [compactEvery] [mode]`): seed the archive from 90% of the corpus
 * (one-time), then drive N delta batches of the remaining rows through
 * the per-batch operator, timing each — per-batch wall is the number a
 * daily/hourly ingest pipeline actually pays, and it should stay
 * batch-shaped while the archive grows underneath it. Prints the live
 * archive-entry count per batch (the compaction invariant: bounded by
 * the tiering instead of growing with stream age) and a first-5 /
 * last-5 wall comparison. `mode` picks the modality twin:
 * `minhash` (default; documents.text), `semantic` (embeddings under
 * 64 pinned seed-sampled centroids), `cosine` (embeddings,
 * hyperplane-LSH widths auto-sized at the seed), or a corpus-stats
 * family (`token-stats` / `ngram-stats` — the CorpusStats streaming
 * sinks: per-batch partial-count folds, same tiered compaction, no
 * pairs output; the end-of-run check scores the full corpus against
 * the streamed archive and counts the rows).
 */
object ArchiveScale {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val nBatches = args.lift(1).map(_.toInt).getOrElse(5)
    val batchRows = args.lift(2).map(_.toLong).getOrElse(10000L)
    val compactEvery = args.lift(3).map(_.toInt).getOrElse(8)
    val mode = args.lift(4).getOrElse("minhash")
    // arg 5 "drift": emit the per-batch drift probe (pinned baseline)
    // inside each processBatch — its cost lands in the batch wall
    val driftDir =
      if (args.lift(5).contains("drift"))
        Some(java.nio.file.Files.createTempDirectory("graft-archive-drift").toString)
      else None
    val spark = graft.Graft.session()
    spark.sparkContext.setLogLevel("WARN")

    val statsMode = mode == "token-stats" || mode == "ngram-stats"
    val textMode = mode == "minhash" || statsMode
    val (table, idCol, payloadCol) =
      if (textMode) ("documents", "doc_id", "text")
      else ("embeddings", "vec_id", "embedding")
    val rows = graft.Tables(spark, dir, table)
    val archive = java.nio.file.Files.createTempDirectory("graft-archive").toString
    val pairsDir = java.nio.file.Files.createTempDirectory("graft-archive-pairs").toString
    val oldSide = rows.where(col(idCol) % 10 =!= 0)
    // global row_number is measurement-harness batch slicing over the
    // 10% delta slice (50k rows at ×100), never a product path — a real
    // ingest's batches arrive pre-partitioned from the source
    val newSide = rows.where(col(idCol) % 10 === 0)
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col(idCol))))

    def timed[T](name: String)(fn: => T): T = {
      val t0 = System.nanoTime()
      val r = fn
      println(f"$name%-44s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }

    timed(s"seed $mode archive (${oldSide.count()} rows, one-time)") {
      mode match {
        case "minhash" =>
          ArchiveDedup.seedArchive(
            Dedup.buildMinhashIndex(oldSide, idCol, payloadCol), archive)
        case "semantic" =>
          // 64 pinned centroids sampled deterministically from the seed
          val cents = oldSide.orderBy(col(idCol)).limit(64)
            .select(col(payloadCol).cast("array<float>"))
            .collect().map(_.getSeq[Float](0).toArray)
          ArchiveDedup.seedArchive(
            Dedup.buildSemanticIndex(oldSide, idCol, payloadCol, cents), archive)
        case "cosine" =>
          ArchiveDedup.seedArchive(
            Dedup.buildCosineIndex(oldSide, idCol, payloadCol), archive)
        case "token-stats" =>
          graft.operators.CorpusStats.seedTokenStatsArchive(
            oldSide, archive, idCol, payloadCol)
        case "ngram-stats" =>
          graft.operators.CorpusStats.seedNgramStatsArchive(
            oldSide, archive, idCol, payloadCol)
        case other => sys.error(s"unknown mode $other")
      }
    }
    def liveEntries(): Int =
      new java.io.File(archive).listFiles()
        .count(f => !f.getName.startsWith(".") &&
          f.getName != "base" && f.getName != "seed")
    val walls = (0 until nBatches).map { b =>
      val batch = newSide
        .where(col("__rn") > b * batchRows && col("__rn") <= (b + 1) * batchRows)
        .select(col(idCol), col(payloadCol))
      val t0 = System.nanoTime()
      mode match {
        case "token-stats" =>
          graft.operators.CorpusStats.processTokenStatsBatch(batch, b.toLong,
            archive, idCol, payloadCol, compactEvery = compactEvery)
        case "ngram-stats" =>
          graft.operators.CorpusStats.processNgramStatsBatch(batch, b.toLong,
            archive, idCol, payloadCol, compactEvery = compactEvery)
        case _ =>
          ArchiveDedup.processBatch(batch, b.toLong, archive, pairsDir,
            idCol, payloadCol, if (mode == "minhash") 0.5 else 0.9,
            compactEvery = compactEvery, driftDir = driftDir)
      }
      val w = (System.nanoTime() - t0) / 1e9
      println(f"batch $b%3d ($batchRows rows vs growing archive) $w%8.2f s  " +
        f"live entries ${liveEntries()}%3d")
      w
    }
    if (statsMode) {
      import graft.operators.CorpusStats
      timed("score full corpus against streamed stats archive") {
        if (mode == "token-stats")
          println(s"scored rows: ${CorpusStats.tokenFrequencyMetricsAgainst(
            CorpusStats.loadTokenStatsArchive(spark, archive),
            rows, idCol, payloadCol).count()}")
        else
          println(s"scored rows: ${CorpusStats.bigramCountsAgainst(
            CorpusStats.loadNgramStatsArchive(spark, archive),
            rows, idCol, payloadCol).count()}")
      }
    } else {
      val pairs = spark.read.schema("id_a BIGINT, id_b BIGINT")
        .option("basePath", pairsDir).parquet(pairsDir)
      println(s"total pairs: ${pairs.count()} across $nBatches batches")
    }
    if (nBatches >= 10) {
      val head = walls.take(5).sum / 5
      val tail = walls.takeRight(5).sum / 5
      println(f"first-5 mean wall $head%.2f s, last-5 mean wall $tail%.2f s " +
        f"(ratio ${tail / head}%.2f; live data grew " +
        f"${1.0 + nBatches * batchRows.toDouble / oldSide.count()}%.2fx)")
    }
    spark.stop()
  }
}
