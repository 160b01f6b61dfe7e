package graft.tools

import graft.operators.Dedup
import graft.streaming.ArchiveDedup
import org.apache.spark.sql.functions._

/**
 * Scale measurement for the archive takedown operation
 * (`runMain graft.tools.ForgetScale <dir> [mode]`): seed a dedup
 * archive from 90% of the corpus, fold one 10%-sized batch, then
 * `forgetDocs` a ~2% sample of the archived ids (id%100 in {7,10}, half
 * seed-side / half folded-sliver), timing the forget and
 * the before/after delta-dedup of a probe batch. The forget's cost is
 * one anti-join plus a full index REWRITE from the archive's own
 * payload (never the corpus text) committed as a generation entry —
 * the number a compliance pipeline pays per takedown batch, amortized
 * across however many ids one forget carries.
 */
object ForgetScale {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val mode = args.lift(1).getOrElse("minhash")
    val spark = graft.Graft.session()
    spark.sparkContext.setLogLevel("WARN")

    val textMode = mode == "minhash"
    val (table, idCol, payloadCol) =
      if (textMode) ("documents", "doc_id", "text")
      else ("embeddings", "vec_id", "embedding")
    val rows = graft.Tables(spark, dir, table)
    val archive = java.nio.file.Files.createTempDirectory("graft-forget").toString
    val pairsDir = java.nio.file.Files.createTempDirectory("graft-forget-p").toString

    def timed[T](name: String)(fn: => T): T = {
      val t0 = System.nanoTime()
      val r = fn
      println(f"$name%-52s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }

    val seedSide = rows.where(col(idCol) % 10 =!= 0)
    timed(s"seed $mode archive (${seedSide.count()} rows)") {
      ArchiveDedup.seedArchive(
        if (textMode) Dedup.buildMinhashIndex(seedSide, idCol, payloadCol)
        else Dedup.buildCosineIndex(seedSide, idCol, payloadCol), archive)
    }
    val batch = rows.where(col(idCol) % 10 === 0)
      .select(col(idCol), col(payloadCol))
    timed(s"fold one batch (${batch.count()} rows)") {
      ArchiveDedup.processBatch(batch, 0L, archive, pairsDir,
        idCol, payloadCol, if (textMode) 0.5 else 0.9)
    }
    // takedown: 2% of the archived ids, half from each population —
    // % 100 == 7 lives seed-side (7 % 10 != 0), % 100 == 10 lives in
    // the folded sliver (10 % 10 == 0), so the measured rewrite covers
    // rows in the base generation AND rows in b<id> entries
    val victims = rows
      .where(col(idCol) % 100 === 7 || col(idCol) % 100 === 10)
      .select(col(idCol).cast("long").as("id"))
    timed(s"forgetDocs (${victims.count()} ids, index rewrite + commit)") {
      ArchiveDedup.forgetDocs(spark, archive, victims)
    }
    // crash-retry regime (round 14): the same takedown again — the
    // ledger recognizes every victim and skips; this wall is what a
    // compliance pipeline's at-least-once retry actually pays
    timed("forgetDocs retry (idempotent ledger skip)") {
      ArchiveDedup.forgetDocs(spark, archive, victims)
    }
    val remaining =
      if (textMode) ArchiveDedup.loadLatest(spark, archive, Dedup.MinhashIndex)._1.sets.count()
      else ArchiveDedup.loadLatest(spark, archive, Dedup.CosineIndex)._1.vecs.count()
    println(s"archive rows after forget: $remaining")
    timed("delta-dedup a probe batch against the post-forget archive") {
      val probe = rows.where(col(idCol) % 10 === 3).limit(1000)
        .select(col(idCol) + lit(10000000L) as idCol, col(payloadCol))
      ArchiveDedup.processBatch(probe, 1L, archive, pairsDir,
        idCol, payloadCol, if (textMode) 0.5 else 0.9)
    }
    spark.stop()
  }
}
