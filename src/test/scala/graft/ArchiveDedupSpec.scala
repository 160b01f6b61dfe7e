package graft

import graft.operators.Dedup
import graft.streaming.ArchiveDedup
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * The streaming daily-ingest loop (ArchiveDedup): every micro-batch
 * dedups against the latest persisted index snapshot, emits pairs
 * idempotently, and folds itself in so LATER batches see it — gated
 * here both through the batch function directly (replay semantics
 * included) and through a real MemoryStream → foreachBatch run.
 */
class ArchiveDedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val tA = "the quick brown fox jumps over the lazy dog near the quiet river bank today"
  private val tB = "structured streaming state stores hold horizon bounded claims across micro batches"
  private val tC = "completely different subject matter entirely about spark catalyst optimizer rules"

  private def tmp(prefix: String): String =
    TestSpark.tempDir(prefix).toString

  private def pairsOf(dir: String): Set[(Long, Long, Long)] =
    spark.read.option("basePath", dir).parquet(dir)
      .select(col("id_a"), col("id_b"), col("batch_id").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("batches dedup against the archive, fold in, and replay idempotently") {
    val archive = tmp("graft-arch")
    val pairsDir = tmp("graft-arch-pairs")
    val day0 = Seq((0L, tA), (1L, tA), (2L, tC)).toDF("doc_id", "text")
    ArchiveDedup.seedArchive(Dedup.buildMinhashIndex(day0, "doc_id", "text"), archive)

    val batch1 = Seq((10L, tA), (11L, tB)).toDF("doc_id", "text")
    ArchiveDedup.processBatch(batch1, 0L, archive, pairsDir, "doc_id", "text", 0.5)
    val after1 = pairsOf(pairsDir)
    assert(after1.contains((0L, 10L, 0L)) && after1.contains((1L, 10L, 0L)),
      s"batch 1 must pair with the day-0 archive: $after1")
    assert(!after1.exists(p => p._1 == 0L && p._2 == 1L),
      "old×old must never re-emit")

    // batch 2 pairs with BOTH the day-0 archive and the folded batch 1
    val batch2 = Seq((20L, tB), (21L, tA)).toDF("doc_id", "text")
    ArchiveDedup.processBatch(batch2, 1L, archive, pairsDir, "doc_id", "text", 0.5)
    val after2 = pairsOf(pairsDir)
    assert(after2.contains((11L, 20L, 1L)),
      s"batch 2 must see folded batch 1 as archive side: $after2")
    assert(after2.contains((0L, 21L, 1L)) && after2.contains((10L, 21L, 1L)),
      s"batch 2 must see day 0 AND batch 1: $after2")
    assert(!after2.exists(p => p._1 == 10L && p._2 == 11L && p._3 == 1L),
      "batch-1 internal pairs are old×old for batch 2")

    // replayed micro-batch (same batchId): both effects already durable
    ArchiveDedup.processBatch(batch1, 0L, archive, pairsDir, "doc_id", "text", 0.5)
    assert(pairsOf(pairsDir) === after2, "replay must be a no-op")
    val (latest, v) = ArchiveDedup.loadLatest(spark, archive, Dedup.MinhashIndex)
    assert(v === 1L)
    assert(latest.sets.count() === 7L, "archive holds day 0 + both batches exactly once")

    // compaction folds slivers into a fresh base; reads are equivalent
    val compacted = tmp("graft-arch-c")
    ArchiveDedup.compactArchive(spark, archive, compacted)
    val (cIx, cv) = ArchiveDedup.loadLatest(spark, compacted, Dedup.MinhashIndex)
    assert(cv === -1L, "compacted archive has no slivers")
    def keySet(ix: graft.operators.Dedup.MinhashIndex) =
      ix.buckets.select(col("bkt"), col("id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(keySet(cIx) === keySet(latest))
    assert(cIx.sets.count() === 7L)

    // RE-compacting into a dir this JVM already READ must serve the
    // fresh generation metadata, not the memoized one: reseed the
    // source under different widths, compact into the SAME dstDir,
    // and the reload must see the new params (stale-cache regression
    // guard for the per-JVM generation-metadata memo)
    ArchiveDedup.reseedMinhashArchive(
      Seq((0L, tA), (10L, tA), (11L, tB), (20L, tB), (21L, tA),
        (1L, tB), (2L, tC)).toDF("doc_id", "text"),
      archive, "doc_id", "text", numHashes = 32, bands = 8)
    ArchiveDedup.compactArchive(spark, archive, compacted)
    val (cIx2, _) = ArchiveDedup.loadLatest(spark, compacted, Dedup.MinhashIndex)
    assert(cIx2.numHashes === 32 && cIx2.bands === 8,
      "re-compaction into a previously-read dstDir must expose the " +
        "reseeded widths, not the memoized pre-reseed params")
  }

  test("cosine twin: embedding batches dedup against the archive, fold in, replay idempotently") {
    def vec(seedBase: Int): Array[Float] = {
      val r = new java.util.Random(7L * seedBase)
      Array.fill(16)(r.nextGaussian().toFloat)
    }
    val a = vec(1); val b = vec(2); val c = vec(3)
    val archive = tmp("graft-carch")
    val pairsDir = tmp("graft-carch-pairs")
    ArchiveDedup.seedArchive(Dedup.buildCosineIndex(
      Seq((0L, a), (1L, a), (2L, c)).toDF("vec_id", "embedding"),
      "vec_id", "embedding", numBits = 4, bands = 4), archive)
    // exactLimit = 0 exercises the LSH delta tier through the stream path
    val batch1 = Seq((10L, a), (11L, b)).toDF("vec_id", "embedding")
    ArchiveDedup.processBatch(batch1, 0L, archive, pairsDir,
      "vec_id", "embedding", 0.95, exactLimit = 0L)
    val after1 = pairsOf(pairsDir).map(p => (p._1, p._2))
    assert(after1.contains((0L, 10L)) && after1.contains((1L, 10L)),
      s"batch 1 vs seed: $after1")
    assert(!after1.contains((0L, 1L)), "old×old never re-emits")
    val batch2 = Seq((20L, b)).toDF("vec_id", "embedding")
    ArchiveDedup.processBatch(batch2, 1L, archive, pairsDir,
      "vec_id", "embedding", 0.95, exactLimit = 0L)
    val after2 = pairsOf(pairsDir).map(p => (p._1, p._2))
    assert(after2.contains((11L, 20L)), s"batch 2 must see folded batch 1: $after2")
    // replay is a no-op
    ArchiveDedup.processBatch(batch1, 0L, archive, pairsDir,
      "vec_id", "embedding", 0.95, exactLimit = 0L)
    assert(pairsOf(pairsDir).map(p => (p._1, p._2)) === after2)
    val (live, v) = ArchiveDedup.loadLatest(spark, archive, Dedup.CosineIndex)
    assert(v === 1L && live.vecs.count() === 6L)
  }

  test("auto-compaction bounds live entries, tiers ranges, and keeps reads + replays equivalent") {
    val archive = tmp("graft-arch-ac")
    val pairsDir = tmp("graft-arch-ac-pairs")
    val day0 = Seq((0L, tA), (1L, tC)).toDF("doc_id", "text")
    ArchiveDedup.seedArchive(Dedup.buildMinhashIndex(day0, "doc_id", "text"), archive)
    // 6 batches at compactEvery = 2: slivers merge pairwise into ranges
    // (c0-1, c2-3, …) and contiguous ranges merge again (c0-3) — tiered
    val texts = Seq(tA, tB, tC)
    (0 until 6).foreach { i =>
      val batch = Seq((100L + i, texts(i % 3))).toDF("doc_id", "text")
      ArchiveDedup.processBatch(batch, i.toLong, archive, pairsDir,
        "doc_id", "text", 0.5, compactEvery = 2)
    }
    val names = new java.io.File(archive).listFiles().map(_.getName).toSet
    assert(!names.exists(_.startsWith(".inprogress")), s"no temp dirs left: $names")
    // GC is deferred one cycle (readers keep their files for a batch
    // interval), so covered dirs may linger — the BOUNDED quantity is
    // the LIVE entry count (what loadLatest actually unions)
    val slivers = names.count(n => n.startsWith("b") && n.drop(1).forall(_.isDigit))
    assert(slivers <= 2 + 2, s"sliver dirs bounded (live + one GC cycle): $names")
    val ranges = names.filter(_.startsWith("c"))
    assert(ranges.nonEmpty, s"ranges merged tiered: $names")
    assert(ranges.contains("c0-3") || ranges.contains("c0-5"),
      s"contiguous ranges must have merged into a wider one: $names")

    // reads are equivalent: the live index holds exactly seed + all 6 batches
    val (live, last) = ArchiveDedup.loadLatest(spark, archive, Dedup.MinhashIndex)
    assert(last === 5L)
    assert(live.sets.count() === 8L, "seed 2 + 6 batch docs, exactly once")
    assert(live.sets.select(col("id")).distinct().count() === 8L)

    // pairs across compaction boundaries match a one-shot batch dedup of
    // the same corpus restricted to cross-day pairs
    val everything = day0.unionByName(
      (0 until 6).map(i => Seq((100L + i, texts(i % 3))).toDF("doc_id", "text"))
        .reduce(_ unionByName _))
    val oneShot = graft.operators.Dedup
      .minhashLshPairs(everything, "doc_id", "text", threshold = 0.5)
      .select(col("id_a"), col("id_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // streamed pairs = one-shot minus pairs internal to a single "day"
    // (day 0 internal mined at seed; each batch here is a single doc)
    val streamed = pairsOf(pairsDir).map(p => (p._1, p._2))
    val expect = oneShot.filterNot(p => p._1 < 100L && p._2 < 100L)
    assert(streamed === expect, s"streamed $streamed vs one-shot-derived $expect")

    // replay of a COMPACTED batch (sliver gone, range covers it): skip, no double-fold
    ArchiveDedup.processBatch(Seq((100L, tA)).toDF("doc_id", "text"), 0L,
      archive, pairsDir, "doc_id", "text", 0.5, compactEvery = 2)
    assert(ArchiveDedup.loadLatest(spark, archive, Dedup.MinhashIndex)._1.sets.count() === 8L)

    // restart WITHOUT checkpoint (same batchId, different ids, sliver
    // still live): must refuse loudly, not drop the batch silently
    val liveSliver = stateOfLiveSliver(archive)
    liveSliver.foreach { sid =>
      val ex = intercept[IllegalStateException] {
        ArchiveDedup.processBatch(Seq((999L, tB)).toDF("doc_id", "text"),
          sid, archive, pairsDir, "doc_id", "text", 0.5, compactEvery = 2)
      }
      assert(ex.getMessage.contains("checkpointLocation"))
    }

    // one more batch: the deferred GC cycle runs and covered dirs go
    ArchiveDedup.processBatch(Seq((200L, tB)).toDF("doc_id", "text"), 6L,
      archive, pairsDir, "doc_id", "text", 0.5, compactEvery = 2)
    val after = new java.io.File(archive).listFiles().map(_.getName).toSet
    val coveredLeft = after.count(n => n.startsWith("b") &&
      n.drop(1).forall(_.isDigit) && n.drop(1).toLong <= 5L)
    assert(coveredLeft === 0, s"covered slivers GC'd on the next cycle: $after")
    assert(ArchiveDedup.loadLatest(spark, archive, Dedup.MinhashIndex)._1.sets.count() === 9L)
  }

  test("gapped batch ids still compact (manifest ranges) and replay exactly") {
    val archive = tmp("graft-arch-gap")
    val pairsDir = tmp("graft-arch-gap-pairs")
    ArchiveDedup.seedArchive(Dedup.buildMinhashIndex(
      Seq((0L, tA)).toDF("doc_id", "text"),
      "doc_id", "text"), archive)
    // timestamp-style sparse batch ids: 10, 20, ..., 60 — the
    // value-interval [10, 60] contains ids that were NEVER folded
    val texts = Seq(tA, tB, tC)
    (1 to 6).foreach { i =>
      ArchiveDedup.processBatch(
        Seq((100L + i, texts(i % 3))).toDF("doc_id", "text"),
        i * 10L, archive, pairsDir, "doc_id", "text", 0.5, compactEvery = 2)
    }
    val names = new java.io.File(archive).listFiles().map(_.getName).toSet
    assert(names.exists(_.startsWith("c")),
      s"sparse ids must still form compacted ranges: $names")
    // the range claims ONLY the folded ids: replaying a gap id (15,
    // inside the value interval but never folded) must PROCESS, and
    // replaying a folded id (20) must SKIP
    ArchiveDedup.processBatch(Seq((300L, tB)).toDF("doc_id", "text"),
      15L, archive, pairsDir, "doc_id", "text", 0.5, compactEvery = 2)
    val (live1, _) = ArchiveDedup.loadLatest(spark, archive, Dedup.MinhashIndex)
    assert(live1.sets.count() === 8L, "gap id 15 is NOT covered — it folds")
    ArchiveDedup.processBatch(Seq((999L, tC)).toDF("doc_id", "text"),
      20L, archive, pairsDir, "doc_id", "text", 0.5, compactEvery = 2)
    val (live2, _) = ArchiveDedup.loadLatest(spark, archive, Dedup.MinhashIndex)
    assert(live2.sets.count() === 8L, "folded id 20 IS covered — replay skips")
    assert(live2.sets.select(col("id")).distinct().count() === 8L)
  }

  private def stateOfLiveSliver(archive: String): Option[Long] =
    new java.io.File(archive).listFiles().map(_.getName)
      .collectFirst { case n if n.startsWith("b") && n.drop(1).forall(_.isDigit) =>
        n.drop(1).toLong }

  test("semantic twin: batches assign under pinned centroids, dedup, fold, replay") {
    def near(base: Array[Float], eps: Float, k: Int): Array[Float] =
      base.zipWithIndex.map { case (x, i) => x + (if (i == k) eps else 0f) }
    val c0 = Array.fill(8)(1f); val c1 = Array.fill(8)(-1f)
    val cents = Array(c0, c1)
    val archive = tmp("graft-sarch")
    val pairsDir = tmp("graft-sarch-pairs")
    // seed: one member near each centroid
    ArchiveDedup.seedArchive(Dedup.buildSemanticIndex(
      Seq((0L, near(c0, 0.01f, 0)), (1L, near(c1, 0.01f, 1))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", cents), archive)
    // batch 0: near c0 — pairs with seed member 0 only (same cluster)
    ArchiveDedup.processBatch(
      Seq((10L, near(c0, 0.02f, 2))).toDF("vec_id", "embedding"),
      0L, archive, pairsDir, "vec_id", "embedding", 0.9)
    val after1 = pairsOf(pairsDir).map(p => (p._1, p._2))
    assert(after1 === Set((0L, 10L)), s"within-cluster delta pairs only: $after1")
    // batch 1: near c1 — sees seed member 1 AND nothing cross-cluster
    ArchiveDedup.processBatch(
      Seq((20L, near(c1, 0.02f, 3))).toDF("vec_id", "embedding"),
      1L, archive, pairsDir, "vec_id", "embedding", 0.9)
    val after2 = pairsOf(pairsDir).map(p => (p._1, p._2))
    assert(after2 === Set((0L, 10L), (1L, 20L)), s"$after2")
    // batch 2 near c0: sees BOTH seed 0 and folded batch-0 member 10
    ArchiveDedup.processBatch(
      Seq((30L, near(c0, 0.02f, 4))).toDF("vec_id", "embedding"),
      2L, archive, pairsDir, "vec_id", "embedding", 0.9)
    val after3 = pairsOf(pairsDir).map(p => (p._1, p._2))
    assert(after3.contains((0L, 30L)) && after3.contains((10L, 30L)),
      s"batch 2 must see seed AND folded batch 0: $after3")
    // replay is a no-op; live archive holds every member exactly once
    ArchiveDedup.processBatch(
      Seq((10L, near(c0, 0.02f, 2))).toDF("vec_id", "embedding"),
      0L, archive, pairsDir, "vec_id", "embedding", 0.9)
    val (live, v) = ArchiveDedup.loadLatest(spark, archive, Dedup.SemanticIndex)
    assert(v === 2L && live.members.count() === 5L)
    assert(live.centroids.map(_.toSeq) === cents.map(_.toSeq),
      "centroids stay pinned at the seed's")
  }

  test("retention knob: covered entries survive retainCovered batches before GC") {
    val archive = tmp("graft-arch-ret")
    val pairsDir = tmp("graft-arch-ret-pairs")
    ArchiveDedup.seedArchive(Dedup.buildMinhashIndex(
      Seq((0L, tA), (1L, tC)).toDF("doc_id", "text"),
      "doc_id", "text"), archive)
    def entries(): Set[String] =
      new java.io.File(archive).listFiles()
        .map(_.getName).filterNot(_.startsWith(".")).toSet
    def fold(b: Long): Unit = ArchiveDedup.processBatch(
      Seq((100L + b, tB)).toDF("doc_id", "text"), b, archive, pairsDir,
      "doc_id", "text", 0.5, compactEvery = 3, retainCovered = 2)
    // batches 0..2: tier-1 merges b0..b2 into c0-2 at batch 2 (hi = 2)
    (0L to 2L).foreach(fold)
    assert(entries().contains("c0-2") && entries().contains("b0"),
      s"merge committed, sources deferred: ${entries()}")
    // batch 3: coverage (from batch 2) is 1 batch old < retainCovered=2 — kept
    fold(3L)
    assert(entries().contains("b0") && entries().contains("b1"),
      s"retainCovered=2 must keep covered slivers one extra cycle: ${entries()}")
    // batch 4: coverage is 2 batches old — GC'd now
    fold(4L)
    assert(!entries().contains("b0") && !entries().contains("b1") &&
           !entries().contains("b2"),
      s"covered slivers GC after the retention window: ${entries()}")
    // reads stayed exact throughout (seed 2 + 5 batches)
    assert(ArchiveDedup.loadLatest(spark, archive, Dedup.MinhashIndex)._1.sets.count() === 7L)
  }

  test("retention keys on the range's RECORDED commit batch, not its name (sparse ids / late merges)") {
    val archive = tmp("graft-arch-ret2")
    val pairsDir = tmp("graft-arch-ret2-pairs")
    ArchiveDedup.seedArchive(Dedup.buildMinhashIndex(
      Seq((0L, tA), (1L, tC)).toDF("doc_id", "text"),
      "doc_id", "text"), archive)
    def entries(): Set[String] =
      new java.io.File(archive).listFiles()
        .map(_.getName).filterNot(_.startsWith(".")).toSet
    def fold(b: Long, every: Int): Unit = ArchiveDedup.processBatch(
      Seq((100L + b, tB)).toDF("doc_id", "text"), b, archive, pairsDir,
      "doc_id", "text", 0.5, compactEvery = every, retainCovered = 30)
    // three early batches accumulate with compaction off; a much later
    // batch triggers the merge — the range c0-2 COMMITS at batch 50,
    // far from its name's hi=2. Inferring commit age from the name
    // would shrink the 30-batch retention window to zero here.
    (0L to 2L).foreach(fold(_, 0))
    fold(50L, 3)
    assert(entries().contains("c0-2"), s"merge committed: ${entries()}")
    fold(51L, 3)
    assert(entries().contains("b0") && entries().contains("b2"),
      s"covered slivers must survive the FULL retainCovered window from " +
        s"the recorded commit batch (50), not from the range name: ${entries()}")
    // once the window elapses from the RECORDED commit, GC proceeds
    fold(85L, 3)
    assert(!entries().contains("b0") && !entries().contains("b1"),
      s"retention window elapsed from the recorded commit: ${entries()}")
    // reads stayed exact throughout (seed 2 + 6 batches)
    assert(ArchiveDedup.loadLatest(spark, archive, Dedup.MinhashIndex)._1.sets.count() === 8L)
  }

  test("slow reader escape hatch: a pinned compactArchive copy survives many GC cycles") {
    val archive = tmp("graft-arch-pin")
    val pairsDir = tmp("graft-arch-pin-pairs")
    ArchiveDedup.seedArchive(Dedup.buildMinhashIndex(
      Seq((0L, tA), (1L, tC)).toDF("doc_id", "text"),
      "doc_id", "text"), archive)
    ArchiveDedup.processBatch(Seq((10L, tB)).toDF("doc_id", "text"), 0L,
      archive, pairsDir, "doc_id", "text", 0.5, compactEvery = 2)
    // the documented contract for readers slower than the retention
    // window: pin a compacted COPY (never deleted), then act on it at
    // leisure while the live dir churns through merges and GC
    val pinned = tmp("graft-arch-pin-copy")
    ArchiveDedup.compactArchive(spark, archive, pinned)
    val (pinnedIx, _) = ArchiveDedup.loadLatest(spark, pinned, Dedup.MinhashIndex)
    val lazyCount = pinnedIx.sets // plan now, act after many cycles
    (1L to 12L).foreach { b =>
      ArchiveDedup.processBatch(
        Seq((100L + b, tB)).toDF("doc_id", "text"), b, archive, pairsDir,
        "doc_id", "text", 0.5, compactEvery = 2)
    }
    // the live dir compacted + GC'd repeatedly; the pinned copy's files
    // are untouched and the long-deferred action still reads exactly
    assert(lazyCount.count() === 3L,
      "pinned compactArchive copy must outlive live-dir GC cycles")
    assert(ArchiveDedup.loadLatest(spark, archive, Dedup.MinhashIndex)._1.sets.count() === 15L)
  }

  test("forgetDocs removes documents from the live archive; future batches never pair with them") {
    import spark.implicits._
    val archive = tmp("graft-arch-forget")
    val pairsDir = tmp("graft-arch-forget-pairs")
    ArchiveDedup.seedArchive(Dedup.buildMinhashIndex(
      Seq((0L, tA), (1L, tA), (2L, tC)).toDF("doc_id", "text"),
      "doc_id", "text"), archive)
    ArchiveDedup.processBatch(Seq((10L, tA)).toDF("doc_id", "text"), 0L,
      archive, pairsDir, "doc_id", "text", 0.5)
    // forget seed doc 1 and folded doc 10 in one takedown
    ArchiveDedup.forgetDocs(spark, archive,
      Seq(1L, 10L).toDF("id"))
    val (ix, _) = ArchiveDedup.loadLatest(spark, archive, Dedup.MinhashIndex)
    assert(ix.sets.select("id").collect().map(_.getLong(0)).sorted.toSeq
      === Seq(0L, 2L), "forgotten docs must leave every component")
    // a future near-dup of tA pairs with the RETAINED copy only
    ArchiveDedup.processBatch(Seq((20L, tA)).toDF("doc_id", "text"), 1L,
      archive, pairsDir, "doc_id", "text", 0.5)
    val after = pairsOf(pairsDir)
      .filter(p => p._1 == 20L || p._2 == 20L).map(p => (p._1, p._2))
    assert(after === Set((0L, 20L)),
      s"batch after the forget must pair with retained docs only: $after")
    // the stream keeps folding; the forget generation is the base
    assert(ArchiveDedup.loadLatest(spark, archive, Dedup.MinhashIndex)._1.sets.count() === 3L)
    // unknown ids refuse loudly (a takedown that removes nothing)
    val e = intercept[IllegalArgumentException] {
      ArchiveDedup.forgetDocs(spark, archive, Seq(777L).toDF("id"))
    }
    assert(e.getMessage.contains("never"), e.getMessage)
    // a batch beyond the driver-collect cap refuses BEFORE classifying
    // on the driver (the takedown-sized-collect contract, mechanical)
    spark.conf.set("spark.graft.maxTakedownCollect", "1")
    try {
      val eCap = intercept[IllegalArgumentException] {
        ArchiveDedup.forgetDocs(spark, archive, Seq(0L, 2L).toDF("id"))
      }
      assert(eCap.getMessage.contains("maxTakedownCollect"), eCap.getMessage)
    } finally spark.conf.unset("spark.graft.maxTakedownCollect")
    // stats archives refuse with the text-needed diagnosis
    val sdir = tmp("graft-arch-forget-stats")
    graft.operators.CorpusStats.seedTokenStatsArchive(
      Seq((0L, tA)).toDF("doc_id", "text"), sdir, "doc_id", "text")
    val e2 = intercept[IllegalArgumentException] {
      ArchiveDedup.forgetDocs(spark, sdir, Seq(0L).toDF("id"))
    }
    assert(e2.getMessage.contains("TEXT"), e2.getMessage)
  }

  test("a takedown over the collect cap refuses even when every input partition is under it") {
    val archive = tmp("graft-arch-forget-parts")
    ArchiveDedup.seedArchive(Dedup.buildMinhashIndex(
      (0L until 8L).map(i => (i, s"$tA $i")).toDF("doc_id", "text"),
      "doc_id", "text"), archive)
    // 8 distinct ids in 4 partitions of 2: each partition is under the
    // cap of 3, the takedown is over it
    val ids = spark.range(0L, 8L, 1L, 4).toDF("id")
    assert(ids.rdd.getNumPartitions === 4)
    spark.conf.set("spark.graft.maxTakedownCollect", "3")
    try {
      val e = intercept[IllegalArgumentException] {
        ArchiveDedup.forgetDocs(spark, archive, ids)
      }
      assert(e.getMessage.contains("maxTakedownCollect"), e.getMessage)
    } finally spark.conf.unset("spark.graft.maxTakedownCollect")
    assert(ArchiveDedup.loadLatest(spark, archive, Dedup.MinhashIndex)._1
      .sets.count() === 8L, "a refused takedown commits nothing")
  }

  test("a re-ingested forgotten doc is retracted again — the ledger never excuses a live copy") {
    import spark.implicits._
    val archive = tmp("graft-arch-reingest")
    val pairsDir = tmp("graft-arch-reingest-p")
    ArchiveDedup.seedArchive(Dedup.buildMinhashIndex(
      Seq((0L, tA), (1L, tB), (2L, tC)).toDF("doc_id", "text"),
      "doc_id", "text"), archive)
    ArchiveDedup.processBatch(Seq((10L, tA)).toDF("doc_id", "text"), 0L,
      archive, pairsDir, "doc_id", "text", 0.5)
    def ids(): Seq[Long] = ArchiveDedup.loadLatest(spark, archive, Dedup.MinhashIndex)._1
      .sets.select("id").collect().map(_.getLong(0)).sorted.toSeq
    ArchiveDedup.forgetDocs(spark, archive, Seq(10L).toDF("id"))
    assert(ids() === Seq(0L, 1L, 2L))
    // the SAME document re-ingested under its original id in a later
    // batch folds cleanly — it is gone from the live index, so the
    // fold guard sees a fresh sliver
    ArchiveDedup.processBatch(Seq((10L, tA)).toDF("doc_id", "text"), 1L,
      archive, pairsDir, "doc_id", "text", 0.5)
    assert(ids() === Seq(0L, 1L, 2L, 10L))
    // the repeat takedown must retract the live copy: pre-r15 the
    // ledger classified any ledgered id as a crash-retry replay and
    // SKIPPED — reporting the compliance takedown honored while the
    // re-archived document stayed live
    ArchiveDedup.forgetDocs(spark, archive, Seq(10L).toDF("id"))
    assert(ids() === Seq(0L, 1L, 2L),
      "a ledgered id live again in the index must be retracted, not excused")
    // now ledgered AND absent: a further retry is a genuine crash-retry
    // replay and skips without refusing
    ArchiveDedup.forgetDocs(spark, archive, Seq(10L).toDF("id"))
    assert(ids() === Seq(0L, 1L, 2L))
    // a batch mixing the ledgered id with a NEVER-archived one still
    // refuses on the unknown id (wrong archive)
    intercept[IllegalArgumentException] {
      ArchiveDedup.forgetDocs(spark, archive, Seq(10L, 777L).toDF("id"))
    }
  }

  test("a forget slot never swallows a reseed; forgetDocs preserves the pinned baseline") {
    def vec(i: Int): Array[Float] = {
      val r = new java.util.Random(31L * i + 7)
      Array.fill(8)(r.nextGaussian().toFloat)
    }
    val archive = tmp("graft-arch-fr")
    val pairsDir = tmp("graft-arch-fr-p")
    ArchiveDedup.seedArchive(Dedup.buildCosineIndex(
      (0 until 40).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding"),
      "vec_id", "embedding"), archive)
    ArchiveDedup.processBatch(
      (40 until 50).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding"),
      0L, archive, pairsDir, "vec_id", "embedding", 0.95)
    val before = ArchiveDedup.loadLatest(spark, archive, Dedup.CosineIndex)._1.baseline
    assert(before.nonEmpty, "seeding must pin a drift baseline")
    ArchiveDedup.forgetDocs(spark, archive, Seq(3L, 44L).toDF("id"))
    val after = ArchiveDedup.loadLatest(spark, archive, Dedup.CosineIndex)._1
    assert(after.vecs.count() === 48L)
    // the takedown must NOT re-snapshot the baseline: retraction keeps
    // it pinned (a per-forget re-pin would reset measured drift to ~0
    // and mute autoReseed right when the distribution is shifting)
    // bit-pattern compare: unfilled baseline fields are NaN by design
    def bits(b: graft.operators.Dedup.DriftBaseline) =
      (java.lang.Double.doubleToLongBits(b.meanDist),
        java.lang.Double.doubleToLongBits(b.topShare),
        java.lang.Double.doubleToLongBits(b.meanSetSize), b.seedKeyCount)
    assert(after.baseline.map(bits) === before.map(bits),
      "forgetDocs must carry the pinned baseline through unchanged")
    // the forget generation is marked; a subsequent REAL reseed must
    // not mistake the occupied r<id> for a replay of itself
    val rdirs = new java.io.File(archive).listFiles().map(_.getName)
      .filter(_.matches("r\\d+")).sorted
    assert(rdirs.sameElements(Array("r0")), rdirs.mkString(","))
    assert(new java.io.File(s"$archive/r0/_forget").exists(),
      "a forget generation must be marked")
    ArchiveDedup.reseedArchive(spark, archive)
    val rdirs2 = new java.io.File(archive).listFiles().map(_.getName)
      .filter(_.matches("r\\d+")).sorted
    assert(rdirs2.sameElements(Array("r0", "r1")),
      s"the reseed must advance past the forget generation, not skip: ${rdirs2.mkString(",")}")
    assert(!new java.io.File(s"$archive/r1/_forget").exists(),
      "a real reseed is not a forget generation")
    // readers follow the newest generation: forgotten ids stay absent
    val ix2 = ArchiveDedup.loadLatest(spark, archive, Dedup.CosineIndex)._1
    assert(ix2.vecs.count() === 48L)
    assert(ix2.vecs.where(col("id").isin(3L, 44L)).isEmpty)
    // and a plain reseed replay still skips (idempotence preserved)
    ArchiveDedup.reseedArchive(spark, archive)
    val rdirs3 = new java.io.File(archive).listFiles().map(_.getName)
      .filter(_.matches("r\\d+")).sorted
    assert(rdirs3.sameElements(Array("r0", "r1")),
      s"an identical re-invocation must replay-skip: ${rdirs3.mkString(",")}")
  }

  test("the forget facade routes takedowns across families from one call site") {
    import graft.operators.CorpusStats
    // stats family: docs must carry their text; the facade routes to
    // the in-place stats retraction
    val sdir = tmp("graft-arch-fg-s")
    val sdocs = Seq((0L, tA), (1L, tB), (2L, tC)).toDF("doc_id", "text")
    CorpusStats.seedTokenStatsArchive(sdocs, sdir, "doc_id", "text")
    ArchiveDedup.forget(spark, sdir, sdocs.where(col("doc_id") === 1L),
      idCol = "doc_id", textCol = "text")
    assert(CorpusStats.loadTokenStatsArchive(spark, sdir).ids
      .collect().map(_.getLong(0)).sorted === Array(0L, 2L))
    // an id-only takedown against a stats archive cannot be honored —
    // refuse before touching anything
    val ex = intercept[IllegalArgumentException] {
      ArchiveDedup.forget(spark, sdir, Seq(0L).toDF("doc_id"), idCol = "doc_id")
    }
    assert(ex.getMessage.contains("TEXT"), ex.getMessage)
    assert(CorpusStats.loadTokenStatsArchive(spark, sdir).ids.count() === 2L)
    // a SEEDLESS stats archive (day-0 stream start, no seed entry)
    // must still self-describe and route — takedowns don't care how
    // the archive was born
    val ddir = tmp("graft-arch-fg-d")
    graft.operators.CorpusStats.processTokenStatsBatch(
      sdocs, 0L, ddir, "doc_id", "text", compactEvery = 0)
    assert(ArchiveDedup.modalityOf(spark, ddir) === "token-stats")
    ArchiveDedup.forget(spark, ddir, sdocs.where(col("doc_id") === 0L),
      idCol = "doc_id", textCol = "text")
    assert(CorpusStats.loadTokenStatsArchive(spark, ddir).ids
      .collect().map(_.getLong(0)).sorted === Array(1L, 2L))
    // dedup family: ids suffice, extra columns are ignored
    def vec(i: Int): Array[Float] = {
      val r = new java.util.Random(97L * i + 3)
      Array.fill(8)(r.nextGaussian().toFloat)
    }
    val cdir = tmp("graft-arch-fg-c")
    ArchiveDedup.seedArchive(Dedup.buildCosineIndex(
      (0 until 20).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding"),
      "vec_id", "embedding"), cdir)
    ArchiveDedup.forget(spark, cdir,
      Seq((5L, "ignored")).toDF("vec_id", "note"), idCol = "vec_id")
    val ix = ArchiveDedup.loadLatest(spark, cdir, Dedup.CosineIndex)._1
    assert(ix.vecs.count() === 19L)
    assert(ix.vecs.where(col("id") === 5L).isEmpty)
  }

  test("compactEvery = 1 refuses at sink construction (degenerate self-merge)") {
    val docs = Seq((0L, tA)).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      ArchiveDedup.archiveSink(docs, tmp("graft-arch-k1"),
        tmp("graft-arch-k1p"), "doc_id", "text", 0.5, compactEvery = 1)
    }
    assert(e.getMessage.contains("degenerate"), e.getMessage)
  }

  test("out-of-band reseed aborts when a concurrent fold lands mid-build") {
    def vec(seedBase: Int): Array[Float] = {
      val r = new java.util.Random(11L * seedBase)
      Array.fill(8)(r.nextGaussian().toFloat)
    }
    val archive = tmp("graft-arch-race")
    val pairsDir = tmp("graft-arch-race-pairs")
    ArchiveDedup.seedArchive(Dedup.buildCosineIndex(
      Seq((0L, vec(1)), (1L, vec(2))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", numBits = 4, bands = 4), archive)
    ArchiveDedup.processBatch(
      Seq((10L, vec(3))).toDF("vec_id", "embedding"), 0L, archive, pairsDir,
      "vec_id", "embedding", 0.95)
    // capture the state an out-of-band reseed would build from…
    val stale = ArchiveDedup.stateOf(spark, archive)
    assert(stale.lastFolded === 0L)
    // …then a running stream folds another batch mid-build
    ArchiveDedup.processBatch(
      Seq((11L, vec(4))).toDF("vec_id", "embedding"), 1L, archive, pairsDir,
      "vec_id", "embedding", 0.95)
    val ex = intercept[IllegalStateException] {
      ArchiveDedup.reseedInPlace(spark, archive, Dedup.CosineIndex, stale, 0L)
    }
    assert(ex.getMessage.contains("aborting reseed"),
      s"race must abort loudly: ${ex.getMessage}")
    val names = new java.io.File(archive).listFiles().map(_.getName).toSet
    assert(!names.contains("r0"), s"aborted reseed must not commit: $names")
    assert(!names.exists(_.startsWith(".inprogress")),
      s"aborted reseed must clean its temp dir: $names")
    // the archive is untouched — a correctly-sequenced reseed still works
    ArchiveDedup.reseedArchive(spark, archive)
    assert(new java.io.File(archive).listFiles().map(_.getName).toSet
      .contains("r1"))
    assert(ArchiveDedup.loadLatest(spark, archive, Dedup.CosineIndex)._1.vecs.count() === 4L)
  }

  test("manifest cache: a re-created archive at the same path serves fresh manifests") {
    val archive = tmp("graft-arch-mc")
    val pairsDir = tmp("graft-arch-mc-pairs")
    // OLD archive: gapped ids {0, 5} merge into c0-5 with manifest {0, 5};
    // read state so this JVM caches that manifest
    ArchiveDedup.seedArchive(
      Dedup.buildMinhashIndex(Seq((0L, tA)).toDF("doc_id", "text"), "doc_id", "text"), archive)
    ArchiveDedup.processBatch(Seq((10L, tB)).toDF("doc_id", "text"), 0L,
      archive, pairsDir, "doc_id", "text", 0.5, compactEvery = 2)
    ArchiveDedup.processBatch(Seq((11L, tB)).toDF("doc_id", "text"), 5L,
      archive, pairsDir, "doc_id", "text", 0.5, compactEvery = 2)
    val oldSt = ArchiveDedup.stateOf(spark, archive)
    assert(oldSt.manifests.get((0L, 5L)).contains(Set(0L, 5L)),
      s"old manifest cached: ${oldSt.manifests}")
    // delete and RE-CREATE the archive at the same path in the same JVM
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(archive))
    ArchiveDedup.seedArchive(
      Dedup.buildMinhashIndex(Seq((0L, tA)).toDF("doc_id", "text"), "doc_id", "text"), archive)
    // new life: batches 0, 2, 5 merge into a NEW c0-5 with manifest {0,2,5}
    Seq(0L, 2L, 5L).foreach { b =>
      ArchiveDedup.processBatch(
        Seq((20L + b, tB)).toDF("doc_id", "text"), b, archive, pairsDir,
        "doc_id", "text", 0.5, compactEvery = 3)
    }
    val newSt = ArchiveDedup.stateOf(spark, archive)
    assert(newSt.manifests.get((0L, 5L)).contains(Set(0L, 2L, 5L)),
      s"stale manifest must not shadow the new archive's: ${newSt.manifests}")
    // drive one more batch so GC removes the member slivers, then replay
    // batch 2 — only the (fresh) manifest can prove it folded
    ArchiveDedup.processBatch(Seq((30L, tB)).toDF("doc_id", "text"), 6L,
      archive, pairsDir, "doc_id", "text", 0.5, compactEvery = 3)
    val before = ArchiveDedup.loadLatest(spark, archive, Dedup.MinhashIndex)._1.sets.count()
    ArchiveDedup.processBatch(
      Seq((22L, tB)).toDF("doc_id", "text"), 2L, archive, pairsDir,
      "doc_id", "text", 0.5, compactEvery = 3)
    assert(ArchiveDedup.loadLatest(spark, archive, Dedup.MinhashIndex)._1.sets.count() === before,
      "manifest-covered replay must skip, not double-fold")
  }

  test("unified archiveSink facade: self-describing archives route to their modality") {
    def vec(seedBase: Int): Array[Float] = {
      val r = new java.util.Random(3L * seedBase)
      Array.fill(8)(r.nextGaussian().toFloat)
    }
    // modality detection is read from the archive itself
    val mArch = tmp("graft-fac-m"); val cArch = tmp("graft-fac-c")
    val sArch = tmp("graft-fac-s")
    ArchiveDedup.seedArchive(Dedup.buildMinhashIndex(
      Seq((0L, tA)).toDF("doc_id", "text"),
      "doc_id", "text"), mArch)
    ArchiveDedup.seedArchive(
      Dedup.buildCosineIndex(Seq((0L, vec(1))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", numBits = 4, bands = 4), cArch)
    ArchiveDedup.seedArchive(
      Dedup.buildSemanticIndex(Seq((0L, vec(1))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", Array(vec(1))), sArch)
    assert(ArchiveDedup.modalityOf(spark, mArch) === "minhash")
    assert(ArchiveDedup.modalityOf(spark, cArch) === "cosine")
    assert(ArchiveDedup.modalityOf(spark, sArch) === "semantic")
    intercept[IllegalArgumentException] {
      ArchiveDedup.modalityOf(spark, tmp("graft-fac-none"))
    }
    // a minhash archive refuses the embedding-only auto-reseed knob
    implicit val sqlCtx = spark.sqlContext
    val memDocs = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    intercept[IllegalArgumentException] {
      ArchiveDedup.archiveSink(memDocs.toDS().toDF("doc_id", "text"),
        mArch, tmp("graft-fac-mp"), "doc_id", "text", 0.5,
        driftDir = Some(tmp("graft-fac-md")), autoReseedAfter = 2)
    }
    // end-to-end through the facade, text family: same pairs as the
    // dedicated sink would emit
    val mPairs = tmp("graft-fac-mpairs")
    val q1 = ArchiveDedup.archiveSink(memDocs.toDS().toDF("doc_id", "text"),
      mArch, mPairs, "doc_id", "text", 0.5)
    try {
      memDocs.addData((10L, tA)); q1.processAllAvailable()
      assert(pairsOf(mPairs).map(p => (p._1, p._2)) === Set((0L, 10L)))
    } finally q1.stop()
    // and the semantic family routes too (same facade call site)
    val memVecs = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Array[Float])]
    val sPairs = tmp("graft-fac-spairs")
    val q2 = ArchiveDedup.archiveSink(memVecs.toDS().toDF("vec_id", "embedding"),
      sArch, sPairs, "vec_id", "embedding", 0.9)
    try {
      memVecs.addData((10L, vec(1))); q2.processAllAvailable()
      assert(pairsOf(sPairs).map(p => (p._1, p._2)) === Set((0L, 10L)))
    } finally q2.stop()
  }

  test("end-to-end through a MemoryStream foreachBatch sink") {
    val archive = tmp("graft-arch-s")
    val pairsDir = tmp("graft-arch-s-pairs")
    ArchiveDedup.seedArchive(Dedup.buildMinhashIndex(
      Seq((0L, tA), (1L, tC)).toDF("doc_id", "text"),
      "doc_id", "text"), archive)
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = ArchiveDedup.archiveSink(
      mem.toDS().toDF("doc_id", "text"), archive, pairsDir, "doc_id", "text", 0.5)
    try {
      mem.addData((10L, tA))
      q.processAllAvailable()
      mem.addData((20L, tA), (21L, tB))
      q.processAllAvailable()
      val got = pairsOf(pairsDir).map(p => (p._1, p._2))
      assert(got.contains((0L, 10L)), s"stream batch 1 vs seed: $got")
      assert(got.contains((10L, 20L)) && got.contains((0L, 20L)),
        s"stream batch 2 vs seed + folded batch 1: $got")
      val (_, v) = ArchiveDedup.loadLatest(spark, archive, Dedup.MinhashIndex)
      assert(v >= 1L)
    } finally q.stop()
  }

  test("archivePairs dispatches on modality: cosine/semantic audits equal " +
      "the batch pair operators over the survivors; stats archives refuse") {
    import graft.operators.{Dedup, SimilarityJoin}
    def vec(seedBase: Int): Array[Float] = {
      val r = new scala.util.Random(seedBase)
      Array.fill(8)(r.nextFloat() - 0.5f)
    }
    val rows = (0L to 9L).map(i => (i, vec((i % 4).toInt))) // 4 dup groups
    // cosine: seed + fold + forget, then the audit must equal the exact
    // blocked θ-scan over the SURVIVING stored vectors
    val cArch = tmp("graft-audit-c")
    val cPairs = tmp("graft-audit-cp")
    ArchiveDedup.seedArchive(
      Dedup.buildCosineIndex(rows.take(6).toDF("vec_id", "embedding"), "vec_id", "embedding",
      numBits = 4, bands = 4), cArch)
    ArchiveDedup.processBatch(
      rows.drop(6).toDF("vec_id", "embedding"), 0L, cArch, cPairs,
      "vec_id", "embedding", 0.95)
    ArchiveDedup.forgetDocs(spark, cArch,
      Seq(1L, 7L).toDF("id"))
    val cGot = ArchiveDedup.archivePairs(spark, cArch, 0.95)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val survivors = rows.filterNot(r => r._1 == 1L || r._1 == 7L)
    val cWant = SimilarityJoin.thresholdPairs(
        survivors.toDF("id", "v"), "id", "v", 0.95)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cGot === cWant && cGot.nonEmpty,
      s"cosine audit must equal the θ-scan over survivors: $cGot vs $cWant")
    assert(!cGot.exists(p => p._1 == 1L || p._2 == 1L || p._1 == 7L || p._2 == 7L))
    // the above-exactLimit LSH tier: precision 1.0 (subset of exact)
    val cLsh = ArchiveDedup.archivePairs(spark, cArch, 0.95, exactLimit = 0L)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cLsh.subsetOf(cWant),
      s"LSH audit tier must verify exactly (precision 1.0): $cLsh vs $cWant")
    // semantic: within-cluster θ-pairs over surviving members
    val c0 = Array.fill(8)(1f); val c1 = Array.fill(8)(-1f)
    def near(base: Array[Float], eps: Float, k: Int): Array[Float] =
      base.zipWithIndex.map { case (x, i) => x + (if (i == k) eps else 0f) }
    val sArch = tmp("graft-audit-s")
    val sPairs = tmp("graft-audit-sp")
    val members = Seq((0L, near(c0, 0.01f, 0)), (1L, near(c0, 0.02f, 1)),
      (2L, near(c1, 0.01f, 2)), (3L, near(c1, 0.02f, 3)))
    ArchiveDedup.seedArchive(
      Dedup.buildSemanticIndex(members.take(3).toDF("vec_id", "embedding"),
      "vec_id", "embedding", Array(c0, c1)), sArch)
    ArchiveDedup.processBatch(
      members.drop(3).toDF("vec_id", "embedding"), 0L, sArch, sPairs,
      "vec_id", "embedding", 0.9)
    ArchiveDedup.forgetDocs(spark, sArch, Seq(0L).toDF("id"))
    val sGot = ArchiveDedup.archivePairs(spark, sArch, 0.9)
      .select("id_a", "id_b", "cluster").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(sGot === Set((2L, 3L, 1)),
      s"semantic audit: cluster-1 survivors pair, forgotten 0 gone: $sGot")
    // stats archives hold counts, not index rows — refuse the audit
    val tArch = tmp("graft-audit-t")
    graft.operators.CorpusStats.seedTokenStatsArchive(
      Seq((0L, tA), (1L, tB)).toDF("doc_id", "text"), tArch, "doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      ArchiveDedup.archivePairs(spark, tArch, 0.5)
    }
    assert(e.getMessage.contains("aggregated"))
  }
}
