package graft

import graft.operators.Dedup
import graft.streaming.ArchiveDedup
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Reseed generations: the archive ACTS on its own drift probes —
 * after `autoReseedAfter` consecutive trips the embedding sinks
 * rebuild the index from the archived payload with re-fitted
 * parameters, commit it atomically as `r<batchId>`, and keep
 * streaming. Gated here: the trigger (consecutive, not cumulative,
 * trips), read equivalence across the generation flip, replay of
 * pre-reseed batches, deferred GC of superseded generations, baseline
 * recalibration (post-reseed probes quiet on the new distribution),
 * the semantic recall-restoration case (a family the old centroids
 * SPLIT pairs whole under the re-fitted ones), and the out-of-band
 * minhash reseed with its corpus-identity verification.
 */
class AutoReseedSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(prefix: String): String =
    TestSpark.tempDir(prefix).toString

  private def names(dir: String): Set[String] =
    new java.io.File(dir).listFiles().map(_.getName).toSet

  private def pairsOf(dir: String): Set[(Long, Long)] =
    spark.read.option("basePath", dir).parquet(dir)
      .select(col("id_a"), col("id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def gauss(id: Long, dim: Int): Array[Float] = {
    val r = new java.util.Random(31L * id + 7L)
    Array.fill(dim)(r.nextGaussian().toFloat)
  }

  /** A tight family around one distinctive direction: every member's
    * hyperplane signature collapses into the same buckets per band. */
  private def drifted(id: Long, dim: Int): Array[Float] = {
    val base = Array.tabulate(dim)(i => if (i % 2 == 0) 3f else -3f)
    val r = new java.util.Random(id)
    base.map(_ + r.nextGaussian().toFloat * 0.001f)
  }

  test("cosine: consecutive trips reseed in place; reads, replays, GC, and recalibration hold") {
    val dim = 16
    val archive = tmp("graft-rs-c")
    val pairsDir = tmp("graft-rs-c-pairs")
    val driftDir = tmp("graft-rs-c-drift")
    val seedDf = (0L until 100L).map(i => (i, gauss(i, dim))).toDF("vec_id", "embedding")
    ArchiveDedup.seedArchive(Dedup.buildCosineIndex(seedDf, "vec_id", "embedding",
      numBits = 8, bands = 8, dim = dim), archive)

    def batch(ids: Range) = ids.map(i => (i.toLong, drifted(i.toLong, dim)))
      .toDF("vec_id", "embedding")
    def process(df: org.apache.spark.sql.DataFrame, id: Long): Unit =
      ArchiveDedup.processBatch(df, id, archive, pairsDir,
        "vec_id", "embedding", 0.95, compactEvery = 2,
        driftDir = Some(driftDir), autoReseedAfter = 2)

    // batch 0: first trip — no reseed yet
    process(batch(1000 until 1012), 0L)
    assert(spark.read.parquet(s"$driftDir/batch_id=0").head()
      .getAs[Boolean]("rebuild_recommended"), "collapsed delta must trip")
    assert(!names(archive).exists(_.startsWith("r")), "one trip is not a trend")

    // batch 1: second consecutive trip — reseed commits as r1
    process(batch(1100 until 1112), 1L)
    assert(names(archive).contains("r1"), s"reseed after 2 trips: ${names(archive)}")
    val newParams = spark.read.parquet(s"$archive/r1/params").head()
    assert(newParams.getAs[Long]("seed") !== 42L, "hyperplane seed rotated")
    assert(new java.io.File(s"$archive/r1/drift").exists(),
      "fresh baseline pinned inside the generation")

    // read equivalence: the generation flip loses no rows
    val (live, last) = ArchiveDedup.loadLatest(spark, archive, Dedup.CosineIndex)
    assert(last === 1L && live.vecs.count() === 124L)
    assert(live.seed === newParams.getAs[Long]("seed"),
      "readers see the new generation's params")

    // batch 2, same (formerly drifting) family: the re-pinned Bloom
    // absorbed the family's region — new_bucket_frac collapses 0.875 →
    // 0.0 (skew may legitimately still fire: a TIGHT family batch has
    // share 1/bands whatever the baseline — the documented
    // family-concentration signal, not stale calibration) — and pairs
    // vs PRE-reseed archived members still emit (the corpus survived
    // the flip)
    process(batch(1200 until 1212), 2L)
    assert(spark.read.parquet(s"$driftDir/batch_id=2").head()
      .getAs[Double]("new_bucket_frac") === 0.0,
      "recalibrated Bloom must recognize the new normal's region")
    val got = pairsOf(pairsDir)
    assert(got.contains((1000L, 1200L)) && got.contains((1100L, 1200L)),
      s"post-reseed batches pair with members archived before the reseed: " +
        s"${got.filter(_._2 >= 1200L)}")

    // deferred GC: batch 2's compaction cycle saw r1 and dropped the
    // superseded generation and its covered slivers
    val after = names(archive)
    assert(!after.contains("base"), s"superseded base GC'd: $after")
    assert(!after.contains("b0") && !after.contains("b1"),
      s"reseed-covered slivers GC'd: $after")

    // batch 3, corpus-like mix (some family, some fresh gaussians): the
    // recalibrated baseline is FULLY quiet on the post-reseed normal
    val mixed = ((1300 until 1304).map(i => (i.toLong, drifted(i.toLong, dim))) ++
      (3000 until 3008).map(i => (i.toLong, gauss(i.toLong, dim))))
      .toDF("vec_id", "embedding")
    process(mixed, 3L)
    assert(!spark.read.parquet(s"$driftDir/batch_id=3").head()
      .getAs[Boolean]("rebuild_recommended"),
      "a corpus-like batch must be quiet under the recalibrated baseline")

    // replay of a pre-reseed batch: covered by r1's manifest — skips
    // without error, nothing double-folds
    process(batch(1000 until 1012), 0L)
    assert(ArchiveDedup.loadLatest(spark, archive, Dedup.CosineIndex)._1.vecs.count() === 148L)

    // out-of-band reseed entry point works against the same dir
    ArchiveDedup.reseedArchive(spark, archive)
    assert(names(archive).contains("r3"))
    assert(ArchiveDedup.loadLatest(spark, archive, Dedup.CosineIndex)._1.vecs.count() === 148L)
  }

  test("cosine: non-consecutive trips do NOT reseed") {
    val dim = 16
    val archive = tmp("graft-rs-nc")
    val pairsDir = tmp("graft-rs-nc-pairs")
    val driftDir = tmp("graft-rs-nc-drift")
    ArchiveDedup.seedArchive(Dedup.buildCosineIndex(
      (0L until 100L).map(i => (i, gauss(i, dim))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", numBits = 8, bands = 8, dim = dim), archive)
    def process(df: org.apache.spark.sql.DataFrame, id: Long): Unit =
      ArchiveDedup.processBatch(df, id, archive, pairsDir,
        "vec_id", "embedding", 0.95, driftDir = Some(driftDir),
        autoReseedAfter = 2)
    // trip, quiet, trip: the trend broke — no reseed
    process((1000 until 1012).map(i => (i.toLong, drifted(i.toLong, dim)))
      .toDF("vec_id", "embedding"), 0L)
    process((2000 until 2012).map(i => (i.toLong, gauss(i.toLong, dim)))
      .toDF("vec_id", "embedding"), 1L)
    process((1100 until 1112).map(i => (i.toLong, drifted(i.toLong, dim)))
      .toDF("vec_id", "embedding"), 2L)
    assert(!names(archive).exists(_.startsWith("r")),
      s"trip-quiet-trip must not reseed: ${names(archive)}")
    // a second CONSECUTIVE trip completes the trend
    process((1200 until 1212).map(i => (i.toLong, drifted(i.toLong, dim)))
      .toDF("vec_id", "embedding"), 3L)
    assert(names(archive).contains("r3"), s"${names(archive)}")
  }

  test("semantic: reseed re-fits centroids and restores recall a split family lost") {
    val dim = 8
    def near(base: Array[Float], id: Long): Array[Float] = {
      val r = new java.util.Random(id)
      base.map(_ + r.nextGaussian().toFloat * 0.01f)
    }
    val c0 = Array.tabulate(dim)(i => if (i == 0 || i == 1) 1f else 0f)
    val c1 = c0.map(-_)
    // the drift family straddles the c0/c1 bisector (x0 + x1 = 0): tiny
    // ±x0 jitter splits it across the OLD clusters, so same-family
    // pairs are invisible to within-cluster pairing until a reseed
    // gives the family its own centroid
    def straddle(id: Long, side: Float): Array[Float] =
      Array.tabulate(dim)(i =>
        if (i == 0) side * 0.05f else if (i == 2) 5f else 0f)
        .zipWithIndex.map { case (x, i) =>
          x + new java.util.Random(id * 13L + i).nextGaussian().toFloat * 0.001f }

    val archive = tmp("graft-rs-s")
    val pairsDir = tmp("graft-rs-s-pairs")
    val driftDir = tmp("graft-rs-s-drift")
    ArchiveDedup.seedArchive(Dedup.buildSemanticIndex(
      ((0L until 8L).map(i => (i, near(c0, i))) ++
      (8L until 16L).map(i => (i, near(c1, i)))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", Array(c0, c1)), archive)

    def process(rows: Seq[(Long, Array[Float])], id: Long): Unit =
      ArchiveDedup.processBatch(rows.toDF("vec_id", "embedding"), id,
        archive, pairsDir, "vec_id", "embedding", 0.95, compactEvery = 2,
        driftDir = Some(driftDir), autoReseedAfter = 2)

    // two drifted batches, each half on either side of the bisector
    process((100L until 106L).map(i =>
      (i, straddle(i, if (i % 2 == 0) 1f else -1f))), 0L)
    process((200L until 206L).map(i =>
      (i, straddle(i, if (i % 2 == 0) 1f else -1f))), 1L)
    assert(spark.read.parquet(s"$driftDir/batch_id=0").head()
      .getAs[Boolean]("rebuild_recommended"), "far-off family must trip")
    assert(names(archive).contains("r1"), s"${names(archive)}")

    // pre-reseed, batch 1's even-side members could NOT pair with batch
    // 0's odd-side members (different old clusters) despite cosine ≈ 1
    val preReseed = pairsOf(pairsDir)
    assert(!preReseed.contains((101L, 200L)),
      s"the old split hides cross-side pairs: $preReseed")

    // post-reseed the family owns one centroid: a new batch pairs with
    // BOTH sides of the formerly split family
    process((300L until 302L).map(i => (i, straddle(i, 1f))), 2L)
    val post = pairsOf(pairsDir)
    assert(post.contains((100L, 300L)) && post.contains((101L, 300L)),
      s"reseed must reunite the split family for future batches: " +
        s"${post.filter(_._2 >= 300L)}")
    assert(!spark.read.parquet(s"$driftDir/batch_id=2").head()
      .getAs[Boolean]("rebuild_recommended"),
      "re-fitted centroids absorb the new region — probe quiet")

    // read equivalence + pinned-centroid flip
    val (live, _) = ArchiveDedup.loadLatest(spark, archive, Dedup.SemanticIndex)
    assert(live.members.count() === 30L)
    assert(live.centroids.length === 2)
    assert(!live.centroids.map(_.toSeq).toSet
        .equals(Array(c0, c1).map(_.toSeq).toSet),
      "centroids re-fitted, not the seed's")
  }

  test("orphan sliver from a raced reseed is detected and refused at load") {
    import graft.operators.Dedup
    val dim = 16
    val archive = tmp("graft-rs-orphan")
    val pairsDir = tmp("graft-rs-orphan-pairs")
    ArchiveDedup.seedArchive(Dedup.buildCosineIndex(
      (0L until 40L).map(i => (i, gauss(i, dim))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", numBits = 8, bands = 8, dim = dim), archive)
    ArchiveDedup.processBatch(
      (100L until 110L).map(i => (i, gauss(i, dim))).toDF("vec_id", "embedding"),
      0L, archive, pairsDir, "vec_id", "embedding", 0.95)
    ArchiveDedup.reseedArchive(spark, archive) // r0, rotated seed
    // the state commitReseed's guard cannot see: an in-flight batch that
    // loaded the OLD generation (seed 42) lands AFTER the reseed rename —
    // simulate by hand-committing its sliver under the superseded params
    Dedup.save(Dedup.buildCosineIndex(
      (200L until 204L).map(i => (i, gauss(i, dim))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", numBits = 8, bands = 8, dim = dim, seed = 42L),
      s"$archive/b1")
    val ex = intercept[IllegalStateException] {
      ArchiveDedup.loadLatest(spark, archive, Dedup.CosineIndex)
    }
    assert(ex.getMessage.contains("superseded generation"),
      s"orphan sliver must refuse loudly: ${ex.getMessage}")
    // deleting the orphan restores reads (the message's remedy)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$archive/b1"))
    assert(ArchiveDedup.loadLatest(spark, archive, Dedup.CosineIndex)._1.vecs.count() === 50L)
  }

  test("minhash: out-of-band reseed needs the exact archived corpus and re-bands under new widths") {
    val tA = "the quick brown fox jumps over the lazy dog near the quiet river bank today"
    val tB = "structured streaming state stores hold horizon bounded claims across micro batches"
    val archive = tmp("graft-rs-m")
    val pairsDir = tmp("graft-rs-m-pairs")
    val day0 = Seq((0L, tA), (1L, tB)).toDF("doc_id", "text")
    ArchiveDedup.seedArchive(Dedup.buildMinhashIndex(day0, "doc_id", "text"), archive)
    ArchiveDedup.processBatch(Seq((10L, tA)).toDF("doc_id", "text"), 0L,
      archive, pairsDir, "doc_id", "text", 0.5)

    // a partial corpus must be refused — silent coverage loss otherwise
    val partial = intercept[IllegalArgumentException] {
      ArchiveDedup.reseedMinhashArchive(day0, archive, "doc_id", "text")
    }
    assert(partial.getMessage.contains("archived id set"))

    val full = day0.unionByName(Seq((10L, tA)).toDF("doc_id", "text"))
    ArchiveDedup.reseedMinhashArchive(full, archive, "doc_id", "text",
      numHashes = 32, bands = 8)
    assert(names(archive).contains("r0"))
    val (live, _) = ArchiveDedup.loadLatest(spark, archive, Dedup.MinhashIndex)
    assert(live.numHashes === 32 && live.bands === 8,
      "readers band under the reseeded widths")
    assert(live.sets.count() === 3L)

    // the stream continues against the new generation
    ArchiveDedup.processBatch(Seq((20L, tA)).toDF("doc_id", "text"), 1L,
      archive, pairsDir, "doc_id", "text", 0.5)
    val got = pairsOf(pairsDir)
    assert(got.contains((0L, 20L)) && got.contains((10L, 20L)),
      s"post-reseed batches pair across the generation flip: $got")
  }
}
