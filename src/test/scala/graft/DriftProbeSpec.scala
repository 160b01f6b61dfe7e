package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Index drift probes: all three incremental indexes pin their
 * parameters at seed time (centroids, hyperplanes, banding widths), so
 * a drifting corpus silently degrades them. Each probe must stay quiet
 * on a delta drawn from the seed's distribution and FIRE on a
 * deliberately drifted one — the documented rebuild trigger.
 */
class DriftProbeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def gauss(seed: Long, n: Int, dim: Int,
                    shift: Float = 0f): Seq[(Long, Array[Float])] = {
    val r = new java.util.Random(seed)
    (0 until n).map(i =>
      ((seed * 1000 + i, Array.fill(dim)(r.nextGaussian().toFloat + shift))))
  }

  test("semantic probe: quiet on matched delta, fires on far-from-centroid drift") {
    val dim = 16
    val cents = Array(Array.fill(dim)(1f), Array.fill(dim)(-1f))
    // seed: tight around the two centroids
    val seed = (gauss(1, 50, dim).map { case (id, v) =>
      (id, v.zip(cents(0)).map { case (x, c) => c + 0.1f * x }) } ++
      gauss(2, 50, dim).map { case (id, v) =>
        (id, v.zip(cents(1)).map { case (x, c) => c + 0.1f * x }) })
      .toDF("vec_id", "embedding")
    val ix = Dedup.buildSemanticIndex(seed, "vec_id", "embedding", cents)

    val matched = gauss(3, 20, dim).map { case (id, v) =>
      (id, v.zip(cents(0)).map { case (x, c) => c + 0.1f * x }) }
      .toDF("vec_id", "embedding")
    val quiet = Dedup.semanticDriftProbe(ix, matched, "vec_id", "embedding").head()
    assert(!quiet.getAs[Boolean]("rebuild_recommended"),
      s"matched delta must not fire: $quiet")
    assert(math.abs(quiet.getAs[Double]("ratio") - 1.0) < 0.5)

    // drifted: vectors far from every centroid (offset +10 on every dim)
    val drifted = gauss(4, 20, dim, shift = 10f).toDF("vec_id", "embedding")
    val loud = Dedup.semanticDriftProbe(ix, drifted, "vec_id", "embedding").head()
    assert(loud.getAs[Boolean]("rebuild_recommended"),
      s"drifted delta must fire: $loud")
    assert(loud.getAs[Double]("ratio") > 1.5)
    assert(loud.getAs[Double]("delta_mean_dist") > loud.getAs[Double]("seed_mean_dist"))
  }

  test("cosine probe: quiet on matched delta, fires when the delta collapses into one bucket") {
    val dim = 16
    val seed = gauss(10, 200, dim).toDF("vec_id", "embedding")
    val ix = Dedup.buildCosineIndex(seed, "vec_id", "embedding",
      numBits = 6, bands = 2)
    val matched = gauss(11, 50, dim).toDF("vec_id", "embedding")
    val quiet = Dedup.cosineDriftProbe(ix, matched, "vec_id", "embedding").head()
    assert(!quiet.getAs[Boolean]("rebuild_recommended"),
      s"matched isotropic delta must not fire: $quiet")

    // drifted: every delta vector identical → one bucket per band,
    // top-share 1.0 — the bucket-local scan degrades toward all-pairs
    val one = gauss(12, 1, dim).head._2
    val collapsed = (0 until 50).map(i => (9000L + i, one)).toDF("vec_id", "embedding")
    val loud = Dedup.cosineDriftProbe(ix, collapsed, "vec_id", "embedding").head()
    assert(loud.getAs[Boolean]("rebuild_recommended"),
      s"collapsed delta must fire: $loud")
    assert(loud.getAs[Double]("skew_ratio") > 4.0)
  }

  test("minhash probe: new buckets alone stay quiet (novel text is normal); set-size drift fires") {
    val words = Seq("alpha", "beta", "gamma", "delta", "river", "stone",
      "cloud", "ember", "quartz", "willow")
    def doc(seed: Long, len: Int): String = {
      val r = new java.util.Random(seed)
      (0 until len).map(_ => words(r.nextInt(words.length))).mkString(" ")
    }
    val seedDocs = (0 until 100).map(i => (i.toLong, doc(i, 30))).toDF("doc_id", "text")
    val ix = Dedup.buildMinhashIndex(seedDocs, "doc_id", "text",
      numHashes = 16, bands = 4, shingleLen = 3)
    // novel content, same length distribution: lots of fresh buckets, no fire
    val novel = (0 until 30).map(i => (1000L + i, doc(7777 + i, 30))).toDF("doc_id", "text")
    val quiet = Dedup.minhashDriftProbe(ix, novel, "doc_id", "text").head()
    assert(!quiet.getAs[Boolean]("rebuild_recommended"),
      s"novel-but-same-shape delta must not fire: $quiet")
    assert(quiet.getAs[Double]("new_bucket_frac") > 0.5,
      "novel text SHOULD mint fresh buckets — that is the normal case")
    // 10× longer documents: the grid's block-sizing assumptions break
    val longDocs = (0 until 30).map(i => (2000L + i, doc(8888 + i, 300))).toDF("doc_id", "text")
    val loud = Dedup.minhashDriftProbe(ix, longDocs, "doc_id", "text").head()
    assert(loud.getAs[Boolean]("rebuild_recommended"), s"long-doc delta must fire: $loud")
    assert(loud.getAs[Double]("set_size_ratio") > 2.0)
  }

  test("pinned baseline: fire/quiet parity with the live fallback, and survives save/load") {
    val words = Seq("alpha", "beta", "gamma", "delta", "river", "stone",
      "cloud", "ember", "quartz", "willow")
    def doc(seed: Long, len: Int): String = {
      val r = new java.util.Random(seed)
      (0 until len).map(_ => words(r.nextInt(words.length))).mkString(" ")
    }
    val seedDocs = (0 until 100).map(i => (i.toLong, doc(i, 30))).toDF("doc_id", "text")
    val live = Dedup.buildMinhashIndex(seedDocs, "doc_id", "text",
      numHashes = 16, bands = 4, shingleLen = 3)
    val dir = TestSpark.tempDir("graft-baseline").toString
    Dedup.save(Dedup.pinDriftBaseline(live), dir)
    val pinned = Dedup.load(spark, dir, Dedup.MinhashIndex)
    val bl = pinned.baseline.getOrElse(fail("baseline must survive save/load"))
    assert(bl.seedKeyCount === 400L) // 100 docs × 4 bands
    assert(!bl.meanSetSize.isNaN && bl.meanSetSize > 0)
    assert(bl.bucketBloom.isDefined)

    val novel = (0 until 30).map(i => (1000L + i, doc(7777 + i, 30))).toDF("doc_id", "text")
    val longDocs = (0 until 30).map(i => (2000L + i, doc(8888 + i, 300))).toDF("doc_id", "text")
    for (delta <- Seq(novel, longDocs)) {
      val a = Dedup.minhashDriftProbe(live, delta, "doc_id", "text").head()
      val b = Dedup.minhashDriftProbe(pinned, delta, "doc_id", "text").head()
      assert(a.getAs[Boolean]("rebuild_recommended") ===
        b.getAs[Boolean]("rebuild_recommended"), s"live=$a pinned=$b")
      // the Bloom's 1% fp can only LOWER new_bucket_frac, and barely
      assert(math.abs(a.getAs[Double]("new_bucket_frac") -
        b.getAs[Double]("new_bucket_frac")) < 0.05, s"live=$a pinned=$b")
      assert(math.abs(a.getAs[Double]("set_size_ratio") -
        b.getAs[Double]("set_size_ratio")) < 1e-9)
    }
  }

  test("pinned baseline does not absorb appended drift; a live baseline does (the boiled frog)") {
    val dim = 16
    val cents = Array(Array.fill(dim)(1f), Array.fill(dim)(-1f))
    val seed = (gauss(20, 50, dim).map { case (id, v) =>
      (id, v.zip(cents(0)).map { case (x, c) => c + 0.1f * x }) } ++
      gauss(21, 50, dim).map { case (id, v) =>
        (id, v.zip(cents(1)).map { case (x, c) => c + 0.1f * x }) })
      .toDF("vec_id", "embedding")
    val dir = TestSpark.tempDir("graft-frog").toString
    Dedup.save(
      Dedup.buildSemanticIndex(seed, "vec_id", "embedding", cents), dir)
    val ix0 = Dedup.pinDriftBaseline(Dedup.load(spark, dir, Dedup.SemanticIndex))

    // two drifted waves, appended in sequence — the corpus walks away
    // from the centroids batch by batch
    val wave1 = gauss(22, 50, dim, shift = 10f).toDF("vec_id", "embedding")
    val wave2 = gauss(23, 50, dim, shift = 10f)
      .map { case (id, v) => (id + 500000L, v) }.toDF("vec_id", "embedding")
    val grown = Dedup.append(ix0, wave1, "vec_id", "embedding")
    assert(grown.baseline === ix0.baseline, "append must carry the pinned baseline")

    val pinnedProbe = Dedup.semanticDriftProbe(grown, wave2, "vec_id", "embedding").head()
    val liveProbe = Dedup.semanticDriftProbe(grown.copy(baseline = None),
      wave2, "vec_id", "embedding").head()
    assert(pinnedProbe.getAs[Boolean]("rebuild_recommended"),
      s"pinned baseline must keep firing on cumulative drift: $pinnedProbe")
    assert(pinnedProbe.getAs[Double]("ratio") > liveProbe.getAs[Double]("ratio"),
      s"live baseline absorbs the appended wave (pinned=$pinnedProbe live=$liveProbe)")
  }

  test("probes stay quiet (not NPE) on empty and single-row deltas") {
    val dim = 8
    val cents = Array(Array.fill(dim)(1f), Array.fill(dim)(-1f))
    val seed = gauss(30, 200, dim).toDF("vec_id", "embedding")
    val six = Dedup.buildSemanticIndex(
      seed.limit(50), "vec_id", "embedding", cents)
    val cix = Dedup.buildCosineIndex(seed, "vec_id", "embedding",
      numBits = 6, bands = 2)
    val mix = Dedup.buildMinhashIndex(
      (0 until 50).map(i => (i.toLong, s"words for document $i repeated"))
        .toDF("doc_id", "text"), "doc_id", "text")
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(!Dedup.semanticDriftProbe(six, empty, "vec_id", "embedding")
      .head().getAs[Boolean]("rebuild_recommended"))
    assert(!Dedup.cosineDriftProbe(cix, empty, "vec_id", "embedding")
      .head().getAs[Boolean]("rebuild_recommended"))
    assert(!Dedup.minhashDriftProbe(mix, emptyDocs, "doc_id", "text")
      .head().getAs[Boolean]("rebuild_recommended"))
    // a single healthy vector against a 200-row seed: its top bucket is
    // a singleton, so share-vs-share reads huge but the absolute
    // occupancy floor keeps the skew trip quiet
    val one = gauss(31, 1, dim).toDF("vec_id", "embedding")
    val r = Dedup.cosineDriftProbe(cix, one, "vec_id", "embedding").head()
    assert(!r.getAs[Boolean]("rebuild_recommended"),
      s"single-row batch must not trip the skew floor: $r")
  }

  test("archive seeds pin the baseline; loadLatest carries it into per-batch probes") {
    val dim = 8
    val cents = Array(Array.fill(dim)(1f), Array.fill(dim)(-1f))
    val archive = TestSpark.tempDir("graft-drift-b").toString
    graft.streaming.ArchiveDedup.seedArchive(
      Dedup.buildSemanticIndex(Seq((0L, cents(0).map(_ + 0.02f)), (1L, cents(1).map(_ - 0.02f)))
        .toDF("vec_id", "embedding"), "vec_id", "embedding", cents),
      archive)
    val (ix, _) = graft.streaming.ArchiveDedup.loadLatest(spark, archive, Dedup.SemanticIndex)
    assert(ix.baseline.isDefined, "seeded archive must carry a pinned baseline")
    assert(!ix.baseline.get.meanDist.isNaN && ix.baseline.get.meanDist > 0)
  }

  test("archive sinks emit the probe alongside pairs when driftDir is set") {
    val dim = 8
    val cents = Array(Array.fill(dim)(1f), Array.fill(dim)(-1f))
    val archive = TestSpark.tempDir("graft-drift-a").toString
    val pairsDir = TestSpark.tempDir("graft-drift-p").toString
    val driftDir = TestSpark.tempDir("graft-drift-d").toString
    // seed members sit NEAR the centroids, not on them (a zero seed
    // mean-distance would make any nonzero delta an infinite ratio)
    graft.streaming.ArchiveDedup.seedArchive(
      Dedup.buildSemanticIndex(Seq((0L, cents(0).map(_ + 0.02f)), (1L, cents(1).map(_ - 0.02f)))
        .toDF("vec_id", "embedding"), "vec_id", "embedding", cents),
      archive)
    graft.streaming.ArchiveDedup.processBatch(
      Seq((10L, cents(0).map(_ + 0.01f))).toDF("vec_id", "embedding"),
      0L, archive, pairsDir, "vec_id", "embedding", 0.9,
      driftDir = Some(driftDir))
    val probe = spark.read.option("basePath", driftDir).parquet(driftDir)
    val row = probe.head()
    assert(probe.columns.contains("rebuild_recommended"))
    assert(probe.columns.contains("batch_id"))
    assert(!row.getAs[Boolean]("rebuild_recommended"))
  }
}
