package graft.tools

import graft.operators.{Dedup, SimilarityJoin}
import graft.streaming.ArchiveDedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Auto-reseed under GENUINE distribution drift, at scale
 * (`runMain graft.tools.ReseedScale [seedRows] [batchRows] [dim]`):
 * the semantic archive's end-to-end acting-on-drift loop measured with
 * a drifting cluster-mean generator plus its false-positive control —
 * the ×100 companion to AutoReseedSpec's unit-scale mechanism proof.
 *
 * Generator: K = 32 seeded gaussian clusters (scale 20, σ = 1, random
 * unit directions — near-orthogonal at dim 64). The DRIFT family is 16
 * new clusters whose directions are the normalized midpoints of seed
 * centroid pairs: their members straddle the old Voronoi boundary, so
 * under the STALE pinned centroids each family splits across two cells
 * and its within-family θ-pairs become invisible to within-cluster
 * pairing — exactly the recall decay the probe exists to catch
 * (assignment distance to the nearest stale centroid also grows:
 * 400·(1−cos 45°)+σ²·dim vs σ²·dim, ratio ≈ 2.2 at full mix).
 *
 * Protocol, three phases over one stream (autoReseedAfter = 2):
 *  A. in-distribution batches → FALSE-POSITIVE rate of the
 *     consecutive-trips rule (trips expected: 0);
 *  B. drift mix ramping 25% → 100% → probe trips, second consecutive
 *     trip auto-reseeds (centroids re-fit on the cumulative corpus);
 *  C. post-reseed drift-distribution batches → recall restored, probe
 *     quiet under the recalibrated baseline, wall flat across the
 *     generation boundary.
 *
 * Per-batch RECALL oracle: exact blocked cosine scan (the same
 * double-math kernel as the batch operator) of (archive ∪ batch)
 * against a fixed-size sample of the batch — all θ-pairs touching the
 * sample — vs the operator's emitted pairs touching the sample.
 * Within-cluster pairs ⊆ global pairs and both sides are exact cosine,
 * so recall = |emitted ∩ sample-touching| / |exact sample-touching|.
 */
object ReseedScale {
  def main(args: Array[String]): Unit = {
    val seedRows = args.lift(0).map(_.toInt).getOrElse(100000)
    val batchRows = args.lift(1).map(_.toInt).getOrElse(10000)
    val dim = args.lift(2).map(_.toInt).getOrElse(64)
    val sampleRows = 2000
    val theta = 0.8
    val spark = graft.Graft.session()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val nSeedClusters = 32
    val nDriftFamilies = 16
    // seeded unit directions; drift directions straddle seed-pair bisectors
    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    val seedDirs = Array.tabulate(nSeedClusters) { c =>
      val r = new java.util.Random(42L + c)
      unit(Array.fill(dim)(r.nextGaussian()))
    }
    val driftDirs = Array.tabulate(nDriftFamilies) { f =>
      unit(seedDirs(2 * f).zip(seedDirs(2 * f + 1)).map { case (a, b) => a + b })
    }
    val bcSeed = spark.sparkContext.broadcast(seedDirs)
    val bcDrift = spark.sparkContext.broadcast(driftDirs)
    val scale = 20.0

    /** rows [lo, lo+n): drift fraction f drawn from straddle families. */
    def gen(lo: Long, n: Int, f: Double): DataFrame =
      spark.range(lo, lo + n).as[Long].mapPartitions { it =>
        it.map { id =>
          val r = new java.util.Random(id * 2654435761L + 17L)
          val isDrift = r.nextDouble() < f
          val d =
            if (isDrift) bcDrift.value((id % nDriftFamilies).toInt)
            else bcSeed.value((id % nSeedClusters).toInt)
          (id, Array.tabulate(dim)(i => (d(i) * scale + r.nextGaussian()).toFloat))
        }
      }.toDF("vec_id", "embedding")

    val archive = java.nio.file.Files.createTempDirectory("graft-rseed").toString
    val pairsDir = java.nio.file.Files.createTempDirectory("graft-rseed-pairs").toString
    val driftDir = java.nio.file.Files.createTempDirectory("graft-rseed-drift").toString

    def timed[T](fn: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = fn; (r, (System.nanoTime() - t0) / 1e9)
    }

    val seedDf = gen(0L, seedRows, 0.0).cache()
    seedDf.count()
    val (_, seedWall) = timed {
      val cents = graft.operators.Clustering.fitCentroids(
        seedDf.select(col("vec_id").as("id"), col("embedding").as("v")),
        "v", nSeedClusters, seed = 7L)
      ArchiveDedup.seedArchive(
        Dedup.buildSemanticIndex(seedDf, "vec_id", "embedding", cents), archive)
    }
    println(f"seed: $seedRows rows x $dim dims, $nSeedClusters fitted centroids  $seedWall%8.2f s")
    seedDf.unpersist()

    // drift mix per batch: A = batches 0..7 in-distribution; B = ramp
    // 25/50/75/100% at 8..11; C = 100% drift 12..17 (post-reseed regime)
    def mixOf(b: Int): Double =
      if (b < 8) 0.0 else math.min(1.0, 0.25 * (b - 7))

    println(f"${"batch"}%5s ${"mix"}%5s ${"wall_s"}%8s ${"ratio"}%7s ${"trip"}%5s " +
      f"${"reseed"}%6s ${"pairs"}%9s ${"exact"}%9s ${"recall"}%7s")
    var reseedBatches = List.empty[Int]
    var phaseATrips = 0
    val walls = (0 until 18).map { b =>
      val f = mixOf(b)
      val lo = seedRows.toLong + b.toLong * batchRows
      val batch = gen(lo, batchRows, f).cache()
      batch.count()
      // exact oracle vs the PRE-batch archive (what the operator sees)
      val (ix, _) = ArchiveDedup.loadLatest(spark, archive, Dedup.SemanticIndex)
      val archiveVecs = ix.members.select(lit(0).as("g"),
        col("id"), col("v"))
      val reseedsBefore = new java.io.File(archive).listFiles()
        .map(_.getName).count(_.startsWith("r"))
      val (_, wall) = timed {
        ArchiveDedup.processBatch(batch, b.toLong, archive, pairsDir,
          "vec_id", "embedding", theta, compactEvery = 8,
          driftDir = Some(driftDir), autoReseedAfter = 2)
      }
      val reseeded = new java.io.File(archive).listFiles()
        .map(_.getName).count(_.startsWith("r")) > reseedsBefore
      if (reseeded) reseedBatches ::= b
      // the semantic family's drift-probe row
      val probe = spark.read
        .schema("seed_mean_dist DOUBLE, delta_mean_dist DOUBLE, ratio DOUBLE, " +
          "rebuild_recommended BOOLEAN")
        .parquet(s"$driftDir/batch_id=$b").head()
      val tripped = probe.getAs[Boolean]("rebuild_recommended")
      if (b < 8 && tripped) phaseATrips += 1
      // recall over pairs touching a fixed batch sample
      val sampleIds = (lo until lo + sampleRows).toSet
      val nonSample = batch.where(col("vec_id") >= lo + sampleRows)
        .select(lit(0).as("g"), col("vec_id").as("id"),
          col("embedding").cast("array<float>").as("v"))
      val sample = batch.where(col("vec_id") < lo + sampleRows)
        .select(lit(0).as("g"), col("vec_id").as("id"),
          col("embedding").cast("array<float>").as("v"))
      // hotGroupPairCap pinned UNBOUNDED (r19, ADVICE): this is the
      // recall oracle's exact denominator — all theta-pairs touching the
      // sample. The single group's candidate work (~archive × sample)
      // dwarfs the AutoCap default, so an unpinned call would go hot and
      // emit covering edges only, voiding the recall metric and phase-B
      // dip detection. Same exact-reference rationale as the oracle
      // queries and DedupScale's marks rows.
      val exact = SimilarityJoin.groupedThresholdPairsDelta(
        archiveVecs.unionByName(nonSample), sample, "g", "id", "v", theta,
        hotGroupPairCap = Long.MaxValue).count()
      val emitted = spark.read.schema("id_a BIGINT, id_b BIGINT")
        .parquet(s"$pairsDir/batch_id=$b")
        .where(col("id_a").isin(sampleIds.toSeq.map(Long.box): _*) ||
          col("id_b").isin(sampleIds.toSeq.map(Long.box): _*))
        .count()
      batch.unpersist()
      val recall = if (exact == 0) 1.0 else emitted.toDouble / exact
      println(f"$b%5d ${f * 100}%4.0f%% $wall%8.2f ${probe.getAs[Double]("ratio")}%7.2f " +
        f"${if (tripped) "TRIP" else "-"}%5s ${if (reseeded) "RESEED" else "-"}%6s " +
        f"$emitted%9d $exact%9d $recall%7.3f")
      (b, wall, recall)
    }
    // phase boundaries key on the FIRST reseed (reseedBatches is built
    // by prepend, so head would be the LATEST — mislabeling the phases
    // if the probe ever fired twice)
    val firstReseed = reseedBatches.sorted.headOption
    val phaseAWalls = walls.filter(_._1 < 8).map(_._2)
    val phaseCWalls = walls.filter(w => w._1 >= 12 && !reseedBatches.contains(w._1)).map(_._2)
    val preRecall = walls.filter(_._1 < 8).map(_._3)
    val dipRecall = walls.filter(w => w._1 >= 9 && w._1 <= firstReseed.getOrElse(11)).map(_._3)
    val postRecall = walls.filter(_._1 >= firstReseed.getOrElse(11) + 1).map(_._3)
    println(f"false-positive rate (phase A, in-distribution): $phaseATrips/8 trips")
    println(s"reseed batches: ${reseedBatches.sorted.mkString(",")}")
    println(f"recall: in-dist mean ${preRecall.sum / preRecall.size}%.3f; " +
      f"stale-centroid drift mean ${if (dipRecall.nonEmpty) dipRecall.sum / dipRecall.size else -1.0}%.3f; " +
      f"post-reseed mean ${if (postRecall.nonEmpty) postRecall.sum / postRecall.size else -1.0}%.3f")
    println(f"wall: phase-A mean ${phaseAWalls.sum / phaseAWalls.size}%.2f s; " +
      f"post-reseed (excl. reseed batch) mean ${if (phaseCWalls.nonEmpty) phaseCWalls.sum / phaseCWalls.size else -1.0}%.2f s; " +
      f"reseed batch wall ${reseedBatches.sorted.headOption.map(rb => walls.find(_._1 == rb).get._2).getOrElse(-1.0)}%.2f s")
    spark.stop()
  }
}
