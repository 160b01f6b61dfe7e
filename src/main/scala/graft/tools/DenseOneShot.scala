package graft.tools

import graft.operators.Dedup
import org.apache.spark.sql.functions._

/**
 * ×100 DENSE one-shot curation run (round 18, verdict ask #2): the
 * BATCH KEEP/DROP transforms — [[Dedup.minhashDedup]] (the q77-shape
 * pairs → Components → anti-join stage) and
 * [[Dedup.semanticDedupMarks]] — executed at 500k rows on the
 * boilerplate regime under DEFAULT configuration (no cap argument:
 * the engine's safe-by-default hot-pair resolution routes every dense
 * bucket/cluster through representative covering edges; the unbounded
 * pair space here would be ~100 clusters × 5000²/2 ≈ 1.25 BILLION pair
 * rows — the shape that can never be materialized).
 *
 * Corpus shape (same generators as ForgetUnderLoad's dense regimes):
 * ids from `<dir>/documents.parquet`, cluster = id % 100;
 *  - text: the cluster's ~40-word template + one unique token
 *    (intra-cluster 3-gram Jaccard ≈ 0.85 ≫ 0.5);
 *  - embeddings: cluster center + σ1.0 gaussian noise at dim 64
 *    (intra-cluster cosine ≈ 0.96 ≥ 0.95).
 *
 * End-state checks: the semantic verdict must KEEP every per-cluster
 * minimum id (ids 0..99 — the component min is the canonical survivor
 * and cross-cluster contamination is impossible under exact argmin
 * assignment), and survivor counts land near 100 (banding recall,
 * not the cap, owns the distance to exactly 100 — LSH misses a ~J^r
 * fraction of docs per band in BOTH the capped and unbounded routes).
 *
 * Usage: runMain graft.tools.DenseOneShot <dir> [nRows]
 */
object DenseOneShot {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = graft.Graft.session()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val nClusters = 100
    val dim = 64
    val ids = {
      val base = graft.Tables(spark, dir, "documents")
        .select(col("doc_id").cast("long")).as[Long]
      args.lift(1).map(_.toLong).fold(base)(n => base.filter(_ < n))
    }
    val nRows = ids.count()
    println(s"dense one-shot corpus: $nRows rows, $nClusters clusters")

    def timed[T](label: String)(fn: => T): T = {
      val t0 = System.nanoTime()
      val r = fn
      println(f"$label%-52s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }

    // ---- text: minhashDedup (q77-shape), default cap
    val templates = Array.tabulate(nClusters) { c =>
      val r = new java.util.Random(77L + c)
      (0 until 40).map(_ => "w" + r.nextInt(5000)).mkString(" ")
    }
    val bcT = spark.sparkContext.broadcast(templates)
    val docs = ids.map(id => (id, bcT.value((id % nClusters).toInt) + s" uniq$id"))
      .toDF("doc_id", "text")
    val textKept = timed("minhashDedup ×100 dense text (default cap)") {
      Dedup.minhashDedup(docs, "doc_id", "text",
          numHashes = 16, bands = 4, shingleLen = 3, threshold = 0.5)
        .select(col("doc_id").cast("long")).as[Long].collect().toSet
    }
    println(s"  text survivors: ${textKept.size} (dense regime: ~$nClusters " +
      "+ banding-recall stragglers)")
    val textMins = (0L until nClusters.toLong).toSet
    require(textMins.subsetOf(textKept),
      s"every per-cluster min id must survive; missing ${textMins -- textKept}")

    // ---- embeddings: semanticDedupMarks (σ1.0), default cap, pinned
    // centroids = the generator's own centers (assignment exact)
    val centers = Array.tabulate(nClusters) { c =>
      val r = new java.util.Random(42L + c)
      Array.fill(dim)(r.nextGaussian() * 5.0)
    }
    val bcC = spark.sparkContext.broadcast(centers)
    val embs = ids.mapPartitions { it =>
      it.map { id =>
        val ctr = bcC.value((id % nClusters).toInt)
        val r = new java.util.Random(1000L + id)
        (id, Array.tabulate(dim)(i => (ctr(i) + r.nextGaussian() * 1.0).toFloat))
      }
    }.toDF("doc_id", "embedding")
    val semKept = timed("semanticDedupMarks ×100 dense σ1.0 (default cap)") {
      Dedup.semanticDedupMarks(embs, "doc_id", "embedding",
          threshold = 0.95, k = nClusters,
          centroids = Some(centers.map(_.map(_.toFloat))))
        .where(col("kept")).select(col("id")).as[Long].collect().toSet
    }
    println(s"  semantic survivors: ${semKept.size} (expected ≈ $nClusters)")
    require(textMins.subsetOf(semKept),
      s"every per-cluster min id must survive; missing ${textMins -- semKept}")
    println("end-state checks passed: per-cluster min ids all kept")
    spark.stop()
  }
}
