package graft.tools

import graft.operators.Dedup
import org.apache.spark.sql.functions._

/**
 * Per-batch drift-probe cost at scale
 * (`runMain graft.tools.DriftScale <dir>`): seed a ×100-sized minhash
 * index (90% of documents) and a semantic index (90% of embeddings,
 * k=64 seed-sampled centroids), persist + pin their baselines, then
 * time each probe over a 10% delta under [[Timing]]'s
 * trimmed-mean-of-5 in BOTH regimes:
 *
 *  - pinned (the default after round 11): seed side = scalars + a
 *    broadcast Bloom — the probe's wall is delta-only, so per-batch
 *    cost tracks the crawl while the archive grows without bound;
 *  - live fallback (`baseline = None`, the pre-round-11 shape): the
 *    probe re-scans the archive's key/payload column per call — the
 *    per-batch cost that grows with stream age.
 *
 * The trip decisions must agree between regimes at seed time (the
 * archive hasn't moved yet) — printed per phase as a sanity gate.
 */
object DriftScale {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = graft.Graft.session()
    spark.sparkContext.setLogLevel("WARN")

    // minhash over documents
    val docs = graft.Tables(spark, dir, "documents")
    val dOld = docs.where(col("doc_id") % 10 =!= 0)
    val dNew = docs.where(col("doc_id") % 10 === 0)
    val mDir = java.nio.file.Files.createTempDirectory("graft-driftscale-m").toString
    Timing.report("minhash_seed_save_pin") {
      Dedup.save(Dedup.buildMinhashIndex(dOld, "doc_id", "text"), mDir)
      Dedup.saveDriftBaseline(mDir, Dedup.pinDriftBaseline(
        Dedup.load(spark, mDir, Dedup.MinhashIndex)).baseline, spark)
    }
    val mIx = Dedup.load(spark, mDir, Dedup.MinhashIndex)
    println("minhash probe row: " +
      Dedup.minhashDriftProbe(mIx, dNew, "doc_id", "text").head())
    var fire = "?"
    Timing.report("minhash_probe_pinned", extra = () => s"fired=$fire") {
      fire = Dedup.minhashDriftProbe(mIx, dNew, "doc_id", "text")
        .head().getAs[Boolean]("rebuild_recommended").toString
    }
    Timing.report("minhash_probe_live", extra = () => s"fired=$fire") {
      fire = Dedup.minhashDriftProbe(mIx.copy(baseline = None), dNew, "doc_id", "text")
        .head().getAs[Boolean]("rebuild_recommended").toString
    }

    // semantic over embeddings
    val e = graft.Tables(spark, dir, "embeddings")
    val eOld = e.where(col("vec_id") % 10 =!= 0)
    val eNew = e.where(col("vec_id") % 10 === 0)
    val cents = eOld.orderBy(col("vec_id")).limit(64)
      .select(col("embedding").cast("array<float>"))
      .collect().map(_.getSeq[Float](0).toArray)
    val sDir = java.nio.file.Files.createTempDirectory("graft-driftscale-s").toString
    Timing.report("semantic_seed_save_pin") {
      Dedup.save(Dedup.buildSemanticIndex(eOld, "vec_id", "embedding", cents), sDir)
      Dedup.saveDriftBaseline(sDir, Dedup.pinDriftBaseline(
        Dedup.load(spark, sDir, Dedup.SemanticIndex)).baseline, spark)
    }
    val sIx = Dedup.load(spark, sDir, Dedup.SemanticIndex)
    Timing.report("semantic_probe_pinned", extra = () => s"fired=$fire") {
      fire = Dedup.semanticDriftProbe(sIx, eNew, "vec_id", "embedding")
        .head().getAs[Boolean]("rebuild_recommended").toString
    }
    Timing.report("semantic_probe_live", extra = () => s"fired=$fire") {
      fire = Dedup.semanticDriftProbe(sIx.copy(baseline = None), eNew, "vec_id", "embedding")
        .head().getAs[Boolean]("rebuild_recommended").toString
    }
    spark.stop()
  }
}
