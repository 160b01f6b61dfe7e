package graft.tools

import graft.operators.{Dedup, SimilarityJoin}
import org.apache.spark.sql.functions._

/**
 * Evidence for the r19 cold-path probe (r19 verdict ask #2, shipped
 * r20): the banded delta routes under a FINITE hot-pair cap take the
 * exact unbounded plan shape when the probe proves no bucket is hot —
 * the min-mate reduce stage is ABSENT from the lineage — and the
 * routed scan stage is sized by the probed cell count instead of the
 * fixed 4×parallelism width. The reduce is an RDD stage, invisible to
 * SQL explain, so the proof is `RDD.toDebugString` (ShuffledRDD count)
 * plus [[QueryJobs.Counter]]'s job/stage/task counts around one action:
 * `runMain graft.tools.ProbeRouteProof` (output goes to stdout;
 * committed under plans/r20/).
 */
object ProbeRouteProof {
  def main(args: Array[String]): Unit = {
    val spark = graft.Graft.session("local[8]", 8)
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val counter = new QueryJobs.Counter(spark)

    def word(r: java.util.Random): String =
      Iterator.continually(('a' + r.nextInt(26)).toChar).take(6).mkString
    def uniqueText(id: Long): String = {
      val r = new java.util.Random(7L + id)
      Iterator.continually(word(r)).take(30).mkString(" ")
    }
    // dense cluster: every doc shares one boilerplate body (same
    // shingle set → same banding buckets → bucket m = cluster size)
    val boiler = uniqueText(-1L)

    def report(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val lineage = df.rdd.toDebugString
      val shuffles = "ShuffledRDD".r.findAllIn(lineage).size
      println(s"\n===== $name =====")
      println(lineage)
      println(s"-- ShuffledRDD stages in lineage: $shuffles")
      val (n, _, c) = counter.profile(df.count())
      println(s"-- action: rows=$n $c")
    }

    // ---------- minhash delta route ----------
    val ixDocs = (0L until 400L).map(i => (i, uniqueText(i))).toDF("id", "text")
    val ix = Dedup.buildMinhashIndex(ixDocs, "id", "text")
    // COLD but non-empty: each delta doc duplicates ONE archived doc, so
    // buckets survive with m = 2 (work 2 ≤ cap — no bucket hot) and the
    // scan emits real pairs; the lineage difference vs HOT is exactly
    // the min-mate reduce stage, never an empty-plan collapse
    val coldDelta = (400L until 500L).map(i => (i, uniqueText(i - 400L)))
      .toDF("id", "text")
    val hotDelta = (400L until 500L).map(i => (i, boiler + s" tail$i")).toDF("id", "text")
    val hotIx = Dedup.buildMinhashIndex(
      (0L until 400L).map(i => (i, boiler + s" tail$i")).toDF("id", "text"), "id", "text")
    // finite cap on BOTH runs: only the probe's answer differs
    val cap = 64L
    report("minhashDeltaPairs COLD corpus, finite cap (probe => no reduce)",
      Dedup.minhashDeltaPairs(ix, coldDelta, "id", "text", 0.5,
        hotBucketPairCap = cap))
    report("minhashDeltaPairs HOT corpus, same finite cap (probe => reduce present)",
      Dedup.minhashDeltaPairs(hotIx, hotDelta, "id", "text", 0.5,
        hotBucketPairCap = cap))

    // ---------- cosine LSH delta route ----------
    def vec(id: Long, r: java.util.Random): Array[Float] =
      Array.tabulate(16)(_ => r.nextGaussian().toFloat)
    val eIx = (0L until 400L).map { i =>
      (i, vec(i, new java.util.Random(100L + i)))
    }.toDF("id", "v")
    val cIx = Dedup.buildCosineIndex(eIx, "id", "v")
    // cold but non-empty: each delta vector duplicates one archived
    // vector (same seed) — shared buckets with m = 2, nothing hot
    val coldVecs = (400L until 500L).map { i =>
      (i, vec(i, new java.util.Random(100L + (i - 400L))))
    }.toDF("id", "v")
    // dense cluster: all delta vectors near one archived direction
    val base = vec(0L, new java.util.Random(100L))
    val hotVecs = (400L until 500L).map { i =>
      val r = new java.util.Random(900L + i)
      (i, base.map(x => x + 0.001f * r.nextGaussian().toFloat))
    }.toDF("id", "v")
    val hotEIx = (0L until 400L).map { i =>
      val r = new java.util.Random(900L + i)
      (i, base.map(x => x + 0.001f * r.nextGaussian().toFloat))
    }.toDF("id", "v")
    val hotCIx = Dedup.buildCosineIndex(hotEIx, "id", "v")
    // the cosine corpora band into an 8-bit signature space where 500
    // random vectors give buckets of ~tens — a cap of 64 would mark the
    // incidental collisions hot; 20k separates them from the genuinely
    // dense cluster below (work ≈ 100 × 500 = 50k)
    val capC = 20000L
    report("lshCosineDeltaPairs COLD corpus, finite cap (probe => no reduce)",
      SimilarityJoin.lshCosineDeltaPairs(cIx.buckets, cIx.vecs, coldVecs,
        "id", "v", 0.9, cIx.numBits, cIx.bands, cIx.dim, cIx.seed,
        hotBucketPairCap = capC))
    report("lshCosineDeltaPairs HOT corpus, same finite cap (probe => reduce present)",
      SimilarityJoin.lshCosineDeltaPairs(hotCIx.buckets, hotCIx.vecs, hotVecs,
        "id", "v", 0.9, hotCIx.numBits, hotCIx.bands, hotCIx.dim, hotCIx.seed,
        hotBucketPairCap = capC))

    spark.stop()
  }
}
