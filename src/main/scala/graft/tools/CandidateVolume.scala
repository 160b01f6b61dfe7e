package graft.tools

import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** Attribution probe for the uncached cosine pair build: Σ C(m,2) over
  * (band, bucket) groups is the TOTAL candidate-pair scan volume (grid
  * partitioning never changes it), and m-distribution percentiles show
  * the skew the block grid has to absorb.
  * `runMain graft.tools.CandidateVolume <dir>`. */
object CandidateVolume {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = graft.Graft.session()
    spark.sparkContext.setLogLevel("WARN")
    val e = graft.Tables(spark, dir, "embeddings")
    val n = e.count()
    val bits = Dedup.autoLshBits(n)
    val bands = Dedup.autoLshBands(bits)
    println(s"n=$n bits=$bits bands=$bands")
    val ix = Dedup.buildCosineIndex(e, "vec_id", "embedding",
      numBits = bits, bands = bands)
    val m = ix.buckets.groupBy("bkt").agg(count(lit(1)).as("m")).cache()
    m.agg(
      count(lit(1)).as("buckets"),
      sum(col("m")).as("keys"),
      sum(col("m") * (col("m") - 1) / 2).as("cand_pairs"),
      max(col("m")).as("max_m"),
      expr("percentile_approx(m, array(0.5, 0.9, 0.99))").as("m_p50_p90_p99")
    ).show(false)
    spark.stop()
  }
}
