package graft.tools

import org.apache.spark.sql.functions._

/** One-off diagnostic: LSH bucket occupancy at a given sf — how much of
  * the grid's payload sits in buckets that can never emit a pair.
  * Mode `minhash` (default) probes the q35 document banding; mode
  * `cosine` probes the q15 hyperplane banding at the auto-sized widths. */
object BucketProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val mode = if (args.length > 1) args(1) else "minhash"
    val spark = graft.Graft.session()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val t0 = System.nanoTime()
    val banded: org.apache.spark.sql.DataFrame = if (mode == "cosine") {
      val e = graft.Tables(spark, dir, "embeddings")
      val n = e.count()
      val bits = graft.operators.Dedup.autoLshBits(n)
      val bands = graft.operators.Dedup.autoLshBands(bits)
      println(s"cosine widths at n=$n: bits=$bits bands=$bands")
      val d = e.select(max(size(col("embedding")))).head().getInt(0)
      val rng = new scala.util.Random(42L)
      val planes = Array.fill(bands, bits)(Array.fill(d)(rng.nextGaussian()))
      val bc = spark.sparkContext.broadcast(planes)
      e.select(col("vec_id").cast("long"), col("embedding").cast("array<float>"))
        .as[(Long, Array[Float])]
        .mapPartitions { it =>
          val ps = bc.value
          it.flatMap { case (id, v) =>
            Iterator.tabulate(ps.length) { bi =>
              var sig = 0L
              var b = 0
              while (b < ps(bi).length) {
                val plane = ps(bi)(b)
                var s = 0.0; var i = 0
                val nn = math.min(plane.length, v.length)
                while (i < nn) { s += plane(i) * v(i); i += 1 }
                if (s > 0) sig |= (1L << b)
                b += 1
              }
              (bi, ((bi.toLong << bits) | sig).toString, v.length)
            }
          }
        }.toDF("band", "bucket", "nsh")
    } else {
      val docs = graft.Tables(spark, dir, "documents")
      docs.select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)]
        .mapPartitions { it =>
          val md = java.security.MessageDigest.getInstance("MD5")
          it.flatMap { case (id, t) =>
            val sh = graft.operators.Dedup.shinglesOf(t, 3)
            val b = graft.operators.Dedup.bandBucketsOf(md, sh, 16, 4)
            (0 until 4).iterator.map(x => (x, b(x), sh.length))
          }
        }
        .toDF("band", "bucket", "nsh")
    }
    val stats = banded.groupBy("band", "bucket")
      .agg(count(lit(1)).as("m"), sum(col("nsh")).as("shingles"))
      .agg(count(lit(1)).as("buckets"),
        sum(col("m")).as("rows"),
        sum(col("m") * (col("m") - 1) / 2).as("cand_pairs"),
        max(col("m")).as("max_m"),
        sum(when(col("m") === 1, 1L).otherwise(0L)).as("singletons"),
        sum(col("shingles")).as("tot_shingle_rows"))
      .head()
    println(f"banding wall ${(System.nanoTime() - t0) / 1e9}%.1f s")
    println(s"buckets=${stats.getLong(0)} rows=${stats.getLong(1)} " +
      s"cand_pairs=${stats.getAs[Any](2)} max_m=${stats.getLong(3)} " +
      s"singletons=${stats.getLong(4)} shingle_payload_rows=${stats.getLong(5)}")
    spark.stop()
  }
}
