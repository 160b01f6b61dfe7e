package graft.tools

import org.apache.spark.sql.functions._

import java.util.Locale

/**
 * Pair-recall measurement for the auto-sized LSH near-dup route
 * ([[graft.operators.Dedup.embeddingNearDupPairs]]'s scale path) — the
 * BENCH.md evidence generator behind DedupSpec's recall gate.
 *
 * `runMain graft.tools.LshRecall <sfDir> <theta> <sampleN> <targetN> [nPlant]`
 *
 * Takes the first `sampleN` vectors (by vec_id — whole ScaleUp replicas,
 * preserving neighborhood structure) so the EXACT blocked threshold scan
 * is feasible, but evaluates the bits/bands the auto-sizing would choose
 * at `targetN`: per-band collision probability depends only on the
 * widths and each pair's angle — never on n — so sample recall estimates
 * full-corpus recall for the same widths.
 *
 * The synthetic embeddings tables contain NO true near-duplicates (their
 * closest pairs are background tail at cosine 0.4–0.5), so with
 * `nPlant > 0` the tool plants seeded near-dups at EXACT cosines spread
 * uniformly over [0.88, 0.995] — the range real perturbed-copy
 * duplicates occupy — via v' = cos·v̂ + sin·û with û an exact
 * orthonormal complement (see [[planted]]). Recall over planted pairs is
 * then recall over ground truth near-dups.
 */
object LshRecall {

  /** Deterministic planted near-dups: every (sampleN/nPlant)-th vector
    * gets one perturbed copy at an exact target cosine seeded by its id.
    * Returns (id, vec) rows to union with the sample. */
  def planted(rows: Array[(Long, Array[Float])], nPlant: Int,
              idOffset: Long): Array[(Long, Array[Float])] = {
    val every = math.max(1, rows.length / math.max(1, nPlant))
    rows.zipWithIndex.collect { case ((id, v), i) if i % every == 0 =>
      val rng = new scala.util.Random(id * 7919L + 17L)
      val c = 0.88 + 0.115 * rng.nextDouble() // exact target cosine
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      val vhat = v.map(x => (x / n).toFloat)
      val g = Array.fill(v.length)(rng.nextGaussian())
      val dot = vhat.indices.map(j => g(j) * vhat(j)).sum
      val perp = vhat.indices.map(j => g(j) - dot * vhat(j)).toArray
      val pn = math.sqrt(perp.map(x => x * x).sum)
      val s = math.sqrt(1.0 - c * c)
      val out = vhat.indices.map(j =>
        (c * vhat(j) + s * perp(j) / pn).toFloat).toArray
      (idOffset + id, out)
    }
  }

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val theta = args(1).toDouble
    val sampleN = args(2).toInt
    val targetN = args(3).toLong
    val nPlant = if (args.length > 4) args(4).toInt else 0
    val spark = graft.Graft.session()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val base = graft.Tables(spark, dir, "embeddings")
      .where(col("vec_id") < sampleN)
      .select(col("vec_id").cast("long"), col("embedding").cast("array<float>"))
      .as[(Long, Array[Float])]
    val sample = (if (nPlant > 0) {
      val rows = base.collect()
      base.union(planted(rows, nPlant, 1000000000L).toSeq.toDS())
    } else base).toDF("vec_id", "embedding").cache()
    val n = sample.count()
    val bits = graft.operators.Dedup.autoLshBits(targetN)
    val bands = graft.operators.Dedup.autoLshBands(bits)
    val t0 = System.nanoTime()
    val (recall, hits, exact) = graft.operators.Dedup.lshPairRecall(
      sample, "vec_id", "embedding", theta, numBits = bits, bands = bands)
    val secs = (System.nanoTime() - t0) / 1e9
    println(String.format(Locale.ROOT,
      "{\"theta\":%s,\"n\":%d,\"target_n\":%d,\"planted\":%d,\"bits\":%d," +
        "\"bands\":%d,\"exact_pairs\":%d,\"lsh_hits\":%d,\"recall\":%.4f," +
        "\"sec\":%.1f}",
      theta.toString, Long.box(n), Long.box(targetN), Int.box(nPlant),
      Int.box(bits), Int.box(bands), Long.box(exact), Long.box(hits),
      Double.box(recall), Double.box(secs)))
    spark.stop()
  }
}
