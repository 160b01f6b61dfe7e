package graft.tools

/**
 * ef-sweep of the local HNSW tier on the BENCH day_6 large workload
 * (seed-42 clustered gaussians, 50k×384, 100 queries, k=10) — finds the
 * Pareto points against the FAISS baseline row (HNSWFlat M=32:
 * 0.0036 s / recall@10 0.485, BASELINE.md). The bench's published ef64
 * point wins recall 1.7× at 1.5× wall; this sweep locates the ef that
 * dominates the baseline on BOTH axes.
 */
object HnswEfSweep {
  def main(args: Array[String]): Unit = {
    val n = args.lift(0).map(_.toInt).getOrElse(50000)
    val dim = args.lift(1).map(_.toInt).getOrElse(384)
    val spark = graft.Graft.session()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val nClusters = 100
    val centers = Array.tabulate(nClusters) { c =>
      val r = new java.util.Random(42L + c)
      Array.fill(dim)(r.nextGaussian() * 5.0)
    }
    val bc = spark.sparkContext.broadcast(centers)
    val docs = spark.range(n.toLong).as[Long].mapPartitions { it =>
      it.map { id =>
        val ctr = bc.value((id % nClusters).toInt)
        val r = new java.util.Random(1000L + id)
        (id, Array.tabulate(dim)(i => (ctr(i) + r.nextGaussian()).toFloat))
      }
    }.rdd.cache()
    docs.count()
    val queries = (0 until 100).map { q =>
      val r = new java.util.Random(9000L + q)
      val ctr = centers(q % nClusters)
      (q.toLong, Array.tabulate(dim)(i => (ctr(i) + r.nextGaussian()).toFloat))
    }.toArray

    val flat = graft.operators.ServingIndex.buildFlat(docs, dim)
    val hnsw = graft.operators.HnswIndex.build(docs, dim, m = 16,
      efConstruction = 64, graft.operators.KnnSearch.L2, numShards = 16)
    val localFlat = graft.operators.LocalServing.flatFrom(flat)
    val localHnsw = graft.operators.LocalServing.hnswFrom(hnsw)
    docs.unpersist(blocking = true)
    System.gc()

    var exact: Array[(Long, Array[(Float, Long)])] = null
    def timed(fn: () => Unit): Double = {
      fn(); fn()
      Array.fill(9) {
        val t0 = System.nanoTime(); fn(); (System.nanoTime() - t0) / 1e9
      }.min
    }
    val exactSec = timed(() =>
      exact = localFlat.search(queries, 10, graft.operators.KnnSearch.L2))
    val exactSets = exact.map { case (q, a) => q -> a.map(_._2).toSet }.toMap
    println(f"exact ${exactSec}%.4f s (FAISS HNSW baseline: 0.0036 s / recall 0.485)")
    // r17: the accuracy end (96–256) joined the sweep — the verdict's
    // ask #5 wants a published point ≤2× baseline wall at recall ≥0.88
    Seq(6, 8, 10, 12, 16, 24, 32, 48, 64, 96, 128, 160, 192, 256).foreach { ef =>
      var res: Array[(Long, Array[(Float, Long)])] = null
      val sec = timed(() => res = localHnsw.search(queries, 10, efSearch = ef))
      val recall = res.map { case (q, a) =>
        a.map(_._2).count(exactSets(q).contains).toDouble / exactSets(q).size
      }.sum / res.length
      println(f"ef=$ef%3d  ${sec}%.4f s  recall@10 $recall%.3f  (${sec / 0.0036}%.2fx baseline wall)")
    }
    spark.stop()
  }
}
