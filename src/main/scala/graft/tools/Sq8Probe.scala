package graft.tools

/**
 * SQ8 ADC-scan probe on the BENCH day_6 large workload (seed-42
 * clustered gaussians, 50k×384, 100 queries, k=10) — isolates the
 * quantized tiers the round-15 verdict flagged (IVF-SQ8 21.6 ms vs
 * FAISS IVF 17.3 ms; ask #4 wants ≤ 17 ms at unchanged recall) so a
 * kernel change (the round-16 SIMD dequant) can be measured in seconds,
 * not a full battery sweep. Prints the distributed IVF-SQ8 and the
 * local SQ8/exact walls with recalls, using the bench's own
 * warm-twice/min-of-9 estimator.
 */
object Sq8Probe {
  def main(args: Array[String]): Unit = {
    val n = args.lift(0).map(_.toInt).getOrElse(50000)
    val dim = args.lift(1).map(_.toInt).getOrElse(384)
    val spark = graft.Graft.session()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    println(s"SIMD kernels: ${graft.operators.SimdSupport.simdEnabled}")
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
    val sq8 = graft.operators.ServingIndex.buildSq8(docs, dim)
    val ivfSq8 = graft.operators.ServingIndex.buildIvfSq8(docs, dim,
      nlist = math.min(100, n / 10), iterations = 10, numSlabs = 16)
    val localFlat = graft.operators.LocalServing.flatFrom(flat)
    val localSq8 = graft.operators.LocalServing.sq8From(sq8)
    docs.unpersist(blocking = true)
    System.gc()

    def timed(fn: () => Unit): Double = {
      fn(); fn()
      Array.fill(9) {
        val t0 = System.nanoTime(); fn(); (System.nanoTime() - t0) / 1e9
      }.min
    }
    var exact: Array[(Long, Array[(Float, Long)])] = null
    var sq8Res: Array[(Long, Array[(Float, Long)])] = null
    var ivfSq8Res: Array[(Long, Array[(Float, Long)])] = null
    val exactSec = timed(() =>
      exact = localFlat.search(queries, 10, graft.operators.KnnSearch.L2))
    val sq8Sec = timed(() =>
      sq8Res = localSq8.search(queries, 10, graft.operators.KnnSearch.L2))
    val ivfSq8Sec = timed(() =>
      ivfSq8Res = ivfSq8.search(queries, 10, nprobe = 10, graft.operators.KnnSearch.L2))
    val exactSets = exact.map { case (q, a) => q -> a.map(_._2).toSet }.toMap
    def recallOf(res: Array[(Long, Array[(Float, Long)])]): Double =
      res.map { case (q, a) =>
        a.map(_._2).count(exactSets(q).contains).toDouble / exactSets(q).size
      }.sum / res.length
    println(f"exact (local flat)   ${exactSec}%.4f s")
    println(f"sq8 (local ADC)      ${sq8Sec}%.4f s  recall@10 ${recallOf(sq8Res)}%.3f")
    println(f"ivf-sq8 (dist)       ${ivfSq8Sec}%.4f s  recall@10 ${recallOf(ivfSq8Res)}%.3f  (FAISS IVF: 0.0173 s)")
    spark.stop()
  }
}
