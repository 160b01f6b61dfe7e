package graft.tools

/**
 * Serving-throughput probe (round 17, verdict ask #4): the distributed
 * slab tiers pay one ~15-20 ms job-scheduling floor per BATCH — at the
 * FAISS workload's 100 queries that floor dominates their per-query
 * wall, and the r16 record proved IVF-SQ8's residual gap vs FAISS was
 * exactly that floor, not compute. This tool publishes the
 * amortization curve: batch sizes 100 / 300 / 1000 through the SAME
 * fused one-runJob search on the exact / IVF / IVF-SQ8 distributed
 * tiers (day_6 large shape: 50k×384 seed-42 clustered gaussians,
 * k=10), reporting wall per query — directly comparable to FAISS's
 * published 100-query totals ÷ 100 (BASELINE.md: exact 0.238 ms/q,
 * IVF 0.173 ms/q at recall 0.871).
 *
 * Usage: runMain graft.tools.BatchServe [n] [dim]
 *
 * The generator seeds (42L+c centers, 1000L+id docs, 9000L+i queries)
 * and the warm-twice/min-of-9 harness are the day_6 CONTRACT constants
 * (BASELINE.md / day_6/day6_complete.py:26-52) — Bench.day6Workload
 * pins the same ones, and cross-record comparability rests on both
 * staying at the published values, not on either file being free to
 * drift.
 */
object BatchServe {
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
    def queriesOf(q: Int): Array[(Long, Array[Float])] = (0 until q).map { i =>
      val r = new java.util.Random(9000L + i)
      val ctr = centers(i % nClusters)
      (i.toLong, Array.tabulate(dim)(j => (ctr(j) + r.nextGaussian()).toFloat))
    }.toArray

    import graft.operators.{KnnSearch, LocalServing, ServingIndex}
    val flat = ServingIndex.buildFlat(docs, dim)
    val ivf = ServingIndex.buildIvf(docs, dim,
      nlist = math.min(100, n / 10), iterations = 10, numSlabs = 16)
    val ivfSq8 = ServingIndex.buildIvfSq8(docs, dim,
      nlist = math.min(100, n / 10), iterations = 10, numSlabs = 16)
    val localFlat = LocalServing.flatFrom(flat)
    docs.unpersist(blocking = true)
    System.gc()

    def timed(fn: () => Unit): Double = {
      fn(); fn()
      Array.fill(9) {
        val t0 = System.nanoTime(); fn(); (System.nanoTime() - t0) / 1e9
      }.min
    }
    println(f"tier        batch  wall_ms  ms/query  recall@10")
    Seq(100, 300, 1000).foreach { bsz =>
      val qs = queriesOf(bsz)
      val exactSets = localFlat.search(qs, 10, KnnSearch.L2)
        .map { case (q, a) => q -> a.map(_._2).toSet }.toMap
      def recallOf(res: Array[(Long, Array[(Float, Long)])]): Double =
        res.map { case (q, a) =>
          a.map(_._2).count(exactSets(q).contains).toDouble / exactSets(q).size
        }.sum / res.length
      var r1: Array[(Long, Array[(Float, Long)])] = null
      var r2: Array[(Long, Array[(Float, Long)])] = null
      var r3: Array[(Long, Array[(Float, Long)])] = null
      val tExact = timed(() => r1 = flat.search(qs, 10, KnnSearch.L2))
      val tIvf = timed(() => r2 = ivf.search(qs, 10, nprobe = 10, KnnSearch.L2))
      val tSq8 = timed(() => r3 = ivfSq8.search(qs, 10, nprobe = 10, KnnSearch.L2))
      println(f"exact_dist  $bsz%5d  ${tExact * 1e3}%7.2f  ${tExact * 1e6 / bsz}%7.1f µs  ${recallOf(r1)}%.3f")
      println(f"ivf_dist    $bsz%5d  ${tIvf * 1e3}%7.2f  ${tIvf * 1e6 / bsz}%7.1f µs  ${recallOf(r2)}%.3f")
      println(f"ivfsq8_dist $bsz%5d  ${tSq8 * 1e3}%7.2f  ${tSq8 * 1e6 / bsz}%7.1f µs  ${recallOf(r3)}%.3f")
    }
    spark.stop()
  }
}
