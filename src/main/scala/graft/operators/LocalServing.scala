package graft.operators

import java.util.stream.IntStream

/**
 * Driver-resident serving tier — the single-node twin of [[ServingIndex]].
 *
 * Rationale: the reference's serving baseline (FAISS, BASELINE.md day_6 —
 * `day_6/day6_complete.py:84-247`) is a single process holding the whole
 * corpus resident (73 MB at 50k×384) and answering a 100-query batch in
 * single-digit milliseconds. A Spark job — however fused — pays a
 * scheduling floor of ~10–20 ms per batch just to launch and join its
 * tasks, which is 10–100× the baseline's entire budget. The apples-to-apples
 * tier for a corpus that FITS ONE NODE is therefore an in-process scan, not
 * a job: this object collects the ALREADY-BUILT [[ServingIndex]] /
 * [[HnswIndex]] slabs into packed driver arrays once, then serves query
 * batches from a thread-parallel scan over the common ForkJoinPool — same
 * kernels ([[KnnSearch.F32Kernels]]), same bounded-heap accumulation, same
 * merge, so results are IDENTICAL to the distributed tiers by construction
 * (asserted in ServingIndexSpec).
 *
 * Scale posture: this tier is explicitly budget-gated (`maxBytes`, default
 * 2 GiB) and REFUSES a corpus beyond it — at 100 TB the distributed slab
 * tiers are the only path, and both tiers share one kernel family so the
 * choice is a deployment knob, not a semantics fork. The parallel
 * decomposition mirrors the cluster one: vector stripes (flat/SQ8) or
 * query fan-out (IVF/HNSW) across pool threads instead of executor tasks.
 */
object LocalServing {

  private[operators] def commonPar: Int =
    math.max(1, java.util.concurrent.ForkJoinPool.getCommonPoolParallelism)

  /** Below this estimated multiply-accumulate count the ForkJoin fan-out
    * costs more than it buys (tens of µs of dispatch + join against a
    * scan that one core finishes in ~1 ms) — run inline on the calling
    * thread. The stripe decomposition and merge code path is IDENTICAL
    * either way, so results cannot differ (LocalServingSpec pins them to
    * the distributed tiers regardless of stripe count); this is the
    * FAISS-regime fix for tiny corpora where the baseline's single
    * in-process loop has no scheduling floor at all. */
  private[operators] val SerialWorkFloor: Long = 1L << 24

  /** Run stripe bodies inline (serial) or on the common pool. */
  private[operators] def forStripes(nStripes: Int, serial: Boolean)(body: Int => Unit): Unit =
    if (serial) { var s = 0; while (s < nStripes) { body(s); s += 1 } }
    else IntStream.range(0, nStripes).parallel().forEach(s => body(s))

  private[operators] def checkBudget(nVectors: Long, bytesPerVector: Long, maxBytes: Long): Unit = {
    val need = nVectors * bytesPerVector
    require(need <= maxBytes,
      s"corpus needs $need resident bytes > local serving budget $maxBytes — " +
        "serve from the distributed slab tier instead")
  }

  // ---------------------------------------------------------------- flat

  /** Whole corpus as one packed float slab; exact batch search via
    * thread-parallel VECTOR stripes (each stripe scans all queries, so a
    * stripe's doc vector loads are reused across the L2-resident query
    * block — the [[ServingIndex]] slab loop, threads for tasks). */
  final class LocalFlat private[LocalServing] (
      val ids: Array[Long], val data: Array[Float], val dim: Int) {

    def numVectors: Int = ids.length

    def search(queries: Array[(Long, Array[Float])], k: Int,
               metric: KnnSearch.Metric = KnnSearch.L2): Array[(Long, Array[(Float, Long)])] = {
      val n = ids.length
      val qs = queries.map(_._2)
      val serial = n.toLong * qs.length * dim < SerialWorkFloor
      // ~4 stripes per pool thread: fine enough to balance, coarse enough
      // that the per-stripe heap merge stays negligible
      val nStripes = if (serial) 1 else math.max(1, math.min(n, 4 * commonPar))
      val perStripe = new Array[Array[(Array[Float], Array[Long])]](nStripes)
      forStripes(nStripes, serial) { s =>
        val from = (n.toLong * s / nStripes).toInt
        val until = (n.toLong * (s + 1) / nStripes).toInt
        val acc = ServingIndex.emptyTopK(qs.length, k)
        ServingIndex.scanSlab(data, ids, 0, from, until, dim, qs, metric, acc)
        perStripe(s) = acc.map(h => (h.scores.take(h.size), h.ids.take(h.size)))
      }
      ServingIndex.mergeAcrossPartitions(queries, perStripe, k, metric.descending)
    }
  }

  /** Collect a distributed flat index into the local tier (one job). */
  def flatFrom(index: ServingIndex.Flat, maxBytes: Long = 2L << 30): LocalFlat = {
    checkBudget(index.numVectors, 8L + 4L * index.dim, maxBytes)
    val slabs = index.slabs.collect()
    val n = slabs.map(_.ids.length).sum
    val ids = new Array[Long](n)
    val data = new Array[Float](n * index.dim)
    var off = 0
    slabs.foreach { s =>
      System.arraycopy(s.ids, 0, ids, off, s.ids.length)
      System.arraycopy(s.data, 0, data, off * index.dim, s.data.length)
      off += s.ids.length
    }
    new LocalFlat(ids, data, index.dim)
  }

  // ----------------------------------------------------------------- ivf

  /** Cluster-major packed corpus + the distributed tier's own centroids;
    * probe ranking is [[ServingIndex.rankProbes]] (identical tie-breaks),
    * search fans out across QUERIES (each query's probe scan is already
    * tiny — nprobe/nlist of the corpus). */
  final class LocalIvf private[LocalServing] (
      val ids: Array[Long], val data: Array[Float], val offsets: Array[Int],
      val centroids: Array[Array[Float]], val dim: Int) {

    def numVectors: Int = ids.length
    def nlist: Int = centroids.length

    def search(queries: Array[(Long, Array[Float])], k: Int, nprobe: Int,
               metric: KnnSearch.Metric = KnnSearch.L2): Array[(Long, Array[(Float, Long)])] = {
      val probes = ServingIndex.rankProbes(queries, centroids, nprobe)
      val out = new Array[(Long, Array[(Float, Long)])](queries.length)
      // scanned ≈ |Q| × nprobe × (n / nlist) vectors of `dim` mults
      val serial = queries.length.toLong * nprobe *
        math.max(1L, ids.length.toLong / math.max(1, nlist)) * dim < SerialWorkFloor
      forStripes(queries.length, serial) { qi =>
        val acc = ServingIndex.emptyTopK(1, k)
        val q = queries(qi)._2
        val p = probes(qi)
        var pi = 0
        while (pi < p.length) {
          val c = p(pi)
          ServingIndex.scanSlabOneQuery(data, ids, offsets(c), offsets(c + 1),
            dim, q, 0, metric, acc)
          pi += 1
        }
        val h = acc(0)
        out(qi) = (queries(qi)._1,
          Array.tabulate(h.size)(i => (h.scores(i), h.ids(i))))
      }
      out
    }
  }

  /** Collect a distributed IVF index into the local tier: per-slab
    * cluster ranges are concatenated cell-by-cell, so the local layout is
    * cluster-major over the WHOLE corpus and probing a cell is one
    * contiguous range scan. */
  def ivfFrom(index: ServingIndex.Ivf, maxBytes: Long = 2L << 30): LocalIvf = {
    checkBudget(index.numVectors, 8L + 4L * index.dim, maxBytes)
    val slabs = index.slabs.collect()
    val d = index.dim
    val nlist = index.nlist
    val cellCounts = new Array[Int](nlist)
    slabs.foreach { s =>
      var c = 0
      while (c < nlist) { cellCounts(c) += s.offsets(c + 1) - s.offsets(c); c += 1 }
    }
    val offsets = new Array[Int](nlist + 1)
    var c = 0
    while (c < nlist) { offsets(c + 1) = offsets(c) + cellCounts(c); c += 1 }
    val n = offsets(nlist)
    val ids = new Array[Long](n)
    val data = new Array[Float](n * d)
    val cursor = offsets.clone()
    slabs.foreach { s =>
      var cc = 0
      while (cc < nlist) {
        val len = s.offsets(cc + 1) - s.offsets(cc)
        if (len > 0) {
          System.arraycopy(s.ids, s.offsets(cc), ids, cursor(cc), len)
          System.arraycopy(s.data, s.offsets(cc) * d, data, cursor(cc) * d, len * d)
          cursor(cc) += len
        }
        cc += 1
      }
    }
    new LocalIvf(ids, data, offsets, index.centroids, d)
  }

  // ----------------------------------------------------------------- sq8

  /** Quantized local tier: uint8 codes resident (dim bytes/vector), ADC
    * scan over thread-parallel vector stripes with the shared dequant +
    * kernel pair — scores identical to [[ServingIndex.Sq8]]. */
  final class LocalSq8 private[LocalServing] (
      val ids: Array[Long], val codes: Array[Byte], val dim: Int,
      val vmin: Array[Float], val vstep: Array[Float]) {

    def numVectors: Int = ids.length

    def search(queries: Array[(Long, Array[Float])], k: Int,
               metric: KnnSearch.Metric = KnnSearch.L2): Array[(Long, Array[(Float, Long)])] = {
      val n = ids.length
      val qs = queries.map(_._2)
      val d = dim
      val serial = n.toLong * qs.length * d < SerialWorkFloor
      val nStripes = if (serial) 1 else math.max(1, math.min(n, 4 * commonPar))
      val perStripe = new Array[Array[(Array[Float], Array[Long])]](nStripes)
      forStripes(nStripes, serial) { s =>
        val from = (n.toLong * s / nStripes).toInt
        val until = (n.toLong * (s + 1) / nStripes).toInt
        val acc = ServingIndex.emptyTopK(qs.length, k)
        val buf = new Array[Float](d)
        var vi = from
        while (vi < until) {
          ServingIndex.dequant(codes, vi * d, d, vmin, vstep, buf)
          ServingIndex.scanSlab(buf, ids, vi, 0, 1, d, qs, metric, acc)
          vi += 1
        }
        perStripe(s) = acc.map(h => (h.scores.take(h.size), h.ids.take(h.size)))
      }
      ServingIndex.mergeAcrossPartitions(queries, perStripe, k, metric.descending)
    }
  }

  /** Collect a distributed SQ8 index into the local tier. */
  def sq8From(index: ServingIndex.Sq8, maxBytes: Long = 2L << 30): LocalSq8 = {
    checkBudget(index.numVectors, 8L + index.dim.toLong, maxBytes)
    val slabs = index.slabs.collect()
    val n = slabs.map(_.ids.length).sum
    val ids = new Array[Long](n)
    val codes = new Array[Byte](n * index.dim)
    var off = 0
    slabs.foreach { s =>
      System.arraycopy(s.ids, 0, ids, off, s.ids.length)
      System.arraycopy(s.codes, 0, codes, off * index.dim, s.codes.length)
      off += s.ids.length
    }
    new LocalSq8(ids, codes, index.dim, index.vmin, index.vstep)
  }

  // ---------------------------------------------------------------- hnsw

  /** The distributed tier's per-partition graphs, searched in-process:
    * each query walks every shard graph and merges the bounded per-shard
    * top-k — the [[HnswIndex.Hnsw.search]] semantics with pool threads in
    * place of tasks, so results (and recall) are identical. */
  final class LocalHnsw private[LocalServing] (
      val shards: Array[HnswIndex.Shard], val dim: Int,
      val metric: KnnSearch.Metric) {

    def numVectors: Int = shards.map(_.size).sum

    def search(queries: Array[(Long, Array[Float])], k: Int,
               efSearch: Int = 64): Array[(Long, Array[(Float, Long)])] = {
      val desc = metric.descending
      val out = new Array[(Long, Array[(Float, Long)])](queries.length)
      // HNSW stays parallel-always: a walk's cost depends on the graph,
      // ef and how much of it the walk visits, not on a dim-mult count,
      // so the flop estimate the scan tiers gate on cannot price it
      forStripes(queries.length, serial = false) { qi =>
        val q = queries(qi)._2
        var merged: Array[(Float, Long)] = Array.empty
        var s = 0
        while (s < shards.length) {
          merged = KnnSearch.mergeTopKF32(desc, k)(
            merged, shards(s).search(metric, q, k, efSearch))
          s += 1
        }
        out(qi) = (queries(qi)._1, merged)
      }
      out
    }
  }

  /** Collect a distributed HNSW index's shard graphs into the local tier
    * (graph adjacency ≈ 4·m ints/node on top of the vectors). */
  def hnswFrom(index: HnswIndex.Hnsw, maxBytes: Long = 2L << 30): LocalHnsw = {
    // count BEFORE the collect so an over-budget corpus is refused, not
    // OOMed; adjacency is ~4·m ints/node (2m at level 0 + ~m across the
    // geometric upper levels, stored bidirectionally), priced at the
    // index's OWN m
    val nv = index.shards.map(_.size.toLong).fold(0L)(_ + _)
    checkBudget(nv, 8L + 4L * index.dim + 16L * index.m, maxBytes)
    new LocalHnsw(index.shards.collect(), index.dim, index.metric)
  }
}
