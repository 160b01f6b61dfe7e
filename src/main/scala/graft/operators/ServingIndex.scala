package graft.operators

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD

/**
 * Memory-resident serving indexes for the day_6 workload shape (reference:
 * day_6/day6_complete.py:84-183 — FAISS FlatL2 / IVFFlat held in RAM and
 * queried in-process): the corpus lives as packed per-partition float32
 * slabs cached on the executors, and a query batch runs as ONE fused
 * `sparkContext.runJob` — each partition returns its local top-k arrays
 * per query and the driver merges `partitions × |Q|` bounded arrays. No
 * DataFrame assembly, no shuffle, no extra job for counting: the entire
 * search is a single wave of tasks over resident data.
 *
 * Scale shape: a 100 TB corpus is sharded across executors exactly like
 * this (slab per partition); the driver-side merge is bounded by
 * `partitions × |Q| × k` TUPLES ONLY of (float, long) — for serving-size
 * |Q| (≤1k) this holds to ~10⁴ partitions, and beyond that the same slabs
 * support a tree merge. FAISS cannot shard past one box at all — this is
 * the scale-out trade the engine makes by design.
 *
 * Layout notes (why packed slabs, not Array[Array[Float]]): one
 * contiguous `Array[Float]` per partition keeps the scan sequential
 * (hardware prefetch), avoids per-vector object headers and pointer
 * chases, and lets the distance loop run over a dense stripe. The query
 * block (|Q|×dim ≤ 150 KB for the day_6 batch) stays L2-resident while
 * each document vector streams through once.
 */
object ServingIndex {

  /** Contiguous per-partition shard of the corpus: `ids(i)` owns
    * `data[i*dim, (i+1)*dim)`. */
  final case class FlatSlab(ids: Array[Long], data: Array[Float])

  /** Cluster-major shard (the IVF layout): vectors are grouped by their
    * assigned centroid; `offsets(c) until offsets(c+1)` is cluster c's
    * vector range. A probe scans only the probed clusters' ranges — the
    * in-memory twin of AnnIndex's partition-pruned parquet layout. */
  final case class IvfSlab(ids: Array[Long], data: Array[Float], offsets: Array[Int])

  /** Scalar-quantized shard: `codes[i*dim, (i+1)*dim)` are uint8 codes for
    * `ids(i)`; dequantization params (per-dim min + step) live on the
    * index, not the slab — they are trained once over the whole corpus. */
  final case class Sq8Slab(ids: Array[Long], codes: Array[Byte])

  /** Cluster-major scalar-quantized shard: the [[IvfSlab]] layout with
    * uint8 codes instead of floats. */
  final case class IvfSq8Slab(ids: Array[Long], codes: Array[Byte], offsets: Array[Int])

  // ---------------------------------------------------------------- flat

  final class Flat private[ServingIndex] (
      val slabs: RDD[FlatSlab], val dim: Int,
      val numVectors: Long) extends Serializable {

    /** Exact batch top-k: one job, driver merge of bounded arrays. */
    def search(queries: Array[(Long, Array[Float])], k: Int,
               metric: KnnSearch.Metric = KnnSearch.L2): Array[(Long, Array[(Float, Long)])] = {
      val sc = slabs.sparkContext
      val bc = sc.broadcast(queries.map(_._2))
      val d = dim
      val desc = metric.descending
      try {
        val perPartition: Array[Array[(Array[Float], Array[Long])]] =
          sc.runJob(slabs, (it: Iterator[FlatSlab]) => {
            val qs = bc.value
            it.foldLeft(emptyTopK(qs.length, k)) { (acc, slab) =>
              scanSlab(slab.data, slab.ids, 0, 0, slab.ids.length, d, qs, metric, acc); acc
            }.map(h => (h.scores.take(h.size), h.ids.take(h.size)))
          })
        mergeAcrossPartitions(queries, perPartition, k, desc)
      } finally bc.destroy()
    }
  }

  // ----------------------------------------------------------------- ivf

  final class Ivf private[ServingIndex] (
      val slabs: RDD[IvfSlab], val centroids: Array[Array[Float]],
      val dim: Int, val numVectors: Long) extends Serializable {

    def nlist: Int = centroids.length

    /** Driver-local HNSW graph over the CENTROIDS (m=16/efc=64 —
      * pgvector's config), built lazily on first routed search. Routing
      * cost per query drops from O(nlist) exact distances to a graph
      * walk — the difference between 10⁷ and ~10³ kernel calls per query
      * batch once nlist reaches the 10⁴–10⁵ a 100 TB corpus wants
      * (nlist ≈ √n). Approximate by nature: route with `routeEf` ≥
      * 4×nprobe and the probe set matches the exact ranking with
      * near-certainty (verified in ServingIndexSpec). Driver-only state,
      * excluded from serialization. */
    @transient private lazy val centroidRouter: HnswIndex.Shard =
      HnswIndex.buildShard(
        centroids.iterator.zipWithIndex.map { case (c, i) => (i.toLong, c) },
        dim, m = 16, efConstruction = 64, KnnSearch.L2, seed = 42L)

    /** ANN batch top-k: the driver ranks centroids per query (|Q|×nlist
      * distances — trivial), ships the nprobe probe lists, and each
      * partition scans only the probed clusters' ranges: `nprobe/nlist`
      * of the data, FAISS IVFFlat's own regime
      * (day_6/day6_complete.py:105-115).
      *
      * Probe cells are ranked by L2 distance to the query — the SAME
      * geometry [[buildIvf]] used to assign vectors to cells. Ranking by
      * the query metric instead would probe cells that need not contain
      * the metric's best matches (e.g. inner-product favors large-norm
      * centroids far from where the vectors were stored). For cosine /
      * inner-product searches, normalize vectors at build AND query time
      * (L2 order == cosine order on the unit sphere); genuinely
      * unnormalized MIPS should use the Flat index. */
    def search(queries: Array[(Long, Array[Float])], k: Int, nprobe: Int,
               metric: KnnSearch.Metric = KnnSearch.L2,
               routed: Boolean = false, routeEf: Int = 0): Array[(Long, Array[(Float, Long)])] = {
      val sc = slabs.sparkContext
      val desc = metric.descending
      // per-query nprobe assignment-nearest (L2) centroids, best-first:
      // exact linear ranking by default (nlist distances per query —
      // trivial at serving nlist); `routed` walks the lazy HNSW graph
      // over centroids instead, the scale path once nlist × |Q| driver
      // kernel calls dominate (see centroidRouter)
      val probes: Array[Array[Int]] =
        if (routed) {
          val ef = if (routeEf > 0) routeEf else math.max(4 * nprobe, 32)
          queries.map { case (_, q) =>
            centroidRouter.search(KnnSearch.L2, q, math.min(nprobe, centroids.length), ef)
              .map(_._2.toInt)
          }
        } else rankProbes(queries, centroids, nprobe)
      val bc = sc.broadcast((queries.map(_._2), probes))
      val d = dim
      try {
        val perPartition: Array[Array[(Array[Float], Array[Long])]] =
          sc.runJob(slabs, (it: Iterator[IvfSlab]) => {
            val (qs, pr) = bc.value
            val acc = emptyTopK(qs.length, k)
            it.foreach { slab =>
              var qi = 0
              while (qi < qs.length) {
                val p = pr(qi)
                var pi = 0
                while (pi < p.length) {
                  val c = p(pi)
                  scanSlabOneQuery(slab.data, slab.ids, slab.offsets(c),
                    slab.offsets(c + 1), d, qs(qi), qi, metric, acc)
                  pi += 1
                }
                qi += 1
              }
            }
            acc.map(h => (h.scores.take(h.size), h.ids.take(h.size)))
          })
        mergeAcrossPartitions(queries, perPartition, k, desc)
      } finally bc.destroy()
    }
  }

  // ----------------------------------------------------------------- sq8

  /**
   * Scalar-quantized (SQ8) flat index — FAISS's `IndexScalarQuantizer`
   * regime (reference day_6 benchmarks FAISS index families; SQ8 is the
   * standard memory tier below Flat): each dimension is affinely mapped to
   * a uint8 code via per-dim `[min, max]` trained over the corpus, so a
   * vector costs `dim` bytes instead of `4·dim` — 4× less resident memory,
   * which at 100 TB of float32 is the difference between 25 TB and 100 TB
   * of executor RAM. Search is asymmetric (ADC): the query stays float32,
   * each document vector is dequantized on the fly into a thread-local
   * stripe buffer and scored with the SAME [[KnnSearch.F32Kernels]] the
   * exact index uses — so SQ8 scores equal Flat scores on the dequantized
   * corpus by construction, and the only error vs exact is the ≤ step/2
   * per-dim rounding. Recall@10 is measured in the bench (`_sq8_recall10`).
   */
  final class Sq8 private[ServingIndex] (
      val slabs: RDD[Sq8Slab], val dim: Int, val numVectors: Long,
      val vmin: Array[Float], val vstep: Array[Float]) extends Serializable {

    /** Bytes per resident vector (id + codes) — the 4× story vs Flat. */
    def bytesPerVector: Int = 8 + dim

    /** Batch top-k over the quantized corpus: one fused job, driver merge
      * of bounded arrays — identical shape to [[Flat.search]]. */
    def search(queries: Array[(Long, Array[Float])], k: Int,
               metric: KnnSearch.Metric = KnnSearch.L2): Array[(Long, Array[(Float, Long)])] = {
      val sc = slabs.sparkContext
      val bc = sc.broadcast((queries.map(_._2), vmin, vstep))
      val d = dim
      val desc = metric.descending
      try {
        val perPartition: Array[Array[(Array[Float], Array[Long])]] =
          sc.runJob(slabs, (it: Iterator[Sq8Slab]) => {
            val (qs, mn, st) = bc.value
            val acc = emptyTopK(qs.length, k)
            val buf = new Array[Float](d)
            it.foreach { slab =>
              var vi = 0
              val nv = slab.ids.length
              while (vi < nv) {
                dequant(slab.codes, vi * d, d, mn, st, buf)
                scanSlab(buf, slab.ids, vi, 0, 1, d, qs, metric, acc)
                vi += 1
              }
            }
            acc.map(h => (h.scores.take(h.size), h.ids.take(h.size)))
          })
        mergeAcrossPartitions(queries, perPartition, k, desc)
      } finally bc.destroy()
    }
  }

  /** Dequantize one code stripe into `out`: `min(i) + code·step(i)`.
    * Routed through [[SimdSupport.ops]] (round 16): the scalar loop was
    * the ADC scan's dominant cost — at dim 384 with ~10 queries sharing a
    * probed vector, 384 scalar mul-adds per vector outweighed the SIMD
    * query dots it fed. The SIMD form is BIT-identical to the scalar one
    * (per-lane mul-then-add, no cross-lane reduction — asserted in the
    * SimdSupport probe), so quantized scores are unchanged on every
    * JVM configuration. */
  private[operators] def dequant(codes: Array[Byte], base: Int, d: Int,
                      mn: Array[Float], st: Array[Float], out: Array[Float]): Unit =
    SimdSupport.ops.dequant(codes, base, d, mn, st, out)

  /**
   * Train per-dim `[min, max]` over the corpus (one map-side-combined
   * fold — nlist-free, single pass) and pack uint8 codes per partition.
   * `step = (max−min)/255`; a constant dimension gets step 0 and
   * dequantizes exactly. Rows with null/mis-dimensioned vectors are
   * dropped, matching [[buildFlat]].
   */
  def buildSq8(vectors0: RDD[(Long, Array[Float])], dim: Int,
               numSlabs: Int = -1): Sq8 = {
    val d = dim
    val vectors =
      if (numSlabs > 0 && numSlabs < vectors0.getNumPartitions)
        vectors0.coalesce(numSlabs)
      else vectors0
    // pin the input across the two passes: the quantizer trained in
    // pass 1 MUST see the same realization pass 2 encodes — an uncached
    // nondeterministic lineage (sample, recomputed shuffle) would
    // otherwise clamp out-of-range values with unbounded error, and even
    // a deterministic one would recompute its whole lineage twice. A
    // caller-owned cache is respected (not re-pinned, never unpersisted).
    val pinned = vectors.getStorageLevel == org.apache.spark.storage.StorageLevel.NONE
    if (pinned) vectors.cache()
    try {
      val (mins, step) = trainQuantizer(vectors, d)
      packSq8(vectors, d, mins, step, -1, localCheckpoint = false)
    } finally if (pinned) vectors.unpersist(false) // pack materialized the slabs
  }

  /** Encode under a PRE-TRAINED quantizer — [[buildSq8]]'s pass 2, also
    * the compaction path of [[mutableSq8]] (the frozen quantizer makes
    * re-encoding surviving grid points exact). Single pass, no pin
    * needed. Codes: `round((v−min)/step)` clamped to [0,255]. */
  private def packSq8(vectors0: RDD[(Long, Array[Float])], dim: Int,
                      mins: Array[Float], step: Array[Float],
                      numSlabs: Int, localCheckpoint: Boolean): Sq8 = {
    val d = dim
    val vectors =
      if (numSlabs > 0 && numSlabs < vectors0.getNumPartitions)
        vectors0.coalesce(numSlabs)
      else vectors0
    val bc = vectors.sparkContext.broadcast((mins, step))
    val slabs = vectors.mapPartitions({ it =>
      val (mn, st) = bc.value
      val ids = Array.newBuilder[Long]
      val codes = Array.newBuilder[Byte]
      it.foreach { case (id, v) =>
        if (v != null && v.length == d) {
          ids += id
          var i = 0
          while (i < d) {
            val c =
              if (st(i) == 0f) 0
              else {
                val q = Math.round((v(i) - mn(i)) / st(i))
                if (q < 0) 0 else if (q > 255) 255 else q
              }
            codes += c.toByte
            i += 1
          }
        }
      }
      Iterator.single(Sq8Slab(ids.result(), codes.result()))
    }, preservesPartitioning = true).cache()
    // see buildFlat: the mark must precede the slabs' first job, and the
    // materializing action doubles as the vector count
    if (localCheckpoint) slabs.localCheckpoint()
    val nv = slabs.map(_.ids.length.toLong).fold(0L)(_ + _)
    new Sq8(slabs, d, nv, mins, step)
  }

  // ------------------------------------------------------------- ivf+sq8

  /**
   * IVF over SQ8 codes — FAISS's `IndexIVFScalarQuantizer` regime and the
   * tier a 100 TB resident corpus actually runs: cluster pruning cuts the
   * scan to `nprobe/nlist` of every slab AND each vector costs 1 byte/dim.
   * Centroids stay float32 (nlist×dim — trivially small) so probe ranking
   * is exact; probed ranges dequantize per vector ONCE into a stripe
   * buffer shared across every query probing that cluster, then score
   * with the shared F32 kernels.
   */
  final class IvfSq8 private[ServingIndex] (
      val slabs: RDD[IvfSq8Slab], val centroids: Array[Array[Float]],
      val dim: Int, val numVectors: Long,
      val vmin: Array[Float], val vstep: Array[Float]) extends Serializable {

    def nlist: Int = centroids.length
    def bytesPerVector: Int = 8 + dim

    def search(queries: Array[(Long, Array[Float])], k: Int, nprobe: Int,
               metric: KnnSearch.Metric = KnnSearch.L2): Array[(Long, Array[(Float, Long)])] = {
      val sc = slabs.sparkContext
      val desc = metric.descending
      // exact L2 probe ranking vs the float centroids (see Ivf.search's
      // geometry note — assignment and probing must share a metric)
      val probes = rankProbes(queries, centroids, nprobe)
      val bc = sc.broadcast((queries.map(_._2), probes, vmin, vstep))
      val d = dim
      try {
        val perPartition: Array[Array[(Array[Float], Array[Long])]] =
          sc.runJob(slabs, (it: Iterator[IvfSq8Slab]) => {
            val (qs, pr, mn, st) = bc.value
            val acc = emptyTopK(qs.length, k)
            val buf = new Array[Float](d)
            it.foreach { slab =>
              val ncl = slab.offsets.length - 1
              // invert probe lists so each probed vector dequantizes once
              // and scores against every query probing its cluster
              val byCluster = Array.fill(ncl)(List.empty[Int])
              var qi = 0
              while (qi < qs.length) {
                pr(qi).foreach { c =>
                  if (c < ncl) byCluster(c) = qi :: byCluster(c)
                }
                qi += 1
              }
              var c = 0
              while (c < ncl) {
                if (byCluster(c).nonEmpty) {
                  val qids = byCluster(c).toArray
                  val qsub = qids.map(qs)
                  val accSub = qids.map(acc) // views onto the shared heaps
                  var vi = slab.offsets(c)
                  val until = slab.offsets(c + 1)
                  while (vi < until) {
                    dequant(slab.codes, vi * d, d, mn, st, buf)
                    scanSlab(buf, slab.ids, vi, 0, 1, d, qsub, metric, accSub)
                    vi += 1
                  }
                }
                c += 1
              }
            }
            acc.map(h => (h.scores.take(h.size), h.ids.take(h.size)))
          })
        mergeAcrossPartitions(queries, perPartition, k, desc)
      } finally bc.destroy()
    }
  }

  /** Build the composed index: Lloyd centroids (shared trainer), SQ8
    * quantizer (shared trainer), then per-partition cluster-major uint8
    * packing. Input pinned across the passes like [[buildSq8]]. */
  def buildIvfSq8(vectors0: RDD[(Long, Array[Float])], dim: Int, nlist: Int,
                  iterations: Int = 10, seed: Long = 42L,
                  numSlabs: Int = -1): IvfSq8 = {
    val d = dim
    val vectors =
      if (numSlabs > 0 && numSlabs < vectors0.getNumPartitions)
        vectors0.coalesce(numSlabs)
      else vectors0
    val pinned = vectors.getStorageLevel == org.apache.spark.storage.StorageLevel.NONE
    if (pinned) vectors.cache()
    try {
      val centroids = trainCentroids(vectors, d, nlist, iterations, seed)
      val (mins, step) = trainQuantizer(vectors, d)
      packIvfSq8(vectors, d, centroids, mins, step, -1, localCheckpoint = false)
    } finally if (pinned) vectors.unpersist(false) // pack materialized the slabs
  }

  /** Cluster-major packing under PRE-TRAINED centroids + quantizer —
    * [[buildIvfSq8]]'s pack pass, also the compaction path of
    * [[mutableIvfSq8]]. Mirrors buildIvf's loop with a quantizing inner
    * write (packSq8's clamp). Kept inline rather than shared through a
    * per-element writer closure: the write runs n×dim times and a
    * megamorphic call site there costs more than the duplication saves —
    * change buildIvf/packSq8 packing and THIS together. */
  private def packIvfSq8(vectors0: RDD[(Long, Array[Float])], dim: Int,
                         centroids: Array[Array[Float]],
                         mins: Array[Float], step: Array[Float],
                         numSlabs: Int, localCheckpoint: Boolean): IvfSq8 = {
    val d = dim
    val vectors =
      if (numSlabs > 0 && numSlabs < vectors0.getNumPartitions)
        vectors0.coalesce(numSlabs)
      else vectors0
    val bc = vectors.sparkContext.broadcast((centroids, mins, step))
    val slabs = vectors.mapPartitions({ it =>
      val (cs, mn, st) = bc.value
      val buf = it.filter { case (_, v) => v != null && v.length == d }.toArray
      val assign = buf.map { case (_, v) => nearestCentroid(v, cs) }
      val counts = new Array[Int](cs.length)
      assign.foreach(c => counts(c) += 1)
      val offsets = new Array[Int](cs.length + 1)
      var c = 0
      while (c < cs.length) { offsets(c + 1) = offsets(c) + counts(c); c += 1 }
      val ids = new Array[Long](buf.length)
      val codes = new Array[Byte](buf.length * d)
      val cursor = offsets.clone()
      var i = 0
      while (i < buf.length) {
        val slot = cursor(assign(i)); cursor(assign(i)) += 1
        ids(slot) = buf(i)._1
        val v = buf(i)._2
        var j = 0
        while (j < d) {
          val code =
            if (st(j) == 0f) 0
            else {
              val q = Math.round((v(j) - mn(j)) / st(j))
              if (q < 0) 0 else if (q > 255) 255 else q
            }
          codes(slot * d + j) = code.toByte
          j += 1
        }
        i += 1
      }
      Iterator.single(IvfSq8Slab(ids, codes, offsets))
    }, preservesPartitioning = true).cache()
    // see buildFlat: the mark must precede the slabs' first job, and the
    // materializing action doubles as the vector count
    if (localCheckpoint) slabs.localCheckpoint()
    val nv = slabs.map(_.ids.length.toLong).fold(0L)(_ + _)
    new IvfSq8(slabs, centroids, d, nv, mins, step)
  }

  // ------------------------------------------------------------- mutable

  /**
   * LSM-shaped mutable serving index — the day_8 insert/delete/search
   * loop (reference day_8/endpoints.py:13-49,168-208 single/batch insert,
   * :210-260 delete) over a resident distributed base:
   *
   *  - the immutable BASE (any tier: [[Flat]], [[Ivf]], [[Sq8]],
   *    [[IvfSq8]]) holds the bulk corpus on the executors; quantized
   *    bases freeze their scalar quantizer at construction so compaction
   *    re-encodes surviving codes exactly (see [[mutableSq8]]);
   *  - upserts land in a driver-local DELTA memtable (insertion-ordered,
   *    O(1) upsert); a base copy, when one may exist (a Bloom filter over
   *    base ids decides — no false negatives, so every real base copy IS
   *    masked; a false positive only adds a harmless extra tombstone), is
   *    masked via a TOMBSTONE set. Fresh inserts therefore do NOT grow
   *    the tombstone set or the search over-fetch;
   *  - deletes tombstone the base copy (same Bloom gate) and evict from
   *    the delta;
   *  - a search = base search over-fetched to k + |tombstones| (a masked
   *    vector can occupy at most one result slot, so k survivors are
   *    guaranteed — the hot scan kernels stay untouched), tombstones
   *    filtered, then merged with a driver-side delta scan;
   *  - [[Mutable.compact]] folds delta + tombstones into a freshly built
   *    base (the LSM flush); it fires automatically when either side
   *    outgrows its threshold, so the over-fetch and the delta scan stay
   *    bounded. The rebuilt slabs are `localCheckpoint`ed: the lineage is
   *    cut at each flush, so neither DAG depth nor retained
   *    prior-generation state grows with the number of compactions.
   *
   * Scale shape: mutations between compactions are serving-sized (the
   * thresholds bound them); the 100 TB bulk stays distributed and
   * immutable, exactly how an LSM keeps its L1+ levels. The Bloom filter
   * costs ~1.2 bytes per base id at 1% fpp — size the serving driver (or
   * shard the index) accordingly. All public methods are synchronized:
   * readers and the (single) writer can interleave safely; a search
   * holds the lock for its fused job, which is the serving trade — a
   * mutation never observes a half-applied batch.
   */
  /** Uniform view of the four immutable tiers as a [[Mutable]] base.
    * `liveVectors` reconstructs the survivors for compaction: exact
    * floats for the float tiers; for the SQ8 tiers the quantizer's grid
    * points — re-encoding a grid point under the SAME (frozen) quantizer
    * is exact, so quantized compaction never compounds error. */
  private[graft] sealed trait MutableBase {
    def searchBase(queries: Array[(Long, Array[Float])], k: Int, nprobe: Int,
                   metric: KnnSearch.Metric): Array[(Long, Array[(Float, Long)])]
    def anySlabs: RDD[_ <: AnyRef]
    def idArrays: RDD[Array[Long]]
    def numVectors: Long
    /** Rows surviving the (sorted) tombstone mask, unpacked from slabs. */
    def liveVectors(dim: Int, tomb: Array[Long]): RDD[(Long, Array[Float])]
  }
  private def liveOf(ids: Array[Long], data: Array[Float], d: Int,
                     tomb: Array[Long]): Iterator[(Long, Array[Float])] =
    ids.indices.iterator.collect {
      case i if java.util.Arrays.binarySearch(tomb, ids(i)) < 0 =>
        (ids(i), java.util.Arrays.copyOfRange(data, i * d, (i + 1) * d))
    }
  private def liveOfCodes(ids: Array[Long], codes: Array[Byte], d: Int,
                          mn: Array[Float], st: Array[Float],
                          tomb: Array[Long]): Iterator[(Long, Array[Float])] =
    ids.indices.iterator.collect {
      case i if java.util.Arrays.binarySearch(tomb, ids(i)) < 0 =>
        val out = new Array[Float](d)
        dequant(codes, i * d, d, mn, st, out)
        (ids(i), out)
    }
  private[graft] final case class FlatBase(f: Flat) extends MutableBase {
    def searchBase(qs: Array[(Long, Array[Float])], k: Int, nprobe: Int,
                   m: KnnSearch.Metric) = f.search(qs, k, m)
    def anySlabs: RDD[_ <: AnyRef] = f.slabs
    def idArrays: RDD[Array[Long]] = f.slabs.map(_.ids)
    def numVectors: Long = f.numVectors
    def liveVectors(d: Int, tomb: Array[Long]) =
      f.slabs.flatMap(s => liveOf(s.ids, s.data, d, tomb))
  }
  private[graft] final case class IvfBase(i: Ivf) extends MutableBase {
    def searchBase(qs: Array[(Long, Array[Float])], k: Int, nprobe: Int,
                   m: KnnSearch.Metric) = i.search(qs, k, nprobe, m)
    def anySlabs: RDD[_ <: AnyRef] = i.slabs
    def idArrays: RDD[Array[Long]] = i.slabs.map(_.ids)
    def numVectors: Long = i.numVectors
    def liveVectors(d: Int, tomb: Array[Long]) =
      i.slabs.flatMap(s => liveOf(s.ids, s.data, d, tomb))
  }
  private[graft] final case class Sq8Base(s: Sq8) extends MutableBase {
    def searchBase(qs: Array[(Long, Array[Float])], k: Int, nprobe: Int,
                   m: KnnSearch.Metric) = s.search(qs, k, m)
    def anySlabs: RDD[_ <: AnyRef] = s.slabs
    def idArrays: RDD[Array[Long]] = s.slabs.map(_.ids)
    def numVectors: Long = s.numVectors
    def liveVectors(d: Int, tomb: Array[Long]) = {
      val (mn, st) = (s.vmin, s.vstep)
      s.slabs.flatMap(sl => liveOfCodes(sl.ids, sl.codes, d, mn, st, tomb))
    }
  }
  private[graft] final case class IvfSq8Base(s: IvfSq8) extends MutableBase {
    def searchBase(qs: Array[(Long, Array[Float])], k: Int, nprobe: Int,
                   m: KnnSearch.Metric) = s.search(qs, k, nprobe, m)
    def anySlabs: RDD[_ <: AnyRef] = s.slabs
    def idArrays: RDD[Array[Long]] = s.slabs.map(_.ids)
    def numVectors: Long = s.numVectors
    def liveVectors(d: Int, tomb: Array[Long]) = {
      val (mn, st) = (s.vmin, s.vstep)
      s.slabs.flatMap(sl => liveOfCodes(sl.ids, sl.codes, d, mn, st, tomb))
    }
  }
  private[graft] final case class PqBase(p: PqIndex.Pq) extends MutableBase {
    def searchBase(qs: Array[(Long, Array[Float])], k: Int, nprobe: Int,
                   m: KnnSearch.Metric) = p.search(qs, k, m)
    def anySlabs: RDD[_ <: AnyRef] = p.slabs
    def idArrays: RDD[Array[Long]] = p.slabs.map(_.ids)
    def numVectors: Long = p.numVectors
    /** Decoded reconstructions: the vectors the ADC scan effectively
      * scores, and exact under re-encode (frozen codebooks — a decoded
      * point's nearest codeword is itself). */
    def liveVectors(d: Int, tomb: Array[Long]) = {
      val bks = p.books
      p.slabs.flatMap { sl =>
        val mm = bks.m
        sl.ids.indices.iterator.collect {
          case i if java.util.Arrays.binarySearch(tomb, sl.ids(i)) < 0 =>
            (sl.ids(i), bks.decode(
              java.util.Arrays.copyOfRange(sl.codes, i * mm, (i + 1) * mm)))
        }
      }
    }
  }

  final class Mutable private[ServingIndex] (
      private var base: MutableBase,
      val dim: Int,
      rebuild: RDD[(Long, Array[Float])] => MutableBase,
      maxDelta: Int,
      maxTombstones: Int) {

    private val delta = new java.util.LinkedHashMap[java.lang.Long, Array[Float]]
    private val tombstones = new java.util.HashSet[java.lang.Long]
    // built on first mutation (read-only usage never pays the job); only
    // accessed under the instance lock
    private var baseIdsOrNull: org.apache.spark.util.sketch.BloomFilter = null
    private def baseIds: org.apache.spark.util.sketch.BloomFilter = {
      if (baseIdsOrNull == null) baseIdsOrNull = bloomOf(base)
      baseIdsOrNull
    }

    def deltaSize: Int = synchronized(delta.size)
    def tombstoneCount: Int = synchronized(tombstones.size)

    // A11 serving counters — observability only, attached post-hoc so the
    // builder signatures stay counter-free and results are unaffected
    @volatile private var countersOrNull: ServingCounters = null

    /** Attach serving counters; every subsequent [[search]] is counted. */
    def withCounters(c: ServingCounters): this.type = { countersOrNull = c; this }

    /** Insert or replace one vector (ON CONFLICT DO UPDATE semantics). */
    def upsert(id: Long, v: Array[Float]): Unit = synchronized {
      require(v != null && v.length == dim, s"vector must have dim=$dim")
      if (baseIds.mightContainLong(id)) tombstones.add(id) // mask base copy
      delta.put(id, v)
      maybeCompact()
    }

    def upsertAll(batch: Iterable[(Long, Array[Float])]): Unit = synchronized {
      batch.foreach { case (id, v) => upsert(id, v) }
    }

    /** Delete by id (from base via tombstone, from delta by eviction).
      * Deleting an id that was never inserted is a no-op. */
    def delete(id: Long): Unit = synchronized {
      if (baseIds.mightContainLong(id)) tombstones.add(id)
      delta.remove(id)
      maybeCompact()
    }

    /** Merged-view batch search: base minus tombstones, plus delta. */
    def search(queries: Array[(Long, Array[Float])], k: Int,
               metric: KnnSearch.Metric = KnnSearch.L2,
               nprobe: Int = 8): Array[(Long, Array[(Float, Long)])] = {
      val c = countersOrNull
      if (c == null) doSearch(queries, k, metric, nprobe)
      else c.observe(queries.length)(doSearch(queries, k, metric, nprobe))
    }

    private def doSearch(queries: Array[(Long, Array[Float])], k: Int,
                         metric: KnnSearch.Metric,
                         nprobe: Int): Array[(Long, Array[(Float, Long)])] = synchronized {
      val desc = metric.descending
      val kBase = k + tombstones.size
      val fromBase = base.searchBase(queries, kBase, nprobe, metric)
      val deltaHits = scanDelta(queries, k, metric)
      queries.indices.map { qi =>
        val kept = fromBase(qi)._2.filter { case (_, id) => !tombstones.contains(id) }
        val merged = KnnSearch.mergeTopKF32(desc, k)(kept.take(k), deltaHits(qi))
        (queries(qi)._1, merged)
      }.toArray
    }

    /** Fold delta + tombstones into a fresh base (LSM flush). No-op when
      * there is nothing to fold. */
    def compact(): Unit = synchronized {
      if (delta.isEmpty && tombstones.isEmpty) return
      val survivors = baseVectors()
      val sc = survivors.sparkContext
      val deltaRows: Seq[(Long, Array[Float])] = {
        val it = delta.entrySet().iterator()
        val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Float])]
        while (it.hasNext) { val e = it.next(); buf += ((e.getKey.longValue(), e.getValue)) }
        buf.toSeq
      }
      val merged =
        if (deltaRows.isEmpty) survivors
        else survivors.union(sc.parallelize(deltaRows, 1))
      // rebuild closures pass localCheckpoint=true to the builders: the
      // mark must land BEFORE the slabs' first action (Spark checkpoints
      // only on the first job of an RDD), and without it each generation's
      // slabs would reference the previous generation's (flatMap over old
      // slabs ∪ parallelized delta) — DAG depth and retained driver state
      // growing with every flush on a long mutation stream.
      // ALL fallible work (rebuild + bloom, both Spark jobs) happens
      // before any state is touched: a failure leaves the old base, delta
      // and tombstones fully intact, so a retry is safe and a search in
      // between sees a consistent view.
      val newBase = rebuild(merged)
      val newBloom =
        try bloomOf(newBase)
        catch { case t: Throwable =>
          newBase.anySlabs.unpersist(false)
          throw t
        }
      // commit point — nothing below can throw
      val old = base
      base = newBase
      baseIdsOrNull = newBloom
      old.anySlabs.unpersist(false)
      delta.clear()
      tombstones.clear()
    }

    /** Test hook: slab (partition) count of the current base (compaction
      * must keep this flat too — the delta arrives as one extra union
      * partition that the rebuild has to fold back in, not keep). */
    private[graft] def slabCount: Int = synchronized {
      base.anySlabs.getNumPartitions
    }

    /** Test hook: lineage depth of the current base slabs (compaction
      * must keep this flat — see the checkpoint note in [[compact]]). */
    private[graft] def lineageDepth: Int = synchronized {
      base.anySlabs.toDebugString.linesIterator.size
    }

    /** Bloom over a base's ids (no false negatives — every id actually
      * in the base tests positive, which is what masking requires). One
      * Spark job: the capacity comes from the count the build already
      * materialized. */
    private def bloomOf(of: MutableBase): org.apache.spark.util.sketch.BloomFilter = {
      import org.apache.spark.util.sketch.BloomFilter
      val n = math.max(of.numVectors, 64L)
      of.idArrays.mapPartitions { it =>
        val bf = BloomFilter.create(n, 0.01)
        it.foreach(ids => ids.foreach(bf.putLong))
        Iterator.single(bf)
      }.fold(BloomFilter.create(n, 0.01)) { (a, b) => a.mergeInPlace(b); a }
    }

    /** Base rows that survive the tombstone mask, unpacked from slabs. */
    private def baseVectors(): RDD[(Long, Array[Float])] = {
      val tomb = tombstones.toArray(new Array[java.lang.Long](tombstones.size))
        .map(_.longValue()).sorted
      base.liveVectors(dim, tomb)
    }

    private def maybeCompact(): Unit =
      if (delta.size > maxDelta || tombstones.size > maxTombstones) compact()

    /** Driver-local memtable scan with the same bounded-heap kernel the
      * executors run. */
    private def scanDelta(queries: Array[(Long, Array[Float])], k: Int,
                          metric: KnnSearch.Metric): Array[Array[(Float, Long)]] = {
      val acc = emptyTopK(queries.length, k)
      if (!delta.isEmpty) {
        val n = delta.size
        val ids = new Array[Long](n)
        val data = new Array[Float](n * dim)
        val it = delta.entrySet().iterator()
        var i = 0
        while (it.hasNext) {
          val e = it.next()
          ids(i) = e.getKey.longValue()
          System.arraycopy(e.getValue, 0, data, i * dim, dim)
          i += 1
        }
        scanSlab(data, ids, 0, 0, n, dim, queries.map(_._2), metric, acc)
      }
      acc.map { h =>
        val out = new Array[(Float, Long)](h.size)
        var i = 0
        while (i < h.size) { out(i) = (h.scores(i), h.ids(i)); i += 1 }
        out
      }
    }
  }

  /** Mutable wrapper over a flat base; compaction repacks into the same
    * slab count. */
  def mutableFlat(baseVectors: RDD[(Long, Array[Float])], dim: Int,
                  numSlabs: Int = -1, maxDelta: Int = 4096,
                  maxTombstones: Int = 512): Mutable = {
    val d = dim
    val base = buildFlat(baseVectors, d, numSlabs)
    // compact() unions the delta as one extra partition; a rebuild that
    // merely "keeps the input partitioning" (numSlabs = -1) would therefore
    // add a slab per insert-bearing flush — unbounded task count and driver
    // merge width on a long mutation stream. Pin every rebuild to the slab
    // count the base actually materialized with.
    val effSlabs = if (numSlabs > 0) numSlabs else base.slabs.getNumPartitions
    new Mutable(FlatBase(base), d,
      rows => FlatBase(buildFlat(rows, d, effSlabs, localCheckpoint = true)),
      maxDelta, maxTombstones)
  }

  /** Mutable wrapper over an IVF base; compaction re-trains with the same
    * nlist/seed (deterministic rebuild). When deletions shrink the live
    * set below nlist, the rebuild clamps nlist to the survivor count (an
    * empty survivor set degrades to a flat base) instead of wedging the
    * index on `buildIvf`'s seed requirement. */
  def mutableIvf(baseVectors: RDD[(Long, Array[Float])], dim: Int, nlist: Int,
                 iterations: Int = 10, seed: Long = 42L, numSlabs: Int = -1,
                 maxDelta: Int = 4096, maxTombstones: Int = 512): Mutable = {
    val d = dim
    val base = buildIvf(baseVectors, d, nlist, iterations, seed, numSlabs)
    // see mutableFlat: rebuilds must not inherit the delta's extra union
    // partition, or the slab count grows by one per compaction
    val effSlabs = if (numSlabs > 0) numSlabs else base.slabs.getNumPartitions
    val rebuild: RDD[(Long, Array[Float])] => MutableBase = rows0 => {
      val rows = rows0.cache()
      try {
        val n = rows.count()
        if (n == 0) FlatBase(buildFlat(rows, d, effSlabs, localCheckpoint = true))
        else IvfBase(buildIvf(rows, d, math.min(nlist.toLong, n).toInt,
          iterations, seed, effSlabs, localCheckpoint = true))
      } finally rows.unpersist(false)
    }
    new Mutable(IvfBase(base), d, rebuild, maxDelta, maxTombstones)
  }

  /** Mutable wrapper over an SQ8 base — the delta memtable stays float32
    * (fresh writes search exactly); compaction re-encodes under the
    * quantizer FROZEN at construction, so surviving base codes round-trip
    * exactly and only newly folded delta rows pay quantization (as a
    * fresh build would). A drifting value distribution therefore needs a
    * new [[buildSq8]], not more compactions. */
  def mutableSq8(baseVectors: RDD[(Long, Array[Float])], dim: Int,
                 numSlabs: Int = -1, maxDelta: Int = 4096,
                 maxTombstones: Int = 512): Mutable = {
    val d = dim
    val base = buildSq8(baseVectors, d, numSlabs)
    val effSlabs = if (numSlabs > 0) numSlabs else base.slabs.getNumPartitions
    val (mins, step) = (base.vmin, base.vstep)
    new Mutable(Sq8Base(base), d,
      rows => Sq8Base(packSq8(rows, d, mins, step, effSlabs, localCheckpoint = true)),
      maxDelta, maxTombstones)
  }

  /** Mutable wrapper over a product-quantized base: codebooks train once
    * and FREEZE (the [[mutableSq8]] rule — compaction re-encodes decoded
    * reconstructions exactly, so quantized state never degrades across
    * flushes); the delta memtable stays float, so freshly upserted
    * vectors are searched exactly until the next flush quantizes them.
    * L2 / inner-product only (the PQ tier's metric surface). */
  def mutablePq(baseVectors: RDD[(Long, Array[Float])], dim: Int, m: Int,
                iterations: Int = 10, sampleSize: Int = 16384, seed: Long = 42L,
                numSlabs: Int = -1, maxDelta: Int = 4096,
                maxTombstones: Int = 512): Mutable = {
    val base = PqIndex.buildPq(baseVectors, dim, m, iterations, sampleSize,
      seed, numSlabs)
    val effSlabs = if (numSlabs > 0) numSlabs else base.slabs.getNumPartitions
    val books = base.books
    new Mutable(PqBase(base), dim,
      rows => PqBase(PqIndex.packPq(rows, books, effSlabs, localCheckpoint = true)),
      maxDelta, maxTombstones)
  }

  /** Mutable wrapper over an IVF+SQ8 base: centroids re-train per
    * compaction (same seed — deterministic, recall adapts to the live
    * set) while the scalar quantizer stays frozen (see [[mutableSq8]]).
    * An emptied live set degrades to a flat SQ8 base. */
  def mutableIvfSq8(baseVectors: RDD[(Long, Array[Float])], dim: Int, nlist: Int,
                    iterations: Int = 10, seed: Long = 42L, numSlabs: Int = -1,
                    maxDelta: Int = 4096, maxTombstones: Int = 512): Mutable = {
    val d = dim
    val base = buildIvfSq8(baseVectors, d, nlist, iterations, seed, numSlabs)
    val effSlabs = if (numSlabs > 0) numSlabs else base.slabs.getNumPartitions
    val (mins, step) = (base.vmin, base.vstep)
    val rebuild: RDD[(Long, Array[Float])] => MutableBase = rows0 => {
      val rows = rows0.cache()
      try {
        val n = rows.count()
        if (n == 0) Sq8Base(packSq8(rows, d, mins, step, effSlabs, localCheckpoint = true))
        else {
          val cs = trainCentroids(rows, d, math.min(nlist.toLong, n).toInt,
            iterations, seed)
          IvfSq8Base(packIvfSq8(rows, d, cs, mins, step, effSlabs, localCheckpoint = true))
        }
      } finally rows.unpersist(false)
    }
    new Mutable(IvfSq8Base(base), d, rebuild, maxDelta, maxTombstones)
  }

  // -------------------------------------------------------------- builds

  /** Pack an (id, vector) RDD into resident flat slabs (cached +
    * materialized — build cost paid here, not at query time).
    * `numSlabs`: searches schedule one task per slab, so fewer slabs =
    * lower scheduling floor but less scan parallelism — size to
    * work-per-task (exhaustive scans want ≈ cores; pruned index scans
    * want fewer). Default keeps the input partitioning. */
  def buildFlat(vectors: RDD[(Long, Array[Float])], dim: Int,
                numSlabs: Int = -1, localCheckpoint: Boolean = false): Flat = {
    val d = dim
    val src =
      if (numSlabs > 0 && numSlabs < vectors.getNumPartitions)
        vectors.coalesce(numSlabs)
      else vectors
    val slabs = src.mapPartitions({ it =>
      val ids = Array.newBuilder[Long]
      val data = Array.newBuilder[Float]
      it.foreach { case (id, v) =>
        if (v != null && v.length == d) { ids += id; data ++= v }
      }
      Iterator.single(FlatSlab(ids.result(), data.result()))
    }, preservesPartitioning = true).cache()
    // lineage cut for rebuild-from-rebuild chains (Mutable.compact): must
    // be marked before the materializing action — Spark checkpoints only
    // on an RDD's FIRST job
    if (localCheckpoint) slabs.localCheckpoint()
    // the materializing action doubles as the vector count (one job, and
    // Mutable's Bloom sizing reads it back without a second pass)
    val nv = slabs.map(_.ids.length.toLong).fold(0L)(_ + _)
    new Flat(slabs, dim, nv)
  }

  /**
   * Build an in-memory IVF index: distributed Lloyd training (assignment
   * fan-out via `runJob`, centroid update on the driver — nlist×dim floats,
   * trivially small), then cluster-major packing per partition. No shuffle:
   * each partition keeps its own vectors, grouped locally, so probing costs
   * `nprobe/nlist` of every partition — balanced by construction, no skewed
   * cell hotspots across executors.
   */
  def buildIvf(vectors0: RDD[(Long, Array[Float])], dim: Int, nlist: Int,
               iterations: Int = 10, seed: Long = 42L,
               numSlabs: Int = -1, localCheckpoint: Boolean = false): Ivf = {
    val vectors =
      if (numSlabs > 0 && numSlabs < vectors0.getNumPartitions)
        vectors0.coalesce(numSlabs)
      else vectors0
    val sc = vectors.sparkContext
    val d = dim
    val centroids = trainCentroids(vectors, d, nlist, iterations, seed)
    val bcFinal = sc.broadcast(centroids)
    val slabs = vectors.mapPartitions({ it =>
      val cs = bcFinal.value
      val buf = it.filter { case (_, v) => v != null && v.length == d }.toArray
      val assign = buf.map { case (_, v) => nearestCentroid(v, cs) }
      val counts = new Array[Int](cs.length)
      assign.foreach(c => counts(c) += 1)
      val offsets = new Array[Int](cs.length + 1)
      var c = 0
      while (c < cs.length) { offsets(c + 1) = offsets(c) + counts(c); c += 1 }
      val ids = new Array[Long](buf.length)
      val data = new Array[Float](buf.length * d)
      val cursor = offsets.clone()
      var i = 0
      while (i < buf.length) {
        val slot = cursor(assign(i)); cursor(assign(i)) += 1
        ids(slot) = buf(i)._1
        System.arraycopy(buf(i)._2, 0, data, slot * d, d)
        i += 1
      }
      Iterator.single(IvfSlab(ids, data, offsets))
    }, preservesPartitioning = true).cache()
    // see buildFlat: the mark must precede the slabs' first job, and the
    // materializing action doubles as the vector count
    if (localCheckpoint) slabs.localCheckpoint()
    val nv = slabs.map(_.ids.length.toLong).fold(0L)(_ + _)
    new Ivf(slabs, centroids, dim, nv)
  }

  /** Exact per-query probe ranking: nprobe assignment-nearest (L2)
    * centroids, best-first, ties by index — shared by [[Ivf.search]]
    * (unrouted branch) and [[IvfSq8.search]] so probe tie-breaking can
    * never diverge between the float and quantized tiers. */
  /** nprobe closest centroids per query, ties broken by centroid index
    * ascending (the order a (score, index) sort would give). Primitive
    * O(nprobe·nlist) selection — no boxed tuples or sort allocations;
    * this runs per query on every serving search, and the boxed form
    * dominated small-corpus IVF latency. Ranks on SQUARED L2 through
    * the serving SIMD ops (selection only — sqrt is monotonic, so the
    * probe order is the euclidean order; at serving nlist the ranking
    * is half the per-query work on small corpora). Every tier routes
    * through here, so probe tie-breaking still cannot diverge between
    * the float and quantized paths. */
  private[operators] def rankProbes(queries: Array[(Long, Array[Float])],
                         centroids: Array[Array[Float]],
                         nprobe: Int): Array[Array[Int]] = {
    val ops = SimdSupport.ops
    queries.map { case (_, q) =>
      val nlist = centroids.length
      val k = math.min(nprobe, nlist)
      val ds = new Array[Float](nlist)
      var c = 0
      while (c < nlist) {
        val ctr = centroids(c)
        ds(c) = ops.l2sq(q, ctr, 0, math.min(q.length, ctr.length))
        c += 1
      }
      val sel = new Array[Int](k)
      val used = new Array[Boolean](nlist)
      var s = 0
      while (s < k) {
        var best = -1
        var bd = Float.PositiveInfinity
        var i = 0
        while (i < nlist) {
          // strict < keeps the EARLIEST index among equal scores — the
          // same order as sorting by (score, index)
          if (!used(i) && ds(i) < bd) { bd = ds(i); best = i }
          i += 1
        }
        if (best < 0) {
          // every remaining distance is NaN (degenerate query/centroid):
          // fall back to lowest unused index, matching a NaN-last sort
          var j = 0
          while (best < 0 && j < nlist) { if (!used(j)) best = j; j += 1 }
        }
        used(best) = true; sel(s) = best; s += 1
      }
      sel
    }
  }

  /** Per-dim `[min, step]` quantizer training (one map-side-combined
    * pass; 2·dim floats per partition to the driver) — shared by
    * [[buildSq8]] and [[buildIvfSq8]]. `step = (max−min)/255`; a
    * constant dimension gets step 0 and dequantizes exactly. */
  private def trainQuantizer(vectors: RDD[(Long, Array[Float])],
                             d: Int): (Array[Float], Array[Float]) = {
    val sc = vectors.sparkContext
    val partials: Array[(Array[Float], Array[Float])] =
      sc.runJob(vectors, (it: Iterator[(Long, Array[Float])]) => {
        val mn = Array.fill(d)(Float.PositiveInfinity)
        val mx = Array.fill(d)(Float.NegativeInfinity)
        it.foreach { case (_, v) =>
          if (v != null && v.length == d) {
            var i = 0
            while (i < d) {
              if (v(i) < mn(i)) mn(i) = v(i)
              if (v(i) > mx(i)) mx(i) = v(i)
              i += 1
            }
          }
        }
        (mn, mx)
      })
    val mn = Array.fill(d)(Float.PositiveInfinity)
    val mx = Array.fill(d)(Float.NegativeInfinity)
    partials.foreach { case (pmn, pmx) =>
      var i = 0
      while (i < d) {
        if (pmn(i) < mn(i)) mn(i) = pmn(i)
        if (pmx(i) > mx(i)) mx(i) = pmx(i)
        i += 1
      }
    }
    require(mn.forall(_ != Float.PositiveInfinity),
      "cannot train an SQ8 quantizer on an empty corpus")
    val step = Array.tabulate(d) { i =>
      val r = mx(i) - mn(i)
      if (r > 0f) r / 255f else 0f
    }
    (mn, step)
  }

  /** SAMPLE-trained Lloyd shared by [[buildIvf]] and [[buildIvfSq8]] —
    * the FAISS regime: k-means never iterates over the full corpus.
    * A deterministic seeded sample (≤ `samplePerList`·nlist vectors,
    * FAISS's own 256/list heuristic) is collected ONCE, then Lloyd runs
    * driver-local and thread-parallel with the scalar f32 kernel
    * (machine-independent by design — no SIMD lane reassociation) — so
    * training cost is bounded by nlist, not corpus size, and the only
    * full-corpus pass is the single assignment+pack job in the builder.
    * (The previous form ran one runJob per iteration: 10 job floors,
    * and at 100 TB ten full-corpus passes nobody needs.) Dirty rows
    * (null / wrong dim) are skipped in both sampling and assignment;
    * empty cells keep their previous centroid. */
  private[operators] def trainCentroids(vectors: RDD[(Long, Array[Float])], d: Int,
                             nlist: Int, iterations: Int,
                             seed: Long,
                             samplePerList: Int = 256): Array[Array[Float]] = {
    val cap = math.max(nlist, nlist * samplePerList)
    val sample: Array[Array[Float]] =
      vectors.filter { case (_, v) => v != null && v.length == d }
        .takeSample(withReplacement = false, cap, seed).map(_._2)
    require(sample.length >= nlist,
      s"need at least nlist=$nlist vectors to build an IVF index")
    var centroids: Array[Array[Float]] = sample.take(nlist).map(_.clone())
    val n = sample.length
    // FIXED-SIZE blocks (≤1024 samples), merged in block order: the
    // summation sequence depends only on the data, never on how many
    // cores the host happens to have — a commonPar-derived block count
    // made centroids (and every downstream cell layout) machine-dependent
    val nThreads = n / 1024 + 1
    // Hamerly-pruned Lloyd (Hamerly, "Making k-means even faster", SDM
    // 2010): per point, an upper bound on the distance to its assigned
    // centroid and a lower bound on the distance to every other centroid
    // let most points skip the O(nlist·d) scan once clusters stabilize.
    // A skip fires only when the padded bound STRICTLY separates the
    // assigned centroid from all others — the pad (rel 1e-3) dominates
    // both the float kernel's accumulation error (≤ d·ε_f ≈ 2e-5 rel)
    // and the bound-update rounding, so a skipped point provably gets
    // the same argmin the full scan would return: assignments, block
    // summation order, and therefore centroids are bit-identical to the
    // unpruned form (HamerlyParitySpec asserts this), and everything
    // stays machine-independent (no lane- or core-count-dependent math).
    val assign = new Array[Int](n)
    val ub = new Array[Double](n) // upper bound: dist(x, centroid(assign))
    val lb = new Array[Double](n) // lower bound: dist(x, any other centroid)
    val moved = new Array[Double](nlist)
    var maxMoved = 0.0
    var iter = 0
    while (iter < iterations) {
      val cs = centroids
      val first = iter == 0
      // half the distance from each centroid to its nearest peer — the
      // classic "point can't switch if u < s/2" prune (cheap: nlist²/2)
      val sHalf = new Array[Double](nlist)
      var a0 = 0
      while (a0 < nlist) {
        var best = Double.MaxValue
        var b0 = 0
        while (b0 < nlist) {
          if (b0 != a0) {
            val dd = math.sqrt(KnnSearch.F32Kernels.l2sq(cs(a0), cs(b0), 0, d).toDouble)
            if (dd < best) best = dd
          }
          b0 += 1
        }
        sHalf(a0) = 0.5 * best
        a0 += 1
      }
      val mv = moved
      val mm = maxMoved
      val partial = new Array[(Array[Double], Array[Long])](nThreads)
      java.util.stream.IntStream.range(0, nThreads).parallel().forEach { t =>
        val sums = new Array[Double](nlist * d)
        val counts = new Array[Long](nlist)
        val from = (n.toLong * t / nThreads).toInt
        val until = (n.toLong * (t + 1) / nThreads).toInt
        // full scan with runner-up tracking: same iteration order and
        // strict-< comparison as nearestCentroid, so the argmin (and its
        // lowest-index tie-break) matches the unpruned trainer exactly
        def fullScan(v: Array[Float], p: Int): Unit = {
          var best = 0
          var bestD = Float.MaxValue
          var second = Float.MaxValue
          var c = 0
          while (c < nlist) {
            val s = KnnSearch.F32Kernels.l2sq(v, cs(c), 0, d)
            if (s < bestD) { second = bestD; bestD = s; best = c }
            else if (s < second) { second = s }
            c += 1
          }
          assign(p) = best
          ub(p) = math.sqrt(bestD.toDouble)
          lb(p) = math.sqrt(second.toDouble)
        }
        var p = from
        while (p < until) {
          val v = sample(p)
          if (first) fullScan(v, p)
          else {
            val a = assign(p)
            var u = ub(p) + mv(a)
            val l = lb(p) - mm
            val bound = math.max(sHalf(a), l)
            if (u * 1.001 + 1e-12 >= bound) {
              // tighten the upper bound exactly, then retest before the
              // full scan (Hamerly's second chance)
              u = math.sqrt(KnnSearch.F32Kernels.l2sq(v, cs(a), 0, d).toDouble)
              if (u * 1.001 + 1e-12 >= bound) fullScan(v, p)
              else { ub(p) = u; lb(p) = l }
            } else { ub(p) = u; lb(p) = l }
          }
          val a2 = assign(p)
          counts(a2) += 1
          var i = 0
          while (i < d) { sums(a2 * d + i) += v(i); i += 1 }
          p += 1
        }
        partial(t) = (sums, counts)
      }
      val sums = new Array[Double](nlist * d)
      val counts = new Array[Long](nlist)
      partial.foreach { case (s, c) =>
        var i = 0
        while (i < sums.length) { sums(i) += s(i); i += 1 }
        var j = 0
        while (j < nlist) { counts(j) += c(j); j += 1 }
      }
      val prev = centroids
      centroids = Array.tabulate(nlist) { c =>
        if (counts(c) == 0) prev(c) // keep empty cells where they were
        else Array.tabulate(d)(i => (sums(c * d + i) / counts(c)).toFloat)
      }
      maxMoved = 0.0
      var c2 = 0
      while (c2 < nlist) {
        moved(c2) =
          if (centroids(c2) eq prev(c2)) 0.0
          else math.sqrt(KnnSearch.F32Kernels.l2sq(prev(c2), centroids(c2), 0, d).toDouble)
        if (moved(c2) > maxMoved) maxMoved = moved(c2)
        c2 += 1
      }
      iter += 1
    }
    centroids
  }

  // ------------------------------------------------------------- kernels

  private[operators] def emptyTopK(nQueries: Int, k: Int): Array[SortedTopK] =
    Array.fill(nQueries)(new SortedTopK(k))

  /** Keeps the k best (score, id) in sorted best-first order via
    * binary-search insertion — cheap at serving k, and the output is
    * directly mergeable. */
  private[operators] final class SortedTopK(k: Int) {
    var scores = new Array[Float](k)
    var ids = new Array[Long](k)
    var size = 0
    private var kept = k

    def insert(s: Float, id: Long, desc: Boolean): Unit = {
      if (kept == 0) return // k = 0: nothing to keep (scores(-1) otherwise)
      if (size == kept) {
        // fast reject vs current worst
        val w = size - 1
        val worse =
          if (desc) s < scores(w) || (s == scores(w) && id > ids(w))
          else s > scores(w) || (s == scores(w) && id > ids(w))
        if (worse) return
      }
      // binary search for insertion point under (score, id) total order
      var lo = 0; var hi = size
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        val c = java.lang.Float.compare(scores(mid), s)
        val before =
          if (c != 0) { if (desc) c > 0 else c < 0 }
          else ids(mid) < id
        if (before) lo = mid + 1 else hi = mid
      }
      val last = math.min(size, kept - 1)
      var j = last
      while (j > lo) { scores(j) = scores(j - 1); ids(j) = ids(j - 1); j -= 1 }
      scores(lo) = s; ids(lo) = id
      if (size < kept) size += 1
    }
  }

  /** Score one slab stripe against ALL queries (flat scan). The metric
    * dispatch is hoisted OUT of the per-vector loop; the per-vector math
    * goes through [[SimdSupport.ops]] — the Vector API kernels when the
    * JVM has the module, else the scalar [[KnnSearch.F32Kernels]] family.
    * Under SIMD, lane-order accumulation drifts from `Metric.scoreF32` by
    * last ulps, which is why serving scans are never wired into
    * oracle-parity paths (those call the scalar family directly).
    * `idOff` decouples the data index from the id index so a caller can
    * score a staging buffer (the SQ8 dequant stripe) under the right id:
    * vector `vi` reads `data[vi·d, …)` and inserts `ids(idOff + vi)`. */
  private[operators] def scanSlab(data: Array[Float], ids: Array[Long], idOff: Int,
                       from: Int, until: Int, d: Int, qs: Array[Array[Float]],
                       metric: KnnSearch.Metric, acc: Array[SortedTopK]): Unit = {
    // SIMD when the JVM has the Vector API module, else the scalar family
    // (same interface; serving tier is not an oracle-parity path)
    val ops = SimdSupport.ops
    metric match {
      case KnnSearch.L2 =>
        var vi = from
        while (vi < until) {
          val base = vi * d
          var qi = 0
          while (qi < qs.length) {
            val s = math.sqrt(ops.l2sq(qs(qi), data, base, d).toDouble).toFloat
            acc(qi).insert(s, ids(idOff + vi), desc = false)
            qi += 1
          }
          vi += 1
        }
      case KnnSearch.InnerProduct =>
        var vi = from
        while (vi < until) {
          val base = vi * d
          var qi = 0
          while (qi < qs.length) {
            acc(qi).insert(ops.dot(qs(qi), data, base, d), ids(idOff + vi), desc = true)
            qi += 1
          }
          vi += 1
        }
      case KnnSearch.Cosine =>
        var vi = from
        while (vi < until) {
          val base = vi * d
          var qi = 0
          while (qi < qs.length) {
            acc(qi).insert(ops.cosine(qs(qi), data, base, d), ids(idOff + vi), desc = true)
            qi += 1
          }
          vi += 1
        }
    }
  }

  /** Score one slab range against ONE query (IVF probe scan) — same
    * hoisted-dispatch shape and shared kernels as [[scanSlab]]. */
  private[operators] def scanSlabOneQuery(data: Array[Float], ids: Array[Long], from: Int,
                               until: Int, d: Int, q: Array[Float], qi: Int,
                               metric: KnnSearch.Metric, acc: Array[SortedTopK]): Unit = {
    val ops = SimdSupport.ops
    metric match {
      case KnnSearch.L2 =>
        var vi = from
        while (vi < until) {
          val s = math.sqrt(ops.l2sq(q, data, vi * d, d).toDouble).toFloat
          acc(qi).insert(s, ids(vi), desc = false)
          vi += 1
        }
      case KnnSearch.InnerProduct =>
        var vi = from
        while (vi < until) {
          acc(qi).insert(ops.dot(q, data, vi * d, d), ids(vi), desc = true)
          vi += 1
        }
      case KnnSearch.Cosine =>
        var vi = from
        while (vi < until) {
          acc(qi).insert(ops.cosine(q, data, vi * d, d), ids(vi), desc = true)
          vi += 1
        }
    }
  }

  /** Cell assignment on the scalar `F32Kernels.l2sq`, the
    * machine-independent kernel the oracle-parity `Clustering` and
    * `AnnIndex` paths need. The serving probe ranking ([[rankProbes]])
    * ranks through `SimdSupport.ops` instead, whose lane order can round
    * differently, so a vector within rounding of a cell boundary can be
    * stored in one cell and ranked as nearer the other at low nprobe. */
  private[operators] def nearestCentroid(v: Array[Float], cs: Array[Array[Float]]): Int = {
    var best = 0
    var bestD = Float.MaxValue
    var c = 0
    while (c < cs.length) {
      val ctr = cs(c)
      val s = KnnSearch.F32Kernels.l2sq(v, ctr, 0, math.min(v.length, ctr.length))
      if (s < bestD) { bestD = s; best = c }
      c += 1
    }
    best
  }

  /** Driver-side merge of per-partition sorted top-k arrays: bounded by
    * partitions × |Q| × k tuples. */
  private[operators] def mergeAcrossPartitions(
      queries: Array[(Long, Array[Float])],
      perPartition: Array[Array[(Array[Float], Array[Long])]],
      k: Int, desc: Boolean): Array[(Long, Array[(Float, Long)])] = {
    queries.indices.map { qi =>
      var merged: Array[(Float, Long)] = Array.empty
      var p = 0
      while (p < perPartition.length) {
        val (ss, ii) = perPartition(p)(qi)
        val arr = new Array[(Float, Long)](ss.length)
        var i = 0
        while (i < ss.length) { arr(i) = (ss(i), ii(i)); i += 1 }
        merged = KnnSearch.mergeTopKF32(desc, k)(merged, arr)
        p += 1
      }
      (queries(qi)._1, merged)
    }.toArray
  }
}
