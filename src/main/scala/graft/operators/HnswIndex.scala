package graft.operators

import org.apache.spark.rdd.RDD

/**
 * Sharded HNSW index (Malkov & Yashunin, "Efficient and robust approximate
 * nearest neighbor search using Hierarchical Navigable Small World graphs",
 * 2016) — the reference's best-latency index tier (FAISS HNSWFlat M=32:
 * day_6/day6_complete.py:137-183; pgvector hnsw m=16, ef_construction=64:
 * day_9/database/vector_ops.py:66-73).
 *
 * Distribution model: one INDEPENDENT graph per partition, built inside
 * `mapPartitions` with no shuffle and no cross-partition edges; a query
 * batch fans out as one fused `runJob` (the [[ServingIndex]] shape), each
 * shard answers from its local graph, and the driver merges the bounded
 * per-shard top-k arrays. Build is embarrassingly parallel — the
 * single-node baseline pays 12 s to build large (50k×384, M=32) serially,
 * while sharded construction divides that by the partition count — and a
 * 100 TB corpus shards the same way (graph size per executor is bounded by
 * its partition, merge stays partitions×|Q|×k).
 *
 * Recall shape: the global result is the merge of per-shard searches, so
 * the only loss vs exact is each shard's own HNSW approximation — sharding
 * RAISES recall at fixed ef vs one big graph (each graph is smaller and
 * better explored), at the cost of scanning every shard.
 */
object HnswIndex {

  /** Comparison distance from a query to a slab node, with the metric
    * hoisted into a field: one monomorphic call site, no `Function2`
    * boxing of the node id or the result. Smaller = closer for every
    * metric: IP/cosine are negated, L2 is the squared distance — sqrt
    * deferred to the reported score. Build and query use THIS one
    * kernel, so graph construction and scoring cannot diverge. */
  private[operators] final class Dist(metric: KnnSearch.Metric, data: Array[Float], dim: Int) {
    // serving tier → SimdSupport (Vector API when available, scalar
    // fallback otherwise); HNSW has no DuckDB-oracle path, so lane-order
    // rounding is free to differ from the scalar family. NOTE: kernel
    // selection is per-JVM — graph build (executors) and any driver-side
    // search (LocalServing.hnswFrom) must run under the SAME --add-modules
    // configuration, or near-tie graph walks can diverge between the two
    // tiers; configure driver and executors uniformly (local mode and any
    // uniformly-launched cluster satisfy this by construction)
    private val ops = SimdSupport.ops
    private val kind = metric match {
      case KnnSearch.L2 => 0
      case KnnSearch.InnerProduct => 1
      case KnnSearch.Cosine => 2
    }
    def apply(q: Array[Float], node: Int): Float = kind match {
      case 0 => ops.l2sq(q, data, node * dim, dim)
      case 1 => -ops.dot(q, data, node * dim, dim)
      case _ => -ops.cosine(q, data, node * dim, dim)
    }
  }

  /** The one layer walk of build and query: greedy ef=1 descent and
    * ef-bounded best-first search over `adj(node)(level)`. `deg`, when
    * not null, holds each list's live length (the build's lists are
    * fixed-capacity); a frozen [[Shard]]'s lists are exact and pass null.
    * Primitive array heaps, a cleared-not-reallocated visited set and
    * reused result arrays, so a build walks without allocating. One Walk
    * serves one thread.
    *
    * The order in which equal distances leave the heaps shapes the
    * graph, which is why the build once kept a boxed
    * `mutable.PriorityQueue` twin of the query walk. These heaps sift as
    * that queue does and keep its accept/terminate comparisons, so on
    * tie-free input the build reproduces the boxed builder's graph
    * exactly (`HnswIndexSpec`, against the test-only `HnswReference`);
    * only the order of exactly equal distances may differ (the queue
    * orders by `Float.compare`, which splits ±0 and sorts NaN last). */
  private[operators] final class Walk(dist: Dist, adj: Array[Array[Array[Int]]],
                                      deg: Array[Array[Int]], n: Int, ef: Int) {
    private val visited = new java.util.BitSet(n)
    // results: bounded MAX-heap, head = furthest kept (capacity ef+1:
    // push-then-evict)
    private val rD = new Array[Float](ef + 1)
    private val rN = new Array[Int](ef + 1)
    private var rSize = 0
    // candidates: growable MIN-heap, head = closest pending
    private var cD = new Array[Float](math.max(32, math.min(n, 2 * ef)))
    private var cN = new Array[Int](cD.length)
    private var cSize = 0
    /** The last [[layer]] result, closest-first. */
    val outD = new Array[Float](ef + 1)
    val outN = new Array[Int](ef + 1)

    private def degree(node: Int, lev: Int): Int =
      if (deg eq null) adj(node)(lev).length else deg(node)(lev)

    private def rPush(d: Float, node: Int): Unit = {
      var i = rSize; rD(i) = d; rN(i) = node; rSize += 1
      while (i > 0 && rD((i - 1) / 2) < rD(i)) {
        val p = (i - 1) / 2
        val td = rD(p); rD(p) = rD(i); rD(i) = td
        val tn = rN(p); rN(p) = rN(i); rN(i) = tn
        i = p
      }
    }
    private def rPopMax(): Unit = {
      rSize -= 1
      rD(0) = rD(rSize); rN(0) = rN(rSize)
      var i = 0
      var done = false
      while (!done) {
        val l = 2 * i + 1
        val r = l + 1
        var big = i
        if (l < rSize && rD(l) > rD(big)) big = l
        if (r < rSize && rD(r) > rD(big)) big = r
        if (big == i) done = true
        else {
          val td = rD(big); rD(big) = rD(i); rD(i) = td
          val tn = rN(big); rN(big) = rN(i); rN(i) = tn
          i = big
        }
      }
    }
    private def cPush(d: Float, node: Int): Unit = {
      if (cSize == cD.length) {
        cD = java.util.Arrays.copyOf(cD, cD.length * 2)
        cN = java.util.Arrays.copyOf(cN, cN.length * 2)
      }
      var i = cSize; cD(i) = d; cN(i) = node; cSize += 1
      while (i > 0 && cD((i - 1) / 2) > cD(i)) {
        val p = (i - 1) / 2
        val td = cD(p); cD(p) = cD(i); cD(i) = td
        val tn = cN(p); cN(p) = cN(i); cN(i) = tn
        i = p
      }
    }
    private def cPopMin(): Unit = {
      cSize -= 1
      cD(0) = cD(cSize); cN(0) = cN(cSize)
      var i = 0
      var done = false
      while (!done) {
        val l = 2 * i + 1
        val r = l + 1
        var small = i
        if (l < cSize && cD(l) < cD(small)) small = l
        if (r < cSize && cD(r) < cD(small)) small = r
        if (small == i) done = true
        else {
          val td = cD(small); cD(small) = cD(i); cD(i) = td
          val tn = cN(small); cN(small) = cN(i); cN(i) = tn
          i = small
        }
      }
    }

    /** Greedy single-entry descent at one level (ef=1). */
    def greedy(q: Array[Float], start: Int, lev: Int): Int = {
      var cur = start
      var curD = dist(q, cur)
      var improved = true
      while (improved) {
        improved = false
        val nbs = adj(cur)(lev)
        val len = degree(cur, lev)
        var i = 0
        while (i < len) {
          val d = dist(q, nbs(i))
          if (d < curD) { curD = d; cur = nbs(i); improved = true }
          i += 1
        }
      }
      cur
    }

    /** ef-bounded best-first search at one level; fills [[outD]]/[[outN]]
      * closest-first and returns how many it kept. */
    def layer(q: Array[Float], entry: Int, lev: Int): Int = {
      visited.clear(); rSize = 0; cSize = 0
      val d0 = dist(q, entry)
      visited.set(entry)
      cPush(d0, entry); rPush(d0, entry)
      var stop = false
      while (cSize > 0 && !stop) {
        val dc = cD(0)
        val c = cN(0)
        cPopMin()
        if (dc > rD(0) && rSize >= ef) {
          stop = true // every pending candidate is worse than the kept set
        } else {
          val nbs = adj(c)(lev)
          val len = degree(c, lev)
          var i = 0
          while (i < len) {
            val nb = nbs(i)
            if (!visited.get(nb)) {
              visited.set(nb)
              val dn = dist(q, nb)
              if (rSize < ef || dn < rD(0)) {
                cPush(dn, nb)
                rPush(dn, nb)
                if (rSize > ef) rPopMax()
              }
            }
            i += 1
          }
        }
      }
      // drain the max-heap backwards → closest-first
      val found = rSize
      var oi = found - 1
      while (oi >= 0) {
        outD(oi) = rD(0); outN(oi) = rN(0)
        rPopMax()
        oi -= 1
      }
      found
    }
  }

  /** One partition's graph: packed vectors + per-node per-level adjacency. */
  final class Shard(
      val ids: Array[Long],
      val data: Array[Float],
      val dim: Int,
      val neighbors: Array[Array[Array[Int]]],
      val entryPoint: Int,
      val topLevel: Int) extends Serializable {

    def size: Int = ids.length

    /** Local top-k, best-first, as (metric score, external id). */
    def search(metric: KnnSearch.Metric, q: Array[Float], k: Int,
               ef: Int): Array[(Float, Long)] = {
      if (size == 0) return Array.empty
      val walk = new Walk(new Dist(metric, data, dim), neighbors, null, size, math.max(ef, k))
      var ep = entryPoint
      var lev = topLevel
      while (lev > 0) { ep = walk.greedy(q, ep, lev); lev -= 1 }
      val found = walk.layer(q, ep, 0)
      Array.tabulate(math.min(k, found)) { i =>
        val d = walk.outD(i)
        val score = if (metric == KnnSearch.L2) math.sqrt(d.toDouble).toFloat else -d
        (score, ids(walk.outN(i)))
      }
    }
  }

  /** Build one shard from an iterator (runs inside mapPartitions).
    * Adjacency lives in fixed-capacity int arrays (cap + 1: append, then
    * prune) with a live count, and every walk, selection and prune
    * reuses its scratch, so nothing is allocated per step. */
  private[operators] def buildShard(it: Iterator[(Long, Array[Float])], dim: Int,
                                    m: Int, efConstruction: Int,
                                    metric: KnnSearch.Metric, seed: Long): Shard = {
    val items = it.filter { case (_, v) => v != null && v.length == dim }.toArray
    val n = items.length
    val data = new Array[Float](n * dim)
    var i = 0
    while (i < n) { System.arraycopy(items(i)._2, 0, data, i * dim, dim); i += 1 }
    val ids = items.map(_._1)

    // the SAME kernel the query path uses — see Dist's scaladoc
    val dist = new Dist(metric, data, dim)

    val rng = new java.util.Random(seed)
    val mL = 1.0 / math.log(m.toDouble)
    def maxConn(lev: Int): Int = if (lev == 0) 2 * m else m

    // adjacency under construction: node -> level -> list, live length
    val adj = new Array[Array[Array[Int]]](n)
    val deg = new Array[Array[Int]](n)
    var entry = -1
    var top = -1
    val walk = new Walk(dist, adj, deg, n, efConstruction)

    // Neighbor DIVERSITY selection (round 17 — Malkov & Yashunin 2018,
    // Algorithm 4, "heuristic2" with keepPruned refill, hnswlib's
    // default): a candidate joins the neighbor set only if it is closer
    // to the BASE point than to every already-selected neighbor, so
    // edges spread across approach directions instead of crowding one
    // cluster face; skipped candidates refill up to the cap to keep the
    // graph connected. Versus naive closest-m this is what lifts
    // recall-at-ef on clustered corpora (the r16 verdict's accuracy-end
    // ask): measured on the day_6 large workload (BENCH.md round 17,
    // "HNSW: diversity neighbor selection"),
    // recall@10 rose 0.748→0.995 at ef=6 and 0.844→1.000 at ef=64 at
    // unchanged beam cost — naive selection had crowded every neighbor
    // list onto one cluster face. Candidates `cN(0 until len)` must
    // arrive closest-first with distances `cD` TO THE BASE point; the
    // kept ids are written to `out`, their count returned.
    val hScratch = new Array[Float](dim)
    val skipped = new Array[Int](math.max(efConstruction, 2 * m + 1))
    def selectNeighbors(cD: Array[Float], cN: Array[Int], len: Int, cap: Int,
                        out: Array[Int]): Int = {
      if (len <= cap) { System.arraycopy(cN, 0, out, 0, len); return len }
      var kept = 0
      var nSkipped = 0
      var i = 0
      while (i < len && kept < cap) {
        val e = cN(i)
        System.arraycopy(data, e * dim, hScratch, 0, dim)
        var ok = true
        var j = 0
        while (ok && j < kept) {
          if (dist(hScratch, out(j)) < cD(i)) ok = false
          j += 1
        }
        if (ok) { out(kept) = e; kept += 1 } else { skipped(nSkipped) = e; nSkipped += 1 }
        i += 1
      }
      var si = 0
      while (kept < cap && si < nSkipped) { out(kept) = skipped(si); kept += 1; si += 1 }
      kept
    }

    // prune an over-full list by the same diversity rule, with distances
    // re-based on its owner c: a stable insertion sort (≤ 2m+1 entries)
    // ranks it closest-first, then the kept ids overwrite the list
    val cv = new Array[Float](dim)
    val pD = new Array[Float](2 * m + 1)
    val pN = new Array[Int](2 * m + 1)
    def prune(c: Int, lev: Int): Unit = {
      val list = adj(c)(lev)
      val len = deg(c)(lev)
      System.arraycopy(data, c * dim, cv, 0, dim)
      var a = 0
      while (a < len) {
        val d = dist(cv, list(a))
        var b = a
        while (b > 0 && pD(b - 1) > d) { pD(b) = pD(b - 1); pN(b) = pN(b - 1); b -= 1 }
        pD(b) = d; pN(b) = list(a)
        a += 1
      }
      deg(c)(lev) = selectNeighbors(pD, pN, len, maxConn(lev), list)
    }

    var node = 0
    while (node < n) {
      val q = items(node)._2
      val lvl = math.min((-math.log(math.max(rng.nextDouble(), 1e-12)) * mL).toInt, 32)
      adj(node) = Array.tabulate(lvl + 1)(l => new Array[Int](maxConn(l) + 1))
      deg(node) = new Array[Int](lvl + 1)
      if (entry < 0) { entry = node; top = lvl }
      else {
        var ep = entry
        var lev = top
        // greedy descent through levels above the node's level
        while (lev > lvl) { ep = walk.greedy(q, ep, lev); lev -= 1 }
        // connect at each level from min(lvl, top) down to 0
        lev = math.min(lvl, top)
        while (lev >= 0) {
          val found = walk.layer(q, ep, lev)
          ep = walk.outN(0)
          val own = adj(node)(lev)
          val conns = selectNeighbors(walk.outD, walk.outN, found, m, own)
          deg(node)(lev) = conns
          var ci = 0
          while (ci < conns) {
            val c = own(ci)
            adj(c)(lev)(deg(c)(lev)) = node
            deg(c)(lev) += 1
            if (deg(c)(lev) > maxConn(lev)) prune(c, lev)
            ci += 1
          }
          lev -= 1
        }
        if (lvl > top) { top = lvl; entry = node }
      }
      node += 1
    }

    val frozen: Array[Array[Array[Int]]] = Array.tabulate(n) { v =>
      Array.tabulate(adj(v).length)(l => java.util.Arrays.copyOf(adj(v)(l), deg(v)(l)))
    }
    new Shard(ids, data, dim, frozen, entry, top)
  }

  /** The distributed index: one graph per partition, cached resident.
    * `m` is carried so memory-budget gates can price the adjacency
    * (~4·m ints/node) without collecting a shard first. */
  final class Hnsw(val shards: RDD[Shard], val dim: Int,
                   val metric: KnnSearch.Metric, val m: Int = 16) extends Serializable {

    /** Fused batch search: one job, driver merges partitions×|Q| bounded
      * arrays (the [[ServingIndex]] merge shape). */
    def search(queries: Array[(Long, Array[Float])], k: Int,
               efSearch: Int = 64): Array[(Long, Array[(Float, Long)])] = {
      val sc = shards.sparkContext
      val bc = sc.broadcast(queries.map(_._2))
      val met = metric
      val desc = metric.descending
      try {
        val perPartition: Array[Array[Array[(Float, Long)]]] =
          sc.runJob(shards, (it: Iterator[Shard]) => {
            val qs = bc.value
            val acc = Array.fill(qs.length)(Array.empty[(Float, Long)])
            it.foreach { shard =>
              var qi = 0
              while (qi < qs.length) {
                val local = shard.search(met, qs(qi), k, efSearch)
                acc(qi) = KnnSearch.mergeTopKF32(desc, k)(acc(qi), local)
                qi += 1
              }
            }
            acc
          })
        queries.indices.map { qi =>
          var merged: Array[(Float, Long)] = Array.empty
          var p = 0
          while (p < perPartition.length) {
            merged = KnnSearch.mergeTopKF32(desc, k)(merged, perPartition(p)(qi))
            p += 1
          }
          (queries(qi)._1, merged)
        }.toArray
      } finally bc.destroy()
    }
  }

  /**
   * Build a sharded HNSW index over an (id, vector) RDD. Defaults follow
   * the reference's pgvector config (m=16, ef_construction=64). Each
   * partition's graph seeds its RNG with `seed + partitionId` so the build
   * is deterministic for a fixed partitioning.
   */
  def build(vectors: RDD[(Long, Array[Float])], dim: Int, m: Int = 16,
            efConstruction: Int = 64,
            metric: KnnSearch.Metric = KnnSearch.L2,
            seed: Long = 42L,
            numShards: Int = -1): Hnsw = {
    val d = dim
    // graph search is sub-linear, so per-shard query cost is tiny: fewer
    // shards cut the per-task scheduling floor without hurting latency
    // (and larger graphs amortize better); default keeps the partitioning
    val src =
      if (numShards > 0 && numShards < vectors.getNumPartitions)
        vectors.coalesce(numShards)
      else vectors
    val shards = src.mapPartitionsWithIndex({ (pi, it) =>
      Iterator.single(buildShard(it, d, m, efConstruction, metric, seed + pi))
    }, preservesPartitioning = true).cache()
    shards.count()
    new Hnsw(shards, dim, metric, m)
  }
}
