package graft.operators

import org.apache.spark.rdd.RDD
import scala.collection.mutable

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

  /** Shared comparison-distance kernel over a packed slab, selected ONCE
    * per search/build so the metric dispatch is hoisted out of the hot
    * loop (the [[ServingIndex]] kernels hoist the same way). Smaller =
    * closer for every metric: IP/cosine are negated, L2 is the squared
    * distance — sqrt deferred to the reported score. Build and query use
    * THIS one kernel, so graph construction and scoring cannot diverge. */
  private[operators] def distKernel(metric: KnnSearch.Metric, data: Array[Float],
                                    dim: Int): (Array[Float], Int) => Float = {
    // serving tier → SimdSupport (Vector API when available, scalar
    // fallback otherwise); HNSW has no DuckDB-oracle path, so lane-order
    // rounding is free to differ from the scalar family. NOTE: kernel
    // selection is per-JVM — graph build (executors) and any driver-side
    // search (LocalServing.hnswFrom) must run under the SAME --add-modules
    // configuration, or near-tie graph walks can diverge between the two
    // tiers; configure driver and executors uniformly (local mode and any
    // uniformly-launched cluster satisfy this by construction)
    val ops = SimdSupport.ops
    metric match {
      case KnnSearch.L2 =>
        (q, node) => ops.l2sq(q, data, node * dim, dim)
      case KnnSearch.InnerProduct =>
        (q, node) => -ops.dot(q, data, node * dim, dim)
      case KnnSearch.Cosine =>
        (q, node) => -ops.cosine(q, data, node * dim, dim)
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

    /** Greedy single-entry descent at one level (ef=1). */
    private def greedy(dist: (Array[Float], Int) => Float, q: Array[Float],
                       start: Int, lev: Int): Int = {
      var cur = start
      var curD = dist(q, cur)
      var improved = true
      while (improved) {
        improved = false
        val nbs = neighbors(cur)(lev)
        var i = 0
        while (i < nbs.length) {
          val d = dist(q, nbs(i))
          if (d < curD) { curD = d; cur = nbs(i); improved = true }
          i += 1
        }
      }
      cur
    }

    /** ef-bounded best-first search at one level; returns (dist, node)
      * pairs, closest-first. Primitive array heaps — this is the
      * query-time hot loop and boxed `PriorityQueue[(Float, Int)]`
      * tuples dominated its cost (the comparisons and accept/terminate
      * conditions are unchanged, so the visited set and kept set are the
      * same as the boxed form's up to equal-distance tie order). The
      * BUILD-side twin keeps its boxed queues on purpose: its tie order
      * shapes the graph, and regressing that would shift every committed
      * recall number. */
    private def searchLayer(dist: (Array[Float], Int) => Float, q: Array[Float],
                            entry: Int, ef: Int, lev: Int): Array[(Float, Int)] = {
      val visited = new java.util.BitSet(size)
      // results: bounded MAX-heap, head = furthest kept (capacity ef+1:
      // push-then-evict)
      val rD = new Array[Float](ef + 1)
      val rN = new Array[Int](ef + 1)
      var rSize = 0
      def rPush(d: Float, node: Int): Unit = {
        var i = rSize; rD(i) = d; rN(i) = node; rSize += 1
        while (i > 0 && rD((i - 1) / 2) < rD(i)) {
          val p = (i - 1) / 2
          val td = rD(p); rD(p) = rD(i); rD(i) = td
          val tn = rN(p); rN(p) = rN(i); rN(i) = tn
          i = p
        }
      }
      def rPopMax(): Unit = {
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
      // candidates: growable MIN-heap, head = closest pending
      var cD = new Array[Float](math.max(32, math.min(size, 2 * ef)))
      var cN = new Array[Int](cD.length)
      var cSize = 0
      def cPush(d: Float, node: Int): Unit = {
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
      def cPopMin(): Unit = {
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
          val nbs = neighbors(c)(lev)
          var i = 0
          while (i < nbs.length) {
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
      val out = new Array[(Float, Int)](rSize)
      var oi = rSize - 1
      while (oi >= 0) {
        out(oi) = (rD(0), rN(0))
        rPopMax()
        oi -= 1
      }
      out
    }

    /** Local top-k, best-first, as (metric score, external id). */
    def search(metric: KnnSearch.Metric, q: Array[Float], k: Int,
               ef: Int): Array[(Float, Long)] = {
      if (size == 0) return Array.empty
      val dist = distKernel(metric, data, dim)
      var ep = entryPoint
      var lev = topLevel
      while (lev > 0) { ep = greedy(dist, q, ep, lev); lev -= 1 }
      val found = searchLayer(dist, q, ep, math.max(ef, k), 0)
      found.take(k).map { case (d, node) =>
        val score = metric match {
          case KnnSearch.L2 => math.sqrt(d.toDouble).toFloat
          case _ => -d
        }
        (score, ids(node))
      }
    }
  }

  /** Build one shard from an iterator (runs inside mapPartitions). */
  private[operators] def buildShard(it: Iterator[(Long, Array[Float])], dim: Int,
                                    m: Int, efConstruction: Int,
                                    metric: KnnSearch.Metric, seed: Long): Shard = {
    val items = it.filter { case (_, v) => v != null && v.length == dim }.toArray
    val n = items.length
    val data = new Array[Float](n * dim)
    var i = 0
    while (i < n) { System.arraycopy(items(i)._2, 0, data, i * dim, dim); i += 1 }
    val ids = items.map(_._1)

    // the SAME kernel the query path uses — see distKernel's scaladoc
    val dist: (Array[Float], Int) => Float = distKernel(metric, data, dim)

    val rng = new java.util.Random(seed)
    val mL = 1.0 / math.log(m.toDouble)
    def maxConn(lev: Int): Int = if (lev == 0) 2 * m else m

    // adjacency under construction: node -> level -> growable neighbor list
    val adj = new Array[Array[mutable.ArrayBuffer[Int]]](n)
    val levels = new Array[Int](n)
    var entry = -1
    var top = -1

    def searchLayerB(q: Array[Float], e: Int, ef: Int, lev: Int): mutable.PriorityQueue[(Float, Int)] = {
      val visited = new java.util.BitSet(n)
      val cand = mutable.PriorityQueue.empty[(Float, Int)](
        Ordering.by[(Float, Int), Float](_._1).reverse)
      val res = mutable.PriorityQueue.empty[(Float, Int)](
        Ordering.by[(Float, Int), Float](_._1))
      val d0 = dist(q, e)
      visited.set(e)
      cand.enqueue((d0, e)); res.enqueue((d0, e))
      while (cand.nonEmpty) {
        val (dc, c) = cand.dequeue()
        if (dc > res.head._1 && res.size >= ef) cand.clear()
        else {
          val nbs = adj(c)(lev)
          var j = 0
          while (j < nbs.length) {
            val nb = nbs(j)
            if (!visited.get(nb)) {
              visited.set(nb)
              val dn = dist(q, nb)
              if (res.size < ef || dn < res.head._1) {
                cand.enqueue((dn, nb)); res.enqueue((dn, nb))
                if (res.size > ef) res.dequeue()
              }
            }
            j += 1
          }
        }
      }
      res
    }

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
    // list onto one cluster face. `cands` must arrive closest-first
    // with distances TO THE BASE point.
    val hScratch = new Array[Float](dim)
    def selectNeighbors(cands: Seq[(Float, Int)], cap: Int): Seq[Int] = {
      if (cands.length <= cap) return cands.map(_._2)
      val r = new mutable.ArrayBuffer[Int](cap)
      val skipped = new mutable.ArrayBuffer[Int]()
      var i = 0
      while (i < cands.length && r.length < cap) {
        val dq = cands(i)._1
        val e = cands(i)._2
        System.arraycopy(data, e * dim, hScratch, 0, dim)
        var ok = true
        var j = 0
        while (ok && j < r.length) {
          if (dist(hScratch, r(j)) < dq) ok = false
          j += 1
        }
        if (ok) r += e else skipped += e
        i += 1
      }
      var si = 0
      while (r.length < cap && si < skipped.length) { r += skipped(si); si += 1 }
      r.toSeq
    }

    var node = 0
    while (node < n) {
      val q = items(node)._2
      val lvl = math.min((-math.log(math.max(rng.nextDouble(), 1e-12)) * mL).toInt, 32)
      levels(node) = lvl
      adj(node) = Array.fill(lvl + 1)(new mutable.ArrayBuffer[Int](maxConn(0)))
      if (entry < 0) { entry = node; top = lvl }
      else {
        var ep = entry
        var lev = top
        // greedy descent through levels above the node's level
        while (lev > lvl) {
          var improved = true
          var curD = dist(q, ep)
          while (improved) {
            improved = false
            val nbs = adj(ep)(lev)
            var j = 0
            while (j < nbs.length) {
              val d = dist(q, nbs(j))
              if (d < curD) { curD = d; ep = nbs(j); improved = true }
              j += 1
            }
          }
          lev -= 1
        }
        // connect at each level from min(lvl, top) down to 0
        lev = math.min(lvl, top)
        while (lev >= 0) {
          val found = searchLayerB(q, ep, efConstruction, lev)
          val closest = found.dequeueAll.reverse // closest-first
          ep = closest.head._2
          val conns = selectNeighbors(closest.toSeq, m)
          conns.foreach { c =>
            adj(node)(lev) += c
            adj(c)(lev) += node
            val cap = maxConn(lev)
            if (adj(c)(lev).length > cap) {
              // prune c's list by the same diversity rule, with
              // distances re-based on c
              val cv = new Array[Float](dim)
              System.arraycopy(data, c * dim, cv, 0, dim)
              val kept = selectNeighbors(
                adj(c)(lev).map(nb => (dist(cv, nb), nb)).sortBy(_._1).toSeq,
                cap)
              adj(c)(lev).clear()
              adj(c)(lev) ++= kept
            }
          }
          lev -= 1
        }
        if (lvl > top) { top = lvl; entry = node }
      }
      node += 1
    }

    val frozen: Array[Array[Array[Int]]] =
      adj.map(levelsArr => if (levelsArr == null) Array.empty[Array[Int]]
                           else levelsArr.map(_.toArray))
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
