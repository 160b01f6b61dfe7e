package graft.operators

import scala.collection.mutable

/** Test-only oracle: the boxed HNSW builder as it stood before the build
  * moved onto the shared primitive layer walk, kept verbatim (its
  * `Function2` distance kernel included) so `HnswIndexSpec` can assert
  * that [[HnswIndex.buildShard]] reproduces its graph exactly on
  * tie-free input: the same adjacency lists in the same order, the same
  * entry point and the same top level. Not called by any main path. */
object HnswReference {

  private def distKernel(metric: KnnSearch.Metric, data: Array[Float],
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

  /** Build one shard from an iterator (runs inside mapPartitions). */
  def buildShard(it: Iterator[(Long, Array[Float])], dim: Int,
                 m: Int, efConstruction: Int,
                 metric: KnnSearch.Metric, seed: Long): HnswIndex.Shard = {
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
    new HnswIndex.Shard(ids, data, dim, frozen, entry, top)
  }
}
