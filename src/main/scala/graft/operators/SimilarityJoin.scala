package graft.operators

import graft.functions.VectorFunctions._
import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.reflect.ClassTag

/**
 * All-pairs similarity (SURVEY §2.3 J2 — the self-similarity matrix of
 * day_2/noramalization.py:121-205 and day_5 pair ranking, re-expressed as
 * pair ROWS, never a materialized n×n matrix).
 *
 * Scale design, three tiers:
 *  - [[allPairs]] / [[topPairsJoin]]: the exact theta self-join — O(n²)
 *    MATERIALIZED pair rows through the shuffle, broadcast-size inputs only.
 *  - [[topPairs]] / [[groupedTopPairs]]: exact blocked bounded-heap scan.
 *    Same answer, but the shuffle carries O(n·√tasks) replicated vectors
 *    instead of O(n²) pair rows, every task emits ≤ k rows, and a hot
 *    group fans out over block-pair tasks instead of landing on one
 *    reducer. This is the default (the compute is intrinsically O(n²)
 *    dot products for an exact answer; what must NOT be O(n²) at scale
 *    is shuffle volume, task skew, and driver/result size).
 *  - [[lshCosinePairs]]: approximate candidate generation for
 *    threshold-style near-neighbor pairs — deterministic random-hyperplane
 *    signatures bucket the join so the pair space is per-bucket, then
 *    candidates are verified with exact cosine. Bucket key is the shuffle
 *    key: co-partitioned equi-join, no cross product. The 100× path when
 *    even O(n²) compute is off the table and bounded recall is acceptable.
 */
object SimilarityJoin {

  /** The grouped exchange under EVERY block-grid scan (cosine, jaccard,
    * semantic, and their delta forms): group grid rows by cell key, hand
    * each cell's rows to a scan kernel. Sort-based:
    * `repartitionAndSortWithinPartitions` + streamed sorted runs, so the
    * shuffle READ side never builds a per-key map of spillable
    * CompactBuffers — rows arrive sorted and each cell materializes
    * exactly once, in the scan's own buffer. Measured at ×100 (200k×384
    * uncached cosine pair build, same-JVM trimmed-mean-of-5, BENCH.md
    * "Round 11"): 6.2–7.4 s vs a `groupByKey` exchange's 11.9–18.2 s —
    * the grouped-exchange buffering that round 10 attributed as the
    * pair-build floor WAS the floor. (DedupSpec keeps the `groupByKey`
    * form as the pair-identity reference.)
    *
    * The scan callback may consume its iterator lazily — each run is
    * materialized (one cell at a time, the same buffer the kernels
    * build anyway) before the callback runs. Cell keys are small tuples;
    * vector payloads ride the values, so sorting cost is key-width, not
    * payload-width. */
  private[graft] def scanCells[K: ClassTag: Ordering, V: ClassTag, R: ClassTag](
      grid: RDD[(K, V)], partitions: Int)(
      scan: (K, Iterator[V]) => Iterator[R]): RDD[R] =
    grid.repartitionAndSortWithinPartitions(new HashPartitioner(partitions))
      .mapPartitions { it0 =>
        val it = it0.buffered
        new Iterator[R] {
          private var cur: Iterator[R] = Iterator.empty
          private def advance(): Unit =
            while (!cur.hasNext && it.hasNext) {
              val key = it.head._1
              val buf = collection.mutable.ArrayBuffer.empty[V]
              while (it.hasNext && it.head._1 == key) buf += it.next()._2
              cur = scan(key, buf.iterator)
            }
          def hasNext: Boolean = { advance(); cur.hasNext }
          def next(): R = { advance(); cur.next() }
        }
      }

  /** Exact upper-triangle pair similarities (i<j). Broadcast-size inputs only. */
  def allPairs(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val a = df.select(col(idCol).as("id_a"), col(vecCol).as("__va"))
    val b = df.select(col(idCol).as("id_b"), col(vecCol).as("__vb"))
    a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        cosineSimilarity(col("__va"), col("__vb")).as("sim"))
  }

  /** Global top-k pairs as a theta self-join (reference cross-check only —
    * materializes all n² pair rows; use [[topPairs]] instead). */
  def topPairsJoin(df: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame =
    allPairs(df, idCol, vecCol)
      .orderBy(col("sim").desc, col("id_a"), col("id_b"))
      .limit(k)

  /**
   * Global top-k most similar pairs (day_5's top-5 pair ranking, W2) —
   * EXACT, via the blocked bounded-heap scan (see [[groupedTopPairs]] for
   * the mechanics; this is the single-group case). Bit-identical to
   * [[topPairsJoin]] including tie order (sim desc, id_a, id_b).
   */
  def topPairs(df: DataFrame, idCol: String, vecCol: String, k: Int,
               blockRows: Int = -1): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    blockedTopPairs(df, None, idCol, vecCol, k, blockRows)
      .flatMap { case (_, arr) => arr.iterator.map(p => (p.idA, p.idB, p.sim)) }
      .toDF("id_a", "id_b", "sim")
      .orderBy(col("sim").desc, col("id_a"), col("id_b"))
  }

  /**
   * Per-group top-k most similar pairs (W1×J2 — group-scoped pair
   * ranking), EXACT and skew-safe. Output columns: (groupCol, rn, id_a,
   * id_b, sim), rn = 1-based rank under (sim desc, id_a, id_b) — the same
   * total order as `row_number()` over the theta-join form.
   *
   * Plan shape: per-group counts size a block grid (a group with m rows
   * splits into nb = ⌈m/blockRows⌉ id-hashed blocks); each row is
   * replicated to the nb block-pair tasks that need it; every task scans
   * its ≤ blockRows² pair space with a bounded k-heap and emits ≤ k pairs;
   * a per-group reduce merges the heaps. So a HOT group becomes nb(nb+1)/2
   * independent tasks instead of one O(m²) reducer, shuffle volume is
   * Σ m·nb (not Σ m²), and no stage materializes pair rows.
   *
   * Inside a task the scan carries a Cauchy–Schwarz prune: with per-vector
   * head/tail norms, sim(a,b) ≤ (headDot + ‖a_tail‖‖b_tail‖)/(‖a‖‖b‖), so
   * once the heap holds k pairs a candidate whose bound (plus a 1e-9 FP
   * margin — skips are provably safe) is below the heap floor skips the
   * tail dims. On energy-concentrated embeddings (PCA'd / Matryoshka) this
   * cuts most of the work; on isotropic vectors the bound rarely fires and
   * honestly degrades to the plain scan (one extra multiply per pair).
   *
   * Driver state is O(#groups) (the per-group counts — same order as the
   * result itself). Vector arithmetic replicates the Catalyst
   * [[graft.functions.CosineSimilarity]] expression bit-for-bit
   * (sequential double accumulation over widened floats, zero-norm → 0.0),
   * so results hash-match the DuckDB oracle.
   */
  def groupedTopPairs(df: DataFrame, groupCol: String, idCol: String,
                      vecCol: String, k: Int, blockRows: Int = -1): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val ranked = blockedTopPairs(df, Some(groupCol), idCol, vecCol, k, blockRows)
      .flatMap { case (g, arr) =>
        arr.iterator.zipWithIndex.map { case (p, i) => (g, i + 1, p.idA, p.idB, p.sim) }
      }
      .toDF("__g", "rn", "id_a", "id_b", "sim")
    // restore the group column's ORIGINAL type via its encoded form
    // (null-group-safe) — the join is over the (≤ #groups × k)-row
    // result, broadcast by size
    val groups = df.select(col(groupCol)).distinct()
      .withColumn("__g", encGroup(col(groupCol)))
    ranked.join(broadcast(groups), Seq("__g"))
      .select(col(groupCol), col("rn"), col("id_a"), col("id_b"), col("sim"))
  }

  /**
   * All pairs with cosine ≥ threshold — EXACT, same answer as filtering
   * [[allPairs]], but via the blocked scan: the shuffle carries
   * O(n·√tasks) replicated vectors instead of n² materialized pair rows,
   * and only SURVIVORS leave a task. Unlike the top-k form the prune
   * floor is static (the threshold itself), so the Cauchy–Schwarz
   * head/tail bound prunes from the first pair. Output: (id_a, id_b,
   * sim), id_a < id_b, unordered (callers sort).
   */
  def thresholdPairs(df: DataFrame, idCol: String, vecCol: String,
                     threshold: Double, blockRows: Int = -1): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    scanCells(replicateToBlocks(df, None, idCol, vecCol, blockRows),
        math.max(1, spark.sparkContext.defaultParallelism)) { case ((_, ba, bb), it) =>
        val aBuf = collection.mutable.ArrayBuffer.empty[(Long, Array[Float])]
        val bBuf = collection.mutable.ArrayBuffer.empty[(Long, Array[Float])]
        it.foreach { case (b, id, v) =>
          if (b == ba) aBuf += ((id, v))
          else if (b == bb) bBuf += ((id, v))
        }
        scanBlockPairThreshold(aBuf.toArray, if (ba == bb) null else bBuf.toArray, threshold)
      }
      .toDF("id_a", "id_b", "sim")
  }

  /**
   * Per-group [[thresholdPairs]]: all WITHIN-group pairs with cosine ≥
   * threshold, through the same skew-safe block grid (a hot group fans
   * out over block-pair tasks; shuffle is O(Σ m·nb) replicated vectors,
   * and only survivors leave a task). Output: (groupCol, id_a, id_b,
   * sim), id_a < id_b, unordered. This is the candidate stage of
   * cluster-partitioned semantic dedup ([[Dedup.semanticDedup]]) —
   * total pair work is Σ cᵢ² over cluster sizes instead of n².
   */
  /** `hotGroupPairCap` (round 18, verdict ask #2): the BATCH twin of
    * [[groupedThresholdPairsDelta]]'s cap — a group whose m² pair space
    * exceeds the cap routes through [[batchGrid]]'s representative
    * covering edges (one edge per member, to its min-id verified
    * block-0 representative) instead of the full within-group pair
    * list; KEEP/DROP verdict under Components closure is preserved on
    * fully-dense groups, finer on partially-dense ones (see
    * [[batchGrid]]). Default MaxValue = unbounded — this is a PAIR-LIST
    * primitive whose product the cap would change, so the safe default
    * lives on the KEEP/DROP transforms that consume it
    * ([[Dedup.semanticDedupMarks]]), not here. */
  def groupedThresholdPairs(df: DataFrame, groupCol: String, idCol: String,
                            vecCol: String, threshold: Double,
                            blockRows: Int = -1,
                            hotGroupPairCap: Long = Long.MaxValue): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val cap = resolveHotPairCap(spark, hotGroupPairCap)
    val pairs = (if (cap == Long.MaxValue)
      scanCells(
        replicateToBlocks(df, Some(groupCol), idCol, vecCol, blockRows),
        math.max(1, spark.sparkContext.defaultParallelism)) { case ((g, ba, bb), it) =>
        val aBuf = collection.mutable.ArrayBuffer.empty[(Long, Array[Float])]
        val bBuf = collection.mutable.ArrayBuffer.empty[(Long, Array[Float])]
        it.foreach { case (b, id, v) =>
          if (b == ba) aBuf += ((id, v))
          else if (b == bb) bBuf += ((id, v))
        }
        scanBlockPairThreshold(aBuf.toArray, if (ba == bb) null else bBuf.toArray, threshold)
          .map { case (ia, ib, sim) => (g, ia, ib, sim) }
      }
    else {
      // capped: same replication-stage shape (per-group counts → grid),
      // routed through the unified kernel; hot groups emit covering
      // edges only. scanBlockPairThresholdDelta over all-true flags is
      // the flagged form of scanBlockPairThreshold (identical kernel,
      // no skips), so cold cells stay bit-identical.
      val rows = (df.select(encGroup(col(groupCol)),
          col(idCol).cast("long"), col(vecCol).cast("array<float>")))
        .as[(String, Long, Array[Float])]
        .filter(_._3 != null)
      val parallelism = math.max(1, spark.sparkContext.defaultParallelism)
      val targetNb = math.max(1, math.ceil(math.sqrt(8.0 * parallelism)).toInt)
      val (gridRows, anyHot, nHot) = groupGridRows[(Long, Array[Float])](
        rows.rdd.map(r => (r._1, (r._2, r._3))), _ => false,
        batchSemantics = true, blockRows, targetNb, cap,
        maxDriverGroupCounts(spark))
      if (anyHot)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"groupedThresholdPairs: $nHot hot group(s) " +
            s"(pair work > $cap) emit representative covering edges only " +
            "— KEEP/DROP verdict preserved on dense groups; components " +
            "can come out finer on partially-dense ones")
      val scanned0 = routedPairScan[String, String, Array[Float]](
          batchGrid(gridRows), parallelism, anyHot, identity,
          (a, b) => scanBlockPairThresholdDelta(a, b, threshold),
          (part, repl, _) =>
            scanCellCovering(repl, part, threshold, newNew = false))
      (if (anyHot) scanned0.distinct() else scanned0)
      // two rows can pick each other as covering mates — the distinct
      // folds the doubled canonical row; with no hot group no covering
      // rows exist and each pair already appears exactly once
    })
      .toDF("__g", "id_a", "id_b", "sim")
    // restore the group column's ORIGINAL type via its encoded form
    // (null-group-safe) — the broadcast side is the #groups-row
    // distinct table, not the pairs
    val groups = df.select(col(groupCol)).distinct()
      .withColumn("__g", encGroup(col(groupCol)))
    pairs.join(broadcast(groups), Seq("__g"))
      .select(col(groupCol), col("id_a"), col("id_b"), col("sim"))
  }

  /** Emit all qualifying pairs of one block pair (`bs == null` → within-block). */
  private def scanBlockPairThreshold(as: Array[(Long, Array[Float])],
                                     bs: Array[(Long, Array[Float])],
                                     threshold: Double): Iterator[(Long, Long, Double)] = {
    val sampleDim = if (as.nonEmpty) as(0)._2.length else 0
    val head = math.max(1, math.min(32, sampleDim / 4))
    val A = new Block(as, head)
    val B = if (bs == null) A else new Block(bs, head)
    val uniform = A.uniformDim >= 0 && B.uniformDim == A.uniformDim && A.n > 0 && B.n > 0
    val d = if (uniform) A.vecs(0).length else 0
    val out = collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    def emit(sim: Double, ia: Long, ib: Long): Unit =
      if (sim >= threshold) out += (if (ia < ib) (ia, ib, sim) else (ib, ia, sim))
    var i = 0
    while (i < A.n) {
      val va = A.vecs(i); val na = A.norms(i); val ta = A.tails(i)
      var j = if (B eq A) i + 1 else 0
      while (j < B.n) {
        val vb = B.vecs(j)
        if (uniform) {
          val nb = B.norms(j)
          if (na == 0.0 || nb == 0.0) emit(0.0, A.ids(i), B.ids(j))
          else {
            var dot = 0.0
            var x = 0
            while (x < head) { dot += va(x) * vb(x); x += 1 }
            val denom = na * nb
            if ((dot + ta * B.tails(j)) / denom + 1e-9 >= threshold) {
              while (x < d) { dot += va(x) * vb(x); x += 1 }
              emit(dot / denom, A.ids(i), B.ids(j))
            }
          }
        } else {
          val n = math.min(va.length, vb.length)
          var dot = 0.0; var nx = 0.0; var ny = 0.0
          var x = 0
          while (x < n) {
            val xa = va(x); val yb = vb(x)
            dot += xa * yb; nx += xa * xa; ny += yb * yb
            x += 1
          }
          val sim = if (nx == 0.0 || ny == 0.0) 0.0 else dot / (math.sqrt(nx) * math.sqrt(ny))
          emit(sim, A.ids(i), B.ids(j))
        }
        j += 1
      }
      i += 1
    }
    out.iterator
  }

  /** One ranked pair; fields ordered for the (sim desc, idA, idB) total order. */
  private final case class RankedPair(sim: Double, idA: Long, idB: Long)

  /** a strictly better than b under (sim desc, id_a asc, id_b asc). */
  private def betterPair(a: RankedPair, b: RankedPair): Boolean =
    a.sim > b.sim || (a.sim == b.sim &&
      (a.idA < b.idA || (a.idA == b.idA && a.idB < b.idB)))

  /**
   * Core of [[topPairs]]/[[groupedTopPairs]]: RDD of
   * (group-string, best-first top-k array). `blockRows = -1` auto-sizes the
   * grid to ~8× the session parallelism in block-pair tasks (min block
   * 1024 rows so small groups stay single-task).
   */
  /** Shared replication stage: per-group counts size the block grid and
    * each row ships to its nb block-pair task keys. Driver state is the
    * per-group count map, O(#groups). */
  /** Null-safe, collision-free string form of a group value for grid
    * keys: null → "n", value v → "s" + v. Grid cell keys must never be
    * null — the sort-based [[scanCells]] path orders key tuples and
    * `Ordering.String` NPEs on null — and a bare string cast also made
    * the equi-join restore silently drop null-group pairs. The prefix
    * keeps every encoded value distinct from every other. */
  private def encGroup(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(c.isNull, lit("n")).otherwise(concat(lit("s"), c.cast("string")))

  /** Driver-side bound on the grouped routes' (group → count) maps
    * (r20 — the r18 verdict's item 5): the maps are O(#groups) driver
    * heap, collected unconditionally before this round; at 10⁸ groups
    * that is a driver OOM. Default 4M entries (a few hundred MB with
    * map overhead); `spark.graft.maxDriverGroupCounts` overrides. */
  private[graft] def maxDriverGroupCounts(
      spark: org.apache.spark.sql.SparkSession): Int =
    spark.conf.getOption("spark.graft.maxDriverGroupCounts")
      .flatMap(v => scala.util.Try(v.trim.toInt).toOption).filter(_ > 0)
      .getOrElse(4000000)

  /** Per-group (rows, new-rows) counts as a driver map, or None when
    * the group count exceeds `bound` — the caller then falls back to
    * the distributed count-join scheme (the banded routes' shape).
    * ONE job either way: a treeAggregate whose per-buffer map stops
    * growing and flags overflow the moment it would exceed the bound,
    * so nothing #groups-sized ships to the driver on the way to a
    * fallback decision. (This also replaces the former
    * reduceByKey+collect — a map-side hash aggregate with no shuffle.) */
  private[graft] def boundedGroupCounts[P](
      rows: RDD[(String, P)], newFlag: P => Boolean, bound: Int)
      : Option[Map[String, (Long, Long)]] = {
    final class Buf extends Serializable {
      var overflow = false
      val m = new java.util.HashMap[String, Array[Long]]()
      def add(g: String, n: Long, nNew: Long): Unit = if (!overflow) {
        val arr = m.get(g)
        if (arr != null) { arr(0) += n; arr(1) += nNew }
        else if (m.size >= bound) { overflow = true; m.clear() }
        else m.put(g, Array(n, nNew))
      }
      def merge(o: Buf): Buf = {
        if (o.overflow) { overflow = true; m.clear() }
        else {
          val it = o.m.entrySet().iterator()
          while (it.hasNext && !overflow) {
            val e = it.next()
            add(e.getKey, e.getValue()(0), e.getValue()(1))
          }
        }
        this
      }
    }
    val agg = rows.treeAggregate(new Buf)(
      (b, r) => { b.add(r._1, 1L, if (newFlag(r._2)) 1L else 0L); b },
      (x, y) => x.merge(y))
    if (agg.overflow) None
    else {
      val out = Map.newBuilder[String, (Long, Long)]
      agg.m.forEach((g, arr) => out += ((g, (arr(0), arr(1)))))
      Some(out.result())
    }
  }

  /** Block count per group for the grid (shared by every grouped
    * route): explicit `blockRows`, or the auto-sizing that targets
    * ~8×parallelism block-pair tasks with a 1024-row minimum block. */
  private def nbFor(m: Long, blockRows: Int, targetNb: Int): Int =
    math.max(1,
      if (blockRows > 0) ((m + blockRows - 1) / blockRows).toInt
      else math.min(targetNb.toLong, (m + 1023) / 1024).toInt)

  /** Attach per-group grid metadata `(nb, hot)` to grouped rows —
    * ((group, nb, hot), payload), plus (anyHot, hotGroupCount). Two
    * strategies behind one contract (r20):
    *
    *  - DRIVER MAP (#groups ≤ [[maxDriverGroupCounts]], the common
    *    case): one bounded treeAggregate job, metadata broadcast,
    *    rows mapped in place — no extra shuffle, the pre-r20 plan.
    *  - COUNT JOIN (beyond the bound): counts stay distributed
    *    (reduceByKey), one tiny job answers (anyHot, nHot), and the
    *    metadata attaches to the rows by join — the banded routes'
    *    scheme, paying one row shuffle by group instead of holding
    *    #groups entries on the driver.
    *
    * `batchSemantics` = hot trigger is m × m (one-shot scans);
    * otherwise m_new × m (delta scans). An infinite cap short-circuits
    * the hot machinery (hot = false everywhere) in both strategies. */
  private[graft] def groupGridRows[P: ClassTag](
      rows: RDD[(String, P)], newFlag: P => Boolean,
      batchSemantics: Boolean, blockRows: Int, targetNb: Int,
      cap: Long, bound: Int)
      : (RDD[((String, Int, Boolean), P)], Boolean, Long) = {
    val capFinite = cap != Long.MaxValue
    def hotOf(m: Long, mNew: Long): Boolean =
      capFinite && isHotBucket(m, if (batchSemantics) m else mNew, cap)
    boundedGroupCounts(rows, newFlag, bound) match {
      case Some(counts) =>
        val nbOf: Map[String, Int] =
          counts.map { case (g, (m, _)) => (g, nbFor(m, blockRows, targetNb)) }
        val hots: Map[String, Boolean] =
          counts.map { case (g, (m, mNew)) => (g, hotOf(m, mNew)) }
        val nHot = hots.valuesIterator.count(identity).toLong
        val sc = rows.sparkContext
        val bcNb = sc.broadcast(nbOf)
        val bcHot = sc.broadcast(hots)
        (rows.map { case (g, p) =>
          ((g, bcNb.value.getOrElse(g, 1), bcHot.value.getOrElse(g, false)), p)
        }, nHot > 0, nHot)
      case None =>
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"grouped scan: group count exceeds " +
            s"spark.graft.maxDriverGroupCounts ($bound) — grid metadata " +
            "attaches by count join instead of a driver map (one extra " +
            "row shuffle; set the conf higher if the driver has the heap)")
        // locals only in the executor-side closures below — a reference
        // to the enclosing object's defs (nbFor/isHotBucket) would drag
        // the non-serializable object into the task closure
        val (br, tnb, capL, cf, bs) =
          (blockRows, targetNb, cap, capFinite, batchSemantics)
        val nf = newFlag
        val meta = rows.mapValues(p => (1L, if (nf(p)) 1L else 0L))
          .reduceByKey((a, b) => (a._1 + b._1, a._2 + b._2))
          .mapValues { case (m, mNew) =>
            // same formulas as nbFor/isHotBucket, inlined (see above)
            val nb = math.max(1L,
              if (br > 0) (m + br - 1) / br
              else math.min(tnb.toLong, (m + 1023) / 1024)).toInt
            val mn = if (bs) m else mNew
            (nb, cf && mn > 0 && m > capL / math.max(1L, mn))
          }
        // plan-shape decision (does the scan need the min-mate reduce?)
        // needs a driver answer — one tiny job over the #groups-row
        // metadata, never over the rows. meta is NOT persisted: the join
        // below re-reads the reduceByKey shuffle output this job already
        // wrote (the map stage is skipped), so caching it would only
        // leave a #groups-sized block behind in the context
        val nHot =
          if (!capFinite) 0L
          else meta.aggregate(0L)(
            (n, kv) => n + (if (kv._2._2) 1L else 0L), _ + _)
        (rows.join(meta).map { case (g, (p, (nb, hot))) => ((g, nb, hot), p) },
          nHot > 0, nHot)
    }
  }

  private def replicateToBlocks(df: DataFrame, groupCol: Option[String],
                                idCol: String, vecCol: String, blockRows: Int)
      : org.apache.spark.rdd.RDD[((String, Int, Int), (Int, Long, Array[Float]))] = {
    val spark = df.sparkSession
    import spark.implicits._
    val keyed = groupCol match {
      case Some(g) => df.select(encGroup(col(g)), col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      case None => df.select(lit("").cast("string"), col(idCol).cast("long"), col(vecCol).cast("array<float>"))
    }
    // null vectors can never produce a scored pair (the Catalyst expression
    // is null-intolerant and DESC ordering puts null sims last)
    val rows = keyed.as[(String, Long, Array[Float])]
      .filter(_._3 != null)
    val parallelism = math.max(1, spark.sparkContext.defaultParallelism)
    // counts per group → block grid; driver state bounded by
    // maxDriverGroupCounts with a count-join fallback beyond it (r20)
    val targetNb = math.max(1, math.ceil(math.sqrt(8.0 * parallelism)).toInt)
    val (metaRows, _, _) = groupGridRows[(Long, Array[Float])](
      rows.rdd.map(r => (r._1, (r._2, r._3))), _ => false,
      batchSemantics = true, blockRows, targetNb, Long.MaxValue,
      maxDriverGroupCounts(spark))
    metaRows.flatMap { case ((g, nb, _), (id, v)) =>
      if (nb == 1) Iterator(((g, 0, 0), (0, id, v)))
      else {
        // deterministic block from the id, not the row order
        val b = (java.lang.Long.hashCode(id) & Int.MaxValue) % nb
        (0 until nb).iterator.map(x => ((g, math.min(b, x), math.max(b, x)), (b, id, v)))
      }
    }
  }

  private def blockedTopPairs(df: DataFrame, groupCol: Option[String],
                              idCol: String, vecCol: String, k: Int,
                              blockRows: Int): org.apache.spark.rdd.RDD[(String, Array[RankedPair])] = {
    val spark = df.sparkSession
    require(k > 0, "k must be positive")
    val parallelism = math.max(1, spark.sparkContext.defaultParallelism)
    scanCells(replicateToBlocks(df, groupCol, idCol, vecCol, blockRows),
        4 * parallelism) { case ((g, ba, bb), it) =>
        val aBuf = collection.mutable.ArrayBuffer.empty[(Long, Array[Float])]
        val bBuf = collection.mutable.ArrayBuffer.empty[(Long, Array[Float])]
        it.foreach { case (b, id, v) =>
          if (b == ba) aBuf += ((id, v))
          else if (b == bb) bBuf += ((id, v))
        }
        Iterator.single(
          (g, scanBlockPair(aBuf.toArray, if (ba == bb) null else bBuf.toArray, k)))
      }
      .reduceByKey(mergeRanked(k, _, _), parallelism)
  }

  /** Merge two best-first arrays keeping the k best (two-way merge). */
  private def mergeRanked(k: Int, x: Array[RankedPair], y: Array[RankedPair]): Array[RankedPair] = {
    val out = new Array[RankedPair](math.min(k, x.length + y.length))
    var i = 0; var j = 0; var o = 0
    while (o < out.length) {
      out(o) =
        if (j >= y.length || (i < x.length && betterPair(x(i), y(j)))) { i += 1; x(i - 1) }
        else { j += 1; y(j - 1) }
      o += 1
    }
    out
  }

  /** Pre-widened view of one block: ids, double vectors, full/tail norms. */
  /** Pre-widened view of one block: ids, double vectors, full/tail
    * norms. Vectors widen ONCE per block row (a fresh double array):
    * a round-10 A/B tried per-multiply widening from the raw floats to
    * save the allocation and measured the SCAN ~25% slower at ×100 —
    * the convert sits on the 138M-candidate head-dot path, while the
    * widened copies are short-lived TLAB allocations the collector
    * absorbs. Keep the copy. */
  private final class Block(rows: Array[(Long, Array[Float])], head: Int) {
    val n: Int = rows.length
    val ids: Array[Long] = rows.map(_._1)
    val vecs: Array[Array[Double]] = rows.map { r =>
      val v = r._2; val w = new Array[Double](v.length)
      var i = 0; while (i < v.length) { w(i) = v(i).toDouble; i += 1 }; w
    }
    // norms accumulate sequentially over the SAME index order as the
    // Catalyst foldPair (x*x additions are independent of the interleaved
    // accumulators, so the sums are bit-identical)
    val norms: Array[Double] = vecs.map { w =>
      var s = 0.0; var i = 0; while (i < w.length) { s += w(i) * w(i); i += 1 }
      math.sqrt(s)
    }
    val tails: Array[Double] = vecs.map { w =>
      var s = 0.0; var i = head; while (i < w.length) { s += w(i) * w(i); i += 1 }
      math.sqrt(s)
    }
    def uniformDim: Int =
      if (n == 0) 0
      else { val d = vecs(0).length; if (vecs.forall(_.length == d)) d else -1 }
  }

  /**
   * Bounded-heap scan of one block pair (`bs == null` → within-block i<j).
   * Exact cosine in the Catalyst expression's arithmetic; emits the task's
   * best-first top-k.
   */
  private def scanBlockPair(as: Array[(Long, Array[Float])],
                            bs: Array[(Long, Array[Float])], k: Int): Array[RankedPair] = {
    val sampleDim = if (as.nonEmpty) as(0)._2.length else 0
    val head = math.max(1, math.min(32, sampleDim / 4))
    val A = new Block(as, head)
    val B = if (bs == null) A else new Block(bs, head)
    // the prune needs one uniform dim so min-length truncation never bites;
    // ragged inputs take the per-pair fold identical to Catalyst foldPair
    val uniform = A.uniformDim >= 0 && B.uniformDim == A.uniformDim && A.n > 0 && B.n > 0

    // worst-kept at head so the floor is O(1); reverse of betterPair
    implicit val worstFirst: Ordering[RankedPair] = new Ordering[RankedPair] {
      def compare(a: RankedPair, b: RankedPair): Int =
        if (betterPair(a, b)) 1 else if (betterPair(b, a)) -1 else 0
    }
    val heap = collection.mutable.PriorityQueue.empty[RankedPair](worstFirst.reverse)

    def offer(sim: Double, ia: Long, ib: Long): Unit = {
      val p = if (ia < ib) RankedPair(sim, ia, ib) else RankedPair(sim, ib, ia)
      if (heap.size < k) heap.enqueue(p)
      else if (betterPair(p, heap.head)) { heap.dequeue(); heap.enqueue(p) }
    }

    val d = if (uniform) A.vecs(0).length else 0
    var i = 0
    while (i < A.n) {
      val va = A.vecs(i); val na = A.norms(i); val ta = A.tails(i)
      var j = if (B eq A) i + 1 else 0
      while (j < B.n) {
        val vb = B.vecs(j)
        if (uniform) {
          val nb = B.norms(j)
          if (na == 0.0 || nb == 0.0) offer(0.0, A.ids(i), B.ids(j))
          else {
            var dot = 0.0
            var x = 0
            while (x < head) { dot += va(x) * vb(x); x += 1 }
            val denom = na * nb
            val full = heap.size < k || {
              val bound = (dot + ta * B.tails(j)) / denom + 1e-9
              bound >= heap.head.sim
            }
            if (full) {
              while (x < d) { dot += va(x) * vb(x); x += 1 }
              offer(dot / denom, A.ids(i), B.ids(j))
            }
          }
        } else {
          // ragged fallback: exact replica of VectorPairExpression.foldPair
          val n = math.min(va.length, vb.length)
          var dot = 0.0; var nx = 0.0; var ny = 0.0
          var x = 0
          while (x < n) {
            val xa = va(x); val yb = vb(x)
            dot += xa * yb; nx += xa * xa; ny += yb * yb
            x += 1
          }
          val sim = if (nx == 0.0 || ny == 0.0) 0.0 else dot / (math.sqrt(nx) * math.sqrt(ny))
          offer(sim, A.ids(i), B.ids(j))
        }
        j += 1
      }
      i += 1
    }
    heap.dequeueAll.reverse.toArray
  }

  /**
   * Approximate near-neighbor pairs via random-hyperplane LSH: `numBits`
   * sign bits per band (seeded, deterministic), `bands` bands; vectors
   * sharing any band bucket become candidates, verified with exact cosine.
   *
   * Probability two vectors at angle θ share one band ≈
   * (1 − θ/π)^numBits, so bands×bits tune recall/cost. The hyperplanes are
   * generated from a fixed seed so results are reproducible run-to-run.
   */
  /** Deterministic hyperplane table for (dim, bits, bands, seed) — the
    * pure function both the batch LSH and the incremental cosine index
    * derive signatures from, so an index banded yesterday and a delta
    * banded today bucket identically. */
  private[operators] def hyperplanes(dim: Int, numBits: Int, bands: Int,
                                     seed: Long): Array[Array[Array[Double]]] = {
    val rng = new scala.util.Random(seed)
    Array.fill(bands, numBits)(Array.fill(dim)(rng.nextGaussian()))
  }

  /**
   * Per-task signature engine over one hyperplane table: the scalar
   * banding loop, plus a plane-parallel SIMD path
   * ([[graft.simd.PlaneProject]]) that is BIT-IDENTICAL to it — lanes
   * run across planes while dims stay sequential, so every lane
   * reproduces the scalar accumulation order and rounding exactly. One
   * instance per partition (the transposed layout is built once, not
   * per row); ragged vectors (length ≠ table dim) take the scalar
   * fallback row-wise. Construction via [[PlaneProjector.apply]] probes
   * availability AND bit-parity once per JVM.
   */
  private[operators] final class PlaneProjector(
      ps: Array[Array[Array[Double]]], useSimd: Boolean) {
    private val bands = ps.length
    private val bits = if (bands > 0) ps(0).length else 0
    private val dim = if (bits > 0) ps(0)(0).length else 0
    private val lanes = if (useSimd) graft.simd.PlaneProject.laneCount() else 0
    // [band][group][dim-major flat of `lanes` planes, zero-padded]
    private val groups: Array[Array[Array[Double]]] =
      if (lanes > 0) Array.tabulate(bands) { bi =>
        val ng = (bits + lanes - 1) / lanes
        Array.tabulate(ng) { g =>
          val flat = new Array[Double](dim * lanes)
          var i = 0
          while (i < dim) {
            var l = 0
            while (l < lanes) {
              val b = g * lanes + l
              if (b < bits) flat(i * lanes + l) = ps(bi)(b)(i)
              l += 1
            }
            i += 1
          }
          flat
        }
      } else null

    def signature(bi: Int, v: Array[Float]): Long =
      if (groups != null && v.length == dim) {
        val gs = groups(bi)
        var sig = 0L
        var g = 0
        while (g < gs.length) {
          val nb = math.min(lanes, bits - g * lanes)
          sig |= graft.simd.PlaneProject.signBits(gs(g), nb, v, dim) << (g * lanes)
          g += 1
        }
        sig
      } else scalarSignature(bi, v)

    /** The reference loop — sequential double accumulation per plane. */
    def scalarSignature(bi: Int, v: Array[Float]): Long = {
      val band = ps(bi)
      var sig = 0L
      var b = 0
      while (b < band.length) {
        val plane = band(b)
        var s = 0.0
        val n = math.min(plane.length, v.length)
        var i = 0
        while (i < n) { s += plane(i) * v(i); i += 1 }
        if (s > 0) sig |= (1L << b)
        b += 1
      }
      sig
    }
  }

  private[operators] object PlaneProjector {
    /** SIMD kernel loadable AND bit-identical on a probe fixture (odd
      * dims/bits exercise padding and the multi-group path). */
    val simdAvailable: Boolean =
      try {
        val rng = new scala.util.Random(7)
        val ps = Array.fill(3, 11)(Array.fill(33)(rng.nextGaussian()))
        val v = Array.fill(33)(rng.nextFloat() - 0.5f)
        val simd = new PlaneProjector(ps, useSimd = true)
        val scalar = new PlaneProjector(ps, useSimd = false)
        (0 until 3).forall(bi => simd.signature(bi, v) == scalar.signature(bi, v))
      } catch { case _: Throwable => false }

    /** SIMD when loadable + probe-verified, else the scalar loop (results
      * are identical either way by the bit-parity construction). */
    def apply(ps: Array[Array[Array[Double]]]): PlaneProjector =
      new PlaneProjector(ps, simdAvailable)
  }

  /** (bucket, id) signature keys of a vector frame under pinned widths —
    * the light-banding stage, shared by [[lshCosinePairs]] and the
    * incremental [[lshCosineDeltaPairs]]. */
  private[operators] def cosineBuckets(df: DataFrame, idCol: String, vecCol: String,
                                       numBits: Int, bands: Int, dim: Int,
                                       seed: Long): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(hyperplanes(dim, numBits, bands, seed))
    val nb = numBits
    df.select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val proj = PlaneProjector(bc.value)
        val n = bc.value.length
        it.flatMap { case (id, v) =>
          if (v == null) Iterator.empty
          else Iterator.tabulate(n) { bi =>
            ((bi.toLong << nb) | proj.signature(bi, v), id)
          }
        }
      }.toDF("bkt", "id")
  }

  /**
   * Near-duplicate cosine pairs INVOLVING a new batch, against stored
   * index frames (bucket keys + vectors) under the index's pinned
   * widths: (new, old) and (new, new) candidates collide in the shared
   * signature space and verify with exact cosine; (old, old) pairs are
   * never re-scanned. Buckets the delta does not touch drop before any
   * vector payload attaches. The incremental counterpart of
   * [[lshCosinePairs]] — see [[Dedup.cosineDeltaPairs]] for the routed
   * public form.
   */
  /**
   * `hotBucketPairCap` (round 17 — the dense-duplicate regime): a bucket
   * whose candidate pair work `m_new × m` exceeds the cap routes through
   * REPRESENTATIVE-EDGE emission instead of the full pair space — each
   * new row emits at most ONE covering edge, to its minimum-id verified
   * mate in the bucket (exact cosine ≥ threshold, the same widened-double
   * kernel). A boilerplate-heavy corpus (intra-cluster cosine above the
   * threshold — the σ1.0 forget-under-load regime of BENCH.md rounds
   * 16–17 that emitted ~20M pairs/batch and OOMed the grid shuffle)
   * then emits O(batch) edges
   * per batch while the KEEP/DROP verdict under
   * [[graft.operators.Components]] closure is unchanged on dense
   * clusters: edges stay a SUBSET of the true pair set (never
   * over-merge), every coverable new doc still receives a covering edge
   * (same covered set), and within a fully-dense bucket the min-id
   * stars close into the same component the full graph does
   * (CappedEmissionSpec gates all three). On PARTIALLY-dense hot buckets
   * components can come out finer (some dup pairs unreported) — the same
   * bounded-recall contract as the banding itself, logged at route time
   * by the callers. Grid cost per hot bucket drops from m×(m/blockRows)
   * replicated rows to m + m_new×(m/blockRows). Default [[AutoCap]]
   * (r18): SAFE — resolved from session config; Long.MaxValue is the
   * explicit unbounded opt-out (the pre-r17 path).
    *
    * EAGERNESS (r19 probe, documented r20): under a FINITE cap this
    * method runs the banding pass plus one tiny aggregate (the
    * hot-bucket probe) at DataFrame-CONSTRUCTION time — the probe's
    * answer decides the scan plan's shape, so construction blocks on
    * one driver job and upstream errors surface here rather than at
    * the first action. One probe per invocation; unbounded
    * (Long.MaxValue) callers stay fully lazy.
   */
  def lshCosineDeltaPairs(ixBuckets: DataFrame, ixVecs: DataFrame,
                          newDf: DataFrame, idCol: String, vecCol: String,
                          threshold: Double, numBits: Int, bands: Int,
                          dim: Int, seed: Long,
                          hotBucketPairCap: Long = AutoCap): DataFrame = {
    val spark = newDf.sparkSession
    import spark.implicits._
    val parallelism = math.max(1, spark.sparkContext.defaultParallelism)
    val blockRows = 2048
    val cap = resolveHotPairCap(spark, hotBucketPairCap)
    val capFinite = cap != Long.MaxValue
    val (counts, scanInput) = cosineDeltaScanParts(ixBuckets, ixVecs, newDf,
      idCol, vecCol, numBits, bands, dim, seed)
    // r19 (verdict ask #1): a finite cap no longer implies the reduce —
    // one tiny aggregate over the count join answers "is any bucket
    // actually hot?" and sizes the scan stage; cold runs (the common
    // sparse case under the r18 safe default) take the exact unbounded
    // plan shape. The probe job doubles as the lazy checkpoint's
    // materialization, so the banding pass still runs once.
    val (anyHot, cells) =
      if (capFinite) probeBandedGrid(counts, cap, blockRows, Some("m_new"))
      else (false, 0L)
    val partitions =
      if (capFinite) gridPartitions(cells, 4 * parallelism)
      else 4 * parallelism
    val input = scanInput
      .as[(Long, Long, Array[Float], Long, Long, Boolean)]
      .rdd
      .map { case (bkt, id, v, m, mNew, isNew) =>
        val nb = math.max(1L, (m + blockRows - 1) / blockRows).toInt
        ((bkt, nb, anyHot && isHotBucket(m, mNew, cap)), (id, v, isNew))
      }
    // one grid carries both routes (see routedPairScan); covering edges
    // take each new row's bucket-global min verified mate. A final
    // dropDuplicates folds cross-band pairs (unbounded) and the rare
    // pair found by both routes in different buckets (capped).
    routedPairScan[Long, Int, Array[Float]](
        deltaGrid(input), partitions, anyHot, _ => 0,
        (a, b) => scanBlockPairThresholdDelta(a, b, threshold),
        (part, repl, firstCell) =>
          scanCellCovering(part, repl, threshold, newNew = firstCell))
      .map { case (_, ia, ib, sim) => (ia, ib, sim) }
      .toDF("id_a", "id_b", "sim")
      .dropDuplicates("id_a", "id_b")
  }

  /** The DECLARATIVE prefix of [[lshCosineDeltaPairs]] — everything up
    * to the block-grid scan, exposed (package-private) so
    * PlanInvariantsSpec can gate the optimized plan: delta-sided
    * banding (signature math runs over the delta only; index data
    * enters through the index frames), no cartesian pair space.
    * Columns: (bkt, id, v, m, m_new, is_new) — m_new feeds the
    * hot-bucket trigger of the capped route (r17). */
  private[graft] def cosineDeltaScanInput(ixBuckets: DataFrame,
                                          ixVecs: DataFrame,
                                          newDf: DataFrame, idCol: String,
                                          vecCol: String, numBits: Int,
                                          bands: Int, dim: Int,
                                          seed: Long): DataFrame =
    cosineDeltaScanParts(ixBuckets, ixVecs, newDf, idCol, vecCol,
      numBits, bands, dim, seed)._2

  /** [[cosineDeltaScanInput]] with its bucket count join also exposed —
    * (counts, input) share ONE lazily-checkpointed banding frame, so the
    * capped route's hot-bucket probe ([[probeBandedGrid]]) and the grid
    * scan read the same materialization instead of banding twice. */
  private[graft] def cosineDeltaScanParts(ixBuckets: DataFrame,
                                          ixVecs: DataFrame,
                                          newDf: DataFrame, idCol: String,
                                          vecCol: String, numBits: Int,
                                          bands: Int, dim: Int,
                                          seed: Long): (DataFrame, DataFrame) = {
    val newBuckets = cosineBuckets(newDf, idCol, vecCol, numBits, bands, dim, seed)
      .withColumn("is_new", lit(true))
    val all = newBuckets
      .unionByName(ixBuckets.select(col("bkt"), col("id"))
        .withColumn("is_new", lit(false)))
      .localCheckpoint(false)
    val counts = all.groupBy(col("bkt"))
      .agg(count(lit(1)).as("m"),
        sum(when(col("is_new"), 1L).otherwise(0L)).as("m_new"))
      .where(col("m") >= 2 && col("m_new") >= 1)
    val survivors = all.join(counts, "bkt")
    val survivorIds = survivors.select(col("id")).distinct()
    val vecs = newDf
      .select(col(idCol).cast("long").as("id"), col(vecCol).cast("array<float>").as("v"))
      .where(col("v").isNotNull)
      .unionByName(ixVecs.select(col("id"), col("v")))
      .join(survivorIds, "id")
    (counts,
      survivors.join(vecs, "id")
        .select(col("bkt"), col("id"), col("v"), col("m"), col("m_new"),
          col("is_new")))
  }

  /** Hot-bucket trigger of the capped routes: candidate pair work
    * `m_new × m` exceeds `cap` (overflow-safe division form). Batch
    * (one-shot) callers pass `mNew = m` — their candidate work is the
    * whole m² pair space. */
  private[operators] def isHotBucket(m: Long, mNew: Long, cap: Long): Boolean =
    mNew > 0 && m > cap / math.max(1L, mNew)

  /** Sentinel default for every `hotBucketPairCap`/`hotClusterPairCap`
    * parameter (round 18, verdict ask #1): resolve the cap from session
    * config at call time — `spark.graft.hotPairCap` when set, else
    * `defaultParallelism × 2048` (the grid's blockRows; 65,536 at
    * local[32] — the same magnitude as the 100,000 the executed r17
    * σ1.0 ×100 dense runs proved safe). The SAFE path is now the
    * unconfigured one: a production stream started with default
    * arguments survives the boilerplate regime that OOMed unbounded
    * (covering-edge emission, KEEP/DROP verdict preserved on dense
    * clusters — CappedEmissionSpec). `Long.MaxValue` is the explicit
    * unbounded opt-out, which exact-pair-list consumers (the oracle
    * battery's delta queries) pin deliberately: their PRODUCT is the
    * full pair list, so a cap would change it. */
  val AutoCap: Long = -1L

  private[graft] def resolveHotPairCap(
      spark: org.apache.spark.sql.SparkSession, requested: Long): Long =
    if (requested >= 0L) requested
    else spark.conf.getOption("spark.graft.hotPairCap")
      .flatMap(v => scala.util.Try(v.trim.toLong).toOption).filter(_ > 0L)
      .getOrElse(
        math.max(1, spark.sparkContext.defaultParallelism).toLong * 2048L)

  /** ONE tiny aggregate over a banded route's count join (round 19 —
    * the r18 verdict's top ask): (does any bucket actually exceed the
    * cap?, how many grid cells will the routed scan build?). The banded
    * routes' counts live in a count join, not on the driver (#occupied
    * buckets is corpus-sized), so under the r18 finite default they
    * conservatively assumed `anyHot = true` and paid the min-mate
    * reduce on EVERY run — the common sparse-corpus case pays a full
    * extra shuffle stage for a cap that never engaged. This probe is
    * one driver job over the (already lazily-checkpointed) banding
    * keys; with its answer a cold run takes the exact unbounded plan
    * shape (no reduce), and the scan stage is sized by the actual cell
    * count instead of a fixed 4×parallelism — a delta-sized fold stops
    * paying 128 near-empty tasks while big runs keep the full width.
    * `mNewCol = None` means batch semantics (candidate work = m²).
    * Matches [[isHotBucket]] bit for bit (same overflow-safe integer
    * division) and [[deltaGrid]]/[[batchGrid]]'s cell layout: a hot
    * bucket builds `nb` covering cells, a cold one `nb(nb+1)/2`
    * block-pair cells. Callers only probe under a FINITE cap — the
    * unbounded (oracle) path keeps its pre-r17 shape untouched. */
  private[graft] def probeBandedGrid(counts: DataFrame, cap: Long,
                                     blockRows: Int,
                                     mNewCol: Option[String]): (Boolean, Long) = {
    val nb = s"greatest(1L, (m + ${blockRows - 1}) DIV $blockRows)"
    val hot = mNewCol match {
      case Some(mn) => s"($mn > 0 AND m > ${cap}L DIV greatest($mn, 1L))"
      case None => s"(m > ${cap}L DIV greatest(m, 1L))"
    }
    val row = counts.selectExpr(
      s"max(CASE WHEN $hot THEN 1 ELSE 0 END) AS any_hot",
      s"sum(CASE WHEN $hot THEN $nb ELSE ($nb * ($nb + 1)) DIV 2 END) AS cells")
      .head()
    (!row.isNullAt(0) && row.getInt(0) == 1,
      if (row.isNullAt(1)) 0L else row.getLong(1))
  }

  /** Scan-stage width from a probed/driver-known grid cell count:
    * 2× oversubscription spreads hash collisions across tasks, clamped
    * to the route's full width (so scale keeps its parallelism and a
    * tiny delta stops scheduling empty tasks), FLOORED at the session
    * parallelism when any cell exists (r20, r19 ADVICE #3: a dense
    * corpus collapsing into a handful of buckets has few cells but up
    * to blockRows² pair work per cell — at 2×cells partitions two such
    * cells hash-collide onto one task with ~1/2 probability, exactly
    * in the regime the cap targets; empty tasks up to the parallelism
    * floor cost ~ms). Call sites pass maxPartitions = 4×parallelism. */
  private[graft] def gridPartitions(cells: Long, maxPartitions: Int): Int = {
    if (cells <= 0L) 1
    else {
      val floor = math.max(1L, maxPartitions.toLong / 4)
      val byCells =
        if (cells > Int.MaxValue / 2) Int.MaxValue.toLong else 2L * cells
      math.min(maxPartitions.toLong, math.max(floor, byCells)).toInt
    }
  }

  /** Cell marker distinguishing a COVERING cell (hot route) from a pair
    * cell in the unified grid key (its `bb` slot can never be a real
    * block index). */
  private[graft] val HotMark: Int = -1

  /**
   * THE routed grid scan (round 18, verdict ask #3) — the one
   * implementation of the hot/cold cell routing + directed covering
   * keys + min-mate reduce that r17 triplicated across
   * [[lshCosineDeltaPairs]], [[groupedThresholdPairsDelta]] and
   * [[Dedup.minhashDeltaPairs]]. Generic over the bucket key `K`
   * (Long signature buckets, String group keys), the verify payload
   * `V` (float vectors, sorted shingle-hash arrays) and the reduce
   * scope `S` (Unit-like global scope for the banded routes — a new
   * row's covering mate is the minimum across ALL its hot buckets —
   * vs the group key for the grouped route).
   *
   * Grid contract (built by [[deltaGrid]] / [[batchGrid]]): cells keyed
   * `(k, blk, bb)` with `bb == HotMark` are covering cells — their
   * payload Boolean marks REPLICATED rows (targets shipped to every
   * cell) vs PARTITIONED rows (one cell each); all other cells are
   * symmetric block-pair cells whose Boolean is the is-new flag the
   * pair kernel uses to skip old×old work. `scanCovering(part, repl,
   * firstCell)` decides emission direction itself: the delta routes
   * emit FROM the replicated new side against partitioned residents
   * (plus new×new in the first cell); the batch routes emit FROM the
   * partitioned rows against replicated representatives. Covering
   * output rows are DIRECTED (emitterId, candidateMateId, score); the
   * reduce per (scope, emitterId) keeps the minimum mate id —
   * deterministic under any partitioning — then canonicalizes. Pair
   * cells ride (a, b, false) keys through the same reduce, which
   * doubles as their cross-band dedup. `anyHot = false` (an unbounded
   * cap) skips the reduce entirely — the pre-r17 plan shape, kept so
   * the unbounded paths stay bit-and-stage-identical.
   */
  private[graft] def routedPairScan[K: ClassTag: Ordering, S: ClassTag, V: ClassTag](
      grid: RDD[((K, Int, Int), (Int, Long, V, Boolean))],
      partitions: Int,
      anyHot: Boolean,
      scopeOf: K => S,
      scanPair: (Array[(Long, V, Boolean)], Array[(Long, V, Boolean)]) => Iterator[(Long, Long, Double)],
      scanCovering: (Array[(Long, V)], Array[(Long, V)], Boolean) => Iterator[(Long, Long, Double)])
      : RDD[(S, Long, Long, Double)] = {
    val scanned = scanCells(grid, partitions) { case ((k, blk, bb), it) =>
      if (bb == HotMark) {
        val part = collection.mutable.ArrayBuffer.empty[(Long, V)]
        val repl = collection.mutable.ArrayBuffer.empty[(Long, V)]
        it.foreach { case (_, id, v, isRepl) =>
          if (isRepl) repl += ((id, v)) else part += ((id, v))
        }
        scanCovering(part.toArray, repl.toArray, blk == 0)
          .map { case (eid, mid, s) => ((scopeOf(k), eid, 0L, true), (mid, s)) }
      } else {
        val aBuf = collection.mutable.ArrayBuffer.empty[(Long, V, Boolean)]
        val bBuf = collection.mutable.ArrayBuffer.empty[(Long, V, Boolean)]
        it.foreach { case (b, id, v, isNew) =>
          if (b == blk) aBuf += ((id, v, isNew))
          else if (b == bb) bBuf += ((id, v, isNew))
        }
        scanPair(aBuf.toArray, if (blk == bb) null else bBuf.toArray)
          .map { case (ia, ib, s) => ((scopeOf(k), ia, ib, false), (Long.MinValue, s)) }
      }
    }
    // NOTE: splitting covering/cold into two branches here would scan
    // every cell TWICE (the branches re-pull the same un-cached shuffle)
    // — the single mixed reduce is the cheaper shape. Callers that can
    // PROVE no bucket is hot (the grouped routes hold their counts on
    // the driver) pass anyHot = false and skip the reduce entirely —
    // that is the zero-cost common case under the safe default.
    if (!anyHot)
      scanned.map { case ((s, ia, ib, _), (_, sim)) => (s, ia, ib, sim) }
    else scanned
      .reduceByKey((x, y) => if (x._1 <= y._1) x else y)
      .map { case ((s, ka, kb, covering), (mate, sim)) =>
        if (covering) { if (ka < mate) (s, ka, mate, sim) else (s, mate, ka, sim) }
        else (s, ka, kb, sim)
      }
  }

  /** DELTA grid routing for [[routedPairScan]]: cold buckets keep the
    * symmetric block-pair cells; hot buckets place each RESIDENT row in
    * one covering cell and replicate only the (small) NEW side to every
    * cell — nothing m²-shaped is ever shuffled. Input rows carry their
    * bucket's pre-computed `(nb, hot)` so the count source (a count
    * join for the banded routes, a driver map for the grouped one)
    * stays the caller's choice. */
  private[graft] def deltaGrid[K: ClassTag, V: ClassTag](
      rows: RDD[((K, Int, Boolean), (Long, V, Boolean))])
      : RDD[((K, Int, Int), (Int, Long, V, Boolean))] =
    rows.flatMap { case ((k, nb, hot), (id, v, isNew)) =>
      if (!hot) {
        if (nb == 1) Iterator(((k, 0, 0), (0, id, v, isNew)))
        else {
          val b = (java.lang.Long.hashCode(id) & Int.MaxValue) % nb
          (0 until nb).iterator.map(x =>
            ((k, math.min(b, x), math.max(b, x)), (b, id, v, isNew)))
        }
      } else if (isNew) {
        (0 until nb).iterator.map(x => ((k, x, HotMark), (x, id, v, true)))
      } else {
        val b = (java.lang.Long.hashCode(id) & Int.MaxValue) % nb
        Iterator(((k, b, HotMark), (b, id, v, false)))
      }
    }

  /** BATCH grid routing for [[routedPairScan]] (round 18, verdict ask
    * #2 — the one-shot KEEP/DROP transforms): in a batch scan every row
    * is "new", so the delta scheme's replicate-the-new-side would ship
    * the whole bucket to every cell. Instead a hot bucket replicates
    * only its REPRESENTATIVES — the rows of block 0, ≈ blockRows of
    * them under the same id-hash that sizes the grid — as covering
    * targets, while every row (representatives included) lands in ONE
    * cell as an emitter: per row, one covering edge to its minimum-id
    * verified representative. On a fully-dense bucket every row
    * verifies against the min-id representative, the covering stars
    * close into the single component the full pair graph closes into,
    * and the component min — the KEEP verdict — is unchanged (the
    * emitter set contains every node, so the true min id is always in
    * the component). Scope caveat (r19, ADVICE): the batch banded
    * routes reduce with GLOBAL scope, so a row belonging to SEVERAL
    * distinct dense hot buckets keeps only its single global-min
    * covering edge — the per-bucket star guarantee above holds when a
    * row's hot buckets share their min representative (the
    * single-cluster regime CappedEmissionSpec tests); across disjoint
    * dense buckets components can still come out finer (safe
    * direction: fewer drops, never a wrong one).
    * Partially-dense hot buckets can come out finer
    * (a row similar only to non-representatives gets no edge): fewer
    * DROPs, never a wrong one — the same bounded-recall contract as
    * the delta covering route, logged at route time by the callers.
    * Cost per hot bucket: m + blockRows×nb ≈ 2m shuffled rows and ≤
    * blockRows² pruned verifications per cell, vs m×nb rows and m²
    * pairs unbounded. */
  private[graft] def batchGrid[K: ClassTag, V: ClassTag](
      rows: RDD[((K, Int, Boolean), (Long, V))])
      : RDD[((K, Int, Int), (Int, Long, V, Boolean))] =
    rows.flatMap { case ((k, nb, hot), (id, v)) =>
      // block from the MIXED id (fmix64), not the raw id-hash the delta
      // grids use: representatives are "the block-0 rows", and a raw
      // id-derived block CORRELATES with structured ids — a cluster
      // whose ids are all ≡ c (mod L) can miss block 0 entirely (the
      // ×100 dense one-shot caught exactly this: clusters keyed id%100
      // under nb=5 left 4/5 of groups with ZERO covering targets).
      // Mixing makes the rep draw ~uniform per bucket whatever the id
      // structure; the delta grids don't need it (their emitters
      // replicate to every cell, so coverage never depends on the
      // block draw) and keep their raw form for grid continuity.
      val b = ((Dedup.fmix64(id) & Long.MaxValue) % nb).toInt
      if (!hot) {
        if (nb == 1) Iterator(((k, 0, 0), (0, id, v, true)))
        else (0 until nb).iterator.map(x =>
          ((k, math.min(b, x), math.max(b, x)), (b, id, v, true)))
      } else {
        val part = Iterator(((k, b, HotMark), (b, id, v, false)))
        if (b == 0) part ++ (0 until nb).iterator.map(x =>
          ((k, x, HotMark), (x, id, v, true)))
        else part
      }
    }

  /** Exact cosine of two float vectors in the block kernels' own
    * arithmetic (widened-double accumulation in index order, norms from
    * the same interleaving-independent sums), so a covering edge's sim is
    * bit-identical to the same pair's sim from the unbounded pair scan —
    * CappedEmissionSpec gates the subset property on exact row equality. */
  private def exactCosineF(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var x = 0
    while (x < n) {
      val xa = a(x).toDouble; val yb = b(x).toDouble
      dot += xa * yb; nx += xa * xa; ny += yb * yb
      x += 1
    }
    if (nx == 0.0 || ny == 0.0) 0.0
    else dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  /** One hot-bucket cell of the capped delta route: every NEW row in the
    * cell scans the cell's RESIDENT (old) rows and emits, per new row,
    * only its cell-local MINIMUM-id verified mate (exact cosine ≥
    * threshold) — the reduce across cells then yields the bucket-global
    * minimum, which is deterministic under any partitioning. `newNew`
    * additionally scans new rows among themselves (exactly one cell per
    * bucket sets it — new rows are replicated to every cell, so one pass
    * suffices and the reduce still sees the global minimum). Output rows
    * are DIRECTED (newId, candidateMateId, sim); the caller reduces per
    * newId and canonicalizes. */
  private def scanCellCovering(resident: Array[(Long, Array[Float])],
                               news: Array[(Long, Array[Float])],
                               threshold: Double,
                               newNew: Boolean): Iterator[(Long, Long, Double)] = {
    val out = collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    var i = 0
    while (i < news.length) {
      val nid = news(i)._1; val nv = news(i)._2
      var bestId = Long.MaxValue
      var bestSim = 0.0
      // only ids BELOW the current best can improve it, so the kernel
      // skips their cosine outright — the final best is still the
      // bucket-cell minimum verified id regardless of scan order
      var j = 0
      while (j < resident.length) {
        val rid = resident(j)._1
        if (rid != nid && rid < bestId) {
          val sim = exactCosineF(nv, resident(j)._2)
          if (sim >= threshold) { bestId = rid; bestSim = sim }
        }
        j += 1
      }
      if (newNew) {
        var k = 0
        while (k < news.length) {
          val oid = news(k)._1
          if (k != i && oid != nid && oid < bestId) {
            val sim = exactCosineF(nv, news(k)._2)
            if (sim >= threshold) { bestId = oid; bestSim = sim }
          }
          k += 1
        }
      }
      if (bestId != Long.MaxValue) out += ((nid, bestId, bestSim))
      i += 1
    }
    out.iterator
  }

  /**
   * EXACT delta threshold pairs: every pair with cosine ≥ `threshold`
   * and at least one endpoint in `newDf`, scanned against the index
   * vector frame `ixVecs` (columns (id, v)); old×old pairs are skipped
   * inside the kernel before any arithmetic. Output is bit-identical to
   * [[thresholdPairs]] over (ixVecs ∪ newDf) restricted to
   * delta-touching pairs: the union re-derives the SAME single-group
   * block grid (same count, same id-hashed block assignment, same
   * widened-double kernel and Cauchy–Schwarz prune), so every surviving
   * pair's sim matches the batch scan's bit for bit. The exact tier of
   * [[Dedup.cosineDeltaPairs]] — and what its sf-scale oracle replays.
   */
  def thresholdPairsDelta(ixVecs: DataFrame, newDf: DataFrame,
                          idCol: String, vecCol: String, threshold: Double,
                          blockRows: Int = -1): DataFrame = {
    val spark = newDf.sparkSession
    import spark.implicits._
    val rows = newDf
      .select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<float>").as("v"))
      .withColumn("is_new", lit(true))
      .unionByName(ixVecs.select(col("id"), col("v"))
        .withColumn("is_new", lit(false)))
      .as[(Long, Array[Float], Boolean)]
      .filter(_._2 != null)
    val parallelism = math.max(1, spark.sparkContext.defaultParallelism)
    // same grid sizing as replicateToBlocks' single-group case, over the
    // UNION count — blocks therefore partition the corpus exactly as the
    // batch scan's grid does
    val m = rows.rdd.count()
    val targetNb = math.max(1, math.ceil(math.sqrt(8.0 * parallelism)).toInt)
    val nb = math.max(1,
      if (blockRows > 0) ((m + blockRows - 1) / blockRows).toInt
      else math.min(targetNb.toLong, (m + 1023) / 1024).toInt)
    val grid = rows.rdd
      .flatMap { case (id, v, isNew) =>
        if (nb == 1) Iterator(((0, 0), (0, id, v, isNew)))
        else {
          val b = (java.lang.Long.hashCode(id) & Int.MaxValue) % nb
          (0 until nb).iterator.map(x =>
            ((math.min(b, x), math.max(b, x)), (b, id, v, isNew)))
        }
      }
    scanCells(grid, math.max(1, parallelism)) { case ((ba, bb), it) =>
        val aBuf = collection.mutable.ArrayBuffer.empty[(Long, Array[Float], Boolean)]
        val bBuf = collection.mutable.ArrayBuffer.empty[(Long, Array[Float], Boolean)]
        it.foreach { case (b, id, v, isNew) =>
          if (b == ba) aBuf += ((id, v, isNew))
          else if (b == bb) bBuf += ((id, v, isNew))
        }
        scanBlockPairThresholdDelta(aBuf.toArray, if (ba == bb) null else bBuf.toArray, threshold)
      }
      .toDF("id_a", "id_b", "sim")
  }

  /**
   * Per-group [[thresholdPairsDelta]]: every WITHIN-group pair with
   * cosine ≥ `threshold` and at least one endpoint in `newMembers`,
   * scanned against the archived member frame `ixMembers` (both frames
   * carry (groupCol, idCol, vecCol)); old×old pairs skip inside the
   * kernel. Same skew-safe per-group block grid as
   * [[groupedThresholdPairs]] over the UNION's counts, so output is
   * bit-identical to that batch scan restricted to delta-touching
   * pairs. The candidate stage of incremental semantic dedup
   * ([[Dedup.semanticDeltaPairs]]). Output: (groupCol, id_a, id_b,
   * sim), id_a < id_b, unordered.
   */
  /** The DECLARATIVE prefix of [[groupedThresholdPairsDelta]] — the
    * shaped (group, id, vec, is_new) union the block grid consumes,
    * exposed (package-private) so PlanInvariantsSpec can gate the plan
    * the optimizer actually produces for the grouped delta family
    * (q88/q89 through [[graft.operators.Dedup.semanticDeltaScanInput]]):
    * every corpus scan in this subtree must be delta-sided; index data
    * enters only through the index frames. Columns:
    * (__g, __id, __v, __new). */
  private[graft] def groupedDeltaScanInput(ixMembers: DataFrame,
                                           newMembers: DataFrame,
                                           groupCol: String, idCol: String,
                                           vecCol: String): DataFrame = {
    def shaped(df: DataFrame, isNew: Boolean) = df.select(
      encGroup(col(groupCol)).as("__g"),
      col(idCol).cast("long").as("__id"),
      col(vecCol).cast("array<float>").as("__v"),
      lit(isNew).as("__new"))
    shaped(newMembers, isNew = true)
      .unionByName(shaped(ixMembers, isNew = false))
  }

  /** `hotGroupPairCap`: the grouped twin of [[lshCosineDeltaPairs]]'s
    * `hotBucketPairCap` — a cluster whose candidate pair work
    * `m_new × m` exceeds the cap emits one covering edge per new member
    * (min-id verified mate within the cluster) instead of the full
    * within-cluster pair space; see that method's contract for the
    * verdict-preservation argument. Default [[AutoCap]] (r18): SAFE —
    * resolved from session config; Long.MaxValue is the explicit
    * unbounded opt-out (pre-r17 path). */
  def groupedThresholdPairsDelta(ixMembers: DataFrame, newMembers: DataFrame,
                                 groupCol: String, idCol: String,
                                 vecCol: String, threshold: Double,
                                 blockRows: Int = -1,
                                 hotGroupPairCap: Long = AutoCap): DataFrame = {
    val spark = newMembers.sparkSession
    import spark.implicits._
    val rows = groupedDeltaScanInput(ixMembers, newMembers, groupCol, idCol, vecCol)
      .as[(String, Long, Array[Float], Boolean)]
      .filter(_._3 != null)
    val parallelism = math.max(1, spark.sparkContext.defaultParallelism)
    val cap = resolveHotPairCap(spark, hotGroupPairCap)
    val capFinite = cap != Long.MaxValue
    // per-group (total, new) counts over the UNION → the same grid the
    // batch scan of (ix ∪ delta) derives; driver state bounded by
    // maxDriverGroupCounts with a count-join fallback beyond it (r20 —
    // the r18 verdict's item 5). When the counts ARE on the driver, a
    // finite cap with no actually-hot group skips the min-mate reduce
    // outright — under the r18 safe default that is the common (sparse)
    // case, and it keeps the unbounded plan shape instead of shuffling
    // every cold pair through the reduce (measured ~250 ms per
    // lifecycle fold at sf1); the fallback answers the same question
    // with one tiny job over the distributed count metadata.
    val targetNb = math.max(1, math.ceil(math.sqrt(8.0 * parallelism)).toInt)
    val (gridRows, anyHot, nHot) = groupGridRows[(Long, Array[Float], Boolean)](
      rows.rdd.map(r => (r._1, (r._2, r._3, r._4))), _._3,
      batchSemantics = false, blockRows, targetNb,
      if (capFinite) cap else Long.MaxValue, maxDriverGroupCounts(spark))
    // this route KNOWS how many groups went hot — so the documented
    // bounded-recall loss on partially-dense hot clusters gets a
    // precise runtime trace (r17 ADVICE: the grouped/semantic route
    // engaged the cap silently)
    if (anyHot)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"groupedThresholdPairsDelta: $nHot hot group(s) " +
          s"(candidate work > $cap) emit covering edges only — KEEP/DROP " +
          "verdict preserved on dense clusters; components can come out " +
          "finer on partially-dense ones")
    val scanned = routedPairScan[String, String, Array[Float]](
      deltaGrid(gridRows), math.max(1, parallelism), anyHot, identity,
      (a, b) => scanBlockPairThresholdDelta(a, b, threshold),
      (part, repl, firstCell) =>
        scanCellCovering(part, repl, threshold, newNew = firstCell))
    val pairs = (
        if (!anyHot) scanned
        else scanned
          // two new rows can pick each other as covering mates — after
          // canonicalization that is the same row twice (sims are
          // bit-identical), and the emit-once output contract must hold
          .distinct()
      )
      .toDF("__g", "id_a", "id_b", "sim")
    // restore the group column's ORIGINAL type via its encoded form —
    // the broadcast side is the #groups-row distinct table; encGroup
    // makes a null group (legal for direct callers — the grid treats
    // it as one more key) a real non-null key, so it both survives the
    // sort-based shuffle's key ordering and round-trips the join
    // (<=> kept for belt-and-braces with legacy callers)
    val groups = ixMembers.select(col(groupCol))
      .unionByName(newMembers.select(col(groupCol))).distinct()
      .withColumn("__g", encGroup(col(groupCol)))
    pairs.join(broadcast(groups), pairs("__g") <=> groups("__g"))
      .select(groups(groupCol), col("id_a"), col("id_b"), col("sim"))
  }

  /** [[scanBlockPairThreshold]] with a new-batch flag: old×old pairs are
    * skipped before any arithmetic (their mining happened at index
    * build). Same widened-double kernel and Cauchy–Schwarz head/tail
    * prune — a flagged pair's sim is bit-identical to the batch scan's. */
  private def scanBlockPairThresholdDelta(asF: Array[(Long, Array[Float], Boolean)],
                                          bsF: Array[(Long, Array[Float], Boolean)],
                                          threshold: Double): Iterator[(Long, Long, Double)] = {
    val as = asF.map(r => (r._1, r._2))
    val bs = if (bsF == null) null else bsF.map(r => (r._1, r._2))
    val aNew = asF.map(_._3)
    val bNew = if (bsF == null) aNew else bsF.map(_._3)
    val sampleDim = if (as.nonEmpty) as(0)._2.length else 0
    val head = math.max(1, math.min(32, sampleDim / 4))
    val A = new Block(as, head)
    val B = if (bs == null) A else new Block(bs, head)
    val uniform = A.uniformDim >= 0 && B.uniformDim == A.uniformDim && A.n > 0 && B.n > 0
    val d = if (uniform) A.vecs(0).length else 0
    val out = collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    def emit(sim: Double, ia: Long, ib: Long): Unit =
      if (sim >= threshold && ia != ib) // ia == ib only under a violated
        // disjointness contract (guard disabled): refuse the self-pair
        out += (if (ia < ib) (ia, ib, sim) else (ib, ia, sim))
    var i = 0
    while (i < A.n) {
      val va = A.vecs(i); val na = A.norms(i); val ta = A.tails(i)
      var j = if (B eq A) i + 1 else 0
      while (j < B.n) {
        if (aNew(i) || bNew(j)) {
          val vb = B.vecs(j)
          if (uniform) {
            val nb = B.norms(j)
            if (na == 0.0 || nb == 0.0) emit(0.0, A.ids(i), B.ids(j))
            else {
              var dot = 0.0
              var x = 0
              while (x < head) { dot += va(x) * vb(x); x += 1 }
              val denom = na * nb
              if ((dot + ta * B.tails(j)) / denom + 1e-9 >= threshold) {
                while (x < d) { dot += va(x) * vb(x); x += 1 }
                emit(dot / denom, A.ids(i), B.ids(j))
              }
            }
          } else {
            val n = math.min(va.length, vb.length)
            var dot = 0.0; var nx = 0.0; var ny = 0.0
            var x = 0
            while (x < n) {
              val xa = va(x); val yb = vb(x)
              dot += xa * yb; nx += xa * xa; ny += yb * yb
              x += 1
            }
            val sim = if (nx == 0.0 || ny == 0.0) 0.0 else dot / (math.sqrt(nx) * math.sqrt(ny))
            emit(sim, A.ids(i), B.ids(j))
          }
        }
        j += 1
      }
      i += 1
    }
    out.iterator
  }

  /** `hotBucketPairCap` (round 18, verdict ask #2): the batch-cosine
    * twin of [[Dedup.minhashLshPairs]]'s cap — hot signature buckets
    * route through [[batchGrid]]'s representative covering edges.
    * Default MaxValue (pair-list primitive — the q15 oracle contract);
    *
    * EAGERNESS (r19 probe, documented r20): under a FINITE cap this
    * method runs the banding pass plus one tiny aggregate (the
    * hot-bucket probe) at DataFrame-CONSTRUCTION time — the probe's
    * answer decides the scan plan's shape, so construction blocks on
    * one driver job and upstream errors surface here rather than at
    * the first action. One probe per invocation; unbounded
    * (Long.MaxValue) callers stay fully lazy.
    * the safe default lives on [[Dedup.embeddingDedup]]. */
  def lshCosinePairs(df: DataFrame, idCol: String, vecCol: String,
                     threshold: Double, numBits: Int = 8, bands: Int = 8,
                     dim: Int = -1, seed: Long = 42L,
                     hotBucketPairCap: Long = Long.MaxValue): DataFrame = {
    require(numBits >= 1 && numBits <= 56, s"numBits must be in [1,56], got $numBits")
    // infer the vector dimension from the data unless given: max(size) over
    // non-null vectors is deterministic under any row order (a limit(1)
    // sample would NPE on a null first row and vary with ragged dims)
    val d =
      if (dim > 0) dim
      else {
        val row = df.where(col(vecCol).isNotNull)
          .agg(max(size(col(vecCol)))).collect()(0)
        if (row.isNullAt(0)) { // no non-null vectors ⇒ no pairs
          return df.sparkSession.emptyDataFrame
            .withColumn("id_a", lit(0L)).withColumn("id_b", lit(0L))
            .withColumn("sim", lit(0.0)).limit(0)
        }
        row.getInt(0)
      }
    // bands × numBits hyperplanes, each a dense gaussian vector — the
    // SAME pure function the incremental cosine index derives its
    // signatures from (hyperplanes), so batch and index banding agree
    val spark = df.sparkSession
    val bc = spark.sparkContext.broadcast(hyperplanes(d, numBits, bands, seed))

    import spark.implicits._
    // Bucket rows CARRY their vector and verification is bucket-LOCAL.
    // The historical form materialized candidate PAIR rows and hydrated
    // both vectors with two joins — an exchange of ~4·dim bytes per
    // candidate, which on a clustered 200k-vector corpus at 18 bands
    // measured in the hundreds of GB (150 s wall). Here each vector
    // crosses the wire once per band (plus block replication for hot
    // buckets), per-pair work carries the Cauchy–Schwarz head/tail
    // prune, and only SURVIVORS leave a task; a pair colliding in k
    // bands is re-verified k−1 times and deduped at the end — bounded
    // by `bands` and far cheaper than shipping vectors per candidate.
    // Hot buckets (clustered data collapses whole clusters into one
    // sketch) fan out over a block-pair grid sized by a COUNT JOIN, not
    // a driver map — #occupied buckets is corpus-sized, so per-group
    // driver state is not an option here (unlike groupedTopPairs'
    // #labels-sized map).
    val bucketed = df.select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        // plane-parallel SIMD signatures, bit-identical to the scalar
        // loop (PlaneProjector keeps dims sequential per lane) — this
        // stage evaluates twice (count + replication sides), so kernel
        // speed counts double here
        val proj = PlaneProjector(bc.value)
        val nBands = bc.value.length
        val nb = numBits
        it.flatMap { case (id, v) =>
          if (v == null) Iterator.empty
          else Iterator.tabulate(nBands) { bi =>
            ((bi.toLong << nb) | proj.signature(bi, v), id, v)
          }
        }
      }
      .toDF("bkt", "id", "v")
    // NOTE: bucketed deliberately feeds only the REPLICATION side; the
    // count side re-derives signatures through the LIGHT banding pass
    // (cosineBuckets — 16 B/row keys). Signatures are a pure function,
    // so the keys agree (PlaneProjector parity); what this buys is that
    // the ~5 GB of (bkt, id, v) Tungsten rows at 200k×384×18 are
    // materialized ONCE instead of twice — the round-9 note priced the
    // re-derivation as "~2 s of dense math", but the measured cost of
    // the counts-side evaluation was the v-payload row encode, not the
    // math (round-10 A/B in BENCH.md). blockRows stays 2048: the probe
    // showed larger blocks only trade shuffle for worse task balance
    // (total candidate pairs are grid-invariant).
    val blockRows = 2048
    val parallelism = math.max(1, spark.sparkContext.defaultParallelism)
    val cap = resolveHotPairCap(spark, hotBucketPairCap)
    val capFinite = cap != Long.MaxValue
    val countsBase = cosineBuckets(df, idCol, vecCol, numBits, bands, d, seed)
      .groupBy(col("bkt")).agg(count(lit(1)).as("m"))
    // r19 (verdict ask #1): under a finite cap the counts are probed —
    // one tiny aggregate — so a run with no actually-hot bucket skips
    // the min-mate reduce (the exact unbounded plan shape) and the scan
    // stage is sized by the real cell count. The checkpoint makes the
    // probe pay the light banding pass ONCE and hands the join side the
    // materialized counts; the unbounded path is untouched.
    val counts = if (capFinite) countsBase.localCheckpoint(false) else countsBase
    val (anyHot, cells) =
      if (capFinite) probeBandedGrid(counts, cap, blockRows, None)
      else (false, 0L)
    val partitions =
      if (capFinite) gridPartitions(cells, 4 * parallelism)
      else 4 * parallelism
    if (anyHot)
      org.slf4j.LoggerFactory.getLogger(getClass).info(
        s"lshCosinePairs: hot buckets (pair work > $cap) emit " +
          "representative covering edges only (KEEP/DROP-preserving on " +
          "dense buckets; finer on partially-dense ones)")
    val gridRows = bucketed.join(counts, "bkt")
      .select(col("bkt"), col("id"), col("v"), col("m"))
      .as[(Long, Long, Array[Float], Long)]
      .rdd
      .map { case (bkt, id, v, m) =>
        val nb = math.max(1L, (m + blockRows - 1) / blockRows).toInt
        ((bkt, nb, anyHot && isHotBucket(m, m, cap)), (id, v))
      }
    // cold cells: scanBlockPairThresholdDelta over all-true flags IS
    // scanBlockPairThreshold (identical kernel, no skips)
    routedPairScan[Long, Int, Array[Float]](
        batchGrid(gridRows), partitions, anyHot, _ => 0,
        (a, b) => scanBlockPairThresholdDelta(a, b, threshold),
        (part, repl, _) =>
          scanCellCovering(repl, part, threshold, newNew = false))
      .map { case (_, ia, ib, sim) => (ia, ib, sim) }
      .toDF("id_a", "id_b", "sim")
      .dropDuplicates("id_a", "id_b")
  }
}
