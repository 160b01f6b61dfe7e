package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Distributed connected components over an undirected edge list — the
 * cluster-formation stage of the fuzzy-dedup pipeline (near-dup PAIRS from
 * MinHash-LSH / n-gram Jaccard / embedding-cosine become duplicate
 * CLUSTERS, each keeping one canonical representative).
 *
 * Algorithm: alternating large-star / small-star (Kiveris et al.,
 * "Connected Components in MapReduce and Beyond", SoCC 2014) — the
 * published shuffle-native formulation that converges in O(log² n)
 * rounds. Each round is two aggregate+equi-join passes over the edge
 * set; no step ever materializes a neighborhood list (`collect_list`
 * would put a hot node's whole degree into one row), so a skewed node
 * costs only its degree in shuffled ROWS, map-side combined for the
 * min and joined against a one-row-per-key min table.
 *
 * Scale (100 TB): edge-set size never grows — large-star emits exactly
 * one row per directed edge whose neighbor is larger, small-star one
 * row per edge plus one per center — and monotonically contracts toward
 * the n−1 star edges of the answer. State per round is two shuffles of
 * the current edge set; the driver holds only a (count, checksum) pair
 * per round for the convergence test. Lineage is truncated every round
 * with `localCheckpoint` (an iterative DataFrame loop otherwise
 * re-plans the whole history each action).
 *
 * Reference behavior: the reference's dedup surface stops at PAIR
 * emission — upper-triangle similarity pairs, ranked (ref:
 * day_5/day5_complete.py:128-137); it never closes pairs into
 * duplicate clusters. Transitive closure over near-dup pairs is the
 * standard completion used by large-scale curation pipelines.
 */
object Components {

  /**
   * Connected components of the undirected graph given by `edges`.
   * Returns one row per distinct node appearing in either endpoint
   * column: (node LONG, component LONG) where `component` is the
   * MINIMUM node id of that node's component (self-loop-only nodes are
   * their own singleton component). Endpoint columns must be castable
   * to LONG. Deterministic; output unordered (callers sort).
   *
   * Route selection: a dedup pair graph is usually ≪ corpus-sized, and
   * the star rounds cost ~3 scheduled jobs per round — a job-floor tax
   * that dominates on small graphs. Edge sets at or under
   * `localEdgeLimit` (after canonicalization) therefore collapse to a
   * driver union-find in one collect; larger sets run the distributed
   * star rounds. Driver footprint at the default 1M-edge limit: the
   * edge list collects into one primitive long array (16 MB payload;
   * the per-partition builders are transient), and the union-find maps
   * hold one BOXED entry per distinct node touched by a union or
   * lookup — worst case ~2M boxed Long pairs ≈ 100-150 MB transient
   * JVM heap, an order below the driver's budget but NOT free; size
   * `localEdgeLimit` accordingly, don't treat it as payload-only.
   * Both routes are exact and return identical output (ComponentsSpec
   * parity-tests the pair); `localEdgeLimit = 0` forces the
   * distributed path. Its O(log² n) rounds on adversarial shapes are
   * measured at 1M nodes in BENCH.md round 9 ("Components convergence,
   * adversarial 1M-node mix"); ComponentsSpec pins the same shapes.
   */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
                          maxIter: Int = 64,
                          localEdgeLimit: Long = 1L << 20): DataFrame = {
    val spark = edges.sparkSession
    // materialize the input ONCE: nodes and the canonical edge set both
    // derive from this checkpoint, so an expensive upstream pair plan
    // (LSH candidate generation + exact verification) is never
    // re-executed per derivation (measured 3× = +140 s at 900k pairs
    // over a 200k-vector corpus before this guard)
    val base = edges.select(col(srcCol).cast("long").as("s"),
        col(dstCol).cast("long").as("d"))
      .localCheckpoint()
    val nodes = base.select(col("s").as("node"))
      .union(base.select(col("d").as("node")))
      .distinct()

    // canonical directed edge set (u > v), self-loops dropped. Both star
    // passes preserve the invariant u > v (they emit (x, m) with m
    // strictly below x), so no re-canonicalization inside the loop.
    var e = base.select(
        greatest(col("s"), col("d")).as("u"),
        least(col("s"), col("d")).as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint()

    if (localEdgeLimit > 0 && e.count() <= localEdgeLimit) {
      import spark.implicits._
      // collect as ONE primitive long array (u,v interleaved): a
      // Tuple2 collect at 1M edges is ~50-100 MB of transient boxed
      // driver heap; this form is 16 bytes/edge flat
      val collected: Array[Long] = e.as[(Long, Long)].rdd
        .mapPartitions { it =>
          val buf = scala.collection.mutable.ArrayBuilder.make[Long]
          it.foreach { case (a, b) => buf += a; buf += b }
          Iterator(buf.result())
        }
        .collect().flatten
      val parent = new java.util.HashMap[Long, Long]()
      def find(x0: Long): Long = {
        var x = x0
        while (parent.getOrDefault(x, x) != x) {
          val p = parent.get(x)
          parent.put(x, parent.getOrDefault(p, p)) // path halving
          x = parent.getOrDefault(x, x)
        }
        x
      }
      var ei = 0
      while (ei < collected.length) {
        val ra = find(collected(ei)); val rb = find(collected(ei + 1))
        if (ra != rb) { if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb) }
        ei += 2
      }
      val mapped = collected.distinct.map(x => (x, find(x)))
      val comp = spark.createDataset(mapped.toSeq).toDF("node", "component")
      return nodes.join(comp, Seq("node"), "left")
        .select(col("node"), coalesce(col("component"), col("node")).as("component"))
    }

    // convergence probe: one aggregate — (row count, order-insensitive
    // XOR of xxhash64 over the distinct rows; XOR instead of sum so the
    // fold cannot overflow under ANSI arithmetic). Equal probes across a
    // round ⇒ identical edge set (up to a hash collision; the
    // alternation is also monotone, so a collision could only end the
    // loop one round early on a set of the same size — never diverge it).
    def probe(df: DataFrame): (Long, Long) = {
      val r = df.agg(
        count(lit(1)).as("n"),
        coalesce(bit_xor(xxhash64(col("u"), col("v"))), lit(0L)).as("h")).head()
      (r.getLong(0), r.getLong(1))
    }

    // large-star: every node u links its LARGER neighbors to
    // m(u) = min(Γ(u) ∪ {u}).
    def largeStar(in: DataFrame): DataFrame = {
      val nbrs = in.union(in.select(col("v").as("u"), col("u").as("v")))
      val mins = nbrs.groupBy(col("u"))
        .agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      nbrs.where(col("v") > col("u"))
        .join(mins, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .where(col("u") =!= col("v"))
        .distinct()
    }

    // small-star: every node u links its SMALLER neighbors (the only
    // kind present in the canonical orientation) and itself to
    // m(u) = min of those neighbors.
    def smallStar(in: DataFrame): DataFrame = {
      val mins = in.groupBy(col("u")).agg(min(col("v")).as("m"))
      val moved = in.join(mins, "u")
        .select(col("v").as("u"), col("m").as("v"))
      val self = mins.select(col("u"), col("m").as("v"))
      moved.union(self)
        .where(col("u") =!= col("v"))
        .distinct()
    }

    var (prevN, prevH) = probe(e)
    var converged = prevN == 0L
    var iter = 0
    while (!converged && iter < maxIter) {
      val next = smallStar(largeStar(e)).localCheckpoint()
      val (n, h) = probe(next)
      converged = n == prevN && h == prevH
      prevN = n; prevH = h
      e = next
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds " +
          "(O(log² n) expected — raise maxIter for adversarial graphs)")

    // e is now a star forest: (member, root). Roots and isolated nodes
    // map to themselves.
    nodes.join(e.withColumnRenamed("u", "node").withColumnRenamed("v", "component"),
        Seq("node"), "left")
      .select(col("node"), coalesce(col("component"), col("node")).as("component"))
  }

  /**
   * Duplicate-cluster view of a pair set: (node, cluster_id,
   * cluster_size, is_canonical) for every node in `pairs`, where
   * cluster_id is the component min and the canonical member is that
   * min (deterministic keep-one rule). `extraNodes` (e.g. the full
   * corpus id column) adds singleton rows for ids with no pairs.
   */
  def duplicateClusters(pairs: DataFrame, idA: String = "id_a", idB: String = "id_b",
                        extraNodes: Option[DataFrame] = None): DataFrame = {
    val comp = connectedComponents(pairs, idA, idB)
    val all = extraNodes match {
      case Some(n) =>
        val ids = n.select(n.columns.head).toDF("node")
          .select(col("node").cast("long").as("node"))
          .union(comp.select(col("node")))
          .distinct()
        ids.join(comp, Seq("node"), "left")
          .select(col("node"), coalesce(col("component"), col("node")).as("component"))
      case None => comp
    }
    import org.apache.spark.sql.expressions.Window
    all.select(col("node"), col("component").as("cluster_id"))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
      .withColumn("is_canonical", col("node") === col("cluster_id"))
  }

  /**
   * The dedup TRANSFORM: drop every row whose id is a non-canonical
   * member of some pair-derived cluster (keep the component-min id).
   * One components run over the pair set (usually ≪ corpus) and one
   * anti-join against the loser ids — the corpus itself is scanned
   * once and never shuffled.
   */
  def dropByPairs(df: DataFrame, idCol: String,
                  pairs: DataFrame, idA: String = "id_a", idB: String = "id_b"): DataFrame = {
    val losers = connectedComponents(pairs, idA, idB)
      .where(col("node") =!= col("component"))
      .select(col("node").as("__loser"))
    df.join(losers, df(idCol).cast("long") === col("__loser"), "left_anti")
  }
}
