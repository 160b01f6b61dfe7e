package graft.tools

import org.apache.spark.sql.functions._

/**
 * Adversarial convergence measurement for the distributed
 * large-star/small-star connected-components loop
 * ([[graft.operators.Components.connectedComponents]]): a 1M-NODE
 * path/star mix through the FORCED distributed route
 * (`localEdgeLimit = 0`), round count and wall published (BENCH.md).
 *
 * Worst-case shapes, deliberately:
 *  - a 600k-node PATH whose labels are a bijective scramble of position
 *    (`pos * 0x9E3779B97F4A7C15L` — multiplication by an odd constant
 *    is a bijection on Long), so the component minimum sits at an
 *    arbitrary interior position and min-propagation cannot shortcut
 *    along monotone ids — the diameter-driven case behind the
 *    O(log² n) bound (Kiveris et al. 2014);
 *  - a 400k-leaf STAR whose hub label is LARGER than every leaf, so
 *    large-star must move the whole neighborhood off the hub (the
 *    skew/fan-out case);
 *  - 10k medium scrambled paths (20 nodes each) riding along, so
 *    convergence is not declared before the long tail finishes.
 *
 * Pass criteria printed: the component count and sizes are exactly the
 * planted ones, rounds ≤ maxIter (64), and the driver held only
 * (count, checksum) probes per round.
 *
 * Usage: runMain graft.tools.ComponentsScale
 */
object ComponentsScale {
  def main(args: Array[String]): Unit = {
    val spark = graft.Graft.session()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val PathN = 600000L
    val StarN = 400000L
    val MediumPaths = 10000L
    val MediumLen = 20L
    val Mix = 0x9E3779B97F4A7C15L // odd => bijective label scramble

    // label scrambles run in typed maps: the bijection NEEDS wraparound
    // long multiplication, which ANSI SQL arithmetic (correctly) rejects
    // path: scrambled-label chain over positions 0..PathN-1
    val path = spark.range(PathN - 1).as[Long]
      .map(i => (i * Mix, (i + 1) * Mix)).toDF("u", "v")
    // star: hub label = Long.MaxValue (larger than any leaf label)
    val star = spark.range(StarN).as[Long]
      .map(i => (Long.MaxValue, i * Mix + 7L)).toDF("u", "v")
    // medium scrambled paths in a disjoint label space (offset by a tag)
    val medium = spark.range(MediumPaths * (MediumLen - 1)).as[Long]
      .map { i =>
        val p = i / (MediumLen - 1); val o = i % (MediumLen - 1)
        ((p * MediumLen + o) * Mix + 13L, (p * MediumLen + o + 1) * Mix + 13L)
      }.toDF("u", "v")
    val edges = path.union(star).union(medium)
    val nEdges = edges.count()
    val nNodes = PathN + StarN + MediumPaths * MediumLen
    println(s"graph: $nNodes nodes, $nEdges edges (path $PathN, star $StarN leaves, $MediumPaths x$MediumLen)")

    val t0 = System.nanoTime()
    val comp = graft.operators.Components
      .connectedComponents(edges, "u", "v", maxIter = 64, localEdgeLimit = 0L)
      .persist()
    val sizes = comp.groupBy(col("component")).agg(count(lit(1)).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("components"))
      .orderBy(col("n").desc)
      .collect()
    val wall = (System.nanoTime() - t0) / 1e9
    val rounds = graft.operators.Components.lastDistributedRounds.get()
    println(f"converged: rounds=$rounds wall=$wall%.1f s (forced distributed route)")
    sizes.foreach(r => println(s"  component size ${r.getLong(0)}: ${r.getLong(1)} components"))
    val ok = sizes.map(r => (r.getLong(0), r.getLong(1))).toMap ==
      Map(PathN -> 1L, (StarN + 1) -> 1L, MediumLen -> MediumPaths)
    println(s"planted structure recovered exactly: $ok")
    comp.unpersist()
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
