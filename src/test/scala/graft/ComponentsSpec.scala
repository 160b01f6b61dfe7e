package graft

import graft.operators.Components
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ComponentsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def cc(edges: Seq[(Long, Long)], localLimit: Long = 1L << 20): Map[Long, Long] =
    Components.connectedComponents(edges.toDF("a", "b"), "a", "b",
        localEdgeLimit = localLimit)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Driver-side oracle: plain union-find with min-root normalization. */
  private def unionFindOracle(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.map(x => x -> find(x)).toMap ++
      edges.flatMap(e => Seq(e._1, e._2)).map(x => x -> find(x)).toMap
  }

  test("chain collapses to one min-rooted component") {
    assert(cc(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))) ===
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L))
  }

  test("two components plus a self-loop singleton") {
    val got = cc(Seq((10L, 11L), (11L, 12L), (20L, 21L), (30L, 30L)))
    assert(got === Map(10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L, 30L -> 30L))
  }

  test("star already rooted at min is a fixed point") {
    assert(cc(Seq((1L, 7L), (1L, 8L), (1L, 9L))) ===
      Map(1L -> 1L, 7L -> 1L, 8L -> 1L, 9L -> 1L))
  }

  test("star rooted at MAX re-roots to the min member") {
    assert(cc(Seq((9L, 1L), (9L, 2L), (9L, 3L))) ===
      Map(9L -> 1L, 1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("empty edge set yields empty result") {
    assert(cc(Seq.empty) === Map.empty)
  }

  test("randomized parity vs driver union-find (chains, blobs, skewed stars; both routes)") {
    val rnd = new scala.util.Random(4242)
    for (trial <- 0 until 30) {
      val n = 5 + rnd.nextInt(120)
      val style = trial % 3
      val edges = (0 until (n + rnd.nextInt(3 * n))).map { _ =>
        style match {
          case 0 => // uniform blob
            (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)
          case 1 => // long chains: nearby ids
            val a = rnd.nextInt(n); (a.toLong, math.min(n - 1, a + 1 + rnd.nextInt(2)).toLong)
          case _ => // hot hub: skewed degree on one node
            (rnd.nextInt(5).toLong, rnd.nextInt(n).toLong)
        }
      }
      // alternate routes; every 5th trial proves them IDENTICAL on the
      // same graph (localEdgeLimit=0 forces the distributed star rounds)
      val want = unionFindOracle(edges)
      val limit = if (trial % 2 == 0) 1L << 20 else 0L
      assert(cc(edges, limit) === want, s"trial $trial (style $style, n=$n, limit=$limit)")
      if (trial % 5 == 0)
        assert(cc(edges, 0L) === cc(edges), s"route parity, trial $trial")
    }
  }

  test("20k-node path graph converges through the distributed star rounds (worst-case diameter)") {
    // a path is the adversarial shape for label propagation (diameter =
    // n); large-star/small-star must close it in O(log² n) rounds —
    // maxIter stays at the default 64, so non-convergence throws
    val n = 20000L
    val edges = spark.range(n - 1)
      .selectExpr("id as a", "id + 1 as b")
    val comp = Components.connectedComponents(edges, "a", "b", localEdgeLimit = 0L)
    val agg = comp.agg(
      org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)),
      org.apache.spark.sql.functions.max(org.apache.spark.sql.functions.col("component")),
      org.apache.spark.sql.functions.min(org.apache.spark.sql.functions.col("component"))).head()
    assert(agg.getLong(0) === n)
    assert(agg.getLong(1) === 0L && agg.getLong(2) === 0L) // one component, rooted at 0

    // the same path with labels scrambled by a bijection on Long (odd
    // multiplier), so the component minimum sits at an arbitrary interior
    // position and min-propagation cannot shortcut along monotone ids;
    // beside it a star whose hub label is LARGER than every leaf, so
    // large-star must move the whole neighborhood off the hub
    val mix = 0x9E3779B97F4A7C15L
    val starLeaves = 5000L
    val path = (0L until n - 1).map(i => (i * mix, (i + 1) * mix))
    val star = (0L until starLeaves).map(i => (Long.MaxValue, i * mix + 7L))
    val pathMin = (0L until n).map(_ * mix).min
    val starMin = (0L until starLeaves).map(_ * mix + 7L).min
    assert(star.forall(_._2 < Long.MaxValue), "fixture: the hub must be the largest label")
    val planted = Components.connectedComponents((path ++ star).toDF("a", "b"), "a", "b",
        localEdgeLimit = 0L)
      .groupBy(col("component"))
      .agg(count(lit(1)), min(col("node")))
      .as[(Long, Long, Long)].collect().toSet
    assert(planted === Set((pathMin, n, pathMin), (starMin, starLeaves + 1, starMin)),
      "scrambled path and max-hub star: two components, each rooted at its minimum")
  }

  test("duplicateClusters marks sizes and the canonical min; extra nodes ride as singletons") {
    val pairs = Seq((2L, 5L), (5L, 7L), (10L, 11L)).toDF("id_a", "id_b")
    val extra = Seq(1L, 2L, 99L).toDF("vec_id")
    val got = Components.duplicateClusters(pairs, extraNodes = Some(extra))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet
    assert(got === Set(
      (2L, 2L, 3L, true), (5L, 2L, 3L, false), (7L, 2L, 3L, false),
      (10L, 10L, 2L, true), (11L, 10L, 2L, false),
      (1L, 1L, 1L, true), (99L, 99L, 1L, true)))
  }

  test("dropByPairs keeps exactly the component minima plus untouched rows") {
    val docs = (1L to 8L).map(i => (i, s"doc$i")).toDF("id", "text")
    val pairs = Seq((3L, 4L), (4L, 6L), (7L, 8L)).toDF("id_a", "id_b")
    val kept = Components.dropByPairs(docs, "id", pairs)
      .select(col("id")).as[Long].collect().toSet
    assert(kept === Set(1L, 2L, 3L, 5L, 7L))
  }
}
