package graft

import graft.operators.SimilarityJoin
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The grouped routes' (group → count) driver maps are BOUNDED since
  * r20 (`spark.graft.maxDriverGroupCounts`, r18 verdict item 5): above
  * the bound the grid metadata attaches by a distributed count join
  * instead of a driver-collected map. The fallback must be
  * OUTPUT-IDENTICAL — the bound changes where the counts live, never
  * what any route emits — including when the hot-group cap engages. */
class GroupCountsBoundSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val Bound = "spark.graft.maxDriverGroupCounts"

  private def members = Seq(
    // three groups; group "a" is dense enough to go hot under a tiny cap
    (0L, "a", Array(1.0f, 0.0f)), (1L, "a", Array(0.99f, 0.05f)),
    (2L, "a", Array(0.98f, 0.04f)), (3L, "a", Array(0.97f, 0.03f)),
    (4L, "b", Array(0.0f, 1.0f)), (5L, "b", Array(0.02f, 0.99f)),
    (6L, "c", Array(-1.0f, 0.1f))
  ).toDF("id", "grp", "v")

  private def collectPairs(df: org.apache.spark.sql.DataFrame): Set[(String, Long, Long, Double)] =
    df.select(col("grp"), col("id_a"), col("id_b"), col("sim")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet

  private def withBound[A](n: Int)(body: => A): A = {
    spark.conf.set(Bound, n.toString)
    try body finally spark.conf.unset(Bound)
  }

  test("boundedGroupCounts: exact counts under the bound, overflow above it") {
    val rows = spark.sparkContext.parallelize(Seq(
      ("a", true), ("a", false), ("b", true), ("c", false), ("a", true)), 3)
    val ok = SimilarityJoin.boundedGroupCounts[Boolean](rows, identity, bound = 3)
    assert(ok === Some(Map("a" -> (3L, 2L), "b" -> (1L, 1L), "c" -> (1L, 0L))))
    // bound below the group count: overflow, nothing #groups-sized kept
    assert(SimilarityJoin.boundedGroupCounts[Boolean](rows, identity, bound = 2).isEmpty)
  }

  test("grouped batch pairs: count-join fallback is output-identical (cold and hot)") {
    val expectCold = collectPairs(SimilarityJoin.groupedThresholdPairs(
      members, "grp", "id", "v", threshold = 0.9))
    val expectHot = collectPairs(SimilarityJoin.groupedThresholdPairs(
      members, "grp", "id", "v", threshold = 0.9, hotGroupPairCap = 4L))
    withBound(1) {
      assert(collectPairs(SimilarityJoin.groupedThresholdPairs(
        members, "grp", "id", "v", threshold = 0.9)) === expectCold)
      assert(collectPairs(SimilarityJoin.groupedThresholdPairs(
        members, "grp", "id", "v", threshold = 0.9,
        hotGroupPairCap = 4L)) === expectHot)
    }
    assert(expectCold.nonEmpty)
  }

  test("grouped delta pairs: count-join fallback is output-identical (cold and hot)") {
    val ix = members.where(col("id") < 4)
    val delta = members.where(col("id") >= 4)
      // plus one delta row landing in the dense group
      .unionByName(Seq((7L, "a", Array(0.96f, 0.02f))).toDF("id", "grp", "v"))
    val expectCold = collectPairs(SimilarityJoin.groupedThresholdPairsDelta(
      ix, delta, "grp", "id", "v", threshold = 0.9,
      hotGroupPairCap = Long.MaxValue))
    val expectHot = collectPairs(SimilarityJoin.groupedThresholdPairsDelta(
      ix, delta, "grp", "id", "v", threshold = 0.9, hotGroupPairCap = 2L))
    withBound(1) {
      assert(collectPairs(SimilarityJoin.groupedThresholdPairsDelta(
        ix, delta, "grp", "id", "v", threshold = 0.9,
        hotGroupPairCap = Long.MaxValue)) === expectCold)
      assert(collectPairs(SimilarityJoin.groupedThresholdPairsDelta(
        ix, delta, "grp", "id", "v", threshold = 0.9,
        hotGroupPairCap = 2L)) === expectHot)
    }
    assert(expectCold.nonEmpty)
  }

  test("count-join fallback leaves no persisted RDD behind once its pairs are collected") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val ix = members.where(col("id") < 4)
    val delta = members.where(col("id") >= 4)
    withBound(1) {
      // finite caps: the fallback runs its hot-count job over the metadata
      assert(collectPairs(SimilarityJoin.groupedThresholdPairs(
        members, "grp", "id", "v", threshold = 0.9,
        hotGroupPairCap = 4L)).nonEmpty)
      assert(collectPairs(SimilarityJoin.groupedThresholdPairsDelta(
        ix, delta, "grp", "id", "v", threshold = 0.9,
        hotGroupPairCap = 2L)).nonEmpty)
    }
    val left = sc.getPersistentRDDs.filter { case (id, _) => !before(id) }
    assert(left.isEmpty, s"persisted RDDs left behind: ${left.values.mkString(", ")}")
  }

  test("grouped top pairs (replicateToBlocks): fallback is output-identical") {
    val expect = SimilarityJoin.groupedTopPairs(
        members, "grp", "id", "v", k = 2)
      .select(col("grp"), col("id_a"), col("id_b"), col("sim")).collect()
      .map(_.toSeq).toSet
    withBound(1) {
      val got = SimilarityJoin.groupedTopPairs(
          members, "grp", "id", "v", k = 2)
        .select(col("grp"), col("id_a"), col("id_b"), col("sim")).collect()
        .map(_.toSeq).toSet
      assert(got === expect)
    }
    assert(expect.nonEmpty)
  }
}
