package graft

import graft.operators.{AnnIndex, KnnSearch}
import org.scalatest.funsuite.AnyFunSuite

class AnnIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private lazy val e = Tables(spark, TestSpark.sfDir, "embeddings").cache()
  private lazy val queries = (0L until 10L)
    .map(id => id -> Tables.queryVector(spark, TestSpark.sfDir, id))

  test("ivf with nprobe = nlist equals the exact scan") {
    val index = AnnIndex.buildIvf(e, "vec_id", "embedding", nlist = 8)
    val full = AnnIndex.searchIvf(index, queries, k = 10, nprobe = 8, excludeSelf = true)
      .select("query_id", "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = KnnSearch.topKBatch(e, "vec_id", "embedding", queries, 10,
        KnnSearch.Cosine, excludeSelf = true)
      .select("query_id", "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full === exact)
  }

  test("ivf recall at nprobe < nlist is sane and per-query bounded") {
    val recalls = AnnIndex.recallVsExact(e, "vec_id", "embedding",
        queries, k = 10, nlist = 8, nprobe = 3)
      .collect().map(_.getAs[Double]("recall"))
    assert(recalls.length === 10)
    assert(recalls.forall(r => r >= 0.0 && r <= 1.0))
    // random-ish unit vectors: probing 3/8 cells should still find a
    // nontrivial share of true neighbors
    assert(recalls.sum / recalls.length > 0.2)
  }

  test("index build is deterministic under a fixed seed") {
    val a = AnnIndex.buildIvf(e, "vec_id", "embedding", nlist = 8, seed = 7L)
    val b = AnnIndex.buildIvf(e, "vec_id", "embedding", nlist = 8, seed = 7L)
    val ca = a.centroids.map(_._2.toSeq).toSeq
    val cb = b.centroids.map(_._2.toSeq).toSeq
    assert(ca === cb)
  }

  test("write/open round-trip; disk search prunes cluster partitions") {
    val dir = TestSpark.tempDir("ivf").toString
    val index = AnnIndex.buildIvf(e.limit(200), "vec_id", "embedding", nlist = 4)
    AnnIndex.writeIndex(index, dir)
    val reopened = AnnIndex.openIndex(spark, dir)
    assert(reopened.centroids.map(_._1).toSeq === index.centroids.map(_._1).toSeq)
    assert(reopened.assignments.count() === 200)
    // partition pruning: a cluster filter reaches the scan as a
    // PartitionFilter (the inverted-file lookup)
    val pruned = reopened.assignments
      .where(org.apache.spark.sql.functions.col("cluster") === 0)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(cluster"), plan.take(800))
    // full search through the reopened index matches the in-memory index
    val q = queries.take(3)
    val a = AnnIndex.searchIvf(index, q, 5, 2)
      .select("query_id", "doc_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = AnnIndex.searchIvf(reopened, q, 5, 2)
      .select("query_id", "doc_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a === b)
  }
}
