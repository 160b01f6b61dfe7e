package graft

import graft.operators.{AnnIndex, KnnSearch}
import graft.plans.{AnnIndexRegistry, IvfKnnRewrite, KnnJoinPlan}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class IvfKnnRewriteSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def install(): Unit = {
    val o = spark.sessionState.experimentalMethods
    if (!o.extraOptimizations.contains(IvfKnnRewrite))
      o.extraOptimizations = o.extraOptimizations :+ IvfKnnRewrite
    // another suite may have cached the embeddings table; the cache manager
    // would then substitute an InMemoryRelation for the parquet relation and
    // the rewrite (correctly, conservatively) bails out — clear it so this
    // spec exercises the rewrite itself
    spark.catalog.clearCache()
  }

  private def setup(): (String, org.apache.spark.sql.DataFrame) = {
    val docsPath = TestSpark.sfDir + "/embeddings.parquet"
    val docs = spark.read.parquet(docsPath)
    val indexPath = TestSpark.tempDir("ivfidx").toString
    AnnIndex.writeIndex(
      AnnIndex.buildIvf(docs, "vec_id", "embedding", nlist = 8), indexPath)
    (docsPath, docs)
    (indexPath, docs)
  }

  test("registered table: KnnJoin rewrites to the pruned IVF plan") {
    install()
    val docsPath = TestSpark.sfDir + "/embeddings.parquet"
    val (indexPath, docs) = setup()
    AnnIndexRegistry.register(docsPath, indexPath, nprobe = 8)
    try {
      val queries = docs.where(col("vec_id") < 5)
      val out = KnnJoinPlan.knnJoin(queries, "vec_id", "embedding",
        docs, "vec_id", "embedding", k = 10, KnnSearch.Cosine, excludeSelf = true)
      // the custom node is gone from the optimized plan — replaced by the
      // declarative IVF pipeline (joins + windows over the index files)
      val optimized = out.queryExecution.optimizedPlan.toString
      assert(!optimized.contains("KnnJoin"), optimized.take(400))
      assert(out.queryExecution.executedPlan.toString.contains(indexPath.split("/").last))
      // nprobe = nlist ⇒ exhaustive over the index ⇒ exact agreement
      val viaIndex = out.select("query_id", "doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      AnnIndexRegistry.clear()
      val exact = KnnJoinPlan.knnJoin(queries, "vec_id", "embedding",
          docs, "vec_id", "embedding", k = 10, KnnSearch.Cosine, excludeSelf = true)
        .select("query_id", "doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(viaIndex === exact)
    } finally AnnIndexRegistry.clear()
  }

  test("filtered docs side: rewrite bails out and the filter is respected") {
    install()
    val docsPath = TestSpark.sfDir + "/embeddings.parquet"
    val (indexPath, docs) = setup()
    AnnIndexRegistry.register(docsPath, indexPath, nprobe = 8)
    try {
      val queries = docs.where(col("vec_id") < 5)
      // ad-hoc predicate on the docs side: the index was built over the FULL
      // table, so routing through it would silently drop the filter
      val filtered = docs.where(col("vec_id") % 2 === 0)
      val out = KnnJoinPlan.knnJoin(queries, "vec_id", "embedding",
        filtered, "vec_id", "embedding", k = 10, KnnSearch.Cosine, excludeSelf = true)
      assert(out.queryExecution.optimizedPlan.toString.contains("KnnJoin"))
      val docIds = out.select("doc_id").collect().map(_.getLong(0))
      assert(docIds.nonEmpty && docIds.forall(_ % 2 == 0))
    } finally AnnIndexRegistry.clear()
  }

  test("unregistered table: node untouched; partial probe keeps high recall") {
    install()
    val (indexPath, docs) = setup()
    val queries = docs.where(col("vec_id") < 5)
    val untouched = KnnJoinPlan.knnJoin(queries, "vec_id", "embedding",
      docs, "vec_id", "embedding", k = 10)
    assert(untouched.queryExecution.optimizedPlan.toString.contains("KnnJoin"))

    AnnIndexRegistry.register(TestSpark.sfDir + "/embeddings.parquet", indexPath, nprobe = 3)
    try {
      val approx = KnnJoinPlan.knnJoin(queries, "vec_id", "embedding",
          docs, "vec_id", "embedding", k = 10, KnnSearch.Cosine, excludeSelf = true)
        .select("query_id", "doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      AnnIndexRegistry.clear()
      val exact = KnnJoinPlan.knnJoin(queries, "vec_id", "embedding",
          docs, "vec_id", "embedding", k = 10, KnnSearch.Cosine, excludeSelf = true)
        .select("query_id", "doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = approx.intersect(exact).size.toDouble / exact.size
      assert(recall >= 0.3, s"recall $recall") // 3/8 cells probed
      assert(approx.size === exact.size)       // still k rows per query
    } finally AnnIndexRegistry.clear()
  }
}
