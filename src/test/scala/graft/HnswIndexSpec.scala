package graft

import graft.operators.{HnswIndex, HnswReference, KnnSearch, ServingIndex}
import org.apache.spark.rdd.RDD
import org.scalatest.funsuite.AnyFunSuite

class HnswIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val dim = 32
  private val n = 2000

  private def corpus = {
    val nClusters = 20
    val d = dim // local copy: the RDD closure must not capture the suite
    val centers = Array.tabulate(nClusters) { c =>
      val r = new java.util.Random(42L + c)
      Array.fill(d)(r.nextGaussian() * 5.0)
    }
    spark.sparkContext.parallelize(0L until n.toLong, 8).map { id =>
      val ctr = centers((id % nClusters).toInt)
      val r = new java.util.Random(1000L + id)
      (id, Array.tabulate(d)(i => (ctr(i) + r.nextGaussian()).toFloat))
    }
  }

  private def queries = (0 until 25).map { q =>
    val r = new java.util.Random(9000L + q)
    (q.toLong, Array.fill(dim)(r.nextGaussian().toFloat * 5.0f))
  }.toArray

  test("hnsw recall@10 vs exact beats the day_6 FAISS HNSW bar") {
    val docs = corpus.cache(); docs.count()
    val flat = ServingIndex.buildFlat(docs, dim)
    val hnsw = HnswIndex.build(docs, dim, m = 16, efConstruction = 64, KnnSearch.L2)
    val exact = flat.search(queries, 10, KnnSearch.L2)
    val approx = hnsw.search(queries, 10, efSearch = 64)
    val exactSets = exact.map { case (q, arr) => q -> arr.map(_._2).toSet }.toMap
    val recall = approx.map { case (q, arr) =>
      arr.map(_._2).count(exactSets(q).contains).toDouble / exactSets(q).size
    }.sum / approx.length
    // baseline FAISS HNSWFlat M=32 recall@10 on large = 0.485; sharded
    // graphs at ef=64 should be near-exact on this corpus
    assert(recall >= 0.9, s"recall@10 = $recall")
    flat.slabs.unpersist(); hnsw.shards.unpersist(); docs.unpersist()
  }

  test("deterministic: two builds over the same partitioning agree") {
    val docs = corpus.cache(); docs.count()
    val a = HnswIndex.build(docs, dim, m = 8, efConstruction = 32, KnnSearch.L2)
    val b = HnswIndex.build(docs, dim, m = 8, efConstruction = 32, KnnSearch.L2)
    val ra = a.search(queries, 5, efSearch = 32).map { case (q, arr) => (q, arr.toSeq) }.toSeq
    val rb = b.search(queries, 5, efSearch = 32).map { case (q, arr) => (q, arr.toSeq) }.toSeq
    assert(ra === rb)
    a.shards.unpersist(); b.shards.unpersist(); docs.unpersist()
  }

  test("empty partitions and fewer docs than k are handled") {
    val tiny = spark.sparkContext.parallelize(
      Seq((1L, Array(1f, 0f)), (2L, Array(0f, 1f)), (3L, Array(1f, 1f))), 8)
    val hnsw = HnswIndex.build(tiny, 2, m = 4, efConstruction = 8, KnnSearch.L2)
    val res = hnsw.search(Array((0L, Array(1f, 0f))), k = 10, efSearch = 8)
    assert(res.length === 1)
    assert(res(0)._2.map(_._2).toSeq === Seq(1L, 3L, 2L))
    hnsw.shards.unpersist()
  }

  test("cosine metric: reported scores are cosine similarities, ranked desc") {
    val docs = corpus.cache(); docs.count()
    val hnsw = HnswIndex.build(docs, dim, m = 16, efConstruction = 64, KnnSearch.Cosine)
    val res = hnsw.search(queries.take(5), 10, efSearch = 64)
    res.foreach { case (_, arr) =>
      assert(arr.length === 10)
      assert(arr.map(_._1).toSeq === arr.map(_._1).sortBy(s => -s).toSeq)
      arr.foreach { case (s, _) => assert(s >= -1.001f && s <= 1.001f) }
    }
    // spot-check score values against the exact kernel's cosine
    val flat = ServingIndex.buildFlat(docs, dim)
    val exact = flat.search(queries.take(5), 10, KnnSearch.Cosine)
    val exactTop = exact.map { case (q, arr) => q -> arr.head }.toMap
    res.foreach { case (q, arr) =>
      if (arr.head._2 == exactTop(q)._2)
        assert(math.abs(arr.head._1 - exactTop(q)._1) < 1e-5f)
    }
    flat.slabs.unpersist(); hnsw.shards.unpersist(); docs.unpersist()
  }

  /** Every shard of `got` has `want`'s graph: ids, entry point, top level
    * and each node's per-level adjacency, in order. */
  private def assertSameGraphs(got: Array[HnswIndex.Shard], want: Array[HnswIndex.Shard],
                               label: String): Unit = {
    assert(got.length === want.length, label)
    got.zip(want).zipWithIndex.foreach { case ((g, w), s) =>
      assert(g.ids.toSeq === w.ids.toSeq, s"$label shard $s ids")
      assert(g.entryPoint === w.entryPoint, s"$label shard $s entry point")
      assert(g.topLevel === w.topLevel, s"$label shard $s top level")
      assert(g.neighbors.length === w.neighbors.length, s"$label shard $s nodes")
      val bad = g.neighbors.indices.find { v =>
        g.neighbors(v).map(_.toSeq).toSeq != w.neighbors(v).map(_.toSeq).toSeq
      }
      assert(bad.isEmpty, s"$label shard $s: node ${bad.getOrElse(-1)} adjacency differs")
    }
  }

  /** The parent builder's graphs, one per partition, seeded as
    * [[HnswIndex.build]] seeds them (`seed + partitionId`). */
  private def referenceShards(rdd: RDD[(Long, Array[Float])], d: Int, m: Int, efc: Int,
                              metric: KnnSearch.Metric, seed: Long): Array[HnswIndex.Shard] =
    rdd.mapPartitionsWithIndex { (pi, it) =>
      Iterator.single(HnswReference.buildShard(it, d, m, efc, metric, seed + pi))
    }.collect()

  test("build reproduces the boxed reference builder's graph exactly (tie-free corpora)") {
    for (metric <- Seq(KnnSearch.L2, KnnSearch.InnerProduct, KnnSearch.Cosine);
         parts <- Seq(1, 3, 8)) {
      val docs = ClusteredFixture.corpus(spark, 1500, dim, partitions = parts).cache()
      val hnsw = HnswIndex.build(docs, dim, m = 16, efConstruction = 64, metric, seed = 7L)
      assertSameGraphs(hnsw.shards.collect(),
        referenceShards(docs, dim, 16, 64, metric, 7L), s"$metric at $parts partitions")
      hnsw.shards.unpersist(); docs.unpersist()
    }
    // the IVF centroid router's shape: one graph over 100 trained
    // centroids, m=16, efc=64, L2, seed 42 (ServingIndex.Ivf.centroidRouter)
    val docs = ClusteredFixture.corpus(spark, n, dim).cache()
    val ivf = ServingIndex.buildIvf(docs, dim, 100)
    val centroids = spark.sparkContext.parallelize(
      ivf.centroids.toSeq.zipWithIndex.map { case (c, i) => (i.toLong, c) }, 1)
    val router = HnswIndex.build(centroids, dim, m = 16, efConstruction = 64, KnnSearch.L2, seed = 42L)
    assertSameGraphs(router.shards.collect(),
      referenceShards(centroids, dim, 16, 64, KnnSearch.L2, 42L), "centroid router")
    router.shards.unpersist(); ivf.slabs.unpersist(); docs.unpersist()
  }

  test("tie-heavy corpus: every vector thrice; recall holds and builds are deterministic") {
    val base = ClusteredFixture.corpus(spark, 700, dim, partitions = 4)
    // three copies per vector: exact distance ties at every comparison
    val docs = base.flatMap { case (id, v) => (0 until 3).map(r => (3 * id + r, v)) }.cache()
    docs.count()
    val flat = ServingIndex.buildFlat(docs, dim)
    val a = HnswIndex.build(docs, dim, m = 16, efConstruction = 64, KnnSearch.L2)
    val b = HnswIndex.build(docs, dim, m = 16, efConstruction = 64, KnnSearch.L2)
    assertSameGraphs(a.shards.collect(), b.shards.collect(), "two tie-heavy builds")
    val exact = flat.search(queries, 10, KnnSearch.L2).toMap
    val approx = a.search(queries, 10, efSearch = 64)
    // recall by distance: which of three equally close copies fills the
    // last exact slot is a tie order, so a hit counts when it is as close
    // as the exact 10th (relative slack for kernel rounding only)
    val recall = approx.map { case (q, arr) =>
      val kth = exact(q).last._1
      arr.count(_._1 <= kth * (1 + 1e-5f)).toDouble / exact(q).length
    }.sum / approx.length
    assert(recall >= 0.9, s"tie-heavy recall@10 = $recall")
    flat.slabs.unpersist(); a.shards.unpersist(); b.shards.unpersist(); docs.unpersist()
  }
}
