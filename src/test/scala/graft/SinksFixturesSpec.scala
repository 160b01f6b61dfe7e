package graft

import graft.operators.{Chunkers, Embedder, IREval}
import graft.functions.TextFunctions
import graft.functions.VectorFunctions
import graft.sources.{Fixtures, Sinks}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SinksFixturesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("embedding CSV round-trip: one column per dim (S7)") {
    val dir = TestSpark.tempDir("embcsv").toString + "/out"
    val df = Seq((1L, Array(0.1f, 0.2f, 0.3f)), (2L, Array(0.4f, 0.5f, 0.6f)))
      .toDF("id", "embedding")
    Sinks.embeddingsToCsv(df, "id", "embedding", 3, dir)
    val back = Sinks.embeddingsFromCsv(spark, dir, "id")
    val m = back.collect().map(r => r.getInt(0) -> r.getSeq[Float](1)).toMap
    assert(m(1) === Seq(0.1f, 0.2f, 0.3f))
    assert(m(2) === Seq(0.4f, 0.5f, 0.6f))
  }

  test("ground-truth JSON loader feeds IREval (S17)") {
    val dir = TestSpark.tempDir("gt").toFile
    val f = new java.io.File(dir, "gt.json")
    val w = new java.io.PrintWriter(f)
    w.print(
      """{"documents": [{"id": "d1", "content": "alpha"}, {"id": "d2", "content": "beta"}],
        | "queries": [{"id": "q1", "text": "find alpha", "relevant_doc_ids": ["d1"]}]}""".stripMargin)
    w.close()
    val (docs, truth) = Sinks.loadGroundTruth(spark, f.getAbsolutePath)
    assert(docs.count() === 2)
    val retrieved = Seq(("q1", "d1", 1), ("q1", "d2", 2)).toDF("query_id", "doc_id", "rank")
    val m = IREval.perQuery(retrieved, truth, 2).head()
    assert(m.getAs[Double]("precision") === 0.5)
    assert(m.getAs[Double]("recall") === 1.0)
  }

  test("clustered-vector fixture is deterministic and labeled (S18)") {
    val a = Fixtures.clusteredVectors(spark, 200, 16, 10)
    val b = Fixtures.clusteredVectors(spark, 200, 16, 10)
    assert(a.select("label").distinct().count() === 10)
    val va = a.orderBy("vec_id").collect().map(_.getSeq[Float](1))
    val vb = b.orderBy("vec_id").collect().map(_.getSeq[Float](1))
    assert(va.zip(vb).forall { case (x, y) => x === y })
    // blobs are separable: same-label pairs are closer on average
    val kb = Fixtures.knowledgeBase(spark)
    assert(kb.count() === 6)
  }

  test("semantic chunker groups duplicate-meaning sentences (G5)") {
    // mock encoder keys on exact content: identical sentences ⇒ cosine 1
    val text = "the cat sat on the mat. dogs chase the red ball. the cat sat on the mat. something entirely different here."
    val chunks = Chunkers.semanticChunks(
        Seq((0L, text)).toDF("doc_id", "text"), "doc_id", "text",
        simThreshold = 0.99)
      .collect().sortBy(_.chunk_index)
    assert(chunks.length === 3) // the two identical sentences merge
    assert(chunks.head.text === "the cat sat on the mat. the cat sat on the mat.")
  }

  test("chunk-id assignment (G9)") {
    val chunks = Chunkers.tokenChunks(
      Seq((7L, ("w " * 120).trim)).toDF("doc_id", "text"), "doc_id", "text", 50, 10)
    val withIds = Chunkers.withChunkIds(chunks).orderBy("chunk_index").collect()
    assert(withIds.head.getAs[String]("chunk_id") === "7_0")
    assert(withIds.forall(_.getAs[Long]("total_chunks") === withIds.length.toLong))
  }

  test("scalar helpers: id validation, truncation, metadata containment") {
    val df = Seq(("doc-1.ok", "x" * 30), ("bad id!", "short"))
      .toDF("id", "content")
    val valid = df.where(TextFunctions.isValidDocId($"id")).collect()
    assert(valid.map(_.getString(0)).toSeq === Seq("doc-1.ok"))
    val t = df.select(TextFunctions.truncateEllipsis($"content", 10)).head().getString(0)
    assert(t === "x" * 7 + "...")
    val meta = Seq((1L, Map("a" -> "1", "b" -> "2"))).toDF("id", "meta")
    assert(meta.where(TextFunctions.metadataContains($"meta", Map("a" -> "1", "b" -> "2"))).count() === 1)
    assert(meta.where(TextFunctions.metadataContains($"meta", Map("a" -> "9"))).count() === 0)
  }

  test("distance-to-similarity variants (F4)") {
    val df = Seq((Array(0.0f, 0.0f), Array(3.0f, 4.0f))).toDF("a", "b")
    val recip = df.select(VectorFunctions.l2Similarity($"a", $"b")).head().getDouble(0)
    assert(math.abs(recip - 1.0 / 6.0) < 1e-12)
    val maxNorm = df.select(
      VectorFunctions.l2SimilarityMaxNorm($"a", $"b", lit(10.0))).head().getDouble(0)
    assert(math.abs(maxNorm - 0.5) < 1e-12)
  }
}
