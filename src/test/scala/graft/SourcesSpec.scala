package graft

import graft.sources.{CollectionStore, CsvVectorSource}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SourcesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("collection write/read/get/delete round-trip") {
    val root = TestSpark.tempDir("coll").toString
    val df = Seq((1L, "a", 1L), (2L, "b", 1L), (3L, "c", 1L)).toDF("id", "content", "v")
    CollectionStore.write(df, root, "docs")
    val back = CollectionStore.read(spark, root, "docs")
    assert(back.count() === 3)
    assert(CollectionStore.get(back, "id", Seq(2L)).head().getString(1) === "b")
    assert(CollectionStore.delete(back, "id", Seq(2L)).count() === 2)
  }

  test("upsert is latest-wins on version, updates win ties (ON CONFLICT semantics)") {
    val existing = Seq((1L, "old", 5L), (2L, "keep", 5L)).toDF("id", "content", "v")
    val updates = Seq((1L, "new", 6L), (3L, "ins", 1L), (2L, "tie", 5L)).toDF("id", "content", "v")
    val merged = CollectionStore.upsert(existing, updates, "id", "v")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(merged === Map(1L -> "new", 2L -> "tie", 3L -> "ins"))
  }

  test("collection stats shape (A1)") {
    val df = Seq((1L, "abcd"), (2L, "ab")).toDF("id", "content")
    val r = CollectionStore.stats(df, "content").head()
    assert(r.getAs[Long]("total_documents") === 2L)
    assert(r.getAs[Double]("avg_content_length") === 3.0)
  }

  test("csv vector source: dim_ detection, NaN-row drop, array assembly") {
    val dir = TestSpark.tempDir("csv").toFile
    val f = new java.io.File(dir, "vectors.csv")
    val w = new java.io.PrintWriter(f)
    w.println("vector_id,category,dim_0,dim_1,dim_2")
    w.println("v1,A,1.0,2.0,3.0")
    w.println("v2,B,4.0,NaN,6.0")   // dropped: NaN component
    w.println("v3,A,7.0,8.0,9.0")
    w.close()
    val df = CsvVectorSource.load(spark, f.getAbsolutePath)
    val rows = df.orderBy("vector_id").collect()
    assert(rows.length === 2)
    assert(rows.head.getAs[Seq[Double]]("vector") === Seq(1.0, 2.0, 3.0))
    assert(!df.columns.exists(_.startsWith("dim_"))) // pruned after assembly
    val miss = CsvVectorSource.missingReport(spark, f.getAbsolutePath).head()
    assert(miss.getAs[Long]("dim_1") === 1L)
  }
}
