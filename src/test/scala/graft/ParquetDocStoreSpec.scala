package graft

import graft.serving.{DocRecord, ParquetDocStore}
import graft.tools.QueryJobs
import org.scalatest.funsuite.AnyFunSuite

/** That a base lookup of [[ParquetDocStore]] runs no Spark job, that a
  * compaction moves every lookup onto the new generation, and that a
  * generation whose files the driver-side reader cannot decode fails to
  * open. */
class ParquetDocStoreSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def bootstrapped(name: String): (ParquetDocStore, String) = {
    import spark.implicits._
    val dir = TestSpark.tempDir(s"graft-docstore-$name").toString
    val corpus = (0 until 40)
      .map(i => (s"d-$i", i.toLong, s"text number $i",
        if (i % 2 == 0) s"""{"k":$i}""" else null))
      .toDF("doc_id", "long_id", "text", "metadata")
    (ParquetDocStore.bootstrap(spark, dir, corpus, maxDelta = 1000), dir)
  }

  test("a base hydrate round, a base get, a base delete and an upsert over a base doc each run no Spark job") {
    val (store, _) = bootstrapped("jobs")
    store.put(DocRecord("d-new", 100L, "fresh", None))
    val counter = new QueryJobs.Counter(spark)
    // hits 3 and 7 live only in the base; 100 is served from the delta
    val (recs, _, hydrate) = counter.profile(store.getByLongIds(Seq(3L, 7L, 100L)))
    assert(recs.keySet === Set(3L, 7L, 100L))
    assert(recs(7L).docId === "d-7" && recs(100L).text === "fresh")
    assert(hydrate.jobs === 0, s"hydrate with base misses: $hydrate")
    val (got, _, get) = counter.profile(store.get("d-6"))
    assert(got.flatMap(_.metadata) === Some(Map("k" -> 6L)))
    assert(get.jobs === 0, s"base get: $get")
    val (gone, _, delete) = counter.profile(store.delete("d-9"))
    assert(gone.map(_.longId) === Some(9L))
    assert(delete.jobs === 0, s"base delete: $delete")
    val (_, _, upsert) = counter.profile(store.put(DocRecord("d-5", 5L, "upserted", None)))
    assert(upsert.jobs === 0, s"upsert over a base doc: $upsert")
    assert(store.size === 40L) // +1 insert, -1 delete, upsert replaces
    assert(store.getByLongIds(Seq(5L, 9L)).map { case (id, r) => id -> r.text } ===
      Map(5L -> "upserted"))
    // served from the delta: no job at all
    val (_, _, fromDelta) = counter.profile(store.getByLongIds(Seq(100L)))
    assert(fromDelta.jobs === 0, s"delta-only hydrate: $fromDelta")
    // a deleted delta doc leaves hydration too
    assert(store.delete("d-new").map(_.longId) === Some(100L))
    assert(store.getByLongIds(Seq(100L)).isEmpty)
  }

  test("after compact() lookups read the new generation, and the old generation's removal breaks nothing") {
    val (store, dir) = bootstrapped("compact")
    store.put(DocRecord("d-new", 100L, "fresh", None))
    store.put(DocRecord("d-4", 4L, "rewritten", None))
    store.delete("d-3")
    store.compact()
    val gen0 = new java.io.File(s"$dir/gen=0")
    assert(!gen0.exists(), "compaction left the superseded generation behind")
    assert(new java.io.File(s"$dir/gen=1").isDirectory)
    val counter = new QueryJobs.Counter(spark)
    // every hit now comes from the new base (the delta is empty)
    val (recs, _, hydrate) = counter.profile(store.getByLongIds(Seq(3L, 4L, 5L, 100L)))
    assert(recs.keySet === Set(4L, 5L, 100L))
    assert(recs(4L).text === "rewritten" && recs(100L).docId === "d-new")
    assert(hydrate.jobs === 0, s"hydrate after compaction: $hydrate")
    assert(store.get("d-3").isEmpty)
    val (got, _, get) = counter.profile(store.get("d-new"))
    assert(got.map(_.longId) === Some(100L))
    assert(get.jobs === 0, s"get after compaction: $get")
    assert(store.size === 40L)
    assert(store.maxLongId === 100L)
    val (gone, _, delete) = counter.profile(store.delete("d-8"))
    assert(gone.map(_.text) === Some("text number 8"))
    assert(delete.jobs === 0, s"delete after compaction: $delete")
    assert(store.size === 39L)
  }

  test("a generation opens only if each base file has the base schema and long_id statistics") {
    import spark.implicits._
    // a foreign file under gen=0: same columns, another order
    val (_, dir) = bootstrapped("schema")
    val foreign = s"$dir/foreign"
    Seq(("d-x", "text x", 1L)).toDF("doc_id", "text", "long_id")
      .coalesce(1).write.parquet(foreign)
    val part = new java.io.File(foreign).listFiles().find(_.getName.startsWith("part-")).get
    val planted = new java.io.File(s"$dir/gen=0/part-foreign.parquet")
    java.nio.file.Files.copy(part.toPath, planted.toPath)
    val wrong = intercept[IllegalStateException](ParquetDocStore.open(spark, dir))
    assert(wrong.getMessage.contains("part-foreign.parquet"), wrong.getMessage)
    assert(wrong.getMessage.contains("does not match"), wrong.getMessage)
    // the base schema, but written without long_id statistics
    val bare = TestSpark.tempDir("graft-docstore-nostats").toString
    Seq(("d-y", 2L, "text y", null: String)).toDF("doc_id", "long_id", "text", "metadata")
      .coalesce(1).write.option("parquet.column.statistics.enabled#long_id", "false")
      .parquet(s"$bare/gen=0")
    val noStats = intercept[IllegalStateException](ParquetDocStore.open(spark, bare))
    assert(noStats.getMessage.contains(s"$bare/gen=0/part-"), noStats.getMessage)
    assert(noStats.getMessage.contains("no statistics for column long_id"), noStats.getMessage)
  }

  test("bootstrap into a directory that holds a compacted store replaces its corpus") {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft-docstore-reboot").toString
    def corpus(ids: String*) = ids.zipWithIndex
      .map { case (d, i) => (d, i.toLong, s"text of $d") }
      .toDF("doc_id", "long_id", "text")
    val first = ParquetDocStore.bootstrap(spark, dir, corpus("a"))
    first.put(DocRecord("b", 1L, "text of b", None))
    first.compact()
    val second = ParquetDocStore.bootstrap(spark, dir, corpus("z"))
    assert(second.size === 1L)
    assert(second.get("z").map(_.text) === Some("text of z"))
    assert(second.get("a").isEmpty && second.get("b").isEmpty)
    // a reopen serves the bootstrapped corpus too: the superseded
    // generations are gone, not merely shadowed
    val gens = new java.io.File(dir).list().filter(_.startsWith("gen=")).toSeq
    assert(gens === Seq("gen=2"))
    assert(ParquetDocStore.open(spark, dir).get("z").isDefined)
  }
}
