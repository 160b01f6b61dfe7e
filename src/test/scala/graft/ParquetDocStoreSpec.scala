package graft

import graft.serving.{DocRecord, ParquetDocStore}
import graft.tools.QueryJobs
import org.scalatest.funsuite.AnyFunSuite

/** What a base lookup of [[ParquetDocStore]] costs in Spark jobs, and that
  * a compaction moves every lookup onto the new generation. */
class ParquetDocStoreSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def bootstrapped(name: String): (ParquetDocStore, String) = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory(s"graft-docstore-$name").toString
    val corpus = (0 until 40)
      .map(i => (s"d-$i", i.toLong, s"text number $i",
        if (i % 2 == 0) s"""{"k":$i}""" else null))
      .toDF("doc_id", "long_id", "text", "metadata")
    (ParquetDocStore.bootstrap(spark, dir, corpus, maxDelta = 1000), dir)
  }

  test("a base hydrate round, a base get and a base delete each run exactly one Spark job") {
    val (store, _) = bootstrapped("jobs")
    store.put(DocRecord("d-new", 100L, "fresh", None))
    val counter = new QueryJobs.Counter(spark)
    // hits 3 and 7 live only in the base; 100 is served from the delta
    val (recs, _, hydrate) = counter.profile(store.getByLongIds(Seq(3L, 7L, 100L)))
    assert(recs.keySet === Set(3L, 7L, 100L))
    assert(recs(7L).docId === "d-7" && recs(100L).text === "fresh")
    assert(hydrate.jobs === 1, s"hydrate with base misses: $hydrate")
    val (got, _, get) = counter.profile(store.get("d-6"))
    assert(got.flatMap(_.metadata) === Some(Map("k" -> 6L)))
    assert(get.jobs === 1, s"base get: $get")
    val (gone, _, delete) = counter.profile(store.delete("d-9"))
    assert(gone.map(_.longId) === Some(9L))
    assert(delete.jobs === 1, s"base delete: $delete")
    // served from the delta: no job at all
    val (_, _, fromDelta) = counter.profile(store.getByLongIds(Seq(100L)))
    assert(fromDelta.jobs === 0, s"delta-only hydrate: $fromDelta")
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
    assert(hydrate.jobs === 1, s"hydrate after compaction: $hydrate")
    assert(store.get("d-3").isEmpty)
    assert(store.get("d-new").map(_.longId) === Some(100L))
    assert(store.size === 40L)
    assert(store.maxLongId === 100L)
  }

  test("bootstrap into a directory that holds a compacted store replaces its corpus") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-docstore-reboot").toString
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
