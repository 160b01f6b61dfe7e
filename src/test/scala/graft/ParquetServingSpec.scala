package graft

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets.UTF_8

import graft.operators.{Embedder, ServingCounters, ServingIndex}
import graft.serving._
import graft.tools.QueryJobs
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/**
 * The beyond-driver-RAM serving route: [[DocumentService.overCorpus]]
 * bootstraps payloads into a [[ParquetDocStore]] (base generation on
 * disk, O(delta) driver state) and vectors into the RDD-slab Mutable
 * tier, then the SAME HTTP contract HttpServingSpec gates runs over a
 * real socket — CRUD, search, counts — plus store-level guarantees the
 * heap route never exercises: LSM compaction, generation swap, and
 * restart-from-disk persistence.
 */
class ParquetServingSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = TestSpark.spark

  private val dim = 16
  private var tmp: java.nio.file.Path = _
  private var service: DocumentService = _
  private var server: HttpServing = _
  private var corpusN: Long = 0L

  override def beforeAll(): Unit = {
    super.beforeAll()
    tmp = TestSpark.tempDir("graft-docstore")
    val corpus = spark.read.parquet(s"${TestSpark.sfDir}/documents.parquet")
      .where(col("doc_id") < 80).select(col("doc_id"), col("text"))
    corpusN = corpus.count()
    service = DocumentService.overCorpus(corpus, "doc_id", "text",
      Embedder.MockEncoder(dim), s"$tmp/store", collectionName = "corpus")
    server = HttpServing.start(service,
      new ServingCounters(spark.sparkContext, "dist"))
  }

  override def afterAll(): Unit = {
    if (server != null) server.stop()
    super.afterAll()
  }

  private def request(method: String, path: String,
                      body: String = null): (Int, String) = {
    val url = new URI(s"http://127.0.0.1:${server.port}$path").toURL
    val conn = url.openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod(method)
    conn.setConnectTimeout(5000)
    conn.setReadTimeout(20000)
    if (body != null) {
      conn.setDoOutput(true)
      val os = conn.getOutputStream
      try os.write(body.getBytes(UTF_8)) finally os.close()
    }
    val code = conn.getResponseCode
    val stream = if (code >= 400) conn.getErrorStream else conn.getInputStream
    val text =
      if (stream == null) ""
      else try new String(stream.readAllBytes(), UTF_8) finally stream.close()
    conn.disconnect()
    (code, text)
  }

  private def asObj(s: String): Map[String, Any] =
    Json.parse(s).asInstanceOf[Map[String, Any]]

  private def corpusText(id: Long): String =
    spark.read.parquet(s"${TestSpark.sfDir}/documents.parquet")
      .where(col("doc_id") === id).select("text").head().getString(0)

  test("bootstrap count matches the corpus; no driver-resident payloads") {
    val (c, b) = request("GET", "/api/v1/collection/info")
    assert(c == 200)
    assert(asObj(b)("document_count") == (corpusN: Any))
  }

  test("search over the bootstrapped corpus finds the queried doc first") {
    val t = corpusText(5L)
    val (c, b) = request("POST", "/api/v1/search",
      Json.write(Json.Obj("query" -> t.take(900), "n_results" -> 3L)))
    assert(c == 200)
    val results = asObj(b)("results").asInstanceOf[Vector[Map[String, Any]]]
    assert(results.nonEmpty)
    // same truncated text ⇒ same mock vector only when the doc is short;
    // robust form: the hit list is ascending by distance and hydrated
    // with real text from the parquet base
    val dists = results.map(_("distance").asInstanceOf[Number].doubleValue())
    assert(dists == dists.sorted)
    assert(results.forall(_("text").asInstanceOf[String].nonEmpty))
    if (t.length <= 900) assert(results.head("doc_id") == "5")
  }

  test("point GET hydrates from the parquet base, not driver memory") {
    val (c, b) = request("GET", "/api/v1/documents/7")
    assert(c == 200)
    assert(asObj(b)("text") == corpusText(7L))
    val (c404, _) = request("GET", "/api/v1/documents/99999")
    assert(c404 == 404)
  }

  test("mutations: insert is searchable, delete 404s and leaves search") {
    val (ci, _) = request("POST", "/api/v1/insert",
      """{"doc_id":"new-doc-1","text":"a completely novel serving document"}""")
    assert(ci == 200)
    assert(service.documentCount == corpusN + 1)
    val (cs, bs) = request("POST", "/api/v1/search",
      """{"query":"a completely novel serving document","n_results":1}""")
    assert(cs == 200)
    val hits = asObj(bs)("results").asInstanceOf[Vector[Map[String, Any]]]
    assert(hits.head("doc_id") == "new-doc-1")
    assert(hits.head("distance").asInstanceOf[Number].doubleValue() < 1e-6)
    // delete a BASE doc: tombstone masks the parquet copy everywhere
    val (cd, _) = request("DELETE", "/api/v1/documents/3")
    assert(cd == 200)
    assert(service.documentCount == corpusN) // +1 insert, -1 delete
    val (c404, _) = request("GET", "/api/v1/documents/3")
    assert(c404 == 404)
    // upsert over a base doc: count stable, text replaced
    val (cu, _) = request("POST", "/api/v1/insert",
      """{"doc_id":"4","text":"replacement text for doc four"}""")
    assert(cu == 200)
    assert(service.documentCount == corpusN)
    val (cg, bg) = request("GET", "/api/v1/documents/4")
    assert(cg == 200)
    assert(asObj(bg)("text") == "replacement text for doc four")
  }

  test("store compacts past maxDelta and survives reopen from disk") {
    val dir = s"$tmp/compact-store"
    val store = ParquetDocStore.open(spark, dir, maxDelta = 8)
    for (i <- 0 until 20)
      store.put(DocRecord(s"d-$i", i.toLong, s"text number $i",
        if (i % 2 == 0) Some(Map("k" -> i.toLong)) else None))
    store.delete("d-3")
    store.put(DocRecord("d-4", 4L, "rewritten", None))
    assert(store.size == 19L)
    assert(store.get("d-3").isEmpty)
    assert(store.get("d-4").map(_.text).contains("rewritten"))
    assert(store.get("d-6").flatMap(_.metadata).contains(Map("k" -> 6L)))
    store.compact() // drain whatever is left in the delta
    // a NEW store over the same dir resumes the latest generation
    val reopened = ParquetDocStore.open(spark, dir, maxDelta = 8)
    assert(reopened.size == 19L)
    assert(reopened.get("d-3").isEmpty)
    assert(reopened.get("d-4").map(_.text).contains("rewritten"))
    assert(reopened.get("d-6").flatMap(_.metadata).contains(Map("k" -> 6L)))
    assert(reopened.maxLongId == 19L)
    // batch hydrate crosses base + tombstone mask correctly
    val recs = reopened.getByLongIds(Seq(3L, 4L, 6L))
    assert(!recs.contains(3L))
    assert(recs(4L).text == "rewritten")
    assert(recs(6L).docId == "d-6")
  }

  test("filtered search equals the brute-force filtered top-10, through upserts and deletes") {
    val docs = spark.read.parquet(s"${TestSpark.sfDir}/documents.parquet")
      .select(col("doc_id"), col("text"), col("lang"),
        to_json(struct(col("lang"), col("source"))).as("metadata"))
    val svc = DocumentService.overCorpus(docs, "doc_id", "text",
      Embedder.MockEncoder(dim), s"$tmp/filtered-store")
    // the shadow model: doc_id -> (text, lang) of every live document
    val live = collection.mutable.Map.empty[String, (String, String)]
    docs.collect().foreach(r => live(r.getLong(0).toString) = (r.getString(1), r.getString(2)))
    val enc = Embedder.MockEncoder(dim)
    val vecs = collection.mutable.Map.empty[String, Array[Float]]
    def dist(q: Array[Float], text: String): Double = {
      val v = vecs.getOrElseUpdate(text, enc.encodeBatch(Seq(text)).head)
      q.indices.map { i => val d = q(i).toDouble - v(i); d * d }.sum
    }
    val query = "spark window merge table column"
    val qv = enc.encodeBatch(Seq(query)).head
    def ranked(): Seq[(String, String, Double)] =
      live.toSeq.map { case (id, (t, l)) => (id, l, dist(qv, t)) }.sortBy(_._3)
    // the service's over-fetch rounds for `lang`: k = 10, 40, 160, ...
    // until the unfiltered top-k holds 10 matches or covers every document
    def rounds(lang: String): Int = {
      val all = ranked()
      var (k, n) = (10, 1)
      while (all.take(k).count(_._2 == lang) < 10 && k < all.size) {
        k = math.min(k * 4, all.size); n += 1
      }
      n
    }
    val counter = new QueryJobs.Counter(spark)
    def check(lang: String, label: String): Seq[svc.Hit] = {
      val (hits, _, cost) = counter.profile(svc.search(query, 10, Some(Map("lang" -> lang))))
      val want = ranked().filter(_._2 == lang).take(10).map(_._3)
      val got = hits.map(_.distance)
      assert(got.size === 10, label)
      assert(got.sorted.zip(want).forall { case (g, w) => math.abs(g - w) <= 1e-4 * math.max(1.0, w) },
        s"$label: got $got, brute force $want")
      hits.foreach { h =>
        assert(live.get(h.docId).map(_._2).contains(lang), s"$label: ${h.docId} is not live in $lang")
        assert(math.abs(dist(qv, live(h.docId)._1) - h.distance) <= 1e-4 * math.max(1.0, h.distance))
      }
      // one index job per over-fetch round, and no hydrate job
      assert(cost.jobs === rounds(lang), s"$label: $cost")
      hits
    }
    val counts = live.values.groupBy(_._2).map { case (l, v) => l -> v.size }
    val (rare, common) = (counts.minBy(_._2)._1, counts.maxBy(_._2)._1)
    assert(rounds(rare) >= 3, s"$rare should need at least three over-fetch rounds")
    check(rare, s"selective lang $rare")
    check(common, s"common lang $common")
    // an upsert moves the common language's nearest doc into the rare one
    val moved = ranked().find(_._2 == common).get._1
    svc.insert(moved, live(moved)._1, Some(Map("lang" -> rare, "source" -> "upserted")))
    live(moved) = (live(moved)._1, rare)
    assert(check(rare, "after upsert").exists(_.docId == moved))
    assert(!check(common, "after upsert").exists(_.docId == moved))
    // a delete drops the rare language's nearest base doc
    val deleted = ranked().find(r => r._2 == rare && r._1 != moved).get._1
    assert(svc.delete(deleted))
    live.remove(deleted)
    assert(!check(rare, "after delete").exists(_.docId == deleted))
    // the request path: an unfiltered search is one index job; a base get none
    val (_, _, plain) = counter.profile(svc.search(query, 10, None))
    assert(plain.jobs === 1, s"unfiltered search: $plain")
    val baseDoc = live.keys.find(_ != moved).get
    val (got, _, get) = counter.profile(svc.get(baseDoc))
    assert(got.map(_._1) === Some(live(baseDoc)._1))
    assert(get.jobs === 0, s"base get: $get")
  }

  test("heap and parquet stores serve identical search results") {
    val corpus = spark.read.parquet(s"${TestSpark.sfDir}/documents.parquet")
      .where(col("doc_id") < 40).select(col("doc_id"), col("text"))
    val heapIdx = {
      import spark.implicits._
      val vecs = Embedder.embed(corpus, "doc_id", "text", Embedder.MockEncoder(dim))
        .select(col("doc_id"), col("embedding")).as[(Long, Array[Float])].rdd
      ServingIndex.mutableFlat(vecs, dim)
    }
    val heapSvc = new DocumentService(Embedder.MockEncoder(dim), heapIdx, "heap")
    corpus.collect().foreach(r =>
      heapSvc.insert(r.getLong(0).toString, r.getString(1), None))
    val distSvc = DocumentService.overCorpus(corpus, "doc_id", "text",
      Embedder.MockEncoder(dim), s"$tmp/parity-store")
    val q = "what does this corpus contain"
    val h = heapSvc.search(q, 5, None).map(x => (x.docId, x.distance))
    val d = distSvc.search(q, 5, None).map(x => (x.docId, x.distance))
    assert(h == d)
  }
}
