package perfbench

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentHashMap, Executors, ThreadPoolExecutor, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import graft.operators.{Embedder, ServingCounters, ServingIndex}
import graft.serving.{DocRecord, DocStore, DocumentService, HttpServing, Json, ParquetDocStore}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** `serving_mixed`: the HTTP document API over the sf0.1 documents, driven
  * open loop. Arrival times and the request mix are fixed in advance by
  * the seed; each request is timed from its due time, so a client that
  * falls behind shows as latency, not as a lower offered rate. */
object ServingMixed {
  val RefRate = 2.0 // req/s, about a quarter of the measured capacity
  val Clients: Int = Session.cores
  val NResults = 10
  val BlockSize = 20 // requests holding the mix once
  val Dim = 64
  val Ladder: Seq[Double] = Seq(3.0, 4.0, 6.0, 8.0, 10.0)
  val RungSeconds = 3.0
  // a lang-filtered search alone takes 0.35-0.55 s on an idle service
  // (adaptive over-fetch rounds), so the limit sits above that
  val LatencyLimitS = 1.0
  private val Langs = Array("en", "de", "es", "fr", "zh")
  private val Vocab = ("spark window merge table column vector stream value data small join " +
    "filter big group hash customer sort order slow line part fast row " +
    "the agg key query a scan batch").split(" ")

  sealed trait Kind
  case object Search extends Kind
  case object Insert extends Kind
  case object Delete extends Kind
  case object Get extends Kind

  /** One planned request: due `dueS` seconds after its phase starts. */
  final case class Op(id: String, kind: Kind, dueS: Double, docId: String, text: String,
                      lang: Option[String])

  final case class Done(op: Op, dueNs: Long, sentNs: Long, endNs: Long, status: Int,
                        hits: Seq[(String, Double)], serverS: Double, body: String) {
    def latency: Double = (endNs - dueNs) / 1e9
  }

  /** Seeded request list at `rate` for `seconds`: one arrival per period,
    * jittered by up to a quarter period either way (Poisson bursts would
    * make a 20-request tail a lottery on the seed). Each block of 20
    * requests holds exactly the mix — 16 searches (4 filtered on `lang`),
    * 2 inserts, 1 delete, 1 get — in a seeded order, so the mix does not
    * vary with the seed either. Deletes take distinct base documents; gets
    * take base documents no delete touches, so every request is valid
    * when it is due. */
  final class Planner(seed: Long, baseIds: IndexedSeq[String]) {
    private val rnd = new java.util.Random(seed)
    private val pool = Main.shuffled(baseIds, seed ^ 0x5eedL)
    private val (deletable, readable) = pool.splitAt(pool.size / 2)
    private val Block: Seq[Option[Kind]] =
      Seq.fill(12)(Some(Search)) ++ Seq.fill(4)(None) ++ Seq(Some(Insert), Some(Insert), Some(Delete), Some(Get))
    require(Block.size == BlockSize)
    private var nextDelete = 0
    private var nextInsert = 0
    private var nextFilter = 0

    private def words(lo: Int, hi: Int): String =
      Seq.fill(lo + rnd.nextInt(hi - lo + 1))(Vocab(rnd.nextInt(Vocab.length))).mkString(" ")

    // the k-th filtered search of a run has the same language and text
    // whatever the seed: its cost is the number of over-fetch rounds its
    // filter needs, and a run holds only four of them
    private val filterTexts = {
      val r = new java.util.Random(7L)
      Seq.fill(4 * Langs.length)(Seq.fill(3 + r.nextInt(10))(Vocab(r.nextInt(Vocab.length))).mkString(" "))
    }
    private def filtered(id: String, t: Double): Op = {
      nextFilter += 1
      Op(id, Search, t, "", filterTexts((nextFilter - 1) % filterTexts.size),
        Some(Langs((nextFilter - 1) % Langs.length)))
    }

    def plan(phase: String, rate: Double, seconds: Double): Seq[Op] = {
      val n = math.floor(seconds * rate).toInt
      val kinds = Iterator.continually(Main.shuffled(Block, rnd.nextLong())).flatten.take(n).toSeq
      kinds.zipWithIndex.map { case (kind, i) =>
        val id = s"$phase-$i"
        val t = (i + 0.5 + (rnd.nextDouble() - 0.5) / 2) / rate
        kind match {
          case Some(Search) => Op(id, Search, t, "", words(3, 12), None)
          case None => filtered(id, t)
          case Some(Insert) =>
            nextInsert += 1
            Op(id, Insert, t, s"ins-$phase-$nextInsert", words(10, 100), Some(Langs(rnd.nextInt(Langs.length))))
          case Some(Delete) =>
            nextDelete += 1
            Op(id, Delete, t, deletable(nextDelete - 1), "", None)
          case Some(Get) => Op(id, Get, t, readable(rnd.nextInt(readable.size)), "", None)
        }
      }
    }

    /** Sequential searches before the measured phase: unfiltered ones, then
      * one filtered on each language. */
    def warmup(n: Int): Seq[Op] =
      (0 until n).map(i => Op(s"warmup-$i", Search, 0.0, "", words(3, 12), None)) ++
        Langs.indices.map(i => Op(s"warmup-lang-$i", Search, 0.0, "", words(3, 12), Some(Langs(i))))
  }

  // ---- timing wrappers around the public traits the service is built on

  final class Clock {
    val ns = new ConcurrentHashMap[String, AtomicLong]()
    def add(key: String, d: Long): Unit = ns.computeIfAbsent(key, _ => new AtomicLong).addAndGet(d)
    def seconds(key: String): Double = Option(ns.get(key)).map(_.get / 1e9).getOrElse(0.0)
    def reset(): Unit = ns.clear()
    def time[T](key: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try body finally add(key, System.nanoTime() - t0)
    }
  }

  final class TimedEncoder(inner: Embedder.TextEncoder, clock: Clock, queries: java.util.Set[String])
      extends Embedder.TextEncoder {
    def dim: Int = inner.dim
    def encodeBatch(texts: Seq[String]): Seq[Array[Float]] =
      clock.time(if (texts.forall(queries.contains)) "encode.search" else "encode.insert")(inner.encodeBatch(texts))
  }

  final class TimedStore(inner: DocStore, clock: Clock) extends DocStore {
    def put(rec: DocRecord): Unit = clock.time("store.mutate")(inner.put(rec))
    def get(docId: String): Option[DocRecord] = clock.time("store.mutate")(inner.get(docId))
    def getByLongIds(ids: Seq[Long]): Map[Long, DocRecord] = clock.time("store.hydrate")(inner.getByLongIds(ids))
    def delete(docId: String): Option[DocRecord] = clock.time("store.mutate")(inner.delete(docId))
    def size: Long = inner.size
    def maxLongId: Long = inner.maxLongId
  }

  private def corpus(spark: SparkSession, data: String) =
    graft.Tables(spark, data, "documents")
      .select(col("doc_id"), col("text"), to_json(struct(col("lang"), col("source"))).as("metadata"))

  /** The service as `DocumentService.overCorpus` builds it; the traced run
    * spells the same steps out to hand the service timed wrappers. */
  private def service(spark: SparkSession, data: String, storeDir: String,
                      timed: Option[(Clock, java.util.Set[String])]): DocumentService = {
    val enc = Embedder.MockEncoder(Dim)
    timed match {
      case None => DocumentService.overCorpus(corpus(spark, data), "doc_id", "text", enc, storeDir)
      case Some((clock, queries)) =>
        import spark.implicits._
        val base = corpus(spark, data).select(col("doc_id").cast("long").as("long_id"),
          col("doc_id").cast("string").as("doc_id"), col("text"), col("metadata"))
        val store = ParquetDocStore.bootstrap(spark, storeDir, base)
        val vecs = Embedder.embed(base.select(col("long_id"), col("text")), "long_id", "text", enc)
          .select(col("long_id"), col("embedding")).as[(Long, Array[Float])].rdd
        new DocumentService(new TimedEncoder(enc, clock, queries), ServingIndex.mutableFlat(vecs, Dim),
          "documents", new TimedStore(store, clock))
    }
  }

  // ---- client --------------------------------------------------------

  private def call(port: Int, method: String, path: String, body: String): (Int, String) = {
    val c = URI.create(s"http://127.0.0.1:$port$path").toURL.openConnection().asInstanceOf[HttpURLConnection]
    c.setRequestMethod(method)
    if (body != null) {
      c.setDoOutput(true)
      c.setRequestProperty("Content-Type", "application/json")
      val os = c.getOutputStream
      try os.write(body.getBytes(UTF_8)) finally os.close()
    }
    val code = c.getResponseCode
    val is = if (code < 400) c.getInputStream else c.getErrorStream
    val txt = try new String(is.readAllBytes(), UTF_8) finally is.close()
    (code, txt)
  }

  private def jsonStr(s: String): String = Json.write(s)

  private def execute(port: Int, op: Op, dueNs: Long): Done = {
    val sent = System.nanoTime()
    val (code, body) = try op.kind match {
      case Search =>
        val filter = op.lang.map(l => s""", "metadata_filter": {"lang": ${jsonStr(l)}}""").getOrElse("")
        call(port, "POST", "/api/v1/search",
          s"""{"query": ${jsonStr(op.text)}, "n_results": $NResults$filter}""")
      case Insert =>
        call(port, "POST", "/api/v1/insert",
          s"""{"doc_id": ${jsonStr(op.docId)}, "text": ${jsonStr(op.text)}, """ +
            s""""metadata": {"lang": ${jsonStr(op.lang.get)}, "source": "inserted"}}""")
      case Delete => call(port, "DELETE", s"/api/v1/documents/${op.docId}", null)
      case Get => call(port, "GET", s"/api/v1/documents/${op.docId}", null)
    } catch { case e: java.io.IOException => (-1, e.toString) }
    val end = System.nanoTime()
    val (hits, serverS) = if (op.kind == Search && code == 200) {
      val m = Json.parse(body).asInstanceOf[Map[String, Any]]
      val hs = m("results").asInstanceOf[Seq[Map[String, Any]]].map { h =>
        h("doc_id").asInstanceOf[String] -> h("distance").asInstanceOf[Number].doubleValue()
      }
      (hs, m("search_time_ms").asInstanceOf[Number].doubleValue() / 1e3)
    } else (Seq.empty, 0.0)
    Done(op, dueNs, sent, end, code, hits, serverS, if (op.kind == Get) body else "")
  }

  final case class Phase(done: Seq[Done], startNs: Long, maxLateS: Double, backlogMax: Int) {
    def wallS: Double = (done.map(_.endNs).max - startNs) / 1e9
  }

  /** Send `ops` open loop from up to `Clients` threads. */
  private def drive(port: Int, ops: Seq[Op], spans: Spans, label: String): Phase = {
    val pool = Executors.newFixedThreadPool(Clients).asInstanceOf[ThreadPoolExecutor]
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Done]
    var maxLate = 0L
    var backlog = 0
    val start = System.nanoTime() + 20000000L
    ops.foreach { op =>
      val due = start + (op.dueS * 1e9).toLong
      var now = System.nanoTime()
      while (now < due) {
        val d = due - now
        if (d > 2000000L) Thread.sleep((d - 1000000L) / 1000000L) else Thread.onSpinWait()
        now = System.nanoTime()
      }
      maxLate = math.max(maxLate, now - due)
      backlog = math.max(backlog, pool.getQueue.size + pool.getActiveCount)
      pool.execute(() => {
        val d = execute(port, op, due)
        spans.add(s"request.${op.kind.toString.toLowerCase}", d.sentNs, d.endNs, label, op.id)
        results.add(d)
      })
    }
    pool.shutdown()
    pool.awaitTermination(120, TimeUnit.SECONDS)
    import scala.jdk.CollectionConverters._
    Phase(results.asScala.toSeq.sortBy(_.dueNs), start, maxLate / 1e9, backlog)
  }

  // ---- shadow model and output check -----------------------------------

  private final class Model(val text: Map[String, String], val lang: Map[String, String]) {
    private val enc = Embedder.MockEncoder(Dim)
    private val vecs = mutable.HashMap.empty[String, Array[Float]]
    def vec(text: String): Array[Float] = vecs.getOrElseUpdate(text, enc.encodeBatch(Seq(text)).head)
    def dist(q: Array[Float], v: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < q.length) { val d = q(i).toDouble - v(i); s += d * d; i += 1 }
      s
    }
  }

  private def close(a: Seq[Double], b: Seq[Double]): Boolean =
    a.length == b.length && a.sorted.zip(b.sorted).forall { case (x, y) => math.abs(x - y) <= 1e-4 * math.max(1.0, y) }

  /** Check every request against a shadow model of the live documents.
    * A search must return the exact top-n by squared L2 over the
    * MockEncoder vectors of the documents live when it ran; a mutation in
    * flight during the search may or may not be visible, so each subset of
    * those is tried. Distances compare as multisets: ties may resolve
    * either way. */
  private def check(all: Seq[Done], model: Model, out: Main.Outcome): Unit = {
    val muts = all.filter(d => d.op.kind == Insert || d.op.kind == Delete)
    all.foreach { d =>
      out.attempted += 1
      if (d.status != 200) out.fail(s"${d.op.id} ${d.op.kind} status ${d.status}")
      else d.op.kind match {
        case Get =>
          val m = Json.parse(d.body).asInstanceOf[Map[String, Any]]
          if (!model.text.get(d.op.docId).contains(m("text")))
            out.fail(s"${d.op.id} get ${d.op.docId} returned other text")
        case Search =>
          val before = muts.filter(_.endNs <= d.sentNs)
          val maybe = muts.filter(m => m.sentNs < d.endNs && m.endNs > d.sentNs)
          val q = model.vec(d.op.text)
          val got = d.hits.map(_._2)
          val ok = (0 until (1 << math.min(maybe.size, 10))).exists { mask =>
            val applied = before ++ maybe.indices.filter(i => (mask >> i & 1) == 1).map(maybe)
            val live = mutable.HashMap.empty[String, (String, String)]
            model.text.foreach { case (id, t) => live(id) = (t, model.lang(id)) }
            applied.sortBy(_.endNs).foreach { m =>
              if (m.op.kind == Insert) live(m.op.docId) = (m.op.text, m.op.lang.get)
              else live.remove(m.op.docId)
            }
            val cands = live.iterator.filter { case (_, (_, l)) => d.op.lang.forall(_ == l) }
              .map { case (id, (t, _)) => id -> model.dist(q, model.vec(t)) }.toSeq
            val top = cands.map(_._2).sorted.take(NResults)
            // a delete racing the search can drop a hit after ranking
            val raced = maybe.filter(_.op.kind == Delete).map(_.op.docId).toSet
            val topRaced = cands.filterNot(c => raced(c._1)).map(_._2).sorted.take(got.size)
            val idsOk = d.hits.forall { case (id, dist) => live.get(id).exists { case (t, _) =>
              math.abs(model.dist(q, model.vec(t)) - dist) <= 1e-4 * math.max(1.0, dist) } }
            idsOk && (close(got, top) || (got.size < NResults && close(got, topRaced)))
          }
          if (!ok) out.fail(s"${d.op.id} search '${d.op.text}' lang=${d.op.lang} returned ${d.hits}")
        case _ =>
      }
    }
  }

  // ---- the workload ----------------------------------------------------

  def run(a: Main.Args, spans: Spans): Main.Outcome = {
    val out = new Main.Outcome
    val clock = new Clock
    val queryTexts = ConcurrentHashMap.newKeySet[String]()
    // set-up: a session of the engine and the service's bootstrap
    var rep = 0
    val (setupS, spark, svc) = Session.setUp(a.work) { s =>
      rep += 1
      service(s, a.data, s"${a.work}/store-$rep", if (a.trace) Some((clock, queryTexts)) else None)
    }
    out.metrics("setup_s") = setupS
    val rows = graft.Tables(spark, a.data, "documents").select("doc_id", "text", "lang").collect()
    val model = new Model(rows.map(r => r.getLong(0).toString -> r.getString(1)).toMap,
      rows.map(r => r.getLong(0).toString -> r.getString(2)).toMap)
    val planner = new Planner(a.seed, rows.map(_.getLong(0).toString).toIndexedSeq.sorted)
    val server = HttpServing.start(svc, new ServingCounters(spark.sparkContext), 0, handlerThreads = 2 * Clients)
    val port = server.port
    def plan(phase: String, rate: Double, seconds: Double): Seq[Op] = {
      val ops = planner.plan(phase, rate, seconds)
      ops.filter(_.kind == Search).foreach(o => queryTexts.add(o.text))
      ops
    }
    val all = mutable.ArrayBuffer.empty[Done]

    // warm-up: sequential searches, no mutation in flight
    val warm = planner.warmup(2 * Clients)
    warm.foreach(o => queryTexts.add(o.text))
    warm.foreach(o => all += execute(port, o, System.nanoTime()))

    // a pass is the schedule; its summed latency moves with every request
    def summarize(p: Phase): (Double, Double) = (p.done.map(_.latency).sum, Main.median(p.done.map(_.latency)))
    // at least one whole block of the mix per phase, so the traced phase
    // holds every kind of request
    val window = math.max(a.seconds.toDouble, BlockSize / RefRate)
    Main.note("warm-up done")
    val ref = drive(port, plan("ref", RefRate, window), spans, "ref")
    Main.note(f"reference phase: ${ref.done.size} requests, p50 ${summarize(ref)._2}%.3f s")
    all ++= ref.done
    val (passS, p50) = summarize(ref)
    out.metrics("pass_s") = passS
    out.metrics("op_p50_s") = p50

    if (a.trace) {
      val jvm = new JvmLayers
      val layers = new SparkLayers(spark, Session.cores).attach()
      clock.reset()
      jvm.start()
      val m0 = System.currentTimeMillis()
      val traced = drive(port, plan("traced", RefRate, window), spans, "traced")
      val m1 = System.currentTimeMillis()
      out.metrics ++= jvm.stop()
      all ++= traced.done
      out.metrics ++= layers.totals(Seq(m0 -> m1))
      val (tPass, tP50) = summarize(traced)
      out.metrics("trace.overhead_pass_s") = tPass - passS
      out.metrics("trace.overhead_op_p50_s") = tP50 - p50
      val searches = traced.done.filter(_.op.kind == Search)
      val mutations = traced.done.filter(_.op.kind != Search)
      out.metrics("serving.search_p50_s") = Main.median(searches.map(_.latency))
      out.metrics("serving.search_p95_s") = Main.quantile(searches.map(_.latency), 0.95)
      out.metrics("serving.mutate_p50_s") = Main.median(mutations.map(_.latency))
      val serverSearch = searches.map(_.serverS).sum
      out.metrics("serving.http_s") = searches.map(d => (d.endNs - d.sentNs) / 1e9).sum - serverSearch
      out.metrics("serving.encode_s") = clock.seconds("encode.search") + clock.seconds("encode.insert")
      out.metrics("serving.hydrate_s") = clock.seconds("store.hydrate")
      out.metrics("serving.index_s") = serverSearch - clock.seconds("encode.search") - clock.seconds("store.hydrate")
      out.metrics("serving.mutate_store_s") = clock.seconds("store.mutate")
      out.metrics("serving.generator_late_s") = traced.maxLateS
      out.metrics("serving.backlog_max") = traced.backlogMax.toDouble
      layers.detach()

      // rate ladder: the highest offered rate whose search p95 stays within
      // the limit while the backlog stays below the client count
      var best = 0.0
      Ladder.iterator.takeWhile { rate =>
        val p = drive(port, plan(s"ladder${(rate * 10).toInt}", rate, RungSeconds), spans, s"ladder-$rate")
        all ++= p.done
        val s = p.done.filter(_.op.kind == Search).map(_.latency)
        val ok = s.nonEmpty && Main.quantile(s, 0.95) <= LatencyLimitS && p.backlogMax <= Clients
        if (ok) best = p.done.size / p.wallS
        ok
      }.foreach(_ => ())
      out.metrics("serving.max_rps") = best
    }
    server.stop()
    check(all.toSeq, model, out)
    spark.stop()
    out
  }
}
