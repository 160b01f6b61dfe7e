package graft.serving

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.Executors
import java.util.concurrent.atomic.AtomicLong

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.operators.{Embedder, KnnSearch, ServingCounters, ServingIndex}

/**
 * Minimal JSON codec for the serving surface (zero dependencies — the
 * engine's analytics paths use Spark's JSON functions; an HTTP request
 * body never touches a DataFrame, so it gets a ~100-line recursive-descent
 * parser instead of a library).
 *
 * Parse model: objects → `Map[String, Any]`, arrays → `Vector[Any]`,
 * strings → `String`, numbers → `Long` when integral else `Double`,
 * `true/false/null` → `Boolean`/`null`. Writer accepts the same plus
 * [[Json.Obj]] (field order preserved — response bodies mirror the
 * reference's pydantic field order, and tests read nicer).
 */
object Json {

  /** Order-preserving JSON object for responses. */
  final case class Obj(fields: (String, Any)*)

  final class ParseError(msg: String) extends RuntimeException(msg)

  def parse(s: String): Any = {
    val p = new Parser(s)
    val v = p.value()
    p.skipWs()
    if (!p.atEnd) throw new ParseError(s"trailing content at ${p.pos}")
    v
  }

  private final class Parser(s: String) {
    var pos = 0
    def atEnd: Boolean = pos >= s.length
    def skipWs(): Unit =
      while (pos < s.length && Character.isWhitespace(s.charAt(pos))) pos += 1
    private def fail(msg: String): Nothing = throw new ParseError(s"$msg at $pos")
    private def expect(c: Char): Unit = {
      if (atEnd || s.charAt(pos) != c) fail(s"expected '$c'")
      pos += 1
    }

    def value(): Any = {
      skipWs()
      if (atEnd) fail("unexpected end")
      s.charAt(pos) match {
        case '{' => obj()
        case '[' => arr()
        case '"' => str()
        case 't' => lit("true", java.lang.Boolean.TRUE)
        case 'f' => lit("false", java.lang.Boolean.FALSE)
        case 'n' => lit("null", null)
        case c if c == '-' || (c >= '0' && c <= '9') => num()
        case c => fail(s"unexpected '$c'")
      }
    }

    private def lit(word: String, v: Any): Any = {
      if (!s.startsWith(word, pos)) fail(s"expected $word")
      pos += word.length; v
    }

    private def obj(): Map[String, Any] = {
      expect('{'); skipWs()
      val b = Map.newBuilder[String, Any]
      if (!atEnd && s.charAt(pos) == '}') { pos += 1; return b.result() }
      var done = false
      while (!done) {
        skipWs()
        val k = str()
        skipWs(); expect(':')
        b += k -> value()
        skipWs()
        if (!atEnd && s.charAt(pos) == ',') pos += 1
        else { expect('}'); done = true }
      }
      b.result()
    }

    private def arr(): Vector[Any] = {
      expect('['); skipWs()
      val b = Vector.newBuilder[Any]
      if (!atEnd && s.charAt(pos) == ']') { pos += 1; return b.result() }
      var done = false
      while (!done) {
        b += value()
        skipWs()
        if (!atEnd && s.charAt(pos) == ',') pos += 1
        else { expect(']'); done = true }
      }
      b.result()
    }

    private def str(): String = {
      expect('"')
      val sb = new java.lang.StringBuilder
      while (true) {
        if (atEnd) fail("unterminated string")
        val c = s.charAt(pos); pos += 1
        c match {
          case '"' => return sb.toString
          case '\\' =>
            if (atEnd) fail("unterminated escape")
            val e = s.charAt(pos); pos += 1
            e match {
              case '"' => sb.append('"');  case '\\' => sb.append('\\')
              case '/' => sb.append('/');  case 'b' => sb.append('\b')
              case 'f' => sb.append('\f'); case 'n' => sb.append('\n')
              case 'r' => sb.append('\r'); case 't' => sb.append('\t')
              case 'u' =>
                if (pos + 4 > s.length) fail("bad \\u escape")
                sb.append(Integer.parseInt(s.substring(pos, pos + 4), 16).toChar)
                pos += 4
              case other => fail(s"bad escape '\\$other'")
            }
          case other => sb.append(other)
        }
      }
      throw new IllegalStateException("unreachable")
    }

    private def num(): Any = {
      val start = pos
      if (!atEnd && s.charAt(pos) == '-') pos += 1
      while (!atEnd && { val c = s.charAt(pos); c >= '0' && c <= '9' }) pos += 1
      var integral = true
      if (!atEnd && s.charAt(pos) == '.') {
        integral = false; pos += 1
        while (!atEnd && { val c = s.charAt(pos); c >= '0' && c <= '9' }) pos += 1
      }
      if (!atEnd && (s.charAt(pos) == 'e' || s.charAt(pos) == 'E')) {
        integral = false; pos += 1
        if (!atEnd && (s.charAt(pos) == '+' || s.charAt(pos) == '-')) pos += 1
        while (!atEnd && { val c = s.charAt(pos); c >= '0' && c <= '9' }) pos += 1
      }
      val text = s.substring(start, pos)
      if (text.isEmpty || text == "-") fail("bad number")
      if (integral)
        try java.lang.Long.valueOf(text)
        catch { case _: NumberFormatException => java.lang.Double.valueOf(text) }
      else java.lang.Double.valueOf(text)
    }
  }

  def write(v: Any): String = {
    val sb = new java.lang.StringBuilder
    writeTo(sb, v)
    sb.toString
  }

  private def writeTo(sb: java.lang.StringBuilder, v: Any): Unit = v match {
    case null => sb.append("null")
    case Obj(fields @ _*) =>
      sb.append('{')
      var first = true
      fields.foreach { case (k, fv) =>
        if (!first) sb.append(','); first = false
        writeString(sb, k); sb.append(':'); writeTo(sb, fv)
      }
      sb.append('}')
    case m: Map[_, _] =>
      sb.append('{')
      var first = true
      m.foreach { case (k, fv) =>
        if (!first) sb.append(','); first = false
        writeString(sb, String.valueOf(k)); sb.append(':'); writeTo(sb, fv)
      }
      sb.append('}')
    case xs: Iterable[_] =>
      sb.append('[')
      var first = true
      xs.foreach { x => if (!first) sb.append(','); first = false; writeTo(sb, x) }
      sb.append(']')
    case s: String => writeString(sb, s)
    case b: Boolean => sb.append(if (b) "true" else "false")
    case i: Int => sb.append(i)
    case l: Long => sb.append(l)
    case d: Double =>
      // bare NaN/Infinity are invalid JSON (same guard as Bench's emitter)
      if (java.lang.Double.isFinite(d)) sb.append(d) else sb.append("null")
    case f: Float => writeTo(sb, f.toDouble)
    case other => writeString(sb, other.toString)
  }

  private def writeString(sb: java.lang.StringBuilder, s: String): Unit = {
    sb.append('"')
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      c match {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case x if x < 0x20 => sb.append(f"\\u${x.toInt}%04x")
        case x => sb.append(x)
      }
      i += 1
    }
    sb.append('"')
  }
}

/**
 * Text-document CRUD + search service over the engine's serving tier —
 * the semantics of the reference's ChromaDB-backed `VectorDatabase`
 * (ref: day_8/database.py:29-115) re-expressed over
 * [[ServingIndex.Mutable]] (LSM base+delta+tombstones) with the
 * [[Embedder.TextEncoder]] seam providing text→vector.
 *
 * String doc_ids (the reference's key type) map to the engine's long
 * vector ids through a [[DocStore]]; text + metadata live beside the
 * mapping, exactly like Chroma keeps documents/metadatas beside the
 * HNSW store. The store seam is where the serving surface stops being
 * driver-bound: [[HeapDocStore]] (the default) keeps payloads in
 * serving RAM, [[ParquetDocStore]] keeps the base generation on disk
 * with O(delta) driver state — paired with the Mutable index's
 * RDD-resident slabs, the whole service then holds no corpus-sized
 * driver structure at all (see [[DocumentService.overCorpus]]).
 * Distances reported are SQUARED L2 — Chroma's default `hnsw:space=l2`
 * returns squared distances and day_8 passes them straight through, so
 * the facade matches that contract (our [[KnnSearch.L2]] scores are
 * euclidean; the facade squares them).
 *
 * Metadata filtering is Chroma's `where={k: v}` conjunction-of-equality
 * form. The index has no metadata notion, so the service over-fetches
 * adaptively (k, 4k, 16k, … up to the live size) until `n` survivors
 * match — the same filter-after-candidates shape the engine's filtered
 * k-NN (P1) uses. Hydration is BATCHED per round (one store lookup for
 * the whole candidate list), and a parquet-backed store answers it on the
 * driver: a round costs one index job and no hydrate job.
 *
 * Thread-safe: the store is guarded by the instance lock; the Mutable
 * index has its own. Handlers may call concurrently.
 */
final class DocumentService(
    encoder: Embedder.TextEncoder,
    val index: ServingIndex.Mutable,
    val collectionName: String,
    store: DocStore) {

  def this(encoder: Embedder.TextEncoder, index: ServingIndex.Mutable,
           collectionName: String = "documents") =
    this(encoder, index, collectionName, new HeapDocStore)

  private val nextId = new AtomicLong(store.maxLongId + 1L)

  def embeddingDimension: Int = encoder.dim

  def documentCount: Long = synchronized(store.size)

  /** Insert or replace (day_8 insert allows re-insert of an id: Chroma
    * upserts; ours mirrors via Mutable.upsert). */
  def insert(docId: String, text: String,
             metadata: Option[Map[String, Any]]): Unit = {
    val vec = encoder.encodeBatch(Seq(text)).head
    synchronized {
      val id = store.get(docId).map(_.longId)
        .getOrElse(nextId.getAndIncrement())
      index.upsert(id, vec)
      store.put(DocRecord(docId, id, text, metadata))
    }
  }

  /** doc_id → (text, metadata, embedding_dimension), or None (→ 404). */
  def get(docId: String): Option[(String, Option[Map[String, Any]], Int)] =
    synchronized {
      store.get(docId).map(r => (r.text, r.metadata, encoder.dim))
    }

  /** true iff the document existed (404 contract needs the distinction). */
  def delete(docId: String): Boolean = synchronized {
    store.delete(docId) match {
      case Some(r) => index.delete(r.longId); true
      case None => false
    }
  }

  final case class Hit(docId: String, text: String,
                       metadata: Option[Map[String, Any]], distance: Double)

  /** Top-n by squared L2 over the merged (base−tombstones+delta) view,
    * post-filtered on metadata equality with adaptive over-fetch. */
  def search(query: String, nResults: Int,
             metadataFilter: Option[Map[String, Any]]): Seq[Hit] = {
    val total = documentCount
    if (total == 0) return Seq.empty
    val qv = encoder.encodeBatch(Seq(query)).head
    def matches(r: DocRecord): Boolean = metadataFilter.forall { f =>
      val md = r.metadata.getOrElse(Map.empty)
      f.forall { case (k, v) => md.get(k).exists(jsonEq(_, v)) }
    }
    var k = math.min(nResults, total).toInt
    while (true) {
      val raw = index.search(Array((0L, qv)), k, KnnSearch.L2).head._2
      val hits = synchronized {
        // one batched hydrate per round: a disk-backed store turns this
        // into a single IN-filter read of its base for all candidates
        val recs = store.getByLongIds(raw.map(_._2).toSeq)
        raw.iterator.flatMap { case (score, longId) =>
          // a race with delete can leave a just-removed id in the result;
          // the store is the source of truth, so drop orphans
          recs.get(longId) match {
            case Some(r) if matches(r) => Iterator.single(
              Hit(r.docId, r.text, r.metadata, score.toDouble * score.toDouble))
            case _ => Iterator.empty
          }
        }.take(nResults).toVector
      }
      if (hits.length >= nResults || k >= total) return hits
      k = math.min(math.max(k.toLong * 4, nResults.toLong), total).toInt
    }
    throw new IllegalStateException("unreachable")
  }

  /** Numeric JSON equality across the parser's Long/Double split
    * (`{"v": 3}` must match metadata stored as 3.0 and vice versa —
    * JSON has one number type). */
  private def jsonEq(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Number, y: Number) => x.doubleValue() == y.doubleValue()
    case _ => a == b
  }
}

object DocumentService {

  /**
   * Serve an existing corpus WITHOUT materializing it on the driver —
   * the beyond-driver-RAM serving route: document payloads bootstrap
   * into a [[ParquetDocStore]] base generation (written straight from
   * the corpus frame, sorted for point-lookup pruning), embeddings are
   * computed executor-side ([[Embedder.embed]]'s mapPartitions batching)
   * and land in the RDD-slab [[ServingIndex.Mutable]] tier. Driver
   * state after bootstrap: the mutation delta, the tombstone sets, a
   * Bloom filter, and counters — all O(mutations), none O(corpus).
   *
   * `idCol` must be unique and long-castable (every engine table keys
   * this way); it becomes both the vector id and the string doc_id, so
   * bootstrap needs no id-assignment pass over the corpus. A column
   * named `metadata` (JSON text) rides into the store when present.
   */
  def overCorpus(corpus: org.apache.spark.sql.DataFrame,
                 idCol: String, textCol: String,
                 encoder: Embedder.TextEncoder, storeDir: String,
                 collectionName: String = "documents",
                 numSlabs: Int = -1, maxDelta: Int = 4096): DocumentService = {
    val spark = corpus.sparkSession
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val base = corpus.select(
      col(idCol).cast("long").as("long_id") +:
      col(idCol).cast("string").as("doc_id") +:
      col(textCol).cast("string").as("text") +:
      (if (corpus.columns.contains("metadata"))
         Seq(col("metadata").cast("string")) else Seq.empty): _*)
    val store = ParquetDocStore.bootstrap(spark, storeDir, base, maxDelta)
    val vecs = Embedder.embed(base.select(col("long_id"), col("text")),
        "long_id", "text", encoder)
      .select(col("long_id"), col("embedding"))
      .as[(Long, Array[Float])].rdd
    val idx = ServingIndex.mutableFlat(vecs, encoder.dim, numSlabs,
      maxDelta = maxDelta)
    new DocumentService(encoder, idx, collectionName, store)
  }
}

/**
 * The HTTP serving surface (ref: day_8/main.py + endpoints.py routes,
 * day_14/src/main.py `/metrics`/`/stats`) over [[DocumentService]],
 * built on the JDK's `com.sun.net.httpserver` — zero added dependencies,
 * same reason the media codecs are pure-JVM.
 *
 * Routes (request/response shapes and status codes mirror the
 * reference's pydantic models — ref: day_8/models.py):
 *
 *   - `GET  /health`                  → `{status, message}`
 *   - `GET  /`                        → service descriptor
 *   - `POST /api/v1/insert`           → `{doc_id, text, metadata?}`;
 *        400 on validation (doc_id 1–100 chars of [alnum_-], text 1–10000)
 *   - `POST /api/v1/search`           → `{query, n_results?, metadata_filter?,
 *        include_distances?}` → `{query, results, total_results, search_time_ms}`
 *   - `GET  /api/v1/documents/{id}`   → doc or 404
 *   - `DELETE /api/v1/documents/{id}` → message or 404
 *   - `GET  /api/v1/collection/info`  → `{name, document_count, metadata}`
 *   - `POST /api/v1/batch/insert`     → ≤100 docs → success tally
 *   - `GET  /metrics`                 → prometheus text ([[ServingCounters.render]])
 *   - `GET  /stats`                   → `{total_queries, error_count, uptime_seconds}`
 *
 * Errors use FastAPI's `{"detail": msg}` envelope with the same codes
 * (400 validation, 404 missing, 405 bad method, 500 internal).
 *
 * The search route runs under [[ServingCounters.observe]] — one request
 * per HTTP call, like day_14's `rag_requests_total` middleware counter.
 */
final class HttpServing private (
    service: DocumentService,
    counters: ServingCounters,
    server: HttpServer) {

  private val startedNanos = System.nanoTime()

  def port: Int = server.getAddress.getPort

  def stop(): Unit = server.stop(0)

  private def uptimeSeconds: Double = (System.nanoTime() - startedNanos) / 1e9

  // ---- plumbing -----------------------------------------------------

  private final case class HttpError(code: Int, detail: String)
      extends RuntimeException(detail)

  private def send(ex: HttpExchange, code: Int, body: String,
                   contentType: String = "application/json"): Unit = {
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(code, bytes.length.toLong)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  private def handle(ex: HttpExchange)(body: => (Int, String)): Unit =
    try {
      val (code, out) = body
      if (code >= 0) send(ex, code, out) // negative = handler already sent
    } catch {
      case HttpError(code, detail) =>
        send(ex, code, Json.write(Json.Obj("detail" -> detail)))
      case t: Throwable =>
        send(ex, 500, Json.write(Json.Obj("detail" -> s"Internal server error: ${t.getMessage}")))
    } finally ex.close()

  private def readBody(ex: HttpExchange): String =
    new String(ex.getRequestBody.readAllBytes(), UTF_8)

  private def parseObj(raw: String): Map[String, Any] =
    try Json.parse(raw) match {
      case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]
      case _ => throw HttpError(400, "request body must be a JSON object")
    } catch {
      case _: Json.ParseError => throw HttpError(400, "invalid JSON body")
    }

  private def requireMethod(ex: HttpExchange, m: String): Unit =
    if (ex.getRequestMethod != m) throw HttpError(405, "Method Not Allowed")

  // ---- validation (ref: day_8/models.py field constraints) ----------

  private def str(m: Map[String, Any], k: String): String = m.get(k) match {
    case Some(s: String) => s
    case Some(_) => throw HttpError(400, s"$k must be a string")
    case None => throw HttpError(400, s"$k is required")
  }

  private def validDocId(id: String): String = {
    if (id.isEmpty || id.length > 100)
      throw HttpError(400, "doc_id must be 1-100 characters")
    val stripped = id.filterNot(c => c == '_' || c == '-')
    if (stripped.isEmpty || !stripped.forall(Character.isLetterOrDigit))
      throw HttpError(400,
        "doc_id must contain only alphanumeric characters, hyphens, and underscores")
    id
  }

  private def validText(t: String): String = {
    if (t.isEmpty || t.length > 10000)
      throw HttpError(400, "text must be 1-10000 characters")
    t
  }

  private def metadataOf(m: Map[String, Any]): Option[Map[String, Any]] =
    m.get("metadata") match {
      case None | Some(null) => None
      case Some(md: Map[_, _]) => Some(md.asInstanceOf[Map[String, Any]])
      case Some(_) => throw HttpError(400, "metadata must be an object")
    }

  private def docResponse(docId: String, text: String,
                          metadata: Option[Map[String, Any]]): Json.Obj =
    Json.Obj(
      "doc_id" -> docId, "text" -> text,
      "metadata" -> metadata.orNull,
      "embedding_dimension" -> service.embeddingDimension)

  // ---- routes -------------------------------------------------------

  private def register(): Unit = {
    server.createContext("/health", ex => handle(ex) {
      requireMethod(ex, "GET")
      200 -> Json.write(Json.Obj(
        "status" -> "healthy", "message" -> "Vector DB API is running"))
    })

    server.createContext("/metrics", ex => handle(ex) {
      requireMethod(ex, "GET")
      // text exposition, not JSON — send directly, then signal "sent"
      send(ex, 200, counters.render, "text/plain; version=0.0.4")
      alreadySent
    })

    server.createContext("/stats", ex => handle(ex) {
      requireMethod(ex, "GET")
      200 -> Json.write(Json.Obj(
        "total_queries" -> counters.queriesTotal.value,
        "error_count" -> counters.errorsTotal.value,
        "uptime_seconds" -> uptimeSeconds))
    })

    server.createContext("/api/v1/insert", ex => handle(ex) {
      requireMethod(ex, "POST")
      val m = parseObj(readBody(ex))
      val docId = validDocId(str(m, "doc_id"))
      val text = validText(str(m, "text"))
      val md = metadataOf(m)
      service.insert(docId, text, md)
      200 -> Json.write(docResponse(docId, text, md))
    })

    server.createContext("/api/v1/search", ex => handle(ex) {
      requireMethod(ex, "POST")
      val m = parseObj(readBody(ex))
      val query = str(m, "query")
      if (query.isEmpty || query.length > 1000)
        throw HttpError(400, "query must be 1-1000 characters")
      val n = m.get("n_results") match {
        case None => 5
        case Some(l: Long) if l >= 1 && l <= 50 => l.toInt
        case Some(_) => throw HttpError(400, "n_results must be between 1 and 50")
      }
      val filter = m.get("metadata_filter") match {
        case None | Some(null) => None
        case Some(f: Map[_, _]) => Some(f.asInstanceOf[Map[String, Any]])
        case Some(_) => throw HttpError(400, "metadata_filter must be an object")
      }
      val includeDistances = m.get("include_distances") match {
        case Some(b: Boolean) => b
        case _ => true
      }
      val t0 = System.nanoTime()
      val hits = counters.observe(1)(service.search(query, n, filter))
      val ms = (System.nanoTime() - t0) / 1e6
      val results = hits.map { h =>
        Json.Obj(
          "doc_id" -> h.docId, "text" -> h.text,
          "metadata" -> h.metadata.orNull,
          "distance" -> (if (includeDistances) h.distance else null))
      }
      200 -> Json.write(Json.Obj(
        "query" -> query,
        "results" -> results,
        "total_results" -> results.length,
        "search_time_ms" -> math.rint(ms * 100) / 100))
    })

    server.createContext("/api/v1/documents/", ex => handle(ex) {
      val docId = ex.getRequestURI.getPath.stripPrefix("/api/v1/documents/")
      if (docId.isEmpty || docId.contains('/')) throw HttpError(404, "Not Found")
      ex.getRequestMethod match {
        case "GET" =>
          service.get(docId) match {
            case Some((text, md, dim)) =>
              200 -> Json.write(Json.Obj(
                "doc_id" -> docId, "text" -> text,
                "metadata" -> md.orNull, "embedding_dimension" -> dim))
            case None =>
              throw HttpError(404, s"Document with ID '$docId' not found")
          }
        case "DELETE" =>
          if (!service.delete(docId))
            throw HttpError(404, s"Document with ID '$docId' not found")
          200 -> Json.write(Json.Obj(
            "message" -> s"Document '$docId' deleted successfully"))
        case _ => throw HttpError(405, "Method Not Allowed")
      }
    })

    server.createContext("/api/v1/collection/info", ex => handle(ex) {
      requireMethod(ex, "GET")
      200 -> Json.write(Json.Obj(
        "name" -> service.collectionName,
        "document_count" -> service.documentCount,
        "metadata" -> Json.Obj(
          "description" -> "Document embeddings for vector search")))
    })

    server.createContext("/api/v1/batch/insert", ex => handle(ex) {
      requireMethod(ex, "POST")
      val docs = try Json.parse(readBody(ex)) match {
        case xs: Vector[_] => xs
        case _ => throw HttpError(400, "request body must be a JSON array")
      } catch {
        case _: Json.ParseError => throw HttpError(400, "invalid JSON body")
      }
      if (docs.length > 100)
        throw HttpError(400, "Batch size cannot exceed 100 documents")
      // per-item failures tally instead of failing the batch (ref:
      // day_8/endpoints.py:188-199 — batch_insert returns a success list)
      var ok = 0
      docs.foreach {
        case m: Map[_, _] =>
          val mm = m.asInstanceOf[Map[String, Any]]
          try {
            service.insert(validDocId(str(mm, "doc_id")),
              validText(str(mm, "text")), metadataOf(mm))
            ok += 1
          } catch { case scala.util.control.NonFatal(_) => () }
        case _ => ()
      }
      val total = docs.length
      val rate =
        if (total == 0) 0.0
        else math.rint(ok.toDouble / total * 100 * 100) / 100
      200 -> Json.write(Json.Obj(
        "message" -> "Batch insert completed",
        "total_documents" -> total,
        "successful_inserts" -> ok,
        "failed_inserts" -> (total - ok),
        "success_rate" -> rate))
    })

    server.createContext("/", ex => handle(ex) {
      if (ex.getRequestURI.getPath != "/") throw HttpError(404, "Not Found")
      requireMethod(ex, "GET")
      200 -> Json.write(Json.Obj(
        "message" -> "Vector Database CRUD API",
        "version" -> "1.0.0",
        "health" -> "/health"))
    })
  }

  /** /metrics writes its own (non-JSON) response; the handle() wrapper
    * still wants a pair — a negative code means "already sent". */
  private val alreadySent: (Int, String) = (-1, "")
}

object HttpServing {

  /** Start the API on `port` (0 = ephemeral, like uvicorn's port=0 in
    * tests). The handler pool is small and fixed: the engine underneath
    * already parallelizes; HTTP threads only shuttle bytes. */
  def start(service: DocumentService, counters: ServingCounters,
            port: Int = 0, handlerThreads: Int = 8): HttpServing = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    server.setExecutor(Executors.newFixedThreadPool(handlerThreads, r => {
      val t = new Thread(r, "graft-http")
      t.setDaemon(true)
      t
    }))
    val s = new HttpServing(service, counters, server)
    s.register()
    server.start()
    s
  }
}
