package graft.operators

import graft.Par
import graft.functions.TextFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Text → embedding operators (SURVEY §2.8 F23 — "the one true black-box
 * UDF"). The model call is a `mapPartitions` with internal batching, the
 * exact executor shape a real ONNX/JNI encoder needs (batch the partition's
 * rows, one forward pass per batch). The default implementation is the
 * deterministic mock the reference itself ships for tests
 * (day_10/embedders/embedding_pipeline.py:460-492, day_14/src/main.py:4-18):
 * seeded-hash gaussian, L2-normalized.
 */
object Embedder {

  /** Pluggable encoder: a batch of texts → one vector per text. */
  trait TextEncoder extends Serializable {
    def dim: Int
    def encodeBatch(texts: Seq[String]): Seq[Array[Float]]
  }

  /** Deterministic mock encoder. Component j of text t is drawn from
    * md5(t + "#" + j):
    *   u = first 13 hex digits (52 bits);  x_j = u / 2^53 − 0.5
    * Note the divisor is 2^53, so x_j ∈ [−0.5, 0): components are all
    * negative and cosines between any two texts sit near 0.75 — a quirk,
    * but the q34 oracle hash-locks this exact arithmetic, so it is
    * documented rather than changed (semantic-chunker thresholds must be
    * chosen inside the real cosine range — see q57). Every operation is
    * IEEE-exact (power-of-two divide; 52 bits fit a double exactly) with
    * NO transcendentals or JVM RNG streams, so any engine with md5
    * reproduces the vectors bit-for-bit. Vectors are deliberately not
    * normalized: cosine scoring normalizes, and skipping it keeps the
    * cross-engine arithmetic to hash/divide/subtract only. */
  case class MockEncoder(dim: Int = 64) extends TextEncoder {
    // "#0".."#dim-1" suffix bytes, built once per (deserialized) encoder
    @transient private lazy val suffixes: Array[Array[Byte]] =
      Array.tabulate(dim)(j => ("#" + j).getBytes("UTF-8"))

    def encodeBatch(texts: Seq[String]): Seq[Array[Float]] = {
      // md5(t ∥ "#" ∥ j) for all j, but the document bytes are absorbed
      // ONCE and the digest state cloned per component — a 1 KB doc costs
      // ~16 block compressions + dim clones instead of dim×16
      // compressions + dim full re-encodings. Bit-identical output by
      // md5's definition (clone preserves exact state); the SUN provider
      // MD5 is cloneable.
      val mdBase = java.security.MessageDigest.getInstance("MD5")
      texts.map { t0 =>
        val t = if (t0 == null) "" else t0
        mdBase.reset()
        mdBase.update(t.getBytes("UTF-8"))
        Array.tabulate(dim) { j =>
          val md = mdBase.clone().asInstanceOf[java.security.MessageDigest]
          md.update(suffixes(j))
          val digest = md.digest()
          var u = 0L
          var i = 0
          while (i < 7) { u = (u << 8) | (digest(i) & 0xffL); i += 1 }
          // 7 bytes = 56 bits; keep the top 52 (13 hex digits)
          u >>>= 4
          ((u / 9007199254740992.0) - 0.5).toFloat // u / 2^53 − 0.5 ∈ [−0.5, 0)
        }
      }
    }
  }

  // ------------------------------------------------- real-model seam

  /** One loaded model: the tensor contract of a transformer encoder
    * session (ONNX Runtime / TorchScript shape). `run` takes the batch's
    * token-id and attention-mask tensors `[batch][seqLen]` and returns
    * last-hidden-state `[batch][seqLen][hidden]`. NOT Serializable by
    * design — real sessions hold native handles; only the factory ships
    * to executors. */
  trait ModelSession {
    def hiddenSize: Int
    def run(inputIds: Array[Array[Long]],
            attentionMask: Array[Array[Long]]): Array[Array[Array[Float]]]
    def close(): Unit = ()
  }

  /** Ships to executors and opens (or looks up) the JVM-wide session. */
  trait ModelSessionFactory extends Serializable {
    /** Cache key — one session per (executor JVM, key). */
    def key: String
    def open(): ModelSession
  }

  /** Executor-JVM session cache: a real encoder session costs seconds to
    * load and hundreds of MB — it must be opened ONCE per executor and
    * shared across all tasks/partitions, never per partition. Sessions
    * hold NATIVE handles (an ORT session is off-heap memory the GC never
    * sees), so the cache owns their release: [[Embedder.closeAllSessions]]
    * for explicit lifecycle points (model hot-swap, tests) plus a JVM
    * shutdown hook so a normal executor exit frees them too. */
  private object SessionCache {
    private val sessions =
      new java.util.concurrent.ConcurrentHashMap[String, ModelSession]
    sys.addShutdownHook(closeAll())
    def getOrOpen(factory: ModelSessionFactory): ModelSession =
      sessions.computeIfAbsent(factory.key, _ => factory.open())
    def closeAll(): Unit = {
      val it = sessions.keySet().iterator()
      while (it.hasNext) {
        // atomic remove decides ownership: under CONCURRENT closeAll calls
        // (shutdown hook racing an explicit hot-swap) two iterators can
        // both reach the same entry, but only the thread whose remove()
        // returns the session closes it — a native handle must be released
        // exactly once, a double free is a segfault, not an exception
        val s = sessions.remove(it.next())
        if (s != null) {
          // release the rest even if one native close throws
          try s.close() catch { case _: Throwable => () }
        }
      }
    }
  }

  /** Close and forget every JVM-cached model session; the next
    * encodeBatch reopens through its factory. */
  def closeAllSessions(): Unit = SessionCache.closeAll()

  /**
   * DETERMINISTIC STAND-IN for a real transformer forward pass — this
   * container has no ONNX Runtime jar (zero-egress build), so the
   * session produced here fakes the hidden states as a seeded hash
   * projection of (tokenId, position-parity, component). Everything
   * AROUND it — factory serialization, JVM-wide caching, tensor shapes,
   * masking — is the real plumbing a production
   * `OrtSession.run("input_ids", "attention_mask")` drops into.
   */
  case class HashProjectionFactory(modelPath: String, hidden: Int = 64)
      extends ModelSessionFactory {
    def key: String = s"hashproj:$modelPath:$hidden"
    def open(): ModelSession = {
      openCount.incrementAndGet() // observable by the session-cache spec
      new ModelSession {
        def hiddenSize: Int = hidden
        def run(inputIds: Array[Array[Long]],
                attentionMask: Array[Array[Long]]): Array[Array[Array[Float]]] =
          inputIds.zip(attentionMask).map { case (ids, mask) =>
            ids.zip(mask).map { case (t, m) =>
              Array.tabulate(hidden) { h =>
                if (m == 0L) 0f
                else {
                  // cheap seeded mix of (token, component) — a FAKE weight
                  // matrix lookup, stable across JVMs and runs
                  val z = scala.util.hashing.MurmurHash3
                    .productHash((t, h), 0x2545F491)
                  (z.toDouble / Int.MaxValue).toFloat
                }
              }
            }
          }
      }
    }
  }
  private val openCount = new java.util.concurrent.atomic.AtomicInteger(0)
  private[graft] def sessionOpenCount: Int = openCount.get()

  /**
   * Real-model text encoder (F23's production seam): hash-vocab
   * whitespace tokenizer → pad/truncate to `seqLen` with attention mask
   * → ONE batched forward pass per `encodeBatch` through the JVM-cached
   * [[ModelSession]] → masked mean-pooling over token states → L2
   * normalization (the sentence-transformers output contract). Null
   * texts tokenize to an all-padding row (mask all 0) and fall back to
   * the zero vector rather than crashing the partition.
   */
  case class SessionEncoder(factory: ModelSessionFactory, dim: Int = 64,
                            seqLen: Int = 64, vocabSize: Int = 30522)
      extends TextEncoder {

    private def tokenize(t0: String): (Array[Long], Array[Long]) = {
      val ids = new Array[Long](seqLen)
      val mask = new Array[Long](seqLen)
      if (t0 != null) {
        val toks = t0.toLowerCase(java.util.Locale.ROOT)
          .split("\\s+").iterator.filter(_.nonEmpty).take(seqLen)
        var i = 0
        toks.foreach { w =>
          // hash-vocab id ∈ [1, vocabSize): 0 is the padding id
          val h = scala.util.hashing.MurmurHash3.stringHash(w, 0x7f4a7c15)
          ids(i) = 1L + java.lang.Integer.toUnsignedLong(h) % (vocabSize - 1)
          mask(i) = 1L
          i += 1
        }
      }
      (ids, mask)
    }

    def encodeBatch(texts: Seq[String]): Seq[Array[Float]] = {
      val session = SessionCache.getOrOpen(factory)
      require(session.hiddenSize == dim,
        s"model hidden size ${session.hiddenSize} != declared dim $dim")
      val (ids, masks) = texts.map(tokenize).unzip
      val hidden = session.run(ids.toArray, masks.toArray)
      hidden.zip(masks).map { case (states, mask) =>
        val pooled = new Array[Float](dim)
        var n = 0
        var p = 0
        while (p < seqLen) {
          if (mask(p) == 1L) {
            n += 1
            var h = 0
            while (h < dim) { pooled(h) += states(p)(h); h += 1 }
          }
          p += 1
        }
        if (n == 0) pooled // null/empty text → zero vector fallback
        else {
          var h = 0
          var ss = 0.0
          while (h < dim) { pooled(h) /= n; ss += pooled(h) * pooled(h); h += 1 }
          val inv = if (ss > 0) (1.0 / math.sqrt(ss)).toFloat else 0f
          h = 0
          while (h < dim) { pooled(h) *= inv; h += 1 }
          pooled
        }
      }.toSeq
    }
  }

  /**
   * Embed a text column: mapPartitions with `batchSize` batching (the
   * reference encodes in batches of 32 — day_10 embedding_pipeline:105-119).
   * Output: input columns + `embedding`.
   */
  def embed(df: DataFrame, idCol: String, textCol: String,
            encoder: TextEncoder = MockEncoder(), batchSize: Int = 32): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    Par.widen(df.select(col(idCol).cast("long"), col(textCol)))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap { batch =>
          val vecs = encoder.encodeBatch(batch.map(_._2))
          batch.zip(vecs).map { case ((id, text), v) => (id, text, v) }
        }
      }
      .toDF(idCol, textCol, "embedding")
  }

  /**
   * Incremental embedding with cache reuse — the Spark form of the
   * reference's md5 content cache (day_10 embedding_pipeline:238-314):
   * anti-join new docs against the cached collection on the content
   * fingerprint, embed only the misses, union with the hits.
   */
  def embedIncremental(newDocs: DataFrame, cached: DataFrame,
                       idCol: String, textCol: String,
                       encoder: TextEncoder = MockEncoder()): DataFrame = {
    val fp = TextFunctions.fingerprint(col(textCol))
    val cachedFp = cached.select(col(idCol), col(textCol), col("embedding"))
      .withColumn("__fp", fp)
      // one cache row per content fingerprint: duplicate cached texts would
      // otherwise multiply every matching incoming doc through the join
      .dropDuplicates("__fp")
    val newFp = newDocs.select(col(idCol), col(textCol)).withColumn("__fp", fp)
    val misses = newFp.join(cachedFp.select("__fp"), Seq("__fp"), "left_anti")
    val hits = newFp.join(cachedFp.select(col("__fp"), col("embedding")), Seq("__fp"))
    embed(misses.drop("__fp"), idCol, textCol, encoder)
      .unionByName(hits.drop("__fp"))
  }
}
