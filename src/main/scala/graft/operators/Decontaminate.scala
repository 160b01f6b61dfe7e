package graft.operators

import graft.Par
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Benchmark decontamination — the training-data pipeline step that
 * removes evaluation-set leakage before training: a training document
 * is CONTAMINATED if it shares any word n-gram with a benchmark
 * document (the n-gram-overlap rule used by GPT-3/PaLM-style data
 * cards; n defaults to the production 8, callers tune per corpus).
 *
 * Shape at scale: the benchmark side is tiny next to a 100 TB training
 * corpus, so its distinct n-gram set broadcasts and the training side
 * streams through one typed gram-hash flatMap → broadcast-hash join —
 * no shuffle of training data at all. Per-doc grams are de-duplicated
 * IN the flatMap (sorted-distinct hashes) so a gram repeated inside
 * one document can't inflate the candidate stream, and grams travel as
 * 8-byte hashes, never strings.
 *
 * The broadcast is BOUNDED (round 8): a pathological benchmark (someone
 * passes a corpus as the "benchmark") must not OOM the driver, so the
 * gram volume is estimated first from a cheap word-count scan — an
 * overestimate of the distinct gram count, conservative in the safe
 * direction — and past `maxBroadcastGrams` the join degrades to a
 * shuffled hash join on the gram key (documented fallback: both sides
 * shuffle on the gram, the benchmark side builds the hash map; same
 * rows, one extra exchange of the candidate stream).
 */
object Decontaminate {

  /** Distinct lowercased word-n-gram HASHES of one text — the typed
    * replacement for the historical higher-order-column gram builder
    * (`transform`/`slice` lambdas are CodegenFallback and re-evaluate
    * the tokenizer per lambda call; the string grams then rode every
    * exchange). Tokenization matches `wordTokens(lower(text))` exactly:
    * lowercase, trim, \s+ split, empties dropped; docs under n tokens
    * yield nothing. Grams become 64-bit rolling-combine hashes (the
    * [[Dedup.shingleHashSetOf]] trade: ~n²/2⁶⁴ collision bound, shared-
    * gram COUNTS invariant, q63/q64 stay hash-green) — measured 20.8 →
    * 8-ish s for the 500k-doc fixed-benchmark decontamination. */
  private[operators] def gramHashesOf(t: String, n: Int): Array[Long] = {
    val s = if (t == null) "" else t.toLowerCase(java.util.Locale.ROOT).trim
    val ws = s.split("\\s+").filter(_.nonEmpty)
    val m = ws.length - n + 1
    if (m < 1) return Array.emptyLongArray
    val whs = new Array[Long](ws.length)
    var i = 0
    while (i < ws.length) { whs(i) = Dedup.longHash(ws(i)); i += 1 }
    val all = new Array[Long](m)
    var st = 0
    while (st < m) {
      var h = 0xcbf29ce484222325L
      var j = 0
      while (j < n) { h = (h ^ whs(st + j)) * 0x100000001b3L; j += 1 }
      all(st) = Dedup.fmix64(h)
      st += 1
    }
    java.util.Arrays.sort(all)
    var w = 0
    i = 0
    while (i < all.length) {
      if (i == 0 || all(i) != all(i - 1)) { all(w) = all(i); w += 1 }
      i += 1
    }
    if (w == all.length) all else java.util.Arrays.copyOf(all, w)
  }

  private def grams(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // gram construction is compute-bound: widen a narrow file scan so the
    // training side doesn't shingle on one core (no-op at corpus scale)
    Par.widen(df.select(col(idCol).cast("long"), col(textCol)))
      .as[(Long, String)]
      .flatMap { case (id, t) => gramHashesOf(t, n).iterator.map(h => (id, h)) }
      .toDF(idCol, "gram")
  }

  /** Contaminated training docs: `(idCol, n_shared)` — the count of
    * DISTINCT n-grams each shares with the benchmark set.
    * `maxBroadcastGrams` caps the driver-collected side (8-byte gram
    * hashes; the 5M default bounds the broadcast around 40 MB); a
    * larger benchmark routes to the shuffle fallback. */
  def contaminated(train: DataFrame, benchmark: DataFrame,
                   idCol: String, textCol: String, n: Int = 8,
                   maxBroadcastGrams: Long = 5000000L): DataFrame = {
    val benchGrams = grams(benchmark, idCol, textCol, n)
      .select(col("gram")).distinct()
    // cheap upper bound on the gram count: total words (≥ grams per doc,
    // ≥ distinct grams) — one narrow scan, no gram strings built, and an
    // overestimate can only choose the safe (shuffle) route
    val estimate = benchmark
      .agg(sum(size(graft.functions.TextFunctions.wordTokens(
        lower(col(textCol))))).as("w"))
      .head().getAs[Number](0) match { case null => 0L; case x => x.longValue() }
    val bench =
      if (estimate <= maxBroadcastGrams) broadcast(benchGrams)
      else {
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"decontaminate: benchmark word count $estimate exceeds " +
            s"maxBroadcastGrams=$maxBroadcastGrams — falling back to a " +
            s"shuffled hash join on the gram key (no driver broadcast)")
        benchGrams.hint("shuffle_hash")
      }
    // both sides are already distinct (per-doc array_distinct on train,
    // .distinct() on bench), so the join emits one row per (doc, gram) —
    // a plain count equals count-distinct without the extra dedup
    // aggregate exchange
    grams(train, idCol, textCol, n)
      .join(bench, Seq("gram"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** The transform: training set minus contaminated docs (anti-join). */
  def decontaminate(train: DataFrame, benchmark: DataFrame,
                    idCol: String, textCol: String, n: Int = 8,
                    maxBroadcastGrams: Long = 5000000L): DataFrame =
    train.join(
      contaminated(train, benchmark, idCol, textCol, n, maxBroadcastGrams)
        .select(col(idCol)),
      Seq(idCol), "left_anti")
}
