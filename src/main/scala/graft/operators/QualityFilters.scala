package graft.operators

import graft.Par
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Gopher/C4-style document quality filters for training-data curation —
 * the rule battery an LLM data pipeline runs between ingest and dedup
 * (Rae et al. 2021 "Scaling Language Models" appendix A; Raffel et al.
 * 2020 C4). The reference's own quality scoring (day_10
 * `utils/evaluation.py`) is a composite score; these are the individual
 * REJECTION rules with their published thresholds, each surfaced as a
 * metric column so a pipeline can tune cutoffs without re-scanning.
 *
 * Everything is a pure column expression over `split`/`transform`/
 * `filter`/`aggregate` array combinators: one narrow projection, no
 * UDFs, no shuffle — Catalyst prunes to the two input columns and the
 * whole battery rides a single WholeStageCodegen stage, so the cost at
 * 100 TB is one streaming pass over the text column.
 */
object QualityFilters {

  /** Distinct-stopword presence list (Gopher uses a similar small set). */
  val Stopwords: Seq[String] =
    Seq("the", "a", "and", "of", "to", "in", "is", "that")

  // Gopher-flavored thresholds, surfaced as named constants
  val MinWords = 50
  val MaxWords = 100000
  val MinMeanWordLen = 3.0
  val MaxMeanWordLen = 10.0
  val MinAlphaWordRatio = 0.8
  val MaxSymbolWordRatio = 0.1
  val MaxBulletLineRatio = 0.9
  val MaxEllipsisLineRatio = 0.3
  val MaxDupLineRatio = 0.3
  val MinStopwordHits = 2

  private def nonBlankLines(text: Column): Column =
    filter(transform(split(text, "\n"), l => trim(l)), l => length(l) > 0)

  private[operators] def words(text: Column): Column =
    graft.functions.TextFunctions.wordTokens(text)

  /** The nine metric expressions, in output order — the ONE definition
    * both [[gopherMetrics]] and [[keepPredicate]] build from, so the
    * verdict can never diverge from the reported metrics. */
  private def metricExprs(text: Column): Seq[(String, Column)] = {
    val ws = words(text)
    val lines = nonBlankLines(text)
    val nWords = size(ws)
    val nLines = size(lines)
    // Σ word lengths (integer) → mean as one double division
    val sumLen = aggregate(ws, lit(0), (acc, w) => acc + length(w))
    val alphaWords = size(filter(ws, w => w.rlike("[A-Za-z]")))
    // '#' occurrences + '...' occurrences (C4's symbol markers), counted
    // by length deltas — integer arithmetic, portable to the oracle
    val hashes = length(text) - length(regexp_replace(text, "#", ""))
    val ellipses = (length(text) - length(regexp_replace(text, "\\.\\.\\.", ""))) / 3
    val bulletLines = size(filter(lines, l => l.startsWith("- ") || l.startsWith("* ")))
    val ellipsisLines = size(filter(lines, l => l.endsWith("...")))
    val dupLines = nLines - size(array_distinct(lines))
    val stopHits = size(array_intersect(
      transform(ws, w => lower(w)), lit(Stopwords.toArray)))
    // raw IEEE quotient, not round(x, 6): float64 division is
    // bit-identical across engines, while round() straddles
    // HALF_UP/HALF_EVEN on …5e-7 boundaries and breaks hash parity
    val ratio = (num: Column, den: Column) =>
      num.cast("double") / den.cast("double")
    Seq(
      "n_words" -> nWords,
      "n_lines" -> nLines,
      "mean_word_len" -> ratio(sumLen, nWords),
      "alpha_word_ratio" -> ratio(alphaWords, nWords),
      "symbol_word_ratio" -> ratio(hashes + ellipses, nWords),
      "bullet_line_ratio" -> ratio(bulletLines, nLines),
      "ellipsis_line_ratio" -> ratio(ellipsisLines, nLines),
      "dup_line_ratio" -> ratio(dupLines, nLines),
      "stopword_hits" -> stopHits)
  }

  private def keepOf(m: Map[String, Column]): Column =
    m("n_words").between(MinWords, MaxWords) &&
    m("mean_word_len").between(MinMeanWordLen, MaxMeanWordLen) &&
    m("alpha_word_ratio") >= MinAlphaWordRatio &&
    m("symbol_word_ratio") <= MaxSymbolWordRatio &&
    m("bullet_line_ratio") <= MaxBulletLineRatio &&
    m("ellipsis_line_ratio") <= MaxEllipsisLineRatio &&
    m("dup_line_ratio") <= MaxDupLineRatio &&
    m("stopword_hits") >= MinStopwordHits

  /**
   * Per-document quality metrics + the keep verdict. Output columns:
   * `n_words, n_lines, mean_word_len, alpha_word_ratio,
   * symbol_word_ratio, bullet_line_ratio, ellipsis_line_ratio,
   * dup_line_ratio, stopword_hits, keep` — ratios are raw float64
   * quotients (bit-identical across engines; see [[metricExprs]]),
   * `keep` = conjunction of every rule.
   */
  /** Typed one-pass twin of [[metricExprs]] — the higher-order array
    * expressions (`filter`/`transform`/`aggregate` lambdas) are
    * CodegenFallback and re-evaluate the tokenizing split per metric;
    * this JVM evaluation computes all nine in one scan of the string
    * (×100: the battery fell 3.2 → sub-second). Bit-parity with the
    * column form is an executable guarantee, not a comment:
    * QualityFiltersSpec asserts typed ≡ column on real docs + crafted
    * edge cases, and the q59 oracle hashes the typed output. The
    * replication subtleties that matter: Spark `trim` strips SPACES
    * only (never \t/\r — a "\t" line is non-blank), `length` counts
    * code points (not UTF-16 units), `split` keeps trailing empties,
    * `array_intersect` is DISTINCT intersection, `lower` is
    * root-locale, and ratios are raw IEEE quotients (0/0 = NaN). */
  final case class GopherRow(nWords: Int, nLines: Int, meanWordLen: Double,
      alphaWordRatio: Double, symbolWordRatio: Double, bulletLineRatio: Double,
      ellipsisLineRatio: Double, dupLineRatio: Double, stopwordHits: Int,
      keep: Boolean)

  private val AlphaRe = java.util.regex.Pattern.compile("[A-Za-z]")
  private val StopwordSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    Stopwords.foreach(s.add)
    s
  }

  private def trimSpaces(s: String): String = {
    var a = 0
    var b = s.length
    while (a < b && s.charAt(a) == ' ') a += 1
    while (b > a && s.charAt(b - 1) == ' ') b -= 1
    if (a == 0 && b == s.length) s else s.substring(a, b)
  }

  private[operators] def gopherMetricsOf(text0: String): GopherRow = {
    val text = if (text0 == null) "" else text0
    val ws = trimSpaces(text).split("\\s+", -1).filter(_.nonEmpty)
    val nWords = ws.length
    var sumLen = 0
    var alphaWords = 0
    val stopSeen = new java.util.HashSet[String]()
    var i = 0
    while (i < ws.length) {
      val w = ws(i)
      sumLen += w.codePointCount(0, w.length)
      if (AlphaRe.matcher(w).find()) alphaWords += 1
      val lw = w.toLowerCase(java.util.Locale.ROOT)
      if (StopwordSet.contains(lw)) stopSeen.add(lw)
      i += 1
    }
    val lines = text.split("\n", -1).map(trimSpaces).filter(_.nonEmpty)
    val nLines = lines.length
    var bulletLines = 0
    var ellipsisLines = 0
    val distinctLines = new java.util.HashSet[String]()
    i = 0
    while (i < lines.length) {
      val l = lines(i)
      if (l.startsWith("- ") || l.startsWith("* ")) bulletLines += 1
      if (l.endsWith("...")) ellipsisLines += 1
      distinctLines.add(l)
      i += 1
    }
    val dupLines = nLines - distinctLines.size
    var hashes = 0
    i = 0
    while (i < text.length) {
      if (text.charAt(i) == '#') hashes += 1
      i += 1
    }
    // ellipses: non-overlapping "..." matches, as regexp_replace counts
    var ellipses = 0
    i = 0
    while (i + 2 < text.length) {
      if (text.charAt(i) == '.' && text.charAt(i + 1) == '.' && text.charAt(i + 2) == '.') {
        ellipses += 1; i += 3
      } else i += 1
    }
    def ratio(n: Int, d: Int): Double = n.toDouble / d.toDouble
    val meanWordLen = ratio(sumLen, nWords)
    val alphaWordRatio = ratio(alphaWords, nWords)
    val symbolWordRatio = ratio(hashes + ellipses, nWords)
    val bulletLineRatio = ratio(bulletLines, nLines)
    val ellipsisLineRatio = ratio(ellipsisLines, nLines)
    val dupLineRatio = ratio(dupLines, nLines)
    val stopwordHits = stopSeen.size
    val keep = nWords >= MinWords && nWords <= MaxWords &&
      meanWordLen >= MinMeanWordLen && meanWordLen <= MaxMeanWordLen &&
      alphaWordRatio >= MinAlphaWordRatio &&
      symbolWordRatio <= MaxSymbolWordRatio &&
      bulletLineRatio <= MaxBulletLineRatio &&
      ellipsisLineRatio <= MaxEllipsisLineRatio &&
      dupLineRatio <= MaxDupLineRatio &&
      stopwordHits >= MinStopwordHits
    GopherRow(nWords, nLines, meanWordLen, alphaWordRatio, symbolWordRatio,
      bulletLineRatio, ellipsisLineRatio, dupLineRatio, stopwordHits, keep)
  }

  /** The keep verdict alone (the report's aggregate path). */
  private[operators] def gopherKeepOf(text: String): Boolean =
    gopherMetricsOf(text).keep

  def gopherMetrics(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // the battery is compute-bound per-row work: widen a narrow file
    // scan so it doesn't run on one core (no-op at corpus scale)
    Par.widen(docs.select(col(idCol).cast("long"), col(textCol)))
      .as[(Long, String)]
      .map { case (id, t) =>
        val m = gopherMetricsOf(t)
        (id, m.nWords, m.nLines, m.meanWordLen, m.alphaWordRatio,
          m.symbolWordRatio, m.bulletLineRatio, m.ellipsisLineRatio,
          m.dupLineRatio, m.stopwordHits, m.keep)
      }
      .toDF(idCol, "n_words", "n_lines", "mean_word_len", "alpha_word_ratio",
        "symbol_word_ratio", "bullet_line_ratio", "ellipsis_line_ratio",
        "dup_line_ratio", "stopword_hits", "keep")
  }

  /** The full battery as ONE predicate over the raw text column —
    * stateless, so it applies unchanged to Structured Streaming ingest
    * ([[graft.streaming.EventStream.qualityFilterStream]]) and filters
    * without any join. Cost note: inside a bare Filter the shared
    * tokenization subtree is re-evaluated per conjunct (FilterExec does
    * no common-subexpression elimination) — fine for per-row streaming
    * micro-batches; BATCH callers should use [[keepDocuments]], whose
    * project-then-filter shape tokenizes once under ProjectExec CSE. */
  def keepPredicate(text: Column): Column =
    keepOf(metricExprs(text).toMap)

  /** The transform form: documents whose ID passes every rule
    * (id-membership semantics — a semi-join on the verdicts, like the
    * other curation transforms). The metrics projection computes the
    * tokenization ONCE per row (ProjectExec subexpression elimination)
    * and sits above [[Par.widen]]'s narrow-scan guard, where a plain
    * pushed-down WHERE would slide below the repartition and run the
    * battery on one core. */
  def keepDocuments(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val verdicts = gopherMetrics(docs, idCol, textCol)
      .where(col("keep")).select(col(idCol))
    docs.join(verdicts, Seq(idCol), "left_semi")
  }

  // ------------------------------------------------------- repetition

  /**
   * Gopher's repetition rules (Rae et al. 2021 appendix A: documents
   * dominated by repeated n-grams are boilerplate/spam): per document,
   * the DUPLICATE n-gram fraction `(total − distinct) / total` and the
   * TOP n-gram fraction `max-multiplicity / total`, for word bigrams and
   * trigrams. (Gopher measures character fractions on web text; the
   * word-count form here is the same signal with exact SQL parity.)
   *
   * Shape at scale: the three metrics per gram order — total count,
   * duplicate count, max multiplicity — are all order-statistics of the
   * document's own gram multiset, so they compute per row from a SORTED
   * array of gram hashes: total = size, duplicates = size −
   * distinct-size, top = longest equal-run. That is O(m log m) per
   * document and SHUFFLE-FREE — the former relational shape (explode to
   * (doc, gram), two hash aggregations, a bigram⋈trigram join) moved
   * ~400 gram rows per document through two full shuffles and was
   * measured 4–10× slower at 500k documents. A naive per-row
   * count-matches combinator would be O(m²) per document; the sort
   * bounds the worst single-document cost at m log m compares (a
   * 100k-word outlier sorts in milliseconds inside its own task, no
   * reducer hot-spots).
   *
   * Thresholds default to this corpus's split points and are
   * parameters — Gopher's own (0.2 top-2-gram, char basis) are web-text
   * calibrations, not universal constants.
   *
   * Fractions are emitted as exact LONG numerator/denominator pairs
   * (`n_dup_bigrams` / `n_bigrams`, …), never as rounded doubles: a
   * ratio landing on a `…5e-7` rounding boundary renders differently
   * across engines, so the exactly-representable integers are the only
   * cross-engine-stable contract. The keep verdict compares
   * `numerator <= threshold * denominator` — one double product both
   * engines evaluate identically.
   */
  def repetitionMetrics(docs: DataFrame, idCol: String, textCol: String,
                        maxDupBigramFrac: Double = 0.05,
                        maxTopBigramFrac: Double = 0.06,
                        maxDupTrigramFrac: Double = 0.02): DataFrame = {
    // gram construction is the hot loop — widen a narrow file scan
    // (no-op at corpus scale)
    val src = Par.widen(docs)
    // The whole gram computation is ONE native Catalyst expression per
    // row ([[graft.functions.GramRepetitionStats]]): tokens hashed once,
    // adjacent hashes combined into bigram/trigram keys, each key array
    // sorted and scanned for total/dup/longest-run — O(m log m) per
    // document inside whole-stage codegen. Staged through its own
    // projection so the struct is computed once and the field reads stay
    // cheap attribute extracts (CollapseProject will not duplicate a
    // non-cheap expression). The trigram (or whole) struct is null for
    // docs below 3 (or 2) words; the filter drops them exactly like the
    // relational form's bigram⋈trigram inner join did.
    import org.apache.spark.sql.GraftColumnBridge.{column => toCol, expression => toExpr}
    val statsExpr = toCol(graft.functions.GramRepetitionStats(
      toExpr(words(lower(col(textCol))))))
    src.select(col(idCol), statsExpr.as("__r"))
      .select(col(idCol),
        col("__r.n_bigrams").as("n_bigrams"),
        col("__r.n_dup_bigrams").as("n_dup_bigrams"),
        col("__r.n_top_bigram").as("n_top_bigram"),
        col("__r.n_trigrams").as("n_trigrams"),
        col("__r.n_dup_trigrams").as("n_dup_trigrams"),
        col("__r.n_top_trigram").as("n_top_trigram"))
      .where(col("n_bigrams").isNotNull && col("n_trigrams").isNotNull)
      .withColumn("keep_repetition",
        col("n_dup_bigrams") <= lit(maxDupBigramFrac) * col("n_bigrams") &&
        col("n_top_bigram") <= lit(maxTopBigramFrac) * col("n_bigrams") &&
        col("n_dup_trigrams") <= lit(maxDupTrigramFrac) * col("n_trigrams"))
  }

  // =====================================================================
  // PII redaction + phrase blocklist — the two C4-style scrub stages a
  // curation pipeline runs alongside the quality battery. Pure
  // regexp_replace / rlike column chains: codegen'd, no UDF, no shuffle,
  // one streaming pass at corpus scale. Patterns are RE2-safe (no
  // lookaround, no backreferences) so DuckDB/RE2 oracles run the
  // IDENTICAL pattern strings.
  // =====================================================================

  /** Email address (conservative: token@domain.tld). */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  /** US-style short phone (NNN-NNNN). */
  val PhoneRe = "\\b[0-9]{3}-[0-9]{4}\\b"
  /** Dotted-quad IPv4. */
  val Ipv4Re = "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b"

  /** Per-category PII occurrence counts (pre-redaction audit columns). */
  def piiCounts(text: Column): Seq[(String, Column)] = Seq(
    "n_email" -> regexp_count(text, lit(EmailRe)),
    "n_phone" -> regexp_count(text, lit(PhoneRe)),
    "n_ip" -> regexp_count(text, lit(Ipv4Re)))

  /** Redact emails, IPs, then phones (IP before phone: an IPv4 octet
    * pair can otherwise be half-eaten by the phone pattern — the fixed
    * order makes the composition deterministic and oracle-replayable). */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      PhoneRe, "<PHONE>")

  /** True iff the lowercased text contains any blocklisted phrase on
    * word boundaries (C4's badwords gate, phrase-capable). The phrase
    * list compiles into ONE alternation scanned once per document —
    * broadcastable as a literal, no join. Phrases must be
    * regex-neutral (letters/digits/spaces); enforced here. */
  def blocklistHit(text: Column, phrases: Seq[String]): Column = {
    require(phrases.nonEmpty, "empty blocklist")
    require(phrases.forall(_.matches("[A-Za-z0-9 ]+")),
      "blocklist phrases must be plain words/spaces (regex-neutral)")
    lower(text).rlike("\\b(?:" + phrases.mkString("|") + ")\\b")
  }

  /** Documents that pass the blocklist gate. */
  def keepBlocklist(docs: DataFrame, textCol: String, phrases: Seq[String]): DataFrame =
    docs.where(!blocklistHit(col(textCol), phrases))

  /**
   * Corpus token-frequency quality metrics — the CCNet-style rare-token
   * signal without a language model: a document dominated by tokens no
   * other document uses (OCR garbage, base64 blobs, synthetic IDs) shows
   * a high `rare_ratio` and low `mean_token_df`; thresholding these is
   * the cheap stand-in for LM-perplexity filtering. Two shuffles at
   * corpus scale: the token document-frequency aggregate (keyed by the
   * token) and the per-doc metric aggregate (keyed by the doc); the df
   * join is co-partitioned with its own aggregate's output. Unlike
   * [[Dedup.stripDuplicatedLines]] there is no hot-subset reduction —
   * the mean needs EVERY token's frequency. Integer sums and 6-dp
   * rational ratios only, so results are bit-exact cross-engine.
   */
  def tokenFrequencyMetrics(docs: DataFrame, idCol: String, textCol: String,
                            rareDf: Int = 3): DataFrame = {
    val toks = docs.select(col(idCol).cast("long").as("doc_id"),
      explode(words(lower(col(textCol)))).as("w"))
    val tdf = toks.groupBy(col("w")).agg(countDistinct(col("doc_id")).as("tdf"))
    toks.join(tdf, Seq("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        round(sum(col("tdf")).cast("double") / count(lit(1)), 6).as("mean_token_df"),
        min(col("tdf")).as("min_token_df"),
        round(sum(when(col("tdf") < rareDf, lit(1L)).otherwise(lit(0L))).cast("double")
          / count(lit(1)), 6).as("rare_ratio"))
  }

  /** Positional token-hash stream shared by the bigram-LM paths:
    * `wordTokens(lower(text))` semantics (lowercase, trim, \s+ split,
    * empties dropped), tokens as 64-bit hashes — the established
    * hashed-key trade (counts invariant, nothing shuffles strings). */
  private[operators] def tokenHashStream(docs: DataFrame, idCol: String, textCol: String) = {
    val spark = docs.sparkSession
    import spark.implicits._
    Par.widen(docs.select(col(idCol).cast("long"), col(textCol)))
      .as[(Long, String)]
      .map { case (id, t) =>
        val s = if (t == null) "" else t.toLowerCase(java.util.Locale.ROOT).trim
        (id, s.split("\\s+").iterator.filter(_.nonEmpty)
          .map(Dedup.longHash).toArray)
      }
  }

  /**
   * Corpus-trained bigram language model counts — the EXACT-INTEGER
   * surface of the CCNet-style perplexity filter (the q79 oracle gate):
   * for every bigram position of every document, the corpus-wide pair
   * count C(w₁w₂), the context (prefix) count C(w₁·) and the unigram
   * vocabulary size V. The Laplace-smoothed conditional is
   * (C(w₁w₂)+1)/(C(w₁·)+V); keeping the gated output in integers makes
   * it bit-exact cross-engine with no float-summation order hazard —
   * the log-space scoring lives in [[bigramLmScores]] (spec-gated:
   * libm ln differs across engines in the last ulp, which no rounding
   * can bound over corpus-sized sums).
   *
   * Plan at scale: one tokenize pass; pair and prefix counts are two
   * narrow hash aggregates (map-side combined, 8-byte keys); the score
   * join lands each bigram position against ONE pre-aggregated row per
   * key (co-partitioned — a viral bigram is exactly the pre-aggregated
   * case); the vocabulary size is one distinct-count job. No broadcast
   * of corpus-derived frames, no driver state beyond the V scalar.
   */
  def bigramCounts(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val toks = tokenHashStream(docs, idCol, textCol)
    // MULTI-CONSUMER TRADE, MEASURED (the repo's two-consumer rule asks
    // for a checkpoint OR a justified recompute): the bigram frame
    // feeds two consumers (pair counts, the final position join —
    // prefix counts derive from the pair counts since r20) and `toks`
    // a third (vocabulary), so tokenization re-evaluates per consumer.
    // A localCheckpoint here was measured SLOWER at ×100 (500k docs,
    // ~50M bigram rows): 1.90 s recomputed vs 3.04 s checkpointed
    // (trimmed-mean-of-5) — materializing and re-reading ~32 bytes ×
    // 50M rows costs more than the remaining passes of the regex split
    // + FNV hash, whose output feeds map-side-combined aggregates that
    // never see the raw rows twice. Same verdict as the cosine-LSH
    // bucket frame; re-measure if tokenization ever grows a per-token
    // model.
    val bigrams = toks.flatMap { case (id, hs) =>
      Iterator.range(1, hs.length).map(i => (id, i.toLong, hs(i - 1), hs(i)))
    }.toDF("doc_id", "pos", "__h1", "__h2")
    val c2 = bigrams.groupBy(col("__h1"), col("__h2"))
      .agg(count(lit(1)).as("pair_count"))
    // context counts DERIVED from the pair counts (r20, guide §2.3/§2.4):
    // C(w₁·) = Σ_w₂ C(w₁w₂) identically, and summing the PRE-AGGREGATED
    // c2 rows lets AQE's stage cache reuse c2's exchange — the third
    // full tokenize pass (+ its corpus-text repartition exchange) this
    // job used to pay for a direct bigrams.groupBy(__h1) disappears.
    val c1 = c2.groupBy(col("__h1"))
      .agg(sum(col("pair_count")).as("context_count"))
    // vocabulary as a broadcast 1-row aggregate riding the SAME job
    // (was a blocking .count() at construction time — one extra driver
    // job per call, and the operator wasn't lazily composable)
    val vocabDf = toks.flatMap(_._2.iterator).toDF("h").distinct()
      .agg(count(lit(1)).as("vocab_size"))
    bigrams.join(c2, Seq("__h1", "__h2")).join(c1, Seq("__h1"))
      .crossJoin(broadcast(vocabDf))
      .select(col("doc_id"), col("pos"), col("pair_count"),
        col("context_count"), col("vocab_size"))
  }

  /** md5-derived integer (first 13 hex digits) — the q34 mock-encoder
    * arithmetic, reused so DuckDB replays it with the same substr cast. */
  private def md5Int13(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString.substring(0, 13)
    java.lang.Long.parseLong(hex, 16)
  }

  /**
   * fastText-shaped linear quality scorer, DETERMINISTIC-WEIGHT form
   * (the q80 oracle gate): tokens hash into `numBuckets` buckets
   * (hashing trick) and the score is the integer sum of md5-derived
   * per-bucket weights in [-500000, 500000] micros — the exact
   * inference plumbing of a GPT-3-style quality classifier (tokenize →
   * hash → bucket → weight-sum → threshold) with stand-in weights,
   * fully SQL-replayable and order-free (integer sums). The TRAINED
   * path is [[trainQualityClassifier]]/[[scoreWithClassifier]]
   * (spark.ml hashing + logistic regression — real learned weights,
   * spec-gated: training is not SQL-replayable).
   *
   * Shuffle-free: one typed map per document computes buckets and
   * weights inline; nothing is broadcast, joined, or aggregated across
   * rows. Output: (doc_id, n_tokens, score_micros).
   */
  def hashedLinearScoreMicros(docs: DataFrame, idCol: String, textCol: String,
                              numBuckets: Int = 4096,
                              salt: String = "q"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val nb = numBuckets
    val s0 = salt
    docs.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { it =>
        // weights depend only on the bucket: one table of nb entries per
        // partition replaces an md5 per TOKEN (measured 16.7 → ~7 s at
        // 500k docs); token→bucket md5s memoize per partition, capped so
        // adversarial vocabularies can't grow the map unboundedly
        val weights = Array.tabulate(nb)(b => md5Int13(s0 + "#" + b) % 1000001L - 500000L)
        val bucketCache = new java.util.HashMap[String, Integer]()
        def bucketOf(w: String): Int = {
          val hit = bucketCache.get(w)
          if (hit != null) hit.intValue()
          else {
            val b = (md5Int13("b#" + w) % nb).toInt
            if (bucketCache.size < (1 << 20)) bucketCache.put(w, Integer.valueOf(b))
            b
          }
        }
        it.map { case (id, t) =>
          val txt = if (t == null) "" else t.toLowerCase(java.util.Locale.ROOT).trim
          val ws = txt.split("\\s+").filter(_.nonEmpty)
          var sum = 0L
          var i = 0
          while (i < ws.length) {
            sum += weights(bucketOf(ws(i)))
            i += 1
          }
          (id, ws.length.toLong, sum)
        }
      }
      .toDF("doc_id", "n_tokens", "score_micros")
  }

  /**
   * Train a REAL quality classifier (the GPT-3/LLaMA-style learned
   * filter): RegexTokenizer → HashingTF (the same hashing trick as the
   * deterministic scorer) → LogisticRegression, all spark.ml — a
   * distributed fit whose driver state is one weight vector of
   * `numBuckets` doubles. `labelCol` is 1.0 for keep-quality examples.
   */
  def trainQualityClassifier(labeled: DataFrame, textCol: String, labelCol: String,
                             numBuckets: Int = 1 << 14,
                             maxIter: Int = 50): org.apache.spark.ml.PipelineModel = {
    import org.apache.spark.ml.Pipeline
    import org.apache.spark.ml.classification.LogisticRegression
    import org.apache.spark.ml.feature.{HashingTF, RegexTokenizer}
    val tok = new RegexTokenizer().setInputCol(textCol).setOutputCol("__words")
      .setPattern("\\s+").setToLowercase(true)
    val tf = new HashingTF().setInputCol("__words").setOutputCol("__features")
      .setNumFeatures(numBuckets)
    val lr = new LogisticRegression().setFeaturesCol("__features")
      .setLabelCol(labelCol).setMaxIter(maxIter).setRegParam(1e-4)
    new Pipeline().setStages(Array(tok, tf, lr))
      .fit(labeled.withColumn(labelCol, col(labelCol).cast("double")))
  }

  /** Inference under a trained classifier: adds `quality_prob`
    * (probability of the keep class) — one distributed transform, the
    * model broadcast by spark.ml. */
  def scoreWithClassifier(model: org.apache.spark.ml.PipelineModel,
                          docs: DataFrame): DataFrame = {
    import org.apache.spark.ml.linalg.Vector
    val p1 = udf((v: Vector) => v(1))
    model.transform(docs)
      .withColumn("quality_prob", p1(col("probability")))
      .drop("__words", "__features", "rawPrediction", "probability", "prediction")
  }

  /**
   * Per-document bigram-LM quality scores (the CCNet perplexity
   * filter, LM trained on the corpus itself): avg log-probability and
   * perplexity under the Laplace-smoothed bigram model of
   * [[bigramCounts]]. Documents shorter than two tokens score
   * n_terms = 0 with null perplexity. Double summation order across
   * partitions is unspecified (standard float caveat — differences are
   * at the e-12 level; the exact-integer gate is [[bigramCounts]]).
   */
  def bigramLmScores(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    bigramLmScoresAgainst(docs, docs, idCol, textCol)

  /**
   * Cross-corpus form — the ACTUAL CCNet regime: the bigram model
   * trains on `reference` (their Wikipedia) and scores `target` (their
   * CommonCrawl); same-corpus scoring is the special case above.
   * Target bigrams unseen in the reference fall back to the smoothing
   * floor ((0+1)/(C(w₁·)+V), and C(w₁·)=0 for unseen contexts), so
   * out-of-domain text scores high perplexity instead of erroring —
   * exactly the filter signal. The reference-side counts are two
   * narrow aggregates; the target side pays two LEFT co-partitioned
   * joins (hash keys) and one per-doc aggregate.
   */
  def bigramLmScoresAgainst(reference: DataFrame, target: DataFrame,
                            idCol: String, textCol: String): DataFrame = {
    val spark = reference.sparkSession
    import spark.implicits._
    val refToks = tokenHashStream(reference, idCol, textCol)
    val refBigrams = refToks.flatMap { case (_, hs) =>
      Iterator.range(1, hs.length).map(i => (hs(i - 1), hs(i)))
    }.toDF("__h1", "__h2")
    val c2 = refBigrams.groupBy(col("__h1"), col("__h2"))
      .agg(count(lit(1)).as("__c2"))
    // derived from c2 (r20): C(w₁·) = Σ_w₂ C(w₁w₂) — AQE stage reuse
    // shares c2's exchange, dropping the reference corpus's third
    // tokenize pass (see bigramCounts)
    val c1 = c2.groupBy(col("__h1")).agg(sum(col("__c2")).as("__c1"))
    val vocab = refToks.flatMap(_._2.iterator).distinct()
      .agg(count(lit(1)).as("__vocab"))
    bigramLmScoreFrom(c2, c1, vocab, target, idCol, textCol)
  }

  /** The model-application half of [[bigramLmScoresAgainst]], factored
    * so the incremental-statistics path
    * ([[CorpusStats.bigramLmScoresAgainst]]) scores against ARCHIVED
    * counts through the identical DAG: `c2` = (__h1, __h2, __c2) pair
    * counts, `c1` = (__h1, __c1) context counts, `vocab` = one row
    * holding the vocabulary size in `__vocab` (a broadcast aggregate that
    * rides the scoring job, not an eager count when the frame is built);
    * target bigrams LEFT-join the model, unseen ones take the Laplace
    * smoothing floor. */
  private[operators] def bigramLmScoreFrom(c2: DataFrame, c1: DataFrame,
                                           vocab: DataFrame, target: DataFrame,
                                           idCol: String,
                                           textCol: String): DataFrame = {
    val spark = target.sparkSession
    import spark.implicits._
    val tgtBigrams = tokenHashStream(target, idCol, textCol)
      .flatMap { case (id, hs) =>
        Iterator.range(1, hs.length).map(i => (id, hs(i - 1), hs(i)))
      }.toDF("doc_id", "__h1", "__h2")
    val counted = tgtBigrams
      .join(c2, Seq("__h1", "__h2"), "left")
      .join(c1, Seq("__h1"), "left")
      .crossJoin(broadcast(vocab))
      .withColumn("__term",
        log((coalesce(col("__c2"), lit(0L)) + lit(1.0)) /
          (coalesce(col("__c1"), lit(0L)) + col("__vocab").cast("double"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"),
        sum(col("__term")).as("__sum"))
    target.select(col(idCol).cast("long").as("doc_id"))
      .join(counted, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_terms"), lit(0L)).as("n_terms"),
        when(col("n_terms").isNotNull, col("__sum") / col("n_terms"))
          .as("avg_logprob"),
        when(col("n_terms").isNotNull, exp(-col("__sum") / col("n_terms")))
          .as("perplexity"))
  }
}
