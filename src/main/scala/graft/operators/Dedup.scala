package graft.operators

import graft.Par
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, IntegerType, LongType,
  StructField, StructType}

/**
 * Deduplication operators for a large-scale training-data pipeline: exact,
 * n-gram Jaccard, MinHash+LSH, SimHash, and embedding-cosine near-dup.
 *
 * Scale design (100 TB):
 *  - Exact dedup is a hash groupBy on a fingerprint — one shuffle on a
 *    16-byte key, map-side combined.
 *  - Jaccard / MinHash / SimHash all avoid the O(n²) pair space by
 *    generating candidates from an inverted index (explode → self-join on
 *    the posting key). The shuffle key is the shingle/band/bucket hash, so
 *    the join is a co-partitioned equi-join Catalyst handles natively; the
 *    only skew risk is a hot shingle, which `limitPostings` caps (drop
 *    shingles appearing in more than `maxDf` docs — they carry no dedup
 *    signal, exactly the stopword-df cut used by large-scale dedup
 *    pipelines).
 *  - Verification of candidates (exact Jaccard / cosine) happens only on
 *    the candidate set, never all pairs.
 */
object Dedup {

  /** Exact duplicate stats over a canonical-form fingerprint (hash groupBy). */
  def exactStats(df: DataFrame, textCol: String): DataFrame =
    df.select(fingerprint(col(textCol)).as("fp"))
      .groupBy(col("fp")).agg(count(lit(1)).as("n"))
      .agg(
        sum(col("n")).as("n_docs"),
        count(lit(1)).as("n_distinct"),
        (sum(col("n")) - count(lit(1))).as("n_duplicates"),
        sum(when(col("n") > 1, lit(1)).otherwise(lit(0))).as("n_dup_groups"))

  /** Exact duplicate groups: fingerprint → ids, keep groups of ≥2. */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), fingerprint(col(textCol)).as("fp"))
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("n"), sort_array(collect_list(col(idCol))).as("ids"))
      .where(col("n") > 1)

  /** Keep one representative (min id) per fingerprint — the dedup transform. */
  def dropExactDuplicates(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("fp")).orderBy(col(idCol))
    df.withColumn("fp", fingerprint(col(textCol)))
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__rn", "fp")
  }

  /**
   * All pairs with word-n-gram Jaccard ≥ threshold, via inverted index:
   * explode distinct shingles → per-shingle pair emission (ids ordered) →
   * common-shingle counts → |A∩B| / (|A|+|B|−|A∩B|).
   *
   * Default plan shape (the grouped-emit index): postings carry their
   * doc's FULL set size, one narrow shuffle groups them by shingle, and
   * each group emits its C(df,2) (id_a, id_b, sz_a, sz_b) pairs straight
   * into a hash aggregate — so there is no posting self-join (two
   * sort-merge sorts saved), no second wide exchange of raw pair rows
   * (the partial aggregate combines map-side), and no size-table joins at
   * all (sizes ride the postings; nothing is broadcast or collected, so
   * the plan has no #docs-sized driver or broadcast state). Measured at
   * 10× sf0.1 (50k docs, 2.6M postings, 11.3M pair emissions): 4.0 s →
   * 1.4 s for identical output.
   *
   * `prefixFilter` switches to prefix-filtered candidate generation +
   * full-set verification — exact (measured identical results), but pays a
   * df-table join, two windows, and an array-intersect verification per
   * candidate, so it only wins when the pair space's Σdf² blows up (hot
   * stopword-grams); [[ngramJaccardPairsAuto]] routes on that statistic.
   *
   * `maxDf` (opt-in, approximate): drops shingles with df > maxDf from
   * the index, so `common` counts only sub-cut shingles — an explicit
   * recall trade documented for corpus-scale stopword-grams. There IS a
   * provably lossless bound — a qualifying pair shares ≥ ⌈2θ/(1+θ)·minSz⌉
   * shingles while fewer than P/D shingles can have df > D (P = total
   * postings, minSz = smallest set), so any maxDf ≥ P(1+θ)/(2θ·minSz)
   * cannot lose a candidate ([[jaccardSafeMaxDf]]) — but on real corpora
   * that bound exceeds every observed df (it is vacuous: P/minSz is huge),
   * which is WHY the exact scale path is prefix routing, not a df cut.
   */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, threshold: Double = 0.8,
                        maxDf: Long = Long.MaxValue,
                        prefixFilter: Boolean = false): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // Shingling runs as a typed flatMap, not the `shingles` column function:
    // higher-order array expressions (transform/slice lambdas) are
    // CodegenFallback and re-evaluate the tokenizing split per lambda call —
    // an order of magnitude slower on long documents. Semantics identical
    // (distinct word n-grams; whole text when shorter than n).
    if (!prefixFilter) {
      // postings (shingle HASH, id, full set size); sizes ride along so
      // the final Jaccard needs no joins. Shingles are never materialized
      // as strings on this path: per doc, words hash once and each
      // shingle's 64-bit key is a rolling combine of its n word hashes
      // ([[shingleHashSetOf]]) — the exchange then carries three longs
      // per posting instead of a ~20–40 byte gram string, and the group
      // key comparisons are long equality, not string compares (the same
      // hashed-gram trade the repetition expression makes; the ~n²/2⁶⁴
      // collision bound is negligible at any corpus the 64-bit space
      // serves, and the q25 oracle stays hash-green). mapValues strips
      // the duplicated group key from the exchange (KeyValueGroupedDataset
      // otherwise ships key + full row).
      val posted = Par.widen(df.select(col(idCol).cast("long"), col(textCol)))
        .as[(Long, String)]
        .flatMap { case (id, t) =>
          val hs = shingleHashSetOf(t, n)
          val sz = hs.length.toLong
          hs.iterator.map(h => (h, id, sz))
        }
      // ONE exchange on the hash key, ordered (h, id) by the Tungsten
      // radix sort — each partition then arrives as contiguous id-sorted
      // runs and the pair emitter is a run-scanning state machine over
      // two reusable long arrays: no per-group iterator wrappers, no
      // ArrayBuffer churn, no per-group sortBy (the partition sort
      // already ordered ids), and pairs stream out lazily so a run's
      // pair space is never materialized. A run longer than maxDf is
      // drained and dropped wholesale: a hotter shingle is either cut
      // (explicit maxDf) or this run IS the Σdf² blowup the auto router
      // diverts to the prefix path.
      val thr = threshold
      val cap = maxDf
      val pairs = posted.toDF("h", "id", "sz")
        .repartition(col("h"))
        .sortWithinPartitions(col("h"), col("id"))
        .as[(Long, Long, Long)]
        .mapPartitions { rows =>
          val in = rows.buffered
          new Iterator[(Long, Long, Long)] {
            private var ids = new Array[Long](64)
            private var szs = new Array[Long](64)
            private var len = 0
            private var i = 0 // pair cursor: next candidate is (i, j)
            private var j = 1
            private var ready = false

            /** Pull the next run of equal h into the buffers; skip runs
              * that overflow maxDf or have fewer than two postings. */
            private def loadRun(): Boolean = {
              while (in.hasNext) {
                len = 0
                val h = in.head._1
                var overflow = false
                while (in.hasNext && in.head._1 == h) {
                  val r = in.next()
                  if (!overflow) {
                    if (len == ids.length) {
                      ids = java.util.Arrays.copyOf(ids, len * 2)
                      szs = java.util.Arrays.copyOf(szs, len * 2)
                    }
                    ids(len) = r._2; szs(len) = r._3; len += 1
                    if (len > cap) { overflow = true; len = 0 }
                  }
                }
                if (len >= 2) { i = 0; j = 1; return true }
              }
              false
            }

            /** Advance (i, j) to the next pair passing the exact length
              * filter: J ≤ min/max, so size-incompatible pairs can never
              * qualify and never enter the exchange. */
            @annotation.tailrec private def seek(): Boolean = {
              while (i < len - 1) {
                while (j < len) {
                  val sa = szs(i); val sb = szs(j)
                  val mn = math.min(sa, sb).toDouble
                  val mx = math.max(sa, sb).toDouble
                  if (mn / mx >= thr) return true
                  j += 1
                }
                i += 1; j = i + 1
              }
              if (loadRun()) seek() else false
            }

            def hasNext: Boolean = ready || { ready = seek(); ready }
            def next(): (Long, Long, Long) = {
              if (!hasNext) throw new NoSuchElementException("drained")
              val out = (ids(i), ids(j), (szs(i) << 32) | szs(j))
              j += 1
              if (j >= len) { i += 1; j = i + 1 }
              ready = false
              out
            }
          }
        }
      // sizes packed into one long (set sizes are array-bounded ints);
      // three-long rows keep the pair exchange and agg key narrow
      pairs.toDF("id_a", "id_b", "szs")
        .groupBy(col("id_a"), col("id_b"), col("szs"))
        .agg(count(lit(1)).as("common"))
        .withColumn("sz_a", shiftright(col("szs"), 32))
        .withColumn("sz_b", col("szs").bitwiseAND(lit(0xffffffffL)))
        .withColumn("jaccard",
          col("common").cast("double") /
            (col("sz_a") + col("sz_b") - col("common")))
        .where(col("jaccard") >= threshold)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
    } else {
      val postings = Par.widen(df.select(col(idCol).cast("long"), col(textCol)))
        .as[(Long, String)]
        .flatMap { case (id, t) => shinglesOf(t, n).iterator.map(s => (id, s)) }
        .toDF("id", "s")
      val dfCut =
        if (maxDf == Long.MaxValue) postings
        else {
          val rare = postings.groupBy(col("s")).agg(count(lit(1)).as("df"))
            .where(col("df") <= maxDf && col("df") >= 2)
          postings.join(rare.select("s"), Seq("s"))
        }
      // Prefix filtering (Chaudhuri et al.'s exact candidate reducer): two
      // sets with Jaccard ≥ θ must share a shingle within each other's
      // PREFIX of length |s| − ⌈θ·|s|⌉ + 1 under ANY global total order —
      // ascending document frequency maximizes pruning (rare shingles
      // first), cutting the candidate join roughly by (1−θ)². Candidates
      // are then verified on the FULL shingle sets (the prefix-pruned
      // postings cannot produce the true intersection size).
      import org.apache.spark.sql.expressions.Window
      val dfTable = dfCut.groupBy(col("s")).agg(count(lit(1)).as("__df"))
      val w = Window.partitionBy(col("id")).orderBy(col("__df").asc, col("s").asc)
      val szW = Window.partitionBy(col("id"))
      val prefix = dfCut.join(dfTable, Seq("s"))
        .withColumn("__pos", row_number().over(w))
        .withColumn("__sz", count(lit(1)).over(szW))
        .where(col("__pos") <= col("__sz") - ceil(col("__sz") * threshold) + 1)
        .select(col("id"), col("s"))
      val cand = prefix.as("a").join(prefix.as("b"),
          col("a.s") === col("b.s") && col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
        .dropDuplicates("id_a", "id_b")
      val shDf = shingleSets(df, idCol, textCol, n).toDF("id", "sh")
      cand
        .join(shDf.select(col("id").as("id_a"), col("sh").as("__sa")), Seq("id_a"))
        .join(shDf.select(col("id").as("id_b"), col("sh").as("__sb")), Seq("id_b"))
        .withColumn("jaccard",
          size(array_intersect(col("__sa"), col("__sb"))).cast("double") /
            size(array_union(col("__sa"), col("__sb"))))
        .where(col("jaccard") >= threshold)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
    }
  }

  /**
   * [[ngramJaccardPairs]] with plan routing on the measured pair-space
   * statistic: one cheap aggregate over HASHED shingles (64-bit, routing
   * only — results never touch the hashes) computes Σdf² and the posting
   * count P; when Σdf²/P exceeds `blowupFactor`, hot shingles dominate
   * the pair space and the prefix-filtered path wins (its candidate
   * generation de-prioritizes hot shingles by construction); otherwise
   * the grouped-emit index is both exact and the faster plan. Either
   * route is exact, so the decision only moves runtime, never results —
   * the property that makes measured routing safe at 100×, where a df
   * distribution can't be known ahead of time.
   */
  def ngramJaccardPairsAuto(df: DataFrame, idCol: String, textCol: String,
                            n: Int = 3, threshold: Double = 0.5,
                            blowupFactor: Double = 512.0,
                            sampleFraction: Double = 0.1): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // Sampled statistic: under Binomial row thinning at rate q,
    // E[Σdf_s²/P_s] ≈ q·(Σdf²/P) + (1−q), so the hot-shingle blowup
    // signal survives sampling at 1/q the threshold — and the sample
    // job costs q× the shingling instead of a full second pass.
    //
    // Σdf² is the SECOND FREQUENCY MOMENT of the posting stream, so it
    // is estimated with an AMS tug-of-war sketch (Alon–Matias–Szegedy
    // '96) instead of a groupBy: each posting nudges R signed counters
    // (sign = avalanched bit of (shingle, estimator)), E[Z_r²] = Σdf²,
    // and median-of-means over the R counters lands within ~±25% w.h.p.
    // — ample against a 512× routing threshold. The sketch merges as a
    // vector sum, so the stats pass has NO exchange at all (it shipped
    // every distinct sampled hash before — the stats job cost more than
    // a third of the whole query at sf1) and keeps working at any key
    // cardinality. A single mega-hot shingle feeds every estimator
    // deterministically, so the one failure mode routing must not miss
    // (one boilerplate gram in every doc) is caught with certainty.
    val q = math.min(1.0, math.max(sampleFraction, 1e-3))
    val R = 64
    val nn = n
    val parts = Par.widen(df.select(col(textCol)).sample(q, seed = 7L))
      .as[String]
      .mapPartitions { it =>
        val z = new Array[Long](R)
        var p = 0L
        it.foreach { t =>
          val hs = shingleHashSetOf(t, nn)
          var i = 0
          while (i < hs.length) {
            val h = hs(i)
            var r = 0
            while (r < R) {
              val bit = fmix64(h ^ ((r + 1) * 0x9e3779b97f4a7c15L)) & 1L
              z(r) += (bit << 1) - 1L
              r += 1
            }
            p += 1
            i += 1
          }
        }
        Iterator.single((p, z))
      }
      .collect() // one row per partition: (count, 64 counters)
    val p = parts.iterator.map(_._1).sum
    val z = new Array[Long](R)
    parts.foreach { case (_, zp) =>
      var r = 0; while (r < R) { z(r) += zp(r); r += 1 }
    }
    // median of 4 means of 16 squared counters each
    val means = z.map(v => v.toDouble * v).grouped(R / 4).map(g => g.sum / g.length).toArray
    java.util.Arrays.sort(means)
    val df2 = (means(1) + means(2)) / 2
    // small samples can't blow up (and can't be trusted): stay on the
    // grouped-emit plan below 10k sampled postings
    val ratioFull = if (p >= 10000) (df2 / p - (1 - q)) / q else 0.0
    ngramJaccardPairs(df, idCol, textCol, n, threshold,
      prefixFilter = ratioFull > blowupFactor)
  }

  /**
   * The provably lossless df cut for Jaccard-threshold candidate
   * generation (see [[ngramJaccardPairs]]): any pair with J ≥ θ shares
   * ≥ ⌈2θ/(1+θ)·minSz⌉ shingles, and fewer than P/D shingles can have
   * df > D, so a cut at D ≥ P(1+θ)/(2θ·minSz) is guaranteed to leave
   * every qualifying pair at least one indexed common shingle. Exposed
   * for explicit-`maxDf` callers who want the exactness line, with the
   * honest caveat that the bound is usually vacuous (≥ every observed df).
   */
  def jaccardSafeMaxDf(threshold: Double, minSetSize: Long, totalPostings: Long): Long = {
    require(threshold > 0 && threshold <= 1, "threshold must be in (0, 1]")
    require(minSetSize > 0, "minSetSize must be positive")
    math.ceil(totalPostings * (1 + threshold) / (2 * threshold * minSetSize)).toLong
  }

  /** 64-bit FNV-1a over UTF-16 chars — routing statistics only. */
  private[operators] def longHash(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) { h ^= s.charAt(i); h *= 0x100000001b3L; i += 1 }
    h
  }

  private val HexChars = "0123456789abcdef".toCharArray

  /** md5 hex with a reusable digest — getInstance + format per call costs
    * more than the hash itself in the signature hot loop. */
  private def md5Hex(md: java.security.MessageDigest, s: String): String = {
    md.reset()
    hexOf(md.digest(s.getBytes("UTF-8")))
  }

  private def hexOf(d: Array[Byte]): String = {
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      out(i * 2) = HexChars((d(i) >> 4) & 0xf)
      out(i * 2 + 1) = HexChars(d(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  /** Distinct word-`n`-gram shingles of one text (hot-path twin of
    * [[graft.functions.TextFunctions.shingles]] — same semantics,
    * including trailing-empty-token parity with the oracle). */
  private[graft] def shinglesOf(t: String, n: Int): Seq[String] = {
    val ws: Array[String] = if (t == null) Array.empty else t.split("\\s+", -1)
    if (ws.length >= n) (0 to ws.length - n)
      .map(i => ws.slice(i, i + n).mkString(" ")).distinct
    else Seq(ws.mkString(" "))
  }

  /** 64-bit finalizer (MurmurHash3 fmix64): the rolling FNV combine below
    * mixes upward-only through multiplication; the finalizer restores
    * avalanche so bucket/group keys spread over the full word. */
  private[operators] def fmix64(h0: Long): Long = {
    var h = h0
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
    h ^= h >>> 33
    h
  }

  /** Distinct 64-bit shingle hashes of one text, sorted — the stringless
    * twin of [[shinglesOf]] for paths keyed on shingle IDENTITY only
    * (posting-index grouping, routing statistics): each word hashes once
    * (FNV-1a over its chars), each shingle key is a rolling combine of
    * its n word hashes + fmix64. Word-boundary safe by construction
    * (words hash individually — ["ab","c"] and ["a","bc"] cannot
    * collide structurally, only by 64-bit accident). Same `< n` fallback
    * as shinglesOf: the whole text as one shingle. Zero string
    * allocation beyond the tokenizer's own split. */
  private[graft] def shingleHashSetOf(t: String, n: Int): Array[Long] = {
    val ws: Array[String] = if (t == null) Array.empty else t.split("\\s+", -1)
    val whs = new Array[Long](ws.length)
    var i = 0
    while (i < ws.length) { whs(i) = longHash(ws(i)); i += 1 }
    val m = ws.length - n + 1
    val all =
      if (m >= 1) {
        val out = new Array[Long](m)
        var s = 0
        while (s < m) {
          var h = 0xcbf29ce484222325L
          var j = 0
          while (j < n) { h = (h ^ whs(s + j)) * 0x100000001b3L; j += 1 }
          out(s) = fmix64(h)
          s += 1
        }
        out
      } else {
        var h = 0xcbf29ce484222325L
        var j = 0
        while (j < ws.length) { h = (h ^ whs(j)) * 0x100000001b3L; j += 1 }
        Array(fmix64(h))
      }
    java.util.Arrays.sort(all)
    // in-place distinct over the sorted run
    var w = 0
    i = 0
    while (i < all.length) {
      if (i == 0 || all(i) != all(i - 1)) { all(w) = all(i); w += 1 }
      i += 1
    }
    if (w == all.length) all else java.util.Arrays.copyOf(all, w)
  }



  /** POSITIONAL word-`n`-gram hashes: one 64-bit key per start offset
    * (no distinct, no sort — position matters), same word-hash + FNV
    * combine + fmix64 as [[shingleHashSetOf]]. Docs shorter than `n`
    * tokens yield no grams (a span below the window can't be a
    * duplicated RUN — the ExactSubstr contract, unlike the Jaccard
    * path's whole-doc fallback). */
  private[graft] def positionalShingleHashes(t: String, n: Int): Array[Long] = {
    val ws: Array[String] = if (t == null) Array.empty else t.split("\\s+", -1)
    val m = ws.length - n + 1
    if (m < 1) return Array.emptyLongArray
    val whs = new Array[Long](ws.length)
    var i = 0
    while (i < ws.length) { whs(i) = longHash(ws(i)); i += 1 }
    val out = new Array[Long](m)
    var s = 0
    while (s < m) {
      var h = 0xcbf29ce484222325L
      var j = 0
      while (j < n) { h = (h ^ whs(s + j)) * 0x100000001b3L; j += 1 }
      out(s) = fmix64(h)
      s += 1
    }
    out
  }

  /**
   * Duplicated-RUN stripping — the ExactSubstr regime (Lee et al. 2022,
   * "Deduplicating Training Data Makes Language Models Better") via the
   * distributed gram-df formulation: any window of `n` consecutive
   * whitespace tokens appearing verbatim in ≥ `minDocs` DISTINCT
   * documents marks all its token positions; marked positions are
   * removed and the survivors reassembled with single spaces (output is
   * token-normalized for EVERY doc — uniform semantics, and what the
   * oracle replays). Boilerplate that does not align with line breaks —
   * the blind spot of [[stripDuplicatedLines]] — is caught here.
   *
   * Like published exact-substring dedup, content duplicated across k
   * docs is removed from ALL k copies (no canonical survivor at
   * substring granularity — compose with [[dropExactDuplicates]] /
   * [[Components.dropByPairs]] for document-level keep-one first).
   *
   * Plan (linear in corpus tokens): one tokenize pass emits
   * (gramHash, doc, pos) postings — three longs, grams never shuffled
   * as strings (the [[ngramJaccardPairs]] hashed-gram trade; ~n²/2⁶⁴
   * collision bound, q78 stays hash-green); hot grams are one
   * count-distinct-docs aggregate filtered to ≥ minDocs; postings join
   * back on the SAME hash key (co-partitioned equi-join — the hot side
   * is pre-aggregated, so a viral boilerplate gram lands against ONE
   * row); hot positions aggregate per doc (sorted array, bounded by
   * that doc's own token count); one join back to the corpus and a
   * per-row rebuild. No driver state, no broadcast of corpus-derived
   * frames.
   */
  def stripDuplicatedRuns(df: DataFrame, idCol: String, textCol: String,
                          n: Int = 8, minDocs: Int = 2): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val postings = Par.widen(df.select(col(idCol).cast("long"), col(textCol)))
      .as[(Long, String)]
      .flatMap { case (id, t) =>
        val hs = positionalShingleHashes(t, n)
        Iterator.tabulate(hs.length)(i => (hs(i), id, i))
      }
      .toDF("__h", "__id", "__pos")
    val hot = postings.groupBy(col("__h"))
      .agg(countDistinct(col("__id")).as("__df"))
      .where(col("__df") >= minDocs)
      .select(col("__h"))
    val hotStarts = postings.join(hot, "__h")
      .groupBy(col("__id"))
      .agg(sort_array(collect_list(col("__pos"))).as("__hot"))
    val win = n
    val rebuild = udf { (t: String, hot: Seq[Int]) =>
      val ws: Array[String] = if (t == null) Array.empty else t.split("\\s+", -1)
      val covered = new Array[Boolean](ws.length)
      if (hot != null) hot.foreach { s =>
        var j = s
        val end = math.min(ws.length, s + win)
        while (j < end) { covered(j) = true; j += 1 }
      }
      // mkString(" ") semantics over the SURVIVORS — empty tokens (split
      // keeps boundary empties) occupy separator slots exactly as the
      // oracle's string_agg does
      val sb = new StringBuilder
      var removed = 0L
      var emitted = 0
      var i = 0
      while (i < ws.length) {
        if (covered(i)) removed += 1L
        else {
          if (emitted > 0) sb.append(' ')
          sb.append(ws(i))
          emitted += 1
        }
        i += 1
      }
      (sb.toString, ws.length.toLong, removed)
    }
    df.join(hotStarts, df(idCol).cast("long") === hotStarts("__id"), "left")
      .withColumn("__r", rebuild(col(textCol), col("__hot")))
      .withColumn(textCol, col("__r._1"))
      .withColumn("n_tokens", col("__r._2"))
      .withColumn("n_removed", col("__r._3"))
      .drop("__id", "__hot", "__r")
  }

  /** Distinct word-`n`-gram shingle sets as a typed Dataset. */
  private def shingleSets(df: DataFrame, idCol: String, textCol: String, n: Int) = {
    val spark = df.sparkSession
    import spark.implicits._
    Par.widen(df.select(col(idCol).cast("long"), col(textCol)))
      .as[(Long, String)]
      .map { case (id, t) => (id, shinglesOf(t, n)) }
  }

  /** LSH band buckets of one shingle set: minhash component h =
    * min over shingles of md5(shingle ∥ "#" ∥ h); bucket b = md5 of its
    * band's signature slice. Shared by the batch candidate join
    * ([[minhashLshPairs]]) and the streaming near-dup filter
    * ([[graft.streaming.EventStream.nearDupBandVerdicts]]) so both tiers
    * bucket identically. */
  private[graft] def bandBucketsOf(md: java.security.MessageDigest,
                                   shingles: Seq[String],
                                   numHashes: Int, bands: Int): Array[String] = {
    val rows = numHashes / bands
    // md5(s ∥ "#" ∥ h) via incremental update: the shingle is UTF-8
    // encoded ONCE and the "#h" suffix bytes are table-shared, instead of
    // numHashes string concats + re-encodings per shingle — measured ~2×
    // on the signature stage with identical output by md5's definition.
    // The running min is tracked as the digest's 128-bit value in two
    // PRIMITIVE longs (big-endian, unsigned compare) instead of a hex
    // string: lexicographic order of lowercase hex equals unsigned
    // numeric order of the bytes, so the winning component is identical —
    // but the hot loop allocates NOTHING per (shingle, h) where it used
    // to build and compare a 32-char string (shingles × numHashes
    // allocations per doc; the dominant GC load of the banding stage).
    // Only the numHashes WINNERS are hex-formatted at the end, because
    // the band bucket must stay md5(hex ∥ "|" ∥ hex …) — the form the
    // DuckDB oracle replays.
    val suffixes = hashSuffixes(numHashes)
    val sigHi = new Array[Long](numHashes)
    val sigLo = new Array[Long](numHashes)
    java.util.Arrays.fill(sigHi, -1L) // unsigned max: any digest is ≤
    java.util.Arrays.fill(sigLo, -1L)
    val buf = new Array[Byte](16)
    shingles.foreach { s =>
      val sb = s.getBytes("UTF-8")
      var h = 0
      while (h < numHashes) {
        md.reset()
        md.update(sb)
        md.update(suffixes(h))
        md.digest(buf, 0, 16)
        var hi = 0L; var lo = 0L
        var i = 0
        while (i < 8) { hi = (hi << 8) | (buf(i) & 0xffL); i += 1 }
        while (i < 16) { lo = (lo << 8) | (buf(i) & 0xffL); i += 1 }
        val c = java.lang.Long.compareUnsigned(hi, sigHi(h))
        if (c < 0 || (c == 0 && java.lang.Long.compareUnsigned(lo, sigLo(h)) < 0)) {
          sigHi(h) = hi; sigLo(h) = lo
        }
        h += 1
      }
    }
    val sig = Array.tabulate(numHashes) { h =>
      val out = new Array[Char](32)
      var i = 0
      while (i < 16) {
        val b = (if (i < 8) (sigHi(h) >>> ((7 - i) * 8)) else (sigLo(h) >>> ((15 - i) * 8))).toInt
        out(i * 2) = HexChars((b >> 4) & 0xf)
        out(i * 2 + 1) = HexChars(b & 0xf)
        i += 1
      }
      new String(out)
    }
    Array.tabulate(bands)(b => md5Hex(md, sig.slice(b * rows, (b + 1) * rows).mkString("|")))
  }

  /** "#0".."#n-1" as UTF-8 bytes, cached per JVM (tiny, hash-count keyed). */
  private val suffixCache = new java.util.concurrent.ConcurrentHashMap[Int, Array[Array[Byte]]]
  private def hashSuffixes(n: Int): Array[Array[Byte]] =
    suffixCache.computeIfAbsent(n, k => Array.tabulate(k)(h => ("#" + h).getBytes("UTF-8")))

  /**
   * MinHash-LSH candidate pairs: signature component h is
   * min over shingles of md5(shingle ∥ "#" ∥ h) (engine-reproducible — the
   * DuckDB oracle computes the identical signature); `bands` bands of
   * numHashes/bands rows each; docs sharing any full band collide and are
   * then verified with exact Jaccard. Runs as a typed map (md5 in a hot
   * loop) + equi-join on (band, bucket) — the shuffle key is the bucket
   * hash, so candidate generation is a co-partitioned join, never O(n²).
   *
   * `hotBucketPairCap` (round 18, verdict ask #2): the BATCH twin of
   * [[minhashDeltaPairs]]'s cap — a band bucket whose m² pair space
   * exceeds the cap emits one representative covering edge per doc
   * (min-id verified block-0 representative, exact Jaccard) instead of
   * the full pair list; KEEP/DROP verdict under Components closure is
   * preserved on fully-dense buckets (see
   * [[SimilarityJoin.batchGrid]]). Default MaxValue = unbounded (this
   * is the pair-list primitive — the q25/q35 oracle contract; the safe
   * default lives on [[minhashDedup]], the KEEP/DROP transform). A
   * finite cap forces the grid route — the small-corpus self-join has
   * no covering form and would materialize the dense pair space the
   * cap exists to avoid.
   *
   * EAGERNESS (r19 probe, documented r20): under a FINITE cap this
   * method runs the banding pass plus one tiny aggregate (the
   * hot-bucket probe) at DataFrame-CONSTRUCTION time — the probe's
   * answer decides the scan plan's shape, so construction blocks on
   * one driver job and upstream errors surface here rather than at
   * the first action. One probe per invocation; unbounded
   * (Long.MaxValue) callers stay fully lazy.
   */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      numHashes: Int = 16, bands: Int = 4,
                      shingleLen: Int = 3, threshold: Double = 0.5,
                      smallLimit: Long = 20000L, rowCount: Long = -1L,
                      hotBucketPairCap: Long = Long.MaxValue): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val spark = df.sparkSession
    import spark.implicits._
    val cap = SimilarityJoin.resolveHotPairCap(spark, hotBucketPairCap)
    val capFinite = cap != Long.MaxValue
    val sh = shingleSets(df, idCol, textCol, shingleLen)
    // Grid-route shape (rounds 8-9): verification is bucket-LOCAL over
    // SORTED 64-BIT shingle hashes — each bucket group scans its own
    // pairs (linear sorted-merge intersection with a J ≤ min/max
    // size-ratio prune), hot buckets fan out over a block-pair grid
    // sized by a COUNT JOIN (mass-duplicate clusters share whole band
    // signatures — exactly the skew case), and only survivors leave a
    // task. Round 9 moved the payload hydration LATE: banding emits
    // (bucket, id) keys only, the m ≥ 2 filter drops singleton buckets
    // (the overwhelming majority on real corpora), and the hashed sets
    // attach to surviving rows via a join — see the grid branch below.
    // Hashed-set Jaccard counts are invariant modulo ~setSize²/2⁶⁴
    // collisions (the q25/q63/q78 trade; q35 stays hash-green). A
    // group-key hash collision merely MERGES two candidate groups —
    // recall can only grow, verification stays exact.
    val parallelism = math.max(1, spark.sparkContext.defaultParallelism)
    val thr = threshold
    // small corpora take the whole-stage-codegen self-join (the
    // historical form): below `smallLimit` (default ~20k docs) the count
    // join, checkpoint and RDD-serialized group shuffle cost more than
    // they save (measured: grid 1.4 s vs join 0.6 s at 5k docs), while
    // above it the join's double set-payload exchange loses (grid 11.8 s
    // vs join 20 s at 500k). Both routes are output-identical — the q35
    // oracle gates the join form at sf0.01, DedupSpec's forced-grid
    // parity test (smallLimit = 0) and the ×100 sweep exercise the grid.
    // `rowCount` lets a caller who already knows the cardinality skip
    // the routing count's extra pass over the upstream plan.
    val pairRows =
      if (!capFinite &&
          (if (rowCount >= 0) rowCount else df.count()) <= smallLimit) {
        val bandedDf = sh.mapPartitions { it =>
          val md = java.security.MessageDigest.getInstance("MD5")
          it.flatMap { case (id, shingles) =>
            val buckets = bandBucketsOf(md, shingles, numHashes, bands)
            (0 until bands).iterator.map(b => (id, b, buckets(b), shingles))
          }
        }.toDF("id", "band", "bucket", "sh")
        // both join inputs are the same subtree → one exchange, reused;
        // the Jaccard is computed IN the join projection so the payload
        // arrays die with the join. Deliberately NO shuffle_hash hint
        // (hash build side holds whole-partition payloads; sort-merge
        // spills where a skewed cell would OOM).
        return bandedDf.as("a").join(bandedDf.as("b"),
            col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
              col("a.id") < col("b.id"))
          .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
            (size(array_intersect(col("a.sh"), col("b.sh"))).cast("double") /
              size(array_union(col("a.sh"), col("b.sh")))).as("jaccard"))
          .where(col("jaccard") >= thr)
          .dropDuplicates("id_a", "id_b")
          .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
      } else {
        // LIGHT banding first, sets hydrated LATE (round-9 reshape): the
        // md5 signature pass — the expensive stage — runs ONCE and its
        // lazy localCheckpoint holds 16 bytes/row (bucket key + id)
        // instead of the ~830 MB of rows-carrying-shingle-sets the
        // previous grid materialized and re-shuffled. Singleton buckets
        // can never emit a pair, and they dominate real corpora
        // (measured at ×100: 1.83M of 1.91M occupied buckets, 91% of
        // banded rows), so the m ≥ 2 filter shrinks the frame the set
        // payload ever attaches to by ~11×. The hashed shingle sets come
        // from a SECOND tokenize pass with no md5 in it (~1.5 s at ×100
        // — far below the 830 MB it replaces), joined to the surviving
        // ids; AQE broadcasts that id list when it is small and falls
        // back to a shuffle join when a mass-duplicate corpus makes
        // every row survive. Hot buckets still fan out over the
        // count-sized block grid — this reshape changes WHERE the
        // payload attaches, never which groups are scanned, so output
        // is identical (forced-grid parity test; q35 oracle at
        // sf0.01/sf1).
        val bandedLight = lightBands(sh, numHashes, bands).localCheckpoint(false)
        val blockRows = 2048
        val counts = bandedLight.groupBy(col("bkt")).agg(count(lit(1)).as("m"))
          .where(col("m") >= 2)
        // r19 (verdict ask #1): under a finite cap the counts are probed
        // — one tiny aggregate — so a run with no actually-hot bucket
        // skips the min-mate reduce (the exact unbounded plan shape) and
        // the scan stage is sized by the real cell count. The probe
        // doubles as the lazy checkpoint's materialization, so the md5
        // banding pass still runs once.
        val (anyHot, cells) =
          if (capFinite)
            SimilarityJoin.probeBandedGrid(counts, cap, blockRows, None)
          else (false, 0L)
        val partitions =
          if (capFinite) SimilarityJoin.gridPartitions(cells, 4 * parallelism)
          else 4 * parallelism
        val survivors = bandedLight.join(counts, "bkt")
        val survivorIds = survivors.select(col("id")).distinct()
        val sets = hashedSets(sh).join(survivorIds, "id")
        if (anyHot)
          org.slf4j.LoggerFactory.getLogger(getClass).info(
            s"minhashLshPairs: hot buckets (pair work > $cap) emit " +
              "representative covering edges only (KEEP/DROP-preserving " +
              "on dense buckets; finer on partially-dense ones)")
        val gridRows = survivors.join(sets, "id")
          .select(col("bkt"), col("id"), col("sh"), col("m"))
          .as[(Long, Long, Array[Long], Long)]
          .rdd
          .map { case (bkt, id, hs, m) =>
            val nb = math.max(1L, (m + blockRows - 1) / blockRows).toInt
            ((bkt, nb, anyHot && SimilarityJoin.isHotBucket(m, m, cap)),
              (id, hs))
          }
        // scanBlockPairJaccardDelta over all-true flags scans every
        // pair — cold cells stay bit-identical to the pre-r18 grid
        SimilarityJoin.routedPairScan[Long, Int, Array[Long]](
            SimilarityJoin.batchGrid(gridRows), partitions, anyHot,
            _ => 0,
            (a, b) => scanBlockPairJaccardDelta(a, b, thr),
            (part, repl, _) =>
              scanCellCoveringJaccard(repl, part, thr, newNew = false))
          .map { case (_, ia, ib, j) => (ia, ib, j) }
      }
    pairRows
      .toDF("id_a", "id_b", "jaccard")
      .dropDuplicates("id_a", "id_b")
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  // =====================================================================
  // Incremental (delta) dedup indexes — dedup a NEW batch against a
  // saved index instead of re-mining the whole corpus. One lifecycle
  // over named components; each family supplies only its kernels.
  // =====================================================================

  /** A reusable incremental dedup index over a corpus snapshot: named
    * component frames, every one keyed by the document `id`, plus the
    * family's PINNED parameters (banding widths, hyperplanes,
    * centroids) and the seed-time drift baseline. A delta batch is
    * indexed exactly as the snapshot was — each family's per-row build
    * is a pure function of the payload and the pinned parameters — so
    * reuse is exact, not approximate. This is the 100-TB ingestion
    * pattern: a daily crawl delta dedups against yesterday's index at
    * delta-sized cost; the full-corpus job never reruns. Caller
    * contract: delta ids must be disjoint from indexed ids — ENFORCED
    * by a flag-gated guard on every delta scan and append (see
    * [[requireDeltaDisjoint]]; `spark.graft.checkDeltaDisjoint=false`
    * disables, after which the scan kernels still refuse self-pairs).
    *
    * The lifecycle is written once over the components ([[save]],
    * [[load]], [[append]], [[retract]], [[deltaPairs]],
    * [[pinDriftBaseline]]); a family supplies the kernels declared
    * here. The family is chosen ONCE, at build time — see
    * [[deltaPairs]] for the measured decision rule. */
  sealed trait DeltaIndex {
    /** The concrete index type, so the lifecycle returns what it got. */
    type Self <: DeltaIndex
    def family: IndexFamily[Self]
    /** Component frames in [[IndexFamily.components]] order. */
    def frames: Seq[DataFrame]
    def baseline: Option[DriftBaseline]
    private[graft] def withFrames(frames: Seq[DataFrame]): Self
    private[graft] def withBaseline(baseline: Option[DriftBaseline]): Self
    /** The pinned parameters as the rows of [[IndexFamily.paramsFile]]. */
    private[graft] def paramsFrame(spark: SparkSession): DataFrame
    /** `df` indexed under this index's pinned parameters. */
    private[graft] def batch(df: DataFrame, idCol: String, payloadCol: String): Self
    /** Pairs touching `newDf`, in the family's own output columns. */
    private[graft] def pairsAgainst(newDf: DataFrame, idCol: String, payloadCol: String,
                                    threshold: Double, exactLimit: Long,
                                    hotPairCap: Long): DataFrame
    /** The archive fold's kernel over one materialized micro-batch. */
    private[graft] def fold(b: DataFrame, idCol: String, payloadCol: String,
                            threshold: Double, exactLimit: Long,
                            hotPairCap: Long): Fold
    /** This index's seed-time drift statistics (one-time jobs). */
    private[graft] def measureBaseline(): DriftBaseline
    /** This index rebuilt from its own payload under re-fitted
      * parameters; `atBatch` rotates the random seeds. */
    private[graft] def refit(atBatch: Long): Self
    /** Near-duplicate pairs AMONG the indexed documents (the audit). */
    private[graft] def selfPairs(threshold: Double, exactLimit: Long): DataFrame
  }

  /** What one index family is on disk: its component directories (name
    * and pinned schema; the first holds one row per indexed document),
    * its parameters file and the name of its pair-score column. The
    * schemas are fixed by the writers, so every read passes them: a
    * schema-less parquet read pays a footer-inference job per path set. */
  sealed abstract class IndexFamily[I <: DeltaIndex](
      val name: String,
      val components: Seq[(String, StructType)],
      val paramsFile: String,
      val paramsSchema: StructType,
      val scoreCol: String) {
    def idComponent: String = components.head._1
    protected def assemble(frames: Seq[DataFrame], params: Array[Row],
                           baseline: Option[DriftBaseline]): I
    /** The rows of a batch the index keeps. */
    private[graft] def indexed(batch: DataFrame, payloadCol: String): DataFrame = batch
    /** Refuses when the family cannot re-fit its own parameters. */
    private[graft] def requireInPlaceReseed(op: String): Unit = ()
    private[graft] def readParams(spark: SparkSession, dir: String): Array[Row] =
      spark.read.schema(paramsSchema).parquet(s"$dir/$paramsFile").collect()
    /** One multi-path relation per component over `dirs`. */
    private[graft] def readFrames(spark: SparkSession, dirs: Seq[String]): Seq[DataFrame] =
      components.map { case (c, schema) =>
        spark.read.schema(schema).parquet(dirs.map(d => s"$d/$c"): _*)
      }
    private[graft] def read(spark: SparkSession, dirs: Seq[String], params: Array[Row],
                            baseline: Option[DriftBaseline]): I =
      assemble(readFrames(spark, dirs), params, baseline)
  }

  private[graft] val IndexFamilies: Seq[IndexFamily[_ <: DeltaIndex]] =
    Seq(MinhashIndex, CosineIndex, SemanticIndex)

  /** One micro-batch folded against an index: its delta pairs, its
    * drift probe, and its sliver index with a release hook for any
    * per-batch cache the sliver's writes share. */
  private[graft] final case class Fold(pairs: DataFrame, drift: () => DataFrame,
                                       sliver: () => (DeltaIndex, () => Unit))

  private def idsOf(ix: DeltaIndex): DataFrame = ix.frames.head.select(col("id"))

  /** `f` applied to each component frame with its pinned columns. */
  private def mapComponents(ix: DeltaIndex)
                           (f: (DataFrame, Seq[Column], Int) => DataFrame): ix.Self =
    ix.withFrames(ix.family.components.zip(ix.frames).zipWithIndex.map {
      case (((_, schema), frame), i) => f(frame, schema.fieldNames.toSeq.map(col), i)
    })

  /** Write independent component frames CONCURRENTLY — an index save
    * (and therefore every streamed sliver commit through it) otherwise
    * pays one sequential job wall per component. Failures surface
    * unwrapped; in-flight siblings finish before the error propagates
    * (see [[graft.Par.run]]). */
  private def writeConcurrently(writes: (DataFrame, String)*): Unit =
    Par.run(writes.map { case (df, path) =>
      () => df.write.mode("overwrite").parquet(path)
    })

  /** Persist an index snapshot: one parquet directory per component,
    * the pinned parameters under the family's params file, and the
    * drift baseline (when pinned) under `dir/drift`. The one-row
    * frames join the component batch, so a save pays ONE commit wall. */
  def save(ix: DeltaIndex, dir: String): Unit = {
    val spark = ix.frames.head.sparkSession
    writeConcurrently(
      ix.frames.zip(ix.family.components).map { case (f, (c, _)) => f -> s"$dir/$c" } ++
        Seq(ix.paramsFrame(spark) -> s"$dir/${ix.family.paramsFile}") ++
        driftBaselineDf(ix.baseline, spark).map(_ -> s"$dir/drift"): _*)
  }

  def load[I <: DeltaIndex](spark: SparkSession, dir: String,
                            family: IndexFamily[I]): I =
    family.read(spark, Seq(dir), family.readParams(spark, dir),
      loadDriftBaseline(spark, dir))

  /** Fold a NEW batch into an existing index so the NEXT delta dedups
    * against (corpus ∪ batch) without a full re-mine. The per-batch
    * build is a pure per-row function of the payload and the pinned
    * parameters, so append is an exact unionByName per component — day
    * N's delta becomes part of day N+1's index at delta cost, which
    * completes the daily-ingest loop ([[deltaPairs]] mines the pairs,
    * this grows the snapshot). The drift baseline stays PINNED at seed
    * time by design (a baseline that absorbed every append would
    * under-report cumulative drift). The returned frames are lazy;
    * persist with [[save]] to checkpoint the day. Same caller contract
    * as the delta scan, enforced by the same flag-gated guard. */
  def append(ix: DeltaIndex, newDf: DataFrame, idCol: String,
             payloadCol: String): ix.Self = {
    requireDeltaDisjoint(idsOf(ix), newDf, idCol, "append")
    val added = ix.batch(newDf, idCol, payloadCol).frames
    mapComponents(ix)((frame, cols, i) => frame.select(cols: _*).unionByName(added(i)))
  }

  /** Remove previously-indexed documents — the right-to-be-forgotten /
    * takedown operation. Every component row is keyed by its
    * document's id, so retraction is an exact row filter: one
    * anti-join per component, no recompute, no corpus access —
    * `retract(append(ix, B), B.ids) ≡ ix` bit-for-bit. Pinned
    * parameters and the drift baseline stay pinned (seed-scoped,
    * exactly as for appends). `ids` needs only the id column;
    * retracting an id the index never held refuses loudly via
    * [[requireRetractCovered]] (a takedown that silently "removes"
    * nothing is how the wrong index ships). */
  def retract(ix: DeltaIndex, ids: DataFrame, idCol: String): ix.Self = {
    requireRetractCovered(idsOf(ix), ids, idCol, "retract")
    retractCovered(ix, ids.select(col(idCol).cast("long").as("id")).distinct())
  }

  /** The anti-join body of [[retract]] with coverage ALREADY proven by
    * the caller (ArchiveDedup.forgetDocs classifies every victim
    * against the live index in its ledger pass — a second
    * full-component coverage scan here would be pure duplicate cost). */
  private[graft] def retractCovered(ix: DeltaIndex, rm: DataFrame): ix.Self =
    mapComponents(ix)((frame, cols, _) =>
      frame.select(cols: _*).join(rm, Seq("id"), "left_anti").select(cols: _*))

  /**
   * The unified incremental-dedup facade: route a delta batch against
   * whichever index family the archive was built with, normalizing
   * the output to (id_a, id_b, score), id_a < id_b, score rounded to 6
   * (Jaccard for the minhash tier, cosine for the other two).
   *
   * The family is chosen ONCE, at index-build time — the measured
   * decision rule (×100 rows in BENCH.md "Round 10/11"):
   *
   *  - raw text, no embeddings → [[MinhashIndex]] (the only text tier);
   *    singleton-heavy banding prunes hardest, delta ≈ 0.4× rebuild.
   *  - embeddings over a CLUSTERED corpus (most real embedding spaces)
   *    → [[SemanticIndex]]: the same within-cluster pair set as the
   *    LSH tier at ~¼ its delta cost (measured ×100: 2.7 s vs 10.6 s),
   *    at the price of missing pairs split across clusters (SemDeDup's
   *    documented approximation).
   *  - embeddings where cross-cluster pairs must not be missed →
   *    [[CosineIndex]]: exact tier below `exactLimit` total rows
   *    (bit-identical to the batch scan), hyperplane-LSH above it
   *    (precision 1.0, width-bounded recall, logged on switch); expect
   *    the shuffle floor on clustered corpora (delta ≈ 0.6× rebuild).
   *
   * `payloadCol` is the text column for a minhash index and the vector
   * column otherwise; `exactLimit` only affects the cosine tier.
   */
  def deltaPairs(ix: DeltaIndex, newDf: DataFrame, idCol: String,
                 payloadCol: String, threshold: Double,
                 exactLimit: Long = 10000L,
                 hotPairCap: Long = SimilarityJoin.AutoCap): DataFrame =
    ix.pairsAgainst(newDf, idCol, payloadCol, threshold, exactLimit, hotPairCap)
      .select(col("id_a"), col("id_b"), col(ix.family.scoreCol).as("score"))

  /** Compute and pin the seed-time drift baseline (one-time jobs over
    * the index frames, see each family's statistic). Call at
    * seed/build time, BEFORE appends — the baseline deliberately never
    * moves afterwards. The index frames are lazy: pin on a persisted or
    * save/loaded index so each stats job scans materialized data
    * instead of re-running the build (the archive seeds pin from the
    * saved parquet). */
  def pinDriftBaseline(ix: DeltaIndex): ix.Self =
    ix.withBaseline(Some(ix.measureBaseline()))

  /** The text family: the (bkt, id) keys of the md5 banding pass plus
    * the (id, sorted 64-bit shingle hashes) exact-Jaccard payload, with
    * the banding widths pinned — md5 banding is a pure function of the
    * text and the widths. */
  final case class MinhashIndex(buckets: DataFrame, sets: DataFrame,
                                numHashes: Int, bands: Int, shingleLen: Int,
                                baseline: Option[DriftBaseline] = None)
      extends DeltaIndex {
    type Self = MinhashIndex
    def family: IndexFamily[MinhashIndex] = MinhashIndex
    def frames: Seq[DataFrame] = Seq(sets, buckets)
    private[graft] def withFrames(fs: Seq[DataFrame]): MinhashIndex =
      copy(sets = fs(0), buckets = fs(1))
    private[graft] def withBaseline(b: Option[DriftBaseline]): MinhashIndex =
      copy(baseline = b)
    private[graft] def paramsFrame(spark: SparkSession): DataFrame = {
      import spark.implicits._
      Seq((numHashes, bands, shingleLen))
        .toDF("num_hashes", "bands", "shingle_len").coalesce(1)
    }
    private[graft] def batch(df: DataFrame, idCol: String, textCol: String): MinhashIndex =
      buildMinhashIndex(df, idCol, textCol, numHashes, bands, shingleLen)
    private[graft] def pairsAgainst(newDf: DataFrame, idCol: String, textCol: String,
                                    threshold: Double, exactLimit: Long,
                                    hotPairCap: Long): DataFrame =
      minhashDeltaPairs(this, newDf, idCol, textCol, threshold, hotPairCap)
    // the sliver's two component writes share one shingle+minhash pass
    private[graft] def fold(b: DataFrame, idCol: String, textCol: String,
                            threshold: Double, exactLimit: Long,
                            hotPairCap: Long): Fold =
      Fold(pairsAgainst(b, idCol, textCol, threshold, exactLimit, hotPairCap),
        () => minhashDriftProbe(this, b, idCol, textCol),
        () => buildMinhashIndexShared(b, idCol, textCol, numHashes, bands, shingleLen))
    // bucket statistics and the set-size mean: one wall (Par
    // establishes happens-before at join, so the vars are safe)
    private[graft] def measureBaseline(): DriftBaseline = {
      var keys: (Double, Long, Option[org.apache.spark.util.sketch.BloomFilter]) = null
      var mss = Double.NaN
      Par.run(Seq(
        () => { keys = bucketBaseline(buckets) },
        () => { mss = sets.select(avg(size(col("sh")))).head().getDouble(0) }))
      DriftBaseline(Double.NaN, keys._1, mss, keys._2, keys._3)
    }
    private[graft] def refit(atBatch: Long): MinhashIndex = {
      MinhashIndex.requireInPlaceReseed("refit")
      this
    }
    // banding keys give the LSH candidates, the stored hashed sets the
    // exact Jaccard — equals minhashLshPairs over the indexed corpus
    private[graft] def selfPairs(threshold: Double, exactLimit: Long): DataFrame =
      bucketPairs(buckets, sets, "sh", (a, b) =>
          size(array_intersect(a, b)).cast("double") / size(array_union(a, b)))
        .where(col("score") >= threshold)
        .select(col("id_a"), col("id_b"), round(col("score"), 6).as("jaccard"))
  }

  object MinhashIndex extends IndexFamily[MinhashIndex]("minhash",
      Seq("sets" -> StructType(Seq(StructField("id", LongType),
          StructField("sh", ArrayType(LongType)))),
        "buckets" -> BucketsSchema),
      "params",
      StructType(Seq(StructField("num_hashes", IntegerType),
        StructField("bands", IntegerType), StructField("shingle_len", IntegerType))),
      "jaccard") {
    protected def assemble(fs: Seq[DataFrame], p: Array[Row],
                           baseline: Option[DriftBaseline]): MinhashIndex =
      MinhashIndex(fs(1), fs(0), p(0).getAs[Int]("num_hashes"),
        p(0).getAs[Int]("bands"), p(0).getAs[Int]("shingle_len"), baseline)
    override private[graft] def requireInPlaceReseed(op: String): Unit =
      throw new IllegalArgumentException(s"$op: a minhash archive cannot " +
        "reseed in place (it stores only hashed shingles; re-banding needs " +
        "the raw corpus) — watch driftDir and call reseedMinhashArchive " +
        "out-of-band with the stream stopped")
  }

  private lazy val BucketsSchema =
    StructType(Seq(StructField("bkt", LongType), StructField("id", LongType)))

  /** (id_a < id_b, score) over the bucket-sharing pairs of a (bkt, id)
    * key frame — singleton buckets pruned first (they can never emit a
    * pair and dominate real corpora) — with `score` computed from the
    * two sides' `payloadCol` hydrated from `payload` (the declarative
    * audit join; mass-duplicate corpora should mine off the raw corpus
    * with the block-grid operators instead). */
  private def bucketPairs(keys: DataFrame, payload: DataFrame, payloadCol: String,
                          score: (Column, Column) => Column): DataFrame = {
    val b = keys.select(col("bkt"), col("id"))
    val multi = b.groupBy(col("bkt")).agg(count(lit(1)).as("m"))
      .where(col("m") >= 2).select(col("bkt"))
    val hot = b.join(multi, Seq("bkt"))
    hot.as("a").join(hot.as("b"),
        col("a.bkt") === col("b.bkt") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
      .join(payload.select(col("id").as("id_a"), col(payloadCol).as("__pa")), "id_a")
      .join(payload.select(col("id").as("id_b"), col(payloadCol).as("__pb")), "id_b")
      .select(col("id_a"), col("id_b"), score(col("__pa"), col("__pb")).as("score"))
  }

  /** (bucket, id) banding keys of a shingled corpus — the md5 pass,
    * factored so the batch grid and the index build band identically. */
  private def lightBands(sh: org.apache.spark.sql.Dataset[(Long, Seq[String])],
                         numHashes: Int, bands: Int): DataFrame = {
    val spark = sh.sparkSession
    import spark.implicits._
    sh.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.flatMap { case (id, shingles) =>
        val buckets = bandBucketsOf(md, shingles, numHashes, bands)
        (0 until bands).iterator.map(b =>
          (fmix64(longHash(buckets(b)) * 31L + b), id))
      }
    }.toDF("bkt", "id")
  }

  /** (id, sorted 64-bit shingle hashes) — the exact-Jaccard payload. */
  private def hashedSets(sh: org.apache.spark.sql.Dataset[(Long, Seq[String])]): DataFrame = {
    val spark = sh.sparkSession
    import spark.implicits._
    sh.map { case (id, shingles) =>
      val hs = new Array[Long](shingles.length)
      var i = 0
      shingles.foreach { s => hs(i) = longHash(s); i += 1 }
      java.util.Arrays.sort(hs)
      (id, hs)
    }.toDF("id", "sh")
  }

  def buildMinhashIndex(df: DataFrame, idCol: String, textCol: String,
                        numHashes: Int = 16, bands: Int = 4,
                        shingleLen: Int = 3): MinhashIndex = {
    val sh = shingleSets(df, idCol, textCol, shingleLen)
    MinhashIndex(lightBands(sh, numHashes, bands), hashedSets(sh),
      numHashes, bands, shingleLen)
  }

  /** [[buildMinhashIndex]] with the shingle+minhash pass SHARED across
    * the concurrent buckets/sets writes (lazy persist: the first write
    * materializes each partition, the cache's per-partition loading
    * lock hands it to the other — one signature pass, writes stay
    * concurrent, no eager-materialization barrier). For BATCH-SIZED
    * inputs only (the archive fold's sliver build): a full-corpus seed
    * keeps the lazy recompute trade rather than caching the whole
    * corpus's shingle sets. Callers MUST invoke the returned cleanup
    * after the writes to release the cached partitions. */
  private[graft] def buildMinhashIndexShared(
      df: DataFrame, idCol: String, textCol: String,
      numHashes: Int, bands: Int, shingleLen: Int): (MinhashIndex, () => Unit) = {
    val sh = shingleSets(df, idCol, textCol, shingleLen)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    (MinhashIndex(lightBands(sh, numHashes, bands), hashedSets(sh),
      numHashes, bands, shingleLen),
      () => { sh.unpersist(false); () })
  }

  /**
   * Near-duplicate pairs INVOLVING a new batch, against an existing
   * index: every (new, old) and (new, new) pair with exact Jaccard ≥
   * `threshold`; (old, old) pairs are NEVER re-scanned — that work was
   * done when the index corpus was mined. Output is exactly
   * [[minhashLshPairs]] over (indexed ∪ delta) restricted to pairs with
   * at least one delta id (banding is deterministic per doc, so the
   * union's buckets equal the incremental union of bucket keys — the
   * q84 oracle replays this equivalence in SQL).
   *
   * Cost shape at scale: the md5 banding pass runs over the DELTA only;
   * index buckets join in as keys (16 B/row); the m ≥ 2 ∧ has-delta
   * bucket filter discards every bucket the delta didn't touch, so the
   * set payload — old or new — hydrates only for docs sharing a bucket
   * with the delta. Hot buckets fan out over the same count-sized block
   * grid as the batch operator.
   *
   * `hotBucketPairCap` (round 17): the TEXT twin of the embedding
   * routes' dense-duplicate valve — boilerplate document clusters put
   * intra-cluster Jaccard above the threshold, making the delta pair
   * space cluster-quadratic; buckets whose candidate work `m_new × m`
   * exceeds the cap emit one covering edge per new doc (min-id
   * verified mate, exact Jaccard in the same merge-count kernel)
   * instead of the full pair list. Same verdict-preservation contract
   * as [[SimilarityJoin.lshCosineDeltaPairs]] (CappedEmissionSpec
   * gates the minhash case too). Default [[SimilarityJoin.AutoCap]]
   * (r18): SAFE — resolved from session config; Long.MaxValue is the
   * explicit unbounded opt-out (the pre-r17 path).
   *
   * EAGERNESS (r19 probe, documented r20): under a FINITE cap this
   * method runs the banding pass plus one tiny aggregate (the
   * hot-bucket probe) at DataFrame-CONSTRUCTION time — the probe's
   * answer decides the scan plan's shape, so construction blocks on
   * one driver job and upstream errors surface here rather than at
   * the first action. One probe per invocation; unbounded
   * (Long.MaxValue) callers stay fully lazy.
   */
  def minhashDeltaPairs(ix: MinhashIndex, newDf: DataFrame,
                        idCol: String, textCol: String,
                        threshold: Double = 0.5,
                        hotBucketPairCap: Long = SimilarityJoin.AutoCap): DataFrame = {
    val spark = newDf.sparkSession
    import spark.implicits._
    requireDeltaDisjoint(idsOf(ix), newDf, idCol, "minhashDeltaPairs")
    val parallelism = math.max(1, spark.sparkContext.defaultParallelism)
    val blockRows = 2048
    val thr = threshold
    val cap = SimilarityJoin.resolveHotPairCap(spark, hotBucketPairCap)
    val capFinite = cap != Long.MaxValue
    val (counts, scanInput) = minhashDeltaScanParts(ix, newDf, idCol, textCol)
    // r19 (verdict ask #1): a finite cap no longer implies the reduce —
    // one tiny aggregate over the count join answers "is any bucket
    // actually hot?" and sizes the scan stage; cold runs (the common
    // sparse case under the r18 safe default) take the exact unbounded
    // plan shape. The probe job doubles as the lazy checkpoint's
    // materialization, so the banding pass still runs once.
    val (anyHot, cells) =
      if (capFinite)
        SimilarityJoin.probeBandedGrid(counts, cap, blockRows, Some("m_new"))
      else (false, 0L)
    val partitions =
      if (capFinite) SimilarityJoin.gridPartitions(cells, 4 * parallelism)
      else 4 * parallelism
    if (anyHot)
      // the documented bounded-recall loss on partially-dense hot
      // buckets must leave a runtime trace on EVERY capped route (r17
      // ADVICE — only the cosine caller logged it); r19: the trace now
      // fires only when a bucket IS hot, not whenever the cap is finite
      org.slf4j.LoggerFactory.getLogger(getClass).info(
        s"minhashDeltaPairs: hot buckets (candidate work > $cap) emit " +
          "covering edges only (KEEP/DROP-preserving on dense clusters; " +
          "components can come out finer on partially-dense buckets)")
    val input = scanInput
      .as[(Long, Long, Array[Long], Long, Long, Boolean)]
      .rdd
      .map { case (bkt, id, hs, m, mNew, isNew) =>
        val nb = math.max(1L, (m + blockRows - 1) / blockRows).toInt
        ((bkt, nb, anyHot && SimilarityJoin.isHotBucket(m, mNew, cap)),
          (id, hs, isNew))
      }
    SimilarityJoin.routedPairScan[Long, Int, Array[Long]](
        SimilarityJoin.deltaGrid(input), partitions, anyHot, _ => 0,
        (a, b) => scanBlockPairJaccardDelta(a, b, thr),
        (part, repl, firstCell) =>
          scanCellCoveringJaccard(part, repl, thr, newNew = firstCell))
      .map { case (_, ia, ib, j) => (ia, ib, j) }
      .toDF("id_a", "id_b", "jaccard")
      .dropDuplicates("id_a", "id_b")
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** The DECLARATIVE prefix of [[minhashDeltaPairs]] — everything up to
    * the block-grid scan, exposed (package-private) so
    * PlanInvariantsSpec can gate the plan the optimizer actually
    * produces: delta-sided banding (every corpus scan in this subtree
    * must carry the delta predicate; index data enters only through the
    * index frames), no cartesian pair space. Columns:
    * (bkt, id, sh, m, m_new, is_new) — m_new feeds the hot-bucket
    * trigger of the capped route (r17). */
  private[graft] def minhashDeltaScanInput(ix: MinhashIndex, newDf: DataFrame,
                                           idCol: String,
                                           textCol: String): DataFrame =
    minhashDeltaScanParts(ix, newDf, idCol, textCol)._2

  /** [[minhashDeltaScanInput]] with its bucket count join also exposed —
    * (counts, input) share ONE lazily-checkpointed banding frame, so the
    * capped route's hot-bucket probe ([[SimilarityJoin.probeBandedGrid]])
    * and the grid scan read the same materialization instead of banding
    * twice. */
  private[graft] def minhashDeltaScanParts(ix: MinhashIndex, newDf: DataFrame,
                                           idCol: String,
                                           textCol: String): (DataFrame, DataFrame) = {
    val shNew = shingleSets(newDf, idCol, textCol, ix.shingleLen)
    val newBands = lightBands(shNew, ix.numHashes, ix.bands)
      .withColumn("is_new", lit(true))
    val allBands = newBands
      .unionByName(ix.buckets.select(col("bkt"), col("id"))
        .withColumn("is_new", lit(false)))
      .localCheckpoint(false)
    val counts = allBands.groupBy(col("bkt"))
      .agg(count(lit(1)).as("m"),
        sum(when(col("is_new"), 1L).otherwise(0L)).as("m_new"))
      .where(col("m") >= 2 && col("m_new") >= 1)
    val survivors = allBands.join(counts, "bkt")
    val survivorIds = survivors.select(col("id")).distinct()
    val sets = hashedSets(shNew)
      .unionByName(ix.sets.select(col("id"), col("sh")))
      .join(survivorIds, "id")
    (counts,
      survivors.join(sets, "id")
        .select(col("bkt"), col("id"), col("sh"), col("m"), col("m_new"),
          col("is_new")))
  }

  /** Driver-side ceiling for the takedown paths' classification
    * collects (one row per victim id): the "collects are
    * takedown-sized" contract made mechanical — the collect is BOUNDED
    * at cap+1 rows by a limit and a batch beyond the cap refuses
    * loudly, so the driver never holds more than the cap (it may hold
    * up to the cap, on success and refusal alike — size the cap to the
    * heap). `spark.graft.maxTakedownCollect` overrides (unparseable
    * keeps the default). */
  private[graft] def takedownCollectCap(spark: org.apache.spark.sql.SparkSession): Int =
    spark.conf.getOption("spark.graft.maxTakedownCollect")
      .flatMap(v => scala.util.Try(v.trim.toInt).toOption)
      .getOrElse(2000000)

  /** True unless the session disables the delta-disjointness guard
    * (`spark.graft.checkDeltaDisjoint=false`; unparseable values keep
    * the guard ON — fail safe). */
  private[graft] def checkDeltaDisjoint(spark: org.apache.spark.sql.SparkSession): Boolean =
    spark.conf.getOption("spark.graft.checkDeltaDisjoint")
      .forall(v => scala.util.Try(v.trim.toBoolean).getOrElse(true))

  /** Run `body` with adaptive execution OFF (round 16 job diet): the
    * sanity guards are bounded limit-collects over one or two TINY
    * exchanges, and AQE materializes each exchange as its own driver
    * job — measured 5-6 driver round-trips per guard for a ≤4-row
    * answer, which at sf-battery scale is the guards' entire cost.
    * Static planning collapses a guard to one job; AQE is an
    * optimization, so a concurrent query that plans inside this window
    * merely plans statically too (correctness unaffected).
    *
    * JVM-global lock: two UNSERIALIZED guards interleaving their
    * save/set/restore would let the second snapshot the first's "false"
    * as its restore value and leave AQE off for the session's lifetime.
    * Only PLANNING runs inside the lock (the AQE decision is taken by
    * the planner — `InsertAdaptiveSparkPlan` reads the conf when
    * `executedPlan` is forced; the memoized static plan then executes
    * unchanged whatever the conf says): execution — the
    * batch-proportional scan — happens outside, so concurrent streams'
    * guard scans stay parallel and the locked window is milliseconds
    * of planning. */
  private val aqeGuardLock = new Object
  private[graft] def withoutAqe(spark: org.apache.spark.sql.SparkSession,
                                frame: DataFrame): Array[org.apache.spark.sql.Row] = {
    aqeGuardLock.synchronized {
      val key = "spark.sql.adaptive.enabled"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, "false")
      // force the (memoized) physical plan under AQE-off; collect()
      // below reuses this QueryExecution
      try frame.queryExecution.executedPlan
      finally prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
    frame.collect()
  }

  /** The null/within-batch-uniqueness half of [[requireDeltaDisjoint]],
    * for paths whose index-overlap condition is enforced elsewhere (the
    * streaming stats sinks' id-membership replay guard handles overlap,
    * but a micro-batch carrying the SAME doc id twice would silently
    * double-count bigram partials — countDistinct shields token-df
    * only). Same flag, same one-action cost shape. */
  private[graft] def requireBatchIdsSane(batch: DataFrame, idCol: String,
                                         op: String): Unit = {
    if (!checkDeltaDisjoint(batch.sparkSession)) return
    val offenders = withoutAqe(batch.sparkSession,
      batch.select(col(idCol).cast("long").as("id"))
        .groupBy("id").count()
        .where(col("id").isNull || col("count") > 1)
        .limit(4))
    val (nullKeys, dup) = offenders.partition(_.isNullAt(0))
    require(nullKeys.isEmpty,
      s"$op: batch ids must be non-null and castable to long (column " +
        s"'$idCol' has null/uncastable values) — filter or repair them " +
        "before the batch commits")
    require(dup.isEmpty,
      s"$op: batch ids must be unique within the batch, but e.g. " +
        s"[${dup.map(_.getLong(0)).mkString(", ")}] appear more than " +
        "once — duplicated rows would double-count the batch's partial " +
        "counts. Pre-compact the batch (latest wins), or disable the " +
        "check with spark.graft.checkDeltaDisjoint=false")
  }

  /** The retraction mirror of [[requireDeltaDisjoint]]: a batch may
    * only be subtracted from an index that FOLDED it — retracting an
    * id the index never saw drives its partial counts negative, which
    * is silent corruption (the scorers filter non-positive sums, so the
    * damage would surface as quietly-missing statistics). Enforces
    * null-free, within-batch-unique ids AND batch ⊆ indexed ids in one
    * driver action; same session flag as the append guard. */
  private[graft] def requireRetractCovered(ixIds: DataFrame, batch: DataFrame,
                                           idCol: String, op: String): Unit = {
    if (!checkDeltaDisjoint(batch.sparkSession)) return
    val counts = batch.select(col(idCol).cast("long").as("id"))
      .groupBy("id").count()
    val offenders = counts.where(col("id").isNull || col("count") > 1)
      .select(col("id"), lit("within").as("kind")).limit(4)
      .unionByName(counts.select(col("id"))
        .join(ixIds.select(col("id")), Seq("id"), "left_anti")
        .select(col("id"), lit("missing").as("kind")).limit(3))
      .collect()
    val (within, missing) = offenders.partition(_.getString(1) == "within")
    val (nullKeys, dup) = within.partition(_.isNullAt(0))
    require(nullKeys.isEmpty,
      s"$op: retraction ids must be non-null and castable to long " +
        s"(column '$idCol' has null/uncastable values)")
    require(dup.isEmpty,
      s"$op: retraction ids must be unique within the batch, but e.g. " +
        s"[${dup.map(_.getLong(0)).mkString(", ")}] appear more than " +
        "once — a doubled row would subtract the doc's counts twice")
    require(missing.isEmpty,
      s"$op: every retracted id must be archived in the index, but " +
        s"e.g. [${missing.map(_.getLong(0)).mkString(", ")}] were never " +
        "folded — retraction must replay exactly the batch that was " +
        "appended (same ids, same text); subtracting unseen docs drives " +
        "partial counts negative. Disable with " +
        "spark.graft.checkDeltaDisjoint=false only if the caller " +
        "guarantees coverage")
  }

  /** Enforce the delta-index disjointness contract LOUDLY: an id on both
    * sides would band into its own buckets twice and could survive the
    * m ≥ 2 filter as a bogus self-bucket, so a violated contract must
    * fail, not silently skew pairs. Cost: one pruned pass over the
    * index id column joined with the distinct delta ids — the delta
    * side is NOT hint-forced to broadcast (a forced broadcast of an
    * unbounded delta is a driver OOM at 100 TB); AQE broadcasts it at
    * runtime when it is small, which is the typical daily-ingest shape.
    * `limit(3)` stops at the first offenders. Disable per session with
    * `spark.graft.checkDeltaDisjoint=false` (the scan kernels still
    * refuse self-pairs, so a violation then degrades to duplicate-pair
    * noise instead of corrupt output). */
  private[graft] def requireDeltaDisjoint(ixIds: DataFrame, newDf: DataFrame,
                                   idCol: String, op: String): Unit = {
    if (!checkDeltaDisjoint(newDf.sparkSession)) return
    // ids must also be unique WITHIN the batch: two delta rows sharing
    // an id would emit duplicated (and, under conflicting payloads,
    // nondeterministically-scored) pairs — silent, so it must be loud.
    // ONE action covers all three probes (null/uncastable keys — they'd
    // NPE the typed kernels later with an opaque encoder error;
    // within-batch dups; index overlap): the counts subtree feeds both
    // branches of one union, so Spark reuses its exchange and the guard
    // costs one job round-trip, not two (measured: the two-action form
    // added ~1.2 s to q84 / ~2 s to q86 at sf0.1 — driver-job latency,
    // not data volume)
    val counts = newDf.select(col(idCol).cast("long").as("id"))
      .groupBy("id").count()
    val offenders = withoutAqe(newDf.sparkSession,
      counts.where(col("id").isNull || col("count") > 1)
        .select(col("id"), lit("within").as("kind")).limit(4)
        .unionByName(ixIds
          .join(counts.select(col("id")), "id")
          .select(col("id"), lit("overlap").as("kind")).limit(3)))
    val (within, overlap) = offenders.partition(_.getString(1) == "within")
    val (nullKeys, dup0) = within.partition(_.isNullAt(0))
    require(nullKeys.isEmpty,
      s"$op: delta ids must be non-null and castable to long (column " +
        s"'$idCol' has null/uncastable values) — filter or repair them " +
        "before the delta scan")
    val dup = dup0.map(_.getLong(0))
    require(dup.isEmpty,
      s"$op: delta ids must be unique within the batch, but e.g. " +
        s"[${dup.mkString(", ")}] appear more than once — pre-compact the " +
        "batch (latest wins) before the delta scan, or disable the check " +
        "with spark.graft.checkDeltaDisjoint=false")
    val dupIx = overlap.map(_.getLong(0))
    require(dupIx.isEmpty,
      s"$op: delta ids must be disjoint from indexed ids, but e.g. " +
        s"[${dupIx.mkString(", ")}] appear on both sides — dedup the " +
        "delta against the index id set first (anti-join), or disable the " +
        "check with spark.graft.checkDeltaDisjoint=false if the overlap " +
        "is intentional")
  }

  // =====================================================================
  // Incremental (delta) cosine dedup — the EMBEDDING twin of the
  // minhash index: an embedding batch dedups against a saved
  // hyperplane-LSH index at delta cost (the incremental regime of the
  // reference's embedding cache, ref:
  // day_10/embedders/embedding_pipeline.py:238-314, applied to the
  // near-dup pair problem)
  // =====================================================================

  /** A reusable hyperplane-LSH index over an embedding-corpus snapshot:
    * the (bucket, id) signature keys plus the (id, vector) verification
    * payload, with the signature parameters pinned — hyperplanes are a
    * pure function of (dim, numBits, bands, seed), so an index banded
    * yesterday and a delta banded today bucket identically and reuse is
    * exact. */
  final case class CosineIndex(buckets: DataFrame, vecs: DataFrame,
                               numBits: Int, bands: Int, dim: Int,
                               seed: Long,
                               baseline: Option[DriftBaseline] = None)
      extends DeltaIndex {
    type Self = CosineIndex
    def family: IndexFamily[CosineIndex] = CosineIndex
    def frames: Seq[DataFrame] = Seq(vecs, buckets)
    private[graft] def withFrames(fs: Seq[DataFrame]): CosineIndex =
      copy(vecs = fs(0), buckets = fs(1))
    private[graft] def withBaseline(b: Option[DriftBaseline]): CosineIndex =
      copy(baseline = b)
    private[graft] def paramsFrame(spark: SparkSession): DataFrame = {
      import spark.implicits._
      Seq((numBits, bands, dim, seed))
        .toDF("num_bits", "bands", "dim", "seed").coalesce(1)
    }
    private[graft] def batch(df: DataFrame, idCol: String, vecCol: String): CosineIndex =
      buildCosineIndex(df, idCol, vecCol, numBits, bands, dim, seed)
    private[graft] def pairsAgainst(newDf: DataFrame, idCol: String, vecCol: String,
                                    threshold: Double, exactLimit: Long,
                                    hotPairCap: Long): DataFrame =
      cosineDeltaPairs(this, newDf, idCol, vecCol, threshold, exactLimit, hotPairCap)
    private[graft] def fold(b: DataFrame, idCol: String, vecCol: String,
                            threshold: Double, exactLimit: Long,
                            hotPairCap: Long): Fold =
      Fold(pairsAgainst(b, idCol, vecCol, threshold, exactLimit, hotPairCap),
        () => cosineDriftProbe(this, b, idCol, vecCol),
        () => (batch(b, idCol, vecCol), () => ()))
    private[graft] def measureBaseline(): DriftBaseline = {
      val (top, n, bloom) = bucketBaseline(buckets)
      DriftBaseline(Double.NaN, top, Double.NaN, n, bloom)
    }
    // dim never drifts; widths re-auto-size at the CUMULATIVE corpus
    // row count, and the rotated seed re-randomizes the hyperplanes
    // against whatever orientation collapsed the old buckets
    private[graft] def refit(atBatch: Long): CosineIndex =
      buildCosineIndex(vecs.select(col("id"), col("v")), "id", "v",
        dim = dim, seed = seed + atBatch + 1L)
    /** Two-tier like [[cosineDeltaPairs]]: at or under `exactLimit`
      * stored vectors the EXACT blocked θ-scan (the q15/q97 oracle
      * shape); above it, LSH candidates off the stored banding keys
      * verified with exact cosine — precision 1.0, recall the pinned
      * widths'. */
    private[graft] def selfPairs(threshold: Double, exactLimit: Long): DataFrame = {
      // exactLimit=Long.MaxValue (the q85/q97 oracle regime) has already
      // chosen the exact tier — the tier-pick count would be a pure
      // driver round-trip
      val n = if (exactLimit == Long.MaxValue) 0L else vecs.select(col("id")).count()
      val pairs =
        if (n <= exactLimit) SimilarityJoin.thresholdPairs(vecs, "id", "v", threshold)
        else {
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"archivePairs: $n stored vectors > exactLimit=$exactLimit — " +
              s"auditing via the stored LSH banding keys (numBits=$numBits, " +
              s"bands=$bands): precision 1.0 (exact cosine verification), " +
              "recall the pinned widths'")
          bucketPairs(buckets, vecs, "v", cosineSimilarity)
            .withColumnRenamed("score", "sim").where(col("sim") >= threshold)
        }
      pairs.select(col("id_a"), col("id_b"), round(col("sim"), 6).as("sim"))
    }
  }

  object CosineIndex extends IndexFamily[CosineIndex]("cosine",
      Seq("vecs" -> StructType(Seq(StructField("id", LongType),
          StructField("v", ArrayType(FloatType)))),
        "buckets" -> BucketsSchema),
      "params",
      StructType(Seq(StructField("num_bits", IntegerType),
        StructField("bands", IntegerType), StructField("dim", IntegerType),
        StructField("seed", LongType))),
      "sim") {
    protected def assemble(fs: Seq[DataFrame], p: Array[Row],
                           baseline: Option[DriftBaseline]): CosineIndex =
      CosineIndex(fs(1), fs(0), p(0).getAs[Int]("num_bits"), p(0).getAs[Int]("bands"),
        p(0).getAs[Int]("dim"), p(0).getAs[Long]("seed"), baseline)
    // the index stores only non-null vectors
    override private[graft] def indexed(batch: DataFrame, vecCol: String): DataFrame =
      batch.where(col(vecCol).isNotNull)
  }

  /** Build a [[CosineIndex]] over `df`. Widths default to the same
    * auto-sizing as [[embeddingNearDupPairs]]'s scale route
    * ([[autoLshBits]]/[[autoLshBands]] at the INDEX corpus size — pin
    * them explicitly if the corpus will grow far past the build size);
    * `dim` is inferred from the data unless given. The returned frames
    * are lazy — [[save]] materializes the snapshot. */
  def buildCosineIndex(df: DataFrame, idCol: String, vecCol: String,
                       numBits: Int = -1, bands: Int = -1, dim: Int = -1,
                       seed: Long = 42L): CosineIndex = {
    val d =
      if (dim > 0) dim
      else {
        val row = df.where(col(vecCol).isNotNull)
          .agg(max(size(col(vecCol)))).collect()(0)
        require(!row.isNullAt(0),
          "buildCosineIndex: no non-null vectors to infer dim from — pass dim explicitly")
        row.getInt(0)
      }
    val (bits, b) =
      if (numBits > 0 && bands > 0) (numBits, bands)
      else {
        val n = df.select(col(idCol)).count() // pruned id-column count
        val bits0 = if (numBits > 0) numBits else autoLshBits(n)
        (bits0, if (bands > 0) bands else autoLshBands(bits0))
      }
    CosineIndex(
      SimilarityJoin.cosineBuckets(df, idCol, vecCol, bits, b, d, seed),
      df.select(col(idCol).cast("long").as("id"),
          col(vecCol).cast("array<float>").as("v"))
        .where(col("v").isNotNull),
      bits, b, d, seed)
  }

  /**
   * Near-duplicate cosine pairs INVOLVING a new embedding batch,
   * against an existing [[CosineIndex]]: every (new, old) and
   * (new, new) pair with cosine ≥ `threshold`; (old, old) pairs are
   * NEVER re-scanned. The routed public form of the incremental cosine
   * path, mirroring [[embeddingNearDupPairs]]'s two-tier contract:
   *
   *  - (index + delta) ≤ `exactLimit` rows → the EXACT blocked delta
   *    scan ([[SimilarityJoin.thresholdPairsDelta]]): output is
   *    bit-identical to [[SimilarityJoin.thresholdPairs]] over
   *    (indexed ∪ delta) restricted to pairs with at least one delta
   *    id — the q85 oracle replays exactly this in SQL.
   *  - larger → the hyperplane-LSH delta route
   *    ([[SimilarityJoin.lshCosineDeltaPairs]]) under the index's
   *    pinned widths: precision stays 1.0 (exact cosine verification),
   *    recall is the index widths' — the same bounded-recall contract
   *    as the batch scale route, logged loudly on switch. Output then
   *    equals [[SimilarityJoin.lshCosinePairs]] over (indexed ∪ delta)
   *    at the same widths, restricted to delta-touching pairs
   *    (DedupSpec gates this parity), with delta-sized banding: buckets
   *    the delta does not touch drop before any vector hydrates.
   *
   * Cost honesty at scale: the SCAN is delta-proportional (old×old
   * skipped pre-arithmetic), but bucket-untouched pruning pays off in
   * proportion to how many buckets the delta misses. On a clustered
   * embedding corpus cosine buckets are mostly non-singleton (the
   * BENCH.md occupancy probe), so a uniformly-drawn delta touches most
   * buckets and the survivor HYDRATION shuffle stays corpus-shaped —
   * measured ×100: delta ≈ 0.6× the full rebuild, not the minhash
   * path's ≈ 0.4× (whose singleton-heavy buckets prune harder). The
   * asymptotic win holds (pair scan tracks the delta; a
   * delta-disjoint-in-signature-space corpus prunes fully), but a
   * clustered corpus should expect the shuffle floor.
   *
   * Output: (id_a, id_b, sim), id_a < id_b, sim rounded to 6 — the
   * same shape the batch consumers publish.
   *
   * `hotBucketPairCap` (round 17): forwarded to the LSH tier's
   * [[SimilarityJoin.lshCosineDeltaPairs]] — buckets whose candidate
   * pair work exceeds the cap emit one covering edge per new row
   * instead of the full pair space (the dense-duplicate regime; see
   * that method's verdict-preservation contract). The exact tier is
   * unaffected: its pair space is already bounded by `exactLimit`².
   *
   * EAGERNESS (r19 probe, documented r20): under a FINITE cap this
   * method runs the banding pass plus one tiny aggregate (the
   * hot-bucket probe) at DataFrame-CONSTRUCTION time — the probe's
   * answer decides the scan plan's shape, so construction blocks on
   * one driver job and upstream errors surface here rather than at
   * the first action. One probe per invocation; unbounded
   * (Long.MaxValue) callers stay fully lazy.
   */
  def cosineDeltaPairs(ix: CosineIndex, newDf: DataFrame,
                       idCol: String, vecCol: String, threshold: Double,
                       exactLimit: Long = 10000L,
                       hotBucketPairCap: Long = SimilarityJoin.AutoCap): DataFrame = {
    requireDeltaDisjoint(idsOf(ix), newDf, idCol, "cosineDeltaPairs")
    val cap = SimilarityJoin.resolveHotPairCap(newDf.sparkSession, hotBucketPairCap)
    // ONE tier-pick job (round 17 job diet): the union count replaces
    // two separate count round-trips, and a pinned exactLimit=MaxValue
    // (the q85/q97 oracle regime) skips the job outright — the caller
    // already chose the exact tier
    val n = if (exactLimit == Long.MaxValue) 0L
      else ix.vecs.select(col("id"))
        .unionByName(newDf.select(col(idCol).cast("long").as("id")))
        .count()
    val pairs =
      if (n <= exactLimit)
        SimilarityJoin.thresholdPairsDelta(ix.vecs, newDf, idCol, vecCol,
          threshold)
      else {
        val pBand = math.pow(
          1.0 - math.acos(math.min(1.0, threshold)) / math.Pi,
          ix.numBits.toDouble)
        val predicted = 1.0 - math.pow(1.0 - pBand, ix.bands.toDouble)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          f"cosineDeltaPairs: $n rows > exactLimit=$exactLimit — routing to " +
            f"LSH delta candidates (numBits=${ix.numBits}, bands=${ix.bands}): " +
            f"precision stays 1.0 (exact cosine verification); predicted " +
            f"recall for a pair AT cosine $threshold is $predicted%.3f" + (
            if (cap != Long.MaxValue)
              f"; hot buckets (candidate work > $cap) emit " +
                "covering edges only (KEEP/DROP-preserving on dense clusters)"
            else ""))
        SimilarityJoin.lshCosineDeltaPairs(ix.buckets, ix.vecs, newDf,
          idCol, vecCol, threshold, ix.numBits, ix.bands, ix.dim, ix.seed,
          cap)
      }
    pairs.select(col("id_a"), col("id_b"), round(col("sim"), 6).as("sim"))
  }

  // =====================================================================
  // Incremental SemDeDup — a delta batch against archived cluster
  // members under PROVIDED centroids (the third modality of the delta
  // family: text shingles → MinhashIndex, raw cosine → CosineIndex,
  // cluster-partitioned semantic pairs → this)
  // =====================================================================

  /** Archived side of incremental semantic dedup: the corpus assigned
    * once to PINNED centroids — members = (id, cluster, v), plus the
    * centroid table itself so every later delta assigns identically
    * (assignment is a pure function of vector + centroids: double-math
    * argmin, strict <, lowest index on ties — the q83/q88 oracle
    * regime). */
  final case class SemanticIndex(members: DataFrame,
                                 centroids: Array[Array[Float]],
                                 baseline: Option[DriftBaseline] = None)
      extends DeltaIndex {
    type Self = SemanticIndex
    def family: IndexFamily[SemanticIndex] = SemanticIndex
    def frames: Seq[DataFrame] = Seq(members)
    private[graft] def withFrames(fs: Seq[DataFrame]): SemanticIndex =
      copy(members = fs(0))
    private[graft] def withBaseline(b: Option[DriftBaseline]): SemanticIndex =
      copy(baseline = b)
    private[graft] def paramsFrame(spark: SparkSession): DataFrame = {
      import spark.implicits._
      centroids.zipWithIndex.map { case (ce, i) => (i, ce.toSeq) }
        .toSeq.toDF("idx", "ce").coalesce(1)
    }
    private[graft] def batch(df: DataFrame, idCol: String, vecCol: String): SemanticIndex =
      buildSemanticIndex(df, idCol, vecCol, centroids)
    private[graft] def pairsAgainst(newDf: DataFrame, idCol: String, vecCol: String,
                                    threshold: Double, exactLimit: Long,
                                    hotPairCap: Long): DataFrame =
      semanticDeltaPairs(this, newDf, idCol, vecCol, threshold, hotPairCap)
    // ONE argmin pass feeds pairs, drift probe and sliver — assignment
    // is a pure function of vector + pinned centroids, so sharing the
    // materialized frame is exact (and the guard runs on the raw batch
    // exactly as the public operator would)
    private[graft] def fold(b: DataFrame, idCol: String, vecCol: String,
                            threshold: Double, exactLimit: Long,
                            hotPairCap: Long): Fold = {
      requireDeltaDisjoint(idsOf(this), b, idCol, "processBatch")
      val asg = assignMembers(b, idCol, vecCol, centroids).localCheckpoint()
      Fold(semanticDeltaPairsAssigned(this, asg, threshold, hotPairCap),
        () => semanticDriftProbeAssigned(this, asg),
        () => (SemanticIndex(asg, centroids), () => ()))
    }
    private[graft] def measureBaseline(): DriftBaseline =
      DriftBaseline(memberMeanDist(this), Double.NaN, Double.NaN, 0L, None)
    // same k, fresh KMeans seed, every member re-assigned — pinned
    // centroids make in-place recentering impossible by design
    private[graft] def refit(atBatch: Long): SemanticIndex = {
      val vs = members.select(col("id"), col("v"))
      buildSemanticIndex(vs, "id", "v",
        Clustering.fitCentroids(vs, "v", centroids.length, seed = atBatch + 43L))
    }
    /** Within-cluster θ-pairs over the stored assignments (Σcᵢ² pair
      * work, never n²) — the SemDeDup candidate stage over the indexed
      * corpus. */
    private[graft] def selfPairs(threshold: Double, exactLimit: Long): DataFrame =
      SimilarityJoin.groupedThresholdPairs(
          members.select(col("cluster"), col("id"), col("v")),
          "cluster", "id", "v", threshold)
        .select(col("id_a"), col("id_b"), col("cluster"), round(col("sim"), 6).as("sim"))
  }

  object SemanticIndex extends IndexFamily[SemanticIndex]("semantic",
      Seq("members" -> StructType(Seq(StructField("id", LongType),
        StructField("cluster", IntegerType), StructField("v", ArrayType(FloatType))))),
      "centroids",
      StructType(Seq(StructField("idx", IntegerType),
        StructField("ce", ArrayType(FloatType)))),
      "sim") {
    protected def assemble(fs: Seq[DataFrame], p: Array[Row],
                           baseline: Option[DriftBaseline]): SemanticIndex =
      SemanticIndex(fs(0), p.sortBy(_.getInt(0)).map(_.getSeq[Float](1).toArray),
        baseline)
    // only assignable (non-null) vectors become members
    override private[graft] def indexed(batch: DataFrame, vecCol: String): DataFrame =
      batch.where(col(vecCol).isNotNull)
  }

  /** (id, cluster, v) under the pinned centroids — the same in-one-pass
    * argmin kernel as [[semanticDedupMarks]]' assignment stage. */
  private[graft] def assignMembers(df: DataFrame, idCol: String, vecCol: String,
                            cents: Array[Array[Float]]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(cents)
    df.select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .as[(Long, Array[Float])]
      .filter(_._2 != null)
      .map { case (id, v) =>
        val cs = bc.value
        var best = 0
        var bestD = Double.MaxValue
        var c = 0
        while (c < cs.length) {
          val ctr = cs(c)
          var d2 = 0.0
          var i = 0
          val n = math.min(v.length, ctr.length)
          while (i < n) { val x = v(i).toDouble - ctr(i).toDouble; d2 += x * x; i += 1 }
          if (d2 < bestD) { bestD = d2; best = c }
          c += 1
        }
        (id, best, v)
      }
      .toDF("id", "cluster", "v")
  }

  def buildSemanticIndex(df: DataFrame, idCol: String, vecCol: String,
                         centroids: Array[Array[Float]]): SemanticIndex =
    SemanticIndex(assignMembers(df, idCol, vecCol, centroids), centroids)

  /**
   * Incremental SemDeDup candidate pairs: assign a NEW embedding batch
   * to the index's pinned centroids and emit every WITHIN-cluster
   * cosine pair ≥ `threshold` touching the delta — (new, old) and
   * (new, new); archived×archived pairs were mined when the index
   * corpus was processed and are skipped inside the kernel. Exact
   * within clusters (the blocked scan, bit-identical to the batch
   * [[SimilarityJoin.groupedThresholdPairs]] over (members ∪ delta)
   * restricted to delta-touching pairs — the q88 oracle replays
   * assignment AND pairing in SQL under provided centroids); pairs
   * split ACROSS clusters carry SemDeDup's documented approximation
   * contract, identical to the batch operator's. Cost: assignment is
   * one delta pass; pair work is Σ over clusters of (delta members ×
   * cluster size) — delta-proportional scan, cluster-shaped shuffle.
   * Output: (id_a, id_b, cluster, sim), id_a < id_b, sim rounded to 6.
   */
  def semanticDeltaPairs(ix: SemanticIndex, newDf: DataFrame,
                         idCol: String, vecCol: String,
                         threshold: Double,
                         hotClusterPairCap: Long = SimilarityJoin.AutoCap): DataFrame = {
    requireDeltaDisjoint(idsOf(ix), newDf, idCol, "semanticDeltaPairs")
    semanticDeltaPairsAssigned(ix,
      assignMembers(newDf, idCol, vecCol, ix.centroids), threshold,
      hotClusterPairCap)
  }

  /** The DECLARATIVE prefix of [[semanticDeltaPairs]] — the pinned-
    * centroid argmin assignment of the delta unioned with the archived
    * members, exactly the frame the within-cluster block grid consumes
    * — exposed (package-private) so PlanInvariantsSpec can gate the
    * q88/q89 plan mechanically, the same discipline as
    * [[minhashDeltaScanInput]]: every corpus scan (the id-bearing
    * FileScans) must carry the delta predicate; archived members enter
    * only through the index frames; no cartesian pair space. */
  private[graft] def semanticDeltaScanInput(ix: SemanticIndex, newDf: DataFrame,
                                            idCol: String,
                                            vecCol: String): DataFrame =
    SimilarityJoin.groupedDeltaScanInput(
      ix.members.select(col("cluster"), col("id"), col("v")),
      assignMembers(newDf, idCol, vecCol, ix.centroids)
        .select(col("cluster"), col("id"), col("v")),
      "cluster", "id", "v")

  /** [[semanticDeltaPairs]] over a PRE-ASSIGNED delta frame
    * ((id, cluster, v), already under the index's centroids) — lets a
    * caller that also probes drift and folds a sliver pay the argmin
    * pass ONCE (assignment is a pure function of vector + pinned
    * centroids, so sharing the frame is exact). Caller owns the
    * disjointness guard. */
  private[graft] def semanticDeltaPairsAssigned(ix: SemanticIndex,
                                                newAsg: DataFrame,
                                                threshold: Double,
                                                hotClusterPairCap: Long = SimilarityJoin.AutoCap): DataFrame =
    SimilarityJoin.groupedThresholdPairsDelta(
        ix.members.select(col("cluster"), col("id"), col("v")),
        newAsg.select(col("cluster"), col("id"), col("v")),
        "cluster", "id", "v", threshold,
        hotGroupPairCap = hotClusterPairCap)
      .select(col("id_a"), col("id_b"), col("cluster"),
        round(col("sim"), 6).as("sim"))

  // =====================================================================
  // Index drift probes — all three incremental indexes PIN their
  // parameters at seed time (centroids, hyperplanes, banding widths);
  // a drifting corpus silently degrades them (semantic assignment
  // distances grow, cosine buckets skew or empty out, minhash grid
  // sizing assumptions break). Each probe compares the DELTA batch
  // against the SEED-TIME statistics on the statistic that actually
  // governs its index's quality and recommends a rebuild when the
  // ratio trips — the recall-vs-exact oracle discipline of the
  // reference (day_6/day6_complete.py:118-153) applied to index
  // freshness.
  //
  // Baseline regimes, in preference order:
  //  1. PINNED ([[pinDriftBaseline]], persisted by save/load, carried
  //     through appends): the comparison side is a handful of scalars
  //     + a seed-bucket Bloom filter computed ONCE at seed time, so a
  //     probe costs one aggregate over the DELTA only — per-batch cost
  //     tracks the crawl, not the archive. Pinning is also the
  //     *correct* semantics: the probe asks "do the parameters chosen
  //     at seed time still fit?", and a baseline recomputed from the
  //     live archive absorbs every appended batch — cumulative drift
  //     walks the baseline along with the corpus and the ratio
  //     under-reports exactly when it matters (the boiled frog).
  //  2. LIVE fallback (no baseline pinned — e.g. an index built ad hoc
  //     or loaded from a pre-round-11 snapshot): the probe recomputes
  //     the seed side from the index frames — one pruned single-column
  //     pass over the archive per call. Correct-at-seed, increasingly
  //     drift-blind and archive-priced as appends accumulate.
  // =====================================================================

  /** Seed-time drift reference, pinned once per index (family-specific
    * fields are NaN/None where not applicable): mean assignment
    * distance (semantic), top-bucket occupancy share + a Bloom filter
    * over occupied bucket keys (cosine/minhash; ~1.2 bytes/key at 1%
    * fp — 450k docs × 4 bands ≈ 2 MB, broadcast per probe), mean
    * shingle-set size (minhash). `seedKeyCount` records the Bloom's
    * sizing for provenance. */
  final case class DriftBaseline(
      meanDist: Double, topShare: Double, meanSetSize: Double,
      seedKeyCount: Long,
      bucketBloom: Option[org.apache.spark.util.sketch.BloomFilter])

  /** (top-bucket occupancy, total keys) of a (bkt, id) key frame;
    * (0, 0) when empty. Share = top/total is size-normalized, but NOT
    * floor-free: a frame of n keys has share ≥ 1/n, so share RATIOS
    * against a much larger frame need the absolute-occupancy gate
    * below. */
  private def bucketStats(keys: DataFrame): (Double, Double) = {
    // static planning: the two-level aggregate is one bounded job, and
    // AQE would otherwise materialize its exchange as an extra driver
    // round-trip per probe (round 17 job diet; same rule as the guards)
    val r = withoutAqe(keys.sparkSession,
      keys.groupBy(col("bkt")).agg(count(lit(1)).as("m"))
        .agg(max(col("m")).cast("double").as("mx"),
          sum(col("m")).cast("double").as("n"))).head
    if (r.isNullAt(1) || r.getDouble(1) == 0.0) (0.0, 0.0)
    else (r.getDouble(0), r.getDouble(1))
  }

  private def topBucketShare(keys: DataFrame): Double = {
    val (mx, n) = bucketStats(keys)
    if (n == 0.0) 0.0 else mx / n
  }

  /** A skew trip additionally requires the delta's top bucket to hold
    * at least this many keys: the share of an n-key delta is ≥ 1/n by
    * construction, so a small micro-batch against a large seed (seed
    * share ~1e-4) would read as skew thousands with EVERY bucket a
    * singleton. Eight keys ≈ the smallest occupancy where a
    * bucket-local scan's cost is distinguishable from noise. */
  private val MinSkewTopCount = 8.0

  private def bucketBloomOf(keys: DataFrame, nKeys: Long) =
    keys.stat.bloomFilter("bkt", math.max(nKeys, 1L), 0.01)

  /** (top-bucket share, key count, Bloom over occupied keys) of a
    * (bkt, id) key frame — the bucket half of a pinned baseline. The
    * stats total IS the key count (one row per key), so the pin pays
    * stats then Bloom: two jobs, no separate count round-trip. */
  private def bucketBaseline(keys: DataFrame)
      : (Double, Long, Option[org.apache.spark.util.sketch.BloomFilter]) = {
    val (mx, nn) = bucketStats(keys)
    val n = nn.toLong
    (if (nn == 0.0) 0.0 else mx / nn, n, Some(bucketBloomOf(keys, n)))
  }

  /** Mean euclidean distance of the archived members to their own
    * (pinned) centroid — the live-computed seed side of the semantic
    * probe. */
  private def memberMeanDist(ix: SemanticIndex): Double = {
    val spark = ix.members.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(ix.centroids)
    ix.members.select(col("id"), col("cluster"), col("v"))
      .as[(Long, Int, Array[Float])]
      .map { case (_, c, v) => math.sqrt(d2To(v, bc.value(c))) }
      .agg(avg(col("value"))).head().getDouble(0)
  }

  /** The pinned baseline as a one-row local frame (the Bloom rides as
    * a binary column) — shared by [[saveDriftBaseline]] and the
    * concurrent component batch of [[save]]. */
  private def driftBaselineDf(b: Option[DriftBaseline],
                              spark: org.apache.spark.sql.SparkSession): Option[DataFrame] =
    b.map { bl =>
      import spark.implicits._
      val bytes = bl.bucketBloom.map { f =>
        val bos = new java.io.ByteArrayOutputStream()
        f.writeTo(bos)
        bos.toByteArray
      }.orNull
      Seq((bl.meanDist, bl.topShare, bl.meanSetSize, bl.seedKeyCount, bytes))
        .toDF("mean_dist", "top_share", "mean_set_size", "seed_key_count", "bloom")
        .coalesce(1)
    }

  /** Persist a pinned baseline under `dir/drift` (one row; the Bloom
    * rides as a binary column). No-op when nothing is pinned. */
  private[graft] def saveDriftBaseline(dir: String,
                                       b: Option[DriftBaseline],
                                       spark: org.apache.spark.sql.SparkSession): Unit =
    driftBaselineDf(b, spark).foreach(
      _.write.mode("overwrite").parquet(s"$dir/drift"))

  /** Load a pinned baseline from `dir/drift` if one was persisted —
    * tolerant of pre-baseline snapshots (returns None). */
  private[graft] def loadDriftBaseline(spark: org.apache.spark.sql.SparkSession,
                                       dir: String): Option[DriftBaseline] = {
    val path = new org.apache.hadoop.fs.Path(s"$dir/drift")
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(path)) None
    else {
      val driftSchema = {
        import org.apache.spark.sql.types._
        StructType(Seq(StructField("mean_dist", DoubleType),
          StructField("top_share", DoubleType),
          StructField("mean_set_size", DoubleType),
          StructField("seed_key_count", LongType),
          StructField("bloom", BinaryType)))
      }
      val r = spark.read.schema(driftSchema).parquet(s"$dir/drift").head()
      val bloom = Option(r.getAs[Array[Byte]]("bloom")).map(bs =>
        org.apache.spark.util.sketch.BloomFilter.readFrom(
          new java.io.ByteArrayInputStream(bs)))
      Some(DriftBaseline(r.getAs[Double]("mean_dist"),
        r.getAs[Double]("top_share"), r.getAs[Double]("mean_set_size"),
        r.getAs[Long]("seed_key_count"), bloom))
    }
  }

  /** Semantic drift: mean euclidean assignment distance of the DELTA
    * under the pinned centroids vs the archived members' own mean.
    * A ratio ≫ 1 means new data lands far from every centroid — the
    * partition no longer reflects the corpus and within-cluster pairing
    * loses recall. One row: (seed_mean_dist, delta_mean_dist, ratio,
    * rebuild_recommended = ratio > `ratioTrigger`). Rebuild = re-run
    * KMeans ([[Clustering.kmeans]]) on a fresh sample and
    * [[buildSemanticIndex]] from scratch (pinned centroids make
    * in-place recentering impossible by design). */
  def semanticDriftProbe(ix: SemanticIndex, newDf: DataFrame,
                         idCol: String, vecCol: String,
                         ratioTrigger: Double = 1.5): DataFrame =
    semanticDriftProbeAssigned(ix,
      assignMembers(newDf, idCol, vecCol, ix.centroids), ratioTrigger)

  /** [[semanticDriftProbe]] over a pre-assigned delta frame — see
    * [[semanticDeltaPairsAssigned]] for the share-the-argmin contract. */
  private[graft] def semanticDriftProbeAssigned(ix: SemanticIndex,
                                                newAsg: DataFrame,
                                                ratioTrigger: Double = 1.5): DataFrame = {
    val spark = newAsg.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(ix.centroids)
    // pinned baseline when present (delta-only cost, seed-time
    // semantics); live member pass otherwise — see the section doc
    val seedMean = ix.baseline.map(_.meanDist).filterNot(_.isNaN)
      .getOrElse(memberMeanDist(ix))
    val deltaD = newAsg.select(col("id"), col("cluster"), col("v"))
      .as[(Long, Int, Array[Float])]
      .map { case (_, c, v) => math.sqrt(d2To(v, bc.value(c))) }
    // avg over zero rows is a null cell — an empty (or all-null-vector)
    // micro-batch must probe QUIET, not NPE the stream
    val deltaRow = deltaD.agg(avg(col("value"))).head()
    val deltaMean = if (deltaRow.isNullAt(0)) 0.0 else deltaRow.getDouble(0)
    // deltaMean == 0 can never mean drift (the delta sits ON the
    // centroids), including against a zero seed mean — only a nonzero
    // delta over a zero seed is the infinite-ratio case
    val ratio =
      if (seedMean > 0) deltaMean / seedMean
      else if (deltaMean == 0.0) 1.0
      else Double.PositiveInfinity
    Seq((seedMean, deltaMean, ratio, ratio > ratioTrigger))
      .toDF("seed_mean_dist", "delta_mean_dist", "ratio", "rebuild_recommended")
  }

  private def d2To(v: Array[Float], ctr: Array[Float]): Double = {
    var d2 = 0.0; var i = 0
    val n = math.min(v.length, ctr.length)
    while (i < n) { val x = v(i).toDouble - ctr(i).toDouble; d2 += x * x; i += 1 }
    d2
  }

  /** Cosine-LSH drift: (a) `new_bucket_frac` — fraction of the delta's
    * signature keys landing in buckets the seed corpus never occupied
    * (the delta lives in a region the pinned hyperplanes carved empty:
    * candidate generation still works, but occupancy-based cost
    * assumptions don't), and (b) `skew_ratio` — the delta's top-bucket
    * occupancy share over the seed's (≫ 1 = the delta is collapsing
    * into few buckets: the bucket-local scan degrades toward all-pairs
    * inside hot buckets). One row; `rebuild_recommended` when either
    * trips. Rebuild = [[buildCosineIndex]] with re-auto-sized widths
    * (and a fresh seed if the space rotated). */
  def cosineDriftProbe(ix: CosineIndex, newDf: DataFrame,
                       idCol: String, vecCol: String,
                       newBucketTrigger: Double = 0.5,
                       skewTrigger: Double = 4.0): DataFrame = {
    val spark = newDf.sparkSession
    val deltaKeys = SimilarityJoin.cosineBuckets(newDf, idCol, vecCol,
      ix.numBits, ix.bands, ix.dim, ix.seed).localCheckpoint(false)
    bucketDriftRow(spark, ix.buckets, deltaKeys, newBucketTrigger,
      skewTrigger, ix.baseline)
  }

  /** Minhash drift: same bucket statistics as [[cosineDriftProbe]] plus
    * `set_size_ratio` — mean shingle-set size of the delta over the
    * seed's (the statistic the verification grid's block sizing and the
    * size-ratio prune are tuned against; a corpus whose documents grow
    * ≫ the seed's shifts the scan cost model). `new_bucket_frac` is
    * EXPECTED to be high here (novel text mints fresh singleton buckets
    * by design — 91% of real-corpus buckets are singletons), so only
    * skew and set-size trips recommend a rebuild. */
  def minhashDriftProbe(ix: MinhashIndex, newDf: DataFrame,
                        idCol: String, textCol: String,
                        skewTrigger: Double = 4.0,
                        setSizeTrigger: Double = 2.0): DataFrame = {
    val spark = newDf.sparkSession
    import spark.implicits._
    val sh = shingleSets(newDf, idCol, textCol, ix.shingleLen)
    val deltaKeys = lightBands(sh, ix.numHashes, ix.bands).localCheckpoint(false)
    // newBucketTrigger = 2.0 disables the new-bucket trip (novel text
    // mints fresh buckets by design), so the base row's
    // rebuild_recommended IS the occupancy-gated skew verdict — reuse
    // it rather than re-deriving from the raw ratio, which would
    // bypass the small-batch floor gate
    val base = bucketDriftRow(spark, ix.buckets, deltaKeys, 2.0, skewTrigger,
        ix.baseline)
      .select(col("new_bucket_frac"), col("skew_ratio"),
        col("seed_top_share"), col("delta_top_share"),
        col("rebuild_recommended"))
    val seedSize = ix.baseline.map(_.meanSetSize).filterNot(_.isNaN)
      .getOrElse(ix.sets.select(avg(size(col("sh")))).head().getDouble(0))
    // null cell on an empty delta batch → quiet, never an NPE
    val deltaRow = hashedSets(sh).select(avg(size(col("sh")))).head()
    val deltaSize = if (deltaRow.isNullAt(0)) 0.0 else deltaRow.getDouble(0)
    val sizeRatio =
      if (seedSize > 0) deltaSize / seedSize
      else if (deltaSize == 0.0) 1.0
      else Double.PositiveInfinity
    val b = base.head()
    Seq((b.getDouble(0), b.getDouble(1), b.getDouble(2), b.getDouble(3),
        sizeRatio, b.getBoolean(4) || sizeRatio > setSizeTrigger))
      .toDF("new_bucket_frac", "skew_ratio", "seed_top_share",
        "delta_top_share", "set_size_ratio", "rebuild_recommended")
  }

  /** Shared bucket-occupancy comparison: both key frames are (bkt, id).
    * Top-bucket SHARE (max count / total keys) is size-normalized, so
    * seed and delta compare fairly at any relative size. */
  private def bucketDriftRow(spark: org.apache.spark.sql.SparkSession,
                             seedKeys: DataFrame, deltaKeys: DataFrame,
                             newBucketTrigger: Double,
                             skewTrigger: Double,
                             baseline: Option[DriftBaseline]): DataFrame = {
    import spark.implicits._
    val seedShare = baseline.map(_.topShare).filterNot(_.isNaN)
      .getOrElse(topBucketShare(seedKeys))
    val (deltaTop, nDelta0) = bucketStats(deltaKeys)
    val deltaShare = if (nDelta0 == 0.0) 0.0 else deltaTop / nDelta0
    val skew =
      if (seedShare > 0) deltaShare / seedShare
      else if (deltaShare == 0.0) 1.0
      else Double.PositiveInfinity
    val skewTrips = skew > skewTrigger && deltaTop >= MinSkewTopCount
    val nDelta = nDelta0.toLong
    val nNew =
      if (nDelta == 0) 0L
      else baseline.flatMap(_.bucketBloom) match {
        // pinned: membership against the broadcast seed Bloom — a
        // map-side filter over the delta, no seed-side scan or join
        // (1% fp under-counts new buckets by ≤1% of the delta, far
        // inside the 0.5 trigger's margin)
        case Some(bloom) =>
          val bc = spark.sparkContext.broadcast(bloom)
          deltaKeys.select(col("bkt")).as[Long]
            .filter(k => !bc.value.mightContainLong(k)).count()
        case None =>
          deltaKeys.join(seedKeys.select(col("bkt")).distinct(), Seq("bkt"), "left_anti").count()
      }
    val newFrac = if (nDelta == 0) 0.0 else nNew.toDouble / nDelta
    // absolute shares ride along: skew_ratio alone can't distinguish
    // "the space collapsed" from "this batch concentrates an existing
    // duplicate family" (e.g. a non-random batch slicing that keeps
    // whole families together reads ~4–10× on a healthy index; the
    // ×100 harness's doc_id % 10 split does exactly this — BENCH.md
    // "Round 11"). An operator deciding on a trip wants the raw shares.
    Seq((newFrac, skew, seedShare, deltaShare,
        newFrac > newBucketTrigger || skewTrips))
      .toDF("new_bucket_frac", "skew_ratio", "seed_top_share",
        "delta_top_share", "rebuild_recommended")
  }

  /** All qualifying Jaccard pairs of one block pair (`bs == null` →
    * within-block), sets as sorted hash arrays, with a new-batch flag:
    * old×old pairs are skipped BEFORE any set work (their mining
    * already happened when the index was built); all-true flags scan
    * every pair. */
  private def scanBlockPairJaccardDelta(as: Array[(Long, Array[Long], Boolean)],
                                        bs: Array[(Long, Array[Long], Boolean)],
                                        threshold: Double): Iterator[(Long, Long, Double)] = {
    val out = collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    val B = if (bs == null) as else bs
    var i = 0
    while (i < as.length) {
      val (ia, ha, na) = as(i)
      var j = if (bs == null) i + 1 else 0
      while (j < B.length) {
        val (ib, hb, nbNew) = B(j)
        // ia == ib can only happen under a violated disjointness
        // contract (guard disabled): refuse the self-pair here so the
        // breach degrades to duplicate-pair noise, never (id, id, 1.0)
        if ((na || nbNew) && ia != ib) {
          val sa = ha.length; val sb = hb.length
          val mn = math.min(sa, sb); val mx = math.max(sa, sb)
          if (mn > 0 && mn.toDouble / mx >= threshold) {
            var x = 0; var y = 0; var inter = 0
            while (x < sa && y < sb) {
              val a = ha(x); val b = hb(y)
              if (a < b) x += 1 else if (a > b) y += 1
              else { inter += 1; x += 1; y += 1 }
            }
            val j2 = inter.toDouble / (sa + sb - inter)
            if (j2 >= threshold)
              out += (if (ia < ib) (ia, ib, j2) else (ib, ia, j2))
          }
        }
        j += 1
      }
      i += 1
    }
    out.iterator
  }

  /** One hot-bucket cell of the capped minhash delta route — the
    * Jaccard twin of SimilarityJoin's covering kernel: per NEW set, emit
    * only the cell-local minimum-id verified mate (exact Jaccard, same
    * size-ratio prune + merge-count arithmetic as the pair kernel, so a
    * covering edge's score is bit-identical to the same pair's from the
    * unbounded scan). `newNew` compares new sets among themselves —
    * exactly one cell per bucket sets it. Output rows are DIRECTED
    * (newId, candidateMateId, jaccard); the caller reduces per newId. */
  private def scanCellCoveringJaccard(resident: Array[(Long, Array[Long])],
                                      news: Array[(Long, Array[Long])],
                                      threshold: Double,
                                      newNew: Boolean): Iterator[(Long, Long, Double)] = {
    def jac(ha: Array[Long], hb: Array[Long]): Double = {
      val sa = ha.length; val sb = hb.length
      val mn = math.min(sa, sb); val mx = math.max(sa, sb)
      if (mn == 0 || mn.toDouble / mx < threshold) return -1.0
      var x = 0; var y = 0; var inter = 0
      while (x < sa && y < sb) {
        val a = ha(x); val b = hb(y)
        if (a < b) x += 1 else if (a > b) y += 1
        else { inter += 1; x += 1; y += 1 }
      }
      inter.toDouble / (sa + sb - inter)
    }
    val out = collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    var i = 0
    while (i < news.length) {
      val nid = news(i)._1; val nh = news(i)._2
      var bestId = Long.MaxValue
      var bestJ = 0.0
      var j = 0
      while (j < resident.length) {
        val rid = resident(j)._1
        if (rid != nid && rid < bestId) {
          val jc = jac(nh, resident(j)._2)
          if (jc >= threshold) { bestId = rid; bestJ = jc }
        }
        j += 1
      }
      if (newNew) {
        var k = 0
        while (k < news.length) {
          val oid = news(k)._1
          if (k != i && oid != nid && oid < bestId) {
            val jc = jac(nh, news(k)._2)
            if (jc >= threshold) { bestId = oid; bestJ = jc }
          }
          k += 1
        }
      }
      if (bestId != Long.MaxValue) out += ((nid, bestId, bestJ))
      i += 1
    }
    out.iterator
  }

  /** Per-row 64-bit SimHash signatures (typed map; deterministic murmur
    * token hashes — see [[graft.functions.TextFunctions.simhash64]]). */
  def simhashSignatures(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .map { case (id, text) =>
        val toks = if (text == null) Array.empty[String]
                   else text.toLowerCase(java.util.Locale.ROOT).split("\\s+").filter(_.nonEmpty)
        (id, simhash64(toks))
      }
      .toDF("id", "sig")
  }

  /**
   * 60-bit md5-based SimHash signatures — same algorithm as
   * [[simhashSignatures]] but with token hashes drawn from md5 (the first
   * 15 hex chars → a 60-bit non-negative value), which DuckDB can
   * reproduce exactly (fold over `string_split(substring(md5(w),1,15),'')`)
   * — so unlike the murmur variant this one is oracle-checkable end to
   * end. Tokens are a multiset (each occurrence votes); bit b of the
   * signature is 1 iff the Σ±1 vote over tokens is strictly positive.
   * Docs with no tokens are dropped (they have no signature), matching
   * the oracle's unnest semantics.
   */
  def simhashMd5Signatures(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    Par.widen(df.select(col(idCol).cast("long"), col(textCol)))
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, text) =>
          val toks = if (text == null) Array.empty[String]
                     else text.toLowerCase(java.util.Locale.ROOT).split("\\s+").filter(_.nonEmpty)
          if (toks.isEmpty) Iterator.empty
          else {
            val tot = new Array[Int](60)
            toks.foreach { w =>
              val hex = md5Hex(md, w)
              var h = 0L
              var i = 0
              while (i < 15) { h = h * 16 + Character.digit(hex.charAt(i), 16); i += 1 }
              var b = 0
              while (b < 60) {
                if (((h >> b) & 1L) == 1L) tot(b) += 1 else tot(b) -= 1
                b += 1
              }
            }
            var sig = 0L
            var b = 0
            while (b < 60) { if (tot(b) > 0) sig |= (1L << b); b += 1 }
            Iterator.single((id, sig))
          }
        }
      }.toDF("id", "sig")
  }

  /** SimHash near-dup candidates: 4 × 16-bit bands of the 64-bit signature;
    * a hamming-distance ≤ 3 pair must agree on ≥1 band (pigeonhole). */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3): DataFrame = {
    val sig = simhashSignatures(df, idCol, textCol)
    val banded = sig.select(col("id"), col("sig"),
      posexplode(array((0 until 4).map(b =>
        shiftright(col("sig"), b * 16).bitwiseAND(lit(0xFFFFL))): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
    // popcount(a xor b) via bit_count builtin
    val hamming = bit_count(col("a.sig").bitwiseXOR(col("b.sig")))
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), hamming.as("hamming"))
      .dropDuplicates("id_a", "id_b")
      .where(col("hamming") <= maxHamming)
  }

  /**
   * Embedding-cosine near-duplicate pairs. Routes on corpus size: at or
   * under `exactLimit` rows the pair set is EXACT
   * ([[SimilarityJoin.allPairs]], O(n²) — fine for broadcast-size
   * sides); above it the quadratic join would be a cartesian product at
   * corpus scale, so the scale path is
   * [[SimilarityJoin.lshCosinePairs]] — random-hyperplane buckets make
   * the join an equi-join on the band key and candidates are verified
   * with exact cosine, trading bounded recall (tuned by
   * `numBits`×`bands`) for a pair space that never materializes n².
   * The count() spent deciding runs over the pruned id column only (the
   * vector payload never moves for the decision), and the switch is NOT
   * silent: crossing onto the bounded-recall path logs the route and its
   * parameters, so a caller reading results knows which contract they
   * got. Callers needing a guaranteed-exact result at any size pass
   * `exactLimit = Long.MaxValue` (and own the n² cost).
   */
  /** Auto-sized LSH signature width for [[embeddingNearDupPairs]]'s
    * scale route. A FIXED width means buckets hold n/2^bits rows and
    * per-band candidate volume grows as n²/2^bits — at 500k vectors the
    * historical 8-bit default emitted ~4e9 candidate pairs (measured:
    * filled local disk). Targeting ~64 rows per bucket keeps candidates
    * ≈ 32·n·bands, linear in n. The recall trade is real and MEASURED
    * (not just argued): one band's collision probability for a pair at
    * angle θ is (1 − θ/π)^bits, so wider signatures lower per-band
    * recall — [[lshPairRecall]] quantifies the route against the exact
    * blocked scan, DedupSpec gates it (pair recall ≥ 0.9 at cosine 0.8
    * for the widths this function picks at n = 50k and 500k), and
    * BENCH.md's ×100 table publishes the measured numbers. */
  def autoLshBits(n: Long): Int =
    math.min(24, math.max(8,
      math.ceil(math.log(n / 64.0) / math.log(2.0)).toInt))

  /** Auto-sized band count to PAIR with [[autoLshBits]]: more bits per
    * band cut candidate volume but lower per-band collision odds, so
    * holding a recall floor requires bands to grow with width. Solves
    * 1 − (1 − p)^b ≥ target at the design point p = (1 − angle/π)^bits
    * with angle = arccos(0.9) — the conservative END of the
    * near-duplicate range (true near-dups sit at cosine ≥ 0.95 where
    * per-band odds are far better, so the floor holds with margin
    * there; pairs AT a loose 0.8 boundary are under-recalled by any
    * hyperplane-LSH at linear cost — that residual is the documented
    * trade). Candidates stay ≈ 32 · n · bands — linear in n, with the
    * band factor growing ~logarithmically via bits. */
  def autoLshBands(numBits: Int, target: Double = 0.95): Int = {
    val p = math.pow(1.0 - math.acos(0.9) / math.Pi, numBits.toDouble)
    math.min(64, math.max(8,
      math.ceil(math.log1p(-target) / math.log1p(-p)).toInt))
  }

  /** Measured pair recall of the LSH near-dup route against the exact
    * blocked threshold scan on the same frame — the quality gate for
    * the auto-sized widths (the methodology of the reference's own
    * exact-vs-approx recall checks, ref: day_6/day6_complete.py:249-263,
    * applied to the pair problem). Run on a SAMPLE whose size is
    * exact-feasible but with the bits/bands the auto-sizing would pick
    * at the TARGET corpus size: per-band collision probability depends
    * only on the widths and the pair's angle, never on n, so sample
    * recall estimates full-corpus recall for the same widths.
    * Returns (recall, lshHits, exactPairs); recall is 1.0 when the
    * frame has no exact pairs at the threshold. */
  def lshPairRecall(df: DataFrame, idCol: String, vecCol: String,
                    threshold: Double, numBits: Int, bands: Int = 8,
                    seed: Long = 42L): (Double, Long, Long) = {
    val exact = SimilarityJoin.thresholdPairs(df, idCol, vecCol, threshold)
      .select(col("id_a"), col("id_b")).cache()
    try {
      val nExact = exact.count()
      val hit = SimilarityJoin.lshCosinePairs(df, idCol, vecCol, threshold,
          numBits = numBits, bands = bands, seed = seed)
        .select(col("id_a"), col("id_b"))
        .join(exact, Seq("id_a", "id_b"), "left_semi")
        .count()
      (if (nExact == 0) 1.0 else hit.toDouble / nExact, hit, nExact)
    } finally exact.unpersist(false)
  }

  def embeddingNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                            threshold: Double,
                            exactLimit: Long = 10000L,
                            numBits: Int = -1, bands: Int = -1,
                            seed: Long = 42L,
                            hotBucketPairCap: Long = Long.MaxValue): DataFrame = {
    val n = df.select(col(idCol)).count()
    if (n <= exactLimit)
      // exact branch runs the blocked threshold scan: same answer as
      // filtering the theta-join, but no n² pair rows ever materialize
      // and only survivors leave a task
      SimilarityJoin.thresholdPairs(df, idCol, vecCol, threshold)
    else {
      val bits = if (numBits > 0) numBits else autoLshBits(n)
      val b = if (bands > 0) bands else autoLshBands(bits)
      // closed-form per-pair recall AT the caller's threshold — the
      // floor of what a boundary pair sees (true near-dups sit higher
      // and recall better); measured confirmation in DedupSpec/BENCH.md
      val pBand = math.pow(1.0 - math.acos(math.min(1.0, threshold)) / math.Pi,
        bits.toDouble)
      val predicted = 1.0 - math.pow(1.0 - pBand, b.toDouble)
      val log = org.slf4j.LoggerFactory.getLogger(getClass)
      log.warn(f"embeddingNearDupPairs: $n rows > exactLimit=$exactLimit — routing to " +
        f"LSH candidates (numBits=$bits, bands=$b): precision stays 1.0 (exact " +
        f"cosine verification); predicted recall for a pair AT cosine $threshold " +
        f"is $predicted%.3f (measured gates: DedupSpec / BENCH.md)")
      if (predicted < 0.5)
        log.warn(f"embeddingNearDupPairs: threshold $threshold is OUTSIDE the " +
          f"hyperplane-LSH near-dup regime at these widths (boundary-pair recall " +
          f"$predicted%.3f) — raise exactLimit (exact scan), pass explicit " +
          f"numBits/bands, or use MinHash on text shingles for loose matching")
      SimilarityJoin.lshCosinePairs(df, idCol, vecCol, threshold,
        numBits = bits, bands = b, seed = seed,
        hotBucketPairCap = hotBucketPairCap)
    }
  }

  /** The embedding-cosine dedup TRANSFORM (round 18): near-dup pairs at
    * `threshold` (two-tier exact/LSH routing of
    * [[embeddingNearDupPairs]]) closed into clusters, non-canonical
    * members anti-joined away — the cosine twin of [[minhashDedup]] /
    * [[semanticDedup]], and like them the product is the KEEP/DROP
    * verdict, so the dense-duplicate cap defaults SAFE. Pin
    * `hotBucketPairCap = Long.MaxValue` for the exact-pair-list
    * closure. */
  def embeddingDedup(df: DataFrame, idCol: String, vecCol: String,
                     threshold: Double,
                     exactLimit: Long = 10000L,
                     hotBucketPairCap: Long = SimilarityJoin.AutoCap): DataFrame = {
    val cap = SimilarityJoin.resolveHotPairCap(df.sparkSession, hotBucketPairCap)
    Components.dropByPairs(df, idCol,
      embeddingNearDupPairs(df, idCol, vecCol, threshold, exactLimit,
        hotBucketPairCap = cap))
  }

  /**
   * SemDeDup-style semantic dedup marks (Abbas et al. 2023,
   * arXiv:2303.09540): k-means-partition the embedding space (seeded
   * sample-trained Lloyd — the training pass never touches more than a
   * ≤256·k-vector sample), find within-cluster cosine pairs ≥ threshold
   * through the skew-safe blocked scan, close them into components, and
   * keep one representative per component. Pair work drops from n² to
   * Σ cᵢ² over cluster sizes — the sub-quadratic route the paper uses at
   * LAION scale. The default canonical member is the component-MIN id
   * (deterministic, oracle-replayable); `keepFarthest = true` selects
   * the paper's own rule instead — the member farthest from its
   * centroid (maximizing retained diversity), ties broken by min id,
   * at the cost of one window over the component key.
   *
   * Returns one row per input id: (id, cluster, canonical, kept) with
   * kept = (id == canonical). Approximation contract: a dropped id
   * always has a ≥-threshold cosine WITNESS in its own cluster (within-
   * cluster pairs are exact), so dropped ⊆ ids-with-a-global-θ-neighbor
   * — q76's oracle-gated invariant; pairs SPLIT across clusters are the
   * (paper-accepted) recall loss vs exact component dedup. k=1 is
   * exactly the exact route (one cluster ⇒ global blocked scan).
   *
   * The assignment map runs twice (pair-generation pass + mark pass) —
   * at corpus scale two cheap passes beat materializing an
   * assignment-augmented copy of the corpus.
   */
  /** `hotClusterPairCap` (round 18, verdict ask #2): this is a
    * KEEP/DROP transform — its product is the verdict, not the pair
    * list — so the dense-duplicate cap defaults to the engine's SAFE
    * resolution ([[SimilarityJoin.AutoCap]]): a cluster whose m² pair
    * space exceeds the cap routes through representative covering
    * edges, verdict-preserving on fully-dense clusters (the
    * boilerplate regime), never a wrong drop on partially-dense ones.
    * Oracle replays of the exact algorithm pin Long.MaxValue. */
  def semanticDedupMarks(df: DataFrame, idCol: String, vecCol: String,
                         threshold: Double, k: Int, seed: Long = 42L,
                         keepFarthest: Boolean = false,
                         centroids: Option[Array[Array[Float]]] = None,
                         hotClusterPairCap: Long = SimilarityJoin.AutoCap): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // `centroids` overrides the trained partitioning with caller-provided
    // vectors — the q83 oracle's regime (deterministic centroids make the
    // WHOLE operator SQL-replayable, assignment included)
    val cents = centroids.getOrElse(Clustering.fitCentroids(df, vecCol, k, seed))
    val bc = spark.sparkContext.broadcast(cents)
    val assigned = df
      .select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .as[(Long, Array[Float])]
      .map { case (id, v) =>
        // assignment + own-centroid L2 in ONE pass: per-dim difference
        // and products in DOUBLE (sequential index order — bit-matches a
        // DuckDB DOUBLE[] fold), strict < keeps the lowest index on
        // ties. The distance is only consumed by the keepFarthest
        // representative rule (the paper's choice: keep the member
        // farthest from the centroid, maximizing retained diversity).
        val cs = bc.value
        var best = 0
        var bestD = Double.MaxValue
        var c = 0
        while (c < cs.length) {
          val ctr = cs(c)
          var d2 = 0.0
          var i = 0
          val n = math.min(v.length, ctr.length)
          while (i < n) { val x = v(i).toDouble - ctr(i).toDouble; d2 += x * x; i += 1 }
          if (d2 < bestD) { bestD = d2; best = c }
          c += 1
        }
        (id, v, best, math.sqrt(bestD))
      }
      .toDF("__id", "__vec", "__cluster", "__dist")
    val pairs = SimilarityJoin.groupedThresholdPairs(
      assigned, "__cluster", "__id", "__vec", threshold,
      hotGroupPairCap = hotClusterPairCap)
    val comp = Components.connectedComponents(pairs, "id_a", "id_b")
      .withColumnRenamed("node", "__id")
    val marked = assigned.select(col("__id"), col("__cluster"), col("__dist"))
      .join(comp, Seq("__id"), "left")
      .select(col("__id").as("id"), col("__cluster").as("cluster"),
        col("__dist").as("dist"),
        coalesce(col("component"), col("__id")).as("group"))
    val canonical =
      if (!keepFarthest) marked.withColumn("canonical", col("group"))
      else {
        // paper-faithful representative: farthest from the centroid,
        // ties broken by min id — deterministic; one window over the
        // component key (rows per partition bounded by component size)
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("group"))
          .orderBy(col("dist").desc, col("id").asc)
        marked.withColumn("canonical", first(col("id")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      }
    canonical.select(col("id"), col("cluster"), col("canonical"))
      .withColumn("kept", col("id") === col("canonical"))
  }

  /** The semantic-dedup TRANSFORM: [[semanticDedupMarks]] losers
    * anti-joined away; the corpus is scanned, never shuffled. */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    threshold: Double, k: Int, seed: Long = 42L,
                    keepFarthest: Boolean = false,
                    hotClusterPairCap: Long = SimilarityJoin.AutoCap): DataFrame = {
    val losers = semanticDedupMarks(df, idCol, vecCol, threshold, k, seed,
        keepFarthest, hotClusterPairCap = hotClusterPairCap)
      .where(!col("kept")).select(col("id").as("__loser"))
    df.join(losers, df(idCol).cast("long") === col("__loser"), "left_anti")
  }

  /** The minhash-LSH dedup TRANSFORM (round 18 — the q77-shape
    * pairs → Components → anti-join curation stage as ONE first-class
    * entry): near-duplicate pairs at `threshold` closed into clusters,
    * every non-canonical member (component min kept) anti-joined away.
    * Like [[semanticDedup]], the product is the KEEP/DROP verdict, so
    * the dense-duplicate cap defaults to the engine's safe resolution —
    * a boilerplate-heavy corpus routes its hot buckets through
    * representative covering edges instead of the cluster-quadratic
    * pair list (verdict-preserving on fully-dense buckets; see
    * [[SimilarityJoin.batchGrid]]). Pin `hotBucketPairCap =
    * Long.MaxValue` to reproduce the exact-pair-list closure
    * bit-for-bit (the q77 oracle regime).
    * Ref: day_2/noramalization.py:121-205 (one representative per
    * duplicate group) at corpus scale. */
  def minhashDedup(df: DataFrame, idCol: String, textCol: String,
                   numHashes: Int = 16, bands: Int = 4,
                   shingleLen: Int = 3, threshold: Double = 0.5,
                   hotBucketPairCap: Long = SimilarityJoin.AutoCap): DataFrame = {
    val cap = SimilarityJoin.resolveHotPairCap(df.sparkSession, hotBucketPairCap)
    Components.dropByPairs(df, idCol,
      minhashLshPairs(df, idCol, textCol, numHashes, bands, shingleLen,
        threshold, hotBucketPairCap = cap))
  }

  /** Per-distinct-line corpus document frequency: how many DISTINCT
    * documents contain each exact line. The aggregation key is the line
    * itself (boilerplate lines are short; hot keys are exactly the ones
    * we want counted), one shuffle. */
  def lineDocFrequencies(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).cast("long").as("doc_id"),
        explode(split(col(textCol), "\n")).as("line"))
      .groupBy(col("line"))
      .agg(countDistinct(col("doc_id")).as("line_df"))

  /**
   * Line-level exact dedup (the RefinedWeb / CCNet curation stage: a
   * line that recurs across `minDocs`+ documents is boilerplate —
   * headers, navigation, license banners — and is removed from EVERY
   * document, while the documents themselves survive; contrast
   * [[dropExactDuplicates]], which drops whole documents).
   *
   * Plan at corpus scale: the positional explode is evaluated TWICE —
   * once to build the hot-line set (a line-frequency aggregate reduced
   * to just the ≥ minDocs lines) and once to mark each exploded line
   * against it via a LEFT join — then ONE reassembly aggregate keyed by
   * doc id computes totals, survivor counts and the rebuilt text
   * together (no totals-vs-kept join). The mark join's build side is
   * the boilerplate subset — typically orders of magnitude smaller than
   * the full distinct-line table, so Spark broadcasts it where an inner
   * join against per-line counts would shuffle every unique line's
   * frequency row. Nothing is ever keyed by a cross product; the
   * hottest key is the most-repeated boilerplate line, whose row in the
   * hot set is a single value — skew lands on the pre-aggregated side,
   * not on a reducer. (Persisting the exploded corpus would trade
   * executor memory for the second explode pass; at 100 TB the explode
   * is a cheap narrow map over the scan, so the two-pass shape wins.)
   *
   * Output: (idCol, [carryCols...,] n_lines, n_kept, kept_text) — the
   * id comes back under its input name, cast to BIGINT; surviving lines
   * joined with '\n' in original order ('' when none survive).
   * `carryCols` are per-doc-constant columns ferried through the
   * reassembly aggregate (via `first`), so a caller that needs the rest
   * of its row back pays NO join against the input — at corpus scale
   * that join is a second full-text shuffle plus a re-evaluation of
   * whatever produced the text column. Internal working columns use a
   * `__sdl_` prefix, so carry columns named `pos`/`line`/`doc_id` pass
   * through unharmed.
   */
  def stripDuplicatedLines(df: DataFrame, idCol: String, textCol: String,
                           minDocs: Int = 2,
                           carryCols: Seq[String] = Nil): DataFrame = {
    val out = Set("n_lines", "n_kept", "kept_text")
    require(!carryCols.exists(out), s"carryCols may not shadow ${out.mkString("/")}")
    val (i, p, l, h) = ("__sdl_id", "__sdl_pos", "__sdl_line", "__sdl_hot")
    val hk = "__sdl_h"
    val lines = df.select(col(idCol).cast("long").as(i) +:
      carryCols.map(col) :+
      posexplode(split(col(textCol), "\n")).as(Seq(p, l)): _*)
      .withColumn(hk, xxhash64(col(l)))
    // df-aggregate and hot join key on the 64-bit LINE HASH — the line
    // strings never ride the frequency exchange or the join sort, only
    // the per-doc reassembly (the q25/q63/q78 hashed-key trade; a
    // 2⁻⁶⁴-probability collision would strip one innocent line, the
    // same equality-by-hash contract the gram paths already make, and
    // the q70/q74 oracles stay hash-green)
    val hot = lines.select(col(hk), col(i))
      .groupBy(col(hk))
      .agg(countDistinct(col(i)).as("__sdl_df"))
      .where(col("__sdl_df") >= minDocs)
      .select(col(hk), lit(true).as(h))
    // collect_list skips NULLs, so the hot-marked rows vanish from the
    // rebuilt text while still counting toward n_lines — one aggregate
    // yields totals, survivors and reassembly together
    val marked = lines.join(hot, Seq(hk), "left")
    val aggs =
      count(lit(1)).as("n_lines") +:
      count(when(col(h).isNull, lit(1))).as("n_kept") +:
      concat_ws("\n", transform(
        array_sort(collect_list(when(col(h).isNull, struct(col(p), col(l))))),
        x => x.getField(l))).as("kept_text") +:
      carryCols.map(c => first(col(c)).as(c))
    marked.groupBy(col(i))
      .agg(aggs.head, aggs.tail: _*)
      .select(col(i).as(idCol) +: carryCols.map(col) :+ col("n_lines") :+
        col("n_kept") :+ col("kept_text"): _*)
  }
}
