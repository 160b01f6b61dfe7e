package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Incremental corpus-statistics indexes for the quality battery — the
 * daily-ingest twin of the [[Dedup]] index family, for the filters
 * whose signal is a CORPUS-WIDE count: token document frequency
 * (rare-token metrics, ref day_12 quality heuristics / CCNet's
 * frequency regime) and the bigram-LM counts behind perplexity-style
 * scoring.
 *
 * Why incremental: at 100 TB the dominant cost of refreshing these
 * statistics is re-TOKENIZING the archive — reading every byte of text
 * again — while the counts themselves are compact columnar frames
 * (one row per distinct token / bigram). So the index archives PARTIAL
 * counts: `build*` tokenizes the seed corpus once; `appendTo*`
 * tokenizes the DELTA only and unions its partial counts (exact —
 * batches carry disjoint doc ids, enforced by the dedup family's own
 * [[Dedup.requireDeltaDisjoint]] guard: document frequency and bigram
 * counts are additive over disjoint document sets); consumers
 * aggregate the compact count frames at use time, which costs a
 * narrow-key hash aggregate instead of a corpus re-read. Same
 * persistence contract as the dedup indexes: save/load parquet
 * directories, lazy frames, the NEXT day's delta folds in at delta
 * cost.
 *
 * Retraction (`retractFrom*`): additivity cuts both ways — removing a
 * batch's influence is the union of its partials NEGATED, exact by
 * construction (every use-time aggregate sums the partials, so +x and
 * −x cancel bit-for-bit; tokens/bigrams/vocab entries whose summed
 * count reaches zero drop out of the aggregates entirely). This is
 * what a real training pipeline needs when it expires a stale crawl
 * snapshot or re-weights a domain: subtract one batch at delta cost
 * instead of the full rebuild the index exists to avoid. The contract
 * is replay-exact: retract EXACTLY a batch that was appended (same
 * ids, same text — [[Dedup.requireRetractCovered]] refuses un-archived
 * ids loudly, since subtracting unseen docs drives counts negative,
 * silently). The STREAMED archives get the same operation in place —
 * [[retractFromTokenStatsArchive]]/[[retractFromNgramStatsArchive]]
 * commit an `x<n>` retraction entry (negated partials + the retracted
 * ids) without stopping the stream, the stats twin of
 * [[graft.streaming.ArchiveDedup.forgetDocs]].
 *
 * Measured decision rule (BENCH.md "Round 12", "Incremental corpus
 * statistics"):
 * at ×100 (500k docs, 10% delta) the incremental path scores the
 * delta at 0.40× the full token-df recompute (2.27 s vs 5.70 s) and
 * 0.56× the full bigram recompute (2.96 s vs 5.25 s) — the gap is the
 * archive's text, which the incremental path never re-reads, so it
 * widens with corpus/delta ratio (at 100 TB / daily-delta scales the
 * rebuild term dominates outright). BELOW ~50k short docs both paths
 * are Spark-job-floor-bound and the extra index jobs make incremental
 * SLOWER (×10: 1.4 s vs 1.1 s) — keep batch recompute for small
 * corpora; the index pays off once the archive dwarfs the delta.
 *
 * Exactness gates: the `*Against` scorers reproduce the batch
 * operators bit-for-bit when the index covers the target's corpus —
 * q91 replays q73's oracle and q92 replays q79's through the
 * incremental path (build + append ≡ one batch pass), the same
 * same-rows-different-engine-path discipline as q86/q87/q89; the
 * retraction inverse (`retract(append(ix,B),B) ≡ ix` on every
 * observable) and the windowed regime (last-W-batch scoring ≡ batch
 * recompute over the window) are gated in CorpusStatsSpec.
 */
object CorpusStats {

  // Pinned component schemas (round 17 job diet — same rule as
  // ArchiveDedup's): a schema-less spark.read.parquet pays a
  // footer-inference driver job per NEW path set, and the stats
  // lifecycles (load → retract → window) traverse fresh path sets per
  // entry; the writers in this file fix every component's schema, so
  // the readers pass them explicitly (oracle battery re-proves
  // byte-equality). A pre-r13 bare-`h` unigram file reads with a null
  // `u_part`, which withUnigramMarks fills with the historical mark 1.
  private val statsComponentSchemas: Map[String, org.apache.spark.sql.types.StructType] = {
    import org.apache.spark.sql.types._
    Map(
      "df" -> StructType(Seq(StructField("w", StringType),
        StructField("tdf_part", LongType))),
      "ids" -> StructType(Seq(StructField("id", LongType))),
      "folded" -> StructType(Seq(StructField("id", LongType))),
      "pairs" -> StructType(Seq(StructField("__h1", LongType),
        StructField("__h2", LongType), StructField("pc_part", LongType))),
      "contexts" -> StructType(Seq(StructField("__h1", LongType),
        StructField("cc_part", LongType))),
      "unigrams" -> StructType(Seq(StructField("h", LongType),
        StructField("u_part", LongType))))
  }
  private def readStatsComp(spark: SparkSession, comp: String,
                            paths: Seq[String]): DataFrame =
    spark.read.schema(statsComponentSchemas(comp)).parquet(paths: _*)

  // ===================================================================
  // Token document frequency (the q73 family)
  // ===================================================================

  /** Partial df counts per batch: `parts` holds (w, tdf_part) rows —
    * one per distinct token PER FOLDED BATCH (df is additive across
    * disjoint doc sets; a RETRACTED batch contributes the same rows
    * negated); `ids` is the indexed doc-id set (disjointness guard +
    * coverage checks). */
  final case class TokenStatsIndex(parts: DataFrame, ids: DataFrame)

  private def tokenRows(docs: DataFrame, idCol: String, textCol: String) =
    docs.select(col(idCol).cast("long").as("doc_id"),
      explode(QualityFilters.words(lower(col(textCol)))).as("w"))

  private def tokenParts(docs: DataFrame, idCol: String, textCol: String) =
    tokenRows(docs, idCol, textCol)
      .groupBy(col("w")).agg(countDistinct(col("doc_id")).as("tdf_part"))

  private def idFrame(docs: DataFrame, idCol: String) =
    docs.select(col(idCol).cast("long").as("id")).distinct()

  def buildTokenStats(docs: DataFrame, idCol: String,
                      textCol: String): TokenStatsIndex =
    TokenStatsIndex(tokenParts(docs, idCol, textCol), idFrame(docs, idCol))

  /** Fold a NEW batch in at DELTA cost: tokenize the delta only, union
    * its partial counts (df over disjoint doc sets is a sum of per-set
    * dfs — no re-aggregation of the archive). */
  def appendToTokenStats(ix: TokenStatsIndex, newDocs: DataFrame,
                         idCol: String, textCol: String): TokenStatsIndex = {
    Dedup.requireDeltaDisjoint(ix.ids, newDocs, idCol, "appendToTokenStats")
    TokenStatsIndex(
      ix.parts.select(col("w"), col("tdf_part"))
        .unionByName(tokenParts(newDocs, idCol, textCol)),
      ix.ids.select(col("id")).unionByName(idFrame(newDocs, idCol)))
  }

  /** Subtract a previously-folded batch at DELTA cost — the exact
    * inverse of [[appendToTokenStats]] by additivity: the batch's
    * partials union in NEGATED (+x then −x cancels in every use-time
    * sum; a token seen only in the retracted batch sums to zero and
    * drops from [[tokenDf]]), and its ids leave the indexed set. The
    * batch must replay exactly what was appended: same ids (enforced
    * loudly — retracting an unseen id would drive counts negative) and
    * same text (the caller's replay contract, as for dedup replays).
    * This is the crawl-snapshot-expiry / domain-re-weight operation:
    * removal at batch cost instead of a full corpus rebuild. */
  def retractFromTokenStats(ix: TokenStatsIndex, docs: DataFrame,
                            idCol: String, textCol: String): TokenStatsIndex = {
    Dedup.requireRetractCovered(ix.ids, docs, idCol, "retractFromTokenStats")
    TokenStatsIndex(
      ix.parts.select(col("w"), col("tdf_part"))
        .unionByName(tokenParts(docs, idCol, textCol)
          .select(col("w"), (col("tdf_part") * lit(-1L)).as("tdf_part"))),
      ix.ids.select(col("id"))
        .join(idFrame(docs, idCol), Seq("id"), "left_anti"))
  }

  def saveTokenStats(ix: TokenStatsIndex, dir: String): Unit = {
    ix.parts.write.mode("overwrite").parquet(s"$dir/df")
    ix.ids.write.mode("overwrite").parquet(s"$dir/ids")
  }

  def loadTokenStats(spark: SparkSession, dir: String): TokenStatsIndex =
    TokenStatsIndex(readStatsComp(spark, "df", Seq(s"$dir/df")),
      readStatsComp(spark, "ids", Seq(s"$dir/ids")))

  /** Final document frequency per token — one narrow-key aggregate
    * over the compact partial-count rows. Non-positive sums (a token
    * whose every occurrence was retracted) drop out: the token no
    * longer exists in the indexed corpus. */
  def tokenDf(ix: TokenStatsIndex): DataFrame =
    ix.parts.groupBy(col("w")).agg(sum(col("tdf_part")).as("tdf"))
      .where(col("tdf") > 0)

  /** Per-document token-frequency metrics of `target`, scored against
    * the INDEX's df — identical to
    * [[QualityFilters.tokenFrequencyMetrics]] over the index's corpus
    * when the index covers `target` (q91 gates this through q73's
    * oracle), and the actual daily regime otherwise: today's delta
    * scored against cumulative corpus statistics without re-reading
    * the archive's text. Coverage contract: a target token the index
    * has never seen has no df and is DROPPED from the metrics (inner
    * join) — fold the target first (the daily loop does) or accept
    * seen-token metrics for an uncovered frame. */
  def tokenFrequencyMetricsAgainst(ix: TokenStatsIndex, target: DataFrame,
                                   idCol: String, textCol: String,
                                   rareDf: Int = 3): DataFrame =
    tokenRows(target, idCol, textCol)
      .join(tokenDf(ix), Seq("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        round(sum(col("tdf")).cast("double") / count(lit(1)), 6).as("mean_token_df"),
        min(col("tdf")).as("min_token_df"),
        round(sum(when(col("tdf") < rareDf, lit(1L)).otherwise(lit(0L))).cast("double")
          / count(lit(1)), 6).as("rare_ratio"))

  // ===================================================================
  // Bigram-LM counts (the q79 family)
  // ===================================================================

  /** Partial bigram-model counts per batch: pair counts C(w₁w₂),
    * context counts C(w₁·), and unigram OCCURRENCE counts (h, u_part)
    * — all three additive over disjoint doc sets. Vocabulary size is
    * the count of hashes whose occurrence sums are positive at use
    * time: a hash stays in the vocabulary while ANY un-retracted
    * document carries it. Occurrence counts (not per-batch presence
    * marks) are what makes IN-PLACE retraction of an arbitrary victim
    * subset exact: a presence mark of 1 per batch would cancel against
    * one victim while other docs of the same batch still carry the
    * word, silently shrinking the vocabulary. */
  final case class NgramStatsIndex(pairParts: DataFrame,
                                   contextParts: DataFrame,
                                   unigrams: DataFrame,
                                   ids: DataFrame,
                                   /** true iff `unigrams` rows are occurrence
                                     * COUNTS (the current format). Loaded
                                     * presence-mark-era frames set false:
                                     * loading is equivalence-safe (positive
                                     * iff present), RETRACTION is not —
                                     * subtracting counts against marks
                                     * corrupts the vocabulary, so
                                     * [[retractFromNgramStats]] refuses. */
                                   ucounts: Boolean = true)

  private def bigramFrame(docs: DataFrame, idCol: String, textCol: String) = {
    val spark = docs.sparkSession
    import spark.implicits._
    QualityFilters.tokenHashStream(docs, idCol, textCol)
      .flatMap { case (id, hs) =>
        Iterator.range(1, hs.length).map(i => (id, i.toLong, hs(i - 1), hs(i)))
      }.toDF("doc_id", "pos", "__h1", "__h2")
  }

  private def unigramFrame(docs: DataFrame, idCol: String, textCol: String) = {
    val spark = docs.sparkSession
    import spark.implicits._
    QualityFilters.tokenHashStream(docs, idCol, textCol)
      .flatMap(_._2.iterator).toDF("h")
      .groupBy(col("h")).agg(count(lit(1)).as("u_part"))
  }

  private def ngramPartsOf(docs: DataFrame, idCol: String, textCol: String,
                           sign: Long): NgramStatsIndex = {
    val bg = bigramFrame(docs, idCol, textCol)
    NgramStatsIndex(
      bg.groupBy(col("__h1"), col("__h2"))
        .agg((count(lit(1)) * lit(sign)).as("pc_part")),
      bg.groupBy(col("__h1")).agg((count(lit(1)) * lit(sign)).as("cc_part")),
      unigramFrame(docs, idCol, textCol)
        .select(col("h"), (col("u_part") * lit(sign)).as("u_part")),
      idFrame(docs, idCol))
  }

  def buildNgramStats(docs: DataFrame, idCol: String,
                      textCol: String): NgramStatsIndex =
    ngramPartsOf(docs, idCol, textCol, sign = 1L)

  private def unionNgram(ix: NgramStatsIndex, delta: NgramStatsIndex,
                         ids: DataFrame): NgramStatsIndex =
    NgramStatsIndex(
      ix.pairParts.select(col("__h1"), col("__h2"), col("pc_part"))
        .unionByName(delta.pairParts),
      ix.contextParts.select(col("__h1"), col("cc_part"))
        .unionByName(delta.contextParts),
      ix.unigrams.select(col("h"), col("u_part"))
        .unionByName(delta.unigrams),
      ids,
      // a mark-era base poisons the union for retraction purposes even
      // though the delta side is counts — loading stays exact either way
      ucounts = ix.ucounts && delta.ucounts)

  /** Delta-cost fold: the delta's pair/context/unigram partials union
    * in un-aggregated across batches (all additive) — vocabulary
    * resolves once, at use time, over the compact hash column instead
    * of per-append. */
  def appendToNgramStats(ix: NgramStatsIndex, newDocs: DataFrame,
                         idCol: String, textCol: String): NgramStatsIndex = {
    Dedup.requireDeltaDisjoint(ix.ids, newDocs, idCol, "appendToNgramStats")
    unionNgram(ix, ngramPartsOf(newDocs, idCol, textCol, sign = 1L),
      ix.ids.select(col("id")).unionByName(idFrame(newDocs, idCol)))
  }

  /** The exact inverse of [[appendToNgramStats]] — see
    * [[retractFromTokenStats]] for the contract (replay the retracted
    * docs' text exactly as folded; negative partials cancel in every
    * use-time sum; a bigram or vocabulary hash carried only by the
    * retracted docs sums to zero and drops from the model). Exact for
    * ANY covered victim subset, not just whole appended batches —
    * occurrence-count unigram partials subtract per-document. Refuses
    * an index whose unigrams carry presence-mark-era values
    * (`ucounts = false`): subtracting counts against marks silently
    * shrinks the vocabulary below the surviving corpus. */
  def retractFromNgramStats(ix: NgramStatsIndex, docs: DataFrame,
                            idCol: String, textCol: String): NgramStatsIndex = {
    require(ix.ucounts,
      "retractFromNgramStats: this index's unigrams carry presence-mark-era " +
        "values (loaded from a pre-occurrence-count persisted dir) — " +
        "subtracting the victims' occurrence counts against marks would " +
        "silently shrink the vocabulary below the surviving corpus. " +
        "Rebuild the index from the corpus before retracting.")
    Dedup.requireRetractCovered(ix.ids, docs, idCol, "retractFromNgramStats")
    unionNgram(ix, ngramPartsOf(docs, idCol, textCol, sign = -1L),
      ix.ids.select(col("id"))
        .join(idFrame(docs, idCol), Seq("id"), "left_anti"))
  }

  def saveNgramStats(ix: NgramStatsIndex, dir: String): Unit = {
    ix.pairParts.write.mode("overwrite").parquet(s"$dir/pairs")
    ix.contextParts.write.mode("overwrite").parquet(s"$dir/contexts")
    ix.unigrams.write.mode("overwrite").parquet(s"$dir/unigrams")
    ix.ids.write.mode("overwrite").parquet(s"$dir/ids")
    if (ix.ucounts)
      writeCountMarker(hfs(ix.unigrams.sparkSession, dir)._1, dir)
  }

  /** Normalize a persisted unigram frame to the (h, u_part) schema.
    * Indexes persisted before round 13 stored bare `h` rows — one per
    * batch-distinct hash, a presence mark of 1. For LOADING (vocabulary
    * = hashes with positive sums) a mark of 1 is equivalent to the
    * occurrence count the current format stores, so `lit(1)` reads old
    * entries exactly; pinned-schema reads of old entries (alone, or an
    * old seed beside new slivers) fill the old rows' null marks the
    * same way. For in-place RETRACTION the two are NOT equivalent (counts
    * subtract per-document; marks don't) — and the u_part COLUMN alone
    * cannot distinguish them (the round-12 format stored marks under
    * the same column name), so the count format is marked by an
    * `_ucounts` sentinel file (see [[hasCountMarker]]) and every
    * retraction path refuses unmarked unigram frames. */
  private def withUnigramMarks(df: DataFrame): DataFrame =
    if (df.columns.contains("u_part"))
      df.select(col("h"), coalesce(col("u_part"), lit(1L)).as("u_part"))
    else df.select(col("h"), lit(1L).as("u_part"))

  /** Format sentinel for unigram components: `_ucounts` inside the
    * parquet directory (underscore files are invisible to parquet
    * readers) is present iff the u_part rows are occurrence COUNTS.
    * Presence-mark-era components — bare `h` (pre-r13) or marks under
    * a u_part column (round 12's format) — lack it, so schema
    * inspection is never trusted to authorize a retraction. The
    * sentinel lives INSIDE the component dir so it travels with entry
    * renames and dies with any overwrite of the component; folds
    * propagate it conjunctively (a fold over any unmarked input is
    * itself unmarked — mark sums are loading-safe but must never
    * authorize subtraction). */
  private def countMarkerPath(entryDir: String) =
    new org.apache.hadoop.fs.Path(s"$entryDir/unigrams/_ucounts")
  private def writeCountMarker(fs: org.apache.hadoop.fs.FileSystem,
                               entryDir: String): Unit =
    fs.create(countMarkerPath(entryDir), true).close()
  private[graft] def hasCountMarker(spark: SparkSession, entryDir: String): Boolean =
    hfs(spark, entryDir)._1.exists(countMarkerPath(entryDir))

  def loadNgramStats(spark: SparkSession, dir: String): NgramStatsIndex =
    NgramStatsIndex(readStatsComp(spark, "pairs", Seq(s"$dir/pairs")),
      readStatsComp(spark, "contexts", Seq(s"$dir/contexts")),
      withUnigramMarks(readStatsComp(spark, "unigrams", Seq(s"$dir/unigrams"))),
      readStatsComp(spark, "ids", Seq(s"$dir/ids")),
      ucounts = hasCountMarker(spark, dir))

  /** Bigram-LM counts of `target`'s bigram positions against the
    * INDEX's model — [[QualityFilters.bigramCounts]]' exact-integer
    * shape (doc_id, pos, pair_count, context_count, vocab_size), equal
    * to the batch operator over the index's corpus when the index
    * covers `target` (q92 gates this through q79's oracle). The daily
    * regime: score today's delta under cumulative corpus counts with
    * one tokenize pass over the DELTA plus two narrow-key aggregates
    * over the archived partials. Same coverage contract as
    * [[tokenFrequencyMetricsAgainst]]: a target bigram the index has
    * never seen (or whose every occurrence was retracted — sums filter
    * to positive) has no counts and its (doc_id, pos) row is DROPPED
    * (inner join) — fold the target first, or accept seen-bigram rows
    * for an uncovered frame (perplexity consumers wanting
    * smoothing-floor rows for unseen bigrams should use
    * [[QualityFilters.bigramLmScoresAgainst]]'s left-join regime). */
  def bigramCountsAgainst(ix: NgramStatsIndex, target: DataFrame,
                          idCol: String, textCol: String): DataFrame = {
    val c2 = ix.pairParts.groupBy(col("__h1"), col("__h2"))
      .agg(sum(col("pc_part")).as("pair_count"))
      .where(col("pair_count") > 0)
    // context counts DERIVED from the aggregated pair counts (r20,
    // guide §2.3/§2.4): C(w₁·) = Σ_w₂ C(w₁w₂) identically — zero-sum
    // pairs the filter drops contribute 0 to the prefix sum, and the
    // replay contract keeps per-pair sums non-negative, so the derived
    // values equal the contextParts sums bit for bit. Summing c2's
    // OUTPUT lets AQE's stage cache reuse c2's exchange: for an
    // in-memory index (q92) the contextParts subtree's full tokenize
    // passes disappear from the scoring job; for an archive (q94) the
    // contexts component is simply not read here (it stays persisted —
    // the component layout is the archive contract, and mark-era
    // readers/compactors still fold it).
    val c1 = c2.groupBy(col("__h1"))
      .agg(sum(col("pair_count")).as("context_count"))
      .where(col("context_count") > 0)
    // vocabulary as a broadcast 1-row aggregate riding the SAME job —
    // was a blocking .count() at DataFrame-construction time (one extra
    // driver job per call, plus an un-shared tokenize of the unigram
    // subtree for in-memory indexes)
    val vocabDf = ix.unigrams.groupBy(col("h"))
      .agg(sum(col("u_part")).as("u")).where(col("u") > 0)
      .agg(count(lit(1)).as("vocab_size"))
    bigramFrame(target, idCol, textCol)
      .join(c2, Seq("__h1", "__h2"))
      .join(c1, Seq("__h1"))
      .crossJoin(broadcast(vocabDf))
      .select(col("doc_id"), col("pos"), col("pair_count"),
        col("context_count"), col("vocab_size"))
  }

  /** Smoothed bigram-LM perplexity scoring of `target` against the
    * INDEX's model — [[QualityFilters.bigramLmScoresAgainst]]'s
    * left-join regime (unseen bigrams take the Laplace smoothing
    * floor, so every target doc scores) with the reference counts
    * aggregated from the ARCHIVED partials instead of re-tokenizing
    * the reference corpus: the CCNet-style quality filter at daily
    * cost. The model-application DAG is literally the batch
    * operator's ([[QualityFilters.bigramLmScoreFrom]]); only where
    * the counts come from differs, so the two paths cannot drift. */
  def bigramLmScoresAgainst(ix: NgramStatsIndex, target: DataFrame,
                            idCol: String, textCol: String): DataFrame = {
    val c2 = ix.pairParts.groupBy(col("__h1"), col("__h2"))
      .agg(sum(col("pc_part")).as("__c2")).where(col("__c2") > 0)
    // derived from c2 — see bigramCountsAgainst: identical sums, and
    // AQE stage reuse shares c2's exchange instead of re-aggregating
    // (and, for in-memory indexes, re-tokenizing) the contexts subtree
    val c1 = c2.groupBy(col("__h1"))
      .agg(sum(col("__c2")).as("__c1")).where(col("__c1") > 0)
    val vocab = ix.unigrams.groupBy(col("h"))
      .agg(sum(col("u_part")).as("u")).where(col("u") > 0)
      .agg(count(lit(1)).as("__vocab"))
    QualityFilters.bigramLmScoreFrom(c2, c1, vocab, target, idCol, textCol)
  }

  // ===================================================================
  // Streaming twins — the ArchiveDedup pattern radically simplified:
  // partial counts are ADDITIVE and ORDER-INDEPENDENT, so a streamed
  // archive needs no generation machinery — each micro-batch COMMITS
  // its partial counts as entry `b<id>` (temp + rename, atomic), a
  // reader aggregates every LIVE entry through one multi-path relation
  // per component (O(1) plan nodes in stream age), and the tiered
  // auto-compaction below (`compactEvery`, same LSM discipline as
  // ArchiveDedup) folds old entries so file and entry counts stay
  // bounded over months-long streams. Folding SUMS partials, so reads
  // are equivalent before and after — compaction is file hygiene,
  // never a correctness event.
  // ===================================================================

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  private def hfs(spark: SparkSession, dir: String) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  /** Per-family archive layout: component name → use-time fold (how a
    * compacted range aggregates that component's rows — partials sum
    * on their key; ids are disjoint across batches, so they union). */
  private type Fold = DataFrame => DataFrame
  private val TokenComponents: Seq[(String, Fold)] = Seq(
    "df" -> (df => df.groupBy(col("w")).agg(sum(col("tdf_part")).as("tdf_part"))),
    "ids" -> identity)
  private val NgramComponents: Seq[(String, Fold)] = Seq(
    "pairs" -> (df => df.groupBy(col("__h1"), col("__h2"))
      .agg(sum(col("pc_part")).as("pc_part"))),
    "contexts" -> (df => df.groupBy(col("__h1"))
      .agg(sum(col("cc_part")).as("cc_part"))),
    // normalize marks first: a pre-r13 entry ships bare-`h` unigrams
    // (u_part null under the pinned-schema read) — folding without the
    // fill would silently DROP old batches' vocabulary marks (sum()
    // skips nulls), shrinking vocab for every subsequent perplexity score
    "unigrams" -> (df => withUnigramMarks(df).groupBy(col("h"))
      .agg(sum(col("u_part")).as("u_part"))),
    "ids" -> identity)

  /** Commit one entry `dir/<name>/{<components>}` via write-to-temp +
    * rename (the ArchiveDedup commit discipline): the rename is the
    * single commit point, so a crash mid-write leaves only an invisible
    * `.inprogress-*` dir — never a torn entry whose count partials are
    * readable while the ids the replay guard keys on are missing.
    * The existing-entry refusal message is tailored per call path: a
    * batch commit hitting an existing `b<id>` can only be a batchId
    * counter reset (the id-membership replay guard already ran and
    * said "fresh"), while a seed/compact hitting an existing entry is
    * simply a non-empty target directory. */
  private def commitComponents(spark: SparkSession, dir: String, name: String,
                               comps: Seq[(String, DataFrame)],
                               ucounts: Boolean = true): Unit = {
    val (fs, _) = hfs(spark, dir)
    if (fs.exists(new org.apache.hadoop.fs.Path(s"$dir/$name")))
      throw new IllegalStateException(
        // callers commit only `seed` and `b<id>` here; compacted ranges
        // go through mergeStatsEntries, which carries its own
        // concurrent-compactor refusal
        if (name.startsWith("b"))
          s"CorpusStats: entry $dir/$name already exists with DIFFERENT " +
            "rows than this batch carries — the stream restarted without " +
            "its checkpointLocation and its batchId counter reset. " +
            "Refusing to double-commit; restart with the original checkpoint."
        else if (name.startsWith("x"))
          s"CorpusStats: retraction entry $dir/$name already exists — is " +
            "another maintainer retracting from this archive concurrently? " +
            "One maintainer per archive directory."
        else
          s"CorpusStats: $dir is already seeded (entry '$name' exists) — " +
            "seed/compact into a fresh directory, or purge this one first.")
    val tmp = new org.apache.hadoop.fs.Path(s"$dir/.inprogress-$name")
    if (fs.exists(tmp)) fs.delete(tmp, true) // stale crash leftovers
    // components write CONCURRENTLY: they are independent frames going
    // to independent paths, and a micro-batch commit otherwise pays
    // 2 (token) or 4 (ngram) sequential job walls — the batch wall a
    // streaming sink pays on EVERY batch. Atomicity is unchanged: the
    // rename below is still the single commit point, and a failure in
    // any component write surfaces before it (unwrapped from the
    // pool's wrapper).
    graft.Par.run(comps.map { case (c, df) =>
      () => df.write.mode("overwrite").parquet(s"$tmp/$c")
    })
    if (ucounts && comps.exists(_._1 == "unigrams"))
      writeCountMarker(fs, tmp.toString)
    // crash seams (see graft.streaming.CrashPoints): pre-rename leaves
    // only the invisible temp; post-commit is the entry-durable /
    // checkpoint-not-advanced replay window
    graft.streaming.CrashPoints.reach(s"pre-rename:$dir/$name")
    if (!fs.rename(tmp, new org.apache.hadoop.fs.Path(s"$dir/$name")))
      throw new IllegalStateException(
        s"CorpusStats: failed to commit stats entry $dir/$name " +
          "(rename returned false) — is another writer racing this archive?")
    graft.streaming.CrashPoints.reach(s"post-commit:$dir/$name")
  }

  private def commitParts(ix: TokenStatsIndex, dir: String, name: String): Unit =
    commitComponents(ix.parts.sparkSession, dir, name,
      Seq("df" -> ix.parts, "ids" -> ix.ids))

  private def commitNgram(ix: NgramStatsIndex, dir: String, name: String): Unit =
    commitComponents(ix.pairParts.sparkSession, dir, name,
      Seq("pairs" -> ix.pairParts, "contexts" -> ix.contextParts,
        "unigrams" -> ix.unigrams, "ids" -> ix.ids),
      ucounts = ix.ucounts)

  private def entryNamesOf(spark: SparkSession, dir: String): Seq[String] = {
    val (fs, p) = hfs(spark, dir)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
      .filterNot(_.startsWith("."))
  }

  // -------------------------------------------------------------------
  // Archive bookkeeping: `seed`, slivers `b<id>`, compacted ranges
  // `c<lo>-<hi>` (partials pre-folded; a `folded` id manifest when the
  // merged batch ids are not the full interval, and a `committed`
  // single-row marker recording the ACTUAL batch the range committed
  // at — GC retention is keyed on it, never inferred from the range
  // name, so sparse/timestamp batch ids and late retried merges keep
  // the full retainCovered window).
  // -------------------------------------------------------------------

  private val RangeName = "c(\\d+)-(\\d+)".r
  private[graft] final case class StatsState(hasSeed: Boolean,
                                             slivers: Seq[Long],
                                             ranges: Seq[(Long, Long)],
                                             manifests: Map[(Long, Long), Set[Long]],
                                             committedAt: Map[(Long, Long), Long],
                                             retractions: Seq[Long] = Nil,
                                             xManifests: Map[Long, Set[Long]] = Map.empty) {
    def maximalRanges: Seq[(Long, Long)] = ranges.filterNot { r =>
      ranges.exists(o => o != r && o._1 <= r._1 && r._2 <= o._2)
    }.sortBy(_._1)
    def coveredByRange(r: (Long, Long), id: Long): Boolean =
      manifests.get(r).map(_.contains(id))
        .getOrElse(r._1 <= id && id <= r._2)
    def covered(id: Long): Boolean =
      maximalRanges.exists(r => coveredByRange(r, id))
    def idsOfRange(r: (Long, Long)): Seq[Long] =
      manifests.get(r).map(_.toSeq.sorted).getOrElse(r._1 to r._2)
    def liveSlivers: Seq[Long] = slivers.filterNot(covered).sorted
    def liveRanges: Seq[(Long, Long)] = maximalRanges
    /** Every batch id durably folded anywhere (batch ids, not doc ids —
      * bounded by stream age in batches). */
    def allFoldedIds: Seq[Long] =
      (ranges.flatMap(idsOfRange) ++ slivers).distinct.sorted
    /** Directories a reader must union — live POSITIVE entries only: a
      * covered entry awaiting deferred GC would double-count its
      * partials, and retraction entries are added separately (their
      * negated partials join cumulative loads but never windows). */
    def liveEntries: Seq[String] =
      (if (hasSeed) Seq("seed") else Nil) ++
        liveRanges.map { case (lo, hi) => s"c$lo-$hi" } ++
        liveSlivers.map(b => s"b$b")
    /** Retraction entries still LIVE: not folded into a later merged
      * `x` entry (a merged entry's `folded` sidecar lists the x ids it
      * covers — covered entries await deferred GC at the next takedown,
      * exactly the range discipline above). */
    def liveRetractions: Seq[Long] = {
      val covered = xManifests.values.flatten.toSet
      retractions.filterNot(covered).sorted
    }
    /** In-place retraction entries `x<n>` (negated partials + the
      * retracted doc ids) a reader must union — live only; see
      * [[retractFromTokenStatsArchive]]. */
    def retractionEntries: Seq[String] = liveRetractions.map(n => s"x$n")
  }

  // folded-id manifests and commit markers are immutable once their
  // entry is committed — cache per (path, mtime) so stateOf (several
  // calls per batch) reads each at most once per JVM; mtime keying
  // keeps a long-lived JVM honest across delete-and-recreate at the
  // same path (same discipline as ArchiveDedup's manifest cache)
  private val sidecarCache =
    new java.util.concurrent.ConcurrentHashMap[String, Option[Seq[Long]]]()
  private def sidecarOf(spark: SparkSession, dir: String, entry: String,
                        comp: String): Option[Seq[Long]] = {
    val (fs, _) = hfs(spark, dir)
    val mtime =
      try fs.getFileStatus(new org.apache.hadoop.fs.Path(s"$dir/$entry"))
        .getModificationTime
      catch { case _: java.io.FileNotFoundException => -1L }
    sidecarCache.computeIfAbsent(s"$dir/$entry/$comp@$mtime", { _ =>
      val path = s"$dir/$entry/$comp"
      if (!fs.exists(new org.apache.hadoop.fs.Path(path))) None
      else Some(readStatsComp(spark, "ids", Seq(path))
        .select(col("id")).collect().map(_.getLong(0)).toSeq)
    })
  }
  private def purgeSidecarCache(dir: String): Unit = {
    val it = sidecarCache.keySet().iterator()
    while (it.hasNext) if (it.next().startsWith(s"$dir/")) it.remove()
  }
  /** Drop one GC'd entry's cached sidecars — deleted ranges otherwise
    * pin their folded-id Seqs for the JVM's lifetime in a long-lived
    * driver (the ArchiveDedup eviction discipline). */
  private def evictSidecarCache(dir: String, entry: String): Unit = {
    val prefix = s"$dir/$entry/"
    val it = sidecarCache.keySet().iterator()
    while (it.hasNext) if (it.next().startsWith(prefix)) it.remove()
  }

  private def numericSuffix(names: Seq[String], prefix: Char): Seq[Long] =
    names.collect {
      case n if n.length > 1 && n.head == prefix && n.drop(1).forall(_.isDigit) =>
        n.drop(1).toLong
    }

  private[graft] def statsStateOf(spark: SparkSession,
                                  dir: String): StatsState = {
    val names = entryNamesOf(spark, dir)
    val ranges = names.collect { case RangeName(lo, hi) => (lo.toLong, hi.toLong) }
    val xs = numericSuffix(names, 'x')
    StatsState(
      names.contains("seed"),
      numericSuffix(names, 'b'),
      ranges,
      ranges.flatMap(r => sidecarOf(spark, dir, s"c${r._1}-${r._2}", "folded")
        .map(ids => r -> ids.toSet)).toMap,
      ranges.flatMap(r => sidecarOf(spark, dir, s"c${r._1}-${r._2}", "committed")
        .flatMap(_.headOption).map(r -> _)).toMap,
      xs,
      xs.flatMap(n => sidecarOf(spark, dir, s"x$n", "folded")
        .map(ids => n -> ids.toSet)).toMap)
  }

  /** Tiered auto-compaction, the ArchiveDedup discipline on the stats
    * archives with one window-preserving difference: a merge triggers
    * only once 2K−1 live slivers accumulate and folds the K OLDEST, so
    * the newest K−1 slivers are ALWAYS live — the guarantee windowed
    * loads (`lastBatches < compactEvery`) rely on; ArchiveDedup folds
    * at K-of-K because nothing windows over its entries. Folded range
    * entries `c<lo>-<hi>` carry pre-summed partials (reads equivalent —
    * sums of sums); when 2K−1 ranges accumulate, the K oldest fold into
    * a bigger range. Live entries stay ≤ seed + (2K−2) ranges + (2K−2)
    * slivers (plus covered entries awaiting deferred GC), write
    * amplification is O(batch) amortized, and the replay guard is
    * untouched — it keys on id membership, so a batch whose entry was
    * folded away still skips. Retraction entries (`x<n>`) tier-fold on
    * their OWN clock — the takedown calls (see [[commitRetraction]]),
    * since they carry no batch ids; the sinks never touch them. GC of
    * covered entries is DEFERRED
    * `retainCovered` batches past the covering range's RECORDED commit
    * batch (the `committed` marker written at merge time — never
    * inferred from the range name, so sparse or timestamp batch ids
    * keep the full retention window), keeping a concurrent reader's
    * already-planned multi-path relation readable for at least that
    * many batch intervals. */
  private[graft] def maybeCompactStats(spark: SparkSession, dir: String,
                                       comps: Seq[(String, Fold)],
                                       compactEvery: Int, currentBatch: Long,
                                       retainCovered: Int = 1): Unit = {
    if (compactEvery <= 0) return
    requireSaneCompactEvery(compactEvery)
    val st0 = statsStateOf(spark, dir)
    gcCoveredStats(spark, dir, st0, currentBatch, math.max(1, retainCovered))
    val live = st0.liveSlivers
    if (live.length >= 2 * compactEvery - 1)
      mergeStatsEntries(spark, dir, comps, live.take(compactEvery).map(b => s"b$b"),
        live.take(compactEvery), currentBatch)
    val st1 = statsStateOf(spark, dir)
    val ranges = st1.liveRanges
    if (ranges.length >= 2 * compactEvery - 1) {
      val oldest = ranges.take(compactEvery)
      mergeStatsEntries(spark, dir, comps,
        oldest.map { case (lo, hi) => s"c$lo-$hi" },
        oldest.flatMap(st1.idsOfRange), currentBatch)
    }
  }

  private def isContiguous(sorted: Seq[Long]): Boolean =
    sorted.isEmpty || sorted.last - sorted.head + 1 == sorted.length

  /** `compactEvery = 1` is degenerate: the tier-2 pass would merge a
    * single range into its own name, which the concurrent-compactor
    * guard (rightly) refuses — fail at construction, not mid-stream. */
  private[graft] def requireSaneCompactEvery(compactEvery: Int): Unit =
    require(compactEvery <= 0 || compactEvery >= 2,
      "CorpusStats: compactEvery = 1 is degenerate (tier-2 would merge a " +
        "single range into its own name, which the concurrent-compactor " +
        "guard refuses) — use 0 to disable compaction, or K >= 2")

  private def mergeStatsEntries(spark: SparkSession, dir: String,
                                comps: Seq[(String, Fold)],
                                entries: Seq[String], foldedIds: Seq[Long],
                                currentBatch: Long): Unit = {
    import spark.implicits._
    val ids = foldedIds.sorted
    val name = s"c${ids.head}-${ids.last}"
    val (fs, _) = hfs(spark, dir)
    // an existing target can only be a concurrent compactor (a crashed
    // merge that DID commit makes its sources covered, so it is never
    // re-attempted) — refuse before the rename: Hadoop rename onto an
    // existing directory moves the temp INSIDE it and returns true,
    // which would report success without committing anything
    if (fs.exists(new org.apache.hadoop.fs.Path(s"$dir/$name")))
      throw new IllegalStateException(
        s"CorpusStats: compacted range $dir/$name already exists — is " +
          "another writer compacting this archive concurrently? One " +
          "maintainer per archive directory.")
    val tmp = new org.apache.hadoop.fs.Path(s"$dir/.inprogress-$name")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    // per-component folds write CONCURRENTLY (same rationale as
    // commitComponents: independent frames, independent paths, the
    // rename below is still the single commit point)
    graft.Par.run(comps.map { case (c, fold) =>
      () => {
        // the merge set may mix pre-r13 bare-`h` unigram entries with
        // new (h, u_part) ones — the pinned schema reads both, and the
        // fold normalizes the marks
        fold(readStatsComp(spark, c, entries.map(e => s"$dir/$e/$c")))
          .write.mode("overwrite").parquet(s"$tmp/$c")
        // the count-format sentinel propagates conjunctively: a fold
        // over any presence-mark-era input yields mark sums —
        // loading-safe, but it must never launder into retraction
        // authorization
        if (c == "unigrams" &&
            entries.forall(e => hasCountMarker(spark, s"$dir/$e")))
          writeCountMarker(fs, tmp.toString)
      }
    })
    if (!isContiguous(ids))
      ids.toDF("id").coalesce(1).write.mode("overwrite").parquet(s"$tmp/folded")
    Seq(currentBatch).toDF("id").coalesce(1)
      .write.mode("overwrite").parquet(s"$tmp/committed")
    // crash seams for the COMPACTION commit (the "crashed merge" cases
    // the class doc reasons about — executed in CrashRecoverySpec)
    graft.streaming.CrashPoints.reach(s"pre-rename:$dir/$name")
    if (!fs.rename(tmp, new org.apache.hadoop.fs.Path(s"$dir/$name")))
      throw new IllegalStateException(
        s"CorpusStats: failed to commit compacted range $dir/$name " +
          "(rename returned false) — is another writer racing this archive?")
    graft.streaming.CrashPoints.reach(s"post-commit:$dir/$name")
  }

  /** Deferred GC: delete slivers covered by a maximal range and ranges
    * contained in a larger one, each only once its earliest covering
    * range's RECORDED commit batch is ≥ retainCovered batches old.
    * Crash-safe: covered entries are invisible to readers and the
    * replay guard, so a crash mid-GC just leaves them for the next
    * cycle. The seed entry is never GC'd (nothing covers it). */
  private def gcCoveredStats(spark: SparkSession, dir: String, st: StatsState,
                             currentBatch: Long, retainCovered: Int): Unit = {
    val (fs, _) = hfs(spark, dir)
    def commitOf(r: (Long, Long)): Long = st.committedAt.getOrElse(r, r._2)
    def oldEnough(covering: Seq[(Long, Long)]): Boolean =
      covering.map(commitOf).reduceOption(_ min _)
        .exists(_ <= currentBatch - retainCovered)
    st.slivers.filter(st.covered).foreach { b =>
      if (oldEnough(st.maximalRanges.filter(r => st.coveredByRange(r, b))))
        fs.delete(new org.apache.hadoop.fs.Path(s"$dir/b$b"), true)
    }
    val live = st.maximalRanges.toSet
    st.ranges.filterNot(live).foreach { case r @ (lo, hi) =>
      if (oldEnough(st.ranges.filter(o => o != r && o._1 <= lo && hi <= o._2))) {
        fs.delete(new org.apache.hadoop.fs.Path(s"$dir/c$lo-$hi"), true)
        evictSidecarCache(dir, s"c$lo-$hi")
      }
    }
  }

  /** Resolve a window request to entry names: the last `w` folded
    * batch ids, each of which must still be live as its own sliver —
    * a batch already folded into a compacted range has lost per-batch
    * granularity, so the load refuses loudly instead of silently
    * widening the window (keep `lastBatches < compactEvery`, or
    * compact out-of-band only beyond the window). The seed entry is
    * excluded by definition: a window is "the last W batches", and
    * the seed is the un-windowed day-0 history. */
  private def windowEntriesOf(st: StatsState, w: Int, dir: String): Seq[String] = {
    require(w > 0, s"CorpusStats: lastBatches must be positive, got $w")
    val want = st.allFoldedIds.takeRight(w)
    // a too-young stream refuses rather than silently narrowing the
    // window: the caller believes data beyond w batches was excluded,
    // and a 5-batch "30-batch window" is not that
    require(want.length == w,
      s"CorpusStats: windowed load of the last $w batches, but only " +
        s"${want.length} batches are folded in $dir — the window is not " +
        s"full yet; request lastBatches <= ${want.length} or wait for " +
        "more batches.")
    val live = st.liveSlivers.toSet
    val folded = want.filterNot(live.contains)
    require(folded.isEmpty,
      s"CorpusStats: windowed load of the last $w batches needs each as " +
        s"its own live entry, but [${folded.mkString(", ")}] in $dir " +
        "were folded into compacted ranges — per-batch granularity is " +
        "gone. Keep lastBatches below the sink's compactEvery (the " +
        s"newest compactEvery−1 slivers always stay live), or stream " +
        "with compaction disabled and compact out-of-band beyond the " +
        "window.")
    want.map(b => s"b$b")
  }

  /** Mark-resolved id ledger of the archive: one row per doc id ever
    * folded, `m` = the doc's NET multiplicity — live-entry occurrences
    * minus retraction occurrences (round 15; previously "appears in
    * any x entry ⇒ 0"). Membership — what scoring, disjointness and
    * retract-coverage see — is `m > 0`. The net form matters for a doc
    * that was retracted and later RE-FOLDED (the sink's replay guard
    * refuses such batches, but a foreign writer or hand-committed
    * entry may not honor it): the any-x-entry rule would classify it
    * m = 0, so a repeat retraction would silently skip while the
    * re-folded counts remain in every df/ngram sum; net multiplicity
    * classifies it live and the repeat retraction lands. The shape
    * stays shuffle-light: ids NEVER retracted — the corpus-sized side
    * — pass through one anti-join against the takedown-sized x side
    * (broadcast under any realistic corpus/takedown ratio, no
    * aggregate); per-id counting happens only for ids ON some x entry
    * (semi-join first, then a takedown-sized groupBy). A corpus-wide
    * groupBy(id) here would instead tax EVERY future load and replay
    * guard with a corpus-sized shuffle the moment one takedown
    * exists. */
  private def resolvedIdsOf(spark: SparkSession, dir: String,
                            st: StatsState): DataFrame = {
    val pos = readStatsComp(spark, "ids",
        st.liveEntries.map(e => s"$dir/$e/ids"))
      .select(col("id"), lit(1L).as("m"))
    if (st.retractions.isEmpty) pos
    else {
      val ret = readStatsComp(spark, "ids",
          st.retractionEntries.map(e => s"$dir/$e/ids"))
        .groupBy(col("id")).agg(count(lit(1)).as("r"))
      val touched = pos.drop("m")
        .join(ret.select(col("id")), Seq("id"), "left_semi")
        .groupBy(col("id")).agg(count(lit(1)).as("p"))
        .join(ret, Seq("id"), "full_outer")
        .select(col("id"),
          (coalesce(col("p"), lit(0L)) - col("r")).as("m"))
      pos.drop("m").join(ret.select(col("id")), Seq("id"), "left_anti")
        .select(col("id"), lit(1L).as("m"))
        .unionByName(touched)
    }
  }

  /** A windowed load reads per-batch slivers only, so retraction
    * entries (which carry no batch id) cannot be windowed alongside —
    * exact as long as no retracted doc falls INSIDE the window. If one
    * does, the window would silently RE-EXPOSE counts the retraction
    * removed: refuse loudly instead. */
  private def requireWindowClearOfRetractions(spark: SparkSession,
                                              dir: String, st: StatsState,
                                              entries: Seq[String]): Unit = {
    if (st.retractions.isEmpty) return
    val win = readStatsComp(spark, "ids", entries.map(e => s"$dir/$e/ids"))
      .select(col("id"))
    val ret = readStatsComp(spark, "ids",
        st.retractionEntries.map(e => s"$dir/$e/ids"))
      .select(col("id"))
    require(win.join(ret, Seq("id")).isEmpty,
      s"CorpusStats: the requested window over $dir includes documents " +
        "that were retracted in place (x entries) — a windowed load " +
        "reads per-batch slivers only and would RE-EXPOSE their counts. " +
        "Window over unretracted history only, or fold the archive " +
        "out-of-band (compact*StatsArchive) into a fresh dir first.")
  }

  private def nextRetractionId(st: StatsState): Long =
    st.retractions.foldLeft(-1L)(math.max) + 1L

  /** Commit one retraction entry, tier-folding the x family in-loop —
    * the same bounded-entry-count discipline the positive entries get
    * from [[maybeCompactStats]], at the only clock retractions have
    * (the takedown calls themselves): once `xCompactEvery` live x
    * entries exist, THIS commit merges them with the new negated
    * partials into one entry whose `folded` sidecar lists the covered
    * x ids (additive partials sum freely; x entries carry no batch
    * ids, so no window semantics constrain the fold). Covered entries
    * stay on disk until the START of the next takedown — a reader
    * that planned against the pre-fold layout gets a full takedown
    * interval to finish, the retainCovered=1 analogue — then GC here.
    * Live x entries are therefore ≤ xCompactEvery however many
    * takedowns the archive absorbs; 0 disables (out-of-band
    * [[compactTokenStatsArchive]] still clears everything). */
  private def commitRetraction(spark: SparkSession, dir: String,
                               st: StatsState, comps: Seq[(String, Fold)],
                               neg: Seq[(String, DataFrame)],
                               xCompactEvery: Int): Unit = {
    import spark.implicits._
    require(xCompactEvery >= 0,
      s"CorpusStats: xCompactEvery must be >= 0, got $xCompactEvery")
    val (fs, _) = hfs(spark, dir)
    // deferred GC from the previous fold: covered entries have had at
    // least one full takedown interval since their covering commit
    st.xManifests.values.flatten.toSet[Long].foreach { n =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$dir/x$n"), true)
      evictSidecarCache(dir, s"x$n")
    }
    val liveX = st.liveRetractions
    val name = s"x${nextRetractionId(st)}"
    if (xCompactEvery > 0 && liveX.length >= xCompactEvery) {
      val merged = neg.map { case (c, negDf) =>
        val fold = comps.find(_._1 == c).get._2
        c -> fold(readStatsComp(spark, c, liveX.map(n => s"$dir/x$n/$c"))
          .unionByName(negDf))
      } :+ ("folded" -> liveX.toDF("id").coalesce(1))
      commitComponents(spark, dir, name, merged)
    } else commitComponents(spark, dir, name, neg)
  }

  /** Family check for the in-place retraction entry points: committing
    * a token-shaped x entry into an ngram archive (or vice versa)
    * would break every multi-path component read after it. */
  private def requireStatsFamily(spark: SparkSession, dir: String,
                                 st: StatsState, comp: String,
                                 family: String, op: String): Unit = {
    val (fs, _) = hfs(spark, dir)
    val probe = st.liveEntries.headOption.getOrElse(
      throw new IllegalArgumentException(
        s"$op: no committed entries in $dir — nothing to retract from"))
    require(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/$probe/$comp")),
      s"$op: $dir is not a $family archive (entry '$probe' has no " +
        s"'$comp' component) — use the other family's retractFrom*Archive")
  }

  // -------------------------------------------------------------------
  // Token-stats archive
  // -------------------------------------------------------------------

  /** Seed a streamed token-stats archive (entry `seed`). */
  def seedTokenStatsArchive(corpus: DataFrame, dir: String, idCol: String,
                            textCol: String): Unit = {
    purgeSidecarCache(dir)
    commitParts(buildTokenStats(corpus, idCol, textCol), dir, "seed")
  }

  /** The live archive: every live entry's partials through ONE
    * multi-path relation per component — the plan is O(1) in stream
    * age (gated executably in CorpusStatsSpec), and with in-loop
    * compaction the file count is too. `lastBatches = Some(w)` loads
    * the SLIDING WINDOW instead: only the last w batches' partials
    * (seed excluded — it is the un-windowed history), so scoring
    * against the result is scoring against recent data only — the
    * regime that expires stale crawl snapshots by simply not reading
    * them. Windowed loads need per-batch granularity: they refuse if
    * a requested batch was folded away (see the compaction contract on
    * [[maybeCompactStats]]). */
  def loadTokenStatsArchive(spark: SparkSession, dir: String,
                            lastBatches: Option[Int] = None): TokenStatsIndex = {
    val st = statsStateOf(spark, dir)
    lastBatches match {
      case Some(w) =>
        val entries = windowEntriesOf(st, w, dir)
        requireWindowClearOfRetractions(spark, dir, st, entries)
        TokenStatsIndex(
          readStatsComp(spark, "df", entries.map(e => s"$dir/$e/df"))
            .select(col("w"), col("tdf_part")),
          readStatsComp(spark, "ids", entries.map(e => s"$dir/$e/ids"))
            .select(col("id")))
      case None =>
        require(st.liveEntries.nonEmpty,
          s"CorpusStats: no committed entries in $dir — seed or stream first")
        // retraction entries join the cumulative read: their negated
        // partials cancel the retracted docs' counts in every use-time
        // sum, and membership resolves by mark (folds minus
        // retractions per id)
        TokenStatsIndex(
          readStatsComp(spark, "df",
              (st.liveEntries ++ st.retractionEntries).map(e => s"$dir/$e/df"))
            .select(col("w"), col("tdf_part")),
          resolvedIdsOf(spark, dir, st).where(col("m") > 0).select(col("id")))
    }
  }

  /** One micro-batch: sanity-probe the batch's ids (a duplicated doc
    * id would double-count partials — loud, matching the appendTo*
    * contract), enforce the replay/disjointness contract against the
    * archived id set, COMMIT the batch's partial counts as entry
    * `b<id>` (temp + rename — atomic), then auto-compact. */
  private[graft] def processTokenStatsBatch(batch: DataFrame, batchId: Long,
                                            dir: String, idCol: String,
                                            textCol: String,
                                            compactEvery: Int = 8,
                                            retainCovered: Int = 1): Unit = {
    val spark = batch.sparkSession
    val b = batch.select(col(idCol).cast("long").as(idCol), col(textCol))
      .localCheckpoint()
    if (alreadyFolded(spark, dir, batchId, b, idCol, "tokenStatsSink",
        () => resolvedIdsOf(spark, dir, statsStateOf(spark, dir)),
        () => statsStateOf(spark, dir).allFoldedIds.contains(batchId))) return
    commitParts(buildTokenStats(b, idCol, textCol), dir, s"b$batchId")
    maybeCompactStats(spark, dir, TokenComponents, compactEvery, batchId,
      retainCovered)
  }

  /** Replay guard by ID-MEMBERSHIP, not entry presence — additive
    * counts admit a simpler and STRONGER coverage test than the dedup
    * archives' name/manifest machinery: batches carry disjoint doc
    * ids, so a batch whose ids are ALL live-archived was folded
    * (wherever its entry now lives — including after a compaction
    * folded it away), one with NONE ever seen is fresh (the coverage
    * test IS the disjointness guard), and a PARTIAL overlap can only
    * mean corruption or a foreign corpus — refuse loudly. A batch
    * whose ids were all folded and some then RETRACTED in place is
    * disambiguated by the BATCH fold record: if `b<batchId>` was
    * durably folded (entry live, or its id in a compacted range's
    * manifest), this is a crash-recovery replay of that very batch —
    * skip; the fold is durable and the retraction stands. Without
    * that record, a replay (skip) and a deliberate re-ingest of
    * forgotten documents under a fresh/reset counter (fold) are
    * indistinguishable from the ids alone — refuse loudly rather
    * than guess between silent data loss and silent un-forgetting.
    * Counter resets (restart without checkpoint) that pass this test
    * (fresh docs under a used batchId) are caught at commit time by
    * the existing-entry check in [[commitComponents]]. */
  private def alreadyFolded(spark: SparkSession, dir: String, batchId: Long,
                            b: DataFrame, idCol: String, op: String,
                            resolvedIds: () => DataFrame,
                            batchIdFolded: () => Boolean): Boolean = {
    // ONE classification job per streamed batch: per-id multiplicity
    // (the null/dup sanity the sinks used to probe separately) joined
    // against the mark-resolved ledger, aggregated to five counters —
    // previously a sanity scan, a localCheckpoint, a count and a
    // join-aggregate, four sequential job walls on EVERY fold. Example
    // ids for the refusal messages are collected only on the (rare)
    // failure path.
    val counted = b.select(col(idCol).cast("long").as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("c"))
    def sanity(): Unit = {
      if (!Dedup.checkDeltaDisjoint(spark)) return
      Dedup.requireBatchIdsSane(b, idCol, op)
    }
    if (entryNamesOf(spark, dir).isEmpty) { // day-0 stream
      sanity()
      return false
    }
    val r = counted
      .join(resolvedIds(), Seq("id"), "left_outer")
      .agg(count(lit(1)).as("n"),
        coalesce(sum(when(col("id").isNull, lit(1L)).otherwise(lit(0L))),
          lit(0L)).as("bad"),
        coalesce(sum(when(col("c") > 1, lit(1L)).otherwise(lit(0L))),
          lit(0L)).as("dup"),
        coalesce(sum(when(col("m").isNotNull, lit(1L)).otherwise(lit(0L))),
          lit(0L)).as("ns"),
        coalesce(sum(when(col("m") > 0, lit(1L)).otherwise(lit(0L))), lit(0L))
          .as("nl"))
      .head()
    val (n, seen, live) = (r.getLong(0), r.getLong(3), r.getLong(4))
    if (Dedup.checkDeltaDisjoint(spark) &&
        (r.getLong(1) > 0 || r.getLong(2) > 0))
      sanity() // re-probe for the example ids; throws with the full message
    if (n == 0) return true // empty batch: nothing to fold, skip
    if (seen == 0) false
    else if (seen < n)
      throw new IllegalStateException(
        s"CorpusStats: batch $batchId overlaps the archive in $dir on " +
          s"$seen of $n ids — a partial fold can only be corruption " +
          "or a foreign corpus (batches must carry disjoint doc ids). " +
          "Refusing to double-count; restart with the original " +
          "checkpoint, or point the stream at a fresh archive.")
    else if (live == n) {
      log.warn(s"CorpusStats: batch $batchId's ids are all archived in " +
        s"$dir — skipping as a replay. If this stream restarted WITHOUT " +
        "its checkpointLocation this skip may mask a counter reset; " +
        "always restart with the original checkpoint.")
      true
    } else if (batchIdFolded()) {
      // crash between the entry commit and the checkpoint advance, with
      // a takedown of some of the batch's docs in between: Structured
      // Streaming re-delivers the same data under the same batchId, and
      // the fold record proves the commit is durable — skipping is the
      // only answer that neither double-counts nor un-forgets, and it
      // keeps the stream from wedging on a refusal whose suggested
      // remedy (restart with the checkpoint) is what just happened
      log.warn(s"CorpusStats: batch $batchId was durably folded in $dir " +
        s"and ${n - live} of its $n docs were later RETRACTED in place — " +
        "skipping as a crash-recovery replay (the fold is durable; the " +
        "retraction stands).")
      true
    } else
      throw new IllegalStateException(
        s"CorpusStats: batch $batchId's ids are archived in $dir but " +
          s"${n - live} of $n were RETRACTED in place, and no fold of " +
          s"batch $batchId is on record — this can only be a re-ingest " +
          "of forgotten documents under a fresh or reset batch counter. " +
          "Give re-ingested docs fresh ids, or fold the archive " +
          "out-of-band into a fresh dir first. Refusing to guess " +
          "between silent data loss and silent un-forgetting.")
  }

  /** Streaming sink: maintain the token-stats archive from a document
    * stream — [[tokenFrequencyMetricsAgainst]] over
    * [[loadTokenStatsArchive]] then scores any frame against the
    * cumulative corpus (or, with `lastBatches`, the recent window)
    * without re-reading its text. `compactEvery` bounds live entry and
    * file counts exactly as on the dedup archive sinks (≤ 0 disables);
    * `retainCovered` sizes the deferred-GC window for slow concurrent
    * readers. */
  def tokenStatsSink(docs: DataFrame, dir: String, idCol: String,
                     textCol: String,
                     checkpoint: Option[String] = None,
                     compactEvery: Int = 8,
                     retainCovered: Int = 1): org.apache.spark.sql.streaming.StreamingQuery = {
    requireSaneCompactEvery(compactEvery)
    if (checkpoint.isEmpty)
      log.warn("CorpusStats.tokenStatsSink started WITHOUT a " +
        "checkpointLocation: on restart Structured Streaming resets " +
        "batchId to 0, which this archive will detect and REFUSE (loud " +
        "failure instead of silently replacing a batch's counts) — pass " +
        "checkpoint = Some(dir) for restartable streams.")
    val w = docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processTokenStatsBatch(batch, batchId, dir, idCol, textCol,
          compactEvery, retainCovered)
      }
    checkpoint.foreach(c => w.option("checkpointLocation", c))
    w.start()
  }

  /** Retract documents from a streamed token-stats archive IN PLACE —
    * the stats twin of [[graft.streaming.ArchiveDedup.forgetDocs]]
    * (takedown / crawl-snapshot expiry without stopping the stream),
    * with the text-needed contract stats entries impose: the archive
    * holds aggregated counts, not per-document rows, so subtracting a
    * document needs its TEXT replayed exactly as folded (the same
    * replay contract as [[retractFromTokenStats]]). Commits a
    * retraction entry `x<n>` — the batch's partials NEGATED plus the
    * retracted ids — via the same temp+rename discipline as every
    * other entry: readers flip atomically, every use-time sum cancels
    * the retracted counts bit-for-bit (+x then −x), membership
    * resolves by mark, and the replay guard refuses the retracted ids
    * loudly ever after. Un-archived (or already-retracted) ids refuse
    * via [[Dedup.requireRetractCovered]]. The x family tier-folds
    * IN-LOOP at the takedown call sites (`xCompactEvery`, see
    * [[commitRetraction]]) so live x entries stay bounded however many
    * takedowns the archive absorbs; an out-of-band
    * [[compactTokenStatsArchive]] fold still materializes the
    * cancellation and clears them entirely. Windowed loads refuse
    * windows containing retracted docs (see the window contract). One
    * maintainer per archive directory — ENFORCED (round 14) by
    * [[graft.streaming.MaintenanceLease]]: every out-of-band
    * maintenance operation holds the dir's lease, so a second
    * concurrent maintainer refuses loudly instead of interleaving. */
  def retractFromTokenStatsArchive(spark: SparkSession, dir: String,
                                   docs: DataFrame, idCol: String,
                                   textCol: String,
                                   xCompactEvery: Int = 8): Unit =
    // the lease makes "one maintainer per archive directory" mechanical:
    // a second concurrent takedown/compactor refuses with this holder's
    // identity instead of basing its rewrite on a stale state read
    graft.streaming.MaintenanceLease.withLease(spark, dir,
        "retractFromTokenStatsArchive") {
    val b = docs.select(col(idCol).cast("long").as(idCol), col(textCol))
      .localCheckpoint()
    val st = statsStateOf(spark, dir)
    requireStatsFamily(spark, dir, st, "df", "token-stats",
      "retractFromTokenStatsArchive")
    // coverage is guaranteed by construction: splitRetryVictims refused
    // never-folded ids and kept only m>0 members, and its collected
    // classification also carries the null/dup sanity checks (the
    // separate requireBatchIdsSane scan is subsumed) — a second
    // requireRetractCovered pass would re-scan the archive for nothing
    val bLive = splitRetryVictims(spark, dir, st, b, idCol,
      "retractFromTokenStatsArchive").getOrElse(return)
    val neg = buildTokenStats(bLive, idCol, textCol)
    commitRetraction(spark, dir, st, TokenComponents, Seq(
      "df" -> neg.parts.select(col("w"),
        (col("tdf_part") * lit(-1L)).as("tdf_part")),
      "ids" -> neg.ids), xCompactEvery)
    }

  /** Idempotent-retry split for the in-place stats takedowns — the
    * stats twin of the dedup archives' takedown ledger (the x entries'
    * id records ARE the ledger here): victims already marked retracted
    * drop out, so an at-least-once compliance retry of a takedown
    * whose x-entry commit was durable skips (None, with a warning)
    * instead of refusing as uncovered; a MIXED batch retracts only its
    * still-live part; ids the archive has NEVER folded refuse loudly
    * (wrong archive — a takedown that silently removes nothing must
    * not look honored). "Live" is NET multiplicity (round 15, see
    * [[resolvedIdsOf]]): a doc retracted once but folded AGAIN later
    * counts live, so a repeat retraction retracts the re-folded copy
    * instead of misreading it as a crash-retry and skipping. */
  private def splitRetryVictims(spark: SparkSession, dir: String,
                                st: StatsState, b: DataFrame, idCol: String,
                                op: String): Option[DataFrame] = {
    import spark.implicits._
    // ONE classification job, collected takedown-sized (the house
    // takedown-path contract): per-id batch multiplicity + net archive
    // mark in a single probe — subsumes the requireBatchIdsSane scan
    // the retraction entry points used to run separately, the
    // checkpointed mark join, the unknown limit-collect and the
    // isEmpty probe. Refusals are driver-side over the collected rows.
    // the limit bounds the collect at cap+1 rows — the cap is a ceiling
    // on what the driver MAY hold, not a promise that a refusal costs
    // nothing (a takedown at the cap pays the same heap on success);
    // one job, no separate pre-count round-trip
    val cap = Dedup.takedownCollectCap(spark)
    val marked = b.select(col(idCol).cast("long").as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("c"))
      .join(resolvedIdsOf(spark, dir, st), Seq("id"), "left_outer")
      .limit(cap + 1)
      .collect()
    require(marked.length <= cap,
      s"$op: the takedown batch exceeds spark.graft.maxTakedownCollect " +
        s"($cap ids) — the classification collects one driver-side row " +
        "per victim (bounded at the cap); split the takedown into " +
        "smaller batches (or raise the cap)")
    if (Dedup.checkDeltaDisjoint(spark)) {
      require(!marked.exists(_.isNullAt(0)),
        s"$op: batch ids must be non-null and castable to long (column " +
          s"'$idCol' has null/uncastable values) — filter or repair them " +
          "before the batch commits")
      val dup = marked.filter(_.getLong(1) > 1).take(4).map(_.getLong(0))
      require(dup.isEmpty,
        s"$op: batch ids must be unique within the batch, but e.g. " +
          s"[${dup.mkString(", ")}] appear more than once — duplicated " +
          "rows would double-count the batch's partial counts. " +
          "Pre-compact the batch (latest wins), or disable the check " +
          "with spark.graft.checkDeltaDisjoint=false")
    }
    val unknown = marked.filter(r => !r.isNullAt(0) && r.isNullAt(2))
      .take(3).map(_.getLong(0))
    require(unknown.isEmpty,
      s"$op: ids [${unknown.mkString(", ")}] were never folded in $dir — " +
        "retraction must replay docs the archive holds (or once held); " +
        "is this the wrong archive?")
    val liveIds = marked
      .filter(r => !r.isNullAt(0) && !r.isNullAt(2) && r.getLong(2) > 0)
      .map(_.getLong(0))
    if (liveIds.isEmpty) {
      log.warn(s"$op($dir): every requested id is already retracted " +
        "(x-entry records) — skipping as a crash-retry replay of a " +
        "committed takedown.")
      None
    } else {
      // a LOCAL relation: the replay-text semi-join broadcasts it
      val lv = liveIds.toSeq.sorted.toDF("live_id")
      Some(b.join(lv, b(idCol) === col("live_id"), "left_semi"))
    }
  }

  /** Out-of-band full fold into a fresh directory (every live entry's
    * partials into one `seed`) — for readers that pin a snapshot
    * longer than `retainCovered` tolerates; the in-band path is the
    * automatic tiered compaction on the sinks. Reads are equivalent
    * before and after, and REPLAYS stay safe across it: the guard
    * tests id-membership, not entry presence, so a batch whose entry
    * was folded away still skips. Retraction entries fold in too —
    * the cancellation materializes and the retracted ids leave the
    * fresh seed's membership entirely (which also ends their replay
    * protection: a checkpoint-less replay of a long-retracted batch
    * against the COMPACTED dir looks fresh — the same
    * compaction-vs-replay caveat the dedup archives document). */
  def compactTokenStatsArchive(spark: SparkSession, dir: String,
                               dstDir: String): Unit =
    graft.streaming.MaintenanceLease.withLease(spark, dir,
        "compactTokenStatsArchive") {
    val ix = loadTokenStatsArchive(spark, dir)
    purgeSidecarCache(dstDir)
    commitParts(TokenStatsIndex(
      // drop fully-retracted tokens (summed partials that cancelled to
      // exactly zero): scorers already filter > 0, but without this the
      // dead rows would persist in every future compaction forever
      ix.parts.groupBy(col("w")).agg(sum(col("tdf_part")).as("tdf_part"))
        .where(col("tdf_part") =!= 0),
      ix.ids.select(col("id")).distinct()), dstDir, "seed")
    }

  // -------------------------------------------------------------------
  // Ngram-stats archive: identical machinery, four components
  // -------------------------------------------------------------------

  /** Seed a streamed bigram-stats archive (entry `seed`). */
  def seedNgramStatsArchive(corpus: DataFrame, dir: String, idCol: String,
                            textCol: String): Unit = {
    purgeSidecarCache(dir)
    commitNgram(buildNgramStats(corpus, idCol, textCol), dir, "seed")
  }

  /** Ngram twin of [[loadTokenStatsArchive]] — cumulative by default
    * (retraction entries' negated partials included, membership
    * mark-resolved), last-`lastBatches`-window on request (same
    * granularity and retraction-overlap contracts). */
  def loadNgramStatsArchive(spark: SparkSession, dir: String,
                            lastBatches: Option[Int] = None): NgramStatsIndex = {
    val st = statsStateOf(spark, dir)
    val (entries, ids) = lastBatches match {
      case Some(w) =>
        val es = windowEntriesOf(st, w, dir)
        requireWindowClearOfRetractions(spark, dir, st, es)
        (es, readStatsComp(spark, "ids", es.map(e => s"$dir/$e/ids"))
          .select(col("id")))
      case None =>
        require(st.liveEntries.nonEmpty,
          s"CorpusStats: no committed entries in $dir — seed or stream first")
        (st.liveEntries ++ st.retractionEntries,
          resolvedIdsOf(spark, dir, st).where(col("m") > 0).select(col("id")))
    }
    def comp(c: String, cols: Seq[String]) =
      readStatsComp(spark, c, entries.map(e => s"$dir/$e/$c"))
        .select(cols.map(col): _*)
    NgramStatsIndex(
      comp("pairs", Seq("__h1", "__h2", "pc_part")),
      comp("contexts", Seq("__h1", "cc_part")),
      // a pre-r13 seed ships bare-`h` unigrams next to new (h, u_part)
      // slivers — withUnigramMarks fills the exact historical mark of 1
      withUnigramMarks(comp("unigrams", Seq("h", "u_part"))),
      ids,
      ucounts = entries.forall(e => hasCountMarker(spark, s"$dir/$e")))
  }

  private[graft] def processNgramStatsBatch(batch: DataFrame, batchId: Long,
                                            dir: String, idCol: String,
                                            textCol: String,
                                            compactEvery: Int = 8,
                                            retainCovered: Int = 1): Unit = {
    val spark = batch.sparkSession
    val b = batch.select(col(idCol).cast("long").as(idCol), col(textCol))
      .localCheckpoint()
    if (alreadyFolded(spark, dir, batchId, b, idCol, "ngramStatsSink",
        () => resolvedIdsOf(spark, dir, statsStateOf(spark, dir)),
        () => statsStateOf(spark, dir).allFoldedIds.contains(batchId))) return
    commitNgram(buildNgramStats(b, idCol, textCol), dir, s"b$batchId")
    maybeCompactStats(spark, dir, NgramComponents, compactEvery, batchId,
      retainCovered)
  }

  /** Streaming sink for the bigram-LM statistics —
    * [[bigramCountsAgainst]] over [[loadNgramStatsArchive]] then scores
    * any covered frame against the cumulative (or windowed) model.
    * `compactEvery`/`retainCovered` as on [[tokenStatsSink]]. */
  def ngramStatsSink(docs: DataFrame, dir: String, idCol: String,
                     textCol: String,
                     checkpoint: Option[String] = None,
                     compactEvery: Int = 8,
                     retainCovered: Int = 1): org.apache.spark.sql.streaming.StreamingQuery = {
    requireSaneCompactEvery(compactEvery)
    if (checkpoint.isEmpty)
      log.warn("CorpusStats.ngramStatsSink started WITHOUT a " +
        "checkpointLocation: on restart Structured Streaming resets " +
        "batchId to 0, which this archive will detect and REFUSE — pass " +
        "checkpoint = Some(dir) for restartable streams.")
    val w = docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processNgramStatsBatch(batch, batchId, dir, idCol, textCol,
          compactEvery, retainCovered)
      }
    checkpoint.foreach(c => w.option("checkpointLocation", c))
    w.start()
  }

  /** In-place retraction for the ngram archive — see
    * [[retractFromTokenStatsArchive]] for the full contract; all four
    * components negate (occurrence-count unigram partials subtract
    * per-document, so the vocabulary shrinks exactly — including when
    * the victims are a SUBSET of an entry's docs). Refuses archives
    * holding pre-r13 bare-`h` unigram entries: those record presence
    * marks, and subtracting occurrence counts against marks could
    * drive a still-carried word's sum negative and silently shrink
    * the vocabulary — rebuild such an archive out-of-band
    * ([[compactNgramStatsArchive]] re-aggregates, but from the same
    * marks; re-seed from the corpus) before taking down documents. */
  def retractFromNgramStatsArchive(spark: SparkSession, dir: String,
                                   docs: DataFrame, idCol: String,
                                   textCol: String,
                                   xCompactEvery: Int = 8): Unit =
    graft.streaming.MaintenanceLease.withLease(spark, dir,
        "retractFromNgramStatsArchive") {
    val b = docs.select(col(idCol).cast("long").as(idCol), col(textCol))
      .localCheckpoint()
    val st = statsStateOf(spark, dir)
    requireStatsFamily(spark, dir, st, "pairs", "ngram-stats",
      "retractFromNgramStatsArchive")
    val unmarked = (st.liveEntries ++ st.retractionEntries)
      .filterNot(e => hasCountMarker(spark, s"$dir/$e"))
    require(unmarked.isEmpty,
      s"retractFromNgramStatsArchive: entries [${unmarked.mkString(", ")}] " +
        s"in $dir predate the occurrence-count unigram format (no " +
        "_ucounts sentinel): they store presence-mark-era values — bare " +
        "h, or marks under a u_part column — and subtracting the victims' " +
        "occurrence counts against marks could silently shrink the " +
        "vocabulary below the surviving corpus. Re-seed the archive from " +
        "the corpus (current format) before retracting in place.")
    // coverage by construction — see retractFromTokenStatsArchive
    val bLive = splitRetryVictims(spark, dir, st, b, idCol,
      "retractFromNgramStatsArchive").getOrElse(return)
    val neg = buildNgramStats(bLive, idCol, textCol)
    commitRetraction(spark, dir, st, NgramComponents, Seq(
      "pairs" -> neg.pairParts.select(col("__h1"), col("__h2"),
        (col("pc_part") * lit(-1L)).as("pc_part")),
      "contexts" -> neg.contextParts.select(col("__h1"),
        (col("cc_part") * lit(-1L)).as("cc_part")),
      "unigrams" -> neg.unigrams.select(col("h"),
        (col("u_part") * lit(-1L)).as("u_part")),
      "ids" -> neg.ids), xCompactEvery)
    }

  /** Out-of-band full fold for the ngram archive — see
    * [[compactTokenStatsArchive]] (retraction entries fold in and
    * clear here too). */
  def compactNgramStatsArchive(spark: SparkSession, dir: String,
                               dstDir: String): Unit =
    graft.streaming.MaintenanceLease.withLease(spark, dir,
        "compactNgramStatsArchive") {
    val ix = loadNgramStatsArchive(spark, dir)
    purgeSidecarCache(dstDir)
    commitNgram(NgramStatsIndex(
      // =!= 0 filters: fully-retracted bigrams/contexts/vocab hashes
      // cancelled to zero — dead rows the fresh seed need not carry
      ix.pairParts.groupBy(col("__h1"), col("__h2"))
        .agg(sum(col("pc_part")).as("pc_part"))
        .where(col("pc_part") =!= 0),
      ix.contextParts.groupBy(col("__h1"))
        .agg(sum(col("cc_part")).as("cc_part"))
        .where(col("cc_part") =!= 0),
      ix.unigrams.groupBy(col("h")).agg(sum(col("u_part")).as("u_part"))
        .where(col("u_part") =!= 0),
      ix.ids.select(col("id")).distinct(),
      // mark sums are loading-safe but must not launder into
      // retraction authorization (conjunctive sentinel propagation)
      ucounts = ix.ucounts), dstDir, "seed")
    }
}
