package graft.operators

import graft.Par
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * The composed training-data curation DAG — the reason the individual
 * operators exist, wired in the order a production pipeline runs them:
 *
 *   quality filters → exact dedup → benchmark decontamination →
 *   dataset mixing → sequence packing
 *
 * (Quality first: it is the cheapest per-row test and shrinks every
 * later stage. Dedup before decontamination so duplicate documents
 * don't multiply the gram join. Mixing after decontamination so
 * sampling weights apply to the CLEAN pool. Packing last — it consumes
 * the final membership.)
 *
 * Every stage is deterministic, so the whole DAG is reproducible and
 * oracle-checkable end to end (q64). Each stage keeps the input's full
 * row (semi/anti joins on the id), so downstream stages can use any
 * column — mixing reads the source column that survived four stages.
 */
object CurationPipeline {

  /** The staged DataFrames, built ONCE so [[report]] always audits the
    * exact pipeline [[curate]] emits — the two can never diverge. */
  private final case class Stages(quality: DataFrame, deduped: DataFrame,
                                  decontaminated: DataFrame, mixed: DataFrame)

  private def stages(train: DataFrame, benchmark: DataFrame,
                     idCol: String, textCol: String, mixWeight: Column,
                     decontamN: Int): Stages = {
    val q = QualityFilters.keepDocuments(train, idCol, textCol)
    val d = Dedup.dropExactDuplicates(q, idCol, textCol)
    val dec = Decontaminate.decontaminate(d, benchmark, idCol, textCol, decontamN)
    Stages(q, d, dec, Mixing.weightedSample(dec, idCol, mixWeight))
  }

  /** Per-stage attrition report: `(stage_index, stage, n)` — document
    * counts after each stage, then the packed-sequence count.
    *
    * Counting strategy (this is a REPORT — it needs stage cardinalities,
    * not stage frames, so it never caches a corpus-sized intermediate):
    *
    *  - Stages 0–2 are ONE aggregate over the raw corpus. The quality
    *    battery is a pure per-row predicate, and the dedup survivor
    *    count equals the number of distinct fingerprints among quality
    *    rows ([[Dedup.dropExactDuplicates]] keeps exactly one row per
    *    fingerprint) — so input/quality/dedup counts cost one streaming
    *    pass plus the same fingerprint shuffle dedup itself pays,
    *    instead of three actions over two cached stage frames. (Stage
    *    semantics are id-membership, so ids are assumed unique — the
    *    same assumption every semi/anti-join stage already makes.)
    *  - Stages 3–4 are one aggregate over the decontaminated frame:
    *    mixing is a deterministic per-row hash predicate, so its count
    *    rides the same job.
    *
    * Six stage counts, ONE job (r20, guide §2.4): the three 1-row
    * aggregates crossJoin into a single action, so AQE's stage cache
    * shares the quality battery's corpus exchange between the head
    * aggregate and the pipeline subtree, and the decontamination gram
    * join's exchanges between the stage-3/4 aggregate and the packing
    * branch — the r18 cache of the decontaminated frame (plus its
    * materialization job and unpersist) is obsolete: stage reuse
    * dedups the shared subtrees within the one job. At corpus scale
    * the dominant cost is still the gram join, paid once, exactly as
    * [[curate]] pays it. `decontamN` defaults to [[Decontaminate]]'s
    * production 8 — q64 passes 3 explicitly for the synthetic corpus. */
  def report(train: DataFrame, benchmark: DataFrame,
             idCol: String, textCol: String, mixWeight: Column,
             decontamN: Int = 8, budgetWords: Int = 120,
             bucketSize: Int = 16): DataFrame = {
    val spark = train.sparkSession
    import spark.implicits._
    // count(when(p, 1)) not sum(when(p, 1L)): count is never NULL on an
    // empty corpus, so the Row getters below are total
    // keep via the typed one-pass battery (a JVM udf): the Column form's
    // higher-order lambdas are CodegenFallback and re-split per metric —
    // the typed twin is parity-spec'd and q59-oracle-gated
    val keepU = udf(QualityFilters.gopherKeepOf _)
    val headAgg = Par.widen(train)
      .select(keepU(col(textCol)).as("keep"),
        graft.functions.TextFunctions.fingerprint(col(textCol)).as("fp"))
      .agg(count(lit(1)).as("n_input"),
        count(when(col("keep"), lit(1))).as("n_quality"),
        countDistinct(when(col("keep"), col("fp"))).as("n_dedup"))
    val s = stages(train, benchmark, idCol, textCol, mixWeight, decontamN)
    val decAgg = s.decontaminated
      .agg(count(lit(1)).as("n_dec"),
        count(when(Mixing.hashUniform(col(idCol)) < mixWeight, lit(1)))
          .as("n_mixed"))
    val packedAgg = Packing.packGreedy(s.mixed, idCol, textCol,
        budgetWords, bucketSize)
      .toDF().select(col("bucket"), col("seq_index")).distinct()
      .agg(count(lit(1)).as("n_packed"))
    val r = headAgg.crossJoin(decAgg).crossJoin(packedAgg).head()
    Seq(
      (0, "input", r.getLong(0)), (1, "quality", r.getLong(1)),
      (2, "exact_dedup", r.getLong(2)),
      (3, "decontaminated", r.getLong(3)),
      (4, "mixed", r.getLong(4)), (5, "packed_sequences", r.getLong(5)))
      .toDF("stage_index", "stage", "n")
  }

  /** The curated corpus itself (everything the report counts at stage 4,
    * with its packed sequence assignment attached). */
  def curate(train: DataFrame, benchmark: DataFrame,
             idCol: String, textCol: String, mixWeight: Column,
             decontamN: Int = 8, budgetWords: Int = 120,
             bucketSize: Int = 16): DataFrame = {
    val s = stages(train, benchmark, idCol, textCol, mixWeight, decontamN)
    // the mixed frame feeds BOTH join sides below; a lazy localCheckpoint
    // materializes the four-stage prefix once at first use and truncates
    // the lineage, instead of re-running the quality battery, the dedup
    // window, and the gram join per branch (blocks are released by the
    // ContextCleaner when the result frame is no longer referenced)
    val mixed = s.mixed.localCheckpoint(false)
    val packed = Packing.packGreedy(mixed, idCol, textCol, budgetWords, bucketSize)
      .toDF().withColumnRenamed("doc_id", "__pid")
    mixed.join(packed, col(idCol) === col("__pid")).drop("__pid")
  }

  /**
   * Optional scrub preamble (the round-7 stages) a pipeline applies
   * BEFORE [[curate]]/[[report]]: phrase blocklist → PII redaction →
   * boilerplate-line strip. Kept OUT of the gated DAG so q64's audit
   * surface stays stable; the output feeds curate unchanged (same id,
   * same columns, scrubbed text, line-stripped-empty docs dropped).
   *
   * Order rationale: blocklist is the cheapest whole-doc drop (one
   * regex) and shrinks both later stages; redaction before line-strip
   * so a line differing only in its PII spelling dedups as the
   * boilerplate it is ("contact <EMAIL> for help" recurs even when
   * every site has a different address).
   */
  /** Note: the id comes back as BIGINT under its own name (the
    * line-strip casts it — no rename step, so a carry column that
    * happens to be named `doc_id` can never collide); every other
    * column rides the reassembly aggregate, so the whole scrub is ONE
    * pass over the corpus — no join back against the redacted frame
    * (which would shuffle the full text a second time and re-evaluate
    * the redaction regexes). */
  def scrub(train: DataFrame, idCol: String, textCol: String,
            blockPhrases: Seq[String], lineMinDocs: Int = 2,
            runStripN: Int = 0, runStripMinDocs: Int = 2): DataFrame = {
    val blocked = QualityFilters.keepBlocklist(train, textCol, blockPhrases)
      .withColumn(textCol, QualityFilters.redactPii(col(textCol)))
    val carry = blocked.columns.filterNot(c => c == idCol || c == textCol).toSeq
    val lined = Dedup.stripDuplicatedLines(blocked, idCol, textCol, lineMinDocs, carry)
      .where(col("n_kept") > 0)
      .withColumn(textCol, col("kept_text"))
      .select(col(idCol) +: carry.map(col) :+ col(textCol): _*)
    // opt-in sub-line pass (runStripN > 0): duplicated RUNS that cross
    // line boundaries survive the line strip — catch them at n-token
    // granularity AFTER it (lines are the cheaper, exact-reassembly
    // stage; the run strip token-normalizes whatever it touches).
    // Docs emptied by the strip drop, mirroring the n_kept gate above.
    if (runStripN <= 0) lined
    else Dedup.stripDuplicatedRuns(lined, idCol, textCol, runStripN, runStripMinDocs)
      .where(col("n_removed") < col("n_tokens"))
      .select(col(idCol) +: carry.map(col) :+ col(textCol): _*)
  }
}
