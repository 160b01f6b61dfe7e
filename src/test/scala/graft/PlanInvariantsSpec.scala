package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Plan-regression gate: the PLANS.md audit as executable assertions.
 *
 * PLANS.md snapshots are hand-made evidence; this spec pins the
 * load-bearing *invariants* of those audits — the properties whose
 * silent loss would reintroduce a scale-killer — via string matching on
 * `queryExecution.executedPlan`, so a refactor that re-plans a gated
 * query as (say) a CartesianProduct fails CI instead of shipping.
 *
 * Only invariants, never full shapes: exchange counts, operator order
 * and AQE details may legitimately change; a cartesian pair space, a
 * corpus-sized sort-merge on a hydrate join, or a full sort under a
 * top-k cannot.
 */
class PlanInvariantsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = TestSpark.sfDir

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def q(name: String): String =
    planOf(SparkEntry.queries(name)(spark, dir))

  /** The never-anywhere list: a pair space materialized as a cartesian
    * or a nested-loop inner join is the canonical 100×-killer. */
  private def assertNoCartesian(name: String, plan: String): Unit = {
    assert(!plan.contains("CartesianProduct"),
      s"$name plans a CartesianProduct:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin BuildRight, Inner") &&
           !plan.contains("BroadcastNestedLoopJoin BuildLeft, Inner"),
      s"$name plans an inner nested-loop join:\n$plan")
  }

  test("q10 single-query knn: pruned pushed scan feeding TakeOrdered, no shuffle sort") {
    val plan = q("q10_knn_cosine")
    assertNoCartesian("q10", plan)
    // top-k without a full sort (SURVEY §2.6)
    assert(plan.contains("TakeOrderedAndProject"),
      s"q10 lost its TakeOrderedAndProject top-k:\n$plan")
    // the id predicate reaches the parquet scan...
    assert(plan.contains("PushedFilters: [IsNotNull(vec_id)"),
      s"q10 scan lost its pushed vec_id filter:\n$plan")
    // ...and the scan reads exactly the two columns the query needs
    assert(plan.contains("ReadSchema: struct<vec_id:bigint,embedding:array<float>>"),
      s"q10 scan reads more than (vec_id, embedding):\n$plan")
    // single-query scoring is one codegen pass — no exchange at all
    assert(!plan.contains("Exchange hashpartitioning"),
      s"q10 acquired a hash exchange:\n$plan")
  }

  test("q14 global top pairs: blocked bounded-heap stages, pair space never a Catalyst join") {
    val plan = q("q14_top_pairs")
    assertNoCartesian("q14", plan)
    // the round-7 reshape: pairs come from the RDD block-grid stages, so
    // the Catalyst side sees finished rows — any join node here means the
    // O(n²) theta-join shape crept back
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"),
      s"q14 re-grew a Catalyst join over the pair space:\n$plan")
    // the typed-RDD source prints as ExternalRDDScan ("Scan[obj#…]") or
    // "Scan ExistingRDD" depending on the conversion path — either means
    // the rows come pre-reduced from the blocked stage
    assert(plan.contains("Scan[obj") || plan.contains("ExistingRDD"),
      s"q14 no longer feeds from the blocked RDD stage:\n$plan")
  }

  test("q50 rag context: hydrate join broadcasts the k-hit side") {
    val plan = q("q50_rag_context")
    assertNoCartesian("q50", plan)
    // Rag.hydrate joins |Q|×k hit rows against the corpus — the hit side
    // must broadcast; a sort-merge here shuffles the whole documents table
    assert(plan.contains("BroadcastHashJoin"),
      s"q50 hydrate join is not a broadcast join:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"q50 plans a sort-merge join (corpus-sized shuffle on hydrate):\n$plan")
  }

  test("q53 hybrid rrf: fusion joins broadcast, top-k without full sort") {
    val plan = q("q53_hybrid_rrf")
    assertNoCartesian("q53", plan)
    assert(!plan.contains("SortMergeJoin"),
      s"q53 plans a sort-merge join over rank lists:\n$plan")
    // the BM25 side legitimately crosses against ONE corpus-stats row;
    // any other nested-loop form is a regression
    val bnlj = "BroadcastNestedLoopJoin BuildRight, Cross"
    val stray = plan.linesIterator
      .filter(_.contains("BroadcastNestedLoopJoin"))
      .filterNot(_.contains(bnlj))
    assert(stray.isEmpty,
      s"q53 plans a non-stats nested-loop join:\n${stray.mkString("\n")}")
    assert(plan.contains("TakeOrderedAndProject"),
      s"q53 lost its TakeOrderedAndProject top-k:\n$plan")
  }

  test("q64 components: decontamination gram join broadcasts; report frame is driver-local") {
    // the report's dominant cost is the decontamination gram join — its
    // benchmark side must broadcast (or, past the size cap, shuffle on
    // the gram key; at spec scale the broadcast route must win)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val bench = docs.where(pmod(col("doc_id"), lit(97)) === 0)
    val train = docs.where(pmod(col("doc_id"), lit(97)) =!= 0)
    val dec = graft.operators.Decontaminate.decontaminate(
      train, bench, "doc_id", "text", n = 3)
    val plan = planOf(dec)
    assertNoCartesian("q64/decontaminate", plan)
    assert(plan.contains("BroadcastHashJoin"),
      s"decontaminate gram join is not a broadcast join:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"decontaminate shuffles the training corpus for the gram join:\n$plan")

    // the report itself must stay a 6-row local relation — a corpus-sized
    // plan here would mean the counts stopped riding the aggregates
    val rep = SparkEntry.queries("q64_curation_report")(spark, dir)
    val repPlan = planOf(rep)
    assert(repPlan.contains("LocalTableScan") || repPlan.contains("LocalRelation"),
      s"q64 report frame is no longer a driver-local relation:\n$repPlan")
  }

  test("q44 dedup keep: per-group winner pruned map-side (WindowGroupLimit)") {
    val plan = q("q44_dedup_keep")
    assertNoCartesian("q44", plan)
    // Spark 4 plans keep-one-per-group as Partial→Final WindowGroupLimit:
    // the shuffle carries ≈|groups| rows, not |input| — the dedup plan
    // that survives 100×
    assert(plan.contains("WindowGroupLimit"),
      s"q44 lost its WindowGroupLimit pre-shuffle prune:\n$plan")
  }

  test("q52 bm25: nothing corpus-sized on a broadcast build side, top-k without full sort") {
    val plan = q("q52_bm25")
    assertNoCartesian("q52", plan)
    assert(plan.contains("TakeOrderedAndProject"),
      s"q52 lost its TakeOrderedAndProject top-k:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"q52 plans a corpus-sized sort-merge join:\n$plan")
  }

  test("q77 fuzzy-dedup transform: loser side anti-joins, pair space never cartesian") {
    val plan = q("q77_near_dup_keep")
    assertNoCartesian("q77", plan)
    // the keep-one must be an anti-join of the (component-sized) loser
    // frame against the corpus — a semi/inner join the other way or a
    // corpus-side shuffle would invert the size asymmetry
    assert(plan.contains("LeftAnti"),
      s"q77 lost its LEFT ANTI keep-one join:\n$plan")
  }

  test("q78 run strip: hot-gram join on the pre-aggregated side, no corpus broadcast") {
    val plan = q("q78_dup_run_strip")
    assertNoCartesian("q78", plan)
    // postings join the FILTERED hot-gram aggregate — the hot side must
    // be the build/broadcast side (it is df≥minDocs-sized); if the plan
    // ever broadcasts the postings themselves, the corpus is on the
    // wrong side of the asymmetry
    val broadcasts = plan.linesIterator.filter(_.contains("BroadcastExchange")).toList
    assert(broadcasts.nonEmpty, s"q78 lost its broadcast hot-gram join:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"q78 cartesian:\n$plan")
  }

  test("q83 keepFarthest: representative window partitions by component, no cartesian") {
    val plan = q("q83_semantic_keep_farthest")
    assertNoCartesian("q83", plan)
    // the paper's farthest-member rule is one window over the COMPONENT
    // key (rows per partition bounded by component size) — the window
    // must hash-partition on the group column, never collapse to a
    // single/global partition (an empty partitionBy at 100× funnels the
    // corpus through one task)
    assert(plan.contains("Window"),
      s"q83 lost its representative window:\n$plan")
    assert(plan.linesIterator.exists(l =>
        l.contains("Window") && l.contains("windowspecdefinition(group")),
      s"q83's window no longer partitions by the component key:\n$plan")
    assert(!plan.contains("windowspecdefinition()") &&
           !plan.linesIterator.exists(l => l.contains("Exchange SinglePartition") && l.contains("Window")),
      s"q83's window collapsed to a global partition:\n$plan")
  }

  /** Every corpus FileScan in `plan` (identified by carrying `idAttr`
    * in its output) must carry `deltaFilter` among its pushed filters —
    * the delta paths' cost contract is that the CORPUS is never
    * re-scanned un-filtered; index data enters only through the index
    * frames (whose scans don't carry the corpus id attribute). */
  private def assertDeltaSidedScans(name: String, plan: String,
                                    idAttr: String, deltaFilter: String): Unit = {
    val corpusScans = plan.linesIterator
      .filter(l => l.contains("FileScan") && l.contains(idAttr)).toSeq
    assert(corpusScans.nonEmpty,
      s"$name: expected at least one corpus FileScan carrying $idAttr:\n$plan")
    corpusScans.foreach { l =>
      assert(l.contains(deltaFilter),
        s"$name: corpus scan without the delta predicate ($deltaFilter):\n$l\n\nfull plan:\n$plan")
    }
  }

  test("q84 delta scan input: banding is delta-sided, pair space never cartesian") {
    import graft.operators.Dedup
    val docs = Tables(spark, dir, "documents")
    val tmp = TestSpark.tempDir("graft-plan-mix").toString
    Dedup.save(Dedup.buildMinhashIndex(
      docs.where(col("doc_id") < 400), "doc_id", "text",
      numHashes = 16, bands = 4, shingleLen = 3), tmp)
    val ix = Dedup.load(spark, tmp, Dedup.MinhashIndex)
    val plan = planOf(Dedup.minhashDeltaScanInput(ix,
      docs.where(col("doc_id") >= 400), "doc_id", "text"))
    assertNoCartesian("q84-scan", plan)
    // the md5 banding + shingle-set stages read the DELTA only: every
    // documents scan (doc_id-bearing) is pushed-filtered to >= 400; the
    // index's banded keys and set payloads come from the index parquet
    assertDeltaSidedScans("q84-scan", plan, "doc_id#", "GreaterThanOrEqual(doc_id,400)")
  }

  test("q88/q89 semantic delta scan input: pinned-centroid argmin is delta-sided, no cartesian") {
    import graft.operators.Dedup
    val e = Tables(spark, dir, "embeddings")
    val cents = e.orderBy(col("vec_id")).limit(4)
      .select(col("embedding").cast("array<float>"))
      .collect().map(_.getSeq[Float](0).toArray)
    val tmp = TestSpark.tempDir("graft-plan-six").toString
    Dedup.save(Dedup.buildSemanticIndex(
      e.where(col("vec_id") < 300), "vec_id", "embedding", cents), tmp)
    val ix0 = Dedup.load(spark, tmp, Dedup.SemanticIndex)
    // q88's shape: archived members enter through the index parquet
    // (their scans carry no vec_id attribute); the only vec_id-bearing
    // scans are the delta's argmin side, pushed-filtered to >= 400
    val plan = planOf(Dedup.semanticDeltaScanInput(ix0,
      e.where(col("vec_id") >= 400), "vec_id", "embedding"))
    assertNoCartesian("q88-scan", plan)
    assertDeltaSidedScans("q88-scan", plan, "vec_id#",
      "GreaterThanOrEqual(vec_id,400)")

    // q89's append path: the grown member frame must stay delta-priced —
    // its only corpus scans are the day-1 fold's, each carrying a pushed
    // vec_id bound (an UNBOUNDED corpus re-scan here would re-assign the
    // archive on every append)
    val ix1 = Dedup.append(ix0,
      e.where(col("vec_id") >= 300 && col("vec_id") < 400),
      "vec_id", "embedding")
    val appendPlan = planOf(Dedup.semanticDeltaScanInput(ix1,
      e.where(col("vec_id") >= 400), "vec_id", "embedding"))
    assertNoCartesian("q89-scan", appendPlan)
    val corpusScans = appendPlan.linesIterator
      .filter(l => l.contains("FileScan") && l.contains("vec_id#")).toSeq
    assert(corpusScans.nonEmpty,
      s"q89-scan: expected corpus FileScans:\n$appendPlan")
    corpusScans.foreach { l =>
      assert(l.contains("GreaterThanOrEqual(vec_id,"),
        s"q89-scan: unbounded corpus scan (no pushed vec_id bound):\n$l\n\nfull plan:\n$appendPlan")
    }
  }

  test("q90 facade: routes to the gated minhash delta path, rename-only projection") {
    import graft.operators.Dedup
    val docs = Tables(spark, dir, "documents")
    val tmp = TestSpark.tempDir("graft-plan-fac").toString
    Dedup.save(Dedup.buildMinhashIndex(
      docs.where(col("doc_id") < 400), "doc_id", "text",
      numHashes = 16, bands = 4, shingleLen = 3), tmp)
    val ix = Dedup.load(spark, tmp, Dedup.MinhashIndex)
    val out = Dedup.deltaPairs(ix, docs.where(col("doc_id") >= 400),
      "doc_id", "text", threshold = 0.5)
    // the facade normalizes, never recomputes: output is exactly the
    // (id_a, id_b, score) triple…
    assert(out.columns.toSeq === Seq("id_a", "id_b", "score"),
      s"facade output not normalized: ${out.columns.toSeq}")
    val plan = planOf(out)
    assertNoCartesian("q90-facade", plan)
    // …its pairs come pre-reduced from the blocked RDD stage (a Catalyst
    // join over the pair space would mean the facade stopped delegating
    // to the gated delta operator)…
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"),
      s"q90 facade re-grew a Catalyst join over the pair space:\n$plan")
    assert(plan.contains("Scan[obj") || plan.contains("ExistingRDD"),
      s"q90 facade no longer feeds from the blocked RDD stage:\n$plan")
    // …and its declarative prefix is exactly the q84-gated shape
    val prefix = planOf(Dedup.minhashDeltaScanInput(ix,
      docs.where(col("doc_id") >= 400), "doc_id", "text"))
    assertNoCartesian("q90-facade-prefix", prefix)
    assertDeltaSidedScans("q90-facade-prefix", prefix, "doc_id#",
      "GreaterThanOrEqual(doc_id,400)")
  }

  test("q91/q92 incremental stats scoring: archived text never re-read, partials enter via index parquet") {
    import graft.operators.CorpusStats
    val docs = Tables(spark, dir, "documents")
    val tmp = TestSpark.tempDir("graft-plan-cst").toString
    // the daily regime: yesterday's corpus is a SAVED index; today's
    // delta scores against it. The cost contract is that the scoring
    // plan tokenizes the DELTA only — the archive contributes compact
    // partial-count frames, never its text column.
    CorpusStats.saveTokenStats(CorpusStats.buildTokenStats(
      docs.where(col("doc_id") < 400), "doc_id", "text"), s"$tmp/tok")
    val plan = planOf(CorpusStats.tokenFrequencyMetricsAgainst(
      CorpusStats.loadTokenStats(spark, s"$tmp/tok"),
      docs.where(col("doc_id") >= 400), "doc_id", "text"))
    assertNoCartesian("q91-score", plan)
    // every text-reading scan is the delta's, pushed-filtered…
    val textScans = plan.linesIterator
      .filter(l => l.contains("FileScan") && l.contains("text#")).toSeq
    assert(textScans.nonEmpty, s"q91-score: expected a delta text scan:\n$plan")
    textScans.foreach { l =>
      assert(l.contains("GreaterThanOrEqual(doc_id,400)"),
        s"q91-score: un-pushed corpus text scan (archive re-read):\n$l\n\nfull plan:\n$plan")
    }
    // …and the archive enters ONLY through its partial-count parquet
    assert(plan.linesIterator.exists(l =>
        l.contains("FileScan") && l.contains("tdf_part#") && !l.contains("text#")),
      s"q91-score: index partials no longer come from the index parquet:\n$plan")

    // q92's shape: the bigram model's pair/context aggregates fold the
    // SAVED partials; only the scoring target's text is tokenized
    CorpusStats.saveNgramStats(CorpusStats.buildNgramStats(
      docs.where(col("doc_id") < 400), "doc_id", "text"), s"$tmp/ngram")
    val nplan = planOf(CorpusStats.bigramCountsAgainst(
      CorpusStats.loadNgramStats(spark, s"$tmp/ngram"),
      docs.where(col("doc_id") >= 400), "doc_id", "text"))
    assertNoCartesian("q92-score", nplan)
    val ntextScans = nplan.linesIterator
      .filter(l => l.contains("FileScan") && l.contains("text#")).toSeq
    assert(ntextScans.nonEmpty, s"q92-score: expected a delta text scan:\n$nplan")
    ntextScans.foreach { l =>
      assert(l.contains("GreaterThanOrEqual(doc_id,400)"),
        s"q92-score: un-pushed corpus text scan (archive re-read):\n$l\n\nfull plan:\n$nplan")
    }
    assert(nplan.linesIterator.exists(l =>
        l.contains("FileScan") && l.contains("pc_part#") && !l.contains("text#")),
      s"q92-score: pair partials no longer come from the index parquet:\n$nplan")
    // r20: context counts DERIVE from the pair partials (C(w₁·) =
    // Σ_w₂ C(w₁w₂) — same values, one shared exchange), so the contexts
    // component (still saved) is not read at scoring time at all
    assert(!nplan.linesIterator.exists(l =>
        l.contains("FileScan") && l.contains("cc_part#")),
      s"q92-score: the contexts component is scanned at scoring time:\n$nplan")
  }

  test("q93 retracted-archive scoring: x entries enter via partial parquet, archived text never re-read") {
    import graft.operators.CorpusStats
    val docs = Tables(spark, dir, "documents")
    val adir = TestSpark.tempDir("graft-plan-cstx").toString
    CorpusStats.seedTokenStatsArchive(
      docs.where(col("doc_id") < 300), adir, "doc_id", "text")
    CorpusStats.processTokenStatsBatch(
      docs.where(col("doc_id") >= 300 && col("doc_id") < 400), 0L, adir,
      "doc_id", "text", compactEvery = 0)
    // the takedown happened: an x entry's negated partials now cancel
    // [300, 350). Scoring a fresh target against the archive must still
    // tokenize the TARGET only — the retraction entry, like every
    // other entry, contributes compact partial-count parquet
    CorpusStats.retractFromTokenStatsArchive(spark, adir,
      docs.where(col("doc_id") >= 300 && col("doc_id") < 350), "doc_id", "text")
    val plan = planOf(CorpusStats.tokenFrequencyMetricsAgainst(
      CorpusStats.loadTokenStatsArchive(spark, adir),
      docs.where(col("doc_id") >= 400), "doc_id", "text"))
    assertNoCartesian("q93-score", plan)
    val textScans = plan.linesIterator
      .filter(l => l.contains("FileScan") && l.contains("text#")).toSeq
    assert(textScans.nonEmpty, s"q93-score: expected a target text scan:\n$plan")
    textScans.foreach { l =>
      assert(l.contains("GreaterThanOrEqual(doc_id,400)"),
        s"q93-score: un-pushed text scan (archive/victim re-read):\n$l\n\nfull plan:\n$plan")
    }
    assert(plan.linesIterator.exists(l =>
        l.contains("FileScan") && l.contains("tdf_part#") && !l.contains("text#")),
      s"q93-score: archive partials no longer come from the entry parquet:\n$plan")
  }

  test("q94 retracted-ngram-archive scoring: x entries enter via partial parquet, archived text never re-read") {
    import graft.operators.CorpusStats
    val docs = Tables(spark, dir, "documents")
    val adir = TestSpark.tempDir("graft-plan-csngx").toString
    CorpusStats.seedNgramStatsArchive(
      docs.where(col("doc_id") < 300), adir, "doc_id", "text")
    CorpusStats.processNgramStatsBatch(
      docs.where(col("doc_id") >= 300 && col("doc_id") < 400), 0L, adir,
      "doc_id", "text", compactEvery = 0)
    CorpusStats.retractFromNgramStatsArchive(spark, adir,
      docs.where(col("doc_id") >= 300 && col("doc_id") < 350), "doc_id", "text")
    val plan = planOf(CorpusStats.bigramCountsAgainst(
      CorpusStats.loadNgramStatsArchive(spark, adir),
      docs.where(col("doc_id") >= 400), "doc_id", "text"))
    assertNoCartesian("q94-score", plan)
    val textScans = plan.linesIterator
      .filter(l => l.contains("FileScan") && l.contains("text#")).toSeq
    assert(textScans.nonEmpty, s"q94-score: expected a target text scan:\n$plan")
    textScans.foreach { l =>
      assert(l.contains("GreaterThanOrEqual(doc_id,400)"),
        s"q94-score: un-pushed text scan (archive/victim re-read):\n$l\n\nfull plan:\n$plan")
    }
    // r20: cc_part no longer read at scoring time — context counts
    // derive from the pair partials (see the q92 case above)
    assert(plan.linesIterator.exists(l =>
        l.contains("FileScan") && l.contains("pc_part#") && !l.contains("text#")),
      s"q94-score: pc_part# partials no longer come from the entry parquet:\n$plan")
    assert(!plan.linesIterator.exists(l =>
        l.contains("FileScan") && l.contains("cc_part#")),
      s"q94-score: the contexts component is scanned at scoring time:\n$plan")
  }

  test("q95 windowed load: the plan reads ONLY the window's sliver entries") {
    import graft.operators.CorpusStats
    val docs = Tables(spark, dir, "documents")
    val adir = TestSpark.tempDir("graft-plan-cswin").toString
    CorpusStats.seedTokenStatsArchive(
      docs.where(col("doc_id") < 300), adir, "doc_id", "text")
    CorpusStats.processTokenStatsBatch(
      docs.where(col("doc_id") >= 300 && col("doc_id") < 400), 0L, adir,
      "doc_id", "text", compactEvery = 0)
    CorpusStats.processTokenStatsBatch(
      docs.where(col("doc_id") >= 400 && col("doc_id") < 450), 1L, adir,
      "doc_id", "text", compactEvery = 0)
    CorpusStats.processTokenStatsBatch(
      docs.where(col("doc_id") >= 450), 2L, adir,
      "doc_id", "text", compactEvery = 0)
    // the exclusion is STRUCTURAL, not a filter: the seed's and b0's
    // partials must be absent from the scan's root paths entirely
    val win = CorpusStats.loadTokenStatsArchive(spark, adir, Some(2))
    val roots = win.parts.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.rootPaths.map(_.toString)
    }.flatten
    assert(roots.nonEmpty, "expected a FileSourceScanExec in the window plan")
    assert(roots.forall(p => p.endsWith("/b1/df") || p.endsWith("/b2/df")),
      s"q95-window: plan reads outside the window's slivers: $roots")
    assert(roots.exists(_.endsWith("/b1/df")) && roots.exists(_.endsWith("/b2/df")),
      s"q95-window: plan misses a window sliver: $roots")
    assert(win.parts.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.length === 1,
      "q95-window: the window must plan ONE multi-path FileScan, not per-entry unions")
  }

  test("q85 cosine delta scan input: signature math is delta-sided, no cartesian") {
    import graft.operators.{Dedup, SimilarityJoin}
    val e = Tables(spark, dir, "embeddings")
    val tmp = TestSpark.tempDir("graft-plan-cix").toString
    Dedup.save(Dedup.buildCosineIndex(
      e.where(col("vec_id") < 400), "vec_id", "embedding",
      numBits = 8, bands = 8), tmp)
    val ix = Dedup.load(spark, tmp, Dedup.CosineIndex)
    val plan = planOf(SimilarityJoin.cosineDeltaScanInput(ix.buckets, ix.vecs,
      e.where(col("vec_id") >= 400), "vec_id", "embedding",
      ix.numBits, ix.bands, ix.dim, ix.seed))
    assertNoCartesian("q85-scan", plan)
    assertDeltaSidedScans("q85-scan", plan, "vec_id#", "GreaterThanOrEqual(vec_id,400)")
  }
}
