package graft

import graft.operators.{CorpusStats, QualityFilters}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Incremental corpus statistics (CorpusStats): build + append must
 * equal one batch pass bit-for-bit — df and bigram counts are additive
 * over disjoint doc sets, vocabulary dedups at use time — and the
 * save/load round trip and the disjointness guard carry the dedup
 * index family's contracts. (The oracle-scale gates are q91/q92,
 * which replay q73/q79's SQL through this path.)
 */
class CorpusStatsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val docs = Seq(
    (0L, "alpha beta alpha gamma"),
    (1L, "beta gamma delta"),
    (2L, "alpha epsilon zeta eta theta"),
    (3L, "beta beta gamma alpha"),
    (4L, "iota kappa alpha"),
    (5L, "gamma delta epsilon beta")
  ).toDF("doc_id", "text")

  private def rowsOf(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  test("token-df: build + append == one batch pass, bit-for-bit") {
    val ix0 = CorpusStats.buildTokenStats(docs.where(col("doc_id") < 3), "doc_id", "text")
    val ix1 = CorpusStats.appendToTokenStats(ix0,
      docs.where(col("doc_id") >= 3), "doc_id", "text")
    val incr = CorpusStats.tokenFrequencyMetricsAgainst(ix1, docs, "doc_id", "text")
    val batch = QualityFilters.tokenFrequencyMetrics(docs, "doc_id", "text")
    assert(incr.columns.toSeq === batch.columns.toSeq)
    assert(rowsOf(incr) === rowsOf(batch))
    // the daily regime: score ONLY the delta against cumulative stats —
    // rows equal the batch operator's restricted to the delta's docs
    val deltaOnly = CorpusStats.tokenFrequencyMetricsAgainst(ix1,
      docs.where(col("doc_id") >= 3), "doc_id", "text")
    assert(rowsOf(deltaOnly) === rowsOf(batch.where(col("doc_id") >= 3)))
  }

  test("bigram-LM: build + append == one batch pass; vocabulary dedups at use time") {
    val ix0 = CorpusStats.buildNgramStats(docs.where(col("doc_id") < 3), "doc_id", "text")
    val ix1 = CorpusStats.appendToNgramStats(ix0,
      docs.where(col("doc_id") >= 3), "doc_id", "text")
    val incr = CorpusStats.bigramCountsAgainst(ix1, docs, "doc_id", "text")
    val batch = QualityFilters.bigramCounts(docs, "doc_id", "text")
    assert(incr.columns.toSeq === batch.columns.toSeq)
    assert(rowsOf(incr) === rowsOf(batch))
    // "alpha"/"beta"/"gamma" appear in BOTH splits: a vocabulary that
    // double-counted across batches would inflate vocab_size
    val vocab = incr.select(col("vocab_size")).head().getLong(0)
    assert(vocab === 10L, s"vocabulary must dedup across folded batches: $vocab")
  }

  test("save/load round trip preserves both indexes exactly") {
    val dir = TestSpark.tempDir("graft-cstats").toString
    val tix = CorpusStats.buildTokenStats(docs.where(col("doc_id") < 3), "doc_id", "text")
    CorpusStats.saveTokenStats(
      CorpusStats.appendToTokenStats(tix, docs.where(col("doc_id") >= 3), "doc_id", "text"),
      s"$dir/tok")
    val tLoaded = CorpusStats.loadTokenStats(spark, s"$dir/tok")
    assert(rowsOf(CorpusStats.tokenDf(tLoaded)) ===
      rowsOf(CorpusStats.tokenDf(
        CorpusStats.buildTokenStats(docs, "doc_id", "text"))))

    val nix = CorpusStats.buildNgramStats(docs, "doc_id", "text")
    CorpusStats.saveNgramStats(nix, s"$dir/ngram")
    val nLoaded = CorpusStats.loadNgramStats(spark, s"$dir/ngram")
    assert(rowsOf(CorpusStats.bigramCountsAgainst(nLoaded, docs, "doc_id", "text")) ===
      rowsOf(QualityFilters.bigramCounts(docs, "doc_id", "text")))
  }

  test("streaming twin: archive partials per batch, replay-safe, equal to the batch operator") {
    import graft.operators.CorpusStats._
    val dir = TestSpark.tempDir("graft-cstats-s").toString
    seedTokenStatsArchive(docs.where(col("doc_id") < 2), dir, "doc_id", "text")
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val rows = docs.where(col("doc_id") >= 2)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val q = tokenStatsSink(mem.toDS().toDF("doc_id", "text"), dir, "doc_id", "text")
    try {
      mem.addData(rows.take(2).toSeq: _*); q.processAllAvailable()
      mem.addData(rows.drop(2).toSeq: _*); q.processAllAvailable()
    } finally q.stop()
    val streamed = loadTokenStatsArchive(spark, dir)
    val batch = QualityFilters.tokenFrequencyMetrics(docs, "doc_id", "text")
    assert(rowsOf(tokenFrequencyMetricsAgainst(streamed, docs, "doc_id", "text"))
      === rowsOf(batch), "streamed archive must equal the one-shot statistics")
    // replay: same batchId + same rows skips; committed id set unchanged
    processTokenStatsBatch(docs.where(col("doc_id") >= 2 && col("doc_id") < 4),
      0L, dir, "doc_id", "text")
    assert(loadTokenStatsArchive(spark, dir).ids.count() === 6L)
    // restart WITHOUT checkpoint (same batchId, fresh ids): refuse at commit
    val ex = intercept[IllegalStateException] {
      processTokenStatsBatch(
        Seq((99L, "omega psi")).toDF("doc_id", "text"), 0L, dir, "doc_id", "text")
    }
    assert(ex.getMessage.contains("checkpointLocation"))
    // a PARTIAL id overlap can only be corruption — refuse loudly
    val ex2 = intercept[IllegalStateException] {
      processTokenStatsBatch(
        Seq((2L, "seen"), (999L, "fresh")).toDF("doc_id", "text"),
        9L, dir, "doc_id", "text")
    }
    assert(ex2.getMessage.contains("partial fold"), ex2.getMessage)
    // compaction folds entries; reads equivalent, and a replay of a
    // batch whose ENTRY was folded away still skips (id-membership
    // coverage, not entry presence)
    val dst = TestSpark.tempDir("graft-cstats-c").toString
    compactTokenStatsArchive(spark, dir, dst)
    assert(rowsOf(CorpusStats.tokenDf(loadTokenStatsArchive(spark, dst)))
      === rowsOf(CorpusStats.tokenDf(streamed)))
    processTokenStatsBatch(docs.where(col("doc_id") >= 2 && col("doc_id") < 4),
      0L, dst, "doc_id", "text")
    assert(loadTokenStatsArchive(spark, dst).ids.count() === 6L,
      "compacted-away batch must replay as a skip, never a double-count")
  }

  test("ngram streaming twin: streamed archive equals the one-shot model, replay-safe") {
    import graft.operators.CorpusStats._
    val dir = TestSpark.tempDir("graft-cstats-ns").toString
    seedNgramStatsArchive(docs.where(col("doc_id") < 2), dir, "doc_id", "text")
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val rows = docs.where(col("doc_id") >= 2)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val q = ngramStatsSink(mem.toDS().toDF("doc_id", "text"), dir, "doc_id", "text")
    try {
      mem.addData(rows.take(2).toSeq: _*); q.processAllAvailable()
      mem.addData(rows.drop(2).toSeq: _*); q.processAllAvailable()
    } finally q.stop()
    val streamed = loadNgramStatsArchive(spark, dir)
    assert(rowsOf(bigramCountsAgainst(streamed, docs, "doc_id", "text"))
      === rowsOf(QualityFilters.bigramCounts(docs, "doc_id", "text")),
      "streamed ngram archive must equal the one-shot model")
    // replay skips; counter reset refuses
    processNgramStatsBatch(docs.where(col("doc_id") >= 2 && col("doc_id") < 4),
      0L, dir, "doc_id", "text")
    assert(loadNgramStatsArchive(spark, dir).ids.count() === 6L)
    val ex = intercept[IllegalStateException] {
      processNgramStatsBatch(
        Seq((77L, "chi phi")).toDF("doc_id", "text"), 0L, dir, "doc_id", "text")
    }
    assert(ex.getMessage.contains("checkpointLocation"))
  }

  test("retraction: retract(append(ix, B), B) == ix on every observable, both families") {
    val base = docs.where(col("doc_id") < 4)
    val b = docs.where(col("doc_id") >= 4)
    // token-df family
    val ix0 = CorpusStats.buildTokenStats(base, "doc_id", "text")
    val back = CorpusStats.retractFromTokenStats(
      CorpusStats.appendToTokenStats(ix0, b, "doc_id", "text"), b, "doc_id", "text")
    assert(rowsOf(CorpusStats.tokenDf(back)) === rowsOf(CorpusStats.tokenDf(ix0)),
      "negated partials must cancel bit-for-bit in the df sums")
    assert(rowsOf(back.ids) === rowsOf(ix0.ids))
    assert(rowsOf(CorpusStats.tokenFrequencyMetricsAgainst(back, base, "doc_id", "text"))
      === rowsOf(QualityFilters.tokenFrequencyMetrics(base, "doc_id", "text")),
      "scoring against the retracted index must equal the batch operator " +
        "over the remaining corpus")
    // "iota"/"kappa" live ONLY in the retracted batch: their df must sum
    // to zero and DROP, not linger at a negative/zero count
    assert(CorpusStats.tokenDf(back).where(col("w").isin("iota", "kappa")).isEmpty)
    // bigram-LM family (incl. the non-additive statistic: vocabulary)
    val nx0 = CorpusStats.buildNgramStats(base, "doc_id", "text")
    val nback = CorpusStats.retractFromNgramStats(
      CorpusStats.appendToNgramStats(nx0, b, "doc_id", "text"), b, "doc_id", "text")
    assert(rowsOf(CorpusStats.bigramCountsAgainst(nback, base, "doc_id", "text"))
      === rowsOf(QualityFilters.bigramCounts(base, "doc_id", "text")),
      "pair/context counts AND vocab_size must return to the pre-append model")
    assert(rowsOf(nback.ids) === rowsOf(nx0.ids))
  }

  test("retraction refuses un-archived and duplicated ids loudly") {
    val ix = CorpusStats.buildTokenStats(docs.where(col("doc_id") < 3), "doc_id", "text")
    val ex = intercept[IllegalArgumentException] {
      CorpusStats.retractFromTokenStats(ix,
        docs.where(col("doc_id") >= 3), "doc_id", "text")
    }
    assert(ex.getMessage.contains("never") && ex.getMessage.contains("folded"),
      ex.getMessage)
    val ex2 = intercept[IllegalArgumentException] {
      CorpusStats.retractFromNgramStats(
        CorpusStats.buildNgramStats(docs, "doc_id", "text"),
        Seq((1L, "beta gamma delta"), (1L, "beta gamma delta")).toDF("doc_id", "text"),
        "doc_id", "text")
    }
    assert(ex2.getMessage.contains("unique within the batch"), ex2.getMessage)
  }

  test("windowed scoring: last-W-batch load == batch recompute over the window, both families") {
    import graft.operators.CorpusStats._
    val dir = TestSpark.tempDir("graft-cstats-w").toString
    seedTokenStatsArchive(docs.where(col("doc_id") < 2), dir, "doc_id", "text")
    (2 to 5).foreach(i => processTokenStatsBatch(
      docs.where(col("doc_id") === i.toLong), i.toLong - 2, dir, "doc_id", "text",
      compactEvery = 0))
    val windowDocs = docs.where(col("doc_id") >= 4) // batches 2 and 3
    val win = loadTokenStatsArchive(spark, dir, lastBatches = Some(2))
    assert(rowsOf(win.ids) === Set(Seq[Any](4L), Seq[Any](5L)),
      "the window must hold exactly the last 2 batches' ids (seed excluded)")
    assert(rowsOf(tokenFrequencyMetricsAgainst(win, windowDocs, "doc_id", "text"))
      === rowsOf(QualityFilters.tokenFrequencyMetrics(windowDocs, "doc_id", "text")),
      "windowed scoring must equal the batch operator over the window's docs")
    // ngram twin
    val ndir = TestSpark.tempDir("graft-cstats-wn").toString
    seedNgramStatsArchive(docs.where(col("doc_id") < 2), ndir, "doc_id", "text")
    (2 to 5).foreach(i => processNgramStatsBatch(
      docs.where(col("doc_id") === i.toLong), i.toLong - 2, ndir, "doc_id", "text",
      compactEvery = 0))
    val nwin = loadNgramStatsArchive(spark, ndir, lastBatches = Some(2))
    assert(rowsOf(bigramCountsAgainst(nwin, windowDocs, "doc_id", "text"))
      === rowsOf(QualityFilters.bigramCounts(windowDocs, "doc_id", "text")),
      "windowed bigram model must equal the batch model over the window's docs")
  }

  test("in-loop compaction under the sink: reads equivalent, entries bounded, O(1) reader plan, window granularity refused") {
    import graft.operators.CorpusStats._
    val dir = TestSpark.tempDir("graft-cstats-k").toString
    seedTokenStatsArchive(docs.where(col("doc_id") < 2), dir, "doc_id", "text")
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val rows = docs.where(col("doc_id") >= 2)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val q = tokenStatsSink(mem.toDS().toDF("doc_id", "text"), dir, "doc_id", "text",
      compactEvery = 2)
    try rows.foreach { r => mem.addData(r); q.processAllAvailable() }
    finally q.stop()
    // equivalence across the compaction boundary, THROUGH the sink
    val streamed = loadTokenStatsArchive(spark, dir)
    assert(rowsOf(tokenFrequencyMetricsAgainst(streamed, docs, "doc_id", "text"))
      === rowsOf(QualityFilters.tokenFrequencyMetrics(docs, "doc_id", "text")),
      "compacted streamed archive must equal the one-shot statistics")
    // live entries bounded: ≤ seed + (2K−2) ranges + (2K−2) slivers
    val st = statsStateOf(spark, dir)
    assert(st.liveEntries.length <= 1 + 4 * (2 - 1),
      s"live entries not bounded by compaction: ${st.liveEntries}")
    // the window-preserving tier: the newest K−1 slivers are ALWAYS
    // live, so a window below compactEvery loads fine mid-stream
    assert(rowsOf(loadTokenStatsArchive(spark, dir, lastBatches = Some(1)).ids)
      === Set(Seq[Any](5L)),
      "the newest compactEvery−1 slivers must stay live for windowed loads")
    // O(1) reader plan: one multi-path FileScan per component, however
    // many entries the stream has committed
    val scans = streamed.parts.queryExecution.executedPlan.toString
      .linesIterator.count(_.contains("FileScan"))
    assert(scans === 1, s"reader plan grew beyond one FileScan: $scans")
    // a batch folded into a range still replays as a skip (id-membership)
    processTokenStatsBatch(docs.where(col("doc_id") === 2L), 0L, dir,
      "doc_id", "text", compactEvery = 2)
    assert(loadTokenStatsArchive(spark, dir).ids.count() === 6L,
      "compacted-away batch must replay as a skip, never a double-count")
    // windowed loads refuse folded-away batches instead of silently
    // widening the window
    val ex = intercept[IllegalArgumentException] {
      loadTokenStatsArchive(spark, dir, lastBatches = Some(4))
    }
    assert(ex.getMessage.contains("folded into compacted ranges"), ex.getMessage)
    // ngram family compacts through its sink too
    val ndir = TestSpark.tempDir("graft-cstats-kn").toString
    seedNgramStatsArchive(docs.where(col("doc_id") < 2), ndir, "doc_id", "text")
    (2 to 5).foreach(i => processNgramStatsBatch(
      docs.where(col("doc_id") === i.toLong), i.toLong - 2, ndir, "doc_id", "text",
      compactEvery = 2))
    assert(rowsOf(bigramCountsAgainst(loadNgramStatsArchive(spark, ndir),
      docs, "doc_id", "text"))
      === rowsOf(QualityFilters.bigramCounts(docs, "doc_id", "text")),
      "compacted streamed ngram archive must equal the one-shot model")
    assert(statsStateOf(spark, ndir).liveEntries.length <= 5)
  }

  test("incremental smoothed LM scoring equals the batch operator, including after retraction") {
    def scoresOf(df: DataFrame): Map[Long, (Long, Double, Double)] =
      df.collect().map(r => r.getLong(0) ->
        (r.getLong(1),
          if (r.isNullAt(2)) Double.NaN else r.getDouble(2),
          if (r.isNullAt(3)) Double.NaN else r.getDouble(3))).toMap
    def assertClose(a: Map[Long, (Long, Double, Double)],
                    b: Map[Long, (Long, Double, Double)]): Unit = {
      assert(a.keySet === b.keySet)
      a.foreach { case (id, (n, avg, ppl)) =>
        val (bn, bavg, bppl) = b(id)
        assert(n === bn, s"doc $id n_terms")
        // the count inputs are bit-identical; only the float SUM's
        // partition order may differ between paths
        assert((avg.isNaN && bavg.isNaN) || math.abs(avg - bavg) < 1e-9,
          s"doc $id avg_logprob $avg vs $bavg")
        assert((ppl.isNaN && bppl.isNaN) || math.abs(ppl - bppl) < 1e-9,
          s"doc $id perplexity $ppl vs $bppl")
      }
    }
    val ix = CorpusStats.appendToNgramStats(
      CorpusStats.buildNgramStats(docs.where(col("doc_id") < 3), "doc_id", "text"),
      docs.where(col("doc_id") >= 3), "doc_id", "text")
    assertClose(
      scoresOf(CorpusStats.bigramLmScoresAgainst(ix, docs, "doc_id", "text")),
      scoresOf(QualityFilters.bigramLmScoresAgainst(docs, docs, "doc_id", "text")))
    // after retracting the second half, scoring equals the batch
    // operator whose reference is the REMAINING corpus
    val retracted = CorpusStats.retractFromNgramStats(ix,
      docs.where(col("doc_id") >= 3), "doc_id", "text")
    assertClose(
      scoresOf(CorpusStats.bigramLmScoresAgainst(retracted,
        docs.where(col("doc_id") < 3), "doc_id", "text")),
      scoresOf(QualityFilters.bigramLmScoresAgainst(
        docs.where(col("doc_id") < 3), docs.where(col("doc_id") < 3),
        "doc_id", "text")))
  }

  test("windowed load refuses a window wider than the folded history") {
    import graft.operators.CorpusStats._
    val dir = TestSpark.tempDir("graft-cstats-wf").toString
    seedTokenStatsArchive(docs.where(col("doc_id") < 2), dir, "doc_id", "text")
    processTokenStatsBatch(docs.where(col("doc_id") === 2L), 0L, dir,
      "doc_id", "text", compactEvery = 0)
    val ex = intercept[IllegalArgumentException] {
      loadTokenStatsArchive(spark, dir, lastBatches = Some(5))
    }
    assert(ex.getMessage.contains("not") && ex.getMessage.contains("full"),
      ex.getMessage)
  }

  test("pre-r13 bare-h unigram parquet loads exactly (mark = 1), alone and mixed in an archive") {
    import graft.operators.CorpusStats._
    // saved-index form: overwrite unigrams with the old bare-`h` schema
    val dir = TestSpark.tempDir("graft-cstats-old").toString
    saveNgramStats(buildNgramStats(docs, "doc_id", "text"), s"$dir/ix")
    val oldUni = spark.read.parquet(s"$dir/ix/unigrams").select(col("h"))
      .localCheckpoint()
    oldUni.write.mode("overwrite").parquet(s"$dir/ix/unigrams")
    assert(rowsOf(bigramCountsAgainst(loadNgramStats(spark, s"$dir/ix"),
      docs, "doc_id", "text"))
      === rowsOf(QualityFilters.bigramCounts(docs, "doc_id", "text")),
      "an old-format saved index must load and score exactly")
    // archive form: old-format seed next to a new-format sliver
    val adir = TestSpark.tempDir("graft-cstats-olda").toString
    seedNgramStatsArchive(docs.where(col("doc_id") < 4), adir, "doc_id", "text")
    val seedUni = spark.read.parquet(s"$adir/seed/unigrams").select(col("h"))
      .localCheckpoint()
    seedUni.write.mode("overwrite").parquet(s"$adir/seed/unigrams")
    processNgramStatsBatch(docs.where(col("doc_id") >= 4), 0L, adir,
      "doc_id", "text")
    assert(rowsOf(bigramCountsAgainst(loadNgramStatsArchive(spark, adir),
      docs, "doc_id", "text"))
      === rowsOf(QualityFilters.bigramCounts(docs, "doc_id", "text")),
      "a mixed old/new-schema archive must read exactly (mergeSchema + mark fill)")
    // but in-place retraction against presence-mark entries must refuse:
    // subtracting occurrence counts against marks could silently shrink
    // the vocabulary below the surviving corpus
    val ex = intercept[IllegalArgumentException] {
      retractFromNgramStatsArchive(spark, adir,
        docs.where(col("doc_id") === 5), "doc_id", "text")
    }
    assert(ex.getMessage.contains("presence-mark"), ex.getMessage)
    // the round-12 generation stored presence marks UNDER a u_part
    // column — schema inspection cannot tell it from counts, only the
    // _ucounts sentinel can: strip the sentinel (as that generation
    // never wrote one) and retraction must refuse even though the
    // schema looks current
    val mdir = TestSpark.tempDir("graft-cstats-mark").toString
    seedNgramStatsArchive(docs, mdir, "doc_id", "text")
    val fs = new org.apache.hadoop.fs.Path(mdir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.delete(
      new org.apache.hadoop.fs.Path(s"$mdir/seed/unigrams/_ucounts"), false),
      "fixture: the current format must have written the sentinel")
    val exM = intercept[IllegalArgumentException] {
      retractFromNgramStatsArchive(spark, mdir,
        docs.where(col("doc_id") === 5), "doc_id", "text")
    }
    assert(exM.getMessage.contains("_ucounts"), exM.getMessage)
    // and the unmarked state survives an out-of-band fold — compaction
    // must not launder marks into retraction authorization
    val cdir = TestSpark.tempDir("graft-cstats-markc").toString
    compactNgramStatsArchive(spark, mdir, cdir)
    val exC = intercept[IllegalArgumentException] {
      retractFromNgramStatsArchive(spark, cdir,
        docs.where(col("doc_id") === 5), "doc_id", "text")
    }
    assert(exC.getMessage.contains("_ucounts"), exC.getMessage)
    // the in-memory API carries the same refusal through load
    val ldir = TestSpark.tempDir("graft-cstats-markl").toString
    saveNgramStats(buildNgramStats(docs, "doc_id", "text"), s"$ldir/ix")
    fs.delete(new org.apache.hadoop.fs.Path(s"$ldir/ix/unigrams/_ucounts"), false)
    val exL = intercept[IllegalArgumentException] {
      retractFromNgramStats(loadNgramStats(spark, s"$ldir/ix"),
        docs.where(col("doc_id") === 5), "doc_id", "text")
    }
    assert(exL.getMessage.contains("presence-mark"), exL.getMessage)
    // while a marked save/load round trip retracts exactly
    saveNgramStats(buildNgramStats(docs, "doc_id", "text"), s"$ldir/ok")
    val retracted = retractFromNgramStats(loadNgramStats(spark, s"$ldir/ok"),
      docs.where(col("doc_id") === 5), "doc_id", "text")
    assert(rowsOf(bigramCountsAgainst(retracted,
      docs.where(col("doc_id") < 5), "doc_id", "text"))
      === rowsOf(QualityFilters.bigramCounts(
        docs.where(col("doc_id") < 5), "doc_id", "text")))
  }

  test("in-place archive retraction (token): x entry cancels exactly; every sharp edge refuses") {
    import graft.operators.CorpusStats._
    val dir = TestSpark.tempDir("graft-cstats-xr").toString
    seedTokenStatsArchive(docs.where(col("doc_id") < 3), dir, "doc_id", "text")
    processTokenStatsBatch(docs.where(col("doc_id") >= 3 && col("doc_id") < 5),
      0L, dir, "doc_id", "text", compactEvery = 0)
    processTokenStatsBatch(docs.where(col("doc_id") === 5), 1L, dir,
      "doc_id", "text", compactEvery = 0)
    // takedown of batch 0's docs WITH their text, stream still live
    retractFromTokenStatsArchive(spark, dir,
      docs.where(col("doc_id") >= 3 && col("doc_id") < 5), "doc_id", "text")
    val remaining = docs.where(col("doc_id") < 3 || col("doc_id") === 5)
    assert(rowsOf(tokenFrequencyMetricsAgainst(loadTokenStatsArchive(spark, dir),
      remaining, "doc_id", "text"))
      === rowsOf(QualityFilters.tokenFrequencyMetrics(remaining, "doc_id", "text")),
      "the negated partials must cancel the retracted docs bit-for-bit")
    assert(loadTokenStatsArchive(spark, dir).ids.collect().map(_.getLong(0)).sorted
      === Array(0L, 1L, 2L, 5L), "membership must resolve folds minus retractions")
    // a crash-recovery replay of the retracted batch — same batchId,
    // whose fold IS on record — skips: the fold is durable and the
    // retraction stands (a refusal here would wedge the stream on the
    // exact restart its own message recommends)
    processTokenStatsBatch(docs.where(col("doc_id") >= 3 && col("doc_id") < 5),
      0L, dir, "doc_id", "text", compactEvery = 0)
    assert(rowsOf(tokenFrequencyMetricsAgainst(loadTokenStatsArchive(spark, dir),
      remaining, "doc_id", "text"))
      === rowsOf(QualityFilters.tokenFrequencyMetrics(remaining, "doc_id", "text")),
      "the crash-recovery replay skip must leave the archive untouched")
    // the same retracted docs under a NEVER-FOLDED batchId can only be
    // a re-ingest under a fresh/reset counter — refuse loudly, never
    // guess between silent data loss and silent un-forgetting
    val exR = intercept[IllegalStateException] {
      processTokenStatsBatch(docs.where(col("doc_id") >= 3 && col("doc_id") < 5),
        9L, dir, "doc_id", "text", compactEvery = 0)
    }
    assert(exR.getMessage.contains("RETRACTED"), exR.getMessage)
    // double retraction = a crash-retry of a committed takedown: the
    // x-entry records recognize the victim and the call SKIPS (round
    // 14 idempotent-retry semantics, matching the dedup ledger) —
    // proven a no-op by the recompute oracle
    retractFromTokenStatsArchive(spark, dir, docs.where(col("doc_id") === 3),
      "doc_id", "text")
    assert(rowsOf(tokenFrequencyMetricsAgainst(loadTokenStatsArchive(spark, dir),
      remaining, "doc_id", "text"))
      === rowsOf(QualityFilters.tokenFrequencyMetrics(remaining, "doc_id", "text")),
      "an idempotent takedown retry must change nothing")
    // ids the archive NEVER folded still refuse (wrong archive)
    val exD = intercept[IllegalArgumentException] {
      retractFromTokenStatsArchive(spark, dir,
        Seq((9999L, "never archived")).toDF("doc_id", "text"), "doc_id", "text")
    }
    assert(exD.getMessage.contains("never folded"), exD.getMessage)
    // a window containing retracted docs would re-expose their counts
    val exW = intercept[IllegalArgumentException] {
      loadTokenStatsArchive(spark, dir, lastBatches = Some(2))
    }
    assert(exW.getMessage.contains("RE-EXPOSE"), exW.getMessage)
    // a window clear of them stays exact
    val winDocs = docs.where(col("doc_id") === 5)
    assert(rowsOf(tokenFrequencyMetricsAgainst(
      loadTokenStatsArchive(spark, dir, lastBatches = Some(1)),
      winDocs, "doc_id", "text"))
      === rowsOf(QualityFilters.tokenFrequencyMetrics(winDocs, "doc_id", "text")))
    // fresh batches keep folding after the retraction
    processTokenStatsBatch(Seq((7700L, "nu xi omicron")).toDF("doc_id", "text"),
      2L, dir, "doc_id", "text", compactEvery = 0)
    val withNew = remaining.unionByName(Seq((7700L, "nu xi omicron")).toDF("doc_id", "text"))
    assert(rowsOf(tokenFrequencyMetricsAgainst(loadTokenStatsArchive(spark, dir),
      withNew, "doc_id", "text"))
      === rowsOf(QualityFilters.tokenFrequencyMetrics(withNew, "doc_id", "text")))
    // out-of-band full fold materializes the cancellation and clears x
    val dst = TestSpark.tempDir("graft-cstats-xrc").toString
    compactTokenStatsArchive(spark, dir, dst)
    assert(new java.io.File(dst).listFiles().map(_.getName).sorted
      .sameElements(Array("seed")))
    assert(rowsOf(tokenFrequencyMetricsAgainst(loadTokenStatsArchive(spark, dst),
      withNew, "doc_id", "text"))
      === rowsOf(QualityFilters.tokenFrequencyMetrics(withNew, "doc_id", "text")))
  }

  test("in-place archive retraction (ngram): LM counts cancel exactly; family mismatch refuses") {
    import graft.operators.CorpusStats._
    val dir = TestSpark.tempDir("graft-cstats-xrn").toString
    seedNgramStatsArchive(docs.where(col("doc_id") < 3), dir, "doc_id", "text")
    processNgramStatsBatch(docs.where(col("doc_id") >= 3), 0L, dir,
      "doc_id", "text", compactEvery = 0)
    // doc 4 is the only carrier of "iota"/"kappa": retraction must
    // shrink the vocabulary too (marks cancel), not just the counts
    retractFromNgramStatsArchive(spark, dir, docs.where(col("doc_id") === 4),
      "doc_id", "text")
    val remaining = docs.where(col("doc_id") =!= 4)
    assert(rowsOf(bigramCountsAgainst(loadNgramStatsArchive(spark, dir),
      remaining, "doc_id", "text"))
      === rowsOf(QualityFilters.bigramCounts(remaining, "doc_id", "text")),
      "counts AND vocab_size must match the batch recompute without doc 4")
    // wrong-family retraction refuses before committing anything
    val exF = intercept[IllegalArgumentException] {
      retractFromTokenStatsArchive(spark, dir, docs.where(col("doc_id") === 3),
        "doc_id", "text")
    }
    assert(exF.getMessage.contains("not a token-stats archive"), exF.getMessage)
    assert(!new java.io.File(dir).listFiles().map(_.getName).exists(_ == "x1"),
      "the refused cross-family retraction must not have committed")
  }

  test("retraction entries tier-fold in-loop; GC deferred one takedown; ledger plan shuffle-free") {
    import graft.operators.CorpusStats._
    val dir = TestSpark.tempDir("graft-cstats-xf").toString
    seedTokenStatsArchive(docs, dir, "doc_id", "text")
    def retract(id: Long): Unit =
      retractFromTokenStatsArchive(spark, dir, docs.where(col("doc_id") === id),
        "doc_id", "text", xCompactEvery = 2)
    def xDirs = new java.io.File(dir).listFiles().map(_.getName)
      .filter(_.startsWith("x")).sorted
    retract(3L) // x0
    retract(4L) // one live x < 2 → plain x1
    assert(xDirs.sameElements(Array("x0", "x1")))
    retract(5L) // two live x ≥ 2 → THIS commit merges them in: x2
    assert(xDirs.sameElements(Array("x0", "x1", "x2")),
      "covered x entries await deferred GC — a reader planned pre-fold " +
        "gets a full takedown interval")
    assert(new java.io.File(s"$dir/x2/folded").exists(),
      "the merged entry must record which x ids it covers")
    val after3 = docs.where(col("doc_id") < 3)
    assert(rowsOf(tokenFrequencyMetricsAgainst(loadTokenStatsArchive(spark, dir),
      after3, "doc_id", "text"))
      === rowsOf(QualityFilters.tokenFrequencyMetrics(after3, "doc_id", "text")),
      "reads must be exact through the merged x entry (live x only — " +
        "unioning the covered pair too would double-cancel)")
    assert(loadTokenStatsArchive(spark, dir).ids.collect().map(_.getLong(0)).sorted
      === Array(0L, 1L, 2L))
    retract(2L) // GC of x0/x1 happens at THIS call's start; commits x3
    assert(xDirs.sameElements(Array("x2", "x3")),
      "covered x entries GC one takedown after their covering fold")
    val after4 = docs.where(col("doc_id") < 2)
    assert(rowsOf(tokenFrequencyMetricsAgainst(loadTokenStatsArchive(spark, dir),
      after4, "doc_id", "text"))
      === rowsOf(QualityFilters.tokenFrequencyMetrics(after4, "doc_id", "text")))
    // replay protection survives the fold: doc 4's ids now live only in
    // the MERGED entry, and a replay of them still refuses
    val ex = intercept[IllegalStateException] {
      processTokenStatsBatch(docs.where(col("doc_id") === 4), 7L, dir,
        "doc_id", "text", compactEvery = 0)
    }
    assert(ex.getMessage.contains("RETRACTED"), ex.getMessage)
    // the ledger resolves membership with broadcast joins against the
    // takedown-sized x side: one takedown must not tax every future
    // load and replay guard with a corpus-sized shuffle. (Round 15's
    // net-multiplicity marks add counting aggregates, but they run
    // AFTER a semi-join that filters the corpus side down to
    // ever-retracted ids — every exchange in this plan moves
    // takedown-sized data; the never-retracted corpus branch stays a
    // pure broadcast anti-join, and no join sort-merges.)
    val plan = loadTokenStatsArchive(spark, dir).ids
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"expected a broadcast anti-join ledger plan:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"a ledger join shuffled the corpus-sized id set:\n$plan")
  }

  test("net-multiplicity marks: a retracted doc re-folded by a foreign writer counts live; the repeat retraction lands") {
    import graft.operators.CorpusStats._
    val dir = TestSpark.tempDir("graft-cstats-refold").toString
    seedTokenStatsArchive(docs.where(col("doc_id") < 3), dir, "doc_id", "text")
    processTokenStatsBatch(docs.where(col("doc_id") === 3), 0L, dir,
      "doc_id", "text", compactEvery = 0)
    retractFromTokenStatsArchive(spark, dir, docs.where(col("doc_id") === 3),
      "doc_id", "text")
    // a FOREIGN writer re-folds doc 3 behind the sink (whose own guard
    // refuses re-ingests — this is the defense-in-depth path the
    // "appears on any x entry ⇒ retracted" rule got wrong): the entry
    // is hand-committed in the archive's own layout
    val re = buildTokenStats(docs.where(col("doc_id") === 3), "doc_id", "text")
    re.parts.write.parquet(s"$dir/b77/df")
    re.ids.write.parquet(s"$dir/b77/ids")
    // membership resolves by NET multiplicity (fold − retraction +
    // re-fold = 1): the doc is live again
    assert(loadTokenStatsArchive(spark, dir).ids.collect().map(_.getLong(0)).toSet
      === Set(0L, 1L, 2L, 3L),
      "a re-folded doc must count live (net multiplicity), not retracted")
    // and the sums agree: +b0 − x0 + b77 = exactly one live copy
    val withDoc3 = docs.where(col("doc_id") <= 3)
    assert(rowsOf(tokenFrequencyMetricsAgainst(loadTokenStatsArchive(spark, dir),
      withDoc3, "doc_id", "text"))
      === rowsOf(QualityFilters.tokenFrequencyMetrics(withDoc3, "doc_id", "text")))
    // the REPEAT retraction must land — pre-r15 it silently skipped as
    // a crash-retry while the re-folded counts stayed in every sum
    retractFromTokenStatsArchive(spark, dir, docs.where(col("doc_id") === 3),
      "doc_id", "text")
    val remaining = docs.where(col("doc_id") < 3)
    assert(loadTokenStatsArchive(spark, dir).ids.collect().map(_.getLong(0)).toSet
      === Set(0L, 1L, 2L))
    assert(rowsOf(tokenFrequencyMetricsAgainst(loadTokenStatsArchive(spark, dir),
      remaining, "doc_id", "text"))
      === rowsOf(QualityFilters.tokenFrequencyMetrics(remaining, "doc_id", "text")),
      "the repeat retraction must cancel the re-folded counts bit-for-bit")
    // a THIRD call is a genuine crash-retry (net zero): skips, unchanged
    retractFromTokenStatsArchive(spark, dir, docs.where(col("doc_id") === 3),
      "doc_id", "text")
    assert(loadTokenStatsArchive(spark, dir).ids.collect().map(_.getLong(0)).toSet
      === Set(0L, 1L, 2L))
  }

  test("ngram retraction entries tier-fold too (all four components sum through the merge)") {
    import graft.operators.CorpusStats._
    val dir = TestSpark.tempDir("graft-cstats-xfn").toString
    seedNgramStatsArchive(docs, dir, "doc_id", "text")
    Seq(3L, 4L, 5L).foreach { id =>
      retractFromNgramStatsArchive(spark, dir, docs.where(col("doc_id") === id),
        "doc_id", "text", xCompactEvery = 2)
    }
    assert(new java.io.File(s"$dir/x2/folded").exists(),
      "the third takedown must merge the two live x entries into itself")
    val remaining = docs.where(col("doc_id") < 3)
    assert(rowsOf(bigramCountsAgainst(loadNgramStatsArchive(spark, dir),
      remaining, "doc_id", "text"))
      === rowsOf(QualityFilters.bigramCounts(remaining, "doc_id", "text")),
      "pair/context/unigram partials and vocab marks must all cancel " +
        "exactly through the merged x entry")
  }

  test("compaction folds pre-r13 bare-h unigram entries exactly (no crash, no vocab loss)") {
    import graft.operators.CorpusStats._
    val dir = TestSpark.tempDir("graft-cstats-oldc").toString
    seedNgramStatsArchive(docs.where(col("doc_id") < 2), dir, "doc_id", "text")
    // commit 4 slivers with compaction off, then strip b0..b2 back to
    // the pre-r13 bare-`h` unigram schema: the next folds' merge sets
    // are first ALL-old (schema lacks u_part entirely), then MIXED
    val rest = docs.where(col("doc_id") >= 2)
      .select(col("doc_id"), col("text")).collect()
    rest.zipWithIndex.foreach { case (r, i) =>
      processNgramStatsBatch(Seq((r.getLong(0), r.getString(1))).toDF("doc_id", "text"),
        i.toLong, dir, "doc_id", "text", compactEvery = 0)
    }
    assert(rest.length === 4, s"fixture drifted: ${rest.length} docs beyond the seed")
    (0 to 2).foreach { b =>
      val old = spark.read.parquet(s"$dir/b$b/unigrams").select(col("h"))
        .localCheckpoint()
      old.write.mode("overwrite").parquet(s"$dir/b$b/unigrams")
    }
    // two more batches with compactEvery = 2 (tier-1 folds the 2 oldest
    // once 3 are live): first fold takes (b0,b1) all-old — the
    // missing-column shape — then (b2,b3) old+new — the mergeSchema
    // null-fill shape
    val extra = Seq((9000L, "omega kappa"), (9001L, "kappa omega theta"))
    extra.zipWithIndex.foreach { case ((id, t), i) =>
      processNgramStatsBatch(Seq((id, t)).toDF("doc_id", "text"),
        (rest.length + i).toLong, dir, "doc_id", "text", compactEvery = 2)
    }
    val ranges = new java.io.File(dir).listFiles().map(_.getName)
      .filter(_.matches("c\\d+-\\d+"))
    assert(ranges.nonEmpty, "compaction must have folded the old slivers")
    val allDocs = docs.select(col("doc_id"), col("text"))
      .unionByName(extra.toDF("doc_id", "text"))
    assert(rowsOf(bigramCountsAgainst(loadNgramStatsArchive(spark, dir),
      allDocs, "doc_id", "text"))
      === rowsOf(QualityFilters.bigramCounts(allDocs, "doc_id", "text")),
      "a compacted mixed-format archive must score exactly (marks preserved)")
  }

  test("compactEvery = 1 refuses at sink construction (degenerate self-merge)") {
    import graft.operators.CorpusStats._
    val e = intercept[IllegalArgumentException] {
      tokenStatsSink(docs,
        TestSpark.tempDir("graft-cstats-k1").toString,
        "doc_id", "text", compactEvery = 1)
    }
    assert(e.getMessage.contains("degenerate"), e.getMessage)
  }

  test("streaming batches refuse duplicated/null doc ids loudly (double-count guard)") {
    import graft.operators.CorpusStats._
    val dir = TestSpark.tempDir("graft-cstats-dup").toString
    seedNgramStatsArchive(docs.where(col("doc_id") < 2), dir, "doc_id", "text")
    // a micro-batch carrying the same doc twice would double-count the
    // bigram pair/context partials (token-df is shielded by
    // countDistinct; ngram counts are not) — loud, matching appendTo*
    val ex = intercept[IllegalArgumentException] {
      processNgramStatsBatch(
        Seq((7L, "alpha beta"), (7L, "alpha beta")).toDF("doc_id", "text"),
        3L, dir, "doc_id", "text")
    }
    assert(ex.getMessage.contains("unique within the batch"), ex.getMessage)
    val ex2 = intercept[IllegalArgumentException] {
      processTokenStatsBatch(
        Seq((Option(8L), "x"), (Option.empty[Long], "y")).toDF("doc_id", "text"),
        4L, dir, "doc_id", "text")
    }
    assert(ex2.getMessage.contains("non-null"), ex2.getMessage)
    // nothing committed by the refused batches
    assert(loadNgramStatsArchive(spark, dir).ids.count() === 2L)
  }

  test("archiveSink facade routes stats archives and refuses mismatched options") {
    import graft.streaming.ArchiveDedup
    val dir = TestSpark.tempDir("graft-cstats-fac").toString
    CorpusStats.seedTokenStatsArchive(docs.where(col("doc_id") < 2), dir,
      "doc_id", "text")
    assert(ArchiveDedup.modalityOf(spark, dir) === "token-stats")
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val rows = docs.where(col("doc_id") >= 2)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val q = ArchiveDedup.archiveSink(mem.toDS().toDF("doc_id", "text"), dir,
      pairsDir = "", idCol = "doc_id", payloadCol = "text", threshold = 0.0)
    try { mem.addData(rows.toSeq: _*); q.processAllAvailable() } finally q.stop()
    assert(rowsOf(CorpusStats.tokenFrequencyMetricsAgainst(
      CorpusStats.loadTokenStatsArchive(spark, dir), docs, "doc_id", "text"))
      === rowsOf(QualityFilters.tokenFrequencyMetrics(docs, "doc_id", "text")),
      "the facade-maintained archive must equal the one-shot statistics")
    // mismatched options refuse loudly, as the minhash path does
    val ex = intercept[IllegalArgumentException] {
      ArchiveDedup.archiveSink(mem.toDS().toDF("doc_id", "text"), dir,
        pairsDir = "/tmp/pairs", idCol = "doc_id", payloadCol = "text",
        threshold = 0.5)
    }
    assert(ex.getMessage.contains("not dedup pairs"), ex.getMessage)
    val ndir = TestSpark.tempDir("graft-cstats-facn").toString
    CorpusStats.seedNgramStatsArchive(docs.where(col("doc_id") < 2), ndir,
      "doc_id", "text")
    assert(ArchiveDedup.modalityOf(spark, ndir) === "ngram-stats")
    val ex2 = intercept[IllegalArgumentException] {
      ArchiveDedup.archiveSink(mem.toDS().toDF("doc_id", "text"), ndir,
        pairsDir = "", idCol = "doc_id", payloadCol = "text", threshold = 0.0,
        driftDir = Some("/tmp/drift"))
    }
    assert(ex2.getMessage.contains("no drift probes"), ex2.getMessage)
  }

  test("seed into an already-seeded dir gets the seeded diagnosis, not the counter-reset one") {
    import graft.operators.CorpusStats._
    val dir = TestSpark.tempDir("graft-cstats-re").toString
    seedTokenStatsArchive(docs.where(col("doc_id") < 2), dir, "doc_id", "text")
    val ex = intercept[IllegalStateException] {
      seedTokenStatsArchive(docs.where(col("doc_id") < 2), dir, "doc_id", "text")
    }
    assert(ex.getMessage.contains("already seeded"), ex.getMessage)
    assert(!ex.getMessage.contains("checkpoint"), ex.getMessage)
  }

  test("delta disjointness is enforced loudly on both families") {
    val ix = CorpusStats.buildTokenStats(docs.where(col("doc_id") < 3), "doc_id", "text")
    val ex = intercept[IllegalArgumentException] {
      CorpusStats.appendToTokenStats(ix, docs.where(col("doc_id") < 2), "doc_id", "text")
    }
    assert(ex.getMessage.contains("appendToTokenStats"))
    val nx = CorpusStats.buildNgramStats(docs.where(col("doc_id") < 3), "doc_id", "text")
    val ex2 = intercept[IllegalArgumentException] {
      CorpusStats.appendToNgramStats(nx, docs.where(col("doc_id") === 1L), "doc_id", "text")
    }
    assert(ex2.getMessage.contains("appendToNgramStats"))
  }
}
