package graft.tools

import graft.operators.{CorpusStats, QualityFilters}
import org.apache.spark.sql.functions._

/**
 * Scale measurement for the incremental corpus-statistics indexes
 * (`runMain graft.tools.StatsScale <dir>`): the daily refresh decision
 * — re-run the batch statistics over (corpus ∪ delta), or fold the
 * delta into a persisted [[CorpusStats]] index and score against it.
 * 90% of the documents table seeds the index (one-time, persisted);
 * the remaining 10% arrives as the delta. Measured per family:
 * (a) full batch recompute over the union — the rebuild price;
 * (b) append the delta to the LOADED index + score the delta against
 *     it — the incremental price (tokenizes the delta only; the
 *     archive contributes compact count partials);
 * (c) the snapshot-expiry mirror: refresh the model WITHOUT the delta
 *     by full rebuild over corpus \ delta vs RETRACTING the delta from
 *     the persisted full index (negated partials — tokenizes the
 *     retracted batch only).
 */
object StatsScale {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = graft.Graft.session()
    spark.sparkContext.setLogLevel("ERROR")

    val docs = graft.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val seed = docs.where(col("doc_id") % 10 =!= 0)
    val delta = docs.where(col("doc_id") % 10 === 0)
    println(s"corpus ${docs.count()} docs; seed ${seed.count()}, delta ${delta.count()}")

    def timed(name: String)(fn: => Long): Unit = {
      fn // warm (JIT + file listing)
      val t0 = System.nanoTime()
      val n = fn
      println(f"$name%-58s ${(System.nanoTime() - t0) / 1e9}%8.2f s  ($n rows)")
    }

    val tmp = java.nio.file.Files.createTempDirectory("graft-stats-scale").toString
    // one-time seed builds, persisted (the artifact a pipeline reuses):
    // the seed-corpus indexes for the append rows, and the FULL-corpus
    // indexes (what a long-running pipeline actually holds) for the
    // retraction rows
    CorpusStats.saveTokenStats(
      CorpusStats.buildTokenStats(seed, "doc_id", "text"), s"$tmp/tok")
    CorpusStats.saveNgramStats(
      CorpusStats.buildNgramStats(seed, "doc_id", "text"), s"$tmp/ngram")
    CorpusStats.saveTokenStats(
      CorpusStats.buildTokenStats(docs, "doc_id", "text"), s"$tmp/tokAll")
    CorpusStats.saveNgramStats(
      CorpusStats.buildNgramStats(docs, "doc_id", "text"), s"$tmp/ngramAll")

    timed("token-df: FULL batch recompute over corpus ∪ delta") {
      QualityFilters.tokenFrequencyMetrics(docs, "doc_id", "text").count()
    }
    timed("token-df: append delta to loaded index + score delta") {
      val ix = CorpusStats.appendToTokenStats(
        CorpusStats.loadTokenStats(spark, s"$tmp/tok"), delta, "doc_id", "text")
      CorpusStats.tokenFrequencyMetricsAgainst(ix, delta, "doc_id", "text").count()
    }
    timed("bigram-LM: FULL batch recompute over corpus ∪ delta") {
      QualityFilters.bigramCounts(docs, "doc_id", "text").count()
    }
    timed("bigram-LM: append delta to loaded index + score delta") {
      val ix = CorpusStats.appendToNgramStats(
        CorpusStats.loadNgramStats(spark, s"$tmp/ngram"), delta, "doc_id", "text")
      CorpusStats.bigramCountsAgainst(ix, delta, "doc_id", "text").count()
    }

    // the snapshot-expiry decision: remove the delta's influence from
    // the full-corpus model by rebuilding over corpus \ delta, or by
    // RETRACTING the delta from the persisted index (tokenize the
    // retracted batch only + one narrow-key fold — includes the
    // coverage guard's driver action). Consumers are the folded count
    // frames (the refreshed model), identical either way.
    timed("token-df: FULL df rebuild over corpus \\ delta") {
      CorpusStats.tokenDf(
        CorpusStats.buildTokenStats(seed, "doc_id", "text")).count()
    }
    timed("token-df: retract delta from loaded full index (df refresh)") {
      CorpusStats.tokenDf(CorpusStats.retractFromTokenStats(
        CorpusStats.loadTokenStats(spark, s"$tmp/tokAll"),
        delta, "doc_id", "text")).count()
    }
    def pairModelCount(ix: CorpusStats.NgramStatsIndex): Long =
      ix.pairParts.groupBy(col("__h1"), col("__h2"))
        .agg(sum(col("pc_part")).as("pc")).where(col("pc") > 0).count()
    timed("bigram-LM: FULL pair-model rebuild over corpus \\ delta") {
      pairModelCount(CorpusStats.buildNgramStats(seed, "doc_id", "text"))
    }
    timed("bigram-LM: retract delta from loaded full index (model refresh)") {
      pairModelCount(CorpusStats.retractFromNgramStats(
        CorpusStats.loadNgramStats(spark, s"$tmp/ngramAll"),
        delta, "doc_id", "text"))
    }

    // the IN-PLACE twin on a streamed archive: one takedown commits an
    // x entry (the victims' partials negated + their ids) against the
    // live archive — the stream never stops, readers flip atomically.
    // Not idempotent (a second retract of the same ids rightly
    // refuses), so timed one-shot.
    def once(name: String)(fn: => Unit): Unit = {
      val t0 = System.nanoTime()
      fn
      println(f"$name%-58s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
    }
    val arch = java.nio.file.Files.createTempDirectory("graft-stats-arch").toString
    CorpusStats.seedTokenStatsArchive(seed, arch, "doc_id", "text")
    CorpusStats.processTokenStatsBatch(delta, 0L, arch, "doc_id", "text",
      compactEvery = 0)
    val victims = docs.where(col("doc_id") % 100 === 0) // 1% of corpus
    println(s"archive takedown: ${victims.count()} victim docs")
    once("token-df ARCHIVE: in-place retraction (x entry commit)") {
      CorpusStats.retractFromTokenStatsArchive(spark, arch, victims,
        "doc_id", "text")
    }
    timed("token-df ARCHIVE: score survivors vs retracted archive") {
      CorpusStats.tokenFrequencyMetricsAgainst(
        CorpusStats.loadTokenStatsArchive(spark, arch),
        delta.where(col("doc_id") % 100 =!= 0), "doc_id", "text").count()
    }
    // the ngram twin: all four components negate through one x commit
    val narch = java.nio.file.Files.createTempDirectory("graft-stats-narch").toString
    CorpusStats.seedNgramStatsArchive(seed, narch, "doc_id", "text")
    CorpusStats.processNgramStatsBatch(delta, 0L, narch, "doc_id", "text",
      compactEvery = 0)
    once("bigram-LM ARCHIVE: in-place retraction (x entry commit)") {
      CorpusStats.retractFromNgramStatsArchive(spark, narch, victims,
        "doc_id", "text")
    }
    timed("bigram-LM ARCHIVE: score survivors vs retracted archive") {
      CorpusStats.bigramCountsAgainst(
        CorpusStats.loadNgramStatsArchive(spark, narch),
        delta.where(col("doc_id") % 100 =!= 0), "doc_id", "text").count()
    }
    spark.stop()
  }
}
