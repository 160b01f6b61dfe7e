package graft

import graft.operators.{CorpusStats, Dedup}
import graft.streaming.{ArchiveDedup, CrashPoints}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Crash-injection harness for the archive commit protocol (round-14
 * ask #2). The temp+rename discipline's recovery claims were reasoned
 * and state-simulated through r13; these cases EXECUTE them: a hook
 * ([[CrashPoints]]) aborts the maintenance control flow at the two
 * crash windows — (a) between temp-write and rename, (b) between the
 * entry rename and the checkpoint advance (control returning to
 * Structured Streaming) — leaving bit-identical on-disk state to a
 * process kill there; the spec then "restarts the stream" by
 * re-delivering the same batch under the same batchId, exactly the
 * redelivery Structured Streaming performs after a crash, and asserts
 * recovery: no torn entries ever readable, pre-rename crashes lose
 * nothing durable (the retry commits and cleans the stale temp),
 * post-commit crashes re-deliver into a replay SKIP (never a double
 * count), and a takedown landing inside the crash window stays
 * retracted through the replay (the r13 replay-guard fix, now
 * executed rather than argued).
 */
class CrashRecoverySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(prefix: String): String =
    TestSpark.tempDir(prefix).toString

  private def text(id: Long): String =
    s"tok${id % 5} tok${(id * 3 + 1) % 5} crash$id tok${id % 5}"

  private def docsDf(ids: Seq[Long]): DataFrame =
    ids.map(id => (id, text(id))).toDF("doc_id", "text").coalesce(1)

  private def fsOf(dir: String) =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())

  private def exists(path: String): Boolean =
    fsOf(path).exists(new org.apache.hadoop.fs.Path(path))

  // ---- token-stats sink -------------------------------------------------

  private def tokenObs(dir: String): Any = {
    val ix = CorpusStats.loadTokenStatsArchive(spark, dir)
    (CorpusStats.tokenDf(ix).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap,
      ix.ids.collect().map(_.getLong(0)).toSet)
  }
  private def tokenRecompute(ids: Seq[Long]): Any = {
    val ix = CorpusStats.buildTokenStats(docsDf(ids), "doc_id", "text")
    (CorpusStats.tokenDf(ix).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap,
      ix.ids.collect().map(_.getLong(0)).toSet)
  }

  test("token sink: crash between temp-write and rename — nothing durable, retry commits cleanly") {
    val dir = tmp("graft-crash-tok-a")
    CorpusStats.seedTokenStatsArchive(docsDf(0L to 2L), dir, "doc_id", "text")
    CrashPoints.armOnce("pre-rename", s"$dir/b0")
    try {
      intercept[CrashPoints.InjectedCrash] {
        CorpusStats.processTokenStatsBatch(docsDf(10L to 12L), 0L, dir,
          "doc_id", "text", compactEvery = 0)
      }
    } finally CrashPoints.disarm()
    // the crash left only the invisible temp — no torn entry, loads see
    // exactly the pre-crash archive
    assert(!exists(s"$dir/b0"), "no entry may exist before the rename")
    assert(exists(s"$dir/.inprogress-b0"), "a real crash leaves the temp")
    assert(tokenObs(dir) === tokenRecompute(0L to 2L))
    // restart: Structured Streaming re-delivers the same batch under the
    // same batchId — the retry must commit and clean the stale temp
    CorpusStats.processTokenStatsBatch(docsDf(10L to 12L), 0L, dir,
      "doc_id", "text", compactEvery = 0)
    assert(!exists(s"$dir/.inprogress-b0"), "retry must clean the stale temp")
    assert(tokenObs(dir) === tokenRecompute((0L to 2L) ++ (10L to 12L)))
  }

  test("token sink: crash after entry commit, before checkpoint advance — replay skips, no double count") {
    val dir = tmp("graft-crash-tok-b")
    CorpusStats.seedTokenStatsArchive(docsDf(0L to 2L), dir, "doc_id", "text")
    CrashPoints.armOnce("post-commit", s"$dir/b0")
    try {
      intercept[CrashPoints.InjectedCrash] {
        CorpusStats.processTokenStatsBatch(docsDf(10L to 12L), 0L, dir,
          "doc_id", "text", compactEvery = 0)
      }
    } finally CrashPoints.disarm()
    assert(exists(s"$dir/b0"), "the rename was durable before the crash")
    val after = tokenRecompute((0L to 2L) ++ (10L to 12L))
    assert(tokenObs(dir) === after)
    // restart: the same batch re-delivers — the replay guard must SKIP
    // (a second fold would double every count)
    CorpusStats.processTokenStatsBatch(docsDf(10L to 12L), 0L, dir,
      "doc_id", "text", compactEvery = 0)
    assert(tokenObs(dir) === after, "replay after a post-commit crash double-counted")
  }

  test("token sink: post-commit crash + intervening takedown — replay skips, retraction stands") {
    val dir = tmp("graft-crash-tok-c")
    CorpusStats.seedTokenStatsArchive(docsDf(0L to 2L), dir, "doc_id", "text")
    CrashPoints.armOnce("post-commit", s"$dir/b0")
    try {
      intercept[CrashPoints.InjectedCrash] {
        CorpusStats.processTokenStatsBatch(docsDf(10L to 13L), 0L, dir,
          "doc_id", "text", compactEvery = 0)
      }
    } finally CrashPoints.disarm()
    // the takedown lands while the stream is down, INSIDE the crash
    // window: the fold is durable, so part of the crashed batch retracts
    CorpusStats.retractFromTokenStatsArchive(spark, dir,
      docsDf(Seq(10L, 11L)), "doc_id", "text")
    val survivors = (0L to 2L) ++ Seq(12L, 13L)
    assert(tokenObs(dir) === tokenRecompute(survivors))
    // restart re-delivers the crashed batch: the fold record proves the
    // commit was durable — skip; the retraction must NOT be undone
    CorpusStats.processTokenStatsBatch(docsDf(10L to 13L), 0L, dir,
      "doc_id", "text", compactEvery = 0)
    assert(tokenObs(dir) === tokenRecompute(survivors),
      "replay after a takedown re-exposed retracted counts")
  }

  // ---- ngram-stats sink ---------------------------------------------------

  private def ngramObs(ix: CorpusStats.NgramStatsIndex): Any = {
    val pairs = ix.pairParts.groupBy(col("__h1"), col("__h2"))
      .agg(sum(col("pc_part")).as("pc")).where(col("pc") > 0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val vocab = ix.unigrams.groupBy(col("h"))
      .agg(sum(col("u_part")).as("u")).where(col("u") > 0).count()
    (pairs, vocab, ix.ids.collect().map(_.getLong(0)).toSet)
  }

  test("ngram sink: both crash windows — pre-rename loses nothing durable, post-commit replay skips") {
    val dir = tmp("graft-crash-ng")
    CorpusStats.seedNgramStatsArchive(docsDf(0L to 2L), dir, "doc_id", "text")
    // window (a): between temp-write and rename
    CrashPoints.armOnce("pre-rename", s"$dir/b0")
    try {
      intercept[CrashPoints.InjectedCrash] {
        CorpusStats.processNgramStatsBatch(docsDf(10L to 12L), 0L, dir,
          "doc_id", "text", compactEvery = 0)
      }
    } finally CrashPoints.disarm()
    assert(!exists(s"$dir/b0") && exists(s"$dir/.inprogress-b0"))
    assert(ngramObs(CorpusStats.loadNgramStatsArchive(spark, dir)) ===
      ngramObs(CorpusStats.buildNgramStats(docsDf(0L to 2L), "doc_id", "text")))
    CorpusStats.processNgramStatsBatch(docsDf(10L to 12L), 0L, dir,
      "doc_id", "text", compactEvery = 0)
    val after = ngramObs(CorpusStats.buildNgramStats(
      docsDf((0L to 2L) ++ (10L to 12L)), "doc_id", "text"))
    assert(ngramObs(CorpusStats.loadNgramStatsArchive(spark, dir)) === after)
    // window (b): after the entry commit, before the checkpoint advance
    CrashPoints.armOnce("post-commit", s"$dir/b1")
    try {
      intercept[CrashPoints.InjectedCrash] {
        CorpusStats.processNgramStatsBatch(docsDf(20L to 21L), 1L, dir,
          "doc_id", "text", compactEvery = 0)
      }
    } finally CrashPoints.disarm()
    // + an intervening takedown inside the window, then the replay
    CorpusStats.retractFromNgramStatsArchive(spark, dir,
      docsDf(Seq(20L)), "doc_id", "text")
    CorpusStats.processNgramStatsBatch(docsDf(20L to 21L), 1L, dir,
      "doc_id", "text", compactEvery = 0)
    assert(ngramObs(CorpusStats.loadNgramStatsArchive(spark, dir)) ===
      ngramObs(CorpusStats.buildNgramStats(
        docsDf((0L to 2L) ++ (10L to 12L) ++ Seq(21L)), "doc_id", "text")),
      "ngram replay after crash+takedown must neither double-count nor un-forget")
  }

  // ---- minhash dedup sink --------------------------------------------------

  test("minhash sink: both crash windows — pre-rename retry commits, post-commit replay skips") {
    val dir = tmp("graft-crash-mh")
    val pairsDir = tmp("graft-crash-mh-p")
    ArchiveDedup.seedArchive(Dedup.buildMinhashIndex(docsDf(0L to 2L), "doc_id", "text"), dir)
    def obs(): Any = {
      val (ix, _) = ArchiveDedup.loadLatest(spark, dir, Dedup.MinhashIndex)
      (ix.sets.collect().map(r => r.getLong(0) -> r.getSeq[Any](1).toVector).toMap,
        ix.buckets.collect().map(r => (r.get(0), r.get(1))).toSet)
    }
    def fresh(ids: Seq[Long]): Any = {
      val ix = Dedup.buildMinhashIndex(docsDf(ids), "doc_id", "text")
      (ix.sets.collect().map(r => r.getLong(0) -> r.getSeq[Any](1).toVector).toMap,
        ix.buckets.collect().map(r => (r.get(0), r.get(1))).toSet)
    }
    // window (a)
    CrashPoints.armOnce("pre-rename", s"$dir/b0")
    try {
      intercept[CrashPoints.InjectedCrash] {
        ArchiveDedup.processBatch(docsDf(10L to 12L), 0L, dir, pairsDir,
          "doc_id", "text", 0.5, compactEvery = 0)
      }
    } finally CrashPoints.disarm()
    assert(!exists(s"$dir/b0") && exists(s"$dir/.inprogress-b0"))
    assert(obs() === fresh(0L to 2L))
    ArchiveDedup.processBatch(docsDf(10L to 12L), 0L, dir, pairsDir,
      "doc_id", "text", 0.5, compactEvery = 0)
    assert(!exists(s"$dir/.inprogress-b0"))
    assert(obs() === fresh((0L to 2L) ++ (10L to 12L)))
    // window (b)
    CrashPoints.armOnce("post-commit", s"$dir/b1")
    try {
      intercept[CrashPoints.InjectedCrash] {
        ArchiveDedup.processBatch(docsDf(20L to 21L), 1L, dir, pairsDir,
          "doc_id", "text", 0.5, compactEvery = 0)
      }
    } finally CrashPoints.disarm()
    assert(exists(s"$dir/b1"))
    val after = fresh((0L to 2L) ++ (10L to 12L) ++ (20L to 21L))
    assert(obs() === after)
    ArchiveDedup.processBatch(docsDf(20L to 21L), 1L, dir, pairsDir,
      "doc_id", "text", 0.5, compactEvery = 0)
    assert(obs() === after, "minhash replay after a post-commit crash double-folded")
  }

  test("takedown commit crash: pre-rename leaves no x entry; retry retracts exactly once") {
    val dir = tmp("graft-crash-tok-x")
    CorpusStats.seedTokenStatsArchive(docsDf(0L to 3L), dir, "doc_id", "text")
    CorpusStats.processTokenStatsBatch(docsDf(10L to 12L), 0L, dir,
      "doc_id", "text", compactEvery = 0)
    val all = (0L to 3L) ++ (10L to 12L)
    CrashPoints.armOnce("pre-rename", s"$dir/x0")
    try {
      intercept[CrashPoints.InjectedCrash] {
        CorpusStats.retractFromTokenStatsArchive(spark, dir,
          docsDf(Seq(10L, 11L)), "doc_id", "text")
      }
    } finally CrashPoints.disarm()
    // nothing durable: no x entry, counts intact — and the killed
    // maintainer's STALE LEASE is still on disk (round 15: withLease
    // treats InjectedCrash as the process death it simulates, so the
    // recovery below runs against the REAL post-kill state)
    assert(!exists(s"$dir/x0") && exists(s"$dir/.inprogress-x0"))
    assert(graft.streaming.MaintenanceLease.holder(spark, dir)
      .exists(_.contains("retractFromTokenStatsArchive")),
      "a killed maintainer must leave its named stale lease behind")
    assert(tokenObs(dir) === tokenRecompute(all))
    // a blind retry refuses loudly, naming the dead holder
    val refusal = intercept[IllegalStateException] {
      CorpusStats.retractFromTokenStatsArchive(spark, dir,
        docsDf(Seq(10L, 11L)), "doc_id", "text")
    }
    assert(refusal.getMessage.contains("under maintenance"), refusal.getMessage)
    // operator recovery: verify the holder is dead, break the lease,
    // retry — the takedown completes, exactly once
    assert(graft.streaming.MaintenanceLease.breakLease(spark, dir))
    CorpusStats.retractFromTokenStatsArchive(spark, dir,
      docsDf(Seq(10L, 11L)), "doc_id", "text")
    assert(!exists(s"$dir/.inprogress-x0"), "retry must clean the stale temp")
    assert(tokenObs(dir) === tokenRecompute((0L to 3L) :+ 12L))
  }

  test("compaction merge crash: pre-rename keeps slivers live (next fold re-merges); post-commit replay never double-counts") {
    val dir = tmp("graft-crash-tok-m")
    CorpusStats.seedTokenStatsArchive(docsDf(0L to 1L), dir, "doc_id", "text")
    // compactEvery=2: the tier-1 merge fires at 3 live slivers
    (0 to 1).foreach(b => CorpusStats.processTokenStatsBatch(
      docsDf((10L + 3 * b) to (12L + 3 * b)), b.toLong, dir,
      "doc_id", "text", compactEvery = 2))
    def allDocs(upTo: Int): Seq[Long] =
      (0L to 1L) ++ (0 to upTo).flatMap(b => (10L + 3 * b) to (12L + 3 * b))
    // window (a): the merge's own commit crashes pre-rename — the batch
    // itself is durable, the merge is not; reads stay exact off the
    // still-live slivers, and the NEXT fold re-attempts the merge
    CrashPoints.armOnce("pre-rename", s"$dir/c0-1")
    try {
      intercept[CrashPoints.InjectedCrash] {
        CorpusStats.processTokenStatsBatch(docsDf(16L to 18L), 2L, dir,
          "doc_id", "text", compactEvery = 2)
      }
    } finally CrashPoints.disarm()
    assert(exists(s"$dir/b2") && !exists(s"$dir/c0-1"))
    assert(tokenObs(dir) === tokenRecompute(allDocs(2)))
    // the stream re-delivers batch 2 (its fold IS durable → replay
    // skip; compaction stays pending), then folds batch 3 — which
    // re-attempts and commits the merge
    CorpusStats.processTokenStatsBatch(docsDf(16L to 18L), 2L, dir,
      "doc_id", "text", compactEvery = 2)
    assert(tokenObs(dir) === tokenRecompute(allDocs(2)), "replay double-counted")
    CorpusStats.processTokenStatsBatch(docsDf(19L to 21L), 3L, dir,
      "doc_id", "text", compactEvery = 2)
    assert(exists(s"$dir/c0-1"), "the next fold must re-attempt the crashed merge")
    assert(tokenObs(dir) === tokenRecompute(allDocs(3)))
    // window (b): a later merge commits, then crashes post-commit — the
    // re-delivered batch skips, and reads never see a sliver AND its
    // covering range at once
    CrashPoints.armOnce("post-commit", s"$dir/c2-3")
    try {
      intercept[CrashPoints.InjectedCrash] {
        CorpusStats.processTokenStatsBatch(docsDf(22L to 24L), 4L, dir,
          "doc_id", "text", compactEvery = 2)
      }
    } finally CrashPoints.disarm()
    assert(exists(s"$dir/c2-3"))
    assert(tokenObs(dir) === tokenRecompute(allDocs(4)))
    CorpusStats.processTokenStatsBatch(docsDf(22L to 24L), 4L, dir,
      "doc_id", "text", compactEvery = 2)
    assert(tokenObs(dir) === tokenRecompute(allDocs(4)),
      "post-commit merge crash + replay double-counted")
  }

  test("minhash compaction merge crash: pre-rename keeps slivers live; post-commit replay never double-folds") {
    val dir = tmp("graft-crash-mh-m")
    val pairsDir = tmp("graft-crash-mh-m-p")
    ArchiveDedup.seedArchive(Dedup.buildMinhashIndex(docsDf(0L to 1L), "doc_id", "text"), dir)
    def fold(b: Long, ids: Seq[Long]): Unit =
      ArchiveDedup.processBatch(docsDf(ids), b, dir, pairsDir,
        "doc_id", "text", 0.5, compactEvery = 2)
    def obs(): Any = {
      val (ix, _) = ArchiveDedup.loadLatest(spark, dir, Dedup.MinhashIndex)
      ix.sets.collect().map(r => r.getLong(0) -> r.getSeq[Any](1).toVector).toMap
    }
    def fresh(ids: Seq[Long]): Any =
      Dedup.buildMinhashIndex(docsDf(ids), "doc_id", "text")
        .sets.collect().map(r => r.getLong(0) -> r.getSeq[Any](1).toVector).toMap
    fold(0L, 10L to 12L)
    // batch 1 triggers the tier-1 merge (dedup archives fold at K-of-K,
    // K=2) — its own fold is durable, the merge commit crashes pre-rename
    CrashPoints.armOnce("pre-rename", s"$dir/c0-1")
    try {
      intercept[CrashPoints.InjectedCrash](fold(1L, 13L to 15L))
    } finally CrashPoints.disarm()
    assert(exists(s"$dir/b1") && !exists(s"$dir/c0-1"))
    val all1 = (0L to 1L) ++ (10L to 15L)
    assert(obs() === fresh(all1), "reads must stay exact off the live slivers")
    // replay skips (fold durable); the NEXT fold re-attempts the merge
    fold(1L, 13L to 15L)
    assert(obs() === fresh(all1), "replay double-folded")
    fold(2L, 16L to 18L)
    assert(exists(s"$dir/c0-1"), "next fold must re-attempt the crashed merge")
    val all2 = all1 ++ (16L to 18L)
    assert(obs() === fresh(all2))
    // post-commit merge crash: range durable, replay skips, a reader
    // never sees a sliver and its covering range at once
    CrashPoints.armOnce("post-commit", s"$dir/c2-3")
    try {
      intercept[CrashPoints.InjectedCrash](fold(3L, 19L to 21L))
    } finally CrashPoints.disarm()
    assert(exists(s"$dir/c2-3"))
    val all3 = all2 ++ (19L to 21L)
    assert(obs() === fresh(all3))
    fold(3L, 19L to 21L)
    assert(obs() === fresh(all3), "post-commit merge crash + replay double-folded")
  }

  test("takedown crash-retry: a post-commit crash re-retries into a ledger SKIP; the ledger rides through reseeds") {
    val dir = tmp("graft-crash-ledger")
    val pairsDir = tmp("graft-crash-ledger-p")
    ArchiveDedup.seedArchive(Dedup.buildMinhashIndex(docsDf(0L to 3L), "doc_id", "text"), dir)
    ArchiveDedup.processBatch(docsDf(10L to 12L), 0L, dir, pairsDir,
      "doc_id", "text", 0.5, compactEvery = 0)
    def archivedIds(): Set[Long] = {
      val (ix, _) = ArchiveDedup.loadLatest(spark, dir, Dedup.MinhashIndex)
      ix.sets.collect().map(_.getLong(0)).toSet
    }
    // the takedown's generation commit is durable, then the process
    // dies before the caller learns it succeeded
    CrashPoints.armOnce("post-commit", s"$dir/r")
    try {
      intercept[CrashPoints.InjectedCrash] {
        ArchiveDedup.forgetDocs(spark, dir, Seq(2L, 10L).toDF("id"))
      }
    } finally CrashPoints.disarm()
    assert(archivedIds() === Set(0L, 1L, 3L, 11L, 12L))
    // the kill left the maintainer's stale lease behind (round 15 —
    // InjectedCrash IS a process death for on-disk purposes): recovery
    // verifies the named holder is dead and breaks the lease first
    assert(graft.streaming.MaintenanceLease.holder(spark, dir)
      .exists(_.contains("forgetDocs")),
      "a killed takedown must leave its named stale lease behind")
    assert(graft.streaming.MaintenanceLease.breakLease(spark, dir))
    // the compliance pipeline RETRIES the same takedown: the ledger
    // recognizes both victims and skips — no "never archived" refusal,
    // no second generation
    ArchiveDedup.forgetDocs(spark, dir, Seq(2L, 10L).toDF("id"))
    assert(archivedIds() === Set(0L, 1L, 3L, 11L, 12L))
    // a reseed supersedes the forget generation — the ledger must ride
    // through it, or GC of the old generation would end retry protection
    ArchiveDedup.reseedMinhashArchive(
      docsDf(Seq(0L, 1L, 3L, 11L, 12L)), dir, "doc_id", "text")
    ArchiveDedup.forgetDocs(spark, dir, Seq(2L, 10L).toDF("id")) // still a skip
    assert(archivedIds() === Set(0L, 1L, 3L, 11L, 12L))
    // a MIXED takedown retracts the live part and ledgers it
    ArchiveDedup.forgetDocs(spark, dir, Seq(2L, 11L).toDF("id"))
    assert(archivedIds() === Set(0L, 1L, 3L, 12L))
    // unknown ids (wrong archive) still refuse
    intercept[IllegalArgumentException] {
      ArchiveDedup.forgetDocs(spark, dir, Seq(999L).toDF("id"))
    }
  }

  test("forget-under-load abort path: a fold racing the generation commit aborts the takedown; retry wins") {
    val dir = tmp("graft-crash-race")
    val pairsDir = tmp("graft-crash-race-p")
    ArchiveDedup.seedArchive(Dedup.buildMinhashIndex(docsDf(0L to 3L), "doc_id", "text"), dir)
    ArchiveDedup.processBatch(docsDf(10L to 12L), 0L, dir, pairsDir,
      "doc_id", "text", 0.5, compactEvery = 0)
    def fresh(ids: Seq[Long]): Any = {
      val ix = Dedup.buildMinhashIndex(docsDf(ids), "doc_id", "text")
      ix.sets.collect().map(_.getLong(0)).toSet
    }
    def archivedIds(): Any = {
      val (ix, _) = ArchiveDedup.loadLatest(spark, dir, Dedup.MinhashIndex)
      ix.sets.collect().map(_.getLong(0)).toSet
    }
    // inject the racing fold at the EXACT window commitReseed
    // re-validates lastFolded — the contract's "a fold racing the
    // commit aborts loudly", executed rather than argued
    CrashPoints.installOnce("pre-reseed-check", dir) { () =>
      ArchiveDedup.processBatch(docsDf(20L to 21L), 1L, dir, pairsDir,
        "doc_id", "text", 0.5, compactEvery = 0)
    }
    val e =
      try intercept[IllegalStateException] {
        ArchiveDedup.forgetDocs(spark, dir, Seq(10L).toDF("id"))
      } finally CrashPoints.disarm()
    assert(e.getMessage.contains("aborting") && e.getMessage.contains("concurrent"),
      e.getMessage)
    // the abort committed NOTHING: the archive sees the raced batch and
    // still contains the would-be victim; the lease was released
    assert(archivedIds() === fresh((0L to 3L) ++ (10L to 12L) ++ (20L to 21L)))
    assert(graft.streaming.MaintenanceLease.holder(spark, dir).isEmpty,
      "an aborted takedown must release the maintenance lease")
    // retry without interference: the takedown wins and covers the
    // raced batch's fold in its generation
    ArchiveDedup.forgetDocs(spark, dir, Seq(10L).toDF("id"))
    assert(archivedIds() === fresh((0L to 3L) ++ (11L to 12L) ++ (20L to 21L)))
  }
}
