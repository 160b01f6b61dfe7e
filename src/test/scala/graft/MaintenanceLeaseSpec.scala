package graft

import graft.operators.{CorpusStats, Dedup}
import graft.streaming.{ArchiveDedup, MaintenanceLease}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * The maintenance lease (round-14 ask #4): "one maintainer per archive
 * directory" was a documented convention — these cases make its
 * ENFORCEMENT executable. A second maintainer must refuse loudly while
 * a first holds the lease (naming the holder); a maintainer that fails
 * its own guards must NOT wedge the directory (release in finally);
 * a CRASHED maintainer's stale lease must refuse until the explicit
 * breakLease recovery, after which maintenance proceeds.
 */
class MaintenanceLeaseSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(prefix: String): String =
    TestSpark.tempDir(prefix).toString

  private val docs = Seq(
    (0L, "alpha beta alpha gamma"),
    (1L, "beta gamma delta"),
    (2L, "alpha epsilon zeta eta theta"),
    (3L, "beta beta gamma alpha"),
    (4L, "iota kappa alpha"),
    (5L, "gamma delta epsilon beta")
  ).toDF("doc_id", "text")

  private def seededTokenArchive(): String = {
    val dir = tmp("graft-lease-tok")
    CorpusStats.seedTokenStatsArchive(
      docs.where(col("doc_id") < 4), dir, "doc_id", "text")
    CorpusStats.processTokenStatsBatch(
      docs.where(col("doc_id") >= 4), 0L, dir, "doc_id", "text",
      compactEvery = 0)
    dir
  }

  test("second maintainer refuses while the first holds the lease, naming the holder") {
    val dir = seededTokenArchive()
    MaintenanceLease.withLease(spark, dir, "first-takedown") {
      val e = intercept[IllegalStateException] {
        CorpusStats.retractFromTokenStatsArchive(spark, dir,
          docs.where(col("doc_id") === 4L), "doc_id", "text")
      }
      assert(e.getMessage.contains("under maintenance"), e.getMessage)
      assert(e.getMessage.contains("first-takedown"), e.getMessage)
      assert(e.getMessage.contains("breakLease"), e.getMessage)
    }
    // released on exit: the same takedown now succeeds
    CorpusStats.retractFromTokenStatsArchive(spark, dir,
      docs.where(col("doc_id") === 4L), "doc_id", "text")
    assert(MaintenanceLease.holder(spark, dir).isEmpty)
  }

  test("a maintainer that fails its own guards does not wedge the directory") {
    val dir = seededTokenArchive()
    // un-archived ids refuse via requireRetractCovered — INSIDE the lease
    intercept[IllegalArgumentException] {
      CorpusStats.retractFromTokenStatsArchive(spark, dir,
        Seq((99L, "never archived")).toDF("doc_id", "text"), "doc_id", "text")
    }
    assert(MaintenanceLease.holder(spark, dir).isEmpty,
      "a guard refusal must release the lease (finally), not wedge the dir")
    CorpusStats.retractFromTokenStatsArchive(spark, dir,
      docs.where(col("doc_id") === 4L), "doc_id", "text")
  }

  test("stale lease (crashed maintainer) refuses until breakLease, then recovers") {
    val dir = seededTokenArchive()
    // simulate a crash: a lease file left behind with no live holder
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val lease = new org.apache.hadoop.fs.Path(s"$dir/.maintenance-lease")
    val out = fs.create(lease, false)
    out.write("crashed-op at 2026-01-01T00:00:00Z by JVM 0@dead-host".getBytes("UTF-8"))
    out.close()
    val e = intercept[IllegalStateException] {
      CorpusStats.retractFromTokenStatsArchive(spark, dir,
        docs.where(col("doc_id") === 4L), "doc_id", "text")
    }
    assert(e.getMessage.contains("dead-host"), e.getMessage)
    assert(MaintenanceLease.breakLease(spark, dir))
    CorpusStats.retractFromTokenStatsArchive(spark, dir,
      docs.where(col("doc_id") === 4L), "doc_id", "text")
    // the recovered takedown is REAL: the victim no longer scores
    val ix = CorpusStats.loadTokenStatsArchive(spark, dir)
    assert(ix.ids.where(col("id") === 4L).isEmpty)
  }

  test("the lease file is invisible to archive state and loads") {
    val dir = seededTokenArchive()
    val before = CorpusStats.loadTokenStatsArchive(spark, dir)
      .ids.collect().map(_.getLong(0)).toSet
    MaintenanceLease.withLease(spark, dir, "reader-invisibility probe") {
      val during = CorpusStats.loadTokenStatsArchive(spark, dir)
        .ids.collect().map(_.getLong(0)).toSet
      assert(during === before,
        "a held lease must not change what readers see")
    }
  }

  test("dedup archives: forgetDocs and reseed refuse under a held lease") {
    val dir = tmp("graft-lease-mh")
    ArchiveDedup.seedArchive(Dedup.buildMinhashIndex(
      docs.where(col("doc_id") < 4),
      "doc_id", "text"), dir)
    val pairs = tmp("graft-lease-mh-p")
    ArchiveDedup.processBatch(docs.where(col("doc_id") >= 4), 0L, dir, pairs,
      "doc_id", "text", 0.5)
    MaintenanceLease.withLease(spark, dir, "other-maintainer") {
      val e1 = intercept[IllegalStateException] {
        ArchiveDedup.forgetDocs(spark, dir, Seq(4L).toDF("id"))
      }
      assert(e1.getMessage.contains("other-maintainer"), e1.getMessage)
      val e2 = intercept[IllegalStateException] {
        ArchiveDedup.reseedMinhashArchive(docs, dir, "doc_id", "text")
      }
      assert(e2.getMessage.contains("other-maintainer"), e2.getMessage)
    }
    // released: the takedown proceeds and is real
    ArchiveDedup.forgetDocs(spark, dir, Seq(4L).toDF("id"))
    val (ix, _) = graft.streaming.ArchiveDedup.loadLatest(spark, dir, Dedup.MinhashIndex)
    assert(ix.sets.where(col("id") === 4L).isEmpty)
  }

  test("an injected crash is a process death: the stale lease stays on disk until breakLease") {
    // round-15 fidelity fix: withLease used to run its finally-delete
    // for InjectedCrash too, handing the crash-recovery suites a
    // pre-cleaned directory a real kill never produces; now the lease
    // survives the simulated kill and recovery is the documented
    // verify-dead → breakLease → retry
    val dir = seededTokenArchive()
    intercept[graft.streaming.CrashPoints.InjectedCrash] {
      MaintenanceLease.withLease(spark, dir, "killed-maintainer") {
        throw new graft.streaming.CrashPoints.InjectedCrash("test-window")
      }
    }
    assert(MaintenanceLease.holder(spark, dir).exists(_.contains("killed-maintainer")),
      "a simulated kill must leave the named stale lease behind")
    val e = intercept[IllegalStateException] {
      CorpusStats.retractFromTokenStatsArchive(spark, dir,
        docs.where(col("doc_id") === 4L), "doc_id", "text")
    }
    assert(e.getMessage.contains("killed-maintainer"), e.getMessage)
    assert(MaintenanceLease.breakLease(spark, dir))
    CorpusStats.retractFromTokenStatsArchive(spark, dir,
      docs.where(col("doc_id") === 4L), "doc_id", "text")
    assert(MaintenanceLease.holder(spark, dir).isEmpty)
    // any OTHER failure still releases in finally — nothing wedges
    intercept[RuntimeException] {
      MaintenanceLease.withLease(spark, dir, "guard-failure") {
        throw new RuntimeException("own-guard refusal")
      }
    }
    assert(MaintenanceLease.holder(spark, dir).isEmpty,
      "a genuine failure (not a kill) must release the lease")
  }

  test("the stream's in-loop work never takes the lease (forget-under-load contract)") {
    val dir = seededTokenArchive()
    // a held lease must NOT block the sink's batch path — the
    // forget-under-load contract depends on the stream continuing
    MaintenanceLease.withLease(spark, dir, "slow takedown in flight") {
      CorpusStats.processTokenStatsBatch(
        Seq((10L, "lambda mu nu")).toDF("doc_id", "text"), 1L, dir,
        "doc_id", "text", compactEvery = 0)
    }
    val ix = CorpusStats.loadTokenStatsArchive(spark, dir)
    assert(ix.ids.where(col("id") === 10L).count() === 1L,
      "the batch must fold while a maintainer holds the lease")
  }
}
