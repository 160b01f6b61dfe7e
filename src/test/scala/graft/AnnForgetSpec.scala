package graft

import graft.operators.AnnIndex
import graft.streaming.CrashPoints
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Takedown for persisted IVF index artifacts
 * ([[AnnIndex.forgetFromIndex]], round-14 ask #7): the anti-join
 * forget aligned with the serving delta map's point delete — removal
 * from the on-disk inverted file at a cost proportional to the
 * AFFECTED CLUSTERS (the partition-pruned scale story), never a
 * rebuild; crash-retryable through the retire-swap + sidecar protocol.
 */
class AnnForgetSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(prefix: String): String =
    TestSpark.tempDir(prefix).toString

  private lazy val e = Tables(spark, TestSpark.sfDir, "embeddings").cache()

  private def rowsOf(path: String): Set[(Long, Int)] =
    spark.read.parquet(s"$path/assignments")
      .select(col("id"), col("cluster"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet

  private def fsOf(path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())

  test("forget rewrites ONLY the victims' clusters; survivors and centroids untouched") {
    val path = tmp("graft-annforget-a")
    val ix = AnnIndex.buildIvf(e, "vec_id", "embedding", nlist = 8)
    AnnIndex.writeIndex(ix, path)
    val before = rowsOf(path)
    // victims from ONE cluster: the narrow (per-partition) path
    val oneCluster = before.groupBy(_._2).maxBy(_._2.size)
    val victims = oneCluster._2.toSeq.sortBy(_._1).take(3).map(_._1)
    val victimClusters = before.filter(r => victims.contains(r._1)).map(_._2)
    val untouched = before.map(_._2).toSeq.distinct
      .filterNot(victimClusters.contains)
    assert(untouched.nonEmpty, "fixture must leave some clusters untouched")
    val fs = fsOf(path)
    def mtimeOf(c: Int): Long =
      fs.getFileStatus(new org.apache.hadoop.fs.Path(
        s"$path/assignments/cluster=$c")).getModificationTime
    val mtimes = untouched.map(c => c -> mtimeOf(c)).toMap
    AnnIndex.forgetFromIndex(spark, path, victims.toDF("id"))
    // survivors exactly; victims gone; centroids (pinned params) intact
    assert(rowsOf(path) === before.filterNot(r => victims.contains(r._1)))
    val reopened = AnnIndex.openIndex(spark, path)
    assert(reopened.centroids.map(_._2.toSeq).toSeq ===
      ix.centroids.map(_._2.toSeq).toSeq)
    // the scale claim, executed: untouched partition dirs were not rewritten
    untouched.foreach(c => assert(mtimeOf(c) === mtimes(c),
      s"cluster $c held no victims but was rewritten"))
    // no maintenance debris
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/.forget-inprogress")))
    // a search over the reopened index never returns a victim
    val qs = (0L until 5L).map(id => id -> Tables.queryVector(spark, TestSpark.sfDir, id))
    val hits = AnnIndex.searchIvf(reopened, qs, k = 10, nprobe = 8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(hits.intersect(victims.toSet).isEmpty)
  }

  test("forget refuses ids the index never held") {
    val path = tmp("graft-annforget-b")
    AnnIndex.writeIndex(AnnIndex.buildIvf(e, "vec_id", "embedding", nlist = 4), path)
    val e1 = intercept[IllegalArgumentException] {
      AnnIndex.forgetFromIndex(spark, path, Seq(999999L).toDF("id"))
    }
    assert(e1.getMessage.contains("not in the index"), e1.getMessage)
  }

  test("crash mid-takedown: the retry recognizes the sidecar and finishes; a different victim set refuses") {
    val path = tmp("graft-annforget-c")
    AnnIndex.writeIndex(AnnIndex.buildIvf(e, "vec_id", "embedding", nlist = 8), path)
    val before = rowsOf(path)
    // two victims in two DIFFERENT clusters, so the crash can land
    // between the first and second cluster rewrite
    val byCluster = before.groupBy(_._2).toSeq.sortBy(_._1)
    assert(byCluster.size >= 2)
    val victims = Seq(byCluster(0)._2.head._1, byCluster(1)._2.head._1)
    val firstCluster = before.find(r => r._1 == victims.sorted.head).get._2
    CrashPoints.armOnce("pre-rename", path)
    try {
      intercept[CrashPoints.InjectedCrash] {
        AnnIndex.forgetFromIndex(spark, path, victims.toDF("id"))
      }
    } finally CrashPoints.disarm()
    val fs = fsOf(path)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$path/.forget-inprogress")),
      "the crashed takedown must leave its sidecar")
    // per-cluster atomicity: the crashed thread swapped nothing, a
    // sibling swap may have completed — so the only rows missing are
    // victims, and no survivor was lost
    val mid = rowsOf(path)
    assert(mid.subsetOf(before))
    assert((before -- mid).forall(r => victims.contains(r._1)),
      s"crash lost non-victim rows: ${(before -- mid).filterNot(r => victims.contains(r._1))}")
    // the kill left the maintainer's stale lease (round 15 — the crash
    // seam no longer hands recovery a pre-cleaned directory): recovery
    // verifies the named holder is dead and breaks it
    assert(graft.streaming.MaintenanceLease.holder(spark, path)
      .exists(_.contains("forgetFromIndex")),
      "a killed takedown must leave its named stale lease behind")
    assert(graft.streaming.MaintenanceLease.breakLease(spark, path))
    // a DIFFERENT takedown refuses until the crashed one finishes
    val other = before.map(_._1).toSeq.sorted.takeRight(1)
    val e2 = intercept[IllegalArgumentException] {
      AnnIndex.forgetFromIndex(spark, path, other.toDF("id"))
    }
    assert(e2.getMessage.contains("forget-inprogress"), e2.getMessage)
    // the retry with the ORIGINAL ids finishes the sweep and cleans up
    AnnIndex.forgetFromIndex(spark, path, victims.toDF("id"))
    assert(rowsOf(path) === before.filterNot(r => victims.contains(r._1)))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/.forget-inprogress")))
    assert(firstCluster >= 0) // anchor: victims spanned distinct clusters
  }

  test("crashed retire-swap states recover: swap completed, and swap half-done") {
    val path = tmp("graft-annforget-d")
    AnnIndex.writeIndex(AnnIndex.buildIvf(e, "vec_id", "embedding", nlist = 4), path)
    val before = rowsOf(path)
    val fs = fsOf(path)
    val c = before.head._2
    val live = new org.apache.hadoop.fs.Path(s"$path/assignments/cluster=$c")
    val retired = new org.apache.hadoop.fs.Path(s"$path/assignments/.retired-cluster-$c")
    // state A: crash between retire and rename-in (live missing, temp full)
    val tmpDir = new org.apache.hadoop.fs.Path(s"$path/assignments/.inprogress-cluster-$c")
    spark.read.parquet(live.toString).localCheckpoint()
      .write.mode("overwrite").parquet(tmpDir.toString)
    assert(fs.rename(live, retired))
    // recovery runs at the head of any takedown: use a victim in ANOTHER cluster
    val otherVictim = before.find(_._2 != c).get._1
    AnnIndex.forgetFromIndex(spark, path, Seq(otherVictim).toDF("id"))
    assert(fs.exists(live) && !fs.exists(retired) && !fs.exists(tmpDir),
      "recovery must restore the half-swapped cluster")
    assert(rowsOf(path) === before.filterNot(_._1 == otherVictim))
  }

  test("completed takedowns skip on a lost-ack retry (persistent ledger); a rebuilt index re-retracts re-ingested ids") {
    val path = tmp("graft-annforget-f")
    val ix = AnnIndex.buildIvf(e, "vec_id", "embedding", nlist = 8)
    AnnIndex.writeIndex(ix, path)
    val before = rowsOf(path)
    val victims = before.toSeq.sortBy(_._1).take(2).map(_._1)
    AnnIndex.forgetFromIndex(spark, path, victims.toDF("id"))
    val after = rowsOf(path)
    assert(after === before.filterNot(r => victims.contains(r._1)))
    // at-least-once compliance retry AFTER completion (the ack was
    // lost): pre-r15 this refused "not in the index"; the persistent
    // .forgotten ledger now recognizes the completed takedown and skips
    AnnIndex.forgetFromIndex(spark, path, victims.toDF("id"))
    assert(rowsOf(path) === after, "lost-ack retry must be a no-op")
    // a MIXED batch (one completed victim + one live id) retracts only
    // the live part — the ledger excuses, it never blocks
    val live = after.head._1
    AnnIndex.forgetFromIndex(spark, path, Seq(victims.head, live).toDF("id"))
    assert(rowsOf(path) === after.filterNot(_._1 == live))
    // genuinely unknown ids still refuse
    val e1 = intercept[IllegalArgumentException] {
      AnnIndex.forgetFromIndex(spark, path, Seq(999999L).toDF("id"))
    }
    assert(e1.getMessage.contains("not in the index"), e1.getMessage)
    // RE-INGESTION: the index is rebuilt over a corpus that still
    // contains a forgotten id — the ledger must not excuse the live
    // copy; the repeat takedown removes it again
    AnnIndex.writeIndex(ix, path)
    assert(rowsOf(path) === before, "rebuild restores the full index")
    AnnIndex.forgetFromIndex(spark, path, victims.toDF("id"))
    assert(rowsOf(path) === before.filterNot(r => victims.contains(r._1)),
      "a ledgered id live again after a rebuild must be retracted, not excused")
  }

  test("widely-spread victims take the full-sweep path: one-job rewrite, same exactness") {
    val path = tmp("graft-annforget-e")
    AnnIndex.writeIndex(AnnIndex.buildIvf(e, "vec_id", "embedding", nlist = 8), path)
    val before = rowsOf(path)
    // one victim from >max(4, nlist/4)=4 distinct clusters → full sweep
    val victims = before.groupBy(_._2).toSeq.sortBy(_._1).take(6)
      .map(_._2.minBy(_._1)._1)
    AnnIndex.forgetFromIndex(spark, path, victims.toDF("id"))
    assert(rowsOf(path) === before.filterNot(r => victims.contains(r._1)))
    val fs = fsOf(path)
    Seq(".forget-inprogress", ".retired-assignments", ".inprogress-assignments")
      .foreach(d => assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/$d")),
        s"full-sweep left debris $d"))
    // the swapped-in table still opens and searches partition-pruned
    val reopened = AnnIndex.openIndex(spark, path)
    val qs = (0L until 3L).map(id => id -> Tables.queryVector(spark, TestSpark.sfDir, id))
    val hits = AnnIndex.searchIvf(reopened, qs, k = 5, nprobe = 8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(hits.intersect(victims.toSet).isEmpty)
  }
}
