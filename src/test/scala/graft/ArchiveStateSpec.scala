package graft

import graft.operators.Dedup
import graft.streaming.ArchiveDedup
import graft.streaming.ArchiveDedup.ArchiveState
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/**
 * The archive's bookkeeping model ([[ArchiveState]]) is the single
 * source of truth for replay skips, reader unions, compaction-source
 * selection, and GC — a wrong `covered()`/`liveRanges` answer is
 * silent data loss or a two-generation LIVE mix. These properties pin
 * its invariants over GENERATED states (random slivers, gapped ranges
 * with/without manifests, reseed generations), deterministic seeds —
 * the failure shapes hand-written cases miss live in the corners of
 * this state space (overlapping ranges, manifests claiming less than
 * their interval, a reseed that covers only part of a range).
 *
 * Plus the O(1)-plan gate: a reader's multi-path relation must plan ONE
 * FileScan per component regardless of how many entries the stream has
 * accumulated (the round-10 fix this repo's 100 TB posture leans on).
 */
class ArchiveStateSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val idGen = Gen.choose(0L, 40L)
  private val rangeGen: Gen[((Long, Long), Option[Set[Long]])] = for {
    lo <- Gen.choose(0L, 30L)
    len <- Gen.choose(0L, 10L)
    hi = lo + len
    // a manifest claims a subset of [lo, hi] that includes the endpoints
    // (mergeEntries names the range from the min/max merged ids)
    withManifest <- Gen.oneOf(true, false)
    inner <- Gen.someOf(lo to hi)
  } yield ((lo, hi),
    if (withManifest) Some(inner.toSet + lo + hi) else None)

  private val stateGen: Gen[ArchiveState] = for {
    slivers <- Gen.listOf(idGen).map(_.distinct)
    ranges <- Gen.listOfN(4, rangeGen).map(_.distinctBy(_._1))
    nReseeds <- Gen.choose(0, 2)
    reseedSets <- Gen.listOfN(nReseeds, Gen.someOf(0L to 40L))
  } yield {
    val rs = reseedSets.zipWithIndex.map { case (ids, i) =>
      val set = ids.toSet
      (set.foldLeft(-1L)(math.max) max (10L * i), set)
    }
    ArchiveState(
      slivers,
      ranges.map(_._1),
      ranges.collect { case (r, Some(m)) => r -> m }.toMap,
      rs)
  }

  private def states(n: Int, seed: Long): Seq[ArchiveState] =
    (0 until n).map(i => stateGen.pureApply(Gen.Parameters.default, Seed(seed + i)))

  test("covered() is exactly membership in a maximal range's claim or the latest reseed") {
    states(200, 11L).foreach { st =>
      val latest = st.latestReseed.map(_._2).getOrElse(Set.empty[Long])
      (0L to 45L).foreach { id =>
        val byRange = st.maximalRanges.exists(r => st.coveredByRange(r, id))
        assert(st.covered(id) === (byRange || latest.contains(id)),
          s"covered($id) disagrees with the claim model in $st")
      }
    }
  }

  test("liveSlivers and covered slivers partition the sliver set") {
    states(200, 23L).foreach { st =>
      val live = st.liveSlivers.toSet
      assert(live.intersect(st.slivers.filter(st.covered).toSet).isEmpty)
      assert(live.union(st.slivers.filter(st.covered).toSet) === st.slivers.toSet)
      assert(st.liveSlivers === st.liveSlivers.sorted, "reader order is sorted")
    }
  }

  test("liveRanges are maximal, never reseed-superseded, and cover every non-reseed claim") {
    states(200, 37L).foreach { st =>
      val latest = st.latestReseed.map(_._2).getOrElse(Set.empty[Long])
      val live = st.liveRanges
      assert(live.forall(st.maximalRanges.contains), s"non-maximal live range in $st")
      live.foreach { r =>
        assert(!st.idsOfRange(r).forall(latest.contains),
          s"live range $r is wholly folded into the latest reseed in $st")
      }
      // no claimed id is lost: every id a range claims is either visible
      // through a live range or folded into the latest reseed
      st.maximalRanges.flatMap(st.idsOfRange).foreach { id =>
        assert(live.exists(r => st.coveredByRange(r, id)) || latest.contains(id),
          s"claimed id $id invisible to readers in $st")
      }
    }
  }

  test("allFoldedIds absorbs every sliver, range claim, and the latest reseed; lastFolded is its max") {
    states(200, 53L).foreach { st =>
      val all = st.allFoldedIds
      st.slivers.foreach(id => assert(all.contains(id)))
      st.ranges.foreach(r => st.idsOfRange(r).foreach(id => assert(all.contains(id))))
      st.latestReseed.foreach(_._2.foreach(id => assert(all.contains(id))))
      val expectMax = (st.slivers ++ st.ranges.map(_._2) ++
        st.reseeds.flatMap(r => r._2 + r._1)).foldLeft(-1L)(math.max)
      assert(st.lastFolded === expectMax)
    }
  }

  test("a gap id inside a manifested range's interval is never covered") {
    states(200, 71L).foreach { st =>
      st.maximalRanges.foreach { r =>
        st.manifests.get(r).foreach { m =>
          ((r._1 to r._2).toSet -- m).foreach { gap =>
            assert(!st.coveredByRange(r, gap),
              s"gap id $gap wrongly covered by manifested range $r in $st")
          }
        }
      }
    }
  }

  test("reader plan is O(1) in stream age: one FileScan per component however many entries") {
    val archive = TestSpark.tempDir("graft-arch-o1").toString
    val pairsDir = TestSpark.tempDir("graft-arch-o1p").toString
    ArchiveDedup.seedArchive(Dedup.buildMinhashIndex(
      Seq((0L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text"),
      "doc_id", "text"), archive)
    def scanCount(): Int = {
      val (ix, _) = ArchiveDedup.loadLatest(spark, archive, Dedup.MinhashIndex)
      ix.buckets.queryExecution.executedPlan.toString
        .linesIterator.count(_.contains("FileScan"))
    }
    def fold(b: Long): Unit = ArchiveDedup.processBatch(
      Seq((100L + b, "eta theta iota kappa lambda mu")).toDF("doc_id", "text"),
      b, archive, pairsDir, "doc_id", "text", 0.5, compactEvery = 4)
    (0L to 2L).foreach(fold)
    val at3 = scanCount()
    (3L to 9L).foreach(fold)
    val at10 = scanCount()
    assert(at3 === 1 && at10 === 1,
      s"archive reader must plan ONE multi-path FileScan per component " +
        s"(got $at3 at 3 entries, $at10 at 10 — a per-entry union is back)")
  }
}
