package graft

import graft.operators.{CorpusStats, Dedup}
import graft.streaming.ArchiveDedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

/**
 * Random OPERATION-SEQUENCE property gate for the archive state
 * machine (round-14 ask #1). Every individual archive operation is
 * proven (oracles q84–q95, the per-operator specs); what remained
 * hand-picked was their COMPOSITION — fold × retract × compact ×
 * window × replay (× reseed for the dedup families) interleave into a
 * state space whose corners are exactly where round 13's vocab-marks
 * bug lived, and example-based specs only visit the sequences someone
 * thought of. These cases generate hundreds of random VALID operation
 * interleavings against REAL on-disk archives (deterministic
 * per-sequence seeds — a failure names its sequence id and replays
 * exactly), and after EVERY step assert the differential recompute
 * oracle that caught the vocab-marks bug, generalized: the archive's
 * observable state must equal a from-scratch batch build over exactly
 * the surviving documents. Invalid steps (retracting un-archived or
 * already-retracted docs, windows over retracted history or folded-away
 * batches, re-ingesting forgotten docs under a fresh batch counter) are
 * injected from the same generator and must REFUSE loudly — and leave
 * the archive observably unchanged.
 *
 * Oracle discipline anchor: the reference's exact-search differential
 * oracle (day_6/day6_complete.py:118-153), applied to archive state.
 *
 * Round 15 additions: (1) ~1 in 4 generated retractions runs with a
 * CONCURRENT MAINTAINER injected at its own commit window
 * (CrashPoints.installOnce at pre-rename) — the second call must
 * refuse on the held MaintenanceLease and the post-step oracle proves
 * it changed nothing, so the lease is now exercised in composition,
 * not just in MaintenanceLeaseSpec's isolation; (2) the per-family
 * sequence counts scale with GRAFT_SEQ_N (unset = the full 280 the
 * CI/driver run always gets; a smoke loop exports e.g. GRAFT_SEQ_N=56
 * for a deterministic prefix in ~1 minute).
 *
 * Throughput: sequences are independent (each owns a temp dir), so
 * they run 4-wide on the shared session — Spark actions are
 * thread-safe and the archive caches are keyed by path. Determinism is
 * per-sequence (seeded), unaffected by interleaving (the injected
 * concurrent-maintainer ops serialize on the JVM-wide hook slot; all
 * other ops stay parallel).
 */
class ArchiveSequenceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // ---- deterministic doc universe ------------------------------------
  // shared tokens (tokN) make retraction genuinely cancel counts other
  // docs still carry; the repeated head token makes unigram occurrence
  // counts diverge from presence marks (the r13 bug class); uniq<id>
  // gives every doc df=1 vocabulary that must vanish with it
  private def text(id: Long): String = {
    val a = s"tok${id % 7}"
    val b = s"tok${(id * 3 + 1) % 7}"
    val c = s"tok${(id * 5 + 2) % 11}"
    s"$a $b $c uniq$id $a"
  }

  private def docsDf(ids: Seq[Long]): DataFrame =
    ids.map(id => (id, text(id))).toDF("doc_id", "text").coalesce(1)

  private def tmp(prefix: String): String =
    TestSpark.tempDir(prefix).toString

  // ---- suite-wall budget (round-15 ask #5) ----------------------------
  // The release gate's full depth is 280 sequences (~6 min of wall);
  // an edit-test loop can export GRAFT_SEQ_N=<total> to scale every
  // family proportionally (floor 2 — e.g. GRAFT_SEQ_N=56 is a ~1-min
  // smoke running a deterministic PREFIX of the full set). UNSET = the
  // full 280: the CI/driver `sbt test` sets nothing, so the release
  // gate always pins today's full counts.
  private val fullCounts = Map(
    "token" -> 80, "ngram" -> 70, "minhash" -> 60,
    "cosine" -> 40, "semantic" -> 30)
  private def seqN(fam: String): Int = {
    val full = fullCounts(fam)
    sys.env.get("GRAFT_SEQ_N").flatMap(_.toIntOption) match {
      case Some(total) =>
        math.max(2, math.round(full.toDouble * total / 280.0).toInt)
      case None => full
    }
  }

  // ---- concurrent-maintainer injection (round-15 ask #4) -------------
  // MaintenanceLeaseSpec proves the lease in isolation; the sequences
  // now exercise it IN COMPOSITION: a randomly-chosen retraction runs
  // with a SECOND maintenance call injected at its own commit window
  // (CrashPoints.installOnce at pre-rename — inside the held lease),
  // which must refuse naming the holder; the op then completes and the
  // caller's post-step recompute oracle proves the refused maintainer
  // changed nothing. The JVM-wide hook is one volatile slot, so
  // injections serialize across the 4-wide pool (the lock covers only
  // the injected ops — everything else stays parallel).
  private val hookLock = new Object
  private def withConcurrentMaintainer[T](window: String)
      (op: => T)(second: () => Unit): T = hookLock.synchronized {
    @volatile var refusal: Option[String] = None
    graft.streaming.CrashPoints.installOnce("pre-rename", window) { () =>
      val e = intercept[IllegalStateException](second())
      refusal = Some(e.getMessage)
    }
    val r = try op finally graft.streaming.CrashPoints.disarm()
    assert(refusal.exists(_.contains("under maintenance")),
      s"a concurrent maintainer inside $window's commit window must " +
        s"refuse on the held lease; got: $refusal")
    r
  }

  private def inPool[T](n: Int)(body: Int => T): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val ec = ExecutionContext.fromExecutorService(pool)
    try {
      val fs = (0 until n).map(i => Future(body(i))(ec))
      Await.result(Future.sequence(fs)(
        implicitly[scala.collection.BuildFrom[Seq[Future[T]], T, Seq[T]]], ec),
        30.minutes)
    } finally pool.shutdown()
  }

  // ---- scalacheck sequence plans ---------------------------------------
  // a plan is drawn ENTIRELY up front (op codes + raw randoms) with a
  // per-sequence deterministic Seed; the interpreter maps raw draws
  // onto whatever choices are valid in the model's current state, so
  // generation stays unconditional and replays are exact
  private final case class OpDraw(pick: Int, a: Int, b: Int)
  private final case class Plan(seedN: Int, compactEvery: Int, draws: List[OpDraw])
  private val drawGen: Gen[OpDraw] = for {
    pick <- Gen.choose(0, 11)
    a <- Gen.choose(0, 1 << 20)
    b <- Gen.choose(0, 1 << 20)
  } yield OpDraw(pick, a, b)
  private def planOf(seed: Long, maxOps: Int): Plan = {
    val g = for {
      seedN <- Gen.choose(3, 5)
      compact <- Gen.oneOf(0, 2)
      n <- Gen.choose(2, maxOps)
      draws <- Gen.listOfN(n, drawGen)
    } yield Plan(seedN, compact, draws)
    g.pureApply(Gen.Parameters.default, Seed(seed))
  }

  /** Deterministic k-subset of `xs`: rotate by `a`, take `k`. */
  private def pickSubset(xs: Seq[Long], a: Int, k: Int): Seq[Long] = {
    val r = a % xs.size
    (xs.drop(r) ++ xs.take(r)).take(k)
  }

  // ---- shared sequence model ------------------------------------------
  /** Mutable model of one archive's history, mirrored against the real
    * directory: which docs each batch carried, which are retracted,
    * which batch slivers are still live under the sink's tier-1
    * compaction rule (fold appends; at 2K−1 live slivers the K oldest
    * merge into a range — the window-preserving twist keeps the newest
    * K−1 live). */
  private final class Model(val seedIds: Seq[Long], val compactEvery: Int) {
    var folded = Vector.empty[(Long, Seq[Long])] // batchId -> doc ids
    var liveSlivers = Vector.empty[Long]
    var retracted = Set.empty[Long]
    var nextBatch = 0L
    def archived: Seq[Long] = seedIds ++ folded.flatMap(_._2)
    def survivors: Seq[Long] = archived.filterNot(retracted)
    def onFold(batchId: Long, ids: Seq[Long]): Unit = {
      folded :+= (batchId, ids)
      liveSlivers :+= batchId
      if (compactEvery >= 2 && liveSlivers.length >= 2 * compactEvery - 1)
        liveSlivers = liveSlivers.drop(compactEvery)
    }
    /** Window of the last w batches: Some(docIds) when the load must
      * succeed, None when it must refuse (not enough batches, a needed
      * sliver folded away, or retracted docs inside the window). */
    def windowDocs(w: Int): Option[Seq[Long]] = {
      val all = folded.map(_._1)
      if (all.length < w) return None
      val want = all.takeRight(w)
      if (!want.forall(liveSlivers.contains)) return None
      val docs = folded.filter(f => want.contains(f._1)).flatMap(_._2)
      if (docs.exists(retracted)) None else Some(docs)
    }
  }

  // ---- family under test ------------------------------------------------
  private trait Family {
    val name: String
    def seed(dir: String, ids: Seq[Long]): Unit
    def fold(dir: String, batchId: Long, ids: Seq[Long], compactEvery: Int): Unit
    def retract(dir: String, ids: Seq[Long]): Unit
    /** Collected observable of the live archive. */
    def observe(dir: String): Any
    /** The same observable from a from-scratch batch build over `ids`. */
    def recompute(ids: Seq[Long]): Any
    /** Windowed observable (both stats families implement it). */
    def windowObserve(dir: String, w: Int): Any
  }

  private object TokenFamily extends Family {
    val name = "token"
    def seed(dir: String, ids: Seq[Long]): Unit =
      CorpusStats.seedTokenStatsArchive(docsDf(ids), dir, "doc_id", "text")
    def fold(dir: String, batchId: Long, ids: Seq[Long], compactEvery: Int): Unit =
      CorpusStats.processTokenStatsBatch(docsDf(ids), batchId, dir,
        "doc_id", "text", compactEvery)
    def retract(dir: String, ids: Seq[Long]): Unit =
      CorpusStats.retractFromTokenStatsArchive(spark, dir, docsDf(ids),
        "doc_id", "text")
    private def obsOf(ix: CorpusStats.TokenStatsIndex): Any =
      (CorpusStats.tokenDf(ix).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap,
        ix.ids.collect().map(_.getLong(0)).toSet)
    def observe(dir: String): Any =
      obsOf(CorpusStats.loadTokenStatsArchive(spark, dir))
    def recompute(ids: Seq[Long]): Any =
      obsOf(CorpusStats.buildTokenStats(docsDf(ids), "doc_id", "text"))
    override def windowObserve(dir: String, w: Int): Any =
      obsOf(CorpusStats.loadTokenStatsArchive(spark, dir, Some(w)))
  }

  private object NgramFamily extends Family {
    val name = "ngram"
    def seed(dir: String, ids: Seq[Long]): Unit =
      CorpusStats.seedNgramStatsArchive(docsDf(ids), dir, "doc_id", "text")
    def fold(dir: String, batchId: Long, ids: Seq[Long], compactEvery: Int): Unit =
      CorpusStats.processNgramStatsBatch(docsDf(ids), batchId, dir,
        "doc_id", "text", compactEvery)
    def retract(dir: String, ids: Seq[Long]): Unit =
      CorpusStats.retractFromNgramStatsArchive(spark, dir, docsDf(ids),
        "doc_id", "text")
    private def obsOf(ix: CorpusStats.NgramStatsIndex): Any = {
      val pairs = ix.pairParts.groupBy(col("__h1"), col("__h2"))
        .agg(sum(col("pc_part")).as("pc")).where(col("pc") > 0)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      val ctx = ix.contextParts.groupBy(col("__h1"))
        .agg(sum(col("cc_part")).as("cc")).where(col("cc") > 0)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val vocab = ix.unigrams.groupBy(col("h"))
        .agg(sum(col("u_part")).as("u")).where(col("u") > 0).count()
      val ids = ix.ids.collect().map(_.getLong(0)).toSet
      (pairs, ctx, vocab, ids)
    }
    def observe(dir: String): Any =
      obsOf(CorpusStats.loadNgramStatsArchive(spark, dir))
    def recompute(ids: Seq[Long]): Any =
      obsOf(CorpusStats.buildNgramStats(docsDf(ids), "doc_id", "text"))
    override def windowObserve(dir: String, w: Int): Any =
      obsOf(CorpusStats.loadNgramStatsArchive(spark, dir, Some(w)))
  }

  /** One generated sequence against a real on-disk stats archive. */
  private def runStatsSequence(fam: Family, seqIdx: Int): Unit = {
    val plan = planOf(7000L * (fam.name.hashCode & 0xff) + seqIdx, maxOps = 6)
    val dir = tmp(s"graft-seq-${fam.name}-$seqIdx")
    var nextDoc = 1000L * seqIdx // per-sequence id space (parallel-safe)
    def freshIds(n: Int): Seq[Long] = {
      val ids = nextDoc until (nextDoc + n); nextDoc += n; ids
    }
    val m = new Model(freshIds(plan.seedN), plan.compactEvery)
    fam.seed(dir, m.seedIds)

    def checkCumulative(where: String): Unit =
      assert(fam.observe(dir) === fam.recompute(m.survivors),
        s"${fam.name} seq $seqIdx: archive != recompute over survivors $where " +
          s"(seed=${m.seedIds}, folded=${m.folded}, retracted=${m.retracted})")

    checkCumulative("after seed")
    plan.draws.zipWithIndex.foreach { case (d, step) =>
      if (d.pick < 4) { // fold a fresh batch
        val ids = freshIds(2 + d.a % 3)
        fam.fold(dir, m.nextBatch, ids, m.compactEvery)
        m.onFold(m.nextBatch, ids); m.nextBatch += 1
      } else if (d.pick < 7) { // retract a live subset (never the last doc)
        val live = m.survivors
        if (live.size >= 2) {
          val victims = pickSubset(live, d.a, 1 + d.b % (live.size - 1))
          // ~1 in 4 retractions runs with a concurrent maintainer
          // injected at its commit window — must refuse on the lease
          if (d.b % 4 == 0)
            withConcurrentMaintainer(s"$dir/x")(fam.retract(dir, victims))(
              () => fam.retract(dir, Seq(live.head)))
          else fam.retract(dir, victims)
          m.retracted ++= victims
        }
      } else if (d.pick < 9) { // windowed load (valid or must-refuse)
        if (m.folded.nonEmpty) {
          val w = 1 + d.a % (m.folded.length + 1)
          m.windowDocs(w) match {
            case Some(docs) =>
              assert(fam.windowObserve(dir, w) === fam.recompute(docs),
                s"${fam.name} seq $seqIdx step $step: window($w) != " +
                  s"recompute over $docs")
            case None =>
              intercept[IllegalArgumentException](fam.windowObserve(dir, w))
          }
        }
      } else if (d.pick == 9) { // replay a folded batch: must skip silently
        if (m.folded.nonEmpty) {
          val (bid, ids) = m.folded(d.a % m.folded.length)
          fam.fold(dir, bid, ids, m.compactEvery) // same id, same docs
        }
      } else if (d.pick == 10) { // retry/invalid retract
        if (m.retracted.nonEmpty && d.a % 2 == 0)
          // crash-retry semantics (round 14): an already-retracted
          // victim set SKIPS — the post-step oracle proves no change
          fam.retract(dir, Seq(m.retracted.head))
        else
          intercept[IllegalArgumentException](
            fam.retract(dir, freshIds(1)))
      } else { // re-ingest forgotten docs under a fresh batch id: refuse
        if (m.retracted.nonEmpty)
          intercept[IllegalStateException] {
            fam.fold(dir, m.nextBatch + 100L, Seq(m.retracted.head),
              m.compactEvery)
          }
      }
      checkCumulative(s"after step $step (pick ${d.pick})")
    }
  }

  /** Minhash twin: fold/forget/replay/reseed against a real dedup
    * archive; the observable is the live index's (sets, buckets) —
    * banding is a pure per-row function, so at every step it must equal
    * a fresh build over exactly the surviving docs. */
  private def runMinhashSequence(seqIdx: Int): Unit = {
    val plan = planOf(91000L + seqIdx, maxOps = 5)
    val dir = tmp(s"graft-seq-mh-$seqIdx")
    val pairsDir = tmp(s"graft-seq-mh-p-$seqIdx")
    var nextDoc = 1000L * seqIdx
    def freshIds(n: Int): Seq[Long] = {
      val ids = nextDoc until (nextDoc + n); nextDoc += n; ids
    }
    val m = new Model(freshIds(plan.seedN), plan.compactEvery)
    ArchiveDedup.seedArchive(Dedup.buildMinhashIndex(docsDf(m.seedIds), "doc_id", "text"), dir)

    def obsOf(sets: DataFrame, buckets: DataFrame): Any =
      (sets.collect().map(r => r.getLong(0) -> r.getSeq[Any](1).toVector).toMap,
        buckets.collect().map(r => (r.get(0), r.get(1))).toSet)
    def check(where: String): Unit = {
      val (ix, _) = ArchiveDedup.loadLatest(spark, dir, Dedup.MinhashIndex)
      val fresh = Dedup.buildMinhashIndex(docsDf(m.survivors), "doc_id", "text")
      assert(obsOf(ix.sets, ix.buckets) === obsOf(fresh.sets, fresh.buckets),
        s"minhash seq $seqIdx: archive != fresh build over survivors $where " +
          s"(seed=${m.seedIds}, folded=${m.folded}, retracted=${m.retracted})")
    }

    check("after seed")
    plan.draws.zipWithIndex.foreach { case (d, step) =>
      val pick = d.pick % 10
      if (pick < 4) { // fold
        val ids = freshIds(2 + d.a % 3)
        ArchiveDedup.processBatch(docsDf(ids), m.nextBatch, dir, pairsDir,
          "doc_id", "text", 0.5, compactEvery = m.compactEvery)
        m.onFold(m.nextBatch, ids); m.nextBatch += 1
      } else if (pick < 7) { // forget a live subset (never the last doc)
        val live = m.survivors
        if (live.size >= 2) {
          val victims = pickSubset(live, d.a, 1 + d.b % (live.size - 1))
          if (d.b % 4 == 0)
            withConcurrentMaintainer(s"$dir/r")(
              ArchiveDedup.forgetDocs(spark, dir, victims.toDF("id")))(
              () => ArchiveDedup.forgetDocs(spark, dir, Seq(live.head).toDF("id")))
          else ArchiveDedup.forgetDocs(spark, dir, victims.toDF("id"))
          m.retracted ++= victims
        }
      } else if (pick == 7) { // replay: must skip
        if (m.folded.nonEmpty) {
          val (bid, ids) = m.folded(d.a % m.folded.length)
          ArchiveDedup.processBatch(docsDf(ids), bid, dir, pairsDir,
            "doc_id", "text", 0.5, compactEvery = m.compactEvery)
        }
      } else if (pick == 8) { // reseed over the surviving corpus
        if (m.folded.nonEmpty)
          ArchiveDedup.reseedMinhashArchive(docsDf(m.survivors), dir,
            "doc_id", "text")
      } else { // retry/invalid forget: ledgered ids SKIP, unknown ids refuse
        if (m.retracted.nonEmpty && d.a % 2 == 0)
          // crash-retry semantics (round 14): already-ledgered victims
          // are a clean no-op — the post-step oracle proves no change
          ArchiveDedup.forgetDocs(spark, dir, Seq(m.retracted.head).toDF("id"))
        else {
          val Seq(bad) = freshIds(1)
          intercept[IllegalArgumentException](
            ArchiveDedup.forgetDocs(spark, dir, Seq(bad).toDF("id")))
        }
      }
      check(s"after step $step (pick $pick)")
    }
  }

  /** Cosine twin: fold/forget/replay/reseed against the hyperplane-LSH
    * embedding archive. The reseed re-randomizes the hyperplane seed,
    * so the seed-agnostic observable is (vecs = id → vector, plus the
    * internal banding invariant that every vector is bucketed): at
    * every step the archive's vectors must be EXACTLY the surviving
    * fixture vectors, and buckets' id set must equal vecs' id set. */
  private def vec(id: Long): Seq[Float] =
    Seq.tabulate(8)(i => (((id * 31 + i * 7) % 13) - 6).toFloat)

  private def vecsDf(ids: Seq[Long]): DataFrame =
    ids.map(id => (id, vec(id))).toDF("vec_id", "v").coalesce(1)

  private def runCosineSequence(seqIdx: Int): Unit = {
    val plan = planOf(173000L + seqIdx, maxOps = 5)
    val dir = tmp(s"graft-seq-cos-$seqIdx")
    val pairsDir = tmp(s"graft-seq-cos-p-$seqIdx")
    var nextDoc = 1000L * seqIdx
    def freshIds(n: Int): Seq[Long] = {
      val ids = nextDoc until (nextDoc + n); nextDoc += n; ids
    }
    val m = new Model(freshIds(plan.seedN), plan.compactEvery)
    ArchiveDedup.seedArchive(Dedup.buildCosineIndex(vecsDf(m.seedIds), "vec_id", "v"), dir)

    def check(where: String): Unit = {
      val (ix, _) = ArchiveDedup.loadLatest(spark, dir, Dedup.CosineIndex)
      val got = ix.vecs.collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toVector).toMap
      val want = m.survivors.map(id => id -> vec(id).toVector).toMap
      assert(got === want,
        s"cosine seq $seqIdx: archive vecs != surviving fixture $where " +
          s"(seed=${m.seedIds}, folded=${m.folded}, retracted=${m.retracted})")
      val bucketIds = ix.buckets.select(col("id")).distinct()
        .collect().map(_.getLong(0)).toSet
      assert(bucketIds === want.keySet,
        s"cosine seq $seqIdx: banding lost/leaked ids $where")
    }

    check("after seed")
    plan.draws.zipWithIndex.foreach { case (d, step) =>
      val pick = d.pick % 10
      if (pick < 4) { // fold
        val ids = freshIds(2 + d.a % 3)
        ArchiveDedup.processBatch(vecsDf(ids), m.nextBatch, dir,
          pairsDir, "vec_id", "v", 0.9, compactEvery = m.compactEvery)
        m.onFold(m.nextBatch, ids); m.nextBatch += 1
      } else if (pick < 7) { // forget a live subset (never the last doc)
        val live = m.survivors
        if (live.size >= 2) {
          val victims = pickSubset(live, d.a, 1 + d.b % (live.size - 1))
          if (d.b % 4 == 0)
            withConcurrentMaintainer(s"$dir/r")(
              ArchiveDedup.forgetDocs(spark, dir, victims.toDF("id")))(
              () => ArchiveDedup.forgetDocs(spark, dir, Seq(live.head).toDF("id")))
          else ArchiveDedup.forgetDocs(spark, dir, victims.toDF("id"))
          m.retracted ++= victims
        }
      } else if (pick == 7) { // replay: must skip
        if (m.folded.nonEmpty) {
          val (bid, ids) = m.folded(d.a % m.folded.length)
          ArchiveDedup.processBatch(vecsDf(ids), bid, dir, pairsDir,
            "vec_id", "v", 0.9, compactEvery = m.compactEvery)
        }
      } else if (pick == 8) { // in-place reseed (re-randomized hyperplanes)
        if (m.folded.nonEmpty)
          ArchiveDedup.reseedArchive(spark, dir)
      } else { // retry/invalid forget: ledgered ids SKIP, unknown ids refuse
        if (m.retracted.nonEmpty && d.a % 2 == 0)
          ArchiveDedup.forgetDocs(spark, dir, Seq(m.retracted.head).toDF("id"))
        else {
          val Seq(bad) = freshIds(1)
          intercept[IllegalArgumentException](
            ArchiveDedup.forgetDocs(spark, dir, Seq(bad).toDF("id")))
        }
      }
      check(s"after step $step (pick $pick)")
    }
  }

  test("token-stats archive: random operation sequences (80 full / GRAFT_SEQ_N-scaled), recompute-oracle-checked at every step") {
    inPool(seqN("token"))(i => runStatsSequence(TokenFamily, i))
  }

  test("ngram-stats archive: random operation sequences (70 full / GRAFT_SEQ_N-scaled), recompute-oracle-checked at every step") {
    inPool(seqN("ngram"))(i => runStatsSequence(NgramFamily, i))
  }

  test("minhash archive: random operation sequences (60 full / GRAFT_SEQ_N-scaled, incl. reseed), fresh-build-oracle-checked at every step") {
    inPool(seqN("minhash"))(runMinhashSequence)
  }

  test("cosine archive: random operation sequences (40 full / GRAFT_SEQ_N-scaled, incl. re-randomizing reseed), survivor-oracle-checked at every step") {
    inPool(seqN("cosine"))(runCosineSequence)
  }

  /** Semantic (pinned-centroid) twin — the fifth archive family, so
    * every family is sequence-gated. Observable: members = surviving
    * fixture vectors exactly, with every member assigned to a cluster. */
  private def runSemanticSequence(seqIdx: Int): Unit = {
    val plan = planOf(251000L + seqIdx, maxOps = 5)
    val dir = tmp(s"graft-seq-sem-$seqIdx")
    val pairsDir = tmp(s"graft-seq-sem-p-$seqIdx")
    var nextDoc = 1000L * seqIdx
    def freshIds(n: Int): Seq[Long] = {
      val ids = nextDoc until (nextDoc + n); nextDoc += n; ids
    }
    val m = new Model(freshIds(plan.seedN), plan.compactEvery)
    val centroids = Array(vec(1L).toArray, vec(5L).toArray, vec(11L).toArray)
    ArchiveDedup.seedArchive(Dedup.buildSemanticIndex(vecsDf(m.seedIds), "vec_id", "v",
      centroids), dir)

    def check(where: String): Unit = {
      val (ix, _) = ArchiveDedup.loadLatest(spark, dir, Dedup.SemanticIndex)
      val got = ix.members.select(col("id"), col("v")).collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toVector).toMap
      val want = m.survivors.map(id => id -> vec(id).toVector).toMap
      assert(got === want,
        s"semantic seq $seqIdx: archive members != surviving fixture $where " +
          s"(seed=${m.seedIds}, folded=${m.folded}, retracted=${m.retracted})")
    }

    check("after seed")
    plan.draws.zipWithIndex.foreach { case (d, step) =>
      val pick = d.pick % 10
      if (pick < 4) { // fold
        val ids = freshIds(2 + d.a % 3)
        ArchiveDedup.processBatch(vecsDf(ids), m.nextBatch, dir,
          pairsDir, "vec_id", "v", 0.9, compactEvery = m.compactEvery)
        m.onFold(m.nextBatch, ids); m.nextBatch += 1
      } else if (pick < 7) { // forget
        val live = m.survivors
        if (live.size >= 2) {
          val victims = pickSubset(live, d.a, 1 + d.b % (live.size - 1))
          if (d.b % 4 == 0)
            withConcurrentMaintainer(s"$dir/r")(
              ArchiveDedup.forgetDocs(spark, dir, victims.toDF("id")))(
              () => ArchiveDedup.forgetDocs(spark, dir, Seq(live.head).toDF("id")))
          else ArchiveDedup.forgetDocs(spark, dir, victims.toDF("id"))
          m.retracted ++= victims
        }
      } else if (pick == 7) { // replay: must skip
        if (m.folded.nonEmpty) {
          val (bid, ids) = m.folded(d.a % m.folded.length)
          ArchiveDedup.processBatch(vecsDf(ids), bid, dir, pairsDir,
            "vec_id", "v", 0.9, compactEvery = m.compactEvery)
        }
      } else if (pick == 8) { // reseed: centroids re-fit to the survivors
        // k=3 refit needs at least k surviving members
        if (m.folded.nonEmpty && m.survivors.size >= 4)
          ArchiveDedup.reseedArchive(spark, dir)
      } else { // retry/invalid forget: ledgered ids SKIP, unknown ids refuse
        if (m.retracted.nonEmpty && d.a % 2 == 0)
          ArchiveDedup.forgetDocs(spark, dir, Seq(m.retracted.head).toDF("id"))
        else {
          val Seq(bad) = freshIds(1)
          intercept[IllegalArgumentException](
            ArchiveDedup.forgetDocs(spark, dir, Seq(bad).toDF("id")))
        }
      }
      check(s"after step $step (pick $pick)")
    }
  }

  test("semantic archive: random operation sequences (30 full / GRAFT_SEQ_N-scaled, incl. centroid-refit reseed), survivor-oracle-checked at every step") {
    inPool(seqN("semantic"))(runSemanticSequence)
  }
}
