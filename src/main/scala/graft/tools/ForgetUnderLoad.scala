package graft.tools

import graft.operators.{CorpusStats, Dedup}
import graft.streaming.ArchiveDedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Forget-UNDER-LOAD measurement (round-14 ask #6; stats families added
 * round 15 per ask #6): ForgetScale times takedowns against a QUIESCED
 * archive; the contract says the stream keeps running and — for the
 * dedup families, whose takedown commits a full generation — a fold
 * racing that commit ABORTS it (retry wins). This tool executes the
 * interaction at scale and publishes it: a background "stream" thread
 * folds delta batches back-to-back through the real per-batch operator
 * while the main thread, mid-stream, runs the takedown with
 * retry-on-abort — reporting per-batch walls (marking batches that
 * overlapped the takedown), the takedown's per-attempt wall, the
 * abort/retry count, and the end-state check (victims gone, survivors
 * + raced batches all present and exact).
 *
 * The STATS families' takedown (`retractFrom*StatsArchive`) commits an
 * ADDITIVE x entry instead of rebuilding a generation, so it has no
 * structural abort path — the published numbers there are the batch
 * blip and the end-state count-exactness under the race (the
 * forget-under-load contract the archives' scaladoc promises).
 *
 * The EMBEDDING families (round 16, verdict ask #5): `semantic` and
 * `cosine` run the same protocol over synthesized clustered gaussians
 * keyed by doc_id (the corpus tables carry no vectors at ×100 scale;
 * the archive machinery is payload-agnostic, so a deterministic
 * generator measures the same commit/abort interaction). Their
 * takedowns rebuild a generation like minhash — the abort/retry path
 * is live — and the end-state check is the member/vector id sets:
 * victims absent, survivors + raced batches exact.
 *
 * Round 17: the DENSE-duplicate regime is now runnable instead of
 * documented away — `noiseStd` (arg 5, default 2.5) and `hotPairCap`
 * (arg 6, default AUTO since r18 — the engine's safe-by-default
 * resolution) expose the σ1.0 boilerplate shape (intra-
 * cluster cosine ≈ 0.96 > the 0.95 threshold, so every batch's pair
 * space is cluster-quadratic) together with the capped fold routes
 * (`hotBucketPairCap`/`hotClusterPairCap`): hot buckets emit one
 * covering edge per new doc (KEEP/DROP-preserving — CappedEmissionSpec)
 * and the 20M-pairs-per-batch grid shuffle that OOMed the r16 attempt
 * never materializes.
 *
 * Usage: runMain graft.tools.ForgetUnderLoad <dir> [nBatches]
 *   [batchRows] [foldAfter] [family: minhash|token|ngram|semantic|cosine]
 *   [noiseStd] [hotPairCap]
 * (victims = seed-side id%100==7, ~1% of the corpus.)
 */
object ForgetUnderLoad {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val nBatches = args.lift(1).map(_.toInt).getOrElse(10)
    val batchRows = args.lift(2).map(_.toLong).getOrElse(5000L)
    val foldAfter = args.lift(3).map(_.toInt).getOrElse(3)
    val familyArg = args.lift(4).getOrElse("minhash")
    val noiseStd = args.lift(5).map(_.toDouble).getOrElse(2.5)
    // default AUTO (round 18): no cap argument now exercises the
    // engine's own safe-by-default resolution (spark.graft.hotPairCap
    // or parallelism × 2048) — the production default-config path the
    // σ1.0 dense runs must survive; pass Long.MaxValue (9223372036854775807)
    // explicitly to reproduce the unbounded pre-r17 behavior
    val hotPairCap = args.lift(6).map(_.toLong)
      .getOrElse(graft.operators.SimilarityJoin.AutoCap)
    require(Set("minhash", "minhash-dense", "token", "ngram", "semantic",
        "cosine")(familyArg),
      s"unknown family '$familyArg' — minhash|minhash-dense|token|ngram|" +
        "semantic|cosine")
    // minhash-dense: the TEXT boilerplate regime — every doc is its
    // cluster's ~40-word template plus one unique token (intra-cluster
    // 3-gram Jaccard ≈ 0.85, far above the 0.5 threshold), the license-
    // header / templated-page shape a 100 TB web corpus has in bulk;
    // without hotPairCap each 5000-doc batch would emit its ~20M-row
    // cluster-mate pair space exactly like the σ1.0 embedding runs
    val denseText = familyArg == "minhash-dense"
    val family = if (denseText) "minhash" else familyArg
    val spark = graft.Graft.session()
    spark.sparkContext.setLogLevel("WARN")

    val embedFamily = family == "semantic" || family == "cosine"
    val docsRaw = graft.Tables(spark, dir, "documents")
    // embedding families: synthesize clustered gaussian vectors keyed by
    // doc_id (deterministic — id picks a cluster center, per-id RNG adds
    // noise; the day_6 generator's shape). The archive machinery only
    // sees (id, vector), so the measured commit/abort interaction is the
    // production one. noiseStd picks the regime: 2.5 (default) puts
    // intra-cluster cosine ≈ 0.8, below the 0.95 threshold — the sparse
    // near-dup shape; 1.0 puts it ≈ 0.96 — the BOILERPLATE shape where
    // every batch's pair space is cluster-quadratic (~20M rows/batch at
    // ×100), which needs `hotPairCap` to route hot buckets through
    // covering-edge emission (run without it to reproduce the r16 OOM).
    val dim = 64
    val nClusters = 100
    val centers = Array.tabulate(nClusters) { c =>
      val r = new java.util.Random(42L + c)
      Array.fill(dim)(r.nextGaussian() * 5.0)
    }
    val templates = Array.tabulate(nClusters) { c =>
      val r = new java.util.Random(77L + c)
      (0 until 40).map(_ => "w" + r.nextInt(5000)).mkString(" ")
    }
    val rows: DataFrame =
      if (denseText) {
        import spark.implicits._
        val bcT = spark.sparkContext.broadcast(templates)
        docsRaw.select(col("doc_id").cast("long")).as[Long]
          .map(id => (id, bcT.value((id % nClusters).toInt) + s" uniq$id"))
          .toDF("doc_id", "text")
      }
      else if (!embedFamily) docsRaw
      else {
        import spark.implicits._
        val bc = spark.sparkContext.broadcast(centers)
        docsRaw.select(col("doc_id").cast("long")).as[Long]
          .mapPartitions { it =>
            it.map { id =>
              val ctr = bc.value((id % nClusters).toInt)
              val r = new java.util.Random(1000L + id)
              (id, Array.tabulate(dim)(i =>
                (ctr(i) + r.nextGaussian() * noiseStd).toFloat))
            }
          }
          .toDF("doc_id", "embedding")
      }
    val payloadCol = if (embedFamily) "embedding" else "text"
    val archive = java.nio.file.Files.createTempDirectory(s"graft-ful-$family").toString
    val pairsDir = java.nio.file.Files.createTempDirectory("graft-ful-p").toString
    val oldSide = rows.where(col("doc_id") % 10 =!= 0)
    val newSide = rows.where(col("doc_id") % 10 === 0)
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("doc_id"))))

    def seed(): Unit = family match {
      case "minhash" => ArchiveDedup.seedArchive(
        Dedup.buildMinhashIndex(oldSide, "doc_id", "text"), archive)
      case "token" =>
        CorpusStats.seedTokenStatsArchive(oldSide, archive, "doc_id", "text")
      case "ngram" =>
        CorpusStats.seedNgramStatsArchive(oldSide, archive, "doc_id", "text")
      case "semantic" =>
        // pinned centroids = the generator's own 16 lead centers — the
        // production shape (centroids fitted once at seed, pinned after)
        ArchiveDedup.seedArchive(Dedup.buildSemanticIndex(oldSide, "doc_id",
          "embedding", centers.take(16).map(_.map(_.toFloat))), archive)
      case "cosine" =>
        ArchiveDedup.seedArchive(
          Dedup.buildCosineIndex(oldSide, "doc_id", "embedding"), archive)
    }
    def fold(batch: DataFrame, b: Long): Unit = family match {
      case "minhash" => ArchiveDedup.processBatch(batch, b, archive, pairsDir,
        "doc_id", "text", 0.5, compactEvery = 8, hotPairCap = hotPairCap)
      case "token" => CorpusStats.processTokenStatsBatch(batch, b, archive,
        "doc_id", "text", compactEvery = 8)
      case "ngram" => CorpusStats.processNgramStatsBatch(batch, b, archive,
        "doc_id", "text", compactEvery = 8)
      case _ => ArchiveDedup.processBatch(batch, b, archive,
        pairsDir, "doc_id", "embedding", 0.95, compactEvery = 8,
        hotPairCap = hotPairCap)
    }

    val t0 = System.nanoTime()
    seed()
    println(f"seed [$family] (${oldSide.count()} rows)            " +
      f"${(System.nanoTime() - t0) / 1e9}%8.2f s")

    // ---- the "stream": back-to-back folds on a background thread ----
    @volatile var batchDone = 0
    // boxed Double: get() on a missing key (a failed batch) must return
    // null, not auto-unbox to 0.00 s
    val walls = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Double]()
    @volatile var streamError: Throwable = null
    val streamT = new Thread(() => {
      try {
        (0 until nBatches).foreach { b =>
          val batch = newSide
            .where(col("__rn") > b * batchRows && col("__rn") <= (b + 1) * batchRows)
            .select(col("doc_id"), col(payloadCol))
          val s0 = System.nanoTime()
          fold(batch, b.toLong)
          walls.put(b, (System.nanoTime() - s0) / 1e9)
          batchDone = b + 1
        }
      } catch {
        // a dead stream thread must FAIL the run loudly (an earlier form
        // printed null walls and exited 0 — a measurement tool that
        // swallows the failure it exists to expose)
        case e: Throwable =>
          streamError = e
          System.err.println(s"STREAM THREAD DIED at batch $batchDone:")
          e.printStackTrace()
      }
    }, "graft-ful-stream")
    streamT.start()

    // ---- the takedown, mid-stream, with retry-on-abort ----
    // also watch streamError: a stream that dies before foldAfter
    // batches must fail the run, not hang this wait forever
    while (batchDone < foldAfter && streamError == null) Thread.sleep(50)
    if (streamError != null) {
      println(s"STREAM FAILED before the takedown could fire: $streamError")
      spark.stop()
      sys.exit(1)
    }
    // victims need TEXT for the stats families (counts subtract by
    // replaying the folded text); the dedup twin ignores extra columns
    val victimDocs = rows.where(col("doc_id") % 100 === 7)
      .select(col("doc_id"), col(payloadCol))
    val nVictims = victimDocs.count()
    var aborts = 0
    var done = false
    val f0 = System.nanoTime()
    val takedownStartedAt = batchDone
    while (!done) {
      val a0 = System.nanoTime()
      try {
        family match {
          case "minhash" | "semantic" | "cosine" =>
            ArchiveDedup.forgetDocs(spark, archive,
              victimDocs.select(col("doc_id").cast("long").as("id")))
          case "token" => CorpusStats.retractFromTokenStatsArchive(
            spark, archive, victimDocs, "doc_id", "text")
          case "ngram" => CorpusStats.retractFromNgramStatsArchive(
            spark, archive, victimDocs, "doc_id", "text")
        }
        done = true
        println(f"takedown attempt ${aborts + 1} ($nVictims ids)        " +
          f"${(System.nanoTime() - a0) / 1e9}%8.2f s  SUCCESS")
      } catch {
        case e: IllegalStateException if e.getMessage.contains("aborting") =>
          aborts += 1
          println(f"takedown attempt $aborts%d ($nVictims ids)        " +
            f"${(System.nanoTime() - a0) / 1e9}%8.2f s  ABORTED (racing fold)")
      }
    }
    val takedownWall = (System.nanoTime() - f0) / 1e9
    val takedownEndedAt = batchDone
    streamT.join()

    (0 until nBatches).foreach { b =>
      val mark =
        if (b >= takedownStartedAt && b < takedownEndedAt + 1) " <- takedown window"
        else ""
      val w = walls.get(b)
      println(if (w == null) f"batch $b%3d wall   FAILED$mark"
        else f"batch $b%3d wall $w%8.2f s$mark")
    }
    if (streamError != null) {
      println(s"STREAM FAILED: $streamError")
      spark.stop()
      sys.exit(1)
    }
    println(f"takedown total (incl. $aborts aborts/retries)      $takedownWall%8.2f s")

    // ---- end-state check: victims gone, everything else present/exact ----
    val foldedDocs = newSide.where(col("__rn") <= nBatches * batchRows)
      .select(col("doc_id"), col(payloadCol))
    val survivors = oldSide.select(col("doc_id"), col(payloadCol))
      .unionByName(foldedDocs)
      .where(col("doc_id") % 100 =!= 7)
    def idSetCheck(archived: DataFrame): Boolean = {
      val victimLeft = archived
        .join(victimDocs.select(col("doc_id").cast("long").as("id")), Seq("id"))
        .count()
      val expected = survivors.count()
      val got = archived.count()
      println(s"victims still archived: $victimLeft (must be 0); " +
        s"archived rows $got (expected $expected)")
      victimLeft != 0 || got != expected
    }
    val exitBad: Boolean = family match {
      case "minhash" =>
        val (ix, _) = ArchiveDedup.loadLatest(spark, archive, Dedup.MinhashIndex)
        idSetCheck(ix.sets.select(col("id")))
      case "semantic" =>
        val (ix, _) = ArchiveDedup.loadLatest(spark, archive, Dedup.SemanticIndex)
        idSetCheck(ix.members.select(col("id")))
      case "cosine" =>
        val (ix, _) = ArchiveDedup.loadLatest(spark, archive, Dedup.CosineIndex)
        idSetCheck(ix.vecs.select(col("id")))
      case _ =>
        // count-exactness under the race: the live archive's sums must
        // equal a from-scratch build over (survivors + raced batches) —
        // the same differential oracle the sequence gate runs, at x100
        val c0 = System.nanoTime()
        val bad =
          if (family == "token") {
            val got = CorpusStats.tokenDf(
              CorpusStats.loadTokenStatsArchive(spark, archive))
            val want = CorpusStats.tokenDf(
              CorpusStats.buildTokenStats(survivors, "doc_id", "text"))
            got.exceptAll(want).unionByName(want.exceptAll(got)).limit(1).count()
          } else {
            def pairsOf(ix: CorpusStats.NgramStatsIndex): DataFrame =
              ix.pairParts.groupBy(col("__h1"), col("__h2"))
                .agg(sum(col("pc_part")).as("pc")).where(col("pc") > 0)
            val got = pairsOf(CorpusStats.loadNgramStatsArchive(spark, archive))
            val want = pairsOf(CorpusStats.buildNgramStats(survivors, "doc_id", "text"))
            got.exceptAll(want).unionByName(want.exceptAll(got)).limit(1).count()
          }
        println(f"end-state differential oracle (archive vs recompute over " +
          f"survivors+raced): ${if (bad == 0) "EXACT" else "MISMATCH"} " +
          f"(${(System.nanoTime() - c0) / 1e9}%.1f s)")
        bad != 0
    }
    spark.stop()
    if (exitBad) sys.exit(1)
  }
}
