package graft

import graft.operators.{Components, Dedup, SimilarityJoin}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * The dense-duplicate regime of the streaming fold (round 17, verdict
 * ask #1): a boilerplate-heavy corpus whose intra-cluster cosine sits
 * ABOVE the dedup threshold makes every batch's delta pair space
 * cluster-quadratic (BENCH.md round 16: the σ1.0 forget-under-load run
 * emitted ~20M pairs/batch and OOMed the grid shuffle). The capped routes
 * (`hotBucketPairCap` / `hotClusterPairCap`) must:
 *
 *  1. emit a SUBSET of the unbounded path's verified pairs (bit-exact
 *     rows — never an unverified or re-scored edge),
 *  2. cover the SAME set of new docs (a doc with a verified mate always
 *     receives a covering edge),
 *  3. produce the SAME KEEP/DROP verdict under [[Components]] closure
 *     on dense clusters (the product of the fold is the verdict, not
 *     the pair list — ref: day_2/noramalization.py:121-205 keeps one
 *     representative per duplicate group),
 *  4. bound the emission to O(new × bands) instead of O(cluster²),
 *  5. and degrade to EXACTLY the unbounded output when no bucket is hot
 *     (the capped branch's plumbing, not just the `cap == MaxValue`
 *     short-circuit).
 */
class CappedEmissionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dim = 16
  private val nClusters = 3
  private val perCluster = 60
  private val threshold = 0.95

  private lazy val centers: Array[Array[Double]] = Array.tabulate(nClusters) { c =>
    val r = new java.util.Random(7L + c)
    Array.fill(dim)(r.nextGaussian() * 5.0)
  }

  /** Dense corpus: every cluster member is its center plus σ=0.01 noise
    * (intra-cluster cosine ≈ 0.9999 — far above the threshold, the
    * boilerplate regime), plus a mutually-near pair of NEW outliers
    * (exercises the new×new covering pass) and one lone NEW outlier
    * (must appear in no output). ids % 5 == 0 are the delta batch. */
  private lazy val all: Seq[(Long, Array[Float])] = {
    val clustered = (0 until nClusters * perCluster).map { i =>
      val c = i % nClusters
      val r = new java.util.Random(100L + i)
      (i.toLong,
        Array.tabulate(dim)(j => (centers(c)(j) + r.nextGaussian() * 0.01).toFloat))
    }
    val outDir = {
      val r = new java.util.Random(999L)
      Array.fill(dim)(r.nextGaussian() * 5.0)
    }
    val pairA = (1000L, outDir.map(x => x.toFloat))
    val pairB = (1005L, outDir.map(x => (x * 1.2).toFloat)) // same direction
    val lone = (1010L, {
      val r = new java.util.Random(31337L)
      Array.fill(dim)((r.nextGaussian() * 5.0).toFloat)
    })
    clustered ++ Seq(pairA, pairB, lone)
  }
  private lazy val newIds: Set[Long] = all.map(_._1).filter(_ % 5 == 0).toSet
  private lazy val oldDf: DataFrame =
    all.filterNot(t => newIds(t._1)).toDF("id", "v")
  private lazy val newDf: DataFrame =
    all.filter(t => newIds(t._1)).toDF("id", "v")
  private lazy val allDf: DataFrame = all.toDF("id", "v")

  private def rows(p: DataFrame): Set[(Long, Long, Double)] =
    p.select(col("id_a"), col("id_b"), col("sim"))
      .as[(Long, Long, Double)].collect().toSet
  private def coveredNew(p: Set[(Long, Long, Double)]): Set[Long] =
    p.flatMap(t => Seq(t._1, t._2)).filter(newIds)
  /** KEEP/DROP verdict over the BATCH: a delta pair set adjudicates the
    * new docs only (old docs' verdicts were decided when their own batch
    * folded — old×old pairs are never re-emitted, so closure over delta
    * pairs must not be read as re-adjudicating the archive). */
  private def keptNew(p: DataFrame): Set[Long] =
    Components.dropByPairs(allDf, "id", p)
      .select(col("id")).as[Long].collect().toSet.intersect(newIds)

  private def checkFamily(unbounded: DataFrame, capped: DataFrame,
                          cappedNoHot: DataFrame, emissionBound: Long): Unit = {
    val unb = rows(unbounded)
    val cap = rows(capped)
    assert(cap.subsetOf(unb),
      s"capped pairs must be a bit-exact subset: extras ${cap -- unb}")
    assert(coveredNew(cap) === coveredNew(unb),
      "every coverable new doc must still receive a covering edge")
    assert(!coveredNew(unb).contains(1010L), "the lone outlier pairs with nothing")
    assert(coveredNew(cap).contains(1000L) && coveredNew(cap).contains(1005L),
      "the new×new outlier pair must cover each other (block-0 pass)")
    assert(keptNew(capped) === keptNew(unbounded),
      "the batch's KEEP/DROP verdict under Components closure must match " +
        "on dense clusters")
    assert(cap.size <= emissionBound,
      s"capped emission ${cap.size} must be O(new), bound $emissionBound " +
        s"(unbounded emitted ${unb.size})")
    assert(unb.size > 10L * cap.size,
      s"fixture sanity: the dense regime must actually explode the " +
        s"unbounded pair space (${unb.size} vs ${cap.size})")
    assert(rows(cappedNoHot) === unb,
      "a finite cap with no hot buckets must reproduce the unbounded " +
        "output exactly (the capped branch's cold plumbing)")
  }

  test("cosine LSH delta: capped hot buckets preserve coverage and verdict") {
    val ix = Dedup.buildCosineIndex(oldDf, "id", "v", numBits = 8, bands = 8)
    def run(cap: Long): DataFrame =
      Dedup.cosineDeltaPairs(ix, newDf, "id", "v", threshold,
        exactLimit = 1L, hotBucketPairCap = cap)
    // per band-bucket: m ≈ 60, m_new ≈ 12 → candidate work ≈ 720
    checkFamily(run(Long.MaxValue), run(64L), run(Long.MaxValue - 1),
      emissionBound = newIds.size.toLong * 8 + 2)
  }

  test("semantic grouped delta: capped hot clusters preserve coverage and verdict") {
    val ix = Dedup.buildSemanticIndex(oldDf, "id", "v",
      centers.map(_.map(_.toFloat)))
    def run(cap: Long): DataFrame =
      Dedup.semanticDeltaPairs(ix, newDf, "id", "v", threshold,
        hotClusterPairCap = cap)
        .select(col("id_a"), col("id_b"), col("sim"))
    checkFamily(run(Long.MaxValue), run(64L), run(Long.MaxValue - 1),
      emissionBound = newIds.size.toLong + 2)
  }

  // ---- the TEXT twin: boilerplate document clusters whose shingle
  // Jaccard sits above the threshold — the most common 100 TB dense
  // regime (license headers, templated pages). Same contract, same
  // assertions, through the minhash delta route.

  private val nTextClusters = 3
  private val perTextCluster = 60
  private lazy val textAll: Seq[(Long, String)] = {
    // each cluster is one ~40-word template; each member appends one
    // unique token (3-gram shingles: ~3 of ~40 shingles differ ->
    // Jaccard ≈ 0.85, far above the 0.5 threshold)
    def template(c: Int): String = {
      val r = new scala.util.Random(55L + c)
      (0 until 40).map(_ => "w" + r.nextInt(5000)).mkString(" ")
    }
    val clustered = (0 until nTextClusters * perTextCluster).map { i =>
      val c = i % nTextClusters
      (i.toLong, template(c) + s" uniq$i")
    }
    // a mutually-near NEW pair on their own template + a lone NEW doc
    val pairT = template(97)
    Seq((1000L, pairT + " uniqA"), (1005L, pairT + " uniqB"),
      (1010L, {
        val r = new scala.util.Random(4242L)
        (0 until 40).map(_ => "z" + r.nextInt(5000)).mkString(" ")
      })) ++ clustered
  }
  private lazy val textNewIds: Set[Long] =
    textAll.map(_._1).filter(_ % 5 == 0).toSet
  private lazy val textOldDf: DataFrame =
    textAll.filterNot(t => textNewIds(t._1)).toDF("id", "text")
  private lazy val textNewDf: DataFrame =
    textAll.filter(t => textNewIds(t._1)).toDF("id", "text")
  private lazy val textAllDf: DataFrame = textAll.toDF("id", "text")

  test("minhash text delta: capped hot buckets preserve coverage and verdict") {
    val ix = Dedup.buildMinhashIndex(textOldDf, "id", "text",
      numHashes = 16, bands = 4, shingleLen = 3)
    def run(cap: Long): DataFrame =
      Dedup.minhashDeltaPairs(ix, textNewDf, "id", "text", threshold = 0.5,
        hotBucketPairCap = cap)
        .select(col("id_a"), col("id_b"), col("jaccard").as("sim"))
    val unb = rows(run(Long.MaxValue))
    val cap = rows(run(64L))
    def keptNewText(p: Set[(Long, Long, Double)]): Set[Long] = {
      val pdf = p.toSeq.toDF("id_a", "id_b", "sim")
      Components.dropByPairs(textAllDf, "id", pdf)
        .select(col("id")).as[Long].collect().toSet.intersect(textNewIds)
    }
    assert(cap.subsetOf(unb), s"capped extras: ${cap -- unb}")
    val covUnb = unb.flatMap(t => Seq(t._1, t._2)).filter(textNewIds)
    val covCap = cap.flatMap(t => Seq(t._1, t._2)).filter(textNewIds)
    assert(covCap === covUnb, "covered set of new docs must match")
    assert(!covUnb.contains(1010L), "the lone outlier pairs with nothing")
    assert(covCap.contains(1000L) && covCap.contains(1005L),
      "the new×new outlier pair must cover each other")
    assert(keptNewText(cap) === keptNewText(unb),
      "the batch KEEP/DROP verdict must match on dense text clusters")
    assert(unb.size > 10L * cap.size,
      s"fixture sanity: dense regime must explode the unbounded space " +
        s"(${unb.size} vs ${cap.size})")
    assert(rows(run(Long.MaxValue - 1)) === unb,
      "finite cap with no hot buckets must equal the unbounded output")
  }

  // ---- the BATCH (one-shot) twins (round 18, verdict ask #2): the
  // KEEP/DROP curation transforms — q77-shape minhash pairs→Components
  // and semanticDedupMarks — route hot buckets/clusters through
  // REPRESENTATIVE covering edges (every row emits one edge to its
  // min-id verified block-0 representative; see
  // SimilarityJoin.batchGrid). Same contract: bit-exact subset, same
  // verdict under closure on dense clusters, bounded emission,
  // exact equality when no bucket is hot.

  private def keptAllText(p: DataFrame): Set[Long] =
    Components.dropByPairs(textAllDf, "id", p)
      .select(col("id")).as[Long].collect().toSet

  test("minhash batch: capped hot buckets preserve the KEEP/DROP verdict") {
    def run(cap: Long): DataFrame =
      Dedup.minhashLshPairs(textAllDf, "id", "text",
        numHashes = 16, bands = 4, shingleLen = 3, threshold = 0.5,
        hotBucketPairCap = cap)
        .select(col("id_a"), col("id_b"), col("jaccard").as("sim"))
    val unb = rows(run(Long.MaxValue))
    val cap = rows(run(64L)) // template buckets: m ≈ 60 → m² far over
    assert(cap.subsetOf(unb), s"capped extras: ${cap -- unb}")
    assert(keptAllText(run(64L).withColumnRenamed("sim", "jaccard")) ===
      keptAllText(run(Long.MaxValue).withColumnRenamed("sim", "jaccard")),
      "the one-shot KEEP/DROP verdict under Components closure must " +
        "match on dense template clusters")
    val nDocs = textAll.size.toLong
    assert(cap.size <= nDocs * 4 + 8,
      s"capped batch emission ${cap.size} must be O(rows × bands) " +
        s"(unbounded emitted ${unb.size})")
    assert(unb.size > 10L * cap.size,
      s"fixture sanity: dense regime must explode the unbounded space " +
        s"(${unb.size} vs ${cap.size})")
    assert(rows(run(Long.MaxValue - 1)) === unb,
      "finite cap with no hot buckets must equal the unbounded output " +
        "(and the forced-grid route must reproduce the small-corpus join)")
  }

  test("minhashDedup transform: capped route keeps exactly the unbounded survivors") {
    val unbKept = keptAllText(
      Dedup.minhashLshPairs(textAllDf, "id", "text", 16, 4, 3, 0.5,
        hotBucketPairCap = Long.MaxValue))
    val capKept = Dedup.minhashDedup(textAllDf, "id", "text", 16, 4, 3, 0.5,
        hotBucketPairCap = 64L)
      .select(col("id")).as[Long].collect().toSet
    assert(capKept === unbKept,
      "minhashDedup under the cap must keep exactly the ids the " +
        "unbounded closure keeps on a dense 3-template corpus")
  }

  test("semanticDedupMarks batch: capped hot clusters preserve every mark") {
    def marks(cap: Long): Set[(Long, Int, Long, Boolean)] =
      Dedup.semanticDedupMarks(allDf, "id", "v", threshold, nClusters,
          centroids = Some(centers.map(_.map(_.toFloat))),
          hotClusterPairCap = cap)
        .select(col("id"), col("cluster"), col("canonical"), col("kept"))
        .as[(Long, Int, Long, Boolean)].collect().toSet
    // clusters of ~62 dense members: m² ≈ 3.8k ≫ 64 → every cluster hot
    assert(marks(64L) === marks(Long.MaxValue),
      "every (id, cluster, canonical, kept) mark must match the " +
        "unbounded transform on dense clusters")
    // and the underlying pair primitive: subset + cold-equality
    val asg = allDf.withColumn("c", lit(0))
    def gp(cap: Long): Set[(Long, Long, Double)] =
      SimilarityJoin.groupedThresholdPairs(asg, "c", "id", "v", threshold,
          hotGroupPairCap = cap)
        .select(col("id_a"), col("id_b"), col("sim"))
        .as[(Long, Long, Double)].collect().toSet
    val unbP = gp(Long.MaxValue)
    assert(gp(64L).subsetOf(unbP), "grouped batch pairs: bit-exact subset")
    assert(gp(Long.MaxValue - 1) === unbP,
      "grouped batch: finite cap with no hot groups must equal unbounded")
  }

  test("cosine batch (lshCosinePairs): capped hot buckets preserve the verdict") {
    def run(cap: Long): DataFrame =
      SimilarityJoin.lshCosinePairs(allDf, "id", "v", threshold,
        numBits = 8, bands = 8, hotBucketPairCap = cap)
    val unb = rows(run(Long.MaxValue))
    val cap = rows(run(64L))
    assert(cap.subsetOf(unb), s"capped extras: ${cap -- unb}")
    def keptAll(p: DataFrame): Set[Long] =
      Components.dropByPairs(allDf, "id", p)
        .select(col("id")).as[Long].collect().toSet
    assert(keptAll(run(64L)) === keptAll(run(Long.MaxValue)),
      "the cosine batch KEEP/DROP verdict must match on dense clusters")
    assert(unb.size > 10L * cap.size,
      s"fixture sanity: dense regime must explode the unbounded space " +
        s"(${unb.size} vs ${cap.size})")
    assert(rows(run(Long.MaxValue - 1)) === unb,
      "finite cap with no hot buckets must equal the unbounded output")
    // the transform: capped survivors == unbounded-closure survivors
    val capKept = Dedup.embeddingDedup(allDf, "id", "v", threshold,
        exactLimit = 1L, hotBucketPairCap = 64L)
      .select(col("id")).as[Long].collect().toSet
    assert(capKept === keptAll(run(Long.MaxValue)),
      "embeddingDedup under the cap must keep exactly the unbounded survivors")
  }

  test("batch covering: multi-cell hot groups with STRUCTURED ids stay covered") {
    // adversarial shape the ×100 dense one-shot caught: group members'
    // ids are all ≡ g (mod 2), so a raw id-derived block draw would
    // starve one group of block-0 representatives entirely (0 covering
    // targets → 0 edges → everything kept); batchGrid's fmix64 block
    // draw must keep every dense row covered across MULTIPLE cells
    // (blockRows = 50 forces nb = 4 per 200-row group)
    val structured = (0 until 400).map { i =>
      val c = i % 2
      val r = new java.util.Random(100L + i)
      (i.toLong,
        Array.tabulate(dim)(j => (centers(c)(j) + r.nextGaussian() * 0.01).toFloat))
    }
    val df = structured.toDF("id", "v").withColumn("g", col("id") % 2)
    val capped = SimilarityJoin.groupedThresholdPairs(df, "g", "id", "v",
      threshold, blockRows = 50, hotGroupPairCap = 64L)
    val covered = capped.select(col("id_a")).union(capped.select(col("id_b")))
      .distinct().count()
    assert(covered === 400L,
      s"every dense row must receive a covering edge across cells, got $covered")
    // and the verdict: one component per group, component-min canonical
    val kept = Components.dropByPairs(df, "id", capped)
      .select(col("id")).as[Long].collect().toSet
    assert(kept === Set(0L, 1L),
      s"KEEP/DROP verdict must keep exactly the per-group min ids, got $kept")
  }

  // ---- the cold-path probe (round 19): under a FINITE cap the banded
  // delta routes first ask one tiny aggregate whether any bucket is
  // actually hot. When none is, the scan must take the unbounded plan
  // shape; a hot corpus under the same cap adds exactly the min-mate
  // reduce. That reduce is an RDD stage, invisible to SQL explain, so
  // the shape is read off the lineage's ShuffledRDD count.

  private def rddShuffles(df: DataFrame): Int =
    "ShuffledRDD".r.findAllIn(df.rdd.toDebugString).size

  /** Cold: no more shuffles than unbounded, and real pairs come out (a
    * cold route, not an empty-plan collapse). Hot: one more shuffle. */
  private def checkProbedShape(route: String, cold: Long => DataFrame,
                               hot: Long => DataFrame, cap: Long): Unit = {
    val coldCapped = cold(cap)
    assert(rddShuffles(coldCapped) <= rddShuffles(cold(Long.MaxValue)),
      s"$route: a finite cap on a cold corpus must take the unbounded " +
        s"plan shape (no min-mate reduce):\n${coldCapped.rdd.toDebugString}")
    assert(coldCapped.count() > 0L, s"$route: the cold fixture must emit pairs")
    assert(rddShuffles(hot(cap)) === rddShuffles(hot(Long.MaxValue)) + 1,
      s"$route: a hot corpus under the same cap adds the min-mate reduce")
  }

  test("cold-path probe: a finite cap takes the unbounded plan shape unless a bucket is hot") {
    def word(r: java.util.Random): String =
      Iterator.continually(('a' + r.nextInt(26)).toChar).take(6).mkString
    def uniqueText(id: Long): String = {
      val r = new java.util.Random(7L + id)
      Iterator.continually(word(r)).take(30).mkString(" ")
    }
    // hot: every doc shares one boilerplate body, so one bucket holds all
    val boiler = uniqueText(-1L)
    def texts(ids: Range.Inclusive, body: Long => String): DataFrame =
      ids.map(i => (i.toLong, body(i.toLong))).toDF("id", "text")
    // cold but non-empty: each delta doc duplicates ONE archived doc, so
    // its buckets hold m = 2 (work 2, far under the cap) and pairs exist
    val ix = Dedup.buildMinhashIndex(texts(0 to 399, uniqueText), "id", "text")
    val hotIx = Dedup.buildMinhashIndex(
      texts(0 to 399, i => boiler + s" tail$i"), "id", "text")
    checkProbedShape("minhashDeltaPairs",
      cap => Dedup.minhashDeltaPairs(ix, texts(400 to 499, i => uniqueText(i - 400L)),
        "id", "text", 0.5, hotBucketPairCap = cap),
      cap => Dedup.minhashDeltaPairs(hotIx, texts(400 to 499, i => boiler + s" tail$i"),
        "id", "text", 0.5, hotBucketPairCap = cap),
      cap = 64L)

    def vec(r: java.util.Random): Array[Float] =
      Array.tabulate(16)(_ => r.nextGaussian().toFloat)
    def vecs(ids: Range.Inclusive, v: Long => Array[Float]): DataFrame =
      ids.map(i => (i.toLong, v(i.toLong))).toDF("id", "v")
    val seeded = (i: Long) => vec(new java.util.Random(100L + i))
    // hot: every vector sits near one archived direction
    val dir = seeded(0L)
    val nearDir = (i: Long) => {
      val r = new java.util.Random(900L + i)
      dir.map(x => x + 0.001f * r.nextGaussian().toFloat)
    }
    val cIx = Dedup.buildCosineIndex(vecs(0 to 399, seeded), "id", "v")
    val hotCIx = Dedup.buildCosineIndex(vecs(0 to 399, nearDir), "id", "v")
    def cosine(ix: Dedup.CosineIndex, delta: DataFrame)(cap: Long): DataFrame =
      SimilarityJoin.lshCosineDeltaPairs(ix.buckets, ix.vecs, delta, "id", "v",
        0.9, ix.numBits, ix.bands, ix.dim, ix.seed, hotBucketPairCap = cap)
    // 500 random vectors in the 8-bit signature space share buckets of
    // ~tens, so a cap of 64 would call the incidental collisions hot;
    // 20k separates them from the dense cluster (work ≈ 100 × 500)
    checkProbedShape("lshCosineDeltaPairs",
      cosine(cIx, vecs(400 to 499, i => seeded(i - 400L))),
      cosine(hotCIx, vecs(400 to 499, nearDir)),
      cap = 20000L)
  }
}
