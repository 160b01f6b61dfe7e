package graft

import graft.operators.{Dedup, SimilarityJoin}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy dog"),      // exact dup of 0
    (2L, "The  quick brown fox JUMPS over the lazy dog"),     // canonical dup of 0
    (3L, "the quick brown fox jumps over the sleepy dog"),    // near-dup (1 word)
    (4L, "completely different content about spark engines"),
    (5L, "spark engines process completely different content"),
  ).toDF("doc_id", "text")

  test("exact stats count canonical-form duplicates") {
    val r = Dedup.exactStats(docs, "text").head()
    assert(r.getAs[Long]("n_docs") === 6L)
    assert(r.getAs[Long]("n_distinct") === 4L) // 0/1/2 collapse
    assert(r.getAs[Long]("n_duplicates") === 2L)
    assert(r.getAs[Long]("n_dup_groups") === 1L)
  }

  test("exact groups list the duplicate ids") {
    val g = Dedup.exactGroups(docs, "doc_id", "text").collect()
    assert(g.length === 1)
    assert(g.head.getAs[Seq[Long]]("ids") === Seq(0L, 1L, 2L))
  }

  test("dropExactDuplicates keeps the min-id representative") {
    val kept = Dedup.dropExactDuplicates(docs, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq === Seq(0L, 3L, 4L, 5L))
  }

  test("ngram jaccard finds the near-dup pair and scores exact dups 1.0") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.4)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs((0L, 1L)) === 1.0)
    assert(pairs.contains((0L, 3L))) // 1-word edit: 4/10 shingles shared → ≥0.4
    assert(!pairs.contains((0L, 4L)))
  }

  test("prefix-filtered jaccard equals the exhaustive inverted-index result") {
    val real = Tables(spark, TestSpark.sfDir, "documents")
    val exact = Dedup.ngramJaccardPairs(real, "doc_id", "text", 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val prefixed = Dedup.ngramJaccardPairs(real, "doc_id", "text", 3, 0.5,
        prefixFilter = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(prefixed === exact) // prefix filter is exact, never lossy
    assert(exact.nonEmpty)
  }

  test("auto-routed jaccard matches the direct result (either route is exact)") {
    val real = Tables(spark, TestSpark.sfDir, "documents")
    val direct = Dedup.ngramJaccardPairs(real, "doc_id", "text", 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val auto = Dedup.ngramJaccardPairsAuto(real, "doc_id", "text", 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(auto === direct)
    // force the OTHER route too: blowupFactor = -1 makes any corpus "hot",
    // sampleFraction = 1 so the tiny corpus clears the posting floor...
    val forcedPrefix = Dedup.ngramJaccardPairsAuto(real, "doc_id", "text", 3, 0.5,
        blowupFactor = -1.0, sampleFraction = 1.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(forcedPrefix === direct)
  }

  test("shingle hash sets mirror string shingles (randomized parity)") {
    // the hashed posting path must agree with the string semantics on
    // everything the Jaccard math can see: distinct-shingle COUNT (set
    // sizes), the < n whole-text fallback, and trailing-empty-token
    // parity from split("\\s+", -1)
    val rnd = new scala.util.Random(42)
    val seps = Array(" ", "  ", "\t", "\n", " \t ")
    for (_ <- 0 until 300) {
      val words = Seq.fill(rnd.nextInt(40))("w" + rnd.nextInt(8))
      val t = words.map(w => w + seps(rnd.nextInt(seps.length))).mkString +
        (if (rnd.nextBoolean()) " " else "")
      for (n <- Seq(1, 2, 3, 5)) {
        val strings = Dedup.shinglesOf(t, n)
        val hashes = Dedup.shingleHashSetOf(t, n)
        assert(hashes.length === strings.distinct.size,
          s"count drift for n=$n on '${t.take(60)}'")
      }
    }
    // null and empty behave like shinglesOf: one whole-text shingle
    assert(Dedup.shingleHashSetOf(null, 3).length === 1)
    assert(Dedup.shingleHashSetOf("", 3).length === 1)
    // word-boundary safety: regrouping characters across words must not
    // collide structurally
    assert(!Dedup.shingleHashSetOf("ab c", 2)
      .sameElements(Dedup.shingleHashSetOf("a bc", 2)))
    // determinism across calls (the shuffle key must be stable)
    assert(Dedup.shingleHashSetOf("the quick brown fox", 2)
      .sameElements(Dedup.shingleHashSetOf("the quick brown fox", 2)))
  }

  test("jaccardSafeMaxDf is the lossless candidate bound (and usually vacuous)") {
    // θ=0.5, minSz=20, P=2.6e6 → D ≥ P·1.5/20 — far above real shingle dfs
    assert(Dedup.jaccardSafeMaxDf(0.5, 20, 2600000) === 195000L)
    // a corpus where EVERY doc is tiny and postings few: bound bites
    assert(Dedup.jaccardSafeMaxDf(1.0, 1, 10) === 10L)
    // monotone: looser threshold needs a higher (safer) cut
    assert(Dedup.jaccardSafeMaxDf(0.3, 20, 2600000) >
      Dedup.jaccardSafeMaxDf(0.9, 20, 2600000))
  }

  test("minhash LSH recovers high-jaccard pairs") {
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
        numHashes = 16, bands = 8, threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))
  }

  test("minhash LSH: forced block-grid route is pair-identical to the self-join route") {
    // the grid route normally engages only above smallLimit (20k docs) —
    // force it here (smallLimit = 0) and hold it to row-set parity with
    // the codegen self-join on a corpus wide enough to have real
    // buckets, mirroring ComponentsSpec's both-routes parity gate
    val corpus = graft.Tables(spark, TestSpark.sfDir, "documents")
    def rows(smallLimit: Long) =
      Dedup.minhashLshPairs(corpus, "doc_id", "text",
          numHashes = 16, bands = 4, shingleLen = 3, threshold = 0.5,
          smallLimit = smallLimit)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
    val joinRoute = rows(smallLimit = Long.MaxValue)
    val gridRoute = rows(smallLimit = 0L)
    assert(gridRoute === joinRoute)
    assert(joinRoute.nonEmpty) // vacuous parity would prove nothing
  }

  test("forced grid on a mass-duplicate corpus: hot bucket exceeds one block, output intact") {
    // 3000 copies of one doc land in ONE (band,bucket) cell — past
    // blockRows=2048, so the count-sized block grid must fan the cell
    // out over block-pair tasks, and the late-hydration m>=2 filter
    // keeps EVERY row (the adversarial case for the survivor-id join:
    // AQE must not broadcast a corpus-sized list). Expected output is
    // closed-form: all C(3000,2) pairs at jaccard 1.0 plus none for the
    // singletons.
    import spark.implicits._
    val n = 3000
    val hot = (0 until n).map(i =>
      (i.toLong, "the quick brown fox jumps over the lazy dog again and again"))
    val cold = (n until n + 20).map(i =>
      (i.toLong, s"entirely unrelated document number $i about nothing shared alpha$i beta$i"))
    val corpus = (hot ++ cold).toDF("doc_id", "text")
    val got = Dedup.minhashLshPairs(corpus, "doc_id", "text",
        numHashes = 16, bands = 4, shingleLen = 3, threshold = 0.5,
        smallLimit = 0L)
      .agg(count(lit(1)), sum(when(col("jaccard") === 1.0, 1L).otherwise(0L)))
      .head()
    val expected = n.toLong * (n - 1) / 2
    assert(got.getLong(0) === expected, "pair count")
    assert(got.getLong(1) === expected, "all pairs at jaccard 1.0")
  }

  test("incremental delta dedup: old×old never re-scanned, old×new and new×new found") {
    val tA = "the quick brown fox jumps over the lazy dog near the quiet river bank today"
    val tB = "structured streaming state stores hold horizon bounded claims across micro batches"
    val tC = "completely different subject matter entirely about spark catalyst optimizer rules"
    val corpus = Seq(
      (0L, tA), (1L, tA),            // old duplicates of each other
      (10L, tA),                     // NEW duplicate of the old pair
      (11L, tB), (12L, tB),          // new×new duplicate pair
      (13L, tC)                      // new, unrelated
    ).toDF("doc_id", "text")
    val ix = Dedup.buildMinhashIndex(corpus.where(col("doc_id") < 10),
      "doc_id", "text", numHashes = 16, bands = 4, shingleLen = 3)
    val pairs = Dedup.minhashDeltaPairs(ix, corpus.where(col("doc_id") >= 10),
        "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 10L)) && pairs.contains((1L, 10L)), "old×new")
    assert(pairs.contains((11L, 12L)), "new×new")
    assert(!pairs.contains((0L, 1L)), "old×old must not be re-emitted")
  }

  test("incremental delta dedup equals the batch operator restricted to delta pairs; save/load round-trips") {
    val corpus = graft.Tables(spark, TestSpark.sfDir, "documents")
    val split = 40L
    val ix = Dedup.buildMinhashIndex(corpus.where(col("doc_id") < split),
      "doc_id", "text", numHashes = 16, bands = 4, shingleLen = 3)
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val delta = pairSet(Dedup.minhashDeltaPairs(ix,
      corpus.where(col("doc_id") >= split), "doc_id", "text", threshold = 0.5))
    val batchRestricted = pairSet(Dedup.minhashLshPairs(corpus, "doc_id", "text",
        numHashes = 16, bands = 4, shingleLen = 3, threshold = 0.5))
      .filter(p => p._1 >= split || p._2 >= split)
    assert(delta === batchRestricted)
    assert(delta.nonEmpty, "vacuous parity would prove nothing")
    val dir = TestSpark.tempDir("graft-ix").toString
    Dedup.save(ix, dir)
    val reloaded = Dedup.load(spark, dir, Dedup.MinhashIndex)
    assert(reloaded.numHashes === 16 && reloaded.bands === 4 && reloaded.shingleLen === 3)
    val delta2 = pairSet(Dedup.minhashDeltaPairs(reloaded,
      corpus.where(col("doc_id") >= split), "doc_id", "text", threshold = 0.5))
    assert(delta2 === delta)
  }

  test("simhash: identical docs share signatures; near-dups are close") {
    val sigs = Dedup.simhashSignatures(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(0L) === sigs(1L))
    val hamming = java.lang.Long.bitCount(sigs(0L) ^ sigs(3L))
    assert(hamming <= 16, s"near-dup hamming was $hamming")
    val far = java.lang.Long.bitCount(sigs(0L) ^ sigs(4L))
    assert(far > hamming)
  }

  test("md5 simhash: 60-bit signatures, identical docs match, hand-check") {
    val sigs = Dedup.simhashMd5Signatures(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(0L) === sigs(1L)) // identical text ⇒ identical signature
    assert(sigs.values.forall(s => s >= 0L && s < (1L << 60))) // 60-bit range
    // hand-computed reference for one doc: fold md5-hex[0,15) per token,
    // ±1 vote per bit, strictly-positive wins
    val text = docs.where(col("doc_id") === 0).select("text").head.getString(0)
    val toks = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
    val md = java.security.MessageDigest.getInstance("MD5")
    val tot = new Array[Int](60)
    toks.foreach { w =>
      val hex = md.digest(w.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val h = java.lang.Long.parseLong(hex.substring(0, 15), 16)
      for (b <- 0 until 60) if (((h >> b) & 1L) == 1L) tot(b) += 1 else tot(b) -= 1
    }
    val expected = (0 until 60).foldLeft(0L)((s, b) => if (tot(b) > 0) s | (1L << b) else s)
    assert(sigs(0L) === expected)
  }

  test("simhash banding finds exact-dup pairs") {
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))
  }

  test("embedding near-dup on real embeddings matches threshold filter") {
    val e = Tables(spark, TestSpark.sfDir, "embeddings")
    val viaOp = Dedup.embeddingNearDupPairs(e, "vec_id", "embedding", 0.4).count()
    val direct = SimilarityJoin.allPairs(e, "vec_id", "embedding")
      .where(col("sim") >= 0.4).count()
    assert(viaOp === direct)
  }

  test("embedding near-dup routes to LSH above exactLimit with recall floor") {
    val e = Tables(spark, TestSpark.sfDir, "embeddings")
    val exact = SimilarityJoin.allPairs(e, "vec_id", "embedding")
      .where(col("sim") >= 0.4)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // exactLimit = 0 forces the over-limit branch on the small corpus
    val routed = Dedup.embeddingNearDupPairs(e, "vec_id", "embedding", 0.4,
        exactLimit = 0L, numBits = 4, bands = 16)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(routed.subsetOf(exact)) // cosine verification ⇒ precision 1.0
    val recall =
      if (exact.isEmpty) 1.0 else routed.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.7, s"routed LSH recall $recall over ${exact.size} pairs")
  }

  test("line-level dedup strips cross-doc boilerplate, keeps order, hand-computed") {
    import spark.implicits._
    val docs = Seq(
      (1L, "unique alpha\nSHARED BANNER\nunique beta"),
      (2L, "SHARED BANNER\nonly in two\nrepeated twice\nrepeated twice"),
      (3L, "SHARED BANNER\nonly in two\nsolo line")
    ).toDF("doc_id", "text")
    val out = Dedup.stripDuplicatedLines(docs, "doc_id", "text", minDocs = 2)
      .orderBy("doc_id").collect()
    // SHARED BANNER in 3 docs, "only in two" in 2 docs → both stripped;
    // "repeated twice" repeats WITHIN one doc only (df=1) → kept twice
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq === Seq(
      (1L, 3L, 2L, "unique alpha\nunique beta"),
      (2L, 4L, 2L, "repeated twice\nrepeated twice"),
      (3L, 3L, 1L, "solo line")))
  }

  test("line dedup emits empty text when every line is boilerplate") {
    import spark.implicits._
    val docs = Seq((1L, "same\nsame2"), (2L, "same\nsame2")).toDF("doc_id", "text")
    val out = Dedup.stripDuplicatedLines(docs, "doc_id", "text", minDocs = 2)
      .orderBy("doc_id").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq ===
      Seq((1L, 2L, 0L, ""), (2L, 2L, 0L, "")))
  }

  test("lineDocFrequencies counts distinct docs per line") {
    import spark.implicits._
    val docs = Seq((1L, "a\nb\na"), (2L, "b\nc")).toDF("doc_id", "text")
    val df = Dedup.lineDocFrequencies(docs, "doc_id", "text")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(df === Map("a" -> 1L, "b" -> 2L, "c" -> 1L))
  }

  test("line dedup matches a local reference on randomized corpora") {
    import spark.implicits._
    val rng = new scala.util.Random(4242)
    // small line vocabulary forces heavy cross-doc repetition
    val vocab = Vector("alpha one", "beta two", "gamma", "delta four", "eps",
      "zeta six", "eta", "theta eight")
    for (trial <- 0 until 3) {
      val minDocs = 2 + trial % 2
      val docs = (0 until 40).map { i =>
        val n = 1 + rng.nextInt(6)
        (i.toLong, Seq.fill(n)(vocab(rng.nextInt(vocab.size))).mkString("\n"))
      }
      // plain-Scala reference
      val lineDocs = docs.flatMap { case (id, t) => t.split("\n", -1).distinct.map(_ -> id) }
        .groupBy(_._1).map { case (l, xs) => l -> xs.size }
      val expected = docs.map { case (id, t) =>
        val all = t.split("\n", -1).toSeq
        val kept = all.filter(l => lineDocs(l) < minDocs)
        (id, all.size.toLong, kept.size.toLong, kept.mkString("\n"))
      }
      val got = Dedup.stripDuplicatedLines(docs.toDF("doc_id", "text"),
          "doc_id", "text", minDocs)
        .orderBy("doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
      assert(got === expected, s"trial $trial minDocs=$minDocs")
    }
  }

  test("LSH cosine pairs achieve high recall vs exact at threshold") {
    val e = Tables(spark, TestSpark.sfDir, "embeddings")
    val exact = SimilarityJoin.allPairs(e, "vec_id", "embedding")
      .where(col("sim") >= 0.4)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = SimilarityJoin.lshCosinePairs(e, "vec_id", "embedding",
        threshold = 0.4, numBits = 4, bands = 16, dim = 64)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact)) // verification step guarantees precision 1.0
    val recall = if (exact.isEmpty) 1.0 else lsh.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.7, s"LSH recall $recall over ${exact.size} pairs")
  }

  test("auto-sized LSH widths hold >=0.9 pair recall at theta 0.8 (50k and 500k widths)") {
    // The widths the auto-sizing picks at the two audited corpus sizes —
    // a formula regression first, so a silent resize can't dodge the gate
    assert(Dedup.autoLshBits(50000L) === 10)
    assert(Dedup.autoLshBits(500000L) === 13)
    assert(Dedup.autoLshBands(10) === 13)
    assert(Dedup.autoLshBands(13) === 21)
    // Seeded fixture with GROUND-TRUTH near-dups planted at exact
    // cosines in [0.88, 0.995] (the perturbed-copy range — the synthetic
    // embeddings tables have no true near-dups, their closest background
    // pairs sit at cosine 0.4–0.5). Per-band collision probability
    // depends only on widths and pair angle, never on n, so recall on
    // this fixture measures what the full 50k/500k corpus would see
    // under the same widths. Everything is seeded ⇒ the measured recall
    // is a constant, not a flaky statistic.
    val rng = new scala.util.Random(42)
    val base = Array.tabulate(2000) { i =>
      (i.toLong, Array.fill(64)(rng.nextGaussian().toFloat))
    }
    val plants = PlantedNearDups.planted(base, 300, 1000000L)
    val df = (base ++ plants).toSeq.toDF("vec_id", "embedding")
    for (targetN <- Seq(50000L, 500000L)) {
      val bits = Dedup.autoLshBits(targetN)
      val bands = Dedup.autoLshBands(bits)
      val (recall, _, nExact) =
        Dedup.lshPairRecall(df, "vec_id", "embedding", 0.8, bits, bands)
      assert(nExact === plants.length.toLong) // exact scan finds exactly the plants
      assert(recall >= 0.9,
        s"auto-width LSH recall $recall at bits=$bits bands=$bands (targetN=$targetN)")
    }
  }

  // ---- incremental COSINE dedup (CosineIndex + cosineDeltaPairs) ------

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("cosine delta dedup (exact tier) equals the batch scan restricted to delta pairs; save/load round-trips") {
    val corpus = graft.Tables(spark, TestSpark.sfDir, "embeddings")
    val split = 400L
    val ix = Dedup.buildCosineIndex(corpus.where(col("vec_id") < split),
      "vec_id", "embedding", numBits = 8, bands = 8)
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val delta = pairSet(Dedup.cosineDeltaPairs(ix,
      corpus.where(col("vec_id") >= split), "vec_id", "embedding", 0.4))
    val batchRestricted = SimilarityJoin
      .thresholdPairs(corpus, "vec_id", "embedding", 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), round6(r.getDouble(2))))
      .toSet.filter(p => p._1 >= split || p._2 >= split)
    assert(delta === batchRestricted)
    assert(delta.nonEmpty, "vacuous parity would prove nothing")
    val dir = TestSpark.tempDir("graft-cix").toString
    Dedup.save(ix, dir)
    val reloaded = Dedup.load(spark, dir, Dedup.CosineIndex)
    assert(reloaded.numBits === 8 && reloaded.bands === 8 &&
      reloaded.dim === 64 && reloaded.seed === 42L)
    val delta2 = pairSet(Dedup.cosineDeltaPairs(reloaded,
      corpus.where(col("vec_id") >= split), "vec_id", "embedding", 0.4))
    assert(delta2 === delta)
  }

  test("cosine delta dedup (LSH tier) equals the batch LSH operator restricted to delta pairs") {
    // seeded corpus with PLANTED near-dups (cos 0.88–0.995) so the
    // restricted LSH pair set is provably non-empty at these widths —
    // the sf corpus' delta pairs all sit at cos 0.40–0.48 where
    // hyperplane LSH recall is (by design) low, which would make the
    // parity vacuous
    val rng = new scala.util.Random(42)
    val base = Array.tabulate(800) { i =>
      (i.toLong, Array.fill(64)(rng.nextGaussian().toFloat))
    }
    val plants = PlantedNearDups.planted(base, 200, 100000L)
    val corpus = (base ++ plants).toSeq.toDF("vec_id", "embedding")
    val split = 100000L // plants are the delta batch
    val ix = Dedup.buildCosineIndex(corpus.where(col("vec_id") < split),
      "vec_id", "embedding", numBits = 8, bands = 8)
    // exactLimit = 0 forces the hyperplane-LSH delta route
    val delta = Dedup.cosineDeltaPairs(ix,
        corpus.where(col("vec_id") >= split), "vec_id", "embedding", 0.8,
        exactLimit = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val batchRestricted = SimilarityJoin
      .lshCosinePairs(corpus, "vec_id", "embedding", 0.8,
        numBits = 8, bands = 8, seed = 42L)
      .collect().map(r => (r.getLong(0), r.getLong(1), round6(r.getDouble(2))))
      .toSet.filter(p => p._1 >= split || p._2 >= split)
    assert(delta === batchRestricted)
    assert(delta.size >= 100, s"only ${delta.size} planted pairs surfaced — vacuous parity")
  }

  test("cosine delta dedup: old×old never re-scanned, old×new and new×new found; append grows the index") {
    // two old near-dups (0,1), a new dup of them (10), a new×new dup
    // pair (11,12), and an unrelated new vector (13)
    def vec(seedBase: Int): Array[Float] = {
      val r = new java.util.Random(7L * seedBase)
      Array.fill(16)(r.nextGaussian().toFloat)
    }
    val a = vec(1); val b = vec(2); val c = vec(3)
    val rows = Seq((0L, a), (1L, a), (10L, a), (11L, b), (12L, b), (13L, c))
    val df = rows.toDF("vec_id", "embedding")
    val ix = Dedup.buildCosineIndex(df.where(col("vec_id") < 10),
      "vec_id", "embedding", numBits = 4, bands = 4)
    // exactLimit = 0 exercises the LSH kernel's isNew bookkeeping
    val pairs = Dedup.cosineDeltaPairs(ix, df.where(col("vec_id") >= 10),
        "vec_id", "embedding", 0.95, exactLimit = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 10L)) && pairs.contains((1L, 10L)), "old×new")
    assert(pairs.contains((11L, 12L)), "new×new")
    assert(!pairs.contains((0L, 1L)), "old×old must not be re-emitted")
    // fold the first delta in; the next delta then sees it as "old"
    val grown = Dedup.append(ix, df.where(col("vec_id") >= 10 && col("vec_id") < 13),
      "vec_id", "embedding")
    val next = Seq((20L, b)).toDF("vec_id", "embedding")
    val pairs2 = Dedup.cosineDeltaPairs(grown, next, "vec_id", "embedding",
        0.95, exactLimit = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs2.contains((11L, 20L)) && pairs2.contains((12L, 20L)),
      "appended rows must be visible as index side")
    assert(!pairs2.contains((11L, 12L)), "appended×appended is old×old now")
  }

  test("append to minhash index folds a delta exactly: two-consecutive-delta parity") {
    val corpus = graft.Tables(spark, TestSpark.sfDir, "documents")
    val ix0 = Dedup.buildMinhashIndex(corpus.where(col("doc_id") < 400),
      "doc_id", "text", numHashes = 16, bands = 4, shingleLen = 3)
    val ix1 = Dedup.append(ix0,
      corpus.where(col("doc_id") >= 400 && col("doc_id") < 450), "doc_id", "text")
    val delta2 = Dedup.minhashDeltaPairs(ix1,
        corpus.where(col("doc_id") >= 450), "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val batchRestricted = Dedup.minhashLshPairs(corpus, "doc_id", "text",
        numHashes = 16, bands = 4, shingleLen = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet.filter(p => p._1 >= 450 || p._2 >= 450)
    assert(delta2 === batchRestricted)
    assert(delta2.nonEmpty, "vacuous parity would prove nothing")
  }

  test("semantic delta pairs equal the batch grouped scan restricted to delta pairs; save/load round-trips") {
    val corpus = graft.Tables(spark, TestSpark.sfDir, "embeddings")
    val cents = corpus.orderBy(col("vec_id")).limit(4)
      .select(col("embedding").cast("array<float>"))
      .collect().map(_.getSeq[Float](0).toArray)
    val split = 400L
    val ix = Dedup.buildSemanticIndex(corpus.where(col("vec_id") < split),
      "vec_id", "embedding", cents)
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id_a"), col("id_b"), col("cluster"), col("sim"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    val delta = pairSet(Dedup.semanticDeltaPairs(ix,
      corpus.where(col("vec_id") >= split), "vec_id", "embedding", 0.4))
    // the batch twin: the WHOLE corpus assigned under the same pinned
    // centroids, grouped-scanned, restricted to delta-touching pairs
    val all = Dedup.buildSemanticIndex(corpus, "vec_id", "embedding", cents)
    val batchRestricted = SimilarityJoin.groupedThresholdPairs(
        all.members, "cluster", "id", "v", 0.4)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getInt(0), round6(r.getDouble(3))))
      .toSet.filter(p => p._1 >= split || p._2 >= split)
    assert(delta === batchRestricted)
    assert(delta.nonEmpty, "vacuous parity would prove nothing")
    val dir = TestSpark.tempDir("graft-six").toString
    Dedup.save(ix, dir)
    val reloaded = Dedup.load(spark, dir, Dedup.SemanticIndex)
    assert(reloaded.centroids.length === 4 &&
      reloaded.centroids(0).toSeq === cents(0).toSeq)
    val delta2 = pairSet(Dedup.semanticDeltaPairs(reloaded,
      corpus.where(col("vec_id") >= split), "vec_id", "embedding", 0.4))
    assert(delta2 === delta)
  }

  test("semantic delta pairs: old×old never re-scanned, old×new and new×new found") {
    def vec(seedBase: Int): Array[Float] = {
      val r = new java.util.Random(7L * seedBase)
      Array.fill(16)(r.nextGaussian().toFloat)
    }
    val a = vec(1); val b = vec(2); val c = vec(3)
    val cents = Array(a, c)
    val archive = Seq((0L, a), (1L, a), (2L, c)).toDF("vec_id", "embedding")
    val ix = Dedup.buildSemanticIndex(archive, "vec_id", "embedding", cents)
    val delta = Seq((10L, a), (11L, b), (12L, b)).toDF("vec_id", "embedding")
    val pairs = Dedup.semanticDeltaPairs(ix, delta, "vec_id", "embedding", 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 10L)) && pairs.contains((1L, 10L)), "old×new")
    assert(pairs.contains((11L, 12L)), "new×new within the same cluster")
    assert(!pairs.contains((0L, 1L)), "old×old must not be re-emitted")
  }

  test("retraction: retract(append(ix, B), B.ids) == ix for all three modalities; forgotten docs never pair") {
    def rowsOf(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
      df.collect().map(_.toSeq.map {
        case a: Array[_] => a.toSeq
        case x => x
      }).toSet
    // minhash: append a batch, retract its ids — every component frame
    // returns to the original row set bit-for-bit
    val ix0 = Dedup.buildMinhashIndex(docs.where(col("doc_id") < 4),
      "doc_id", "text", numHashes = 16, bands = 4, shingleLen = 3)
    val batch = docs.where(col("doc_id") >= 4)
    val ix1 = Dedup.append(ix0, batch, "doc_id", "text")
    val back = Dedup.retract(ix1,
      batch.select(col("doc_id")), "doc_id")
    assert(rowsOf(back.buckets) === rowsOf(ix0.buckets))
    assert(rowsOf(back.sets) === rowsOf(ix0.sets))
    // a forgotten document never pairs again: retract doc 1 (exact dup
    // of 0), then a delta near-dup of 0 pairs with 0 but NOT with 1
    val scrubbed = Dedup.retract(ix0,
      docs.where(col("doc_id") === 1L).select(col("doc_id")), "doc_id")
    val pairs = Dedup.minhashDeltaPairs(scrubbed,
        Seq((50L, "the quick brown fox jumps over the lazy dog"))
          .toDF("doc_id", "text"),
        "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 50L)), s"retained doc must still pair: $pairs")
    assert(!pairs.exists(p => p._1 == 1L || p._2 == 1L),
      s"forgotten doc must never pair: $pairs")
    // cosine + semantic twins through the dispatching facade
    val a = Array.tabulate(8)(i => (i + 1).toFloat)
    val c = Array.tabulate(8)(i => if (i % 2 == 0) 1.0f else -1.0f)
    val vecs = Seq((0L, a), (1L, c)).toDF("vec_id", "embedding")
    val vbatch = Seq((10L, a.map(_ * 1.01f))).toDF("vec_id", "embedding")
    val cix0 = Dedup.buildCosineIndex(vecs, "vec_id", "embedding",
      numBits = 4, bands = 2)
    val cback = Dedup.retract(
      Dedup.append(cix0, vbatch, "vec_id", "embedding"),
      vbatch.select(col("vec_id")), "vec_id").asInstanceOf[Dedup.CosineIndex]
    assert(rowsOf(cback.buckets) === rowsOf(cix0.buckets))
    assert(rowsOf(cback.vecs) === rowsOf(cix0.vecs))
    val six0 = Dedup.buildSemanticIndex(vecs, "vec_id", "embedding",
      Array(a, c))
    val sback = Dedup.retract(
      Dedup.append(six0, vbatch, "vec_id", "embedding"),
      vbatch.select(col("vec_id")), "vec_id").asInstanceOf[Dedup.SemanticIndex]
    assert(rowsOf(sback.members) === rowsOf(six0.members))
    // retracting an id the index never held refuses loudly
    val e = intercept[IllegalArgumentException] {
      Dedup.retract(ix0,
        Seq(999L).toDF("doc_id"), "doc_id")
    }
    assert(e.getMessage.contains("never") && e.getMessage.contains("folded"),
      e.getMessage)
  }

  test("delta disjointness contract is enforced loudly, and degrades safely when disabled") {
    val ix = Dedup.buildMinhashIndex(docs.where(col("doc_id") < 3),
      "doc_id", "text", numHashes = 16, bands = 4, shingleLen = 3)
    // overlapping ids → loud failure naming offenders
    val e = intercept[IllegalArgumentException] {
      Dedup.minhashDeltaPairs(ix, docs, "doc_id", "text", threshold = 0.5)
    }
    assert(e.getMessage.contains("disjoint"), e.getMessage)
    // duplicate ids WITHIN the batch are also loud (silently duplicated
    // pairs, nondeterministic under conflicting payloads, otherwise)
    val dupBatch = Seq((40L, "some fresh text about rivers today"),
      (40L, "some fresh text about rivers today")).toDF("doc_id", "text")
    val e2 = intercept[IllegalArgumentException] {
      Dedup.minhashDeltaPairs(ix, dupBatch, "doc_id", "text", threshold = 0.5)
    }
    assert(e2.getMessage.contains("unique within the batch"), e2.getMessage)
    intercept[IllegalArgumentException] {
      Dedup.append(ix, docs.where(col("doc_id") < 1), "doc_id", "text")
    }
    // cosine side shares the guard
    val edf = Seq((0L, Array.fill(8)(1.0f)), (1L, Array.fill(8)(0.5f)))
      .toDF("vec_id", "embedding")
    val cix = Dedup.buildCosineIndex(edf, "vec_id", "embedding",
      numBits = 4, bands = 2)
    intercept[IllegalArgumentException] {
      Dedup.cosineDeltaPairs(cix, edf, "vec_id", "embedding", 0.5)
    }
    // guard disabled: the scan kernels still refuse self-pairs, so a
    // violation yields duplicate-pair noise, never (id, id, 1.0)
    spark.conf.set("spark.graft.checkDeltaDisjoint", "false")
    try {
      val pairs = Dedup.minhashDeltaPairs(ix, docs.where(col("doc_id") < 3),
          "doc_id", "text", threshold = 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(pairs.forall(p => p._1 != p._2), s"self pair in ${pairs.toSeq}")
      assert(pairs.nonEmpty, "0/1/2 are near-dups — overlap should still pair them")
      val cp = Dedup.cosineDeltaPairs(cix, edf, "vec_id", "embedding", 0.5,
          exactLimit = 0L)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(cp.forall(p => p._1 != p._2), s"self pair in ${cp.toSeq}")
    } finally spark.conf.set("spark.graft.checkDeltaDisjoint", "true")
  }

  test("sort-based grid shuffle (default) is pair-identical to the groupByKey form") {
    // the groupByKey exchange scanCells replaced in round 11, kept here as
    // the reference: same grid, same scan kernel, so the same pairs
    import scala.reflect.ClassTag
    def groupedCells[K: ClassTag, V: ClassTag, R: ClassTag](
        grid: org.apache.spark.rdd.RDD[(K, V)], partitions: Int)(
        scan: (K, Iterator[V]) => Iterator[R]): org.apache.spark.rdd.RDD[R] =
      grid.groupByKey(partitions).flatMap { case (k, vs) => scan(k, vs.iterator) }
    val e = Tables(spark, TestSpark.sfDir, "embeddings")
      .select(col("vec_id").cast("long"), col("embedding").cast("array<float>"))
      .as[(Long, Array[Float])].rdd
    // cells keyed like the LSH grid: 8 random-hyperplane sign bits
    val planes = {
      val r = new java.util.Random(11L)
      Array.fill(8)(Array.fill(512)(r.nextGaussian()))
    }
    val grid = e.map { case (id, v) =>
      val sig = planes.indices.foldLeft(0) { (acc, b) =>
        val dot = v.indices.iterator.map(i => planes(b)(i % 512) * v(i)).sum
        if (dot > 0) acc | (1 << b) else acc
      }
      (sig, (id, v))
    }
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot, na, nb = 0.0
      var i = 0
      while (i < math.min(a.length, b.length)) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      if (na == 0 || nb == 0) 0.0 else dot / math.sqrt(na * nb)
    }
    val scan: (Int, Iterator[(Long, Array[Float])]) => Iterator[(Long, Long, Double)] =
      (_, it) => {
        val rows = it.toArray.sortBy(_._1)
        for {
          i <- rows.indices.iterator
          j <- (i + 1 until rows.length).iterator
          s = cos(rows(i)._2, rows(j)._2)
          if s >= 0.4
        } yield (rows(i)._1, rows(j)._1, s)
      }
    val sorted = SimilarityJoin.scanCells(grid, 8)(scan).collect().toSet
    val grouped = groupedCells(grid, 8)(scan).collect().toSet
    assert(sorted === grouped)
    assert(sorted.nonEmpty, "vacuous parity would prove nothing")
  }

  test("delta guard reports null ids with its own message, not an opaque NPE") {
    val ix = Dedup.buildMinhashIndex(docs.where(col("doc_id") < 3),
      "doc_id", "text", numHashes = 16, bands = 4, shingleLen = 3)
    val nullBatch = Seq((Some(40L), "fresh river text"), (None, "null id row"))
      .toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Dedup.minhashDeltaPairs(ix, nullBatch, "doc_id", "text", threshold = 0.5)
    }
    assert(e.getMessage.contains("non-null"), e.getMessage)
    // uncastable string ids are already loud under ANSI mode (Spark 4
    // default): the guard's cast throws CAST_INVALID_INPUT before the
    // null-key path — either way, never an opaque NPE downstream
    val badBatch = Seq(("not-a-number", "x"), ("41", "y")).toDF("doc_id", "text")
    val e2 = intercept[Exception] {
      Dedup.minhashDeltaPairs(ix, badBatch, "doc_id", "text", threshold = 0.5)
    }
    assert(e2.getMessage.contains("CAST_INVALID_INPUT") ||
      e2.getMessage.contains("non-null"), e2.getMessage)
  }

  test("appendToSemanticIndex: grown index ≡ index built on the union, at delta cost") {
    def vec(seedBase: Int): Array[Float] = {
      val r = new java.util.Random(7L * seedBase)
      Array.fill(16)(r.nextGaussian().toFloat)
    }
    val cents = Array(vec(1), vec(3))
    val day0 = Seq((0L, vec(1)), (1L, vec(2)), (2L, vec(3))).toDF("vec_id", "embedding")
    val day1 = Seq((10L, vec(1)), (11L, vec(4))).toDF("vec_id", "embedding")
    val grown = Dedup.append(
      Dedup.buildSemanticIndex(day0, "vec_id", "embedding", cents),
      day1, "vec_id", "embedding")
    val oneShot = Dedup.buildSemanticIndex(day0.unionByName(day1),
      "vec_id", "embedding", cents)
    def memberSet(ix: Dedup.SemanticIndex) =
      ix.members.select(col("id"), col("cluster")).collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(memberSet(grown) === memberSet(oneShot))
    assert(grown.centroids.map(_.toSeq) === cents.map(_.toSeq), "centroids pinned")
    // guard shared: appending an already-indexed id is loud
    intercept[IllegalArgumentException] {
      Dedup.append(grown, day0.limit(1), "vec_id", "embedding")
    }
  }

  test("deltaPairs facade routes each index modality and normalizes to (id_a, id_b, score)") {
    def vec(seedBase: Int): Array[Float] = {
      val r = new java.util.Random(7L * seedBase)
      Array.fill(16)(r.nextGaussian().toFloat)
    }
    def scoreSet(df: org.apache.spark.sql.DataFrame) = {
      assert(df.columns.toSeq === Seq("id_a", "id_b", "score"))
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    }
    // minhash tier ≡ minhashDeltaPairs (delta carries an exact dup of
    // doc 0 so a band collision is guaranteed, not probabilistic)
    val mIx = Dedup.buildMinhashIndex(docs.where(col("doc_id") < 3),
      "doc_id", "text", numHashes = 16, bands = 4, shingleLen = 3)
    val mDelta = docs.where(col("doc_id") >= 3).unionByName(
      Seq((40L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text"))
    val mGot = scoreSet(Dedup.deltaPairs(mIx, mDelta, "doc_id", "text", 0.4))
    val mWant = Dedup.minhashDeltaPairs(mIx, mDelta, "doc_id", "text", 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(mGot === mWant && mGot.nonEmpty)
    // cosine tier ≡ cosineDeltaPairs (exact route at this size)
    val vecs = Seq((0L, vec(1)), (1L, vec(1)), (2L, vec(2))).toDF("vec_id", "embedding")
    val delta = Seq((10L, vec(1)), (11L, vec(2))).toDF("vec_id", "embedding")
    val cIx = Dedup.buildCosineIndex(vecs, "vec_id", "embedding", numBits = 4, bands = 4)
    val cGot = scoreSet(Dedup.deltaPairs(cIx, delta, "vec_id", "embedding", 0.95))
    val cWant = Dedup.cosineDeltaPairs(cIx, delta, "vec_id", "embedding", 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(cGot === cWant && cGot.nonEmpty)
    // semantic tier ≡ semanticDeltaPairs (cluster column dropped)
    val sIx = Dedup.buildSemanticIndex(vecs, "vec_id", "embedding",
      Array(vec(1), vec(2)))
    val sGot = scoreSet(Dedup.deltaPairs(sIx, delta, "vec_id", "embedding", 0.95))
    val sWant = Dedup.semanticDeltaPairs(sIx, delta, "vec_id", "embedding", 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSet
    assert(sGot === sWant && sGot.nonEmpty)
  }

  test("withoutAqe plans statically, restores the conf, and never leaks under racing guards") {
    import spark.implicits._
    val key = "spark.sql.adaptive.enabled"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    val frame = Seq(1L, 2L, 2L).toDF("id")
      .groupBy("id").count().where(col("count") > 1)
    // result matches a plain collect; the memoized plan is static (no
    // AdaptiveSparkPlanExec root) even though the session conf is back on
    val rows = Dedup.withoutAqe(spark, frame)
    assert(rows.map(_.getLong(0)).toSet === Set(2L))
    assert(spark.conf.get(key) === "true", "conf must be restored")
    assert(!frame.queryExecution.executedPlan.getClass.getSimpleName
      .contains("Adaptive"),
      s"guard plan must be static: ${frame.queryExecution.executedPlan.getClass}")
    // racing guards: unserialized save/set/restore would let one thread
    // snapshot the other's "false" and leave AQE off forever — the
    // JVM-global planning lock makes the window atomic
    val threads = (1 to 8).map(t => new Thread(() =>
      (1 to 25).foreach { i =>
        Dedup.withoutAqe(spark, Seq(t.toLong, i.toLong).toDF("id").limit(1))
      }))
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(spark.conf.get(key) === "true",
      "concurrent guards must never leak their temporary AQE-off state")
    before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
