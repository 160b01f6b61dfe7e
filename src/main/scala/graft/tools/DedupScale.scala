package graft.tools

import graft.operators.{Components, Dedup}
import org.apache.spark.sql.functions._

/**
 * Scale measurements for the cluster-formation + semantic-dedup family
 * on a ScaleUp dir: `runMain graft.tools.DedupScale <dir>`.
 *
 *  - near-dup pair emission (auto-routed LSH at this size) and the
 *    component closure over the result — BOTH routes (driver union-find
 *    under the edge cap, forced distributed star rounds) so the star
 *    rounds' cost is a published number, not a trust-me
 *  - SemDeDup marks end to end (sample-trained k-means + within-cluster
 *    blocked scan + closure) at the paper-shaped k ≈ √n
 */
object DedupScale {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = graft.Graft.session()
    spark.sparkContext.setLogLevel("WARN")

    def timed[T](name: String)(fn: => T): T = {
      val t0 = System.nanoTime()
      val r = fn
      println(f"$name%-32s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }

    val e = graft.Tables(spark, dir, "embeddings")
    val n = e.count()
    println(s"embeddings: $n")

    val pairs = timed("near_dup_pairs (auto route)") {
      val p = Dedup.embeddingNearDupPairs(e, "vec_id", "embedding", 0.9).cache()
      println(s"  pairs: ${p.count()}")
      p
    }
    timed("components (local route)") {
      Components.connectedComponents(pairs, "id_a", "id_b").count()
    }
    timed("components (distributed)") {
      Components.connectedComponents(pairs, "id_a", "id_b", localEdgeLimit = 0L).count()
    }
    timed("dup_clusters + keep-one") {
      Components.dropByPairs(e, "vec_id", pairs).count()
    }
    pairs.unpersist()

    val k = math.max(8, math.sqrt(n.toDouble).toInt)
    timed(s"semantic_dedup_marks (k=$k)") {
      // cap pinned unbounded: this row measures the EXACT algorithm's
      // scale cost, r17-comparable; the dense capped one-shot has its
      // own dedicated run (BENCH.md round 18)
      val m = Dedup.semanticDedupMarks(e, "vec_id", "embedding",
        threshold = 0.9, k = k, hotClusterPairCap = Long.MaxValue)
      val dropped = m.where(!col("kept")).count()
      println(s"  dropped: $dropped of $n")
    }
    timed(s"semantic_dedup_marks keepFarthest (k=$k)") {
      // the paper's representative rule: same pair/component stages plus
      // one window over the component key (q83 gates its correctness;
      // this row is its scale cost at the √n-cluster operating point)
      val m = Dedup.semanticDedupMarks(e, "vec_id", "embedding",
        threshold = 0.9, k = k, keepFarthest = true,
        hotClusterPairCap = Long.MaxValue)
      val dropped = m.where(!col("kept")).count()
      println(s"  dropped: $dropped of $n")
    }

    // incremental fuzzy dedup at the realistic split: yesterday's 90%
    // mined once into the index (one-time, amortized across every
    // delta), today's 10% deduped against it — the cost a daily-ingest
    // pipeline actually pays per batch
    val docsAll = graft.Tables(spark, dir, "documents")
    val nd = docsAll.count()
    // id-distribution-independent 90/10 split (ScaleUp ids are strided)
    val oldSide = docsAll.where(col("doc_id") % 10 =!= 0)
    val newSide = docsAll.where(col("doc_id") % 10 === 0)
    val ix = timed(s"minhash index build (~${nd * 9 / 10} docs, one-time)") {
      val i = Dedup.buildMinhashIndex(oldSide, "doc_id", "text")
      i.buckets.persist().count(); i.sets.persist().count()
      i
    }
    // hotBucketPairCap pinned UNBOUNDED on the three delta rows (r19,
    // ADVICE): these printed pair counts and walls are continuity
    // records vs pre-r18 rounds — a bucket going hot at ×10/×100 under
    // the AutoCap default would silently change both. Same rationale as
    // the semanticDedupMarks rows below.
    timed(s"delta near-dup (~${nd / 10} new vs ~${nd * 9 / 10} indexed)") {
      val p = Dedup.minhashDeltaPairs(ix, newSide, "doc_id", "text", 0.5,
        hotBucketPairCap = Long.MaxValue)
      println(s"  delta pairs: ${p.count()}")
    }
    // the SAME delta under the AutoCap engine default (r20, r19 ADVICE
    // #2): scale coverage for the probed capped route (probe job +
    // covering emission when a bucket goes hot) — a hot-path regression
    // at ×10/×100 surfaces here instead of only in unit specs. Pair
    // count printed so a cap engagement (count below the unbounded row)
    // is visible, not silent.
    timed(s"delta near-dup AutoCap (probed capped route)") {
      val p = Dedup.minhashDeltaPairs(ix, newSide, "doc_id", "text", 0.5)
      println(s"  delta pairs (AutoCap): ${p.count()}")
    }
    // append fold: day N's delta becomes part of day N+1's index — the
    // cost is materializing the delta's banding keys + set payloads
    // into the union (here: persist + count of the grown frames)
    timed(s"append delta into index (~${nd / 10} docs folded)") {
      val grown = Dedup.append(ix, newSide, "doc_id", "text")
      val b = grown.buckets.persist().count()
      val s2 = grown.sets.persist().count()
      println(s"  grown index: $b bucket keys, $s2 sets")
      grown.buckets.unpersist(); grown.sets.unpersist()
    }
    ix.buckets.unpersist(); ix.sets.unpersist()

    // the cosine twin at the same 90/10 split: index the 90% once,
    // dedup the 10% embedding delta against it (LSH tier at this size,
    // widths auto-sized at the index corpus)
    val eOld = e.where(col("vec_id") % 10 =!= 0)
    val eNew = e.where(col("vec_id") % 10 === 0)
    val cix = timed(s"cosine index build (~${n * 9 / 10} vecs, one-time)") {
      val i = Dedup.buildCosineIndex(eOld, "vec_id", "embedding")
      i.buckets.persist().count(); i.vecs.persist().count()
      i
    }
    timed(s"cosine delta near-dup (~${n / 10} new vs ~${n * 9 / 10} indexed)") {
      val p = Dedup.cosineDeltaPairs(cix, eNew, "vec_id", "embedding", 0.9,
        hotBucketPairCap = Long.MaxValue)
      println(s"  delta pairs: ${p.count()}")
    }
    timed(s"append delta into cosine index (~${n / 10} vecs folded)") {
      val grown = Dedup.append(cix, eNew, "vec_id", "embedding")
      val b = grown.buckets.persist().count()
      val v = grown.vecs.persist().count()
      println(s"  grown index: $b signature keys, $v vectors")
      grown.buckets.unpersist(); grown.vecs.unpersist()
    }
    cix.buckets.unpersist(); cix.vecs.unpersist()

    // the semantic twin: sample-trained centroids at the paper-shaped
    // k ≈ √n, archive assigned once, delta assigns + pairs within its
    // clusters only — archived×archived never re-scans
    val kSem = math.max(8, math.sqrt(n.toDouble).toInt)
    val six = timed(s"semantic index build (k=$kSem, ~${n * 9 / 10} vecs, one-time)") {
      val cents = graft.operators.Clustering.fitCentroids(eOld, "embedding", kSem)
      val i = Dedup.buildSemanticIndex(eOld, "vec_id", "embedding", cents)
      i.members.persist().count()
      i
    }
    timed(s"semantic delta pairs (~${n / 10} new vs ~${n * 9 / 10} archived)") {
      val p = Dedup.semanticDeltaPairs(six, eNew, "vec_id", "embedding", 0.9,
        hotClusterPairCap = Long.MaxValue)
      println(s"  delta pairs: ${p.count()}")
    }
    six.members.unpersist()

    // operator-only scrub (q74's bench number includes its test-harness
    // line reshape, which the oracle also pays — this isolates the
    // operator: blocklist → PII redaction → line strip on raw docs)
    val docs = graft.Tables(spark, dir, "documents")
    timed("scrub (operator only)") {
      val out = graft.operators.CurationPipeline.scrub(
        docs, "doc_id", "text", Seq("badphrase"), lineMinDocs = 2)
      println(s"  kept: ${out.agg(sum(length(col("text")))).head().getLong(0) / 1000000} MB text")
    }

    // optional second dir: decontaminate THIS corpus against that dir's
    // documents as the benchmark — the real-use shape (the q63 ×100 row
    // scales the benchmark ×100 alongside the corpus, which no real
    // pipeline does; this isolates corpus-side scaling at a FIXED
    // benchmark)
    args.drop(1).headOption.foreach { benchDir =>
      val train = graft.Tables(spark, dir, "documents")
      val bench = graft.Tables(spark, benchDir, "documents")
      println(s"decontaminate: train=${train.count()} benchmark=${bench.count()}")
      timed("decontaminate (fixed benchmark)") {
        val kept = graft.operators.Decontaminate.decontaminate(
          train, bench, "doc_id", "text", n = 8)
        println(s"  kept: ${kept.count()}")
      }
    }
    spark.stop()
  }
}
