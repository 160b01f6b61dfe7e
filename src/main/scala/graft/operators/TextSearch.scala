package graft.operators

import graft.Par
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Keyword retrieval over the document corpus — a training-data-pipeline
 * addition beyond the reference (which is vector-only): classic BM25
 * scoring and reciprocal-rank fusion for hybrid keyword+vector search.
 *
 * Scale design (100 TB): everything is inverted-index shaped. The only
 * corpus-sized shuffles are the tokenize→(doc, term) explode and its
 * per-doc/per-term aggregations — co-partitioned hash aggregations on
 * narrow keys with map-side combine. The query-term postings (`tf`) are
 * filtered BEFORE any join (terms ∈ query — pushed to the aggregation
 * input), and the document-frequency and corpus-stats tables are tiny
 * (|query terms| rows; one row) — broadcast joins. Nothing is
 * all-pairs; no driver-side loops.
 */
object TextSearch {

  /** BM25 top-k for a bag of query terms (Robertson/Sparck-Jones idf in
    * the BM25+1 form Lucene uses: `ln((N − df + 0.5)/(df + 0.5) + 1)` —
    * always positive). Tokenization is the engine's standard form
    * (lower, split on whitespace, drop empties); `tf` counts every
    * occurrence. Output: (doc_id, score) — score rounded to 6 dp, rows
    * ordered (score desc, doc_id) and limited to `k`. */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               terms: Seq[String], k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // bag-of-terms BM25: a duplicated query term must not score twice
    // (each element gets its own tf slot below, and the oracle SQL
    // GROUPs BY term) — dedupe at entry
    val termsArr = terms.distinct.toArray
    // no terms → no matches (the contribs/where reduces below are over
    // the term list and would throw on empty)
    if (termsArr.isEmpty)
      return docs.select(col(idCol).cast("long").as("doc_id"),
        lit(0.0).as("score")).where(lit(false))
    // ONE tokenize pass per doc emits (len, per-term tf) — doc lengths
    // ride with the tf rows, so no lens join and no term-row explosion.
    val perDoc = Par.widen(docs.select(col(idCol).cast("long"), col(textCol)))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.flatMap { case (id, t) =>
          val ws = if (t == null) Array.empty[String]
                   else t.toLowerCase(java.util.Locale.ROOT).split("\\s+").filter(_.nonEmpty)
          if (ws.isEmpty) Iterator.empty
          else {
            val counts = new Array[Int](termsArr.length)
            ws.foreach { w =>
              var i = 0
              while (i < termsArr.length) {
                if (w == termsArr(i)) counts(i) += 1
                i += 1
              }
            }
            Iterator.single((id, ws.length, counts))
          }
        }
      }
      .toDF("doc_id", "len", "tfs")
      // the exchange makes this subtree REUSABLE: both consumers below
      // (corpus stats, per-doc scoring) read one shuffle output instead
      // of re-running the tokenize per consumer. At sf0.1 the query is
      // stage-floor-bound; at corpus scale the saving is a full
      // tokenize pass. Slim rows (id, int, array).
      .repartition(col("doc_id"))
    // ONE corpus-stats row: N docs-with-tokens, mean doc length, and the
    // per-term document frequency (df_i = docs where term i occurs) —
    // folding df into this aggregate removes the explode→groupBy(term)
    // pass and its broadcast job that a separate df table would cost
    val aggCols = Seq(count(lit(1)).as("n"), avg(col("len")).as("avgdl")) ++
      termsArr.indices.map(i =>
        sum(when(col("tfs")(i) > 0, 1L).otherwise(0L)).as(s"df_$i"))
    val stats = perDoc.agg(aggCols.head, aggCols.tail: _*)
    // per-doc score in a single projection: the query-term list is tiny
    // and static, so the Σ over terms unrolls into a codegen'd expression
    // (term-index order — the order the oracle's hash was proven under;
    // absent terms contribute exactly +0.0, which cannot perturb the sum)
    // and the k-limit plans as TakeOrderedAndProject — no per-(doc,term)
    // rows, no df join, no final groupBy(doc_id) shuffle
    val contribs = termsArr.indices.map { i =>
      val tf = col("tfs")(i)
      val df = col(s"df_$i")
      val idf = log((col("n") - df + 0.5) / (df + 0.5) + 1.0)
      when(tf > 0,
        idf * (tf * (k1 + 1.0)) /
          (tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("len") / col("avgdl"))))
        .otherwise(lit(0.0))
    }
    perDoc.crossJoin(broadcast(stats))
      .where(termsArr.indices.map(i => col("tfs")(i) > 0).reduce(_ || _))
      .select(col("doc_id"), round(contribs.reduce(_ + _), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /**
   * Reciprocal-rank fusion: each input ranking is (doc_id, rank)
   * (rank 1 = best); fused score = Σ over rankings of `1/(rrfK + rank)`
   * — the standard hybrid keyword+vector combiner (Cormack et al.'s
   * RRF), rank-only so incomparable score scales fuse cleanly. A doc
   * absent from a ranking simply contributes nothing. Output:
   * (doc_id, score) rounded to 6 dp, ordered (score desc, doc_id),
   * limited to `k`.
   */
  def rrfFuse(rankings: Seq[DataFrame], k: Int, rrfK: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "need at least one ranking to fuse")
    val unioned = rankings
      .map(_.select(col("doc_id").cast("long"), col("rank").cast("long")))
      .reduce(_ unionByName _)
    unioned
      .withColumn("part", lit(1.0) / (col("rank") + lit(rrfK.toDouble)))
      .groupBy(col("doc_id"))
      .agg(round(sum(col("part")), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** Convenience: a (doc_id, score) result → (doc_id, rank) under the
    * deterministic (score desc, doc_id) total order. Single-partition
    * window — rankings are top-k sized (serving k, not corpus), so the
    * unpartitioned window is |k| rows on one task, not a scale risk. */
  def asRanking(scored: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    scored.withColumn("rank",
        row_number().over(Window.orderBy(col("score").desc, col("doc_id"))))
      .select(col("doc_id"), col("rank"))
  }
}
