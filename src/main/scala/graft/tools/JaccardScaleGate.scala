package graft.tools

import graft.operators.Dedup
import org.apache.spark.sql.functions._

/**
 * ×10 hash gate for the n-gram Jaccard surface (q25), whose full
 * DuckDB oracle is an O(n²) list-intersect self-join that exceeds the
 * oracle budget at 50k docs (the one exclusion in the rounds-10..12
 * ×10 re-proof tables). The trick: Jaccard of a pair depends only on
 * the two documents, so restricting the COMPARISON to pairs whose
 * endpoints both fall in a sampled id band shrinks the oracle's pair
 * space quadratically while the ENGINE still runs the full production
 * operator (inverted index + Σdf²/P router) over the whole corpus —
 * the engine's work is gated at scale; only the hash comparison is
 * sampled.
 *
 * Usage: runMain graft.tools.JaccardScaleGate <sfDir> <outDir>
 *   [mod] [band]
 * then: python3 tools/check_oracle.py <sfDir> <outDir>
 */
object JaccardScaleGate {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val mod = if (args.length > 2) args(2).toInt else 17
    val band = if (args.length > 3) args(3).toInt else 3
    val spark = graft.Graft.session()
    spark.sparkContext.setLogLevel("WARN")

    val docs = graft.Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val t0 = System.nanoTime()
    // the PRODUCTION q25 surface over the FULL corpus — postings,
    // df routing, grouped emit; nothing about the band reaches the plan
    // until the output filter
    val banded = Dedup.ngramJaccardPairsAuto(docs, "doc_id", "text",
        n = 3, threshold = 0.5)
      .where(pmod(col("id_a"), lit(mod)) === band &&
             pmod(col("id_b"), lit(mod)) === band)
      .orderBy(col("id_a"), col("id_b"))
    banded.write.mode("overwrite").parquet(s"$outDir/q25_jaccard_band")
    val rows = spark.read.schema(banded.schema)
      .parquet(s"$outDir/q25_jaccard_band").count()
    println(f"q25 band gate: full-corpus operator + band filter in " +
      f"${(System.nanoTime() - t0) / 1e9}%.2f s, $rows band pairs " +
      s"(mod $mod, band $band)")

    // the band-restricted oracle: q25's SQL verbatim, with the band
    // predicate applied at the SHINGLE CTE (so DuckDB's pair space is
    // (n/mod)² instead of n²). NOTE on the '\\s+' below: this is an
    // s-INTERPOLATED triple-quoted string, and the s interpolator
    // processes escape sequences (unlike a bare """ literal), so \\
    // yields ONE backslash — the regex DuckDB receives after the JSON
    // round trip is \s+, identical to the q25 oracle's. A bare \s here
    // is a compile error, which is the executable proof.
    val oracle =
      s"""WITH sh AS (
         |  SELECT doc_id, list_distinct(CASE WHEN len(ws) >= 3
         |    THEN list_transform(range(len(ws)-2), i -> array_to_string(ws[(i+1):(i+3)], ' '))
         |    ELSE [array_to_string(ws, ' ')] END) AS s
         |  FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS ws FROM documents
         |        WHERE doc_id % $mod = $band))
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  round(len(list_intersect(a.s, b.s)) * 1.0 / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6) AS jaccard
         |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |WHERE len(list_intersect(a.s, b.s)) * 1.0 / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5
         |ORDER BY id_a, id_b""".stripMargin
    val json = "{\"q25_jaccard_band\": " +
      "\"" + oracle.replace("\\", "\\\\").replace("\"", "\\\"")
        .replace("\n", "\\n") + "\"}"
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$outDir/oracle_sql.json"),
      json.getBytes("UTF-8"))
    spark.stop()
  }
}
