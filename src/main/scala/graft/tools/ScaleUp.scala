package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Scale-up generator for the BENCH.md scaling-curve experiment: replicates
 * an existing sf directory N× with consistent key shifts, producing a
 * larger dataset with the SAME statistical shape (join fan-outs, group
 * cardinalities per replica, near-dup structure) so suite timings across
 * scales measure the ENGINE, not changed data characteristics.
 *
 *  - every replica shifts each key family by `i × stride(table)` so joins
 *    stay consistent (orders⋈lineitem, customer⋈orders, …)
 *  - document text is salted with a replica prefix, so near-dup pair
 *    output grows linearly with replicas instead of quadratically
 *    (10 identical copies of each doc would add C(10,2) cross-replica
 *    pairs per document — a data change, not a scale change)
 *  - embeddings rotate by replica index: cosine between rotations of a
 *    gaussian-ish vector is ≈0, so cross-replica vectors are strangers,
 *    preserving per-replica neighborhood structure
 *
 * Usage: runMain graft.tools.ScaleUp <srcDir> <dstDir> <copies>
 */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val Array(src, dst, copiesStr) = args.take(3)
    val spark = graft.Graft.session()
    spark.sparkContext.setLogLevel("WARN")
    run(spark, src, dst, copiesStr.toInt)
    spark.stop()
  }

  /** Session-borrowing form (the CLI `main` owns its session; tests pass
    * the shared one — `run` never stops it). */
  def run(spark: SparkSession, src: String, dst: String, copies: Int): Unit = {
    def read(t: String): DataFrame = graft.Tables(spark, src, t)
    def stride(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head().getLong(0) + 1L

    val cStride = stride(read("customer"), "c_custkey")
    val sStride = stride(read("supplier"), "s_suppkey")
    val pStride = stride(read("part"), "p_partkey")
    val oStride = stride(read("orders"), "o_orderkey")
    val eStride = stride(read("events"), "event_id")
    val uStride = stride(read("events"), "user_id")
    val dStride = stride(read("documents"), "doc_id")
    val vStride = stride(read("embeddings"), "vec_id")

    def replicate(t: String)(shift: (DataFrame, Int) => DataFrame): Unit = {
      val df = read(t)
      (0 until copies).map(i => shift(df, i)).reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")
      println(s"scaled $t x$copies")
    }

    // dimensions: one copy
    Seq("region", "nation").foreach { t =>
      read(t).write.mode("overwrite").parquet(s"$dst/$t.parquet")
    }
    replicate("customer")((df, i) =>
      df.withColumn("c_custkey", col("c_custkey") + lit(i * cStride)))
    replicate("supplier")((df, i) =>
      df.withColumn("s_suppkey", col("s_suppkey") + lit(i * sStride)))
    replicate("part")((df, i) =>
      df.withColumn("p_partkey", col("p_partkey") + lit(i * pStride)))
    replicate("orders")((df, i) => df
      .withColumn("o_orderkey", col("o_orderkey") + lit(i * oStride))
      .withColumn("o_custkey", col("o_custkey") + lit(i * cStride)))
    replicate("lineitem")((df, i) => df
      .withColumn("l_orderkey", col("l_orderkey") + lit(i * oStride))
      .withColumn("l_partkey", col("l_partkey") + lit(i * pStride))
      .withColumn("l_suppkey", col("l_suppkey") + lit(i * sStride)))
    replicate("events")((df, i) => df
      .withColumn("event_id", col("event_id") + lit(i * eStride))
      .withColumn("user_id", col("user_id") + lit(i * uStride)))
    replicate("documents")((df, i) => {
      // suffix EVERY token with the replica tag: cross-replica shingle
      // sets become disjoint (a prefix-only salt would leave replicas
      // ~identical and blow up near-dup pair counts combinatorially)
      val salted = if (i == 0) df
        else df.withColumn("text",
          regexp_replace(col("text"), "(\\S+)", s"$$1$i"))
      salted
        .withColumn("doc_id", col("doc_id") + lit(i * dStride))
        .withColumn("n_chars", length(col("text")).cast("long"))
    })
    replicate("embeddings")((df, i) => {
      // rotate by i mod dim so any copy count works (shift 0 = identity:
      // the second slice takes length 0)
      val sh = pmod(lit(i), size(col("embedding")))
      val rotated = if (i == 0) df.withColumn("__e", col("embedding"))
        else df.withColumn("__e", concat(
          slice(col("embedding"), sh + lit(1), size(col("embedding")) - sh),
          slice(col("embedding"), lit(1), sh)))
      rotated
        .withColumn("vec_id", col("vec_id") + lit(i * vStride))
        .drop("embedding").withColumnRenamed("__e", "embedding")
        .select("vec_id", "embedding", "label")
    })
  }
}
