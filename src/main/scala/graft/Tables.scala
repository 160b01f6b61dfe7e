package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table loader for the driver-generated TESTDATA star schema. */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Repair scan parallelism for map-heavy plans over small
    * unsplittable inputs — delegates to [[graft.Par.widen]]
    * (file-metadata split estimate, no AQE materialization): a no-op
    * at production file counts, an exchange exactly where the input
    * layout starves the plan. Use only on integer/string-valued
    * chains: float AGGREGATES keep their scan partitioning so
    * accumulation order (and the oracle's bit-exact hash) stays put. */
  def fanOut(df: DataFrame): DataFrame = graft.Par.widen(df)

  /** Collect one embedding as the query vector for k-NN entries. */
  def queryVector(spark: SparkSession, dir: String, vecId: Long): Array[Float] =
    apply(spark, dir, "embeddings")
      .where(org.apache.spark.sql.functions.col("vec_id") === vecId)
      .select("embedding").head().getSeq[Float](0).toArray
}
