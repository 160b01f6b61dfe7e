package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Parquet table loader for the driver-generated TESTDATA star schema.
  * The tables are fixed and read-only, and their parquet schemas are the
  * same at every scale factor, so every read passes its schema: a
  * schema-less `spark.read.parquet` runs a footer-inference job first
  * (TablesSpec checks the pinned schemas against what Spark infers). */
object Tables {
  val schemas: Seq[(String, StructType)] = {
    def t(fields: (String, DataType)*) =
      StructType(fields.map { case (n, d) => StructField(n, d) })
    Seq(
      "region" -> t("r_regionkey" -> IntegerType, "r_name" -> StringType),
      "nation" -> t("n_nationkey" -> IntegerType, "n_name" -> StringType,
        "n_regionkey" -> IntegerType),
      "customer" -> t("c_custkey" -> LongType, "c_name" -> StringType,
        "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
        "c_mktsegment" -> StringType),
      "supplier" -> t("s_suppkey" -> LongType, "s_name" -> StringType,
        "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
      "part" -> t("p_partkey" -> LongType, "p_name" -> StringType,
        "p_brand" -> StringType, "p_type" -> StringType,
        "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
      "orders" -> t("o_orderkey" -> LongType, "o_custkey" -> LongType,
        "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
        "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType),
      "lineitem" -> t("l_orderkey" -> LongType, "l_partkey" -> LongType,
        "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
        "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
        "l_discount" -> DoubleType, "l_tax" -> DoubleType,
        "l_returnflag" -> StringType, "l_linestatus" -> StringType,
        "l_shipdate" -> TimestampNTZType),
      "events" -> t("event_id" -> LongType, "ts" -> TimestampNTZType,
        "user_id" -> LongType, "event_type" -> StringType, "value" -> DoubleType, "props" -> StringType),
      "documents" -> t("doc_id" -> LongType, "text" -> StringType,
        "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType),
      "embeddings" -> t("vec_id" -> LongType,
        "embedding" -> ArrayType(FloatType), "label" -> IntegerType))
  }

  val all: Seq[String] = schemas.map(_._1)

  /** The pinned schema of table `name`. */
  def schemaOf(name: String): StructType =
    schemas.collectFirst { case (`name`, s) => s }.getOrElse(
      throw new IllegalArgumentException(
        s"Tables: unknown table '$name' (known: ${all.mkString(", ")})"))

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.schema(schemaOf(name)).parquet(s"$dir/$name.parquet")

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
