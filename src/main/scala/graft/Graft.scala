package graft

import org.apache.spark.sql.SparkSession

/**
 * Library façade: one call to get a properly configured session with the
 * engine's extensions (vector SQL functions, the KnnJoin strategy, the
 * vector-simplification rule) installed. Every main in this repository
 * (Verify, Bench, the tools) takes its session from [[session]], so the
 * plan a tool times is the plan the oracle checks.
 *
 * {{{
 * val spark = Graft.session()                  // local dev
 * val spark = Graft.configure(builder).getOrCreate()  // bring your own
 * }}}
 */
object Graft {

  /** Local slots of [[session]]: `SPARK_GRAFT_CPUS` when set, else every
    * available processor. */
  private val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** Apply the engine's recommended configs + extensions to any builder. */
  def configure(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // events-style INT64 TIMESTAMP(NANOS) parquet reads as raw nanos
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // DataFrame exchanges move UnsafeRows (serializer-independent), but
      // the dedup/LSH block grids and the serving slabs shuffle RDDs of
      // (id, Array[Long|Float]) tuples — Kryo writes those as length +
      // raw primitives where Java serialization writes full object
      // streams (~2-3× the bytes and CPU on the grid exchanges)
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .withExtensions(new GraftExtensions)

  /** Local session with the engine installed (shuffle partitions sized to
    * the slot count, not the 200 default; no web UI). */
  def session(master: String = s"local[$cpus]",
              shufflePartitions: Int = cpus): SparkSession = {
    val spark = configure(
      SparkSession.builder()
        .master(master)
        .appName("graft")
        .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
        .config("spark.ui.enabled", "false"))
      .getOrCreate()
    // getOrCreate may return a pre-existing session whose builder never saw
    // our extensions — make function, strategy and rule installation
    // idempotent either way
    functions.VectorFunctions.registerAll(spark)
    functions.TextFunctions.registerAll(spark)
    plans.KnnJoinPlan.install(spark)
    val rule = plans.VectorSimplification
    if (!spark.sessionState.optimizer.extendedOperatorOptimizationRules.contains(rule) &&
        !spark.experimental.extraOptimizations.contains(rule))
      spark.experimental.extraOptimizations :+= rule
    spark
  }
}
