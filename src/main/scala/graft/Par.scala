package graft

import org.apache.spark.sql.DataFrame

/** Parallelism helpers: widen compute-bound scans to the session's
  * parallelism, and run independent driver-side actions concurrently. */
private[graft] object Par {

  /**
   * CPU-heavy per-row stages (shingling, minhash, simhash, embedding) are
   * compute-, not IO-bound: a small parquet input arrives as ONE split,
   * which would run the whole hot loop on one core (measured: the sf0.1
   * documents table is a single 580 KB file — every core but one idles).
   * Widen to the session's parallelism when the source would naturally
   * split narrower; at corpus scale inputs already arrive in thousands
   * of splits and this is a no-op. The shuffle moved is the raw input
   * (cheap); the work saved is the per-row kernel (expensive).
   *
   * The split estimate comes from file-source METADATA only
   * (`inputFiles` + optimizer statistics): converting to an RDD for
   * `getNumPartitions` would force AQE to materialize every upstream
   * query stage and then re-run it under the repartitioned plan. A
   * non-file source (memory stream, local relation) or one without
   * usable stats keeps its plan untouched — the guard only ever ADDS a
   * repartition where file metadata proves the scan is narrow.
   */
  def widen(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val p = spark.sparkContext.defaultParallelism
    val files = try df.inputFiles.length catch { case _: Throwable => 0 }
    if (files == 0 || files >= p) return df
    // natural split count ≈ max(files, bytes / maxPartitionBytes)
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val maxPart = BigInt(spark.sessionState.conf.filesMaxPartitionBytes)
    val bySize =
      if (bytes <= 0 || maxPart <= 0) BigInt(Int.MaxValue)
      else (bytes + maxPart - 1) / maxPart
    val est = BigInt(files).max(bySize)
    if (est < p) df.repartition(p) else df
  }

  /**
   * Run independent Spark actions concurrently from the driver — the
   * commit-wall optimization shared by every archive entry commit, index
   * save, and compaction merge: an entry's 2–4 component frames are
   * independent jobs to independent paths, and writing them sequentially
   * pays one job-floor wall each on EVERY streamed micro-batch. Failure
   * semantics preserved everywhere it's used: the first failure
   * propagates UNWRAPPED (not the pool's ExecutionException), and
   * in-flight siblings finish before it does — leaving one running in
   * the background while the caller unwinds would race subsequent reads
   * and cleanups.
   */
  def run(tasks: Seq[() => Unit], maxThreads: Int = Int.MaxValue): Unit = {
    if (tasks.isEmpty) return
    if (tasks.length == 1) { tasks.head(); return }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(tasks.length, maxThreads))
    try {
      tasks.map(t =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = t()
        })
      ).foreach(f =>
        try f.get()
        catch {
          case e: java.util.concurrent.ExecutionException => throw e.getCause
        })
    } finally {
      pool.shutdown()
      pool.awaitTermination(10, java.util.concurrent.TimeUnit.MINUTES)
    }
  }
}
