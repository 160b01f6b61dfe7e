package graft.tools

/**
 * Job/task-count profile of a [[graft.SparkEntry.queries]] entry — the
 * lifecycle queries' cost is driver-side job count, not data (see
 * BENCH.md "Archive-lifecycle job-count diet"), so this is the
 * noise-invariant companion to [[TimeQuery]]'s walls:
 * `runMain graft.tools.QueryJobs <sfDir> <qname> [reps]`.
 */
object QueryJobs {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val name = args(1)
    val reps = if (args.length > 2) args(2).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.Graft.session(s"local[$cpus]", shufflePartitions = cpus)
    spark.sparkContext.setLogLevel("WARN")
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val tasks = new java.util.concurrent.atomic.AtomicInteger
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
        override def onTaskEnd(
            t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          tasks.incrementAndGet()
      })
    val q = graft.SparkEntry.queries(name)
    (1 to reps).foreach { r =>
      val t0 = System.nanoTime(); val j0 = jobs.get(); val k0 = tasks.get()
      val n = q(spark, dir).collect().length
      println(f"  [$r] $name%-28s ${(System.nanoTime() - t0) / 1e9}%.3f s  " +
        s"jobs=${jobs.get() - j0} tasks=${tasks.get() - k0} rows=$n")
    }
    spark.stop()
  }
}
