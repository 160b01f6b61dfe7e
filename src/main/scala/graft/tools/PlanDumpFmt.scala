package graft.tools

/** Write `.explain("formatted")` output of SparkEntry queries to files
  * (the r20 optimization-evidence protocol: every touched query ships a
  * plans/rNN/<query>_{before,after}.txt pair the judge can diff):
  * `runMain graft.tools.PlanDumpFmt [--exec] <sfDir> <outDir> <suffix> [qname...]`
  * (no names = every query). The session is [[graft.Graft.session]], so
  * the dumped plan is the plan Verify and Bench run — modulo AQE's
  * runtime re-optimization, which explain shows as
  * `AdaptiveSparkPlan isFinalPlan=false`. */
object PlanDumpFmt {
  def main(argv: Array[String]): Unit = {
    // --exec: execute the frame's own QueryExecution first (collect — a
    // noop write would plan a SEPARATE execution) so the dump shows the
    // FINAL adaptive plan: AQE-reused stages (the r20 stage-sharing
    // claims) are runtime artifacts invisible in the initial
    // `isFinalPlan=false` plan
    val exec = argv.headOption.contains("--exec")
    val args = if (exec) argv.drop(1) else argv
    val dir = args(0)
    val out = args(1)
    val suffix = args(2)
    val names =
      if (args.length > 3) args.drop(3).toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    val spark = graft.Graft.session()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
    names.foreach { n =>
      val df = graft.SparkEntry.queries(n)(spark, dir)
      if (exec) df.collect()
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$out/${n}_$suffix.txt"),
        txt.getBytes("UTF-8"))
      println(s"wrote $out/${n}_$suffix.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}
