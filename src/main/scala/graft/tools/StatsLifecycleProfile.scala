package graft.tools

import org.apache.spark.sql.functions._

/**
 * Per-phase wall + job/task breakdown of the q93 token-stats lifecycle
 * (seed → fold ×2 → retract → retry → score) — the stats twin of
 * [[LifecycleProfile]]: `runMain graft.tools.StatsLifecycleProfile
 * <sfDir> [reps]`.
 */
object StatsLifecycleProfile {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val reps = if (args.length > 1) args(1).toInt else 3
    val spark = graft.Graft.session()
    spark.sparkContext.setLogLevel("WARN")
    import graft.operators.CorpusStats
    val counter = new QueryJobs.Counter(spark)
    (1 to reps).foreach { r =>
      val planted = graft.Tables(spark, dir, "documents")
        .withColumn("t", concat(col("text"), lit(" uniq"),
          col("doc_id").cast("string")))
      val arch = java.nio.file.Files.createTempDirectory("graft-sprof").toString
      def t[A](name: String)(f: => A): A = {
        val (a, s, c) = counter.profile(f)
        println(f"  [$r] $name%-14s $s%.3f s  $c")
        a
      }
      t("seed") { CorpusStats.seedTokenStatsArchive(
        planted.where(col("doc_id") < 300), arch, "doc_id", "t") }
      t("fold-b0") { CorpusStats.processTokenStatsBatch(
        planted.where(col("doc_id") >= 300 && col("doc_id") < 450), 0L, arch,
        "doc_id", "t", compactEvery = 0) }
      t("fold-b1") { CorpusStats.processTokenStatsBatch(
        planted.where(col("doc_id") >= 450), 1L, arch,
        "doc_id", "t", compactEvery = 0) }
      t("retract") { CorpusStats.retractFromTokenStatsArchive(spark, arch,
        planted.where(col("doc_id") >= 300 && col("doc_id") < 375),
        "doc_id", "t") }
      t("retract-retry") { CorpusStats.retractFromTokenStatsArchive(spark, arch,
        planted.where(col("doc_id") >= 300 && col("doc_id") < 375),
        "doc_id", "t") }
      val n = t("score") {
        CorpusStats.tokenFrequencyMetricsAgainst(
          CorpusStats.loadTokenStatsArchive(spark, arch),
          planted.where(col("doc_id") < 300 || col("doc_id") >= 375),
          "doc_id", "t")
          .orderBy(col("doc_id")).collect().length }
      println(s"  [$r] rows=$n")
    }
    spark.stop()
  }
}
