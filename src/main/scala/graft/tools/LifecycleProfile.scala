package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/**
 * Per-phase wall breakdown of the dedup-archive lifecycles (seed →
 * fold → forget → ledgered-retry → archive pair-mining) so optimization
 * effort lands on the phase that actually costs:
 * `runMain graft.tools.LifecycleProfile <sfDir> [reps] [family]`
 * (family: minhash = the q96 lifecycle (default), cosine = q97,
 * semantic = q98; GRAFT_PROF_SITES=1 prints each job's call site).
 */
object LifecycleProfile {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val reps = if (args.length > 1) args(1).toInt else 3
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    import graft.operators.Dedup
    import graft.streaming.ArchiveDedup
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val tasks = new java.util.concurrent.atomic.AtomicInteger
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet()
          if (sys.env.contains("GRAFT_PROF_SITES")) {
            // the deepest graft frame of the job's trigger site — the
            // callSite property is not populated on forked local runs
            val site = j.stageInfos.headOption
              .map(_.details.linesIterator
                .filter(l => l.contains("graft.") && !l.contains("LifecycleProfile"))
                .take(2).mkString(" <- "))
              .filter(_.nonEmpty).getOrElse("?")
            println(s"      job: $site")
          }
        }
        override def onTaskEnd(
            t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          tasks.incrementAndGet()
      })
    val family = if (args.length > 2) args(2) else "minhash"
    (1 to reps).foreach { r =>
      val arch = java.nio.file.Files.createTempDirectory("graft-prof").toString
      val pairsDir = java.nio.file.Files.createTempDirectory("graft-prof-p").toString
      def t[A](name: String)(f: => A): A = {
        val t0 = System.nanoTime(); val j0 = jobs.get(); val k0 = tasks.get()
        val a = f
        println(f"  [$r] $name%-14s ${(System.nanoTime() - t0) / 1e9}%.3f s  " +
          s"jobs=${jobs.get() - j0} tasks=${tasks.get() - k0}")
        a
      }
      val n = family match {
        case "minhash" =>
          val docs = graft.Tables(spark, dir, "documents")
            .where(col("doc_id") < 2000)
          t("seed") { ArchiveDedup.seedArchive(Dedup.buildMinhashIndex(
            docs.where(col("doc_id") < 400), "doc_id", "text"), arch) }
          t("fold") { ArchiveDedup.processBatch(
            docs.where(col("doc_id") >= 400), 0L, arch, pairsDir,
            "doc_id", "text", 0.5, compactEvery = 0) }
          val victims = docs.where(col("doc_id") % 5 === 2)
            .select(col("doc_id").as("id"))
          t("forget") { ArchiveDedup.forgetDocs(spark, arch, victims) }
          t("forget-retry") { ArchiveDedup.forgetDocs(spark, arch, victims) }
          t("archivePairs") {
            ArchiveDedup.archivePairs(spark, arch, 0.5)
              .orderBy(col("id_a"), col("id_b")).collect().length }
        case "cosine" => // the q97 lifecycle, phase-split
          val e = graft.Tables(spark, dir, "embeddings")
          t("seed") { ArchiveDedup.seedArchive(Dedup.buildCosineIndex(
            e.where(col("vec_id") < 400), "vec_id", "embedding",
            numBits = 8, bands = 8), arch) }
          t("fold") { ArchiveDedup.processBatch(
            e.where(col("vec_id") >= 400), 0L, arch, pairsDir,
            "vec_id", "embedding", 0.4, compactEvery = 0) }
          val victims = e.where(col("vec_id") % 5 === 2)
            .select(col("vec_id").as("id"))
          t("forget") { ArchiveDedup.forgetDocs(spark, arch, victims) }
          t("forget-retry") { ArchiveDedup.forgetDocs(spark, arch, victims) }
          t("archivePairs") {
            ArchiveDedup.archivePairs(spark, arch, 0.4,
                exactLimit = Long.MaxValue)
              .orderBy(col("id_a"), col("id_b")).collect().length }
        case "semantic" => // the q98 lifecycle, phase-split
          val e = graft.Tables(spark, dir, "embeddings")
          val cents = e.orderBy(col("vec_id")).limit(4)
            .select(col("embedding").cast("array<float>"))
            .collect().map(_.getSeq[Float](0).toArray)
          t("seed") { ArchiveDedup.seedArchive(Dedup.buildSemanticIndex(
            e.where(col("vec_id") < 400), "vec_id", "embedding", cents), arch) }
          t("fold") { ArchiveDedup.processBatch(
            e.where(col("vec_id") >= 400), 0L, arch, pairsDir,
            "vec_id", "embedding", 0.4, compactEvery = 0) }
          val victims = e.where(col("vec_id") % 5 === 2)
            .select(col("vec_id").as("id"))
          t("forget") { ArchiveDedup.forgetDocs(spark, arch, victims) }
          t("forget-retry") { ArchiveDedup.forgetDocs(spark, arch, victims) }
          t("archivePairs") {
            ArchiveDedup.archivePairs(spark, arch, 0.4)
              .orderBy(col("id_a"), col("id_b")).collect().length }
        case other => throw new IllegalArgumentException(
          s"unknown family '$other' — minhash|cosine|semantic")
      }
      println(s"  [$r] pairs=$n")
    }
    spark.stop()
  }
}
