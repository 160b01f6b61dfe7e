package graft.tools

import org.apache.spark.sql.functions._

/**
 * Per-phase wall breakdown of the dedup-archive lifecycles (seed →
 * fold → forget → ledgered-retry → archive pair-mining) so optimization
 * effort lands on the phase that actually costs:
 * `runMain graft.tools.LifecycleProfile <sfDir> [reps] [family]`
 * (family: minhash = the q96 lifecycle (default), cosine = q97,
 * semantic = q98); the last rep also prints one line per job.
 */
object LifecycleProfile {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val reps = if (args.length > 1) args(1).toInt else 3
    val spark = graft.Graft.session()
    spark.sparkContext.setLogLevel("WARN")

    import graft.operators.Dedup
    import graft.streaming.ArchiveDedup
    val counter = new QueryJobs.Counter(spark)
    val family = if (args.length > 2) args(2) else "minhash"
    (1 to reps).foreach { r =>
      val arch = java.nio.file.Files.createTempDirectory("graft-prof").toString
      val pairsDir = java.nio.file.Files.createTempDirectory("graft-prof-p").toString
      counter.trace = r == reps
      def t[A](name: String)(f: => A): A = {
        val (a, s, c) = counter.profile(f)
        println(f"  [$r] $name%-14s $s%.3f s  $c")
        counter.drain().foreach(l => println(s"      $l"))
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
