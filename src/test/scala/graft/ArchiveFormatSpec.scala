package graft

import graft.streaming.ArchiveDedup
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/**
 * Pins the dedup archives' on-disk format. `src/test/resources/archives`
 * holds one archive per index family, written by the engine as it was
 * before the lifecycle was shared across families: the sf0.01
 * documents/embeddings with ids < 300 seeded, ids [300, 400) folded as
 * batch 0, ids ≡ 3 (mod 7) below 400 forgotten. `next_batch` holds ids
 * [400, 450). `digests.properties` holds what that engine computed: the
 * archive's audit pairs, and — on a copy — the pairs of folding
 * `next_batch` as batch 1 and the audit after forgetting ids 5 and 410.
 * The current code must load those archives with no conversion and
 * reproduce all three digests.
 */
class ArchiveFormatSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Order-insensitive digest of every row and column. */
  private def digest(df: DataFrame): String = {
    val rows = df.collect().map(_.toSeq.map(String.valueOf).mkString(",")).sorted
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(rows.mkString("\n").getBytes("UTF-8")).map(b => f"$b%02x").mkString
  }

  /** A writable copy of one family's fixture directory. */
  private def fixture(family: String): java.nio.file.Path = {
    val src = java.nio.file.Paths.get(getClass.getResource(s"/archives/$family").toURI)
    val dst = TestSpark.tempDir(s"graft-format-$family")
    java.nio.file.Files.walk(src).forEach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t)
    }
    dst
  }

  for ((family, payloadCol, threshold) <- Seq(
      ("minhash", "text", 0.5), ("cosine", "embedding", 0.4),
      ("semantic", "embedding", 0.4)))
    test(s"$family archive in the pinned format: audit, fold and forget reproduce its digests") {
      val root = fixture(family)
      val expected = {
        val p = new java.util.Properties
        val in = java.nio.file.Files.newInputStream(root.resolve("digests.properties"))
        try p.load(in) finally in.close()
        p
      }
      val archive = root.resolve("archive").toString
      def audit(): String = digest(
        ArchiveDedup.archivePairs(spark, archive, threshold, exactLimit = Long.MaxValue))
      assert(ArchiveDedup.modalityOf(spark, archive) === family)
      assert(audit() === expected.getProperty("audit"))
      val pairsDir = TestSpark.tempDir(s"graft-format-$family-p").toString
      ArchiveDedup.processBatch(spark.read.parquet(root.resolve("next_batch").toString),
        1L, archive, pairsDir, "id", payloadCol, threshold, compactEvery = 0)
      assert(digest(spark.read.parquet(s"$pairsDir/batch_id=1")) ===
        expected.getProperty("fold_pairs"))
      ArchiveDedup.forgetDocs(spark, archive, Seq(5L, 410L).toDF("id"))
      assert(audit() === expected.getProperty("audit_after"))
    }
}
