package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test JVM (suites are
  * lazy-init), built by the engine's own factory so the specs run the
  * plan Verify and Bench run: extensions, AQE, UTC, `nanosAsLong`, Kryo. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = Graft.session("local[4]", 4)
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sfDir = "/root/testdata/sf0.001"

  private val tempDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()
  sys.addShutdownHook(tempDirs.forEach(d => org.apache.commons.io.FileUtils.deleteQuietly(d)))

  /** A new temporary directory whose name starts with `prefix`, deleted
    * with everything under it when the test JVM exits: the archives,
    * stores and indexes the specs write would otherwise pile up in the
    * temp dir run after run. */
  def tempDir(prefix: String): java.nio.file.Path = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    tempDirs.add(dir.toFile)
    dir
  }
}

/** The seeded clustered-gaussian corpus the serving-index suites share
  * (same generator shape as Bench.day6Workload: seed-42 centers,
  * per-id gaussian draws) — one definition so the specs cannot drift
  * apart from each other. */
object ClusteredFixture {
  def corpus(spark: SparkSession, n: Int, dim: Int, nClusters: Int = 20,
             partitions: Int = 8): org.apache.spark.rdd.RDD[(Long, Array[Float])] = {
    val d = dim
    val centers = Array.tabulate(nClusters) { c =>
      val r = new java.util.Random(42L + c)
      Array.fill(d)(r.nextGaussian() * 5.0)
    }
    spark.sparkContext.parallelize(0L until n.toLong, partitions).map { id =>
      val ctr = centers((id % nClusters).toInt)
      val r = new java.util.Random(1000L + id)
      (id, Array.tabulate(d)(i => (ctr(i) + r.nextGaussian()).toFloat))
    }
  }

  def queries(nQueries: Int, dim: Int): Array[(Long, Array[Float])] =
    (0 until nQueries).map { q =>
      val r = new java.util.Random(9000L + q)
      (q.toLong, Array.fill(dim)(r.nextGaussian().toFloat * 5.0f))
    }.toArray
}

/** Ground-truth near-dups for the LSH recall gates: the synthetic
  * embeddings tables hold none (their closest pairs are background tail
  * at cosine 0.4–0.5), so the gates plant copies at EXACT cosines spread
  * uniformly over [0.88, 0.995] — the range real perturbed-copy
  * duplicates occupy — via v' = cos·v̂ + sin·û with û an exact
  * orthonormal complement. Recall over planted pairs is then recall over
  * ground-truth near-dups. */
object PlantedNearDups {

  /** Deterministic planted near-dups: every (rows/nPlant)-th vector
    * gets one perturbed copy at an exact target cosine seeded by its id.
    * Returns (id, vec) rows to union with the sample. */
  def planted(rows: Array[(Long, Array[Float])], nPlant: Int,
              idOffset: Long): Array[(Long, Array[Float])] = {
    val every = math.max(1, rows.length / math.max(1, nPlant))
    rows.zipWithIndex.collect { case ((id, v), i) if i % every == 0 =>
      val rng = new scala.util.Random(id * 7919L + 17L)
      val c = 0.88 + 0.115 * rng.nextDouble() // exact target cosine
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      val vhat = v.map(x => (x / n).toFloat)
      val g = Array.fill(v.length)(rng.nextGaussian())
      val dot = vhat.indices.map(j => g(j) * vhat(j)).sum
      val perp = vhat.indices.map(j => g(j) - dot * vhat(j)).toArray
      val pn = math.sqrt(perp.map(x => x * x).sum)
      val s = math.sqrt(1.0 - c * c)
      val out = vhat.indices.map(j =>
        (c * vhat(j) + s * perp(j) / pn).toFloat).toArray
      (idOffset + id, out)
    }
  }
}
