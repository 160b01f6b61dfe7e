package graft.tools

import graft.operators.AnnIndex
import org.apache.spark.sql.functions._

/**
 * Scale measurement for the persisted-IVF-artifact takedown
 * ([[AnnIndex.forgetFromIndex]], round-14 ask #7):
 * `runMain graft.tools.AnnForgetScale <dir> [nlist] [pct]` — build and
 * persist an IVF index over `<dir>/embeddings.parquet` (build +
 * writeIndex timed: the "rebuild IS the takedown" baseline the r13
 * verdict floated), then forget a pct% victim sample in place and
 * compare: the anti-join forget's wall, how many of the nlist cluster
 * partitions it actually rewrote (cost ∝ affected clusters — with a
 * 1% sample nearly all clusters hold a victim, the honest worst case;
 * compliance-sized takedowns of a few docs touch a handful), and the
 * end-state row check.
 */
object AnnForgetScale {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val nlist = args.lift(1).map(_.toInt).getOrElse(100)
    val pctMod = args.lift(2).map(_.toInt).getOrElse(100) // victims: id % pctMod == 7
    val spark = graft.Graft.session()
    spark.sparkContext.setLogLevel("WARN")

    val vecs = graft.Tables(spark, dir, "embeddings")
    val path = java.nio.file.Files.createTempDirectory("graft-annforget").toString

    def timed[T](name: String)(fn: => T): T = {
      val t0 = System.nanoTime()
      val r = fn
      println(f"$name%-56s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }

    val n = vecs.count()
    val ix = timed(s"build IVF nlist=$nlist over $n vectors") {
      AnnIndex.buildIvf(vecs, "vec_id", "embedding", nlist)
    }
    timed("writeIndex (persist partitioned inverted file)") {
      AnnIndex.writeIndex(ix, path)
    }
    val victims = vecs.where(col("vec_id") % pctMod === 7)
      .select(col("vec_id").cast("long").as("id"))
    val nV = victims.count()
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def clusterMtimes(): Map[String, Long] =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$path/assignments"))
        .filter(_.getPath.getName.startsWith("cluster="))
        .map(s => s.getPath.getName -> s.getModificationTime).toMap
    val before = clusterMtimes()
    timed(s"forgetFromIndex ($nV ids, in-place anti-join takedown)") {
      AnnIndex.forgetFromIndex(spark, path, victims)
    }
    val rewritten = clusterMtimes().count { case (k, m) => before.get(k).exists(_ != m) }
    println(s"clusters rewritten: $rewritten of ${before.size} " +
      (if (rewritten > before.size / 4)
        "(full-sweep path: one anti-join job, writeIndex-shaped cost)"
      else "(per-cluster path: cost follows the victims' clusters)"))
    val assignments = spark.read.schema(AnnIndex.AssignmentsSchema)
      .parquet(s"$path/assignments")
    val left = assignments.join(victims, Seq("id")).count()
    val rows = assignments.count()
    println(s"victims still indexed: $left (must be 0); rows $rows " +
      s"(expected ${n - nV})")
    spark.stop()
    if (left != 0) sys.exit(1)
  }
}
