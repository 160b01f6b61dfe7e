package graft.operators

import graft.functions.VectorFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * IVF (inverted-file) approximate-nearest-neighbor index — the Spark-native
 * answer to the reference's FAISS IVFFlat (day_6/day6_complete.py:105-135,
 * nlist=min(100, n/10), nprobe=10) and pgvector's `ivfflat (lists=100)`
 * (day_9/database/vector_ops.py:74-81).
 *
 * Build is a sample-trained Lloyd fit (shared with the serving tiers —
 * FAISS's own regime, where k-means never iterates over the full corpus)
 * followed by one full-corpus assignment pass; the "index" IS a DataFrame
 * clustered by centroid id. At 100 TB the assignments table is written out
 * partitioned by `cluster`, so a search with nprobe=p reads only p/nlist of
 * the data — partition pruning does the index lookup, and the per-cluster
 * scan is the same codegen'd brute-force kernel as the exact path.
 */
object AnnIndex {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** The on-disk layout [[writeIndex]] fixes: `assignments` (partitioned
    * by `cluster`), `centroids`, and the id-only takedown sidecar and
    * ledger. Every read passes these, so none pays a footer-inference job. */
  val AssignmentsSchema: StructType = StructType(Seq(StructField("id", LongType),
    StructField("vec", ArrayType(FloatType)), StructField("cluster", IntegerType)))
  val CentroidsSchema: StructType = StructType(Seq(
    StructField("cluster", IntegerType), StructField("centroid", ArrayType(DoubleType))))
  private val IdSchema = StructType(Seq(StructField("id", LongType)))

  /** Trained IVF index: driver-side centroids + cluster-keyed assignments. */
  case class IvfIndex(
      centroids: Array[(Int, Array[Double])],
      assignments: DataFrame /* (id, vec, cluster) */)

  /** Fit nlist centroids (sample-trained Lloyd, seeded) and assign every
    * vector. Training runs on a deterministic ≤256·nlist-vector sample
    * driver-local ([[ServingIndex.trainCentroids]] — the FAISS regime:
    * k-means never iterates over the full corpus), so the only
    * full-corpus work is the single assignment pass. The previous MLlib
    * KMeans fit paid maxIter=20 full-corpus jobs for the same seeded,
    * deterministic output quality (AnnIndexSpec recall floors unchanged);
    * q33's corpus build dropped ~4× with the shared trainer. */
  def buildIvf(df: DataFrame, idCol: String, vecCol: String,
               nlist: Int, seed: Long = 42L, iterations: Int = 10): IvfIndex = {
    val spark = df.sparkSession
    import spark.implicits._
    val base = df.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<float>").as("vec"))
    val typed = base.as[(Long, Array[Float])]
    // dimension from ONE sampled row (uniform-width vectors by contract)
    // — a limit-1 scan instead of a full-corpus max(size) aggregate
    val dRow = base.where(col("vec").isNotNull).select(size(col("vec"))).head(1)
    require(dRow.nonEmpty, s"buildIvf: input has no non-null '$vecCol' vectors")
    val d = dRow(0).getInt(0)
    val centroidsF =
      ServingIndex.trainCentroids(typed.rdd, d, nlist, iterations, seed)
    val bc = spark.sparkContext.broadcast(centroidsF)
    val assignments = typed
      .map { case (id, v) => (id, v, ServingIndex.nearestCentroid(v, bc.value)) }
      .toDF("id", "vec", "cluster")
      // cluster-keyed layout: on disk this becomes partitionBy("cluster"),
      // making nprobe search a partition-pruned scan.
      .repartition(col("cluster"))
    val centroids = centroidsF.zipWithIndex
      .map { case (v, i) => (i, v.map(_.toDouble)) }
    IvfIndex(centroids, assignments)
  }

  /** Persist the index partitioned by cluster (the on-disk inverted file)
    * plus a tiny centroids table alongside. */
  def writeIndex(index: IvfIndex, path: String): Unit = {
    index.assignments.write.mode("overwrite").partitionBy("cluster")
      .parquet(s"$path/assignments")
    val spark = index.assignments.sparkSession
    import spark.implicits._
    index.centroids.toSeq.toDF("cluster", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
  }

  /** Takedown for a PERSISTED IVF index (round-14 ask #7) — the
    * artifact twin of [[graft.streaming.ArchiveDedup.forgetDocs]] and
    * the serving delta map's point delete
    * ([[ServingIndex]]'s mutable tier): remove documents from the
    * on-disk inverted file WITHOUT a rebuild, at a cost proportional to
    * the CLUSTERS the victims live in, not the index. The
    * cluster-partitioned layout is what makes this 100 TB-shaped: one
    * column-pruned scan of (id, cluster) finds the affected partitions
    * (victims cluster like any other vectors — a takedown batch touches
    * a handful of the nlist directories), then ONLY those partition
    * dirs rewrite through the same temp+rename discipline as every
    * archive entry; centroids are pinned parameters and never change
    * (exactly the dedup-forget contract — recall properties of the
    * survivors are untouched).
    *
    * Refuses ids the index never held (a takedown that silently removes
    * nothing is how the wrong index ships). Crash-safe and retryable: a
    * `.forget-inprogress` sidecar (the victim ids) commits BEFORE the
    * first cluster rewrite and clears after the last; a crash mid-sweep
    * leaves it behind, and the retry recognizes the SAME takedown
    * (victims already gone from rewritten clusters are excused against
    * the sidecar) and finishes the remaining clusters. Idempotent PAST
    * completion too (round 15): every finished takedown unions its
    * victims into a persistent `.forgotten` ledger beside the sidecar
    * (written ledger-then-sidecar-delete, itself retire-swapped), so an
    * at-least-once compliance retry whose ack was lost AFTER the
    * sidecar cleared skips with a warning instead of refusing —
    * exactly [[graft.streaming.ArchiveDedup.forgetDocs]]'s ledger
    * contract, including its re-ingestion rule: a ledgered id found
    * LIVE again (the index was rebuilt over a corpus still containing
    * it) is retracted again, never excused. Runs under the
    * directory's [[graft.streaming.MaintenanceLease]]. */
  def forgetFromIndex(spark: SparkSession, path: String, ids: DataFrame,
                      idCol: String = "id"): Unit =
    graft.streaming.MaintenanceLease.withLease(spark, path, "forgetFromIndex") {
      import spark.implicits._
      val (fs, _) = {
        val p = new org.apache.hadoop.fs.Path(path)
        (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
      }
      val victims = ids.select(col(idCol).cast("long").as("id")).distinct()
        .localCheckpoint()
      recoverClusterSwaps(fs, path) // finish any crashed swap first
      // swaps REPLACE files under a stable path — unlike the archives'
      // immutable append-only entries — so the session's shared
      // file-status cache must be invalidated around them or later
      // scans chase deleted part files (FAILED_READ_FILE)
      spark.catalog.refreshByPath(s"$path/assignments")
      val sidecar = new org.apache.hadoop.fs.Path(s"$path/.forget-inprogress")
      val resumed: Set[Long] =
        if (!fs.exists(sidecar)) Set.empty
        else spark.read.schema(IdSchema).parquet(sidecar.toString)
          .collect().map(_.getLong(0)).toSet
      if (resumed.nonEmpty) {
        val incoming = victims.collect().map(_.getLong(0)).toSet
        require(incoming == resumed,
          s"forgetFromIndex: $path carries a crashed takedown's " +
            s".forget-inprogress sidecar for a DIFFERENT victim set — " +
            "finish or clean that takedown first (re-run it with its " +
            "original ids; the sidecar clears on completion).")
      }
      // one column-pruned scan: which ids exist, in which clusters
      val hit = spark.read.schema(AssignmentsSchema).parquet(s"$path/assignments")
        .select(col("id"), col("cluster"))
        .join(broadcast(victims), Seq("id"))
        .collect().map(r => (r.getLong(0), r.getInt(1)))
      val found = hit.map(_._1).toSet
      // the persistent takedown ledger excuses COMPLETED takedowns on a
      // lost-ack retry (sidecar already cleared); a ledgered id FOUND
      // live again was re-ingested (index rebuilt over a corpus still
      // holding it) and is in `hit`, so it retracts again — the ledger
      // marks past takedowns, it is not an exemption for future copies
      val ledger = forgottenLedgerOf(spark, fs, path)
      val ledgered: Set[Long] = victims
        .join(ledger, Seq("id"), "left_semi")
        .collect().map(_.getLong(0)).toSet
      val missing = victims.collect().map(_.getLong(0)).filterNot(found)
        .filterNot(resumed) // already removed by the crashed sweep
        .filterNot(ledgered) // completed takedown, retried after its ack was lost
      require(missing.isEmpty || resumed.nonEmpty,
        s"forgetFromIndex: ids [${missing.take(4).mkString(", ")}" +
          s"${if (missing.length > 4) ", …" else ""}] are not in the " +
          s"index at $path — refusing a takedown that would silently " +
          "remove nothing for them (wrong index, or already forgotten?).")
      if (hit.isEmpty && resumed.isEmpty) {
        log.warn(s"AnnIndex.forgetFromIndex($path): every requested id " +
          "is on the takedown ledger and none is live in the index — " +
          "skipping as a retry of a completed takedown (lost ack).")
        return
      }
      // commit the sidecar BEFORE the first rewrite (crash-retry record)
      if (resumed.isEmpty)
        victims.coalesce(1).write.mode("overwrite").parquet(sidecar.toString)
      // per-cluster RETIRE-SWAP: write the rewrite to an invisible temp,
      // rename the live dir aside (atomic), rename the temp in (atomic),
      // then drop the retired copy — at every instant the cluster is
      // either the old complete data or the new complete data, and a
      // crash at any point is recovered by recoverClusterSwaps above on
      // the retry. (Concurrent searches during the swap may transiently
      // re-plan — the takedown holds the maintenance lease, so pause
      // maintenance-sensitive readers or retry their scan.)
      val affected = hit.map(_._2).distinct.sorted
      def swapCluster(c: Int): Unit = {
        val cDir = new org.apache.hadoop.fs.Path(s"$path/assignments/cluster=$c")
        // a cluster directory holds the data columns only
        val rewritten = spark.read.schema(StructType(AssignmentsSchema.dropRight(1)))
          .parquet(cDir.toString)
          .join(broadcast(victims), Seq("id"), "left_anti")
          .localCheckpoint() // materialize BEFORE touching the source
        val tmp = new org.apache.hadoop.fs.Path(s"$path/assignments/.inprogress-cluster-$c")
        val retired = new org.apache.hadoop.fs.Path(s"$path/assignments/.retired-cluster-$c")
        if (fs.exists(tmp)) fs.delete(tmp, true)
        rewritten.write.mode("overwrite").parquet(tmp.toString)
        graft.streaming.CrashPoints.reach(s"pre-rename:$cDir")
        if (fs.exists(retired)) fs.delete(retired, true)
        if (!fs.rename(cDir, retired))
          throw new IllegalStateException(
            s"forgetFromIndex: failed to retire cluster $cDir")
        if (!fs.rename(tmp, cDir))
          throw new IllegalStateException(
            s"forgetFromIndex: failed to commit rewritten cluster $cDir " +
              s"(its previous data is intact at $retired)")
        fs.delete(retired, true)
        graft.streaming.CrashPoints.reach(s"post-commit:$cDir")
      }
      val nlist = centroidCountOf(spark, path)
      if (affected.length > math.max(4, nlist / 4)) {
        // FULL-SWEEP path: a widely-spread takedown (victims in > 1/4 of
        // the clusters) would pay one write job PER cluster — job-floor
        // dominated on any real cluster (the measured ×100 worst case:
        // 100 sequential rewrites = 25.9 s vs a 3.2 s single-job
        // persist). One anti-join over the whole assignments table,
        // re-partitioned by cluster, swapped in atomically, costs the
        // same as writeIndex and none of the retraining — the
        // "rebuild-shaped takedown" with pinned centroids.
        val tmpA = new org.apache.hadoop.fs.Path(s"$path/.inprogress-assignments")
        val retiredA = new org.apache.hadoop.fs.Path(s"$path/.retired-assignments")
        val liveA = new org.apache.hadoop.fs.Path(s"$path/assignments")
        if (fs.exists(tmpA)) fs.delete(tmpA, true)
        spark.read.schema(AssignmentsSchema).parquet(liveA.toString)
          .join(broadcast(victims), Seq("id"), "left_anti")
          .withColumn("cluster", col("cluster").cast("int"))
          .repartition(col("cluster"))
          .write.partitionBy("cluster").parquet(tmpA.toString)
        graft.streaming.CrashPoints.reach(s"pre-rename:$liveA")
        if (fs.exists(retiredA)) fs.delete(retiredA, true)
        if (!fs.rename(liveA, retiredA))
          throw new IllegalStateException(
            s"forgetFromIndex: failed to retire $liveA")
        if (!fs.rename(tmpA, liveA))
          throw new IllegalStateException(
            s"forgetFromIndex: failed to commit rewritten $liveA " +
              s"(its previous data is intact at $retiredA)")
        fs.delete(retiredA, true)
        graft.streaming.CrashPoints.reach(s"post-commit:$liveA")
      } else {
        // narrow takedown: rewrite only the affected partitions, a few
        // at a time (independent dirs — the jobs overlap their
        // scheduling floors; results are per-cluster atomic either way;
        // Par finishes in-flight sibling swaps before a failure
        // propagates, so the caller never races a background swap)
        graft.Par.run(
          affected.map(c => () => swapCluster(c)), maxThreads = 8)
      }
      // ledger BEFORE sidecar delete: a crash between the two leaves the
      // sidecar, the retry re-runs to completion and re-writes the same
      // ledger union — idempotent; after the sidecar clears, the ledger
      // alone carries the completed takedown across lost-ack retries
      writeForgottenLedger(spark, fs, path,
        ledger.unionByName(victims).distinct())
      fs.delete(sidecar, true)
      spark.catalog.refreshByPath(s"$path/assignments")
    }

  /** The persistent takedown ledger of a persisted IVF index (round
    * 15) — every id ever removed by a COMPLETED [[forgetFromIndex]],
    * kept beside the centroids exactly as the dedup archives'
    * `forgotten` sidecar: what makes takedowns idempotent past sidecar
    * cleanup (lost-ack compliance retries skip instead of refusing).
    * Reads recover a crashed ledger swap first: the new ledger temp is
    * durable before the old one retires, so whichever of the two
    * survives is complete. */
  private def forgottenLedgerOf(spark: SparkSession,
                                fs: org.apache.hadoop.fs.FileSystem,
                                path: String): DataFrame = {
    val live = new org.apache.hadoop.fs.Path(s"$path/.forgotten")
    val tmp = new org.apache.hadoop.fs.Path(s"$path/.forgotten-inprogress")
    val retired = new org.apache.hadoop.fs.Path(s"$path/.forgotten-retired")
    if (!fs.exists(live)) {
      // crash between retire and commit: prefer the NEW ledger (its
      // temp was durable before the retire), else restore the old one
      if (fs.exists(tmp) && fs.exists(retired)) {
        if (!fs.rename(tmp, live))
          throw new IllegalStateException(
            s"forgetFromIndex recovery: failed to restore $live from its temp")
        fs.delete(retired, true)
      } else if (fs.exists(retired) && !fs.rename(retired, live))
        throw new IllegalStateException(
          s"forgetFromIndex recovery: failed to restore $live from $retired")
    } else if (fs.exists(retired)) fs.delete(retired, true)
    if (fs.exists(live)) {
      // the ledger path is rewritten in place by swaps — invalidate the
      // session's file-status cache like the assignments dir
      spark.catalog.refreshByPath(live.toString)
      spark.read.schema(IdSchema).parquet(live.toString)
    } else spark.range(0).select(col("id"))
  }

  /** Retire-swap the ledger into place (same discipline as the cluster
    * swaps — at every instant a complete ledger is recoverable). */
  private def writeForgottenLedger(spark: SparkSession,
                                   fs: org.apache.hadoop.fs.FileSystem,
                                   path: String, ledger: DataFrame): Unit = {
    val live = new org.apache.hadoop.fs.Path(s"$path/.forgotten")
    val tmp = new org.apache.hadoop.fs.Path(s"$path/.forgotten-inprogress")
    val retired = new org.apache.hadoop.fs.Path(s"$path/.forgotten-retired")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    ledger.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    if (fs.exists(retired)) fs.delete(retired, true)
    if (fs.exists(live) && !fs.rename(live, retired))
      throw new IllegalStateException(
        s"forgetFromIndex: failed to retire the takedown ledger at $live")
    if (!fs.rename(tmp, live))
      throw new IllegalStateException(
        s"forgetFromIndex: failed to commit the takedown ledger at $live " +
          s"(its previous content is intact at $retired)")
    fs.delete(retired, true)
  }

  /** nlist of a persisted index, from its tiny centroids table. */
  private def centroidCountOf(spark: SparkSession, path: String): Int =
    spark.read.schema(CentroidsSchema).parquet(s"$path/centroids").count().toInt

  /** Crash recovery for [[forgetFromIndex]]'s retire-swap: a
    * `.retired-cluster-<c>` left behind means a crash mid-swap — if the
    * live dir exists the swap completed (drop the retired copy); if not,
    * the fully-written temp renames in (it was durable before the
    * retire). Called under the lease before a takedown scans. */
  private def recoverClusterSwaps(fs: org.apache.hadoop.fs.FileSystem,
                                  path: String): Unit = {
    // assignments-level swap (the full-sweep path) first
    val retiredA = new org.apache.hadoop.fs.Path(s"$path/.retired-assignments")
    val liveA = new org.apache.hadoop.fs.Path(s"$path/assignments")
    val tmpA = new org.apache.hadoop.fs.Path(s"$path/.inprogress-assignments")
    if (fs.exists(retiredA)) {
      if (fs.exists(liveA)) fs.delete(retiredA, true)
      else if (fs.exists(tmpA)) {
        if (!fs.rename(tmpA, liveA))
          throw new IllegalStateException(
            s"forgetFromIndex recovery: failed to restore $liveA from its temp")
        fs.delete(retiredA, true)
      } else if (!fs.rename(retiredA, liveA))
        throw new IllegalStateException(
          s"forgetFromIndex recovery: failed to restore $liveA from $retiredA")
    }
    val base = new org.apache.hadoop.fs.Path(s"$path/assignments")
    if (!fs.exists(base)) return
    fs.listStatus(base).map(_.getPath).filter(
        _.getName.startsWith(".retired-cluster-")).foreach { retired =>
      val c = retired.getName.stripPrefix(".retired-cluster-")
      val live = new org.apache.hadoop.fs.Path(s"$path/assignments/cluster=$c")
      val tmp = new org.apache.hadoop.fs.Path(s"$path/assignments/.inprogress-cluster-$c")
      if (fs.exists(live)) fs.delete(retired, true)
      else if (fs.exists(tmp)) {
        if (!fs.rename(tmp, live))
          throw new IllegalStateException(
            s"forgetFromIndex recovery: failed to restore $live from its temp")
        fs.delete(retired, true)
      } else if (!fs.rename(retired, live)) // no temp: undo the retire
        throw new IllegalStateException(
          s"forgetFromIndex recovery: failed to restore $live from $retired")
    }
  }

  /** Reopen a persisted index. Search through the reopened index prunes
    * parquet partitions: only the probed cluster directories are read. */
  def openIndex(spark: org.apache.spark.sql.SparkSession, path: String): IvfIndex = {
    val centroids = spark.read.schema(CentroidsSchema).parquet(s"$path/centroids")
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    IvfIndex(centroids,
      spark.read.schema(AssignmentsSchema).parquet(s"$path/assignments"))
  }

  /**
   * Batched IVF search: per query pick the `nprobe` nearest centroids
   * (driver-side — centroids are tiny), then join candidates on cluster
   * and rank. Only nprobe/nlist of the corpus is scanned per query.
   */
  def searchIvf(index: IvfIndex, queries: Seq[(Long, Array[Float])],
                k: Int, nprobe: Int, excludeSelf: Boolean = false): DataFrame = {
    val spark = index.assignments.sparkSession
    import spark.implicits._
    val probes = queries.flatMap { case (qid, qv) =>
      val qd = qv.map(_.toDouble)
      index.centroids
        .map { case (c, cv) => (c, l2Dist(qd, cv)) }
        .sortBy(_._2).take(nprobe)
        .map { case (c, _) => (qid, c, qv) }
    }
    val probeDf = probes.toDF("query_id", "cluster", "qvec")
    // static partition pruning: the probed cluster set is known driver-side,
    // so push it as a literal isin — on a partitionBy("cluster") layout the
    // scan reads only those directories (guaranteed PartitionFilters, no
    // reliance on dynamic pruning heuristics).
    val probedClusters = probes.map(_._2).distinct
    val scoredAll = index.assignments
      .where(col("cluster").isin(probedClusters: _*))
      .join(broadcast(probeDf), Seq("cluster"))
      .select(col("query_id"), col("id").as("doc_id"),
        cosineSimilarity(col("qvec"), col("vec")).as("score"))
    // self-exclusion is opt-in (as in KnnSearch): query ids that merely
    // collide numerically with corpus ids must not lose a true neighbor
    val scored =
      if (excludeSelf) scoredAll.where(col("query_id") =!= col("doc_id"))
      else scoredAll
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("doc_id"))
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** Recall@k of this IVF configuration against the exact scan (day_6's
    * evaluation protocol — exact search is the oracle). Builds a throwaway
    * index; for repeated evaluation reuse a prebuilt/persisted index via
    * the overload below. */
  def recallVsExact(df: DataFrame, idCol: String, vecCol: String,
                    queries: Seq[(Long, Array[Float])], k: Int,
                    nlist: Int, nprobe: Int): DataFrame =
    recallVsExact(buildIvf(df, idCol, vecCol, nlist), df, idCol, vecCol,
      queries, k, nprobe)

  /** Recall@k through an EXISTING index (no rebuild — the KMeans fit is
    * the expensive part; a bench loop or repeated eval reuses one index). */
  def recallVsExact(index: IvfIndex, df: DataFrame, idCol: String,
                    vecCol: String, queries: Seq[(Long, Array[Float])],
                    k: Int, nprobe: Int): DataFrame = {
    val approx = searchIvf(index, queries, k, nprobe, excludeSelf = true)
      .select("query_id", "doc_id")
    val exact = KnnSearch.topKBatch(df, idCol, vecCol, queries, k,
        KnnSearch.Cosine, excludeSelf = true)
      .select("query_id", "doc_id")
    IREval.recallVsExact(approx, exact)
  }

  private def l2Dist(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) { val d = a(i) - b(i); s += d * d; i += 1 }
    math.sqrt(s)
  }
}
