package graft.streaming

import graft.Par
import graft.operators.{Dedup, SimilarityJoin}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/**
 * The q84/q86 daily-ingest loop as a STREAM: each micro-batch of
 * documents near-dup-dedups against the latest persisted
 * [[Dedup.DeltaIndex]] snapshot at delta cost (old×old never
 * re-scanned), emits its pairs, and folds itself into a NEW snapshot
 * version so the next batch sees it. The reference's incremental
 * ingestion surface (day_8/main/endpoints.py:13-49,168-208 incremental
 * inserts; day_10/embedders/embedding_pipeline.py:238-314 the
 * incremental-cache regime) composed with the archive-dedup operators.
 * The lifecycle below is written once over a family descriptor
 * ([[Dedup.IndexFamily]]: component names and schemas, params file);
 * the three families — minhash over text, cosine LSH over embeddings,
 * semantic (pinned-centroid) over embeddings — supply only kernels.
 *
 * == Snapshot layout ==
 * `archiveDir/base` is the seeded day-0 index ([[seedArchive]]); each
 * processed batch b commits `archiveDir/b<id>` containing ONLY that
 * batch's keys and payloads (a batch-sized sliver under the base's pinned
 * parameters — banding/assignment is a pure per-row function, so the
 * live index is exactly base ∪ b0 ∪ … ∪ bN). Readers load ALL live
 * entry directories through ONE multi-path parquet relation per
 * component — the logical plan stays O(1) regardless of stream age
 * (round 10 folded one union node per sliver; a year of daily batches
 * would have planned a 366-way union every batch).
 *
 * == Commit protocol ==
 * A sliver (or compacted range) is written to a dot-prefixed
 * `.inprogress-*` directory and RENAMED into place — the rename is the
 * single commit point, so a crash mid-write leaves only an invisible
 * temp directory (overwritten by the retry), never a half-readable
 * entry that replay would wrongly skip and readers would crash on.
 *
 * == Compaction (bounded sliver growth) ==
 * `compactEvery = K` (default 8) bounds live entry count without
 * unbounded write amplification, tiered LSM-style:
 *  - when K live slivers accumulate, the K OLDEST merge into ONE range
 *    entry `c<lo>-<hi>` (cost: K batch-sized reads + one write —
 *    amortized one extra batch-write per batch);
 *  - when K ranges accumulate, the K oldest merge into one bigger
 *    range (amortized another batch-write per batch).
 * Live entries therefore stay ≤ base + (K−1) ranges + (K−1) slivers
 * (plus covered entries awaiting the one-cycle deferred GC below),
 * and per-batch compaction work is O(batch) amortized — the per-batch
 * wall tracks DATA growth only (the delta scan's corpus-key pass),
 * never stream age (measured flat at N = 50, BENCH.md "Round 11").
 * Replay safety across compaction: a range `c<lo>-<hi>` durably
 * records which batches are folded — value-contiguous merges record
 * the exact interval in the name; non-contiguous merges (direct
 * `processBatch` callers may use timestamps or any sparse id scheme)
 * additionally commit a `folded` id manifest inside the range, so a
 * gap id that was never folded is never misread as a replay — and the
 * replay guard honors either form after the member slivers are
 * garbage-collected. GC of covered entries is DEFERRED one compaction
 * cycle so a concurrent reader's already-planned multi-path relation
 * keeps its files for at least one batch interval; `base` is never
 * rewritten in-place, and [[compactArchive]] still offers the
 * out-of-band full fold into a fresh directory for readers that pin a
 * snapshot longer.
 *
 * == Reseed generations (acting on drift) ==
 * The drift probes report when the generation's PINNED parameters stop
 * fitting the incoming data; a reseed ACTS on that: rebuild the whole
 * index from the archive's own payload with re-fitted parameters
 * (cosine: re-auto-sized widths + rotated hyperplane seed; semantic:
 * re-fitted centroids) and commit it atomically as `r<batchId>` — a
 * full self-contained generation carrying new params, a fresh pinned
 * drift baseline, and a `folded` manifest of every batch id it covers.
 * Readers flip to the newest generation; entries it supersedes
 * (including `base` and older generations) GC one compaction cycle
 * later; pairs already emitted remain valid — only FUTURE batches gain
 * the restored recall/cost model. An embedding archive's sink can
 * trigger this automatically (`autoReseedAfter = n`: n CONSECUTIVE
 * persisted probe trips since the last reseed — durable, replay-safe, re-fires after a
 * crash between fold and reseed). The minhash archive stores only
 * hashed shingles, so its reseed ([[reseedMinhashArchive]]) is
 * out-of-band and needs the raw corpus, verified against the archived
 * id set.
 *
 * == Restart semantics ==
 * Structured Streaming may REPLAY a micro-batch after a failure. Both
 * effects are idempotent per batchId — pairs land in a
 * `batch_id=<id>` partition with overwrite mode, and the fold is
 * skipped when `b<id>` exists or a range covers it. The skip VERIFIES
 * the incoming batch's ids against the stored sliver's: a mismatch
 * means the stream restarted WITHOUT a checkpointLocation (batchId
 * reset to 0 over an old archive — the silent-data-loss shape) and
 * throws loudly instead of dropping the batch. Run with a checkpoint:
 * the sinks log a loud warning when started without one.
 */
object ArchiveDedup {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  // =====================================================================
  // Shared archive mechanics (every index family)
  // =====================================================================

  private type Family = Dedup.IndexFamily[_ <: Dedup.DeltaIndex]

  private val IdOnlySchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("id",
      org.apache.spark.sql.types.LongType)))

  /** The columns every family's drift-probe row shares, plus the
    * `batch_id=<id>` partition [[emitDrift]] writes it under. */
  private val DriftFlagSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("rebuild_recommended",
      org.apache.spark.sql.types.BooleanType),
    org.apache.spark.sql.types.StructField("batch_id",
      org.apache.spark.sql.types.LongType)))

  // Hadoop FS, not java.io.File: the archive lives wherever the corpus
  // does (HDFS/S3/local) — same convention as serving.DocStore
  private def hfs(spark: SparkSession, dir: String): (FileSystem, Path) = {
    val p = new Path(dir)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  /** Folded-batch bookkeeping parsed from entry names: `b<id>` slivers,
    * `c<lo>-<hi>` compacted ranges, and `r<id>` reseed generations. A
    * range covers [lo, hi] EXCEPT when it carries a folded-id manifest
    * (`folded` parquet, written when non-value-contiguous batch ids
    * merge — direct `processBatch` callers may use timestamps or any
    * sparse scheme): then coverage is exactly the manifest's ids, so a
    * gap id that was never folded is never misread as a replay. A
    * reseed ALWAYS carries a manifest (it folds whatever was live when
    * it committed) and supersedes `base` and every entry it covers —
    * see the "Reseed generations" section of the class doc. */
  private[graft] final case class ArchiveState(slivers: Seq[Long],
                                               ranges: Seq[(Long, Long)],
                                               manifests: Map[(Long, Long), Set[Long]],
                                               reseeds: Seq[(Long, Set[Long])] = Nil) {
    /** Ranges not contained in a larger range (containment can appear
      * transiently between a tier-2 merge and the next GC cycle). */
    def maximalRanges: Seq[(Long, Long)] = ranges.filterNot { r =>
      ranges.exists(o => o != r && o._1 <= r._1 && r._2 <= o._2)
    }.sortBy(_._1)
    /** The generation readers see: the newest reseed, if any. */
    def latestReseed: Option[(Long, Set[Long])] =
      if (reseeds.isEmpty) None else Some(reseeds.maxBy(_._1))
    private def reseedCovered(id: Long): Boolean =
      latestReseed.exists(_._2.contains(id))
    def coveredByRange(r: (Long, Long), id: Long): Boolean =
      manifests.get(r).map(_.contains(id))
        .getOrElse(r._1 <= id && id <= r._2)
    def covered(id: Long): Boolean =
      reseedCovered(id) || maximalRanges.exists(r => coveredByRange(r, id))
    /** Every id a range claims folded (manifest if present, else the
      * full interval) — tier-2 merges of gapped ranges need the union. */
    def idsOfRange(r: (Long, Long)): Seq[Long] =
      manifests.get(r).map(_.toSeq.sorted).getOrElse(r._1 to r._2)
    /** Slivers whose fold is recorded only by their own directory. */
    def liveSlivers: Seq[Long] = slivers.filterNot(covered).sorted
    /** Ranges a reader must still union: maximal AND not wholly folded
      * into the latest reseed generation. */
    def liveRanges: Seq[(Long, Long)] =
      maximalRanges.filterNot(r => idsOfRange(r).forall(reseedCovered))
    /** Every batch id durably folded anywhere — what a new reseed's
      * manifest must claim. Batch ids, not row ids: bounded by stream
      * age in batches, driver-sized by construction. */
    def allFoldedIds: Set[Long] =
      latestReseed.map(_._2).getOrElse(Set.empty) ++
        ranges.flatMap(idsOfRange) ++ slivers
    def lastFolded: Long =
      (slivers ++ ranges.map(_._2) ++
        reseeds.flatMap(r => r._2 + r._1)).foldLeft(-1L)(math.max)
  }

  private val RangeName = "c(\\d+)-(\\d+)".r
  private val ReseedName = "r(\\d+)".r

  /** Content token for a per-JVM memo key: the target's LEAF part-files'
    * (name, length, mtime) folded into one hash, via one listStatus. The
    * previous key used the parent DIRECTORY's mtime, which is unreliable
    * exactly where the archive is documented to live (hfs): S3A
    * getFileStatus on a pseudo-directory reports mtime 0, and several
    * filesystems have second-granularity mtimes — so a rewrite by
    * ANOTHER process (re-compacting into a recycled dstDir, re-seeding
    * in place) could leave this JVM serving stale generation metadata
    * (wrong banding widths silently corrupting dedup). The files a
    * writer actually committed always change the token (parquet part
    * names carry a fresh job UUID, so even same-length same-second
    * rewrites re-key). Missing path → -1, re-probed when it appears. */
  private def contentToken(fs: FileSystem, path: Path): Long =
    try {
      // per-file hashes combine by SUM (order-independent): listStatus
      // ordering is not guaranteed stable on every filesystem, and an
      // order-sensitive fold would spuriously re-key an unchanged dir
      // (re-reading the manifest and growing the never-evicted memo).
      // Each file's (name, len, mtime) hash passes through murmur3's
      // fmix64 finalizer BEFORE the sum (r16 ADVICE): under the weak
      // `*31` mix alone, two distinct directory states could collide
      // via compensating per-file changes (len +k here, mtime −31k
      // there), silently serving stale generation metadata — the exact
      // staleness this token exists to prevent. fmix64's avalanche makes
      // a compensating pair require a full 64-bit collision.
      def fmix64(x0: Long): Long = {
        var x = x0
        x ^= x >>> 33; x *= 0xFF51AFD7ED558CCDL
        x ^= x >>> 33; x *= 0xC4CEB9FE1A85EC53L
        x ^= x >>> 33; x
      }
      var h = 1125899906842597L
      fs.listStatus(path).foreach { st =>
        var f = 1099511628211L
        f = f * 31 + st.getPath.getName.hashCode
        f = f * 31 + st.getLen
        f = f * 31 + st.getModificationTime
        h += fmix64(f)
      }
      h
    } catch { case _: java.io.FileNotFoundException => -1L }

  // folded-id manifests are immutable once their entry is committed —
  // cache so stateOf (called several times per batch) reads each at
  // most once per JVM. The cache key carries the manifest files'
  // content token (see contentToken): a long-lived JVM (tests,
  // notebooks) that deletes and re-creates an archive at the same path
  // — or another PROCESS that rewrites a recycled path — gets a fresh
  // key instead of a stale folded-id set (or a stale None) corrupting
  // covered() / replay-skip decisions; seedArchive additionally purges
  // the path outright (belt and braces).
  private val manifestCache =
    new java.util.concurrent.ConcurrentHashMap[String, Option[Set[Long]]]()
  private def manifestOf(spark: SparkSession, dir: String,
                         entry: String): Option[Set[Long]] = {
    val (fs, _) = hfs(spark, dir)
    val path = s"$dir/$entry/folded"
    val token = contentToken(fs, new Path(path))
    manifestCache.computeIfAbsent(s"$path@$token", { _ =>
      if (token == -1L) None
      else Some(spark.read.schema(IdOnlySchema).parquet(path)
        .select(col("id")).collect().map(_.getLong(0)).toSet)
    })
  }
  // a range's ACTUAL commit batch (`committed` single-row parquet,
  // written at merge time since round 13) — GC retention is keyed on
  // it; older archives without the marker fall back to the range's
  // `hi` (the pre-r13 inference, exact for the streaming sinks' dense
  // contiguous batch ids, conservative-short only for sparse ids)
  private val committedCache =
    new java.util.concurrent.ConcurrentHashMap[String, Option[Long]]()
  private def committedAtOf(spark: SparkSession, dir: String,
                            entry: String): Option[Long] = {
    val (fs, _) = hfs(spark, dir)
    val path = s"$dir/$entry/committed"
    val token = contentToken(fs, new Path(path))
    committedCache.computeIfAbsent(s"$path@$token", { _ =>
      if (token == -1L) None
      else spark.read.schema(IdOnlySchema).parquet(path)
        .select(col("id")).collect().headOption.map(_.getLong(0))
    })
  }
  /** Drop cached manifests under `dir` — called when an archive is
    * (re-)seeded at a path this JVM may have read before. */
  private def purgeManifestCache(dir: String): Unit = {
    val it = manifestCache.keySet().iterator()
    while (it.hasNext) if (it.next().startsWith(s"$dir/")) it.remove()
    val itC = committedCache.keySet().iterator()
    while (itC.hasNext) if (itC.next().startsWith(s"$dir/")) itC.remove()
    val itG = genMetaCache.keySet().iterator()
    while (itG.hasNext) if (itG.next().startsWith(s"$dir/")) itG.remove()
  }

  // Generation metadata (the params file's rows, the pinned drift
  // baseline) is immutable once its entry is committed (the
  // rename is the commit point), so every loadLatest after the first
  // stops paying its two probe jobs. Keyed by (path, content token) —
  // one driver-side listStatus over the leaf part-files, no job — so
  // the two in-place writers (seed, compactArchive's dstDir) and
  // maintenance from OTHER processes self-invalidate on any rewrite
  // (directory mtime alone would miss S3A pseudo-dirs and
  // second-granularity filesystems — see contentToken); the same-JVM
  // purges (seed, entry GC) additionally bound the map's memory (the
  // drift entry carries the seed Bloom).
  private val genMetaCache =
    new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()
  private def genMemo[T <: AnyRef](spark: SparkSession, path: String)
                                  (f: => T): T = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val key = s"$path@${contentToken(fs, p)}"
    val c = genMetaCache.get(key)
    if (c != null) c.asInstanceOf[T]
    else { val v = f; genMetaCache.putIfAbsent(key, v); v }
  }
  /** Drop one deleted entry's cached manifest and generation-check
    * memos — GC'd entries otherwise pin their Sets for the JVM's
    * lifetime in a long-lived driver. */
  private def evictEntryCaches(dir: String, entry: String): Unit = {
    val prefix = s"$dir/$entry/"
    val it = manifestCache.keySet().iterator()
    while (it.hasNext) if (it.next().startsWith(prefix)) it.remove()
    val itC = committedCache.keySet().iterator()
    while (itC.hasNext) if (itC.next().startsWith(prefix)) itC.remove()
    val it2 = genVerified.iterator()
    while (it2.hasNext) if (it2.next().startsWith(s"$dir|$entry|")) it2.remove()
    val it3 = genMetaCache.keySet().iterator()
    while (it3.hasNext) if (it3.next().startsWith(prefix)) it3.remove()
  }

  // (dir|entry|generation) triples whose pinned params already matched
  // the generation's — the consistency check below runs once per JVM
  // per sliver per generation
  private val genVerified =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def paramRowsOf(spark: SparkSession, dir: String, fam: Family): Seq[String] =
    fam.readParams(spark, dir).map(_.toString).toSeq.sorted

  /** Detect the one bad state the reseed commit guard cannot see (its
    * window is the whole in-flight batch, not just check-to-rename): a
    * sliver committed by a batch that loaded the OLD generation and
    * landed AFTER the reseed's rename. Such a sliver is live (absent
    * from the reseed manifest) but keyed under superseded parameters —
    * silently invisible to dedup. Every sliver is a self-contained
    * index carrying its pinned params/centroids, so readers VERIFY:
    * when a reseed generation exists, each live sliver's params file
    * must row-match the generation's, or the load refuses loudly
    * (re-fold the orphan batch, or reseed again with the stream
    * stopped). No reseed → zero cost; verified triples memoize per
    * JVM, so steady state re-reads nothing. */
  private def verifyGenerationConsistency(spark: SparkSession, dir: String,
                                          st: ArchiveState,
                                          fam: Family): Unit = {
    if (st.latestReseed.isEmpty) return
    val gen = baseDirOf(dir, st)
    lazy val genParams = paramRowsOf(spark, gen, fam)
    st.liveSlivers.foreach { b =>
      val key = s"$dir|b$b|${st.latestReseed.get._1}"
      if (!genVerified.contains(key)) {
        val sp = paramRowsOf(spark, s"$dir/b$b", fam)
        if (sp != genParams)
          throw new IllegalStateException(
            s"ArchiveDedup: live sliver b$b in $dir was built under " +
              s"parameters that differ from the current generation's " +
              s"($gen) — an in-flight batch raced a reseed and committed " +
              "under the superseded generation. Its keys never collide " +
              "with the new generation's, so reads would silently miss " +
              "its duplicates. Delete the orphan sliver and re-fold that " +
              "batch, or reseed again with the stream stopped.")
        genVerified.add(key)
      }
    }
  }
  private[graft] def stateOf(spark: SparkSession, dir: String): ArchiveState = {
    val (fs, p) = hfs(spark, dir)
    if (!fs.exists(p)) ArchiveState(Nil, Nil, Map.empty)
    else {
      val names = fs.listStatus(p).toSeq.map(_.getPath.getName)
      val ranges = names.collect { case RangeName(lo, hi) => (lo.toLong, hi.toLong) }
      ArchiveState(
        names.collect {
          case n if n.startsWith("b") && n.length > 1 && n.drop(1).forall(_.isDigit) =>
            n.drop(1).toLong
        },
        ranges,
        ranges.flatMap(r =>
          manifestOf(spark, dir, s"c${r._1}-${r._2}").map(r -> _)).toMap,
        names.collect { case ReseedName(id) =>
          // a reseed commits its manifest inside the entry (the rename
          // is atomic), so a missing one means a truncated copy — treat
          // it as covering nothing rather than guessing
          (id.toLong,
            manifestOf(spark, dir, s"r$id").getOrElse(Set.empty[Long]))
        })
    }
  }

  /** The directory holding the CURRENT generation's pinned parameters
    * and drift baseline: the newest reseed, or day-0's `base`. */
  private def baseDirOf(dir: String, st: ArchiveState): String =
    st.latestReseed.map(r => s"$dir/r${r._1}").getOrElse(s"$dir/base")

  /** All directories a reader must union: current generation + live
    * ranges + live slivers (each self-contained under the generation's
    * pinned params). */
  private def entryDirsOf(dir: String, st: ArchiveState): Seq[String] =
    baseDirOf(dir, st) +:
      (st.liveRanges.map { case (lo, hi) => s"$dir/c$lo-$hi" } ++
        st.liveSlivers.map(b => s"$dir/b$b"))

  /** Write an entry to `.inprogress-<name>` via `write`, then rename
    * into place — the rename is the commit point (see class doc).
    * `beforeRename` runs after the write, immediately before the
    * rename — a validation hook (the reseed guard); if it throws, the
    * temp dir is dropped and nothing commits. */
  private def commitEntry(spark: SparkSession, dir: String, name: String,
                          beforeRename: () => Unit = () => ())
                         (write: String => Unit): Unit = {
    val (fs, _) = hfs(spark, dir)
    val tmp = new Path(s"$dir/.inprogress-$name")
    if (fs.exists(tmp)) fs.delete(tmp, true) // stale crash leftovers
    write(tmp.toString)
    try beforeRename()
    catch { case e: Throwable => fs.delete(tmp, true); throw e }
    // crash seam OUTSIDE the validation try: an injected crash here
    // must leave the temp dir on disk exactly as a process kill would
    CrashPoints.reach(s"pre-rename:$dir/$name")
    if (!fs.rename(tmp, new Path(s"$dir/$name")))
      throw new IllegalStateException(
        s"ArchiveDedup: failed to commit archive entry $dir/$name " +
          "(rename returned false) — is another writer racing this archive?")
    // rename durable, control not yet back at the caller = the stream's
    // checkpoint has NOT advanced: the replay-window crash seam
    CrashPoints.reach(s"post-commit:$dir/$name")
  }

  /** Replay guard: true = this batchId's fold is already durable, skip
    * both effects. When the sliver still exists its stored ids are
    * checked against the incoming batch's — a mismatch is a restart
    * without checkpointLocation (batchId counter reset over an old
    * archive) and throws rather than silently dropping the batch. A
    * range-covered id (sliver already compacted away) can't be
    * verified; legitimate replays only re-run the LAST uncommitted
    * batch, which compaction has just folded, so this skips with a
    * warning. */
  private def alreadyFolded(spark: SparkSession, archiveDir: String,
                            batchId: Long, batchIds: DataFrame,
                            fam: Family): Boolean = {
    val (fs, _) = hfs(spark, archiveDir)
    val sliver = new Path(s"$archiveDir/b$batchId")
    if (fs.exists(sliver)) {
      val stored = fam.readFrames(spark, Seq(s"$archiveDir/b$batchId")).head
        .select(col("id"))
      val mismatch = stored.except(batchIds)
        .unionByName(batchIds.except(stored)).limit(1)
      if (!mismatch.isEmpty)
        throw new IllegalStateException(
          s"ArchiveDedup: batch $batchId is marked folded in $archiveDir but " +
            "its stored ids differ from this batch's — the stream restarted " +
            "without a checkpointLocation and its batchId counter reset. " +
            "Refusing to silently drop the batch. Restart the stream with " +
            "the original checkpoint, or point it at a fresh pairs/archive " +
            "checkpoint trio.")
      true
    } else if (stateOf(spark, archiveDir).covered(batchId)) {
      log.warn(s"ArchiveDedup: batch $batchId is covered by a compacted " +
        s"range or reseed generation in $archiveDir — skipping as a replay. If this stream was " +
        "restarted WITHOUT its checkpointLocation this skip is dropping " +
        "data; always restart with the original checkpoint.")
      true
    } else false
  }

  /** Tiered auto-compaction (see class doc): merge the K oldest live
    * slivers into a range; merge the K oldest ranges into one. Batch
    * ids need NOT be value-contiguous (direct `processBatch` callers
    * may use timestamps or any sparse scheme) — a non-contiguous merge
    * writes a folded-id manifest so the range's coverage claim stays
    * exact. Called after each fold; `compactEvery <= 0` disables.
    *
    * GC of covered source entries is DEFERRED `retainCovered` batches
    * (default 1 — the round-10 one-cycle contract): a covered entry is
    * deleted only once its earliest COVERING entry (a range commits no
    * earlier than its `hi` batch; a reseed commits at its own id) is at
    * least `retainCovered` batches old. A concurrent reader's
    * multi-path relation therefore keeps its underlying files for at
    * least `retainCovered` batch intervals after compaction folds them
    * — size the knob to the slowest `loadLatest` → action gap the
    * deployment tolerates. The window is measured in BATCH-ID units:
    * for the streaming sinks that is batches; direct `processBatch`
    * callers using timestamp ids get a window in their timestamp's own
    * units (usually the more useful semantics for a retention window).
    * (Readers that hold a snapshot across MANY batches should still
    * read a `compactArchive` copy instead — that path never deletes;
    * ArchiveDedupSpec demonstrates both.) */
  private[graft] def maybeCompact(spark: SparkSession, dir: String,
                                  fam: Family, compactEvery: Int,
                                  currentBatch: Long,
                                  retainCovered: Int = 1): Unit = {
    if (compactEvery <= 0) return
    requireSaneCompactEvery(compactEvery)
    val st0 = stateOf(spark, dir)
    gcCoveredEntries(spark, dir, st0, currentBatch, math.max(1, retainCovered))
    val live = st0.liveSlivers
    if (live.length >= compactEvery) {
      val oldest = live.take(compactEvery)
      mergeEntries(spark, dir, fam,
        oldest.map(b => (s"b$b", b, b)),
        // per-sliver coverage is the sliver's own id: contiguous ids
        // need no manifest (the [lo, hi] interval is exact)
        if (isContiguous(oldest)) None else Some(oldest), currentBatch)
    }
    val st1 = stateOf(spark, dir)
    // tier-2 merges select from LIVE ranges only (maximal AND not wholly
    // folded into the latest reseed): a reseed-superseded range that a
    // failed GC left behind may only be GC'd — merging it with live
    // ranges would produce one LIVE entry mixing rows built under
    // different pinned generations (old widths/seed/centroids), whose
    // keys never collide with the current generation's
    val ranges = st1.liveRanges
    if (ranges.length >= compactEvery) {
      val oldest = ranges.take(compactEvery)
      val ids = oldest.flatMap(st1.idsOfRange)
      mergeEntries(spark, dir, fam,
        oldest.map { case (lo, hi) => (s"c$lo-$hi", lo, hi) },
        if (isContiguous(ids)) None else Some(ids), currentBatch)
    }
  }

  private def isContiguous(sorted: Seq[Long]): Boolean =
    sorted.isEmpty || sorted.last - sorted.head + 1 == sorted.length

  /** `compactEvery = 1` is degenerate: tier-2 would re-merge a single
    * range into its own name every batch (a silent self-rename under
    * Hadoop semantics) — fail at sink construction, not mid-stream. */
  private[graft] def requireSaneCompactEvery(compactEvery: Int): Unit =
    require(compactEvery <= 0 || compactEvery >= 2,
      "ArchiveDedup: compactEvery = 1 is degenerate (tier-2 would merge " +
        "a single range into its own name every batch) — use 0 to " +
        "disable compaction, or K >= 2")

  /** Deferred GC (see [[maybeCompact]]): delete slivers covered by a
    * maximal range or by the latest reseed, ranges contained in a
    * larger one or wholly folded into the latest reseed, and superseded
    * generations (`base` / older reseeds) once a newer reseed exists —
    * each only after its coverage is at least `retainCovered` batches
    * old (earliest covering entry's commit batch ≤ currentBatch −
    * retainCovered). Crash-safe: covered entries are already invisible
    * to readers and the replay guard, so a crash mid-GC just leaves
    * them for the next cycle. */
  private def gcCoveredEntries(spark: SparkSession, dir: String,
                               st: ArchiveState, currentBatch: Long,
                               retainCovered: Int): Unit = {
    val (fs, _) = hfs(spark, dir)
    // coverage age = the covering entry's ACTUAL commit batch: ranges
    // record it in their `committed` marker (a crash-retried merge or
    // sparse/timestamp batch ids can commit well after `hi`, and the
    // retention window must start THEN, not at the inferred name);
    // pre-marker ranges fall back to `hi` (exact for dense contiguous
    // streaming ids). A reseed r<id> commits at batch id by
    // construction.
    def rangeCommit(r: (Long, Long)): Long =
      committedAtOf(spark, dir, s"c${r._1}-${r._2}").getOrElse(r._2)
    def oldEnough(coveringCommitBatches: Seq[Long]): Boolean =
      coveringCommitBatches.reduceOption(_ min _)
        .exists(_ <= currentBatch - retainCovered)
    def reseedCommitFor(ids: Seq[Long]): Seq[Long] =
      st.latestReseed.filter(r => ids.forall(r._2.contains)).map(_._1).toSeq
    st.slivers.filter(st.covered).foreach { b =>
      val covering = st.maximalRanges.filter(r => st.coveredByRange(r, b))
        .map(rangeCommit) ++ reseedCommitFor(Seq(b))
      if (oldEnough(covering)) {
        fs.delete(new Path(s"$dir/b$b"), true)
        evictEntryCaches(dir, s"b$b")
      }
    }
    val live = st.liveRanges.toSet
    st.ranges.filterNot(live).foreach { case r @ (lo, hi) =>
      val covering = st.ranges
        .filter(o => o != r && o._1 <= lo && hi <= o._2).map(rangeCommit) ++
        reseedCommitFor(st.idsOfRange(r))
      if (oldEnough(covering)) {
        fs.delete(new Path(s"$dir/c$lo-$hi"), true)
        evictEntryCaches(dir, s"c$lo-$hi")
      }
    }
    st.latestReseed.foreach { case (newest, _) =>
      if (oldEnough(Seq(newest))) {
        fs.delete(new Path(s"$dir/base"), true)
        evictEntryCaches(dir, "base") // drops base/* genMeta (Bloom-sized)
        st.reseeds.map(_._1).filter(_ != newest).foreach { id =>
          fs.delete(new Path(s"$dir/r$id"), true)
          evictEntryCaches(dir, s"r$id")
        }
      }
    }
  }

  /** Merge entries (name, lo, hi) into one committed range `c<lo>-<hi>`
    * (with a folded-id manifest when the merged ids are not the full
    * interval, and a `committed` marker recording the batch the merge
    * ran at — the deferred-GC retention window is keyed on it, so
    * sparse/timestamp batch ids and crash-retried merges keep the full
    * `retainCovered` window instead of an age inferred from the range
    * name). Sources are NOT deleted here — see the deferred-GC
    * contract on [[maybeCompact]]. Crash-safe: the range rename is the
    * commit; a crash beforehand leaves only the sources. */
  private def mergeEntries(spark: SparkSession, dir: String, fam: Family,
                           entries: Seq[(String, Long, Long)],
                           foldedIds: Option[Seq[Long]],
                           currentBatch: Long): Unit = {
    import spark.implicits._
    val lo = entries.map(_._2).min
    val hi = entries.map(_._3).max
    val srcDirs = entries.map(e => s"$dir/${e._1}")
    commitEntry(spark, dir, s"c$lo-$hi") { tmp =>
      // component copies run CONCURRENTLY (independent frames to
      // independent paths — the same commit-wall rationale as
      // Dedup.save's concurrent writes, via Par); the rename after this
      // callback stays the single commit point
      Par.run(fam.components.zip(fam.readFrames(spark, srcDirs)).map {
        case ((c, _), frame) =>
          () => frame.write.mode("overwrite").parquet(s"$tmp/$c")
      })
      // copy the pinned params from the CURRENT generation so every
      // entry dir is a self-contained index snapshot (Dedup.load on a
      // range works) — only live (post-reseed) slivers ever merge, so
      // the generation's params are the ones they were built under
      spark.read.schema(fam.paramsSchema)
        .parquet(s"${baseDirOf(dir, stateOf(spark, dir))}/${fam.paramsFile}")
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/${fam.paramsFile}")
      foldedIds.foreach(ids => ids.toDF("id")
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/folded"))
      Seq(currentBatch).toDF("id")
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/committed")
    }
  }

  /** Persist a drift-probe row under `driftDir/batch_id=<id>`, warn
    * LOUDLY when it recommends a rebuild — a parquet row nobody reads
    * is not an alert — and return whether it tripped (the auto-reseed
    * trigger consumes this). The probe frames are driver-local one-row
    * DFs, so the head() costs nothing extra. */
  private def emitDrift(driftDir: String, batchId: Long, family: String,
                        probe: org.apache.spark.sql.DataFrame): Boolean = {
    probe.write.mode("overwrite").parquet(s"$driftDir/batch_id=$batchId")
    val r = probe.head()
    val tripped = r.getAs[Boolean]("rebuild_recommended")
    if (tripped)
      log.warn(s"ArchiveDedup($family): drift probe at batch $batchId " +
        s"recommends a REBUILD — the pinned seed parameters no longer fit " +
        s"the incoming data: $r (pairs already written remain valid; " +
        "embedding sinks can reseed IN PLACE automatically via " +
        "autoReseedAfter; out-of-band reseed*Archive requires the " +
        "stream STOPPED — a racing fold aborts the commit)")
    tripped
  }

  /** Auto-reseed trigger: the CURRENT batch's probe tripped — reseed
    * when the previous `after - 1` persisted probes since the last
    * reseed ALSO tripped (consecutive trips distinguish real
    * distribution shift from one family-concentrated batch; see the
    * honest-firing note in BENCH.md "Round 11"). Durable by
    * construction: the decision reads the probe rows the stream already
    * persists, so it survives restarts and re-fires after a crash
    * between sliver commit and reseed commit (at-least-eventually). */
  private def shouldReseed(spark: SparkSession, driftDir: String,
                           batchId: Long, lastReseed: Long,
                           after: Int): Boolean = {
    if (after <= 1) return true
    val (fs, p) = hfs(spark, driftDir)
    if (!fs.exists(p)) return false
    val prior = fs.listStatus(p).toSeq.map(_.getPath.getName)
      .collect { case s if s.startsWith("batch_id=") => s.drop(9).toLong }
      .filter(id => id > lastReseed && id < batchId).sorted
      .takeRight(after - 1)
    // ONE partition-pruned read over the drift store — the probe rows
    // are tiny, but a per-id head() loop launched after−1 separate
    // driver jobs on every tripped batch (latency grew with the knob)
    prior.length == after - 1 && scala.util.Try {
      val flags = spark.read.schema(DriftFlagSchema)
        .option("basePath", driftDir).parquet(driftDir)
        .where(col("batch_id").isin(prior: _*))
        .select(col("batch_id"), col("rebuild_recommended"))
        .collect()
        .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      prior.forall(id => flags.getOrElse(id, false))
    }.getOrElse(false)
  }

  /** The takedown LEDGER of a dedup archive: every doc id ever
    * forgotten, persisted as a `forgotten` sidecar inside the CURRENT
    * generation and carried forward through every later generation
    * commit (forgets union their victims in; reseeds copy it through)
    * — the dedup twin of the stats archives' x-entry id records. It is
    * what makes takedowns IDEMPOTENT across crash-retries: a retried
    * forget whose victims are all on the ledger AND absent from the
    * live index skips with a warning instead of refusing as "never
    * archived"; a ledgered id still LIVE in the index was re-ingested
    * after its takedown and is retracted again (round 15 — the ledger
    * marks past takedowns, it is not an exemption for future copies),
    * while genuinely unknown ids (wrong archive) still refuse.
    * Takedown-sized by construction.
    * Out-of-band `compactArchive` copies write a fresh `base` without
    * the ledger — like the stats families, compaction into a fresh dir
    * ends replay/retry protection (documented there too).
    *
    * Returns the ledger riding the current generation, or None when
    * no takedown ever committed — presence is a DRIVER-SIDE fs check,
    * so callers never pay an isEmpty job to learn there is no ledger
    * (a present ledger file is non-empty by construction: commitReseed
    * only ever writes a ledger that gained at least one victim). */
  private def forgottenLedger(spark: SparkSession, dir: String,
                              st: ArchiveState): Option[DataFrame] = {
    val (fs, _) = hfs(spark, dir)
    val p = s"${baseDirOf(dir, st)}/forgotten"
    if (fs.exists(new Path(p)))
      Some(spark.read.schema(IdOnlySchema).parquet(p).select(col("id")))
    else None
  }

  /** Commit a reseed generation `r<atBatch>`: `write` fills the temp
    * dir with a full self-contained index (components + params +
    * drift baseline), then the folded-batch manifest is added and the
    * rename commits — readers flip to the new generation atomically.
    * Idempotent: an existing `r<atBatch>` that is a real reseed
    * (crash-and-retry, double invocation) skips with a warning instead
    * of racing the rename — but a FORGET generation occupying the slot
    * is not a replay of this commit (it rewrote the archive under the
    * same pinned parameters; a reseed re-fits them), so the commit
    * advances to the next free `r<id>` instead of silently dropping
    * the re-fit. Forget generations are marked by an empty `_forget`
    * file so the two are distinguishable after the fact.
    *
    * Concurrent-writer guard: an out-of-band reseed races a RUNNING
    * stream — a micro-batch in flight while the reseed builds can
    * commit a sliver under the OLD generation's parameters; absent from
    * this reseed's manifest, that sliver would stay live with bucket
    * keys/assignments that never collide with the new generation's
    * (silently invisible to future dedup). So immediately before the
    * rename, `lastFolded` is re-read and compared against the value the
    * reseed was built from; on mismatch the temp dir is dropped and the
    * commit ABORTS loudly — stop the stream (or let the in-loop
    * auto-reseed do it, which runs inside the batch) and retry. */
  private def commitReseed(spark: SparkSession, dir: String, atBatch: Long,
                           folded: Set[Long], family: String,
                           builtAtLastFolded: Long,
                           forgotten: Option[DataFrame] = None)
                          (write: String => Unit): Unit = {
    import spark.implicits._
    val (fs, _) = hfs(spark, dir)
    var at = atBatch
    while (fs.exists(new Path(s"$dir/r$at"))) {
      if (!fs.exists(new Path(s"$dir/r$at/_forget"))) {
        log.warn(s"ArchiveDedup($family): reseed generation r$at " +
          s"already exists in $dir — skipping (replay or double invocation)")
        return
      }
      // a forget took r<at>; readers follow the NEWEST generation, so
      // committing above it keeps both the takedown and this re-fit
      at += 1
    }
    commitEntry(spark, dir, s"r$at", beforeRename = () => {
      // interleaving seam: a test injects a racing fold HERE to execute
      // the abort below (see CrashPoints.installOnce)
      CrashPoints.reach(s"pre-reseed-check:$dir/r$at")
      val nowFolded = stateOf(spark, dir).lastFolded
      if (nowFolded != builtAtLastFolded)
        throw new IllegalStateException(
          s"ArchiveDedup($family): aborting reseed r$at in $dir — a " +
            s"concurrent writer folded batch $nowFolded while this reseed " +
            s"was building from lastFolded=$builtAtLastFolded. Committing " +
            "would leave that sliver live under the OLD generation's " +
            "parameters (its keys never collide with the new generation's " +
            "— silently invisible to future dedup). Stop the stream before " +
            "an out-of-band reseed, or use the sink's autoReseedAfter " +
            "(which reseeds inside the batch), then retry.")
    }) { tmp =>
      // the entry's components, the folded-id sidecar, and the takedown
      // ledger are independent jobs to independent paths under tmp —
      // one commit wall instead of three. `forgotten` rides every
      // generation forward (see forgottenLedger); a Some is non-empty
      // by the ledger contract (absent file = None, never an empty
      // frame), so pre-ledger archives stay byte-identical without an
      // isEmpty probe job here
      Par.run(Seq(
        () => write(tmp),
        () => folded.toSeq.sorted.toDF("id")
          .coalesce(1).write.mode("overwrite").parquet(s"$tmp/folded")) ++
        forgotten.map(led => () =>
          led.coalesce(1).write.mode("overwrite").parquet(s"$tmp/forgotten")))
      if (family.endsWith("forget"))
        fs.create(new Path(s"$tmp/_forget")).close()
    }
    log.warn(s"ArchiveDedup($family): committed generation r$at " +
      s"in $dir — " +
      (if (family.endsWith("forget"))
        s"archive rewritten WITHOUT the forgotten documents (pinned " +
          s"parameters unchanged; ${folded.size} batches folded)"
      else
        s"parameters re-fitted to the cumulative corpus " +
          s"(${folded.size} batches folded)") +
      "; superseded entries are GC'd one compaction cycle later; pairs " +
      "already written remain valid")
  }

  private def warnIfNoCheckpoint(checkpoint: Option[String], sink: String): Unit =
    if (checkpoint.isEmpty)
      log.warn(s"ArchiveDedup.$sink started WITHOUT a checkpointLocation: " +
        "on restart Structured Streaming resets batchId to 0, which this " +
        "archive will detect and REFUSE (loud failure instead of silent " +
        "data loss) — pass checkpoint = Some(dir) for restartable streams.")

  // =====================================================================
  // Unified sink facade (streaming twin of Dedup.deltaPairs)
  // =====================================================================

  /** The dedup index family of the archive at `dir`, if it is one: the
    * current generation holds that family's params file and id
    * component (a reseed never changes family). */
  private def dedupFamilyOf(spark: SparkSession, dir: String): Option[Family] = {
    val base = baseDirOf(dir, stateOf(spark, dir))
    val (fs, _) = hfs(spark, dir)
    Dedup.IndexFamilies.find(f =>
      Seq(f.paramsFile, f.idComponent).forall(c => fs.exists(new Path(s"$base/$c"))))
  }

  /** Which family an archive was built with — the archive is
    * self-describing: a dedup generation carries its family's params
    * file and id component (read from the CURRENT generation), and the
    * corpus-STATISTICS archives ([[graft.operators.CorpusStats]])
    * entries whose component layout names theirs (`df` = token-stats,
    * `pairs` = ngram-stats). The stats probe inspects ANY committed
    * entry, not just `seed` — the stats sinks support day-0 streams
    * whose archives never get a seed entry, and those must still route
    * through the facades. Driver-side file checks only, no job. */
  def modalityOf(spark: SparkSession, dir: String): String =
    dedupFamilyOf(spark, dir).map(_.name).getOrElse {
      val (fs, _) = hfs(spark, dir)
      val entries =
        if (fs.exists(new Path(dir)))
          fs.listStatus(new Path(dir)).toSeq.map(_.getPath.getName)
            .filterNot(_.startsWith("."))
        else Nil
      entries.collectFirst {
        case e if fs.exists(new Path(s"$dir/$e/df")) => "token-stats"
        case e if fs.exists(new Path(s"$dir/$e/pairs")) => "ngram-stats"
      }.getOrElse(throw new IllegalArgumentException(
        s"ArchiveDedup.modalityOf: $dir is not a committed archive (no " +
          "dedup generation and no stats entry with df/pairs) — seed it " +
          "with seedArchive, or CorpusStats.seedTokenStatsArchive / " +
          "seedNgramStatsArchive (or stream a first batch) first"))
    }

  /** The streaming sink: one entry point that runs each micro-batch
    * through [[processBatch]] against whichever family the archive at
    * `archiveDir` was seeded with — the three DEDUP families (minhash
    * with payloadCol = the text column; cosine / semantic with
    * payloadCol = the vector column) — or routes to the two
    * corpus-STATISTICS families ([[graft.operators.CorpusStats]]:
    * token-stats / ngram-stats, payloadCol = the text column). The
    * family was chosen ONCE, at seed time (see the measured decision
    * rule at [[Dedup.deltaPairs]]); the archive is self-describing, so
    * deployment code carries one sink call site whatever it maintains.
    * Mismatched options refuse loudly: a minhash archive REFUSES
    * `autoReseedAfter` (its reseed needs the raw corpus — out-of-band
    * [[reseedMinhashArchive]] only), and a stats archive — which
    * maintains counts, not pairs — REFUSES a pairs sink, a threshold,
    * and the drift/reseed knobs (pass `pairsDir = ""`, `threshold = 0`;
    * `compactEvery` / `retainCovered` / `checkpoint` apply to every
    * family). `autoReseedAfter = n > 0` (requires `driftDir`) re-fits
    * an embedding archive's own parameters in-loop after n consecutive
    * drift trips — see [[reseedArchive]]. */
  def archiveSink(rows: DataFrame, archiveDir: String, pairsDir: String,
                  idCol: String, payloadCol: String, threshold: Double,
                  exactLimit: Long = 10000L,
                  checkpoint: Option[String] = None,
                  compactEvery: Int = 8,
                  driftDir: Option[String] = None,
                  autoReseedAfter: Int = 0,
                  retainCovered: Int = 1): StreamingQuery = {
    requireSaneCompactEvery(compactEvery)
    dedupFamilyOf(rows.sparkSession, archiveDir) match {
      case Some(fam) =>
        require(autoReseedAfter <= 0 || driftDir.nonEmpty,
          "archiveSink: autoReseedAfter needs driftDir — the trigger reads " +
            "the persisted probe rows")
        if (autoReseedAfter > 0) fam.requireInPlaceReseed("archiveSink")
        warnIfNoCheckpoint(checkpoint, "archiveSink")
        val w = rows.writeStream
          .outputMode("append")
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            processBatch(batch, batchId, archiveDir, pairsDir, idCol, payloadCol,
              threshold, exactLimit, compactEvery, driftDir, autoReseedAfter,
              retainCovered)
          }
        checkpoint.foreach(c => w.option("checkpointLocation", c))
        w.start()
      case None =>
        val stats = modalityOf(rows.sparkSession, archiveDir)
        require(pairsDir.isEmpty && threshold == 0.0,
          s"archiveSink: $archiveDir is a $stats archive — it maintains " +
            "partial COUNTS, not dedup pairs; pass pairsDir = \"\" and " +
            "threshold = 0 (a non-empty pairs sink here would silently " +
            "never be written)")
        require(driftDir.isEmpty && autoReseedAfter <= 0,
          s"archiveSink: a $stats archive has no drift probes or reseed " +
            "generations (additive counts carry no pinned parameters to " +
            "drift) — drop driftDir/autoReseedAfter")
        if (stats == "token-stats")
          graft.operators.CorpusStats.tokenStatsSink(rows, archiveDir,
            idCol, payloadCol, checkpoint, compactEvery, retainCovered)
        else
          graft.operators.CorpusStats.ngramStatsSink(rows, archiveDir,
            idCol, payloadCol, checkpoint, compactEvery, retainCovered)
    }
  }

  /** Over-cap-safe distinct-id collector (r20 job diet — r19 verdict
    * ask #3): ONE aggregate replaces the r17 probe-then-collect job
    * pair (and the localCheckpoint pin that kept the two consistent).
    * The buffer holds at most `cap` distinct ids; the first id that
    * would exceed the cap flips the overflow flag and CLEARS the
    * buffer, so an over-cap takedown costs O(cap) memory per partial
    * buffer on its way to a clean refusal — never an unbounded
    * collect_set ([[forgetDocs]] feeds it one partition, so one
    * partial). Null inputs are ignored here (the sibling count columns
    * catch them). Output: (over_cap, sorted distinct ids). */
  private[graft] final case class BoundedIdSet(overCap: Boolean, ids: Array[Long])

  private[graft] final class BoundedIdSetBuf extends Serializable {
    var overCap: Boolean = false
    val set: java.util.HashSet[java.lang.Long] = new java.util.HashSet
  }

  private[graft] final class BoundedIdSetAgg(cap: Long)
      extends org.apache.spark.sql.expressions.Aggregator[
        java.lang.Long, BoundedIdSetBuf, BoundedIdSet] {
    override def zero: BoundedIdSetBuf = new BoundedIdSetBuf
    private def add(b: BoundedIdSetBuf, a: java.lang.Long): Unit =
      if (!b.overCap && a != null) {
        b.set.add(a)
        if (b.set.size > cap) { b.overCap = true; b.set.clear() }
      }
    override def reduce(b: BoundedIdSetBuf, a: java.lang.Long): BoundedIdSetBuf = {
      add(b, a); b
    }
    override def merge(x: BoundedIdSetBuf, y: BoundedIdSetBuf): BoundedIdSetBuf = {
      if (y.overCap) { x.overCap = true; x.set.clear() }
      else {
        val it = y.set.iterator()
        while (it.hasNext && !x.overCap) add(x, it.next())
        if (x.overCap) x.set.clear()
      }
      x
    }
    override def finish(b: BoundedIdSetBuf): BoundedIdSet =
      if (b.overCap) BoundedIdSet(overCap = true, Array.emptyLongArray)
      else {
        val arr = new Array[Long](b.set.size)
        val it = b.set.iterator()
        var i = 0
        while (it.hasNext) { arr(i) = it.next(); i += 1 }
        java.util.Arrays.sort(arr)
        BoundedIdSet(overCap = false, arr)
      }
    override def bufferEncoder: org.apache.spark.sql.Encoder[BoundedIdSetBuf] =
      org.apache.spark.sql.Encoders.kryo[BoundedIdSetBuf]
    override def outputEncoder: org.apache.spark.sql.Encoder[BoundedIdSet] =
      org.apache.spark.sql.Encoders.product[BoundedIdSet]
  }

  private[graft] def boundedIdSetUdaf(cap: Long)
      : org.apache.spark.sql.expressions.UserDefinedFunction =
    udaf(new BoundedIdSetAgg(cap), org.apache.spark.sql.Encoders.LONG)

  /** Forget documents IN PLACE from a streamed dedup archive — the
    * right-to-be-forgotten / takedown operation at archive scale:
    * rebuild the current generation MINUS `ids` from the archive's own
    * payload (one anti-join per component via [[Dedup.retract]] —
    * parameters and centroids unchanged, no corpus access) and commit
    * it as a full generation entry through the reseed machinery.
    * Readers flip atomically; superseded entries GC one compaction
    * cycle later; the stream keeps running and every FUTURE batch
    * dedups against an archive that no longer contains the forgotten
    * documents. Pairs already emitted are history — purging them from
    * the pairs store is the caller's downstream concern. IDEMPOTENT
    * across crash-retries (round 14): every takedown records its
    * victims on a `forgotten` ledger that rides through all later
    * generations (see [[forgottenLedger]]), so re-running a takedown
    * whose commit was durable skips cleanly and a MIXED batch retracts
    * only its still-live part. The ledger skip applies ONLY to ids
    * absent from the live index (round 15): a document forgotten once
    * but RE-INGESTED in a later batch is both ledgered and live, and a
    * takedown of it must remove the re-archived copy — classifying it
    * as a crash-retry replay would report a compliance takedown as
    * honored while the document stays live. Refuses ids on neither the
    * ledger nor the live index (a takedown that silently removes
    * nothing is how the wrong archive ships); a fold racing the commit
    * aborts loudly exactly as for reseeds — prefer the stream stopped.
    * A corpus-STATISTICS archive refuses: its entries hold aggregated
    * counts, not per-document rows — subtracting a document needs its
    * TEXT ([[graft.operators.CorpusStats.retractFromTokenStats]]), not
    * just its id. */
  def forgetDocs(spark: SparkSession, dir: String, ids: DataFrame,
                 idCol: String = "id"): Unit =
    // "one maintainer per archive directory", made mechanical: a second
    // concurrent takedown/reseed/compactor refuses with this holder's
    // identity (MaintenanceLease) instead of basing its generation
    // rewrite on a stale state read. The STREAM's in-loop work never
    // takes the lease — its race with a leased takedown stays handled
    // by commitReseed's abort, which is the forget-under-load contract.
    MaintenanceLease.withLease(spark, dir, "forgetDocs") {
    val famOpt = dedupFamilyOf(spark, dir)
    require(famOpt.nonEmpty,
      s"forgetDocs: $dir is a ${modalityOf(spark, dir)} archive — stats " +
        "archives hold aggregated counts, not per-document rows; " +
        "subtracting a document needs its TEXT. Use CorpusStats.retractFrom" +
        "{Token,Ngram}StatsArchive(spark, dir, docsWithText) — the " +
        "in-place stats twin of this operation.")
    val fam = famOpt.get
    val st = stateOf(spark, dir)
    val (fs, _) = hfs(spark, dir)
    verifyGenerationConsistency(spark, dir, st, fam)
    // IDEMPOTENT RETRY against the takedown ledger (round 14), refined
    // round 15: only ledgered ids ABSENT from the live index drop out
    // as crash-retry replays — a ledgered id still present in the
    // index was RE-INGESTED after its takedown and must be retracted
    // again (skipping it would report the takedown honored while the
    // re-archived copy stays live). Ids on neither the ledger nor the
    // live index refuse (wrong archive). The whole classification is
    // ONE job — victims outer-joined against the ledger and the live
    // id component, collected takedown-sized — so a crash-retry replay
    // costs one probe, and the retraction's coverage is proven here
    // (Dedup.retractCovered skips the second full-component scan).
    val ledger = forgottenLedger(spark, dir, st)
    val liveIds = fam.readFrames(spark, entryDirsOf(dir, st)).head
      .select(col("id"))
    import spark.implicits._
    val cap = Dedup.takedownCollectCap(spark)
    // classification in TWO bounded static-planned jobs (r20 job diet —
    // the r19 verdict's ask #3; was three jobs plus a localCheckpoint
    // pin): (1) ONE aggregate over the ids that counts rows/non-nulls
    // AND collects the distinct victim set through a CAP-BOUNDED typed
    // aggregator — the buffer stops growing the moment it would exceed
    // the cap and flags overflow instead, so an over-cap takedown still
    // refuses cleanly before anything victim-sized reaches the driver
    // (the r17 probe-before-collect guarantee, now enforced INSIDE the
    // aggregation buffer rather than by a preceding counting job);
    // (2) one scan over (ledger ∪ live ids) joined to the broadcast
    // LOCAL victim relation — a LocalRelation build side broadcasts
    // without a driver job, so membership costs exactly the scan. Same
    // cap/null/unknown refusals as before. The r17 localCheckpoint pin
    // (probe and collect_set had to see the same materialization of a
    // possibly non-deterministic ids source) is obsolete: the single
    // job reads the ids exactly once. The ids are coalesced to ONE
    // partition first, so exactly one partial buffer exists and it
    // never holds more than cap+1 ids (a narrow coalesce: no exchange,
    // no extra job).
    val probe = Dedup.withoutAqe(spark,
      ids.select(col(idCol).cast("long").as("id")).coalesce(1)
        .agg(count(lit(1)).as("n_rows"), count(col("id")).as("n_ids"),
          boundedIdSetUdaf(cap)(col("id")).as("vs"))).head
    require(probe.getLong(0) == probe.getLong(1),
      s"forgetDocs: retraction ids must be non-null and castable to " +
        s"long (column '$idCol' has null/uncastable values)")
    val vs = probe.getStruct(2)
    require(!vs.getBoolean(0),
      s"forgetDocs: the takedown batch (more than $cap distinct ids) " +
        s"exceeds spark.graft.maxTakedownCollect ($cap) — the " +
        "classification holds one driver-side entry per victim; split " +
        "the takedown into smaller batches (or raise the cap)")
    val victimIds = vs.getSeq[Long](1).toArray
    val vdf = victimIds.toSeq.toDF("id")
    val membership = Dedup.withoutAqe(spark,
      ledger.map(_.select(col("id"), lit("L").as("k")))
        .getOrElse(spark.range(0).select(col("id"), lit("L").as("k")))
        .unionByName(liveIds.select(col("id"), lit("V").as("k")))
        .join(broadcast(vdf), Seq("id")))
    val onLedger = membership.filter(_.getString(1) == "L")
      .map(_.getLong(0)).toSet
    val live = membership.filter(_.getString(1) == "V")
      .map(_.getLong(0)).toSet
    val unknown = victimIds.filterNot(id => onLedger(id) || live(id))
    require(unknown.isEmpty,
      s"forgetDocs: every forgotten id must have been archived in $dir, " +
        s"but e.g. [${unknown.take(3).mkString(", ")}] were never folded " +
        "(nor ledgered by a past takedown) — refusing a takedown that " +
        "would remove nothing (wrong archive?)")
    val liveVictimIds = victimIds.filter(live)
    if (liveVictimIds.isEmpty) {
      log.warn(s"ArchiveDedup.forgetDocs($dir): every requested id is " +
        "already on the takedown ledger and none is live in the index — " +
        "skipping as a crash-retry replay of a committed takedown (the " +
        "forget generation is durable).")
      return
    }
    // a LOCAL relation: the rewrite's anti-joins broadcast it, and the
    // ledger union needs no recompute guard (no localCheckpoint jobs)
    val liveVictims = liveVictimIds.toSeq.sorted.toDF("id")
    val newLedger = ledger
      .map(_.unionByName(liveVictims).distinct()).getOrElse(liveVictims)
    // the generation entry needs a free r<id>; a forget right after a
    // reseed (or two forgets back-to-back) takes the next free id —
    // sliver names (b<id>) are a different namespace, so no collision
    val atBatch = Iterator.iterate(math.max(0L, st.lastFolded))(_ + 1L)
      .find(id => !fs.exists(new Path(s"$dir/r$id"))).get
    // retractCovered deliberately carries the PINNED drift baseline
    // through (seed-scoped, exactly as for appends — a baseline that
    // re-snapshotted at every takedown would under-report cumulative
    // drift and mute autoReseed), and Dedup.save persists it; no
    // re-pin here, by contract and to skip the extra full-index scan
    val ix = loadLatest(spark, dir, fam)._1
    commitReseed(spark, dir, atBatch, st.allFoldedIds,
      s"${fam.name} forget", builtAtLastFolded = st.lastFolded,
      forgotten = Some(newLedger))(
      Dedup.save(Dedup.retractCovered(ix, liveVictims), _))
    }

  /** The TAKEDOWN twin of [[archiveSink]]: one call site that forgets
    * documents from whichever of the five archive families `dir`
    * holds, dispatching on the archive's own self-description. The
    * three dedup modalities need only the ids (their entries are
    * per-document rows — extra columns on `docs` are ignored); the two
    * corpus-statistics families hold aggregated counts, so subtracting
    * a document needs its TEXT replayed exactly as folded — `docs`
    * must carry `textCol` there, refused loudly if absent (an
    * id-only takedown against a stats archive cannot be honored and
    * must not look like it was). Every family's own refusals
    * (un-archived ids, concurrent folds, ambiguous replays) apply
    * unchanged — this facade only routes. */
  def forget(spark: SparkSession, dir: String, docs: DataFrame,
             idCol: String = "id", textCol: String = "text"): Unit =
    modalityOf(spark, dir) match {
      case stats @ ("token-stats" | "ngram-stats") =>
        require(docs.columns.contains(textCol),
          s"forget: $dir is a $stats archive — its entries hold " +
            "aggregated counts, not per-document rows, so retraction " +
            s"must replay each victim's TEXT exactly as folded; `docs` " +
            s"has no '$textCol' column (columns: " +
            s"${docs.columns.mkString(", ")}). Pass the victims WITH " +
            "their text (textCol names the column).")
        if (stats == "token-stats")
          graft.operators.CorpusStats.retractFromTokenStatsArchive(
            spark, dir, docs, idCol, textCol)
        else
          graft.operators.CorpusStats.retractFromNgramStatsArchive(
            spark, dir, docs, idCol, textCol)
      case _ => forgetDocs(spark, dir, docs.select(col(idCol)), idCol)
    }

  // =====================================================================
  // The archive lifecycle, once for every index family
  // =====================================================================

  /** Save `ix` under `dir` and pin its drift baseline from the SAVED
    * frames — the stats jobs scan the written parquet instead of
    * re-running the lazy build (the parameters are the ones just built;
    * only the frames re-point, so no params re-read job). */
  private def saveWithBaseline(ix: Dedup.DeltaIndex, dir: String): Unit = {
    val spark = ix.frames.head.sparkSession
    Dedup.save(ix, dir)
    Dedup.saveDriftBaseline(dir, Dedup.pinDriftBaseline(
      ix.withFrames(ix.family.readFrames(spark, Seq(dir)))).baseline, spark)
  }

  /** Write the day-0 archive: save the (lazily built) index `ix` as
    * `dir/base` with its drift baseline pinned. Build it with the
    * family's builder — [[Dedup.buildMinhashIndex]],
    * [[Dedup.buildCosineIndex]] (widths auto-size at the seed corpus
    * and stay PINNED for every later sliver — pass explicit widths if
    * the stream will far outgrow the seed) or [[Dedup.buildSemanticIndex]]
    * (centroids PINNED forever); watch the drift probes via `driftDir`
    * for when the pinned parameters stop fitting. */
  def seedArchive(ix: Dedup.DeltaIndex, dir: String): Unit = {
    purgeManifestCache(dir)
    saveWithBaseline(ix, s"$dir/base")
  }

  /** (live index = current generation ∪ every live entry, last folded
    * batchId or -1). The pinned parameters come from the generation
    * dir — every LIVE sliver was built under them (a reseed rebuilds
    * the whole corpus, so pre-reseed slivers never mix in). */
  private[graft] def loadLatest[I <: Dedup.DeltaIndex](
      spark: SparkSession, dir: String, fam: Dedup.IndexFamily[I],
      withDrift: Boolean = true): (I, Long) = {
    val st = stateOf(spark, dir)
    verifyGenerationConsistency(spark, dir, st, fam)
    val base = baseDirOf(dir, st)
    (fam.read(spark, entryDirsOf(dir, st),
      genMemo(spark, s"$base/${fam.paramsFile}")(fam.readParams(spark, base)),
      if (withDrift) genMemo(spark, s"$base/drift")(Dedup.loadDriftBaseline(spark, base))
      else None),
      st.lastFolded)
  }

  /** AUDIT the live archive: near-duplicate pairs AMONG the archived
    * corpus, mined from the archive's own stored components by the
    * family's audit kernel — so the takedown/retraction story is
    * INSPECTABLE without the raw corpus for all three dedup families:
    * after a [[forgetDocs]], this emits exactly the batch pair operator
    * over the SURVIVORS (banding/assignment is per-doc deterministic
    * and retraction is an exact row filter — the q96/q97/q98 oracles
    * replay that equivalence in SQL). minhash: (id_a, id_b, jaccard),
    * equal to [[Dedup.minhashLshPairs]] over the archived corpus;
    * cosine: (id_a, id_b, sim), exact θ-scan at or under `exactLimit`
    * stored vectors, stored-key LSH candidates above it; semantic:
    * (id_a, id_b, cluster, sim), within-cluster θ-pairs. */
  def archivePairs(spark: SparkSession, dir: String, threshold: Double,
                   exactLimit: Long = 10000L): DataFrame = {
    val fam = dedupFamilyOf(spark, dir)
    require(fam.nonEmpty,
      s"archivePairs: $dir is a ${modalityOf(spark, dir)} archive — it " +
        "holds aggregated counts, not per-document index rows; there are " +
        "no pairs to audit")
    // audits write nothing, so the pinned drift baseline's read job is
    // skipped (round 17 job diet)
    loadLatest(spark, dir, fam.get, withDrift = false)._1
      .selfPairs(threshold, exactLimit)
  }

  /** Fold every entry into a fresh self-contained base at `dstDir`
    * (reads are equivalent before and after; run out-of-band, then
    * point the stream at the compacted dir). The in-band path is the
    * automatic tiered compaction — see `compactEvery`. */
  def compactArchive(spark: SparkSession, dir: String, dstDir: String): Unit =
    MaintenanceLease.withLease(spark, dir, "compactArchive") {
      // dstDir may have been READ by this JVM before (re-compacting
      // into a recycled dir): drop its memoized generation metadata so
      // the fresh base/params is what loaders see, same convention as
      // the seed's purge
      purgeManifestCache(dstDir)
      Dedup.save(loadLatest(spark, dir, familyOf(spark, dir, "compactArchive"))._1,
        s"$dstDir/base")
    }

  private def familyOf(spark: SparkSession, dir: String, op: String): Family =
    dedupFamilyOf(spark, dir).getOrElse(throw new IllegalArgumentException(
      s"$op: $dir is a ${modalityOf(spark, dir)} archive, not a dedup archive"))

  /** Commit `nix` — a full rebuild under re-fitted parameters — as
    * generation `r<atBatch>` with a fresh pinned drift baseline. */
  private def commitRefit(spark: SparkSession, dir: String, st: ArchiveState,
                          atBatch: Long, nix: Dedup.DeltaIndex): Unit =
    commitReseed(spark, dir, atBatch, st.allFoldedIds, nix.family.name,
        builtAtLastFolded = st.lastFolded,
        // the takedown ledger rides through parameter reseeds too —
        // otherwise the superseded forget generation's GC would end
        // crash-retry protection for past takedowns
        forgotten = forgottenLedger(spark, dir, st))(saveWithBaseline(nix, _))

  /** Reseed an embedding archive IN PLACE from its own payload: the
    * family's re-fit kernel rebuilds the full index (cosine: widths
    * re-auto-sized at the cumulative corpus and a rotated hyperplane
    * seed; semantic: k centroids re-fitted with a fresh KMeans seed and
    * every member re-assigned), a fresh drift baseline is pinned, and
    * the result commits as generation `r<lastFolded>`. Readers and
    * later batches flip atomically; superseded entries GC one
    * compaction cycle later; pairs already written remain valid.
    * Callable out-of-band, or automatic via the sink's
    * `autoReseedAfter`. Cost ≈ one seed build over the cumulative
    * corpus. A minhash archive refuses — it stores only hashed
    * shingles; see [[reseedMinhashArchive]]. */
  def reseedArchive(spark: SparkSession, dir: String): Unit =
    // the OUT-OF-BAND entry point leases; the sink's in-loop auto-reseed
    // calls reseedInPlace directly (serialized by the stream itself)
    MaintenanceLease.withLease(spark, dir, "reseedArchive") {
      val st = stateOf(spark, dir)
      require(st.lastFolded >= 0L,
        s"reseedArchive: no batches folded in $dir yet — nothing to reseed")
      reseedInPlace(spark, dir, familyOf(spark, dir, "reseedArchive"), st,
        st.lastFolded)
    }

  private[graft] def reseedInPlace(spark: SparkSession, dir: String, fam: Family,
                                   st: ArchiveState, atBatch: Long): Unit = {
    fam.requireInPlaceReseed("reseedArchive")
    commitRefit(spark, dir, st, atBatch,
      loadLatest(spark, dir, fam)._1.refit(atBatch))
  }

  /** Out-of-band minhash reseed under NEW widths: the archive stores
    * only HASHED shingles, so re-banding needs the RAW corpus — the
    * caller supplies the full current document set (VERIFIED against
    * the archived id set: a partial corpus would silently shrink dedup
    * coverage). Commits generation `r<lastFolded>` like
    * [[reseedArchive]]; the stream keeps running against the same dir
    * and later slivers band under the new widths. */
  def reseedMinhashArchive(corpus: DataFrame, dir: String, idCol: String,
                           textCol: String, numHashes: Int = 16,
                           bands: Int = 4, shingleLen: Int = 3): Unit = {
    val spark = corpus.sparkSession
    MaintenanceLease.withLease(spark, dir, "reseedMinhashArchive") {
    val st = stateOf(spark, dir)
    require(st.lastFolded >= 0L,
      s"reseedMinhashArchive: no batches folded in $dir yet — reseed the " +
        "base out-of-band with seedArchive into a fresh dir instead")
    val (ix, _) = loadLatest(spark, dir, Dedup.MinhashIndex)
    val ids = corpus.select(col(idCol).cast("long").as("id")).distinct()
    val archived = ix.sets.select(col("id"))
    val mismatch = archived.except(ids)
      .unionByName(ids.except(archived)).limit(1)
    require(mismatch.isEmpty,
      s"reseedMinhashArchive: the supplied corpus's ids differ from the " +
        s"archived id set of $dir — a reseed must cover EXACTLY the " +
        "archived documents (pass the full current document set)")
    commitRefit(spark, dir, st, st.lastFolded,
      Dedup.buildMinhashIndex(corpus, idCol, textCol, numHashes, bands, shingleLen))
    }
  }

  /** One micro-batch, exposed for direct testing (and for callers
    * driving their own batch loop): dedup `batch` against the latest
    * snapshot, write its pairs under `pairsDir/batch_id=<id>`, fold it
    * into snapshot `b<id>`, auto-compact when `compactEvery` live
    * slivers/ranges accumulate, and (when `driftDir` is set) emit the
    * family's drift-probe row under `driftDir/batch_id=<id>`.
    * `autoReseedAfter = n > 0` (requires `driftDir`) additionally runs
    * the in-place reseed once n consecutive probes recommend a rebuild.
    * `exactLimit` only affects the cosine family. Replay-safe: an
    * existing/covered `b<id>` means this batch already ran — both
    * effects are skipped/overwritten, never doubled (with id
    * verification against the stored sliver, see class doc). */
  private[graft] def processBatch(batch: DataFrame, batchId: Long,
                                  archiveDir: String, pairsDir: String,
                                  idCol: String, payloadCol: String,
                                  threshold: Double,
                                  exactLimit: Long = 10000L,
                                  compactEvery: Int = 8,
                                  driftDir: Option[String] = None,
                                  autoReseedAfter: Int = 0,
                                  retainCovered: Int = 1,
                                  hotPairCap: Long = SimilarityJoin.AutoCap): Unit = {
    val spark = batch.sparkSession
    val fam = familyOf(spark, archiveDir, "processBatch")
    // one materialization of the batch feeds the guard, the pairs, the
    // drift probe and the fold — micro-batches are delta-sized by
    // definition
    val b = batch.select(col(idCol).cast("long").as(idCol), col(payloadCol))
      .localCheckpoint()
    // replay verification compares against the STORED sliver's ids, so
    // the expected id set keeps only the rows the family indexes (a
    // legitimate replay of a batch carrying null vectors must not read
    // as a checkpoint reset)
    if (alreadyFolded(spark, archiveDir, batchId,
        fam.indexed(b, payloadCol).select(col(idCol).cast("long").as("id")).distinct(),
        fam))
      return
    val (ix, _) = loadLatest(spark, archiveDir, fam)
    val fold = ix.fold(b, idCol, payloadCol, threshold, exactLimit, hotPairCap)
    fold.pairs.write.mode("overwrite").parquet(s"$pairsDir/batch_id=$batchId")
    val tripped = driftDir.exists(d => emitDrift(d, batchId, fam.name, fold.drift()))
    // fold = commit a BATCH-SIZED sliver under the archive's pinned
    // parameters; the union with base happens at load (Dedup.append is
    // the same union for in-session callers — here the sliver IS the
    // durable form of that append)
    commitEntry(spark, archiveDir, s"b$batchId") { tmp =>
      val (sliver, release) = fold.sliver()
      try Dedup.save(sliver, tmp) finally release()
    }
    maybeCompact(spark, archiveDir, fam, compactEvery, batchId, retainCovered)
    // reseed AFTER the sliver commit so the new generation folds this
    // batch too; the decision reads only persisted probe rows, so a
    // crash here re-fires on the next tripped batch (at-least-eventually)
    if (tripped && autoReseedAfter > 0) {
      val st = stateOf(spark, archiveDir)
      val lastR = st.reseeds.map(_._1).foldLeft(-1L)(math.max)
      if (shouldReseed(spark, driftDir.get, batchId, lastR, autoReseedAfter))
        reseedInPlace(spark, archiveDir, fam, st, batchId)
    }
  }
}
