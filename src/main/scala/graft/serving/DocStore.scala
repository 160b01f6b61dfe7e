package graft.serving

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** One stored document (the serving surface's row type): the string key
  * the API speaks, the long id the vector index speaks, and the payload. */
final case class DocRecord(docId: String, longId: Long, text: String,
                           metadata: Option[Map[String, Any]])

/**
 * Document payload store behind [[DocumentService]] — the text/metadata
 * twin of the vector index seam. Two implementations:
 *
 *  - [[HeapDocStore]]: everything driver-resident (the day_8 shape —
 *    Chroma keeps documents beside the HNSW store in process). Right for
 *    collections that fit serving RAM; zero per-request latency.
 *  - [[ParquetDocStore]]: the beyond-driver-RAM route. Base generation
 *    lives in parquet (reads are pushed-down point lookups — Spark jobs,
 *    paid per request), mutations land in a bounded heap delta +
 *    tombstone set that compacts back into parquet — the same
 *    LSM base+delta+tombstone shape [[graft.operators.ServingIndex.Mutable]]
 *    uses for the vectors, so the serving surface holds O(delta) driver
 *    state no matter the corpus size.
 *
 * Implementations are NOT internally synchronized; [[DocumentService]]
 * serializes access under its instance lock (the service must keep the
 * doc store and the vector index transitionally consistent anyway, so a
 * second lock layer here would buy nothing).
 */
trait DocStore {
  /** Insert or replace. The caller allocates `longId`. */
  def put(rec: DocRecord): Unit
  /** Lookup by API key. */
  def get(docId: String): Option[DocRecord]
  /** Batch hydrate by vector-index id — ONE lookup per search round, so
    * a parquet-backed store pays one job per round, not one per hit. */
  def getByLongIds(ids: Seq[Long]): Map[Long, DocRecord]
  /** Remove; returns the stored record when the doc existed (the HTTP
    * 404 contract needs the distinction, and the service needs the
    * longId to delete from the vector index). */
  def delete(docId: String): Option[DocRecord]
  /** Live document count (exact — /collection/info reports it). */
  def size: Long
  /** Largest longId ever stored, or -1 — the service's id allocator
    * starts above this after a corpus bootstrap. */
  def maxLongId: Long
}

/** Driver-heap store — the original [[DocumentService]] dictionaries,
  * factored behind the seam. */
final class HeapDocStore extends DocStore {
  private val byDoc = new java.util.LinkedHashMap[String, DocRecord]
  private val byLong = new java.util.HashMap[java.lang.Long, DocRecord]
  private var maxId = -1L

  def put(rec: DocRecord): Unit = {
    val prev = byDoc.put(rec.docId, rec)
    if (prev != null) byLong.remove(prev.longId)
    byLong.put(rec.longId, rec)
    if (rec.longId > maxId) maxId = rec.longId
  }
  def get(docId: String): Option[DocRecord] = Option(byDoc.get(docId))
  def getByLongIds(ids: Seq[Long]): Map[Long, DocRecord] =
    ids.iterator.flatMap(id => Option(byLong.get(id)).map(id -> _)).toMap
  def delete(docId: String): Option[DocRecord] = {
    val r = byDoc.remove(docId)
    if (r != null) byLong.remove(r.longId)
    Option(r)
  }
  def size: Long = byDoc.size.toLong
  def maxLongId: Long = maxId
}

/**
 * Parquet-backed store: base generation on disk, heap delta + tombstones,
 * LSM compaction. Each base lookup is ONE Spark job: a pushed-filter
 * scan of the generation's relation, which is built once per generation
 * with the pinned [[ParquetDocStore.BaseSchema]] (no footer-inference
 * job, no re-listing). The base is written SORTED by doc_id, so a
 * `get`/`delete` by doc_id prunes row groups by their min/max statistics
 * (the local-disk stand-in for the id-bucketed layout a cluster
 * deployment would use); a hydrate by long_id has no such order to
 * prune on and filters every row group. A Bloom filter over base doc_ids
 * keeps the common case (brand-new id) jobless on the put path.
 *
 * Metadata rides as a JSON string column (the service's own [[Json]]
 * codec both ways), so the base schema is flat:
 * `(doc_id string, long_id long, text string, metadata string)`.
 */
final class ParquetDocStore private (
    spark: SparkSession, dir: String, maxDelta: Int) extends DocStore {

  import ParquetDocStore._

  private var gen = -1 // -1 = no base yet
  // the base relation of `gen`, built once per generation: generation
  // directories are immutable, so its schema and file listing hold until
  // the next compaction swaps in a new generation
  private var baseDf: Option[DataFrame] = None
  private val delta = new java.util.LinkedHashMap[String, DocRecord]
  private val tombstones = new java.util.HashSet[String]
  // base stats, refreshed per generation (one job each at open/compact)
  private var baseCount = 0L
  private var baseMaxLongId = -1L
  private var baseBloom: org.apache.spark.util.sketch.BloomFilter = null
  openGen(latestGen(spark, dir))

  /** Point the store at generation `g` (-1 = none). */
  private def openGen(g: Int): Unit = {
    gen = g
    baseDf =
      if (g < 0) None
      else Some(spark.read.schema(BaseSchema).parquet(s"$dir/gen=$g"))
    refreshBaseStats()
  }

  private def refreshBaseStats(): Unit = baseDf match {
    case None =>
      baseCount = 0L; baseMaxLongId = -1L
      baseBloom = org.apache.spark.util.sketch.BloomFilter.create(64, 0.01)
    case Some(b) =>
      val row = b.agg(count(lit(1)), max(col("long_id"))).head()
      baseCount = row.getLong(0)
      baseMaxLongId = if (row.isNullAt(1)) -1L else row.getLong(1)
      // no false negatives: every base id tests positive, so a negative
      // put/delete probe can safely skip the point-lookup job
      baseBloom = b.stat.bloomFilter(col("doc_id"), math.max(baseCount, 64L), 0.01)
  }

  private def fromRow(r: org.apache.spark.sql.Row): DocRecord = {
    val md = r.getString(3) match {
      case null => None
      case s => Some(Json.parse(s).asInstanceOf[Map[String, Any]])
    }
    DocRecord(r.getString(0), r.getLong(1), r.getString(2), md)
  }

  /** Base point lookup by doc_id (pushed filter + row-group pruning). */
  private def baseGet(docId: String): Option[DocRecord] =
    if (!baseBloom.mightContainString(docId)) None
    else baseDf.flatMap(
      _.where(col("doc_id") === docId).collect().headOption.map(fromRow))

  def put(rec: DocRecord): Unit = {
    // membership decides upsert-vs-insert accounting; the bloom keeps
    // brand-new ids jobless, a positive probe pays one point lookup
    val existedInBase =
      !tombstones.contains(rec.docId) && baseGet(rec.docId).isDefined
    if (existedInBase) tombstones.add(rec.docId) // mask the stale base copy
    delta.put(rec.docId, rec)
    maybeCompact()
  }

  def get(docId: String): Option[DocRecord] = {
    val d = delta.get(docId)
    if (d != null) Some(d)
    else if (tombstones.contains(docId)) None
    else baseGet(docId)
  }

  def getByLongIds(ids: Seq[Long]): Map[Long, DocRecord] = {
    val fromDelta = collection.mutable.Map.empty[Long, DocRecord]
    val dIt = delta.values().iterator()
    while (dIt.hasNext) { val r = dIt.next(); fromDelta(r.longId) = r }
    val hit = ids.iterator.flatMap(id => fromDelta.get(id).map(id -> _)).toMap
    val missing = ids.filterNot(hit.contains)
    baseDf match {
      case Some(b) if missing.nonEmpty =>
        hit ++ b.where(col("long_id").isin(missing: _*)).collect()
          .map(fromRow)
          .filterNot(r => tombstones.contains(r.docId)) // deleted/replaced
          .map(r => r.longId -> r)
      case _ => hit
    }
  }

  def delete(docId: String): Option[DocRecord] = {
    val d = delta.remove(docId)
    if (d != null) {
      // any base copy was already tombstoned when the delta row was put,
      // so removing the delta row finishes the delete; adding a tombstone
      // here would double-subtract a delta-only doc from size
      maybeCompact()
      Some(d)
    } else if (tombstones.contains(docId)) None
    else {
      val b = baseGet(docId)
      if (b.isDefined) { tombstones.add(docId); maybeCompact() }
      b
    }
  }

  def size: Long = {
    // tombstones mask exactly one live base row each (put/delete only add
    // a tombstone after confirming base membership), so the count is exact
    baseCount - tombstones.size + delta.size
  }

  def maxLongId: Long = {
    var m = baseMaxLongId
    val it = delta.values().iterator()
    while (it.hasNext) { val r = it.next(); if (r.longId > m) m = r.longId }
    m
  }

  private def maybeCompact(): Unit =
    if (delta.size > maxDelta || tombstones.size > maxDelta) compact()

  /** Fold delta + tombstones into the next base generation: survivors ∪
    * delta, sorted by doc_id (row-group pruning for point lookups),
    * written to `gen=N+1` then swapped — the old generation stays intact
    * until the write succeeds, so a failed compaction loses nothing. */
  def compact(): Unit = {
    if (delta.isEmpty && tombstones.isEmpty) return
    import spark.implicits._
    val deltaRows = {
      val buf = Vector.newBuilder[(String, Long, String, String)]
      val it = delta.values().iterator()
      while (it.hasNext) {
        val r = it.next()
        buf += ((r.docId, r.longId, r.text,
          r.metadata.map(Json.write).orNull))
      }
      buf.result()
    }
    val deltaDf = deltaRows.toDF("doc_id", "long_id", "text", "metadata")
    val tomb = tombstones.toArray(new Array[String](tombstones.size)).toSeq
    val survivors = baseDf match {
      case None => deltaDf
      case Some(b) =>
        val kept = if (tomb.isEmpty) b else b.where(!col("doc_id").isin(tomb: _*))
        kept.unionByName(deltaDf)
    }
    val next = gen + 1
    survivors.sortWithinPartitions(col("doc_id"))
      .write.mode("overwrite").parquet(s"$dir/gen=$next")
    val old = gen
    delta.clear()
    tombstones.clear()
    openGen(next)
    // best-effort cleanup of the superseded generation
    if (old >= 0) deletePath(spark, s"$dir/gen=$old")
  }
}

object ParquetDocStore {

  /** The base generation's schema, as [[bootstrap]] and `compact` write
    * it; reads pass it, so a lookup runs no footer-inference job. */
  val BaseSchema: StructType = StructType(Seq(
    StructField("doc_id", StringType), StructField("long_id", LongType),
    StructField("text", StringType), StructField("metadata", StringType)))

  /** Open (or create) a store rooted at `dir`. An existing `gen=N`
    * directory resumes from disk — serving restarts keep the corpus. */
  def open(spark: SparkSession, dir: String, maxDelta: Int = 4096): ParquetDocStore =
    new ParquetDocStore(spark, dir, maxDelta)

  /** Bootstrap a base generation straight from a corpus frame —
    * `(doc_id string-castable, long_id long, text string, metadata
    * json-string or absent)` — without the rows ever visiting the
    * driver. The frame is sorted by doc_id for row-group pruning.
    * The corpus replaces whatever `dir` held: it is written as the
    * generation after the latest one (`gen=0` in a fresh directory),
    * and the superseded generations are deleted only once it is open —
    * `compact`'s swap, so a failed bootstrap loses nothing. */
  def bootstrap(spark: SparkSession, dir: String, corpus: DataFrame,
                maxDelta: Int = 4096): ParquetDocStore = {
    val md =
      if (corpus.columns.contains("metadata")) col("metadata").cast("string")
      else lit(null).cast("string")
    val prior = generations(spark, dir)
    val next = prior.foldLeft(-1)(math.max) + 1
    corpus.select(col("doc_id").cast("string"), col("long_id").cast("long"),
        col("text").cast("string"), md.as("metadata"))
      .sortWithinPartitions(col("doc_id"))
      .write.mode("overwrite").parquet(s"$dir/gen=$next")
    val store = open(spark, dir, maxDelta)
    prior.foreach(g => deletePath(spark, s"$dir/gen=$g"))
    store
  }

  private def latestGen(spark: SparkSession, dir: String): Int =
    generations(spark, dir).foldLeft(-1)(math.max)

  private def generations(spark: SparkSession, dir: String): Seq[Int] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("gen=") => n.stripPrefix("gen=").toInt }
  }

  private def deletePath(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try fs.delete(p, true) catch { case _: Throwable => () }
  }
}
