package graft.serving

import scala.jdk.CollectionConverters._

import graft.sources.DriverParquet
import org.apache.parquet.filter2.predicate.FilterApi
import org.apache.parquet.io.api.Binary
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
 *    lives in parquet (reads are driver-side point lookups under a pushed
 *    predicate — no Spark job), mutations land in a bounded heap delta +
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
    * a parquet-backed store reads its base once per round, not once per
    * hit. */
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
 * LSM compaction. Every base lookup is a driver-side parquet-mr read
 * ([[graft.sources.DriverParquet]]) under a pushed predicate, so a
 * hydrate, `get` or `delete` runs no Spark job; the only jobs the store
 * runs are the writes and the Bloom build of `bootstrap`, `compact` and
 * `open`. A generation's files and footers are listed and read once, when
 * it opens (state O(row groups)); the footers also give the exact base
 * count and the largest long_id.
 *
 * Each base file is written SORTED by long_id, the key a search round
 * hydrates by, so its row-group and page statistics prune an
 * `in(long_id, …)` lookup; a parquet Bloom filter on doc_id prunes row
 * groups for an `eq(doc_id, …)` lookup. A driver-resident Bloom filter
 * over base doc_ids keeps the common put (brand-new id) from reading the
 * base at all.
 *
 * Metadata rides as a JSON string column (the service's own [[Json]]
 * codec both ways), so the base schema is flat:
 * `(doc_id string, long_id long, text string, metadata string)`.
 */
final class ParquetDocStore private (
    spark: SparkSession, dir: String, maxDelta: Int) extends DocStore {

  import ParquetDocStore._

  private var gen = -1 // -1 = no base yet
  // generation directories are immutable, so both views of `gen` hold
  // until the next compaction swaps in a new generation: the files with
  // their footers for driver-side lookups, and the Spark relation that
  // compaction rewrites and the Bloom build scans
  private var baseFiles: Option[DriverParquet.Files] = None
  private var baseDf: Option[DataFrame] = None
  private val delta = new java.util.LinkedHashMap[String, DocRecord]
  // the delta keyed by long_id, for hydration; kept in step with `delta`
  private val deltaByLong = collection.mutable.HashMap.empty[Long, DocRecord]
  private val tombstones = new java.util.HashSet[String]
  // base stats, refreshed per generation
  private var baseCount = 0L
  private var baseMaxLongId = -1L
  private var baseBloom: org.apache.spark.util.sketch.BloomFilter = null
  openGen(latestGen(spark, dir))

  /** Point the store at generation `g` (-1 = none). */
  private def openGen(g: Int): Unit = {
    gen = g
    if (g < 0) {
      baseFiles = None; baseDf = None
      baseCount = 0L; baseMaxLongId = -1L
      baseBloom = org.apache.spark.util.sketch.BloomFilter.create(64, 0.01)
    } else {
      val path = s"$dir/gen=$g"
      val files = DriverParquet.open(spark.sparkContext.hadoopConfiguration, path, BaseSchema)
      val b = spark.read.schema(BaseSchema).parquet(path)
      baseFiles = Some(files); baseDf = Some(b)
      baseCount = files.rowCount
      baseMaxLongId = files.maxLong("long_id").getOrElse(-1L)
      // no false negatives: every base id tests positive, so a negative
      // put/delete probe can safely skip the base read
      baseBloom = b.stat.bloomFilter(col("doc_id"), math.max(baseCount, 64L), 0.01)
    }
  }

  private def fromRow(r: org.apache.spark.sql.Row): DocRecord = {
    val md = r.getString(3) match {
      case null => None
      case s => Some(Json.parse(s).asInstanceOf[Map[String, Any]])
    }
    DocRecord(r.getString(0), r.getLong(1), r.getString(2), md)
  }

  /** Base point lookup by doc_id. */
  private def baseGet(docId: String): Option[DocRecord] =
    if (!baseBloom.mightContainString(docId)) None
    else baseFiles.flatMap(_.select(
      FilterApi.eq(FilterApi.binaryColumn("doc_id"), Binary.fromString(docId)))
      .headOption.map(fromRow))

  def put(rec: DocRecord): Unit = {
    // membership decides upsert-vs-insert accounting; the bloom keeps
    // brand-new ids from reading the base
    val existedInBase =
      !tombstones.contains(rec.docId) && baseGet(rec.docId).isDefined
    if (existedInBase) tombstones.add(rec.docId) // mask the stale base copy
    val prev = delta.put(rec.docId, rec)
    if (prev != null) deltaByLong.remove(prev.longId)
    deltaByLong(rec.longId) = rec
    maybeCompact()
  }

  def get(docId: String): Option[DocRecord] = {
    val d = delta.get(docId)
    if (d != null) Some(d)
    else if (tombstones.contains(docId)) None
    else baseGet(docId)
  }

  def getByLongIds(ids: Seq[Long]): Map[Long, DocRecord] = {
    val hit = ids.iterator.flatMap(id => deltaByLong.get(id).map(id -> _)).toMap
    val missing = ids.filterNot(hit.contains)
    baseFiles match {
      case Some(b) if missing.nonEmpty =>
        val wanted = missing.map(Long.box).toSet.asJava
        hit ++ b.select(FilterApi.in(FilterApi.longColumn("long_id"), wanted))
          .map(fromRow)
          .filterNot(r => tombstones.contains(r.docId)) // deleted/replaced
          .map(r => r.longId -> r)
      case _ => hit
    }
  }

  def delete(docId: String): Option[DocRecord] = {
    val d = delta.remove(docId)
    if (d != null) {
      deltaByLong.remove(d.longId)
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

  def maxLongId: Long = (baseMaxLongId +: deltaByLong.keys.toSeq).max

  private def maybeCompact(): Unit =
    if (delta.size > maxDelta || tombstones.size > maxDelta) compact()

  /** Fold delta + tombstones into the next base generation: survivors ∪
    * delta, written to `gen=N+1` then swapped — the old generation stays
    * intact until the write succeeds, so a failed compaction loses
    * nothing. */
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
    writeGen(survivors, s"$dir/gen=$next")
    val old = gen
    delta.clear()
    deltaByLong.clear()
    tombstones.clear()
    openGen(next)
    // best-effort cleanup of the superseded generation
    if (old >= 0) deletePath(spark, s"$dir/gen=$old")
  }
}

object ParquetDocStore {

  /** The base generation's schema, as [[bootstrap]] and `compact` write
    * it. A generation opens only if every file has exactly this schema
    * (names, types, order): the driver-side reads decode by position. */
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
    * driver.
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
    writeGen(corpus.select(col("doc_id").cast("string"), col("long_id").cast("long"),
        col("text").cast("string"), md.as("metadata")), s"$dir/gen=$next")
    val store = open(spark, dir, maxDelta)
    prior.foreach(g => deletePath(spark, s"$dir/gen=$g"))
    store
  }

  /** Write a base generation: each file sorted by long_id, with a parquet
    * Bloom filter on doc_id sized to the file's distinct ids — the
    * smallest of ten candidates halving from 1 MB down to 2 KB. */
  private def writeGen(rows: DataFrame, path: String): Unit =
    rows.sortWithinPartitions(col("long_id")).write.mode("overwrite")
      .option("parquet.bloom.filter.enabled#doc_id", "true")
      .option("parquet.bloom.filter.adaptive.enabled", "true")
      .option("parquet.bloom.filter.candidates.number#doc_id", "10")
      .parquet(path)

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
