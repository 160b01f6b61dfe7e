package graft.operators

import graft.Par
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Multimodal asset columns: images/audio/video travel as opaque `binary`
 * columns with typed metadata, and decode/feature-extraction runs as
 * batched `mapPartitions` — the Scala/JVM equivalent of a Pandas UDF over
 * mapInPandas. Images and PCM audio decode for REAL — BMP/PNG/WAV
 * through the hand-written pure-JVM codecs in [[MediaCodecs]], JPEG
 * through the JDK's own ImageIO reader — into pixels/samples →
 * features/resize; remaining lossy formats (MP3/MP4 — no native codecs
 * in this container) fall back to the deterministic [[FakeDecoder]].
 * Swap `AssetDecoder.decode` for a javacv/ffmpeg call and nothing else
 * changes.
 */
object Multimodal {

  /** Canonical asset schema: id + modality tag + raw bytes + metadata. */
  val assetSchema: StructType = StructType(Seq(
    StructField("asset_id", LongType, nullable = false),
    StructField("modality", StringType, nullable = false),
    StructField("content", BinaryType, nullable = true),
    StructField("meta", MapType(StringType, StringType), nullable = true)))

  /** Pluggable decoder: bytes → fixed-dim feature vector. */
  trait AssetDecoder extends Serializable {
    def dim: Int
    def decode(modality: String, bytes: Array[Byte]): Array[Float]
  }

  /**
   * STUB decoder — deterministic fake features derived from the byte
   * content (seeded gaussian). A real deployment replaces this with the
   * actual codec; everything around it (batching, schema, null handling)
   * is production-shaped.
   */
  case class FakeDecoder(dim: Int = 16) extends AssetDecoder {
    def decode(modality: String, bytes: Array[Byte]): Array[Float] = {
      val seed = if (bytes == null) 0L
        else java.util.Arrays.hashCode(bytes).toLong * 1315423911L ^ modality.hashCode.toLong
      val rng = new java.util.Random(seed)
      Array.fill(dim)(rng.nextGaussian().toFloat)
    }
  }

  /** Deterministic synthetic asset table (fixture generator, S18 pattern). */
  def syntheticAssets(spark: SparkSession, n: Int, seed: Long = 42L): DataFrame = {
    import spark.implicits._
    val mods = Array("image", "audio", "video")
    (0 until n).map { i =>
      val rng = new java.util.Random(seed + i)
      val bytes = new Array[Byte](64 + rng.nextInt(192))
      rng.nextBytes(bytes)
      (i.toLong, mods(i % mods.length), bytes,
        Map("w" -> (64 + i % 512).toString, "h" -> (64 + (i * 7) % 512).toString))
    }.toDF("asset_id", "modality", "content", "meta")
  }

  /** Batched decode → feature column. Partition-parallel; each batch is a
    * single "model call" (the GPU/codec-friendly shape). Default decoder
    * routes BMP/PNG/WAV through the real codecs. */
  def extractFeatures(df: DataFrame, decoder: AssetDecoder = MediaCodecs.RealDecoder(),
                      batchSize: Int = 16): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("asset_id").cast("long"), col("modality"), col("content"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap { batch =>
          batch.map { case (id, mod, bytes) =>
            (id, mod, if (bytes == null) null else decoder.decode(mod, bytes))
          }
        }
      }
      .toDF("asset_id", "modality", "features")
  }

  /** Frame sampling stub for video rows: one row per sampled frame index —
    * the explode shape a real frame extractor produces. */
  def sampleFrames(df: DataFrame, everyNthByte: Int = 32): DataFrame =
    df.where(col("modality") === "video")
      .withColumn("frame_index",
        explode(sequence(lit(0), (length(col("content")) / everyNthByte).cast("int"))))
      .select(col("asset_id"), col("frame_index"),
        // STUB: a real impl decodes the frame; we slice the byte window
        substring(col("content"), col("frame_index") * everyNthByte + 1, lit(everyNthByte))
          .as("frame_bytes"))

  /** Metadata projection with typed accessors (resize targets etc.). */
  def withDimensions(df: DataFrame): DataFrame =
    df.withColumn("width", element_at(col("meta"), "w").cast("int"))
      .withColumn("height", element_at(col("meta"), "h").cast("int"))
      .withColumn("aspect", round(col("width").cast("double") / col("height"), 4))

  /** REAL dimensions probed from the container headers of the binary
    * column itself (BMP/PNG/JPEG — [[MediaCodecs.probeDims]]; JPEG needs
    * no pixel decode, only the SOF frame header). Unknown containers get
    * null dims. Typed mapPartitions: partition-parallel, no driver hop. */
  def probeDimensions(df: DataFrame, binCol: String = "content"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("asset_id").cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .map { case (id, bytes) =>
        MediaCodecs.probeDims(bytes) match {
          case Some((w, h, c)) => (id, w, h, c)
          case None => (id, -1, -1, -1)
        }
      }
      .toDF("asset_id", "probed_w", "probed_h", "probed_channels")
      .select(col("asset_id"),
        when(col("probed_w") > 0, col("probed_w")).as("probed_w"),
        when(col("probed_h") > 0, col("probed_h")).as("probed_h"),
        when(col("probed_channels") > 0, col("probed_channels")).as("probed_channels"))
  }

  /** REAL audio/video stream metadata from the containers themselves:
    * MP3 frame headers ([[MediaCodecs.probeMp3]]) and ISO-BMFF box
    * structure ([[MediaCodecs.probeMp4]]). Full PCM/pixel decode for
    * these codecs genuinely needs libraries this environment lacks (the
    * documented stub boundary) — but duration/bitrate/track metadata is
    * plain byte parsing and the pipeline fields below are real. Unknown
    * containers → null columns. */
  def probeAvMetadata(df: DataFrame, binCol: String = "content"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("asset_id").cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .map { case (id, bytes) =>
        // exact-magic container first: probeMp4 keys on the 'ftyp' box, a
        // deterministic signature, while probeMp3's sync scan is a
        // heuristic that can false-positive on 0xFFFA/0xFFFB bytes inside
        // an MP4's coded payload — consulting it first would mislabel a
        // fraction of any real MP4 corpus
        MediaCodecs.probeMp4(bytes) match {
          case Some(v) =>
            (id, "mp4", -1, -1, v.nTracks, -1, v.durationMs, v.brand)
          case None =>
            MediaCodecs.probeMp3(bytes) match {
              case Some(m) =>
                (id, "mp3", m.bitrateKbps, m.sampleRate, m.channels,
                  m.nFrames, m.durationMs, null.asInstanceOf[String])
              case None => (id, null.asInstanceOf[String], -1, -1, -1, -1, -1L,
                null.asInstanceOf[String])
            }
        }
      }
      .toDF("asset_id", "container", "bitrate_kbps", "sample_rate",
        "channels_or_tracks", "n_frames", "duration_ms", "brand")
      .select(col("asset_id"), col("container"),
        when(col("bitrate_kbps") > 0, col("bitrate_kbps")).as("bitrate_kbps"),
        when(col("sample_rate") > 0, col("sample_rate")).as("sample_rate"),
        when(col("channels_or_tracks") >= 0, col("channels_or_tracks")).as("channels_or_tracks"),
        when(col("n_frames") >= 0, col("n_frames")).as("n_frames"),
        when(col("duration_ms") >= 0, col("duration_ms")).as("duration_ms"),
        col("brand"))
  }

  /**
   * Encode→decode ROUND TRIP over a text corpus: each row's UTF-8 bytes
   * are laid out as a near-square grayscale raster (zero-padded to
   * `ceil(sqrt(n)) × ceil(n/w)`) and as an 8 kHz PCM16 waveform, pushed
   * through the REAL [[MediaCodecs]] BMP/WAV writers and readers, and
   * summarized FROM THE DECODED pixels/samples — never from the source
   * bytes. Every emitted feature is also a closed-form function of the
   * original bytes, so the whole image+audio codec path gates on a SQL
   * oracle (q69): a wrong header field, row-padding slip, or sample
   * scale error surfaces as a hash mismatch instead of a silent feature
   * drift. Partition-parallel typed mapPartitions (the mapInPandas
   * shape — swap the codec calls for a real model/codec batch and
   * nothing else changes); no shuffle beyond the caller's ordering, so
   * at corpus scale this runs embarrassingly parallel over the scan.
   */
  def textMediaRoundTrip(docs: DataFrame, idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    Par.widen(docs.select(col(idCol).cast("long"), col(textCol)))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val n = bytes.length
          val w = math.ceil(math.sqrt(n.toDouble)).toInt
          val h = (n + w - 1) / w
          val rgb = new Array[Int](w * h * 3)
          var i = 0
          while (i < n) {
            val v = bytes(i) & 0xff
            val o = i * 3
            rgb(o) = v; rgb(o + 1) = v; rgb(o + 2) = v
            i += 1
          }
          val bmp = MediaCodecs.encodeBmp(MediaCodecs.RasterImage(w, h, rgb))
          val img = MediaCodecs.decodeBmp(bmp).getOrElse(
            sys.error(s"BMP round trip failed for doc $id"))
          val np = img.width * img.height
          var lum = 0L
          var p = 0
          while (p < np) { lum += img.rgb(p * 3); p += 1 }
          val pcm = new Array[Short](n)
          i = 0
          while (i < n) { pcm(i) = (((bytes(i) & 0xff) - 128) << 8).toShort; i += 1 }
          val wav = MediaCodecs.encodeWavPcm16(pcm, sampleRate = 8000)
          val audio = MediaCodecs.decodeWav(wav).getOrElse(
            sys.error(s"WAV round trip failed for doc $id"))
          // samples are exact multiples of 2^-7, so the running double sum
          // never rounds — bit-identical to the oracle's list_sum
          var amp = 0.0
          var peak = 0f
          i = 0
          while (i < audio.samples.length) {
            val sVal = audio.samples(i)
            amp += sVal.toDouble
            val a = math.abs(sVal)
            if (a > peak) peak = a
            i += 1
          }
          (id, n.toLong, img.width.toLong, img.height.toLong, bmp.length.toLong,
            lum.toDouble / np, wav.length.toLong, audio.samples.length.toLong,
            amp / audio.samples.length, peak.toDouble,
            audio.samples.length.toDouble / audio.sampleRate)
        }
      }
      .toDF(idCol, "n_bytes", "img_w", "img_h", "bmp_bytes", "mean_lum",
        "wav_bytes", "n_samples", "mean_amp", "peak_amp", "duration_sec")
  }
}
