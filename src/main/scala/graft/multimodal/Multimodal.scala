package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Multimodal column plumbing (LLM-pipeline component #3): media as
  * opaque `binary` columns plus a typed metadata struct, processed
  * batch-wise with `mapPartitions` over a typed Dataset — the Scala
  * analog of pandas-batch UDF processing: the decoder is initialised once
  * per partition and streams an iterator, so per-row setup cost is
  * amortised exactly like a batch UDF.
  *
  * Decode splits by container class: UNCOMPRESSED formats (RIFF/PCM WAV,
  * 24-bpp BMP), the spec-native RUN-LENGTH and ADPCM compressed ones
  * (BI_RLE8 BMP, IMA ADPCM WAV), baseline sequential GRAYSCALE JPEG
  * (Huffman entropy decode + dequantize + fixed-point IDCT), baseline
  * 4:2:0/4:4:4 COLOR JPEG (MCU-interleaved scans, chroma upsample,
  * fixed-point YCbCr→RGB), and 8-bit
  * grayscale PNG (zlib DEFLATE + filter reconstruction) are parsed
  * for real in pure JVM ([[RawCodec]], [[JpegCodec]], [[PngCodec]] —
  * actual sample
  * rates, dimensions, pixel/sample statistics from the payload bytes);
  * only the patent-laden video/audio codecs (H.264, AAC, MP3) need
  * native libraries this container lacks — progressive JPEG joined the
  * pure-JVM decoders in r14 — and no decoder here handles them;
  * `FakeDecoder` produces deterministic features from the raw bytes for
  * fixture payloads. The Spark-side contract — schema, encoders, batch
  * shape, partitioning — is identical across all of them; swapping a
  * JNI/FFI codec in changes nothing above the `MediaDecoder` trait.
  *
  * Scale posture: binary payloads dominate row size, so partition byte
  * targets (`spark.sql.files.maxPartitionBytes`) — not row counts —
  * govern task sizing; feature extraction is embarrassingly parallel with
  * no shuffle (narrow mapPartitions), and downstream joins should carry
  * only (media_id, features), never the payload.
  */
object Multimodal {

  case class MediaMeta(format: String, width: Int, height: Int, duration_ms: Long)
  case class MediaFile(media_id: Long, kind: String, content: Array[Byte], meta: MediaMeta)
  case class MediaFeatures(
      media_id: Long, kind: String, n_bytes: Int, mean_byte: Double,
      content_hash: String, n_frames: Int)

  /** Deterministic synthetic media over the documents table: content =
    * UTF-8 bytes of the text (an honest opaque payload for plumbing
    * purposes), kind round-robins image/audio/video, metadata derived
    * from the id.
    */
  def mediaTable(spark: SparkSession, dir: String): Dataset[MediaFile] = {
    import spark.implicits._
    Tables(spark, dir, "documents")
      .select(
        col("doc_id").as("media_id"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (col("doc_id") % 3 + 1).cast("int")).as("kind"),
        col("text").cast("binary").as("content"),
        struct(
          lit("raw").as("format"),
          (lit(16) + col("doc_id") % 64).cast("int").as("width"),
          (lit(16) + col("doc_id") % 48).cast("int").as("height"),
          (col("doc_id") % 10000).as("duration_ms")).as("meta"))
      .as[MediaFile]
  }

  /** REAL-container media table for the mm6 decode gate: every payload
    * is a structurally valid uncompressed container built byte-for-byte
    * on the executors — RIFF/PCM WAV for even ids, 24-bpp BMP for odd —
    * with deterministic per-id geometry and sample/pixel functions
    * ([[RawCodec.synthWav]]/[[RawCodec.synthBmp]]). The decoded features
    * therefore have closed forms an oracle can state over `doc_id`,
    * which makes the real parse path hash-checkable: a wrong chunk
    * offset, sample width, or stride-padding bug in [[RawCodec]] breaks
    * the gate. One media row per 50 documents — the gate exercises the
    * plumbing, not payload volume.
    */
  def rawMediaTable(spark: SparkSession, dir: String): Dataset[MediaFile] = {
    import spark.implicits._
    Tables(spark, dir, "documents")
      .select(col("doc_id")).filter(col("doc_id") % 25 === 0)
      .as[Long]
      .mapPartitions(_.map { id =>
        if (id % 2 == 0) {
          val channels = (1 + (id / 2) % 2).toInt
          val frames = (64 + id % 64).toInt
          MediaFile(id, "audio", RawCodec.synthWav(id, channels, 8000, frames),
            MediaMeta("wav", 0, 0, frames * 1000L / 8000))
        } else {
          val w = (5 + id % 12).toInt
          val h = (4 + id % 8).toInt
          MediaFile(id, "image", RawCodec.synthBmp(id, w, h), MediaMeta("bmp", w, h, 0L))
        }
      })
  }

  /** COMPRESSED-container media table for the mm10 decode gate: every
    * payload is a structurally valid BI_RLE8 BMP — run-length encoded
    * pixel stream, 256-entry palette, absolute-mode rows mixed in —
    * built byte-for-byte on the executors ([[RawCodec.synthRle8Bmp]])
    * with closed-form geometry and pixel functions over `doc_id`, so
    * the oracle can state the decoded channel sums exactly. Heights are
    * ≥ 3 so every image contains at least one absolute-mode row
    * (r % 4 == 2) — both wire forms decode in every gate row.
    */
  def rle8MediaTable(spark: SparkSession, dir: String): Dataset[MediaFile] = {
    import spark.implicits._
    Tables(spark, dir, "documents")
      .select(col("doc_id")).filter(col("doc_id") % 25 === 13)
      .as[Long]
      .mapPartitions(_.map { id =>
        val w = (6 + id % 11).toInt
        val h = (3 + id % 9).toInt
        MediaFile(id, "image", RawCodec.synthRle8Bmp(id, w, h),
          MediaMeta("bmp_rle8", w, h, 0L))
      })
  }

  /** IMA ADPCM WAVE payloads on a doc slice disjoint from mm6's raw
    * media (%25==0) and mm10's RLE8 (%25==13): alternating mono/stereo,
    * 2–4 nibble groups per block, 1–2 blocks — every gate row set
    * exercises both channel layouts and the multi-block path.
    */
  def adpcmMediaTable(spark: SparkSession, dir: String): Dataset[MediaFile] = {
    import spark.implicits._
    Tables(spark, dir, "documents")
      .select(col("doc_id")).filter(col("doc_id") % 25 === 7)
      .as[Long]
      .mapPartitions(_.map { id =>
        val ch = (1 + id % 2).toInt
        val groups = (2 + id % 3).toInt
        val blocks = (1 + (id / 2) % 2).toInt
        val spb = 8 * groups + 1
        MediaFile(id, "audio", RawCodec.synthAdpcmWav(id, ch, groups, blocks, 8000),
          MediaMeta("wav_adpcm", 0, 0, blocks.toLong * spb * 1000L / 8000L))
      })
  }

  /** Baseline grayscale JPEG payloads on a doc slice disjoint from the
    * other media slices (%25==19): 1–3 × 1–2 blocks, half the ids with
    * DRI/RSTn restart markers — every gate row set exercises the
    * Huffman entropy decode, dequantize, fixed-point IDCT, clamp rails
    * (blocks 0/1 pin DC to ±120) and the restart path.
    */
  def jpegMediaTable(spark: SparkSession, dir: String): Dataset[MediaFile] = {
    import spark.implicits._
    Tables(spark, dir, "documents")
      .select(col("doc_id")).filter(col("doc_id") % 25 === 19)
      .as[Long]
      .mapPartitions(_.map { id =>
        val wb = (1 + id % 3).toInt
        val hb = (1 + (id / 3) % 2).toInt
        val ri = if (id % 2 == 0) wb else 0
        MediaFile(id, "image", JpegCodec.synthJpeg(id, wb, hb, ri),
          MediaMeta("jpeg_baseline", wb * 8, hb * 8, 0L))
      })
  }

  /** PROGRESSIVE (SOF2) grayscale JPEG payloads on a doc slice
    * disjoint from the other media slices (%25==21): same block
    * geometry and the same closed-form coefficients as
    * [[jpegMediaTable]], re-coded as a four-scan successive-
    * approximation script (DC first/refine, AC first/refine with EOB
    * runs) — so the mm19 oracle is the mm12 arithmetic on a different
    * slice while the DECODE path is the progressive state machine.
    */
  def jpegProgressiveMediaTable(spark: SparkSession, dir: String): Dataset[MediaFile] = {
    import spark.implicits._
    Tables(spark, dir, "documents")
      .select(col("doc_id")).filter(col("doc_id") % 25 === 21)
      .as[Long]
      .mapPartitions(_.map { id =>
        val wb = (1 + id % 3).toInt
        val hb = (1 + (id / 3) % 2).toInt
        MediaFile(id, "image", JpegCodec.synthJpegProgressive(id, wb, hb),
          MediaMeta("jpeg_progressive", wb * 8, hb * 8, 0L))
      })
  }

  /** Baseline 4:2:0 YCbCr COLOR JPEG payloads on a doc slice disjoint
    * from the other media slices (%25==5): 1–2 × 1–2 MCUs (16–32 px a
    * side), Y coefficients on the mm12 closed form over the global
    * Y-block raster, chroma DC/AC on [[JpegCodec.synthChroma]], even
    * ids with DRI/RSTn every 2 MCUs (all three DC predictions reset).
    * Exercises the full color path: two quant tables, MCU-interleaved
    * entropy decode, per-component prediction, box chroma upsample and
    * the fixed-point YCbCr→RGB convert.
    */
  def jpegColorMediaTable(spark: SparkSession, dir: String): Dataset[MediaFile] = {
    import spark.implicits._
    Tables(spark, dir, "documents")
      .select(col("doc_id")).filter(col("doc_id") % 25 === 5)
      .as[Long]
      .mapPartitions(_.map { id =>
        val wm = (1 + id % 2).toInt
        val hm = (1 + (id / 2) % 2).toInt
        val ri = if (id % 2 == 0) 2 else 0
        MediaFile(id, "image",
          JpegCodec.synthJpegColor(id, wm, hm, subsample = true, restartInterval = ri),
          MediaMeta("jpeg_420", wm * 16, hm * 16, 0L))
      })
  }

  /** 8-bit grayscale PNG payloads on a doc slice disjoint from the
    * other media slices (%25==3): real zlib-DEFLATE streams under the
    * per-row filter layer, h ≥ 5 so every payload cycles through all
    * five filter types (y mod 5), even ids split the compressed stream
    * across two IDAT chunks — every gate row set exercises inflate,
    * all five filter reconstructions, and multi-IDAT concatenation.
    */
  def pngMediaTable(spark: SparkSession, dir: String): Dataset[MediaFile] = {
    import spark.implicits._
    Tables(spark, dir, "documents")
      .select(col("doc_id")).filter(col("doc_id") % 25 === 3)
      .as[Long]
      .mapPartitions(_.map { id =>
        val w = (6 + id % 13).toInt
        val h = (5 + id % 10).toInt
        MediaFile(id, "image", PngCodec.synthPng(id, w, h, splitIdat = id % 2 == 0),
          MediaMeta("png_gray8", w, h, 0L))
      })
  }

  /** GIF87a payloads on a doc slice disjoint from the other media
    * slices (%25==11): real variable-code-width LZW streams under a
    * 256-entry grayscale palette, geometry large enough (≥ 18×13)
    * that every payload crosses at least the first code-width growth.
    */
  def gifMediaTable(spark: SparkSession, dir: String): Dataset[MediaFile] = {
    import spark.implicits._
    Tables(spark, dir, "documents")
      .select(col("doc_id")).filter(col("doc_id") % 25 === 11)
      .as[Long]
      .mapPartitions(_.map { id =>
        val w = (18 + id % 14).toInt
        val h = (13 + id % 11).toInt
        MediaFile(id, "image", GifCodec.synthGif(id, w, h), MediaMeta("gif87a", w, h, 0L))
      })
  }

  /** MJPEG AVI payloads on a doc slice disjoint from the other media
    * slices (%25==17): 3–6 DISTINCT baseline-JPEG frames per
    * container (seed id·7+f), 1–2 × 1 blocks — real video bytes for
    * the demux + frame-sampling + per-frame-decode path.
    */
  def aviMediaTable(spark: SparkSession, dir: String): Dataset[MediaFile] = {
    import spark.implicits._
    Tables(spark, dir, "documents")
      .select(col("doc_id")).filter(col("doc_id") % 25 === 17)
      .as[Long]
      .mapPartitions(_.map { id =>
        val wb = (1 + id % 2).toInt
        val frames = (3 + id % 4).toInt
        MediaFile(id, "video", AviCodec.synthAvi(id, wb, 1, frames),
          MediaMeta("avi_mjpg", wb * 8, 8, frames * 40L))
      })
  }

  /** MS-RLE8 delta-frame video payloads on the %25==9 doc slice — the
    * INTER-FRAME codec path ([[RleVideoCodec]]): keyframe + delta
    * frames that only decode correctly if the canvas persists across
    * frames.
    */
  def rleVideoMediaTable(spark: SparkSession, dir: String): Dataset[MediaFile] = {
    import spark.implicits._
    Tables(spark, dir, "documents")
      .select(col("doc_id")).filter(col("doc_id") % 25 === 9)
      .as[Long]
      .mapPartitions(_.map { id =>
        val frames = RleVideoCodec.nFrames(id)
        MediaFile(id, "video", RleVideoCodec.synthRleAvi(id),
          MediaMeta("avi_rle8", RleVideoCodec.W, RleVideoCodec.H, frames * 40L))
      })
  }

  /** Video corpus with CONSTRUCTED near-duplicate pairs for mm17: ids
    * ≡ 5 (mod 25) pair up by `base = doc_id / 50` ({5,30}, {55,80}, …);
    * both members of a pair share geometry and the frame-seed list
    * `base·1000 + f`, and the SECOND member (doc_id % 50 ≥ 25)
    * re-shoots exactly one frame (position `(doc_id/25) % frames`,
    * seed `base·1000 + 930` — provably outside every shared seed
    * range: shared seeds occupy offsets 0..7 of each base's
    * thousands-block, and 930 stays inside its own base's block, so
    * no other base's seeds can reach it) — so pair Jaccard over frame
    * signatures is
    * (frames−1)/(frames+1) ≥ 5/7 and cross-pair videos share no seeds
    * at all. 6–8 frames per video keeps true pairs above and noise
    * pairs far below any sane threshold.
    */
  def aviNearDupMediaTable(spark: SparkSession, dir: String): Dataset[MediaFile] = {
    import spark.implicits._
    Tables(spark, dir, "documents")
      .select(col("doc_id")).filter(col("doc_id") % 25 === 5)
      .as[Long]
      .mapPartitions(_.map { id =>
        val base = id / 50
        val wb = (1 + base % 2).toInt
        val frames = (6 + base % 3).toInt
        val seeds = (0 until frames).map(f => base * 1000 + f).toArray
        if (id % 50 >= 25) seeds(((id / 25) % frames).toInt) = base * 1000 + 930
        MediaFile(id, "video", AviCodec.synthAviSeeds(seeds.toSeq, wb, 1),
          MediaMeta("avi_mjpg", wb * 8, 8, frames * 40L))
      })
  }

  /** The decode seam. Implementations must be deterministic per byte
    * content (idempotent re-runs, cross-run joins).
    */
  trait MediaDecoder extends Serializable {
    def features(m: MediaFile): MediaFeatures
    /** Every-nth-chunk frame sampling for video payloads. */
    def sampleFrames(content: Array[Byte], frameBytes: Int, everyNth: Int): Seq[Array[Byte]] =
      content.grouped(frameBytes).zipWithIndex
        .collect { case (chunk, i) if i % everyNth == 0 => chunk }
        .toSeq
  }

  /** Deterministic fake: features from raw bytes (no codec). */
  object FakeDecoder extends MediaDecoder {
    override def features(m: MediaFile): MediaFeatures = {
      val n = m.content.length
      val mean = if (n == 0) 0.0 else m.content.foldLeft(0L)((a, b) => a + (b & 0xff)).toDouble / n
      val hash = java.security.MessageDigest.getInstance("MD5")
        .digest(m.content).map("%02x".format(_)).mkString
      val frames = if (m.kind == "video") sampleFrames(m.content, 64, 2).size else 1
      MediaFeatures(m.media_id, m.kind, n, mean, hash, frames)
    }
  }

  /** Batch feature extraction: narrow mapPartitions, decoder shared per
    * partition, iterator-to-iterator (no materialisation).
    */
  def extractFeatures(ds: Dataset[MediaFile], decoder: MediaDecoder): Dataset[MediaFeatures] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(it => it.map(decoder.features))
  }

  case class MediaFrame(media_id: Long, frame_idx: Int, frame_bytes: Int, frame_hash: String)

  /** Frame sampling as a table: every-2nd 64-byte chunk of each video
    * payload becomes a row — the explode-to-frame-grain step a video
    * pipeline feeds to per-frame featurizers. Narrow mapPartitions
    * (digest shared per partition, iterator-to-iterator); downstream
    * joins carry (media_id, frame_idx, features), never the payload.
    */
  def sampledFrames(ds: Dataset[MediaFile], decoder: MediaDecoder): Dataset[MediaFrame] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.filter(_.kind == "video").flatMap { m =>
        decoder.sampleFrames(m.content, 64, 2).zipWithIndex.map { case (chunk, p) =>
          MediaFrame(m.media_id, p, chunk.length,
            md.digest(chunk).map("%02x".format(_)).mkString)
        }
      }
    }
  }

  case class MediaFrameContent(media_id: Long, frame_idx: Int, frame_str: String)

  /** Frame sampling carrying the frame PAYLOAD (as a string — fixture
    * payloads are pure ASCII, byte slice == substring, the same property
    * mm4's oracle leans on): the input to perceptual-fingerprint passes
    * (mm5) that need frame content, not just its exact hash. Same narrow
    * iterator-to-iterator shape as [[sampledFrames]]; the payload leaves
    * the partition only as 64-byte frames, never as whole media blobs,
    * and downstream fingerprinting reduces each frame to one long before
    * any exchange.
    */
  def frameContents(ds: Dataset[MediaFile], decoder: MediaDecoder): Dataset[MediaFrameContent] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      it.filter(_.kind == "video").flatMap { m =>
        decoder.sampleFrames(m.content, 64, 2).zipWithIndex.map { case (chunk, p) =>
          MediaFrameContent(m.media_id, p, new String(chunk, java.nio.charset.StandardCharsets.UTF_8))
        }
      }
    }
  }

  /** Gate-facing frame: id, kind, payload size, payload hash — the
    * oracle-comparable slice of the plumbing (hashes/lengths of the
    * binary column, no decode).
    */
  def mediaSummary(spark: SparkSession, dir: String): DataFrame =
    mediaTable(spark, dir).toDF()
      .select(
        col("media_id"),
        col("kind"),
        length(col("content")).as("n_bytes"),
        md5(col("content")).as("content_hash"),
        col("meta.width").as("width"),
        col("meta.height").as("height"))
      .orderBy(col("media_id").asc_nulls_first)
}
