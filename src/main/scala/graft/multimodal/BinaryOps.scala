package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: image/audio/video as opaque BINARY columns
  * with typed metadata, processed in partition-sized batches.
  *
  * The Spark-side shape is real — schema, binaryFile source, mapPartitions
  * batching, deterministic partitioning by content hash — while the
  * feature step is behind [[MediaDecoder]] (deterministic stub by
  * default; a deployment swaps in richer features without touching the
  * plumbing). The CODECS themselves are in-engine: ImageCodec (PNG/BMP
  * via ImageIO), JpegCodec (hand-rolled baseline JPEG), WavCodec (PCM16),
  * G711Codec (µ-law/A-law), AviCodec (DIB + MJPG), Mp3Codec (frame
  * census) — each driver-hash-gated by its own q-query. */
object BinaryOps {

  final case class MediaFeature(media_id: Long, kind: String,
      n_bytes: Long, content_hash: Long, feature: Array[Float])

  /** Pluggable decode/feature step — the only non-plumbing piece. */
  trait MediaDecoder extends Serializable {
    def features(kind: String, bytes: Array[Byte]): Array[Float]
  }

  /** Deterministic offline stub: 8 moments of the byte stream. A real
    * implementation would decode pixels/samples here. */
  object StubDecoder extends MediaDecoder {
    def features(kind: String, bytes: Array[Byte]): Array[Float] = {
      val out = new Array[Float](8)
      var i = 0
      while (i < bytes.length) {
        out(i % 8) += (bytes(i) & 0xFF) / 255.0f
        i += 1
      }
      if (bytes.length > 0) (0 until 8).foreach(j => out(j) /= bytes.length)
      out
    }
  }

  /** (Σ v, Σ (i+1)·v) over unsigned bytes: the `pix_sum`/`pos_checksum`
    * pair the pixel-decode queries report, and their oracles recompute
    * from the source text. */
  def pixelChecksum(pix: Array[Byte]): (Long, Long) = {
    var sum = 0L
    var chk = 0L
    var i = 0
    while (i < pix.length) {
      val v = (pix(i) & 0xff).toLong
      sum += v
      chk += (i + 1) * v
      i += 1
    }
    (sum, chk)
  }

  /** (Σ v, Σ (k+1)·v, max |v|) over signed 16-bit samples: the audio
    * queries' `amp_sum`/`pos_checksum`/`peak_abs`. */
  def sampleChecksum(samples: Array[Short]): (Long, Long, Long) = {
    var sum = 0L
    var chk = 0L
    var peak = 0L
    var k = 0
    while (k < samples.length) {
      val v = samples(k).toLong
      sum += v
      chk += (k + 1) * v
      if (math.abs(v) > peak) peak = math.abs(v)
      k += 1
    }
    (sum, chk, peak)
  }

  /** Read a directory of media files as a binary DataFrame (built-in
    * binaryFile source: path, modificationTime, length, content). */
  def readMediaDir(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("binaryFile").load(dir)

  /** Push image-kind rows through a REAL codec roundtrip: the payload
    * is encoded as an actual 8-bit grayscale image (PNG on even ids,
    * BMP on odd — both JDK ImageIO codecs) and decoded back to pixels
    * executor-side, replacing `content` with the decoded pixel array.
    * Geometry is 1×len so pixels == source bytes exactly — which is
    * what lets every downstream integer checksum oracle stay verbatim
    * while the decode becomes real (the q175/q176/q177 roundtrip-gate
    * discipline applied to images). Non-image kinds pass through
    * untouched: the container has no audio/video codecs, so those stay
    * behind the declared stub. */
  def withImageRoundtrip(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("kind"), col("content"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, kind, bytes) =>
          if (kind == "image" && bytes.nonEmpty)
            (id, kind, imageRoundtrip(id, bytes))
          else (id, kind, bytes)
        }
      }.toDF("media_id", "kind", "content")
  }

  /** One real codec roundtrip (PNG for even ids, BMP for odd) of a
    * byte stream as a 1×len gray image — shared by withImageRoundtrip
    * and withMediaRoundtrip so both certify the SAME codec path. The
    * PNG leg is a CROSS-codec certificate since r15: OUR encoder
    * ([[PngCodec.encode]], filter choice varied by id) feeds the JDK
    * decoder, so every driver-hashed roundtrip row proves the
    * in-engine PNG writer against an independent reader — the q281
    * dual-decoder discipline inside the hot seam. BMP stays ImageIO
    * both ways (no in-engine BMP codec). */
  private def imageRoundtrip(id: Long, bytes: Array[Byte]): Array[Byte] = {
    val (w, h, pix) =
      if (id % 2 == 0)
        ImageCodec.decodeGray(PngCodec.encode(bytes.length, 1, 0, bytes,
          y => ((id + y) % 5).toInt))
      else
        ImageCodec.decodeGray(
          ImageCodec.encodeGray(bytes.length, 1, bytes, "bmp"))
    require(w == bytes.length && h == 1,
      s"image roundtrip drifted to ${w}x$h for media $id")
    pix
  }

  /** All three media kinds through their REAL codecs, byte-identically:
    * image rows PNG/BMP-roundtrip via ImageIO (as withImageRoundtrip),
    * audio rows ride WAV PCM16 (byte b ↔ sample b·257−32768 is an exact
    * bijection, inverted after decode), video rows ride an
    * uncompressed-DIB AVI as one ⌈len/3⌉-pixel frame (the 0–2 pad bytes
    * the 3-byte pixels need are stripped by the tracked length). Every
    * downstream checksum oracle therefore certifies the decoder paths
    * for free: a codec defect perturbs bytes and breaks the driver
    * hash, while a correct one is invisible. Per-row executor work. */
  def withMediaRoundtrip(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("kind"), col("content"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, kind, bytes) =>
          val out = kind match {
            case "image" if bytes.nonEmpty =>
              imageRoundtrip(id, bytes)
            case "audio" if bytes.nonEmpty =>
              val samples = bytes.map(b => ((b & 0xff) * 257 - 32768).toShort)
              val (_, _, dec) = WavCodec.decodePcm16(
                WavCodec.encodePcm16(8000, 1, samples))
              dec.map(s => ((s + 32768) / 257).toByte)
            case "video" if bytes.nonEmpty =>
              val w = (bytes.length + 2) / 3
              val padded = java.util.Arrays.copyOf(bytes, 3 * w)
              val (_, _, _, frames) = AviCodec.decodeDib24(
                AviCodec.encodeDib24(w, 1, Seq(padded), 10))
              frames.head.take(bytes.length)
            case _ => bytes
          }
          (id, kind, out)
        }
      }.toDF("media_id", "kind", "content")
  }

  final case class ResizedMedia(media_id: Long, kind: String,
      target_w: Int, target_h: Int, content: Array[Byte])

  /** Pluggable resize step (image/video thumbnailing). The stub emits a
    * deterministic downsample of the byte stream sized target_w*target_h;
    * a real decoder-backed implementation swaps in without touching the
    * plumbing (schema, per-partition batching). */
  def resize(media: DataFrame, targetW: Int, targetH: Int)
      : Dataset[ResizedMedia] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("kind"), col("content"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, kind, bytes) =>
          val n = targetW * targetH
          val out = new Array[Byte](n)
          if (bytes.nonEmpty) {
            var i = 0
            while (i < n) { // stride-sample the source bytes
              out(i) = bytes((i.toLong * bytes.length / n).toInt)
              i += 1
            }
          }
          ResizedMedia(id, kind, targetW, targetH, out)
        }
      }
  }

  final case class Frame(media_id: Long, frame_idx: Int, offset: Long,
      frame: Array[Byte])

  /** Frame sampling for video blobs: 1 row in → `nFrames` rows out
    * (flatMap), each carrying its source offset. The stub slices the byte
    * stream at even offsets; a real demuxer keeps the same 1→N shape. */
  def sampleFrames(media: DataFrame, nFrames: Int,
      frameBytes: Int = 256): Dataset[Frame] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.filter(col("kind") === "video")
      .select(col("media_id"), col("content"))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        if (bytes.isEmpty) Iterator.empty
        else (0 until nFrames).iterator.map { f =>
          val off = (f.toLong * bytes.length / nFrames)
          Frame(id, f, off,
            bytes.slice(off.toInt,
              math.min(off.toInt + frameBytes, bytes.length)))
        }
      }
  }

  final case class WindowEnergy(media_id: Long, window_idx: Int,
      n_samples: Int, energy: Long)

  /** Windowed energy profile for audio blobs: 1 row in → `nWindows` rows
    * out (flatMap), energy = Σ sample² over each window with the unsigned
    * bytes standing in for PCM samples — exact integer arithmetic, so the
    * profile is oracle-checkable end-to-end. A real decoder (bytes →
    * PCM frames) swaps in behind the same 1→N shape without touching the
    * plumbing, exactly like [[sampleFrames]] for video. */
  def windowEnergy(media: DataFrame, nWindows: Int): Dataset[WindowEnergy] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.filter(col("kind") === "audio")
      .select(col("media_id"), col("content"))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        if (bytes.isEmpty) Iterator.empty
        else (0 until nWindows).iterator.map { w =>
          val start = (w.toLong * bytes.length / nWindows).toInt
          val end = ((w + 1).toLong * bytes.length / nWindows).toInt
          var e = 0L
          var i = start
          while (i < end) {
            val v = (bytes(i) & 0xFF).toLong
            e += v * v
            i += 1
          }
          WindowEnergy(id, w, end - start, e)
        }
      }
  }

  final case class Patch(media_id: Long, patch_idx: Int, n_bytes: Int,
      byte_sum: Long, pos_checksum: Long)

  /** ViT-style patch extraction for image blobs: 1 row in → ⌈len/patch⌉
    * rows out (flatMap), each a FIXED-SIZE patch (the last one short —
    * the padding a real patchifier zero-fills), with exact integer
    * per-patch stats: Σ byte and a within-patch position-weighted
    * checksum (order-sensitive, so a transposed or re-strided patch
    * can't alias a correct one under the driver hash). A real decoder
    * (pixels → patch grid) swaps in behind the same 1→N shape; the
    * per-patch stat rows are what an embedding stage consumes. */
  def patchify(media: DataFrame, patchBytes: Int): Dataset[Patch] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.filter(col("kind") === "image")
      .select(col("media_id"), col("content"))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        if (bytes.isEmpty) Iterator.empty
        else (0 until (bytes.length + patchBytes - 1) / patchBytes)
          .iterator.map { p =>
            val start = p * patchBytes
            val end = math.min(start + patchBytes, bytes.length)
            var s = 0L
            var c = 0L
            var i = start
            while (i < end) {
              val v = (bytes(i) & 0xFF).toLong
              s += v
              c += (i - start + 1) * v
              i += 1
            }
            Patch(id, p, end - start, s, c)
          }
      }
  }

  /** Decode + feature-extract via mapPartitions: one decoder instance per
    * partition (not per row), rows streamed — the batch shape that holds
    * when `content` is megabytes and partitions are thousands of rows. */
  def extractFeatures(media: DataFrame, decoder: MediaDecoder = StubDecoder)
      : Dataset[MediaFeature] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("kind"), col("content"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, kind, bytes) =>
          MediaFeature(id, kind, bytes.length.toLong,
            org.apache.spark.unsafe.hash.Murmur3_x86_32
              .hashUnsafeBytes(bytes,
                org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
                bytes.length, 42).toLong,
            decoder.features(kind, bytes))
        }
      }
  }
}
