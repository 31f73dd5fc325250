package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.multimodal.BinaryOps.{pixelChecksum, sampleChecksum}

/** Compressed-media codecs under the driver hash — round 12's close of
  * the r11 "What's missing #1" perimeter (compressed formats threw
  * loudly; the reference swallows them via PyMuPDF, pdf_spider.py:42-50).
  * Each query drives a REAL compressed codec end-to-end executor-side and
  * reports exact integer stats the DuckDB oracle reproduces from the
  * source text alone:
  *
  * - q281: baseline JPEG (hand-rolled Huffman/DCT/markers, JpegCodec)
  *   on its exact-roundtrip subspace — block-constant images, one 8×8
  *   block per source byte — with the JDK's independent libjpeg-lineage
  *   decoder required to agree sample-for-sample in the same row.
  * - q282: Motion-JPEG AVI ('00dc' frames through JpegCodec inside the
  *   RIFF walk) — the compressed counterpart of q220's DIB form.
  * - q283: ITU-T G.711 µ-law/A-law WAV — source bytes are CODES, the
  *   decode table is exact integer arithmetic both engines share.
  * - q284: MPEG-1 Layer III frame census (sync walk, bitrate/padding
  *   tables, ID3v2 skip) — the ffprobe-level scan a corpus pipeline
  *   actually runs on audio blobs.
  * - q286: EXIF parse (APP1/TIFF IFD0, both byte orders) + orientation
  *   normalization, checksummed over the TRANSFORMED image.
  * - q287: ID3v2.3/2.4 tag content (text frames, all four encodings),
  *   with the tag's byte-exact size pinned via scan()'s first offset.
  * - q289: the three kinds routed through their compressed codecs into
  *   one 3-row funnel rollup (the q105 pattern, compressed edition).
  * - q290: PDF image MINING — extractImages pulls the real embedded
  *   JPEG back out of a born-digital document (beyond the reference's
  *   text-only get_text() ingest; a multimodal corpus needs both).
  * - q294: AAC ADTS frame census (sync + 13-bit frame-length walk,
  *   ISO 14496-3 sample-rate table, ID3v2 skip) — r13.
  * - q295: H.264 Annex B NAL census (start codes, one-byte NAL
  *   headers, IDR keyframe positions) — r13. Both are censuses,
  *   never decodes: the two biggest remaining loud-throw formats
  *   become typed metadata a corpus pipeline can route on.
  * - q296: AVI container census → per-chunk NAL routing (the old
  *   H.264 fourcc refusal, now typed metadata with keyframe split
  *   points) — r13.
  * - q297: poison-pill tolerance for the codec family — the q289
  *   funnel behind SafeDecode.attempt with arithmetic-planted
  *   truncation — r13.
  * - q298: MP4 / ISO-BMFF box census (largesize, to-EOF, container
  *   recursion; brand/handler/codec routing metadata) — r13.
  * - q299: WARC record census (Common Crawl's container; gzip sniff,
  *   Content-Length walk, HTTP status parse) — r13.
  *
  * All of these are per-row executor work over a projection — no
  * shuffle beyond q289's 3-row aggregate, the standard 100 TB codec
  * envelope (scan-fused, CPU-linear; ×10/×100 probes in SCALING.md). */
object MediaQ {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // The JPEG codec under the driver hash. Image-kind docs (id%3==0)
    // become one REAL baseline JPEG each — byte k of the text renders as
    // a constant 8×8 block, so the lossy codec is exact (see JpegCodec's
    // header note) and the oracle recomputes pixel sums from characters.
    // Restart markers vary by id (intervals 0/2/4/6), putting DRI/RSTn
    // under the hash too. Both OUR decoder and the JDK's must agree on
    // every sample before stats are emitted — a dual-decoder certificate
    // in the hot row. A defect anywhere (entropy coding, DCT, zigzag,
    // marker walk, restart reset) shifts a pixel and breaks the hash.
    "q281_jpeg_decode" -> ((s, dir) => {
      import s.implicits._
      docText(s, dir, col("doc_id") % 3 === 0 && length(col("text")) > 0)
        .map { case (id, text) =>
          val bytes = text.getBytes("ISO-8859-1")
          val n = bytes.length
          val w = 8 * n
          val h = 8
          val pix = new Array[Byte](w * h)
          var j = 0
          while (j < n) {
            var y = 0
            while (y < 8) {
              java.util.Arrays.fill(pix, y * w + 8 * j, y * w + 8 * j + 8,
                bytes(j))
              y += 1
            }
            j += 1
          }
          val rst = ((id % 4) * 2).toInt
          val enc = graft.multimodal.JpegCodec.encodeGray(w, h, pix, rst)
          val (dw, dh, dec) = graft.multimodal.JpegCodec.decodeGray(enc)
          require(dw == w && dh == h,
            s"jpeg roundtrip drifted to ${dw}x$dh for doc $id")
          // independent decoder must agree sample-for-sample
          val (iw, ih, ref) = graft.multimodal.ImageCodec.decodeGray(enc)
          require(iw == w && ih == h &&
            java.util.Arrays.equals(dec, ref),
            s"JpegCodec and ImageIO disagree on doc $id")
          val (sum, chk) = pixelChecksum(dec)
          (id, rst.toLong, w.toLong, h.toLong, sum, chk)
        }
        .toDF("doc_id", "restart_interval", "width", "height",
          "pix_sum", "pos_checksum")
        .orderBy("doc_id")
    }),

    // The PNG RASTER under the driver hash (r14 verdict #5 — the
    // IDAT-opaque perimeter retired): image docs become one real PNG
    // each, pix(x,y) = (byte_x + 3x + 7y) mod 256 so both gradients
    // are live, rows cycle ALL FIVE §9 filters, and the zlib stream
    // splits over 1+id%3 IDAT chunks (reassembly under the hash).
    // Odd ids write §8.2 Adam7 PROGRESSIVE streams (seven
    // independently-filtered reduced images scattered back onto the
    // grid — the pixel truth is identical, so the oracle doesn't
    // care, but a pass-geometry or scatter defect shifts pixels).
    // Our inflate+unfilter must agree with the JDK decoder
    // sample-for-sample before stats are emitted — the q281 pattern
    // for the second image format. A defect anywhere (a filter
    // inverse, stride math, chunk reassembly, the zlib walk, the
    // interlace walk) shifts a pixel and breaks the hash.
    "q319_png_decode" -> ((s, dir) => {
      import s.implicits._
      docText(s, dir, col("doc_id") % 3 === 1 && length(col("text")) > 0)
        .map { case (id, text) =>
          val b = text.getBytes("ISO-8859-1")
          val w = b.length; val h = 8
          val pix = new Array[Byte](w * h)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              pix(y * w + x) =
                (((b(x) & 0xff) + 3 * x + 7 * y) & 0xff).toByte
              x += 1
            }
            y += 1
          }
          val m = (1 + id % 3).toInt
          val enc = graft.multimodal.PngCodec.encode(w, h, 0, pix,
            _ % 5, nIdat = m, interlace = id % 2 == 1)
          val cen = graft.multimodal.PngCodec.census(enc)
          require(cen.nIdat == m,
            s"doc $id split to ${cen.nIdat} IDATs, not $m")
          val img = graft.multimodal.PngCodec.decode(enc)
          require(img.width == w && img.height == h && img.channels == 1,
            s"png roundtrip drifted to ${img.width}x${img.height} for doc $id")
          // independent decoder must agree sample-for-sample
          val (iw, ih, ref) = graft.multimodal.ImageCodec.decodeGray(enc)
          require(iw == w && ih == h &&
            java.util.Arrays.equals(img.pix, ref),
            s"PngCodec and ImageIO disagree on doc $id")
          val (sum, chk) = pixelChecksum(img.pix)
          (id, w.toLong, 8L, m.toLong, sum, chk)
        }
        .toDF("doc_id", "width", "height", "n_idat", "pix_sum",
          "pos_checksum")
        .orderBy("doc_id")
    }),

    // Motion JPEG under the driver hash — q220's shape with a genuinely
    // COMPRESSED payload: video-kind docs become nf 16×8 gray frames of
    // two constant blocks (bytes 2f, 2f+1 of the text, cycled), ride an
    // MJPG AVI through encodeMjpg/decodeMjpg, and every even frame
    // reports exact checksums. A stride slip, frame misorder, or any
    // JPEG defect inside the RIFF walk breaks the hash.
    "q282_mjpg_frames" -> ((s, dir) => {
      import s.implicits._
      docText(s, dir, col("doc_id") % 3 === 2 && length(col("text")) > 1)
        .flatMap { case (id, text) =>
          val src = text.getBytes("ISO-8859-1")
          val len = src.length
          val nf = (3 + id % 3).toInt
          val frames = (0 until nf).map { f =>
            val v0 = src((2 * f) % len)
            val v1 = src((2 * f + 1) % len)
            Array.tabulate[Byte](16 * 8)(i => if (i % 16 < 8) v0 else v1)
          }
          val avi = graft.multimodal.AviCodec.encodeMjpg(16, 8, frames, 10)
          val (w, h, fps, dec) = graft.multimodal.AviCodec.decodeMjpg(avi)
          require(w == 16 && h == 8 && fps == 10 && dec.length == nf,
            s"mjpg roundtrip shape drift: ${w}x$h @$fps, ${dec.length}")
          dec.zipWithIndex.filter(_._2 % 2 == 0).map { case (fr, fi) =>
            val (sum, chk) = pixelChecksum(fr)
            (id, nf.toLong, fi.toLong, sum, chk)
          }
        }
        .toDF("doc_id", "n_frames", "frame_idx", "pix_sum", "pos_checksum")
        .orderBy("doc_id", "frame_idx")
    }),

    // G.711 under the driver hash — q217's shape through a COMPRESSED
    // (companded) codec: audio-kind docs carry their bytes as G.711
    // CODES (µ-law on even ids, A-law on odd), the codes ride a real
    // format-tag-6/7 WAV, and the decoded 16-bit samples report exact
    // amplitude stats. The oracle recomputes every sample from the
    // published bit-field formulas; a segment/mantissa/sign slip in
    // either table breaks the hash.
    "q283_g711_audio" -> ((s, dir) => {
      import s.implicits._
      docText(s, dir, col("doc_id") % 3 === 1 && length(col("text")) > 0)
        .map { case (id, text) =>
          val codes = text.getBytes("ISO-8859-1")
          val mu = id % 2 == 0
          val samples = codes.map(c =>
            if (mu) graft.multimodal.G711Codec.ulawToLinear(c)
            else graft.multimodal.G711Codec.alawToLinear(c))
          val wav = graft.multimodal.G711Codec.encodeWav(8000, 1,
            samples, mu)
          val (rate, ch, isMu, dec) =
            graft.multimodal.G711Codec.decodeWav(wav)
          require(rate == 8000 && ch == 1 && isMu == mu &&
            dec.length == codes.length,
            s"g711 roundtrip shape drift for doc $id")
          val (sum, chk, peak) = sampleChecksum(dec)
          (id, if (mu) "ulaw" else "alaw", dec.length.toLong, sum, chk,
            peak)
        }
        .toDF("doc_id", "law", "n_samples", "amp_sum", "pos_checksum",
          "peak_abs")
        .orderBy("doc_id")
    }),

    // EXIF + orientation normalization under the driver hash — the
    // photo-corpus metadata pass: each image-kind doc becomes a REAL
    // JPEG (q281's block-constant strip) with a REAL spliced APP1 Exif
    // segment (TIFF IFD0, byte order alternating II/MM by id, Make/
    // Model/DateTime/Orientation), then the pipeline every image
    // ingest runs: parse EXIF -> decode pixels (the decoder must skip
    // APP1) -> apply the orientation transform (ids cycle 1/180°/
    // 90°CW/90°CCW). The output checksums are position-weighted over
    // the TRANSFORMED image, so a wrong rotation direction, a
    // transposed axis, or an endianness slip in the IFD walk all break
    // the hash. The closed-form checksum per orientation is pinned
    // against brute force in ExifCodecSpec; the oracle recomputes it
    // per character. Per-row executor work.
    "q286_exif_normalize" -> ((s, dir) => {
      import s.implicits._
      docText(s, dir, col("doc_id") % 3 === 0 && length(col("text")) > 0)
        .map { case (id, text) =>
          val bytes = text.getBytes("ISO-8859-1")
          val n = bytes.length
          val w = 8 * n
          val pix = new Array[Byte](w * 8)
          var j = 0
          while (j < n) {
            var y = 0
            while (y < 8) {
              java.util.Arrays.fill(pix, y * w + 8 * j, y * w + 8 * j + 8,
                bytes(j))
              y += 1
            }
            j += 1
          }
          val o = Seq(1, 3, 6, 8)((id % 12 / 3).toInt)
          val big = id % 2 == 1
          val make = s"GraftCam ${id % 5}"
          val model = s"M${id % 7}"
          val takenAt = f"2026:08:16 00:00:${id % 60}%02d"
          val jpeg = graft.multimodal.ExifCodec.insertApp1(
            graft.multimodal.JpegCodec.encodeGray(w, 8, pix),
            graft.multimodal.ExifCodec.encodeApp1(make, model, o,
              takenAt, big))
          val exif = graft.multimodal.ExifCodec.parse(jpeg).getOrElse(
            throw new IllegalStateException(s"EXIF vanished on doc $id"))
          require(exif.bigEndian == big && exif.orientation.contains(o),
            s"EXIF roundtrip drifted on doc $id")
          val (dw, dh, dec) = graft.multimodal.JpegCodec.decodeGray(jpeg)
          require(dw == w && dh == 8, s"decode drifted on doc $id")
          val (w2, h2, up) = graft.multimodal.ExifCodec
            .applyOrientation(dw, dh, dec, o)
          val (sum, chk) = pixelChecksum(up)
          (id, if (big) "MM" else "II", o.toLong,
            exif.make.getOrElse(""), exif.model.getOrElse(""),
            exif.dateTime.getOrElse(""),
            w2.toLong, h2.toLong, sum, chk)
        }
        .toDF("doc_id", "byte_order", "orientation", "make", "model",
          "taken_at", "out_w", "out_h", "pix_sum", "pos_checksum")
        .orderBy("doc_id")
    }),

    // The MP3 frame census under the driver hash: each audio-kind doc
    // synthesizes a REAL MPEG-1 Layer III stream (one frame per text
    // byte: bitrate index b%14+1, padding bit (b/16)%2, 44.1 kHz; a
    // deterministic ID3v2 prefix on id%5≠0 docs exercises the syncsafe
    // skip), then scan() walks it back. Totals are pure published-table
    // arithmetic — the oracle rebuilds them per character; a frame-length
    // slip desyncs the walk and the row refuses rather than mis-counting.
    "q284_mp3_scan" -> ((s, dir) => {
      import s.implicits._
      docText(s, dir, col("doc_id") % 3 === 1 && length(col("text")) > 0)
        .map { case (id, text) =>
          val src = text.getBytes("ISO-8859-1")
          val specs = src.toSeq.map { b =>
            ((b & 0xff) % 14 + 1, ((b & 0xff) / 16) % 2 == 1)
          }
          val id3 = ((id % 5) * 13).toInt
          val bytes = graft.multimodal.Mp3Codec.synth(specs, 0, id3)
          val frames = graft.multimodal.Mp3Codec.scan(bytes)
          require(frames.length == specs.length,
            s"mp3 scan found ${frames.length} of ${specs.length} frames")
          val firstOffset = frames.head.offset
          val totalBytes = frames.map(_.frameBytes.toLong).sum
          val brChk = frames.zipWithIndex.map { case (f, k) =>
            (k + 1).toLong * f.bitrateKbps }.sum
          val padCount = frames.count(_.padded).toLong
          val durMs =
            frames.length.toLong * graft.multimodal.Mp3Codec.SamplesPerFrame *
              1000L / 44100L
          (id, frames.length.toLong, firstOffset, totalBytes, brChk,
            padCount, durMs)
        }
        .toDF("doc_id", "n_frames", "first_offset", "total_bytes",
          "bitrate_checksum", "pad_count", "duration_ms")
        .orderBy("doc_id")
    }),

    // AAC ADTS frame census (r12 verdict #6) — the q284 walk for the
    // other dominant audio container: one ADTS frame per text byte
    // (profile b%4, channels b%7+1, payload b%32+1), sample rate by
    // id%5 over the 14496-3 index table, a deterministic ID3v2
    // prefix on id%4≠0 docs. scan() hops the 13-bit frame lengths
    // back; totals are pure header arithmetic the oracle rebuilds
    // per character. A census, never a decode — the format stops
    // being a loud unknown and becomes typed metadata a corpus
    // pipeline can route on.
    "q294_aac_scan" -> ((s, dir) => {
      import s.implicits._
      docText(s, dir, col("doc_id") % 3 === 1 && length(col("text")) > 0)
        .map { case (id, text) =>
          val src = text.getBytes("ISO-8859-1")
          val specs = src.toSeq.map { b =>
            val v = b & 0xff
            (v % 4, v % 7 + 1, v % 32 + 1)
          }
          val sfi = (id % 5).toInt + 2
          val id3 = if (id % 4 == 0) 0 else (10 + 11 * (id % 4)).toInt
          val bytes = graft.multimodal.AacCodec.synth(specs, sfi, id3)
          val frames = graft.multimodal.AacCodec.scan(bytes)
          require(frames.length == specs.length,
            s"aac scan found ${frames.length} of ${specs.length} frames")
          val profChk = frames.zipWithIndex.map { case (f, k) =>
            (k + 1).toLong * f.profile }.sum
          val chanChk = frames.zipWithIndex.map { case (f, k) =>
            (k + 1).toLong * f.channels }.sum
          val durMs = frames.length.toLong *
            graft.multimodal.AacCodec.SamplesPerFrame * 1000L /
            graft.multimodal.AacCodec.SampleRates(sfi)
          (id, frames.length.toLong, frames.head.offset.toLong,
            frames.map(_.frameBytes.toLong).sum, profChk, chanChk, durMs)
        }
        .toDF("doc_id", "n_frames", "first_offset", "total_bytes",
          "profile_checksum", "channel_checksum", "duration_ms")
        .orderBy("doc_id")
    }),

    // H.264 Annex B NAL census (r12 verdict #6) — the stream-structure
    // walk for raw video: SPS + PPS + one slice NAL per text byte
    // (IDR keyframe when b%5==0, else non-IDR), 4-byte then 3-byte
    // start codes, payloads that never emulate a start code. scan()
    // reads the one-byte NAL headers back; the oracle rebuilds every
    // census number from character arithmetic. Keyframe positions are
    // what a sharding pipeline actually needs (split points).
    "q295_h264_scan" -> ((s, dir) => {
      import s.implicits._
      docText(s, dir, col("doc_id") % 3 === 2 && length(col("text")) > 0)
        .map { case (id, text) =>
          import graft.multimodal.H264Codec
          val src = text.getBytes("ISO-8859-1")
          val specs = src.toSeq.map { b =>
            val v = b & 0xff
            (if (v % 5 == 0) H264Codec.TypeIdr else H264Codec.TypeNonIdr,
              v % 24 + 1)
          }
          val nals = H264Codec.scan(H264Codec.synth(specs))
          require(nals.length == specs.length + 2,
            s"h264 scan found ${nals.length} of ${specs.length + 2} NALs")
          val typeChk = nals.zipWithIndex.map { case (n, k) =>
            (k + 1).toLong * n.nalType }.sum
          val refChk = nals.map(_.refIdc.toLong).sum
          (id, nals.length.toLong,
            nals.count(_.nalType == H264Codec.TypeIdr).toLong,
            nals.count(_.nalType == H264Codec.TypeNonIdr).toLong,
            nals.map(_.nalBytes.toLong).sum, typeChk, refChk)
        }
        .toDF("doc_id", "n_nals", "n_idr", "n_slices", "total_bytes",
          "type_checksum", "ref_checksum")
        .orderBy("doc_id")
    }),

    // AVI CONTAINER → NAL CENSUS routing — the composition that turns
    // AviCodec's old H.264 refusal (AviCodec.scala fourcc perimeter)
    // into typed metadata: census() walks the RIFF structure without
    // decoding payloads, reports the fourcc, and the caller routes
    // H264 chunks through H264Codec.scan. Chunk 0 carries SPS+PPS+
    // slice (the VfW access-unit convention), later chunks one slice
    // each; keyframe (IDR) positions — the split points a sharding
    // pipeline needs — land in a 1-based position checksum.
    "q296_avi_h264_census" -> ((s, dir) => {
      import s.implicits._
      docText(s, dir, col("doc_id") % 3 === 2 && length(col("text")) > 0)
        .map { case (id, text) =>
          import graft.multimodal.{AviCodec, H264Codec}
          val src = text.getBytes("ISO-8859-1")
          val payloads = src.toSeq.zipWithIndex.map { case (b, k) =>
            val v = b & 0xff
            H264Codec.synth(
              Seq((if (v % 5 == 0) H264Codec.TypeIdr
                   else H264Codec.TypeNonIdr, v % 24 + 1)),
              paramSets = k == 0)
          }
          val avi = AviCodec.encodeStream(16, 16, 25, "H264", payloads)
          val (fourcc, w, h, fps, chunks) = AviCodec.census(avi)
          require(fourcc == "H264" && w == 16 && h == 16 && fps == 25 &&
            chunks.length == payloads.length,
            s"census drift on doc $id: $fourcc ${w}x$h@$fps " +
              s"${chunks.length} chunks")
          val nals = chunks.map(H264Codec.scan)
          val keyChk = nals.zipWithIndex.collect {
            case (ns, k) if ns.exists(_.nalType == H264Codec.TypeIdr) =>
              (k + 1).toLong
          }.sum
          (id, fourcc, chunks.length.toLong,
            nals.map(_.length.toLong).sum,
            nals.map(_.count(_.nalType == H264Codec.TypeIdr).toLong).sum,
            keyChk,
            nals.flatten.map(_.nalBytes.toLong).sum)
        }
        .toDF("doc_id", "fourcc", "n_chunks", "n_nals", "n_idr",
          "keyframe_checksum", "nal_bytes")
        .orderBy("doc_id")
    }),

    // POISON-PILL TOLERANCE for the codec family (r12 verdict #3,
    // media half — SafeDecode.attempt is parseAnySafe's sibling): the
    // q289 funnel arms with corruption PLANTED by id arithmetic —
    // doc_id % 7 == 3 blobs are truncated to 60% (magic bytes intact,
    // structure broken), and each kind's FULL decode pipeline runs
    // behind attempt(). A clean doc landing in quarantine fails
    // loudly, so the tolerance can't mask a codec regression; the
    // oracle knows the quarantine set and every surviving unit count
    // from arithmetic alone.
    "q297_media_quarantine" -> ((s, dir) => {
      import s.implicits._
      docText(s, dir, length(col("text")) > 1)
        .map { case (id, text) =>
          import graft.multimodal._
          val src = text.getBytes("ISO-8859-1")
          val len = src.length
          def maim(b: Array[Byte]): Array[Byte] =
            if (id % 7 == 3) b.take(math.max(4, b.length * 3 / 5)) else b
          val (kind, outcome) = (id % 3) match {
            case 0 =>
              val w = 8 * len
              val pix = new Array[Byte](w * 8)
              var j = 0
              while (j < len) {
                var y = 0
                while (y < 8) {
                  java.util.Arrays.fill(pix,
                    y * w + 8 * j, y * w + 8 * j + 8, src(j))
                  y += 1
                }
                j += 1
              }
              val bytes = maim(JpegCodec.encodeGray(w, 8, pix))
              ("image", SafeDecode.attempt("jpeg") {
                val (dw, dh, _) = JpegCodec.decodeGray(bytes)
                require(dw == w && dh == 8, s"image drift doc $id")
                len.toLong
              })
            case 1 =>
              val mu = id % 2 == 0
              val samples = src.map(c =>
                if (mu) G711Codec.ulawToLinear(c)
                else G711Codec.alawToLinear(c))
              val bytes = maim(G711Codec.encodeWav(8000, 1, samples, mu))
              ("audio", SafeDecode.attempt("wav") {
                val (_, _, _, dec) = G711Codec.decodeWav(bytes)
                require(dec.length == len, s"audio drift doc $id")
                len.toLong
              })
            case _ =>
              val nf = (3 + id % 3).toInt
              val frames = (0 until nf).map { f =>
                val v0 = src((2 * f) % len)
                val v1 = src((2 * f + 1) % len)
                Array.tabulate[Byte](16 * 8)(i =>
                  if (i % 16 < 8) v0 else v1)
              }
              val bytes = maim(AviCodec.encodeMjpg(16, 8, frames, 10))
              ("video", SafeDecode.attempt("avi") {
                val (_, _, _, dec) = AviCodec.decodeMjpg(bytes)
                require(dec.length == nf, s"video drift doc $id")
                nf.toLong
              })
          }
          outcome match {
            case Right(units) =>
              require(id % 7 != 3, s"corrupt $kind doc $id decoded cleanly")
              (id, kind, "ok", units)
            case Left(f) =>
              require(id % 7 == 3,
                s"clean $kind doc $id quarantined: ${f.error}")
              (id, kind, "quarantined", 0L)
          }
        }
        .toDF("doc_id", "kind", "status", "units")
        .orderBy("doc_id")
    }),

    // MP4 / ISO-BMFF BOX CENSUS — the other dominant media container
    // next to RIFF/AVI (q296): every doc becomes a minimal valid
    // single-track MP4 (vide/avc1 on even ids, soun/mp4a on odd; one
    // sample per text byte, size b%64+1, 40 ms/23 ms deltas at
    // timescale 1000), and census() walks the box tree back — brand,
    // handler, codec fourcc, sample count, normalized duration, mdat
    // size. The routing metadata an ingest pipeline reads BEFORE
    // deciding whether to decode; sample payloads are never touched.
    "q298_mp4_boxes" -> ((s, dir) => {
      import s.implicits._
      docText(s, dir, length(col("text")) > 0)
        .map { case (id, text) =>
          import graft.multimodal.Mp4Codec
          val src = text.getBytes("ISO-8859-1")
          val sizes = src.toSeq.map(b => (b & 0xff) % 64 + 1)
          val video = id % 2 == 0
          val delta = if (video) 40 else 23
          val c = Mp4Codec.census(Mp4Codec.synth(sizes, delta, video))
          require(c.timescale == 1000 && c.nSamples == sizes.length,
            s"mp4 census drift on doc $id: $c")
          (id, c.brand, c.handler, c.codec, c.nBoxes.toLong,
            c.nSamples, c.duration * 1000L / c.timescale, c.mdatBytes)
        }
        .toDF("doc_id", "brand", "handler", "codec", "n_boxes",
          "n_samples", "duration_ms", "mdat_bytes")
        .orderBy("doc_id")
    }),

    // MP4 SAMPLE ROUTING (r13 verdict #3) — from "there are N
    // samples" (q298's box census) to "sample k is THESE bytes,
    // handed to THIS codec": Mp4Codec.sampleTable expands
    // stsc/stco/stsz (run-length samples-per-chunk map, per-chunk
    // base offsets, per-sample sizes — ISO 14496-12 §8.7.4) into
    // per-sample mdat slices, and the slices route by the stsd
    // fourcc — avc1 → AVCC length-prefixed NAL census
    // (H264Codec.scanAvcc, the real in-MP4 framing, NOT Annex B),
    // mp4a → per-sample ADTS frame census (the dirty-but-common
    // ADTS-in-MP4 muxer shape). Samples derive from text bytes (NAL
    // type/size and ADTS profile/payload by char arithmetic), the
    // chunk layout varies by id (chunks of id%4+1 samples), and each
    // routed slice is RE-SCANNED — a mis-expanded sample table reads
    // someone else's bytes and the codec census refuses or the
    // checksum drifts; the oracle recomputes every count from the
    // text alone.
    "q305_mp4_sample_census" -> ((s, dir) => {
      import s.implicits._
      docText(s, dir, length(col("text")) > 0)
        .map { case (id, text) =>
          import graft.multimodal.{AacCodec, Mp4Codec, H264Codec}
          val src = text.getBytes("ISO-8859-1")
          val video = id % 2 == 0
          val samples: Seq[Array[Byte]] =
            if (video) src.toSeq.zipWithIndex.map { case (b, k) =>
              val v = b & 0xff
              val sl = (if (v % 5 == 0) 3 else 2,
                if (v % 5 == 0) H264Codec.TypeIdr else H264Codec.TypeNonIdr,
                v % 24 + 1)
              H264Codec.synthAvccSample(
                if (k == 0) Seq((3, H264Codec.TypeSps, 6),
                  (3, H264Codec.TypePps, 3), sl)
                else Seq(sl))
            }
            else src.toSeq.map { b =>
              val v = b & 0xff
              AacCodec.synth(Seq((v % 4, v % 7 + 1, v % 32 + 1)))
            }
          val csize = (id % 4).toInt + 1
          val chunking = samples.indices.grouped(csize)
            .map(_.size).toSeq
          val mp4 = Mp4Codec.synthSamples(samples,
            if (video) 40 else 23, video, chunking)
          val (codec, slices) = Mp4Codec.sampleTable(mp4)
          require(slices.length == samples.length,
            s"doc $id sample table drift: ${slices.length}")
          def cut(s: Mp4Codec.SampleSlice) = java.util.Arrays
            .copyOfRange(mp4, s.offset.toInt, (s.offset + s.size).toInt)
          val (units, keys, bytes) =
            if (codec == "avc1") {
              val nals = slices.map(s => H264Codec.scanAvcc(cut(s)))
              (nals.map(_.length.toLong).sum,
                nals.flatten.count(_.nalType == H264Codec.TypeIdr).toLong,
                nals.flatten.map(_.nalBytes.toLong).sum)
            } else {
              require(codec == "mp4a", s"doc $id routed fourcc $codec")
              val frames = slices.map(s => AacCodec.scan(cut(s)))
              require(frames.forall(_.length == 1),
                s"doc $id: multi-frame audio sample")
              (frames.map(_.length.toLong).sum,
                frames.flatten.count(_.profile == 1).toLong,
                frames.flatten.map(_.frameBytes.toLong).sum)
            }
          (id, codec, samples.length.toLong, chunking.length.toLong,
            units, keys, bytes)
        }
        .toDF("doc_id", "codec", "n_samples", "n_chunks", "n_units",
          "n_key", "unit_bytes")
        .orderBy("doc_id")
    }),

    // PDF IMAGE-CODEC CENSUS (r13 verdict #5) — the codecs the image
    // miner (q290) leaves undecoded (JPX, JBIG2, CCITT) were an
    // anonymous skip COUNT; now they are typed rows: PdfCodec
    // .imageCensus walks every /Subtype /Image XObject and reports
    // codec (last filter in the chain, CCITT split by /K flavor),
    // geometry (the dict is authoritative, §8.9.5), spec-default
    // BitsPerComponent (1 for JBIG2/CCITT, 0 = in-codestream for
    // JPX), color space, and payload size — WITHOUT touching a
    // payload byte. Each doc embeds a zoo of all four shapes from
    // char arithmetic; the text route must decode around the zoo
    // untouched, and every census row is checked against its planted
    // truth before aggregating.
    "q307_pdf_image_census" -> ((s, dir) => {
      import s.implicits._
      docText(s, dir, length(col("text")) > 0)
        .map { case (id, text) =>
          import graft.ingest.PdfCodec
          val src = text.getBytes("ISO-8859-1")
          val toks = Array("jpx", "jbig2", "ccitt", "flate")
          val imgs = src.toSeq.map { b =>
            val v = b & 0xff
            (toks(v % 4), v % 32 + 1, v % 16 + 1, v % 64 + 9)
          }
          val lines = Seq(s"Name: Event $id", "Body: with images")
          val pdf = PdfCodec.encodeWithImageZoo(lines, imgs)
          require(PdfCodec.decode(pdf) == lines,
            s"doc $id text route drifted around the image zoo")
          val census = PdfCodec.imageCensus(pdf)
          require(census.length == imgs.length,
            s"doc $id census found ${census.length} of ${imgs.length}")
          census.zip(imgs).foreach { case (c, (tok, iw, ih, plen)) =>
            val want = tok match {
              case "jpx" => PdfCodec.ImageInfo("jpx", iw, ih, 0, "", plen)
              case "jbig2" =>
                PdfCodec.ImageInfo("jbig2", iw, ih, 1, "DeviceGray", plen)
              case "ccitt" => PdfCodec.ImageInfo("ccitt-g4", iw, ih, 1,
                "DeviceGray", plen)
              case _ => PdfCodec.ImageInfo("flate", iw, ih, 8,
                "DeviceRGB", plen)
            }
            require(c == want, s"doc $id census drift: $c vs $want")
          }
          val dims = census.zipWithIndex.map { case (c, k) =>
            (k + 1).toLong * (c.width * 100L + c.height)
          }.sum
          (id, census.length.toLong,
            census.count(_.codec == "jpx").toLong,
            census.count(_.codec == "jbig2").toLong,
            census.count(_.codec == "ccitt-g4").toLong,
            census.count(_.codec == "flate").toLong,
            dims, census.map(_.dataBytes.toLong).sum,
            census.map(_.bpc.toLong).sum)
        }
        .toDF("doc_id", "n_images", "n_jpx", "n_jbig2", "n_ccitt_g4",
          "n_flate", "dims_checksum", "payload_bytes", "bpc_sum")
        .orderBy("doc_id")
    }),

    // H.264 STREAM GEOMETRY from the SPS (the useful 90% of "decode
    // the video": width/height/profile/level route a corpus without
    // touching a macroblock — what ffprobe reports). Each doc carries
    // a REAL seq_parameter_set built bit-by-bit (Exp-Golomb fields,
    // §7.3.2.1.1, emulation prevention applied) with id-derived
    // profile/level/macroblock geometry — id%4==0 docs exercise the
    // frame-cropping path (the 1080-in-1088-map-units device) — then
    // one slice NAL per text char. The engine walks the Annex B
    // stream, finds the type-7 NAL, strips emulation, and bit-reads
    // the geometry back; the oracle replays it all from arithmetic.
    "q310_h264_geometry" -> ((s, dir) => {
      import s.implicits._
      docText(s, dir, length(col("text")) > 0)
        .map { case (id, text) =>
          import graft.multimodal.H264Codec
          val src = text.getBytes("ISO-8859-1")
          val profile = Array(66, 77, 88)((id % 3).toInt)
          val level = 10 + (id % 5).toInt * 10
          val mbW = (id % 8).toInt + 1
          val mapH = (id % 6).toInt + 1
          val crop = id % 4 == 0
          val sps = H264Codec.synthSps(profile, level, mbW, mapH,
            cropRight = if (crop) 1 else 0,
            cropBottom = if (crop) 1 else 0)
          val slices = H264Codec.synth(src.toSeq.map { b =>
            val v = b & 0xff
            (if (v % 5 == 0) H264Codec.TypeIdr
             else H264Codec.TypeNonIdr, v % 24 + 1)
          }, paramSets = false)
          val stream = Array[Byte](0, 0, 0, 1) ++ sps ++ slices
          val nals = H264Codec.scan(stream)
          require(nals.length == src.length + 1 &&
            nals.head.nalType == H264Codec.TypeSps,
            s"doc $id stream drift: ${nals.length} NALs")
          val info = H264Codec.parseSps(stream.slice(
            nals.head.offset + 1, nals.head.offset + nals.head.nalBytes))
          (id, info.profile.toLong, info.level.toLong,
            info.width.toLong, info.height.toLong,
            nals.length.toLong,
            nals.tail.map(_.nalBytes.toLong).sum)
        }
        .toDF("doc_id", "profile", "level", "width", "height",
          "n_nals", "slice_bytes")
        .orderBy("doc_id")
    }),

    // MP4 VIDEO, FULLY ROUTED (q305 × q310 composed the way a real
    // MP4 demands): the avc1 sample entry is a conformant
    // VisualSampleEntry carrying the avcC decoder configuration
    // (ISO 14496-15 §5.3.3.1) — the ONLY place an MP4 keeps the
    // parameter sets. The engine reads avcC for profile/level, the
    // NAL length size, and the inline SPS; bit-reads the geometry
    // from the SPS (q310's Exp-Golomb parser); then walks every
    // mdat sample with THAT length size. Nothing is assumed: a wrong
    // lengthSize desyncs scanAvcc loudly, a wrong SPS breaks the
    // geometry hash.
    "q311_mp4_video_geometry" -> ((s, dir) => {
      import s.implicits._
      docText(s, dir, length(col("text")) > 0)
        .map { case (id, text) =>
          import graft.multimodal.{Mp4Codec, H264Codec}
          val src = text.getBytes("ISO-8859-1")
          val profile = Array(66, 77, 88)((id % 3).toInt)
          val level = 10 + (id % 5).toInt * 10
          val mbW = (id % 8).toInt + 1
          val mapH = (id % 6).toInt + 1
          val crop = id % 4 == 0
          val sps = H264Codec.synthSps(profile, level, mbW, mapH,
            cropRight = if (crop) 1 else 0,
            cropBottom = if (crop) 1 else 0)
          val samples = src.toSeq.map { b =>
            val v = b & 0xff
            H264Codec.synthAvccSample(Seq(
              (if (v % 5 == 0) 3 else 2,
                if (v % 5 == 0) H264Codec.TypeIdr
                else H264Codec.TypeNonIdr, v % 24 + 1)))
          }
          val csize = (id % 4).toInt + 1
          val mp4 = Mp4Codec.synthSamples(samples, 40, video = true,
            chunking = samples.indices.grouped(csize).map(_.size).toSeq,
            avcSps = Some(sps))
          // ---- the route proper: fixtures end here ----
          val cfg = Mp4Codec.avcConfig(mp4).getOrElse(
            throw new IllegalArgumentException(
              s"doc $id: avc1 track without avcC"))
          val info = H264Codec.parseSps(cfg.sps.head.drop(1))
          val (codec, slices) = Mp4Codec.sampleTable(mp4)
          require(codec == "avc1" && slices.length == samples.length,
            s"doc $id sample drift")
          val nals = slices.map(sl => H264Codec.scanAvcc(
            java.util.Arrays.copyOfRange(mp4, sl.offset.toInt,
              (sl.offset + sl.size).toInt), cfg.lengthSize))
          (id, cfg.profile.toLong, cfg.level.toLong,
            info.width.toLong, info.height.toLong,
            nals.map(_.length.toLong).sum,
            nals.flatten.count(_.nalType == H264Codec.TypeIdr).toLong,
            nals.flatten.map(_.nalBytes.toLong).sum)
        }
        .toDF("doc_id", "profile", "level", "width", "height",
          "n_nals", "n_idr", "nal_bytes")
        .orderBy("doc_id")
    }),

    // TAR SHARD CENSUS — the OTHER container training corpora ship
    // (WebDataset-style .tar of samples, .tar.gz crawl shards):
    // POSIX ustar 512-byte headers with octal sizes, the header
    // checksum RECOMPUTED per member (the one integrity bit the
    // format carries — a flipped header byte is loud, a flipped data
    // byte is the downstream codec's problem), data skipped whole.
    // Each doc becomes an archive of one member per text char (dirs
    // on b%16==0, files of b%200+1 bytes otherwise), whole-archive
    // gzip on odd ids. r15 re-gate: modern GNU/bsdtar extension
    // headers are planted by char class — b%16==1 a PAX `x` path
    // override (name >100 bytes), b%16==2 a GNU `L` long name,
    // b%16==3 a PAX `size` override with the header size field
    // ZEROED (the >8 GiB shape) — and the census must report the
    // LOGICAL member list: extension headers applied and hidden,
    // overridden names in the hash, overridden sizes in both sums.
    "q312_tar_census" -> ((s, dir) => {
      import s.implicits._
      docText(s, dir, length(col("text")) > 0)
        .mapPartitions { it =>
          import graft.multimodal.TarCodec
          // per-TASK tables (rebuilt every task — no cross-run state):
          // the member payload depends only on the byte value, and
          // Array.tabulate[Byte] boxes every element (Function1 is not
          // specialized on Byte) — ~150M boxed bytes per run before
          val dataOf = Array.tabulate(256) { v =>
            val n = v % 200 + 1
            val a = new Array[Byte](n)
            var i = 0
            while (i < n) { a(i) = ((i * 73 + v) % 251).toByte; i += 1 }
            a
          }
          val xs = "x" * 95; val ys = "y" * 95
          it.map { case (id, text) =>
          val src = text.getBytes("ISO-8859-1")
          val members = src.toSeq.zipWithIndex.map { case (b, k) =>
            val v = b & 0xff
            val data = dataOf(v) // read-only: synth copies, census copies
            (v % 16) match {
              case 0 => (s"shard/d$k/", '5', Array.empty[Byte], ' ')
              case 1 => (s"shard/$xs/p$k.bin", '0', data, 'x')
              case 2 => (s"shard/$ys/g$k.bin", '0', data, 'L')
              case 3 => (s"shard/s$k.bin", '0', data, 's')
              case _ => (s"shard/m$k.bin", '0', data, ' ')
            }
          }
          val got = TarCodec.census(
            TarCodec.synthExt(members, gzipped = id % 2 == 1))
          require(got.length == members.length,
            s"doc $id tar census found ${got.length} of " +
              s"${members.length}")
          got.zip(members).foreach { case (m, (n, t, p, _)) =>
            require(m.name == n && m.typeflag == t &&
              m.size == p.length,
              s"doc $id member drift: $m vs ($n, $t, ${p.length})")
          }
          (id, got.length.toLong,
            got.count(_.typeflag == '0').toLong,
            got.count(_.typeflag == '5').toLong,
            got.map(_.size).sum,
            got.zipWithIndex.map { case (m, k) =>
              (k + 1).toLong * m.size
            }.sum,
            got.map(_.name).mkString("", ";", ";"))
        }
        }
        .toDF("doc_id", "n_members", "n_files", "n_dirs",
          "data_bytes", "size_checksum", "names")
        .select(col("doc_id"), col("n_members"), col("n_files"),
          col("n_dirs"), col("data_bytes"), col("size_checksum"),
          md5(col("names").cast("binary")).as("names_md5"))
        .orderBy("doc_id")
    }),

    // WEBM / EBML CENSUS — the dominant open web video container
    // (every <video> webm; RFC 8794 element framing + the IANA
    // Matroska element registry): variable-length IDs and sizes, the
    // streamed-webm UNKNOWN Segment size honored (id%5==0 docs emit
    // that shape — same census either way), DocType / timescale /
    // per-track codec IDs / cluster + SimpleBlock counts / frame
    // bytes, no frame decoded. r15 re-gate: blocks carry all FOUR
    // lacing modes by char class (none / Xiph 255-run / fixed-size /
    // EBML signed-VINT deltas — standard in real webm audio tracks),
    // so the frame COUNT and the frame-bytes sum (lace table
    // excluded) only match the oracle if the lace parser walks every
    // size table exactly. Codec mix and every count replay from
    // id/char arithmetic.
    "q313_webm_census" -> ((s, dir) => {
      import s.implicits._
      docText(s, dir, length(col("text")) > 0)
        .map { case (id, text) =>
          import graft.multimodal.EbmlCodec
          val src = text.getBytes("ISO-8859-1")
          val tracks = Seq(
            (1, if (id % 2 == 0) "V_VP9" else "V_AV1"),
            (2, if (id % 3 != 0) "A_OPUS" else "A_VORBIS"))
          val blocks = src.toSeq.zipWithIndex.map { case (b, k) =>
            val v = b & 0xff
            val tn = if (v % 3 != 0) 1 else 2
            val nf = v % 3 + 2
            val (frames, mode) = (v % 4) match {
              case 0 => (Seq(v % 64 + 1), 0)
              case 1 => ((0 until nf).map(j => (v + j) % 48 + 1), 1)
              case 2 => (Seq.fill(nf)(v % 48 + 1), 2)
              case _ => ((0 until nf).map(j => (v + 7 * j) % 48 + 1), 3)
            }
            (k / 8, tn, frames, mode)
          }
          val webm = EbmlCodec.synthLaced("webm", 1000000L, tracks,
            blocks, unknownSegmentSize = id % 5 == 0)
          val c = EbmlCodec.census(webm)
          require(c.docType == "webm" && c.tracks == tracks,
            s"doc $id webm census drift: $c")
          (id, c.docType, c.tracks.length.toLong,
            c.tracks.head._2, c.tracks(1)._2,
            c.nClusters.toLong, c.nBlocks.toLong, c.nFrames.toLong,
            c.frameBytes)
        }
        .toDF("doc_id", "doc_type", "n_tracks", "video_codec",
          "audio_codec", "n_clusters", "n_blocks", "n_frames",
          "frame_bytes")
        .orderBy("doc_id")
    }),

    // ZIP PARSER-DIFFERENTIAL CENSUS — the central directory is the
    // authoritative member list (APPNOTE / ISO 21320-1), but
    // streaming extractors trust LOCAL headers, and hostile archives
    // exploit the disagreement to smuggle content past corpus
    // filters. The census walks EOCD → central directory → each
    // entry's local header and REPORTS the differential: id%7==3
    // docs carry one member whose local-header name is tampered
    // (central untouched), and the flagged index + the authoritative
    // names must both survive. Trailing archive comments on id%3==0
    // force the real backward EOCD search. r15 re-gate: even ids ship
    // the zip64 SHAPE — sentinel EOCD fields resolved through the
    // zip64 EOCD locator + record (APPNOTE §4.3.14/15), every 5th
    // entry's central sizes routed through the 0x0001 extra field —
    // with the same logical truth, so a reader that misses the
    // locator or the extra-field indirection breaks the hash.
    "q314_zip_census" -> ((s, dir) => {
      import s.implicits._
      docText(s, dir, length(col("text")) > 0)
        .map { case (id, text) =>
          import graft.multimodal.ZipCodec
          val src = text.getBytes("ISO-8859-1")
          val members = src.toSeq.zipWithIndex.map { case (b, k) =>
            val v = b & 0xff
            (s"m$k.bin", Array.tabulate[Byte](v % 128 + 1)(i =>
              ((i * 73 + v) % 251).toByte))
          }
          val zip = ZipCodec.synth(members,
            comment = if (id % 3 == 0) s"doc $id" else "",
            tamperLocal = if (id % 7 == 3)
              Some((id % members.length).toInt) else None,
            zip64 = id % 2 == 0, zip64SizeEvery = 5)
          val got = ZipCodec.census(zip)
          require(got.length == members.length,
            s"doc $id zip census found ${got.length}")
          require(got.map(_.name) == members.map(_._1),
            s"doc $id central names drifted")
          val mism = got.count(_.localMismatch)
          require(mism == (if (id % 7 == 3) 1 else 0),
            s"doc $id differential miscount: $mism")
          (id, got.length.toLong, got.map(_.usize).sum, mism.toLong,
            got.map(_.name).mkString(";"))
        }
        .toDF("doc_id", "n_members", "data_bytes", "n_mismatch",
          "names")
        .select(col("doc_id"), col("n_members"), col("data_bytes"),
          col("n_mismatch"),
          md5(col("names").cast("binary")).as("names_md5"))
        .orderBy("doc_id")
    }),

    // PNG STRUCTURE CENSUS — the one common image format with
    // per-chunk integrity (CRC-32 over type+data, ISO 15948): the
    // walk VERIFIES every chunk's CRC (a census that skips the check
    // blesses silently corrupted rasters), reads IHDR geometry and
    // pixel format, counts IDAT chunks/bytes, and requires the IEND
    // terminator — pixel data never inflated (the decode perimeter
    // stays where r12 drew it: JPEG decodes in-engine, PNG rasters
    // are IDAT-opaque). Geometry and chunking replay from arithmetic.
    "q316_png_census" -> ((s, dir) => {
      import s.implicits._
      docText(s, dir, length(col("text")) > 0)
        .map { case (id, text) =>
          import graft.multimodal.PngCodec
          val src = text.getBytes("ISO-8859-1")
          val w = (id % 512) + 16
          val h = (id % 256) + 16
          val ct = Array(0, 2, 6)((id % 3).toInt)
          val png = PngCodec.synth(w, h, 8, ct,
            src.toSeq.map(b => (b & 0xff) % 64 + 1))
          val c = PngCodec.census(png)
          require(c.width == w && c.height == h && c.colorType == ct,
            s"doc $id png census drift: $c")
          (id, c.width, c.height, c.bitDepth.toLong,
            c.colorType.toLong, c.nChunks.toLong, c.nIdat.toLong,
            c.idatBytes)
        }
        .toDF("doc_id", "width", "height", "bit_depth", "color_type",
          "n_chunks", "n_idat", "idat_bytes")
        .orderBy("doc_id")
    }),

    // WARC RECORD CENSUS — the container web-scale text corpora
    // actually arrive in (Common Crawl ships .warc.gz): every doc
    // becomes a WARC/1.0 archive (one warcinfo + one HTTP response
    // record per text byte; 404 on b%10==0, body b%128+1 bytes),
    // whole-archive-gzipped on odd ids (the census inflates by magic
    // sniff — the OUTPUT is what the oracle hashes, so gzip byte
    // nondeterminism is irrelevant). The walk is Content-Length-
    // driven with the mandated CRLF-pair separators checked — the
    // crawl-ingest routing pass that precedes any text extraction.
    "q299_warc_census" -> ((s, dir) => {
      import s.implicits._
      docText(s, dir, length(col("text")) > 0)
        .map { case (id, text) =>
          import graft.multimodal.WarcCodec
          val src = text.getBytes("ISO-8859-1")
          val info = ("warcinfo", "",
            "software: graft\r\n".getBytes("ISO-8859-1"))
          val resps = src.toSeq.zipWithIndex.map { case (b, k) =>
            val v = b & 0xff
            val status = if (v % 10 == 0) 404 else 200
            ("response", s"https://example.com/$id/$k",
              WarcCodec.httpPayload(status, v % 128 + 1))
          }
          val bytes = WarcCodec.synth(info +: resps,
            gzipped = id % 2 == 1)
          val recs = WarcCodec.census(bytes)
          require(recs.length == src.length + 1,
            s"warc census found ${recs.length} of ${src.length + 1}")
          (id, recs.length.toLong,
            recs.count(_.warcType == "response").toLong,
            recs.count(_.httpStatus == 404).toLong,
            recs.map(_.contentLength.toLong).sum,
            recs.map(_.httpStatus.toLong).sum)
        }
        .toDF("doc_id", "n_records", "n_responses", "n_404",
          "content_bytes", "status_checksum")
        .orderBy("doc_id")
    }),

    // ID3v2 TAG CONTENT under the driver hash — the labels an audio
    // corpus carries (title/artist/album), not just the skip q284 does:
    // each audio-kind doc gets a real ID3v2.3/2.4 tag (version by id
    // parity, text encoding cycling latin-1 / UTF-16+BOM / UTF-16BE /
    // UTF-8 by id) followed by real MPEG frames; parseId3 reads the
    // frames back and scan() must land its first frame exactly at the
    // tag boundary — so the emitted first_offset pins the writer's
    // byte-level layout (syncsafe vs plain sizes, BOM bytes, NUL-free
    // payloads) against the oracle's arithmetic reconstruction of it.
    "q287_id3_tags" -> ((s, dir) => {
      import s.implicits._
      docText(s, dir, col("doc_id") % 3 === 1 && length(col("text")) >= 12)
        .map { case (id, text) =>
          val version = if (id % 2 == 0) 3 else 4
          val enc = (id % 12 / 3).toInt
          val title = s"Track $id"
          // ASCII-fold the corpus slice: the oracle's first_offset
          // arithmetic counts one payload byte per char for enc 0/3,
          // which only holds for ASCII — fold chars >= 0x80 to '?' so
          // the invariant doesn't depend on corpus charset
          val artist = text.take(12).map(c => if (c >= 0x80) '?' else c)
          val album = s"Album ${id % 9}"
          val tag = graft.multimodal.Mp3Codec.encodeId3(Seq(
            ("TIT2", title, enc), ("TPE1", artist, enc),
            ("TALB", album, enc)), version)
          val src = text.getBytes("ISO-8859-1")
          val stream = tag ++ graft.multimodal.Mp3Codec.synth(Seq(
            ((src(0) & 0xff) % 14 + 1, false),
            ((src(1) & 0xff) % 14 + 1, true)))
          val id3 = graft.multimodal.Mp3Codec.parseId3(stream)
            .getOrElse(throw new IllegalStateException(
              s"ID3 tag vanished on doc $id"))
          val frames = graft.multimodal.Mp3Codec.scan(stream)
          require(id3.version == version && frames.length == 2,
            s"ID3 roundtrip drifted on doc $id")
          (id, version.toLong, enc.toLong, id3.frames("TIT2"),
            id3.frames("TPE1"), id3.frames("TALB"),
            frames.head.offset, frames.map(_.frameBytes.toLong).sum)
        }
        .toDF("doc_id", "id3_version", "encoding", "title", "artist",
          "album", "first_offset", "frame_bytes")
        .orderBy("doc_id")
    }),

    // The compressed-media funnel — the q105 routing pattern with the
    // REAL compressed codecs end-to-end: every doc takes its kind's
    // full pipeline (image → JPEG encode/decode, audio → G.711 µ/A-law
    // WAV, video → MJPG AVI), and ONE 3-row rollup reports corpus-level
    // decoded-unit counts and checksum totals per kind. This is the
    // shape a real curation pass has at 100 TB: per-row executor decode
    // fused into the scan, then a kind-keyed partial aggregate whose
    // exchange carries three rows.
    "q289_media_funnel" -> ((s, dir) => {
      import s.implicits._
      docText(s, dir, length(col("text")) > 1)
        .map { case (id, text) =>
          val src = text.getBytes("ISO-8859-1")
          val len = src.length
          (id % 3) match {
            case 0 => // image: one 8×8 block per byte through JPEG
              val w = 8 * len
              val pix = new Array[Byte](w * 8)
              var j = 0
              while (j < len) {
                var y = 0
                while (y < 8) {
                  java.util.Arrays.fill(pix,
                    y * w + 8 * j, y * w + 8 * j + 8, src(j))
                  y += 1
                }
                j += 1
              }
              val (dw, dh, dec) = graft.multimodal.JpegCodec.decodeGray(
                graft.multimodal.JpegCodec.encodeGray(w, 8, pix))
              require(dw == w && dh == 8, s"funnel image drift doc $id")
              var sum = 0L
              var i = 0
              while (i < dec.length) { sum += dec(i) & 0xff; i += 1 }
              ("image", len.toLong, sum)
            case 1 => // audio: bytes as G.711 codes (µ even / A odd)
              val mu = id % 2 == 0
              val samples = src.map(c =>
                if (mu) graft.multimodal.G711Codec.ulawToLinear(c)
                else graft.multimodal.G711Codec.alawToLinear(c))
              val (_, _, _, dec) = graft.multimodal.G711Codec.decodeWav(
                graft.multimodal.G711Codec.encodeWav(8000, 1, samples, mu))
              require(dec.length == len, s"funnel audio drift doc $id")
              var sum = 0L
              var k = 0
              while (k < dec.length) { sum += dec(k); k += 1 }
              ("audio", len.toLong, sum)
            case _ => // video: nf two-block MJPG frames
              val nf = (3 + id % 3).toInt
              val frames = (0 until nf).map { f =>
                val v0 = src((2 * f) % len)
                val v1 = src((2 * f + 1) % len)
                Array.tabulate[Byte](16 * 8)(i =>
                  if (i % 16 < 8) v0 else v1)
              }
              val (_, _, _, dec) = graft.multimodal.AviCodec.decodeMjpg(
                graft.multimodal.AviCodec.encodeMjpg(16, 8, frames, 10))
              require(dec.length == nf, s"funnel video drift doc $id")
              var sum = 0L
              dec.foreach { fr =>
                var p = 0
                while (p < fr.length) { sum += fr(p) & 0xff; p += 1 }
              }
              ("video", nf.toLong, sum)
          }
        }
        .toDF("kind", "units", "checksum")
        .groupBy("kind")
        .agg(count(lit(1)).as("docs"),
          sum(col("units")).as("units"),
          sum(col("checksum")).as("checksum_total"))
        .orderBy("kind")
    }),

    // PDF image MINING under the driver hash. This goes BEYOND the
    // reference's PDF ingest (pdf_spider.py:42-50 only calls
    // page.get_text() — text, never images); a multimodal corpus
    // pipeline needs the image walk too: every doc becomes a
    // born-digital PDF carrying BOTH a Flate text stream and a REAL
    // embedded baseline JPEG (the block-constant strip), and the row
    // reports the text line count AND the extracted image's exact
    // pixel stats — one fixture exercising the skip-for-text and
    // collect-for-images walks against each other. A /Length slip, a
    // dict misbind, or any JPEG defect breaks the hash.
    "q290_pdf_images" -> ((s, dir) => {
      import s.implicits._
      docText(s, dir, length(col("text")) > 0)
        .map { case (id, text) =>
          val bytes = text.getBytes("ISO-8859-1")
          val n = bytes.length
          val w = 8 * n
          val pix = new Array[Byte](w * 8)
          var j = 0
          while (j < n) {
            var y = 0
            while (y < 8) {
              java.util.Arrays.fill(pix, y * w + 8 * j, y * w + 8 * j + 8,
                bytes(j))
              y += 1
            }
            j += 1
          }
          val pdf = graft.ingest.PdfCodec.encodeWithRealJpeg(
            Seq(s"Name: Event $id", text), w, 8, pix)
          val lines = graft.ingest.PdfCodec.decode(pdf)
          val (images, undecoded) =
            graft.ingest.PdfCodec.extractImages(pdf)
          require(lines.size == 2 && images.size == 1 &&
            undecoded.isEmpty,
            s"pdf mining drifted on doc $id: ${lines.size} lines, " +
              s"${images.size} images, ${undecoded.size} undecoded")
          val img = images.head
          val (sum, chk) = pixelChecksum(img.gray)
          (id, lines.size.toLong, img.width.toLong, img.height.toLong,
            sum, chk)
        }
        .toDF("doc_id", "n_lines", "img_w", "img_h", "pix_sum",
          "pos_checksum")
        .orderBy("doc_id")
    }))

  val oracles: Map[String, String] = Map(
    // the q281 closed forms over an embedded-and-mined image
    "q290_pdf_images" ->
      """SELECT doc_id,
        | CAST(2 AS BIGINT) AS n_lines,
        | CAST(8 * length(text) AS BIGINT) AS img_w,
        | CAST(8 AS BIGINT) AS img_h,
        | CAST(64 * list_sum(list_transform(range(1, length(text) + 1),
        |   i -> ord(substr(text, CAST(i AS INTEGER), 1)))) AS BIGINT)
        |   AS pix_sum,
        | CAST(list_sum(list_transform(range(1, length(text) + 1),
        |   i -> ord(substr(text, CAST(i AS INTEGER), 1))
        |      * (1792 * length(text) + 512 * (i - 1) + 288))) AS BIGINT)
        |   AS pos_checksum
        |FROM documents WHERE length(text) > 0
        |ORDER BY doc_id""".stripMargin,

    // pixel math for one constant 8×8 block j of value v in an 8-row
    // image of width 8·len: Σ pix = 64v; Σ (i+1)·pix over the block =
    // v · (1792·len + 512·j + 288)  [ Σ_y Σ_x (y·8len + 8j + x + 1) ]
    "q281_jpeg_decode" ->
      """SELECT doc_id,
        | CAST((doc_id % 4) * 2 AS BIGINT) AS restart_interval,
        | CAST(8 * length(text) AS BIGINT) AS width,
        | CAST(8 AS BIGINT) AS height,
        | CAST(64 * list_sum(list_transform(range(1, length(text) + 1),
        |   i -> ord(substr(text, CAST(i AS INTEGER), 1)))) AS BIGINT)
        |   AS pix_sum,
        | CAST(list_sum(list_transform(range(1, length(text) + 1),
        |   i -> ord(substr(text, CAST(i AS INTEGER), 1))
        |      * (1792 * length(text) + 512 * (i - 1) + 288))) AS BIGINT)
        |   AS pos_checksum
        |FROM documents WHERE doc_id % 3 = 0 AND length(text) > 0
        |ORDER BY doc_id""".stripMargin,

    // pixel truth replayed directly: v(i,y) = (b_i + 3(i-1) + 7y) mod
    // 256 over an 8-row image of width len; position of (i,y) is
    // y·len + i (1-based)
    "q319_png_decode" ->
      """SELECT doc_id,
        | CAST(length(text) AS BIGINT) AS width,
        | CAST(8 AS BIGINT) AS height,
        | CAST(1 + doc_id % 3 AS BIGINT) AS n_idat,
        | CAST(list_sum(list_transform(range(1, length(text) + 1), i ->
        |   list_sum(list_transform(range(0, 8), y ->
        |     (ord(substr(text, CAST(i AS INTEGER), 1)) + 3 * (i - 1)
        |       + 7 * y) % 256)))) AS BIGINT) AS pix_sum,
        | CAST(list_sum(list_transform(range(1, length(text) + 1), i ->
        |   list_sum(list_transform(range(0, 8), y ->
        |     (y * length(text) + i) *
        |     ((ord(substr(text, CAST(i AS INTEGER), 1)) + 3 * (i - 1)
        |       + 7 * y) % 256))))) AS BIGINT) AS pos_checksum
        |FROM documents WHERE doc_id % 3 = 1 AND length(text) > 0
        |ORDER BY doc_id""".stripMargin,

    // frame f: blocks v0 = char((2f) mod len), v1 = char((2f+1) mod len);
    // pix_sum = 64(v0+v1); pos_checksum = 3872·v0 + 4384·v1
    // [ Σ over a 16-wide block b: Σ_y Σ_x (16y + 8b + x + 1) = 3584 +
    //   512b + 288 ]; only even frames are reported
    "q282_mjpg_frames" ->
      """WITH d AS (
        | SELECT doc_id, text, length(text) AS len,
        |  3 + doc_id % 3 AS nf
        | FROM documents WHERE doc_id % 3 = 2 AND length(text) > 1),
        |fr AS (
        | SELECT doc_id, text, len, nf, unnest(range(0, nf)) AS f
        | FROM d),
        |v AS (
        | SELECT doc_id, nf, f,
        |  ord(substr(text, CAST((2 * f) % len + 1 AS INTEGER), 1)) AS v0,
        |  ord(substr(text, CAST((2 * f + 1) % len + 1 AS INTEGER), 1)) AS v1
        | FROM fr WHERE f % 2 = 0)
        |SELECT doc_id, CAST(nf AS BIGINT) AS n_frames,
        | CAST(f AS BIGINT) AS frame_idx,
        | CAST(64 * (v0 + v1) AS BIGINT) AS pix_sum,
        | CAST(3872 * v0 + 4384 * v1 AS BIGINT) AS pos_checksum
        |FROM v ORDER BY doc_id, frame_idx""".stripMargin,

    // µ-law decode of code b: u = 255-b; t = ((u%16)*8+132)*2^((u//16)%8)
    //   - 132; value = -t if u >= 128 else t   (ITU G.711 / Sun g711.c)
    // A-law decode of code b: a = xor(b,85); base = (a%16)*16; seg =
    //   (a//16)%8; t = base+8 if seg=0 else (base+264)<<(seg-1);
    //   value = t if a >= 128 else -t
    "q283_g711_audio" ->
      """WITH s AS (
        | SELECT doc_id, text, length(text) AS len,
        |  doc_id % 2 = 0 AS mu
        | FROM documents WHERE doc_id % 3 = 1 AND length(text) > 0),
        |v AS (
        | SELECT doc_id, mu, len,
        |  list_transform(range(1, len + 1), i ->
        |   CASE WHEN mu THEN
        |    CASE WHEN (255 - ord(substr(text, CAST(i AS INTEGER), 1)))
        |              >= 128
        |     THEN -((((255 - ord(substr(text, CAST(i AS INTEGER), 1)))
        |         % 16) * 8 + 132)
        |        * (1 << (((255 - ord(substr(text, CAST(i AS INTEGER), 1)))
        |            // 16) % 8)) - 132)
        |     ELSE ((((255 - ord(substr(text, CAST(i AS INTEGER), 1)))
        |         % 16) * 8 + 132)
        |        * (1 << (((255 - ord(substr(text, CAST(i AS INTEGER), 1)))
        |            // 16) % 8)) - 132)
        |    END
        |   ELSE
        |    CASE WHEN xor(ord(substr(text, CAST(i AS INTEGER), 1)), 85)
        |              >= 128
        |     THEN (CASE WHEN ((xor(ord(substr(text, CAST(i AS INTEGER), 1)),
        |            85) // 16) % 8) = 0
        |       THEN (xor(ord(substr(text, CAST(i AS INTEGER), 1)), 85) % 16)
        |            * 16 + 8
        |       ELSE ((xor(ord(substr(text, CAST(i AS INTEGER), 1)), 85) % 16)
        |            * 16 + 264)
        |          * (1 << (((xor(ord(substr(text, CAST(i AS INTEGER), 1)),
        |              85) // 16) % 8) - 1)) END)
        |     ELSE -(CASE WHEN ((xor(ord(substr(text, CAST(i AS INTEGER), 1)),
        |            85) // 16) % 8) = 0
        |       THEN (xor(ord(substr(text, CAST(i AS INTEGER), 1)), 85) % 16)
        |            * 16 + 8
        |       ELSE ((xor(ord(substr(text, CAST(i AS INTEGER), 1)), 85) % 16)
        |            * 16 + 264)
        |          * (1 << (((xor(ord(substr(text, CAST(i AS INTEGER), 1)),
        |              85) // 16) % 8) - 1)) END)
        |    END
        |   END) AS vals
        | FROM s)
        |SELECT doc_id,
        | CASE WHEN mu THEN 'ulaw' ELSE 'alaw' END AS law,
        | CAST(len AS BIGINT) AS n_samples,
        | CAST(list_sum(vals) AS BIGINT) AS amp_sum,
        | CAST(list_sum(list_transform(range(1, len + 1),
        |   i -> i * vals[CAST(i AS INTEGER)])) AS BIGINT) AS pos_checksum,
        | CAST(list_max(list_transform(vals, x -> abs(x))) AS BIGINT)
        |   AS peak_abs
        |FROM v ORDER BY doc_id""".stripMargin,

    // orientation o by (doc_id%12)/3 over {1,3,6,8}; transformed-image
    // position weights per block j (0-based; i = j+1 is the 1-based SQL
    // index, L = len):  o=1: 1792L+512j+288   o=3: 1792L+512(L-1-j)+288
    //                   o=6: 4096j+2080       o=8: 4096(L-1-j)+2080
    // (derivations pinned against brute force in ExifCodecSpec)
    "q286_exif_normalize" ->
      """WITH d AS (
        | SELECT doc_id, text, length(text) AS len,
        |  CASE (doc_id % 12) // 3 WHEN 0 THEN 1 WHEN 1 THEN 3
        |    WHEN 2 THEN 6 ELSE 8 END AS o
        | FROM documents WHERE doc_id % 3 = 0 AND length(text) > 0)
        |SELECT doc_id,
        | CASE WHEN doc_id % 2 = 1 THEN 'MM' ELSE 'II' END AS byte_order,
        | CAST(o AS BIGINT) AS orientation,
        | 'GraftCam ' || CAST(doc_id % 5 AS VARCHAR) AS make,
        | 'M' || CAST(doc_id % 7 AS VARCHAR) AS model,
        | '2026:08:16 00:00:' || lpad(CAST(doc_id % 60 AS VARCHAR), 2, '0')
        |   AS taken_at,
        | CAST(CASE WHEN o IN (6, 8) THEN 8 ELSE 8 * len END AS BIGINT)
        |   AS out_w,
        | CAST(CASE WHEN o IN (6, 8) THEN 8 * len ELSE 8 END AS BIGINT)
        |   AS out_h,
        | CAST(64 * list_sum(list_transform(range(1, len + 1),
        |   i -> ord(substr(text, CAST(i AS INTEGER), 1)))) AS BIGINT)
        |   AS pix_sum,
        | CAST(list_sum(list_transform(range(1, len + 1),
        |   i -> ord(substr(text, CAST(i AS INTEGER), 1)) *
        |    CASE o
        |     WHEN 1 THEN 1792 * len + 512 * (i - 1) + 288
        |     WHEN 3 THEN 1792 * len + 512 * (len - i) + 288
        |     WHEN 6 THEN 4096 * (i - 1) + 2080
        |     ELSE 4096 * (len - i) + 2080
        |    END)) AS BIGINT) AS pos_checksum
        |FROM d ORDER BY doc_id""".stripMargin,

    // three arithmetic arms, one rollup: image = 64·Σord per block
    // (JPEG exact subspace), audio = Σ G.711 decode values (the q283
    // bit-field formulas), video = Σ over all nf frames of 64(v0+v1)
    "q289_media_funnel" ->
      """WITH base AS (
        | SELECT doc_id, text, length(text) AS len, doc_id % 3 AS k
        | FROM documents WHERE length(text) > 1),
        |img AS (
        | SELECT 'image' AS kind, CAST(len AS BIGINT) AS units,
        |  CAST(64 * list_sum(list_transform(range(1, len + 1),
        |   i -> ord(substr(text, CAST(i AS INTEGER), 1)))) AS BIGINT)
        |   AS checksum
        | FROM base WHERE k = 0),
        |aud AS (
        | SELECT 'audio' AS kind, CAST(len AS BIGINT) AS units,
        |  CAST(list_sum(list_transform(range(1, len + 1), i ->
        |   CASE WHEN doc_id % 2 = 0 THEN
        |    CASE WHEN (255 - ord(substr(text, CAST(i AS INTEGER), 1)))
        |              >= 128
        |     THEN -((((255 - ord(substr(text, CAST(i AS INTEGER), 1)))
        |         % 16) * 8 + 132)
        |        * (1 << (((255 - ord(substr(text, CAST(i AS INTEGER), 1)))
        |            // 16) % 8)) - 132)
        |     ELSE ((((255 - ord(substr(text, CAST(i AS INTEGER), 1)))
        |         % 16) * 8 + 132)
        |        * (1 << (((255 - ord(substr(text, CAST(i AS INTEGER), 1)))
        |            // 16) % 8)) - 132)
        |    END
        |   ELSE
        |    CASE WHEN xor(ord(substr(text, CAST(i AS INTEGER), 1)), 85)
        |              >= 128
        |     THEN (CASE WHEN ((xor(ord(substr(text, CAST(i AS INTEGER), 1)),
        |            85) // 16) % 8) = 0
        |       THEN (xor(ord(substr(text, CAST(i AS INTEGER), 1)), 85) % 16)
        |            * 16 + 8
        |       ELSE ((xor(ord(substr(text, CAST(i AS INTEGER), 1)), 85) % 16)
        |            * 16 + 264)
        |          * (1 << (((xor(ord(substr(text, CAST(i AS INTEGER), 1)),
        |              85) // 16) % 8) - 1)) END)
        |     ELSE -(CASE WHEN ((xor(ord(substr(text, CAST(i AS INTEGER), 1)),
        |            85) // 16) % 8) = 0
        |       THEN (xor(ord(substr(text, CAST(i AS INTEGER), 1)), 85) % 16)
        |            * 16 + 8
        |       ELSE ((xor(ord(substr(text, CAST(i AS INTEGER), 1)), 85) % 16)
        |            * 16 + 264)
        |          * (1 << (((xor(ord(substr(text, CAST(i AS INTEGER), 1)),
        |              85) // 16) % 8) - 1)) END)
        |    END
        |   END)) AS BIGINT) AS checksum
        | FROM base WHERE k = 1),
        |vid AS (
        | SELECT 'video' AS kind, CAST(3 + doc_id % 3 AS BIGINT) AS units,
        |  CAST(list_sum(list_transform(range(0, 3 + doc_id % 3), f ->
        |   64 * (ord(substr(text, CAST((2 * f) % len + 1 AS INTEGER), 1))
        |    + ord(substr(text, CAST((2 * f + 1) % len + 1 AS INTEGER),
        |        1))))) AS BIGINT) AS checksum
        | FROM base WHERE k = 2),
        |u AS (
        | SELECT * FROM img UNION ALL SELECT * FROM aud
        | UNION ALL SELECT * FROM vid)
        |SELECT kind, CAST(count(*) AS BIGINT) AS docs,
        | CAST(sum(units) AS BIGINT) AS units,
        | CAST(sum(checksum) AS BIGINT) AS checksum_total
        |FROM u GROUP BY kind ORDER BY kind""".stripMargin,

    // first_offset = the full tag size: 10 (header) + per text frame
    // (10 hdr + 1 encoding byte + payload), payload bytes by encoding:
    // latin-1/UTF-8 = chars (ASCII input), UTF-16+BOM = 2 + 2·chars,
    // UTF-16BE = 2·chars. frame_bytes = the published Layer III length
    // table over the first two characters.
    "q287_id3_tags" ->
      """WITH br AS (SELECT [0,32,40,48,56,64,80,96,112,128,160,192,224,
        |  256,320] AS t),
        |d AS (
        | SELECT doc_id, text,
        |  (doc_id % 12) // 3 AS enc,
        |  CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 4 END AS ver,
        |  'Track ' || CAST(doc_id AS VARCHAR) AS title,
        |  regexp_replace(substr(text, 1, 12), '[^\x00-\x7F]', '?', 'g')
        |    AS artist,
        |  'Album ' || CAST(doc_id % 9 AS VARCHAR) AS album
        | FROM documents WHERE doc_id % 3 = 1 AND length(text) >= 12),
        |sz AS (
        | SELECT *,
        |  CASE enc WHEN 1 THEN 2 + 2 * length(title)
        |    WHEN 2 THEN 2 * length(title) ELSE length(title) END AS pt,
        |  CASE enc WHEN 1 THEN 2 + 2 * 12
        |    WHEN 2 THEN 2 * 12 ELSE 12 END AS pa,
        |  CASE enc WHEN 1 THEN 2 + 2 * length(album)
        |    WHEN 2 THEN 2 * length(album) ELSE length(album) END AS pl
        | FROM d)
        |SELECT doc_id,
        | CAST(ver AS BIGINT) AS id3_version,
        | CAST(enc AS BIGINT) AS encoding,
        | title, artist, album,
        | CAST(10 + 3 * 11 + pt + pa + pl AS BIGINT) AS first_offset,
        | CAST(144000 * t[ord(substr(text, 1, 1)) % 14 + 2] // 44100
        |    + 144000 * t[ord(substr(text, 2, 1)) % 14 + 2] // 44100
        |    + 1 AS BIGINT) AS frame_bytes
        |FROM sz, br ORDER BY doc_id""".stripMargin,

    // chunk k (char b): slice NAL = 2 + b%24 bytes (header + payload),
    // IDR when b%5=0; chunk 1 additionally carries SPS (7) + PPS (4);
    // keyframe checksum sums 1-based IDR chunk positions
    "q296_avi_h264_census" ->
      """WITH d AS (
        | SELECT doc_id, text, length(text) AS len
        | FROM documents WHERE doc_id % 3 = 2 AND length(text) > 0)
        |SELECT doc_id, 'H264' AS fourcc,
        | CAST(len AS BIGINT) AS n_chunks,
        | CAST(len + 2 AS BIGINT) AS n_nals,
        | CAST(len(list_filter(range(1, len + 1), i ->
        |   ord(substr(text, CAST(i AS INTEGER), 1)) % 5 = 0))
        |  AS BIGINT) AS n_idr,
        | CAST(list_sum(list_transform(range(1, len + 1), i ->
        |   CASE WHEN ord(substr(text, CAST(i AS INTEGER), 1)) % 5 = 0
        |    THEN i ELSE 0 END)) AS BIGINT) AS keyframe_checksum,
        | CAST(11 + list_sum(list_transform(range(1, len + 1), i ->
        |   ord(substr(text, CAST(i AS INTEGER), 1)) % 24 + 2))
        |  AS BIGINT) AS nal_bytes
        |FROM d ORDER BY doc_id""".stripMargin,

    // box tree is structurally constant (17 boxes — r14 adds the
    // mandatory stsc); mdat = 8-byte header + one sample per char of
    // b%64+1 bytes; duration_ms = len·delta at timescale 1000
    "q298_mp4_boxes" ->
      """WITH d AS (
        | SELECT doc_id, text, length(text) AS len
        | FROM documents WHERE length(text) > 0)
        |SELECT doc_id, 'isom' AS brand,
        | CASE WHEN doc_id % 2 = 0 THEN 'vide' ELSE 'soun' END AS handler,
        | CASE WHEN doc_id % 2 = 0 THEN 'avc1' ELSE 'mp4a' END AS codec,
        | CAST(17 AS BIGINT) AS n_boxes,
        | CAST(len AS BIGINT) AS n_samples,
        | CAST(len * CASE WHEN doc_id % 2 = 0 THEN 40 ELSE 23 END
        |  AS BIGINT) AS duration_ms,
        | CAST(8 + list_sum(list_transform(range(1, len + 1), i ->
        |   ord(substr(text, CAST(i AS INTEGER), 1)) % 64 + 1))
        |  AS BIGINT) AS mdat_bytes
        |FROM d ORDER BY doc_id""".stripMargin,

    // geometry from id, one IDAT of b%64+1 bytes per char, IHDR+IEND
    // bracket the chunk count
    "q316_png_census" ->
      """WITH d AS (
        | SELECT doc_id, text, length(text) AS len
        | FROM documents WHERE length(text) > 0)
        |SELECT doc_id,
        | CAST(doc_id % 512 + 16 AS BIGINT) AS width,
        | CAST(doc_id % 256 + 16 AS BIGINT) AS height,
        | CAST(8 AS BIGINT) AS bit_depth,
        | CAST(CASE doc_id % 3 WHEN 0 THEN 0 WHEN 1 THEN 2
        |   ELSE 6 END AS BIGINT) AS color_type,
        | CAST(len + 2 AS BIGINT) AS n_chunks,
        | CAST(len AS BIGINT) AS n_idat,
        | CAST(list_sum(list_transform(range(1, len + 1), i ->
        |   ord(substr(text, CAST(i AS INTEGER), 1)) % 64 + 1))
        |  AS BIGINT) AS idat_bytes
        |FROM d ORDER BY doc_id""".stripMargin,

    // member k holds b%128+1 bytes; exactly the id%7==3 docs carry
    // one local-header differential
    "q314_zip_census" ->
      """WITH d AS (
        | SELECT doc_id, text, length(text) AS len
        | FROM documents WHERE length(text) > 0),
        |pg AS (
        | SELECT doc_id, len, unnest(range(1, len + 1)) AS i, text
        | FROM d),
        |a AS (
        | SELECT doc_id, len, i,
        |  ord(substr(text, CAST(i AS INTEGER), 1)) AS b
        | FROM pg)
        |SELECT doc_id,
        | CAST(max(len) AS BIGINT) AS n_members,
        | CAST(sum(b % 128 + 1) AS BIGINT) AS data_bytes,
        | CAST(CASE WHEN doc_id % 7 = 3 THEN 1 ELSE 0 END AS BIGINT)
        |  AS n_mismatch,
        | md5(string_agg(
        |   CASE WHEN i = 1 THEN 'm0.bin'
        |        ELSE ';m' || CAST(i - 1 AS VARCHAR) || '.bin' END,
        |   '' ORDER BY i)) AS names_md5
        |FROM a GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // clusters hold 8 chars each; per char b the lacing mode is b%4
    // (0 none: 1 frame of b%64+1; 1 Xiph / 3 EBML: b%3+2 frames of
    // (b+j)%48+1 resp. (b+7j)%48+1; 2 fixed: b%3+2 equal frames of
    // b%48+1) — frame bytes EXCLUDE the lace size tables
    "q313_webm_census" ->
      """WITH d AS (
        | SELECT doc_id, text, length(text) AS len
        | FROM documents WHERE length(text) > 0),
        |pg AS (
        | SELECT doc_id, len, unnest(range(1, len + 1)) AS i, text
        | FROM d),
        |a AS (
        | SELECT doc_id, len, i,
        |  ord(substr(text, CAST(i AS INTEGER), 1)) AS b
        | FROM pg),
        |f AS (
        | SELECT doc_id, len, i, b,
        |  CASE WHEN b % 4 = 0 THEN 1 ELSE b % 3 + 2 END AS nf,
        |  CASE b % 4
        |   WHEN 0 THEN b % 64 + 1
        |   WHEN 1 THEN list_sum(list_transform(range(0, b % 3 + 2),
        |     j -> (b + j) % 48 + 1))
        |   WHEN 2 THEN (b % 3 + 2) * (b % 48 + 1)
        |   ELSE list_sum(list_transform(range(0, b % 3 + 2),
        |     j -> (b + 7 * j) % 48 + 1))
        |  END AS fb
        | FROM a)
        |SELECT doc_id, 'webm' AS doc_type,
        | CAST(2 AS BIGINT) AS n_tracks,
        | CASE WHEN doc_id % 2 = 0 THEN 'V_VP9' ELSE 'V_AV1' END
        |  AS video_codec,
        | CASE WHEN doc_id % 3 != 0 THEN 'A_OPUS' ELSE 'A_VORBIS' END
        |  AS audio_codec,
        | CAST((max(len) + 7) // 8 AS BIGINT) AS n_clusters,
        | CAST(max(len) AS BIGINT) AS n_blocks,
        | CAST(sum(nf) AS BIGINT) AS n_frames,
        | CAST(sum(fb) AS BIGINT) AS frame_bytes
        |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // char b: dir (size 0) on b%16==0, else file of b%200+1 bytes;
    // member k's LOGICAL name by class (PAX/GNU overrides applied):
    // 1 → shard/xxx…/p{k}.bin, 2 → shard/yyy…/g{k}.bin,
    // 3 → shard/s{k}.bin, else shard/m{k}.bin / shard/d{k}/
    "q312_tar_census" ->
      """WITH d AS (
        | SELECT doc_id, text, length(text) AS len
        | FROM documents WHERE length(text) > 0),
        |pg AS (
        | SELECT doc_id, len, unnest(range(1, len + 1)) AS i, text
        | FROM d),
        |a AS (
        | SELECT doc_id, len, i,
        |  ord(substr(text, CAST(i AS INTEGER), 1)) AS b
        | FROM pg),
        |n AS (
        | SELECT doc_id, len, i, b,
        |  CASE b % 16
        |   WHEN 0 THEN 'shard/d' || CAST(i - 1 AS VARCHAR) || '/'
        |   WHEN 1 THEN 'shard/' || repeat('x', 95) || '/p' ||
        |     CAST(i - 1 AS VARCHAR) || '.bin'
        |   WHEN 2 THEN 'shard/' || repeat('y', 95) || '/g' ||
        |     CAST(i - 1 AS VARCHAR) || '.bin'
        |   WHEN 3 THEN 'shard/s' || CAST(i - 1 AS VARCHAR) || '.bin'
        |   ELSE 'shard/m' || CAST(i - 1 AS VARCHAR) || '.bin'
        |  END AS name
        | FROM a)
        |SELECT doc_id,
        | CAST(max(len) AS BIGINT) AS n_members,
        | CAST(sum(CASE WHEN b % 16 != 0 THEN 1 ELSE 0 END) AS BIGINT)
        |  AS n_files,
        | CAST(sum(CASE WHEN b % 16 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |  AS n_dirs,
        | CAST(sum(CASE WHEN b % 16 = 0 THEN 0 ELSE b % 200 + 1 END)
        |  AS BIGINT) AS data_bytes,
        | CAST(sum(CASE WHEN b % 16 = 0 THEN 0
        |   ELSE i * (b % 200 + 1) END) AS BIGINT) AS size_checksum,
        | md5(string_agg(name || ';', '' ORDER BY i)) AS names_md5
        |FROM n GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // q310's geometry arithmetic + q296's NAL arithmetic, no SPS/PPS
    // riding the samples (they live in avcC)
    "q311_mp4_video_geometry" ->
      """WITH d AS (
        | SELECT doc_id, text, length(text) AS len
        | FROM documents WHERE length(text) > 0)
        |SELECT doc_id,
        | CAST(CASE doc_id % 3 WHEN 0 THEN 66 WHEN 1 THEN 77
        |   ELSE 88 END AS BIGINT) AS profile,
        | CAST(10 + (doc_id % 5) * 10 AS BIGINT) AS level,
        | CAST((doc_id % 8 + 1) * 16 -
        |   CASE WHEN doc_id % 4 = 0 THEN 2 ELSE 0 END AS BIGINT)
        |  AS width,
        | CAST((doc_id % 6 + 1) * 16 -
        |   CASE WHEN doc_id % 4 = 0 THEN 2 ELSE 0 END AS BIGINT)
        |  AS height,
        | CAST(len AS BIGINT) AS n_nals,
        | CAST(list_sum(list_transform(range(1, len + 1), i ->
        |   CASE WHEN ord(substr(text, CAST(i AS INTEGER), 1)) % 5 = 0
        |    THEN 1 ELSE 0 END)) AS BIGINT) AS n_idr,
        | CAST(list_sum(list_transform(range(1, len + 1), i ->
        |   ord(substr(text, CAST(i AS INTEGER), 1)) % 24 + 2))
        |  AS BIGINT) AS nal_bytes
        |FROM d ORDER BY doc_id""".stripMargin,

    // geometry replays from id arithmetic: (id%8+1)·16 × (id%6+1)·16
    // minus 2 per cropped edge on id%4==0; slice bytes from chars
    "q310_h264_geometry" ->
      """WITH d AS (
        | SELECT doc_id, text, length(text) AS len
        | FROM documents WHERE length(text) > 0)
        |SELECT doc_id,
        | CAST(CASE doc_id % 3 WHEN 0 THEN 66 WHEN 1 THEN 77
        |   ELSE 88 END AS BIGINT) AS profile,
        | CAST(10 + (doc_id % 5) * 10 AS BIGINT) AS level,
        | CAST((doc_id % 8 + 1) * 16 -
        |   CASE WHEN doc_id % 4 = 0 THEN 2 ELSE 0 END AS BIGINT)
        |  AS width,
        | CAST((doc_id % 6 + 1) * 16 -
        |   CASE WHEN doc_id % 4 = 0 THEN 2 ELSE 0 END AS BIGINT)
        |  AS height,
        | CAST(len + 1 AS BIGINT) AS n_nals,
        | CAST(list_sum(list_transform(range(1, len + 1), i ->
        |   ord(substr(text, CAST(i AS INTEGER), 1)) % 24 + 2))
        |  AS BIGINT) AS slice_bytes
        |FROM d ORDER BY doc_id""".stripMargin,

    // char b plants codec b%4 (jpx/jbig2/ccitt-g4/flate), geometry
    // (b%32+1)×(b%16+1), payload b%64+9, bpc 0/1/1/8 by codec
    "q307_pdf_image_census" ->
      """WITH d AS (
        | SELECT doc_id, text, length(text) AS len
        | FROM documents WHERE length(text) > 0),
        |pg AS (
        | SELECT doc_id, len, text, unnest(range(1, len + 1)) AS i
        | FROM d),
        |a AS (
        | SELECT doc_id, len, i,
        |  ord(substr(text, CAST(i AS INTEGER), 1)) AS b
        | FROM pg)
        |SELECT doc_id,
        | CAST(max(len) AS BIGINT) AS n_images,
        | CAST(sum(CASE WHEN b % 4 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |  AS n_jpx,
        | CAST(sum(CASE WHEN b % 4 = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |  AS n_jbig2,
        | CAST(sum(CASE WHEN b % 4 = 2 THEN 1 ELSE 0 END) AS BIGINT)
        |  AS n_ccitt_g4,
        | CAST(sum(CASE WHEN b % 4 = 3 THEN 1 ELSE 0 END) AS BIGINT)
        |  AS n_flate,
        | CAST(sum(i * ((b % 32 + 1) * 100 + b % 16 + 1)) AS BIGINT)
        |  AS dims_checksum,
        | CAST(sum(b % 64 + 9) AS BIGINT) AS payload_bytes,
        | CAST(sum(CASE b % 4 WHEN 1 THEN 1 WHEN 2 THEN 1
        |   WHEN 3 THEN 8 ELSE 0 END) AS BIGINT) AS bpc_sum
        |FROM a GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // every count replays from text arithmetic: video docs carry
    // len+2 NALs (SPS 7 B + PPS 4 B ride sample 0) of b%24+2 bytes
    // each, IDR on b%5==0; audio docs one ADTS frame per char of
    // b%32+8 bytes, profile b%4 (key = AAC-LC = 1); chunks hold
    // id%4+1 samples
    "q305_mp4_sample_census" ->
      """WITH d AS (
        | SELECT doc_id, text, length(text) AS len,
        |  doc_id % 4 + 1 AS csize
        | FROM documents WHERE length(text) > 0)
        |SELECT doc_id,
        | CASE WHEN doc_id % 2 = 0 THEN 'avc1' ELSE 'mp4a' END AS codec,
        | CAST(len AS BIGINT) AS n_samples,
        | CAST((len + csize - 1) // csize AS BIGINT) AS n_chunks,
        | CAST(CASE WHEN doc_id % 2 = 0 THEN len + 2 ELSE len END
        |  AS BIGINT) AS n_units,
        | CAST(list_sum(list_transform(range(1, len + 1), i ->
        |   CASE WHEN doc_id % 2 = 0 THEN
        |     CASE WHEN ord(substr(text, CAST(i AS INTEGER), 1)) % 5 = 0
        |       THEN 1 ELSE 0 END
        |   ELSE
        |     CASE WHEN ord(substr(text, CAST(i AS INTEGER), 1)) % 4 = 1
        |       THEN 1 ELSE 0 END END)) AS BIGINT) AS n_key,
        | CAST(CASE WHEN doc_id % 2 = 0 THEN 11 ELSE 0 END +
        |  list_sum(list_transform(range(1, len + 1), i ->
        |   CASE WHEN doc_id % 2 = 0
        |    THEN ord(substr(text, CAST(i AS INTEGER), 1)) % 24 + 2
        |    ELSE ord(substr(text, CAST(i AS INTEGER), 1)) % 32 + 8
        |   END)) AS BIGINT) AS unit_bytes
        |FROM d ORDER BY doc_id""".stripMargin,

    // record k (char b): payload = status line (17 B for 200, 24 for
    // 404) + "Content-Length: N\r\n\r\n" (20 + digits) + body
    // (b%128+1); warcinfo payload fixed 17 B
    "q299_warc_census" ->
      """WITH d AS (
        | SELECT doc_id, text, length(text) AS len
        | FROM documents WHERE length(text) > 0),
        |v AS (
        | SELECT doc_id, len,
        |  list_transform(range(1, len + 1), i ->
        |   ord(substr(text, CAST(i AS INTEGER), 1))) AS o
        | FROM d)
        |SELECT doc_id,
        | CAST(len + 1 AS BIGINT) AS n_records,
        | CAST(len AS BIGINT) AS n_responses,
        | CAST(len(list_filter(o, b -> b % 10 = 0)) AS BIGINT) AS n_404,
        | CAST(17 + list_sum(list_transform(o, b ->
        |   CASE WHEN b % 10 = 0 THEN 24 ELSE 17 END + 20 +
        |   length(CAST(b % 128 + 1 AS VARCHAR)) + b % 128 + 1))
        |  AS BIGINT) AS content_bytes,
        | CAST(list_sum(list_transform(o, b ->
        |   CASE WHEN b % 10 = 0 THEN 404 ELSE 200 END))
        |  AS BIGINT) AS status_checksum
        |FROM v ORDER BY doc_id""".stripMargin,

    // quarantine truth from id arithmetic (the q293 device, media
    // edition): exactly the doc_id % 7 == 3 blobs are truncated;
    // surviving unit counts are the q289 per-kind arithmetic
    "q297_media_quarantine" ->
      """SELECT doc_id,
        | CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |      ELSE 'video' END AS kind,
        | CASE WHEN doc_id % 7 = 3 THEN 'quarantined' ELSE 'ok' END
        |   AS status,
        | CAST(CASE WHEN doc_id % 7 = 3 THEN 0
        |      WHEN doc_id % 3 = 2 THEN 3 + doc_id % 3
        |      ELSE length(text) END AS BIGINT) AS units
        |FROM documents WHERE length(text) > 1
        |ORDER BY doc_id""".stripMargin,

    // frame k (char b): profile = b%4, channels = b%7+1, frame bytes =
    // 8 + b%32; ID3v2 prefix = 10 + 11·(doc_id%4) when doc_id%4 != 0;
    // sample rate = 14496-3 table at (doc_id%5)+2 (0-based)
    "q294_aac_scan" ->
      """WITH sr AS (SELECT [96000,88200,64000,48000,44100,32000,24000,
        |  22050,16000,12000,11025,8000,7350] AS t),
        |d AS (
        | SELECT doc_id, text, length(text) AS len,
        |  CASE WHEN doc_id % 4 = 0 THEN 0
        |       ELSE 10 + 11 * (doc_id % 4) END AS id3
        | FROM documents WHERE doc_id % 3 = 1 AND length(text) > 0)
        |SELECT doc_id,
        | CAST(len AS BIGINT) AS n_frames,
        | CAST(id3 AS BIGINT) AS first_offset,
        | CAST(list_sum(list_transform(range(1, len + 1), i ->
        |   8 + ord(substr(text, CAST(i AS INTEGER), 1)) % 32))
        |  AS BIGINT) AS total_bytes,
        | CAST(list_sum(list_transform(range(1, len + 1), i ->
        |   i * (ord(substr(text, CAST(i AS INTEGER), 1)) % 4)))
        |  AS BIGINT) AS profile_checksum,
        | CAST(list_sum(list_transform(range(1, len + 1), i ->
        |   i * (ord(substr(text, CAST(i AS INTEGER), 1)) % 7 + 1)))
        |  AS BIGINT) AS channel_checksum,
        | CAST(len * 1024 * 1000 //
        |   t[CAST(doc_id % 5 + 3 AS INTEGER)] AS BIGINT) AS duration_ms
        |FROM d, sr ORDER BY doc_id""".stripMargin,

    // NAL k (char b): type = 5 if b%5=0 else 1, bytes = 1 + b%24 + 1;
    // prefix SPS (7 bytes, type 7) + PPS (4 bytes, type 8); checksum
    // weights are 1-based NAL positions (SPS=1, PPS=2, slices 3...)
    "q295_h264_scan" ->
      """WITH d AS (
        | SELECT doc_id, text, length(text) AS len
        | FROM documents WHERE doc_id % 3 = 2 AND length(text) > 0),
        |v AS (
        | SELECT doc_id, len,
        |  list_transform(range(1, len + 1), i ->
        |   CASE WHEN ord(substr(text, CAST(i AS INTEGER), 1)) % 5 = 0
        |    THEN 5 ELSE 1 END) AS typ,
        |  list_transform(range(1, len + 1), i ->
        |   ord(substr(text, CAST(i AS INTEGER), 1)) % 24 + 2) AS nb
        | FROM d)
        |SELECT doc_id,
        | CAST(len + 2 AS BIGINT) AS n_nals,
        | CAST(len(list_filter(typ, t -> t = 5)) AS BIGINT) AS n_idr,
        | CAST(len(list_filter(typ, t -> t = 1)) AS BIGINT) AS n_slices,
        | CAST(7 + 4 + list_sum(nb) AS BIGINT) AS total_bytes,
        | CAST(7 + 16 + list_sum(list_transform(range(1, len + 1), i ->
        |   (i + 2) * typ[CAST(i AS INTEGER)])) AS BIGINT)
        |   AS type_checksum,
        | CAST(6 + list_sum(list_transform(typ, t ->
        |   CASE WHEN t = 5 THEN 3 ELSE 2 END)) AS BIGINT)
        |   AS ref_checksum
        |FROM v ORDER BY doc_id""".stripMargin,

    // frame k (char b): bitrate = BR[b % 14 + 1], padded = (b//16) % 2,
    // frame_bytes = 144000·bitrate // 44100 + padded; ID3v2 prefix is
    // 10 + 13·(doc_id % 5) bytes when doc_id % 5 != 0
    "q284_mp3_scan" ->
      """WITH br AS (SELECT [0,32,40,48,56,64,80,96,112,128,160,192,224,
        |  256,320] AS t),
        |d AS (
        | SELECT doc_id, text, length(text) AS len,
        |  CASE WHEN doc_id % 5 = 0 THEN 0
        |       ELSE 10 + 13 * (doc_id % 5) END AS id3
        | FROM documents WHERE doc_id % 3 = 1 AND length(text) > 0),
        |v AS (
        | SELECT doc_id, len, id3,
        |  list_transform(range(1, len + 1), i ->
        |   t[ord(substr(text, CAST(i AS INTEGER), 1)) % 14 + 2]) AS kbps,
        |  list_transform(range(1, len + 1), i ->
        |   (ord(substr(text, CAST(i AS INTEGER), 1)) // 16) % 2) AS pad
        | FROM d, br)
        |SELECT doc_id,
        | CAST(len AS BIGINT) AS n_frames,
        | CAST(id3 AS BIGINT) AS first_offset,
        | CAST(list_sum(list_transform(range(1, len + 1), i ->
        |   144000 * kbps[CAST(i AS INTEGER)] // 44100
        |     + pad[CAST(i AS INTEGER)])) AS BIGINT) AS total_bytes,
        | CAST(list_sum(list_transform(range(1, len + 1), i ->
        |   i * kbps[CAST(i AS INTEGER)])) AS BIGINT) AS bitrate_checksum,
        | CAST(list_sum(pad) AS BIGINT) AS pad_count,
        | CAST(len * 1152 * 1000 // 44100 AS BIGINT) AS duration_ms
        |FROM v ORDER BY doc_id""".stripMargin)
}
