package graft.multimodal

import java.nio.{ByteBuffer, ByteOrder}

/** Real video decode for the BinaryOps seam — uncompressed-DIB AVI
  * (RIFF 'AVI ' per the published OpenDML/VfW layout), parsed with zero
  * dependencies and no egress, completing the media trio next to
  * ImageCodec (image) and WavCodec (audio). Uncompressed BI_RGB frames
  * ('00db' chunks) are the one mainstream video payload that is
  * LOSSLESS, which is what lets the driver's integer checksum oracles
  * hold bit-for-bit through a real container roundtrip. Motion JPEG
  * ('00dc' chunks, biCompression 'MJPG') decodes via the in-engine
  * JpegCodec — see encodeMjpg/decodeMjpg below — whose block-constant
  * subspace keeps the same exact-oracle discipline through a genuinely
  * compressed payload; H.264 and every other fourcc still refuse
  * loudly, the perimeter stance of PdfCodec's filter set.
  *
  * The DIB payload carries the two classic traps and the decoder must
  * handle both or the driver hash breaks: rows are stored BOTTOM-UP,
  * and every row is padded to a 4-byte boundary (stride = ⌈3w/4⌉·4 for
  * 24-bit BGR). Decode emits top-down, padding-stripped BGR bytes.
  *
  * Structure written/walked: RIFF('AVI ') → LIST(hdrl){ avih(56),
  * LIST(strl){ strh(56,'vids'), strf(BITMAPINFOHEADER 40) } } →
  * LIST(movi){ 00db… }. idx1 is optional per spec and not written
  * (AVIF_HASINDEX unset). Unknown chunks are skipped by declared size;
  * anything outside the perimeter (non-'vids' first stream, compressed
  * biCompression, bit depth ≠ 24) throws loudly with the detail. */
object AviCodec {

  private def stride(w: Int): Int = ((3 * w + 3) / 4) * 4

  /** Encode top-down BGR frames (each 3·w·h bytes) as uncompressed AVI. */
  def encodeDib24(w: Int, h: Int, frames: Seq[Array[Byte]], fps: Int)
      : Array[Byte] = {
    require(w > 0 && h > 0 && fps > 0, "bad geometry/rate")
    frames.foreach(f => require(f.length == 3 * w * h,
      s"frame has ${f.length} bytes, want ${3 * w * h}"))
    val st = stride(w)
    val frameBytes = st * h
    val moviBody = 4 + frames.size * (8 + frameBytes) // 'movi' + chunks
    val hdrlBody = 4 + (8 + 56) + (12 + (8 + 56) + (8 + 40))
    val riffBody = 4 + (12 + hdrlBody - 4) + (12 + moviBody - 4)
    val buf = ByteBuffer.allocate(8 + riffBody).order(ByteOrder.LITTLE_ENDIAN)
    def tag(s: String): Unit = buf.put(s.getBytes("US-ASCII"))
    tag("RIFF"); buf.putInt(riffBody); tag("AVI ")
    // ---- LIST hdrl
    tag("LIST"); buf.putInt(hdrlBody); tag("hdrl")
    tag("avih"); buf.putInt(56)
    buf.putInt(1000000 / fps) // microseconds per frame
    buf.putInt(frameBytes * fps) // max bytes/sec
    buf.putInt(0) // padding granularity
    buf.putInt(0) // flags (no AVIF_HASINDEX: idx1 not written)
    buf.putInt(frames.size)
    buf.putInt(0) // initial frames
    buf.putInt(1) // streams
    buf.putInt(frameBytes)
    buf.putInt(w); buf.putInt(h)
    buf.putInt(0); buf.putInt(0); buf.putInt(0); buf.putInt(0) // dwReserved[4]
    //   -- LIST strl
    tag("LIST"); buf.putInt(4 + (8 + 56) + (8 + 40)); tag("strl")
    tag("strh"); buf.putInt(56)
    tag("vids"); tag("DIB ")
    buf.putInt(0) // flags
    buf.putShort(0); buf.putShort(0) // priority, language
    buf.putInt(0) // initial frames
    buf.putInt(1); buf.putInt(fps) // scale, rate -> fps
    buf.putInt(0) // start
    buf.putInt(frames.size) // length in frames
    buf.putInt(frameBytes) // suggested buffer size
    buf.putInt(-1) // quality
    buf.putInt(0) // sample size (varies)
    buf.putShort(0); buf.putShort(0); buf.putShort(w.toShort)
    buf.putShort(h.toShort) // rcFrame
    tag("strf"); buf.putInt(40) // BITMAPINFOHEADER
    buf.putInt(40); buf.putInt(w); buf.putInt(h)
    buf.putShort(1); buf.putShort(24) // planes, bit count
    buf.putInt(0) // BI_RGB
    buf.putInt(frameBytes)
    buf.putInt(0); buf.putInt(0); buf.putInt(0); buf.putInt(0)
    // ---- LIST movi
    tag("LIST"); buf.putInt(moviBody); tag("movi")
    frames.foreach { f =>
      tag("00db"); buf.putInt(frameBytes)
      // bottom-up rows, each padded to the 4-byte stride
      var y = h - 1
      while (y >= 0) {
        buf.put(f, y * 3 * w, 3 * w)
        var p = 3 * w
        while (p < st) { buf.put(0.toByte); p += 1 }
        y -= 1
      }
    }
    buf.array()
  }

  /** The one RIFF walk the decoders and the census share. Checks the
    * RIFF 'AVI ' header, descends hdrl/strl/movi, reads the FIRST
    * stream's strh rate and strf geometry (later strls, e.g. an audio
    * track, are skipped) and skips unknown chunks by declared size.
    * `strf(bits, comp)` checks the format; `chunk(id, size)` sees every
    * other movi chunk with `buf` at its payload. A header cut mid-tag
    * refuses as IllegalArgumentException, like every other truncation. */
  private final class Riff(bytes: Array[Byte]) {
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    var w = -1; var h = -1; var fps = -1

    def tag(): String = {
      val b = new Array[Byte](4); buf.get(b); new String(b, "US-ASCII")
    }

    def walk(strf: (Short, Int) => Unit)(chunk: (String, Int) => Unit)
        : Unit = {
      require(bytes.length >= 12, s"not an AVI: ${bytes.length} bytes")
      val riff = tag()
      require(riff == "RIFF", s"not an AVI: leading tag '$riff'")
      buf.getInt()
      val form = tag()
      require(form == "AVI ", s"not an AVI: form type '$form'")
      try walkList(bytes.length, strf, chunk)
      catch {
        case _: java.nio.BufferUnderflowException =>
          throw new IllegalArgumentException(
            "truncated AVI: chunk header runs past the buffer")
      }
      require(w > 0 && h > 0, "no strf header")
    }

    /** (id, size, offset of the next chunk), with the size checked. */
    private def header(): (String, Int, Int) = {
      val id = tag(); val size = buf.getInt()
      val next = buf.position() + size + (size & 1)
      require(size >= 0 && next <= bytes.length,
        s"truncated chunk '$id': declared $size")
      (id, size, next)
    }

    private def walkStrl(end: Int, strf: (Short, Int) => Unit): Unit = {
      var rate = -1; var scale = -1
      while (buf.position() < end) {
        val (id, size, next) = header()
        id match {
          case "strh" =>
            require(size >= 28, s"strh too small ($size bytes)")
            val typ = tag()
            require(typ == "vids", s"first stream is '$typ', want 'vids'")
            tag() // handler fourcc; strf's biCompression is authoritative
            buf.getInt(); buf.getShort(); buf.getShort(); buf.getInt()
            scale = buf.getInt(); rate = buf.getInt()
          case "strf" =>
            require(size >= 40,
              s"strf too small ($size bytes, BITMAPINFOHEADER needs 40)")
            buf.getInt() // biSize
            w = buf.getInt(); h = buf.getInt()
            buf.getShort() // planes
            val bits = buf.getShort()
            strf(bits, buf.getInt())
          case _ => ()
        }
        buf.position(next)
      }
      require(rate > 0 && scale > 0, "no strh rate")
      fps = rate / scale
    }

    private def walkList(end: Int, strf: (Short, Int) => Unit,
        chunk: (String, Int) => Unit): Unit =
      while (buf.position() < end) {
        val (id, size, next) = header()
        if (id == "LIST") tag() match {
          case "hdrl" | "movi" => walkList(next, strf, chunk)
          case "strl" if w < 0 => walkStrl(next, strf)
          case _ => ()
        } else chunk(id, size)
        buf.position(next)
      }
  }

  private def fourccOf(comp: Int): String = new String(Array[Byte](
    (comp & 0xff).toByte, ((comp >> 8) & 0xff).toByte,
    ((comp >> 16) & 0xff).toByte, ((comp >> 24) & 0xff).toByte), "US-ASCII")

  /** Decode → (w, h, fps, top-down padding-stripped BGR frames). */
  def decodeDib24(bytes: Array[Byte]): (Int, Int, Int, Seq[Array[Byte]]) = {
    val r = new Riff(bytes)
    val frames = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    r.walk { (bits, comp) =>
      require(bits == 24, s"unsupported bit depth $bits (only 24)")
      require(comp == 0, s"compressed AVI (biCompression=$comp) " +
        "is outside the decode perimeter")
    } {
      case ("00db", size) =>
        val (w, h, buf) = (r.w, r.h, r.buf)
        require(w > 0 && h > 0, "frame before strf header")
        val st = stride(w)
        require(size == st * h, s"frame size $size, want ${st * h}")
        val out = new Array[Byte](3 * w * h)
        var y = h - 1
        while (y >= 0) {
          buf.get(out, y * 3 * w, 3 * w)
          buf.position(buf.position() + (st - 3 * w))
          y -= 1
        }
        frames += out
      case ("00dc", _) =>
        throw new IllegalArgumentException(
          "compressed frame chunk 00dc is outside the decode perimeter")
      case _ => ()
    }
    (r.w, r.h, r.fps, frames.toSeq)
  }

  // ------------------------------------------------------------- MJPG side
  //
  // Motion JPEG: each frame is a standalone baseline JPEG in a '00dc'
  // (compressed) chunk, biCompression = 'MJPG'. With JpegCodec in-engine
  // this closes the compressed-video half of the r11 perimeter — the DIB
  // path above stays byte-identical (its oracles are hash-load-bearing)
  // and H.264/anything-else still refuses loudly by fourcc.

  private val MjpgFourcc = 0x47504a4d // 'MJPG' little-endian

  /** Encode 8-bit GRAY frames (each w·h bytes) as an MJPG AVI. Frames
    * ride JpegCodec.encodeGray, so block-constant frames survive the
    * lossy codec exactly (the oracle subspace); biBitCount is 24 per the
    * VfW convention for MJPG regardless of the JPEG's component count. */
  def encodeMjpg(w: Int, h: Int, frames: Seq[Array[Byte]], fps: Int)
      : Array[Byte] = {
    require(w > 0 && h > 0 && fps > 0, "bad geometry/rate")
    frames.foreach(f => require(f.length == w * h,
      s"gray frame has ${f.length} bytes, want ${w * h}"))
    encodeStream(w, h, fps, "MJPG",
      frames.map(f => JpegCodec.encodeGray(w, h, f)))
  }

  /** Encode arbitrary pre-compressed '00dc' payloads under any video
    * fourcc (H264, cvid, …) — the container half of the census path:
    * a real VfW-layout AVI whose stream payloads the walker reports
    * but never decodes. encodeMjpg rides this with JPEG payloads. */
  def encodeStream(w: Int, h: Int, fps: Int, fourcc: String,
      payloads: Seq[Array[Byte]]): Array[Byte] = {
    require(w > 0 && h > 0 && fps > 0, "bad geometry/rate")
    require(fourcc.length == 4, s"fourcc must be 4 chars: '$fourcc'")
    val fcc = fourcc.getBytes("US-ASCII")
    val fccLe = (fcc(0) & 0xff) | ((fcc(1) & 0xff) << 8) |
      ((fcc(2) & 0xff) << 16) | ((fcc(3) & 0xff) << 24)
    val moviBody = 4 + payloads.map(p => 8 + p.length + (p.length & 1)).sum
    val hdrlBody = 4 + (8 + 56) + (12 + (8 + 56) + (8 + 40))
    val riffBody = 4 + (12 + hdrlBody - 4) + (12 + moviBody - 4)
    val maxFrame = if (payloads.isEmpty) 0 else payloads.map(_.length).max
    val buf = ByteBuffer.allocate(8 + riffBody).order(ByteOrder.LITTLE_ENDIAN)
    def tag(s: String): Unit = buf.put(s.getBytes("US-ASCII"))
    tag("RIFF"); buf.putInt(riffBody); tag("AVI ")
    tag("LIST"); buf.putInt(hdrlBody); tag("hdrl")
    tag("avih"); buf.putInt(56)
    buf.putInt(1000000 / fps)
    buf.putInt(maxFrame * fps)
    buf.putInt(0); buf.putInt(0)
    buf.putInt(payloads.size)
    buf.putInt(0); buf.putInt(1)
    buf.putInt(maxFrame)
    buf.putInt(w); buf.putInt(h)
    buf.putInt(0); buf.putInt(0); buf.putInt(0); buf.putInt(0)
    tag("LIST"); buf.putInt(4 + (8 + 56) + (8 + 40)); tag("strl")
    tag("strh"); buf.putInt(56)
    tag("vids"); tag(fourcc)
    buf.putInt(0)
    buf.putShort(0); buf.putShort(0)
    buf.putInt(0)
    buf.putInt(1); buf.putInt(fps)
    buf.putInt(0)
    buf.putInt(payloads.size)
    buf.putInt(maxFrame)
    buf.putInt(-1)
    buf.putInt(0)
    buf.putShort(0); buf.putShort(0); buf.putShort(w.toShort)
    buf.putShort(h.toShort)
    tag("strf"); buf.putInt(40)
    buf.putInt(40); buf.putInt(w); buf.putInt(h)
    buf.putShort(1); buf.putShort(24)
    buf.putInt(fccLe)
    buf.putInt(maxFrame)
    buf.putInt(0); buf.putInt(0); buf.putInt(0); buf.putInt(0)
    tag("LIST"); buf.putInt(moviBody); tag("movi")
    payloads.foreach { p =>
      tag("00dc"); buf.putInt(p.length)
      buf.put(p)
      if ((p.length & 1) == 1) buf.put(0.toByte) // RIFF even padding
    }
    buf.array()
  }

  /** Decode an MJPG AVI → (w, h, fps, top-down row-major GRAY frames).
    * Walks the same RIFF layout as decodeDib24 but requires
    * biCompression == 'MJPG' and decodes each '00dc' payload with
    * JpegCodec; any other fourcc (H.264/cvid/…) refuses loudly with the
    * fourcc spelled out, and a frame whose JPEG geometry disagrees with
    * the stream header refuses rather than emitting misshapen pixels. */
  def decodeMjpg(bytes: Array[Byte]): (Int, Int, Int, Seq[Array[Byte]]) = {
    val r = new Riff(bytes)
    val frames = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    r.walk { (_, comp) =>
      require(comp == MjpgFourcc,
        s"compression '${fourccOf(comp)}' (0x${comp.toHexString}) is " +
          "outside the decode perimeter (MJPG here, BI_RGB via decodeDib24)")
    } {
      case ("00dc", size) =>
        require(r.w > 0 && r.h > 0, "frame before strf header")
        val payload = new Array[Byte](size)
        r.buf.get(payload)
        val (fw, fh, pix) = JpegCodec.decodeGray(payload)
        require(fw == r.w && fh == r.h,
          s"frame geometry ${fw}x$fh disagrees with stream ${r.w}x${r.h}")
        frames += pix
      case ("00db", _) =>
        throw new IllegalArgumentException(
          "uncompressed 00db chunk in an MJPG stream — use decodeDib24")
      case _ => ()
    }
    (r.w, r.h, r.fps, frames.toSeq)
  }

  /** CONTAINER CENSUS — walk the RIFF/VfW structure and report the
    * stream without decoding any payload: (fourcc, w, h, fps, raw
    * '00db'/'00dc' chunk payloads in stream order). This is how the
    * formats outside the decode perimeter (H.264, cvid, …) stop being
    * loud refusals and become typed metadata: the caller routes on
    * the fourcc — MJPG → decodeMjpg, H264 → H264Codec.scan per chunk,
    * anything else → a size census. Same loud structural perimeter as
    * the decoders (truncation, missing headers). */
  def census(bytes: Array[Byte])
      : (String, Int, Int, Int, Seq[Array[Byte]]) = {
    val r = new Riff(bytes)
    var fourcc = ""
    val chunks = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    r.walk { (_, comp) =>
      fourcc = if (comp == 0) "DIB " else fourccOf(comp) // 0 = BI_RGB
    } {
      case ("00db" | "00dc", size) =>
        require(r.w > 0 && r.h > 0, "frame before strf header")
        val payload = new Array[Byte](size)
        r.buf.get(payload)
        chunks += payload
      case _ => ()
    }
    (fourcc, r.w, r.h, r.fps, chunks.toSeq)
  }
}
