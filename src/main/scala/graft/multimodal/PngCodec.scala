package graft.multimodal

import java.io.ByteArrayOutputStream
import java.util.zip.CRC32

/** PNG structure census AND raster codec (ISO/IEC 15948 / RFC 2083).
  *
  * Census: the 8-byte signature, then length-type-data-CRC chunks —
  * IHDR geometry and pixel format, IDAT count/bytes, the IEND
  * terminator — with every chunk's CRC-32 RECOMPUTED over type+data
  * (PNG is the one common image format that carries per-chunk
  * integrity; a census that skips the check would bless silently
  * corrupted rasters). Loud on a bad signature, CRC mismatch,
  * truncation, a non-IHDR first chunk, or a missing/early IEND.
  *
  * Raster (r15, closing the r14 verdict's IDAT-opaque perimeter):
  * [[decode]] inflates the concatenated IDAT zlib stream, applies the
  * five §9 row filters (None/Sub/Up/Average/Paeth), and expands
  * palette indices through PLTE — 8-bit samples, both interlace
  * methods (progressive §8.2 Adam7 included), the five §11.2.2
  * colour types. 16-bit samples refuse loudly (a documented
  * perimeter, not silence). [[encode]] is the genuine
  * inverse — forward-filtered scanlines, deflate, multi-IDAT split —
  * so planted-pixel oracles exercise every filter on both sides.
  * Part of the engine's multimodal extension beyond the reference
  * surface (the reference pipeline is text-only): PNG now decodes
  * in-engine like JPEG has since r12, giving the second major image
  * format pixel-level parity. */
object PngCodec {

  final case class PngCensus(width: Long, height: Long, bitDepth: Int,
      colorType: Int, nChunks: Int, nIdat: Int, idatBytes: Long)

  private val Signature: Array[Byte] =
    Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)
      .map(_.toByte)

  /** Synthesize a structurally valid PNG: signature, IHDR, one IDAT
    * per payload (opaque deterministic bytes — the census never
    * inflates), IEND. CRCs are real. */
  def synth(width: Long, height: Long, bitDepth: Int, colorType: Int,
      idatSizes: Seq[Int]): Array[Byte] = {
    require(width >= 1 && height >= 1, s"bad geometry ${width}x$height")
    require(idatSizes.nonEmpty && idatSizes.forall(_ >= 1),
      "a PNG needs at least one non-empty IDAT")
    val out = new ByteArrayOutputStream()
    out.write(Signature)
    val ihdr = new ByteArrayOutputStream()
    putU32(ihdr, width); putU32(ihdr, height)
    ihdr.write(bitDepth); ihdr.write(colorType)
    ihdr.write(0); ihdr.write(0); ihdr.write(0) // deflate, none, none
    putChunk(out, "IHDR", ihdr.toByteArray)
    idatSizes.foreach { n =>
      putChunk(out, "IDAT",
        Array.tabulate[Byte](n)(i => ((i * 73 + n) % 251).toByte))
    }
    putChunk(out, "IEND", Array.empty[Byte])
    out.toByteArray
  }

  /** Big-endian u32, and one length-type-data-CRC chunk (§5.3). */
  private def putU32(b: ByteArrayOutputStream, v: Long): Unit = {
    b.write(((v >> 24) & 0xff).toInt); b.write(((v >> 16) & 0xff).toInt)
    b.write(((v >> 8) & 0xff).toInt); b.write((v & 0xff).toInt)
  }
  private def putChunk(out: ByteArrayOutputStream, typ: String,
      data: Array[Byte]): Unit = {
    putU32(out, data.length.toLong)
    val tb = typ.getBytes("US-ASCII")
    out.write(tb); out.write(data)
    val crc = new CRC32()
    crc.update(tb); crc.update(data)
    putU32(out, crc.getValue)
  }

  /** Walk the chunks; verify every CRC; report the routing row. */
  def census(bytes: Array[Byte]): PngCensus = walk(bytes)((_, _, _) => ())

  /** The one chunk walk behind [[census]] and [[decode]]: the
    * signature, then each chunk bounds- and CRC-checked and handed to
    * `visit(type, dataAt, length)` once the census has checked it,
    * through an IEND that must end the file. */
  private def walk(bytes: Array[Byte])(
      visit: (String, Int, Int) => Unit): PngCensus = {
    require(bytes.length >= Signature.length + 12,
      s"not a PNG: ${bytes.length} bytes")
    var i = 0
    while (i < Signature.length) {
      require(bytes(i) == Signature(i),
        s"not a PNG: signature byte $i is 0x${(bytes(i) & 0xff).toHexString}")
      i += 1
    }
    def u32(at: Int): Long =
      ((bytes(at) & 0xffL) << 24) | ((bytes(at + 1) & 0xffL) << 16) |
        ((bytes(at + 2) & 0xffL) << 8) | (bytes(at + 3) & 0xffL)
    var pos = Signature.length
    var width = -1L; var height = -1L
    var bitDepth = -1; var colorType = -1
    var nChunks = 0; var nIdat = 0; var idatBytes = 0L
    var ended = false
    while (!ended) {
      require(pos + 12 <= bytes.length,
        s"truncated chunk header at offset $pos")
      val len = u32(pos)
      val typ = new String(bytes, pos + 4, 4, "US-ASCII")
      val dataAt = pos.toLong + 8
      require(dataAt + len + 4 <= bytes.length,
        s"chunk $typ declares $len bytes past EOF")
      val crc = new CRC32()
      crc.update(bytes, pos + 4, 4 + len.toInt)
      require(crc.getValue == u32((dataAt + len).toInt),
        s"chunk $typ at offset $pos fails its CRC-32")
      nChunks += 1
      // enforced for EVERY chunk type, not just the unknown catch-all:
      // a CRC-valid IDAT-first PNG with no IHDR must refuse here, not
      // return a census row with -1 geometry
      require(nChunks > 1 || typ == "IHDR",
        s"first chunk is $typ, not IHDR")
      typ match {
        case "IHDR" =>
          require(nChunks == 1, s"IHDR is chunk $nChunks, not first")
          require(len == 13, s"IHDR carries $len bytes, not 13")
          width = u32(pos + 8); height = u32(pos + 12)
          bitDepth = bytes(pos + 16) & 0xff
          colorType = bytes(pos + 17) & 0xff
          require(width >= 1 && height >= 1,
            s"IHDR geometry ${width}x$height")
        case "IDAT" =>
          nIdat += 1
          idatBytes += len
        case "IEND" =>
          require(len == 0, s"IEND carries $len bytes")
          require(dataAt + 4 == bytes.length,
            s"${bytes.length - dataAt - 4} trailing bytes after IEND")
          ended = true
        case _ => () // unknown ancillary chunk: CRC-checked, counted
      }
      visit(typ, dataAt.toInt, len.toInt)
      pos = (dataAt + len + 4).toInt
    }
    require(nIdat >= 1, "PNG without IDAT")
    PngCensus(width, height, bitDepth, colorType, nChunks, nIdat,
      idatBytes)
  }

  // ---- raster codec (§9 filters, §11.2.2 colour types) ---------------

  /** Decoded raster: 8-bit interleaved samples, `channels` per pixel
    * (palette images come back EXPANDED to 3-channel RGB — the
    * indices are an encoding detail, not pixel truth). */
  final case class PngImage(width: Int, height: Int, colorType: Int,
      channels: Int, pix: Array[Byte])

  /** Samples per pixel for each §11.2.2 colour type (palette counts
    * its index byte here; decode expands it to 3 afterwards). */
  private def rawChannels(colorType: Int): Int = colorType match {
    case 0 => 1 // greyscale
    case 2 => 3 // truecolour
    case 3 => 1 // indexed
    case 4 => 2 // greyscale + alpha
    case 6 => 4 // truecolour + alpha
    case t => throw new IllegalArgumentException(
      s"colour type $t is not in ISO 15948 §11.2.2")
  }

  /** §8.2 Adam7 passes of a w×h image: (x0, y0, dx, dy, pw, ph) per
    * pass with a non-empty pw×ph reduced image. A pass whose reduced
    * image is zero-width or zero-height contributes NO scanlines at
    * all (not even filter bytes), so it is left out. */
  private def adam7(w: Int, h: Int): Seq[(Int, Int, Int, Int, Int, Int)] =
    Seq((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
      (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))
      .map { case (x0, y0, dx, dy) =>
        (x0, y0, dx, dy, (w - x0 + dx - 1) / dx, (h - y0 + dy - 1) / dy)
      }.filter { case (_, _, _, _, pw, ph) => pw > 0 && ph > 0 }

  /** The one §9 row predictor (PNG scanlines, PDF /Predictor 10-15):
    * rows of `rowLen` bytes, `bpp` bytes per pixel (the distance to
    * the "left" byte), the row above the first all zeros. The forward
    * filter prefixes each row with its type `filterOfRow(row)`. */
  private[graft] def filterRows(pix: Array[Byte], rowLen: Int, bpp: Int,
      filterOfRow: Int => Int): Array[Byte] = {
    require(rowLen > 0 && pix.length % rowLen == 0,
      s"${pix.length} bytes are not whole $rowLen-byte rows")
    val nRows = pix.length / rowLen
    val out = new Array[Byte]((1 + rowLen) * nRows)
    var y = 0
    while (y < nRows) {
      val f = filterOfRow(y)
      require(f >= 0 && f <= 4, s"filter $f is not in §9 (row $y)")
      out(y * (1 + rowLen)) = f.toByte
      var i = 0
      while (i < rowLen) {
        out(y * (1 + rowLen) + 1 + i) = ((pix(y * rowLen + i) & 0xff) -
          predict(f, pix, y * rowLen, rowLen, y > 0, i, bpp)).toByte
        i += 1
      }
      y += 1
    }
    out
  }

  /** Invert [[filterRows]] over `nRows` rows read from `raw` at `off`. */
  private[graft] def unfilterRows(raw: Array[Byte], off: Int, rowLen: Int,
      nRows: Int, bpp: Int): Array[Byte] = {
    val pix = new Array[Byte](rowLen * nRows)
    var y = 0
    while (y < nRows) {
      val f = raw(off + y * (1 + rowLen)) & 0xff
      require(f <= 4, s"row $y carries filter $f, not in §9")
      var i = 0
      while (i < rowLen) {
        pix(y * rowLen + i) = (raw(off + y * (1 + rowLen) + 1 + i) +
          predict(f, pix, y * rowLen, rowLen, y > 0, i, bpp)).toByte
        i += 1
      }
      y += 1
    }
    pix
  }

  /** Filter `f`'s prediction for byte `i` of the row at `at` in `pix`,
    * from its left, above and upper-left neighbours (0 off the edge). */
  private def predict(f: Int, pix: Array[Byte], at: Int, rowLen: Int,
      hasUp: Boolean, i: Int, bpp: Int): Int = {
    val left = if (i >= bpp) pix(at + i - bpp) & 0xff else 0
    val up = if (hasUp) pix(at - rowLen + i) & 0xff else 0
    f match {
      case 0 => 0
      case 1 => left
      case 2 => up
      case 3 => (left + up) / 2
      case 4 =>
        val ul = if (hasUp && i >= bpp) pix(at - rowLen + i - bpp) & 0xff
          else 0
        paeth(left, up, ul)
    }
  }

  private def paeth(a: Int, b: Int, c: Int): Int = {
    // §9.4: the neighbour (left, above, upper-left) nearest to the
    // linear gradient prediction, ties broken left, above, upper-left
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b)
    val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  /** Encode an 8-bit raster as a real PNG: per-row §9 forward filter
    * chosen by `filterOfRow` (cycle it over 0..4 to put every filter
    * under a planted-pixel hash), zlib deflate, the stream split over
    * `nIdat` IDAT chunks (reassembly is part of what decode must get
    * right). `pix` is interleaved samples, [[rawChannels]] per pixel;
    * colour type 3 requires an RGB `palette` (length 3·n, n ≤ 256)
    * and `pix` of indices into it. `interlace` emits the §8.2 Adam7
    * pass structure (filter choice applies per within-pass row). */
  def encode(width: Int, height: Int, colorType: Int,
      pix: Array[Byte], filterOfRow: Int => Int = _ % 5,
      palette: Array[Byte] = Array.empty, nIdat: Int = 2,
      interlace: Boolean = false): Array[Byte] = {
    val ch = rawChannels(colorType)
    require(width >= 1 && height >= 1 && pix.length == width * height * ch,
      s"bad raster: ${pix.length} samples for ${width}x$height ct=$colorType")
    require(colorType != 3 || (palette.length % 3 == 0 &&
      palette.length >= 3 && palette.length <= 768),
      s"colour type 3 needs an RGB palette, got ${palette.length} bytes")
    val raw =
      if (!interlace) filterRows(pix, width * ch, ch, filterOfRow)
      else Array.concat(adam7(width, height).map {
        case (x0, y0, dx, dy, pw, ph) =>
          val sub = new Array[Byte](pw * ph * ch)
          var j = 0
          while (j < ph) {
            var i = 0
            while (i < pw) {
              val sy = y0 + j * dy; val sx = x0 + i * dx
              var c = 0
              while (c < ch) {
                sub((j * pw + i) * ch + c) = pix((sy * width + sx) * ch + c)
                c += 1
              }
              i += 1
            }
            j += 1
          }
          filterRows(sub, pw * ch, ch, filterOfRow)
      }: _*)
    val z = Zlib.deflate(raw, // zlib-wrapped; synthesis-side level
      level = java.util.zip.Deflater.BEST_SPEED)

    val out = new ByteArrayOutputStream()
    out.write(Signature)
    val ihdr = new ByteArrayOutputStream()
    putU32(ihdr, width.toLong); putU32(ihdr, height.toLong)
    ihdr.write(8); ihdr.write(colorType)
    ihdr.write(0); ihdr.write(0) // deflate, filter method 0
    ihdr.write(if (interlace) 1 else 0)
    putChunk(out, "IHDR", ihdr.toByteArray)
    if (colorType == 3) putChunk(out, "PLTE", palette)
    val n = math.max(1, math.min(nIdat, z.length))
    val per = (z.length + n - 1) / n
    var off = 0
    while (off < z.length) {
      val take = math.min(per, z.length - off)
      putChunk(out, "IDAT", java.util.Arrays.copyOfRange(z, off, off + take))
      off += take
    }
    if (z.length == 0) putChunk(out, "IDAT", Array.empty[Byte])
    putChunk(out, "IEND", Array.empty[Byte])
    out.toByteArray
  }

  /** Decode a PNG raster: chunk walk with every CRC re-verified (the
    * census contract), IDAT streams concatenated and zlib-inflated,
    * §9 row filters inverted (per reduced image under Adam7, then
    * scattered onto the full grid), palette expanded. Loud on 16-bit
    * or sub-byte samples, an interlace method past §8.2's two, a
    * filter byte outside 0..4, an inflated size that disagrees with
    * the (pass-structure) geometry, a palette index past PLTE, or
    * any census refusal. */
  def decode(bytes: Array[Byte]): PngImage = {
    // the census walk enforces structure + CRCs; IHDR, PLTE and the
    // IDAT stream are gathered on the same pass
    var ihdrAt = 0; var plteAt = 0; var plteLen = -1
    val z = new ByteArrayOutputStream()
    val cen = walk(bytes) { (typ, at, len) => typ match {
      case "IHDR" => ihdrAt = at
      case "PLTE" => plteAt = at; plteLen = len
      case "IDAT" => z.write(bytes, at, len)
      case _ => ()
    }}
    require(cen.bitDepth == 8,
      s"bit depth ${cen.bitDepth}: only 8-bit samples decode (documented perimeter)")
    val ch = rawChannels(cen.colorType)
    // IHDR data: w(4) h(4) depth(1) colour(1) comp(1) filt(1) il(1)
    require((bytes(ihdrAt + 10) & 0xff) == 0,
      s"compression method ${bytes(ihdrAt + 10) & 0xff}, not deflate")
    require((bytes(ihdrAt + 11) & 0xff) == 0,
      s"filter method ${bytes(ihdrAt + 11) & 0xff}, not 0")
    val interlace = bytes(ihdrAt + 12) & 0xff
    require(interlace <= 1,
      s"interlace method $interlace is not in §8.2 (0 or 1)")
    require(plteLen < 0 || (plteLen % 3 == 0 && plteLen >= 3 &&
      plteLen <= 768), s"PLTE carries $plteLen bytes")
    val palette = if (plteLen < 0) Array.empty[Byte]
      else java.util.Arrays.copyOfRange(bytes, plteAt, plteAt + plteLen)
    // IHDR sides run to 2^32-1: refuse a raster whose buffers (RGB
    // expansion and Adam7 filter bytes included) could not be arrays,
    // before any Int size below can overflow
    require(cen.width < (1L << 29) &&
      (cen.width * 4 + 2) * cen.height < Int.MaxValue - 16,
      s"IHDR geometry ${cen.width}x${cen.height} exceeds an array")
    val w = cen.width.toInt; val h = cen.height.toInt
    val stride = w * ch
    val passes = if (interlace == 0) Nil else adam7(w, h)
    val rawLen =
      if (interlace == 0) (1 + stride) * h
      else passes.map { case (_, _, _, _, pw, ph) => (1 + pw * ch) * ph }.sum
    // the geometry bounds the inflate: a longer stream is refused
    val raw = Zlib.inflate(z.toByteArray, size = rawLen)
    require(raw.length == rawLen,
      s"IDAT inflates to ${raw.length} bytes, geometry needs $rawLen")

    val pix =
      if (interlace == 0) unfilterRows(raw, 0, stride, h, ch)
      else {
        // §8.2: each pass is an independently-filtered reduced image;
        // unfilter it alone, then scatter onto the full-size grid
        val full = new Array[Byte](stride * h)
        var off = 0
        passes.foreach { case (x0, y0, dx, dy, pw, ph) =>
          val sub = unfilterRows(raw, off, pw * ch, ph, ch)
          off += (1 + pw * ch) * ph
          var j = 0
          while (j < ph) {
            var i = 0
            while (i < pw) {
              val sy = y0 + j * dy; val sx = x0 + i * dx
              var c = 0
              while (c < ch) {
                full((sy * w + sx) * ch + c) = sub((j * pw + i) * ch + c)
                c += 1
              }
              i += 1
            }
            j += 1
          }
        }
        full
      }
    if (cen.colorType == 3) {
      require(palette.nonEmpty, "colour type 3 without PLTE")
      val rgb = new Array[Byte](w * h * 3)
      var i = 0
      while (i < pix.length) {
        val idx = pix(i) & 0xff
        require(idx * 3 + 2 < palette.length,
          s"palette index $idx past PLTE (${palette.length / 3} entries)")
        rgb(3 * i) = palette(3 * idx)
        rgb(3 * i + 1) = palette(3 * idx + 1)
        rgb(3 * i + 2) = palette(3 * idx + 2)
        i += 1
      }
      PngImage(w, h, cen.colorType, 3, rgb)
    } else PngImage(w, h, cen.colorType, ch, pix)
  }

  /** Greyscale convenience matching [[ImageCodec.decodeGray]]'s
    * contract: direct samples for grey sources, integer ITU-R 601
    * luma otherwise — so the two decoders are comparable
    * sample-for-sample in the dual-decoder certificate. Alpha is
    * ignored (the planted rasters are opaque). */
  def decodeGray(bytes: Array[Byte]): (Int, Int, Array[Byte]) = {
    val img = decode(bytes)
    val out = new Array[Byte](img.width * img.height)
    val ch = img.channels
    var i = 0
    while (i < out.length) {
      out(i) = ch match {
        case 1 => img.pix(i)
        case 2 => img.pix(2 * i) // grey + alpha
        case _ =>
          val r = img.pix(ch * i) & 0xff
          val g = img.pix(ch * i + 1) & 0xff
          val b = img.pix(ch * i + 2) & 0xff
          (if (r == g && g == b) r
           else (r * 299 + g * 587 + b * 114) / 1000).toByte
      }
      i += 1
    }
    (img.width, img.height, out)
  }
}
