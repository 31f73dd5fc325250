package graft.multimodal

import java.io.ByteArrayOutputStream

/** MPEG-1 Audio Layer III frame-level scan — the metadata half of the
  * compressed-audio story (the full polyphase/IMDCT sample decode is
  * outside the perimeter: there is no sample decoder). A corpus
  * pipeline needs exactly this layer from MP3s: frame census, bitrate
  * profile, duration, byte extents — what `ffprobe` reads — and it is
  * fully determined by the published header tables (ISO/IEC 11172-3
  * §2.4.1.3/2.4.2.3):
  * frame_bytes = 144000·bitrate_kbps / sample_rate + padding,
  * 1152 samples per frame.
  *
  * scan() skips a leading ID3v2 container (syncsafe size), walks
  * sync-aligned headers, and refuses loudly on anything outside MPEG-1
  * Layer III — free-format (bitrate index 0), the forbidden indexes,
  * MPEG-2/2.5, Layers I/II, desync — never skipping garbage silently
  * (a quiet resync miscounts duration invisibly; a loud perimeter gets
  * fixed). synth() writes real headers with deterministic payload bytes,
  * giving specs and driver fixtures a stream whose census the DuckDB
  * oracle reproduces from the same published tables. Per-row executor
  * work over the blob, the usual codec envelope. */
object Mp3Codec {

  /** kbps by bitrate index 1..14 (MPEG-1 Layer III, Table B.2). */
  val BitrateKbps: Array[Int] =
    Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)

  /** Hz by sample-rate index 0..2 (MPEG-1). */
  val SampleRateHz: Array[Int] = Array(44100, 48000, 32000)

  val SamplesPerFrame = 1152

  final case class Frame(offset: Long, bitrateKbps: Int, sampleRateHz: Int,
      padded: Boolean, frameBytes: Int)

  def frameLength(bitrateKbps: Int, sampleRateHz: Int, padded: Boolean): Int =
    144000 * bitrateKbps / sampleRateHz + (if (padded) 1 else 0)

  /** Synthesize a valid MPEG-1 Layer III stream: one frame per
    * (bitrateIndex 1..14, padded) spec, mono, no CRC, deterministic
    * payload bytes (a position-keyed ramp — real entropy data is
    * irrelevant to the frame walk). Optionally prefixed with an ID3v2.3
    * tag of `id3Bytes` payload. */
  def synth(specs: Seq[(Int, Boolean)], sampleRateIdx: Int = 0,
      id3Bytes: Int = 0): Array[Byte] = {
    require(sampleRateIdx >= 0 && sampleRateIdx <= 2,
      s"bad sample rate index $sampleRateIdx")
    require(id3Bytes >= 0 && id3Bytes < (1 << 28), s"bad ID3 size $id3Bytes")
    val out = new ByteArrayOutputStream()
    if (id3Bytes > 0) {
      out.write('I'); out.write('D'); out.write('3')
      out.write(3); out.write(0) // v2.3.0
      out.write(0) // flags
      // syncsafe 28-bit size
      out.write((id3Bytes >> 21) & 0x7f)
      out.write((id3Bytes >> 14) & 0x7f)
      out.write((id3Bytes >> 7) & 0x7f)
      out.write(id3Bytes & 0x7f)
      var i = 0
      while (i < id3Bytes) { out.write(i % 251); i += 1 }
    }
    val sr = SampleRateHz(sampleRateIdx)
    specs.foreach { case (bi, padded) =>
      require(bi >= 1 && bi <= 14, s"bad bitrate index $bi")
      val len = frameLength(BitrateKbps(bi), sr, padded)
      out.write(0xff)
      out.write(0xfb) // sync(3) | MPEG-1(11) | Layer III(01) | no CRC(1)
      out.write((bi << 4) | (sampleRateIdx << 2) |
        (if (padded) 2 else 0)) // private bit 0
      out.write(0xc4) // mono, no mode ext, not copyrighted, original, none
      var i = 4
      while (i < len) {
        // deterministic payload; 0xff avoided so a buggy scanner can't
        // find a phantom sync inside the body and pass by accident
        out.write((i * 7 + bi) % 0xfe)
        i += 1
      }
    }
    out.toByteArray
  }

  /** Scan a stream: skip one optional leading ID3v2 tag, then walk
    * sync-aligned MPEG-1 Layer III frames to the end. A trailing partial
    * frame, desync, or any out-of-perimeter header refuses loudly. */
  def scan(bytes: Array[Byte]): Seq[Frame] = {
    var pos = 0
    if (bytes.length >= 10 && bytes(0) == 'I' && bytes(1) == 'D' &&
      bytes(2) == '3') {
      val sz = ((bytes(6) & 0x7f) << 21) | ((bytes(7) & 0x7f) << 14) |
        ((bytes(8) & 0x7f) << 7) | (bytes(9) & 0x7f)
      require((bytes(6) | bytes(7) | bytes(8) | bytes(9)) >= 0 &&
        ((bytes(6) | bytes(7) | bytes(8) | bytes(9)) & 0x80) == 0,
        "corrupt ID3v2 size (non-syncsafe byte)")
      val footer = if ((bytes(5) & 0x10) != 0) 10 else 0
      pos = 10 + sz + footer
      require(pos <= bytes.length, s"ID3v2 tag declares $sz bytes past EOF")
    }
    val frames = Seq.newBuilder[Frame]
    while (pos < bytes.length) {
      require(pos + 4 <= bytes.length,
        s"truncated MP3: ${bytes.length - pos} trailing bytes at $pos")
      val b0 = bytes(pos) & 0xff
      val b1 = bytes(pos + 1) & 0xff
      val b2 = bytes(pos + 2) & 0xff
      require(b0 == 0xff && (b1 & 0xe0) == 0xe0,
        f"lost frame sync at offset $pos (0x$b0%02x 0x$b1%02x)")
      val versionBits = (b1 >> 3) & 0x3
      require(versionBits == 3,
        s"MPEG version bits $versionBits at offset $pos are outside the " +
          "scan perimeter (MPEG-1 only; 2/2.5 have different frame math)")
      val layerBits = (b1 >> 1) & 0x3
      require(layerBits == 1,
        s"layer bits $layerBits at offset $pos are outside the scan " +
          "perimeter (Layer III only)")
      val bi = (b2 >> 4) & 0xf
      require(bi >= 1 && bi <= 14,
        s"bitrate index $bi at offset $pos (free-format/forbidden) is " +
          "outside the scan perimeter")
      val si = (b2 >> 2) & 0x3
      require(si <= 2, s"reserved sample-rate index at offset $pos")
      val padded = (b2 & 0x2) != 0
      val len = frameLength(BitrateKbps(bi), SampleRateHz(si), padded)
      require(pos + len <= bytes.length,
        s"truncated MP3: frame at $pos declares $len bytes, " +
          s"${bytes.length - pos} left")
      frames += Frame(pos.toLong, BitrateKbps(bi), SampleRateHz(si),
        padded, len)
      pos += len
    }
    frames.result()
  }

  // ------------------------------------------------------- ID3v2 frames
  //
  // The tag CONTENT (title/artist/album — what a corpus labels audio
  // with), not just the skip that scan() does. ID3v2.3 frame sizes are
  // plain 32-bit; v2.4 sizes are syncsafe — both published layouts.

  final case class Id3(version: Int, frames: Map[String, String])

  private val Encodings = Array("ISO-8859-1", "UTF-16", "UTF-16BE", "UTF-8")

  /** Encode an ID3v2 tag (version 3 or 4) of text frames, each with its
    * own encoding byte 0..3 (latin-1 / UTF-16+BOM / UTF-16BE / UTF-8 —
    * 2 and 3 are v2.4 encodings but widely written into v2.3 tags, so
    * the parser takes them anywhere). */
  def encodeId3(frames: Seq[(String, String, Int)], version: Int = 3)
      : Array[Byte] = {
    require(version == 3 || version == 4, s"ID3v2.$version not writable")
    val body = new ByteArrayOutputStream()
    frames.foreach { case (id, text, enc) =>
      require(id.length == 4 && id.forall(c =>
        (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9')),
        s"bad frame id '$id'")
      require(enc >= 0 && enc <= 3, s"bad text encoding $enc")
      val payload = text.getBytes(Encodings(enc))
      val size = 1 + payload.length
      body.write(id.getBytes("US-ASCII"))
      if (version == 4) { // syncsafe
        body.write((size >> 21) & 0x7f); body.write((size >> 14) & 0x7f)
        body.write((size >> 7) & 0x7f); body.write(size & 0x7f)
      } else {
        body.write((size >> 24) & 0xff); body.write((size >> 16) & 0xff)
        body.write((size >> 8) & 0xff); body.write(size & 0xff)
      }
      body.write(0); body.write(0) // frame flags
      body.write(enc)
      body.write(payload)
    }
    val b = body.toByteArray
    val out = new ByteArrayOutputStream(10 + b.length)
    out.write('I'); out.write('D'); out.write('3')
    out.write(version); out.write(0)
    out.write(0) // tag flags
    out.write((b.length >> 21) & 0x7f); out.write((b.length >> 14) & 0x7f)
    out.write((b.length >> 7) & 0x7f); out.write(b.length & 0x7f)
    out.write(b)
    out.toByteArray
  }

  /** Parse a leading ID3v2.3/2.4 tag's TEXT frames (None when the
    * stream has no tag; loud on a structurally broken one). Non-text
    * frames (APIC art, …) are skipped by their declared size; padding
    * ends the walk. */
  def parseId3(bytes: Array[Byte]): Option[Id3] = {
    if (bytes.length < 10 || bytes(0) != 'I' || bytes(1) != 'D' ||
      bytes(2) != '3') return None
    val version = bytes(3) & 0xff
    require(version == 3 || version == 4,
      s"ID3v2.$version is outside the parse perimeter (2.3/2.4 only)")
    require(((bytes(6) | bytes(7) | bytes(8) | bytes(9)) & 0x80) == 0,
      "corrupt ID3v2 size (non-syncsafe byte)")
    val size = ((bytes(6) & 0x7f) << 21) | ((bytes(7) & 0x7f) << 14) |
      ((bytes(8) & 0x7f) << 7) | (bytes(9) & 0x7f)
    val end = 10 + size
    require(end <= bytes.length, s"ID3v2 tag declares $size bytes past EOF")
    val frames = Map.newBuilder[String, String]
    var pos = 10
    var done = false
    while (!done && pos + 10 <= end) {
      if (bytes(pos) == 0) done = true // padding
      else {
        val id = new String(bytes, pos, 4, "US-ASCII")
        require(id.forall(c => (c >= 'A' && c <= 'Z') ||
          (c >= '0' && c <= '9')),
          s"corrupt ID3 frame id '$id' at offset $pos")
        val fsize =
          if (version == 4)
            ((bytes(pos + 4) & 0x7f) << 21) | ((bytes(pos + 5) & 0x7f) << 14) |
              ((bytes(pos + 6) & 0x7f) << 7) | (bytes(pos + 7) & 0x7f)
          else
            ((bytes(pos + 4) & 0xff) << 24) | ((bytes(pos + 5) & 0xff) << 16) |
              ((bytes(pos + 6) & 0xff) << 8) | (bytes(pos + 7) & 0xff)
        // bound check in Long: a hostile v2.3 fsize near 2^31 would
        // overflow `pos + 10 + fsize` to negative and slip the guard
        require(fsize >= 0 && pos.toLong + 10 + fsize <= end,
          s"ID3 frame '$id' declares $fsize bytes past the tag")
        if (id.startsWith("T") && fsize >= 1) {
          val enc = bytes(pos + 10) & 0xff
          require(enc <= 3, s"ID3 text encoding $enc in '$id'")
          var len = fsize - 1
          // strip one trailing NUL terminator (single or double byte)
          val start = pos + 11
          if (enc == 1 || enc == 2) {
            if (len >= 2 && bytes(start + len - 1) == 0 &&
              bytes(start + len - 2) == 0) len -= 2
          } else if (len >= 1 && bytes(start + len - 1) == 0) len -= 1
          frames += id -> new String(bytes, start, len, Encodings(enc))
        }
        pos += 10 + fsize
      }
    }
    Some(Id3(version, frames.result()))
  }
}
