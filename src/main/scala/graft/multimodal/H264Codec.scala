package graft.multimodal

import java.io.ByteArrayOutputStream

/** H.264 / AVC Annex B NAL-unit census — the stream-structure walk a
  * corpus pipeline runs on raw video elementary streams: how many
  * NAL units, which are parameter sets (SPS/PPS), which are IDR
  * keyframes, where the random-access points sit. CENSUS, not
  * decode: the walk finds start codes (ITU-T H.264 Annex B:
  * 00 00 01, optionally preceded by one more zero) and reads each
  * one-byte NAL header (§7.3.1: forbidden_zero_bit |
  * nal_ref_idc(2) | nal_unit_type(5)); slice/macroblock decoding
  * (CABAC, the actual codec) stays outside the perimeter — the
  * reference never decodes video at all. Loud on a malformed header
  * or a stream that does not begin with a start code; a census that
  * silently mis-counts is worse than one that refuses. Per-row
  * executor work, scan-fused. */
object H264Codec {

  /** §7.4.1 table anchors the census reports on. */
  val TypeNonIdr = 1
  val TypeIdr = 5
  val TypeSps = 7
  val TypePps = 8

  final case class Nal(offset: Int, refIdc: Int, nalType: Int,
      nalBytes: Int)

  /** Synthesize a real Annex B stream: a 4-byte-start-code SPS, a
    * PPS (both omitted when `paramSets` is false — the per-chunk AVI
    * access-unit shape, where parameter sets ride only the first
    * chunk), then one slice NAL per (nalType, payloadLen) spec with
    * 3-byte start codes (the common framing mix). Payload bytes are
    * deterministic and never zero, so no accidental start-code
    * emulation occurs (and no 00 00 03 escaping is needed). */
  def synth(slices: Seq[(Int, Int)],
      paramSets: Boolean = true): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    def hdr(refIdc: Int, t: Int): Int = (refIdc << 5) | t
    def payload(n: Int, salt: Int): Unit = {
      var i = 0
      while (i < n) { out.write((i * 73 + salt) % 250 + 1); i += 1 }
    }
    if (paramSets) {
      out.write(0); out.write(0); out.write(0); out.write(1)
      out.write(hdr(3, TypeSps)); payload(6, TypeSps)
      out.write(0); out.write(0); out.write(1)
      out.write(hdr(3, TypePps)); payload(3, TypePps)
    }
    slices.foreach { case (t, len) =>
      require(t >= 1 && t <= 23, s"bad NAL type $t")
      require(len >= 1, s"bad payload length $len")
      out.write(0); out.write(0); out.write(1)
      out.write(hdr(if (t == TypeIdr || t == TypeSps || t == TypePps) 3
        else 2, t))
      payload(len, t + len)
    }
    out.toByteArray
  }

  /** Decoded SPS routing metadata: the ffprobe-level geometry a
    * corpus pipeline reads without decoding a single macroblock. */
  final case class SpsInfo(profile: Int, level: Int, width: Int,
      height: Int)

  /** Parse a seq_parameter_set_rbsp (ITU-T H.264 §7.3.2.1.1) from a
    * type-7 NAL's payload (header byte already stripped): real
    * Exp-Golomb bit reading over the RBSP after emulation-prevention
    * removal (§7.4.1: every 00 00 03 drops the 03). Profiles with a
    * chroma-format branch (High family: 100/110/122/244/44/83/86/
    * 118/128/134/135/138/139) refuse loudly — Baseline/Main/Extended
    * cover the fixture space and the branch would otherwise be
    * silently misread. Geometry honors frame cropping with the 4:2:0
    * crop units (§7.4.2.1.1: CropUnitX=2, CropUnitY=2·(2−fmof)). */
  def parseSps(payload: Array[Byte]): SpsInfo = {
    // emulation-prevention removal
    val rbsp = new ByteArrayOutputStream(payload.length)
    var i = 0
    while (i < payload.length) {
      if (i + 2 < payload.length && payload(i) == 0 &&
          payload(i + 1) == 0 && payload(i + 2) == 3) {
        rbsp.write(0); rbsp.write(0); i += 3
      } else { rbsp.write(payload(i)); i += 1 }
    }
    val b = rbsp.toByteArray
    var pos = 0 // bit cursor
    def u(n: Int): Int = {
      var v = 0
      var k = 0
      while (k < n) {
        require(pos < b.length * 8, "SPS truncated mid-field")
        v = (v << 1) | ((b(pos >> 3) >> (7 - (pos & 7))) & 1)
        pos += 1; k += 1
      }
      v
    }
    def ue(): Int = {
      var zeros = 0
      while (u(1) == 0) {
        zeros += 1
        require(zeros <= 31, "implausible Exp-Golomb prefix in SPS")
      }
      (1 << zeros) - 1 + (if (zeros == 0) 0 else u(zeros))
    }
    def se(): Int = { // signed Exp-Golomb (§9.1.1)
      val k = ue()
      if (k % 2 == 0) -(k / 2) else (k + 1) / 2
    }
    val profile = u(8)
    u(8) // constraint_set flags + reserved
    val level = u(8)
    ue() // seq_parameter_set_id
    val highFamily = Set(100, 110, 122, 244, 44, 83, 86, 118, 128,
      134, 135, 138, 139)
    require(!highFamily(profile),
      s"SPS profile_idc $profile carries a chroma-format branch — " +
        "outside the Baseline/Main/Extended parse perimeter")
    ue() // log2_max_frame_num_minus4
    ue() match { // pic_order_cnt_type
      case 0 => ue() // log2_max_pic_order_cnt_lsb_minus4
      case 1 =>
        u(1) // delta_pic_order_always_zero_flag
        se(); se() // offsets for non-ref / top-to-bottom
        val n = ue()
        var k = 0
        while (k < n) { se(); k += 1 }
      case _ => ()
    }
    ue() // max_num_ref_frames
    u(1) // gaps_in_frame_num_value_allowed_flag
    val mbW = ue() + 1
    val mapH = ue() + 1
    val fmof = u(1) // frame_mbs_only_flag
    if (fmof == 0) u(1) // mb_adaptive_frame_field_flag
    u(1) // direct_8x8_inference_flag
    val (cl, cr, ct, cb) =
      if (u(1) == 1) (ue(), ue(), ue(), ue()) else (0, 0, 0, 0)
    // 4:2:0 crop units (chroma_format_idc defaults to 1 here)
    val cropUnitY = 2 * (2 - fmof)
    SpsInfo(profile, level,
      mbW * 16 - 2 * (cl + cr),
      (2 - fmof) * mapH * 16 - cropUnitY * (ct + cb))
  }

  /** Synthesize a conformant Baseline/Main/Extended SPS NAL (header
    * byte included) for the given geometry — pic_order_cnt_type 2,
    * frame_mbs_only, optional frame cropping — with §7.4.1 emulation
    * prevention applied, so the NAL survives Annex B framing however
    * many zero bits the fields produce. */
  def synthSps(profile: Int, level: Int, mbW: Int, mapH: Int,
      cropRight: Int = 0, cropBottom: Int = 0): Array[Byte] = {
    require(mbW >= 1 && mapH >= 1, s"bad geometry ${mbW}x$mapH")
    val bits = new scala.collection.mutable.ArrayBuffer[Int]()
    def u(v: Int, n: Int): Unit = {
      var k = n - 1
      while (k >= 0) { bits += ((v >> k) & 1); k -= 1 }
    }
    def ue(v: Int): Unit = {
      val c = v + 1
      val len = 32 - Integer.numberOfLeadingZeros(c)
      u(0, len - 1); u(c, len)
    }
    u(profile, 8); u(0, 8); u(level, 8)
    ue(0) // sps id
    ue(0) // log2_max_frame_num_minus4
    ue(2) // pic_order_cnt_type 2: no further POC fields
    ue(1) // max_num_ref_frames
    u(0, 1) // gaps_in_frame_num_value_allowed_flag
    ue(mbW - 1)
    ue(mapH - 1)
    u(1, 1) // frame_mbs_only_flag
    u(1, 1) // direct_8x8_inference_flag
    if (cropRight > 0 || cropBottom > 0) {
      u(1, 1); ue(0); ue(cropRight); ue(0); ue(cropBottom)
    } else u(0, 1)
    u(0, 1) // vui_parameters_present_flag
    u(1, 1) // rbsp_stop_one_bit
    while (bits.length % 8 != 0) bits += 0
    val raw = bits.grouped(8)
      .map(g => g.foldLeft(0)((a, x) => (a << 1) | x).toByte).toArray
    // header byte + emulation prevention over the payload
    val out = new ByteArrayOutputStream(raw.length + 4)
    out.write((3 << 5) | TypeSps)
    var i = 0
    var zeros = 0
    while (i < raw.length) {
      val v = raw(i) & 0xff
      if (zeros == 2 && v <= 3) { out.write(3); zeros = 0 }
      out.write(v)
      zeros = if (v == 0) zeros + 1 else 0
      i += 1
    }
    out.toByteArray
  }

  /** Walk ONE AVCC-framed sample — the shape AVC actually takes
    * inside MP4 (ISO 14496-15 §5.3.4.2): each NAL is prefixed by a
    * big-endian `lengthSize`-byte length instead of an Annex B start
    * code (lengthSize = avcC's lengthSizeMinusOne + 1, 4 in
    * practice). Same one-byte header census as scan(); loud on a
    * length that overruns the sample or leaves trailing garbage —
    * sample bounds come from the container's sample table, so a
    * mis-expanded stsc/stco shows up here as a refusal, not a
    * miscount. */
  def scanAvcc(bytes: Array[Byte], lengthSize: Int = 4): Seq[Nal] = {
    require(lengthSize >= 1 && lengthSize <= 4,
      s"bad AVCC length size $lengthSize")
    val nals = Seq.newBuilder[Nal]
    var pos = 0
    while (pos < bytes.length) {
      require(pos + lengthSize <= bytes.length,
        s"truncated NAL length field at offset $pos")
      var len = 0L
      var i = 0
      while (i < lengthSize) {
        len = (len << 8) | (bytes(pos + i) & 0xffL); i += 1
      }
      require(len >= 1 && pos + lengthSize + len <= bytes.length,
        s"NAL length $len at offset $pos overruns the " +
          s"${bytes.length}-byte sample")
      val at = pos + lengthSize
      val h = bytes(at) & 0xff
      require((h & 0x80) == 0, s"forbidden_zero_bit set at offset $at")
      val t = h & 0x1f
      require(t >= 1, s"reserved NAL type 0 at offset $at")
      nals += Nal(at, (h >> 5) & 3, t, len.toInt)
      pos = at + len.toInt
    }
    nals.result()
  }

  /** AVCC-frame the given NALs: each `(refIdc, nalType, payloadLen)`
    * becomes length-prefix + header + deterministic payload — the
    * per-sample synth for MP4 sample-table fixtures. */
  def synthAvccSample(nals: Seq[(Int, Int, Int)],
      lengthSize: Int = 4): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    nals.foreach { case (refIdc, t, payloadLen) =>
      require(t >= 1 && t <= 23, s"bad NAL type $t")
      require(payloadLen >= 0, s"bad payload length $payloadLen")
      val len = 1 + payloadLen
      var i = lengthSize - 1
      while (i >= 0) { out.write((len >> (8 * i)) & 0xff); i -= 1 }
      out.write(((refIdc & 3) << 5) | t)
      var k = 0
      while (k < payloadLen) { out.write((k * 73 + t + payloadLen) % 250 + 1); k += 1 }
    }
    out.toByteArray
  }

  /** Walk the start codes; each NAL spans to the next start code (or
    * EOF). nalBytes counts the header byte plus payload — never the
    * start code, and never zero padding: ALL consecutive zeros
    * preceding a `00 00 01` (one is the 4-byte start-code form, any
    * more are `trailing_zero_8bits`, legal in Annex B §B.1.2) and any
    * zero run at EOF count as framing, not NAL bytes. A NAL's own
    * last byte can never be 0x00 — `rbsp_trailing_bits` ends with the
    * stop bit and `cabac_zero_words` are emulation-escaped — so the
    * trim can't eat payload (r13 ADVICE: padding zeros silently
    * inflated the census). */
  def scan(bytes: Array[Byte]): Seq[Nal] = {
    // next start code at or after i: (nalEnd, nextNalPos, found) where
    // nalEnd backs over the zero run preceding the code (or EOF) and
    // nextNalPos is the first header byte after the code
    def nextStart(i: Int): (Int, Int, Boolean) = {
      var p = i
      while (p + 2 < bytes.length) {
        if (bytes(p) == 0 && bytes(p + 1) == 0 && bytes(p + 2) == 1) {
          var q = p
          while (q > i && bytes(q - 1) == 0) q -= 1
          return (q, p + 3, true)
        }
        p += 1
      }
      var q = bytes.length
      while (q > i && bytes(q - 1) == 0) q -= 1
      (q, bytes.length, false)
    }
    val (first, firstEnd, firstFound) = nextStart(0)
    require(firstFound && first == 0,
      "not an Annex B stream: no leading start code")
    val nals = Seq.newBuilder[Nal]
    var pos = firstEnd
    var more = pos < bytes.length
    require(more, s"trailing start code with no NAL at offset $first")
    while (more) {
      val h = bytes(pos) & 0xff
      require((h & 0x80) == 0,
        s"forbidden_zero_bit set at offset $pos")
      val refIdc = (h >> 5) & 3
      val t = h & 0x1f
      require(t >= 1, s"reserved NAL type 0 at offset $pos")
      val (nalEnd, nxtPos, found) = nextStart(pos + 1)
      require(nalEnd > pos, s"empty NAL at offset $pos")
      nals += Nal(pos, refIdc, t, nalEnd - pos)
      if (found) {
        require(nxtPos < bytes.length,
          s"trailing start code with no NAL at offset $nalEnd")
        pos = nxtPos
      } else more = false
    }
    nals.result()
  }
}
