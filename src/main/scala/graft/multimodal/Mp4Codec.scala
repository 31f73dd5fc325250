package graft.multimodal

import java.io.ByteArrayOutputStream
import java.nio.ByteBuffer

/** ISO Base Media File Format (ISO/IEC 14496-12) box census — the
  * ffprobe-level structure walk for MP4/M4A, the other dominant media
  * container next to RIFF/AVI (AviCodec.census). CENSUS, not decode:
  * the walk parses the box tree (size+type headers, 64-bit largesize,
  * size-0 = to-EOF), recurses into the standard containers, and
  * reads exactly the metadata a corpus pipeline routes on — major
  * brand, track handler, sample-entry codec fourcc, sample count,
  * timescale-normalized duration, mdat payload size. Sample decoding
  * (the codec itself) stays outside the perimeter. Loud on truncated
  * or impossible boxes. Per-row executor work, scan-fused. */
object Mp4Codec {

  final case class Mp4Census(brand: String, handler: String,
      codec: String, nBoxes: Int, nSamples: Long, timescale: Long,
      duration: Long, mdatBytes: Long)

  private val Containers =
    Set("moov", "trak", "mdia", "minf", "stbl", "edts", "udta", "dinf")

  /** Synthesize a minimal valid single-track MP4: ftyp + moov
    * { mvhd, trak { tkhd, mdia { mdhd, hdlr, minf { vmhd|smhd,
    * stbl { stsd(one sample entry), stts, stsz, stsc, stco } } } } }
    * + mdat. One sample per entry of `sampleSizes`, fixed `delta`
    * ticks each at timescale 1000; `video` picks vide/avc1 vs
    * soun/mp4a. Deterministic byte-for-byte. */
  def synth(sampleSizes: Seq[Int], delta: Int,
      video: Boolean): Array[Byte] =
    synthSamples(sampleSizes.map { sz =>
      require(sz >= 1, "sample sizes must be >= 1")
      Array.tabulate[Byte](sz)(i => ((i * 73 + sz) % 251).toByte)
    }, delta, video, Seq(sampleSizes.length))

  /** synth with REAL per-sample payloads and a REAL chunk layout:
    * `chunking` is samples-per-chunk, in order, summing to the sample
    * count — each chunk gets its own stco offset and the stsc box
    * carries the run-length-compressed (first_chunk,
    * samples_per_chunk) map (ISO 14496-12 §8.7.4), so a consumer
    * that mis-expands stsc reads the wrong bytes. This is the fixture
    * for SAMPLE ROUTING (r13 verdict #3): mdat bytes are whatever the
    * caller passes — AVCC length-prefixed NALs for avc1, ADTS frames
    * for the dirty-but-common ADTS-in-MP4 shape. */
  def synthSamples(samples: Seq[Array[Byte]], delta: Int,
      video: Boolean, chunking: Seq[Int],
      avcSps: Option[Array[Byte]] = None): Array[Byte] = {
    require(samples.forall(_.length >= 1), "samples must be non-empty")
    require(delta >= 1, s"bad sample delta $delta")
    require(chunking.forall(_ >= 1) && chunking.sum == samples.length,
      s"chunking ${chunking.mkString(",")} does not cover " +
        s"${samples.length} samples")
    val sampleSizes = samples.map(_.length)
    val n = sampleSizes.length
    val duration = n.toLong * delta
    def box(typ: String, payload: Array[Byte]): Array[Byte] = {
      val b = ByteBuffer.allocate(8 + payload.length)
      b.putInt(8 + payload.length)
      b.put(typ.getBytes("US-ASCII")); b.put(payload)
      b.array()
    }
    def bb(cap: Int)(f: ByteBuffer => Unit): Array[Byte] = {
      val b = ByteBuffer.allocate(cap); f(b)
      java.util.Arrays.copyOf(b.array(), b.position())
    }
    val ftyp = box("ftyp", bb(16) { b =>
      b.put("isom".getBytes("US-ASCII")); b.putInt(0x200)
      b.put("isom".getBytes("US-ASCII"))
      b.put("mp42".getBytes("US-ASCII"))
    })
    val mvhd = box("mvhd", bb(100) { b =>
      b.putInt(0) // version 0 + flags
      b.putInt(0); b.putInt(0) // creation, modification
      b.putInt(1000) // timescale
      b.putInt(duration.toInt)
      b.putInt(0x00010000); b.putShort(0x0100.toShort) // rate, volume
      b.putShort(0); b.putLong(0) // reserved
      Seq(0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000)
        .foreach(b.putInt) // unity matrix
      (0 until 6).foreach(_ => b.putInt(0)) // pre_defined
      b.putInt(2) // next_track_ID
    })
    val tkhd = box("tkhd", bb(84) { b =>
      b.putInt(7) // version 0, flags: enabled|in_movie|in_preview
      b.putInt(0); b.putInt(0) // creation, modification
      b.putInt(1); b.putInt(0) // track_ID, reserved
      b.putInt(duration.toInt)
      b.putLong(0) // reserved
      b.putShort(0); b.putShort(0) // layer, alternate_group
      b.putShort(if (video) 0 else 0x0100.toShort); b.putShort(0)
      Seq(0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000)
        .foreach(b.putInt)
      b.putInt(if (video) 16 << 16 else 0) // width 16.16
      b.putInt(if (video) 16 << 16 else 0) // height
    })
    val mdhd = box("mdhd", bb(24) { b =>
      b.putInt(0)
      b.putInt(0); b.putInt(0)
      b.putInt(1000); b.putInt(duration.toInt)
      b.putShort(0x55c4.toShort) // packed 'und'
      b.putShort(0)
    })
    val hdlr = box("hdlr", bb(26) { b =>
      b.putInt(0); b.putInt(0)
      b.put((if (video) "vide" else "soun").getBytes("US-ASCII"))
      b.putInt(0); b.putInt(0); b.putInt(0) // reserved
      b.put("g".getBytes("US-ASCII")); b.put(0.toByte) // name, NUL
    })
    val mediaHdr =
      if (video) box("vmhd", bb(12) { b =>
        b.putInt(1) // version 0, flags 1 (spec-required)
        b.putShort(0); b.putShort(0); b.putShort(0); b.putShort(0)
      })
      else box("smhd", bb(8) { b =>
        b.putInt(0); b.putShort(0); b.putShort(0)
      })
    // with an SPS the avc1 entry is a REAL VisualSampleEntry (78-byte
    // fixed fields, ISO 14496-12 §12.1.3) carrying an avcC decoder
    // configuration child (ISO 14496-15 §5.3.3.1) — where actual MP4s
    // keep the parameter sets; otherwise the minimal census shape
    val entry = avcSps match {
      case Some(sps) if video =>
        require(sps.length >= 4 && (sps(0) & 0x1f) == 7,
          "avcSps must be an SPS NAL (header byte included)")
        val pps = Array[Byte](0x68, 0xce.toByte, 0x38, 0x80.toByte)
        val avcC = box("avcC", bb(11 + sps.length + pps.length) { b =>
          b.put(1.toByte) // configurationVersion
          b.put(sps(1)); b.put(sps(2)); b.put(sps(3)) // profile/compat/level
          b.put(0xff.toByte) // reserved | lengthSizeMinusOne = 3
          b.put(0xe1.toByte) // reserved | numOfSequenceParameterSets = 1
          b.putShort(sps.length.toShort); b.put(sps)
          b.put(1.toByte) // numOfPictureParameterSets
          b.putShort(pps.length.toShort); b.put(pps)
        })
        box("avc1", bb(78 + avcC.length) { b =>
          b.putInt(0); b.putShort(0) // 6 reserved bytes
          b.putShort(1) // data_reference_index
          b.putShort(0); b.putShort(0) // pre_defined, reserved
          (0 until 3).foreach(_ => b.putInt(0)) // pre_defined[3]
          b.putShort(16); b.putShort(16) // width, height
          b.putInt(0x00480000); b.putInt(0x00480000) // 72 dpi
          b.putInt(0) // reserved
          b.putShort(1) // frame_count
          (0 until 8).foreach(_ => b.putInt(0)) // compressorname (32 B)
          b.putShort(0x18) // depth
          b.putShort(-1) // pre_defined
          b.put(avcC)
        })
      case _ =>
        box(if (video) "avc1" else "mp4a", bb(16) { b =>
          b.putInt(0); b.putShort(0) // 6 reserved bytes
          b.putShort(1) // data_reference_index
          b.putLong(0) // minimal body (census reads only the fourcc)
        })
    }
    val stsd = box("stsd", bb(8 + entry.length) { b =>
      b.putInt(0); b.putInt(1); b.put(entry)
    })
    val stts = box("stts", bb(16) { b =>
      b.putInt(0); b.putInt(1)
      b.putInt(n); b.putInt(delta)
    })
    val stsz = box("stsz", bb(12 + 4 * n) { b =>
      b.putInt(0); b.putInt(0) // sample_size 0 = per-sample table
      b.putInt(n)
      sampleSizes.foreach(b.putInt)
    })
    val mdatPayload = {
      val out = new ByteArrayOutputStream()
      samples.foreach(out.write)
      out.toByteArray
    }
    // run-length-compressed stsc (§8.7.4): an entry per CHANGE of
    // samples-per-chunk, first_chunk 1-based
    val stscEntries = chunking.zipWithIndex.collect {
      case (spc, i) if i == 0 || chunking(i - 1) != spc => (i + 1, spc)
    }
    val stsc = box("stsc", bb(8 + 12 * stscEntries.length) { b =>
      b.putInt(0); b.putInt(stscEntries.length)
      stscEntries.foreach { case (first, spc) =>
        b.putInt(first); b.putInt(spc); b.putInt(1)
      }
    })
    // per-chunk byte offsets: chunks are laid out back-to-back in
    // mdat, so each is the running sum of the preceding chunks' sizes
    val chunkRelOffsets = chunking.scanLeft((0, 0)) {
      case ((sampleAt, byteAt), spc) =>
        (sampleAt + spc,
          byteAt + sampleSizes.slice(sampleAt, sampleAt + spc).sum)
    }.dropRight(1).map(_._2)
    val stbl0 = (offset: Int) => box("stbl",
      stsd ++ stts ++ stsz ++ stsc ++
        box("stco", bb(12 + 4 * chunking.length) { b =>
          b.putInt(0); b.putInt(chunking.length)
          chunkRelOffsets.foreach(rel => b.putInt(offset + rel))
        }))
    // chunk offset base = absolute position of the mdat payload; the
    // file is ftyp ++ moov ++ mdat, and stbl's size does not depend on
    // the offset VALUES, so one dry build sizes it
    def assemble(stbl: Array[Byte]): (Array[Byte], Int) = {
      val minf = box("minf", mediaHdr ++ stbl)
      val mdia = box("mdia", mdhd ++ hdlr ++ minf)
      val trak = box("trak", tkhd ++ mdia)
      val moov = box("moov", mvhd ++ trak)
      (moov, ftyp.length + moov.length + 8)
    }
    val (_, off) = assemble(stbl0(0))
    val (moov, off2) = assemble(stbl0(off))
    require(off2 == off, "stco offset sizing drifted")
    ftyp ++ moov ++ box("mdat", mdatPayload)
  }

  /** Big-endian field reads over one file, and the one box walk
    * (§4.2) behind [[sampleTable]], [[avcConfig]] and [[census]]. */
  private final class Boxes(bytes: Array[Byte]) {
    def u16(at: Int): Int =
      ((bytes(at) & 0xff) << 8) | (bytes(at + 1) & 0xff)
    def u32(at: Int): Long =
      ((bytes(at) & 0xffL) << 24) | ((bytes(at + 1) & 0xffL) << 16) |
        ((bytes(at + 2) & 0xffL) << 8) | (bytes(at + 3) & 0xffL)
    def u64(at: Int): Long = (u32(at) << 32) | u32(at + 4)
    def typ(at: Int): String = new String(
      java.util.Arrays.copyOfRange(bytes, at, at + 4), "US-ASCII")

    /** Walk the boxes in [start, end): size + type header, 64-bit
      * largesize, size 0 = to `end`; each box must fit its parent.
      * `visit(type, bodyAt, bodyEnd, size)` sees every box before the
      * walk recurses into it (standard containers only); the walk
      * stops once `done` holds. */
    def walk(start: Int, end: Int, done: => Boolean = false)(
        visit: (String, Int, Int, Long) => Unit): Unit = {
      var pos = start
      while (pos < end && !done) {
        require(pos + 8 <= end, s"truncated box header at offset $pos")
        val size0 = u32(pos)
        val t = typ(pos + 4)
        val (size, hdr) =
          if (size0 == 1) {
            require(pos + 16 <= end, s"truncated largesize at $pos")
            (u64(pos + 8), 16)
          } else if (size0 == 0) ((end - pos).toLong, 8)
          else (size0, 8)
        require(size >= hdr && pos + size <= end,
          s"box '$t' at $pos declares $size bytes past offset $end")
        visit(t, pos + hdr, pos + size.toInt, size)
        if (Containers(t)) walk(pos + hdr, pos + size.toInt, done)(visit)
        pos += size.toInt
      }
    }
  }

  final case class SampleSlice(sample: Int, offset: Long, size: Long)

  /** Expand the sample tables into per-sample byte ranges — the walk
    * that turns "there are N samples" (census) into "sample k is
    * bytes [o, o+s)" so the payloads can be ROUTED to a codec census
    * (r13 verdict #3). stsz gives sizes, stco (or co64) chunk base
    * offsets, and stsc the run-length-compressed samples-per-chunk
    * map (ISO 14496-12 §8.7.4: an entry covers chunks from its
    * first_chunk until the next entry's); within a chunk samples are
    * contiguous. Returns (sample-entry fourcc, slices in sample
    * order). Loud on tables that disagree — a mis-expansion must
    * refuse, not hand the caller someone else's bytes. */
  def sampleTable(bytes: Array[Byte]): (String, Seq[SampleSlice]) = {
    var codec = ""
    var sizes: Seq[Long] = null
    var chunkOffs: Seq[Long] = null
    var stsc: Seq[(Int, Int)] = null
    val r = new Boxes(bytes); import r._
    require(bytes.length >= 8, s"not a BMFF file: ${bytes.length} bytes")
    walk(0, bytes.length) { (t, bodyAt, bodyEnd, _) =>
      t match {
        case "stsd" =>
          require(bodyAt + 16 <= bodyEnd, "stsd too small")
          require(u32(bodyAt + 4) >= 1, "stsd with no entries")
          codec = typ(bodyAt + 12)
        case "stsz" =>
          require(bodyAt + 12 <= bodyEnd, "stsz too small")
          val fixed = u32(bodyAt + 4)
          val n = u32(bodyAt + 8).toInt
          sizes =
            if (fixed != 0) Seq.fill(n)(fixed)
            else {
              require(bodyAt + 12 + 4L * n <= bodyEnd,
                s"stsz table truncated: $n entries")
              (0 until n).map(k => u32(bodyAt + 12 + 4 * k))
            }
        case "stco" =>
          require(bodyAt + 8 <= bodyEnd, "stco too small")
          val n = u32(bodyAt + 4).toInt
          require(bodyAt + 8 + 4L * n <= bodyEnd,
            s"stco table truncated: $n entries")
          chunkOffs = (0 until n).map(k => u32(bodyAt + 8 + 4 * k))
        case "co64" =>
          require(bodyAt + 8 <= bodyEnd, "co64 too small")
          val n = u32(bodyAt + 4).toInt
          require(bodyAt + 8 + 8L * n <= bodyEnd,
            s"co64 table truncated: $n entries")
          chunkOffs = (0 until n).map(k => u64(bodyAt + 8 + 8 * k))
        case "stsc" =>
          require(bodyAt + 8 <= bodyEnd, "stsc too small")
          val n = u32(bodyAt + 4).toInt
          require(bodyAt + 8 + 12L * n <= bodyEnd,
            s"stsc table truncated: $n entries")
          stsc = (0 until n).map { k =>
            (u32(bodyAt + 8 + 12 * k).toInt,
              u32(bodyAt + 12 + 12 * k).toInt)
          }
        case _ => ()
      }
    }
    require(sizes != null, "no stsz box")
    require(chunkOffs != null, "no stco/co64 box")
    require(stsc != null && stsc.nonEmpty, "no stsc box")
    require(stsc.head._1 == 1, s"stsc does not start at chunk 1")
    // expand: entry i covers chunks [first_i, first_{i+1}); the last
    // entry runs to the stco chunk count
    val slices = Seq.newBuilder[SampleSlice]
    var sample = 0
    var entry = 0
    var chunk = 1
    while (chunk <= chunkOffs.length) {
      while (entry + 1 < stsc.length && stsc(entry + 1)._1 <= chunk)
        entry += 1
      val spc = stsc(entry)._2
      var off = chunkOffs(chunk - 1)
      var k = 0
      while (k < spc) {
        require(sample < sizes.length,
          s"stsc expands past stsz: sample $sample of ${sizes.length}")
        slices += SampleSlice(sample, off, sizes(sample))
        off += sizes(sample)
        sample += 1
        k += 1
      }
      chunk += 1
    }
    require(sample == sizes.length,
      s"stsc expansion covered $sample of ${sizes.length} samples")
    val out = slices.result()
    out.foreach { s =>
      require(s.offset >= 0 && s.offset + s.size <= bytes.length,
        s"sample ${s.sample} spans [${s.offset}, ${s.offset + s.size}) " +
          s"past EOF ${bytes.length}")
    }
    (codec, out)
  }

  final case class AvcConfig(profile: Int, level: Int, lengthSize: Int,
      sps: Seq[Array[Byte]], pps: Seq[Array[Byte]])

  /** The avcC decoder configuration from the first avc1 sample entry
    * (ISO 14496-15 §5.3.3.1) — its lengthSizeMinusOne governs how
    * scanAvcc frames the mdat samples, and the inline SPS NALs carry
    * the stream geometry (H264Codec.parseSps). The child-box walk
    * starts after the 78 fixed VisualSampleEntry bytes (§12.1.3).
    * None when the track's first entry is not avc1 or carries no
    * avcC; loud on a malformed record. */
  def avcConfig(bytes: Array[Byte]): Option[AvcConfig] = {
    val r = new Boxes(bytes); import r._
    var found: Option[AvcConfig] = None
    require(bytes.length >= 8, s"not a BMFF file: ${bytes.length} bytes")
    walk(0, bytes.length, found.nonEmpty) { (t, bodyAt, bodyEnd, _) =>
      if (t == "stsd") {
        require(bodyAt + 16 <= bodyEnd, "stsd too small")
        if (typ(bodyAt + 12) == "avc1") {
          val entryAt = bodyAt + 8
          val entryEnd = entryAt + u32(entryAt).toInt
          require(entryEnd <= bodyEnd, "sample entry overruns stsd")
          var c = entryAt + 8 + 78 // past the VisualSampleEntry fields
          while (c + 8 <= entryEnd && found.isEmpty) {
            val csz = u32(c).toInt
            require(csz >= 8 && c + csz <= entryEnd,
              s"sample-entry child box at $c declares $csz bytes")
            if (typ(c + 4) == "avcC") {
              val at = c + 8
              require(at + 7 <= entryEnd, "avcC too small")
              require((bytes(at) & 0xff) == 1,
                s"avcC configurationVersion ${bytes(at) & 0xff}")
              val profile = bytes(at + 1) & 0xff
              val level = bytes(at + 3) & 0xff
              val lengthSize = (bytes(at + 4) & 3) + 1
              var p = at + 6
              def takeNals(count: Int): Seq[Array[Byte]] =
                (0 until count).map { _ =>
                  require(p + 2 <= entryEnd,
                    "avcC parameter-set length truncated")
                  val len = u16(p); p += 2
                  require(p + len <= entryEnd,
                    s"avcC parameter set of $len bytes overruns")
                  val a = java.util.Arrays.copyOfRange(bytes, p, p + len)
                  p += len
                  a
                }
              val sps = takeNals(bytes(at + 5) & 0x1f)
              require(p < entryEnd, "avcC missing numPPS")
              val nPps = bytes(p) & 0xff
              p += 1
              val pps = takeNals(nPps)
              found = Some(AvcConfig(profile, level, lengthSize,
                sps, pps))
            }
            c += csz
          }
        }
      }
    }
    found
  }

  /** Walk the box tree and report the routing metadata. Counts every
    * box the walker enumerates (containers recursed; sample entries
    * inside stsd are read for the fourcc but not counted as tree
    * boxes). */
  def census(bytes: Array[Byte]): Mp4Census = {
    var brand = ""; var handler = ""; var codec = ""
    var nBoxes = 0; var nSamples = -1L
    var timescale = -1L; var duration = -1L; var mdatBytes = -1L
    val r = new Boxes(bytes); import r._
    require(bytes.length >= 8, s"not a BMFF file: ${bytes.length} bytes")
    require(typ(4) == "ftyp" || typ(4) == "moov" || typ(4) == "mdat" ||
      typ(4) == "free" || typ(4) == "styp",
      s"not a BMFF file: leading box '${typ(4)}'")
    walk(0, bytes.length) { (t, bodyAt, bodyEnd, size) =>
      nBoxes += 1
      t match {
        case "ftyp" =>
          require(bodyAt + 4 <= bodyEnd, "ftyp too small")
          brand = typ(bodyAt)
        case "mvhd" =>
          // loud bound BEFORE the reads, like hdlr/stsd/stsz — a
          // truncated mvhd near EOF must refuse, not AIOOBE (r13
          // ADVICE); version 1 widens creation/modification/duration
          require(bodyAt + 4 <= bodyEnd, "mvhd too small")
          val v = bytes(bodyAt) & 0xff
          require(bodyAt + (if (v == 1) 32 else 20) <= bodyEnd,
            "mvhd too small")
          if (v == 1) {
            timescale = u32(bodyAt + 20); duration = u64(bodyAt + 24)
          } else {
            timescale = u32(bodyAt + 12); duration = u32(bodyAt + 16)
          }
        case "hdlr" =>
          require(bodyAt + 12 <= bodyEnd, "hdlr too small")
          handler = typ(bodyAt + 8)
        case "stsd" =>
          require(bodyAt + 16 <= bodyEnd, "stsd too small")
          require(u32(bodyAt + 4) >= 1, "stsd with no entries")
          codec = typ(bodyAt + 12) // first sample entry's fourcc
        case "stsz" =>
          require(bodyAt + 12 <= bodyEnd, "stsz too small")
          nSamples = u32(bodyAt + 8)
        case "mdat" =>
          mdatBytes = size
        case _ => ()
      }
    }
    require(brand.nonEmpty, "no ftyp box")
    require(timescale > 0, "no mvhd box")
    Mp4Census(brand, handler, codec, nBoxes, nSamples, timescale,
      duration, mdatBytes)
  }
}
