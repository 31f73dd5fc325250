package graft

import graft.multimodal.Mp3Codec

/** MP3 frame census: synth→scan fidelity across the bitrate/padding
  * grid, ID3v2 skip, and the loud perimeter (free-format, MPEG-2,
  * Layer I/II, desync, truncation). */
class Mp3CodecSpec extends org.scalatest.funsuite.AnyFunSuite {

  test("synth→scan recovers every frame across the full bitrate grid") {
    val specs = for (bi <- 1 to 14; pad <- Seq(false, true)) yield (bi, pad)
    val bytes = Mp3Codec.synth(specs)
    val frames = Mp3Codec.scan(bytes)
    assert(frames.length == specs.length)
    var off = 0L
    frames.zip(specs).foreach { case (f, (bi, pad)) =>
      assert(f.bitrateKbps == Mp3Codec.BitrateKbps(bi))
      assert(f.sampleRateHz == 44100)
      assert(f.padded == pad)
      assert(f.offset == off)
      assert(f.frameBytes ==
        Mp3Codec.frameLength(f.bitrateKbps, 44100, pad))
      off += f.frameBytes
    }
    assert(off == bytes.length)
  }

  test("frame length formula matches the published table anchors") {
    // 128 kbps @ 44100: 144000*128/44100 = 417 (+1 padded)
    assert(Mp3Codec.frameLength(128, 44100, padded = false) == 417)
    assert(Mp3Codec.frameLength(128, 44100, padded = true) == 418)
    // 320 kbps @ 48000: 144000*320/48000 = 960
    assert(Mp3Codec.frameLength(320, 48000, padded = false) == 960)
    // 32 kbps @ 32000: 144
    assert(Mp3Codec.frameLength(32, 32000, padded = false) == 144)
  }

  test("ID3v2 tag is skipped by its syncsafe size") {
    val bytes = Mp3Codec.synth(Seq((5, false), (9, true)), id3Bytes = 1000)
    val frames = Mp3Codec.scan(bytes)
    assert(frames.length == 2)
    assert(frames.head.offset == 1010) // 10-byte header + 1000 payload
  }

  test("all three sample rates scan correctly") {
    for (si <- 0 to 2) {
      val frames = Mp3Codec.scan(Mp3Codec.synth(Seq((7, false)), si))
      assert(frames.head.sampleRateHz == Mp3Codec.SampleRateHz(si))
    }
  }

  test("ID3v2 text frames roundtrip: versions 3/4, all four encodings") {
    for (version <- Seq(3, 4); enc <- 0 to 3) {
      val tag = Mp3Codec.encodeId3(Seq(
        ("TIT2", "Søngs & Títles 标题", enc),
        ("TPE1", "The Artist", enc),
        ("TALB", "Album 9", enc)), version)
      val id3 = Mp3Codec.parseId3(tag).get
      assert(id3.version == version)
      val expectTitle = if (enc == 0) // latin-1 cannot carry CJK
        new String("Søngs & Títles 标题".getBytes("ISO-8859-1"),
          "ISO-8859-1")
      else "Søngs & Títles 标题"
      assert(id3.frames("TIT2") == expectTitle, s"v$version enc$enc")
      assert(id3.frames("TPE1") == "The Artist")
      assert(id3.frames("TALB") == "Album 9")
    }
  }

  test("ID3 tag followed by frames: parseId3 and scan both read it") {
    val tag = Mp3Codec.encodeId3(Seq(("TIT2", "Combined", 0)))
    val stream = tag ++ Mp3Codec.synth(Seq((7, false), (9, true)))
    assert(Mp3Codec.parseId3(stream).get.frames("TIT2") == "Combined")
    val frames = Mp3Codec.scan(stream)
    assert(frames.length == 2 && frames.head.offset == tag.length)
  }

  test("ID3 parse perimeter: no tag -> None, corrupt -> loud") {
    assert(Mp3Codec.parseId3(Mp3Codec.synth(Seq((5, false)))).isEmpty)
    val tag = Mp3Codec.encodeId3(Seq(("TIT2", "x", 0)))
    // corrupt the frame id
    val bad = tag.clone(); bad(10) = '!'
    intercept[IllegalArgumentException](Mp3Codec.parseId3(bad))
    // frame size past the tag
    val oversize = tag.clone(); oversize(17) = 0x7f
    intercept[IllegalArgumentException](Mp3Codec.parseId3(oversize))
    // unsupported version
    val v2 = tag.clone(); v2(3) = 2
    intercept[IllegalArgumentException](Mp3Codec.parseId3(v2))
    // hostile v2.3 frame size near 2^31: the Int sum pos+10+fsize
    // would wrap negative and slip an Int-arithmetic bound check
    // (r12 advice) — must still refuse loudly, not throw a raw
    // StringIndexOutOfBoundsException
    val huge = Mp3Codec.encodeId3(Seq(("TIT2", "x", 0)), version = 3)
    huge(14) = 0x7f.toByte; huge(15) = 0xff.toByte
    huge(16) = 0xff.toByte; huge(17) = 0xff.toByte // fsize = Int.Max
    val e = intercept[IllegalArgumentException](Mp3Codec.parseId3(huge))
    assert(e.getMessage.contains("past the tag"), e.getMessage)
  }

  test("perimeter: free-format, MPEG-2, Layer II, desync, truncation") {
    val good = Mp3Codec.synth(Seq((7, false)))
    // truncate mid-frame
    intercept[IllegalArgumentException](
      Mp3Codec.scan(good.take(good.length - 3)))
    // free-format (bitrate index 0)
    val free = good.clone(); free(2) = (free(2) & 0x0f).toByte
    intercept[IllegalArgumentException](Mp3Codec.scan(free))
    // MPEG-2 (version bits 10)
    val v2 = good.clone(); v2(1) = 0xf3.toByte
    intercept[IllegalArgumentException](Mp3Codec.scan(v2))
    // Layer II (layer bits 10)
    val l2 = good.clone(); l2(1) = 0xfd.toByte
    intercept[IllegalArgumentException](Mp3Codec.scan(l2))
    // garbage
    intercept[IllegalArgumentException](
      Mp3Codec.scan("not an mp3 stream".getBytes))
  }
}
