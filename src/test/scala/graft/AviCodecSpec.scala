package graft

import graft.multimodal.AviCodec
import org.scalatest.funsuite.AnyFunSuite

/** Uncompressed-DIB AVI codec perimeter: lossless frame roundtrip with
  * a PADDED stride and bottom-up rows (distinct per-row bytes so a
  * flip or stride slip shifts values), unknown-chunk skipping, and
  * loud rejection of compressed/deep shapes. */
class AviCodecSpec extends AnyFunSuite {

  // w=5 -> 15-byte rows padded to 16; every byte distinct per position
  private def frame(seed: Int): Array[Byte] =
    Array.tabulate(45)(p => ((seed * 31 + p * 7) & 0xff).toByte)

  test("multi-frame roundtrip: geometry, fps, every byte, frame order") {
    val fs = (0 until 4).map(frame)
    val (w, h, fps, back) = AviCodec.decodeDib24(
      AviCodec.encodeDib24(5, 3, fs, 10))
    assert(w == 5 && h == 3 && fps == 10 && back.size == 4)
    fs.zip(back).foreach { case (a, b) => assert(a.toSeq == b.toSeq) }
  }

  test("stride-aligned width (w=4) also roundtrips") {
    val f = Array.tabulate(36)(p => (p * 11 & 0xff).toByte)
    val (w, h, _, back) = AviCodec.decodeDib24(
      AviCodec.encodeDib24(4, 3, Seq(f), 25))
    assert(w == 4 && h == 3 && back.head.toSeq == f.toSeq)
  }

  test("unknown chunk inside movi is skipped by declared size") {
    val fs = Seq(frame(1), frame(2))
    val avi = AviCodec.encodeDib24(5, 3, fs, 10)
    // splice a JUNK chunk right after the 'movi' list type tag
    val moviAt = {
      var i = 0
      var found = -1
      while (found < 0 && i < avi.length - 4) {
        if (avi(i) == 'm' && avi(i + 1) == 'o' && avi(i + 2) == 'v' &&
          avi(i + 3) == 'i') found = i
        i += 1
      }
      found
    }
    assert(moviAt > 0)
    val junk = "JUNK".getBytes("US-ASCII") ++ Array[Byte](4, 0, 0, 0) ++
      Array[Byte](9, 9, 9, 9)
    val spliced = avi.take(moviAt + 4) ++ junk ++ avi.drop(moviAt + 4)
    def patchLE(arr: Array[Byte], at: Int, v: Int): Unit =
      for (i <- 0 until 4) arr(at + i) = ((v >> (8 * i)) & 0xff).toByte
    patchLE(spliced, 4, spliced.length - 8) // RIFF size
    patchLE(spliced, moviAt - 4, // movi LIST size grows by the splice
      java.nio.ByteBuffer.wrap(avi, moviAt - 4, 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt + junk.length)
    val (_, _, _, back) = AviCodec.decodeDib24(spliced)
    assert(back.size == 2 && back.head.toSeq == frame(1).toSeq)
  }

  test("loud throws outside the perimeter") {
    assertThrows[IllegalArgumentException](
      AviCodec.decodeDib24("RIFFxxxxWAVE".getBytes("US-ASCII")))
    val ok = AviCodec.encodeDib24(5, 3, Seq(frame(0)), 10)
    // compressed frame chunk: rewrite 00db -> 00dc
    val comp = ok.clone()
    var i = 0
    while (i < comp.length - 4) {
      if (comp(i) == '0' && comp(i + 1) == '0' && comp(i + 2) == 'd' &&
        comp(i + 3) == 'b') { comp(i + 3) = 'c'; i = comp.length }
      i += 1
    }
    assertThrows[IllegalArgumentException](AviCodec.decodeDib24(comp))
    // cut inside the first chunk's tag: the same refusal as MJPG/census
    val cut = intercept[IllegalArgumentException](
      AviCodec.decodeDib24(ok.take(14)))
    assert(cut.getMessage.startsWith("truncated AVI"))
  }

  // --------------------------------------------------------------- MJPG

  /** block-constant 16×8 gray frame (two 8×8 blocks: va then vb) — the
    * JPEG exact-roundtrip subspace, so MJPG frames survive bit-for-bit. */
  private def grayFrame(va: Int, vb: Int): Array[Byte] =
    Array.tabulate(16 * 8) { i =>
      (if ((i % 16) < 8) va else vb).toByte
    }

  test("MJPG roundtrip: block-constant frames survive the lossy codec") {
    val fs = Seq(grayFrame(10, 200), grayFrame(99, 3), grayFrame(128, 128))
    val avi = AviCodec.encodeMjpg(16, 8, fs, 25)
    val (w, h, fps, back) = AviCodec.decodeMjpg(avi)
    assert(w == 16 && h == 8 && fps == 25 && back.size == 3)
    fs.zip(back).foreach { case (a, b) => assert(a.toSeq == b.toSeq) }
  }

  test("MJPG frames are real JPEGs (SOI inside the 00dc payload)") {
    val avi = AviCodec.encodeMjpg(16, 8, Seq(grayFrame(1, 2)), 10)
    // find the 00dc chunk and check its payload starts FF D8
    var i = 0
    var at = -1
    while (at < 0 && i < avi.length - 4) {
      if (avi(i) == '0' && avi(i + 1) == '0' && avi(i + 2) == 'd' &&
        avi(i + 3) == 'c') at = i
      i += 1
    }
    assert(at > 0)
    assert((avi(at + 8) & 0xff) == 0xff && (avi(at + 9) & 0xff) == 0xd8)
  }

  test("MJPG perimeter: foreign fourcc and cross-path chunks refuse") {
    // H.264 fourcc in strf refuses with the fourcc named
    val avi = AviCodec.encodeMjpg(16, 8, Seq(grayFrame(7, 8)), 10)
    val h264 = avi.clone()
    var i = 0
    while (i < h264.length - 4) {
      if (h264(i) == 'M' && h264(i + 1) == 'J' && h264(i + 2) == 'P' &&
        h264(i + 3) == 'G' && i > 100) { // the strf one, not strh handler
        h264(i) = 'H'; h264(i + 1) = '2'; h264(i + 2) = '6'; h264(i + 3) = '4'
      }
      i += 1
    }
    val e = intercept[IllegalArgumentException](AviCodec.decodeMjpg(h264))
    assert(e.getMessage.contains("H264"), e.getMessage)
    // a DIB stream through the MJPG decoder refuses (00db + BI_RGB)
    val dib = AviCodec.encodeDib24(5, 3, Seq(frame(3)), 10)
    intercept[IllegalArgumentException](AviCodec.decodeMjpg(dib))
    // an MJPG stream through the DIB decoder refuses (00dc)
    intercept[IllegalArgumentException](AviCodec.decodeDib24(avi))
    // truncations refuse with the standard exception type: mid-chunk
    // (declared size past the buffer) and mid-TAG (14 bytes leaves 2
    // bytes of a 4-byte tag — the BufferUnderflow path)
    intercept[IllegalArgumentException](
      AviCodec.decodeMjpg(avi.take(avi.length - 3)))
    intercept[IllegalArgumentException](AviCodec.decodeMjpg(avi.take(14)))
  }
}
