package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.multimodal.Zlib

/** Focused tests for the pooled zlib primitives — the r15 ADVICE items:
  * concatenated multi-member gzip must inflate transparently (Common
  * Crawl .warc.gz and pigz .tar.gz are routinely multi-member), a
  * preset-dictionary zlib stream must refuse loudly instead of spinning
  * the drain loop forever, and the synthesis-side level parameter must
  * not leak across pooled reuses. */
class ZlibSpec extends AnyFunSuite {

  private def utf8(s: String) = s.getBytes("UTF-8")

  test("gunzip inflates a concatenated multi-member stream") {
    val a = utf8("first member ")
    val b = utf8("second member ")
    val c = utf8("third")
    val cat = Zlib.gzip(a) ++ Zlib.gzip(b,
      java.util.zip.Deflater.BEST_SPEED) ++ Zlib.gzip(c)
    assert(new String(Zlib.gunzip(cat), "UTF-8") ==
      "first member second member third")
    // and the JDK agrees (GZIPInputStream reads concatenated members)
    val jdk = new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(cat)).readAllBytes()
    assert(java.util.Arrays.equals(jdk, Zlib.gunzip(cat)))
  }

  test("gunzip still refuses non-gzip trailing garbage loudly") {
    val one = Zlib.gzip(utf8("payload"))
    val ex = intercept[IllegalArgumentException] {
      Zlib.gunzip(one ++ Array[Byte](1, 2, 3))
    }
    assert(ex.getMessage.contains("after the gzip frame"))
    // a truncated SECOND member is a member error, not silence
    intercept[IllegalArgumentException] {
      Zlib.gunzip(one ++ one.take(12))
    }
  }

  test("gunzip validates every member's CRC, not just the first") {
    val one = Zlib.gzip(utf8("aaaa"))
    val two = Zlib.gzip(utf8("bbbb"))
    two(12) = (two(12) ^ 0x01).toByte // flip a deflate-body bit
    val ex = intercept[IllegalArgumentException] {
      Zlib.gunzip(one ++ two)
    }
    assert(ex.getMessage.contains("gzip") || ex.getMessage.contains("CRC"))
  }

  test("a corrupt later member is named with its number and offset") {
    val one = Zlib.gzip(utf8("aaaa"))
    val two = Zlib.gzip(utf8("bbbb"))
    two(two.length - 5) = (two(two.length - 5) ^ 0x01).toByte // CRC byte
    val ex = intercept[IllegalArgumentException] {
      Zlib.gunzip(one ++ two)
    }
    assert(ex.getMessage.contains(s"gzip member 2 at offset ${one.length}"),
      ex.getMessage)
    assert(ex.getMessage.contains("CRC"), ex.getMessage)
    // a corrupt FIRST member keeps its plain message
    val first = intercept[IllegalArgumentException] {
      Zlib.gunzip(two ++ one)
    }
    assert(!first.getMessage.contains("member"), first.getMessage)
  }

  test("preset-dictionary zlib streams refuse instead of hanging") {
    // build an RFC 1950 stream with FDICT set
    val d = new java.util.zip.Deflater(
      java.util.zip.Deflater.DEFAULT_COMPRESSION, false)
    d.setDictionary(utf8("dictdictdict"))
    d.setInput(utf8("dictdictdict and more"))
    d.finish()
    val buf = new Array[Byte](1 << 16)
    val n = d.deflate(buf)
    d.end()
    val stream = java.util.Arrays.copyOf(buf, n)
    assert((stream(1) & 0x20) != 0, "FDICT must be set in the test stream")
    val ex = intercept[IllegalArgumentException] {
      Zlib.inflate(stream, nowrap = false)
    }
    assert(ex.getMessage.contains("preset dictionary"))
  }

  test("pooled deflater does not leak a lowered level across uses") {
    val data = utf8(("the quick brown fox jumps over the lazy dog. " * 200))
    val default1 = Zlib.deflate(data)
    val fast = Zlib.deflate(data,
      level = java.util.zip.Deflater.BEST_SPEED)
    // pools are per level, so this reuses default1's deflater, not fast's
    val default2 = Zlib.deflate(data)
    assert(java.util.Arrays.equals(default1, default2),
      "default-level output must be byte-identical after a BEST_SPEED use")
    assert(java.util.Arrays.equals(Zlib.inflate(fast), data))
    // gzip stays byte-identical to GZIPOutputStream at the default
    // level EXCEPT the header's OS byte (offset 9), which is not
    // compared: the JDK's value depends on its version (0xff "unknown"
    // on JDK >= 16). Zlib's 0x00 is pinned because synthesized fixtures
    // have hashed over it since r15
    val bos = new java.io.ByteArrayOutputStream()
    val g = new java.util.zip.GZIPOutputStream(bos)
    g.write(data); g.close()
    val jdk = bos.toByteArray
    val ours = Zlib.gzip(data)
    assert(ours.length == jdk.length)
    assert(java.util.Arrays.equals(ours, 10, ours.length,
      jdk, 10, jdk.length), "deflate body + trailer must match the JDK")
    assert(java.util.Arrays.equals(ours, 0, 9, jdk, 0, 9),
      "header fields before the OS byte must match the JDK")
    assert(ours(9) == 0)
  }
}
