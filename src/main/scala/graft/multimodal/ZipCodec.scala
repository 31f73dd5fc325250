package graft.multimodal

import java.io.ByteArrayOutputStream
import java.util.zip.CRC32

/** ZIP archive census from the CENTRAL DIRECTORY — the authoritative
  * view (APPNOTE.TXT / ISO 21320-1: readers shall locate members via
  * the end-of-central-directory record, not by scanning local
  * headers). The distinction is a real attack surface: streaming
  * extractors that trust LOCAL file headers can be shown different
  * names/sizes than directory-driven readers see — the classic zip
  * parser-differential used to smuggle content past corpus filters.
  * The census walks the EOCD → central directory → each entry's
  * local header and REPORTS the disagreements instead of silently
  * picking a side. STORE and DEFLATE methods are recognized; the
  * census never decompresses member data. [[read]] does, for one
  * entry the census returned: the bytes the DIRECTORY points at, so
  * every reader in the engine (the OOXML codecs, DocParse's sniff)
  * sees the one view the census reports.
  *
  * zip64 (r15 — archives >4 GiB or >65535 entries, real at 100 TB
  * shard scale, APPNOTE §4.3.14/4.5.3): when any EOCD field is at its
  * sentinel (0xffff counts / 0xffffffff size or offset) the census
  * locates the zip64 EOCD record through the locator that precedes
  * the EOCD and reads the 64-bit values there; a central entry whose
  * csize/usize/local-offset is 0xffffffff defers to the 0x0001 extra
  * field, APPNOTE field order. Loud on a sentinel with no locator, a
  * bad locator/record signature, a multi-disk archive, or a sentinel
  * entry whose extra field lacks the value. Synthetic fixtures plant
  * the zip64 SHAPE with small real values — a writer may use zip64
  * framing whenever it likes, so the reader path is exercised without
  * a 4 GiB fixture. Loud on a missing EOCD, signature or bound
  * violations. Per-row executor work, scan-fused. */
object ZipCodec {

  /** One central-directory entry; `dataAt` is where its member data
    * starts, past the local header it points at. */
  final case class ZipEntry(name: String, method: Int, csize: Long,
      usize: Long, crc: Long, localMismatch: Boolean, dataAt: Long)

  private val LocalSig = 0x04034b50L
  private val CentralSig = 0x02014b50L
  private val EocdSig = 0x06054b50L
  private val Eocd64Sig = 0x06064b50L
  private val Eocd64LocSig = 0x07064b50L

  /** Synthesize a STORE-only zip: local headers + data, central
    * directory, EOCD (optionally with a trailing comment — the shape
    * that forces a real backward EOCD search). `tamperLocal` rewrites
    * that member's LOCAL-header name in place (same length, central
    * directory untouched) — the parser-differential fixture.
    * `zip64` emits the zip64 EOCD record + locator with the classic
    * EOCD fields at their sentinels; `zip64SizeEvery` > 0 additionally
    * routes every n-th entry's central sizes through the 0x0001 extra
    * field (central fields at 0xffffffff, locals real). */
  def synth(members: Seq[(String, Array[Byte])],
      comment: String = "", tamperLocal: Option[Int] = None,
      zip64: Boolean = false, zip64SizeEvery: Int = 0)
      : Array[Byte] = {
    val out = new ByteArrayOutputStream()
    def u16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    def u32(v: Long): Unit = {
      out.write((v & 0xff).toInt); out.write(((v >> 8) & 0xff).toInt)
      out.write(((v >> 16) & 0xff).toInt)
      out.write(((v >> 24) & 0xff).toInt)
    }
    def u64(v: Long): Unit = { u32(v & 0xffffffffL); u32(v >>> 32) }
    val locals = members.map { case (name, data) =>
      val nameBytes = name.getBytes("US-ASCII")
      val crc = new CRC32()
      crc.update(data)
      val at = out.size()
      u32(LocalSig); u16(20); u16(0); u16(0) // version, flags, method
      u16(0); u16(0x21) // dos time, date
      u32(crc.getValue)
      u32(data.length.toLong); u32(data.length.toLong)
      u16(nameBytes.length); u16(0)
      out.write(nameBytes)
      out.write(data)
      (at, crc.getValue)
    }
    val cdAt = out.size()
    members.zip(locals).zipWithIndex.foreach {
      case (((name, data), (at, crc)), k) =>
        val nameBytes = name.getBytes("US-ASCII")
        val viaExtra = zip64 && zip64SizeEvery > 0 &&
          k % zip64SizeEvery == 0
        u32(CentralSig); u16(if (viaExtra) 45 else 20)
        u16(if (viaExtra) 45 else 20); u16(0); u16(0)
        u16(0); u16(0x21)
        u32(crc)
        if (viaExtra) { u32(0xffffffffL); u32(0xffffffffL) }
        else { u32(data.length.toLong); u32(data.length.toLong) }
        u16(nameBytes.length)
        u16(if (viaExtra) 20 else 0) // extra length
        u16(0)
        u16(0); u16(0); u32(0L) // disk, internal, external attrs
        u32(at.toLong)
        out.write(nameBytes)
        if (viaExtra) {
          // 0x0001 extra: usize, csize (APPNOTE order — only the
          // sentinel fields appear, and both sizes are sentinel here)
          u16(0x0001); u16(16)
          u64(data.length.toLong); u64(data.length.toLong)
        }
    }
    val cdSize = out.size() - cdAt
    val commentBytes = comment.getBytes("US-ASCII")
    if (zip64) {
      val z64At = out.size()
      u32(Eocd64Sig); u64(44L) // size of remainder (fixed v1 part)
      u16(45); u16(45) // version made by / needed
      u32(0L); u32(0L) // this disk / cd disk
      u64(members.length.toLong); u64(members.length.toLong)
      u64(cdSize.toLong); u64(cdAt.toLong)
      u32(Eocd64LocSig); u32(0L); u64(z64At.toLong); u32(1L)
      u32(EocdSig); u16(0); u16(0)
      u16(0xffff); u16(0xffff)
      u32(0xffffffffL); u32(0xffffffffL)
      u16(commentBytes.length)
      out.write(commentBytes)
    } else {
      u32(EocdSig); u16(0); u16(0)
      u16(members.length); u16(members.length)
      u32(cdSize.toLong); u32(cdAt.toLong)
      u16(commentBytes.length)
      out.write(commentBytes)
    }
    val bytes = out.toByteArray
    tamperLocal.foreach { k =>
      val (at, _) = locals(k)
      val nameAt = at + 30
      val nameBytes = members(k)._1.getBytes("US-ASCII")
      // same-length rewrite: reverse the name in the LOCAL header only
      var i = 0
      while (i < nameBytes.length) {
        bytes(nameAt + i) = nameBytes(nameBytes.length - 1 - i)
        i += 1
      }
    }
    bytes
  }

  /** Walk EOCD (through the zip64 locator when the classic fields are
    * at their sentinels) → central directory; verify each entry's
    * local header and flag name/method/size disagreements. */
  def census(bytes: Array[Byte]): Seq[ZipEntry] = {
    def u16(at: Int): Int =
      (bytes(at) & 0xff) | ((bytes(at + 1) & 0xff) << 8)
    def u32(at: Int): Long =
      (bytes(at) & 0xffL) | ((bytes(at + 1) & 0xffL) << 8) |
        ((bytes(at + 2) & 0xffL) << 16) | ((bytes(at + 3) & 0xffL) << 24)
    def u64(at: Int): Long = u32(at) | (u32(at + 4) << 32)
    // EOCD: backward search bounded by the max 65535-byte comment;
    // the candidate must CLAIM exactly the comment bytes that remain
    // (a stray signature inside member data can't satisfy that)
    require(bytes.length >= 22, s"not a zip: ${bytes.length} bytes")
    var eocd = -1
    var i = bytes.length - 22
    val lo = math.max(0, bytes.length - 22 - 65535)
    while (eocd < 0 && i >= lo) {
      if (u32(i) == EocdSig && i + 22 + u16(i + 20) == bytes.length)
        eocd = i
      else i -= 1
    }
    require(eocd >= 0, "no end-of-central-directory record")
    var n = u16(eocd + 10).toLong
    require(n == u16(eocd + 8),
      "multi-disk zip — outside the perimeter")
    var cdSize = u32(eocd + 12)
    var cdAt = u32(eocd + 16)
    // cd must end before whatever follows it: the zip64 EOCD record
    // when present, the classic EOCD otherwise
    var cdBound = eocd
    if (n == 0xffffL || cdSize == 0xffffffffL || cdAt == 0xffffffffL) {
      // sentinel EOCD → the zip64 EOCD locator sits immediately
      // before it (APPNOTE §4.3.15)
      require(eocd >= 20, "sentinel EOCD with no room for a locator")
      val loc = eocd - 20
      require(u32(loc) == Eocd64LocSig,
        "sentinel EOCD fields but no zip64 EOCD locator")
      require(u32(loc + 4) == 0 && u32(loc + 16) == 1,
        "multi-disk zip64 — outside the perimeter")
      val z64 = u64(loc + 8)
      require(z64 >= 0 && z64 + 56 <= loc,
        s"zip64 EOCD offset $z64 out of bounds")
      val za = z64.toInt
      require(u32(za) == Eocd64Sig,
        s"bad zip64 EOCD signature at offset $za")
      n = u64(za + 24)
      require(n == u64(za + 32),
        "multi-disk zip64 entry counts — outside the perimeter")
      cdSize = u64(za + 40)
      cdAt = u64(za + 48)
      cdBound = za
    }
    require(cdAt + cdSize <= cdBound,
      s"central directory [$cdAt, ${cdAt + cdSize}) overlaps the " +
        "directory-end records")
    val entries = Seq.newBuilder[ZipEntry]
    var pos = cdAt.toInt
    var k = 0L
    while (k < n) {
      require(pos + 46 <= cdBound,
        s"truncated central entry at offset $pos")
      require(u32(pos) == CentralSig,
        s"bad central-directory signature at offset $pos")
      val method = u16(pos + 10)
      val crc = u32(pos + 16)
      var csize = u32(pos + 20)
      var usize = u32(pos + 24)
      val nameLen = u16(pos + 28)
      val extraLen = u16(pos + 30)
      val cmtLen = u16(pos + 32)
      var localAt = u32(pos + 42)
      require(pos + 46 + nameLen + extraLen <= cdBound,
        s"central entry name/extra overruns at offset $pos")
      val name = new String(bytes, pos + 46, nameLen, "US-ASCII")
      // sentinel fields defer to the 0x0001 extra, APPNOTE §4.5.3
      // field order: usize, csize, local offset, disk — each present
      // only when its central field is at the sentinel
      if (csize == 0xffffffffL || usize == 0xffffffffL ||
          localAt == 0xffffffffL) {
        var ea = pos + 46 + nameLen
        val eEnd = ea + extraLen
        var found = false
        while (!found && ea + 4 <= eEnd) {
          val id = u16(ea); val sz = u16(ea + 2)
          require(ea + 4 + sz <= eEnd,
            s"entry '$name' extra field overruns at offset $ea")
          if (id == 0x0001) {
            found = true
            var va = ea + 4
            val vEnd = ea + 4 + sz
            def take64(what: String): Long = {
              require(va + 8 <= vEnd,
                s"entry '$name' zip64 extra lacks its $what")
              val v = u64(va); va += 8; v
            }
            if (usize == 0xffffffffL) usize = take64("usize")
            if (csize == 0xffffffffL) csize = take64("csize")
            if (localAt == 0xffffffffL) localAt = take64("local offset")
          } else ea += 4 + sz
        }
        require(found,
          s"entry '$name' has sentinel sizes but no 0x0001 extra")
      }
      // the local header this entry points at: verify and diff
      require(localAt + 30 <= bytes.length && u32(localAt.toInt) == LocalSig,
        s"entry '$name' points at offset $localAt with no local header")
      val la = localAt.toInt
      val lMethod = u16(la + 8)
      val lCsize = u32(la + 18)
      val lUsize = u32(la + 22)
      val lNameLen = u16(la + 26)
      require(la + 30 + lNameLen <= bytes.length,
        s"local header name overruns at offset $la")
      val lName = new String(bytes, la + 30, lNameLen, "US-ASCII")
      val mismatch = lName != name || lMethod != method ||
        lCsize != csize || lUsize != usize
      val dataAt = la + 30L + lNameLen + u16(la + 28)
      require(dataAt + csize <= bytes.length,
        s"entry '$name' data runs past EOF")
      entries += ZipEntry(name, method, csize, usize, crc, mismatch,
        dataAt)
      pos += 46 + nameLen + extraLen + cmtLen
      k += 1
    }
    require(pos == (cdAt + cdSize).toInt,
      s"central directory walk overran: $pos vs ${cdAt + cdSize}")
    entries.result()
  }

  /** The member bytes of entry `e` of `bytes` (an entry [[census]]
    * returned): STORE copied, DEFLATE inflated with the entry's usize
    * as the bound, then checked against the directory's usize and
    * CRC-32. Loud on any other method or a mismatch. */
  def read(bytes: Array[Byte], e: ZipEntry): Array[Byte] = {
    require(e.usize <= Int.MaxValue - 8,
      s"entry '${e.name}' declares ${e.usize} bytes, past an array")
    val data = java.util.Arrays.copyOfRange(bytes, e.dataAt.toInt,
      (e.dataAt + e.csize).toInt)
    val out = e.method match {
      case 0 => data
      case 8 => Zlib.inflate(data, nowrap = true, size = e.usize.toInt)
      case m => throw new IllegalArgumentException(
        s"entry '${e.name}' uses method $m — only STORE (0) and DEFLATE (8)")
    }
    require(out.length == e.usize,
      s"entry '${e.name}' holds ${out.length} bytes, directory says ${e.usize}")
    val crc = new CRC32(); crc.update(out)
    require(crc.getValue == e.crc, s"entry '${e.name}' fails its CRC-32")
    out
  }
}
