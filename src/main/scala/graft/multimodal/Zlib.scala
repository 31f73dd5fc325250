package graft.multimodal

import java.util.zip.{CRC32, DataFormatException, Deflater, Inflater}

/** Pooled zlib primitives for the per-row codec paths.
  *
  * Every `new Deflater` / `new Inflater` (and every `GZIPOutputStream`
  * / `GZIPInputStream`, which allocate one internally) mallocs a native
  * zlib context (~tens of KB) that is freed either by an explicit
  * `end()` or — for the unclosed-stream pattern — by a Cleaner after
  * GC. The census/crawl queries construct these PER PAGE or PER MEMBER
  * (q306 alone: ~1.5M per bench run after the content-coding change),
  * and the malloc/free + cleaner churn dominated their task time
  * (measured: q306 at 619 task-seconds, 31 s of it GC, in
  * bench/r15opt_base1.json). These helpers keep ONE reusable context
  * per (thread, wrap-mode), `reset()` between uses — the guide §4.5
  * "initialise heavyweight state once per task" rule applied to native
  * resources. Nested use on one thread (an inflate inside an inflate)
  * falls back to a bounded per-thread stack, never to shared state.
  *
  * Byte-compatibility: [[gzip]] emits the bytes
  * `java.util.zip.GZIPOutputStream` emits (default-level raw deflate,
  * CRC32 + ISIZE trailer) except the header's OS byte — the JDK writes
  * 0xff (unknown), this writes 0x00; both valid RFC 1952, and the 0x00
  * is pinned because synthesized fixtures have hashed over it since
  * r15 (asserted byte-for-byte in ZlibSpec).
  * [[gunzip]] enforces the RFC 1952 frame (magic, method 8, optional
  * FEXTRA/FNAME/FCOMMENT/FHCRC fields, CRC32 and ISIZE trailer) and
  * throws IllegalArgumentException on any corruption — the codec
  * family's loud-refusal convention.
  */
object Zlib {

  private final class Pool[T](make: () => T, clear: T => Unit) {
    private val tl = new ThreadLocal[java.util.ArrayDeque[T]] {
      override def initialValue() = new java.util.ArrayDeque[T](4)
    }
    def withOne[R](f: T => R): R = {
      val stack = tl.get()
      val t = { val p = stack.pollFirst(); if (p != null) p else make() }
      try f(t)
      finally {
        clear(t)
        if (stack.size < 4) stack.addFirst(t)
        // else drop the reference; native memory is freed by the cleaner
      }
    }
  }

  // nowrap = raw RFC 1951 stream (what the gzip frame carries);
  // wrapped = RFC 1950 zlib (what PDF FlateDecode / PNG IDAT carry).
  // Pools are keyed by (nowrap, level) and each instance is CONSTRUCTED
  // at its level, never switched: Deflater.setLevel routes through
  // zlib's deflateParams, whose mid-life semantics (JDK: "the new level
  // takes effect only after" pending input drains) make same-level
  // output reproducibility depend on pool history — a per-level pool
  // sidesteps the whole question (ZlibSpec pins default-level bytes).
  private val deflPools =
    new java.util.concurrent.ConcurrentHashMap[(Boolean, Int),
      Pool[Deflater]]()
  private def deflPool(nowrap: Boolean, level: Int): Pool[Deflater] =
    deflPools.computeIfAbsent((nowrap, level),
      { case (nw, lv) => new Pool[Deflater](
        () => new Deflater(lv, nw), _.reset()) })
  private val inflRaw = new Pool[Inflater](() => new Inflater(true), _.reset())
  private val inflZlib = new Pool[Inflater](() => new Inflater(false),
    _.reset())

  /** Run `f` with a pooled Deflater (reset before reuse; constructed at
    * `level`). The deflater must be fully drained inside `f`; do not
    * call `end()` on it. */
  def withDeflater[R](nowrap: Boolean,
      level: Int = Deflater.DEFAULT_COMPRESSION)(f: Deflater => R): R =
    deflPool(nowrap, level).withOne(f)

  /** Run `f` with a pooled Inflater (reset before reuse). Do not call
    * `end()` on it. */
  def withInflater[R](nowrap: Boolean)(f: Inflater => R): R =
    (if (nowrap) inflRaw else inflZlib).withOne(f)

  /** One-shot deflate. `nowrap=false` = zlib-wrapped (RFC 1950) —
    * byte-identical to `new Deflater()` drained the same way at the
    * default level. `level` may be lowered by SYNTHESIS-side callers
    * (fixture archives whose downstream census never observes the
    * compressed bytes — the decoded content is identical at any
    * level); PARSE-side behaviour never depends on it. Each level has
    * its own pool — see the pool note above. */
  def deflate(data: Array[Byte], nowrap: Boolean = false,
      level: Int = Deflater.DEFAULT_COMPRESSION): Array[Byte] =
    withDeflater(nowrap, level) { d =>
      d.setInput(data); d.finish()
      val out = new java.io.ByteArrayOutputStream(
        math.max(64, data.length / 2))
      val buf = new Array[Byte](8192)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      out.toByteArray
    }

  /** One-shot inflate. Throws IllegalArgumentException on a corrupt or
    * truncated stream. */
  def inflate(data: Array[Byte], nowrap: Boolean = false,
      sizeHint: Int = 0): Array[Byte] =
    withInflater(nowrap) { i =>
      i.setInput(data)
      try {
        val out = new java.io.ByteArrayOutputStream(
          math.max(64, if (sizeHint > 0) sizeHint else data.length * 4))
        val buf = new Array[Byte](8192)
        var n = i.inflate(buf)
        while (n > 0 || (!i.finished() && !i.needsInput())) {
          // a zlib header with FDICT set makes inflate return 0 with
          // finished=false, needsInput=false forever — fail loudly
          // instead of spinning (reachable from a WARC
          // Content-Encoding: deflate body)
          require(!i.needsDictionary(), "preset dictionary unsupported")
          out.write(buf, 0, n); n = i.inflate(buf)
        }
        require(i.finished(), "truncated deflate stream")
        out.toByteArray
      } catch { case e: DataFormatException =>
        throw new IllegalArgumentException(
          s"corrupt deflate stream: ${e.getMessage}")
      }
    }

  /** RFC 1952 gzip — same bytes as GZIPOutputStream at the default
    * level except the header's OS byte (header
    * 1f 8b 08 00 00000000 00 00 — the JDK writes OS=ff; see the
    * object doc), raw deflate, CRC32 + ISIZE little-endian. */
  def gzip(data: Array[Byte],
      level: Int = Deflater.DEFAULT_COMPRESSION): Array[Byte] = {
    val body = deflate(data, nowrap = true, level = level)
    val out = new Array[Byte](10 + body.length + 8)
    out(0) = 0x1f.toByte; out(1) = 0x8b.toByte; out(2) = 8
    // FLG, MTIME(4), XFL, OS all zero (the JDK writes OS=0xff;
    // 0x00 is pinned — fixtures have hashed over it since r15)
    System.arraycopy(body, 0, out, 10, body.length)
    val crc = new CRC32(); crc.update(data)
    val c = crc.getValue; val isize = data.length.toLong
    var p = 10 + body.length
    var k = 0
    while (k < 4) { out(p) = ((c >> (8 * k)) & 0xff).toByte; p += 1; k += 1 }
    k = 0
    while (k < 4) {
      out(p) = ((isize >> (8 * k)) & 0xff).toByte; p += 1; k += 1
    }
    out
  }

  /** RFC 1952 gunzip with full frame validation; refuses loudly
    * (IllegalArgumentException) on bad magic, truncation, a CRC or
    * ISIZE mismatch, or non-gzip trailing garbage. Concatenated
    * multi-member streams (RFC 1952 §2.2 allows them; Common Crawl
    * writes one member per WARC record, pigz/WebDataset shards are
    * routinely multi-member) inflate transparently: after a member's
    * trailer validates, bytes beginning with the 1f 8b magic start the
    * next member and the outputs concatenate — the behaviour of the
    * GZIPInputStream code this replaced (r15 ADVICE). A failure in a
    * later member says which: "gzip member N at offset X: …". */
  def gunzip(data: Array[Byte]): Array[Byte] = {
    require(data.length >= 18, s"gzip frame of ${data.length} bytes")
    val all = new java.io.ByteArrayOutputStream(
      math.max(64, data.length * 4))
    var pos = 0
    var members = 0
    while (members == 0 || (pos + 1 < data.length &&
        (data(pos) & 0xff) == 0x1f && (data(pos + 1) & 0xff) == 0x8b)) {
      pos = try gunzipMember(data, pos, all) catch {
        case e: IllegalArgumentException if members > 0 =>
          throw new IllegalArgumentException(
            s"gzip member ${members + 1} at offset $pos: ${e.getMessage}", e)
      }
      members += 1
    }
    require(pos == data.length,
      s"${data.length - pos} bytes after the gzip frame")
    all.toByteArray
  }

  /** Inflate ONE member starting at `start`, append its output to
    * `all`, validate its CRC32/ISIZE trailer, return the offset just
    * past the trailer. */
  private def gunzipMember(data: Array[Byte], start: Int,
      all: java.io.ByteArrayOutputStream): Int = {
    require(start + 18 <= data.length,
      s"truncated gzip member at offset $start")
    require((data(start) & 0xff) == 0x1f && (data(start + 1) & 0xff) == 0x8b,
      "not a gzip stream (bad magic)")
    require((data(start + 2) & 0xff) == 8,
      s"gzip method ${data(start + 2) & 0xff} != 8")
    val flg = data(start + 3) & 0xff
    var pos = start + 10
    if ((flg & 4) != 0) { // FEXTRA
      require(pos + 2 <= data.length, "truncated gzip FEXTRA")
      val xlen = (data(pos) & 0xff) | ((data(pos + 1) & 0xff) << 8)
      pos += 2 + xlen
    }
    if ((flg & 8) != 0) { // FNAME, NUL-terminated
      while (pos < data.length && data(pos) != 0) pos += 1
      pos += 1
    }
    if ((flg & 16) != 0) { // FCOMMENT
      while (pos < data.length && data(pos) != 0) pos += 1
      pos += 1
    }
    if ((flg & 2) != 0) pos += 2 // FHCRC
    require(pos + 8 <= data.length, "truncated gzip stream")
    withInflater(nowrap = true) { i =>
      i.setInput(data, pos, data.length - pos)
      try {
        val out = new java.io.ByteArrayOutputStream(
          math.max(64, (data.length - pos) * 4))
        val buf = new Array[Byte](8192)
        var n = i.inflate(buf)
        while (n > 0 || (!i.finished() && !i.needsInput())) {
          // FDICT would spin this loop forever (inflate returns 0,
          // finished=false, needsInput=false) — refuse loudly
          require(!i.needsDictionary(), "preset dictionary unsupported")
          out.write(buf, 0, n); n = i.inflate(buf)
        }
        require(i.finished(), "truncated gzip deflate body")
        val res = out.toByteArray
        val tp = data.length - i.getRemaining // after the deflate body
        require(tp + 8 <= data.length, "truncated gzip trailer")
        def le32(o: Int): Long =
          ((data(o) & 0xffL)) | ((data(o + 1) & 0xffL) << 8) |
            ((data(o + 2) & 0xffL) << 16) | ((data(o + 3) & 0xffL) << 24)
        val crc = new CRC32(); crc.update(res)
        require(le32(tp) == crc.getValue, "gzip CRC mismatch")
        require(le32(tp + 4) == (res.length.toLong & 0xffffffffL),
          "gzip ISIZE mismatch")
        all.write(res, 0, res.length)
        tp + 8
      } catch { case e: DataFormatException =>
        throw new IllegalArgumentException(
          s"corrupt gzip stream: ${e.getMessage}")
      }
    }
  }
}
