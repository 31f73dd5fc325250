package graft.multimodal

import java.io.ByteArrayOutputStream

/** WARC (ISO 28500) record census — the container every web-scale
  * text corpus actually arrives in (Common Crawl ships .warc.gz).
  * CENSUS, not content processing: walk the records by their
  * Content-Length, read the WARC-Type / WARC-Target-URI headers and
  * the HTTP status line of response payloads, and report the counts
  * a crawl-ingest pipeline routes on before any text extraction.
  * Gzipped archives (magic 1f 8b) inflate transparently first — the
  * census output, not the compressed bytes, is what oracles hash.
  * Loud on a bad version line, a missing Content-Length, or a
  * truncated payload. Per-row executor work, scan-fused. */
object WarcCodec {

  final case class WarcRecord(warcType: String, targetUri: String,
      contentLength: Int, httpStatus: Int,
      payloadDigest: String = "", refersToUri: String = "")

  /** WARC-Payload-Digest in the form Common Crawl ships:
    * `sha1:` + RFC 4648 base32 (unpadded) of the SHA-1 over the HTTP
    * entity body. */
  private val Sha1 =
    ThreadLocal.withInitial[java.security.MessageDigest](() =>
      java.security.MessageDigest.getInstance("SHA-1"))

  def payloadDigest(body: Array[Byte]): String = {
    // pooled per thread (getInstance is a provider lookup + allocation,
    // and the revisit spine digests every page body); digest() resets
    val d = Sha1.get().digest(body)
    val alpha = "ABCDEFGHIJKLMNOPQRSTUVWXYZ234567"
    val sb = new StringBuilder("sha1:")
    var buf = 0L; var nbits = 0
    d.foreach { b =>
      buf = (buf << 8) | (b & 0xff); nbits += 8
      while (nbits >= 5) {
        nbits -= 5
        sb.append(alpha(((buf >> nbits) & 31).toInt))
      }
    }
    if (nbits > 0) sb.append(alpha(((buf << (5 - nbits)) & 31).toInt))
    sb.toString
  }

  /** Synthesize a WARC/1.0 archive: one record per (type, uri,
    * payload); headers CRLF-delimited, records separated by the
    * mandated blank CRLF pair. `gzipped` wraps the whole archive in
    * one gzip stream (the census inflates it back). */
  def synth(records: Seq[(String, String, Array[Byte])],
      gzipped: Boolean = false): Array[Byte] =
    synthWithHeaders(records.map { case (t, u, p) => (t, u, p, Nil) },
      gzipped)

  /** [[synth]] with per-record extra WARC headers — the revisit
    * vocabulary (WARC-Payload-Digest, WARC-Refers-To-Target-URI)
    * needs them; the plain triple form stays the common path. */
  def synthWithHeaders(
      records: Seq[(String, String, Array[Byte], Seq[(String, String)])],
      gzipped: Boolean = false): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    records.zipWithIndex.foreach { case ((typ, uri, payload, extra), i) =>
      val hdr = new StringBuilder()
      hdr ++= "WARC/1.0\r\n"
      hdr ++= s"WARC-Type: $typ\r\n"
      if (uri.nonEmpty) hdr ++= s"WARC-Target-URI: $uri\r\n"
      hdr ++= s"WARC-Record-ID: <urn:graft:$i>\r\n"
      extra.foreach { case (k, v) => hdr ++= s"$k: $v\r\n" }
      hdr ++= s"Content-Length: ${payload.length}\r\n"
      hdr ++= "\r\n"
      out.write(hdr.toString.getBytes("ISO-8859-1"))
      out.write(payload)
      out.write("\r\n\r\n".getBytes("ISO-8859-1"))
    }
    val raw = out.toByteArray
    if (!gzipped) raw
    // synthesis-side: parse recovers identical record bytes at any level
    else Zlib.gzip(raw, java.util.zip.Deflater.BEST_SPEED)
  }

  /** An HTTP response payload: status line + headers + CRLF CRLF +
    * deterministic body. */
  def httpPayload(status: Int, bodyLen: Int): Array[Byte] = {
    val reason = status match {
      case 200 => "OK"
      case 404 => "Not Found"
      case _ => "Status"
    }
    val out = new ByteArrayOutputStream()
    out.write((s"HTTP/1.1 $status $reason\r\n" +
      s"Content-Length: $bodyLen\r\n\r\n").getBytes("ISO-8859-1"))
    var i = 0
    while (i < bodyLen) { out.write((i * 73 + bodyLen) % 251); i += 1 }
    out.toByteArray
  }

  private def reasonOf(status: Int): String = status match {
    case 200 => "OK"
    case 404 => "Not Found"
    case _ => "Status"
  }

  /** An HTTP response payload with explicit headers and body — the
    * record shape the crawl-spine fixtures plant (httpPayload keeps
    * the fixed-header q299 shape). */
  def httpResponse(status: Int, headers: Seq[(String, String)],
      body: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    out.write((s"HTTP/1.1 $status ${reasonOf(status)}\r\n" +
      headers.map { case (k, v) => s"$k: $v\r\n" }.mkString +
      s"Content-Length: ${body.length}\r\n\r\n").getBytes("ISO-8859-1"))
    out.write(body)
    out.toByteArray
  }

  /** An HTTP response with `Transfer-Encoding: chunked` framing
    * (RFC 9112 §7.1) — the body split into `chunkSize`-byte chunks,
    * each preceded by its hex size line, closed by the 0-chunk and a
    * blank line. Real crawl WARCs carry this shape routinely; a spine
    * that hands the framed bytes to HTML extraction corrupts every
    * page. */
  def httpResponseChunked(status: Int, headers: Seq[(String, String)],
      body: Array[Byte], chunkSize: Int): Array[Byte] = {
    require(chunkSize >= 1, s"chunk size $chunkSize")
    val out = new ByteArrayOutputStream()
    out.write((s"HTTP/1.1 $status ${reasonOf(status)}\r\n" +
      headers.map { case (k, v) => s"$k: $v\r\n" }.mkString +
      "Transfer-Encoding: chunked\r\n\r\n").getBytes("ISO-8859-1"))
    var off = 0
    while (off < body.length) {
      val n = math.min(chunkSize, body.length - off)
      out.write(s"${n.toHexString}\r\n".getBytes("ISO-8859-1"))
      out.write(body, off, n)
      out.write("\r\n".getBytes("ISO-8859-1"))
      off += n
    }
    out.write("0\r\n\r\n".getBytes("ISO-8859-1"))
    out.toByteArray
  }

  /** An HTTP response whose body carries a Content-Encoding
    * (RFC 9110 §8.4.1): gzip or deflate (zlib-wrapped), optionally
    * ALSO chunk-framed — the real-world stacking order, content
    * coding applied first and the transfer coding framing the coded
    * bytes on the wire. */
  def httpResponseCoded(status: Int, headers: Seq[(String, String)],
      body: Array[Byte], coding: String, chunkSize: Int = 0)
      : Array[Byte] = {
    val coded = coding match {
      // synthesis-side: decoded bodies are level-independent
      case "gzip" =>
        Zlib.gzip(body, java.util.zip.Deflater.BEST_SPEED)
      case "deflate" => Zlib.deflate(body, // zlib-wrapped (RFC 1950)
        level = java.util.zip.Deflater.BEST_SPEED)
      case other => throw new IllegalArgumentException(
        s"synth supports gzip/deflate, not '$other'")
    }
    val hs = headers :+ ("Content-Encoding" -> coding)
    if (chunkSize > 0) httpResponseChunked(status, hs, coded, chunkSize)
    else httpResponse(status, hs, coded)
  }

  /** Split an HTTP response payload into (status, lowercased headers,
    * body) — the step between the WARC walk and whatever consumes the
    * body (HTML extraction, binary routing). Transfer-Encoding:
    * chunked is de-framed and Content-Encoding gzip/deflate is
    * decoded (in that order — the inverse of how the wire was built);
    * br/compress/stacked content codings refuse loudly as a
    * documented perimeter. Loud on a payload that is not an HTTP
    * response. */
  def httpParts(payload: Array[Byte])
      : (Int, Map[String, String], Array[Byte]) = {
    require(payload.length >= 12 &&
      new String(payload, 0, 5, "ISO-8859-1") == "HTTP/",
      "payload is not an HTTP response")
    var pos = 0
    def line(): String = {
      val eol = indexOfCrlf(payload, pos)
      require(eol >= 0, s"unterminated HTTP header line at offset $pos")
      val s = new String(payload, pos, eol - pos, "ISO-8859-1")
      pos = eol + 2
      s
    }
    val statusLine = line()
    val sp1 = statusLine.indexOf(' ')
    require(sp1 > 0, s"malformed status line '${statusLine.take(30)}'")
    val rest = statusLine.substring(sp1 + 1)
    val digits = rest.takeWhile(_.isDigit)
    require(digits.nonEmpty, s"no status code in '${statusLine.take(30)}'")
    val headers = Map.newBuilder[String, String]
    var h = line()
    while (h.nonEmpty) {
      val colon = h.indexOf(':')
      require(colon > 0, s"malformed HTTP header '${h.take(40)}'")
      headers += (h.substring(0, colon).trim.toLowerCase ->
        h.substring(colon + 1).trim)
      h = line()
    }
    val hdrs = headers.result()
    // Transfer-Encoding: chunked (RFC 9112 §7.1) — de-chunk before
    // anything consumes the body. Loud on a non-hex size line, a
    // truncated chunk, a chunk not CRLF-terminated, or bytes after
    // the terminal 0-chunk's trailer section (the WARC Content-Length
    // frames the payload exactly).
    val chunked = hdrs.get("transfer-encoding").exists(
      _.toLowerCase.split(",").map(_.trim).contains("chunked"))
    val body =
      if (!chunked)
        java.util.Arrays.copyOfRange(payload, pos, payload.length)
      else {
        val out = new ByteArrayOutputStream(payload.length - pos)
        var doneChunks = false
        while (!doneChunks) {
          val eol = indexOfCrlf(payload, pos)
          require(eol >= 0, s"truncated chunk-size line at offset $pos")
          val sline = new String(payload, pos, eol - pos, "ISO-8859-1")
          // chunk extensions after ';' are legal — ignored
          val sizeTok = sline.takeWhile(_ != ';').trim
          require(sizeTok.nonEmpty &&
            sizeTok.forall(c => Character.digit(c, 16) >= 0),
            s"non-hex chunk size '${sizeTok.take(20)}' at offset $pos")
          require(sizeTok.length <= 8,
            s"implausible ${sizeTok.length}-digit chunk size at $pos")
          val sz = java.lang.Long.parseLong(sizeTok, 16)
          pos = eol + 2
          if (sz == 0) {
            // trailer fields: zero or more lines, then a blank line
            var tl = indexOfCrlf(payload, pos)
            require(tl >= 0, s"truncated chunked trailer at offset $pos")
            while (tl != pos) {
              pos = tl + 2
              tl = indexOfCrlf(payload, pos)
              require(tl >= 0,
                s"truncated chunked trailer at offset $pos")
            }
            pos = tl + 2
            require(pos == payload.length,
              s"${payload.length - pos} bytes after the chunked body")
            doneChunks = true
          } else {
            require(pos + sz + 2 <= payload.length,
              s"chunk of $sz bytes truncated at offset $pos")
            out.write(payload, pos, sz.toInt)
            pos += sz.toInt
            require(payload(pos) == '\r' && payload(pos + 1) == '\n',
              s"chunk data not CRLF-terminated at offset $pos")
            pos += 2
          }
        }
        out.toByteArray
      }
    // Content-Encoding (RFC 9110 §8.4) — decode AFTER de-framing.
    // "deflate" officially means zlib-wrapped (RFC 1950), but a long
    // tail of servers ships raw RFC 1951 streams; sniff the zlib
    // header (low nibble 8 = deflate method, header checksum % 31
    // == 0) and fall back to raw — the tolerance every browser
    // implements. Truncated/corrupt streams and codings we don't
    // carry (br, compress, stacked lists) refuse loudly.
    val decoded = hdrs.get("content-encoding")
      .map(_.trim.toLowerCase).filter(c => c.nonEmpty && c != "identity")
      match {
      case None => body
      case Some(c @ ("gzip" | "x-gzip")) =>
        require(body.length >= 2 && (body(0) & 0xff) == 0x1f &&
          (body(1) & 0xff) == 0x8b, s"Content-Encoding $c body lacks " +
          "the RFC 1952 magic")
        try Zlib.gunzip(body)
        catch { case e: IllegalArgumentException =>
          throw new IllegalArgumentException(
            s"truncated/corrupt gzip body: ${e.getMessage}")
        }
      case Some("deflate") =>
        val zlibWrapped = body.length >= 2 && (body(0) & 0x0f) == 8 &&
          (((body(0) & 0xff) << 8) | (body(1) & 0xff)) % 31 == 0
        try Zlib.inflate(body, nowrap = !zlibWrapped)
        catch { case e: IllegalArgumentException =>
          throw new IllegalArgumentException(
            s"corrupt deflate body: ${e.getMessage}")
        }
      case Some(other) => throw new IllegalArgumentException(
        s"Content-Encoding '$other' is outside the carried set " +
          "(gzip, deflate, identity)")
    }
    (digits.toInt, hdrs, decoded)
  }

  /** Walk the records, payloads included — the census() metadata plus
    * the bytes a spine consumer routes onward. */
  def records(bytesIn: Array[Byte]): Seq[(WarcRecord, Array[Byte])] = {
    val bytes =
      if (bytesIn.length >= 2 && (bytesIn(0) & 0xff) == 0x1f &&
        (bytesIn(1) & 0xff) == 0x8b) Zlib.gunzip(bytesIn)
      else bytesIn
    val recs = Seq.newBuilder[(WarcRecord, Array[Byte])]
    var pos = 0
    def line(): String = {
      val eol = indexOfCrlf(bytes, pos)
      require(eol >= 0, s"unterminated header line at offset $pos")
      val s = new String(bytes, pos, eol - pos, "ISO-8859-1")
      pos = eol + 2
      s
    }
    while (pos < bytes.length) {
      val ver = line()
      require(ver.startsWith("WARC/"),
        s"not a WARC record: version line '${ver.take(20)}'")
      var typ = ""; var uri = ""; var clen = -1
      var digest = ""; var refersTo = ""
      var h = line()
      while (h.nonEmpty) {
        val colon = h.indexOf(':')
        require(colon > 0, s"malformed WARC header '${h.take(40)}'")
        val (k, v) = (h.substring(0, colon).trim.toLowerCase,
          h.substring(colon + 1).trim)
        k match {
          case "warc-type" => typ = v
          case "warc-target-uri" => uri = v
          case "content-length" => clen = v.toInt
          case "warc-payload-digest" => digest = v
          case "warc-refers-to-target-uri" => refersTo = v
          case _ => ()
        }
        h = line()
      }
      require(clen >= 0, "WARC record without Content-Length")
      require(pos.toLong + clen <= bytes.length,
        s"record declares $clen payload bytes past EOF")
      // HTTP status from a response payload's status line
      val status =
        if (typ == "response" && clen >= 12 &&
          new String(bytes, pos, 5, "ISO-8859-1") == "HTTP/") {
          val sp = {
            var i = pos
            while (i < pos + clen && bytes(i) != ' ') i += 1
            i
          }
          var j = sp + 1
          var st = 0
          while (j < pos + clen && bytes(j) >= '0' && bytes(j) <= '9') {
            st = st * 10 + (bytes(j) - '0'); j += 1
          }
          st
        } else 0
      recs += ((WarcRecord(typ, uri, clen, status, digest, refersTo),
        java.util.Arrays.copyOfRange(bytes, pos, pos + clen)))
      pos += clen
      // the mandated record separator: two CRLFs
      require(pos + 4 <= bytes.length &&
        bytes(pos) == '\r' && bytes(pos + 1) == '\n' &&
        bytes(pos + 2) == '\r' && bytes(pos + 3) == '\n',
        s"missing record separator at offset $pos")
      pos += 4
    }
    recs.result()
  }

  /** Walk the records, metadata only (payloads discarded). */
  def census(bytesIn: Array[Byte]): Seq[WarcRecord] =
    records(bytesIn).map(_._1)

  private def indexOfCrlf(b: Array[Byte], from: Int): Int = {
    var i = from
    while (i + 1 < b.length) {
      if (b(i) == '\r' && b(i + 1) == '\n') return i
      i += 1
    }
    -1
  }
}
