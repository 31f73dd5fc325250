package graft

import graft.functions.{GraftFunctions, Porter}
import graft.ingest.{AiExtract, DocParse}

class DocTextSpec extends SparkSpec {
  import spark.implicits._

  private val pdfText =
    """Nashville Music Festival
      |Venue: Riverfront Park
      |Date: October 12, 2025
      |https://nashfest.example.com
      |Great lineup this year
      |
      |name: Songwriter Night
      |address: 123 Broadway Ave
      |when: 11/02/2025
      |acoustic sets all evening""".stripMargin

  test("U4 state machine: labeled lines + heuristics -> records") {
    val recs = DocParse.parseText(pdfText)
    assert(recs.length == 2)
    val fest = recs.head
    assert(fest.name.contains("Nashville Music Festival"))
    assert(fest.venue_name.contains("Riverfront Park"))
    assert(fest.event_date.contains("October 12, 2025"))
    assert(fest.url.contains("https://nashfest.example.com"))
    assert(fest.description.contains("Great lineup this year"))
    val night = recs(1)
    assert(night.name.contains("Songwriter Night"))
    assert(night.venue_address.contains("123 Broadway Ave"))
    assert(night.event_date.contains("11/02/2025"))
  }

  test("U4 as DataFrame flatMap with synthetic urls") {
    val df = Seq((1L, pdfText), (2L, "short")).toDF("doc_id", "text")
    val got = DocParse.parse(df, "doc_id", "text")
    assert(got.count() == 2) // doc 2 has no name-like line
    val urls = got.select("url").as[String].collect()
    assert(urls.forall(u => u.startsWith("http") || u.startsWith("document://")))
  }

  test("U3 stub extractor: cap, gate and fallback error record") {
    val df = Seq(
      (1L, pdfText),
      (2L, "tiny"),                    // < 20 chars -> gated out (P8)
      (3L, "x " * 30))                 // long but nothing extractable
      .toDF("doc_id", "text")
    val got = AiExtract.extract(df, "doc_id", "text").collect()
    val byDoc = got.groupBy(_.getLong(0))
    assert(byDoc(1L).length == 2)
    assert(!byDoc.contains(2L))
    assert(byDoc(3L).head.getString(1) == "Extraction Failed")
  }

  test("Porter stemmer golden vocabulary") {
    val golden = Map(
      "caresses" -> "caress", "ponies" -> "poni", "cats" -> "cat",
      "feed" -> "feed", "agreed" -> "agre", "plastered" -> "plaster",
      "motoring" -> "motor", "sing" -> "sing", "conflated" -> "conflat",
      "sized" -> "size", "hopping" -> "hop", "falling" -> "fall",
      "happy" -> "happi", "sky" -> "sky", "relational" -> "relat",
      "conditional" -> "condit", "digitizer" -> "digit",
      "operator" -> "oper", "feudalism" -> "feudal",
      "decisiveness" -> "decis", "hopefulness" -> "hope",
      "formaliti" -> "formal", "triplicate" -> "triplic",
      "formative" -> "form", "electriciti" -> "electr",
      "electrical" -> "electr", "hopeful" -> "hope",
      "goodness" -> "good", "adjustable" -> "adjust",
      "replacement" -> "replac", "adjustment" -> "adjust",
      "dependent" -> "depend", "adoption" -> "adopt",
      "adhesion" -> "adhes", "activate" -> "activ",
      "effective" -> "effect", "controlling" -> "control")
    golden.foreach { case (in, want) =>
      assert(Porter.stem(in) == want, s"stem($in)")
    }
  }

  test("stem_tokens expression + SQL registration") {
    GraftFunctions.register(spark)
    val viaCol = Seq(Seq("running", "flies")).toDF("t")
      .select(Porter.stemTokens($"t")).as[Seq[String]].collect().head
    assert(viaCol == Seq("run", "fli"))
    val viaSql = spark.sql(
      "SELECT stem_tokens(array('running','flies'))")
      .collect().head
    assert(viaSql.getSeq[String](0) == Seq("run", "fli"))
    // the md5 sketch families are SQL-reachable too
    val md5Sql = spark.sql(
      "SELECT size(winnow_md5(array('a','b','c','d'), 2, 2)), " +
        "size(minhash_md5_bands(array('a','b'), 4, 2)), " +
        "size(simhash_md5_chunks(array('a','b'), 4)), " +
        "size(lattice_sigs(array(1L, -2L), 2, 3, 4))").collect().head
    assert(md5Sql.getInt(0) >= 1)
    assert(md5Sql.getInt(1) == 4)
    assert(md5Sql.getInt(2) == 4)
    assert(md5Sql.getInt(3) == 4)
  }

  test("GraftSession.local yields a session with engine functions ready") {
    // getOrCreate returns the suite's shared session and applies the
    // builder's modifiable confs to it — snapshot and restore so this
    // test can't leak a different shuffle parallelism into later suites
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      val s = graft.GraftSession.local(before.toInt)
      val r = s.sql("SELECT size(shingles(array('a','b','c'), 2)), " +
        "cosine_sim(array(1.0D), array(2.0D)), " +
        "size(winnow_md5(array('a','b','c','d'), 2, 2))").first()
      assert(r.getInt(0) == 2)
      assert(math.abs(r.getDouble(1) - 1.0) < 1e-12)
      assert(r.getInt(2) >= 1)
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  test("ngrams + cosine_sim SQL registration") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT ngrams(array('a','b','a','b'), 2), " +
        "cosine_sim(array(1.0D, 0.0D), array(1.0D, 0.0D)), " +
        "cosine_sim(array(1.0D), array(1.0D, 2.0D))")
      .collect().head
    assert(r.getSeq[String](0) == Seq("a b", "b a", "a b"))
    assert(math.abs(r.getDouble(1) - 1.0) < 1e-12)
    assert(r.isNullAt(2)) // length mismatch -> null
  }

  test("docx codec: encode/decode roundtrip with markup-hostile text") {
    import graft.ingest.DocxCodec
    val paras = Seq("plain line", "a & b < c > \"d\"", "", "tail")
    val tables = Seq(
      Seq(Seq("Title", "Date"), Seq("Event <1>", "2020-01-01")),
      Seq(Seq("lonely header")))
    val c = DocxCodec.decode(DocxCodec.encode(paras, tables))
    assert(c.paragraphs == paras)
    assert(c.tables == tables)
  }

  test("docx decode: multi-run paragraphs and tabs concatenate in order") {
    import graft.ingest.DocxCodec
    // hand-built XML the encoder never produces: split runs + w:tab
    val w = "http://schemas.openxmlformats.org/wordprocessingml/2006/main"
    val xml = s"""<?xml version="1.0"?><w:document xmlns:w="$w"><w:body>
      |<w:p><w:r><w:t>He</w:t></w:r><w:r><w:t>llo</w:t><w:tab/>
      |<w:t xml:space="preserve">world</w:t></w:r></w:p>
      |</w:body></w:document>""".stripMargin
    val out = new java.io.ByteArrayOutputStream()
    val zip = new java.util.zip.ZipOutputStream(out)
    zip.putNextEntry(new java.util.zip.ZipEntry("word/document.xml"))
    zip.write(xml.getBytes("UTF-8")); zip.closeEntry(); zip.close()
    assert(DocxCodec.decode(out.toByteArray).paragraphs ==
      Seq("Hello\tworld"))
  }

  test("docx extraction: tables first, paragraph state machine fallback") {
    import graft.ingest.{DocParse, DocxCodec}
    // a valid field table wins over paragraphs
    val withTable = DocxCodec.encode(
      paragraphs = Seq("Concert Night", "Date: 2024-05-05"),
      tables = Seq(Seq(Seq("Event", "Venue"),
        Seq("Table Gala", "City Hall"))))
    val r1 = DocParse.parseDocx(withTable)
    assert(r1.map(_.name) == Seq(Some("Table Gala")))
    assert(r1.head.venue_name.contains("City Hall"))
    // header-only table (no data rows) -> paragraphs parse instead
    val headerOnly = DocxCodec.encode(
      paragraphs = Seq("Concert Night", "Date: 2024-05-05"),
      tables = Seq(Seq(Seq("Event", "Venue"))))
    val r2 = DocParse.parseDocx(headerOnly)
    assert(r2.map(_.name) == Seq(Some("Concert Night")))
    assert(r2.head.event_date.contains("2024-05-05"))
    // table whose rows never yield a valid name -> fallback too
    val invalidTable = DocxCodec.encode(
      paragraphs = Seq("Concert Night"),
      tables = Seq(Seq(Seq("Date", "Venue"), Seq("2024-05-05", "Hall"))))
    assert(DocParse.parseDocx(invalidTable).map(_.name) ==
      Seq(Some("Concert Night")))
  }

  test("docx decode: hostile inputs fail loudly") {
    import graft.ingest.DocxCodec
    // not a zip / missing part
    intercept[IllegalArgumentException](DocxCodec.decode("junk".getBytes))
    // XXE: doctype is rejected, not resolved
    val evil = """<?xml version="1.0"?><!DOCTYPE d [<!ENTITY x SYSTEM
      |"file:///etc/passwd">]><d>&x;</d>""".stripMargin
    val out = new java.io.ByteArrayOutputStream()
    val zip = new java.util.zip.ZipOutputStream(out)
    zip.putNextEntry(new java.util.zip.ZipEntry("word/document.xml"))
    zip.write(evil.getBytes("UTF-8")); zip.closeEntry(); zip.close()
    intercept[Exception](DocxCodec.decode(out.toByteArray))
  }

  test("pdf codec: roundtrip with hostile chars, both filter paths") {
    import graft.ingest.PdfCodec
    val lines = Seq("plain", "parens (nested (deep)) here",
      "back\\slash and ) stray", "")
    for (compress <- Seq(true, false))
      assert(PdfCodec.decode(PdfCodec.encode(lines, compress)) == lines,
        s"compress=$compress")
  }

  test("pdf decode: TJ arrays, octal escapes, length-bounded streams") {
    import graft.ingest.PdfCodec
    // TJ array concatenates its literals into one line; \101 is 'A'
    assert(PdfCodec.showOps("BT [(He) -20 (llo)] TJ (\\101!) Tj ET") ==
      Seq("Hello", "A!"))
    // a compressed stream whose deflate output ends in an EOL byte must
    // survive (the /Length bound, not EOL-trimming, decides the end)
    val tricky = (1 to 40).map(i => s"line $i with entropy $i$i$i")
    assert(PdfCodec.decode(PdfCodec.encode(tricky)) == tricky)
  }

  test("pdf codec: ASCIIHexDecode and RunLengthDecode roundtrip") {
    import graft.ingest.PdfCodec
    // runs of repeated chars force RLE's repeat branch; mixed text its
    // literal branch; parens/backslash the escaping on top
    val lines = Seq("aaaaaaaaaaaa run start", "mixed (x) \\ text",
      "zzzzzzzzzzzzzzzzzzzzzzzzzzzzzz", "")
    for (f <- Seq("ahx", "rle"))
      assert(PdfCodec.decode(PdfCodec.encodeWith(lines, f)) == lines,
        s"filter=$f")
  }

  test("pdf codec: ASCIIHex whitespace/odd-digit, RLE primitives") {
    import graft.ingest.PdfCodec
    // whitespace is ignored; '>' is EOD; an odd trailing digit is a
    // high nibble with implied 0 low nibble (PDF 32000-1 §7.4.2)
    assert(PdfCodec.asciiHexDecode("48 65\n6c6C 6f>".getBytes("ISO-8859-1"))
      .toSeq == "Hello".getBytes("ISO-8859-1").toSeq)
    assert(PdfCodec.asciiHexDecode("7>".getBytes("ISO-8859-1")).toSeq ==
      Seq(0x70.toByte))
    // repeat token: 257-254=3 copies of 'a'; literal token: 2 bytes
    assert(PdfCodec.runLengthDecode(
      Array(254.toByte, 'a'.toByte, 1.toByte, 'b'.toByte, 'c'.toByte,
        128.toByte)).toSeq == "aaabc".getBytes("ISO-8859-1").toSeq)
    // missing EOD fails loudly
    intercept[IllegalArgumentException](
      PdfCodec.runLengthDecode(Array(0.toByte, 'x'.toByte)))
  }

  test("pdf codec: LZW roundtrip crosses the 10- and 11-bit boundaries") {
    import graft.ingest.PdfCodec
    // LCG bytes: high entropy → ~1 dictionary add per input byte, so
    // 3000 bytes cross both the 511 and 1023 width-change points (the
    // EarlyChange=1 off-by-one is exactly what this pins)
    var x = 12345
    val noisy = Array.fill[Byte](3000) {
      x = x * 1103515245 + 12345
      ((x >>> 16) & 0xff).toByte
    }
    assert(PdfCodec.lzwDecode(PdfCodec.lzwEncode(noisy)).toSeq ==
      noisy.toSeq)
    // repetitive text (long matches, KwKwK cases) roundtrips too
    val texty = ("the theme the theater thesis " * 200).getBytes("ISO-8859-1")
    assert(PdfCodec.lzwDecode(PdfCodec.lzwEncode(texty)).toSeq ==
      texty.toSeq)
    // and through a whole PDF
    val lines = Seq("LZW line (one)", "and \\ two")
    assert(PdfCodec.decode(PdfCodec.encodeWith(lines, "lzw")) == lines)
  }

  test("pdf decode: hostile inputs fail loudly") {
    import graft.ingest.PdfCodec
    intercept[IllegalArgumentException](PdfCodec.decode("junk".getBytes))
    val dct = ("%PDF-1.4\n1 0 obj << /Length 3 /Filter /DCTDecode >> " +
      "stream\nabc\nendstream endobj\n%%EOF").getBytes("ISO-8859-1")
    intercept[IllegalArgumentException](PdfCodec.decode(dct))
    // truncated LZW (no EOD) is loud, not garbage
    intercept[IllegalArgumentException](
      PdfCodec.lzwDecode(Array(0x40.toByte, 0x20.toByte)))
    // a chain with ANY unknown link is refused rather than half-decoded
    val chain = ("%PDF-1.4\n1 0 obj << /Length 3 " +
      "/Filter [/RunLengthDecode /JBIG2Decode] >> " +
      "stream\nabc\nendstream endobj\n%%EOF").getBytes("ISO-8859-1")
    intercept[IllegalArgumentException](PdfCodec.decode(chain))
    // an indirect-reference /Filter (legal PDF, unparsable here) is
    // refused loudly, never silently decoded as raw
    val indirect = ("%PDF-1.4\n1 0 obj << /Length 3 /Filter 5 0 R >> " +
      "stream\nabc\nendstream endobj\n%%EOF").getBytes("ISO-8859-1")
    intercept[IllegalArgumentException](PdfCodec.decode(indirect))
    // a /Predictor on a non-Flate/LZW filter has no stage to apply to
    val predAhx = ("%PDF-1.4\n1 0 obj << /Length 5 " +
      "/Filter /ASCIIHexDecode /DecodeParms << /Predictor 12 >> >> " +
      "stream\n6162>\nendstream endobj\n%%EOF").getBytes("ISO-8859-1")
    intercept[IllegalArgumentException](PdfCodec.decode(predAhx))
  }

  test("pdf decode: embedded DCT image XObject is skipped, text kept") {
    import graft.ingest.PdfCodec
    // the overwhelmingly common real-PDF shape: Flate text page + JPEG
    // image XObject — text extracts, the undecodable image is skipped
    // whole (r8 verdict missing item #1); the fake JPEG payload carries
    // "(trap) Tj" and ">>" bait that must never surface
    val lines = Seq("Image-bearing page", "text (survives) intact")
    assert(PdfCodec.decode(PdfCodec.encodeWithDctImage(lines)) == lines)
    // image-ONLY PDFs (every stream an image) still refuse loudly
    val imgOnly = ("%PDF-1.4\n1 0 obj << /Subtype /Image /Length 3 " +
      "/Filter /DCTDecode >> stream\nabc\nendstream endobj\n%%EOF")
      .getBytes("ISO-8859-1")
    val e1 = intercept[IllegalArgumentException](PdfCodec.decode(imgOnly))
    assert(e1.getMessage.contains("no content stream"))
    // a DCT CONTENT stream (no /Subtype /Image) keeps the loud throw —
    // pinned above in "hostile inputs fail loudly"
  }

  test("pdf decode: string-bearing stream dict can't miscount depth") {
    import graft.ingest.PdfCodec
    // r8 ADVICE: a dict like << /T (a>>b) >> used to break the
    // balanced scan; the forward scanner skips literal and hex strings
    val inner = "BT (ok) Tj ET"
    val pdf = ("%PDF-1.4\n1 0 obj << /T (a>>b (nested\\)) <BEEF>) " +
      s"/Length ${inner.length} >> stream\n" + inner +
      "\nendstream endobj\n%%EOF").getBytes("ISO-8859-1")
    assert(PdfCodec.decode(pdf) == Seq("ok"))
    // the dict extractor itself, on a hostile window
    assert(PdfCodec.lastDictBefore(
      "x << /A (p>>q) /B <<: /C 1 >> >> y", 0, 33)
      == "<< /A (p>>q) /B <<: /C 1 >> >>")
  }

  test("pdf decode: binary marker comment with '(' can't swallow a dict") {
    import graft.ingest.PdfCodec
    // the standard post-header binary marker is `%` + 4 bytes >127, but
    // nothing stops a generator emitting a byte that reads as '(' or
    // '<<' — without comment skipping, '(' enters string-skip mode and
    // consumes the first object's dict whole (silent-garbage path)
    val inner = "BT (ok) Tj ET"
    val pdf = ("%PDF-1.4\n%â(«<<Ó\n1 0 obj << /Length " +
      s"${inner.length} >> stream\n" + inner +
      "\nendstream endobj\n%%EOF").getBytes("ISO-8859-1")
    assert(PdfCodec.decode(pdf) == Seq("ok"))
    // comment skipping is top-level only: '%' inside a literal string
    // inside a dict stays string content, and the dict still parses
    assert(PdfCodec.lastDictBefore("%(\n<< /T (100%) >>", 0, 18)
      == "<< /T (100%) >>")
  }

  test("pdf dict scanner: seeded fuzz over hostile windows") {
    import graft.ingest.PdfCodec
    // 300 generated windows: random top-level garbage (comments with
    // structural bytes, balanced strings, hex strings, decoy dicts),
    // then one final well-formed dict whose string/hex/nested content
    // is itself random — the scanner must return that dict verbatim
    val rnd = new scala.util.Random(9127)
    def litString(depth: Int): String = {
      val body = (0 until rnd.nextInt(8)).map { _ =>
        rnd.nextInt(6) match {
          case 0 => ">>"
          case 1 => "<<"
          case 2 => "%"
          case 3 => "\\)" // escaped delimiters stay inside the string
          case 4 => if (depth < 2) litString(depth + 1) else "x"
          case 5 => "ab"
        }
      }.mkString
      s"($body)"
    }
    def hexString(): String =
      "<" + (0 until rnd.nextInt(6)).map(_ => "A0").mkString + ">"
    def dict(depth: Int): String = {
      val entries = (0 until 1 + rnd.nextInt(3)).map { i =>
        val v = rnd.nextInt(4) match {
          case 0 => litString(0)
          case 1 => hexString()
          case 2 if depth < 2 => dict(depth + 1)
          case _ => (rnd.nextInt(999) + 1).toString
        }
        s"/K$i $v"
      }.mkString(" ")
      s"<< $entries >>"
    }
    for (trial <- 0 until 300) {
      val garbage = (0 until rnd.nextInt(4)).map { _ =>
        rnd.nextInt(4) match {
          case 0 => "%" + "x(<<>".charAt(rnd.nextInt(5)) + "junk\n"
          case 1 => litString(0) + " "
          case 2 => hexString() + " "
          case 3 => dict(0) + " " // decoy: a complete earlier dict
        }
      }.mkString
      val want = dict(0)
      val window = garbage + s"$trial 0 obj " + want + " "
      assert(PdfCodec.lastDictBefore(window, 0, window.length) == want,
        s"trial $trial: window <$window>")
    }
  }

  test("pdf /Predictor: PNG and TIFF un-filtering roundtrips") {
    import graft.ingest.PdfCodec
    // primitive roundtrips: every PNG row filter (rows cycle 0..4) on
    // data with vertical AND horizontal structure, plus edge geometry
    var x = 999
    val noisy = Array.fill[Byte](24 * 7) {
      x = x * 1103515245 + 12345; ((x >>> 16) & 0xff).toByte
    }
    val ramp = Array.tabulate[Byte](24 * 5)(i => (i % 251).toByte)
    for (d <- Seq(noisy, ramp); cols <- Seq(1, 3, 24)) {
      assert(PdfCodec.pngUnpredict(
        graft.multimodal.PngCodec.filterRows(d, cols, 1, _ % 5), cols, 1, 8)
        .toSeq == d.toSeq, s"png cols=$cols")
      assert(PdfCodec.tiffUnpredict(
        PdfCodec.tiffPredictEncode(d, cols), cols, 1, 8)
        .toSeq == d.toSeq, s"tiff cols=$cols")
    }
    // whole-PDF roundtrips through the nested /DecodeParms dict (the
    // balanced-dict scan) and the post-Flate predictor stage
    val lines = Seq("Predicted (line) one", "and \\ two", "tail")
    assert(PdfCodec.decode(PdfCodec.encodeWith(lines, "flate+predpng"))
      == lines)
    assert(PdfCodec.decode(PdfCodec.encodeWith(lines, "flate+pred2"))
      == lines)
    // the predictor stage applies after LZW exactly as after Flate
    assert(PdfCodec.decode(PdfCodec.encodeWith(lines, "lzw+predpng"))
      == lines)
    // hostile: bad predictor value and ragged row geometry are loud
    intercept[IllegalArgumentException](
      PdfCodec.pngUnpredict(Array[Byte](0, 1, 2), 4, 1, 8))
    intercept[IllegalArgumentException](
      PdfCodec.tiffUnpredict(Array[Byte](0, 1, 2), 4, 1, 8))
    intercept[IllegalArgumentException]( // sub-byte TIFF depth refused
      PdfCodec.tiffUnpredict(Array[Byte](0, 1), 4, 4, 4))
    // PNG row-filter byte outside 0..4 is refused
    intercept[IllegalArgumentException](
      PdfCodec.pngUnpredict(Array[Byte](9, 1, 2), 2, 1, 8))
  }

  test("pdf ASCII85 + known-filter chains roundtrip") {
    import graft.ingest.PdfCodec
    // primitive roundtrip across byte values, incl. the zero group and
    // a partial final group
    val payloads = Seq(
      Array.tabulate(256)(_.toByte),
      Array[Byte](0, 0, 0, 0, 1, 2, 3), // 'z' group + partial
      "ascii text with spaces".getBytes("ISO-8859-1"),
      Array[Byte](7))
    payloads.foreach { p =>
      assert(PdfCodec.ascii85Decode(PdfCodec.ascii85Encode(p)).toSeq ==
        p.toSeq)
    }
    // whitespace inside the 85-stream is ignored per spec
    val enc = PdfCodec.ascii85Encode("hello world".getBytes("ISO-8859-1"))
    val spaced = enc.flatMap(b => Array(b, '\n'.toByte))
    assert(new String(PdfCodec.ascii85Decode(spaced), "ISO-8859-1") ==
      "hello world")
    // whole-PDF roundtrips: single a85 and the 2-link a85+flate chain
    val lines = Seq("A85 line (one)", "chain \\ two")
    assert(PdfCodec.decode(PdfCodec.encodeWith(lines, "a85")) == lines)
    assert(PdfCodec.decode(PdfCodec.encodeWith(lines, "a85+flate")) ==
      lines)
  }

  test("xlsx codec: roundtrip, both string encodings, numeric cells") {
    import graft.ingest.XlsxCodec
    val sheets = Seq(
      "First" -> Seq(Seq("a & b", "2", "-3.5"), Seq("", "plain <x>")),
      "Second Sheet" -> Seq(Seq("only", "row")))
    for (shared <- Seq(true, false)) {
      val got = XlsxCodec.decode(XlsxCodec.encode(sheets, shared))
      assert(got.map(_.name) == Seq("First", "Second Sheet"),
        s"shared=$shared")
      assert(got.map(_.rows) == sheets.map(_._2), s"shared=$shared")
    }
  }

  test("xlsx decode: sparse refs, rich-text runs, booleans, t=str") {
    import graft.ingest.XlsxCodec
    assert(XlsxCodec.colIndex("A1") == 0)
    assert(XlsxCodec.colIndex("BC7") == 54)
    assert(XlsxCodec.colLetters(54) == "BC")
    // hand-built worksheet the encoder never produces: a gap (A then C),
    // a rich-text shared string, a boolean, a formula-cached string
    val main = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    val rel = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    val pkg = "http://schemas.openxmlformats.org/package/2006/relationships"
    def zipOf(entries: (String, String)*): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      val z = new java.util.zip.ZipOutputStream(out)
      for ((n, d) <- entries) {
        z.putNextEntry(new java.util.zip.ZipEntry(n))
        z.write(d.getBytes("UTF-8")); z.closeEntry()
      }
      z.close(); out.toByteArray
    }
    val bytes = zipOf(
      "xl/workbook.xml" ->
        s"""<workbook xmlns="$main" xmlns:r="$rel"><sheets>
           |<sheet name="S" sheetId="1" r:id="rId1"/></sheets></workbook>"""
          .stripMargin,
      "xl/_rels/workbook.xml.rels" ->
        s"""<Relationships xmlns="$pkg"><Relationship Id="rId1"
           | Target="worksheets/sheet1.xml"/></Relationships>""".stripMargin,
      "xl/sharedStrings.xml" ->
        s"""<sst xmlns="$main"><si><r><t>ri</t></r><r><t>ch</t></r></si></sst>""",
      "xl/worksheets/sheet1.xml" ->
        s"""<worksheet xmlns="$main"><sheetData><row r="1">
           |<c r="A1" t="s"><v>0</v></c>
           |<c r="C1" t="b"><v>1</v></c>
           |<c r="D1" t="str"><v>=SUM cached</v></c>
           |<c r="E1"/></row></sheetData></worksheet>""".stripMargin)
    assert(XlsxCodec.decode(bytes).head.rows ==
      Seq(Seq("rich", "", "true", "=SUM cached", "")))
    // out-of-order refs (C1 before A1) previously TRUNCATED the cells
    // written before them — silent data loss; now a loud refusal
    val disordered = zipOf(
      "xl/workbook.xml" ->
        s"""<workbook xmlns="$main" xmlns:r="$rel"><sheets>
           |<sheet name="S" sheetId="1" r:id="rId1"/></sheets></workbook>"""
          .stripMargin,
      "xl/_rels/workbook.xml.rels" ->
        s"""<Relationships xmlns="$pkg"><Relationship Id="rId1"
           | Target="worksheets/sheet1.xml"/></Relationships>""".stripMargin,
      "xl/worksheets/sheet1.xml" ->
        s"""<worksheet xmlns="$main"><sheetData><row r="1">
           |<c r="C1" t="str"><v>kept</v></c>
           |<c r="A1" t="str"><v>late</v></c></row></sheetData></worksheet>"""
          .stripMargin)
    val e = intercept[IllegalArgumentException](XlsxCodec.decode(disordered))
    assert(e.getMessage.contains("out of order"))
  }

  test("xlsx decode: date-styled numeric cells render as timestamps") {
    import graft.ingest.XlsxCodec
    // the pd.read_excel surface: a real workbook styles date cells via
    // cellXfs numFmtId; the raw serial ("43831") is useless to the
    // record pipeline where the reference sees "2020-01-01 00:00:00"
    assert(XlsxCodec.serialDate(43831, date1904 = false)
      == "2020-01-01 00:00:00")
    assert(XlsxCodec.serialDate(43831.5, date1904 = false)
      == "2020-01-01 12:00:00")
    assert(XlsxCodec.serialDate(2, date1904 = false)
      == "1900-01-02 00:00:00")
    // the 1900-leap-bug boundary, openpyxl-parity: 59 and 60 both map
    // to Feb 28; 61 is Mar 1 (the phantom Feb 29 is absorbed)
    assert(XlsxCodec.serialDate(59, date1904 = false)
      == "1900-02-28 00:00:00")
    assert(XlsxCodec.serialDate(60, date1904 = false)
      == "1900-02-28 00:00:00")
    assert(XlsxCodec.serialDate(61, date1904 = false)
      == "1900-03-01 00:00:00")
    // 1904 system: epoch shifts, 1904 is a leap year
    assert(XlsxCodec.serialDate(366, date1904 = true)
      == "1905-01-01 00:00:00")
    // time-only serials (< 1) render as time-of-day — openpyxl hands
    // pandas a datetime.time there, str() == "HH:mm:ss"; only NEGATIVE
    // serials refuse loudly
    assert(XlsxCodec.serialDate(0.5, date1904 = false) == "12:00:00")
    assert(XlsxCodec.serialDate(0.0, date1904 = false) == "00:00:00")
    assert(XlsxCodec.serialDate(0.75, date1904 = true) == "18:00:00")
    // 0.999999999 rounds to the next midnight: wraps, never "24:00:00"
    assert(XlsxCodec.serialDate(0.999999999, date1904 = false)
      == "00:00:00")
    intercept[IllegalArgumentException](
      XlsxCodec.serialDate(-0.5, date1904 = false))
    // whole-workbook: builtin date style (14), custom date style, a
    // custom NON-date style, and an unstyled numeric in one row
    val main = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    val rel = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    val pkg = "http://schemas.openxmlformats.org/package/2006/relationships"
    def zipOf(entries: (String, String)*): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      val z = new java.util.zip.ZipOutputStream(out)
      for ((n, d) <- entries) {
        z.putNextEntry(new java.util.zip.ZipEntry(n))
        z.write(d.getBytes("UTF-8")); z.closeEntry()
      }
      z.close(); out.toByteArray
    }
    def wb(extra: String, withStyles: Boolean): Array[Byte] = zipOf(
      (Seq(
        "xl/workbook.xml" ->
          s"""<workbook xmlns="$main" xmlns:r="$rel">$extra<sheets>
             |<sheet name="S" sheetId="1" r:id="rId1"/></sheets></workbook>"""
            .stripMargin,
        "xl/_rels/workbook.xml.rels" ->
          s"""<Relationships xmlns="$pkg"><Relationship Id="rId1"
             | Target="worksheets/sheet1.xml"/></Relationships>""".stripMargin,
        "xl/worksheets/sheet1.xml" ->
          s"""<worksheet xmlns="$main"><sheetData><row r="1">
             |<c r="A1" s="1"><v>43831</v></c>
             |<c r="B1" s="2"><v>43831.5</v></c>
             |<c r="C1" s="3"><v>43831</v></c>
             |<c r="D1"><v>43831</v></c>
             |<c r="E1" s="4"><v>0.5</v></c>
             |<c r="F1" s="5"><v>1.5</v></c>
             |<c r="G1" s="6"><v>0.25</v></c>
             |<c r="H1" s="1" t="d"><v>2020-01-01T00:00:00</v></c>
             |<c r="I1" s="1" t="e"><v>#DIV/0!</v></c>
             |</row></sheetData></worksheet>"""
            .stripMargin) ++
      (if (withStyles) Seq("xl/styles.xml" ->
        s"""<styleSheet xmlns="$main">
           |<numFmts count="3">
           |<numFmt numFmtId="164" formatCode="yyyy\\-mm\\-dd"/>
           |<numFmt numFmtId="165" formatCode="0.00 &quot;days&quot;"/>
           |<numFmt numFmtId="166" formatCode="[h]:mm:ss"/>
           |</numFmts>
           |<cellXfs count="7">
           |<xf numFmtId="0"/><xf numFmtId="14"/>
           |<xf numFmtId="164"/><xf numFmtId="165"/>
           |<xf numFmtId="18"/><xf numFmtId="46"/><xf numFmtId="166"/>
           |</cellXfs></styleSheet>""".stripMargin) else Nil)): _*)
    // E1: builtin TIME style (18, h:mm AM/PM) on a serial < 1 renders
    //     time-of-day, not a throw that fails the whole workbook;
    // F1: builtin 46 [h]:mm:ss is ELAPSED (openpyxl timedelta) — raw;
    // G1: custom elapsed [h]:mm:ss — the leading marker keeps the
    //     style non-date despite the mm/ss tokens — raw;
    // H1: t="d" ISO payloads parse like openpyxl regardless of style —
    //     'T' becomes the space-separated pandas surface (r12, was raw);
    // I1: t="e" payloads are not serials — raw text even under a date
    //     style (previously NumberFormatException)
    assert(XlsxCodec.decode(wb("", withStyles = true)).head.rows ==
      Seq(Seq("2020-01-01 00:00:00", "2020-01-01 12:00:00",
        "43831", "43831", "12:00:00", "1.5", "0.25",
        "2020-01-01 00:00:00", "#DIV/0!")))
    // no styles.xml at all: raw serials (the pre-r10 behavior holds),
    // but the TYPED date cell still parses (type beats style)
    assert(XlsxCodec.decode(wb("", withStyles = false)).head.rows ==
      Seq(Seq("43831", "43831.5", "43831", "43831", "0.5", "1.5",
        "0.25", "2020-01-01 00:00:00", "#DIV/0!")))
    // 1904-system workbook: same styled cell, shifted epoch
    val rows1904 = XlsxCodec.decode(
      wb("""<workbookPr date1904="1"/>""", withStyles = true)).head.rows
    assert(rows1904.head.head == "2024-01-02 00:00:00") // 1904 + 43831d
    // isoDateText surface forms: date-only → midnight datetime (the
    // serialDate whole-day form), time-only → HH:mm:ss, fractional
    // seconds truncate, empty passes, non-ISO refuses loudly
    assert(XlsxCodec.isoDateText("2020-06-15") == "2020-06-15 00:00:00")
    assert(XlsxCodec.isoDateText("13:05:09") == "13:05:09")
    assert(XlsxCodec.isoDateText("2020-01-01T23:59:59.875")
      == "2020-01-01 23:59:59")
    assert(XlsxCodec.isoDateText("") == "")
    intercept[IllegalArgumentException](XlsxCodec.isoDateText("not-a-date"))
    intercept[IllegalArgumentException](XlsxCodec.isoDateText("43831"))
  }

  test("xlsx extraction: first sheet wins, else union across all sheets") {
    import graft.ingest.{DocParse, XlsxCodec}
    val valid = Seq(Seq("Event", "Venue"), Seq("Gala Night", "City Hall"))
    val decoy = Seq(Seq("note"), Seq("nothing"))
    // valid first sheet: second sheet must NOT contribute
    val r1 = DocParse.parseXlsx(XlsxCodec.encode(
      Seq("A" -> valid, "B" -> Seq(Seq("Event"), Seq("Ghost Event")))))
    assert(r1.map(_.name) == Seq(Some("Gala Night")))
    // invalid first sheet: union reads every sheet
    val r2 = DocParse.parseXlsx(XlsxCodec.encode(
      Seq("A" -> decoy, "B" -> valid, "C" -> valid)))
    assert(r2.map(_.name) ==
      Seq(Some("Gala Night"), Some("Gala Night")))
  }

  test("xlsx decode: hostile inputs fail loudly") {
    import graft.ingest.XlsxCodec
    intercept[IllegalArgumentException](XlsxCodec.decode("junk".getBytes))
    // docx is a zip but not a workbook
    intercept[IllegalArgumentException](XlsxCodec.decode(
      graft.ingest.DocxCodec.encode(Seq("p"))))
  }

  test("xlsx dateStyles: seeded fuzz over hostile format codes") {
    import graft.ingest.XlsxCodec
    val main = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    // random codes assembled from the tokens real (and hostile) writers
    // mix: quoted literals, escapes, bracket spans, elapsed markers,
    // date tokens, digits — three distinct style-classification bugs
    // shipped in one round (r10 ADVICE), so the surface gets the same
    // seeded-fuzz treatment as the PDF dict scanner
    val pool = Seq("yyyy", "mm", "dd", "hh", "ss", "0.00", "#,##0",
      "\"at h o'clock\"", "\"[h]\"", "[Red]", "[>=100]", "[h]", "[mm]",
      "[ss]", "\\y", "\\\\", "@", ":", "-", " ", "\"unclosed", "]", ";")
    val rnd = new scala.util.Random(11)
    val codes = (1 to 200).map { _ =>
      (0 until rnd.nextInt(6)).map(_ => pool(rnd.nextInt(pool.size)))
        .mkString
    } :+ "" :+ "\"" :+ "\\" :+ "[[]]" :+ "[h" :+
      "General;dd/mm/yyyy" :+ "yyyy-mm-dd;@" :+ "0.00;[h]:mm:ss"
    val styles =
      s"""<styleSheet xmlns="$main"><numFmts count="${codes.size}">""" +
        codes.zipWithIndex.map { case (c, i) =>
          val esc = c.replace("&", "&amp;").replace("<", "&lt;")
            .replace("\"", "&quot;")
          s"""<numFmt numFmtId="${164 + i}" formatCode="$esc"/>"""
        }.mkString +
        s"""</numFmts><cellXfs count="${codes.size}">""" +
        codes.indices.map(i => s"""<xf numFmtId="${164 + i}"/>""").mkString +
        "</cellXfs></styleSheet>"
    // totality: hostile codes never crash classification
    val flags = XlsxCodec.dateStyles(styles.getBytes("UTF-8"))
    assert(flags.size == codes.size)
    codes.zip(flags).foreach { case (code, isDate) =>
      // classification reads the FIRST ';'-section only (openpyxl's
      // naive fmt.split(";")[0] — the invariants mirror that)
      val sect = code.split(";", -1).head
      val noQuotes = sect.replaceAll("\"[^\"]*\"", "").replaceAll("\\\\.", "")
      // invariant 1: a LEADING elapsed marker is a duration, never a date
      if (noQuotes.matches("(?i)^\\s*\\[(h+|m+|s+)\\].*"))
        assert(!isDate, s"elapsed code <$code> classified as date")
      // invariant 2: date tokens only inside quotes/escapes/brackets —
      // or only in sections past the first — never classify as date
      if (!noQuotes.replaceAll("\\[[^\\]]*\\]", "")
          .exists(c => "ymdhsYMDHS".indexOf(c) >= 0))
        assert(!isDate, s"token-free code <$code> classified as date")
    }
    // deterministic section-split cases (openpyxl parity)
    def one(code: String): Boolean = {
      val esc = code.replace("&", "&amp;").replace("<", "&lt;")
        .replace("\"", "&quot;")
      XlsxCodec.dateStyles(
        (s"""<styleSheet xmlns="$main"><numFmts count="1">""" +
          s"""<numFmt numFmtId="164" formatCode="$esc"/></numFmts>""" +
          s"""<cellXfs count="1"><xf numFmtId="164"/></cellXfs>""" +
          "</styleSheet>").getBytes("UTF-8")).head
    }
    assert(!one("General;dd/mm/yyyy")) // date tokens only in section 2
    assert(one("yyyy-mm-dd;@"))        // section 1 is the date
    assert(!one("0.00;[h]:mm:ss"))     // section 1 numeric
    assert(!one("[h]:mm:ss;yyyy"))     // section 1 elapsed
  }

  test("sniff: magic bytes beat extensions; zip parts discriminate") {
    import graft.ingest.{DocParse, DocxCodec, PdfCodec, XlsxCodec}
    assert(DocParse.sniff(PdfCodec.encode(Seq("x"))) == "pdf")
    assert(DocParse.sniff(DocxCodec.encode(Seq("p"))) == "docx")
    assert(DocParse.sniff(
      XlsxCodec.encode(Seq("S" -> Seq(Seq("a"))))) == "xlsx")
    assert(DocParse.sniff("a,b\n1,2".getBytes) == "csv")
    assert(DocParse.sniff("just prose".getBytes) == "text")
    assert(DocParse.sniff("  {\"k\":1}".getBytes) == "json")
    assert(DocParse.sniff("[1,2]".getBytes) == "json")
  }

  test("zip reader: members come from the central directory, checked") {
    import graft.ingest.DocxCodec
    import graft.multimodal.ZipCodec
    // DEFLATE members (ZipOutputStream, data descriptors) read back
    // exactly what the JDK's streaming reader reads
    val docx = DocxCodec.encode(Seq("alpha", "beta"))
    val zin = new java.util.zip.ZipInputStream(
      new java.io.ByteArrayInputStream(docx))
    val jdk = Iterator.continually(zin.getNextEntry).takeWhile(_ != null)
      .map(e => e.getName -> zin.readAllBytes().toSeq).toMap
    val ents = ZipCodec.census(docx)
    assert(ents.map(e => e.name -> ZipCodec.read(docx, e).toSeq).toMap ==
      jdk)
    // a member whose bytes disagree with the directory's CRC-32
    val stored = ZipCodec.synth(Seq("a.txt" -> "hello zip".getBytes("UTF-8")))
    val e = ZipCodec.census(stored).head
    assert(new String(ZipCodec.read(stored, e), "UTF-8") == "hello zip")
    stored(e.dataAt.toInt) = 'j'.toByte
    val crc = intercept[IllegalArgumentException](ZipCodec.read(stored, e))
    assert(crc.getMessage.contains("CRC-32"), crc.getMessage)
    // usize bounds the inflate: a member that inflates past it refuses
    val doc = ents.find(_.name == "word/document.xml").get
    val past = intercept[IllegalArgumentException](
      ZipCodec.read(docx, doc.copy(usize = doc.usize - 1)))
    assert(past.getMessage.contains("past"), past.getMessage)
  }

  test("sniff reads zip names only: a corrupt document.xml is a docx") {
    import graft.ingest.{DocParse, DocxCodec}
    import graft.multimodal.ZipCodec
    val docx = DocxCodec.encode(Seq("Name: Event", "Venue: Hall"))
    val doc = ZipCodec.census(docx).find(_.name == "word/document.xml").get
    var k = doc.dataAt.toInt + 2
    while (k < doc.dataAt + doc.csize - 2) { docx(k) = 0xff.toByte; k += 1 }
    assert(DocParse.sniff(docx) == "docx")
    DocParse.parseAnySafe(docx) match {
      case Left(f) => assert(f.format == "docx", f)
      case Right(r) => fail(s"corrupt docx parsed: $r")
    }
  }

  test("parseCsvRows: RFC-4180 quoting, CRLF, escaped quotes") {
    import graft.ingest.DocParse.parseCsvRows
    assert(parseCsvRows("a,b\r\n1,2\n3,4") ==
      Seq(Seq("a", "b"), Seq("1", "2"), Seq("3", "4")))
    assert(parseCsvRows("\"a,b\",\"say \"\"hi\"\"\",c") ==
      Seq(Seq("a,b", "say \"hi\"", "c")))
    assert(parseCsvRows("\"multi\nline\",x") ==
      Seq(Seq("multi\nline", "x")))
    assert(parseCsvRows("a,") == Seq(Seq("a", "")))
  }

  test("parseAny: one front door, every route extracts the same record") {
    import graft.ingest.{DocParse, DocxCodec, PdfCodec, XlsxCodec}
    val table = Seq(Seq("Title", "Venue", "Date"),
      Seq("Gala Night", "City Hall", "2024-05-05"))
    val variants = Seq(
      DocxCodec.encode(Nil, Seq(table)),
      XlsxCodec.encode(Seq("S" -> table)),
      PdfCodec.encode(Seq("Name: Gala Night", "Venue: City Hall",
        "Date: 2024-05-05")),
      "title,venue,date\nGala Night,City Hall,2024-05-05".getBytes("UTF-8"))
    for (b <- variants) {
      val (fmt, recs) = DocParse.parseAny(b)
      assert(recs.size == 1, fmt)
      assert(recs.head.name.contains("Gala Night"), fmt)
      assert(recs.head.venue_name.contains("City Hall"), fmt)
      assert(recs.head.event_date.contains("2024-05-05"), fmt)
    }
    intercept[IllegalArgumentException](
      DocParse.parseAny("{\"a\":1}".getBytes))
  }

  test("pdf decode: indirect /Length N 0 R resolves via integer object") {
    import graft.ingest.PdfCodec
    // the dominant real-world stream-length encoding (r9 verdict #1):
    // "/Length 5 0 R" must never bind the stream at 5 bytes — the
    // object NUMBER — but at the value of object `5 0`
    val lines = Seq("Indirect (length) page", "line \\ two", "")
    for (compress <- Seq(true, false); first <- Seq(true, false))
      assert(PdfCodec.decode(PdfCodec.encodeWithIndirectLength(
        lines, compress, lenObjFirst = first)) == lines,
        s"compress=$compress lenObjFirst=$first")
    // decoy `5 0 obj <wrong> endobj` byte patterns before the stream:
    // each fails the endstream validation, the real object wins
    assert(PdfCodec.decode(PdfCodec.encodeWithIndirectLength(
      lines, compress = true, decoys = Seq(2, 999999, 0))) == lines)
    // raw (unfiltered) content under an indirect length — the exact
    // silent-truncation shape the r9 verdict reproduced
    assert(PdfCodec.decode(PdfCodec.encodeWithIndirectLength(
      lines, compress = false, decoys = Seq(3))) == lines)
    // unresolvable: the integer object is absent (e.g. it lives in a
    // compressed /ObjStm) — loud refusal, never the object number
    val orphan = ("%PDF-1.4\n1 0 obj << /Length 9 0 R >> stream\n" +
      "BT (never) Tj ET\nendstream endobj\n%%EOF").getBytes("ISO-8859-1")
    val e1 = intercept[IllegalArgumentException](PdfCodec.decode(orphan))
    assert(e1.getMessage.contains("unresolvable indirect /Length"))
    // a decoy whose value happens to exist but doesn't validate is
    // still unresolvable — refusal, not a 2-byte stream
    val badVal = ("%PDF-1.4\n9 0 obj 2 endobj\n" +
      "1 0 obj << /Length 9 0 R >> stream\n" +
      "BT (never) Tj ET\nendstream endobj\n%%EOF").getBytes("ISO-8859-1")
    val e2 = intercept[IllegalArgumentException](PdfCodec.decode(badVal))
    assert(e2.getMessage.contains("unresolvable indirect /Length"))
  }

  test("pdf decode: image streams under indirect or missing /Length") {
    import graft.ingest.PdfCodec
    // image XObject with a RESOLVABLE indirect length is skipped whole
    // — its "(trap) Tj" bait never surfaces; text comes from the
    // literal-length content stream after it
    val img = "ÿØ(trap) Tj >> junkÿÙ"
    val ok = ("%PDF-1.4\n" +
      s"1 0 obj << /Subtype /Image /Length 7 0 R /Filter /DCTDecode >> " +
      s"stream\n$img\nendstream endobj\n" +
      s"7 0 obj ${img.length} endobj\n" +
      "2 0 obj << /Length 13 >> stream\nBT (ok) Tj ET\nendstream endobj\n" +
      "%%EOF").getBytes("ISO-8859-1")
    assert(PdfCodec.decode(ok) == Seq("ok"))
    // image with an UNRESOLVABLE indirect length: loud (binary data may
    // contain 'endstream' — the scan heuristic is untrustworthy there)
    val unres = ("%PDF-1.4\n" +
      s"1 0 obj << /Subtype /Image /Length 8 0 R /Filter /DCTDecode >> " +
      s"stream\n$img\nendstream endobj\n" +
      "2 0 obj << /Length 13 >> stream\nBT (ok) Tj ET\nendstream endobj\n" +
      "%%EOF").getBytes("ISO-8859-1")
    val e1 = intercept[IllegalArgumentException](PdfCodec.decode(unres))
    assert(e1.getMessage.contains("unresolvable indirect /Length"))
    // image with NO /Length at all: loud for the same reason (r9
    // ADVICE) — never the endstream heuristic over binary image data
    val noLen = ("%PDF-1.4\n" +
      s"1 0 obj << /Subtype /Image /Filter /DCTDecode >> " +
      s"stream\nabc\nendstream endobj\n" +
      "2 0 obj << /Length 13 >> stream\nBT (ok) Tj ET\nendstream endobj\n" +
      "%%EOF").getBytes("ISO-8859-1")
    val e2 = intercept[IllegalArgumentException](PdfCodec.decode(noLen))
    assert(e2.getMessage.contains("without numeric /Length"))
  }

  test("pdf decode: /Length resolved through a compressed object stream") {
    import graft.ingest.PdfCodec
    // the modern-writer layout: the length integer lives inside a
    // Flate /Type /ObjStm member, invisible to a top-level scan — and
    // the ObjStm also carries a decoy member with "(trap) Tj" bait
    // that must never surface (the text loop skips container streams)
    val lines = Seq("ObjStm-resolved (length)", "line \\ two")
    assert(PdfCodec.decode(PdfCodec.encodeWithObjStmLength(lines)) == lines)
    // the ObjStm's OWN /Length indirect (top-level-resolvable)
    assert(PdfCodec.decode(PdfCodec.encodeWithObjStmLength(lines,
      objStmIndirectLen = true)) == lines)
    // a gen != 0 reference never matches an ObjStm member (members are
    // always gen 0) — unresolvable, loud
    val gen1 = new String(PdfCodec.encodeWithObjStmLength(lines),
      "ISO-8859-1").replace("/Length 5 0 R", "/Length 5 1 R")
      .getBytes("ISO-8859-1")
    val e1 = intercept[IllegalArgumentException](PdfCodec.decode(gen1))
    assert(e1.getMessage.contains("unresolvable indirect /Length"))
    // an ObjStm member that is NOT a bare integer (here: object 7, the
    // decoy dict) fails the integer parse — unresolvable, loud
    val notInt = new String(PdfCodec.encodeWithObjStmLength(lines),
      "ISO-8859-1").replace("/Length 5 0 R", "/Length 7 0 R")
      .getBytes("ISO-8859-1")
    val e2 = intercept[IllegalArgumentException](PdfCodec.decode(notInt))
    assert(e2.getMessage.contains("unresolvable indirect /Length"))
  }

  test("pdf decode: /Type /XRef binary streams are skipped like images") {
    import graft.ingest.PdfCodec
    // an xref stream's payload is binary rows — here laced with
    // text-scanner bait that must never surface; and per the container
    // rule it must carry a numeric /Length (no endstream heuristic)
    val xrefPayload = " (bait) Tj >> endstream-ish ÿ"
    val pdf = ("%PDF-1.5\n" +
      s"1 0 obj << /Type /XRef /W [1 2 2] " +
      s"/Length ${xrefPayload.length} >> stream\n" + xrefPayload +
      "\nendstream endobj\n" +
      "2 0 obj << /Length 13 >> stream\nBT (ok) Tj ET\nendstream endobj\n" +
      "%%EOF").getBytes("ISO-8859-1")
    assert(PdfCodec.decode(pdf) == Seq("ok"))
    // container without a numeric /Length refuses loudly
    val noLen = ("%PDF-1.5\n1 0 obj << /Type /XRef /W [1 2 2] >> " +
      "stream\nabc\nendstream endobj\n" +
      "2 0 obj << /Length 13 >> stream\nBT (ok) Tj ET\nendstream endobj\n" +
      "%%EOF").getBytes("ISO-8859-1")
    val e = intercept[IllegalArgumentException](PdfCodec.decode(noLen))
    assert(e.getMessage.contains("without numeric /Length"))
  }

  test("pdf indirect /Length: seeded fuzz with decoy integer objects") {
    import graft.ingest.PdfCodec
    // 200 generated PDFs: random text, random filter (flate|raw),
    // random length-object placement, 0..3 decoy values — decode must
    // return the text exactly (validation rejects every decoy) or the
    // generator avoids the two values that would legitimately
    // validate (len and len+1, which bound the same stream modulo the
    // EOL byte — accepting those is correct behavior, not a defect)
    val rnd = new scala.util.Random(40961)
    for (trial <- 0 until 200) {
      val lines = (0 to rnd.nextInt(4)).map(i =>
        s"t$trial line $i " + ("(x\\) " * rnd.nextInt(3)))
      val compress = rnd.nextBoolean()
      val first = rnd.nextBoolean()
      // decoys: wrong lengths, incl. overshooting the whole document
      val decoys = (0 until rnd.nextInt(4)).map(_ =>
        rnd.nextInt(3) match {
          case 0 => rnd.nextInt(8)           // undershoot
          case 1 => 100000 + rnd.nextInt(9)  // overshoot raw.length
          case _ => 40 + rnd.nextInt(9)      // mid-stream
        })
      val pdf = PdfCodec.encodeWithIndirectLength(lines, compress,
        decoys, lenObjFirst = first)
      // skip the rare trial where a decoy collides with a valid bound
      val dataLenOk = {
        val raw = new String(pdf, "ISO-8859-1")
        // decoys are emitted first, so the REAL object is the last match
        val len = "5 0 obj (\\d+) endobj".r.findAllMatchIn(raw)
          .toList.last.group(1).toInt
        !decoys.exists(v => v == len || v == len + 1)
      }
      if (dataLenOk)
        assert(PdfCodec.decode(pdf) == lines,
          s"trial $trial compress=$compress first=$first decoys=$decoys")
    }
    // and 50 trials through the ObjStm resolution path (random text of
    // random deflate length → random member offsets; both ObjStm-own-
    // length encodings) — the bait member must never surface
    for (trial <- 0 until 50) {
      val lines = (0 to rnd.nextInt(4)).map(i =>
        s"os$trial line $i " + ("y(z\\) " * rnd.nextInt(4)))
      val indirect = rnd.nextBoolean()
      assert(PdfCodec.decode(PdfCodec.encodeWithObjStmLength(lines,
        objStmIndirectLen = indirect)) == lines,
        s"objstm trial $trial indirect=$indirect")
    }
  }

  test("pdf incremental update: xref-chain liveness vs scan-all") {
    import graft.ingest.PdfCodec
    val base = PdfCodec.encode(Seq("Name: Original", "Venue: Old Hall"))
    val v2 = PdfCodec.appendIncrementalUpdate(base,
      Seq("Name: Revised", "Venue: New Hall"))
    // scan-all sees BOTH versions (the stale text is physically there)
    assert(PdfCodec.decode(v2) ==
      Seq("Name: Original", "Venue: Old Hall",
        "Name: Revised", "Venue: New Hall"))
    // the conforming-reader view sees only the live version
    assert(PdfCodec.decodeLatest(v2) ==
      Seq("Name: Revised", "Venue: New Hall"))
    // a second update supersedes the first: the /Prev chain is walked
    // newest-first and the newest mention of the object number wins
    val v3 = PdfCodec.appendIncrementalUpdate(v2, Seq("Name: Final"))
    assert(PdfCodec.decodeLatest(v3) == Seq("Name: Final"))
    assert(PdfCodec.decode(v3).size == 5)
    // an un-updated document is its own live version
    assert(PdfCodec.decodeLatest(base) == PdfCodec.decode(base))
    // liveness map: object 4 points at the newest append
    val m3 = PdfCodec.liveObjects(v3)
    val m2 = PdfCodec.liveObjects(v2)
    assert(m3(4) > m2(4) && m2(4) > PdfCodec.liveObjects(base)(4))
    // loud perimeter: a cyclic /Prev chain refuses
    val raw3 = new String(v3, "ISO-8859-1")
    val prevAt = raw3.lastIndexOf("/Prev ")
    val prevEnd = raw3.indexOf(" ", prevAt + 6)
    val selfOff = raw3.substring(raw3.lastIndexOf("startxref") + 9)
      .trim.takeWhile(_.isDigit)
    val cyc = raw3.substring(0, prevAt + 6) +
      selfOff.reverse.padTo(prevEnd - prevAt - 6, '0').reverse +
      raw3.substring(prevEnd)
    // (same-width splice keeps offsets valid; /Prev now points at the
    // newest table itself)
    val e = intercept[IllegalArgumentException](
      PdfCodec.liveObjects(cyc.getBytes("ISO-8859-1")))
    assert(e.getMessage.contains("cyclic"), e.getMessage)
  }

  test("pdf trailer: nested dict can't hide or forge /Prev") {
    import graft.ingest.PdfCodec
    val base = PdfCodec.encode(Seq("Name: Original"))
    val v2 = PdfCodec.appendIncrementalUpdate(base, Seq("Name: Revised"))
    val raw = new String(v2, "ISO-8859-1")
    val at = raw.lastIndexOf("/Prev ")
    // nested dict spliced BEFORE the real /Prev (trailer text follows
    // the xref table, so no recorded offset moves), carrying a decoy
    // /Prev inside the sub-dict AND a '>>'-bearing literal string —
    // the pre-r14 first-'>>' trailer bound hid everything after the
    // nested close, silently dropping the older xref section
    val spliced = (raw.substring(0, at) +
      "/Info << /T (a>>b) /Prev 1 >> " + raw.substring(at))
      .getBytes("ISO-8859-1")
    assert(PdfCodec.decodeLatest(spliced) == Seq("Name: Revised"))
    assert(PdfCodec.liveObjects(spliced) == PdfCodec.liveObjects(v2))
    // and a /Prev that lives ONLY inside the nested dict is not a
    // chain link: the walk stops at the newest table, whose only live
    // object is the appended content stream
    val prevEnd = raw.indexOf(" >>", at)
    val noTop = (raw.substring(0, at) + "/Info << /Prev 1 >>" +
      raw.substring(prevEnd)).getBytes("ISO-8859-1")
    assert(PdfCodec.liveObjects(noTop).keySet == Set(4))
  }

  test("pdf xref streams: liveness across stream/classic chains") {
    import graft.ingest.PdfCodec
    val lines = Seq("Name: Original", "Venue: Old Hall")
    val upd = Seq("Name: Revised", "Venue: New Hall", "Status: amended")
    // a pure xref-stream document is its own live version, with and
    // without the PNG-Up predictor Acrobat writes
    for (pred <- Seq(true, false)) {
      val doc = PdfCodec.encodeWithXrefStream(lines, predictor = pred)
      assert(PdfCodec.decode(doc) == lines, s"pred=$pred")
      assert(PdfCodec.decodeLatest(doc) == lines, s"pred=$pred")
      assert(PdfCodec.liveObjects(doc).keySet == Set(1, 2, 3, 4, 5))
    }
    // all three update chain shapes: only the update's text is live
    val ss = PdfCodec.appendIncrementalUpdateXrefStream(
      PdfCodec.encodeWithXrefStream(lines), upd)
    val cs = PdfCodec.appendIncrementalUpdateXrefStream(
      PdfCodec.encode(lines), upd)
    val sc = PdfCodec.appendIncrementalUpdate(
      PdfCodec.encodeWithXrefStream(lines, predictor = false), upd)
    for ((name, doc) <- Seq("stream+stream" -> ss, "classic+stream" -> cs,
        "stream+classic" -> sc)) {
      assert(PdfCodec.decode(doc) == lines ++ upd, name)
      assert(PdfCodec.decodeLatest(doc) == upd, name)
    }
    // a second stream update supersedes the first across the chain
    val ss2 = PdfCodec.appendIncrementalUpdateXrefStream(ss,
      Seq("Name: Final"))
    assert(PdfCodec.decodeLatest(ss2) == Seq("Name: Final"))
    assert(PdfCodec.decode(ss2).size == 6)
  }

  test("pdf hybrid /XRefStm: stream half fills what the table omits") {
    import graft.ingest.PdfCodec
    import java.io.ByteArrayOutputStream
    import java.util.zip.Deflater
    // hand-build a §7.5.8.4 hybrid update on a classic base: the new
    // section's classic table mentions ONLY the free head, its trailer
    // /XRefStm points at a stream whose entries carry the updated
    // object — readers that ignore the stream (pre-1.5) see the old
    // text, conforming readers the new
    val base = PdfCodec.encode(Seq("Name: Original"))
    val raw0 = new String(base, "ISO-8859-1")
    val prevXref = raw0.substring(raw0.lastIndexOf("startxref") + 9)
      .trim.takeWhile(_.isDigit).toLong
    def deflated(b: Array[Byte]): Array[Byte] = {
      val d = new Deflater()
      d.setInput(b); d.finish()
      val o = new ByteArrayOutputStream()
      val tmp = new Array[Byte](8192)
      while (!d.finished()) o.write(tmp, 0, d.deflate(tmp))
      d.end(); o.toByteArray
    }
    val content = "BT /F1 12 Tf 72 720 Td (Name: Revised) Tj ET"
      .getBytes("ISO-8859-1")
    val data = deflated(content)
    val out = new ByteArrayOutputStream()
    out.write(base)
    def w(s: String): Unit = out.write(s.getBytes("ISO-8859-1"))
    val objAt = out.size()
    w(s"4 0 obj << /Length ${data.length} /Filter /FlateDecode " +
      ">> stream\n")
    out.write(data)
    w("\nendstream endobj\n")
    val xsAt = out.size()
    val rows = new ByteArrayOutputStream()
    def row(t: Int, f2: Long, f3: Int): Unit = {
      rows.write(t)
      rows.write(((f2 >> 24) & 0xff).toInt)
      rows.write(((f2 >> 16) & 0xff).toInt)
      rows.write(((f2 >> 8) & 0xff).toInt)
      rows.write((f2 & 0xff).toInt)
      rows.write(f3)
    }
    row(1, objAt.toLong, 0)
    row(1, xsAt.toLong, 0)
    val xdata = deflated(rows.toByteArray)
    w(s"5 0 obj << /Type /XRef /Size 6 /Index [4 1 5 1] /W [1 4 1] " +
      s"/Root 1 0 R /Filter /FlateDecode /Length ${xdata.length} " +
      ">> stream\n")
    out.write(xdata)
    w("\nendstream endobj\n")
    val xrefAt = out.size()
    w(s"xref\n0 1\n0000000000 65535 f \ntrailer << /Size 6 " +
      s"/Root 1 0 R /XRefStm $xsAt /Prev $prevXref >>\n" +
      s"startxref\n$xrefAt\n%%EOF\n")
    val hybrid = out.toByteArray
    assert(PdfCodec.decodeLatest(hybrid) == Seq("Name: Revised"))
    assert(PdfCodec.decode(hybrid) ==
      Seq("Name: Original", "Name: Revised"))
    assert(PdfCodec.liveObjects(hybrid)(4) == objAt.toLong)
  }

  test("pdf xref streams: a type-2 entry retires the top-level body") {
    import graft.ingest.PdfCodec
    import java.io.ByteArrayOutputStream
    import java.util.zip.Deflater
    // append an xref-stream section whose row for the content object
    // is TYPE 2 (live version now inside an object stream): the
    // top-level body physically remains, but a conforming reader must
    // treat it as stale — with no live top-level content stream left,
    // decodeLatest refuses loudly instead of emitting the stale text
    val base = PdfCodec.encodeWithXrefStream(Seq("Name: Original"),
      predictor = false)
    val raw = new String(base, "ISO-8859-1")
    val prevXref = raw.substring(raw.lastIndexOf("startxref") + 9)
      .trim.takeWhile(_.isDigit).toLong
    def deflated(b: Array[Byte]): Array[Byte] = {
      val d = new Deflater()
      d.setInput(b); d.finish()
      val o = new ByteArrayOutputStream()
      val tmp = new Array[Byte](8192)
      while (!d.finished()) o.write(tmp, 0, d.deflate(tmp))
      d.end(); o.toByteArray
    }
    val out = new ByteArrayOutputStream()
    out.write(base)
    def w(s: String): Unit = out.write(s.getBytes("ISO-8859-1"))
    val xrefAt = out.size()
    val rows = new ByteArrayOutputStream()
    def row(t: Int, f2: Long, f3: Int): Unit = {
      rows.write(t)
      rows.write(((f2 >> 24) & 0xff).toInt)
      rows.write(((f2 >> 16) & 0xff).toInt)
      rows.write(((f2 >> 8) & 0xff).toInt)
      rows.write((f2 & 0xff).toInt)
      rows.write(f3)
    }
    row(2, 9L, 0) // obj 4: now member 0 of (hypothetical) ObjStm 9
    row(1, xrefAt.toLong, 0) // the xref stream itself (obj 6)
    val xdata = deflated(rows.toByteArray)
    w(s"6 0 obj << /Type /XRef /Size 7 /Index [4 1 6 1] /W [1 4 1] " +
      s"/Root 1 0 R /Prev $prevXref /Filter /FlateDecode " +
      s"/Length ${xdata.length} >> stream\n")
    out.write(xdata)
    w(s"\nendstream endobj\nstartxref\n$xrefAt\n%%EOF\n")
    val doc = out.toByteArray
    // the liveness map knows obj 4 is not at any top-level offset
    assert(!PdfCodec.liveObjects(doc).contains(4))
    // scan-all still sees the bytes; the conforming view refuses
    assert(PdfCodec.decode(doc) == Seq("Name: Original"))
    val e = intercept[IllegalArgumentException](PdfCodec.decodeLatest(doc))
    assert(e.getMessage.contains("no content stream"), e.getMessage)
  }

  test("pdf xref streams: malformed sections refuse loudly") {
    import graft.ingest.PdfCodec
    val doc = PdfCodec.encodeWithXrefStream(Seq("Name: X"),
      predictor = false)
    val raw = new String(doc, "ISO-8859-1")
    def liveOf(s: String) =
      PdfCodec.liveObjects(s.getBytes("ISO-8859-1"))
    // same-width splices keep every recorded offset valid
    val noW = raw.replace("/W [1 4 1]", "/Q [1 4 1]")
    val e1 = intercept[IllegalArgumentException](liveOf(noW))
    assert(e1.getMessage.contains("/W"), e1.getMessage)
    val noSize = raw.replace("/Size 6", "/Wize 6")
    val e2 = intercept[IllegalArgumentException](liveOf(noSize))
    assert(e2.getMessage.contains("/Size"), e2.getMessage)
    val notXref = raw.replace("/Type /XRef", "/Type /XrEf")
    val e3 = intercept[IllegalArgumentException](liveOf(notXref))
    assert(e3.getMessage.contains("/Type /XRef"), e3.getMessage)
    // a chain head that is neither table nor object header
    val junk = raw.substring(0, raw.lastIndexOf("startxref")) +
      "startxref\n3\n%%EOF\n"
    intercept[IllegalArgumentException](liveOf(junk))
    // a type-2 row (live version inside an ObjStm) retires the
    // TOP-LEVEL body: nothing live remains, and the text walk is loud
    // about it rather than emitting the stale bytes
    val doc2 = PdfCodec.encodeWithXrefStream(Seq("Name: X"),
      predictor = false)
    val raw2 = new String(doc2, "ISO-8859-1")
    // rebuild the table with obj 4 as type 2 by swapping W so the
    // first field reads 1→2 is fiddly; instead point startxref at a
    // truncated copy to prove the data-length guard
    val short = raw2.replace("/W [1 4 1]", "/W [2 4 4]")
    val e4 = intercept[IllegalArgumentException](liveOf(short))
    assert(e4.getMessage.contains("rows"), e4.getMessage)
    // an INDIRECT /Length in an xref-stream dict refuses per §7.5.8.2
    // — the pre-r15 regex backtracked to a digit PREFIX ('12' of
    // '123 0 R'), silently truncating the stream instead of refusing
    val li = raw.lastIndexOf("/Length ")
    var digEnd = li + "/Length ".length
    while (raw.charAt(digEnd).isDigit) digEnd += 1
    assert(digEnd - li - "/Length ".length >= 2,
      "fixture needs a multi-digit /Length for the backtrack case")
    val indirect = raw.substring(0, digEnd) + " 0 R" +
      raw.substring(digEnd)
    val e5 = intercept[IllegalArgumentException](liveOf(indirect))
    assert(e5.getMessage.contains("direct /Length"), e5.getMessage)
  }

  test("parseDocxFrame: executor-side decode over a binary column") {
    import spark.implicits._
    import graft.ingest.{DocParse, DocxCodec}
    val bin = DocxCodec.encode(Seq("Name: Spring Fair",
      "Venue: Park", "Date: 2024-06-01"))
    val df = Seq((1L, bin), (2L, bin)).toDF("id", "payload")
    val got = DocParse.parseDocxFrame(df, "id", "payload")
      .select("doc_id", "name", "venue_name", "event_date")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3))).sortBy(_._1).toSeq
    assert(got == Seq((1L, "Spring Fair", "Park", "2024-06-01"),
      (2L, "Spring Fair", "Park", "2024-06-01")))
  }
}
