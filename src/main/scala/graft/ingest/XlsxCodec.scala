package graft.ingest

import java.io.ByteArrayOutputStream
import java.util.zip.{ZipEntry, ZipOutputStream}

import graft.multimodal.ZipCodec
import org.w3c.dom.Element

/** In-engine .xlsx (OOXML spreadsheet) codec — closes the S8 Excel
  * stance the same way DocxCodec closed S9: ZipCodec's central-
  * directory reader + namespace-aware DOM, no external codec
  * dependency. Mirrors the surface the reference touches through
  * `pd.read_excel` (document_spider.py:136-161): sheets in workbook
  * order, each as rows of cell strings.
  *
  * Decode covers what real producers write: shared strings (`t="s"`,
  * including rich-text `<r>` runs), inline strings (`t="inlineStr"`),
  * formula-cached strings (`t="str"`), booleans (`t="b"`), and numeric
  * cells (raw `<v>` text preserved — no float round-trip), with A1-style
  * cell references deciding column position (gaps become ""). Anything
  * structurally absent fails loudly, never silently-empty.
  *
  * Scale stance: identical to DocxCodec — decode is per-row executor
  * work over a binary column; buffers are bounded by the largest single
  * workbook, and the bytes never visit the driver.
  */
object XlsxCodec {

  final case class Sheet(name: String, rows: Seq[Seq[String]])

  // encoder-side numeric-cell probe, hoisted: encode runs per ROW in
  // the roundtrip gates (q177/q181), so a per-call compile is the same
  // executor waste class as PdfCodec's hoisted dict probes
  private val NumericCell = "-?\\d+(\\.\\d+)?".r

  // leading elapsed-duration marker in a custom formatCode ([h]:mm:ss,
  // [mm]:ss — openpyxl's is_timedelta_format test is startswith on the
  // same markers); hoisted: dateStyles runs once per workbook, which is
  // once per ROW in the q177/q181 roundtrip gates
  private val ElapsedMarker = "(?i)^\\s*\\[(h+|m+|s+)\\]".r

  private val MAIN =
    "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
  private val REL =
    "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
  private val PKG_REL =
    "http://schemas.openxmlformats.org/package/2006/relationships"

  /** Decode an .xlsx binary into its sheets, in workbook order. */
  def decode(bytes: Array[Byte]): Seq[Sheet] = {
    val parts = zipEntries(bytes)
    val wb = parts.getOrElse("xl/workbook.xml",
      throw new IllegalArgumentException(
        "not an xlsx: missing xl/workbook.xml"))
    val rels = parts.getOrElse("xl/_rels/workbook.xml.rels",
      throw new IllegalArgumentException(
        "xlsx missing workbook relationships"))

    // rId -> part path (targets are relative to xl/ unless /-absolute)
    val relDoc = dom(rels)
    val targets = {
      val ns = relDoc.getElementsByTagNameNS(PKG_REL, "Relationship")
      (0 until ns.getLength).map(ns.item(_).asInstanceOf[Element])
        .map(e => e.getAttribute("Id") -> {
          val t = e.getAttribute("Target")
          if (t.startsWith("/")) t.drop(1) else "xl/" + t
        }).toMap
    }

    val shared: IndexedSeq[String] = parts.get("xl/sharedStrings.xml")
      .map { ss =>
        val sis = dom(ss).getElementsByTagNameNS(MAIN, "si")
        (0 until sis.getLength)
          .map(i => textUnder(sis.item(i).asInstanceOf[Element]))
      }.getOrElse(IndexedSeq.empty)

    val wbDom = dom(wb)
    // date-styled numeric cells (the pd.read_excel surface the
    // reference rides): style index -> is-date-format, from styles.xml
    val dateStyle: IndexedSeq[Boolean] = parts.get("xl/styles.xml")
      .map(dateStyles).getOrElse(IndexedSeq.empty)
    val date1904 = {
      val prs = wbDom.getElementsByTagNameNS(MAIN, "workbookPr")
      prs.getLength > 0 && {
        val v = prs.item(0).asInstanceOf[Element].getAttribute("date1904")
        v == "1" || v == "true"
      }
    }
    val sheets = wbDom.getElementsByTagNameNS(MAIN, "sheet")
    require(sheets.getLength > 0, "xlsx workbook declares no sheets")
    (0 until sheets.getLength).map { i =>
      val e = sheets.item(i).asInstanceOf[Element]
      val rid = e.getAttributeNS(REL, "id")
      val path = targets.getOrElse(rid,
        throw new IllegalArgumentException(
          s"xlsx sheet relationship $rid unresolved"))
      val ws = parts.getOrElse(path,
        throw new IllegalArgumentException(s"xlsx missing part $path"))
      Sheet(e.getAttribute("name"),
        sheetRows(dom(ws), shared, dateStyle, date1904))
    }
  }

  /** Per-cellXf is-date-format flags from styles.xml: builtin date/time
    * numFmtIds (ECMA-376 §18.8.30: 14-22 dates, 27-36 era dates, 45+47
    * times, 50-58 era dates — 46 `[h]:mm:ss` is an ELAPSED duration,
    * openpyxl's timedelta, so it stays a raw serial) plus custom
    * formatCodes carrying a date/time token (y/m/d/h/s) outside quoted
    * "..." and [...] spans — the same heuristic openpyxl applies, which
    * is what pd.read_excel rides in the reference. Custom codes whose
    * LEADING token is an elapsed marker ([h]/[mm]/[ss]…, openpyxl's
    * is_timedelta test) are durations, not datetimes: the bracket strip
    * below would otherwise drop the marker and the leftover mm/ss
    * tokens would misclassify the style as a date. Multi-section codes
    * classify on the first ';'-section only (openpyxl's
    * fmt.split(";")[0] — r11). */
  private[graft] def dateStyles(styles: Array[Byte]): IndexedSeq[Boolean] = {
    val doc = dom(styles)
    val builtin =
      ((14 to 22) ++ (27 to 36) ++ Seq(45, 47) ++ (50 to 58)).toSet
    val custom: Map[Int, Boolean] = {
      val ns = doc.getElementsByTagNameNS(MAIN, "numFmt")
      (0 until ns.getLength).map(ns.item(_).asInstanceOf[Element])
        .map { e =>
          val code = e.getAttribute("formatCode")
          // multi-section codes (positive;negative;zero;text) classify
          // on the FIRST section only — openpyxl's fmt.split(";")[0],
          // mirrored including its naive split (a quoted ';' splits
          // there too): "General;dd/mm/yyyy" is NOT a date style
          val sect = code.split(";", -1).head
          // strip "..."-quoted literals and \-escaped chars first, so a
          // quoted "[h]" can't fake an elapsed marker
          val noQuotes = sect.replaceAll("\"[^\"]*\"", "")
            .replaceAll("\\\\.", "")
          val elapsed = ElapsedMarker.pattern.matcher(noQuotes).find()
          val bare = noQuotes.replaceAll("\\[[^\\]]*\\]", "")
          e.getAttribute("numFmtId").toInt ->
            (!elapsed && bare.exists(c => "ymdhsYMDHS".indexOf(c) >= 0))
        }.toMap
    }
    // cellXfs only (cellStyleXfs are templates, never referenced by s=)
    val xfsParents = doc.getElementsByTagNameNS(MAIN, "cellXfs")
    if (xfsParents.getLength == 0) return IndexedSeq.empty
    val kids = xfsParents.item(0).getChildNodes
    (0 until kids.getLength).iterator.map(kids.item).collect {
      case e: Element
          if e.getNamespaceURI == MAIN && e.getLocalName == "xf" =>
        val id = Option(e.getAttribute("numFmtId")).filter(_.nonEmpty)
          .map(_.toInt).getOrElse(0)
        builtin(id) || custom.getOrElse(id, false)
    }.toIndexedSeq
  }

  /** Excel serial date -> "yyyy-MM-dd HH:mm:ss" (pandas Timestamp
    * rendering, the string the reference's record pipeline sees).
    * Epochs per the ECMA/openpyxl rule: 1900 system uses 1899-12-31
    * for serials < 60 and 1899-12-30 from 60 up (absorbing the
    * phantom 1900-02-29 the way openpyxl does); 1904 system counts
    * from 1904-01-01. Serials in [0, 1) carry no date part — openpyxl
    * hands pandas a datetime.time there, whose string form is
    * "HH:mm:ss" — so they render as time-of-day. Only NEGATIVE serials
    * refuse loudly (no date or time to render). */
  private[graft] def serialDate(serial: Double, date1904: Boolean)
      : String = {
    require(serial >= 0,
      s"xlsx date serial $serial is negative — no date or time to render")
    val days = math.floor(serial).toLong
    val secs = math.round((serial - days) * 86400.0)
    if (days == 0) { // time-only cell: openpyxl's datetime.time surface
      val s = if (secs >= 86400) 0L else secs // x.99999… wraps to midnight
      return f"${s / 3600}%02d:${s % 3600 / 60}%02d:${s % 60}%02d"
    }
    val (d, sec) = if (secs >= 86400) (days + 1, 0L) else (days, secs)
    val epoch =
      if (date1904) java.time.LocalDate.of(1904, 1, 1)
      else if (d >= 60) java.time.LocalDate.of(1899, 12, 30)
      else java.time.LocalDate.of(1899, 12, 31)
    val dt = epoch.plusDays(d).atStartOfDay.plusSeconds(sec)
    dt.format(java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss"))
  }

  private def sheetRows(doc: org.w3c.dom.Document,
      shared: IndexedSeq[String], dateStyle: IndexedSeq[Boolean],
      date1904: Boolean): Seq[Seq[String]] = {
    val rowNodes = doc.getElementsByTagNameNS(MAIN, "row")
    (0 until rowNodes.getLength).map { r =>
      val cells = rowNodes.item(r).asInstanceOf[Element].getChildNodes
      val row = collection.mutable.ArrayBuffer.empty[String]
      for (j <- 0 until cells.getLength) cells.item(j) match {
        case c: Element
            if c.getNamespaceURI == MAIN && c.getLocalName == "c" =>
          val at = colIndex(c.getAttribute("r"))
          val idx = if (at >= 0) at else row.length
          // refs must be monotonic within a row (ECMA-376 writes them in
          // order) — an out-of-order or duplicate ref from a hostile or
          // buggy writer previously TRUNCATED the cells written before
          // it (silent data loss); refuse loudly instead
          require(idx >= row.length,
            s"xlsx cell ref ${c.getAttribute("r")} out of order — " +
              "refusing to overwrite earlier cells in the row")
          while (row.length < idx) row += "" // sparse refs leave gaps
          row += cellText(c, shared, dateStyle, date1904)
        case _ =>
      }
      row.toSeq
    }
  }

  private def cellText(c: Element, shared: IndexedSeq[String],
      dateStyle: IndexedSeq[Boolean], date1904: Boolean): String = {
    def child(name: String): Option[Element] = {
      val kids = c.getChildNodes
      (0 until kids.getLength).iterator.map(kids.item).collectFirst {
        case e: Element
            if e.getNamespaceURI == MAIN && e.getLocalName == name => e
      }
    }
    c.getAttribute("t") match {
      case "s" =>
        val v = child("v").map(_.getTextContent.trim).getOrElse(
          throw new IllegalArgumentException("shared-string cell without v"))
        shared.lift(v.toInt).getOrElse(
          throw new IllegalArgumentException(s"shared string $v out of range"))
      case "inlineStr" => child("is").map(textUnder).getOrElse("")
      case "b" =>
        if (child("v").exists(_.getTextContent.trim == "1")) "true"
        else "false"
      case "str" => // formula-cached string: raw cached text
        child("v").map(_.getTextContent).getOrElse("")
      case "d" => // ISO-8601 typed cell: openpyxl parses these into
        // datetime/date/time objects regardless of style, so the
        // reference surfaces '2020-01-01 00:00:00', never the raw
        // 'T'-separated payload — render in serialDate's forms so
        // typed-date cells and date-styled serials read identically
        isoDateText(child("v").map(_.getTextContent.trim).getOrElse(""))
      case t => // "n"/untyped numeric or "e" (error literal like
        // #DIV/0!): raw <v> text (no float round-trip) — except
        // date-styled NUMERIC cells, which render as the pandas
        // Timestamp string pd.read_excel hands the reference. t="e"
        // payloads are not serials, so the conversion is gated on the
        // numeric types only.
        val v = child("v").map(_.getTextContent).getOrElse("")
        val styled = (t.isEmpty || t == "n") &&
          Option(c.getAttribute("s")).filter(_.nonEmpty)
            .flatMap(_.toIntOption).exists(dateStyle.lift(_).contains(true))
        if (styled && v.nonEmpty)
          serialDate(java.lang.Double.parseDouble(v.trim), date1904)
        else v
    }
  }

  /** t="d" ISO-8601 payload in the surface pd.read_excel would hand the
    * reference: full datetimes and date-only values render
    * 'yyyy-MM-dd HH:mm:ss' (fractional seconds truncated — serialDate's
    * whole-second surface), time-only values 'HH:mm:ss' (openpyxl's
    * datetime.time form, same as sub-day serials). A payload that is
    * not ISO-8601 refuses loudly — the typed cell CLAIMS a date, and
    * passing garbage through as text would silently diverge from every
    * conforming reader (same posture as out-of-order refs). */
  private[graft] def isoDateText(v: String): String = {
    if (v.isEmpty) return ""
    val noFrac = { // LocalTime.parse accepts fractions; drop them up
      val dot = v.indexOf('.') // front so every branch truncates alike
      if (dot >= 0) v.substring(0, dot) else v
    }
    try {
      if (noFrac.contains("T"))
        java.time.LocalDateTime.parse(noFrac).format(
          java.time.format.DateTimeFormatter
            .ofPattern("yyyy-MM-dd HH:mm:ss"))
      else if (noFrac.contains(":"))
        java.time.LocalTime.parse(noFrac).format(
          java.time.format.DateTimeFormatter.ofPattern("HH:mm:ss"))
      else
        java.time.LocalDate.parse(noFrac).atStartOfDay.format(
          java.time.format.DateTimeFormatter
            .ofPattern("yyyy-MM-dd HH:mm:ss"))
    } catch {
      case e: java.time.format.DateTimeParseException =>
        throw new IllegalArgumentException(
          s"""xlsx t="d" cell payload '$v' is not ISO-8601 — refusing""", e)
    }
  }

  /** All t text under a node in document order (rich-text runs concat). */
  private def textUnder(n: org.w3c.dom.Node): String = {
    val sb = new StringBuilder
    def walk(x: org.w3c.dom.Node): Unit = x match {
      case e: Element
          if e.getNamespaceURI == MAIN && e.getLocalName == "t" =>
        sb.append(e.getTextContent)
      case other =>
        val c = other.getChildNodes
        for (i <- 0 until c.getLength) walk(c.item(i))
    }
    walk(n)
    sb.toString
  }

  /** "BC7" -> 54 (0-based column); "" or absent ref -> -1 (sequential). */
  private[graft] def colIndex(ref: String): Int = {
    val letters = ref.takeWhile(c => c >= 'A' && c <= 'Z')
    if (letters.isEmpty) -1
    else letters.foldLeft(0)((a, c) => a * 26 + (c - 'A' + 1)) - 1
  }

  private[graft] def colLetters(idx: Int): String = {
    var i = idx + 1
    val sb = new StringBuilder
    while (i > 0) { val r = (i - 1) % 26; sb.insert(0, ('A' + r).toChar); i = (i - 1) / 26 }
    sb.toString
  }

  private def dom(xml: Array[Byte]): org.w3c.dom.Document =
    SecureXml.parse(xml) // thread-local builder; hardened (no doctypes)

  /** Every file member, read through the central directory
    * (workbooks need random part access: rels point forward and
    * backward). */
  private def zipEntries(bytes: Array[Byte]): Map[String, Array[Byte]] =
    ZipCodec.census(bytes).filterNot(_.name.endsWith("/"))
      .map(e => e.name -> ZipCodec.read(bytes, e)).toMap

  /** Encode sheets as a minimal valid .xlsx — the test and roundtrip-
    * query side. `sharedStrings=true` writes string cells through a
    * deduplicated sst (what Excel itself does); `false` writes
    * inlineStr cells — both decode paths stay gate-checked. Cells whose
    * text looks numeric are written as native numeric `<v>` cells. */
  def encode(sheets: Seq[(String, Seq[Seq[String]])],
      sharedStrings: Boolean = true): Array[Byte] = {
    require(sheets.nonEmpty, "workbook needs at least one sheet")
    def esc(s: String): String = s.flatMap {
      case '&' => "&amp;"
      case '<' => "&lt;"
      case '>' => "&gt;"
      case '"' => "&quot;"
      case c => c.toString
    }
    val numeric = NumericCell
    val sst = collection.mutable.LinkedHashMap.empty[String, Int]
    def sstIdx(s: String): Int = sst.getOrElseUpdate(s, sst.size)

    val sheetXmls = sheets.map { case (_, rows) =>
      val body = rows.zipWithIndex.map { case (row, r) =>
        val cells = row.zipWithIndex.map { case (v, c) =>
          val ref = s"${colLetters(c)}${r + 1}"
          if (numeric.pattern.matcher(v).matches())
            s"""<c r="$ref"><v>$v</v></c>"""
          else if (sharedStrings)
            s"""<c r="$ref" t="s"><v>${sstIdx(v)}</v></c>"""
          else
            s"""<c r="$ref" t="inlineStr"><is><t xml:space="preserve">${esc(v)}</t></is></c>"""
        }.mkString
        s"""<row r="${r + 1}">$cells</row>"""
      }.mkString
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
         |<worksheet xmlns="$MAIN"><sheetData>$body</sheetData></worksheet>"""
        .stripMargin
    }

    val sheetDecls = sheets.zipWithIndex.map { case ((name, _), i) =>
      s"""<sheet name="${esc(name)}" sheetId="${i + 1}" r:id="rId${i + 1}"/>"""
    }.mkString
    val workbook =
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
         |<workbook xmlns="$MAIN" xmlns:r="$REL"><sheets>$sheetDecls</sheets></workbook>"""
        .stripMargin
    val ssId = sheets.size + 1
    val wbRels =
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
         |<Relationships xmlns="$PKG_REL">""".stripMargin +
        sheets.indices.map(i =>
          s"""<Relationship Id="rId${i + 1}" Type="$REL/worksheet" Target="worksheets/sheet${i + 1}.xml"/>""").mkString +
        (if (sharedStrings)
          s"""<Relationship Id="rId$ssId" Type="$REL/sharedStrings" Target="sharedStrings.xml"/>"""
         else "") +
        "</Relationships>"
    val sstXml =
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
         |<sst xmlns="$MAIN" count="${sst.size}" uniqueCount="${sst.size}">"""
        .stripMargin +
        sst.keys.map(s =>
          s"""<si><t xml:space="preserve">${esc(s)}</t></si>""").mkString +
        "</sst>"
    val pkgRels =
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
         |<Relationships xmlns="$PKG_REL"><Relationship Id="rId1" Type="$REL/officeDocument" Target="xl/workbook.xml"/></Relationships>"""
        .stripMargin
    val contentTypes =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
        |<Default Extension="xml" ContentType="application/xml"/>
        |<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
        |<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>
        |</Types>""".stripMargin

    val out = new ByteArrayOutputStream()
    val zip = new ZipOutputStream(out)
    val entries = Seq(
      "[Content_Types].xml" -> contentTypes,
      "_rels/.rels" -> pkgRels,
      "xl/workbook.xml" -> workbook,
      "xl/_rels/workbook.xml.rels" -> wbRels) ++
      (if (sharedStrings) Seq("xl/sharedStrings.xml" -> sstXml) else Nil) ++
      sheetXmls.zipWithIndex.map { case (xml, i) =>
        s"xl/worksheets/sheet${i + 1}.xml" -> xml
      }
    for ((name, data) <- entries) {
      zip.putNextEntry(new ZipEntry(name))
      zip.write(data.getBytes("UTF-8"))
      zip.closeEntry()
    }
    zip.close()
    out.toByteArray
  }
}
