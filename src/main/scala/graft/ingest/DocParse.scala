package graft.ingest

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** U4: the document/PDF text → event-records state machine
  * (pdf_spider.py:51-101, document_spider.py:217-253) as a typed flatMap —
  * one text blob in, N records out. The fold is inherently sequential per
  * document, so it runs as a per-row JVM loop inside mapPartitions-style
  * execution; documents parallelize across partitions. */
object DocParse {

  final case class DocRecord(
      name: Option[String],
      venue_name: Option[String],
      venue_address: Option[String],
      event_date: Option[String],
      url: Option[String],
      description: Option[String])

  private val labelAliases: Map[String, String] = Map(
    "venue" -> "venue_name", "location" -> "venue_name",
    "place" -> "venue_name",
    "name" -> "name", "event" -> "name", "title" -> "name",
    "address" -> "venue_address", "addr" -> "venue_address",
    "date" -> "event_date", "when" -> "event_date",
    "time" -> "event_date",
    "website" -> "url", "url" -> "url", "link" -> "url")

  private val monthRe =
    "(?i).*(january|february|march|april|may|june|july|august|september|" +
      "october|november|december)\\s+\\d{1,2}.*"
  private def isDate(l: String): Boolean =
    l.matches(".*\\d{1,2}[/-]\\d{1,2}[/-]\\d{2,4}.*") ||
      l.matches(monthRe) || l.matches(".*\\d{4}-\\d{2}-\\d{2}.*")
  private def isUrl(l: String): Boolean = l.matches("^https?://.*")
  private def isAddress(l: String): Boolean =
    l.toLowerCase.matches("\\d+\\s+\\w+.*\\b(street|st|avenue|ave|road|rd|" +
      "boulevard|blvd|drive|dr|lane|ln|way|pike|place)\\b.*")
  private def looksLikeName(l: String): Boolean =
    l.length >= 5 && l.length <= 150 && l.headOption.exists(_.isUpper)

  /** Parse one text blob into records: "key: value" labeled lines update
    * the in-flight record; a new name-looking line flushes the previous
    * record; leftover lines accumulate into the description. */
  def parseText(text: String): Seq[DocRecord] = {
    val out = Seq.newBuilder[DocRecord]
    var name, venue, addr, date, url = Option.empty[String]
    var desc = List.empty[String]
    def flush(): Unit = {
      if (name.exists(n => n.length >= 3 && n.exists(_.isLetter))) // P7
        out += DocRecord(name, venue, addr, date, url,
          if (desc.isEmpty) None
          else Some(desc.reverse.mkString(" ").take(500))) // F7 cap
      name = None; venue = None; addr = None; date = None; url = None
      desc = Nil
    }
    text.split("\n").iterator.map(_.trim).filter(_.nonEmpty).foreach { line =>
      val kv = line.split(":", 2) // F11
      val label = labelAliases.get(kv(0).trim.toLowerCase)
      (label, kv.length) match {
        case (Some("name"), 2) => flush(); name = Some(kv(1).trim)
        case (Some(field), 2) =>
          val v = Some(kv(1).trim).filter(_.nonEmpty)
          field match {
            case "venue_name" => venue = v
            case "venue_address" => addr = v
            case "event_date" => date = v
            case "url" => url = v
            case _ =>
          }
        case _ => // heuristic classification (F12)
          if (isUrl(line)) url = url.orElse(Some(line))
          else if (isDate(line)) date = date.orElse(Some(line))
          else if (isAddress(line)) addr = addr.orElse(Some(line))
          else if (looksLikeName(line) && name.isEmpty) name = Some(line)
          else desc ::= line
      }
    }
    flush()
    out.result()
  }

  /** S9, binary half: decode a .docx IN-ENGINE (DocxCodec — ZipCodec's
    * zip reader + DOM, no external codec) and apply the reference's
    * extraction order (document_spider.py:163-253): tables first —
    * header row + data rows, headers resolved through the SAME synonym
    * map as the CSV path — and only when no table yields a valid
    * record, the paragraph state machine over the document text. */
  def parseDocx(bytes: Array[Byte]): Seq[DocRecord] = {
    val c = DocxCodec.decode(bytes)
    val fromTables = c.tables.flatMap(recordsFromTable)
    if (fromTables.nonEmpty) fromTables
    else parseText(c.paragraphs.mkString("\n"))
  }

  /** The reference's `_dataframe_to_items` shape, shared by the docx
    * table route and the xlsx sheet route: header row resolved through
    * the CSV synonym map, data rows to records, P7 name validity. */
  private[graft] def recordsFromTable(
      rows: Seq[Seq[String]]): Seq[DocRecord] = {
    if (rows.size < 2) Nil // need header + at least one data row
    else {
      val hdr = rows.head.map(_.trim.toLowerCase.replace(' ', '_'))
      val idx: Map[String, Int] = CsvUpload.columnSynonyms.flatMap {
        case (canon, syns) =>
          syns.collectFirst {
            case s0 if hdr.contains(s0) => canon -> hdr.indexOf(s0)
          }
      }.toMap
      def g(r: Seq[String], f: String): Option[String] =
        idx.get(f).flatMap(r.lift).map(_.trim).filter(_.nonEmpty)
      rows.tail.map { r =>
        DocRecord(g(r, "name"), g(r, "venue_name"), g(r, "venue_address"),
          g(r, "event_date"), g(r, "url"), g(r, "description"))
      }.filter(_.name.exists(n => n.length >= 3 && n.exists(_.isLetter)))
    }
  }

  /** S8, binary half: decode an .xlsx IN-ENGINE (XlsxCodec) and apply
    * the reference's sheet order (document_spider.py:136-161): the
    * FIRST sheet's records win; only when it yields none are ALL sheets
    * read and their records concatenated. */
  def parseXlsx(bytes: Array[Byte]): Seq[DocRecord] = {
    val sheets = XlsxCodec.decode(bytes)
    val first = recordsFromTable(sheets.head.rows)
    if (first.nonEmpty) first
    else sheets.flatMap(s => recordsFromTable(s.rows))
  }

  /** Content-based format detection — the reference routes uploads by
    * file extension (tasks.py, document_spider.py handler map); magic
    * bytes are the honest version of the same dispatch (an extension
    * lies, a header doesn't). Zip containers are discriminated by the
    * NAME of their defining part in the central directory; no member
    * is inflated here, so a docx whose document.xml is corrupt sniffs
    * as docx and fails in the docx decoder. */
  def sniff(bytes: Array[Byte]): String = {
    if (bytes.length >= 5 &&
      new String(bytes, 0, 5, "ISO-8859-1") == "%PDF-") "pdf"
    else if (bytes.length >= 4 && bytes(0) == 'P' && bytes(1) == 'K' &&
      bytes(2) == 3 && bytes(3) == 4) {
      val names = graft.multimodal.ZipCodec.census(bytes).map(_.name)
      if (names.contains("word/document.xml")) "docx"
      else if (names.contains("xl/workbook.xml")) "xlsx"
      else "zip"
    } else {
      val s = new String(bytes, "UTF-8")
      val t = s.dropWhile(_.isWhitespace)
      if (t.startsWith("{") || t.startsWith("[")) "json"
      else if (s.linesIterator.hasNext &&
        s.linesIterator.next().contains(',')) "csv"
      else "text"
    }
  }

  /** RFC-4180 rows: quoted fields may hold commas, CRLF, and ""-escaped
    * quotes. (CsvUpload's Spark reader covers the file route; this is
    * the per-row binary-column route where each payload IS one CSV.) */
  private[graft] def parseCsvRows(s: String): Seq[Seq[String]] = {
    val rows = Seq.newBuilder[Seq[String]]
    val row = collection.mutable.ArrayBuffer.empty[String]
    val f = new StringBuilder
    var i = 0
    var inQ = false
    val n = s.length
    def endField(): Unit = { row += f.toString; f.clear() }
    def endRow(): Unit = { endField(); rows += row.toSeq; row.clear() }
    while (i < n) {
      val c = s.charAt(i)
      if (inQ) {
        if (c == '"') {
          if (i + 1 < n && s.charAt(i + 1) == '"') { f.append('"'); i += 2 }
          else { inQ = false; i += 1 }
        } else { f.append(c); i += 1 }
      } else c match {
        case '"' if f.isEmpty => inQ = true; i += 1
        case ',' => endField(); i += 1
        case '\r' =>
          i += (if (i + 1 < n && s.charAt(i + 1) == '\n') 2 else 1)
          endRow()
        case '\n' => endRow(); i += 1
        case other => f.append(other); i += 1
      }
    }
    if (f.nonEmpty || row.nonEmpty) endRow()
    rows.result()
  }

  /** One front door over every binary route: sniff, then the matching
    * codec + extraction. Returns (detected format, records). JSON
    * payloads route at the DataFrame layer (S13 multiLine sniff /
    * Normalize) and are rejected here, loudly. */
  def parseAny(bytes: Array[Byte]): (String, Seq[DocRecord]) =
    sniff(bytes) match {
      case "pdf" =>
        ("pdf", parseText(PdfCodec.decode(bytes).mkString("\n")))
      case "docx" => ("docx", parseDocx(bytes))
      case "xlsx" => ("xlsx", parseXlsx(bytes))
      case "csv" =>
        ("csv", recordsFromTable(parseCsvRows(new String(bytes, "UTF-8"))))
      case "text" => ("text", parseText(new String(bytes, "UTF-8")))
      case other => throw new IllegalArgumentException(
        s"$other payloads route at the DataFrame layer (S13/Normalize)")
    }

  /** One quarantined binary payload: the sniffed (or attempted)
    * format and a bounded one-line error. The binary mirror of
    * Normalize.quarantine's JSON split (r12 verdict #3). */
  final case class ParseFailure(format: String, error: String)

  /** Poison-pill-tolerant front door: parseAny with every decode
    * failure caught and turned into a TYPED ROW instead of a task
    * abort. At 100 TB one corrupt PDF must not kill its task forever
    * — the reference swallows these silently (pdf_spider.py:48-50
    * catches Exception and returns ""; pipelines.py:18-20); the
    * honest version keeps the failure as data so the job both
    * finishes AND reports what it skipped. parseAny itself stays loud
    * — the oracle fixtures want hard failure on drift; callers choose
    * the perimeter per job. Fatal JVM errors still propagate. */
  def parseAnySafe(bytes: Array[Byte])
      : Either[ParseFailure, (String, Seq[DocRecord])] =
    try Right(parseAny(bytes))
    catch {
      case scala.util.control.NonFatal(e) =>
        // sniff itself is loud on a broken zip container — fall back
        // to a magic-bytes-only classifier that cannot throw, so the
        // quarantine row still names the container family
        val fmt =
          try sniff(bytes)
          catch {
            case scala.util.control.NonFatal(_) =>
              if (bytes != null && bytes.length >= 5 &&
                new String(bytes, 0, 5, "ISO-8859-1") == "%PDF-") "pdf"
              else if (bytes != null && bytes.length >= 4 &&
                bytes(0) == 'P' && bytes(1) == 'K' &&
                bytes(2) == 3 && bytes(3) == 4) "zip"
              else "unknown"
          }
        val msg = Option(e.getMessage).getOrElse("")
          .replace('\n', ' ').take(200)
        Left(ParseFailure(fmt, s"${e.getClass.getSimpleName}: $msg"))
    }

  /** DataFrame adapter for a BINARY docx column: per-row executor-side
    * decode (the bytes never visit the driver), then the same explode
    * shape as `parse`. */
  def parseDocxFrame(docs: DataFrame, idCol: String,
      binCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long").as("doc_id"),
        col(binCol).cast("binary").as("bin"))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        Option(bytes).toSeq.flatMap(parseDocx).map(r => (id, r))
      }
      .select(col("_1").as("doc_id"), col("_2.*"))
  }

  /** DataFrame adapter: explode each (docId, text) row into its parsed
    * records with a synthetic stable url when the text provided none (F9:
    * md5-12 of name|address|file). */
  def parse(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val parsed = docs
      .select(col(idCol).cast("long").as("doc_id"),
        col(textCol).cast("string").as("text"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        Option(text).toSeq.flatMap(parseText).map(r => (id, r))
      }
      .select(col("_1").as("doc_id"), col("_2.*"))
    parsed.withColumn("url",
      coalesce(col("url"), graft.ops.Standardize.syntheticUrl("document",
        col("name"), col("venue_address"), col("doc_id"))))
  }
}
