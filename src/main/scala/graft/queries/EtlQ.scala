package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** ETL-shaped queries over the `events` stream table: JSON payload
  * extraction (the reference's raw_json parse, SURVEY.md N1/N2), display
  * formatting (D3), and time-bucketed rollups (the batch shape of the
  * streaming windowed agg, SURVEY.md R1). */
object EtlQ {

  lazy val all: Seq[Q] = Seq(
    // Semi-structured extraction: pull props.k out of the JSON string and
    // aggregate — from_json/get_json_object stays codegen'd in the scan.
    Q("q22_json_agg", (s, dir) => {
      t(s, dir, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        .groupBy("event_type")
        .agg(sum(col("k")).cast("long").as("sum_k"),
          count(lit(1)).as("n"),
          max(col("k")).cast("long").as("max_k"))
        .orderBy("event_type")
    }, oracle =
      """SELECT event_type,
        | CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
        | count(*) AS n,
        | CAST(max(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // Display formatting (app.py:23-32): timestamp → "Jan 01, 2024 at 12:09 AM".
    Q("q23_date_display", (s, dir) => {
      t(s, dir, "events")
        .select(col("event_id"),
          date_format(col("ts"), "MMM dd, yyyy 'at' hh:mm a").as("display"))
        .orderBy("event_id")
        .limit(100)
    }, oracle =
      """SELECT event_id, strftime(ts, '%b %d, %Y at %I:%M %p') AS display
        |FROM events ORDER BY event_id LIMIT 100""".stripMargin),

    // In-engine .docx binary decode, driven end-to-end under the driver
    // gate: each document is packed into a REAL OOXML zip (a field table
    // + the text as a paragraph with XML-hostile dirt appended), decoded
    // back executor-side via DocxCodec (pure JDK zip + DOM), and run
    // through the reference's tables-first record extraction. The oracle
    // knows the roundtrip is lossless, so it reconstructs every output
    // directly — any zip, escaping, DOM-order, or synonym-mapping defect
    // breaks the hash. Decode is per-row in the executors; at 100 TB the
    // binary column never moves to the driver.
    Q("q175_docx_roundtrip", (s, dir) => {
      import s.implicits._
      val decoded = docText(s, dir)
        .map { case (id, text) =>
          val para = text + " <&\"njk>" // markup must survive escaping
          val bytes = graft.ingest.DocxCodec.encode(
            paragraphs = Seq(para),
            tables = Seq(Seq(Seq("Title", "Date", "Venue"),
              Seq(s"Event $id", "2020-01-01", s"Hall & <$id>"))))
          val recs = graft.ingest.DocParse.parseDocx(bytes)
          val c = graft.ingest.DocxCodec.decode(bytes)
          (id, bytes.length.toLong, recs.size.toLong,
            recs.headOption.flatMap(_.name).getOrElse(""),
            recs.headOption.flatMap(_.venue_name).getOrElse(""),
            recs.headOption.flatMap(_.event_date).getOrElse(""),
            c.paragraphs.mkString("\n"))
        }
        .toDF("doc_id", "n_bytes", "n_records", "rec_name", "rec_venue",
          "rec_date", "para")
      decoded
        .select(col("doc_id"), col("n_records"), col("rec_name"),
          col("rec_venue"), col("rec_date"),
          md5(col("para").cast("binary")).as("para_md5"))
        .orderBy("doc_id")
    }, oracle =
      // The roundtrip is lossless by construction, so every output is
      // directly reconstructable — the oracle never sees a zip byte, which
      // is the point: any encode/decode defect surfaces as a hash mismatch.
      """SELECT doc_id, CAST(1 AS BIGINT) AS n_records,
        | 'Event ' || CAST(doc_id AS VARCHAR) AS rec_name,
        | 'Hall & <' || CAST(doc_id AS VARCHAR) || '>' AS rec_venue,
        | '2020-01-01' AS rec_date,
        | md5(text || ' <&"njk>') AS para_md5
        |FROM documents ORDER BY doc_id""".stripMargin),

    // In-engine PDF text decode under the driver gate, same discipline
    // as q175: each doc becomes a real one-page PDF (labeled lines +
    // the text as description, venue carrying the PDF-hostile chars
    // `( ) \`), Flate-compressed on even ids and raw on odd — both
    // filter paths gate-checked — then decoded and fed to the pdf_spider
    // line state machine. The oracle reconstructs everything from the
    // source text; it never sees a PDF byte.
    Q("q176_pdf_roundtrip", (s, dir) => {
      import s.implicits._
      docText(s, dir)
        .map { case (id, text) =>
          val lines = Seq(s"Name: Event $id",
            s"Venue: Hall (njk) \\ $id", text)
          val bytes = graft.ingest.PdfCodec.encode(lines,
            compress = id % 2 == 0)
          val got = graft.ingest.PdfCodec.decode(bytes)
          val recs = graft.ingest.DocParse.parseText(got.mkString("\n"))
          (id, got.size.toLong, recs.size.toLong,
            recs.headOption.flatMap(_.name).getOrElse(""),
            recs.headOption.flatMap(_.venue_name).getOrElse(""),
            recs.headOption.flatMap(_.description).getOrElse(""),
            got.mkString("\n"))
        }
        .toDF("doc_id", "n_lines", "n_records", "rec_name", "rec_venue",
          "description", "joined")
        .select(col("doc_id"), col("n_lines"), col("n_records"),
          col("rec_name"), col("rec_venue"),
          md5(col("description").cast("binary")).as("desc_md5"),
          md5(col("joined").cast("binary")).as("lines_md5"))
        .orderBy("doc_id")
    }, oracle =
      """SELECT doc_id, CAST(3 AS BIGINT) AS n_lines,
        | CAST(1 AS BIGINT) AS n_records,
        | 'Event ' || CAST(doc_id AS VARCHAR) AS rec_name,
        | 'Hall (njk) \ ' || CAST(doc_id AS VARCHAR) AS rec_venue,
        | md5(substr(text, 1, 500)) AS desc_md5,
        | md5('Name: Event ' || CAST(doc_id AS VARCHAR) || chr(10) ||
        |   'Venue: Hall (njk) \ ' || CAST(doc_id AS VARCHAR) || chr(10) ||
        |   text) AS lines_md5
        |FROM documents ORDER BY doc_id""".stripMargin),

    // ENCRYPTED PDF decode under the driver gate — the r11 "missing #2"
    // perimeter made real (the reference opens these silently via
    // PyMuPDF, tasks.py:102-115). Each doc becomes a REAL encrypted
    // one-page PDF — standard security handler, empty user password,
    // correct /O //U //P and trailer /ID — cycling all four supported
    // modes by id (RC4-40 V1/R2, RC4-128 V2/R3, AES-128-CBC AESV2
    // V4/R4, AES-256 AESV3 V5/R6 with hardened-hash /U //UE and a
    // /Perms block). decode() must detect the handler, derive or
    // unwrap the file key, verify /U, and decrypt the stream under the
    // per-object (≤R4) or file (R6) key before the Flate chain; any
    // slip in MD5/SHA chaining, RC4 state, AES IV handling or the
    // object-key salt produces garbage that breaks the md5-of-lines
    // hash. The oracle reconstructs the lines from the source text —
    // it never sees a cipher byte. Per-row executor work.
    Q("q285_pdf_encrypted", (s, dir) => {
      import s.implicits._
      docText(s, dir)
        .map { case (id, text) =>
          val mode = (id % 4) match {
            case 0 => "rc4-40"
            case 1 => "rc4-128"
            case 2 => "aes-128"
            case _ => "aes-256"
          }
          val lines = Seq(s"Name: Event $id", text)
          val bytes = graft.ingest.PdfCodec.encodeEncrypted(lines, mode)
          val got = graft.ingest.PdfCodec.decode(bytes)
          (id, mode, got.size.toLong, got.mkString("\n"))
        }
        .toDF("doc_id", "mode", "n_lines", "joined")
        .select(col("doc_id"), col("mode"), col("n_lines"),
          md5(col("joined").cast("binary")).as("lines_md5"))
        .orderBy("doc_id")
    }, oracle =
      """SELECT doc_id,
        | CASE doc_id % 4 WHEN 0 THEN 'rc4-40' WHEN 1 THEN 'rc4-128'
        |   WHEN 2 THEN 'aes-128' ELSE 'aes-256' END AS mode,
        | CAST(2 AS BIGINT) AS n_lines,
        | md5('Name: Event ' || CAST(doc_id AS VARCHAR) || chr(10) || text)
        |   AS lines_md5
        |FROM documents ORDER BY doc_id""".stripMargin),

    // In-engine .xlsx binary decode under the driver gate, closing S8
    // the way q175 closed S9: each doc becomes a real OOXML workbook —
    // even ids a single sheet with a valid field table written through
    // SHARED strings (what Excel itself emits), odd ids a decoy first
    // sheet (no recognizable header → zero records) plus the real table
    // on sheet 2 written as INLINE strings — so both cell encodings AND
    // the reference's first-sheet-else-union-all order are what the
    // exact oracle actually checks. A numeric Price cell exercises the
    // raw-<v> path (no float roundtrip). Decode is per-row executor
    // work; the workbook bytes never visit the driver.
    Q("q177_xlsx_roundtrip", (s, dir) => {
      import s.implicits._
      docText(s, dir)
        .map { case (id, text) =>
          val table = Seq(
            Seq("Title", "Venue", "Price", "Info"),
            Seq(s"Event $id", s"Hall & <$id>", s"${id % 100}.25",
              text + " <&\"x>"))
          val sheets =
            if (id % 2 == 0) Seq("Events" -> table)
            else Seq("Notes" -> Seq(Seq("note"), Seq("nothing to see")),
              "Events" -> table)
          val bytes = graft.ingest.XlsxCodec.encode(sheets,
            sharedStrings = id % 2 == 0)
          val decoded = graft.ingest.XlsxCodec.decode(bytes)
          val recs = graft.ingest.DocParse.parseXlsx(bytes)
          val dataRow = decoded.last.rows.last
          (id, decoded.size.toLong, recs.size.toLong,
            recs.headOption.flatMap(_.name).getOrElse(""),
            recs.headOption.flatMap(_.venue_name).getOrElse(""),
            dataRow.lift(2).getOrElse(""), dataRow.lift(3).getOrElse(""))
        }
        .toDF("doc_id", "n_sheets", "n_records", "rec_name", "rec_venue",
          "price_cell", "info")
        .select(col("doc_id"), col("n_sheets"), col("n_records"),
          col("rec_name"), col("rec_venue"), col("price_cell"),
          md5(col("info").cast("binary")).as("info_md5"))
        .orderBy("doc_id")
    }, oracle =
      // Workbook structure and every extracted field are reconstructable
      // from doc_id + text alone; the oracle never sees a zip byte.
      """SELECT doc_id,
        | CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 2 END AS BIGINT) AS n_sheets,
        | CAST(1 AS BIGINT) AS n_records,
        | 'Event ' || CAST(doc_id AS VARCHAR) AS rec_name,
        | 'Hall & <' || CAST(doc_id AS VARCHAR) || '>' AS rec_venue,
        | CAST(doc_id % 100 AS VARCHAR) || '.25' AS price_cell,
        | md5(text || ' <&"x>') AS info_md5
        |FROM documents ORDER BY doc_id""".stripMargin),

    // In-engine config-driven HTML extraction (U5) under the driver
    // gate: each doc renders to a real page — even ids the container-
    // selector layout (plus a trap selector inside a <script> string
    // and a second, sparse item), odd ids the anchor-mode layout where
    // ancestor::li[1] must promote a nested anchor and name_filter_out
    // must drop a decoy — then HtmlCodec.extractItems runs the
    // reference's generic-spider semantics per-row executor-side. The
    // oracle reconstructs every field from doc_id + text; entity
    // round-tripping (&amp; in names, hrefs, and the escaped body)
    // is what the hash actually checks.
    Q("q180_html_extract", (s, dir) => {
      import s.implicits._
      import graft.ingest.HtmlCodec
      docText(s, dir)
        .map { case (id, text) =>
          val esc = text.flatMap {
            case '&' => "&amp;"
            case '<' => "&lt;"
            case '>' => "&gt;"
            case c => c.toString
          }
          val fields = Map("name" -> "h2.title::text",
            "url" -> "a::attr(href)", "description" -> "p.desc::text")
          val (html, cfg) =
            if (id % 2 == 0) (
              s"""<html><head><script>var x = "<div class='event'>trap</div>";</script></head>
                 |<body><div class="listing">
                 |<div class="event" id="e$id">
                 | <h2 class="title">Event $id &amp; Friends</h2>
                 | <a href="/venues/$id?ref=x&amp;b=2">more</a>
                 | <p class="desc">$esc</p>
                 |</div>
                 |<div class="event"><h2 class="title">Hidden $id</h2></div>
                 |</div></body></html>""".stripMargin,
              HtmlCodec.HtmlConfig(
                itemContainerSelector = Some("div.listing > div.event"),
                fields = fields))
            else (
              s"""<html><body><ul>
                 |<li class="row"><div><a class="lnk" href="/e/$id">Event $id &amp; Friends</a></div>
                 | <p class="desc">$esc</p></li>
                 |<li class="row"><a class="lnk" href="/skip">SKIP ME $id</a>
                 | <p class="desc">decoy</p></li>
                 |</ul></body></html>""".stripMargin,
              HtmlCodec.HtmlConfig(
                itemAnchorSelector = Some("a.lnk"),
                parentContainerTag = "li",
                nameFilterOut = Some("SKIP"),
                fields = Map("name" -> "a.lnk::text",
                  "url" -> "a.lnk::attr(href)",
                  "description" -> "p.desc::text")))
          val items = HtmlCodec.extractItems(html, cfg)
          val first = items.headOption.getOrElse(Map.empty[String, String])
          (id, items.size.toLong, first.getOrElse("name", ""),
            first.getOrElse("url", ""), first.getOrElse("description", ""))
        }
        .toDF("doc_id", "n_items", "name", "url", "description")
        .select(col("doc_id"), col("n_items"), col("name"), col("url"),
          md5(col("description").cast("binary")).as("desc_md5"))
        .orderBy("doc_id")
    }, oracle =
      """SELECT doc_id,
        | CAST(CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 1 END AS BIGINT) AS n_items,
        | 'Event ' || CAST(doc_id AS VARCHAR) || ' & Friends' AS name,
        | CASE WHEN doc_id % 2 = 0
        |      THEN '/venues/' || CAST(doc_id AS VARCHAR) || '?ref=x&b=2'
        |      ELSE '/e/' || CAST(doc_id AS VARCHAR) END AS url,
        | md5(text) AS desc_md5
        |FROM documents ORDER BY doc_id""".stripMargin),

    // The XPath slice of U5 under the driver gate: the two reference
    // site shapes HtmlCodec previously threw on. Even ids render the
    // playplayground layout (sites.json:48-56) and extract through the
    // exact configured XPaths — contains(@class,…), per-parent //p[N],
    // /text() and //text() via .get() (FIRST text node only — the
    // spider's '::text'-substring dispatch), .//a/@href — with a decoy
    // sibling <p> that //p[1] must ALSO match (per-parent semantics)
    // but document order must rank second. Odd ids render the hotels
    // layout (sites.json:18-31): anchor mode + name_filter_out, with
    // the description taken by .//br[1]/following-sibling::text(),
    // which DOES hit the getall-strip-join path. The oracle
    // reconstructs every field from doc_id + text.
    Q("q202_xpath_extract", (s, dir) => {
      import s.implicits._
      import graft.ingest.HtmlCodec
      docText(s, dir)
        .map { case (id, text) =>
          val esc = text.flatMap {
            case '&' => "&amp;"
            case '<' => "&lt;"
            case '>' => "&gt;"
            case c => c.toString
          }
          val (html, cfg) =
            if (id % 2 == 0) (
              s"""<html><body>
                 |<div class="e-con-full e-con e-child">
                 | <div class="wrap"><h2 class="elementor-heading-title big">Event $id &amp; Co</h2></div>
                 | <div class="elementor-widget-text-editor widget">
                 |  <div><p>First: $esc<b> ignored</b></p><p>DATE-$id</p></div>
                 |  <p>trap para</p>
                 | </div>
                 | <a href="/pp/$id?a=1&amp;b=2">tickets</a>
                 |</div>
                 |<div class="e-con-full e-con e-child"><div><h2 class="elementor-heading-title">Other $id</h2></div></div>
                 |</body></html>""".stripMargin,
              HtmlCodec.HtmlConfig(
                itemContainerSelector = Some("div.e-con-full.e-con.e-child"),
                fields = Map(
                  "name" -> "xpath:.//*[contains(@class, 'elementor-heading-title')]/text()",
                  "description" -> "xpath:.//div[contains(@class, 'elementor-widget-text-editor')]//p[1]//text()",
                  "extra" -> "xpath:.//div[contains(@class, 'elementor-widget-text-editor')]//p[2]//text()",
                  "url" -> "xpath:.//a/@href")))
            else (
              s"""<html><body><div class="entry">
                 |<p><span><a class="lnk" href="https://h/$id">Hotel $id</a></span>
                 | <span class="_2iem"><strong>Addr $id</strong></span>
                 | <br>$esc<br>tail-$id </p>
                 |<p><a class="lnk" href="/skip">Best Rate guarantee</a><br>nope</p>
                 |</div></body></html>""".stripMargin,
              HtmlCodec.HtmlConfig(
                itemAnchorSelector = Some("a.lnk"),
                parentContainerTag = "p",
                nameFilterOut = Some("Best Rate"),
                fields = Map(
                  "name" -> "a.lnk::text",
                  "url" -> "a.lnk::attr(href)",
                  "extra" -> "span._2iem strong::text",
                  "description" -> "xpath:.//br[1]/following-sibling::text()")))
          val items = HtmlCodec.extractItems(html, cfg)
          val first = items.headOption.getOrElse(Map.empty[String, String])
          (id, items.size.toLong, first.getOrElse("name", ""),
            first.getOrElse("url", ""), first.getOrElse("extra", ""),
            first.getOrElse("description", ""))
        }
        .toDF("doc_id", "n_items", "name", "url", "extra", "description")
        .select(col("doc_id"), col("n_items"), col("name"), col("url"),
          col("extra"), md5(col("description").cast("binary")).as("desc_md5"))
        .orderBy("doc_id")
    }, oracle =
      """SELECT doc_id,
        | CAST(CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 1 END AS BIGINT) AS n_items,
        | CASE WHEN doc_id % 2 = 0
        |      THEN 'Event ' || CAST(doc_id AS VARCHAR) || ' & Co'
        |      ELSE 'Hotel ' || CAST(doc_id AS VARCHAR) END AS name,
        | CASE WHEN doc_id % 2 = 0
        |      THEN '/pp/' || CAST(doc_id AS VARCHAR) || '?a=1&b=2'
        |      ELSE 'https://h/' || CAST(doc_id AS VARCHAR) END AS url,
        | CASE WHEN doc_id % 2 = 0
        |      THEN 'DATE-' || CAST(doc_id AS VARCHAR)
        |      ELSE 'Addr ' || CAST(doc_id AS VARCHAR) END AS extra,
        | CASE WHEN doc_id % 2 = 0
        |      THEN md5('First: ' || text)
        |      ELSE md5(text || ' tail-' || CAST(doc_id AS VARCHAR)) END AS desc_md5
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Every PDF stream filter AND length encoding under one driver
    // hash: the same record rides through flate / raw / ASCIIHex /
    // RunLength / LZW / ASCII85 / an a85+flate chain / PNG-predictor
    // flate / TIFF-predictor flate, plus (r10) the three real-world
    // LENGTH shapes — indirect `/Length N 0 R` with hostile decoys,
    // raw-stream indirect with the length object written first, and
    // the PDF 1.5+ /ObjStm-resolved form with a bait member — by
    // id%12 (q176 keeps its original two-path shape per the r5 pin;
    // this is the filter-perimeter gate). The mode name rides in the
    // output, so a misrouted or silently-wrong codec can't hide
    // behind a lucky decode. Per-row executor work, no shuffle.
    Q("q207_pdf_filters", (s, dir) => {
      import s.implicits._
      docText(s, dir)
        .map { case (id, text) =>
          val f = (id % 12) match {
            case 0 => "flate"
            case 1 => "raw"
            case 2 => "ahx"
            case 3 => "rle"
            case 4 => "lzw"
            case 5 => "a85"
            case 6 => "a85+flate" // the 2-link chain: un-85 then inflate
            case 7 => "flate+predpng" // PNG /Predictor 15, rows cycle 0-4
            case 8 => "flate+pred2" // TIFF horizontal differencing
            case 9 => "indirect" // /Length N 0 R + failing decoys
            case 10 => "indirect-raw" // unfiltered + length object first
            case _ => "objstm" // length integer inside a /Type /ObjStm
          }
          val lines = Seq(s"Name: Event $id", text)
          import graft.ingest.PdfCodec
          val pdf = f match {
            case "indirect" => PdfCodec.encodeWithIndirectLength(lines,
              compress = true, decoys = Seq(2, 999999999))
            case "indirect-raw" => PdfCodec.encodeWithIndirectLength(
              lines, compress = false, decoys = Seq(3), lenObjFirst = true)
            case "objstm" => PdfCodec.encodeWithObjStmLength(lines,
              objStmIndirectLen = id % 2 == 0)
            case other => PdfCodec.encodeWith(lines, other)
          }
          val got = PdfCodec.decode(pdf)
          (id, f, got.size.toLong, got.mkString("\n"))
        }
        .toDF("doc_id", "filter", "n_lines", "joined")
        .select(col("doc_id"), col("filter"), col("n_lines"),
          md5(col("joined").cast("binary")).as("lines_md5"))
        .orderBy("doc_id")
    }, oracle =
      """SELECT doc_id,
        | CASE doc_id % 12 WHEN 0 THEN 'flate' WHEN 1 THEN 'raw'
        |      WHEN 2 THEN 'ahx' WHEN 3 THEN 'rle' WHEN 4 THEN 'lzw'
        |      WHEN 5 THEN 'a85' WHEN 6 THEN 'a85+flate'
        |      WHEN 7 THEN 'flate+predpng' WHEN 8 THEN 'flate+pred2'
        |      WHEN 9 THEN 'indirect' WHEN 10 THEN 'indirect-raw'
        |      ELSE 'objstm'
        | END AS filter,
        | CAST(2 AS BIGINT) AS n_lines,
        | md5('Name: Event ' || CAST(doc_id AS VARCHAR) || chr(10) ||
        |   text) AS lines_md5
        |FROM documents ORDER BY doc_id""".stripMargin),

    // The whole binary-ingest perimeter behind ONE content-dispatched
    // front door: each doc is packed as docx, pdf, xlsx, or CSV by
    // id%4, and the engine must SNIFF the format from magic bytes
    // (never told), route to the right codec, and extract the same
    // record — format string included in the hash so a misroute can't
    // hide behind a lucky parse. CSV exercises RFC-4180 quoting
    // (embedded comma + ""-escaped quote) and CRLF; pdf flows through
    // the line state machine (500-char description cap, the F7 rule).
    Q("q181_format_dispatch", (s, dir) => {
      import s.implicits._
      import graft.ingest.{DocParse, DocxCodec, PdfCodec, XlsxCodec}
      docText(s, dir)
        .map { case (id, text) =>
          val table = Seq(Seq("Title", "Venue", "Date", "Info"),
            Seq(s"Event $id", s"Hall $id", "2020-01-01", text))
          val bytes: Array[Byte] = (id % 4) match {
            case 0 => DocxCodec.encode(paragraphs = Nil,
              tables = Seq(table))
            case 1 => PdfCodec.encode(Seq(s"Name: Event $id",
              s"Venue: Hall $id", "Date: 2020-01-01", text))
            case 2 => XlsxCodec.encode(Seq("Events" -> table))
            case _ =>
              val v = text + ", \"q\""
              ("title,venue,date,info\r\n" +
                s"Event $id,Hall $id,2020-01-01," +
                "\"" + v.replace("\"", "\"\"") + "\"")
                .getBytes("UTF-8")
          }
          val (fmt, recs) = DocParse.parseAny(bytes)
          val r = recs.headOption
          (id, fmt, recs.size.toLong,
            r.flatMap(_.name).getOrElse(""),
            r.flatMap(_.venue_name).getOrElse(""),
            r.flatMap(_.event_date).getOrElse(""),
            r.flatMap(_.description).getOrElse(""))
        }
        .toDF("doc_id", "fmt", "n_records", "name", "venue", "event_date",
          "description")
        .select(col("doc_id"), col("fmt"), col("n_records"), col("name"),
          col("venue"), col("event_date"),
          md5(col("description").cast("binary")).as("desc_md5"))
        .orderBy("doc_id")
    }, oracle =
      """SELECT doc_id,
        | CASE doc_id % 4 WHEN 0 THEN 'docx' WHEN 1 THEN 'pdf'
        |      WHEN 2 THEN 'xlsx' ELSE 'csv' END AS fmt,
        | CAST(1 AS BIGINT) AS n_records,
        | 'Event ' || CAST(doc_id AS VARCHAR) AS name,
        | 'Hall ' || CAST(doc_id AS VARCHAR) AS venue,
        | '2020-01-01' AS event_date,
        | CASE WHEN doc_id % 4 = 1 THEN md5(substr(text, 1, 500))
        |      WHEN doc_id % 4 = 3 THEN md5(text || ', "q"')
        |      ELSE md5(text) END AS desc_md5
        |FROM documents ORDER BY doc_id""".stripMargin),

    // POISON-PILL TOLERANCE for binary ingest (r12 verdict #3): the
    // q181 dispatch with corruption PLANTED by arithmetic the oracle
    // knows (the q261 device) — ids with doc_id % 7 == 3 carry a blob
    // whose magic bytes sniff fine but whose body is unreadable
    // (docx/pdf/xlsx truncated to 60%; the csv slot becomes a PK-magic
    // zip that contains no defining part). parseAnySafe turns each
    // decode failure into a TYPED quarantine row instead of a task
    // abort — the binary mirror of Normalize.quarantine, and the
    // reference's silent PyMuPDF swallow (pdf_spider.py:48-50) done
    // honestly: the job finishes AND reports what it skipped. A clean
    // doc landing in quarantine fails loudly (the require), so the
    // tolerance can't mask a codec regression.
    Q("q293_binary_quarantine", (s, dir) => {
      import s.implicits._
      import graft.ingest.{DocParse, DocxCodec, PdfCodec, XlsxCodec}
      docText(s, dir)
        .map { case (id, text) =>
          val table = Seq(Seq("Title", "Venue", "Date", "Info"),
            Seq(s"Event $id", s"Hall $id", "2020-01-01", text))
          val intact: Array[Byte] = (id % 4) match {
            case 0 => DocxCodec.encode(paragraphs = Nil,
              tables = Seq(table))
            case 1 => PdfCodec.encode(Seq(s"Name: Event $id",
              s"Venue: Hall $id", "Date: 2020-01-01", text))
            case 2 => XlsxCodec.encode(Seq("Events" -> table))
            case _ =>
              ("title,venue,date,info\r\n" +
                s"Event $id,Hall $id,2020-01-01,info").getBytes("UTF-8")
          }
          val bytes: Array[Byte] =
            if (id % 7 != 3) intact
            else if (id % 4 == 3) // zip magic, no readable structure
              Array('P'.toByte, 'K'.toByte, 3.toByte, 4.toByte) ++
                Array.tabulate[Byte](48)(k => ((k * 41 + id) % 251).toByte)
            else intact.take(math.max(6, intact.length * 3 / 5))
          DocParse.parseAnySafe(bytes) match {
            case Right((_, recs)) =>
              require(id % 7 != 3, s"corrupt doc $id parsed cleanly")
              (id, "ok", recs.size.toLong,
                recs.headOption.flatMap(_.name).getOrElse(""))
            case Left(f) =>
              require(id % 7 == 3,
                s"clean doc $id quarantined: ${f.format} ${f.error}")
              (id, "quarantined", 0L, "")
          }
        }
        .toDF("doc_id", "status", "n_records", "name")
        .orderBy("doc_id")
    }, oracle =
      // quarantine truth from id arithmetic: exactly the doc_id % 7 == 3
      // rows are unreadable; everything else parses one record
      """SELECT doc_id,
        | CASE WHEN doc_id % 7 = 3 THEN 'quarantined' ELSE 'ok' END
        |   AS status,
        | CAST(CASE WHEN doc_id % 7 = 3 THEN 0 ELSE 1 END AS BIGINT)
        |   AS n_records,
        | CASE WHEN doc_id % 7 = 3 THEN ''
        |      ELSE 'Event ' || CAST(doc_id AS VARCHAR) END AS name
        |FROM documents ORDER BY doc_id""".stripMargin),

    // INCREMENTALLY UPDATED PDFs (PDF 32000-1 §7.5.6) — what every
    // Acrobat save-in-place/signature produces: the new object
    // versions APPEND, the superseded ones physically remain, and
    // only the xref chain (/Prev links) says which is live. Each doc
    // becomes a base PDF plus a real incremental update replacing its
    // content stream; the row reports the scan-all view (decode: both
    // streams, 5 lines — what a naive extractor emits, stale text
    // included) AGAINST the conforming-reader view (decodeLatest:
    // xref-chain liveness, 3 lines), with the live text under the
    // driver hash. A liveness slip in either direction breaks the
    // 5-vs-3 split or the md5.
    Q("q303_pdf_incremental", (s, dir) => {
      import s.implicits._
      docText(s, dir, length(col("text")) > 0)
        .map { case (id, text) =>
          import graft.ingest.PdfCodec
          val base = PdfCodec.encode(Seq(s"Name: Event $id", text))
          val updated = PdfCodec.appendIncrementalUpdate(base,
            Seq(s"Name: Updated $id", text, "Status: amended"))
          val all = PdfCodec.decode(updated)
          val liveL = PdfCodec.decodeLatest(updated)
          require(all.size == 5 && liveL.size == 3,
            s"doc $id liveness drift: ${all.size} all / ${liveL.size} live")
          (id, all.size.toLong, liveL.size.toLong, liveL.mkString("\n"))
        }
        .toDF("doc_id", "n_lines_all", "n_lines_live", "live_text")
        .select(col("doc_id"), col("n_lines_all"), col("n_lines_live"),
          md5(col("live_text").cast("binary")).as("live_md5"))
        .orderBy("doc_id")
    }, oracle =
      // the base contributes 2 lines, the update 3; only the update's
      // text is live under the xref chain
      """SELECT doc_id,
        | CAST(5 AS BIGINT) AS n_lines_all,
        | CAST(3 AS BIGINT) AS n_lines_live,
        | md5('Name: Updated ' || CAST(doc_id AS VARCHAR) || chr(10) ||
        |   text || chr(10) || 'Status: amended') AS live_md5
        |FROM documents WHERE length(text) > 0
        |ORDER BY doc_id""".stripMargin),

    // CROSS-REFERENCE STREAMS (PDF 32000-1 §7.5.8) in the liveness
    // walk — the post-2005 majority layout q303 couldn't see (r13
    // verdict #2): the xref section is itself a compressed binary
    // stream (/W field widths, /Index subsections, type-0/1/2 rows,
    // PNG-Up predictor — what Acrobat actually writes) instead of the
    // classic ASCII table. Three real chain shapes by id: a pure
    // xref-stream document updated with another xref stream, a
    // classic-table original updated by a post-2005 writer (stream
    // section, /Prev to the table), and a stream original updated by
    // a legacy writer (classic section, /Prev to the stream). Same
    // 5-all/3-live contract as q303; a parse slip in W/Index/typing
    // or a /Prev break across the shape boundary shifts the counts or
    // the live md5.
    Q("q304_pdf_xref_stream", (s, dir) => {
      import s.implicits._
      docText(s, dir, length(col("text")) > 0)
        .map { case (id, text) =>
          import graft.ingest.PdfCodec
          val baseLines = Seq(s"Name: Event $id", text)
          val updLines = Seq(s"Name: Updated $id", text, "Status: amended")
          val (chain, updated) = (id % 3) match {
            case 0 =>
              ("stream+stream", PdfCodec.appendIncrementalUpdateXrefStream(
                PdfCodec.encodeWithXrefStream(baseLines), updLines))
            case 1 =>
              ("classic+stream", PdfCodec.appendIncrementalUpdateXrefStream(
                PdfCodec.encode(baseLines), updLines))
            case _ =>
              ("stream+classic", PdfCodec.appendIncrementalUpdate(
                PdfCodec.encodeWithXrefStream(baseLines,
                  predictor = false), updLines))
          }
          val all = PdfCodec.decode(updated)
          val liveL = PdfCodec.decodeLatest(updated)
          require(all.size == 5 && liveL.size == 3,
            s"doc $id ($chain) liveness drift: " +
              s"${all.size} all / ${liveL.size} live")
          (id, chain, all.size.toLong, liveL.size.toLong,
            liveL.mkString("\n"))
        }
        .toDF("doc_id", "chain", "n_lines_all", "n_lines_live",
          "live_text")
        .select(col("doc_id"), col("chain"), col("n_lines_all"),
          col("n_lines_live"),
          md5(col("live_text").cast("binary")).as("live_md5"))
        .orderBy("doc_id")
    }, oracle =
      // same 5/3 contract as q303; chain shape is pure id arithmetic
      """SELECT doc_id,
        | CASE doc_id % 3 WHEN 0 THEN 'stream+stream'
        |      WHEN 1 THEN 'classic+stream'
        |      ELSE 'stream+classic' END AS chain,
        | CAST(5 AS BIGINT) AS n_lines_all,
        | CAST(3 AS BIGINT) AS n_lines_live,
        | md5('Name: Updated ' || CAST(doc_id AS VARCHAR) || chr(10) ||
        |   text || chr(10) || 'Status: amended') AS live_md5
        |FROM documents WHERE length(text) > 0
        |ORDER BY doc_id""".stripMargin),

    // Hourly rollup per event type — batch twin of the Structured Streaming
    // windowed aggregation (graft.streaming); decimal sum for exactness.
    Q("q24_hourly_rollup", (s, dir) => {
      t(s, dir, "events")
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value"), 2).as("sum_value"))
        .orderBy("hour", "event_type")
        .limit(500)
    }, oracle =
      """SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n,
        | CAST(sum(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY hour, event_type LIMIT 500""".stripMargin),

    // Record linkage: blocking + edit-distance verification (the
    // Fellegi–Sunter pipeline shape every entity-resolution ETL runs).
    // A dirty registry is synthesized deterministically from customer
    // names (per id mod 4: clean / last-two-digit swap / last-char drop
    // / last-char 'X'), candidates are generated ONLY within a
    // TWO-KEY BLOCK — c_nationkey plus the stable 16-char name prefix
    // (every dirt class touches only the last two chars, the classic
    // "block on the attribute the noise can't reach" rule) — which is
    // what bounds the quadratic: nationkey alone left n²/25 levenshtein
    // pairs (30 s at sf0.1, measured); the prefix key cuts candidates
    // to a handful per record and the verify stage to ~n pairs.
    // Survivors verify at levenshtein ≤ 2 (exact integer, same DP
    // distance both engines). Best match per dirty record is the
    // deterministic (lev, custkey) argmin; the output is the per-
    // corruption-class accuracy report a linkage run logs. Names are
    // fixed-width 18 chars ("Customer#%09d"), so the corruption
    // positions are engine-identical literals.
    Q("q221_record_linkage", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val c = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
      val head = substring(col("c_name"), 1, 16)
      val d17 = substring(col("c_name"), 17, 1)
      val d18 = substring(col("c_name"), 18, 1)
      val cls = col("c_custkey") % 4
      val dirty = c.select(col("c_custkey").as("d_id"),
        col("c_nationkey").as("d_nat"), cls.as("cls"),
        when(cls === 0, col("c_name"))
          .when(cls === 1, concat(head, d18, d17))
          .when(cls === 2, concat(head, d17))
          .otherwise(concat(head, d17, lit("X"))).as("d_name"))
      val cand = dirty.join(c,
          col("d_nat") === col("c_nationkey") &&
            substring(col("d_name"), 1, 16) ===
              substring(col("c_name"), 1, 16))
        .withColumn("lev", levenshtein(col("d_name"), col("c_name")))
        .filter(col("lev") <= 2)
      val w = Window.partitionBy("d_id").orderBy("lev", "c_custkey")
      val best = cand.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
      val totals = dirty.groupBy("cls")
        .agg(count(lit(1)).as("n_records"))
      best.groupBy("cls")
        .agg(count(lit(1)).as("n_matched"),
          sum(when(col("c_custkey") === col("d_id"), 1L).otherwise(0L))
            .as("n_correct"))
        .join(broadcast(totals), "cls")
        .select(col("cls"), col("n_records"), col("n_matched"),
          col("n_correct"),
          ldiv(col("n_correct") * lit(10000L), col("n_records"))
            .as("accuracy_bp"))
        .orderBy("cls")
    }, oracle =
      """WITH dirty AS (
        | SELECT c_custkey AS d_id, c_nationkey AS d_nat,
        |  c_custkey % 4 AS cls,
        |  CASE c_custkey % 4
        |   WHEN 0 THEN c_name
        |   WHEN 1 THEN substr(c_name, 1, 16) || substr(c_name, 18, 1)
        |     || substr(c_name, 17, 1)
        |   WHEN 2 THEN substr(c_name, 1, 16) || substr(c_name, 17, 1)
        |   ELSE substr(c_name, 1, 16) || substr(c_name, 17, 1) || 'X'
        |  END AS d_name
        | FROM customer),
        |cand AS (
        | SELECT d.d_id, d.cls, c.c_custkey,
        |  levenshtein(d.d_name, c.c_name) AS lev
        | FROM dirty d JOIN customer c ON d.d_nat = c.c_nationkey
        |  AND substr(d.d_name, 1, 16) = substr(c.c_name, 1, 16)
        | WHERE levenshtein(d.d_name, c.c_name) <= 2),
        |best AS (
        | SELECT d_id, cls, c_custkey FROM (
        |  SELECT *, row_number() OVER (PARTITION BY d_id
        |    ORDER BY lev, c_custkey) AS rn FROM cand)
        | WHERE rn = 1),
        |tot AS (SELECT cls, count(*) AS n_records FROM dirty GROUP BY cls)
        |SELECT b.cls, CAST(t.n_records AS BIGINT) AS n_records,
        | CAST(count(*) AS BIGINT) AS n_matched,
        | CAST(sum(CASE WHEN b.c_custkey = b.d_id THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n_correct,
        | CAST(sum(CASE WHEN b.c_custkey = b.d_id THEN 1 ELSE 0 END)
        |   AS BIGINT) * 10000 // CAST(t.n_records AS BIGINT)
        |   AS accuracy_bp
        |FROM best b JOIN tot t ON t.cls = b.cls
        |GROUP BY b.cls, t.n_records
        |ORDER BY b.cls""".stripMargin),
  )
}
