package graft.ingest

import java.io.ByteArrayOutputStream
import java.util.zip.{ZipEntry, ZipOutputStream}

import graft.multimodal.ZipCodec

/** In-engine .docx (OOXML) binary codec — closes the S9 "binary decode
  * out-of-engine" stance with in-engine plumbing (ZipCodec's
  * central-directory reader + JAXP DOM): no external codec dependency.
  * Mirrors exactly the surface the reference touches through
  * python-docx (document_spider.py:163-253):
  * `Document.tables` as rows of trimmed cell texts and
  * `Document.paragraphs` as flat strings, in body order.
  *
  * Scale stance: decode runs per-row inside the executors (the binary
  * column never moves to the driver); a 100 TB docx corpus decodes
  * embarrassingly parallel, one document at a time, with the zip and
  * DOM buffers bounded by the largest single file — the same envelope
  * as any columnar binary payload.
  */
object DocxCodec {

  final case class DocxContent(
      paragraphs: Seq[String],
      tables: Seq[Seq[Seq[String]]])

  private val W =
    "http://schemas.openxmlformats.org/wordprocessingml/2006/main"

  /** Decode a .docx binary into body-order paragraphs and tables. */
  def decode(bytes: Array[Byte]): DocxContent = {
    val xml = ZipCodec.census(bytes).find(_.name == "word/document.xml")
      .map(ZipCodec.read(bytes, _))
      .getOrElse(throw new IllegalArgumentException(
        "not a docx: missing word/document.xml"))
    // thread-local hardened builder (no doctypes, no external entities)
    val doc = SecureXml.parse(xml)
    val bodies = doc.getElementsByTagNameNS(W, "body")
    require(bodies.getLength == 1, "docx body missing")
    val paras = Seq.newBuilder[String]
    val tables = Seq.newBuilder[Seq[Seq[String]]]
    val kids = bodies.item(0).getChildNodes
    for (i <- 0 until kids.getLength) kids.item(i) match {
      case e: org.w3c.dom.Element if e.getNamespaceURI == W =>
        e.getLocalName match {
          case "p" => paras += runText(e)
          case "tbl" => tables += tableRows(e)
          case _ => // sectPr etc.
        }
      case _ =>
    }
    DocxContent(paras.result(), tables.result())
  }

  /** All w:t text under a node, in document order (runs concatenate). */
  private def runText(n: org.w3c.dom.Node): String = {
    val sb = new StringBuilder
    def walk(x: org.w3c.dom.Node): Unit = x match {
      case e: org.w3c.dom.Element
          if e.getNamespaceURI == W && e.getLocalName == "t" =>
        sb.append(e.getTextContent)
      case e: org.w3c.dom.Element
          if e.getNamespaceURI == W && e.getLocalName == "tab" =>
        sb.append('\t')
      case other =>
        val c = other.getChildNodes
        for (i <- 0 until c.getLength) walk(c.item(i))
    }
    walk(n)
    sb.toString
  }

  private def tableRows(tbl: org.w3c.dom.Element): Seq[Seq[String]] = {
    val rows = Seq.newBuilder[Seq[String]]
    val kids = tbl.getChildNodes
    for (i <- 0 until kids.getLength) kids.item(i) match {
      case tr: org.w3c.dom.Element
          if tr.getNamespaceURI == W && tr.getLocalName == "tr" =>
        val cells = Seq.newBuilder[String]
        val tcs = tr.getChildNodes
        for (j <- 0 until tcs.getLength) tcs.item(j) match {
          case tc: org.w3c.dom.Element
              if tc.getNamespaceURI == W && tc.getLocalName == "tc" =>
            // python-docx cell.text: cell paragraphs joined by \n, trimmed
            // by the reference before use
            val ps = tc.getChildNodes
            val ptexts = Seq.newBuilder[String]
            for (k <- 0 until ps.getLength) ps.item(k) match {
              case p: org.w3c.dom.Element
                  if p.getNamespaceURI == W && p.getLocalName == "p" =>
                ptexts += runText(p)
              case _ =>
            }
            cells += ptexts.result().mkString("\n").trim
          case _ =>
        }
        rows += cells.result()
      case _ =>
    }
    rows.result()
  }

  /** Encode paragraphs + tables as a minimal valid .docx — the test and
    * roundtrip-query side of the codec. Text is XML-escaped by the DOM
    * serializer-equivalent escaping below, so markup characters in
    * content survive the roundtrip byte-exactly. */
  def encode(paragraphs: Seq[String],
      tables: Seq[Seq[Seq[String]]] = Nil): Array[Byte] = {
    def esc(s: String): String = s.flatMap {
      case '&' => "&amp;"
      case '<' => "&lt;"
      case '>' => "&gt;"
      case '"' => "&quot;"
      case c => c.toString
    }
    def p(text: String) = s"<w:p><w:r><w:t xml:space=" +
      "\"preserve\">" + esc(text) + "</w:t></w:r></w:p>"
    def tbl(t: Seq[Seq[String]]) = "<w:tbl>" + t.map(row =>
      "<w:tr>" + row.map(c => s"<w:tc>${p(c)}</w:tc>").mkString +
        "</w:tr>").mkString + "</w:tbl>"
    val body = tables.map(tbl).mkString + paragraphs.map(p).mkString
    val documentXml =
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
         |<w:document xmlns:w="$W"><w:body>$body</w:body></w:document>"""
        .stripMargin
    val contentTypes =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
        |<Default Extension="xml" ContentType="application/xml"/>
        |<Override PartName="/word/document.xml" ContentType="application/vnd.openxmlformats-officedocument.wordprocessingml.document.main+xml"/>
        |</Types>""".stripMargin
    val out = new ByteArrayOutputStream()
    val zip = new ZipOutputStream(out)
    for ((name, data) <- Seq("[Content_Types].xml" -> contentTypes,
        "word/document.xml" -> documentXml)) {
      zip.putNextEntry(new ZipEntry(name))
      zip.write(data.getBytes("UTF-8"))
      zip.closeEntry()
    }
    zip.close()
    out.toByteArray
  }
}
