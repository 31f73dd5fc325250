package graft

import graft.ingest.PdfCodec

/** Byte-level pins on every public PdfCodec fixture writer: the MD5 of
  * each writer's output for fixed inputs. The writers feed driver-hashed
  * queries (q176, q207, q285, q290, q303, q304, q307) and the decode
  * suites, so a refactor of the writer scaffolding must leave every byte
  * where it was. Flate streams come from the JDK's zlib at BEST_SPEED;
  * the pins hold for one zlib build. */
class PdfFixtureBytesSpec extends org.scalatest.funsuite.AnyFunSuite {

  private val lines = Seq("Name: Event 7", "Venue: Hall (njk) \\ 7",
    "a (nested (paren)) line with \\ and ) bait")
  private val more = Seq("Revised: (2) \\ lines", "second")
  private val pix = Array.tabulate[Byte](16 * 8)(i => (i * 29 % 256).toByte)

  private def md5(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5").digest(b)
      .map(x => f"${x & 0xff}%02x").mkString

  private val filters = Seq("flate", "raw", "ahx", "a85", "rle", "lzw",
    "a85+flate", "flate+predpng", "flate+pred2", "lzw+predpng")

  private val writers: Seq[(String, () => Array[Byte])] = Seq(
    "encode" -> (() => PdfCodec.encode(lines)),
    "encode(raw)" -> (() => PdfCodec.encode(lines, compress = false))) ++
    filters.map(f =>
      s"encodeWith($f)" -> (() => PdfCodec.encodeWith(lines, f))) ++
    Seq("rc4-40", "rc4-128", "aes-128", "aes-256").flatMap(m => Seq(
      s"encodeEncrypted($m)" -> (() => PdfCodec.encodeEncrypted(lines, m)),
      s"encodeEncrypted($m, img, no-meta)" -> (() =>
        PdfCodec.encodeEncrypted(lines, m, img = Some((16, 8, pix)),
          encryptMetadata = false)))) ++ Seq(
    "encodeWithXrefStream(true)" -> (() =>
      PdfCodec.encodeWithXrefStream(lines)),
    "encodeWithXrefStream(false)" -> (() =>
      PdfCodec.encodeWithXrefStream(lines, predictor = false)),
    "appendIncrementalUpdate" -> (() =>
      PdfCodec.appendIncrementalUpdate(PdfCodec.encode(lines), more)),
    "appendIncrementalUpdateXrefStream" -> (() =>
      PdfCodec.appendIncrementalUpdateXrefStream(
        PdfCodec.encodeWithXrefStream(lines), more)),
    "appendIncrementalUpdateXrefStream(classic base, chained)" -> (() =>
      PdfCodec.appendIncrementalUpdateXrefStream(
        PdfCodec.appendIncrementalUpdate(PdfCodec.encode(lines), more),
        lines)),
    "encodeWithDctImage" -> (() => PdfCodec.encodeWithDctImage(lines)),
    "encodeWithRealJpeg" -> (() =>
      PdfCodec.encodeWithRealJpeg(lines, 16, 8, pix)),
    "encodeWithIndirectLength" -> (() =>
      PdfCodec.encodeWithIndirectLength(lines)),
    "encodeWithIndirectLength(raw, decoys, len first)" -> (() =>
      PdfCodec.encodeWithIndirectLength(lines, compress = false,
        decoys = Seq(3, 9999), lenObjFirst = true)),
    "encodeWithObjStmLength" -> (() =>
      PdfCodec.encodeWithObjStmLength(lines)),
    "encodeWithObjStmLength(indirect)" -> (() =>
      PdfCodec.encodeWithObjStmLength(lines, objStmIndirectLen = true)),
    "encodeWithImageZoo" -> (() =>
      PdfCodec.encodeWithImageZoo(lines, Seq(("jpx", 4, 4, 10),
        ("jbig2", 8, 2, 7), ("ccitt", 16, 3, 9), ("flate", 2, 2, 12)))))

  private val pinned: Map[String, String] = Map(
    "encode" -> "c1b2380acdb2cdb5b3af073e2bff2687",
    "encode(raw)" -> "d1771baa295964752e209f83fcfd5773",
    "encodeWith(flate)" -> "c1b2380acdb2cdb5b3af073e2bff2687",
    "encodeWith(raw)" -> "d1771baa295964752e209f83fcfd5773",
    "encodeWith(ahx)" -> "76ab21e2fcfe373c660874abd3b2f310",
    "encodeWith(a85)" -> "c9520d8effe9c83f5e173da8148b9a7a",
    "encodeWith(rle)" -> "2e9c1ccc4967fb3477c984bd9c6d03ba",
    "encodeWith(lzw)" -> "4fd513a43757ec1a18c3b5ab7a307874",
    "encodeWith(a85+flate)" -> "1d923c5007d1b3555fc3dac65e3bd7b5",
    "encodeWith(flate+predpng)" -> "4075d4a32fcbd213841152dce74e6d04",
    "encodeWith(flate+pred2)" -> "2fe6f5ab9b4505018e26f22260d8b109",
    "encodeWith(lzw+predpng)" -> "e39fc64754bc1284d43f2acad35c0bae",
    "encodeEncrypted(rc4-40)" -> "ab9715928cf5dd036d91e6826ef0aa16",
    "encodeEncrypted(rc4-40, img, no-meta)" -> "23c9035f3a7d7a9ce3b5260712f6ac5f",
    "encodeEncrypted(rc4-128)" -> "efb8f20673264ca3b8b094c3ffa28d90",
    "encodeEncrypted(rc4-128, img, no-meta)" -> "12214294bb69932f716dfab154c29c99",
    "encodeEncrypted(aes-128)" -> "5f5f2d3eebb004026e0a6323e379b7db",
    "encodeEncrypted(aes-128, img, no-meta)" -> "4d2d8959eb26deb78c69bc18c3775986",
    "encodeEncrypted(aes-256)" -> "e42189dbfdb52700c5b146e9fda3bfbb",
    "encodeEncrypted(aes-256, img, no-meta)" -> "c49773d32b42c408f26471f29419bef0",
    "encodeWithXrefStream(true)" -> "9bcae0dda15c451145b08dc6881da404",
    "encodeWithXrefStream(false)" -> "0a4115947a65d3df110d79d45530cf3c",
    "appendIncrementalUpdate" -> "63fd618f8c5868e60ad4b14f4d95e487",
    "appendIncrementalUpdateXrefStream" -> "1fce69cb5f2dc88a5a77b12ab094c37c",
    "appendIncrementalUpdateXrefStream(classic base, chained)" ->
      "b66d62c45a81179923094ae32bf2bc67",
    "encodeWithDctImage" -> "d4af88418b95808be8d8906e0aef0e73",
    "encodeWithRealJpeg" -> "a56640c73bb5f58bd60a52040beb7464",
    "encodeWithIndirectLength" -> "d1f1dbadcb1be5a878f61f1e658241de",
    "encodeWithIndirectLength(raw, decoys, len first)" ->
      "f24627bf9a94474192a7f08f1a37ae43",
    "encodeWithObjStmLength" -> "ddf2192ef90dce45bb85719063e53cb3",
    "encodeWithObjStmLength(indirect)" -> "0ab44f42f56d430e6414a793c3a599fe",
    "encodeWithImageZoo" -> "428f3430610fc7b7376c3086fc245b3d")

  test("every fixture writer's bytes match their pinned MD5") {
    val got = writers.map { case (n, w) => n -> md5(w()) }
    val off = got.filter { case (n, h) => !pinned.get(n).contains(h) }
    if (off.nonEmpty) fail(off.map { case (n, h) => s"\"$n\" -> \"$h\"" }
      .mkString("drifted:\n", ",\n", ""))
    assert(pinned.keySet == got.map(_._1).toSet)
  }
}
