package graft

import java.nio.file.{Files, Paths}
import graft.multimodal.BinaryOps
import graft.streaming.{StreamDedup, UploadStream}
import org.apache.spark.sql.functions._

class StreamingMultimodalSpec extends SparkSpec {
  import spark.implicits._

  private def envelope(id: Long, url: String): String =
    s"""{"id": $id, "source_spider": "ticketmaster", "raw_json": "{\\"name\\": \\"show $id\\", \\"url\\": \\"$url\\", \\"venue_name\\": \\"ryman\\"}"}"""

  test("R2 upload stream: AvailableNow drains files, dedups, is idempotent") {
    val base = Files.createTempDirectory("graft_stream").toString
    val up = s"$base/uploads"; val silver = s"$base/silver"
    val ck1 = s"$base/ck1"; val ck2 = s"$base/ck2"
    Files.createDirectories(Paths.get(up))
    Files.writeString(Paths.get(s"$up/batch1.jsonl"),
      Seq(envelope(1, "http://tm/a"), envelope(2, "http://tm/b"),
        envelope(3, "http://tm/a")).mkString("\n"))

    UploadStream.start(spark, up, silver, ck1).awaitTermination()
    val rows1 = spark.read.parquet(silver)
    assert(rows1.count() == 2) // intra-batch dedup on url

    // second stream run over a new file re-delivering an old url
    Files.writeString(Paths.get(s"$up/batch2.jsonl"),
      Seq(envelope(9, "http://tm/a"), envelope(10, "http://tm/c"))
        .mkString("\n"))
    UploadStream.start(spark, up, silver, ck2).awaitTermination()
    val rows2 = spark.read.parquet(silver)
    assert(rows2.count() == 3) // only the genuinely new url appended
    assert(rows2.select("url").as[String].collect().toSet
      == Set("http://tm/a", "http://tm/b", "http://tm/c"))
  }

  test("R4 upload stream: an unreadable silver fails the batch, appends nothing") {
    import org.apache.spark.sql.streaming.StreamingQueryException
    val base = Files.createTempDirectory("graft_badsilver").toString
    val up = s"$base/uploads"; val silver = s"$base/silver"
    Files.createDirectories(Paths.get(up))
    Files.createDirectories(Paths.get(silver))
    Files.writeString(Paths.get(s"$silver/part-0.parquet"), "not parquet")
    Files.writeString(Paths.get(s"$up/batch1.jsonl"),
      s"""{"id": 1, "source_spider": "yelp", "raw_json": "{\\"name\\": \\"bbq\\", \\"url\\": \\"http://y/1\\"}"}""")
    val q = UploadStream.start(spark, up, silver, s"$base/ck")
    // the url anti-join cannot run, so the batch must not append
    intercept[StreamingQueryException](q.awaitTermination())
    val files = Files.list(Paths.get(silver)).toArray.map(_.toString).toSeq
    assert(files == Seq(s"$silver/part-0.parquet"))
    // a silver dir with no data files yet is "no silver", not an error
    val empty = s"$base/empty_silver"
    Files.createDirectories(Paths.get(empty))
    UploadStream.start(spark, up, empty, s"$base/ck2").awaitTermination()
    assert(spark.read.parquet(empty).count() == 1)
  }

  test("R1 cron mode: ProcessingTime trigger spans micro-batches, dedups") {
    import org.apache.spark.sql.streaming.Trigger
    val base = Files.createTempDirectory("graft_cron").toString
    val up = s"$base/uploads"; val silver = s"$base/silver"
    Files.createDirectories(Paths.get(up))
    Files.writeString(Paths.get(s"$up/batch1.jsonl"),
      Seq(envelope(1, "http://tm/a"), envelope(2, "http://tm/b"))
        .mkString("\n"))

    // one long-lived query, short interval: the deployment shape
    val q = UploadStream.start(spark, up, silver, s"$base/ck",
      trigger = Trigger.ProcessingTime("500 milliseconds"))
    try {
      def silverUrls(): Set[String] =
        try spark.read.parquet(silver).select("url").as[String]
          .collect().toSet
        catch { case _: Exception => Set.empty }
      def awaitUrls(want: Set[String]): Unit = {
        val deadline = System.nanoTime() + 30L * 1000000000L
        while (silverUrls() != want && System.nanoTime() < deadline)
          Thread.sleep(100)
        assert(silverUrls() == want)
      }
      awaitUrls(Set("http://tm/a", "http://tm/b"))
      // a later file lands between triggers: next micro-batch picks it
      // up and the anti-join drops the re-delivered url across batches
      Files.writeString(Paths.get(s"$up/batch2.jsonl"),
        Seq(envelope(9, "http://tm/a"), envelope(10, "http://tm/c"))
          .mkString("\n"))
      awaitUrls(Set("http://tm/a", "http://tm/b", "http://tm/c"))
      assert(spark.read.parquet(silver).count() == 3) // no dup rows either
    } finally q.stop()
  }

  test("multimodal: binary columns + mapPartitions feature extraction") {
    val media = Seq(
      (1L, "image", Array.tabulate(64)(_.toByte)),
      (2L, "audio", Array.tabulate(128)(i => (i * 3).toByte)),
      (3L, "image", Array.emptyByteArray))
      .toDF("media_id", "kind", "content")
    val feats = BinaryOps.extractFeatures(media).collect()
      .map(f => f.media_id -> f).toMap
    assert(feats.size == 3)
    assert(feats(1L).n_bytes == 64 && feats(1L).feature.length == 8)
    assert(feats(3L).n_bytes == 0)
    // deterministic: same bytes -> same hash+features
    val again = BinaryOps.extractFeatures(media).collect()
      .map(f => f.media_id -> f).toMap
    assert(feats(2L).content_hash == again(2L).content_hash)
    assert(feats(2L).feature.toSeq == again(2L).feature.toSeq)
  }

  test("multimodal end-to-end: features feed the embedding dedup path") {
    import graft.ops.SimilarityOps
    // two near-identical images (one byte differs), one unrelated blob
    val base = Array.tabulate(256)(i => (i % 23).toByte)
    val nearDup = base.clone(); nearDup(100) = 9
    val media = Seq(
      (1L, "image", base),
      (2L, "image", nearDup),
      (3L, "image", Array.tabulate(256)(i => (255 - i * 7).toByte)))
      .toDF("media_id", "kind", "content")
    val feats = BinaryOps.extractFeatures(media)
      .select($"media_id".as("vec_id"), $"feature".as("embedding"))
    val dups = SimilarityOps
      .exactCosinePairs(feats, "vec_id", "embedding", 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(dups.toSeq == Seq((1L, 2L)))
  }

  test("multimodal: resize and frame-sampling plumbing") {
    val media = Seq(
      (1L, "image", Array.tabulate(1000)(_.toByte)),
      (2L, "video", Array.tabulate(4096)(i => (i * 7).toByte)),
      (3L, "video", Array.emptyByteArray))
      .toDF("media_id", "kind", "content")
    val resized = BinaryOps.resize(media, 8, 8).collect()
      .map(r => r.media_id -> r).toMap
    assert(resized(1L).content.length == 64)
    assert(resized(1L).target_w == 8)
    // deterministic: stride sample reproducible
    assert(BinaryOps.resize(media, 8, 8).collect()
      .find(_.media_id == 1L).get.content.toSeq
      == resized(1L).content.toSeq)
    val frames = BinaryOps.sampleFrames(media, nFrames = 4).collect()
    assert(frames.count(_.media_id == 2L) == 4)  // 1 video -> 4 frames
    assert(frames.forall(_.media_id == 2L))      // empty video drops out
    val offsets = frames.filter(_.media_id == 2L).map(_.offset).sorted
    assert(offsets.toSeq == Seq(0L, 1024L, 2048L, 3072L))
  }

  test("streaming + compressed codecs: JPEG blobs decode per micro-batch") {
    // a binary-blob stream (the media-ingest shape) whose foreachBatch
    // decodes REAL compressed payloads with the r12 codecs — the
    // composition a multimodal ingest pipeline runs: file stream of
    // blobs -> executor-side decode -> per-batch append of exact stats.
    // AvailableNow over staged files keeps it deterministic.
    val base = Files.createTempDirectory("graft_media_stream").toString
    val in = s"$base/in"; val out = s"$base/out"; val ck = s"$base/ck"
    Files.createDirectories(Paths.get(in))
    // stage: id -> a real JPEG of one constant block (value = id*7)
    (1 to 6).foreach { id =>
      val v = (id * 7).toByte
      val jpeg = graft.multimodal.JpegCodec.encodeGray(8, 8,
        Array.fill[Byte](64)(v))
      Files.write(Paths.get(s"$in/img_$id.jpg"), jpeg)
    }
    val q = spark.readStream.format("binaryFile")
      .schema(BinaryOps.readMediaDir(spark, in).schema)
      .load(in)
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", ck)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.select(col("path"), col("content"))
          .as[(String, Array[Byte])]
          .map { case (path, bytes) =>
            val (w, h, pix) = graft.multimodal.JpegCodec.decodeGray(bytes)
            var sum = 0L
            pix.foreach(p => sum += p & 0xff)
            (path.substring(path.lastIndexOf('/') + 1), w, h, sum)
          }
          .toDF("name", "w", "h", "pix_sum")
          .write.mode("append").parquet(out)
        ()
      }
      .start()
    q.awaitTermination()
    val got = spark.read.parquet(out)
      .as[(String, Int, Int, Long)].collect()
      .map { case (n, w, h, s) => n -> ((w, h, s)) }.toMap
    assert(got.size == 6)
    (1 to 6).foreach { id =>
      // block-constant JPEG is exact: sum = 64 * id * 7
      assert(got(s"img_$id.jpg") == ((8, 8, 64L * id * 7)), s"img $id")
    }
  }

  test("streaming quarantine: a poison blob cannot kill the query") {
    // the r13 poison-pill path under Structured Streaming — the place
    // it matters MOST: a batch job loses a task retry to one corrupt
    // blob, a streaming query DIES PERMANENTLY (the micro-batch
    // re-fails forever at the checkpoint). parseAnySafe routes the
    // poison row to a quarantine sink and the stream keeps draining.
    val base = Files.createTempDirectory("graft_poison_stream").toString
    val in = s"$base/in"; val ok = s"$base/ok"
    val quar = s"$base/quarantine"; val ck = s"$base/ck"
    Files.createDirectories(Paths.get(in))
    val good = graft.ingest.PdfCodec.encode(
      Seq("Name: Good Event", "Venue: Hall"))
    Files.write(Paths.get(s"$in/good.pdf"), good)
    Files.write(Paths.get(s"$in/poison.pdf"), good.take(good.length / 2))
    Files.write(Paths.get(s"$in/junk.bin"),
      Array('P'.toByte, 'K'.toByte, 3.toByte, 4.toByte) ++
        Array.tabulate[Byte](32)(k => (k * 37 % 251).toByte))
    val q = spark.readStream.format("binaryFile")
      .schema(BinaryOps.readMediaDir(spark, in).schema)
      .load(in)
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", ck)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val parsed = batch.select(col("path"), col("content"))
          .as[(String, Array[Byte])]
          .map { case (path, bytes) =>
            val name = path.substring(path.lastIndexOf('/') + 1)
            graft.ingest.DocParse.parseAnySafe(bytes) match {
              case Right((fmt, recs)) =>
                (name, "ok", fmt, recs.size.toLong, "")
              case Left(f) =>
                (name, "quarantined", f.format, 0L, f.error)
            }
          }
          .toDF("name", "status", "fmt", "n_records", "error")
        parsed.filter($"status" === "ok")
          .write.mode("append").parquet(ok)
        parsed.filter($"status" === "quarantined")
          .write.mode("append").parquet(quar)
        ()
      }
      .start()
    q.awaitTermination() // a thrown poison pill would fail here
    val goodRows = spark.read.parquet(ok)
      .select("name", "fmt").as[(String, String)].collect().toSet
    assert(goodRows == Set(("good.pdf", "pdf")))
    val quarRows = spark.read.parquet(quar)
      .select("name", "fmt", "error").as[(String, String, String)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(quarRows.keySet == Set("poison.pdf", "junk.bin"))
    assert(quarRows("poison.pdf")._1 == "pdf")
    assert(quarRows("junk.bin")._1 == "zip")
    assert(quarRows.values.forall(_._2.nonEmpty)) // errors kept as data
  }

  test("streaming crawl spine: WARC archives drain through admission") {
    // the q306 spine under Structured Streaming — how a crawl
    // actually lands: .warc.gz files arriving in a directory, each
    // micro-batch walking records → HTTP split → robots admission →
    // HTML extraction, with a corrupt archive routed to quarantine
    // instead of killing the query (the r13 poison contract)
    import graft.multimodal.WarcCodec
    import graft.ingest.{HtmlCodec, Robots}
    val base = Files.createTempDirectory("graft_crawl_stream").toString
    val in = s"$base/in"; val pages = s"$base/pages"
    val quar = s"$base/quarantine"; val ck = s"$base/ck"
    Files.createDirectories(Paths.get(in))
    val robotsTxt = "User-agent: bot\r\nDisallow: /private*\r\n"
    def html(t: String, body: String) =
      (s"<html><head><title>$t</title></head>" +
        s"<body><p>$body</p></body></html>").getBytes("ISO-8859-1")
    def archive(host: String, pagesIn: Seq[(String, Int, Boolean)]) =
      WarcCodec.synth(
        ("response", s"https://$host/robots.txt",
          WarcCodec.httpResponse(200,
            Seq("Content-Type" -> "text/plain"),
            robotsTxt.getBytes("ISO-8859-1")))
          +: pagesIn.map { case (path, status, isHtml) =>
            ("response", s"https://$host$path",
              WarcCodec.httpResponse(status,
                Seq("Content-Type" ->
                  (if (isHtml) "text/html" else "application/pdf")),
                if (isHtml) html(s"$host$path", s"body of $path")
                else Array.tabulate[Byte](16)(_.toByte)))
          }, gzipped = true)
    Files.write(Paths.get(s"$in/a.warc.gz"), archive("a.example", Seq(
      ("/ok", 200, true), ("/private/x", 200, true), ("/gone", 404, true),
      ("/doc", 200, false))))
    Files.write(Paths.get(s"$in/b.warc.gz"), archive("b.example", Seq(
      ("/ok", 200, true))))
    val good = archive("c.example", Seq(("/ok", 200, true)))
    Files.write(Paths.get(s"$in/poison.warc.gz"),
      good.take(good.length / 2)) // truncated mid-gzip
    val q = spark.readStream.format("binaryFile")
      .schema(BinaryOps.readMediaDir(spark, in).schema)
      .load(in)
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", ck)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val parsed = batch.select(col("path"), col("content"))
          .as[(String, Array[Byte])]
          .flatMap { case (path, bytes) =>
            val name = path.substring(path.lastIndexOf('/') + 1)
            try {
              val recs = WarcCodec.records(bytes)
                .filter(_._1.warcType == "response")
              val groups = recs
                .find(_._1.targetUri.endsWith("/robots.txt"))
                .map { case (_, p) =>
                  Robots.parse(new String(
                    WarcCodec.httpParts(p)._3, "ISO-8859-1"))
                }.getOrElse(Seq.empty)
              recs.filterNot(_._1.targetUri.endsWith("/robots.txt"))
                .flatMap { case (rec, payload) =>
                  val (status, hdrs, body) = WarcCodec.httpParts(payload)
                  val p = rec.targetUri.substring(
                    rec.targetUri.indexOf('/', "https://".length))
                  if (status == 200 &&
                      hdrs.get("content-type")
                        .exists(_.startsWith("text/html")) &&
                      Robots.allowed(groups, "bot", p)) {
                    val items = HtmlCodec.extractItems(
                      new String(body, "ISO-8859-1"),
                      HtmlCodec.HtmlConfig(
                        itemContainerSelector = Some("html"),
                        fields = Map("title" -> "title::text")))
                    Seq((name, "page", rec.targetUri,
                      items.head.getOrElse("title", "")))
                  } else Nil
                }
            } catch {
              case e: Exception =>
                Seq((name, "quarantined", "", e.getMessage.take(80)))
            }
          }
          .toDF("archive", "status", "uri", "title")
        parsed.filter($"status" === "page")
          .write.mode("append").parquet(pages)
        parsed.filter($"status" === "quarantined")
          .write.mode("append").parquet(quar)
        ()
      }
      .start()
    q.awaitTermination()
    val got = spark.read.parquet(pages)
      .select("archive", "uri", "title").as[(String, String, String)]
      .collect().toSet
    // only the 200+html+robots-allowed pages surface, titles extracted
    assert(got == Set(
      ("a.warc.gz", "https://a.example/ok", "a.example/ok"),
      ("b.warc.gz", "https://b.example/ok", "b.example/ok")))
    val bad = spark.read.parquet(quar)
      .select("archive").as[String].collect().toSet
    assert(bad == Set("poison.warc.gz"))
  }

  test("streaming dedup within watermark drops in-horizon duplicates") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String, Double)]
    val events = input.toDF().toDF("ts", "url", "value")
    val out = java.nio.file.Files.createTempDirectory("graft_dd").toString
    def ts(m: Int) = new java.sql.Timestamp(m * 60000L)
    // data must exist before start: AvailableNow snapshots offsets then
    input.addData(
      (ts(0), "http://a", 1.0),
      (ts(1), "http://a", 2.0), // dup within horizon -> dropped
      (ts(2), "http://b", 3.0))
    val q = StreamDedup.dedupWithinWatermark(events, "url", "ts", 600)
      .writeStream.outputMode("append")
      .format("parquet").option("path", s"$out/data")
      .option("checkpointLocation", s"$out/ck")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    q.exception.foreach(e => fail(s"query failed: $e"))
    val got = spark.read.parquet(s"$out/data")
    assert(got.count() == 2)
    assert(got.select("url").as[String].collect().toSet
      == Set("http://a", "http://b"))
  }

  test("stream-static broadcast enrichment joins each micro-batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Double)]
    val stream = input.toDF().toDF("source", "value")
    val dim = Seq(("tm", "Ticketmaster"), ("sg", "SeatGeek"))
      .toDF("source", "display")
    input.addData(("tm", 1.0), ("sg", 2.0), ("zz", 3.0))
    val out = java.nio.file.Files.createTempDirectory("graft_en").toString
    val q = UploadStream.enriched(stream, dim, "source")
      .writeStream.outputMode("append")
      .format("parquet").option("path", s"$out/data")
      .option("checkpointLocation", s"$out/ck")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    q.exception.foreach(e => fail(s"query failed: $e"))
    val got = spark.read.parquet(s"$out/data")
      .orderBy("source").collect()
    assert(got.map(_.getAs[String]("display")).toSeq ==
      Seq("SeatGeek", "Ticketmaster", null))
  }

  test("streaming session_window emits closed sessions under a watermark") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Long, Double)]
    val events = input.toDF().toDF("ts", "user_id", "value")
    def ts(m: Int) = new java.sql.Timestamp(m * 60000L)
    // user 1: two sessions separated by > 30 min; user 2: one session
    input.addData(
      (ts(0), 1L, 1.0), (ts(10), 1L, 2.0), // session A (merged, gap 10m)
      (ts(60), 1L, 4.0),                   // session B (gap 50m > 30m)
      (ts(5), 2L, 8.0),
      (ts(600), 9L, 0.0)) // late sentinel advances the watermark past A+B
    val out = java.nio.file.Files.createTempDirectory("graft_sw").toString
    val q = events.withWatermark("ts", "10 minutes")
      .groupBy(col("user_id"),
        session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_v"))
      .select(col("user_id"), col("session_window.start").as("s"),
        col("n"), col("sum_v"))
      .writeStream.outputMode("append")
      .format("parquet").option("path", s"$out/data")
      .option("checkpointLocation", s"$out/ck")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    q.exception.foreach(e => fail(s"query failed: $e"))
    val got = spark.read.parquet(s"$out/data")
      .filter($"user_id" === 1L).orderBy("s")
      .select("n", "sum_v").as[(Long, Double)].collect().toSeq
    assert(got == Seq((2L, 3.0), (1L, 4.0)))
  }

  test("a repeat upload drain compiles no generated code") {
    // Each drain runs in its own cloned session. With per-session
    // artifact class loaders, every drain missed Spark's codegen cache
    // (keyed by class loader and code) and re-compiled ~24 classes.
    import org.apache.spark.metrics.source.CodegenMetrics
    val base = Files.createTempDirectory("graft_recompile").toString
    val up = s"$base/uploads"; val silver = s"$base/silver"
    Files.createDirectories(Paths.get(up))
    def drain(n: Int): Long = {
      Files.writeString(Paths.get(s"$up/upload$n.jsonl"),
        (1 to 3).map(i => envelope(10L * n + i, s"http://tm/$n/$i"))
          .mkString("\n"))
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      UploadStream.start(spark, up, silver, s"$base/ck").awaitTermination()
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    drain(1) // no silver yet: the plan has no url anti-join
    drain(2) // the first plan with the anti-join
    val compiles = drain(3)
    assert(compiles == 0, s"third drain compiled $compiles classes")
    assert(spark.read.parquet(silver).count() == 9)
  }

  test("paced backfill: maxFilesPerTrigger drains in bounded micro-batches") {
    val base = Files.createTempDirectory("graft_pace").toString
    val up = s"$base/up"; Files.createDirectories(Paths.get(up))
    // 4 one-record upload files
    (1 to 4).foreach { i =>
      Files.writeString(Paths.get(s"$up/f$i.jsonl"),
        s"""{"id": $i, "source_spider": "yelp", "raw_json": "{\\"name\\": \\"Ev $i\\", \\"url\\": \\"http://x/$i\\"}"}""")
    }
    var batches = 0
    val q = spark.readStream.schema(graft.model.Schemas.rawEnvelope)
      .option("maxFilesPerTrigger", 1).json(up)
      .writeStream
      .option("checkpointLocation", s"$base/ck")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        batches += 1; b.count(); ()
      }
      .start()
    q.awaitTermination()
    // AvailableNow + 1 file per trigger: everything drains, in 4 batches
    assert(batches == 4, s"expected 4 paced micro-batches, got $batches")
  }

  test("streaming sliding windows: each event covers 4 hops, closed by watermark") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val events = input.toDF().toDF("ts", "source")
    def ts(m: Int) = new java.sql.Timestamp(m * 60000L)
    input.addData((ts(10), "a"), (ts(20), "a"),
      (ts(600), "z")) // sentinel advances the watermark past all hops
    val out = java.nio.file.Files.createTempDirectory("graft_hop").toString
    val q = UploadStream.slidingCounts(events)
      .writeStream.outputMode("append")
      .format("parquet").option("path", s"$out/data")
      .option("checkpointLocation", s"$out/ck")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    q.exception.foreach(e => fail(s"query failed: $e"))
    val got = spark.read.parquet(s"$out/data")
      .filter($"w_start" < new java.sql.Timestamp(100 * 60000L))
      .orderBy("w_start")
      .collect().map(r => (r.getTimestamp(0).getTime / 60000L, r.getLong(1)))
    // m=10 covers starts −45,−30,−15,0; m=20 covers −30,−15,0,15
    assert(got.toSeq == Seq((-45L, 1L), (-30L, 2L), (-15L, 2L),
      (0L, 2L), (15L, 1L)))
  }

  test("streaming windowed agg compiles against a batch frame (smoke)") {
    val df = Seq(("2024-01-01 00:10:00", "a"), ("2024-01-01 00:20:00", "a"))
      .toDF("ts", "source").withColumn("ts", $"ts".cast("timestamp"))
    val agg = UploadStream.hourlyCounts(df)
    assert(agg.collect().map(_.getAs[Long]("n")).sum == 2)
  }
}
