package graft

import org.apache.spark.sql.functions._
import graft.pipeline.Etl
import graft.query.Dashboard

class NormalizeEtlSpec extends SparkSpec {
  import spark.implicits._

  private def payload(kv: (String, String)*): String =
    kv.map { case (k, v) => s""""$k": "$v"""" }.mkString("{", ", ", "}")

  private lazy val bronze = Seq(
    (1L, "ticketmaster", payload(
      "name" -> "rock   concert", "url" -> "http://tm/1",
      "event_date" -> "2025-10-02 20:00:00",
      "venue_name" -> "ryman auditorium hall", "category" -> "Music",
      "latitude" -> "36.16", "longitude" -> "-86.78")),
    (2L, "ticketmaster", payload( // no venue -> dropped (P3 strict)
      "name" -> "ghost show", "url" -> "http://tm/2")),
    (3L, "seatgeek", payload(
      "name" -> "hockey game", "url" -> "http://sg/1",
      "event_date" -> "2025-11-01T19:00:00", "venue_name" -> "arena")),
    (4L, "yelp", payload( // lenient: no venue needed, no date
      "name" -> "bbq joint", "url" -> "http://yelp/1",
      "description" -> "Rating: 4.5/5 | Price: $$")),
    (5L, "underdog", payload(
      "name" -> "comedy underground", "url" -> "http://ud/1",
      "event_date" -> "October 2, 2025 | 8:00PM CDT")),
    (6L, "nashville.com-events", payload(
      "name" -> "harvest festival", "url" -> "http://nc/1",
      "event_date" -> "October 2 @ 8:00 pm", "venue_name" -> "the lawn")),
    (7L, "yelp", payload( // N/A name -> dropped (P5)
      "name" -> "N/A", "url" -> "http://yelp/2")),
    (8L, "seatgeek", payload( // duplicate url, higher id -> loses first-wins
      "name" -> "hockey game encore", "url" -> "http://sg/1",
      "event_date" -> "2025-11-02T19:00:00", "venue_name" -> "arena")),
  ).toDF("id", "source_spider", "raw_json")

  lazy val (loaded, silver) = Etl.run(bronze, None, refYear = 2025)

  test("normalize: strict/lenient validity filters and dedup") {
    // rows 2 (no venue) and 7 (invalid name) dropped; 8 deduped vs 3
    assert(loaded == 5)
    assert(silver.count() == 5)
    val byUrl = silver.collect().map(r =>
      r.getAs[String]("url") -> r).toMap
    assert(byUrl.keySet == Set("http://tm/1", "http://sg/1", "http://yelp/1",
      "http://ud/1", "http://nc/1"))
    assert(byUrl("http://sg/1").getAs[String]("name") == "Hockey Game")
  }

  test("per-source standardization lands in canonical columns") {
    val tm = silver.filter($"url" === "http://tm/1").collect().head
    assert(tm.getAs[String]("name") == "Rock Concert")       // F1+F3
    assert(tm.getAs[String]("venue_name") == "Ryman Auditorium") // F2
    assert(tm.getAs[String]("event_date") == "2025-10-02T20:00:00") // D1a
    assert(tm.getAs[String]("source") == "Ticketmaster")     // P2
    assert(tm.getAs[String]("category") == "Music")          // trusted gate
    assert(tm.getAs[Double]("latitude") == 36.16)            // F13
    val ud = silver.filter($"url" === "http://ud/1").collect().head
    assert(ud.getAs[String]("event_date") == "2025-10-02T20:00:00-05:00")
    assert(ud.getAs[String]("category") == "comedy")         // U2 cascade
    val nc = silver.filter($"url" === "http://nc/1").collect().head
    assert(nc.getAs[String]("event_date") == "2025-10-02T20:00:00-05:00")
    assert(nc.getAs[String]("category") == "festival")
    val yl = silver.filter($"url" === "http://yelp/1").collect().head
    assert(yl.getAs[String]("venue_city") == "Nashville")    // default city
  }

  test("dispatch: every kind keeps or drops rows by its own rule") {
    val kinds = Seq[(Long, String, String)](
      (11L, "nashville_arcgis", payload( // strict, venue present
        "name" -> "park concert", "url" -> "http://arc/1",
        "venue_name" -> "centennial park")),
      (12L, "nashville_arcgis", payload( // strict, no venue -> dropped
        "name" -> "lost mural", "url" -> "http://arc/2")),
      (13L, "google_places", payload( // lenient: kept without a venue
        "name" -> "hot chicken", "url" -> "http://gp/1",
        "venue_city" -> "Franklin")),
      (14L, "events_csv_feed", payload( // "csv" route (lenient)
        "name" -> "csv fair", "url" -> "http://csv/1")),
      (15L, "city_document_scan", payload( // "document" route (lenient)
        "name" -> "doc expo", "url" -> "http://doc/1",
        "source" -> "City Docs")),
      (16L, "manual_upload_pdf", payload( // ai_text: no direct rows
        "name" -> "pdf gala", "url" -> "http://pdf/1",
        "venue_name" -> "hall")),
      (17L, "manual_upload_csv", payload( // startsWith beats "csv"
        "name" -> "csv upload", "url" -> "http://mcsv/1")),
      (18L, null, payload( // null spider -> generic
        "name" -> "mystery gig", "url" -> "http://gen/1")),
    ).toDF("id", "source_spider", "raw_json")
    val out = graft.ingest.Normalize.normalize(kinds).collect()
      .map(r => r.getAs[String]("url") ->
        (r.getAs[String]("venue_city"), r.getAs[String]("source"))).toMap
    assert(out == Map(
      "http://arc/1" -> ("Nashville", "Nashville ArcGIS"),
      "http://gp/1" -> ("Franklin", "Google Places"),
      "http://csv/1" -> ("Nashville", "Events Csv Feed"),
      "http://doc/1" -> ("Nashville", "City Docs"),
      "http://gen/1" -> ("Nashville", null)))
  }

  test("A5 observed load metrics ride along with the action (one pass)") {
    val (obs, observed) = Etl.observedLoad(silver)
    observed.write.format("noop").mode("overwrite").save()
    val m = obs.get
    assert(m("rows") == 5L)
    assert(m("null_url") == 0L)
    assert(m("n_sources").asInstanceOf[Long] >= 2L)
  }

  test("K2 idempotence: re-loading the same bronze appends nothing") {
    val (again, silver2) = Etl.run(bronze, Some(silver), refYear = 2025)
    assert(again == 0 && silver2.count() == 5)
  }

  test("search tokens drop stopwords and short tokens") {
    val toks = silver.filter($"url" === "http://yelp/1")
      .select("search_tokens").as[Seq[String]].collect().head
    assert(toks.contains("bbq") && toks.contains("rating"))
    assert(!toks.exists(t => t.length <= 1))
  }

  test("dashboard query: filter + search + rank + page") {
    val all = Dashboard.query(silver)
    assert(all.total == 5 && all.totalPages == 1)
    val tm = Dashboard.query(silver, source = Some("Ticketmaster"))
    assert(tm.total == 1)
    val hockey = Dashboard.query(silver, search = Some("hockey game"))
    assert(hockey.total == 1 &&
      hockey.rows.select("url").as[String].collect().head == "http://sg/1")
    val domains = Dashboard.distinctDomain(silver, "source")
      .as[String].collect().toSeq
    assert(domains == domains.sorted && domains.contains("SeatGeek"))
  }

  test("deep-page pagination slices deterministically") {
    val p2 = Dashboard.query(silver, page = 2)
    assert(p2.rows.count() == 0) // only 5 rows -> page 2 empty
  }

  test("weighted relevance ranks name hits above description hits") {
    val rows = Seq(
      ("Jazz Night", "http://a", "plain evening", "V1"),
      ("Open Mic", "http://b", "jazz jazz jazz jazz jazz jazz jazz", "V2"))
      .toDF("name", "url", "description", "venue_name")
      .withColumn("event_date", lit(null).cast("string"))
      .withColumn("venue_address", lit(null).cast("string"))
      .withColumn("venue_city", lit("Nashville"))
      .withColumn("source", lit("Yelp"))
      .withColumn("category", lit(null).cast("string"))
      .withColumn("genre", lit(null).cast("string"))
      .withColumn("season", lit(null).cast("string"))
      .withColumn("latitude", lit(null).cast("double"))
      .withColumn("longitude", lit(null).cast("double"))
    val indexed = graft.ingest.Normalize.withWeightedTokens(rows)
    // weighted: one name hit (1.0) beats seven description hits (0.7)
    val w = Dashboard.query(indexed, search = Some("jazz"), weighted = true)
    assert(w.rows.select("url").as[String].collect().head == "http://a")
    // unweighted tf: the description-stuffed doc wins
    val u = Dashboard.query(indexed, search = Some("jazz"))
    assert(u.rows.select("url").as[String].collect().head == "http://b")
  }

  test("stemmed search matches morphological variants") {
    val stemmedSilver = graft.ingest.Normalize.withSearchTokens(
      silver.drop("search_tokens"), stem = true)
    // "games" must find the doc whose tokens contain "game" (stemmed)
    val hit = Dashboard.query(stemmedSilver, search = Some("hockey games"),
      stemmed = true)
    assert(hit.total == 1)
    // unstemmed search for the same plural misses
    val miss = Dashboard.query(silver, search = Some("games"))
    assert(miss.total == 0)
  }
}
