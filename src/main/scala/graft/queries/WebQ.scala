package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.ops.OrderStats

/** Web-corpus curation operators added in round 6: URL canonicalization
  * and canonical-identity dedup (the crawl-side generalization of the
  * reference's url-as-record-identity rule, transform_data.py:344-356),
  * and Okapi BM25 ranking (Robertson & Spärck Jones's published
  * formula) extending the §2.8 relevance family beyond ts_rank. */
object WebQ {

  /** BM25 free parameters — the textbook defaults. */
  private val K1 = 1.2
  private val B = 0.75

  lazy val all: Seq[Q] = Seq(
    // robots.txt ADMISSION (RFC 9309) — the crawl-policy gate that
    // precedes every fetch in a corpus-collection pipeline (the
    // reference's scrapy stack applies the same protocol through
    // ROBOTSTXT_OBEY). Each doc carries its own robots.txt (the
    // graftbot group gains an Allow /private/pub$ override on even
    // ids; comments/case noise included) and crawls 8 path shapes per
    // text byte under an agent that falls back to the `*` group on
    // id%3==0 docs. The engine runs the generic RFC matcher — group
    // selection, `*` wildcards, `$` anchor, longest-match-then-allow
    // precedence; the oracle encodes the resulting truth table from
    // id arithmetic, so any drift in the matcher's precedence or
    // anchoring breaks the hash. RobotsSpec pins the protocol corner
    // cases hand-worked from the RFC. Per-row executor work.
    Q("q300_robots_admission", (s, dir) => {
      import s.implicits._
      docText(s, dir, length(col("text")) > 0)
        .map { case (id, text) =>
          import graft.ingest.Robots
          val robots =
            "# graft crawl policy\r\n" +
            "User-Agent: graftbot\r\n" +
            "Disallow: /private*\r\n" +
            (if (id % 2 == 0) "Allow: /private/pub$\r\n" else "") +
            "Crawl-delay: 2\r\n" +
            "\r\n" +
            "user-agent: *\r\n" +
            "Disallow: /tmp/\r\n" +
            "Allow: /\r\n"
          val groups = Robots.parse(robots)
          val agent = if (id % 3 == 0) "otherbot" else "GraftBot"
          val paths = Array("/", "/public/page", "/private",
            "/private/pub", "/privateer", "/tmp/x", "/pub",
            "/private/pub/deep")
          val src = text.getBytes("ISO-8859-1")
          var denied = 0L
          var deniedChk = 0L
          var k = 0
          while (k < src.length) {
            val path = paths((src(k) & 0xff) % 8)
            if (!Robots.allowed(groups, agent, path)) {
              denied += 1
              deniedChk += k + 1
            }
            k += 1
          }
          (id, src.length.toLong, src.length - denied, denied,
            deniedChk)
        }
        .toDF("doc_id", "n_urls", "n_allowed", "n_denied",
          "denied_checksum")
        .orderBy("doc_id")
    }, oracle =
      // the RFC truth table from id arithmetic: under the graftbot
      // group (id%3 != 0) paths 2/4/7 are denied by Disallow /private*,
      // path 3 is denied unless the even-id Allow /private/pub$
      // override out-lengths it; under the * group (id%3 = 0) only
      // path 5 (/tmp/x) is denied
      """WITH d AS (
        | SELECT doc_id, text, length(text) AS len
        | FROM documents WHERE length(text) > 0),
        |v AS (
        | SELECT doc_id, len,
        |  list_transform(range(1, len + 1), i ->
        |   CASE WHEN doc_id % 3 = 0 THEN
        |     CASE WHEN ord(substr(text, CAST(i AS INTEGER), 1)) % 8 = 5
        |      THEN 1 ELSE 0 END
        |   ELSE
        |     CASE WHEN ord(substr(text, CAST(i AS INTEGER), 1)) % 8
        |            IN (2, 4, 7) THEN 1
        |      WHEN ord(substr(text, CAST(i AS INTEGER), 1)) % 8 = 3
        |           AND doc_id % 2 = 1 THEN 1
        |      ELSE 0 END
        |   END) AS dny
        | FROM d)
        |SELECT doc_id,
        | CAST(len AS BIGINT) AS n_urls,
        | CAST(len - list_sum(dny) AS BIGINT) AS n_allowed,
        | CAST(list_sum(dny) AS BIGINT) AS n_denied,
        | CAST(list_sum(list_transform(range(1, len + 1), i ->
        |   i * dny[CAST(i AS INTEGER)])) AS BIGINT) AS denied_checksum
        |FROM v ORDER BY doc_id""".stripMargin),

    // THE CRAWL-INGEST SPINE, composed end-to-end (r13 verdict #4):
    // the Common-Crawl path a real curation run executes — WARC
    // record walk (q299's organ) → HTTP status/header/body split →
    // robots.txt parse + RFC 9309 admission per page (q300's organ,
    // policy fetched FROM the archive itself) → HtmlCodec text
    // extraction on the admitted HTML (q180's organ) — here as ONE
    // registered query over a synthesized .warc.gz per doc with
    // planted allowed/denied/non-HTML/404 records. Admission gates
    // on all three axes (status 200, Content-Type html, robots
    // allows the path for our agent — the * group's Disallow / is a
    // trap that fires if group selection slips), every extracted
    // page body is checked against its planted truth, and the
    // admitted titles hash in record order. r15 re-gate: v%7<3 pages
    // arrive Transfer-Encoding: chunked and must be de-chunked before
    // extraction — same logical truth, so the oracle is untouched and
    // any framing bytes reaching the HTML parser break the hash.
    // Per-row executor work; the only shuffle is the final orderBy.
    Q("q306_crawl_spine", (s, dir) => {
      import s.implicits._
      docText(s, dir, length(col("text")) > 0)
        .map { case (id, text) =>
          import graft.ingest.{HtmlCodec, Robots}
          import graft.multimodal.WarcCodec
          val src = text.getBytes("ISO-8859-1")
          val host = s"https://site$id.example"
          val robotsTxt =
            "User-Agent: graftbot\r\n" +
            "Disallow: /private*\r\n" +
            (if (id % 2 == 0) "Allow: /private/pub$\r\n" else "") +
            "\r\n" +
            "User-agent: *\r\n" +
            "Disallow: /\r\n"
          val paths = Array("/", "/public/page", "/private",
            "/private/pub", "/privateer", "/tmp/x", "/pub",
            "/private/pub/deep")
          val pageRecs = src.toSeq.zipWithIndex.map { case (b, k) =>
            val v = b & 0xff
            val status = if (v % 10 == 0) 404 else 200
            val html = v % 3 != 0
            val body =
              if (html)
                (s"<html><head><title>Page $id-$k</title></head>" +
                  s"<body><p>Doc $id page $k</p></body></html>")
                  .getBytes("ISO-8859-1")
              else Array.tabulate[Byte](v % 32 + 1)(i =>
                ((i * 73 + v) % 251).toByte)
            val ctype = Seq("Content-Type" ->
              (if (html) "text/html; charset=utf-8"
               else "application/octet-stream"))
            // r15: the wire shapes real crawls actually serve, split
            // by v%7 — 0: chunked with 3..7-byte chunks (RFC 9112
            // §7.1; the size lines land INSIDE every tag), 1: gzip
            // content-coded (RFC 9110 §8.4 — the body bytes on the
            // wire are compressed), 2: gzip coded THEN chunked (the
            // stacking order browsers see: content coding first,
            // transfer coding framing the coded bytes), 3: deflate
            // (zlib-wrapped). A spine that skips any decode step
            // hands garbage to HTML extraction and fails the
            // equality check below loudly.
            ("response", host + paths(v % 8),
              (v % 7) match {
                case 0 => WarcCodec.httpResponseChunked(status, ctype,
                  body, v % 5 + 3)
                case 1 => WarcCodec.httpResponseCoded(status, ctype,
                  body, "gzip")
                case 2 => WarcCodec.httpResponseCoded(status, ctype,
                  body, "gzip", chunkSize = v % 5 + 3)
                case 3 => WarcCodec.httpResponseCoded(status, ctype,
                  body, "deflate")
                case _ => WarcCodec.httpResponse(status, ctype, body)
              })
          }
          val archive = WarcCodec.synth(
            ("warcinfo", "", "software: graft\r\n".getBytes("ISO-8859-1"))
              +: ("response", s"$host/robots.txt",
                WarcCodec.httpResponse(200,
                  Seq("Content-Type" -> "text/plain"),
                  robotsTxt.getBytes("ISO-8859-1")))
              +: pageRecs,
            gzipped = id % 2 == 1)
          // ---- the spine proper: nothing below sees the fixtures ----
          val recs = WarcCodec.records(archive)
          val responses = recs.filter(_._1.warcType == "response")
          val (_, robotsBody) = {
            val r = responses.find(_._1.targetUri.endsWith("/robots.txt"))
              .getOrElse(throw new IllegalArgumentException(
                s"doc $id archive has no robots.txt record"))
            val (st, _, b) = WarcCodec.httpParts(r._2)
            require(st == 200, s"doc $id robots fetch status $st")
            (st, b)
          }
          val groups = Robots.parse(
            new String(robotsBody, "ISO-8859-1"))
          val pages = responses.filterNot(
            _._1.targetUri.endsWith("/robots.txt"))
          var nHtml = 0L
          var nAdmitted = 0L
          var admittedChk = 0L
          val titles = new StringBuilder
          pages.zipWithIndex.foreach { case ((rec, payload), k) =>
            val (status, headers, body) = WarcCodec.httpParts(payload)
            val isHtml = headers.get("content-type")
              .exists(_.startsWith("text/html"))
            if (isHtml) nHtml += 1
            val path = rec.targetUri.substring(
              rec.targetUri.indexOf('/', "https://".length))
            if (status == 200 && isHtml &&
                Robots.allowed(groups, "graftbot", path)) {
              nAdmitted += 1
              admittedChk += k + 1
              val items = HtmlCodec.extractItems(
                new String(body, "ISO-8859-1"),
                HtmlCodec.HtmlConfig(
                  itemContainerSelector = Some("html"),
                  fields = Map("title" -> "title::text",
                    "text" -> "p::text")))
              require(items.size == 1 &&
                items.head.getOrElse("text", "") == s"Doc $id page $k",
                s"doc $id page $k extraction drift: $items")
              titles ++= items.head.getOrElse("title", "") + ";"
            }
          }
          (id, recs.length.toLong, pages.length.toLong, nHtml,
            nAdmitted, admittedChk, titles.toString)
        }
        .toDF("doc_id", "n_records", "n_pages", "n_html", "n_admitted",
          "admitted_checksum", "titles")
        .select(col("doc_id"), col("n_records"), col("n_pages"),
          col("n_html"), col("n_admitted"), col("admitted_checksum"),
          md5(col("titles").cast("binary")).as("titles_md5"))
        .orderBy("doc_id")
    }, oracle =
      // admission truth from arithmetic: the fixed graftbot crawl
      // denies paths 2/4/7 (Disallow /private*) and path 3 on odd ids
      // (no Allow /private/pub$ override); a page is fetched when it is
      // 200 (b%10 != 0), HTML (b%3 != 0), and robots-allowed; titles
      // concatenate 'Page id-k;' over admitted pages in record order
      """WITH d AS (
        | SELECT doc_id, text, length(text) AS len
        | FROM documents WHERE length(text) > 0),
        |pg AS (
        | SELECT doc_id, len, text,
        |  unnest(range(1, len + 1)) AS i
        | FROM d),
        |a AS (
        | SELECT doc_id, len, i,
        |  ord(substr(text, CAST(i AS INTEGER), 1)) AS b
        | FROM pg),
        |f AS (
        | SELECT doc_id, len, i, b,
        |  CASE WHEN b % 3 != 0 THEN 1 ELSE 0 END AS html,
        |  CASE WHEN b % 10 != 0 AND b % 3 != 0 AND
        |    NOT (b % 8 IN (2, 4, 7) OR (doc_id % 2 = 1 AND b % 8 = 3))
        |   THEN 1 ELSE 0 END AS adm
        | FROM a)
        |SELECT doc_id,
        | CAST(max(len) + 2 AS BIGINT) AS n_records,
        | CAST(max(len) AS BIGINT) AS n_pages,
        | CAST(sum(html) AS BIGINT) AS n_html,
        | CAST(sum(adm) AS BIGINT) AS n_admitted,
        | CAST(sum(CASE WHEN adm = 1 THEN i ELSE 0 END) AS BIGINT)
        |  AS admitted_checksum,
        | md5(string_agg(CASE WHEN adm = 1 THEN
        |   'Page ' || CAST(doc_id AS VARCHAR) || '-' ||
        |   CAST(i - 1 AS VARCHAR) || ';' ELSE '' END, ''
        |   ORDER BY i)) AS titles_md5
        |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // CRAWL POLITENESS SCHEDULER — the frontier planner between
    // admission (q306) and fetch: per host, URLs are fetched in
    // discovery order but never closer than the host's crawl-delay,
    // so fetch_i = max(discover_i, fetch_{i-1} + d). That recurrence
    // looks sequential — the naive form is a per-host LOOP — but with
    // constant d it rewrites exactly to a prefix max:
    // fetch_i = d·i + cummax_{j≤i}(discover_j − d·j), which is one
    // running-max window per host. Bounded groups (hosts), integer
    // microseconds end-to-end, no UDF, no loop — the difference
    // between a scheduler that survives 100 TB of frontier and one
    // that doesn't. Output: per-host fetch plan rollup (URL count,
    // makespan, total politeness wait, schedule checksum).
    Q("q308_crawl_schedule", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = t(s, dir, "events").select(col("user_id").as("host"),
        unix_micros(col("ts")).as("tus"), col("event_id"))
      val delay = (col("host") % 4 + 1) * lit(1000000L)
      val w = Window.partitionBy("host").orderBy("tus", "event_id")
      val wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val sched = e
        .withColumn("idx", row_number().over(w).cast("long") - 1)
        .withColumn("fetch",
          delay * col("idx") + max(col("tus") - delay * col("idx")).over(wc))
      sched.groupBy("host")
        .agg(count(lit(1)).as("n_urls"),
          min("tus").as("first_seen_us"),
          (max("fetch") - min("tus")).as("makespan_us"),
          sum(col("fetch") - col("tus")).as("total_wait_us"),
          sum(col("fetch") % 1000000007L).as("sched_checksum"))
        .orderBy("host")
    }, oracle =
      // the same prefix-max rewrite replayed in SQL; integer micros so
      // both engines agree bit-for-bit
      """WITH e AS (
        | SELECT user_id AS host, epoch_us(ts) AS tus, event_id,
        |  (user_id % 4 + 1) * 1000000 AS d
        | FROM events),
        |s AS (
        | SELECT host, tus, d,
        |  row_number() OVER (PARTITION BY host
        |    ORDER BY tus, event_id) - 1 AS idx
        | FROM e),
        |f AS (
        | SELECT host, tus,
        |  d * idx + max(tus - d * idx) OVER (PARTITION BY host
        |    ORDER BY idx ROWS BETWEEN UNBOUNDED PRECEDING AND
        |    CURRENT ROW) AS ft
        | FROM s)
        |SELECT host, CAST(count(*) AS BIGINT) AS n_urls,
        | CAST(min(tus) AS BIGINT) AS first_seen_us,
        | CAST(max(ft) - min(tus) AS BIGINT) AS makespan_us,
        | CAST(sum(ft - tus) AS BIGINT) AS total_wait_us,
        | CAST(sum(ft % 1000000007) AS BIGINT) AS sched_checksum
        |FROM f GROUP BY host ORDER BY host""".stripMargin),

    // ROBOTS-FED POLITENESS SCHEDULER (r14 verdict #3): q308's
    // prefix-max rewrite with the per-host delay PARSED from each
    // host's robots.txt instead of a synthetic knob — the directive
    // Robots.parse already sees is the "constant per-host d" the
    // rewrite requires. Per host the policy is planted by arithmetic:
    // host%7==0 declares no Crawl-delay (default 1 s), host%5==0
    // declares one only in the `*` group while graftbot has its OWN
    // delay-less group (so the fallback must NOT fire — this breaks
    // if group selection degrades to line scraping), everyone else
    // declares host%4+1 s for graftbot with a decoy 9 s in the `*`
    // group. The distinct-host policy table is tiny → broadcast back
    // onto events; window + groupBy on host share ONE exchange.
    Q("q317_crawl_schedule_robots", (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val delays = t(s, dir, "events")
        .select(col("user_id").as("host")).distinct()
        .as[Long]
        .map { host =>
          import graft.ingest.Robots
          val declared = host % 4 + 1
          val robotsTxt =
            if (host % 7 == 0)
              "User-Agent: graftbot\r\nDisallow: /private*\r\n"
            else if (host % 5 == 0)
              "User-Agent: graftbot\r\nDisallow: /private*\r\n\r\n" +
                s"User-agent: *\r\nCrawl-delay: $declared\r\n" +
                "Disallow: /\r\n"
            else
              s"User-Agent: graftbot\r\nCrawl-delay: $declared\r\n" +
                "Disallow: /private*\r\n\r\n" +
                "User-agent: *\r\nCrawl-delay: 9\r\nDisallow: /\r\n"
          // ---- fixtures end: the policy feed proper ----
          val groups = Robots.parse(robotsTxt)
          val d = Robots.crawlDelay(groups, "graftbot").getOrElse(1.0)
          (host, math.round(d * 1000000))
        }
        .toDF("host", "delay_us")
      val e = t(s, dir, "events").select(col("user_id").as("host"),
        unix_micros(col("ts")).as("tus"), col("event_id"))
      val w = Window.partitionBy("host").orderBy("tus", "event_id")
      val wc = w.rowsBetween(Window.unboundedPreceding,
        Window.currentRow)
      val sched = e.join(broadcast(delays), Seq("host"))
        .withColumn("idx", row_number().over(w).cast("long") - 1)
        .withColumn("fetch", col("delay_us") * col("idx") +
          max(col("tus") - col("delay_us") * col("idx")).over(wc))
      sched.groupBy("host")
        .agg(max("delay_us").as("delay_us"),
          count(lit(1)).as("n_urls"),
          (max("fetch") - min("tus")).as("makespan_us"),
          sum(col("fetch") - col("tus")).as("total_wait_us"),
          sum(col("fetch") % 1000000007L).as("sched_checksum"))
        .orderBy("host")
    }, oracle =
      // q308's rewrite with the delay replayed from the planted robots
      // truth: no-delay hosts (…%7=0) and *-group-only hosts (…%5=0)
      // fall back to 1 s; everyone else gets their graftbot-group
      // host%4+1 (the 9 s `*` decoy must never win)
      """WITH e AS (
        | SELECT user_id AS host, epoch_us(ts) AS tus, event_id,
        |  CASE WHEN user_id % 7 = 0 OR user_id % 5 = 0 THEN 1000000
        |   ELSE (user_id % 4 + 1) * 1000000 END AS d
        | FROM events),
        |s AS (
        | SELECT host, tus, d,
        |  row_number() OVER (PARTITION BY host
        |    ORDER BY tus, event_id) - 1 AS idx
        | FROM e),
        |f AS (
        | SELECT host, tus, d,
        |  d * idx + max(tus - d * idx) OVER (PARTITION BY host
        |    ORDER BY idx ROWS BETWEEN UNBOUNDED PRECEDING AND
        |    CURRENT ROW) AS ft
        | FROM s)
        |SELECT host, CAST(max(d) AS BIGINT) AS delay_us,
        | CAST(count(*) AS BIGINT) AS n_urls,
        | CAST(max(ft) - min(tus) AS BIGINT) AS makespan_us,
        | CAST(sum(ft - tus) AS BIGINT) AS total_wait_us,
        | CAST(sum(ft % 1000000007) AS BIGINT) AS sched_checksum
        |FROM f GROUP BY host ORDER BY host""".stripMargin),

    // SITEMAP-SEEDED FRONTIER (the discovery half q306's fetch half
    // assumes): a real sitemaps.org urlset XML per doc — one <url>
    // per text char with <loc>/<priority> — parsed by the generic
    // HtmlCodec element machinery, then every loc gated through the
    // SAME robots policy the q306 spine fetches (RFC 9309, graftbot
    // group, even-id Allow override). The seed report is what a
    // crawler enqueues: per-doc URL counts, admitted counts, DISTINCT
    // admitted paths (the dedup a frontier does before scheduling),
    // and the admitted priority mass. All gates replay from
    // arithmetic.
    Q("q315_sitemap_seeds", (s, dir) => {
      import s.implicits._
      docText(s, dir, length(col("text")) > 0)
        .map { case (id, text) =>
          import graft.ingest.{HtmlCodec, Robots}
          val src = text.getBytes("ISO-8859-1")
          val host = s"https://site$id.example"
          val paths = Array("/", "/public/page", "/private",
            "/private/pub", "/privateer", "/tmp/x", "/pub",
            "/private/pub/deep")
          val xml = ("<?xml version=\"1.0\" encoding=\"UTF-8\"?>" +
            "<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">" +
            src.toSeq.map { b =>
              val v = b & 0xff
              s"<url><loc>$host${paths(v % 8)}</loc>" +
                s"<priority>0.${v % 10}</priority></url>"
            }.mkString + "</urlset>")
          val robotsTxt =
            "User-Agent: graftbot\r\n" +
            "Disallow: /private*\r\n" +
            (if (id % 2 == 0) "Allow: /private/pub$\r\n" else "") +
            "\r\nUser-agent: *\r\nDisallow: /\r\n"
          // ---- the frontier proper: fixtures end here ----
          val urls = HtmlCodec.extractItems(xml,
            HtmlCodec.HtmlConfig(
              itemContainerSelector = Some("urlset > url"),
              fields = Map("loc" -> "loc::text",
                "pri" -> "priority::text")))
          require(urls.length == src.length,
            s"doc $id sitemap parse drift: ${urls.length}")
          val groups = Robots.parse(robotsTxt)
          val admitted = urls.flatMap { u =>
            val loc = u.getOrElse("loc", "")
            val path = loc.substring(loc.indexOf('/', "https://".length))
            if (Robots.allowed(groups, "graftbot", path))
              Some((path, u.getOrElse("pri", "0.0")))
            else None
          }
          val priDeci = admitted.map { case (_, p) =>
            require(p.length == 3 && p.startsWith("0."), s"bad pri $p")
            (p.charAt(2) - '0').toLong
          }.sum
          (id, urls.length.toLong, admitted.length.toLong,
            admitted.map(_._1).distinct.length.toLong, priDeci)
        }
        .toDF("doc_id", "n_urls", "n_admitted", "n_distinct_paths",
          "pri_deci_sum")
        .orderBy("doc_id")
    }, oracle =
      // same admission truth table as q306 (graftbot: paths 2/4/7
      // denied, 3 denied on odd ids); distinct admitted paths count
      // path CLASSES (b%8), priority mass sums b%10 over admitted
      """WITH d AS (
        | SELECT doc_id, text, length(text) AS len
        | FROM documents WHERE length(text) > 0),
        |pg AS (
        | SELECT doc_id, len, unnest(range(1, len + 1)) AS i, text
        | FROM d),
        |a AS (
        | SELECT doc_id, len, i,
        |  ord(substr(text, CAST(i AS INTEGER), 1)) AS b
        | FROM pg),
        |f AS (
        | SELECT doc_id, len, i, b,
        |  CASE WHEN NOT (b % 8 IN (2, 4, 7) OR
        |    (doc_id % 2 = 1 AND b % 8 = 3)) THEN 1 ELSE 0 END AS adm
        | FROM a)
        |SELECT doc_id,
        | CAST(max(len) AS BIGINT) AS n_urls,
        | CAST(sum(adm) AS BIGINT) AS n_admitted,
        | CAST(count(DISTINCT CASE WHEN adm = 1 THEN b % 8 END)
        |  AS BIGINT) AS n_distinct_paths,
        | CAST(sum(CASE WHEN adm = 1 THEN b % 10 ELSE 0 END) AS BIGINT)
        |  AS pri_deci_sum
        |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // SITEMAP INDEX DISCOVERY (r14 verdict #2): real discovery starts
    // at a <sitemapindex> of .xml.gz members, not a flat urlset —
    // q315's composition gap. Per doc: chars shard round-robin onto
    // m = 1+id%3 GZIPPED child urlsets behind a root index; id%5==0
    // docs interpose a SECOND index level (depth 3 proves the
    // recursion recurses). Sitemap.expand walks it depth-bounded and
    // cycle-loud, inflating each gz member; skipping the inflate
    // hands HtmlCodec gzip bytes and the count require refuses, and
    // a walk that stops at one level loses every URL of the nested
    // class. Admission replays q315's robots gates so the frontier
    // halves stay one truth table.
    Q("q318_sitemap_index", (s, dir) => {
      import s.implicits._
      docText(s, dir, length(col("text")) > 0)
        .map { case (id, text) =>
          import graft.ingest.{Robots, Sitemap}
          val src = text.getBytes("ISO-8859-1")
          val host = s"https://site$id.example"
          val paths = Array("/", "/public/page", "/private",
            "/private/pub", "/privateer", "/tmp/x", "/pub",
            "/private/pub/deep")
          val m = (1 + id % 3).toInt
          def urlset(part: Int): String =
            "<?xml version=\"1.0\" encoding=\"UTF-8\"?>" +
              "<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">" +
              src.indices.filter(_ % m == part).map { k =>
                val v = src(k) & 0xff
                s"<url><loc>$host${paths(v % 8)}</loc>" +
                  s"<priority>0.${v % 10}</priority></url>"
              }.mkString + "</urlset>"
          def gz(sxml: String): Array[Byte] =
            graft.multimodal.Zlib.gzip(sxml.getBytes("UTF-8"),
              java.util.zip.Deflater.BEST_SPEED)
          val children = (0 until m).map { p =>
            s"$host/sitemaps/part$p.xml.gz" -> gz(urlset(p))
          }.toMap
          def index(locs: Seq[String]): Array[Byte] =
            ("<?xml version=\"1.0\" encoding=\"UTF-8\"?>" +
              "<sitemapindex xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">" +
              locs.map(l => s"<sitemap><loc>$l</loc></sitemap>")
                .mkString + "</sitemapindex>").getBytes("UTF-8")
          val rootUrl = s"$host/sitemap_index.xml"
          val nested = id % 5 == 0
          val fetched: Map[String, Array[Byte]] =
            if (nested)
              children +
                (s"$host/sitemaps/mid.xml" ->
                  index(children.keys.toSeq.sorted)) +
                (rootUrl -> index(Seq(s"$host/sitemaps/mid.xml")))
            else children + (rootUrl -> index(children.keys.toSeq.sorted))
          val robotsTxt =
            "User-Agent: graftbot\r\n" +
            "Disallow: /private*\r\n" +
            (if (id % 2 == 0) "Allow: /private/pub$\r\n" else "") +
            "\r\nUser-agent: *\r\nDisallow: /\r\n"
          // ---- the frontier proper: fixtures end here ----
          var nFetched = 0L
          val urls = Sitemap.expand(u => {
            nFetched += 1
            fetched.getOrElse(u,
              throw new IllegalArgumentException(s"404 $u"))
          }, rootUrl)
          require(urls.length == src.length,
            s"doc $id discovery drift: ${urls.length} of ${src.length}")
          val groups = Robots.parse(robotsTxt)
          val admitted = urls.flatMap { u =>
            val loc = u.getOrElse("loc", "")
            val path = loc.substring(loc.indexOf('/', "https://".length))
            if (Robots.allowed(groups, "graftbot", path))
              Some(u.getOrElse("pri", "0.0"))
            else None
          }
          val priDeci = admitted.map { p =>
            require(p.length == 3 && p.startsWith("0."), s"bad pri $p")
            (p.charAt(2) - '0').toLong
          }.sum
          (id, nFetched, urls.length.toLong, admitted.length.toLong,
            priDeci)
        }
        .toDF("doc_id", "n_fetched", "n_urls", "n_admitted",
          "pri_deci_sum")
        .orderBy("doc_id")
    }, oracle =
      // q315's admission truth over the index-discovered corpus: the
      // round-robin shard split never changes the totals, so only the
      // fetch count is new — 1 root + (nested mid on id%5=0) + 1+id%3
      // gzipped children
      """WITH d AS (
        | SELECT doc_id, text, length(text) AS len
        | FROM documents WHERE length(text) > 0),
        |pg AS (
        | SELECT doc_id, len, unnest(range(1, len + 1)) AS i, text
        | FROM d),
        |a AS (
        | SELECT doc_id, len, i,
        |  ord(substr(text, CAST(i AS INTEGER), 1)) AS b
        | FROM pg),
        |f AS (
        | SELECT doc_id, len, i, b,
        |  CASE WHEN NOT (b % 8 IN (2, 4, 7) OR
        |    (doc_id % 2 = 1 AND b % 8 = 3)) THEN 1 ELSE 0 END AS adm
        | FROM a)
        |SELECT doc_id,
        | CAST(1 + (CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END)
        |   + 1 + doc_id % 3 AS BIGINT) AS n_fetched,
        | CAST(max(len) AS BIGINT) AS n_urls,
        | CAST(sum(adm) AS BIGINT) AS n_admitted,
        | CAST(sum(CASE WHEN adm = 1 THEN b % 10 ELSE 0 END) AS BIGINT)
        |  AS pri_deci_sum
        |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // DISCOVERY FROM robots.txt (the true crawl entry point): the
    // protocol's own `Sitemap:` directives — global, not group-scoped
    // — seed the frontier, composing q300's admission, q318's index
    // walk, and the sitemaps.org vocabulary end-to-end: robots names
    // the sitemaps, Sitemap.expand walks them (gz members included),
    // and every discovered loc gates back through the SAME robots
    // text. Even ids declare ONE directive at a sitemapindex of
    // m = 1+id%3 gzipped children (round-robin shard); odd ids
    // declare TWO directives, each a flat gz urlset splitting chars
    // by parity — so both the one-root-index and the many-directives
    // shapes are under the hash. A line scan that group-scopes the
    // directive loses the odd-id second directive planted INSIDE the
    // `*` group.
    Q("q320_robots_sitemap_discovery", (s, dir) => {
      import s.implicits._
      docText(s, dir, length(col("text")) > 0)
        .map { case (id, text) =>
          import graft.ingest.{Robots, Sitemap}
          val src = text.getBytes("ISO-8859-1")
          val host = s"https://site$id.example"
          val paths = Array("/", "/public/page", "/private",
            "/private/pub", "/privateer", "/tmp/x", "/pub",
            "/private/pub/deep")
          def urlsetOf(ks: Seq[Int]): String =
            "<?xml version=\"1.0\" encoding=\"UTF-8\"?>" +
              "<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">" +
              ks.map { k =>
                val v = src(k) & 0xff
                s"<url><loc>$host${paths(v % 8)}</loc>" +
                  s"<priority>0.${v % 10}</priority></url>"
              }.mkString + "</urlset>"
          def gz(sxml: String): Array[Byte] =
            graft.multimodal.Zlib.gzip(sxml.getBytes("UTF-8"),
              java.util.zip.Deflater.BEST_SPEED)
          val even = id % 2 == 0
          val m = (1 + id % 3).toInt
          val fetched: Map[String, Array[Byte]] =
            if (even) {
              val children = (0 until m).map { p =>
                s"$host/sitemaps/part$p.xml.gz" ->
                  gz(urlsetOf(src.indices.filter(_ % m == p)))
              }.toMap
              children + (s"$host/sitemap_index.xml" ->
                ("<?xml version=\"1.0\"?><sitemapindex>" +
                  children.keys.toSeq.sorted.map(l =>
                    s"<sitemap><loc>$l</loc></sitemap>").mkString +
                  "</sitemapindex>").getBytes("UTF-8"))
            } else Map(
              s"$host/sm_even.xml.gz" ->
                gz(urlsetOf(src.indices.filter(_ % 2 == 0))),
              s"$host/sm_odd.xml.gz" ->
                gz(urlsetOf(src.indices.filter(_ % 2 == 1))))
          val robotsTxt =
            "User-Agent: graftbot\r\n" +
            "Disallow: /private*\r\n" +
            (if (even) "Allow: /private/pub$\r\n" else "") +
            (if (even) s"Sitemap: $host/sitemap_index.xml\r\n" else
              s"Sitemap: $host/sm_even.xml.gz\r\n") +
            "\r\nUser-agent: *\r\nDisallow: /\r\n" +
            (if (!even) s"Sitemap: $host/sm_odd.xml.gz\r\n" else "")
          // ---- the discovery proper: fixtures end here ----
          val roots = Robots.sitemaps(robotsTxt)
          var nFetched = 0L
          val urls = roots.flatMap(Sitemap.expand(u => {
            nFetched += 1
            fetched.getOrElse(u,
              throw new IllegalArgumentException(s"404 $u"))
          }, _))
          require(urls.length == src.length,
            s"doc $id discovery drift: ${urls.length} of ${src.length}")
          val groups = Robots.parse(robotsTxt)
          val admitted = urls.flatMap { u =>
            val loc = u.getOrElse("loc", "")
            val path = loc.substring(loc.indexOf('/', "https://".length))
            if (Robots.allowed(groups, "graftbot", path))
              Some(u.getOrElse("pri", "0.0"))
            else None
          }
          val priDeci = admitted.map { p =>
            require(p.length == 3 && p.startsWith("0."), s"bad pri $p")
            (p.charAt(2) - '0').toLong
          }.sum
          (id, roots.length.toLong, nFetched, urls.length.toLong,
            admitted.length.toLong, priDeci)
        }
        .toDF("doc_id", "n_directives", "n_fetched", "n_urls",
          "n_admitted", "pri_deci_sum")
        .orderBy("doc_id")
    }, oracle =
      // the q315 admission truth reached FROM the robots file's own
      // Sitemap: directives; only the directive/fetch counts are new —
      // even ids: one directive, an index + 1+id%3 children; odd ids:
      // two directives, one gz urlset each
      """WITH d AS (
        | SELECT doc_id, text, length(text) AS len
        | FROM documents WHERE length(text) > 0),
        |pg AS (
        | SELECT doc_id, len, unnest(range(1, len + 1)) AS i, text
        | FROM d),
        |a AS (
        | SELECT doc_id, len, i,
        |  ord(substr(text, CAST(i AS INTEGER), 1)) AS b
        | FROM pg),
        |f AS (
        | SELECT doc_id, len, i, b,
        |  CASE WHEN NOT (b % 8 IN (2, 4, 7) OR
        |    (doc_id % 2 = 1 AND b % 8 = 3)) THEN 1 ELSE 0 END AS adm
        | FROM a)
        |SELECT doc_id,
        | CAST(1 + doc_id % 2 AS BIGINT) AS n_directives,
        | CAST(CASE WHEN doc_id % 2 = 0 THEN 2 + doc_id % 3
        |   ELSE 2 END AS BIGINT) AS n_fetched,
        | CAST(max(len) AS BIGINT) AS n_urls,
        | CAST(sum(adm) AS BIGINT) AS n_admitted,
        | CAST(sum(CASE WHEN adm = 1 THEN b % 10 ELSE 0 END) AS BIGINT)
        |  AS pri_deci_sum
        |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // IN-PAGE INDEXING DIRECTIVES (the gate AFTER robots.txt): a
    // page the crawl admits can still refuse the index from inside —
    // <meta name=robots content=noindex> — and declare its dedup
    // identity via <link rel=canonical>. Per char: v%11 picks the
    // meta directive (0 noindex, 1 nofollow, else index,follow) and
    // (v//8)%8 the canonical target class; the indexer keeps pages
    // that are robots-ADMITTED and not noindexed, counts the distinct
    // canonical targets it would collapse to, and the checksum
    // position-weights each indexed page's canonical class. The meta
    // walk runs on REAL parsed HTML attributes (void tags, attribute
    // maps) — a parser that drops <meta>/<link> in <head> or
    // case-folds wrong breaks the hash.
    Q("q323_meta_robots_canonical", (s, dir) => {
      import s.implicits._
      docText(s, dir, length(col("text")) > 0)
        .mapPartitions { rows =>
          import graft.ingest.{HtmlCodec, Robots}
          val paths = Array("/", "/public/page", "/private",
            "/private/pub", "/privateer", "/tmp/x", "/pub",
            "/private/pub/deep")
          // The indexer's verdict on one page is a pure function of its
          // byte value v: the meta directive is v%11, the canonical class
          // (v/8)%8, and the title/host — the only parts of the page that
          // vary with (id, k) — are never consumed. Memoize the PARSED
          // verdict per byte value (the real HtmlCodec walk still runs,
          // once per distinct value per task, on a genuinely built page),
          // instead of re-parsing ~300 identical-modulo-title pages per
          // document. (noindex, nofollow, canonClass) per v.
          val metaMemo = new Array[(Boolean, Boolean, Int)](256)
          def metaOf(v: Int, id: Long, k: Int): (Boolean, Boolean, Int) = {
            val hit = metaMemo(v)
            if (hit != null) hit else {
              val host = s"https://site$id.example"
              val directive =
                if (v % 11 == 0) "noindex, follow"
                else if (v % 11 == 1) "index, nofollow"
                else "index, follow"
              val canonClass = (v / 8) % 8
              val html =
                s"""<html><head><title>P $id-$k</title>
                   |<META Name="ROBOTS" Content="$directive">
                   |<link rel="canonical" href="$host${paths(canonClass)}">
                   |</head><body><p>page $k</p></body></html>""".stripMargin
              // ---- the indexer proper: fixtures end above ----
              val root = HtmlCodec.parse(html)
              val tokens = HtmlCodec.select(root, "meta")
                .filter(_.el.attrs.get("name")
                  .exists(_.equalsIgnoreCase("robots")))
                .flatMap(_.el.attrs.get("content"))
                .flatMap(_.toLowerCase.split(",").map(_.trim))
                .toSet
              val canon = HtmlCodec.select(root, "link")
                .filter(_.el.attrs.get("rel")
                  .exists(_.equalsIgnoreCase("canonical")))
                .flatMap(_.el.attrs.get("href"))
                .headOption.getOrElse(
                  throw new IllegalArgumentException(s"no canonical $id-$k"))
              val cPath = canon.substring(
                canon.indexOf('/', "https://".length))
              val c = paths.indexOf(cPath)
              require(c >= 0, s"unknown canonical $canon")
              val r = (tokens("noindex"), tokens("nofollow"), c)
              metaMemo(v) = r
              r
            }
          }
          // robots admission depends on (id parity, v%8) only: the RFC
          // matcher runs once per (parity, path) instead of per byte
          val admitMemo = new Array[Array[Boolean]](2)
          def admitOf(id: Long): Array[Boolean] = {
            val p = (id % 2).toInt
            val hit = admitMemo(p)
            if (hit != null) hit else {
              val robotsTxt =
                "User-Agent: graftbot\r\n" +
                "Disallow: /private*\r\n" +
                (if (id % 2 == 0) "Allow: /private/pub$\r\n" else "") +
                "\r\nUser-agent: *\r\nDisallow: /\r\n"
              val groups = Robots.parse(robotsTxt)
              val r = Array.tabulate(8)(i =>
                Robots.allowed(groups, "graftbot", paths(i)))
              admitMemo(p) = r
              r
            }
          }
          rows.map { case (id, text) =>
            val src = text.getBytes("ISO-8859-1")
            val admitted = admitOf(id)
            var nAdmitted = 0L; var nNoindex = 0L; var nNofollow = 0L
            var nIndexed = 0L; var canonChk = 0L
            var canonBits = 0
            var k = 0
            while (k < src.length) {
              val v = src(k) & 0xff
              val (noindex, nofollow, c) = metaOf(v, id, k)
              if (admitted(v % 8)) {
                nAdmitted += 1
                if (noindex) nNoindex += 1
                if (nofollow) nNofollow += 1
                if (!noindex) {
                  nIndexed += 1
                  canonBits |= 1 << c
                  canonChk += (k + 1).toLong * c
                }
              }
              k += 1
            }
            (id, src.length.toLong, nAdmitted, nNoindex, nNofollow,
              nIndexed, java.lang.Integer.bitCount(canonBits).toLong,
              canonChk)
          }
        }
        .toDF("doc_id", "n_pages", "n_admitted", "n_noindexed",
          "n_nofollow", "n_indexed", "n_canonical_targets", "canon_chk")
        .orderBy("doc_id")
    }, oracle =
      // index-gate truth from arithmetic: admitted as q315; noindex =
      // b%11=0, nofollow = b%11=1; canonical class = (b//8)%8 (exact
      // integer division both engines)
      """WITH d AS (
        | SELECT doc_id, text, length(text) AS len
        | FROM documents WHERE length(text) > 0),
        |pg AS (
        | SELECT doc_id, len, unnest(range(1, len + 1)) AS i, text
        | FROM d),
        |a AS (
        | SELECT doc_id, len, i,
        |  ord(substr(text, CAST(i AS INTEGER), 1)) AS b
        | FROM pg),
        |f AS (
        | SELECT doc_id, len, i, b, (b // 8) % 8 AS c,
        |  CASE WHEN NOT (b % 8 IN (2, 4, 7) OR
        |    (doc_id % 2 = 1 AND b % 8 = 3)) THEN 1 ELSE 0 END AS adm
        | FROM a)
        |SELECT doc_id,
        | CAST(max(len) AS BIGINT) AS n_pages,
        | CAST(sum(adm) AS BIGINT) AS n_admitted,
        | CAST(sum(CASE WHEN adm = 1 AND b % 11 = 0 THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n_noindexed,
        | CAST(sum(CASE WHEN adm = 1 AND b % 11 = 1 THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n_nofollow,
        | CAST(sum(CASE WHEN adm = 1 AND b % 11 != 0 THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n_indexed,
        | CAST(count(DISTINCT CASE WHEN adm = 1 AND b % 11 != 0
        |   THEN c END) AS BIGINT) AS n_canonical_targets,
        | CAST(sum(CASE WHEN adm = 1 AND b % 11 != 0 THEN i * c
        |   ELSE 0 END) AS BIGINT) AS canon_chk
        |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // WARC REVISIT RESOLUTION (ISO 28500 §6.7.2 — Common Crawl's
    // archive-level dedup): a re-fetch whose payload matches an
    // earlier capture is stored as a `revisit` record carrying only
    // WARC-Payload-Digest + WARC-Refers-To-Target-URI; the bytes live
    // once. Per doc: each char's page body derives from its BYTE
    // VALUE alone, so repeated bytes are true duplicate fetches — the
    // first occurrence lands as a response (digest header included,
    // REVERIFIED against the recomputed sha1/base32 on read), later
    // ones as revisits. The spine builds the digest store from
    // responses and resolves every revisit against it — loud on a
    // dangling digest or a refers-to mismatch — and reports the
    // dedup ledger (stored vs saved bytes) the archive achieves.
    Q("q322_warc_revisit", (s, dir) => {
      import s.implicits._
      docText(s, dir, length(col("text")) > 0)
        .map { case (id, text) =>
          import graft.multimodal.WarcCodec
          val src = text.getBytes("ISO-8859-1")
          val host = s"https://site$id.example"
          val firstUri = scala.collection.mutable.Map.empty[Int, String]
          val pageRecs = src.toSeq.zipWithIndex.map { case (b, k) =>
            val v = b & 0xff
            val body = Array.tabulate[Byte](v % 16 + 4)(i =>
              ((i * 31 + v) % 251).toByte)
            val uri = s"$host/p$k"
            val digest = WarcCodec.payloadDigest(body)
            firstUri.get(v) match {
              case None =>
                firstUri(v) = uri
                (("response"), uri,
                  WarcCodec.httpResponse(200,
                    Seq("Content-Type" -> "application/octet-stream"),
                    body),
                  Seq("WARC-Payload-Digest" -> digest))
              case Some(orig) =>
                (("revisit"), uri, Array.empty[Byte],
                  Seq("WARC-Payload-Digest" -> digest,
                    "WARC-Refers-To-Target-URI" -> orig))
            }
          }
          val archive = WarcCodec.synthWithHeaders(pageRecs,
            gzipped = id % 2 == 1)
          // ---- the dedup spine proper: fixtures end here ----
          val recs = WarcCodec.records(archive)
          val store = scala.collection.mutable.Map
            .empty[String, (String, Long)]
          var nResp = 0L; var stored = 0L
          recs.foreach { case (rec, payload) =>
            if (rec.warcType == "response") {
              val (st, _, body) = WarcCodec.httpParts(payload)
              require(st == 200, s"doc $id status $st")
              val computed = WarcCodec.payloadDigest(body)
              require(rec.payloadDigest == computed,
                s"doc $id ${rec.targetUri}: stored digest " +
                  s"${rec.payloadDigest} != recomputed $computed")
              require(!store.contains(computed),
                s"doc $id duplicate response for digest $computed")
              store(computed) = (rec.targetUri, body.length.toLong)
              nResp += 1; stored += body.length
            }
          }
          var nRev = 0L; var saved = 0L; var chk = 0L
          recs.zipWithIndex.foreach { case ((rec, _), k0) =>
            if (rec.warcType == "revisit") {
              val (origUri, blen) = store.getOrElse(rec.payloadDigest,
                throw new IllegalArgumentException(
                  s"doc $id dangling revisit digest ${rec.payloadDigest}"))
              require(rec.refersToUri == origUri,
                s"doc $id revisit refers to ${rec.refersToUri}, " +
                  s"store says $origUri")
              nRev += 1; saved += blen
              chk += (k0 + 1) * blen
            }
          }
          (id, nResp, nRev, stored, saved, chk)
        }
        .toDF("doc_id", "n_responses", "n_revisits", "stored_bytes",
          "saved_bytes", "revisit_chk")
        .orderBy("doc_id")
    }, oracle =
      // dedup ledger from arithmetic: body length = b%16+4 derives from
      // the byte value alone, so occurrence rank per (doc, byte) splits
      // response (rn=1) from revisit (rn>1); the checksum weights each
      // revisit by its 1-based record position
      """WITH d AS (
        | SELECT doc_id, text, length(text) AS len
        | FROM documents WHERE length(text) > 0),
        |pg AS (
        | SELECT doc_id, len, unnest(range(1, len + 1)) AS i, text
        | FROM d),
        |a AS (
        | SELECT doc_id, len, i,
        |  ord(substr(text, CAST(i AS INTEGER), 1)) AS b
        | FROM pg),
        |r AS (
        | SELECT doc_id, i, b, b % 16 + 4 AS blen,
        |  row_number() OVER (PARTITION BY doc_id, b ORDER BY i) AS rn
        | FROM a)
        |SELECT doc_id,
        | CAST(count(CASE WHEN rn = 1 THEN 1 END) AS BIGINT)
        |   AS n_responses,
        | CAST(count(CASE WHEN rn > 1 THEN 1 END) AS BIGINT)
        |   AS n_revisits,
        | CAST(sum(CASE WHEN rn = 1 THEN blen ELSE 0 END) AS BIGINT)
        |   AS stored_bytes,
        | CAST(sum(CASE WHEN rn > 1 THEN blen ELSE 0 END) AS BIGINT)
        |   AS saved_bytes,
        | CAST(sum(CASE WHEN rn > 1 THEN i * blen ELSE 0 END) AS BIGINT)
        |   AS revisit_chk
        |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // INCREMENTAL RECRAWL from sitemap <lastmod> (the delta frontier
    // a production crawler computes instead of refetching the world):
    // every url carries a W3C-datetime lastmod day planted from its
    // byte; the crawler holds a per-site last-crawl cutoff planted
    // from the id; the recrawl set is the admitted urls STRICTLY
    // newer than the cutoff. Freshness math runs on the PARSED date
    // (a string compare on the raw value would pass these fixtures —
    // the parse require pins real ISO handling), and the checksum
    // weights each recrawled url by its day-of-month so an off-by-one
    // in either the date parse or the strict inequality breaks the
    // hash.
    Q("q321_recrawl_delta", (s, dir) => {
      import s.implicits._
      docText(s, dir, length(col("text")) > 0)
        .map { case (id, text) =>
          import graft.ingest.{Robots, Sitemap}
          val src = text.getBytes("ISO-8859-1")
          val host = s"https://site$id.example"
          val paths = Array("/", "/public/page", "/private",
            "/private/pub", "/privateer", "/tmp/x", "/pub",
            "/private/pub/deep")
          val xml = ("<?xml version=\"1.0\" encoding=\"UTF-8\"?>" +
            "<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">" +
            src.toSeq.map { b =>
              val v = b & 0xff
              f"<url><loc>$host${paths(v % 8)}</loc>" +
                f"<lastmod>2026-07-${v % 28 + 1}%02d</lastmod>" +
                s"<priority>0.${v % 10}</priority></url>"
            }.mkString + "</urlset>")
          val robotsTxt =
            "User-Agent: graftbot\r\n" +
            "Disallow: /private*\r\n" +
            (if (id % 2 == 0) "Allow: /private/pub$\r\n" else "") +
            "\r\nUser-agent: *\r\nDisallow: /\r\n"
          // ---- the delta frontier proper: fixtures end here ----
          val urls = Sitemap.expand(
            _ => xml.getBytes("UTF-8"), s"$host/sitemap.xml")
          require(urls.length == src.length,
            s"doc $id discovery drift: ${urls.length}")
          val groups = Robots.parse(robotsTxt)
          val cutoff = java.time.LocalDate.of(2026, 7, (id % 28 + 1).toInt)
          var nAdmitted = 0L
          var nRecrawl = 0L
          var daySum = 0L
          urls.foreach { u =>
            val loc = u.getOrElse("loc", "")
            val path = loc.substring(loc.indexOf('/', "https://".length))
            if (Robots.allowed(groups, "graftbot", path)) {
              nAdmitted += 1
              val lm = java.time.LocalDate.parse(u.getOrElse("lastmod",
                throw new IllegalArgumentException(s"no lastmod in $loc")))
              require(lm.getYear == 2026 && lm.getMonthValue == 7,
                s"doc $id lastmod drifted to $lm")
              if (lm.isAfter(cutoff)) {
                nRecrawl += 1
                daySum += lm.getDayOfMonth
              }
            }
          }
          (id, (id % 28 + 1), urls.length.toLong, nAdmitted, nRecrawl,
            daySum)
        }
        .toDF("doc_id", "cutoff_day", "n_urls", "n_admitted",
          "n_recrawl", "recrawl_day_sum")
        .orderBy("doc_id")
    }, oracle =
      // freshness truth from arithmetic: lastmod day = b%28+1, cutoff
      // day = doc_id%28+1, recrawl = admitted AND day > cutoff (strict)
      """WITH d AS (
        | SELECT doc_id, text, length(text) AS len
        | FROM documents WHERE length(text) > 0),
        |pg AS (
        | SELECT doc_id, len, unnest(range(1, len + 1)) AS i, text
        | FROM d),
        |a AS (
        | SELECT doc_id, len, i,
        |  ord(substr(text, CAST(i AS INTEGER), 1)) AS b
        | FROM pg),
        |f AS (
        | SELECT doc_id, len, b % 28 + 1 AS day,
        |  CASE WHEN NOT (b % 8 IN (2, 4, 7) OR
        |    (doc_id % 2 = 1 AND b % 8 = 3)) THEN 1 ELSE 0 END AS adm
        | FROM a)
        |SELECT doc_id,
        | CAST(doc_id % 28 + 1 AS BIGINT) AS cutoff_day,
        | CAST(max(len) AS BIGINT) AS n_urls,
        | CAST(sum(adm) AS BIGINT) AS n_admitted,
        | CAST(sum(CASE WHEN adm = 1 AND day > doc_id % 28 + 1
        |   THEN 1 ELSE 0 END) AS BIGINT) AS n_recrawl,
        | CAST(sum(CASE WHEN adm = 1 AND day > doc_id % 28 + 1
        |   THEN day ELSE 0 END) AS BIGINT) AS recrawl_day_sum
        |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // URL canonicalization as a codegen expression: four deterministic
    // dirt classes (scheme/host case, default ports, duplicate and ./
    // path segments, tracking params, unsorted query, fragments) are
    // synthesized from doc_id and must collapse to the documented
    // canonical form. The oracle reconstructs every canonical string
    // directly — any rule drift (a missed port, an unsorted param, a
    // surviving fragment) breaks the hash. One narrow projection, no
    // shuffle: at 100 TB this runs inside the scan.
    Q("q204_url_canonical", (s, dir) => {
      import graft.functions.UrlCanon.{canonicalizeUrl, urlHost}
      val k = col("doc_id") % 5
      val url = when(col("doc_id") % 4 === 0,
          concat(lit("HTTPS://WWW.Example"), k,
            lit(".COM:443/Events//"), col("doc_id"),
            lit("/./x?utm_source=feed&b=2&a=1#sec")))
        .when(col("doc_id") % 4 === 1,
          concat(lit("http://Site"), k, lit(".org:80/a//b/./c")))
        .when(col("doc_id") % 4 === 2,
          concat(lit("example"), k, lit(".com/p?id="), col("doc_id"),
            lit("&gclid=zz&ref=home")))
        .otherwise(
          concat(lit("https://cdn.example"), k, lit(".com/img#frag")))
      t(s, dir, "documents")
        .select(col("doc_id"), url.as("url"))
        .select(col("doc_id"), col("url"),
          canonicalizeUrl(col("url")).as("canon"),
          urlHost(col("url")).as("host"))
        .orderBy("doc_id")
    }, oracle =
      """SELECT doc_id,
        | CASE doc_id % 4
        |  WHEN 0 THEN 'HTTPS://WWW.Example' || (doc_id % 5) ||
        |   '.COM:443/Events//' || doc_id || '/./x?utm_source=feed&b=2&a=1#sec'
        |  WHEN 1 THEN 'http://Site' || (doc_id % 5) || '.org:80/a//b/./c'
        |  WHEN 2 THEN 'example' || (doc_id % 5) || '.com/p?id=' || doc_id ||
        |   '&gclid=zz&ref=home'
        |  ELSE 'https://cdn.example' || (doc_id % 5) || '.com/img#frag'
        | END AS url,
        | CASE doc_id % 4
        |  WHEN 0 THEN 'https://www.example' || (doc_id % 5) ||
        |   '.com/Events/' || doc_id || '/x?a=1&b=2'
        |  WHEN 1 THEN 'http://site' || (doc_id % 5) || '.org/a/b/c'
        |  WHEN 2 THEN 'http://example' || (doc_id % 5) || '.com/p?id=' || doc_id
        |  ELSE 'https://cdn.example' || (doc_id % 5) || '.com/img'
        | END AS canon,
        | CASE doc_id % 4
        |  WHEN 0 THEN 'www.example' || (doc_id % 5) || '.com'
        |  WHEN 1 THEN 'site' || (doc_id % 5) || '.org'
        |  WHEN 2 THEN 'example' || (doc_id % 5) || '.com'
        |  ELSE 'cdn.example' || (doc_id % 5) || '.com'
        | END AS host
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Canonical-identity dedup: consecutive id pairs carry DIFFERENT
    // dirt (uppercase scheme+host+:80 and /./ segment vs duplicate
    // slash and a utm param) around the SAME identity; grouping by the
    // canonical form must find exactly the pairs. The shuffle key is
    // the canonical string — at 100 TB this is the standard
    // crawl-dedup exchange, count+min combine map-side.
    Q("q205_url_dedup", (s, dir) => {
      import graft.functions.UrlCanon.canonicalizeUrl
      val gid = ldiv(col("doc_id"), lit(2L))
      val url = when(col("doc_id") % 2 === 0,
          concat(lit("http://shop.example.com/item//"), gid,
            lit("?utm_campaign=x&size=2&color=1")))
        .otherwise(
          concat(lit("HTTP://SHOP.Example.COM:80/item/./"), gid,
            lit("?color=1&fbclid=q&size=2")))
      t(s, dir, "documents")
        .select(col("doc_id"), canonicalizeUrl(url).as("canon"))
        .groupBy("canon")
        .agg(count(lit(1)).as("n_dup"), min(col("doc_id")).as("first_doc"),
          sum(col("doc_id")).as("id_checksum"))
        .orderBy("first_doc")
    }, oracle =
      """SELECT 'http://shop.example.com/item/' || (doc_id // 2) ||
        |   '?color=1&size=2' AS canon,
        | count(*) AS n_dup, min(doc_id) AS first_doc,
        | CAST(sum(doc_id) AS BIGINT) AS id_checksum
        |FROM documents GROUP BY doc_id // 2 ORDER BY first_doc""".stripMargin),

    // Zipf rank-frequency slope per source — the corpus-health twin of
    // q109's Heaps curve: natural text runs ln(freq) ≈ −1·ln(rank)+c
    // over the head; a far-off slope flags boilerplate or synthetic
    // spam. The regression is DECIMAL-EXACT: ln values round to 9
    // decimals ONCE, every Σ (x, y, xy, x²) accumulates in DECIMAL
    // (order-free), sums re-cast to DECIMAL(15,9) before the closed-
    // form products so neither engine's precision-propagation rules
    // overflow, and only the final slope division runs in double. One
    // token explode → (source, word) partials → 50-row-per-source
    // windows → source-sized rollup.
    Q("q209_zipf_slope", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.types.DecimalType
      val dec = DecimalType(15, 9)
      val counts = t(s, dir, "documents")
        .select(col("source"), explode(toks(col("text"))).as("w"))
        .groupBy("source", "w").agg(count(lit(1)).as("c"))
      val wn = Window.partitionBy("source")
        .orderBy(col("c").desc, col("w"))
      val ranked = counts.withColumn("rank", row_number().over(wn))
        .filter(col("rank") <= 50)
        .select(col("source"),
          round(log(col("rank")), 9).cast(DecimalType(12, 9)).as("x"),
          round(log(col("c")), 9).cast(DecimalType(12, 9)).as("y"))
      ranked.groupBy("source")
        .agg(count(lit(1)).as("n_terms"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum((col("x") * col("y")).cast(DecimalType(31, 18))).as("sxy"),
          sum((col("x") * col("x")).cast(DecimalType(31, 18))).as("sxx"))
        .select(col("source"), col("n_terms"),
          round(
            (col("n_terms").cast(DecimalType(6, 0)) *
                col("sxy").cast(dec) -
              col("sx").cast(dec) * col("sy").cast(dec)).cast("double") /
            (col("n_terms").cast(DecimalType(6, 0)) *
                col("sxx").cast(dec) -
              col("sx").cast(dec) * col("sx").cast(dec)).cast("double"),
            6).as("zipf_slope"))
        .orderBy("source")
    }, oracle =
      """WITH c AS (
        | SELECT source, w, count(*) AS c FROM (
        |  SELECT source, unnest(string_split(lower(text), ' ')) AS w
        |  FROM documents)
        | GROUP BY source, w),
        |r AS (
        | SELECT source,
        |  CAST(round(ln(rank), 9) AS DECIMAL(12,9)) AS x,
        |  CAST(round(ln(c), 9) AS DECIMAL(12,9)) AS y
        | FROM (
        |  SELECT source, c, row_number() OVER (PARTITION BY source
        |    ORDER BY c DESC, w) AS rank
        |  FROM c)
        | WHERE rank <= 50),
        |g AS (
        | SELECT source, count(*) AS n_terms,
        |  CAST(sum(x) AS DECIMAL(15,9)) AS sx,
        |  CAST(sum(y) AS DECIMAL(15,9)) AS sy,
        |  CAST(sum(CAST(x * y AS DECIMAL(31,18))) AS DECIMAL(15,9)) AS sxy,
        |  CAST(sum(CAST(x * x AS DECIMAL(31,18))) AS DECIMAL(15,9)) AS sxx
        | FROM r GROUP BY source)
        |SELECT source, n_terms,
        | round(CAST(CAST(n_terms AS DECIMAL(6,0)) * sxy - sx * sy
        |     AS DOUBLE) /
        |   CAST(CAST(n_terms AS DECIMAL(6,0)) * sxx - sx * sx
        |     AS DOUBLE), 6) AS zipf_slope
        |FROM g ORDER BY source""".stripMargin),

    // Okapi BM25 over a two-term query: idf_t = ln((N − df_t + 0.5) /
    // (df_t + 0.5) + 1) (the Lucene-style always-positive variant),
    // score = Σ_t idf_t · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)),
    // k1=1.2 b=0.75. All counts are exact integers; the double math is
    // a FIXED-ORDER two-term sum per doc, and scores round to 6
    // decimals with a doc_id tie-break (the q95 float discipline).
    // Corpus stats (N, Σdl, df per term) are one tiny aggregate
    // broadcast back — at 100 TB the scored pass is a single scan.
    Q("q206_bm25_rank", (s, dir) =>
      bm25Scored(s, dir)
        .orderBy(col("bm25").desc, col("doc_id"))
        .limit(25), oracle =
      """WITH b AS (
        | SELECT doc_id, len(string_split(lower(text), ' ')) AS dl,
        |  len(list_filter(string_split(lower(text), ' '),
        |    x -> x = 'scan')) AS tf_scan,
        |  len(list_filter(string_split(lower(text), ' '),
        |    x -> x = 'merge')) AS tf_merge
        | FROM documents),
        |st AS (
        | SELECT count(*) AS n, sum(dl) AS sum_dl,
        |  sum(CASE WHEN tf_scan > 0 THEN 1 ELSE 0 END) AS df_scan,
        |  sum(CASE WHEN tf_merge > 0 THEN 1 ELSE 0 END) AS df_merge
        | FROM b)
        |SELECT doc_id,
        | round(
        |  (CASE WHEN tf_scan > 0 THEN
        |    ln((st.n - st.df_scan + 0.5) / (st.df_scan + 0.5) + 1.0)
        |    * (tf_scan * 2.2) / (tf_scan + 1.2 *
        |       (0.25 + 0.75 * dl / (CAST(st.sum_dl AS DOUBLE) / st.n)))
        |   ELSE 0.0 END) +
        |  (CASE WHEN tf_merge > 0 THEN
        |    ln((st.n - st.df_merge + 0.5) / (st.df_merge + 0.5) + 1.0)
        |    * (tf_merge * 2.2) / (tf_merge + 1.2 *
        |       (0.25 + 0.75 * dl / (CAST(st.sum_dl AS DOUBLE) / st.n)))
        |   ELSE 0.0 END), 6) AS bm25
        |FROM b, st ORDER BY bm25 DESC, doc_id LIMIT 25""".stripMargin),

    // Reciprocal-rank fusion (Cormack, Clarke & Büttcher, SIGIR 2009) —
    // the standard hybrid-retrieval combiner: a lexical ranking (the
    // q206 BM25 scorer) and a semantic ranking (cosine against a probe
    // embedding) fuse as Σ 1/(60+rank) WITHOUT comparing their
    // incommensurable scores; only ranks cross the boundary. Scores are
    // exact integers — ldiv(10⁷, 60+rank) on both engines — so the
    // fused ordering has a defined cross-engine answer. Neither
    // ranking runs a corpus-sized single-partition window: both rank
    // through `OrderStats.rank` (bucket offsets from a bounded score
    // histogram + a bucket-partitioned per-row window), so every stage
    // stays distributed at 100 TB. floor(score·1000) buckets keep the
    // score order (x ↦ floor(1000x) is monotone in IEEE doubles),
    // negated for the descending rank.
    Q("q212_rrf_hybrid", (s, dir) => {
      def rank(df: DataFrame, score: String, id: String, out: String) =
        OrderStats.rank(df, Seq(-floor(col(score) * 1000)),
          Seq(desc(score), asc(id)), out)
      val lex = rank(bm25Scored(s, dir), "bm25", "doc_id", "lex_rank")
        .select("doc_id", "lex_rank")
      val e = t(s, dir, "embeddings")
      val probe = e.filter(col("vec_id") === 7)
        .select(col("embedding").as("qv"))
      val scored = e.crossJoin(broadcast(probe))
        .withColumn("cos_sim",
          round(graft.ops.SimilarityOps.cosine(col("embedding"), col("qv")), 6))
      val sem = rank(scored, "cos_sim", "vec_id", "sem_rank")
        .select(col("vec_id"), col("sem_rank"))
      lex.join(sem, col("doc_id") === col("vec_id"))
        .withColumn("rrf",
          ldiv(lit(10000000L), lit(60L) + col("lex_rank")) +
            ldiv(lit(10000000L), lit(60L) + col("sem_rank")))
        .select("doc_id", "lex_rank", "sem_rank", "rrf")
        .orderBy(desc("rrf"), asc("doc_id"))
        .limit(20)
    }, oracle =
      """WITH b AS (
        | SELECT doc_id, len(string_split(lower(text), ' ')) AS dl,
        |  len(list_filter(string_split(lower(text), ' '),
        |    x -> x = 'scan')) AS tf_scan,
        |  len(list_filter(string_split(lower(text), ' '),
        |    x -> x = 'merge')) AS tf_merge
        | FROM documents),
        |st AS (
        | SELECT count(*) AS n, sum(dl) AS sum_dl,
        |  sum(CASE WHEN tf_scan > 0 THEN 1 ELSE 0 END) AS df_scan,
        |  sum(CASE WHEN tf_merge > 0 THEN 1 ELSE 0 END) AS df_merge
        | FROM b),
        |scored AS (
        | SELECT doc_id,
        |  round(
        |   (CASE WHEN tf_scan > 0 THEN
        |     ln((st.n - st.df_scan + 0.5) / (st.df_scan + 0.5) + 1.0)
        |     * (tf_scan * 2.2) / (tf_scan + 1.2 *
        |        (0.25 + 0.75 * dl / (CAST(st.sum_dl AS DOUBLE) / st.n)))
        |    ELSE 0.0 END) +
        |   (CASE WHEN tf_merge > 0 THEN
        |     ln((st.n - st.df_merge + 0.5) / (st.df_merge + 0.5) + 1.0)
        |     * (tf_merge * 2.2) / (tf_merge + 1.2 *
        |        (0.25 + 0.75 * dl / (CAST(st.sum_dl AS DOUBLE) / st.n)))
        |    ELSE 0.0 END), 6) AS bm25
        | FROM b, st),
        |lex AS (
        | SELECT doc_id,
        |  row_number() OVER (ORDER BY bm25 DESC, doc_id) AS lex_rank
        | FROM scored),
        |sem AS (
        | SELECT vec_id,
        |  row_number() OVER (ORDER BY cos_sim DESC, vec_id) AS sem_rank
        | FROM (
        |  SELECT e.vec_id,
        |   round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |     CAST(p.qv AS DOUBLE[])), 6) AS cos_sim
        |  FROM embeddings e,
        |   (SELECT embedding AS qv FROM embeddings WHERE vec_id = 7) p))
        |SELECT l.doc_id, CAST(lex_rank AS BIGINT) AS lex_rank,
        | CAST(sem_rank AS BIGINT) AS sem_rank,
        | (10000000 // (60 + lex_rank)) + (10000000 // (60 + sem_rank)) AS rrf
        |FROM lex l JOIN sem s ON l.doc_id = s.vec_id
        |ORDER BY rrf DESC, l.doc_id LIMIT 20""".stripMargin),

    // Per-host crawl politeness budget — the frontier scheduler's
    // planning report: requests per canonical host, serial crawl time
    // at the polite 1-req/2s budget, batch count at 10 urls/fetch
    // round, and each host's share of the frontier in exact bp. The
    // host must be recovered by PARSING the synthesized dirty URLs
    // (UrlHostExpr, codegen) while the oracle reconstructs it from the
    // id arithmetic — the codec-gate discipline on the URL surface.
    // One scan → host-sized rollup; the frontier total is a broadcast
    // scalar.
    Q("q263_host_politeness", (s, dir) => {
      import graft.functions.UrlCanon.urlHost
      val k = col("doc_id") % 5
      val url = when(col("doc_id") % 4 === 0,
          concat(lit("HTTPS://WWW.Example"), k,
            lit(".COM:443/e/"), col("doc_id"), lit("?utm_source=x")))
        .when(col("doc_id") % 4 === 1,
          concat(lit("http://Site"), k, lit(".org:80/p//"), col("doc_id")))
        .when(col("doc_id") % 4 === 2,
          concat(lit("example"), k, lit(".com/q?id="), col("doc_id")))
        .otherwise(
          concat(lit("https://cdn.example"), k, lit(".com/i#f")))
      val perHost = t(s, dir, "documents")
        .select(urlHost(url).as("host"))
        .groupBy("host").agg(count(lit(1)).as("n_requests"))
      val total = perHost.agg(sum("n_requests").as("n_total"))
      perHost.crossJoin(broadcast(total))
        .select(col("host"), col("n_requests"),
          (lit(2L) * col("n_requests")).as("crawl_seconds"),
          ldiv(col("n_requests") + 9L, lit(10L)).as("n_batches"),
          ldiv(col("n_requests") * 10000L, col("n_total")).as("share_bp"))
        .orderBy("host")
    }, oracle =
      // host truth from the id arithmetic; the engine must parse it out
      // of the dirty URL surface
      """WITH h AS (
        | SELECT CASE doc_id % 4
        |  WHEN 0 THEN 'www.example' || (doc_id % 5) || '.com'
        |  WHEN 1 THEN 'site' || (doc_id % 5) || '.org'
        |  WHEN 2 THEN 'example' || (doc_id % 5) || '.com'
        |  ELSE 'cdn.example' || (doc_id % 5) || '.com'
        | END AS host
        | FROM documents),
        |g AS (SELECT host, count(*) AS n_requests FROM h GROUP BY host),
        |tt AS (SELECT sum(n_requests) AS n_total FROM g)
        |SELECT g.host, CAST(g.n_requests AS BIGINT) AS n_requests,
        | CAST(2 * g.n_requests AS BIGINT) AS crawl_seconds,
        | CAST((g.n_requests + 9) // 10 AS BIGINT) AS n_batches,
        | CAST(CAST(g.n_requests AS HUGEINT) * 10000 // tt.n_total
        |   AS BIGINT) AS share_bp
        |FROM g, tt ORDER BY g.host""".stripMargin),

    // Tokenizer fertility audit — chars-per-token by (source, lang), the
    // standard tokenizer-efficiency signal (a language whose bp blows up
    // is being shredded into fragments and will eat context budget).
    // Whole query is one narrow scan folding into a (source·lang)-sized
    // rollup with map-side combine; ratios in exact integer basis
    // points via ldiv.
    Q("q213_token_fertility", (s, dir) =>
      t(s, dir, "documents")
        .select(col("source"), col("lang"), col("n_chars"),
          size(toks(col("text"))).cast("long").as("n_tok"))
        .groupBy("source", "lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("n_tokens"),
          sum(col("n_chars")).as("sum_chars"))
        .withColumn("chars_per_token_bp",
          ldiv(col("sum_chars") * lit(10000L), col("n_tokens")))
        .orderBy("source", "lang"), oracle =
      """SELECT source, lang, count(*) AS n_docs,
        | CAST(sum(len(string_split(lower(text), ' '))) AS BIGINT)
        |   AS n_tokens,
        | CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        | CAST(sum(n_chars) AS BIGINT) * 10000
        |  // CAST(sum(len(string_split(lower(text), ' '))) AS BIGINT)
        |   AS chars_per_token_bp
        |FROM documents GROUP BY source, lang ORDER BY source, lang""".stripMargin),

    // Context-window truncation loss — for a C=32-token window, the
    // share of tokens a naive truncating loader would DROP, per source
    // (the complement of q174's padding waste: q174 measures slack below
    // the bucket boundary, this measures loss above it). All integral:
    // per-doc excess max(0, n_tok−C) sums exactly, share in bp via
    // ldiv. One scan, source-sized rollup.
    Q("q214_truncation_loss", (s, dir) =>
      t(s, dir, "documents")
        .select(col("source"), size(toks(col("text"))).cast("long").as("n_tok"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("n_tokens"),
          sum(when(col("n_tok") > 32, col("n_tok") - 32)
            .otherwise(0L)).as("lost_tokens"),
          sum(when(col("n_tok") > 32, 1L).otherwise(0L)).as("n_truncated"))
        .withColumn("lost_bp",
          ldiv(col("lost_tokens") * lit(10000L), col("n_tokens")))
        .orderBy("source"), oracle =
      """WITH d AS (
        | SELECT source, len(string_split(lower(text), ' ')) AS n_tok
        | FROM documents)
        |SELECT source, count(*) AS n_docs,
        | CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        | CAST(sum(CASE WHEN n_tok > 32 THEN n_tok - 32 ELSE 0 END)
        |   AS BIGINT) AS lost_tokens,
        | CAST(sum(CASE WHEN n_tok > 32 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_truncated,
        | CAST(sum(CASE WHEN n_tok > 32 THEN n_tok - 32 ELSE 0 END)
        |   AS BIGINT) * 10000 // CAST(sum(n_tok) AS BIGINT) AS lost_bp
        |FROM d GROUP BY source ORDER BY source""".stripMargin),

    // Content-defined chunking dedup profile (LBFS/FastCDC family) —
    // chunk boundaries follow content, so shared boilerplate surfaces
    // as identical chunks at ANY offset; per source this reports the
    // chunk-level duplication a CDC store would reclaim. The engine
    // side computes all cuts in ONE codegen'd pass per document
    // (functions/CdcChunks — no position explode ever runs on Spark);
    // the oracle replays the identical md5-window cut set positionally.
    // The only exchange is the (source, chunk) distinct-count — the
    // standard dedup shuffle, map-side combined.
    Q("q215_cdc_chunks", (s, dir) => {
      import graft.functions.CdcChunksExpr.cdcChunks
      t(s, dir, "documents")
        .filter(length(col("text")) > 0) // empty doc = no chunks, both sides
        .select(col("source"), explode(cdcChunks(col("text"), 8)).as("chunk"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_chunks"),
          countDistinct(col("chunk")).as("n_distinct"),
          sum(length(col("chunk")).cast("long")).as("sum_len"))
        .select(col("source"), col("n_chunks"), col("n_distinct"),
          ldiv((col("n_chunks") - col("n_distinct")) * lit(10000L),
            col("n_chunks")).as("dup_bp"),
          ldiv(col("sum_len"), col("n_chunks")).as("mean_chunk_len"))
        .orderBy("source")
    }, oracle =
      """WITH d AS (
        | SELECT doc_id, source, text, length(text) AS n FROM documents
        | WHERE length(text) > 0),
        |pos AS (
        | SELECT doc_id, source, text, n, unnest(range(8, n + 1)) AS i
        | FROM d),
        |cuts AS (
        | SELECT doc_id, source, text, i FROM pos
        | WHERE substr(md5(substr(text, i - 7, 8)), 32, 1) = '0'
        | UNION
        | SELECT doc_id, source, text, n AS i FROM d),
        |ch AS (
        | SELECT doc_id, source,
        |  substr(text,
        |   coalesce(lag(i) OVER (PARTITION BY doc_id ORDER BY i), 0) + 1,
        |   i - coalesce(lag(i) OVER (PARTITION BY doc_id ORDER BY i), 0))
        |   AS chunk
        | FROM cuts)
        |SELECT source, count(*) AS n_chunks,
        | count(DISTINCT chunk) AS n_distinct,
        | (count(*) - count(DISTINCT chunk)) * 10000 // count(*) AS dup_bp,
        | CAST(sum(length(chunk)) AS BIGINT) // count(*) AS mean_chunk_len
        |FROM ch GROUP BY source ORDER BY source""".stripMargin),

    // see contaminationMatrix below for semantics + scale rationale
    Q("q219_source_contamination", (s, dir) => contaminationMatrix(s, dir), oracle =
      """WITH t AS (
        | SELECT source, string_split(lower(text), ' ') AS toks
        | FROM documents),
        |g AS (
        | SELECT DISTINCT source, array_to_string(toks[i:i+7], ' ') AS ng
        | FROM t, UNNEST(range(1, len(toks) - 6)) AS u(i)
        | WHERE len(toks) >= 8),
        |sz AS (SELECT source, count(*) AS n_spans FROM g GROUP BY source),
        |sh AS (
        | SELECT a.source AS src_a, b.source AS src_b,
        |  count(*) AS shared_spans
        | FROM g a JOIN g b ON a.ng = b.ng AND a.source < b.source
        | GROUP BY a.source, b.source)
        |SELECT sh.src_a, sh.src_b,
        | CAST(sh.shared_spans AS BIGINT) AS shared_spans,
        | CAST(sa.n_spans AS BIGINT) AS n_a,
        | CAST(sb.n_spans AS BIGINT) AS n_b,
        | CAST(sh.shared_spans AS BIGINT) * 10000
        |  // CAST(least(sa.n_spans, sb.n_spans) AS BIGINT)
        |  AS containment_bp
        |FROM sh
        | JOIN sz sa ON sa.source = sh.src_a
        | JOIN sz sb ON sb.source = sh.src_b
        |ORDER BY containment_bp DESC, src_a, src_b LIMIT 50""".stripMargin),
  )

  /** Cross-source contamination matrix — which SOURCES share verbatim
    * 8-gram content (mirrored crawls, syndicated boilerplate, copied
    * docs that survived per-doc dedup because they landed in different
    * source buckets). Pairwise containment = |spans_A ∩ spans_B| /
    * min(|A|, |B|) in exact bp over DISTINCT per-source spans. Scale
    * shape: the corpus pays one span explode collapsed to distinct
    * (source, span); the self-join fans out per span at most
    * C(n_sources, 2) — a CONSTANT in source count, not corpus size —
    * and the rollup is matrix-sized. The q150/q156 posting-join family,
    * with the hub bound coming free from the source-distinct collapse. */
  val contaminationMatrix: (SparkSession, String) => DataFrame = (s, dir) => {
    val spans = t(s, dir, "documents")
      .select(col("source"), toks(col("text")).as("tk"))
      .filter(size(col("tk")) >= 8)
      .select(col("source"), explode(graft.functions.ShinglesExpr
        .shingles(col("tk"), 8)).as("ng")) // codegen'd + pre-deduped
      .distinct()
      // three consumers (join a-side, b-side, sizes): materialize the
      // corpus-wide explode+distinct once (checkpoint-multi-consumer rule)
      .localCheckpoint()
    val sizes = spans.groupBy("source")
      .agg(count(lit(1)).as("n_spans"))
    val shared = spans.as("a")
      .join(spans.as("b"), Seq("ng"))
      .filter(col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("shared_spans"))
    shared
      .join(broadcast(sizes.select(col("source").as("src_a"),
        col("n_spans").as("n_a"))), "src_a")
      .join(broadcast(sizes.select(col("source").as("src_b"),
        col("n_spans").as("n_b"))), "src_b")
      .select(col("src_a"), col("src_b"), col("shared_spans"),
        col("n_a"), col("n_b"),
        ldiv(col("shared_spans") * lit(10000L), least(col("n_a"), col("n_b")))
          .as("containment_bp"))
      .orderBy(desc("containment_bp"), asc("src_a"), asc("src_b"))
      .limit(50)
  }

  /** doc_id + two-term ("scan","merge") BM25 score rounded to 6 decimals
    * with the q95 float discipline — shared by q206 (pure ranking) and
    * q212 (the lexical leg of RRF). Corpus stats (N, Σdl, df per term)
    * are one tiny aggregate broadcast back; the scored pass is a single
    * scan at any corpus size. */
  private def bm25Scored(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.CountInSetExpr.countInSet
    val base = t(s, dir, "documents")
      .select(col("doc_id"), toks(col("text")).as("tk"))
      .select(col("doc_id"),
        size(col("tk")).cast("long").as("dl"),
        countInSet(col("tk"), Seq("scan")).as("tf_scan"),
        countInSet(col("tk"), Seq("merge")).as("tf_merge"))
    val stats = base.agg(
      count(lit(1)).as("n"),
      sum(col("dl")).as("sum_dl"),
      sum(when(col("tf_scan") > 0, 1L).otherwise(0L)).as("df_scan"),
      sum(when(col("tf_merge") > 0, 1L).otherwise(0L)).as("df_merge"))
    def idf(df: org.apache.spark.sql.Column, n: org.apache.spark.sql.Column) =
      log((n.cast("double") - df + lit(0.5)) / (df + lit(0.5)) + lit(1.0))
    def part(tf: org.apache.spark.sql.Column, idfc: org.apache.spark.sql.Column,
        dl: org.apache.spark.sql.Column, avgdl: org.apache.spark.sql.Column) =
      when(tf > 0,
        idfc * (tf * lit(K1 + 1.0)) /
          (tf + lit(K1) * (lit(1.0 - B) + lit(B) * dl / avgdl)))
        .otherwise(lit(0.0))
    base.crossJoin(broadcast(stats))
      .withColumn("avgdl", col("sum_dl").cast("double") / col("n"))
      .select(col("doc_id"),
        round(
          part(col("tf_scan"), idf(col("df_scan"), col("n")),
            col("dl"), col("avgdl")) +
          part(col("tf_merge"), idf(col("df_merge"), col("n")),
            col("dl"), col("avgdl")), 6).as("bm25"))
  }
}
