package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graftglue.ListenerGlue
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.TextOps
import graft.query.Dashboard

/** A dashboard page is one Spark job: `total` is observed on the page's
  * own top-k scan, and equals the filtered row count over every sort
  * shape the query builds. */
class DashboardSpec extends SparkSpec {

  private val words =
    Seq("jazz", "hockey", "games", "blues", "festival", "night", "rock")

  /** Silver-shaped events in 4 parquet files, tokenized as at load. */
  private def silverOf(stem: Boolean): DataFrame = {
    def word(k: org.apache.spark.sql.Column) =
      element_at(typedlit(words), (k % words.size + 1).cast("int"))
    val raw = spark.range(0, 300, 1, 4).select(
      col("id"),
      concat_ws(" ", word(col("id")), word(col("id") / 7)).as("name"),
      concat_ws(" ", word(col("id") / 3), word(col("id") / 5),
        word(col("id") * 11)).as("description"),
      lit(null).cast("string").as("venue_name"),
      lit(null).cast("string").as("venue_address"),
      element_at(typedlit(Seq("Yelp", "Ticketmaster", "SeatGeek")),
        (col("id") % 3 + 1).cast("int")).as("source"),
      lit("Music").as("category"),
      date_format(date_add(lit("2025-10-01").cast("date"),
        (col("id") % 40).cast("int")), "yyyy-MM-dd").as("event_date"),
      concat(lit("http://e/"), col("id")).as("url"))
    val dir = java.nio.file.Files.createTempDirectory("graft-dash").toString
    graft.ingest.Normalize.withWeightedTokens(raw, stem)
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  private lazy val silver = silverOf(stem = false)
  private lazy val stemmed = silverOf(stem = true)

  /** The page filter written out by hand: source, then AND-match of the
    * already-normalized query tokens. */
  private def filteredCount(events: DataFrame, source: Option[String],
      tokens: Seq[String]): Long =
    events.filter(source.fold(lit(true))(col("source") === _) &&
      tokens.map(t => array_contains(col("search_tokens"), t))
        .foldLeft(lit(true))(_ && _)).count()

  /** One sort shape: its page query, and the source and normalized
    * tokens of the filter it must count. */
  private case class Shape(name: String, stem: Boolean,
      page: DataFrame => Dashboard.Page, source: Option[String] = None,
      tokens: Seq[String] = Nil) {
    def events: DataFrame = if (stem) stemmed else silver
    def expected: Long = filteredCount(events, source, tokens)
  }

  private val shapes = Seq(
    Shape("no search", false,
      Dashboard.query(_, source = Some("Yelp"), page = 2), Some("Yelp")),
    Shape("1 term", false,
      Dashboard.query(_, search = Some("jazz")), tokens = Seq("jazz")),
    Shape("2 terms, weighted", false,
      Dashboard.query(_, search = Some("the Jazz blues"), weighted = true),
      tokens = Seq("jazz", "blues")),
    Shape("normalization 1|32", false,
      Dashboard.query(_, search = Some("rock"), normalization = 1 | 32),
      tokens = Seq("rock")),
    Shape("stemmed", true,
      Dashboard.query(_, search = Some("games"), stemmed = true),
      tokens = Seq("game")),
    Shape("deep offset past the last row", false,
      Dashboard.query(_, source = Some("SeatGeek"), page = 1000),
      Some("SeatGeek")),
    Shape("empty result", false,
      Dashboard.query(_, search = Some("zzzz")), tokens = Seq("zzzz")))

  /** Jobs started while `body` runs, counted once the listener bus has
    * delivered every event on both sides of it. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    ListenerGlue.waitUntilListenerBusEmpty(sc)
    sc.addSparkListener(l)
    try {
      val r = body
      ListenerGlue.waitUntilListenerBusEmpty(sc)
      (r, jobs.get)
    } finally sc.removeSparkListener(l)
  }

  /** The session's registered, not yet completed observations. */
  private def pendingObservations(): Int = {
    val m = spark.getClass.getMethod("observationManager").invoke(spark)
    val f = m.getClass.getDeclaredField("observations")
    f.setAccessible(true)
    f.get(m).asInstanceOf[java.util.Map[_, _]].size
  }

  test("observed total equals the filtered count over every sort shape") {
    for (s <- shapes) {
      val p = s.page(s.events)
      val rows = p.rows.collect()
      assert(p.total == s.expected, s.name)
      assert(p.totalPages == (s.expected + 24) / 25, s.name)
      assert(rows.length <= 25, s.name)
    }
    // every search shape but the empty one matches something
    assert(shapes.filter(_.tokens.nonEmpty).map(_.expected).count(_ > 0) ==
      4)
  }

  test("a page is one job: collecting rows, then reading total") {
    for (s <- shapes) {
      val (events, expected) = (s.events, s.expected)
      val ((rows, total), jobs) = jobsDuring {
        val p = s.page(events)
        val r = p.rows.collect()
        ListenerGlue.waitUntilListenerBusEmpty(spark.sparkContext)
        (r, p.total)
      }
      assert(jobs == 1, s"${s.name}: $jobs jobs")
      assert(total == expected, s.name)
      if (s.name == "deep offset past the last row" ||
        s.name == "empty result") assert(rows.isEmpty, s.name)
    }
  }

  test("total without rows counts and leaves no observation registered") {
    ListenerGlue.waitUntilListenerBusEmpty(spark.sparkContext)
    val before = pendingObservations()
    val p = Dashboard.query(silver, search = Some("jazz"))
    assert(pendingObservations() == before + 1)
    assert(p.total == filteredCount(silver, None, Seq("jazz")))
    ListenerGlue.waitUntilListenerBusEmpty(spark.sparkContext)
    assert(pendingObservations() == before)
    // the rows still run after the observation completed
    assert(p.rows.collect().length == math.min(25L, p.total))
  }

  test("term frequency on a null array reads as the lambda count did") {
    import spark.implicits._
    val df = spark.range(2).select(
      when(col("id") === 0, array(lit("a"), lit("b"), lit("a")))
        .otherwise(lit(null).cast("array<string>")).as("arr"))
    val lambda = df.select(size(filter(col("arr"), x => x === lit("a")))
      .cast("long")).as[Option[Long]].collect().toSeq
    val codegen = df.select(TextOps.countIn(col("arr"), Seq("a")))
      .as[Option[Long]].collect().toSeq
    assert(lambda == Seq(Some(2L), None))
    assert(codegen == lambda)
  }
}
