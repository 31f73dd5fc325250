package graft.ingest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.model.Schemas
import graft.ops.{Categorize, Standardize, TextOps}

/** Bronze → silver normalization: parse each raw_data envelope's JSON
  * payload per source and project onto the 13-column canonical schema
  * (SURVEY.md §2.3 P1/P2/P3, §2.4 J2).
  *
  * Dispatch (transform_data.py:526-541) is a `kind` tag, not a join or a
  * per-kind union: rows of the no-direct-row kind are dropped, the rest
  * share one payload parse and projection, and each kind's validity rule
  * is one predicate of one filter — a single narrow pass over bronze. */
object Normalize {

  /** P2: source_spider → display name (transform_data.py:159-165). */
  val sourceDisplay: Map[String, String] = Map(
    "ticketmaster" -> "Ticketmaster",
    "seatgeek" -> "SeatGeek",
    "yelp" -> "Yelp",
    "google_places" -> "Google Places",
    "nashville_arcgis" -> "Nashville ArcGIS",
    "nashville.com-events" -> "Nashville.com Events",
    "nashville.com-hotels" -> "Nashville.com Hotels",
    "underdog" -> "Underdog",
    "playplayground-events" -> "Playground Events")

  private def displayName(spider: Column): Column =
    sourceDisplay.foldRight(Standardize.snakeToTitle(spider)) {
      case ((k, v), els) => when(spider === k, lit(v)).otherwise(els)
    }

  private val canonical = Seq("name", "url", "event_date", "venue_name",
    "venue_address", "venue_city", "description", "source", "category",
    "genre", "season", "latitude", "longitude")

  /** The projection (P1): parse the payload once, fill the city and
    * source defaults, cast coords; `kind` rides along for the filter. */
  private def project(df: DataFrame): DataFrame = {
    val p = df.withColumn("j", from_json(col("raw_json"), Schemas.businessItem))
    p.select(
      col("id"),
      col("kind"),
      Standardize.collapseWs(col("j.name")).as("name"),
      col("j.url").as("url"),
      col("j.event_date").as("event_date"),
      col("j.venue_name").as("venue_name"),
      col("j.venue_address").as("venue_address"),
      coalesce(col("j.venue_city"), lit("Nashville")).as("venue_city"),
      col("j.description").as("description"),
      coalesce(col("j.source"), displayName(col("source_spider")))
        .as("source"),
      col("j.category").as("category"),
      col("j.genre").as("genre"),
      col("j.season").as("season"),
      Standardize.safeDouble(col("j.latitude")).as("latitude"),
      Standardize.safeDouble(col("j.longitude")).as("longitude"))
  }

  /** J2 dispatch predicates (transform_data.py:526-541), including the
    * substring routes for manual uploads. */
  private def kind(spider: Column): Column =
    when(spider === "ticketmaster", "ticketmaster")
      .when(spider === "seatgeek", "seatgeek")
      .when(spider === "yelp", "yelp")
      .when(spider === "google_places", "google_places")
      .when(spider === "nashville_arcgis", "arcgis")
      .when(spider.startsWith("manual_upload_"), "ai_text")
      .when(spider.contains("csv") || spider.contains("document"), "document")
      .otherwise("generic")

  /** Bad-row tolerance (SURVEY.md §4): rows whose payload fails to parse
    * as a JSON object are split into a quarantine frame (with the raw
    * payload preserved for replay/debugging) instead of silently becoming
    * all-null projections. Returns (parseable, quarantined). */
  def quarantine(bronze: DataFrame): (DataFrame, DataFrame) = {
    // from_json yields a null-fielded row (not null) on malformed input,
    // so detection goes through the PERMISSIVE corrupt-record column
    val probeSchema = Schemas.businessItem
      .add("_corrupt_record", org.apache.spark.sql.types.StringType)
    val parsed = bronze.withColumn("__probe",
      from_json(col("raw_json"), probeSchema,
        Map("columnNameOfCorruptRecord" -> "_corrupt_record")))
    val isBad = col("raw_json").isNotNull &&
      col("__probe._corrupt_record").isNotNull
    val bad = parsed.filter(isBad)
      .select(col("id"), col("source_spider"), col("raw_json"))
    val good = parsed.filter(!coalesce(isBad, lit(false))).drop("__probe")
    (good, bad)
  }

  /** Full bronze → canonical normalization (batch or foreachBatch body). */
  def normalize(bronze: DataFrame, refYear: Int = 2025): DataFrame = {
    // ai_text payloads route through the (stubbed) extractor elsewhere;
    // here they contribute no direct rows.
    val tagged = bronze.withColumn("kind", kind(col("source_spider")))
      .filter(col("kind") =!= "ai_text")
    // strict-venue sources (transform_data.py:86-87,109-110,204-205)
    val strict = col("kind").isin("ticketmaster", "seatgeek", "arcgis")
    val std = project(tagged)
      .filter(Standardize.isValidString(col("name")) &&
        (!strict || col("venue_name").isNotNull))
      .withColumn("event_date",
        Standardize.standardizeDate(col("event_date"), col("source"), refYear))
      .withColumn("venue_name",
        when(col("venue_name").isNotNull,
          Standardize.pyTitle(Standardize.stripVenueSuffix(
            Standardize.collapseWs(col("venue_name"))))))
      .withColumn("name", Standardize.pyTitle(col("name")))
    val cat = Categorize.categorize(col("name"), col("description"),
      col("venue_name"))
    std
      .withColumn("category",
        Categorize.effectiveCategory(col("source"), col("category"),
          cat.getField("category")))
      .withColumn("genre", coalesce(col("genre"), cat.getField("genre")))
      .select((Seq(col("id")) ++ canonical.map(col)): _*)
  }

  /** Load-time search vector (T1, transform_data.py:566-571): normalized
    * stopword-filtered tokens over the searchable fields; `stem = true`
    * adds Porter stemming for full to_tsvector('english') fidelity. */
  def withSearchTokens(df: DataFrame, stem: Boolean = false): DataFrame = {
    val raw = filter(
      TextOps.normTokens(concat_ws(" ",
        coalesce(col("name"), lit("")),
        coalesce(col("venue_name"), lit("")),
        coalesce(col("venue_address"), lit("")),
        coalesce(col("description"), lit("")))),
      tok => !tok.isInCollection(TextOps.stopwords) && length(tok) > 1)
    df.withColumn("search_tokens",
      if (stem) graft.functions.Porter.stemTokens(raw) else raw)
  }

  /** Field-weighted variant of the search vector (ts_rank's A/B/C/D field
    * weights): separate token arrays for the name (weight A) and the rest
    * (weight D), enabling Dashboard's weighted relevance mode. */
  def withWeightedTokens(df: DataFrame, stem: Boolean = false): DataFrame = {
    def toks(c: org.apache.spark.sql.Column) = {
      val raw = filter(TextOps.normTokens(coalesce(c, lit(""))),
        tok => !tok.isInCollection(TextOps.stopwords) && length(tok) > 1)
      if (stem) graft.functions.Porter.stemTokens(raw) else raw
    }
    withSearchTokens(df, stem)
      .withColumn("name_tokens", toks(col("name")))
      .withColumn("body_tokens", toks(concat_ws(" ",
        coalesce(col("venue_name"), lit("")),
        coalesce(col("venue_address"), lit("")),
        coalesce(col("description"), lit("")))))
  }
}
