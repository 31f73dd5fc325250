package graft.model

import org.apache.spark.sql.types._

/** Canonical event record — the reference's 13-column `events` schema
  * (init.sql:6-21) as a typed silver-layer case class. `event_date` stays
  * stringly-typed for parity (ISO-8601 after standardization, raw text or
  * null otherwise — standardizer.py:4-49); `event_ts` is the engine-native
  * typed derivation. `search_tokens` replaces the Postgres TSVECTOR. */
final case class Event(
    name: String,
    url: String,
    event_date: Option[String],
    venue_name: Option[String],
    venue_address: Option[String],
    venue_city: Option[String],
    description: Option[String],
    source: String,
    category: Option[String],
    genre: Option[String],
    season: Option[String],
    latitude: Option[Double],
    longitude: Option[Double])

object Schemas {

  /** Bronze staging envelope — raw_data(id, source_spider, raw_json)
    * (init.sql:1-5). */
  val rawEnvelope: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("source_spider", StringType),
    StructField("raw_json", StringType)))

  /** In-flight scraped item — BusinessItem's 15 fields (items.py:13-28).
    * All per-source raw_json payloads are subsets of this shape. */
  val businessItem: StructType = StructType(Seq(
    StructField("name", StringType),
    StructField("url", StringType),
    StructField("description", StringType),
    StructField("source", StringType),
    StructField("neighborhood", StringType),
    StructField("event_id", StringType),
    StructField("venue_name", StringType),
    StructField("venue_city", StringType),
    StructField("venue_address", StringType),
    StructField("event_date", StringType),
    StructField("category", StringType),
    StructField("genre", StringType),
    StructField("season", StringType),
    StructField("latitude", StringType),
    StructField("longitude", StringType)))

  /** Document-upload text payload (tasks.py:111-114). */
  val docText: StructType = StructType(Seq(
    StructField("text", StringType),
    StructField("original_filepath", StringType)))
}
