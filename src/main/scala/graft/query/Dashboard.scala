package graft.query

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftglue.ObservationGlue
import graft.ops.TextOps

/** The reference's single user-facing query (§3.1: app.py:56-67 +
  * db_extractor.py:28-62) as one declarative plan builder over a silver
  * events DataFrame carrying a `search_tokens` array column.
  *
  * filter(source, category) → [AND-token match + tf relevance] → sort
  * (relevance when searching, else event_date,name) → page slice. Every
  * page compiles to TakeOrderedAndProject (per-partition top
  * offset+limit, driver merge — no global sort, no single-partition
  * window). The page's total rides on that same job: an Observation
  * counts the filtered rows as the top-k reads them, so a page is one
  * Spark job. Sibling plan: the DISTINCT dropdown domains. */
object Dashboard {

  val PerPage = 25 // app.py:10, db_extractor.py:6

  /** One page: `rows` is its plan, `total` the number of filtered rows.
    * The top-k reads every filtered row, so the count observed by the
    * rows' own job is exact: collect `rows`, then read `total`, and the
    * page costs one job. If `rows` never ran, `total` counts the observed
    * frame instead; that count completes the observation too, so the
    * session's ObservationManager holds nothing for the page once
    * `total` is read. */
  final class Page private[Dashboard] (val rows: DataFrame,
      observation: Observation, observed: DataFrame) {
    lazy val total: Long = ObservationGlue.rowOrEmpty(observation)
      .fold(observed.count())(_.getLong(0))
    def totalPages: Long = (total + PerPage - 1) / PerPage
  }

  private def predicate(source: Option[String], category: Option[String],
      terms: Seq[String]): Column = {
    val base = lit(true)
    val s = source.fold(base)(v => col("source") === v)
    val c = category.fold(s && base)(v => s && col("category") === v)
    if (terms.isEmpty) c
    else c && terms.map(t => array_contains(col("search_tokens"), t))
      .reduce(_ && _)
  }

  /** Query-side twin of the load-time tokenization (plainto_tsquery): same
    * normalization + stopword filter, optionally the same Porter stem. */
  private def normalizeQuery(q: Option[String], stem: Boolean): Seq[String] =
    q.toSeq.flatMap(_.toLowerCase.split("[^\\p{L}\\p{Nd}]+"))
      .filter(t => t.length > 1 && !TextOps.stopwords.contains(t))
      .map(t => if (stem) graft.functions.Porter.stem(t) else t)

  /** ts_rank-style field weights: name hits count WeightA, body hits
    * WeightD (Postgres defaults 1.0 / 0.1). */
  val WeightA = 1.0
  val WeightD = 0.1

  def query(events: DataFrame, source: Option[String] = None,
      category: Option[String] = None, search: Option[String] = None,
      page: Int = 1, stemmed: Boolean = false,
      weighted: Boolean = false, normalization: Int = 0): Page = {
    val terms = normalizeQuery(search, stemmed)
    val filtered = events.filter(predicate(source, category, terms))

    // the search path only ranks rows whose search_tokens contain every
    // term, and Normalize.withWeightedTokens never emits a null array, so
    // tf never sees a null array
    def tf(column: String, t: String) = TextOps.countIn(col(column), Seq(t))
    val sortCols: Seq[Column] =
      if (terms.nonEmpty) {
        val raw =
          if (weighted)
            terms.map(t => tf("name_tokens", t) * WeightA +
              tf("body_tokens", t) * WeightD).reduce(_ + _)
          else terms.map(t => tf("search_tokens", t).cast("double"))
            .reduce(_ + _)
        // ts_rank's documented normalization flags (doc-length penalties)
        val score = if (normalization == 0) raw
          else TextOps.tsRankNormalize(raw, col("search_tokens"),
            normalization)
        Seq(score.desc, asc("event_date"), asc("name"))
      } else Seq(asc("event_date"), asc("name"), asc("url"))

    val observation = Observation()
    val observed = filtered.observe(observation, count(lit(1)).as("total"))
    // offset+limit after orderBy plans as TakeOrderedAndProject (each
    // partition keeps offset+limit rows, driver merges) — unlike a global
    // row_number window, which would move every row to one partition.
    val rows = observed.orderBy(sortCols: _*)
      .offset(math.max(page - 1, 0) * PerPage).limit(PerPage)
    new Page(rows, observation, observed)
  }

  /** A2: dropdown domains. */
  def distinctDomain(events: DataFrame, column: String): DataFrame =
    events.select(column).where(col(column).isNotNull)
      .distinct().orderBy(column)

  /** W5: sliding window of ≤5 page links around the current page
    * (app.py:35-50) — driver-side arithmetic. */
  def pageLinks(current: Int, totalPages: Long): Seq[Int] = {
    val lo = math.max(1L, math.min(current - 2L, totalPages - 4L))
    val hi = math.min(totalPages, lo + 4)
    (lo to hi).map(_.toInt)
  }
}
