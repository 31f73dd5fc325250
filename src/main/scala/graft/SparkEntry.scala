package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{AdvancedQ, CorpusQ, CurateQ, EtlQ, MediaQ, MetricsQ, PipelineQ, Q, QualityQ, RelationalQ, ScaleQ, SimQ, TextQ, TrendQ, WebQ}

/** Driver contract — see SURVEY.md §7.
  *
  * Every implemented operator from SURVEY.md §2 (plus the corpus-scale
  * dedup/similarity/text-analysis extensions) is one `Q` record in its
  * module's `all` list: name, plan and DuckDB oracle together. This
  * object joins the 14 lists once and derives the two maps the driver
  * reads; a name listed twice fails here, at construction. Only
  * `q35_approx_distinct` (a HyperLogLog sketch) has no oracle and gets
  * the driver's rows-only check.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's dashboard query shape: token search + relevance rank. */
  def entry(spark: SparkSession): DataFrame =
    TextQ.searchRank.plan(spark, "/root/testdata/sf0.001")

  private val registry: Map[String, Q] = Q.byName(
    RelationalQ.all ++ TextQ.all ++ SimQ.all ++ EtlQ.all ++ AdvancedQ.all ++
      ScaleQ.all ++ PipelineQ.all ++ QualityQ.all ++ CorpusQ.all ++
      TrendQ.all ++ CurateQ.all ++ WebQ.all ++ MetricsQ.all ++ MediaQ.all)

  /** One entry per implemented operator from SURVEY.md §2. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (n, q) => n -> q.plan }

  /** For each key in queries with an oracle, equivalent ANSI SQL runnable
    * by DuckDB on the same parquet tables. */
  val oracleSql: Map[String, String] =
    registry.flatMap { case (n, q) => q.oracle.map(n -> _) }
}
