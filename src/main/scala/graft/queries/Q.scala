package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: its name, its plan over the tables of an sf
  * directory, and the DuckDB SQL that must return the same rows (`None`
  * only for a query no SQL reproduces exactly; it gets the rows-only
  * check).
  *
  * Each module lists its queries as `lazy val all: Seq[Q]`. The list is
  * lazy because oracles read helpers defined further down the module,
  * and a strict `val` read before its definition line is `null` — which
  * an interpolation renders as the text "null". */
final class Q private (val name: String,
    val plan: (SparkSession, String) => DataFrame,
    val oracle: Option[String])

object Q {
  def apply(name: String, plan: (SparkSession, String) => DataFrame,
      oracle: String): Q = new Q(name, plan, Some(oracle))

  /** q35's HyperLogLog estimate: no SQL engine reproduces the sketch. */
  def rowsOnly(name: String, plan: (SparkSession, String) => DataFrame): Q =
    new Q(name, plan, None)

  /** `qs` keyed by name; a name listed twice fails with every such name. */
  def byName(qs: Seq[Q]): Map[String, Q] = {
    val twice = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(twice.isEmpty,
      s"query names registered twice: ${twice.toSeq.sorted.mkString(", ")}")
    qs.map(q => q.name -> q).toMap
  }
}
