package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** One-pass data profiling — the "what is in this table" primitive every
  * large-pipeline onboarding step runs before trusting a dataset
  * (row/null/distinct counts, range, moments per column).
  *
  * Scale shape: ALL statistics for ALL columns fold into a single
  * aggregate over one scan — never one job per column (at 100 TB, k
  * separate profiling passes is k× the I/O). The exact distinct counts
  * make the physical plan an Expand (one input row → one replica per
  * distinct-aggregate) feeding a partial hash aggregate: still one scan,
  * map-side combined, with the replication factor bounded by the column
  * count. For profile-only use at extreme widths, swapping count_distinct
  * for approx_count_distinct removes the Expand entirely; the exact form
  * is kept here because it is oracle-checkable.
  *
  * Mean and population variance derive from exact DECIMAL sums (Σx, Σx²),
  * so results are independent of partial-aggregation order — double
  * summation would flake the comparison against any other engine. The
  * final double arithmetic ((ssq - s·s/n)/n, rounded) is a fixed IEEE
  * expression reproducible verbatim in the oracle SQL.
  */
object Profile {

  /** Long-format profile of numeric columns: one row per column —
    * (col_name, n, n_null, n_distinct, min_val, max_val, mean, variance).
    * `scale` is the rounding of mean/variance; sums run in
    * DECIMAL(38, 8). */
  def numericProfile(df: DataFrame, cols: Seq[String],
      scale: Int = 4): DataFrame = {
    val dec = DecimalType(38, 8)
    val aggs = count(lit(1)).as("__rows") +: cols.flatMap { c =>
      val d = col(c).cast("double")
      Seq(
        count(col(c)).as(s"__n_$c"),
        count_distinct(col(c)).as(s"__ndv_$c"),
        min(d).as(s"__min_$c"),
        max(d).as(s"__max_$c"),
        sum(d.cast(dec)).cast("double").as(s"__s_$c"),
        sum((d * d).cast(dec)).cast("double").as(s"__ssq_$c"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    // round on the binary value, as round(x·10^s)/10^s: Spark's
    // round(x, s) rounds the double's shortest decimal form half up, so a
    // mean like 1529997/60000 (stored just below 25.49995) would read
    // 25.5 where every binary-rounding engine reads 25.4999. At scale 0
    // the two forms agree.
    val p = math.pow(10, scale)
    def rnd(x: Column): Column = round(x * p) / p
    // melt the 1-row wide aggregate into per-column rows; array+explode
    // over a 1-row frame is driver-free and keeps the schema uniform
    val rows = cols.map { c =>
      val n = col(s"__n_$c")
      val s = col(s"__s_$c")
      val ssq = col(s"__ssq_$c")
      struct(
        lit(c).as("col_name"),
        n.as("n"),
        (col("__rows") - n).as("n_null"),
        col(s"__ndv_$c").as("n_distinct"),
        col(s"__min_$c").as("min_val"),
        col(s"__max_$c").as("max_val"),
        rnd(s / n).as("mean"),
        rnd((ssq - s * s / n) / n).as("variance"))
    }
    one.select(explode(array(rows: _*)).as("p")).select("p.*")
  }
}
