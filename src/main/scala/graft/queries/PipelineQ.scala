package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.ops.{JoinOps, RangeJoin}

/** Warehouse-pipeline operators round 3: CDC latest-wins compaction,
  * SCD type-2 history build, bloom-pruned join, heavy-hitter detection.
  * Each is the at-scale shape (single-shuffle aggregation or per-key
  * window; no global window, no driver loops) with an exact DuckDB
  * oracle. */
object PipelineQ {

  lazy val all: Seq[Q] = Seq(
    // CDC compaction: events as a change feed keyed by user_id; the
    // current snapshot is each user's latest change (ts, event_id
    // tiebreak), with 'error' as the delete operation — a MERGE INTO
    // snapshot without a table format, one map-side-partial shuffle.
    Q("q78_cdc_merge", (s, dir) => {
      JoinOps.cdcCompact(
          t(s, dir, "events")
            .select("event_id", "user_id", "event_type", "value", "ts"),
          keyCol = "user_id", orderCol = "ts", tieCol = "event_id",
          opCol = "event_type", deleteOps = Seq("error"))
        .select(col("user_id"), col("event_type").as("last_type"),
          col("value").as("last_value"), col("ts").as("last_ts"))
        .orderBy("user_id")
    }, oracle =
      """SELECT user_id, event_type AS last_type, value AS last_value,
        | ts AS last_ts
        |FROM (
        | SELECT *, row_number() OVER (PARTITION BY user_id
        |   ORDER BY ts DESC, event_id DESC) AS rn
        | FROM events) x
        |WHERE rn = 1 AND event_type <> 'error'
        |ORDER BY user_id""".stripMargin),

    // SCD2 dimension history: one version row per run of equal
    // event_type per user, [valid_from, valid_to) closed by the next
    // version, open interval = current. Output trimmed to a
    // deterministic user sample to keep the gate result small.
    Q("q79_scd2_history", (s, dir) => {
      JoinOps.scd2(
          t(s, dir, "events")
            .filter(pmod(col("user_id"), lit(25)) === 0)
            .select("event_id", "user_id", "event_type", "ts"),
          keyCol = "user_id", orderCol = "ts", tieCol = "event_id",
          attrCol = "event_type")
        .select(col("user_id"), col("event_type"), col("valid_from"),
          col("valid_to"), col("is_current").cast("int").as("is_current"))
        .orderBy("user_id", "valid_from", "event_type")
    }, oracle =
      """WITH f AS (
        | SELECT event_id, user_id, event_type, ts FROM events
        | WHERE user_id % 25 = 0),
        |runs AS (
        | SELECT *, lag(event_type) OVER w AS prev
        | FROM f WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |v AS (
        | SELECT user_id, event_type, ts AS valid_from, event_id
        | FROM runs WHERE prev IS NULL OR prev <> event_type)
        |SELECT user_id, event_type, valid_from,
        | lead(valid_from) OVER w AS valid_to,
        | CAST(lead(valid_from) OVER w IS NULL AS INT) AS is_current
        |FROM v WINDOW w AS (PARTITION BY user_id ORDER BY valid_from, event_id)
        |ORDER BY user_id, valid_from, event_type""".stripMargin),

    // Bloom-pruned join: lineitem joined to one nation's suppliers with
    // a dim-side bloom filter pre-pruning the fact scan. No false
    // negatives, so the result equals the plain join (the oracle); the
    // bloom is the shuffle-volume story, asserted in JoinOpsSpec.
    Q("q80_bloom_join", (s, dir) => {
      val dim = t(s, dir, "supplier")
        .filter(col("s_nationkey") === 3)
        .select(col("s_suppkey"), col("s_name"))
      JoinOps.bloomPrunedJoin(
          t(s, dir, "lineitem").select("l_suppkey", "l_extendedprice"),
          dim, "l_suppkey", "s_suppkey")
        .groupBy("s_suppkey", "s_name")
        .agg(count(lit(1)).as("n_items"),
          dsum(col("l_extendedprice"), 2).as("revenue"))
        .orderBy("s_suppkey")
    }, oracle =
      """SELECT s.s_suppkey, s.s_name, count(*) AS n_items,
        | CAST(sum(CAST(l.l_extendedprice AS DECIMAL(30,2))) AS DOUBLE)
        |   AS revenue
        |FROM lineitem l
        |JOIN (SELECT s_suppkey, s_name FROM supplier WHERE s_nationkey = 3) s
        |  ON l.l_suppkey = s.s_suppkey
        |GROUP BY s.s_suppkey, s.s_name
        |ORDER BY s.s_suppkey""".stripMargin),

    // Interval-overlap join (two interval sets, not point-in-interval):
    // per user, purchase windows [ts, ts+2h) overlapping error windows
    // [ts, ts+2h). Bucketized to an equi-join on (bucket, user); each
    // overlapping pair is emitted from exactly one bucket (the first
    // shared one), so there is no dedup shuffle. Oracle is the plain
    // quadratic theta-join.
    Q("q83_interval_overlap", (s, dir) => {
      val twoH = 2L * 3600L * 1000000L
      val e = t(s, dir, "events")
      def iv(tpe: String, sCol: String, eCol: String) =
        e.filter(col("event_type") === tpe)
          .select(col("user_id"),
            unix_micros(col("ts")).as(sCol),
            (unix_micros(col("ts")) + twoH).as(eCol))
      RangeJoin.intervalOverlap(
          iv("purchase", "p_start", "p_end"),
          "p_start", "p_end",
          iv("error", "e_start", "e_end"),
          "e_start", "e_end",
          bucketWidthUs = twoH, extraKeys = Seq("user_id"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_overlaps"))
        .orderBy("user_id")
    }, oracle =
      """WITH p AS (
        | SELECT user_id, epoch_us(ts) AS p_start,
        |  epoch_us(ts) + 7200000000 AS p_end
        | FROM events WHERE event_type = 'purchase'),
        |e AS (
        | SELECT user_id, epoch_us(ts) AS e_start,
        |  epoch_us(ts) + 7200000000 AS e_end
        | FROM events WHERE event_type = 'error')
        |SELECT p.user_id, count(*) AS n_overlaps
        |FROM p JOIN e ON p.user_id = e.user_id
        | AND p.p_start < e.e_end AND e.e_start < p.p_end
        |GROUP BY p.user_id ORDER BY p.user_id""".stripMargin),

    // Funnel conversion: users whose first purchase follows their first
    // signup, with the conversion rate and mean seconds-to-convert. Two
    // tiny aggregations + one broadcast-sized join — no window over the
    // full event history.
    Q("q84_funnel", (s, dir) => {
      val e = t(s, dir, "events")
      val signups = e.filter(col("event_type") === "signup")
        .groupBy("user_id")
        .agg(min(unix_micros(col("ts"))).as("s_ts"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_micros(col("ts")).as("p_ts"))
      val converted = signups.join(purchases, "user_id")
        .filter(col("p_ts") >= col("s_ts"))
        .groupBy("user_id", "s_ts")
        .agg(min(col("p_ts")).as("first_p"))
      signups.agg(count(lit(1)).as("n_signup_users")).crossJoin(
        converted.agg(count(lit(1)).as("n_converted"),
          sum(col("first_p") - col("s_ts")).as("__sum_us")))
        .select(col("n_signup_users"), col("n_converted"),
          round(col("n_converted").cast("double") /
            col("n_signup_users"), 6).as("conv_rate"),
          round((col("__sum_us").cast("double") / 1e6) /
            col("n_converted"), 4).as("mean_sec_to_convert"))
    }, oracle =
      """WITH s AS (
        | SELECT user_id, min(epoch_us(ts)) AS s_ts FROM events
        | WHERE event_type = 'signup' GROUP BY user_id),
        |c AS (
        | SELECT s.user_id, s.s_ts, min(p.p_ts) AS first_p
        | FROM s JOIN (SELECT user_id, epoch_us(ts) AS p_ts FROM events
        |              WHERE event_type = 'purchase') p
        |   ON s.user_id = p.user_id AND p.p_ts >= s.s_ts
        | GROUP BY s.user_id, s.s_ts),
        |t1 AS (SELECT count(*) AS n_signup_users FROM s),
        |t2 AS (SELECT count(*) AS n_converted,
        |        sum(first_p - s_ts) AS sum_us FROM c)
        |SELECT n_signup_users, n_converted,
        | round(CAST(n_converted AS DOUBLE) / n_signup_users, 6) AS conv_rate,
        | round((CAST(sum_us AS DOUBLE) / 1e6) / n_converted, 4)
        |   AS mean_sec_to_convert
        |FROM t1, t2""".stripMargin),

    // Weekly retention cohorts: users grouped by first-seen week, counted
    // as retained in each later week they were active. Two aggregations
    // and one shuffle join on user_id — the cohort matrix never touches
    // a window over history.
    Q("q85_retention", (s, dir) => {
      val weekUs = 7L * 24L * 3600L * 1000000L
      val e = t(s, dir, "events")
        .select(col("user_id"),
          floor(unix_micros(col("ts")) / weekUs).as("week"))
      val firstWeek = e.groupBy("user_id")
        .agg(min(col("week")).as("cohort_week"))
      val active = e.distinct()
      firstWeek.join(active, "user_id")
        .withColumn("offset", col("week") - col("cohort_week"))
        .filter(col("offset") <= 4)
        .groupBy("cohort_week", "offset")
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy("cohort_week", "offset")
    }, oracle =
      """WITH e AS (
        | SELECT user_id,
        |  CAST(floor(epoch_us(ts) / 604800000000) AS BIGINT) AS week
        | FROM events),
        |f AS (SELECT user_id, min(week) AS cohort_week FROM e
        |      GROUP BY user_id),
        |a AS (SELECT DISTINCT user_id, week FROM e)
        |SELECT f.cohort_week, a.week - f.cohort_week AS "offset",
        | count(DISTINCT a.user_id) AS n_users
        |FROM f JOIN a ON f.user_id = a.user_id
        |WHERE a.week - f.cohort_week <= 4
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // Heavy-hitter detection (skew diagnostics): top users by event
    // volume with their share of the total — partial-aggregated count
    // plus one broadcast scalar, no global window.
    Q("q81_heavy_hitters", (s, dir) => {
      val e = t(s, dir, "events")
      val counts = e.groupBy("user_id").agg(count(lit(1)).as("n"))
      val total = broadcast(e.agg(count(lit(1)).as("__total")))
      counts.crossJoin(total)
        .withColumn("share",
          round(col("n").cast("double") / col("__total"), 6))
        .select("user_id", "n", "share")
        .orderBy(desc("n"), asc("user_id"))
        .limit(10)
    }, oracle =
      """WITH c AS (SELECT user_id, count(*) AS n FROM events
        |           GROUP BY user_id),
        |t AS (SELECT count(*) AS total FROM events)
        |SELECT user_id, n, round(CAST(n AS DOUBLE) / total, 6) AS share
        |FROM c, t
        |ORDER BY n DESC, user_id ASC LIMIT 10""".stripMargin),

    // Time-weighted average (the correct mean for irregularly-sampled
    // gauges — plain avg over-weights bursts): each value is held until
    // the next event, weighted by its hold duration. One per-user window
    // (lead) + one aggregate; durations in long micros and the weighted
    // sum in DECIMAL, so the result is engine-exact. Single-event users
    // (zero total duration) drop out.
    Q("q93_time_weighted_avg", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.types.DecimalType
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
      val seg = t(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("value"),
          unix_micros(col("ts")).as("ts_us"))
        .withColumn("dur", lead(col("ts_us"), 1).over(w) - col("ts_us"))
        .filter(col("dur").isNotNull)
      seg.groupBy("user_id")
        .agg(sum((col("value") * col("dur")).cast(DecimalType(38, 6)))
          .cast("double").as("__num"),
          sum(col("dur")).cast("double").as("__den"))
        .filter(col("__den") > 0)
        .select(col("user_id"),
          round(col("__num") / col("__den"), 6).as("twa"))
        .orderBy("user_id")
    }, oracle =
      """WITH seg AS (
        | SELECT user_id, value,
        |  lead(epoch_us(ts)) OVER (PARTITION BY user_id
        |    ORDER BY epoch_us(ts), event_id) - epoch_us(ts) AS dur
        | FROM events)
        |SELECT user_id,
        | round(CAST(sum(CAST(value * dur AS DECIMAL(38,6))) AS DOUBLE)
        |   / CAST(sum(dur) AS DOUBLE), 6) AS twa
        |FROM seg WHERE dur IS NOT NULL
        |GROUP BY user_id HAVING CAST(sum(dur) AS DOUBLE) > 0
        |ORDER BY user_id""".stripMargin),

    // Mode (most frequent value) per group with DETERMINISTIC tie-breaks
    // (count desc, then value asc) — Spark's built-in `mode` picks ties
    // arbitrarily, which can never pass an exact gate. One aggregate +
    // one per-group window over the tiny (user × type) count table.
    Q("q94_mode_per_group", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val counts = t(s, dir, "events")
        .groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(desc("n"), asc("event_type"))
      counts.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_type").as("mode_type"), col("n"))
        .orderBy("user_id")
    }, oracle =
      """SELECT user_id, event_type AS mode_type, n FROM (
        | SELECT user_id, event_type, count(*) AS n,
        |  row_number() OVER (PARTITION BY user_id
        |    ORDER BY count(*) DESC, event_type) AS rn
        | FROM events GROUP BY user_id, event_type)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin),

    // Pearson correlation + OLS slope of order price vs line-item count,
    // per order priority — the five moments (n, Σx, Σy, Σxy, Σx², Σy²)
    // come from one partial-aggregated pass in DECIMAL, so corr/slope are
    // bit-identical across engines (built-in corr() aggregates doubles in
    // partition order and can never hash-match an oracle).
    Q("q95_corr_slope", (s, dir) => {
      import org.apache.spark.sql.types.DecimalType
      val li = t(s, dir, "lineitem").groupBy("l_orderkey")
        .agg(count(lit(1)).as("x"))
      val o = t(s, dir, "orders").select(col("o_orderkey"),
        col("o_orderpriority"), col("o_totalprice").as("y"))
      val j = o.join(li, col("o_orderkey") === col("l_orderkey"))
      val dec = DecimalType(38, 6)
      val m = j.groupBy("o_orderpriority").agg(
        count(lit(1)).cast("double").as("n"),
        sum(col("x").cast(dec)).cast("double").as("sx"),
        sum(col("y").cast(dec)).cast("double").as("sy"),
        sum((col("x") * col("y")).cast(dec)).cast("double").as("sxy"),
        sum((col("x") * col("x")).cast(dec)).cast("double").as("sxx"),
        sum((col("y") * col("y")).cast(dec)).cast("double").as("syy"))
      val cov = col("n") * col("sxy") - col("sx") * col("sy")
      val vx = col("n") * col("sxx") - col("sx") * col("sx")
      val vy = col("n") * col("syy") - col("sy") * col("sy")
      m.select(col("o_orderpriority"),
          col("n").cast("long").as("n_orders"),
          round(cov / (sqrt(vx) * sqrt(vy)), 6).as("corr"),
          round(cov / vx, 6).as("slope"))
        .orderBy("o_orderpriority")
    }, oracle =
      """WITH li AS (
        | SELECT l_orderkey, count(*) AS x FROM lineitem GROUP BY 1),
        |j AS (
        | SELECT o.o_orderpriority, li.x, o.o_totalprice AS y
        | FROM orders o JOIN li ON o.o_orderkey = li.l_orderkey),
        |m AS (
        | SELECT o_orderpriority,
        |  CAST(count(*) AS DOUBLE) AS n,
        |  CAST(sum(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS sx,
        |  CAST(sum(CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS sy,
        |  CAST(sum(CAST(x * y AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
        |  CAST(sum(CAST(x * x AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
        |  CAST(sum(CAST(y * y AS DECIMAL(38,6))) AS DOUBLE) AS syy
        | FROM j GROUP BY o_orderpriority)
        |SELECT o_orderpriority, CAST(n AS BIGINT) AS n_orders,
        | round((n * sxy - sx * sy)
        |   / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6)
        |   AS corr,
        | round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope
        |FROM m ORDER BY o_orderpriority""".stripMargin),
  )
}
