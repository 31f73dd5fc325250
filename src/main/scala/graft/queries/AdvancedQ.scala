package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType
import graft.Tables._

/** Advanced relational/temporal operators beyond the reference's own
  * surface: as-of join, sessionization, percentiles, pivot, semi join,
  * exact + approximate distinct, histograms, regex extraction. Each is
  * shaped for scale: as-of and sessionization are single-shuffle window
  * plans (no self-join), pivot is a map-side conditional aggregation. */
object AdvancedQ {

  lazy val all: Seq[Q] = Seq(
    // Semi join: customers having any order above 400k (EXISTS pushdown).
    Q("q27_semi_join", (s, dir) => {
      val c = t(s, dir, "customer")
      val big = t(s, dir, "orders").filter(col("o_totalprice") > 400000.0)
        .select(col("o_custkey").as("c_custkey"))
      c.join(big, Seq("c_custkey"), "left_semi")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    }, oracle =
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)
        |ORDER BY c_custkey""".stripMargin),

    // As-of join: each purchase matched to the user's most recent signup
    // at-or-before it. One union + one window over (user, time) — the
    // shape that scales (no per-user self-join); ties resolved
    // signup-first so an equal-timestamp signup is visible (>= semantics).
    Q("q28_asof_join", (s, dir) => {
      val ev = t(s, dir, "events")
      val both = ev.filter(col("event_type").isin("purchase", "signup"))
        .select(col("event_id"), col("user_id"), col("ts"),
          col("event_type"),
          when(col("event_type") === "signup", col("ts")).as("sig_ts"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(asc("ts"),
          when(col("event_type") === "signup", 0).otherwise(1).asc,
          asc("event_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
      both.withColumn("signup_ts", max(col("sig_ts")).over(w))
        .filter(col("event_type") === "purchase" &&
          col("signup_ts").isNotNull)
        .select("event_id", "user_id", "ts", "signup_ts")
        .orderBy("event_id")
    }, oracle =
      """SELECT p.event_id, p.user_id, p.ts, s.ts AS signup_ts
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF JOIN (SELECT * FROM events WHERE event_type = 'signup') s
        |  ON p.user_id = s.user_id AND p.ts >= s.ts
        |ORDER BY p.event_id""".stripMargin),

    // As-of join with a tolerance bound: only signups within the last 24h
    // of the purchase qualify (same single-window plan + bound filter).
    Q("q52_asof_tolerance", (s, dir) => {
      val ev = t(s, dir, "events")
      val both = ev.filter(col("event_type").isin("purchase", "signup"))
        .select(col("event_id"), col("user_id"), col("ts"),
          col("event_type"),
          when(col("event_type") === "signup", col("ts")).as("sig_ts"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(asc("ts"),
          when(col("event_type") === "signup", 0).otherwise(1).asc,
          asc("event_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
      both.withColumn("signup_ts", max(col("sig_ts")).over(w))
        .filter(col("event_type") === "purchase" &&
          col("signup_ts").isNotNull &&
          unix_timestamp(col("ts")) - unix_timestamp(col("signup_ts"))
            <= 86400L)
        .select("event_id", "user_id", "ts", "signup_ts")
        .orderBy("event_id")
    }, oracle =
      """SELECT p.event_id, p.user_id, p.ts, s.ts AS signup_ts
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF JOIN (SELECT * FROM events WHERE event_type = 'signup') s
        |  ON p.user_id = s.user_id AND p.ts >= s.ts
        |WHERE date_diff('second', s.ts, p.ts) <= 86400
        |ORDER BY p.event_id""".stripMargin),

    // Mixed-schema union: unionByName with missing columns null-filled.
    Q("q53_union_by_name", (s, dir) => {
      val o = t(s, dir, "orders")
      val recent = o.filter(col("o_orderdate") >= lit("2000-01-01")
          .cast("timestamp"))
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderpriority"))
      val urgent = o.filter(col("o_orderpriority") === "1-URGENT" &&
          col("o_orderdate") < lit("2000-01-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderstatus"))
      recent.unionByName(urgent, allowMissingColumns = true)
        .orderBy("o_orderkey")
    }, oracle =
      """SELECT * FROM (
        | SELECT o_orderkey, o_totalprice, o_orderpriority,
        |  NULL AS o_orderstatus
        | FROM orders WHERE o_orderdate >= TIMESTAMP '2000-01-01'
        | UNION ALL
        | SELECT o_orderkey, o_totalprice, NULL AS o_orderpriority,
        |  o_orderstatus
        | FROM orders WHERE o_orderpriority = '1-URGENT'
        |  AND o_orderdate < TIMESTAMP '2000-01-01')
        |ORDER BY o_orderkey""".stripMargin),

    // Gap-based sessionization (30-minute inactivity): lag + running sum
    // of session-start flags, then per-session rollup. Two window passes
    // over one (user, time) shuffle.
    Q("q29_sessionize", (s, dir) => {
      val wOrd = Window.partitionBy(col("user_id"))
        .orderBy(asc("ts"), asc("event_id"))
      val flagged = t(s, dir, "events")
        .withColumn("prev_ts", lag(col("ts"), 1).over(wOrd))
        .withColumn("new_s",
          when(col("prev_ts").isNull ||
            unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > 1800,
            1L).otherwise(0L))
        .withColumn("session_no", sum(col("new_s")).over(
          wOrd.rowsBetween(Window.unboundedPreceding, 0)))
      flagged.groupBy("user_id", "session_no")
        .agg(count(lit(1)).as("n_events"),
          dsum(col("value"), 2).as("sum_value"),
          min(col("ts")).as("session_start"),
          max(col("ts")).as("session_end"))
        .orderBy("user_id", "session_no")
    }, oracle =
      """WITH flagged AS (
        | SELECT user_id, ts, value, event_id,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |    OR date_diff('second', lag(ts) OVER w, ts) > 1800
        |   THEN 1 ELSE 0 END AS new_s
        | FROM events
        | WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        | SELECT user_id, ts, value,
        |  CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
        | FROM flagged)
        |SELECT user_id, session_no, count(*) AS n_events,
        | CAST(sum(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS sum_value,
        | min(ts) AS session_start, max(ts) AS session_end
        |FROM sess GROUP BY user_id, session_no
        |ORDER BY user_id, session_no""".stripMargin),

    // Top-k per group: 3 priciest parts per brand.
    Q("q30_topk_per_group", (s, dir) => {
      val w = Window.partitionBy(col("p_brand"))
        .orderBy(desc("p_retailprice"), asc("p_partkey"))
      t(s, dir, "part")
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .select("p_brand", "p_partkey", "p_retailprice", "rn")
        .orderBy("p_brand", "rn")
    }, oracle =
      """SELECT p_brand, p_partkey, p_retailprice, rn FROM (
        | SELECT p_brand, p_partkey, p_retailprice,
        |  CAST(row_number() OVER (PARTITION BY p_brand
        |    ORDER BY p_retailprice DESC, p_partkey ASC) AS BIGINT) AS rn
        | FROM part) x
        |WHERE rn <= 3 ORDER BY p_brand, rn""".stripMargin),

    // Exact percentiles (linear interpolation) per order status.
    Q("q31_percentiles", (s, dir) => {
      t(s, dir, "orders")
        .groupBy("o_orderstatus")
        .agg(round(percentile(col("o_totalprice"), lit(0.5)), 4).as("median"),
          round(percentile(col("o_totalprice"), lit(0.9)), 4).as("p90"))
        .orderBy("o_orderstatus")
    }, oracle =
      """SELECT o_orderstatus,
        | round(quantile_cont(o_totalprice, 0.5), 4) AS median,
        | round(quantile_cont(o_totalprice, 0.9), 4) AS p90
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),

    // Pivot: per-user event-type counts as columns (conditional agg —
    // partial aggregation map-side, no extra shuffle vs plain groupBy).
    Q("q32_pivot", (s, dir) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      t(s, dir, "events")
        .groupBy("user_id")
        .pivot("event_type", types).agg(count(lit(1)))
        .na.fill(0L, types)
        .orderBy("user_id")
    }, oracle =
      """SELECT user_id,
        | CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS click,
        | CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS error,
        | CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase,
        | CAST(count(*) FILTER (event_type = 'signup') AS BIGINT) AS signup,
        | CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),

    // Regex extraction + aggregation: numeric brand id from 'Brand#NN'.
    Q("q33_regex_extract", (s, dir) => {
      t(s, dir, "part")
        .withColumn("brand_id",
          regexp_extract(col("p_brand"), "#(\\d+)", 1).cast("long"))
        .filter(col("p_type").isin("ECONOMY", "SMALL"))
        .groupBy("brand_id")
        .agg(count(lit(1)).as("n"),
          dsum(col("p_retailprice"), 2).as("sum_price"))
        .orderBy("brand_id")
    }, oracle =
      """SELECT CAST(regexp_extract(p_brand, '#(\d+)', 1) AS BIGINT) AS brand_id,
        | count(*) AS n,
        | CAST(sum(CAST(p_retailprice AS DECIMAL(30,2))) AS DOUBLE) AS sum_price
        |FROM part WHERE p_type IN ('ECONOMY', 'SMALL')
        |GROUP BY 1 ORDER BY brand_id""".stripMargin),

    // Exact distinct counting per group.
    Q("q34_distinct_exact", (s, dir) => {
      t(s, dir, "events")
        .groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_events"))
        .orderBy("event_type")
    }, oracle =
      """SELECT event_type, count(DISTINCT user_id) AS n_users,
        | count(*) AS n_events
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // HLL approximate distinct — the at-scale variant of q34 (no oracle:
    // sketch-specific values; rows-only check).
    Q.rowsOnly("q35_approx_distinct", (s, dir) => {
      t(s, dir, "events")
        .groupBy("event_type")
        .agg(approx_count_distinct(col("user_id"), 0.01).as("n_users_approx"))
        .orderBy("event_type")
    }),

    // Value histogram: fixed-width buckets over order totals.
    Q("q36_histogram", (s, dir) => {
      t(s, dir, "orders")
        .groupBy(floor(col("o_totalprice") / 50000).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"))
        .orderBy("bucket")
    }, oracle =
      """SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS bucket,
        | count(*) AS n
        |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin),

    // Running cumulative revenue per market segment over order dates —
    // frame-based window aggregation (rows unbounded preceding).
    Q("q37_running_total", (s, dir) => {
      val c = t(s, dir, "customer").select("c_custkey", "c_mktsegment")
      val o = t(s, dir, "orders").select("o_custkey", "o_orderkey",
        "o_orderdate", "o_totalprice")
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(asc("o_orderdate"), asc("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      o.join(c, col("o_custkey") === col("c_custkey"))
        .withColumn("running_rev",
          sum(col("o_totalprice").cast(DecimalType(30, 2))).over(w)
            .cast("double"))
        .select("c_mktsegment", "o_orderkey", "o_orderdate", "running_rev")
        .orderBy("c_mktsegment", "o_orderdate", "o_orderkey")
        .limit(1000)
    }, oracle =
      """SELECT c_mktsegment, o_orderkey, o_orderdate,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(30,2)))
        |   OVER (PARTITION BY c_mktsegment
        |     ORDER BY o_orderdate, o_orderkey
        |     ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_rev
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY c_mktsegment, o_orderdate, o_orderkey LIMIT 1000""".stripMargin),

    // Quartile assignment via ntile over order totals per status.
    Q("q38_ntile", (s, dir) => {
      val w = Window.partitionBy(col("o_orderstatus"))
        .orderBy(asc("o_totalprice"), asc("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("quartile", ntile(4).over(w).cast("long"))
        .groupBy("o_orderstatus", "quartile")
        .agg(count(lit(1)).as("n"),
          dsum(col("o_totalprice"), 2).as("sum_price"))
        .orderBy("o_orderstatus", "quartile")
    }, oracle =
      """SELECT o_orderstatus, quartile, count(*) AS n,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS sum_price
        |FROM (
        | SELECT o_orderstatus, o_totalprice,
        |  CAST(ntile(4) OVER (PARTITION BY o_orderstatus
        |    ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS quartile
        | FROM orders) x
        |GROUP BY o_orderstatus, quartile
        |ORDER BY o_orderstatus, quartile""".stripMargin),

    // Outer join with zero-fill: big-order counts per customer, keeping
    // customers with none (null-producing left join + count(col)).
    Q("q42_outer_join", (s, dir) => {
      val c = t(s, dir, "customer").select("c_custkey", "c_mktsegment")
      val big = t(s, dir, "orders")
        .filter(col("o_totalprice") > 400000.0)
        .select("o_custkey", "o_orderkey", "o_totalprice")
      c.join(big, col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(count(col("o_orderkey")).as("n_big_orders"),
          coalesce(sum(col("o_totalprice").cast(DecimalType(30, 2))), lit(0))
            .cast("double").as("big_total"))
        .orderBy("c_custkey")
    }, oracle =
      """SELECT c_custkey, c_mktsegment,
        | count(o_orderkey) AS n_big_orders,
        | CAST(coalesce(sum(CAST(o_totalprice AS DECIMAL(30,2))), 0) AS DOUBLE) AS big_total
        |FROM customer LEFT JOIN
        | (SELECT * FROM orders WHERE o_totalprice > 400000.0) o
        | ON c_custkey = o.o_custkey
        |GROUP BY c_custkey, c_mktsegment
        |ORDER BY c_custkey""".stripMargin),

    // Fuzzy string matching: edit distance against a probe name.
    Q("q43_fuzzy_match", (s, dir) => {
      t(s, dir, "part")
        .withColumn("dist",
          levenshtein(col("p_name"), lit("small ring")).cast("long"))
        .filter(col("dist") <= 3)
        .select("p_partkey", "p_name", "dist")
        .orderBy("dist", "p_partkey")
    }, oracle =
      """SELECT p_partkey, p_name,
        | CAST(levenshtein(p_name, 'small ring') AS BIGINT) AS dist
        |FROM part WHERE levenshtein(p_name, 'small ring') <= 3
        |ORDER BY dist, p_partkey""".stripMargin),

    // Analytic distribution functions: percent_rank + cume_dist of each
    // customer's account balance within their market segment (top decile).
    Q("q51_percent_rank", (s, dir) => {
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(asc("c_acctbal"), asc("c_custkey"))
      t(s, dir, "customer")
        .withColumn("pr", round(percent_rank().over(w), 6))
        .withColumn("cd", round(cume_dist().over(w), 6))
        .filter(col("pr") >= 0.9)
        .select("c_mktsegment", "c_custkey", "c_acctbal", "pr", "cd")
        .orderBy("c_mktsegment", "c_custkey")
    }, oracle =
      """SELECT c_mktsegment, c_custkey, c_acctbal, pr, cd FROM (
        | SELECT c_mktsegment, c_custkey, c_acctbal,
        |  round(percent_rank() OVER w, 6) AS pr,
        |  round(cume_dist() OVER w, 6) AS cd
        | FROM customer
        | WINDOW w AS (PARTITION BY c_mktsegment
        |   ORDER BY c_acctbal, c_custkey)) x
        |WHERE pr >= 0.9 ORDER BY c_mktsegment, c_custkey""".stripMargin),

    // Ordered list aggregation: nations per region as a sorted csv
    // (collect_list is order-nondeterministic — sort before joining).
    Q("q50_listagg", (s, dir) => {
      val r = t(s, dir, "region")
      val n = t(s, dir, "nation")
      r.join(n, col("r_regionkey") === col("n_regionkey"))
        .groupBy("r_name")
        .agg(array_join(array_sort(collect_list(col("n_name"))), ",")
          .as("nations"),
          count(lit(1)).as("n_nations"))
        .orderBy("r_name")
    }, oracle =
      """SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations,
        | count(*) AS n_nations
        |FROM region JOIN nation ON r_regionkey = n_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin),

    // Explicit GROUPING SETS with grouping() disambiguation of the
    // all-rows null from a genuine null key (SQL surface).
    Q("q49_grouping_sets", (s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders_v")
      s.sql("""
        SELECT o_orderstatus, o_orderpriority,
          CAST(grouping(o_orderstatus) AS BIGINT) AS g_s,
          CAST(grouping(o_orderpriority) AS BIGINT) AS g_p,
          count(*) AS n,
          CAST(sum(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS sum_price
        FROM orders_v
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY g_s, g_p, o_orderstatus ASC NULLS FIRST,
          o_orderpriority ASC NULLS FIRST""")
    }, oracle =
      """SELECT o_orderstatus, o_orderpriority,
        | CAST(grouping(o_orderstatus) AS BIGINT) AS g_s,
        | CAST(grouping(o_orderpriority) AS BIGINT) AS g_p,
        | count(*) AS n,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS sum_price
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY g_s, g_p, o_orderstatus ASC NULLS FIRST,
        |  o_orderpriority ASC NULLS FIRST""".stripMargin),

    // RANGE-frame window: trailing-7-day order count and revenue per
    // status, frame defined on event time (epoch seconds), not row count.
    Q("q48_range_window", (s, dir) => {
      val w = Window.partitionBy(col("o_orderstatus"))
        .orderBy(col("es"))
        .rangeBetween(-604800L, 0L)
      t(s, dir, "orders")
        .withColumn("es", unix_timestamp(col("o_orderdate")))
        .withColumn("n7", count(lit(1)).over(w))
        .withColumn("sum7",
          sum(col("o_totalprice").cast(DecimalType(30, 2))).over(w)
            .cast("double"))
        .select("o_orderkey", "o_orderstatus", "n7", "sum7")
        .orderBy("o_orderkey")
        .limit(1000)
    }, oracle =
      """SELECT o_orderkey, o_orderstatus, n7, sum7 FROM (
        | SELECT o_orderkey, o_orderstatus,
        |  count(*) OVER w AS n7,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(30,2))) OVER w AS DOUBLE) AS sum7
        | FROM (SELECT *, CAST(epoch(o_orderdate) AS BIGINT) AS es FROM orders)
        | WINDOW w AS (PARTITION BY o_orderstatus ORDER BY es
        |   RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW)) x
        |ORDER BY o_orderkey LIMIT 1000""".stripMargin),

    // Weighted mean as a pure decimal expression plan: exact Σ(v·k)/Σk in
    // DECIMAL(30,2) with no object-buffer UDAF, so the aggregate stays in
    // whole-stage codegen with map-side partial aggregation.
    Q("q47_weighted_mean", (s, dir) => weightedMeanExpr(t(s, dir, "events")), oracle =
      """WITH e AS (
        | SELECT event_type, value,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        | FROM events)
        |SELECT event_type,
        | round(CAST(sum(CAST(value AS DECIMAL(30,2)) * k) AS DOUBLE)
        |   / CAST(sum(k) AS DOUBLE), 6) AS wmean,
        | CAST(sum(k) AS BIGINT) AS sum_w
        |FROM e WHERE k IS NOT NULL AND k > 0
        |GROUP BY event_type ORDER BY event_type""".stripMargin),

    // Bag-semantics set op: EXCEPT ALL keeps duplicate multiplicity.
    Q("q45_except_all", (s, dir) => {
      val e = t(s, dir, "events")
      val all = e.filter(col("value") > 100).select("user_id")
      val purchases = e.filter(col("event_type") === "purchase")
        .select("user_id")
      all.exceptAll(purchases)
        .groupBy("user_id").agg(count(lit(1)).as("n"))
        .orderBy("user_id")
    }, oracle =
      """SELECT user_id, count(*) AS n FROM (
        | SELECT user_id FROM events WHERE value > 100
        | EXCEPT ALL
        | SELECT user_id FROM events WHERE event_type = 'purchase')
        |GROUP BY user_id ORDER BY user_id""".stripMargin),

    // Raw SQL entry with a correlated scalar subquery — the engine's
    // spark.sql surface over registered views. The threshold compare is
    // phrased as price*count > exact-decimal-sum so both engines evaluate
    // identical IEEE doubles (a plain avg differs in the last ulp).
    Q("q46_sql_subquery", (s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders_v")
      s.sql("""
        SELECT o_orderstatus, count(*) AS n_above_avg
        FROM orders_v
        WHERE o_totalprice * (SELECT count(*) FROM orders_v) >
          (SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE)
           FROM orders_v)
        GROUP BY o_orderstatus ORDER BY o_orderstatus""")
    }, oracle =
      """SELECT o_orderstatus, count(*) AS n_above_avg
        |FROM orders
        |WHERE o_totalprice * (SELECT count(*) FROM orders) >
        |  (SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE)
        |   FROM orders)
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),

    // Skew-salted two-stage aggregation — must be bit-identical to the
    // plain GROUP BY (the oracle IS the unsalted query), proving the
    // hot-key strategy preserves semantics.
    Q("q39_salted_agg", (s, dir) =>
      graft.ops.Partitioning
        .saltedCountSum(t(s, dir, "events"), "event_type", "value", 2,
          saltBuckets = 16)
        .orderBy("event_type"), oracle =
      """SELECT event_type, count(*) AS n,
        | CAST(sum(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // Join-cardinality estimator audit (q116 profiles each key's
    // frequency DISTRIBUTION; this audits the optimizer's UNIFORM
    // ESTIMATE against the exact self-join size) — the planner sanity check run
    // BEFORE trusting a self-join: actual pair count Σc(k)² vs the
    // uniform System-R estimate N²/ndv, both derived from the key
    // histogram alone (the whole point at 100 TB: the audit never
    // executes the join it sizes). skew_bp > 10000 quantifies how far
    // key skew pushes reality past the uniform assumption. All
    // integral; Σc² rides in DECIMAL.
    Q("q274_join_cardinality", (s, dir) => {
      val dec38 = DecimalType(38, 0)
      t(s, dir, "events")
        .groupBy("user_id").agg(count(lit(1)).as("c"))
        .agg(sum(col("c")).as("n_events"),
          count(lit(1)).as("ndv_users"),
          sum((col("c") * col("c")).cast(dec38)).as("ap"))
        .withColumn("uniform_est",
          ldiv(col("n_events").cast(dec38) * col("n_events"),
            col("ndv_users")))
        .select(col("n_events"), col("ndv_users"),
          col("ap").cast("long").as("actual_pairs"),
          col("uniform_est"),
          ldiv(col("ap") * 10000L, col("uniform_est")).as("skew_bp"))
    }, oracle =
      """WITH h AS (
        | SELECT user_id, CAST(count(*) AS BIGINT) AS c
        | FROM events GROUP BY user_id),
        |s AS (
        | SELECT CAST(sum(c) AS BIGINT) AS n_events,
        |  CAST(count(*) AS BIGINT) AS ndv_users,
        |  CAST(sum(CAST(c AS HUGEINT) * c) AS BIGINT) AS actual_pairs
        | FROM h)
        |SELECT n_events, ndv_users, actual_pairs,
        | CAST(CAST(n_events AS HUGEINT) * n_events // ndv_users
        |   AS BIGINT) AS uniform_est,
        | CAST(CAST(actual_pairs AS HUGEINT) * 10000
        |   // (CAST(n_events AS HUGEINT) * n_events // ndv_users)
        |   AS BIGINT) AS skew_bp
        |FROM s""".stripMargin),
  )

  /** q47's registered plan: weighted mean as a codegen'd decimal
    * expression — Σ(value·k) carried exactly in DECIMAL, divided as
    * double at the end, identical to the DuckDB oracle formulation. */
  def weightedMeanExpr(events: DataFrame): DataFrame =
    weightedKeyed(events)
      .groupBy("event_type")
      .agg(
        round(
          sum(col("value").cast(DecimalType(30, 2)) * col("k"))
            .cast("double") / sum(col("k")).cast("double"), 6).as("wmean"),
        sum(col("k")).as("sum_w"))
      .orderBy("event_type")

  private def weightedKeyed(events: DataFrame): DataFrame =
    events
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .filter(col("k").isNotNull && col("k") > 0)
}
