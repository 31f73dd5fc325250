package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables._
import graft.ops.TextOps

/** Trend / longitudinal analytics round 4: month-over-month growth,
  * event-transition matrices, rolling-window distinct actives, and
  * vocabulary-growth (Heaps-law) curves. All deterministic — decimal
  * sums, explicit tie-breaks — so every query is oracle-exact. */
object TrendQ {

  lazy val all: Seq[Q] = Seq(
    // Month-over-month revenue growth per region: the classic KPI trend
    // query. SCHEMA-bounded dims (nation/region) broadcast; customer is
    // linear in SF so it joins plain — AQE converts it to broadcast at
    // runtime when it is genuinely small, and a shuffle join holds at
    // 100× where a pinned hint would OOM. The fact table aggregates once
    // per (region, month) with DECIMAL-exact sums; the lag window
    // partitions by region (parallel, never global).
    Q("q106_mom_growth", (s, dir) => {
      val rev = t(s, dir, "orders")
        .join(t(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name").as("region"),
          date_trunc("month", col("o_orderdate")).as("month"))
        .agg(sum(col("o_totalprice").cast(DecimalType(38, 6)))
          .cast("double").as("rev"))
      val w = Window.partitionBy(col("region")).orderBy(col("month"))
      rev.withColumn("prev", lag(col("rev"), 1).over(w))
        .select(col("region"), col("month"),
          round(col("rev"), 4).as("revenue"),
          round((col("rev") - col("prev")) / col("prev"), 6)
            .as("mom_growth"))
        .orderBy("region", "month")
    }, oracle =
      """WITH rev AS (
        | SELECT r.r_name AS region,
        |  date_trunc('month', o.o_orderdate) AS month,
        |  CAST(sum(CAST(o.o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
        |    AS rev
        | FROM orders o
        | JOIN customer c ON o.o_custkey = c.c_custkey
        | JOIN nation n ON c.c_nationkey = n.n_nationkey
        | JOIN region r ON n.n_regionkey = r.r_regionkey
        | GROUP BY 1, 2)
        |SELECT region, month, round(rev, 4) AS revenue,
        | round((rev - lag(rev) OVER w) / lag(rev) OVER w, 6) AS mom_growth
        |FROM rev WINDOW w AS (PARTITION BY region ORDER BY month)
        |ORDER BY region, month""".stripMargin),

    // First-order Markov transition matrix over per-user event streams:
    // lag within the (user, ts, event_id)-ordered window — partitioned
    // by user, so the state never exceeds one user's history — then a
    // global (prev, next) count (≤ |event types|² rows) with the share
    // normalized inside each source state.
    Q("q107_transition_matrix", (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val pairs = t(s, dir, "events")
        .withColumn("prev", lag(col("event_type"), 1).over(w))
        .filter(col("prev").isNotNull)
        .groupBy(col("prev"), col("event_type").as("next"))
        .agg(count(lit(1)).as("n"))
      val wp = Window.partitionBy(col("prev"))
      pairs
        .withColumn("share",
          round(col("n").cast("double") / sum(col("n")).over(wp), 6))
        .orderBy("prev", "next")
    }, oracle =
      """WITH p AS (
        | SELECT lag(event_type) OVER (PARTITION BY user_id
        |   ORDER BY ts, event_id) AS prev, event_type AS next
        | FROM events),
        |c AS (
        | SELECT prev, next, count(*) AS n FROM p
        | WHERE prev IS NOT NULL GROUP BY prev, next)
        |SELECT prev, next, n,
        | round(CAST(n AS DOUBLE)
        |   / sum(n) OVER (PARTITION BY prev), 6) AS share
        |FROM c ORDER BY prev, next""".stripMargin),

    // Rolling 7-day distinct active users (the WAU curve), computed the
    // scale-safe way: each event fans out to the ≤7 day-buckets whose
    // trailing window covers it, then one distinct-count per bucket —
    // map-side partial distinct, no per-day self-joins, no global
    // window. (An exact distinct over a RANGE window can't partial-
    // aggregate; the fan-out form does.)
    Q("q108_rolling_active", (s, dir) => {
      t(s, dir, "events")
        .select(col("user_id"),
          explode(sequence(lit(0), lit(6))).as("k"),
          date_trunc("day", col("ts")).cast("date").as("d"))
        .select(col("user_id"), date_add(col("d"), col("k")).as("day"))
        .groupBy("day")
        .agg(countDistinct(col("user_id")).as("n_active"))
        .orderBy("day")
    }, oracle =
      """SELECT CAST(date_trunc('day', ts) AS DATE) + k.k AS day,
        | count(DISTINCT user_id) AS n_active
        |FROM events, (SELECT unnest([0,1,2,3,4,5,6]) AS k) k
        |GROUP BY day ORDER BY day""".stripMargin),

    // Vocabulary growth (Heaps' law) over the trigram-shingle
    // vocabulary: new and cumulative distinct shingles per tenth of the
    // corpus, where a shingle belongs to the decile of its FIRST
    // occurrence. The corpus collapses to vocab-sized (shingle,
    // first_doc) partials in one pass; the cumulative sum runs over ≤10
    // rows (driver-scale by construction — the window is bounded by the
    // bucket count, not the data).
    Q("q109_vocab_growth", (s, dir) => {
      val docs = t(s, dir, "documents")
      val mx = docs.agg(max(col("doc_id")).as("mx"))
      val firsts = docs
        .select(col("doc_id"), explode(graft.functions.ShinglesExpr
          .shingles(TextOps.tokens(col("text")), 3)).as("w"))
        .groupBy("w").agg(min(col("doc_id")).as("first_doc"))
      val perDecile = firsts.crossJoin(broadcast(mx))
        // integer DIV, not floor(double /): matches the oracle's exact
        // `//` semantics even past 2^53, where double division rounds
        .select(least(ldiv(col("first_doc") * 10, col("mx") + 1),
          lit(9L)).as("decile"))
        .groupBy("decile").agg(count(lit(1)).as("new_words"))
      val w = Window.orderBy(col("decile"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      perDecile
        .withColumn("cum_vocab", sum(col("new_words")).over(w))
        .orderBy("decile")
    }, oracle =
      """WITH f AS (
        | SELECT w, min(doc_id) AS first_doc FROM (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, len(string_split(lower(text), ' ')) - 1),
        |    i -> string_split(lower(text), ' ')[i] || ' '
        |      || string_split(lower(text), ' ')[i+1] || ' '
        |      || string_split(lower(text), ' ')[i+2]))) AS w
        |  FROM documents)
        | GROUP BY w),
        |d AS (
        | SELECT least(first_doc * 10 // ((SELECT max(doc_id) + 1
        |   FROM documents)), 9) AS decile
        | FROM f),
        |g AS (SELECT decile, count(*) AS new_words FROM d GROUP BY decile)
        |SELECT decile, new_words,
        | CAST(sum(new_words) OVER (ORDER BY decile
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |   AS cum_vocab
        |FROM g ORDER BY decile""".stripMargin),

    // First-5-events user journey strings: the per-user ordered path,
    // built the scale-safe way — a per-user window keeps only rank ≤ 5
    // BEFORE any list is collected (a bare collect_list would buffer a
    // user's whole history), and the full-partition count rides the same
    // window. The window's hashpartitioning(user_id) already satisfies
    // the groupBy, so the plan has ONE exchange total.
    Q("q110_user_journey", (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val wAll = Window.partitionBy(col("user_id"))
      t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"),
          row_number().over(w).as("rn"),
          count(lit(1)).over(wAll).as("n_events"))
        .filter(col("rn") <= 5)
        .groupBy("user_id")
        .agg(max(col("n_events")).as("n_events"),
          array_join(transform(
            array_sort(collect_list(struct(col("ts"), col("event_id"),
              col("event_type")))),
            x => x.getField("event_type")), ">").as("journey"))
        .orderBy("user_id")
    }, oracle =
      """WITH r AS (
        | SELECT user_id, event_type,
        |  row_number() OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS rn,
        |  count(*) OVER (PARTITION BY user_id) AS n_events,
        |  ts, event_id
        | FROM events)
        |SELECT user_id, max(n_events) AS n_events,
        | array_to_string(list(event_type ORDER BY ts, event_id), '>')
        |   AS journey
        |FROM r WHERE rn <= 5
        |GROUP BY user_id ORDER BY user_id""".stripMargin),

    // Snapshot reconciliation: diff two versions of a table by key +
    // row hash (version B simulates deletes at key%97=0 and updates at
    // key%89=0). One full-outer join on the key comparing md5 row
    // fingerprints — the audit tool that validates a CDC feed or a
    // migrated copy without shipping either table anywhere. The
    // per-row verdict aggregates to a 4-row report.
    Q("q115_snapshot_diff", (s, dir) => {
      // fingerprint over engine-portable pieces: strings + integer cents
      // (a raw double→string cast is not oracle-portable)
      def fp = md5(concat_ws("|", col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long").cast("string"),
        col("o_orderpriority")))
      val a = t(s, dir, "orders")
        .select(col("o_orderkey").as("key"), fp.as("a_fp"))
      val b = t(s, dir, "orders")
        .filter(col("o_orderkey") % 97 =!= 0) // simulated deletes
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 89 === 0, col("o_totalprice") + 1.0)
            .otherwise(col("o_totalprice"))) // simulated updates
        .select(col("o_orderkey").as("key"), fp.as("b_fp"))
      a.join(b, Seq("key"), "full_outer")
        .select(when(col("a_fp").isNull, "added")
          .when(col("b_fp").isNull, "removed")
          .when(col("a_fp") =!= col("b_fp"), "changed")
          .otherwise("same").as("verdict"))
        .groupBy("verdict").agg(count(lit(1)).as("n"))
        .orderBy("verdict")
    }, oracle =
      """WITH a AS (
        | SELECT o_orderkey AS key,
        |  md5(o_orderstatus || '|' ||
        |    CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR)
        |    || '|' || o_orderpriority) AS a_fp
        | FROM orders),
        |b AS (
        | SELECT o_orderkey AS key,
        |  md5(o_orderstatus || '|' ||
        |    CAST(CAST(round((CASE WHEN o_orderkey % 89 = 0
        |        THEN o_totalprice + 1.0 ELSE o_totalprice END) * 100)
        |      AS BIGINT) AS VARCHAR)
        |    || '|' || o_orderpriority) AS b_fp
        | FROM orders WHERE o_orderkey % 97 <> 0),
        |j AS (
        | SELECT CASE WHEN a.a_fp IS NULL THEN 'added'
        |   WHEN b.b_fp IS NULL THEN 'removed'
        |   WHEN a.a_fp <> b.b_fp THEN 'changed'
        |   ELSE 'same' END AS verdict
        | FROM a FULL OUTER JOIN b ON a.key = b.key)
        |SELECT verdict, count(*) AS n FROM j
        |GROUP BY verdict ORDER BY verdict""".stripMargin),

    // Join-key skew report: the diagnostic run before any big join —
    // per candidate key, the frequency distribution's shape (distinct
    // keys, max/mean frequency, skew factor). Two passes per key column
    // over key-count partials only; the skew factor is the number that
    // decides between a plain join, AQE skew handling, and salting.
    Q("q116_skew_report", (s, dir) => {
      def keyStats(df: DataFrame, keyCol: String, name: String) = {
        df.groupBy(col(keyCol)).agg(count(lit(1)).as("f"))
          .agg(lit(name).as("key_col"),
            count(lit(1)).as("n_keys"),
            sum(col("f")).as("n_rows"),
            max(col("f")).as("max_f"),
            round(max(col("f")) * count(lit(1)).cast("double")
              / sum(col("f")), 4).as("skew_factor"))
      }
      keyStats(t(s, dir, "lineitem"), "l_suppkey", "lineitem.l_suppkey")
        .union(keyStats(t(s, dir, "lineitem"), "l_orderkey",
          "lineitem.l_orderkey"))
        .union(keyStats(t(s, dir, "orders"), "o_custkey",
          "orders.o_custkey"))
        .orderBy("key_col")
    }, oracle =
      """WITH s1 AS (SELECT count(*) AS f FROM lineitem GROUP BY l_suppkey),
        |s2 AS (SELECT count(*) AS f FROM lineitem GROUP BY l_orderkey),
        |s3 AS (SELECT count(*) AS f FROM orders GROUP BY o_custkey)
        |SELECT * FROM (
        | SELECT 'lineitem.l_suppkey' AS key_col, count(*) AS n_keys,
        |  CAST(sum(f) AS BIGINT) AS n_rows, CAST(max(f) AS BIGINT) AS max_f,
        |  round(max(f) * CAST(count(*) AS DOUBLE) / sum(f), 4)
        |    AS skew_factor
        | FROM s1
        | UNION ALL
        | SELECT 'lineitem.l_orderkey', count(*), CAST(sum(f) AS BIGINT),
        |  CAST(max(f) AS BIGINT),
        |  round(max(f) * CAST(count(*) AS DOUBLE) / sum(f), 4)
        | FROM s2
        | UNION ALL
        | SELECT 'orders.o_custkey', count(*), CAST(sum(f) AS BIGINT),
        |  CAST(max(f) AS BIGINT),
        |  round(max(f) * CAST(count(*) AS DOUBLE) / sum(f), 4)
        | FROM s3)
        |ORDER BY key_col""".stripMargin),

    // Keyset (cursor) pagination: the deep-paging pattern that stays
    // O(page) at any depth — a pushable range predicate on the sort key
    // plus top-k, where OFFSET pagination would scan and discard
    // offset+limit rows (q08 demonstrates the offset form; this is what
    // replaces it when pages go deep). Plan: PushedFilters on the
    // cursor + TakeOrderedAndProject, asserted in PlanSpec.
    Q("q119_keyset_page", (s, dir) => {
      // session-tz-governed literal (UTC is pinned): Timestamp.valueOf
      // would parse in the JVM *default* zone and shift the cursor
      // relative to the oracle's naive TIMESTAMP on any non-UTC host
      val curD = to_timestamp(lit("1998-06-15 00:00:00"))
      val curK = lit(1000L)
      t(s, dir, "orders")
        .filter(col("o_orderdate") > curD ||
          (col("o_orderdate") === curD && col("o_orderkey") > curK))
        .orderBy("o_orderdate", "o_orderkey")
        .select("o_orderkey", "o_orderdate", "o_totalprice")
        .limit(10)
    }, oracle =
      // timezone(tz, naive) interprets the naive ts in tz (→ instant);
      // timezone(tz, instant) renders it as tz-local naive — chained, the
      // conversion is session-timezone-independent
      """SELECT o_orderkey, o_orderdate, o_totalprice FROM orders
        |WHERE o_orderdate > TIMESTAMP '1998-06-15 00:00:00'
        |   OR (o_orderdate = TIMESTAMP '1998-06-15 00:00:00'
        |       AND o_orderkey > 1000)
        |ORDER BY o_orderdate, o_orderkey LIMIT 10""".stripMargin),

    // Order→ship latency distribution per priority: exact integer day
    // deltas (datediff — no float anywhere), exact percentiles. The
    // operational latency-SLO report; one broadcast-joined fact pass +
    // a per-priority percentile.
    Q("q122_ship_latency", (s, dir) => {
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderpriority"),
          datediff(col("l_shipdate").cast("date"),
            col("o_orderdate").cast("date")).as("lat"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          min(col("lat")).cast("long").as("min_days"),
          round(percentile(col("lat"), lit(0.5)), 4).as("p50"),
          round(percentile(col("lat"), lit(0.95)), 4).as("p95"),
          max(col("lat")).cast("long").as("max_days"))
        .orderBy("o_orderpriority")
    }, oracle =
      """SELECT o_orderpriority, count(*) AS n,
        | CAST(min(lat) AS BIGINT) AS min_days,
        | round(quantile_cont(lat, 0.5), 4) AS p50,
        | round(quantile_cont(lat, 0.95), 4) AS p95,
        | CAST(max(lat) AS BIGINT) AS max_days
        |FROM (
        | SELECT o.o_orderpriority,
        |  datediff('day', CAST(o.o_orderdate AS DATE),
        |    CAST(l.l_shipdate AS DATE)) AS lat
        | FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    // Referential-integrity audit: orphan counts per foreign-key
    // relation, with a simulated parent loss (customers with key%7=0
    // treated as purged) so the audit exercises real violations. Each
    // relation is one anti-join — broadcast when the parent key set is
    // small, shuffle otherwise; counts only, nothing wide moves.
    Q("q123_fk_audit", (s, dir) => {
      val orders = t(s, dir, "orders")
      val liOrph = t(s, dir, "lineitem").select(col("l_orderkey"))
        .join(orders.select(col("o_orderkey")),
          col("l_orderkey") === col("o_orderkey"), "left_anti")
      val custOk = t(s, dir, "customer")
        .filter(col("c_custkey") % 7 =!= 0).select(col("c_custkey"))
      val ordOrph = orders.select(col("o_custkey"))
        .join(custOk, col("o_custkey") === col("c_custkey"), "left_anti")
      liOrph.agg(lit("lineitem->orders").as("relation"),
          count(lit(1)).as("n_orphans"))
        .union(ordOrph.agg(lit("orders->customer(purged)").as("relation"),
          count(lit(1)).as("n_orphans")))
        .orderBy("relation")
    }, oracle =
      """SELECT 'lineitem->orders' AS relation, count(*) AS n_orphans
        |FROM lineitem WHERE l_orderkey NOT IN
        | (SELECT o_orderkey FROM orders WHERE o_orderkey IS NOT NULL)
        |UNION ALL
        |SELECT 'orders->customer(purged)', count(*)
        |FROM orders WHERE o_custkey NOT IN
        | (SELECT c_custkey FROM customer
        |  WHERE c_custkey % 7 <> 0 AND c_custkey IS NOT NULL)
        |ORDER BY relation""".stripMargin),

    // Rollup re-aggregation: build DAILY partials once, then derive the
    // monthly report from the partials — the lakehouse pattern where
    // month-level queries never rescan raw data. Counts/sums re-aggregate
    // losslessly; the mean is derived at read time (sum/count), never
    // averaged-of-averages. DECIMAL partials keep the merge exact.
    Q("q124_rollup_merge", (s, dir) => {
      val daily = t(s, dir, "orders")
        .groupBy(date_trunc("day", col("o_orderdate")).as("day"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(DecimalType(38, 6))).as("rev"))
      daily
        .groupBy(date_trunc("month", col("day")).as("month"))
        .agg(sum(col("n")).as("n_orders"),
          round(sum(col("rev")).cast("double"), 4).as("revenue"),
          // money ÷ count lands exactly on half-way rounding boundaries
          // (cents are finite decimals), where engines' double rounding
          // disagrees — so the derived mean is exact integer
          // micro-units via floor division, never a rounded double
          (sum(col("rev")) * 1000000).cast("long")
            .as("rev_micro"))
        .withColumn("avg_price_micro",
          expr("rev_micro DIV n_orders"))
        .select(col("month"), col("n_orders"), col("revenue"),
          col("avg_price_micro"))
        .orderBy("month")
    }, oracle =
      """WITH daily AS (
        | SELECT date_trunc('day', o_orderdate) AS day, count(*) AS n,
        |  sum(CAST(o_totalprice AS DECIMAL(38,6))) AS rev
        | FROM orders GROUP BY 1)
        |SELECT date_trunc('month', day) AS month,
        | CAST(sum(n) AS BIGINT) AS n_orders,
        | round(CAST(sum(rev) AS DOUBLE), 4) AS revenue,
        | CAST(CAST(sum(rev) * 1000000 AS BIGINT) // CAST(sum(n) AS BIGINT)
        |   AS BIGINT) AS avg_price_micro
        |FROM daily GROUP BY month ORDER BY month""".stripMargin),

    // Session bounce rate: sessionize (30-min inactivity gap, the q29
    // machinery), then classify each session by its ENTRY event type and
    // report the share that bounced (single-event sessions). Two
    // windows, both partitioned by user; the per-session reduce and the
    // final per-entry-type rollup are ordinary partial aggregates.
    Q("q125_bounce_rate", (s, dir) => {
      val byTime = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val sess = t(s, dir, "events")
        .withColumn("gap", unix_micros(col("ts"))
          - lag(unix_micros(col("ts")), 1).over(byTime))
        .withColumn("new_s",
          when(col("gap").isNull || col("gap") > 1800L * 1000000L, 1L)
            .otherwise(0L))
        .withColumn("session_id", sum(col("new_s")).over(byTime))
      sess.groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          min(struct(col("ts"), col("event_id"), col("event_type")))
            .getField("event_type").as("entry_type"))
        .groupBy("entry_type")
        .agg(count(lit(1)).as("n_sessions"),
          sum(when(col("n_events") === 1, 1L).otherwise(0L))
            .as("n_bounces"))
        .withColumn("bounce_rate",
          round(col("n_bounces").cast("double") / col("n_sessions"), 4))
        .orderBy("entry_type")
    }, oracle =
      """WITH g AS (
        | SELECT user_id, ts, event_id, event_type,
        |  epoch_us(ts) - lag(epoch_us(ts)) OVER w AS gap
        | FROM events WINDOW w AS (PARTITION BY user_id
        |   ORDER BY ts, event_id)),
        |s AS (
        | SELECT *, sum(CASE WHEN gap IS NULL OR gap > 1800 * 1000000
        |     THEN 1 ELSE 0 END) OVER (PARTITION BY user_id
        |   ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING
        |   AND CURRENT ROW) AS session_id
        | FROM g),
        |per AS (
        | SELECT user_id, session_id, count(*) AS n_events,
        |  min(struct_pack(ts := ts, event_id := event_id,
        |    event_type := event_type)).event_type AS entry_type
        | FROM s GROUP BY user_id, session_id)
        |SELECT entry_type, count(*) AS n_sessions,
        | CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_bounces,
        | round(CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
        |     AS DOUBLE) / count(*), 4) AS bounce_rate
        |FROM per GROUP BY entry_type ORDER BY entry_type""".stripMargin),

    // Value streaks (gaps-and-islands): each user's longest run of the
    // same consecutive event_type. Two window ranks over the same
    // (user, time) partitioning — their difference is constant within a
    // run — then one grouped max. All ranks partition by user: parallel,
    // never global.
    Q("q127_event_streaks", (s, dir) => {
      val byTime = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val byTypeTime = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          (row_number().over(byTime) - row_number().over(byTypeTime))
            .as("island"))
        .groupBy("user_id", "event_type", "island")
        .agg(count(lit(1)).as("len"))
        .groupBy("user_id")
        .agg(max(col("len")).as("max_streak"))
        .orderBy("user_id")
    }, oracle =
      """WITH i AS (
        | SELECT user_id, event_type,
        |  row_number() OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id)
        |  - row_number() OVER (PARTITION BY user_id, event_type
        |    ORDER BY ts, event_id) AS island
        | FROM events),
        |runs AS (
        | SELECT user_id, count(*) AS len FROM i
        | GROUP BY user_id, event_type, island)
        |SELECT user_id, max(len) AS max_streak FROM runs
        |GROUP BY user_id ORDER BY user_id""".stripMargin),

    // Market-basket pair mining: co-occurring part pairs within an
    // order. The self-join is keyed on the order — pair fan-out is
    // bounded by basket size (≤ lines-per-order), never corpus-quadratic
    // — and pair counts partial-aggregate map-side. Top 20 by support
    // with a deterministic tiebreak.
    Q("q128_basket_pairs", (s, dir) => {
      // one shuffle to assemble each order's basket (collect_set dedups
      // in the aggregation — baskets are bounded-small, so the array
      // fits task memory at any corpus size), then the i<j pairs explode
      // INSIDE the row: no distinct exchange, no self-join. Replaces the
      // distinct + ok-keyed self-join plan (3 exchanges → 2), r5 bench
      // 2.3 → 0.6 s at sf0.1.
      // the orderkey repartition is EXPLICIT so AQE's byte-based
      // coalescing can't serialize the downstream pair explode (the
      // CPU-heavy stage over byte-small baskets) onto a few tasks; it
      // is the same exchange the basket aggregation needs, so no extra
      // shuffle exists at any scale
      val basket = t(s, dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .repartition(s.sparkContext.defaultParallelism, col("l_orderkey"))
        .groupBy(col("l_orderkey").as("ok"))
        .agg(sort_array(collect_set(col("l_partkey"))).as("parts"))
      basket
        // codegen'd one-pass pair expansion (the nested HOF chain
        // evaluated interpreted per element; identical pair order)
        .select(explode(graft.functions.ArrayPairsExpr
          .pairs(col("parts"))).as("pr"))
        .groupBy(col("pr.p1").as("p1"), col("pr.p2").as("p2"))
        .agg(count(lit(1)).as("support"))
        .orderBy(desc("support"), asc("p1"), asc("p2"))
        .limit(20)
    }, oracle =
      """WITH li AS (
        | SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem)
        |SELECT a.pk AS p1, b.pk AS p2, count(*) AS support
        |FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |GROUP BY p1, p2
        |ORDER BY support DESC, p1, p2 LIMIT 20""".stripMargin),

    // Ratio-to-parent: each nation's share of its region's revenue —
    // the hierarchy-percentage OLAP pattern. One fact aggregate at the
    // leaf level; the parent total is a window over the (tiny) nation
    // rollup, not a second scan of the fact table. Customer is SF-linear
    // so it joins plain (AQE broadcasts small cases at runtime); only
    // schema-bounded nation/region keep the hint.
    Q("q129_share_of_region", (s, dir) => {
      val byNation = t(s, dir, "orders")
        .join(t(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name").as("region"), col("n_name").as("nation"))
        // keep the DECIMAL until after the parent window-sum: a window
        // sum of doubles is partition-order-dependent
        .agg(sum(col("o_totalprice").cast(DecimalType(38, 6))).as("rev"))
      val wr = Window.partitionBy(col("region"))
      byNation
        .select(col("region"), col("nation"),
          round(col("rev").cast("double"), 4).as("revenue"),
          round(col("rev").cast("double")
            / sum(col("rev")).over(wr).cast("double"), 6)
            .as("share_of_region"))
        .orderBy("region", "nation")
    }, oracle =
      """WITH n AS (
        | SELECT r.r_name AS region, n.n_name AS nation,
        |  sum(CAST(o.o_totalprice AS DECIMAL(38,6))) AS rev
        | FROM orders o
        | JOIN customer c ON o.o_custkey = c.c_custkey
        | JOIN nation n ON c.c_nationkey = n.n_nationkey
        | JOIN region r ON n.n_regionkey = r.r_regionkey
        | GROUP BY 1, 2)
        |SELECT region, nation,
        | round(CAST(rev AS DOUBLE), 4) AS revenue,
        | round(CAST(rev AS DOUBLE)
        |   / CAST(sum(rev) OVER (PARTITION BY region) AS DOUBLE), 6)
        |   AS share_of_region
        |FROM n ORDER BY region, nation""".stripMargin),

    // rank() with ties kept: every supplier tied for the most line
    // items in its nation — where row_number would arbitrarily keep
    // one, rank keeps the whole tie group (and is deterministic
    // BECAUSE it keeps it).
    Q("q130_rank_ties", (s, dir) => {
      val counts = t(s, dir, "supplier")
        .join(t(s, dir, "lineitem"),
          col("s_suppkey") === col("l_suppkey"))
        .groupBy(col("s_nationkey"), col("s_suppkey"))
        .agg(count(lit(1)).as("n_items"))
      val w = Window.partitionBy(col("s_nationkey"))
        .orderBy(desc("n_items"))
      counts.withColumn("rk", rank().over(w))
        .filter(col("rk") === 1)
        .select(col("s_nationkey"), col("s_suppkey"), col("n_items"))
        .orderBy("s_nationkey", "s_suppkey")
    }, oracle =
      """WITH c AS (
        | SELECT s.s_nationkey, s.s_suppkey, count(*) AS n_items
        | FROM supplier s JOIN lineitem l ON s.s_suppkey = l.l_suppkey
        | GROUP BY 1, 2)
        |SELECT s_nationkey, s_suppkey, n_items FROM (
        | SELECT *, rank() OVER (PARTITION BY s_nationkey
        |   ORDER BY n_items DESC) AS rk FROM c)
        |WHERE rk = 1 ORDER BY s_nationkey, s_suppkey""".stripMargin),

    // Distribution drift: total-variation distance between the
    // event-type mix of the first and second halves of the stream — the
    // monitoring check that catches a pipeline silently changing its
    // input mix. TVD = ½·Σ|p_i − q_i| over exact integer counts (ln- or
    // KL-based drift scores are not engine-portable; TVD is), one
    // grouped pass + a per-type report with the scalar distance on
    // every row.
    Q("q120_distribution_drift", (s, dir) => {
      val e = t(s, dir, "events")
      val mid = e.agg(floor((min(unix_micros(col("ts")))
        + max(unix_micros(col("ts")))) / 2).as("mid"))
      val halves = e.crossJoin(broadcast(mid))
        .select(col("event_type"),
          when(unix_micros(col("ts")) < col("mid"), 1L).otherwise(0L)
            .as("h1"))
      val counts = halves.groupBy("event_type")
        .agg(sum(col("h1")).as("n1"),
          sum(lit(1L) - col("h1")).as("n2"))
      val tot = counts.agg(sum(col("n1")).as("t1"), sum(col("n2")).as("t2"))
      counts.crossJoin(broadcast(tot))
        .select(col("event_type"), col("n1"), col("n2"),
          round(abs(col("n1").cast("double") / col("t1")
            - col("n2").cast("double") / col("t2")), 6).as("abs_diff"))
        .orderBy("event_type")
    }, oracle =
      """WITH mid AS (
        | SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS mid
        | FROM events),
        |c AS (
        | SELECT event_type,
        |  sum(CASE WHEN epoch_us(ts) < (SELECT mid FROM mid)
        |      THEN 1 ELSE 0 END) AS n1,
        |  sum(CASE WHEN epoch_us(ts) < (SELECT mid FROM mid)
        |      THEN 0 ELSE 1 END) AS n2
        | FROM events GROUP BY event_type),
        |t AS (SELECT sum(n1) AS t1, sum(n2) AS t2 FROM c)
        |SELECT event_type, CAST(n1 AS BIGINT) AS n1,
        | CAST(n2 AS BIGINT) AS n2,
        | round(abs(CAST(n1 AS DOUBLE) / (SELECT t1 FROM t)
        |   - CAST(n2 AS DOUBLE) / (SELECT t2 FROM t)), 6) AS abs_diff
        |FROM c ORDER BY event_type""".stripMargin),

    // Timezone-aware rollup: events keyed by their LOCAL wall-clock hour
    // (America/Chicago — the reference is a Nashville service; IANA
    // rules, DST-correct). from_utc_timestamp shifts inside the
    // projection, so the rollup is still one partial-aggregated pass —
    // timezone math never forces a shuffle or a UDF.
    Q("q117_local_hour_rollup", (s, dir) => {
      t(s, dir, "events")
        // long, not Spark hour()'s int: DuckDB hour() is BIGINT and the
        // gate pins the integer class on both sides
        .groupBy(hour(from_utc_timestamp(col("ts"), "America/Chicago"))
          .cast("long").as("local_hour"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value").cast(DecimalType(38, 6))).cast("double"),
            4).as("sum_value"))
        .orderBy("local_hour")
    }, oracle =
      """SELECT hour(timezone('America/Chicago', timezone('UTC', ts)))
        |   AS local_hour,
        | count(*) AS n,
        | round(CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE), 4)
        |   AS sum_value
        |FROM events GROUP BY local_hour ORDER BY local_hour""".stripMargin),

    // Time-series gap fill with LINEAR interpolation: per-user daily value
    // series, missing days filled as prev + (next−prev)·(d−d0)/(d1−d0).
    // The whole series lives in integer cents (decimal day-sum × 100 is
    // integral before the BIGINT cast, so no truncate-vs-round cast
    // divergence) and the interpolation is integral DIV — exact in any
    // engine. Shape at 100 TB: one groupBy to daily grain, a per-user
    // min/max + sequence explode for the spine (never a calendar cross
    // join), and the four neighbor lookups share ONE user-ordered window
    // exchange. Min/max days are present by construction, so every gap
    // is interior.
    Q("q153_gap_fill", (s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(col("user_id"),
          datediff(date_trunc("day", col("ts")).cast("date"),
            lit("1970-01-01").cast("date")).cast("long").as("ed"))
        .agg((sum(col("value").cast(DecimalType(20, 2))) * 100)
          .cast("long").as("cents"))
      val spine = daily.groupBy("user_id")
        .agg(min(col("ed")).as("mn"), max(col("ed")).as("mx"))
        .select(col("user_id"),
          explode(sequence(col("mn"), col("mx"))).as("ed"))
      val w = Window.partitionBy("user_id").orderBy("ed")
      val before = w.rowsBetween(Window.unboundedPreceding, -1)
      val after = w.rowsBetween(1, Window.unboundedFollowing)
      spine.join(daily, Seq("user_id", "ed"), "left")
        .withColumn("pv", last(col("cents"), ignoreNulls = true).over(before))
        .withColumn("ped", last(when(col("cents").isNotNull, col("ed")),
          ignoreNulls = true).over(before))
        .withColumn("nv", first(col("cents"), ignoreNulls = true).over(after))
        .withColumn("ned", first(when(col("cents").isNotNull, col("ed")),
          ignoreNulls = true).over(after))
        .select(col("user_id"), col("ed"),
          when(col("cents").isNotNull, col("cents"))
            .otherwise(col("pv") + ldiv(
              (col("nv") - col("pv")) * (col("ed") - col("ped")),
              col("ned") - col("ped"))).as("cents"),
          col("cents").isNull.cast("long").as("was_gap"))
        .orderBy("user_id", "ed")
    }, oracle =
      """WITH ud AS (
        | SELECT user_id,
        |  date_diff('day', DATE '1970-01-01',
        |    CAST(date_trunc('day', ts) AS DATE)) AS ed,
        |  CAST(sum(CAST(value AS DECIMAL(20,2))) * 100 AS BIGINT) AS cents
        | FROM events GROUP BY 1, 2),
        |sp AS (
        | SELECT user_id, unnest(range(min(ed), max(ed) + 1)) AS ed
        | FROM ud GROUP BY user_id),
        |j AS (
        | SELECT sp.user_id, sp.ed, ud.cents
        | FROM sp LEFT JOIN ud ON ud.user_id = sp.user_id AND ud.ed = sp.ed),
        |w AS (
        | SELECT user_id, ed, cents,
        |  last_value(cents IGNORE NULLS) OVER (PARTITION BY user_id
        |    ORDER BY ed ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |    AS pv,
        |  last_value(CASE WHEN cents IS NOT NULL THEN ed END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY ed
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS ped,
        |  first_value(cents IGNORE NULLS) OVER (PARTITION BY user_id
        |    ORDER BY ed ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
        |    AS nv,
        |  first_value(CASE WHEN cents IS NOT NULL THEN ed END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY ed
        |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS ned
        | FROM j)
        |SELECT user_id, ed,
        | CASE WHEN cents IS NOT NULL THEN cents
        |      ELSE pv + (nv - pv) * (ed - ped) // (ned - ped) END AS cents,
        | CAST(cents IS NULL AS BIGINT) AS was_gap
        |FROM w ORDER BY user_id, ed""".stripMargin),

    // Debounce (burst-collapse dedup): an event repeating the same type
    // within 2 h of its predecessor is a burst member; only burst STARTS
    // survive. The telemetry-log dedup that precedes any training run on
    // event data. One-exchange discipline: the window partitions by
    // user_id alone and orders by (event_type, ts, event_id) — the type
    // change is detected by lag() instead of a second partition key — so
    // the burst flags AND the per-user rollup share a single user_id
    // exchange. Gaps compared in integer µs; suppression share in exact
    // basis points.
    Q("q158_debounce", (s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("event_type"), col("ts"), col("event_id"))
      t(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("ts"),
          col("event_id"))
        .withColumn("pt", lag(col("event_type"), 1).over(w))
        .withColumn("pus", lag(unix_micros(col("ts")), 1).over(w))
        .withColumn("starts_burst",
          when(col("pt").isNull || col("pt") =!= col("event_type") ||
            unix_micros(col("ts")) - col("pus") > 7200000000L, 1L)
            .otherwise(0L))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          sum(col("starts_burst")).as("n_kept"))
        .select(col("user_id"), col("n_events"), col("n_kept"),
          ldiv((col("n_events") - col("n_kept")) * lit(10000L),
            col("n_events")).as("suppressed_bp"))
        .orderBy("user_id")
    }, oracle =
      """WITH g AS (
        | SELECT user_id, event_type, ts, event_id,
        |  lag(event_type) OVER (PARTITION BY user_id
        |    ORDER BY event_type, ts, event_id) AS pt,
        |  lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |    ORDER BY event_type, ts, event_id) AS pus
        | FROM events),
        |f AS (
        | SELECT user_id,
        |  CASE WHEN pt IS NULL OR pt <> event_type
        |        OR epoch_us(ts) - pus > 7200000000 THEN 1 ELSE 0 END
        |   AS starts_burst
        | FROM g)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        | CAST(sum(starts_burst) AS BIGINT) AS n_kept,
        | CAST((count(*) - sum(starts_burst)) * 10000 // count(*)
        |   AS BIGINT) AS suppressed_bp
        |FROM f GROUP BY user_id ORDER BY user_id""".stripMargin),

    // Poisson bootstrap (10 replicas) of the mean event value — THE
    // one-pass way to put error bars on a pipeline metric at 100 TB:
    // true resampling needs n draws over the whole dataset per replica
    // (a shuffle per replica, coordination for the multinomial);
    // Poisson(1) weights approximate it with an independent per-row
    // draw (Chamandy et al., "Estimating Uncertainty for Massive Data
    // Streams"). The draw reuses the q184 stateless mixer over
    // (event_id, replica) — reproducible on any executor/retry with no
    // RNG state — and the Poisson(1) inverse CDF is a CASE ladder over
    // INTEGER thresholds (quantized at 10⁶, identical constants both
    // engines; the mod-10⁶ projection of the mixer is uniform enough
    // for a resampling draw and, more importantly, DEFINED). Values
    // ride as floor-cents, means as integral DIV — no float anywhere.
    // Shape: one explode(×10) over the scan into a map-side-combined
    // 10-group aggregate; no join, no window, no second pass.
    Q("q190_poisson_bootstrap", (s, dir) => {
      val m = lit(2147483647L)
      val h1 = (col("event_id") * 48271L + col("b") * 16807L
        + 12345L) % m
      val u = ((h1 * 48271L) % m) % 1000000L
      val pw = when(u < 367879L, 0L).when(u < 735759L, 1L)
        .when(u < 919699L, 2L).when(u < 981012L, 3L)
        .when(u < 996340L, 4L).when(u < 999406L, 5L)
        .when(u < 999917L, 6L).when(u < 999990L, 7L).otherwise(8L)
      t(s, dir, "events")
        .select(col("event_id"),
          floor(col("value") * 100).cast("long").as("cents"))
        .select(col("event_id"), col("cents"),
          explode(sequence(lit(0L), lit(9L))).as("b"))
        .select(col("b"), pw.as("w"), col("cents"))
        .groupBy("b")
        .agg(sum(col("w")).as("n_drawn"),
          sum(col("w") * col("cents")).as("wsum"))
        .select(col("b"), col("n_drawn"),
          ldiv(col("wsum"), col("n_drawn")).as("mean_cents"))
        .orderBy("b")
    }, oracle =
      """WITH e AS (
        | SELECT event_id,
        |  CAST(floor(value * 100) AS BIGINT) AS cents,
        |  unnest(range(0, 10)) AS b
        | FROM events),
        |w AS (
        | SELECT b, cents,
        |  CASE WHEN u < 367879 THEN 0 WHEN u < 735759 THEN 1
        |       WHEN u < 919699 THEN 2 WHEN u < 981012 THEN 3
        |       WHEN u < 996340 THEN 4 WHEN u < 999406 THEN 5
        |       WHEN u < 999917 THEN 6 WHEN u < 999990 THEN 7
        |       ELSE 8 END AS w
        | FROM (SELECT b, cents,
        |   ((event_id * 48271 + b * 16807 + 12345) % 2147483647)
        |     * 48271 % 2147483647 % 1000000 AS u
        |  FROM e))
        |SELECT b, CAST(sum(w) AS BIGINT) AS n_drawn,
        | CAST(CAST(sum(w * cents) AS HUGEINT)
        |   // CAST(sum(w) AS HUGEINT) AS BIGINT) AS mean_cents
        |FROM w GROUP BY b ORDER BY b""".stripMargin),

    // 5%-trimmed mean of event values per type — the robust metric for
    // skew/outlier-heavy telemetry (a winsorized cousin of q89's
    // z-gate). Exact: values as floor-cents, trim count k = n DIV 20
    // PER SIDE selected by a deterministic (cents, event_id) rank —
    // every engine drops the same rows — and the kept mean is integral
    // DIV. The rank and count windows and the final rollup all share
    // ONE event_type exchange (the q140-family plan discipline).
    Q("q194_trimmed_mean", (s, dir) => {
      val w = Window.partitionBy("event_type")
        .orderBy(col("cents"), col("event_id"))
      val wAll = Window.partitionBy("event_type")
      t(s, dir, "events")
        .select(col("event_type"), col("event_id"),
          floor(col("value") * 100).cast("long").as("cents"))
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(wAll))
        .withColumn("k", ldiv(col("n"), lit(20L)))
        .filter(col("rn") > col("k") && col("rn") <= col("n") - col("k"))
        .groupBy("event_type")
        .agg(max(col("n")).as("n_events"),
          count(lit(1)).as("n_kept"),
          ldiv(sum(col("cents")), count(lit(1))).as("trimmed_mean_cents"))
        .orderBy("event_type")
    }, oracle =
      """WITH e AS (
        | SELECT event_type, event_id,
        |  CAST(floor(value * 100) AS BIGINT) AS cents
        | FROM events),
        |r AS (
        | SELECT event_type, cents,
        |  row_number() OVER (PARTITION BY event_type
        |    ORDER BY cents, event_id) AS rn,
        |  count(*) OVER (PARTITION BY event_type) AS n
        | FROM e)
        |SELECT event_type, CAST(max(n) AS BIGINT) AS n_events,
        | CAST(count(*) AS BIGINT) AS n_kept,
        | CAST(CAST(sum(cents) AS HUGEINT)
        |   // CAST(count(*) AS HUGEINT) AS BIGINT) AS trimmed_mean_cents
        |FROM r WHERE rn > n // 20 AND rn <= n - n // 20
        |GROUP BY event_type ORDER BY event_type""".stripMargin),

    // CUSUM changepoint localization per event type: the day where the
    // cumulative deviation of daily revenue from its mean peaks — the
    // standard level-shift detector (Page 1954). Exactness trick: the
    // mean is rational, so every residual is multiplied through by
    // n_days — cusum'_d = Σ_{d'≤d} (n·x_{d'} − total) is a pure BIGINT
    // series with the same argmax, and no division happens at all
    // until... never. Ties break to the EARLIEST day (argmax by
    // (-|cusum|, day) rank). Shape: the corpus-sized pass is one
    // (type, day) rollup; the windows run over the day-series (≤ a few
    // thousand rows per type at any corpus size — days, not events).
    Q("q196_cusum_changepoint", (s, dir) => {
      val daily = t(s, dir, "events")
        .select(col("event_type"), to_date(col("ts")).as("d"),
          floor(col("value") * 100).cast("long").as("cents"))
        .groupBy("event_type", "d")
        .agg(sum(col("cents")).as("x"))
      val wAll = Window.partitionBy("event_type")
      val wCum = Window.partitionBy("event_type").orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
      val wPick = Window.partitionBy("event_type")
        .orderBy(desc("abs_cusum"), asc("d"))
      daily
        .withColumn("n", count(lit(1)).over(wAll))
        .withColumn("total", sum(col("x")).over(wAll))
        .withColumn("cusum",
          sum(col("x") * col("n") - col("total")).over(wCum))
        .withColumn("abs_cusum", abs(col("cusum")))
        .withColumn("rn", row_number().over(wPick))
        .filter(col("rn") === 1)
        .select(col("event_type"), col("n").as("n_days"),
          col("d").as("cp_day"), col("abs_cusum").as("max_abs_cusum"))
        .orderBy("event_type")
    }, oracle =
      """WITH daily AS (
        | SELECT event_type, CAST(ts AS DATE) AS d,
        |  CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS x
        | FROM events GROUP BY event_type, CAST(ts AS DATE)),
        |st AS (
        | SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(x) AS BIGINT) AS total
        | FROM daily GROUP BY event_type),
        |c AS (
        | SELECT daily.event_type, d, st.n,
        |  abs(sum(x * st.n - st.total) OVER (
        |    PARTITION BY daily.event_type ORDER BY d
        |    ROWS UNBOUNDED PRECEDING)) AS abs_cusum
        | FROM daily JOIN st ON daily.event_type = st.event_type),
        |p AS (
        | SELECT *, row_number() OVER (PARTITION BY event_type
        |   ORDER BY abs_cusum DESC, d) AS rn
        | FROM c)
        |SELECT event_type, n AS n_days, d AS cp_day,
        | CAST(abs_cusum AS BIGINT) AS max_abs_cusum
        |FROM p WHERE rn = 1 ORDER BY event_type""".stripMargin),

    // Revenue Pareto concentration per region: the smallest customer
    // head covering ≥80% of order revenue — the 80/20 report behind
    // data-mixing and capacity decisions alike. Exact: revenue in
    // floor-cents, the 80% test cross-multiplied (cum·5 ≥ total·4 — no
    // percentage division anywhere), head selected by deterministic
    // (rev desc, custkey) rank. The fact-table pass is one per-customer
    // rollup; ranks and cumulative sums run over the customer aggregate
    // (customer-sized, region-partitioned), never over orders.
    Q("q198_pareto_revenue", (s, dir) => {
      val custRegion = t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")
          .select(col("n_nationkey"), col("n_regionkey"))),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")
          .select(col("r_regionkey"), col("r_name"))),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("c_custkey"), col("r_name").as("region"))
      val rev = t(s, dir, "orders")
        .select(col("o_custkey"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
        .groupBy("o_custkey").agg(sum(col("cents")).as("rev"))
        .join(custRegion, col("o_custkey") === col("c_custkey"))
      val wRank = Window.partitionBy("region")
        .orderBy(desc("rev"), asc("c_custkey"))
      val wAll = Window.partitionBy("region")
      rev
        .withColumn("rn", row_number().over(wRank))
        .withColumn("cum", sum(col("rev")).over(wRank
          .rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("total", sum(col("rev")).over(wAll))
        .withColumn("n_cust", count(lit(1)).over(wAll))
        .filter(col("cum") * 5 >= col("total") * 4)
        .groupBy("region")
        .agg(max(col("n_cust")).as("n_customers"),
          min(col("rn")).cast("long").as("head_customers"))
        .select(col("region"), col("n_customers"), col("head_customers"),
          ldiv(col("head_customers") * lit(10000L), col("n_customers"))
            .as("head_share_bp"))
        .orderBy("region")
    }, oracle =
      """WITH cr AS (
        | SELECT c.c_custkey, r.r_name AS region
        | FROM customer c
        | JOIN nation n ON c.c_nationkey = n.n_nationkey
        | JOIN region r ON n.n_regionkey = r.r_regionkey),
        |rv AS (
        | SELECT o_custkey,
        |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
        |    AS BIGINT) AS rev
        | FROM orders GROUP BY o_custkey),
        |j AS (
        | SELECT cr.region, cr.c_custkey, rv.rev FROM rv
        | JOIN cr ON rv.o_custkey = cr.c_custkey),
        |w AS (
        | SELECT region, rev,
        |  row_number() OVER (PARTITION BY region
        |    ORDER BY rev DESC, c_custkey) AS rn,
        |  sum(rev) OVER (PARTITION BY region
        |    ORDER BY rev DESC, c_custkey ROWS UNBOUNDED PRECEDING)
        |    AS cum,
        |  sum(rev) OVER (PARTITION BY region) AS total,
        |  count(*) OVER (PARTITION BY region) AS n_cust
        | FROM j)
        |SELECT region, CAST(max(n_cust) AS BIGINT) AS n_customers,
        | CAST(min(rn) AS BIGINT) AS head_customers,
        | CAST(min(rn) * 10000 // max(n_cust) AS BIGINT)
        |   AS head_share_bp
        |FROM w WHERE cum * 5 >= total * 4
        |GROUP BY region ORDER BY region""".stripMargin),

    // Weekday seasonality index per event type: mean daily revenue on
    // each weekday vs the overall daily mean, as basis points. The two
    // rational means never materialize — the ratio is cross-multiplied
    // into one integral DIV over DECIMAL-cast products (wd_sum ·
    // total_days · 10⁴ crosses BIGINT at planet scale; decimal is exact
    // to 38 digits and loud beyond — the q104 rule). Weekday is
    // 0=Sunday on both engines (Spark dayofweek−1, DuckDB dayofweek).
    // The corpus pass is one (type, day) rollup; everything after is
    // day-series-sized.
    Q("q199_weekday_seasonality", (s, dir) => {
      val dec = DecimalType(38, 0)
      val daily = t(s, dir, "events")
        .select(col("event_type"), to_date(col("ts")).as("d"),
          floor(col("value") * 100).cast("long").as("cents"))
        .groupBy("event_type", "d")
        .agg(sum(col("cents")).as("x"))
        .withColumn("dow", (dayofweek(col("d")) - 1).cast("long"))
      val tot = daily.groupBy("event_type")
        .agg(count(lit(1)).as("tdays"), sum(col("x")).as("tsum"))
      daily.groupBy("event_type", "dow")
        .agg(count(lit(1)).as("n_days"), sum(col("x")).as("wsum"))
        .join(broadcast(tot), "event_type")
        .select(col("event_type"), col("dow"), col("n_days"),
          ldiv(col("wsum").cast(dec) * col("tdays") * lit(10000L),
            col("n_days").cast(dec) * col("tsum")).as("idx_bp"))
        .orderBy("event_type", "dow")
    }, oracle =
      """WITH daily AS (
        | SELECT event_type, CAST(ts AS DATE) AS d,
        |  CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS x
        | FROM events GROUP BY event_type, CAST(ts AS DATE)),
        |tot AS (
        | SELECT event_type, CAST(count(*) AS BIGINT) AS tdays,
        |  CAST(sum(x) AS BIGINT) AS tsum
        | FROM daily GROUP BY event_type),
        |wd AS (
        | SELECT event_type, CAST(dayofweek(d) AS BIGINT) AS dow,
        |  CAST(count(*) AS BIGINT) AS n_days,
        |  CAST(sum(x) AS BIGINT) AS wsum
        | FROM daily GROUP BY event_type, dayofweek(d))
        |SELECT wd.event_type, wd.dow, wd.n_days,
        | CAST(CAST(wd.wsum AS HUGEINT) * tot.tdays * 10000
        |   // (CAST(wd.n_days AS HUGEINT) * tot.tsum) AS BIGINT)
        |  AS idx_bp
        |FROM wd JOIN tot ON wd.event_type = tot.event_type
        |ORDER BY wd.event_type, wd.dow""".stripMargin),

    // Time-decayed popularity: each event contributes 1024 >> age_weeks
    // (halving per week, floored at 10 weeks) relative to the corpus's
    // own max timestamp — EXACT integer halving instead of exp(−λt),
    // so the decayed score has a defined cross-engine value (the q124
    // no-rounded-doubles rule applied to decay curves). Reference
    // instant is a broadcast scalar; the scan folds straight into an
    // event_type-sized rollup.
    Q("q265_decayed_popularity", (s, dir) => {
      val ref = t(s, dir, "events")
        .agg(max(col("ts").cast("long")).as("ref"))
      t(s, dir, "events")
        .select(col("event_type"), col("ts").cast("long").as("ep"))
        .crossJoin(broadcast(ref))
        .withColumn("age_weeks", ldiv(col("ref") - col("ep"), lit(604800L)))
        .withColumn("w", expr(
          "cast(shiftright(1024, cast(least(age_weeks, 10) as int)) as bigint)"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(col("w")).as("decay_score"),
          max(col("age_weeks")).as("max_age_weeks"))
        .orderBy(desc("decay_score"), asc("event_type"))
    }, oracle =
      """WITH m AS (
        | SELECT max(CAST(epoch(ts) AS BIGINT)) AS ref FROM events),
        |w AS (
        | SELECT event_type,
        |  (m.ref - CAST(epoch(ts) AS BIGINT)) // 604800 AS age_weeks
        | FROM events, m)
        |SELECT event_type, count(*) AS n_events,
        | CAST(sum(1024 >> least(age_weeks, 10)) AS BIGINT) AS decay_score,
        | CAST(max(age_weeks) AS BIGINT) AS max_age_weeks
        |FROM w GROUP BY event_type
        |ORDER BY decay_score DESC, event_type""".stripMargin),

    // Event-path signature mining (q110 lists each user's first-5
    // path; this MINES the frequency of full journeys across users —
    // pattern discovery, not per-user listing): each user's full (ts, event_id)-
    // ordered event-type sequence collapses to one md5 signature; the
    // report is the top-25 most common journeys — the pattern-mining
    // readout behind funnel design. Per-user collect is bounded by a
    // user's own history (never corpus-sized), order is pinned by
    // array_sort over (µs, event_id) structs — no window at all — and
    // the signature rollup is path-cardinality-sized with map-side
    // combine. Ties in n_users break on the signature itself.
    Q("q272_path_signatures", (s, dir) => {
      val paths = t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(array_sort(collect_list(struct(
            unix_micros(col("ts")).as("us"),
            col("event_id").as("eid"),
            col("event_type").as("et")))).as("evs"))
        .select(col("user_id"),
          concat_ws(">",
            transform(col("evs"), e => e.getField("et"))).as("path"),
          size(col("evs")).cast("long").as("path_len"))
      paths
        .select(md5(col("path").cast("binary")).as("path_md5"),
          col("path_len"), col("user_id"))
        .groupBy("path_md5")
        .agg(count(lit(1)).as("n_users"),
          min(col("path_len")).as("path_len"),
          min(col("user_id")).as("min_user_id"))
        .orderBy(desc("n_users"), asc("path_md5"))
        .limit(25)
    }, oracle =
      """WITH p AS (
        | SELECT user_id,
        |  md5(string_agg(event_type, '>' ORDER BY ts, event_id))
        |    AS path_md5,
        |  CAST(count(*) AS BIGINT) AS path_len
        | FROM events GROUP BY user_id)
        |SELECT path_md5, count(*) AS n_users,
        | CAST(min(path_len) AS BIGINT) AS path_len,
        | CAST(min(user_id) AS BIGINT) AS min_user_id
        |FROM p GROUP BY path_md5
        |ORDER BY n_users DESC, path_md5 LIMIT 25""".stripMargin),

    // Benford first-digit audit — the fraud/synthetic-data screen:
    // observed first-significant-digit shares of order totals against
    // Benford's log10(1+1/d) expectation. The expected shares are
    // e4-rounded CONSTANTS (summing to exactly 10000) shared by query
    // and oracle, so the whole audit is exact integers: digit via
    // string head of the positive cents value (identical cast rules
    // both engines), shares and deviations in bp via IntegralDivide.
    // One scan → 9-row rollup with map-side combine.
    Q("q280_benford_audit", (s, dir) => {
      val benford = Seq(1 -> 3010L, 2 -> 1761L, 3 -> 1249L, 4 -> 969L,
        5 -> 792L, 6 -> 669L, 7 -> 580L, 8 -> 512L, 9 -> 458L)
      val expCol = benford.tail.foldLeft(
        when(col("digit") === 1, lit(3010L))) { case (acc, (d, e)) =>
        acc.when(col("digit") === d, lit(e))
      }
      val cents = (col("o_totalprice").cast(DecimalType(20, 2)) * 100)
        .cast("long")
      t(s, dir, "orders")
        .filter(col("o_totalprice") > 0)
        .select(substring(cents.cast("string"), 1, 1)
          .cast("long").as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n"))
        .withColumn("total", sum(col("n")).over(Window.partitionBy()))
        .select(col("digit"), col("n"),
          ldiv(col("n") * 10000L, col("total")).as("share_bp"),
          expCol.as("benford_bp"),
          abs(ldiv(col("n") * 10000L, col("total")) - expCol)
            .as("delta_bp"))
        .orderBy("digit")
    }, oracle =
      """WITH d AS (
        | SELECT CAST(substr(CAST(CAST(CAST(o_totalprice AS DECIMAL(20,2))
        |     * 100 AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
        | FROM orders WHERE o_totalprice > 0),
        |g AS (SELECT digit, count(*) AS n FROM d GROUP BY digit),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM g),
        |b AS (SELECT * FROM (VALUES (1, 3010), (2, 1761), (3, 1249),
        |  (4, 969), (5, 792), (6, 669), (7, 580), (8, 512), (9, 458))
        |  AS v(digit, benford_bp))
        |SELECT g.digit, g.n,
        | CAST(g.n * 10000 // t.total AS BIGINT) AS share_bp,
        | CAST(b.benford_bp AS BIGINT) AS benford_bp,
        | CAST(abs(g.n * 10000 // t.total - b.benford_bp) AS BIGINT)
        |   AS delta_bp
        |FROM g JOIN b ON b.digit = g.digit, t
        |ORDER BY g.digit""".stripMargin),

    // Cohort lifetime-value curve (q85/q235 count PRESENCE per cohort
    // week; this accumulates MONEY — the spend curve behind retention
    // economics): users cohort on their first-seen
    // day, revenue accumulates by week offset since that day — the
    // longitudinal spend readout behind retention economics (q235's
    // distinct-actives triangle with money instead of presence).
    // First-seen rollup + join-back co-partition on user_id; the
    // cumulative runs over the (cohort, week)-sized rollup, never raw
    // rows; exact cents end to end.
    Q("q277_cohort_ltv", (s, dir) => {
      val first = t(s, dir, "events")
        .groupBy("user_id")
        .agg(min(to_date(col("ts"))).as("cohort_day"))
      val wk = ldiv(datediff(to_date(col("ts")), col("cohort_day"))
        .cast("long"), lit(7L))
      val weekly = t(s, dir, "events")
        .join(first, "user_id")
        .select(col("cohort_day"), wk.as("week_offset"),
          col("user_id"),
          (col("value").cast(DecimalType(20, 2)) * 100)
            .cast("long").as("cents"))
        .groupBy("cohort_day", "week_offset")
        .agg(countDistinct(col("user_id")).as("n_users"),
          sum(col("cents")).as("rev_cents"))
      val wCum = Window.partitionBy("cohort_day").orderBy("week_offset")
        .rowsBetween(Window.unboundedPreceding, 0)
      weekly
        .withColumn("cum_rev_cents", sum("rev_cents").over(wCum))
        .select(col("cohort_day").cast("string").as("cohort_day"),
          col("week_offset"), col("n_users"), col("rev_cents"),
          col("cum_rev_cents"))
        .orderBy("cohort_day", "week_offset")
    }, oracle =
      """WITH f AS (
        | SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day
        | FROM events GROUP BY user_id),
        |w AS (
        | SELECT f.cohort_day,
        |  CAST(datediff('day', f.cohort_day, CAST(e.ts AS DATE)) // 7
        |    AS BIGINT) AS week_offset,
        |  e.user_id,
        |  CAST(CAST(e.value AS DECIMAL(20,2)) * 100 AS BIGINT) AS cents
        | FROM events e JOIN f ON e.user_id = f.user_id),
        |g AS (
        | SELECT cohort_day, week_offset,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(sum(cents) AS BIGINT) AS rev_cents
        | FROM w GROUP BY cohort_day, week_offset)
        |SELECT CAST(cohort_day AS VARCHAR) AS cohort_day, week_offset,
        | n_users, rev_cents,
        | CAST(sum(rev_cents) OVER (PARTITION BY cohort_day
        |   ORDER BY week_offset ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |   AS cum_rev_cents
        |FROM g ORDER BY cohort_day, week_offset""".stripMargin),
  )
}
