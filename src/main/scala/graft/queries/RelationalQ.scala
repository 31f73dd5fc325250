package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType
import graft.Tables._

/** Generalized relational operator suite over the driver's TPC-H-ish tables.
  *
  * Mirrors the reference's query surface (filter/count/sort/page — SURVEY.md
  * §2.3/§2.5/§2.6, db_extractor.py:28-58) generalized to joins, windows,
  * rollup/cube and set ops per SURVEY.md §2.4/§2.5 notes. Every query is a
  * declarative DataFrame plan: Catalyst pushes filters/projections to the
  * parquet scan, picks broadcast joins for small sides under AQE, and plans
  * LIMIT as TakeOrderedAndProject (no full sort at scale).
  */
object RelationalQ {

  lazy val all: Seq[Q] = Seq(
    // TPC-H Q1-style pricing summary: partial (map-side) agg then final —
    // one shuffle on the 6-value grouping key; decimal sums for exactness.
    Q("q01_pricing_summary", (s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity"), 2).as("sum_qty"),
          dsum(col("l_extendedprice"), 2).as("sum_base_price"),
          sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast(DecimalType(30, 6))).cast("double").as("sum_disc_price"),
          sum((col("l_extendedprice") * (lit(1) - col("l_discount"))
            * (lit(1) + col("l_tax")))
            .cast(DecimalType(30, 8))).cast("double").as("sum_charge"),
          davg(col("l_quantity"), 2).as("avg_qty"),
          davg(col("l_extendedprice"), 2).as("avg_price"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }, oracle =
      """SELECT l_returnflag, l_linestatus,
        | CAST(sum(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(30,2))) AS DOUBLE) AS sum_base_price,
        | CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS sum_disc_price,
        | CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(30,8))) AS DOUBLE) AS sum_charge,
        | CAST(sum(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) / count(*) AS avg_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(30,2))) AS DOUBLE) / count(*) AS avg_price,
        | count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-01'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // Top-k: TakeOrderedAndProject — no global sort, each partition keeps 25.
    Q("q02_topk_orders", (s, dir) => {
      t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
        .limit(25)
    }, oracle =
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 25""".stripMargin),

    // 3-way join; filter pushed below the join; dims broadcast under AQE.
    Q("q03_join_revenue", (s, dir) => {
      val c = t(s, dir, "customer").select("c_custkey", "c_mktsegment")
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp"))
        .select("o_orderkey", "o_custkey")
      val l = t(s, dir, "lineitem")
        .select(col("l_orderkey"),
          (col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast(DecimalType(30, 6)).as("rev"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(sum(col("rev")).cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("c_mktsegment")
    }, oracle =
      """SELECT c_mktsegment,
        | CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS revenue,
        | count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin),

    // DISTINCT projection (SURVEY.md A2: dropdown domains).
    Q("q04_distinct_types", (s, dir) => {
      t(s, dir, "events")
        .select("event_type").where(col("event_type").isNotNull)
        .distinct()
        .orderBy("event_type")
    }, oracle =
      """SELECT DISTINCT event_type FROM events
        |WHERE event_type IS NOT NULL ORDER BY event_type""".stripMargin),

    // Ranking window: top-3 orders per customer (partitioned shuffle once).
    Q("q05_window_top3", (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
        .orderBy("o_custkey", "rn")
    }, oracle =
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        | SELECT o_custkey, o_orderkey, o_totalprice,
        |   CAST(row_number() OVER (PARTITION BY o_custkey
        |     ORDER BY o_totalprice DESC, o_orderkey ASC) AS BIGINT) AS rn
        | FROM orders) x
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin),

    // ROLLUP grouping sets.
    Q("q06_rollup_orders", (s, dir) => {
      t(s, dir, "orders")
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          dsum(col("o_totalprice"), 2).as("sum_price"))
        .orderBy(asc_nulls_first("o_orderstatus"),
          asc_nulls_first("o_orderpriority"))
    }, oracle =
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS sum_price
        |FROM orders
        |GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin),

    // Filtered COUNT(*) (SURVEY.md A1 — dashboard pagination count).
    Q("q07_filtered_count", (s, dir) => {
      t(s, dir, "events")
        .filter(col("event_type") === "purchase" && col("value") > 100.0)
        .agg(count(lit(1)).as("n"))
    }, oracle =
      """SELECT count(*) AS n FROM events
        |WHERE event_type = 'purchase' AND value > 100.0""".stripMargin),

    // LIMIT/OFFSET pagination, page 3 of 25 (SURVEY.md W3).
    Q("q08_pagination", (s, dir) => {
      t(s, dir, "events")
        .select("event_id", "ts", "user_id", "event_type", "value")
        .orderBy(asc("ts"), asc("event_id"))
        .offset(50).limit(25)
    }, oracle =
      """SELECT event_id, ts, user_id, event_type, value FROM events
        |ORDER BY ts ASC, event_id ASC LIMIT 25 OFFSET 50""".stripMargin),

    // First-wins dedup by key (SURVEY.md K2/J1 generalized): deterministic
    // tiebreak via row_number, not order-nondeterministic dropDuplicates.
    Q("q09_dedup_first_wins", (s, dir) => {
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(asc("event_id"))
      t(s, dir, "events")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("event_id", "user_id", "event_type", "value")
        .orderBy("event_id")
    }, oracle =
      """SELECT event_id, user_id, event_type, value FROM (
        | SELECT event_id, user_id, event_type, value,
        |   row_number() OVER (PARTITION BY user_id, event_type
        |     ORDER BY event_id ASC) AS rn
        | FROM events) x
        |WHERE rn = 1 ORDER BY event_id""".stripMargin),

    // Set ops: users who both purchased and signed up, minus error-only noise.
    Q("q10_setops", (s, dir) => {
      val e = t(s, dir, "events")
      val purchased = e.filter(col("event_type") === "purchase" && col("value") > 180)
        .select("user_id").distinct()
      val signed = e.filter(col("event_type") === "signup" && col("value") > 180)
        .select("user_id").distinct()
      val errored = e.filter(col("event_type") === "error" && col("value") > 195)
        .select("user_id").distinct()
      purchased.intersect(signed).except(errored).orderBy("user_id")
    }, oracle =
      """(SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase' AND value > 180
        | INTERSECT
        | SELECT DISTINCT user_id FROM events WHERE event_type = 'signup' AND value > 180)
        |EXCEPT
        |SELECT DISTINCT user_id FROM events WHERE event_type = 'error' AND value > 195
        |ORDER BY user_id""".stripMargin),

    // CUBE grouping sets with exact decimal aggregate.
    Q("q20_cube_lineitem", (s, dir) => {
      t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity"), 2).as("sum_qty"))
        .orderBy(asc_nulls_first("l_returnflag"),
          asc_nulls_first("l_linestatus"))
    }, oracle =
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        | CAST(sum(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin),

    // Correlated scalar subqueries (TPC-H Q17 shape): revenue from lines
    // whose quantity is under 20% of that part's average. Catalyst
    // DECORRELATES both subqueries into one per-partkey aggregate joined
    // back — at 100 TB that's a single shuffle on l_partkey, not a
    // per-row re-scan. The 20%-of-avg comparison is kept in exact decimal
    // integer form (qty*5*cnt < sum) so no double-rounded boundary row can
    // differ between engines.
    Q("q146_small_qty_revenue", (s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("graft_li")
      t(s, dir, "part").createOrReplaceTempView("graft_part")
      s.sql("""
        SELECT
          CAST(sum(CAST(l.l_extendedprice AS DECIMAL(30,2))) AS DOUBLE) / 7.0
            AS avg_yearly,
          count(*) AS n_lines
        FROM graft_li l JOIN graft_part p ON p.p_partkey = l.l_partkey
        WHERE p.p_brand = 'Brand#1'
          AND CAST(l.l_quantity AS DECIMAL(12,2)) *
              CAST(5 * (SELECT count(*) FROM graft_li l2
                        WHERE l2.l_partkey = l.l_partkey) AS DECIMAL(20,0))
            < (SELECT sum(CAST(l3.l_quantity AS DECIMAL(30,2)))
               FROM graft_li l3 WHERE l3.l_partkey = l.l_partkey)""")
    }, oracle =
      """SELECT
        | CAST(sum(CAST(l.l_extendedprice AS DECIMAL(30,2))) AS DOUBLE) / 7.0
        |   AS avg_yearly,
        | CAST(count(*) AS BIGINT) AS n_lines
        |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |WHERE p.p_brand = 'Brand#1'
        |  AND CAST(l.l_quantity AS DECIMAL(12,2)) *
        |      CAST(5 * (SELECT count(*) FROM lineitem l2
        |                WHERE l2.l_partkey = l.l_partkey) AS DECIMAL(20,0))
        |    < (SELECT sum(CAST(l3.l_quantity AS DECIMAL(30,2)))
        |       FROM lineitem l3 WHERE l3.l_partkey = l.l_partkey)""".stripMargin),

    // Large-order report (TPC-H Q18 shape): HAVING-filtered aggregate as a
    // join input. The per-order quantity rollup reduces 60k lines to the
    // few hundred qualifying orders BEFORE the customer join, and the
    // top-100 plans as TakeOrderedAndProject — no global sort at scale.
    // o_orderkey tiebreak keeps the LIMIT boundary deterministic.
    Q("q147_large_orders", (s, dir) => {
      val big = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity").cast(DecimalType(30, 2))).as("qsum"))
        .filter(col("qsum") > 200)
      t(s, dir, "orders")
        .join(big, col("o_orderkey") === col("l_orderkey"))
        .join(t(s, dir, "customer").select("c_custkey", "c_name"),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"),
          col("qsum").cast("double").as("sum_qty"))
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
        .limit(100)
    }, oracle =
      """SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
        | CAST(qsum AS DOUBLE) AS sum_qty
        |FROM orders
        |JOIN (SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(30,2))) AS qsum
        |      FROM lineitem GROUP BY 1) x ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE qsum > 200
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100""".stripMargin),

    // Correlated EXISTS + NOT EXISTS (TPC-H Q21 shape, adapted to this
    // schema's l_returnflag): suppliers who were the SOLE returned-line
    // supplier in a multi-supplier order. Catalyst plans the EXISTS as a
    // left-semi and the NOT EXISTS as a left-anti join, both shuffled on
    // l_orderkey — three co-partitioned passes over lineitem, no
    // per-row subquery execution.
    Q("q148_sole_blame_suppliers", (s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("graft_li")
      t(s, dir, "supplier").createOrReplaceTempView("graft_supp")
      s.sql("""
        SELECT s.s_name, count(*) AS numwait
        FROM graft_supp s
        JOIN graft_li l1 ON l1.l_suppkey = s.s_suppkey
        WHERE l1.l_returnflag = 'R'
          AND EXISTS (SELECT 1 FROM graft_li l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM graft_li l3
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey
                            AND l3.l_returnflag = 'R')
        GROUP BY s.s_name
        ORDER BY numwait DESC, s.s_name
        LIMIT 25""")
    }, oracle =
      """SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
        |FROM supplier s
        |JOIN lineitem l1 ON l1.l_suppkey = s.s_suppkey
        |WHERE l1.l_returnflag = 'R'
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_returnflag = 'R')
        |GROUP BY s.s_name
        |ORDER BY numwait DESC, s.s_name
        |LIMIT 25""".stripMargin),

    // Uncorrelated scalar subqueries + anti join (TPC-H Q22 shape):
    // high-balance customers in selected nation buckets with no order
    // since 2000. The above-average test is exact decimal integer
    // arithmetic (bal*cnt > sum — no double average), the two scalar
    // subqueries become broadcast one-row plans, and the NOT EXISTS is a
    // left-anti join on o_custkey.
    Q("q149_idle_accounts", (s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("graft_ord")
      t(s, dir, "customer").createOrReplaceTempView("graft_cust")
      s.sql("""
        SELECT CAST(c.c_nationkey % 5 AS BIGINT) AS cntrycode,
          count(*) AS numcust,
          CAST(sum(CAST(c.c_acctbal AS DECIMAL(30,2))) AS DOUBLE)
            AS totacctbal
        FROM graft_cust c
        WHERE (c.c_nationkey % 5) IN (0, 2, 4)
          AND CAST(c.c_acctbal AS DECIMAL(8,2)) *
              CAST((SELECT count(*) FROM graft_cust
                    WHERE c_acctbal > 0.0 AND (c_nationkey % 5) IN (0, 2, 4))
                AS DECIMAL(12,0))
            > (SELECT sum(CAST(c_acctbal AS DECIMAL(30,2))) FROM graft_cust
               WHERE c_acctbal > 0.0 AND (c_nationkey % 5) IN (0, 2, 4))
          AND NOT EXISTS (SELECT 1 FROM graft_ord o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderdate >= TIMESTAMP '2000-01-01')
        GROUP BY c.c_nationkey % 5
        ORDER BY cntrycode""")
    }, oracle =
      """SELECT CAST(c.c_nationkey % 5 AS BIGINT) AS cntrycode,
        | CAST(count(*) AS BIGINT) AS numcust,
        | CAST(sum(CAST(c.c_acctbal AS DECIMAL(30,2))) AS DOUBLE)
        |   AS totacctbal
        |FROM customer c
        |WHERE (c.c_nationkey % 5) IN (0, 2, 4)
        |  AND CAST(c.c_acctbal AS DECIMAL(8,2)) *
        |      CAST((SELECT count(*) FROM customer
        |            WHERE c_acctbal > 0.0 AND (c_nationkey % 5) IN (0, 2, 4))
        |        AS DECIMAL(12,0))
        |    > (SELECT sum(CAST(c_acctbal AS DECIMAL(30,2))) FROM customer
        |       WHERE c_acctbal > 0.0 AND (c_nationkey % 5) IN (0, 2, 4))
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_orderdate >= TIMESTAMP '2000-01-01')
        |GROUP BY c.c_nationkey % 5
        |ORDER BY cntrycode""".stripMargin),

    // National market share (TPC-H Q8 shape): NATION_2 suppliers' share of
    // revenue to ASIA customers, per order year. A 6-table star: the
    // nation/region/supplier dims broadcast (hash-free on the fact side),
    // so the only shuffles are the two fact joins and the final year
    // rollup. num and den are exact decimal sums; the share divides the
    // two already-exact doubles — one IEEE operation, identical in any
    // engine, no rounding step.
    Q("q151_market_share", (s, dir) => {
      val nat = t(s, dir, "nation")
      val asiaKeys = nat
        .join(broadcast(t(s, dir, "region")
          .filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"))
      val custAsia = t(s, dir, "customer")
        .select("c_custkey", "c_nationkey")
        .join(broadcast(asiaKeys), col("c_nationkey") === col("n_nationkey"))
        .select("c_custkey")
      val supN = t(s, dir, "supplier").select("s_suppkey", "s_nationkey")
        .join(broadcast(nat.select(col("n_nationkey").as("sn_key"),
          col("n_name").as("s_nation"))),
          col("s_nationkey") === col("sn_key"))
        .select("s_suppkey", "s_nation")
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
        year(col("o_orderdate")).cast("long").as("o_year"))
      val l = t(s, dir, "lineitem").select(col("l_orderkey"),
        col("l_suppkey"),
        (col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast(DecimalType(30, 6)).as("rev"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(custAsia, col("o_custkey") === col("c_custkey"))
        // supN is supplier-sized (SF-linear) — no pinned hint; AQE
        // broadcasts it at runtime while it fits (r9 sweep, lesson-2)
        .join(supN, col("l_suppkey") === col("s_suppkey"))
        .groupBy("o_year")
        .agg(sum(when(col("s_nation") === "NATION_2", col("rev"))
            .otherwise(lit(0).cast(DecimalType(30, 6)))).as("numd"),
          sum(col("rev")).as("dend"))
        .select(col("o_year"),
          col("numd").cast("double").as("nation_rev"),
          col("dend").cast("double").as("total_rev"),
          (col("numd").cast("double") / col("dend").cast("double"))
            .as("mkt_share"))
        .orderBy("o_year")
    }, oracle =
      """WITH base AS (
        | SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  sum(CASE WHEN sn.n_name = 'NATION_2'
        |        THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))
        |        ELSE CAST(0 AS DECIMAL(30,6)) END) AS numd,
        |  sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6)))
        |    AS dend
        | FROM lineitem
        | JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation cn ON c_nationkey = cn.n_nationkey
        | JOIN region ON cn.n_regionkey = r_regionkey AND r_name = 'ASIA'
        | JOIN supplier ON l_suppkey = s_suppkey
        | JOIN nation sn ON s_nationkey = sn.n_nationkey
        | GROUP BY 1)
        |SELECT o_year,
        | CAST(numd AS DOUBLE) AS nation_rev,
        | CAST(dend AS DOUBLE) AS total_rev,
        | CAST(numd AS DOUBLE) / CAST(dend AS DOUBLE) AS mkt_share
        |FROM base ORDER BY o_year""".stripMargin),

    // Distinct-supplier variety (TPC-H Q16 shape): suppliers per
    // (brand, size) for selected part sizes, excluding bad-standing
    // suppliers via NOT IN — Catalyst plans the NOT IN as a null-aware
    // anti join (broadcast: the exclusion list is supplier-sized), and
    // the count(DISTINCT) expands to a two-phase aggregate, both
    // map-side combinable.
    Q("q152_supplier_variety", (s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("graft_li")
      t(s, dir, "part").createOrReplaceTempView("graft_part")
      t(s, dir, "supplier").createOrReplaceTempView("graft_supp")
      s.sql("""
        SELECT p.p_brand, CAST(p.p_size AS BIGINT) AS p_size,
          count(DISTINCT l.l_suppkey) AS supplier_cnt
        FROM graft_li l JOIN graft_part p ON p.p_partkey = l.l_partkey
        WHERE p.p_size IN (1, 5, 9)
          AND l.l_suppkey NOT IN
            (SELECT s_suppkey FROM graft_supp WHERE s_acctbal < 0)
        GROUP BY p.p_brand, p.p_size
        ORDER BY supplier_cnt DESC, p.p_brand, p_size""")
    }, oracle =
      """SELECT p.p_brand, CAST(p.p_size AS BIGINT) AS p_size,
        | CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |WHERE p.p_size IN (1, 5, 9)
        |  AND l.l_suppkey NOT IN
        |    (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p.p_brand, p.p_size
        |ORDER BY supplier_cnt DESC, p.p_brand, p_size""".stripMargin),

    // Disjunctive join predicates (TPC-H Q19 shape): three OR-branches
    // each mixing build-side (brand, size) and probe-side (quantity)
    // conditions. The at-scale trap is a nested-loop join when the
    // planner can't find the common equi-key; Catalyst must still join
    // hash-on-partkey and evaluate the OR as a residual (PlanSpec
    // asserts no BroadcastNestedLoopJoin/CartesianProduct). Revenue as
    // the exact decimal sum.
    Q("q160_disjunctive_join", (s, dir) => {
      val l = t(s, dir, "lineitem").select(col("l_partkey"),
        col("l_quantity"),
        (col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast(DecimalType(30, 6)).as("rev"))
      val p = t(s, dir, "part").select("p_partkey", "p_brand", "p_size")
      val branch = (brand: String, szLo: Int, szHi: Int, qLo: Int,
          qHi: Int) =>
        col("p_brand") === brand &&
          col("p_size").between(szLo, szHi) &&
          col("l_quantity").between(qLo, qHi)
      l.join(p, col("p_partkey") === col("l_partkey") &&
          (branch("Brand#1", 1, 15, 1, 20) ||
           branch("Brand#2", 10, 30, 10, 30) ||
           branch("Brand#3", 20, 50, 20, 40)))
        .agg(count(lit(1)).as("n_lines"),
          sum(col("rev")).cast("double").as("revenue"))
    }, oracle =
      """SELECT CAST(count(*) AS BIGINT) AS n_lines,
        | CAST(sum(CAST(l_extendedprice * (1 - l_discount)
        |   AS DECIMAL(30,6))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
        |        AND l_quantity BETWEEN 1 AND 20)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
        |        AND l_quantity BETWEEN 10 AND 30)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
        |        AND l_quantity BETWEEN 20 AND 40)""".stripMargin),

    // Correlated MIN scalar subquery (TPC-H Q2 shape, adapted: no partsupp
    // table in this schema, so lineitem plays the supplier-catalog role).
    // Catalyst decorrelates the min() into one aggregate over the
    // region-filtered lines joined back on partkey — a single co-partitioned
    // pass, never a per-row re-scan. min() picks an existing double (no
    // arithmetic), so the equality join back is exact in any engine.
    Q("q161_min_cost_supplier", (s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("graft_li")
      t(s, dir, "part").createOrReplaceTempView("graft_part")
      t(s, dir, "supplier").createOrReplaceTempView("graft_supp")
      t(s, dir, "nation").createOrReplaceTempView("graft_nat")
      t(s, dir, "region").createOrReplaceTempView("graft_reg")
      s.sql("""
        SELECT DISTINCT s.s_name, p.p_partkey,
          l.l_extendedprice AS min_price, s.s_acctbal
        FROM graft_part p
        JOIN graft_li l ON p.p_partkey = l.l_partkey
        JOIN graft_supp s ON s.s_suppkey = l.l_suppkey
        JOIN graft_nat n ON s.s_nationkey = n.n_nationkey
        JOIN graft_reg r ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'EUROPE' AND p.p_type = 'SMALL' AND p.p_size <= 10
          AND l.l_extendedprice =
            (SELECT min(l2.l_extendedprice)
             FROM graft_li l2
             JOIN graft_supp s2 ON s2.s_suppkey = l2.l_suppkey
             JOIN graft_nat n2 ON s2.s_nationkey = n2.n_nationkey
             JOIN graft_reg r2 ON n2.n_regionkey = r2.r_regionkey
             WHERE l2.l_partkey = p.p_partkey AND r2.r_name = 'EUROPE')
        ORDER BY s.s_acctbal DESC, s.s_name, p.p_partkey
        LIMIT 100""")
    }, oracle =
      """SELECT DISTINCT s.s_name, p.p_partkey,
        | l.l_extendedprice AS min_price, s.s_acctbal
        |FROM part p
        |JOIN lineitem l ON p.p_partkey = l.l_partkey
        |JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |WHERE r.r_name = 'EUROPE' AND p.p_type = 'SMALL' AND p.p_size <= 10
        |  AND l.l_extendedprice =
        |    (SELECT min(l2.l_extendedprice)
        |     FROM lineitem l2
        |     JOIN supplier s2 ON s2.s_suppkey = l2.l_suppkey
        |     JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
        |     JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
        |     WHERE l2.l_partkey = p.p_partkey AND r2.r_name = 'EUROPE')
        |ORDER BY s.s_acctbal DESC, s.s_name, p.p_partkey
        |LIMIT 100""".stripMargin),

    // Bidirectional nation-pair volume (TPC-H Q7 shape): the OR over
    // (supp, cust) nation pairs is evaluated as a residual after both
    // nation dims broadcast — the fact side shuffles only on the two
    // equi-join keys, and the pair filter prunes before the year rollup.
    Q("q162_nation_volume", (s, dir) => {
      val nat = t(s, dir, "nation")
      val sup = t(s, dir, "supplier").select("s_suppkey", "s_nationkey")
        .join(broadcast(nat.select(col("n_nationkey").as("sk"),
          col("n_name").as("supp_nation"))), col("s_nationkey") === col("sk"))
        .select("s_suppkey", "supp_nation")
      val cus = t(s, dir, "customer").select("c_custkey", "c_nationkey")
        .join(broadcast(nat.select(col("n_nationkey").as("ck"),
          col("n_name").as("cust_nation"))), col("c_nationkey") === col("ck"))
        .select("c_custkey", "cust_nation")
      val o = t(s, dir, "orders").select("o_orderkey", "o_custkey")
      val l = t(s, dir, "lineitem")
        .filter(col("l_shipdate").between(
          lit("1996-01-01").cast("timestamp"),
          lit("1997-12-31").cast("timestamp")))
        .select(col("l_orderkey"), col("l_suppkey"),
          year(col("l_shipdate")).cast("long").as("l_year"),
          (col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast(DecimalType(30, 6)).as("volume"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(cus, col("o_custkey") === col("c_custkey"))
        // sup is supplier-sized (SF-linear) — plain join, AQE-converted
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .filter((col("supp_nation") === "NATION_1" &&
            col("cust_nation") === "NATION_2") ||
          (col("supp_nation") === "NATION_2" &&
            col("cust_nation") === "NATION_1"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(sum(col("volume")).cast("double").as("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    }, oracle =
      """SELECT supp_nation, cust_nation, l_year,
        | CAST(sum(volume) AS DOUBLE) AS revenue
        |FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |        CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
        |        CAST(l.l_extendedprice * (1 - l.l_discount)
        |          AS DECIMAL(30,6)) AS volume
        |      FROM supplier s
        |      JOIN lineitem l ON s.s_suppkey = l.l_suppkey
        |      JOIN orders o ON o.o_orderkey = l.l_orderkey
        |      JOIN customer c ON c.c_custkey = o.o_custkey
        |      JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
        |      JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
        |      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        |        AND l.l_shipdate BETWEEN TIMESTAMP '1996-01-01'
        |                             AND TIMESTAMP '1997-12-31') x
        |GROUP BY supp_nation, cust_nation, l_year
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin),

    // Product-type profit (TPC-H Q9 shape, supply cost proxied at half the
    // part's retail price — the schema has no partsupp). The profit term
    // subtracts two exact decimals per line, so the nation×year sums are
    // order-independent; the p_name LIKE filter pushes to the part scan and
    // prunes the build side before any join.
    Q("q163_product_profit", (s, dir) => {
      val p = t(s, dir, "part")
        .filter(col("p_name").like("%red%"))
        .select("p_partkey", "p_retailprice")
      val sup = t(s, dir, "supplier").select("s_suppkey", "s_nationkey")
        .join(broadcast(t(s, dir, "nation")
          .select(col("n_nationkey"), col("n_name").as("nation"))),
          col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey", "nation")
      val o = t(s, dir, "orders").select(col("o_orderkey"),
        year(col("o_orderdate")).cast("long").as("o_year"))
      val lp = t(s, dir, "lineitem")
        // p is a filtered slice of the SF-linear part table — no pinned
        // hint (AQE broadcasts it at runtime while it fits)
        .join(p, col("p_partkey") === col("l_partkey"))
        .select(col("l_orderkey"), col("l_suppkey"),
          ((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast(DecimalType(30, 6)) -
            (lit(0.5) * col("p_retailprice") * col("l_quantity"))
              .cast(DecimalType(30, 6))).as("amount"))
      lp.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .groupBy("nation", "o_year")
        .agg(sum(col("amount")).cast("double").as("sum_profit"))
        .orderBy(asc("nation"), desc("o_year"))
    }, oracle =
      """SELECT nation, o_year, CAST(sum(amount) AS DOUBLE) AS sum_profit
        |FROM (SELECT n.n_name AS nation,
        |        CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
        |        CAST(l.l_extendedprice * (1 - l.l_discount)
        |          AS DECIMAL(30,6))
        |        - CAST(0.5 * p.p_retailprice * l.l_quantity
        |            AS DECIMAL(30,6)) AS amount
        |      FROM part p
        |      JOIN lineitem l ON p.p_partkey = l.l_partkey
        |      JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |      JOIN orders o ON o.o_orderkey = l.l_orderkey
        |      JOIN nation n ON s.s_nationkey = n.n_nationkey
        |      WHERE p.p_name LIKE '%red%') x
        |GROUP BY nation, o_year
        |ORDER BY nation ASC, o_year DESC""".stripMargin),

    // Group-by HAVING against global scalar subqueries (TPC-H Q11 shape):
    // parts whose ASIA-supplier value runs 1.2× the mean part value. The
    // threshold compare stays in exact decimal integer form (sum*groups*10
    // > total*12 — a fixed global fraction is not scale-stable: shares
    // concentrate toward the mean as rows-per-part grow, so the mean-
    // relative form keeps the result non-empty at any SF). The scalar
    // count/total are broadcast one-row plans; every pass over the shared
    // CTE shuffles on l_partkey only, and the top-100 plans as
    // TakeOrderedAndProject.
    Q("q164_important_parts", (s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("graft_li")
      t(s, dir, "supplier").createOrReplaceTempView("graft_supp")
      t(s, dir, "nation").createOrReplaceTempView("graft_nat")
      t(s, dir, "region").createOrReplaceTempView("graft_reg")
      s.sql("""
        WITH asia_lines AS (
          SELECT l.l_partkey, CAST(l.l_extendedprice AS DECIMAL(30,2)) AS val
          FROM graft_li l
          JOIN graft_supp s ON l.l_suppkey = s.s_suppkey
          JOIN graft_nat n ON s.s_nationkey = n.n_nationkey
          JOIN graft_reg r ON n.n_regionkey = r.r_regionkey
          WHERE r.r_name = 'ASIA')
        SELECT l_partkey, CAST(sum(val) AS DOUBLE) AS value
        FROM asia_lines GROUP BY l_partkey
        HAVING sum(val) * (SELECT count(DISTINCT l_partkey)
                           FROM asia_lines) * 10
             > (SELECT sum(val) FROM asia_lines) * 12
        ORDER BY value DESC, l_partkey
        LIMIT 100""")
    }, oracle =
      """WITH asia_lines AS (
        |  SELECT l.l_partkey, CAST(l.l_extendedprice AS DECIMAL(30,2)) AS val
        |  FROM lineitem l
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  JOIN nation n ON s.s_nationkey = n.n_nationkey
        |  JOIN region r ON n.n_regionkey = r.r_regionkey
        |  WHERE r.r_name = 'ASIA')
        |SELECT l_partkey, CAST(sum(val) AS DOUBLE) AS value
        |FROM asia_lines GROUP BY l_partkey
        |HAVING sum(val) * (SELECT count(DISTINCT l_partkey)
        |                   FROM asia_lines) * 10
        |     > (SELECT sum(val) FROM asia_lines) * 12
        |ORDER BY value DESC, l_partkey
        |LIMIT 100""".stripMargin),

    // Promo revenue share (TPC-H Q14 shape): one co-partitioned join +
    // one aggregate pass computing both conditional and total decimal sums;
    // the share is a single IEEE division of two exact doubles (identical
    // in any engine — no rounding step, per the q151 precedent).
    Q("q165_promo_share", (s, dir) => {
      val zero = lit(0).cast(DecimalType(30, 6))
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        // part is SF-linear — plain join (AQE-converted while small)
        .join(t(s, dir, "part").select("p_partkey", "p_type"),
          col("p_partkey") === col("l_partkey"))
        .select((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast(DecimalType(30, 6)).as("rev"), col("p_type"))
        .agg(
          sum(when(col("p_type") === "PROMO", col("rev")).otherwise(zero))
            .as("numd"),
          sum(col("rev")).as("dend"))
        .select(
          col("numd").cast("double").as("promo_rev"),
          col("dend").cast("double").as("total_rev"),
          (col("numd").cast("double") * 100 / col("dend").cast("double"))
            .as("promo_share"))
    }, oracle =
      """SELECT
        | CAST(numd AS DOUBLE) AS promo_rev,
        | CAST(dend AS DOUBLE) AS total_rev,
        | CAST(numd AS DOUBLE) * 100 / CAST(dend AS DOUBLE) AS promo_share
        |FROM (SELECT
        |  sum(CASE WHEN p_type = 'PROMO'
        |        THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))
        |        ELSE CAST(0 AS DECIMAL(30,6)) END) AS numd,
        |  sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6)))
        |    AS dend
        | FROM lineitem JOIN part ON p_partkey = l_partkey
        | WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |   AND l_shipdate < TIMESTAMP '1998-01-01') x""".stripMargin),

    // Max-of-aggregate via reused CTE (TPC-H Q15 shape): quarterly revenue
    // per supplier, keep the supplier(s) hitting the max. The revenue CTE
    // is evaluated once per consumer (agg-side and scalar max side) — both
    // are supplier-cardinality frames, so the scalar side broadcasts; the
    // equality is on the exact decimal sum, so ties and the max boundary
    // are engine-independent.
    Q("q166_top_supplier", (s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("graft_li")
      t(s, dir, "supplier").createOrReplaceTempView("graft_supp")
      s.sql("""
        WITH revenue AS (
          SELECT l_suppkey AS supplier_no,
            sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6)))
              AS total_rev
          FROM graft_li
          WHERE l_shipdate >= TIMESTAMP '1996-01-01'
            AND l_shipdate < TIMESTAMP '1996-04-01'
          GROUP BY l_suppkey)
        SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_revenue
        FROM graft_supp JOIN revenue ON s_suppkey = supplier_no
        WHERE total_rev = (SELECT max(total_rev) FROM revenue)
        ORDER BY s_suppkey""")
    }, oracle =
      """WITH revenue AS (
        |  SELECT l_suppkey AS supplier_no,
        |    sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6)))
        |      AS total_rev
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_revenue
        |FROM supplier JOIN revenue ON s_suppkey = supplier_no
        |WHERE total_rev = (SELECT max(total_rev) FROM revenue)
        |ORDER BY s_suppkey""".stripMargin),

    // TPC-H Q20 shape: suppliers who shipped more than an eighth of any
    // SMALL part's total quantity. The naive correlated form aggregates
    // the ENTIRE lineitem table per partkey even though only SMALL-part
    // totals are ever compared (Catalyst decorrelates but doesn't push
    // the part filter through the correlation). Since l_partkey
    // determines the part, the per-part total is derivable from the
    // already-collapsed (suppkey, partkey) aggregate — the q171 lesson:
    // fold the binding total into the aggregated frame. One lineitem
    // scan (filtered by the broadcast SMALL part list), ONE corpus-sized
    // exchange; tot re-aggregates grp (tiny) and joins it back partkey-
    // keyed; DECIMAL sum-of-sums keeps exactness.
    Q("q167_excess_suppliers", (s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("graft_li")
      t(s, dir, "part").createOrReplaceTempView("graft_part")
      t(s, dir, "supplier").createOrReplaceTempView("graft_supp")
      s.sql("""
        WITH li AS (
          SELECT l.l_suppkey, l.l_partkey, l.l_quantity
          FROM graft_li l JOIN graft_part p ON l.l_partkey = p.p_partkey
          WHERE p.p_type = 'SMALL'),
        grp AS (
          SELECT l_suppkey, l_partkey,
                 sum(CAST(l_quantity AS DECIMAL(30,2))) AS sq
          FROM li GROUP BY 1, 2),
        tot AS (
          SELECT l_partkey, sum(sq) AS total FROM grp GROUP BY 1)
        SELECT s_name, s_acctbal
        FROM graft_supp
        WHERE s_suppkey IN (
          SELECT g.l_suppkey
          FROM grp g JOIN tot t ON g.l_partkey = t.l_partkey
          WHERE g.sq * 8 > t.total)
        ORDER BY s_name""")
    }, oracle =
      """SELECT s_name, s_acctbal
        |FROM supplier
        |WHERE s_suppkey IN (
        |  SELECT l.l_suppkey
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |  WHERE p.p_type = 'SMALL'
        |  GROUP BY l.l_suppkey, l.l_partkey
        |  HAVING sum(CAST(l.l_quantity AS DECIMAL(30,2))) * 8
        |       > (SELECT sum(CAST(l2.l_quantity AS DECIMAL(30,2)))
        |          FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey))
        |ORDER BY s_name""".stripMargin),

    // Correlated LATERAL subquery with ORDER BY + LIMIT: top-3 customers
    // by balance per ASIA nation. Catalyst decorrelates the lateral limit
    // into a rank-window over the customer side partitioned by nationkey —
    // one shuffle, no per-nation re-scan (the naive interpretation would
    // re-sort customers once per outer row).
    Q("q168_lateral_topk", (s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("graft_cust")
      t(s, dir, "nation").createOrReplaceTempView("graft_nat")
      s.sql("""
        SELECT n.n_name, t.c_custkey, t.c_acctbal
        FROM graft_nat n
        JOIN LATERAL (
          SELECT c_custkey, c_acctbal FROM graft_cust c
          WHERE c.c_nationkey = n.n_nationkey
          ORDER BY c_acctbal DESC, c_custkey LIMIT 3) t
        WHERE n.n_regionkey = 2
        ORDER BY n.n_name, t.c_acctbal DESC, t.c_custkey""")
    }, oracle =
      """SELECT n.n_name, t.c_custkey, t.c_acctbal
        |FROM nation n
        |JOIN LATERAL (
        |  SELECT c_custkey, c_acctbal FROM customer c
        |  WHERE c.c_nationkey = n.n_nationkey
        |  ORDER BY c_acctbal DESC, c_custkey LIMIT 3) t ON true
        |WHERE n.n_regionkey = 2
        |ORDER BY n.n_name, t.c_acctbal DESC, t.c_custkey""".stripMargin),

    // Order-priority checking (TPC-H Q4 shape; this schema has no
    // commitdate/receiptdate, so "late" = shipped more than 90 days
    // after the order date). The correlated EXISTS becomes a LEFT SEMI
    // join whose condition carries BOTH the orderkey equi-key and the
    // cross-side date residual — Spark plans the equi part as the hash
    // key and evaluates the residual inside the join, so the fact table
    // shuffles once on orderkey and no lineitem fan-out ever reaches
    // the aggregate (semi join emits each order at most once).
    Q("q186_priority_late", (s, dir) => {
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-07-01").cast("timestamp")
          && col("o_orderdate") < lit("1996-10-01").cast("timestamp"))
      val l = t(s, dir, "lineitem").select("l_orderkey", "l_shipdate")
      o.join(l, col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > col("o_orderdate")
            + expr("INTERVAL 90 DAYS"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"))
        .orderBy("o_orderpriority")
    }, oracle =
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
        |FROM orders o
        |WHERE o.o_orderdate >= TIMESTAMP '1996-07-01'
        |  AND o.o_orderdate < TIMESTAMP '1996-10-01'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |    WHERE l.l_orderkey = o.o_orderkey
        |      AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    // Returned-item reporting (TPC-H Q10 shape): top-20 customers by
    // revenue lost to returns in a half-year window. Both date and
    // returnflag filters push to the scans, the nation dim broadcasts,
    // and the top-20 plans as TakeOrderedAndProject over the
    // customer-keyed aggregate — revenue sums are exact decimals so the
    // ranking can't be perturbed by float summation order; the emitted
    // double is one exact cast of an exact decimal.
    Q("q187_returned_customers", (s, dir) => {
      val rev = (col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast(DecimalType(30, 6))
      val l = t(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"), rev.as("rev"))
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp")
          && col("o_orderdate") < lit("1996-07-01").cast("timestamp"))
        .select("o_orderkey", "o_custkey")
      val c = t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")
          .select(col("n_nationkey"), col("n_name"))),
          col("c_nationkey") === col("n_nationkey"))
        .select("c_custkey", "c_name", "c_acctbal", "n_name")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(sum(col("rev")).as("drev"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"),
          col("drev").cast("double").as("revenue"),
          col("c_acctbal"), col("n_name"))
        .orderBy(desc("revenue"), asc("c_custkey"))
        .limit(20)
    }, oracle =
      """SELECT c.c_custkey, c.c_name, CAST(x.drev AS DOUBLE) AS revenue,
        | c.c_acctbal, n.n_name
        |FROM (
        |  SELECT o.o_custkey, sum(CAST(l.l_extendedprice
        |      * (1 - l.l_discount) AS DECIMAL(30,6))) AS drev
        |  FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  WHERE l.l_returnflag = 'R'
        |    AND o.o_orderdate >= TIMESTAMP '1996-01-01'
        |    AND o.o_orderdate < TIMESTAMP '1996-07-01'
        |  GROUP BY o.o_custkey) x
        |JOIN customer c ON x.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |ORDER BY revenue DESC, c.c_custkey LIMIT 20""".stripMargin),

    // Shipping-priority line counts (TPC-H Q12 shape; returnflag stands
    // in for the schema's missing shipmode): per line class, how many
    // lines belong to high- vs low-priority orders in a shipping year.
    // One co-partitioned orderkey join, then a 3-row CASE-sum rollup —
    // the priority CASE folds into the partial aggregate, so the only
    // full-row pass is the join itself.
    Q("q188_priority_lines", (s, dir) => {
      val l = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp")
          && col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .select("l_orderkey", "l_returnflag")
      val o = t(s, dir, "orders").select("o_orderkey", "o_orderpriority")
      val high = col("o_orderpriority") === "1-URGENT" ||
        col("o_orderpriority") === "2-HIGH"
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(sum(when(high, 1L).otherwise(0L)).as("high_lines"),
          sum(when(high, 0L).otherwise(1L)).as("low_lines"))
        .orderBy("l_returnflag")
    }, oracle =
      """SELECT l_returnflag,
        | CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |   THEN 1 ELSE 0 END) AS BIGINT) AS high_lines,
        | CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |   THEN 0 ELSE 1 END) AS BIGINT) AS low_lines
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l.l_shipdate < TIMESTAMP '1997-01-01'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // Forecast-revenue-change probe (TPC-H Q6 shape): one tight
    // filter-aggregate whose THREE predicates (shipdate year, discount
    // band, quantity cap) must all reach the parquet scan as pushed
    // filters — the canonical "does the scan do the work" query. At
    // 100 TB this is a partition-pruned scan + partial sums, zero
    // shuffle beyond the scalar merge. Exact DECIMAL sum.
    Q("q255_forecast_revenue", (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp")
          && col("l_shipdate") < lit("1997-01-01").cast("timestamp")
          && col("l_discount") >= 0.05 && col("l_discount") <= 0.07
          && col("l_quantity") < 24)
        .agg(sum((col("l_extendedprice") * col("l_discount"))
            .cast(DecimalType(30, 6))).cast("double").as("revenue"),
          count(lit(1)).as("n_lines")), oracle =
      """SELECT CAST(sum(CAST(l_extendedprice * l_discount
        |   AS DECIMAL(30,6))) AS DOUBLE) AS revenue,
        | count(*) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07
        |  AND l_quantity < 24""".stripMargin),

    // (TPC-H Q13 is covered by q142_custdist — kept single-registered
    // to avoid a duplicate operator entry.)
  )
}
