package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
import org.apache.spark.sql.execution.{CollectMetricsExec, FileSourceScanExec, QueryExecution, SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Plan-shape assertions: the properties that matter at 100 TB — filter
  * and projection pushdown into the parquet scan, broadcast joins for
  * small build sides, top-k instead of global sorts — verified on the
  * actual optimized plans of the registered queries. */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def planOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, dir)
    df.queryExecution.executedPlan.toString
  }

  test("filter + projection push into the parquet scan") {
    val p = planOf("q01_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), " +
      "LessThanOrEqual(l_shipdate"), s"no pushed filter in:\n$p")
    // only the referenced columns are read
    assert(p.contains("ReadSchema") && !p.contains("l_comment"))
    assert(!p.contains("l_partkey")) // pruned: not referenced by q01
  }

  test("top-k compiles to TakeOrderedAndProject, not a global sort") {
    val p = planOf("q02_topk_orders")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("3-way join broadcasts the small dimensions") {
    val p = planOf("q03_join_revenue")
    assert(p.contains("BroadcastHashJoin") || p.contains("broadcast"),
      s"expected broadcast join:\n$p")
  }

  test("aggregations are partial (map-side) before the shuffle") {
    val p = planOf("q01_pricing_summary")
    assert(p.contains("partial"), p) // HashAggregate(partial_*)
  }

  test("whole-stage codegen covers the scan→aggregate pipeline") {
    // AQE only inserts codegen stages at execution — run, then inspect the
    // final plan; codegen'd operators print with the "*(n)" stage marker.
    val df = SparkEntry.queries("q01_pricing_summary")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*(") || p.contains("WholeStageCodegen"), p)
  }

  test("semi join stays a join (no materialized distinct)") {
    val p = planOf("q27_semi_join")
    assert(p.contains("LeftSemi"), p)
  }

  test("pagination pushes limit (no full materialization)") {
    val p = planOf("q08_pagination")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("identical posting subplans share one shuffle (ReusedExchange)") {
    // the inverted-index jaccard self-join: both sides are the same
    // explode+project subplan. At bench SF AQE broadcasts the postings
    // (no exchange at all — even better); force the at-scale sort-merge
    // path here and check the one planned exchange is reused.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = SparkEntry.queries("q16_jaccard_pairs")(spark, dir)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("ReusedExchange") || p.contains("ReusedShuffle"),
        s"expected exchange reuse:\n${p.take(4000)}")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("bucketized range join is an equi-join, not a nested loop") {
    val p = planOf("q61_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"range join fell back to nested loop:\n${p.take(3000)}")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("distributed prefix sum windows by bucket, not one partition") {
    val p = planOf("q55_running_total_global")
    assert(p.contains("hashpartitioning(__bucket"),
      s"expected bucket-partitioned window:\n${p.take(3000)}")
    assert(!p.toLowerCase.contains("singlepartition"),
      s"single-partition stage in prefix sum:\n${p.take(3000)}")
  }

  test("prefix sum consumer reads the persisted partials, not the input") {
    // the totals job materializes the bucketed+windowed partials; the
    // final plan must read that cache (InMemoryTableScan) and never
    // re-scan parquet — i.e. 2 input passes total: min/max probe + window
    val p = planOf("q55_running_total_global")
    val cacheAt = p.indexOf("InMemoryRelation")
    assert(cacheAt >= 0,
      s"expected cached partials in the consumer plan:\n${p.take(3000)}")
    // the InMemoryRelation rendering embeds the CACHED plan (which keeps
    // its original parquet scan); only the consumer part above the cache
    // node must be scan-free
    assert(!p.substring(0, cacheAt).contains("Scan parquet"),
      s"consumer plan re-scans the input:\n${p.take(3000)}")
  }

  test("dashboard deep page plans as top-(offset+limit), no global window") {
    val events = graft.Tables.t(spark, dir, "events")
      .withColumnRenamed("event_type", "source")
      .withColumn("category",
        org.apache.spark.sql.functions.lit("x"))
      .withColumn("event_date", org.apache.spark.sql.functions.col("ts")
        .cast("string"))
      .withColumn("name", org.apache.spark.sql.functions.col("event_id")
        .cast("string"))
      .withColumn("url", org.apache.spark.sql.functions.col("event_id")
        .cast("string"))
    val page3 = graft.query.Dashboard.query(events, page = 3).rows
    val plan = page3.queryExecution.executedPlan
    val p = plan.toString
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
    assert(!p.contains("Window"), s"deep page still windows:\n${p.take(3000)}")
    // the page's total is observed by the top-k's own scan
    val topk = plan.collectFirst { case t: TakeOrderedAndProjectExec => t }
    assert(topk.exists(_.exists(_.isInstanceOf[CollectMetricsExec])),
      s"no observation under the top-k:\n${p.take(3000)}")
    // and the observation does not block column pruning: a page showing
    // one column reads the same columns as before the total was observed
    val scan = page3.select("url").queryExecution.executedPlan
      .collectFirst { case f: FileSourceScanExec => f }
    assert(scan.map(_.requiredSchema.catalogString) ==
      Some("struct<event_id:bigint,ts:timestamp_ntz>"))
  }

  test("stratified sample windows per stratum, not globally") {
    val p = planOf("q62_stratified_sample")
    assert(p.contains("hashpartitioning(source"),
      s"expected per-source window partitioning:\n${p.take(3000)}")
  }

  test("partitioned silver writes prune partitions at read time") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-part").toString
    val events = graft.Tables.t(spark, dir, "events")
      .select("event_id", "event_type", "value")
    graft.ops.Partitioning.writePartitionedBy(events, tmp, "event_type")
    val back = spark.read.parquet(tmp)
      .filter(org.apache.spark.sql.functions.col("event_type") === "purchase")
    val p = back.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters") &&
      p.contains("(event_type#") && p.contains("= purchase"),
      s"expected partition pruning:\n${p.take(2500)}")
    // only the purchase partition directory is actually read
    assert(back.count() ==
      events.filter(org.apache.spark.sql.functions.col("event_type") ===
        "purchase").count())
  }

  test("bucketed tables join without a shuffle") {
    // co-located join: both sides bucketed+sorted on the key -> the
    // sort-merge join reads buckets directly, no Exchange in the plan.
    // This is the storage-level strategy for repeated 100 TB joins.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val o = graft.Tables.t(spark, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val l = graft.Tables.t(spark, dir, "lineitem")
        .select("l_orderkey", "l_quantity")
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
      o.write.bucketBy(4, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable("b_orders")
      l.write.bucketBy(4, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable("b_lineitem")
      val joined = spark.table("b_orders").join(spark.table("b_lineitem"),
        org.apache.spark.sql.functions.col("o_orderkey") ===
          org.apache.spark.sql.functions.col("l_orderkey"))
      joined.collect()
      val p = joined.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"), s"bucketed join still shuffles:\n$p")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
    }
  }

  test("z-score anomaly joins its scalar stats by broadcast") {
    // per-type moments are a handful of rows; shipping the 100 TB fact
    // side to a shuffle join against them would be the classic blunder
    val p = planOf("q89_anomaly_zscore")
    assert(p.contains("BroadcastHashJoin"),
      s"stats join must broadcast:\n${p.take(3000)}")
  }

  test("sketched heavy hitters: object-buffer aggregate + broadcast recount") {
    val p = planOf("q91_heavy_hitters_sketched")
    // the MG sketch runs as an ObjectHashAggregate (same shape as the
    // built-in percentile/HLL sketches) with a partial stage before the
    // single-row merge
    assert(p.contains("ObjectHashAggregate"), p.take(3000))
    // candidate recount joins the ≤k candidates by broadcast
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("kNN classify windows per query, never one global partition") {
    val p = planOf("q90_knn_classify")
    assert(p.contains("hashpartitioning(q_id"),
      s"expected per-query window partitioning:\n${p.take(3000)}")
  }

  test("decontamination broadcasts the benchmark shingles") {
    // the eval set is tiny next to a 100 TB corpus: the corpus side must
    // stream through a broadcast join, never shuffle on the shingle
    val p = planOf("q97_decontaminate")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("gopher quality is one scan with zero exchanges before the sort") {
    val p = planOf("q96_gopher_quality")
    // exactly one shuffle: the presentation orderBy (rangepartitioning);
    // no hashpartitioning exchange anywhere — every signal is computed
    // in the projection over the scan
    assert(!p.contains("hashpartitioning"),
      s"quality signals must not shuffle:\n${p.take(3000)}")
  }

  test("chi-square broadcasts all marginals (fact side never reshuffles)") {
    val p = planOf("q104_chi_square")
    val broadcasts = "BroadcastHashJoin|BroadcastNestedLoopJoin".r
      .findAllIn(p).size
    assert(broadcasts >= 3, s"expected 3 broadcast joins:\n${p.take(3000)}")
  }

  test("user journey: window and groupBy share one user_id exchange") {
    val p = planOf("q110_user_journey")
    val n = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(n == 1, s"expected exactly 1 hash exchange, got $n:\n${p.take(3000)}")
  }

  test("crawl schedule: windows and rollup share one host exchange") {
    // the prefix-max rewrite of the politeness recurrence must not
    // re-shuffle between the per-host windows and the per-host agg
    val p = planOf("q308_crawl_schedule")
    val n = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(n == 1, s"expected exactly 1 hash exchange, got $n:\n${p.take(3000)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("robots-fed schedule: policy join broadcasts, one host exchange") {
    // q317 adds the parsed per-host Crawl-delay as a broadcast-joined
    // column; the events side must still see exactly one host hash
    // exchange shared by the window and the rollup (the policy side's
    // distinct() exchange is over the tiny host set, not the log)
    val p = planOf("q317_crawl_schedule_robots")
    assert(p.contains("BroadcastHashJoin"),
      s"policy join is not broadcast:\n${p.take(3000)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
    val n = "Exchange hashpartitioning".r.findAllIn(p).size
    // exactly 2: the event log's host exchange (shared by both
    // windows AND the partial/final rollup pair) + the tiny
    // distinct-host policy aggregation
    assert(n == 2 && p.contains("Window"),
      s"expected exactly 2 hash exchanges, got $n:\n${p.take(3000)}")
  }

  test("shingle guard filters rewrite to token-count checks (no double eval)") {
    // ShingleFilterSimplify: the explode-inferred guard must test the
    // cheap token array, not re-run the O(n·k) shingle construction —
    // shinglesexpr may appear in projections but never inside a Filter
    // or the scan's pushed data filters
    for ((q, expr) <- Seq("q16_jaccard_pairs" -> "shinglesexpr",
        "q101_containment" -> "shinglesexpr",
        "q68_winnow_dups" -> "winnowmd5expr")) { // q68's family since r11
      val p = planOf(q)
      val filterLines = p.linesIterator
        .filter(l => l.contains("Filter") || l.contains("DataFilters"))
        .mkString("\n")
      assert(!filterLines.contains(expr),
        s"$q still evaluates $expr in a filter:\n$filterLines")
      assert(p.contains(expr), s"$q lost its projection")
    }
  }

  test("gap quantile/median/attribution windows share ONE user exchange") {
    // the lag window, rank window and final aggregate all partition by
    // user_id — Catalyst must satisfy them with a single shuffle (extra
    // exchanges here would double-shuffle the event log at scale)
    for (q <- Seq("q134_gap_median", "q140_gap_quantiles",
        "q141_attribution", "q158_debounce", "q234_funnel_conversion")) {
      val p = planOf(q)
      val n = "Exchange hashpartitioning".r.findAllIn(p).size
      assert(n == 1, s"$q: expected exactly 1 hash exchange, got $n:\n" +
        p.take(3000))
    }
  }

  test("grouped selection never windows a bare group over raw rows") {
    // OrderStats.kth's scale contract: every raw-row window is (group,
    // bk)-scoped — a window partitioned by the group alone (or by
    // nothing) would serialize a 100 TB single-group skew into one
    // task. The histogram cumulative (tiny) is the only group-wide
    // window allowed, and it runs over the grouped histogram, whose
    // plan rows carry `cnt`.
    for (q <- Seq("q159_global_median", "q224_weighted_median",
        "q236_event_value_mad", "q246_equidepth_quartiles",
        "q250_mad_outliers", "q275_interquantile_mean",
        "q279_rfm_segments")) {
      val p = planOf(q)
      val windows = p.linesIterator.filter(_.contains("Window ")).toSeq
      assert(windows.nonEmpty, s"$q:\n${p.take(2000)}")
      windows.foreach { w =>
        assert(w.contains("bk") || w.contains("cnt"),
          s"$q: window not bucket-scoped: $w")
      }
    }
  }

  test("order statistics read the per-group n/k aggregate once per call") {
    // OrderStats.kth aggregates the histogram once per group into n and
    // each k, and carries them to its output. A second read of that
    // aggregate (a join back for n/k) plans either a second final
    // sum(__cnt) aggregate over the same histogram or, once Catalyst
    // prunes it to the group keys, a key-only aggregate over the input.
    // Each call has one histogram-offset window, so it counts the calls.
    for (q <- Seq("q159_global_median", "q224_weighted_median",
        "q236_event_value_mad", "q246_equidepth_quartiles",
        "q250_mad_outliers", "q275_interquantile_mean",
        "q279_rfm_segments")) {
      val p = planOf(q)
      val calls = """Window \[sum\(__cnt#""".r.findAllIn(p).size
      val nk = """functions=\[sum\(__cnt#""".r.findAllIn(p).size
      assert(calls >= 1 && nk == calls,
        s"$q: $nk final n/k aggregates for $calls calls:\n${p.take(4000)}")
      assert(!p.contains("functions=[]"),
        s"$q: key-only aggregate (a pruned n/k re-read):\n${p.take(4000)}")
    }
  }

  test("grid neighbor join is a plain equi hash join, not a theta join") {
    // q237's 9-cell replication turns the L-inf band predicate into an
    // equi join on the cell key; a BroadcastNestedLoopJoin here would
    // mean the band predicate leaked into the join condition and the
    // plan degenerates to all-pairs at scale
    val p = planOf("q237_grid_neighbor_join")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p.take(3000))
  }

  test("ShingleFilterSimplify fired: rewritten token-count guard in plan") {
    // the positive twin of the absence check above — the optimized plan
    // must contain the rule's OUTPUT (size(rawTokens) >= k on the cheap
    // token array), proving ShingleFilterSimplify actually rewrote the
    // explode-inferred guard rather than the guard never being inferred
    import org.apache.spark.sql.catalyst.expressions.{GreaterThanOrEqual, Literal, Size}
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    val opt = SparkEntry.queries("q101_containment")(spark, dir)
      .queryExecution.optimizedPlan
    val rewritten = opt.collect { case f: Filter => f }.exists(
      _.condition.exists {
        case GreaterThanOrEqual(Size(c, _), Literal(k: Int, _)) =>
          !c.isInstanceOf[graft.functions.ShinglesExpr] && k == 3
        case _ => false
      })
    assert(rewritten, "ShingleFilterSimplify must rewrite the shingle " +
      s"guard to size(tokens) >= 3:\n${opt.treeString.take(3000)}")
  }

  test("keyset pagination pushes the cursor and plans top-k") {
    val p = planOf("q119_keyset_page")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    assert(p.contains("PushedFilters") && p.contains("Or(GreaterThan"),
      s"cursor predicate must reach the scan:\n${p.take(2000)}")
  }

  test("no registered query plans a cartesian product") {
    // suite-wide scale guard: a CartesianProduct anywhere is a 100 TB
    // disaster. (BroadcastNestedLoopJoin is allowed — every use in the
    // repo broadcasts a 1-row scalar frame or a loudly-guarded small
    // side, e.g. q40's exact all-pairs baseline.)
    val offenders = SparkEntry.queries.toSeq.flatMap { case (name, fn) =>
      val p = fn(spark, dir).queryExecution.executedPlan.toString
      if (p.contains("CartesianProduct")) Some(name) else None
    }
    assert(offenders.isEmpty, s"cartesian products in: $offenders")
  }

  test("no global window runs over un-aggregated corpus rows") {
    // the no-CartesianProduct assert's sibling: a Window with an EMPTY
    // partition spec funnels its whole input through one task, so it
    // is only admissible over a frame already collapsed to bounded
    // cardinality. Heuristic: the window's subtree must contain an
    // Aggregate (histogram/rollup) or a Limit below it — a global
    // window directly over scan-shaped rows is the 100 TB killer
    // (exactly the shape q212 used to plan, now ranked via the q228
    // histogram-offset idiom instead).
    import org.apache.spark.sql.catalyst.plans.logical.{
      Aggregate, GlobalLimit, LocalLimit, Window => LWindow}
    val offenders = SparkEntry.queries.toSeq.flatMap { case (name, fn) =>
      val opt = fn(spark, dir).queryExecution.optimizedPlan
      val bad = opt.collect {
        case w: LWindow if w.partitionSpec.isEmpty &&
          w.child.collectFirst {
            case a: Aggregate => a
            case l: GlobalLimit => l
            case l: LocalLimit => l
          }.isEmpty => w
      }
      if (bad.nonEmpty) Some(name) else None
    }
    assert(offenders.isEmpty,
      s"single-partition windows over un-aggregated input in: $offenders")
  }

  test("AQE re-plans a sort-merge join to broadcast from runtime stats") {
    // the 100 TB knob the engine leans on: when static planning can't
    // prove a side is small (threshold disabled), AQE's runtime stats
    // must still convert the shuffle join to a broadcast — the re-plan
    // that saves real clusters from mis-estimated dimension sizes
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold",
      "10485760")
    try {
      val df = SparkEntry.queries("q03_join_revenue")(spark, dir)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("isFinalPlan=true"), p.take(500))
      assert(p.split("== Initial Plan ==").head.contains("BroadcastHashJoin"),
        s"AQE should have converted to broadcast:\n${p.take(3000)}")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("correlated subqueries decorrelate to joins, not per-row re-scans") {
    // q146's two correlated scalar subqueries over lineitem-by-partkey must
    // become ONE per-partkey aggregate joined back (Catalyst decorrelation
    // + subquery dedup); a surviving per-row subquery would re-scan
    // lineitem once per row at 100 TB
    val p146 = planOf("q146_small_qty_revenue")
    assert(!p146.contains("ScalarSubquery"),
      s"correlated subquery not decorrelated:\n${p146.take(3000)}")
    assert(p146.contains("l_partkey"), p146.take(1000))
    // q148's EXISTS / NOT EXISTS plan as semi + anti joins on l_orderkey
    val p148 = planOf("q148_sole_blame_suppliers")
    assert(p148.contains("LeftSemi"), p148.take(2000))
    assert(p148.contains("LeftAnti"), p148.take(2000))
    // q149: the inactivity NOT EXISTS is an anti join; the two UNcorrelated
    // above-average scalars stay one-row subqueries (broadcast, run once)
    val p149 = planOf("q149_idle_accounts")
    assert(p149.contains("LeftAnti"), p149.take(2000))
    // q147's top-100 must not global-sort
    assert(planOf("q147_large_orders").contains("TakeOrderedAndProject"))
    // q160's OR-of-ANDs predicate must still hash-join on the common
    // partkey with the disjunction as a residual — a nested loop here
    // reads the fact table once per part at scale
    val p160 = planOf("q160_disjunctive_join")
    assert(p160.contains("HashJoin") || p160.contains("SortMergeJoin"),
      p160.take(2000))
    assert(!p160.contains("BroadcastNestedLoopJoin"), p160.take(2000))
    // q161's correlated min() (Q2 shape) must decorrelate the same way
    val p161 = planOf("q161_min_cost_supplier")
    assert(!p161.contains("ScalarSubquery"),
      s"correlated min not decorrelated:\n${p161.take(3000)}")
    // q167's nested IN with a correlated HAVING scalar (Q20 shape): the
    // IN becomes a semi join and the per-part total an aggregate joined
    // on l_partkey — nothing row-at-a-time survives
    val p167 = planOf("q167_excess_suppliers")
    assert(p167.contains("LeftSemi"), p167.take(2000))
    assert(!p167.contains("ScalarSubquery"),
      s"correlated HAVING scalar not decorrelated:\n${p167.take(3000)}")
  }

  test("lateral ORDER BY + LIMIT decorrelates to a rank window") {
    // q168's JOIN LATERAL (... ORDER BY ... LIMIT 3): the naive plan
    // re-sorts the customer table once per outer nation row; Catalyst
    // must rewrite it into one window (rank over nationkey partitions) —
    // a single shuffle regardless of outer cardinality
    val p = planOf("q168_lateral_topk")
    assert(p.contains("Window"), s"expected window rewrite:\n${p.take(3000)}")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p.take(3000))
  }

  test("containment posting join reuses one exchange for both sides") {
    // same discipline as the q16 test: at spec SF the postings broadcast
    // (fine); force the at-scale sort-merge path and assert the two
    // identical posting subplans share one planned shuffle
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = SparkEntry.queries("q101_containment")(spark, dir)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("ReusedExchange") || p.contains("ReusedShuffle"),
        s"expected exchange reuse:\n${p.take(4000)}")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("pair-fanout stages pin their exchange against AQE coalescing") {
    // q157/q75/q128 generate pairs from byte-small inputs — AQE's
    // byte-based coalescing serialized those CPU-heavy stages onto a
    // handful of tasks until their exchanges were pinned with explicit
    // numPartitions repartitions (REPARTITION_BY_NUM survives into the
    // physical plan). A refactor that drops the pin silently reverts
    // the serialization, so assert the marker. (q157's pin sits behind
    // its eager localCheckpoint, so its final plan can't show it —
    // the two below carry the pattern in checkable form.)
    for (q <- Seq("q75_jaccard_prefix", "q128_basket_pairs")) {
      val p = planOf(q)
      assert(p.contains("REPARTITION_BY_NUM"),
        s"$q lost its pinned exchange:\n${p.take(2000)}")
    }
  }

  test("EXISTS with cross-side residual plans as one semi join") {
    // q186: the date residual references both sides, so it can't be
    // pushed below the join — it must ride INSIDE the semi join (each
    // order emitted at most once, no lineitem fan-out), not become a
    // nested loop
    val p = planOf("q186_priority_late")
    assert(p.contains("LeftSemi"), s"expected semi join:\n${p.take(3000)}")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p.take(3000))
  }

  test("returned-customer top-20 plans as top-k, not a global sort") {
    val p = planOf("q187_returned_customers")
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
  }

  test("PQ ADC search: LUT and query vector join by broadcast only") {
    // the scored pass must stay a scan over the codes relation with
    // 32-row broadcasts — a sort-merge join here would shuffle the
    // whole codes table per query at scale
    val p = planOf("q216_pq_adc_search")
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("Hamming search plans one scan + top-k over 16-byte signatures") {
    val p = planOf("q218_hamming_search")
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  test("IVF-PQ search: ADC scan joins the LUT by broadcast only") {
    // same contract as q216, composed edition: the final scan over
    // the codes relation must meet the probed-cell LUT by broadcast —
    // a sort-merge join would shuffle the whole codes table per query
    val p = planOf("q301_ivfpq_search")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
  }

  test("IVF-PQ recall: both rankings window per probe, never globally") {
    // the exact and ADC rankings partition by q_id — a single-
    // partition window over the scored corpus would serialize the
    // audit at scale (the suite-wide guard also covers this; the
    // named test keeps the intent readable)
    val p = planOf("q302_ivfpq_recall")
    assert(!p.linesIterator.exists(l =>
      l.contains("Window") && l.contains("SinglePartition")),
      p.take(3000))
  }

  test("census families plan as one scan, no exchange before the sort") {
    // per-row executor work fused into the scan: the only exchange a
    // census query may carry is the final orderBy's range partitioning
    for (q <- Seq("q294_aac_scan", "q295_h264_scan", "q298_mp4_boxes",
        "q299_warc_census", "q300_robots_admission",
        "q304_pdf_xref_stream", "q305_mp4_sample_census",
        "q306_crawl_spine", "q307_pdf_image_census",
        "q310_h264_geometry", "q311_mp4_video_geometry",
        "q312_tar_census", "q313_webm_census", "q314_zip_census",
        "q315_sitemap_seeds", "q316_png_census",
        "q318_sitemap_index", "q319_png_decode",
        "q320_robots_sitemap_discovery", "q321_recrawl_delta",
        "q322_warc_revisit", "q323_meta_robots_canonical")) {
      val p = planOf(q)
      val exchanges = p.linesIterator.count(_.trim.startsWith("+- Exchange")) +
        p.linesIterator.count(_.trim.startsWith("Exchange"))
      assert(exchanges <= 2, s"$q has $exchanges exchanges:\n${p.take(2000)}")
      assert(!p.contains("SortMergeJoin"), s"$q joins:\n${p.take(2000)}")
    }
  }

  test("record linkage joins candidates on BOTH blocking keys") {
    // the prefix key must reach the join (equi-key, not a post-join
    // filter): nationkey alone leaves n²/25 levenshtein pairs — the
    // 30 s sf0.1 regression SCALING.md records
    val p = planOf("q221_record_linkage")
    val joinLines = p.linesIterator
      .filter(l => l.contains("HashJoin") || l.contains("SortMergeJoin"))
      .toList
    assert(joinLines.exists(_.contains("substring")),
      s"prefix blocking key not in any join's keys: ${joinLines.mkString(" | ")}")
  }

  test("bronze → silver transform reads bronze once, with no union") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.Union
    val dir = java.nio.file.Files.createTempDirectory("graft_bronze")
      .resolve("bronze").toString
    Seq((1L, "ticketmaster", """{"name": "a", "venue_name": "v"}"""),
      (2L, "yelp", """{"name": "b"}"""))
      .toDF("id", "source_spider", "raw_json").write.parquet(dir)
    val plan = graft.pipeline.Etl.transform(spark.read.parquet(dir))
      .queryExecution.optimizedPlan
    assert(plan.collect { case u: Union => u }.isEmpty, plan.toString)
    assert(plan.collectLeaves().size == 1, plan.toString)
  }

  test("incremental load anti-joins the scanned silver urls, no aggregate") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    val silverDir = java.nio.file.Files.createTempDirectory("graft_silver")
      .resolve("silver").toString
    Seq(("http://a", "a"), ("http://a", "a2")).toDF("url", "name")
      .write.parquet(silverDir)
    val batch = Seq((1L, "http://a", "a"), (2L, "http://b", "b"))
      .toDF("id", "url", "name")
    val df = graft.pipeline.Etl.dedupForLoad(batch,
      Some(spark.read.parquet(silverDir)))
    val plan = df.queryExecution.optimizedPlan
    val anti = plan.collect { case j: Join if j.joinType == LeftAnti => j }
    assert(anti.size == 1, plan.toString)
    // a left-anti join ignores duplicate right keys: a distinct there
    // only adds an aggregate and a shuffle of every silver url
    assert(anti.head.right.collect { case a: Aggregate => a }.isEmpty,
      plan.toString)
    assert(df.select("url").as[String].collect().toSeq == Seq("http://b"))
  }

  // Which queries spread a one-split scan is a per-query choice (a plan
  // shape rule would also spread q105 and q136, and q150's spread was
  // reverted), so the set is pinned here: a round-robin exchange whose
  // stage reads a file scan, in the query's plan or in a sub-plan it
  // runs eagerly while it is built (q112's and q278's localCheckpoint).
  private val spreadQueries = Set("q16", "q17", "q18", "q40", "q60", "q68",
    "q73", "q74", "q75", "q101", "q112", "q118", "q156", "q175", "q176",
    "q177", "q178", "q180", "q181", "q191", "q202", "q203", "q207", "q217",
    "q220", "q230", "q231", "q232", "q233", "q278", "q281", "q282", "q283",
    "q284", "q285", "q286", "q287", "q289", "q290", "q293", "q294", "q295",
    "q296", "q297", "q298", "q299", "q300", "q303", "q304", "q305", "q306",
    "q307", "q310", "q311", "q312", "q313", "q314", "q315", "q316", "q318",
    "q319", "q320", "q321", "q322", "q323")

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => a +: nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case i: InMemoryTableScanExec => i +: nodes(i.relation.cachedPlan)
    case o => o +: (o.children ++ o.subqueries).flatMap(nodes)
  }

  private def stageScans(p: SparkPlan): Boolean = p match {
    case _: FileSourceScanExec => true
    case _: Exchange | _: QueryStageExec => false
    case a: AdaptiveSparkPlanExec => stageScans(a.executedPlan)
    case o => o.children.exists(stageScans)
  }

  private def spreadsScan(p: SparkPlan): Boolean = nodes(p).exists {
    case e: ShuffleExchangeExec =>
      e.outputPartitioning.isInstanceOf[RoundRobinPartitioning] &&
        stageScans(e.child)
    case _ => false
  }

  test("exactly the pinned queries spread a file scan at sf0.001") {
    // a fresh session: no memoized sub-plan from another suite hides an
    // eager spread
    val s = spark.newSession()
    val eager = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    s.listenerManager.register(new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        eager.add(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    val flush = () => org.apache.spark.graftglue.ListenerGlue
      .waitUntilListenerBusEmpty(s.sparkContext)
    val spread = SparkEntry.queries.toSeq.sortBy(_._1).filter {
      case (_, fn) =>
        flush()
        eager.clear()
        val plan = fn(s, dir).queryExecution.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.initialPlan
          case p => p
        }
        flush()
        spreadsScan(plan) || eager.toArray(Array.empty[SparkPlan])
          .exists(spreadsScan)
    }.map(_._1.takeWhile(_ != '_')).toSet
    assert(spread -- spreadQueries == Set.empty, "newly spread")
    assert(spreadQueries -- spread == Set.empty, "no longer spread")
  }

  test("a bare session gets the engine's optimizer rule on first read") {
    import graft.functions.ShingleFilterSimplify
    val s = spark.newSession()
    assert(s.experimental.extraOptimizations.isEmpty)
    Tables.t(s, dir, "documents")
    assert(s.experimental.extraOptimizations == Seq(ShingleFilterSimplify))
    Tables.t(s, dir, "orders") // registering again adds nothing
    assert(s.experimental.extraOptimizations == Seq(ShingleFilterSimplify))
  }
}
