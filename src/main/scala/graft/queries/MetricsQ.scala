package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables._
import graft.ops.TextOps

/** Round-7 evaluation-and-analysis tier: the metrics a curation run
  * computes ABOUT its own gates and sketches (ROC-AUC, Count-Min error,
  * MinHash agreement), the deterministic assignment ops a training run
  * needs (curriculum shards, k-fold strata), second-moment embedding
  * statistics, and perceptual analysis layered on the REAL media codecs
  * (image dHash, audio energy fingerprint, video scene cuts). Every
  * query is hash-exact against DuckDB: sketches use md5-derived hashes
  * so even the approximation is replayable, ratios ride in integer
  * basis points via integral DIV, and wide sums go through DECIMAL
  * before multiplying (the q104/q183 discipline). */
object MetricsQ {

  private val dec = DecimalType(38, 0)

  /** md5 hex of a literal, folded at plan-build time (ring points). */
  private def md5hexLit(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString

  /** The q87 quality-score column (exact integer basis points). */
  private def qbp: Column = TextOps.qualityBp(TextOps.tokens(col("text")))

  /** The q87 quality-score SQL fragment, from raw `text`. */
  private val qbpSql: String =
    """CAST(CASE WHEN len(string_split(lower(text), ' ')) <= 100
      |  THEN (len(string_split(lower(text), ' '))
      |        - len(list_filter(string_split(lower(text), ' '),
      |            x -> x IN ('the','a','an','of','to','and','in','is','on','for')))) * 100
      |  ELSE (len(string_split(lower(text), ' '))
      |        - len(list_filter(string_split(lower(text), ' '),
      |            x -> x IN ('the','a','an','of','to','and','in','is','on','for')))) * 10000
      |       // len(string_split(lower(text), ' ')) END AS BIGINT)""".stripMargin

  /** Exact lower median per group by distributed selection — q159's
    * histogram machinery generalized to grouped data: per-(key, bucket)
    * histogram → per-key cumulative over the ≤|buckets|-row histogram
    * locates each key's rank-k bucket → only those buckets' rows are
    * ranked. No window ever partitions by the bare group key over raw
    * rows (a 100 TB group would serialize into one task); every raw-row
    * window is (key, bucket)-scoped. Input needs (key, cents) columns;
    * bucketing happens HERE so callers can't drift from the width, and
    * uses true floor division (ldiv truncates toward zero, which would
    * fold buckets -1 and 0 together across the origin and break the
    * bucket-order ≡ value-order invariant on negative values). */
  private def lowerMedianPerGroup(vIn: DataFrame, key: String,
      bucketW: Long): DataFrame = {
    val w = lit(bucketW)
    val v = vIn.withColumn("bk",
      ldiv(col("cents") - pmod(col("cents"), w), w))
    val hist = v.groupBy(key, "bk").agg(count(lit(1)).as("cnt"))
    val nk = hist.groupBy(key).agg(sum("cnt").as("n"),
      ldiv(sum("cnt") + 1, lit(2L)).as("k"))
    val wH = Window.partitionBy(key).orderBy("bk")
      .rowsBetween(Window.unboundedPreceding, -1)
    val target = hist
      .withColumn("below", coalesce(sum("cnt").over(wH), lit(0L)))
      .join(broadcast(nk), Seq(key))
      .filter(col("below") < col("k") &&
        col("k") <= col("below") + col("cnt"))
      .select(col(key), col("bk"), (col("k") - col("below")).as("local_k"))
    val wB = Window.partitionBy(key, "bk").orderBy("cents")
    v.join(broadcast(target), Seq(key, "bk"))
      .withColumn("rn", row_number().over(wB))
      .filter(col("rn") === col("local_k"))
      .select(col(key), col("cents").as("kth"))
  }

  /** Grid-blocked L∞ ≤ R neighbor pairs over the first two quantized
    * embedding dims (the q237 shape, shared with q240's clustering):
    * one-cell build side, 9-cell-replicated probe side, every
    * qualifying pair meets on exactly one cell key. Returns
    * (a_id, b_id, dinf) with a_id < b_id. */
  private def gridPairs(embeddings: DataFrame, r: Long): DataFrame = {
    val pts = embeddings.select(col("vec_id"),
      floor(element_at(col("embedding"), 1).cast("double") * 1000)
        .cast("long").as("x"),
      floor(element_at(col("embedding"), 2).cast("double") * 1000)
        .cast("long").as("y"))
    def cell(c: Column) = ldiv(c, lit(r))
    val a = pts.select(col("vec_id").as("a_id"), col("x").as("ax"),
      col("y").as("ay"), cell(col("x")).as("cx"), cell(col("y")).as("cy"))
    val offsets = for (dx <- Seq(-1L, 0L, 1L); dy <- Seq(-1L, 0L, 1L))
      yield struct(lit(dx).as("dx"), lit(dy).as("dy"))
    val b = pts
      .select(col("vec_id").as("b_id"), col("x").as("bx"),
        col("y").as("by"), explode(array(offsets: _*)).as("o"))
      .select(col("b_id"), col("bx"), col("by"),
        (cell(col("bx")) + col("o.dx")).as("cx"),
        (cell(col("by")) + col("o.dy")).as("cy"))
    a.join(b, Seq("cx", "cy"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("dinf", greatest(abs(col("ax") - col("bx")),
        abs(col("ay") - col("by"))))
      .filter(col("dinf") <= r)
      .select(col("a_id"), col("b_id"), col("dinf"))
  }

  /** q240/q292 shared body: DBSCAN-lite at L∞ radius `eps` over the
    * first two quantized embedding dims — grid-blocked neighbor join,
    * degree-3 core points, large/small-star CC over core-core edges,
    * min-cluster border attachment (see q240's registration note). */
  private def dbscanLite(emb: DataFrame, eps: Long): DataFrame = {
    // the spatial join is the costliest stage and feeds FOUR
    // consumers (CC seed, degree count, border attach, role join) —
    // checkpoint it once (lazily: construction stays job-free, the
    // first action materializes, the rest reuse)
    val edges = gridPairs(emb, eps)
      .select("a_id", "b_id").localCheckpoint(false)
    val sym = edges.select(col("a_id").as("v"), col("b_id").as("w"))
      .union(edges.select(col("b_id").as("v"), col("a_id").as("w")))
    val core = sym.groupBy("v").agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= 3).select("v")
    val coreEdges = edges
      .join(core.withColumnRenamed("v", "a_id"), "a_id")
      .join(core.withColumnRenamed("v", "b_id"), "b_id")
      .select("a_id", "b_id")
    // star variant, not plain label propagation: a spatial proximity
    // graph has long chains (corridors of adjacent points), and
    // min-label propagation pays one round per chain hop while
    // large-star/small-star contracts chains in O(log n) rounds
    val lab = graft.ops.DedupOps.connectedComponentsStar(coreEdges)
    // isolated core points (no core neighbor) root their own cluster
    val coreLab = core.withColumnRenamed("v", "node")
      .join(lab, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("cluster"), col("node")).as("cluster"))
    val nbrCore = sym
      .join(coreLab.withColumnRenamed("node", "w"), "w")
      .groupBy("v").agg(min("cluster").as("bcluster"))
    emb.select(col("vec_id"))
      .join(coreLab.withColumnRenamed("node", "vec_id"),
        Seq("vec_id"), "left")
      .join(nbrCore.withColumnRenamed("v", "vec_id"),
        Seq("vec_id"), "left")
      .select(col("vec_id"),
        when(col("cluster").isNotNull, lit("core"))
          .when(col("bcluster").isNotNull, lit("border"))
          .otherwise(lit("noise")).as("role"),
        coalesce(col("cluster"), col("bcluster")).as("cluster"))
      .orderBy("vec_id")
  }

  /** q292's density-scaled radius: the largest integer eps in
    * [1, 200] with eps²·n ≤ 312 500 (pinning the expected L∞-degree
    * as the corpus densifies on its fixed domain; 312 500 = 25²·500
    * calibrates the registry corpus to q240's eps). An integer
    * bounded search, not a sqrt — bit-identical in any engine. */
  private def dbscanEps(n: Long): Long =
    (1L to 200L).reverse.find(e => e * e * n <= 312500L).getOrElse(1L)

  /** Multi-quantile generalization of the grouped selection: ALL the
    * requested order statistics (name, num, den) — k = ⌈num·n/den⌉ per
    * key — from ONE corpus pass. The histogram, its cumulative and the
    * per-(key, bucket) rank are computed once; each quantile only adds
    * a row to the broadcast target table. Same invariant as
    * lowerMedianPerGroup: no window ever partitions by the bare key
    * over raw rows. The rank is computed on the base BEFORE the target
    * join (a target bucket can serve several quantiles — ranking after
    * the join would count the duplicated rows). */
  private def quantilesPerGroup(vIn: DataFrame, key: String, bucketW: Long,
      qs: Seq[(String, Long, Long)]): DataFrame =
    quantilesPerGroupW(vIn, key, lit(bucketW), qs)

  /** [[quantilesPerGroup]] with a per-row bucket width column, so
    * heterogeneous metrics (different natural bucket sizes) can stack
    * into ONE long-format pass keyed by metric name — the q279 shape:
    * three metrics' fences from one histogram-selection machinery run
    * instead of three. */
  private def quantilesPerGroupW(vIn: DataFrame, key: String, w: Column,
      qs: Seq[(String, Long, Long)]): DataFrame = {
    val wB = Window.partitionBy(key, "bk").orderBy("cents")
    val v = vIn
      .withColumn("bk", ldiv(col("cents") - pmod(col("cents"), w), w))
      .withColumn("rn", row_number().over(wB))
      .localCheckpoint(false)
    val hist = v.groupBy(key, "bk").agg(count(lit(1)).as("cnt"))
    val nk = hist.groupBy(key).agg(sum("cnt").as("n"))
    val wH = Window.partitionBy(key).orderBy("bk")
      .rowsBetween(Window.unboundedPreceding, -1)
    val below = hist
      .withColumn("below", coalesce(sum("cnt").over(wH), lit(0L)))
      .join(broadcast(nk), Seq(key))
    val targets = qs.map { case (label, num, den) =>
      below
        .withColumn("k", ldiv(col("n") * num + (den - 1), lit(den)))
        .filter(col("below") < col("k") &&
          col("k") <= col("below") + col("cnt"))
        .select(col(key), col("bk"),
          (col("k") - col("below")).as("local_k"), lit(label).as("q"))
    }.reduce(_ unionByName _)
    v.join(broadcast(targets), Seq(key, "bk"))
      .filter(col("rn") === col("local_k"))
      .groupBy(key)
      .agg(qs.map { case (label, _, _) =>
        min(when(col("q") === label, col("cents"))).as(label)
      }.head, qs.tail.map { case (label, _, _) =>
        min(when(col("q") === label, col("cents"))).as(label)
      }: _*)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Equi-depth quartile profile per group (feature-binning edges +
    // IQR outlier fences): exact ⌈p·n⌉ order statistics of event value
    // in cents via ONE histogram-selection pass for all three quartiles
    // — the multi-k form of q236's machinery, and the scalable
    // replacement for percentile_approx when the result feeds an exact
    // gate. IQR rides along for the classic 1.5·IQR fence.
    "q246_equidepth_quartiles" -> ((s, dir) => {
      val v = t(s, dir, "events")
        .select(col("event_type"),
          (col("value").cast(DecimalType(20, 2)) * 100)
            .cast("long").as("cents"))
      quantilesPerGroup(v, "event_type", 1000L,
        Seq(("p25_cents", 1L, 4L), ("p50_cents", 1L, 2L),
          ("p75_cents", 3L, 4L)))
        .withColumn("iqr_cents", col("p75_cents") - col("p25_cents"))
        .orderBy("event_type")
    }),

    // Ordered funnel conversion (view → click → purchase, each step
    // STRICTLY after the previous): the product-analytics staple, and a
    // window-chaining exercise — the "first view so far", "first valid
    // click so far" running minimums are three Window nodes over ONE
    // (user_id, ts) sort, and the per-user flag rollup groups on the
    // same key, so the whole funnel pays a single exchange. The strict
    // ordering lives in the 1-PRECEDING frame + mv < ts residual (a
    // same-row view can't legitimize its own click). Null-guarded
    // conversion in bp.
    "q234_funnel_conversion" -> ((s, dir) => {
      val e = t(s, dir, "events")
        .select(col("user_id"), col("event_type").as("et"),
          col("ts"), col("event_id"))
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      val s1 = e.withColumn("mv",
        min(when(col("et") === "view", col("ts"))).over(w))
      val validClick = col("et") === "click" &&
        col("mv").isNotNull && col("mv") < col("ts")
      val s2 = s1.withColumn("mc",
        min(when(validClick, col("ts"))).over(w))
      val validPurch = col("et") === "purchase" &&
        col("mc").isNotNull && col("mc") < col("ts")
      s2.groupBy("user_id").agg(
          max(when(col("et") === "view", 1L).otherwise(0L)).as("v"),
          max(when(validClick, 1L).otherwise(0L)).as("c"),
          max(when(validPurch, 1L).otherwise(0L)).as("p"))
        .agg(count(lit(1)).as("n_users"), sum("v").as("n_view"),
          sum("c").as("n_click_after_view"),
          sum("p").as("n_purchase_after_click"))
        .select(col("n_users"), col("n_view"),
          col("n_click_after_view"), col("n_purchase_after_click"),
          when(col("n_view") === 0, lit(null).cast("long"))
            .otherwise(ldiv(col("n_purchase_after_click") * lit(10000L),
              col("n_view"))).as("conv_bp"))
    }),

    // Retention cohort table: users grouped by first-seen day, distinct
    // actives per (cohort, weeks-since) — the growth dashboard's
    // triangle. Scale shape: the first-event rollup and the join back
    // are both user_id-keyed (co-partitioned, one exchange reused), the
    // final aggregate is (cohort × offset)-sized with partial
    // count-distinct expansion. No windows at all.
    "q235_retention_cohorts" -> ((s, dir) => {
      val e = t(s, dir, "events")
        .select(col("user_id"), to_date(col("ts")).as("d"))
      val first = e.groupBy("user_id").agg(min("d").as("cohort_day"))
      e.join(first, "user_id")
        .select(col("cohort_day"),
          ldiv(datediff(col("d"), col("cohort_day")).cast("long"), lit(7L))
            .as("week_offset"),
          col("user_id"))
        .groupBy("cohort_day", "week_offset")
        .agg(countDistinct("user_id").as("n_users"))
        .orderBy("cohort_day", "week_offset")
    }),

    // Robust scale per group: exact lower-median and MAD (median
    // absolute deviation) of event value in integer cents — the outlier
    // fence that, unlike stddev, one corrupt batch can't drag. TWO
    // rounds of grouped distributed selection (values, then absolute
    // deviations from the per-group median): histograms locate each
    // group's rank-k bucket so no window ever runs over a full group's
    // raw rows — the per-group generalization of q159/q224, and the
    // shape that survives a 100 TB single-type skew.
    "q236_event_value_mad" -> ((s, dir) => {
      val W = 1000L // cents per bucket: $10 bands over [$0, $491]
      val v = t(s, dir, "events")
        .select(col("event_type"),
          (col("value").cast(DecimalType(20, 2)) * 100)
            .cast("long").as("cents"))
      val med = lowerMedianPerGroup(v, "event_type", W)
        .withColumnRenamed("kth", "median_cents")
      val dev = v.join(broadcast(med), "event_type")
        .select(col("event_type"),
          abs(col("cents") - col("median_cents")).as("cents"))
      val mad = lowerMedianPerGroup(dev, "event_type", W)
        .withColumnRenamed("kth", "mad_cents")
      val n = v.groupBy("event_type").agg(count(lit(1)).as("n"))
      n.join(broadcast(med), "event_type")
        .join(broadcast(mad), "event_type")
        .select(col("event_type"), col("n"), col("median_cents"),
          col("mad_cents"))
        .orderBy("event_type")
    }),

    // Per-group OLS trend over daily rollups: slope of daily event
    // value against the day index per event type, from five exact
    // DECIMAL moments (q95's discipline, grouped) over the (type, day)
    // rollup — the corpus pass is one partial-aggregated rollup, the
    // regression runs on day-count-sized groups. Slope reported in ppm
    // (cents/day ·10⁶) via integral DIV — no float accumulation
    // anywhere, so the trend direction can gate pipelines.
    "q249_pertype_trend" -> ((s, dir) => {
      val daily = t(s, dir, "events")
        .select(col("event_type"),
          datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
            .cast("long").as("x"),
          (col("value").cast(DecimalType(20, 2)) * 100)
            .cast("long").as("cents"))
        .groupBy("event_type", "x")
        .agg(sum("cents").as("y"))
      val m = daily.groupBy("event_type").agg(
        count(lit(1)).as("n"),
        sum(col("x").cast(dec)).as("sx"),
        sum(col("y").cast(dec)).as("sy"),
        sum(col("x").cast(dec) * col("y")).as("sxy"),
        sum(col("x").cast(dec) * col("x")).as("sxx"))
      m.select(col("event_type"), col("n").as("n_days"),
          ldiv((col("n") * col("sxy") - col("sx") * col("sy"))
            * lit(1000000L),
            col("n") * col("sxx") - col("sx") * col("sx"))
            .as("slope_ppm"))
        .orderBy("event_type")
    }),

    // Robust outlier fence from the MAD (the q236 pair's purpose): a
    // value is an outlier when |x − median| exceeds 3σ under the normal
    // MAD calibration (σ ≈ 1.4826·MAD) — cross-multiplied to the exact
    // integer test |x−med|·10⁴ > MAD·44478, so the fence is
    // engine-independent. Two selection rounds + one scoring scan; the
    // stddev-based fence this replaces breaks the moment a corrupt
    // batch drags the mean.
    "q250_mad_outliers" -> ((s, dir) => {
      val W = 1000L
      val v = t(s, dir, "events")
        .select(col("event_type"),
          (col("value").cast(DecimalType(20, 2)) * 100)
            .cast("long").as("cents"))
      val med = lowerMedianPerGroup(v, "event_type", W)
        .withColumnRenamed("kth", "med")
      val dev = v.join(broadcast(med), "event_type")
        .select(col("event_type"), col("cents"),
          abs(col("cents") - col("med")).as("adev"))
      val mad = lowerMedianPerGroup(
        dev.select(col("event_type"), col("adev").as("cents")),
        "event_type", W).withColumnRenamed("kth", "mad")
      dev.join(broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum((col("adev") * lit(10000L) > col("mad") * lit(44478L))
            .cast("long")).as("n_outliers"))
        .select(col("event_type"), col("n"), col("n_outliers"),
          ldiv(col("n_outliers") * lit(10000L), col("n"))
            .as("outlier_bp"))
        .orderBy("event_type")
    }),

    // 2-D grid-blocked neighbor join (the spatial-join shape): all
    // embedding pairs within L∞ ≤ 25 on the first two quantized dims.
    // Each point lands in ONE ~R-wide grid cell; the probe side
    // replicates into its 9-cell neighborhood so every qualifying pair
    // meets on exactly one cell key — a plain equi hash join, no
    // cross/theta join anywhere, candidate fan-out a constant 9×.
    // Truncating DIV keeps the cell map monotonic with boundaries ≥2R
    // apart, so |Δcoord| ≤ R ⇒ adjacent cells even across the origin's
    // double-width cell. The 1-D interval analogue is RangeJoin; this
    // is the plane version every geo/embedding-blocking join reduces to.
    "q237_grid_neighbor_join" -> ((s, dir) =>
      gridPairs(t(s, dir, "embeddings"), 25L).orderBy("a_id", "b_id")),

    // ROC-AUC of the quality score against the labeled-English target —
    // the separation audit behind any threshold gate (does qualityBp
    // actually rank the docs we want kept above the rest?). Exact
    // Mann-Whitney with tie correction, all integers: collapse the
    // corpus to a score histogram (≤10⁴ distinct bp values at ANY
    // corpus size), then 2U = Σ_s pos_s·(2·negBelow_s + neg_s) — the
    // 0.5-tie term stays integral because everything is doubled — and
    // AUC_bp = 2U·5000 DIV (n₁·n₀) in DECIMAL so 10¹²-doc corpora
    // can't wrap. The only window runs over the histogram, never the
    // corpus; one scan, one tiny shuffle.
    "q225_quality_auc" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(
        qbp.as("q_bp"),
        (col("lang") === "en").cast("long").as("pos"))
      val hist = d.groupBy("q_bp").agg(
        sum("pos").as("p"),
        (count(lit(1)) - sum("pos")).as("g"))
      val w = Window.orderBy("q_bp")
        .rowsBetween(Window.unboundedPreceding, -1)
      hist.withColumn("cg", coalesce(sum("g").over(w), lit(0L)))
        .agg(
          sum("p").cast("long").as("n_pos"),
          sum("g").cast("long").as("n_neg"),
          sum(col("p").cast(dec) * (lit(2) * col("cg") + col("g")))
            .as("u2"))
        .select(col("n_pos"), col("n_neg"),
          when(col("n_pos") === 0 || col("n_neg") === 0,
            lit(null).cast("long"))
            .otherwise(ldiv(col("u2") * lit(5000),
              col("n_pos").cast(dec) * col("n_neg"))).as("auc_bp"))
    }),

    // Count-Min sketch (Cormode & Muthukrishnan 2005) with its error
    // audited against exact counts — and unlike the rows-only sketch
    // family, HASH-CHECKABLE: buckets are the first md5 hex pair under
    // 4 seeds (string keys end to end — the q179 rule: no hex→int cast
    // for engines to disagree on), so DuckDB replays the sketch bit for
    // bit. Shape at 100 TB: corpus → vocab rollup (map-side combined),
    // vocab → 4×256 cells, top-20 via TakeOrderedAndProject, probe join
    // against the broadcast cell table. CMS guarantees est ≥ exact;
    // over_bp reports the collision inflation per heavy hitter.
    "q226_countmin_sketch" -> ((s, dir) => {
      def bucket(seed: Int, tk: Column) =
        substring(md5(concat(lit(s"$seed:"), tk)), 1, 2)
      val seedCols = array((0 until 4).map(r =>
        struct(lit(r).cast("long").as("seed"),
          bucket(r, col("tk")).as("bucket"))): _*)
      val vocab = t(s, dir, "documents")
        .select(explode(TextOps.tokens(col("text"))).as("tk"))
        .groupBy("tk").agg(count(lit(1)).as("exact_n"))
      val cells = vocab.select(col("exact_n"), explode(seedCols).as("sb"))
        .groupBy(col("sb.seed").as("seed"), col("sb.bucket").as("bucket"))
        .agg(sum("exact_n").as("cell_n"))
      val top = vocab.orderBy(desc("exact_n"), asc("tk")).limit(20)
      top.select(col("tk"), col("exact_n"), explode(seedCols).as("sb"))
        .select(col("tk"), col("exact_n"),
          col("sb.seed").as("seed"), col("sb.bucket").as("bucket"))
        .join(broadcast(cells), Seq("seed", "bucket"))
        .groupBy("tk", "exact_n").agg(min("cell_n").as("est_n"))
        .select(col("tk"), col("exact_n"), col("est_n"),
          ldiv((col("est_n") - col("exact_n")) * lit(10000L),
            col("exact_n")).as("over_bp"))
        .orderBy(desc("exact_n"), asc("tk"))
    }),

    // MinHash similarity ESTIMATION made oracle-exact (the contrast to
    // rows-only q17): signatures are mins of md5 hex strings under 8
    // seeds — lexicographic min of lowercase hex agrees across engines
    // — so candidate generation (seed-0 band collision), the agreement
    // count AND the Jaccard estimate all replay exactly in DuckDB.
    // Shape: per-doc distinct shingles → 8 conditional mins in ONE
    // vocab-keyed rollup (no seed explode), sig table self-joins on the
    // band key only. Band-bucket fan-out is bounded by near-dup cluster
    // size — run exact dedup (q09) upstream so identical docs can't
    // form a mega-bucket.
    "q227_minhash_estimate" -> ((s, dir) => {
      val sh = t(s, dir, "documents")
        .select(col("doc_id"), explode(graft.functions.ShinglesExpr
          .shingles(TextOps.tokens(col("text")), 3)).as("sh"))
      val sigAggs = (0 until 8).map(r =>
        min(md5(concat(lit(s"$r:"), col("sh")))).as(s"s$r"))
      val sigs = sh.groupBy("doc_id")
        .agg(sigAggs.head, sigAggs.tail: _*)
      val left = sigs.select(col("doc_id").as("a_id") +:
        (0 until 8).map(r => col(s"s$r").as(s"a$r")): _*)
      val right = sigs.select(col("doc_id").as("b_id") +:
        (0 until 8).map(r => col(s"s$r").as(s"b$r")): _*)
      val agree = (0 until 8)
        .map(r => when(col(s"a$r") === col(s"b$r"), 1L).otherwise(0L))
        .reduce(_ + _)
      left.join(right, col("a0") === col("b0") && col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"), agree.as("agree"),
          ldiv(agree * lit(10000L), lit(8L)).as("est_jaccard_bp"))
        .orderBy("a_id", "b_id")
    }),

    // Curriculum sharding: quality-ranked serpentine assignment into 8
    // shards (rank r → shard snake(r), so every shard gets the same
    // quality PROFILE, not just the same count — the standard trick for
    // difficulty-balanced training shards). The global rank is computed
    // WITHOUT a global window: the total order is (q_bp desc, bucket,
    // doc_id), offsets come from a cumulative over the (q_bp × 32
    // buckets) HISTOGRAM (≤320k rows at any corpus size), and the only
    // per-row window partitions by (q_bp, bucket) — the q159/PrefixSum
    // distributed-selection idiom applied to ranking.
    "q228_curriculum_shards" -> ((s, dir) => {
      val nb = 32L
      val d = t(s, dir, "documents")
        .select(col("doc_id"), qbp.as("q_bp"))
        .withColumn("bk", pmod(col("doc_id"), lit(nb)))
      val hist = d.groupBy("q_bp", "bk").agg(count(lit(1)).as("c"))
      val wOff = Window.orderBy(desc("q_bp"), asc("bk"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val off = hist
        .withColumn("off", coalesce(sum("c").over(wOff), lit(0L)))
        .select("q_bp", "bk", "off")
      val wIn = Window.partitionBy("q_bp", "bk").orderBy("doc_id")
      val r0 = col("off") + row_number().over(wIn) - 1
      val pass = ldiv(col("r0"), lit(8L))
      val pos = pmod(col("r0"), lit(8L))
      d.join(broadcast(off), Seq("q_bp", "bk"))
        .withColumn("r0", r0)
        .withColumn("shard",
          when(pmod(pass, lit(2L)) === 0, pos).otherwise(lit(7L) - pos))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"), sum("q_bp").as("sq"))
        .select(col("shard"), col("n_docs"),
          ldiv(col("sq"), col("n_docs")).as("mean_q_bp"))
        .orderBy("shard")
    }),

    // Stratified k-fold assignment audit: fold = md5-derived hash of
    // the doc id mod 5, computed WITHOUT any window (pure per-row
    // projection — the only fold assignment that scales, since a
    // within-stratum rank would partition a window by `lang` and a
    // 100 TB English stratum is one partition). The hex nibbles map to
    // integers through instr('0123456789abcdef', ·) on both engines —
    // the q179 no-hex-cast rule again. Output is the per-(lang, fold)
    // balance report a CV harness logs before training.
    "q229_kfold_strata" -> ((s, dir) => {
      val nib1 = "instr('0123456789abcdef', substring(" +
        "md5(concat('fold:', cast(doc_id as string))), 1, 1)) - 1"
      val nib2 = "instr('0123456789abcdef', substring(" +
        "md5(concat('fold:', cast(doc_id as string))), 2, 1)) - 1"
      val fold = pmod(expr(s"($nib1) * 16 + ($nib2)"), lit(5)).cast("long")
      val cnt = t(s, dir, "documents")
        .select(col("lang"), fold.as("fold"))
        .groupBy("lang", "fold").agg(count(lit(1)).as("n_docs"))
      val wl = Window.partitionBy("lang")
      cnt.withColumn("share_bp",
          ldiv(col("n_docs") * lit(10000L), sum("n_docs").over(wl)))
        .orderBy("lang", "fold")
    }),

    // Embedding second-moment statistics: the top-10 most-correlated
    // dimension pairs by |covariance numerator| n·Σxᵢxⱼ − Σxᵢ·Σxⱼ over
    // the q182 integer lattice (quantized components, so the moments
    // are exact integers and the ranking is engine-independent). The
    // n·d² work is inherent to any covariance; the SHAPE is what
    // scales: per-row pair fan-out partial-aggregates into a fixed
    // d·(d−1)/2-cell table (2016 rows for d=64 at any corpus size),
    // dim sums are 64 rows, n is a broadcast scalar — shuffles never
    // grow with the corpus. Products ride in DECIMAL (q183 rule:
    // Σxᵢxⱼ·n wraps BIGINT near 10¹⁹). The OUTPUT column is final-cast
    // to STRING on both sides: DuckDB surfaces DECIMAL(38,0) results as
    // float64 ("…0.0") through its result API, so a decimal output
    // schema hash-fails on formatting alone (r8 verdict root cause);
    // string digits are exact at any magnitude.
    "q230_embedding_covariance" -> ((s, dir) => {
      val quant = transform(col("embedding"),
        v => floor(v.cast("double") * 1000).cast("long"))
      // parallelize before the 2016-per-row pair fan-out (the q156
      // lesson — this partial agg measured ~1 s CPU on the single
      // bench-SF scan task; at scale the splits already parallelize)
      val base = graft.ops.Partitioning.ensureParallel(
          t(s, dir, "embeddings").select(col("embedding")))
        .select(quant.as("q"))
      val nDf = base.agg(count(lit(1)).cast(dec).as("n"))
      val ex = base.select(col("q"), posexplode(col("q")))
        .toDF("q", "i", "qi")
      val sums = ex.groupBy("i").agg(sum(col("qi")).cast(dec).as("si"))
      // only the j>i tail is exploded (slice from i+2, 1-based): 2016
      // product rows per input row instead of 64²=4096 filtered later
      val pairs = ex
        .select(col("i"), col("qi"),
          posexplode(slice(col("q"), col("i") + 2, lit(64))))
        .toDF("i", "qi", "k", "qj")
        .select(col("i"), col("qi"), (col("i") + 1 + col("k")).as("j"),
          col("qj"))
        .groupBy("i", "j")
        // product in LONG (lattice components are bounded by the
        // float-embedding domain, so qi·qj cannot overflow per row at
        // any corpus size), accumulated in DECIMAL for the scale-safe
        // sum — drops ~2000 decimal multiplies per input row from the
        // partial-agg hot loop
        .agg(sum((col("qi") * col("qj")).cast(dec)).as("sp"))
      val sj = sums.select(col("i").as("j"), col("si").as("sj"))
      pairs.join(broadcast(sums), "i").join(broadcast(sj), "j")
        .crossJoin(broadcast(nDf))
        .select((col("i") + 1).cast("long").as("dim_i"),
          (col("j") + 1).cast("long").as("dim_j"),
          (col("n") * col("sp") - col("si") * col("sj"))
            .cast(dec).as("cov_raw"))
        .orderBy(abs(col("cov_raw")).desc, col("dim_i"), col("dim_j"))
        .limit(10)
        .select(col("dim_i"), col("dim_j"),
          col("cov_raw").cast("string").as("cov_num"))
    }),

    // Exact Gini coefficient of revenue concentration per region — the
    // inequality twin of q198's Pareto head: G = (2·Σi·xᵢ − (n+1)·Σx)
    // / (n·Σx) over customers sorted by revenue, in exact integer cents
    // with a DECIMAL numerator and one integral DIV to bp. The fact
    // pass collapses to per-customer revenue FIRST (q198's shape), so
    // the rank windows run over customer rows, never line items;
    // deterministic (rev, custkey) rank order.
    "q254_region_gini" -> ((s, dir) => {
      val rev = t(s, dir, "orders")
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("c_custkey"))
        .agg((sum(col("o_totalprice").cast(DecimalType(20, 2))) * 100)
          .cast("long").as("cents"))
      val w = Window.partitionBy("r_name").orderBy("cents", "c_custkey")
      rev.withColumn("i", row_number().over(w).cast("long"))
        .groupBy("r_name")
        .agg(count(lit(1)).as("n_customers"),
          sum(col("cents").cast(dec)).as("sx"),
          sum(col("i").cast(dec) * col("cents")).as("six"))
        .select(col("r_name"), col("n_customers"),
          ldiv((lit(2) * col("six") - (col("n_customers") + 1)
            * col("sx")) * lit(10000L),
            col("n_customers").cast(dec) * col("sx")).as("gini_bp"))
        .orderBy("r_name")
    }),

    // Oracle-exact SimHash (the replayable contrast to rows-only q18,
    // as q227 is to q17): 16 fingerprint bits from count-weighted ±1
    // votes of md5-nibble bits per token — string-keyed md5, integral
    // votes, ties (vote ≤ 0) resolve to 0, so the whole sketch replays
    // in DuckDB. Shape: corpus → (doc, token) count rollup → 16
    // conditional sums per doc → fp-keyed collision groups (the
    // near-dup candidate report). The vote table is vocab-sized before
    // the per-doc rollup; no pair join anywhere.
    "q253_simhash_exact" -> ((s, dir) => {
      val tokCnt = t(s, dir, "documents")
        .select(col("doc_id"), explode(TextOps.tokens(col("text")))
          .as("tk"))
        .groupBy("doc_id", "tk").agg(count(lit(1)).as("c"))
        .withColumn("h", md5(col("tk")))
      // nibble value of hex char j (0-based) of the token's md5
      def nib(j: Int): Column =
        expr(s"instr('0123456789abcdef', substring(h, ${j + 1}, 1))") - 1
      val bitSums = (0 until 16).map { k =>
        val bit = when(nib(k / 4).bitwiseAND(lit(1 << (k % 4))) > 0,
          lit(1L)).otherwise(lit(0L))
        sum(col("c") * (bit * 2 - 1)).as(s"v$k")
      }
      val fp = (0 until 16).map(k =>
        when(col(s"v$k") > 0, lit(1L << k)).otherwise(0L)).reduce(_ + _)
      val sigs = tokCnt.groupBy("doc_id")
        .agg(bitSums.head, bitSums.tail: _*)
        .select(col("doc_id"), fp.as("fp"))
      sigs.join(sigs.groupBy("fp").agg(count(lit(1)).as("n_same_fp")),
          "fp")
        .select(col("doc_id"), col("fp"), col("n_same_fp"))
        .orderBy("doc_id")
    }),

    // Dedup survivorship by QUALITY (the real curation choice): inside
    // each near-dup cluster keep the highest-quality doc, not the
    // smallest id (q86's canonical pick) — tiebreak min doc_id so the
    // choice is total. Reuses the session-shared exact-Jaccard edge set
    // and the CC machinery; the quality join touches cluster members
    // only, and the argmax is one (max_by-style) struct-min per cluster.
    "q251_dedup_best_quality" -> ((s, dir) => {
      val labels = graft.ops.DedupOps
        .connectedComponents(ScaleQ.dedupEdges(s, dir))
        .withColumnRenamed("node", "doc_id")
      val q = t(s, dir, "documents")
        .select(col("doc_id"), qbp.as("q_bp"))
      labels.join(q, "doc_id")
        .groupBy("cluster")
        .agg(count(lit(1)).as("n_members"),
          max(struct(col("q_bp"), (-col("doc_id")).as("neg_id")))
            .as("best"))
        .select(col("cluster"), col("n_members"),
          (-col("best.neg_id")).as("keep_id"),
          col("best.q_bp").as("keep_q_bp"))
        .orderBy("cluster")
    }),

    // Consistent-hash shard assignment (ring with virtual nodes): docs
    // map to the first of 32 ring points (4 shards × 8 vnodes, points =
    // md5 hex of "shard:vnode") clockwise from md5(doc), wrapping to
    // the ring minimum — the device that keeps shard assignment ~stable
    // when shards join or leave (only the arc between two points
    // moves). String-keyed md5 end to end (the q179 rule), ring
    // broadcast, one scan; output is the per-shard balance report plus
    // a stability probe: how many docs WOULD move if shard 3 left.
    "q252_consistent_hash_shards" -> ((s, dir) => {
      val ring = (for (sh <- 0 until 4; v <- 0 until 8)
        yield (sh.toLong, md5hexLit(s"$sh:$v"))).toSeq
      def owner(pos: Column, points: Seq[(Long, String)]): Column = {
        // first point clockwise (≥ pos), else wrap to the ring minimum
        val ge = points.map { case (sh, p) =>
          when(lit(p) >= pos, struct(lit(p).as("p"), lit(sh).as("sh")))
        }
        val wrap = points.map { case (sh, p) =>
          struct(lit(p).as("p"), lit(sh).as("sh"))
        }
        coalesce(least(ge: _*), least(wrap: _*)).getField("sh")
      }
      val d = t(s, dir, "documents")
        .select(col("doc_id"), md5(concat(lit("doc:"),
          col("doc_id").cast("string"))).as("pos"))
        .withColumn("shard", owner(col("pos"), ring))
        .withColumn("shard_without_3",
          owner(col("pos"), ring.filterNot(_._1 == 3)))
      d.groupBy("shard")
        .agg(count(lit(1)).as("n_docs"),
          sum((col("shard") =!= col("shard_without_3")).cast("long"))
            .as("n_move_if_3_leaves"))
        .orderBy("shard")
    }),

    // Markov next-event predictor accuracy: train per-prev-type argmax
    // transitions on the first TIME half, score top-1 accuracy on the
    // second — the temporal-split eval that tells you whether q107's
    // transition matrix has predictive value or just describes the
    // past. The midpoint split is a broadcast scalar; consecutive pairs
    // come from ONE user-partitioned lag window; the predictor table is
    // (event-type)²-sized, so scoring is a broadcast join. Ties break
    // alphabetically — fully integral, hash-exact.
    "q247_markov_accuracy" -> ((s, dir) => {
      val e = t(s, dir, "events")
        .select(col("user_id"), col("event_type").as("et"),
          unix_micros(col("ts")).as("tu"), col("event_id"))
      val mid = e.agg((ldiv(min("tu") + max("tu"), lit(2L))).as("mid"))
      val wU = Window.partitionBy("user_id").orderBy("tu", "event_id")
      val pairs = e
        .withColumn("prev_et", lag("et", 1).over(wU))
        .withColumn("prev_tu", lag("tu", 1).over(wU))
        .filter(col("prev_et").isNotNull)
        .crossJoin(broadcast(mid))
      val train = pairs.filter(col("tu") < col("mid") &&
          col("prev_tu") < col("mid"))
        .groupBy(col("prev_et"), col("et")).agg(count(lit(1)).as("c"))
      val wP = Window.partitionBy("prev_et").orderBy(desc("c"), asc("et"))
      val pred = train.withColumn("rk", row_number().over(wP))
        .filter(col("rk") === 1)
        .select(col("prev_et"), col("et").as("pred_et"))
      pairs.filter(col("tu") >= col("mid") && col("prev_tu") >= col("mid"))
        .join(broadcast(pred), Seq("prev_et"), "left")
        .groupBy("prev_et")
        .agg(count(lit(1)).as("n_test"),
          // coalesce: a prev type unseen in training has a null
          // prediction — that's a miss, not a skipped row
          sum(coalesce((col("et") === col("pred_et")).cast("long"),
            lit(0L))).as("n_correct"))
        .select(col("prev_et"), col("n_test"), col("n_correct"),
          ldiv(col("n_correct") * lit(10000L), col("n_test")).as("acc_bp"))
        .orderBy("prev_et")
    }),

    // Semi-supervised label spreading over the near-dup graph: each doc
    // with near-dup neighbors takes the majority of its NEIGHBORS'
    // labeled langs (alphabetical tiebreak) and the report scores that
    // against its own label, per lang — the audit that says whether
    // near-dup structure carries label signal (it should: near-dups are
    // usually same-language). Reuses the session-shared exact-Jaccard
    // edge set; every aggregate is edge-set- or lang-sized.
    "q248_label_spread" -> ((s, dir) => {
      val edges = ScaleQ.dedupEdges(s, dir).select("a_id", "b_id")
      val sym = edges.select(col("a_id").as("v"), col("b_id").as("w"))
        .union(edges.select(col("b_id").as("v"), col("a_id").as("w")))
      val langs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"))
      val votes = sym
        .join(langs.withColumnRenamed("doc_id", "w")
          .withColumnRenamed("lang", "nbr_lang"), "w")
        .groupBy(col("v"), col("nbr_lang")).agg(count(lit(1)).as("c"))
      val wV = Window.partitionBy("v").orderBy(desc("c"), asc("nbr_lang"))
      val predicted = votes.withColumn("rk", row_number().over(wV))
        .filter(col("rk") === 1)
        .select(col("v").as("doc_id"), col("nbr_lang").as("pred_lang"))
      predicted.join(langs, "doc_id")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum((col("pred_lang") === col("lang")).cast("long"))
            .as("n_agree"))
        .select(col("lang"), col("n_docs"), col("n_agree"),
          ldiv(col("n_agree") * lit(10000L), col("n_docs")).as("agree_bp"))
        .orderBy("lang")
    }),

    // A/B experiment readout: users split into two arms by the same
    // md5-nibble device as q229 (per-row projection, no windows — the
    // assignment that scales and replays), then per-arm exposure and
    // purchase conversion with the rate delta in bp. The contingency
    // shape feeds q104's chi² machinery when significance is needed;
    // this is the report every experimentation pipeline logs per day.
    "q244_ab_readout" -> ((s, dir) => {
      val nib1 = "instr('0123456789abcdef', substring(" +
        "md5(concat('exp:', cast(user_id as string))), 1, 1)) - 1"
      val arm = pmod(expr(nib1), lit(2)).cast("long")
      val perUser = t(s, dir, "events")
        .select(col("user_id"), col("event_type"))
        .groupBy("user_id")
        .agg(max(when(col("event_type") === "purchase", 1L)
          .otherwise(0L)).as("converted"))
        .withColumn("arm", arm)
      val arms = perUser.groupBy("arm")
        .agg(count(lit(1)).as("n_users"), sum("converted").as("n_conv"))
        .withColumn("rate_bp",
          ldiv(col("n_conv") * lit(10000L), col("n_users")))
      val wAll = Window.orderBy("arm")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      arms
        .withColumn("delta_bp_vs_arm0",
          col("rate_bp") - first("rate_bp").over(wAll))
        .orderBy("arm")
    }),

    // Lexical drift between corpus halves: the top-20 words whose
    // document frequency moved most between the even and odd doc_id
    // halves (the vocabulary counterpart of q120's event-mix TVD and
    // q201's embedding drift). Per-(word, half) df partials map-side
    // combine; the |Δdf| ranking is vocab-sized with a full
    // deterministic tiebreak.
    "q245_vocab_drift" -> ((s, dir) => {
      val df = t(s, dir, "documents")
        .select(pmod(col("doc_id"), lit(2L)).as("half"),
          explode(array_distinct(TextOps.tokens(col("text")))).as("w"))
        .groupBy("w", "half").agg(count(lit(1)).as("df"))
      df.groupBy("w")
        .agg(sum(when(col("half") === 0, col("df")).otherwise(0L))
          .as("df_even"),
          sum(when(col("half") === 1, col("df")).otherwise(0L))
            .as("df_odd"))
        .withColumn("abs_delta", abs(col("df_even") - col("df_odd")))
        .orderBy(desc("abs_delta"), desc("df_even"), asc("w"))
        .limit(20)
    }),

    // Curation attrition funnel: how many docs survive each gate of the
    // q87 pipeline (quality → langid → exact dedup), as the long-format
    // report a curation run logs per snapshot. One feature scan computes
    // every gate flag; the dedup stage is the fp-keyed first-wins
    // aggregate over stage-2 survivors only; the stacked stage rows are
    // 4 whatever the corpus, so the share/drop windows are constant-size.
    "q242_curation_attrition" -> ((s, dir) => {
      val tk = col("toks")
      // the feature scan (tokenize, md5 fingerprint, 25 marker counts,
      // quality score) is the dominant cost and has TWO consumers (the
      // first-wins rollup and the join back) — checkpoint it lazily so
      // it runs once per action, not twice
      val d = t(s, dir, "documents")
        .withColumn("toks", TextOps.tokens(col("text")))
        .select(col("doc_id"),
          size(tk).cast("long").as("n_tokens"),
          TextOps.qualityBp(tk).as("q_bp"),
          TextOps.langPredict(TextOps.langScores(tk)).as("pred_lang"),
          TextOps.docFingerprint(col("text")).as("fp"))
        .withColumn("g1",
          (col("q_bp") >= 3000 && col("n_tokens") >= 5).cast("long"))
        .withColumn("g2",
          (col("g1") === 1 && col("pred_lang") === "en").cast("long"))
        .localCheckpoint(false)
      val firstWins = d.filter(col("g2") === 1)
        .groupBy("fp").agg(min("doc_id").as("keep_id"))
      // firstWins is the fp-keyed survivor set — linear in the corpus,
      // so no broadcast hint: a plain fp-keyed shuffle join holds at
      // 100× and AQE converts genuinely small survivor sets at runtime
      val flagged = d.join(firstWins, Seq("fp"), "left")
        .withColumn("g3",
          (col("g2") === 1 && col("doc_id") === col("keep_id"))
            .cast("long"))
      val one = flagged.agg(count(lit(1)).as("n0"), sum("g1").as("n1"),
        sum("g2").as("n2"), sum("g3").as("n3"))
      val stages = one.select(expr(
        "stack(4, 0L, 'all', n0, 1L, 'quality_gate', n1, " +
          "2L, 'langid_en', n2, 3L, 'exact_dedup', n3) " +
          "AS (stage, gate, n_docs)"))
      // total = stage 0's count, read off the 4-row frame itself — no
      // second aggregate pass, no crossJoin
      val wPrev = Window.orderBy("stage")
      val wAll = Window.orderBy("stage")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      stages
        .withColumn("share_bp", ldiv(col("n_docs") * lit(10000L),
          first("n_docs").over(wAll)))
        .withColumn("dropped_from_prev",
          coalesce(lag("n_docs", 1).over(wPrev) - col("n_docs"), lit(0L)))
        .select("stage", "gate", "n_docs", "share_bp", "dropped_from_prev")
        .orderBy("stage")
    }),

    // Deterministic rate limiting (quota admission): first 5 events per
    // (user, hour) admitted by (ts, event_id) order, the rest throttled
    // — the batch twin of a streaming token bucket, and the replayable
    // form of an admission audit. The only window partitions by
    // (user_id, hour): bounded groups at any scale, and the per-user
    // rollup reuses the same user-keyed exchange.
    "q243_rate_limit_admission" -> ((s, dir) => {
      val e = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          date_trunc("hour", col("ts")).as("hr"))
      val w = Window.partitionBy("user_id", "hr").orderBy("ts", "event_id")
      e.withColumn("admitted",
          (row_number().over(w) <= 5).cast("long"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          sum("admitted").as("n_admitted"),
          (count(lit(1)) - sum("admitted")).as("n_throttled"))
        .orderBy("user_id")
    }),

    // Density-based spatial clustering (DBSCAN shape, deterministic
    // variant): core points have ≥3 L∞≤25 neighbors on the first two
    // quantized embedding dims, clusters are connected components over
    // core-core edges (min-label representative, the q56 contract),
    // border points take the MINIMUM cluster among their core neighbors
    // (classic DBSCAN leaves border assignment scan-order-dependent —
    // the min rule makes it engine-independent and oracle-checkable),
    // everything else is noise. Composes the round's grid-blocked
    // neighbor join (candidate edges, constant 9× fan-out) with the
    // dedup CC machinery; the CC runs on the edge set, never the corpus.
    // The demonstration input is BOUNDED to a fixed count (the q302
    // device, r13 verdict #1): with eps pinned at 25 the neighborhood
    // graph densifies quadratically on a fixed coordinate domain
    // (measured OOM at ×100), so the pinned-eps semantics are only
    // ever demonstrated on the first 500 vec_ids (= the whole sf0.01
    // registry corpus, a no-op at the gate SF; the production
    // corpus-sized form is q292's density-scaled eps).
    "q240_dbscan_lite" -> ((s, dir) =>
      dbscanLite(t(s, dir, "embeddings").filter(col("vec_id") < 500),
        25L)),

    // The production DBSCAN entry (r12 verdict #2): the pinned-eps
    // q240 form OOMs at ×100 — on a FIXED coordinate domain the
    // eps-neighborhood graph densifies quadratically as the corpus
    // grows (measured: ×100 eps=25 exhausts a 64 g heap). The scale
    // knob is eps itself: hold the expected L∞-degree constant by
    // shrinking eps with density — deg ≈ n·(2eps+1)²/|domain| stays
    // flat when eps²·n is pinned, so the edge set (and the CC that
    // runs on it) stays O(n) at any corpus size. eps = the largest
    // integer with eps²·n ≤ 312500 (the constant calibrated so the
    // sf-registry corpus n=500 reproduces q240's eps=25), computed by
    // one bounded O(n) id-column count — the semanticDedupAuto device;
    // the oracle replays the same integer search in its own CTE.
    "q292_dbscan_auto" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      dbscanLite(emb, dbscanEps(emb.select(col("vec_id")).count()))
    }),

    // Association rules over co-purchase pairs (the q128 basket support
    // extended to the full Agrawal-Srikant rule metrics): confidence
    // both directions and lift, all integral — conf = sup·10⁴ DIV n_a,
    // lift = sup·N·10⁶ DIV (n_a·n_b) with DECIMAL products so 10¹⁰
    // orders can't wrap. Item supports come from the same distinct
    // basket relation as the pairs; the rule table is top-20-sized, so
    // the metric joins are broadcast whatever the corpus.
    "q241_association_rules" -> ((s, dir) => {
      val basket = t(s, dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .repartition(s.sparkContext.defaultParallelism, col("l_orderkey"))
        .groupBy(col("l_orderkey").as("ok"))
        .agg(sort_array(collect_set(col("l_partkey"))).as("parts"))
        .localCheckpoint(false) // lazy: shared by 3 consumers, no
      // construction-time job (an EXPLAIN-only caller stays free)
      val nOrders = basket.agg(count(lit(1)).cast(dec).as("n"))
      val items = basket
        .select(explode(col("parts")).as("pk"))
        .groupBy("pk").agg(count(lit(1)).as("n_item"))
      val top = basket
        // codegen'd one-pass pair expansion (see q128)
        .select(explode(graft.functions.ArrayPairsExpr
          .pairs(col("parts"))).as("pr"))
        .groupBy(col("pr.p1").as("p1"), col("pr.p2").as("p2"))
        .agg(count(lit(1)).as("support"))
        .orderBy(desc("support"), asc("p1"), asc("p2"))
        .limit(20)
      // items is part-key-sized (SF-linear) — no hint on it; the 20-row
      // top side is the one AQE broadcasts at runtime (r9 sweep)
      top
        .join(items.withColumnRenamed("pk", "p1")
          .withColumnRenamed("n_item", "n_a"), "p1")
        .join(items.withColumnRenamed("pk", "p2")
          .withColumnRenamed("n_item", "n_b"), "p2")
        .crossJoin(broadcast(nOrders))
        .select(col("p1"), col("p2"), col("support"),
          ldiv(col("support") * lit(10000L), col("n_a")).as("conf_a2b_bp"),
          ldiv(col("support") * lit(10000L), col("n_b")).as("conf_b2a_bp"),
          ldiv(col("support").cast(dec) * col("n") * lit(1000000L),
            col("n_a").cast(dec) * col("n_b")).as("lift_ppm"))
        .orderBy(desc("support"), asc("p1"), asc("p2"))
    }),

    // Retrieval-compression evaluation: recall@10 of the 64-bit Hamming
    // ranking (q218's sign signatures — 32× smaller than the vectors)
    // against exact quantized-distance ranking, per probe. The metric
    // every ANN/compression deployment needs before swapping rankers —
    // and unlike recall of a float ANN, HASH-CHECKABLE: both rankings
    // are deterministic integers with (score, vec_id) tiebreaks, so
    // DuckDB replays top-10 sets exactly. Shape: probes broadcast, two
    // one-pass scored scans (codegen dot / xor+bit_count), per-probe
    // windows over probe-sized candidate groups, overlap via a
    // (q_id, vec_id) equi join of two 10-row-per-probe sets.
    "q238_hamming_recall" -> ((s, dir) => {
      import graft.functions.LongDotExpr.longDot
      val quant = transform(col("embedding"),
        v => floor(v.cast("double") * 1000).cast("long"))
      def word(lo: Int, hi: Int): Column =
        (lo to hi).map(k =>
          when(element_at(col("embedding"), k + 1).cast("double") >= 0,
            lit(1L << (k - lo))).otherwise(lit(0L)))
          .reduce(_ + _)
      val base = t(s, dir, "embeddings")
        .select(col("vec_id"), quant.as("q"),
          word(0, 31).as("lo"), word(32, 63).as("hi"))
      // bounded eval sample (the q302 lesson): fixed probe COUNT, not
      // a fixed fraction, or the exact-ranking side is n²/100
      val probes = base.filter(pmod(col("vec_id"), lit(100)) === 7 &&
        col("vec_id") < 1600)
        .select(col("vec_id").as("q_id"), col("q").as("qq"),
          col("lo").as("qlo"), col("hi").as("qhi"))
      val w = Window.partitionBy("q_id").orderBy("score", "vec_id")
      def top10(scored: DataFrame): DataFrame =
        scored.withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 10).select("q_id", "vec_id")
      val cand = base.crossJoin(broadcast(probes))
        .filter(col("vec_id") =!= col("q_id"))
      val exact = top10(cand.select(col("q_id"), col("vec_id"),
        (longDot(col("q"), col("q"))
          - lit(2L) * longDot(col("q"), col("qq"))
          + longDot(col("qq"), col("qq"))).as("score")))
      val ham = top10(cand.select(col("q_id"), col("vec_id"),
        (bit_count(col("lo").bitwiseXOR(col("qlo"))) +
          bit_count(col("hi").bitwiseXOR(col("qhi"))))
          .cast("long").as("score")))
      exact.join(ham, Seq("q_id", "vec_id"))
        .groupBy("q_id").agg(count(lit(1)).as("n_overlap"))
        .join(probes.select("q_id"), Seq("q_id"), "right")
        .select(col("q_id"),
          coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
          (coalesce(col("n_overlap"), lit(0L)) * 1000).as("recall_bp"))
        .orderBy("q_id")
    }),

    // Calibration curve for the quality score: per score-decile, how
    // often is the doc actually labeled English (q225's target)? The
    // reliability diagram that turns an AUC into a usable threshold.
    // One scan into an ≤11-row rollup — recomputable per snapshot at
    // any scale.
    "q239_quality_calibration" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(ldiv(qbp, lit(1000L)).as("decile"),
          (col("lang") === "en").cast("long").as("pos"))
        .groupBy("decile")
        .agg(count(lit(1)).as("n_docs"), sum("pos").as("n_pos"))
        .select(col("decile"), col("n_docs"), col("n_pos"),
          ldiv(col("n_pos") * lit(10000L), col("n_docs")).as("pos_bp"))
        .orderBy("decile")
    }),

    // Perceptual image dedup over the REAL decoder: each image-kind doc
    // round-trips PNG/BMP through ImageCodec (q203's seam), then a
    // 1-D dHash over 33 stride positions of the decoded pixels packs 32
    // brightness-gradient bits into one BIGINT — re-encodings with the
    // same content collide, so grouping the fingerprint is near-dup
    // image dedup without pairwise pixel compares. The oracle recomputes
    // every bit from the text (pixel k == ord(char k) — lossless
    // roundtrip), so a decoder or stride bug breaks the hash. One
    // decode pass + one fp-keyed exchange.
    "q231_image_dhash" -> ((s, dir) => {
      import s.implicits._
      val perDoc = docText(s, dir,
        col("doc_id") % 3 === 0 && length(col("text")) >= 33)
        .map { case (id, text) =>
          val bytes = text.getBytes("ISO-8859-1")
          val fmt = if (id % 2 == 0) "png" else "bmp"
          val enc = graft.multimodal.ImageCodec.encodeGray(
            bytes.length, 1, bytes, fmt)
          val (w, h, pix) = graft.multimodal.ImageCodec.decodeGray(enc)
          require(w == bytes.length && h == 1,
            s"roundtrip shape drift: ${w}x$h")
          val len = pix.length
          var fp = 0L
          var k = 0
          while (k < 32) {
            val a = pix((k.toLong * (len - 1) / 32).toInt) & 0xff
            val b = pix(((k + 1).toLong * (len - 1) / 32).toInt) & 0xff
            if (b > a) fp |= (1L << k)
            k += 1
          }
          (id, fp)
        }.toDF("doc_id", "fp")
      val groups = perDoc.groupBy("fp").agg(count(lit(1)).as("n_same_fp"))
      perDoc.join(groups, "fp")
        .select(col("doc_id"), col("fp"), col("n_same_fp"))
        .orderBy("doc_id")
    }),

    // Audio near-dup fingerprint over the REAL decoder (the Shazam-
    // family shape at its smallest): WAV round-trip via WavCodec
    // (q217's seam), windowed energies Σs² over 8-sample windows, then
    // the SIGN of consecutive energy deltas packs into ≤32 bits — a
    // level-invariant-ish sketch whose collisions flag re-encoded /
    // re-recorded duplicates. Exact integers throughout (energy ≤
    // 8·32768² fits BIGINT), oracle recomputes from the text samples.
    // One decode pass + one fp-keyed exchange.
    "q232_audio_fingerprint" -> ((s, dir) => {
      import s.implicits._
      val perDoc = docText(s, dir,
        col("doc_id") % 3 === 1 && length(col("text")) >= 16)
        .map { case (id, text) =>
          val src = text.getBytes("ISO-8859-1")
          val samples = new Array[Short](src.length)
          var i = 0
          while (i < src.length) {
            samples(i) = ((src(i) & 0xff) * 257 - 32768).toShort
            i += 1
          }
          val wav = graft.multimodal.WavCodec.encodePcm16(8000, 1, samples)
          val (_, ch, decd) = graft.multimodal.WavCodec.decodePcm16(wav)
          require(ch == 1 && decd.length == samples.length,
            "roundtrip shape drift")
          val nw = decd.length / 8
          val energy = Array.tabulate(nw) { w =>
            var e = 0L
            var k = 0
            while (k < 8) {
              val v = decd(w * 8 + k).toLong; e += v * v; k += 1
            }
            e
          }
          val nbits = math.min(nw - 1, 32)
          var fp = 0L
          var w = 0
          while (w < nbits) {
            if (energy(w + 1) > energy(w)) fp |= (1L << w)
            w += 1
          }
          (id, nw.toLong, fp)
        }.toDF("doc_id", "n_windows", "fp")
      val groups = perDoc.groupBy("fp").agg(count(lit(1)).as("n_same_fp"))
      perDoc.join(groups, "fp")
        .select(col("doc_id"), col("n_windows"), col("fp"),
          col("n_same_fp"))
        .orderBy("doc_id")
    }),

    // Scene-cut detection over the REAL video decoder: every frame of
    // the AVI round-trip (q220's seam, but ALL frames — cut detection
    // needs adjacent pairs), per-pair sum of absolute byte deltas, a
    // cut wherever the mean per-byte delta exceeds 64 (diff > 45·64).
    // The per-doc output (cut count, total/max motion) is what a frame-
    // sampling embedding feed keys on: sample densely around cuts,
    // sparsely inside still scenes. Per-row executor work, no shuffle;
    // oracle replays the frame formula byte for byte.
    "q233_scene_cuts" -> ((s, dir) => {
      import s.implicits._
      docText(s, dir, col("doc_id") % 3 === 2 && length(col("text")) > 0)
        .map { case (id, text) =>
          val src = text.getBytes("ISO-8859-1")
          val len = src.length
          val nf = (3 + id % 3).toInt
          val frames = (0 until nf).map { f =>
            Array.tabulate(45)(p => src((f * 45 + p) % len))
          }
          val avi = graft.multimodal.AviCodec.encodeDib24(5, 3, frames, 10)
          val (w, h, fps, decf) = graft.multimodal.AviCodec.decodeDib24(avi)
          require(w == 5 && h == 3 && fps == 10 && decf.length == nf,
            "roundtrip shape drift")
          var cuts = 0L
          var total = 0L
          var mx = 0L
          var f = 0
          while (f < nf - 1) {
            var diff = 0L
            var p = 0
            while (p < 45) {
              diff += math.abs((decf(f + 1)(p) & 0xff) - (decf(f)(p) & 0xff))
              p += 1
            }
            total += diff
            if (diff > mx) mx = diff
            if (diff > 2880) cuts += 1
            f += 1
          }
          (id, nf.toLong, cuts, total, mx)
        }.toDF("doc_id", "n_frames", "n_cuts", "total_diff", "max_diff")
        .orderBy("doc_id")
    }),

    // Spearman rank correlation between document length and quality —
    // the curation readout that says whether a length gate double-
    // counts a quality gate. Ranks (deterministic (value, doc_id)
    // tie-break) come from the q228 histogram-offset idiom for BOTH
    // variables — bucket offsets over the bounded value histograms,
    // bucket-partitioned row_numbers — never a corpus-sized global
    // window; ρ = 1 − 6Σd²/(n(n²−1)) stays integral (DECIMAL
    // numerator, one IntegralDivide to bp).
    "q268_length_quality_spearman" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"), qbp.as("q_bp"))
        .localCheckpoint(false)
      def rankBy(v: String, rn: String): DataFrame = {
        val hist = d.groupBy(v).agg(count(lit(1)).as("c"))
        val wOff = Window.orderBy(asc(v))
          .rowsBetween(Window.unboundedPreceding, -1)
        val off = hist
          .withColumn("off", coalesce(sum("c").over(wOff), lit(0L)))
          .select(col(v), col("off"))
        val wIn = Window.partitionBy(v).orderBy("doc_id")
        d.join(broadcast(off), v)
          .withColumn(rn, (col("off") + row_number().over(wIn))
            .cast("long"))
          .select(col("doc_id"), col(rn))
      }
      val dd = col("rx") - col("ry")
      rankBy("n_chars", "rx").join(rankBy("q_bp", "ry"), "doc_id")
        .agg(count(lit(1)).as("n_docs"),
          sum(dd * dd).as("sum_d2"))
        .select(col("n_docs"), col("sum_d2"),
          (lit(10000L) - ldiv(
            (lit(6L) * col("sum_d2")).cast(dec) * 10000L,
            col("n_docs").cast(dec)
              * (col("n_docs") * col("n_docs") - 1L))).as("rho_bp"))
    }),

    // Four-gate curation funnel (complements q242: that one is the
    // corpus-level stage report whose third gate is the DEDUP
    // interaction; this is the PER-SOURCE scan-only funnel with the
    // q260 blocklist budget as its last gate — no shuffle-heavy stage
    // at all): cumulative survivors per source after
    // the length gate, the language gate, the quality gate (q87's
    // exact-bp score) and the blocklist budget (q260's codegen
    // CountInSet) — the per-batch report a corpus run logs before
    // training sees a token. All four gates are per-row projections
    // inside one scan; the output is a source-sized rollup of five
    // conditional sums (each gate folds into the partial aggregate).
    // RFM (recency / frequency / monetary) segmentation — the classic
    // customer-value grid: each user scores 1..5 per dimension by
    // which exact quintile fence their metric clears, segments are the
    // (r, f, m) cells. Fences are exact ⌈q·n/5⌉ order statistics from
    // quantilesPerGroup (one histogram-selection pass per metric over
    // the USER-level rollup — at 100 TB that's billions of rows, so no
    // global window is admissible and ntile() is exactly the wrong
    // tool); scores are fence comparisons in one scoring pass.
    // Recency inverts (recent = high score). All exact integers.
    "q279_rfm_segments" -> ((s, dir) => {
      val byUser = t(s, dir, "events")
        .groupBy("user_id")
        .agg(max(col("ts").cast("long")).as("last_ep"),
          count(lit(1)).as("freq"),
          sum((col("value").cast(DecimalType(20, 2)) * 100)
            .cast("long")).as("cents"))
      val ref = t(s, dir, "events")
        .agg(max(col("ts").cast("long")).as("ref"))
      val u = byUser.crossJoin(broadcast(ref))
        .select(col("user_id"),
          ldiv(col("ref") - col("last_ep"), lit(86400L)).as("rec_days"),
          col("freq"), col("cents"))
        // NB: the group column must not be named "k" — quantilesPerGroup
        // uses "k" internally for the quantile rank
        .withColumn("grp", lit("all"))
        .localCheckpoint(false)
      val qs = Seq(("p20", 1L, 5L), ("p40", 2L, 5L), ("p60", 3L, 5L),
        ("p80", 4L, 5L))
      // all THREE metrics' fences from ONE histogram-selection pass:
      // stack (metric, value, bucket-width) long-format and key the
      // quantile machinery by metric name — one window + one histogram
      // + one selection join instead of three of each (the former
      // per-metric fences() ran the whole machinery 3x)
      val metrics = Seq(("rec_days", 7L), ("freq", 8L),
        ("cents", 100000L))
      val long = u.select(explode(array(metrics.map { case (m, bw) =>
          struct(lit(m).as("grp"), col(m).as("cents"), lit(bw).as("bw"))
        }: _*)).as("x"))
        .select(col("x.grp").as("grp"), col("x.cents").as("cents"),
          col("x.bw").as("bw"))
      val fenceCols = metrics.flatMap { case (m, _) =>
        qs.map { case (l, _, _) =>
          min(when(col("grp") === m, col(l))).as(s"${m}_$l") } }
      val fences = quantilesPerGroupW(long, "grp", col("bw"), qs)
        .agg(fenceCols.head, fenceCols.tail: _*)
      def score(metric: String): Column =
        qs.map { case (l, _, _) =>
          when(col(metric) > col(s"${metric}_$l"), 1L).otherwise(0L)
        }.reduce(_ + _) + 1L
      u.crossJoin(broadcast(fences))
        .select(col("user_id"),
          (lit(6L) - score("rec_days")).as("r_score"),
          score("freq").as("f_score"),
          score("cents").as("m_score"))
        .groupBy("r_score", "f_score", "m_score")
        .agg(count(lit(1)).as("n_users"),
          min(col("user_id")).as("min_user_id"))
        .orderBy(desc("n_users"), asc("r_score"), asc("f_score"),
          asc("m_score"))
    }),

    // LSH candidate-recall audit — the q238-for-MinHash: how much of
    // the TRUE near-dup pair set (exact 3-shingle Jaccard ≥ 0.5, the
    // session-shared q56 edge set) the banded signature scheme
    // (8 md5-min sigs → 2 bands × 4 rows) actually surfaces, plus the
    // candidate precision — the two numbers that justify a banding
    // before a 100 TB dedup run trusts it. Every signature is
    // string-keyed md5 (q227 machinery), so unlike the rows-only q17
    // the audit itself is hash-exact. Shape: sig rollup + two
    // band-key self-joins (bucket-bounded) + a pair-set join; the
    // exact side reuses the checkpointed edge set. Oracle is
    // quadratic (exact pairs) → sf0.1 skip-list family.
    "q278_lsh_recall" -> ((s, dir) => {
      val exact = ScaleQ.dedupEdges(s, dir).select("a_id", "b_id")
      // parallelize before the shingle+md5 signature rollup (the q156
      // lesson): single-file bench scans otherwise run it one-task
      val sh = graft.ops.Partitioning.ensureParallel(
          t(s, dir, "documents").select(col("doc_id"), col("text")))
        .select(col("doc_id"), explode(graft.functions.ShinglesExpr
          .shingles(TextOps.tokens(col("text")), 3)).as("sh"))
      val sigAggs = (0 until 8).map(r =>
        min(md5(concat(lit(s"$r:"), col("sh")))).as(s"s$r"))
      val keyed = sh.groupBy("doc_id")
        .agg(sigAggs.head, sigAggs.tail: _*)
        .select(col("doc_id"),
          concat(col("s0"), col("s1"), col("s2"), col("s3")).as("k0"),
          concat(col("s4"), col("s5"), col("s6"), col("s7")).as("k1"))
        .localCheckpoint(false)
      val cand = (0 until 2).map { b =>
        keyed.select(col("doc_id").as("a_id"), col(s"k$b").as("kk"))
          .join(keyed.select(col("doc_id").as("b_id"), col(s"k$b").as("kk")),
            "kk")
          .filter(col("a_id") < col("b_id"))
          .select("a_id", "b_id")
      }.reduce(_ unionAll _).distinct().localCheckpoint(false)
      exact.agg(count(lit(1)).as("n_exact"))
        .crossJoin(broadcast(cand.agg(count(lit(1)).as("n_cand"))))
        .crossJoin(broadcast(cand.join(exact, Seq("a_id", "b_id"))
          .agg(count(lit(1)).as("n_hit"))))
        .select(col("n_exact"), col("n_cand"), col("n_hit"),
          when(col("n_exact") > 0,
            ldiv(col("n_hit") * 10000L, col("n_exact"))).as("recall_bp"),
          when(col("n_cand") > 0,
            ldiv(col("n_hit") * 10000L, col("n_cand")))
            .as("precision_bp"))
    }),

    // Inter-quantile (p10..p90) robust mean per event type — the
    // SCALE-SHAPED contrast to q194 (which trims a count per side via
    // event_type-partitioned rank windows over raw rows; this trims by
    // quantile-VALUE fences from histogram selection, so no window
    // ever sees a full group). Fences are EXACT ⌈p·n⌉ order statistics from
    // one quantilesPerGroup histogram-selection pass (no group-wide
    // sort, no percentile_approx); the trimmed mean itself is one
    // conditional-sum scoring scan against the broadcast fence table,
    // reported exactly in cents·10⁴ via IntegralDivide.
    "q275_interquantile_mean" -> ((s, dir) => {
      val v = t(s, dir, "events")
        .select(col("event_type"),
          (col("value").cast(DecimalType(20, 2)) * 100)
            .cast("long").as("cents"))
        .localCheckpoint(false)
      val fences = quantilesPerGroup(v, "event_type", 1000L,
        Seq(("p10_cents", 1L, 10L), ("p90_cents", 9L, 10L)))
      val in = col("cents").between(col("p10_cents"), col("p90_cents"))
      v.join(broadcast(fences), "event_type")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(when(in, 1L).otherwise(0L)).as("n_kept"),
          sum(when(in, col("cents")).otherwise(0L)).as("sum_kept"),
          min(col("p10_cents")).as("p10_cents"),
          min(col("p90_cents")).as("p90_cents"))
        .select(col("event_type"), col("n_events"), col("n_kept"),
          col("p10_cents"), col("p90_cents"),
          ldiv(col("sum_kept") * 10000L, col("n_kept"))
            .as("trimmed_mean_e4"))
        .orderBy("event_type")
    }),

    "q270_curation_funnel" -> ((s, dir) => {
      import graft.functions.CountInSetExpr.countInSet
      val tk = TextOps.tokens(col("text"))
      val g1 = col("n_chars") >= 150
      val g2 = g1 && col("lang") =!= "zh"
      val g3 = g2 && qbp >= 5000
      val g4 = g3 && countInSet(tk,
        Seq("slow", "hash", "scan", "merge")) <= 4
      t(s, dir, "documents")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(g1, 1L).otherwise(0L)).as("pass_length"),
          sum(when(g2, 1L).otherwise(0L)).as("pass_lang"),
          sum(when(g3, 1L).otherwise(0L)).as("pass_quality"),
          sum(when(g4, 1L).otherwise(0L)).as("pass_blocklist"))
        .orderBy("source")
    }),
  )

  val oracles: Map[String, String] = Map(
    "q246_equidepth_quartiles" ->
      """WITH v AS (
        | SELECT event_type,
        |  CAST(CAST(value AS DECIMAL(20,2)) * 100 AS BIGINT) AS cents
        | FROM events),
        |r AS (
        | SELECT event_type, cents,
        |  row_number() OVER (PARTITION BY event_type ORDER BY cents) AS rn,
        |  count(*) OVER (PARTITION BY event_type) AS n
        | FROM v)
        |SELECT event_type,
        | CAST(min(CASE WHEN rn = (n + 3) // 4 THEN cents END) AS BIGINT)
        |   AS p25_cents,
        | CAST(min(CASE WHEN rn = (n + 1) // 2 THEN cents END) AS BIGINT)
        |   AS p50_cents,
        | CAST(min(CASE WHEN rn = (3 * n + 3) // 4 THEN cents END)
        |   AS BIGINT) AS p75_cents,
        | CAST(min(CASE WHEN rn = (3 * n + 3) // 4 THEN cents END)
        |  - min(CASE WHEN rn = (n + 3) // 4 THEN cents END) AS BIGINT)
        |   AS iqr_cents
        |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q234_funnel_conversion" ->
      """WITH e AS (
        | SELECT user_id, event_type AS et, ts, event_id FROM events),
        |s1 AS (
        | SELECT *, min(CASE WHEN et = 'view' THEN ts END) OVER w AS mv
        | FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |s2 AS (
        | SELECT *, min(CASE WHEN et = 'click' AND mv IS NOT NULL
        |    AND mv < ts THEN ts END) OVER w AS mc
        | FROM s1 WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |f AS (
        | SELECT user_id,
        |  max(CASE WHEN et = 'view' THEN 1 ELSE 0 END) AS v,
        |  max(CASE WHEN et = 'click' AND mv IS NOT NULL AND mv < ts
        |    THEN 1 ELSE 0 END) AS c,
        |  max(CASE WHEN et = 'purchase' AND mc IS NOT NULL AND mc < ts
        |    THEN 1 ELSE 0 END) AS p
        | FROM s2 GROUP BY user_id)
        |SELECT CAST(count(*) AS BIGINT) AS n_users,
        | CAST(sum(v) AS BIGINT) AS n_view,
        | CAST(sum(c) AS BIGINT) AS n_click_after_view,
        | CAST(sum(p) AS BIGINT) AS n_purchase_after_click,
        | CAST(CASE WHEN sum(v) = 0 THEN NULL
        |  ELSE sum(p) * 10000 // sum(v) END AS BIGINT) AS conv_bp
        |FROM f""".stripMargin,

    "q235_retention_cohorts" ->
      """WITH e AS (
        | SELECT user_id, CAST(ts AS DATE) AS d FROM events),
        |f AS (
        | SELECT user_id, min(d) AS cohort_day FROM e GROUP BY user_id)
        |SELECT f.cohort_day,
        | CAST(date_diff('day', f.cohort_day, e.d) // 7 AS BIGINT)
        |   AS week_offset,
        | CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
        |FROM e JOIN f USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q236_event_value_mad" ->
      """WITH v AS (
        | SELECT event_type,
        |  CAST(CAST(value AS DECIMAL(20,2)) * 100 AS BIGINT) AS cents
        | FROM events),
        |m AS (
        | SELECT event_type, cents AS med FROM (
        |  SELECT event_type, cents,
        |   row_number() OVER (PARTITION BY event_type ORDER BY cents) AS rn,
        |   count(*) OVER (PARTITION BY event_type) AS n
        |  FROM v) WHERE rn = (n + 1) // 2),
        |d AS (
        | SELECT v.event_type, abs(v.cents - m.med) AS dev
        | FROM v JOIN m USING (event_type)),
        |md AS (
        | SELECT event_type, dev AS mad FROM (
        |  SELECT event_type, dev,
        |   row_number() OVER (PARTITION BY event_type ORDER BY dev) AS rn,
        |   count(*) OVER (PARTITION BY event_type) AS n
        |  FROM d) WHERE rn = (n + 1) // 2),
        |nn AS (
        | SELECT event_type, CAST(count(*) AS BIGINT) AS n
        | FROM v GROUP BY event_type)
        |SELECT nn.event_type, nn.n,
        | CAST(m.med AS BIGINT) AS median_cents,
        | CAST(md.mad AS BIGINT) AS mad_cents
        |FROM nn JOIN m USING (event_type) JOIN md USING (event_type)
        |ORDER BY event_type""".stripMargin,

    "q237_grid_neighbor_join" ->
      """WITH p AS (
        | SELECT vec_id,
        |  CAST(floor(CAST(embedding[1] AS DOUBLE) * 1000) AS BIGINT) AS x,
        |  CAST(floor(CAST(embedding[2] AS DOUBLE) * 1000) AS BIGINT) AS y
        | FROM embeddings)
        |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        | CAST(greatest(abs(a.x - b.x), abs(a.y - b.y)) AS BIGINT) AS dinf
        |FROM p a JOIN p b ON a.vec_id < b.vec_id
        |WHERE greatest(abs(a.x - b.x), abs(a.y - b.y)) <= 25
        |ORDER BY a_id, b_id""".stripMargin,

    "q225_quality_auc" ->
      s"""WITH f AS (
         | SELECT $qbpSql AS q_bp,
         |  CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
         | FROM documents),
         |h AS (
         | SELECT q_bp, CAST(sum(pos) AS BIGINT) AS p,
         |  CAST(count(*) - sum(pos) AS BIGINT) AS g
         | FROM f GROUP BY q_bp),
         |c AS (
         | SELECT p, g, CAST(coalesce(sum(g) OVER (ORDER BY q_bp
         |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |  AS BIGINT) AS cg
         | FROM h)
         |SELECT CAST(sum(p) AS BIGINT) AS n_pos,
         | CAST(sum(g) AS BIGINT) AS n_neg,
         | CAST(CASE WHEN sum(p) = 0 OR sum(g) = 0 THEN NULL
         |  ELSE sum(CAST(p AS HUGEINT) * (2 * cg + g)) * 5000
         |    // (CAST(sum(p) AS HUGEINT) * sum(g)) END AS BIGINT) AS auc_bp
         |FROM c""".stripMargin,

    "q226_countmin_sketch" ->
      """WITH v AS (
        | SELECT tk, CAST(count(*) AS BIGINT) AS exact_n FROM (
        |  SELECT unnest(string_split(lower(text), ' ')) AS tk
        |  FROM documents) GROUP BY tk),
        |sb AS (
        | SELECT tk, exact_n, s.seed,
        |  substr(md5(CAST(s.seed AS VARCHAR) || ':' || tk), 1, 2) AS bucket
        | FROM v, (SELECT unnest(range(0, 4)) AS seed) s),
        |cells AS (
        | SELECT seed, bucket, CAST(sum(exact_n) AS BIGINT) AS cell_n
        | FROM sb GROUP BY seed, bucket),
        |top AS (
        | SELECT tk, exact_n FROM v ORDER BY exact_n DESC, tk LIMIT 20)
        |SELECT t.tk, t.exact_n, CAST(min(c.cell_n) AS BIGINT) AS est_n,
        | CAST((min(c.cell_n) - t.exact_n) * 10000 // t.exact_n AS BIGINT)
        |   AS over_bp
        |FROM top t
        |JOIN sb ON sb.tk = t.tk
        |JOIN cells c ON c.seed = sb.seed AND c.bucket = sb.bucket
        |GROUP BY t.tk, t.exact_n
        |ORDER BY t.exact_n DESC, t.tk""".stripMargin,

    "q227_minhash_estimate" -> {
      val mins = (0 until 8)
        .map(r => s"min(md5('$r:' || sh)) AS s$r").mkString(", ")
      val agree = (0 until 8)
        .map(r => s"(CASE WHEN a.s$r = b.s$r THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH s AS (
         | SELECT doc_id, string_split(lower(text), ' ') AS toks
         | FROM documents),
         |sh AS (
         | SELECT doc_id, unnest(list_distinct(list_transform(
         |   range(1, len(toks) - 1),
         |   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS sh
         | FROM s),
         |sg AS (
         | SELECT doc_id, $mins FROM sh GROUP BY doc_id)
         |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         | CAST($agree AS BIGINT) AS agree,
         | CAST(($agree) * 10000 // 8 AS BIGINT) AS est_jaccard_bp
         |FROM sg a JOIN sg b ON a.s0 = b.s0 AND a.doc_id < b.doc_id
         |ORDER BY a_id, b_id""".stripMargin
    },

    "q228_curriculum_shards" ->
      s"""WITH f AS (
         | SELECT doc_id, $qbpSql AS q_bp FROM documents),
         |r AS (
         | SELECT q_bp, CAST(row_number() OVER (
         |   ORDER BY q_bp DESC, doc_id % 32, doc_id) - 1 AS BIGINT) AS r0
         | FROM f),
         |sh AS (
         | SELECT q_bp, CASE WHEN (r0 // 8) % 2 = 0 THEN r0 % 8
         |   ELSE 7 - (r0 % 8) END AS shard
         | FROM r)
         |SELECT CAST(shard AS BIGINT) AS shard,
         | CAST(count(*) AS BIGINT) AS n_docs,
         | CAST(sum(q_bp) // count(*) AS BIGINT) AS mean_q_bp
         |FROM sh GROUP BY shard ORDER BY shard""".stripMargin,

    "q229_kfold_strata" ->
      """WITH f AS (
        | SELECT lang,
        |  CAST(((instr('0123456789abcdef',
        |     substr(md5('fold:' || CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
        |    + instr('0123456789abcdef',
        |     substr(md5('fold:' || CAST(doc_id AS VARCHAR)), 2, 1)) - 1) % 5
        |   AS BIGINT) AS fold
        | FROM documents),
        |c AS (
        | SELECT lang, fold, CAST(count(*) AS BIGINT) AS n_docs
        | FROM f GROUP BY lang, fold)
        |SELECT lang, fold, n_docs,
        | CAST(n_docs * 10000 // CAST(sum(n_docs)
        |   OVER (PARTITION BY lang) AS BIGINT) AS BIGINT) AS share_bp
        |FROM c ORDER BY lang, fold""".stripMargin,

    "q230_embedding_covariance" ->
      """WITH b AS (
        | SELECT list_transform(embedding,
        |   v -> CAST(floor(CAST(v AS DOUBLE) * 1000) AS BIGINT)) AS q
        | FROM embeddings),
        |nn AS (SELECT CAST(count(*) AS HUGEINT) AS n FROM b),
        |s AS (
        | SELECT i, CAST(sum(CAST(q[i] AS HUGEINT)) AS HUGEINT) AS si
        | FROM b, range(1, 65) t(i) GROUP BY i),
        |p AS (
        | SELECT i, j, CAST(sum(CAST(q[i] AS HUGEINT) * q[j])
        |   AS HUGEINT) AS sp
        | FROM b, range(1, 65) t(i), range(1, 65) u(j)
        | WHERE j > i GROUP BY i, j)
        |SELECT CAST(p.i AS BIGINT) AS dim_i, CAST(p.j AS BIGINT) AS dim_j,
        | CAST(nn.n * p.sp - a.si * c.sj AS VARCHAR) AS cov_num
        |FROM p
        |JOIN s a ON a.i = p.i
        |JOIN (SELECT i AS j, si AS sj FROM s) c ON c.j = p.j, nn
        |ORDER BY abs(nn.n * p.sp - a.si * c.sj) DESC, dim_i, dim_j
        |LIMIT 10""".stripMargin,

    "q254_region_gini" ->
      """WITH rev AS (
        | SELECT r.r_name, c.c_custkey,
        |  CAST(sum(CAST(o.o_totalprice AS DECIMAL(20,2))) * 100
        |    AS BIGINT) AS cents
        | FROM orders o
        | JOIN customer c ON o.o_custkey = c.c_custkey
        | JOIN nation n ON c.c_nationkey = n.n_nationkey
        | JOIN region r ON n.n_regionkey = r.r_regionkey
        | GROUP BY r.r_name, c.c_custkey),
        |rk AS (
        | SELECT r_name, cents,
        |  CAST(row_number() OVER (PARTITION BY r_name
        |    ORDER BY cents, c_custkey) AS BIGINT) AS i
        | FROM rev)
        |SELECT r_name, CAST(count(*) AS BIGINT) AS n_customers,
        | CAST((2 * sum(CAST(i AS HUGEINT) * cents)
        |   - (count(*) + 1) * sum(CAST(cents AS HUGEINT))) * 10000
        |  // (CAST(count(*) AS HUGEINT) * sum(CAST(cents AS HUGEINT)))
        |  AS BIGINT) AS gini_bp
        |FROM rk GROUP BY r_name ORDER BY r_name""".stripMargin,

    "q253_simhash_exact" -> {
      val votes = (0 until 16).map { k =>
        val mask = 1 << (k % 4)
        s"""sum(c * (CASE WHEN ((instr('0123456789abcdef',
           |   substr(h, ${k / 4 + 1}, 1)) - 1) & $mask) > 0
           |  THEN 1 ELSE -1 END)) AS v$k""".stripMargin
      }.mkString(",\n  ")
      val fpSum = (0 until 16).map(k =>
        s"(CASE WHEN v$k > 0 THEN ${1L << k} ELSE 0 END)").mkString(" + ")
      s"""WITH tc AS (
         | SELECT doc_id, tk, count(*) AS c, md5(tk) AS h FROM (
         |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tk
         |  FROM documents) GROUP BY doc_id, tk),
         |v AS (
         | SELECT doc_id,
         |  $votes
         | FROM tc GROUP BY doc_id),
         |f AS (
         | SELECT doc_id, CAST($fpSum AS BIGINT) AS fp FROM v)
         |SELECT doc_id, fp,
         | CAST(count(*) OVER (PARTITION BY fp) AS BIGINT) AS n_same_fp
         |FROM f ORDER BY doc_id""".stripMargin
    },

    "q251_dedup_best_quality" ->
      (ScaleQ.dedupLabSql + ",\n" +
        s"""q AS (SELECT doc_id, $qbpSql AS q_bp FROM documents)
           |SELECT cluster, n_members, node AS keep_id, q_bp AS keep_q_bp
           |FROM (
           | SELECT lab.cluster, lab.node, q.q_bp,
           |  CAST(count(*) OVER (PARTITION BY lab.cluster) AS BIGINT)
           |    AS n_members,
           |  row_number() OVER (PARTITION BY lab.cluster
           |    ORDER BY q.q_bp DESC, lab.node) AS rk
           | FROM lab JOIN q ON q.doc_id = lab.node)
           |WHERE rk = 1 ORDER BY cluster""".stripMargin),

    "q252_consistent_hash_shards" ->
      """WITH ring AS (
        | SELECT s.sh,
        |  md5(CAST(s.sh AS VARCHAR) || ':' || CAST(v.v AS VARCHAR)) AS p
        | FROM (SELECT unnest(range(0, 4)) AS sh) s,
        |      (SELECT unnest(range(0, 8)) AS v) v),
        |d AS (
        | SELECT doc_id, md5('doc:' || CAST(doc_id AS VARCHAR)) AS pos
        | FROM documents),
        |own AS (
        | SELECT d.doc_id,
        |  coalesce(
        |   (SELECT r.sh FROM ring r WHERE r.p >= d.pos
        |    ORDER BY r.p, r.sh LIMIT 1),
        |   (SELECT r.sh FROM ring r ORDER BY r.p, r.sh LIMIT 1)) AS shard,
        |  coalesce(
        |   (SELECT r.sh FROM ring r WHERE r.sh <> 3 AND r.p >= d.pos
        |    ORDER BY r.p, r.sh LIMIT 1),
        |   (SELECT r.sh FROM ring r WHERE r.sh <> 3
        |    ORDER BY r.p, r.sh LIMIT 1)) AS shard_wo3
        | FROM d)
        |SELECT CAST(shard AS BIGINT) AS shard,
        | CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(CASE WHEN shard <> shard_wo3 THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n_move_if_3_leaves
        |FROM own GROUP BY shard ORDER BY shard""".stripMargin,

    "q249_pertype_trend" ->
      """WITH daily AS (
        | SELECT event_type,
        |  date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS x,
        |  sum(CAST(CAST(value AS DECIMAL(20,2)) * 100 AS BIGINT)) AS y
        | FROM events GROUP BY 1, 2),
        |m AS (
        | SELECT event_type, count(*) AS n,
        |  sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
        |  sum(CAST(x AS HUGEINT) * y) AS sxy,
        |  sum(CAST(x AS HUGEINT) * x) AS sxx
        | FROM daily GROUP BY event_type)
        |SELECT event_type, CAST(n AS BIGINT) AS n_days,
        | CAST((n * sxy - sx * sy) * 1000000
        |   // (n * sxx - sx * sx) AS BIGINT) AS slope_ppm
        |FROM m ORDER BY event_type""".stripMargin,

    "q250_mad_outliers" ->
      """WITH v AS (
        | SELECT event_type,
        |  CAST(CAST(value AS DECIMAL(20,2)) * 100 AS BIGINT) AS cents
        | FROM events),
        |m AS (
        | SELECT event_type, cents AS med FROM (
        |  SELECT event_type, cents,
        |   row_number() OVER (PARTITION BY event_type ORDER BY cents) AS rn,
        |   count(*) OVER (PARTITION BY event_type) AS n
        |  FROM v) WHERE rn = (n + 1) // 2),
        |d AS (
        | SELECT v.event_type, v.cents, abs(v.cents - m.med) AS adev
        | FROM v JOIN m USING (event_type)),
        |md AS (
        | SELECT event_type, adev AS mad FROM (
        |  SELECT event_type, adev,
        |   row_number() OVER (PARTITION BY event_type ORDER BY adev) AS rn,
        |   count(*) OVER (PARTITION BY event_type) AS n
        |  FROM d) WHERE rn = (n + 1) // 2)
        |SELECT d.event_type, CAST(count(*) AS BIGINT) AS n,
        | CAST(sum(CASE WHEN d.adev * 10000 > md.mad * 44478
        |   THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        | CAST(sum(CASE WHEN d.adev * 10000 > md.mad * 44478
        |   THEN 1 ELSE 0 END) * 10000 // count(*) AS BIGINT)
        |   AS outlier_bp
        |FROM d JOIN md USING (event_type)
        |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin,

    "q247_markov_accuracy" ->
      """WITH e AS (
        | SELECT user_id, event_type AS et, epoch_us(ts) AS tu, event_id
        | FROM events),
        |m AS (SELECT (min(tu) + max(tu)) // 2 AS mid FROM e),
        |p AS (
        | SELECT user_id, et, tu,
        |  lag(et) OVER w AS prev_et, lag(tu) OVER w AS prev_tu
        | FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tu, event_id)),
        |pp AS (SELECT p.*, m.mid FROM p, m WHERE prev_et IS NOT NULL),
        |tr AS (
        | SELECT prev_et, et, count(*) AS c FROM pp
        | WHERE tu < mid AND prev_tu < mid GROUP BY prev_et, et),
        |pr AS (
        | SELECT prev_et, et AS pred_et FROM (
        |  SELECT *, row_number() OVER (PARTITION BY prev_et
        |    ORDER BY c DESC, et) AS rk FROM tr) WHERE rk = 1),
        |te AS (
        | SELECT pp.prev_et, pp.et, pr.pred_et FROM pp
        | LEFT JOIN pr USING (prev_et)
        | WHERE tu >= mid AND prev_tu >= mid)
        |SELECT prev_et, CAST(count(*) AS BIGINT) AS n_test,
        | CAST(sum(CASE WHEN et = pred_et THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_correct,
        | CAST(sum(CASE WHEN et = pred_et THEN 1 ELSE 0 END) * 10000
        |   // count(*) AS BIGINT) AS acc_bp
        |FROM te GROUP BY prev_et ORDER BY prev_et""".stripMargin,

    "q248_label_spread" ->
      """WITH s AS (
        | SELECT doc_id, string_split(lower(text), ' ') AS toks
        | FROM documents),
        |sh AS (
        | SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
        |   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shs
        | FROM s),
        |p AS (
        | SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  len(list_intersect(a.shs, b.shs)) AS inter,
        |  len(a.shs) + len(b.shs) - len(list_intersect(a.shs, b.shs)) AS un
        | FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
        |e AS (
        | SELECT a_id, b_id FROM p
        | WHERE round(CAST(inter AS DOUBLE) / un, 4) >= 0.5),
        |sym AS (
        | SELECT a_id AS v, b_id AS w FROM e
        | UNION ALL SELECT b_id, a_id FROM e),
        |vo AS (
        | SELECT sym.v, d.lang AS nbr_lang, count(*) AS c
        | FROM sym JOIN documents d ON d.doc_id = sym.w
        | GROUP BY sym.v, d.lang),
        |pr AS (
        | SELECT v AS doc_id, nbr_lang AS pred_lang FROM (
        |  SELECT *, row_number() OVER (PARTITION BY v
        |    ORDER BY c DESC, nbr_lang) AS rk FROM vo) WHERE rk = 1)
        |SELECT d.lang, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(CASE WHEN pr.pred_lang = d.lang THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n_agree,
        | CAST(sum(CASE WHEN pr.pred_lang = d.lang THEN 1 ELSE 0 END)
        |   * 10000 // count(*) AS BIGINT) AS agree_bp
        |FROM pr JOIN documents d USING (doc_id)
        |GROUP BY d.lang ORDER BY d.lang""".stripMargin,

    "q244_ab_readout" ->
      """WITH u AS (
        | SELECT user_id,
        |  max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |    AS converted
        | FROM events GROUP BY user_id),
        |a AS (
        | SELECT CAST((instr('0123456789abcdef',
        |    substr(md5('exp:' || CAST(user_id AS VARCHAR)), 1, 1)) - 1) % 2
        |   AS BIGINT) AS arm, converted
        | FROM u),
        |g AS (
        | SELECT arm, CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(sum(converted) AS BIGINT) AS n_conv,
        |  CAST(sum(converted) * 10000 // count(*) AS BIGINT) AS rate_bp
        | FROM a GROUP BY arm)
        |SELECT arm, n_users, n_conv, rate_bp,
        | CAST(rate_bp - first_value(rate_bp) OVER (ORDER BY arm
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |  AS BIGINT) AS delta_bp_vs_arm0
        |FROM g ORDER BY arm""".stripMargin,

    "q245_vocab_drift" ->
      """WITH w AS (
        | SELECT doc_id % 2 AS half, doc_id,
        |  unnest(list_distinct(string_split(lower(text), ' '))) AS w
        | FROM documents),
        |df AS (
        | SELECT w, half, count(*) AS df FROM w GROUP BY w, half),
        |pv AS (
        | SELECT w,
        |  CAST(sum(CASE WHEN half = 0 THEN df ELSE 0 END) AS BIGINT)
        |    AS df_even,
        |  CAST(sum(CASE WHEN half = 1 THEN df ELSE 0 END) AS BIGINT)
        |    AS df_odd
        | FROM df GROUP BY w)
        |SELECT w, df_even, df_odd,
        | CAST(abs(df_even - df_odd) AS BIGINT) AS abs_delta
        |FROM pv
        |ORDER BY abs_delta DESC, df_even DESC, w LIMIT 20""".stripMargin,

    "q242_curation_attrition" -> {
      val langSelects = TextOps.langMarkers.map { case (l, ws) =>
        s"${TextQ.langCountSql(ws)} AS s_$l"
      }.mkString(",\n  ")
      s"""WITH feat AS (
         | SELECT doc_id,
         |  CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens,
         |  CAST(len(list_filter(string_split(lower(text), ' '),
         |       x -> x IN ('the','a','an','of','to','and','in','is','on','for'))) AS BIGINT)
         |    AS stop_hits,
         |  md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp,
         |  $langSelects
         | FROM documents),
         |fq AS (
         | SELECT *, CAST(CASE WHEN n_tokens <= 100
         |    THEN (n_tokens - stop_hits) * 100
         |    ELSE (n_tokens - stop_hits) * 10000 // n_tokens END AS BIGINT)
         |   AS q_bp
         | FROM feat),
         |lp AS (SELECT *, ${TextQ.langPredSql} AS pred_lang FROM fq),
         |g AS (
         | SELECT doc_id, fp,
         |  CASE WHEN q_bp >= 3000 AND n_tokens >= 5 THEN 1 ELSE 0 END AS g1,
         |  CASE WHEN q_bp >= 3000 AND n_tokens >= 5 AND pred_lang = 'en'
         |   THEN 1 ELSE 0 END AS g2
         | FROM lp),
         |fw AS (
         | SELECT fp, min(doc_id) AS keep_id FROM g WHERE g2 = 1 GROUP BY fp),
         |gg AS (
         | SELECT g.*, CASE WHEN g.g2 = 1 AND g.doc_id = fw.keep_id
         |   THEN 1 ELSE 0 END AS g3
         | FROM g LEFT JOIN fw ON fw.fp = g.fp),
         |one AS (
         | SELECT count(*) AS n0, sum(g1) AS n1, sum(g2) AS n2, sum(g3) AS n3
         | FROM gg),
         |st AS (
         | SELECT 0 AS stage, 'all' AS gate, n0 AS n_docs, n0 AS total FROM one
         | UNION ALL SELECT 1, 'quality_gate', n1, n0 FROM one
         | UNION ALL SELECT 2, 'langid_en', n2, n0 FROM one
         | UNION ALL SELECT 3, 'exact_dedup', n3, n0 FROM one)
         |SELECT CAST(stage AS BIGINT) AS stage, gate,
         | CAST(n_docs AS BIGINT) AS n_docs,
         | CAST(n_docs * 10000 // total AS BIGINT) AS share_bp,
         | CAST(coalesce(lag(n_docs) OVER (ORDER BY stage) - n_docs, 0)
         |   AS BIGINT) AS dropped_from_prev
         |FROM st ORDER BY stage""".stripMargin
    },

    "q243_rate_limit_admission" ->
      """WITH e AS (
        | SELECT user_id, ts, event_id, date_trunc('hour', ts) AS hr
        | FROM events),
        |a AS (
        | SELECT user_id,
        |  CASE WHEN row_number() OVER (PARTITION BY user_id, hr
        |    ORDER BY ts, event_id) <= 5 THEN 1 ELSE 0 END AS adm
        | FROM e)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        | CAST(sum(adm) AS BIGINT) AS n_admitted,
        | CAST(count(*) - sum(adm) AS BIGINT) AS n_throttled
        |FROM a GROUP BY user_id ORDER BY user_id""".stripMargin,

    // same plan as q240 with eps from the density CTE: the largest
    // integer e in [1,200] with e²·n ≤ 312500 (q292's registration
    // note) — at the registry corpus n=500 this is exactly 25
    "q292_dbscan_auto" ->
      """WITH RECURSIVE nn AS (SELECT count(*) AS n FROM embeddings),
        |ee AS (
        | SELECT coalesce(max(e), 1) AS eps
        | FROM range(1, 201) t(e), nn WHERE e * e * nn.n <= 312500),
        |p AS (
        | SELECT vec_id,
        |  CAST(floor(CAST(embedding[1] AS DOUBLE) * 1000) AS BIGINT) AS x,
        |  CAST(floor(CAST(embedding[2] AS DOUBLE) * 1000) AS BIGINT) AS y
        | FROM embeddings),
        |e AS (
        | SELECT a.vec_id AS a, b.vec_id AS b FROM p a JOIN p b
        |  ON a.vec_id < b.vec_id, ee
        | WHERE greatest(abs(a.x - b.x), abs(a.y - b.y)) <= ee.eps),
        |sym AS (SELECT a AS v, b AS w FROM e UNION ALL SELECT b, a FROM e),
        |core AS (SELECT v FROM (
        |  SELECT v, count(*) AS d FROM sym GROUP BY v) WHERE d >= 3),
        |ce AS (
        | SELECT e.a, e.b FROM e
        | JOIN core ca ON ca.v = e.a JOIN core cb ON cb.v = e.b),
        |cs AS (SELECT a AS src, b AS dst FROM ce
        |       UNION ALL SELECT b, a FROM ce),
        |reach(node, r) AS (
        | SELECT src, src FROM cs
        | UNION
        | SELECT cs.dst, reach.r FROM reach JOIN cs ON cs.src = reach.node),
        |lab AS (SELECT node, min(r) AS cluster FROM reach GROUP BY node),
        |corelab AS (
        | SELECT core.v AS node, coalesce(lab.cluster, core.v) AS cluster
        | FROM core LEFT JOIN lab ON lab.node = core.v),
        |nbr AS (
        | SELECT sym.v, min(corelab.cluster) AS bcluster
        | FROM sym JOIN corelab ON corelab.node = sym.w GROUP BY sym.v)
        |SELECT p.vec_id,
        | CASE WHEN corelab.cluster IS NOT NULL THEN 'core'
        |      WHEN nbr.bcluster IS NOT NULL THEN 'border'
        |      ELSE 'noise' END AS role,
        | CAST(coalesce(corelab.cluster, nbr.bcluster) AS BIGINT) AS cluster
        |FROM p
        |LEFT JOIN corelab ON corelab.node = p.vec_id
        |LEFT JOIN nbr ON nbr.v = p.vec_id
        |ORDER BY p.vec_id""".stripMargin,

    // bounded input (fixed COUNT, not fraction — the registration
    // note): the engine filters vec_id < 500 before clustering
    "q240_dbscan_lite" ->
      """WITH RECURSIVE p AS (
        | SELECT vec_id,
        |  CAST(floor(CAST(embedding[1] AS DOUBLE) * 1000) AS BIGINT) AS x,
        |  CAST(floor(CAST(embedding[2] AS DOUBLE) * 1000) AS BIGINT) AS y
        | FROM embeddings WHERE vec_id < 500),
        |e AS (
        | SELECT a.vec_id AS a, b.vec_id AS b FROM p a JOIN p b
        |  ON a.vec_id < b.vec_id
        | WHERE greatest(abs(a.x - b.x), abs(a.y - b.y)) <= 25),
        |sym AS (SELECT a AS v, b AS w FROM e UNION ALL SELECT b, a FROM e),
        |core AS (SELECT v FROM (
        |  SELECT v, count(*) AS d FROM sym GROUP BY v) WHERE d >= 3),
        |ce AS (
        | SELECT e.a, e.b FROM e
        | JOIN core ca ON ca.v = e.a JOIN core cb ON cb.v = e.b),
        |cs AS (SELECT a AS src, b AS dst FROM ce
        |       UNION ALL SELECT b, a FROM ce),
        |reach(node, r) AS (
        | SELECT src, src FROM cs
        | UNION
        | SELECT cs.dst, reach.r FROM reach JOIN cs ON cs.src = reach.node),
        |lab AS (SELECT node, min(r) AS cluster FROM reach GROUP BY node),
        |corelab AS (
        | SELECT core.v AS node, coalesce(lab.cluster, core.v) AS cluster
        | FROM core LEFT JOIN lab ON lab.node = core.v),
        |nbr AS (
        | SELECT sym.v, min(corelab.cluster) AS bcluster
        | FROM sym JOIN corelab ON corelab.node = sym.w GROUP BY sym.v)
        |SELECT p.vec_id,
        | CASE WHEN corelab.cluster IS NOT NULL THEN 'core'
        |      WHEN nbr.bcluster IS NOT NULL THEN 'border'
        |      ELSE 'noise' END AS role,
        | CAST(coalesce(corelab.cluster, nbr.bcluster) AS BIGINT) AS cluster
        |FROM p
        |LEFT JOIN corelab ON corelab.node = p.vec_id
        |LEFT JOIN nbr ON nbr.v = p.vec_id
        |ORDER BY p.vec_id""".stripMargin,

    "q241_association_rules" ->
      """WITH li AS (
        | SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |nn AS (SELECT count(DISTINCT ok) AS n FROM li),
        |it AS (SELECT pk, count(*) AS n_item FROM li GROUP BY pk),
        |pr AS (
        | SELECT a.pk AS p1, b.pk AS p2, count(*) AS support
        | FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        | GROUP BY a.pk, b.pk),
        |top AS (
        | SELECT p1, p2, support FROM pr
        | ORDER BY support DESC, p1, p2 LIMIT 20)
        |SELECT top.p1, top.p2, CAST(top.support AS BIGINT) AS support,
        | CAST(top.support * 10000 // ia.n_item AS BIGINT) AS conf_a2b_bp,
        | CAST(top.support * 10000 // ib.n_item AS BIGINT) AS conf_b2a_bp,
        | CAST(CAST(top.support AS HUGEINT) * nn.n * 1000000
        |   // (CAST(ia.n_item AS HUGEINT) * ib.n_item) AS BIGINT)
        |   AS lift_ppm
        |FROM top
        |JOIN it ia ON ia.pk = top.p1
        |JOIN it ib ON ib.pk = top.p2, nn
        |ORDER BY support DESC, p1, p2""".stripMargin,

    "q238_hamming_recall" ->
      """WITH b AS (
        | SELECT vec_id,
        |  list_transform(embedding,
        |   v -> CAST(floor(CAST(v AS DOUBLE) * 1000) AS BIGINT)) AS q,
        |  CAST(list_sum(list_transform(range(1, 33),
        |   k -> CASE WHEN CAST(embedding[k] AS DOUBLE) >= 0
        |    THEN 1::BIGINT << CAST(k - 1 AS INTEGER) ELSE 0 END))
        |   AS BIGINT) AS lo,
        |  CAST(list_sum(list_transform(range(33, 65),
        |   k -> CASE WHEN CAST(embedding[k] AS DOUBLE) >= 0
        |    THEN 1::BIGINT << CAST(k - 33 AS INTEGER) ELSE 0 END))
        |   AS BIGINT) AS hi
        | FROM embeddings),
        |p AS (
        | SELECT vec_id AS q_id, q AS qq, lo AS qlo, hi AS qhi
        | FROM b WHERE vec_id % 100 = 7 AND vec_id < 1600),
        |ex AS (
        | SELECT q_id, vec_id FROM (
        |  SELECT p.q_id, b.vec_id, row_number() OVER (PARTITION BY p.q_id
        |   ORDER BY list_sum(list_transform(range(1, 65),
        |    k -> (b.q[k] - p.qq[k]) * (b.q[k] - p.qq[k]))), b.vec_id)
        |   AS rn
        |  FROM b, p WHERE b.vec_id <> p.q_id) WHERE rn <= 10),
        |hm AS (
        | SELECT q_id, vec_id FROM (
        |  SELECT p.q_id, b.vec_id, row_number() OVER (PARTITION BY p.q_id
        |   ORDER BY bit_count(xor(b.lo, p.qlo))
        |    + bit_count(xor(b.hi, p.qhi)), b.vec_id) AS rn
        |  FROM b, p WHERE b.vec_id <> p.q_id) WHERE rn <= 10),
        |ov AS (
        | SELECT ex.q_id, count(*) AS n_overlap
        | FROM ex JOIN hm USING (q_id, vec_id) GROUP BY ex.q_id)
        |SELECT p.q_id,
        | CAST(coalesce(ov.n_overlap, 0) AS BIGINT) AS n_overlap,
        | CAST(coalesce(ov.n_overlap, 0) * 1000 AS BIGINT) AS recall_bp
        |FROM p LEFT JOIN ov ON ov.q_id = p.q_id
        |ORDER BY p.q_id""".stripMargin,

    "q239_quality_calibration" ->
      s"""WITH f AS (
         | SELECT $qbpSql // 1000 AS decile,
         |  CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
         | FROM documents)
         |SELECT CAST(decile AS BIGINT) AS decile,
         | CAST(count(*) AS BIGINT) AS n_docs,
         | CAST(sum(pos) AS BIGINT) AS n_pos,
         | CAST(sum(pos) * 10000 // count(*) AS BIGINT) AS pos_bp
         |FROM f GROUP BY decile ORDER BY decile""".stripMargin,

    // pixel k == ord(char k): the gray roundtrip is lossless, so the
    // oracle recomputes each dHash bit straight from the text
    "q231_image_dhash" ->
      """WITH d AS (
        | SELECT doc_id, text, length(text) AS len FROM documents
        | WHERE doc_id % 3 = 0 AND length(text) >= 33),
        |f AS (
        | SELECT doc_id, CAST(list_sum(list_transform(range(0, 32), k ->
        |   CASE WHEN ord(substr(text,
        |       CAST((k + 1) * (len - 1) // 32 + 1 AS INTEGER), 1))
        |     > ord(substr(text,
        |       CAST(k * (len - 1) // 32 + 1 AS INTEGER), 1))
        |    THEN (CAST(1 AS BIGINT) << CAST(k AS INTEGER))
        |    ELSE 0 END)) AS BIGINT) AS fp
        | FROM d)
        |SELECT doc_id, fp,
        | CAST(count(*) OVER (PARTITION BY fp) AS BIGINT) AS n_same_fp
        |FROM f ORDER BY doc_id""".stripMargin,

    // sample k == ord(char k)·257 − 32768 (lossless PCM16 roundtrip);
    // energies are 8-sample Σs², bits are consecutive-energy signs
    "q232_audio_fingerprint" ->
      """WITH d AS (
        | SELECT doc_id, text, length(text) AS len FROM documents
        | WHERE doc_id % 3 = 1 AND length(text) >= 16),
        |e AS (
        | SELECT doc_id, len // 8 AS nw,
        |  list_transform(range(0, len // 8), w ->
        |    list_sum(list_transform(range(1, 9), i ->
        |      (ord(substr(text, CAST(w * 8 + i AS INTEGER), 1)) * 257
        |        - 32768)
        |      * (ord(substr(text, CAST(w * 8 + i AS INTEGER), 1)) * 257
        |        - 32768)))) AS en
        | FROM d),
        |f AS (
        | SELECT doc_id, CAST(nw AS BIGINT) AS n_windows,
        |  CAST(coalesce(list_sum(list_transform(
        |    range(0, least(nw - 1, 32)), w ->
        |    CASE WHEN en[CAST(w + 2 AS INTEGER)] > en[CAST(w + 1 AS INTEGER)]
        |     THEN (CAST(1 AS BIGINT) << CAST(w AS INTEGER))
        |     ELSE 0 END)), 0) AS BIGINT) AS fp
        | FROM e)
        |SELECT doc_id, n_windows, fp,
        | CAST(count(*) OVER (PARTITION BY fp) AS BIGINT) AS n_same_fp
        |FROM f ORDER BY doc_id""".stripMargin,

    // frame f, position p: byte == ord(char ((f·45+p) mod len)) — the
    // DIB roundtrip is lossless, so adjacent-frame deltas replay exactly
    "q233_scene_cuts" ->
      """WITH d AS (
        | SELECT doc_id, text, length(text) AS len, 3 + doc_id % 3 AS nf
        | FROM documents WHERE doc_id % 3 = 2 AND length(text) > 0),
        |df AS (
        | SELECT doc_id, nf,
        |  list_sum(list_transform(range(0, 45), p ->
        |    abs(ord(substr(text,
        |        CAST(((f + 1) * 45 + p) % len + 1 AS INTEGER), 1))
        |      - ord(substr(text,
        |        CAST((f * 45 + p) % len + 1 AS INTEGER), 1))))) AS diff
        | FROM (SELECT doc_id, text, len, nf,
        |    unnest(range(0, nf - 1)) AS f FROM d))
        |SELECT doc_id, CAST(max(nf) AS BIGINT) AS n_frames,
        | CAST(coalesce(sum(CASE WHEN diff > 2880 THEN 1 ELSE 0 END), 0)
        |   AS BIGINT) AS n_cuts,
        | CAST(coalesce(sum(diff), 0) AS BIGINT) AS total_diff,
        | CAST(coalesce(max(diff), 0) AS BIGINT) AS max_diff
        |FROM df GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,

    "q268_length_quality_spearman" ->
      s"""WITH d AS (
         | SELECT doc_id, n_chars, $qbpSql AS q_bp FROM documents),
         |r AS (
         | SELECT doc_id,
         |  CAST(row_number() OVER (ORDER BY n_chars, doc_id) AS BIGINT)
         |    AS rx,
         |  CAST(row_number() OVER (ORDER BY q_bp, doc_id) AS BIGINT)
         |    AS ry
         | FROM d)
         |SELECT CAST(count(*) AS BIGINT) AS n_docs,
         | CAST(sum((rx - ry) * (rx - ry)) AS BIGINT) AS sum_d2,
         | 10000 - CAST(
         |   CAST(6 AS HUGEINT) * sum((rx - ry) * (rx - ry)) * 10000
         |   // (CAST(count(*) AS HUGEINT)
         |      * (count(*) * count(*) - 1)) AS BIGINT) AS rho_bp
         |FROM r""".stripMargin,

    "q270_curation_funnel" ->
      s"""WITH d AS (
         | SELECT source, n_chars, lang, $qbpSql AS q_bp,
         |  len(list_filter(string_split(lower(text), ' '),
         |    x -> x IN ('slow', 'hash', 'scan', 'merge'))) AS hits
         | FROM documents),
         |g AS (
         | SELECT source,
         |  n_chars >= 150 AS g1,
         |  n_chars >= 150 AND lang <> 'zh' AS g2,
         |  n_chars >= 150 AND lang <> 'zh' AND q_bp >= 5000 AS g3,
         |  n_chars >= 150 AND lang <> 'zh' AND q_bp >= 5000
         |    AND hits <= 4 AS g4
         | FROM d)
         |SELECT source, count(*) AS n_docs,
         | CAST(sum(CASE WHEN g1 THEN 1 ELSE 0 END) AS BIGINT)
         |   AS pass_length,
         | CAST(sum(CASE WHEN g2 THEN 1 ELSE 0 END) AS BIGINT)
         |   AS pass_lang,
         | CAST(sum(CASE WHEN g3 THEN 1 ELSE 0 END) AS BIGINT)
         |   AS pass_quality,
         | CAST(sum(CASE WHEN g4 THEN 1 ELSE 0 END) AS BIGINT)
         |   AS pass_blocklist
         |FROM g GROUP BY source ORDER BY source""".stripMargin,

    "q279_rfm_segments" -> {
      def fence(metric: String) = {
        val cases = Seq(1, 2, 3, 4).map(q =>
          s"min(CASE WHEN rn = (nn.n * $q + 4) // 5 THEN v END) AS p$q")
          .mkString(", ")
        s"SELECT $cases FROM (SELECT $metric AS v, " +
          s"row_number() OVER (ORDER BY $metric) AS rn FROM u), nn"
      }
      def sc(metric: String, tbl: String) = Seq(1, 2, 3, 4).map(q =>
        s"(CASE WHEN u.$metric > $tbl.p$q THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH e AS (
         | SELECT user_id, CAST(epoch(ts) AS BIGINT) AS ep,
         |  CAST(CAST(value AS DECIMAL(20,2)) * 100 AS BIGINT) AS cents
         | FROM events),
         |rf AS (SELECT max(ep) AS ref FROM e),
         |u AS (
         | SELECT user_id, (rf.ref - max(e.ep)) // 86400 AS rec_days,
         |  CAST(count(*) AS BIGINT) AS freq,
         |  CAST(sum(e.cents) AS BIGINT) AS cents
         | FROM e, rf GROUP BY user_id, rf.ref),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM u),
         |fr AS (${fence("rec_days")}),
         |ff AS (${fence("freq")}),
         |fm AS (${fence("cents")}),
         |s AS (
         | SELECT u.user_id,
         |  6 - (1 + ${sc("rec_days", "fr")}) AS r_score,
         |  1 + ${sc("freq", "ff")} AS f_score,
         |  1 + ${sc("cents", "fm")} AS m_score
         | FROM u, fr, ff, fm)
         |SELECT CAST(r_score AS BIGINT) AS r_score,
         | CAST(f_score AS BIGINT) AS f_score,
         | CAST(m_score AS BIGINT) AS m_score,
         | count(*) AS n_users,
         | CAST(min(user_id) AS BIGINT) AS min_user_id
         |FROM s GROUP BY r_score, f_score, m_score
         |ORDER BY n_users DESC, r_score, f_score, m_score""".stripMargin
    },

    "q278_lsh_recall" -> {
      val mins = (0 until 8)
        .map(r => s"min(md5('$r:' || sh)) AS s$r").mkString(", ")
      s"""WITH s AS (
         | SELECT doc_id, string_split(lower(text), ' ') AS toks
         | FROM documents),
         |shl AS (
         | SELECT doc_id, list_distinct(list_transform(
         |   range(1, len(toks) - 1),
         |   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shs
         | FROM s),
         |p AS (
         | SELECT a.doc_id AS a_id, b.doc_id AS b_id
         | FROM shl a JOIN shl b ON a.doc_id < b.doc_id
         | WHERE round(CAST(len(list_intersect(a.shs, b.shs)) AS DOUBLE)
         |   / (len(a.shs) + len(b.shs)
         |      - len(list_intersect(a.shs, b.shs))), 4) >= 0.5),
         |sh AS (SELECT doc_id, unnest(shs) AS sh FROM shl),
         |sg AS (SELECT doc_id, $mins FROM sh GROUP BY doc_id),
         |k AS (
         | SELECT doc_id, s0 || s1 || s2 || s3 AS k0,
         |  s4 || s5 || s6 || s7 AS k1
         | FROM sg),
         |c AS (
         | SELECT DISTINCT a_id, b_id FROM (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM k a JOIN k b ON a.k0 = b.k0 AND a.doc_id < b.doc_id
         |  UNION ALL
         |  SELECT a.doc_id, b.doc_id
         |  FROM k a JOIN k b ON a.k1 = b.k1 AND a.doc_id < b.doc_id)),
         |t AS (
         | SELECT (SELECT CAST(count(*) AS BIGINT) FROM p) AS n_exact,
         |  (SELECT CAST(count(*) AS BIGINT) FROM c) AS n_cand,
         |  (SELECT CAST(count(*) AS BIGINT)
         |   FROM c JOIN p ON c.a_id = p.a_id AND c.b_id = p.b_id)
         |   AS n_hit)
         |SELECT n_exact, n_cand, n_hit,
         | CASE WHEN n_exact > 0
         |  THEN CAST(CAST(n_hit AS HUGEINT) * 10000 // n_exact AS BIGINT)
         | END AS recall_bp,
         | CASE WHEN n_cand > 0
         |  THEN CAST(CAST(n_hit AS HUGEINT) * 10000 // n_cand AS BIGINT)
         | END AS precision_bp
         |FROM t""".stripMargin
    },

    "q275_interquantile_mean" ->
      """WITH v AS (
        | SELECT event_type,
        |  CAST(CAST(value AS DECIMAL(20,2)) * 100 AS BIGINT) AS cents
        | FROM events),
        |n AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
        |  FROM v GROUP BY event_type),
        |r AS (
        | SELECT event_type, cents,
        |  CAST(row_number() OVER (PARTITION BY event_type
        |    ORDER BY cents) AS BIGINT) AS rn
        | FROM v),
        |f AS (
        | SELECT r.event_type,
        |  min(CASE WHEN rn = (n.n * 1 + 9) // 10 THEN cents END) AS p10,
        |  min(CASE WHEN rn = (n.n * 9 + 9) // 10 THEN cents END) AS p90
        | FROM r JOIN n ON r.event_type = n.event_type
        | GROUP BY r.event_type)
        |SELECT v.event_type, count(*) AS n_events,
        | CAST(sum(CASE WHEN v.cents BETWEEN f.p10 AND f.p90
        |   THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        | CAST(f.p10 AS BIGINT) AS p10_cents,
        | CAST(f.p90 AS BIGINT) AS p90_cents,
        | CAST(CAST(sum(CASE WHEN v.cents BETWEEN f.p10 AND f.p90
        |     THEN v.cents ELSE 0 END) AS HUGEINT) * 10000
        |  // sum(CASE WHEN v.cents BETWEEN f.p10 AND f.p90
        |     THEN 1 ELSE 0 END) AS BIGINT) AS trimmed_mean_e4
        |FROM v JOIN f ON v.event_type = f.event_type
        |GROUP BY v.event_type, f.p10, f.p90
        |ORDER BY v.event_type""".stripMargin,
  )
}
