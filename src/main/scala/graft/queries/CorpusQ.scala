package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables._
import graft.functions.ShinglesExpr
import graft.ops.TextOps

/** Corpus-curation operators round 4: rule-based document quality
  * signals (the Gopher/C4 filter family), benchmark decontamination by
  * n-gram overlap, intra-document repetition signals, hopping-window
  * event aggregation, and fixed-iteration PageRank. Every query keeps
  * the scale shape — single scan per feature set, broadcast of the small
  * side, exact decimal accumulation where doubles would be
  * order-dependent — and carries an exact DuckDB oracle. */
object CorpusQ {

  /** Tokens shared with q16's oracle convention: split(lower(text), " "). */
  private def toks: Column = TextOps.tokens(col("text"))

  private val stopList = Seq("the", "and", "of", "to", "a", "in", "is",
    "that", "it", "for")

  lazy val all: Seq[Q] = Seq(
    // Rule-based quality signals in the Gopher/C4 style: word count,
    // mean word length, alphabetic-word fraction, stopword hits, and the
    // composite keep decision. One scan, one tokenization, every signal
    // an array expression over the same materialized token column — no
    // shuffle at all until the final presentation sort (which a real
    // pipeline drops: the keep flag is consumed as a filter).
    Q("q96_gopher_quality", (s, dir) => {
      val stops = array(stopList.map(lit): _*)
      t(s, dir, "documents")
        .withColumn("toks", toks)
        .select(
          col("doc_id"),
          size(col("toks")).cast("long").as("n_words"),
          round(aggregate(col("toks"), lit(0L),
              (acc, w) => acc + length(w)).cast("double") /
            size(col("toks")), 4).as("mean_word_len"),
          round(size(filter(col("toks"), w => w.rlike("[a-z]")))
              .cast("double") / size(col("toks")), 4).as("alpha_frac"),
          size(filter(col("toks"), w => array_contains(stops, w)))
            .cast("long").as("stop_hits"))
        .withColumn("keep",
          col("n_words").between(30, 90) &&
            col("mean_word_len").between(3.0, 4.6) &&
            col("stop_hits") >= 2)
        .orderBy("doc_id")
    }, oracle =
      """WITH t AS (
        | SELECT doc_id, string_split(lower(text), ' ') AS toks
        | FROM documents),
        |f AS (
        | SELECT doc_id,
        |  CAST(len(toks) AS BIGINT) AS n_words,
        |  round(CAST(list_sum(list_transform(toks, w -> length(w)))
        |    AS DOUBLE) / len(toks), 4) AS mean_word_len,
        |  round(CAST(len(list_filter(toks,
        |    w -> regexp_matches(w, '[a-z]'))) AS DOUBLE) / len(toks), 4)
        |    AS alpha_frac,
        |  CAST(len(list_filter(toks, w -> list_contains(
        |    ['the','and','of','to','a','in','is','that','it','for'], w)))
        |    AS BIGINT) AS stop_hits
        | FROM t)
        |SELECT *,
        | (n_words BETWEEN 30 AND 90
        |  AND mean_word_len BETWEEN 3.0 AND 4.6
        |  AND stop_hits >= 2) AS keep
        |FROM f ORDER BY doc_id""".stripMargin),

    // Quality-gate × dedup interaction: the 2×2 contingency between
    // the q96 keep decision and near-dup participation (any exact
    // Jaccard ≥ 0.5 edge, the q56-family edge set) — the calibration
    // check a curation run needs before trusting either filter alone:
    // if the gate already removes most duplicated docs the dedup pass
    // is cheap residue, and if it keeps them the two filters are
    // complementary, not redundant. Counts and shares stay integral
    // (bp via DIV). Reuses the session-shared checkpointed edge set;
    // one scan for the signals, one label join, a 4-row rollup.
    Q("q192_gate_dedup_interaction", (s, dir) => {
      val stops = array(stopList.map(lit): _*)
      val labels = graft.ops.DedupOps
        .connectedComponents(ScaleQ.dedupEdges(s, dir))
        .withColumnRenamed("node", "doc_id")
      val flags = t(s, dir, "documents")
        .withColumn("toks", toks)
        .select(col("doc_id"),
          (size(col("toks")).cast("long").between(30L, 90L) &&
            round(aggregate(col("toks"), lit(0L),
                (acc, w) => acc + length(w)).cast("double") /
              size(col("toks")), 4).between(3.0, 4.6) &&
            size(filter(col("toks"), w => array_contains(stops, w)))
              .cast("long") >= 2L).as("keep"))
      flags.join(labels.select(col("doc_id"), lit(true).as("is_dup")),
          Seq("doc_id"), "left")
        .na.fill(false, Seq("is_dup"))
        .groupBy("keep", "is_dup")
        .agg(count(lit(1)).as("n"))
        .withColumn("share_bp", ldiv(col("n") * lit(10000L),
          sum(col("n")).over(Window.partitionBy())))
        .orderBy("keep", "is_dup")
    }, oracle = ScaleQ.dedupLabSql + """,
        |tq AS (
        | SELECT doc_id, string_split(lower(text), ' ') AS toks
        | FROM documents),
        |fq AS (
        | SELECT doc_id,
        |  (CAST(len(toks) AS BIGINT) BETWEEN 30 AND 90
        |   AND round(CAST(list_sum(list_transform(toks,
        |     w -> length(w))) AS DOUBLE) / len(toks), 4)
        |     BETWEEN 3.0 AND 4.6
        |   AND CAST(len(list_filter(toks, w -> list_contains(
        |     ['the','and','of','to','a','in','is','that','it','for'],
        |     w))) AS BIGINT) >= 2) AS keep
        | FROM tq),
        |j AS (
        | SELECT fq.keep, lab.node IS NOT NULL AS is_dup
        | FROM fq LEFT JOIN lab ON fq.doc_id = lab.node)
        |SELECT keep, is_dup, CAST(count(*) AS BIGINT) AS n,
        | CAST(count(*) * 10000 // (SELECT count(*) FROM j) AS BIGINT)
        |   AS share_bp
        |FROM j GROUP BY keep, is_dup
        |ORDER BY keep, is_dup""".stripMargin),

    // The corpus data card: one row summarizing what every other gate
    // measures piecemeal — volume (docs/tokens/sources), quality keep
    // rate, exact-duplicate rate (normalized-fingerprint collisions),
    // and langid accuracy — the report a curation run publishes next to
    // a training mix. Deliberately composed ONLY of single-pass
    // signals (no near-dup edge set: a data card is recomputed on
    // every snapshot, so it must stay one scan + one rollup at 100 TB;
    // the quadratic-oracle family has its own queries). All rates in
    // integer bp via DIV; the multi-distinct aggregate expands to one
    // Expand + partial-combined pass, still corpus-linear.
    Q("q200_corpus_report", (s, dir) => {
      val stops = array(stopList.map(lit): _*)
      val d = t(s, dir, "documents")
        .withColumn("tk", toks)
        .select(col("source"),
          size(col("tk")).cast("long").as("n_tok"),
          (size(col("tk")).cast("long").between(30L, 90L) &&
            round(aggregate(col("tk"), lit(0L),
                (acc, w) => acc + length(w)).cast("double") /
              size(col("tk")), 4).between(3.0, 4.6) &&
            size(filter(col("tk"), w => array_contains(stops, w)))
              .cast("long") >= 2L).as("keep"),
          (graft.ops.TextOps.langPredict(
            graft.ops.TextOps.langScores(col("tk"))) === col("lang"))
            .as("lang_ok"),
          graft.ops.TextOps.docFingerprint(col("text")).as("fp"))
      d.agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("n_tokens"),
          countDistinct(col("source")).cast("long").as("n_sources"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"),
          countDistinct(col("fp")).cast("long").as("n_distinct_fp"),
          sum(when(col("lang_ok"), 1L).otherwise(0L)).as("n_lang_ok"))
        .select(col("n_docs"), col("n_tokens"), col("n_sources"),
          ldiv(col("n_keep") * lit(10000L), col("n_docs")).as("keep_bp"),
          ldiv((col("n_docs") - col("n_distinct_fp")) * lit(10000L),
            col("n_docs")).as("exact_dup_bp"),
          ldiv(col("n_lang_ok") * lit(10000L), col("n_docs"))
            .as("langid_acc_bp"))
    }, oracle = {
      val langSelects = graft.ops.TextOps.langMarkers.map { case (l, ws) =>
        s"${TextQ.langCountSql(ws)} AS s_$l"
      }.mkString(",\n  ")
      s"""WITH f AS (
         | SELECT source, lang,
         |  string_split(lower(text), ' ') AS tk,
         |  md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))
         |    AS fp,
         |  $langSelects
         | FROM documents),
         |g AS (
         | SELECT source, fp,
         |  CAST(len(tk) AS BIGINT) AS n_tok,
         |  (CAST(len(tk) AS BIGINT) BETWEEN 30 AND 90
         |   AND round(CAST(list_sum(list_transform(tk,
         |     w -> length(w))) AS DOUBLE) / len(tk), 4)
         |     BETWEEN 3.0 AND 4.6
         |   AND CAST(len(list_filter(tk, w -> list_contains(
         |     ['the','and','of','to','a','in','is','that','it','for'],
         |     w))) AS BIGINT) >= 2) AS keep,
         |  (${TextQ.langPredSql}) = lang AS lang_ok
         | FROM f)
         |SELECT CAST(count(*) AS BIGINT) AS n_docs,
         | CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         | CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
         | CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) * 10000
         |   // count(*) AS BIGINT) AS keep_bp,
         | CAST((count(*) - count(DISTINCT fp)) * 10000
         |   // count(*) AS BIGINT) AS exact_dup_bp,
         | CAST(sum(CASE WHEN lang_ok THEN 1 ELSE 0 END) * 10000
         |   // count(*) AS BIGINT) AS langid_acc_bp
         |FROM g""".stripMargin
    }),

    // Benchmark decontamination (the GPT-3/FLAN n-gram overlap check):
    // flag every training document sharing at least one 8-gram with the
    // held-out benchmark slice (doc_id % 29 = 0 stands in for the eval
    // set). Eval sets are tiny relative to a 100 TB corpus, so the
    // benchmark's distinct shingles BROADCAST and the check is one
    // map-side semi-join + per-doc distinct count — the corpus is
    // scanned once and never shuffled on the shingle.
    // (no ensureParallel here: at scale the scan's splits already give
    // parallelism, and at bench SF the round-robin text shuffle measured
    // 2× worse than computing shingles in the scan stage)
    Q("q97_decontaminate", (s, dir) => {
      val sh = t(s, dir, "documents")
        .select(col("doc_id"),
          explode(ShinglesExpr.shingles(toks, 8)).as("g"))
      val bench = sh.filter(col("doc_id") % 29 === 0)
        .select("g").distinct()
      sh.filter(col("doc_id") % 29 =!= 0)
        .join(broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(countDistinct(col("g")).as("n_shared"))
        .orderBy("doc_id")
    }, oracle =
      """WITH s AS (
        | SELECT doc_id, list_distinct(list_transform(
        |   range(1, len(string_split(lower(text), ' ')) - 6),
        |   i -> array_to_string(
        |     string_split(lower(text), ' ')[i:i+7], ' '))) AS shs
        | FROM documents),
        |sh AS (SELECT doc_id, unnest(shs) AS g FROM s),
        |bench AS (SELECT DISTINCT g FROM sh WHERE doc_id % 29 = 0)
        |SELECT sh.doc_id, count(DISTINCT sh.g) AS n_shared
        |FROM sh JOIN bench ON sh.g = bench.g
        |WHERE sh.doc_id % 29 <> 0
        |GROUP BY sh.doc_id ORDER BY sh.doc_id""".stripMargin),

    // Intra-document repetition signals (the Gopher repetition family):
    // duplicate-token fraction and most-frequent-token fraction, in exact
    // integer basis points — n_words=32 puts frac·10⁴ exactly on .5
    // rounding boundaries, so a rounded double here is one engine
    // version's tie-break away from a mismatch (the q124 lesson). The
    // token histogram is a partial-aggregated explode→count — at 100 TB
    // the per-(doc, word) combine happens map-side and only per-doc
    // partials shuffle.
    Q("q98_repetition", (s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), explode(toks).as("w"))
        .groupBy("doc_id", "w")
        .agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(sum(col("c")).as("n_words"),
          count(lit(1)).as("n_distinct"),
          max(col("c")).as("top_c"))
        .select(col("doc_id"), col("n_words"),
          ldiv((col("n_words") - col("n_distinct")) * lit(10000L),
            col("n_words")).as("dup_bp"),
          ldiv(col("top_c") * lit(10000L), col("n_words")).as("top_bp"))
        .orderBy("doc_id")
    }, oracle =
      """WITH c AS (
        | SELECT doc_id, w, count(*) AS c FROM (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
        |  FROM documents)
        | GROUP BY doc_id, w)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
        | CAST((sum(c) - count(*)) * 10000 // sum(c) AS BIGINT) AS dup_bp,
        | CAST(max(c) * 10000 // sum(c) AS BIGINT) AS top_bp
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // Hopping-window aggregation: 1-hour windows sliding every 15
    // minutes over the event stream (the batch twin of the streaming
    // windowed agg). Spark's window() replicates each row into its 4
    // covering windows before a plain hash aggregate — partial
    // aggregation applies, nothing is ordered globally until the
    // presentation sort. Sum in DECIMAL so the value is order-independent
    // and oracle-exact.
    Q("q99_sliding_window", (s, dir) => {
      t(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value").cast(DecimalType(38, 6))).cast("double"),
            4).as("sum_value"))
        .select(col("w.start").as("w_start"), col("n"), col("sum_value"))
        .orderBy("w_start")
    }, oracle =
      """WITH e AS (
        | SELECT make_timestamp(
        |   ((epoch_us(ts) // 900000000) - k.k) * 900000000) AS w_start,
        |  value
        | FROM events, (SELECT unnest([0, 1, 2, 3]) AS k) k)
        |SELECT w_start, count(*) AS n,
        | round(CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE), 4)
        |   AS sum_value
        |FROM e GROUP BY w_start ORDER BY w_start""".stripMargin),

    // Fixed-iteration PageRank over the (undirected) supplier↔customer
    // trade graph derived from lineitem⋈orders. The loop is the classic
    // contribute→sum shape: the checkpointed edge list is scanned (never
    // reshuffled) each round against the broadcast node-sized rank
    // table, and only rank-sized partial sums shuffle. Per-edge
    // contributions
    // are deterministic doubles; their per-node sum is accumulated in
    // DECIMAL(38,18) so the result is independent of partition order and
    // hash-matches a chained-CTE oracle (built-in double sums cannot).
    Q("q100_pagerank", (s, dir) => {
      val e0 = t(s, dir, "lineitem")
        .join(t(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .select((col("l_suppkey") * 2).as("src"),
          (col("o_custkey") * 2 + 1).as("dst"))
        .distinct()
        // checkpoint BEFORE the symmetrizing union: the reversed branch
        // projects different columns, so Catalyst can't reuse the
        // distinct's exchange across the two union arms — without the
        // cut the join+distinct runs twice
        .localCheckpoint()
      // materialize the (edge, src-degree) list ONCE — localCheckpoint
      // is eager and truncates lineage, so the 3 iterations read a
      // cached edge block instead of re-deriving the lineitem⋈orders
      // join per round (the same lineage-cut discipline as
      // DedupOps.connectedComponents)
      // NO repartition before the checkpoint: localCheckpoint reports
      // UnknownPartitioning, so a pre-checkpoint src exchange is pure
      // build cost the rounds can't reuse (r15 measured the re-exchange;
      // this round removes the dead one — two 1.17M-record shuffles per
      // execution). The union is narrow over the checkpointed e0.
      val edges = e0.union(e0.select(col("dst").as("src"),
        col("src").as("dst")))
      val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
        .localCheckpoint()
      // dst-side degree attached ONCE at build: each round's output can
      // then carry the node's degree through the aggregation, so the
      // per-round contribution becomes a pure PROJECTION of the rank
      // table instead of a deg⋈ranks join — minus one join and two
      // node-sized exchanges per round (guide §2.4); the 8 extra bytes
      // per edge row are ~9 MB per round here and SF-linear at scale.
      val edgesDeg = edges
        .join(deg.select(col("src").as("dst"), col("deg").as("dst_deg")),
          "dst")
        .select(col("src"), col("dst"), col("dst_deg"))
        .localCheckpoint()
      // one driver-side scalar (node count) — the only collect in the op
      val n = deg.count()
      val damp = 0.85
      val base = 0.15 / n
      var ranks = deg.select(col("src").as("node"), col("deg"))
        .withColumn("r", lit(1.0 / n))
      for (_ <- 1 to 3) {
        // each round: the per-node contribution (r/deg, cast to exact
        // DECIMAL once) is computed on the NODE-sized rank table — the
        // same double division every edge of that src used to repeat,
        // so the values are bit-identical — and only then joined to the
        // edge list; the shuffle_hash hint keeps the big join a hash
        // probe (SortMergeJoin was re-sorting the full edge list every
        // round; strategy changes values not at all). Checkpoint per
        // round so round k+1 doesn't replay round k's plan. first()
        // of dst_deg is deterministic: the degree is functionally
        // determined by the dst key.
        val contrib = ranks.select(col("node").as("src"),
          (col("r") / col("deg")).cast(DecimalType(38, 18)).as("c"))
        ranks = edgesDeg
          .join(contrib.hint("shuffle_hash"), "src")
          .select(col("dst"), col("dst_deg"), col("c"))
          .groupBy("dst")
          .agg(first(col("dst_deg")).as("deg"),
            (lit(base) + lit(damp) * sum(col("c")).cast("double"))
              .as("r"))
          .select(col("dst").as("node"), col("deg"), col("r"))
          .localCheckpoint()
      }
      ranks
        .select(col("node"), round(col("r") * n, 6).as("pr_scaled"))
        .orderBy("node")
    }, oracle =
      """WITH e0 AS (
        | SELECT DISTINCT l_suppkey * 2 AS src, o_custkey * 2 + 1 AS dst
        | FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |e AS (SELECT src, dst FROM e0
        |      UNION ALL SELECT dst, src FROM e0),
        |d AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
        |nn AS (SELECT count(*) AS n FROM d),
        |r0 AS (SELECT src AS node, CAST(1 AS DOUBLE) / (SELECT n FROM nn)
        |       AS r FROM d),
        |r1 AS (
        | SELECT e.dst AS node,
        |  CAST(0.15 AS DOUBLE) / (SELECT n FROM nn)
        |   + CAST(0.85 AS DOUBLE) * CAST(sum(CAST(r0.r / d.deg
        |       AS DECIMAL(38,18))) AS DOUBLE) AS r
        | FROM e JOIN d USING (src) JOIN r0 ON r0.node = e.src
        | GROUP BY e.dst),
        |r2 AS (
        | SELECT e.dst AS node,
        |  CAST(0.15 AS DOUBLE) / (SELECT n FROM nn)
        |   + CAST(0.85 AS DOUBLE) * CAST(sum(CAST(r1.r / d.deg
        |       AS DECIMAL(38,18))) AS DOUBLE) AS r
        | FROM e JOIN d USING (src) JOIN r1 ON r1.node = e.src
        | GROUP BY e.dst),
        |r3 AS (
        | SELECT e.dst AS node,
        |  CAST(0.15 AS DOUBLE) / (SELECT n FROM nn)
        |   + CAST(0.85 AS DOUBLE) * CAST(sum(CAST(r2.r / d.deg
        |       AS DECIMAL(38,18))) AS DOUBLE) AS r
        | FROM e JOIN d USING (src) JOIN r2 ON r2.node = e.src
        | GROUP BY e.dst)
        |SELECT node, round(r * (SELECT n FROM nn), 6) AS pr_scaled
        |FROM r3 ORDER BY node""".stripMargin),

    // Containment-similarity dedup (|A∩B|/|A| ≥ 0.8, both directions):
    // the asymmetric check that catches a short doc embedded in a longer
    // one, which plain Jaccard misses. Same inverted-index posting join
    // (Σ|posting|² bound) as q16 — never a cross join.
    Q("q101_containment", (s, dir) => {
      // parallelize before the shingle projection (the q156 lesson)
      graft.ops.DedupOps.containmentPairs(
        docText(s, dir).select(col("doc_id"),
          ShinglesExpr.shingles(toks, 3).as("sh")),
        "doc_id", "sh", 0.8)
        .orderBy("a_id", "b_id")
    }, oracle =
      """WITH s AS (
        | SELECT doc_id, string_split(lower(text), ' ') AS toks
        | FROM documents),
        |sh AS (
        | SELECT doc_id, list_distinct(list_transform(
        |   range(1, len(toks) - 1),
        |   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shs
        | FROM s),
        |p AS (
        | SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  round(CAST(len(list_intersect(a.shs, b.shs)) AS DOUBLE)
        |    / len(a.shs), 4) AS containment
        | FROM sh a JOIN sh b ON a.doc_id <> b.doc_id)
        |SELECT a_id, b_id, containment FROM p
        |WHERE containment >= 0.8 ORDER BY a_id, b_id""".stripMargin),

    // The first step of BPE training: adjacent-symbol pair frequencies.
    // The corpus collapses to its VOCABULARY first (word → corpus count,
    // one partial-aggregated pass over the data — at 100 TB the vocab is
    // millions of rows, not billions), then pairs explode over the tiny
    // vocab only, weighted by the carried counts. Top 30 with a
    // deterministic (count desc, pair asc) tiebreak.
    Q("q102_bpe_merges", (s, dir) => {
      val vocab = t(s, dir, "documents")
        .select(explode(toks).as("w"))
        .groupBy("w").agg(count(lit(1)).as("wc"))
        .filter(length(col("w")) >= 2)
      vocab
        .select(col("wc"), explode(transform(
          sequence(lit(1), length(col("w")) - 1),
          i => col("w").substr(i, lit(2)))).as("pair"))
        .groupBy("pair").agg(sum(col("wc")).as("n"))
        .orderBy(desc("n"), asc("pair"))
        .limit(30)
    }, oracle =
      """WITH v AS (
        | SELECT w, count(*) AS wc FROM (
        |  SELECT unnest(string_split(lower(text), ' ')) AS w
        |  FROM documents)
        | GROUP BY w HAVING length(w) >= 2),
        |p AS (
        | SELECT unnest(list_transform(range(1, length(w)),
        |   i -> substr(w, CAST(i AS INTEGER), 2))) AS pair, wc
        | FROM v)
        |SELECT pair, CAST(sum(wc) AS BIGINT) AS n FROM p
        |GROUP BY pair ORDER BY n DESC, pair LIMIT 30""".stripMargin),

    // Inverted-index build: per token — document frequency, total term
    // frequency, first posting, and an md5 fingerprint of the full
    // sorted posting list (the index payload, made hash-checkable). The
    // (token, doc) combine is map-side partial; only per-token partials
    // shuffle, and the posting list is assembled once per token.
    Q("q103_inverted_index", (s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), explode(toks).as("w"))
        .groupBy("w")
        .agg(countDistinct(col("doc_id")).as("df"),
          count(lit(1)).as("tf"),
          min(col("doc_id")).as("first_doc"),
          md5(concat_ws(",", transform(
            sort_array(collect_set(col("doc_id"))),
            d => d.cast("string")))).as("postings_md5"))
        .orderBy("w")
    }, oracle =
      """SELECT w,
        | count(DISTINCT doc_id) AS df,
        | count(*) AS tf,
        | min(doc_id) AS first_doc,
        | md5(array_to_string(list_transform(
        |   list_sort(list(DISTINCT doc_id)),
        |   d -> CAST(d AS VARCHAR)), ',')) AS postings_md5
        |FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
        |      FROM documents)
        |GROUP BY w ORDER BY w""".stripMargin),

    // Chi-square independence test of lang × source: per-language
    // contribution Σ (o·N − r·c)² / (N·r·c). Every term is a ratio of
    // exact integers (squared in DECIMAL to survive any SF), so the
    // statistic is engine-exact — built-in double accumulation could
    // never hash-match. The marginals are tiny aggregates; broadcast
    // them and the contingency table never shuffles.
    Q("q104_chi_square", (s, dir) => {
      val d = t(s, dir, "documents")
      val o = d.groupBy("lang", "source").agg(count(lit(1)).as("o"))
      val r = d.groupBy("lang").agg(count(lit(1)).as("r"))
      val c = d.groupBy("source").agg(count(lit(1)).as("c"))
      val nDf = d.agg(count(lit(1)).as("n"))
      // counts are cast to DECIMAL *before* multiplying: o·N and r·c in
      // long arithmetic would wrap silently past ~9.2e18 (n ≳ 3e9 docs),
      // while decimal products stay exact to 38 digits on both engines
      // (and overflow loudly, not wrap, beyond — same failure mode as the
      // DuckDB oracle). |o·N − r·c| < N² must fit DECIMAL(19,0): exact
      // up to ~3e9 docs, the realistic corpus-count ceiling.
      val dec = DecimalType(19, 0)
      val num = (col("o").cast(dec) * col("n")
        - col("r").cast(dec) * col("c")).cast(dec)
      val den = col("n").cast(dec) * col("r") * col("c")
      o.join(broadcast(r), "lang")
        .join(broadcast(c), "source")
        .crossJoin(broadcast(nDf))
        .select(col("lang"), col("o"),
          ((num * num).cast("double") / den.cast("double")).as("term"))
        .groupBy("lang")
        .agg(sum(col("o")).cast("long").as("n_docs"),
          round(sum(col("term").cast(DecimalType(38, 12)))
            .cast("double"), 6).as("chi2_part"))
        .orderBy("lang")
    }, oracle =
      """WITH o AS (
        | SELECT lang, source, count(*) AS o FROM documents GROUP BY 1, 2),
        |r AS (SELECT lang, count(*) AS r FROM documents GROUP BY 1),
        |c AS (SELECT source, count(*) AS c FROM documents GROUP BY 1),
        |nn AS (SELECT count(*) AS n FROM documents),
        |t AS (
        | SELECT o.lang, o.o,
        |  CAST(CAST(CAST(o.o AS DECIMAL(19,0)) * nn.n
        |       - CAST(r.r AS DECIMAL(19,0)) * c.c AS DECIMAL(19,0))
        |     * CAST(CAST(o.o AS DECIMAL(19,0)) * nn.n
        |       - CAST(r.r AS DECIMAL(19,0)) * c.c AS DECIMAL(19,0))
        |     AS DOUBLE)
        |   / CAST(CAST(nn.n AS DECIMAL(19,0)) * r.r * c.c AS DOUBLE)
        |   AS term
        | FROM o JOIN r USING (lang) JOIN c USING (source), nn)
        |SELECT lang, CAST(sum(o) AS BIGINT) AS n_docs,
        | round(CAST(sum(CAST(term AS DECIMAL(38,12))) AS DOUBLE), 6)
        |   AS chi2_part
        |FROM t GROUP BY lang ORDER BY lang""".stripMargin),

    // The multimodal pipeline, driver-checkable end-to-end: a media
    // table (binary content + kind) synthesized from document bytes runs
    // through the REAL plumbing — mapPartitions feature extraction,
    // stride resize, 1→N video frame sampling — and emits integer byte
    // checksums an oracle can recompute from the same bytes. Image-kind
    // rows additionally pass through a REAL JDK-ImageIO codec roundtrip
    // (PNG even ids / BMP odd, 1×len grayscale so pixels == source
    // bytes): the decode is no longer a stub, and any codec defect
    // shifts a pixel and breaks the hash. Audio/video decode stays
    // behind the MediaDecoder seam (no such codecs in the JDK);
    // everything the cluster actually schedules — schema, batching,
    // flatMap fan-out, join-back — is exercised and exact.
    Q("q105_multimodal_pipeline", (s, dir) => {
      import s.implicits._
      // ALL three kinds pass their real codec (ImageIO / WAV / AVI)
      // before the feature stages — byte-identical roundtrips, so the
      // unchanged checksums downstream certify the decoders
      val media = graft.multimodal.BinaryOps.withMediaRoundtrip(
        t(s, dir, "documents").select(
          col("doc_id").as("media_id"),
          when(col("doc_id") % 3 === 0, "image")
            .when(col("doc_id") % 3 === 1, "audio")
            .otherwise("video").as("kind"),
          col("text").cast("binary").as("content")))
      val feats = graft.multimodal.BinaryOps.extractFeatures(media)
        .toDF().select(col("media_id"), col("kind"), col("n_bytes"))
      val rsum = graft.multimodal.BinaryOps.resize(media, 8, 8)
        .map(r => (r.media_id,
          r.content.foldLeft(0L)((a, b) => a + (b & 0xFF))))
        .toDF("media_id", "resize_sum")
      val frames = graft.multimodal.BinaryOps
        .sampleFrames(media, nFrames = 4, frameBytes = 32)
        .map(f => (f.media_id,
          f.frame.foldLeft(0L)((a, b) => a + (b & 0xFF))))
        .toDF("media_id", "fs")
        .groupBy("media_id")
        .agg(count(lit(1)).as("n_frames"), sum(col("fs")).as("frames_sum"))
      feats.join(rsum, "media_id")
        .join(frames, Seq("media_id"), "left")
        .select(col("media_id"), col("kind"), col("n_bytes"),
          col("resize_sum"),
          coalesce(col("n_frames"), lit(0L)).as("n_frames"),
          col("frames_sum"))
        .orderBy("media_id")
    }, oracle =
      // The documents are pure printable ASCII (asserted in CorpusQSpec),
      // so UTF-8 byte k of content == ord(substr(text, k+1, 1)) and every
      // checksum is exact integer arithmetic.
      """WITH m AS (
        | SELECT doc_id AS media_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'image'
        |       WHEN doc_id % 3 = 1 THEN 'audio'
        |       ELSE 'video' END AS kind,
        |  text, length(text) AS len
        | FROM documents)
        |SELECT media_id, kind, CAST(len AS BIGINT) AS n_bytes,
        | CAST(list_sum(list_transform(range(0, 64),
        |   i -> ord(substr(text, CAST(i * len // 64 AS INTEGER) + 1, 1))))
        |   AS BIGINT) AS resize_sum,
        | CAST(CASE WHEN kind = 'video' THEN 4 ELSE 0 END AS BIGINT)
        |   AS n_frames,
        | CAST(CASE WHEN kind = 'video' THEN
        |  list_sum(list_transform(range(0, 4), f ->
        |   list_sum(list_transform(
        |     range(CAST(f * len // 4 AS INTEGER) + 1,
        |           least(CAST(f * len // 4 AS INTEGER) + 32, len) + 1),
        |     i -> ord(substr(text, CAST(i AS INTEGER), 1))))))
        | END AS BIGINT) AS frames_sum
        |FROM m ORDER BY media_id""".stripMargin),

    // Deterministic, engine-portable train/val/test split: the split key
    // is the first 16 bits of md5(doc_id) — stable across engines,
    // languages, and re-runs (no RNG, no engine hash), so the same doc
    // lands in the same split everywhere, forever: the property a
    // training pipeline actually needs. ~80/10/10 by hex thresholds;
    // one scan, one tiny aggregate.
    Q("q111_dataset_split", (s, dir) => {
      val h = substring(md5(col("doc_id").cast("string").cast("binary")),
        1, 4)
      t(s, dir, "documents")
        .withColumn("split",
          when(h < "cccc", "train").when(h < "e666", "val")
            .otherwise("test"))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("doc_id")).as("id_checksum"))
        .orderBy("split")
    }, oracle =
      """WITH s AS (
        | SELECT doc_id,
        |  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'cccc'
        |        THEN 'train'
        |       WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'e666'
        |        THEN 'val'
        |       ELSE 'test' END AS split
        | FROM documents)
        |SELECT split, count(*) AS n_docs,
        | CAST(sum(doc_id) AS BIGINT) AS id_checksum
        |FROM s GROUP BY split ORDER BY split""".stripMargin),

    // Temporal novelty: per corpus decile, the share of documents that
    // near-duplicate an EARLIER document (pair edges are a<b, so b is
    // the repeat) — the curve a crawler watches to see fresh content
    // decay. Reuses the session-shared exact-Jaccard edge set (one
    // computation serves q56/q72/q86 and this); everything after the
    // edges is a repeat-flag join + one tiny aggregate.
    Q("q112_temporal_novelty", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val mx = docs.agg(max(col("doc_id")).as("mx"))
      val repeats = ScaleQ.dedupEdges(s, dir)
        .select(col("b_id").as("doc_id")).distinct()
        .withColumn("rep", lit(1L))
      docs.join(repeats, Seq("doc_id"), "left")
        .crossJoin(broadcast(mx))
        // integer DIV matches the oracle's `//` exactly past 2^53 too
        .select(least(ldiv(col("doc_id") * 10, col("mx") + 1),
          lit(9L)).as("decile"),
          coalesce(col("rep"), lit(0L)).as("rep"))
        .groupBy("decile")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("rep")).as("n_repeats"),
          round(sum(col("rep")).cast("double") / count(lit(1)), 4)
            .as("repeat_rate"))
        .orderBy("decile")
    }, oracle =
      // quadratic shingle-pair oracle (same family as q16/q56): exact at
      // the driver's sf0.01 gate; skip in local sf0.1 checks
      """WITH s AS (
        | SELECT doc_id, string_split(lower(text), ' ') AS toks
        | FROM documents),
        |sh AS (
        | SELECT doc_id, list_distinct(list_transform(
        |   range(1, len(toks) - 1),
        |   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shs
        | FROM s),
        |p AS (
        | SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  len(list_intersect(a.shs, b.shs)) AS inter,
        |  len(a.shs) + len(b.shs) - len(list_intersect(a.shs, b.shs))
        |    AS un
        | FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
        |rep AS (
        | SELECT DISTINCT b_id AS doc_id FROM p
        | WHERE round(CAST(inter AS DOUBLE) / un, 4) >= 0.5),
        |d AS (
        | SELECT doc_id,
        |  least(doc_id * 10 // ((SELECT max(doc_id) + 1 FROM documents)),
        |    9) AS decile,
        |  CASE WHEN doc_id IN (SELECT doc_id FROM rep) THEN 1 ELSE 0 END
        |    AS rep
        | FROM documents)
        |SELECT decile, count(*) AS n_docs,
        | CAST(sum(rep) AS BIGINT) AS n_repeats,
        | round(CAST(sum(rep) AS DOUBLE) / count(*), 4) AS repeat_rate
        |FROM d GROUP BY decile ORDER BY decile""".stripMargin),

    // Domain balancing: cap every source at 50 docs, chosen in a
    // deterministic pseudo-random order (md5 of the id — no RNG, stable
    // across engines and re-runs). One per-source window whose rank is
    // filtered BEFORE any list/aggregate materializes, then a tiny
    // per-source report. The window partitions by source: parallel
    // across sources, never global.
    Q("q113_domain_cap", (s, dir) => {
      val w = Window.partitionBy(col("source"))
        .orderBy(md5(col("doc_id").cast("string").cast("binary")),
          col("doc_id"))
      t(s, dir, "documents")
        .withColumn("rn", row_number().over(w))
        .withColumn("kept", (col("rn") <= 50).cast("long"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("kept")).as("n_kept"),
          sum(when(col("kept") === 1L, col("doc_id"))
            .otherwise(lit(0L))).as("kept_checksum"))
        .orderBy("source")
    }, oracle =
      """WITH r AS (
        | SELECT source, doc_id,
        |  row_number() OVER (PARTITION BY source
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        | FROM documents)
        |SELECT source, count(*) AS n_docs,
        | CAST(sum(CASE WHEN rn <= 50 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_kept,
        | CAST(sum(CASE WHEN rn <= 50 THEN doc_id ELSE 0 END) AS BIGINT)
        |   AS kept_checksum
        |FROM r GROUP BY source ORDER BY source""".stripMargin),

    // Incremental near-dup dedup: the crawl-time shape — a NEW batch
    // (last tenth of doc ids) checked against the EXISTING corpus, not
    // against itself — the asymmetric twin of q16's self-join. Both
    // posting sides are corpus-scaled (the batch is a FRACTION of the
    // corpus, not schema-bounded), so the candidate join is a plain
    // tok-keyed shuffle join — AQE broadcasts a genuinely small batch
    // at runtime, and the shuffle form holds when the batch is 10 TB
    // (r9 broadcast sweep, lesson-2 rule). Exact Jaccard verifies
    // candidates as usual. Emits, per new doc, how many established
    // docs it duplicates and the best match.
    Q("q118_incremental_dedup", (s, dir) => {
      val docs = docText(s, dir)
      val mx = docs.agg((max(col("doc_id")) + 1).as("m"))
      val posts = docs
        .select(col("doc_id"), ShinglesExpr.shingles(toks, 3).as("shs"))
        .select(col("doc_id"), size(col("shs")).as("sz"),
          explode(col("shs")).as("tok"))
        .crossJoin(broadcast(mx))
        .withColumn("thr", ldiv(col("m") * 9, lit(10L)))
      val oldP = posts.filter(col("doc_id") < col("thr"))
        .select(col("doc_id").as("a_id"), col("sz").as("a_sz"), col("tok"))
      val newP = posts.filter(col("doc_id") >= col("thr"))
        .select(col("doc_id").as("b_id"), col("sz").as("b_sz"), col("tok"))
      oldP.join(newP, "tok")
        .groupBy("a_id", "b_id", "a_sz", "b_sz")
        .agg(count(lit(1)).as("inter"))
        .withColumn("j", round(col("inter").cast("double")
          / (col("a_sz") + col("b_sz") - col("inter")), 4))
        .filter(col("j") >= 0.5)
        .groupBy(col("b_id").as("doc_id"))
        .agg(count(lit(1)).as("n_dups"), max(col("j")).as("best_j"))
        .orderBy("doc_id")
    }, oracle =
      // quadratic shingle oracle (new×old restricted): exact at the
      // driver's sf0.01 gate; include in the sf0.1 skip set
      """WITH s AS (
        | SELECT doc_id, string_split(lower(text), ' ') AS toks
        | FROM documents),
        |sh AS (
        | SELECT doc_id, list_distinct(list_transform(
        |   range(1, len(toks) - 1),
        |   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shs
        | FROM s),
        |mx AS (SELECT max(doc_id) + 1 AS m FROM documents),
        |p AS (
        | SELECT b.doc_id AS b_id,
        |  round(CAST(len(list_intersect(a.shs, b.shs)) AS DOUBLE)
        |   / (len(a.shs) + len(b.shs) - len(list_intersect(a.shs, b.shs))),
        |   4) AS j
        | FROM sh a, sh b, mx
        | WHERE a.doc_id < (mx.m * 9) // 10
        |   AND b.doc_id >= (mx.m * 9) // 10)
        |SELECT b_id AS doc_id, count(*) AS n_dups, max(j) AS best_j
        |FROM p WHERE j >= 0.5
        |GROUP BY b_id ORDER BY doc_id""".stripMargin),

    // Character histogram over the corpus: byte/char frequency is the
    // first look at encoding health and tokenizer design (alphabet
    // size, whitespace share). Explode-to-char is heavy per row, so the
    // per-(char) combine is map-side partial and only ≤|alphabet|
    // partials shuffle.
    Q("q126_char_histogram", (s, dir) => {
      val total = Window.partitionBy()
      t(s, dir, "documents")
        .select(explode(split(col("text"), "")).as("ch"))
        // Spark's split(-1 limit) keeps a trailing "" element per row;
        // real chars only on both engine sides
        .filter(length(col("ch")) === 1)
        .groupBy("ch").agg(count(lit(1)).as("n"))
        .select(col("ch"), col("n"),
          round(col("n").cast("double") / sum(col("n")).over(total), 6)
            .as("share"))
        .orderBy(desc("n"), asc("ch"))
        .limit(20)
    }, oracle =
      """WITH c AS (
        | SELECT ch, count(*) AS n FROM (
        |  SELECT unnest(string_split(text, '')) AS ch FROM documents)
        | WHERE length(ch) = 1 GROUP BY ch)
        |SELECT ch, n,
        | round(CAST(n AS DOUBLE) / (SELECT sum(n) FROM c), 6) AS share
        |FROM c ORDER BY n DESC, ch LIMIT 20""".stripMargin),

    // Embedding-column profiling: the vector-data quality report run
    // before any similarity work — dimension consistency, zero-vector
    // count, and the L2-norm distribution (exact median/p95). Per-row
    // norms are sequential left-to-right folds (deterministic in both
    // engines); the percentiles are the only shuffle.
    Q("q121_embedding_profile", (s, dir) => {
      val norm = sqrt(aggregate(col("embedding"), lit(0.0d),
        (acc, v) => acc + v.cast("double") * v.cast("double")))
      t(s, dir, "embeddings")
        .select(size(col("embedding")).as("dim"), norm.as("l2"))
        .agg(count(lit(1)).as("n_vecs"),
          countDistinct(col("dim")).cast("long").as("n_dims"),
          min(col("dim")).cast("long").as("dim"),
          sum(when(col("l2") === 0.0, 1L).otherwise(0L)).as("n_zero"),
          round(percentile(col("l2"), lit(0.5)), 4).as("norm_p50"),
          round(percentile(col("l2"), lit(0.95)), 4).as("norm_p95"))
    }, oracle =
      """WITH v AS (
        | SELECT len(embedding) AS dim,
        |  sqrt(list_sum(list_transform(embedding,
        |    v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))) AS l2
        | FROM embeddings)
        |SELECT count(*) AS n_vecs,
        | CAST(count(DISTINCT dim) AS BIGINT) AS n_dims,
        | CAST(min(dim) AS BIGINT) AS dim,
        | CAST(sum(CASE WHEN l2 = 0.0 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_zero,
        | round(quantile_cont(l2, 0.5), 4) AS norm_p50,
        | round(quantile_cont(l2, 0.95), 4) AS norm_p95
        |FROM v""".stripMargin),

    // The SQL surface end-to-end: a query written entirely in
    // spark.sql(...) against temp views, exercising the functions the
    // engine injects into the session registry (shingles, cosine_sim —
    // see GraftFunctions/GraftExtensions). What a SQL-only user of the
    // library sees; the same Catalyst expressions, so the same plans.
    Q("q114_sql_surface", (s, dir) => {
      t(s, dir, "documents").createOrReplaceTempView("graft_docs")
      t(s, dir, "embeddings").createOrReplaceTempView("graft_emb")
      s.sql("""
        SELECT d.doc_id,
          CAST(size(shingles(split(lower(d.text), ' '), 3)) AS BIGINT)
            AS n_shingles,
          round(cosine_sim(a.embedding, b.embedding), 6) AS next_cos
        FROM graft_docs d
        JOIN graft_emb a ON a.vec_id = d.doc_id
        JOIN graft_emb b ON b.vec_id = d.doc_id + 1
        ORDER BY d.doc_id""")
    }, oracle =
      """SELECT d.doc_id,
        | CAST(len(list_distinct(list_transform(
        |   range(1, len(string_split(lower(d.text), ' ')) - 1),
        |   i -> string_split(lower(d.text), ' ')[i] || ' '
        |     || string_split(lower(d.text), ' ')[i+1] || ' '
        |     || string_split(lower(d.text), ' ')[i+2]))) AS BIGINT)
        |   AS n_shingles,
        | round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |   CAST(b.embedding AS DOUBLE[])), 6) AS next_cos
        |FROM documents d
        |JOIN embeddings a ON a.vec_id = d.doc_id
        |JOIN embeddings b ON b.vec_id = d.doc_id + 1
        |ORDER BY d.doc_id""".stripMargin),

    // Triangle census of the supplier co-purchase graph. Four at-scale
    // disciplines in one operator: (1) the bipartite projection's edge
    // threshold is a scale-free top-1% ORDER STATISTIC computed from a
    // shared-count HISTOGRAM — the only global window runs over the
    // histogram (≤ distinct count values), never the pair set; (2) the
    // aggregated PAIR set is localCheckpoint'd because TWO consumers
    // need it (the threshold histogram feeding a broadcast, and the
    // edge filter) — without the checkpoint the broadcast subplan and
    // the edge pass each re-materialize the projection self-join
    // (measured: it doubled the whole query); (3) pairs come from the
    // codegen'd sort-merge self-join on partkey, NOT a per-part
    // collect_set + array-comprehension explode — measured 8× slower
    // per pair (nested transform/flatten struct allocation defeats
    // codegen) despite saving a shuffle; (4) edges are ORIENTED
    // low-(degree,id) → high before the wedge join, the standard trick
    // that bounds wedge fan-out by O(√m) per node instead of
    // max-degree² (Suri & Vassilvitskii's MapReduce triangle
    // counting). Output is the one-row census: nodes, edges,
    // triangles, global closure in bp (3·tri·10⁴ DIV wedges — exact
    // integer, no double ratio).
    Q("q157_triangle_census", (s, dir) => {
      // one EXPLICIT partkey repartition serves three operators: the
      // (sk,p) distinct runs in-place (HashPartitioning(p) satisfies
      // ClusteredDistribution(sk,p)), and the self-join needs no
      // exchange (both sides share the partitioning). Explicit, not
      // AQE-governed, because the pair fan-out makes this the
      // CPU-heaviest stage while its input bytes are small — AQE's
      // byte-based coalescing was serializing it onto 5 tasks.
      val sp = t(s, dir, "lineitem")
        .select(col("l_suppkey").as("sk"), col("l_partkey").as("p"))
        .repartition(s.sparkContext.defaultParallelism, col("p"))
        .distinct()
      val pairs = sp.select(col("sk").as("sa"), col("p"))
        .join(sp.select(col("sk").as("sb"), col("p")), Seq("p"))
        .filter(col("sa") < col("sb"))
        .groupBy("sa", "sb").agg(count(lit(1)).as("shared"))
        .localCheckpoint()
      val hist = pairs.groupBy("shared").agg(count(lit(1)).as("cnt"))
      val wCum = Window.orderBy(desc("shared"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val nTotal = hist.agg(sum(col("cnt")).as("n"))
      val thr = hist.withColumn("cum", sum(col("cnt")).over(wCum))
        .crossJoin(broadcast(nTotal))
        .filter(col("cum") >= ldiv(col("n") + 99, lit(100L)))
        .agg(max(col("shared")).as("thr"))
      // the EDGE set is checkpointed too: degrees, both wedge legs, and
      // the closing-edge probe all reuse it, and it is far smaller than
      // the checkpointed pair set it filters
      val e = pairs.crossJoin(broadcast(thr))
        .filter(col("shared") >= col("thr"))
        .select("sa", "sb")
        .localCheckpoint()
      val deg = e.select(col("sa").as("v")).unionAll(e.select(col("sb")))
        .groupBy("v").agg(count(lit(1)).as("d"))
      val census = deg.agg(count(lit(1)).as("n_nodes"),
        sum(ldiv(col("d") * (col("d") - 1), lit(2L))).as("wedges"))
      val orient = e
        .join(deg.select(col("v").as("sa"), col("d").as("da")), "sa")
        .join(deg.select(col("v").as("sb"), col("d").as("db")), "sb")
        .select(
          when(col("da") < col("db") ||
            (col("da") === col("db") && col("sa") < col("sb")),
            col("sa")).otherwise(col("sb")).as("u"),
          when(col("da") < col("db") ||
            (col("da") === col("db") && col("sa") < col("sb")),
            col("sb")).otherwise(col("sa")).as("v"))
      val wedge = orient.select(col("u"), col("v"))
        .join(orient.select(col("u").as("v"), col("v").as("w")), "v")
      val tri = wedge.join(e,
          col("sa") === least(col("u"), col("w")) &&
          col("sb") === greatest(col("u"), col("w")))
        .agg(count(lit(1)).as("n_tri"))
      val edges = e.agg(count(lit(1)).as("n_edges"))
      census.crossJoin(broadcast(edges)).crossJoin(broadcast(tri))
        .select(col("n_nodes"), col("n_edges"), col("n_tri"),
          // degenerate graphs (all degree-1) have no wedges; NULL, not /0
          when(col("wedges") > 0,
            ldiv(col("n_tri") * lit(30000L), col("wedges")))
            .as("closure_bp"))
    }, oracle =
      """WITH sp AS (
        | SELECT DISTINCT l_suppkey AS sk, l_partkey AS p FROM lineitem),
        |pairs AS (
        | SELECT a.sk AS sa, b.sk AS sb, count(*) AS shared
        | FROM sp a JOIN sp b ON a.p = b.p AND a.sk < b.sk GROUP BY 1, 2),
        |hist AS (SELECT shared, count(*) AS cnt FROM pairs GROUP BY 1),
        |cum AS (
        | SELECT shared, sum(cnt) OVER (ORDER BY shared DESC) AS cum
        | FROM hist),
        |nn AS (SELECT sum(cnt) AS n FROM hist),
        |thr AS (
        | SELECT max(shared) AS thr FROM cum, nn
        | WHERE cum >= (n + 99) // 100),
        |e AS (SELECT sa, sb FROM pairs, thr WHERE shared >= thr),
        |deg AS (
        | SELECT v, count(*) AS d FROM (
        |  SELECT sa AS v FROM e UNION ALL SELECT sb FROM e) GROUP BY 1),
        |node AS (
        | SELECT CAST(count(*) AS BIGINT) AS n_nodes,
        |  CAST(sum(d * (d - 1) // 2) AS BIGINT) AS wedges FROM deg),
        |orient AS (
        | SELECT CASE WHEN (da.d, e.sa) < (db.d, e.sb) THEN e.sa ELSE e.sb
        |   END AS u,
        |  CASE WHEN (da.d, e.sa) < (db.d, e.sb) THEN e.sb ELSE e.sa
        |   END AS v
        | FROM e JOIN deg da ON da.v = e.sa JOIN deg db ON db.v = e.sb),
        |tri AS (
        | SELECT CAST(count(*) AS BIGINT) AS n_tri
        | FROM orient o1 JOIN orient o2 ON o2.u = o1.v
        | JOIN e ON e.sa = least(o1.u, o2.v)
        |       AND e.sb = greatest(o1.u, o2.v)),
        |ecnt AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e)
        |SELECT node.n_nodes, ecnt.n_edges, tri.n_tri,
        | CAST(CASE WHEN node.wedges > 0
        |   THEN tri.n_tri * 30000 // node.wedges END AS BIGINT)
        |   AS closure_bp
        |FROM node, ecnt, tri""".stripMargin),

    // Unicode accent folding (q82 normalizes to NFC — composed é stays
    // é; this STRIPS diacritics é→e, the fold search indexes apply on
    // top of NFC) — the text-normalization pass multilingual
    // corpora run before tokenization. Accented text is SYNTHESIZED by
    // vowel→accented-vowel translation (deterministic, 1:1 code
    // points), then folded back with the engine's normalizer; the
    // oracle folds with the SAME 5-char translate table (not DuckDB's
    // strip_accents, which strips ALL diacritics — with it, a corpus
    // that ever carried its own ü/ñ/è would silently diverge; r8
    // ADVICE), so any drift in the fold table breaks both md5 columns
    // while native accented corpus text passes through both sides
    // identically. The fold is the
    // builtin codegen `translate` (code-point table, no UDF) — a
    // per-row projection that runs inside the scan at any corpus size.
    // n_accents counts the injected code points (length is preserved
    // 1:1, so it equals the vowel count).
    Q("q264_accent_fold", (s, dir) => {
      val accented = translate(col("text"), "aeiou", "áéíóú")
      val folded = translate(col("accented"),
        "áéíóú", "aeiou")
      t(s, dir, "documents")
        .select(col("doc_id"), col("text"), accented.as("accented"))
        .select(col("doc_id"),
          (length(col("text"))
            - length(translate(col("text"), "aeiou", ""))).cast("long")
            .as("n_accents"),
          md5(col("accented").cast("binary")).as("accented_md5"),
          md5(folded.cast("binary")).as("folded_md5"),
          (folded === col("text")).as("fold_roundtrips"))
        .orderBy("doc_id")
    }, oracle =
      """WITH a AS (
        | SELECT doc_id, text,
        |  translate(text, 'aeiou', 'áéíóú') AS accented
        | FROM documents)
        |SELECT doc_id,
        | CAST(length(text) - length(translate(text, 'aeiou', ''))
        |   AS BIGINT) AS n_accents,
        | md5(accented) AS accented_md5,
        | md5(translate(accented, 'áéíóú', 'aeiou')) AS folded_md5,
        | translate(accented, 'áéíóú', 'aeiou') = text AS fold_roundtrips
        |FROM a ORDER BY doc_id""".stripMargin),

    // (source-pair vocabulary Jaccard is covered by
    // q135_source_vocab_jaccard — kept single-registered to avoid a
    // duplicate operator entry.)

    // Collocation mining by lift — the PMI family with the log dropped
    // so the statistic stays EXACT: lift(a,b) = P(ab)/(P(a)·P(b)) =
    // c_ab·N_u² / (N_b·c_a·c_b), reported in ppm via one
    // IntegralDivide over DECIMAL products (c_ab·N_u²·10⁶ wraps BIGINT
    // far below bench SF). Bigram INSTANCES (not per-doc distinct)
    // come from a codegen transform over the token array; unigram and
    // bigram tables are vocab-sized with map-side combine; the scalar
    // totals broadcast. Min-support 20 kills noise ties.
    Q("q273_collocations", (s, dir) => {
      val dec38 = DecimalType(38, 0)
      val base = t(s, dir, "documents")
        .select(toks.as("tk"))
        .filter(size(col("tk")) >= 2)
        .localCheckpoint(false)
      val bigrams = base.select(explode(expr(
        "transform(sequence(1, size(tk) - 1), " +
          "i -> concat(element_at(tk, i), ' ', element_at(tk, i + 1)))"))
        .as("bg"))
      val cab = bigrams.groupBy("bg").agg(count(lit(1)).as("c_ab"))
      val uni = base.select(explode(col("tk")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
      val nu = uni.agg(sum(col("c")).as("n_uni"))
      val nb = cab.agg(sum(col("c_ab")).as("n_big"))
      // both sides of the count joins are vocab-sized; no broadcast
      // pin — a real corpus's vocabulary (tens of millions of types)
      // outgrows a broadcast, and AQE still converts when small
      cab.filter(col("c_ab") >= 20)
        .withColumn("w_a", split(col("bg"), " ").getItem(0))
        .withColumn("w_b", split(col("bg"), " ").getItem(1))
        .join(uni.select(col("w").as("w_a"), col("c").as("c_a")), "w_a")
        .join(uni.select(col("w").as("w_b"), col("c").as("c_b")), "w_b")
        .crossJoin(broadcast(nu)).crossJoin(broadcast(nb))
        .select(col("bg"), col("c_ab"), col("c_a"), col("c_b"),
          ldiv(col("c_ab").cast(dec38) * col("n_uni") * col("n_uni")
              * 1000000L,
            col("n_big").cast(dec38) * col("c_a") * col("c_b"))
            .as("lift_ppm"))
        .orderBy(desc("lift_ppm"), asc("bg"))
        .limit(20)
    }, oracle =
      """WITH tk AS (
        | SELECT string_split(lower(text), ' ') AS tk FROM documents
        | WHERE len(string_split(lower(text), ' ')) >= 2),
        |bgi AS (
        | SELECT unnest(list_transform(range(1, len(tk)),
        |   i -> tk[i] || ' ' || tk[i+1])) AS bg
        | FROM tk),
        |cab AS (SELECT bg, CAST(count(*) AS BIGINT) AS c_ab
        |  FROM bgi GROUP BY bg),
        |uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM (
        |  SELECT unnest(tk) AS w FROM tk) GROUP BY w),
        |nu AS (SELECT CAST(sum(c) AS BIGINT) AS n_uni FROM uni),
        |nb AS (SELECT CAST(sum(c_ab) AS BIGINT) AS n_big FROM cab)
        |SELECT cab.bg, cab.c_ab, a.c AS c_a, b.c AS c_b,
        | CAST(CAST(cab.c_ab AS HUGEINT) * nu.n_uni * nu.n_uni * 1000000
        |   // (CAST(nb.n_big AS HUGEINT) * a.c * b.c) AS BIGINT)
        |   AS lift_ppm
        |FROM cab
        | JOIN uni a ON a.w = string_split(cab.bg, ' ')[1]
        | JOIN uni b ON b.w = string_split(cab.bg, ' ')[2], nu, nb
        |WHERE cab.c_ab >= 20
        |ORDER BY lift_ppm DESC, bg LIMIT 20""".stripMargin),
  )
}
