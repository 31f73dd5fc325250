package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.ops.{DedupOps, Profile, TextOps}

/** Data-quality / corpus-curation operators round 4: canonical-document
  * dedup materialization, the composed quality→language→dedup corpus
  * pipeline, one-pass column profiling, and z-score anomaly detection.
  * Each query is the at-scale plan shape (single-scan aggregates,
  * broadcast scalar stats, no windows over full history) with an exact
  * DuckDB oracle. */
object QualityQ {

  lazy val all: Seq[Q] = Seq(
    // Dedup MATERIALIZATION (the step after q56's clustering): every doc
    // maps to its cluster's canonical representative (min doc_id; docs in
    // no near-dup cluster represent themselves), and the output is the
    // kept corpus — one row per canonical doc with how many raw docs it
    // absorbs. Reuses the session-shared exact-Jaccard edge set and the
    // same recursive-CTE oracle family as q56/q72; the label join is
    // near-dup-sized (small relative to the corpus), the rest is one
    // aggregate.
    Q("q86_dedup_canonical", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val labels = DedupOps.connectedComponents(ScaleQ.dedupEdges(s, dir))
        .withColumnRenamed("node", "doc_id")
      docs.join(labels, Seq("doc_id"), "left")
        .select(coalesce(col("cluster"), col("doc_id")).as("doc_id"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_merged"))
        .orderBy("doc_id")
    }, oracle = ScaleQ.dedupLabSql + "\n" +
      """SELECT coalesce(lab.cluster, d.doc_id) AS doc_id,
        | count(*) AS n_merged
        |FROM documents d LEFT JOIN lab ON d.doc_id = lab.node
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // The composed training-corpus curation pipeline: quality gate
    // (composite score + min length) → exact dedup by content
    // fingerprint (first-wins by doc_id) → per-predicted-language corpus
    // stats. One scan computes every per-doc feature; the dedup is one
    // fp-keyed aggregate + an equi-join back (no window over the corpus);
    // the final rollup is partial-aggregated. Deterministic end-to-end,
    // so the whole multi-operator pipeline is oracle-checkable. Quality
    // rides in exact integer basis points (TextOps.qualityBp) so neither
    // the ≥0.30 gate nor the per-language average ever touches a rounded
    // double — the score, threshold and mean are integer-exact in every
    // engine at every SF.
    Q("q87_corpus_pipeline", (s, dir) => {
      // tokenize ONCE into a materialized column — every downstream
      // feature (length, quality, 25 language-marker counts) reads the
      // same array instead of re-splitting the text per expression
      val tk = col("toks")
      val d = t(s, dir, "documents")
        .withColumn("toks", TextOps.tokens(col("text")))
        .select(
          col("doc_id"),
          size(tk).cast("long").as("n_tokens"),
          TextOps.qualityBp(tk).as("quality_bp"),
          TextOps.langPredict(TextOps.langScores(tk)).as("pred_lang"),
          TextOps.docFingerprint(col("text")).as("fp"))
      val kept = d.filter(col("quality_bp") >= 3000 && col("n_tokens") >= 5)
      val firstPerFp = kept.groupBy("fp").agg(min(col("doc_id")).as("doc_id"))
      kept.join(firstPerFp, Seq("fp", "doc_id"))
        .groupBy("pred_lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          ldiv(sum(col("quality_bp")), count(lit(1))).as("avg_quality_bp"))
        .orderBy("pred_lang")
    }, oracle = {
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
         |   AS quality_bp
         | FROM feat),
         |lp AS (
         | SELECT *, ${TextQ.langPredSql} AS pred_lang FROM fq),
         |kept AS (
         | SELECT * FROM lp WHERE quality_bp >= 3000 AND n_tokens >= 5),
         |first AS (
         | SELECT fp, min(doc_id) AS doc_id FROM kept GROUP BY fp)
         |SELECT pred_lang, count(*) AS n_docs,
         | CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         | CAST(sum(quality_bp) // count(*) AS BIGINT) AS avg_quality_bp
         |FROM kept JOIN first USING (fp, doc_id)
         |GROUP BY pred_lang ORDER BY pred_lang""".stripMargin
    }),

    // One-pass numeric profiling of lineitem's measure columns — the
    // before-you-trust-it scan of any 100 TB onboarding. All 4 columns'
    // stats fold into ONE aggregate over ONE scan (exact distincts via
    // Expand; moments from exact decimal sums).
    Q("q88_profile", (s, dir) => {
      Profile.numericProfile(t(s, dir, "lineitem"),
          Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
        .orderBy("col_name")
    }, oracle = Seq("l_quantity", "l_extendedprice", "l_discount",
        "l_tax").map { c =>
      s"""SELECT '$c' AS col_name, count($c) AS n,
         | count(*) - count($c) AS n_null,
         | count(DISTINCT $c) AS n_distinct,
         | CAST(min($c) AS DOUBLE) AS min_val,
         | CAST(max($c) AS DOUBLE) AS max_val,
         | round(CAST(sum(CAST(CAST($c AS DOUBLE) AS DECIMAL(38,8))) AS DOUBLE)
         |   / count($c), 4) AS mean,
         | round((CAST(sum(CAST(CAST($c AS DOUBLE) * CAST($c AS DOUBLE)
         |     AS DECIMAL(38,8))) AS DOUBLE)
         |   - CAST(sum(CAST(CAST($c AS DOUBLE) AS DECIMAL(38,8))) AS DOUBLE)
         |     * CAST(sum(CAST(CAST($c AS DOUBLE) AS DECIMAL(38,8))) AS DOUBLE)
         |     / count($c)) / count($c), 4) AS variance
         |FROM lineitem""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")),

    // Z-score outlier detection per event_type: per-group moments from
    // exact decimal sums (one partial-aggregated pass), broadcast back as
    // scalar stats (group count = #event types, tiny), then a single
    // codegen'd filter pass emits |z| > 3. Groups with zero variance are
    // excluded (z undefined; NaN compares engine-specifically).
    Q("q89_anomaly_zscore", (s, dir) => {
      val dec = org.apache.spark.sql.types.DecimalType(38, 6)
      val e = t(s, dir, "events").filter(col("value").isNotNull)
        .select("event_id", "event_type", "value")
      val stats = e.groupBy("event_type").agg(
        count(lit(1)).cast("double").as("n"),
        sum(col("value").cast(dec)).cast("double").as("s"),
        sum((col("value") * col("value")).cast(dec)).cast("double")
          .as("ssq"))
      val z = (col("value") - col("s") / col("n")) /
        sqrt((col("ssq") - col("s") * col("s") / col("n")) / col("n"))
      e.join(broadcast(stats), "event_type")
        .filter(sqrt((col("ssq") - col("s") * col("s") / col("n")) /
          col("n")) > 0)
        .filter(abs(z) > 3)
        .select(col("event_id"), col("event_type"), col("value"),
          round(z, 4).as("z"))
        .orderBy("event_id")
    }, oracle =
      """WITH e AS (
        | SELECT event_id, event_type, value FROM events
        | WHERE value IS NOT NULL),
        |st AS (
        | SELECT event_type, CAST(count(*) AS DOUBLE) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS s,
        |  CAST(sum(CAST(value * value AS DECIMAL(38,6))) AS DOUBLE) AS ssq
        | FROM e GROUP BY event_type)
        |SELECT event_id, event_type, value,
        | round((value - s / n) / sqrt((ssq - s * s / n) / n), 4) AS z
        |FROM e JOIN st USING (event_type)
        |WHERE sqrt((ssq - s * s / n) / n) > 0
        |  AND abs((value - s / n) / sqrt((ssq - s * s / n) / n)) > 3
        |ORDER BY event_id""".stripMargin),
    // Sketch→verify heavy hitters: a Misra–Gries summary (k=50, O(k)
    // task state, O(k) shuffle) nominates candidate groups, then ONE
    // candidate-pruned pass re-counts them exactly and thresholds at 3%
    // of total. MG guarantees every group above n/51 ≈ 2% survives the
    // sketch, so the exact output is engine-independent even though the
    // sketch contents are merge-order-dependent — the same
    // sketch-candidates-then-exact-verify shape as the MinHash/SimHash
    // dedup paths. The group key derives a skewed distribution
    // (floor(sqrt(user_id)) — wider buckets at higher ids) from the
    // uniform user_id, standing in for the skewed keys real traffic has.
    Q("q91_heavy_hitters_sketched", (s, dir) => {
      val mg = udaf(new graft.functions.MisraGries(50),
        org.apache.spark.sql.Encoders.scalaLong)
      val e = t(s, dir, "events")
        .select(floor(sqrt(col("user_id"))).cast("long").as("grp"))
      val sk = e.agg(mg(col("grp")).as("sketch"),
        count(lit(1)).as("__total"))
      val cand = broadcast(sk.select(
        explode(map_keys(col("sketch"))).as("grp"), col("__total")))
      e.join(cand, "grp")
        .groupBy("grp", "__total").agg(count(lit(1)).as("n"))
        .filter(col("n") > col("__total") * 0.03)
        .select(col("grp"), col("n"))
        .orderBy("grp")
    }, oracle =
      """SELECT CAST(floor(sqrt(user_id)) AS BIGINT) AS grp, count(*) AS n
        |FROM events GROUP BY 1
        |HAVING count(*) > 0.03 * (SELECT count(*) FROM events)
        |ORDER BY grp""".stripMargin),

    // Leave-one-source-out ablation stats BY SUBTRACTION: what the rest
    // of the corpus looks like with each source removed (docs, tokens,
    // mean quality) — the data-mixing ablation report. The at-scale
    // trick is algebraic: ONE scan builds per-source partials, the
    // global totals broadcast back, and every ablation row is
    // total − source arithmetic — k ablations for the price of one
    // aggregate instead of k full scans. Means via integral DIV; the
    // single-source degenerate case (rest is empty) yields NULL, not
    // /0.
    Q("q193_ablation_stats", (s, dir) => {
      val tk = TextOps.tokens(col("text"))
      val per = t(s, dir, "documents")
        .select(col("source"), size(tk).cast("long").as("n_tok"),
          TextOps.qualityBp(tk).as("qbp"))
        .groupBy("source")
        .agg(count(lit(1)).as("docs"), sum(col("n_tok")).as("toks"),
          sum(col("qbp")).as("qsum"))
      val tot = per.agg(sum(col("docs")).as("tdocs"),
        sum(col("toks")).as("ttoks"), sum(col("qsum")).as("tqsum"))
      per.crossJoin(broadcast(tot))
        .select(col("source"),
          (col("tdocs") - col("docs")).as("rest_docs"),
          (col("ttoks") - col("toks")).as("rest_tokens"),
          when(col("tdocs") > col("docs"),
            ldiv(col("tqsum") - col("qsum"), col("tdocs") - col("docs")))
            .as("rest_mean_quality_bp"))
        .orderBy("source")
    }, oracle =
      """WITH f AS (
        | SELECT source,
        |  CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tok,
        |  CAST(len(list_filter(string_split(lower(text), ' '),
        |   x -> x IN ('the','a','an','of','to','and','in','is','on',
        |     'for'))) AS BIGINT) AS stop_hits
        | FROM documents),
        |q AS (
        | SELECT source, n_tok, CAST(CASE WHEN n_tok <= 100
        |   THEN (n_tok - stop_hits) * 100
        |   ELSE (n_tok - stop_hits) * 10000 // n_tok END AS BIGINT)
        |  AS qbp
        | FROM f),
        |p AS (
        | SELECT source, CAST(count(*) AS BIGINT) AS docs,
        |  CAST(sum(n_tok) AS BIGINT) AS toks,
        |  CAST(sum(qbp) AS BIGINT) AS qsum
        | FROM q GROUP BY source),
        |tt AS (
        | SELECT CAST(sum(docs) AS BIGINT) AS tdocs,
        |  CAST(sum(toks) AS BIGINT) AS ttoks,
        |  CAST(sum(qsum) AS BIGINT) AS tqsum FROM p)
        |SELECT source, tdocs - docs AS rest_docs,
        | ttoks - toks AS rest_tokens,
        | CASE WHEN tdocs > docs
        |   THEN (tqsum - qsum) // (tdocs - docs) END
        |  AS rest_mean_quality_bp
        |FROM p, tt ORDER BY source""".stripMargin),

    // fasttext-style hashed linear classifier — the model-based quality
    // gate every published LLM data pipeline runs after the rule-based
    // one (CCNet's fasttext LM filter, RedPajama's classifier). Tokens
    // hash into 4096 buckets (first 3 md5 nibbles — the feature-hashing
    // trick, so the weight table is fixed-size however large the vocab),
    // each bucket carries a weight, the doc score is the weight sum,
    // keep = positive mean. Weights here derive deterministically from
    // the bucket index so the oracle can recompute them; a production
    // run swaps in trained weights as a broadcast 4096-float array
    // behind the same plan. Pure built-in column ops (md5/conv inside
    // transform/aggregate) — codegen'd, one scan, no shuffle: at 100 TB
    // the gate fuses into whatever scan feeds it.
    Q("q288_quality_classifier", (s, dir) => {
      val toksC = TextOps.tokens(col("text"))
      val buckets = transform(toksC,
        w => conv(substring(md5(w), 1, 3), 16, 10).cast("long"))
      t(s, dir, "documents")
        .select(col("doc_id"), buckets.as("bks"))
        .select(col("doc_id"),
          size(col("bks")).cast("long").as("n_tokens"),
          aggregate(col("bks"), lit(0L),
            (acc, b) => acc + (b % 61 - 30)).as("score_sum"))
        .withColumn("keep", col("score_sum") > 0)
        .orderBy("doc_id")
    }, oracle =
      // bucket = big-endian value of md5's first 3 hex nibbles (= Spark's
      // conv(substr(md5,1,3),16,10)); weight = bucket % 61 - 30
      """WITH t AS (
        | SELECT doc_id, string_split(lower(text), ' ') AS toks
        | FROM documents),
        |b AS (
        | SELECT doc_id,
        |  list_transform(toks, w ->
        |   (instr('0123456789abcdef', substr(md5(w), 1, 1)) - 1) * 256
        |   + (instr('0123456789abcdef', substr(md5(w), 2, 1)) - 1) * 16
        |   + (instr('0123456789abcdef', substr(md5(w), 3, 1)) - 1)) AS bks
        | FROM t)
        |SELECT doc_id,
        | CAST(len(bks) AS BIGINT) AS n_tokens,
        | CAST(list_sum(list_transform(bks, x -> x % 61 - 30))
        |   AS BIGINT) AS score_sum,
        | list_sum(list_transform(bks, x -> x % 61 - 30)) > 0 AS keep
        |FROM b ORDER BY doc_id""".stripMargin),
  )
}
