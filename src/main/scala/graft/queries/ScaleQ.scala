package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables._
import graft.ops.{DedupOps, OrderStats, Partitioning, PrefixSum, RangeJoin,
  TextOps}

/** Scale-shaped operators round 2: distributed prefix sum, dedup
  * clustering (connected components), PII redaction, unpivot, date-spine
  * gap filling, n-gram counting, and a bucketized range join. Every query
  * is the at-scale plan shape (no single-partition stage, no nested-loop
  * range predicates) verified against an exact DuckDB oracle. */
object ScaleQ {

  private val hourUs = 3600L * 1000000L

  /** q56 and q72 run two different clustering algorithms over the SAME
    * exact-Jaccard edge set; computing it twice doubled their combined
    * bench cost for no information. One localCheckpoint per (session,
    * dataset): the first caller materializes the edges (posting join +
    * verification — the expensive part), the second reads the
    * checkpointed partitions. Tiny result (near-dup pairs), so the
    * executor-local storage cost is negligible. Entries for stopped
    * sessions are evicted on access; within a live session the cache
    * assumes the parquet under `dir` is immutable for the session's
    * lifetime (true for the bench/verify drivers). */
  private val sharedEdges =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  // every cross-query cache registers with the central registry so
  // Bench's phase transition can't silently miss (or corrupt) one
  graft.SessionCaches.register(() => sharedEdges.clear())

  private[queries] def dedupEdges(s: SparkSession, dir: String): DataFrame = {
    sharedEdges.keysIterator
      .filter(_._1.sparkContext.isStopped)
      .foreach(sharedEdges.remove)
    sharedEdges.getOrElseUpdate((s, dir), {
      val d = t(s, dir, "documents").select(col("doc_id"),
        graft.functions.ShinglesExpr.shingles(toks(col("text")), 3)
          .as("shs"))
      DedupOps.jaccardPairs(d, "doc_id", "shs", 0.5).localCheckpoint()
    })
  }

  lazy val all: Seq[Q] = Seq(
    // Global running total via the two-phase distributed prefix sum —
    // the scalable answer to what a Window.orderBy(key) running sum does
    // on one partition. Output sampled post-computation to stay small.
    Q("q55_running_total_global", (s, dir) => {
      val o = t(s, dir, "orders").select("o_orderkey", "o_totalprice")
      PrefixSum.runningTotal(o, "o_orderkey", col("o_totalprice"),
          "running_rev", buckets = 32)
        .filter(pmod(col("o_orderkey"), lit(100)) === 1)
        .select("o_orderkey", "running_rev")
        .orderBy("o_orderkey")
    }, oracle =
      """SELECT o_orderkey, running_rev FROM (
        | SELECT o_orderkey,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(30,2)))
        |    OVER (ORDER BY o_orderkey ROWS UNBOUNDED PRECEDING)
        |    AS DOUBLE) AS running_rev
        | FROM orders)
        |WHERE o_orderkey % 100 = 1 ORDER BY o_orderkey""".stripMargin),

    // Near-duplicate CLUSTERS (not just pairs): exact shingle-Jaccard
    // edges, then connected components by min-label propagation. The
    // cluster id is the component's min doc_id — deterministic, so the
    // whole pipeline is oracle-checkable (recursive CTE on the DuckDB
    // side).
    Q("q56_dedup_clusters", (s, dir) => {
      DedupOps.connectedComponents(dedupEdges(s, dir))
        .groupBy("cluster")
        .agg(count(lit(1)).as("n_docs"),
          array_join(transform(array_sort(collect_list(col("node"))),
            _.cast("string")), ",").as("members"))
        .orderBy("cluster")
    }, oracle = dedupClustersOracle),

    // Same clustering, different algorithm: large-star/small-star
    // contraction (log rounds — the long-chain-safe variant) over the
    // same exact edge set, checked against the SAME recursive-CTE oracle
    // as q56. Two independent distributed algorithms hash-matching one
    // sequential reference is the strongest correctness evidence the
    // gate can give.
    Q("q72_dedup_clusters_star", (s, dir) => {
      DedupOps.connectedComponentsStar(dedupEdges(s, dir))
        .groupBy("cluster")
        .agg(count(lit(1)).as("n_docs"),
          array_join(transform(array_sort(collect_list(col("node"))),
            _.cast("string")), ",").as("members"))
        .orderBy("cluster")
    }, oracle =
      // two distributed algorithms, one sequential reference:
      dedupClustersOracle),

    // PII redaction (training-data hygiene): deterministic synthetic
    // contact strings are injected per doc_id, then counted and redacted.
    // The md5 of the redacted text proves byte-identical redaction.
    Q("q57_pii_redact", (s, dir) => {
      val email = when(pmod(col("doc_id"), lit(3)) === 0,
        concat(lit(" mail u"), col("doc_id").cast("string"),
          lit("@example.com"))).otherwise(lit(""))
      val phone = when(pmod(col("doc_id"), lit(2)) === 0,
        concat(lit(" call (615) 555-"),
          lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")))
        .otherwise(lit(""))
      val doc = concat(col("text"), email, phone)
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextOps.piiCount(doc, TextOps.emailRe).as("n_emails"),
          TextOps.piiCount(doc, TextOps.phoneRe).as("n_phones"),
          md5(TextOps.redactPii(doc).cast("binary")).as("redacted_md5"))
        .orderBy("doc_id")
    }, oracle = {
      val em = TextOps.emailRe
      val ph = TextOps.phoneRe
      s"""WITH d AS (
         | SELECT doc_id, text ||
         |  CASE WHEN doc_id % 3 = 0
         |   THEN ' mail u' || CAST(doc_id AS VARCHAR) || '@example.com'
         |   ELSE '' END ||
         |  CASE WHEN doc_id % 2 = 0
         |   THEN ' call (615) 555-' ||
         |     lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         |   ELSE '' END AS doc
         | FROM documents)
         |SELECT doc_id,
         | CAST(len(regexp_extract_all(doc, '$em', 0)) AS BIGINT) AS n_emails,
         | CAST(len(regexp_extract_all(doc, '$ph', 0)) AS BIGINT) AS n_phones,
         | md5(regexp_replace(regexp_replace(doc, '$em', '[EMAIL]', 'g'),
         |   '$ph', '[PHONE]', 'g')) AS redacted_md5
         |FROM d ORDER BY doc_id""".stripMargin
    }),

    // Unpivot (wide → long): lineitem measures melted to (metric, val)
    // rows, then per-metric exact aggregates. Map-side explode, one
    // shuffle on the 3-value metric key.
    Q("q58_unpivot", (s, dir) => {
      t(s, dir, "lineitem")
        .unpivot(Array(col("l_orderkey")),
          Array(col("l_quantity"), col("l_discount"), col("l_tax")),
          "metric", "val")
        .groupBy("metric")
        .agg(count(lit(1)).as("n"), dsum(col("val"), 6).as("sum_val"))
        .orderBy("metric")
    }, oracle =
      """SELECT metric, count(*) AS n,
        | CAST(sum(CAST(val AS DECIMAL(30,6))) AS DOUBLE) AS sum_val
        |FROM (
        | SELECT 'l_quantity' AS metric, l_quantity AS val FROM lineitem
        | UNION ALL SELECT 'l_discount', l_discount FROM lineitem
        | UNION ALL SELECT 'l_tax', l_tax FROM lineitem)
        |GROUP BY metric ORDER BY metric""".stripMargin),

    // Date-spine gap filling: generate the full day range (two-row scalar
    // agg → sequence; the spine is tiny by construction), left-join daily
    // aggregates, zero-fill missing days — the time-series densification
    // every training pipeline needs.
    Q("q59_date_spine", (s, dir) => {
      val o = t(s, dir, "orders")
        .select(to_date(col("o_orderdate")).as("d"), col("o_totalprice"))
      val spine = o.agg(min(col("d")).as("lo"), max(col("d")).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"))).as("d"))
      val daily = o.groupBy("d")
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice"), 2).as("rev"))
      spine.join(daily, Seq("d"), "left")
        .select(col("d"), coalesce(col("n"), lit(0L)).as("n"),
          coalesce(col("rev"), lit(0.0)).as("rev"))
        .orderBy("d")
    }, oracle =
      """WITH spine AS (
        | SELECT CAST(unnest(generate_series(
        |   (SELECT min(CAST(o_orderdate AS DATE)) FROM orders),
        |   (SELECT max(CAST(o_orderdate AS DATE)) FROM orders),
        |   INTERVAL 1 DAY)) AS DATE) AS d),
        |daily AS (
        | SELECT CAST(o_orderdate AS DATE) AS d, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS rev
        | FROM orders GROUP BY 1)
        |SELECT spine.d, coalesce(daily.n, 0) AS n,
        | coalesce(daily.rev, 0.0) AS rev
        |FROM spine LEFT JOIN daily ON spine.d = daily.d
        |ORDER BY spine.d""".stripMargin),

    // Bigram frequency (n-gram with multiplicity, unlike the distinct
    // shingles of the dedup path): corpus-wide top-25.
    Q("q60_bigram_counts", (s, dir) => {
      val d = Partitioning.ensureParallel(
        t(s, dir, "documents").select("text"))
      d.select(explode(graft.functions.ShinglesExpr
          .ngrams(toks(col("text")), 2)).as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), asc("bigram")).limit(25)
    }, oracle =
      """WITH s AS (
        | SELECT string_split(lower(text), ' ') AS toks FROM documents),
        |b AS (
        | SELECT unnest(list_transform(range(1, len(toks)),
        |   i -> toks[i] || ' ' || toks[i+1])) AS bigram
        | FROM s)
        |SELECT bigram, count(*) AS n FROM b
        |GROUP BY bigram ORDER BY n DESC, bigram LIMIT 25""".stripMargin),

    // Stratified deterministic sampling: exactly 20 docs per source,
    // chosen by content-hash order (reproducible train subsets, no
    // rand()). One partitioned window — parallel across strata.
    Q("q62_stratified_sample", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"))
        .orderBy(md5(col("doc_id").cast("string").cast("binary")),
          col("doc_id"))
      t(s, dir, "documents")
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 20)
        .select("source", "doc_id", "rn")
        .orderBy("source", "rn")
    }, oracle =
      """SELECT source, doc_id, CAST(rn AS BIGINT) AS rn FROM (
        | SELECT source, doc_id,
        |  row_number() OVER (PARTITION BY source
        |   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        | FROM documents) x
        |WHERE rn <= 20 ORDER BY source, rn""".stripMargin),

    // TF-IDF relevance (upgrade of the tf-only dashboard rank q11): per-
    // term document frequencies come from one corpus aggregate broadcast
    // to the scoring scan — no per-term join, one pass over the docs.
    Q("q63_tfidf_rank", (s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), toks(col("text")).as("tk"))
      val terms = Seq("spark", "join")
      val stats = d.agg(count(lit(1)).as("n"),
        terms.map(tm => sum(when(array_contains(col("tk"), tm), 1L)
          .otherwise(0L)).as(s"df_$tm")): _*)
      val score = terms.map { tm =>
        TextOps.countIn(col("tk"), Seq(tm)).cast("double") *
          log((col("n") + lit(1.0)) / (col(s"df_$tm") + lit(1.0)))
      }.reduce(_ + _)
      d.crossJoin(broadcast(stats))
        .filter(terms.map(tm => array_contains(col("tk"), tm)).reduce(_ && _))
        .select(col("doc_id"), round(score, 4).as("tfidf"))
        .orderBy(desc("tfidf"), asc("doc_id")).limit(25)
    }, oracle =
      """WITH d AS (
        | SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
        |st AS (
        | SELECT count(*) AS n,
        |  sum(CASE WHEN list_contains(tk, 'spark') THEN 1 ELSE 0 END) AS df_spark,
        |  sum(CASE WHEN list_contains(tk, 'join') THEN 1 ELSE 0 END) AS df_join
        | FROM d)
        |SELECT doc_id, round(
        |  len(list_filter(tk, x -> x = 'spark')) * ln((n + 1.0) / (df_spark + 1.0)) +
        |  len(list_filter(tk, x -> x = 'join')) * ln((n + 1.0) / (df_join + 1.0)),
        |  4) AS tfidf
        |FROM d, st
        |WHERE list_contains(tk, 'spark') AND list_contains(tk, 'join')
        |ORDER BY tfidf DESC, doc_id LIMIT 25""".stripMargin),

    // Explicit left-anti join: customers with no large order, rolled up
    // per segment (the complement of the q27 semi join).
    Q("q64_anti_join", (s, dir) => {
      val c = t(s, dir, "customer")
      val big = t(s, dir, "orders").filter(col("o_totalprice") > 400000.0)
        .select(col("o_custkey").as("c_custkey"))
      c.join(big, Seq("c_custkey"), "left_anti")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
        .orderBy("c_mktsegment")
    }, oracle =
      """SELECT c_mktsegment, count(*) AS n FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),

    // Document chunking for training: 20-token windows at stride 10
    // (overlapping), each chunk fingerprinted. Pure per-row explode —
    // embarrassingly parallel, no shuffle before the output sort.
    Q("q66_doc_chunks", (s, dir) => {
      val tk = toks(col("text"))
      t(s, dir, "documents")
        .select(col("doc_id"), tk.as("tk"))
        .select(col("doc_id"),
          explode(sequence(lit(1), size(col("tk")), lit(10))).as("start"),
          col("tk"))
        .select(col("doc_id"), col("start").cast("long").as("start"),
          size(slice(col("tk"), col("start"), lit(20))).cast("long")
            .as("n_chunk_tokens"),
          md5(concat_ws(" ", slice(col("tk"), col("start"), lit(20)))
            .cast("binary")).as("chunk_md5"))
        .orderBy("doc_id", "start")
    }, oracle =
      """WITH d AS (
        | SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
        |st AS (
        | SELECT doc_id, tk, unnest(range(1, len(tk) + 1, 10)) AS start
        | FROM d)
        |SELECT doc_id, CAST(start AS BIGINT) AS start,
        | CAST(len(tk[start:least(start + 19, len(tk))]) AS BIGINT)
        |   AS n_chunk_tokens,
        | md5(array_to_string(tk[start:least(start + 19, len(tk))], ' '))
        |   AS chunk_md5
        |FROM st ORDER BY doc_id, start""".stripMargin),

    // Token packing: assign docs (in id order) to fixed-budget training
    // bins by the tokens-before-this-doc prefix sum — the deterministic,
    // shuffle-light approximation of sequential batch packing, built on
    // the distributed PrefixSum (no single-partition window).
    Q("q67_token_packing", (s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), size(toks(col("text"))).as("n_tokens"))
      graft.ops.PrefixSum
        .runningTotal(d, "doc_id", col("n_tokens"), "cum", buckets = 32)
        .withColumn("bin",
          floor((col("cum") - col("n_tokens")) / 4096).cast("long"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).cast("long").as("sum_tokens"))
        .orderBy("bin")
    }, oracle =
      """WITH d AS (
        | SELECT doc_id, len(string_split(lower(text), ' ')) AS n
        | FROM documents),
        |r AS (
        | SELECT doc_id, n,
        |  sum(n) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
        | FROM d)
        |SELECT CAST(floor((cum - n) / 4096) AS BIGINT) AS bin,
        | count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS sum_tokens
        |FROM r GROUP BY 1 ORDER BY bin""".stripMargin),

    // Corpus-adaptive stopword discovery: tokens present in > half of
    // all documents. One distinct-explode + term-keyed aggregation; the
    // doc total broadcasts from a scalar aggregate. Feeds quality
    // scoring / index pruning without a hand-curated list.
    Q("q73_adaptive_stopwords", (s, dir) => {
      val d = Partitioning.ensureParallel(
        t(s, dir, "documents")
          .select(col("doc_id"), toks(col("text")).as("tk")))
      val total = d.agg(count(lit(1)).as("n_docs"))
      d.select(explode(array_distinct(col("tk"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("df"))
        .crossJoin(broadcast(total))
        .filter(col("df") > col("n_docs") * 0.5)
        .select(col("tok"), col("df"),
          round(col("df").cast("double") / col("n_docs"), 4)
            .as("doc_ratio"))
        .orderBy(desc("df"), asc("tok"))
    }, oracle =
      """WITH d AS (
        | SELECT doc_id, list_distinct(string_split(lower(text), ' ')) AS tk
        | FROM documents),
        |tot AS (SELECT count(*) AS n_docs FROM d),
        |dfs AS (
        | SELECT tok, count(*) AS df
        | FROM (SELECT doc_id, unnest(tk) AS tok FROM d)
        | GROUP BY tok)
        |SELECT tok, df,
        | round(CAST(df AS DOUBLE) / n_docs, 4) AS doc_ratio
        |FROM dfs, tot WHERE df > n_docs * 0.5
        |ORDER BY df DESC, tok""".stripMargin),

    // Weight-proportional deterministic sampling: each doc is kept with
    // probability ∝ its length, decided by comparing a content-hash
    // pseudo-uniform against the scaled weight — no RNG, reproducible
    // across engines and runs (the Bernoulli form of weighted sampling;
    // an Efraimidis-Spirakis reservoir would rank by u^(1/w) instead).
    // The uniform comes from the first 8 md5 hex chars, so only
    // +-*/ and comparisons are involved — no pow/ln ulp hazards.
    Q("q71_weighted_sample", (s, dir) => {
      val u = conv(substring(md5(col("doc_id").cast("string")
        .cast("binary")), 1, 8), 16, 10).cast("double") / lit(4294967296.0)
      val d = t(s, dir, "documents")
      val maxChars = d.agg(max(col("n_chars")).as("mx"))
      d.crossJoin(broadcast(maxChars))
        .filter(u < col("n_chars").cast("double") / col("mx") * 0.2)
        .groupBy("source")
        .agg(count(lit(1)).as("n_sampled"),
          sum(col("n_chars")).as("sum_chars"))
        .orderBy("source")
    }, oracle =
      """WITH mx AS (SELECT max(n_chars) AS mx FROM documents)
        |SELECT source, count(*) AS n_sampled,
        | CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents, mx
        |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
        |    AS UBIGINT) / 4294967296.0
        |  < CAST(n_chars AS DOUBLE) / mx * 0.2
        |GROUP BY source ORDER BY source""".stripMargin),

    // TEMPERATURE-SCALED CORPUS MIXING (the Pile / GPT-3 / LLaMA
    // domain-rebalancing device): sampling weight per source ∝
    // share^(1/T) with T=2 — i.e. ∝ √n_s — flattens the domain
    // distribution so small high-quality sources punch above their
    // raw share. Everything is deterministic and engine-exact: the
    // integer weight is ⌊√n·1000⌋, the acceptance threshold is a
    // 16-bit integer cutoff (65536·B·sw) DIV (S·n) with B = half the
    // corpus (BIGINT products — a true 100 TB run widens to DECIMAL),
    // and the per-doc coin is the first 4 md5 hex chars of
    // "mix:"+doc_id (the q71 seedless-uniform device) compared as an
    // integer. Source stats are a 20-row broadcast; the corpus is
    // scanned twice (narrow stats pass + filter pass), never shuffled
    // except the final per-source rollup.
    Q("q309_corpus_mixing", (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("source"))
      val stats = d.groupBy("source").agg(count(lit(1)).as("n_docs"))
        .withColumn("sw", floor(sqrt(col("n_docs")) * 1000).cast("long"))
      val tot = stats.agg(sum(col("sw")).as("sws"),
        floor(sum(col("n_docs")) / 2).cast("long").as("budget"))
      val rates = stats.crossJoin(broadcast(tot))
        .withColumn("cutoff", // exact integer division (DuckDB `//`)
          ldiv(lit(65536L) * col("budget") * col("sw"),
            col("sws") * col("n_docs")))
        .select("source", "n_docs", "sw", "cutoff")
      val u16 = conv(substring(md5(concat(lit("mix:"),
        col("doc_id").cast("string")).cast("binary")), 1, 4), 16, 10)
        .cast("long")
      d.join(broadcast(rates), "source")
        .withColumn("acc", when(u16 < col("cutoff"), 1L).otherwise(0L))
        .groupBy("source")
        .agg(max(col("n_docs")).as("n_docs"), max(col("sw")).as("sw"),
          max(col("cutoff")).as("cutoff"),
          sum(col("acc")).as("n_sampled"),
          sum(col("acc") * col("doc_id")).as("sample_checksum"))
        .orderBy("source")
    }, oracle =
      // the same √n temperature weights, 16-bit integer cutoff, and
      // md5("mix:"+id) coin replayed end-to-end
      """WITH c AS (
        | SELECT source, count(*) AS n,
        |  CAST(floor(sqrt(count(*)) * 1000) AS BIGINT) AS sw
        | FROM documents GROUP BY source),
        |tt AS (
        | SELECT CAST(sum(sw) AS BIGINT) AS sws,
        |  CAST(sum(n) // 2 AS BIGINT) AS budget FROM c),
        |r AS (
        | SELECT source, n, sw,
        |  (65536 * budget * sw) // (sws * n) AS cutoff
        | FROM c, tt),
        |a AS (
        | SELECT d.doc_id, d.source, r.n, r.sw, r.cutoff,
        |  CASE WHEN CAST(CAST(('0x' || substr(md5('mix:' ||
        |      CAST(d.doc_id AS VARCHAR)), 1, 4)) AS UBIGINT) AS BIGINT)
        |    < r.cutoff THEN 1 ELSE 0 END AS acc
        | FROM documents d JOIN r ON r.source = d.source)
        |SELECT source, CAST(max(n) AS BIGINT) AS n_docs,
        | CAST(max(sw) AS BIGINT) AS sw,
        | CAST(max(cutoff) AS BIGINT) AS cutoff,
        | CAST(sum(acc) AS BIGINT) AS n_sampled,
        | CAST(sum(acc * doc_id) AS BIGINT) AS sample_checksum
        |FROM a GROUP BY source ORDER BY source""".stripMargin),

    // TPC-H Q5 shape: 6-way join (fact + 2 mid tables + 3 dims) with the
    // region filter pushed to the smallest dim and local-supplier
    // correlation (c_nationkey = s_nationkey). Catalyst broadcasts the
    // dims; the fact table shuffles once per mid join under AQE.
    Q("q69_regional_revenue", (s, dir) => {
      import org.apache.spark.sql.types.DecimalType
      val c = t(s, dir, "customer").select("c_custkey", "c_nationkey")
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .select("o_orderkey", "o_custkey")
      val l = t(s, dir, "lineitem").select(col("l_orderkey"),
        col("l_suppkey"),
        (col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast(DecimalType(30, 6)).as("rev"))
      val sup = t(s, dir, "supplier").select("s_suppkey", "s_nationkey")
      val n = t(s, dir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
      val r = t(s, dir, "region").filter(col("r_name") === "ASIA")
        .select("r_regionkey")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(n, col("s_nationkey") === col("n_nationkey"))
        .join(r, col("n_regionkey") === col("r_regionkey"))
        .groupBy("n_name")
        .agg(sum(col("rev")).cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(desc("revenue"), asc("n_name"))
    }, oracle =
      """SELECT n_name,
        | CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6)))
        |   AS DOUBLE) AS revenue,
        | count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |  AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin),

    // Gap sessionization via the built-in session_window (the engine-
    // native twin of the lag+cumsum q29): end = last event + gap, and a
    // touching event (diff == gap exactly) MERGES — session_window starts
    // a new session only when the gap is strictly exceeded. (Found the
    // hard way: sf0.1 has one exact-1800s gap, so a >= oracle was one
    // session off.)
    Q("q70_session_window", (s, dir) => {
      t(s, dir, "events")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"),
          dsum(col("value"), 2).as("sum_value"))
        .select(col("user_id"),
          col("session_window.start").as("s_start"),
          col("session_window.end").as("s_end"),
          col("n_events"), col("sum_value"))
        .orderBy("user_id", "s_start")
    }, oracle =
      """WITH flagged AS (
        | SELECT user_id, ts, value, event_id,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |    OR date_diff('microsecond', lag(ts) OVER w, ts) > 1800000000
        |   THEN 1 ELSE 0 END AS new_s
        | FROM events
        | WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        | SELECT user_id, ts, value,
        |  sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS session_no
        | FROM flagged)
        |SELECT user_id, min(ts) AS s_start,
        | max(ts) + INTERVAL 30 MINUTE AS s_end,
        | count(*) AS n_events,
        | CAST(sum(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS sum_value
        |FROM sess GROUP BY user_id, session_no
        |ORDER BY user_id, s_start""".stripMargin),

    // Winnowing fingerprint near-dups: docs sharing ≥ 5 selected k-gram
    // hashes, via the same inverted-index join shape as q16 but over
    // the ~2/(w+1)-sampled fingerprint set — smaller postings for the
    // same guarantee. ORACLE-EXACT as of r11: the fingerprint family is
    // md5 of the space-joined gram (lowercase-hex min ≡ 128-bit min, so
    // DuckDB replays window selection exactly); the winnowing
    // guarantee itself is PropertySpec-pinned.
    Q("q68_winnow_dups", (s, dir) => {
      val d = docText(s, dir)
        .select(col("doc_id").as("id"),
          graft.functions.WinnowMd5Expr.winnowMd5(toks(col("text")), 3, 4)
            .as("fps"))
      val posts = d.select(col("id"), explode(col("fps")).as("fp"))
      posts.as("x").join(posts.as("y"),
          col("x.fp") === col("y.fp") && col("x.id") < col("y.id"))
        .select(col("x.id").as("a_id"), col("y.id").as("b_id"))
        .groupBy("a_id", "b_id").agg(count(lit(1)).as("shared"))
        .filter(col("shared") >= 5)
        .orderBy("a_id", "b_id")
    }, oracle =
      // md5 winnowing replay (r11): grams are 1-based list slices; window
      // ws (1-based, maxWs = greatest(ngrams-3, 1)) covers grams
      // [ws, ws+3] clipped — gram j therefore joins windows
      // [greatest(1, j-3), least(j, maxWs)]; each window's selection is
      // min fp with RIGHTMOST tie (ORDER BY fp ASC, j DESC), matching
      // WinnowMd5Expr's <= scan; lowercase-hex md5 compares identically
      // in both engines
      """WITH s AS (
        | SELECT doc_id, string_split(lower(text), ' ') AS toks
        | FROM documents),
        |g AS (
        | SELECT doc_id, i AS j, len(toks) - 2 AS ngrams,
        |  md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS fp
        | FROM (SELECT doc_id, toks,
        |   unnest(range(1, len(toks) - 1)) AS i FROM s)),
        |w AS (
        | SELECT doc_id, ws, j, fp
        | FROM (SELECT doc_id, j, fp,
        |   unnest(range(greatest(1, j - 3),
        |     least(j, greatest(ngrams - 3, 1)) + 1)) AS ws
        |  FROM g)),
        |sel AS (
        | SELECT DISTINCT doc_id, fp FROM (
        |  SELECT doc_id, ws, j, fp, row_number() OVER (
        |    PARTITION BY doc_id, ws ORDER BY fp ASC, j DESC) AS rn
        |  FROM w) WHERE rn = 1)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        | CAST(count(*) AS BIGINT) AS shared
        |FROM sel a JOIN sel b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY a.doc_id, b.doc_id
        |HAVING count(*) >= 5
        |ORDER BY a_id, b_id""".stripMargin),

    // Boundary picks per group: first/last/nth order key in date order —
    // the full-frame window functions (first_value needs no frame, but
    // last_value/nth_value are correct only with an explicit unbounded
    // frame; the default frame silently returns the current row).
    Q("q65_first_last", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_orderstatus"))
        .orderBy(asc("o_orderdate"), asc("o_orderkey"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)
      t(s, dir, "orders")
        .select(col("o_orderstatus"),
          first(col("o_orderkey")).over(w).as("first_key"),
          last(col("o_orderkey")).over(w).as("last_key"),
          nth_value(col("o_orderkey"), 3).over(w).as("third_key"))
        .distinct()
        .orderBy("o_orderstatus")
    }, oracle =
      """SELECT DISTINCT o_orderstatus,
        | first_value(o_orderkey) OVER w AS first_key,
        | last_value(o_orderkey) OVER w AS last_key,
        | nth_value(o_orderkey, 3) OVER w AS third_key
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderstatus
        |  ORDER BY o_orderdate, o_orderkey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_orderstatus""".stripMargin),

    // Range join done scalably: clicks inside each purchase's 2-hour
    // window via interval bucketing — an equi-join on the bucket id with
    // an exact refine, not a nested-loop inequality join.
    Q("q61_range_join", (s, dir) => {
      val e = t(s, dir, "events")
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"),
          unix_micros(col("ts")).as("start_us"))
        .withColumn("end_us", col("start_us") + lit(2 * hourUs))
      val clicks = e.filter(col("event_type") === "click")
        .select(col("event_id").as("c_id"), unix_micros(col("ts")).as("c_us"))
      RangeJoin.pointInInterval(clicks, "c_us", purchases,
          "start_us", "end_us", bucketWidthUs = 2 * hourUs)
        .groupBy("p_id").agg(count(lit(1)).as("n_clicks"))
        .orderBy(desc("n_clicks"), asc("p_id")).limit(25)
        .select(col("p_id").as("event_id"), col("n_clicks"))
    }, oracle =
      """SELECT p.event_id, count(*) AS n_clicks
        |FROM (SELECT event_id, ts FROM events WHERE event_type = 'purchase') p
        |JOIN (SELECT event_id, ts FROM events WHERE event_type = 'click') c
        | ON c.ts >= p.ts AND c.ts < p.ts + INTERVAL 2 HOUR
        |GROUP BY p.event_id
        |ORDER BY n_clicks DESC, p.event_id LIMIT 25""".stripMargin),

    // Exact GLOBAL k-th order statistic (lower median) by distributed
    // selection — the scalable replacement for a global sort or a
    // single-partition rank window. Pass 1: value-bucket histogram (one
    // small aggregate); pass 2: a histogram-sized cumulative locates the
    // bucket holding rank k and the local rank within it; pass 3: count
    // ONLY that bucket's rows per distinct value and take the least
    // value whose running count reaches the local rank (a bounded sort
    // over n/buckets rows, never the table; `OrderStats.kth`). Same
    // family as the q55 prefix sum; values in integer cents so the
    // selected element is bit-exact. At 100 TB the bucket width is the
    // knob: pick it from min/max so each bucket fits an executor (a
    // second histogram pass refines if a bucket is still too fat).
    Q("q159_global_median", (s, dir) => {
      // cents per bucket: $1k bands over [$900, $105k], so the selected
      // bucket holds ~1% of the rows
      val W = 100000L
      val v = t(s, dir, "lineitem")
        .select((col("l_extendedprice").cast(DecimalType(20, 2)) * 100)
          .cast("long").as("cents"))
      OrderStats.kth(v, Nil, "cents", ldiv(col("cents"), lit(W)),
          Seq(("median_cents", 1L, 2L)))
        .select(col("n"), col("median_cents_k").as("k"), col("median_cents"))
    }, oracle =
      """WITH v AS (
        | SELECT CAST(CAST(l_extendedprice AS DECIMAL(20,2)) * 100
        |   AS BIGINT) AS cents
        | FROM lineitem),
        |nn AS (
        | SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST((count(*) + 1) // 2 AS BIGINT) AS k FROM v),
        |r AS (
        | SELECT cents, row_number() OVER (ORDER BY cents) AS rn FROM v)
        |SELECT nn.n, nn.k, r.cents AS median_cents
        |FROM r, nn WHERE r.rn = nn.k""".stripMargin),

    // Exact WEIGHTED median by distributed selection — q159's histogram
    // selection generalized to per-row weights (quantity-weighted price:
    // "the price point where half the shipped units sit below"), the
    // shape importance-weighted corpus statistics need. Same scale
    // story: bucket histogram of WEIGHT SUMS → histogram-sized
    // cumulative locates the rank-K bucket → only that bucket's rows
    // are touched again, collapsed per distinct value before the
    // bucket-sized cumulative window; no global sort anywhere. K =
    // (Σw+1) DIV 2 (lower weighted median), everything exact integers.
    Q("q224_weighted_median", (s, dir) => {
      val W = 1000000L // cents per bucket: $10k bands over [$900, $105k]
      val v = t(s, dir, "lineitem")
        .select((col("l_extendedprice").cast(DecimalType(20, 2)) * 100)
          .cast("long").as("cents"),
          col("l_quantity").cast("long").as("w"))
      OrderStats.kth(v, Nil, "cents", ldiv(col("cents"), lit(W)),
          Seq(("weighted_median_cents", 1L, 2L)), weight = col("w"))
        .select(col("n").as("total_w"), col("weighted_median_cents_k").as("k"),
          col("weighted_median_cents"))
    }, oracle =
      """WITH v AS (
        | SELECT CAST(CAST(l_extendedprice AS DECIMAL(20,2)) * 100
        |   AS BIGINT) AS cents,
        |  CAST(l_quantity AS BIGINT) AS w
        | FROM lineitem),
        |nk AS (
        | SELECT CAST(sum(w) AS BIGINT) AS total_w,
        |  (CAST(sum(w) AS BIGINT) + 1) // 2 AS k
        | FROM v),
        |c AS (SELECT cents, CAST(sum(w) AS BIGINT) AS cw
        |  FROM v GROUP BY cents),
        |cm AS (
        | SELECT cents, sum(cw) OVER (ORDER BY cents
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        | FROM c)
        |SELECT nk.total_w, nk.k,
        | (SELECT min(cents) FROM cm WHERE cm.cum >= (SELECT k FROM nk))
        |  AS weighted_median_cents
        |FROM nk""".stripMargin),

    // Pareto skyline (maximize price, maximize recency; Börzsönyi et
    // al. ICDE'01): orders no other order strictly beats on BOTH
    // dimensions — the multi-criteria "best offers" operator. Strict
    // dominance is a range window: dominated iff max(date) over rows
    // with price' > price exceeds date (integer-cents RANGE frame with
    // offset 1 ⇒ strictly-higher prices). DISTRIBUTED SHAPE: a
    // bucket-local skyline pass prunes first — the local non-dominated
    // set provably contains the global skyline (a global dominator in
    // the same bucket also dominates locally) — so the global window
    // runs over the tiny candidate set, not the fact table; the oracle
    // computes the same set in one global pass (the phases are
    // result-equivalent by construction).
    // Dominance check is an O(n) ROWS-frame running max over rows
    // COLLAPSED to one per price (a shrinking RANGE frame recomputes
    // its aggregate per row — O(n²) per bucket, 2.7 s of one-task CPU
    // at sf0.1, measured): after the collapse, "preceding rows" under
    // a price-descending order are exactly the STRICTLY higher prices,
    // so equal prices never dominate each other and the running max is
    // one pass. The bucket repartition is EXPLICIT so AQE's byte-based
    // coalescing can't fold the 64 local windows into one task (the
    // SCALING.md small-bytes trap — also measured here).
    Q("q223_pareto_skyline", (s, dir) => {
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"),
          (col("o_totalprice").cast(DecimalType(20, 2)) * 100)
            .cast("long").as("price_c"),
          to_date(col("o_orderdate")).as("d"))
      def prune(df: DataFrame, part: Option[String]): DataFrame = {
        val w = part.fold(Window.orderBy(desc("price_c")))(p =>
          Window.partitionBy(p).orderBy(desc("price_c")))
          .rowsBetween(Window.unboundedPreceding, -1)
        val keys = part.toSeq :+ "price_c"
        val collapsed = df.groupBy(keys.map(col): _*)
          .agg(max(col("d")).as("maxd"))
          .withColumn("dom", max(col("maxd")).over(w))
          .select(keys.map(col) :+ col("dom"): _*)
        df.join(collapsed, keys)
          .filter(col("dom").isNull || col("dom") <= col("d"))
          .drop("dom")
      }
      val bucketed = o.withColumn("bk", pmod(col("o_orderkey"), lit(64)))
        .repartition(s.sparkContext.defaultParallelism, col("bk"))
      val candidates = prune(bucketed, Some("bk")).drop("bk")
      prune(candidates, None)
        .select(col("o_orderkey"), col("price_c"), col("d").as("o_date"))
        .orderBy(desc("price_c"), asc("o_orderkey"))
    }, oracle =
      // single global pass — result-equivalent to the engine's
      // local-prune + global phases (the prune only removes dominated rows)
      """WITH o AS (
        | SELECT o_orderkey,
        |  CAST(CAST(o_totalprice AS DECIMAL(20,2)) * 100 AS BIGINT)
        |    AS price_c,
        |  CAST(o_orderdate AS DATE) AS d
        | FROM orders),
        |m AS (
        | SELECT o_orderkey, price_c, d,
        |  max(d) OVER (ORDER BY price_c
        |   RANGE BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS gmx
        | FROM o)
        |SELECT o_orderkey, price_c, d AS o_date
        |FROM m WHERE gmx IS NULL OR gmx <= d
        |ORDER BY price_c DESC, o_orderkey""".stripMargin),

    // Replayable Bloom-filter false-positive audit — the sizing report
    // a membership gate publishes before a 100 TB anti-join trusts it.
    // A 65536-bit, k=3 filter is BUILT from the distinct 3-shingle set
    // (the key space contamination/dedup gates actually filter on;
    // the flat 31-word vocabulary would leave the filter empty) with
    // string-keyed md5 bucket hashes (4 hex nibbles = 16 bits — the
    // q179 no-hex-cast rule), then PROBED with a disjoint-by-
    // construction negative set (every shingle '#p'-suffixed, so the
    // probe corpus has the member set's size and character
    // distribution at any SF); observed FPR lands next to the (|S|/m)³
    // theory value, both in exact bp. Unlike Spark's built-in
    // bloom_filter_agg (whose bit layout is private), every bit here
    // replays on any engine — the q253 hash-checkable-sketch rule.
    // Shape: shingle-space rollups; the bit set is ≤65536 rows,
    // broadcast to the probe join.
    Q("q269_bloom_fpr", (s, dir) => {
      val shingles = t(s, dir, "documents")
        .select(explode(graft.functions.ShinglesExpr
          .shingles(toks(col("text")), 3)).as("w"))
        .distinct()
        .localCheckpoint(false)
      def bucket(j: Int): Column = {
        def nib(p: Int) = expr("instr('0123456789abcdef', substring(" +
          s"md5(concat('$j:', w)), $p, 1)) - 1").cast("long")
        nib(1) * 4096L + nib(2) * 256L + nib(3) * 16L + nib(4)
      }
      def withBuckets(d: DataFrame): DataFrame = d.select(col("w"),
        explode(array((0 until 3).map(bucket): _*)).as("b"))
      val members = shingles
      val probes = shingles.select(concat(col("w"), lit("#p")).as("w"))
      val bits = withBuckets(members).select("b").distinct()
        .localCheckpoint(false)
      val fp = withBuckets(probes)
        .join(bits, "b")
        .groupBy("w").agg(count(lit(1)).as("hits"))
        .filter(col("hits") === 3)
        .agg(count(lit(1)).as("n_fp"))
      members.agg(count(lit(1)).as("n_members"))
        .crossJoin(broadcast(probes.agg(count(lit(1)).as("n_probes"))))
        .crossJoin(broadcast(bits.agg(count(lit(1)).as("bits_set"))))
        .crossJoin(broadcast(fp))
        .select(col("n_members"), col("n_probes"), col("bits_set"),
          col("n_fp"),
          ldiv(col("n_fp") * 10000L, col("n_probes")).as("fpr_bp"),
          ldiv((col("bits_set") * col("bits_set") * col("bits_set"))
              .cast(DecimalType(38, 0)) * 10000L,
            lit(65536L * 65536L * 65536L)).as("theory_bp"))
    }, oracle = {
      // single-line on purpose: interpolating a multi-line fragment into
      // the outer stripMargin string would let line-leading '||' lose a
      // pipe to margin stripping
      def nib(src: String, p: Int) = "(instr('0123456789abcdef', " +
        s"substr(md5(CAST(j AS VARCHAR) || ':' || $src), $p, 1)) - 1)"
      def b(src: String) = s"${nib(src, 1)} * 4096 + " +
        s"${nib(src, 2)} * 256 + ${nib(src, 3)} * 16 + ${nib(src, 4)}"
      s"""WITH tk AS (
         | SELECT string_split(lower(text), ' ') AS tk FROM documents),
         |mem AS (
         | SELECT DISTINCT unnest(list_transform(range(1, len(tk) - 1),
         |   i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS w
         | FROM tk),
         |prb AS (SELECT w || '#p' AS w FROM mem),
         |js AS (SELECT unnest([0, 1, 2]) AS j),
         |mb AS (
         | SELECT DISTINCT ${b("mem.w")} AS b
         | FROM mem, js),
         |pb AS (
         | SELECT prb.w, ${b("prb.w")} AS b
         | FROM prb, js),
         |hits AS (
         | SELECT pb.w, count(*) AS h FROM pb JOIN mb ON pb.b = mb.b
         | GROUP BY pb.w),
         |f AS (SELECT CAST(count(*) AS BIGINT) AS n_fp
         |  FROM hits WHERE h = 3),
         |sc AS (
         | SELECT (SELECT CAST(count(*) AS BIGINT) FROM mem) AS n_members,
         |  (SELECT CAST(count(*) AS BIGINT) FROM prb) AS n_probes,
         |  (SELECT CAST(count(*) AS BIGINT) FROM mb) AS bits_set,
         |  (SELECT n_fp FROM f) AS n_fp)
         |SELECT n_members, n_probes, bits_set, n_fp,
         | CAST(CAST(n_fp AS HUGEINT) * 10000 // n_probes AS BIGINT)
         |   AS fpr_bp,
         | CAST(CAST(bits_set AS HUGEINT) * bits_set * bits_set * 10000
         |   // (CAST(65536 AS HUGEINT) * 65536 * 65536) AS BIGINT)
         |   AS theory_bp
         |FROM sc""".stripMargin
    }),

  )

  /** Shared oracle prefix: recursive-CTE connected components over the
    * exact 3-shingle Jaccard ≥ 0.5 edge set, ending at `lab(node,
    * cluster)` — composed by q56/q72 (cluster rollup) and QualityQ's
    * q86 (canonical-doc materialization). */
  private[queries] lazy val dedupLabSql: String =
      """WITH RECURSIVE
        |s AS (
        | SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
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
        | SELECT a_id AS src, b_id AS dst FROM e
        | UNION ALL SELECT b_id, a_id FROM e),
        |reach(node, r) AS (
        | SELECT src, src FROM sym
        | UNION
        | SELECT sym.dst, reach.r FROM reach JOIN sym ON sym.src = reach.node),
        |lab AS (SELECT node, min(r) AS cluster FROM reach GROUP BY node)""".stripMargin

  private lazy val dedupClustersOracle: String = dedupLabSql + "\n" +
      """SELECT cluster, count(*) AS n_docs,
        | string_agg(CAST(node AS VARCHAR), ',' ORDER BY node) AS members
        |FROM lab GROUP BY cluster ORDER BY cluster""".stripMargin
}
