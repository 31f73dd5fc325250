package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Self-measured scale probe (dev tool, not part of the engine): builds
  * a ×N corpus from sf0.1 by key-shift replication and times the most
  * expensive registered queries at both scales, printing the measured
  * scaling exponent per query (log-ratio of warm medians / log N) plus
  * the r11-verdict-#1 resource columns: per-query executor task time,
  * PEAK single-task execution memory, and total spill — wall-only
  * probes can extrapolate time but never find the first memory ceiling.
  *
  * Replication preserves WORKLOAD SHAPE, which naive copying would not:
  *   - documents: each copy's tokens get a copy suffix, so shingle/token
  *     spaces are DISJOINT across copies — the duplicate-group and
  *     posting-list distributions replicate per copy instead of every
  *     copy of a doc pairing with every other (which would grow pair
  *     outputs ×N² and measure output explosion, not engine scaling).
  *   - embeddings: each copy applies a copy-keyed ROTATION of the
  *     dimension order plus a deterministic sign flip per dimension —
  *     an isometry, so intra-copy geometry (distances, cluster
  *     structure) is preserved exactly while cross-copy cosines land
  *     near zero and ANN candidate sets replicate per copy. The
  *     rotation matters for the GRID queries (q237/q240 project dims
  *     1-2): sign flips alone have only 4 distinct patterns on two
  *     dims, so at ×100 ~25 copies stacked into the same grid cells
  *     and the within-cell quadratic grew ×625 — measured as a hard
  *     executor OOM, even at 64 g heap (r12). Rotated copies project
  *     different original dims, so cell densities replicate instead
  *     of stacking.
  *   - events: user/event ids shift per copy — N user populations with
  *     identical per-user histories.
  *   - lineitem (r12, verdict #5): orderkey AND partkey AND suppkey all
  *     shift per copy — N disjoint basket/bipartite-graph copies with
  *     the original basket-size and degree distributions, so the
  *     q241/q128 pair explode and the q157 wedge join get measured
  *     exponents instead of structural pins. (Copies keep part/supplier
  *     FK validity only within copy 0; the three lineitem-only probe
  *     queries never join those dims.)
  *
  * Usage: runMain graft.ScaleProbe [mult] [q1,q2,...]
  * Env: SPARK_GRAFT_RUNS (timed runs per scale, default 3 — use 1 at
  * ×100 where a single warm run is minutes), SPARK_GRAFT_CPUS.
  * Writes the corpus under /tmp/graft_scaleprobe/sfX<mult> (reused if
  * present AND built by this builder version).
  */
object ScaleProbe {

  /** bump when buildCorpus changes — stale corpora silently measure the
    * old workload shape otherwise */
  private val BuilderVersion = "v3-rotate"

  private val defaultProbe = Seq(
    "q75_jaccard_prefix", "q16_jaccard_pairs", "q157_triangle_census",
    "q100_pagerank", "q156_split_leakage", "q150_dup_span",
    "q76_stemmed_search", "q178_lm_fluency", "q74_ann_self_join",
    "q40_embedding_dups", "q173_paragraph_dedup", "q102_bpe_merges",
    // the r11-verdict additions: the CPU-heavy relational trio plus the
    // two iterative/quantile plans previously pinned structurally
    "q241_association_rules", "q128_basket_pairs", "q240_dbscan_lite",
    "q279_rfm_segments",
    // r13: the registered production forms (r12 verdict #1/#2) and the
    // new ingest/census families
    "q291_semantic_dedup_auto", "q292_dbscan_auto",
    "q293_binary_quarantine", "q294_aac_scan", "q295_h264_scan",
    "q296_avi_h264_census", "q297_media_quarantine", "q298_mp4_boxes",
    "q299_warc_census", "q300_robots_admission", "q301_ivfpq_search", "q302_ivfpq_recall", "q303_pdf_incremental")

  def main(args: Array[String]): Unit = {
    val mult = args.headOption.map(_.toInt).getOrElse(10)
    val probe = args.lift(1).map(_.split(",").map(_.trim).toSeq)
      .getOrElse(defaultProbe)
    val run = QueryRun()
    val spark = run.spark

    val base = "/root/testdata/sf0.1"
    val big = s"/tmp/graft_scaleprobe/sfX$mult"
    val ready = java.nio.file.Paths.get(big, "_READY")
    val fresh = java.nio.file.Files.exists(ready) &&
      java.nio.file.Files.readString(ready).trim == BuilderVersion
    if (!fresh) buildCorpus(spark, base, big, mult)

    /** (median wall, mean task sec, peak task mem MB, spill MB) over
      * the timed runs after one warm run. */
    def measure(fn: QueryRun.Query, dir: String)
        : (Double, Double, Double, Double) = {
      QueryRun.warmUp("scaleprobe", dir)(fn(spark, dir).count())
      val m = run.measure()(fn(spark, dir).count())
      (m.median, m.taskSec, m.metrics.peakBytes / 1048576.0,
        m.metrics.spillBytes / 1048576.0)
    }

    // probe-only entries (not registry queries): the SemDeDup auto
    // path, so the k ∝ n contract is MEASURED against the pinned-k
    // registry form — with k fixed the per-cluster quadratic grows
    // ∝ n²/k; with k ∝ n (constant target cluster size) it stays
    // linear. targetClusterSize 1024 gives k=5 at sf0.1 (comparable
    // work to the registry's k=4) and k∝n beyond.
    val probeOnly: Map[String, QueryRun.Query] = Map(
      "semdedup_auto" -> ((s, dir) =>
        graft.ops.SimilarityOps.semanticDedupAuto(
          Tables.t(s, dir, "embeddings"), "vec_id", "embedding",
          targetClusterSize = 1024)))

    println(f"${"query"}%-24s ${"t_sf0.1"}%8s ${"t_x" + mult}%8s " +
      f"${"exp"}%6s ${"task1"}%8s ${"taskN"}%8s ${"texp"}%6s " +
      f"${"peakMB"}%8s ${"spillMB"}%8s")
    probe.foreach { name =>
      SparkEntry.queries.get(name).orElse(probeOnly.get(name)) match {
        case None => println(f"$name%-24s MISSING")
        case Some(fn) =>
          try {
            val (t1, task1, _, _) = measure(fn, base)
            graft.SessionCaches.resetAll()
            val (tN, taskN, pk, sp) = measure(fn, big)
            graft.SessionCaches.resetAll()
            val exp = math.log(tN / t1) / math.log(mult.toDouble)
            // task-time exponent: the contention-free signal — wall
            // exponents inherit scheduler latency at small t
            val texp = math.log(taskN / task1) / math.log(mult.toDouble)
            println(f"$name%-24s $t1%8.2f $tN%8.2f $exp%6.2f " +
              f"$task1%8.2f $taskN%8.2f $texp%6.2f $pk%8.1f $sp%8.1f")
          } catch {
            case e: Throwable =>
              println(f"$name%-24s FAIL ${e.getClass.getSimpleName}: ${e.getMessage}")
          }
      }
    }
    spark.stop()
  }

  private def buildCorpus(spark: SparkSession, base: String, big: String,
      mult: Int): Unit = {
    new java.io.File(big).mkdirs()
    // all other tables: straight copies so every probe query resolves
    val names = new java.io.File(base).listFiles()
      .map(_.getName).filter(_.endsWith(".parquet"))
      .filterNot(n => n == "documents.parquet" ||
        n == "embeddings.parquet" || n == "events.parquet" ||
        n == "lineitem.parquet")
    def rmTree(p: java.nio.file.Path): Unit = {
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.list(p).forEach(rmTree)
      java.nio.file.Files.deleteIfExists(p)
    }
    names.foreach { n =>
      val dst = java.nio.file.Paths.get(big, n)
      rmTree(dst) // a v1 corpus may have left a dir where a file goes
      java.nio.file.Files.copy(java.nio.file.Paths.get(base, n), dst)
    }
    val docs = Tables.t(spark, base, "documents")
    val nDocs = docs.agg(max(col("doc_id"))).head().getLong(0) + 1
    val bigDocs = (0 until mult).map { k =>
      docs.select(
        (col("doc_id") + lit(k * nDocs)).as("doc_id"),
        // token-wise copy suffix keeps copies shingle-disjoint
        (if (k == 0) col("text")
         else array_join(transform(split(col("text"), " "),
           t => concat(t, lit(s"~$k"))), " ")).as("text"),
        col("lang"), col("source"),
        // suffixed copies are LONGER — keep n_chars consistent with
        // text so length-gated probe queries see the same selectivity
        (if (k == 0) col("n_chars")
         else length(array_join(transform(split(col("text"), " "),
           t => concat(t, lit(s"~$k"))), " ")).cast("long")).as("n_chars"))
    }.reduce(_ union _)
    bigDocs.repartition(32).write.mode("overwrite")
      .parquet(s"$big/documents.parquet")
    val vecs = Tables.t(spark, base, "embeddings")
    val nVecs = vecs.agg(max(col("vec_id"))).head().getLong(0) + 1
    val bigVecs = (0 until mult).map { k =>
      vecs.select(
        (col("vec_id") + lit(k * nVecs)).as("vec_id"),
        // copy-keyed rotation + sign flip (see scaladoc): new dim i
        // takes old dim (i + k) mod d with a hash-keyed sign — an
        // exact isometry per copy, near-orthogonal across copies, and
        // no two copies project the same dims onto the grid axes
        (if (k == 0) col("embedding")
         else transform(sequence(lit(0), size(col("embedding")) - 1),
           i => element_at(col("embedding"),
               pmod(i + lit(k), size(col("embedding"))) + 1)
             * when(pmod(hash(lit(k), i), lit(2)) === 0, lit(1.0f))
             .otherwise(lit(-1.0f)))).as("embedding"),
        col("label"))
    }.reduce(_ union _)
    bigVecs.repartition(8).write.mode("overwrite")
      .parquet(s"$big/embeddings.parquet")
    // events: user_id/event_id shift per copy — the event log grows ×N
    // as N new user populations with identical per-user histories, so
    // per-user window work, funnel shapes and per-type value
    // distributions replicate instead of per-user histories growing ×N
    val evs = Tables.t(spark, base, "events")
    val Array(evMax) = evs
      .agg(max(col("event_id")), max(col("user_id"))).collect()
    val (nEv, nUs) = (evMax.getLong(0) + 1, evMax.getLong(1) + 1)
    val bigEvs = (0 until mult).map { k =>
      evs.select(
        (col("event_id") + lit(k * nEv)).as("event_id"), col("ts"),
        (col("user_id") + lit(k * nUs)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.reduce(_ union _)
    bigEvs.repartition(16).write.mode("overwrite")
      .parquet(s"$big/events.parquet")
    // lineitem: ALL THREE keys shift per copy — N disjoint copies of
    // the same basket structure (q241/q128: per-basket pair explode
    // replicates, pair-key space stays disjoint so support counts keep
    // their distribution) and of the same supplier-part bipartite graph
    // (q157: degree distribution and triangle census replicate ×N)
    val li = Tables.t(spark, base, "lineitem")
    val Array(liMax) = li.agg(max(col("l_orderkey")),
      max(col("l_partkey")), max(col("l_suppkey"))).collect()
    val (nOk, nPk, nSk) =
      (liMax.getLong(0) + 1, liMax.getLong(1) + 1, liMax.getLong(2) + 1)
    val passCols = li.columns.filterNot(
      Set("l_orderkey", "l_partkey", "l_suppkey")).map(col).toSeq
    val bigLi = (0 until mult).map { k =>
      li.select(Seq(
        (col("l_orderkey") + lit(k * nOk)).as("l_orderkey"),
        (col("l_partkey") + lit(k * nPk)).as("l_partkey"),
        (col("l_suppkey") + lit(k * nSk)).as("l_suppkey")) ++ passCols: _*)
    }.reduce(_ union _)
    bigLi.repartition(32).write.mode("overwrite")
      .parquet(s"$big/lineitem.parquet")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(big, "_READY"), BuilderVersion)
    println(s"[scaleprobe] built $big (x$mult, $BuilderVersion)")
  }
}
