package graft
object Bench {
  def main(args: Array[String]): Unit = {
    import QueryRun.{json, loadNow}
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val run = QueryRun()
    val spark = run.spark
    // warm the session once (JIT, codegen, parquet reader init, and the
    // custom sketch expressions' hash loops) so one-time startup cost
    // isn't attributed to whichever query happens to run first
    QueryRun.warmUp("bench", "session") {
      spark.read.parquet(s"$sfDir/region.parquet").count()
      import org.apache.spark.sql.functions._
      import graft.ops.{DedupOps, SimilarityOps}
      val tiny = spark.range(64).select(col("id"),
        concat_ws(" ", (0 until 24).map(i =>
          concat(lit(s"w$i"), pmod(col("id") + i, lit(7)))): _*).as("text"))
      DedupOps.simhashPairs(tiny, "id", "text", maxHamming = 12).count()
      DedupOps.minhashLshPairs(tiny, "id", "text", 3, 16, 4, 0.1).count()
      tiny.select(explode(graft.functions.ShinglesExpr
        .ngrams(split(col("text"), " "), 2)).as("g"))
        .groupBy("g").count().count()
      DedupOps.jaccardPairs(tiny.select(col("id"),
        graft.functions.ShinglesExpr.shingles(split(col("text"), " "), 3)
          .as("sh")), "id", "sh", 0.1).count()
      DedupOps.connectedComponents(
        spark.range(8).select(col("id").as("a_id"),
          (col("id") + 1).as("b_id"))).count()
      val vecs = spark.range(64).select(col("id"),
        array((0 until 64).map(i =>
          pmod(col("id") + i, lit(13)).cast("float")): _*).as("v"))
      SimilarityOps.exactCosinePairs(vecs, "id", "v", 0.99).count()
      SimilarityOps.annSelfJoin(vecs, "id", "v", 64, k = 2,
        planesPerBand = 6, bands = 4).count()
    }
    val selected = QueryRun.selected
    // warm every selected query once at the smallest SF before timing:
    // codegen compilation + C2 JIT of each plan's generated classes land
    // here, so the recorded numbers measure engine throughput at the
    // bench SF, not JVM warm-up attributed to whichever query runs
    // first. (Explain's warm medians confirmed cold ≫ warm on the
    // sketch-heavy queries: q18 5.8s cold vs 0.95s warm.) Set
    // SPARK_GRAFT_WARM_DIR= (empty) to skip.
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR",
      "/root/testdata/sf0.001")
    if (warmDir.nonEmpty && new java.io.File(warmDir).isDirectory) {
      selected.foreach { case (name, fn) =>
        QueryRun.warmUp("bench", name)(fn(spark, warmDir).count())
      }
      // release everything the warm-up pinned (checkpointed edge sets,
      // persisted partials) so the timed phase doesn't inherit its heap:
      // leftover blocks were the main source of ±20% run-to-run noise
      // (full GCs landing on arbitrary queries). Resets go through the
      // SessionCaches registry — every cross-query cache registers there
      // — rather than blanket-unpersisting the context's RDDs, which
      // would free checkpoint blocks still referenced by a cache this
      // file doesn't know about and crash the timed phase.
      graft.SessionCaches.resetAll()
      System.gc()
    }
    // Interference robustness (the r5 lesson, SCALING.md): the driver's
    // r5 bench ran under ~2x external CPU load and recorded 250.7s for
    // code that measures 113-122s idle — an n=1 sample can't tell a slow
    // engine from a busy machine. Two defenses: (a) each query is timed
    // as the MEDIAN of 3 back-to-back runs (a transient load spike or GC
    // outlier loses the vote; wall cost ~3x, still driver-budget-small),
    // (b) /proc/loadavg is sampled at start and reported in the total
    // line, so a contaminated run is *labeled* instead of silently
    // poisoning round-over-round comparisons.
    val runs = QueryRun.runs
    val load1 = loadNow()
    if (load1 > 1.5) System.err.println(
      f"BENCH WARNING: /proc/loadavg=$load1%.2f at start — external CPU " +
        "interference will inflate these numbers (see SCALING.md, r5 incident)")
    val stealStart = QueryRun.stealNow()
    val allRuns = selected.map { case (name, fn) =>
      name -> run.measure(e => System.err.println(
        s"BENCH FAIL $name: ${e.getClass.getName}: ${e.getMessage}")) {
        fn(spark, sfDir).count()
      }
    }
    val results = allRuns.map { case (name, m) =>
      // ANY failed run marks the query failed in the artifact (-1.0):
      // a median over the surviving runs would make an intermittently
      // OOMing query look healthy to JSON-only round-over-round tooling
      name -> (if (m.failed) -1.0 else m.median)
    }
    val qs = results.map { case (k, v) => json(k) + ":" + v }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.filter(_ >= 0).sum else 0.0
    val gcTotal = allRuns.valuesIterator.map(_.gcSec).sum
    val steal = f"${QueryRun.stealPct(stealStart)}%.2f"
    // Full per-query artifact on disk (r9 verdict #2): the driver's
    // BENCH tail truncates to ~2000 chars (~54 of 274 queries), so
    // round-over-round adjudication needs the complete medians AND the
    // raw per-run times (run-to-run spread is the variance evidence
    // that separates plan regressions from machine drift — SCALING.md
    // §BENCH). Committed per round as bench/r<N>_full.json.
    // a SPARK_GRAFT_ONLY-restricted dev run must not clobber the round
    // artifact with its subset (r11 incident): default to a scratch
    // path unless the full registry ran or the caller chose explicitly.
    // The path names the core count, so a run at one count does not
    // overwrite another's (the r16 8-core/32-core incident).
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      if (QueryRun.only.isEmpty) s"bench/latest_full_c${QueryRun.cpus}.json"
      else "/tmp/bench_subset.json")
    if (outPath.nonEmpty) try {
      val detail = allRuns.toSeq.sortBy(_._1).map { case (name, m) =>
        s"""  ${json(name)}: {"median": ${results(name)}, "task_sec": ${f"${m.taskSec}%.3f"}, "gc_sec": ${f"${m.gcSec}%.3f"}, "steal_pct": ${f"${m.stealPct}%.2f"}, "load1_runs": [${m.loads.map(l => f"$l%.2f").mkString(", ")}], "runs": [${m.times.mkString(", ")}]}"""
      }.mkString(",\n")
      val doc =
        s"""{
           |"sf": ${json(sfDir)},
           |"runs_per_query": $runs,
           |"load1_at_start": $load1,
           |"load1_at_end": ${f"${loadNow()}%.2f"},
           |"steal_pct_overall": $steal,
           |"gc_sec_total": ${f"$gcTotal%.3f"},
           |"total_of_medians": $total,
           |"n_queries": ${results.size},
           |"queries": {
           |$detail
           |}
           |}""".stripMargin
      val p = java.nio.file.Paths.get(outPath)
      Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.writeString(p, doc)
      System.err.println(s"[bench] full per-query artifact: $outPath")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] artifact write failed: ${e.getMessage}")
    }
    // Per-query detail first; the short total line LAST so the driver's
    // tail-capture always sees a complete, parseable total (BENCH_r02 lost
    // its headline number to a front-loaded total on one very long line).
    println(s"""{"metric":"queries","queries":$qs,"sf":${json(sfDir)}}""")
    println(s"""{"metric":"total","value":$total,"unit":"sec","sf":${json(sfDir)},"runs_per_query":$runs,"load1_at_start":$load1,"load1_at_end":${f"${loadNow()}%.2f"},"gc_sec_total":${f"$gcTotal%.3f"},"steal_pct_overall":$steal}""")
    spark.stop()
  }
}
