package graft

/** Dev tool: print the formatted physical plan and per-run wall time of
  * named queries — the `.explain` iteration loop for plan tuning.
  *
  *   sbt "runMain graft.Explain q16_jaccard_pairs [q18_simhash ...]"
  *
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default 4),
  * SPARK_GRAFT_RUNS (default 3 timed runs after one warm-up).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val run = QueryRun()
    val spark = run.spark
    args.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => println(s"[explain] unknown query: $name")
        case Some(fn) =>
          println(s"\n===== $name =====")
          fn(spark, sfDir).explain("formatted")
          QueryRun.warmUp("explain", name)(fn(spark, sfDir).count())
          val m = run.measure()(fn(spark, sfDir).count())
          m.metrics.stages.foreach(println)
          println(f"[explain] $name timed: ${m.times.map(t => f"$t%.2f").mkString(", ")} s (median ${m.median}%.2f)")
      }
    }
    spark.stop()
  }
}
