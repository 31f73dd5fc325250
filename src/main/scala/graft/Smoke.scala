package graft

import org.apache.spark.sql.SparkSession

/** Local smoke of the driver's t1 check: SparkEntry.entry must return >0
  * rows on sf0.001 in a bare session with no special conf.
  * The one main that does not build its session through
  * `GraftSession.local`, on purpose: the entry point has to work without
  * the extensions, registered functions and confs that `local()` adds. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(5, truncate = false)
    println(s"[smoke] entry rows=$n " + (if (n > 0) "PASS" else "FAIL"))
    spark.stop()
  }
}
