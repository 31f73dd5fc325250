package graft
import java.io.File
import java.nio.file.{Files, Paths}
import org.apache.commons.io.FileUtils
/** Driver-run correctness dump: each selected SparkEntry.queries result →
  * parquet, plus oracle_sql.json for the same queries, for the driver's
  * DuckDB compare. A query whose plan throws leaves no result dir, even
  * over an earlier run's, so `scripts/check.py` counts it missing. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = QueryRun.session()
    new File(outDir).mkdirs()
    val selected = QueryRun.selected
    selected.foreach { case (name, fn) =>
      FileUtils.deleteDirectory(new File(s"$outDir/$name"))
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    import QueryRun.json
    val doc = SparkEntry.oracleSql.filter { case (k, _) => selected.contains(k) }
      .map { case (k, v) => s"${json(k)}: ${json(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), doc)
    spark.stop()
  }
}
