package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Plan-diff instrument: writes `<outDir>/<query>.txt` for every
  * registered query, holding the physical plan each query builds over
  * `sfDir` (the sf0.001 testdata) — the `AdaptiveSparkPlanExec`
  * `initialPlan` of the returned DataFrame, preceded by the plans of any
  * eager sub-queries (a `localCheckpoint`, a bounded `count`, a
  * `collect`) run while the plan was being built, caught by a
  * `QueryExecutionListener` as in PlanSpec's spread census. Run-dependent tokens are normalized
  * (`normalize`), so two runs on one commit diff to nothing and a
  * refactor that must keep every plan can be checked by diffing the
  * directories of two commits:
  *
  *   sbt "Test/runMain graft.PlanDump /tmp/plans_a <sfDir>"
  *   diff -r /tmp/plans_a /tmp/plans_b
  */
object PlanDump {

  /** Expression ids (`#123`, `#123L`), lambda-variable suffixes
    * (`x_42`), lambda class names (`Foo$$Lambda/0x…@1a2b`), RDD ids,
    * exchange `plan_id`s and random UUIDs (the default name of an
    * `Observation`'s `CollectMetrics`) change from run to run; everything
    * else in a plan string is its shape. */
  def normalize(plan: String): String = plan
    .replaceAll("#\\d+L?", "#N")
    .replaceAll("\\b(lambda [A-Za-z]+)_\\d+", "$1_N")
    .replaceAll("\\$\\$Lambda[^\\s,)\\]]*", "\\$\\$Lambda")
    .replaceAll("RDD\\[\\d+\\]", "RDD[N]")
    .replaceAll("plan_id=\\d+", "plan_id=N")
    .replaceAll("@[0-9a-f]{4,}\\b", "@N")
    .replaceAll("[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "UUID")

  /** Expression ids come from one JVM-wide counter, and some rules
    * order their output by a hash that includes them (the distinct
    * groups of RewriteDistinctAggregates, say). Starting every query at
    * its own fixed id base keeps that order a function of the query
    * alone, not of how many ids the queries before it used. */
  private def setExprIdBase(base: Long): Unit = {
    val f = org.apache.spark.sql.catalyst.expressions.NamedExpression.getClass
      .getDeclaredField("curId")
    f.setAccessible(true)
    f.get(org.apache.spark.sql.catalyst.expressions.NamedExpression)
      .asInstanceOf[java.util.concurrent.atomic.AtomicLong].set(base)
  }

  private def initial(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => a.initialPlan
    case o => o
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: PlanDump <outDir> <sfDir>")
    val out = Paths.get(args(0))
    val dir = args(1)
    Files.createDirectories(out)
    val s = GraftSession.local(4)
    val eager = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    s.listenerManager.register(new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        eager.add(initial(qe.executedPlan))
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    val flush = () => org.apache.spark.graftglue.ListenerGlue
      .waitUntilListenerBusEmpty(s.sparkContext)
    var failed = 0
    val named = SparkEntry.queries.toSeq.sortBy(_._1)
    for (((name, fn), i) <- named.zipWithIndex) {
      flush()
      eager.clear()
      setExprIdBase((i + 1) * 100000000L)
      val text =
        try {
          val plan = initial(fn(s, dir).queryExecution.executedPlan)
          flush()
          val subs = eager.toArray(Array.empty[SparkPlan]).toSeq
          (subs.zipWithIndex.map { case (p, j) =>
            s"== eager $j ==\n${p.treeString}" } :+
            s"== plan ==\n${plan.treeString}").mkString("\n")
        } catch {
          case e: Exception =>
            failed += 1
            s"== failed ==\n${e.getClass.getName}: ${e.getMessage}\n"
        }
      Files.write(out.resolve(s"$name.txt"), normalize(text).getBytes(UTF_8))
    }
    println(s"[plandump] ${SparkEntry.queries.size} queries -> $out" +
      s" ($failed failed)")
    s.stop()
  }
}
