package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.graftglue.ListenerGlue
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The timing loop of the Bench, Explain and ScaleProbe mains:
  * `measure` times back-to-back runs of one query between two reads of
  * the session's one task-metrics listener, so the metrics it returns
  * belong to those runs only. The companion holds what every main shares:
  * the session, the query selection, warm-ups and the host probes.
  *
  * Env: SPARK_GRAFT_CPUS (local cores, default 4), SPARK_GRAFT_RUNS
  * (timed runs per measurement, default 3), SPARK_GRAFT_ONLY (comma list
  * restricting the registry).
  */
final class QueryRun(val spark: SparkSession) {
  private val collector = new QueryRun.Collector(spark.sparkContext)

  /** Times `QueryRun.runs` runs of `body`. A run that throws is handed
    * to `onFail` (which rethrows by default) and leaves no time. */
  def measure(onFail: Throwable => Unit = e => throw e)(
      body: => Unit): QueryRun.Measured = {
    import QueryRun.runs
    collector.delta() // drop whatever ran before this measurement
    val steal0 = QueryRun.stealNow()
    val compiles0 = QueryRun.codegenCompiles()
    val loads = Seq.newBuilder[Double]
    val times = (1 to runs).flatMap { _ =>
      // a /proc/loadavg sample before EVERY run timestamps external
      // pressure onto the specific runs it poisoned
      loads += QueryRun.loadNow()
      val t0 = System.nanoTime()
      try { body; Some((System.nanoTime() - t0) / 1e9) }
      catch { case e: Throwable => onFail(e); None }
    }
    QueryRun.Measured(runs, times, loads.result(), QueryRun.stealPct(steal0),
      collector.delta(), QueryRun.codegenCompiles() - compiles0)
  }
}

object QueryRun {
  type Query = (SparkSession, String) => DataFrame

  val cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  val runs: Int = sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt.max(1)

  /** Dev convenience: SPARK_GRAFT_ONLY=q16_jaccard_pairs,q18_simhash
    * restricts the run; unset runs the whole registry. A name that is not
    * registered fails the run: a typo must not select nothing and let
    * Verify's oracle set come out empty. */
  val only: Option[Set[String]] =
    sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)

  def selected: Map[String, Query] = only.fold(SparkEntry.queries) { names =>
    val unknown = names -- SparkEntry.queries.keySet
    require(unknown.isEmpty, "SPARK_GRAFT_ONLY names no registered query: " +
      unknown.toSeq.sorted.mkString(", "))
    SparkEntry.queries.filter { case (n, _) => names(n) }
  }

  def session(): SparkSession = {
    val spark = GraftSession.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def apply(): QueryRun = new QueryRun(session())

  /** Runs `body` once so JIT, codegen and reader set-up are not charged
    * to a timed run. A failure is logged and the caller goes on. */
  def warmUp(tag: String, what: String)(body: => Any): Unit =
    try body catch { case e: Throwable =>
      System.err.println(
        s"[$tag] warm-up $what failed: ${e.getClass.getName}: ${e.getMessage}")
    }

  def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.length / 2)

  def loadNow(): Double = try {
    Files.readString(Paths.get("/proc/loadavg")).split("\\s+")(0).toDouble
  } catch { case _: Throwable => -1.0 }

  /** (steal_jiffies, total_jiffies) from /proc/stat's aggregate cpu line.
    * loadavg can't see hypervisor pressure (a guest under 50% steal
    * reports an idle loadavg while every wall clock doubles) and
    * jvmGCTime can't either; steal% is the one signal that separates
    * "the host took our cycles" from every in-JVM explanation. On a bare
    * machine it reads 0.0. */
  def stealNow(): (Long, Long) = try {
    val vals = Files.readString(Paths.get("/proc/stat")).linesIterator.next()
      .split("\\s+").drop(1).take(8).map(_.toLong)
    (if (vals.length >= 8) vals(7) else 0L, vals.sum)
  } catch { case _: Throwable => (0L, 0L) }

  /** Steal share of all jiffies since `from` (a `stealNow()` sample). */
  def stealPct(from: (Long, Long)): Double = {
    val (steal, total) = stealNow()
    if (total > from._2) 100.0 * (steal - from._1) / (total - from._2) else 0.0
  }

  /** A JSON string literal: quote, backslash and every control character
    * escaped. Query names, SQL and paths all come from outside this
    * code, and one raw tab or quote makes the whole document unparseable
    * for the tooling that reads it. */
  def json(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Janino compiles of generated code so far in this JVM (Spark's
    * process-wide `CodegenMetrics`; one count per cache miss). A
    * measurement's delta is nonzero on warm runs only when the codegen
    * cache misses, e.g. when each run gets a new class loader. */
  def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
      .getCount

  /** Task metrics summed over the tasks of a measurement (peak: the
    * largest single task), plus one line per completed stage. */
  final case class Delta(taskMs: Long, gcMs: Long, spillBytes: Long,
      peakBytes: Long, stages: Seq[String])

  /** `codegenCompiles`: Janino compiles during the measurement, in any
    * thread of the JVM (see [[codegenCompiles]]). */
  final case class Measured(runs: Int, times: Seq[Double], loads: Seq[Double],
      stealPct: Double, metrics: Delta, codegenCompiles: Long) {
    def failed: Boolean = times.size < runs
    def median: Double = QueryRun.median(times)
    // mean per run: one accumulator can't split the runs apart
    def taskSec: Double = metrics.taskMs / 1e3 / runs
    def gcSec: Double = metrics.gcMs / 1e3 / runs
  }

  /** The one listener. Task time beside wall time separates a plan
    * regression from contention (wall up with task time flat means the
    * tasks did the same work and waited for CPU); GC time separates GC
    * thrash from plan cost. Events arrive asynchronously, so `delta`
    * first waits for the listener bus to drain. */
  final class Collector(sc: SparkContext) extends SparkListener {
    private val taskMs, gcMs, spillBytes, peakBytes = new AtomicLong(0L)
    // appended from the listener-bus thread, swapped out by `delta`
    private var stages = Vector.empty[String]
    sc.addSparkListener(this)

    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) {
        taskMs.addAndGet(m.executorRunTime)
        gcMs.addAndGet(m.jvmGCTime)
        spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        peakBytes.getAndAccumulate(m.peakExecutionMemory, math.max)
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val m = si.taskMetrics
      if (m != null) {
        val line = f"[stage ${si.stageId}%3d] ${si.numTasks}%3d tasks " +
          f"run=${m.executorRunTime / 1e3}%6.2fs cpu=${m.executorCpuTime / 1e9}%6.2fs " +
          f"shufW=${m.shuffleWriteMetrics.recordsWritten}%8d recs ${si.name.take(60)}"
        synchronized { stages :+= line }
      }
    }

    /** Everything recorded since the previous call. */
    def delta(): Delta = {
      ListenerGlue.waitUntilListenerBusEmpty(sc)
      val lines = synchronized { val s = stages; stages = Vector.empty; s }
      Delta(taskMs.getAndSet(0L), gcMs.getAndSet(0L), spillBytes.getAndSet(0L),
        peakBytes.getAndSet(0L), lines)
    }
  }
}
