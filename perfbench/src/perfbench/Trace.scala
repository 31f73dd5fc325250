package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.perfbenchglue.BusGlue

/** One timed interval. Top-level spans are operations (a load, a page, a
  * file drained, a query run); nested spans wrap the public calls inside
  * one and carry the operation's id. `m` holds the listener metrics
  * attributed to this span (not to its children). */
final class Span(val id: Int, val name: String, val parent: Int,
    val op: Int, val start: Long, val cpuStart: Long, val jitStart: Long) {
  @volatile var end = 0L
  var cpuEnd = 0L
  var jitEnd = 0L
  var ok = true
  var err: String = null
  val info = mutable.LinkedHashMap[String, Any]()
  private val m = mutable.LinkedHashMap[String, Double]()
  /** (launch, finish) epoch-ms of every task attributed here. */
  val tasks = mutable.ArrayBuffer[(Long, Long)]()
  def add(k: String, v: Double): Unit = m.synchronized {
    m(k) = m.getOrElse(k, 0.0) + v
  }
  def metrics: Map[String, Double] = m.synchronized(m.toMap)
}

/** Spans kept in memory and written out at the end. Operations are
  * always recorded (their wall time is the end-to-end measurement);
  * nested spans, job groups and listener flushes only when tracing is
  * on, so an untraced run pays nothing but two clock reads per op. */
final class Tracer(spark: SparkSession, val on: Boolean) {
  val origin: Long = System.nanoTime()
  val originEpochMs: Long = System.currentTimeMillis()
  val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  @volatile var current: Span = null
  private val byGroup = new ConcurrentHashMap[String, Span]()
  private var ops = 0
  /** Executor run time of every task seen, attributed or not. */
  val taskRunTotal = new java.util.concurrent.atomic.DoubleAdder

  /** Listener flush barrier; its cost is the tracer's own overhead and
    * is booked on the enclosing operation. */
  private def flush(): Unit = if (on) {
    val t = System.nanoTime()
    BusGlue.flush(spark.sparkContext)
    stack.lastOption.foreach(_.add("trace_flush_ms",
      (System.nanoTime() - t) / 1e6))
  }
  private def group(s: Span) = s"perfbench-${s.id}"

  /** Span for a job-group id, falling back to the innermost open span
    * (streaming sets its own group; the flush barriers keep "current"
    * exact for events posted inside it). */
  def spanFor(jobGroup: String): Span =
    Option(jobGroup).flatMap(g => Option(byGroup.get(g))).getOrElse(current)

  /** A top-level operation. A failure is recorded on the span (and
    * counted by the caller) instead of ending the run. */
  def op[T](name: String)(body: Span => T): Option[T] = {
    val s = open(name, isOp = true)
    try Some(body(s))
    catch {
      case e: Throwable =>
        s.ok = false
        s.err = s"${e.getClass.getName}: ${String.valueOf(e.getMessage)}"
          .take(400)
        None
    } finally close(s)
  }

  /** A nested span around one public call; a plain call when untraced. */
  def span[T](name: String)(body: => T): T =
    if (!on || stack.isEmpty) body
    else {
      val s = open(name, isOp = false)
      try body finally close(s)
    }

  /** Streaming queries run jobs under their own group (the run id). */
  def alias(jobGroup: String): Unit =
    if (on && current != null) byGroup.put(jobGroup, current)

  private def open(name: String, isOp: Boolean): Span = {
    flush()
    val parent = stack.headOption
    val opId = if (isOp) { ops += 1; ops } else parent.fold(0)(_.op)
    val s = new Span(spans.size, name, parent.fold(-1)(_.id), opId,
      System.nanoTime(), Tracer.processCpuNs(), Tracer.jitMs())
    spans += s
    stack = s :: stack
    current = s
    if (on) {
      byGroup.put(group(s), s)
      spark.sparkContext.setJobGroup(group(s), name, false)
    }
    s
  }

  private def close(s: Span): Unit = {
    flush()
    s.end = System.nanoTime()
    s.cpuEnd = Tracer.processCpuNs()
    s.jitEnd = Tracer.jitMs()
    stack = stack.tail
    current = stack.headOption.orNull
    if (on) stack.headOption match {
      case Some(p) => spark.sparkContext.setJobGroup(group(p), p.name, false)
      case None => spark.sparkContext.clearJobGroup()
    }
  }

  /** Register the listeners that feed span metrics (traced runs only). */
  def install(): Unit = if (on) {
    val stageSpan = new ConcurrentHashMap[Int, Span]()
    def forStage(id: Int) = Option(stageSpan.get(id)).getOrElse(current)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val s = spanFor(Option(e.properties)
          .map(_.getProperty("spark.jobGroup.id")).orNull)
        if (s != null) {
          s.add("jobs", 1)
          e.stageInfos.foreach(si => stageSpan.put(si.stageId, s))
        }
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val s = forStage(e.stageId)
        val m = e.taskMetrics
        if (m != null) taskRunTotal.add(m.executorRunTime / 1e3)
        if (s != null && m != null) {
          val ti = e.taskInfo
          s.add("tasks", 1)
          s.add("task_cpu_s", m.executorCpuTime / 1e9)
          s.add("task_run_s", m.executorRunTime / 1e3)
          s.add("gc_s", m.jvmGCTime / 1e3)
          s.add("scheduler_delay_s", math.max(0L, ti.duration -
            m.executorRunTime - m.executorDeserializeTime -
            m.resultSerializationTime - ti.gettingResultTime) / 1e3)
          s.add("shuffle_mb", m.shuffleWriteMetrics.bytesWritten / 1048576.0)
          s.add("spill_mb", m.diskBytesSpilled / 1048576.0)
          s.add("records_read", m.inputMetrics.recordsRead.toDouble)
          s.add("records_written", m.outputMetrics.recordsWritten.toDouble)
          s.tasks.synchronized(s.tasks += ((ti.launchTime, ti.finishTime)))
        }
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val s = forStage(si.stageId)
        if (s != null) {
          s.add("stages", 1)
          if (si.numTasks == 1)
            for (a <- si.submissionTime; b <- si.completionTime)
              s.add("single_task_stage_s", (b - a) / 1e3)
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        phases(qe)
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = phases(qe)
      private def phases(qe: QueryExecution): Unit = {
        val s = current
        if (s != null) {
          s.add("actions", 1)
          qe.tracker.phases.foreach { case (k, p) =>
            s.add(s"plan_${k}_ms", p.durationMs.toDouble)
          }
        }
      }
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent)
          : Unit = ()
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val s = spanFor(p.runId.toString)
        if (s != null && p.numInputRows > 0) {
          s.add("stream_batches", 1)
          s.add("stream_input_rows", p.numInputRows.toDouble)
          p.durationMs.asScala.foreach { case (k, v) =>
            s.add(s"stream_${k}_ms", v.doubleValue)
          }
        }
      }
    })
  }

  def toJson: java.util.List[AnyRef] = spans.map { s =>
    val o = new java.util.LinkedHashMap[String, AnyRef]()
    o.put("id", Int.box(s.id))
    o.put("name", s.name)
    o.put("parent", Int.box(s.parent))
    o.put("op", Int.box(s.op))
    o.put("start_ms", Double.box((s.start - origin) / 1e6))
    o.put("end_ms", Double.box((s.end - origin) / 1e6))
    o.put("cpu_ms", Double.box((s.cpuEnd - s.cpuStart) / 1e6))
    o.put("jit_ms", Double.box((s.jitEnd - s.jitStart).toDouble))
    o.put("ok", Boolean.box(s.ok))
    if (s.err != null) o.put("err", s.err)
    if (s.info.nonEmpty) o.put("info", Json.toJava(s.info.toMap))
    if (s.metrics.nonEmpty) o.put("m", Json.toJava(s.metrics))
    if (s.tasks.nonEmpty) o.put("tasks", Json.toJava(s.tasks.synchronized(
      s.tasks.map { case (a, b) => Seq(a - originEpochMs, b - originEpochMs) }
        .toList)))
    o: AnyRef
  }.asJava
}

object Tracer {
  private val os = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of the whole JVM (all threads), in ns. */
  def processCpuNs(): Long = os.getProcessCpuTime

  private val jit = java.lang.management.ManagementFactory.getCompilationMXBean
  /** Time the JIT compiler threads have spent compiling, in ms. */
  def jitMs(): Long = jit.getTotalCompilationTime
}

object Json {
  /** Scala values → Java collections for Jackson. */
  def toJava(v: Any): AnyRef = v match {
    case null => null
    case m: scala.collection.Map[_, _] =>
      val o = new java.util.LinkedHashMap[String, AnyRef]()
      m.foreach { case (k, x) => o.put(k.toString, toJava(x)) }
      o
    case s: Iterable[_] => s.map(toJava).toList.asJava
    case a: Array[_] => a.toSeq.map(toJava).asJava
    case o: Option[_] => o.map(toJava).orNull
    case x: AnyRef => x
    case x => x.asInstanceOf[AnyRef]
  }
}
