package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{GraftSession, SessionCaches, SparkEntry, Tables}
import graft.ingest.Normalize
import graft.model.Schemas
import graft.pipeline.Etl
import graft.query.Dashboard
import graft.streaming.UploadStream

/** Drives one workload of the flow benchmark through the engine's public
  * entry points, from one client thread, and writes every span plus the
  * outputs the checker needs to a JSON file. Usage:
  *   FlowBench <config.json> <result.json>
  * The config is written by run.py; all paths in it are inside the
  * benchmark's work directory. */
object FlowBench {
  private val mapper = new ObjectMapper()
  private val PageCols = Seq("url", "name", "event_date", "source", "category")

  final class Cfg(m: java.util.Map[String, AnyRef]) {
    def s(k: String): String = m.get(k).toString
    def i(k: String): Int = m.get(k).asInstanceOf[Number].intValue
    def d(k: String): Double = m.get(k).asInstanceOf[Number].doubleValue
    def b(k: String): Boolean = m.get(k).asInstanceOf[Boolean]
    def list(k: String): Seq[AnyRef] =
      m.get(k).asInstanceOf[java.util.List[AnyRef]].asScala.toSeq
    def strs(k: String): Seq[String] = list(k).map(_.toString)
  }

  def main(args: Array[String]): Unit = {
    val cfg = new Cfg(mapper.readValue(new File(args(0)),
      classOf[java.util.Map[String, AnyRef]]))
    val heap = new HeapWatch
    val t0 = System.nanoTime()
    val spark = GraftSession.local(cfg.i("cores"), "perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tr = new Tracer(spark, cfg.b("trace"))
    tr.install()
    val out = new java.util.LinkedHashMap[String, AnyRef]()
    val gc0 = gcSeconds()
    try {
      val bench = new Workloads(spark, tr, heap, cfg, out)
      cfg.s("workload") match {
        case "upload_browse" => bench.uploadBrowse()
        case "registry_heavy" => bench.registryHeavy()
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
    } finally {
      out.put("session_s", Double.box(sessionS))
      out.put("gc_s", Double.box(gcSeconds() - gc0))
      out.put("peak_heap_mb", Double.box(heap.peak / 1048576.0))
      out.put("task_run_total_s", Double.box(tr.taskRunTotal.sum))
      out.put("spans", tr.toJson)
      mapper.writeValue(new File(args(1)), out)
      spark.stop()
    }
  }

  private def gcSeconds(): Double = ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** Live heap: the harness forces a full collection between operations
    * (never inside a timed one) and reads the heap left after it. Heap
    * read after the collector's own young collections would still hold
    * old garbage, and move with whether G1 has begun a marking cycle. */
  final class HeapWatch {
    private val mem = ManagementFactory.getMemoryMXBean
    var peak = 0L
    def settle(): Unit = {
      System.gc()
      peak = math.max(peak, mem.getHeapMemoryUsage.getUsed)
    }
  }

  /** Wait, at most 5 s, until the JIT compiler has finished no compile
    * for 250 ms, so compiles that priming queued do not land in the
    * first timed spans. */
  def quiesce(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    var last = Tracer.jitMs()
    var idle = false
    while (!idle && System.nanoTime() < deadline) {
      Thread.sleep(250)
      val now = Tracer.jitMs()
      idle = now == last
      last = now
    }
  }

  final class Workloads(spark: SparkSession, tr: Tracer, heap: HeapWatch,
      cfg: Cfg, out: java.util.Map[String, AnyRef]) {
    private val work = cfg.s("work")
    private val seconds = cfg.d("seconds")
    private def dir(name: String) = s"$work/$name"

    /** Repeat the set-up `setup_reps` times into fresh directories and
      * keep the last result; each repetition is one "setup" op. */
    private def setup[T](body: (Span, Int) => T): T = {
      val reps = cfg.i("setup_reps")
      (1 to reps).map(i => tr.op("setup")(s => body(s, i))).last
        .getOrElse(throw new IllegalStateException("set-up failed"))
    }

    /** Run `step` until the run's measuring time is spent (at least
      * `min` times) or it returns false; the measuring window starts
      * here. */
    private def measure(min: Int)(step: Int => Boolean): Unit = {
      val start = System.nanoTime()
      out.put("measure_start_ms", Double.box((start - tr.origin) / 1e6))
      var k = 0
      var more = true
      while (more && (k < min || (System.nanoTime() - start) / 1e9 < seconds)) {
        more = step(k)
        k += 1
      }
      out.put("measure_end_ms",
        Double.box((System.nanoTime() - tr.origin) / 1e6))
    }

    private def resolve(path: String): DataFrame = tr.span("tables.resolve") {
      val df = spark.read.parquet(path)
      df.schema
      df
    }

    private def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    private def counted(df: DataFrame): (org.apache.spark.sql.Observation,
        DataFrame) = {
      val obs = org.apache.spark.sql.Observation()
      (obs, df.observe(obs, count(lit(1)).as("rows")))
    }

    // ──────────────────────────── upload_browse ────────────────────────────

    /** The scheduled truncate-and-reload (Etl.run with silver = None,
      * then a parquet overwrite) of the staged raw_data table. */
    private def reload(bronze: DataFrame, silverDir: String, s: Span): Unit = {
      val (n, fresh) = tr.span("etl.run")(Etl.run(bronze, None))
      tr.span("etl.write")(fresh.write.mode("overwrite").parquet(silverDir))
      s.info("loaded") = n
    }

    /** Land one staged JSONL file and drain it with an AvailableNow
      * trigger; returns when its rows are committed to silver. */
    private def drain(file: String, uploads: String, silverDir: String,
        ckpt: String): Unit = {
      tr.span("stream.land") {
        Files.createDirectories(Paths.get(uploads))
        val src = Paths.get(file)
        Files.move(src, Paths.get(uploads).resolve(src.getFileName),
          StandardCopyOption.ATOMIC_MOVE)
      }
      val q = tr.span("stream.start")(
        UploadStream.start(spark, uploads, silverDir, ckpt))
      tr.alias(q.runId.toString)
      tr.span("stream.drain")(q.awaitTermination())
      q.exception.foreach(e => throw e)
    }

    private def page(silver: DataFrame, r: java.util.Map[String, AnyRef],
        s: Span): Unit = {
      def opt(k: String) = Option(r.get(k)).map(_.toString)
      val terms = r.get("terms").asInstanceOf[java.util.List[String]]
      val p = tr.span("dashboard.query")(Dashboard.query(silver,
        source = opt("source"), category = opt("category"),
        search = if (terms.isEmpty) None else Some(terms.asScala.mkString(" ")),
        page = r.get("page").asInstanceOf[Number].intValue))
      val rows = tr.span("dashboard.rows")(
        p.rows.select(PageCols.map(col): _*).collect())
      s.info("req") = r
      s.info("total") = p.total
      s.info("rows") = rows.map(row => PageCols.indices.map(row.getString))
    }

    /** One snapshot of the growing silver, as the dashboard re-reads it. */
    private def openSilver(silverDir: String): Option[DataFrame] =
      tr.op("silver.open") { s =>
        val df = resolve(silverDir)
        s.info("files") = df.inputFiles.map(f =>
          new File(new java.net.URI(f).getPath).getName).toSeq
        df
      }

    def uploadBrowse(): Unit = {
      // set-up: the reload that builds silver, repeated into fresh dirs
      val silverDir = setup { (s, i) =>
        val d = dir(s"silver_$i")
        reload(resolve(cfg.s("raw_data")), d, s)
        d
      }
      heap.settle()
      // priming (unmeasured): the first uploads, the first of which also
      // starts the stream's checkpoint, and the first pages, so JIT,
      // codegen and first-batch warm-up land outside the window
      val files = cfg.strs("upload_files")
      val uploads = dir("uploads")
      val ckpt = dir("ckpt")
      val warmFiles = cfg.i("warm_files")
      files.take(warmFiles).foreach(f =>
        tr.op("warmup")(_ => drain(f, uploads, silverDir, ckpt)))
      val reqs = cfg.list("requests")
        .map(_.asInstanceOf[java.util.Map[String, AnyRef]])
      val warm = cfg.i("warm_pages")
      val warmSilver = resolve(silverDir)
      reqs.take(warm).foreach(r => tr.op("warmup")(s => page(warmSilver, r, s)))

      heap.settle()
      quiesce()
      val perFile = cfg.i("pages_per_file")
      var landed = warmFiles
      var next = warm
      measure(min = cfg.i("min_files")) { k =>
        val file = files(k + warmFiles)
        tr.op("upload.file") { s =>
          drain(file, uploads, silverDir, ckpt)
          s.info("file") = new File(file).getName
        }
        landed += 1
        openSilver(silverDir).foreach { silver =>
          (0 until perFile).foreach { _ =>
            tr.op("page")(s => page(silver, reqs(next % reqs.size), s))
            next += 1
          }
        }
        heap.settle()
        landed < files.size
      }
      out.put("silver", silverDir)
      out.put("landed", Int.box(landed))
      // outside the window: the incremental re-load of the reload's bronze
      // against the grown silver (the url anti-join must append nothing),
      // then the run counters of the reload
      tr.op("etl.incremental") { s =>
        val (n, _) = tr.span("etl.run")(
          Etl.run(resolve(cfg.s("raw_data")), Some(resolve(silverDir))))
        s.info("appended") = n
      }
      etlCounters(resolve(cfg.s("raw_data")))
    }

    /** Run counters of the reload: bronze rows, Normalize.quarantine
      * rejects, the Etl.observedLoad tallies of the transform output and
      * the rows dedupForLoad keeps, observed on a load that is
      * independent of the reload's own count. Untraced runs need only the
      * counters, which a count action observes; traced runs materialize
      * through noop and also time cumulative prefixes (normalize, +
      * tokenize, + dedup), so per-stage time is the difference of
      * successive prefixes; they run that round twice and keep the
      * second, as the first also pays the prefixes' codegen. */
    private def etlCounters(bronze: DataFrame): Unit =
      (1 to (if (tr.on) 2 else 1)).foreach { _ =>
        tr.op("etl.probe") { s =>
          def run(name: String, df: DataFrame): Unit =
            if (tr.on) tr.span(name)(noop(df)) else df.count()
          val (inObs, in) = counted(bronze)
          val (badObs, bad) = counted(Normalize.quarantine(in)._2)
          run("probe.quarantine", bad)
          if (tr.on) {
            run("probe.normalize", Normalize.normalize(bronze))
            run("probe.tokenize", Etl.transform(bronze))
          }
          val (tObs, transformed) = Etl.observedLoad(Etl.transform(bronze))
          val (dObs, deduped) = counted(Etl.dedupForLoad(transformed, None))
          run("probe.dedup", deduped)
          s.info("rows_in") = inObs.get("rows")
          s.info("rows_rejected_parse") = badObs.get("rows")
          s.info("transform") = tObs.get
          s.info("dedup_rows") = dObs.get("rows")
        }
      }

    // ─────────────────────────── registry_heavy ───────────────────────────

    def registryHeavy(): Unit = {
      val names = cfg.strs("queries")
      val fns = names.map(n => n -> SparkEntry.queries(n))
      val main = cfg.s("tables_dir")
      // priming (unmeasured): every query once over the small priming
      // tables, so JIT and codegen warm-up land outside the window; the
      // set-up then drops every session cache (SessionCaches.resetAll, as
      // Bench does) and resolves the measured tables afresh
      val warmDir = cfg.s("warm_tables_dir")
      fns.foreach { case (n, fn) =>
        tr.op("warmup")(_ => noop(fn(spark, warmDir)))
      }
      heap.settle()
      quiesce()
      setup { (_, _) =>
        SessionCaches.resetAll()
        tr.span("tables.resolve")(cfg.strs("tables")
          .foreach(t => Tables.t(spark, main, t).schema))
      }
      heap.settle()
      quiesce()
      // each pass's wall and JVM CPU, from its first query's start to its
      // last query's end
      val passes = new java.util.ArrayList[AnyRef]()
      measure(min = cfg.i("min_passes")) { _ =>
        val (t0, c0) = (System.nanoTime(), Tracer.processCpuNs())
        fns.foreach { case (n, fn) =>
          tr.op(s"registry.$n") { _ =>
            val df = tr.span("registry.build")(fn(spark, main))
            tr.span("registry.materialize")(
              df.write.mode("overwrite").parquet(dir(s"out/$n")))
          }
        }
        passes.add(Json.toJava(Map("wall_ms" -> (System.nanoTime() - t0) / 1e6,
          "cpu_ms" -> (Tracer.processCpuNs() - c0) / 1e6)))
        heap.settle()
        true
      }
      out.put("passes", passes)
      out.put("outputs", dir("out"))
      out.put("oracles", Json.toJava(
        names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap))
    }
  }
}
