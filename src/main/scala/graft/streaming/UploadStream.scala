package graft.streaming

import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.model.Schemas
import graft.pipeline.Etl

/** Event-driven ingestion (§3.3 / R2): a Structured Streaming file source
  * watching an uploads directory of JSONL envelopes; each micro-batch runs
  * the same normalize→dedup→append pipeline via foreachBatch.
  *
  * `Trigger.AvailableNow` (the default) drains everything present then
  * stops — the deterministic test/backfill mode; a deployment passes
  * `Trigger.ProcessingTime` for the cron mode (the reference's 3-hourly
  * Celery beat, R1) — the long-lived query then picks up files as they
  * arrive, one micro-batch per interval, same pipeline per batch.
  * Checkpointing + the url anti-join give exactly-once effective loads on
  * top of at-least-once task retries (R4). */
object UploadStream {

  /** The read errors that mean "no silver yet": a missing dir, or one
    * with no data files. Anything else (a corrupt or unreadable file)
    * fails the batch, so the checkpoint replays it, instead of skipping
    * the url anti-join and appending duplicates. */
  private val noSilver = Set("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA")

  /** `maxFilesPerTrigger` paces a large backfill: AvailableNow still
    * drains EVERYTHING, but in bounded micro-batches instead of one
    * giant batch — the knob that keeps a million-file catch-up from
    * planning a single million-split scan. 0 = unbounded (default). */
  def start(spark: SparkSession, uploadsDir: String, silverDir: String,
      checkpointDir: String, refYear: Int = 2025,
      trigger: Trigger = Trigger.AvailableNow(),
      maxFilesPerTrigger: Int = 0): StreamingQuery = {
    val reader = spark.readStream
      .schema(Schemas.rawEnvelope)
    val bronze = (if (maxFilesPerTrigger > 0)
      reader.option("maxFilesPerTrigger", maxFilesPerTrigger)
    else reader).json(uploadsDir)

    bronze.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val existing =
          try Some(spark.read.parquet(silverDir))
          catch {
            case e: AnalysisException if noSilver(e.getCondition) => None
          }
        val appended = Etl.dedupForLoad(Etl.transform(batch, refYear),
          existing)
        appended.write.mode("append").parquet(silverDir)
      }
      .start()
  }

  /** Windowed streaming aggregation with a watermark (R5 note): hourly
    * counts per source with 10-minute lateness bound — the streaming twin
    * of EtlQ.q24. */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("source"))
      .agg(count(lit(1)).as("n"))

  /** Sliding (hopping) windowed counts with a watermark — the streaming
    * twin of CorpusQ.q99_sliding_window: every event lands in the 4
    * one-hour windows that cover it; state is bounded by the watermark
    * (closed windows are emitted and dropped, append mode). */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("n"))

  /** Stream-static enrichment: join each micro-batch against a (small,
    * slowly-changing) dimension table — the J3 config-lookup join in
    * streaming form. The broadcast keeps the stream side shuffle-free;
    * the static side is re-resolved per trigger, so a refreshed dimension
    * file is picked up without restarting the query. */
  def enriched(stream: DataFrame, dim: DataFrame, key: String): DataFrame =
    stream.join(broadcast(dim), Seq(key), "left")
}
