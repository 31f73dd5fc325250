package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Column
import org.apache.spark.sql.types.DecimalType

/** Table loading + oracle-parity helpers shared by all query modules. */
object Tables {
  /** Read one of the driver-generated parquet tables from an sf dir,
    * normalizing timestamp physical types across testdata generations.
    * The driver has shipped events.ts as physical TIMESTAMP(NANOS) —
    * which Spark's vectorized reader rejects, so it surfaces as raw
    * nanos under nanosAsLong; truncate to micros, exactly what DuckDB
    * does when it narrows ns → its us-precision timestamp — and as
    * naive TIMESTAMP(MICROS) (isAdjustedToUTC=false), which Spark
    * infers as TIMESTAMP_NTZ. Every query and oracle is written against
    * session-tz TIMESTAMP with the session pinned to UTC, so cast NTZ
    * columns to TIMESTAMP: wall-clock is preserved and DuckDB sees the
    * same naive values either way. */
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    tableCache.computeIfAbsent((spark, dir, name),
      _ => tUncached(spark, dir, name))

  // Memoized SOURCE RESOLUTION per (session, dir, table): every
  // spark.read.parquet call lists the directory and re-reads the footer
  // schema on the driver — ~1 400 resolutions per bench run (317 queries
  // × 3 runs × tables), all inside the timed region. The cached value is
  // the resolved LAZY plan (metadata only — a catalog analogue); every
  // action still computes from the parquet bytes, so this is not result
  // caching. The testdata dirs are immutable per session; a new session
  // (tests, Verify vs Bench) resolves fresh via the session key, and
  // Bench's warm-up→timed reset clears the map with the other caches.
  private val tableCache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, String), DataFrame]()
  SessionCaches.register(() => tableCache.clear())

  // A session built without GraftSession (the driver's bare one) gets
  // the engine's functions and optimizer rule here, on its first table
  // resolution; registering again is a no-op.
  private def tUncached(spark: SparkSession, dir: String,
      name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    graft.functions.GraftFunctions.register(spark)
    val df = spark.read.parquet(s"$dir/$name.parquet")
    val ntzFixed = df.schema.fields.foldLeft(df) { (d, f) =>
      if (f.dataType == org.apache.spark.sql.types.TimestampNTZType)
        d.withColumn(f.name, col(f.name).cast("timestamp"))
      else d
    }
    if (name == "events" && df.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      ntzFixed.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else ntzFixed
  }

  /** The `documents` table as typed `(doc_id, text)` rows, optionally
    * filtered by `where`, spread over every core
    * (`Partitioning.ensureParallel`): the input of the per-document codec
    * pipelines, whose typed closures are each query's CPU-heavy stage. */
  def docText(spark: SparkSession, dir: String): Dataset[(Long, String)] =
    spread(spark, t(spark, dir, "documents"))

  def docText(spark: SparkSession, dir: String,
      where: Column): Dataset[(Long, String)] =
    spread(spark, t(spark, dir, "documents").filter(where))

  private def spread(spark: SparkSession,
      docs: DataFrame): Dataset[(Long, String)] = {
    import spark.implicits._
    graft.ops.Partitioning.ensureParallel(
      docs.select(col("doc_id"), col("text"))).as[(Long, String)]
  }

  /** Exact money-sum: cast each double to DECIMAL(scale) first so the sum is
    * order-independent (float summation order differs between Spark's partial
    * aggregation and DuckDB's scan order; decimals make both exact), then cast
    * the final sum back to double for a stable comparable value. */
  def dsum(c: Column, scale: Int): Column =
    sum(c.cast(DecimalType(30, scale))).cast("double")

  /** Order-independent average built from the exact decimal sum. */
  def davg(c: Column, scale: Int): Column =
    sum(c.cast(DecimalType(30, scale))).cast("double") / count(lit(1))

  /** Lower-cased whitespace tokens — the shared tokenizer of the text ops.
    * Documents in the testdata are single-space separated, so a plain split
    * matches DuckDB's string_split(lower(text), ' ') exactly. */
  def toks(c: Column): Column = split(lower(c), " ")

  /** Exact integer division (Spark SQL's `DIV`, DuckDB's `//`) as a Column
    * op — the Scala functions API has no integral divide, and `floor(a/b)`
    * routes through doubles (inexact past 2^53). Codegen'd builtin, not a
    * UDF; the backbone of the repo's integer micro-unit discipline (means,
    * basis points, deciles) where a rounded double would be engine- or
    * order-dependent. Both engines truncate toward zero (probed: DuckDB
    * -5//2 = -2, Spark -5 DIV 2 = -2), so the equivalence holds for
    * negative operands too; property-tested in PropertySpec. */
  def ldiv(a: Column, b: Column): Column =
    org.apache.spark.sql.graftglue.ColumnGlue.col(
      org.apache.spark.sql.catalyst.expressions.IntegralDivide(
        org.apache.spark.sql.graftglue.ColumnGlue.expr(a),
        org.apache.spark.sql.graftglue.ColumnGlue.expr(b)))
}
