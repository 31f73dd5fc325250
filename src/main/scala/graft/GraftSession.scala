package graft

import org.apache.spark.sql.SparkSession

/** The library's session entry point: one place that encodes the
  * configuration this engine assumes, so a user switching from the
  * reference service gets a correctly-configured session in one call.
  *
  *   val spark = GraftSession.local()          // tests / single node
  *   val spark = GraftSession.configure(
  *     SparkSession.builder().master(...))     // cluster: bring your own
  *       .getOrCreate()
  *
  * What it sets and why:
  *   - AQE on (default) — runtime re-planning, skew-join splitting and
  *     partition coalescing are the 100 TB safety net.
  *   - `parquet.nanosAsLong` — some driver testdata generations carry
  *     TIMESTAMP(NANOS), which the vectorized reader otherwise rejects
  *     (Tables.t then truncates ns→us exactly like DuckDB does; naive
  *     TIMESTAMP(MICROS) generations surface as NTZ and Tables.t casts
  *     them to session-tz TIMESTAMP).
  *   - UTC session timezone — deterministic timestamp display/parse.
  *   - artifact isolation off — with it on (Spark's default) every
  *     session UUID gets its own executor class loader, and Structured
  *     Streaming runs each query in a cloned session with a new UUID.
  *     Spark's codegen cache is keyed by (class loader, code), so every
  *     `UploadStream.start` drain re-compiled its byte-identical plan
  *     (24 Janino compiles per upload).
  *     The engine never calls `addArtifact`, so per-session isolation
  *     buys it nothing; off, every session's tasks share the default
  *     class loader and a repeat drain hits the cache.
  *   - custom SQL functions registered (shingles, ngrams, cosine_sim,
  *     winnow_md5, minhash_md5_bands, simhash_md5_chunks, lattice_sigs,
  *     stem_tokens).
  *   - `local()` only: Spark UI off — no tool or test reads it, and
  *     every local session in this repo is built here (Bench, Verify,
  *     Explain, ScaleProbe, the test suites; `Smoke` alone stays bare, to
  *     check `SparkEntry.entry` in a session with no engine conf).
  * Shuffle partitions are a deploy-time decision: `local()` sizes them
  * to the core count; `configure` leaves the cluster default alone.
  */
object GraftSession {

  /** Shared config for any builder (cluster or local). Functions are
    * injected as session extensions, so both paths get the SQL surface. */
  def configure(b: SparkSession.Builder): SparkSession.Builder = b
    .withExtensions(new graft.functions.GraftExtensions)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.artifact.isolation.enabled", "false")

  /** Local session with every engine function registered. */
  def local(cores: Int = Runtime.getRuntime.availableProcessors(),
      appName: String = "graft"): SparkSession = {
    val spark = configure(SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString))
      .getOrCreate()
    graft.functions.GraftFunctions.register(spark)
    spark
  }
}
