package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Shuffle-shape utilities for the 100 TB regime: skew-salted two-stage
  * aggregation, co-partitioned writes, and AQE-aware repartitioning.
  *
  * Salting: a groupBy on a key with hot values puts one executor on the
  * hot key's entire partition. Stage 1 groups on (key, salt) — hot keys
  * split across `saltBuckets` reducers and partial-aggregate map-side;
  * stage 2 merges the per-salt partials. Results are bit-identical to the
  * unsalted plan for decomposable aggregates (sum/count/min/max). */
object Partitioning {

  /** Two-stage salted sum/count aggregation over decomposable aggregates.
    * `aggs` maps output column name → (stage1 agg of input, stage2 merge
    * of the stage-1 partial). */
  def saltedAgg(df: DataFrame, key: String, saltBuckets: Int,
      aggs: Map[String, (Column, Column => Column)]): DataFrame = {
    val salted = df.withColumn("__salt",
      pmod(hash(col(key), monotonically_increasing_id()), lit(saltBuckets)))
    val stage1 = salted.groupBy(col(key), col("__salt"))
      .agg(aggs.head._2._1.as(s"__p_${aggs.head._1}"),
        aggs.tail.map { case (n, (a, _)) => a.as(s"__p_$n") }.toSeq: _*)
    stage1.groupBy(col(key))
      .agg(aggs.head._2._2(col(s"__p_${aggs.head._1}")).as(aggs.head._1),
        aggs.tail.map { case (n, (_, m)) => m(col(s"__p_$n")).as(n) }
          .toSeq: _*)
  }

  /** Convenience: salted count + decimal-exact sum (the common hot-key
    * rollup), result identical to plain groupBy(key). */
  def saltedCountSum(df: DataFrame, key: String, valueCol: String,
      scale: Int, saltBuckets: Int = 16): DataFrame =
    saltedAgg(df, key, saltBuckets, Map(
      "n" -> (count(lit(1)), (c: Column) => sum(c).cast("long")),
      "sum_value" -> (
        sum(col(valueCol).cast(
          org.apache.spark.sql.types.DecimalType(30, scale))),
        (c: Column) => sum(c).cast("double"))))

  /** Skew-salted equi-join: the big (skewed) side gets a random salt in
    * [0, buckets); the small side is replicated once per salt value, so a
    * hot key's rows spread across `buckets` reducers instead of one.
    * Result is row-identical to the plain inner join. (AQE's skew-join
    * handles sort-merge cases automatically; this is the explicit variant
    * for when the planner can't see the skew.) */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
      saltBuckets: Int = 16): DataFrame = {
    val saltedBig = big.withColumn("__salt",
      pmod(hash(col(key), monotonically_increasing_id()), lit(saltBuckets)))
    val replicatedSmall = small.withColumn("__salt",
      explode(array((0 until saltBuckets).map(lit(_)): _*)))
    saltedBig.join(replicatedSmall, Seq(key, "__salt")).drop("__salt")
  }

  /** Guarantee at least default-parallelism-way input partitioning ahead
    * of a compute-heavy per-row stage (sketch signatures, shingling,
    * pairwise similarity). A big scan already has enough splits and passes
    * through untouched — no extra shuffle at scale; a small single-file
    * scan (where the whole downstream stage would otherwise run as ONE
    * task) gets one cheap round-robin shuffle so the work uses every
    * core.
    *
    * Cost note: reading `df.rdd.getNumPartitions` compiles the input's
    * physical plan once just for the probe (driver-side only, no job).
    * That is deliberate: callers pass a cheap projection over a scan, and
    * a wrong answer in either direction (skipping the spread on a
    * one-split scan, or blind-repartitioning a petabyte input) costs far
    * more than one extra planning pass.
    *
    * Where to spread is chosen per query, not by a plan-shape rule: a
    * trigger on typed closures would also spread q105 (faster) and q136
    * (slower), and `ShinglesExpr` sits in spread and unspread stages
    * alike. The per-document codec pipelines get their spread input from
    * `Tables.docText`; the expression-family queries call this directly;
    * `PlanSpec` pins the set of queries that spread a scan. */
  def ensureParallel(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= target) df else df.repartition(target)
  }

  /** Hive-style directory partitioning on a low-cardinality column:
    * reads filtered on `key` prune to matching directories (the storage
    * analogue of the reference's btree-on-source index, SURVEY §4). */
  def writePartitionedBy(df: DataFrame, path: String, key: String): Unit =
    df.write.mode("overwrite").partitionBy(key).parquet(path)

  /** Small-file compaction: rewrite a many-small-files dataset as
    * ~`targetRowsPerFile`-row files, RANGE-clustered and sorted on
    * `sortKey`. Streaming sinks and fine-grained ingest leave thousands
    * of KB-sized files per partition; at 100 TB that turns every scan
    * into a task-scheduling and footer-parsing storm. Range partitioning
    * (one sample pass) + in-file sort gives each output file a tight
    * min/max band on `sortKey`, so post-compaction scans filtered on it
    * prune whole files from parquet footer stats alone. The row count
    * comes from one cheap count job; `maxRecordsPerFile` caps stragglers
    * if the range sampling under-splits a dense band. */
  def compact(df: DataFrame, path: String, sortKey: String,
      targetRowsPerFile: Long): Unit = {
    val n = df.count()
    val files = math.max(1L, (n + targetRowsPerFile - 1) / targetRowsPerFile)
      .toInt
    df.repartitionByRange(files, col(sortKey))
      .sortWithinPartitions(col(sortKey))
      .write.mode("overwrite")
      .option("maxRecordsPerFile", targetRowsPerFile)
      .parquet(path)
  }

  /** Morton (Z-order) value of two non-negative integer columns: the
    * low `bits` of each interleaved a₀b₀a₁b₁…. Sorting/range-partitioning
    * by this single value clusters rows that are close in BOTH
    * dimensions, so parquet footer min/max stats prune files for
    * predicates on EITHER column — a linear sort on one key leaves the
    * other column's per-file range as wide as the table. Pure Column
    * bit algebra (codegen'd, no UDF); 2·bits must fit a long, so
    * bits ≤ 31. */
  def zvalue(a: Column, b: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    (0 until bits).map { i =>
      (shiftleft(shiftrightunsigned(a, i).bitwiseAND(lit(1L)), 2 * i))
        .bitwiseOR(
          shiftleft(shiftrightunsigned(b, i).bitwiseAND(lit(1L)),
            2 * i + 1))
    }.reduce(_.bitwiseOR(_))
  }

  /** Z-order clustered write: `compact`, but range-clustered on the
    * interleaved value of two keys so footer-stats pruning works for
    * both. */
  def compactZOrder(df: DataFrame, path: String, keyA: String,
      keyB: String, bits: Int, targetRowsPerFile: Long): Unit = {
    val z = zvalue(col(keyA), col(keyB), bits)
    val n = df.count()
    val files = math.max(1L, (n + targetRowsPerFile - 1) / targetRowsPerFile)
      .toInt
    df.withColumn("__z", z)
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite")
      .option("maxRecordsPerFile", targetRowsPerFile)
      .parquet(path)
  }
}
