package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables.ldiv

/** Exact order statistics and global ranks without a window over raw
  * rows that is partitioned by a bare group key, or by nothing (a
  * 100 TB group, or the whole table, would serialize into one task).
  *
  * Both builders share one step: a histogram of per-bucket weight, and
  * each histogram row's cumulative offset — the weight of every earlier
  * bucket of its group — from a window over the histogram alone
  * (≤ |groups| × |buckets| rows). Every window over raw rows is
  * bucket-scoped:
  *
  *   - `kth` finds the bucket holding each k from the offsets, collapses
  *     only that bucket's rows per distinct value, and takes the least
  *     value whose bucket-local cumulative weight reaches `k − offset`.
  *   - `rank` adds a bucket-partitioned `row_number` to the offset.
  *
  * Cross-bucket order must be the wanted order: the bucket is
  * non-decreasing in the value (`kth`) or along the rank order (`rank`).
  * To order buckets descending, negate the bucket. */
object OrderStats {

  /** Exact floor(v / w) for integer columns: the bucket of value `v` at
    * width `w`. Integral division truncates toward zero, which would fold
    * buckets −1 and 0 together across the origin. */
  def floorBucket(v: Column, w: Column): Column = ldiv(v - pmod(v, w), w)

  /** The weight of every histogram row before this one in its group,
    * ordered by `bucket`; 0 for a group's first bucket. */
  private def offset(keys: Seq[String], bucket: Seq[String],
      cnt: String): Column =
    coalesce(sum(cnt).over(Window.partitionBy(keys.map(col): _*)
      .orderBy(bucket.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, -1)), lit(0L))

  /** An equi-join on `keys`; a cross join when there are none. */
  private def joinOn(l: DataFrame, r: DataFrame,
      keys: Seq[String]): DataFrame =
    if (keys.isEmpty) l.crossJoin(r) else l.join(r, keys)

  /** Exact lower k-th order statistics of `value` per `keys` group (an
    * empty `keys` is one global group). Each `(label, num, den)` selects
    * k = ⌈num·n/den⌉, where n is the group's total `weight`: the least
    * value whose cumulative weight, in value order, reaches k. With the
    * default weight 1 that is the value at `row_number = k`.
    *
    * Returns `keys`, `n`, and per k its value as `label` and its k as
    * `label_k`. A group with no k in range (total weight 0) is absent.
    * `bucket` is evaluated on `df` and must be non-decreasing in `value`
    * (`floorBucket` for a value that can be negative). The input is read
    * twice (histogram, then the selected buckets' rows); checkpoint an
    * input that is costly to recompute before the call. */
  def kth(df: DataFrame, keys: Seq[String], value: String, bucket: Column,
      ks: Seq[(String, Long, Long)], weight: Column = lit(1L)): DataFrame = {
    // the k a target row serves, when a bucket can serve more than one
    val q = if (ks.size > 1) Seq("__q") else Nil
    val v = df.select(keys.map(col) ++ Seq(col(value), weight.as("__w"),
      bucket.as("__bk")): _*)
    val hist = v.groupBy((keys :+ "__bk").map(col): _*)
      .agg(sum("__w").as("__cnt"))
    val n = sum("__cnt")
    val kCols = ks.map { case (label, num, den) =>
      ldiv((if (num == 1) n else n * num) + (den - 1), lit(den))
        .as(s"${label}_k") }
    val nk = hist.groupBy(keys.map(col): _*)
      .agg(n.as("n"), kCols: _*)
    // one (label, k) row per group and k; a lone k needs no label
    val kCol = if (q.isEmpty) col(s"${ks.head._1}_k").as("__k")
      else inline(array(ks.map { case (label, _, _) =>
        struct(lit(label).as("__q"), col(s"${label}_k").as("__k")) }: _*))
    // n and every label_k ride to the output under private names (no
    // clash with the input's columns), so the plan reads nk once; each
    // is one value per group, which `max` passes through the aggregates
    val nkCols = "n" +: ks.map { case (l, _, _) => s"${l}_k" }
    val carried = nkCols.map(c => s"__o$c")
    val kRows = nk.select(keys.map(col) ++
      nkCols.zip(carried).map { case (c, o) => col(c).as(o) } :+ kCol: _*)
    // (group, bucket) of each k, renamed on the target side so that the
    // join below keeps only the input's copy
    val on = (keys :+ "__bk").map(c => c -> s"__t$c")
    val targets = joinOn(
        hist.withColumn("__below", offset(keys, Seq("__bk"), "__cnt")),
        broadcast(kRows), keys)
      .filter(col("__below") < col("__k") &&
        col("__k") <= col("__below") + col("__cnt"))
      .select(on.map { case (c, t) => col(c).as(t) } ++
        Seq((col("__k") - col("__below")).as("local_k")) ++
        (q ++ carried).map(col): _*)
    val part = keys ++ q :+ "__bk"
    val cum = Window.partitionBy(part.map(col): _*).orderBy(value)
      .rowsBetween(Window.unboundedPreceding, 0)
    val carry = carried.map(c => max(c).as(c))
    val picks = ks.map { case (label, _, _) =>
      min(if (q.isEmpty) col(value)
        else when(col("__q") === label, col(value))).as(label) }
    v.join(broadcast(targets),
        on.map { case (c, t) => col(c) === col(t) }.reduce(_ && _))
      .groupBy((part ++ Seq(value, "local_k")).map(col): _*)
      .agg(sum("__w").as("__cw"), carry: _*)
      .withColumn("__cum", sum("__cw").over(cum))
      .filter(col("__cum") >= col("local_k"))
      .groupBy(keys.map(col): _*)
      .agg(picks.head, picks.tail ++ carry: _*)
      .select(keys.map(col) ++ (col("__on").as("n") +: ks.flatMap {
        case (l, _, _) =>
          Seq(col(l), col(s"__o${l}_k").as(s"${l}_k")) }): _*)
  }

  /** Appends `out`, the exact 1-based global rank of each row in the
    * order (`bucket` ascending, then `order` within a bucket) — equal to
    * `row_number()` over that order with no partition, which would run
    * in one task. `bucket` expressions are evaluated on `df`; the number
    * of distinct buckets bounds the histogram. */
  def rank(df: DataFrame, bucket: Seq[Column], order: Seq[Column],
      out: String): DataFrame = {
    val bk = bucket.indices.map(i => s"__bk$i")
    val b = df.withColumns(bk.zip(bucket).toMap)
    val off = b.groupBy(bk.map(col): _*).agg(count(lit(1)).as("__cnt"))
      .select(bk.map(col) :+ offset(Nil, bk, "__cnt").as("__off"): _*)
    val in = Window.partitionBy(bk.map(col): _*).orderBy(order: _*)
    b.join(broadcast(off), bk)
      .withColumn(out, col("__off") + row_number().over(in))
      .drop(bk :+ "__off": _*)
  }
}
