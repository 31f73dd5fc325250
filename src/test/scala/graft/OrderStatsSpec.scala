package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.OrderStats

/** Both order-statistic builders against brute force: `kth` against the
  * sorted values of each group, `rank` against a global `row_number`. */
class OrderStatsSpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(7)
  // values on a 100-cent grid over [-2500, 2500]: 51 distinct values for
  // 900 rows (heavy ties), every 1000-wide bucket edge across the origin
  // present, and weights 0..3 (zero weights included)
  private val rows: Seq[(String, Long, Long)] =
    Seq.fill(900)((Seq("a", "b", "c")(rnd.nextInt(3)),
      rnd.nextInt(51) * 100L - 2500L, rnd.nextInt(4).toLong)) :+
      (("solo", -1000L, 2L))
  private val df = rows.toDF("g", "v", "w")
  private val bucket = OrderStats.floorBucket(col("v"), lit(1000L))

  /** (n, k, value): the least value whose cumulative weight in value
    * order reaches k = ⌈num·n/den⌉. */
  private def brute(xs: Seq[(Long, Long)], num: Long,
      den: Long): (Long, Long, Long) = {
    val sorted = xs.sortBy(_._1)
    val n = xs.map(_._2).sum
    val k = (num * n + den - 1) / den
    val cum = sorted.scanLeft(0L)(_ + _._2).tail
    (n, k, sorted.zip(cum).collectFirst { case ((v, _), c) if c >= k => v }
      .get)
  }

  private val ks = Seq(("p10", 1L, 10L), ("p25", 1L, 4L), ("p50", 1L, 2L),
    ("p90", 9L, 10L), ("top", 1L, 1L))

  /** group → (n, then per k its value and k), from `kth`'s output. */
  private def got(out: DataFrame, keyed: Boolean,
      ks: Seq[(String, Long, Long)]): Map[String, Seq[Long]] =
    out.collect().map { r =>
      (if (keyed) r.getAs[String]("g") else "") ->
        (r.getAs[Long]("n") +: ks.flatMap { case (l, _, _) =>
          Seq(r.getAs[Long](l), r.getAs[Long](s"${l}_k")) })
    }.toMap

  private def expected(groups: Map[String, Seq[(Long, Long)]],
      ks: Seq[(String, Long, Long)]): Map[String, Seq[Long]] =
    groups.filter(_._2.map(_._2).sum > 0).map { case (g, xs) =>
      g -> (xs.map(_._2).sum +: ks.flatMap { case (_, num, den) =>
        val (_, k, v) = brute(xs, num, den)
        Seq(v, k)
      })
    }

  test("kth equals the sorted order statistics, grouped and global") {
    val unit = rows.map { case (g, v, _) => (g, (v, 1L)) }
    val byGroup = unit.groupBy(_._1).map { case (g, xs) => g -> xs.map(_._2) }
    for (kk <- Seq(ks, Seq(("med", 1L, 2L)))) {
      val grouped = got(OrderStats.kth(df, Seq("g"), "v", bucket, kk),
        true, kk)
      assert(grouped == expected(byGroup, kk))
      // the one-row group answers its only value for every k
      assert(grouped("solo") == 1L +: kk.flatMap(_ => Seq(-1000L, 1L)))
      assert(got(OrderStats.kth(df, Nil, "v", bucket, kk), false, kk) ==
        expected(Map("" -> unit.map(_._2)), kk))
    }
  }

  test("weighted kth skips zero weights like the cumulative-weight brute") {
    val weighted = rows.map { case (g, v, w) => (g, (v, w)) }
    val byGroup = weighted.groupBy(_._1)
      .map { case (g, xs) => g -> xs.map(_._2) }
    assert(rows.exists(_._3 == 0L))
    for (kk <- Seq(ks, Seq(("med", 1L, 2L)))) {
      assert(got(OrderStats.kth(df, Seq("g"), "v", bucket, kk,
        weight = col("w")), true, kk) == expected(byGroup, kk))
      assert(got(OrderStats.kth(df, Nil, "v", bucket, kk,
        weight = col("w")), false, kk) ==
        expected(Map("" -> weighted.map(_._2)), kk))
    }
  }

  test("kth on the first and last row of a bucket, two ks in one bucket") {
    // values 1..10 at width 5: buckets {1..4}, {5..9}, {10}; k = 1 and 4
    // are bucket 0's first and last rows, k = 5 and 9 bucket 1's
    val d = (1L to 10L).map(v => ("x", v)).toDF("g", "v")
    val edge = Seq(("k1", 1L, 10L), ("k4", 4L, 10L), ("k5", 5L, 10L),
      ("k9", 9L, 10L), ("k10", 1L, 1L))
    val out = got(OrderStats.kth(d, Seq("g"), "v",
      OrderStats.floorBucket(col("v"), lit(5L)), edge), true, edge)
    assert(out == Map("x" -> Seq(10L, 1L, 1L, 4L, 4L, 5L, 5L, 9L, 9L,
      10L, 10L)))
  }

  /** `rank` against the global row_number over the `total` order that
    * (`bk`, `order`) spells. s ∈ [-48, 48]: ~6 ties per value. */
  private def checkRank(bk: Seq[Column], order: Seq[Column],
      total: Seq[Column]): Unit = {
    val r = spark.range(0, 600).select(col("id"),
      (pmod(col("id") * 7919L, lit(97L)) - 48L).as("s"))
    val want = r.withColumn("r",
      row_number().over(Window.orderBy(total: _*)).cast("long"))
    val got = OrderStats.rank(r, bk, order, "r")
    assert(got.columns.toSeq == Seq("id", "s", "r"))
    assert(got.orderBy("id").as[(Long, Long, Long)].collect().toSeq ==
      want.orderBy("id").as[(Long, Long, Long)].collect().toSeq)
  }

  test("rank equals a global row_number, ascending and descending buckets") {
    val s10 = OrderStats.floorBucket(col("s"), lit(10L))
    checkRank(Seq(s10), Seq(col("s"), col("id")), Seq(col("s"), col("id")))
    checkRank(Seq(-s10), Seq(desc("s"), asc("id")),
      Seq(desc("s"), asc("id")))
    // a two-column bucket, descending then ascending (q228's order)
    val id4 = pmod(col("id"), lit(4L))
    checkRank(Seq(-col("s"), id4), Seq(col("id")),
      Seq(desc("s"), id4, col("id")))
  }
}
