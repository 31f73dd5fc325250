package graft

import org.apache.spark.sql.functions._

/** Invariants of the trend/longitudinal operators beyond the oracle:
  * reconciliation accounting, rolling-active ground truth, journey
  * ordering, and skew-factor bounds. */
class TrendQSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("snapshot diff verdicts account for every order exactly once") {
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    val n = orders.count()
    val removed = orders.filter($"o_orderkey" % 97 === 0).count()
    val out = SparkEntry.queries("q115_snapshot_diff")(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out.getOrElse("removed", 0L) == removed)
    assert(!out.contains("added")) // B ⊆ A by construction
    assert(out.values.sum == n)    // same + changed + removed = |A|
    assert(out.getOrElse("changed", 0L) ==
      orders.filter($"o_orderkey" % 89 === 0 && $"o_orderkey" % 97 =!= 0)
        .count())
  }

  test("rolling 7-day actives match brute force") {
    val events = Tables.t(spark, sf, "events")
      .select(date_trunc("day", $"ts").cast("date").cast("string").as("d"),
        $"user_id")
      .collect()
      .map(r => (java.time.LocalDate.parse(r.getString(0)), r.getLong(1)))
    val got = SparkEntry.queries("q108_rolling_active")(spark, sf)
      .select($"day".cast("string"), $"n_active").collect()
      .map(r => java.time.LocalDate.parse(r.getString(0)) -> r.getLong(1))
      .toMap
    // brute force: for each output day, distinct users in [day-6, day]
    got.foreach { case (day, n) =>
      val expect = events.filter { case (d, _) =>
        !d.isAfter(day) && !d.isBefore(day.minusDays(6))
      }.map(_._2).distinct.length
      assert(n == expect, s"day $day")
    }
    // every event day appears
    assert(events.map(_._1).distinct.forall(got.contains))
  }

  test("user journey is the ts-ordered first five, counts the full history") {
    val rows = SparkEntry.queries("q110_user_journey")(spark, sf).collect()
    val events = Tables.t(spark, sf, "events")
      .select($"user_id", $"ts".cast("long").as("ep"), $"event_id",
        $"event_type").collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2),
        r.getString(3))))
      .groupBy(_._1).map { case (u, es) =>
        val sorted = es.map(_._2).sortBy(e => (e._1, e._2)).map(_._3)
        u -> (es.length.toLong, sorted.take(5).mkString(">"))
      }
    rows.foreach { r =>
      val (n, j) = events(r.getLong(0))
      assert(r.getLong(1) == n && r.getString(2) == j,
        s"user ${r.getLong(0)}")
    }
    assert(rows.length == events.size)
  }

  test("skew factor is >= 1 and n_rows matches the table") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet").count()
    val rows = SparkEntry.queries("q116_skew_report")(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getDouble(4) >= 1.0, r.getString(0)) // max_f ≥ mean_f
    }
    assert(rows.filter(_.getString(0).startsWith("lineitem"))
      .forall(_.getLong(2) == li))
  }

  test("keyset page chains: page 2 starts after page 1's last row") {
    val p1 = SparkEntry.queries("q119_keyset_page")(spark, sf)
      .select($"o_orderkey",
        $"o_orderdate".cast("timestamp").cast("long").as("ep"))
      .collect()
    assert(p1.length == 10)
    val keys = p1.map(r => (r.getLong(1), r.getLong(0)))
    assert(keys.sameElements(keys.sortBy(identity)), "page is ordered")
    // all rows are strictly after the cursor (1998-06-15T00:00Z)
    val curEp = java.time.LocalDateTime.of(1998, 6, 15, 0, 0)
      .toEpochSecond(java.time.ZoneOffset.UTC)
    assert(keys.forall(k => k._1 > curEp ||
      (k._1 == curEp && k._2 > 1000L)))
  }

  test("gap fill: contiguous spine, no holes, interpolant between neighbors") {
    val rows = SparkEntry.queries("q153_gap_fill")(spark, sf)
      .select($"user_id", $"ed", $"cents", $"was_gap").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    val byUser = rows.groupBy(_._1)
    byUser.foreach { case (u, rs) =>
      val sorted = rs.sortBy(_._2)
      // spine is contiguous days, endpoints observed (never extrapolated)
      assert(sorted.map(_._2).toSeq ==
        (sorted.head._2 to sorted.last._2).toSeq, s"holes for user $u")
      assert(sorted.head._4 == 0L && sorted.last._4 == 0L)
      // every filled value lies within its real neighbors' closed range
      // (linear interpolation can't overshoot; integral DIV can't either)
      sorted.zipWithIndex.filter(_._1._4 == 1L).foreach { case (g, i) =>
        val pv = sorted.take(i).reverse.find(_._4 == 0L).get._3
        val nv = sorted.drop(i + 1).find(_._4 == 0L).get._3
        assert(g._3 >= math.min(pv, nv) && g._3 <= math.max(pv, nv),
          s"user $u day ${g._2}: ${g._3} outside [$pv, $nv]")
      }
    }
    // the dataset actually exercises the fill path
    assert(rows.count(_._4 == 1L) > 0, "no gaps filled at spec SF")
  }
}
