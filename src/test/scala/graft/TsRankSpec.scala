package graft

import org.apache.spark.sql.functions._
import graft.functions.TsRank

/** Exact ts_rank (q169/q170): the lookup tables match the published
  * closed forms, and the registered plans reproduce a from-scratch Scala
  * brute force of the same algorithm on real corpus text. */
class TsRankSpec extends SparkSpec {

  test("termScore matches the published calc_rank_or closed form") {
    // score(k) = (Σ_{j=1..k} w/j²) / (π²/6), accumulated sequentially
    var acc = 0.0
    for (k <- 1 to 256) {
      acc += TsRank.W / (k.toDouble * k)
      assert(TsRank.termScore(k - 1) == ((TsRank.W + acc) - TsRank.W) / TsRank.PiSq6)
    }
    // strictly increasing ((w+x)-w is monotone in x here)
    assert(TsRank.termScore.toSeq == TsRank.termScore.sorted.toSeq)
    // (0.1+0.1)-0.1 is exact in IEEE double (2x is exact), so head = w/den
    assert(TsRank.termScore.head == TsRank.W / TsRank.PiSq6)
  }

  test("curw table: monotone decreasing near weights, far-pair floor") {
    assert(TsRank.curw.length == 101)
    for (d <- 1 until 100)
      assert(TsRank.curw(d - 1) > TsRank.curw(d), s"curw not decreasing at $d")
    assert(TsRank.curw(100) == math.sqrt(TsRank.W * TsRank.W * 1e-30))
    assert(TsRank.curw(0) ==
      math.sqrt(TsRank.W * TsRank.W / (1.005 + 0.05 * math.exp(1 / 1.5))))
  }

  test("foldPairs: seed-from-first then 1-(1-r)(1-c), order-dependent") {
    val c1 = TsRank.curw(4)
    val c2 = TsRank.curw(19)
    assert(TsRank.foldPairs(Seq(5)) == c1)
    assert(TsRank.foldPairs(Seq(5, 20)) == 1.0 - (1.0 - c1) * (1.0 - c2))
    assert(TsRank.foldPairs(Seq(500)) == TsRank.curw(100)) // clamp to far pair
    assert(TsRank.foldPairs(Nil) == -1.0)
  }

  test("q169/q170 match a from-scratch brute force on sf0.001") {
    val dir = "/root/testdata/sf0.001"
    val docs = Tables.t(spark, dir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).toLowerCase.split(" ", -1).toSeq)

    // brute force, independent of the Column-DSL implementation
    val expTerm = docs.flatMap { case (id, toks) =>
      val k = math.min(toks.count(_ == "spark"), 256)
      if (k >= 1) Some((id, k.toLong, TsRank.termScore(k - 1))) else None
    }.sortBy(_._1).toSeq
    val expAnd = docs.flatMap { case (id, toks) =>
      val p1 = toks.zipWithIndex.collect { case ("spark", i) => i + 1 }.take(256)
      val p2 = toks.zipWithIndex.collect { case ("join", i) => i + 1 }.take(256)
      if (p1.nonEmpty && p2.nonEmpty) {
        val dists = for (a <- p1; b <- p2) yield math.min(math.abs(a - b), 101)
        Some((id, dists.size.toLong, TsRank.foldPairs(dists)))
      } else None
    }.sortBy(_._1).toSeq

    val gotTerm = SparkEntry.queries("q169_tsrank_term")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val gotAnd = SparkEntry.queries("q170_tsrank_and")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq

    assert(gotTerm.nonEmpty && gotAnd.nonEmpty)
    assert(gotTerm == expTerm) // exact double equality — same table, same fold
    assert(gotAnd == expAnd)

    // score_norm is the flag-32 map r/(r+1), exact
    val norms = SparkEntry.queries("q170_tsrank_and")(spark, dir)
      .select("score", "score_norm").collect()
    norms.foreach(r =>
      assert(r.getDouble(1) == r.getDouble(0) / (r.getDouble(0) + 1.0)))
  }

  test("q169 drops a document whose text is null, as the oracle does") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_nulltext").toString
    Seq((1L, Some("spark spark join")), (2L, None), (3L, Some("join")))
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q169_tsrank_term")(spark, dir)
      .select("doc_id", "n_hits").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L)))
  }

  test("the scoring is a pure projection — no hash shuffle, no join") {
    val dir = "/root/testdata/sf0.001"
    for (q <- Seq("q169_tsrank_term", "q170_tsrank_and")) {
      val plan = SparkEntry.queries(q)(spark, dir)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("hashpartitioning"), s"$q shuffles: $plan")
      assert(!plan.contains("Join"), s"$q joins: $plan")
    }
  }
}
