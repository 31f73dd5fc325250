package graft

import org.apache.spark.sql.functions._

/** Round-5 additions q182/q183/q184: every check recomputes the result
  * from raw rows in plain Scala (no Spark ops), so a Catalyst
  * expression bug and a test bug can't cancel out. */
class KmeansMaskSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private lazy val vecs: Seq[(Long, Array[Long])] =
    spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](1).map(v =>
          math.floor(v.toDouble * 1000).toLong).toArray))
      .toSeq.sortBy(_._1)

  private def assignBrute(cents: Seq[(Long, Array[Long])])
      : Seq[(Long, Array[Long], Long, Long, Long)] =
    vecs.map { case (id, q) =>
      val (cid, dist, cs) = cents.map { case (c, cent) =>
        val d = q.zip(cent).map { case (a, b) => (a - b) * (a - b) }.sum
        (c, d, cent.sum)
      }.minBy(t => (t._2, t._1))
      (id, q, cid, dist, cs)
    }

  private def updateBrute(a: Seq[(Long, Array[Long], Long, Long, Long)])
      : Seq[(Long, Array[Long])] =
    a.groupBy(_._3).toSeq.map { case (cid, rows) =>
      val n = rows.length
      val cent = (0 until 64).map { i =>
        val s = rows.map(_._2(i)).sum
        // IntegralDivide truncates toward zero, like Scala's /
        s / n
      }.toArray
      (cid, cent)
    }.sortBy(_._1)

  test("q182: k-means census equals the brute-force Lloyd rounds") {
    val c0 = vecs.filter(_._1 < 4).map { case (id, q) => (id, q) }
    val a3 = assignBrute(updateBrute(assignBrute(
      updateBrute(assignBrute(c0)))))
    val exact = a3.groupBy(_._3).toSeq.map { case (cid, rows) =>
      (cid, rows.length.toLong, rows.map(_._4).sum, rows.head._5)
    }.sortBy(_._1)
    val got = SparkEntry.queries("q182_kmeans_embed")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got == exact)
    assert(got.map(_._2).sum == vecs.length.toLong)
  }

  test("q185: PQ codebook census equals brute force, all cells covered") {
    // subvector of vec for subspace s
    def sv(q: Array[Long], s: Int): Array[Long] = q.slice(s * 8, s * 8 + 8)
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val c0: Map[(Int, Long), Array[Long]] = (for {
      (id, q) <- vecs if id < 4; s <- 0 until 8
    } yield ((s, id), sv(q, s))).toMap
    def assign(cb: Map[(Int, Long), Array[Long]]) =
      for ((id, q) <- vecs; s <- 0 until 8) yield {
        val (code, dist) = cb.collect { case ((`s`, c), cent) =>
          (c, d2(sv(q, s), cent)) }.toSeq.minBy(t => (t._2, t._1))
        (id, s, code, dist)
      }
    val cb1 = assign(c0).groupBy(a => (a._2, a._3)).map { case ((s, c), rows) =>
      val members = rows.map(r => sv(vecs.find(_._1 == r._1).get._2, s))
      ((s, c), (0 until 8).map(j =>
        members.map(_(j)).sum / members.length).toArray)
    }
    val exact = assign(cb1).groupBy(a => (a._2, a._3)).toSeq
      .map { case ((s, c), rows) =>
        (s.toLong, c, rows.length.toLong, rows.map(_._4).sum,
          cb1((s, c)).sum)
      }.sortBy(t => (t._1, t._2))
    val got = SparkEntry.queries("q185_product_quant")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == exact)
    // every vector got one code per subspace
    assert(got.map(_._3).sum == 8L * vecs.length)
  }

  test("q189: greedy MMR selection equals brute force") {
    def simNeg(a: Array[Long], b: Array[Long]): Long =
      -a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val qvec = vecs.find(_._1 == 1L).get._2
    val cand = vecs.filter(_._1 != 1L)
      .map { case (id, q) => (id, q, simNeg(q, qvec)) }
    var sel = Vector.empty[(Long, Array[Long], Long, Long)]
    for (_ <- 1 to 4) {
      val picked = cand.filter(c => !sel.exists(_._1 == c._1))
        .map { case (id, q, rel) =>
          val pen = if (sel.isEmpty) 0L
            else sel.map(s => simNeg(q, s._2)).max
          (id, q, rel, 7L * rel - 3L * pen)
        }.minBy(t => (-t._4, t._1))
      sel :+= picked
    }
    val exact = sel.zipWithIndex
      .map { case ((id, _, rel, sc), i) => (i + 1L, id, rel, sc) }
    val got = SparkEntry.queries("q189_mmr_select")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got == exact)
    // diversity: the four picks are distinct and never the query itself
    assert(got.map(_._2).distinct.size == 4 && !got.map(_._2).contains(1L))
  }

  test("q183: Simpson concentration equals brute force per source") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val exact = docs.groupBy(_._1).toSeq.map { case (src, rows) =>
      val counts = rows.flatMap(_._2.toLowerCase.split(" ", -1))
        .groupBy(identity).map(_._2.length.toLong).toSeq
      val n = counts.sum
      val c2 = counts.map(c => c * c).sum
      (src, n, counts.length.toLong,
        c2 * 100000000L / (n * n), counts.max * 1000000L / n)
    }.sortBy(_._1)
    val got = SparkEntry.queries("q183_token_simpson")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(got == exact)
    // Simpson is a probability: 1/n_types·1e8 ≤ pp100m ≤ 1e8
    got.foreach { case (_, _, types, pp, _) =>
      assert(pp >= 100000000L / (types * types) && pp <= 100000000L)
    }
  }

  test("q190: Poisson bootstrap replicas equal the mixer recomputed") {
    val events = Tables.t(spark, sf, "events")
      .select("event_id", "value").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val cdf = Seq(367879L, 735759L, 919699L, 981012L, 996340L,
      999406L, 999917L, 999990L)
    val exact = (0L to 9L).map { b =>
      val rows = events.map { case (id, v) =>
        val cents = math.floor(v * 100).toLong
        val u = ((id * 48271L + b * 16807L + 12345L) % 2147483647L) *
          48271L % 2147483647L % 1000000L
        val w = cdf.indexWhere(u < _) match {
          case -1 => 8L; case i => i.toLong
        }
        (w, w * cents)
      }
      val (n, ws) = (rows.map(_._1).sum, rows.map(_._2).sum)
      (b, n, ws / n)
    }
    val got = SparkEntry.queries(
        "q190_poisson_bootstrap")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == exact)
    // each replica resamples ~n rows and its mean stays near the truth
    val trueMean = events.map(e => math.floor(e._2 * 100).toLong).sum /
      events.length
    got.foreach { case (_, n, m) =>
      assert(math.abs(n - events.length) < events.length / 2)
      assert(math.abs(m - trueMean) < trueMean / 2)
    }
  }

  test("q191: patch stats recompute from the raw bytes") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val exact = docs.filter(d => d._1 % 3 == 0 && d._2.nonEmpty)
      .flatMap { case (id, text) =>
        val bytes = text.getBytes("UTF-8")
        (0 until (bytes.length + 31) / 32).map { p =>
          val chunk = bytes.slice(p * 32, math.min(p * 32 + 32, bytes.length))
          (id, p, chunk.length,
            chunk.map(b => (b & 0xFF).toLong).sum,
            chunk.zipWithIndex.map { case (b, i) =>
              (i + 1L) * (b & 0xFF) }.sum)
        }
      }.sortBy(t => (t._1, t._2)).toSeq
    val got = SparkEntry.queries("q191_image_patchify")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == exact)
    // every patch except possibly the last per doc is exactly 32 bytes
    got.groupBy(_._1).values.foreach { ps =>
      ps.init.foreach(p => assert(p._3 == 32))
    }
  }

  test("q192: contingency cells partition the corpus, shares sum to 1") {
    val got = SparkEntry.queries(
        "q192_gate_dedup_interaction")(spark, sf).collect()
      .map(r => (r.getBoolean(0), r.getBoolean(1), r.getLong(2),
        r.getLong(3)))
    val nDocs = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(got.map(_._3).sum == nDocs)
    assert(got.map(t => (t._1, t._2)).distinct.length == got.length)
    // DIV truncation loses at most (cells-1) bp
    val bp = got.map(_._4).sum
    assert(bp > 10000L - got.length && bp <= 10000L)
  }

  test("q193: subtraction ablation equals direct leave-one-out stats") {
    val stops = Set("the", "a", "an", "of", "to", "and", "in", "is",
      "on", "for")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("source", "text").collect()
      .map { r =>
        val tk = r.getString(1).toLowerCase.split(" ", -1)
        val nt = tk.length.toLong
        val content = nt - tk.count(stops)
        val qbp = if (nt <= 100) content * 100L else content * 10000L / nt
        (r.getString(0), nt, qbp)
      }
    val exact = docs.map(_._1).distinct.sorted.map { src =>
      val rest = docs.filter(_._1 != src)
      (src, rest.length.toLong, rest.map(_._2).sum,
        rest.map(_._3).sum / rest.length)
    }.toSeq
    val got = SparkEntry.queries(
        "q193_ablation_stats")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(got == exact)
  }

  test("q194: trimmed mean equals brute force per event type") {
    val events = Tables.t(spark, sf, "events")
      .select("event_type", "event_id", "value").collect()
      .map(r => (r.getString(0), r.getLong(1),
        math.floor(r.getDouble(2) * 100).toLong))
    val exact = events.groupBy(_._1).toSeq.map { case (et, rows) =>
      val sorted = rows.sortBy(r => (r._3, r._2)).map(_._3)
      val k = sorted.length / 20
      val kept = sorted.slice(k, sorted.length - k)
      (et, sorted.length.toLong, kept.length.toLong,
        kept.sum / kept.length)
    }.sortBy(_._1)
    val got = SparkEntry.queries(
        "q194_trimmed_mean")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(got == exact)
  }

  test("q195: kappa equals brute force from the confusion matrix") {
    val conf = SparkEntry.queries(
        "q137_langid_confusion")(spark, sf).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    val n = conf.values.sum
    val agree = conf.collect { case ((a, b), c) if a == b => c }.sum
    val langs = conf.keys.flatMap(k => Seq(k._1, k._2)).toSeq.distinct
    val peN2 = langs.map { l =>
      val rc = conf.collect { case ((a, _), c) if a == l => c }.sum
      val cc = conf.collect { case ((_, b), c) if b == l => c }.sum
      rc * cc
    }.sum
    val exact = (n, agree, (agree * n - peN2) * 10000L / (n * n - peN2))
    val r = SparkEntry.queries(
        "q195_langid_kappa")(spark, sf).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == exact)
    // kappa can't exceed perfect agreement
    assert(r.getLong(2) <= 10000L)
  }

  test("q196: CUSUM changepoint equals brute force per type") {
    val events = Tables.t(spark, sf, "events")
      .select(col("event_type"), to_date(col("ts")).as("d"),
        col("value")).collect()
      .map(r => (r.getString(0), r.getDate(1).toString,
        math.floor(r.getDouble(2) * 100).toLong))
    val exact = events.groupBy(_._1).toSeq.map { case (et, rows) =>
      val daily = rows.groupBy(_._2).map { case (d, rs) =>
        (d, rs.map(_._3).sum) }.toSeq.sortBy(_._1)
      val n = daily.length.toLong
      val total = daily.map(_._2).sum
      var acc = 0L
      val cusums = daily.map { case (d, x) =>
        acc += x * n - total; (d, math.abs(acc))
      }
      val (cpDay, maxAbs) = cusums.minBy(t => (-t._2, t._1))
      (et, n, cpDay, maxAbs)
    }.sortBy(_._1)
    val got = SparkEntry.queries(
        "q196_cusum_changepoint")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDate(2).toString,
        r.getLong(3))).toSeq
    assert(got == exact)
    // the full-series cusum telescopes to zero, so the max is interior
    got.foreach { case (_, n, _, _) => assert(n > 1) }
  }

  test("q197: OOV rates equal brute force against the top-20 vocab") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1).toLowerCase
        .split(" ", -1).toSeq))
    val counts = docs.flatMap { case (s, ws) => ws.map((s, _)) }
      .groupBy(identity).map { case ((s, w), g) => (s, w, g.length.toLong) }
    val vocab = counts.groupBy(_._2).map { case (w, g) =>
      (w, g.map(_._3).sum) }.toSeq
      .sortBy { case (w, n) => (-n, w) }.take(20).map(_._1).toSet
    val exact = counts.groupBy(_._1).toSeq.map { case (src, g) =>
      val nTok = g.map(_._3).sum
      val oov = g.filter(t => !vocab(t._2))
      (src, nTok, oov.map(_._3).sum, oov.size.toLong,
        oov.map(_._3).sum * 10000L / nTok)
    }.sortBy(_._1)
    val got = SparkEntry.queries(
        "q197_vocab_oov")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(got == exact)
  }

  test("q198: Pareto head equals brute force per region") {
    val regionOf = {
      val nat = spark.read.parquet(s"$sf/nation.parquet").collect()
        .map(r => r.getAs[Number]("n_nationkey").longValue() ->
          r.getAs[Number]("n_regionkey").longValue()).toMap
      val reg = spark.read.parquet(s"$sf/region.parquet").collect()
        .map(r => r.getAs[Number]("r_regionkey").longValue() ->
          r.getAs[String]("r_name")).toMap
      (nk: Long) => reg(nat(nk))
    }
    val cust = spark.read.parquet(s"$sf/customer.parquet")
      .select("c_custkey", "c_nationkey").collect()
      .map(r => r.getLong(0) ->
        regionOf(r.getAs[Number](1).longValue())).toMap
    val rev = spark.read.parquet(s"$sf/orders.parquet")
      .select("o_custkey", "o_totalprice").collect()
      .map(r => (r.getLong(0), math.floor(r.getDouble(1) * 100).toLong))
      .groupBy(_._1).map { case (c, g) => (c, g.map(_._2).sum) }
    val exact = rev.toSeq.map { case (c, v) => (cust(c), c, v) }
      .groupBy(_._1).toSeq.map { case (region, g) =>
        val sorted = g.sortBy(t => (-t._3, t._2))
        val total = sorted.map(_._3).sum
        var cum = 0L
        val head = sorted.indexWhere { t => cum += t._3; cum * 5 >= total * 4 } + 1
        (region, sorted.length.toLong, head.toLong,
          head * 10000L / sorted.length)
      }.sortBy(_._1)
    val got = SparkEntry.queries(
        "q198_pareto_revenue")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(got == exact)
  }

  test("q199: weekday index equals brute force, mean of indexes sane") {
    val events = Tables.t(spark, sf, "events")
      .select(col("event_type"), to_date(col("ts")).as("d"),
        col("value")).collect()
      .map(r => (r.getString(0), r.getDate(1),
        math.floor(r.getDouble(2) * 100).toLong))
    val exact = events.groupBy(_._1).toSeq.flatMap { case (et, rows) =>
      val daily = rows.groupBy(_._2).map { case (d, g) =>
        (d, g.map(_._3).sum) }.toSeq
      val (tdays, tsum) = (daily.length.toLong, daily.map(_._2).sum)
      daily.groupBy { case (d, _) =>
        // java.sql.Date day-of-week, 0=Sunday like both engines
        d.toLocalDate.getDayOfWeek.getValue % 7
      }.toSeq.map { case (dow, g) =>
        (et, dow.toLong, g.length.toLong,
          (BigInt(g.map(_._2).sum) * tdays * 10000 /
            (BigInt(g.length) * tsum)).toLong)
      }
    }.sortBy(t => (t._1, t._2))
    val got = SparkEntry.queries(
        "q199_weekday_seasonality")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(got == exact)
  }

  test("q200: corpus card consistent with its component queries") {
    val card = SparkEntry.queries(
        "q200_corpus_report")(spark, sf).collect().head
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    assert(card.getLong(0) == docs.count())
    val keeps = SparkEntry.queries(
        "q96_gopher_quality")(spark, sf).collect()
      .count(_.getBoolean(5)).toLong
    assert(card.getLong(3) == keeps * 10000L / card.getLong(0))
    val fps = SparkEntry.queries("q15_fingerprint")(spark, sf)
      .select("fp").distinct().count()
    assert(card.getLong(4) ==
      (card.getLong(0) - fps) * 10000L / card.getLong(0))
  }

  test("q201: centroid drift equals brute force per label") {
    val rows = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Float](2).map(v =>
          math.floor(v.toDouble * 1000).toLong).toArray))
    val exact = rows.groupBy(_._2).toSeq.flatMap { case (label, g) =>
      val (even, odd) = g.partition(_._1 % 2 == 0)
      if (even.isEmpty || odd.isEmpty) None
      else {
        def cent(h: Seq[(Long, Int, Array[Long])]) =
          (0 until 64).map(i => h.map(_._3(i)).sum / h.length)
        val (ca, cb) = (cent(even), cent(odd))
        Some((label, even.length.toLong, odd.length.toLong,
          ca.zip(cb).map { case (x, y) => (x - y) * (x - y) }.sum))
      }
    }.sortBy(_._1)
    val got = SparkEntry.queries("q201_embedding_drift")(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(got == exact)
  }

  test("q184: mask rollup equals the stateless mixer recomputed") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val exact = docs.map { case (id, text) =>
      val toks = text.toLowerCase.split(" ", -1)
      val masked = toks.indices.filter { p =>
        val h1 = (id * 48271L + p * 16807L + 12345L) % 2147483647L
        h1 * 48271L % 2147483647L % 20L < 3L
      }
      (id, toks.length.toLong, masked.length.toLong,
        masked.map(_ + 1L).sum, masked.map(p => toks(p).length.toLong).sum)
    }.sortBy(_._1).toSeq
    val got = SparkEntry.queries("q184_mlm_mask")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(got == exact)
    // target mask rate is 3/20 = 15%; the mixer should land near it
    val (nTok, nMask) = (exact.map(_._2).sum, exact.map(_._3).sum)
    assert(nMask * 100 / nTok >= 12 && nMask * 100 / nTok <= 18)
  }
}
