package graft

import org.apache.spark.sql.functions._

/** Round-5 curation operators: brute-force value checks on real docs,
  * the index-plan ≡ scan-plan equivalence, and the q131 no-shuffle plan
  * shape. */
class CurateQSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private lazy val docs: Map[Long, String] =
    spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap

  test("q131: duplicate-bigram basis points match brute force") {
    val out = SparkEntry.queries("q131_dup_bigram")(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      // limit -1 mirrors Spark's split (keeps trailing empties)
      val toks = docs(r.getLong(0)).toLowerCase.split(" ", -1)
      val bigrams = toks.sliding(2).map(_.mkString(" ")).toSeq
      val n = bigrams.length.toLong
      assert(r.getLong(1) == n)
      assert(r.getLong(2) == (n - bigrams.distinct.length) * 10000L / n)
    }
  }

  test("q134: per-user median gap matches brute force") {
    val out = SparkEntry.queries("q134_gap_median")(spark, sf)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val events = Tables.t(spark, sf, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val exact = events.groupBy(_._1).collect {
      case (u, rows) if rows.length >= 2 =>
        val gaps = rows.sortBy(r => (r._2, r._3)).sliding(2)
          .map { case Array(a, b) => b._2 - a._2 }.toSeq.sorted
        u -> (gaps.length.toLong, gaps((gaps.length + 1) / 2 - 1))
    }
    assert(out == exact.toMap)
    assert(out.nonEmpty)
  }

  test("q136: window energies recompute from the raw bytes") {
    val out = SparkEntry.queries("q136_audio_energy")(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val bytes = docs(r.getLong(0)).getBytes("UTF-8")
      val w = r.getInt(1)
      val start = (w.toLong * bytes.length / 8).toInt
      val end = ((w + 1).toLong * bytes.length / 8).toInt
      assert(r.getInt(2) == end - start)
      val e = (start until end)
        .map(i => { val v = (bytes(i) & 0xFF).toLong; v * v }).sum
      assert(r.getLong(3) == e)
    }
    // only audio-kind docs, all 8 windows each
    val audio = docs.keySet.filter(_ % 3 == 1)
    assert(out.map(_.getLong(0)).toSet == audio)
    assert(out.length == audio.size * 8)
  }

  test("q143: merge-chain encoder matches a reference BPE pass") {
    val merges = Seq("t h" -> "th", "h e" -> "he", "i n" -> "in",
      "e r" -> "er", "a n" -> "an", "th e" -> "the")
    def nSub(w: String): Long = {
      var s = " " + w.toCharArray.mkString(" ") + " "
      merges.foreach { case (m, j) =>
        s = s.replace(" " + m + " ", " " + j + " ")
      }
      s.trim.split(" ", -1).length.toLong
    }
    val out = SparkEntry.queries("q143_bpe_encode")(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val toks = docs(r.getLong(0)).toLowerCase.split(" ", -1)
      assert(r.getLong(1) == toks.map(_.length.toLong).sum)
      assert(r.getLong(2) == toks.map(nSub).sum)
      assert(r.getLong(2) < r.getLong(1), "merges must compress English")
      assert(r.getLong(3) == r.getLong(2) * 10000L / r.getLong(1))
    }
  }

  test("q139 index plan ≡ q11 scan plan (same ranked page)") {
    val scan = SparkEntry.queries("q11_search_rank")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val index = SparkEntry.queries("q139_index_search")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(index.toSeq == scan.toSeq)
    assert(scan.nonEmpty)
  }

  test("q131 plans zero hash exchanges (pure per-row projection)") {
    val p = SparkEntry.queries("q131_dup_bigram")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p.contains("hashpartitioning"),
      s"q131 must not shuffle before the presentation sort:\n${p.take(2000)}")
  }

  test("q171: quotas are feasible, binding, and exactly filled") {
    val rows = SparkEntry.queries("q171_mixture_reweight")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nIn, bp, quota, kept) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(quota <= nIn, s"${r.getString(0)}: quota $quota > n_in $nIn")
      assert(kept == quota, s"${r.getString(0)}: kept $kept != quota $quota")
      assert(bp >= 1)
    }
    // the scarcest source binds: at least one source keeps everything
    // OR every quota is the exact floor of its share of the same N
    val n = rows.map(r => r.getLong(3) * 10000L / r.getLong(2)).max
    rows.foreach(r =>
      assert(r.getLong(3) == r.getLong(2) * n / 10000L ||
        r.getLong(3) == r.getLong(1)))
  }

  test("q172: each (epoch, shard) is a partition of the corpus; epochs permute independently") {
    val nDocs = docs.size
    val rows = SparkEntry.queries("q172_epoch_shuffle")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // every epoch contains every doc exactly once
    for (e <- 0L to 2L) {
      val ep = rows.filter(_._1 == e)
      assert(ep.length == nDocs)
      assert(ep.map(_._4).distinct.length == nDocs)
      // positions within a shard are 1..k contiguous
      ep.groupBy(_._2).foreach { case (sh, g) =>
        assert(g.map(_._3).sorted.toSeq == (1L to g.length).toSeq,
          s"epoch $e shard $sh has gapped positions")
      }
    }
    // epochs actually re-shuffle: epoch-0 shard assignment differs from 1
    val s0 = rows.filter(_._1 == 0L).map(r => r._4 -> r._2).toMap
    val s1 = rows.filter(_._1 == 1L).map(r => r._4 -> r._2).toMap
    assert(s0.exists { case (id, sh) => s1(id) != sh })
  }

  test("q173: paragraph dedup matches a from-scratch rewrite") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // brute force: first occurrence by (doc_id, seg) wins
    val segs = docs.toSeq.sortBy(_._1).flatMap { case (id, text) =>
      text.toLowerCase.split(" ", -1).grouped(16).zipWithIndex
        .map { case (g, i) => (id, i + 1, g.mkString(" ")) }
    }
    val owner = segs.groupBy(_._3).map { case (p, g) =>
      p -> g.minBy(x => (x._1, x._2))
    }
    val exp = segs.groupBy(_._1).map { case (id, g) =>
      val kept = g.sortBy(_._2).filter(x => owner(x._3) == x)
      (id, g.size.toLong, kept.size.toLong,
        md5hex(kept.map(_._3).mkString(" ")))
    }.toSeq.sortBy(_._1)
    val got = SparkEntry.queries("q173_paragraph_dedup")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSeq
    assert(got == exp)
    // dedup actually removed something (the corpus has planted dups)
    assert(got.exists(r => r._3 < r._2))
  }

  test("q174: buckets are tight powers of two and waste is consistent") {
    val rows = SparkEntry.queries("q174_length_buckets")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._2).sum == docs.size)
    rows.foreach { case (bucket, nDocs, sumTok, wasteBp) =>
      assert(Set(16L, 32L, 64L, 128L, 256L, 512L, 1024L).contains(bucket))
      assert(sumTok <= bucket * nDocs)
      assert(wasteBp == (bucket * nDocs - sumTok) * 10000L / (bucket * nDocs))
      assert(wasteBp >= 0 && wasteBp < 10000)
    }
  }

  test("q178: bigram-LM fluency matches brute force") {
    val bigramsOf = (text: String) =>
      text.toLowerCase.split(" ", -1).toSeq.sliding(2)
        .filter(_.size == 2).map(_.mkString(" ")).toSeq
    val all = docs.toSeq.flatMap { case (_, t) => bigramsOf(t) }
    val cb = all.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val cw = all.map(_.split(" ", -1)(0)).groupBy(identity)
      .view.mapValues(_.size.toLong).toMap
    val out = SparkEntry.queries("q178_lm_fluency")(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val bgs = bigramsOf(docs(r.getLong(0)))
      assert(r.getLong(1) == bgs.size.toLong)
      val s = bgs.map(b => cb(b) * 1000000L / cw(b.split(" ", -1)(0))).sum
      val ppm = s / bgs.size
      assert(r.getLong(2) == ppm)
      assert(ppm >= 1 && ppm <= 1000000L) // a transition prob is (0,1]
    }
  }

  test("q179: DSIR importance weights match brute force, ratios bounded") {
    def bucket(w: String): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
      d.digest(w.getBytes("UTF-8")).take(2)
        .map(b => f"$b%02x").mkString.take(3)
    }
    val langs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val toksOf = (t: String) => t.toLowerCase.split(" ", -1).toSeq
    val rawB = docs.toSeq.flatMap { case (_, t) => toksOf(t).map(bucket) }
    val rcnt = rawB.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val tcnt = docs.toSeq.filter(d => langs(d._1) == "en")
      .flatMap { case (_, t) => toksOf(t).map(bucket) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val out = SparkEntry.queries("q179_dsir_weights")(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val bks = toksOf(docs(r.getLong(0))).map(bucket)
      assert(r.getLong(1) == bks.size.toLong)
      val s = bks.map(b => tcnt.getOrElse(b, 0L) * 1000000L / rcnt(b)).sum
      assert(r.getLong(2) == s / bks.size)
      assert(r.getLong(2) >= 0 && r.getLong(2) <= 1000000L) // target ⊆ raw
    }
    // the target slice itself must score high on average vs the rest
    val byLang = out.groupBy(r => langs(r.getLong(0)))
      .view.mapValues(rs => rs.map(_.getLong(2)).sum / rs.length).toMap
    assert(byLang("en") > byLang.filterKeys(_ != "en").values.max)
  }
}
