package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.functions.Porter
import graft.ops.{DedupOps, Standardize}

/** Property tests (SURVEY.md §5.3): totality and idempotence of the
  * standardizers and dedup over generated inputs. Raw ScalaCheck
  * generators with fixed seeds (deterministic, no scalatest bridge). */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i =>
      g.apply(Gen.Parameters.default, Seed(i.toLong)))

  private val weird = Gen.oneOf("", " ", "\t\n", "FREE", "free admission",
    "$1.50", "abc", "12..5", "-", "𝔘𝔫𝔦𝔠𝔬𝔡𝔢", "null", "25:99",
    "October 2 @ 8:00 pm", "2025-13-45 25:99")
  private val anyStr: Gen[String] =
    Gen.oneOf(weird, Gen.alphaNumStr, Gen.asciiPrintableStr)

  test("parsePrice is total: never throws, free -> 0") {
    val ss = samples(anyStr, 200)
    val rows = ss.toDF("s").select(Standardize.parsePrice($"s")).collect()
    assert(rows.length == ss.length) // no exception = total
    ss.zip(rows).foreach { case (in, r) =>
      if (in.toLowerCase.contains("free")) assert(r.getDouble(0) == 0.0)
    }
  }

  test("collapseWs and pyTitle are idempotent") {
    val ss = samples(anyStr, 200)
    val once = ss.toDF("s").select(Standardize.collapseWs($"s").as("c"),
      Standardize.pyTitle($"s").as("t"))
    val twice = once.select(Standardize.collapseWs($"c"),
      Standardize.pyTitle($"t"))
    assert(once.collect().map(r => (r.get(0), r.get(1))).toSeq
      == twice.collect().map(r => (r.get(0), r.get(1))).toSeq)
  }

  test("Porter stem is total and never grows a word by more than one char") {
    samples(Gen.alphaLowerStr.suchThat(_.length < 40), 500).foreach { w =>
      val s = Porter.stem(w)
      assert(s != null && s.length <= w.length + 1, s"stem($w)=$s")
    }
  }

  test("firstWins dedup is idempotent: dedup(dedup(x)) == dedup(x)") {
    val pairs = samples(Gen.zip(Gen.choose(1L, 20L), Gen.choose(1L, 8L)), 120)
    val df = pairs.zipWithIndex
      .map { case ((k, v), i) => (i.toLong, s"k$k", v) }
      .toDF("id", "url", "v")
    val once = DedupOps.firstWins(df, Seq("url"), asc("id"))
    val againRows = DedupOps.firstWins(once, Seq("url"), asc("id"))
      .orderBy("id").collect().toSeq
    assert(once.orderBy("id").collect().toSeq == againRows)
    // and the kept row per key is the minimum id
    val kept = once.select("url", "id").as[(String, Long)].collect().toMap
    pairs.zipWithIndex.foreach { case ((k, _), i) =>
      assert(kept(s"k$k") <= i.toLong)
    }
  }

  test("ldiv ≡ JVM long division on random operands incl. negatives") {
    // the basis-point/decile backbone: Spark DIV, DuckDB // and Scala /
    // all truncate toward zero — pin the engine side of that equivalence
    val rnd = new scala.util.Random(7)
    val cases = List.fill(200) {
      val a = rnd.nextLong()
      val b = Iterator.continually(rnd.nextLong()).find(_ != 0L).get
      (if (a == Long.MinValue) a + 1 else a,
        if (b == Long.MinValue) b + 1 else b)
    } ++ List((7L, 2L), (-7L, 2L), (7L, -2L), (-7L, -2L), (0L, 5L))
    val got = cases.toDF("a", "b")
      .select(Tables.ldiv(col("a"), col("b"))).as[Long].collect()
    assert(got.toSeq == cases.map { case (a, b) => a / b })
  }

  test("runningTotal ≡ sequential scanLeft over random keyed values") {
    val gen = for {
      k <- Gen.chooseNum(-100000L, 100000L)
      v <- Gen.chooseNum(-1000.0, 1000.0)
    } yield (k, math.rint(v * 100) / 100)
    (0 until 3).foreach { round =>
      val rows = samples(gen, 300).distinctBy(_._1).sortBy(_._1)
      val df = scala.util.Random.shuffle(rows).toDF("k", "v")
      Seq(false, true).foreach { quantile =>
        val got = graft.ops.PrefixSum
          .runningTotal(df, "k", $"v", "run", buckets = 7,
            quantileBuckets = quantile)
          .orderBy("k").select("k", "run").as[(Long, Double)]
          .collect().toSeq
        val expected = rows.scanLeft(BigDecimal(0))(_ + _._2).drop(1)
          .zip(rows.map(_._1)).map { case (run, k) => (k, run.toDouble) }
        assert(got == expected, s"round=$round quantile=$quantile")
      }
    }
  }

  test("connectedComponents labels match brute-force on random graphs") {
    val edgeGen = for {
      a <- Gen.chooseNum(0L, 30L)
      b <- Gen.chooseNum(0L, 30L) if a != b
    } yield (math.min(a, b), math.max(a, b))
    (0 until 3).foreach { round =>
      val edges = samples(edgeGen, 25).distinct
      val df = edges.toDF("a_id", "b_id")
      val got = DedupOps.connectedComponents(df)
        .as[(Long, Long)].collect().toMap
      val gotStar = DedupOps.connectedComponentsStar(df)
        .as[(Long, Long)].collect().toMap
      // driver-side union-find reference
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      // min node id per component
      val minOf = nodes.groupBy(find).map { case (r, ns) => r -> ns.min }
      nodes.foreach { n =>
        assert(got(n) == minOf(find(n)), s"round=$round node=$n")
        assert(gotStar(n) == minOf(find(n)), s"star round=$round node=$n")
      }
    }
  }

  test("star components solve a 64-node chain within the log-round budget") {
    // a path graph is label propagation's worst case (diameter rounds);
    // alternating stars must finish well under the 30-round cap
    val chain = (0L until 63L).map(i => (i, i + 1))
    val got = DedupOps.connectedComponentsStar(chain.toDF("a_id", "b_id"),
        maxIter = 12)
      .as[(Long, Long)].collect()
    assert(got.length == 64 && got.forall(_._2 == 0L))
  }

  test("pointInInterval ≡ brute force on random intervals, any bucket width") {
    val ptGen = Gen.chooseNum(0L, 1000L)
    val ivGen = for {
      s <- Gen.chooseNum(0L, 950L)
      len <- Gen.chooseNum(1L, 300L) // spans up to 30 buckets at width 10
    } yield (s, s + len)
    (0 until 2).foreach { round =>
      val pts = samples(ptGen, 60).distinct.map(p => (s"p$p", p))
      val ivs = samples(ivGen, 25).distinct.zipWithIndex
        .map { case ((a, b), i) => (s"iv$i", a, b) }
      val expected = (for {
        (pn, p) <- pts
        (ivn, a, b) <- ivs if p >= a && p < b
      } yield (pn, ivn)).toSet
      Seq(7L, 10L, 1000L).foreach { width =>
        val got = graft.ops.RangeJoin.pointInInterval(
            pts.toDF("p", "ts"), "ts",
            ivs.toDF("iv", "s", "e"), "s", "e", width)
          .select("p", "iv").as[(String, String)].collect().toSet
        assert(got == expected, s"round=$round width=$width")
      }
    }
  }

  test("intervalOverlap ≡ brute force on random intervals, any width") {
    val ivGen = for {
      s <- Gen.chooseNum(0L, 950L)
      len <- Gen.chooseNum(1L, 300L)
    } yield (s, s + len)
    (0 until 2).foreach { round =>
      val as = samples(ivGen, 25).distinct.zipWithIndex
        .map { case ((s, e), i) => (s"a$i", s, e) }
      val bs = samples(ivGen, 25).distinct.zipWithIndex
        .map { case ((s, e), i) => (s"b$i", s, e) }
      val expected = (for {
        (an, as1, ae) <- as
        (bn, bs1, be) <- bs if as1 < be && bs1 < ae
      } yield (an, bn)).toSet
      Seq(7L, 10L, 1000L).foreach { width =>
        val got = graft.ops.RangeJoin.intervalOverlap(
            as.toDF("a", "a_s", "a_e"), "a_s", "a_e",
            bs.toDF("b", "b_s", "b_e"), "b_s", "b_e", width)
          .select("a", "b").as[(String, String)].collect().toSeq
        assert(got.size == got.toSet.size,
          s"duplicate pairs emitted: round=$round width=$width")
        assert(got.toSet == expected, s"round=$round width=$width")
      }
    }
  }

  test("winnow guarantee holds on random docs with a planted shared run") {
    val k = 3; val w = 4
    val word = Gen.oneOf((0 until 40).map(i => s"w$i"))
    val docGen = Gen.listOfN(30, word)
    val runGen = Gen.listOfN(w + k - 1, word) // the guarantee's threshold
    val docs = samples(docGen, 40)
    val runs = samples(runGen, 20)
    (0 until 20).foreach { i =>
      val a = docs(2 * i); val b = docs(2 * i + 1)
      val run = runs(i)
      // plant the run mid-document in both
      val da = (a.take(15) ++ run ++ a.drop(15)).mkString(" ")
      val db = (b.take(7) ++ run ++ b.drop(7)).mkString(" ")
      val fpm = Seq(da, db).toDF("text")
        .select(graft.functions.WinnowMd5Expr
          .winnowMd5(graft.ops.TextOps.tokens($"text"), k, w))
        .collect().map(_.getSeq[String](0).toSet)
      assert((fpm(0) & fpm(1)).nonEmpty, s"case $i: no shared fingerprint")
    }
  }

  test("standardizeDate is total over garbage for every source branch") {
    val ss = samples(anyStr, 150)
    Seq("Ticketmaster", "Yelp", "Underdog", "Nashville.com Events", "other")
      .foreach { src =>
        val n = ss.toDF("d")
          .select(Standardize.standardizeDate($"d", lit(src), 2025))
          .collect().length
        assert(n == ss.length, src)
      }
  }

  test("PDF predictor encode/decode are inverse on random rasters") {
    import graft.ingest.PdfCodec
    import graft.multimodal.PngCodec
    val bytesGen = for {
      cols <- Gen.choose(1, 40)
      rows <- Gen.choose(1, 30)
      data <- Gen.containerOfN[Array, Byte](cols * rows,
        Gen.choose(Byte.MinValue, Byte.MaxValue))
    } yield (cols, data)
    samples(bytesGen, 120).foreach { case (cols, data) =>
      // every PNG row-filter mix must invert, including all-one-type
      for (pick <- Seq[Int => Int](_ % 5, _ => 0, _ => 1, _ => 2,
          _ => 3, _ => 4)) {
        val enc = PngCodec.filterRows(data, cols, 1, pick)
        assert(PdfCodec.pngUnpredict(enc, cols, 1, 8).toSeq == data.toSeq,
          s"png cols=$cols")
      }
      val tenc = PdfCodec.tiffPredictEncode(data, cols)
      assert(PdfCodec.tiffUnpredict(tenc, cols, 1, 8).toSeq == data.toSeq,
        s"tiff cols=$cols")
    }
  }

  test("latticeCosE8 split division ≡ BigInteger floor(num²·1e8/den)") {
    import graft.ops.SimilarityOps
    // the all-long two-step ×1e4 split must equal the exact 128-bit
    // quotient for ANY lattice vectors inside the den < 2^63/1e4 bound
    // — including norms far from the unit-vector testdata (up to ~30×)
    // and anti-parallel pairs (negative num, sign handling)
    val vecGen = for {
      scale <- Gen.choose(1, 15) // ‖·‖² up to ~2.3e7 ⇒ den ≤ ~5e14 < 2^63/1e4
      flip <- Gen.oneOf(1, -1)
      v <- Gen.containerOfN[Seq, Long](64,
        Gen.choose(-40L * scale, 40L * scale))
    } yield (v, v.map(x => -x * flip)) // second vector: ±parallel-ish
    val pairs = samples(vecGen, 60) ++ samples(for {
      a <- Gen.containerOfN[Seq, Long](64, Gen.choose(-500L, 500L))
      b <- Gen.containerOfN[Seq, Long](64, Gen.choose(-500L, 500L))
    } yield (a, b), 60)
    val valid = pairs.filter { case (a, b) =>
      val na = BigInt(a.map(x => BigInt(x) * x).sum.toString)
      val nb = BigInt(b.map(x => BigInt(x) * x).sum.toString)
      na > 0 && nb > 0 && na * nb <= BigInt(Long.MaxValue / 10000L)
    }
    assert(valid.size > 80) // the generators stay inside the bound
    val got = valid.toDF("a", "b")
      .select(SimilarityOps.latticeCosE8($"a", $"b")).collect()
      .map(_.getLong(0))
    valid.zip(got).foreach { case ((a, b), g) =>
      val num = a.zip(b).map { case (x, y) => BigInt(x) * y }.sum
      val den = a.map(x => BigInt(x) * x).sum * b.map(x => BigInt(x) * x).sum
      val want = num.signum * ((num * num * 100000000) / den)
      assert(BigInt(g) == want, s"got $g want $want (num=$num den=$den)")
    }
    // and the bound itself is loud, not silent garbage
    val big = Seq.fill(64)(4000000L)
    intercept[Exception](Seq((big, big)).toDF("a", "b")
      .select(SimilarityOps.latticeCosE8($"a", $"b")).collect())
    // zero-norm (all-zero) vectors refuse loudly too: the oracle's
    // HUGEINT // raises division-by-zero, and without the den > 0
    // branch Spark's non-ANSI IntegralDivide would silently yield NULL
    val zero = Seq.fill(64)(0L)
    val ones = Seq.fill(64)(1L)
    val ze = intercept[Exception](Seq((zero, ones)).toDF("a", "b")
      .select(SimilarityOps.latticeCosE8($"a", $"b")).collect())
    assert(Option(ze.getMessage).mkString.contains("zero norm") ||
      Option(ze.getCause).exists(c =>
        Option(c.getMessage).mkString.contains("zero norm")))
  }

  test("ArrayPairsExpr matches the HOF pair formulation") {
    // the q128/q241 in-row pair explode was moved from the interpreted
    // transform/slice/struct chain to the one-pass codegen expression;
    // pin exact value AND order equality on generated baskets
    val gen = Gen.chooseNum(0, 12).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(-5L, 99L)))
    val baskets = samples(gen, 120).map(_.toArray)
    val df = baskets.toDF("parts")
    val fast = df.select(
      graft.functions.ArrayPairsExpr.pairs($"parts").as("p")).collect()
    val slow = df.select(flatten(transform($"parts", (x, i) =>
      transform(slice($"parts", i + 2, size($"parts")),
        y => struct(x.as("p1"), y.as("p2"))))).as("p")).collect()
    fast.zip(slow).foreach { case (f, s) => assert(f == s) }
  }
}
