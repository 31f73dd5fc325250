package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.ops.DedupOps

/** Invariants of the round-4 corpus operators that the DuckDB oracle
  * can't express: containmentPairs vs a brute-force cross join on
  * generated sets, PageRank mass conservation, and the gopher keep
  * flag's agreement with its own signals. */
class CorpusQSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i =>
      g.apply(Gen.Parameters.default, Seed(i.toLong)))

  test("containmentPairs equals brute force on generated sets") {
    val gen = Gen.nonEmptyListOf(Gen.chooseNum(0, 30).map(i => s"e$i"))
      .map(_.distinct)
    val sets = samples(gen, 60).zipWithIndex
      .map { case (es, i) => (i.toLong, es) }
    val df = sets.toDF("id", "toks")
    val got = DedupOps.containmentPairs(df, "id", "toks", 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = (for {
      (a, sa) <- sets; (b, sb) <- sets if a != b
      inter = sa.toSet.intersect(sb.toSet).size
      c = BigDecimal(inter.toDouble / sa.size)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP)
      if c >= BigDecimal("0.7")
    } yield (a, b)).toSet
    assert(got == brute)
  }

  test("containment is directional: subset ⇒ 1.0 toward its superset") {
    val df = Seq(
      (1L, Seq("a", "b", "c")),
      (2L, Seq("a", "b", "c", "d", "e", "f", "g", "h"))).toDF("id", "toks")
    val m = DedupOps.containmentPairs(df, "id", "toks", 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    assert(m((1L, 2L)) == 1.0)    // all of 1's shingles are inside 2
    assert(m((2L, 1L)) == 0.375)  // 3 of 8 the other way
  }

  test("pagerank conserves mass on the dangling-free graph") {
    val out = SparkEntry.queries("q100_pagerank")(spark, sf).collect()
    val n = out.length
    // pr_scaled = rank·n, so Σ pr_scaled should be n (damping keeps the
    // total at 1 when no node dangles — the graph is symmetrized)
    val mass = out.map(_.getDouble(1)).sum
    assert(math.abs(mass - n) < 1e-3 * n, s"mass $mass for $n nodes")
    assert(out.forall(_.getDouble(1) > 0.0))
  }

  test("gopher keep flag agrees with its published signals") {
    val rows = SparkEntry.queries("q96_gopher_quality")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val expect = r.getLong(1) >= 30 && r.getLong(1) <= 90 &&
        r.getDouble(2) >= 3.0 && r.getDouble(2) <= 4.6 &&
        r.getLong(4) >= 2
      assert(r.getBoolean(5) == expect, s"doc ${r.getLong(0)}")
    }
  }

  test("every decontamination hit truly shares an 8-gram with the benchmark") {
    val hits = SparkEntry.queries("q97_decontaminate")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // brute-force ground truth on the small SF
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).toLowerCase
        .split(" ").sliding(8).filter(_.length == 8)
        .map(_.mkString(" ")).toSet)
    val bench = docs.filter(_._1 % 29 == 0).flatMap(_._2).toSet
    val expect = docs.filter(_._1 % 29 != 0)
      .map { case (id, shs) => id -> shs.intersect(bench).size.toLong }
      .filter(_._2 > 0).toMap
    assert(hits == expect)
  }

  test("documents are printable ASCII (q105's byte≡char oracle premise)") {
    val bad = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("text").rlike("[^\\x20-\\x7E]")).count()
    assert(bad == 0)
  }

  test("multimodal checksums agree with direct byte math on a sample") {
    val out = SparkEntry.queries("q105_multimodal_pipeline")(spark, sf)
      .limit(10).collect()
    val texts = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    out.foreach { r =>
      val bytes = texts(r.getLong(0)).getBytes("UTF-8")
      assert(r.getLong(2) == bytes.length)
      val rs = (0 until 64).map(i =>
        bytes((i.toLong * bytes.length / 64).toInt) & 0xFF).sum
      assert(r.getLong(3) == rs)
      if (r.getString(1) == "video") {
        assert(r.getLong(4) == 4L)
        val fs = (0 until 4).map { f =>
          val off = (f.toLong * bytes.length / 4).toInt
          bytes.slice(off, math.min(off + 32, bytes.length))
            .map(_ & 0xFF).sum
        }.sum
        assert(r.getLong(5) == fs)
      } else assert(r.getLong(4) == 0L && r.isNullAt(5))
    }
  }

  test("shingle/winnow guard equivalences hold on random + edge inputs") {
    // the invariants ShingleFilterSimplify rewrites on:
    //   size(shingles(toks,k)) > 0  ⟺  size(toks) >= k
    //   isnotnull(shingles(toks,k)) ⟺  isnotnull(toks)   (same for winnow_md5)
    import graft.functions.{ShinglesExpr, WinnowMd5Expr}
    val gen = Gen.listOf(Gen.oneOf("a", "b", "cc", "ddd"))
    val arrays = samples(gen, 80) ++ Seq(Nil, List("x"), List("x", "y"))
    val df = arrays.map(a => Tuple1(a)).toDF("toks")
      .union(Seq(Tuple1(null.asInstanceOf[Seq[String]])).toDF("toks"))
    val rows = df.select(
      (size(ShinglesExpr.shingles(col("toks"), 3)) > 0).as("sg"),
      (size(col("toks")) >= 3).as("tg"),
      ShinglesExpr.shingles(col("toks"), 3).isNotNull.as("sn"),
      col("toks").isNotNull.as("tn"),
      (size(WinnowMd5Expr.winnowMd5(col("toks"), 3, 4)) > 0).as("wmg"))
      .collect()
    rows.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1) &&
        (r.isNullAt(0) || r.getBoolean(0) == r.getBoolean(1)), r)
      assert(r.getBoolean(2) == r.getBoolean(3), r)
      assert(r.isNullAt(4) == r.isNullAt(1) &&
        (r.isNullAt(4) || r.getBoolean(4) == r.getBoolean(1)), r)
    }
  }

  test("bpe pair counts match a hand computation") {
    val df = Seq("aa ab aa", "ab ba").toDF("text")
      .withColumn("doc_id", lit(1L))
    // vocab: aa→2? no — counts are corpus-wide word occurrences:
    // aa:2, ab:2, ba:1; pairs: aa→2 (from 'aa'), ab→2, ba→1
    val vocab = df.select(explode(split(lower(col("text")), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("wc"))
      .filter(length(col("w")) >= 2)
    val pairs = vocab
      .select(col("wc"), explode(transform(
        sequence(lit(1), length(col("w")) - 1),
        i => col("w").substr(i, lit(2)))).as("pair"))
      .groupBy("pair").agg(sum(col("wc")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(pairs == Map("aa" -> 2L, "ab" -> 2L, "ba" -> 1L))
  }
}
