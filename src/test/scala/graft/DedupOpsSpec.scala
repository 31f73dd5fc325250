package graft

import org.apache.spark.sql.functions._
import graft.functions.ShinglesExpr
import graft.ops.{DedupOps, TextOps}

class DedupOpsSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"),
    (3L, "completely different words entirely here now"),
  ).toDF("id", "text")

  test("custom shingles expression ≡ declarative HOF formulation") {
    val toks = TextOps.tokens($"text")
    val got = docs.select(
      ShinglesExpr.shingles(toks, 3).as("fast"),
      TextOps.shingles(toks, 3).as("slow"))
    assert(got.filter($"fast" =!= $"slow").count() == 0)
  }

  test("shingles: fewer than k tokens yields empty (both twins, ANSI-safe)") {
    val short = Seq((1L, "only two"), (2L, "one"), (3L, "exactly three words"))
      .toDF("id", "text")
    val toks = TextOps.tokens($"text")
    val got = short.select($"id",
      ShinglesExpr.shingles(toks, 3).as("fast"),
      TextOps.shingles(toks, 3).as("slow")).orderBy("id").collect()
    assert(got.forall(r => r.getSeq[String](1) == r.getSeq[String](2)))
    assert(got(0).getSeq[String](1).isEmpty) // 2 < k
    assert(got(1).getSeq[String](1).isEmpty) // 1 < k
    assert(got(2).getSeq[String](1) == Seq("exactly three words")) // n == k
  }

  test("custom ngrams expression ≡ declarative HOF formulation") {
    val rep = Seq((1L, "a b a b a"), (2L, "x"), (3L, "x y")).toDF("id", "text")
    val toks = TextOps.tokens($"text")
    val got = rep.select(
      ShinglesExpr.ngrams(toks, 2).as("fast"),
      TextOps.ngrams(toks, 2).as("slow"))
    assert(got.filter($"fast" =!= $"slow").count() == 0)
  }

  test("inverted-index jaccardPairs matches hand computation") {
    val d = docs.select($"id", array_distinct(TextOps.tokens($"text"))
      .as("toks"))
    val pairs = DedupOps.jaccardPairs(d, "id", "toks", 0.1)
      .orderBy("a_id", "b_id").collect()
    // docs 1,2: 8 distinct tokens each, 7 shared -> J = 7/9 = 0.7778
    assert(pairs.length == 1)
    assert(pairs.head.getLong(0) == 1 && pairs.head.getLong(1) == 2)
    assert(pairs.head.getDouble(2) == 0.7778)
  }

  // Which of the two equivalent joins to use is a REGIME choice, not a
  // correctness one (same oracle, pinned below). The r6 scale probe
  // measured PPJoin ~2.1x SLOWER than the plain posting join at BOTH
  // sf0.1 and x10 (SCALING.md "PPJoin vs SSJoin"): short docs + a 0.5
  // threshold leave little for the prefix bound to prune, so it pays
  // its per-doc sort/prefix cost for nothing. The q116 skew report is
  // the dial: heavy token-frequency skew (hub postings) and/or high
  // thresholds move a corpus into PPJoin's regime; uniform short docs
  // stay with jaccardPairs.
  test("prefix-filtered jaccardPairsPrefix ≡ jaccardPairs on a real corpus") {
    val docs01 = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", array_distinct(TextOps.tokens($"text")).as("toks"))
    val a = DedupOps.jaccardPairs(docs01, "doc_id", "toks", 0.3)
      .orderBy("a_id", "b_id").collect().toSeq
    val b = DedupOps.jaccardPairsPrefix(docs01, "doc_id", "toks", 0.3)
      .orderBy("a_id", "b_id").collect().toSeq
    assert(a.nonEmpty && a == b)
  }

  test("minhash LSH finds the near-dup pair and skips the unrelated doc") {
    val pairs = DedupOps.minhashMd5LshPairs(docs, "id", "text",
      shingleK = 2, bands = 16, rowsPerBand = 4, threshold = 0.3)
      .collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
  }

  test("simhash pairs: near-dups within small hamming distance") {
    // chunked banding requires (maxHamming+1) | 64, so 16 bits × 4 chunks
    val pairs = DedupOps.simhashMd5Pairs(docs, "id", "text", maxHamming = 15)
      .collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).contains((1L, 2L)))
  }

  test("simhash md5 empty token arrays carry no signature (r11 ADVICE)") {
    // zero votes used to tie every bit to 1 — an all-ones fingerprint
    // pairing every empty doc with every other at hamming 0, while the
    // SQL rollup twin emits no rows for them at all. The expression now
    // mirrors MinHashMd5SigExpr: empty in, empty out (simhashMd5Pairs
    // itself never sees one — split() can't produce an empty array).
    import graft.functions.SimHashMd5ChunksExpr.simhashMd5Chunks
    val sig = Seq((1L, Seq.empty[String]), (2L, Seq("a", "b")))
      .toDF("id", "toks")
      .select(col("id"), size(simhashMd5Chunks(col("toks"), 4)).as("n"))
      .as[(Long, Int)].collect().toMap
    assert(sig == Map(1L -> 0, 2L -> 4))
    // and through the registered SQL surface (the exposure ADVICE named)
    val viaSql = spark.sql(
      "SELECT size(simhash_md5_chunks(CAST(array() AS ARRAY<STRING>), 4))")
      .head().getInt(0)
    assert(viaSql == 0)
  }

  test("jaccardPairsPrefix survives floating-point threshold boundaries") {
    // |A| = 7 ⊂ |B| = 100, J = 7/100 = 0.07 exactly at the threshold:
    // naive floor(7/0.07) = 99 < 100 would prune the pair before verify
    val a = (1 to 7).map(i => s"t$i")
    val b = (1 to 100).map(i => s"t$i")
    val df = Seq((1L, a), (2L, b)).toDF("id", "toks")
    val got = DedupOps.jaccardPairsPrefix(df, "id", "toks", 0.07).collect()
    assert(got.length == 1 && got.head.getDouble(2) == 0.07)
    val same = DedupOps.jaccardPairs(df, "id", "toks", 0.07).collect()
    assert(same.length == 1)
  }

  test("connectedComponents throws on non-convergence instead of lying") {
    // localFinishEdges = 0 forces the distributed rounds (a 25-edge
    // graph would otherwise take the bounded local-union-find finish)
    val chain = (0L until 25L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    intercept[IllegalStateException] {
      DedupOps.connectedComponents(chain, maxIter = 5,
        localFinishEdges = 0L).collect()
    }
    // the star variant handles the same chain within its round budget
    val ok = DedupOps.connectedComponentsStar(chain, maxIter = 10,
      localFinishEdges = 0L)
      .as[(Long, Long)].collect()
    assert(ok.length == 26 && ok.forall(_._2 == 0L))
  }

  test("local union-find finish matches the distributed rounds exactly") {
    // mixed shapes: two chains, a clique, a star, cross-links — the
    // label set (node -> component min) must be identical whether the
    // gate fires at entry (default) or never (localFinishEdges = 0)
    val rnd = new scala.util.Random(7)
    val edges = (
      (0L until 40L).map(i => (i, i + 1)) ++ // chain 0..40
      (100L to 110L).flatMap(a => (a + 1 to 110L).map(b => (a, b))) ++
      (200L to 230L).map(b => (231L, b)) ++ // star rooted above its leaves
      Seq((40L, 100L)) ++ // chain–clique bridge
      (0 until 50).map(_ => (300L + rnd.nextInt(30), 300L + rnd.nextInt(30)))
    ).filter(p => p._1 != p._2).toDF("a_id", "b_id")
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long)].collect().sortBy(identity).toSeq
    val viaLocal = sorted(DedupOps.connectedComponentsStar(edges))
    val viaDist = sorted(DedupOps.connectedComponentsStar(edges,
      localFinishEdges = 0L))
    assert(viaLocal == viaDist)
    val viaLocalML = sorted(DedupOps.connectedComponents(edges))
    val viaDistML = sorted(DedupOps.connectedComponents(edges,
      maxIter = 60, localFinishEdges = 0L)) // 41-chain > default budget
    assert(viaLocalML == viaDistML)
    assert(viaLocal == viaLocalML)

    // r15 ADVICE: the MID-LOOP local finish (gate first true after at
    // least one contraction round) was untested — the cases above fire
    // it at entry (default threshold >> graph) or never (0). A budget
    // of one less than the entry edge count cannot fire at entry and
    // fires on the first round that shrinks the set (the clique and
    // star contract immediately on this graph).
    val entryEdges = edges
      .filter($"a_id" =!= $"b_id")
      .select(greatest($"a_id", $"b_id"), least($"a_id", $"b_id"))
      .distinct().count()
    val viaMid = sorted(DedupOps.connectedComponentsStar(edges,
      localFinishEdges = entryEdges - 1))
    assert(viaMid == viaDist)
    val viaMidML = sorted(DedupOps.connectedComponents(edges,
      maxIter = 60, localFinishEdges = entryEdges - 1))
    assert(viaMidML == viaDistML)
  }

  test("winnowing: shared long substring guarantees a shared fingerprint") {
    import graft.functions.WinnowMd5Expr.winnowMd5
    val k = 3; val w = 4
    val common = "one two three four five six seven eight nine ten"
    val pair = Seq(
      (1L, s"alpha beta $common gamma delta"),
      (2L, s"zeta eta theta $common iota"),
      (3L, "completely unrelated words that overlap with nothing at all"))
      .toDF("id", "text")
    val fps = pair.select($"id",
      winnowMd5(TextOps.tokens($"text"), k, w).as("fps"))
      .orderBy("id").collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    // the shared 10-token run >= w+k-1 = 6 tokens -> >=1 shared fingerprint
    assert((fps(1L) & fps(2L)).nonEmpty)
    assert((fps(1L) & fps(3L)).isEmpty)
    // winnowing stores a fraction of the grams and is deterministic
    val nGrams = common.split(" ").length + 4 - k + 1
    assert(fps(1L).size < nGrams)
    val again = pair.select(winnowMd5(TextOps.tokens($"text"), k, w))
      .orderBy($"id").collect().map(_.getSeq[String](0).toSet)
    assert(again(0) == fps(1L))
  }

  test("firstWins keeps lowest-priority row per key deterministically") {
    val df = Seq((1L, "u1", "a"), (2L, "u1", "b"), (3L, "u2", "c"))
      .toDF("id", "url", "v")
    val got = DedupOps.firstWins(df, Seq("url"), asc("id"))
      .orderBy("id").select("v").as[String].collect().toSeq
    assert(got == Seq("a", "c"))
  }

  test("antiJoinNew is idempotent") {
    val existing = Seq((1L, "u1")).toDF("id", "url")
    val batch = Seq((9L, "u1"), (10L, "u3")).toDF("id", "url")
    val fresh = DedupOps.antiJoinNew(batch, existing, "url")
    assert(fresh.select("url").as[String].collect().toSeq == Seq("u3"))
  }
}
