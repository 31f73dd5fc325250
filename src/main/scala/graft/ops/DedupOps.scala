package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Deduplication operators for large-scale corpus cleaning: exact first-wins
  * dedup (the reference's ON CONFLICT DO NOTHING, transform_data.py:570),
  * pairwise n-gram Jaccard (quadratic baseline), MinHash+LSH (the 100 TB
  * path: band-bucket shuffle instead of a cross join), and SimHash with
  * pigeonhole banding for Hamming-distance candidate pairs.
  */
object DedupOps {

  /** First-wins dedup with a deterministic tiebreak (dropDuplicates is
    * order-nondeterministic under parallelism — SURVEY.md §7 hard parts). */
  def firstWins(df: DataFrame, keys: Seq[String], orderBy: Column): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(orderBy)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Idempotent append: keep only rows whose key is absent from `existing`
    * (left-anti join ≙ ON CONFLICT (url) DO NOTHING across batches). A
    * left-anti join ignores duplicate keys on its right side, so the
    * existing keys go in as scanned: no aggregate, no shuffle of every
    * existing key. */
  def antiJoinNew(batch: DataFrame, existing: DataFrame, key: String): DataFrame =
    batch.join(existing.select(key), Seq(key), "left_anti")

  /** Exact Jaccard over two distinct-element arrays, as a double ∈ [0,1]. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b))
    inter.cast("double") / (size(a) + size(b) - inter)
  }

  /** All pairs (a_id < b_id) with element-set Jaccard ≥ threshold, via an
    * inverted index: explode to (element, id) postings, equi-join postings
    * on the element, count co-occurrences = |A∩B|, with the set sizes
    * carried through the postings for |A∪B|. Exact (pairs sharing no element have Jaccard 0 <
    * threshold) but never materializes the cross join — the shuffle key is
    * the element, so cost is Σ|posting|², the SSJoin bound that holds at
    * scale. `toksCol` must already be distinct elements. */
  def jaccardPairs(df: DataFrame, idCol: String, toksCol: String,
      threshold: Double): DataFrame =
    overlaps(postings(df, idCol, toksCol))
      .withColumn("jaccard", round(col("inter").cast("double")
        / (col("a_sz") + col("b_sz") - col("inter")), 4))
      .filter(col("jaccard") >= threshold)
      .select("a_id", "b_id", "jaccard")

  /** The (id, sz, tok) postings of a distinct-token set column: one row
    * per (set, token), each carrying its set's size, so a pair join over
    * them has both sizes in hand — no join back to a sizes table. The
    * (id, toks) input is spread over every core first (the token explode
    * and the posting join are the CPU-heavy stages). Feeds
    * [[jaccardPairs]] (q16 and the `ScaleQ.dedupEdges` family),
    * [[containmentPairs]] (q101) and [[jaccardPairsPrefix]] (q75). */
  private def postings(df: DataFrame, idCol: String,
      toksCol: String): DataFrame =
    Partitioning.ensureParallel(
        df.select(col(idCol).as("id"), col(toksCol).as("toks")))
      .select(col("id"), size(col("toks")).as("sz"),
        explode(col("toks")).as("tok"))

  /** Every unordered pair (a_id < b_id) sharing at least one posting
    * token, with both set sizes and its overlap `inter` = |A∩B|: one
    * equi-join of the postings on the token (cost Σ|posting|², never the
    * cross join), counted per pair. The two posting sides are identical
    * subplans, so the shuffle is planned once and reused for the other
    * side (ReusedExchange). Shared by [[jaccardPairs]] and
    * [[containmentPairs]]. */
  private def overlaps(posts: DataFrame): DataFrame =
    posts.as("x").join(posts.as("y"),
        col("x.tok") === col("y.tok") && col("x.id") < col("y.id"))
      .select(col("x.id").as("a_id"), col("y.id").as("b_id"),
        col("x.sz").as("a_sz"), col("y.sz").as("b_sz"))
      .groupBy("a_id", "b_id", "a_sz", "b_sz")
      .agg(count(lit(1)).as("inter"))

  /** Directed containment pairs: (a, b, |A∩B|/|A|) for every ordered pair
    * with containment ≥ threshold — the asymmetric cousin of
    * [[jaccardPairs]] that catches a short document embedded in a long
    * one (Jaccard punishes the size gap; containment doesn't). Same
    * inverted-index shape and Σ|posting|² bound: each unordered pair is
    * produced ONCE by the size-carrying posting join, then fanned into
    * its two directions by a 2-element explode — no second join pass. */
  def containmentPairs(df: DataFrame, idCol: String, toksCol: String,
      threshold: Double): DataFrame =
    overlaps(postings(df, idCol, toksCol))
      .select(col("inter"), explode(array(
        struct(col("a_id").as("src"), col("b_id").as("dst"),
          col("a_sz").as("sz")),
        struct(col("b_id").as("src"), col("a_id").as("dst"),
          col("b_sz").as("sz")))).as("d"))
      .select(col("d.src").as("a_id"), col("d.dst").as("b_id"),
        round(col("inter").cast("double") / col("d.sz"), 4)
          .as("containment"))
      .filter(col("containment") >= threshold)

  /** MinHash + LSH near-dup pairs at `threshold` Jaccard over word
    * `shingleK`-shingles, on the md5 hash family (q17, oracle-exact
    * since r11; q227's seed-min family at the full bands×rowsPerBand
    * scheme). bands×rowsPerBand = signature length; candidate
    * generation is a (band, key) shuffle join — not a cross join —
    * then candidates are verified with the exact Jaccard. Bucket sizes
    * are bounded by collision rate, and the only quadratic work is
    * within-bucket. One fused signature projection per doc
    * (MinHashMd5SigExpr — all bands·rows seed-minima in one JVM pass;
    * lexicographic min of lowercase md5 hex ≡ min of the 128-bit value,
    * portable); band keys are the concatenated row-mins; only the
    * verified candidate set ever rejoins the shingle payload — ids move
    * through the bucket shuffle, not documents. The output is the
    * md5-banding's candidate recall over the true pair set. Empty
    * shingle sets are dropped. */
  def minhashMd5LshPairs(df: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, bands: Int = 16, rowsPerBand: Int = 4,
      threshold: Double = 0.5): DataFrame = {
    val sh = graft.functions.ShinglesExpr.shingles(
      TextOps.tokens(col("__text")), shingleK)
    // the (id, shingles) relation feeds the banded signature pass and
    // both sides of the verify join, so shingles are recomputed per
    // consumer. A lazy localCheckpoint here was MEASURED as a loss
    // (r12): one pass + materialization cost 32 task-sec vs 21 for
    // three recomputed passes at sf0.1 — serializing the shingle
    // arrays into block storage exceeds the recompute, and the md5
    // signature (the actually expensive expression) is only ever
    // evaluated once, in the bucket pass. Recompute is the scale
    // posture too: CPU-linear and partition-local, no working set.
    val withSh = Partitioning.ensureParallel(
        df.select(col(idCol).as("id"), col(textCol).as("__text")))
      .select(col("id"), sh.as("sh"))
      .filter(size(col("sh")) > 0)
    // fused one-pass signature + band keys (the declarative 64-min-agg
    // twin cost ×6.7 at sf0.1, and the slice/transform/concat_ws band
    // build another interpreted layer — r11 bench findings). Band key =
    // '|'-joined row-mins (integers need a separator: "12|3" vs
    // "1|23"); the oracle builds the same string.
    val bk = withSh.select(col("id"), posexplode(
        graft.functions.MinHashMd5SigExpr.minhashMd5Bands(
          col("sh"), bands, rowsPerBand)).as(Seq("band", "bh")))
      .select(struct(col("band"), col("bh")).as("bk"), col("id"))
    val a = bk.select(col("bk"), col("id").as("a_id"))
    val b = bk.select(col("bk"), col("id").as("b_id"))
    val candidates = a.join(b, Seq("bk")).filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id").dropDuplicates("a_id", "b_id")
    candidates
      .join(withSh.select(col("id").as("a_id"), col("sh").as("a_sh")), "a_id")
      .join(withSh.select(col("id").as("b_id"), col("sh").as("b_sh")), "b_id")
      .withColumn("jaccard", round(jaccard(col("a_sh"), col("b_sh")), 4))
      .filter(col("jaccard") >= threshold)
      .select("a_id", "b_id", "jaccard")
  }

  /** Prefix-filtered exact Jaccard pairs (the AllPairs/PPJoin shape): same
    * result set as `jaccardPairs`, far fewer joined postings. Under any
    * global token order, two sets with J ≥ t must share a token within
    * their first |S| - ⌈t·|S|⌉ + 1 tokens — so only those prefix postings
    * enter the pair join. Ordering tokens by ascending document frequency
    * puts the rarest tokens (shortest posting lists) in the prefixes,
    * which is what bounds the join at corpus scale; the df table is one
    * extra aggregation over the postings already in hand. Candidates that
    * survive a size-ratio prune (t·|A| ≤ |B| ≤ |A|/t) are verified with
    * the exact intersection of the full sets.
    *
    * When to prefer which: on Zipfian token distributions (real text) the
    * hot tokens dominate the Σdf² posting-join bound and sit at the END
    * of the df-ascending order — the prefix never posts them, so this
    * form wins by orders of magnitude. On flat df distributions (the
    * synthetic corpus here: 27k shingles, max df 25) the posting join is
    * already cheap and its count-based intersection beats per-candidate
    * array verification — `jaccardPairs` wins there, measured 2-3× at
    * sf0.1. */
  def jaccardPairsPrefix(df: DataFrame, idCol: String, toksCol: String,
      threshold: Double): DataFrame = {
    val full = df.select(col(idCol).as("id"), col(toksCol).as("toks"))
    val posts = postings(df, idCol, toksCol)
    val dfreq = posts.groupBy("tok").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("id")).orderBy(asc("df"), asc("tok"))
    // All bounds are conservative against double rounding (an epsilon
    // widens each prune window; ceil(7.000000000000001) must not reject
    // what exact arithmetic keeps): over-included candidates cost one
    // extra verification, while an over-tight bound would silently drop
    // a true pair. Ratio checks compare products, never divide.
    val eps = 1e-9
    // the candidate self-join below is the CPU-heavy stage while the
    // prefix table's bytes are small — pin its partitioning on the join
    // key explicitly (the exact exchange the join needs; exchange reuse
    // shares ONE shuffle between both aliases) so AQE's byte-based
    // coalescing can't serialize the pair generation onto a few tasks
    val pfx = posts.join(dfreq, "tok")
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= col("sz") - ceil(col("sz") * threshold - eps) + 1)
      .select("id", "sz", "tok", "__rn")
      .repartition(df.sparkSession.sparkContext.defaultParallelism,
        col("tok"))
    // PPJoin positional filter: at a shared prefix token sitting at
    // positions (i, j) of the df-ascending orders, total overlap cannot
    // exceed 1 + min(|A|-i, |B|-j) (everything else shared must lie in
    // both suffixes). J ≥ t needs overlap ≥ t(|A|+|B|)/(1+t), so a pair
    // whose EVERY shared prefix token fails the bound is safely pruned —
    // the first-in-order shared token makes the bound tight, later ones
    // only over-prune rows (never the pair: any passing row keeps it).
    val ubound = lit(1) +
      least(col("x.sz") - col("x.__rn"), col("y.sz") - col("y.__rn"))
    val needed =
      (col("x.sz") + col("y.sz")) * threshold / (1 + threshold) - eps
    val cands = pfx.as("x").join(pfx.as("y"),
        col("x.tok") === col("y.tok") && col("x.id") < col("y.id") &&
          col("y.sz") + eps >= col("x.sz") * threshold &&
          col("y.sz") * threshold <= col("x.sz") + eps &&
          ubound >= needed)
      .select(col("x.id").as("a_id"), col("y.id").as("b_id"))
      .dropDuplicates("a_id", "b_id")
      // same pin for the verification: candidate pairs are two longs, so
      // AQE coalesces them onto one task right before the fat toks join
      // + per-pair jaccard evaluation — the stage that actually burns CPU
      .repartition(df.sparkSession.sparkContext.defaultParallelism,
        col("a_id"))
    cands
      .join(full.select(col("id").as("a_id"), col("toks").as("a_toks")), "a_id")
      .join(full.select(col("id").as("b_id"), col("toks").as("b_toks")), "b_id")
      .withColumn("jaccard", round(jaccard(col("a_toks"), col("b_toks")), 4))
      .filter(col("jaccard") >= threshold)
      .select("a_id", "b_id", "jaccard")
  }

  /** Edge-count bound under which a component search finishes LOCALLY
    * with one union-find pass instead of more distributed rounds — the
    * standard two-phase shape of CC at scale (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", §6 "finishing the
    * computation locally once the data fits in memory"; GraphFrames
    * ships the same switch). 65 536 canonical edges ≈ 1 MB collected —
    * inside the repo's bounded-collect discipline — and the gate is
    * re-checked per contraction round, so a 100 TB run still does its
    * heavy shrinking distributed and only the residual ever lands on
    * the driver. Callers that need another bound pass
    * `localFinishEdges`. */
  private val LocalFinishEdges = 65536L

  /** One union-find pass over a collected edge set: (node, cluster =
    * component minimum) for every endpoint — exactly the distributed
    * loops' output contract, order-independent and deterministic. */
  private def localComponents(pairs: Array[(Long, Long)],
      spark: org.apache.spark.sql.SparkSession): DataFrame = {
    val parent = new java.util.HashMap[java.lang.Long, java.lang.Long]()
    def find(x0: Long): Long = {
      var r = x0
      while (parent.get(r) != r) r = parent.get(r)
      var c = x0
      while (c != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    pairs.foreach { case (a, b) =>
      parent.putIfAbsent(a, a); parent.putIfAbsent(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
    }
    // root → component minimum (roots are minima already under the
    // min-link union above, but derive it explicitly for clarity)
    val minOf = new java.util.HashMap[java.lang.Long, java.lang.Long]()
    val it0 = parent.keySet().iterator()
    while (it0.hasNext) {
      val n = it0.next().longValue()
      val r = find(n)
      val cur = minOf.get(r)
      if (cur == null || n < cur) minOf.put(r, n)
    }
    val out = Seq.newBuilder[(Long, Long)]
    val it = parent.keySet().iterator()
    while (it.hasNext) {
      val n = it.next().longValue()
      out += ((n, minOf.get(find(n)).longValue()))
    }
    import spark.implicits._
    out.result().toDF("node", "cluster")
  }

  /** Connected components over an undirected edge list (a_id, b_id) by
    * iterative min-label propagation: every node repeatedly adopts the
    * smallest label among itself and its neighbors until a fixpoint. Each
    * round is one shuffle join + aggregate, all distributed; the driver
    * only checks a change count, so the loop runs diameter-many rounds —
    * small for near-dup clusters, which are dense by construction. (For
    * graphs with long chains the large-star/small-star variant halves the
    * round count; not needed here.) A bounded edge set short-circuits to
    * the local union-find finish (see [[LocalFinishEdges]]). Returns
    * (node, cluster) with cluster = the component's minimum node id — a
    * deterministic representative, which is what makes the op
    * oracle-checkable. */
  def connectedComponents(edges: DataFrame, maxIter: Int = 20,
      localFinishEdges: Long = LocalFinishEdges): DataFrame = {
    // localCheckpoint (not persist): iterative plans nest their inputs, so
    // without lineage truncation the plan tree grows exponentially with
    // rounds (planning itself OOMs long before the data does).
    // The edge list is keyed by dst ONCE before the checkpoint (which
    // preserves the partitioning): every round's neighbor-label join then
    // meets the edge side in place, so only node-sized label frames ever
    // shuffle — the same only-shuffle-the-small-frame discipline as
    // q100's rank loop. Unkeyed, each round re-exchanged the full edge
    // list (guide §2.4: two operations keyed the same way share one
    // exchange).
    val sym = edges
      .select(col("a_id").as("src"), col("b_id").as("dst"))
      .union(edges.select(col("b_id").as("src"), col("a_id").as("dst")))
      .repartition(col("dst"))
      .localCheckpoint()
    // bounded edge set: one local union-find pass replaces
    // diameter-many distributed rounds (the count rides on the
    // checkpoint just materialized)
    if (sym.count() <= 2 * localFinishEdges)
      return localComponents(sym.collect()
        .map(r => (r.getLong(0), r.getLong(1))), edges.sparkSession)
    // sym is symmetric, so its dst side already carries every node —
    // and it is dst-partitioned, so this distinct needs no exchange
    var labels = sym.select(col("dst").as("node")).distinct()
      .withColumn("lab", col("node")).localCheckpoint()
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val viaNbr = sym
        .join(labels.withColumnRenamed("node", "dst"), "dst")
        .select(col("src").as("node"), col("lab"))
      val next = labels.union(viaNbr)
        .groupBy("node").agg(min("lab").as("lab")).localCheckpoint()
      val changed = next.as("n")
        .join(labels.as("o"), "node")
        .filter(col("n.lab") < col("o.lab")).count()
      labels = next
      converged = changed == 0
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds — " +
          "the graph has components of larger diameter; raise maxIter " +
          "or use connectedComponentsStar (log-round convergence)")
    labels.withColumnRenamed("lab", "cluster")
  }

  /** Connected components in O(log²) rounds via alternating large-star /
    * small-star contractions (Kiveris et al., "Connected Components in
    * MapReduce and Beyond") — the variant to prefer over plain min-label
    * propagation when components can be long chains, where label
    * propagation needs diameter-many rounds. Each round is two
    * grouped-min aggregations + joins over the shrinking edge list.
    *
    *   large-star: every node links its LARGER neighbors to the minimum
    *   of its closed neighborhood; small-star: every node links its
    *   smaller neighbors (and itself) to that minimum. The edge list
    *   converges to stars rooted at each component's minimum id.
    *
    * Same output contract as [[connectedComponents]]: (node, cluster). */
  def connectedComponentsStar(edges: DataFrame, maxIter: Int = 30,
      localFinishEdges: Long = LocalFinishEdges): DataFrame = {
    // every canon() repartitions by u before the pair-distinct:
    // HashPartitioning(u) satisfies the distinct's (u, v) clustering,
    // so the distinct aggregates in place, and every downstream
    // grouped-min and u-keyed join in the SAME round reuses that one
    // exchange (guide §2.4). The star contractions re-key edges, so one
    // exchange per canon is the floor — this form hits it, where the
    // unkeyed original paid ~5 per round ((u,v)-hashed distincts that
    // no consumer could reuse, plus per-join re-exchanges).
    def canon(df: DataFrame): DataFrame = df
      .filter(col("u") =!= col("v"))
      .select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      .repartition(col("u"))
      .distinct()
    var e = canon(edges.select(col("a_id").as("u"), col("b_id").as("v")))
      .localCheckpoint() // truncate lineage per round — see above
    var eCount = e.count()
    // the star rounds preserve the endpoint set (every non-root node
    // keeps its (u, min) edge, roots stay on the v side), so a bounded
    // residual can finish locally at ANY round with the same (node,
    // cluster-min) output — Kiveris et al. §6; the heavy shrinking
    // stays distributed at scale
    def localGate(): Boolean = eCount <= localFinishEdges
    if (localGate())
      return localComponents(e.collect()
        .map(r => (r.getLong(0), r.getLong(1))), edges.sparkSession)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
        .repartition(col("u"))
      val m1 = sym.groupBy("u").agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("u"), col("mv")).as("m"))
      val ls = sym.join(m1, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
      val lsE = canon(ls.union(m1.select(col("u"), col("m").as("v"))))
      val m2 = lsE.groupBy("u").agg(min(col("v")).as("m"))
      val ss = lsE.join(m2, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .union(m2.select(col("u"), col("m").as("v")))
      val newE = canon(ss).localCheckpoint()
      val newCount = newE.count()
      // a changed count settles it without the set comparison; only an
      // equal-count round (usually the final one) pays the except check —
      // and one direction suffices: both sides are canon'd DISTINCT sets,
      // so equal cardinality + newE ⊆ e implies newE = e
      val changed =
        if (newCount != eCount) 1L
        else newE.except(e).limit(1).count()
      e = newE
      eCount = newCount
      converged = changed == 0
      iter += 1
      if (!converged && localGate())
        return localComponents(e.collect()
          .map(r => (r.getLong(0), r.getLong(1))), edges.sparkSession)
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponentsStar did not converge in $maxIter rounds")
    val pointed = e.select(col("u").as("node"), col("v").as("lab"))
      .groupBy("node").agg(min("lab").as("cluster"))
    val roots = e.select(col("v").as("node")).distinct()
      .join(pointed, Seq("node"), "left_anti")
      .withColumn("cluster", col("node"))
    pointed.union(roots)
  }

  /** SimHash near-dup pairs with Hamming distance ≤ maxHamming, on the
    * md5 hash family (q18, oracle-exact since r11; the q253 16-bit vote
    * sketch widened to the full 64-bit pair pipeline). Pigeonhole
    * banding: split the 64-bit fingerprint into (maxHamming+1) chunks;
    * any pair within distance must agree on ≥1 chunk, so candidates
    * come from a chunk-equality shuffle join, then exact popcount
    * verification. One fused fingerprint projection per doc
    * (SimHashMd5ChunksExpr — per-occurrence votes, exactly the
    * count-weighted vote table the oracle rebuilds from a (doc, token)
    * rollup). The 64-bit fingerprint lives as (maxHamming+1) chunk
    * columns end to end — never packed into one BIGINT — so neither
    * engine touches the sign bit and the oracle replays chunk-by-chunk.
    * Bit j =
    * [Σ_tok (2·bit_j(md5(tok))−1) ≥ 0] with bit_j read from md5's hex
    * nibble j/4 (ties to 1). */
  def simhashMd5Pairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    val chunks = maxHamming + 1
    require(64 % chunks == 0, s"maxHamming+1 = $chunks must divide 64")
    // fused one-pass fingerprint per doc — no (doc, token) rollup at
    // all (the declarative 64-vote-agg twin cost ×5.8 at sf0.1 — r11
    // bench finding)
    val sigs = Partitioning.ensureParallel(
        df.select(col(idCol).as("id"), col(textCol).as("__text")))
      .withColumn("__fc", graft.functions.SimHashMd5ChunksExpr
        .simhashMd5Chunks(TextOps.tokens(col("__text")), chunks))
      // NO empty-signature filter here: tokens() is a split(), which
      // never yields a zero-element array, so the expression's
      // empty-in→empty-out contract (r11 ADVICE fix) is unreachable on
      // this path — and a size(__fc) guard measured a full SECOND
      // evaluation of the digest loop (predicate pushdown rebuilds the
      // fused expression below the projection; q18 0.78 → 1.03 s).
      // Pre-tokenized callers go through simhashMd5Chunks directly,
      // where empty input now yields an empty signature, never the
      // all-ones fingerprint that paired every empty doc with every
      // other at hamming 0.
      .select(col("id") +: (0 until chunks).map(cx =>
        element_at(col("__fc"), cx + 1).as(s"f$cx")): _*)
    val bucketed = sigs.withColumn("bk",
      explode(array((0 until chunks).map(cx =>
        struct(lit(cx).as("chunk"), col(s"f$cx").as("cv"))): _*)))
    val a = bucketed.select(col("bk") +: col("id").as("a_id") +:
      (0 until chunks).map(cx => col(s"f$cx").as(s"a$cx")): _*)
    val b = bucketed.select(col("bk") +: col("id").as("b_id") +:
      (0 until chunks).map(cx => col(s"f$cx").as(s"b$cx")): _*)
    val ham = (0 until chunks).map(cx =>
      bit_count(col(s"a$cx").bitwiseXOR(col(s"b$cx")))).reduce(_ + _)
      .cast("long")
    a.join(b, Seq("bk")).filter(col("a_id") < col("b_id"))
      .dropDuplicates("a_id", "b_id")
      .withColumn("hamming", ham)
      .filter(col("hamming") <= maxHamming)
      .select("a_id", "b_id", "hamming")
  }
}
