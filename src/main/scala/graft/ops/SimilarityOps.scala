package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Approximate-nearest-neighbor / similarity search over an embedding column
  * (ARRAY<FLOAT>). Brute-force cosine is the correctness baseline; the scale
  * path buckets vectors with random-hyperplane LSH so a query probes only a
  * few buckets instead of the full corpus. All arithmetic in double with
  * explicit left-to-right folds for cross-engine determinism.
  */
object SimilarityOps {

  /** Σ aᵢ·bᵢ as a sequential left fold (deterministic order). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, x) => acc + x))

  /** Single-pass native expression; numerically identical to
    * dot(a,b)/(norm(a)·norm(b)) with left-to-right folds, but ~50× faster
    * on pairwise joins (no interpreted lambdas). */
  def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSimExpr.cosine(a, b)

  /** Brute-force top-k by cosine against one query vector. The scan is a
    * single codegen'd projection + TakeOrderedAndProject — O(n) with no
    * shuffle beyond the final top-k merge, so it parallelizes trivially;
    * it is "brute" only in that it touches every vector. */
  def cosineTopK(vectors: DataFrame, vecCol: String, query: DataFrame,
      queryVecCol: String, k: Int): DataFrame = {
    val q = broadcast(query.select(col(queryVecCol).as("__qv")))
    vectors.crossJoin(q)
      .withColumn("cos_sim", round(cosine(col(vecCol), col("__qv")), 6))
      .drop("__qv")
      .orderBy(desc("cos_sim"), asc(vectors.columns.head))
      .limit(k)
  }

  /** Random-hyperplane LSH signature: bit i = sign(v · hᵢ) for `nPlanes`
    * deterministic pseudo-random hyperplanes starting at plane index
    * `planeOffset` (bands of a multi-table scheme use disjoint plane
    * ranges). Vectors with small angle agree on most bits, so grouping by
    * the signature buckets near neighbors. */
  def hyperplaneSig(vec: Column, dim: Int, nPlanes: Int,
      planeOffset: Int = 0): Column = {
    val bits = (0 until nPlanes).map { p =>
      val plane = array((0 until dim).map(d =>
        lit(graft.functions.HashExprs.planeComp(planeOffset + p, d))): _*)
      when(dot(vec, plane) >= 0, lit(1L << p)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** The probe set of a multi-probe LSH lookup, one row per bucket
    * (`__probe`): the query's own signature `qsig` plus every 1-bit flip
    * of its `nPlanes` bits. Used by [[latticeAnnTopK]] (q25). */
  private def flipProbes(qsig: Column, nPlanes: Int): Column =
    explode(array((qsig +: (0 until nPlanes).map(p =>
      qsig.bitwiseXOR(lit(1L << p)))): _*)).as("__probe")

  // ------------------------------------------------------------------
  // md5-replayable integer-lattice ANN (r10): multi-probe LSH and IVF
  // probe shapes where every number is an integer derived from the
  // floor(x·1000) lattice (q182/q211/q230 convention) and every
  // "random" constant from standard md5 — so the results replay
  // bit-exactly in ANSI SQL and the driver hash-checks them like any
  // exact query (the q253 hash-checkable-sketch rule applied to ANN).
  // ------------------------------------------------------------------

  /** Quantize one float component onto the integer lattice
    * floor(x·1000): float→double widening and the double multiply are
    * IEEE-exact on every engine, so the lattice value — and every
    * integer derived from it — is engine-independent. The one spelling
    * of the quantizer: every lattice query (q182, q185/q216, q189,
    * q201, q211, q230, q237/q240/q292's grid, q238, q259, q291,
    * q301/q302 and the lattice ANN ops here) goes through it or
    * [[latticeVec]]. */
  def lattice(x: Column): Column = floor(x.cast("double") * 1000).cast("long")

  /** [[lattice]] over every component of a float embedding. */
  def latticeVec(vec: Column): Column = transform(vec, lattice(_))

  /** ‖a−b‖² of two lattice vectors, expanded to dot identities so each
    * distance is three codegen'd integer loops (LongDotExpr), not an
    * interpreted zip_with fold — the same BIGINT as Σ(aᵢ−bᵢ)². The Lloyd
    * and IVF distance of q182, q301/q302 and [[semanticDedup]]. */
  private[graft] def dist2(a: Column, b: Column): Column = {
    import graft.functions.LongDotExpr.longDot
    longDot(a, a) - lit(2L) * longDot(a, b) + longDot(b, b)
  }

  /** md5-derived hyperplane sign (±1): the parity of the first hex
    * digit of md5("plane:p:d"). Both engines compute the same standard
    * md5, so the hyperplane family is shared without shipping
    * constants; within one plane the 64 digit parities are independent
    * coin flips, which is all sign-random-projection needs. */
  private[graft] def md5PlaneSign(p: Int, d: Int): Long = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(s"plane:$p:$d".getBytes("UTF-8"))
    if ((((h(0) >> 4) & 0xf) & 1) == 1) 1L else -1L
  }

  /** LSH signature on the lattice: bit p = [Σ_d sign(p,d)·q[d] ≥ 0].
    * The per-plane dot is a codegen'd integer loop against a literal
    * ±1 array (LongDotExpr), so the signature projection stays inside
    * whole-stage codegen on the corpus scan. */
  def latticeSig(latVec: Column, dim: Int, nPlanes: Int): Column = {
    import graft.functions.LongDotExpr.longDot
    (0 until nPlanes).map { p =>
      val sgn = array((0 until dim).map(d => lit(md5PlaneSign(p, d))): _*)
      when(longDot(latVec, sgn) >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Signed lattice cosine ×1e8: sign(num) · ⌊num²·10⁸ / (‖a‖²·‖b‖²)⌋,
    * all LONG integers (split division, see latticeScoreE8) — the
    * oracle computes the same value in HUGEINT, both truncate
    * identically on the positive operands, and the result ≤ 10⁸ is a
    * plain BIGINT (the no-DECIMAL output gate). */
  def latticeCosE8(a: Column, b: Column): Column = {
    import graft.functions.LongDotExpr.longDot
    latticeScoreE8(longDot(a, b), longDot(a, a) * longDot(b, b))
  }

  /** den must satisfy den·10⁴ < 2⁶³ for the all-long split division
    * below — i.e. ‖a‖²·‖b‖² ≤ 9.2e14, comfortably true for unit-norm
    * embeddings on the floor(x·1000) lattice (‖·‖² ≈ 10⁶ ⇒ den ≈ 10¹²)
    * and enforced in-plan by a raise_error branch, never silently. */
  private val MaxDen = Long.MaxValue / 10000L

  /** The score core with the norm product already in hand — callers
    * that rank one vector against many (IVF assignment) hoist the
    * row norm once and fold each centroid norm to a literal, instead
    * of recomputing three 64-element dots per (row, cell).
    *
    * All-LONG arithmetic (r10 bench finding: the first, DECIMAL(38,0)
    * form cost ~0.3 ms/row in q44's assignment projection): with
    * n² ≤ den (Cauchy–Schwarz, exact on the integer lattice) and
    * den·10⁴ < 2⁶³, split the ×10⁸ scaling into two exact ×10⁴ steps —
    *   s = ⌊n²·10⁸/den⌋ = ⌊n²·10⁴/den⌋·10⁴ + ⌊(n²·10⁴ mod den)·10⁴/den⌋
    * — every intermediate < 2⁶³, every op codegen'd long arithmetic,
    * value identical to the oracle's HUGEINT ⌊n²·10⁸/den⌋. */
  private def latticeScoreE8(num: Column, den: Column): Column = {
    import graft.Tables.ldiv
    val n2t = num * num * 10000L
    val mag = ldiv(n2t, den) * 10000L + ldiv((n2t % den) * 10000L, den)
    // den = 0 (an all-zero lattice vector) must refuse loudly on BOTH
    // engines: the oracle's HUGEINT `//` raises division-by-zero, but
    // Spark's non-ANSI IntegralDivide would return NULL — a silent
    // engine divergence on degenerate data without this branch
    signum(num).cast("long") *
      when(den <= 0, raise_error(lit(
        "latticeScoreE8: zero norm product — an all-zero embedding has " +
          "no cosine; filter degenerate vectors upstream")).cast("long"))
      .when(den <= MaxDen, mag)
      .otherwise(raise_error(lit(
        "latticeScoreE8: norm product exceeds the long-split bound " +
          "(den > 2^63/1e4) — vectors are far off unit norm")).cast("long"))
  }

  /** md5-replayable ANN top-k (oracle-exact q25 form): probe only
    * vectors whose lattice-LSH bucket matches the query's (multi-probe
    * over the query's bucket and its 1-bit flips). Recall < 1 by
    * construction. One sigged corpus scan, broadcast 1+nPlanes probe
    * buckets, TakeOrderedAndProject — at scale the bucket column is
    * the storage partition key, so probes prune. */
  def latticeAnnTopK(vectors: DataFrame, idCol: String, vecCol: String,
      dim: Int, queryId: Long, k: Int, nPlanes: Int = 8): DataFrame = {
    val base = vectors.select(col(idCol), latticeVec(col(vecCol)).as("__q"))
    val sigged = base.withColumn("__sig", latticeSig(col("__q"), dim, nPlanes))
    val qSig = broadcast(base.filter(col(idCol) === queryId)
      .select(col("__q").as("__qv"))
      .withColumn("__qsig", latticeSig(col("__qv"), dim, nPlanes)))
    val probes = qSig.select(col("__qv"), flipProbes(col("__qsig"), nPlanes))
    sigged.join(probes, col("__sig") === col("__probe"))
      .withColumn("lat_cos_e8", latticeCosE8(col("__q"), col("__qv")))
      .select(col(idCol), col("lat_cos_e8"))
      .orderBy(desc("lat_cos_e8"), asc(idCol))
      .limit(k)
  }

  /** md5-replayable IVF top-k (oracle-exact q44 form): centroid SEEDS
    * are the nCells vectors with the smallest md5("seed:"||id) (both
    * engines sort the same lowercase-hex strings), cells rank by the
    * integer lattice score with ties to the smaller centroid id, the
    * query probes its nprobe best cells. The collected centroids are
    * nCells tiny rows (a bottom-k-by-hash sketch: no count pass, no
    * global sort), assignment is one codegen'd projection, and at scale
    * the cell id is the storage partition key, so a probe reads
    * nprobe/nCells of the data. */
  def latticeIvfTopK(vectors: DataFrame, idCol: String, vecCol: String,
      queryId: Long, k: Int, nCells: Int = 16, nprobe: Int = 2)
      : DataFrame = {
    import graft.functions.LongDotExpr.longDot
    val base = vectors.select(col(idCol).cast("long").as(idCol),
      latticeVec(col(vecCol)).as("__q"))
    val cents: Seq[(Long, Array[Long])] = base
      .orderBy(md5(concat(lit("seed:"), col(idCol).cast("string"))),
        col(idCol))
      .limit(nCells).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray)).toSeq
    // score every cell for a vector as struct(s, -cell): struct
    // ordering then ranks score DESC with ties to the SMALLER centroid
    // id — exactly the oracle's row_number() ORDER BY s DESC, cid. The
    // row norm is computed ONCE per row (na) and each centroid norm
    // folds to a literal, so assignment costs one 64-dot + a few long
    // ops per (row, cell); argmax is the native array_max (no
    // interpreted comparator lambda — the r10 bench finding: the
    // array_sort(λ) form evaluated interpreted at ~0.3 ms/row).
    def cellScores(v: Column, na: Column): Column =
      array(cents.map { case (cid, cv) =>
        val nc = cv.map(x => x * x).sum
        struct(latticeScoreE8(longDot(v, array(cv.map(lit(_)): _*)),
          na * lit(nc)).as("s"),
          lit(-cid).as("negcell"))
      }: _*)
    val assigned = base
      .withColumn("__na", longDot(col("__q"), col("__q")))
      .withColumn("cell",
        -array_max(cellScores(col("__q"), col("__na"))).getField("negcell"))
      .drop("__na")
    // the query row ranks its nprobe best cells: a 1-row sort, so the
    // lambda comparator's interpreted evaluation is irrelevant here
    val qCells = broadcast(base.filter(col(idCol) === queryId)
      .select(col("__q").as("__qv"))
      .withColumn("__na", longDot(col("__qv"), col("__qv")))
      .withColumn("__negprobe", explode(slice(array_sort(
        cellScores(col("__qv"), col("__na")),
        (l, r) => when(l.getField("s") > r.getField("s"), -1)
          .when(l.getField("s") < r.getField("s"), 1)
          .otherwise(when(l.getField("negcell") > r.getField("negcell"),
            -1).otherwise(1))), 1, nprobe).getField("negcell")))
      .select(col("__qv"), (-col("__negprobe")).as("probe")))
    assigned.join(qCells, col("cell") === col("probe"))
      .withColumn("lat_cos_e8", latticeCosE8(col("__q"), col("__qv")))
      .select(col(idCol), col("lat_cos_e8"))
      .orderBy(desc("lat_cos_e8"), asc(idCol))
      .limit(k)
  }

  /** Exact all-pairs cosine near-duplicates (a_id < b_id, sim ≥ minSim).
    * The broadcast side is the whole corpus — valid only when it fits in
    * executor memory (≤ a few hundred MB of vectors); annSelfJoin is the
    * sub-quadratic path beyond that. The stream side is spread to
    * default parallelism so the O(n²/2) cosine work runs on every core
    * instead of inheriting a small scan's single partition. */
  def exactCosinePairs(vectors: DataFrame, idCol: String, vecCol: String,
      minSim: Double, maxBroadcastRows: Long = 1000000L): DataFrame = {
    // fail loudly before building a broadcast that cannot fit, with the
    // fix in the message. The probe is one bounded job over the pruned id
    // column (at most maxBroadcastRows+1 rows, clamped against Int
    // overflow); callers whose `vectors` is an expensive computed plan
    // should cache it first, since the probe re-evaluates it.
    require(boundedCount(vectors, idCol, maxBroadcastRows) <= maxBroadcastRows,
      s"exactCosinePairs would broadcast > $maxBroadcastRows vectors; " +
        "use annSelfJoin (LSH-bucketed) for corpora this size")
    exactPairsNoGuard(vectors, idCol, vecCol, minSim)
  }

  /** One bounded job over the pruned id column: counts at most cap+1
    * rows, so the dispatch/guard probe stays O(cap) at any corpus size. */
  private def boundedCount(vectors: DataFrame, idCol: String,
      cap: Long): Long = {
    val lim = math.min(cap + 1, Int.MaxValue.toLong).toInt
    vectors.select(col(idCol)).limit(lim).count()
  }

  private def exactPairsNoGuard(vectors: DataFrame, idCol: String,
      vecCol: String, minSim: Double): DataFrame = {
    val a = Partitioning.ensureParallel(
      vectors.select(col(idCol).as("a_id"), col(vecCol).as("av")))
    val b = broadcast(
      vectors.select(col(idCol).as("b_id"), col(vecCol).as("bv")))
    a.join(b, col("a_id") < col("b_id"))
      .withColumn("cos_sim", round(cosine(col("av"), col("bv")), 6))
      .filter(col("cos_sim") >= minSim)
      .select("a_id", "b_id", "cos_sim")
  }

  /** Size-dispatched near-dup front door: the O(n²) exact all-pairs while
    * the corpus is small enough (deterministic, oracle-checkable), the
    * banded-LSH annSelfJoin beyond that (sub-quadratic; approximate by
    * construction — each vector keeps its k best bucket-mates at
    * ≥ minSim, emitted in both directions). One bounded count picks the
    * plan, so no caller ever ships the unconditional broadcast
    * theta-join to a corpus that can't take it.
    *
    * exactMaxRows is a COMPUTE bound, not just a broadcast-memory bound
    * (the r6 scale probe caught the difference): exact cost is
    * n²·dim/2 multiplies — 10k rows ≈ 3×10⁹, seconds on one machine —
    * while the old 1M cap would have admitted 3×10¹³. Beyond the cap,
    * the LSH path auto-derives planesPerBand from the measured corpus
    * count (see autoPlanes) so bucket DENSITY, and with it pair work
    * per row, stays flat as the corpus grows — the probe measured
    * exponent 1.34 with fixed buckets; density-invariant buckets make
    * the candidate stage ~linear at fixed recall envelope. */
  def nearDupPairs(vectors: DataFrame, idCol: String, vecCol: String,
      dim: Int, minSim: Double, exactMaxRows: Long = 10000L,
      k: Int = 5, planesPerBand: Int = 6, bands: Int = 32): DataFrame =
    if (boundedCount(vectors, idCol, exactMaxRows) <= exactMaxRows)
      exactPairsNoGuard(vectors, idCol, vecCol, minSim)
    else {
      val n = vectors.select(col(idCol)).count() // pruned one-column pass
      annSelfJoin(vectors, idCol, vecCol, dim, k,
        autoPlanes(n, planesPerBand), bands)
        .filter(col("cos_sim") >= minSim)
    }

  /** Bucket-density-invariant plane count: enough hyperplanes that a
    * band's expected bucket holds ~`targetBucket` vectors
    * (2^planes ≈ n/targetBucket), floored at the caller's tuning and
    * capped at 12 — past that, per-band match probability for real
    * near-dup thresholds (cos ≥ 0.8, p ≈ 0.795/plane) drops below
    * what 32 bands can recover (recall = 1 − (1 − p^planes)^bands;
    * 12 planes × 32 bands ≈ 0.88). Above the cap's reach
    * (n ≳ 4096·targetBucket ≈ 500k vectors per local unit), hold
    * planes and scale BANDS — cost grows linearly in bands while
    * recall returns exponentially. */
  private[graft] def autoPlanes(n: Long, floor: Int,
      targetBucket: Long = 128L, cap: Int = 12): Int = {
    // needed = ⌈log2(max(1, n/targetBucket))⌉, computed in INTEGER
    // arithmetic (smallest p with targetBucket·2^p ≥ n) so an oracle
    // can replay the derivation exactly — the FP log2 form risks a
    // ±1-ulp ceil flip at exact powers of two (r11, q74 oracle)
    var needed = 0
    while (needed < cap && (targetBucket << needed) < n) needed += 1
    math.max(floor, needed)
  }

  /** All-pairs top-k neighbor join via banded multi-table LSH (each vector
    * keeps its k nearest among its bucket-mates) — the scalable
    * self-similarity-join shape.
    *
    * Standard OR-of-ANDs banding (the hyperplane analogue of MinHash LSH
    * bands): `bands` independent tables of `planesPerBand` hyperplanes
    * each; a pair becomes a candidate when it agrees on EVERY plane of at
    * least one band. With per-plane agreement p = 1 − θ/π, candidate
    * probability is 1 − (1 − p^b)^L — an S-curve whose threshold
    * (1/L)^(1/b) the caller tunes to the target similarity: (8, 16)
    * suits real near-dup thresholds (cos ≥ 0.8); looser thresholds need
    * fewer planes / more bands. Each band is one shuffle key
    * ((band, sig) pair), so the whole join is L bucket-joins that never
    * materialize the cross product; duplicate candidates across bands are
    * collapsed BEFORE the cosine so each pair is verified exactly once. */
  def annSelfJoin(vectors: DataFrame, idCol: String, vecCol: String, dim: Int,
      k: Int, planesPerBand: Int = 8, bands: Int = 16): DataFrame =
    bandedSelfJoin(vectors.select(col(idCol).as("id"), col(vecCol).as("v")),
      graft.functions.HashExprs.hyperplane_sigs(col("v"), dim,
        planesPerBand, bands),
      k, "cos_sim", round(cosine(col("a_v"), col("b_v")), 6))

  /** md5-replayable banded ANN self-join (oracle-exact q74 form, r11):
    * the exact plan shape of [[annSelfJoin]] — one fused-signature pass
    * per row, `bands` bucket-joins on (band, sig), cross-band dedup
    * BEFORE scoring, partitioned top-k window — but on the floor(x·1000)
    * integer lattice with md5-derived plane signs and the signed
    * ⌊num²·1e8/(na·nb)⌋ score, so every number replays in DuckDB like
    * q25/q44. The 100 TB story is unchanged: per-band bucket density is
    * what autoPlanes holds flat, and no stage materializes a cross
    * product. Output: (a_id, b_id, lat_cos_e8), both directions, k best
    * bucket-mates per vector. */
  def latticeAnnSelfJoin(vectors: DataFrame, idCol: String, vecCol: String,
      dim: Int, k: Int, planesPerBand: Int, bands: Int): DataFrame =
    bandedSelfJoin(
      vectors.select(col(idCol).as("id"), latticeVec(col(vecCol)).as("v")),
      graft.functions.HashExprs.lattice_sigs(col("v"), dim,
        planesPerBand, bands),
      k, "lat_cos_e8", latticeCosE8(col("a_v"), col("b_v")))

  /** The banded self-join body of [[annSelfJoin]] (the scale path of
    * [[nearDupPairs]], q40 past its exact cap) and [[latticeAnnSelfJoin]]
    * (q74): `idv` is the (id, v) relation, `sigs` the fused all-band
    * signature array over `v`, `score` the pair score over (a_v, b_v),
    * emitted as `scoreName`. Shape: one signature pass per row, one row per
    * (band, sig) bucket key, `bands` bucket-joins, cross-band dedup
    * BEFORE scoring (each pair is scored once), join-back of the two
    * vectors, and an a_id-partitioned top-k window (score desc, b_id). */
  private def bandedSelfJoin(idv: DataFrame, sigs: Column, k: Int,
      scoreName: String, score: Column): DataFrame = {
    // ensureParallel: signature hashing is bands × planes × dim work
    // per row, and a bench-SF single-file vector scan would serialize
    // it into one task (at scale the splits already parallelize)
    val base = Partitioning.ensureParallel(idv)
    // all band signatures in one codegen'd pass per row (the declarative
    // per-plane fold is interpreted and costs bands × planes × dim boxed
    // steps), then one row per (band, sig) bucket key
    val sigged = base.select(col("id"),
      posexplode(sigs).as(Seq("band", "sig")))
    val a = sigged.select(col("band"), col("sig"), col("id").as("a_id"))
    val b = sigged.select(col("band"), col("sig"), col("id").as("b_id"))
    val cands = a.join(b, Seq("band", "sig"))
      .filter(col("a_id") =!= col("b_id"))
      .select("a_id", "b_id")
      .dropDuplicates("a_id", "b_id")
    val pairs = cands
      .join(base.select(col("id").as("a_id"), col("v").as("a_v")), "a_id")
      .join(base.select(col("id").as("b_id"), col("v").as("b_v")), "b_id")
      .withColumn(scoreName, score)
    val w = Window.partitionBy(col("a_id"))
      .orderBy(desc(scoreName), asc("b_id"))
    pairs.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select("a_id", "b_id", scoreName)
  }

  /** SemDeDup (Abbas et al. 2023): cluster the embedding corpus with k
    * clusters of 2-round Lloyd on the floor(x·1000) integer lattice,
    * then remove near-duplicates WITHIN each cluster only — the cluster
    * bound is what makes semantic dedup tractable at web scale, because
    * the quadratic is per-cluster. `k` is the explicit scale knob
    * (r11 verdict #2 — it lived in a comment before): hold cluster size
    * ≈ n/k constant by growing k with n ([[semanticDedupAuto]] does
    * exactly that), and the per-cluster candidate count stays flat as
    * the corpus grows (SemanticDedupSpec pins this at two sizes).
    *
    * Shapes, all k-parametric:
    *   - seeds = the k smallest ids (a TakeOrdered, value-identical to
    *     the historical `id < k` filter on the dense 0-based testdata
    *     ids but well-defined for any id domain);
    *   - assignment = crossJoin(broadcast(centroids)) + per-vector
    *     argmin, size-dispatched on k: the window form for pinned-small
    *     k (≤ 8, the oracle registry's regime), the partial-aggregating
    *     min_by form when k grows with n — a window must shuffle all
    *     n·k candidate rows (quadratic once k ∝ n), while min_by
    *     resolves each vector map-side so the exchange carries n rows
    *     regardless of k. Values are identical either way (the
    *     ordering struct (dist, cid) is duplicate-free per vector).
    *   - centroid broadcast holds while k·dim·8 B stays broadcastable
    *     (k ≲ 10⁵ at dim 64); beyond that, assignment itself needs an
    *     ANN pre-bucket (documented boundary, not built).
    *   - intra-cluster pairs gate on the exact integer predicate
    *     25·dot² ≥ 4·‖a‖²·‖b‖² ∧ dot>0 (cos ≥ 0.4, no float compare),
    *     connected components pick each group's min-id survivor.
    *
    * Output: per-cluster dedup report (cid, n_vecs, n_edges, n_removed,
    * kept_checksum) — the q211 registry shape at k=4. */
  def semanticDedup(vectors: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"semanticDedup needs k >= 1, got $k")
    import graft.functions.LongDotExpr.longDot
    // keyed by vec_id (not round-robin) before the checkpoint, which
    // preserves the partitioning: all three assignment rounds' per-
    // vector argmins and the pair-stage join-back then meet the base
    // in place instead of re-exchanging n·k scored rows per round
    // (guide §2.4); the hash key is unique, so the spread matches
    // round-robin at any scale
    val base = vectors.select(col(idCol).as("vec_id"),
        latticeVec(col(vecCol)).as("q"))
      .repartition(col("vec_id"))
      .localCheckpoint()
    val c0 = base.orderBy("vec_id").limit(k)
      .select(col("vec_id").as("cid"), col("q").as("cent"))
    // size-dispatched argmin (the nearDupPairs precedent): identical
    // values either way — (dist, cid) is duplicate-free per vector —
    // but different plans for different k regimes.
    def assign(cents: DataFrame): DataFrame =
      // pinned-small k (the q211 registry's k=4): the window argmin —
      // its n·k candidate exchange is bounded by 8 narrow rows per
      // vector, and it benches ~25% faster than the aggregate form
      // at this size (no SortAggregate pass)
      if (k <= 8) lloydAssign(base, cents).drop("dist")
      // k ∝ n (the semanticDedupAuto regime): a window would SHUFFLE
      // all n·k candidate rows — a quadratic exchange once k grows
      // with n. min_by aggregates instead: every vector's k
      // candidates sit in one partition of the broadcast-crossJoin
      // output, so the partial pass resolves each vector map-side
      // and the exchange carries n rows regardless of k. The vector
      // payload is DROPPED before the aggregation and joined back
      // from the checkpointed base after — min_by's struct buffer
      // plans as SortAggregate, and sorting n·k 24-byte (dist, cid)
      // rows instead of ~550-byte q-carrying rows cut the measured
      // ×100 spill ~20× for the price of one n-row join.
      else lloydScores(base, cents).drop("q").groupBy("vec_id")
        .agg(min_by(col("cid"), struct(col("dist"), col("cid"))).as("cid"))
        .join(base, "vec_id")
        .select(col("vec_id"), col("q"), col("cid"))
    // per-vector squared norm computed ONCE before the checkpoint (it
    // materializes with the assignment) — the pair stage below must
    // never recompute an O(dim) quantity per PAIR, only the dot
    val a3 = assign(lloydUpdate(assign(lloydUpdate(assign(c0)))))
      .withColumn("nv", longDot(col("q"), col("q")))
      .localCheckpoint() // two consumers: pair join sides + rollup
    val x = a3.select(col("cid"), col("vec_id").as("a_id"),
      col("q").as("qa"), col("nv").as("na"))
    val y = a3.select(col("cid"), col("vec_id").as("b_id"),
      col("q").as("qb"), col("nv").as("nb"))
    val pairs = x.join(y, "cid").filter(col("a_id") < col("b_id"))
      .select(col("cid"), col("a_id"), col("b_id"),
        longDot(col("qa"), col("qb")).as("dot"),
        col("na"), col("nb"))
    val edges = pairs.filter(col("dot") > 0 &&
      lit(25L) * col("dot") * col("dot") >= lit(4L) * col("na") * col("nb"))
    val nEdges = edges.groupBy("cid").agg(count(lit(1)).as("n_edges"))
    val removed = DedupOps
      .connectedComponents(edges.select("a_id", "b_id"))
      .filter(col("node") =!= col("cluster")) // survivor = min id
      .select(col("node").as("vec_id")).withColumn("rem", lit(1L))
    a3.join(removed, Seq("vec_id"), "left")
      .groupBy("cid")
      .agg(count(lit(1)).as("n_vecs"),
        sum(coalesce(col("rem"), lit(0L))).as("n_removed"),
        sum(when(col("rem").isNull, col("vec_id"))).cast("long")
          .as("kept_checksum"))
      .join(nEdges, Seq("cid"), "left")
      .select(col("cid"), col("n_vecs"),
        coalesce(col("n_edges"), lit(0L)).as("n_edges"),
        col("n_removed"), col("kept_checksum"))
      .orderBy("cid")
  }

  /** Every (vector, centroid) pair of a lattice Lloyd round: `base`
    * (vec_id, q) crossJoined with the broadcast centroid table `cents`
    * (cid, cent), projected to (vec_id, q, cid, carry…, dist) with
    * dist = [[dist2]](q, cent). `carry` columns are evaluated per pair
    * and kept. The centroid broadcast holds while k·dim·8 B stays
    * broadcastable (k ≲ 10⁵ at dim 64). */
  private def lloydScores(base: DataFrame, cents: DataFrame,
      carry: Column*): DataFrame =
    base.crossJoin(broadcast(cents))
      .select(Seq(col("vec_id"), col("q"), col("cid")) ++ carry :+
        dist2(col("q"), col("cent")).as("dist"): _*)

  /** One integer-Lloyd assignment: each vector of `base` (vec_id, q)
    * keeps its nearest centroid of `cents` (cid, cent) by the exact
    * (dist, cid) order — a per-vector row_number window over the
    * [[lloydScores]] pairs, partitioned by vec_id (never global), so the
    * argmin is duplicate-free and engine-independent. Output: (vec_id,
    * q, cid, carry…, dist). Used by q182 (carrying its centroid
    * checksum), the q301/q302 coarse quantizer (carrying the centroid
    * for the residual) and [[semanticDedup]]'s k ≤ 8 branch (q211). */
  private[graft] def lloydAssign(base: DataFrame, cents: DataFrame,
      carry: Column*): DataFrame = {
    val w = Window.partitionBy("vec_id").orderBy("dist", "cid")
    lloydScores(base, cents, carry: _*)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
  }

  /** One Lloyd centroid update over an assignment (cid, q): each
    * component's truncated mean (integral DIV, toward zero on both
    * engines), reassembled into the `cent` array in component order.
    * One cid-keyed exchange serves both aggregation levels (hash(cid)
    * satisfies the (cid, pos) clustering, so the component means
    * aggregate in place and the array re-assembly reuses the same
    * partitioning). Used by [[semanticDedup]] (q211/q291) and the
    * q301/q302 coarse quantizer; q182 keeps its own partially
    * aggregating update. */
  private[graft] def lloydUpdate(assigned: DataFrame): DataFrame = {
    import graft.Tables.ldiv
    assigned
      .select(col("cid"), posexplode(col("q")).as(Seq("pos", "v")))
      .repartition(col("cid"))
      .groupBy("cid", "pos")
      .agg(ldiv(sum(col("v")), count(lit(1))).as("cv"))
      .groupBy("cid")
      .agg(transform(array_sort(collect_list(struct(col("pos"),
        col("cv")))), x => x.getField("cv")).as("cent"))
  }

  /** Product-quantizer codebook on the integer lattice: `base` holds
    * one row per vector component (vec_id, sub, j, v) — 64 dims → 8
    * subspaces `sub` × 8 components `j` — and the k codes of every
    * subspace are seeded from the components of vec_id < k, then
    * trained by one Lloyd round ([[pqAssign]], then a truncated-mean
    * update, integral DIV toward zero). Returns the (sub, code, j, cv)
    * codebook, localCheckpointed once because both callers read it
    * twice (encode + lookup table). Trains q185/q216's codebook on the
    * quantized vectors and q301/q302's on the coarse residuals. */
  private[graft] def pqTrain(base: DataFrame, k: Int): DataFrame = {
    import graft.Tables.ldiv
    val c0 = base.filter(col("vec_id") < k)
      .select(col("sub"), col("vec_id").as("code"), col("j"),
        col("v").as("cv"))
    base.join(pqAssign(base, c0).select("vec_id", "sub", "code"),
        Seq("vec_id", "sub"))
      .groupBy("sub", "code", "j")
      .agg(ldiv(sum(col("v")), count(lit(1))).as("cv"))
      .localCheckpoint()
  }

  /** PQ encoding: each (vec_id, sub) of the component rows `base`
    * keeps its nearest code of codebook `cb` (sub, code, j, cv) by the
    * exact BIGINT Σ(v − cv)² with ties to the smaller code — a
    * (vec_id, sub)-partitioned row_number window. Output: (vec_id, sub,
    * code, dist). Used by [[pqTrain]] and by q185/q216 and q301/q302
    * to encode the corpus. */
  private[graft] def pqAssign(base: DataFrame, cb: DataFrame): DataFrame = {
    val w = Window.partitionBy("vec_id", "sub").orderBy("dist", "code")
    base.join(broadcast(cb), Seq("sub", "j"))
      .groupBy("vec_id", "sub", "code")
      .agg(sum((col("v") - col("cv")) * (col("v") - col("cv")))
        .as("dist"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
  }

  /** The production SemDeDup entry: k ∝ n. One bounded count sizes
    * k = ⌈n / targetClusterSize⌉, so expected cluster size — and with
    * it the per-cluster quadratic — stays constant as the corpus grows
    * (the 100 TB posture the pinned k=4 registry form can't have). The
    * count is one O(n) id-column scan; a deployment that already knows
    * n (catalog stats, snapshot manifest) calls [[semanticDedup]]
    * directly with its own k. */
  def semanticDedupAuto(vectors: DataFrame, idCol: String, vecCol: String,
      targetClusterSize: Int = 4096): DataFrame = {
    require(targetClusterSize >= 1)
    val n = vectors.select(col(idCol)).count()
    val k = math.max(1L,
      (n + targetClusterSize - 1) / targetClusterSize).toInt
    semanticDedup(vectors, idCol, vecCol, k)
  }
}
