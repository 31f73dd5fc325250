package graft

import org.apache.spark.sql.functions._
import graft.ops.SimilarityOps

/** SimilarityOps.semanticDedup / semanticDedupAuto (r11 verdict #2 —
  * the k∝n production path must exist in code, not a comment):
  *   - dedup correctness on a corpus with a known duplicate group,
  *   - auto-k = ⌈n / targetClusterSize⌉ (report equals the explicit-k
  *     call),
  *   - THE SCALE PROPERTY: with k ∝ n, the per-cluster candidate count
  *     stays flat as the corpus grows — total intra-cluster pairs grow
  *     ~linearly in n, never quadratically.
  */
class SemanticDedupSpec extends SparkSpec {
  import spark.implicits._

  /** deterministic pseudo-random component in [-1, 1] (LCG-mixed). */
  private def comp(i: Long, d: Int): Float = {
    val z = (i * 1103515245L + d * 12345L + 54321L) * 0x9E3779B97F4A7C15L
    (((z >>> 20) % 1000001L).toFloat / 1000000.0f) * 2.0f - 1.0f
  }

  private def corpus(n: Int, dim: Int = 8) =
    (0L until n.toLong).map(i =>
      (i, Seq.tabulate(dim)(d => comp(i, d)))).toDF("vec_id", "embedding")

  test("duplicate group dedups to its min-id survivor; orthogonals stay") {
    // ±0.9·e_d for d < 8 (cos 0 or -1 between distinct vectors — never
    // an edge) plus two exact copies of id 0's vector (cos 1)
    def axis(d: Int, sgn: Float) =
      Seq.tabulate(8)(j => if (j == d) 0.9f * sgn else 0.0f)
    val rows = (0 until 8).map(d => (d.toLong, axis(d, 1.0f))) ++
      (0 until 8).map(d => (8L + d, axis(d, -1.0f))) ++
      Seq((16L, axis(0, 1.0f)), (17L, axis(0, 1.0f)))
    val report = SimilarityOps.semanticDedup(
      rows.toDF("vec_id", "embedding"), "vec_id", "embedding", k = 4)
      .collect()
    assert(report.map(_.getLong(1)).sum == 18) // every vector accounted
    assert(report.map(_.getLong(3)).sum == 2) // exactly the two copies
    // survivor = min id ⇒ 16 and 17 removed, so the kept checksum is
    // Σ ids − 16 − 17 regardless of how Lloyd split the clusters
    assert(report.map(_.getLong(4)).sum == (0 until 18).sum - 16 - 17)
    // the duplicate group contributes its 3 intra-group edges
    assert(report.map(_.getLong(2)).sum == 3)
  }

  /** semanticDedup in plain Scala: floor(x·1000) lattice, the k smallest
    * ids as seeds, three (dist, cid)-argmin assignments around two
    * truncated-mean updates (Long division truncates toward zero, like
    * the engine's DIV), cos ≥ 0.4 intra-cluster edges, min-id component
    * survivors. Rows: (cid, n_vecs, n_edges, n_removed, kept_checksum). */
  private def replica(vecs: Seq[(Long, Seq[Float])],
      k: Int): Seq[(Long, Long, Long, Long, Long)] = {
    val q = vecs.map { case (id, v) =>
      id -> v.map(x => math.floor(x.toDouble * 1000).toLong) }.toMap
    def dot(a: Seq[Long], b: Seq[Long]) =
      a.zip(b).map { case (x, y) => x * y }.sum
    def assign(cents: Map[Long, Seq[Long]]): Map[Long, Long] =
      q.map { case (id, v) =>
        id -> cents.toSeq.map { case (cid, c) =>
          (v.zip(c).map { case (x, y) => (x - y) * (x - y) }.sum, cid)
        }.min._2 }
    def update(a: Map[Long, Long]): Map[Long, Seq[Long]] =
      a.groupBy(_._2).map { case (cid, members) =>
        val vs = members.keys.toSeq.map(q)
        cid -> vs.transpose.map(_.sum / vs.size) }
    val seeds = q.keys.toSeq.sorted.take(k).map(id => id -> q(id)).toMap
    val cluster = assign(update(assign(update(assign(seeds)))))
    val edges = for {
      (a, ca) <- cluster.toSeq; (b, cb) <- cluster.toSeq
      if ca == cb && a < b
      d = dot(q(a), q(b))
      if d > 0 && 25 * d * d >= 4 * dot(q(a), q(a)) * dot(q(b), q(b))
    } yield (ca, a, b)
    // min-label propagation to a fixpoint: label = component minimum
    var label = cluster.keys.map(id => id -> id).toMap
    var changed = true
    while (changed) {
      val next = edges.foldLeft(label) { case (l, (_, a, b)) =>
        val m = math.min(l(a), l(b)); l.updated(a, m).updated(b, m) }
      changed = next != label
      label = next
    }
    cluster.groupBy(_._2).toSeq.sortBy(_._1).map { case (cid, members) =>
      val ids = members.keys.toSeq
      val kept = ids.filter(id => label(id) == id)
      (cid, ids.size.toLong, edges.count(_._1 == cid).toLong,
        (ids.size - kept.size).toLong, kept.sum)
    }
  }

  test("k > 8 (the min_by argmin) matches a plain-Scala replica at k = 12") {
    // ids 0 and 1 carry one vector: their seed centroids tie for every
    // vector, so the (dist, cid) tiebreak decides the first assignment.
    // At n = 90 a floor (not truncating) centroid mean moves a vector,
    // so the report also pins truncation toward zero.
    val vecs = (0L until 90L).map(i =>
      (i, Seq.tabulate(8)(d => comp(math.max(i, 1L), d))))
    val report = SimilarityOps.semanticDedup(
      vecs.toDF("vec_id", "embedding"), "vec_id", "embedding", k = 12)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq
    val expected = replica(vecs, 12)
    assert(expected.map(_._4).sum > 0, "the corpus must exercise dedup")
    assert(report == expected)
  }

  test("semanticDedupAuto picks k = ceil(n / target)") {
    val df = corpus(240)
    val auto = SimilarityOps.semanticDedupAuto(
      df, "vec_id", "embedding", targetClusterSize = 60)
    val explicit = SimilarityOps.semanticDedup(
      df, "vec_id", "embedding", k = 4) // ceil(240/60)
    assert(auto.collect().toSeq == explicit.collect().toSeq)
  }

  test("k ∝ n holds per-cluster candidate count flat across corpus sizes") {
    def totalPairs(n: Int): (Long, Long) = {
      val rep = SimilarityOps.semanticDedupAuto(
        corpus(n), "vec_id", "embedding", targetClusterSize = 60)
        .collect()
      val sizes = rep.map(_.getLong(1))
      assert(sizes.sum == n)
      (sizes.map(s => s * (s - 1) / 2).sum, sizes.max)
    }
    val (pairs1, max1) = totalPairs(240)
    val (pairs4, max4) = totalPairs(960) // 4× the corpus, 4× the k
    // flat cluster sizes ⇒ pairs grow ~linearly (×4); a pinned k would
    // grow them quadratically (×16). Allow skew slack up to ×8.
    assert(pairs4 <= 8 * math.max(pairs1, 1L),
      s"pair candidates grew superlinearly: $pairs1 -> $pairs4")
    // and no cluster balloons to a constant fraction of the corpus
    assert(max4 <= 8 * 60, s"largest cluster $max4 at n=960")
  }
}
