package graft

import org.apache.spark.sql.functions._
import graft.ops.{Geo, SimilarityOps}

class GeoSimSpec extends SparkSpec {
  import spark.implicits._

  test("U6 CRS inverse: projection false origin maps to (lon0, lat0)") {
    // At x = false easting (1,968,500 ftUS), y = 0 the inverse must give
    // exactly the projection's origin: 86°W, 34°20'N.
    val (lon, lat) = Geo.invert(1968500.0, 0.0)
    assert(math.abs(lon - (-86.0)) < 1e-9)
    assert(math.abs(lat - (34.0 + 20.0 / 60.0)) < 1e-9)
  }

  test("U6 CRS inverse: downtown Nashville state-plane lands in bbox") {
    // ~Nashville: state-plane TN coords around (1.74M ftE, 670k ftN)
    val (lon, lat) = Geo.invert(1740000.0, 670000.0)
    assert(lat > 35.0 && lat < 37.0 && lon > -88.0 && lon < -85.0)
    // northern point has larger latitude
    val (_, latN) = Geo.invert(1740000.0, 770000.0)
    assert(latN > lat)
  }

  test("A3/A4: centroid and midpoint expressions") {
    val df = Seq((
      Seq(Seq(0.0, 0.0), Seq(2.0, 0.0), Seq(2.0, 2.0), Seq(0.0, 2.0)),
      Seq(Seq(0.0, 0.0), Seq(5.0, 5.0), Seq(10.0, 0.0)))).toDF("ring", "path")
    val r = df.select(Geo.ringCentroid($"ring").as("c"),
      Geo.pathMidpoint($"path").as("m")).collect().head
    assert(r.getStruct(0).getDouble(0) == 1.0
      && r.getStruct(0).getDouble(1) == 1.0)
    assert(r.getSeq[Double](1) == Seq(5.0, 5.0))
  }

  test("P6 bbox + maps url") {
    val r = Seq((36.16, -86.78)).toDF("lat", "lon")
      .select(Geo.inNashvilleBbox($"lat", $"lon"),
        Geo.mapsUrl($"lat", $"lon")).collect().head
    assert(r.getBoolean(0))
    assert(r.getString(1).endsWith("query=36.16,-86.78"))
  }

  test("cosine: identical=1, orthogonal=0") {
    val df = Seq((Seq(1.0f, 0.0f), Seq(1.0f, 0.0f), Seq(0.0f, 1.0f)))
      .toDF("a", "b", "c")
    val r = df.select(SimilarityOps.cosine($"a", $"b"),
      SimilarityOps.cosine($"a", $"c")).collect().head
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(math.abs(r.getDouble(1)) < 1e-12)
  }

  test("exactCosinePairs refuses corpora beyond the broadcast bound") {
    val dir = "/root/testdata/sf0.001"
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    intercept[IllegalArgumentException] {
      SimilarityOps.exactCosinePairs(e, "vec_id", "embedding", 0.9,
        maxBroadcastRows = 10)
    }
  }

  test("cosine: mismatched lengths and zero-norm vectors yield null") {
    val df = Seq((Seq(1.0f, 2.0f), Seq(1.0f, 2.0f, 3.0f), Seq(0.0f, 0.0f)))
      .toDF("a", "b", "z")
    val r = df.select(SimilarityOps.cosine($"a", $"b"),
      SimilarityOps.cosine($"a", $"z"),
      SimilarityOps.cosine($"a", $"a")).collect().head
    assert(r.isNullAt(0)) // length mismatch
    assert(r.isNullAt(1)) // zero norm
    assert(math.abs(r.getDouble(2) - 1.0) < 1e-12)
  }

  test("lattice ANN (md5-replayable): self-hit exact, scores track cos") {
    val dir = "/root/testdata/sf0.001"
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding")
    // float cosine reference for every id
    val q = e.filter($"vec_id" === 1).select($"embedding")
    val cosOf = SimilarityOps.cosineTopK(e, "embedding", q, "embedding",
        500).select("vec_id", "cos_sim")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val ann = SimilarityOps.latticeAnnTopK(e, "vec_id", "embedding", 64,
      queryId = 1, k = 10).collect()
    // probing only the query's buckets returns a subset of the
    // brute-force lattice scan, each id with its brute-force score
    val qv = e.filter($"vec_id" === 1)
      .select(SimilarityOps.latticeVec($"embedding").as("qv"))
    val brute = e.crossJoin(qv)
      .select($"vec_id", SimilarityOps.latticeCosE8(
        SimilarityOps.latticeVec($"embedding"), $"qv"))
      .as[(Long, Long)].collect().toMap
    ann.foreach(r => assert(brute.get(r.getLong(0)).contains(r.getLong(1))))
    for (got <- Seq(ann,
        SimilarityOps.latticeIvfTopK(e, "vec_id", "embedding",
          queryId = 1, k = 10).collect())) {
      assert(got.nonEmpty)
      // the query vector itself: signed ⌊cos²·1e8⌋ = exactly 1e8
      assert(got.head.getLong(0) == 1L && got.head.getLong(1) == 100000000L)
      // every integer score approximates sign(cos)·cos²·1e8: the
      // floor(x·1000) quantization perturbs each component by < 1e-3,
      // so cos moves by O(dim·1e-3/‖v‖) ≈ a few 1e-3 on unit vectors;
      // 5e5 (0.5% of full scale) pins the relation with slack
      got.foreach { r =>
        val c = cosOf(r.getLong(0))
        val want = math.signum(c) * c * c * 1e8
        assert(math.abs(r.getLong(1) - want) < 5e5,
          s"id=${r.getLong(0)} lat=${r.getLong(1)} float=$want")
      }
    }
    // md5 plane signs are balanced-ish (sanity: not all one sign)
    val signs = (0 until 8).flatMap(p => (0 until 64).map(d =>
      SimilarityOps.md5PlaneSign(p, d)))
    assert(signs.count(_ == 1L) > 150 && signs.count(_ == -1L) > 150)
  }
}
