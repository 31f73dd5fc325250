package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Geospatial ops (SURVEY.md §2.9): the EPSG:2274 → EPSG:4326 CRS
  * transform (U6, nashville_arcgis.py:16-17,44-45,158-167), polygon
  * centroid (A3), polyline midpoint (A4) and the Nashville bounding-box
  * predicate (P6).
  *
  * The projection inverse is implemented from the public Lambert Conformal
  * Conic (2SP) formulas (Snyder, "Map Projections — A Working Manual",
  * USGS PP 1395) with the published EPSG:2274 parameters — no external
  * geo library needed. Scalar math per row, so the UDF stays a narrow map.
  */
object Geo {

  // GRS80 ellipsoid
  private val A = 6378137.0
  private val F = 1.0 / 298.257222101
  private val E2 = F * (2 - F)
  private val E = math.sqrt(E2)

  // EPSG:2274 — NAD83 / Tennessee State Plane (US survey feet)
  private val Lat0 = math.toRadians(34.0 + 20.0 / 60.0) // false origin lat
  private val Lon0 = math.toRadians(-86.0)              // false origin lon
  private val Sp1 = math.toRadians(36.0 + 25.0 / 60.0)  // std parallel 1
  private val Sp2 = math.toRadians(35.0 + 15.0 / 60.0)  // std parallel 2
  private val FalseE = 600000.0                          // meters
  private val FalseN = 0.0
  private val FtUs = 1200.0 / 3937.0                     // US survey foot, m

  private def mFn(phi: Double) =
    math.cos(phi) / math.sqrt(1 - E2 * math.sin(phi) * math.sin(phi))
  private def tFn(phi: Double) = {
    val es = E * math.sin(phi)
    math.tan(math.Pi / 4 - phi / 2) / math.pow((1 - es) / (1 + es), E / 2)
  }

  private val m1 = mFn(Sp1)
  private val m2 = mFn(Sp2)
  private val t1 = tFn(Sp1)
  private val t2 = tFn(Sp2)
  private val t0 = tFn(Lat0)
  private val n = (math.log(m1) - math.log(m2)) / (math.log(t1) - math.log(t2))
  private val bigF = m1 / (n * math.pow(t1, n))
  private val rho0 = A * bigF * math.pow(t0, n)

  /** Inverse LCC: state-plane (ftUS) → (longitude, latitude) degrees. */
  def invert(xFt: Double, yFt: Double): (Double, Double) = {
    val x = xFt * FtUs - FalseE
    val y = yFt * FtUs - FalseN
    val rho = math.signum(n) * math.hypot(x, rho0 - y)
    val t = math.pow(rho / (A * bigF), 1 / n)
    val theta = math.atan2(x, rho0 - y)
    val lon = theta / n + Lon0
    var phi = math.Pi / 2 - 2 * math.atan(t)
    var i = 0
    while (i < 8) {
      val es = E * math.sin(phi)
      phi = math.Pi / 2 -
        2 * math.atan(t * math.pow((1 - es) / (1 + es), E / 2))
      i += 1
    }
    (math.toDegrees(lon), math.toDegrees(phi))
  }

  /** A3: polygon centroid — mean of ring vertex coords
    * (nashville_arcgis.py:143-148). `ring` is ARRAY<ARRAY<DOUBLE>> of
    * [x, y] pairs; returns struct(x, y). Pure expressions. */
  def ringCentroid(ring: Column): Column = {
    def mean(idx: Int) =
      aggregate(ring, lit(0.0), (acc, p) => acc + element_at(p, idx + 1)) /
        size(ring)
    struct(mean(0).as("x"), mean(1).as("y"))
  }

  /** A4: polyline midpoint — middle vertex (nashville_arcgis.py:149-153). */
  def pathMidpoint(path: Column): Column =
    element_at(path, (size(path) / 2).cast("int") + 1)

  /** P6: Nashville-area bounding box (nashville_arcgis.py:19-20). */
  def inNashvilleBbox(lat: Column, lon: Column): Column =
    lat.between(35.0, 37.0) && lon.between(-88.0, -85.0)

  /** Google-Maps URL from coordinates (nashville_arcgis.py:127). */
  def mapsUrl(lat: Column, lon: Column): Column =
    concat(lit("https://www.google.com/maps/search/?api=1&query="),
      lat.cast("string"), lit(","), lon.cast("string"))
}
