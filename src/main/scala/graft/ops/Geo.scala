package graft.ops

import graft.core.Flags
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Geospatial scalar functions (reference §2.6: SeaVox region lookup
  * `src/main.py:527-533`, Natural Earth land test `src/main.py:577-592`,
  * bathymetry lookup `src/main.py:561-571`, geodesic distance
  * `tests/test_qc.py:38-40`).
  *
  * Spark-first: everything is a pure Column expression (codegen'd math),
  * no geometry objects, no UDFs. Polygon/region sets and elevation grids
  * are small reference data: they become literal expressions or broadcast
  * joins — the 100 TB observation side never shuffles for a lookup.
  */
object Geo {

  val EarthRadiusM = 6371000.8 // mean Earth radius

  // WGS-84 ellipsoid (the reference's geodesic model via geopy,
  // tests/test_qc.py:38-40)
  val Wgs84A = 6378137.0
  val Wgs84F = 1.0 / 298.257223563

  /** WGS-84 geodesic distance (inverse problem) in meters — Vincenty's
    * iterative formula, agreeing with geopy/Karney to sub-millimeter for
    * non-antipodal pairs. Converges in a handful of iterations for QC
    * track geometries; the pathological near-antipodal case (where
    * Vincenty famously stalls) falls back to spherical haversine — a
    * 100,000 km "track segment" is garbage data the kinematics checks
    * flag anyway. Scalar form shared by the native [[GeodesicDistExpr]]
    * and driver-side tooling.
    */
  def vincentyM(lat1: Double, lon1: Double, lat2: Double, lon2: Double): Double = {
    val a = Wgs84A; val f = Wgs84F; val b = a * (1 - f)
    val L = math.toRadians(lon2 - lon1)
    val u1 = math.atan((1 - f) * math.tan(math.toRadians(lat1)))
    val u2 = math.atan((1 - f) * math.tan(math.toRadians(lat2)))
    val sinU1 = math.sin(u1); val cosU1 = math.cos(u1)
    val sinU2 = math.sin(u2); val cosU2 = math.cos(u2)
    var lam = L
    var sinSigma = 0.0; var cosSigma = 0.0; var sigma = 0.0
    var cosSqAlpha = 0.0; var cos2Sm = 0.0
    var iter = 0
    var done = false
    while (iter < 100 && !done) {
      val sinL = math.sin(lam); val cosL = math.cos(lam)
      val t1 = cosU2 * sinL
      val t2 = cosU1 * sinU2 - sinU1 * cosU2 * cosL
      sinSigma = math.sqrt(t1 * t1 + t2 * t2)
      if (sinSigma == 0.0) return 0.0 // coincident points
      cosSigma = sinU1 * sinU2 + cosU1 * cosU2 * cosL
      sigma = math.atan2(sinSigma, cosSigma)
      val sinAlpha = cosU1 * cosU2 * sinL / sinSigma
      cosSqAlpha = 1 - sinAlpha * sinAlpha
      cos2Sm = if (cosSqAlpha == 0.0) 0.0 // equatorial line
        else cosSigma - 2 * sinU1 * sinU2 / cosSqAlpha
      val c = f / 16 * cosSqAlpha * (4 + f * (4 - 3 * cosSqAlpha))
      val prev = lam
      lam = L + (1 - c) * f * sinAlpha * (sigma + c * sinSigma *
        (cos2Sm + c * cosSigma * (-1 + 2 * cos2Sm * cos2Sm)))
      if (math.abs(lam - prev) < 1e-13) done = true
      iter += 1
    }
    if (!done) { // near-antipodal: spherical fallback (documented above)
      val dLat = math.toRadians(lat2 - lat1); val dLon = math.toRadians(lon2 - lon1)
      val h = math.pow(math.sin(dLat / 2), 2) + math.cos(math.toRadians(lat1)) *
        math.cos(math.toRadians(lat2)) * math.pow(math.sin(dLon / 2), 2)
      return 2 * EarthRadiusM * math.asin(math.sqrt(h))
    }
    val uSq = cosSqAlpha * (a * a - b * b) / (b * b)
    val bigA = 1 + uSq / 16384 * (4096 + uSq * (-768 + uSq * (320 - 175 * uSq)))
    val bigB = uSq / 1024 * (256 + uSq * (-128 + uSq * (74 - 47 * uSq)))
    val dSigma = bigB * sinSigma * (cos2Sm + bigB / 4 * (cosSigma *
      (-1 + 2 * cos2Sm * cos2Sm) - bigB / 6 * cos2Sm *
      (-3 + 4 * sinSigma * sinSigma) * (-3 + 4 * cos2Sm * cos2Sm)))
    b * bigA * (sigma - dSigma)
  }

  /** WGS-84 geodesic *direct* problem (Vincenty): destination point from
    * (lat, lon) + distance + initial bearing. Driver-side utility — the
    * mirror of geopy's `destination` used to reconstruct the reference's
    * kinematics fixture track (tests/test_qc.py:33-47).
    */
  def geodesicDestination(lat: Double, lon: Double, distM: Double,
                          bearingDeg: Double): (Double, Double) = {
    val a = Wgs84A; val f = Wgs84F; val b = a * (1 - f)
    val alpha1 = math.toRadians(bearingDeg)
    val sinA1 = math.sin(alpha1); val cosA1 = math.cos(alpha1)
    val tanU1 = (1 - f) * math.tan(math.toRadians(lat))
    val cosU1 = 1 / math.sqrt(1 + tanU1 * tanU1)
    val sinU1 = tanU1 * cosU1
    val sigma1 = math.atan2(tanU1, cosA1)
    val sinAlpha = cosU1 * sinA1
    val cosSqAlpha = 1 - sinAlpha * sinAlpha
    val uSq = cosSqAlpha * (a * a - b * b) / (b * b)
    val bigA = 1 + uSq / 16384 * (4096 + uSq * (-768 + uSq * (320 - 175 * uSq)))
    val bigB = uSq / 1024 * (256 + uSq * (-128 + uSq * (74 - 47 * uSq)))
    var sigma = distM / (b * bigA)
    var sigmaP = Double.MaxValue
    var cos2Sm = 0.0; var sinSigma = 0.0; var cosSigma = 0.0
    var iter = 0
    while (math.abs(sigma - sigmaP) > 1e-13 && iter < 100) {
      cos2Sm = math.cos(2 * sigma1 + sigma)
      sinSigma = math.sin(sigma); cosSigma = math.cos(sigma)
      val dSigma = bigB * sinSigma * (cos2Sm + bigB / 4 * (cosSigma *
        (-1 + 2 * cos2Sm * cos2Sm) - bigB / 6 * cos2Sm *
        (-3 + 4 * sinSigma * sinSigma) * (-3 + 4 * cos2Sm * cos2Sm)))
      sigmaP = sigma
      sigma = distM / (b * bigA) + dSigma
      iter += 1
    }
    cos2Sm = math.cos(2 * sigma1 + sigma)
    sinSigma = math.sin(sigma); cosSigma = math.cos(sigma)
    val tmp = sinU1 * sinSigma - cosU1 * cosSigma * cosA1
    val lat2 = math.atan2(sinU1 * cosSigma + cosU1 * sinSigma * cosA1,
      (1 - f) * math.sqrt(sinAlpha * sinAlpha + tmp * tmp))
    val lam = math.atan2(sinSigma * sinA1, cosU1 * cosSigma - sinU1 * sinSigma * cosA1)
    val c = f / 16 * cosSqAlpha * (4 + f * (4 - 3 * cosSqAlpha))
    val bigL = lam - (1 - c) * f * sinAlpha * (sigma + c * sinSigma *
      (cos2Sm + c * cosSigma * (-1 + 2 * cos2Sm * cos2Sm)))
    (math.toDegrees(lat2), lon + math.toDegrees(bigL))
  }

  /** Haversine great-circle distance in meters, as a Column expression.
    * The reference uses geopy geodesic (WGS-84); haversine differs by
    * ≤0.3% which the reference's own tolerances absorb (SURVEY §2.6 G6).
    * For the exact ellipsoidal model use [[geodesicM]].
    */
  def haversineM(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column = {
    val dLat = radians(lat2 - lat1)
    val dLon = radians(lon2 - lon1)
    val a = pow(sin(dLat / 2), 2) +
      cos(radians(lat1)) * cos(radians(lat2)) * pow(sin(dLon / 2), 2)
    lit(2 * EarthRadiusM) * asin(sqrt(a))
  }

  /** WGS-84 ellipsoidal distance as a native expression (the compiled
    * Vincenty loop in [[vincentyM]] — iterative, so not expressible as a
    * Column tree). Plug into kinematics via
    * `WindowKernels.velocityAcceleration(..., distM = Geo.geodesicM)`.
    */
  def geodesicM(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column =
    org.apache.spark.sql.GraftExpressionBridge.column(GeodesicDistExpr(
      org.apache.spark.sql.GraftExpressionBridge.expression(lat1),
      org.apache.spark.sql.GraftExpressionBridge.expression(lon1),
      org.apache.spark.sql.GraftExpressionBridge.expression(lat2),
      org.apache.spark.sql.GraftExpressionBridge.expression(lon2)))

  /** Same formula as SQL text (for DuckDB oracles). */
  def haversineSql(lat1: String, lon1: String, lat2: String, lon2: String): String =
    s"""(2 * $EarthRadiusM * asin(sqrt(
       |  pow(sin(radians(($lat2) - ($lat1)) / 2), 2)
       |  + cos(radians($lat1)) * cos(radians($lat2))
       |    * pow(sin(radians(($lon2) - ($lon1)) / 2), 2))))""".stripMargin

  // ---------------------------------------------------------------------
  // Bit-portable distance (oracle-facing): libm sin/asin differ in the
  // last ulp between the JVM and glibc, which flips round()/floor() at
  // representation boundaries (round-1 hash failures on w3_velocity).
  // The fix: haversine with sin/cos/asin replaced by fixed-coefficient
  // Horner polynomials — only + - * / sqrt remain, all IEEE-754
  // exact-rounded, so Spark and DuckDB produce bit-identical doubles as
  // long as the operation ORDER matches. The Column tree and the SQL text
  // below are written in strict lockstep (same parenthesization), and
  // PortableDistSpec asserts bitwise equality of the two renderings.
  // Accuracy vs true haversine: |err| < 1e-11 relative for central
  // angles < 0.1 rad (~600 km) — far inside every QC tolerance. NOT for
  // antipodal use. True-haversine [[haversineM]] stays for non-oracle use.
  // ---------------------------------------------------------------------

  val DegToRad = 0.017453292519943295 // nearest double to pi/180

  // Taylor coefficients: sin x = x(1 + x²(s1 + x²(s2 + x²(s3 + x²·s4))))
  private val SinC = Array(-0.16666666666666666, 8.333333333333333e-3,
    -1.984126984126984e-4, 2.755731922398589e-6)
  // asin x = x(1 + x²(a1 + x²(a2 + x²(a3 + x²·a4)))), |x| small
  private val AsinC = Array(0.16666666666666666, 0.075,
    0.044642857142857144, 0.030381944444444444)

  /** A double literal that DuckDB parses back to the identical bits
    * (e-notation forces DOUBLE — a bare `0.5` would parse as DECIMAL).
    */
  def dlit(x: Double): String = f"$x%.17e"

  private def sinPoly(x: Column): Column = {
    val x2 = x * x
    x * (lit(1.0) + x2 * (lit(SinC(0)) + x2 * (lit(SinC(1)) + x2 * (lit(SinC(2)) + x2 * lit(SinC(3))))))
  }
  private def sinPolySql(x: String): String = {
    val x2 = s"(($x) * ($x))"
    s"(($x) * (1.0e0 + $x2 * (${dlit(SinC(0))} + $x2 * (${dlit(SinC(1))} + $x2 * (${dlit(SinC(2))} + $x2 * ${dlit(SinC(3))})))))"
  }

  private def asinPoly(x: Column): Column = {
    val x2 = x * x
    x * (lit(1.0) + x2 * (lit(AsinC(0)) + x2 * (lit(AsinC(1)) + x2 * (lit(AsinC(2)) + x2 * lit(AsinC(3))))))
  }
  private def asinPolySql(x: String): String = {
    val x2 = s"(($x) * ($x))"
    s"(($x) * (1.0e0 + $x2 * (${dlit(AsinC(0))} + $x2 * (${dlit(AsinC(1))} + $x2 * (${dlit(AsinC(2))} + $x2 * ${dlit(AsinC(3))})))))"
  }

  // cos x = 1 − 2·sin²(x/2); x is a latitude in radians (< 1.6)
  private def cosPoly(x: Column): Column = {
    val s = sinPoly(x * lit(0.5))
    lit(1.0) - (lit(2.0) * (s * s))
  }
  private def cosPolySql(x: String): String = {
    val s = sinPolySql(s"(($x) * 5.0e-1)")
    s"(1.0e0 - (2.0e0 * ($s * $s)))"
  }

  // ---- scalar transcription of the SAME polynomial, op-for-op --------
  // Why a scalar twin: the Column tree above expands to ~60 arithmetic
  // nodes, and the kinematics plans instantiate it several times per
  // projection (velocity needs two distances, acceleration re-derives
  // velocity) — the generated wholestage method crossed the JVM's 64 KB
  // limit and the whole scan stage fell back to INTERPRETED execution.
  // [[PortableDistExpr]] emits one static call instead. JVM double
  // arithmetic is IEEE-754 exact-rounded and strict since JDK 17, so an
  // op-order-faithful transcription produces bit-identical doubles to
  // the Column tree (PortableDistSpec asserts it) and the DuckDB SQL.
  private def sinPolyS(x: Double): Double = {
    val x2 = x * x
    x * (1.0 + x2 * (SinC(0) + x2 * (SinC(1) + x2 * (SinC(2) + x2 * SinC(3)))))
  }
  private def asinPolyS(x: Double): Double = {
    val x2 = x * x
    x * (1.0 + x2 * (AsinC(0) + x2 * (AsinC(1) + x2 * (AsinC(2) + x2 * AsinC(3)))))
  }
  private def cosPolyS(x: Double): Double = {
    val s = sinPolyS(x * 0.5)
    1.0 - (2.0 * (s * s))
  }
  def portableDistScalar(lat1: Double, lon1: Double,
                         lat2: Double, lon2: Double): Double = {
    val dLatH = ((lat2 - lat1) * DegToRad) * 0.5
    val dLonH = ((lon2 - lon1) * DegToRad) * 0.5
    val sLat = sinPolyS(dLatH)
    val sLon = sinPolyS(dLonH)
    val a = (sLat * sLat) +
      ((cosPolyS(lat1 * DegToRad) * cosPolyS(lat2 * DegToRad)) * (sLon * sLon))
    (2 * EarthRadiusM) * asinPolyS(math.sqrt(a))
  }

  /** The Column-algebra rendering of the polynomial (kept as the
    * reference form [[PortableDistSpec]] pins the native expression
    * against, and for any caller needing a pure-Column tree).
    */
  def portableDistMColumns(lat1: Column, lon1: Column,
                           lat2: Column, lon2: Column): Column = {
    val dLatH = ((lat2 - lat1) * lit(DegToRad)) * lit(0.5)
    val dLonH = ((lon2 - lon1) * lit(DegToRad)) * lit(0.5)
    val sLat = sinPoly(dLatH)
    val sLon = sinPoly(dLonH)
    val a = (sLat * sLat) +
      ((cosPoly(lat1 * lit(DegToRad)) * cosPoly(lat2 * lit(DegToRad))) * (sLon * sLon))
    lit(2 * EarthRadiusM) * asinPoly(sqrt(a))
  }

  /** Bit-portable great-circle distance in meters (see block comment) —
    * served by the native [[PortableDistExpr]] so each call site costs
    * one generated-code line instead of a ~60-node tree.
    */
  def portableDistM(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column = {
    import org.apache.spark.sql.GraftExpressionBridge.{column, expression}
    column(PortableDistExpr(expression(lat1.cast("double")),
      expression(lon1.cast("double")), expression(lat2.cast("double")),
      expression(lon2.cast("double"))))
  }

  /** Same expression as DuckDB SQL text — identical operation order. */
  def portableDistSql(lat1: String, lon1: String, lat2: String, lon2: String): String = {
    val dLatH = s"(((($lat2) - ($lat1)) * ${dlit(DegToRad)}) * 5.0e-1)"
    val dLonH = s"(((($lon2) - ($lon1)) * ${dlit(DegToRad)}) * 5.0e-1)"
    val sLat = sinPolySql(dLatH)
    val sLon = sinPolySql(dLonH)
    val a = s"(($sLat * $sLat) + ((${cosPolySql(s"(($lat1) * ${dlit(DegToRad)})")} * ${cosPolySql(s"(($lat2) * ${dlit(DegToRad)})")}) * ($sLon * $sLon)))"
    s"(${dlit(2 * EarthRadiusM)} * ${asinPolySql(s"sqrt($a)")})"
  }

  /** A named region as an axis-aligned box (the SQL-expressible
    * instantiation used by the oracle queries; general polygons go through
    * [[pointInPolygon]]).
    */
  final case class BoxRegion(name: String, subRegion: String,
                             latMin: Double, latMax: Double,
                             lonMin: Double, lonMax: Double)

  /** Point-in-region classification against a literal region set; first
    * match wins (regions listed most-specific first, mirroring the
    * reference's "lowest level found" SeaVox semantics). Null when no
    * region contains the point.
    */
  def classifyRegion(lat: Column, lon: Column, regions: Seq[BoxRegion]): Column =
    regions.foldRight(lit(null).cast("string")) { (r, acc) =>
      when(lat >= r.latMin && lat < r.latMax && lon >= r.lonMin && lon < r.lonMax,
        lit(r.name)).otherwise(acc)
    }

  def classifySubRegion(lat: Column, lon: Column, regions: Seq[BoxRegion]): Column =
    regions.foldRight(lit(null).cast("string")) { (r, acc) =>
      when(lat >= r.latMin && lat < r.latMax && lon >= r.lonMin && lon < r.lonMax,
        lit(r.subRegion)).otherwise(acc)
    }

  /** Ray-casting point-in-polygon as a pure Column expression over a
    * *literal* polygon (broadcast by value into codegen). Crossing test
    * per edge, XOR-folded. For polygon tables, prefilter with a bounding
    * box then apply this per candidate polygon.
    */
  def pointInPolygon(lat: Column, lon: Column, poly: Seq[(Double, Double)]): Column = {
    // poly = (lat_i, lon_i) vertices, closed implicitly
    val n = poly.length
    val crossings: Seq[Column] = (0 until n).map { i =>
      val (yi, xi) = poly(i)
      val (yj, xj) = poly((i + 1) % n)
      // does the horizontal ray from (lon, lat) cross edge i-j?
      ((lit(yi) > lat) =!= (lit(yj) > lat)) &&
        (lon < (lit(xj - xi) * (lat - lit(yi)) / lit(yj - yi) + lit(xi)))
    }
    crossings.reduce((a, b) => a =!= b) // odd number of crossings => inside
  }

  /** Region-is-null check (reference `get_bool_null_region`,
    * `src/main.py:535-542`): no region found => PROBABLY_GOOD benefit of
    * the doubt (the depth check refines it later).
    */
  def nullRegionCheck(region: Column): QcCheck =
    QcCheck("null_region", region.isNull, Flags.ProbablyGood)

  /** Mainland check (reference `get_bool_land_region`, `src/main.py:548-555`,
    * pinned `tests/test_qc.py:62-68`): region containing "MAINLAND" => BAD.
    */
  def mainlandCheck(region: Column): QcCheck =
    QcCheck("mainland", upper(coalesce(region, lit(""))).contains("MAINLAND"), Flags.Bad)

  /** Deterministic synthetic bathymetry grid + bilinear interpolation
    * (reference `get_bool_depth_above_treshold`, `src/main.py:561-571`:
    * bilinear lookup in an elevation NetCDF; here the grid is a pure
    * function of cell indices so the oracle can reproduce it — a real
    * deployment broadcasts the NetCDF float grid and keeps this exact
    * interpolation expression).
    *
    * Grid: elev(i, j) = ((i * 7 + j * 13) % 100) - 80  (meters, mostly sea)
    * over lat in [50,53) step 0.05, lon in [2,5) step 0.05.
    */
  def gridElevation(lat: Column, lon: Column): Column = {
    val latIdx = floor((lat - 50.0) / 0.05).cast("long")
    val lonIdx = floor((lon - 2.0) / 0.05).cast("long")
    val fy = (lat - 50.0) / 0.05 - latIdx.cast("double")
    val fx = (lon - 2.0) / 0.05 - lonIdx.cast("double")
    def elev(i: Column, j: Column): Column =
      ((i * 7 + j * 13) % 100).cast("double") - 80.0
    val e00 = elev(latIdx, lonIdx)
    val e01 = elev(latIdx, lonIdx + 1)
    val e10 = elev(latIdx + 1, lonIdx)
    val e11 = elev(latIdx + 1, lonIdx + 1)
    e00 * (lit(1.0) - fy) * (lit(1.0) - fx) + e01 * (lit(1.0) - fy) * fx +
      e10 * fy * (lit(1.0) - fx) + e11 * fy * fx
  }

  /** Same grid as SQL text. */
  def gridElevationSql(lat: String, lon: String): String = {
    val li = s"floor((($lat) - 50.0) / 0.05)"
    val lj = s"floor((($lon) - 2.0) / 0.05)"
    val fy = s"((($lat) - 50.0) / 0.05 - $li)"
    val fx = s"((($lon) - 2.0) / 0.05 - $lj)"
    def elev(i: String, j: String) = s"((CAST(($i) * 7 + ($j) * 13 AS BIGINT) % 100) - 80.0)"
    s"""(${elev(li, lj)} * (1 - $fy) * (1 - $fx)
       | + ${elev(li, s"$lj + 1")} * (1 - $fy) * $fx
       | + ${elev(s"$li + 1", lj)} * $fy * (1 - $fx)
       | + ${elev(s"$li + 1", s"$lj + 1")} * $fy * $fx)""".stripMargin
  }

  /** Depth-above-threshold check (reference `src/main.py:561-571,595-608`):
    * elevation above `threshold` (0.0 = sea level) => BAD; null
    * elevation => `onNan` (reference `flag_on_nan=NQC`).
    */
  def depthCheck(elevation: Column, threshold: Double = 0.0): QcCheck =
    QcCheck("depth_above_threshold", elevation > threshold, Flags.Bad, onNan = Some(Flags.NoQc))

  // ---------------------------------------------------------------------
  // Real reference-data paths (round-2: loaders behind the same engine
  // pieces — see graft.sources.geo.{ShapefileReader, PolygonTable,
  // GridLoader}). Polygons/grids are small reference data: they ride as
  // literals, plan references, or one broadcast join — the observation
  // side never shuffles for a lookup.
  // ---------------------------------------------------------------------

  import org.apache.spark.sql.GraftExpressionBridge.{column => exprCol, expression => colExpr}

  /** Native ray-casting PIP over a ring COLUMN (array<double>, interleaved
    * lat/lon — what [[graft.sources.geo.PolygonTable]] produces). Compact
    * codegen'd loop; same math as the literal [[pointInPolygon]].
    */
  def pointInPolygonCol(lat: Column, lon: Column, ring: Column): Column =
    exprCol(PointInPolygonExpr(colExpr(lat), colExpr(lon), colExpr(ring)))

  /** Bounding box of an interleaved [lat, lon, ...] ring — the single
    * definition of the ring layout's bbox (loaders and classifiers share
    * it).
    */
  def ringBbox(ring: Array[Double]): (Double, Double, Double, Double) = {
    var latMin = Double.MaxValue; var latMax = Double.MinValue
    var lonMin = Double.MaxValue; var lonMax = Double.MinValue
    var i = 0
    while (i < ring.length) {
      latMin = math.min(latMin, ring(i)); latMax = math.max(latMax, ring(i))
      lonMin = math.min(lonMin, ring(i + 1)); lonMax = math.max(lonMax, ring(i + 1))
      i += 2
    }
    (latMin, latMax, lonMin, lonMax)
  }

  /** Bilinear elevation from a loaded [[Grid]] (NetCDF-shaped reference
    * data → `GridLoader`); null outside the grid (flag_on_nan path).
    */
  def gridElevationFrom(grid: Grid, lat: Column, lon: Column): Column =
    exprCol(GridElevationExpr(colExpr(lat), colExpr(lon), grid))

  /** Classification against a polys frame (any size): broadcast the
    * polygons, bbox-prefilter the nested-loop join, native PIP on the
    * candidates, lowest `priority` wins per point ("lowest level found",
    * reference src/main.py:527-533). Adds `region` / `sub_region` to the
    * points frame. One shuffle by `idCol` to reduce multi-polygon
    * matches; everything before it is map-side against the broadcast.
    */
  def classifyByPolygonTable(points: DataFrame, polys: DataFrame,
                             idCol: String, lat: Column, lon: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // prefix the poly columns before the join: a points frame that also
    // has `name`/`priority`/`lat_min`/… would otherwise hit an
    // ambiguous-reference AnalysisException (or silently mis-resolve)
    val g = polys.select(polys.columns.map(c => col(c).as(s"__g_$c")): _*)
    val cand = points.join(
      broadcast(g),
      lat >= col("__g_lat_min") && lat <= col("__g_lat_max") &&
        lon >= col("__g_lon_min") && lon <= col("__g_lon_max") &&
        pointInPolygonCol(lat, lon, col("__g_ring")),
      "left")
    val w = Window.partitionBy(col(idCol)).orderBy(col("__g_priority").asc_nulls_last)
    cand.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(points.columns.map(col) :+
        col("__g_name").as("region") :+ col("__g_sub_region").as("sub_region"): _*)
  }
}
