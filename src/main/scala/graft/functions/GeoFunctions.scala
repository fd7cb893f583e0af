package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.functions.{KernelFns => k}

/** graft's SQL surface: geometry functions as `Column`s (native Catalyst
  * expressions over WKB) plus numeric geo math composed purely from Spark
  * built-ins (haversine, mercator projection of lon/lat columns) so the
  * numeric paths never leave WholeStageCodegen and never touch a geometry
  * object.
  *
  * `registerAll(spark)` exposes everything to `spark.sql(...)` too.
  */
object GeoFunctions {

  private def e(c: Column): Expression = ColumnBridge.expression(c)
  private def c(x: Expression): Column = ColumnBridge.column(x)
  private def ed(c: Column): Expression = Cast(e(c), DoubleType)

  // ---- constructors / accessors -------------------------------------------
  def st_point(x: Column, y: Column): Column = k.st_point(x, y)
  def st_geomfromtext(wkt: Column): Column = k.st_geomfromtext(wkt)
  /** Null on malformed WKT — the ingest-safe parse for dirty data. */
  def st_try_geomfromtext(wkt: Column): Column = k.st_try_geomfromtext(wkt)
  def st_astext(g: Column): Column = k.st_astext(g)
  /** WKB is graft's native representation: these are identity casts, present
    * for API parity with reference IO (parquet/WKB boundary).
    */
  def st_geomfromwkb(b: Column): Column = b.cast("binary")
  def st_aswkb(g: Column): Column = g.cast("binary")
  def st_x(g: Column): Column = k.st_x(g)
  def st_y(g: Column): Column = k.st_y(g)
  def st_geomtype(g: Column): Column = k.st_geomtype(g)
  def st_npoints(g: Column): Column = k.st_npoints(g)
  def st_isempty(g: Column): Column = k.st_isempty(g)
  def st_centroid(g: Column): Column = k.st_centroid(g)
  def st_envelope(g: Column): Column = k.st_envelope(g)
  def st_bbox(g: Column): Column = k.st_bbox(g)
  def st_makeline(a: Column, b: Column): Column = k.st_makeline(a, b)

  // ---- measures -----------------------------------------------------------
  def st_area(g: Column): Column = k.st_area(g)
  /** erde m² semantics (reference: erde/op/area.py). */
  def st_aream(g: Column): Column = k.st_aream(g)
  def st_length(g: Column): Column = k.st_length(g)
  /** erde m semantics (reference: erde/op/length.py). */
  def st_lengthm(g: Column): Column = k.st_lengthm(g)
  def st_coslat(g: Column): Column = k.st_coslat(g)
  def st_distance(a: Column, b: Column): Column = k.st_distance(a, b)
  /** Morton (Z-order) key of a lon/lat pair — see [[graft.geom.ZOrder]]. */
  def st_zorder(lon: Column, lat: Column, bits: Int = 16): Column =
    c(StZOrder(ed(lon), ed(lat), bits))
  /** Hilbert key of a lon/lat pair — see [[graft.geom.Hilbert]]. */
  def st_hilbert(lon: Column, lat: Column, bits: Int = 16): Column =
    c(StHilbert(ed(lon), ed(lat), bits))
  /** Base32 geohash of a lon/lat pair (standard Niemeyer cells). */
  def st_geohash(lon: Column, lat: Column, chars: Int = 9): Column =
    c(StGeohash(ed(lon), ed(lat), chars))
  /** Geohash cell-center point (WKB). */
  def st_geohash_decode(h: Column): Column = k.st_geohash_decode(h)

  // ---- CRS ----------------------------------------------------------------
  private def epsgOf(crs: String): Int = {
    val code = crs.toUpperCase(java.util.Locale.ROOT).stripPrefix("EPSG:")
    try code.toInt catch {
      case _: NumberFormatException =>
        throw new IllegalArgumentException(s"CRS '$crs' is not an EPSG code")
    }
  }

  /** Supported: 4326 ⇄ 3857 (Web Mercator), 4326 ⇄ UTM zones (EPSG:
    * 32601–32660 north, 32701–32760 south), and the parameterized-projection
    * registry (EPSG:27700 British National Grid incl. the OSGB36 Helmert
    * datum shift, 2154 Lambert-93, 3035 LAEA Europe, 25828–25838 ETRS89/UTM);
    * any pair of supported codes composes through 4326. Reference:
    * erde/op/convert.py:5 (pyproj pass-through).
    */
  def st_transform(g: Column, fromCrs: String, toCrs: String): Column =
    if (epsgOf(fromCrs) == epsgOf(toCrs)) g
    else c(transformExpr(e(g), epsgOf(fromCrs), epsgOf(toCrs)))

  /** Expression-level dispatch (shared with the SQL registration). */
  private[graft] def transformExpr(g: Expression, from: Int, to: Int): Expression = {
    import graft.geom.Projections.{supported => proj}
    import graft.geom.TransverseMercator.utmZoneOf
    def to4326(code: Int, g0: Expression): Option[Expression] = code match {
      case 4326 => Some(g0)
      case 3857 => Some(k.st_tolonlat.build(Seq(g0)))
      case t if utmZoneOf(t).isDefined =>
        val (z, s) = utmZoneOf(t).get; Some(StUtm(g0, z, s, invert = true))
      case t if proj(t) => Some(StCrsProj(g0, t, invert = true))
      case _ => None
    }
    def from4326(code: Int, g0: Expression): Option[Expression] = code match {
      case 4326 => Some(g0)
      case 3857 => Some(k.st_tomercator.build(Seq(g0)))
      case t if utmZoneOf(t).isDefined =>
        val (z, s) = utmZoneOf(t).get; Some(StUtm(g0, z, s, invert = false))
      case t if proj(t) => Some(StCrsProj(g0, t, invert = false))
      case _ => None
    }
    if (from == to) g
    else (for { mid <- to4326(from, g); out <- from4326(to, mid) } yield out).getOrElse(
      throw new IllegalArgumentException(
        s"unsupported CRS pair EPSG:$from -> EPSG:$to " +
          "(4326, 3857, UTM 326xx/327xx, 27700, 2154, 3035, 5070, 3577, 258xx)"))
  }

  // ---- predicates ---------------------------------------------------------
  def st_intersects(a: Column, b: Column): Column = k.st_intersects(a, b)
  def st_within(a: Column, b: Column): Column = k.st_within(a, b)
  def st_contains(a: Column, b: Column): Column = k.st_contains(a, b)

  // ---- boolean ops (areal, slab-exact) -------------------------------------
  def st_intersection(a: Column, b: Column): Column = k.st_intersection(a, b)
  def st_difference(a: Column, b: Column): Column = k.st_difference(a, b)
  def st_union(a: Column, b: Column): Column = k.st_union(a, b)

  // ---- buffer -------------------------------------------------------------
  def st_buffer(g: Column, radius: Column, resolution: Column): Column =
    k.st_buffer(g, radius, resolution)
  /** erde metre semantics (reference: erde/op/buffer.py:44). */
  def st_bufferm(g: Column, radiusMetres: Column, resolution: Column): Column =
    k.st_bufferm(g, radiusMetres, resolution)
  def st_bufferm(g: Column, radiusMetres: Column, resolution: Column, capStyle: Column): Column =
    k.st_bufferm_styled(g, radiusMetres, resolution, capStyle)

  /** Douglas–Peucker simplification (tolerance in coordinate units). */
  def st_simplify(g: Column, tolerance: Column): Column = k.st_simplify(g, tolerance)

  /** Great-circle metres along a LineString's waypoints. */
  def st_haversine_length(g: Column): Column = k.st_haversine_length(g)

  /** Google encoded-polyline codec (reference: erde/utils.py). */
  def st_polyline_encode(g: Column): Column = k.st_polyline_encode(g)
  def st_polyline_decode(s: Column): Column = k.st_polyline_decode(s)

  /** Geometry constructors from flat [x0,y0,x1,y1,…] coordinate arrays —
    * the OSM way-assembly path (reference pipeline's ogr2ogr stage).
    * The polygon ring closes automatically; an int array is cast
    * elementwise, and a null ordinate gives a NULL geometry.
    */
  def st_line_from_coords(a: Column): Column = k.st_line_from_coords(a)
  def st_polygon_from_coords(a: Column): Column = k.st_polygon_from_coords(a)

  /** Relation-layer constructors (OSM multipolygon / route relations):
    * member roles × member coord paths → MultiPolygon; member coord paths →
    * MultiLineString. Null (dropped feature) on incomplete members.
    */
  def st_relation_multipolygon(roles: Column, lines: Column): Column =
    k.st_relation_multipolygon(roles, lines)
  def st_multiline_from_lines(lines: Column): Column = k.st_multiline_from_lines(lines)

  // ---- grid (spatial-join partitioning) -----------------------------------
  def st_cellcover(g: Column, cellDeg: Column): Column = k.st_cellcover(g, cellDeg)
  def st_snaptogrid(g: Column, size: Column): Column = k.st_snaptogrid(g, size)
  def st_subdivide(g: Column, maxVertices: Column): Column = k.st_subdivide(g, maxVertices)
  def st_cellof(lon: Column, lat: Column, cellDeg: Column): Column = k.st_cellof(lon, lat, cellDeg)

  // ---- numeric geo math: pure built-in compositions (full codegen) --------

  /** Great-circle metres between lon/lat columns — composed from built-ins so
    * it inlines into WholeStageCodegen and pushes down like any arithmetic.
    */
  def haversineM(lon1: Column, lat1: Column, lon2: Column, lat2: Column): Column = {
    val r = lit(6371008.8)
    val p1 = radians(lat1); val p2 = radians(lat2)
    val a = pow(sin((p2 - p1) / 2), 2) +
      cos(p1) * cos(p2) * pow(sin((radians(lon2) - radians(lon1)) / 2), 2)
    lit(2) * r * asin(least(lit(1.0), sqrt(a)))
  }

  /** Web-Mercator x/y of lon/lat columns (numeric, codegen'd). */
  def mercX(lon: Column): Column = lit(graft.geom.Mercator.R) * radians(lon)
  def mercY(lat: Column): Column = {
    val clamped = least(lit(85.06), greatest(lit(-85.06), lat))
    lit(graft.geom.Mercator.R) * log(tan(lit(math.Pi / 4) + radians(clamped) / 2))
  }

  /** Registers every graft SQL function; see [[graft.functions.registerAll]]. */
  def registerAll(spark: SparkSession): Unit = graft.functions.registerAll(spark)

  /** SQL builder for the curve keys: bits must be a literal (baked into
    * codegen).
    */
  private[graft] def curveFromLiterals(make: (Expression, Expression, Int) => Expression)(
      lon: Expression, lat: Expression, bits: Expression): Expression = {
    require(bits.foldable, "curve key: bits must be a literal")
    val b = bits.eval(null) match {
      case i: Int => i
      case l: Long => l.toInt
      case other => throw new IllegalArgumentException(s"curve key: bad bits argument $other")
    }
    make(Cast(lon, DoubleType), Cast(lat, DoubleType), b)
  }

  /** A plan-time EPSG code argument: a literal int or 'EPSG:nnnn' string. */
  private def epsgLiteral(fn: String, x: Expression): Int = {
    require(x.foldable, s"$fn: CRS codes must be literals")
    x.eval(null) match {
      case i: Int => i
      case l: Long => l.toInt
      case s: org.apache.spark.unsafe.types.UTF8String => epsgOf(s.toString)
      case other => throw new IllegalArgumentException(s"$fn: bad CRS argument $other")
    }
  }

  /** SQL builder for st_transform: the dispatch is baked in at plan time. */
  private[graft] def transformFromLiterals(g: Expression, from: Expression,
      to: Expression): Expression =
    transformExpr(g, epsgLiteral("st_transform", from), epsgLiteral("st_transform", to))

  /** SQL builder for the UTM expressions: the zone is baked into the
    * generated code.
    */
  private[graft] def utmExpr(g: Expression, epsg: Expression, invert: Boolean): Expression = {
    val code = epsgLiteral(if (invert) "st_from_utm" else "st_to_utm", epsg)
    val (zone, south) = graft.geom.TransverseMercator.utmZoneOf(code).getOrElse(
      throw new IllegalArgumentException(s"EPSG:$code is not a UTM zone (32601-60 / 32701-60)"))
    StUtm(g, zone, south, invert)
  }
}
