package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

import graft.geom._

/** Catalyst ⇄ geometry-kernel bridge. Every method is a pure static function
  * over Spark-internal types (`Array[Byte]` WKB, `UTF8String`, `ArrayData`),
  * so generated code can call `graft.functions.GeomKernel.m(...)` directly via
  * the Scala static forwarders — the expression layer stays inside
  * WholeStageCodegen with no boxing beyond the WKB payload itself.
  */
object GeomKernel {

  // ---- constructors / text boundary ---------------------------------------

  def fromText(s: UTF8String): Array[Byte] = WKB.write(WKT.read(s.toString))

  /** Null on malformed input instead of failing the task — the ingest-safe
    * variant for dirty corpora (one bad row must not kill a 100 TB job).
    */
  def tryFromText(s: UTF8String): Array[Byte] =
    try fromText(s) catch { case _: Exception => null }

  def asText(b: Array[Byte]): UTF8String = UTF8String.fromString(WKT.write(WKB.read(b)))

  def point(x: Double, y: Double): Array[Byte] = WKB.write(Point(x, y))

  /** Straight segment between the centroids of `a` and `b`
    * (reference: erde/utils.py `linestring_between`).
    */
  def makeLine(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val p = Algos.centroid(WKB.read(a)); val q = Algos.centroid(WKB.read(b))
    WKB.write(LineString(Array(p.x, p.y, q.x, q.y)))
  }

  // ---- accessors ----------------------------------------------------------

  def pointX(b: Array[Byte]): Double = WKB.read(b) match {
    case Point(x, _) => x
    case g => Algos.centroid(g).x
  }

  def pointY(b: Array[Byte]): Double = WKB.read(b) match {
    case Point(_, y) => y
    case g => Algos.centroid(g).y
  }

  def geomType(b: Array[Byte]): UTF8String = UTF8String.fromString(WKB.read(b).geomType)

  def numPoints(b: Array[Byte]): Int = {
    var n = 0
    Geom.foreachPart(WKB.read(b))(cs => n += cs.length / 2)
    n
  }

  def isEmpty(b: Array[Byte]): Boolean = WKB.read(b).isEmpty

  def centroid(b: Array[Byte]): Array[Byte] = WKB.write(Algos.centroid(WKB.read(b)))

  def envelope(b: Array[Byte]): Array[Byte] = {
    val (x1, y1, x2, y2) = WKB.read(b).bbox
    WKB.write(Polygon(Array(Array(x1, y1, x2, y1, x2, y2, x1, y2, x1, y1))))
  }

  /** (minx, miny, maxx, maxy) as a 4-element double array — one WKB parse for
    * all four bounds (grid-join hot path).
    */
  def bbox(b: Array[Byte]): ArrayData = {
    val (x1, y1, x2, y2) = WKB.read(b).bbox
    new GenericArrayData(Array(x1, y1, x2, y2))
  }

  // ---- measures -----------------------------------------------------------

  def areaPlanar(b: Array[Byte]): Double = Algos.area(WKB.read(b))

  /** erde m² semantics (reference: erde/op/area.py:44). NaN for geometries with
    * no areal component when `nullify` (reference `nullify_irrelevant`).
    */
  def areaM(b: Array[Byte]): Double = Mercator.areaM(WKB.read(b))

  def lengthPlanar(b: Array[Byte]): Double = Algos.length(WKB.read(b))

  def lengthM(b: Array[Byte]): Double = Mercator.lengthM(WKB.read(b))

  def coslat(b: Array[Byte]): Double = Mercator.coslat(WKB.read(b))

  def distance(a: Array[Byte], b: Array[Byte]): Double = Algos.distance(WKB.read(a), WKB.read(b))

  // ---- CRS ---------------------------------------------------------------

  def toMercator(b: Array[Byte]): Array[Byte] = WKB.write(Mercator.toMercator(WKB.read(b)))

  def toLonLat(b: Array[Byte]): Array[Byte] = WKB.write(Mercator.toLonLat(WKB.read(b)))

  /** UTM (WGS84 transverse Mercator) forward/inverse, zone 1–60. */
  def utm(b: Array[Byte], zone: Int, south: Boolean, invert: Boolean): Array[Byte] =
    WKB.write(
      if (invert) TransverseMercator.fromUtm(WKB.read(b), zone, south)
      else TransverseMercator.toUtm(WKB.read(b), zone, south))

  /** Parameterized-projection forward/inverse via the [[Projections]] EPSG
    * registry (27700, 2154, 3035, 258xx); includes any datum shift.
    */
  def crs(b: Array[Byte], epsg: Int, invert: Boolean): Array[Byte] =
    WKB.write(
      if (invert) Projections.fromProjected(WKB.read(b), epsg)
      else Projections.toProjected(WKB.read(b), epsg))

  /** Morton (Z-order) curve key of a lon/lat point — the write-side
    * clustering key for spatially-pruned parquet layouts ([[ZOrder]]).
    */
  def zorder(lon: Double, lat: Double, bits: Int): Long = ZOrder.encode(lon, lat, bits)

  /** Hilbert curve key — [[zorder]]'s better-locality sibling ([[Hilbert]]). */
  def hilbert(lon: Double, lat: Double, bits: Int): Long = Hilbert.encode(lon, lat, bits)

  private val geohashAlphabet = "0123456789bcdefghjkmnpqrstuvwxyz"

  /** Standard geohash (Niemeyer 2008, public spec): 5·`chars` bits of
    * MSB-first lon/lat bisection (longitude takes the first and every even
    * bit), base32-encoded. The floor-scaled grid index IS the bisection
    * path's binary expansion, so this reuses [[ZOrder.index]]; `chars` up
    * to 12 (60 bits) — the spec's full precision.
    */
  def geohash(lon: Double, lat: Double, chars: Int): UTF8String = {
    val nbits = 5 * chars
    val lonBits = (nbits + 1) / 2
    val latBits = nbits / 2
    val ix = ZOrder.index(lon, -180.0, 360.0, lonBits)
    val iy = ZOrder.index(lat, -90.0, 180.0, latBits)
    var acc = 0L
    var i = 0
    while (i < nbits) {
      val bit =
        if ((i & 1) == 0) (ix >> (lonBits - 1 - i / 2)) & 1L
        else (iy >> (latBits - 1 - i / 2)) & 1L
      acc = (acc << 1) | bit
      i += 1
    }
    val out = new Array[Byte](chars)
    var c = 0
    while (c < chars) {
      out(c) = geohashAlphabet.charAt(((acc >> (5 * (chars - 1 - c))) & 31L).toInt).toByte
      c += 1
    }
    UTF8String.fromBytes(out)
  }

  /** Geohash cell-center decode → WKB point (the inverse boundary: a hash
    * names a CELL; its center is the canonical representative).
    */
  def geohashDecode(s: UTF8String): Array[Byte] = {
    val str = s.toString.toLowerCase
    val chars = str.length
    require(chars >= 1 && chars <= 12, s"geohash length $chars out of range 1-12")
    val nbits = 5 * chars
    val lonBits = (nbits + 1) / 2
    val latBits = nbits / 2
    var acc = 0L
    for (ch <- str) {
      val v = geohashAlphabet.indexOf(ch)
      require(v >= 0, s"invalid geohash character '$ch'")
      acc = (acc << 5) | v.toLong
    }
    var ix = 0L; var iy = 0L
    var i = 0
    while (i < nbits) {
      val bit = (acc >> (nbits - 1 - i)) & 1L
      if ((i & 1) == 0) ix = (ix << 1) | bit else iy = (iy << 1) | bit
      i += 1
    }
    val lon = -180.0 + (ix.toDouble + 0.5) * 360.0 / (1L << lonBits).toDouble
    val lat = -90.0 + (iy.toDouble + 0.5) * 180.0 / (1L << latBits).toDouble
    WKB.write(Point(lon, lat))
  }

  // ---- buffer -------------------------------------------------------------

  def buffer(b: Array[Byte], radius: Double, resolution: Int): Array[Byte] =
    WKB.write(Buffer.buffer(WKB.read(b), radius, resolution))

  def bufferM(b: Array[Byte], radiusMetres: Double, resolution: Int): Array[Byte] =
    WKB.write(Buffer.bufferM(WKB.read(b), radiusMetres, resolution))

  /** `style` = "cap[/join[/mitreLimit]]", e.g. "flat", "square/bevel",
    * "round/mitre/4.0" (reference: shapely cap_style/join_style/mitre_limit
    * via erde/op/buffer.py kwargs).
    */
  def bufferMStyled(b: Array[Byte], radiusMetres: Double, resolution: Int,
      style: UTF8String): Array[Byte] = {
    val parts = style.toString.split("/")
    val cap = parts(0)
    val join = if (parts.length > 1) parts(1) else "round"
    val ml = if (parts.length > 2) parts(2).toDouble else 5.0
    WKB.write(Buffer.bufferM(WKB.read(b), radiusMetres, resolution, cap, join, ml))
  }

  def simplify(b: Array[Byte], tolerance: Double): Array[Byte] =
    WKB.write(Algos.simplify(WKB.read(b), tolerance))

  // ---- boolean ops --------------------------------------------------------

  private def boolOp(a: Array[Byte], b: Array[Byte], op: String): Array[Byte] =
    WKB.write(UnionOps.booleanOp(
      Geom.polygonsOf(WKB.read(a)), Geom.polygonsOf(WKB.read(b)), op))

  /** Areal intersection/difference/union of two geometries (slab-exact;
    * non-areal components contribute nothing).
    */
  def intersection(a: Array[Byte], b: Array[Byte]): Array[Byte] = boolOp(a, b, "intersection")
  def difference(a: Array[Byte], b: Array[Byte]): Array[Byte] = boolOp(a, b, "difference")
  def unionPair(a: Array[Byte], b: Array[Byte]): Array[Byte] = boolOp(a, b, "union")

  // ---- predicates ---------------------------------------------------------

  /** Direct-mapped, thread-local WKB parse cache for the predicate hot path.
    * A grid spatial join evaluates its predicate once per candidate pair, and
    * the build/broadcast side re-sends the same few thousand polygons for
    * millions of probes — re-parsing that WKB dominates the predicate cost.
    * Small geometries (plain points, ≤ 25 bytes) parse inline instead of
    * caching: a probe stream of millions of distinct points would thrash the
    * slots the polygons need. Entries over 4 KiB also bypass the cache to
    * bound per-thread retention (512 slots × 4 KiB ≈ 2 MiB).
    */
  private final class ParseCache {
    private val Slots = 512
    private val keys = new Array[Array[Byte]](Slots)
    private val geoms = new Array[Geom](Slots)
    def get(b: Array[Byte]): Geom = {
      var h = 1
      var i = 0
      while (i < b.length) { h = 31 * h + b(i); i += 1 }
      val slot = h & (Slots - 1)
      val k = keys(slot)
      if ((k eq b) || (k != null && java.util.Arrays.equals(k, b))) geoms(slot)
      else {
        val g = WKB.read(b)
        keys(slot) = b
        geoms(slot) = g
        g
      }
    }
  }

  private val parseCache = ThreadLocal.withInitial[ParseCache](() => new ParseCache)

  private def parsed(b: Array[Byte]): Geom =
    if (b.length <= 25 || b.length > 4096) WKB.read(b) else parseCache.get.get(b)

  def intersects(a: Array[Byte], b: Array[Byte]): Boolean = Algos.intersects(parsed(a), parsed(b))

  def within(a: Array[Byte], b: Array[Byte]): Boolean = Algos.within(parsed(a), parsed(b))

  def contains(a: Array[Byte], b: Array[Byte]): Boolean = Algos.contains(parsed(a), parsed(b))

  /** Great-circle length in metres of a LineString's consecutive segments
    * (reference: erde/op/route.py routes a geometry's waypoints; the
    * deterministic router's path length is the haversine sum).
    */
  def haversineLength(b: Array[Byte]): Double = {
    var total = 0.0
    Geom.foreachPart(WKB.read(b)) { cs =>
      var i = 0
      while (i + 3 < cs.length) {
        total += Mercator.haversine(cs(i), cs(i + 1), cs(i + 2), cs(i + 3))
        i += 2
      }
    }
    total
  }

  // ---- polyline (reference: erde/utils.py polyline encode/decode) --------

  /** Google encoded-polyline (precision 5) of a LineString's vertices. */
  def polylineEncode(b: Array[Byte]): UTF8String = {
    val g = WKB.read(b)
    val cs = g match {
      case LineString(c) => c
      case Point(x, y) => Array(x, y)
      case MultiPoint(c) => c
      case other => throw new IllegalArgumentException(s"polyline encode needs points/line, got ${other.geomType}")
    }
    val sb = new StringBuilder
    def emit(v: Int): Unit = {
      var value = if (v < 0) ~(v << 1) else v << 1
      while (value >= 0x20) {
        sb += ((0x20 | (value & 0x1f)) + 63).toChar
        value >>= 5
      }
      sb += (value + 63).toChar
    }
    var prevLat = 0; var prevLon = 0
    var i = 0
    while (i < cs.length) {
      val lat = math.round(cs(i + 1) * 1e5).toInt
      val lon = math.round(cs(i) * 1e5).toInt
      emit(lat - prevLat); emit(lon - prevLon)
      prevLat = lat; prevLon = lon
      i += 2
    }
    UTF8String.fromString(sb.toString)
  }

  /** Encoded-polyline → LineString WKB. */
  def polylineDecode(s: UTF8String): Array[Byte] = {
    val str = s.toString
    val out = scala.collection.mutable.ArrayBuffer[Double]()
    var i = 0; var lat = 0; var lon = 0
    def next(): Int = {
      var result = 0; var shift = 0; var b = 0x20
      while (b >= 0x20) {
        b = str.charAt(i) - 63; i += 1
        result |= (b & 0x1f) << shift
        shift += 5
      }
      if ((result & 1) != 0) ~(result >> 1) else result >> 1
    }
    while (i < str.length) {
      lat += next(); lon += next()
      out += lon / 1e5; out += lat / 1e5
    }
    WKB.write(LineString(out.toArray))
  }

  // ---- grid cells (spatial-join partitioning) -----------------------------

  /** Packed id of the grid cell containing (lon, lat) for cell size `cell`
    * degrees: 32-bit x-index ‖ 32-bit y-index.
    */
  def cellOf(lon: Double, lat: Double, cell: Double): Long = {
    val ix = math.floor((lon + 180.0) / cell).toLong
    val iy = math.floor((lat + 90.0) / cell).toLong
    (ix << 32) | (iy & 0xffffffffL)
  }

  /** Flat coordinate array → doubles, or null when any ordinate is null
    * (a null vertex must yield a null geometry, not a silent (0, 0)).
    */
  private def coordArray(arr: ArrayData): Array[Double] = {
    var i = 0
    val n = arr.numElements()
    while (i < n) { if (arr.isNullAt(i)) return null; i += 1 }
    arr.toDoubleArray()
  }

  /** LineString WKB from a flat [x0,y0,x1,y1,…] coordinate array — the OSM
    * way-assembly constructor (reference pipeline's ogr2ogr stage,
    * erde/op/osm.py:12). Null when any ordinate is null.
    */
  def lineFromCoords(arr: ArrayData): Array[Byte] = {
    val cs = coordArray(arr)
    if (cs == null) null else WKB.write(LineString(cs))
  }

  /** Single-ring Polygon WKB from a flat coordinate array; the ring is
    * closed automatically when the last vertex differs from the first.
    * Null when any ordinate is null.
    */
  def polygonFromCoords(arr: ArrayData): Array[Byte] = {
    val cs = coordArray(arr)
    if (cs == null) return null
    val ring =
      if (cs.length >= 2 && (cs(0) != cs(cs.length - 2) || cs(1) != cs(cs.length - 1)))
        cs ++ Array(cs(0), cs(1))
      else cs
    WKB.write(Polygon(Array(ring)))
  }

  /** MultiPolygon WKB assembled from OSM relation member ways — `lines` is
    * array<array<double>> (one flat coord path per member, member order),
    * `roles` the parallel role strings ("inner" ⇒ hole, anything else ⇒
    * outer shell). Null when any member path is null/incomplete or a ring
    * fails to stitch closed — the relation equivalent of dropping partial
    * ways (reference: erde/op/osm.py ogr2ogr `multipolygons` layer).
    */
  def relationMultipolygon(roles: ArrayData, lines: ArrayData): Array[Byte] = {
    val n = lines.numElements()
    if (n == 0) return null
    val parts = new Array[Array[Double]](n)
    val inner = new Array[Boolean](n)
    val nRoles = roles.numElements()
    var i = 0
    while (i < n) {
      if (lines.isNullAt(i)) return null
      val cs = coordArray(lines.getArray(i))
      if (cs == null) return null
      parts(i) = cs
      inner(i) = i < nRoles && !roles.isNullAt(i) && roles.getUTF8String(i).toString == "inner"
      i += 1
    }
    RelationAssembly.buildMultiPolygon(parts, inner) match {
      case Some(mp) => WKB.write(mp)
      case None => null
    }
  }

  /** MultiLineString WKB from member coord paths in member order — the
    * `multilinestrings` layer constructor (type=route relations). Null when
    * any member path is null (incomplete member way).
    */
  def multilineFromLines(lines: ArrayData): Array[Byte] = {
    val n = lines.numElements()
    if (n == 0) return null
    val parts = new Array[Array[Double]](n)
    var i = 0
    while (i < n) {
      if (lines.isNullAt(i)) return null
      val cs = coordArray(lines.getArray(i))
      if (cs == null) return null
      parts(i) = cs
      i += 1
    }
    WKB.write(MultiLineString(parts))
  }

  /** All cell ids covered by the geometry's bbox. The spatial join explodes on
    * this — shuffle weight is O(rows × avg cover), never O(N×M).
    */
  def cellCover(b: Array[Byte], cell: Double): ArrayData = {
    val (x1, y1, x2, y2) = WKB.read(b).bbox
    if (x1.isNaN || x1.isInfinite) return new GenericArrayData(Array.empty[Long])
    val ix1 = math.floor((x1 + 180.0) / cell).toLong
    val ix2 = math.floor((x2 + 180.0) / cell).toLong
    val iy1 = math.floor((y1 + 90.0) / cell).toLong
    val iy2 = math.floor((y2 + 90.0) / cell).toLong
    val out = new Array[Long](((ix2 - ix1 + 1) * (iy2 - iy1 + 1)).toInt)
    var k = 0
    var ix = ix1
    while (ix <= ix2) {
      var iy = iy1
      while (iy <= iy2) { out(k) = (ix << 32) | (iy & 0xffffffffL); k += 1; iy += 1 }
      ix += 1
    }
    new GenericArrayData(out)
  }

  /** Grid-snapped geometry (PostGIS ST_SnapToGrid semantics): nearest grid
    * intersection half-up, consecutive duplicates collapsed, degenerate
    * parts dropped — the quantization step before WKB hash-dedup.
    */
  def snapToGrid(b: Array[Byte], size: Double): Array[Byte] =
    WKB.write(Algos.snapToGrid(WKB.read(b), size))

  /** WKB parts of [[graft.geom.Subdivide.subdivide]]: each part at most
    * `maxVertices` vertices — explode ahead of spatial joins to bound
    * per-candidate predicate cost by a constant.
    */
  def subdivide(b: Array[Byte], maxVertices: Int): ArrayData =
    new GenericArrayData(
      graft.geom.Subdivide.subdivide(WKB.read(b), maxVertices).map(WKB.write))
}
