package graft.functions

import org.apache.spark.sql.types._

/** The SQL kernel functions: one [[KernelFn]] row per function, each a
  * single static call into [[GeomKernel]], [[GeoJsonKernel]] or
  * [[TextKernel]]. A row is the only definition of its function: the
  * Column API (`GeoFunctions`, `GeoJsonFunctions`, `TextFunctions`) calls
  * it, and `graft.functions.sqlFunctions` registers every row by name for
  * `registerAll` and [[graft.GraftExtensions]].
  */
object KernelFns {
  private val rows = scala.collection.mutable.ArrayBuffer.empty[KernelFn]

  private val Geom = "graft.functions.GeomKernel"
  private val GeoJson = "graft.functions.GeoJsonKernel"
  private val Text = "graft.functions.TextKernel"

  private val B = BinaryType
  private val S = StringType
  private val D = DoubleType
  private val I = IntegerType
  private val L = LongType
  private val AD = ArrayType(DoubleType)
  private val AF = ArrayType(FloatType)
  private val ADD = ArrayType(AD)
  private val MSS = MapType(StringType, StringType)

  private def row(name: String, owner: String, method: String, in: Seq[DataType], out: DataType,
      nullResult: Boolean)(invoke: Array[Any] => Any): KernelFn = {
    val fn = KernelFn(name, owner, method, in, out, nullResult)(invoke)
    rows += fn
    fn
  }
  private def fn1[A](name: String, owner: String, method: String, a: DataType, out: DataType,
      nullResult: Boolean = false)(f: A => Any): KernelFn =
    row(name, owner, method, Seq(a), out, nullResult)(x => f(x(0).asInstanceOf[A]))
  private def fn2[A, B](name: String, owner: String, method: String, a: DataType, b: DataType,
      out: DataType, nullResult: Boolean = false)(f: (A, B) => Any): KernelFn =
    row(name, owner, method, Seq(a, b), out, nullResult)(x =>
      f(x(0).asInstanceOf[A], x(1).asInstanceOf[B]))
  private def fn3[A, B, C](name: String, owner: String, method: String, a: DataType, b: DataType,
      c: DataType, out: DataType)(f: (A, B, C) => Any): KernelFn =
    row(name, owner, method, Seq(a, b, c), out, nullResult = false)(x =>
      f(x(0).asInstanceOf[A], x(1).asInstanceOf[B], x(2).asInstanceOf[C]))
  private def fn4[A, B, C, E](name: String, owner: String, method: String, a: DataType, b: DataType,
      c: DataType, d: DataType, out: DataType)(f: (A, B, C, E) => Any): KernelFn =
    row(name, owner, method, Seq(a, b, c, d), out, nullResult = false)(x =>
      f(x(0).asInstanceOf[A], x(1).asInstanceOf[B], x(2).asInstanceOf[C], x(3).asInstanceOf[E]))

  // ---- GeomKernel: constructors / accessors --------------------------------
  val st_geomfromtext = fn1("st_geomfromtext", Geom, "fromText", S, B)(GeomKernel.fromText)
  /** Null on malformed WKT. */
  val st_try_geomfromtext =
    fn1("st_try_geomfromtext", Geom, "tryFromText", S, B, nullResult = true)(GeomKernel.tryFromText)
  val st_astext = fn1("st_astext", Geom, "asText", B, S)(GeomKernel.asText)
  val st_point = fn2("st_point", Geom, "point", D, D, B)(GeomKernel.point)
  val st_x = fn1("st_x", Geom, "pointX", B, D)(GeomKernel.pointX)
  val st_y = fn1("st_y", Geom, "pointY", B, D)(GeomKernel.pointY)
  val st_geomtype = fn1("st_geomtype", Geom, "geomType", B, S)(GeomKernel.geomType)
  val st_npoints = fn1("st_npoints", Geom, "numPoints", B, I)(GeomKernel.numPoints)
  val st_isempty = fn1("st_isempty", Geom, "isEmpty", B, BooleanType)(GeomKernel.isEmpty)
  val st_centroid = fn1("st_centroid", Geom, "centroid", B, B)(GeomKernel.centroid)
  val st_envelope = fn1("st_envelope", Geom, "envelope", B, B)(GeomKernel.envelope)
  val st_bbox =
    fn1("st_bbox", Geom, "bbox", B, ArrayType(DoubleType, containsNull = false))(GeomKernel.bbox)
  val st_makeline = fn2("st_makeline", Geom, "makeLine", B, B, B)(GeomKernel.makeLine)
  val st_geohash_decode =
    fn1("st_geohash_decode", Geom, "geohashDecode", S, B)(GeomKernel.geohashDecode)

  // ---- GeomKernel: measures and CRS ----------------------------------------
  val st_area = fn1("st_area", Geom, "areaPlanar", B, D)(GeomKernel.areaPlanar)
  val st_aream = fn1("st_aream", Geom, "areaM", B, D)(GeomKernel.areaM)
  val st_length = fn1("st_length", Geom, "lengthPlanar", B, D)(GeomKernel.lengthPlanar)
  val st_lengthm = fn1("st_lengthm", Geom, "lengthM", B, D)(GeomKernel.lengthM)
  val st_coslat = fn1("st_coslat", Geom, "coslat", B, D)(GeomKernel.coslat)
  val st_haversine_length =
    fn1("st_haversine_length", Geom, "haversineLength", B, D)(GeomKernel.haversineLength)
  val st_distance = fn2("st_distance", Geom, "distance", B, B, D)(GeomKernel.distance)
  val st_tomercator = fn1("st_tomercator", Geom, "toMercator", B, B)(GeomKernel.toMercator)
  val st_tolonlat = fn1("st_tolonlat", Geom, "toLonLat", B, B)(GeomKernel.toLonLat)

  // ---- GeomKernel: predicates and overlay ----------------------------------
  val st_intersects =
    fn2("st_intersects", Geom, "intersects", B, B, BooleanType)(GeomKernel.intersects)
  val st_within = fn2("st_within", Geom, "within", B, B, BooleanType)(GeomKernel.within)
  val st_contains = fn2("st_contains", Geom, "contains", B, B, BooleanType)(GeomKernel.contains)
  val st_intersection =
    fn2("st_intersection", Geom, "intersection", B, B, B)(GeomKernel.intersection)
  val st_difference = fn2("st_difference", Geom, "difference", B, B, B)(GeomKernel.difference)
  val st_union = fn2("st_union", Geom, "unionPair", B, B, B)(GeomKernel.unionPair)

  // ---- GeomKernel: buffer, simplify, grid ----------------------------------
  val st_buffer = fn3("st_buffer", Geom, "buffer", B, D, I, B)(GeomKernel.buffer)
  val st_bufferm = fn3("st_bufferm", Geom, "bufferM", B, D, I, B)(GeomKernel.bufferM)
  val st_bufferm_styled =
    fn4("st_bufferm_styled", Geom, "bufferMStyled", B, D, I, S, B)(GeomKernel.bufferMStyled)
  val st_simplify = fn2("st_simplify", Geom, "simplify", B, D, B)(GeomKernel.simplify)
  val st_cellcover = fn2("st_cellcover", Geom, "cellCover", B, D,
    ArrayType(LongType, containsNull = false))(GeomKernel.cellCover)
  val st_snaptogrid = fn2("st_snaptogrid", Geom, "snapToGrid", B, D, B)(GeomKernel.snapToGrid)
  val st_subdivide = fn2("st_subdivide", Geom, "subdivide", B, I,
    ArrayType(BinaryType, containsNull = false))(GeomKernel.subdivide)
  val st_cellof = fn3("st_cellof", Geom, "cellOf", D, D, D, L)(GeomKernel.cellOf)

  // ---- GeomKernel: codecs and coordinate-array constructors ----------------
  val st_polyline_encode =
    fn1("st_polyline_encode", Geom, "polylineEncode", B, S)(GeomKernel.polylineEncode)
  val st_polyline_decode =
    fn1("st_polyline_decode", Geom, "polylineDecode", S, B)(GeomKernel.polylineDecode)
  /** Null when an ordinate is null. */
  val st_line_from_coords = fn1("st_line_from_coords", Geom, "lineFromCoords", AD, B,
    nullResult = true)(GeomKernel.lineFromCoords)
  val st_polygon_from_coords = fn1("st_polygon_from_coords", Geom, "polygonFromCoords", AD, B,
    nullResult = true)(GeomKernel.polygonFromCoords)
  /** Null (the feature drops) on incomplete or unstitchable members. */
  val st_relation_multipolygon = fn2("st_relation_multipolygon", Geom, "relationMultipolygon",
    ArrayType(StringType), ADD, B, nullResult = true)(GeomKernel.relationMultipolygon)
  val st_multiline_from_lines = fn1("st_multiline_from_lines", Geom, "multilineFromLines", ADD, B,
    nullResult = true)(GeomKernel.multilineFromLines)

  // ---- GeoJsonKernel -------------------------------------------------------
  val st_geomfromgeojson =
    fn1("st_geomfromgeojson", GeoJson, "fromGeoJson", S, B)(GeoJsonKernel.fromGeoJson)
  /** Null on malformed GeoJSON. */
  val st_try_geomfromgeojson = fn1("st_try_geomfromgeojson", GeoJson, "tryFromGeoJson", S, B,
    nullResult = true)(GeoJsonKernel.tryFromGeoJson)
  val st_asgeojson = fn1("st_asgeojson", GeoJson, "asGeoJson", B, S)(GeoJsonKernel.asGeoJson)
  val feature_geometry =
    fn1("feature_geometry", GeoJson, "featureGeometry", S, B)(GeoJsonKernel.featureGeometry)
  val feature_props =
    fn1("feature_props", GeoJson, "featureProps", S, MSS)(GeoJsonKernel.featureProps)
  val geojson_features = fn1("geojson_features", GeoJson, "features", S,
    ArrayType(StringType, containsNull = false))(GeoJsonKernel.features)
  val to_geojson_feature =
    fn2("to_geojson_feature", GeoJson, "toFeature", B, MSS, S)(GeoJsonKernel.toFeature)

  // ---- TextKernel ----------------------------------------------------------
  val minhash_sig = fn3("minhash_sig", Text, "minhashSig", S, I, I,
    ArrayType(LongType, containsNull = false))(TextKernel.minhashSig)
  val simhash64 = fn1("simhash64", Text, "simhash64", S, L)(TextKernel.simhash64)
  val ngrams_hashed = fn2("ngrams_hashed", Text, "ngramsHashed", S, I,
    ArrayType(LongType, containsNull = false))(TextKernel.ngramsHashed)
  val bigram_ids = fn1("bigram_ids", Text, "bigramIds", S,
    ArrayType(IntegerType, containsNull = false))(TextKernel.bigramIds)
  val bigram_score = fn2("bigram_score", Text, "bigramScore", S, AD, D)(TextKernel.bigramScore)
  val lang_id = fn1("lang_id", Text, "langId", S, S)(TextKernel.langId)
  val doc_fingerprint = fn1("doc_fingerprint", Text, "fingerprint", S, L)(TextKernel.fingerprint)
  val compress_ratio = fn1("compress_ratio", Text, "compressRatio", S, D)(TextKernel.compressRatio)
  val string_hash64 = fn2("string_hash64", Text, "stringHash64", S, L, L)(TextKernel.stringHash64)
  /** Robust-winnowing fingerprints: the selected k-gram minima. */
  val winnow_fps = fn3("winnow_fps", Text, "winnow", S, I, I, ArrayType(
    StructType(Seq(StructField("pos", IntegerType, nullable = false),
      StructField("hash", LongType, nullable = false))), containsNull = false))(TextKernel.winnow)
  /** The random-hyperplane kernels read float vectors. */
  val vec_simhash = fn3("vec_simhash", Text, "vecSimhash", AF, I, L, L)(TextKernel.vecSimhash)
  val vec_project = fn3("vec_project", Text, "vecProject", AF, I, L,
    ArrayType(DoubleType, containsNull = false))(TextKernel.vecProject)
  val vec_dot = fn2("vec_dot", Text, "vecDot", AD, AD, D)(TextKernel.vecDot)
  val vec_cosine = fn2("vec_cosine", Text, "vecCosine", AD, AD, D)(TextKernel.vecCosine)
  val vec_sign_bits = fn1("vec_sign_bits", Text, "vecSignBits", AD, L)(TextKernel.vecSignBits)
  /** |a ∩ b| of two strictly-increasing `array<int>`s. */
  val sorted_intersect_size = fn2("sorted_intersect_size", Text, "sortedIntersectSize",
    ArrayType(IntegerType), ArrayType(IntegerType), I)(TextKernel.sortedIntersectSize)

  /** Every row, in definition order. */
  val all: Seq[KernelFn] = rows.toSeq

  private lazy val named = all.map(f => f.name -> f).toMap
  private[functions] def byName(name: String): KernelFn = named(name)
}
