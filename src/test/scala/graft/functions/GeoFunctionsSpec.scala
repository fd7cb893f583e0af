package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.functions.GeoFunctions._
import graft.geom._

class GeoFunctionsSpec extends AnyFunSuite with SparkSpec {

  import testImplicits._

  private def one[T](c: org.apache.spark.sql.Column): T =
    spark.range(1).select(c.as("v")).head().getAs[T]("v")

  test("st_point / st_x / st_y round-trip") {
    val df = Seq((12.5, -3.25)).toDF("lon", "lat")
      .select(st_point(col("lon"), col("lat")).as("g"))
    val row = df.select(st_x(col("g")), st_y(col("g"))).head()
    assert(row.getDouble(0) == 12.5 && row.getDouble(1) == -3.25)
  }

  test("st_geomfromtext / st_astext round-trip") {
    val wkt = "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))"
    assert(one[String](st_astext(st_geomfromtext(lit(wkt)))) == wkt)
  }

  test("st_aream matches erde semantics for a known square") {
    // 0.2°×0.2° square at lat 10: mercator planar area × cos²(centroid lat)
    val wkt = "POLYGON ((10 9.9, 10.2 9.9, 10.2 10.1, 10 10.1, 10 9.9))"
    val got = one[Double](st_aream(st_geomfromtext(lit(wkt))))
    val g = WKT.read(wkt)
    assert(math.abs(got - Mercator.areaM(g)) / got < 1e-12)
    // sanity: ~0.2° ≈ 22.2km, area ≈ 22.2km × 21.9km ≈ 487 km²
    assert(got > 4.5e8 && got < 5.2e8)
  }

  test("st_lengthm ≈ haversine for a short segment") {
    val wkt = "LINESTRING (10 10, 10.1 10.1)"
    val planar = one[Double](st_lengthm(st_geomfromtext(lit(wkt))))
    val hav = Mercator.haversine(10, 10, 10.1, 10.1)
    assert(math.abs(planar - hav) / hav < 0.01) // mercator-coslat vs great-circle: <1%
  }

  test("st_intersects / st_within / st_contains") {
    val poly = st_geomfromtext(lit("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"))
    val inside = st_point(lit(2.0), lit(2.0))
    val outside = st_point(lit(9.0), lit(9.0))
    assert(one[Boolean](st_intersects(inside, poly)))
    assert(!one[Boolean](st_intersects(outside, poly)))
    assert(one[Boolean](st_within(inside, poly)))
    assert(!one[Boolean](st_within(poly, inside)))
    assert(one[Boolean](st_contains(poly, inside)))
  }

  test("st_bufferm of a point has erde-invariant area 0.5·n·r²·sin(2π/n)") {
    val buf = st_bufferm(st_point(lit(20.0), lit(35.0)), lit(1000.0), lit(8))
    val area = one[Double](st_aream(buf))
    val expect = 0.5 * 32 * 1000.0 * 1000.0 * math.sin(2 * math.Pi / 32)
    assert(math.abs(area - expect) / expect < 1e-9)
  }

  test("st_transform 4326⇄3857 round-trips") {
    val p = st_point(lit(30.0), lit(-15.0))
    val back = st_transform(st_transform(p, "EPSG:4326", "EPSG:3857"), "EPSG:3857", "EPSG:4326")
    val row = spark.range(1).select(st_x(back), st_y(back)).head()
    assert(math.abs(row.getDouble(0) - 30.0) < 1e-9 && math.abs(row.getDouble(1) + 15.0) < 1e-9)
  }

  test("haversineM column matches kernel haversine") {
    val got = one[Double](haversineM(lit(10.0), lit(20.0), lit(11.0), lit(21.0)))
    val expect = Mercator.haversine(10, 20, 11, 21)
    assert(math.abs(got - expect) < 1e-6)
  }

  test("st_cellcover covers the bbox, st_cellof locates points") {
    val poly = st_geomfromtext(lit("POLYGON ((0.1 0.1, 1.4 0.1, 1.4 0.9, 0.1 0.9, 0.1 0.1))"))
    val cells = one[collection.Seq[Long]](st_cellcover(poly, lit(0.5)))
    assert(cells.length == 6) // 3 x-cells × 2 y-cells at 0.5°
    val c = one[Long](st_cellof(lit(0.2), lit(0.2), lit(0.5)))
    assert(cells.contains(c))
  }

  test("st_subdivide: Column DSL and SQL name agree, parts cover the area") {
    val wkt = "POLYGON ((0 0, 1 0, 2 0, 3 0, 3 1, 3 2, 3 3, 2 3, 1 3, 0 3, 0 2, 0 1, 0 0))"
    val parts = one[collection.Seq[Array[Byte]]](
      st_subdivide(st_geomfromtext(lit(wkt)), lit(8)))
    assert(parts.length > 1)
    val areas = parts.map(b => graft.functions.GeomKernel.areaPlanar(b))
    assert(math.abs(areas.sum - 9.0) < 1e-9)
    GeoFunctions.registerAll(spark)
    val viaSql = spark.sql(
      s"SELECT size(st_subdivide(st_geomfromtext('$wkt'), 8)) AS n")
      .head().getInt(0)
    assert(viaSql == parts.length)
  }

  test("polyline encode/decode round-trips at 1e-5 precision") {
    val wkt = "LINESTRING (-120.2 38.5, -120.95 40.7, -126.453 43.252)"
    val enc = one[String](st_polyline_encode(st_geomfromtext(lit(wkt))))
    assert(enc == "_p~iF~ps|U_ulLnnqC_mqNvxq`@") // canonical example of the format
    val back = one[String](st_astext(st_polyline_decode(lit(enc))))
    assert(back == "LINESTRING (-120.2 38.5, -120.95 40.7, -126.453 43.252)")
  }

  test("polyline matches the reference's exact fixtures (tests/utils/test_utils.py)") {
    // encode_poly(pl1) — exact-string equality catches any rounding or
    // zigzag off-by-one the round-trip test alone would miss
    val pl1 = "LINESTRING (82.956142 55.050099, 83.174036 54.923359, 83.019111 54.845166, " +
      "82.801218 54.963546, 82.913163 55.0438, 83.12406 54.926231, " +
      "83.008117 54.879681, 82.861188 54.966989)"
    val enc = one[String](st_polyline_encode(st_geomfromtext(lit(pl1))))
    assert(enc == "c~~nI{jiyNbwW{pi@tgNhg]{bVxpi@qtNszTx}Uceh@|aHrsUu`Phu[")
    // decode_poly(pl2 string) equals pl2 at 1e-5
    val dec = one[String](st_astext(st_polyline_decode(
      lit("gumuIa_{|NzytCofhNjonHcd~E`ppAhn|Sqi`Ijzn}@"))))
    assert(dec == "LINESTRING (83.53793 56.10852, 86.04281 55.34134, 87.18539 53.78736, " +
      "83.75766 53.36991, 73.5184 55.01512)")
  }

  test("coords constructors: int arrays cast (not bit-reinterpreted), null ordinate → null") {
    GeoFunctions.registerAll(spark)
    // SQL path with an INT array — must cast elementwise
    val viaSql = spark.sql("SELECT st_astext(st_line_from_coords(array(0, 0, 3, 4))) AS t")
      .head().getString(0)
    assert(viaSql == "LINESTRING (0 0, 3 4)")
    assert(one[Double](st_length(st_line_from_coords(
      array(lit(0.0), lit(0.0), lit(3.0), lit(4.0))))) == 5.0)
    // auto-closing polygon ring
    assert(one[Double](st_area(st_polygon_from_coords(
      array(lit(0.0), lit(0.0), lit(4.0), lit(0.0), lit(4.0), lit(4.0))))) == 8.0)
    // a null ordinate yields NULL, not a silent (0, 0) vertex
    assert(spark.sql("SELECT st_line_from_coords(array(0.0, 0.0, CAST(NULL AS DOUBLE), 1.0)) AS g")
      .head().isNullAt(0))
  }

  test("st_zorder registers for pure-SQL clients; bits must be a literal") {
    GeoFunctions.registerAll(spark)
    val z = spark.sql("SELECT st_zorder(180.0, 90.0, 16) AS z").head().getLong(0)
    assert(z == (1L << 32) - 1)
    assert(spark.sql("SELECT st_zorder(0.25, 0.25, 16) AS z").head().getLong(0) ==
      graft.geom.ZOrder.encode(0.25, 0.25, 16))
    val err = intercept[Exception] {
      spark.sql("SELECT st_zorder(0.0, 0.0, CAST(id AS INT)) FROM range(1)").collect()
    }
    assert(err.getMessage.contains("literal") || err.getMessage.toLowerCase.contains("foldable"))
  }

  test("st_geohash matches the published reference hashes") {
    // the two canonical examples of the public geohash spec
    val df = Seq((-5.603, 42.605), (10.40744, 57.64911)).toDF("lon", "lat")
    val got5 = df.select(st_geohash(col("lon"), col("lat"), 5)).as[String].collect()
    assert(got5(0) == "ezs42")
    val got11 = df.select(st_geohash(col("lon"), col("lat"), 11)).as[String].collect()
    assert(got11(1) == "u4pruydqqvj")
    // prefix property: a longer hash refines, never relocates
    assert(got11(0).startsWith(got5(0)) ||
      df.select(st_geohash(col("lon"), col("lat"), 11)).as[String].collect()(0).take(5) == "ezs42")
  }

  test("st_geohash_decode returns the cell center; round-trip stays in cell") {
    GeoFunctions.registerAll(spark)
    val r = spark.sql(
      """SELECT st_x(p) AS x, st_y(p) AS y FROM
        |  (SELECT st_geohash_decode('ezs42') AS p)""".stripMargin).head()
    // ezs42 cell: lon width 360/2^13, lat height 180/2^12
    assert(math.abs(r.getDouble(0) - (-5.603)) < 360.0 / (1 << 13))
    assert(math.abs(r.getDouble(1) - 42.605) < 180.0 / (1 << 12))
    // SQL surface + clamped edge (180, 90) must not escape the last cell
    val h = spark.sql("SELECT st_geohash(180.0, 90.0, 6) AS h").head().getString(0)
    assert(h == "zzzzzz")
    val h2 = spark.sql("SELECT st_geohash(-180.0, -90.0, 6) AS h").head().getString(0)
    assert(h2 == "000000")
  }

  test("st_intersection / st_difference / st_union column ops") {
    val a = st_geomfromtext(lit("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"))
    val b = st_geomfromtext(lit("POLYGON ((2 2, 6 2, 6 6, 2 6, 2 2))"))
    assert(math.abs(one[Double](st_area(st_intersection(a, b))) - 4.0) < 1e-9)
    assert(math.abs(one[Double](st_area(st_difference(a, b))) - 12.0) < 1e-9)
    assert(math.abs(one[Double](st_area(st_union(a, b))) - 28.0) < 1e-9)
  }

  test("st_try_geomfromtext: null on malformed input, parses valid rows") {
    val df = Seq("POINT (1 2)", "POLYGON broken ((", "", "LINESTRING (0 0, 1 1)")
      .toDF("wkt")
      .select(col("wkt"), st_try_geomfromtext(col("wkt")).as("g"))
    assert(df.where(col("g").isNotNull).count() == 2)
    assert(df.where(col("g").isNull).count() == 2)
    import graft.functions.GeoJsonFunctions.st_try_geomfromgeojson
    val gj = Seq("""{"type":"Point","coordinates":[1,2]}""", "{nope").toDF("j")
      .select(st_try_geomfromgeojson(col("j")).as("g"))
    assert(gj.where(col("g").isNotNull).count() == 1)
  }

  test("st_npoints / st_isempty accessors") {
    assert(one[Int](st_npoints(st_geomfromtext(lit("LINESTRING (0 0, 1 1, 2 2)")))) == 3)
    assert(one[Int](st_npoints(st_geomfromtext(lit("POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))")))) == 5)
    assert(!one[Boolean](st_isempty(st_point(lit(1.0), lit(2.0)))))
    assert(one[Boolean](st_isempty(st_geomfromtext(lit("MULTIPOLYGON EMPTY")))))
  }

  test("st_simplify: collinear points drop, shape detail respects tolerance") {
    // zigzag with tiny deviations around a straight line
    val wkt = "LINESTRING (0 0, 1 0.001, 2 0, 3 0.001, 4 0, 10 0)"
    val simplified = one[String](st_astext(st_simplify(st_geomfromtext(lit(wkt)), lit(0.01))))
    assert(simplified == "LINESTRING (0 0, 10 0)")
    // below tolerance: nothing dropped
    val kept = one[String](st_astext(st_simplify(st_geomfromtext(lit(wkt)), lit(0.0001))))
    assert(kept == wkt.replace("LINESTRING (", "LINESTRING (")) // unchanged
    // polygon ring keeps validity (>= 4 points) even at huge tolerance
    val ring = "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"
    val simpRing = one[String](st_astext(st_simplify(st_geomfromtext(lit(ring)), lit(100.0))))
    assert(simpRing.startsWith("POLYGON"))
    val g = graft.geom.WKT.read(simpRing).asInstanceOf[graft.geom.Polygon]
    assert(g.rings.head.length / 2 >= 4)
  }

  test("SQL registration: functions usable from spark.sql") {
    GeoFunctions.registerAll(spark)
    val row = spark.sql(
      "SELECT st_astext(st_centroid(st_geomfromtext('LINESTRING (0 0, 2 2)'))) AS c").head()
    assert(row.getString(0) == "POINT (1 1)")
    assert(spark.sql("SELECT st_npoints(st_geomfromgeojson('{\"type\":\"Point\",\"coordinates\":[1,2]}')) AS n")
      .head().getInt(0) == 1)
    val a = spark.sql("SELECT st_aream(st_bufferm(st_point(0.0, 0.0), 500.0, 8)) AS a").head().getDouble(0)
    val expect = 0.5 * 32 * 500.0 * 500.0 * math.sin(2 * math.Pi / 32)
    assert(math.abs(a - expect) / expect < 1e-9)
    // UTM from SQL: central-meridian identity, string and int EPSG forms
    val utm = spark.sql(
      "SELECT st_x(st_to_utm(st_point(3.0, 0.0), 32631)) AS e").head().getDouble(0)
    assert(utm == 500000.0)
    val rt = spark.sql(
      """SELECT st_x(st_from_utm(st_to_utm(st_point(4.5, 52.0), 'EPSG:32631'), 'EPSG:32631')) AS lon""")
      .head().getDouble(0)
    assert(math.abs(rt - 4.5) < 1e-9)
    // st_transform from SQL: Lambert-93 natural origin lands on the false origin
    val l93 = spark.sql(
      "SELECT st_x(st_transform(st_point(3.0, 46.5), 'EPSG:4326', 'EPSG:2154')) AS e")
      .head().getDouble(0)
    assert(math.abs(l93 - 700000.0) < 1e-6)
    val back = spark.sql(
      "SELECT st_y(st_transform(st_transform(st_point(-1.5, 53.0), 4326, 27700), 27700, 4326)) AS lat")
      .head().getDouble(0)
    assert(math.abs(back - 53.0) < 1e-6)
  }

  test("expressions stay codegen-compatible (no fallback in plan)") {
    val df = spark.range(100).select(
      st_aream(st_bufferm(st_point(col("id").cast("double") / 10, lit(0.0)), lit(100.0), lit(4))).as("a"))
    // forces execution through the codegen path; failure would throw
    assert(df.agg(sum("a")).head().getDouble(0) > 0)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(")) // `*(n)` prefix = inside WholeStageCodegen
  }
}
