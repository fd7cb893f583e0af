package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GeoFunctions._
import graft.operators._
import graft.sources.GeoSources.{GeoCSV, GeoJSON}

/** Behavioral parity against the reference's own test suite: same fixture
  * data (read-only from /root/reference/tests), same expected outputs
  * (reference: tests/area/test_area.py, tests/length/test_length.py,
  * tests/sjoin/test_sjoin.py, tests/buffer/test_buffer.py,
  * tests/test_subset.py). A reference user switching to graft gets the same
  * answers on the reference's own cases.
  */
class ReferenceParitySpec extends AnyFunSuite with SparkSpec {

  import testImplicits._

  private val ref = "/root/reference/tests"

  private def wktCsv(path: String): DataFrame =
    GeoCSV.read(spark, path, geometryCol = "WKT")

  // --- area (tests/area/test_area.py) --------------------------------------

  test("area: the 4326 rectangle measures ~250000 m² (reference test_area)") {
    val out = GeoOps.areaM(wktCsv(s"$ref/area/rectangle-4326.csv"), geom = "WKT")
    val a = out.select("area").head().getDouble(0)
    assert(math.abs(a - 250000) / 250000 < 0.01)
  }

  test("area: the same rectangle in 3857 measures ~250000 m²") {
    val df = wktCsv(s"$ref/area/rectangle-3857.csv")
      .withColumn("WKT", st_transform(col("WKT"), "EPSG:3857", "EPSG:4326"))
    val a = GeoOps.areaM(df, geom = "WKT").select("area").head().getDouble(0)
    assert(math.abs(a - 250000) / 250000 < 0.01)
  }

  test("area: nullify_irrelevant nulls exactly the non-polygons (reference test_irrelevant_areas)") {
    val df = wktCsv(s"$ref/area/irrelevant-objects.csv")
    val out = GeoOps.areaM(df, geom = "WKT", skipTransform = true, nullifyIrrelevant = true)
      .withColumn("gtype", st_geomtype(col("WKT")))
    val rows = out.select("gtype", "area").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val isPoly = r.getString(0).endsWith("Polygon")
      if (isPoly) assert(r.get(1) != null && r.getDouble(1) > 0)
      else assert(r.get(1) == null)
    }
    // without nullify: non-polygons get 0, not null
    val all = GeoOps.areaM(df, geom = "WKT", skipTransform = true).select("area").collect()
    assert(all.forall(_.get(0) != null))
  }

  // --- length (tests/length/test_length.py) --------------------------------

  test("length: the 4326 line measures ~2000 m (reference test_length)") {
    val out = GeoOps.lengthM(wktCsv(s"$ref/length/line-4326.csv"), geom = "WKT")
    val l = out.select("length").head().getDouble(0)
    assert(math.abs(l - 2000) / 2000 < 0.01)
  }

  test("length: the same line in 3857 measures ~2000 m") {
    val df = wktCsv(s"$ref/length/line-3857.csv")
      .withColumn("WKT", st_transform(col("WKT"), "EPSG:3857", "EPSG:4326"))
    val l = GeoOps.lengthM(df, geom = "WKT").select("length").head().getDouble(0)
    assert(math.abs(l - 2000) / 2000 < 0.01)
  }

  // --- sjoin (tests/sjoin/test_sjoin.py) -----------------------------------

  private lazy val pts = GeoJSON.read(spark, s"$ref/sjoin/points.geojson")
    .select(element_at(col("properties"), "name").as("name"),
      element_at(col("properties"), "number").cast("int").as("number"),
      col("geometry"))
  private lazy val polys = GeoJSON.read(spark, s"$ref/sjoin/polys.geojson")
    .select(element_at(col("properties"), "name").as("name"), col("geometry"))
    // reference first-match order = file row order (X, Y, Z, W)
    .withColumn("ord",
      when(col("name") === "X", 0).when(col("name") === "Y", 1)
        .when(col("name") === "Z", 2).otherwise(3))

  test("sjoin.sagg: per-poly sums match the reference exactly") {
    val out = SJoin.sagg(polys, pts, Seq(sum("number").as("number")), how = "left")
      .withColumn("number", coalesce(col("number"), lit(0))) // pandas sum of empty = 0
      .select("name", "number").as[(String, Long)].collect().toMap
    assert(out == Map("X" -> 9L, "Y" -> 3L, "Z" -> 0L, "W" -> 3L))
  }

  test("sjoin.slookup: first-match polygon per point matches the reference") {
    val out = SJoin.slookup(pts, polys.withColumnRenamed("name", "name_poly"),
        columns = Seq("name_poly"), orderBy = "ord", how = "left")
      .select("name", "name_poly").collect()
      .map(r => r.getString(0) -> Option(r.getString(1)).getOrElse("-")).toMap
    assert(out == Map("A" -> "Y", "B" -> "W", "C" -> "X", "D" -> "Y", "E" -> "-",
      "F" -> "X", "G" -> "Y", "H" -> "-", "I" -> "X"))
  }

  test("sjoin.sfilter: both directions and negatives match the reference") {
    def names(df: DataFrame) = df.select("name").as[String].collect().toSet
    assert(names(SJoin.sfilter(polys, pts)) == Set("X", "Y", "W"))
    assert(names(SJoin.sfilter(polys, pts, negative = true)) == Set("Z"))
    assert(names(SJoin.sfilter(pts, polys)) == "ABCDFGI".map(_.toString).toSet)
    assert(names(SJoin.sfilter(pts, polys, negative = true)) == Set("E", "H"))
  }

  // --- buffer (tests/buffer/test_buffer.py) --------------------------------

  test("buffer: resolution-5 buffers match the reference fixtures' areas; dissolve merges to the fixture") {
    val points = GeoJSON.read(spark, s"$ref/buffer/points.geojson")
    assert(points.count() == 7)
    val ours = GeoOps.bufferM(points, radiusMetres = 500, resolution = 5)
      .select(st_area(col("geometry"))).as[Double].collect().sorted
    // exterior ring has resolution*4 + 1 coords (same convention as shapely)
    val firstBuf = GeoOps.bufferM(points, 500, resolution = 5)
      .select(col("geometry")).head().getAs[Array[Byte]](0)
    graft.geom.WKB.read(firstBuf) match {
      case graft.geom.Polygon(rings) => assert(rings.head.length / 2 == 5 * 4 + 1)
      case other => fail(s"expected polygon buffer, got ${other.geomType}")
    }
    val fixture = GeoJSON.read(spark, s"$ref/buffer/buffers.geojson")
      .select(st_area(col("geometry"))).as[Double].collect().sorted
    assert(ours.length == fixture.length)
    ours.zip(fixture).foreach { case (a, b) =>
      assert(math.abs(a - b) / b < 0.01, s"buffer area $a vs reference $b")
    }
    // dissolve: total area equals the reference's dissolved fixture
    val dissolved = GeoOps.bufferM(points, 500, resolution = 5, dissolve = true)
      .select(st_area(col("geometry"))).head().getDouble(0)
    val dissolvedFixture = GeoJSON.read(spark, s"$ref/buffer/buffers-dissolved.geojson")
      .agg(sum(st_area(col("geometry")))).head().getDouble(0)
    assert(math.abs(dissolved - dissolvedFixture) / dissolvedFixture < 0.01)
    assert(dissolved < ours.sum) // overlaps actually merged
  }

  // --- io (tests/io/data — GDAL-written fixtures) ---------------------------

  private def stage(dir: String, base: String): String = {
    val out = java.nio.file.Paths.get(tmpDir(s"graft-parity-$base"))
    Seq("shp", "dbf").foreach { ext =>
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$dir/$base.$ext"), out.resolve(s"$base.$ext"))
    }
    out.toString
  }

  test("shapefile reader parses GDAL-written fixtures and agrees with the CSV twin") {
    val data = s"$ref/io/data"
    val shp = graft.sources.Shapefile.read(spark, stage(data, "points"))
    val csv = GeoCSV.read(spark, s"$data/points.csv", geometryCol = "WKT")
    assert(shp.count() == csv.count())
    val shpPts = shp.select(st_x(col("geometry")), st_y(col("geometry")))
      .as[(Double, Double)].collect().map { case (x, y) =>
        (math.rint(x * 1e6) / 1e6, math.rint(y * 1e6) / 1e6) }.toSet
    val csvPts = csv.select(st_x(col("WKT")), st_y(col("WKT")))
      .as[(Double, Double)].collect().map { case (x, y) =>
        (math.rint(x * 1e6) / 1e6, math.rint(y * 1e6) / 1e6) }.toSet
    assert(shpPts == csvPts)

    val lines = graft.sources.Shapefile.read(spark, stage(data, "lines"))
    val lineLens = lines.select(st_length(col("geometry"))).as[Double].collect().sorted
    val csvLens = GeoCSV.read(spark, s"$data/lines.csv", geometryCol = "WKT")
      .select(st_length(col("WKT"))).as[Double].collect().sorted
    assert(lineLens.length == csvLens.length)
    lineLens.zip(csvLens).foreach { case (a, b) => assert(math.abs(a - b) < 1e-6) }
  }

  test("geojsonl fixture parses with the line-delimited reader") {
    val df = graft.sources.GeoSources.GeoJSONSeq.read(spark, s"$ref/io/data/lines.geojsonl.json")
    val csv = GeoCSV.read(spark, s"$ref/io/data/lines.csv", geometryCol = "WKT")
    assert(df.count() == csv.count())
    assert(df.select(element_at(col("properties"), "number")).as[String].collect().toSet
      == csv.select(col("number").cast("string")).as[String].collect().toSet)
  }

  test("broken WKT rows: try-parse keeps good rows, nulls the bad") {
    val df = spark.read.option("header", "true").csv(s"$ref/io/data/points-broken.csv")
      .withColumn("geometry", st_try_geomfromtext(col("WKT")))
    assert(df.count() == 8)
    assert(df.where(col("geometry").isNotNull).count() == 6) // 1 bad WKT + 1 empty
  }

  test("convert: cities fixture to 3857 leaves degree range; round-trip returns (Cyrillic intact)") {
    val cities = GeoCSV.read(spark, s"$ref/convert/cities.csv", geometryCol = "WKT")
    val merc = GeoOps.toMercator(cities.withColumnRenamed("WKT", "geometry"))
    assert(merc.where(abs(st_x(col("geometry"))) > 180).count() == cities.count())
    val back = GeoOps.toLonLat(merc)
    val xs = back.select(st_x(col("geometry"))).as[Double].collect()
    assert(xs.forall(x => math.abs(x) <= 180))
    assert(back.select("name").as[String].collect().contains("Новосибирск"))
  }

  // --- subset (tests/test_subset.py) ---------------------------------------

  test("subset: DSL error cases match the reference") {
    val df = Seq((1, 10, 20)).toDF("col1", "col2", "col3")
    Subset(df, "col1:new1,col2,col3:new3") // the good string parses
    intercept[IllegalArgumentException](Subset(df, "old1:new1,old2:new2:verynew2"))
    intercept[IllegalArgumentException](Subset(df, "-old1:new1"))
    intercept[IllegalArgumentException](Subset(df, "old1,old2:new2,-,old4"))
    intercept[IllegalArgumentException](Subset(df, ""))
    intercept[IllegalArgumentException](Subset(df, "missing_column"))
  }
}
