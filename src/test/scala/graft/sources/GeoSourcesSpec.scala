package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.functions.GeoFunctions._
import graft.sources.GeoSources._

class GeoSourcesSpec extends AnyFunSuite with SparkSpec {

  import testImplicits._

  private def tmp(name: String): String = s"${tmpDir(name)}/out"

  private lazy val df = Seq(
    (1, "alpha", "POINT (1 2)"),
    (2, "beta", "LINESTRING (0 0, 3 3)"),
    (3, "gamma", "POLYGON ((10 10, 12 10, 12 12, 10 12, 10 10))"))
    .toDF("id", "name", "wkt")
    .select(col("id"), col("name"), st_geomfromtext(col("wkt")).as("geometry"))

  test("GeoCSV round-trip preserves rows and geometry") {
    val p = tmp("csv")
    GeoCSV.write(df, p)
    val back = GeoCSV.read(spark, p)
    assert(back.count() == 3)
    val wkts = back.select(st_astext(col("geometry"))).as[String].collect().toSet
    assert(wkts.contains("POINT (1 2)"))
    assert(back.schema("geometry").dataType.typeName == "binary")
  }

  test("GeoJSONSeq round-trip: feature lines, properties map, geometry") {
    val p = tmp("seq")
    GeoJSONSeq.write(df, p)
    val back = GeoJSONSeq.read(spark, p)
    assert(back.count() == 3)
    val row = back.where(element_at(col("properties"), "id") === "1").head()
    assert(row.getAs[Map[String, String]]("properties")("name") == "alpha")
    val wkt = back.select(st_astext(col("geometry"))).as[String].collect().toSet
    assert(wkt.contains("POINT (1 2)") && wkt.exists(_.startsWith("POLYGON")))
  }

  test("readAuto/writeAuto dispatch on extension; readGeom takes the first geometry") {
    val base = java.nio.file.Paths.get(tmpDir("graft-auto"))
    for (ext <- Seq("csv", "geojsonl", "parquet", "fgb")) {
      val p = base.resolve(s"data.$ext").toString
      GeoSources.writeAuto(df, p)
      val back = GeoSources.readAuto(spark, p)
      assert(back.count() == 3, ext)
      val wkts = back.select(st_astext(col("geometry"))).as[String].collect().toSet
      assert(wkts.contains("POINT (1 2)"), ext)
    }
    intercept[IllegalArgumentException] { GeoSources.readAuto(spark, "nope.xyz") }
    // read_geom parity: first geometry only, no full materialization
    val gp = base.resolve("geom.geojsonl").toString
    GeoSources.writeGeom(spark, df.orderBy("id").select("geometry").head().getAs[Array[Byte]](0), gp)
    val g = GeoSources.readGeom(spark, gp)
    assert(graft.geom.WKT.write(graft.geom.WKB.read(g)) == "POINT (1 2)")
  }

  test("GeoJSON whole-file round-trip") {
    val p = tmp("fc")
    GeoJSON.write(df, p)
    // the single output part is a valid FeatureCollection
    val text = spark.read.option("wholetext", "true").text(p).head().getString(0)
    assert(text.startsWith("""{"type":"FeatureCollection""""))
    val back = GeoJSON.read(spark, p)
    assert(back.count() == 3)
  }

  test("GeoJSON.write fails fast above the maxRows cap") {
    val p = tmp("fc-cap")
    val e = intercept[org.apache.spark.SparkException] {
      GeoJSON.write(df, p, maxRows = 2)
    }
    assert(e.getMessage.contains("maxRows") ||
      Option(e.getCause).exists(_.getMessage.contains("maxRows")))
  }

  test("geometry filter on read drops non-intersecting features") {
    val p = tmp("filter")
    GeoJSONSeq.write(df, p)
    val filtered = GeoJSONSeq.read(spark, p,
      filterWkt = Some("POLYGON ((0 0, 5 0, 5 5, 0 5, 0 0))"))
    assert(filtered.count() == 2) // point + line; far polygon dropped
  }

  test("readAuto filters every format, in the reader or after parsing") {
    val base = tmpDir("graft-auto-filter")
    val box = Some("POLYGON ((0 0, 5 0, 5 5, 0 5, 0 0))")
    for (ext <- Seq("geojsonl", "parquet", "fgb", "orc", "avro", "arrow", "arrows", "gpkg",
        "sqlite", "xlsx")) {
      val p = s"$base/data.$ext"
      GeoSources.writeAuto(df, p)
      assert(GeoSources.readAuto(spark, p).count() == 3, ext)
      assert(GeoSources.readAuto(spark, p, filterWkt = box).count() == 2, ext)
    }
  }

  test("cell-partitioned parquet prunes partitions on bbox reads") {
    val p = tmp("cells")
    // 200 points spread over [0,20)²: 1°-cells → many directories
    val pts = spark.range(200).select(
      col("id"),
      st_point(col("id").cast("double") % 20, (col("id").cast("double") / 10) % 20).as("geometry"))
    GeoParquet.writePartitionedByCell(pts, p, cellDeg = 1.0)
    val filter = "POLYGON ((2.5 0.5, 4.5 0.5, 4.5 2.5, 2.5 2.5, 2.5 0.5))"
    val got = GeoParquet.readPartitionedByCell(spark, p, 1.0, Some(filter))
    val all = GeoParquet.read(spark, p, Some(filter))
    assert(got.count() == all.count()) // pruning loses no rows
    // the scan carries a non-empty partition filter on the cell column
    val plan = got.queryExecution.executedPlan.toString
    val pf = "PartitionFilters: \\[([^\\]]*)\\]".r.findFirstMatchIn(plan).map(_.group(1))
    assert(pf.exists(f => f.contains("cell") && f.nonEmpty), s"no partition filter in:\n$plan")
  }

  test("GeoParquet round-trip keeps WKB native") {
    val p = tmp("parquet")
    GeoParquet.write(df, p)
    val back = GeoParquet.read(spark, p, filterWkt = Some("POLYGON ((9 9, 13 9, 13 13, 9 13, 9 9))"))
    assert(back.count() == 1)
  }
}
