package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.functions.GeoFunctions._

class ShapefileSpec extends AnyFunSuite with SparkSpec {

  import testImplicits._

  test("reads a hand-built minimal point shapefile (spec bytes, no writer involved)") {
    val dir = tmpDir("shp-raw")
    // one Point(3.5, -2.25) record, built byte-by-byte from the ESRI spec
    val contentWords = 10 // 20 bytes: int type + 2 doubles
    val totalWords = 50 + 4 + contentWords
    val shp = ByteBuffer.allocate(totalWords * 2)
    shp.order(ByteOrder.BIG_ENDIAN).putInt(0, 9994).putInt(24, totalWords)
    shp.order(ByteOrder.LITTLE_ENDIAN).putInt(28, 1000).putInt(32, 1)
    shp.order(ByteOrder.BIG_ENDIAN).putInt(100, 1).putInt(104, contentWords)
    shp.order(ByteOrder.LITTLE_ENDIAN).putInt(108, 1)
      .putDouble(112, 3.5).putDouble(120, -2.25)
    Files.write(Paths.get(dir, "pts.shp"), shp.array())

    val back = Shapefile.read(spark, dir)
    assert(back.count() == 1)
    val row = back.select(st_x(col("geometry")), st_y(col("geometry"))).head()
    assert(row.getDouble(0) == 3.5 && row.getDouble(1) == -2.25)
  }

  test("shp+dbf round-trip: points with attributes") {
    val dir = tmpDir("shp-pts")
    val df = Seq((1, "alpha", 0.5, 1.5), (2, "beta", -3.25, 4.0))
      .toDF("id", "name", "lon", "lat")
      .select(col("id").cast("string").as("id"), col("name"),
        st_point(col("lon"), col("lat")).as("geometry"))
    Shapefile.write(df, s"$dir/layer")
    val back = Shapefile.read(spark, dir)
    assert(back.count() == 2)
    val m = back.collect().map(r => r.getAs[String]("id") ->
      (r.getAs[String]("name"),
        graft.geom.WKB.read(r.getAs[Array[Byte]]("geometry")))).toMap
    assert(m("1")._1 == "alpha")
    assert(m("2")._2 == graft.geom.Point(-3.25, 4.0))
  }

  test("write fails fast above the maxRows cap instead of collecting unboundedly") {
    val dir = tmpDir("shp-cap")
    val df = (1 to 10).map(i => (i.toString, i * 1.0)).toDF("fid", "lon")
      .select(col("fid"), st_point(col("lon"), lit(0.0)).as("geometry"))
    val e = intercept[IllegalArgumentException] {
      Shapefile.write(df, s"$dir/capped", maxRows = 5)
    }
    assert(e.getMessage.contains("maxRows"))
    Shapefile.write(df, s"$dir/ok", maxRows = 10) // at the cap: fine
    assert(Shapefile.read(spark, dir).count() == 10)
  }

  test("shp round-trip: polygons with holes keep rings and area") {
    val dir = tmpDir("shp-poly")
    val wkt = "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (4 4, 6 4, 6 6, 4 6, 4 4))"
    val df = Seq((1, wkt)).toDF("fid", "wkt")
      .select(col("fid").cast("string").as("fid"), st_geomfromtext(col("wkt")).as("geometry"))
    Shapefile.write(df, s"$dir/polys")
    val back = Shapefile.read(spark, dir)
    val area = back.select(st_area(col("geometry"))).head().getDouble(0)
    assert(math.abs(area - 96.0) < 1e-9) // 100 - 4 hole
  }

  test("shx byte ranges: many small splits read the same rows as one split") {
    val dir = tmpDir("shp-split")
    val df = (1 to 23).map(i => (i.toString, i * 1.0, i * 0.5)).toDF("fid", "lon", "lat")
      .select(col("fid"), st_point(col("lon"), col("lat")).as("geometry"))
    Shapefile.write(df, s"$dir/many")
    assert(Shapefile.recordRanges(s"$dir/many.shp", recordsPerSplit = 5).size == 5)
    assert(Shapefile.recordRanges(s"$dir/many.shp", recordsPerSplit = 65536).size == 1)
    val whole = Shapefile.read(spark, dir)
      .select(col("fid"), st_x(col("geometry"))).as[(String, Double)].collect().toSet
    val split = Shapefile.read(spark, dir, recordsPerSplit = 5)
      .select(col("fid"), st_x(col("geometry"))).as[(String, Double)].collect().toSet
    assert(split == whole && split.size == 23)
    // multiple genuine splits
    assert(Shapefile.read(spark, dir, recordsPerSplit = 5).rdd.getNumPartitions >= 1)
  }

  test("record n of the .shp takes record n of the .dbf; a deleted .dbf record leaves nulls") {
    val dir = tmpDir("shp-deleted")
    val df = (1 to 3).map(i => (i.toString, i * 1.0)).toDF("fid", "lon")
      .select(col("fid"), st_point(col("lon"), lit(0.0)).as("geometry"))
    Shapefile.write(df, s"$dir/pts")
    val dbf = Paths.get(dir, "pts.dbf")
    val bytes = Files.readAllBytes(dbf)
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    bytes((bb.getShort(8) & 0xffff) + (bb.getShort(10) & 0xffff)) = '*' // record 2 deleted
    Files.write(dbf, bytes)
    val back = Shapefile.read(spark, dir, recordsPerSplit = 1)
      .select(st_x(col("geometry")), col("fid")).collect()
      .map(r => r.getDouble(0) -> Option(r.getString(1))).toMap
    assert(back == Map(1.0 -> Some("1"), 2.0 -> None, 3.0 -> Some("3")))
  }

  test("small splits agree with one split on the reference's GDAL fixture") {
    val refDir = tmpDir("graft-shp-ref")
    Seq("shp", "dbf", "shx").foreach { ext =>
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"/root/reference/tests/io/data/points.$ext"),
        java.nio.file.Paths.get(refDir, s"points.$ext"))
    }
    val whole = Shapefile.read(spark, refDir)
      .select(st_x(col("geometry"))).as[Double].collect().sorted.toSeq
    val split = Shapefile.read(spark, refDir, recordsPerSplit = 3)
      .select(st_x(col("geometry"))).as[Double].collect().sorted.toSeq
    assert(split == whole && whole.nonEmpty)
  }

  test("shp round-trip: polyline") {
    val dir = tmpDir("shp-line")
    val df = Seq((1, "LINESTRING (0 0, 3 4, 6 0)")).toDF("fid", "wkt")
      .select(col("fid").cast("string").as("fid"), st_geomfromtext(col("wkt")).as("geometry"))
    Shapefile.write(df, s"$dir/lines")
    val back = Shapefile.read(spark, dir)
    val len = back.select(st_length(col("geometry"))).head().getDouble(0)
    assert(math.abs(len - 10.0) < 1e-9)
  }

  test("writeSharded: one complete shp/shx/dbf triple per partition + manifest; reads back as one frame") {
    val dir = tmpDir("shp-shard")
    val df = (1 to 200).map(i => (i.toString, s"row$i")).toDF("id", "name")
      .withColumn("geometry", st_point(col("id").cast("double"), col("id").cast("double") * -0.5))
      .repartition(7)
    Shapefile.writeSharded(df, dir)
    val names = new java.io.File(dir).listFiles().map(_.getName).sorted.toSeq
    assert(names.count(_.endsWith(".shp")) == 7, s"got $names")
    assert(names.count(_.endsWith(".shx")) == 7 && names.count(_.endsWith(".dbf")) == 7)
    assert(names.contains("_manifest.json"))
    val manifest = new String(Files.readAllBytes(Paths.get(dir, "_manifest.json")), "UTF-8")
    assert(manifest.contains("\"file\":\"part-00000.shp\"") && manifest.contains("\"rows\":"))
    // one split per shard and many per shard both see the union, row-identical with the input
    val in = df.select("id", "name").orderBy("id").collect().toSeq
    assert(Shapefile.read(spark, dir).select("id", "name").orderBy("id").collect().toSeq == in)
    assert(Shapefile.read(spark, dir, recordsPerSplit = 4)
      .select("id", "name").orderBy("id").collect().toSeq == in)
    // no driver cap: geometry x-values survive across all shards
    val xs = Shapefile.read(spark, dir)
      .select(st_x(col("geometry"))).as[Double].collect().sorted
    assert(xs.length == 200 && xs.head == 1.0 && xs.last == 200.0)
    // each shard is a standalone valid shapefile (own 9994 magic header)
    val one = Files.readAllBytes(Paths.get(dir, names.find(_.endsWith(".shp")).get))
    assert(ByteBuffer.wrap(one).order(ByteOrder.BIG_ENDIAN).getInt(0) == 9994)
    // empty frame still leaves a schema-bearing shard
    val dir2 = tmpDir("shp-shard-empty")
    Shapefile.writeSharded(df.where(col("id") === "nope"), dir2)
    val back2 = Shapefile.read(spark, dir2)
    assert(back2.count() == 0 && back2.columns.toSet == Set("id", "name", "geometry"))
  }
}
