package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.functions.GeoFunctions._
import graft.geom._

class FgbSpec extends AnyFunSuite with SparkSpec {

  import testImplicits._

  test("fgb round-trip: points with mixed attribute types and nulls") {
    val dir = tmpDir("pts")
    val df = Seq(
      (1L, "alpha", 2.5, true, Option("x")),
      (2L, "beta", -0.25, false, None),
      (3L, "gamma", 1e9, true, Option("z")))
      .toDF("id", "name", "score", "flag", "opt")
      .withColumn("geometry", st_point(col("id") * 10.0, col("id") * -1.0))
    Fgb.write(df, s"$dir/pts.fgb")
    val back = Fgb.read(spark, dir)
    assert(back.schema.fieldNames.toSeq ==
      Seq("id", "name", "score", "flag", "opt", "geometry"))
    assert(back.schema("id").dataType.typeName == "long")
    assert(back.schema("flag").dataType.typeName == "boolean")
    val rows = back.collect().map(r => r.getAs[Long]("id") -> r).toMap
    assert(rows(1L).getAs[String]("name") == "alpha")
    assert(rows(2L).getAs[Double]("score") == -0.25)
    assert(rows(2L).isNullAt(rows(2L).fieldIndex("opt"))) // absent prop stays null
    assert(rows(3L).getAs[Boolean]("flag"))
    assert(WKB.read(rows(2L).getAs[Array[Byte]]("geometry")) == Point(20.0, -2.0))
  }

  test("column projection: subset in file order, geometry skippable, splits agree") {
    val dir = tmpDir("proj")
    val df = Seq(
      (1L, "alpha", 2.5, Option("x")),
      (2L, "beta", -0.25, None),
      (3L, "gamma", 1e9, Option("z")))
      .toDF("id", "name", "score", "opt")
      .withColumn("geometry", st_point(col("id") * 10.0, col("id") * -1.0))
    Fgb.write(df, s"$dir/pts.fgb")
    // props only — the geometry decode (flatbuffer walk + WKB encode) skipped
    val noGeom = Fgb.read(spark, dir, columns = Seq("score", "id"))
    assert(noGeom.schema.fieldNames.toSeq == Seq("id", "score")) // file order
    assert(noGeom.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap ==
      Map(1L -> 2.5, 2L -> -0.25, 3L -> 1e9))
    // geometry + one prop; absent optional props stay out entirely
    val withGeom = Fgb.read(spark, dir, columns = Seq("geometry", "opt"))
    assert(withGeom.schema.fieldNames.toSeq == Seq("opt", "geometry"))
    val m = withGeom.collect().map(r =>
      WKB.read(r.getAs[Array[Byte]]("geometry")).asInstanceOf[Point].x -> r).toMap
    assert(m(10.0).getString(0) == "x" && m(20.0).isNullAt(0))
    // the projection holds across feature ranges
    val split = Fgb.read(spark, dir, featuresPerSplit = 2, columns = Seq("id", "name"))
    assert(split.schema.fieldNames.toSeq == Seq("id", "name"))
    assert(split.collect().map(r => r.getLong(0) -> r.getString(1)).toMap ==
      Map(1L -> "alpha", 2L -> "beta", 3L -> "gamma"))
    // unknown column fails loudly; filterWkt without geometry refused
    assert(intercept[IllegalArgumentException] {
      Fgb.read(spark, dir, columns = Seq("nope"))
    }.getMessage.contains("nope"))
    intercept[IllegalArgumentException] {
      Fgb.read(spark, dir, filterWkt = Some("POLYGON ((0 0, 1 0, 1 1, 0 0))"),
        columns = Seq("id"))
    }
  }

  test("fgb round-trip: every geometry type") {
    val wkts = Seq(
      "POINT (3 4)",
      "LINESTRING (0 0, 1 1, 2 0)",
      "MULTIPOINT (1 2, 3 4)",
      "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))",
      "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 2 1, 2 2, 1 2, 1 1))",
      "MULTILINESTRING ((0 0, 1 1), (2 2, 3 3))",
      "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), ((2 2, 3 2, 3 3, 2 3, 2 2)))",
      "GEOMETRYCOLLECTION (POINT (1 2), LINESTRING (0 0, 1 1))")
    wkts.zipWithIndex.foreach { case (wkt, i) =>
      val dir = tmpDir(s"g$i")
      val df = Seq((i.toLong, wkt)).toDF("id", "wkt")
        .select(col("id"), st_geomfromtext(col("wkt")).as("geometry"))
      Fgb.write(df, s"$dir/g.fgb")
      val got = Fgb.read(spark, dir).select(st_astext(col("geometry"))).head().getString(0)
      assert(got == wkt, s"geometry $i")
    }
  }

  test("fgb header: magic bytes, layer name, feature count, no index") {
    val dir = tmpDir("hdr")
    val df = (1 to 7).map(i => (i.toLong, s"r$i")).toDF("id", "name")
      .withColumn("geometry", st_point(col("id") * 1.0, lit(0.0)))
    Fgb.write(df, s"$dir/layer.fgb", layerName = "mylayer")
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$dir/layer.fgb"))
    // spec magic: fgb, version 3, fgb, patch 0
    assert(bytes.take(8).toSeq == Seq[Byte](0x66, 0x67, 0x62, 0x03, 0x66, 0x67, 0x62, 0x00))
    val (name, schema) = Fgb.schemaOf(bytes)
    assert(name == "mylayer")
    assert(schema.fieldNames.toSeq == Seq("id", "name", "geometry"))
    assert(Fgb.read(spark, dir).count() == 7)
  }

  test("fgb read skips a computed-size spatial index block") {
    // indexSize mirrors the flatbush packed R-tree layout: 40-byte nodes,
    // leaves + internal levels + root
    assert(Fgb.indexSize(0, 16) == 0)
    assert(Fgb.indexSize(1, 16) == 40)           // one leaf == the root
    assert(Fgb.indexSize(2, 16) == (2 + 1) * 40) // 2 leaves + root
    assert(Fgb.indexSize(16, 16) == (16 + 1) * 40)
    assert(Fgb.indexSize(17, 16) == (17 + 2 + 1) * 40)
    assert(Fgb.indexSize(300, 16) == (300 + 19 + 2 + 1) * 40)
  }

  test("fgb geometry filter on read") {
    val dir = tmpDir("filt")
    val df = (1 to 10).map(i => (i.toLong, i * 1.0)).toDF("id", "x")
      .select(col("id"), st_point(col("x"), lit(0.0)).as("geometry"))
    Fgb.write(df, s"$dir/f.fgb")
    val n = Fgb.read(spark, dir,
      filterWkt = Some("POLYGON ((0 -1, 4.5 -1, 4.5 1, 0 1, 0 -1))")).count()
    assert(n == 4)
  }

  test("feature ranges: many small splits read exactly what one split reads") {
    val dir = tmpDir("split")
    val df = (1 to 57).map(i => (i.toLong, s"row$i", i * 0.5)).toDF("id", "name", "score")
      .withColumn("geometry", st_point(col("id") * 1.0, col("id") * -0.5))
    Fgb.write(df, s"$dir/many.fgb")
    val ranges = Fgb.featureRanges(s"$dir/many.fgb", featuresPerSplit = 10)
    assert(ranges.size == 6, s"expected 6 ranges, got ${ranges.size}")
    assert(Fgb.featureRanges(s"$dir/many.fgb", featuresPerSplit = Int.MaxValue).size == 1)
    val whole = Fgb.read(spark, dir, featuresPerSplit = Int.MaxValue).orderBy("id").collect().toSeq
    val split = Fgb.read(spark, dir, featuresPerSplit = 10).orderBy("id").collect().toSeq
    assert(split == whole && split.size == 57)
  }

  test("cross-format parity: reference points fixture CSV -> fgb -> read") {
    val data = "/root/reference/tests/io/data"
    val csv = GeoSources.GeoCSV.read(spark, s"$data/points.csv", geometryCol = "WKT")
    val dir = tmpDir("xfmt")
    Fgb.write(csv.withColumnRenamed("WKT", "geometry"), s"$dir/points.fgb")
    val back = Fgb.read(spark, dir)
    assert(back.count() == csv.count())
    def xs(df: org.apache.spark.sql.DataFrame, g: String) =
      df.select(st_x(col(g))).as[Double].collect().map(x => math.rint(x * 1e9) / 1e9).sorted.toSeq
    assert(xs(back, "geometry") == xs(csv, "WKT"))
    // attributes survive with their values
    val names = back.columns.filterNot(_ == "geometry").toSet
    assert(names == csv.columns.filterNot(_ == "WKT").toSet)
  }

  test("writeSharded: one complete .fgb per partition + manifest; reads back as one frame") {
    val dir = tmpDir("shard")
    val df = (1 to 200).map(i => (i.toLong, s"row$i", i * 0.5)).toDF("id", "name", "score")
      .withColumn("geometry", st_point(col("id") * 1.0, col("id") * -0.5))
      .repartition(7)
    Fgb.writeSharded(df, dir)
    val shardFiles = new java.io.File(dir).listFiles().map(_.getName).sorted.toSeq
    assert(shardFiles.count(_.endsWith(".fgb")) == 7, s"got $shardFiles")
    assert(shardFiles.contains("_manifest.json"))
    val manifest = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_manifest.json")), "UTF-8")
    assert(manifest.contains("\"file\":\"part-00000.fgb\"") && manifest.contains("\"rows\":"))
    // the reader (and its earlier name) sees the union of shards, row-identical with the input
    val in = df.drop("geometry").orderBy("id").collect().toSeq
    assert(Fgb.read(spark, dir).drop("geometry").orderBy("id").collect().toSeq == in)
    assert(Fgb.readSplit(spark, dir).drop("geometry").orderBy("id").collect().toSeq == in)
    // each shard is a standalone valid fgb (magic + own header)
    val one = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, shardFiles.find(_.endsWith(".fgb")).get))
    assert(one(0) == 0x66 && one(1) == 0x67 && one(2) == 0x62) // "fgb"
    // no driver cap: geometry x-values survive per shard
    val xs = Fgb.read(spark, dir).select(st_x(col("geometry"))).as[Double].collect().sorted
    assert(xs.length == 200 && xs.head == 1.0 && xs.last == 200.0)
    // empty frame still leaves a schema-bearing shard
    val empty = df.where(col("id") < 0)
    val dir2 = tmpDir("shard-empty")
    Fgb.writeSharded(empty, dir2)
    assert(Fgb.read(spark, dir2).count() == 0)
    assert(Fgb.read(spark, dir2).columns.toSet == df.columns.toSet)
  }

  test("fgb write cap fails fast") {
    val df = (1 to 5).map(i => (i.toLong, i * 1.0)).toDF("id", "x")
      .select(col("id"), st_point(col("x"), lit(0.0)).as("geometry"))
    val dir = tmpDir("cap")
    val e = intercept[IllegalArgumentException] { Fgb.write(df, s"$dir/c.fgb", maxRows = 3) }
    assert(e.getMessage.contains("maxRows"))
  }
}
