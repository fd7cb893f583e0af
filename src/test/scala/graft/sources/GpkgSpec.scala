package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.functions.GeoFunctions._

class GpkgSpec extends AnyFunSuite with SparkSpec {

  import testImplicits._

  private val data = "/root/reference/tests/io/data"

  private def stage(name: String): String = {
    val dir = java.nio.file.Paths.get(tmpDir(s"graft-gpkg"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$data/$name"), dir.resolve(name))
    dir.toString
  }

  test("reads the reference points.gpkg and agrees with the CSV twin") {
    val gpkg = Gpkg.read(spark, stage("points.gpkg"))
    val csv = GeoSources.GeoCSV.read(spark, s"$data/points.csv", geometryCol = "WKT")
    assert(gpkg.count() == csv.count())
    def rounded(xs: Array[Double]) = xs.map(x => math.rint(x * 1e6) / 1e6).toSet
    val gPts = rounded(gpkg.select(st_x(col("geom"))).as[Double].collect())
    val cPts = rounded(csv.select(st_x(col("WKT"))).as[Double].collect())
    assert(gPts == cPts)
    // rowid-alias fid is materialized
    assert(gpkg.select("fid").as[Long].collect().toSet == (1L to gpkg.count()).toSet)
  }

  test("parseColumns keeps full declarations; rowid alias is INTEGER PRIMARY KEY only") {
    val cols = Gpkg.parseColumns(
      """CREATE TABLE "t" ("rank" INTEGER, "fid" INTEGER PRIMARY KEY AUTOINCREMENT,
        | "geom" POINT, "name" TEXT NOT NULL, CHECK (rank > 0))""".stripMargin)
    assert(cols.map(_._1) == Seq("rank", "fid", "geom", "name"))
    // a plain nullable INTEGER column before the fid must NOT be taken for the
    // rowid alias (its NULLs would silently be back-filled with the rowid)
    assert(cols.indexWhere(_._2.contains("INTEGER PRIMARY KEY")) == 1)
    assert(cols(0)._2 == "INTEGER")
  }

  test("reads lines.gpkg geometries with correct lengths") {
    val gpkg = Gpkg.read(spark, stage("lines.gpkg"))
    val csv = GeoSources.GeoCSV.read(spark, s"$data/lines.csv", geometryCol = "WKT")
    val gl = gpkg.select(st_length(col("geom"))).as[Double].collect().sorted
    val cl = csv.select(st_length(col("WKT"))).as[Double].collect().sorted
    assert(gl.length == cl.length)
    gl.zip(cl).foreach { case (a, b) => assert(math.abs(a - b) < 1e-6) }
  }

  test("multi-layer gpkg: layers listed, explicit selection required") {
    val dir = stage("multiple-layers.gpkg")
    val names = Gpkg.layers(spark, dir)
    assert(names.size > 1)
    intercept[IllegalArgumentException](Gpkg.read(spark, dir).count())
    val one = Gpkg.read(spark, dir, layer = Some(names.head))
    assert(one.count() > 0)
  }

  test("layer guessing matches the reference (test_stream_guess_layer)") {
    // single layer, name unlike the file → read it
    assert(Gpkg.read(spark, s"$data/layer-name-different.gpkg").count() > 0)
    // several layers, one named like the file's own name → guessed
    assert(Gpkg.read(spark, s"$data/guessable-layer.gpkg").count() > 0)
    assert(Gpkg.read(spark, s"$data/multiple-layers.gpkg").count() > 0)
    // several layers, none like the file name → error (explicit choice works)
    intercept[IllegalArgumentException](
      Gpkg.read(spark, s"$data/unguessable-layer.gpkg").count())
    assert(Gpkg.read(spark, s"$data/unguessable-layer.gpkg", layer = Some("layer1")).count() > 0)
  }

  test("multi-page table with overflow records: 3000 rows, interior b-tree pages") {
    val dir = java.nio.file.Paths.get(tmpDir("graft-gpkg-big"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("src/test/resources/big.gpkg"), dir.resolve("big.gpkg"))
    val df = Gpkg.read(spark, dir.toString)
    assert(df.count() == 3000)
    assert(df.select("fid").as[Long].collect().toSet == (1L to 3000L).toSet)
    // overflow-page texts come back intact
    val long = df.where(col("fid") === 500).select("name").as[String].head()
    assert(long.startsWith("row-00500-") && long.length > 2000)
    // values and geometry decode across all pages
    assert(df.agg(sum("val")).head().getDouble(0) == (1 to 3000).map(_ * 0.5).sum)
    val x = df.where(col("fid") === 101).select(st_x(col("geom"))).head().getDouble(0)
    assert(x == 1.5)
  }

  test("write → read round-trips values, geometry, and layer metadata") {
    val dir = tmpDir("graft-gpkg-w")
    val df = Seq(
      (1L, "alpha", 1.5, (2.0, 3.0)),
      (2L, "beta", -0.25, (-10.5, 47.25)),
      (3L, null.asInstanceOf[String], 99.0, (179.9, -89.9)))
      .toDF("k", "name", "score", "pt")
      .select(col("k"), col("name"), col("score"),
        st_point(col("pt._1"), col("pt._2")).as("geometry"))
    Gpkg.write(df, s"$dir/t.gpkg", layerName = "towns")
    assert(Gpkg.layers(spark, s"$dir/t.gpkg") == Seq("towns"))
    val back = Gpkg.read(spark, s"$dir/t.gpkg").orderBy("k")
    assert(back.columns.toSeq == Seq("fid", "k", "name", "score", "geometry"))
    val rows = back.select(col("fid"), col("k"), col("name"), col("score"),
      st_x(col("geometry")).as("x"), st_y(col("geometry")).as("y")).collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L)) // fid from rowid
    assert(rows.map(_.getLong(1)).toSeq == Seq(1L, 2L, 3L))
    assert(rows.map(r => Option(r.getString(2))).toSeq == Seq(Some("alpha"), Some("beta"), None))
    assert(rows.map(_.getDouble(3)).toSeq == Seq(1.5, -0.25, 99.0))
    assert(rows.map(_.getDouble(4)).toSeq == Seq(2.0, -10.5, 179.9))
    assert(rows.map(_.getDouble(5)).toSeq == Seq(3.0, 47.25, -89.9))
  }

  test("column projection: subset in file order, rowid alias kept, geometry skippable") {
    val dir = tmpDir("graft-gpkg-proj")
    val df = Seq(
      (1L, "alpha", 1.5, (2.0, 3.0)),
      (2L, "beta", -0.25, (-10.5, 47.25)))
      .toDF("k", "name", "score", "pt")
      .select(col("k"), col("name"), col("score"),
        st_point(col("pt._1"), col("pt._2")).as("geometry"))
    Gpkg.write(df, s"$dir/t.gpkg", layerName = "towns")
    // no geometry: the gpkg->WKB normalize never runs; order is file order
    val slim = Gpkg.read(spark, s"$dir/t.gpkg", columns = Seq("score", "k"))
    assert(slim.columns.toSeq == Seq("k", "score"))
    assert(slim.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap ==
      Map(1L -> 1.5, 2L -> -0.25))
    // the INTEGER PRIMARY KEY rowid alias still resolves when projected
    val fidOnly = Gpkg.read(spark, s"$dir/t.gpkg", columns = Seq("fid", "name"))
    assert(fidOnly.columns.toSeq == Seq("fid", "name"))
    assert(fidOnly.collect().map(r => r.getLong(0) -> r.getString(1)).toMap ==
      Map(1L -> "alpha", 2L -> "beta"))
    // geometry alone works too
    val geomOnly = Gpkg.read(spark, s"$dir/t.gpkg", columns = Seq("geometry"))
    assert(geomOnly.columns.toSeq == Seq("geometry"))
    assert(geomOnly.select(st_x(col("geometry"))).collect().map(_.getDouble(0)).toSet ==
      Set(2.0, -10.5))
    assert(intercept[IllegalArgumentException] {
      Gpkg.read(spark, s"$dir/t.gpkg", columns = Seq("nope"))
    }.getMessage.contains("nope"))
  }

  test("write scales: 5000 rows force interior pages; big blobs overflow") {
    val dir = tmpDir("graft-gpkg-w2")
    val big = (1 to 5000).map(i => (i.toLong, "x" * (i % 70), (i * 0.001, -i * 0.002)))
      .toDF("k", "pad", "pt")
      .select(col("k"), col("pad"), st_point(col("pt._1"), col("pt._2")).as("geometry"))
    Gpkg.write(big, s"$dir/big.gpkg")
    val back = Gpkg.read(spark, s"$dir/big.gpkg")
    assert(back.count() == 5000)
    assert(back.agg(sum("k")).head().getLong(0) == 5000L * 5001 / 2)
    // a single row whose record spans multiple overflow pages
    val wide = Seq((1L, "y" * 20000, (1.0, 2.0))).toDF("k", "pad", "pt")
      .select(col("k"), col("pad"), st_point(col("pt._1"), col("pt._2")).as("geometry"))
    Gpkg.write(wide, s"$dir/wide.gpkg")
    val w = Gpkg.read(spark, s"$dir/wide.gpkg").head()
    assert(w.getAs[String]("pad").length == 20000)
    assert(w.getAs[String]("pad").forall(_ == 'y'))
  }

  test("write supports boolean/float/short/timestamp/date/decimal columns") {
    val dir = tmpDir("graft-gpkg-w4")
    val df = Seq(
      (1L, true, 1.5f, java.sql.Timestamp.valueOf("2026-01-02 03:04:05"),
        java.sql.Date.valueOf("2026-01-02"), BigDecimal("12.75"), (1.0, 2.0)))
      .toDF("k", "flag", "ratio", "at", "day", "amount", "pt")
      .select(col("k"), col("flag"), col("ratio"), col("at"), col("day"),
        col("amount"), st_point(col("pt._1"), col("pt._2")).as("geometry"))
    Gpkg.write(df, s"$dir/typed.gpkg")
    val r = Gpkg.read(spark, s"$dir/typed.gpkg").head()
    assert(r.getAs[Long]("flag") == 1L) // INTEGER decl
    assert(math.abs(r.getAs[Double]("ratio") - 1.5) < 1e-6)
    assert(r.getAs[String]("at").startsWith("2026-01-02T03:04:05"))
    assert(r.getAs[String]("day") == "2026-01-02")
    assert(r.getAs[Double]("amount") == 12.75)
  }

  test("non-standard srid registers in gpkg_spatial_ref_sys; collections named per spec") {
    val dir = tmpDir("graft-gpkg-w5")
    val df = Seq((1L, (3.0, 4.0))).toDF("k", "pt")
      .select(col("k"), st_point(col("pt._1"), col("pt._2")).as("geometry"))
    Gpkg.write(df, s"$dir/m.gpkg", srid = 3857)
    // read the srs table back through the reader's own b-tree scanner: the
    // layer read must still work, and the referenced srs must exist
    assert(Gpkg.read(spark, s"$dir/m.gpkg").count() == 1)
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$dir/m.gpkg"))
    assert(new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1).contains("EPSG:3857"))
  }

  test("write rejects a frame that already carries a fid column") {
    // the writer prepends its own fid rowid alias; a second fid would make
    // CREATE TABLE carry duplicate column names and break read-back
    val dir = tmpDir("graft-gpkg-w6")
    val df = Seq((7L, (1.0, 2.0))).toDF("fid", "pt")
      .select(col("fid"), st_point(col("pt._1"), col("pt._2")).as("geometry"))
    val e = intercept[IllegalArgumentException] { Gpkg.write(df, s"$dir/f.gpkg") }
    assert(e.getMessage.contains("fid"))
  }

  test("writeAuto/readAuto dispatch .gpkg; header carries the GPKG tags") {
    val dir = tmpDir("graft-gpkg-w3")
    val df = Seq((7L, (5.0, 6.0))).toDF("k", "pt")
      .select(col("k"), st_point(col("pt._1"), col("pt._2")).as("geometry"))
    GeoSources.writeAuto(df, s"$dir/auto.gpkg")
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$dir/auto.gpkg"))
    assert(new String(bytes, 0, 15, java.nio.charset.StandardCharsets.US_ASCII) == "SQLite format 3")
    def be32(o: Int) = ((bytes(o) & 0xff) << 24) | ((bytes(o + 1) & 0xff) << 16) |
      ((bytes(o + 2) & 0xff) << 8) | (bytes(o + 3) & 0xff)
    assert(be32(68) == 0x47504B47) // application_id "GPKG"
    assert(be32(60) == 10200) // user_version: GeoPackage 1.2
    assert(bytes.length % 4096 == 0 && be32(28) * 4096 == bytes.length)
    val back = GeoSources.readAuto(spark, s"$dir/auto.gpkg")
    assert(back.select(st_x(col("geometry"))).head().getDouble(0) == 5.0)
  }

  test("multi-layer file: writeLayers + :layer suffix addressing (erde gpkg.py PATH_REGEXP)") {
    val dir = tmpDir("graft-gpkg-ml")
    val towns = Seq((1L, "a", (1.0, 2.0)), (2L, "b", (3.0, 4.0))).toDF("k", "name", "pt")
      .select(col("k"), col("name"), st_point(col("pt._1"), col("pt._2")).as("geometry"))
    val roads = Seq((10L, 7.5, (5.0, 6.0))).toDF("rk", "len", "pt")
      .select(col("rk"), col("len"), st_point(col("pt._1"), col("pt._2")).as("geometry"))
    Gpkg.writeLayers(Seq("towns" -> towns, "roads" -> roads), s"$dir/ml.gpkg")
    assert(Gpkg.layers(spark, s"$dir/ml.gpkg") == Seq("towns", "roads"))
    // un-suffixed read of a multi-layer file must demand a layer choice
    intercept[IllegalArgumentException](Gpkg.read(spark, s"$dir/ml.gpkg").count())
    val t = GeoSources.readAuto(spark, s"$dir/ml.gpkg:towns")
    assert(t.count() == 2 && t.columns.contains("name"))
    val r = GeoSources.readAuto(spark, s"$dir/ml.gpkg:roads")
    assert(r.count() == 1 && r.select("len").head().getDouble(0) == 7.5)
    assert(r.select(st_x(col("geometry"))).head().getDouble(0) == 5.0)
    // write through the suffix names the layer
    GeoSources.writeAuto(towns, s"$dir/named.gpkg:settlements")
    assert(Gpkg.layers(spark, s"$dir/named.gpkg") == Seq("settlements"))
    assert(GeoSources.readAuto(spark, s"$dir/named.gpkg:settlements").count() == 2)
  }

  test("stats replicates the reference's per-column sqlite statistics (stats.gpkg)") {
    // reference GpkgReader.stats (gpkg.py:105): min/avg/max/sum((x-avg)²)/n/
    // count for columns DECLARED INTEGER or REAL only — fid and real_field
    // here; MEDIUMINT/TEXT/geometry rows carry just (name, type)
    val dir = stage("stats.gpkg")
    val st = Gpkg.stats(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(st.keySet == Set("fid", "geom", "int_field", "real_field", "name"))
    assert(st("int_field").getString(1) == "MEDIUMINT" && st("int_field").isNullAt(2))
    assert(st("name").getString(1) == "TEXT" && st("name").isNullAt(6))
    assert(st("geom").getString(1) == "POINT")

    // independent expected values: driver-side math over the read rows
    val rows = Gpkg.read(spark, dir).select("fid", "real_field").collect()
    for ((cName, vals) <- Seq(
        "fid" -> rows.map(_.getLong(0).toDouble),
        "real_field" -> rows.flatMap(r => if (r.isNullAt(1)) None else Some(r.getDouble(1))))) {
      val r = st(cName)
      val mean = vals.sum / vals.length
      val varPop = vals.map(v => (v - mean) * (v - mean)).sum / vals.length
      assert(math.abs(r.getDouble(2) - vals.min) < 1e-9, s"$cName min")
      assert(math.abs(r.getDouble(3) - mean) < 1e-9, s"$cName mean")
      assert(math.abs(r.getDouble(4) - vals.max) < 1e-9, s"$cName max")
      assert(math.abs(r.getDouble(5) - varPop) < 1e-6, s"$cName variance")
      assert(r.getLong(6) == vals.length, s"$cName count")
    }
  }

  test("polygons.gpkg parses areal geometries") {
    val gpkg = Gpkg.read(spark, stage("polygons.gpkg"))
    val areas = gpkg.select(st_area(gpkg.columns.filter(c =>
      gpkg.schema(c).dataType.typeName == "binary").headOption.map(col)
      .getOrElse(col("geom")))).as[Double].collect()
    assert(areas.nonEmpty && areas.forall(_ > 0))
  }

  test("writeSharded: one standalone single-layer gpkg per partition + manifest; reads back as one frame") {
    val dir = tmpDir("graft-gpkg-shard")
    val df = (1 to 200).map(i => (i.toLong, s"row$i", i * 0.5)).toDF("k", "name", "score")
      .withColumn("geometry", st_point(col("k") * 1.0, col("k") * -0.5))
      .repartition(7)
    Gpkg.writeSharded(df, dir, layerName = "towns")
    val names = new java.io.File(dir).listFiles().map(_.getName).sorted.toSeq
    assert(names.count(_.endsWith(".gpkg")) == 7, s"got $names")
    assert(names.contains("_manifest.json"))
    val manifest = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_manifest.json")), "UTF-8")
    assert(manifest.contains("\"layer\":\"towns\"") && manifest.contains("\"file\":\"part-00000.gpkg\""))
    // read over the shard dir sees the union, row-identical with the input
    val back = Gpkg.read(spark, dir).orderBy("k")
    assert(back.count() == 200)
    assert(back.select("k", "name", "score").collect().toSeq ==
      df.select("k", "name", "score").orderBy("k").collect().toSeq)
    val xs = back.select(st_x(col("geometry"))).as[Double].collect().sorted
    assert(xs.length == 200 && xs.head == 1.0 && xs.last == 200.0)
    // each shard is a standalone valid gpkg: own metadata trio + layer
    val one = s"$dir/${names.find(_.endsWith(".gpkg")).get}"
    assert(Gpkg.layers(spark, one) == Seq("towns"))
    assert(Gpkg.read(spark, one).columns.toSet == Set("fid", "k", "name", "score", "geometry"))
    // empty frame still leaves a schema-bearing shard
    val dir2 = tmpDir("graft-gpkg-shard-empty")
    Gpkg.writeSharded(df.where(col("k") < 0), dir2, layerName = "towns")
    val back2 = Gpkg.read(spark, dir2)
    assert(back2.count() == 0 && back2.columns.contains("geometry"))
  }

  test("read, layers and stats share the SQLite file guard: no match and the size cap fail loud") {
    val none = tmpDir("graft-gpkg-none")
    Seq[() => Any](() => Gpkg.read(spark, none), () => Gpkg.layers(spark, none),
        () => Gpkg.stats(spark, none)).foreach { call =>
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains(none), e.getMessage)
    }
    val dir = tmpDir("graft-gpkg-cap")
    val df = Seq((1L, 2.0, 3.0)).toDF("k", "x", "y")
      .select(col("k"), st_point(col("x"), col("y")).as("geometry"))
    Gpkg.write(df, s"$dir/t.gpkg")
    val cap = SqliteDb.maxFileBytes
    SqliteDb.maxFileBytes = 100
    try {
      val e = intercept[IllegalArgumentException](Gpkg.read(spark, dir))
      assert(e.getMessage.contains("SqliteDb.maxFileBytes"), e.getMessage)
    } finally SqliteDb.maxFileBytes = cap
    assert(Gpkg.read(spark, dir).count() == 1)
  }
}
