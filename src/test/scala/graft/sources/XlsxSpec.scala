package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.functions.GeoFunctions._

class XlsxSpec extends AnyFunSuite with SparkSpec {

  import testImplicits._

  test("reads the reference points.ods and agrees with the CSV twin") {
    val dir = java.nio.file.Paths.get(tmpDir("graft-ods"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/reference/tests/io/data/points.ods"),
      dir.resolve("points.ods"))
    val ods = Xlsx.readOds(spark, dir.toString)
      .withColumn("geometry", st_try_geomfromtext(col("WKT")))
    val csv = GeoSources.GeoCSV.read(spark, "/root/reference/tests/io/data/points.csv",
      geometryCol = "WKT")
    assert(ods.where(col("geometry").isNotNull).count()
      == csv.where(col("WKT").isNotNull).count())
    assert(ods.columns.take(2).toSeq == Seq("WKT", "fid"))
  }

  test("reads the reference points.xlsx and agrees with the CSV twin") {
    val dir = java.nio.file.Paths.get(tmpDir("graft-xlsx"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/reference/tests/io/data/points.xlsx"),
      dir.resolve("points.xlsx"))
    val xlsx = Xlsx.read(spark, dir.toString)
      .withColumn("geometry", st_try_geomfromtext(col("WKT")))
    val csv = GeoSources.GeoCSV.read(spark, "/root/reference/tests/io/data/points.csv",
      geometryCol = "WKT")
    assert(xlsx.count() == csv.count())
    def pts(xs: Array[Double]) = xs.map(x => math.rint(x * 1e6) / 1e6).toSet
    assert(pts(xlsx.where(col("geometry").isNotNull)
        .select(st_x(col("geometry"))).as[Double].collect())
      == pts(csv.select(st_x(col("WKT"))).as[Double].collect()))
    assert(xlsx.columns.take(3).toSeq == Seq("WKT", "fid", "number"))
  }

  test("typed columns: numeric xlsx/ods columns come back long/double like the CSV twin") {
    val dir = java.nio.file.Paths.get(tmpDir("graft-xlsx-t"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/reference/tests/io/data/points.xlsx"),
      dir.resolve("points.xlsx"))
    val xlsx = Xlsx.read(spark, dir.toString)
    val csv = spark.read.option("header", "true").option("inferSchema", "true")
      .csv("/root/reference/tests/io/data/points.csv")
    def typesOf(df: org.apache.spark.sql.DataFrame) =
      df.schema.fields.map(f => f.name -> f.dataType.typeName).toMap
    val xt = typesOf(xlsx); val ct = typesOf(csv)
    // numeric columns must agree with csv inferSchema; WKT stays string
    assert(xt("WKT") == "string")
    Seq("fid", "number").foreach { c =>
      assert(Set("long", "integer", "double")(xt(c)), s"$c: ${xt(c)}")
      val widen = Map("integer" -> "long") // csv infers int where we use long
      assert(widen.getOrElse(ct(c), ct(c)) == xt(c), s"$c: xlsx ${xt(c)} vs csv ${ct(c)}")
    }
    // values survive the cast
    assert(xlsx.agg(sum("fid")).head().getLong(0)
      == csv.agg(sum("fid")).head().getLong(0))
    // inference is opt-out
    assert(Xlsx.read(spark, dir.toString, inferSchema = false)
      .schema.fields.forall(_.dataType.typeName == "string"))
  }

  test("sheet addressed by user-visible name through workbook.xml") {
    val dir = java.nio.file.Paths.get(tmpDir("graft-xlsx-s"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/reference/tests/io/data/points.xlsx"),
      dir.resolve("points.xlsx"))
    // Calc names the sheet "points" but stores it as worksheets/sheet1.xml —
    // the name must resolve through workbook.xml + rels
    val byName = Xlsx.read(spark, dir.toString, sheet = Some("points"))
    assert(byName.count() == Xlsx.read(spark, dir.toString).count())
    val err = intercept[IllegalArgumentException] {
      Xlsx.read(spark, dir.toString, sheet = Some("nope"))
    }
    assert(err.getMessage.contains("points"))
    // and through the readAuto :sheet path suffix
    val auto = GeoSources.readAuto(spark, s"$dir/points.xlsx:points")
    assert(auto.count() == byName.count())
  }

  test("a later file breaking the inferred type nulls out (ANSI-safe), not crash") {
    // minimal xlsx: one worksheet part, inline strings (no workbook/rels —
    // the single-sheet fallback path)
    def mkXlsx(dir: java.nio.file.Path, name: String, rows: Seq[Seq[String]]): Unit = {
      val sb = new StringBuilder("<worksheet>")
      rows.zipWithIndex.foreach { case (r, i) =>
        sb ++= s"""<row r="${i + 1}">"""
        r.zipWithIndex.foreach { case (v, j) =>
          sb ++= s"""<c r="${('A' + j).toChar}${i + 1}" t="inlineStr"><is><t>$v</t></is></c>"""
        }
        sb ++= "</row>"
      }
      sb ++= "</worksheet>"
      val zos = new java.util.zip.ZipOutputStream(
        new java.io.FileOutputStream(dir.resolve(name).toFile))
      zos.putNextEntry(new java.util.zip.ZipEntry("xl/worksheets/sheet1.xml"))
      zos.write(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      zos.closeEntry(); zos.close()
    }
    val dir = java.nio.file.Paths.get(tmpDir("graft-xlsx-ansi"))
    // a.xlsx strictly larger: the sample file is Spark's first-listed
    // (size-descending bin packing), so size decides which file infers
    mkXlsx(dir, "a.xlsx", Seq("x") +: (1 to 12).map(i => Seq(i.toString)))
    mkXlsx(dir, "b.xlsx", Seq(Seq("x"), Seq("oops"), Seq("")))
    val df = Xlsx.read(spark, dir.toString)
    assert(df.schema("x").dataType.typeName == "long") // inferred from a.xlsx
    // b.xlsx's non-numeric and empty cells null out instead of throwing
    // under Spark 4's default ANSI mode
    val got = df.collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0))).toSeq
    assert(got.flatten.sorted == (1L to 12L))
    assert(got.count(_.isEmpty) == 2)
  }

  test("ods: sheet by name selects ONE table; multi-table docs don't bleed") {
    def cell(v: String) = s"<table:table-cell><text:p>$v</text:p></table:table-cell>"
    def row(vs: String*) = s"<table:table-row>${vs.map(cell).mkString}</table:table-row>"
    def table(name: String, rows: String) = s"""<table:table table:name="$name">$rows</table:table>"""
    val content =
      "<office:document-content>" +
        table("first", row("x") + row("1") + row("2")) +
        table("second", row("y") + row("9")) +
      "</office:document-content>"
    val dir = java.nio.file.Paths.get(tmpDir("graft-ods-multi"))
    val zos = new java.util.zip.ZipOutputStream(
      new java.io.FileOutputStream(dir.resolve("m.ods").toFile))
    zos.putNextEntry(new java.util.zip.ZipEntry("content.xml"))
    zos.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    zos.closeEntry(); zos.close()

    // no :sheet suffix = LAST sheet, the reference's popitem() behavior
    val dflt = Xlsx.readOds(spark, dir.toString)
    assert(dflt.columns.toSeq == Seq("y"))
    assert(dflt.collect().map(_.getLong(0)).toSeq == Seq(9L))
    val first = Xlsx.readOds(spark, dir.toString, sheet = Some("first"))
    assert(first.columns.toSeq == Seq("x") && first.count() == 2) // no bleed from "second"
    assert(first.schema("x").dataType.typeName == "long")
    val second = Xlsx.readOds(spark, dir.toString, sheet = Some("second"))
    assert(second.columns.toSeq == Seq("y"))
    assert(second.collect().map(_.getLong(0)).toSeq == Seq(9L))
    // suffix dispatch reaches the same selection
    assert(GeoSources.readAuto(spark, s"$dir/m.ods:second").count() == 1)
    val err = intercept[IllegalArgumentException] {
      Xlsx.readOds(spark, dir.toString, sheet = Some("nope"))
    }
    assert(err.getMessage.contains("first") && err.getMessage.contains("second"))
  }

  test("inferType: narrowest of long/double/boolean/string") {
    import org.apache.spark.sql.types._
    assert(Xlsx.inferType(Seq("1", "2", null)) == LongType)
    assert(Xlsx.inferType(Seq("1", "2.5")) == DoubleType)
    assert(Xlsx.inferType(Seq("true", "FALSE", "")) == BooleanType)
    assert(Xlsx.inferType(Seq("1", "x")) == StringType)
    assert(Xlsx.inferType(Seq(null, "")) == StringType)
  }

  test("write → read roundtrip: typed columns, nulls, XML-special strings") {
    import org.apache.spark.sql.types._
    val df = Seq(
      (1L, 2.5, true, "héllo <&> \"q\""),
      (2L, -0.25, false, "line1\nline2"),
      (3L, 1.0e7, true, null.asInstanceOf[String]))
      .toDF("id", "x", "flag", "s")
    val dir = tmpDir("graft-xlsxw")
    Xlsx.write(df, s"$dir/t.xlsx")
    val back = Xlsx.read(spark, s"$dir/t.xlsx")
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq == Seq(
      ("id", LongType), ("x", DoubleType), ("flag", BooleanType), ("s", StringType)))
    val m = back.collect().map(r => r.getLong(0) -> r).toMap
    assert(m(1L).getDouble(1) == 2.5 && m(1L).getBoolean(2))
    assert(m(1L).getString(3) == "héllo <&> \"q\"")
    assert(m(2L).getString(3) == "line1\nline2" && !m(2L).getBoolean(2))
    assert(m(3L).getDouble(1) == 1.0e7 && m(3L).isNullAt(3))
    // sheet addressed by its written name; a missing sheet fails loudly
    assert(Xlsx.read(spark, s"$dir/t.xlsx", sheet = Some("Sheet1")).count() == 3)
    intercept[IllegalArgumentException] {
      Xlsx.read(spark, s"$dir/t.xlsx", sheet = Some("nope")).count()
    }
  }

  test("sharded write: one workbook per partition, read back as one frame") {
    val df = spark.range(500)
      .select(col("id"), (col("id") % 7).cast("double").as("v")).repartition(4)
    val dir = tmpDir("graft-xlsxs")
    Xlsx.writeSharded(df, dir)
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".xlsx"))
    assert(files.length == 4)
    val back = Xlsx.read(spark, dir)
    assert(back.count() == 500)
    assert(back.agg(sum("id")).head().getLong(0) == (0L until 500L).sum)
    // an all-empty frame keeps the header-only schema
    val empty = tmpDir("graft-xlsxe")
    Xlsx.writeSharded(df.limit(0), empty)
    val eb = Xlsx.read(spark, empty)
    assert(eb.count() == 0 && eb.schema.fieldNames.toSeq == Seq("id", "v"))
  }

  test("write guards: row cap fails fast, complex types reject") {
    val dir = tmpDir("graft-xlsxg")
    val df = spark.range(20).toDF("id")
    intercept[IllegalArgumentException] {
      Xlsx.write(df, s"$dir/cap.xlsx", maxRows = 10)
    }
    Xlsx.write(df, s"$dir/ok.xlsx", maxRows = 20) // at the cap: fine
    intercept[IllegalArgumentException] {
      Xlsx.write(spark.range(2).select(array(col("id")).as("xs")), s"$dir/arr.xlsx")
    }
  }

  test("ods write → read roundtrip: typed columns, nulls, sharding, auto dispatch") {
    import org.apache.spark.sql.types._
    val df = Seq(
      (1L, 2.5, true, "héllo <&> ods"),
      (2L, -0.25, false, null.asInstanceOf[String]))
      .toDF("id", "x", "flag", "s")
    val dir = tmpDir("graft-odsw")
    Xlsx.writeOds(df, s"$dir/t.ods")
    val back = Xlsx.readOds(spark, s"$dir/t.ods")
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq == Seq(
      ("id", LongType), ("x", DoubleType), ("flag", BooleanType), ("s", StringType)))
    val m = back.collect().map(r => r.getLong(0) -> r).toMap
    assert(m(1L).getDouble(1) == 2.5 && m(1L).getBoolean(2) &&
      m(1L).getString(3) == "héllo <&> ods")
    assert(!m(2L).getBoolean(2) && m(2L).isNullAt(3))
    // the mimetype entry leads the package STORED — the OpenDocument magic
    val zf = new java.util.zip.ZipFile(s"$dir/t.ods")
    try {
      val first = zf.entries().nextElement()
      assert(first.getName == "mimetype" &&
        first.getMethod == java.util.zip.ZipEntry.STORED)
    } finally zf.close()
    // sharded twin reads back as one frame
    val sdir = tmpDir("graft-odss")
    Xlsx.writeShardedOds(spark.range(100).toDF("id").repartition(3), sdir)
    assert(Xlsx.readOds(spark, sdir).count() == 100)
    // auto dispatch with WKT geometry
    val pts = Seq((1L, 2.0, 3.0)).toDF("id", "x", "y")
      .select(col("id"), st_aswkb(st_point(col("x"), col("y"))).as("geometry"))
    GeoSources.writeAuto(pts, s"$dir/pts.ods")
    val g = GeoSources.readAuto(spark, s"$dir/pts.ods")
    assert(g.select(st_x(col("geometry"))).head().getDouble(0) == 2.0)
  }

  test("writeAuto xlsx: geometry rides as WKT and parses back") {
    val pts = Seq((1L, 2.0, 3.0), (2L, -4.5, 0.25)).toDF("id", "x", "y")
      .select(col("id"), st_aswkb(st_point(col("x"), col("y"))).as("geometry"))
    val dir = tmpDir("graft-xlsxgeo")
    GeoSources.writeAuto(pts, s"$dir/pts.xlsx")
    val back = GeoSources.readAuto(spark, s"$dir/pts.xlsx")
    val xs = back.select(col("id"), st_x(col("geometry")).as("px")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(xs == Map(1L -> 2.0, 2L -> -4.5))
  }
}
