package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

class JsonlSpec extends AnyFunSuite with SparkSpec {
  import testImplicits._

  test("non-geo frame round-trips values and sharding fixes the file count") {
    val df = (1L to 100L).map(i => (i, s"text $i", i * 0.5)).toDF("id", "t", "v")
    val path = tmpDir("plain") + "/data.jsonl"
    Jsonl.write(df, path, shards = 4)
    val parts = new java.io.File(path).listFiles().count(_.getName.startsWith("part-"))
    assert(parts == 4)
    val schema = StructType(Seq(StructField("id", LongType), StructField("t", StringType),
      StructField("v", DoubleType)))
    val back = Jsonl.read(spark, path, Some(schema))
    assert(back.count() == 100)
    assert(back.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
      == df.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet)
  }

  test("WKB geometry travels as WKT text and parses back") {
    import graft.functions.GeoFunctions._
    val df = Seq((1L, 2.5, 3.5), (2L, -1.0, 0.25)).toDF("id", "x", "y")
      .withColumn("geometry", st_point(col("x"), col("y"))).drop("x", "y")
    val path = tmpDir("geo") + "/pts.jsonl"
    Jsonl.write(df, path)
    // on disk it is readable text JSON with a WKT geometry field
    val raw = spark.read.json(path)
    assert(raw.schema("geometry").dataType == StringType)
    assert(raw.where(col("geometry").startsWith("POINT")).count() == 2)
    val back = Jsonl.read(spark, path)
    val pts = back.select(col("id"), st_x(col("geometry")), st_y(col("geometry")))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSet
    assert(pts == Set((1L, 2.5, 3.5), (2L, -1.0, 0.25)))
  }

  test("readAuto/writeAuto dispatch .jsonl (and .geojsonl still wins)") {
    val df = Seq((7L, "a")).toDF("id", "s")
    val p = tmpDir("auto") + "/d.jsonl"
    GeoSources.writeAuto(df, p)
    val back = GeoSources.readAuto(spark, p)
    assert(back.select("id", "s").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      == Seq((7L, "a")))
  }
}
