package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.functions.GeoFunctions._

/** One spec over every sharded writer: they all share the [[Shards]]
  * layout (one shard per non-empty partition, a manifest, a schema-bearing
  * shard for an empty frame) and refuse a directory holding an earlier
  * write; their readers fail loud on a directory with no file of theirs.
  */
class ShardsSpec extends AnyFunSuite with SparkSpec {

  private case class Writer(name: String, ext: String, geo: Boolean,
      write: (DataFrame, String) => Unit, read: (SparkSession, String) => DataFrame,
      osm: Boolean = false)

  private val writers = Seq(
    Writer("fgb", "fgb", geo = true, Fgb.writeSharded(_, _), Fgb.read(_, _)),
    Writer("gpkg", "gpkg", geo = true, Gpkg.writeSharded(_, _), Gpkg.read(_, _)),
    Writer("shp", "shp", geo = true, Shapefile.writeSharded(_, _), Shapefile.read(_, _)),
    Writer("osm.pbf", "osm.pbf", geo = false, OsmPbf.writeSharded(_, _), OsmPbf.read,
      osm = true),
    Writer("sqlite", "sqlite", geo = false, SqliteDb.writeSharded(_, _), SqliteDb.read(_, _)),
    Writer("xlsx", "xlsx", geo = false, Xlsx.writeSharded(_, _), Xlsx.read(_, _)),
    Writer("ods", "ods", geo = false, Xlsx.writeShardedOds(_, _), Xlsx.readOds(_, _)),
    Writer("avro", "avro", geo = false, Avro.write(_, _), Avro.read(_, _)),
    Writer("arrow", "arrow", geo = false, ArrowIpc.write(_, _), ArrowIpc.read(_, _)),
    Writer("arrows", "arrows", geo = false, ArrowIpc.writeArrows(_, _),
      ArrowIpc.readArrows(_, _)))

  /** 50 rows over 7 partitions, partitions 2 and 5 empty. */
  private def frame(w: Writer): DataFrame = {
    val ids = spark.sparkContext.parallelize(0 until 7, 7)
      .flatMap(p => if (p == 2 || p == 5) Nil else (0 until 10).map(j => p * 10L + j))
    if (w.osm)
      spark.createDataFrame(ids.map(i =>
        Row("n", i, Map("name" -> s"row$i"), i * 0.01, -i * 0.01, null, null, null)),
        OsmPbf.schema)
    else {
      val df = spark.createDataFrame(ids.map(i => Row(i, s"row$i")),
        StructType(Seq(StructField("id", LongType), StructField("name", StringType))))
      if (w.geo) df.withColumn("geometry", st_point(col("id") * 1.0, col("id") * -0.5)) else df
    }
  }

  /** (id, name) of every row as strings — each format types its columns its own way. */
  private def rowsOf(w: Writer, df: DataFrame): Seq[(String, String)] = {
    val name: Column = if (w.osm) element_at(col("tags"), "name") else col("name")
    df.select(col("id").cast("double").cast("long").cast("string"), name.cast("string"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq.sorted
  }

  private def manifest(dir: String): String =
    new String(Files.readAllBytes(Paths.get(dir, "_manifest.json")), "UTF-8")

  private def shardFiles(dir: String, ext: String): Seq[String] =
    new java.io.File(dir).listFiles().map(_.getName).filter(_.endsWith(s".$ext")).sorted.toSeq

  for (w <- writers) {
    test(s"${w.name}: one shard per non-empty partition, listed in the manifest with row counts") {
      val dir = tmpDir(s"${w.name}-layout")
      w.write(frame(w), dir)
      val shards = shardFiles(dir, w.ext)
      assert(shards == Seq(0, 1, 3, 4, 6).map(i => f"part-$i%05d.${w.ext}"))
      val m = manifest(dir)
      val listed = """"file":"([^"]+)","rows":(\d+)""".r.findAllMatchIn(m)
        .map(x => x.group(1) -> x.group(2).toLong).toSeq
      assert(listed.map(_._1) == shards, m)
      assert(listed.map(_._2).sum == 50L, m)
    }

    test(s"${w.name}: the shard set reads back row-identical to the input") {
      val dir = tmpDir(s"${w.name}-rows")
      val df = frame(w)
      w.write(df, dir)
      assert(rowsOf(w, w.read(spark, dir)) == rowsOf(w, df))
    }

    test(s"${w.name}: an empty frame writes one shard whose schema reads back") {
      val dir = tmpDir(s"${w.name}-empty")
      val df = frame(w).where(lit(false))
      w.write(df, dir)
      assert(shardFiles(dir, w.ext) == Seq(s"part-00000.${w.ext}"))
      assert(manifest(dir).contains(s""""file":"part-00000.${w.ext}","rows":0"""))
      val back = w.read(spark, dir)
      assert(back.count() == 0)
      assert(df.columns.toSet.subsetOf(back.columns.toSet), back.columns.mkString(","))
    }

    test(s"${w.name}: a second write into the same directory fails and names it") {
      val dir = tmpDir(s"${w.name}-twice")
      val df = frame(w)
      w.write(df, dir)
      val before = new java.io.File(dir).listFiles().map(f => f.getName -> f.length).toMap
      val e = intercept[IllegalArgumentException] { w.write(df.where(col("id") < 10), dir) }
      assert(e.getMessage.contains(dir), e.getMessage)
      assert(new java.io.File(dir).listFiles().map(f => f.getName -> f.length).toMap == before)
      assert(rowsOf(w, w.read(spark, dir)) == rowsOf(w, df))
    }

    test(s"${w.name}: a directory with no .${w.ext} file fails with IllegalArgumentException naming it") {
      val dir = tmpDir(s"${w.name}-none")
      Files.write(Paths.get(dir, "other.txt"), "not a shard".getBytes("UTF-8"))
      val e = intercept[IllegalArgumentException] { w.read(spark, dir).collect() }
      assert(e.getMessage.contains(dir), e.getMessage)
    }
  }
}
