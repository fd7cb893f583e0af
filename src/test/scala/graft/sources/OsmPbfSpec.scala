package graft.sources

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.operators.OsmFilter

class OsmPbfSpec extends AnyFunSuite with SparkSpec {

  import testImplicits._

  private def elementsDf(rows: Seq[Row]) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), OsmPbf.schema)

  private val elements = Seq(
    Row("n", 1L, Map("amenity" -> "cafe", "name" -> "Crema"), 13.3777, 52.5163, null, null, null),
    Row("n", 2L, Map.empty[String, String], -0.1276, 51.5072, null, null, null),
    Row("n", 5L, Map("highway" -> "crossing"), 2.3522, 48.8566, null, null, null),
    Row("w", 10L, Map("highway" -> "primary", "name" -> "Main St"), null, null, Seq(1L, 2L, 5L), null, null),
    Row("w", 11L, Map("building" -> "yes"), null, null, Seq(5L, 2L), null, null),
    Row("r", 20L, Map("type" -> "route", "route" -> "bus"), null, null, Seq(10L, 11L),
      Seq("w", "w"), Seq("forward", "")))

  test("osm.pbf round-trip: dense nodes, ways, relations, tags, coords") {
    val dir = tmpDir("rt")
    OsmPbf.write(elementsDf(elements), s"$dir/map.osm.pbf")
    val back = OsmPbf.read(spark, dir)
    assert(back.schema == OsmPbf.schema)
    val rows = back.collect().map(r => (r.getString(0), r.getLong(1)) -> r).toMap
    assert(rows.size == 6)
    val cafe = rows(("n", 1L))
    assert(cafe.getAs[Map[String, String]]("tags") == Map("amenity" -> "cafe", "name" -> "Crema"))
    // granularity 100 nano-degrees => 1e-7 degree exactness
    assert(math.abs(cafe.getAs[Double]("lon") - 13.3777) < 1e-7)
    assert(math.abs(cafe.getAs[Double]("lat") - 52.5163) < 1e-7)
    assert(rows(("n", 2L)).getAs[Map[String, String]]("tags").isEmpty)
    val way = rows(("w", 10L))
    assert(way.getSeq[Long](way.fieldIndex("refs")) == Seq(1L, 2L, 5L))
    assert(way.isNullAt(way.fieldIndex("lon")))
    val rel = rows(("r", 20L))
    assert(rel.getAs[Map[String, String]]("tags")("route") == "bus")
    assert(rel.getSeq[Long](rel.fieldIndex("refs")) == Seq(10L, 11L))
    assert(rel.getSeq[String](rel.fieldIndex("member_types")) == Seq("w", "w"))
    assert(rel.getSeq[String](rel.fieldIndex("member_roles")) == Seq("forward", ""))
    // ways/nodes carry no member columns
    assert(way.isNullAt(way.fieldIndex("member_types")))
    assert(cafe.isNullAt(cafe.fieldIndex("member_roles")))
  }

  test("osm.pbf file structure: framed blobs, zlib block, header blob") {
    val dir = tmpDir("frame")
    OsmPbf.write(elementsDf(elements), s"$dir/map.osm.pbf")
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$dir/map.osm.pbf"))
    // first frame: 4-byte BE length then a BlobHeader whose type is OSMHeader
    val hlen = ((bytes(0) & 0xff) << 24) | ((bytes(1) & 0xff) << 16) | ((bytes(2) & 0xff) << 8) | (bytes(3) & 0xff)
    val header = new String(bytes, 4, hlen, "ISO-8859-1")
    assert(header.contains("OSMHeader"))
    assert(new String(bytes, "ISO-8859-1").contains("OSMData"))
  }

  test("negative coordinates and ids survive the zigzag delta coding") {
    val rows = Seq(
      Row("n", 100L, Map.empty[String, String], -179.9999999, -89.9999999, null, null, null),
      Row("n", 101L, Map.empty[String, String], 179.9999999, 89.9999999, null, null, null),
      Row("n", 102L, Map.empty[String, String], -0.0000001, 0.0000001, null, null, null))
    val dir = tmpDir("neg")
    OsmPbf.write(elementsDf(rows), s"$dir/neg.osm.pbf")
    val back = OsmPbf.read(spark, dir).orderBy("id").collect()
    assert(math.abs(back(0).getAs[Double]("lon") + 179.9999999) < 1e-7)
    assert(math.abs(back(1).getAs[Double]("lat") - 89.9999999) < 1e-7)
    assert(math.abs(back(2).getAs[Double]("lon") + 0.0000001) < 1e-7)
  }

  test("tag filter runs end-to-end on a pbf file (erde osm semantics)") {
    val dir = tmpDir("filter")
    OsmPbf.write(elementsDf(elements), s"$dir/map.osm.pbf")
    val parsed = OsmPbf.read(spark, dir)
    val roads = OsmFilter.tagFilter(parsed, Seq("wr/highway=primary"))
      .select("id").as[Long].collect().toSet
    assert(roads == Set(10L))
    val nodesWithTags = OsmFilter.tagFilter(parsed, Seq("n/amenity"))
      .select("id").as[Long].collect().toSet
    assert(nodesWithTags == Set(1L))
  }

  test("per-blob ranges: a many-blob file reads what a one-blob file reads") {
    val many = (1 to 57).map(i =>
      Row("n", i.toLong, Map("k" -> s"v$i"), i * 0.01, -i * 0.01, null, null, null)) ++ Seq(
      Row("w", 100L, Map("highway" -> "x"), null, null, Seq(1L, 2L), null, null),
      Row("r", 200L, Map.empty[String, String], null, null, Seq(100L), Seq("w"), Seq("outer")))
    val dir = tmpDir("split")
    val one = tmpDir("one")
    OsmPbf.write(elementsDf(many), s"$dir/big.osm.pbf", elementsPerBlock = 10)
    OsmPbf.write(elementsDf(many), s"$one/big.osm.pbf")
    // multiple genuine blob ranges
    val ranges = OsmPbf.blobRanges(s"$dir/big.osm.pbf")
    assert(ranges.size == 6, s"expected 6 data blobs, got ${ranges.size}")
    assert(OsmPbf.blobRanges(s"$one/big.osm.pbf").size == 1)
    val whole = OsmPbf.read(spark, one).orderBy("type", "id").collect().toSeq
    val split = OsmPbf.read(spark, dir).orderBy("type", "id").collect().toSeq
    assert(split == whole && split.size == 59)
  }

  test("writeSharded: one pbf per partition + manifest; read unions the shards") {
    val many = (1 to 120).map(i =>
      Row("n", i.toLong, Map("k" -> s"v$i"), i * 0.01, -i * 0.01, null, null, null))
    val dir = tmpDir("sharded")
    OsmPbf.writeSharded(
      spark.createDataFrame(spark.sparkContext.parallelize(many, 5), OsmPbf.schema),
      dir)
    val files = new java.io.File(dir).listFiles().map(_.getName).sorted.toSeq
    assert(files.count(_.endsWith(".osm.pbf")) == 5 && files.contains("_manifest.json"))
    val manifest = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_manifest.json")), "UTF-8")
    assert(manifest.contains("part-00000.osm.pbf") && manifest.contains("\"rows\":"))
    val back = OsmPbf.read(spark, dir)
    assert(back.count() == 120)
    assert(back.select("id").as[Long].collect().toSet == (1L to 120L).toSet)
    // one range per shard
    assert(new java.io.File(dir).listFiles().filter(_.getName.endsWith(".pbf"))
      .map(f => OsmPbf.blobRanges(f.getPath).size).toSeq == Seq.fill(5)(1))
  }

  test("write cap fails fast") {
    val dir = tmpDir("cap")
    val e = intercept[IllegalArgumentException] {
      OsmPbf.write(elementsDf(elements), s"$dir/c.osm.pbf", maxRows = 3)
    }
    assert(e.getMessage.contains("maxRows"))
  }
}
