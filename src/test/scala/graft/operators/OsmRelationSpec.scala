package graft.operators

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.geom.RelationAssembly
import graft.sources.OsmPbf

/** Relation geometry (reference: erde/op/osm.py:10-15 ogr2ogr layers
  * `multipolygons`/`multilinestrings`/`other_relations`) and the typed crop
  * membership joins the `member_types` column enables.
  */
class OsmRelationSpec extends AnyFunSuite with SparkSpec {

  import testImplicits._

  private def df(rows: Seq[Row]) =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), OsmPbf.schema)

  private def n(id: Long, x: Double, y: Double) =
    Row("n", id, Map.empty[String, String], x, y, null, null, null)
  private def w(id: Long, refs: Seq[Long], tags: Map[String, String] = Map.empty) =
    Row("w", id, tags, null, null, refs, null, null)
  private def r(id: Long, tags: Map[String, String], refs: Seq[Long],
      types: Seq[String], roles: Seq[String]) =
    Row("r", id, tags, null, null, refs, types, roles)

  // ---- RingAssembly unit behavior ----------------------------------------

  test("stitchRings: split ring chains parts, reversing when needed") {
    // square (0,0)-(4,0)-(4,4)-(0,4) split into three parts, middle reversed
    val parts = Array(
      Array(0.0, 0.0, 4.0, 0.0),            // bottom
      Array(4.0, 4.0, 4.0, 0.0),            // right, REVERSED orientation
      Array(4.0, 4.0, 0.0, 4.0, 0.0, 0.0))  // top + left
    val rings = RelationAssembly.stitchRings(parts).get
    assert(rings.length == 1)
    assert(rings(0).toSeq == Seq(0.0, 0.0, 4.0, 0.0, 4.0, 4.0, 0.0, 4.0, 0.0, 0.0))
  }

  test("stitchRings: multiple disjoint rings; open chain fails") {
    val two = Array(
      Array(0.0, 0.0, 1.0, 0.0, 1.0, 1.0, 0.0, 1.0, 0.0, 0.0),
      Array(5.0, 5.0, 6.0, 5.0, 6.0, 6.0, 5.0, 6.0, 5.0, 5.0))
    assert(RelationAssembly.stitchRings(two).get.length == 2)
    val open = Array(Array(0.0, 0.0, 1.0, 0.0), Array(1.0, 0.0, 1.0, 1.0))
    assert(RelationAssembly.stitchRings(open).isEmpty)
    // degenerate 2-vertex "ring" rejected
    assert(RelationAssembly.stitchRings(
      Array(Array(0.0, 0.0, 1.0, 1.0, 0.0, 0.0))).isEmpty)
  }

  // ---- assemble: relation layers -----------------------------------------

  private lazy val relOsm = df(Seq(
    // outer square (0,0)..(4,4) as two ways; inner square (1,1)..(2,2) closed
    n(1, 0, 0), n(2, 4, 0), n(3, 4, 4), n(4, 0, 4),
    n(5, 1, 1), n(6, 2, 1), n(7, 2, 2), n(8, 1, 2),
    w(10, Seq(1, 2, 3)), w(11, Seq(3, 4, 1)), w(12, Seq(5, 6, 7, 8, 5)),
    r(100, Map("type" -> "multipolygon", "landuse" -> "meadow"),
      Seq(10, 11, 12), Seq("w", "w", "w"), Seq("outer", "outer", "inner")),
    // route relation over the two outer ways
    r(101, Map("type" -> "route", "route" -> "bus"),
      Seq(10, 11), Seq("w", "w"), Seq("", "")),
    // non-geometry relation → other_relations (tabular)
    r(102, Map("type" -> "site"), Seq(1), Seq("n"), Seq("")),
    // incomplete: member way 99 missing → feature drops
    r(103, Map("type" -> "multipolygon"), Seq(10, 99), Seq("w", "w"), Seq("outer", "outer"))))

  test("assemble: relation multipolygon with inner ring; route multilinestring; other tabular") {
    import graft.functions.GeoFunctions._
    val out = OsmFilter.assemble(relOsm)
    val rels = out.where(col("id") >= 100).collect()
      .map(row => row.getAs[Long]("id") -> row.getAs[String]("layer")).toMap
    assert(rels == Map(100L -> "multipolygons", 101L -> "multilinestrings",
      102L -> "other_relations"))
    // area 16 − hole 1 = 15
    val area = out.where(col("id") === 100)
      .select(st_area(col("geometry"))).head().getDouble(0)
    assert(math.abs(area - 15.0) < 1e-12)
    val gt = out.where(col("id") === 100)
      .select(st_geomtype(col("geometry"))).head().getString(0)
    assert(gt == "MultiPolygon")
    // route: both member lines, lengths 4+4+4+4 = 16 in member order
    val len = out.where(col("id") === 101)
      .select(st_length(col("geometry"))).head().getDouble(0)
    assert(math.abs(len - 16.0) < 1e-12)
    assert(out.where(col("id") === 101)
      .select(st_geomtype(col("geometry"))).head().getString(0) == "MultiLineString")
    assert(out.where(col("id") === 102).head().isNullAt(3)) // tabular
    // way members of geometry relations still emit as their own way layers
    assert(out.where(col("id") === 10).head().getAs[String]("layer") == "lines")
  }

  test("assemble: two outer rings assign inners by containment") {
    val twoOuter = df(Seq(
      n(1, 0, 0), n(2, 4, 0), n(3, 4, 4), n(4, 0, 4),
      n(5, 1, 1), n(6, 2, 1), n(7, 2, 2), n(8, 1, 2),
      n(21, 10, 10), n(22, 12, 10), n(23, 12, 12), n(24, 10, 12),
      w(10, Seq(1, 2, 3, 4, 1)), w(11, Seq(21, 22, 23, 24, 21)),
      w(12, Seq(5, 6, 7, 8, 5)),
      r(200, Map("type" -> "multipolygon"), Seq(10, 11, 12),
        Seq("w", "w", "w"), Seq("outer", "outer", "inner"))))
    import graft.functions.GeoFunctions._
    val area = OsmFilter.assemble(twoOuter).where(col("id") === 200)
      .select(st_area(col("geometry"))).head().getDouble(0)
    // (16 − 1) + 4
    assert(math.abs(area - 19.0) < 1e-12)
  }

  test("assemble: boundary kind is a multipolygon; flat schema unchanged") {
    val boundary = df(Seq(
      n(1, 0, 0), n(2, 3, 0), n(3, 3, 3), n(4, 0, 3),
      w(10, Seq(1, 2, 3, 4, 1)),
      r(300, Map("type" -> "boundary", "boundary" -> "administrative"),
        Seq(10), Seq("w"), Seq("outer"))))
    val out = OsmFilter.assemble(boundary)
    assert(out.where(col("id") === 300).head().getAs[String]("layer") == "multipolygons")
    // 6-column flat frame: way layers only, no relation rows, no error
    val flat = relOsm.drop("member_types", "member_roles")
    val flatOut = OsmFilter.assemble(flat)
    assert(flatOut.where(col("id") >= 100).count() == 0)
  }

  // ---- crop: typed membership -------------------------------------------

  test("crop: typed members stop node/way id collisions from over-keeping") {
    // node 7 is inside the area; way 7 exists too (id collision) but is
    // entirely outside. Relation 500 references member id 7 AS A WAY —
    // typed crop must drop it; a second relation referencing node 7 keeps.
    val osm = df(Seq(
      n(7, 1.0, 1.0), n(40, 9.0, 9.0), n(41, 9.5, 9.5),
      w(7, Seq(40, 41)),
      r(500, Map.empty[String, String], Seq(7), Seq("w"), Seq("")),
      r(501, Map.empty[String, String], Seq(7), Seq("n"), Seq(""))))
    val kept = OsmFilter.crop(osm, "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))")
      .select("type", "id").as[(String, Long)].collect().toSet
    assert(kept == Set(("n", 7L), ("r", 501L)))
    // untyped flat schema over-keeps both (documented legacy behavior)
    val flatKept = OsmFilter.crop(osm.drop("member_types", "member_roles"),
        "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))")
      .select("type", "id").as[(String, Long)].collect().toSet
    assert(flatKept == Set(("n", 7L), ("r", 500L), ("r", 501L)))
  }

  test("crop: typed nested relation round keeps super-relations by type") {
    val osm = df(Seq(
      n(1, 1.0, 1.0),
      w(10, Seq(1)),
      r(20, Map.empty[String, String], Seq(10), Seq("w"), Seq("")),
      r(30, Map.empty[String, String], Seq(20), Seq("r"), Seq("")),
      // references id 20 as a WAY — no way 20 exists, must drop
      r(31, Map.empty[String, String], Seq(20), Seq("w"), Seq(""))))
    val kept = OsmFilter.crop(osm, "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))")
      .select("type", "id").as[(String, Long)].collect().toSet
    assert(kept == Set(("n", 1L), ("w", 10L), ("r", 20L), ("r", 30L)))
  }

  // ---- pbf roundtrip of the member columns --------------------------------

  test("member types/roles survive a pbf write/read roundtrip into assemble") {
    val dir = tmpDir("graft-relpbf")
    OsmPbf.write(relOsm, s"$dir/rel.osm.pbf")
    val back = OsmPbf.read(spark, dir)
    import graft.functions.GeoFunctions._
    val area = OsmFilter.assemble(back).where(col("id") === 100)
      .select(st_area(col("geometry"))).head().getDouble(0)
    assert(math.abs(area - 15.0) < 1e-12)
  }
}
