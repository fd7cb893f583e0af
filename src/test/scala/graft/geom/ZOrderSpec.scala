package graft.geom

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.GeoFunctions.st_zorder
import graft.operators.GeoOps

class ZOrderSpec extends SparkSpec {
  import testImplicits._

  test("interleave puts x in even bits, y in odd bits") {
    assert(ZOrder.interleave(3L, 1L, 2) === 7L) // x=11 -> bits 0,2; y=01 -> bit 1
    assert(ZOrder.interleave(0L, 3L, 2) === 10L) // y=11 -> bits 1,3
    // naive reference for random values
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 200) {
      val x = rnd.nextInt(1 << 16).toLong; val y = rnd.nextInt(1 << 16).toLong
      val naive = (0 until 16).map(b =>
        (((x >> b) & 1L) << (2 * b)) | (((y >> b) & 1L) << (2 * b + 1))).reduce(_ | _)
      assert(ZOrder.interleave(x, y, 16) === naive)
    }
  }

  test("encode clamps out-of-range and the 180/90 edge into the last cell") {
    val full = (1L << 32) - 1
    assert(ZOrder.encode(180.0, 90.0, 16) === full)
    assert(ZOrder.encode(999.0, 999.0, 16) === full)
    assert(ZOrder.encode(-180.0, -90.0, 16) === 0L)
    assert(ZOrder.encode(-999.0, -999.0, 16) === 0L)
  }

  test("cover is a superset: every in-bbox point's key lands in some range") {
    val (lo0, la0, lo1, la1) = (-10.0, -10.0, 5.0, 5.0)
    val ranges = ZOrder.cover(lo0, la0, lo1, la1, 16)
    assert(ranges.length <= 32)
    assert(ranges.sliding(2).forall {
      case Seq(a, b) => a._2 < b._1
      case _ => true
    }, "ranges sorted and disjoint")
    val rnd = new scala.util.Random(11)
    for (_ <- 1 to 500) {
      val lon = lo0 + rnd.nextDouble() * (lo1 - lo0)
      val lat = la0 + rnd.nextDouble() * (la1 - la0)
      val z = ZOrder.encode(lon, lat, 16)
      assert(ranges.exists(r => z >= r._1 && z <= r._2), s"($lon,$lat) z=$z uncovered")
    }
    // and it actually prunes: covered span is a small fraction of the curve
    val span = ranges.map(r => r._2 - r._1 + 1).sum.toDouble
    assert(span / math.pow(2, 32) < 0.02, s"cover spans ${span / math.pow(2, 32)} of the curve")
  }

  test("st_zorder expression matches the kernel") {
    val rows = Seq((-29.75, -19.75), (0.25, 0.25), (29.75, 19.75), (180.0, 90.0))
    val got = rows.toDF("lon", "lat")
      .select(st_zorder(col("lon"), col("lat"), 16).as("z"))
      .collect().map(_.getLong(0))
    assert(got.toSeq === rows.map { case (lon, lat) => ZOrder.encode(lon, lat, 16) })
  }

  test("z-ordered write + bbox read equals the direct filter, with pushed __z pruning") {
    val df = spark.range(4000).select(
      (col("id") % 120 * 0.5 - 30 + 0.25).as("lon"),
      (col("id") % 80 * 0.5 - 20 + 0.25).as("lat"),
      col("id"))
    val dir = tmpDir("zord") + "/pts"
    GeoOps.writeZOrdered(df, "lon", "lat", dir, bits = 16, partitions = 8)
    val got = GeoOps.readZOrdered(spark, dir, "lon", "lat", -10.0, -10.0, 5.0, 5.0)
    val expected = df.where(col("lon").between(-10.0, 5.0) && col("lat").between(-10.0, 5.0))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got.select("id").collect().map(_.getLong(0)).toSet === expected)
    assert(expected.nonEmpty)
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters:") && plan.contains("__z"),
      s"__z predicate not pushed to the scan:\n$plan")
  }

  test("clustered layout prunes row groups: scan decodes a fraction of the corpus") {
    // decorrelated axes (lon from the low digits, lat from the high) — a
    // full 480×320 grid, every bbox populated
    val df = spark.range(200000).select(
      (col("id") % 480 * 0.125 - 30 + 0.0625).as("lon"),
      (expr("id div 480") % 320 * 0.125 - 20 + 0.0625).as("lat"),
      col("id"))
    val dir = tmpDir("zprune") + "/pts"
    GeoOps.writeZOrdered(df, "lon", "lat", dir, bits = 16, partitions = 16)
    val got = GeoOps.readZOrdered(spark, dir, "lon", "lat", -10.0, -10.0, 0.0, 0.0)
    val qe = got.queryExecution
    val n = qe.executedPlan.execute().count()
    val scanRows = qe.executedPlan.collectLeaves().head.metrics("numOutputRows").value
    assert(n > 0)
    // the bbox is ~4% of the domain; with curve-clustered row groups the
    // scan must decode a small fraction of the corpus, not all of it
    assert(scanRows < 200000 / 3,
      s"row-group pruning ineffective: scanned $scanRows of 200000 for $n matches")
  }
}
