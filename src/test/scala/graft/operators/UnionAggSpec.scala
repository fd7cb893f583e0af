package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.functions.GeoFunctions._

class UnionAggSpec extends AnyFunSuite with SparkSpec {

  test("dissolve of many disjoint buffers: area = sum, and it finishes fast") {
    // 2000 points on a wide grid → disjoint 20-gon buffers; lazy accumulation
    // keeps this linear (the eager per-row re-union was quadratic)
    val pts = spark.range(2000).select(
      st_point((col("id") % 100).cast("double") * 2.0 - 100.0,
        (col("id") / lit(100)).cast("double") * 2.0 - 20.0).as("geometry"))
    val buffered = pts.withColumn("geometry", st_buffer(col("geometry"), lit(0.3), lit(5)))
    val perBuf = buffered.select(st_area(col("geometry"))).head().getDouble(0)
    val t0 = System.nanoTime()
    val dissolved = buffered.agg(UnionAgg.unionAgg(col("geometry")).as("g"))
      .select(st_area(col("g"))).head().getDouble(0)
    val secs = (System.nanoTime() - t0) / 1e9
    assert(math.abs(dissolved - 2000 * perBuf) / (2000 * perBuf) < 1e-6)
    assert(secs < 60, s"dissolve of 2000 buffers took ${secs}s")
  }

  test("dissolve of overlapping buffers still deduplicates coverage") {
    // all buffers at the same location: union area = one buffer's area
    val pts = spark.range(50).select(st_point(lit(10.0), lit(10.0)).as("geometry"))
    val buffered = pts.withColumn("geometry", st_buffer(col("geometry"), lit(1.0), lit(8)))
    val one = buffered.select(st_area(col("geometry"))).head().getDouble(0)
    val dissolved = buffered.agg(UnionAgg.unionAgg(col("geometry")).as("g"))
      .select(st_area(col("g"))).head().getDouble(0)
    assert(math.abs(dissolved - one) / one < 1e-9)
  }
}
