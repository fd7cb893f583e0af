package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

/** `normalizeTs` covers three generator stampings of an event `ts`; the
  * nanosecond-long branch is exercised by every events oracle, but the
  * TIMESTAMP_NTZ branch only fires on micro-stamped parquet — pin both, and
  * pin the UTC-session precondition the NTZ cast relies on (the cast
  * reinterprets wall-clock fields in the session zone; sessionConfigs sets
  * UTC, matching DuckDB's naive read of the same file).
  */
class NormalizeTsSpec extends AnyFunSuite with SparkSpec {

  import testImplicits._

  test("long (nanos) branch: exact integer div, no double wobble, quoted identifier") {
    // 2024-epoch nanos exceed 2^53: the double-division quotient would
    // wobble ±1 µs; `div` must land exactly on the microsecond
    val ns = 1704067200123456789L // 2024-01-01T00:00:00.123456789
    val df = Seq(ns).toDF("ts")
    val out = normalizeTs(df)
    assert(out.schema("ts").dataType == TimestampType)
    assert(out.select(unix_micros(col("ts"))).head().getLong(0) == 1704067200123456L)
    // reserved/odd column names must survive the SQL interpolation
    val weird = Seq(ns).toDF("order")
    assert(normalizeTs(weird, "order").select(unix_micros(col("`order`")))
      .head().getLong(0) == 1704067200123456L)
  }

  test("TIMESTAMP_NTZ branch: wall-clock fields reinterpreted in the UTC session") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC",
      "sessionConfigs precondition: the NTZ cast is only zone-faithful under UTC")
    val dir = tmpDir("ntz")
    Seq("2024-03-10 07:30:00.123456").toDF("s")
      .select(col("s").cast(TimestampNTZType).as("ts"))
      .write.mode("overwrite").parquet(dir)
    val back = spark.read.parquet(dir)
    assert(back.schema("ts").dataType == TimestampNTZType)
    val out = normalizeTs(back)
    assert(out.schema("ts").dataType == TimestampType)
    // wall clock 07:30 UTC => epoch micros of 2024-03-10T07:30:00.123456Z
    assert(out.select(unix_micros(col("ts"))).head().getLong(0) == 1710055800123456L)
    // TimestampType passes through untouched
    val again = normalizeTs(out)
    assert(again.select(unix_micros(col("ts"))).head().getLong(0) == 1710055800123456L)
  }
}
