package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

class CompactSpec extends AnyFunSuite with SparkSpec {
  import testImplicits._

  test("compaction shrinks the file count, preserves content, clusters sort columns") {
    val dir = tmpDir("graft_compact_in")
    val out = tmpDir("graft_compact_out")
    // 40 tiny files of 250 rows each
    spark.range(0, 10000).select($"id", ($"id" * 3 % 101).as("v"))
      .repartition(40).write.mode("overwrite").parquet(dir)
    val inFiles = new java.io.File(dir).listFiles.count(_.getName.endsWith(".parquet"))
    assert(inFiles === 40)

    val back = Compact.compactFiles(spark, dir, out,
      targetFileBytes = 64L << 10, sortCols = Seq("id"))
    val outFiles = new java.io.File(out).listFiles.count(_.getName.endsWith(".parquet"))
    assert(outFiles < inFiles && outFiles >= 1)

    // content identical
    val a = back.select("id", "v").as[(Long, Long)].collect().toSet
    val b = spark.read.parquet(dir).select("id", "v").as[(Long, Long)].collect().toSet
    assert(a === b && a.size === 10000)

    // range clustering: per-file id intervals are pairwise disjoint
    if (outFiles > 1) {
      val ranges = spark.read.parquet(out)
        .groupBy(input_file_name().as("f"))
        .agg(min("id").as("lo"), max("id").as("hi"))
        .select("lo", "hi").as[(Long, Long)].collect().sortBy(_._1)
      ranges.sliding(2).foreach {
        case Array((_, hi1), (lo2, _)) => assert(hi1 < lo2)
        case _ =>
      }
    }
  }
}
