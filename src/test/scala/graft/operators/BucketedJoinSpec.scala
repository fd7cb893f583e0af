package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

class BucketedJoinSpec extends AnyFunSuite with SparkSpec {

  test("bucketed tables join without an exchange") {
    // clean both catalog entries and any orphaned warehouse dirs from aborted runs
    Seq("orders_b", "lineitem_b").foreach { tbl =>
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      val loc = new java.io.File(spark.conf.get("spark.sql.warehouse.dir")
        .stripPrefix("file:"), tbl)
      if (loc.exists()) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete()
        }
        rm(loc)
      }
    }
    val orders = graft.readTable(spark, sfDir, "orders")
    val lineitem = graft.readTable(spark, sfDir, "lineitem")
    Ops.writeBucketed(orders, "orders_b", "o_orderkey", 8)
    Ops.writeBucketed(
      lineitem.withColumnRenamed("l_orderkey", "o_orderkey"), "lineitem_b", "o_orderkey", 8)

    // force a non-broadcast join so bucketing (not broadcast) must avoid the shuffle
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("orders_b").join(spark.table("lineitem_b"), "o_orderkey")
        .groupBy("o_orderstatus").agg(sum("l_quantity").as("qty"))
      assert(joined.count() > 0)
      val plan = joined.queryExecution.executedPlan.toString
      // co-located buckets: no hash repartitioning on the join key; the single
      // shuffle in the plan belongs to the final groupBy
      assert(!plan.contains("hashpartitioning(o_orderkey"), s"join shuffled:\n$plan")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")

    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS lineitem_b")
  }
}
