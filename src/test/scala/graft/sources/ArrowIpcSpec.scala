package graft.sources

import java.sql.Timestamp

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

class ArrowIpcSpec extends AnyFunSuite with SparkSpec {
  import testImplicits._

  private val flatSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("i8", ByteType, nullable = true),
    StructField("i16", ShortType, nullable = true),
    StructField("i32", IntegerType, nullable = true),
    StructField("f32", FloatType, nullable = true),
    StructField("f64", DoubleType, nullable = true),
    StructField("flag", BooleanType, nullable = true),
    StructField("s", StringType, nullable = true),
    StructField("bin", BinaryType, nullable = true),
    StructField("day", DateType, nullable = true),
    StructField("ts", TimestampType, nullable = true),
    StructField("dec", DecimalType(12, 3), nullable = true)))

  private def flatRows = {
    val ts = Timestamp.valueOf("2024-03-01 12:34:56.123456")
    val preEpoch = Timestamp.valueOf("1969-12-31 23:59:58.5")
    Seq(
      Row(1L, 5.toByte, 300.toShort, 70000, 1.5f, 2.25, true, "héllo",
        Array[Byte](1, 2, -3), java.sql.Date.valueOf("2024-02-29"), ts,
        new java.math.BigDecimal("12345.678")),
      Row(2L, null, null, null, null, null, null, null, null, null, null, null),
      Row(3L, (-5).toByte, (-300).toShort, -70000, -1.5f, -2.25, false, "",
        Array[Byte](), java.sql.Date.valueOf("1969-07-20"), preEpoch,
        new java.math.BigDecimal("-0.001")))
  }

  for (codec <- Seq("null", "lz4", "zstd"))
    test(s"roundtrip [$codec]: every flat type incl. pre-epoch, nulls, empties") {
      val df = spark.createDataFrame(spark.sparkContext.parallelize(flatRows, 2), flatSchema)
      val dir = tmpDir(s"flat_$codec")
      ArrowIpc.write(df, s"$dir/t.arrow", codec = codec)
      val back = ArrowIpc.read(spark, s"$dir/t.arrow")
      assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
        flatSchema.fields.map(f => (f.name, f.dataType)).toSeq)
      val m = back.collect().map(r => r.getLong(0) -> r).toMap
      assert(m.size == 3)
      val r1 = m(1L)
      assert(r1.getByte(1) == 5 && r1.getShort(2) == 300 && r1.getInt(3) == 70000)
      assert(r1.getFloat(4) == 1.5f && r1.getDouble(5) == 2.25 && r1.getBoolean(6))
      assert(r1.getString(7) == "héllo")
      assert(r1.getAs[Array[Byte]](8).toSeq == Seq[Byte](1, 2, -3))
      assert(r1.getDate(9) == java.sql.Date.valueOf("2024-02-29"))
      assert(r1.getTimestamp(10) == Timestamp.valueOf("2024-03-01 12:34:56.123456"))
      assert(r1.getDecimal(11) == new java.math.BigDecimal("12345.678"))
      (1 to 11).foreach(i => assert(m(2L).isNullAt(i), s"field $i should be null"))
      val r3 = m(3L)
      assert(r3.getString(7) == "" && r3.getAs[Array[Byte]](8).isEmpty)
      // pre-epoch values survive exactly (the floorDiv contract)
      assert(r3.getTimestamp(10) == Timestamp.valueOf("1969-12-31 23:59:58.5"))
      assert(r3.getDate(9) == java.sql.Date.valueOf("1969-07-20"))
      assert(r3.getDecimal(11) == new java.math.BigDecimal("-0.001"))
    }

  test("roundtrip: list columns — embeddings, null elements, nested lists, null rows") {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("emb", ArrayType(FloatType, containsNull = false), nullable = true),
      StructField("toks", ArrayType(LongType, containsNull = true), nullable = true),
      StructField("tags", ArrayType(StringType, containsNull = true), nullable = true),
      StructField("nest", ArrayType(ArrayType(IntegerType, containsNull = false),
        containsNull = true), nullable = true)))
    val rows = Seq(
      Row(1L, Seq(0.5f, -1.25f), Seq(10L, null, 30L), Seq("a", null, "c"),
        Seq(Seq(1, 2), null, Seq(3))),
      Row(2L, Seq.empty[Float], Seq.empty[Long], Seq.empty[String], Seq.empty[Seq[Int]]),
      Row(3L, null, null, null, null))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    val dir = tmpDir("lists")
    ArrowIpc.write(df, s"$dir/t.arrow")
    val back = ArrowIpc.read(spark, s"$dir/t.arrow")
    assert(back.schema("emb").dataType == ArrayType(FloatType, containsNull = false))
    val m = back.collect().map(r => r.getLong(0) -> r).toMap
    assert(m(1L).getSeq[Float](1) == Seq(0.5f, -1.25f))
    assert(m(1L).getSeq[Any](2) == Seq(10L, null, 30L))
    assert(m(1L).getSeq[Any](3) == Seq("a", null, "c"))
    assert(m(1L).getSeq[Any](4) == Seq(Seq(1, 2), null, Seq(3)))
    assert(m(2L).getSeq[Float](1).isEmpty && m(2L).getSeq[Any](4).isEmpty)
    (1 to 4).foreach(i => assert(m(3L).isNullAt(i)))
  }

  test("splittable read: footer batches fan one file out without dup/loss") {
    val df = spark.range(20000).select(col("id"),
      concat(lit("row-"), col("id")).as("s"))
    val dir = tmpDir("split")
    ArrowIpc.write(df.repartition(1), s"$dir/t.arrow", codec = "lz4", batchRows = 1000)
    val files = new java.io.File(s"$dir/t.arrow").listFiles()
      .filter(_.getName.endsWith(".arrow"))
    assert(files.length == 1, "expected a single IPC file")
    val back = ArrowIpc.read(spark, s"$dir/t.arrow", splitBytes = 64L * 1024)
    assert(back.rdd.getNumPartitions > 1, "small splitBytes should fan out")
    assert(back.count() == 20000)
    assert(back.agg(sum("id")).head().getLong(0) == (0L until 20000L).sum)
    assert(back.select("s").distinct().count() == 20000)
  }

  test("column projection reads a field subset in writer order") {
    val df = spark.range(100).select(col("id"), lit("x").as("a"), (col("id") * 2).as("b"))
    val dir = tmpDir("proj")
    ArrowIpc.write(df, s"$dir/t.arrow")
    val back = ArrowIpc.read(spark, s"$dir/t.arrow", columns = Seq("b", "id"))
    assert(back.columns.toSeq == Seq("id", "b")) // writer order, not request order
    assert(back.agg(sum("b")).head().getLong(0) == (0L until 100L).map(_ * 2).sum)
    intercept[IllegalArgumentException] {
      ArrowIpc.read(spark, s"$dir/t.arrow", columns = Seq("nope"))
    }
  }

  test("sharded write: one file per partition, read back as one frame") {
    val df = spark.range(5000).select(col("id"), (col("id") % 7).as("g")).repartition(4)
    val dir = tmpDir("shard")
    ArrowIpc.write(df, s"$dir/t.arrow")
    val files = new java.io.File(s"$dir/t.arrow").listFiles()
      .filter(_.getName.endsWith(".arrow"))
    assert(files.length == 4)
    val back = ArrowIpc.read(spark, s"$dir/t.arrow")
    assert(back.count() == 5000)
    assert(back.agg(sum("id")).head().getLong(0) == (0L until 5000L).sum)
  }

  test("empty frame writes a schema-only file that reads back empty") {
    val df = spark.range(0).select(col("id"), lit("s").as("s"))
    val dir = tmpDir("empty")
    ArrowIpc.write(df, s"$dir/t.arrow")
    val back = ArrowIpc.read(spark, s"$dir/t.arrow")
    assert(back.count() == 0)
    assert(back.schema.fieldNames.toSeq == Seq("id", "s"))
    assert(ArrowIpc.schemaOf(s"$dir/t.arrow").fieldNames.toSeq == Seq("id", "s"))
  }

  test("nested-complex writes are rejected loudly, not byte-passed") {
    val los = spark.range(3).select(col("id"),
      array(struct(col("id").as("a"))).as("subs"))
    intercept[IllegalArgumentException] { ArrowIpc.write(los, tmpDir("rej3") + "/t.arrow") }
    val mos = spark.range(3).select(col("id"),
      map(lit("k"), struct(col("id").as("a"))).as("kv"))
    intercept[IllegalArgumentException] { ArrowIpc.write(mos, tmpDir("rej4") + "/t.arrow") }
    val lom = spark.range(3).select(col("id"),
      array(map(lit("k"), col("id"))).as("kvs"))
    intercept[IllegalArgumentException] { ArrowIpc.write(lom, tmpDir("rej5") + "/t.arrow") }
  }

  for (codec <- Seq("null", "lz4", "zstd"))
    test(s"map roundtrip [$codec]: flat keys, list values, null rows and values") {
      val schema = StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("kv", MapType(StringType, LongType, valueContainsNull = true),
          nullable = true),
        StructField("kl", MapType(LongType, ArrayType(DoubleType, containsNull = false),
          valueContainsNull = true), nullable = true)))
      val rows = Seq(
        Row(1L, Map("a" -> 10L, "b" -> null, "c" -> 30L),
          Map(7L -> Seq(0.5, 1.5), 8L -> null)),
        Row(2L, Map.empty[String, Long], Map.empty[Long, Seq[Double]]),
        Row(3L, null, null))
      val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      val dir = tmpDir(s"map_$codec")
      ArrowIpc.write(df, s"$dir/t.arrow", codec = codec)
      val back = ArrowIpc.read(spark, s"$dir/t.arrow")
      assert(back.schema("kv").dataType ==
        MapType(StringType, LongType, valueContainsNull = true))
      val m = back.collect().map(r => r.getLong(0) -> r).toMap
      assert(m(1L).getMap[String, Any](1).toMap ==
        Map("a" -> 10L, "b" -> null, "c" -> 30L))
      assert(m(1L).getMap[Long, Any](2).toMap ==
        Map(7L -> Seq(0.5, 1.5), 8L -> null))
      assert(m(2L).getMap[String, Any](1).isEmpty && m(2L).getMap[Long, Any](2).isEmpty)
      assert(m(3L).isNullAt(1) && m(3L).isNullAt(2))
      // Spark's own map ops run over the read result
      assert(back.select(element_at(col("kv"), "a").as("a"))
        .agg(sum("a")).head().getLong(0) == 10L)
      // the streaming format shares the writer core
      ArrowIpc.writeArrows(df, s"$dir/t.arrows", codec = codec)
      assert(ArrowIpc.readArrows(spark, s"$dir/t.arrows")
        .where(col("kv").isNull).count() == 1)
    }

  private val structSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("meta", StructType(Seq(
      StructField("w", IntegerType, nullable = true),
      StructField("label", StringType, nullable = true),
      StructField("inner", StructType(Seq(
        StructField("d", DoubleType, nullable = true))), nullable = true),
      StructField("xs", ArrayType(LongType, containsNull = true), nullable = true))),
      nullable = true)))

  private def structRows = Seq(
    Row(1L, Row(640, "cat", Row(0.5), Seq(7L, null, 9L))),
    Row(2L, null),                              // null struct row
    Row(3L, Row(null, null, null, null)),       // struct of nulls
    Row(4L, Row(-1, "", Row(-2.25), Seq.empty[Long])))

  for (codec <- Seq("null", "lz4", "zstd"))
    test(s"struct roundtrip [$codec]: nested structs, inner lists, null rows") {
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(structRows, 2), structSchema)
      val dir = tmpDir(s"struct_$codec")
      ArrowIpc.write(df, s"$dir/t.arrow", codec = codec)
      val back = ArrowIpc.read(spark, s"$dir/t.arrow")
      assert(back.schema("meta").dataType == structSchema("meta").dataType)
      val m = back.collect().map(r => r.getLong(0) -> r).toMap
      assert(m.size == 4)
      val r1 = m(1L).getStruct(1)
      assert(r1.getInt(0) == 640 && r1.getString(1) == "cat")
      assert(r1.getStruct(2).getDouble(0) == 0.5)
      assert(r1.getSeq[Any](3) == Seq(7L, null, 9L))
      assert(m(2L).isNullAt(1))
      val r3 = m(3L).getStruct(1)
      assert((0 to 3).forall(r3.isNullAt))
      val r4 = m(4L).getStruct(1)
      assert(r4.getInt(0) == -1 && r4.getString(1) == "" &&
        r4.getStruct(2).getDouble(0) == -2.25 && r4.getSeq[Any](3).isEmpty)
      // field access pushes through Spark's own struct ops after the read
      assert(back.select(col("meta.w")).agg(sum("w")).head().getLong(0) == 639L)
    }

  test("struct columns survive the streaming format and projection") {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(structRows, 1), structSchema)
    val dir = tmpDir("struct_arrows")
    ArrowIpc.writeArrows(df, s"$dir/t.arrows")
    val back = ArrowIpc.readArrows(spark, s"$dir/t.arrows")
    assert(back.where(col("meta").isNull).count() == 1)
    assert(back.where(col("meta.label") === "cat").count() == 1)
    // top-level projection can DROP the struct column entirely
    val slim = ArrowIpc.read(spark, {
      ArrowIpc.write(df, s"$dir/t.arrow"); s"$dir/t.arrow"
    }, columns = Seq("id"))
    assert(slim.columns.toSeq == Seq("id") && slim.count() == 4)
  }

  test("many-file footer census fans out as a job, not a driver loop") {
    val n = Shards.DistributedCensusThreshold + 16
    val df = spark.range(n * 10L).select(col("id"), (col("id") % 9).as("g"))
    val dir = tmpDir("census")
    ArrowIpc.write(df.repartition(n), s"$dir/t.arrow")
    val files = new java.io.File(s"$dir/t.arrow").listFiles()
      .filter(_.getName.endsWith(".arrow"))
    assert(files.length == n)
    val before = Shards.driverPlans.get()
    val back = ArrowIpc.read(spark, s"$dir/t.arrow")
    assert(back.count() == n * 10L)
    assert(back.agg(sum("id")).head().getLong(0) == (0L until n * 10L).sum)
    val opens = Shards.driverPlans.get() - before
    assert(opens == 0L, s"driver planned $opens footers — census not distributed?")
    // under the threshold the driver loop is used (cheaper than a job)
    val small = tmpDir("census_small")
    ArrowIpc.write(df.repartition(3), s"$small/t.arrow")
    val b2 = Shards.driverPlans.get()
    ArrowIpc.read(spark, s"$small/t.arrow").count()
    assert(Shards.driverPlans.get() - b2 == 3L) // one per file
  }

  test("geometry WKB convention rides as binary through auto dispatch") {
    val pts = Seq((1L, 2.0, 3.0), (2L, -4.5, 0.25)).toDF("id", "x", "y")
      .select(col("id"), graft.functions.GeoFunctions.st_aswkb(
        graft.functions.GeoFunctions.st_point(col("x"), col("y"))).as("geometry"))
    val dir = tmpDir("geo")
    GeoSources.writeAuto(pts, s"$dir/pts.arrow")
    val back = GeoSources.readAuto(spark, s"$dir/pts.arrow")
    val xs = back.select(col("id"),
      graft.functions.GeoFunctions.st_x(col("geometry")).as("px")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(xs == Map(1L -> 2.0, 2L -> -4.5))
  }

  for (codec <- Seq("null", "lz4", "zstd"))
    test(s"streaming format [$codec]: flat-lattice roundtrip, schema intact") {
      val df = spark.createDataFrame(spark.sparkContext.parallelize(flatRows, 2), flatSchema)
      val dir = tmpDir(s"arrows_$codec")
      ArrowIpc.writeArrows(df, s"$dir/t.arrows", codec = codec)
      val back = ArrowIpc.readArrows(spark, s"$dir/t.arrows")
      assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
        flatSchema.fields.map(f => (f.name, f.dataType)).toSeq)
      val m = back.collect().map(r => r.getLong(0) -> r).toMap
      assert(m.size == 3)
      assert(m(1L).getDecimal(11) == new java.math.BigDecimal("12345.678"))
      assert(m(2L).toSeq.drop(1).forall(_ == null))
      assert(m(3L).getTimestamp(10) == Timestamp.valueOf("1969-12-31 23:59:58.5"))
    }

  test("streaming format: multi-batch files stream without dup/loss; lists survive") {
    val df = spark.range(20000).select(col("id"),
      org.apache.spark.sql.functions.array(col("id"), col("id") * 2).as("xs"))
    val dir = tmpDir("arrows_multi")
    ArrowIpc.writeArrows(df.repartition(3), s"$dir/t.arrows", batchRows = 1000)
    val files = new java.io.File(s"$dir/t.arrows").listFiles()
      .filter(_.getName.endsWith(".arrows"))
    assert(files.length == 3, "one .arrows file per partition")
    val back = ArrowIpc.readArrows(spark, s"$dir/t.arrows")
    assert(back.rdd.getNumPartitions == 3) // a file is the task unit (no footer)
    assert(back.count() == 20000)
    assert(back.agg(sum("id")).head().getLong(0) == (0L until 20000L).sum)
    assert(back.select(org.apache.spark.sql.functions.element_at(col("xs"), 2).as("x2"))
      .agg(sum("x2")).head().getLong(0) == (0L until 20000L).map(_ * 2).sum)
  }

  test("streaming format: projection, empty frame, and auto dispatch") {
    val df = spark.range(100).select(col("id"), lit("x").as("a"), (col("id") * 2).as("b"))
    val dir = tmpDir("arrows_proj")
    ArrowIpc.writeArrows(df, s"$dir/t.arrows")
    val back = ArrowIpc.readArrows(spark, s"$dir/t.arrows", columns = Seq("b", "id"))
    assert(back.columns.toSeq == Seq("id", "b")) // writer order
    assert(back.agg(sum("b")).head().getLong(0) == (0L until 100L).map(_ * 2).sum)
    intercept[IllegalArgumentException] {
      ArrowIpc.readArrows(spark, s"$dir/t.arrows", columns = Seq("nope"))
    }
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], StructType(Seq(StructField("z", LongType))))
    ArrowIpc.writeArrows(empty, s"$dir/e.arrows")
    val eb = ArrowIpc.readArrows(spark, s"$dir/e.arrows")
    assert(eb.count() == 0 && eb.schema.fieldNames.toSeq == Seq("z"))
    GeoSources.writeAuto(df, s"$dir/auto.arrows")
    assert(GeoSources.readAuto(spark, s"$dir/auto.arrows").count() == 100)
  }
}
