package graft.sources

import java.sql.Timestamp

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

class AvroSpec extends AnyFunSuite with SparkSpec {
  import testImplicits._

  test("roundtrip: primitives, binary, timestamp micros, nulls") {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("n", IntegerType, nullable = true),
      StructField("f", FloatType, nullable = true),
      StructField("d", DoubleType, nullable = true),
      StructField("b", BooleanType, nullable = true),
      StructField("s", StringType, nullable = true),
      StructField("bin", BinaryType, nullable = true),
      StructField("ts", TimestampType, nullable = true)))
    val ts = Timestamp.valueOf("2024-03-01 12:34:56.123456")
    val rows = Seq(
      Row(1L, 7, 1.5f, 2.25, true, "héllo", Array[Byte](1, 2, -3), ts),
      Row(2L, null, null, null, null, null, null, null))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    val dir = tmpDir("prim")
    Avro.write(df, s"$dir/t.avro")
    val back = Avro.read(spark, s"$dir/t.avro")
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      schema.fields.map(f => (f.name, f.dataType)).toSeq)
    val m = back.collect().map(r => r.getLong(0) -> r).toMap
    val r1 = m(1L)
    assert(r1.getInt(1) == 7 && r1.getFloat(2) == 1.5f && r1.getDouble(3) == 2.25)
    assert(r1.getBoolean(4) && r1.getString(5) == "héllo")
    assert(r1.getAs[Array[Byte]](6).toSeq == Seq[Byte](1, 2, -3))
    // timestamp survives at MICROsecond precision through the logical type
    assert(r1.getTimestamp(7) == ts)
    val r2 = m(2L)
    (1 to 7).foreach(i => assert(r2.isNullAt(i), s"field $i should be null"))
  }

  test("roundtrip: arrays, maps, nested structs") {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("xs", ArrayType(DoubleType, containsNull = false), nullable = true),
      StructField("kv", MapType(StringType, LongType, valueContainsNull = false), nullable = true),
      StructField("sub", StructType(Seq(
        StructField("a", StringType, nullable = true),
        StructField("b", IntegerType, nullable = false))), nullable = true)))
    val rows = Seq(
      Row(1L, Seq(1.0, 2.5), Map("x" -> 1L, "y" -> 2L), Row("in", 9)),
      Row(2L, Seq.empty[Double], Map.empty[String, Long], null))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    val dir = tmpDir("nested")
    Avro.write(df, s"$dir/t.avro")
    val back = Avro.read(spark, s"$dir/t.avro").collect().map(r => r.getLong(0) -> r).toMap
    assert(back(1L).getSeq[Double](1) == Seq(1.0, 2.5))
    assert(back(1L).getMap[String, Long](2) == Map("x" -> 1L, "y" -> 2L))
    assert(back(1L).getStruct(3) == Row("in", 9))
    assert(back(2L).getSeq[Double](1).isEmpty && back(2L).getMap[String, Long](2).isEmpty)
    assert(back(2L).isNullAt(3))
  }

  test("splittable read: small splitBytes fans one file out without dup/loss") {
    val df = spark.range(20000).select(col("id"),
      concat(lit("row-"), col("id")).as("s"))
    val dir = tmpDir("split")
    Avro.write(df.repartition(1), s"$dir/t.avro", codec = "null")
    val one = new java.io.File(s"$dir/t.avro").listFiles().filter(_.getName.endsWith(".avro"))
    assert(one.length == 1, "expected a single container file")
    // ~tens of sync blocks: 4 KB ranges must partition them exactly
    val back = Avro.read(spark, s"$dir/t.avro", splitBytes = 4096)
    assert(back.rdd.getNumPartitions > 4, "expected many byte-range tasks")
    assert(back.count() == 20000)
    assert(back.agg(sum("id")).head().getLong(0) == (0L until 20000L).sum)
  }

  test("codecs: null, deflate and snappy all roundtrip; deflate shrinks") {
    val df = spark.range(5000).select(col("id"),
      lit("abcabcabcabcabcabcabcabc").as("pad"))
    def sizeOf(codec: String): Long = {
      val dir = tmpDir(s"codec_$codec")
      Avro.write(df.repartition(1), s"$dir/t.avro", codec = codec)
      assert(Avro.read(spark, s"$dir/t.avro").count() == 5000)
      new java.io.File(s"$dir/t.avro").listFiles()
        .filter(_.getName.endsWith(".avro")).map(_.length()).sum
    }
    val (raw, defl, snap) = (sizeOf("null"), sizeOf("deflate"), sizeOf("snappy"))
    assert(defl < raw / 2, s"deflate $defl vs raw $raw")
    assert(snap < raw, s"snappy $snap vs raw $raw")
  }

  test("empty frame writes a header-only shard that reads back with schema") {
    val df = spark.range(0).select(col("id"), lit("x").as("s"))
    val dir = tmpDir("empty")
    Avro.write(df.where(lit(false)), s"$dir/t.avro")
    val back = Avro.read(spark, s"$dir/t.avro")
    assert(back.columns.toSeq == Seq("id", "s"))
    assert(back.count() == 0)
  }

  test("column projection reads only the requested fields, writer order, exact values") {
    val df = spark.range(1000).select(col("id"),
      concat(lit("s"), col("id")).as("s"),
      (col("id") * 2).as("twice"),
      lit("padpadpadpadpadpadpadpadpadpad").as("pad"))
    val dir = tmpDir("proj")
    Avro.write(df.repartition(1), s"$dir/t.avro", codec = "null")
    // request out of writer order — output follows WRITER order (deterministic)
    val back = Avro.read(spark, s"$dir/t.avro", splitBytes = 4096,
      columns = Seq("twice", "id"))
    assert(back.columns.toSeq == Seq("id", "twice"))
    assert(back.count() == 1000)
    assert(back.where(col("twice") =!= col("id") * 2).count() == 0)
    // unknown column fails loudly
    val e = intercept[IllegalArgumentException] {
      Avro.read(spark, s"$dir/t.avro", columns = Seq("nope"))
    }
    assert(e.getMessage.contains("nope"))
  }

  test("projection skips decoding entirely: exotic unprojected column never touched") {
    // hand-write a container whose second field is a multi-branch union —
    // a type the Spark mapping rejects. A projected read that excludes it
    // must work (proof the field is resolver-skipped, not decoded+dropped);
    // the full read must fail loudly.
    import org.apache.avro.{Schema, SchemaBuilder}
    import org.apache.avro.file.DataFileWriter
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    val schema = SchemaBuilder.record("r").fields()
      .requiredLong("id")
      .name("weird").`type`(Schema.createUnion(java.util.List.of(
        Schema.create(Schema.Type.INT), Schema.create(Schema.Type.STRING)))).noDefault()
      .endRecord()
    val dir = tmpDir("skipdecode")
    val f = new java.io.File(dir, "t.avro")
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
    w.create(schema, f)
    (0 until 10).foreach { i =>
      val rec = new GenericData.Record(schema)
      rec.put("id", i.toLong)
      rec.put("weird", if (i % 2 == 0) Int.box(i) else s"str$i")
      w.append(rec)
    }
    w.close()
    val back = Avro.read(spark, f.toString, columns = Seq("id"))
    assert(back.columns.toSeq == Seq("id"))
    assert(back.agg(sum("id")).head().getLong(0) == 45L)
    intercept[IllegalArgumentException] { Avro.read(spark, f.toString).collect() }
  }

  test("timestamp-millis and date logical types decode with correct semantics") {
    // written by another system at millisecond resolution — our writer emits
    // micros, so hand-write the container
    import org.apache.avro.{LogicalTypes, Schema, SchemaBuilder}
    import org.apache.avro.file.DataFileWriter
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    val tsMillis = LogicalTypes.timestampMillis().addToSchema(Schema.create(Schema.Type.LONG))
    val dateT = LogicalTypes.date().addToSchema(Schema.create(Schema.Type.INT))
    val schema = SchemaBuilder.record("r").fields()
      .requiredLong("id")
      .name("ts").`type`(tsMillis).noDefault()
      .name("d").`type`(dateT).noDefault()
      .endRecord()
    val dir = tmpDir("millis")
    val f = new java.io.File(dir, "t.avro")
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
    w.create(schema, f)
    Seq((1L, 1709296496123L, 19783), (2L, -5000L, -3)).foreach { case (id, ms, days) =>
      val rec = new GenericData.Record(schema)
      rec.put("id", id); rec.put("ts", ms); rec.put("d", days)
      w.append(rec)
    }
    w.close()
    val back = Avro.read(spark, f.toString)
    assert(back.schema("ts").dataType == TimestampType)
    assert(back.schema("d").dataType == DateType)
    val m = back.collect().map(r => r.getLong(0) -> r).toMap
    assert(m(1L).getTimestamp(1).getTime == 1709296496123L)
    assert(m(2L).getTimestamp(1).getTime == -5000L) // pre-epoch millis exact
    assert(m(1L).getDate(2).toLocalDate == java.time.LocalDate.ofEpochDay(19783))
    assert(m(2L).getDate(2).toLocalDate == java.time.LocalDate.ofEpochDay(-3))
  }

  test("date and decimal columns roundtrip through our own writer") {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("d", DateType, nullable = true),
      StructField("amt", DecimalType(12, 2), nullable = true)))
    val rows = Seq(
      Row(1L, java.sql.Date.valueOf("2024-02-29"), new java.math.BigDecimal("12345.67")),
      Row(2L, java.sql.Date.valueOf("1969-12-31"), new java.math.BigDecimal("-0.01")),
      Row(3L, null, null))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    val dir = tmpDir("datedec")
    Avro.write(df, s"$dir/t.avro")
    val back = Avro.read(spark, s"$dir/t.avro")
    assert(back.schema("d").dataType == DateType)
    assert(back.schema("amt").dataType == DecimalType(12, 2))
    val m = back.collect().map(r => r.getLong(0) -> r).toMap
    assert(m(1L).getDate(1).toLocalDate.toString == "2024-02-29")
    assert(m(2L).getDate(1).toLocalDate.toString == "1969-12-31") // pre-epoch
    assert(m(1L).getDecimal(2).compareTo(new java.math.BigDecimal("12345.67")) == 0)
    assert(m(2L).getDecimal(2).compareTo(new java.math.BigDecimal("-0.01")) == 0)
    assert(m(3L).isNullAt(1) && m(3L).isNullAt(2))
  }

  test("decimal precision beyond Spark's 38 is rejected loudly, not passed as bytes") {
    import org.apache.avro.{LogicalTypes, Schema, SchemaBuilder}
    val dec40 = LogicalTypes.decimal(40, 4).addToSchema(Schema.create(Schema.Type.BYTES))
    val schema = SchemaBuilder.record("r").fields()
      .requiredLong("id").name("x").`type`(dec40).noDefault().endRecord()
    val e = intercept[IllegalArgumentException] { Avro.structOf(schema) }
    assert(e.getMessage.contains("precision"))
  }

  test("split read streams: file handle closes even when a limit drops the iterator") {
    val df = spark.range(50000).select(col("id"),
      lit("padpadpadpadpadpadpadpadpadpadpadpad").as("pad"))
    val dir = tmpDir("stream")
    Avro.write(df.repartition(1), s"$dir/t.avro", codec = "null")
    val file = new java.io.File(s"$dir/t.avro").listFiles()
      .filter(_.getName.endsWith(".avro")).head.getCanonicalPath
    // limit(3) abandons the split iterators mid-range; the task-completion
    // hook must still close every handle (local[*] shares our /proc/self/fd)
    assert(Avro.read(spark, s"$dir/t.avro", splitBytes = 64 * 1024).limit(3).collect().length == 3)
    val leaked = new java.io.File("/proc/self/fd").listFiles().toSeq.flatMap { fd =>
      try Some(java.nio.file.Files.readSymbolicLink(fd.toPath).toString) catch { case _: Throwable => None }
    }.count(_ == file)
    assert(leaked == 0, s"$leaked leaked handles on $file")
  }

  test("auto dispatch: .avro path routes through readAuto/writeAuto with WKB geometry") {
    import graft.functions.GeoFunctions._
    val pts = Seq((1L, 2.5, 3.5), (2L, -10.0, 45.0)).toDF("id", "lon", "lat")
      .withColumn("geometry", st_point(col("lon"), col("lat"))).drop("lon", "lat")
    val dir = tmpDir("auto")
    GeoSources.writeAuto(pts, s"$dir/pts.avro")
    val back = GeoSources.readAuto(spark, s"$dir/pts.avro")
      .select(col("id"), st_x(col("geometry")).as("x"), st_y(col("geometry")).as("y"))
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(back(1L) == ((2.5, 3.5)) && back(2L) == ((-10.0, 45.0)))
  }
}
