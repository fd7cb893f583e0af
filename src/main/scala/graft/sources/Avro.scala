package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.avro.{LogicalTypes, Schema}
import org.apache.avro.file.{CodecFactory, DataFileReader, DataFileWriter, SeekableFileInput}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericFixed, GenericRecord}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Avro object-container files — the Kafka-dump / event-log interchange
  * format a training pipeline ingests next to jsonl and parquet. Spark's
  * bundled jars carry avro-core but not the spark-avro DataSource module,
  * so this driver speaks the container format through the Avro library
  * directly, in the house style of the other hand-rolled sources
  * (shp/gpkg/fgb/xlsx): schema parsed once on the driver, decoding
  * executor-side, sharded parallel writes.
  *
  * Scale shape: the container format is SPLITTABLE by design — 16-byte
  * sync markers delimit compressed blocks, and `DataFileReader.sync(pos)` /
  * `pastSync(end)` give exact range semantics (the classic Avro
  * input-format contract: a split owns every block whose sync follows its
  * start). [[read]] fans one big file out as byte-range tasks, so a 100 TB
  * avro drop parallelizes like parquet. Geometry follows the house
  * convention: a BinaryType `geometry` column travels as Avro `bytes`
  * (WKB), no text round-trip.
  */
object Avro {

  // ---- schema mapping ------------------------------------------------------

  /** Avro → Spark type; the Boolean is nullability (from `union[null, T]`). */
  private[sources] def sparkType(s: Schema): (DataType, Boolean) = s.getType match {
    case Schema.Type.UNION =>
      val branches = s.getTypes.asScala.toSeq
      val nonNull = branches.filterNot(_.getType == Schema.Type.NULL)
      require(nonNull.size == 1, s"unsupported non-nullable union: $s")
      val (dt, _) = sparkType(nonNull.head)
      (dt, nonNull.size != branches.size)
    case Schema.Type.BOOLEAN => (BooleanType, false)
    case Schema.Type.INT =>
      val lt = s.getLogicalType
      if (lt != null && lt.getName == "date") (DateType, false)
      else (IntegerType, false)
    case Schema.Type.LONG =>
      val lt = s.getLogicalType
      // both timestamp resolutions land on TimestampType; decode rescales
      if (lt != null && (lt.getName == "timestamp-micros" || lt.getName == "timestamp-millis"))
        (TimestampType, false)
      else (LongType, false)
    case Schema.Type.FLOAT => (FloatType, false)
    case Schema.Type.DOUBLE => (DoubleType, false)
    case Schema.Type.STRING | Schema.Type.ENUM => (StringType, false)
    case Schema.Type.BYTES | Schema.Type.FIXED =>
      s.getLogicalType match {
        case d: LogicalTypes.Decimal =>
          // a Kafka-dump staple: unscaled big-endian two's-complement bytes.
          // Reject loudly past Spark's 38-digit ceiling instead of silently
          // passing raw bytes through.
          require(d.getPrecision <= DecimalType.MAX_PRECISION,
            s"avro decimal precision ${d.getPrecision} exceeds Spark's ${DecimalType.MAX_PRECISION} in $s")
          (DecimalType(d.getPrecision, d.getScale), false)
        case _ => (BinaryType, false)
      }
    case Schema.Type.ARRAY =>
      val (et, en) = sparkType(s.getElementType); (ArrayType(et, en), false)
    case Schema.Type.MAP =>
      val (vt, vn) = sparkType(s.getValueType); (MapType(StringType, vt, vn), false)
    case Schema.Type.RECORD =>
      (StructType(s.getFields.asScala.map { f =>
        val (dt, n) = sparkType(f.schema()); StructField(f.name, dt, n)
      }.toArray), false)
    case other =>
      throw new IllegalArgumentException(s"unsupported avro type $other in $s")
  }

  private[sources] def structOf(s: Schema): StructType = {
    require(s.getType == Schema.Type.RECORD, s"top-level avro schema must be a record, got $s")
    sparkType(s)._1.asInstanceOf[StructType]
  }

  /** Spark → Avro schema; nullable fields become `union[null, T]`. */
  private[sources] def avroType(dt: DataType, name: String): Schema = dt match {
    case BooleanType => Schema.create(Schema.Type.BOOLEAN)
    case IntegerType | ShortType | ByteType => Schema.create(Schema.Type.INT)
    case LongType => Schema.create(Schema.Type.LONG)
    case TimestampType =>
      LogicalTypes.timestampMicros().addToSchema(Schema.create(Schema.Type.LONG))
    case DateType =>
      LogicalTypes.date().addToSchema(Schema.create(Schema.Type.INT))
    case d: DecimalType =>
      LogicalTypes.decimal(d.precision, d.scale).addToSchema(Schema.create(Schema.Type.BYTES))
    case FloatType => Schema.create(Schema.Type.FLOAT)
    case DoubleType => Schema.create(Schema.Type.DOUBLE)
    case StringType => Schema.create(Schema.Type.STRING)
    case BinaryType => Schema.create(Schema.Type.BYTES)
    case ArrayType(et, en) => Schema.createArray(wrapNullable(avroType(et, name + "_item"), en))
    case MapType(StringType, vt, vn) => Schema.createMap(wrapNullable(avroType(vt, name + "_value"), vn))
    case st: StructType => avroRecord(st, name)
    case other => throw new IllegalArgumentException(s"unsupported Spark type $other for avro")
  }

  private def wrapNullable(s: Schema, nullable: Boolean): Schema =
    if (nullable) Schema.createUnion(java.util.List.of(Schema.create(Schema.Type.NULL), s)) else s

  private[sources] def avroRecord(st: StructType, name: String): Schema = {
    val fields = st.fields.map { f =>
      new Schema.Field(f.name, wrapNullable(avroType(f.dataType, name + "_" + f.name), f.nullable),
        null, null)
    }
    Schema.createRecord(name, null, "graft", false, java.util.List.of(fields: _*))
  }

  // ---- value conversion ----------------------------------------------------

  private def rawBytes(v: Any): Array[Byte] = v match {
    case bb: java.nio.ByteBuffer =>
      val out = new Array[Byte](bb.remaining()); bb.duplicate().get(out); out
    case gf: GenericFixed => gf.bytes().clone()
    case b: Array[Byte] => b
  }

  /** Avro datum → Spark external value. `schema` is the (reader) field
    * schema — needed to tell timestamp-micros from timestamp-millis and to
    * carry the decimal scale; unions descend into their non-null branch.
    */
  private[sources] def toSpark(v: Any, dt: DataType, schema: Schema): Any =
    if (v == null) null
    else {
      val s = if (schema.getType == Schema.Type.UNION)
        schema.getTypes.asScala.find(_.getType != Schema.Type.NULL).get
      else schema
      dt match {
        case StringType => v.toString // Utf8 / enum symbol
        case BinaryType => rawBytes(v)
        case TimestampType =>
          if (s.getLogicalType != null && s.getLogicalType.getName == "timestamp-millis")
            new java.sql.Timestamp(v.asInstanceOf[Long])
          else {
            val micros = v.asInstanceOf[Long]
            val ts = new java.sql.Timestamp(Math.floorDiv(micros, 1000000L) * 1000L)
            ts.setNanos((Math.floorMod(micros, 1000000L) * 1000L).toInt)
            ts
          }
        // LocalDate, not java.sql.Date: epoch-day is timezone-free, and
        // Spark's input converters accept java.time directly
        case DateType => java.time.LocalDate.ofEpochDay(v.asInstanceOf[Int].toLong)
        case d: DecimalType =>
          new java.math.BigDecimal(new java.math.BigInteger(rawBytes(v)), d.scale)
        case ArrayType(et, _) =>
          v.asInstanceOf[java.util.Collection[Any]].asScala
            .map(toSpark(_, et, s.getElementType)).toSeq
        case MapType(_, vt, _) =>
          v.asInstanceOf[java.util.Map[Any, Any]].asScala
            .map { case (k, x) => k.toString -> toSpark(x, vt, s.getValueType) }.toMap
        case st: StructType =>
          val rec = v.asInstanceOf[GenericRecord]
          Row.fromSeq(st.fields.toIndexedSeq.map(f =>
            toSpark(rec.get(f.name), f.dataType, s.getField(f.name).schema())))
        case _ => v // int/long/float/double/boolean pass through
      }
    }

  private def toAvro(v: Any, dt: DataType, schema: Schema): Any =
    if (v == null) null
    else {
      // a nullable field's writer schema is union[null, T]: descend into T
      val s = if (schema.getType == Schema.Type.UNION)
        schema.getTypes.asScala.find(_.getType != Schema.Type.NULL).get
      else schema
      dt match {
        case BinaryType => java.nio.ByteBuffer.wrap(v.asInstanceOf[Array[Byte]])
        case TimestampType =>
          val ts = v.asInstanceOf[java.sql.Timestamp]
          // floorDiv, not /: getTime truncates toward zero, which shifts
          // every pre-epoch timestamp +1 s once the nanos are added back
          Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L
        case DateType => v match {
          case ld: java.time.LocalDate => ld.toEpochDay.toInt
          case d: java.sql.Date => d.toLocalDate.toEpochDay.toInt
        }
        case dt2: DecimalType =>
          val bd = v.asInstanceOf[java.math.BigDecimal].setScale(dt2.scale)
          java.nio.ByteBuffer.wrap(bd.unscaledValue().toByteArray)
        case ArrayType(et, _) =>
          v.asInstanceOf[scala.collection.Seq[Any]]
            .map(toAvro(_, et, s.getElementType)).asJava
        case MapType(_, vt, _) =>
          v.asInstanceOf[scala.collection.Map[String, Any]]
            .map { case (k, x) => k -> toAvro(x, vt, s.getValueType) }.asJava
        case st: StructType =>
          val row = v.asInstanceOf[Row]
          val rec = new GenericData.Record(s)
          st.fields.zipWithIndex.foreach { case (f, i) =>
            rec.put(f.name, toAvro(row.get(i), f.dataType, s.getField(f.name).schema()))
          }
          rec
        case ShortType => v.asInstanceOf[Short].toInt
        case ByteType => v.asInstanceOf[Byte].toInt
        case _ => v
      }
    }

  // ---- read ----------------------------------------------------------------

  /** Top-level record schema of the container at `path` (first file's
    * header), as a Spark schema — one driver-side header read, no data scan.
    */
  def schemaOf(path: String): StructType = {
    val f = Shards.list(path, ".avro").head
    val r = new DataFileReader[GenericRecord](
      new SeekableFileInput(new java.io.File(f)), new GenericDatumReader[GenericRecord]())
    try structOf(r.getSchema) finally r.close()
  }

  /** Reader-side projection: a record schema holding only `columns`, in
    * WRITER order (deterministic output; Avro's schema resolution then
    * SKIPS unprojected fields at decode — the narrow-read lever for wide
    * Kafka dumps, same role parquet column pruning plays). Unprojected
    * columns never reach the Spark type mapping either, so a wide container
    * with an exotic column in an unread field still reads fine.
    */
  private[sources] def projectSchema(writer: Schema, columns: Seq[String]): Schema = {
    val want = columns.toSet
    val have = writer.getFields.asScala.map(_.name).toSet
    val missing = want -- have
    require(missing.isEmpty, s"columns not in avro schema: ${missing.toSeq.sorted.mkString(", ")}")
    val fields = writer.getFields.asScala.filter(f => want(f.name))
      .map(f => new Schema.Field(f.name, f.schema, f.doc, f.defaultVal()))
    Schema.createRecord(writer.getName, writer.getDoc, writer.getNamespace, false,
      java.util.List.of(fields.toSeq: _*))
  }

  /** Splittable read on the [[Shards]] read path: every file chunks into
    * `splitBytes` byte ranges and each task syncs to the first block past
    * its range start and reads until past its end — the Avro container's own
    * split contract, so one big file fans out across the cluster.
    *
    * Tasks STREAM their range — one record in flight, the file handle
    * closed on exhaustion or task completion (never buffered: a 32 MB
    * deflate split can inflate to far more heap than one row). `columns`
    * (optional) projects the read to a field subset via an Avro reader
    * schema, skipping the decode of every other field.
    */
  def read(spark: SparkSession, path: String,
      splitBytes: Long = 32L * 1024 * 1024,
      columns: Seq[String] = Nil): DataFrame = {
    val files = Shards.list(path, ".avro")
    val head = new DataFileReader[GenericRecord](
      new SeekableFileInput(new java.io.File(files.head)), new GenericDatumReader[GenericRecord]())
    val (writerJson, readerJson) =
      try {
        val w = head.getSchema
        val r = if (columns.isEmpty) w else projectSchema(w, columns)
        (w.toString, r.toString)
      } finally head.close()
    val schema = structOf(new Schema.Parser().parse(readerJson))
    val ranges = Shards.plan(spark, files) { f =>
      val len = new java.io.File(f).length()
      (0L until math.max(len, 1L) by splitBytes).map(off => (f, off, math.min(splitBytes, len - off)))
    }
    val fields = schema.fields.map(f => (f.name, f.dataType))
    Shards.read(spark, ranges, schema) { case (f, off, len) =>
      // two Parser instances: both schemas carry the same record name, and
      // one parser refuses to define it twice
      val writerSchema = new Schema.Parser().parse(writerJson)
      val readerSchema =
        if (readerJson == writerJson) writerSchema
        else new Schema.Parser().parse(readerJson)
      val fieldSchemas = fields.map { case (n, _) => readerSchema.getField(n).schema() }
      val in = new SeekableFileInput(new java.io.File(f))
      Shards.stream(in) {
        val reader = new DataFileReader[GenericRecord](in,
          new GenericDatumReader[GenericRecord](writerSchema, readerSchema))
        reader.sync(off)
        Iterator.continually(()).takeWhile(_ => reader.hasNext && !reader.pastSync(off + len))
          .map { _ =>
            val rec = reader.next()
            Row.fromSeq(fields.toIndexedSeq.zipWithIndex.map { case ((n, dt), i) =>
              toSpark(rec.get(n), dt, fieldSchemas(i))
            })
          }
      }
    }
  }

  // ---- write ---------------------------------------------------------------

  /** Sharded write: one `.avro` container per partition in the [[Shards]]
    * layout, `codec` in {"null", "deflate", "snappy"} (deflate default — zlib
    * is JDK-native, snappy rides the bundled snappy-java).
    */
  def write(df: DataFrame, dir: String, codec: String = "deflate"): Unit = {
    val schema = df.schema
    val avroJson = avroRecord(schema, "row").toString
    def codecOf(name: String): CodecFactory = name match {
      case "null" => CodecFactory.nullCodec()
      case "deflate" => CodecFactory.deflateCodec(6)
      case "snappy" => CodecFactory.snappyCodec()
      case other => throw new IllegalArgumentException(s"unknown avro codec '$other'")
    }
    def writeOne(file: java.io.File, rows: Iterator[Row]): Long = {
      val avroSchema = new Schema.Parser().parse(avroJson)
      val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](avroSchema))
      w.setCodec(codecOf(codec))
      w.create(avroSchema, file)
      var n = 0L
      try rows.foreach { row =>
        val rec = new GenericData.Record(avroSchema)
        schema.fields.zipWithIndex.foreach { case (f, i) =>
          rec.put(f.name, toAvro(row.get(i), f.dataType, avroSchema.getField(f.name).schema()))
        }
        w.append(rec); n += 1
      } finally w.close()
      n
    }
    Shards.write(df, dir, "avro")(writeOne)
  }
}
