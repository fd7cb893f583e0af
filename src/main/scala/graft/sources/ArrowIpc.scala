package graft.sources

import java.nio.channels.FileChannel
import java.nio.file.{Paths, StandardOpenOption}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.arrow.compression.CommonsCompressionFactory
import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector._
import org.apache.arrow.vector.complex
import org.apache.arrow.vector.complex.ListVector
import org.apache.arrow.vector.complex.writer.BaseWriter.ListWriter
import org.apache.arrow.vector.compression.{CompressionUtil, NoCompressionCodec}
import org.apache.arrow.vector.ipc.{ArrowFileReader, ArrowFileWriter, ArrowStreamReader, ArrowStreamWriter}
import org.apache.arrow.vector.ipc.message.IpcOption
import org.apache.arrow.vector.types.{DateUnit, FloatingPointPrecision, TimeUnit}
import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema => ASchema}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Arrow IPC files (`.arrow`, the Feather-V2 / random-access file format) —
  * the zero-copy interchange lingua franca between the Python data world
  * (pyarrow / polars / pandas `to_feather`) and the JVM. Spark bundles the
  * arrow-java vector + memory jars for its pandas-UDF transport but ships no
  * Arrow file DataSource, so this driver speaks the IPC format through
  * arrow-java directly, in the house style of the other hand-rolled sources
  * (avro/shp/gpkg/fgb): metadata on the driver, decoding executor-side,
  * sharded parallel writes.
  *
  * Scale shape: the file format ends in a FOOTER that indexes every record
  * batch's offset and length — the split contract is even cleaner than
  * Avro's sync scan. [[read]] reads footers driver-side (metadata-only),
  * packs batches into ~`splitBytes` byte groups, and each task loads ONLY
  * its batches by footer offset: one big `.arrow` drop fans out across the
  * cluster with zero scan-to-find-splits cost. Writes chunk each partition
  * into `batchRows` record batches so files produced here re-split on read.
  * Batch-body compression (`lz4` frame or `zstd`, riding Spark's bundled
  * lz4-java/zstd-jni) is a per-batch-buffer concern in IPC, so compressed
  * files stay batch-splittable — unlike whole-file gzip.
  *
  * Column scope: every flat Spark type (bool / int8-64 / float32-64 / utf8 /
  * binary / date / timestamp-any-unit / decimal ≤ 38 digits), arbitrarily
  * nested LIST columns (embedding vectors, token-id arrays), STRUCT
  * columns (nullable, nested structs included — the typed-metadata shape
  * interchange dumps carry), and MAP columns over flat keys and
  * flat-or-list values (null values kept). Struct/map INSIDE a list or a
  * map is rejected LOUDLY on the write side — no silent byte-passthrough
  * — while reads accept anything the recursive extractor can type.
  * Geometry follows the house convention: WKB travels as a `binary`
  * column.
  */
object ArrowIpc {

  // ---- schema mapping ------------------------------------------------------

  /** Arrow field → Spark type. Unsigned ints and sub-int8 widths reject:
    * Spark has no unsigned lattice and a silent signed reinterpretation
    * would corrupt values ≥ 2^(w−1).
    */
  private[sources] def sparkType(f: Field): DataType = f.getType match {
    case _: ArrowType.Bool => BooleanType
    case t: ArrowType.Int =>
      require(t.getIsSigned, s"unsigned arrow int ${f.getName} unsupported (no Spark lattice)")
      t.getBitWidth match {
        case 8 => ByteType
        case 16 => ShortType
        case 32 => IntegerType
        case 64 => LongType
        case w => throw new IllegalArgumentException(s"arrow int width $w in ${f.getName}")
      }
    case t: ArrowType.FloatingPoint => t.getPrecision match {
      case FloatingPointPrecision.SINGLE => FloatType
      case FloatingPointPrecision.DOUBLE => DoubleType
      case p => throw new IllegalArgumentException(s"arrow fp precision $p in ${f.getName}")
    }
    case _: ArrowType.Utf8 | _: ArrowType.LargeUtf8 => StringType
    case _: ArrowType.Binary | _: ArrowType.LargeBinary | _: ArrowType.FixedSizeBinary =>
      BinaryType
    case _: ArrowType.Date => DateType // DAY and MILLISECOND both land on DateType
    case _: ArrowType.Timestamp => TimestampType // any unit; decode rescales
    case t: ArrowType.Decimal =>
      require(t.getPrecision <= DecimalType.MAX_PRECISION,
        s"arrow decimal precision ${t.getPrecision} exceeds Spark's ${DecimalType.MAX_PRECISION}")
      DecimalType(t.getPrecision, t.getScale)
    case _: ArrowType.List | _: ArrowType.LargeList =>
      val e = f.getChildren.get(0)
      ArrayType(sparkType(e), e.isNullable)
    case _: ArrowType.Struct =>
      StructType(f.getChildren.asScala.map(c =>
        StructField(c.getName, sparkType(c), c.isNullable)).toArray)
    case _: ArrowType.Map =>
      // map = list<entries: struct<key, value>> in the IPC spec
      val entries = f.getChildren.get(0)
      val kf = entries.getChildren.get(0)
      val vf = entries.getChildren.get(1)
      MapType(sparkType(kf), sparkType(vf), vf.isNullable)
    case other =>
      throw new IllegalArgumentException(
        s"unsupported arrow type $other in column ${f.getName}")
  }

  private[sources] def structOf(s: ASchema): StructType =
    StructType(s.getFields.asScala.map(f =>
      StructField(f.getName, sparkType(f), f.isNullable)).toArray)

  /** Spark → Arrow field; timestamps write as naive MICROSECOND (the UTC
    * convention this codebase pins session-wide), decimals as 128-bit.
    */
  private[sources] def arrowField(name: String, dt: DataType, nullable: Boolean): Field = {
    def flat(t: ArrowType) = new Field(name, new FieldType(nullable, t, null), null)
    dt match {
      case BooleanType => flat(ArrowType.Bool.INSTANCE)
      case ByteType => flat(new ArrowType.Int(8, true))
      case ShortType => flat(new ArrowType.Int(16, true))
      case IntegerType => flat(new ArrowType.Int(32, true))
      case LongType => flat(new ArrowType.Int(64, true))
      case FloatType => flat(new ArrowType.FloatingPoint(FloatingPointPrecision.SINGLE))
      case DoubleType => flat(new ArrowType.FloatingPoint(FloatingPointPrecision.DOUBLE))
      case StringType => flat(ArrowType.Utf8.INSTANCE)
      case BinaryType => flat(ArrowType.Binary.INSTANCE)
      case DateType => flat(new ArrowType.Date(DateUnit.DAY))
      case TimestampType => flat(new ArrowType.Timestamp(TimeUnit.MICROSECOND, null))
      case d: DecimalType =>
        require(d.precision <= DecimalType.MAX_PRECISION,
          s"decimal precision ${d.precision} exceeds arrow mapping in $name")
        flat(ArrowType.Decimal.createDecimal(d.precision, d.scale, 128))
      case ArrayType(et, en) =>
        require(!et.isInstanceOf[StructType] && !et.isInstanceOf[MapType],
          s"list-of-${et.typeName} column $name not mapped for arrow writes " +
            "(flatten it or lift it to a top-level column)")
        new Field(name, new FieldType(nullable, ArrowType.List.INSTANCE, null),
          java.util.List.of(arrowField("item", et, en)))
      case st: StructType =>
        new Field(name, new FieldType(nullable, ArrowType.Struct.INSTANCE, null),
          st.fields.map(sf => arrowField(sf.name, sf.dataType, sf.nullable))
            .toList.asJava)
      case MapType(kt, vt, vn) =>
        // the writer element lattice: flat keys, flat-or-list values —
        // struct/map inside a map rejects loudly, like inside a list
        Seq(kt, vt).foreach(t => require(
          !t.isInstanceOf[StructType] && !t.isInstanceOf[MapType],
          s"map over ${t.typeName} in column $name not mapped for arrow writes"))
        val entries = new Field(complex.MapVector.DATA_VECTOR_NAME,
          new FieldType(false, ArrowType.Struct.INSTANCE, null),
          java.util.List.of(
            arrowField(complex.MapVector.KEY_NAME, kt, nullable = false),
            arrowField(complex.MapVector.VALUE_NAME, vt, vn)))
        new Field(name, new FieldType(nullable, new ArrowType.Map(false), null),
          java.util.List.of(entries))
      case other =>
        throw new IllegalArgumentException(
          s"unsupported Spark type $other for arrow column $name")
    }
  }

  private[sources] def arrowSchema(st: StructType): ASchema =
    new ASchema(st.fields.map(f => arrowField(f.name, f.dataType, f.nullable)).toList.asJava)

  // ---- read ----------------------------------------------------------------

  /** Spark schema of the IPC file(s) at `path` — one driver-side footer
    * read, no data decode.
    */
  def schemaOf(path: String): StructType = {
    val ch = FileChannel.open(Paths.get(Shards.list(path, ".arrow").head), StandardOpenOption.READ)
    val alloc = new RootAllocator()
    val r = new ArrowFileReader(ch, alloc)
    try structOf(r.getVectorSchemaRoot.getSchema)
    finally { r.close(); alloc.close() }
  }

  /** Per-row extractor for one vector, resolved ONCE per loaded batch (no
    * per-value type dispatch). Values are materialized JVM objects, safe to
    * retain after the next batch overwrites the buffers.
    */
  private def extractor(v: ValueVector, dt: DataType): Int => Any = {
    val nonNull: Int => Any = (v, dt) match {
      case (b: BitVector, _) => i => b.get(i) == 1
      case (b: TinyIntVector, _) => i => b.get(i)
      case (b: SmallIntVector, _) => i => b.get(i)
      case (b: IntVector, _) => i => b.get(i)
      case (b: BigIntVector, _) => i => b.get(i)
      case (b: Float4Vector, _) => i => b.get(i)
      case (b: Float8Vector, _) => i => b.get(i)
      case (b: VarCharVector, _) => i => new String(b.get(i), "UTF-8")
      case (b: LargeVarCharVector, _) => i => new String(b.get(i), "UTF-8")
      case (b: VarBinaryVector, _) => i => b.get(i)
      case (b: LargeVarBinaryVector, _) => i => b.get(i)
      case (b: FixedSizeBinaryVector, _) => i => b.get(i)
      case (b: DateDayVector, _) => i => java.time.LocalDate.ofEpochDay(b.get(i).toLong)
      case (b: DateMilliVector, _) =>
        i => java.time.LocalDate.ofEpochDay(Math.floorDiv(b.get(i), 86400000L))
      case (b: TimeStampVector, _) =>
        val unit = b.getField.getType.asInstanceOf[ArrowType.Timestamp].getUnit
        val toMicros: Long => Long = unit match {
          case TimeUnit.SECOND => _ * 1000000L
          case TimeUnit.MILLISECOND => _ * 1000L
          case TimeUnit.MICROSECOND => identity
          case TimeUnit.NANOSECOND => Math.floorDiv(_, 1000L)
        }
        i => {
          val micros = toMicros(b.get(i))
          val ts = new java.sql.Timestamp(Math.floorDiv(micros, 1000000L) * 1000L)
          ts.setNanos((Math.floorMod(micros, 1000000L) * 1000L).toInt)
          ts
        }
      case (b: DecimalVector, _) => i => b.getObject(i)
      case (b: complex.MapVector, MapType(kt, vt, _)) =>
        val entries = b.getDataVector.asInstanceOf[complex.StructVector]
        val ke = extractor(entries.getChild(complex.MapVector.KEY_NAME), kt)
        val ve = extractor(entries.getChild(complex.MapVector.VALUE_NAME), vt)
        i => {
          val start = b.getElementStartIndex(i)
          val end = b.getElementEndIndex(i)
          (start until end).map(j => ke(j) -> ve(j)).toMap
        }
      case (b: ListVector, ArrayType(et, _)) =>
        val elem = extractor(b.getDataVector, et)
        i => {
          val start = b.getElementStartIndex(i)
          val end = b.getElementEndIndex(i)
          (start until end).map(elem).toSeq
        }
      case (b: complex.NonNullableStructVector, st: StructType) =>
        // covers the nullable StructVector too (its subclass); the outer
        // null wrapper consults the struct's own validity
        val kids = st.fields.map(f => extractor(b.getChild(f.name), f.dataType))
        i => Row.fromSeq(kids.toIndexedSeq.map(_(i)))
      case (other, d) =>
        throw new IllegalArgumentException(
          s"no extractor for arrow vector ${other.getClass.getSimpleName} as Spark $d")
    }
    i => if (v.isNull(i)) null else nonNull(i)
  }

  /** Per-batch body lengths from one file's footer — metadata-only, no
    * batch decode.
    */
  private[sources] def footerBatchLens(f: String): Seq[Long] = {
    val ch = FileChannel.open(Paths.get(f), StandardOpenOption.READ)
    val alloc = new RootAllocator()
    val r = new ArrowFileReader(ch, alloc)
    try r.getRecordBlocks.asScala.map(_.getBodyLength).toSeq
    finally { r.close(); alloc.close() }
  }

  /** `schemaFull` narrowed to `columns` in writer order (deterministic
    * output, like the avro projection); every column when empty.
    */
  private def project(schemaFull: StructType, columns: Seq[String]): StructType =
    if (columns.isEmpty) schemaFull
    else {
      val missing = columns.filterNot(schemaFull.fieldNames.toSet)
      require(missing.isEmpty, s"columns not in arrow schema: ${missing.sorted.mkString(", ")}")
      StructType(schemaFull.fields.filter(f => columns.contains(f.name)))
    }

  /** The rows of the batch `root` holds, materialized (the next batch load
    * reuses its buffers).
    */
  private[sources] def batchRows(root: VectorSchemaRoot,
      fields: Array[(String, DataType)]): IndexedSeq[Row] = {
    val ex = fields.map { case (n, dt) => extractor(root.getVector(n), dt) }
    (0 until root.getRowCount).map(i => Row.fromSeq(ex.toIndexedSeq.map(_(i))))
  }

  /** Footer-indexed parallel read on the [[Shards]] read path: each file's
    * footer is read (metadata-only, planned like every [[Shards.plan]]) and
    * record batches greedily pack into ~`splitBytes` groups; each task
    * seeks straight to its batches. `columns` projects at the BATCH LOAD
    * level — unprojected columns' buffers are still indexed by the footer
    * but their values never decode into rows.
    */
  def read(spark: SparkSession, path: String,
      splitBytes: Long = 32L * 1024 * 1024,
      columns: Seq[String] = Nil): DataFrame = {
    val files = Shards.list(path, ".arrow")
    val schema = project(schemaOf(files.head), columns)
    val splits = Shards.plan(spark, files) { f =>
      val groups = ArrayBuffer(ArrayBuffer[Int]())
      var bytes = 0L
      footerBatchLens(f).zipWithIndex.foreach { case (len, i) =>
        if (groups.last.nonEmpty && bytes + len > splitBytes) { groups += ArrayBuffer[Int](); bytes = 0L }
        groups.last += i; bytes += len
      }
      groups.filter(_.nonEmpty).map(g => (f, g.toSeq)).toSeq
    }
    val fields = schema.fields.map(f => (f.name, f.dataType))
    Shards.read(spark, splits, schema) { case (f, batchIdxs) =>
      val alloc = new RootAllocator()
      val reader = new ArrowFileReader(
        FileChannel.open(Paths.get(f), StandardOpenOption.READ), alloc)
      Shards.stream(() => { reader.close(); alloc.close() }) {
        val blocks = reader.getRecordBlocks
        batchIdxs.iterator.flatMap { bi =>
          reader.loadRecordBatch(blocks.get(bi))
          batchRows(reader.getVectorSchemaRoot, fields)
        }
      }
    }
  }

  // ---- write ---------------------------------------------------------------

  /** Null-aware per-row setter for one vector at a batch-local row index.
    * A LIST column routes nulls through its one writer too — a second
    * writer on the same vector would desync offset/validity state.
    */
  private def setter(v: ValueVector, dt: DataType): (Int, Any) => Unit = {
    def flat[T <: ValueVector](b: T)(set: (Int, Any) => Unit): (Int, Any) => Unit =
      (i, x) => if (x == null) setNull(b, i) else set(i, x)
    (v, dt) match {
      case (b: BitVector, _) =>
        flat(b)((i, x) => b.setSafe(i, if (x.asInstanceOf[Boolean]) 1 else 0))
      case (b: TinyIntVector, _) => flat(b)((i, x) => b.setSafe(i, x.asInstanceOf[Byte].toInt))
      case (b: SmallIntVector, _) => flat(b)((i, x) => b.setSafe(i, x.asInstanceOf[Short].toInt))
      case (b: IntVector, _) => flat(b)((i, x) => b.setSafe(i, x.asInstanceOf[Int]))
      case (b: BigIntVector, _) => flat(b)((i, x) => b.setSafe(i, x.asInstanceOf[Long]))
      case (b: Float4Vector, _) => flat(b)((i, x) => b.setSafe(i, x.asInstanceOf[Float]))
      case (b: Float8Vector, _) => flat(b)((i, x) => b.setSafe(i, x.asInstanceOf[Double]))
      case (b: VarCharVector, _) =>
        flat(b)((i, x) => b.setSafe(i, x.asInstanceOf[String].getBytes("UTF-8")))
      case (b: VarBinaryVector, _) =>
        flat(b)((i, x) => b.setSafe(i, x.asInstanceOf[Array[Byte]]))
      case (b: DateDayVector, _) => flat(b)((i, x) => b.setSafe(i, epochDays(x)))
      case (b: TimeStampMicroVector, _) => flat(b)((i, x) => b.setSafe(i, epochMicros(x)))
      case (b: DecimalVector, d: DecimalType) =>
        flat(b)((i, x) => b.setSafe(i, toJavaBigDecimal(x).setScale(d.scale)))
      case (b: complex.MapVector, MapType(kt, vt, _)) =>
        val w = b.getWriter
        (i, x) => {
          w.setPosition(i)
          if (x == null) w.writeNull()
          else {
            w.startMap()
            x.asInstanceOf[scala.collection.Map[Any, Any]].foreach { case (k, v) =>
              w.startEntry()
              writeElem(w.key(), kt, k)
              writeElem(w.value(), vt, v)
              w.endEntry()
            }
            w.endMap()
          }
        }
      case (b: ListVector, ArrayType(et, _)) =>
        val w = b.getWriter
        (i, x) => {
          w.setPosition(i)
          if (x == null) w.writeNull()
          else writeList(w, et, x.asInstanceOf[scala.collection.Seq[Any]])
        }
      case (b: complex.NonNullableStructVector, st: StructType) =>
        // children are written directly (they realloc via their own setSafe
        // paths); the struct's validity bit is set per row — setIndexDefined
        // reallocs the validity buffer itself, and setValueCount at batch
        // close fills child holes left by null struct rows
        val kids = st.fields.map(f => setter(b.getChild(f.name), f.dataType))
        (i, x) =>
          if (x == null) b match {
            case sv: complex.StructVector => sv.setNull(i)
            case _ => throw new IllegalArgumentException(
              s"null struct value in a non-nullable arrow struct column at row $i")
          } else {
            b match { case sv: complex.StructVector => sv.setIndexDefined(i); case _ => () }
            val r = x.asInstanceOf[Row]
            var k = 0
            while (k < kids.length) { kids(k)(i, r.get(k)); k += 1 }
          }
      case (other, d) =>
        throw new IllegalArgumentException(
          s"no setter for arrow vector ${other.getClass.getSimpleName} as Spark $d")
    }
  }

  private def epochDays(x: Any): Int = x match {
    case ld: java.time.LocalDate => ld.toEpochDay.toInt
    case d: java.sql.Date => d.toLocalDate.toEpochDay.toInt
  }

  private def epochMicros(x: Any): Long = x match {
    case ts: java.sql.Timestamp =>
      // floorDiv, not /: getTime truncates toward zero, shifting pre-epoch
      // timestamps +1 s once nanos are added back (the avro lesson)
      Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L
    case inst: java.time.Instant =>
      inst.getEpochSecond * 1000000L + inst.getNano / 1000L
  }

  private def toJavaBigDecimal(x: Any): java.math.BigDecimal = x match {
    case d: java.math.BigDecimal => d
    case d: BigDecimal => d.bigDecimal
  }

  /** One element through the writer API (LIST offsets/validity and MAP
    * entry state are writer-owned — direct child setSafe would desync
    * them). `w` is a ListWriter, a map writer's key()/value() mode, or a
    * nested list() — the scalar dispatch is identical for all three.
    */
  private def writeElem(w: ListWriter, et: DataType, x: Any): Unit = et match {
    case LongType =>
      if (x == null) w.bigInt().writeNull() else w.bigInt().writeBigInt(x.asInstanceOf[Long])
    case IntegerType =>
      if (x == null) w.integer().writeNull() else w.integer().writeInt(x.asInstanceOf[Int])
    case ShortType =>
      if (x == null) w.smallInt().writeNull()
      else w.smallInt().writeSmallInt(x.asInstanceOf[Short])
    case ByteType =>
      if (x == null) w.tinyInt().writeNull() else w.tinyInt().writeTinyInt(x.asInstanceOf[Byte])
    case DoubleType =>
      if (x == null) w.float8().writeNull() else w.float8().writeFloat8(x.asInstanceOf[Double])
    case FloatType =>
      if (x == null) w.float4().writeNull() else w.float4().writeFloat4(x.asInstanceOf[Float])
    case BooleanType =>
      if (x == null) w.bit().writeNull()
      else w.bit().writeBit(if (x.asInstanceOf[Boolean]) 1 else 0)
    case StringType =>
      if (x == null) w.varChar().writeNull()
      else w.varChar().writeVarChar(x.asInstanceOf[String])
    case BinaryType =>
      if (x == null) w.varBinary().writeNull()
      else w.varBinary().writeVarBinary(x.asInstanceOf[Array[Byte]])
    case DateType =>
      if (x == null) w.dateDay().writeNull() else w.dateDay().writeDateDay(epochDays(x))
    case TimestampType =>
      if (x == null) w.timeStampMicro().writeNull()
      else w.timeStampMicro().writeTimeStampMicro(epochMicros(x))
    case ArrayType(inner, _) =>
      if (x == null) w.list().writeNull()
      else writeList(w.list(), inner, x.asInstanceOf[scala.collection.Seq[Any]])
    case other =>
      throw new IllegalArgumentException(s"unsupported arrow list element type $other")
  }

  private def writeList(w: ListWriter, et: DataType, xs: scala.collection.Seq[Any]): Unit = {
    w.startList()
    xs.foreach(x => writeElem(w, et, x))
    w.endList()
  }

  private def setNull(v: ValueVector, i: Int): Unit = v match {
    case b: BaseFixedWidthVector => b.setNull(i)
    case b: BaseVariableWidthVector => b.setNull(i)
    case b: BaseLargeVariableWidthVector => b.setNull(i)
    case other => throw new IllegalArgumentException(
      s"no null setter for ${other.getClass.getSimpleName}")
  }

  /** Sharded write: one `.arrow` file per partition in the [[Shards]]
    * layout, rows chunked into `batchRows` record batches (each batch is a
    * split on re-read). `codec` in {"null", "lz4", "zstd"} compresses batch
    * BODIES — the file stays footer-indexed and batch-splittable.
    */
  def write(df: DataFrame, dir: String, codec: String = "lz4",
      batchRows: Int = 1 << 14): Unit =
    writeFmt(df, dir, codec, batchRows, stream = false)

  /** The STREAMING IPC format (`.arrows`): the same record batches with no
    * footer — the framing pyarrow's `open_stream`, Flight, and socket/pipe
    * producers speak. Without a footer there is no random access, so the
    * read unit is one FILE per task (the sharded write keeps parallelism);
    * use the `.arrow` FILE format when one big drop must fan out by splits.
    */
  def writeArrows(df: DataFrame, dir: String, codec: String = "lz4",
      batchRows: Int = 1 << 14): Unit =
    writeFmt(df, dir, codec, batchRows, stream = true)

  private def writeFmt(df: DataFrame, dir: String, codec: String,
      batchRows: Int, stream: Boolean): Unit = {
    val schema = df.schema
    schema.fields.foreach(f => arrowField(f.name, f.dataType, f.nullable)) // fail fast
    val schemaJson = arrowSchema(schema).toJson
    val suffix = if (stream) "arrows" else "arrow"
    def writeOne(file: java.io.File, rows: Iterator[Row]): Long = {
      val aschema = ASchema.fromJSON(schemaJson)
      val alloc = new RootAllocator()
      val root = VectorSchemaRoot.create(aschema, alloc)
      val ch = FileChannel.open(file.toPath, StandardOpenOption.CREATE,
        StandardOpenOption.WRITE, StandardOpenOption.TRUNCATE_EXISTING)
      val (factory, ctype) = codec match {
        case "null" => (NoCompressionCodec.Factory.INSTANCE,
          CompressionUtil.CodecType.NO_COMPRESSION)
        case "lz4" => (CommonsCompressionFactory.INSTANCE, CompressionUtil.CodecType.LZ4_FRAME)
        case "zstd" => (CommonsCompressionFactory.INSTANCE, CompressionUtil.CodecType.ZSTD)
        case other => throw new IllegalArgumentException(s"unknown arrow codec '$other'")
      }
      val writer =
        if (stream) new ArrowStreamWriter(root, null, ch, IpcOption.DEFAULT, factory, ctype)
        else new ArrowFileWriter(root, null, ch, null, IpcOption.DEFAULT, factory, ctype)
      var total = 0L
      try {
        writer.start()
        val fields = schema.fields
        while (rows.hasNext) {
          root.allocateNew()
          val vecs = fields.indices.map(i => root.getVector(i))
          val set = fields.indices.map(i => setter(vecs(i), fields(i).dataType))
          var n = 0
          while (n < batchRows && rows.hasNext) {
            val row = rows.next()
            var c = 0
            while (c < fields.length) {
              set(c)(n, row.get(c))
              c += 1
            }
            n += 1
          }
          root.setRowCount(n)
          writer.writeBatch()
          total += n
        }
        if (total == 0) { root.allocateNew(); root.setRowCount(0); writer.writeBatch() }
      } finally {
        writer.close(); root.close(); alloc.close()
      }
      total
    }
    Shards.write(df, dir, suffix)(writeOne)
  }

  // ---- streaming-format read -----------------------------------------------

  /** Spark schema of the streaming-format file(s): the schema message leads
    * the stream, so this reads a few hundred bytes of the first file.
    */
  def schemaOfArrows(path: String): StructType = {
    val ch = FileChannel.open(Paths.get(Shards.list(path, ".arrows").head), StandardOpenOption.READ)
    val alloc = new RootAllocator()
    val r = new ArrowStreamReader(ch, alloc, CommonsCompressionFactory.INSTANCE)
    try structOf(r.getVectorSchemaRoot.getSchema)
    finally { r.close(); alloc.close() }
  }

  /** Reads streaming-format Arrow (`.arrows`). No footer → no byte-range
    * splits: one task per file, batches streamed one at a time (a task
    * holds one batch of rows, not one file). `columns` projects in writer
    * order, as in [[read]].
    */
  def readArrows(spark: SparkSession, path: String,
      columns: Seq[String] = Nil): DataFrame = {
    val files = Shards.list(path, ".arrows")
    val schema = project(schemaOfArrows(files.head), columns)
    val fields = schema.fields.map(f => (f.name, f.dataType))
    Shards.read(spark, files, schema) { f =>
      val alloc = new RootAllocator()
      val reader = new ArrowStreamReader(FileChannel.open(Paths.get(f), StandardOpenOption.READ),
        alloc, CommonsCompressionFactory.INSTANCE)
      Shards.stream(() => { reader.close(); alloc.close() }) {
        Iterator.continually(reader.loadNextBatch()).takeWhile(identity)
          .flatMap(_ => batchRows(reader.getVectorSchemaRoot, fields))
      }
    }
  }
}
