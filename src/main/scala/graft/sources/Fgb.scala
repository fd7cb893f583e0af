package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.geom._

/** Pure-Scala FlatGeobuf driver (reference: erde/io/fgb.py:11 — erde reads
  * and writes .fgb through fiona/GDAL; the format itself is an open spec:
  * https://flatgeobuf.org/ — magic bytes, flatbuffer Header with a column
  * schema, optional packed Hilbert R-tree, then size-prefixed flatbuffer
  * Features).
  *
  * Read is distributed (feature byte ranges on the [[Shards]] read path);
  * the optional spatial index is skipped by its computed size. Write is the driver-side single-file export path (bounded by
  * `maxRows`, like [[Shapefile.write]]) and emits no index — readers treat
  * `index_node_size = 0` as unindexed.
  */
object Fgb {

  private val Magic = Array[Byte](0x66, 0x67, 0x62, 0x03, 0x66, 0x67, 0x62, 0x00)

  // FlatGeobuf GeometryType enum
  private val GtPoint = 1; private val GtLineString = 2; private val GtPolygon = 3
  private val GtMultiPoint = 4; private val GtMultiLineString = 5
  private val GtMultiPolygon = 6; private val GtCollection = 7

  // FlatGeobuf ColumnType enum
  private object Ct {
    val Byte = 0; val UByte = 1; val Bool = 2; val Short = 3; val UShort = 4
    val Int = 5; val UInt = 6; val Long = 7; val ULong = 8; val Float = 9
    val Double = 10; val String = 11; val Json = 12; val DateTime = 13; val Binary = 14
  }

  private def sparkType(ct: Int): DataType = ct match {
    case Ct.Bool => BooleanType
    case Ct.Byte | Ct.UByte | Ct.Short | Ct.UShort | Ct.Int | Ct.UInt | Ct.Long | Ct.ULong => LongType
    case Ct.Float | Ct.Double => DoubleType
    case Ct.String | Ct.Json | Ct.DateTime => StringType
    case _ => BinaryType
  }

  /** Packed Hilbert R-tree byte size (flatbush layout: 40-byte nodes, all
    * levels from the `numItems` leaves up to and including the root).
    */
  private[sources] def indexSize(numItems: Long, nodeSize: Int): Long = {
    if (numItems == 0 || nodeSize == 0) return 0
    var n = numItems
    var numNodes = n
    while (n != 1) {
      n = (n + nodeSize - 1) / nodeSize
      numNodes += n
    }
    numNodes * 40L
  }

  private final case class ColSpec(name: String, ct: Int)

  private def parseHeader(bb: ByteBuffer): (String, Int, Seq[ColSpec], Long, Int) = {
    val size = bb.getInt(8)
    val root = new Flatbuf.FbTable(bb, 12 + bb.getInt(12))
    val name = root.string(0).getOrElse("layer")
    val geomType = root.getByte(2) & 0xff
    val cols = root.tableVector(7).map { c =>
      ColSpec(c.string(0).getOrElse(""), c.getByte(1) & 0xff)
    }
    val count = root.getLong(8)
    val nodeSize = root.getShort(9, 16) & 0xffff
    val _ = size
    (name, geomType, cols.toSeq, count, nodeSize)
  }

  private[sources] def geomOf(t: Flatbuf.FbTable, headerType: Int): Geom = {
    val gt = { val own = t.getByte(6) & 0xff; if (own != 0) own else headerType }
    val xy = t.doubleVector(1)
    val ends = t.intVector(0)
    def rings: Array[Array[Double]] = {
      if (ends.isEmpty) Array(xy)
      else {
        var start = 0
        ends.map { e => val r = xy.slice(start * 2, e * 2); start = e; r }
      }
    }
    gt match {
      case GtPoint => Point(xy(0), xy(1))
      case GtLineString => LineString(xy)
      case GtMultiPoint => MultiPoint(xy)
      case GtPolygon => Polygon(rings)
      case GtMultiLineString => MultiLineString(rings)
      case GtMultiPolygon =>
        MultiPolygon(t.tableVector(7).map { p =>
          val pxy = p.doubleVector(1)
          val pends = p.intVector(0)
          if (pends.isEmpty) Array(pxy)
          else {
            var start = 0
            pends.map { e => val r = pxy.slice(start * 2, e * 2); start = e; r }
          }
        }.toArray)
      case GtCollection =>
        GeomCollection(t.tableVector(7).map(p => geomOf(p, 0)).toArray)
      case other => throw new IllegalArgumentException(s"unsupported fgb geometry type $other")
    }
  }

  /** Decodes one feature's property stream. `keep(idx)` is the OUTPUT slot
    * for file column `idx`, or −1 to skip: the stream is self-describing
    * (tagged, length-prefixed), so skipped values advance the cursor without
    * allocating strings/blobs — the projection lever for wide tables.
    */
  private[sources] def parseProps(bb: ByteBuffer, at: Int, len: Int, cols: Seq[ColSpec],
      keep: Array[Int], nOut: Int): Array[Any] = {
    val out = new Array[Any](nOut)
    var p = at
    val end = at + len
    while (p < end) {
      val idx = bb.getShort(p) & 0xffff
      p += 2
      val ct = cols(idx).ct
      val o = keep(idx)
      ct match {
        case Ct.Bool => if (o >= 0) out(o) = bb.get(p) != 0; p += 1
        case Ct.Byte => if (o >= 0) out(o) = bb.get(p).toLong; p += 1
        case Ct.UByte => if (o >= 0) out(o) = (bb.get(p) & 0xff).toLong; p += 1
        case Ct.Short => if (o >= 0) out(o) = bb.getShort(p).toLong; p += 2
        case Ct.UShort => if (o >= 0) out(o) = (bb.getShort(p) & 0xffff).toLong; p += 2
        case Ct.Int => if (o >= 0) out(o) = bb.getInt(p).toLong; p += 4
        case Ct.UInt => if (o >= 0) out(o) = (bb.getInt(p) & 0xffffffffL); p += 4
        case Ct.Long | Ct.ULong => if (o >= 0) out(o) = bb.getLong(p); p += 8
        case Ct.Float => if (o >= 0) out(o) = bb.getFloat(p).toDouble; p += 4
        case Ct.Double => if (o >= 0) out(o) = bb.getDouble(p); p += 8
        case Ct.String | Ct.Json | Ct.DateTime =>
          val n = bb.getInt(p); p += 4
          if (o >= 0) {
            val b = new Array[Byte](n)
            var i = 0
            while (i < n) { b(i) = bb.get(p + i); i += 1 }
            out(o) = new String(b, "UTF-8")
          }
          p += n
        case _ =>
          val n = bb.getInt(p); p += 4
          if (o >= 0) {
            val b = new Array[Byte](n)
            var i = 0
            while (i < n) { b(i) = bb.get(p + i); i += 1 }
            out(o) = b
          }
          p += n
      }
    }
    out
  }

  /** Projection plumbing of [[read]]: the projected
    * Spark schema (file column order, geometry last when kept), the
    * file-column → output-slot map for [[parseProps]], and whether the
    * geometry needs decoding at all (skipping it skips the whole
    * flatbuffer-walk + WKB encode per feature).
    */
  private def projection(cols: Seq[ColSpec], columns: Seq[String])
      : (StructType, Array[Int], Int, Boolean) = {
    val all = cols.map(_.name) :+ "geometry"
    if (columns.isEmpty) {
      val schema = StructType(
        cols.map(c => StructField(c.name, sparkType(c.ct))) :+ StructField("geometry", BinaryType))
      (schema, cols.indices.toArray, cols.length, true)
    } else {
      val want = columns.toSet
      val missing = want -- all.toSet
      require(missing.isEmpty, s"columns not in fgb schema: ${missing.toSeq.sorted.mkString(", ")}")
      val keptProps = cols.zipWithIndex.filter { case (c, _) => want(c.name) }
      val keep = Array.fill(cols.length)(-1)
      keptProps.zipWithIndex.foreach { case ((_, fileIdx), outIdx) => keep(fileIdx) = outIdx }
      val withGeom = want("geometry")
      val schema = StructType(
        keptProps.map { case (c, _) => StructField(c.name, sparkType(c.ct)) } ++
          (if (withGeom) Seq(StructField("geometry", BinaryType)) else Nil))
      (schema, keep, keptProps.size, withGeom)
    }
  }

  /** Layer name and schema of an fgb file (geometry travels as WKB binary). */
  def schemaOf(bytes: Array[Byte]): (String, StructType) = {
    require(bytes.length > 12 && Magic.indices.forall(i => bytes(i) == Magic(i)),
      "not a FlatGeobuf file (bad magic)")
    val bb = Flatbuf.le(bytes)
    val (name, _, cols, _, _) = parseHeader(bb)
    (name, StructType(
      cols.map(c => StructField(c.name, sparkType(c.ct))) :+ StructField("geometry", BinaryType)))
  }

  /** The magic, size and header flatbuffer of one fgb file (two positional
    * reads; features untouched), ready for [[parseHeader]].
    */
  private def header(file: String): ByteBuffer = {
    val size = Flatbuf.le(Shards.readRange(file, 8, 4)).getInt(0)
    Flatbuf.le(Shards.readRange(file, 0, 12 + size))
  }

  /** Reads every `.fgb` under `path` as one frame on the [[Shards]] read
    * path: the first file's header gives the columns and the header
    * geometry type of every file (a layer's shards share them), each file
    * splits into byte ranges of `featuresPerSplit` features (found by
    * walking the size prefixes only), and the ranges decode in parallel —
    * each size-prefixed Feature flatbuffer is self-contained, so one big fgb
    * fans out across the cluster. `columns` (optional) projects the decode: unrequested
    * properties are cursor-skipped in the tagged property stream (no
    * allocation) and an unrequested geometry skips the flatbuffer walk + WKB
    * encode entirely. `filterWkt` keeps the features intersecting it.
    */
  def read(spark: SparkSession, path: String, filterWkt: Option[String] = None,
      columns: Seq[String] = Nil, featuresPerSplit: Int = 4096): DataFrame = {
    require(filterWkt.isEmpty || columns.isEmpty || columns.contains("geometry"),
      "filterWkt needs the geometry column — add it to columns")
    val files = Shards.list(path, ".fgb")
    val (_, geomType, cols, _, _) = parseHeader(header(files.head))
    val (schema, keep, nOut, withGeom) = projection(cols, columns)
    val ranges = Shards.plan(spark, files)(featureRanges(_, featuresPerSplit))
    val parsed = Shards.read(spark, ranges, schema, 2 * spark.sparkContext.defaultParallelism) {
      case (f, off, len) =>
        val buf = Shards.readRange(f, off, len)
        val bb = Flatbuf.le(buf)
        val rows = ArrayBuffer[Row]()
        var p = 0
        while (p + 4 <= buf.length) {
          val featSize = bb.getInt(p)
          val feat = new Flatbuf.FbTable(bb, p + 4 + bb.getInt(p + 4))
          val props = feat.byteVectorPos(1) match {
            case Some((at, l)) => parseProps(bb, at, l, cols, keep, nOut)
            case None => new Array[Any](nOut)
          }
          rows += (if (withGeom) {
            val geom = feat.table(0).map(g => WKB.write(geomOf(g, geomType))).orNull
            Row.fromSeq(props.toIndexedSeq :+ geom)
          } else Row.fromSeq(props.toIndexedSeq))
          p += 4 + featSize
        }
        rows.iterator
    }
    filterWkt match {
      case Some(wkt) =>
        import graft.functions.GeoFunctions._
        parsed.where(st_intersects(col("geometry"), st_geomfromtext(lit(wkt))))
      case None => parsed
    }
  }

  /** The byte ranges of one fgb file's feature frames, `featuresPerSplit`
    * features per range — found by walking the size prefixes only (seek
    * past each feature body, never read it).
    */
  private[sources] def featureRanges(file: String,
      featuresPerSplit: Int): Seq[(String, Long, Int)] = {
    val hdr = header(file)
    val (_, _, _, count, nodeSize) = parseHeader(hdr)
    val raf = new java.io.RandomAccessFile(file, "r")
    try {
      val len = raf.length()
      var p = hdr.capacity + indexSize(count, nodeSize)
      val out = ArrayBuffer[(String, Long, Int)]()
      var chunkStart = p
      var inChunk = 0
      while (p + 4 <= len) {
        raf.seek(p)
        p += 4 + Integer.reverseBytes(raf.readInt())
        inChunk += 1
        if (inChunk >= featuresPerSplit) {
          out += ((file, chunkStart, (p - chunkStart).toInt))
          chunkStart = p
          inChunk = 0
        }
      }
      if (inChunk > 0) out += ((file, chunkStart, (p - chunkStart).toInt))
      out.toSeq
    } finally raf.close()
  }

  /** The earlier name of [[read]], kept for its callers. */
  def readSplit(spark: SparkSession, path: String): DataFrame = read(spark, path)

  // ---- writer --------------------------------------------------------------

  private def fgbGeomType(g: Geom): Int = g match {
    case _: Point => GtPoint
    case _: LineString => GtLineString
    case _: MultiPoint => GtMultiPoint
    case _: Polygon => GtPolygon
    case _: MultiLineString => GtMultiLineString
    case _: MultiPolygon => GtMultiPolygon
    case _: GeomCollection => GtCollection
  }

  private def geomFields(g: Geom): Seq[(Int, Flatbuf.FbValue)] = {
    import Flatbuf._
    def endsOf(parts: Array[Array[Double]]): Array[Int] = {
      var acc = 0
      parts.map { r => acc += r.length / 2; acc }
    }
    val typeField = (6, Scalar(Array(fgbGeomType(g).toByte)))
    g match {
      case Point(x, y) => Seq((1, Ref(_.writeDoubleVector(Array(x, y)))), typeField)
      case LineString(cs) => Seq((1, Ref(_.writeDoubleVector(cs))), typeField)
      case MultiPoint(cs) => Seq((1, Ref(_.writeDoubleVector(cs))), typeField)
      case Polygon(rings) =>
        val flat = rings.flatten
        (if (rings.length > 1) Seq((0, Ref((b: FbBuilder) => b.writeIntVector(endsOf(rings))))) else Nil) ++
          Seq((1, Ref((b: FbBuilder) => b.writeDoubleVector(flat))), typeField)
      case MultiLineString(parts) =>
        val flat = parts.flatten
        (if (parts.length > 1) Seq((0, Ref((b: FbBuilder) => b.writeIntVector(endsOf(parts))))) else Nil) ++
          Seq((1, Ref((b: FbBuilder) => b.writeDoubleVector(flat))), typeField)
      case MultiPolygon(polys) =>
        Seq((7, Ref((b: FbBuilder) => b.writeTableVector(
          polys.toIndexedSeq.map(rings => (bb: FbBuilder) => bb.writeTable(geomFields(Polygon(rings))))))),
          typeField)
      case GeomCollection(gs) =>
        Seq((7, Ref((b: FbBuilder) => b.writeTableVector(
          gs.toIndexedSeq.map(gg => (bb: FbBuilder) => bb.writeTable(geomFields(gg)))))),
          typeField)
    }
  }

  private def colSpecOf(f: StructField): ColSpec = f.dataType match {
    case BooleanType => ColSpec(f.name, Ct.Bool)
    case ByteType | ShortType | IntegerType | LongType => ColSpec(f.name, Ct.Long)
    case FloatType | DoubleType => ColSpec(f.name, Ct.Double)
    case StringType => ColSpec(f.name, Ct.String)
    case BinaryType => ColSpec(f.name, Ct.Binary)
    case other => throw new IllegalArgumentException(s"fgb: unsupported column type $other for ${f.name}")
  }

  private def propBytes(row: Row, idxs: Seq[(Int, ColSpec)]): Array[Byte] = {
    val out = new ArrayBuffer[Byte]()
    def putShort(v: Int): Unit = { out += v.toByte; out += (v >> 8).toByte }
    def putInt(v: Int): Unit = { var i = 0; while (i < 4) { out += (v >> (8 * i)).toByte; i += 1 } }
    def putLong(v: Long): Unit = { var i = 0; while (i < 8) { out += (v >> (8 * i)).toByte; i += 1 } }
    idxs.zipWithIndex.foreach { case ((rowIdx, spec), colIdx) =>
      if (!row.isNullAt(rowIdx)) {
        putShort(colIdx)
        spec.ct match {
          case Ct.Bool => out += (if (row.getBoolean(rowIdx)) 1 else 0).toByte
          case Ct.Long =>
            putLong(row.get(rowIdx) match {
              case b: Byte => b.toLong; case s: Short => s.toLong
              case i: Int => i.toLong; case l: Long => l
            })
          case Ct.Double =>
            putLong(java.lang.Double.doubleToLongBits(row.get(rowIdx) match {
              case f: Float => f.toDouble; case d: Double => d
            }))
          case Ct.String =>
            val b = row.getString(rowIdx).getBytes("UTF-8")
            putInt(b.length); out ++= b
          case Ct.Binary =>
            val b = row.getAs[Array[Byte]](rowIdx)
            putInt(b.length); out ++= b
          case other => throw new IllegalArgumentException(s"fgb write: column type $other")
        }
      }
    }
    out.toArray
  }

  /** Writes `rows` to `file` as one complete .fgb (magic + header +
    * size-prefixed features, no spatial index) and returns the row count —
    * shared by the driver-side [[write]] and the shards of [[writeSharded]].
    */
  private def writeOne(rows: Array[Row], schema: StructType, geometryCol: String,
      layerName: String, file: java.io.File): Long = {
    import Flatbuf._
    val attrFields = schema.fields.filterNot(_.name == geometryCol)
    val specs = attrFields.map(colSpecOf)
    val rowIdxs = attrFields.map(f => schema.fieldIndex(f.name)).zip(specs).toSeq
    val geomIdx = schema.fieldIndex(geometryCol)
    val geoms = rows.map(r => WKB.read(r.getAs[Array[Byte]](geomIdx)))
    val types = geoms.map(fgbGeomType).distinct
    val headerType = if (types.length == 1) types.head else 0

    // header flatbuffer
    val hb = new FbBuilder
    val headerPos = hb.writeTable(Seq(
      0 -> Ref((b: FbBuilder) => b.writeString(layerName)),
      2 -> Scalar(Array(headerType.toByte)),
      7 -> Ref((b: FbBuilder) => b.writeTableVector(specs.toIndexedSeq.map { spec => (bb: FbBuilder) =>
        bb.writeTable(Seq(
          0 -> Ref((b2: FbBuilder) => b2.writeString(spec.name)),
          1 -> Scalar(Array(spec.ct.toByte))))
      })),
      8 -> Scalar { val b = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN); b.putLong(rows.length.toLong); b.array() },
      9 -> Scalar(Array[Byte](0, 0)) // index_node_size = 0: no index follows
    ))
    val out = new java.io.BufferedOutputStream(new java.io.FileOutputStream(file))
    try {
      out.write(Magic)
      out.write(hb.sizePrefixed(headerPos))
      // features
      rows.zip(geoms).foreach { case (row, geom) =>
        val fb = new FbBuilder
        val props = propBytes(row, rowIdxs)
        val featPos = fb.writeTable(Seq(
          0 -> Ref((b: FbBuilder) => b.writeTable(geomFields(geom)))) ++
          (if (props.nonEmpty) Seq(1 -> Ref((b: FbBuilder) => b.writeByteVector(props))) else Nil))
        out.write(fb.sizePrefixed(featPos))
      }
    } finally out.close()
    rows.length.toLong
  }

  /** Writes one `.fgb` file (driver-side legacy-export path, no spatial
    * index, capped at `maxRows` like [[Shapefile.write]]). The scale path is
    * [[writeSharded]].
    */
  def write(df: DataFrame, path: String, geometryCol: String = "geometry",
      layerName: String = "layer", maxRows: Int = 1000000): Unit = {
    val rows = Shards.collectCapped(df, maxRows, "Fgb.write",
      "use writeSharded (one .fgb per partition) or parquet/geojsonseq for large frames")
    writeOne(rows, df.schema, geometryCol, layerName, new java.io.File(path))
  }

  /** Distributed write: one standalone `.fgb` per partition under `dir` in
    * the [[Shards]] layout; [[read]] reads the directory back as one
    * frame.
    */
  def writeSharded(df: DataFrame, dir: String, geometryCol: String = "geometry",
      layerName: String = "layer"): Unit = {
    val schema = df.schema
    Shards.write(df, dir, "fgb", Some(layerName)) { (file, rows) =>
      writeOne(rows.toArray, schema, geometryCol, layerName, file)
    }
  }
}
