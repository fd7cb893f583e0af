package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.types._

import graft.geom._

/** ESRI shapefile IO (public format spec: .shp geometry + .dbf dBase III
  * attributes), extending the reference's format matrix (erde/io drivers
  * delegate shp to fiona/GDAL; graft parses the format directly — the
  * zero-egress image has no GDAL, and a self-contained parser runs on every
  * executor).
  *
  * Layout: `spark.read.format("binaryFile")` lists `*.shp`, each file parses
  * in one task (shapefiles cap at 2 GB by spec; many files parallelize
  * naturally), and the sibling `.dbf` supplies one attribute row per record.
  * Shape types 1/3/5/8 (+ their M/Z variants' 2D prefix) are supported.
  */
object Shapefile {

  // ---- .shp ---------------------------------------------------------------

  private def parseShpRecords(bytes: Array[Byte]): Seq[(Int, Geom)] = {
    val buf = ByteBuffer.wrap(bytes)
    require(buf.order(ByteOrder.BIG_ENDIAN).getInt(0) == 9994, "not a shapefile (.shp magic)")
    val fileWords = buf.getInt(24) // length in 16-bit words
    var pos = 100
    val out = ArrayBuffer[(Int, Geom)]()
    while (pos + 8 <= fileWords * 2) {
      buf.order(ByteOrder.BIG_ENDIAN)
      val recNo = buf.getInt(pos)
      val contentWords = buf.getInt(pos + 4)
      val start = pos + 8
      buf.order(ByteOrder.LITTLE_ENDIAN)
      val shapeType = buf.getInt(start)
      val g = shapeType match {
        case 0 => null // null shape
        case 1 | 11 | 21 => // Point / PointZ / PointM: 2D prefix identical
          Point(buf.getDouble(start + 4), buf.getDouble(start + 12))
        case 8 | 18 | 28 => // MultiPoint
          val n = buf.getInt(start + 36)
          val cs = new Array[Double](n * 2)
          var i = 0
          while (i < n * 2) { cs(i) = buf.getDouble(start + 40 + i * 8); i += 1 }
          MultiPoint(cs)
        case 3 | 13 | 23 | 5 | 15 | 25 => // PolyLine / Polygon families
          val numParts = buf.getInt(start + 36)
          val numPoints = buf.getInt(start + 40)
          val partsOff = start + 44
          val pointsOff = partsOff + numParts * 4
          val parts = Array.tabulate(numParts)(i => buf.getInt(partsOff + i * 4))
          val rings = Array.tabulate(numParts) { p =>
            val from = parts(p)
            val until = if (p + 1 < numParts) parts(p + 1) else numPoints
            val cs = new Array[Double]((until - from) * 2)
            var i = 0
            while (i < cs.length) { cs(i) = buf.getDouble(pointsOff + (from * 2 + i) * 8); i += 1 }
            cs
          }
          if (shapeType % 10 == 3) {
            if (rings.length == 1) LineString(rings(0)) else MultiLineString(rings)
          } else Polygon(rings) // shell + holes by ring winding; kept as one polygon
        case other => throw new IllegalArgumentException(s"unsupported shape type $other")
      }
      if (g != null) out += ((recNo, g))
      pos = start + contentWords * 2
    }
    out.toSeq
  }

  // ---- .dbf ---------------------------------------------------------------

  private final case class DbfField(name: String, typ: Char, length: Int)

  private def parseDbf(bytes: Array[Byte]): (Seq[DbfField], Seq[Seq[String]]) = {
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val numRecords = buf.getInt(4)
    val headerSize = buf.getShort(8) & 0xffff
    val recordSize = buf.getShort(10) & 0xffff
    val fields = ArrayBuffer[DbfField]()
    var off = 32
    while (off < headerSize - 1 && bytes(off) != 0x0d) {
      val name = new String(bytes, off, 11, StandardCharsets.US_ASCII).takeWhile(_ != 0).trim
      val typ = bytes(off + 11).toChar
      val len = bytes(off + 16) & 0xff
      fields += DbfField(name, typ, len)
      off += 32
    }
    val rows = ArrayBuffer[Seq[String]]()
    var r = 0
    while (r < numRecords) {
      val base = headerSize + r * recordSize
      if (bytes(base) != '*') { // '*' = deleted
        var fo = base + 1
        val vals = fields.map { f =>
          val v = new String(bytes, fo, f.length, StandardCharsets.US_ASCII).trim
          fo += f.length
          v
        }
        rows += vals.toSeq
      }
      r += 1
    }
    (fields.toSeq, rows.toSeq)
  }

  /** Reads `*.shp` under `path` (with sibling `.dbf` attributes when present):
    * columns = dbf fields (N → double, others string) ++ `geometry` WKB.
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val files = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.shp").load(path)
      .select("path", "content").as[(String, Array[Byte])]

    // field schema from the first file's dbf (consistent layers by convention)
    val conf = spark.sparkContext.hadoopConfiguration
    def dbfBytesFor(shpPath: String): Option[Array[Byte]] = {
      val p = new org.apache.hadoop.fs.Path(shpPath.stripSuffix(".shp") + ".dbf")
      val fs = p.getFileSystem(conf)
      if (fs.exists(p)) {
        val in = fs.open(p)
        try {
          val len = fs.getFileStatus(p).getLen.toInt
          val arr = new Array[Byte](len)
          in.readFully(0, arr)
          Some(arr)
        } finally in.close()
      } else None
    }
    val firstShp = files.select("path").as[String].head()
    val fields = dbfBytesFor(firstShp).map(b => parseDbf(b)._1).getOrElse(Nil)

    val schema = StructType(
      fields.map(f => StructField(f.name,
        if (f.typ == 'N' || f.typ == 'F') DoubleType else StringType)) :+
        StructField("geometry", BinaryType))
    val enc = RowEncoder.encoderFor(schema)
    val hadoopConfSer = new org.apache.spark.util.SerializableConfiguration(conf)
    val fieldTypes = fields.map(f => (f.name, f.typ)).toArray

    files.mapPartitions { it =>
      it.flatMap { case (shpPath, shpBytes) =>
        val geoms = parseShpRecords(shpBytes)
        val attrs: Map[Int, Seq[String]] = {
          val p = new org.apache.hadoop.fs.Path(shpPath.stripSuffix(".shp") + ".dbf")
          val fs = p.getFileSystem(hadoopConfSer.value)
          if (fs.exists(p)) {
            val len = fs.getFileStatus(p).getLen.toInt
            val arr = new Array[Byte](len)
            val in = fs.open(p)
            try in.readFully(0, arr) finally in.close()
            parseDbf(arr)._2.zipWithIndex.map { case (v, i) => (i + 1, v) }.toMap
          } else Map.empty
        }
        geoms.map { case (recNo, g) =>
          val vals = attrs.get(recNo) match {
            case Some(vs) => fieldTypes.zip(vs).map {
              // dBase marks nulls/overflow with '*' padding; be lenient
              case ((_, 'N' | 'F'), v) =>
                v.toDoubleOption.map(java.lang.Double.valueOf).orNull
              case (_, v) => v
            }.toSeq
            case None => fieldTypes.map(_ => null).toSeq
          }
          Row.fromSeq(vals :+ WKB.write(g))
        }
      }
    }(enc)
  }

  /** Record slice parser: `bytes` holds whole records (headers included),
    * starting at record number `firstRecNo`'s header.
    */
  private def parseRecordSlice(bytes: Array[Byte]): Seq[(Int, Geom)] = {
    // synthesize a minimal header so parseShpRecords' offsets line up
    val withHeader = new Array[Byte](100 + bytes.length)
    val hb = ByteBuffer.wrap(withHeader).order(ByteOrder.BIG_ENDIAN)
    hb.putInt(0, 9994)
    hb.putInt(24, (100 + bytes.length) / 2)
    System.arraycopy(bytes, 0, withHeader, 100, bytes.length)
    parseShpRecords(withHeader)
  }

  /** Splittable read: the tiny `.shx` index (8 bytes per record) yields
    * record byte offsets, so one large `.shp` fans out across the cluster as
    * byte-range splits — each task seeks and parses only its records. The
    * scale path for the format's 2 GB-max files; attribute join via `.dbf`
    * record numbers as in [[read]].
    */
  def readSplit(spark: SparkSession, path: String, recordsPerSplit: Int = 65536): DataFrame = {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration

    def readFully(p: org.apache.hadoop.fs.Path): Array[Byte] = {
      val fs = p.getFileSystem(conf)
      val len = fs.getFileStatus(p).getLen.toInt
      val arr = new Array[Byte](len)
      val in = fs.open(p)
      try in.readFully(0, arr) finally in.close()
      arr
    }

    // driver-side: list files, read their small .shx indexes → split plan
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(conf)
    val shpFiles = {
      val st = fs.getFileStatus(new org.apache.hadoop.fs.Path(path))
      if (st.isDirectory)
        fs.listStatus(new org.apache.hadoop.fs.Path(path))
          .map(_.getPath).filter(_.getName.endsWith(".shp"))
      else Array(st.getPath)
    }
    require(shpFiles.nonEmpty, s"no .shp under $path")

    val splits = shpFiles.toSeq.flatMap { shp =>
      val shx = readFully(new org.apache.hadoop.fs.Path(shp.toString.stripSuffix(".shp") + ".shx"))
      val nRecords = (shx.length - 100) / 8
      val idx = ByteBuffer.wrap(shx).order(ByteOrder.BIG_ENDIAN)
      def offsetBytes(rec: Int): Long = idx.getInt(100 + rec * 8).toLong * 2
      def lenBytes(rec: Int): Long = idx.getInt(100 + rec * 8 + 4).toLong * 2 + 8
      (0 until nRecords by recordsPerSplit).map { start =>
        val end = math.min(start + recordsPerSplit, nRecords) - 1
        val from = offsetBytes(start)
        val until = offsetBytes(end) + lenBytes(end)
        (shp.toString, start + 1, from, until)
      }
    }

    val fields = {
      val first = shpFiles.head.toString.stripSuffix(".shp") + ".dbf"
      val p = new org.apache.hadoop.fs.Path(first)
      if (p.getFileSystem(conf).exists(p)) parseDbf(readFully(p))._1 else Nil
    }
    val schema = StructType(
      fields.map(f => StructField(f.name,
        if (f.typ == 'N' || f.typ == 'F') DoubleType else StringType)) :+
        StructField("geometry", BinaryType))
    val enc = RowEncoder.encoderFor(schema)
    val hadoopConfSer = new org.apache.spark.util.SerializableConfiguration(conf)
    val fieldTypes = fields.map(f => (f.name, f.typ)).toArray

    val planned = splits.toDF("path", "firstRec", "from", "until")
      .repartition(math.min(splits.size, spark.sparkContext.defaultParallelism))
      .as[(String, Int, Long, Long)]

    planned.mapPartitions { it =>
      val cache = scala.collection.mutable.Map.empty[String, Map[Int, Seq[String]]]
      it.flatMap { case (shpPath, _, from, until) =>
        val p = new org.apache.hadoop.fs.Path(shpPath)
        val fs2 = p.getFileSystem(hadoopConfSer.value)
        val in = fs2.open(p)
        val slice = new Array[Byte]((until - from).toInt)
        try in.readFully(from, slice) finally in.close()
        val attrs = cache.getOrElseUpdate(shpPath, {
          val dp = new org.apache.hadoop.fs.Path(shpPath.stripSuffix(".shp") + ".dbf")
          if (fs2.exists(dp)) {
            val len = fs2.getFileStatus(dp).getLen.toInt
            val arr = new Array[Byte](len)
            val din = fs2.open(dp)
            try din.readFully(0, arr) finally din.close()
            parseDbf(arr)._2.zipWithIndex.map { case (v, i) => (i + 1, v) }.toMap
          } else Map.empty[Int, Seq[String]]
        })
        parseRecordSlice(slice).map { case (recNo, g) =>
          val vals = attrs.get(recNo) match {
            case Some(vs) => fieldTypes.zip(vs).map {
              case ((_, 'N' | 'F'), v) =>
                v.toDoubleOption.map(java.lang.Double.valueOf).orNull
              case (_, v) => v
            }.toSeq
            case None => fieldTypes.map(_ => null).toSeq
          }
          Row.fromSeq(vals :+ WKB.write(g))
        }
      }
    }(enc)
  }

  // ---- writer (single .shp/.dbf pair; round-trip + interop) ---------------

  /** Writes the dataframe as one `<base>.shp` + `<base>.dbf` pair (driver
    * collects — the legacy-format export path, like the whole-file GeoJSON
    * writer; the scale path is [[writeSharded]] or parquet/geojsonseq).
    */
  def write(df: DataFrame, base: String, geometryCol: String = "geometry",
      maxRows: Int = 1000000): Unit = {
    val attrCols = df.columns.filterNot(_ == geometryCol)
    val rows = Shards.collectCapped(df, maxRows, "Shapefile.write",
      "use writeSharded (one .shp/.shx/.dbf triple per partition) or " +
        "parquet/geojsonseq for large frames")
    writeOne(rows, attrCols, geometryCol, base)
  }

  /** Distributed write: one standalone `.shp`/`.shx`/`.dbf` triple per
    * partition under `dir` in the [[Shards]] layout (listed by its `.shp`),
    * each inside the format's 2 GB limit as long as partitions are;
    * [[read]]/[[readSplit]] read the directory back as one frame.
    */
  def writeSharded(df: DataFrame, dir: String, geometryCol: String = "geometry"): Unit = {
    val attrCols = df.columns.filterNot(_ == geometryCol)
    Shards.write(df, dir, "shp") { (file, rows) =>
      writeOne(rows.toArray, attrCols, geometryCol, file.getPath.stripSuffix(".shp"))
    }
  }

  /** Builds and writes one `.shp`/`.shx`/`.dbf` triple at `base` and returns
    * the row count — shared by the driver-side [[write]] and the
    * per-partition shards of [[writeSharded]].
    */
  private def writeOne(rows: Array[Row], attrCols: Array[String],
      geometryCol: String, base: String): Long = {
    val geoms = rows.map(r => WKB.read(r.getAs[Array[Byte]](geometryCol)))

    val shapeType = geoms.headOption.map {
      case _: Point => 1
      case _: MultiPoint => 8
      case _: LineString | _: MultiLineString => 3
      case _ => 5
    }.getOrElse(1)

    def ringsOf(g: Geom): Array[Array[Double]] = g match {
      case Point(x, y) => Array(Array(x, y))
      case MultiPoint(cs) => Array(cs)
      case LineString(cs) => Array(cs)
      case MultiLineString(ps) => ps
      case Polygon(rs) => rs
      case MultiPolygon(ps) => ps.flatten
      case GeomCollection(gs) => gs.flatMap(ringsOf)
    }

    val recordBufs = geoms.map { g =>
      val b =
        if (shapeType == 1) {
          val Point(x, y) = g: @unchecked
          val bb = ByteBuffer.allocate(20).order(ByteOrder.LITTLE_ENDIAN)
          bb.putInt(1).putDouble(x).putDouble(y)
          bb.array()
        } else {
          val rings = ringsOf(g)
          val nPts = rings.map(_.length / 2).sum
          val (x1, y1, x2, y2) = g.bbox
          val bb = ByteBuffer.allocate(44 + rings.length * 4 + nPts * 16)
            .order(ByteOrder.LITTLE_ENDIAN)
          bb.putInt(shapeType).putDouble(x1).putDouble(y1).putDouble(x2).putDouble(y2)
          bb.putInt(rings.length).putInt(nPts)
          var acc = 0
          rings.foreach { r => bb.putInt(acc); acc += r.length / 2 }
          rings.foreach(_.foreach(bb.putDouble))
          bb.array()
        }
      b
    }

    val totalWords = 50 + recordBufs.map(r => 4 + r.length / 2).sum
    val shp = ByteBuffer.allocate(totalWords * 2)
    shp.order(ByteOrder.BIG_ENDIAN).putInt(0, 9994).putInt(24, totalWords)
    shp.order(ByteOrder.LITTLE_ENDIAN).putInt(28, 1000).putInt(32, shapeType)
    val (bx1, by1, bx2, by2) =
      if (geoms.isEmpty) (0.0, 0.0, 0.0, 0.0)
      else geoms.map(_.bbox).reduce((a, b) =>
        (math.min(a._1, b._1), math.min(a._2, b._2), math.max(a._3, b._3), math.max(a._4, b._4)))
    shp.putDouble(36, bx1).putDouble(44, by1).putDouble(52, bx2).putDouble(60, by2)
    var pos = 100
    val shx = ByteBuffer.allocate(100 + recordBufs.length * 8)
    shx.order(ByteOrder.BIG_ENDIAN).putInt(0, 9994)
      .putInt(24, (100 + recordBufs.length * 8) / 2)
    shx.order(ByteOrder.LITTLE_ENDIAN).putInt(28, 1000).putInt(32, shapeType)
    shx.putDouble(36, bx1).putDouble(44, by1).putDouble(52, bx2).putDouble(60, by2)
    recordBufs.zipWithIndex.foreach { case (r, i) =>
      shp.order(ByteOrder.BIG_ENDIAN).putInt(pos, i + 1).putInt(pos + 4, r.length / 2)
      shx.order(ByteOrder.BIG_ENDIAN)
        .putInt(100 + i * 8, pos / 2).putInt(100 + i * 8 + 4, r.length / 2)
      System.arraycopy(r, 0, shp.array(), pos + 8, r.length)
      pos += 8 + r.length
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(base + ".shp"), shp.array())
    java.nio.file.Files.write(java.nio.file.Paths.get(base + ".shx"), shx.array())

    // dbf: every attribute as C(32) text — lossless for the round-trip path
    val fieldLen = 32
    val headerSize = 32 + attrCols.length * 32 + 1
    val recordSize = 1 + attrCols.length * fieldLen
    val dbf = ByteBuffer.allocate(headerSize + rows.length * recordSize + 1)
      .order(ByteOrder.LITTLE_ENDIAN)
    dbf.put(0, 0x03.toByte)
    dbf.putInt(4, rows.length)
    dbf.putShort(8, headerSize.toShort)
    dbf.putShort(10, recordSize.toShort)
    attrCols.zipWithIndex.foreach { case (c, i) =>
      val off = 32 + i * 32
      val nameBytes = c.getBytes(StandardCharsets.US_ASCII).take(10)
      var j = 0
      while (j < nameBytes.length) { dbf.put(off + j, nameBytes(j)); j += 1 }
      dbf.put(off + 11, 'C'.toByte)
      dbf.put(off + 16, fieldLen.toByte)
    }
    dbf.put(32 + attrCols.length * 32, 0x0d.toByte)
    rows.zipWithIndex.foreach { case (r, ri) =>
      val base0 = headerSize + ri * recordSize
      dbf.put(base0, ' '.toByte)
      attrCols.zipWithIndex.foreach { case (c, ci) =>
        val v = Option(r.getAs[Any](c)).map(_.toString).getOrElse("")
        val padded = (v + " " * fieldLen).take(fieldLen).getBytes(StandardCharsets.US_ASCII)
        System.arraycopy(padded, 0, dbf.array(), base0 + 1 + ci * fieldLen, fieldLen)
      }
    }
    dbf.put(headerSize + rows.length * recordSize, 0x1a.toByte)
    java.nio.file.Files.write(java.nio.file.Paths.get(base + ".dbf"), dbf.array())
    rows.length.toLong
  }
}
