package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.geom._

/** ESRI shapefile IO (public format spec: .shp geometry + .dbf dBase III
  * attributes), extending the reference's format matrix (erde/io drivers
  * delegate shp to fiona/GDAL; graft parses the format directly — the
  * zero-egress image has no GDAL, and a self-contained parser runs on every
  * executor).
  *
  * Layout: [[read]] lists `*.shp`, splits each file into record byte ranges
  * by its `.shx` index, and joins each record to the same-numbered record of
  * the sibling `.dbf`.
  * Shape types 1/3/5/8 (+ their M/Z variants' 2D prefix) are supported.
  */
object Shapefile {

  // ---- .shp ---------------------------------------------------------------

  /** (record number, shape) of every non-null record in `bytes`, which
    * holds whole records (their 8-byte headers included).
    */
  private[sources] def parseRecords(bytes: Array[Byte]): Seq[(Int, Geom)] = {
    val buf = ByteBuffer.wrap(bytes)
    var pos = 0
    val out = ArrayBuffer[(Int, Geom)]()
    while (pos + 8 <= bytes.length) {
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

  /** The record byte ranges of one `.shp`, `recordsPerSplit` records each,
    * from its `.shx` index (8 bytes per record); without an index the whole
    * record section is one range.
    */
  private[sources] def recordRanges(shp: String, recordsPerSplit: Int): Seq[(String, Long, Int)] = {
    val header = ByteBuffer.wrap(Shards.readRange(shp, 0, 100))
    require(header.getInt(0) == 9994, s"$shp is not a shapefile (.shp magic)")
    val shx = Paths.get(shp.stripSuffix(".shp") + ".shx")
    if (!Files.isRegularFile(shx)) {
      val len = header.getInt(24) * 2 - 100 // file length in 16-bit words
      if (len > 0) Seq((shp, 100L, len)) else Nil
    } else {
      val idx = ByteBuffer.wrap(Files.readAllBytes(shx)).order(ByteOrder.BIG_ENDIAN)
      val nRecords = (idx.capacity - 100) / 8
      def offset(rec: Int): Long = idx.getInt(100 + rec * 8).toLong * 2
      def end(rec: Int): Long = offset(rec) + idx.getInt(100 + rec * 8 + 4).toLong * 2 + 8
      (0 until nRecords by recordsPerSplit).map { first =>
        val last = math.min(first + recordsPerSplit, nRecords) - 1
        (shp, offset(first), (end(last) - offset(first)).toInt)
      }
    }
  }

  // ---- .dbf ---------------------------------------------------------------

  private[sources] final case class DbfField(name: String, typ: Char, length: Int)

  private[sources] final case class Dbf(file: String, fields: Seq[DbfField], numRecords: Int,
      headerSize: Int, recordSize: Int)

  /** The header of the `.dbf` beside `shp`, when there is one. */
  private[sources] def dbfHeader(shp: String): Option[Dbf] = {
    val file = shp.stripSuffix(".shp") + ".dbf"
    if (!Files.isRegularFile(Paths.get(file))) None
    else {
      val head = ByteBuffer.wrap(Shards.readRange(file, 0, 12)).order(ByteOrder.LITTLE_ENDIAN)
      val headerSize = head.getShort(8) & 0xffff
      val bytes = Shards.readRange(file, 0, headerSize)
      val fields = ArrayBuffer[DbfField]()
      var off = 32
      while (off < headerSize - 1 && bytes(off) != 0x0d) {
        val name = new String(bytes, off, 11, StandardCharsets.US_ASCII).takeWhile(_ != 0).trim
        fields += DbfField(name, bytes(off + 11).toChar, bytes(off + 16) & 0xff)
        off += 32
      }
      Some(Dbf(file, fields.toSeq, head.getInt(4), headerSize, head.getShort(10) & 0xffff))
    }
  }

  /** Attribute strings of records `first`..`last` (the `.shp` record
    * numbers, 1-based — record n of the `.shp` is record n of the `.dbf`),
    * read as one range; deleted records are left out.
    */
  private[sources] def dbfRecords(dbf: Dbf, first: Int, last: Int): Map[Int, Seq[String]] = {
    val from = math.max(first, 1)
    val to = math.min(last, dbf.numRecords)
    if (from > to) return Map.empty
    val bytes = Shards.readRange(dbf.file,
      dbf.headerSize + (from - 1).toLong * dbf.recordSize, (to - from + 1) * dbf.recordSize)
    (from to to).flatMap { rec =>
      val base = (rec - from) * dbf.recordSize
      if (bytes(base) == '*') None // deleted
      else {
        var fo = base + 1
        Some(rec -> dbf.fields.map { f =>
          val v = new String(bytes, fo, f.length, StandardCharsets.US_ASCII).trim
          fo += f.length
          v
        })
      }
    }.toMap
  }

  /** Reads every `.shp` under `path` as one frame on the [[Shards]] read
    * path, with the sibling `.dbf` attributes when present: columns = the
    * first file's dbf fields (N/F → double, others string) ++ `geometry`
    * WKB. A file's `.shx` plans it as byte ranges of `recordsPerSplit`
    * records, so one large `.shp` (the format caps files at 2 GB) fans out
    * across the cluster; a file without one is a single split. Each task
    * reads only its records' bytes of the `.shp` and the `.dbf`.
    */
  def read(spark: SparkSession, path: String, recordsPerSplit: Int = 65536): DataFrame = {
    val files = Shards.list(path, ".shp")
    val fields = dbfHeader(files.head).fold(Seq.empty[DbfField])(_.fields)
    val numeric = fields.map(f => f.typ == 'N' || f.typ == 'F')
    val schema = StructType(fields.zip(numeric).map { case (f, n) =>
      StructField(f.name, if (n) DoubleType else StringType)
    } :+ StructField("geometry", BinaryType))
    val splits = Shards.plan(spark, files)(recordRanges(_, recordsPerSplit))
    Shards.read(spark, splits, schema) { case (shp, off, len) =>
      val geoms = parseRecords(Shards.readRange(shp, off, len))
      val attrs =
        if (geoms.isEmpty) Map.empty[Int, Seq[String]]
        else dbfHeader(shp).fold(Map.empty[Int, Seq[String]])(
          dbfRecords(_, geoms.map(_._1).min, geoms.map(_._1).max))
      geoms.iterator.map { case (recNo, g) =>
        val vals = attrs.get(recNo) match {
          case Some(vs) => numeric.zip(vs).map {
            // dBase marks nulls/overflow with '*' padding; be lenient
            case (true, v) => v.toDoubleOption.map(java.lang.Double.valueOf).orNull
            case (false, v) => v
          }
          case None => numeric.map(_ => null)
        }
        Row.fromSeq(vals :+ WKB.write(g))
      }
    }
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
    * [[read]] reads the directory back as one frame.
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
    Files.write(Paths.get(base + ".shp"), shp.array())
    Files.write(Paths.get(base + ".shx"), shx.array())

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
    Files.write(Paths.get(base + ".dbf"), dbf.array())
    rows.length.toLong
  }
}
