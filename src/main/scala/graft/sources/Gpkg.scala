package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions.{avg, col, count, max, min, var_pop}
import org.apache.spark.sql.types._

import graft.geom.WKB

/** GeoPackage reader: a minimal read-only SQLite b-tree scanner (public
  * file-format spec) plus the GPKG geometry-blob codec — no native driver,
  * runs on any executor (reference: erde/io/gpkg.py delegates to
  * fiona/GDAL, absent from this image).
  *
  * Whole-file per task via binaryFile (gpkg, like sqlite, is a single-file
  * random-access format); many files parallelize naturally. Supports table
  * b-trees with overflow pages, the rowid-alias INTEGER PRIMARY KEY, and
  * GPKG geometry blobs (envelope skipped, payload is standard WKB).
  */
object Gpkg {

  // ---- minimal sqlite ------------------------------------------------------

  private[sources] final class Sqlite(bytes: Array[Byte]) {
    require(new String(bytes, 0, 15, StandardCharsets.US_ASCII) == "SQLite format 3",
      "not a sqlite/gpkg file")
    private val buf = ByteBuffer.wrap(bytes).order(ByteOrder.BIG_ENDIAN)
    private val pageSizeRaw = buf.getShort(16) & 0xffff
    val pageSize: Int = if (pageSizeRaw == 1) 65536 else pageSizeRaw
    private val reserved = bytes(20) & 0xff
    val usable: Int = pageSize - reserved

    private def varint(pos: Int): (Long, Int) = {
      var v = 0L
      var i = 0
      while (i < 8) {
        val b = bytes(pos + i) & 0xff
        v = (v << 7) | (b & 0x7f)
        if ((b & 0x80) == 0) return (v, i + 1)
        i += 1
      }
      ((v << 8) | (bytes(pos + 8) & 0xff), 9) // 9th byte carries 8 bits
    }

    /** Full payload of a cell, following overflow pages when present. */
    private def payload(pos0: Int, total: Int): (Array[Byte], Int) = {
      val x = usable - 35
      if (total <= x) {
        val out = new Array[Byte](total)
        System.arraycopy(bytes, pos0, out, 0, total)
        (out, total)
      } else {
        val m = (usable - 12) * 32 / 255 - 23
        val k = m + (total - m) % (usable - 4)
        val local = if (k <= x) k else m
        val out = new Array[Byte](total)
        System.arraycopy(bytes, pos0, out, 0, local)
        var got = local
        var next = buf.getInt(pos0 + local)
        while (next != 0 && got < total) {
          val base = (next - 1) * pageSize
          val take = math.min(usable - 4, total - got)
          System.arraycopy(bytes, base + 4, out, got, take)
          got += take
          next = buf.getInt(base)
        }
        (out, local + 4)
      }
    }

    /** Decoded record values (sqlite serial types). `keep(i)` false skips
      * column i's payload without materializing it (serial types carry
      * their lengths, so skipping is cursor arithmetic — no string/blob
      * allocation); a null `keep` decodes everything.
      */
    private def record(p: Array[Byte], keep: Array[Boolean]): Seq[Any] = {
      val pb = ByteBuffer.wrap(p).order(ByteOrder.BIG_ENDIAN)
      def v(pos: Int): (Long, Int) = {
        var value = 0L
        var i = 0
        while (true) {
          val b = p(pos + i) & 0xff
          if (i == 8) return (((value << 8) | b, 9))
          value = (value << 7) | (b & 0x7f)
          if ((b & 0x80) == 0) return ((value, i + 1))
          i += 1
        }
        (0, 0)
      }
      val (hdrLen, n0) = v(0)
      var pos = n0
      val types = ArrayBuffer[Long]()
      while (pos < hdrLen) {
        val (t, n) = v(pos)
        types += t
        pos += n
      }
      var dpos = hdrLen.toInt
      types.zipWithIndex.map { case (t, ci) =>
        val wanted = keep == null || ci >= keep.length || keep(ci)
        def int(nb: Int): Long = {
          var x = 0L
          var i = 0
          while (i < nb) { x = (x << 8) | (p(dpos + i) & 0xff); i += 1 }
          val shift = 64 - nb * 8
          dpos += nb
          (x << shift) >> shift // sign extend
        }
        t match {
          case 0 => null
          case 1 => int(1)
          case 2 => int(2)
          case 3 => int(3)
          case 4 => int(4)
          case 5 => int(6)
          case 6 => int(8)
          case 7 => val d = pb.getDouble(dpos); dpos += 8; d
          case 8 => 0L
          case 9 => 1L
          case n if n >= 13 && n % 2 == 1 =>
            val len = ((n - 13) / 2).toInt
            val s = if (wanted) new String(p, dpos, len, StandardCharsets.UTF_8) else null
            dpos += len
            s
          case n if n >= 12 =>
            val len = ((n - 12) / 2).toInt
            val b = if (wanted) {
              val out = new Array[Byte](len)
              System.arraycopy(p, dpos, out, 0, len)
              out
            } else null
            dpos += len
            b
          case other => throw new IllegalArgumentException(s"serial type $other")
        }
      }.toSeq
    }

    /** Scans a table b-tree rooted at `page` (1-based). `keep` projects the
      * record decode (see [[record]]); null decodes every column.
      */
    def table(page: Int, keep: Array[Boolean] = null): Seq[(Long, Seq[Any])] = {
      val out = ArrayBuffer[(Long, Seq[Any])]()
      def walk(pg: Int): Unit = {
        val base = (pg - 1) * pageSize
        val hdr = base + (if (pg == 1) 100 else 0)
        val typ = bytes(hdr) & 0xff
        val nCells = buf.getShort(hdr + 3) & 0xffff
        val ptrs = hdr + (if (typ == 5 || typ == 2) 12 else 8)
        typ match {
          case 13 => // table leaf
            var c = 0
            while (c < nCells) {
              val cell = base + (buf.getShort(ptrs + c * 2) & 0xffff)
              val (plen, n1) = varint(cell)
              val (rowid, n2) = varint(cell + n1)
              val (p, _) = payload(cell + n1 + n2, plen.toInt)
              out += ((rowid, record(p, keep)))
              c += 1
            }
          case 5 => // table interior
            var c = 0
            while (c < nCells) {
              val cell = base + (buf.getShort(ptrs + c * 2) & 0xffff)
              walk(buf.getInt(cell))
              c += 1
            }
            walk(buf.getInt(hdr + 8)) // rightmost child
          case other => throw new IllegalArgumentException(s"unexpected page type $other")
        }
      }
      walk(page)
      out.toSeq
    }

    /** sqlite_master rows: (type, name, tbl_name, rootpage, sql). */
    def master: Seq[(String, String, String, Int, String)] =
      table(1).map { case (_, vals) =>
        (vals(0).asInstanceOf[String], vals(1).asInstanceOf[String],
          vals(2).asInstanceOf[String],
          vals(3) match { case l: Long => l.toInt; case _ => 0 },
          vals(4) match { case s: String => s; case _ => "" })
      }
  }

  /** Column (name, declared type) pairs from a CREATE TABLE statement. */
  private[sources] def parseColumns(sql: String): Seq[(String, String)] = {
    val body = sql.substring(sql.indexOf('(') + 1, sql.lastIndexOf(')'))
    val parts = ArrayBuffer[String]()
    var depth = 0
    val cur = new StringBuilder
    body.foreach {
      case '(' => depth += 1; cur += '('
      case ')' => depth -= 1; cur += ')'
      case ',' if depth == 0 => parts += cur.toString; cur.clear()
      case c => cur += c
    }
    parts += cur.toString
    val constraint = Set("PRIMARY", "UNIQUE", "CHECK", "FOREIGN", "CONSTRAINT")
    parts.toSeq.map(_.trim).filter(_.nonEmpty).flatMap { p =>
      val name = p.split("\\s+")(0).stripPrefix("\"").stripSuffix("\"")
        .stripPrefix("`").stripSuffix("`").stripPrefix("[").stripSuffix("]")
      if (constraint(name.toUpperCase)) None
      else Some((name, p.split("\\s+").drop(1).mkString(" ").toUpperCase))
    }
  }

  /** GPKG geometry blob → WKB payload (header + envelope skipped). */
  private[sources] def gpkgToWkb(blob: Array[Byte]): Array[Byte] = {
    require(blob.length > 8 && blob(0) == 'G' && blob(1) == 'P', "not a GPKG geometry blob")
    val flags = blob(3) & 0xff
    val envelope = (flags >> 1) & 0x7
    val envLen = envelope match {
      case 0 => 0
      case 1 => 32
      case 2 | 3 => 48
      case 4 => 64
      case other => throw new IllegalArgumentException(s"bad envelope indicator $other")
    }
    val off = 8 + envLen
    val out = new Array[Byte](blob.length - off)
    System.arraycopy(blob, off, out, 0, out.length)
    out
  }

  private[sources] def sparkType(decl: String): DataType = decl match {
    case t if t.startsWith("INT") || t.startsWith("MEDIUMINT") || t.startsWith("SMALLINT") ||
      t.startsWith("TINYINT") || t.startsWith("BIGINT") || t.startsWith("BOOLEAN") => LongType
    case t if t.startsWith("REAL") || t.startsWith("DOUBLE") || t.startsWith("FLOAT") => DoubleType
    case t if t.startsWith("TEXT") || t.startsWith("VARCHAR") || t.startsWith("DATE") => StringType
    case _ => BinaryType
  }

  /** Resolves the target feature layer: explicit `layer`, the only layer,
    * or — several layers, no choice — the one named like the file's own
    * name (reference fallback, erde/io/gpkg.py:38-43). Returns
    * (layer name, geometry column, sqlite_master row).
    */
  private def resolveLayer(db: Sqlite, path: String, layer: Option[String])
      : (String, String, (String, String, String, Int, String)) = {
    val geomCols = db.master.find(_._2 == "gpkg_geometry_columns")
      .map(m => db.table(m._4).map(_._2))
      .getOrElse(Seq.empty)
      .map(v => (v(0).asInstanceOf[String], v(1).asInstanceOf[String])).toMap
    val layerName = layer.getOrElse {
      require(geomCols.nonEmpty, "no feature layers in gpkg")
      if (geomCols.size == 1) geomCols.keys.head
      else {
        val f = new java.io.File(path).getName
        Option(f).filter(_.toLowerCase.endsWith(".gpkg"))
          .map(_.dropRight(5))
          .filter(geomCols.contains)
          .getOrElse(throw new IllegalArgumentException(
            s"multiple layers ${geomCols.keys.mkString(", ")} — pass layer= or a path:layer suffix"))
      }
    }
    val geomCol = geomCols.getOrElse(layerName,
      throw new IllegalArgumentException(s"layer $layerName not in gpkg_geometry_columns"))
    val masterRow = db.master.find(m => m._1 == "table" && m._2 == layerName)
      .getOrElse(throw new IllegalArgumentException(s"no table $layerName"))
    (layerName, geomCol, masterRow)
  }

  /** First feature layer of the file (or `layer`): columns as declared
    * (geometry column → WKB binary named as in the file). `columns`
    * (optional) projects the read to a subset in file order — unrequested
    * values are cursor-skipped inside the sqlite record decode (no
    * string/blob allocation) and an unrequested geometry skips the
    * gpkg→WKB normalize entirely.
    */
  def read(spark: SparkSession, path: String, layer: Option[String] = None,
      columns: Seq[String] = Nil): DataFrame = {
    val files = SqliteDb.binaryFiles(spark, path, Some("*.gpkg"))

    // schema from the first file
    val head = files.head()
    val db = new Sqlite(head)
    val (layerName, geomCol, masterRow) = resolveLayer(db, path, layer)
    val cols = parseColumns(masterRow._5)

    val missing = columns.toSet -- cols.map(_._1).toSet
    require(missing.isEmpty, s"columns not in layer $layerName: ${missing.toSeq.sorted.mkString(", ")}")
    val selected: Array[Int] =
      if (columns.isEmpty) cols.indices.toArray
      else cols.zipWithIndex.collect { case ((n, _), i) if columns.contains(n) => i }.toArray
    val keep: Array[Boolean] =
      if (columns.isEmpty) null
      else {
        val k = Array.fill(cols.length)(false)
        selected.foreach(k(_) = true)
        k
      }

    val schema = StructType(selected.toIndexedSeq.map { i =>
      val (n, decl) = cols(i)
      StructField(n, if (n == geomCol) BinaryType else sparkType(decl))
    })
    val enc = RowEncoder.encoderFor(schema)
    val colDecls = cols.toArray
    // SQLite's rowid alias is specifically an INTEGER PRIMARY KEY column — a
    // plain nullable INT column must keep its NULLs, not inherit the rowid.
    val rowidAlias = cols.indexWhere { case (_, d) => d.contains("INTEGER PRIMARY KEY") }

    files.mapPartitions { it =>
      it.flatMap { fileBytes =>
        val fdb = new Sqlite(fileBytes)
        val root = fdb.master.find(m => m._1 == "table" && m._2 == layerName).get._4
        fdb.table(root, keep).map { case (rowid, vals) =>
          val out = selected.map { i =>
            val (name, decl) = colDecls(i)
            val v = if (i < vals.length) vals(i) else null
            if (name == geomCol) {
              v match {
                case b: Array[Byte] => WKB.write(WKB.read(gpkgToWkb(b))) // normalize
                case _ => null
              }
            } else if (v == null && i == rowidAlias) rowid
            else (sparkType(decl), v) match {
              case (LongType, l: Long) => l
              case (DoubleType, d: Double) => d
              case (DoubleType, l: Long) => l.toDouble
              case (StringType, s: String) => s
              case (_, x) => x
            }
          }
          Row.fromSeq(out.toSeq)
        }
      }
    }(enc)
  }

  /** Per-column statistics of a feature layer (reference: erde/io/gpkg.py:105
    * `GpkgReader.stats` — sqlite min/avg/max/population-variance/count per
    * column whose DECLARED type is INTEGER or REAL; other columns carry just
    * (name, type), nulls elsewhere, like the reference's dict rows). The
    * aggregation runs distributed in ONE pass over the layer (map-side
    * partial min/avg/max/var_pop — var_pop is exactly the reference's
    * sum((x-avg)²)/count); only the per-column scalars reach the driver.
    */
  def stats(spark: SparkSession, path: String, layer: Option[String] = None): DataFrame = {
    import spark.implicits._
    val head = SqliteDb.binaryFiles(spark, path, Some("*.gpkg")).head()
    val db = new Sqlite(head)
    val (layerName, _, masterRow) = resolveLayer(db, path, layer)
    val cols = parseColumns(masterRow._5)
    val declType = cols.map { case (n, d) => n -> d.split("\\s+").head }.toMap

    val df = read(spark, path, Some(layerName))
    val numeric = df.columns.filter(c => Set("INTEGER", "REAL")(declType.getOrElse(c, "")))
    val aggs = numeric.flatMap { c =>
      Seq(min(col(c)).cast("double").as(s"${c}__min"),
        avg(col(c)).as(s"${c}__mean"),
        max(col(c)).cast("double").as(s"${c}__max"),
        var_pop(col(c)).as(s"${c}__variance"),
        count(col(c)).as(s"${c}__count"))
    }
    val scalars: Map[String, Any] =
      if (aggs.isEmpty) Map.empty
      else {
        val row = df.agg(aggs.head, aggs.tail: _*).head()
        row.schema.fieldNames.zipWithIndex.map { case (f, i) => f -> row.get(i) }.toMap
      }
    val out = df.columns.toIndexedSeq.map { c =>
      def d(k: String): Option[Double] =
        scalars.get(s"${c}__$k").collect { case x: java.lang.Double => x.doubleValue }
      val cnt: Option[Long] =
        scalars.get(s"${c}__count").collect { case x: java.lang.Long => x.longValue }
      (c, declType.getOrElse(c, ""), d("min"), d("mean"), d("max"), d("variance"), cnt)
    }
    out.toDF("name", "type", "min", "mean", "max", "variance", "count")
  }

  /** Feature layer names of a gpkg file (driver-side metadata helper). */
  def layers(spark: SparkSession, path: String): Seq[String] = {
    val head = SqliteDb.binaryFiles(spark, path, Some("*.gpkg")).head()
    val db = new Sqlite(head)
    db.master.find(_._2 == "gpkg_geometry_columns")
      .map(m => db.table(m._4).map(_._2(0).asInstanceOf[String]))
      .getOrElse(Seq.empty)
  }

  // ---- minimal sqlite writer ----------------------------------------------

  /** Single-file SQLite page builder: table-leaf b-trees with interior pages
    * and overflow chains — the write-side twin of [[Sqlite]] above, emitting
    * exactly the structures the reader walks (public file-format spec).
    */
  private[sources] final class SqliteBuilder(val pageSize: Int = 4096) {
    val usable: Int = pageSize // reserved byte count 0
    private val pages = ArrayBuffer[Array[Byte]](new Array[Byte](pageSize)) // page 1 reserved

    private def be16(a: Array[Byte], o: Int, v: Int): Unit = {
      a(o) = (v >> 8).toByte; a(o + 1) = v.toByte
    }
    private def be32(a: Array[Byte], o: Int, v: Int): Unit = {
      a(o) = (v >> 24).toByte; a(o + 1) = (v >> 16).toByte
      a(o + 2) = (v >> 8).toByte; a(o + 3) = v.toByte
    }

    private def allocPage(): Int = { pages += new Array[Byte](pageSize); pages.length }

    private def varint(v: Long): Array[Byte] = {
      if (v >= 0 && v < 0x80) return Array(v.toByte)
      val groups = ArrayBuffer[Byte]()
      var x = v
      var n = 0
      while (n < 8 && (x != 0 || n == 0)) { groups += (x & 0x7f).toByte; x >>>= 7; n += 1 }
      val out = groups.reverse.toArray
      var i = 0
      while (i < out.length - 1) { out(i) = (out(i) | 0x80).toByte; i += 1 }
      out
    }

    /** SQLite record: serial-type header + values. Longs always as 8-byte
      * ints, doubles IEEE, strings UTF-8, blobs raw, null for None/null.
      */
    def record(values: Seq[Any]): Array[Byte] = {
      def int8(l: Long) = {
        val b = new Array[Byte](8)
        ByteBuffer.wrap(b).order(ByteOrder.BIG_ENDIAN).putLong(l)
        (varint(6), b)
      }
      def real(d: Double) = {
        val b = new Array[Byte](8)
        ByteBuffer.wrap(b).order(ByteOrder.BIG_ENDIAN).putDouble(d)
        (varint(7), b)
      }
      def text(s: String) = {
        val b = s.getBytes(StandardCharsets.UTF_8)
        (varint(13 + 2L * b.length), b)
      }
      val enc = values.map {
        case null => (varint(0), Array.empty[Byte])
        case l: Long => int8(l)
        case i: Int => int8(i.toLong)
        case s: Short => int8(s.toLong)
        case b: Byte => int8(b.toLong)
        case b: Boolean => int8(if (b) 1L else 0L)
        case d: Double => real(d)
        case f: Float => real(f.toDouble)
        case d: java.math.BigDecimal => real(d.doubleValue)
        case d: BigDecimal => real(d.doubleValue)
        case s: String => text(s)
        case t: java.sql.Timestamp => text(t.toInstant.toString)
        case d: java.sql.Date => text(d.toString)
        case b: Array[Byte] => (varint(12 + 2L * b.length), b)
        case other => throw new IllegalArgumentException(s"gpkg write: unsupported value $other")
      }
      val typesLen = enc.map(_._1.length).sum
      // header length varint includes itself; one extra byte is enough here
      val hdrLen = if (typesLen + 1 < 0x80) typesLen + 1 else typesLen + 2
      val out = ArrayBuffer[Byte]()
      out ++= varint(hdrLen)
      enc.foreach(out ++= _._1)
      enc.foreach(out ++= _._2)
      out.toArray
    }

    /** Leaf cell bytes for (rowid, payload), writing overflow pages as needed
      * (same local-size formula the reader's `payload()` uses).
      */
    private def leafCell(rowid: Long, payload: Array[Byte]): Array[Byte] = {
      val x = usable - 35
      val head = varint(payload.length.toLong) ++ varint(rowid)
      if (payload.length <= x) head ++ payload
      else {
        val m = (usable - 12) * 32 / 255 - 23
        val k = m + (payload.length - m) % (usable - 4)
        val local = if (k <= x) k else m
        // chunk the spilled tail front-to-back (full pages, remainder last),
        // then write the chain back-to-front so each page's successor exists
        val chunks = ArrayBuffer[(Int, Int)]()
        var o = local
        while (o < payload.length) {
          val take = math.min(usable - 4, payload.length - o)
          chunks += ((o, take))
          o += take
        }
        var nextPage = 0
        for ((off, len) <- chunks.reverse) {
          val pg = allocPage()
          val a = pages(pg - 1)
          be32(a, 0, nextPage)
          System.arraycopy(payload, off, a, 4, len)
          nextPage = pg
        }
        head ++ payload.slice(0, local) ++ {
          val p = new Array[Byte](4); be32(p, 0, nextPage); p
        }
      }
    }

    /** Packs leaf cells into pages (allocating them); returns per-leaf
      * (page number, max rowid).
      */
    private def packLeaves(rows: Seq[(Long, Array[Byte])]): Seq[(Int, Long)] = {
      val leaves = ArrayBuffer[(Int, Long)]()
      var cells = ArrayBuffer[Array[Byte]]()
      var used = 0
      var maxRowid = 0L
      def flush(): Unit = if (cells.nonEmpty) {
        val pg = allocPage()
        writeLeafPage(pages(pg - 1), 0, cells.toSeq)
        leaves += ((pg, maxRowid))
        cells = ArrayBuffer[Array[Byte]]()
        used = 0
      }
      for ((rowid, payload) <- rows) {
        val cell = leafCell(rowid, payload)
        if (cells.nonEmpty && 8 + used + 2 * (cells.length + 1) + cell.length > usable) flush()
        cells += cell
        used += cell.length
        maxRowid = rowid
      }
      flush()
      if (leaves.isEmpty) { // empty table still needs a root leaf
        val pg = allocPage()
        writeLeafPage(pages(pg - 1), 0, Nil)
        leaves += ((pg, 0L))
      }
      leaves.toSeq
    }

    /** Writes a table-leaf page image at `base` offset (100 for page 1). */
    private def writeLeafPage(a: Array[Byte], base: Int, cells: Seq[Array[Byte]]): Unit = {
      a(base) = 13 // table leaf
      be16(a, base + 1, 0) // no freeblocks
      be16(a, base + 3, cells.length)
      var top = pageSize
      var i = 0
      while (i < cells.length) {
        val cell = cells(i)
        top -= cell.length
        System.arraycopy(cell, 0, a, top, cell.length)
        be16(a, base + 8 + i * 2, top)
        i += 1
      }
      be16(a, base + 5, if (cells.isEmpty) pageSize else top)
    }

    /** Builds interior levels above `children` until a single root remains. */
    private def buildInterior(children: Seq[(Int, Long)]): Int = {
      if (children.length == 1) return children.head._1
      val next = ArrayBuffer[(Int, Long)]()
      var group = ArrayBuffer[(Int, Long)]()
      var used = 0
      def flush(): Unit = if (group.nonEmpty) {
        val pg = allocPage()
        val a = pages(pg - 1)
        a(0) = 5 // table interior
        val cellsHere = group.dropRight(1)
        be16(a, 3, cellsHere.length)
        be32(a, 8, group.last._1) // rightmost child
        var top = pageSize
        var i = 0
        while (i < cellsHere.length) {
          val (child, key) = cellsHere(i)
          val kv = varint(key)
          top -= 4 + kv.length
          be32(a, top, child)
          System.arraycopy(kv, 0, a, top + 4, kv.length)
          be16(a, 12 + i * 2, top)
          i += 1
        }
        be16(a, 5, if (cellsHere.isEmpty) pageSize else top)
        next += ((pg, group.last._2))
        group = ArrayBuffer[(Int, Long)]()
        used = 0
      }
      for (c <- children) {
        if (group.nonEmpty && 12 + used + 2 * group.length + 13 > usable) flush()
        group += c
        used += 13 // 4-byte child + ≤9-byte key varint
      }
      flush()
      buildInterior(next.toSeq)
    }

    /** Writes a table's rows (ascending rowids); returns the root page. */
    def writeTable(rows: Seq[(Long, Seq[Any])]): Int =
      buildInterior(packLeaves(rows.map { case (rid, vals) => (rid, record(vals)) }))

    /** Fills page 1 with the sqlite_master leaf + database header. The
      * master rows must fit one leaf (require) — they do for one feature
      * layer plus the three gpkg metadata tables.
      */
    def finish(master: Seq[(Long, Seq[Any])], out: java.io.OutputStream,
        applicationId: Int = 0x47504B47, userVersion: Int = 10200): Unit = {
      val cells = master.map { case (rid, vals) => leafCell(rid, record(vals)) }
      val used = cells.map(_.length).sum + 2 * cells.length
      require(100 + 8 + used <= usable, s"sqlite_master overflows page 1 ($used bytes)")
      val p1 = pages(0)
      writeLeafPage(p1, 100, cells)
      // database header
      System.arraycopy("SQLite format 3\u0000".getBytes(StandardCharsets.US_ASCII), 0, p1, 0, 16)
      be16(p1, 16, if (pageSize == 65536) 1 else pageSize)
      p1(18) = 1; p1(19) = 1 // write/read version: legacy
      p1(21) = 64; p1(22) = 32; p1(23) = 32
      be32(p1, 24, 1) // change counter
      be32(p1, 28, pages.length)
      be32(p1, 40, master.length) // schema cookie
      be32(p1, 44, 4) // schema format
      be32(p1, 56, 1) // UTF-8
      be32(p1, 60, userVersion) // GeoPackage 1.2 (10200) or 0 for plain sqlite
      be32(p1, 68, applicationId) // "GPKG" or 0 for plain sqlite
      be32(p1, 92, 1) // version-valid-for
      be32(p1, 96, 3045000)
      pages.foreach(out.write)
    }
  }

  private[sources] def declType(dt: DataType): String = dt match {
    case LongType | IntegerType | ShortType | ByteType | BooleanType => "INTEGER"
    case DoubleType | FloatType | _: DecimalType => "DOUBLE"
    case StringType | TimestampType | DateType => "TEXT" // ISO-8601 text per GPKG
    case _ => "BLOB"
  }

  /** GeoPackage core geometry type name for a graft geometry. */
  private def gpkgTypeName(g: graft.geom.Geom): String = g match {
    case _: graft.geom.Point => "POINT"
    case _: graft.geom.MultiPoint => "MULTIPOINT"
    case _: graft.geom.LineString => "LINESTRING"
    case _: graft.geom.MultiLineString => "MULTILINESTRING"
    case _: graft.geom.Polygon => "POLYGON"
    case _: graft.geom.MultiPolygon => "MULTIPOLYGON"
    case _ => "GEOMETRYCOLLECTION"
  }

  /** WKB → GPKG geometry blob (version 0, little-endian srs_id, no envelope
    * — the reader skips straight to the WKB payload).
    */
  private[sources] def wkbToGpkg(wkb: Array[Byte], srid: Int): Array[Byte] = {
    val out = new Array[Byte](8 + wkb.length)
    out(0) = 'G'; out(1) = 'P'; out(2) = 0
    out(3) = 0x01 // flags: little-endian header, no envelope
    out(4) = srid.toByte; out(5) = (srid >> 8).toByte
    out(6) = (srid >> 16).toByte; out(7) = (srid >> 24).toByte
    System.arraycopy(wkb, 0, out, 8, wkb.length)
    out
  }

  /** Writes `df` as a single-layer GeoPackage (reference: erde/io/gpkg.py:134
    * `_write_sync` via fiona). Collects to the driver (single .gpkg file is
    * inherently one stream, like shp/fgb), capped at `maxRows`; the geometry
    * column travels as graft WKB and is wrapped in GPKG blobs. Produces the
    * standard metadata trio (gpkg_spatial_ref_sys, gpkg_contents,
    * gpkg_geometry_columns) so any GPKG reader — including [[read]] — finds
    * the layer.
    */
  def write(df: DataFrame, path: String, layerName: String = "layer",
      geometryCol: String = "geometry", srid: Int = 4326, maxRows: Int = 1000000): Unit =
    writeLayers(Seq(layerName -> df), path, geometryCol, srid, maxRows)

  /** Multi-layer variant (the reference's `file.gpkg:layer` addressing
    * implies several feature layers in one file): each (name, frame) becomes
    * its own feature table sharing the metadata trio. Same driver-side
    * collect and `maxRows` cap per layer as [[write]].
    */
  def writeLayers(layers: Seq[(String, DataFrame)], path: String,
      geometryCol: String = "geometry", srid: Int = 4326, maxRows: Int = 1000000): Unit = {
    require(layers.nonEmpty, "writeLayers needs at least one layer")
    val collected = layers.map { case (layerName, df) =>
      require(!df.columns.contains("fid"),
        "Gpkg.write adds its own 'fid' rowid-alias column; rename the incoming " +
          "'fid' column first (the table would otherwise carry duplicate column names)")
      val rows = Shards.collectCapped(df, maxRows, "Gpkg.write",
        "use writeSharded (one .gpkg per partition) or parquet/geojsonseq for large frames")
      (layerName, df.schema, rows.toIndexedSeq)
    }
    buildFile(collected, path, geometryCol, srid)
  }

  /** Distributed write: one standalone single-layer `.gpkg` (own metadata
    * trio) per partition under `dir` in the [[Shards]] layout; [[read]]
    * reads the directory back as one frame.
    */
  def writeSharded(df: DataFrame, dir: String, layerName: String = "layer",
      geometryCol: String = "geometry", srid: Int = 4326): Unit = {
    require(!df.columns.contains("fid"),
      "Gpkg.writeSharded adds its own 'fid' rowid-alias column; rename the " +
        "incoming 'fid' column first")
    val schema = df.schema
    Shards.write(df, dir, "gpkg", Some(layerName)) { (file, rows) =>
      val rs = rows.toIndexedSeq
      buildFile(Seq((layerName, schema, rs)), file.getPath, geometryCol, srid)
      rs.length.toLong
    }
  }

  /** Builds one GeoPackage file from materialized layer rows — shared by the
    * driver-side [[writeLayers]] and the per-partition shards of
    * [[writeSharded]].
    */
  private def buildFile(layers: Seq[(String, StructType, IndexedSeq[Row])], path: String,
      geometryCol: String, srid: Int): Unit = {
    require(layers.map(_._1).distinct.size == layers.size,
      s"duplicate layer names: ${layers.map(_._1).mkString(", ")}")
    val b = new SqliteBuilder()
    def quoted(s: String) = "\"" + s + "\""

    case class Built(name: String, root: Int, geomType: String, sql: String,
        hasEnv: Boolean, minX: Double, minY: Double, maxX: Double, maxY: Double)
    val built = layers.map { case (layerName, schema, rows) =>
      val fields = schema.fields
      val geomIdx = schema.fieldIndex(geometryCol)

      // envelope + geometry type from the data
      var minX = Double.PositiveInfinity; var minY = Double.PositiveInfinity
      var maxX = Double.NegativeInfinity; var maxY = Double.NegativeInfinity
      val typeNames = scala.collection.mutable.Set[String]()
      val featureRows = rows.toIndexedSeq.zipWithIndex.map { case (r, i) =>
        val vals = fields.indices.map { j =>
          val v = r.get(j)
          if (j == geomIdx) v match {
            case wkb: Array[Byte] =>
              val g = WKB.read(wkb)
              if (!g.isEmpty) {
                val (x1, y1, x2, y2) = g.bbox
                minX = math.min(minX, x1); minY = math.min(minY, y1)
                maxX = math.max(maxX, x2); maxY = math.max(maxY, y2)
              }
              typeNames += gpkgTypeName(g)
              wkbToGpkg(wkb, srid)
            case _ => null
          }
          else v
        }
        // fid column first, stored NULL (rowid alias)
        ((i + 1).toLong, null +: vals)
      }
      val featureRoot = b.writeTable(featureRows)
      val geomType = if (typeNames.size == 1) typeNames.head else "GEOMETRY"
      val featureCols = fields.map { f =>
        if (f.name == geometryCol) s"${quoted(f.name)} $geomType"
        else s"${quoted(f.name)} ${declType(f.dataType)}"
      }.mkString(", ")
      val featureSql =
        s"CREATE TABLE ${quoted(layerName)} (${quoted("fid")} INTEGER PRIMARY KEY, $featureCols)"
      Built(layerName, featureRoot, geomType, featureSql, minX <= maxX, minX, minY, maxX, maxY)
    }

    // every srs_id referenced by contents/geometry_columns must exist here
    val srsBase = Seq(
      (1L, Seq[Any]("WGS 84 geodetic", 4326L, "EPSG", 4326L,
        "GEOGCS[\"WGS 84\",DATUM[\"WGS_1984\",SPHEROID[\"WGS 84\",6378137,298.257223563]]]",
        "longitude/latitude, WGS 84")),
      (2L, Seq[Any]("Undefined cartesian SRS", -1L, "NONE", -1L, "undefined", null)),
      (3L, Seq[Any]("Undefined geographic SRS", 0L, "NONE", 0L, "undefined", null)))
    val srsRows =
      if (Set(4326, -1, 0)(srid)) srsBase
      else srsBase :+ ((4L, Seq[Any](s"EPSG:$srid", srid.toLong, "EPSG", srid.toLong,
        "undefined", null)))
    val srsRoot = b.writeTable(srsRows)
    val contentsRoot = b.writeTable(built.zipWithIndex.map { case (l, i) =>
      ((i + 1).toLong, Seq[Any](l.name, "features", l.name, "",
        "2024-01-01T00:00:00.000Z",
        if (l.hasEnv) l.minX else null, if (l.hasEnv) l.minY else null,
        if (l.hasEnv) l.maxX else null, if (l.hasEnv) l.maxY else null,
        srid.toLong))
    })
    val geomColsRoot = b.writeTable(built.zipWithIndex.map { case (l, i) =>
      ((i + 1).toLong, Seq[Any](l.name, geometryCol, l.geomType, srid.toLong, 0L, 0L))
    })

    val master = Seq(
      (1L, Seq[Any]("table", "gpkg_spatial_ref_sys", "gpkg_spatial_ref_sys", srsRoot.toLong,
        "CREATE TABLE gpkg_spatial_ref_sys (srs_name TEXT NOT NULL, srs_id INTEGER PRIMARY KEY, " +
          "organization TEXT NOT NULL, organization_coordsys_id INTEGER NOT NULL, " +
          "definition TEXT NOT NULL, description TEXT)")),
      (2L, Seq[Any]("table", "gpkg_contents", "gpkg_contents", contentsRoot.toLong,
        "CREATE TABLE gpkg_contents (table_name TEXT PRIMARY KEY, data_type TEXT NOT NULL, " +
          "identifier TEXT UNIQUE, description TEXT DEFAULT '', last_change DATETIME, " +
          "min_x DOUBLE, min_y DOUBLE, max_x DOUBLE, max_y DOUBLE, srs_id INTEGER)")),
      (3L, Seq[Any]("table", "gpkg_geometry_columns", "gpkg_geometry_columns", geomColsRoot.toLong,
        "CREATE TABLE gpkg_geometry_columns (table_name TEXT NOT NULL, column_name TEXT NOT NULL, " +
          "geometry_type_name TEXT NOT NULL, srs_id INTEGER NOT NULL, z TINYINT NOT NULL, " +
          "m TINYINT NOT NULL)"))) ++
      built.zipWithIndex.map { case (l, i) =>
        ((4 + i).toLong, Seq[Any]("table", l.name, l.name, l.root.toLong, l.sql))
      }

    val out = new java.io.BufferedOutputStream(new java.io.FileOutputStream(path))
    try b.finish(master, out) finally out.close()
  }
}
