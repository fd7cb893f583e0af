package graft.sources

import java.io.ByteArrayInputStream
import java.util.zip.ZipInputStream

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** XLSX/ODS reader (zip-of-XML spreadsheets, both JDK-parseable), the erde io
  * matrix's spreadsheet driver re-expressed without POI/pandas (reference:
  * erde/io/xls.py). First row = header; sheets are addressed by their
  * user-visible name (workbook.xml + rels indirection — `pd.read_excel`'s
  * `sheet_name` semantics), default = first sheet. Columns come back TYPED
  * like the reference's pandas frame: long / double / boolean inferred from
  * ONE sample file's values (Spark's first-listed — size-descending — file;
  * try_cast applied distributed, so a value that breaks the inferred type
  * in another file nulls out, csv-permissive style even under ANSI).
  * Whole file per task, loaded through [[SqliteDb.binaryFiles]] (its
  * single-file size cap and empty-match error); many files parallelize.
  */
object Xlsx {

  private def entries(bytes: Array[Byte]): Map[String, Array[Byte]] = {
    val zis = new ZipInputStream(new ByteArrayInputStream(bytes))
    val out = scala.collection.mutable.Map.empty[String, Array[Byte]]
    var e = zis.getNextEntry
    while (e != null) {
      if (!e.isDirectory) out(e.getName) = zis.readAllBytes()
      e = zis.getNextEntry
    }
    out.toMap
  }

  private def dom(xml: Array[Byte]) = {
    val f = javax.xml.parsers.DocumentBuilderFactory.newInstance()
    f.setNamespaceAware(false)
    f.newDocumentBuilder().parse(new ByteArrayInputStream(xml))
  }

  /** Resolves a user-visible sheet name to its worksheet zip entry through
    * xl/workbook.xml (sheet name → r:id) and xl/_rels/workbook.xml.rels
    * (r:id → target). `None` = LAST sheet in workbook order — the
    * reference's observed default: erde/io/xls.py read_df calls
    * `excel_dict.popitem()`, and dict.popitem pops the last entry (its
    * `last=False` comment notwithstanding).
    */
  private[sources] def sheetEntry(files: Map[String, Array[Byte]], sheet: Option[String]): String =
    files.get("xl/workbook.xml") match {
      case None => "xl/worksheets/sheet1.xml" // minimal files without a workbook part
      case Some(wb) =>
        val doc = dom(wb)
        val nodes = doc.getElementsByTagName("sheet")
        val sheets = (0 until nodes.getLength).map { i =>
          val e = nodes.item(i).asInstanceOf[org.w3c.dom.Element]
          (e.getAttribute("name"), e.getAttribute("r:id"))
        }
        require(sheets.nonEmpty, "workbook has no sheets")
        val (_, rid) = sheet match {
          case None => sheets.last
          case Some(s) => sheets.find(_._1 == s).getOrElse(throw new IllegalArgumentException(
            s"no sheet '$s' in workbook (sheets: ${sheets.map(_._1).mkString(", ")})"))
        }
        val rels = files.get("xl/_rels/workbook.xml.rels").map { rb =>
          val rs = dom(rb).getElementsByTagName("Relationship")
          (0 until rs.getLength).map { i =>
            val e = rs.item(i).asInstanceOf[org.w3c.dom.Element]
            (e.getAttribute("Id"), e.getAttribute("Target"))
          }.toMap
        }.getOrElse(Map.empty)
        rels.get(rid) match {
          case Some(t) if t.startsWith("/") => t.drop(1)
          case Some(t) => "xl/" + t
          // a silent sheet1 fallback here would return the WRONG sheet's
          // rows under the requested name — only legal when the rels part is
          // absent entirely (minimal single-sheet files)
          case None if rels.isEmpty => "xl/worksheets/sheet1.xml"
          case None => throw new IllegalArgumentException(
            s"workbook relationship '$rid' not found in xl/_rels/workbook.xml.rels")
        }
    }

  /** Parses one sheet into rows of (columnIndex → string value). */
  private[sources] def parseRows(bytes: Array[Byte], sheet: Option[String]): Seq[Map[Int, String]] = {
    val files = entries(bytes)
    val shared: IndexedSeq[String] = files.get("xl/sharedStrings.xml").map { ss =>
      val doc = dom(ss)
      val sis = doc.getElementsByTagName("si")
      (0 until sis.getLength).map { i =>
        val ts = sis.item(i).asInstanceOf[org.w3c.dom.Element].getElementsByTagName("t")
        (0 until ts.getLength).map(j => ts.item(j).getTextContent).mkString
      }
    }.getOrElse(IndexedSeq.empty)

    val entry = sheetEntry(files, sheet)
    val sheetXml = files.getOrElse(entry,
      throw new IllegalArgumentException(s"no worksheet $entry in xlsx"))
    val doc = dom(sheetXml)
    val rows = doc.getElementsByTagName("row")
    def colIndex(ref: String): Int = {
      var v = 0
      ref.takeWhile(_.isLetter).foreach(c => v = v * 26 + (c - 'A' + 1))
      v - 1
    }
    (0 until rows.getLength).map { r =>
      val cells = rows.item(r).asInstanceOf[org.w3c.dom.Element].getElementsByTagName("c")
      (0 until cells.getLength).flatMap { ci =>
        val c = cells.item(ci).asInstanceOf[org.w3c.dom.Element]
        val idx = colIndex(c.getAttribute("r"))
        val t = c.getAttribute("t")
        val vNodes = c.getElementsByTagName("v")
        val isNodes = c.getElementsByTagName("is")
        val raw =
          if (vNodes.getLength > 0) Some(vNodes.item(0).getTextContent)
          else if (isNodes.getLength > 0) Some(isNodes.item(0).getTextContent)
          else None
        raw.map { v =>
          val value = t match {
            case "s" => shared(v.toInt)
            case "b" => if (v.trim == "1") "true" else "false" // xlsx bools are 0/1
            case _ => v
          }
          idx -> value
        }
      }.toMap
    }
  }

  /** Parses an ODS content.xml table into rows of (columnIndex → value),
    * honoring `table:number-columns-repeated`. `sheet` selects a
    * `table:table` by its `table:name` (default: the first table — and ONLY
    * that table's rows; multi-table documents don't bleed together).
    */
  private[sources] def parseOdsRows(bytes: Array[Byte],
      sheet: Option[String] = None): Seq[Map[Int, String]] = {
    val files = entries(bytes)
    val content = files.getOrElse("content.xml",
      throw new IllegalArgumentException("no content.xml in ods"))
    val doc = dom(content)
    val tables = doc.getElementsByTagName("table:table")
    require(tables.getLength > 0, "no table:table in ods content")
    val names = (0 until tables.getLength)
      .map(i => tables.item(i).asInstanceOf[org.w3c.dom.Element].getAttribute("table:name"))
    val pick = sheet match {
      case None => tables.getLength - 1 // reference popitem() default: last sheet
      case Some(s) => names.indexOf(s) match {
        case -1 => throw new IllegalArgumentException(
          s"no sheet '$s' in ods (sheets: ${names.mkString(", ")})")
        case i => i
      }
    }
    val rows = tables.item(pick).asInstanceOf[org.w3c.dom.Element]
      .getElementsByTagName("table:table-row")
    (0 until rows.getLength).map { r =>
      val cells = rows.item(r).asInstanceOf[org.w3c.dom.Element]
        .getElementsByTagName("table:table-cell")
      var idx = 0
      val out = scala.collection.mutable.Map.empty[Int, String]
      (0 until cells.getLength).foreach { ci =>
        val c = cells.item(ci).asInstanceOf[org.w3c.dom.Element]
        val repeat = Option(c.getAttribute("table:number-columns-repeated"))
          .filter(_.nonEmpty).map(_.toInt).getOrElse(1)
        val ps = c.getElementsByTagName("text:p")
        val text =
          if (ps.getLength > 0)
            Some((0 until ps.getLength).map(ps.item(_).getTextContent).mkString("\n"))
          else Option(c.getAttribute("office:value")).filter(_.nonEmpty)
        text.foreach { t => (0 until repeat).foreach(k => out(idx + k) = t) }
        idx += repeat
      }
      out.toMap
    }
  }

  /** Narrowest of long / double / boolean / string that fits every non-empty
    * sample value (the `pd.read_excel` typed-column contract, csv-inferSchema
    * style). Empty/missing-only columns stay string.
    */
  private[sources] def inferType(vals: Seq[String]): DataType = {
    val vs = vals.filter(v => v != null && v.nonEmpty)
    def all(p: String => Boolean) = vs.forall(v => p(v.trim))
    if (vs.isEmpty) StringType
    else if (all(v => v.toLongOption.isDefined)) LongType
    else if (all(v => v.toDoubleOption.isDefined)) DoubleType
    else if (all(v => v.equalsIgnoreCase("true") || v.equalsIgnoreCase("false"))) BooleanType
    else StringType
  }

  /** Builds the typed frame from header names, the first file's sample rows
    * (type inference), and the distributed all-strings frame. try_cast, not
    * cast: ANSI mode is on in Spark 4, so a later file's value that breaks
    * the first file's inferred type (or an empty-text cell) must null out —
    * the documented csv-permissive contract — not crash the action.
    */
  private def typed(strings: DataFrame, names: Seq[String],
      sampleRows: Seq[Map[Int, String]], inferSchema: Boolean): DataFrame =
    if (!inferSchema) strings
    else strings.select(names.zipWithIndex.map { case (n, i) =>
      col(n).try_cast(inferType(sampleRows.map(_.get(i).orNull))).as(n)
    }: _*)

  /** Reads `*.ods` under `path` (OpenDocument spreadsheet — same contract as
    * [[read]]: header row → column names, typed columns, `sheet` by name).
    */
  def readOds(spark: SparkSession, path: String, sheet: Option[String] = None,
      inferSchema: Boolean = true): DataFrame = {
    val files = SqliteDb.binaryFiles(spark, path, Some("*.ods"))
    val headRows = parseOdsRows(files.head(), sheet)
    require(headRows.nonEmpty, "empty ods table")
    val header = headRows.head
    val nCols = header.keys.maxOption.getOrElse(-1) + 1
    val names = (0 until nCols).map(i => header.getOrElse(i, s"_c$i"))
    val schema = StructType(names.map(n => StructField(n, StringType)))
    val enc = RowEncoder.encoderFor(schema)
    val strings = files.mapPartitions { it =>
      it.flatMap { bytes =>
        parseOdsRows(bytes, sheet).drop(1)
          .filter(_.nonEmpty)
          .map(cells => Row.fromSeq((0 until nCols).map(i => cells.get(i).orNull)))
      }
    }(enc).toDF()
    typed(strings, names, headRows.drop(1), inferSchema)
  }

  // ------------------------------------------------------------- writing

  private def colRef(i: Int): String = {
    var n = i + 1
    val sb = new StringBuilder
    while (n > 0) { val r = (n - 1) % 26; sb.insert(0, ('A' + r).toChar); n = (n - 1) / 26 }
    sb.toString
  }

  private def xmlEsc(s: String): String = s.flatMap {
    case '&' => "&amp;"
    case '<' => "&lt;"
    case '>' => "&gt;"
    case '"' => "&quot;"
    // control chars are invalid in XML 1.0 — drop them rather than emit a
    // file no parser will open (tab/newline/CR are legal and kept)
    case c if c < ' ' && c != '\t' && c != '\n' && c != '\r' => ""
    case c => c.toString
  }

  /** One cell's XML, or "" for null. Numbers and booleans are native xlsx
    * cells; strings go INLINE (`t="inlineStr"` — no sharedStrings table to
    * coordinate across shards); dates/timestamps write as their ISO text
    * (a real xlsx date cell is a styled serial number — styles are a
    * presentation concern this data exporter stays out of). Complex and
    * binary types reject loudly at [[write]] entry.
    */
  private def cell(ref: String, dt: DataType, x: Any): String =
    if (x == null) ""
    else dt match {
      case ByteType | ShortType | IntegerType | LongType | FloatType |
           DoubleType | _: DecimalType =>
        s"""<c r="$ref"><v>$x</v></c>"""
      case BooleanType =>
        s"""<c r="$ref" t="b"><v>${if (x.asInstanceOf[Boolean]) 1 else 0}</v></c>"""
      case StringType | DateType | TimestampType =>
        s"""<c r="$ref" t="inlineStr"><is><t xml:space="preserve">${xmlEsc(x.toString)}</t></is></c>"""
      case other => throw new IllegalArgumentException(
        s"unsupported xlsx cell type $other")
    }

  private def checkWritable(schema: StructType): Unit =
    schema.fields.foreach { f =>
      f.dataType match {
        case ByteType | ShortType | IntegerType | LongType | FloatType |
             DoubleType | _: DecimalType | BooleanType | StringType |
             DateType | TimestampType => ()
        case other => throw new IllegalArgumentException(
          s"unsupported xlsx column type $other for '${f.name}' — convert it " +
            "to text first (geometry travels as WKT through writeAuto)")
      }
    }

  /** One complete minimal-OOXML workbook: workbook + rels + content types +
    * a single inline-strings worksheet whose first row is the header. Opens
    * in Excel/LibreOffice/pandas and round-trips through [[read]] (typed
    * columns re-infer from the values).
    */
  private def writeOne(rows: Iterator[Row], schema: StructType,
      sheetName: String, file: java.io.File): Long = {
    Option(file.getParentFile).foreach(_.mkdirs())
    val zos = new java.util.zip.ZipOutputStream(
      new java.io.BufferedOutputStream(new java.io.FileOutputStream(file)))
    def entry(name: String, body: String): Unit = {
      zos.putNextEntry(new java.util.zip.ZipEntry(name))
      zos.write(body.getBytes("UTF-8"))
      zos.closeEntry()
    }
    val xmlDecl = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>"""
    var n = 0L
    try {
      entry("[Content_Types].xml", xmlDecl +
        """<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
        """<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""" +
        """<Default Extension="xml" ContentType="application/xml"/>""" +
        """<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>""" +
        """<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>""" +
        """</Types>""")
      entry("_rels/.rels", xmlDecl +
        """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
        """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>""" +
        """</Relationships>""")
      entry("xl/workbook.xml", xmlDecl +
        """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">""" +
        s"""<sheets><sheet name="${xmlEsc(sheetName)}" sheetId="1" r:id="rId1"/></sheets></workbook>""")
      entry("xl/_rels/workbook.xml.rels", xmlDecl +
        """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
        """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>""" +
        """</Relationships>""")
      zos.putNextEntry(new java.util.zip.ZipEntry("xl/worksheets/sheet1.xml"))
      val w = new java.io.OutputStreamWriter(zos, "UTF-8")
      w.write(xmlDecl +
        """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""")
      w.write("<row r=\"1\">" + schema.fieldNames.zipWithIndex.map { case (name, c) =>
        cell(s"${colRef(c)}1", StringType, name)
      }.mkString + "</row>")
      val fields = schema.fields
      rows.foreach { row =>
        n += 1
        val r = n + 1 // 1-based, after the header
        val sb = new StringBuilder(s"""<row r="$r">""")
        var c = 0
        while (c < fields.length) {
          sb.append(cell(s"${colRef(c)}$r", fields(c).dataType, row.get(c)))
          c += 1
        }
        sb.append("</row>")
        w.write(sb.toString)
      }
      w.write("</sheetData></worksheet>")
      w.flush()
      zos.closeEntry()
    } finally zos.close()
    n
  }

  /** One ODS table cell. ODS carries the value as BOTH a typed attribute
    * and display text; [[parseOdsRows]] (and LibreOffice) read either.
    * Null cells stay empty but still occupy their column position.
    */
  private def odsCell(dt: DataType, x: Any): String =
    if (x == null) "<table:table-cell/>"
    else dt match {
      case ByteType | ShortType | IntegerType | LongType | FloatType |
           DoubleType | _: DecimalType =>
        s"""<table:table-cell office:value-type="float" office:value="$x"><text:p>$x</text:p></table:table-cell>"""
      case BooleanType =>
        val b = x.asInstanceOf[Boolean]
        s"""<table:table-cell office:value-type="boolean" office:boolean-value="$b"><text:p>$b</text:p></table:table-cell>"""
      case StringType | DateType | TimestampType =>
        s"""<table:table-cell office:value-type="string"><text:p>${xmlEsc(x.toString)}</text:p></table:table-cell>"""
      case other => throw new IllegalArgumentException(
        s"unsupported ods cell type $other")
    }

  /** One complete minimal ODS document: the `mimetype` entry STORED first
    * (the OpenDocument package magic), a manifest, and a single-table
    * content.xml. Round-trips [[readOds]]; opens in LibreOffice.
    */
  private def writeOneOds(rows: Iterator[Row], schema: StructType,
      sheetName: String, file: java.io.File): Long = {
    Option(file.getParentFile).foreach(_.mkdirs())
    val zos = new java.util.zip.ZipOutputStream(
      new java.io.BufferedOutputStream(new java.io.FileOutputStream(file)))
    var n = 0L
    try {
      val mime = "application/vnd.oasis.opendocument.spreadsheet".getBytes("UTF-8")
      val me = new java.util.zip.ZipEntry("mimetype")
      me.setMethod(java.util.zip.ZipEntry.STORED)
      me.setSize(mime.length.toLong)
      val crc = new java.util.zip.CRC32(); crc.update(mime)
      me.setCrc(crc.getValue)
      zos.putNextEntry(me); zos.write(mime); zos.closeEntry()
      zos.putNextEntry(new java.util.zip.ZipEntry("META-INF/manifest.xml"))
      zos.write(("""<?xml version="1.0" encoding="UTF-8"?>""" +
        """<manifest:manifest xmlns:manifest="urn:oasis:names:tc:opendocument:xmlns:manifest:1.0" manifest:version="1.2">""" +
        """<manifest:file-entry manifest:full-path="/" manifest:media-type="application/vnd.oasis.opendocument.spreadsheet"/>""" +
        """<manifest:file-entry manifest:full-path="content.xml" manifest:media-type="text/xml"/>""" +
        """</manifest:manifest>""").getBytes("UTF-8"))
      zos.closeEntry()
      zos.putNextEntry(new java.util.zip.ZipEntry("content.xml"))
      val w = new java.io.OutputStreamWriter(zos, "UTF-8")
      w.write("""<?xml version="1.0" encoding="UTF-8"?>""" +
        """<office:document-content xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0" xmlns:table="urn:oasis:names:tc:opendocument:xmlns:table:1.0" xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0" office:version="1.2">""" +
        s"""<office:body><office:spreadsheet><table:table table:name="${xmlEsc(sheetName)}">""")
      w.write("<table:table-row>" + schema.fieldNames.map(name =>
        odsCell(StringType, name)).mkString + "</table:table-row>")
      val fields = schema.fields
      rows.foreach { row =>
        n += 1
        val sb = new StringBuilder("<table:table-row>")
        var c = 0
        while (c < fields.length) {
          sb.append(odsCell(fields(c).dataType, row.get(c)))
          c += 1
        }
        sb.append("</table:table-row>")
        w.write(sb.toString)
      }
      w.write("</table:table></office:spreadsheet></office:body></office:document-content>")
      w.flush()
      zos.closeEntry()
    } finally zos.close()
    n
  }

  /** [[write]]'s OpenDocument twin — same cap, same cell lattice, same
    * beyond-the-reference status.
    */
  def writeOds(df: DataFrame, path: String, sheet: String = "Sheet1",
      maxRows: Int = 1048575): Unit = {
    checkWritable(df.schema)
    val rows = Shards.collectCapped(df, maxRows, "Xlsx.writeOds",
      "use writeShardedOds or parquet for large frames")
    writeOneOds(rows.iterator, df.schema, sheet, new java.io.File(path))
  }

  /** [[writeSharded]]'s OpenDocument twin; [[readOds]] reads the directory
    * back as one frame.
    */
  def writeShardedOds(df: DataFrame, dir: String, sheet: String = "Sheet1"): Unit = {
    checkWritable(df.schema)
    val schema = df.schema
    Shards.write(df, dir, "ods")((file, rows) => writeOneOds(rows, schema, sheet, file))
  }

  /** Writes one `.xlsx` file — a whole-file export collected through the
    * driver and capped at `maxRows` (default: the format's own 1,048,575
    * data-row sheet limit); scale data belongs in [[writeSharded]] or
    * parquet. The REFERENCE driver's write raises NotImplementedError
    * (erde/io/xls.py:18) — this export is graft surface beyond it.
    */
  def write(df: DataFrame, path: String, sheet: String = "Sheet1",
      maxRows: Int = 1048575): Unit = {
    checkWritable(df.schema)
    val rows = Shards.collectCapped(df, maxRows, "Xlsx.write",
      "use writeSharded or parquet for large frames (the default cap is the xlsx sheet limit)")
    writeOne(rows.iterator, df.schema, sheet, new java.io.File(path))
  }

  /** Distributed export: one standalone `.xlsx` per partition under `dir` in
    * the [[Shards]] layout (each partition within the sheet limit); [[read]]
    * reads the directory back as one frame.
    */
  def writeSharded(df: DataFrame, dir: String, sheet: String = "Sheet1"): Unit = {
    checkWritable(df.schema)
    val schema = df.schema
    Shards.write(df, dir, "xlsx")((file, rows) => writeOne(rows, schema, sheet, file))
  }

  /** Reads `*.xlsx` under `path`: header row → column names, typed columns
    * (see object doc), `sheet` by user-visible name (default LAST, matching
    * the reference's `popitem()` behavior — see [[sheetEntry]]).
    */
  def read(spark: SparkSession, path: String, sheet: Option[String] = None,
      inferSchema: Boolean = true): DataFrame = {
    val files = SqliteDb.binaryFiles(spark, path, Some("*.xlsx"))

    val headRows = parseRows(files.head(), sheet)
    require(headRows.nonEmpty, "empty worksheet")
    val header = headRows.head
    val nCols = (header.keys.maxOption.getOrElse(-1)) + 1
    val names = (0 until nCols).map(i => header.getOrElse(i, s"_c$i"))
    val schema = StructType(names.map(n => StructField(n, StringType)))
    val enc = RowEncoder.encoderFor(schema)

    val strings = files.mapPartitions { it =>
      it.flatMap { bytes =>
        parseRows(bytes, sheet).drop(1).map { cells =>
          Row.fromSeq((0 until nCols).map(i => cells.get(i).orNull))
        }
      }
    }(enc).toDF()
    typed(strings, names, headRows.drop(1), inferSchema)
  }
}
