package graft.sources

import java.util.zip.{Deflater, Inflater}
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Pure-Scala `.osm.pbf` source (reference: erde/op/osm.py:8 shells out to
  * osmium/ogr2ogr over OSM_FILE paths; the PBF container itself is an open
  * spec — https://wiki.openstreetmap.org/wiki/PBF_Format: length-prefixed
  * BlobHeader/Blob frames, zlib-compressed PrimitiveBlocks holding a string
  * table and dense-coded elements).
  *
  * Read splits every file into per-blob byte ranges (each Blob is
  * independently decompressible) on the [[Shards]] read path, so one planet
  * file fans out as well as ~2000 regional extracts do.
  *
  * Output schema: `type` ("n"/"w"/"r"), `id`, `tags map<string,string>`,
  * `lon`/`lat` (nodes; null otherwise), `refs array<long>` (way node refs /
  * relation member ids), and — relations only — `member_types`
  * ("n"/"w"/"r" per member, the PBF Relation `types` enum) and
  * `member_roles` (the `roles_sid` strings). The element model erde's tag
  * filter operates on ([[graft.operators.OsmFilter]] runs directly on this
  * frame); the member columns are what lets [[graft.operators.OsmFilter]]
  * type its crop membership joins and assemble relation multipolygons
  * (reference: erde/op/osm.py:10-15 ogr2ogr `multipolygons` layer).
  */
object OsmPbf {

  val schema: StructType = StructType(Seq(
    StructField("type", StringType, nullable = false),
    StructField("id", LongType, nullable = false),
    StructField("tags", MapType(StringType, StringType, valueContainsNull = false)),
    StructField("lon", DoubleType, nullable = true),
    StructField("lat", DoubleType, nullable = true),
    StructField("refs", ArrayType(LongType, containsNull = false), nullable = true),
    StructField("member_types", ArrayType(StringType, containsNull = false), nullable = true),
    StructField("member_roles", ArrayType(StringType, containsNull = false), nullable = true)))

  private val MemberTypeNames = Array("n", "w", "r") // PBF Relation.MemberType enum order

  private def inflate(data: Array[Byte], rawSize: Int): Array[Byte] = {
    val inf = new Inflater()
    inf.setInput(data)
    val out = new Array[Byte](rawSize)
    var off = 0
    while (off < rawSize && !inf.finished()) off += inf.inflate(out, off, rawSize - off)
    inf.end()
    out
  }

  private def parsePrimitiveBlock(block: Array[Byte]): Iterator[Row] = {
    val r = new Pbf.Reader(block, 0, block.length)
    val strings = ArrayBuffer[String]()
    val groups = ArrayBuffer[(Int, Int)]()
    var granularity = 100L
    var latOffset = 0L
    var lonOffset = 0L
    while (r.hasMore) {
      val (f, w) = r.tag()
      f match {
        case 1 => // stringtable
          val (s, l) = r.lenDelimited()
          val sr = r.slice(s, l)
          while (sr.hasMore) {
            val (sf, sw) = sr.tag()
            if (sf == 1 && sw == 2) {
              val (ss, sl) = sr.lenDelimited()
              strings += new String(block, ss, sl, "UTF-8")
            } else sr.skip(sw)
          }
        case 2 => groups += r.lenDelimited()
        case 17 => granularity = r.varint()
        case 19 => latOffset = r.varint()
        case 20 => lonOffset = r.varint()
        case _ => r.skip(w)
      }
    }
    def coord(offset: Long, units: Long): Double = 1e-9 * (offset + granularity * units)

    groups.iterator.flatMap { case (gs, gl) =>
      val out = ArrayBuffer[Row]()
      val gr = r.slice(gs, gl)
      while (gr.hasMore) {
        val (f, w) = gr.tag()
        f match {
          case 1 => // plain Node
            val (ns, nl) = gr.lenDelimited()
            val nr = gr.slice(ns, nl)
            var id = 0L; var lat = 0L; var lon = 0L
            var keys = Array.empty[Long]; var vals = Array.empty[Long]
            while (nr.hasMore) {
              val (nf, nw) = nr.tag()
              nf match {
                case 1 => id = nr.zigzag()
                case 2 => val (s, l) = nr.lenDelimited(); keys = nr.packedVarints(s, l)
                case 3 => val (s, l) = nr.lenDelimited(); vals = nr.packedVarints(s, l)
                case 8 => lat = nr.zigzag()
                case 9 => lon = nr.zigzag()
                case _ => nr.skip(nw)
              }
            }
            val tags = keys.zip(vals).map { case (k, v) => strings(k.toInt) -> strings(v.toInt) }.toMap
            out += Row("n", id, tags, coord(lonOffset, lon), coord(latOffset, lat), null, null, null)
          case 2 => // DenseNodes
            val (ds, dl) = gr.lenDelimited()
            val dr = gr.slice(ds, dl)
            var ids = Array.empty[Long]; var lats = Array.empty[Long]; var lons = Array.empty[Long]
            var kvs = Array.empty[Long]
            while (dr.hasMore) {
              val (df, dw) = dr.tag()
              df match {
                case 1 => val (s, l) = dr.lenDelimited(); ids = dr.packedZigzags(s, l)
                case 8 => val (s, l) = dr.lenDelimited(); lats = dr.packedZigzags(s, l)
                case 9 => val (s, l) = dr.lenDelimited(); lons = dr.packedZigzags(s, l)
                case 10 => val (s, l) = dr.lenDelimited(); kvs = dr.packedVarints(s, l)
                case _ => dr.skip(dw)
              }
            }
            var id = 0L; var lat = 0L; var lon = 0L
            var kv = 0
            var i = 0
            while (i < ids.length) {
              id += ids(i); lat += lats(i); lon += lons(i)
              val tags = scala.collection.mutable.Map[String, String]()
              while (kv < kvs.length && kvs(kv) != 0) {
                tags += strings(kvs(kv).toInt) -> strings(kvs(kv + 1).toInt)
                kv += 2
              }
              kv += 1 // the 0 delimiter
              out += Row("n", id, tags.toMap, coord(lonOffset, lon), coord(latOffset, lat), null, null, null)
              i += 1
            }
          case 3 => // Way
            val (ws, wl) = gr.lenDelimited()
            val wr = gr.slice(ws, wl)
            var id = 0L
            var keys = Array.empty[Long]; var vals = Array.empty[Long]; var refs = Array.empty[Long]
            while (wr.hasMore) {
              val (wf, ww) = wr.tag()
              wf match {
                case 1 => id = wr.varint()
                case 2 => val (s, l) = wr.lenDelimited(); keys = wr.packedVarints(s, l)
                case 3 => val (s, l) = wr.lenDelimited(); vals = wr.packedVarints(s, l)
                case 8 => val (s, l) = wr.lenDelimited(); refs = wr.packedZigzags(s, l)
                case _ => wr.skip(ww)
              }
            }
            val tags = keys.zip(vals).map { case (k, v) => strings(k.toInt) -> strings(v.toInt) }.toMap
            var acc = 0L
            val absRefs = refs.map { d => acc += d; acc }
            out += Row("w", id, tags, null, null, absRefs.toSeq, null, null)
          case 4 => // Relation
            val (rs, rl) = gr.lenDelimited()
            val rr = gr.slice(rs, rl)
            var id = 0L
            var keys = Array.empty[Long]; var vals = Array.empty[Long]; var memids = Array.empty[Long]
            var rolesSid = Array.empty[Long]; var memTypes = Array.empty[Long]
            while (rr.hasMore) {
              val (rf, rw) = rr.tag()
              rf match {
                case 1 => id = rr.varint()
                case 2 => val (s, l) = rr.lenDelimited(); keys = rr.packedVarints(s, l)
                case 3 => val (s, l) = rr.lenDelimited(); vals = rr.packedVarints(s, l)
                case 8 => val (s, l) = rr.lenDelimited(); rolesSid = rr.packedVarints(s, l)
                case 9 => val (s, l) = rr.lenDelimited(); memids = rr.packedZigzags(s, l)
                case 10 => val (s, l) = rr.lenDelimited(); memTypes = rr.packedVarints(s, l)
                case _ => rr.skip(rw)
              }
            }
            val tags = keys.zip(vals).map { case (k, v) => strings(k.toInt) -> strings(v.toInt) }.toMap
            var acc = 0L
            val absIds = memids.map { d => acc += d; acc }
            // types/roles run parallel to memids by spec; a missing/short array
            // (hand-rolled writers) pads to NODE / "" rather than failing
            val mTypes = Array.tabulate(absIds.length) { i =>
              if (i < memTypes.length) MemberTypeNames(math.min(2, math.max(0, memTypes(i).toInt))) else "n"
            }
            val mRoles = Array.tabulate(absIds.length) { i =>
              if (i < rolesSid.length) strings(rolesSid(i).toInt) else ""
            }
            out += Row("r", id, tags, null, null, absIds.toSeq, mTypes.toSeq, mRoles.toSeq)
          case _ => gr.skip(w)
        }
      }
      out.iterator
    }
  }

  /** Reads every `.pbf`/`.osm.pbf` under `path` into the element frame on
    * the [[Shards]] read path: each file's OSMData blob ranges are listed
    * with header-only IO, then decoded in parallel — each zlib Blob is
    * independently decompressible, so one big file fans out across the
    * cluster instead of pinning one task.
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    val ranges = Shards.plan(spark, Shards.list(path, ".pbf"))(blobRanges)
    Shards.read(spark, ranges, schema, 2 * spark.sparkContext.defaultParallelism) {
      case (f, off, len) => parseBlobBytes(Shards.readRange(f, off, len))
    }
  }

  // ---- writer (driver-side, capped — fixture/export path) ------------------

  /** Writes `rows` to `file` as one complete .osm.pbf (header blob +
    * zlib'd PrimitiveBlocks of `elementsPerBlock`, nodes sorted and first)
    * and returns the row count — shared by the driver-side [[write]] and the
    * shards of [[writeSharded]].
    */
  private def writeOne(rows: Array[Row], idx: Map[String, Int],
      elementsPerBlock: Int, file: java.io.File): Long = {
    val nodesAll = rows.filter(_.getString(idx("type")) == "n").sortBy(_.getLong(idx("id")))
    val waysAll = rows.filter(_.getString(idx("type")) == "w")
    val relsAll = rows.filter(_.getString(idx("type")) == "r")
    val chunks = (nodesAll ++ waysAll ++ relsAll).grouped(math.max(1, elementsPerBlock)).toSeq
    // OSMHeader blob (uncompressed, required-features only)
    val hdrBlock = new Pbf.Writer
    hdrBlock.stringField(4, "OsmSchema-V0.6")
    hdrBlock.stringField(4, "DenseNodes")
    val hdrBlob = new Pbf.Writer
    hdrBlob.bytesField(1, hdrBlock.toBytes)
    val out = new java.io.BufferedOutputStream(new java.io.FileOutputStream(file))
    try {
      writeFrame(out, "OSMHeader", hdrBlob.toBytes)
      chunks.foreach(chunk => writeFrame(out, "OSMData", blockBlob(chunk, idx)))
    } finally out.close()
    rows.length.toLong
  }

  /** Writes `df` (schema like [[schema]]: type/id/tags and lon/lat for "n",
    * refs for "w"/"r") as one `.osm.pbf` file. Driver-side, `maxRows`-capped
    * — [[writeSharded]] is the scale path. Elements are chunked into
    * PrimitiveBlocks of `elementsPerBlock` (each with its own string table)
    * — real planet files carry thousands of such blocks, which is what makes
    * [[read]]'s per-blob ranges work.
    */
  def write(df: DataFrame, path: String, maxRows: Int = 1000000,
      elementsPerBlock: Int = 8000): Unit = {
    val rows = Shards.collectCapped(df, maxRows, "OsmPbf.write",
      "use writeSharded (one .osm.pbf per partition) for large frames")
    writeOne(rows, df.schema.fieldNames.zipWithIndex.toMap, elementsPerBlock,
      new java.io.File(path))
  }

  /** Distributed write: one standalone `.osm.pbf` per partition under `dir`
    * in the [[Shards]] layout — the regional-extract shape, nodes sorted per
    * file; [[read]] reads the directory back as one frame.
    */
  def writeSharded(df: DataFrame, dir: String, elementsPerBlock: Int = 8000): Unit = {
    val idx = df.schema.fieldNames.zipWithIndex.toMap
    Shards.write(df, dir, "osm.pbf") { (file, rows) =>
      writeOne(rows.toArray, idx, elementsPerBlock, file)
    }
  }

  private def writeFrame(out: java.io.OutputStream, blobType: String, blobBytes: Array[Byte]): Unit = {
    val header = new Pbf.Writer
    header.stringField(1, blobType)
    header.varintField(3, blobBytes.length.toLong)
    val hb = header.toBytes
    out.write(Array[Byte]((hb.length >> 24).toByte, (hb.length >> 16).toByte,
      (hb.length >> 8).toByte, hb.length.toByte))
    out.write(hb)
    out.write(blobBytes)
  }

  /** One zlib'd PrimitiveBlock (own string table) wrapped in a Blob message. */
  private def blockBlob(rows: Seq[Row], idx: Map[String, Int]): Array[Byte] = {
    def tagsOf(r: Row): Seq[(String, String)] =
      Option(r.getAs[Map[String, String]](idx("tags"))).getOrElse(Map.empty).toSeq.sortBy(_._1)

    // string table: index 0 must be the empty string by spec
    val strings = ArrayBuffer[String]("")
    val stringIdx = scala.collection.mutable.Map[String, Int]("" -> 0)
    def sid(s: String): Int = stringIdx.getOrElseUpdate(s, { strings += s; strings.length - 1 })

    val nodes = rows.filter(_.getString(idx("type")) == "n")
    val ways = rows.filter(_.getString(idx("type")) == "w")
    val rels = rows.filter(_.getString(idx("type")) == "r")

    val groups = new Pbf.Writer
    if (nodes.nonEmpty) {
      val dense = new Pbf.Writer
      var prevId = 0L; var prevLat = 0L; var prevLon = 0L
      val ids = ArrayBuffer[Long](); val lats = ArrayBuffer[Long](); val lons = ArrayBuffer[Long]()
      val kvs = ArrayBuffer[Long]()
      nodes.foreach { r =>
        val id = r.getLong(idx("id"))
        val latU = math.round(r.getDouble(idx("lat")) * 1e7) // granularity 100 nano-deg
        val lonU = math.round(r.getDouble(idx("lon")) * 1e7)
        ids += id - prevId; lats += latU - prevLat; lons += lonU - prevLon
        prevId = id; prevLat = latU; prevLon = lonU
        tagsOf(r).foreach { case (k, v) => kvs += sid(k).toLong; kvs += sid(v).toLong }
        kvs += 0L
      }
      dense.packedZigzags(1, ids.toSeq)
      dense.packedZigzags(8, lats.toSeq)
      dense.packedZigzags(9, lons.toSeq)
      dense.packedVarints(10, kvs.toSeq)
      groups.bytesField(2, { val g = new Pbf.Writer; g.bytesField(2, dense.toBytes); g.toBytes })
    }
    def refsOf(r: Row): Seq[Long] =
      if (r.isNullAt(idx("refs"))) Seq.empty else r.getSeq[Long](idx("refs"))
    if (ways.nonEmpty || rels.nonEmpty) {
      val g = new Pbf.Writer
      ways.foreach { r =>
        val w = new Pbf.Writer
        w.varintField(1, r.getLong(idx("id")))
        val tags = tagsOf(r)
        w.packedVarints(2, tags.map(t => sid(t._1).toLong))
        w.packedVarints(3, tags.map(t => sid(t._2).toLong))
        var prev = 0L
        w.packedZigzags(8, refsOf(r).map { v => val d = v - prev; prev = v; d })
        g.bytesField(3, w.toBytes)
      }
      def memberStringsOf(r: Row, colName: String, n: Int, default: String): Seq[String] =
        idx.get(colName) match {
          case Some(i) if !r.isNullAt(i) =>
            val vs = r.getSeq[String](i)
            Seq.tabulate(n)(j => if (j < vs.length) vs(j) else default)
          case _ => Seq.fill(n)(default)
        }
      rels.foreach { r =>
        val w = new Pbf.Writer
        w.varintField(1, r.getLong(idx("id")))
        val tags = tagsOf(r)
        w.packedVarints(2, tags.map(t => sid(t._1).toLong))
        w.packedVarints(3, tags.map(t => sid(t._2).toLong))
        val refs = refsOf(r)
        // roles_sid (8) / types (10) run parallel to memids (9); frames from
        // flat sources without the member columns default to NODE / ""
        w.packedVarints(8,
          memberStringsOf(r, "member_roles", refs.length, "").map(role => sid(role).toLong))
        var prev = 0L
        w.packedZigzags(9, refs.map { v => val d = v - prev; prev = v; d })
        w.packedVarints(10, memberStringsOf(r, "member_types", refs.length, "n")
          .map(t => math.max(0, MemberTypeNames.indexOf(t)).toLong))
        g.bytesField(4, w.toBytes)
      }
      groups.bytesField(2, g.toBytes)
    }

    val block = new Pbf.Writer
    val st = new Pbf.Writer
    strings.foreach(s => st.bytesField(1, s.getBytes("UTF-8")))
    block.bytesField(1, st.toBytes)
    block.out ++= groups.toBytes
    block.varintField(17, 100L) // granularity

    val raw = block.toBytes
    val deflater = new Deflater()
    deflater.setInput(raw); deflater.finish()
    val compressed = new Array[Byte](raw.length + 64)
    val clen = deflater.deflate(compressed)
    deflater.end()

    val blob = new Pbf.Writer
    blob.varintField(2, raw.length.toLong)
    blob.bytesField(3, java.util.Arrays.copyOf(compressed, clen))
    blob.toBytes
  }

  // ---- splittable read (per-blob byte ranges) ------------------------------

  /** OSMData blob byte ranges of one file: (file, offset, length), found by
    * walking the frame headers — reads only the 4-byte lengths and the small
    * BlobHeaders, never the data.
    */
  private[sources] def blobRanges(file: String): Seq[(String, Long, Int)] = {
    val raf = new java.io.RandomAccessFile(file, "r")
    try {
      val out = ArrayBuffer[(String, Long, Int)]()
      val len = raf.length()
      var p = 0L
      val hdrBuf = new Array[Byte](64)
      while (p + 4 <= len) {
        raf.seek(p)
        val headerLen = raf.readInt()
        val hb = if (headerLen <= hdrBuf.length) hdrBuf else new Array[Byte](headerLen)
        raf.readFully(hb, 0, headerLen)
        val hr = new Pbf.Reader(hb, 0, headerLen)
        var blobType = ""
        var dataSize = 0
        while (hr.hasMore) {
          val (f, w) = hr.tag()
          f match {
            case 1 => val (s, l) = hr.lenDelimited(); blobType = new String(hb, s, l, "UTF-8")
            case 3 => dataSize = hr.varint().toInt
            case _ => hr.skip(w)
          }
        }
        if (blobType == "OSMData") out += ((file, p + 4 + headerLen, dataSize))
        p += 4 + headerLen + dataSize
      }
      out.toSeq
    } finally raf.close()
  }

  /** Decodes one Blob message's bytes into element rows. */
  private[sources] def parseBlobBytes(bytes: Array[Byte]): Iterator[Row] = {
    val br = new Pbf.Reader(bytes, 0, bytes.length)
    var raw: Array[Byte] = null
    var rawSize = -1
    var zlib: (Int, Int) = null
    while (br.hasMore) {
      val (f, w) = br.tag()
      f match {
        case 1 => val (s, l) = br.lenDelimited(); raw = br.sliceBytes(s, l)
        case 2 => rawSize = br.varint().toInt
        case 3 => zlib = br.lenDelimited()
        case _ => br.skip(w)
      }
    }
    val block =
      if (raw != null) raw
      else if (zlib != null) inflate(br.sliceBytes(zlib._1, zlib._2), rawSize)
      else return Iterator.empty
    parsePrimitiveBlock(block)
  }
}
