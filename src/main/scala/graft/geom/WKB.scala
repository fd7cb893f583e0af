package graft.geom

import java.nio.{ByteBuffer, ByteOrder}

/** WKB reader/writer (little-endian, 2D). This is graft's on-the-wire
  * geometry representation inside DataFrames: BinaryType columns — compact,
  * parquet-native, never re-parsed from text between chained operators.
  */
object WKB {

  private val PointT = 1
  private val LineT = 2
  private val PolyT = 3
  private val MPointT = 4
  private val MLineT = 5
  private val MPolyT = 6
  private val CollT = 7

  def write(g: Geom): Array[Byte] = {
    val buf = ByteBuffer.allocate(size(g)).order(ByteOrder.LITTLE_ENDIAN)
    put(buf, g)
    buf.array()
  }

  private def size(g: Geom): Int = g match {
    case _: Point => 5 + 16
    case MultiPoint(cs) => 9 + (cs.length / 2) * 21
    case LineString(cs) => 9 + cs.length * 8
    case MultiLineString(ps) => 9 + ps.map(p => 9 + p.length * 8).sum
    case Polygon(rs) => 9 + rs.map(r => 4 + r.length * 8).sum
    case MultiPolygon(ps) => 9 + ps.map(rs => 9 + rs.map(r => 4 + r.length * 8).sum).sum
    case GeomCollection(gs) => 9 + gs.map(size).sum
  }

  private def put(buf: ByteBuffer, g: Geom): Unit = {
    buf.put(1.toByte) // little-endian marker
    g match {
      case Point(x, y) =>
        buf.putInt(PointT).putDouble(x).putDouble(y)
      case MultiPoint(cs) =>
        buf.putInt(MPointT).putInt(cs.length / 2)
        var i = 0
        while (i < cs.length) { buf.put(1.toByte).putInt(PointT).putDouble(cs(i)).putDouble(cs(i + 1)); i += 2 }
      case LineString(cs) =>
        buf.putInt(LineT).putInt(cs.length / 2)
        cs.foreach(buf.putDouble)
      case MultiLineString(ps) =>
        buf.putInt(MLineT).putInt(ps.length)
        ps.foreach { p => buf.put(1.toByte).putInt(LineT).putInt(p.length / 2); p.foreach(buf.putDouble) }
      case Polygon(rs) =>
        buf.putInt(PolyT).putInt(rs.length)
        rs.foreach { r => buf.putInt(r.length / 2); r.foreach(buf.putDouble) }
      case MultiPolygon(ps) =>
        buf.putInt(MPolyT).putInt(ps.length)
        ps.foreach { rs =>
          buf.put(1.toByte).putInt(PolyT).putInt(rs.length)
          rs.foreach { r => buf.putInt(r.length / 2); r.foreach(buf.putDouble) }
        }
      case GeomCollection(gs) =>
        buf.putInt(CollT).putInt(gs.length)
        gs.foreach(put(buf, _))
    }
  }

  def read(bytes: Array[Byte]): Geom = {
    val buf = ByteBuffer.wrap(bytes)
    readGeom(buf)
  }

  private def readGeom(buf: ByteBuffer): Geom = {
    val bom = buf.get()
    buf.order(if (bom == 1) ByteOrder.LITTLE_ENDIAN else ByteOrder.BIG_ENDIAN)
    val rawType0 = buf.getInt()
    // PostGIS EWKB: flag bits on the type word; 0x20000000 means a 4-byte
    // SRID follows (st_setsrid stamps it, so any PostGIS read-back has it).
    // Z/M EWKB flags (0x80000000/0x40000000) change the coordinate stride
    // and stay unsupported, like the ISO +1000/+2000 offsets' payloads.
    val rawType =
      if ((rawType0 & 0x20000000) != 0) { buf.getInt(); rawType0 & ~0x20000000 }
      else rawType0
    val t = rawType % 1000 // tolerate EWKB-ish type offsets without Z/M data
    t match {
      case PointT => Point(buf.getDouble(), buf.getDouble())
      case LineT => LineString(coords(buf))
      case PolyT => Polygon(rings(buf))
      case MPointT =>
        val n = buf.getInt()
        val cs = new Array[Double](n * 2)
        var i = 0
        while (i < n) {
          buf.get(); buf.getInt() // byte order + type of each point
          cs(i * 2) = buf.getDouble(); cs(i * 2 + 1) = buf.getDouble()
          i += 1
        }
        MultiPoint(cs)
      case MLineT =>
        val n = buf.getInt()
        MultiLineString(Array.fill(n) { buf.get(); buf.getInt(); coords(buf) })
      case MPolyT =>
        val n = buf.getInt()
        MultiPolygon(Array.fill(n) { buf.get(); buf.getInt(); rings(buf) })
      case CollT =>
        val n = buf.getInt()
        GeomCollection(Array.fill(n)(readGeom(buf)))
      case other => throw new IllegalArgumentException(s"unsupported WKB type $other")
    }
  }

  private def coords(buf: ByteBuffer): Array[Double] = {
    val n = buf.getInt()
    val cs = new Array[Double](n * 2)
    var i = 0
    while (i < cs.length) { cs(i) = buf.getDouble(); i += 1 }
    cs
  }

  private def rings(buf: ByteBuffer): Array[Array[Double]] = {
    val n = buf.getInt()
    Array.fill(n)(coords(buf))
  }
}
