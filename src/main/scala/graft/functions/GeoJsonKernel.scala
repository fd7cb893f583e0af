package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData, MapData}
import org.apache.spark.unsafe.types.UTF8String

import graft.geom.{GeoJson, WKB}

/** Static bridge for the GeoJSON IO expressions (reference: erde/io geojson /
  * geojsonseq drivers — graft reads features with Spark's splittable text
  * sources and parses them with the [[KernelFns]] rows over this object).
  */
object GeoJsonKernel {

  def fromGeoJson(s: UTF8String): Array[Byte] = WKB.write(GeoJson.readGeometry(s.toString))

  /** Null on malformed input (ingest-safe variant). */
  def tryFromGeoJson(s: UTF8String): Array[Byte] =
    try fromGeoJson(s) catch { case _: Exception => null }

  def asGeoJson(b: Array[Byte]): UTF8String =
    UTF8String.fromString(GeoJson.writeGeometry(WKB.read(b)))

  private def featureObj(s: UTF8String): GeoJson.JObj =
    GeoJson.parse(s.toString).asInstanceOf[GeoJson.JObj]

  /** Geometry of a Feature (or a bare geometry object) → WKB. */
  def featureGeometry(s: UTF8String): Array[Byte] = {
    val o = featureObj(s)
    val g = o.fields.get("geometry") match {
      case Some(geom: GeoJson.JObj) => GeoJson.geomOf(geom)
      case _ => GeoJson.geomOf(o)
    }
    WKB.write(g)
  }

  /** Properties of a Feature → map<string,string> (scalars verbatim, nested
    * values re-serialized as JSON).
    */
  def featureProps(s: UTF8String): MapData = {
    val props = featureObj(s).fields.get("properties") match {
      case Some(GeoJson.JObj(fields)) => fields.toSeq
      case _ => Seq.empty
    }
    new ArrayBasedMapData(
      new GenericArrayData(props.map(p => UTF8String.fromString(p._1)).toArray[Any]),
      new GenericArrayData(props.map(p => UTF8String.fromString(GeoJson.stringify(p._2))).toArray[Any]))
  }

  /** FeatureCollection text → array of per-feature JSON strings. */
  def features(s: UTF8String): ArrayData = {
    val o = featureObj(s)
    val feats = o.fields.get("features") match {
      case Some(GeoJson.JArr(items)) => items.map(f => UTF8String.fromString(GeoJson.writeJson(f)))
      case _ => Seq.empty
    }
    new GenericArrayData(feats.toArray[Any])
  }

  /** (WKB geometry, map properties) → one Feature JSON line. */
  def toFeature(b: Array[Byte], props: MapData): UTF8String = {
    val sb = new StringBuilder("""{"type":"Feature","properties":{""")
    val keys = props.keyArray(); val vals = props.valueArray()
    var i = 0
    while (i < props.numElements()) {
      if (i > 0) sb += ','
      sb ++= GeoJson.quote(keys.getUTF8String(i).toString)
      sb += ':'
      val v = vals.getUTF8String(i)
      if (v == null) sb ++= "null" else sb ++= GeoJson.quote(v.toString)
      i += 1
    }
    sb ++= "},\"geometry\":"
    sb ++= GeoJson.writeGeometry(WKB.read(b))
    sb += '}'
    UTF8String.fromString(sb.toString)
  }
}

/** Column API for the GeoJSON kernels. */
object GeoJsonFunctions {
  import graft.functions.{KernelFns => k}

  def st_geomfromgeojson(s: Column): Column = k.st_geomfromgeojson(s)
  def st_try_geomfromgeojson(s: Column): Column = k.st_try_geomfromgeojson(s)
  def st_asgeojson(g: Column): Column = k.st_asgeojson(g)
  def feature_geometry(s: Column): Column = k.feature_geometry(s)
  def feature_props(s: Column): Column = k.feature_props(s)
  def geojson_features(s: Column): Column = k.geojson_features(s)
  def to_geojson_feature(g: Column, props: Column): Column = k.to_geojson_feature(g, props)
}
