package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** The geometry expressions with plan-time constants: each bakes its
  * constants into the generated static call into [[GeomKernel]]. Every
  * other geometry function is a [[KernelFns]] row.
  */
private[graft] object GeomExpressions {
  final val K = "graft.functions.GeomKernel"
}
import GeomExpressions.K

/** UTM transform (EPSG 326xx/327xx ⇄ 4326); zone/hemisphere/direction are
  * plan-time constants, baked into the generated static call.
  */
case class StUtm(child: Expression, zone: Int, south: Boolean, invert: Boolean)
    extends UnaryExpression with Serializable {
  require(zone >= 1 && zone <= 60, s"UTM zone $zone out of range 1-60")
  override def dataType: DataType = BinaryType
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"$K.utm($c, $zone, $south, $invert)")
  override protected def nullSafeEval(b: Any): Any =
    GeomKernel.utm(b.asInstanceOf[Array[Byte]], zone, south, invert)
  override def prettyName: String = if (invert) "st_from_utm" else "st_to_utm"
  override protected def withNewChildInternal(c: Expression): StUtm = copy(child = c)
}

/** Parameterized-projection transform (EPSG:27700 / 2154 / 3035 / 258xx ⇄
  * 4326 via [[graft.geom.Projections]]); the code and direction are
  * plan-time constants baked into the generated static call.
  */
case class StCrsProj(child: Expression, epsg: Int, invert: Boolean)
    extends UnaryExpression with Serializable {
  require(graft.geom.Projections.supported(epsg), s"EPSG:$epsg not in the projection registry")
  override def dataType: DataType = BinaryType
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"$K.crs($c, $epsg, $invert)")
  override protected def nullSafeEval(b: Any): Any =
    GeomKernel.crs(b.asInstanceOf[Array[Byte]], epsg, invert)
  override def prettyName: String = "st_transform"
  override protected def withNewChildInternal(c: Expression): StCrsProj = copy(child = c)
}

/** Morton (Z-order) curve key of a lon/lat pair; `bits` per axis is a
  * plan-time constant baked into the generated static call.
  */
case class StZOrder(left: Expression, right: Expression, bits: Int)
    extends BinaryExpression with Serializable {
  require(bits >= 1 && bits <= 31, s"zorder bits $bits out of range 1-31")
  override def dataType: DataType = LongType
  override protected def nullSafeEval(lon: Any, lat: Any): Any =
    GeomKernel.zorder(lon.asInstanceOf[Double], lat.asInstanceOf[Double], bits)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (lon, lat) => s"$K.zorder($lon, $lat, $bits)")
  override def prettyName: String = "st_zorder"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): StZOrder =
    copy(left = l, right = r)
}

/** Hilbert curve key of a lon/lat pair — [[StZOrder]]'s better-locality
  * sibling; same plan-time `bits`.
  */
case class StHilbert(left: Expression, right: Expression, bits: Int)
    extends BinaryExpression with Serializable {
  require(bits >= 1 && bits <= 31, s"hilbert bits $bits out of range 1-31")
  override def dataType: DataType = LongType
  override protected def nullSafeEval(lon: Any, lat: Any): Any =
    GeomKernel.hilbert(lon.asInstanceOf[Double], lat.asInstanceOf[Double], bits)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (lon, lat) => s"$K.hilbert($lon, $lat, $bits)")
  override def prettyName: String = "st_hilbert"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): StHilbert =
    copy(left = l, right = r)
}

/** Base32 geohash of a lon/lat pair; `chars` is a plan-time constant. */
case class StGeohash(left: Expression, right: Expression, chars: Int)
    extends BinaryExpression with Serializable {
  require(chars >= 1 && chars <= 12, s"geohash chars $chars out of range 1-12")
  override def dataType: DataType = StringType
  override protected def nullSafeEval(lon: Any, lat: Any): Any =
    GeomKernel.geohash(lon.asInstanceOf[Double], lat.asInstanceOf[Double], chars)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (lon, lat) => s"$K.geohash($lon, $lat, $chars)")
  override def prettyName: String = "st_geohash"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): StGeohash =
    copy(left = l, right = r)
}
