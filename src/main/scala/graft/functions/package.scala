package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression}
import org.apache.spark.sql.types.{IntegerType, LongType}

/** graft's SQL surface is one list, [[functions.sqlFunctions]]: every row of
  * the [[KernelFns]] table under its SQL name, plus the few functions whose
  * constants are baked in at plan time. The Column API calls the same
  * table rows, so a function builds the same Catalyst expression from
  * Scala, from `spark.sql` after `registerAll(spark)`, and from a session
  * with `spark.sql.extensions=graft.GraftExtensions`.
  */
package object functions {

  private def fixed(name: String, n: Int)(b: Seq[Expression] => Expression) =
    name -> { (args: Seq[Expression]) => KernelFn.checkArity(name, n, args); b(args) }

  /** (SQL name, builder) of every graft SQL function. */
  private[graft] val sqlFunctions: Seq[(String, Seq[Expression] => Expression)] =
    KernelFns.all.map(f => f.name -> (f.build _)) ++ Seq(
      fixed("st_to_utm", 2)(a => GeoFunctions.utmExpr(a(0), a(1), invert = false)),
      fixed("st_from_utm", 2)(a => GeoFunctions.utmExpr(a(0), a(1), invert = true)),
      fixed("st_transform", 3)(a => GeoFunctions.transformFromLiterals(a(0), a(1), a(2))),
      fixed("st_zorder", 3)(a => GeoFunctions.curveFromLiterals(StZOrder.apply)(a(0), a(1), a(2))),
      fixed("st_hilbert", 3)(a => GeoFunctions.curveFromLiterals(StHilbert.apply)(a(0), a(1), a(2))),
      fixed("st_geohash", 3)(a => GeoFunctions.curveFromLiterals(StGeohash.apply)(a(0), a(1), a(2))),
      fixed("mix64_hash", 2)(a => Mix64Hash(Cast(a(0), LongType), Cast(a(1), LongType))),
      fixed("passjoin_index", 2)(a => PassjoinKeys(a(0), Cast(a(1), IntegerType), probe = false)),
      fixed("passjoin_probe", 2)(a => PassjoinKeys(a(0), Cast(a(1), IntegerType), probe = true)))

  /** Registers every graft SQL function as a session temp function — the
    * zero-config path; cluster installs use [[graft.GraftExtensions]].
    */
  def registerAll(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    sqlFunctions.foreach { case (name, b) => reg.createOrReplaceTempFunction(name, b, "scala_udf") }
  }
}
