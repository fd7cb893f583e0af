package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Cluster install path: `--conf spark.sql.extensions=graft.GraftExtensions`
  * makes every graft SQL function available in all sessions (including
  * pure-SQL clients), no per-session registration call needed. It injects
  * the same list as `graft.functions.registerAll`,
  * `graft.functions.sqlFunctions`, so both paths build the same expressions.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    graft.functions.sqlFunctions.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name), new ExpressionInfo("graft", name), builder))
    }
}
