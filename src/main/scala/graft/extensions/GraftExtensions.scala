package graft.extensions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{DotProductLong, SquaredDistanceLong}

/** SparkSessionExtensions entry point: makes the native vector expressions
  * SQL-callable in any session built with
  * `.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.extensions.GraftExtensions`.
  *
  * It is the opt-in for sessions built outside the engine: `Graft.session`
  * does not set it, because `Graft.attach` already installs the same
  * functions plus the UDF/UDAF surface (`GraftFunctions.register`).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProductLong].getName, "graft_dot"),
      (exprs: Seq[Expression]) => DotProductLong(exprs(0), exprs(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_dist2"),
      new ExpressionInfo(classOf[SquaredDistanceLong].getName, "graft_dist2"),
      (exprs: Seq[Expression]) => SquaredDistanceLong(exprs(0), exprs(1))))
  }
}
