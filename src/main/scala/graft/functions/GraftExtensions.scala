package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Session-extension registration for graft's custom expressions, so a
  * cluster can enable them declaratively:
  * `--conf spark.sql.extensions=graft.functions.GraftExtensions`
  * (equivalent to calling [[GraftFunctions.register]] per session; both
  * read [[GraftFunctions.table]]).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftFunctions.table.foreach { case (name, cls, builder) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), builder))
    }
}
