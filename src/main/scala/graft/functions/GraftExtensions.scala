package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Session-extension registration for graft's custom expressions:
  * `spark.sql.extensions=graft.functions.GraftExtensions` installs every
  * [[GraftFunctions.table]] function in the session and in each of its
  * `newSession()`s. [[graft.GraftSession]] sets it, so every graft main
  * and test session has the functions; a cluster enables them with
  * `--conf`. A session built without it calls `register` (see
  * [[GraftFunctions]]) once.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftFunctions.table.foreach { case (name, cls, builder) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), builder))
    }
}
