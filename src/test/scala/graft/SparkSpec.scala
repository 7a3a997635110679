package graft

import org.apache.spark.sql.SparkSession

/** Shared local session for suites (one per JVM via getOrCreate). */
trait SparkSpec {
  lazy val spark: SparkSession =
    GraftSession.builder(4).appName("graft-test").getOrCreate()

  /** Run `body` with the given SQL confs set, restoring previous values. */
  def withSQLConf[A](pairs: (String, String)*)(body: => A): A = {
    val conf = spark.conf
    val saved = pairs.map { case (k, _) => k -> conf.getOption(k) }
    pairs.foreach { case (k, v) => conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }
}
