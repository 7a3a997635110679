package graft

import org.apache.spark.sql.SparkSession

/** The local session every graft main runs on, so `Bench` (the timing
  * gate) and `Verify` (the correctness gate) and the dev mains share one
  * shape. Each main adds its own confs before `getOrCreate()`. */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, else the whole machine capped at 32: the bench
    * contract is `local[32]` and does not set the variable (a "4" default
    * cost 5× in round 1's bench). */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(math.min(32, Runtime.getRuntime.availableProcessors))

  /** `local[cpus]` with one shuffle partition per core, UTC session time,
    * nanosecond parquet timestamps read as longs (normalized by
    * [[Tables.normalizeEventTs]]), no UI, WARN logging, and graft's SQL
    * functions installed by [[functions.GraftExtensions]] in this session
    * and every `newSession()` of it. */
  def builder(cpus: Int = GraftSession.cpus): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.log.level", "WARN")
      .config("spark.sql.extensions", classOf[functions.GraftExtensions].getName)
}
