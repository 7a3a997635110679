package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.builder().getOrCreate()
    new java.io.File(outDir).mkdirs()
    // dev-only subset filter (comma-separated name substrings); the driver
    // never sets it, so its runs always cover every query
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq)
    def wanted(name: String) = only.forall(_.exists(name.contains))
    // never silent: a subset run in a gate environment would otherwise
    // pass on N of M queries and look like full coverage
    only.foreach { _ =>
      val n = SparkEntry.queries.keys.count(wanted)
      System.err.println(
        s"WARNING: SPARK_GRAFT_ONLY is set — subset run, $n of " +
          s"${SparkEntry.queries.size} queries. NOT a full correctness gate.")
    }
    SparkEntry.queries.filter(kv => wanted(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case scala.util.control.NonFatal(e) =>
        // getMessage can be null: the class alone must identify the failure
        System.err.println(
          s"[verify] $name failed: ${e.getClass.getName}: ${e.getMessage}")
      }
      // this lane's result is on disk — free the operator-internal
      // checkpoints it registered (the r17 session-hygiene lifecycle;
      // one long session over 221 lanes otherwise accumulates blocks)
      graft.operators.Checkpoints.releaseTracked()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => wanted(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
