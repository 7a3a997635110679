package graft.sinks

import java.nio.file.{Files, Path}
import java.util.{Comparator, Properties}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, MapType}

import graft.operators.SnapshotMerge

/** The reference's MySQL load + incremental sync
  * (`/root/reference/data_loading_to_mysql_database.py`, SURVEY §2.2 K3,
  * §2.1 S4, §2.3 P4, §2.8 F6, §2.9 I1–I2) over Spark's JDBC source/sink.
  *
  * Works against any JDBC database; tests use embedded Derby (in the Spark
  * distribution) since the build is zero-egress. Batched writes
  * (`batchsize`, the reference's chunksize=1000) and full-replace overwrite
  * match `to_sql(if_exists='replace', chunksize=1000)`.
  */
object JdbcLoad {

  /** P4: the 15 analytics columns dropped before the MySQL load
    * (`data_loading_to_mysql_database.py:130-141`). `drop` is
    * missing-tolerant, like the reference's errors='ignore'. */
  val analyticsDropCols: Seq[String] =
    Seq("director", "studio", "country", "publisher", "author") ++
      (1 to 5).flatMap(i => Seq(s"tag_${i}_name", s"tag_${i}_count"))

  /** F6: serialize container columns to JSON strings so they fit a
    * relational sink (`prepare_dataframe_for_mysql`,
    * `data_loading_to_mysql_database.py:73-96` — schema-driven here instead
    * of sampling the first non-null value). */
  def prepareForJdbc(df: DataFrame): DataFrame =
    df.schema.fields.foldLeft(df) { (d, f) =>
      f.dataType match {
        case _: ArrayType | _: MapType =>
          d.withColumn(f.name, to_json(col(f.name)))
        case _ => d
      }
    }

  val DerbyDriver = "org.apache.derby.iapi.jdbc.AutoloadedDriver"

  def props(driver: String): Properties = {
    val p = new Properties()
    p.setProperty("driver", driver)
    p
  }

  /** K3: full-replace batched write (`to_sql(if_exists='replace')`).
    * `options` lets callers attach dialect specifics — e.g.
    * [[mysqlWriteOptions]], or just `createTableColumnTypes`. */
  def writeOverwrite(df: DataFrame, url: String, table: String,
      batchSize: Int = 1000, driver: String = DerbyDriver,
      options: Map[String, String] = Map.empty): Unit = {
    val w = options.foldLeft(
      prepareForJdbc(df).write.mode("overwrite")
        .option("batchsize", batchSize)) {
      case (wr, (k, v)) => wr.option(k, v)
    }
    w.jdbc(url, table, props(driver))
  }

  /** MySQL-dialect write options, mirroring the reference's utf8mb4 load
    * (`data_loading_to_mysql_database.py:40-57` connection charset,
    * `:149-172` chunked `to_sql`):
    *
    *  - connection + table charset `utf8mb4` so 4-byte Unicode (emoji in
    *    `name`/`short_summary`) survives both the wire and storage;
    *  - `chunksize=1000` → `batchsize=1000`;
    *  - bounded key/enum columns as explicit `VARCHAR(n)` via
    *    `createTableColumnTypes` (indexable — MySQL can't index unbounded
    *    TEXT without a prefix length); unbounded text columns keep the
    *    dialect default (Spark's MySQL dialect emits LONGTEXT, the
    *    engine-side analogue of pandas `to_sql`'s TEXT).
    *
    * `createTableOptions` is MySQL syntax — drop it when targeting another
    * dialect (the Derby spec does).
    */
  def mysqlWriteOptions(varcharCols: Map[String, Int] = Map.empty): Map[String, String] = {
    val ddl = varcharCols.map { case (c, n) => s"$c VARCHAR($n)" }.mkString(", ")
    Map(
      "characterEncoding" -> "UTF-8", // Connector/J: selects utf8mb4 on 8.x
      "connectionCollation" -> "utf8mb4_unicode_ci",
      "createTableOptions" ->
        "ENGINE=InnoDB DEFAULT CHARSET=utf8mb4 COLLATE=utf8mb4_unicode_ci",
      "batchsize" -> "1000") ++
      (if (varcharCols.nonEmpty) Map("createTableColumnTypes" -> ddl)
       else Map.empty)
  }

  /** S4: full-table JDBC scan (Catalyst pushes filters/pruning into it). */
  def readTable(spark: SparkSession, url: String, table: String,
      driver: String = DerbyDriver): DataFrame =
    spark.read.jdbc(url, table, props(driver))

  /** I1/I2: the reference's incremental sync — read source and target
    * tables, set-diff merge on `key` (insert/update/delete), rewrite the
    * target. A MISSING target = initial load (I2); any other failure to
    * read it (connection, permission, ...) is rethrown, never turned
    * into an initial load that would wipe the target.
    */
  def incrementalSync(
      spark: SparkSession,
      url: String,
      sourceTable: String,
      targetTable: String,
      key: String,
      driver: String = DerbyDriver): Unit = {
    val source = readTable(spark, url, sourceTable, driver)
    val target =
      try readTable(spark, url, targetTable, driver)
      catch { case e: Exception if isMissingTarget(e) => source.limit(0) }
    val merged = SnapshotMerge.merge(source, target.drop("is_active"), key)
      .drop("is_active")
    // Stage to durable storage before the overwrite: the overwrite DROPs
    // the table the merge plan reads from, and a cache() is not a safe
    // barrier (a lost executor would recompute from the dropped table).
    overwriteViaStage(merged, "graft-jdbc-stage")(
      writeOverwrite(_, url, targetTable, driver = driver))
  }

  /** SQLStates for "table does not exist": Derby, MySQL. */
  private val MissingTableStates = Set("42X05", "42S02")

  /** True iff `e` (or a cause) says the sync target does not exist yet:
    * a missing JDBC table or Spark's parquet path-not-found. The only
    * read failure either incremental sync treats as an initial load. */
  private[graft] def isMissingTarget(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists {
      case s: java.sql.SQLException => MissingTableStates(s.getSQLState)
      case a: org.apache.spark.sql.AnalysisException =>
        a.getCondition == "PATH_NOT_FOUND"
      case _ => false
    }

  /** Write `merged` to a fresh temp dir, hand its re-read to `overwrite`,
    * and delete the dir once `overwrite` returns or throws: the merge
    * plan reads the target `overwrite` replaces, so it must be cut from
    * the target first. */
  private[graft] def overwriteViaStage(merged: DataFrame, prefix: String)(
      overwrite: DataFrame => Unit): Unit = {
    val stage = Files.createTempDirectory(prefix)
    try {
      merged.write.mode("overwrite").parquet(stage.toString)
      overwrite(merged.sparkSession.read.parquet(stage.toString))
    } finally {
      val tree = Files.walk(stage)
      try tree.sorted(Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally tree.close()
    }
  }
}
