package graft.sinks

import java.nio.file.{Files, Path}
import java.sql.{Connection, PreparedStatement}
import java.util.{Comparator, Properties}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.jdbc.{JDBCOptions, JdbcUtils}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.jdbc.JdbcDialects
import org.apache.spark.sql.types.{ArrayType, DateType, MapType, NumericType, StructType,
  TimestampType}

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
    * tables, set-diff merge on `key` (insert/update/delete), and apply
    * only the changed rows to the target. A MISSING target = initial load
    * (I2) through [[writeOverwrite]]; any other failure to read it
    * (connection, permission, ...) is rethrown, never turned into an
    * initial load that would wipe the target.
    *
    * The changed rows (`SnapshotMerge.mergeActions` action ≠ `unchanged`,
    * plus the source's null-key rows) are collected first: the apply
    * deletes target rows the merge plan reads, so the plan must be
    * finished before the apply starts. They are the delta, not the table,
    * and the Notion read-back that follows in the pipeline holds a
    * snapshot of the whole collection on the driver anyway. [[applyDelta]]
    * then writes them in one transaction, so readers see the old target
    * or the new one. The result equals `SnapshotMerge.merge(source,
    * target, key)` without `is_active` when `key` is unique on each side
    * (merge repeats a repeated key's rows once per pair). A target whose columns differ
    * from the merge output, or whose key is not numeric, date or
    * timestamp, is rewritten whole from the staged merge instead.
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
      try Some(readTable(spark, url, targetTable, driver))
      catch { case e: Exception if isMissingTarget(e) => None }
    target match {
      case None =>
        writeOverwrite(SnapshotMerge.merge(source, source.limit(0), key)
          .drop("is_active"), url, targetTable, driver = driver)
      case Some(t) =>
        val old = t.drop("is_active")
        val merged = SnapshotMerge.merge(source, old, key).drop("is_active")
        val sameColumns = merged.schema.map(f => f.name -> f.dataType).toSet ==
          t.schema.map(f => f.name -> f.dataType).toSet
        // string and binary keys can land as CLOB/LONGTEXT columns, which
        // Derby cannot compare and MySQL cannot index without a prefix
        val scalarKey = merged.schema(key).dataType match {
          case _: NumericType | DateType | TimestampType => true
          case _ => false
        }
        if (sameColumns && scalarKey) {
          val dataCols = merged.columns.toSeq
          val changed = SnapshotMerge.mergeActions(source, old, key,
              dataCols.filterNot(_ == key))
            .filter(col("action") =!= "unchanged")
            .select((col("action") +: dataCols.map(col)): _*)
          val nullKeyRows = source.filter(col(key).isNull)
            .select((lit("insert").as("action") +: dataCols.map(col)): _*)
          val delta = changed.unionByName(nullKeyRows)
          applyDelta(delta.collect(), delta.schema, url, targetTable, key, driver)
        } else
          // Stage to durable storage before the overwrite: the overwrite
          // DROPs the table the merge plan reads from, and a cache() is
          // not a safe barrier (a lost executor would recompute from the
          // dropped table).
          overwriteViaStage(merged, "graft-jdbc-stage")(
            writeOverwrite(_, url, targetTable, driver = driver))
    }
  }

  /** Rows per JDBC batch of [[applyDelta]] (the reference's chunksize). */
  private val ApplyBatch = 1000

  /** Apply delta rows — `action` plus the target's columns — to `table`
    * in one transaction on one connection through `driver`: a batched
    * `DELETE … WHERE key = ?` for updated and deleted keys, one delete of
    * the null-key rows, and a batched prepared `INSERT` of the inserted
    * and updated rows (the source's null-key rows arrive as inserts). Commits, or rolls back and rethrows. A target with no
    * index on `key` gets one first, outside the transaction. */
  private def applyDelta(delta: Array[Row], schema: StructType, url: String,
      table: String, key: String, driver: String): Unit = {
    val dialect = JdbcDialects.get(url)
    val actionIdx = schema.fieldIndex("action")
    val cols = schema.fields.toSeq.filterNot(_.name == "action")
    // (row index, JDBC null type) of a bound column
    def slot(name: String): (Int, Int) = {
      val t = schema(name).dataType
      schema.fieldIndex(name) -> dialect.getJDBCType(t)
        .orElse(JdbcUtils.getCommonJDBCType(t)).fold(java.sql.Types.NULL)(_.jdbcNullType)
    }
    val keySlot = slot(key)
    val colSlots = cols.map(f => slot(f.name))
    val q = dialect.quoteIdentifier _
    val conn = dialect.createConnectionFactory(
      new JDBCOptions(url, table, Map("driver" -> driver)))(-1)
    try {
      // without an index each keyed DELETE scans the whole table (100k
      // rows × 2k keys: ~100 s on Derby, against ~0.3 s with one)
      if (!keyIndexed(conn, table, key)) {
        val ddl = conn.createStatement()
        try ddl.executeUpdate(
          s"CREATE INDEX ${q(s"${bareName(table)}_${key}_idx")} ON $table (${q(key)})")
        finally ddl.close()
      }
      conn.setAutoCommit(false)
      val del = conn.prepareStatement(s"DELETE FROM $table WHERE ${q(key)} = ?")
      val ins = conn.prepareStatement(
        s"INSERT INTO $table (${cols.map(f => q(f.name)).mkString(", ")}) " +
          s"VALUES (${cols.map(_ => "?").mkString(", ")})")
      try {
        val nullKeys = conn.createStatement()
        try nullKeys.executeUpdate(s"DELETE FROM $table WHERE ${q(key)} IS NULL")
        finally nullKeys.close()
        var pending = 0
        def flush(): Unit = { del.executeBatch(); ins.executeBatch(); pending = 0 }
        delta.foreach { r =>
          val action = r.getString(actionIdx)
          if (action != "insert") { setParam(del, 1, r, keySlot); del.addBatch() }
          if (action != "delete") {
            colSlots.zipWithIndex.foreach { case (s, j) => setParam(ins, j + 1, r, s) }
            ins.addBatch()
          }
          pending += 1
          if (pending == ApplyBatch) flush()
        }
        flush()
        conn.commit()
      } catch {
        case e: Throwable =>
          try conn.rollback() catch { case r: Exception => e.addSuppressed(r) }
          throw e
      } finally { del.close(); ins.close() }
    } finally conn.close()
  }

  /** `table` without its schema prefix and quotes. */
  private def bareName(table: String): String =
    table.split('.').last.filterNot(c => c == '"' || c == '`')

  /** True iff some index of `table` leads with `column`. Names compare
    * case-insensitively: catalogs store unquoted names upper- (Derby) or
    * as-given (MySQL). */
  private def keyIndexed(conn: Connection, table: String,
      column: String): Boolean = {
    val name = bareName(table)
    Seq(name, name.toUpperCase, name.toLowerCase).distinct.exists { n =>
      val rs = conn.getMetaData.getIndexInfo(null, null, n, false, true)
      try Iterator.continually(rs.next()).takeWhile(identity).exists { _ =>
        rs.getShort("ORDINAL_POSITION") == 1 &&
          column.equalsIgnoreCase(rs.getString("COLUMN_NAME"))
      } finally rs.close()
    }
  }

  /** Bind the value in `slot` (row index, JDBC null type) of `r` as
    * parameter `p`: NULL by type, java.time values as their java.sql
    * forms, anything else as is. */
  private def setParam(ps: PreparedStatement, p: Int, r: Row,
      slot: (Int, Int)): Unit = {
    val (i, nullType) = slot
    if (r.isNullAt(i)) ps.setNull(p, nullType)
    else r.get(i) match {
      case v: java.time.Instant => ps.setTimestamp(p, java.sql.Timestamp.from(v))
      case v: java.time.LocalDateTime => ps.setTimestamp(p, java.sql.Timestamp.valueOf(v))
      case v: java.time.LocalDate => ps.setDate(p, java.sql.Date.valueOf(v))
      case v: String => ps.setString(p, v)
      case v => ps.setObject(p, v)
    }
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
    } finally rmTree(stage)
  }

  /** Delete `root` and everything under it, children first; a missing
    * root is a no-op and a failed delete throws. Closes the directory
    * walk, which holds open handles until closed. */
  private[graft] def rmTree(root: Path): Unit =
    if (Files.exists(root)) {
      val tree = Files.walk(root)
      try tree.sorted(Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally tree.close()
    }
}
