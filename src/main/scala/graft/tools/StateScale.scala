package graft.tools

import org.apache.spark.sql.functions._

/** Dev measurement (r17, verdict task 5): pin the heap-vs-RocksDB
  * state-store flip point with a NUMBER at large state. The r13
  * head-to-head ran at gate-scale state (~40k rows; heap +13% better) and
  * the "at 100 TB state the dial flips" claim had no measurement behind
  * it. This builds a /tmp fixture whose streaming-dedup state is millions
  * of distinct keys (default 6M distinct over 8M rows, 16 files → 16
  * micro-batches via maxFilesPerTrigger=1, so the store is opened,
  * updated, and committed 16 times as state grows), then times
  * `dropDuplicates` to completion under both providers. One JSON line per
  * provider run with wall seconds and the final state-operator metrics
  * (rows, memory) from the query's own progress record.
  *
  * Usage: sbt "runMain graft.tools.StateScale"
  *   SPARK_GRAFT_STATE_ROWS / _KEYS / _FILES / _SHARDS to resize.
  */
object StateScale {
  def main(args: Array[String]): Unit = {
    val nRows = sys.env.getOrElse("SPARK_GRAFT_STATE_ROWS", "8000000").toLong
    val nKeys = sys.env.getOrElse("SPARK_GRAFT_STATE_KEYS", "6000000").toLong
    val nFiles = sys.env.getOrElse("SPARK_GRAFT_STATE_FILES", "16").toInt
    val shards = sys.env.getOrElse("SPARK_GRAFT_STATE_SHARDS", "4").toInt
    val spark = graft.GraftSession.builder()
      .config("spark.sql.shuffle.partitions", shards.toString)
      .getOrCreate()
    import spark.implicits._

    val fixture = s"/tmp/graft_state_fixture_${nRows}_$nKeys"
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(fixture))) {
      // ~25% duplicate rows (id % nKeys wraps), key striped ACROSS files
      // so every micro-batch touches every shard's store and state grows
      // monotonically to ~nKeys rows
      spark.range(nRows)
        .select((col("id") % nKeys).as("key"),
          col("id").as("event_id"),
          (col("id") % 1000).cast("int").as("payload"))
        .repartition(nFiles)
        .write.mode("overwrite").parquet(fixture)
    }

    def run(provider: String): (Double, Long, Long) = {
      val ck = java.nio.file.Files.createTempDirectory("graft_state_ck")
      val out = java.nio.file.Files.createTempDirectory("graft_state_out")
      val saved = Seq(
        "spark.sql.streaming.stateStore.providerClass",
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled")
        .map(k => k -> spark.conf.getOption(k)).toMap
      if (provider == "rocksdb") {
        spark.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        spark.conf.set(
          "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
          "true")
      }
      try {
        val t0 = System.nanoTime()
        val q = spark.readStream
          .schema("key LONG, event_id LONG, payload INT")
          .option("maxFilesPerTrigger", "1")
          .parquet(fixture)
          .dropDuplicates("key")
          .writeStream.outputMode("append")
          .format("parquet").option("path", s"$out/data")
          .option("checkpointLocation", ck.toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        val secs = (System.nanoTime() - t0) / 1e9
        val so = q.recentProgress.reverse.flatMap(_.stateOperators).headOption
        val rows = so.map(_.numRowsTotal).getOrElse(-1L)
        val mem = so.map(_.memoryUsedBytes).getOrElse(-1L)
        (secs, rows, mem)
      } finally {
        saved.foreach {
          case (k, Some(v)) => spark.conf.set(k, v)
          case (k, None)    => spark.conf.unset(k)
        }
        graft.sinks.JdbcLoad.rmTree(ck)
        graft.sinks.JdbcLoad.rmTree(out)
        org.apache.spark.sql.GraftStateStoreBridge.unloadAllStateStores()
        spark.streams.resetTerminated()
        System.gc()
      }
    }

    // warm both paths once (classload/codegen), then min-of-2 each.
    // A provider that cannot HOLD the state (heap past the memory-fit
    // bound) is itself the measurement: record a catchable failure and
    // move on — but past that bound the heap provider usually does NOT
    // fail politely, it OOM-kills the JVM (measured: 40M keys in a 6 GB
    // JVM, exit 52), so the surviving provider must be runnable ALONE
    // via SPARK_GRAFT_STATE_PROVIDERS.
    sys.env.getOrElse("SPARK_GRAFT_STATE_PROVIDERS", "heap,rocksdb")
      .split(",").toSeq.foreach { p =>
      try {
        run(p)
        val (a, rowsA, memA) = run(p)
        val (b, rowsB, memB) = run(p)
        val (secs, rows, mem) =
          if (a <= b) (a, rowsA, memA) else (b, rowsB, memB)
        println(f"""{"metric":"state_scale","provider":"$p","rows":$nRows,""" +
          f""""keys":$nKeys,"files":$nFiles,"shards":$shards,""" +
          s""""secs":${String.format(java.util.Locale.ROOT, "%.1f",
            Double.box(secs))},"state_rows":$rows,""" +
          s""""state_mb":${mem / 1048576}}""")
      } catch {
        case e: Throwable =>
          // bounded walk: a cyclic cause chain must not hang the
          // error path (the JDK only prevents direct self-cause)
          val cause = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
            .take(16).toSeq.last
          println(s"""{"metric":"state_scale","provider":"$p","rows":$nRows,""" +
            s""""keys":$nKeys,"files":$nFiles,"shards":$shards,""" +
            s""""error":"${cause.getClass.getSimpleName}"}""")
      }
    }
    spark.stop()
  }
}
