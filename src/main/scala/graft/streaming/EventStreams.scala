package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.{Dedup, SnapshotMerge}
import graft.sinks.JdbcLoad

/** Structured Streaming shapes (SURVEY §2.9): the reference's batch CDC
  * merge re-hosted as a `foreachBatch` incremental sync, plus event-time
  * windowed aggregation with watermarks (the extension the `events` table
  * exists for).
  *
  * Scale notes: watermark state is per (window × event_type) group —
  * bounded by the watermark horizon, so state store size is independent of
  * stream length. The merge in `incrementalSync` rewrites the target
  * atomically per micro-batch; on a real deployment the target would be a
  * transactional table format, but the merge algebra is identical.
  */
object EventStreams {

  /** Measured on-heap bytes per streaming-dedup state row (the
    * HDFSBackedStateStore's UnsafeRow + map overhead for a small-key
    * row): `graft.tools.StateScale` read 1,902 MB / 6M keys and
    * 3,921 MB / 20M keys — ~196 B/key, agreeing across a 3.3× size
    * range. Row payload widens this; it never shrinks it. */
  val HeapStateBytesPerKey: Long = 200L

  /** The measured safe fraction of executor heap that resident heap
    * state may occupy before the provider becomes a liability: at ~65%
    * (3.9 GB state in a 6 GB JVM) the heap provider still measured
    * 2.5× FASTER than RocksDB; at ~130% projected it did not degrade —
    * it OOM-killed the executor JVM mid-batch. 0.6 leaves batch-side
    * headroom below the measured-good point. */
  val HeapStateSafeHeapFraction: Double = 0.6

  /** The flip rule from the r17 StateScale measurement, as code: pick
    * the state-store provider from PROJECTED per-executor state size
    * rather than folklore. Returns "heap" while projected state
    * (`keysPerExecutor` × ~200 B, see [[HeapStateBytesPerKey]]) fits
    * under [[HeapStateSafeHeapFraction]] of the executor heap — the
    * measured 2.2–2.6× faster regime at every size tried (40k…20M
    * keys) — and "rocksdb" past it, where the heap provider does not
    * degrade gracefully but OOM-kills the executor (40M keys in a 6 GB
    * JVM, exit 52) while RocksDB completes the same workload holding
    * 329 MB on-heap. Wire the answer through
    * `SPARK_GRAFT_STATE_STORE` / the same two confs the lanes set:
    * `spark.sql.streaming.stateStore.providerClass` and RocksDB
    * changelog checkpointing.
    *
    * CALIBRATION SCOPE: the [[HeapStateBytesPerKey]] default was
    * measured on small-key `dropDuplicates` state (one ~16-byte key,
    * no payload). Wide aggregation state carries its aggregation
    * buffer per key ON TOP of that overhead — projecting it at 200 B
    * can answer "heap" straight into the measured OOM-kill regime.
    * Pass `bytesPerKey` = measured overhead (~196 B) + the state
    * row's payload bytes (aggregation buffer / carried columns) for
    * anything wider than bare dedup keys. */
  def stateStoreAdvisor(
      keysPerExecutor: Long,
      executorHeapBytes: Long,
      bytesPerKey: Long = HeapStateBytesPerKey): String = {
    require(keysPerExecutor >= 0 && executorHeapBytes > 0,
      "projected keys must be >= 0 and executor heap positive")
    require(bytesPerKey >= HeapStateBytesPerKey,
      s"bytesPerKey is the PER-KEY TOTAL (overhead + payload); below " +
        s"the measured overhead ($HeapStateBytesPerKey B) it understates heap")
    val projected = keysPerExecutor * bytesPerKey
    if (projected <= (executorHeapBytes * HeapStateSafeHeapFraction).toLong)
      "heap"
    else "rocksdb"
  }

  /** Wire [[stateStoreAdvisor]]'s answer into a session before starting
    * a stream. "rocksdb" sets the RocksDB provider WITH changelog
    * checkpointing — the incremental-restore path whose recovery
    * semantics the crash-recovery spec gates (a changelog restore
    * replays deltas over the last snapshot; a bug there only shows on
    * the RESTART path, never in a single run). "heap" restores the
    * default HDFS-backed provider. Set BEFORE `.start()` — the provider
    * is pinned per query from session conf at start. */
  def configureStateStore(spark: SparkSession, provider: String): Unit =
    provider match {
      case "rocksdb" =>
        spark.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        spark.conf.set(
          "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
          "true")
      case "heap" =>
        spark.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
      case other => throw new IllegalArgumentException(
        s"unknown state store '$other' (expected heap | rocksdb)")
    }

  /** Tumbling event-time counts with late-data tolerance. */
  def tumblingCounts(
      events: DataFrame,
      width: String = "10 minutes",
      watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Sliding (hopping) event-time counts: every event contributes to
    * `width / slide` overlapping windows. State grows by that same factor
    * versus [[tumblingCounts]] but stays bounded by the watermark horizon —
    * eviction closes each hop when the watermark passes its end, exactly as
    * for tumbling windows. */
  def slidingCounts(
      events: DataFrame,
      width: String = "30 minutes",
      slide: String = "10 minutes",
      watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width, slide), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Stream-static enrichment: the event stream inner-joined to a bounded
    * dimension (broadcast — the static side is planned once per
    * micro-batch, never shuffled with the stream), then windowed per
    * dimension attribute. The canonical "enrich events with reference
    * data" shape; state is only the windowed aggregation, the join itself
    * is stateless. */
  def enrichedTumblingCounts(
      events: DataFrame,
      dim: DataFrame,
      key: String,
      attr: String,
      width: String = "10 minutes",
      watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .join(broadcast(dim.select(col(key), col(attr))), Seq(key))
      .groupBy(window(col("ts"), width), col(attr))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("win_start"), col(attr),
        col("n"), col("sum_value"))

  /** Streaming exactly-once dedup: `dropDuplicatesWithinWatermark` on the
    * event key — the streaming analogue of [[graft.operators.Dedup.exact]]
    * for at-least-once ingestion (replayed batches, retried producers).
    * State holds one entry per key seen within the watermark horizon, so
    * state size is bounded by horizon × arrival rate, independent of
    * stream length; duplicates arriving inside the horizon are suppressed
    * even across micro-batches.
    */
  def dedupEvents(
      events: DataFrame,
      keyCols: Seq[String],
      watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  /** Stream-stream interval join: each left event matched to right events
    * with the same key whose time falls in `[leftTs, leftTs + maxLag]` —
    * the attribution/funnel join (click → view within N minutes).
    *
    * Both sides carry watermarks and the join condition bounds the time
    * range in BOTH directions; that pair of constraints is what lets Spark
    * evict join state (a side's row can be dropped once the other side's
    * watermark passes its latest possible match), so state is bounded by
    * `watermark + maxLag` × arrival rate, independent of stream length.
    * Caller renames columns so the two sides share no names.
    */
  def intervalJoin(
      left: DataFrame,
      right: DataFrame,
      leftKey: String,
      rightKey: String,
      leftTs: String,
      rightTs: String,
      maxLag: String = "10 minutes",
      watermark: String = "30 minutes",
      joinType: String = "inner"): DataFrame =
    left.withWatermark(leftTs, watermark)
      .join(right.withWatermark(rightTs, watermark),
        expr(s"$leftKey = $rightKey AND $rightTs >= $leftTs " +
          s"AND $rightTs <= $leftTs + interval $maxLag"),
        joinType)

  /** Open-session accumulator for [[statefulSessions]]. Times are epoch
    * millis. */
  case class SessionState(start: Long, last: Long, n: Long, sum: Double)

  case class SessionOut(user_id: Long, session_start: java.sql.Timestamp,
      n_events: Long, sum_value: Double)

  /** Custom stateful sessionization via `flatMapGroupsWithState` with
    * event-time timeouts: per user, events within `gapMillis` extend the
    * open session; a gap (or watermark passage) closes and emits it.
    *
    * This is the hand-rolled form of `session_window` — the shape to reach
    * for when session logic outgrows the built-in (custom merge rules,
    * per-session aggregates, early emission). State per key is one small
    * case class, bounded by the watermark horizon.
    */
  def statefulSessions(
      events: DataFrame,
      gapMillis: Long = 30 * 60 * 1000L,
      watermark: String = "30 minutes"): org.apache.spark.sql.Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

    val typed = events
      .withWatermark("ts", watermark)
      .select(col("user_id").cast("long"), col("ts"),
        col("value").cast("double"))
      .as[(Long, java.sql.Timestamp, Double)]

    def fn(user: Long, rows: Iterator[(Long, java.sql.Timestamp, Double)],
        state: GroupState[SessionState]): Iterator[SessionOut] = {
      def emit(s: SessionState) =
        SessionOut(user, new java.sql.Timestamp(s.start), s.n, s.sum)
      if (state.hasTimedOut) {
        val out = state.getOption.map(emit).iterator
        state.remove()
        out
      } else {
        val sorted = rows.toSeq.sortBy(_._2.getTime)
        var closed = List.empty[SessionOut]
        var cur = state.getOption
        sorted.foreach { case (_, ts, v) =>
          val t = ts.getTime
          cur match {
            case Some(s) if t - s.last <= gapMillis =>
              cur = Some(SessionState(s.start, math.max(s.last, t), s.n + 1,
                s.sum + v))
            case Some(s) =>
              closed ::= emit(s)
              cur = Some(SessionState(t, t, 1, v))
            case None =>
              cur = Some(SessionState(t, t, 1, v))
          }
        }
        cur.foreach { s =>
          state.update(s)
          state.setTimeoutTimestamp(s.last + gapMillis)
        }
        closed.reverseIterator
      }
    }

    typed.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(fn)
  }

  /** Streaming ingestion into the partitioned corpus layout: watch
    * `sourceDir` for JSONL shard drops and append them to a
    * hive-partitioned parquet corpus through the EXACTLY-ONCE streaming
    * file sink (the sink's commit log + the source's file-offset
    * checkpoint make stop/restart lose nothing and duplicate nothing —
    * a crashed batch is re-run and its orphaned files ignored by the log).
    * `Trigger.AvailableNow` gives run-to-completion semantics: schedule it
    * like the reference schedules its sync, each run drains whatever
    * shards landed since the last one. The 100 TB ingestion front door:
    * per-file parallelism on read, partition-pruned layout on write.
    */
  def corpusIngest(
      spark: SparkSession,
      sourceDir: String,
      schema: org.apache.spark.sql.types.StructType,
      outDir: String,
      checkpointDir: String,
      partitionCols: Seq[String]): StreamingQuery =
    spark.readStream
      .schema(schema) // pinned: inference would re-scan the corpus per run
      .json(sourceDir)
      .writeStream
      .trigger(Trigger.AvailableNow())
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .partitionBy(partitionCols: _*)
      .start()

  /** Continuous ingest dedup: filter a DOCUMENT STREAM against a static
    * historical fingerprint index with ZERO streaming state — the
    * always-on form of [[graft.operators.Dedup.incrementalExact]].
    *
    * Shape: rows whose fingerprint the index bloom rejects are provably
    * new — they bypass the join entirely (scan-stage filter); only the
    * bloom-positive sliver goes through the exact stream-static LEFT ANTI
    * join that kills false positives. Both branches are stateless: no
    * watermark, no state store, so unlike `dropDuplicatesWithinWatermark`
    * this dedup has no horizon — a duplicate of a YEAR-old document is
    * still dropped. (Within-stream duplicates are the complement; chain
    * `dedupEvents` for those.) The sketch pins the index SNAPSHOT at
    * query start; to pick up index growth, restart the query (or rebuild
    * the sketch in a `foreachBatch` wrapper). At 100 TB the anti join's
    * index side is the partitioned fingerprint table and only the
    * bloom-positive sliver of the stream reaches it — the q93
    * work-bounding argument, streaming edition.
    */
  def indexFilteredIngest(
      docs: DataFrame,
      indexFps: DataFrame,
      textCol: String,
      estimatedIndexFps: Long = 0L,
      numBits: Long = 0L): DataFrame = {
    import graft.functions.GraftFunctions.{bloom_agg, bloom_might_contain}
    import org.apache.spark.sql.functions.{col, lit, xxhash64}
    // Defaults (<= 0) size the sketch from a count of the index (for a
    // parquet-backed fingerprint table this is a metadata-cheap job, run
    // ONCE at query start — the sketch pins the index snapshot anyway);
    // an explicit estimate skips it. A fixed default would silently
    // saturate past ~1M fingerprints.
    val nIndex =
      if (estimatedIndexFps > 0L) estimatedIndexFps else indexFps.count()
    val withFp = docs.withColumn("__fp",
      graft.operators.TextAnalysis.fingerprint(col(textCol)))
    val sketch = graft.functions.GraftFunctions.sizedBloomSketch(
      indexFps, xxhash64(col("fp")), nIndex, numBits, "indexFilteredIngest")
      match {
        case None => return withFp.drop("__fp") // empty index
        case Some(s) => s
      }
    val probe = bloom_might_contain(lit(sketch), xxhash64(col("__fp")))
    val provablyNew = withFp.filter(!probe)
    // no broadcast hint: the index side is the scale contract's partitioned
    // fingerprint table — let the planner broadcast it only when its size
    // statistics say so, and shuffle the (bloom-pruned) micro-batch sliver
    // against it otherwise
    val suspects = withFp.filter(probe)
      .join(indexFps.withColumnRenamed("fp", "__fp"), Seq("__fp"), "left_anti")
    provablyNew.unionByName(suspects).drop("__fp")
  }

  /** Streaming NEAR-dup-filtered corpus ingestion: each micro-batch is
    * LSH-probed against a STATIC historical minhash signature index
    * ([[graft.operators.Dedup.incrementalMinhashPairs]] — band-key
    * equi-join bounds the candidates, integer signature-agreement
    * verify), and only documents with no index match land in the corpus.
    * The probe needs per-document signature aggregation (shingle explode
    * → groupBy), which append-mode streaming cannot host without a
    * watermark — so it runs inside `foreachBatch`, where each micro-batch
    * is a plain DataFrame: the standard pattern for batch-relational
    * logic on a stream (same shape as [[incrementalSync]]).
    *
    * The result is BATCH-SPLIT INVARIANT: every delta row is compared
    * against the static index only, never against other delta rows, so
    * any micro-batch partitioning yields the same corpus — the property
    * that lets q125's DuckDB oracle replay the whole delta in one pass
    * (and StreamingSpec checks across a multi-batch split). At 100 TB
    * the signature index is the persisted k-hash relation (no historical
    * text needed), and per batch only band-colliding candidates reach
    * the integer verify. */
  def nearDupFilteredIngest(
      stream: DataFrame,
      indexSigs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      numHashes: Int,
      rowsPerBand: Int,
      minMatchFraction: Double,
      targetPath: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    stream.writeStream
      .trigger(trigger)
      .option("checkpointLocation",
        Files.createTempDirectory("graft-neardup-ckpt").toString)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val matched = Dedup.incrementalMinhashPairs(batch, indexSigs,
            idCol, textCol, n, numHashes, rowsPerBand, minMatchFraction)
          .select(col("delta_id").as(idCol)).distinct()
        batch.join(matched, Seq(idCol), "left_anti")
          .write.mode("append").parquet(targetPath)
        ()
      }
      .start()
  }

  /** I1–I2 as a streaming job: watch `sourceDir` for JSON snapshot drops
    * and merge each micro-batch into the parquet target by `key`
    * (`Trigger.AvailableNow` — run-to-completion semantics, the streaming
    * analogue of the reference's scheduled re-sync).
    */
  def incrementalSync(
      spark: SparkSession,
      sourceDir: String,
      targetPath: String,
      key: String,
      schemaSample: DataFrame): StreamingQuery = {
    val stream = spark.readStream
      .schema(schemaSample.schema)
      .json(sourceDir)
    stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation",
        Files.createTempDirectory("graft-sync-ckpt").toString)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val target =
          try spark.read.parquet(targetPath)
          catch { // I2 initial load: only a missing target
            case e: Exception if JdbcLoad.isMissingTarget(e) => batch.limit(0)
          }
        val merged = SnapshotMerge.merge(batch, target.drop("is_active"), key)
        // Stage to a scratch dir before overwriting: the merge plan reads
        // the target we are about to replace, and cache() is not a safe
        // barrier (lost partitions recompute from the overwritten path).
        JdbcLoad.overwriteViaStage(merged, "graft-sync-stage")(
          _.write.mode("overwrite").parquet(targetPath))
      }
      .start()
  }
}
