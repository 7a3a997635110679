package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Window-shaped operators: ranked top-k per group (the distributed,
  * order-enforced form of the reference's top-5-tags pivot, SURVEY §2.6 W1)
  * and running totals.
  *
  * Scale notes: `row_number` over `Window.partitionBy(keys)` is one shuffle
  * on the keys with per-partition sort — no global sort, no driver
  * involvement. Ordering columns must form a total order (callers pass
  * tiebreakers) so results are reproducible across cluster sizes.
  *
  * Checkpoint lifecycle: [[globalRowNumber]] returns a LAZY frame backed
  * by an operator-internal `localCheckpoint` taken through
  * [[Checkpoints.trackedEager]]; `Checkpoints.releaseTracked()` frees the
  * blocks irreversibly, so materialize the result BEFORE calling it (the
  * one-action-window contract documented on [[Checkpoints]]).
  */
object Windows {

  /** Keep the top `k` rows per group under a deterministic ordering. */
  def topKPerGroup(
      df: DataFrame,
      partitionCols: Seq[Column],
      orderCols: Seq[Column],
      k: Int,
      rankCol: String = "rn"): DataFrame = {
    val w = Window.partitionBy(partitionCols: _*).orderBy(orderCols: _*)
    df.withColumn(rankCol, row_number().over(w)).filter(col(rankCol) <= k)
  }

  /** Running (cumulative) sum of `valueCol` per group in `orderCols` order. */
  def runningTotal(
      df: DataFrame,
      partitionCols: Seq[Column],
      orderCols: Seq[Column],
      valueCol: Column,
      outCol: String): DataFrame = {
    val w = Window.partitionBy(partitionCols: _*).orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn(outCol, sum(valueCol).over(w))
  }

  /** Tumbling event-time buckets as a batch expression: floor(ts) to
    * `widthSeconds`. Identical semantics to Structured Streaming's
    * `window($"ts", ...)` start bound; used by both the batch query and the
    * streaming pipeline so the two stay consistent.
    */
  def tumble(ts: Column, widthSeconds: Int): Column =
    timestamp_seconds(floor(unix_timestamp(ts) / widthSeconds) * widthSeconds)

  /** Scale-safe GLOBAL `row_number` — the distributed replacement for
    * `Window.orderBy(...)` with no `partitionBy`, which funnels EVERY row
    * through one task (a single-partition Exchange + Sort: the plan shape
    * that turns a 10^8-node ranking into one straggler).
    *
    * Shape: ONE shuffle — range-partition on the order (each partition
    * holds a contiguous slice of the global order, partitions stay
    * parallel), sort within partitions, `localCheckpoint` to pin the
    * layout, then `zipWithIndex` over the checkpointed partitions:
    * a per-partition count job (collects at most one long per partition —
    * bounded by cluster CONFIG, not by data) followed by a narrow map
    * that adds each partition's cumulative offset to its local index.
    * No second Exchange, no window sort: the data is already in global
    * order, so ranking is embarrassingly parallel arithmetic.
    *
    * The rank column is a LONG: a global row number is exactly the
    * quantity that outgrows Int at the scales this helper exists for
    * (>2^31 rows), so no narrowing cast hides in here — callers that
    * need an int for schema compatibility must guard the cast
    * themselves (see [[graft.operators.Components.pageRank]]).
    *
    * `orderCols` must form a TOTAL order (callers pass tiebreakers);
    * under a total order the result is deterministic regardless of where
    * the range boundaries fall. No working columns are added, so caller
    * schemas can never collide with helper internals; only `rankCol`
    * must be fresh.
    */
  def globalRowNumber(
      df: DataFrame,
      orderCols: Seq[Column],
      rankCol: String): DataFrame = {
    require(!df.columns.contains(rankCol),
      s"rank column '$rankCol' already exists in ${df.columns.mkString(",")}")
    val spark = df.sparkSession
    val ranged = df // the returned RDD-derived frame reads these blocks lazily
      .repartitionByRange(orderCols: _*)
      .sortWithinPartitions(orderCols: _*)
      .transform(Checkpoints.trackedEager)
    val ranked = ranged.rdd.zipWithIndex().map { case (r, i) =>
      Row.fromSeq(r.toSeq :+ (i + 1L))
    }
    spark.createDataFrame(ranked,
      StructType(ranged.schema :+ StructField(rankCol, LongType, nullable = false)))
  }

  /** Scale-safe GLOBAL cumulative sum — the distributed replacement for
    * `sum(v).over(Window.orderBy(...))` with no `partitionBy` (the
    * single-partition WindowExec funnel, same pathology [[globalRowNumber]]
    * removes for ranking, r19 / guide §2.4).
    *
    * Shape: ONE shuffle — range-partition on the order, sort within
    * partitions, `localCheckpoint` to pin the layout — then a bounded
    * per-partition totals job (collects one long per partition: cluster
    * CONFIG-sized, never data-sized) and a narrow map that adds each
    * partition's prefix offset to its local running sum. Identical
    * output to the single-partition window under a TOTAL order (callers
    * pass tiebreakers): each range partition holds a contiguous slice of
    * the global order, so local-running-sum + preceding-partition offset
    * IS the global prefix sum, exactly (long integer arithmetic, no
    * reassociation hazard).
    *
    * `valueCol` must be integral (summed as LONG — the overflow-safe
    * type for corpus-scale counts). Appends `outCol` (LONG); `outCol`
    * must be fresh. Same one-action-window checkpoint contract as
    * [[globalRowNumber]]. */
  def globalPrefixSum(
      df: DataFrame,
      orderCols: Seq[Column],
      valueCol: Column,
      outCol: String): DataFrame = {
    require(!df.columns.contains(outCol),
      s"output column '$outCol' already exists in ${df.columns.mkString(",")}")
    require(!df.columns.contains("__psval"),
      "input frame must not contain reserved column __psval")
    val spark = df.sparkSession
    val ranged = df.withColumn("__psval", valueCol.cast(LongType))
      .repartitionByRange(orderCols: _*)
      .sortWithinPartitions(orderCols: _*)
      .transform(Checkpoints.trackedEager)
    val vIdx = ranged.schema.fieldIndex("__psval")
    // bounded collect: one (partition, total) pair per partition
    val totals = ranged.rdd.mapPartitionsWithIndex { case (i, it) =>
      var s = 0L
      it.foreach(r => if (!r.isNullAt(vIdx)) s += r.getLong(vIdx))
      Iterator((i, s))
    }.collect().sortBy(_._1).map(_._2)
    val offsets = totals.scanLeft(0L)(_ + _).dropRight(1)
    val summed = ranged.rdd.mapPartitionsWithIndex { case (i, it) =>
      var run = offsets(i)
      it.map { r =>
        if (!r.isNullAt(vIdx)) run += r.getLong(vIdx)
        Row.fromSeq(r.toSeq.dropRight(1) :+ run)
      }
    }
    spark.createDataFrame(summed,
      StructType(ranged.schema.dropRight(1) :+
        StructField(outCol, LongType, nullable = false)))
  }
}
