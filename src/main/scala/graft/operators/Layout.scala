package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Multi-dimensional data LAYOUT for scan pruning — the missing half of
  * partitioning at 100 TB. Range-partitioning a table clusters ONE key;
  * a selective predicate on any other column still reads every file.
  * Z-ordering (bit-interleaved Morton codes — the Delta/Iceberg `OPTIMIZE
  * ZORDER BY` shape, Morton '66) range-partitions on a key whose bit
  * positions alternate between dimensions, so every written file covers a
  * small HYPER-RECTANGLE of the value space: each file's parquet min/max
  * footer stats are then tight in EVERY participating column, and a
  * conjunctive box predicate prunes row groups in all dimensions at once
  * (pushed-filter stats skipping — no index structure, no extra pass at
  * read time).
  *
  * Quantization is by bit-truncation against driver-computed global
  * bounds: `q = (x - lo) >> max(0, bitLength(hi - lo) - bits)`, exact
  * integer arithmetic at any magnitude (no double rounding at 2^53+, which
  * a multiply/divide scale would hit), replayable verbatim by the DuckDB
  * oracle (`length(bin(range))`). The bounds aggregate is ONE row to the
  * driver — the same bounded-collect class as the codebook read-backs.
  * The zkey itself is a pure codegen'd expression chain (shifts/and/or),
  * evaluated scan-side; the only shuffle in [[zorderWrite]] is the range
  * exchange every clustered write pays anyway.
  */
object Layout {

  /** Bit-interleave `d` already-quantized `bits`-bit non-negative columns
    * into a Morton z-value: bit `b` of dimension `i` lands at position
    * `b*d + (d-1-i)` — earlier columns take more significant positions
    * within each bit group, so sort locality favors the leading columns
    * exactly like a plain multi-column sort does, one bit at a time.
    * Literal shift amounts — the whole chain stays inside whole-stage
    * codegen. `bits * d` ≤ 62 keeps the result within a signed long. */
  def interleaveBitsN(qs: Seq[Column], bits: Int): Column = {
    val d = qs.size
    require(d >= 1, "need at least one dimension")
    require(bits >= 1 && bits * d <= 62,
      s"bits*dims must fit a signed long: $bits*$d")
    (0 until bits).flatMap { b =>
      qs.zipWithIndex.map { case (q, i) =>
        shiftleft(shiftright(q, b).bitwiseAND(lit(1L)), b * d + (d - 1 - i))
      }
    }.reduce(_.bitwiseOR(_))
  }

  /** 2-D special case: x's bit b at position 2b+1, y's at 2b. */
  def interleaveBits(qx: Column, qy: Column, bits: Int): Column =
    interleaveBitsN(Seq(qx, qy), bits)

  /** Exact bit length of a non-negative long (0 → 0 bits, mirroring the
    * oracle's `length(bin(x))` = 1 only through the shared max(0, …-bits)
    * clamp, where both yield shift 0). */
  private def bitLength(v: Long): Int = 64 - java.lang.Long.numberOfLeadingZeros(v)

  /** Add a `zkey` Morton code over `d` integral columns. Bounds are
    * computed once (1-row aggregate to the driver) so the per-row
    * expression is all-literal shifts; rows where any column is null get
    * a null zkey (they sort last and cluster together — the layout
    * equivalent of a null partition). An all-null dimension degrades to a
    * null key for every row. */
  def zorderKeyN(df: DataFrame, cols: Seq[String], bits: Int): DataFrame = {
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).cast("long"), max(col(c)).cast("long")))
    val b = df.agg(aggs.head, aggs.tail: _*).head()
    if (cols.indices.exists(i => b.isNullAt(2 * i)))
      return df.withColumn("zkey", lit(null).cast("long"))
    val qs = cols.zipWithIndex.map { case (c, i) =>
      val (lo, hi) = (b.getLong(2 * i), b.getLong(2 * i + 1))
      val s = math.max(0, bitLength(hi - lo) - bits)
      shiftright(col(c).cast("long") - lit(lo), s)
    }
    df.withColumn("zkey", interleaveBitsN(qs, bits))
  }

  /** 2-D convenience over [[zorderKeyN]]. */
  def zorderKey(
      df: DataFrame,
      xCol: String,
      yCol: String,
      bits: Int = 16): DataFrame = zorderKeyN(df, Seq(xCol, yCol), bits)

  /** Add a 2-D `hkey` Hilbert index over the same quantization contract
    * as [[zorderKey]] — the layout upgrade where range locality matters
    * most: consecutive Hilbert indexes are ALWAYS grid-adjacent cells
    * (Morton codes jump across quadrant seams at every power-of-two
    * boundary), so equal-row key ranges span tighter bounding boxes →
    * tighter per-file parquet min/max stats for the same file count.
    * The key is the codegen'd [[graft.functions.HilbertIndex2D]] rotate
    * loop (one pass over `bits` levels per row); null handling and the
    * driver-bounds quantizer are [[zorderKeyN]]'s exactly. */
  def hilbertKey(
      df: DataFrame,
      xCol: String,
      yCol: String,
      bits: Int = 16): DataFrame = {
    val cols = Seq(xCol, yCol)
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).cast("long"), max(col(c)).cast("long")))
    val b = df.agg(aggs.head, aggs.tail: _*).head()
    if (cols.indices.exists(i => b.isNullAt(2 * i)))
      return df.withColumn("hkey", lit(null).cast("long"))
    val qs = cols.zipWithIndex.map { case (c, i) =>
      val (lo, hi) = (b.getLong(2 * i), b.getLong(2 * i + 1))
      val s = math.max(0, bitLength(hi - lo) - bits)
      shiftright(col(c).cast("long") - lit(lo), s)
    }
    df.withColumn("hkey",
      graft.functions.GraftFunctions.graft_hilbert2d(qs(0), qs(1), bits))
  }

  /** Write `df` parquet clustered by the z-order of `cols`:
    * range-partition into `numFiles` z-ranges, sort within each, drop the
    * key (it is derivable; persisting it would change the schema
    * contract). Each output file then spans a bounded hyper-rectangle of
    * the clustered columns, so box predicates on ANY subset of them prune
    * row groups via ordinary parquet stats — LayoutSpec measures the
    * scan-row reduction against an unclustered copy of the same rows. */
  def zorderWriteN(
      df: DataFrame,
      cols: Seq[String],
      path: String,
      numFiles: Int,
      bits: Int): Unit = {
    zorderKeyN(df, cols, bits)
      .repartitionByRange(numFiles, col("zkey"))
      .sortWithinPartitions("zkey")
      .drop("zkey")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** 2-D convenience over [[zorderWriteN]]. */
  def zorderWrite(
      df: DataFrame,
      xCol: String,
      yCol: String,
      path: String,
      numFiles: Int,
      bits: Int = 16): Unit =
    zorderWriteN(df, Seq(xCol, yCol), path, numFiles, bits)

  /** Per-FILE column range statistics for a written table — the lakehouse
    * manifest / metadata-table pattern (Delta stats, Iceberg manifests,
    * Hudi's metadata table). One narrow scan groups min/max per
    * `input_file_name`; the result is LAYOUT-sized (one row per file),
    * not data-sized, so it persists as a tiny side table. At 100 TB this
    * moves pruning from read time to PLANNING time: a box query consults
    * the stats table and never even opens the footers of files it can
    * exclude — row-group skipping still applies inside the survivors.
    * Pairs with [[zorderWriteN]], which is what makes per-file ranges
    * tight in every clustered column at once. */
  def fileStats(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap(c => Seq(
      min(col(c)).as(s"${c}_min"), max(col(c)).as(s"${c}_max")))
    spark.read.parquet(path)
      .select((col(cols.head) +: cols.tail.map(col)) :+
        input_file_name().as("file"): _*)
      .groupBy(col("file"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Read only the files whose stats rectangle intersects every
    * `(col, lo, hi)` bound of a box predicate, using a previously
    * collected [[fileStats]] table. Returns the kept files' FULL rows —
    * the caller still applies the predicate (stats pruning is a superset
    * filter, exactly like parquet row-group skipping). The collected file
    * list is layout-sized, the same planning-time footprint as the file
    * listing every reader already does. */
  def readPruned(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      stats: DataFrame,
      box: Seq[(String, Long, Long)]): DataFrame = {
    val keep = box.foldLeft(stats) { case (df, (c, lo, hi)) =>
      df.filter(col(s"${c}_max") >= lo && col(s"${c}_min") <= hi)
    }.select("file").collect().map(_.getString(0))
    if (keep.isEmpty) spark.read.parquet(path).filter(lit(false))
    else spark.read.parquet(keep.toIndexedSeq: _*)
  }

  /** Write `df` as a bucketed + sorted table and return the catalog
    * read-back. Bucketing is the layout that DELETES the join shuffle:
    * two tables bucketed by their join keys into the same bucket count
    * are co-partitioned ON DISK (bucket id = murmur3 pmod numBuckets —
    * the same function `repartition(n, key)` uses), so a join between
    * them plans a sort-merge with ZERO Exchange on either side. At
    * 100 TB this is the difference between re-shuffling the fact table
    * on every run and paying the shuffle ONCE at ingest.
    *
    * The `repartition(buckets, key)` before the write is the known
    * bucketed-write trap: without it every write task emits a file per
    * bucket it sees (tasks × buckets small files, and the read side
    * loses sort elision, which needs one file per bucket). With it,
    * task i holds exactly bucket i — the partitioner and the bucket
    * hash agree — so the layout is one sorted file per bucket.
    *
    * External table (explicit `path`), `Overwrite` mode: re-running the
    * same name is idempotent, and the catalog entry is only metadata —
    * the in-memory catalog works; no Hive metastore needed. */
  def bucketedTable(
      df: DataFrame,
      table: String,
      path: String,
      key: String,
      buckets: Int,
      sortCols: Seq[String]): DataFrame = {
    require(buckets >= 1, "buckets must be >= 1")
    require(sortCols.nonEmpty, "bucketed layout should also sort")
    df.repartition(buckets, col(key))
      .write.format("parquet").mode(SaveMode.Overwrite)
      .bucketBy(buckets, key)
      .sortBy(sortCols.head, sortCols.tail: _*)
      .option("path", path)
      .saveAsTable(table)
    df.sparkSession.table(table)
  }
}
