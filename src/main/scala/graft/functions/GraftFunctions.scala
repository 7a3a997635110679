package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions.call_function

/** Registration + Column wrappers for graft's custom Catalyst expressions.
  *
  * The functions live in the session's `FunctionRegistry`, so they are
  * usable from SQL text as well as the DataFrame API (and the Column wrapper
  * avoids depending on any non-public Column constructor). A session built
  * by [[graft.GraftSession]] has them; any other session calls [[register]]
  * once. A session without them fails at analysis with Spark's
  * unresolved-routine error.
  */
object GraftFunctions {

  /** Every graft SQL function: name, the expression class it builds
    * (what `DESCRIBE FUNCTION` reports), and the builder over the call's
    * argument expressions. The one list both entry paths read:
    * [[GraftExtensions]] (`spark.sql.extensions`, which
    * [[graft.GraftSession]] sets) and [[register]] (once, on a session
    * built any other way). */
  val table: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("infobox_to_map", classOf[InfoboxToMap], exprs => InfoboxToMap(exprs.head)),
    ("rolling_chunks", classOf[RollingHashChunks], exprs =>
      RollingHashChunks(exprs.head, intArg(exprs, 1, 16), intArg(exprs, 2, 6))),
    ("simhash64", classOf[SimHash64], exprs => SimHash64(exprs.head)),
    ("minhash_sig", classOf[MinHashSig], exprs =>
      MinHashSig(exprs(0), intArg(exprs, 1), intArg(exprs, 2))),
    ("shingle_hashes", classOf[ShingleHashes], exprs =>
      ShingleHashes(exprs(0), intArg(exprs, 1))),
    ("nfc_normalize", classOf[NfcNormalize], exprs => NfcNormalize(exprs.head)),
    ("graft_dot", classOf[VecDot], exprs => VecDot(exprs(0), exprs(1))),
    ("graft_sqdist", classOf[VecL2Sq], exprs => VecL2Sq(exprs(0), exprs(1))),
    ("graft_hilbert2d", classOf[HilbertIndex2D], exprs =>
      HilbertIndex2D(exprs(0), exprs(1), intArg(exprs, 2, 16))),
    ("kmin_values", classOf[KMinValues], exprs =>
      KMinValues(exprs.head, intArg(exprs, 1, 256)).toAggregateExpression()),
    ("kmin_pairs", classOf[KMinPairs], exprs =>
      KMinPairs(exprs(0), exprs(1), intArg(exprs, 2, 256))
        .toAggregateExpression()),
    // Catalyst ships distributed bloom-filter expressions for its runtime
    // join filters but does not register them for users; exposing them
    // through the registry keeps the public-API-only Column path.
    ("graft_bloom_agg", classOf[BloomFilterAggregate], exprs =>
      new BloomFilterAggregate(exprs(0), exprs(1), exprs(2))
        .toAggregateExpression()),
    ("graft_bloom_might_contain", classOf[BloomFilterMightContain], exprs =>
      BloomFilterMightContain(exprs(0), exprs(1))))

  /** Install every [[table]] function on a session that was not built by
    * [[graft.GraftSession]]; call it once per such session. */
  def register(spark: SparkSession): Unit =
    table.foreach { case (name, _, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }

  private def intArg(exprs: Seq[Expression], i: Int, default: Int): Int =
    if (exprs.length > i) intArg(exprs, i) else default

  /** The required constant int argument `i`. */
  private def intArg(exprs: Seq[Expression], i: Int): Int = {
    require(exprs.length > i, s"missing constant int argument ${i + 1}")
    exprs(i).eval().asInstanceOf[Number].intValue
  }

  /** Flatten a Bangumi infobox JSON array into map<string,string> (F1). */
  def infobox_to_map(c: Column): Column = call_function("infobox_to_map", c)

  /** Content-defined chunk fingerprints via Rabin–Karp rolling hash. */
  def rolling_chunks(c: Column, window: Int = 16, maskBits: Int = 6): Column =
    call_function("rolling_chunks", c,
      org.apache.spark.sql.functions.lit(window),
      org.apache.spark.sql.functions.lit(maskBits))

  /** 64-bit SimHash of a token array as 16 hex chars (codegen'd kernel). */
  def simhash64(tokens: Column): Column = call_function("simhash64", tokens)

  /** k-hash MinHash signature of a token array's word n-gram shingles, as
    * md5 hex strings (codegen'd kernel; see [[MinHashSig]]). */
  def minhash_sig(tokens: Column, n: Int, k: Int): Column =
    call_function("minhash_sig", tokens,
      org.apache.spark.sql.functions.lit(n),
      org.apache.spark.sql.functions.lit(k))

  /** xxhash64 of each word n-gram shingle of a token array (codegen'd
    * kernel; see [[ShingleHashes]]). */
  def shingle_hashes(tokens: Column, n: Int): Column =
    call_function("shingle_hashes", tokens,
      org.apache.spark.sql.functions.lit(n))

  /** Codegen'd dot product Σ a(i)·b(i) over two array<double> columns —
    * the same left-to-right IEEE fold as `aggregate(zip_with(a, b, _*_),
    * 0.0, _+_)`, minus the interpreted-lambda and zip-materialization
    * cost. */
  def graft_dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  /** 2-D Hilbert curve index of quantized non-negative long cells (the
    * xy2d rotate-and-flip loop, codegen'd). */
  def graft_hilbert2d(x: Column, y: Column, bits: Int): Column =
    call_function("graft_hilbert2d", x, y,
      org.apache.spark.sql.functions.lit(bits))

  /** Codegen'd squared euclidean distance Σ (a(i)−b(i))² (see
    * [[graft_dot]] for the fold contract). */
  def graft_sqdist(a: Column, b: Column): Column =
    call_function("graft_sqdist", a, b)

  /** Unicode NFC canonical composition (codegen'd; ASCII rows are an
    * allocation-free identity). */
  def nfc_normalize(text: Column): Column = call_function("nfc_normalize", text)

  /** KMV sketch aggregate: the k smallest distinct long values, ascending.
    * Map-side combinable — ≤ k longs cross the exchange per partition. */
  def kmin_values(v: Column, k: Int): Column =
    call_function("kmin_values", v, org.apache.spark.sql.functions.lit(k))

  /** Bounded uniform reservoir aggregate: (key, value) pairs whose key is
    * among the k smallest distinct keys, as array<struct<h,v>> ascending.
    * One-pass, mergeable — the streaming-ready form of the k-min-hash
    * sample. */
  def kmin_pairs(key: Column, value: Column, k: Int): Column =
    call_function("kmin_pairs", key, value,
      org.apache.spark.sql.functions.lit(k))

  /** Distributed bloom-filter build over xxhash64 values (binary sketch of
    * `numBits` bits; partial sketches OR-merge map-side, so the shuffle
    * carries one sketch per task, never the keys). */
  def bloom_agg(h64: Column, estimatedItems: Long, numBits: Long): Column =
    call_function("graft_bloom_agg", h64,
      org.apache.spark.sql.functions.lit(estimatedItems),
      org.apache.spark.sql.functions.lit(numBits))

  /** Membership probe against a bloom sketch (no false negatives). The
    * sketch must be a literal or scalar subquery — Catalyst enforces it. */
  def bloom_might_contain(sketch: Column, h64: Column): Column =
    call_function("graft_bloom_might_contain", sketch, h64)

  /** Sketch size for `nItems` distinct keys: ~16 bits per item (false-
    * positive rate well under 1% at the optimal hash count), rounded up to
    * a power of two, clamped to [2^20, 2^26]. The upper clamp is 2^26
    * because Spark's `BloomFilterAggregate` SILENTLY `Math.min`s the
    * requested bits against `spark.sql.optimizer.runtime.bloomFilter.
    * maxNumBits` (default 2^26, verified in the 4.1.2 bytecode) — asking
    * for more would produce a smaller sketch than requested and make
    * every size-derived diagnostic lie. An 8 MB plan constant is also the
    * practical literal ceiling; past ~4M items the caller sees the
    * [[bloomFillFactor]] saturation warning instead of a silently
    * useless filter (raise the session conf AND pass explicit numBits to
    * go bigger). */
  def bloomBitsFor(nItems: Long): Long = {
    val want = math.max(1L << 20, 16L * math.max(1L, nItems))
    val pow =
      if (java.lang.Long.bitCount(want) == 1) want
      else java.lang.Long.highestOneBit(want) << 1
    math.min(1L << 26, pow)
  }

  /** Number of data bits in a serialized bloom sketch, with the header
    * located by probing: the header is version + hash count + word count
    * ints (12 bytes in the classic layout; Spark 4's serialization adds
    * one more int, 16 bytes), and the word count × 8 must equal the
    * remaining byte length — probing both candidates instead of
    * hard-coding an offset keeps this correct across serialization
    * versions. */
  def bloomDataBits(sketch: Array[Byte]): (Int, Long) = {
    def intAt(o: Int): Long =
      ((sketch(o) & 0xffL) << 24) | ((sketch(o + 1) & 0xffL) << 16) |
        ((sketch(o + 2) & 0xffL) << 8) | (sketch(o + 3) & 0xffL)
    Seq(12, 16).collectFirst {
      case h if sketch.length >= h &&
        intAt(h - 4) * 8L == (sketch.length - h).toLong =>
        (h, (sketch.length - h) * 8L)
    }.getOrElse((12, (sketch.length - 12L) * 8L))
  }

  /** Fraction of bits set in a serialized bloom sketch (header skipped
    * via [[bloomDataBits]]). Measured against the sketch's ACTUAL bit
    * length, not the requested size — Spark caps requests at its
    * `maxNumBits` conf, and a fill factor computed against the bigger
    * request would under-report saturation exactly when it matters.
    * Beyond ~0.5 the sketch is saturating: results stay exact (the
    * bloom only prefilters), but its work-bounding collapses and every
    * probe tends toward "maybe". */
  def bloomFillFactor(sketch: Array[Byte]): Double = {
    val (header, bits) = bloomDataBits(sketch)
    var set = 0L
    var i = header
    while (i < sketch.length) {
      set += java.lang.Integer.bitCount(sketch(i) & 0xff)
      i += 1
    }
    set.toDouble / math.max(1L, bits)
  }

  /** Build a bloom sketch over `h64` sized for `nItems` (or an explicit
    * `numBits`), warning on saturation — the shared sizing + diagnostics
    * used by `Dedup.incrementalExact` and
    * `streaming.EventStreams.indexFilteredIngest`. None for empty input. */
  def sizedBloomSketch(
      df: org.apache.spark.sql.DataFrame,
      h64: Column,
      nItems: Long,
      numBits: Long,
      context: String): Option[Array[Byte]] = {
    val bits = if (numBits > 0L) numBits else bloomBitsFor(nItems)
    // expectedItems must track the BIT budget, not the raw count: Spark
    // picks k = round(m/n·ln2) hash functions, so a 2^20-bit floor with a
    // 250-item count would get k ≈ 2900 and saturate the sketch all by
    // itself (measured: fill 0.50 on a 250-fp delta). Floor n at m/16 —
    // k stays ≈ 11 and the fill factor reflects the data again.
    val items = math.max(math.max(1L, nItems), bits / 16L)
    val sketch = df.agg(bloom_agg(h64, items, bits).as("bf"))
      .head().getAs[Array[Byte]](0)
    Option(sketch).map { s =>
      val fill = bloomFillFactor(s)
      if (fill > 0.5) System.err.println(
        f"[graft] $context%s: bloom fill factor $fill%.2f (requested " +
          f"numBits=$bits%d, actual ${bloomDataBits(s)._2}%d) — sketch " +
          "saturating; results stay exact but the prefilter is losing " +
          "selectivity. Raise numBits (and the session's " +
          "spark.sql.optimizer.runtime.bloomFilter.maxNumBits) or shrink " +
          "the shard.")
      s
    }
  }
}
