package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** A document's word n-gram shingles as byte ranges of one buffer.
  *
  * The buffer is the non-null tokens joined by single spaces, so every
  * shingle — `concat_ws(" ", window)` — is the contiguous range
  * `[from(w), until(w))` of it: no per-shingle string is ever built. The
  * windows are the ones `operators.Dedup.shingleRows` emits: with m ≥ n
  * tokens, one per start 0..m−n whose last token is non-null (its
  * `arrays_zip` filter); with m < n, one window of the whole sequence.
  * `split` never produces null elements, so for tokenized text these are
  * simply the m−n+1 sliding windows.
  */
private[functions] final class ShingleWindows(
    val bytes: Array[Byte], val from: Array[Int], val until: Array[Int],
    val count: Int)

private[functions] object ShingleWindows {

  def apply(tokens: ArrayData, n: Int): ShingleWindows = {
    val m = tokens.numElements()
    var total = 0
    var i = 0
    while (i < m) {
      if (!tokens.isNullAt(i)) total += tokens.getUTF8String(i).numBytes() + 1
      i += 1
    }
    val bytes = new Array[Byte](math.max(0, total - 1))
    val lo = new Array[Int](m) // start offset of token i (non-null ones)
    var pos = 0
    var seen = false
    i = 0
    while (i < m) {
      if (!tokens.isNullAt(i)) {
        if (seen) { bytes(pos) = ' '; pos += 1 }
        seen = true
        val t = tokens.getUTF8String(i)
        lo(i) = pos
        t.writeToMemory(bytes, Platform.BYTE_ARRAY_OFFSET + pos)
        pos += t.numBytes()
      }
      i += 1
    }
    if (m < n) return new ShingleWindows(bytes, Array(0), Array(pos), 1)
    val from = new Array[Int](m - n + 1)
    val until = new Array[Int](m - n + 1)
    var count = 0
    var s = 0
    while (s <= m - n) {
      val last = s + n - 1
      if (!tokens.isNullAt(last)) {
        var first = s
        while (tokens.isNullAt(first)) first += 1
        from(count) = lo(first)
        until(count) = lo(last) + tokens.getUTF8String(last).numBytes()
        count += 1
      }
      s += 1
    }
    new ShingleWindows(bytes, from, until, count)
  }
}

/** `minhash_sig(tokens, n, k)` — the MinHash signature of a document's word
  * n-gram shingles: element i is the lexicographic min, over the shingles,
  * of the lowercase md5 hex of `"i:" + shingle`, for i in 0..k−1.
  *
  * Bit-identical to `min(md5(concat("<i>:", shingle)))` grouped per
  * document over `Dedup.shingleRows`, but one narrow codegen'd expression
  * per row: digests are compared as raw unsigned 16-byte values (the order
  * of their fixed-width hex), and only the k winners are hex-encoded.
  *
  * Null contract: null array → null; a document with no shingle (possible
  * only with null elements) → null.
  */
case class MinHashSig(child: Expression, n: Int, k: Int) extends UnaryExpression {

  require(n >= 1 && k >= 1, "minhash_sig needs n >= 1 and k >= 1")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_sig expects array<string>, got $other")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullable: Boolean = true

  override def prettyName: String = "minhash_sig"

  override protected def nullSafeEval(input: Any): Any =
    MinHashSig.compute(input.asInstanceOf[ArrayData], n, k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.MinHashSig.compute($c, $n, $k);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

object MinHashSig {

  private val HexDigits = "0123456789abcdef".getBytes("US-ASCII")

  private def hex(hi: Long, lo: Long): UTF8String = {
    val out = new Array[Byte](32)
    var j = 0
    while (j < 16) {
      out(j) = HexDigits(((hi >>> (60 - 4 * j)) & 0xf).toInt)
      out(16 + j) = HexDigits(((lo >>> (60 - 4 * j)) & 0xf).toInt)
      j += 1
    }
    UTF8String.fromBytes(out)
  }

  /** Static kernel shared by eval and generated code. */
  def compute(tokens: ArrayData, n: Int, k: Int): ArrayData = {
    val w = ShingleWindows(tokens, n)
    if (w.count == 0) return null
    val prefixes = Array.tabulate(k)(i => s"$i:".getBytes("UTF-8"))
    // per seed, the running min digest as two big-endian words; all-ones
    // is the max, so the first shingle always lands
    val bestHi = Array.fill(k)(-1L)
    val bestLo = Array.fill(k)(-1L)
    val md = Md5.get()
    val d = new Array[Byte](16)
    var s = 0
    while (s < w.count) {
      val off = w.from(s)
      val len = w.until(s) - off
      var i = 0
      while (i < k) {
        md.update(prefixes(i))
        md.update(w.bytes, off, len)
        md.digest(d, 0, 16)
        val hi = Md5.word(d, 0)
        val c = java.lang.Long.compareUnsigned(hi, bestHi(i))
        if (c < 0) {
          bestHi(i) = hi
          bestLo(i) = Md5.word(d, 8)
        } else if (c == 0) {
          val lo = Md5.word(d, 8)
          if (java.lang.Long.compareUnsigned(lo, bestLo(i)) < 0) bestLo(i) = lo
        }
        i += 1
      }
      s += 1
    }
    val out = new Array[Any](k)
    var i = 0
    while (i < k) { out(i) = hex(bestHi(i), bestLo(i)); i += 1 }
    new GenericArrayData(out)
  }
}

/** `shingle_hashes(tokens, n)` — Spark's `xxhash64` (seed 42) of each of a
  * document's word n-gram shingles, in window order, duplicates kept: the
  * values `xxhash64(concat_ws(" ", window))` takes over
  * `Dedup.shingleRows`, hashed straight off one per-document buffer
  * instead of through a per-shingle string.
  *
  * Null contract: null array → null.
  */
case class ShingleHashes(child: Expression, n: Int) extends UnaryExpression {

  require(n >= 1, "shingle_hashes needs n >= 1")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"shingle_hashes expects array<string>, got $other")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "shingle_hashes"

  override protected def nullSafeEval(input: Any): Any =
    ShingleHashes.compute(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ShingleHashes.compute($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

object ShingleHashes {

  /** `xxhash64`'s default seed. */
  private val Seed = 42L

  /** Static kernel shared by eval and generated code. */
  def compute(tokens: ArrayData, n: Int): ArrayData = {
    val w = ShingleWindows(tokens, n)
    val out = new Array[Long](w.count)
    var s = 0
    while (s < w.count) {
      out(s) = XXH64.hashUnsafeBytes(w.bytes,
        Platform.BYTE_ARRAY_OFFSET + w.from(s), w.until(s) - w.from(s), Seed)
      s += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}
