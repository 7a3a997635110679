package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `rolling_chunks(text, window, maskBits)` — content-defined chunking via a
  * Rabin–Karp polynomial rolling hash: a chunk boundary is declared wherever
  * the rolling hash of the trailing `window` bytes has `maskBits` low zero
  * bits (expected chunk length ≈ 2^maskBits). Output: array of md5
  * fingerprints of the chunks.
  *
  * This is the document-fingerprinting / shift-resistant dedup primitive:
  * unlike fixed-size blocks, an insertion early in a document only changes
  * the fingerprints of the chunk it lands in, so shared suffixes still
  * collide — join chunk fingerprints to find partially-overlapping
  * documents at corpus scale (one explode + one hash-shuffle, same shape as
  * the shingle pipeline).
  *
  * `doGenCode` emits a direct static call into [[RollingHashChunks.chunks]]
  * (no `CodegenFallback`): the chunker itself is a JVM loop either way, but
  * the generated stage keeps its operands in locals instead of re-packing an
  * `InternalRow` per tuple for the interpreted path.
  */
case class RollingHashChunks(child: Expression, window: Int, maskBits: Int)
    extends UnaryExpression {

  require(window > 0 && maskBits > 0 && maskBits < 32)

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"rolling_chunks expects a string column, got ${child.dataType}")

  override def prettyName: String = "rolling_chunks"

  override protected def nullSafeEval(input: Any): Any =
    RollingHashChunks.chunks(input.asInstanceOf[UTF8String], window, maskBits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.RollingHashChunks.chunks($c, $window, $maskBits);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RollingHashChunks {
  private val B: Long = 257L

  /** The full chunking pass, callable from both the interpreted path and
    * generated code (static method → plain `invokestatic`). Never null:
    * empty input yields an empty array. */
  def chunks(input: UTF8String, window: Int, maskBits: Int): ArrayData = {
    val mask: Long = (1L << maskBits) - 1
    // B^window mod 2^64 for the rolling subtraction
    var bPow = 1L
    var w = 0
    while (w < window) { bPow *= B; w += 1 }
    val bytes = input.getBytes
    val md = Md5.get()
    val chunks = scala.collection.mutable.ArrayBuffer.empty[UTF8String]
    var start = 0
    var h = 0L
    var i = 0
    while (i < bytes.length) {
      h = h * B + (bytes(i) & 0xff)
      if (i - start >= window) h -= bPow * (bytes(i - window) & 0xff)
      val chunkLen = i - start + 1
      if ((chunkLen >= window && (h & mask) == 0L) || i == bytes.length - 1) {
        val hex = md.digest(java.util.Arrays.copyOfRange(bytes, start, i + 1))
          .map("%02x".format(_)).mkString
        chunks += UTF8String.fromString(hex)
        md.reset()
        start = i + 1
        h = 0L
      }
      i += 1
    }
    new GenericArrayData(chunks.toArray[Any])
  }
}
