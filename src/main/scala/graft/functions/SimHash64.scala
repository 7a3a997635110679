package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `simhash64(tokens)` — the 64-bit SimHash (Charikar '02) of a token
  * multiset, as a 16-hex-char string.
  *
  * Per token: hash = first 8 bytes of md5(token), big-endian; each of the
  * 64 bit positions accumulates +1 when the bit is set, −1 when clear
  * (multiplicity counts); the final bit is the majority (> 0). This is
  * bit-identical to the composed form
  * `explode(tokens) → 64 × sum(±1) → groupBy(id) → hex assembly`
  * (`operators.Dedup.simhashComposed`, mirrored by q29's DuckDB oracle) —
  * but it runs as ONE narrow codegen'd expression per document: no explode
  * blow-up, no 64-column aggregate, no shuffle. The whole signature stage
  * collapses from `scan → explode → partial agg → exchange → final agg`
  * to `scan → project`, which is the shape you want when the corpus is
  * 100 TB: signature cost scales with bytes scanned, not with a
  * tokens-× rows exchange.
  *
  * Null contract: null array → null; null elements are skipped (Spark's
  * `split` never produces them).
  */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash64 expects array<string>, got $other")
  }

  override def dataType: DataType = StringType

  override def prettyName: String = "simhash64"

  override protected def nullSafeEval(input: Any): Any =
    SimHash64.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHash64.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

object SimHash64 {

  /** Static kernel shared by eval and generated code (Janino calls the
    * companion's static forwarder). */
  def compute(tokens: ArrayData): UTF8String = {
    val counts = new Array[Int](64)
    val md = Md5.get()
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      val tok = tokens.getUTF8String(i)
      if (tok != null) {
        val h = md.digest(tok.getBytes) // digest() leaves md reset
        // first 8 digest bytes, big-endian = the first 16 hex chars of md5
        val word = Md5.word(h, 0)
        var j = 0
        while (j < 64) {
          if (((word >>> (63 - j)) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
          j += 1
        }
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 64) {
      if (counts(j) > 0) out |= 1L << (63 - j)
      j += 1
    }
    UTF8String.fromString(f"$out%016x")
  }
}
