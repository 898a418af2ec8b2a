package graft.functions.expressions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native distinct w-grams of a token array: every run of `w`
  * consecutive tokens joined by one space, distinct, in first-occurrence
  * order — identical to the declarative form
  * `array_distinct(transform(sequence(0, size(toks) - w),
  * i -> concat_ws(' ', toks[i], …, toks[i+w-1])))`, which the DuckDB
  * oracle replays (NULL tokens are skipped as `concat_ws` skips them;
  * empty tokens are kept). An array of fewer than `w` tokens gives an
  * empty array; a NULL array gives NULL.
  *
  * Why native: the higher-order form is evaluated row by row without
  * codegen — per gram an interpreted lambda, `w` array lookups and a
  * `concat_ws` — and it builds the full gram array before
  * `array_distinct` copies it. This loop writes each gram's bytes once
  * and dedups on the fly; the whole dedup family shingles through it.
  */
case class WGrams(child: Expression, w: Int) extends UnaryExpression {

  require(w >= 1, s"w-grams need w >= 1, got $w")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(et, _) if et == StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"w_grams needs an array<string> column, got ${other.catalogString}")
    }

  override protected def nullSafeEval(input: Any): Any =
    WGrams.compute(input.asInstanceOf[ArrayData], w)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.expressions.WGrams.compute($c, $w)")

  override protected def withNewChildInternal(newChild: Expression): WGrams =
    copy(child = newChild)
}

object WGrams {

  /** One pass over the gram start positions; shared by eval and codegen. */
  def compute(toks: ArrayData, w: Int): ArrayData = {
    val n = toks.numElements()
    val t = new Array[UTF8String](n)
    var i = 0
    while (i < n) {
      if (!toks.isNullAt(i)) t(i) = toks.getUTF8String(i)
      i += 1
    }
    val seen = new java.util.HashSet[UTF8String]()
    val out = new scala.collection.mutable.ArrayBuffer[Any]()
    i = 0
    while (i <= n - w) {
      var len = 0
      var parts = 0
      var k = 0
      while (k < w) {
        val s = t(i + k)
        if (s != null) { len += s.numBytes; parts += 1 }
        k += 1
      }
      // fresh bytes per gram: the output never aliases the input row
      val buf = new Array[Byte](len + math.max(parts - 1, 0))
      var pos = 0
      var joined = 0
      k = 0
      while (k < w) {
        val s = t(i + k)
        if (s != null) {
          if (joined > 0) { buf(pos) = ' '; pos += 1 }
          joined += 1
          s.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + pos)
          pos += s.numBytes
        }
        k += 1
      }
      val g = UTF8String.fromBytes(buf)
      if (seen.add(g)) out += g
      i += 1
    }
    new GenericArrayData(out.toArray)
  }
}
