package graft.functions.expressions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The md5 digest of a string as its four big-endian unsigned 32-bit
  * words, each a BIGINT in [0, 2^32). Word j is the value of hex chars
  * 8j+1..8j+8 of `md5(s)`, and fixed-width lowercase hex orders like
  * the unsigned value ([[Md5Util.hex]]), so `min` over a word equals
  * `min(substring(md5(s), 8j+1, 8))` once formatted back to 8 hex
  * chars — the form the DuckDB oracle replays.
  *
  * Why native: a `min` over 8-char strings has no fixed-width
  * aggregation buffer, so Spark plans a sort aggregate that evaluates
  * its substrings interpreted; over BIGINT words it plans a codegen'd
  * hash aggregate. The MinHash signatures are the caller.
  */
case class Md5Words(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"md5_words needs a string column, got ${child.dataType.catalogString}")

  override protected def nullSafeEval(input: Any): Any =
    Md5Words.compute(input.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.expressions.Md5Words.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): Md5Words =
    copy(child = newChild)
}

object Md5Words {
  def compute(s: UTF8String): ArrayData = {
    val d = Md5Util.md5().digest(s.getBytes)
    val words = new Array[Long](4)
    var j = 0
    while (j < 4) {
      val b = 4 * j
      words(j) = ((d(b) & 0xffL) << 24) | ((d(b + 1) & 0xffL) << 16) |
        ((d(b + 2) & 0xffL) << 8) | (d(b + 3) & 0xffL)
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(words)
  }
}
