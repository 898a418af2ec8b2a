package graft.functions.expressions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Drop-in replacement for the built-in `md5()` on the dedup hot paths
  * (LSH band keys, simhash token hashes): identical
  * lowercase-hex output, but the digest is THREAD-LOCAL instead of
  * `MessageDigest.getInstance` per call, and the hex string is built
  * in one pass. The built-in is fine for one call per row; these
  * operators hash every shingle/token, so instance-allocation churn
  * is measurable. Oracle SQL keeps replaying plain `md5(...)`. */
case class Md5Hex(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"md5_hex needs a string column, got ${child.dataType.catalogString}")

  override protected def nullSafeEval(input: Any): Any =
    Md5Hex.compute(input.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.expressions.Md5Hex.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): Md5Hex =
    copy(child = newChild)
}

object Md5Hex {
  def compute(s: UTF8String): UTF8String =
    UTF8String.fromString(Md5Util.hex(Md5Util.md5().digest(s.getBytes)))
}
