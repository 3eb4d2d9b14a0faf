package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native `graft_md5i(string)` — the engine's portable 60-bit hash
  * ([[Hashing.md5i]]) as one static call inside generated code. Value-
  * identical to the SQL formulation `conv(substring(md5(s),1,15),16,10)`
  * ([[Hashing.md5iCol]]) but ~an order of magnitude cheaper per row: the
  * SQL chain materializes a 32-char hex string, substrings it, and runs
  * the interpreted base-conversion; this path digests bytes and parses
  * 15 hex chars with Long.parseLong. Used on per-posting hot paths
  * (inverted-index keys) where the hash runs millions of times per task.
  */
object Md5iNative {
  def md5i(s: UTF8String): Long = Hashing.md5i(s.toString)
}

case class Md5iExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires STRING, got ${child.dataType}")
  override def prettyName: String = "graft_md5i"

  override protected def nullSafeEval(input: Any): Any =
    Md5iNative.md5i(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Md5iNative.md5i($c)")

  override protected def withNewChildInternal(newChild: Expression): Md5iExpr =
    copy(child = newChild)
}
