package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the kernel's `normalizeText`
  * (CRLF → LF, EOS-sentinel strip, trim — exact semantics of
  * /root/reference/crates/core/src/inference.rs:178-183), SQL-visible as
  * `graft_normalize_text(col)`.
  *
  * This is the preferred extension tier when built-ins don't compose: a
  * real `Expression` with `doGenCode` stays inside whole-stage codegen
  * (one virtual-free static call per row), where a Scala UDF would break
  * the codegen span and pay SerDe per call. Registered, like every
  * native function, from the one list in [[graft.GraftExtensions]]:
  * through `spark.sql.extensions=graft.GraftExtensions`, or per session
  * with `GraftExtensions.registerFunctions`.
  */
case class NormalizeText(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires STRING, got ${child.dataType}")
  }
  override def prettyName: String = "graft_normalize_text"

  override protected def nullSafeEval(input: Any): Any =
    UTF8String.fromString(
      graft.extract.Kernel.normalizeText(input.asInstanceOf[UTF8String].toString))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      "org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.extract.Kernel.normalizeText($c.toString()))")

  override protected def withNewChildInternal(newChild: Expression): NormalizeText =
    copy(child = newChild)
}
