package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the 48-bit SimHash sketch
  * ([[graft.operators.DedupOps.simhash]], Charikar '02), SQL-visible as
  * `graft_simhash(col)`.
  *
  * Replaces the typed-map formulation of the sketch pass: a typed
  * `Dataset.map` pays an encoder round trip (InternalRow → Scala object
  * → InternalRow) per row and breaks the whole-stage codegen span; this
  * expression is one static call inside generated code, so the dedup
  * sketch column runs at scan speed with full column pruning.
  */
case class SimHashExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires STRING, got ${child.dataType}")
  }
  override def prettyName: String = "graft_simhash"

  override protected def nullSafeEval(input: Any): Any =
    graft.operators.DedupOps.simhash(input.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.operators.DedupOps.simhash($c.toString())")

  override protected def withNewChildInternal(newChild: Expression): SimHashExpr =
    copy(child = newChild)
}
