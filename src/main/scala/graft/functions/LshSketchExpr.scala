package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** Native Catalyst expression for the random-hyperplane LSH sketch
  * ([[graft.operators.SimilarityOps.lshSketch]], Charikar '02),
  * SQL-visible as `graft_lsh_sketch(embedding)`. Replaces the typed-map
  * formulation (encoder round trip per row, codegen break) with one
  * static call inside generated code — the ANN sketch pass runs at scan
  * speed, like SimHashExpr/MinHashSigExpr do for the text sketches.
  * Bit-identical to the kernel path: q = floor(1000·v) then
  * bit p = [Σ_d coef(p, d mod 64)·q_d > 0].
  */
object LshNative {
  private lazy val coefs: Array[Array[Long]] =
    Array.tabulate(graft.operators.SimilarityOps.Planes, 64)((p, d) =>
      graft.operators.SimilarityOps.planeCoef(p, d))

  def sketchF(arr: ArrayData): Long = sketch(arr.toFloatArray().map(_.toDouble))
  def sketchD(arr: ArrayData): Long = sketch(arr.toDoubleArray())

  private def sketch(v: Array[Double]): Long = {
    var out = 0L
    var p = 0
    while (p < graft.operators.SimilarityOps.Planes) {
      var s = 0L
      var d = 0
      while (d < v.length) {
        s += coefs(p)(d % 64) * math.floor(v(d) * 1000).toLong
        d += 1
      }
      if (s > 0) out |= (1L << p)
      p += 1
    }
    out
  }
}

case class LshSketchExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  private def elemType: DataType =
    child.dataType.asInstanceOf[ArrayType].elementType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<FLOAT|DOUBLE>, got $other")
  }
  override def prettyName: String = "graft_lsh_sketch"

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    if (elemType == FloatType) LshNative.sketchF(arr) else LshNative.sketchD(arr)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fn = if (elemType == FloatType) "sketchF" else "sketchD"
    defineCodeGen(ctx, ev, c => s"graft.functions.LshNative.$fn($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): LshSketchExpr =
    copy(child = newChild)
}
