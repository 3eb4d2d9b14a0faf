package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the dominant dedup sketch pass:
  * `graft_minhash_sig(text)` → array<bigint> (the 16-hash MinHash
  * signature) and `graft_shingles(text)` → array<string> (distinct sorted
  * word 3-shingles). A typed `Dataset.map` computing the same sketch
  * pays an encoder round trip (InternalRow → case class → InternalRow)
  * per document and breaks the whole-stage codegen span; as expressions
  * they are one static call inside generated code, so the sketch pass
  * runs at scan speed with full column pruning — the same move
  * [[SimHashExpr]] made for SimHash.
  *
  * Semantics are bit-identical to the kernel path (same
  * [[graft.operators.DedupOps.shingles]]/`minhashSig`), so the DuckDB
  * oracle reconstruction is unchanged.
  */
object MinHashNative {

  /** Static entry point for generated code: signature straight from text. */
  def minhashSig(text: UTF8String): ArrayData = {
    val sig = graft.operators.DedupOps.minhashSig(
      graft.operators.DedupOps.shingles(text.toString))
    new GenericArrayData(sig)
  }

  /** Static entry point for generated code: distinct sorted shingle set. */
  def shingleSet(text: UTF8String): ArrayData = {
    val sh = graft.operators.DedupOps.shingles(text.toString).distinct.sorted
    val out = new Array[Any](sh.length)
    var i = 0
    while (i < sh.length) { out(i) = UTF8String.fromString(sh(i)); i += 1 }
    new GenericArrayData(out)
  }

  /** Static entry point: md5i(source|shingle) inverted-index keys for the
    * doc's distinct shingles — the hash happens HERE, once per posting at
    * sketch-build (cached) time, so the index exchange and self-join
    * carry 8-byte longs with no per-branch rehash.
    */
  def shingleKeys(source: UTF8String, text: UTF8String): ArrayData = {
    val src = source.toString
    val sh = graft.operators.DedupOps.shingles(text.toString).distinct
    val out = new Array[Long](sh.length)
    var i = 0
    while (i < sh.length) {
      out(i) = graft.functions.Hashing.md5i(src + "|" + sh(i)); i += 1
    }
    new GenericArrayData(out)
  }
}

case class ShingleKeysExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (STRING, STRING), got " +
        s"(${left.dataType}, ${right.dataType})")
  override def prettyName: String = "graft_shingle_keys"

  override protected def nullSafeEval(src: Any, text: Any): Any =
    MinHashNative.shingleKeys(src.asInstanceOf[UTF8String],
      text.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (s, t) => s"graft.functions.MinHashNative.shingleKeys($s, $t)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ShingleKeysExpr =
    copy(left = newLeft, right = newRight)
}

case class MinHashSigExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires STRING, got ${child.dataType}")
  override def prettyName: String = "graft_minhash_sig"

  override protected def nullSafeEval(input: Any): Any =
    MinHashNative.minhashSig(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.MinHashNative.minhashSig($c)")

  override protected def withNewChildInternal(newChild: Expression): MinHashSigExpr =
    copy(child = newChild)
}

case class ShinglesExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires STRING, got ${child.dataType}")
  override def prettyName: String = "graft_shingles"

  override protected def nullSafeEval(input: Any): Any =
    MinHashNative.shingleSet(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.MinHashNative.shingleSet($c)")

  override protected def withNewChildInternal(newChild: Expression): ShinglesExpr =
    copy(child = newChild)
}
