package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** `graft_bounded_collect(id, cap)` — collect a key's DISTINCT long ids
  * into a sorted array, but NEVER buffer more than `cap` of them: the
  * moment an update or merge would add a distinct id past the cap, the
  * buffer flips to `overflow` and discards its contents, and the
  * aggregate evaluates to NULL. Duplicates collapse in the buffer and
  * never count toward the cap, so overflow fires iff the group's
  * distinct member count exceeds `cap`, whatever the input order or
  * partial-merge tree.
  *
  * This is the skew-safe primitive behind the inverted-index candidate
  * stages of [[graft.operators.DedupOps]]: a group-by bucket expansion
  * needs each bucket's member list, but a viral boilerplate shingle at
  * corpus scale has millions of postings, and a plain `collect_list`
  * would materialize all of them in ONE aggregation buffer before any
  * size filter runs — the classic flood OOM. Capping inside the
  * aggregate bounds every buffer at `cap` longs while keeping the df-cut
  * EXACT — precisely the viral-shingle drop the two-pass count+anti-join
  * formulation computed, now in a single exchange.
  *
  * The reference's analog is its bounded-structure discipline in the
  * decode cache (ref crates/core/src/transformer/cache.rs:78-118): fixed
  * capacity decided up front, never input-dependent growth.
  */
case class BoundedCollectAgg(
    child: Expression,
    cap: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[BoundedCollectAgg.Buf]
  with UnaryLike[Expression] {

  require(cap > 0, s"cap must be positive, got $cap")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_bounded_collect"

  override def createAggregationBuffer(): BoundedCollectAgg.Buf =
    new BoundedCollectAgg.Buf(overflow = false, n = 0,
      ids = new Array[Long](math.min(cap, 16)))

  override def update(buf: BoundedCollectAgg.Buf,
                      input: InternalRow): BoundedCollectAgg.Buf = {
    if (!buf.overflow) {
      val v = child.eval(input)
      if (v != null) buf.add(v.asInstanceOf[Long], cap)
    }
    buf
  }

  override def merge(buf: BoundedCollectAgg.Buf,
                     other: BoundedCollectAgg.Buf): BoundedCollectAgg.Buf = {
    if (buf.overflow || other.overflow) {
      buf.overflow = true
      buf.n = 0
    } else {
      var i = 0
      while (i < other.n && !buf.overflow) { buf.add(other.ids(i), cap); i += 1 }
    }
    buf
  }

  override def eval(buf: BoundedCollectAgg.Buf): Any =
    if (buf.overflow) null
    else new GenericArrayData(java.util.Arrays.copyOf(buf.ids, buf.n))

  override def serialize(buf: BoundedCollectAgg.Buf): Array[Byte] = {
    val bb = ByteBuffer.allocate(1 + 4 + 8 * buf.n)
    bb.put(if (buf.overflow) 1.toByte else 0.toByte)
    bb.putInt(buf.n)
    var i = 0
    while (i < buf.n) { bb.putLong(buf.ids(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): BoundedCollectAgg.Buf = {
    val bb = ByteBuffer.wrap(bytes)
    val ov = bb.get() == 1
    val n = bb.getInt()
    val ids = new Array[Long](math.max(n, 1))
    var i = 0
    while (i < n) { ids(i) = bb.getLong(); i += 1 }
    new BoundedCollectAgg.Buf(ov, n, ids)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BoundedCollectAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BoundedCollectAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): BoundedCollectAgg =
    copy(child = newChild)
}

object BoundedCollectAgg {

  /** Mutable aggregation state: grows geometrically up to the cap; once
    * `overflow` is set the contents are discarded and stay discarded.
    */
  final class Buf(var overflow: Boolean, var n: Int, var ids: Array[Long]) {
    /** Sorted-unique insert: a duplicate is a no-op. */
    def add(v: Long, cap: Int): Unit = {
      if (overflow) return
      val pos = java.util.Arrays.binarySearch(ids, 0, n, v)
      if (pos >= 0) return
      if (n == cap) { overflow = true; n = 0; ids = Array.emptyLongArray; return }
      val ins = -(pos + 1)
      if (n == ids.length)
        ids = java.util.Arrays.copyOf(ids, math.min(cap, math.max(ids.length * 2, 1)))
      System.arraycopy(ids, ins, ids, ins + 1, n - ins)
      ids(ins) = v
      n += 1
    }
  }

  /** DataFrame aggregation column: NULL when the group has more than
    * `cap` distinct members, otherwise its sorted distinct members.
    */
  def column(c: Column, cap: Int): Column =
    ColumnBridge.column(
      BoundedCollectAgg(ColumnBridge.expression(c), cap).toAggregateExpression())
}
