package graft.plans

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.types._

/** Growable (long key, contrib) pair buffer for [[OrderedFoldSumLong]]
  * — parallel primitive arrays, sorted only once at eval time.
  */
final class LongFoldBuffer(initialCapacity: Int = 8) {
  var size: Int = 0
  var keys: Array[Long] = new Array[Long](initialCapacity)
  var vals: Array[Double] = new Array[Double](initialCapacity)

  def append(k: Long, v: Double): Unit = {
    if (size == keys.length) {
      keys = java.util.Arrays.copyOf(keys, size * 2)
      vals = java.util.Arrays.copyOf(vals, size * 2)
    }
    keys(size) = k
    vals(size) = v
    size += 1
  }

  def mergeIn(o: LongFoldBuffer): LongFoldBuffer = {
    var i = 0
    while (i < o.size) { append(o.keys(i), o.vals(i)); i += 1 }
    this
  }

  /** Sum in (key asc, value asc) order from +0.0 — the exact float
    * fold of `aggregate(sort_array(collect_list(struct(key BIGINT,
    * ..., value))), 0.0, acc + value)` for call sites whose long key
    * is unique per group (struct sort order ≡ key order there; the
    * value tiebreak is matched anyway so the equivalence is
    * unconditional).
    */
  def orderedSum(): Double = {
    // primitive insertion sort (round 18): groups are ≤ |query terms|
    // entries, and a boxed-comparator sort allocated per group
    // dominated eval at 10⁸-group candidate volume. Same total order,
    // bit-identical sum. Above 64 entries (a degenerate mega-term
    // query) fall back to the n·log n comparator sort — same order, no
    // quadratic cliff.
    val order = new Array[Int](size)
    var i = 0
    while (i < size) { order(i) = i; i += 1 }
    if (size > 64) {
      val boxed = order.map(Integer.valueOf)
      java.util.Arrays.sort(boxed, new java.util.Comparator[Integer] {
        override def compare(a: Integer, b: Integer): Int = {
          val c = java.lang.Long.compare(keys(a), keys(b))
          if (c != 0) c else java.lang.Double.compare(vals(a), vals(b))
        }
      })
      var s = 0.0
      i = 0
      while (i < size) { s += vals(boxed(i)); i += 1 }
      return s
    }
    i = 1
    while (i < size) {
      val oi = order(i)
      var h = i - 1
      while (h >= 0 && {
        val c = java.lang.Long.compare(keys(order(h)), keys(oi))
        c > 0 || (c == 0 &&
          java.lang.Double.compare(vals(order(h)), vals(oi)) > 0)
      }) { order(h + 1) = order(h); h -= 1 }
      order(h + 1) = oi
      i += 1
    }
    var s = 0.0
    i = 0
    while (i < size) { s += vals(order(i)); i += 1 }
    s
  }
}

/** `ordered_fold_sum_long(key BIGINT, contrib DOUBLE) -> DOUBLE` — the
  * determinism-critical per-group score fold of the lexical tier as ONE
  * native aggregate: contributions sum in key-ascending order from
  * +0.0, bit-identical to `aggregate(sort_array(collect_list(struct(key,
  * ...))), 0.0, acc + contrib)` when the key is unique per group (every
  * call site: the BM25-family folds key on the per-query term rank, the
  * SDM rerank first pass on the query position), without materializing
  * a per-group array column. Null key or contrib rows are skipped
  * (collect_list skipped null structs the same way; call sites never
  * produce them).
  */
case class OrderedFoldSumLong(left: Expression, right: Expression,
                              mutableAggBufferOffset: Int = 0,
                              inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[LongFoldBuffer]
    with BinaryLike[Expression] {

  override def prettyName: String = "ordered_fold_sum_long"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (left.dataType == LongType && right.dataType == DoubleType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"ordered_fold_sum_long(key BIGINT, contrib DOUBLE) — got " +
          s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = false

  override def createAggregationBuffer(): LongFoldBuffer =
    new LongFoldBuffer()

  @transient private lazy val inputProj =
    org.apache.spark.sql.catalyst.expressions.UnsafeProjection
      .create(Seq(left, right))

  override def update(buf: LongFoldBuffer,
                      input: InternalRow): LongFoldBuffer = {
    val row = inputProj(input)
    if (!row.isNullAt(0) && !row.isNullAt(1))
      buf.append(row.getLong(0), row.getDouble(1))
    buf
  }

  override def merge(buf: LongFoldBuffer,
                     other: LongFoldBuffer): LongFoldBuffer =
    buf.mergeIn(other)

  override def eval(buf: LongFoldBuffer): Any = buf.orderedSum()

  override def serialize(buf: LongFoldBuffer): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 16 * buf.size)
    bb.putInt(buf.size)
    var i = 0
    while (i < buf.size) { bb.putLong(buf.keys(i)); i += 1 }
    i = 0
    while (i < buf.size) { bb.putDouble(buf.vals(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): LongFoldBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt()
    val buf = new LongFoldBuffer(math.max(8, n))
    var i = 0
    while (i < n) { buf.keys(i) = bb.getLong(); i += 1 }
    i = 0
    while (i < n) { buf.vals(i) = bb.getDouble(); i += 1 }
    buf.size = n
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): OrderedFoldSumLong =
    copy(mutableAggBufferOffset = o)

  override def withNewInputAggBufferOffset(o: Int): OrderedFoldSumLong =
    copy(inputAggBufferOffset = o)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): OrderedFoldSumLong =
    copy(left = newLeft, right = newRight)
}
