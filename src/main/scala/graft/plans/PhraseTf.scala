package graft.plans

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.TernaryLike
import org.apache.spark.sql.types._

/** Growable (j, positions) entry buffer for [[PhraseTf]] — parallel
  * arrays; anchor counting happens once at eval time.
  */
final class PhraseTfBuffer(initialCapacity: Int = 4) {
  var size: Int = 0
  var m: Long = -1L
  var js: Array[Long] = new Array[Long](initialCapacity)
  var pos: Array[Array[Int]] = new Array[Array[Int]](initialCapacity)

  def append(j: Long, p: Array[Int]): Unit = {
    if (size == js.length) {
      js = java.util.Arrays.copyOf(js, size * 2)
      pos = java.util.Arrays.copyOf(pos, size * 2)
    }
    js(size) = j
    pos(size) = p
    size += 1
  }

  def mergeIn(o: PhraseTfBuffer): PhraseTfBuffer = {
    var i = 0
    while (i < o.size) { append(o.js(i), o.pos(i)); i += 1 }
    if (m < 0) m = o.m
    this
  }
}

object PhraseTf {

  /** The positions of one input row, copied out of the projection's
    * reused buffer. A null element fails LOUDLY: a position has no null
    * meaning, and reading it as 0 (what `toIntArray` does) would invent
    * or hide a match. `checkNulls` is false when the input type rules
    * nulls out (every in-plan postings build); a maintained store read
    * back from parquet types its positions nullable and is checked.
    */
  private[plans] def positionsOf(
      a: org.apache.spark.sql.catalyst.util.ArrayData,
      checkNulls: Boolean, fn: String): Array[Int] = {
    if (checkNulls) {
      var i = 0
      while (i < a.numElements()) {
        if (a.isNullAt(i))
          throw new IllegalArgumentException(
            s"$fn: null element at index $i of a positions array")
        i += 1
      }
    }
    a.toIntArray
  }

  /** The phrase anchor count over a group's matched (j, positions)
    * entries — the ONE implementation both the exchange-fold aggregate
    * and the scan-local fold closure call, so the two paths cannot
    * drift:
    *
    *   - a group missing any of the m phrase positions scores 0
    *     (the old pipeline's `size(array_distinct(j)) === m` filter);
    *   - otherwise tf = |{p ∈ positions(j = 1) : ∀ entry,
    *     (p + j − 1) ∈ positions(entry)}| — exactly the
    *     `size(filter(flatten(...), p -> forall(es, array_contains)))`
    *     expression chain it replaces (integer counting over integer
    *     positions: no ordering or float sensitivity).
    *
    * Membership probes are linear scans — no sortedness assumption on
    * the positions arrays (`array_contains` made none either).
    */
  def countAnchors(js: Array[Long], pos: Array[Array[Int]], n: Int,
                   m: Long): Long = {
    if (n == 0) return 0L
    // completeness: all m distinct phrase positions present
    var distinct = 0
    var i = 0
    while (i < n) {
      var dup = false
      var h = 0
      while (h < i && !dup) { dup = js(h) == js(i); h += 1 }
      if (!dup) distinct += 1
      i += 1
    }
    if (distinct.toLong != m) return 0L
    // the (unique) j = 1 entry's positions are the anchor candidates
    var a = -1
    i = 0
    while (i < n && a < 0) { if (js(i) == 1L) a = i; i += 1 }
    if (a < 0) return 0L
    val anchors = pos(a)
    var tf = 0L
    var pi = 0
    while (pi < anchors.length) {
      val p = anchors(pi).toLong
      var ok = true
      var e = 0
      while (e < n && ok) {
        val target = p + js(e) - 1L
        val arr = pos(e)
        var found = false
        var t = 0
        while (t < arr.length && !found) {
          found = arr(t).toLong == target
          t += 1
        }
        ok = found
        e += 1
      }
      if (ok) tf += 1L
      pi += 1
    }
    tf
  }
}

/** `phrase_tf(j BIGINT, positions ARRAY<INT>, m BIGINT) -> BIGINT` —
  * the exact-phrase anchor count of the lexical tier as ONE native
  * aggregate: per (query, doc) group, collect the matched (phrase
  * position j, doc positions) entries and count the j = 1 positions
  * every entry confirms at offset j − 1. Result-identical to the
  * `collect_list(struct(j, positions))` → completeness filter →
  * `size(filter(flatten(...), p -> forall(es, array_contains(...))))`
  * pipeline it replaces (incomplete groups return 0 and are dropped by
  * the callers' `tf >= 1` filter — the same rows the old
  * `array_distinct === m` pre-filter removed), without materializing a
  * per-group struct-array column or running three higher-order
  * expression trees over every candidate. Null inputs are skipped
  * (call sites never produce them — join output of non-null frames);
  * a null ELEMENT of `positions` fails loudly ([[PhraseTf.positionsOf]]).
  */
case class PhraseTf(first: Expression, second: Expression,
                    third: Expression,
                    mutableAggBufferOffset: Int = 0,
                    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[PhraseTfBuffer]
    with TernaryLike[Expression] {

  override def prettyName: String = "phrase_tf"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (LongType, ArrayType(IntegerType, _), LongType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (a, b, c) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"phrase_tf(j BIGINT, positions ARRAY<INT>, m BIGINT) — got " +
            s"(${a.simpleString}, ${b.simpleString}, ${c.simpleString})")
    }

  override def dataType: DataType = LongType

  override def nullable: Boolean = false

  @transient private lazy val nullablePositions: Boolean =
    second.dataType match {
      case ArrayType(_, containsNull) => containsNull
      case _ => true
    }

  override def createAggregationBuffer(): PhraseTfBuffer =
    new PhraseTfBuffer()

  // codegen'd input projection (the BoundedTopK device): without it
  // ObjectAggregation evaluates the children interpreted per row
  @transient private lazy val inputProj =
    org.apache.spark.sql.catalyst.expressions.UnsafeProjection
      .create(Seq(first, second, third))

  override def update(buf: PhraseTfBuffer,
                      input: InternalRow): PhraseTfBuffer = {
    val row = inputProj(input)
    if (!row.isNullAt(0) && !row.isNullAt(1) && !row.isNullAt(2)) {
      buf.append(row.getLong(0),
        PhraseTf.positionsOf(row.getArray(1), nullablePositions, prettyName))
      if (buf.m < 0) buf.m = row.getLong(2)
    }
    buf
  }

  override def merge(buf: PhraseTfBuffer,
                     other: PhraseTfBuffer): PhraseTfBuffer =
    buf.mergeIn(other)

  override def eval(buf: PhraseTfBuffer): Any =
    PhraseTf.countAnchors(buf.js, buf.pos, buf.size, buf.m)

  override def serialize(buf: PhraseTfBuffer): Array[Byte] = {
    var bytes = 4 + 8 // size + m
    var i = 0
    while (i < buf.size) { bytes += 8 + 4 + 4 * buf.pos(i).length; i += 1 }
    val bb = ByteBuffer.allocate(bytes)
    bb.putInt(buf.size)
    bb.putLong(buf.m)
    i = 0
    while (i < buf.size) {
      bb.putLong(buf.js(i))
      val arr = buf.pos(i)
      bb.putInt(arr.length)
      var t = 0
      while (t < arr.length) { bb.putInt(arr(t)); t += 1 }
      i += 1
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): PhraseTfBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt()
    val buf = new PhraseTfBuffer(math.max(4, n))
    buf.m = bb.getLong()
    var i = 0
    while (i < n) {
      val j = bb.getLong()
      val len = bb.getInt()
      val arr = new Array[Int](len)
      var t = 0
      while (t < len) { arr(t) = bb.getInt(); t += 1 }
      buf.js(i) = j
      buf.pos(i) = arr
      i += 1
    }
    buf.size = n
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): PhraseTf =
    copy(mutableAggBufferOffset = o)

  override def withNewInputAggBufferOffset(o: Int): PhraseTf =
    copy(inputAggBufferOffset = o)

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): PhraseTf =
    copy(first = newFirst, second = newSecond, third = newThird)
}
