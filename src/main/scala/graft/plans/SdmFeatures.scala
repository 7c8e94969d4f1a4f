package graft.plans

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Growable (j, contrib, positions) entry buffer for [[SdmFeatures]] —
  * parallel arrays; all feature computation happens once at eval time.
  */
final class SdmFeaturesBuffer(initialCapacity: Int = 4) {
  var size: Int = 0
  var m: Long = -1L
  var js: Array[Long] = new Array[Long](initialCapacity)
  var cs: Array[Double] = new Array[Double](initialCapacity)
  var pos: Array[Array[Int]] = new Array[Array[Int]](initialCapacity)

  def append(j: Long, c: Double, p: Array[Int]): Unit = {
    if (size == js.length) {
      js = java.util.Arrays.copyOf(js, size * 2)
      cs = java.util.Arrays.copyOf(cs, size * 2)
      pos = java.util.Arrays.copyOf(pos, size * 2)
    }
    js(size) = j
    cs(size) = c
    pos(size) = p
    size += 1
  }

  def mergeIn(o: SdmFeaturesBuffer): SdmFeaturesBuffer = {
    var i = 0
    while (i < o.size) { append(o.js(i), o.cs(i), o.pos(i)); i += 1 }
    if (m < 0) m = o.m
    this
  }
}

object SdmFeatures {

  /** #1(w_i w_i+1) — exact ordered adjacency count: positions p in
    * `p1` with p + 1 present in `p2`. The ONE implementation of the
    * `size(filter(e1.positions, p -> array_contains(e2.positions,
    * p + 1)))` expression it replaces (exact integer counting; linear
    * membership scans — array_contains assumed no sortedness either).
    */
  def countOrdered(p1: Array[Int], p2: Array[Int]): Long = {
    var tf = 0L
    var i = 0
    while (i < p1.length) {
      val target = p1(i) + 1
      var found = false
      var t = 0
      while (t < p2.length && !found) {
        found = p2(t) == target
        t += 1
      }
      if (found) tf += 1L
      i += 1
    }
    tf
  }

  /** #uwN(w_i, w_i+1) counted as ORDERED position pairs (p1 from w_i,
    * p2 from w_i+1, p1 ≠ p2, |p2 − p1| < window) — the documented
    * duplicated-term divergence from Indri's unordered-set form.
    * Replaces `aggregate(e1.positions, 0, (acc, p1) -> acc +
    * size(filter(e2.positions, p2 -> p2 <> p1 && abs(p2 - p1) <
    * window)))` (exact integer counting).
    */
  def countUnordered(p1: Array[Int], p2: Array[Int], window: Int): Long = {
    var tf = 0L
    var i = 0
    while (i < p1.length) {
      val a = p1(i)
      var t = 0
      while (t < p2.length) {
        val d = p2(t) - a
        if (p2(t) != a && (if (d < 0) -d else d) < window) tf += 1L
        t += 1
      }
      i += 1
    }
    tf
  }

  /** The full SDM feature evaluation over a group's (j, contrib,
    * positions) entries — the ONE implementation the aggregate (and
    * any scan-local twin) calls:
    *
    *   - `s_t` = Σ contrib in j-ASCENDING order from +0.0 — the exact
    *     float fold of `aggregate(sort_array(collect_list(struct(j,
    *     tf, idf_t, positions))), 0.0, acc + idf_t·sat(tf))` with the
    *     per-element contribution precomputed (j is unique per group,
    *     so struct sort order ≡ j order and the element values are the
    *     same doubles);
    *   - `pairs(i)` for i ∈ 1..m−1: (tfo, tfu) of the entries at j = i
    *     and j = i + 1, both 0 when either entry is absent — exactly
    *     the rows the coalesced get(filter(...)) expression chain
    *     emitted.
    *
    * Returns (s_t, Array[(i, tfo, tfu)]).
    */
  def evalFeatures(js: Array[Long], cs: Array[Double],
                   pos: Array[Array[Int]], n: Int, m: Long,
                   window: Int): (Double, Array[(Long, Long, Long)]) = {
    // sort indices by j asc — j is unique per group (one row per
    // (query, position) matched in the doc). Primitive insertion sort:
    // groups are ≤ m entries (query length), and a boxed comparator
    // sort allocated per group dominated eval at 10⁸-group volume.
    val order = new Array[Int](n)
    var i = 0
    while (i < n) { order(i) = i; i += 1 }
    if (n > 64) {
      // degenerate mega-term query: keep n·log n (same j-asc order)
      val boxed = order.map(Integer.valueOf)
      java.util.Arrays.sort(boxed, new java.util.Comparator[Integer] {
        override def compare(a: Integer, b: Integer): Int =
          java.lang.Long.compare(js(a), js(b))
      })
      i = 0
      while (i < n) { order(i) = boxed(i); i += 1 }
    } else {
      i = 1
      while (i < n) {
        val oi = order(i)
        val key = js(oi)
        var h = i - 1
        while (h >= 0 && js(order(h)) > key) {
          order(h + 1) = order(h); h -= 1
        }
        order(h + 1) = oi
        i += 1
      }
    }
    var s = 0.0
    i = 0
    while (i < n) { s += cs(order(i)); i += 1 }
    val npairs = if (m < 1L) 0 else (m - 1L).toInt
    val pairs = new Array[(Long, Long, Long)](npairs)
    var pi = 0
    while (pi < npairs) {
      val i1 = pi + 1L
      var a = -1
      var b = -1
      var e = 0
      while (e < n && (a < 0 || b < 0)) {
        if (a < 0 && js(e) == i1) a = e
        if (b < 0 && js(e) == i1 + 1L) b = e
        e += 1
      }
      if (a < 0 || b < 0) pairs(pi) = (i1, 0L, 0L)
      else pairs(pi) = (i1, countOrdered(pos(a), pos(b)),
        countUnordered(pos(a), pos(b), window))
      pi += 1
    }
    (s, pairs)
  }
}

/** `sdm_features(j BIGINT, contrib DOUBLE, positions ARRAY<INT>,
  * m BIGINT, window INT-literal) -> STRUCT<s_t DOUBLE,
  * pairs ARRAY<STRUCT<i BIGINT, tfo BIGINT, tfu BIGINT>>>` — the
  * sequential-dependence candidate fold of the lexical tier as ONE
  * native aggregate: per (query, doc) group, collect the matched
  * (query position j, precomputed unigram contribution, doc positions)
  * entries; at eval, fold the unigram sum in j-asc order and count the
  * ordered/windowed co-occurrence pairs for every adjacent query
  * position. Result-identical to the `sort_array(collect_list(struct(
  * j, tf, idf_t, positions)))` → interpreted `aggregate` unigram fold
  * → per-i `get(filter(...))` + positions-probing higher-order chain
  * it replaces (the last hot interpreted expression fold of round 17's
  * "Not yet optimized" list), without materializing a per-group
  * struct-array column or running O(m) interpreted filters per pair
  * index per candidate. Null inputs are skipped (call sites never
  * produce them — join output of non-null frames); a null ELEMENT of
  * `positions` fails loudly ([[PhraseTf.positionsOf]]).
  *
  * The one deliberate widening: pair counts accumulate in Long where
  * the old expression accumulated tfu in INT (`lit(0)` acc) — equal on
  * any input whose per-(entry-pair) windowed co-occurrence count fits
  * an int, i.e. any document below ~10⁸ occurrences of one term
  * (2·window·tf pairs); the expression form would have wrapped there.
  */
case class SdmFeatures(j: Expression, contrib: Expression,
                       positions: Expression, m: Expression,
                       window: Int,
                       mutableAggBufferOffset: Int = 0,
                       inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[SdmFeaturesBuffer] {

  override def prettyName: String = "sdm_features"

  override def children: Seq[Expression] = Seq(j, contrib, positions, m)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (j.dataType, contrib.dataType, positions.dataType, m.dataType) match {
      case (LongType, DoubleType, ArrayType(IntegerType, _), LongType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (a, b, c, d) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"sdm_features(j BIGINT, contrib DOUBLE, positions ARRAY<INT>, " +
            s"m BIGINT) — got (${a.simpleString}, ${b.simpleString}, " +
            s"${c.simpleString}, ${d.simpleString})")
    }

  private val pairType = StructType(Seq(
    StructField("i", LongType, nullable = false),
    StructField("tfo", LongType, nullable = false),
    StructField("tfu", LongType, nullable = false)))

  override def dataType: DataType = StructType(Seq(
    StructField("s_t", DoubleType, nullable = false),
    StructField("pairs", ArrayType(pairType, containsNull = false),
      nullable = false)))

  override def nullable: Boolean = false

  @transient private lazy val nullablePositions: Boolean =
    positions.dataType match {
      case ArrayType(_, containsNull) => containsNull
      case _ => true
    }

  override def createAggregationBuffer(): SdmFeaturesBuffer =
    new SdmFeaturesBuffer()

  // codegen'd input projection (the BoundedTopK device): without it
  // ObjectAggregation evaluates the children interpreted per row
  @transient private lazy val inputProj =
    org.apache.spark.sql.catalyst.expressions.UnsafeProjection
      .create(Seq(j, contrib, positions, m))

  override def update(buf: SdmFeaturesBuffer,
                      input: InternalRow): SdmFeaturesBuffer = {
    val row = inputProj(input)
    if (!row.isNullAt(0) && !row.isNullAt(1) && !row.isNullAt(2) &&
        !row.isNullAt(3)) {
      buf.append(row.getLong(0), row.getDouble(1),
        PhraseTf.positionsOf(row.getArray(2), nullablePositions, prettyName))
      if (buf.m < 0) buf.m = row.getLong(3)
    }
    buf
  }

  override def merge(buf: SdmFeaturesBuffer,
                     other: SdmFeaturesBuffer): SdmFeaturesBuffer =
    buf.mergeIn(other)

  override def eval(buf: SdmFeaturesBuffer): Any = {
    val (s, pairs) = SdmFeatures.evalFeatures(buf.js, buf.cs, buf.pos,
      buf.size, buf.m, window)
    val rows: Array[Any] = pairs.map { case (i, tfo, tfu) =>
      new GenericInternalRow(Array[Any](i, tfo, tfu)): Any
    }
    new GenericInternalRow(Array[Any](s, new GenericArrayData(rows)))
  }

  override def serialize(buf: SdmFeaturesBuffer): Array[Byte] = {
    var bytes = 4 + 8 // size + m
    var i = 0
    while (i < buf.size) {
      bytes += 8 + 8 + 4 + 4 * buf.pos(i).length
      i += 1
    }
    val bb = ByteBuffer.allocate(bytes)
    bb.putInt(buf.size)
    bb.putLong(buf.m)
    i = 0
    while (i < buf.size) {
      bb.putLong(buf.js(i))
      bb.putDouble(buf.cs(i))
      val arr = buf.pos(i)
      bb.putInt(arr.length)
      var t = 0
      while (t < arr.length) { bb.putInt(arr(t)); t += 1 }
      i += 1
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): SdmFeaturesBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt()
    val buf = new SdmFeaturesBuffer(math.max(4, n))
    buf.m = bb.getLong()
    var i = 0
    while (i < n) {
      buf.js(i) = bb.getLong()
      buf.cs(i) = bb.getDouble()
      val len = bb.getInt()
      val arr = new Array[Int](len)
      var t = 0
      while (t < len) { arr(t) = bb.getInt(); t += 1 }
      buf.pos(i) = arr
      i += 1
    }
    buf.size = n
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): SdmFeatures =
    copy(mutableAggBufferOffset = o)

  override def withNewInputAggBufferOffset(o: Int): SdmFeatures =
    copy(inputAggBufferOffset = o)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): SdmFeatures =
    copy(j = newChildren(0), contrib = newChildren(1),
      positions = newChildren(2), m = newChildren(3))
}
