package graft.plans

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Shared md5-prefix kernel: the first 60 bits of an md5 digest as a
  * non-negative long — the value `conv(substring(md5(s), 1, 15), 16,
  * 10)` produces (15 hex chars = 15 nibbles = top 60 bits), computed
  * straight from the digest bytes with no hex encode / substring /
  * radix parse, and with ONE MessageDigest instance per thread instead
  * of one per call.
  */
object Md5Long60 {
  private val tl: ThreadLocal[MessageDigest] = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  def digest(): MessageDigest = { val d = tl.get(); d.reset(); d }

  /** Big-endian top 60 bits of a 16-byte digest. */
  def top60(d: Array[Byte]): Long =
    (((d(0) & 0xFFL) << 56) | ((d(1) & 0xFFL) << 48) | ((d(2) & 0xFFL) << 40) |
      ((d(3) & 0xFFL) << 32) | ((d(4) & 0xFFL) << 24) | ((d(5) & 0xFFL) << 16) |
      ((d(6) & 0xFFL) << 8) | (d(7) & 0xFFL)) >>> 4

  def compute(s: UTF8String): Long = {
    val md = digest()
    md.update(s.getBytes)
    top60(md.digest())
  }
}

/** `md5_long60(s)`: 60-bit md5 prefix of a string as a long.
  * Bit-identical to `conv(substring(md5(s), 1, 15), 16, 10)
  * .cast("long")` — oracle-checked queries can swap freely.
  */
case class Md5Long60(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = LongType

  override protected def nullSafeEval(s: Any): Any =
    Md5Long60.compute(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.plans.Md5Long60.compute($s)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(newChild)
}

/** `shingle_hash60(tokens, width, modulus)`: fused word-shingling +
  * md5 hashing. For a token array of n elements it emits
  * `max(n - width + 1, 1)` longs, element i being the 60-bit md5
  * prefix (mod `modulus`, skipped when `modulus <= 0`) of the
  * space-joined window `tokens[i ... i+width-1]` — null / out-of-range
  * tokens skipped exactly like `concat_ws`.
  *
  * Bit-identical to the composed Column chain
  * `transform(shingles3(toks), s => conv(substring(md5(s), 1, 15), 16,
  * 10).cast("long") % modulus)` (TextFunctions.shingles3 +
  * Dedup.shingleHashes), which the DuckDB oracle mirrors — so the
  * oracle contract is unchanged.
  *
  * Why it exists: the composed form materializes every shingle as a
  * fresh UTF8String (concat_ws per window), hex-encodes each digest to
  * a 32-char string, substrings it, and radix-parses it back — per
  * shingle, per row, with a new MessageDigest per call. This is one
  * primitive loop feeding digest bytes directly, the dominant cost of
  * the MinHash pipeline (SURVEY.md §4 "custom Expression beats UDF"
  * path).
  */
case class ShingleHash60(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(StringType), IntegerType, LongType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override protected def nullSafeEval(toks: Any, width: Any, modulus: Any): Any =
    ShingleHash60.compute(toks.asInstanceOf[ArrayData],
      width.asInstanceOf[Int], modulus.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, w, m) =>
      s"${ev.value} = graft.plans.ShingleHash60.compute($t, $w, $m);")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(newFirst, newSecond, newThird)
}

object ShingleHash60 {
  private val Space = ' '.toByte

  def compute(toks: ArrayData, width: Int, modulus: Long): ArrayData = {
    val n = toks.numElements()
    val m = math.max(n - (width - 1), 1)
    val out = new Array[Long](m)
    var i = 0
    while (i < m) {
      val md = Md5Long60.digest()
      var wrote = false
      var j = 0
      while (j < width) {
        val idx = i + j
        if (idx < n && !toks.isNullAt(idx)) {
          if (wrote) md.update(Space)
          md.update(toks.getUTF8String(idx).getBytes)
          wrote = true
        }
        j += 1
      }
      val v = Md5Long60.top60(md.digest())
      out(i) = if (modulus > 0) v % modulus else v
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** `int_minhash(baseHashes, k)`: the k-salt integer MinHash signature
  * in ONE pass over the base-hash array. Element i is
  * `min_h ((h · a_i + b_i) mod P)` with the
  * [[graft.operators.Dedup]] salt schedule a_i = 2i + 3,
  * b_i = 104729 · (i + 1), P = 1000000007 — bit-identical to the
  * composed `array(array_min(transform(bh, h -> (h·a+b) % P)), …)`
  * form (h < P and a ≤ 2k+1+3 keep h·a+b ≪ 2⁶³: the Long arithmetic
  * is exact in both), so the DuckDB oracle fragments
  * ([[graft.operators.Dedup.intMinhashSql]]) are unchanged. The
  * composed form materializes k transformed arrays per row and
  * evaluates k interpreted lambda trees; this is one primitive loop.
  */
case class IntMinhash(child: Expression, k: Int)
    extends UnaryExpression with ExpectsInputTypes {

  // containsNull mirrors the composed form: array_min over an empty
  // (or all-null) base array is null — can't happen off shingle_hash60
  // (≥ 1 element always), but the corner keeps strict parity
  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = true)

  override protected def nullSafeEval(bh: Any): Any =
    IntMinhash.compute(bh.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b =>
      s"${ev.value} = graft.plans.IntMinhash.compute($b, $k);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object IntMinhash {
  private val P = 1000000007L

  def compute(bh: ArrayData, k: Int): ArrayData = {
    val n = bh.numElements()
    val out = new Array[Long](k)
    java.util.Arrays.fill(out, Long.MaxValue)
    var any = false
    var j = 0
    while (j < n) {
      if (!bh.isNullAt(j)) {
        any = true
        val h = bh.getLong(j)
        var i = 0
        while (i < k) {
          val v = (h * (2L * i + 3L) + 104729L * (i + 1)) % P
          if (v < out(i)) out(i) = v
          i += 1
        }
      }
      j += 1
    }
    if (!any) // array_min over empty/all-null input is null per salt
      new GenericArrayData(Array.fill[Any](k)(null))
    else new GenericArrayData(out)
  }
}

/** `span_hashes(tokens, width, stride, p, s)`: fused sliding-window
  * span hashing for the Lee et al. span-dedup family. For a token
  * array of n elements it emits one struct per FULL `width`-token
  * window starting at 1-based positions 1, 1+stride, 2·stride+1, …
  * (nothing when n < width):
  *
  *   `start` — the window's 1-based token offset;
  *   `h1`    — the value of `conv(substring(md5(span), 1, p), 16, 10)`
  *             (the first p hex nibbles of the digest);
  *   `h2`    — the value of `conv(substring(md5(span), 18, s), 16, 10)`
  *             (s nibbles from hex position 18 — the removal pass's
  *             independent second key);
  *
  * where span = the window's tokens joined by one space exactly like
  * `concat_ws(" ", slice(toks, start, width))` (null tokens skipped).
  * Bit-identical to the composed explode(sequence) → slice → concat_ws
  * → md5 → conv(substring) chain it replaces — the DuckDB oracle
  * fragments are unchanged — but with no per-span string
  * materialization, no hex encode / radix parse, and one MessageDigest
  * per thread ([[ShingleHash60]]'s rationale at stride-1 span-dedup
  * volume: one md5 per token position over the whole corpus).
  */
case class SpanHashes(child: Expression, width: Int, stride: Int,
                      p: Int, s: Int)
    extends UnaryExpression with ExpectsInputTypes {

  // a 16-byte digest holds 32 nibbles and a 60-bit key 15 of them; h2
  // starts at nibble 17
  require(width >= 1, s"span_hashes: width must be >= 1, got $width")
  require(stride >= 1, s"span_hashes: stride must be >= 1, got $stride")
  require(p >= 1 && p <= 15, s"span_hashes: p must be in 1..15, got $p")
  require(s >= 1 && s <= 15, s"span_hashes: s must be in 1..15, got $s")

  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = SpanHashes.resultType

  override protected def nullSafeEval(toks: Any): Any =
    SpanHashes.compute(toks.asInstanceOf[ArrayData], width, stride, p, s)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.plans.SpanHashes.compute($t, $width, $stride, $p, $s);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SpanHashes {
  private val Space = ' '.toByte

  val resultType: DataType = ArrayType(StructType(Seq(
    StructField("start", LongType, nullable = false),
    StructField("h1", LongType, nullable = false),
    StructField("h2", LongType, nullable = false))), containsNull = false)

  /** Digest nibbles [from, from+count) (0-indexed hex positions) as a
    * non-negative long — the value `conv(substring(hex, from+1, count),
    * 16, 10)` yields. count ≤ 15 keeps it under 60 bits.
    */
  private def nibbles(d: Array[Byte], from: Int, count: Int): Long = {
    var acc = 0L
    var i = from
    val end = from + count
    while (i < end) {
      val b = d(i >> 1) & 0xFF
      val nib = if ((i & 1) == 0) (b >>> 4) & 0xF else b & 0xF
      acc = (acc << 4) | nib
      i += 1
    }
    acc
  }

  def compute(toks: ArrayData, width: Int, stride: Int,
              p: Int, s: Int): ArrayData = {
    val n = toks.numElements()
    if (n < width) return new GenericArrayData(Array.empty[Any])
    val m = (n - width) / stride + 1 // full windows only
    val out = new Array[Any](m)
    var w = 0
    while (w < m) {
      val i = w * stride
      val md = Md5Long60.digest()
      var wrote = false
      var j = 0
      while (j < width) {
        val idx = i + j
        if (!toks.isNullAt(idx)) {
          if (wrote) md.update(Space)
          md.update(toks.getUTF8String(idx).getBytes)
          wrote = true
        }
        j += 1
      }
      val d = md.digest()
      out(w) = org.apache.spark.sql.catalyst.InternalRow(
        (i + 1).toLong, nibbles(d, 0, p), nibbles(d, 17, s))
      w += 1
    }
    new GenericArrayData(out)
  }
}
