package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge.{column, expression}

import graft.plans.{ProbeBuckets, VecDot, VecL2}

/** Embedding-vector primitives over `array<float>` columns, written as
  * higher-order Column expressions (`zip_with`/`aggregate`) so they run
  * inside codegen with zero UDF/serialization cost.
  *
  * Floats are widened to double BEFORE multiplication and accumulated
  * left-to-right — deterministic and engine-portable (matches a
  * sequential C++ accumulator bit-for-bit, which the oracle relies on).
  */
object VectorFunctions {

  /** Dot product of two float-array columns, double accumulation. */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  /** Bit-identical native form of [[dot]]: one fused primitive loop
    * (no intermediate products array), codegen'd via the custom
    * `graft.plans.VecDot` expression; prefer it on pairwise hot loops
    * at scale.
    */
  def dotNative(a: Column, b: Column): Column =
    column(VecDot(expression(a), expression(b)))

  /** Native squared-L2 distance (one fused primitive loop, codegen'd
    * via `graft.plans.VecL2`) — the `adcTable`/`probeCells` fold as a
    * Column, for distance-ranked serving plans.
    */
  def l2Native(a: Column, b: Column): Column =
    column(VecL2(expression(a), expression(b)))

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity: dot / (|a|·|b|), op order fixed. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Cosine from precomputed norms: dot(a,b) / (na·nb). Bit-identical
    * to [[cosine]] when na/nb are [[norm]] of the same vectors (same
    * FP ops in the same order) — but the norms hoist out of a pairwise
    * join, turning 3 array traversals per PAIR into 1 per pair + 1 per
    * ROW. In an |Q|·N candidate loop that's ~3× less hot-path work.
    */
  def cosineWithNorms(a: Column, b: Column, na: Column, nb: Column): Column =
    dot(a, b) / (na * nb)

  /** [[norm]] on the fused native dot — same double, one primitive loop. */
  def normNative(a: Column): Column = sqrt(dotNative(a, a))

  /** [[cosineWithNorms]] on the fused native dot. Bit-identical. */
  def cosineWithNormsNative(a: Column, b: Column, na: Column, nb: Column): Column =
    dotNative(a, b) / (na * nb)

  /** Sign-pattern LSH bucket over the first `bits` dimensions: the
    * cheapest hyperplane family (axis-aligned). At scale the bucket is
    * the shuffle/partition key, so ANN probes touch only one bucket.
    */
  def signBucket(a: Column, bits: Int): Column =
    // unrolled (bits is a plan-time Int), NOT a transform(sequence…)
    // lambda: a lambda-bearing expression used as a JOIN KEY trips
    // Spark's self-join relation dedup on parquet-backed frames when
    // the other side carries a Generate (ATTRIBUTE_NOT_FOUND at bind
    // time — bisected in round 8); the unrolled concat is the same
    // string bit for bit and codegens just as well
    concat((1 to bits).map(i =>
      when(try_element_at(a, lit(i)) > 0, "1").otherwise("0")): _*)

  /** Multi-probe bucket set for [[signBucket]]'s hash family
    * (Lv et al., "Multi-probe LSH", VLDB 2007): the vector's own
    * bucket plus the `nProbe − 1` Hamming-1 neighbors flipped at the
    * dims with the SMALLEST |a[d]| — the hyperplanes the vector sits
    * closest to, i.e. the flips most likely to recover a near
    * neighbor bucketed just across one boundary. Deterministic order
    * (|a[d]| asc, dim asc on ties), so an oracle derives the same
    * probe set. Probes are distinct buckets, so a corpus row can
    * match at most one probe — no candidate dedup needed downstream.
    */
  def probeBuckets(a: Column, bits: Int, nProbe: Int): Column =
    // native kernel (graft.plans.ProbeBuckets) — the unrolled Column
    // form below builds an O(bits·nProbe) concat/when/substr tree
    // whose generated code trips a janino compile error inside
    // whole-stage codegen (every multi-probe stage silently fell back
    // to interpreted eval after ~96 logged attempts) and was
    // planning-bound at large nProbe. Value-identical (spec-pinned
    // differentially against probeBucketsColumnForm).
    column(ProbeBuckets(expression(a), Literal(bits), Literal(nProbe)))

  /** The original composed-Column derivation, kept as the differential
    * reference for the native kernel (and the shape the q118 oracle
    * was written against).
    */
  private[graft] def probeBucketsColumnForm(a: Column, bits: Int,
                                            nProbe: Int): Column = {
    val b = signBucket(a, bits)
    def flip(i: Column): Column = concat(
      b.substr(lit(1), i - 1),
      when(b.substr(i, lit(1)) === "1", "0").otherwise("1"),
      b.substr(i + 1, lit(bits)))
    if (nProbe <= 1) array(b)
    else {
      // nProbe is a plan-time Int, so the flips UNROLL instead of
      // riding a `transform` lambda: capturing the outer bucket
      // column inside a lambda trips Spark's self-join attribute
      // dedup on parquet-backed frames (the captured reference
      // escapes the rewrite → ATTRIBUTE_NOT_FOUND at bind time)
      val sorted = array_sort(transform(sequence(lit(1), lit(bits)),
        i => struct(abs(try_element_at(a, i).cast("double")).as("a"),
          i.as("i"))))
      array((b +: (1 until nProbe).map(j =>
        flip(element_at(sorted, lit(j)).getField("i")))): _*)
    }
  }
}
