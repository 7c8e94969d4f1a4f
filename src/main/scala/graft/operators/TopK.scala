package graft.operators

import org.apache.spark.sql.{Column, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
import org.apache.spark.sql.expressions.{Aggregator, UserDefinedFunction}
import org.apache.spark.sql.functions.udaf
import org.apache.spark.sql.graft.ColumnBridge.{column, expression}

import graft.plans.{BoundedTopK, OrderedFoldSumLong, PhraseTf, SdmFeatures}

/** Mergeable bounded top-k aggregation — the batch paths' per-partition
  * heap ([[ProductQuantizer]]'s `ivfScan`) made STREAMING-LEGAL as a
  * typed `Aggregator`, closing the round-13 recorded boundary: the
  * window-aggregated serving streams built their top-k as
  * `slice(array_sort(collect_list(...)), 1, k)`, whose partial buffers
  * hold EVERY candidate's (dist, id) pair until the watermark closes —
  * O(nprobe × cell population) per (window, query), 51 s vs the batch
  * path's 4.1 s at the candidate-heavy 64-cell geometry (BASELINE's
  * "Streaming IVFADC serving" row). This aggregate's buffer is a
  * SORTED vector bounded at k, so map-side partials, every shuffled
  * partial, AND the streaming state row are all ≤ k entries —
  * O(window × Q × k) total, flat in candidate volume.
  *
  * Ordering is (key asc, id asc) through `java.lang.Double.compare` /
  * `Long.compare` — bit-compatible with `array_sort` over a
  * `struct(d, id)` (NaN sorts last, the round-13 total-order lesson:
  * raw `<` on doubles with NaN both violates TimSort's contract and
  * diverges from SQL semantics), so replacing the collect_list form is
  * output-IDENTICAL (differential-spec-pinned, and the q163 oracle
  * hash stays green).
  */
object TopK {

  /** One candidate: sort key `d` ascending, ties on `id` ascending —
    * field names match the serving streams' struct so downstream
    * `posexplode` selects (`t.d`, `t.id`) are unchanged.
    */
  final case class Cand(d: Double, id: Long)

  private val ord: Ordering[Cand] = new Ordering[Cand] {
    def compare(a: Cand, b: Cand): Int = {
      val c = java.lang.Double.compare(a.d, b.d)
      if (c != 0) c else java.lang.Long.compare(a.id, b.id)
    }
  }

  /** Keeps the k smallest candidates; buffer sorted ascending and
    * bounded at k at EVERY step (reduce and merge both clamp), which is
    * the whole point — the bound is on the partials, not just the
    * final value.
    */
  final class TopKAgg(k: Int)
      extends Aggregator[Cand, Seq[Cand], Seq[Cand]] {
    require(k >= 1, s"k must be >= 1: $k")

    def zero: Seq[Cand] = Vector.empty

    def reduce(buf: Seq[Cand], c: Cand): Seq[Cand] = {
      if (buf.length == k && ord.compare(c, buf.last) >= 0) buf
      else {
        val idx = buf.indexWhere(b => ord.compare(c, b) < 0) match {
          case -1 => buf.length
          case i => i
        }
        val grown = (buf.take(idx) :+ c) ++ buf.drop(idx)
        if (grown.length > k) grown.take(k) else grown
      }
    }

    def merge(a: Seq[Cand], b: Seq[Cand]): Seq[Cand] = {
      val out = Vector.newBuilder[Cand]
      var i = 0
      var j = 0
      var n = 0
      while (n < k && (i < a.length || j < b.length)) {
        val takeA = j >= b.length ||
          (i < a.length && ord.compare(a(i), b(j)) <= 0)
        if (takeA) { out += a(i); i += 1 } else { out += b(j); j += 1 }
        n += 1
      }
      out.result()
    }

    def finish(buf: Seq[Cand]): Seq[Cand] = buf

    def bufferEncoder: Encoder[Seq[Cand]] = ExpressionEncoder[Seq[Cand]]()
    def outputEncoder: Encoder[Seq[Cand]] = ExpressionEncoder[Seq[Cand]]()
  }

  /** The aggregate as a Column function: `topK(k)(dCol, idCol)` returns
    * `array<struct<d double, id bigint>>` sorted ascending, length ≤ k.
    */
  def topK(k: Int): UserDefinedFunction =
    udaf(new TopKAgg(k), ExpressionEncoder[Cand]())

  /** The NATIVE form ([[graft.plans.BoundedTopK]]) — same total order,
    * same bounded partials, same output array bit for bit
    * (differential-spec-pinned), but the per-candidate update is a
    * primitive compare/insert instead of an encoder round-trip + Cand
    * allocation + Vector copy. Use this on candidate-volume hot paths.
    */
  def topKNative(k: Int, d: Column, id: Column): Column =
    agg(BoundedTopK(k, expression(d), expression(id)))

  /** Native key-ordered float fold with a BIGINT key
    * ([[graft.plans.OrderedFoldSumLong]]): sums `contrib` in
    * key-ascending order from +0.0 — bit-identical to
    * `aggregate(sort_array(collect_list(struct(key, ...))), 0.0,
    * acc + contrib)` when the key is unique per group, in one
    * aggregate with no per-group array column.
    */
  def orderedFoldSumLong(key: Column, contrib: Column): Column =
    agg(OrderedFoldSumLong(expression(key), expression(contrib)))

  /** Native SDM candidate fold ([[graft.plans.SdmFeatures]]): per
    * (query, doc) group, the j-asc unigram contribution sum plus the
    * ordered/windowed co-occurrence pair counts for every adjacent
    * query position — result-identical to the
    * `sort_array(collect_list(...))` → interpreted fold → per-pair
    * positions-probing expression chain in one aggregate.
    */
  def sdmFeatures(j: Column, contrib: Column, positions: Column, m: Column,
                  window: Int): Column =
    agg(SdmFeatures(expression(j), expression(contrib),
      expression(positions), expression(m), window))

  /** Native phrase anchor count ([[graft.plans.PhraseTf]]): per
    * (query, doc) group, the number of j = 1 positions every matched
    * phrase-position entry confirms at offset j − 1 (0 when any of the
    * m phrase positions is unmatched) — result-identical to the
    * `collect_list` → completeness filter → flatten/forall/
    * array_contains expression pipeline in one aggregate, no per-group
    * struct-array column.
    */
  def phraseTf(j: Column, positions: Column, m: Column): Column =
    agg(PhraseTf(expression(j), expression(positions), expression(m)))

  private def agg(f: AggregateFunction): Column = column(f.toAggregateExpression())
}
