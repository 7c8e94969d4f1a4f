package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.operators.Dedup

/** Streaming benchmark decontamination — the continuous-ingestion
  * complement of [[graft.operators.Contamination.contaminatedDocs]]:
  * training documents arriving on a stream are checked for word-n-gram
  * overlap against a STATIC evaluation corpus as they arrive, instead
  * of waiting for the nightly batch sweep (the shape a training-data
  * pipeline actually wants: quarantine leaked eval text before it
  * reaches a shard).
  *
  * Same scale decomposition as the batch operator: the eval corpus is
  * tiny next to the stream (thousands of docs vs billions), so its
  * distinct shingle-hash set broadcasts to every micro-batch; the
  * arriving docs explode scan-locally and broadcast-hash-join — the
  * stream is never repartitioned for the probe. The per-doc overlap
  * count is a watermarked tumbling-window agg, so the only state is
  * one (window × doc) counter per CONTAMINATED doc plus the doc-id
  * dedup — O(1) bytes each, watermark-evicted.
  */
object StreamingContamination {

  /** The static side, computed once: the eval corpus's distinct
    * `width`-gram shingle hashes (the same fused `shingle_hash60`
    * family the batch operator and the DuckDB oracle derive). Callers
    * persist before serving so the broadcast rebuilds from cache, not
    * from a re-scan, each trigger.
    */
  def evalShingles(eval: DataFrame, textCol: String,
                   width: Int = 3): DataFrame = {
    eval.select(explode(array_distinct(Dedup.tokenShingleHashes(
      TextFunctions.tokens(col(textCol)), width))).as("h")).distinct()
  }

  /** Append-mode contamination stream: each arriving training doc
    * emits `(window_ns, doc_id, n_shared)` when the watermark closes
    * its window, where n_shared counts DISTINCT shingle hashes shared
    * with the eval corpus — batch `contaminatedDocs` semantics,
    * window-stamped. Clean docs never appear (filter semantics), and
    * re-delivered doc ids inside the watermark dedup before probing.
    *
    * `evalHashes` must be the [[evalShingles]] shape.
    */
  def contaminatedStream(train: DataFrame, evalHashes: DataFrame,
                         textCol: String, idCol: String, tsCol: String,
                         width: Int = 3, watermark: String = "10 seconds",
                         windowDur: String = "6 hours"): DataFrame = {
    train
      .select(col(idCol).cast("long").as("doc_id"),
        col(textCol).as("_text"),
        timestamp_micros(expr(s"$tsCol div 1000")).as("_ts"))
      .withWatermark("_ts", watermark)
      .dropDuplicatesWithinWatermark("doc_id")
      .select(col("doc_id"), col("_ts"),
        explode(array_distinct(Dedup.tokenShingleHashes(
          TextFunctions.tokens(col("_text")), width))).as("h"))
      .join(broadcast(evalHashes), "h")
      .groupBy(window(col("_ts"), windowDur).as("w"), col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))
      .select(expr("unix_micros(w.start) * 1000").as("window_ns"),
        col("doc_id"), col("n_shared"))
  }
}
