package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.TopK

/** Streaming hybrid retrieval — ONE query stream served by BOTH
  * maintained tiers and fused per-window: the lexical tier probes a
  * static BM25 contribution store ([[StreamingLexical.bm25Stream]]'s
  * join + term-ordered fold + bounded top-k) and the dense tier probes
  * a static IVF cell index ([[StreamingSimilarity.ivfStream]]'s
  * centroid-literal probe + bounded top-k); the two ranked lists union
  * and fold into reciprocal-rank-fusion scores (Cormack & Clarke
  * SIGIR'09 — the batch [[graft.operators.Lexical.rrfFuse]] semantics)
  * inside the SAME streaming query, window by window. Batch fusion of
  * the tiers' batch twins is the claim: stream ≡ batch, bit for bit.
  *
  * Shape: both tier branches read the one query stream (each tokenizes
  * / probes scan-locally and stream-static joins its own static side —
  * neither corpus ever streams), end in their bounded [[TopK]] windowed
  * aggregates, and emit ranked rows that keep the WINDOW STRUCT so the
  * fusion stage can legally chain two more windowed aggregations on the
  * same event time (Spark's multi-stateful-operator append chaining):
  * per-(window, query, doc) the RRF fold — contributions sort by tier
  * index then fold in order, the batch determinism device, so the float
  * sum replays exactly — then the per-(window, query) bounded top-k.
  * Everything after the tier top-ks is QUERY-SIZED (≤ 2·Q·kTier rows
  * per window): fusion state is kilobytes no matter the corpus.
  *
  * DETERMINISM: tier scores/ranks are their batch twins bit for bit
  * (q176 / q113 pin those claims); the RRF fold is position-pinned and
  * rounds to 9 like [[graft.operators.Lexical.rrfFuse]]; ranks order by
  * the rounded score with a doc-id tiebreak via the [[TopK]] heap.
  *
  * `statePartitions` sizes the stream's state partition count to the
  * state — BOTH static sides must be persisted, and both materialize
  * under the wide conf BEFORE it narrows ([[StatePartitions.pinAll]]).
  *
  * Output (append changelog): `window_ns, q_id, doc_id, rrf, rank`.
  */
object StreamingHybrid {

  /** @param queries  streaming frame carrying `qIdCol` (long),
    *                 `qTextCol` (string), `qVecCol` (array&lt;float&gt;),
    *                 `tsCol` (epoch-ns long)
    * @param store    static BM25 contribution store
    *                 ([[graft.operators.Lexical.bm25Store]] layout)
    * @param index    static IVF cell index
    * @param kTier    per-tier top-k feeding the fusion (rank depth)
    * @param k        fused top-k emitted per query
    * @param c        RRF constant (score(d) = Σ 1/(c + rank))
    */
  def rrfStream(queries: DataFrame, store: DataFrame,
                index: StreamingSimilarity.IvfIndex,
                qIdCol: String, qTextCol: String, qVecCol: String,
                tsCol: String, nProbe: Int, kTier: Int, k: Int,
                c: Int = 60,
                watermark: String = "10 seconds",
                windowDur: String = "6 hours",
                statePartitions: Option[Int] = None,
                maxQueriesPerTrigger: Option[Int] = None,
                truncated: Option[DataFrame] = None): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(kTier >= 1, s"kTier must be >= 1: $kTier")
    statePartitions.foreach(n =>
      StatePartitions.pinAll(Seq(store, index.cells) ++ truncated, n))
    // ONE admission gate feeds both tiers, so a window's lexical and
    // dense lists always see the same admitted query set
    val q = maxQueriesPerTrigger match {
      case Some(n) => AdmissionGate.perTrigger(queries, n,
        qIdCol, qTextCol, tsCol, vecCol = Some(qVecCol))
      case None => queries
    }
    // `truncated` switches the lexical tier to MaxScore-pruned serving
    // (bit-identical rows, per-trigger state Σ_essential df) — the
    // pruned tier is how the 10³-queries/trigger geometry that OOM'd
    // the unpruned fold serves inside one trigger
    val lexRanked = truncated match {
      case Some(t) => StreamingLexical.bm25MaxScoreRankedW(q, store, t,
        qIdCol, qTextCol, tsCol, kTier, watermark, windowDur)
      case None => StreamingLexical.bm25RankedW(q, store,
        qIdCol, qTextCol, tsCol, kTier, watermark, windowDur, None)
    }
    val lex = lexRanked
      .select(col("w"), col("q_id"), col("doc_id"),
        lit(0).as("src"), col("rank").cast("long").as("r"))
    val den = StreamingSimilarity.ivfRankedW(q, index,
        qIdCol, qVecCol, tsCol, nProbe, kTier, watermark, windowDur, None)
      .select(col("w"), col("q_id"), col("neighbor_id").as("doc_id"),
        lit(1).as("src"), col("rank").cast("long").as("r"))
    val fused = lex.unionByName(den)
      .groupBy(col("w").as("w2"),
        col("q_id"), col("doc_id"))
      .agg(sort_array(collect_list(struct(col("src"),
        (lit(1.0) / (lit(c).cast("double") + col("r").cast("double")))
          .as("contrib")))).as("cs"))
      .withColumn("rrf",
        round(aggregate(col("cs"), lit(0.0),
          (acc, x) => acc + x.getField("contrib")), 9))
    fused
      .groupBy(col("w2").as("w3"), col("q_id"))
      .agg(TopK.topKNative(k, negate(col("rrf")), col("doc_id")).as("top"))
      .select(col("w3"), col("q_id"),
        posexplode(col("top")).as(Seq("pos", "t")))
      .select(expr("unix_micros(w3.start) * 1000").as("window_ns"),
        col("q_id"), col("t.id").as("doc_id"),
        negate(col("t.d")).as("rrf"),
        (col("pos") + 1).cast("int").as("rank"))
  }

  /** Score-space streaming fusion — the [[graft.operators.Lexical.combFuse]]
    * semantics (Fox & Shaw SIGIR'94 CombSUM / CombMNZ with Lee SIGIR'97
    * min–max normalization) on the same two live tiers. Rank windows
    * don't exist on streams, so the per-(tier, query, window) min–max
    * derives from ONE more windowed aggregation: each tier's ranked
    * rows collect into a ≤ kTier array per (window, query, tier), the
    * extrema read off the array scan-locally, and the normalized rows
    * explode back out — bit-identical to the batch window form (same
    * extrema, same one fixed-order rational normalization per row).
    * The fold and top-k then mirror [[rrfStream]]. State stays
    * query-sized: ≤ kTier entries per (window, query, tier) in the
    * collect stage, ≤ k after.
    *
    * Output (append changelog): `window_ns, q_id, doc_id, comb, rank`.
    */
  def combStream(queries: DataFrame, store: DataFrame,
                 index: StreamingSimilarity.IvfIndex,
                 qIdCol: String, qTextCol: String, qVecCol: String,
                 tsCol: String, nProbe: Int, kTier: Int, k: Int,
                 mnz: Boolean = false,
                 watermark: String = "10 seconds",
                 windowDur: String = "6 hours",
                 statePartitions: Option[Int] = None,
                 maxQueriesPerTrigger: Option[Int] = None): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(kTier >= 1, s"kTier must be >= 1: $kTier")
    statePartitions.foreach(n =>
      StatePartitions.pinAll(Seq(store, index.cells), n))
    val q = maxQueriesPerTrigger match {
      case Some(n) => AdmissionGate.perTrigger(queries, n,
        qIdCol, qTextCol, tsCol, vecCol = Some(qVecCol))
      case None => queries
    }
    val lex = StreamingLexical.bm25RankedW(q, store,
        qIdCol, qTextCol, tsCol, kTier, watermark, windowDur, None)
      .select(col("w"), col("q_id"), col("doc_id"),
        lit(0).as("src"), col("score").cast("double").as("s"))
    val den = StreamingSimilarity.ivfRankedW(q, index,
        qIdCol, qVecCol, tsCol, nProbe, kTier, watermark, windowDur, None)
      .select(col("w"), col("q_id"), col("neighbor_id").as("doc_id"),
        lit(1).as("src"), col("cosine").cast("double").as("s"))
    val normed = lex.unionByName(den)
      .groupBy(col("w").as("w2"),
        col("q_id"), col("src"))
      .agg(collect_list(struct(col("doc_id"), col("s"))).as("rs"))
      .withColumn("mn", array_min(transform(col("rs"), r => r.getField("s"))))
      .withColumn("mx", array_max(transform(col("rs"), r => r.getField("s"))))
      .select(col("w2"), col("q_id"), col("src"), col("mn"), col("mx"),
        explode(col("rs")).as("r"))
      .select(col("w2"), col("q_id"), col("src"),
        col("r.doc_id").as("doc_id"),
        when(col("mx") === col("mn"), lit(1.0))
          .otherwise((col("r.s") - col("mn")) / (col("mx") - col("mn")))
          .as("norm"))
    val fused = normed
      .groupBy(col("w2").as("w3"),
        col("q_id"), col("doc_id"))
      .agg(sort_array(collect_list(struct(col("src"), col("norm"))))
        .as("cs"))
      .withColumn("fsum",
        aggregate(col("cs"), lit(0.0),
          (acc, x) => acc + x.getField("norm")))
      .withColumn("comb",
        round(if (mnz) col("fsum") * size(col("cs")).cast("double")
              else col("fsum"), 6))
    fused
      .groupBy(col("w3").as("w4"), col("q_id"))
      .agg(TopK.topKNative(k, negate(col("comb")), col("doc_id")).as("top"))
      .select(col("w4"), col("q_id"),
        posexplode(col("top")).as(Seq("pos", "t")))
      .select(expr("unix_micros(w4.start) * 1000").as("window_ns"),
        col("q_id"), col("t.id").as("doc_id"),
        negate(col("t.d")).as("comb"),
        (col("pos") + 1).cast("int").as("rank"))
  }
}
