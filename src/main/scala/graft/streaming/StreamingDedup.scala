package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Streaming corpus dedup — the continuous-ingestion complement of the
  * batch [[graft.operators.Dedup]] family: documents arriving on a
  * stream are dropped if a document with the same canonical
  * fingerprint was already seen within the watermark horizon.
  *
  * State is keyed by the 32-hex fingerprint only (not the text), so
  * per-key state is O(1) bytes and the watermark bounds total state —
  * the two properties that keep exactly-this-job running for months on
  * a 1000-executor cluster. Exact-dup only: near-dup (MinHash) needs
  * cross-key candidate generation, which is a batch join shape, not
  * per-key streaming state — run it as a periodic batch sweep over the
  * deduped sink instead.
  */
object StreamingDedup {

  /** Append-mode dedup stream: first arrival of each fingerprint within
    * the watermark passes through, later copies drop. `tsCol` is an
    * epoch-ns long event-time column.
    */
  def dedupStream(stream: DataFrame, textCol: String, tsCol: String,
                  watermark: String): DataFrame =
    stream
      .withColumn("fp", TextFunctions.fingerprint(col(textCol)))
      .withColumn("_ts", timestamp_micros(expr(s"$tsCol div 1000")))
      .withWatermark("_ts", watermark)
      .dropDuplicatesWithinWatermark("fp")
      .drop("_ts", "fp") // output schema = input schema

  /** Streaming exact-substring duplicate DETECTION — the continuous
    * complement of [[graft.operators.Dedup.duplicateSpans]] (Lee et
    * al. 2022), same span-key convention: width-token windows every
    * `stride` tokens, 60-bit md5 span hash, count DISTINCT documents
    * per span. A span crossing `minDocs` within a time window is
    * verbatim text repeating across the incoming corpus — boilerplate
    * detection that keeps up with ingestion instead of waiting for the
    * nightly batch sweep.
    *
    * Built from two DECLARATIVE stateful stages (a documented-
    * supported chain, no custom state function):
    *
    *   1. `dropDuplicatesWithinWatermark(span_h, doc)` — the
    *      accepted-(span, doc) state; per-key state is O(1) bytes and
    *      the watermark expires it, so a mega-duplicated span costs
    *      one state row per DOCUMENT, never an unbounded per-key set;
    *   2. a watermarked tumbling-window count per span — append mode
    *      emits each window's final (span, n_docs) once the watermark
    *      passes, and window state is likewise bounded.
    *
    * Output (append changelog): window_ns, span_h, n_docs for spans
    * with `n_docs >= minDocs` — q82 replays the oracle corpus through
    * a file source and hash-matches the batch q79 detection set.
    *
    * Semantics note: counts are per (window × span), so "duplicated"
    * means "repeated within `windowDur`" — the horizon-bounded meaning
    * any infinite-stream dedup must adopt (the batch operator's global
    * count is the windowDur → ∞ limit).
    */
  def duplicateSpanStream(stream: DataFrame, textCol: String, idCol: String,
                          tsCol: String, width: Int, stride: Int,
                          minDocs: Long, watermark: String,
                          windowDur: String): DataFrame = {
    stream
      .withColumn("toks", TextFunctions.tokens(col(textCol)))
      .filter(size(col("toks")) >= width)
      // fused span hashing (round 17) — bit-identical keys to the
      // batch operator, same oracle fragments; secondary width 1
      // (round 18): only h1 is consumed, h1 unaffected
      .select(col(idCol).as("doc_id"), col(tsCol).as("_tsns"),
        explode(TextFunctions.spanHashes(col("toks"), width, stride, 15, 1))
          .as("sp"))
      .select(col("doc_id"), col("sp.h1").as("span_h"),
        timestamp_micros(expr("_tsns div 1000")).as("_ts"))
      .withWatermark("_ts", watermark)
      .dropDuplicatesWithinWatermark("span_h", "doc_id")
      .groupBy(window(col("_ts"), windowDur).as("w"), col("span_h"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .select(expr("unix_micros(w.start) * 1000").as("window_ns"),
        col("span_h"), col("n_docs"))
  }

  /** Streaming MinHash-LSH near-duplicate candidate pairs — the
    * continuous complement of the batch MinHash pipeline (q26: same
    * fused shingle-hash, same integer MinHash signature, same banded
    * bucket hash — bit-identical values, so the batch DuckDB oracle
    * fragments verify the stream too).
    *
    * Declarative stateful chain, all state watermark-bounded:
    *
    *   1. stateless per-doc signature + band/bucket explode (one row
    *      per doc per band, [[graft.operators.Dedup.lshBuckets]] with
    *      the event time carried through);
    *   2. `dropDuplicatesWithinWatermark(band, bucket, doc_id)` —
    *      re-delivered docs don't double-join; O(1) bytes per key;
    *   3. a watermarked tumbling-window `collect_list` per (band,
    *      bucket) with in-group pair expansion — the batch
    *      `candidatePairs` shape keyed by window. A bucket's state row
    *      grows with its membership, exactly like the batch group —
    *      a bucket hot enough to matter is a degenerate hash worth
    *      surfacing, not silently grinding through;
    *   4. `dropDuplicatesWithinWatermark(w, a, b)` — a pair found by
    *      several bands emits once per window (the batch `.distinct()`).
    *
    * Output (append changelog): `window_ns, a, b` distinct candidate
    * pairs per tumbling window, emitted when the watermark closes the
    * window. "Near-duplicate" therefore means "co-bucketed within
    * `windowDur`" — the horizon-bounded meaning any infinite-stream
    * near-dup must adopt (the batch operator's global pair set is the
    * windowDur → ∞ limit). q88 replays the q26 corpus through a file
    * source and hash-matches the batch oracle's pair set.
    */
  def nearDupStream(stream: DataFrame, textCol: String, idCol: String,
                    tsCol: String, k: Int = 8, bands: Int = 4,
                    rowsPerBand: Int = 2, watermark: String = "10 seconds",
                    windowDur: String = "6 hours"): DataFrame = {
    import graft.operators.Dedup
    val sigs = stream
      .withColumn("toks", TextFunctions.tokens(col(textCol)))
      .select(col(idCol).as("doc_id"),
        Dedup.intMinhashSignature(
          Dedup.tokenShingleHashes(col("toks")), k).as("sig"),
        timestamp_micros(expr(s"$tsCol div 1000")).as("_ts"))
    Dedup.lshBuckets(sigs, "sig", "doc_id", bands, rowsPerBand,
        carry = Seq("_ts"))
      .withWatermark("_ts", watermark)
      .dropDuplicatesWithinWatermark("band", "bucket", "doc_id")
      .groupBy(window(col("_ts"), windowDur).as("w"),
        col("band"), col("bucket"))
      .agg(array_sort(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(col("w"), explode(flatten(transform(col("ids"), (x, i) =>
        transform(slice(col("ids"), i + 2, size(col("ids"))),
          y => struct(x.as("a"), y.as("b")))))).as("p"))
      .select(col("w"), col("p.a").as("a"), col("p.b").as("b"))
      .dropDuplicatesWithinWatermark("w", "a", "b")
      .select(expr("unix_micros(w.start) * 1000").as("window_ns"),
        col("a"), col("b"))
  }

  /** Streaming perceptual-hash image near-dup — the live counterpart
    * of [[graft.multimodal.Multimodal.imageNearDupPairs]] (q104), in
    * [[nearDupStream]]'s windowed-changelog shape: payloads decode and
    * dHash partition-locally as they arrive (undecodable rows dropped,
    * as in the batch operator), signatures band into (band, bucket)
    * keys, and a watermarked tumbling-window `collect_list` per bucket
    * expands in-group pairs with the exact Hamming refine. With
    * `maxHamming < bands` the pigeonhole recall guarantee holds WITHIN
    * a window; cross-window near-dups are outside the horizon, the
    * meaning any infinite-stream near-dup must adopt. State rows are
    * (band, bucket, window) group buffers — window-volume-bounded and
    * watermark-evicted, the same profile [[nearDupStream]] measures in
    * BASELINE.md.
    *
    * Output (append changelog): `window_ns, a, b, hamming` with a < b,
    * emitted when the watermark closes the window — the batch q104
    * pair set, window-stamped, for rows within one window.
    */
  def imageNearDupStream(stream: DataFrame, idCol: String,
                         payloadCol: String, tsCol: String,
                         maxHamming: Int = 3, bands: Int = 4,
                         bandBits: Int = 16,
                         watermark: String = "10 seconds",
                         windowDur: String = "6 hours"): DataFrame = {
    val spark = stream.sparkSession
    import spark.implicits._
    val hashed = stream.select(col(idCol).cast("long").as("doc_id"),
        col(payloadCol).as("payload"),
        timestamp_micros(expr(s"$tsCol div 1000")).as("_ts"))
      .as[(Long, Array[Byte], java.sql.Timestamp)]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.flatMap { case (id, p, ts) =>
          val img = try {
            javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(p))
          } catch { case _: java.io.IOException => null }
          if (img == null) None
          else Some((id, graft.multimodal.Multimodal.dHash(img), ts))
        }
      }.toDF("doc_id", "sig", "_ts")
    bandedSigPairStream(hashed, maxHamming, bands, bandBits,
      watermark, windowDur)
  }

  /** The shared banded-Hamming windowed pair stage behind
    * [[imageNearDupStream]] and [[audioNearDupStream]]: input is an
    * already-hashed stream (`doc_id` long, `sig` 64-bit signature,
    * `_ts` event-time timestamp); output is the windowed changelog of
    * within-threshold pairs. One topology for every 64-bit signature
    * family — the streaming mirror of the batch
    * [[graft.operators.Dedup.simhashPairs]] reuse.
    */
  private[graft] def bandedSigPairStream(hashed: DataFrame, maxHamming: Int,
                                         bands: Int, bandBits: Int,
                                         watermark: String,
                                         windowDur: String): DataFrame = {
    val mask = (1L << bandBits) - 1
    hashed
      .select(col("doc_id"), col("sig"), col("_ts"),
        posexplode(array((0 until bands).map(b =>
          shiftright(col("sig"), b * bandBits).bitwiseAND(lit(mask))): _*))
          .as(Seq("band", "bucket")))
      .withWatermark("_ts", watermark)
      .dropDuplicatesWithinWatermark("band", "bucket", "doc_id")
      .groupBy(window(col("_ts"), windowDur).as("w"),
        col("band"), col("bucket"))
      .agg(array_sort(collect_list(struct(col("doc_id").as("id"),
        col("sig").as("h")))).as("m"))
      .filter(size(col("m")) > 1)
      .select(col("w"), explode(flatten(transform(col("m"), (x, i) =>
        transform(slice(col("m"), i + 2, size(col("m"))),
          y => struct(x.getField("id").as("a"), y.getField("id").as("b"),
            bit_count(x.getField("h").bitwiseXOR(y.getField("h")))
              .as("hamming")))))).as("p"))
      .select(col("w"), col("p.a").as("a"), col("p.b").as("b"),
        col("p.hamming").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicatesWithinWatermark("w", "a", "b")
      .select(expr("unix_micros(w.start) * 1000").as("window_ns"),
        col("a"), col("b"), col("hamming").cast("long").as("hamming"))
  }

  /** Streaming video near-dup — container split + per-frame decode +
    * dHash-majority fingerprint on arrival, then the shared
    * [[bandedSigPairStream]]: the FOURTH 64-bit signature family on
    * the one windowed banded pair stage (text SimHash, image dHash,
    * audio energy-gradient, video dHash-majority).
    */
  def videoNearDupStream(stream: DataFrame, idCol: String,
                         payloadCol: String, tsCol: String,
                         maxHamming: Int = 3, bands: Int = 4,
                         bandBits: Int = 16,
                         watermark: String = "10 seconds",
                         windowDur: String = "6 hours"): DataFrame = {
    val spark = stream.sparkSession
    import spark.implicits._
    val hashed = stream.select(col(idCol).cast("long").as("doc_id"),
        col(payloadCol).as("payload"),
        timestamp_micros(expr(s"$tsCol div 1000")).as("_ts"))
      .as[(Long, Array[Byte], java.sql.Timestamp)]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.flatMap { case (id, p, ts) =>
          graft.multimodal.Multimodal.decodeMotionPng(p)
            .filter(_.nonEmpty).flatMap { frames =>
              val hs = frames.map { f =>
                val img = try {
                  javax.imageio.ImageIO.read(
                    new java.io.ByteArrayInputStream(f))
                } catch { case scala.util.control.NonFatal(_) => null }
                if (img == null) null
                else java.lang.Long.valueOf(
                  graft.multimodal.Multimodal.dHash(img))
              }
              if (hs.contains(null)) None
              else Some((id, graft.multimodal.Multimodal.majorityHash(
                hs.map(_.longValue())), ts))
            }
        }
      }.toDF("doc_id", "sig", "_ts")
    bandedSigPairStream(hashed, maxHamming, bands, bandBits,
      watermark, windowDur)
  }

  /** Streaming audio fingerprint near-dup — the live counterpart of
    * [[graft.multimodal.Multimodal.audioNearDupPairs]] (q120), in the
    * same windowed-changelog shape as [[imageNearDupStream]]: payloads
    * decode through the REAL JDK audio codec and fingerprint
    * partition-locally as they arrive (undecodable rows dropped, as in
    * batch), then ride [[bandedSigPairStream]] unchanged. State and
    * semantics notes on [[imageNearDupStream]] apply verbatim.
    */
  def audioNearDupStream(stream: DataFrame, idCol: String,
                         payloadCol: String, tsCol: String,
                         maxHamming: Int = 3, bands: Int = 4,
                         bandBits: Int = 16,
                         watermark: String = "10 seconds",
                         windowDur: String = "6 hours"): DataFrame = {
    val spark = stream.sparkSession
    import spark.implicits._
    val hashed = stream.select(col(idCol).cast("long").as("doc_id"),
        col(payloadCol).as("payload"),
        timestamp_micros(expr(s"$tsCol div 1000")).as("_ts"))
      .as[(Long, Array[Byte], java.sql.Timestamp)]
      .mapPartitions { it =>
        it.flatMap { case (id, p, ts) =>
          graft.multimodal.Multimodal.decodeAudio(p).map { case (_, s) =>
            (id, graft.multimodal.Multimodal.audioFingerprint64(s), ts)
          }
        }
      }.toDF("doc_id", "sig", "_ts")
    bandedSigPairStream(hashed, maxHamming, bands, bandBits,
      watermark, windowDur)
  }

  /** Streaming embedding-cosine near-dup — the live counterpart of
    * [[graft.operators.Similarity.nearDupPairs]] (q34), completing the
    * streaming-twin set (exact q77, span q82, MinHash q88, perceptual
    * q106, and now embedding). Same changelog shape as the others:
    * each arriving vector sign-buckets (`2^bits` LSH cells, the batch
    * operator's blocking key), norms precompute BEFORE any pairing,
    * and a watermarked tumbling-window `collect_list` per bucket
    * expands in-group pairs with the exact cosine refine — rounded to
    * 6 places first so the `minCosine` cut is reproducible against
    * the batch oracle bit for bit.
    *
    * State per (bucket × window) group holds the member VECTORS (the
    * refine needs them — unlike the 64-bit pHash there is no compact
    * sketch that preserves exact cosine), so state volume is
    * window-volume × vector width, watermark-evicted. That is the
    * same asymptotic profile as the batch bucket join's shuffle
    * buffer; at 100 TB the knob is `windowDur` (horizon) × `bits`
    * (bucket fan-out), both of which divide state linearly.
    *
    * Output (append changelog): `window_ns, a, b, cosine` with a < b,
    * emitted when the watermark closes the window. Cross-window pairs
    * are outside the horizon — the meaning any infinite-stream
    * near-dup must adopt (the batch pair set is the windowDur → ∞
    * limit).
    */
  def embeddingNearDupStream(stream: DataFrame, idCol: String,
                             vecCol: String, tsCol: String,
                             bits: Int = 8, minCosine: Double = 0.99,
                             watermark: String = "10 seconds",
                             windowDur: String = "6 hours"): DataFrame = {
    import graft.functions.VectorFunctions._
    stream
      .select(col(idCol).cast("long").as("doc_id"),
        col(vecCol).as("vec"),
        normNative(col(vecCol)).as("nrm"),
        signBucket(col(vecCol), bits).as("bucket"),
        timestamp_micros(expr(s"$tsCol div 1000")).as("_ts"))
      .withWatermark("_ts", watermark)
      .dropDuplicatesWithinWatermark("bucket", "doc_id")
      .groupBy(window(col("_ts"), windowDur).as("w"), col("bucket"))
      .agg(array_sort(collect_list(struct(col("doc_id").as("id"),
        col("vec").as("v"), col("nrm").as("n")))).as("m"))
      .filter(size(col("m")) > 1)
      .select(col("w"), explode(flatten(transform(col("m"), (x, i) =>
        transform(slice(col("m"), i + 2, size(col("m"))),
          y => struct(x.getField("id").as("a"), y.getField("id").as("b"),
            round(cosineWithNormsNative(x.getField("v"), y.getField("v"),
              x.getField("n"), y.getField("n")), 6).as("cosine"))))))
        .as("p"))
      .select(col("w"), col("p.a").as("a"), col("p.b").as("b"),
        col("p.cosine").as("cosine"))
      .filter(col("cosine") >= minCosine)
      // no pair-dedup stage: unlike the multi-BAND blockings
      // (nearDupStream, imageNearDupStream), a vector has exactly ONE
      // sign bucket, so each (a, b) emerges from a single (window,
      // bucket) group exactly once at window close — a trailing
      // dropDuplicates would add pair-volume-sized state for nothing
      .select(expr("unix_micros(w.start) * 1000").as("window_ns"),
        col("a"), col("b"), col("cosine"))
  }
}
