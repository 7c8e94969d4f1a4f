package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
import graft.plans.{AdcDistTbl, AdcTable}

/** Streaming similarity search — a live QUERY stream against a static
  * corpus index, the serving counterpart of the batch
  * [[graft.operators.Similarity]] paths (reference: the fetcher's
  * "query arrives, probe the archive" shape, re-expressed for vectors).
  *
  * This is the library's first stream-STATIC join surface: the corpus
  * never streams, never shuffles per trigger, and carries no state —
  * each micro-batch equi-joins the arriving queries' sign buckets
  * against the bucketed corpus exactly like the batch `lshTopK` probe.
  * The only state is the per-(window × query) candidate buffer of
  * (neighbor id, cosine) pairs — NO vectors — bounded by the bucket
  * candidate count and watermark-evicted.
  *
  * At 100 TB the corpus side is the knob: pass a pre-bucketed,
  * persisted (or bucketed-table) corpus via [[bucketCorpus]] so the
  * per-trigger probe reads only the matched buckets instead of
  * re-scanning parquet every micro-batch; `bits` widens bucket
  * fan-out, dividing per-query candidates (and state) by ~2^bits.
  */
object StreamingSimilarity {

  import graft.functions.VectorFunctions._

  /** The static side of [[annStream]], computed once: id, vector,
    * hoisted norm, sign bucket. Callers persist (or write as a
    * bucketed table on `bucket`) before serving — one decode of the
    * corpus instead of one per micro-batch.
    */
  def bucketCorpus(corpus: DataFrame, idCol: String, vecCol: String,
                   bits: Int): DataFrame = {
    corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("n_vec"),
      normNative(col(vecCol)).as("n_norm"),
      signBucket(col(vecCol), bits).as("bucket"))
      // hash-partition AND sort by the probe key BEFORE the caller
      // persists: the cached layout then satisfies both the join's
      // distribution and ordering requirements, so each micro-batch
      // plans SortMergeJoin(shuffled+sorted queries, raw cache scan)
      // — without this the whole corpus re-exchanges and re-sorts on
      // EVERY trigger (verified in the physical plan)
      .repartition(col("bucket")).sortWithinPartitions("bucket")
  }

  /** Live corpus maintenance for the serving paths — the ingest half
    * of the loop [[annStream]] serves: vectors arriving on a stream
    * commit to a [[graft.bank.TxTable]] EXACTLY once per micro-batch
    * (`appendOnce` idempotence tags — `foreachBatch` may replay a
    * batch after a crash, the log skips the duplicate), already
    * bucketed and norm-hoisted so a serving reload is a log read plus
    * the cache layout. Concurrent writers (a second ingest stream, a
    * manual backfill, compaction) interleave through the same commit
    * protocol — the [[graft.streaming.StreamingIndex.runTx]]
    * composition applied to vectors.
    */
  def corpusIngest(vectors: DataFrame, idCol: String, vecCol: String,
                   bits: Int, tx: graft.bank.TxTable,
                   checkpointDir: String,
                   availableNow: Boolean = true)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import org.apache.spark.sql.streaming.Trigger
    val writer = vectors.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        tx.appendOnce(
          batch.select(col(idCol).as("neighbor_id"),
            col(vecCol).as("n_vec"),
            normNative(col(vecCol)).as("n_norm"),
            signBucket(col(vecCol), bits).as("bucket")),
          tag = s"corpus-batch-$batchId")
        ()
      }
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer)
      .start()
  }

  /** Serving snapshot of an ingested corpus: read the log (optionally
    * a pinned version — the time-travel refresh contract: serve one
    * snapshot while the ingest stream keeps committing, reload at a
    * later version when convenient) and apply the [[bucketCorpus]]
    * cache layout. Callers persist, serve via [[annStream]], and
    * refresh by re-calling.
    */
  def loadCorpus(tx: graft.bank.TxTable,
                 version: Option[Long] = None): DataFrame =
    tx.read(version).repartition(col("bucket"))
      .sortWithinPartitions("bucket")

  /** A built IVF serving index: the cell-assigned corpus (callers
    * persist `cells` — pre-partitioned and pre-sorted by cell_id, the
    * same cache-layout trick as [[bucketCorpus]]) plus the centroid
    * set the query side scores against.
    */
  case class IvfIndex(cells: DataFrame, centroids: Seq[Seq[Float]])

  /** Build the static side of [[ivfStream]] once: assign every corpus
    * vector to its nearest of `nCells` deterministic centroids (the
    * batch `ivfTopK` assignment, bit for bit — centroids inlined as a
    * literal, so the assignment is one narrow projection, no corpus
    * shuffle except the final cell_id layout partitioning).
    */
  def ivfIndex(corpus: DataFrame, idCol: String, vecCol: String,
               nCells: Int): IvfIndex =
    // bounded driver collect: nCells vectors (the centroid literal)
    ivfIndexWith(corpus, idCol, vecCol, graft.operators.Similarity
      .centroidVectors(corpus, idCol, vecCol, nCells))

  /** [[ivfIndex]] with a TRAINED codebook: Lloyd's over the corpus
    * (the derandomized [[graft.operators.KMeans.fit]], first-k
    * seeding) instead of the raw first-k vectors — tighter cells,
    * higher recall at the same nProbe, identical serving plan.
    */
  def ivfIndexTrained(corpus: DataFrame, idCol: String, vecCol: String,
                      nCells: Int, iters: Int = 3): IvfIndex =
    ivfIndexWith(corpus, idCol, vecCol, graft.operators.KMeans
      .fit(corpus, idCol, vecCol, nCells, iters)._1)

  /** [[ivfIndexTrained]] with k-CENTER seeding: Lloyd's initialized
    * from the greedy farthest-point picks ([[graft.operators.Coreset
    * .kCenter]]) instead of the first-k rows — the q181 measurement
    * (8.5× WCSS vs first-k, 2.4× vs k-means|| at k = clusters) wired
    * into the IVF coarse quantizer. On a clustered corpus the picks
    * land one-per-cluster by construction, so cells start separated
    * instead of fighting over the densest region; BASELINE's
    * ann_recall row records probe recall for all three seeding arms.
    */
  def ivfIndexKCenter(corpus: DataFrame, idCol: String, vecCol: String,
                      nCells: Int, iters: Int = 3): IvfIndex =
    ivfIndexWith(corpus, idCol, vecCol, graft.operators.KMeans
      .fit(corpus, idCol, vecCol, nCells, iters,
        init = graft.operators.Coreset
          .kCenter(corpus, idCol, vecCol, nCells).map(_.vec))._1)

  /** [[ivfIndex]] with caller-supplied centroids — the seam shared by
    * the deterministic and trained builders (and any external
    * codebook).
    */
  def ivfIndexWith(corpus: DataFrame, idCol: String, vecCol: String,
                   cents: Seq[Seq[Float]]): IvfIndex = {
    import graft.operators.Similarity
    val centArr = typedLit(cents)
    val centNorm = typedLit(Similarity.centroidNorms(cents))
    val cells = corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("n_vec"))
      .withColumn("n_norm", normNative(col("n_vec")))
      .withColumn("_scores", zip_with(centArr, centNorm,
        (c, n) => cosineWithNormsNative(c, col("n_vec"), n, col("n_norm"))))
      .withColumn("cell_id",
        (array_position(col("_scores"), array_max(col("_scores"))) - 1)
          .cast("int"))
      .drop("_scores")
      .repartition(col("cell_id")).sortWithinPartitions("cell_id")
    IvfIndex(cells, cents)
  }

  /** Append-mode streaming IVF ANN — the second serving path beside
    * [[annStream]]'s sign-LSH, mirroring batch `ivfTopK`: each
    * arriving query scores the centroid literal scan-locally, probes
    * its `nProbe` nearest cells (score-desc, cell-asc tie-break — the
    * batch probe order, derived with array ops because rank windows
    * don't exist on streams), equi-joins the static cell index, and
    * emits its top-k when the watermark closes the window.
    *
    * Output (append changelog): `window_ns, q_id, neighbor_id, cosine,
    * rank` — q44's batch columns, window-stamped.
    */
  def ivfStream(queries: DataFrame, index: IvfIndex, idCol: String,
                vecCol: String, tsCol: String, nProbe: Int, k: Int,
                watermark: String = "10 seconds",
                windowDur: String = "6 hours",
                statePartitions: Option[Int] = None): DataFrame =
    ivfRankedW(queries, index, idCol, vecCol, tsCol, nProbe, k,
      watermark, windowDur, statePartitions)
      .select(expr("unix_micros(w.start) * 1000").as("window_ns"),
        col("q_id"), col("neighbor_id"), col("cosine"), col("rank"))

  /** [[ivfStream]] up to the ranked tier output, KEEPING the window
    * struct (`w, q_id, neighbor_id, cosine, rank`) so a downstream
    * stateful fusion stage ([[StreamingHybrid]]) can chain another
    * windowed aggregation on the same event time.
    */
  private[streaming] def ivfRankedW(
      queries: DataFrame, index: IvfIndex, idCol: String,
      vecCol: String, tsCol: String, nProbe: Int, k: Int,
      watermark: String, windowDur: String,
      statePartitions: Option[Int]): DataFrame = {
    import graft.operators.Similarity
    statePartitions.foreach(StatePartitions.pin(index.cells, _))
    val centArr = typedLit(index.centroids)
    val centNorm = typedLit(Similarity.centroidNorms(index.centroids))
    val nCells = index.centroids.size
    val probes = queries
      .select(col(idCol).cast("long").as("q_id"), col(vecCol).as("q_vec"),
        normNative(col(vecCol)).as("q_norm"),
        timestamp_micros(expr(s"$tsCol div 1000")).as("_ts"))
      .withWatermark("_ts", watermark)
      .dropDuplicatesWithinWatermark("q_id")
      .withColumn("_scores", zip_with(centArr, centNorm,
        (c, n) => cosineWithNormsNative(c, col("q_vec"), n, col("q_norm"))))
      .select(col("q_id"), col("q_vec"), col("q_norm"), col("_ts"),
        explode(slice(array_sort(zip_with(col("_scores"),
          sequence(lit(0), lit(nCells - 1)),
          (s, i) => struct(negate(s).as("ns"), i.cast("int").as("cell_id")))),
          1, nProbe)).as("p"))
      .select(col("q_id"), col("q_vec"), col("q_norm"), col("_ts"),
        col("p.cell_id").as("cell_id"))
    // bounded-heap top-k (round 14): partials and state clamp at k
    // instead of buffering every probed candidate; the output cosine
    // derives from the sort key (negation is IEEE-exact), so the
    // emitted rows are bit-identical to the collect_list form
    probes.join(index.cells, Seq("cell_id"))
      .filter(col("neighbor_id") =!= col("q_id"))
      .withColumn("cos", cosineWithNormsNative(
        col("q_vec"), col("n_vec"), col("q_norm"), col("n_norm")))
      .groupBy(window(col("_ts"), windowDur).as("w"), col("q_id"))
      .agg(graft.operators.TopK.topKNative(k, negate(col("cos")),
        col("neighbor_id")).as("top"))
      .select(col("w"), col("q_id"),
        posexplode(col("top")).as(Seq("pos", "m")))
      .select(col("w"),
        col("q_id"), col("m.id").as("neighbor_id"),
        round(negate(col("m.d")), 6).as("cosine"),
        (col("pos") + 1).cast("int").as("rank"))
  }

  /** Append-mode streaming IVFADC — the PQ family's serving path
    * beside [[ivfStream]] (cells + full floats) and [[annStream]]
    * (sign-LSH): arriving queries probe the CODE store (the
    * [[graft.operators.ProductQuantizer.encodeIvfStore]] /
    * [[StreamingAnnIndex]] layout — only (id, cell, codes) is read,
    * never the float tier) and rank candidates by asymmetric distance,
    * bit-identical to the batch `ivfAdcTopK` heaps.
    *
    * Shape: the q113 stream-static join. Probe selection, float32
    * residuals, and the per-subspace distance folds all run as
    * SCAN-LOCAL expressions on the query side — the hot fold is the
    * native `vec_l2` kernel (whole-stage codegen; the composed HOF
    * form pays ~1 ms/row interpreted at production geometry), the
    * codebook rides the plan as a literal (m·k·subDim floats — KBs),
    * and per-candidate cost is m native folds of subDim (= d mult-adds
    * — the same flops the batch table LOOKUP amortizes; a streaming
    * batch cannot collect its queries driver-side, so the table trick
    * does not apply and the direct fold is the honest scale path).
    * State is the per-(window, query) candidate buffer: (dist, id)
    * pairs only, never vectors or codes — and since round 14 the
    * buffer is the MERGEABLE BOUNDED-HEAP aggregate
    * ([[graft.operators.TopK]]), clamped at k entries in every map-side
    * partial, every shuffled partial, and the state row itself:
    * O(window × Q × k) GENUINELY, where the previous
    * `slice(array_sort(collect_list(...)))` form buffered every probed
    * candidate until the watermark closed (O(nprobe × cell population)
    * per query — the 51 s-vs-4.1 s candidate-heavy boundary BASELINE
    * recorded; now closed, same output bit for bit).
    *
    * At serving scale pass the code store pre-laid-out on the join
    * key — `repartition(col("cell")).sortWithinPartitions("cell")`,
    * persisted (the [[bucketCorpus]] cache-layout trick) — so every
    * micro-batch plans against the cached layout instead of
    * re-exchanging the corpus per trigger; the GRAFT_SCALE_ADCSTREAM
    * row measures that shape at batch-wall parity. AND size
    * `spark.sql.shuffle.partitions` (which fixes the STATE partition
    * count at checkpoint creation) to the state, not the data: state
    * here is ≤ Q·k rows, so default-width stateful operators pay
    * dozens of near-empty state-store commits per trigger — at 4
    * stream partitions (store layout untouched — set the conf AFTER
    * persisting the store) the measured wall fell 20.7 → 12.3 s
    * candidate-heavy and 23.3 → 13.95 s at the serving geometry,
    * putting the stream at 0.6× batch there (BASELINE, round 15).
    *
    * Output (append changelog): `window_ns, q_id, nn_id, adc_micro,
    * rank` — q154's batch columns, window-stamped.
    */
  def ivfAdcStream(queries: DataFrame, codeStore: DataFrame,
                   idCol: String, vecCol: String, tsCol: String,
                   coarse: Seq[Seq[Float]],
                   model: graft.operators.ProductQuantizer.PQModel,
                   nprobe: Int, k: Int,
                   watermark: String = "10 seconds",
                   windowDur: String = "6 hours",
                   statePartitions: Option[Int] = None): DataFrame = {
    require(nprobe >= 1 && nprobe <= coarse.length,
      s"nprobe $nprobe out of [1, ${coarse.length}]")
    // size the stream's state partitions to the state, not the data —
    // the ordering-safe form of round 15's manual conf dance (the
    // cached code-store layout is pinned before the conf narrows)
    statePartitions.foreach(StatePartitions.pin(codeStore, _))
    val centLit = typedLit(coarse)
    val cbLit = typedLit(model.codebooks)
    val nCells = coarse.size
    // probe selection: squared-L2 to every centroid (double, the
    // probeCells fold), (dist asc, cell asc) — then the float32
    // residual per probed cell (the encodeIvf arithmetic)
    val probes = queries
      .select(col(idCol).cast("long").as("q_id"), col(vecCol).as("q_vec"),
        timestamp_micros(expr(s"$tsCol div 1000")).as("_ts"))
      .withWatermark("_ts", watermark)
      .dropDuplicatesWithinWatermark("q_id")
      .withColumn("_d2", transform(centLit, c => l2Native(col("q_vec"), c)))
      .select(col("q_id"), col("q_vec"), col("_ts"),
        explode(slice(array_sort(zip_with(col("_d2"),
          sequence(lit(0), lit(nCells - 1)),
          (d, i) => struct(d.as("d2"), i.cast("int").as("cell")))),
          1, nprobe)).as("p"))
      .select(col("q_id"), col("_ts"), col("p.cell").as("cell"),
        zip_with(col("q_vec"), element_at(centLit, col("p.cell") + 1),
          (x, y) => x - y).as("qr"))
    // per-candidate ADC distance through the LOOKUP TABLE (round 15):
    // the batch heaps amortize the m×subDim fold to m table lookups by
    // precomputing per-query distance tables; the stream builds the
    // SAME table scan-locally as a column — once per (query, probe)
    // row, 16 KB at m=8/k=256 — and carries it through the
    // stream-static join, so the candidate-volume hot path is m array
    // lookups per row (`adc_dist_tbl`), bit-identical to the fused
    // `adc_dist` fold (the table entries ARE its subspace sums;
    // differential-spec-pinned, q163 stays hash-green). The table is
    // FLAT [m·k] (a nested array<array> paid one UnsafeArrayData
    // wrapper alloc per subspace PER CANDIDATE — profiled at 137 s CPU
    // vs ~55 s flat at the 64-cell geometry), and the explicit
    // repartition pins the table PROJECTION after the exchange the
    // join needs anyway, so the shuffle ships the 256 B residual, not
    // the 16 KB table. Measured (64-cell ADCSTREAM, same run): stream
    // 36.3 → 19.5 s against batch 5.2 s — the gap fell 7.0× → 3.8×,
    // and the stage profile (BASELINE.md "Streaming IVFADC serving")
    // shows the remaining wall is micro-batch machinery (state-store
    // commits and serial sub-1 s stages with CPU ≪ wall), not
    // per-candidate compute: the join+score stage runs at CPU parity
    // with the batch heaps.
    val probesT = probes
      .repartition(col("cell"))
      .withColumn("tbl",
        column(AdcTable(expression(col("qr")), expression(cbLit))))
      .drop("qr")
    probesT
      .join(codeStore.select(col(idCol).as("nn_id"), col("cell"),
        col("codes")), Seq("cell"))
      .withColumn("dist", column(AdcDistTbl(expression(col("tbl")),
        expression(col("codes")), Literal(model.codebooks.length))))
      .groupBy(window(col("_ts"), windowDur).as("w"), col("q_id"))
      .agg(graft.operators.TopK.topKNative(k, col("dist"), col("nn_id"))
        .as("top"))
      .select(col("w"), col("q_id"),
        posexplode(col("top")).as(Seq("pos", "t")))
      .select(expr("unix_micros(w.start) * 1000").as("window_ns"),
        col("q_id"), col("t.id").as("nn_id"),
        floor(col("t.d") * 1e6).cast("long").as("adc_micro"),
        (col("pos") + 1).cast("int").as("rank"))
  }

  /** Append-mode streaming ANN: each query vector arriving on
    * `queries` (with an epoch-ns long event-time column) probes its
    * sign bucket of the STATIC `corpus` and emits its top-k neighbors
    * when the watermark closes the query's window — batch `lshTopK`
    * semantics (rank on the raw double cosine descending, neighbor id
    * ascending; self-match excluded; cosine rounded to 6 places in
    * the output only) with a window stamp.
    *
    * `corpus` must be the [[bucketCorpus]] shape. Re-delivered query
    * ids inside the watermark dedup before probing, like every stream
    * in [[StreamingDedup]].
    *
    * Output (append changelog): `window_ns, q_id, neighbor_id, bucket,
    * cosine, rank` — q33's batch columns, window-stamped.
    */
  def annStream(queries: DataFrame, corpus: DataFrame, idCol: String,
                vecCol: String, tsCol: String, bits: Int, k: Int,
                watermark: String = "10 seconds",
                windowDur: String = "6 hours",
                nProbe: Int = 1,
                statePartitions: Option[Int] = None): DataFrame = {
    statePartitions.foreach(StatePartitions.pin(corpus, _))
    // nProbe > 1: each query probes its Hamming-1 neighbor buckets
    // too (multi-probe LSH — the batch `lshTopKMultiProbe` lever);
    // only the QUERY side replicates, the cached corpus layout is
    // untouched, and probes are distinct buckets so candidates never
    // duplicate
    val q = queries
      .select(col(idCol).cast("long").as("q_id"), col(vecCol).as("q_vec"),
        normNative(col(vecCol)).as("q_norm"),
        timestamp_micros(expr(s"$tsCol div 1000")).as("_ts"),
        probeBuckets(col(vecCol), bits, nProbe).as("_probes"))
      .withWatermark("_ts", watermark)
      .dropDuplicatesWithinWatermark("q_id")
      .select(col("q_id"), col("q_vec"), col("q_norm"), col("_ts"),
        explode(col("_probes")).as("bucket"))
    q.join(corpus, Seq("bucket"))
      .filter(col("neighbor_id") =!= col("q_id"))
      .withColumn("cos", cosineWithNormsNative(
        col("q_vec"), col("n_vec"), col("q_norm"), col("n_norm")))
      // candidate buffer rows carry NO vectors: (sort key, id, rounded
      // cosine, matched bucket) only — the struct sorts by
      // (-cos, neighbor_id), i.e. exactly the batch rank order; the
      // group is (window, query), so multi-probe candidates from
      // different buckets rank in ONE top-k. HONEST STATE NOTE: the
      // collect_list partials hold every bucket candidate until the
      // watermark closes — O(bucket population) per (window, query),
      // NOT O(k); `bits` divides it ~2^bits. The serving streams that
      // carry no bucket payload (ivfStream/ivfAdcStream) use the
      // bounded [[graft.operators.TopK]] aggregate instead; this one
      // keeps the matched-bucket column in its output contract, which
      // the bounded Cand does not carry.
      .groupBy(window(col("_ts"), windowDur).as("w"), col("q_id"))
      .agg(slice(array_sort(collect_list(struct(
        negate(col("cos")).as("nc"), col("neighbor_id").as("id"),
        round(col("cos"), 6).as("cosine"), col("bucket").as("bucket")))),
        1, k).as("top"))
      .select(col("w"), col("q_id"),
        posexplode(col("top")).as(Seq("pos", "m")))
      .select(expr("unix_micros(w.start) * 1000").as("window_ns"),
        col("q_id"), col("m.id").as("neighbor_id"),
        col("m.bucket").as("bucket"), col("m.cosine").as("cosine"),
        (col("pos") + 1).cast("int").as("rank"))
  }
}
