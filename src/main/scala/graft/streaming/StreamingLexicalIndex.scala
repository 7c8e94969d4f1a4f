package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.bank.TxTable
import graft.functions.TextFunctions
import graft.operators.Lexical

/** Incremental maintenance for the BM25 lexical store — the
  * [[StreamingAnnIndex]] loop applied to text retrieval. The split of
  * what stays fresh and what goes stale is different from ANN, and the
  * design follows it:
  *
  *   - RAW POSTINGS (term, doc, tf, dl) are PER-DOCUMENT facts — they
  *     never go stale. Arriving documents encode scan-locally
  *     ([[Lexical.postings]] is a per-row hash count, no shuffle, no
  *     state) and commit exactly-once per micro-batch (`appendOnce`
  *     batch tags), term-sorted per batch so a query's `term IN (...)`
  *     prunes row groups. The maintained postings store is row-SET
  *     equal to a from-scratch build under any batching — the q178
  *     oracle.
  *   - CORPUS STATS (N, Σdl) are pure sums: each batch appends one
  *     kilobyte partial; the rollup is exact, never an estimate, and
  *     the served avgdl is the same single division the batch
  *     [[Lexical.corpusStats]] computes.
  *   - df/idf are computed LIVE at query time from a term-pruned slice
  *     ([[Lexical.bm25TopKLive]]) — so the maintained-raw serving path
  *     is ALWAYS exact (q179). What DOES go stale is the PRECOMPUTED
  *     contribution store the streaming serving tier reads
  *     ([[StreamingLexical.bm25Stream]]): contrib bakes in (N, avgdl,
  *     df) at build time, and every arriving document shifts all
  *     three. That store is managed as GENERATIONS ([[AnnGenerations]]
  *     — store = contrib table, sidecar = the build-time stats row),
  *     with [[staleReport]] comparing the generation's baked stats to
  *     the sidecar rollup (two scalars — kilobytes, no store scan) and
  *     [[regenerateIfStale]] rebuilding from the maintained postings +
  *     current stats and publishing through the atomic pointer swap
  *     (q180 reads the retrained generation through the pointer).
  */
object StreamingLexicalIndex {

  def docSchema(idCol: String = "doc_id",
                textCol: String = "text"): StructType =
    StructType.fromDDL(s"$idCol BIGINT, $textCol STRING")

  import ParallelCommits.inParallel

  /** One exact stats partial: (n_docs, sum_dl) of this batch. */
  private def statsPartial(batch: DataFrame, textCol: String,
                           tag: String): DataFrame =
    batch
      .select(size(TextFunctions.tokens(col(textCol))).cast("long")
        .as("dl"))
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
      .withColumn("src_tag", lit(tag))

  /** Bulk-load the postings store + the baseline stats partial. Both
    * commits are tagged — a re-run is a no-op.
    */
  def bootstrap(corpus: DataFrame, idCol: String, textCol: String,
                postTx: TxTable, statsTx: TxTable): Unit = {
    inParallel(
      postTx.appendOnce(
        Lexical.postings(corpus, textCol, idCol).sort("term"),
        tag = "lex-baseline"),
      statsTx.appendOnce(statsPartial(corpus, textCol, "lex-baseline"),
        tag = "lex-stats-baseline"))
    ()
  }

  /** Start (by default drain) the incremental maintainer: parquet doc
    * files under `docsDir` → postings rows (exactly-once) + one stats
    * partial per batch. `compactEvery` > 0 re-sorts the whole store by
    * term every N batches (the [[StreamingAnnIndex.run]] policy — a
    * long-lived store otherwise overlaps every batch's term range and
    * query pruning degrades to file count).
    */
  def run(spark: SparkSession, docsDir: String,
          postTx: TxTable, statsTx: TxTable,
          checkpointDir: String, idCol: String = "doc_id",
          textCol: String = "text",
          availableNow: Boolean = true,
          maxFilesPerTrigger: Int = 1000,
          compactEvery: Int = 0): StreamingQuery = {
    val stream = spark.readStream
      .schema(docSchema(idCol, textCol))
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .parquet(docsDir)
    val writer = stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // round 17: the old localCheckpoint(true) here bought nothing —
        // both commits tokenize for themselves either way; it only
        // avoided re-READING the (arrival-sized) batch files at the
        // cost of an extra eager materialization job per trigger plus
        // a block-manager copy of the raw text payload. foreachBatch
        // re-executes over the trigger's pinned file list, so the two
        // reads are deterministic.
        // Delta appends sort WITHIN partitions (term-clustered files
        // for row-group pruning) instead of globally: a global sort of
        // an arrival-sized delta paid a range-sampling job + exchange
        // per trigger; the scheduled compaction below is what restores
        // store-wide disjoint term ranges — its job, on its cadence.
        inParallel(
          postTx.appendOnce(
            Lexical.postings(batch, textCol, idCol)
              .sortWithinPartitions("term"),
            tag = s"lex-batch-$batchId"),
          statsTx.appendOnce(
            statsPartial(batch, textCol, s"lex-batch-$batchId"),
            tag = s"lex-stats-$batchId"))
        if (compactEvery > 0 && (batchId + 1) % compactEvery == 0) {
          inParallel(postTx.compact(Seq("term")), statsTx.compact())
          ()
        }
      }
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer)
      .start()
  }

  // ──────────── maintained POSITIONAL store (round 17) ────────────
  //
  // Positional postings are per-document facts exactly like the flat
  // layout — a document's (term → positions) map never goes stale and
  // encodes scan-locally — so the same bootstrap/append/compact/serve
  // lifecycle applies verbatim. What this closes: phrase/SDM serving
  // previously rebuilt the positional store AD HOC per call
  // (persistRotating), a 288 s / ~50 GB-spill build at 10⁷ docs
  // (BASELINE phrase row). Serving slices the term-sorted store to
  // the query's terms (the bm25TopKLive IN-pushdown device — row
  // groups prune) and threads the exact sidecar-rollup stats, so the
  // served rows are hash-equal to a from-scratch build.

  /** Bulk-load the POSITIONAL postings store + the baseline stats
    * partial (tagged — a re-run is a no-op).
    */
  def bootstrapP(corpus: DataFrame, idCol: String, textCol: String,
                 postTx: TxTable, statsTx: TxTable): Unit = {
    inParallel(
      postTx.appendOnce(
        Lexical.postingsPositional(corpus, textCol, idCol).sort("term"),
        tag = "lexpos-baseline"),
      statsTx.appendOnce(statsPartial(corpus, textCol, "lexpos-baseline"),
        tag = "lexpos-stats-baseline"))
    ()
  }

  /** Incremental positional maintainer — [[run]] with the positional
    * encode (per-row, no shuffle; an appended doc batch produces
    * exactly its own positional rows, so the maintained store is
    * row-set equal to a rebuild under any batching).
    */
  def runP(spark: SparkSession, docsDir: String,
           postTx: TxTable, statsTx: TxTable,
           checkpointDir: String, idCol: String = "doc_id",
           textCol: String = "text",
           availableNow: Boolean = true,
           maxFilesPerTrigger: Int = 1000,
           compactEvery: Int = 0): StreamingQuery = {
    val stream = spark.readStream
      .schema(docSchema(idCol, textCol))
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .parquet(docsDir)
    val writer = stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // no localCheckpoint, delta sorted within partitions — the
        // run() rationale verbatim (round 17)
        inParallel(
          postTx.appendOnce(
            Lexical.postingsPositional(batch, textCol, idCol)
              .sortWithinPartitions("term"),
            tag = s"lexpos-batch-$batchId"),
          statsTx.appendOnce(
            statsPartial(batch, textCol, s"lexpos-stats-src-$batchId"),
            tag = s"lexpos-stats-$batchId"))
        if (compactEvery > 0 && (batchId + 1) % compactEvery == 0) {
          inParallel(postTx.compact(Seq("term")), statsTx.compact())
          ()
        }
      }
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer)
      .start()
  }

  /** The term-pruned slice + stats-row pair every maintained
    * positional server shares: the query's distinct terms collect
    * driver-side behind a loud bound and push into the store scan as
    * an IN filter (term-sorted files prune to matched row groups);
    * corpus stats ride a one-row frame from the exact rollup.
    */
  private def slicedWithStats(postTx: TxTable, statsTx: TxTable,
                              queries: DataFrame, qTextCol: String,
                              maxQueryTerms: Int)
      : (DataFrame, DataFrame) = {
    val spark = queries.sparkSession
    // the query-term collect and the stats rollup are independent
    // driver actions (guide §2.6) — overlap them
    val (terms, statsTriple) = inParallel(
      queries
        .select(explode(Lexical.queryTerms(col(qTextCol))).as("term"))
        .distinct().limit(maxQueryTerms + 1)
        .collect().map(_.getString(0)).toSeq,
      stats(statsTx))
    require(terms.length <= maxQueryTerms,
      s"over $maxQueryTerms distinct query terms (maxQueryTerms) — " +
        "split the query batch or raise the bound")
    val (n, _, avgdl) = statsTriple
    val slice = postTx.read().filter(col("term").isInCollection(terms))
    val statsRow = spark.range(1).select(lit(n).as("n_docs"),
      lit(avgdl).as("avgdl"))
    (slice, statsRow)
  }

  /** Exact phrase serving off the maintained positional store —
    * [[graft.operators.Lexical.phraseTopKFromPostings]] over the
    * term-pruned slice with rollup stats; hash-equal to a
    * from-scratch build (phrase df counts matched docs, a slice
    * invariant).
    */
  def servePhrase(postTx: TxTable, statsTx: TxTable, queries: DataFrame,
                  qTextCol: String, qIdCol: String, k: Int,
                  k1: Double = 1.2, b: Double = 0.75,
                  maxQueryTerms: Int = 100000): DataFrame = {
    val (slice, statsRow) = slicedWithStats(postTx, statsTx, queries,
      qTextCol, maxQueryTerms)
    Lexical.phraseTopKFromPostings(slice, queries, qTextCol, qIdCol,
      k, k1, b, statsOverride = Some(statsRow))
  }

  /** SDM serving off the maintained positional store — unigram dfs
    * live from the term-pruned slice (exact for the query's terms),
    * stats from the rollup, rerank mode passed through.
    */
  def serveSdm(postTx: TxTable, statsTx: TxTable, queries: DataFrame,
               qTextCol: String, qIdCol: String, k: Int,
               lambdaT: Double = 0.85, lambdaO: Double = 0.1,
               lambdaU: Double = 0.05, window: Int = 8,
               k1: Double = 1.2, b: Double = 0.75,
               rerank: Option[Int] = None,
               maxQueryTerms: Int = 100000): DataFrame = {
    val (slice, statsRow) = slicedWithStats(postTx, statsTx, queries,
      qTextCol, maxQueryTerms)
    Lexical.sdmTopKFromPostings(slice, queries, qTextCol, qIdCol, k,
      lambdaT, lambdaO, lambdaU, window, k1, b, rerank,
      statsOverride = Some(statsRow))
  }

  /** Exact corpus stats from the sidecar rollup: (N, Σdl, avgdl). The
    * division is the [[Lexical.corpusStats]] arithmetic on exact
    * integer sums — bit-equal to a from-scratch pass.
    */
  def stats(statsTx: TxTable): (Long, Long, Double) = {
    val r = statsTx.read()
      .agg(sum(col("n_docs")).as("n"), sum(col("sum_dl")).as("s"))
      .head()
    // sum over an empty store is NULL — serve() before bootstrap()
    // must fail with a diagnosis, not a bare NPE on getLong
    require(!r.isNullAt(0) && !r.isNullAt(1),
      s"stats store is empty (${statsTx.logDir}) — bootstrap() or run() " +
        "must commit at least one stats partial before serving")
    val n = r.getLong(0)
    val s = r.getLong(1)
    (n, s, s.toDouble / n.toDouble)
  }

  /** Exact serving straight off the maintained store (df live from the
    * term-pruned slice, stats from the rollup) — never stale.
    */
  def serve(postTx: TxTable, statsTx: TxTable, queries: DataFrame,
            qTextCol: String, qIdCol: String, k: Int,
            k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val (n, _, avgdl) = stats(statsTx)
    Lexical.bm25TopKLive(postTx.read(), n, avgdl, queries,
      qTextCol, qIdCol, k, k1, b)
  }

  /** Build + PUBLISH a contrib-store generation from the maintained
    * postings and the current stats rollup. The generation's sidecar
    * records the baked (n_docs, sum_dl) so staleness is two exact
    * scalar comparisons later. Returns the published generation.
    */
  def buildGeneration(gens: AnnGenerations, postTx: TxTable,
                      statsTx: TxTable,
                      k1: Double = 1.2, b: Double = 0.75,
                      maxPostingsPerTerm: Int = Int.MaxValue): Long = {
    val (n, sumDl, avgdl) = stats(statsTx)
    val (g, storeTx, genStatsTx) = gens.next()
    storeTx.appendOnce(
      Lexical.bm25StoreFromPostings(postTx.read(), n, avgdl, k1, b,
        maxPostingsPerTerm).sort("term"),
      tag = s"lex-gen-$g")
    genStatsTx.appendOnce(
      statsTx.read().sparkSession.range(1)
        .select(lit(n).as("n_docs"), lit(sumDl).as("sum_dl")),
      tag = s"lex-gen-stats-$g")
    gens.publish(g)
    g
  }

  /** Staleness of the published contrib generation vs the live rollup:
    * permille ratios of N and avgdl (1000 = parity — the drift_permille
    * convention). None before any generation exists.
    */
  final case class StaleReport(gen: Long, nGen: Long, nNow: Long,
                               avgdlGen: Double, avgdlNow: Double,
                               nPermille: Long, avgdlPermille: Long)

  def staleReport(gens: AnnGenerations, statsTx: TxTable)
      : Option[StaleReport] =
    gens.current().map { case (g, _, genStatsTx) =>
      val r = genStatsTx.read()
        .agg(sum(col("n_docs")).as("n"), sum(col("sum_dl")).as("s"))
        .head()
      val nGen = r.getLong(0)
      val sGen = r.getLong(1)
      val avgdlGen = sGen.toDouble / nGen.toDouble
      val (nNow, _, avgdlNow) = stats(statsTx)
      StaleReport(g, nGen, nNow, avgdlGen, avgdlNow,
        math.round(1000.0 * nNow.toDouble / nGen.toDouble),
        math.round(1000.0 * avgdlNow / avgdlGen))
    }

  /** Generation-following streaming serving: each micro-batch of
    * arriving queries re-resolves the generation pointer ONCE (the
    * [[AnnGenerations]] reader contract — a batch binds to a complete
    * generation; the pointer file is only ever atomically renamed) and
    * serves against that generation's contrib store, so a
    * [[regenerateIfStale]] swap takes effect on the NEXT micro-batch
    * with no stream restart. Contrast [[StreamingLexical.bm25Stream]],
    * which plans one fixed store for the stream's lifetime (the
    * windowed, watermark-exact form); this is the foreachBatch form —
    * per-batch batch-exact serving, results tagged with the serving
    * generation, delivery semantics those of the sink callback.
    * Batches before any published generation are skipped.
    */
  def bm25ServeStream(queries: DataFrame, gens: AnnGenerations,
                      qTextCol: String, qIdCol: String, k: Int,
                      checkpointDir: String,
                      availableNow: Boolean = true)
                     (sink: DataFrame => Unit): StreamingQuery = {
    val writer = queries.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        gens.current() match {
          case Some((g, storeTx, _)) if !batch.isEmpty =>
            sink(Lexical.bm25TopKFromContribStore(storeTx.read(),
                batch, qTextCol, qIdCol, k)
              .withColumn("gen", lit(g)))
          case _ => ()
        }
      }
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer)
      .start()
  }

  /** The closed loop: probe → rebuild from the maintained postings →
    * atomic pointer swap. Fires when EITHER axis leaves the parity
    * band by more than `thresholdPermille`; no-op (None) at parity or
    * before any generation. Readers resolved mid-swap stay on their
    * complete generation (the [[AnnGenerations]] contract).
    */
  def regenerateIfStale(gens: AnnGenerations, postTx: TxTable,
                        statsTx: TxTable,
                        thresholdPermille: Long = 100,
                        k1: Double = 1.2, b: Double = 0.75,
                        maxPostingsPerTerm: Int = Int.MaxValue)
      : Option[Long] =
    staleReport(gens, statsTx).flatMap { rep =>
      val fire = math.abs(rep.nPermille - 1000) > thresholdPermille ||
        math.abs(rep.avgdlPermille - 1000) > thresholdPermille
      if (!fire) None
      else Some(buildGeneration(gens, postTx, statsTx, k1, b,
        maxPostingsPerTerm))
    }

  // ---- FACTORED generations (round 15): arrival-sized refreshes. ----
  //
  // The monolithic contrib store above must rebuild CORPUS-sized on
  // every staleness fire, because contrib bakes all three globals
  // (N, df, avgdl) into one float. The factored store splits them by
  // WHAT actually invalidates them:
  //
  //   - sat = tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl₀)) — a per-document
  //     fact once avgdl₀ is baked. Lives in ONE long-lived TxTable;
  //     arriving postings append exactly their own sat rows
  //     (arrival-sized), and a generation pins the sat VERSION it
  //     serves (TxTable time travel = snapshot isolation between
  //     generations for free).
  //   - idf(N, df) — moves with EVERY arrival, but is only
  //     VOCABULARY-sized. Each generation carries a full df table; the
  //     incremental build derives it as old-df ⊕ delta-term-counts
  //     (a vocab-sized merge — never a corpus-sized docFreq pass).
  //   - avgdl₀ — the one baked scalar. While the live avgdl stays
  //     inside `avgdlBandPermille`, refreshes take the DELTA path;
  //     once it drifts out, the loop re-bakes sat for the whole corpus
  //     (a full build, the documented floor) via a versioned OVERWRITE
  //     of the sat table — old generations keep reading their pinned
  //     pre-overwrite snapshots.
  //
  // Serving a factored generation is exact BM25 at (N_live, df_live,
  // avgdl₀): idf computes on the query side from the generation's df
  // table, contrib = idf × sat (one multiply per candidate). A served
  // top-k is BIT-IDENTICAL to a from-scratch factored rebuild at the
  // same (N, avgdl₀) — spec-pinned — because df merge arithmetic is
  // integer-exact and sat/idf/fold expressions are shared.

  /** Generation sidecar row: the baked scalars + the pinned versions.
    */
  private def sidecarRow(spark: org.apache.spark.sql.SparkSession,
                         n: Long, sumDl: Long, avgdl0: Double,
                         postV: Long, satV: Long): DataFrame =
    spark.range(1).select(lit(n).as("n_docs"), lit(sumDl).as("sum_dl"),
      lit(avgdl0).as("avgdl0"), lit(postV).as("post_version"),
      lit(satV).as("sat_version"))

  private def readSidecar(sideTx: TxTable): (Long, Long, Double, Long, Long) = {
    val r = sideTx.read()
      .select("n_docs", "sum_dl", "avgdl0", "post_version", "sat_version")
      .head()
    (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3), r.getLong(4))
  }

  /** Full factored build + publish: bake avgdl from the current
    * rollup, OVERWRITE the sat table (a fresh avgdl₀ epoch — prior
    * generations keep their pinned versions), write the df table into
    * a fresh generation, publish. Returns the generation.
    */
  def buildFactoredGeneration(gens: AnnGenerations, postTx: TxTable,
                              statsTx: TxTable, satTx: TxTable,
                              k1: Double = 1.2, b: Double = 0.75): Long = {
    val (n, sumDl, avgdl0) = stats(statsTx)
    val postV = postTx.latestVersion()
    val post = postTx.read(Some(postV))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val satV = satTx.overwrite(
      Lexical.bm25SatFromPostings(post, avgdl0, k1, b).sort("term"))
    val (g, dfTx, sideTx) = gens.next()
    dfTx.appendOnce(Lexical.docFreq(post).sort("term"),
      tag = s"flex-df-$g")
    post.unpersist()
    sideTx.appendOnce(
      sidecarRow(statsTx.read().sparkSession, n, sumDl, avgdl0, postV, satV),
      tag = s"flex-side-$g")
    gens.publish(g)
    g
  }

  /** How a [[refreshFactored]] run regenerated — or why it didn't. */
  sealed trait FactoredRefresh
  /** Parity: both axes inside their bands, nothing rebuilt. */
  case object FactoredFresh extends FactoredRefresh
  /** Arrival-sized delta build published as `gen`. */
  final case class FactoredDelta(gen: Long) extends FactoredRefresh
  /** Corpus-sized re-bake (avgdl left its band, or the postings range
    * since the last build was not append-pure) published as `gen`.
    */
  final case class FactoredFull(gen: Long) extends FactoredRefresh

  /** The incremental refresh loop. N outside `nThresholdPermille` with
    * avgdl still inside `avgdlBandPermille` → DELTA build: sat rows
    * for the postings appended since the generation's pinned version
    * (read via the log-level file diff — never a corpus scan), df =
    * old df ⊕ delta term counts (vocab-sized merge), fresh generation,
    * atomic swap. avgdl out of band → full re-bake. Both axes in band
    * → [[FactoredFresh]].
    */
  def refreshFactored(gens: AnnGenerations, postTx: TxTable,
                      statsTx: TxTable, satTx: TxTable,
                      nThresholdPermille: Long = 100,
                      avgdlBandPermille: Long = 100,
                      k1: Double = 1.2, b: Double = 0.75)
      : FactoredRefresh = {
    val cur = gens.current().getOrElse(throw new IllegalStateException(
      "refreshFactored before any factored generation — " +
        "buildFactoredGeneration first"))
    val (_, _, sideTx) = cur
    val (n0, _, avgdl0, postV0, satV0) = readSidecar(sideTx)
    val (nNow, sumNow, avgdlNow) = stats(statsTx)
    val nPermille = math.round(1000.0 * nNow.toDouble / n0.toDouble)
    val avgdlPermille = math.round(1000.0 * avgdlNow / avgdl0)
    val nStale = math.abs(nPermille - 1000) > nThresholdPermille
    val avgdlStale = math.abs(avgdlPermille - 1000) > avgdlBandPermille
    if (!nStale && !avgdlStale) FactoredFresh
    else if (avgdlStale)
      FactoredFull(buildFactoredGeneration(gens, postTx, statsTx, satTx,
        k1, b))
    else {
      val postVNow = postTx.latestVersion()
      if (!postTx.isAppendPure(postV0, postVNow) ||
          satTx.latestVersion() != satV0)
        // compaction rewrote the range (the file-level delta would
        // double-count), OR the sat log is ahead of the published
        // generation's pin — a crashed run committed sat rows for some
        // (postV0, postV'] and died before publishing, so a delta append
        // here would OVERLAP that orphan range and the new pin would
        // serve duplicate (term, doc) sat rows, silently inflating every
        // fold. The full build's versioned OVERWRITE clears the orphans;
        // take it, honestly.
        FactoredFull(buildFactoredGeneration(gens, postTx, statsTx, satTx,
          k1, b))
      else {
        val delta = postTx.readAppendedSince(postV0, Some(postVNow))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // content-range tag: a crashed run that already committed this
        // exact delta range no-ops here, and the pinned version below
        // still covers its rows exactly once
        satTx.appendOnce(
          Lexical.bm25SatFromPostings(delta, avgdl0, k1, b).sort("term"),
          tag = s"flex-sat-$postV0-$postVNow")
        val satV = satTx.latestVersion()
        val (g, dfTx, sideTxNew) = gens.next()
        val (_, dfTxOld, _) = cur
        val deltaDf = Lexical.docFreq(delta)
        val merged = dfTxOld.read().select(col("term"), col("df").as("df0"))
          .join(deltaDf.select(col("term"), col("df").as("df1")),
            Seq("term"), "full_outer")
          .select(col("term"),
            (coalesce(col("df0"), lit(0L)) + coalesce(col("df1"), lit(0L)))
              .as("df"))
        dfTx.appendOnce(merged.sort("term"), tag = s"flex-df-$g")
        delta.unpersist()
        sideTxNew.appendOnce(
          sidecarRow(statsTx.read().sparkSession, nNow, sumNow, avgdl0,
            postVNow, satV),
          tag = s"flex-side-$g")
        gens.publish(g)
        FactoredDelta(g)
      }
    }
  }

  /** Serve the published factored generation: sat at its pinned
    * version × the generation's df table × the baked doc count —
    * exact BM25 at (N, df, avgdl₀) as of the generation build.
    */
  def serveFactored(gens: AnnGenerations, satTx: TxTable,
                    queries: DataFrame, qTextCol: String, qIdCol: String,
                    k: Int): DataFrame = {
    val (_, dfTx, sideTx) = gens.current().getOrElse(
      throw new IllegalStateException(
        "serveFactored before any factored generation"))
    val (n, _, _, _, satV) = readSidecar(sideTx)
    Lexical.bm25TopKFromFactoredStore(satTx.read(Some(satV)),
      dfTx.read(), n, queries, qTextCol, qIdCol, k)
  }

  // ---- BM25F factored generations (round 15): the same loop,
  // field-aware. Multi-field postings are STILL per-document facts
  // (a doc's rows across all fields arrive in its batch, so the
  // (term, doc) field fold never spans batches), the baked scalar is
  // now the per-FIELD avgdl vector, and df is any-field (distinct
  // (term, doc) — a delta doc is NEW, so old-df ⊕ delta-distinct
  // counts stays integer-exact). Serving reuses the shared factored
  // path unchanged.
  //
  // PACKED maintained layout (round 18, guide §2.3/§2.4 — the r17
  // batch win ported): the store holds [[Lexical.postingsFieldsPacked]]
  // rows — ONE row per (term, doc) with the field-asc (field, tf)
  // entries and the per-doc dls vector — so every generation build
  // (full AND delta) folds the BM25F pseudo-frequency SCAN-LOCALLY
  // instead of paying the (term, doc)-keyed exchange over the whole
  // multi-field postings volume per refresh, and any-field df is a
  // plain count (the distinct exchange is gone too). Rows stay
  // distinct (term, doc) per-doc facts, so the delta algebra —
  // arrival-sized sat appends, old-df ⊕ delta-count merges, pinned
  // versions — is unchanged; sat doubles are bit-identical to the
  // flat fold (LexicalSpec flat-vs-packed pins + the
  // StreamingLexicalIndexSpec served ≡ flat-rebuild differential, both
  // against the test-tree flat reference). A store written in the flat
  // layout is refused ([[requirePackedF]]), never misread.

  /** Fails unless `post` (a read of the maintained BM25F postings
    * store) holds the packed layout — or nothing yet. A store written
    * in the flat one-row-per-(field, term, doc) layout would be
    * misread: packed batches would append to a flat table, and
    * [[Lexical.docFreqPacked]] would count its per-field rows as df.
    */
  private def requirePackedF(post: DataFrame): Unit = {
    val cols = post.columns.toSet
    if (cols.nonEmpty && !Set("dls", "entries").subsetOf(cols))
      throw new IllegalStateException(
        s"BM25F postings store has columns ${post.columns.mkString(", ")}" +
          " — not the packed layout (term, doc_id, dls, entries); " +
          "rebuild it with bootstrapF")
  }

  private def statsPartialF(batch: DataFrame, fields: Seq[Lexical.FieldSpec],
                            tag: String): DataFrame =
    fields.zipWithIndex.map { case (f, i) =>
      batch.select(lit(i).as("field"),
        size(TextFunctions.tokens(col(f.textCol))).cast("long").as("dl"))
    }.reduce(_ unionByName _)
      .groupBy("field")
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
      .withColumn("src_tag", lit(tag))

  /** Bulk-load the multi-field postings store + per-field stats
    * partials. Tagged — a re-run is a no-op.
    */
  def bootstrapF(corpus: DataFrame, fields: Seq[Lexical.FieldSpec],
                 idCol: String, postTx: TxTable, statsTx: TxTable): Unit = {
    // packed rows (round 18) + overlapped commits (the bootstrap/
    // bootstrapP shape, guide §2.6)
    inParallel(
      postTx.appendOnce(
        Lexical.postingsFieldsPacked(corpus, fields, idCol).sort("term"),
        tag = "flexf-baseline"),
      statsTx.appendOnce(statsPartialF(corpus, fields, "flexf-baseline"),
        tag = "flexf-stats-baseline"))
    ()
  }

  /** Incremental multi-field maintainer: doc files → field postings
    * (exactly-once) + one per-field stats partial per batch.
    */
  def runF(spark: org.apache.spark.sql.SparkSession, docsDir: String,
           fields: Seq[Lexical.FieldSpec], postTx: TxTable,
           statsTx: TxTable, checkpointDir: String,
           schema: StructType, idCol: String = "doc_id",
           maxFilesPerTrigger: Int = 1000): StreamingQuery = {
    requirePackedF(postTx.read())
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .parquet(docsDir)
      .writeStream.option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // round 18 — the run()/runP() rationale ported: no
        // localCheckpoint (both commits tokenize for themselves; the
        // eager materialization was one extra job per trigger), delta
        // sorted WITHIN partitions (the factored loop's consumers read
        // the store whole — full/delta generation builds — so the
        // per-trigger global-sort range-sampling job bought nothing),
        // and the two disjoint-table commits overlap (guide §2.6)
        inParallel(
          postTx.appendOnce(
            Lexical.postingsFieldsPacked(batch, fields, idCol)
              .sortWithinPartitions("term"),
            tag = s"flexf-batch-$batchId"),
          statsTx.appendOnce(
            statsPartialF(batch, fields, s"flexf-batch-$batchId"),
            tag = s"flexf-stats-$batchId"))
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
  }

  /** Exact per-field rollup: Seq over field index of (n_docs, sum_dl,
    * avgdl).
    */
  def statsF(statsTx: TxTable, nFields: Int): Seq[(Long, Long, Double)] = {
    val rows = statsTx.read()
      .groupBy("field")
      .agg(sum(col("n_docs")).as("n"), sum(col("sum_dl")).as("s"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    require(rows.size == nFields,
      s"stats store has ${rows.size} fields, expected $nFields — " +
        "bootstrapF first")
    (0 until nFields).map { i =>
      val (n, s) = rows(i)
      (n, s, s.toDouble / n.toDouble)
    }
  }

  private def sidecarRowsF(spark: org.apache.spark.sql.SparkSession,
                           st: Seq[(Long, Long, Double)],
                           postV: Long, satV: Long): DataFrame =
    st.zipWithIndex.map { case ((n, s, a), i) =>
      spark.range(1).select(lit(i).as("field"), lit(n).as("n_docs"),
        lit(s).as("sum_dl"), lit(a).as("avgdl0"),
        lit(postV).as("post_version"), lit(satV).as("sat_version"))
    }.reduce(_ unionByName _)

  private def readSidecarF(sideTx: TxTable)
      : (Seq[(Long, Long, Double)], Long, Long) = {
    val rows = sideTx.read()
      .select("field", "n_docs", "sum_dl", "avgdl0", "post_version",
        "sat_version")
      .collect().sortBy(_.getInt(0))
    (rows.map(r => (r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq,
      rows.head.getLong(4), rows.head.getLong(5))
  }

  /** Full BM25F factored build + publish (the [[buildFactoredGeneration]]
    * shape with the per-field avgdl vector baked).
    */
  def buildFactoredGenerationF(gens: AnnGenerations, postTx: TxTable,
                               statsTx: TxTable, satTx: TxTable,
                               fields: Seq[Lexical.FieldSpec],
                               k1: Double = 1.2): Long = {
    val st = statsF(statsTx, fields.length)
    val postV = postTx.latestVersion()
    val post = postTx.read(Some(postV))
    requirePackedF(post)
    post.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val satV = satTx.overwrite(
      Lexical.bm25fSatFromPackedPostings(post, st.map(_._3), fields, k1)
        .sort("term"))
    val (g, dfTx, sideTx) = gens.next()
    dfTx.appendOnce(Lexical.docFreqPacked(post).sort("term"),
      tag = s"flexf-df-$g")
    post.unpersist()
    sideTx.appendOnce(
      sidecarRowsF(statsTx.read().sparkSession, st, postV, satV),
      tag = s"flexf-side-$g")
    gens.publish(g)
    g
  }

  /** BM25F refresh loop: N outside its band with EVERY field's avgdl
    * inside its band → DELTA build (sat rows for the appended postings
    * at the baked avgdl vector; any-field df = old ⊕ delta distinct
    * counts); any avgdl out of band, or a non-append-pure range →
    * full re-bake.
    */
  def refreshFactoredF(gens: AnnGenerations, postTx: TxTable,
                       statsTx: TxTable, satTx: TxTable,
                       fields: Seq[Lexical.FieldSpec],
                       nThresholdPermille: Long = 100,
                       avgdlBandPermille: Long = 100,
                       k1: Double = 1.2): FactoredRefresh = {
    requirePackedF(postTx.read())
    val cur = gens.current().getOrElse(throw new IllegalStateException(
      "refreshFactoredF before any factored generation — " +
        "buildFactoredGenerationF first"))
    val (_, dfTxOld, sideTx) = cur
    val (st0, postV0, satV0) = readSidecarF(sideTx)
    val stNow = statsF(statsTx, fields.length)
    val nPermille =
      math.round(1000.0 * stNow.head._1.toDouble / st0.head._1.toDouble)
    val nStale = math.abs(nPermille - 1000) > nThresholdPermille
    val avgdlStale = st0.zip(stNow).exists { case ((_, _, a0), (_, _, a1)) =>
      math.abs(math.round(1000.0 * a1 / a0) - 1000) > avgdlBandPermille
    }
    // capture the postings head ONCE: the guard and the delta read must
    // see the same version — a commit landing between two latestVersion()
    // calls would pass the guard at one version and abort the range read
    // at another (the single-field path's device)
    val postVNow = postTx.latestVersion()
    if (!nStale && !avgdlStale) FactoredFresh
    else if (avgdlStale || !postTx.isAppendPure(postV0, postVNow) ||
        satTx.latestVersion() != satV0)
      // avgdl out of band, a compacted/overwritten postings range, or a
      // sat log ahead of the published pin (a crashed run's orphan
      // commit — a delta append would overlap it and serve duplicate
      // sat rows): the full build's versioned overwrite resets all three
      FactoredFull(buildFactoredGenerationF(gens, postTx, statsTx, satTx,
        fields, k1))
    else {
      val delta = postTx.readAppendedSince(postV0, Some(postVNow))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      satTx.appendOnce(
        Lexical.bm25fSatFromPackedPostings(delta, st0.map(_._3), fields, k1)
          .sort("term"),
        tag = s"flexf-sat-$postV0-$postVNow")
      val satV = satTx.latestVersion()
      val (g, dfTx, sideTxNew) = gens.next()
      val merged = dfTxOld.read().select(col("term"), col("df").as("df0"))
        .join(Lexical.docFreqPacked(delta)
          .select(col("term"), col("df").as("df1")),
          Seq("term"), "full_outer")
        .select(col("term"),
          (coalesce(col("df0"), lit(0L)) + coalesce(col("df1"), lit(0L)))
            .as("df"))
      dfTx.appendOnce(merged.sort("term"), tag = s"flexf-df-$g")
      delta.unpersist()
      sideTxNew.appendOnce(
        sidecarRowsF(statsTx.read().sparkSession,
          stNow.zip(st0).map { case ((n, s, _), (_, _, a0)) => (n, s, a0) },
          postVNow, satV),
        tag = s"flexf-side-$g")
      gens.publish(g)
      FactoredDelta(g)
    }
  }

  /** Serve the published BM25F factored generation — the SAME shared
    * factored path as single-field serving (idf on the query side ×
    * the pinned sat snapshot).
    */
  def serveFactoredF(gens: AnnGenerations, satTx: TxTable,
                     queries: DataFrame, qTextCol: String, qIdCol: String,
                     k: Int): DataFrame = {
    val (_, dfTx, sideTx) = gens.current().getOrElse(
      throw new IllegalStateException(
        "serveFactoredF before any factored generation"))
    val (st, _, satV) = readSidecarF(sideTx)
    Lexical.bm25TopKFromFactoredStore(satTx.read(Some(satV)),
      dfTx.read(), st.head._1, queries, qTextCol, qIdCol, k)
  }
}
