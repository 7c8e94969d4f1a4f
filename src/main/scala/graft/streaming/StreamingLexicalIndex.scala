package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

import graft.bank.TxTable
import graft.functions.TextFunctions
import graft.operators.Lexical

/** Incremental maintenance for the BM25 lexical store — the
  * [[StreamingAnnIndex]] loop applied to text retrieval. One lifecycle
  * serves three postings layouts:
  *
  *   - FLAT ([[Lexical.postings]]: term, doc, dl, tf) — the BM25 store
  *     (`bootstrap`, `run`, `serve`, the factored generations);
  *   - POSITIONAL ([[Lexical.postingsPositional]]: flat + positions) —
  *     phrase and SDM serving (`bootstrapP`, `runP`, `servePhrase`,
  *     `serveSdm`);
  *   - PACKED BM25F ([[Lexical.postingsFieldsPacked]]: one row per
  *     (term, doc) with the per-field entries) — the field-aware
  *     factored generations (`bootstrapF`, `runF`, `…FactoredF`).
  *
  * Each step — bootstrap, the AvailableNow maintainer with its
  * compaction cadence, the stats rollup, the full factored build, the
  * refresh decision with its delta build, factored serving — has one
  * body, parameterized by a [[PostingsLayout]] that carries what
  * differs: row encoder, stats partial and rollup, sat and df builders,
  * sidecar codec, tag prefixes, and the store check.
  *
  * The split of what stays fresh and what goes stale:
  *
  *   - RAW POSTINGS are PER-DOCUMENT facts — they never go stale.
  *     Arriving documents encode scan-locally (a per-row hash count, no
  *     shuffle, no state) and commit exactly-once per micro-batch
  *     (`appendOnce` batch tags), term-sorted so a query's
  *     `term IN (...)` prunes row groups. The maintained store is
  *     row-SET equal to a from-scratch build under any batching — the
  *     q178 oracle.
  *   - CORPUS STATS (N, Σdl — per field for BM25F) are pure sums: each
  *     batch appends a kilobyte partial; the rollup is exact, and the
  *     served avgdl is the same single division the batch
  *     [[Lexical.corpusStats]] computes.
  *   - df/idf are computed LIVE at query time from a term-pruned slice
  *     ([[Lexical.bm25TopKLive]]) — so the maintained-raw serving path
  *     is ALWAYS exact (q179). What DOES go stale is a PRECOMPUTED
  *     store baked at (N, avgdl, df): the monolithic contrib store
  *     ([[buildGeneration]], q180) and the factored sat/df generations
  *     ([[refreshFactored]], q182). Both are managed as
  *     [[AnnGenerations]] published through the atomic pointer swap,
  *     and both go stale by the one permille rule ([[outside]]).
  */
object StreamingLexicalIndex {

  def docSchema(idCol: String = "doc_id",
                textCol: String = "text"): StructType =
    StructType.fromDDL(s"$idCol BIGINT, $textCol STRING")

  import ParallelCommits.inParallel

  /** Per-field exact rollup: (N, Σdl, avgdl). */
  private type FieldStats = Seq[(Long, Long, Double)]

  /** What differs between the postings layouts of a maintained store:
    * the `appendOnce` tag prefixes of the maintainer (`tag`) and of the
    * factored generations (`genTag`), the suffix of the layout's entry
    * names for messages (`entry`), and whether stats and sidecar rows
    * are one per field, keyed by `field` (`perField`). Tags and column
    * sets are on-disk facts: a replayed batch from an existing
    * checkpoint must meet the tag it committed under.
    */
  private sealed abstract class PostingsLayout(val tag: String,
                                               val genTag: String,
                                               val entry: String,
                                               val perField: Boolean) {
    /** `src_tag` of batch `id`'s stats partial. */
    def batchSrc(id: Long): String = s"$tag-batch-$id"
    /** `textCol` names the text of a single-field layout. */
    def rows(docs: DataFrame, textCol: String, idCol: String): DataFrame
    def partial(docs: DataFrame, textCol: String, srcTag: String): DataFrame
    def rollup(statsTx: TxTable): FieldStats
    def sat(post: DataFrame, avgdl0: Seq[Double], k1: Double,
            b: Double): DataFrame
    def docFreq(post: DataFrame): DataFrame

    /** A generation's sidecar: the baked (N, Σdl, avgdl₀) per field and
      * the pinned postings and sat versions.
      */
    def sidecar(spark: SparkSession, st: FieldStats, postV: Long,
                satV: Long): DataFrame =
      st.zipWithIndex.map { case ((n, s, a), i) =>
        val row = Seq(lit(n).as("n_docs"), lit(s).as("sum_dl"),
          lit(a).as("avgdl0"), lit(postV).as("post_version"),
          lit(satV).as("sat_version"))
        spark.range(1)
          .select((if (perField) lit(i).as("field") +: row else row): _*)
      }.reduce(_ unionByName _)

    def readSidecar(sideTx: TxTable): (FieldStats, Long, Long) = {
      val rows = sideTx.read().collect()
        .sortBy(r => if (perField) r.getAs[Int]("field") else 0)
      def long(c: String) = rows.head.getAs[Long](c)
      (rows.toSeq.map(r => (r.getAs[Long]("n_docs"), r.getAs[Long]("sum_dl"),
        r.getAs[Double]("avgdl0"))), long("post_version"), long("sat_version"))
    }

    /** Fails unless `post` holds this layout; by-name, so a layout with
      * no check never reads the store.
      */
    def check(post: => DataFrame): Unit = ()
  }

  /** One text column, encoded by `encode(docs, textCol, idCol)`. */
  private sealed abstract class SingleField(
      tag: String, entry: String,
      encode: (DataFrame, String, String) => DataFrame)
      extends PostingsLayout(tag, "flex", entry, perField = false) {
    def rows(docs: DataFrame, textCol: String, idCol: String): DataFrame =
      encode(docs, textCol, idCol)
    def partial(docs: DataFrame, textCol: String,
                srcTag: String): DataFrame =
      docs
        .select(size(TextFunctions.tokens(col(textCol))).cast("long")
          .as("dl"))
        .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
        .withColumn("src_tag", lit(srcTag))
    def rollup(statsTx: TxTable): FieldStats = Seq(stats(statsTx))
    def sat(post: DataFrame, avgdl0: Seq[Double], k1: Double,
            b: Double): DataFrame =
      Lexical.bm25SatFromPostings(post, avgdl0.head, k1, b)
    def docFreq(post: DataFrame): DataFrame = Lexical.docFreq(post)
  }

  private case object Flat extends SingleField("lex", "", Lexical.postings)

  /** Positional postings are per-document facts exactly like the flat
    * layout; phrase/SDM serving slices the term-sorted store to the
    * query's terms instead of rebuilding it per call.
    */
  private case object Positional
      extends SingleField("lexpos", "P", Lexical.postingsPositional) {
    // the src_tag positional stores have always carried
    override def batchSrc(id: Long): String = s"lexpos-stats-src-$id"
  }

  /** BM25F: ONE row per (term, doc) with the field-asc (field, tf)
    * entries and the per-doc dls vector, so every generation build
    * folds the pseudo-frequency SCAN-LOCALLY (no (term, doc)-keyed
    * exchange) and any-field df is a plain row count. A doc's rows
    * across all fields arrive in its batch, so the delta algebra holds
    * unchanged; the baked scalar is the per-field avgdl vector. Sat
    * doubles are bit-identical to the flat one-row-per-(field, term,
    * doc) fold (LexicalSpec, StreamingLexicalIndexSpec), and a store in
    * that flat layout is refused, never misread.
    */
  private final case class Packed(fields: Seq[Lexical.FieldSpec])
      extends PostingsLayout("flexf", "flexf", "F", perField = true) {
    def rows(docs: DataFrame, textCol: String, idCol: String): DataFrame =
      Lexical.postingsFieldsPacked(docs, fields, idCol)
    def partial(docs: DataFrame, textCol: String,
                srcTag: String): DataFrame =
      fields.zipWithIndex.map { case (f, i) =>
        docs.select(lit(i).as("field"),
          size(TextFunctions.tokens(col(f.textCol))).cast("long").as("dl"))
      }.reduce(_ unionByName _)
        .groupBy("field")
        .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
        .withColumn("src_tag", lit(srcTag))
    def rollup(statsTx: TxTable): FieldStats = {
      val rows = statsTx.read().groupBy("field")
        .agg(sum(col("n_docs")).as("n"), sum(col("sum_dl")).as("s"))
        .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
      require(rows.size == fields.length,
        s"stats store has ${rows.size} fields, expected ${fields.length} — " +
          "bootstrapF first")
      fields.indices.map(rows).map { case (n, s) => (n, s, s.toDouble / n) }
    }
    def sat(post: DataFrame, avgdl0: Seq[Double], k1: Double,
            b: Double): DataFrame =
      Lexical.bm25fSatFromPackedPostings(post, avgdl0, fields, k1)
    def docFreq(post: DataFrame): DataFrame = Lexical.docFreqPacked(post)
    // a flat-layout store would be misread: packed batches would append
    // to a flat table, and docFreqPacked would count its per-field rows
    override def check(post: => DataFrame): Unit = {
      val cols = post.columns
      if (cols.nonEmpty && !Set("dls", "entries").subsetOf(cols.toSet))
        throw new IllegalStateException(
          s"BM25F postings store has columns ${cols.mkString(", ")}" +
            " — not the packed layout (term, doc_id, dls, entries); " +
            "rebuild it with bootstrapF")
    }
  }

  // ─────────────────────── the lifecycle, once ───────────────────────

  /** Bulk-load the postings store + the baseline stats partial. Both
    * commits are tagged — a re-run is a no-op.
    */
  private def load(layout: PostingsLayout, corpus: DataFrame,
                   textCol: String, idCol: String,
                   postTx: TxTable, statsTx: TxTable): Unit = {
    val t = layout.tag
    inParallel(
      postTx.appendOnce(layout.rows(corpus, textCol, idCol).sort("term"),
        tag = s"$t-baseline"),
      statsTx.appendOnce(layout.partial(corpus, textCol, s"$t-baseline"),
        tag = s"$t-stats-baseline"))
    ()
  }

  /** Start (by default drain) the incremental maintainer: parquet doc
    * files under `docsDir` → postings rows (exactly-once) + one stats
    * partial per batch. `compactEvery` > 0 re-sorts the whole store by
    * term every N batches (the [[StreamingAnnIndex.run]] policy — a
    * long-lived store otherwise overlaps every batch's term range and
    * query pruning degrades to file count).
    */
  private def maintain(layout: PostingsLayout, spark: SparkSession,
                       docsDir: String, schema: StructType,
                       textCol: String, idCol: String, postTx: TxTable,
                       statsTx: TxTable, checkpointDir: String,
                       availableNow: Boolean, maxFilesPerTrigger: Int,
                       compactEvery: Int): StreamingQuery = {
    layout.check(postTx.read())
    val writer = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .parquet(docsDir).writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // No localCheckpoint of the batch: both commits tokenize for
        // themselves, and foreachBatch re-executes over the trigger's
        // pinned file list, so the two reads are deterministic; an
        // eager materialization would cost one job per trigger plus a
        // block-manager copy of the raw text. Delta appends sort WITHIN
        // partitions (term-clustered files for row-group pruning): a
        // global sort of an arrival-sized delta pays a range-sampling
        // job + exchange per trigger, and the scheduled compaction
        // below is what restores store-wide disjoint term ranges.
        val t = layout.tag
        inParallel(
          postTx.appendOnce(
            layout.rows(batch, textCol, idCol).sortWithinPartitions("term"),
            tag = s"$t-batch-$batchId"),
          statsTx.appendOnce(
            layout.partial(batch, textCol, layout.batchSrc(batchId)),
            tag = s"$t-stats-$batchId"))
        if (compactEvery > 0 && (batchId + 1) % compactEvery == 0) {
          inParallel(postTx.compact(Seq("term")), statsTx.compact())
          ()
        }
      }
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer)
      .start()
  }

  /** [[load]] the flat store: [[Lexical.postings]] rows. */
  def bootstrap(corpus: DataFrame, idCol: String, textCol: String,
                postTx: TxTable, statsTx: TxTable): Unit =
    load(Flat, corpus, textCol, idCol, postTx, statsTx)

  /** [[maintain]] the flat store. */
  def run(spark: SparkSession, docsDir: String, postTx: TxTable,
          statsTx: TxTable, checkpointDir: String, idCol: String = "doc_id",
          textCol: String = "text", availableNow: Boolean = true,
          maxFilesPerTrigger: Int = 1000,
          compactEvery: Int = 0): StreamingQuery =
    maintain(Flat, spark, docsDir, docSchema(idCol, textCol), textCol,
      idCol, postTx, statsTx, checkpointDir, availableNow,
      maxFilesPerTrigger, compactEvery)

  /** [[load]] the positional store: [[Lexical.postingsPositional]]
    * rows.
    */
  def bootstrapP(corpus: DataFrame, idCol: String, textCol: String,
                 postTx: TxTable, statsTx: TxTable): Unit =
    load(Positional, corpus, textCol, idCol, postTx, statsTx)

  /** [[maintain]] the positional store. */
  def runP(spark: SparkSession, docsDir: String, postTx: TxTable,
           statsTx: TxTable, checkpointDir: String, idCol: String = "doc_id",
           textCol: String = "text", availableNow: Boolean = true,
           maxFilesPerTrigger: Int = 1000,
           compactEvery: Int = 0): StreamingQuery =
    maintain(Positional, spark, docsDir, docSchema(idCol, textCol),
      textCol, idCol, postTx, statsTx, checkpointDir, availableNow,
      maxFilesPerTrigger, compactEvery)

  /** [[load]] the packed BM25F store: [[Lexical.postingsFieldsPacked]]
    * rows and per-field stats partials; `fields` name the text columns.
    */
  def bootstrapF(corpus: DataFrame, fields: Seq[Lexical.FieldSpec],
                 idCol: String, postTx: TxTable, statsTx: TxTable): Unit =
    load(Packed(fields), corpus, "", idCol, postTx, statsTx)

  /** [[maintain]] the packed BM25F store (drains; no compaction). A
    * store in another layout is refused.
    */
  def runF(spark: SparkSession, docsDir: String,
           fields: Seq[Lexical.FieldSpec], postTx: TxTable, statsTx: TxTable,
           checkpointDir: String, schema: StructType, idCol: String = "doc_id",
           maxFilesPerTrigger: Int = 1000): StreamingQuery =
    maintain(Packed(fields), spark, docsDir, schema, "", idCol, postTx,
      statsTx, checkpointDir, availableNow = true, maxFilesPerTrigger,
      compactEvery = 0)

  /** The term-pruned slice + stats-row pair every maintained
    * positional server shares; the query-term collect and the stats
    * rollup are independent driver actions (guide §2.6) — overlapped.
    */
  private def slicedWithStats(postTx: TxTable, statsTx: TxTable,
                              queries: DataFrame, qTextCol: String,
                              maxQueryTerms: Int)
      : (DataFrame, DataFrame) = {
    val (slice, (n, _, avgdl)) = inParallel(
      Lexical.querySlice(postTx.read(), queries, qTextCol, maxQueryTerms),
      stats(statsTx))
    (slice, queries.sparkSession.range(1).select(lit(n).as("n_docs"),
      lit(avgdl).as("avgdl")))
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
    val (n, s) = (r.getLong(0), r.getLong(1))
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

  /** `now` against the baked `baked` in permille: 1000 = parity (the
    * drift_permille convention).
    */
  private def permille(now: Double, baked: Double): Long =
    math.round(1000.0 * now / baked)

  /** The one staleness rule: a permille further than `band` from
    * parity.
    */
  private def outside(permille: Long, band: Long): Boolean =
    math.abs(permille - 1000) > band

  /** Build + PUBLISH a monolithic contrib-store generation from the
    * maintained flat postings and the current stats rollup. contrib
    * bakes (N, avgdl, df) at build time; the generation's sidecar
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
    * permille ratios of N and avgdl (1000 = parity). None before any
    * generation exists.
    */
  final case class StaleReport(gen: Long, nGen: Long, nNow: Long,
                               avgdlGen: Double, avgdlNow: Double,
                               nPermille: Long, avgdlPermille: Long)

  def staleReport(gens: AnnGenerations, statsTx: TxTable)
      : Option[StaleReport] =
    gens.current().map { case (g, _, genStatsTx) =>
      val (nGen, _, avgdlGen) = stats(genStatsTx)
      val (nNow, _, avgdlNow) = stats(statsTx)
      StaleReport(g, nGen, nNow, avgdlGen, avgdlNow,
        permille(nNow.toDouble, nGen.toDouble), permille(avgdlNow, avgdlGen))
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
      val fire = outside(rep.nPermille, thresholdPermille) ||
        outside(rep.avgdlPermille, thresholdPermille)
      if (!fire) None
      else Some(buildGeneration(gens, postTx, statsTx, k1, b,
        maxPostingsPerTerm))
    }

  // ---- FACTORED generations: arrival-sized refreshes. ----
  //
  // The monolithic contrib store must rebuild CORPUS-sized on every
  // staleness fire, because contrib bakes all three globals (N, df,
  // avgdl) into one float. The factored store splits them by WHAT
  // actually invalidates them:
  //
  //   - sat = tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl₀)) (BM25F: the field
  //     fold of the pseudo-frequency) — a per-document fact once avgdl₀
  //     is baked. Lives in ONE long-lived TxTable; arriving postings
  //     append exactly their own sat rows (arrival-sized), and a
  //     generation pins the sat VERSION it serves (TxTable time travel
  //     = snapshot isolation between generations for free).
  //   - idf(N, df) — moves with EVERY arrival, but is only
  //     VOCABULARY-sized. Each generation carries a full df table; the
  //     incremental build derives it as old-df ⊕ delta-term-counts
  //     (a vocab-sized merge — never a corpus-sized docFreq pass; a
  //     delta doc is NEW, so the sum stays integer-exact).
  //   - avgdl₀ — the one baked scalar (per field for BM25F). While
  //     every live avgdl stays inside `avgdlBandPermille`, refreshes
  //     take the DELTA path; once one drifts out, the loop re-bakes sat
  //     for the whole corpus (a full build, the documented floor) via a
  //     versioned OVERWRITE of the sat table — old generations keep
  //     reading their pinned pre-overwrite snapshots.
  //
  // Serving a factored generation is exact BM25 at (N_live, df_live,
  // avgdl₀): idf computes on the query side from the generation's df
  // table, contrib = idf × sat (one multiply per candidate). A served
  // top-k is BIT-IDENTICAL to a from-scratch factored rebuild at the
  // same (N, avgdl₀) — spec-pinned — because df merge arithmetic is
  // integer-exact and sat/idf/fold expressions are shared.

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

  /** Open the next generation, commit its df table, release the
    * persisted postings `src`, commit the sidecar — the baked stats and
    * the pinned postings and sat versions — and publish it.
    */
  private def publish(layout: PostingsLayout, gens: AnnGenerations,
                      df: DataFrame, src: DataFrame, statsTx: TxTable,
                      st: FieldStats, postV: Long, satV: Long): Long = {
    val (g, dfTx, sideTx) = gens.next()
    dfTx.appendOnce(df.sort("term"), tag = s"${layout.genTag}-df-$g")
    src.unpersist()
    sideTx.appendOnce(
      layout.sidecar(statsTx.read().sparkSession, st, postV, satV),
      tag = s"${layout.genTag}-side-$g")
    gens.publish(g)
    g
  }

  /** Full factored build + publish: bake avgdl from the current
    * rollup, OVERWRITE the sat table (a fresh avgdl₀ epoch — prior
    * generations keep their pinned versions), write the df table into
    * a fresh generation, publish. Returns the generation.
    */
  private def buildFactored(layout: PostingsLayout, gens: AnnGenerations,
                            postTx: TxTable, statsTx: TxTable,
                            satTx: TxTable, k1: Double, b: Double): Long = {
    val st = layout.rollup(statsTx)
    val postV = postTx.latestVersion()
    val post = postTx.read(Some(postV))
    layout.check(post)
    post.persist(StorageLevel.MEMORY_AND_DISK)
    val satV = satTx.overwrite(
      layout.sat(post, st.map(_._3), k1, b).sort("term"))
    publish(layout, gens, layout.docFreq(post), post, statsTx, st, postV,
      satV)
  }

  /** The incremental refresh loop. N outside `nThresholdPermille` with
    * every avgdl still inside `avgdlBandPermille` → DELTA build: sat
    * rows for the postings appended since the generation's pinned
    * version (read via the log-level file diff — never a corpus scan),
    * df = old df ⊕ delta term counts (vocab-sized merge), fresh
    * generation, atomic swap. An avgdl out of band, or a postings range
    * that is not append-pure → full re-bake. Both axes in band →
    * [[FactoredFresh]].
    */
  private def refresh(layout: PostingsLayout, gens: AnnGenerations,
                      postTx: TxTable, statsTx: TxTable, satTx: TxTable,
                      nThresholdPermille: Long, avgdlBandPermille: Long,
                      k1: Double, b: Double): FactoredRefresh = {
    layout.check(postTx.read())
    val e = layout.entry
    val (_, dfTxOld, sideTx) = gens.current().getOrElse(
      throw new IllegalStateException(s"refreshFactored$e before any " +
        s"factored generation — buildFactoredGeneration$e first"))
    val (st0, postV0, satV0) = layout.readSidecar(sideTx)
    val stNow = layout.rollup(statsTx)
    val nStale = outside(permille(stNow.head._1.toDouble,
      st0.head._1.toDouble), nThresholdPermille)
    val avgdlStale = st0.zip(stNow).exists { case ((_, _, a0), (_, _, a)) =>
      outside(permille(a, a0), avgdlBandPermille)
    }
    if (!nStale && !avgdlStale) FactoredFresh
    else {
      // capture the postings head ONCE: the guard and the delta read
      // must see the same version — a commit landing between two
      // latestVersion() calls would pass the guard at one version and
      // abort the range read at another
      val postVNow = postTx.latestVersion()
      if (avgdlStale || !postTx.isAppendPure(postV0, postVNow) ||
          satTx.latestVersion() != satV0)
        // compaction rewrote the range (the file-level delta would
        // double-count), OR the sat log is ahead of the published
        // generation's pin — a crashed run committed sat rows for some
        // (postV0, postV'] and died before publishing, so a delta append
        // here would OVERLAP that orphan range and the new pin would
        // serve duplicate (term, doc) sat rows, silently inflating every
        // fold. The full build's versioned OVERWRITE clears the orphans.
        FactoredFull(buildFactored(layout, gens, postTx, statsTx, satTx,
          k1, b))
      else {
        val delta = postTx.readAppendedSince(postV0, Some(postVNow))
          .persist(StorageLevel.MEMORY_AND_DISK)
        // content-range tag: a crashed run that already committed this
        // exact delta range no-ops here, and the pinned version below
        // still covers its rows exactly once
        satTx.appendOnce(
          layout.sat(delta, st0.map(_._3), k1, b).sort("term"),
          tag = s"${layout.genTag}-sat-$postV0-$postVNow")
        val merged = dfTxOld.read().select(col("term"), col("df").as("df0"))
          .join(layout.docFreq(delta).select(col("term"), col("df").as("df1")),
            Seq("term"), "full_outer")
          .select(col("term"),
            (coalesce(col("df0"), lit(0L)) + coalesce(col("df1"), lit(0L)))
              .as("df"))
        FactoredDelta(publish(layout, gens, merged, delta, statsTx,
          stNow.zip(st0).map { case ((n, s, _), (_, _, a0)) => (n, s, a0) },
          postVNow, satTx.latestVersion()))
      }
    }
  }

  /** Serve the published factored generation: sat at its pinned
    * version × the generation's df table × the baked doc count —
    * exact BM25 at (N, df, avgdl₀) as of the generation build.
    */
  private def serveGeneration(layout: PostingsLayout, gens: AnnGenerations,
                              satTx: TxTable, queries: DataFrame,
                              qTextCol: String, qIdCol: String,
                              k: Int): DataFrame = {
    val (_, dfTx, sideTx) = gens.current().getOrElse(
      throw new IllegalStateException(
        s"serveFactored${layout.entry} before any factored generation"))
    val (st, _, satV) = layout.readSidecar(sideTx)
    Lexical.bm25TopKFromFactoredStore(satTx.read(Some(satV)),
      dfTx.read(), st.head._1, queries, qTextCol, qIdCol, k)
  }

  /** [[buildFactored]] over the flat store. */
  def buildFactoredGeneration(gens: AnnGenerations, postTx: TxTable,
                              statsTx: TxTable, satTx: TxTable,
                              k1: Double = 1.2, b: Double = 0.75): Long =
    buildFactored(Flat, gens, postTx, statsTx, satTx, k1, b)

  /** [[refresh]] the flat store's factored generation. */
  def refreshFactored(gens: AnnGenerations, postTx: TxTable,
                      statsTx: TxTable, satTx: TxTable,
                      nThresholdPermille: Long = 100,
                      avgdlBandPermille: Long = 100,
                      k1: Double = 1.2, b: Double = 0.75)
      : FactoredRefresh =
    refresh(Flat, gens, postTx, statsTx, satTx, nThresholdPermille,
      avgdlBandPermille, k1, b)

  /** [[serveGeneration]] of the flat store. */
  def serveFactored(gens: AnnGenerations, satTx: TxTable, queries: DataFrame,
                    qTextCol: String, qIdCol: String, k: Int): DataFrame =
    serveGeneration(Flat, gens, satTx, queries, qTextCol, qIdCol, k)

  /** [[buildFactored]] over the packed BM25F store, at the per-field
    * avgdl vector (each field's b rides in its spec).
    */
  def buildFactoredGenerationF(gens: AnnGenerations, postTx: TxTable,
                               statsTx: TxTable, satTx: TxTable,
                               fields: Seq[Lexical.FieldSpec],
                               k1: Double = 1.2): Long =
    buildFactored(Packed(fields), gens, postTx, statsTx, satTx, k1, b = 0)

  /** [[refresh]] the packed BM25F store's factored generation: any
    * field's avgdl out of band re-bakes.
    */
  def refreshFactoredF(gens: AnnGenerations, postTx: TxTable,
                       statsTx: TxTable, satTx: TxTable,
                       fields: Seq[Lexical.FieldSpec],
                       nThresholdPermille: Long = 100,
                       avgdlBandPermille: Long = 100,
                       k1: Double = 1.2): FactoredRefresh =
    refresh(Packed(fields), gens, postTx, statsTx, satTx,
      nThresholdPermille, avgdlBandPermille, k1, b = 0)

  /** [[serveGeneration]] of the packed BM25F store; the sidecar, not
    * the field specs, carries what serving needs.
    */
  def serveFactoredF(gens: AnnGenerations, satTx: TxTable, queries: DataFrame,
                     qTextCol: String, qIdCol: String, k: Int): DataFrame =
    serveGeneration(Packed(Nil), gens, satTx, queries, qTextCol, qIdCol, k)
}
