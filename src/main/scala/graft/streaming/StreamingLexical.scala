package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.TopK

/** Streaming BM25 serving — a live query stream against a static
  * precomputed postings store ([[graft.operators.Lexical.bm25Store]]):
  * the lexical twin of [[StreamingSimilarity.ivfAdcStream]]. Arriving
  * queries tokenize scan-local, stream-static equi-join the store on
  * `term` (the corpus never streams, never shuffles per trigger), and
  * emit their top-k when the watermark closes the window.
  *
  * Two chained windowed aggregations (legal append-mode stateful
  * chaining): the first folds a query's per-document score from its
  * matched term contributions — state is the per-(window, query, doc)
  * contribution buffer, ≤ |query terms| entries per row, bounded by
  * the candidate count (Σ df over the query's terms — the classic
  * postings-traversal cost, same shape [[StreamingSimilarity]]'s
  * annStream documents); the second is the bounded [[TopK]] heap, so
  * everything after the per-doc fold clamps at k entries per query in
  * every partial, every shuffle, and the state row.
  *
  * Scores are the batch [[graft.operators.Lexical.bm25TopK]] values
  * bit for bit: contributions fold in term-asc order, rank orders by
  * the ROUND-6 score with a doc-id tiebreak.
  *
  * Output (append changelog): `window_ns, q_id, doc_id, score, rank`.
  *
  * OPERATIONAL NOTE (round 15, measured on the ADC twin): size
  * `spark.sql.shuffle.partitions` — which fixes the state partition
  * count at checkpoint creation — to the STATE (per-query top-k rows),
  * not the data, and set it AFTER persisting the store so the cached
  * term layout keeps the join's scan parallelism; default-width
  * stateful operators otherwise pay dozens of near-empty state-store
  * commits per trigger (BASELINE's stream-partitions table).
  */
object StreamingLexical {

  /** `statePartitions`: size the stream's state partition count to the
    * state (per-query top-k rows) instead of the session default —
    * requires `store` persisted; see [[StatePartitions.pin]] for the
    * ordering guarantee this option enforces (cached store layout is
    * materialized under the wide conf BEFORE the conf narrows).
    */
  def bm25Stream(queries: DataFrame, store: DataFrame,
                 qIdCol: String, qTextCol: String, tsCol: String,
                 k: Int,
                 watermark: String = "10 seconds",
                 windowDur: String = "6 hours",
                 statePartitions: Option[Int] = None,
                 maxQueriesPerTrigger: Option[Int] = None): DataFrame =
    bm25RankedW(gated(queries, maxQueriesPerTrigger, qIdCol, qTextCol,
        tsCol),
      store, qIdCol, qTextCol, tsCol, k,
      watermark, windowDur, statePartitions)
      .select(expr("unix_micros(w.start) * 1000").as("window_ns"),
        col("q_id"), col("doc_id"), col("score"), col("rank"))

  /** `maxQueriesPerTrigger`: per-trigger admission bounding
    * ([[AdmissionGate.perTrigger]]) — the serving fold's state is
    * candidate-volume-sized per ADMITTED query, so bounding admission
    * bounds trigger memory whatever the source's batching.
    */
  private def gated(queries: DataFrame, maxQueriesPerTrigger: Option[Int],
                    qIdCol: String, qTextCol: String,
                    tsCol: String): DataFrame =
    maxQueriesPerTrigger match {
      case Some(n) =>
        AdmissionGate.perTrigger(queries, n, qIdCol, qTextCol, tsCol)
      case None => queries
    }

  /** [[bm25Stream]] up to the ranked tier output, KEEPING the window
    * struct (`w, q_id, doc_id, score, rank`) so a downstream stateful
    * fusion stage ([[StreamingHybrid]]) can chain another windowed
    * aggregation on the same event time — the window attribute carries
    * the event-time tag through the projection.
    */
  private[streaming] def bm25RankedW(
      queries: DataFrame, store: DataFrame,
      qIdCol: String, qTextCol: String, tsCol: String,
      k: Int, watermark: String, windowDur: String,
      statePartitions: Option[Int]): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    statePartitions.foreach(StatePartitions.pin(store, _))
    val qTerms = queries
      .select(col(qIdCol).cast("long").as("q_id"),
        col(qTextCol).as("qtext"),
        timestamp_micros(expr(s"$tsCol div 1000")).as("_ts"))
      .withWatermark("_ts", watermark)
      .dropDuplicatesWithinWatermark("q_id")
      .select(col("q_id"), col("_ts"),
        posexplode(array_sort(
          graft.operators.Lexical.queryTerms(col("qtext"))))
          .as(Seq("r0", "term")))
      .select(col("q_id"), col("_ts"),
        (col("r0") + 1).cast("long").as("tr"), col("term"))
    val perDoc = qTerms
      .join(store.select(col("term"), col("doc_id"), col("contrib")),
        Seq("term"))
      .groupBy(window(col("_ts"), windowDur).as("w"),
        col("q_id"), col("doc_id"))
      // native ordered fold (round 17): the per-(window, query, doc)
      // state row becomes one serialized primitive buffer instead of a
      // sorted struct-array column — same key-asc float sum from +0.0.
      // Round 18: keyed by the per-query term RANK (rank-asc ≡
      // term-asc — the queryTermsRanked surrogate), so state rows hold
      // one long per entry instead of the term string; scores stay
      // bit-identical to the batch fold (stream ≡ batch specs and the
      // window-stamped oracles pin it)
      .agg(TopK.orderedFoldSumLong(col("tr"), col("contrib")).as("s"))
      .withColumn("score", round(col("s"), 6))
    perDoc
      .groupBy(col("w").as("w2"), col("q_id"))
      .agg(TopK.topKNative(k, negate(col("score")), col("doc_id"))
        .as("top"))
      .select(col("w2"), col("q_id"),
        posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("w2").as("w"),
        col("q_id"), col("t.id").as("doc_id"),
        negate(col("t.d")).as("score"),
        (col("pos") + 1).cast("int").as("rank"))
  }

  /** MaxScore-pruned streaming BM25 serving (round 17): the live twin
    * of [[graft.operators.Lexical.bm25TopKMaxScore]] — EXACT top-k,
    * bit-identical to [[bm25Stream]] over the same untruncated store,
    * with per-trigger state bounded by the PRUNED candidate volume
    * instead of Σ df. [[bm25Stream]]'s first fold holds one state row
    * per (window, query, candidate doc) — Σ df over the query's terms —
    * which is the measured 28 GiB OOM at 10³ stopword-laden queries per
    * trigger (BASELINE "Streaming hybrid fusion"); batch MaxScore
    * proved an 83–94× candidate reduction with bit-identical rows.
    * This surface ports that reduction into the trigger.
    *
    * Four chained windowed stateful aggregations (the
    * [[StreamingHybrid]] append-chaining device), with the θ/bound
    * machinery PACKED so it never adds corpus-sized state:
    *
    *  1. BOUNDS: arriving query terms stream-static join the TRUNCATED
    *     store and collect per (window, query) into one packed row —
    *     state ≤ Σ_t min(df_t, m), the truncation bound. θ (the k-th
    *     rounded truncated score), per-term upper bounds, and the
    *     essential/non-essential split all derive SCAN-LOCALLY from
    *     that array (same margin arithmetic as the batch split; the
    *     O(|entries|·|docs|) per-query probe is why serving truncations
    *     keep m modest). Queries with < k truncated results get no θ
    *     and prune nothing — exactness never depends on the truncation.
    *  2. ESSENTIAL FOLD: essential terms explode, stream-static join
    *     the FULL store, and fold per (window, query, doc) — state is
    *     Σ_essential df, the pruned volume (the docs holding ≥ 1
    *     essential posting are exactly the batch candidate set).
    *  3. NON-ESSENTIAL COMPLETION: each candidate's non-essential terms
    *     (carried as a packed query-sized array — never a second
    *     stream) explode and LEFT-join the store on (term, doc); the
    *     matched contributions merge with the essential ones and the
    *     full sorted term-asc fold reproduces the batch doubles bit for
    *     bit. A doc holding ONLY non-essential terms scores
    *     < θ − 1e-6 by the prefix bound, rounds below θ, and cannot
    *     enter the top-k — the exactness argument of the batch split.
    *  4. The bounded [[TopK]] heap per (window, query).
    *
    * Output (append changelog): `window_ns, q_id, doc_id, score, rank`
    * — [[bm25Stream]]'s contract, hash-identical rows.
    */
  def bm25StreamMaxScore(queries: DataFrame, store: DataFrame,
                         truncated: DataFrame,
                         qIdCol: String, qTextCol: String, tsCol: String,
                         k: Int,
                         watermark: String = "10 seconds",
                         windowDur: String = "6 hours",
                         statePartitions: Option[Int] = None,
                         maxQueriesPerTrigger: Option[Int] = None)
      : DataFrame = {
    statePartitions.foreach(n =>
      StatePartitions.pinAll(Seq(store, truncated), n))
    bm25MaxScoreRankedW(
      gated(queries, maxQueriesPerTrigger, qIdCol, qTextCol, tsCol),
      store, truncated, qIdCol, qTextCol, tsCol, k, watermark, windowDur)
      .select(expr("unix_micros(w.start) * 1000").as("window_ns"),
        col("q_id"), col("doc_id"), col("score"), col("rank"))
  }

  /** [[bm25StreamMaxScore]] up to the ranked tier, KEEPING the window
    * struct — the [[bm25RankedW]] contract, so [[StreamingHybrid]] can
    * ride the PRUNED lexical tier (per-trigger state Σ_essential df
    * instead of Σ df) by passing its truncated store through.
    */
  private[streaming] def bm25MaxScoreRankedW(
      queries: DataFrame, store: DataFrame, truncated: DataFrame,
      qIdCol: String, qTextCol: String, tsCol: String,
      k: Int, watermark: String, windowDur: String): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val qTerms = queries
      .select(col(qIdCol).cast("long").as("q_id"),
        col(qTextCol).as("qtext"),
        timestamp_micros(expr(s"$tsCol div 1000")).as("_ts"))
      .withWatermark("_ts", watermark)
      .dropDuplicatesWithinWatermark("q_id")
      .select(col("q_id"), col("_ts"),
        explode(graft.operators.Lexical.queryTerms(col("qtext")))
          .as("term"))
    // 1. bounds: packed truncated probe, θ/ub/split scan-local
    val bounds = qTerms
      .join(truncated.select(col("term"), col("doc_id"), col("contrib")),
        Seq("term"))
      .groupBy(window(col("_ts"), windowDur).as("w"), col("q_id"))
      .agg(collect_list(struct(col("term"), col("doc_id"), col("contrib")))
        .as("tr"))
      // per-doc truncated scores: sorted (term, contrib) fold, ROUND 6 —
      // the batch θ pass verbatim, replayed over the packed array
      .withColumn("scored", sort_array(transform(
        array_distinct(transform(col("tr"), x => x.getField("doc_id"))),
        d => struct(
          negate(round(aggregate(
            sort_array(filter(col("tr"), x => x.getField("doc_id") === d)),
            lit(0.0), (acc, x) => acc + x.getField("contrib")), 6)).as("d"),
          d.as("id")))))
      .withColumn("theta", when(size(col("scored")) >= k,
        negate(element_at(col("scored"), k).getField("d"))))
      // (ub asc, term asc) with the inclusive prefix-sum margin rule —
      // the batch essential split's arithmetic, scan-local
      .withColumn("ubs", sort_array(transform(
        array_distinct(transform(col("tr"), x => x.getField("term"))),
        t => struct(
          array_max(transform(
            filter(col("tr"), x => x.getField("term") === t),
            x => x.getField("contrib"))).as("ub"),
          t.as("term")))))
      .withColumn("ne_terms", transform(
        filter(col("ubs"), (x, i) =>
          aggregate(slice(col("ubs"), lit(1), i + 1), lit(0.0),
            (acc, y) => acc + y.getField("ub")) <
            col("theta") - lit(1e-6)),
        x => x.getField("term")))
      .withColumn("ess_terms", array_except(
        transform(col("ubs"), x => x.getField("term")), col("ne_terms")))
      .select(col("w"), col("q_id"), col("ess_terms"), col("ne_terms"))
    // 2. essential fold: the pruned candidate volume is the only
    //    candidate-sized state in the pipeline
    val perDoc = bounds
      .select(col("w"), col("q_id"), col("ne_terms"),
        explode(col("ess_terms")).as("term"))
      .join(store.select(col("term"), col("doc_id"), col("contrib")),
        Seq("term"))
      .groupBy(col("w").as("w2"), col("q_id"),
        col("doc_id"), col("ne_terms"))
      .agg(sort_array(collect_list(struct(col("term"), col("contrib"))))
        .as("ess_cs"))
    // 3. non-essential completion: candidate-keyed (term, doc) lookups,
    //    then the full batch fold over the merged sorted contributions
    val neSide = store.select(col("term").as("ne_t"),
      col("doc_id").as("ne_d"), col("contrib").as("ne_contrib"))
    val withNe = perDoc
      .select(col("w2"), col("q_id"), col("doc_id"), col("ess_cs"),
        explode_outer(col("ne_terms")).as("ne_term"))
    val scored = withNe
      .join(neSide, withNe("ne_term") === neSide("ne_t") &&
        withNe("doc_id") === neSide("ne_d"), "left")
      .groupBy(col("w2").as("w3"), col("q_id"),
        col("doc_id"), col("ess_cs"))
      .agg(collect_list(when(col("ne_contrib").isNotNull,
        struct(col("ne_t").as("term"), col("ne_contrib").as("contrib"))))
        .as("ne_cs"))
      .withColumn("cs", sort_array(concat(col("ess_cs"), col("ne_cs"))))
      .withColumn("score",
        round(aggregate(col("cs"), lit(0.0),
          (acc, x) => acc + x.getField("contrib")), 6))
    // 4. bounded top-k heap, the bm25Stream output contract
    scored
      .groupBy(col("w3").as("w4"), col("q_id"))
      .agg(TopK.topKNative(k, negate(col("score")), col("doc_id"))
        .as("top"))
      .select(col("w4"), col("q_id"),
        posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("w4").as("w"),
        col("q_id"), col("t.id").as("doc_id"),
        negate(col("t.d")).as("score"),
        (col("pos") + 1).cast("int").as("rank"))
  }

  /** Streaming exact-phrase serving — a live query stream against a
    * static positional postings store
    * ([[graft.operators.Lexical.postingsPositional]] /
    * `postingsPositionalFields`): the phrase twin of [[bm25Stream]].
    * Each arriving query IS a phrase; its top-k (the batch
    * [[graft.operators.Lexical.phraseTopKFromPostings]] rows bit for
    * bit — same packed adjacency fold, same pseudo-term BM25, same
    * ROUND-6 + doc-id tiebreak) emits when the watermark closes the
    * window.
    *
    * Two chained windowed aggregations: the first is the packed
    * per-(query, doc) fold — state is ≤ m (phrase length) packed
    * (j, positions) entries per candidate doc, the candidate set
    * bounded by Σ df over the phrase's terms (the positional-
    * traversal cost every exact phrase matcher pays). The second
    * collects the SURVIVING matches per query — state is df(phrase)
    * entries of three longs each, which is intrinsic: the phrase's
    * document frequency decides the idf, so no exact scorer can rank
    * any doc before the window has seen every match. (Contrast
    * [[bm25Stream]], whose per-term dfs are store-precomputed and the
    * second agg clamps at k.) Exact-phrase dfs are tiny in practice;
    * a phrase matching a large fraction of the corpus degenerates to
    * corpus-sized state — the same degenerate input makes the batch
    * fold's final shuffle corpus-sized too.
    *
    * Corpus stats ride the STATIC side: `stats` (one row) cross-joins
    * the store before the stream-static term join, so no streaming
    * cross-join is ever planned and the constants reach the fold as
    * ordinary grouping keys.
    *
    * Output (append changelog): `window_ns, q_id, doc_id, score,
    * rank`. Whitespace-only queries carry no phrase and emit nothing
    * (the batch convention).
    */
  def phraseStream(queries: DataFrame, post: DataFrame,
                   qIdCol: String, qTextCol: String, tsCol: String,
                   k: Int, k1: Double = 1.2, b: Double = 0.75,
                   watermark: String = "10 seconds",
                   windowDur: String = "6 hours",
                   statePartitions: Option[Int] = None,
                   maxQueriesPerTrigger: Option[Int] = None): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    statePartitions.foreach(StatePartitions.pin(post, _))
    val stats = graft.operators.Lexical.corpusStatsFromPostings(post)
    val postW = post
      .select(col("term"), col("doc_id"), col("dl"), col("positions"))
      .crossJoin(broadcast(stats))
    val qpe = gated(queries, maxQueriesPerTrigger, qIdCol, qTextCol, tsCol)
      .select(col(qIdCol).cast("long").as("q_id"),
        col(qTextCol).as("qtext"),
        timestamp_micros(expr(s"$tsCol div 1000")).as("_ts"))
      .withWatermark("_ts", watermark)
      .dropDuplicatesWithinWatermark("q_id")
      .select(col("q_id"), col("_ts"),
        filter(TextFunctions.tokens(col("qtext")),
          t => t =!= lit("")).as("ph"))
      .filter(size(col("ph")) >= 1)
      .select(col("q_id"), col("_ts"),
        size(col("ph")).cast("long").as("m"),
        posexplode(col("ph")).as(Seq("j0", "term")))
      .select(col("q_id"), col("_ts"), col("m"),
        (col("j0") + 1).cast("long").as("j"), col("term"))
    // packed per-(query, doc) adjacency fold — the batch semantics
    // verbatim (tf = |{p in positions(j=1) : forall entries,
    // p + j - 1 in positions(j)}|), keyed by the event-time window,
    // through the native [[graft.plans.PhraseTf]] aggregate (round
    // 17): the per-(window, query, doc) state row becomes one
    // serialized primitive buffer instead of a struct-array column,
    // and incomplete groups return 0 — the same rows the old
    // array_distinct === m pre-filter removed (stream ≡ batch specs
    // and the window-stamped q192 oracle pin the equality).
    val ptf = qpe
      .join(postW, Seq("term"))
      .groupBy(window(col("_ts"), windowDur).as("w"),
        col("q_id"), col("doc_id"), col("dl"), col("m"),
        col("n_docs"), col("avgdl"))
      .agg(TopK.phraseTf(col("j"), col("positions"), col("m"))
        .as("tf"))
      .filter(col("tf") >= 1)
    // per-query match collection: df = the list's size, scores the
    // batch pseudo-term BM25 per entry, rank = sort by (-score, doc)
    // and slice k. Chained windowed agg, append-legal.
    ptf
      .groupBy(col("w").as("w2"), col("q_id"),
        col("n_docs"), col("avgdl"))
      .agg(collect_list(struct(col("doc_id"), col("dl"), col("tf")))
        .as("cands"))
      .withColumn("df", size(col("cands")).cast("long"))
      .withColumn("ranked", slice(sort_array(transform(col("cands"),
        c => {
          val score = round(
            graft.operators.Lexical.bm25Idf(col("n_docs"), col("df")) *
              (c.getField("tf").cast("double") * lit(k1 + 1.0)) /
              (c.getField("tf").cast("double") +
                lit(k1) * (lit(1.0) - lit(b) +
                  lit(b) * c.getField("dl").cast("double") /
                    col("avgdl"))), 6)
          struct(negate(score).as("d"), c.getField("doc_id").as("id"))
        })), 1, k))
      .select(col("w2"), col("q_id"),
        posexplode(col("ranked")).as(Seq("pos", "t")))
      .select(expr("unix_micros(w2.start) * 1000").as("window_ns"),
        col("q_id"), col("t.id").as("doc_id"),
        negate(col("t.d")).as("score"),
        (col("pos") + 1).cast("int").as("rank"))
  }

  /** Streaming SDM serving in RERANK mode (round 17) — the live twin
    * of [[graft.operators.Lexical.sdmTopKFromPostings]] with
    * `rerank = Some(n)`: Metzler–Croft sequential dependence as a
    * serving tier, with the expensive positional pair probes priced
    * only on the windowed unigram top-n (the deployment shape the
    * proximity literature assumes; pair dfs count over the rerank set
    * — the q194 subset-df semantics, oracle-pinned).
    *
    * Three chained windowed aggregations:
    *
    *  1. UNIGRAM FOLD per (window, query, doc) over a POSITIONS-FREE
    *     entry struct (the rerank-mode batch shape — positions prune
    *     out of the store scan): state is the candidate volume Σ df of
    *     narrow rows. idf is hoisted to a vocabulary-sized static
    *     frame (one ln per term, never per candidate).
    *  2. Bounded top-n heap per (window, query) — everything after
    *     clamps at n.
    *  3. Survivors re-join the positional store (Q×n×m probe rows),
    *     collect into ONE packed row per (window, query), and the
    *     whole rerank tier — j-ordered unigram folds, ordered/windowed
    *     pair counts, subset dfs, i-ordered pair folds, the λ-weighted
    *     ROUND-6 combination, rank with doc-id tiebreak — computes
    *     SCAN-LOCALLY from that array, exactly the batch expressions.
    *     State is Q×n×m packed entries: query-sized, corpus-free.
    *
    * Output (append changelog): `window_ns, q_id, doc_id, score,
    * rank` — the batch rerank rows bit for bit, window-stamped.
    */
  def sdmRerankStream(queries: DataFrame, post: DataFrame,
                      qIdCol: String, qTextCol: String, tsCol: String,
                      k: Int, n: Int,
                      lambdaT: Double = 0.85, lambdaO: Double = 0.1,
                      lambdaU: Double = 0.05, window: Int = 8,
                      k1: Double = 1.2, b: Double = 0.75,
                      watermark: String = "10 seconds",
                      windowDur: String = "6 hours",
                      statePartitions: Option[Int] = None,
                      maxQueriesPerTrigger: Option[Int] = None)
      : DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(n >= k, s"rerank depth must be >= k: $n < $k")
    require(window >= 2, s"unordered window must be >= 2: $window")
    statePartitions.foreach(StatePartitions.pin(post, _))
    val Lx = graft.operators.Lexical
    val stats = Lx.corpusStatsFromPostings(post)
    // vocabulary-sized idf table: one ln per term, static side
    val idfT = Lx.docFreq(post).crossJoin(broadcast(stats))
      .select(col("term"),
        Lx.bm25Idf(col("n_docs"), col("df")).as("idf_t"),
        col("n_docs"), col("avgdl"))
    val postLight = post.select(col("term"), col("doc_id"), col("dl"),
      col("tf")).join(idfT, Seq("term"))
    val postPos = post.select(col("term"), col("doc_id"),
      col("positions")).join(idfT.select("term", "idf_t"), Seq("term"))
    val sat = (tf: Column, dl: Column, avgdl: Column) =>
      (tf.cast("double") * lit(k1 + 1.0)) /
        (tf.cast("double") +
          lit(k1) * (lit(1.0) - lit(b) +
            lit(b) * dl.cast("double") / avgdl))
    val qps0 = gated(queries, maxQueriesPerTrigger, qIdCol, qTextCol,
        tsCol)
      .select(col(qIdCol).cast("long").as("q_id"),
        col(qTextCol).as("qtext"),
        timestamp_micros(expr(s"$tsCol div 1000")).as("_ts"))
      .withWatermark("_ts", watermark)
      .dropDuplicatesWithinWatermark("q_id")
      .select(col("q_id"), col("_ts"),
        filter(TextFunctions.tokens(col("qtext")),
          t => t =!= lit("")).as("ph"))
      .filter(size(col("ph")) >= 1)
      .select(col("q_id"), col("_ts"),
        transform(col("ph"), (t, i) =>
          struct((i + 1).cast("long").as("j"), t.as("term"))).as("qps"))
    // 1. positions-free unigram fold (the rerank batch first pass)
    val uni = qps0
      .select(col("q_id"), col("_ts"), col("qps"),
        explode(col("qps")).as("e"))
      .select(col("q_id"), col("_ts"), col("qps"),
        col("e.j").as("j"), col("e.term").as("term"))
      .join(postLight, Seq("term"))
      .groupBy(org.apache.spark.sql.functions
        .window(col("_ts"), windowDur).as("w"), col("q_id"),
        col("doc_id"), col("dl"), col("qps"),
        col("n_docs"), col("avgdl"))
      .agg(sort_array(collect_list(struct(col("j"), col("tf"),
        col("idf_t")))).as("es"))
      .withColumn("st_r", round(aggregate(col("es"), lit(0.0),
        (acc, e) => acc + e.getField("idf_t") *
          sat(e.getField("tf"), col("dl"), col("avgdl"))), 6))
    // 2. bounded top-n select
    val sel = uni
      .groupBy(col("w").as("w2"), col("q_id"), col("qps"),
        col("n_docs"), col("avgdl"))
      .agg(TopK.topKNative(n, negate(col("st_r")), col("doc_id"))
        .as("top"))
      .select(col("w2"), col("q_id"), col("qps"), col("n_docs"),
        col("avgdl"), explode(col("top")).as("t"))
      .select(col("w2"), col("q_id"), col("qps"), col("n_docs"),
        col("avgdl"), col("t.id").as("doc_id"))
    // 3. survivors re-join the positional store (Q×n×m rows), pack per
    //    (window, query), rerank scan-locally with the batch math.
    //    dl rides postLight once more via the (term, doc) probe rows.
    val probes = sel
      .select(col("w2"), col("q_id"), col("qps"), col("n_docs"),
        col("avgdl"), col("doc_id"), explode(col("qps")).as("e"))
      .select(col("w2"), col("q_id"), col("qps"), col("n_docs"),
        col("avgdl"), col("doc_id"),
        col("e.j").as("j"), col("e.term").as("term"))
      .join(post.select(col("term"), col("doc_id"), col("dl"),
        col("tf"), col("positions"))
        .join(idfT.select("term", "idf_t"), Seq("term")),
        Seq("term", "doc_id"))
    val m = size(col("qps"))
    val packed = probes
      .groupBy(col("w2").as("w3"), col("q_id"), col("qps"),
        col("n_docs"), col("avgdl"))
      .agg(collect_list(struct(col("doc_id"), col("dl"), col("j"),
        col("tf"), col("idf_t"), col("positions"))).as("ents"))
      .withColumn("docs", sort_array(array_distinct(
        transform(col("ents"), e => e.getField("doc_id")))))
      .withColumn("per", transform(col("docs"), d => {
        val des = sort_array(filter(col("ents"),
          e => e.getField("doc_id") === d))
        val dl = element_at(des, 1).getField("dl")
        val st = aggregate(des, lit(0.0), (acc, e) =>
          acc + e.getField("idf_t") *
            sat(e.getField("tf"), dl, col("avgdl")))
        val prs = slice(transform(sequence(lit(1L), m.cast("long")),
          i => {
            val e1 = get(filter(des, e => e.getField("j") === i), lit(0))
            val e2 = get(filter(des, e => e.getField("j") === i + 1),
              lit(0))
            val tfO = size(filter(e1.getField("positions"),
              p => array_contains(e2.getField("positions"), p + 1)))
            val tfU = aggregate(e1.getField("positions"), lit(0),
              (acc, p1) => acc + size(filter(e2.getField("positions"),
                p2 => p2 =!= p1 && abs(p2 - p1) < lit(window))))
            struct(i.as("i"),
              coalesce(tfO.cast("long"), lit(0L)).as("tfo"),
              coalesce(tfU.cast("long"), lit(0L)).as("tfu"))
          }), lit(1), (m - 1).cast("int"))
        struct(d.as("doc_id"), dl.as("dl"), st.as("st"), prs.as("prs"))
      }))
      // subset dfs over the packed rerank set, one (df_o, df_u) per
      // adjacent pair index — the q194 semantics
      .withColumn("dfs", transform(
        sequence(lit(1L), greatest(m.cast("long") - 1, lit(1L))),
        i => struct(i.as("i"),
          size(filter(col("per"), x => size(filter(x.getField("prs"),
            pr => pr.getField("i") === i && pr.getField("tfo") > 0))
            > 0)).cast("long").as("df_o"),
          size(filter(col("per"), x => size(filter(x.getField("prs"),
            pr => pr.getField("i") === i && pr.getField("tfu") > 0))
            > 0)).cast("long").as("df_u"))))
      .withColumn("ranked", slice(sort_array(transform(col("per"),
        x => {
          val so = aggregate(x.getField("prs"), lit(0.0),
            (acc: Column, pr: Column) => {
              val dfo = get(filter(col("dfs"),
                y => y.getField("i") === pr.getField("i")), lit(0))
                .getField("df_o")
              acc + when(pr.getField("tfo") > 0,
                Lx.bm25Idf(col("n_docs"), dfo) *
                  sat(pr.getField("tfo"), x.getField("dl"),
                    col("avgdl")))
                .otherwise(lit(0.0))
            })
          val su = aggregate(x.getField("prs"), lit(0.0),
            (acc: Column, pr: Column) => {
              val dfu = get(filter(col("dfs"),
                y => y.getField("i") === pr.getField("i")), lit(0))
                .getField("df_u")
              acc + when(pr.getField("tfu") > 0,
                Lx.bm25Idf(col("n_docs"), dfu) *
                  sat(pr.getField("tfu"), x.getField("dl"),
                    col("avgdl")))
                .otherwise(lit(0.0))
            })
          val score = round(lit(lambdaT) * x.getField("st") +
            lit(lambdaO) * so + lit(lambdaU) * su, 6)
          struct(negate(score).as("d"), x.getField("doc_id").as("id"))
        })), 1, k))
    packed
      .select(col("w3"), col("q_id"),
        posexplode(col("ranked")).as(Seq("pos", "t")))
      .select(expr("unix_micros(w3.start) * 1000").as("window_ns"),
        col("q_id"), col("t.id").as("doc_id"),
        negate(col("t.d")).as("score"),
        (col("pos") + 1).cast("int").as("rank"))
  }
}
