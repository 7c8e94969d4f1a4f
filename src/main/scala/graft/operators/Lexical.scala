package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Lexical (sparse / inverted-index) retrieval — the BM25 tier of the
  * retrieval surface, complementing the dense ANN family
  * ([[Similarity]], [[ProductQuantizer]]): exact keyword top-k over an
  * inverted-postings layout, the standard first stage of hybrid
  * retrieval and of retrieval-based decontamination at corpus scale.
  * The reference has no retrieval surface at all (its query layer is
  * index SQL — obsplus `bank/wavebank.py` / `bank/eventbank.py`);
  * this is beyond-reference LLM-pipeline capability, per Robertson &
  * Zaragoza 2009 (Okapi BM25) with the positive "+1" idf variant
  * ln(1 + (N − df + 0.5)/(df + 0.5)) so every term contribution is
  * ≥ 0 and the additive top-k bound holds for any df.
  *
  * SCALE SHAPE (the 100 TB story): the corpus is touched exactly once
  * — the postings build is one explode + one map-side-combined
  * groupBy keyed (term, doc). Everything query-side is kilobytes: the
  * document-frequency table is first SEMI-JOINED down to the query's
  * terms (never broadcast at vocabulary size — web-scale vocabularies
  * are corpus-sized), and the resulting (q_id, term, df) frame
  * broadcasts into the postings join, so candidate generation is a
  * broadcast hash join against the postings scan with the
  * term-equality pushed down. Per-(query, doc) accumulation folds a
  * ≤|query-terms| array; the final per-query top-k rides the bounded
  * [[TopK]] aggregate — map-side partials, shuffled partials, and the
  * result all clamp at k entries. Nothing corpus-sized ever crosses
  * the driver or a broadcast.
  *
  * DETERMINISM: per-(query, doc) score contributions fold in term-asc
  * order (sorted-array aggregate, never a shuffle-order SUM over
  * doubles), ranks order by the ROUNDED score with a doc-id tiebreak,
  * and the one libm call (ln) only reaches output through ROUND(_, 6)
  * — the q32 cross-engine contract.
  */
object Lexical {

  /** The convenience builders ([[bm25TopK]], [[bm25fTopK]],
    * [[bm25fStore]], [[bm25fSatStore]]) persist their postings frame so
    * the build's several consumers (stats, df, the candidate join) share
    * ONE tokenization — but they return LAZY frames, so they cannot
    * unpersist it themselves. To bound block-manager growth across
    * repeated one-shot calls in a long-lived session, each builder SITE
    * rotates: persisting this call's postings releases the frame the
    * site's previous call persisted (per session). Unpersisting a frame
    * another plan still references is safe — Spark recomputes — so the
    * only cost of acting on an OLDER builder result after a newer call
    * is that recompute. Repeated serving should use the FromStore /
    * FromFactoredStore forms with caller-managed persistence instead.
    */
  private val lastPersisted =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  private def persistRotating(site: String, df: DataFrame): DataFrame = {
    val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val key = site + "@" +
      System.identityHashCode(p.sparkSession).toHexString
    val prev = lastPersisted.put(key, p)
    // persisting a plan that is already cached is a no-op, so `prev`
    // may hold the very cache entry `p` reads: unpersisting it would
    // evict this call's own cache
    if (prev != null && (prev ne p) &&
        !prev.queryExecution.analyzed.sameResult(p.queryExecution.analyzed))
      prev.unpersist(blocking = false)
    p
  }

  /** Inverted postings: one row per (term, doc) — `term`, `doc_id`,
    * `tf` (occurrences of term in doc), `dl` (doc token length).
    * One explode + one map-side-combined groupBy; at scale, persist
    * partitioned/bucketed by `term` so query joins prune.
    */
  def postings(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // SCAN-LOCAL: a document's (term → tf) map is row-local state, so
    // the postings build needs NO shuffle (the explode + groupBy form
    // paid one exchange over every token to combine counts a per-row
    // hash map combines for free). Also the streaming maintenance
    // encode — pure per-row, so the maintained store is row-set-equal
    // to a rebuild under any batching.
    docs
      .select(col(idCol).cast("long"), TextFunctions.tokens(col(textCol)))
      .as[(Long, Seq[String])]
      .mapPartitions(_.flatMap { case (id, toks) =>
        val dl = toks.length.toLong
        val m = new java.util.LinkedHashMap[String, Long]()
        toks.foreach(t => m.merge(t, 1L, (a, b) => a + b))
        val out = Vector.newBuilder[(String, Long, Long, Long)]
        m.forEach((t, c) => out += ((t, id, dl, c)))
        out.result()
      })
      .toDF("term", "doc_id", "dl", "tf")
  }

  /** Query-side term extraction — distinct tokens with the EMPTY token
    * dropped. The convention (round 16, pinned): empty text tokenizes
    * to `[""]` (split-on-whitespace over a trimmed empty string), and
    * postings KEEP that row — it is the dl carrier that makes every doc
    * visible to [[corpusStatsFromPostings]]. But `""` is never a
    * SERVABLE term: without this filter an all-whitespace query would
    * equi-join the `""` postings row of every empty document and
    * "retrieve" them all. A whitespace-only query therefore has no
    * terms, generates no candidates, and emits nothing — standard
    * retrieval semantics. Oracles replay the same convention with
    * `term <> ''` on their query-term derivation.
    */
  private[graft] def queryTerms(qtext: Column): Column =
    array_distinct(filter(TextFunctions.tokens(qtext),
      t => t =!= lit("")))

  /** Document frequency per term (rows of [[postings]] are distinct
    * (term, doc) pairs, so a plain count is the df).
    */
  def docFreq(post: DataFrame): DataFrame =
    post.groupBy("term").agg(count(lit(1)).as("df"))

  /** Query-side (q_id, tr, term) with `tr` = the 1-based rank of the
    * term within ITS query's SORTED distinct terms — the fold-key
    * surrogate of round 18 (guide §2.3 "narrower types" applied to the
    * fold exchange): the per-(query, doc) score fold only uses its key
    * for ORDERING (key-asc float sum), and rank-asc ≡ term-asc within
    * a query (`array_sort` orders strings by binary UTF8 comparison,
    * `UTF8String.compareTo` — pinned by OrderedFoldSumSpec), so folds
    * keyed by `tr` sum the same doubles in the same order with one
    * primitive long per candidate instead of a cloned term string
    * (buffer allocation + shuffle bytes on the hottest exchange of the
    * lexical tier).
    */
  private[graft] def queryTermsRanked(queries: DataFrame, qTextCol: String,
                                      qIdCol: String): DataFrame =
    queries.select(col(qIdCol).as("q_id"),
        posexplode(array_sort(queryTerms(col(qTextCol))))
          .as(Seq("r0", "term")))
      .select(col("q_id"), (col("r0") + 1).cast("long").as("tr"),
        col("term"))

  /** Corpus stats the BM25 denominator needs: one row,
    * (`n_docs` long, `avgdl` double). Integer sum / integer count —
    * both exact, the division one correctly-rounded op.
    */
  def corpusStats(docs: DataFrame, textCol: String): DataFrame =
    docs
      .select(size(TextFunctions.tokens(col(textCol))).cast("long").as("dl"))
      .agg(count(lit(1)).as("n_docs"),
        (sum(col("dl")).cast("double") /
          count(lit(1)).cast("double")).as("avgdl"))

  /** [[corpusStats]] derived from a postings frame instead of a second
    * tokenization pass over the corpus: (doc_id, dl) is distinct per
    * document inside postings (dl is a per-doc constant and every doc
    * emits ≥ 1 posting — even the empty-text doc tokenizes to [""]),
    * so the exact same integer sums fall out of a narrow distinct.
    * Every derivation in [[bm25Store]]/[[bm25TopK]] then reads the ONE
    * postings plan — a caller-side persist of the postings frame
    * de-duplicates all of the build's corpus passes at once.
    */
  def corpusStatsFromPostings(post: DataFrame): DataFrame =
    post.select(col("doc_id"), col("dl")).distinct()
      .agg(count(lit(1)).as("n_docs"),
        (sum(col("dl")).cast("double") /
          count(lit(1)).cast("double")).as("avgdl"))

  /** Positive BM25 idf (the Lucene "+1" form):
    * ln(1 + (n − df + 0.5)/(df + 0.5)). libm-dependent — outputs
    * derived from it must round before leaving the operator.
    */
  def bm25Idf(nDocs: Column, df: Column): Column =
    log(lit(1.0) + (nDocs.cast("double") - df.cast("double") + lit(0.5)) /
      (df.cast("double") + lit(0.5)))

  /** One term's BM25 contribution — idf × tf-saturation, associated
    * (idf × num) / den. `idf` arrives as a COLUMN precomputed on the
    * vocabulary- or query-sized side of the join (round 15): idf is a
    * per-(term) constant, but evaluated inline it cost one `ln()` per
    * CANDIDATE row — 234M libm calls at the 10⁶ flat geometry.
    * Hoisting the ln to the small side is VALUE-identical (the same
    * double multiplies in the same order), so every oracle hash is
    * unchanged. Honest measurement (same day; BASELINE.md "BM25
    * lexical retrieval"): the exact traversal's LOCAL wall does not
    * move (77–88 s either way — the per-(query, doc) collect_list fold
    * and its shuffle dominate);
    * the hoist is kept for what it provably removes at scale, 10⁸+
    * libm calls per 10⁶-doc query batch on the candidate hot path.
    * Static per (term, doc) given the corpus stats, which is what
    * makes the precomputed serving store ([[bm25Store]]) possible.
    */
  private def contribCol(tf: Column, dl: Column, idf: Column,
                         avgdl: Column,
                         k1: Double, b: Double): Column =
    idf *
      (tf.cast("double") * lit(k1 + 1.0)) /
      (tf.cast("double") +
        lit(k1) * (lit(1.0) - lit(b) +
          lit(b) * dl.cast("double") / avgdl))

  /** The tf-saturation HALF of the contribution — everything that is a
    * per-document fact once `avgdl` is baked: sat = tf·(k1+1) /
    * (tf + k1·(1 − b + b·dl/avgdl)). The factored serving stores
    * ([[bm25SatFromPostings]]) keep sat separate from idf so that
    * corpus growth (which moves N and every df, hence every idf)
    * invalidates only the VOCABULARY-sized idf side — sat rows never
    * go stale until avgdl itself drifts out of band.
    *
    * NOTE the association: the factored score is idf × (num/den),
    * where the monolithic [[contribCol]] computes (idf × num)/den —
    * same reals, different float rounding. The factored surfaces carry
    * their own oracles replaying idf × sat; they are NOT bit-compared
    * against the monolithic store.
    */
  private def satCol(tf: Column, dl: Column, avgdl: Column,
                     k1: Double, b: Double): Column =
    (tf.cast("double") * lit(k1 + 1.0)) /
      (tf.cast("double") +
        lit(k1) * (lit(1.0) - lit(b) +
          lit(b) * dl.cast("double") / avgdl))

  /** Factored serving store, sat side: (`term`, `doc_id`, `sat`) from a
    * raw postings frame with `avgdl` BAKED. Pure per-row projection —
    * an appended postings delta produces exactly its own sat delta,
    * which is what makes the incremental generation build
    * ([[graft.streaming.StreamingLexicalIndex.refreshFactored]])
    * arrival-sized.
    */
  def bm25SatFromPostings(post: DataFrame, avgdl: Double,
                          k1: Double = 1.2, b: Double = 0.75): DataFrame =
    post.select(col("term"), col("doc_id"),
      satCol(col("tf"), col("dl"), lit(avgdl), k1, b).as("sat"))

  /** Batch top-k off a FACTORED store: sat rows (corpus-sized,
    * avgdl-baked) × a vocabulary-sized df table × the live doc count.
    * idf is computed on the QUERY side (≤ |query terms| rows) and rides
    * the broadcast into the sat join, so a df/N refresh never touches
    * the corpus-sized half. contrib = idf × sat (one multiply per
    * candidate); the exchange fold and rank tail of every store path
    * ([[foldExchange]]).
    */
  def bm25TopKFromFactoredStore(sat: DataFrame, dfreq: DataFrame,
                                nDocs: Long, queries: DataFrame,
                                qTextCol: String, qIdCol: String,
                                k: Int): DataFrame =
    bm25TopKFromFactoredStore(sat, dfreq,
      sat.sparkSession.range(1).select(lit(nDocs).as("n_docs")),
      queries, qTextCol, qIdCol, k)

  /** [[bm25TopKFromFactoredStore]] with the doc count threaded as a
    * ONE-ROW (`n_docs` long) FRAME instead of a collected scalar — the
    * lazy form: the count rides the query-sized broadcast as a column
    * (same doubles — [[bm25Idf]] on a column vs a literal is the same
    * arithmetic), so building the returned plan runs NO job. The
    * builders that derive n from a stats subtree ([[bm25fTopK]]) pass
    * it the same way to stay lazy end to end. A store's row order is
    * the caller's, so this path folds through the exchange.
    */
  def bm25TopKFromFactoredStore(sat: DataFrame, dfreq: DataFrame,
                                nDocs: DataFrame, queries: DataFrame,
                                qTextCol: String, qIdCol: String,
                                k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    foldExchange(factoredCandidates(sat, dfreq, nDocs, queries,
      qTextCol, qIdCol), k)
  }

  /** Candidate source of the factored paths: sat rows ⋈ the broadcast
    * query side, contrib = idf × sat (one multiply per candidate).
    */
  private def factoredCandidates(sat: DataFrame, dfreq: DataFrame,
                                 nDocs: DataFrame, queries: DataFrame,
                                 qTextCol: String,
                                 qIdCol: String): DataFrame = {
    sat.join(bm25QuerySide(dfreq, nDocs.select(col("n_docs")), queries,
        qTextCol, qIdCol), Seq("term"))
      .withColumn("contrib", col("idf") * col("sat"))
  }

  /** The query side every idf-on-the-fly BM25 path joins: (q_id, term,
    * tr, idf) plus the stats frame's other columns, broadcast. Query
    * terms are distinct per query — BM25's standard bag-of-terms query
    * treats repeats as one term — and `tr` is the fold-key surrogate
    * ([[queryTermsRanked]]). df is sliced to the query's terms FIRST
    * (a vocabulary-sized df never broadcasts); `stats` is the ONE-ROW
    * frame holding `n_docs` (and `avgdl` where the path needs it),
    * threaded as a column so building the plan runs no job.
    */
  private def bm25QuerySide(dfreq: DataFrame, stats: DataFrame,
                            queries: DataFrame, qTextCol: String,
                            qIdCol: String): DataFrame = {
    val qTerms = queryTermsRanked(queries, qTextCol, qIdCol)
    val qDf = dfreq.join(broadcast(qTerms.select("term").distinct()),
      Seq("term"))
    broadcast(qTerms.join(qDf, Seq("term"))
      .crossJoin(broadcast(stats))
      .select(Seq(col("q_id"), col("term"), col("tr"),
        bm25Idf(col("n_docs"), col("df")).as("idf")) ++
        stats.columns.filterNot(_ == "n_docs").map(col): _*))
  }

  // ---- BM25F: weighted multi-field scoring (Robertson, Zaragoza &
  // Taylor, CIKM'04 — "Simple BM25 extension to multiple weighted
  // fields"). Field tfs fold into ONE pseudo-frequency per (term, doc)
  // BEFORE saturation: tf̃ = Σ_f w_f · tf_f / B_f with the per-field
  // length norm B_f = 1 − b_f + b_f · dl_f / avgdl_f, then
  // score = Σ_t idf(t) · tf̃ / (k1 + tf̃). Saturating the combined
  // pseudo-frequency (not each field separately) is the paper's point:
  // a term in both title and body is evidence about ONE document, not
  // two independent ones.

  /** One scored field: its text column, its weight w_f, and its length
    * normalization b_f.
    */
  final case class FieldSpec(textCol: String, weight: Double,
                             b: Double = 0.75)

  /** PACKED multi-field postings (round 17, guide §2.4): ONE row per
    * (term, doc) — `term`, `doc_id`, `dls` (every field's token length
    * for this doc, field-indexed), `entries`
    * (array<struct<field:int, tf:long>>, FIELD-ASCENDING, only fields
    * where the term occurs). Scan-local build: a document's per-field
    * term→tf maps are row-local state. The BM25F pseudo-frequency
    * fold, which the retired flat one-row-per-(field, term, doc)
    * layout paid one exchange of the ENTIRE multi-field postings
    * volume for (42.98 M rows at the 10⁶-doc BASELINE bm25fskew
    * geometry, 429.65 M at 10⁷), is a pure projection here: the
    * (term, doc) row already holds every field's tf in fold order.
    * Rows are distinct (term, doc), so any-field df is a plain count;
    * (doc_id, dls) is distinct per doc, so field stats fall out of a
    * narrow distinct exactly like [[corpusStatsFromPostings]]. The
    * one multi-field layout: the one-shot builders and the maintained
    * store ([[graft.streaming.StreamingLexicalIndex]]) both use it.
    */
  def postingsFieldsPacked(docs: DataFrame, fields: Seq[FieldSpec],
                           idCol: String): DataFrame = {
    require(fields.nonEmpty, "postingsFieldsPacked: no fields")
    val nf = fields.length
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col(idCol).cast("long"),
        array(fields.map(f => TextFunctions.tokens(col(f.textCol))): _*))
      .as[(Long, Seq[Seq[String]])]
      .mapPartitions(_.map { case (id, fieldToks) =>
        val m = new java.util.LinkedHashMap[String, Array[Long]]()
        val dls = new Array[Long](nf)
        var fi = 0
        fieldToks.foreach { toks =>
          dls(fi) = toks.length.toLong
          toks.foreach { t =>
            m.computeIfAbsent(t, _ => new Array[Long](nf))(fi) += 1L
          }
          fi += 1
        }
        val out = Vector.newBuilder[(String, Seq[(Int, Long)])]
        m.forEach { (t, tfs) =>
          val es = Vector.newBuilder[(Int, Long)]
          var f = 0
          while (f < nf) { // field-asc — the satFromPacked fold order
            if (tfs(f) > 0L) es += ((f, tfs(f)))
            f += 1
          }
          out += ((t, es.result()))
        }
        (id, dls.toSeq, out.result())
      })
      .toDF("doc_id", "dls", "tes")
      .select(col("doc_id"), col("dls"), explode(col("tes")).as("te"))
      .select(col("te._1").as("term"), col("doc_id"), col("dls"),
        transform(col("te._2"), e =>
          struct(e.getField("_1").as("field"), e.getField("_2").as("tf")))
          .as("entries"))
  }

  /** Per-field corpus stats (`field`, `n_docs`, `avgdl`) off the
    * PACKED layout: (doc_id, dls) is distinct per doc and dls holds
    * every field's length, so the exact integer sums fall out of one
    * narrow distinct + posexplode (position IS the field index).
    */
  def fieldStatsFromPacked(packed: DataFrame): DataFrame =
    packed.select(col("doc_id"), col("dls")).distinct()
      .select(posexplode(col("dls")).as(Seq("field", "dl")))
      .groupBy("field")
      .agg(count(lit(1)).as("n_docs"),
        (sum(col("dl")).cast("double") /
          count(lit(1)).cast("double")).as("avgdl"))

  /** BM25F document frequency (a document contains a term if ANY
    * field does) off the PACKED layout — rows are already distinct
    * (term, doc), so df is a plain map-side-combined count.
    */
  def docFreqPacked(packed: DataFrame): DataFrame =
    packed.groupBy("term").agg(count(lit(1)).as("df"))

  /** The BM25F pseudo-frequency fold + saturation: tf̃ = Σ_f
    * w_f·tf_f/B_f folds SCAN-LOCALLY over the field-asc `entries`
    * array (field-asc order pinned — the float sum replays
    * cross-engine; LexicalSpec's flat-vs-packed equality against the
    * test-tree flat reference), then sat = tf̃/(k1 + tf̃). The
    * per-field avgdl vector rides a one-row broadcast (lazy — no job
    * at plan-build).
    */
  private def satFromPacked(packed: DataFrame, statsF: DataFrame,
                            fields: Seq[FieldSpec],
                            k1: Double): DataFrame = {
    val weights = typedLit(fields.map(_.weight))
    val bs = typedLit(fields.map(_.b))
    val statsArr = broadcast(statsF
      .groupBy()
      .agg(sort_array(collect_list(struct(col("field"), col("avgdl"))))
        .as("sf"))
      .select(transform(col("sf"), s => s.getField("avgdl"))
        .as("avgdls")))
    packed.crossJoin(statsArr)
      .withColumn("tfl",
        aggregate(col("entries"), lit(0.0), (acc, e) => {
          val f = e.getField("field")
          acc + element_at(weights, f + 1) *
            e.getField("tf").cast("double") /
            (lit(1.0) - element_at(bs, f + 1) +
              element_at(bs, f + 1) *
                element_at(col("dls"), f + 1).cast("double") /
                element_at(col("avgdls"), f + 1))
        }))
      .select(col("term"), col("doc_id"),
        (col("tfl") / (lit(k1) + col("tfl"))).as("sat"))
  }

  /** BM25F factored serving store: (`term`, `doc_id`, `sat`) with
    * sat = tf̃/(k1 + tf̃). Serve through [[bm25TopKFromFactoredStore]]
    * with [[docFreqPacked]] and the document count.
    */
  def bm25fSatStore(docs: DataFrame, fields: Seq[FieldSpec], idCol: String,
                    k1: Double = 1.2): DataFrame = {
    // one tokenization: the stats subtree and the fold both read the
    // cached postings (the bm25TopK single-pass contract); rotating
    // persist — see [[persistRotating]] for the lifecycle contract.
    // PACKED layout (round 17): the field fold is scan-local — zero
    // corpus-sized exchange in the sat build
    val packed = persistRotating("bm25fSatStore",
      postingsFieldsPacked(docs, fields, idCol))
    satFromPacked(packed, fieldStatsFromPacked(packed), fields, k1)
  }

  /** BM25F sat store from a maintained PACKED postings frame
    * ([[postingsFieldsPacked]] rows) with the per-field avgdl vector
    * BAKED — the field-aware twin of [[bm25SatFromPostings]] and the
    * generation-build primitive of the maintained BM25F store: the
    * pseudo-frequency folds SCAN-LOCALLY over the field-asc `entries`
    * (zero (term, doc) exchange), and a packed delta batch produces
    * exactly its own sat delta (one row per (term, doc) — per-doc
    * facts), so the refresh is arrival-sized.
    */
  def bm25fSatFromPackedPostings(packed: DataFrame, avgdls: Seq[Double],
                                 fields: Seq[FieldSpec],
                                 k1: Double = 1.2): DataFrame = {
    require(avgdls.length == fields.length,
      s"avgdls (${avgdls.length}) must match fields (${fields.length})")
    val spark = packed.sparkSession
    val statsF = avgdls.zipWithIndex.map { case (a, i) =>
      spark.range(1).select(lit(i).as("field"), lit(a).as("avgdl"))
    }.reduce(_ unionByName _)
    satFromPacked(packed, statsF, fields, k1)
  }

  /** Monolithic BM25F contribution store: (`term`, `doc_id`,
    * `contrib`) with contrib = idf × sat fully baked — the [[bm25Store]]
    * SHAPE for multi-field scoring, so every existing contrib-store
    * consumer serves BM25F unchanged: [[bm25TopKFromContribStore]] for
    * batch, [[graft.streaming.StreamingLexical.bm25Stream]] for
    * streaming, [[truncateByImpact]]/[[truncateByMass]] for the
    * serving-store truncations. Same staleness story as the
    * single-field store (bakes N/df/avgdl_f).
    */
  def bm25fStore(docs: DataFrame, fields: Seq[FieldSpec], idCol: String,
                 k1: Double = 1.2): DataFrame = {
    // PACKED layout (round 17): scan-local field fold — see
    // [[postingsFieldsPacked]]; the build's one remaining corpus-sized
    // exchange is the df attach below
    val packed = persistRotating("bm25fStore",
      postingsFieldsPacked(docs, fields, idCol))
    val statsF = fieldStatsFromPacked(packed)
    val sat = satFromPacked(packed, statsF, fields, k1)
    // n_docs threads through as a broadcast one-row frame (round 16):
    // the earlier `.head()` here ran a corpus-scanning JOB at
    // plan-BUILD time — surprising in a library; the column form is
    // value-identical (bm25Idf over a column is the same arithmetic)
    // and keeps the builder lazy end to end
    sat.join(docFreqPacked(packed), Seq("term"))
      .crossJoin(broadcast(statsF.filter(col("field") === 0)
        .select(col("n_docs"))))
      .select(col("term"), col("doc_id"),
        (bm25Idf(col("n_docs"), col("df")) * col("sat")).as("contrib"))
  }

  /** BM25F top-k: build the factored store + any-field df + the doc
    * count, then serve through the shared factored path. Output
    * contract identical to [[bm25TopK]] (`q_id, doc_id, score` ROUND 6,
    * `rank`). One tokenization of the corpus feeds sat, stats, df, and
    * n (the bm25TopK single-pass contract, factored-form).
    */
  def bm25fTopK(docs: DataFrame, fields: Seq[FieldSpec], idCol: String,
                queries: DataFrame, qTextCol: String, qIdCol: String,
                k: Int, k1: Double = 1.2): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    // PACKED layout (round 17): the sat side reaches the candidate
    // join with zero corpus-sized exchange
    val packed = persistRotating("bm25fTopK",
      postingsFieldsPacked(docs, fields, idCol))
    val statsF = fieldStatsFromPacked(packed)
    val sat = satFromPacked(packed, statsF, fields, k1)
    // in-plan scan-local build ⇒ doc-contiguous candidates by
    // construction ([[foldScanLocal]])
    foldScanLocal(factoredCandidates(sat, docFreqPacked(packed),
      statsF.filter(col("field") === 0), queries, qTextCol, qIdCol), k)
  }

  /** Serving store: (`term`, `doc_id`, `contrib`) with the BM25
    * contribution fully precomputed — serving (batch or streaming)
    * is then join + term-ordered fold + bounded top-k, zero per-query
    * arithmetic beyond the additive fold. Build once per corpus
    * snapshot; persist laid out on the join key
    * (`repartition(col("term")).sortWithinPartitions("term")` — the
    * bucketCorpus cache-layout trick) so every query batch or
    * micro-batch probes the cached layout instead of re-exchanging
    * the postings.
    */
  def bm25Store(corpus: DataFrame, textCol: String, idCol: String,
                k1: Double = 1.2, b: Double = 0.75,
                maxPostingsPerTerm: Int = Int.MaxValue): DataFrame = {
    val post = postings(corpus, textCol, idCol)
    // idf evaluated on the VOCAB-sized frame (one ln per term), the
    // corpus-sized join then multiplies the hoisted column — same
    // (idf × num)/den association, identical doubles
    val dfq = docFreq(post)
      .crossJoin(broadcast(corpusStatsFromPostings(post)))
      .select(col("term"), bm25Idf(col("n_docs"), col("df")).as("idf"),
        col("avgdl"))
    val full = post.join(dfq, Seq("term"))
      .select(col("term"), col("doc_id"),
        contribCol(col("tf"), col("dl"), col("idf"),
          col("avgdl"), k1, b).as("contrib"))
    if (maxPostingsPerTerm == Int.MaxValue) full
    else truncateByImpact(full, maxPostingsPerTerm)
  }

  /** [[bm25Store]] from an ALREADY-MAINTAINED raw postings frame plus
    * the sidecar-rollup corpus stats — the generation-rebuild path of
    * [[graft.streaming.StreamingLexicalIndex]]: contrib depends on
    * GLOBAL stats (N, avgdl, df), so a precomputed serving store goes
    * stale as the corpus grows; regenerating from the maintained
    * postings + current stats is one join + one projection (+ the
    * optional impact truncation).
    */
  def bm25StoreFromPostings(post: DataFrame, nDocs: Long, avgdl: Double,
                            k1: Double = 1.2, b: Double = 0.75,
                            maxPostingsPerTerm: Int = Int.MaxValue)
      : DataFrame = {
    val dfq = docFreq(post).select(col("term"),
      bm25Idf(lit(nDocs), col("df")).as("idf"))
    val full = post.join(dfq, Seq("term"))
      .select(col("term"), col("doc_id"),
        contribCol(col("tf"), col("dl"), col("idf"),
          lit(avgdl), k1, b).as("contrib"))
    if (maxPostingsPerTerm == Int.MaxValue) full
    else truncateByImpact(full, maxPostingsPerTerm)
  }

  /** Impact-ordered postings truncation (Persin et al. '96): keep only
    * each term's `m` highest-contribution documents (ties doc asc).
    * THE candidate-volume knob for serving: a query's postings
    * traversal is then ≤ |query terms| · m rows — bounded state for
    * the streaming path, bounded shuffle for the batch path —
    * regardless of how common its terms are. EXACT while every term's
    * df ≤ m (the oracle regime); above m this is the standard
    * early-termination trade — a document outside every query term's
    * impact list cannot surface, and BASELINE records measured recall
    * vs the exact traversal at the bench geometry. One extra
    * build-time shuffle keyed `term` with bounded [[TopK]] partials
    * (≤ m entries map-side and reduce-side both).
    */
  def truncateByImpact(store: DataFrame, m: Int): DataFrame = {
    require(m >= 1, s"maxPostingsPerTerm must be >= 1: $m")
    store
      .groupBy("term")
      .agg(TopK.topKNative(m, negate(col("contrib")), col("doc_id"))
        .as("top"))
      .select(col("term"), explode(col("top")).as("t"))
      .select(col("term"), col("t.id").as("doc_id"),
        negate(col("t.d")).as("contrib"))
  }

  /** Per-term ADAPTIVE impact truncation: keep each term's
    * highest-contribution postings until they cover `massFraction` of
    * the term's total contribution mass (the boundary posting
    * included). Where [[truncateByImpact]]'s fixed m is a global
    * compromise — too small for flat-scoring terms (ties in
    * thousands), wastefully large for peaked ones — the mass rule
    * adapts: flat terms keep ≈ massFraction·df postings, peaked terms
    * only the head that actually decides rankings. One build-time
    * shuffle keyed `term` + one in-partition sort (spillable); the
    * kept-order is (contrib desc, doc asc) — deterministic, so the
    * truncated store is reproducible run to run.
    *
    * COMPOSITION ORDER: the per-term windows here see the UNCAPPED
    * store, so a web-scale common term (df 10⁶+) lands in one task's
    * (spillable) sort. Always compose the fixed cap OUTSIDE —
    * `truncateByImpact(truncateByMass(s, x), m)`, the BASELINE shape —
    * never inside, which would cap before the mass rule can see the
    * distribution it adapts to while leaving this window uncapped
    * anyway.
    */
  def truncateByMass(store: DataFrame, massFraction: Double): DataFrame = {
    require(massFraction > 0.0 && massFraction <= 1.0,
      s"massFraction must be in (0, 1]: $massFraction")
    import org.apache.spark.sql.expressions.Window
    val ord = Window.partitionBy("term")
      .orderBy(col("contrib").desc, col("doc_id").asc)
    val all = Window.partitionBy("term")
    store
      .withColumn("_cum", sum(col("contrib")).over(ord))
      .withColumn("_tot", sum(col("contrib")).over(all))
      // keep while the mass BEFORE this posting is under the target —
      // the first posting crossing the threshold stays (coverage is
      // ≥ massFraction, never under)
      .filter(col("_cum") - col("contrib") < col("_tot") * massFraction)
      .drop("_cum", "_tot")
  }

  /** Batch top-k straight off a precomputed contribution store (the
    * [[bm25Store]] shape — truncated or not): broadcast the query
    * terms into the store join, fold per (query, doc) in term-asc
    * order, bounded top-k. The serving twin of [[bm25TopKFromStore]]
    * with zero per-query arithmetic; against a truncated store this is
    * the batch side of the impact-bounded serving contract (parity
    * with [[graft.streaming.StreamingLexical.bm25Stream]] over the
    * SAME store, whatever the truncation).
    */
  def bm25TopKFromContribStore(store: DataFrame, queries: DataFrame,
                               qTextCol: String, qIdCol: String,
                               k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val qTerms = broadcast(queryTermsRanked(queries, qTextCol, qIdCol))
    foldExchange(store.join(qTerms, Seq("term")), k)
  }

  /** EXACT top-k with MaxScore dynamic pruning (Turtle & Flood, IPM'95;
    * the distributed re-expression): identical output to
    * [[bm25TopKFromContribStore]] over the same untruncated `store` —
    * rows, scores, ranks, hashes — while the expensive per-(query, doc)
    * fold shuffle sees a FRACTION of the postings. The full traversal's
    * dominant cost (measured: the collect_list fold + its shuffle over
    * EVERY posting of every query term) falls to the rare-term slice.
    *
    * How: `truncated` (any per-term impact truncation of `store` —
    * [[truncateByImpact]] / [[truncateByMass]]; both keep each term's
    * max-contrib posting) supplies two bounds, kilobytes each at query
    * scale:
    *
    *  1. θ(q) = the k-th ROUNDED score of the truncated store's top-k.
    *     Truncated partial scores underestimate true scores and ROUND-6
    *     is monotone, so ≥ k documents have rounded true score ≥ θ —
    *     a certified lower bound on the final k-th rounded score.
    *  2. ub(t) = max contrib of term t (exact — truncation keeps the
    *     head). Sort the query's terms by (ub asc, term asc); the
    *     maximal prefix with cumulative Σub < θ − 1e-6 is NON-ESSENTIAL:
    *     a doc containing ONLY those terms scores < θ − 1e-6, rounds to
    *     < θ (ROUND-6 moves a value < 5·10⁻⁷), and cannot enter the
    *     top-k under any doc-id tiebreak. (The 1e-6 margin also dwarfs
    *     the ~1e-14 float error of the prefix sum itself.) Everything
    *     past the prefix is ESSENTIAL. Queries with < k truncated
    *     results get no θ and prune nothing — exactness never depends
    *     on the truncation being any good.
    *
    * Candidates = docs holding ≥ 1 essential posting. Their scores fold
    * over ALL their query-term contribs from the exact store — the same
    * doubles in the same term-asc order as the full traversal — so the
    * emitted rows are bit-identical.
    *
    * SCALE SHAPE: essential terms are by construction the high-impact
    * (rare) ones, so the candidate set is Σ_essential df — small — and
    * is BROADCAST into the non-essential postings scan: the common
    * terms' postings (the bulk at web scale) are filtered scan-side and
    * never shuffle; only essential postings and candidate-matched rows
    * reach the fold exchange. [[maxScoreFoldStats]] measures exactly
    * that reduction.
    */
  def bm25TopKMaxScore(store: DataFrame, truncated: DataFrame,
                       queries: DataFrame, qTextCol: String,
                       qIdCol: String, k: Int,
                       dfreq: Option[DataFrame] = None,
                       candBroadcastMaxRows: Long = 4L << 20): DataFrame = {
    foldExchange(maxScoreFoldInput(store, truncated, queries,
      qTextCol, qIdCol, k, dfreq, candBroadcastMaxRows), k)
  }

  /** The pruned fold input of [[bm25TopKMaxScore]]: (q_id, term,
    * doc_id, contrib) — essential-term postings plus the
    * candidate-matched non-essential rows. Exposed so the fold-volume
    * reduction is measurable (specs, ScaleBench) on the exact frame the
    * top-k folds.
    *
    * DEGENERATE-REGIME GUARDS (round 17): the candidate set is
    * Σ_essential-df-sized, which is small exactly when the truncation
    * is doing its job (web-shaped df skew, θ present). When θ is absent
    * or the corpus is df-flat, EVERY term tends essential and `cand`
    * approaches the full candidate set — a corpus-sized broadcast, i.e.
    * a driver OOM at 10⁷+ docs. Two guards, both decided from
    * QUERY-SIZED frames before the plan ships:
    *
    *  1. If NO query has a non-essential term, the candidate semi-join
    *     leg is dropped entirely — the essential rows already ARE the
    *     full fold input (one tiny count over the persisted query-sized
    *     flag frame; the θ pass it forces is the same θ pass the plan
    *     needs, served from that cache).
    *  2. The candidate join strategy is sized from Σ_essential df: with
    *     `dfreq` supplied (the store's document-frequency table — the
    *     builders have it), the bound costs one vocabulary-scan
    *     aggregate against a broadcast query-term slice; `cand`
    *     broadcasts only under `candBroadcastMaxRows`, else it joins as
    *     a shuffle (sort-merge) semi-join — slower, never a driver OOM.
    *     Without `dfreq` the join is UNHINTED: AQE sizes the exchange at
    *     runtime and auto-broadcasts only under the session threshold —
    *     the Spark-first default for an unknown size.
    */
  private[graft] def maxScoreFoldInput(store: DataFrame,
                                       truncated: DataFrame,
                                       queries: DataFrame, qTextCol: String,
                                       qIdCol: String, k: Int,
                                       dfreq: Option[DataFrame] = None,
                                       candBroadcastMaxRows: Long = 4L << 20)
      : DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val spark = store.sparkSession
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    // the θ pass and the ub table BOTH traverse the truncation — when
    // the caller hands a lazy truncation subtree (the one-shot q187
    // shape), each leg would re-run the store-wide truncation build;
    // persist it here unless the caller already did (the serving shape
    // — q201's session-cached sidecar — must NOT be re-persisted, or
    // this site's rotation would evict the caller's cache)
    val trunc =
      if (truncated.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
        persistRotating("maxScoreFoldInput.truncated", truncated)
      else truncated
    // (q_id, tr, term) — tr is the fold-key surrogate
    // ([[queryTermsRanked]], round 18)
    val qTerms = queryTermsRanked(queries, qTextCol, qIdCol)
    // FUSED θ+split traversal (round 18, guide §2.4): the θ pass and
    // the per-term ub table previously each traversed the truncated
    // store (two store-wide cache scans + broadcast probes per serve);
    // both now read ONE query-sliced traversal, persisted at
    // query-term × m volume (≤ Σ_q-terms min(df, m) rows — kilobytes
    // in the designed regime). θ is bit-identical: truncQ is exactly
    // the store ⋈ broadcast(q_id, term) frame
    // bm25TopKFromContribStore built internally, and the fold/rank
    // tail below is the same [[foldExchange]]. ub is identical:
    // grouping the q-duplicated rows by term leaves max(contrib) and
    // the matched-term set unchanged.
    val truncQ = persistRotating("maxScoreFoldInput.truncSlice",
      trunc.join(broadcast(qTerms), Seq("term"))
        .select(col("q_id"), col("doc_id"), col("term"), col("tr"),
          col("contrib")))
    // θ per query: the truncated store's k-th rounded score (absent →
    // no pruning bound for that query). Query-sized.
    val theta = foldExchange(truncQ, k)
      .filter(col("rank") === k)
      .select(col("q_id"), col("score").as("theta"))
    // per-term upper bounds (already query-sliced — the df discipline:
    // vocabulary-sized ub never broadcasts)
    val ub = truncQ.groupBy("term").agg(max(col("contrib")).as("ub"))
    // essential = past the maximal (ub asc, term asc) prefix whose
    // cumulative bound stays under θ − margin.
    val cum = Window.partitionBy("q_id")
      .orderBy(col("ub").asc, col("term").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val flagged =
      qTerms.join(broadcast(ub), Seq("term"))
        .join(broadcast(theta), Seq("q_id"), "left")
        .withColumn("_cum", sum(col("ub")).over(cum))
        .withColumn("_ess", col("theta").isNull ||
          (col("_cum") >= col("theta") - lit(1e-6)))
    // ONE bounded driver action replaces the old persist + count job +
    // two broadcast-subtree builds (round 17, guide §1.2/§5): the
    // essential/non-essential split is QUERY-sized (one row per
    // (query, distinct term) — the frame the old code broadcast twice
    // anyway), so collect it once behind a loud bound (the
    // bm25TopKLive device) and re-broadcast it as local frames. The
    // driver never sees anything corpus-sized.
    val maxSplitRows = 1 << 20
    val split = flagged
      .select(col("q_id"), col("term"), col("tr"), col("_ess"))
      .limit(maxSplitRows + 1)
      .collect()
    require(split.length <= maxSplitRows,
      s"over $maxSplitRows (query, term) rows in the MaxScore split — " +
        "split the query batch")
    val essLocal = split.filter(_.getBoolean(3))
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val neLocal = split.filterNot(_.getBoolean(3))
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val essential = broadcast(essLocal.toDF("q_id", "term", "tr"))
    val essBare = store.join(essential, Seq("term"))
      .select(col("q_id"), col("term"), col("tr"), col("doc_id"),
        col("contrib"))
    if (neLocal.isEmpty) return essBare
    // the essential-postings slice feeds BOTH the candidate set and the
    // fold union — persist it (round 17, guide §2.4/§5) so the full
    // store is scanned twice per serve, not three times; in the
    // designed regime this frame is the PRUNED volume (Σ_essential df,
    // the 83–94× reduction), so the materialization is small exactly
    // when the operator is doing its job, and MEMORY_AND_DISK spills
    // in the degenerate regime instead of re-scanning
    val essRows = persistRotating("maxScoreFoldInput.essRows", essBare)
    val nonEssential = broadcast(neLocal.toDF("q_id", "term", "tr"))
    val candBare = essRows.select("q_id", "doc_id").distinct()
    // Σ_essential df bounds |cand| from above — kilobyte-side when the
    // df table is supplied; without it, COUNT the persisted essential
    // slice (round 17): the count both fills the cache the two
    // downstream consumers need AND is exactly Σ_essential df, so the
    // candidate-join strategy is decided deterministically instead of
    // left to AQE size estimates, which the plan audit caught planning
    // the non-essential leg as a (q_id, doc_id)-keyed sort-merge — a
    // candidate-volume exchange of the COMMON terms' postings, the one
    // thing this operator exists to avoid.
    val essDf = dfreq match {
      case Some(d) =>
        d.join(essential, Seq("term"))
          .agg(coalesce(sum(col("df")), lit(0L)))
          .head().getLong(0)
      case None => essRows.count()
    }
    val cand =
      if (essDf <= candBroadcastMaxRows) broadcast(candBare)
      else candBare.hint("merge")
    val neRows = store.join(nonEssential, Seq("term"))
      .join(cand, Seq("q_id", "doc_id"))
      .select(col("q_id"), col("term"), col("tr"), col("doc_id"),
        col("contrib"))
    essRows.unionByName(neRows)
  }

  // ──────────────────── block-max pruning (BMW) ────────────────────
  //
  // Ding & Suel, SIGIR'11 ("Faster top-k document retrieval using
  // block-max indexes"), re-expressed for a partitioned store: where
  // MaxScore prunes with one GLOBAL upper bound per term — which wins
  // 83–94× on stopword-shaped dfs but only ~2× on df-flat corpora —
  // block-max keeps bounds per (term, doc-block) and skips whole
  // blocks whose bound cannot reach θ. Blocks here are doc-id ranges
  // of `blockSize` documents (the classic layout transposed to a doc
  // partition so "skip" becomes a relational anti-filter); a block's
  // bound for query q folds TWO certificates, both sound because
  // every contribution is ≥ 0 (the positive "+1" idf):
  //
  //   1. Σ_{t ∈ q} bmax(t, b) — with bmax ABSENT counting 0, so a
  //      block missing any query term loses that term's whole bound:
  //      at fine granularity the absence of one decisive term kills
  //      most blocks, which is exactly the alignment effect DAAT
  //      block-skipping exploits.
  //   2. The block's mass ceiling max_d Σ_all-terms contrib(t, d):
  //      score(q, d) ≤ mass(d) for ANY query, so a block of weak
  //      documents dies regardless of which terms the query holds.
  //
  // Granularity trades sidecar size for pruning: per-term sidecar
  // entries ≈ min(df, N/blockSize).

  /** Augment a contribution store with its doc-range `block` column
    * (block = doc_id div blockSize — deterministic, no build-time
    * sort; sparse doc-id spaces just leave some blocks small).
    */
  def blockMaxAugment(store: DataFrame, blockSize: Int = 64): DataFrame = {
    require(blockSize >= 1, s"blockSize must be >= 1: $blockSize")
    store.select(col("term"), col("doc_id"), col("contrib"),
      floor(col("doc_id").cast("long") / blockSize).cast("long")
        .as("block"))
  }

  /** Per-(term, block) contribution upper bounds off an augmented
    * store — the serving sidecar. Σ_t min(df_t, N/blockSize) rows;
    * always SEMI-JOIN to the query's terms before any broadcast (the
    * df discipline).
    */
  def blockMaxSidecar(storeB: DataFrame): DataFrame =
    storeB.groupBy("term", "block").agg(max(col("contrib")).as("bmax"))

  /** Per-block mass ceilings off an augmented store: (`block`,
    * `mass_max` = max over the block's docs of the doc's total
    * contribution mass). N/blockSize rows; one doc-keyed build
    * shuffle.
    */
  def blockMaxStats(storeB: DataFrame): DataFrame =
    storeB.groupBy("block", "doc_id").agg(sum(col("contrib")).as("_m"))
      .groupBy("block").agg(max(col("_m")).as("mass_max"))

  /** EXACT top-k with block-max pruning: identical output to
    * [[bm25TopKFromContribStore]] over the same untruncated store.
    * θ(q) comes from the truncated store exactly as in
    * [[bm25TopKMaxScore]]; a block b stays ALIVE for query q iff
    * min(Σ_{t∈q} bmax(t, b), mass_max(b)) ≥ θ − 1e-6 — both legs
    * certify score(d) < θ − 1e-6 for every doc in a dead block
    * (term-wise block bounds; the mass ceiling), so dead-block docs
    * round below θ and cannot enter the top-k under any tiebreak, and
    * every doc with rounded score ≥ θ sits in an alive block (its own
    * score is under both certificates). Candidates (query-term
    * postings in alive blocks) fold over the exact store rows in
    * term-asc order — the same doubles in the same order as the full
    * traversal, bit-identical rows out.
    *
    * SCALE SHAPE: the bound computation is the QUERY-SLICED sidecar
    * (Σ_t min(df_t, N/blockSize) rows for the query's terms) — one
    * small groupBy keyed (q, block), never corpus-sized; the
    * alive-block filter (≤ Q · N/blockSize rows, usually a small
    * fraction after pruning) broadcasts under `aliveBroadcastMaxRows`
    * — counted, not guessed — else joins as sort-merge, so dead-block
    * postings are dropped before the fold exchange either way.
    * [[blockMaxFoldStats]] measures the reduction.
    */
  def bm25TopKBlockMax(storeB: DataFrame, truncated: DataFrame,
                       sidecar: DataFrame, stats: DataFrame,
                       queries: DataFrame,
                       qTextCol: String, qIdCol: String, k: Int,
                       aliveBroadcastMaxRows: Long = 4L << 20): DataFrame = {
    foldExchange(blockMaxFoldInput(storeB, truncated, sidecar, stats,
      queries, qTextCol, qIdCol, k, aliveBroadcastMaxRows), k)
  }

  /** The pruned fold input of [[bm25TopKBlockMax]] — exposed for the
    * fold-volume pins (specs, ScaleBench).
    */
  private[graft] def blockMaxFoldInput(storeB: DataFrame,
                                       truncated: DataFrame,
                                       sidecar: DataFrame,
                                       stats: DataFrame,
                                       queries: DataFrame, qTextCol: String,
                                       qIdCol: String, k: Int,
                                       aliveBroadcastMaxRows: Long = 4L << 20)
      : DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val qTerms = queryTermsRanked(queries, qTextCol, qIdCol)
    val theta = bm25TopKFromContribStore(truncated, queries,
        qTextCol, qIdCol, k)
      .filter(col("rank") === k)
      .select(col("q_id"), col("score").as("theta"))
    // per-(query, block) bound: Σ bmax over the query's terms present
    // in the block (absent terms bound 0), capped by the block's mass
    // ceiling. Query-sliced sidecar — the df discipline.
    val qb = sidecar.join(broadcast(qTerms.select("term").distinct()),
      Seq("term"))
    val bounds = qTerms.join(qb, Seq("term"))
      .groupBy("q_id", "block")
      .agg(sum(col("bmax")).as("_sb"))
      .join(stats, Seq("block"))
      .withColumn("bound", least(col("_sb"), col("mass_max")))
    // persisted (≤ Q · N/blockSize): the alive count below decides the
    // candidate-filter join strategy, and the plan reuses the cache
    val alive = persistRotating("blockMaxFoldInput.alive", bounds
      .join(broadcast(theta), Seq("q_id"), "left")
      .filter(col("theta").isNull ||
        col("bound") >= col("theta") - lit(1e-6))
      .select("q_id", "block"))
    val aliveFilter =
      if (alive.count() <= aliveBroadcastMaxRows) broadcast(alive)
      else alive.hint("merge")
    storeB.join(broadcast(qTerms), Seq("term"))
      .join(aliveFilter, Seq("q_id", "block"))
      .select(col("q_id"), col("term"), col("tr"), col("doc_id"),
        col("contrib"))
  }

  /** Fold-volume accounting for [[bm25TopKBlockMax]] vs the full
    * traversal: (pruned fold-input rows, full fold-input rows).
    */
  def blockMaxFoldStats(storeB: DataFrame, truncated: DataFrame,
                        sidecar: DataFrame, stats: DataFrame,
                        queries: DataFrame,
                        qTextCol: String, qIdCol: String, k: Int)
      : (Long, Long) = {
    val pruned = blockMaxFoldInput(storeB, truncated, sidecar, stats,
      queries, qTextCol, qIdCol, k).count()
    val qTerms = queries.select(col(qIdCol).as("q_id"),
      explode(queryTerms(col(qTextCol))).as("term"))
    val full = storeB.join(broadcast(qTerms), Seq("term")).count()
    (pruned, full)
  }

  /** Fold-volume accounting for [[bm25TopKMaxScore]] vs the full
    * traversal: (pruned fold-input rows, full fold-input rows =
    * Σ df over the queries' store terms). The bounded-reads metric pin.
    */
  def maxScoreFoldStats(store: DataFrame, truncated: DataFrame,
                        queries: DataFrame, qTextCol: String,
                        qIdCol: String, k: Int,
                        dfreq: Option[DataFrame] = None): (Long, Long) = {
    val pruned = maxScoreFoldInput(store, truncated, queries,
      qTextCol, qIdCol, k, dfreq).count()
    val qTerms = queries.select(col(qIdCol).as("q_id"),
      explode(queryTerms(col(qTextCol))).as("term"))
    val full = store.join(broadcast(qTerms), Seq("term")).count()
    (pruned, full)
  }

  /** BM25 top-k retrieval: for each query row, the k highest-scoring
    * documents. Output: `q_id`, `doc_id`, `score` (ROUND 6 double),
    * `rank` (int, 1-based; ties on the rounded score break doc-id
    * ascending). Queries scoring zero documents emit nothing (no
    * shared terms ⇒ no candidate rows — standard retrieval semantics).
    *
    * The one-shot form builds its postings in-plan and folds
    * scan-locally ([[foldScanLocal]]); the persisted-store serving path
    * (build once with [[postings]]/[[docFreq]]/[[corpusStats]], serve
    * many query batches) is [[bm25TopKFromStore]].
    */
  def bm25TopK(corpus: DataFrame, textCol: String, idCol: String,
               queries: DataFrame, qTextCol: String, qIdCol: String,
               k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    // PRECONDITION: corpus ids unique (the [[phraseTopK]] contract note)
    // ONE tokenization pass: df, corpus stats, and the candidate join
    // all read the same cached postings (without the persist each of
    // the three subtrees re-tokenizes the corpus — at 100 TB that is
    // two avoidable full-corpus scans). Rotating persist (see
    // [[persistRotating]]): repeated one-shot calls hold at most one
    // cached postings frame; repeated serving should use
    // bm25TopKFromStore with caller-managed persistence instead.
    val post = persistRotating("bm25TopK",
      postings(corpus, textCol, idCol))
    // in-plan scan-local build ⇒ doc-contiguous candidates by
    // construction ([[foldScanLocal]])
    foldScanLocal(bm25Candidates(post, docFreq(post),
      corpusStatsFromPostings(post), queries, qTextCol, qIdCol, k1, b), k)
  }

  /** [[bm25TopK]] against a prebuilt postings store (the serving
    * shape: postings/df/stats persisted once, query frames arrive).
    * A store's row order is the caller's (term-sorted files scatter a
    * document's postings), so this path folds through the exchange.
    */
  def bm25TopKFromStore(post: DataFrame, dfreq: DataFrame, stats: DataFrame,
                        queries: DataFrame, qTextCol: String, qIdCol: String,
                        k: Int, k1: Double = 1.2,
                        b: Double = 0.75): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    foldExchange(bm25Candidates(post, dfreq, stats, queries,
      qTextCol, qIdCol, k1, b), k)
  }

  /** Candidate source of the raw-postings paths: postings ⋈ the
    * broadcast query side ([[bm25QuerySide]] over the one-row
    * (`n_docs`, `avgdl`) stats frame), contrib per candidate.
    */
  private def bm25Candidates(post: DataFrame, dfreq: DataFrame,
                             stats: DataFrame, queries: DataFrame,
                             qTextCol: String, qIdCol: String,
                             k1: Double, b: Double): DataFrame = {
    post.join(bm25QuerySide(dfreq, stats, queries, qTextCol, qIdCol),
        Seq("term"))
      .withColumn("contrib",
        contribCol(col("tf"), col("dl"), col("idf"), col("avgdl"), k1, b))
  }

  /** Serving off a MAINTAINED raw postings store
    * ([[graft.streaming.StreamingLexicalIndex]]): always EXACT — tf/dl
    * never go stale (per-doc facts), and df is computed LIVE from a
    * term-pruned slice of the store (the query's distinct terms
    * collect driver-side behind a loud bound and push into the scan as
    * an IN filter, so term-sorted store files prune to the matched row
    * groups — no corpus-wide df pass per query batch). Corpus stats
    * arrive as scalars from the maintenance sidecar rollup
    * (exact, kilobytes).
    */
  def bm25TopKLive(post: DataFrame, nDocs: Long, avgdl: Double,
                   queries: DataFrame, qTextCol: String, qIdCol: String,
                   k: Int, k1: Double = 1.2, b: Double = 0.75,
                   maxQueryTerms: Int = 100000): DataFrame = {
    val spark = post.sparkSession
    val slice = querySlice(post, queries, qTextCol, maxQueryTerms)
    val dfreq = slice.groupBy("term").agg(count(lit(1)).as("df"))
    val stats = spark.range(1).select(lit(nDocs).as("n_docs"),
      lit(avgdl).as("avgdl"))
    bm25TopKFromStore(slice, dfreq, stats, queries, qTextCol, qIdCol,
      k, k1, b)
  }

  /** The rows of `post` for the query batch's distinct terms: the
    * terms collect driver-side behind a loud `maxQueryTerms` bound and
    * push into the store scan as an IN filter, so term-sorted store
    * files prune to the matched row groups. Every maintained-store
    * server slices through here.
    */
  private[graft] def querySlice(post: DataFrame, queries: DataFrame,
                                qTextCol: String,
                                maxQueryTerms: Int): DataFrame = {
    // limit-probe BEFORE collecting (the collectQueries device): the
    // bound must trip before the driver materializes an unbounded
    // term set, not after
    val terms = queries
      .select(explode(queryTerms(col(qTextCol))).as("term"))
      .distinct().limit(maxQueryTerms + 1)
      .collect().map(_.getString(0)).toSeq
    require(terms.length <= maxQueryTerms,
      s"over $maxQueryTerms distinct query terms (maxQueryTerms) — " +
        "split the query batch or raise the bound")
    post.filter(col("term").isInCollection(terms))
  }

  // ──────────────────── positional postings / phrase tier ────────────────────

  /** Positional inverted postings: the [[postings]] layout plus
    * `positions` — the term's 1-based token offsets within the doc,
    * ascending (`tf` = size(positions), kept as a column so the frame
    * stays stats-compatible with [[corpusStatsFromPostings]]). Same
    * SCAN-LOCAL build: a document's (term → positions) map is row-local
    * state, so the build needs NO shuffle; the empty-text `""` row
    * stays the dl carrier with positions [1].
    *
    * At scale the positions arrays grow the store by Σ tf − Σ distinct
    * (term, doc) ints — the standard positional-index overhead; persist
    * partitioned/bucketed by `term` exactly like the non-positional
    * store so query joins prune.
    */
  def postingsPositional(docs: DataFrame, textCol: String,
                         idCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col(idCol).cast("long"), TextFunctions.tokens(col(textCol)))
      .as[(Long, Seq[String])]
      .mapPartitions(_.flatMap { case (id, toks) =>
        val dl = toks.length.toLong
        val m = new java.util.LinkedHashMap[
          String, scala.collection.mutable.ArrayBuffer[Int]]()
        var i = 0
        while (i < toks.length) {
          m.computeIfAbsent(toks(i),
            _ => scala.collection.mutable.ArrayBuffer.empty[Int]) += (i + 1)
          i += 1
        }
        val out = Vector.newBuilder[(String, Long, Long, Long, Seq[Int])]
        m.forEach((t, ps) => out += ((t, id, dl, ps.length.toLong, ps.toSeq)))
        out.result()
      })
      .toDF("term", "doc_id", "dl", "tf", "positions")
  }

  /** Field-aware positional postings: each field's tokens take
    * consecutive positions and a `gap` (≥ 1 — Lucene's position-
    * increment-gap) separates consecutive fields, so a phrase can never
    * match ACROSS a field boundary: the last token of one field and the
    * first of the next sit `gap + 1` apart, never adjacent. Fields
    * tokenize through the SAME [[graft.functions.TextFunctions.tokens]]
    * column expression as every other lexical surface (no tokenizer
    * drift); empty tokens are dropped per field, and a document whose
    * fields are ALL empty keeps a single `""` dl-carrier row
    * (dl 1, positions [1]) mirroring the single-field convention.
    * `dl` is the total token count across fields, gaps excluded.
    */
  def postingsPositionalFields(docs: DataFrame, fieldCols: Seq[String],
                               idCol: String, gap: Int = 1): DataFrame = {
    require(fieldCols.nonEmpty, "postingsPositionalFields needs >= 1 field")
    require(gap >= 1, s"gap must be >= 1: $gap")
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col(idCol).cast("long"),
        array(fieldCols.map(f =>
          filter(TextFunctions.tokens(col(f)), t => t =!= lit(""))): _*))
      .as[(Long, Seq[Seq[String]])]
      .mapPartitions(_.map { case (id, fields) =>
        val m = new java.util.LinkedHashMap[
          String, scala.collection.mutable.ArrayBuffer[Int]]()
        var offset = 0
        var dl = 0L
        fields.foreach { toks =>
          var i = 0
          while (i < toks.length) {
            m.computeIfAbsent(toks(i),
              _ => scala.collection.mutable.ArrayBuffer.empty[Int]) +=
              (offset + i + 1)
            i += 1
          }
          dl += toks.length
          offset += toks.length + gap
        }
        (id, dl, m)
      }.flatMap { case (id, dl, m) =>
        if (m.isEmpty) Vector(("", id, 1L, 1L, Seq(1)))
        else {
          val out = Vector.newBuilder[(String, Long, Long, Long, Seq[Int])]
          m.forEach((t, ps) =>
            out += ((t, id, dl, ps.length.toLong, ps.toSeq)))
          out.result()
        }
      })
      .toDF("term", "doc_id", "dl", "tf", "positions")
  }

  /** Exact phrase top-k over a positional postings frame
    * ([[postingsPositional]] / [[postingsPositionalFields]]): the query
    * text IS the phrase — its token sequence (empty tokens dropped)
    * must appear contiguously, in order. Candidates filter by adjacency
    * BEFORE any scoring: each matched (phrase position j, doc position
    * pos) pair votes for anchor = pos − j + 1, and a doc position run
    * exists iff some anchor collects ALL m phrase positions. The phrase
    * then scores as a pseudo-term — BM25 with tf = the number of
    * anchors (multi-occurrence counts) and df = the number of docs with
    * ≥ 1 anchor — through the shared [[rankTail]].
    *
    * SCALE SHAPE: the phrase-position frame is query-sized and
    * broadcasts into the postings join, so only the phrase's terms'
    * postings ever explode their positions (candidate volume =
    * Σ tf over those terms — the positional-traversal cost); the anchor
    * fold and tf count shuffle on candidate keys; df and stats are
    * query-sized / one row. Nothing corpus-sized crosses the driver or
    * a broadcast.
    *
    * DETERMINISM: anchors/tf/dl/df are exact integers; the one ln
    * reaches output only through ROUND(_, 6); ranks tie-break doc-id
    * ascending. A whitespace-only query has no phrase and emits
    * nothing ([[queryTerms]]'s convention).
    */
  def phraseTopKFromPostings(post: DataFrame, queries: DataFrame,
                             qTextCol: String, qIdCol: String, k: Int,
                             k1: Double = 1.2, b: Double = 0.75,
                             statsOverride: Option[DataFrame] = None)
      : DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    // statsOverride: a one-row (n_docs, avgdl) frame from the exact
    // maintenance sidecar rollup — lets the maintained-store serving
    // path slice `post` down to the phrase's terms without losing the
    // corpus-wide stats (the bm25TopKLive device)
    val stats = statsOverride.getOrElse(corpusStatsFromPostings(post))
    // the exchange fold: a store's row order is the caller's, so the
    // packed entries of one (query, doc) meet behind one keyed shuffle
    val folded = phraseCandidates(post, queries, qTextCol, qIdCol)
      .groupBy("q_id", "doc_id", "dl", "m")
      .agg(TopK.phraseTf(col("j"), col("positions"), col("m")).as("tf"))
      .filter(col("tf") >= 1)
      .select(col("q_id"), col("doc_id"), col("dl"), col("tf"))
    phraseRank(folded, stats, k, k1, b)
  }

  /** Candidate source of the phrase paths: (q_id, doc_id, dl, m, j,
    * positions) — the phrase's terms' postings, one row per matched
    * (phrase position j, doc). ONE packed fold follows, positions never
    * explode: the fold collects the doc's ≤ m matched (j, positions)
    * entries per (query, doc) and counts the anchors — tf = |{p ∈
    * positions(j=1) : ∀ entry, p + j − 1 ∈ positions(j)}| — in ONE
    * native aggregate ([[graft.plans.PhraseTf]], round 17 guide §1.2:
    * the collect_list → completeness filter → flatten/forall/
    * array_contains pipeline built a struct-array column per group and
    * ran three higher-order expression trees over every candidate).
    * The per-position anchor explode (169 M rows at the 10⁶-doc bench
    * geometry) never exists.
    */
  private def phraseCandidates(post: DataFrame, queries: DataFrame,
                               qTextCol: String,
                               qIdCol: String): DataFrame = {
    val ph = queries
      .select(col(qIdCol).cast("long").as("q_id"),
        filter(TextFunctions.tokens(col(qTextCol)),
          t => t =!= lit("")).as("ph"))
      .filter(size(col("ph")) >= 1)
    val qpe = ph
      .select(col("q_id"), size(col("ph")).cast("long").as("m"),
        posexplode(col("ph")).as(Seq("j0", "term")))
      .select(col("q_id"), col("m"),
        (col("j0") + 1).cast("long").as("j"), col("term"))
    post.join(broadcast(qpe), Seq("term"))
  }

  /** Phrase scoring tail shared by both folds: the folded (q_id,
    * doc_id, dl, tf) rows score as a pseudo-term through the shared
    * [[rankTail]]. The fold feeds TWO consumers — the per-query df
    * aggregate and the scoring join — so it persists (round 17, guide
    * §2.4), or the candidate-volume postings join + packed fold would
    * run twice per serve; it is match-sized (docs with ≥ 1 anchor —
    * df(phrase) rows), far below candidate volume.
    */
  private def phraseRank(folded: DataFrame, stats: DataFrame, k: Int,
                         k1: Double, b: Double): DataFrame = {
    val ptf = persistRotating("phraseTopKFromPostings.ptf", folded)
    val pdf = ptf.groupBy("q_id").agg(count(lit(1)).as("df"))
    val scored = ptf.join(broadcast(pdf), Seq("q_id"))
      .crossJoin(broadcast(stats))
      .withColumn("score", round(
        bm25Idf(col("n_docs"), col("df")) *
          (col("tf").cast("double") * lit(k1 + 1.0)) /
          (col("tf").cast("double") +
            lit(k1) * (lit(1.0) - lit(b) +
              lit(b) * col("dl").cast("double") / col("avgdl"))), 6))
    rankTail(scored, "score", k)
  }

  /** SCAN-LOCAL phrase fold (round 17, guide §2.4/§8) — the
    * [[foldScanLocal]] device for the packed phrase aggregation, called
    * only by [[phraseTopK]], whose candidates are doc-contiguous and
    * partition-complete by construction (its own in-plan
    * [[postingsPositional]] build — one document = one input row, its
    * postings emitted consecutively — joined against a broadcast-only
    * query side). [[phraseTopKFromPostings]] serves stores whose row
    * order is the caller's and keeps the exchange fold. What crosses
    * the wire afterwards is the match-sized (q_id, doc_id, dl, tf) rows
    * — the candidate-volume positions exchange disappears.
    *
    * EQUIVALENCE: per (doc, query) run the entries append in stream
    * order and tf comes from the SAME [[graft.plans.PhraseTf]]
    * `countAnchors` the exchange-fold aggregate calls — identical
    * integer counting, order-insensitive. A contiguity violation fails
    * LOUDLY (per-partition revisit guard), never splits a group.
    * MEMORY: live state is one document's matched-query entries plus
    * one Long per distinct doc for the guard — bounded regardless of
    * candidate volume (the bounded-doc-run lesson of [[foldScanLocal]]).
    */
  private def phraseFoldScanLocal(matched: DataFrame): DataFrame = {
    val spark = matched.sparkSession
    import spark.implicits._
    matched
      .select(col("q_id"), col("doc_id"), col("dl"), col("m"),
        col("j"), col("positions"))
      .as[(Long, Long, Long, Long, Long, Seq[Int])]
      .mapPartitions { it =>
        new Iterator[(Long, Long, Long, Long)] {
          private var cur: (Long, Long, Long, Long, Long, Seq[Int]) =
            if (it.hasNext) it.next() else null
          private var out: Iterator[(Long, Long, Long, Long)] =
            Iterator.empty
          private val seen = new java.util.HashSet[java.lang.Long]()
          private def refill(): Unit = {
            while (!out.hasNext && cur != null) {
              val d = cur._2
              require(seen.add(d),
                s"phraseFoldScanLocal: doc $d revisited within a " +
                  "partition — the corpus ids are not unique")
              val m = new java.util.LinkedHashMap[java.lang.Long,
                graft.plans.PhraseTfBuffer]()
              val meta = new java.util.HashMap[java.lang.Long,
                (Long, Long)]() // q_id -> (dl, m)
              while (cur != null && cur._2 == d) {
                m.computeIfAbsent(cur._1,
                  _ => new graft.plans.PhraseTfBuffer())
                  .append(cur._5, cur._6.toArray)
                meta.putIfAbsent(cur._1, (cur._3, cur._4))
                cur = if (it.hasNext) it.next() else null
              }
              val res = Vector.newBuilder[(Long, Long, Long, Long)]
              m.forEach { (q, buf) =>
                val (dl, mm) = meta.get(q)
                val tf = graft.plans.PhraseTf.countAnchors(
                  buf.js, buf.pos, buf.size, mm)
                if (tf >= 1L) res += ((q, d, dl, tf))
              }
              out = res.result().iterator
            }
          }
          override def hasNext: Boolean = { refill(); out.hasNext }
          override def next(): (Long, Long, Long, Long) = {
            refill(); out.next()
          }
        }
      }
      .toDF("q_id", "doc_id", "dl", "tf")
  }

  /** One-shot convenience: positional postings built inline (persisted
    * via the rotating site cache — repeated serving should build
    * [[postingsPositional]] once with caller-managed persistence and
    * use [[phraseTopKFromPostings]]). The in-plan build satisfies the
    * scan-local fold's contiguity contract whatever the layout of
    * `docs`, so the candidate-volume positions exchange is elided
    * ([[phraseFoldScanLocal]]).
    *
    * PRECONDITION (round 18, advisor item): `docs` ids must be UNIQUE
    * — the corpus contract every surface already assumes (stats count
    * duplicate ids as separate documents while keyed folds merge
    * them). On the scan-local path a duplicate id in one scan
    * partition fails LOUDLY (the revisit guard); duplicate ids in
    * different partitions are emitted as independent rows — supply
    * de-duplicated corpora.
    */
  def phraseTopK(docs: DataFrame, textCol: String, idCol: String,
                 queries: DataFrame, qTextCol: String, qIdCol: String,
                 k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val post = persistRotating("phraseTopK",
      postingsPositional(docs, textCol, idCol))
    phraseRank(phraseFoldScanLocal(
        phraseCandidates(post, queries, qTextCol, qIdCol)),
      corpusStatsFromPostings(post), k, k1, b)
  }

  /** Sequential-dependence proximity ranking (Metzler & Croft,
    * SIGIR'05 — the MRF sequential-dependence model), with BM25
    * feature weighting over a positional postings frame
    * ([[postingsPositional]] / [[postingsPositionalFields]]):
    *
    *   score(q, d) = λT · Σ_j idf(df_j)   · sat(tf_j,  dl)    unigrams
    *              + λO · Σ_i idf(df_o_i) · sat(tf_o_i, dl)    ordered
    *              + λU · Σ_i idf(df_u_i) · sat(tf_u_i, dl)    unordered
    *
    * j walks the query's token positions IN ORDER (a duplicated query
    * term scores once per position — the model's Σ over query terms),
    * i walks adjacent pairs (w_i, w_i+1). Feature frequencies are the
    * classic Indri operators: tf_o = #1(w_i w_i+1) (exact ordered
    * adjacency count), tf_u = #uwN(w_i, w_i+1), counted as ORDERED position
    * pairs (p1 from w_i, p2 from w_i+1, p1 ≠ p2, |p1 − p2| < N) — so
    * when the two pair terms are IDENTICAL (query "a a"), each
    * co-occurring position pair counts twice ({1, 4} → tf_u = 2),
    * a deliberate, oracle-pinned divergence from Indri's unordered-set
    * #uwN for the duplicated-term corner. Where the paper weights features with Dirichlet language
    * models, this surface weights every feature with the engine's BM25
    * form — idf × sat in the FACTORED association (the
    * [[bm25TopKFromFactoredStore]] convention): unigram dfs come from
    * the store's document frequencies; pair-feature dfs are the count
    * of docs with the feature present, discovered on the candidate set
    * the pair computation already builds (a pair df is only defined
    * against docs holding both terms — exactly the candidates).
    *
    * SCALE SHAPE: query side (terms × per-term df × idf, then
    * per-(query, pair) feature idfs) is vocabulary-semi-joined down to
    * query size BEFORE any broadcast; the one candidate-volume shuffle
    * is the packed per-(query, doc) fold (Σ df over the query's terms,
    * positions packed — never exploded); pair features compute
    * scan-locally from the ≤ m packed entries (O(m²) array probes per
    * candidate, m = query length); pair dfs are a query-sized
    * aggregate; the final scoring join broadcasts the query-sized idf
    * table back onto the packed frame. Nothing corpus-sized crosses
    * the driver or a broadcast.
    *
    * DETERMINISM: tf/df are exact integers; unigram contributions fold
    * in query-position order, pair contributions in pair-index order
    * (zero-valued entries add +0.0 — exact identity, so the oracle may
    * fold only the present features); the three sums combine in the
    * λT + λO + λU written order and ROUND(_, 6) before ranking; ranks
    * tie-break doc-id ascending. Whitespace-only queries emit nothing.
    *
    * The packed fold persists via the rotating site cache (its two
    * consumers — pair-df discovery and scoring — must not recompute
    * the candidate shuffle); repeated serving should persist the
    * positional postings with caller-managed persistence and call this
    * form directly.
    *
    * RERANK MODE (`rerank = Some(n)`): the deployment shape the
    * proximity literature assumes — a first pass ranks every candidate
    * by the unigram sum alone (ROUND-6, doc-id tiebreak, bounded
    * top-n), and the pair features (the expensive positional probes —
    * measured 2.1–3.4× the flat traversal when run on EVERY candidate)
    * price only the surviving Q×n rows. Pair dfs then count over the
    * rerank set, not the full candidate set — scores are a function of
    * n (documented, and pinned by the oracle); with n ≥ the per-query
    * candidate count the mode degenerates to the exact full traversal.
    */
  def sdmTopKFromPostings(post: DataFrame, queries: DataFrame,
                          qTextCol: String, qIdCol: String, k: Int,
                          lambdaT: Double = 0.85, lambdaO: Double = 0.1,
                          lambdaU: Double = 0.05, window: Int = 8,
                          k1: Double = 1.2, b: Double = 0.75,
                          rerank: Option[Int] = None,
                          statsOverride: Option[DataFrame] = None)
      : DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(rerank.forall(_ >= k),
      s"rerank depth must be >= k: $rerank < $k")
    require(window >= 2, s"unordered window must be >= 2: $window")
    // statsOverride: exact sidecar-rollup (n_docs, avgdl) — the
    // maintained-store serving path ([[graft.streaming
    // .StreamingLexicalIndex.serveSdm]]) slices `post` to the query's
    // terms and threads corpus stats here
    // corpus stats: ONE row, but the subtree behind it is a
    // corpus-wide distinct — and it used to be referenced by THREE
    // separate broadcast builds per rerank serve (qT twice, the
    // pair-df pass once), each re-running the full-store pass.
    // Persist the one-row result (round 18, guide §5): every
    // broadcast build now reads the cache.
    val stats = persistRotating("sdmTopKFromPostings.stats",
      statsOverride.getOrElse(corpusStatsFromPostings(post)))
    val ph = queries
      .select(col(qIdCol).cast("long").as("q_id"),
        filter(TextFunctions.tokens(col(qTextCol)),
          t => t =!= lit("")).as("ph"))
      .filter(size(col("ph")) >= 1)
    val qpe = ph
      .select(col("q_id"), size(col("ph")).cast("long").as("m"),
        posexplode(col("ph")).as(Seq("j0", "term")))
      .select(col("q_id"), col("m"),
        (col("j0") + 1).cast("long").as("j"), col("term"))
    // query-term document frequencies: SLICE FIRST, then aggregate
    // (round 18, guide §2.3) — the old docFreq(post) ⋈ qpe ran a
    // VOCABULARY-wide aggregation exchange over the whole store and
    // threw away every non-query term; counting the broadcast-sliced
    // rows groups at query-term cardinality with map-side combine and
    // no vocab-wide exchange. df values identical (filtering on the
    // group key commutes with the count); corpus-absent terms drop
    // either way (inner join / empty slice).
    val dfq = post
      .join(broadcast(qpe.select("term").distinct()), Seq("term"))
      .groupBy("term").agg(count(lit(1)).as("df"))
    // unigram idf rides the query side (ln computed once per
    // (query, position) — never per candidate); a term absent from
    // the corpus drops here, which IS its score: tf = 0 in every doc.
    // PERSISTED (round 18): qT is query-sized but its subtree costs a
    // full-store df pass — and the rerank mode broadcasts qT TWICE
    // (first pass + re-pack), which re-ran that pass per broadcast
    // build. The cache makes the second build free.
    val qT = persistRotating("sdmTopKFromPostings.qT",
      qpe.join(dfq, Seq("term"))
        .crossJoin(broadcast(stats))
        .withColumn("idf_t", bm25Idf(col("n_docs"), col("df")))
        .select(col("term"), col("q_id"), col("m"), col("j"),
          col("idf_t"), col("n_docs"), col("avgdl")))
    // NATIVE candidate fold (round 18, guide §1.2 — the PhraseTf
    // template applied to the last hot interpreted fold): the unigram
    // contribution idf_t · sat(tf) is precomputed per candidate row by
    // the SAME codegen'd expression the old interpreted fold evaluated
    // per element (identical doubles), and ONE sdm_features aggregate
    // replaces sort_array(collect_list(struct(j, tf, idf_t,
    // positions))) + the interpreted j-asc unigram fold + the per-pair
    // get(filter(...)) positions-probing chain: s_t sums in the same
    // j-asc order from +0.0 (j unique per group — struct sort order ≡
    // j order), pairs(i) = (tfo, tfu) of the j = i / j = i + 1 entries
    // with absent entries counting (0, 0), exactly the rows the
    // coalesced expression chain emitted (SdmSpec's differential).
    // The persisted fold also SHRINKS: (s_t, pairs) per candidate
    // instead of the full packed entry structs with positions arrays.
    val contribC = col("idf_t") *
      satCol(col("tf"), col("dl"), col("avgdl"), k1, b)
    def foldNative(base: DataFrame): DataFrame = base
      .withColumn("_c", contribC)
      .groupBy(col("q_id"), col("doc_id"), col("dl"), col("m"),
        col("n_docs"), col("avgdl"))
      .agg(TopK.sdmFeatures(col("j"), col("_c"), col("positions"),
        col("m"), window).as("f"))
      .select(col("q_id"), col("doc_id"), col("dl"), col("m"),
        col("n_docs"), col("avgdl"),
        col("f.s_t").as("s_t"), col("f.pairs").as("pairs"))
    // rerank mode: unigram-only first pass over a POSITIONS-FREE fold
    // (the positions column prunes out of the scan — the unigram score
    // never needs it; j is unique per (query, doc), so the long-key
    // ordered fold replays the sorted fold order), bounded top-n, then
    // the survivors' ids broadcast back UNDER the positional re-pack:
    // only Q×n rows ever fold their positions arrays. Round 16 cached
    // the full positional fold and read its 35 GB disk-resident frame
    // twice at the 10⁷ geometry (BASELINE SDM row); this shape
    // replaces that with a cheap position-free pass plus a
    // survivor-sized re-pack.
    val packed = persistRotating("sdmTopKFromPostings", rerank match {
      case Some(n) =>
        val sel = post.join(broadcast(qT), Seq("term"))
          .withColumn("_c", contribC)
          .groupBy(col("q_id"), col("doc_id"), col("dl"), col("m"),
            col("n_docs"), col("avgdl"))
          .agg(TopK.orderedFoldSumLong(col("j"), col("_c")).as("s"))
          .withColumn("st_r", round(col("s"), 6))
          .groupBy("q_id")
          .agg(TopK.topKNative(n, negate(col("st_r")), col("doc_id"))
            .as("top"))
          .select(col("q_id"), explode(col("top")).as("t"))
          .select(col("q_id"), col("t.id").as("doc_id"))
        foldNative(post.join(broadcast(qT), Seq("term"))
          .join(broadcast(sel), Seq("q_id", "doc_id")))
      case None =>
        foldNative(post.join(broadcast(qT), Seq("term")))
    })
    // pair-feature dfs: query-sized aggregate over the candidates that
    // hold the feature, idfs computed HERE (once per (query, pair)),
    // folded into a per-query lookup array for the broadcast back.
    val dfs = packed
      .select(col("q_id"), explode(col("pairs")).as("pr"))
      .select(col("q_id"), col("pr.i").as("i"),
        col("pr.tfo").as("tfo"), col("pr.tfu").as("tfu"))
      .filter(col("tfo") > 0 || col("tfu") > 0)
      .groupBy("q_id", "i")
      .agg(sum(when(col("tfo") > 0, 1L).otherwise(0L)).as("df_o"),
        sum(when(col("tfu") > 0, 1L).otherwise(0L)).as("df_u"))
      .crossJoin(broadcast(stats.select("n_docs")))
      .select(col("q_id"), col("i"),
        bm25Idf(col("n_docs"), col("df_o")).as("idf_o"),
        bm25Idf(col("n_docs"), col("df_u")).as("idf_u"))
      .groupBy("q_id")
      .agg(sort_array(collect_list(struct(col("i"), col("idf_o"),
        col("idf_u")))).as("ids"))
    // s_t comes straight from the native fold; the s_o/s_u folds stay
    // expression-form — ≤ m−1 pairs per candidate against a query-sized
    // ids array, not a hot path
    val scored = packed
      .join(broadcast(dfs), Seq("q_id"), "left")
      .withColumn("s_o", aggregate(col("pairs"), lit(0.0),
        (acc, pr) => {
          val idf = get(filter(col("ids"),
            x => x.getField("i") === pr.getField("i")), lit(0))
            .getField("idf_o")
          acc + when(pr.getField("tfo") > 0,
            idf * satCol(pr.getField("tfo"), col("dl"), col("avgdl"),
              k1, b)).otherwise(lit(0.0))
        }))
      .withColumn("s_u", aggregate(col("pairs"), lit(0.0),
        (acc, pr) => {
          val idf = get(filter(col("ids"),
            x => x.getField("i") === pr.getField("i")), lit(0))
            .getField("idf_u")
          acc + when(pr.getField("tfu") > 0,
            idf * satCol(pr.getField("tfu"), col("dl"), col("avgdl"),
              k1, b)).otherwise(lit(0.0))
        }))
      .withColumn("score", round(
        lit(lambdaT) * col("s_t") + lit(lambdaO) * col("s_o") +
          lit(lambdaU) * col("s_u"), 6))
    rankTail(scored, "score", k)
  }

  /** One-shot convenience: positional postings built inline (persisted
    * via the rotating site cache — repeated serving should build
    * [[postingsPositional]] once with caller-managed persistence and
    * use [[sdmTopKFromPostings]]).
    */
  def sdmTopK(docs: DataFrame, textCol: String, idCol: String,
              queries: DataFrame, qTextCol: String, qIdCol: String,
              k: Int,
              lambdaT: Double = 0.85, lambdaO: Double = 0.1,
              lambdaU: Double = 0.05, window: Int = 8,
              k1: Double = 1.2, b: Double = 0.75,
              rerank: Option[Int] = None): DataFrame = {
    val post = persistRotating("sdmTopK",
      postingsPositional(docs, textCol, idCol))
    sdmTopKFromPostings(post, queries, qTextCol, qIdCol, k,
      lambdaT, lambdaO, lambdaU, window, k1, b, rerank)
  }

  /** The exchange fold + rank tail every store-serving BM25-family
    * top-k shares: one groupBy keyed (q_id, doc_id), the native
    * `ordered_fold_sum_long` summing each candidate's `contrib` in
    * per-query term-rank order (`tr`, [[queryTermsRanked]]: rank-asc ≡
    * term-asc, so the float sum is the term-ordered fold with an 8-byte
    * primitive key per candidate), ROUND 6, then [[rankTail]]. The
    * candidates of a store arrive in the store's order (term-sorted
    * files scatter a document's postings), so their per-(query, doc)
    * contributions can only meet behind this exchange.
    */
  private def foldExchange(cand: DataFrame, k: Int): DataFrame =
    rankTail(cand.groupBy("q_id", "doc_id")
      .agg(TopK.orderedFoldSumLong(col("tr"), col("contrib")).as("s"))
      .withColumn("score", round(col("s"), 6)), "score", k)

  /** SCAN-LOCAL per-(query, doc) fold + rank tail (round 17, guide
    * §2.4/§8), called only by the one-shot builders ([[bm25TopK]],
    * [[bm25fTopK]]). Their candidates are their own persisted IN-PLAN
    * postings (one document = one input row of a scan-local build, so
    * all its postings are emitted consecutively and stay in its scan
    * partition, whatever the layout of the input docs) joined to a
    * broadcast query side (the columnar cache and the broadcast-hash
    * probe both preserve within-partition row order). Each document's
    * candidates therefore arrive as ONE consecutive run by
    * construction, and the fold needs no exchange: what crosses the
    * wire is the bounded rank-tail partials (≤ k per query per
    * partition). Every store-serving entry takes [[foldExchange]].
    *
    * EQUIVALENCE: per group, contributions append into the same
    * [[graft.plans.LongFoldBuffer]] the native aggregate uses — keyed
    * by the per-query term RANK — and sum via the same key-asc
    * `orderedSum`: the same doubles in the same order as the exchange
    * fold. A revisited document (duplicate corpus ids — the builders'
    * precondition) fails LOUDLY (per-partition revisit guard), never
    * splits a group silently.
    *
    * MEMORY: live state is one document's matched-query buffers at a
    * time (≤ |query batch|), plus one Long per distinct doc for the
    * guard — bounded regardless of candidate volume. (The first cut
    * accumulated every candidate group per partition and OOM'd a
    * 28 GiB heap at the 10⁶-doc BM25F-skew geometry; the exchange fold
    * never has that hazard because ObjectHashAggregate falls back to
    * sort-based spilling.)
    */
  private def foldScanLocal(cand: DataFrame, k: Int): DataFrame = {
    val spark = cand.sparkSession
    import spark.implicits._
    val folded = cand
      .select(col("q_id"), col("doc_id"), col("tr"), col("contrib"))
      .as[(Long, Long, Long, Double)]
      .mapPartitions { it =>
        new Iterator[(Long, Long, Double)] {
          private var cur: (Long, Long, Long, Double) =
            if (it.hasNext) it.next() else null
          private var out: Iterator[(Long, Long, Double)] =
            Iterator.empty
          // loud contiguity guard: a revisited doc would silently
          // split its fold into two partial rows (duplicate doc_id in
          // the rank tail with partial scores) — fail instead. Costs
          // one Long per distinct doc in the partition.
          private val seen = new java.util.HashSet[java.lang.Long]()
          private def refill(): Unit = {
            while (!out.hasNext && cur != null) {
              val d = cur._2
              require(seen.add(d),
                s"foldScanLocal: doc $d revisited within a partition — " +
                  "the corpus ids are not unique")
              val m = new java.util.LinkedHashMap[java.lang.Long,
                graft.plans.LongFoldBuffer]()
              while (cur != null && cur._2 == d) {
                m.computeIfAbsent(cur._1,
                  _ => new graft.plans.LongFoldBuffer())
                  .append(cur._3, cur._4)
                cur = if (it.hasNext) it.next() else null
              }
              val res = Vector.newBuilder[(Long, Long, Double)]
              m.forEach { (q, buf) => res += ((q, d, buf.orderedSum())) }
              out = res.result().iterator
            }
          }
          override def hasNext: Boolean = { refill(); out.hasNext }
          override def next(): (Long, Long, Double) = {
            refill(); out.next()
          }
        }
      }
      .toDF("q_id", "doc_id", "s")
    rankTail(folded.withColumn("score", round(col("s"), 6)), "score", k)
  }

  /** The determinism-critical rank tail every batch top-k surface
    * shares: bounded top-k on the (already-rounded) score — d = −score
    * ascending ≡ score descending, ties doc-id ascending, partials
    * clamp at k — then posexplode to (q_id, doc_id, <score>, rank).
    * ONE implementation so the batch surfaces and their oracles cannot
    * drift apart on the tiebreak/rounding contract.
    */
  private def rankTail(scored: DataFrame, scoreCol: String,
                       k: Int): DataFrame =
    scored
      .groupBy("q_id")
      .agg(TopK.topKNative(k, negate(col(scoreCol)), col("doc_id"))
        .as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("q_id"), col("t.id").as("doc_id"),
        negate(col("t.d")).as(scoreCol),
        (col("pos") + 1).cast("int").as("rank"))

  /** Score-based fusion (Fox & Shaw SIGIR'94: CombSUM / CombMNZ, with
    * Lee SIGIR'97 min–max normalization) — the score-space complement
    * of rank-space [[rrfFuse]]. Each input frame carries (`q_id`,
    * `doc_id`, `score`); scores min–max normalize PER (list, query)
    * (a degenerate single-valued list normalizes to 1.0 — pinned),
    * normalized contributions fold in list-index order (the rrfFuse
    * determinism device), CombMNZ further multiplies by the number of
    * lists containing the doc. Output: `q_id, doc_id, comb` (ROUND 6),
    * `rank` — ties on the rounded score break doc-id ascending.
    *
    * Determinism: inputs are the round-6 scores our rank tails emit;
    * min/max over exact doubles, the normalization one
    * fixed-order rational expression, the list count an exact
    * integer — everything before the final ROUND replays bit-for-bit
    * cross-engine. Scale: inputs are already ≤ Q·k rows, so the
    * per-(list, query) window and the fold are query-sized everywhere.
    */
  def combFuse(ranked: Seq[DataFrame], k: Int,
               mnz: Boolean = false): DataFrame = {
    require(ranked.nonEmpty, "combFuse needs at least one ranked frame")
    require(k >= 1, s"k must be >= 1: $k")
    import org.apache.spark.sql.expressions.Window
    val tagged = ranked.zipWithIndex.map { case (r, i) =>
      r.select(col("q_id"), col("doc_id"),
        lit(i).as("src"), col("score").cast("double").as("s"))
    }.reduce(_ unionByName _)
    val w = Window.partitionBy("src", "q_id")
    val normed = tagged
      .withColumn("mn", min(col("s")).over(w))
      .withColumn("mx", max(col("s")).over(w))
      .withColumn("norm", when(col("mx") === col("mn"), lit(1.0))
        .otherwise((col("s") - col("mn")) / (col("mx") - col("mn"))))
    val base = normed
      .groupBy("q_id", "doc_id")
      .agg(sort_array(collect_list(struct(col("src"), col("norm"))))
        .as("cs"))
      .withColumn("fsum", aggregate(col("cs"), lit(0.0),
        (acc, x) => acc + x.getField("norm")))
    val scored = base.withColumn("comb",
      round(if (mnz) col("fsum") * size(col("cs")).cast("double")
            else col("fsum"), 6))
    rankTail(scored, "comb", k)
  }

  /** Reciprocal-rank fusion (Cormack & Clarke SIGIR'09): fuse N ranked
    * lists into one, score(d) = Σ_r 1/(c + rank_r(d)). Each input
    * frame carries (`q_id`, `doc_id`, `rank`); frames contribute in
    * the order given (the fold is position-pinned — contributions
    * sort by the frame's index, so the float sum is order-
    * deterministic cross-engine). Output: `q_id`, `doc_id`,
    * `rrf` (ROUND 9 double), `rank` (int, ties on rounded rrf break
    * doc-id ascending), top-k per query via the bounded [[TopK]]
    * aggregate.
    *
    * The scale story is the inputs': each ranked frame is already
    * ≤ Q·k rows, so fusion is query-sized everywhere — union, one
    * small groupBy, one bounded top-k.
    */
  def rrfFuse(ranked: Seq[DataFrame], k: Int, c: Int = 60): DataFrame = {
    require(ranked.nonEmpty, "rrfFuse needs at least one ranked frame")
    require(k >= 1, s"k must be >= 1: $k")
    val tagged = ranked.zipWithIndex.map { case (r, i) =>
      r.select(col("q_id"), col("doc_id"),
        lit(i).as("src"), col("rank").cast("long").as("r"))
    }.reduce(_ unionByName _)
    val scored = tagged
      .groupBy("q_id", "doc_id")
      .agg(sort_array(collect_list(struct(col("src"),
        (lit(1.0) / (lit(c).cast("double") + col("r").cast("double")))
          .as("contrib")))).as("cs"))
      .withColumn("rrf",
        round(aggregate(col("cs"), lit(0.0),
          (acc, x) => acc + x.getField("contrib")), 9))
    rankTail(scored, "rrf", k)
  }
}
