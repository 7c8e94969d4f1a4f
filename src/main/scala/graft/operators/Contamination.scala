package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Benchmark decontamination: find training documents that share
  * word-n-grams with an evaluation/benchmark corpus, so they can be
  * dropped before training (the standard "test-set contamination"
  * sweep, e.g. GPT-3 appendix C / PaLM-style 3-gram overlap checks).
  *
  * Plan shape at scale: the eval corpus is tiny next to training data
  * (thousands of docs vs billions), so its distinct shingle-hash set
  * broadcasts; the training side is one explode + broadcast hash join +
  * one groupBy — the ONLY corpus-sized shuffle is the per-doc count,
  * and the training corpus is never repartitioned or self-joined.
  * Shingles hash through the fused `shingle_hash60` expression
  * ([[graft.plans.ShingleHash60]]), the same 60-bit md5-prefix family
  * the MinHash pipeline uses, so the oracle derives identical values.
  */
object Contamination {

  /** Training docs sharing at least one `width`-gram with the eval
    * corpus: (idCol, n_shared) where n_shared counts DISTINCT shared
    * shingle hashes. Clean docs don't appear (filter semantics);
    * left-join downstream to keep them with n_shared = 0.
    */
  def contaminatedDocs(train: DataFrame, eval: DataFrame,
                       textCol: String, idCol: String,
                       width: Int = 3): DataFrame = {
    def hashes(df: DataFrame) = df.select(col(idCol),
      explode(array_distinct(Dedup.tokenShingleHashes(
        TextFunctions.tokens(col(textCol)), width))).as("h"))
    val evalHashes = hashes(eval).select("h").distinct()
    hashes(train)
      .join(broadcast(evalHashes), "h")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** FUZZY decontamination: training docs NEAR-duplicating an eval doc
    * under MinHash similarity, catching the paraphrased / lightly
    * edited / partially quoted eval leakage that the exact-shingle
    * sweep above misses (a doc sharing one 3-gram is flagged there; a
    * doc that is 80% an eval answer with every 3rd word edited is
    * not). Same signature family as the MinHash-LSH dedup pipeline
    * (k salted min-hashes over 60-bit md5 shingle hashes), so the
    * DuckDB oracle derives identical values.
    *
    * Plan shape at scale: signatures are scan-local on both sides; the
    * eval side's banded buckets broadcast (eval corpora are thousands
    * of docs vs billions of training docs); candidate (train, eval)
    * collisions emerge from a broadcast hash join — the training
    * corpus never shuffles. The similarity estimate is the classic
    * signature agreement fraction (matching components / k), computed
    * from the two signatures already in hand — no second pass over
    * text. The only shuffles touch candidate-pair-sized data: one
    * distinct (a pair can collide in several bands) and one per-doc
    * rollup.
    *
    * Output: one row per contaminated training doc —
    * (idCol, n_eval_hits, max_sim) where n_eval_hits counts distinct
    * eval docs LSH-colliding with it and max_sim is the best
    * signature-agreement estimate in [0, 1]. Clean docs don't appear.
    *
    * CONTRACT — `eval` is an EVALUATION corpus (thousands of docs,
    * never corpus-sized): per-group aggregation state is the doc's
    * distinct eval hits (`collect_set(eval_id)`, ≤ |eval| entries),
    * and the banded eval side is BROADCAST — Spark's 8 GB / 512 M-row
    * broadcast-relation cap is the physical ceiling that rejects a
    * corpus-sized `eval` loudly rather than silently degrading. For
    * train-vs-train near-dup at corpus scale use the LSH pair surface
    * ([[Dedup.lshBuckets]]), which never holds a per-doc hit set.
    */
  def fuzzyContaminatedDocs(train: DataFrame, eval: DataFrame,
                            textCol: String, idCol: String,
                            k: Int = 8, bands: Int = 4,
                            rowsPerBand: Int = 2): DataFrame = {
    // lshBuckets' explode-first shape, keeping the signature attribute
    // on each banded row so the estimate needs no join back
    def banded(df: DataFrame) = df
      .select(col(idCol), Dedup.intMinhashSignature(
        Dedup.tokenShingleHashes(TextFunctions.tokens(col(textCol))), k).as("sig"))
      .select(col(idCol), col("sig"),
        posexplode(sequence(lit(0), lit(bands - 1))).as(Seq("band", "_band")))
      .select(col(idCol), col("sig"), col("band"),
        md5(concat_ws("|",
          transform(slice(col("sig"), col("_band") * rowsPerBand + 1, lit(rowsPerBand)),
            x => x.cast("string")))).as("bucket"))
    val evalBanded = banded(eval)
      .withColumnRenamed(idCol, "eval_id").withColumnRenamed("sig", "eval_sig")
    // ONE exchange (round 17, guide §2.4): `sim` is a pure function of
    // the (train, eval) PAIR — identical on every band the pair
    // collides in — so the per-pair de-dup the old
    // `.distinct().groupBy(id)` pipeline paid a second shuffle for
    // folds into the same aggregate: n_eval_hits = |collect_set(
    // eval_id)| and max_sim = MAX(sim) are both insensitive to band
    // multiplicity. collect_set partially aggregates map-side, so the
    // band duplicates combine before the single id-keyed exchange;
    // per-group state is the doc's distinct eval hits (≤ |eval| —
    // eval corpora are thousands of docs, and the object-hash
    // fallback threshold is raised session-wide for exactly these
    // bounded-state aggregates). A COUNT(DISTINCT) form would plan
    // the same two exchanges the old pipeline paid.
    banded(train)
      .join(broadcast(evalBanded), Seq("band", "bucket"))
      .select(col(idCol), col("eval_id"),
        (aggregate(zip_with(col("sig"), col("eval_sig"),
            (a, b) => when(a === b, 1).otherwise(0)),
          lit(0), (acc, x) => acc + x).cast("double") / k).as("sim"))
      .groupBy(col(idCol))
      .agg(size(collect_set(col("eval_id"))).cast("long")
          .as("n_eval_hits"),
        max(col("sim")).as("max_sim"))
  }
}
