package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  *   - `bruteForceTopK` is the exact baseline: queries × corpus with a
  *     broadcast query side — O(|Q|·N) dot products but zero shuffle of
  *     the corpus; right answer, used to grade the approximate paths.
  *   - `lshTopK` is the scale path: both sides bucketed by sign-LSH,
  *     candidates only within equal buckets (hash equi join). Probing
  *     cost drops by the bucket fan-out (~2^bits) at some recall loss.
  *
  * Every pairwise scorer precomputes per-row vector norms BEFORE the
  * join and scores pairs with one cosine-from-norms pass — one array
  * traversal per candidate pair instead of three, with bit-identical
  * results (the hoisted norm is the same expression evaluated once).
  * Dot products run on the fused `vec_dot` codegen expression
  * (graft.plans.VecDot),
  * which is bit-identical to the zip_with/aggregate composition but
  * skips the intermediate products array on every pair.
  */
object Similarity {

  /** Exact top-k neighbors for each query vector (self excluded). */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(
      col(idCol).as("q_id"), col(vecCol).as("q_vec"),
      normNative(col(vecCol)).as("q_norm")))
    val w = Window.partitionBy("q_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("n_vec"),
        normNative(col(vecCol)).as("n_norm"))
      .join(q, col("neighbor_id") =!= col("q_id"))
      .withColumn("cos", cosineWithNormsNative(
        col("q_vec"), col("n_vec"), col("q_norm"), col("n_norm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("neighbor_id"),
              round(col("cos"), 6).as("cosine"), col("rank"))
  }

  /** Approximate top-k: candidates restricted to the query's sign
    * bucket.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame,
              idCol: String, vecCol: String, bits: Int, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("n_vec"),
      normNative(col(vecCol)).as("n_norm"), signBucket(col(vecCol), bits).as("bucket"))
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"),
      normNative(col(vecCol)).as("q_norm"), signBucket(col(vecCol), bits).as("bucket"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    c.join(q, Seq("bucket"))
      .filter(col("neighbor_id") =!= col("q_id"))
      .withColumn("cos", cosineWithNormsNative(
        col("q_vec"), col("n_vec"), col("q_norm"), col("n_norm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("neighbor_id"), col("bucket"),
              round(col("cos"), 6).as("cosine"), col("rank"))
  }

  /** Multi-probe sign-LSH top-k ([[lshTopK]] plus Lv et al.'s
    * multi-probe recall lever): each query probes its own bucket AND
    * the `nProbe − 1` Hamming-1 neighbor buckets flipped at its
    * smallest-|component| dims — the hyperplanes it sits closest to.
    * Recall rises toward brute force as nProbe grows while the
    * CORPUS side is untouched (still one bucket per row, the same
    * layout [[graft.streaming.StreamingSimilarity.bucketCorpus]]
    * caches); cost is the query side replicated nProbe×, which is
    * the cheap side by assumption.
    */
  def lshTopKMultiProbe(corpus: DataFrame, queries: DataFrame,
                        idCol: String, vecCol: String, bits: Int,
                        nProbe: Int, k: Int): DataFrame = {
    // only bits+1 distinct probes exist (base + one flip per dim):
    // clamp to match the kernel instead of ANSI-failing element_at
    val effProbe = math.min(nProbe, bits + 1)
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("n_vec"),
      normNative(col(vecCol)).as("n_norm"), signBucket(col(vecCol), bits).as("bucket"))
    // probe expansion as UNION legs, not explode: a Generate on the
    // query side of a corpus-queries SELF-join (both the same parquet
    // relation) trips Spark's relation dedup — the generator keeps a
    // stale input reference and fails at bind time. Plain projections
    // (one per probe) sidestep the Generate entirely; nProbe is a
    // plan-time Int, so the legs unroll. Probes are distinct buckets,
    // so candidates never duplicate across legs.
    val q = (0 until effProbe).map { j =>
        queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"),
          normNative(col(vecCol)).as("q_norm"),
          element_at(probeBuckets(col(vecCol), bits, effProbe),
            lit(j + 1)).as("bucket"))
      }.reduce(_ unionByName _)
    val w = Window.partitionBy("q_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    c.join(q, Seq("bucket"))
      .filter(col("neighbor_id") =!= col("q_id"))
      .withColumn("cos", cosineWithNormsNative(
        col("q_vec"), col("n_vec"), col("q_norm"), col("n_norm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("neighbor_id"), col("bucket"),
              round(col("cos"), 6).as("cosine"), col("rank"))
  }

  /** Deterministic centroid set: the first `nCells` corpus vectors by
    * id (a fixed, reproducible seeding — swap for k-means outputs in
    * production; every consumer is agnostic to how centroids arose).
    */
  private[graft] def centroidVectors(corpus: DataFrame, idCol: String, vecCol: String,
                              nCells: Int): Seq[Seq[Float]] =
    corpus.orderBy(col(idCol)).limit(nCells)
      .select(col(vecCol)).collect()
      .map(_.getAs[scala.collection.Seq[Float]](0).toSeq).toSeq

  /** Centroid norms, computed ONCE driver-side with exactly the FP op
    * order of `normNative` (left-to-right float→double multiply-add,
    * then sqrt) so swapping them in is bit-identical. Evaluating
    * `normNative(c)` inside the per-centroid scoring lambda would
    * recompute every centroid's norm per corpus ROW — k·dim wasted
    * multiply-adds per row, the same per-pair recompute the norm
    * hoisting discipline eliminates everywhere else.
    */
  private[graft] def centroidNorms(cents: Seq[Seq[Float]]): Seq[Double] =
    cents.map { c =>
      var acc = 0.0
      c.foreach(x => acc += x.toDouble * x.toDouble)
      math.sqrt(acc)
    }

  /** IVF (inverted-file) ANN — the second scale path beside sign-LSH:
    * the corpus is partitioned into Voronoi cells around `nCells`
    * centroids; each query probes only its `nProbe` nearest cells.
    *
    * Centroids are deterministic (the vectors of the `nCells` smallest
    * ids) so results are exactly reproducible and oracle-checkable;
    * production would plug k-means centroids into the same plan shape.
    *
    * Scale shape: centroids are collected (tiny) and inlined as a
    * literal, so cell assignment is a single narrow projection over
    * the corpus — NO shuffle of the big side, unlike a
    * window/groupBy-based argmin. Candidate generation is a broadcast
    * hash join on cell_id; only the per-query top-k window shuffles,
    * and that input is |probes-hit| rows, not the corpus.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame,
              idCol: String, vecCol: String,
              nCells: Int, nProbe: Int, k: Int): DataFrame =
    ivfTopKWith(corpus, queries, idCol, vecCol,
      centroidVectors(corpus, idCol, vecCol, nCells), nProbe, k)

  /** [[ivfTopK]] with caller-supplied centroids — the seam that lets
    * k-means-trained cells (or any external codebook) ride the same
    * probe plan; [[ivfTopK]] passes the deterministic first-k seeding
    * through it.
    */
  def ivfTopKWith(corpus: DataFrame, queries: DataFrame,
                  idCol: String, vecCol: String,
                  cents: Seq[Seq[Float]], nProbe: Int, k: Int): DataFrame = {
    val centArr = typedLit(cents)
    val centNorm = typedLit(centroidNorms(cents))

    // materialize _scores once — an inlined transform() would recompute
    // the whole lambda per consuming expression. The row norm hoists
    // out of the per-centroid lambda (constant across centroids) and
    // the centroid norms are a precomputed literal — both hoists are
    // the identical FP expression, so scores are bit-unchanged.
    val cells = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("n_vec"))
      .withColumn("n_norm", normNative(col("n_vec")))
      .withColumn("_scores", zip_with(centArr, centNorm,
        (c, n) => cosineWithNormsNative(c, col("n_vec"), n, col("n_norm"))))
      .withColumn("cell_id",
        (array_position(col("_scores"), array_max(col("_scores"))) - 1).cast("int"))
      .drop("_scores")

    val wq = Window.partitionBy("q_id")
      .orderBy(col("score").desc, col("cell_id").asc)
    val probes = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
      .withColumn("q_norm", normNative(col("q_vec")))
      .withColumn("_scores", zip_with(centArr, centNorm,
        (c, n) => cosineWithNormsNative(c, col("q_vec"), n, col("q_norm"))))
      .select(col("q_id"), col("q_vec"), col("q_norm"),
        posexplode(col("_scores")).as(Seq("cell_id", "score")))
      .withColumn("prn", row_number().over(wq))
      .filter(col("prn") <= nProbe)
      .select("q_id", "q_vec", "cell_id", "q_norm")

    val w = Window.partitionBy("q_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    cells.join(broadcast(probes), Seq("cell_id"))
      .filter(col("neighbor_id") =!= col("q_id"))
      .withColumn("cos", cosineWithNormsNative(
        col("q_vec"), col("n_vec"), col("q_norm"), col("n_norm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("neighbor_id"),
              round(col("cos"), 6).as("cosine"), col("rank"))
  }

  /** Embedding near-duplicate pairs: same-bucket pairs (a < b) above a
    * cosine threshold (threshold applies to the rounded value so the
    * cut is reproducible).
    */
  def nearDupPairs(corpus: DataFrame, idCol: String, vecCol: String,
                   bits: Int, minCosine: Double): DataFrame = {
    val e = corpus.select(col(idCol), col(vecCol),
      normNative(col(vecCol)).as("nrm"), signBucket(col(vecCol), bits).as("bucket"))
    val a = e.select(col("bucket"), col(idCol).as("a"),
      col(vecCol).as("va"), col("nrm").as("na"))
    val b = e.select(col("bucket"), col(idCol).as("b"),
      col(vecCol).as("vb"), col("nrm").as("nb"))
    a.join(b, Seq("bucket"))
      .filter(col("a") < col("b"))
      .withColumn("cosine", round(cosineWithNormsNative(
        col("va"), col("vb"), col("na"), col("nb")), 6))
      .filter(col("cosine") >= minCosine)
      .select("a", "b", "cosine")
  }

  /** SemDeDup-style semantic dedup candidates: every embedding assigns
    * to its nearest of `nCells` centroids (argmax cosine, first-max
    * tie-break); within-cell pairs with rounded cosine ≥ `minCosine`
    * are semantic duplicates. The cell id is the ONLY shuffle key —
    * pairwise scoring never crosses cells, so cost is Σ|cell|² instead
    * of N² (the IVF decomposition applied to dedup instead of search).
    * Feed the pairs to [[Dedup.connectedComponents]] for keep-one-per-
    * cluster pruning.
    */
  def semanticDedupPairs(corpus: DataFrame, idCol: String, vecCol: String,
                         nCells: Int, minCosine: Double): DataFrame = {
    val cents = centroidVectors(corpus, idCol, vecCol, nCells)
    val centArr = typedLit(cents)
    val centNorm = typedLit(centroidNorms(cents))
    val cells = corpus.select(col(idCol), col(vecCol))
      .withColumn("nrm", normNative(col(vecCol)))
      .withColumn("_scores", zip_with(centArr, centNorm,
        (c, n) => cosineWithNormsNative(c, col(vecCol), n, col("nrm"))))
      .withColumn("cell_id",
        (array_position(col("_scores"), array_max(col("_scores"))) - 1).cast("int"))
      .drop("_scores")
    val a = cells.select(col("cell_id"), col(idCol).as("a"),
      col(vecCol).as("va"), col("nrm").as("na"))
    val b = cells.select(col("cell_id"), col(idCol).as("b"),
      col(vecCol).as("vb"), col("nrm").as("nb"))
    a.join(b, Seq("cell_id"))
      .filter(col("a") < col("b"))
      .withColumn("cosine", round(cosineWithNormsNative(
        col("va"), col("vb"), col("na"), col("nb")), 6))
      .filter(col("cosine") >= minCosine)
      .select("cell_id", "a", "b", "cosine")
  }
}
