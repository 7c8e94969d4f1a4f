package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
import graft.functions.TextFunctions
import graft.plans.VecL2Q8

/** Product quantization (Jégou, Douze, Schmid, "Product quantization
  * for nearest neighbor search", IEEE TPAMI 2011) — the compression
  * layer that makes embedding search survive 100 TB: the d-dim float
  * vector (d·4 bytes) becomes m codebook indices (m bytes at k ≤ 256),
  * a 32× reduction at the default geometry, and query distances are
  * answered from the codes alone via asymmetric distance computation
  * (ADC) — the corpus's float vectors are never read at query time.
  *
  * Spark-first shape:
  *   - TRAIN ([[fit]]): Lloyd's per subspace, FUSED — every iteration
  *     is ONE aggregation pass over (corpus × dims) rows keyed by
  *     (subspace, cell, dim), so m codebooks cost the same number of
  *     corpus scans as one ([[KMeans.fit]] per subspace would pay m×).
  *     Codebooks collect to the driver (m·k·subDim floats — KBs) and
  *     ship back as ONE literal; the corpus never shuffles.
  *   - ENCODE ([[encode]]): a narrow scan-local projection (argmin per
  *     subspace against the broadcast codebook literal) — zero
  *     shuffle at any corpus size.
  *   - QUERY ([[adcTopK]]): per-query distance TABLES (m·k doubles)
  *     are computed driver-side from the query vectors and broadcast;
  *     each corpus row's distance is m array lookups summed in ARRAY
  *     ORDER (deterministic); top-k via a per-query rank window
  *     (WindowGroupLimit prunes map-side).
  *
  * Everything is derandomized exactly like [[KMeans]] (q61): first-k-
  * by-id seeding per subspace, argmin with first-min tie-break,
  * per-iteration float32 cast of each centroid mean (absorbs
  * cross-engine double-summation noise) — so DuckDB can replay
  * training bit for bit and the q152/q153 oracles pin codes,
  * reconstruction error, and ADC neighbors end to end.
  */
object ProductQuantizer {

  /** Trained model: `codebooks(s)(j)` is subspace s's j-th centroid
    * (subDim floats). Total size m·k·subDim floats — kilobytes; always
    * driver-resident and shipped as a plan literal.
    */
  final case class PQModel(m: Int, k: Int, subDim: Int,
                           codebooks: Seq[Seq[Seq[Float]]]) {
    require(codebooks.length == m && codebooks.forall(_.length == k)
      && codebooks.forall(_.forall(_.length == subDim)),
      s"codebook geometry must be [$m][$k][$subDim]")
  }

  /** Squared-L2 distances from `sub` to every centroid of `cb`
    * (a [k][subDim] array column), summed in index order.
    */
  private def distArr(sub: Column, cb: Column): Column =
    transform(cb, c =>
      aggregate(
        zip_with(sub, c, (x, y) => {
          val d = x.cast("double") - y.cast("double"); d * d
        }),
        lit(0.0), (acc, x) => acc + x))

  private def argmin(d: Column): Column =
    (array_position(d, array_min(d)) - 1).cast("int")

  /** The per-subspace slices of a vector as one array-of-arrays. */
  private def subSlices(vec: Column, m: Int, subDim: Int): Column =
    transform(sequence(lit(0), lit(m - 1)),
      s => slice(vec, s * subDim + 1, lit(subDim)))

  /** Primitive-array form of a codebook set for hot loops. */
  private[graft] def toArrays(cbs: Seq[Seq[Seq[Float]]]): Array[Array[Array[Float]]] =
    cbs.map(_.map(_.toArray).toArray).toArray

  /** Nearest-centroid index (first-min tie-break) for one subspace —
    * the shared hot loop of train/encode.
    */
  private def nearest(v: scala.collection.Seq[Float], off: Int,
                      cb: Array[Array[Float]]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var j = 0
    while (j < cb.length) {
      val c = cb(j)
      var acc = 0.0
      var i = 0
      while (i < c.length) {
        val d = v(off + i).toDouble - c(i).toDouble
        acc += d * d
        i += 1
      }
      if (acc < bestD) { bestD = acc; best = j } // strict <: first min
      j += 1
    }
    best
  }

  /** Train m codebooks of k centroids each. `iters` Lloyd iterations,
    * each ONE pass over the corpus: assignments and per-(subspace,
    * cell, dim) partial sums accumulate INSIDE each partition
    * (primitive loops — the nested higher-order-function expression
    * form measured ~1 ms/row at m=8, k=256), then m·k·subDim tiny
    * rows shuffle to the final sum. Means cast to float32 per
    * iteration (q61's cross-engine noise absorber — partial-sum
    * merge order is partitioning-dependent either way, and the cast
    * swallows it). Vectors must share a length d with d % m == 0;
    * empty cells keep their previous centroid.
    *
    * `sampleFraction` < 1 trains the codebooks on a DERANDOMIZED
    * subset — rows whose 60-bit md5 of `"pqs:" + id` falls under the
    * fraction (the cross-engine hash device, so DuckDB replays the
    * sample exactly) — the standard practice at corpus scale:
    * codebook quality saturates around 10⁴–10⁵ training vectors
    * (Jégou §V.A trains on a held-out subset), so a 10⁷-row train
    * pass is ~100× wasted scan. Seeding, iterations, and means all
    * run on the sample; [[encode]] is unaffected (everything encodes).
    * If the sample is too thin to seed k centroids the whole train
    * falls back to the unsampled corpus (deterministic in (corpus,
    * fraction, k), so replays agree).
    */
  /** The derandomized training sample: rows whose 60-bit md5 of
    * `"pqs:" + id` falls under `fraction` — the cross-engine hash
    * device shared by [[fit]] and [[fitOpq]] (both sample the SAME
    * rows, so a DuckDB replay derives one train CTE for the whole
    * pipeline). `fraction >= 1` is the identity.
    */
  private[graft] def sampleByHash(corpus: DataFrame, idCol: String,
                                  fraction: Double): DataFrame =
    if (fraction >= 1.0) corpus
    else {
      corpus.filter(TextFunctions.md5Long60(
        concat(lit("pqs:"), col(idCol).cast("string"))) % 1000000 <
        (fraction * 1e6).toLong)
    }

  def fit(corpus: DataFrame, idCol: String, vecCol: String,
          m: Int, k: Int, iters: Int,
          sampleFraction: Double = 1.0): PQModel = {
    require(sampleFraction > 0 && sampleFraction <= 1.0,
      s"sampleFraction must be in (0, 1]: $sampleFraction")
    val sampled = sampleByHash(corpus, idCol, sampleFraction)
    def firstK(df: DataFrame): Seq[Seq[Float]] =
      df.orderBy(col(idCol)).limit(k)
        .select(col(vecCol)).collect()
        .map(_.getAs[scala.collection.Seq[Float]](0).toSeq).toSeq
    // all-or-nothing fallback: a corpus small enough that the hash
    // sample can't seed k centroids trains UNSAMPLED (seed AND
    // iterations — mixing "seed from full, iterate on sample" would
    // make the replay contract conditional mid-algorithm). Determined
    // purely by (corpus, fraction, k), so an oracle replays the same
    // branch. Before this, sampleFraction < 1 on a small-but->=k
    // corpus threw where fraction = 1 succeeded.
    val sampledFirst = firstK(sampled)
    val (train, first) =
      if (sampledFirst.length == k || sampleFraction >= 1.0) (sampled, sampledFirst)
      else (corpus, firstK(corpus))
    require(first.length == k,
      s"PQ fit needs >= $k rows to seed k=$k codewords, got ${first.length}")
    val d = first.head.length
    require(d % m == 0, s"dim $d not divisible by m=$m subspaces")
    val subDim = d / m
    // seed: subspace s's codebook = the first-k vectors' s-th slices
    var cbs: Seq[Seq[Seq[Float]]] = (0 until m).map(s =>
      first.map(v => v.slice(s * subDim, (s + 1) * subDim)))
    val spark = corpus.sparkSession
    import spark.implicits._
    val vecs = train.select(col(vecCol)).as[Seq[Float]]
    for (_ <- 0 until iters) {
      val cbArr = toArrays(cbs)
      val means = vecs.mapPartitions { it =>
        // one accumulator per partition: [m][k] x (subDim sums + count)
        val sums = Array.ofDim[Double](m, k, subDim)
        val counts = Array.ofDim[Long](m, k)
        it.foreach { v =>
          var s = 0
          while (s < m) {
            val cell = nearest(v, s * subDim, cbArr(s))
            counts(s)(cell) += 1L
            val acc = sums(s)(cell)
            var i = 0
            while (i < subDim) { acc(i) += v(s * subDim + i); i += 1 }
            s += 1
          }
        }
        (for {
          s <- (0 until m).iterator
          j <- (0 until k).iterator
          if counts(s)(j) > 0L
        } yield (s, j, sums(s)(j), counts(s)(j))).iterator
      }.toDF("s", "cell", "sums", "n")
        // per-dim final sum: each exploded row carries its partition's
        // count, so sum(n) per (s, cell, dim) is the cell total
        .select(col("s"), col("cell"), col("n"),
          posexplode(col("sums")).as(Seq("dim", "ps")))
        .groupBy("s", "cell", "dim")
        .agg((sum("ps") / sum("n")).as("mu"))
        .collect()
        .groupBy(r => (r.getAs[Int]("s"), r.getAs[Int]("cell")))
        .map { case (key, rows) =>
          key -> rows.sortBy(_.getAs[Int]("dim"))
            .map(_.getAs[Double]("mu").toFloat).toSeq
        }
      cbs = (0 until m).map(s => (0 until k).map(j =>
        means.getOrElse((s, j), cbs(s)(j))))
    }
    PQModel(m, k, subDim, cbs)
  }

  /** The m-code column for a vector column under `model` — a pure
    * scan-local expression (argmin per subspace against the codebook
    * literal, first-min tie-break).
    */
  def codesColumn(vec: Column, model: PQModel): Column = {
    val cbLit = typedlit(model.codebooks)
    transform(sequence(lit(0), lit(model.m - 1)), s =>
      argmin(distArr(slice(vec, s * model.subDim + 1, lit(model.subDim)),
        element_at(cbLit, s + 1))))
  }

  /** Encode the corpus: idCol (LongType) + `codes` (array<int>, length
    * m). Zero shuffle — this is the projection a 100 TB encode job
    * runs. Primitive mapPartitions loops, not the [[codesColumn]]
    * expression: the nested higher-order-function form pays ~1 ms/row
    * at m=8, k=256 (interpreted lambdas over a 3-D literal), the loop
    * ~10 µs — same codec-hot-path rule as the media decoders. Both
    * forms share [[nearest]]'s arithmetic, so codes are bit-identical
    * (spec-pinned).
    */
  def encode(corpus: DataFrame, idCol: String, vecCol: String,
             model: PQModel): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val cbArr = toArrays(model.codebooks)
    val m = model.m
    val subDim = model.subDim
    corpus.select(col(idCol), col(vecCol))
      .as[(Long, Seq[Float])]
      .mapPartitions { it =>
        it.map { case (id, v) =>
          val codes = new Array[Int](m)
          var s = 0
          while (s < m) {
            codes(s) = nearest(v, s * subDim, cbArr(s))
            s += 1
          }
          (id, codes)
        }
      }.toDF(idCol, "codes")
  }

  /** Reconstructed (decoded) vector for a codes column — the centroid
    * concatenation. Used by the q152 reconstruction-error verdict and
    * by re-ranking layers that want an approximate vector back.
    */
  def reconstructColumn(codes: Column, model: PQModel): Column = {
    val cbLit = typedlit(model.codebooks)
    flatten(transform(sequence(lit(0), lit(model.m - 1)),
      s => element_at(element_at(cbLit, s + 1),
        element_at(codes, s + 1) + 1)))
  }

  /** Squared-L2 reconstruction error ||v − decode(encode(v))||²,
    * summed in index order (deterministic).
    */
  def reconErrColumn(vec: Column, codes: Column, model: PQModel): Column =
    aggregate(
      zip_with(vec, reconstructColumn(codes, model), (x, y) => {
        val d = x.cast("double") - y.cast("double"); d * d
      }),
      lit(0.0), (acc, x) => acc + x)

  /** The ADC distance table of one query: `(s)(j)` = ‖q_s −
    * codebook(s)(j)‖², subspace-major. ONE arithmetic for every path —
    * driver-built (Seq API) and task-built (DataFrame batch API)
    * tables are bit-identical because they run this same loop.
    */
  private def adcTable(q: scala.collection.Seq[Float],
                       cb: Array[Array[Array[Float]]],
                       subDim: Int): Array[Array[Double]] =
    Array.tabulate(cb.length) { s =>
      val cbs = cb(s)
      Array.tabulate(cbs.length) { j =>
        var acc = 0.0
        var i = 0
        while (i < subDim) {
          val d = q(s * subDim + i).toDouble - cbs(j)(i).toDouble
          acc += d * d
          i += 1
        }
        acc
      }
    }

  /** The shared scan: per-partition bounded top-k heaps per query (the
    * distributed top-k shape) — each partition emits at most Q·k
    * candidate rows, so the final rank window sees parts·Q·k rows,
    * never the corpus. `mkTables` runs ONCE per task (its result is
    * the [(q_id, dtable)] array); the distance loop adds dtable
    * entries in subspace order — the exact fold the
    * [[codesColumn]]-based verification and the q153 oracle replay use.
    */
  private def adcScan(codes: DataFrame, idCol: String, m: Int, k: Int,
                      mkTables: () => Array[(Long, Array[Array[Double]])])
      : DataFrame = {
    val spark = codes.sparkSession
    import spark.implicits._
    val partials = codes.select(col(idCol), col("codes"))
      .as[(Long, Seq[Int])]
      .mapPartitions { it =>
        val tables = mkTables()
        val heaps = tables.map(_ =>
          scala.collection.mutable.PriorityQueue.empty[(Double, Long)](
            Ordering.Tuple2[Double, Long]))
        it.foreach { case (id, cs) =>
          var q = 0
          while (q < tables.length) {
            val dt = tables(q)._2
            var acc = 0.0
            var s = 0
            while (s < m) { acc += dt(s)(cs(s)); s += 1 }
            val h = heaps(q)
            if (h.size < k) h.enqueue((acc, id))
            else {
              val worst = h.head // max by (dist, id)
              if (acc < worst._1 || (acc == worst._1 && id < worst._2)) {
                h.dequeue(); h.enqueue((acc, id)); ()
              }
            }
            q += 1
          }
        }
        heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
          h.iterator.map { case (dd, id) => (tables(qi)._1, id, dd) }
        }
      }.toDF("q_id", "nn_id", "dist")
    val w = Window.partitionBy("q_id")
      .orderBy(col("dist").asc, col("nn_id").asc)
    partials
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("nn_id"), col("dist"),
        col("rank").cast("int").as("rank"))
  }

  /** ADC top-k: for each query vector, the k nearest corpus CODES by
    * asymmetric distance Σ_s ||q_s − c_{s,code_s}||². The per-query
    * distance tables (m·k doubles each) are computed driver-side ONCE
    * and shipped via `sparkContext.broadcast` — never in the task
    * closure, so the task binary stays flat in Q; the corpus side
    * reads codes only — m array lookups + an index-order sum per
    * (row, query). Ties break on corpus id ascending. Serving-sized
    * query lists; a big batch wants [[adcTopKBatch]] (broadcasts the
    * 64× smaller float vectors and builds tables per task).
    *
    * Output: q_id, nn_id, dist (double), rank.
    */
  def adcTopK(codes: DataFrame, idCol: String, model: PQModel,
              queries: Seq[(Long, Seq[Float])], k: Int): DataFrame = {
    require(queries.nonEmpty, "adcTopK needs at least one query")
    val cbArr = toArrays(model.codebooks)
    val subDim = model.subDim
    queries.foreach { case (_, q) =>
      require(q.length == model.m * subDim,
        s"query dim ${q.length} != ${model.m * subDim}") }
    val tables: Array[(Long, Array[Array[Double]])] =
      queries.map { case (qid, q) => qid -> adcTable(q, cbArr, subDim) }
        .toArray
    val bc = codes.sparkSession.sparkContext.broadcast(tables)
    adcScan(codes, idCol, model.m, k, () => bc.value)
  }

  /** ADC top-k with the queries as a DATAFRAME — the batch shape. The
    * query FLOAT vectors (Q·d·4 bytes — 64× smaller than their
    * distance tables at the default geometry) are gathered bounded by
    * `maxQueryRows` and broadcast once; every task derives the tables
    * itself from the broadcast floats + the model (Q·m·k·subDim
    * flops, amortized over the partition's rows — break-even at
    * k·subDim ≈ 2k rows/partition, far under any real split). Output
    * is BIT-IDENTICAL to [[adcTopK]] on the collected rows (same
    * [[adcTable]] arithmetic, spec-pinned).
    */
  def adcTopKBatch(codes: DataFrame, idCol: String, model: PQModel,
                   queries: DataFrame, qIdCol: String, qVecCol: String,
                   k: Int, maxQueryRows: Int = 100000): DataFrame = {
    val qs = collectQueries(queries, qIdCol, qVecCol, maxQueryRows,
      model.m * model.subDim, "adcTopKBatch")
    val cbArr = toArrays(model.codebooks)
    val subDim = model.subDim
    val bc = codes.sparkSession.sparkContext.broadcast(qs)
    adcScan(codes, idCol, model.m, k,
      () => cachedDerive(bc.value) {
        bc.value.map { case (qid, q) => qid -> adcTable(q, cbArr, subDim) }
      })
  }

  /** Executor-local cache of plans/tables derived from a broadcast
    * query block: the derivation (Q·m·k·subDim flops) runs once per
    * EXECUTOR, not once per task — at 10⁴ queries it is ~10⁸ flops,
    * which would otherwise tax every small task. Keyed WEAKLY on the
    * broadcast value itself, so entries die with the broadcast block
    * and nothing pins memory across batches. A whole first task wave
    * lands at once, so the holder is a lazy cell: exactly ONE task
    * derives (the rest block on the cell, not the map lock) — 32
    * concurrent 10⁸-flop builds each allocating the full table block
    * measured as multi-second GC churn on local[32].
    */
  private val derivedCache = new java.util.WeakHashMap[AnyRef, AnyRef]()

  private final class LazyCell[B](f: () => B) { lazy val get: B = f() }

  private def cachedDerive[B <: AnyRef](key: AnyRef)(f: => B): B = {
    val cell = derivedCache.synchronized {
      var h = derivedCache.get(key)
      if (h == null) { h = new LazyCell(() => f); derivedCache.put(key, h) }
      h
    }
    cell.asInstanceOf[LazyCell[B]].get
  }

  /** Bounded gather of a query frame: at most `maxQueryRows` rows, each
    * dim-checked. The loud limit keeps the broadcast float block sized
    * (maxQueryRows·d·4 bytes) instead of an opaque driver OOM. The
    * default (10⁵ rows ≈ 25 MB at d = 64) is deliberately modest:
    * bigger batches are legitimate — raise the bound CONSCIOUSLY and
    * budget the per-executor broadcast copy — but a default measured
    * in hundreds of MB would make the failure mode an accident.
    */
  private def collectQueries(queries: DataFrame, qIdCol: String,
                             qVecCol: String, maxQueryRows: Int,
                             dim: Int, who: String)
      : Array[(Long, Seq[Float])] = {
    val spark = queries.sparkSession
    import spark.implicits._
    // +1 probes for overflow of the bound; Int.MaxValue is a valid
    // "unbounded" sentinel, so the probe count saturates instead of
    // wrapping negative into take()
    val probe = math.min(maxQueryRows, Int.MaxValue - 1) + 1
    val qs = queries.select(col(qIdCol), col(qVecCol))
      .as[(Long, Seq[Float])].take(probe)
    require(qs.nonEmpty, s"$who needs at least one query")
    require(qs.length <= maxQueryRows,
      s"$who: query frame exceeds maxQueryRows=$maxQueryRows — split the " +
        "batch or raise the bound")
    qs.foreach { case (_, q) =>
      require(q.length == dim, s"query dim ${q.length} != $dim") }
    qs
  }

  /** IVFADC index rows (Jégou et al. §V: coarse quantizer + PQ on the
    * RESIDUAL): per vector, the nearest coarse cell, then the PQ codes
    * of v − centroid(cell). One scan-local primitive pass; write the
    * result `partitionBy("cell")` and a probed query reads only
    * nprobe/C of the store (partition pruning — the 100 TB serving
    * layout). Residuals are computed in float32 (x − c per dimension)
    * so the DuckDB oracle replays them bit for bit.
    */
  /** Per-row IVF residual coding — (nearest coarse cell, PQ codes of
    * the float32 residual). The ONE arithmetic behind [[encodeIvf]]
    * and [[encodeIvfStore]], so the codes-only index and the serving
    * store can never diverge.
    */
  private def ivfCode(v: scala.collection.Seq[Float],
                      coarseArr: Array[Array[Float]],
                      cbArr: Array[Array[Array[Float]]],
                      m: Int, subDim: Int): (Int, Array[Int]) = {
    val (cell, codes, _) = ivfCodeErr(v, coarseArr, cbArr, m, subDim)
    (cell, codes)
  }

  /** [[ivfCode]] plus the residual's PQ reconstruction error as
    * floor(err·1e6) — the drift statistic the streaming store's
    * quantile sidecar summarizes. Error accumulates per-dim in INDEX
    * order (double, left-to-right across the whole vector — the SQL
    * list_sum fold shape), residual and centroids float32, so an
    * oracle replays it exactly. The extra ~d mult-adds are noise next
    * to the k·d distance search, so [[ivfCode]] just drops the error —
    * ONE arithmetic for all three store writers.
    */
  private[graft] def ivfCodeErr(v: scala.collection.Seq[Float],
                                coarseArr: Array[Array[Float]],
                                cbArr: Array[Array[Array[Float]]],
                                m: Int, subDim: Int): (Int, Array[Int], Long) = {
    val cell = nearest(v, 0, coarseArr)
    val cent = coarseArr(cell)
    val r = new Array[Float](v.length)
    var i = 0
    while (i < r.length) { r(i) = v(i) - cent(i); i += 1 }
    val rw: scala.collection.Seq[Float] = r
    val codes = new Array[Int](m)
    var err = 0.0
    var s = 0
    while (s < m) {
      val code = nearest(rw, s * subDim, cbArr(s))
      codes(s) = code
      val cb = cbArr(s)(code)
      var j = 0
      while (j < subDim) {
        val d = r(s * subDim + j).toDouble - cb(j).toDouble
        err += d * d
        j += 1
      }
      s += 1
    }
    (cell, codes, math.floor(err * 1e6).toLong)
  }

  def encodeIvf(corpus: DataFrame, idCol: String, vecCol: String,
                coarse: Seq[Seq[Float]], model: PQModel): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val coarseArr = coarse.map(_.toArray).toArray
    val cbArr = toArrays(model.codebooks)
    val m = model.m
    val subDim = model.subDim
    corpus.select(col(idCol), col(vecCol))
      .as[(Long, Seq[Float])]
      .mapPartitions { it =>
        it.map { case (id, v) =>
          val (cell, codes) = ivfCode(v, coarseArr, cbArr, m, subDim)
          (id, cell, codes)
        }
      }.toDF(idCol, "cell", "codes")
  }

  /** The IVFADC SERVING STORE: [[encodeIvf]]'s rows plus the float
    * vector — (id, cell, codes, vec). Written `partitionBy("cell")`,
    * ONE table serves both halves of the standard pipeline: the probe
    * scan selects (id, cell, codes) so parquet COLUMN pruning never
    * reads the heavy float column, and the rerank fetch selects
    * (id, vec) under a `cell IN (probed)` filter so PARTITION pruning
    * reads only nprobe/C of the floats. Storage is codes + floats —
    * the float copy is the rerank tier every production IVFADC deploys
    * (Jégou §VI); keeping it cell-partitioned is what makes the rerank
    * fetch scale-free.
    */
  def encodeIvfStore(corpus: DataFrame, idCol: String, vecCol: String,
                     coarse: Seq[Seq[Float]], model: PQModel): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val coarseArr = coarse.map(_.toArray).toArray
    val cbArr = toArrays(model.codebooks)
    val m = model.m
    val subDim = model.subDim
    corpus.select(col(idCol), col(vecCol))
      .as[(Long, Seq[Float])]
      .mapPartitions(it => it.map { case (id, v) =>
        val (cell, codes) = ivfCode(v, coarseArr, cbArr, m, subDim)
        (id, cell, codes, v)
      }).toDF(idCol, "cell", "codes", "vec")
  }

  /** Global max-abs scale for the int8 rerank tier: one aggregate over
    * the corpus, no summation (max of |component| — exact in float on
    * both engines, so the replay derives the identical scale).
    */
  def int8Scale(corpus: DataFrame, vecCol: String): Float =
    corpus.agg(max(array_max(transform(col(vecCol), x => abs(x)))))
      .head().getFloat(0)

  /** One int8 component: clamp(⌊x/s·127 + 0.5⌋, ±127) — floor-based
    * rounding (defined for negatives identically on both engines,
    * unlike rint's tie-to-even vs half-up ambiguity). NaN reads 0
    * EXPLICITLY: JVM NaN.toByte is 0 while DuckDB's GREATEST/LEAST
    * would pin 127 — the ProbeBuckets NaN-semantics lesson, decided
    * up front (a garbage component contributes nothing rather than a
    * max-positive spike) and mirrored in the q165 replay.
    */
  /** int8 image of a whole vector — the streaming maintainer's hook
    * into the one quantization arithmetic.
    */
  private[graft] def quant8Arr(v: scala.collection.Seq[Float],
                               scale: Double): Array[Byte] = {
    val out = new Array[Byte](v.length)
    var i = 0
    while (i < v.length) { out(i) = quant8(v(i), scale); i += 1 }
    out
  }

  private def quant8(x: Float, s: Double): Byte = {
    if (java.lang.Float.isNaN(x)) return 0
    val q = math.floor(x.toDouble / s * 127.0 + 0.5)
    math.max(-127.0, math.min(127.0, q)).toByte
  }

  /** The serving store with a SCALAR-QUANTIZED rerank tier:
    * (id, cell, codes, vec8) where vec8 is the max-abs-scaled int8
    * image of the vector — d bytes/row instead of the float tier's
    * d·4, cutting rerank I/O ~4× (measured on-disk in BASELINE; the
    * codes tier is unchanged, so probe cost is identical). Rerank
    * distances dequantize per component (q·s/127, double) against the
    * float query — recall loss is bounded by the quantization noise
    * s/254 per dim and measured, not assumed (BASELINE row). Same
    * scan-local zero-shuffle encode as [[encodeIvfStore]].
    */
  def encodeIvfStoreInt8(corpus: DataFrame, idCol: String, vecCol: String,
                         coarse: Seq[Seq[Float]], model: PQModel,
                         scale: Float): DataFrame = {
    require(scale > 0f && java.lang.Float.isFinite(scale),
      s"int8 scale must be positive finite: $scale")
    val spark = corpus.sparkSession
    import spark.implicits._
    val coarseArr = coarse.map(_.toArray).toArray
    val cbArr = toArrays(model.codebooks)
    val m = model.m
    val subDim = model.subDim
    val s = scale.toDouble
    corpus.select(col(idCol), col(vecCol))
      .as[(Long, Seq[Float])]
      .mapPartitions(it => it.map { case (id, v) =>
        val (cell, codes) = ivfCode(v, coarseArr, cbArr, m, subDim)
        (id, cell, codes, quant8Arr(v, s))
      }).toDF(idCol, "cell", "codes", "vec8")
  }

  /** [[ivfAdcRerankTopK]] against the int8 tier: probe + candidates
    * from the codes exactly as before, rerank by DEQUANTIZED distance
    * (Σ (q_i − v8_i·s/127)², double fold) — the float tier is never
    * stored, let alone read. The rerank fetch prunes exactly like the
    * float twin: `cell IN (probed)` reaches a partitioned store as
    * PartitionFilters (candidates only come from probed cells, so the
    * slice is result-identical), then the candidate broadcast cuts to
    * Q·candidates rows. Output columns match the float form.
    */
  def ivfAdcRerankTopK8(store8: DataFrame, idCol: String,
                        coarse: Seq[Seq[Float]], model: PQModel,
                        scale: Float,
                        queries: Seq[(Long, Seq[Float])], k: Int,
                        nprobe: Int, candidates: Int): DataFrame = {
    require(candidates >= k, s"candidates $candidates < k $k")
    val spark = store8.sparkSession
    import spark.implicits._
    val cand = ivfAdcTopK(store8, idCol, coarse, model, queries, candidates,
      nprobe).select(col("q_id"), col("nn_id"))
    val qdf = broadcast(queries.toDF("q_id", "qv"))
    val inv = scale.toDouble / 127.0
    val coarseArr = coarse.map(_.toArray).toArray
    val allCells = queries.flatMap { case (_, q) =>
      probeCells(q, coarseArr, nprobe) }.distinct
    // native fold (BINARY tier — zip_with doesn't apply to bytes, and
    // the kernel is the codegen'd hot path anyway)
    val d2 = column(VecL2Q8(expression(col("qv")), expression(col("vec8")),
      Literal(inv)))
    val w = Window.partitionBy("q_id")
      .orderBy(col("dist").asc, col("nn_id").asc)
    store8.filter(col("cell").isin(allCells: _*))
      .join(broadcast(cand),
        store8(idCol) === cand("nn_id"), "inner")
      .join(qdf, "q_id")
      .withColumn("dist", d2)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("nn_id"), col("dist"),
        col("rank").cast("int").as("rank"))
  }

  /** [[ivfAdcRerankTopK8]] with the queries as a DATAFRAME — the
    * bounded-gather contract of [[adcTopKBatch]] applied to the int8
    * serving tier (the float path's [[ivfAdcRerankTopKBatch]] twin the
    * round-13 verdict flagged missing). Output bit-identical to the
    * Seq form on the collected rows (spec-pinned); the same loud
    * `maxQueryRows` broadcast budget applies.
    */
  def ivfAdcRerankTopK8Batch(store8: DataFrame, idCol: String,
                             coarse: Seq[Seq[Float]], model: PQModel,
                             scale: Float,
                             queries: DataFrame, qIdCol: String,
                             qVecCol: String, k: Int, nprobe: Int,
                             candidates: Int,
                             maxQueryRows: Int = 100000): DataFrame = {
    val qs = collectQueries(queries, qIdCol, qVecCol, maxQueryRows,
      model.m * model.subDim, "ivfAdcRerankTopK8Batch")
    ivfAdcRerankTopK8(store8, idCol, coarse, model, scale,
      qs.toSeq, k, nprobe, candidates)
  }

  /** The COMPOSED serving pipeline: IVFADC probe → `candidates` ADC
    * candidates per query → exact float rerank of ONLY those rows →
    * top-k. The float fetch prunes twice: `cell IN (probed)` reaches
    * the partitioned store as PartitionFilters, and the candidate
    * broadcast semi-joins it down to Q·candidates rows — the store's
    * float column is read for probed cells only, never scanned.
    * Distances are exact squared-L2 in the ORIGINAL space (index-order
    * fold), ties on id ascending.
    */
  def ivfAdcRerankTopK(store: DataFrame, idCol: String, vecCol: String,
                       coarse: Seq[Seq[Float]], model: PQModel,
                       queries: Seq[(Long, Seq[Float])], k: Int,
                       nprobe: Int, candidates: Int): DataFrame = {
    require(candidates >= k, s"candidates $candidates < k $k")
    val spark = store.sparkSession
    import spark.implicits._
    val cand = ivfAdcTopK(store, idCol, coarse, model, queries,
      k = candidates, nprobe = nprobe)
      .select(col("q_id"), col("nn_id"))
    val coarseArr = coarse.map(_.toArray).toArray
    val allCells = queries.flatMap { case (_, q) =>
      probeCells(q, coarseArr, nprobe) }.distinct
    val floats = store
      .filter(col("cell").isin(allCells: _*)) // partition pruning
      .select(col(idCol), col(vecCol))
    val qdf = broadcast(queries.toDF("q_id", "qv"))
    val d2 = aggregate(
      zip_with(col("qv"), col(vecCol), (x, y) => {
        val d = x.cast("double") - y.cast("double"); d * d
      }), lit(0.0), (acc, x) => acc + x)
    val w = Window.partitionBy("q_id")
      .orderBy(col("dist").asc, col("nn_id").asc)
    floats.join(broadcast(cand), floats(idCol) === cand("nn_id"), "inner")
      .join(qdf, "q_id")
      .withColumn("dist", d2)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("nn_id"), col("dist"),
        col("rank").cast("int").as("rank"))
  }

  /** [[ivfAdcRerankTopK]] with the queries as a DATAFRAME — the
    * bounded-gather contract of [[adcTopKBatch]] applied to the
    * composed pipeline. Output bit-identical to the Seq form on the
    * collected rows.
    */
  def ivfAdcRerankTopKBatch(store: DataFrame, idCol: String,
                            vecCol: String,
                            coarse: Seq[Seq[Float]], model: PQModel,
                            queries: DataFrame, qIdCol: String,
                            qVecCol: String, k: Int, nprobe: Int,
                            candidates: Int,
                            maxQueryRows: Int = 100000): DataFrame = {
    val qs = collectQueries(queries, qIdCol, qVecCol, maxQueryRows,
      model.m * model.subDim, "ivfAdcRerankTopKBatch")
    ivfAdcRerankTopK(store, idCol, vecCol, coarse, model,
      qs.toSeq, k, nprobe, candidates)
  }

  /** IVFADC top-k: each query ranks the coarse cells (first-min ties),
    * probes the nearest `nprobe`, and scores only rows in those cells
    * by the residual ADC distance ‖(q − centroid(cell)) − decode‖².
    * Driver side builds one distance table per (query, probed cell)
    * (nprobe·m·k doubles per query — KBs); executor side filters
    * `cell` to the probed union (partition pruning when the index is
    * written partitionBy(cell)) and keeps per-(query) bounded top-k
    * heaps — ≤ parts·Q·k rows reach the final rank window.
    */
  /** Probed cells of one query against the coarse quantizer —
    * distance asc, cell asc (first-min ties), take nprobe. Shared by
    * the driver (Seq API, partition-pruning filter) and tasks (batch
    * API) so both paths probe identically.
    */
  private def probeCells(q: scala.collection.Seq[Float],
                         coarseArr: Array[Array[Float]],
                         nprobe: Int): Array[Int] =
    coarseArr.indices.map { cI =>
      var acc = 0.0
      var i = 0
      while (i < q.length) {
        val d = q(i).toDouble - coarseArr(cI)(i).toDouble
        acc += d * d
        i += 1
      }
      (acc, cI)
    }.sortBy { case (dd, cI) => (dd, cI) }
      .take(nprobe).map(_._2).toArray

  /** Per-query IVFADC plan: probed cells + one RESIDUAL distance table
    * per probed cell (residual in float32, mirroring [[encodeIvf]]).
    */
  private def ivfPlan(qid: Long, q: scala.collection.Seq[Float],
                      coarseArr: Array[Array[Float]],
                      cbArr: Array[Array[Array[Float]]], subDim: Int,
                      nprobe: Int)
      : (Long, Array[Int], Array[Array[Array[Double]]]) = {
    val probed = probeCells(q, coarseArr, nprobe)
    val tables = probed.map { cI =>
      val cent = coarseArr(cI)
      val qr = new Array[Float](q.length)
      var i = 0
      while (i < q.length) { qr(i) = q(i) - cent(i); i += 1 }
      adcTable(qr, cbArr, subDim)
    }
    (qid, probed, tables)
  }

  /** The shared probed scan: like [[adcScan]] but cell-routed — each
    * row scores only against queries probing its cell. `mkPlans` runs
    * once per task; the cell→queries map derives from it in-task
    * (Q·nprobe entries — trivially cheap next to the scan).
    */
  private def ivfScan(pruned: DataFrame, idCol: String, m: Int, k: Int,
                      mkPlans: () =>
                        Array[(Long, Array[Int], Array[Array[Array[Double]]])])
      : DataFrame = {
    val spark = pruned.sparkSession
    import spark.implicits._
    val partials = pruned
      .select(col(idCol), col("cell"), col("codes"))
      .as[(Long, Int, Seq[Int])]
      .mapPartitions { it =>
        val plans = mkPlans()
        // cell -> [(query index, its dtable for this cell)]
        val byCell: Map[Int, Array[(Int, Array[Array[Double]])]] =
          plans.zipWithIndex.flatMap { case ((_, probed, tables), qi) =>
            probed.zip(tables).map { case (c, t) => c -> (qi, t) }
          }.groupBy(_._1).map { case (c, xs) => c -> xs.map(_._2) }
        val heaps = plans.map(_ =>
          scala.collection.mutable.PriorityQueue.empty[(Double, Long)](
            Ordering.Tuple2[Double, Long]))
        it.foreach { case (id, cell, cs) =>
          byCell.get(cell).foreach(_.foreach { case (qi, dt) =>
            var acc = 0.0
            var s = 0
            while (s < m) { acc += dt(s)(cs(s)); s += 1 }
            val h = heaps(qi)
            if (h.size < k) h.enqueue((acc, id))
            else {
              val worst = h.head
              if (acc < worst._1 || (acc == worst._1 && id < worst._2)) {
                h.dequeue(); h.enqueue((acc, id)); ()
              }
            }
          })
        }
        heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
          h.iterator.map { case (dd, id) => (plans(qi)._1, id, dd) }
        }
      }.toDF("q_id", "nn_id", "dist")
    val w = Window.partitionBy("q_id")
      .orderBy(col("dist").asc, col("nn_id").asc)
    partials
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("nn_id"), col("dist"),
        col("rank").cast("int").as("rank"))
  }

  def ivfAdcTopK(index: DataFrame, idCol: String,
                 coarse: Seq[Seq[Float]], model: PQModel,
                 queries: Seq[(Long, Seq[Float])], k: Int,
                 nprobe: Int): DataFrame = {
    require(queries.nonEmpty, "ivfAdcTopK needs at least one query")
    require(nprobe >= 1 && nprobe <= coarse.length,
      s"nprobe $nprobe out of [1, ${coarse.length}]")
    val coarseArr = coarse.map(_.toArray).toArray
    val cbArr = toArrays(model.codebooks)
    val m = model.m
    val subDim = model.subDim
    queries.foreach { case (_, q) =>
      require(q.length == m * subDim,
        s"query dim ${q.length} != ${m * subDim}") }
    // plans ship via broadcast — nprobe·m·k doubles per query stay OUT
    // of the task closure (flat task binary in Q)
    val plans = queries.map { case (qid, q) =>
      ivfPlan(qid, q, coarseArr, cbArr, subDim, nprobe) }.toArray
    val allCells = plans.flatMap(_._2).distinct.toSeq
    val bc = index.sparkSession.sparkContext.broadcast(plans)
    ivfScan(index.filter(col("cell").isin(allCells: _*)), // partition pruning
      idCol, m, k, () => bc.value)
  }

  /** IVFADC top-k with the queries as a DATAFRAME — the batch shape of
    * [[ivfAdcTopK]]: the float query block is gathered bounded and
    * broadcast; each task derives probe plans + residual tables itself.
    * The driver still computes probed-cell unions (Q·C·d flops) for
    * the partition-pruning filter — same cells as the tasks compute,
    * one [[probeCells]] arithmetic. Output BIT-IDENTICAL to
    * [[ivfAdcTopK]] on the collected rows (spec-pinned).
    */
  def ivfAdcTopKBatch(index: DataFrame, idCol: String,
                      coarse: Seq[Seq[Float]], model: PQModel,
                      queries: DataFrame, qIdCol: String, qVecCol: String,
                      k: Int, nprobe: Int,
                      maxQueryRows: Int = 100000): DataFrame = {
    require(nprobe >= 1 && nprobe <= coarse.length,
      s"nprobe $nprobe out of [1, ${coarse.length}]")
    val coarseArr = coarse.map(_.toArray).toArray
    val cbArr = toArrays(model.codebooks)
    val m = model.m
    val subDim = model.subDim
    val qs = collectQueries(queries, qIdCol, qVecCol, maxQueryRows,
      m * subDim, "ivfAdcTopKBatch")
    val allCells = qs.flatMap { case (_, q) =>
      probeCells(q, coarseArr, nprobe) }.distinct.toSeq
    val bc = index.sparkSession.sparkContext.broadcast(qs)
    ivfScan(index.filter(col("cell").isin(allCells: _*)),
      idCol, m, k,
      () => cachedDerive(bc.value) {
        bc.value.map { case (qid, q) =>
          ivfPlan(qid, q, coarseArr, cbArr, subDim, nprobe) }
      })
  }

  // ---------------------------------------------------------------
  // OPQ — optimized product quantization (Ge, He, Ke, Sun, "Optimized
  // Product Quantization", CVPR 2013): learn an ORTHONORMAL rotation
  // before the subspace split, so a fixed split stops leaking
  // cross-subspace structure. This is the parametric variant: the
  // rotation is the second-moment eigenbasis with eigenvalue-balanced
  // subspace allocation (Ge §4.1 / the FAISS OPQ preprocessing) —
  // energy concentrated in a few dims (the PCA spectrum every real
  // embedding model produces) otherwise gives subspace 0 nearly all
  // the variance and subspace m−1 none, which plain PQ cannot repair.
  //
  // Everything is derandomized the q61/q152 way so DuckDB replays the
  // whole derivation bit for bit: the second-moment matrix is
  // float32-cast per entry (absorbs partition-order double-sum noise),
  // the eigenbasis comes from FIXED-count power iterations with
  // per-iteration float32 casts (seed 0.125·1⃗ — float-exact),
  // classical Gram–Schmidt + renormalize + float32 cast at each stage
  // (keeps R orthonormal even where close eigenvalues leave a stage
  // unconverged — determinism never depends on convergence), Rayleigh
  // eigenvalue float32-cast, deflation in a defined op order, and
  // round-robin allocation of eigen-ranks to subspaces (rank j → out
  // dim (j%m)·subDim + j/m — balanced log-variance, ONE window
  // expression to replay in SQL).
  // ---------------------------------------------------------------

  /** OPQ model: `rotation(o)` is the length-d row producing rotated
    * dim o (an orthonormal basis — rows are CGS-cleaned eigenvector
    * estimates, round-robin-permuted); `pq` is trained on rotated
    * vectors. KBs; driver-resident like [[PQModel]].
    */
  final case class OPQModel(rotation: Seq[Seq[Float]], pq: PQModel) {
    require(rotation.nonEmpty &&
      rotation.forall(_.length == rotation.length),
      "rotation must be square d x d")
  }

  /** y = R·x in defined order (dot per output row, index-order sum),
    * each component float32-cast — the one rotation arithmetic for
    * train, encode, and query paths (and the SQL replay).
    */
  /** [[rotate]] under its package-visible name — the streaming
    * maintainer fuses rotation into its encode pass through this.
    */
  private[graft] def rotateArr(v: scala.collection.Seq[Float],
                               rot: Array[Array[Float]]): Array[Float] =
    rotate(v, rot)

  private def rotate(v: scala.collection.Seq[Float],
                     rot: Array[Array[Float]]): Array[Float] = {
    val out = new Array[Float](rot.length)
    var o = 0
    while (o < rot.length) {
      val row = rot(o)
      var acc = 0.0
      var i = 0
      while (i < row.length) {
        acc += row(i).toDouble * v(i).toDouble
        i += 1
      }
      out(o) = acc.toFloat
      o += 1
    }
    out
  }

  /** Rotated corpus: idCol + `remb` (array<float>, length d). Scan-
    * local primitive pass — zero shuffle, the same hot-path rule as
    * [[encode]].
    */
  def rotateVectors(corpus: DataFrame, idCol: String, vecCol: String,
                    rotation: Seq[Seq[Float]]): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val rot = rotation.map(_.toArray).toArray
    corpus.select(col(idCol), col(vecCol))
      .as[(Long, Seq[Float])]
      .mapPartitions(it => it.map { case (id, v) =>
        (id, rotate(v, rot).toSeq)
      }).toDF(idCol, "remb")
  }

  /** The derandomized eigenbasis + eigenvalues of the corpus second-
    * moment matrix (uncentered, like Ge's R derivation — PQ quantizes
    * raw vectors, so the rotation must too). Returns (vectors
    * stage-ordered, Rayleigh eigenvalues) — allocation happens in
    * [[fitOpq]].
    */
  private[graft] def eigenBasis(corpus: DataFrame, vecCol: String, d: Int,
                                powerIters: Int)
      : (Array[Array[Float]], Array[Float]) = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // second moment: one primitive pass, tiny (r, c, partial, n) rows
    // to the final sum — the fused-Lloyd's shape
    val momRows = corpus.select(col(vecCol)).as[Seq[Float]]
      .mapPartitions { it =>
        val sums = Array.ofDim[Double](d, d)
        var n = 0L
        it.foreach { v =>
          var r = 0
          while (r < d) {
            val vr = v(r).toDouble
            val row = sums(r)
            var c = 0
            while (c < d) { row(c) += vr * v(c).toDouble; c += 1 }
            r += 1
          }
          n += 1
        }
        if (n == 0L) Iterator.empty
        else (for (r <- (0 until d).iterator; c <- (0 until d).iterator)
          yield (r, c, sums(r)(c), n)).iterator
      }.toDF("r", "c", "ps", "n")
      .groupBy("r", "c")
      .agg((sum("ps") / sum("n")).as("mu"))
      .collect()
    val m0 = Array.ofDim[Double](d, d)
    momRows.foreach { row =>
      // float32 cast absorbs partition-order double-sum noise (q61)
      m0(row.getAs[Int]("r"))(row.getAs[Int]("c")) =
        row.getAs[Double]("mu").toFloat.toDouble
    }
    eigenStages(m0, d, powerIters)
  }

  /** The driver-side derandomized eigen loop over a constant symmetric
    * matrix `a` — extracted from [[eigenBasis]] so the non-parametric
    * OPQ's Procrustes SVD (power stages on M·Mᵀ) replays through the
    * SAME arithmetic the q155 CTEs pin. Stages separate by
    * REORTHOGONALIZATION, never deflation — deflating an UNCONVERGED
    * (mixed) vector on a closely-spaced spectrum leaves indefinite
    * residue that later stages re-extract (measured: negative Rayleigh
    * values by stage ~50 and stage vectors re-converging onto recorded
    * ones, dot 1.0, on the decay-0.94 clustered corpus). Projecting
    * A·v off the recorded stages EVERY iteration keeps each stage
    * inside the orthogonal complement, so errors never compound:
    * R·Rᵀ−I lands at ~5e-8 and the Rayleigh values match the true
    * spectrum to 4–5 digits on the same corpus that broke deflation.
    */
  /** Deterministic degenerate-stage completion: the standard basis
    * vector with the LARGEST CGS2 residual against the first `count`
    * recorded vectors (first-max tie-break), normalized. The argmax is
    * guaranteed residual² ≥ (d−count)/d ≥ 1/d — a first-above-a-fixed-
    * bar pick (the pre-round-14 form used 0.25) can find NO candidate
    * when the complement direction is delocalized (all |w_j| ~ 1/√d,
    * e.g. a Hadamard-like basis: max residual is exactly 1/√d = 0.125
    * at d=64), crashing on legitimate input. ONE implementation shared
    * by [[eigenStages]] and [[procrustesRotation]]'s V loop — the twin
    * of the SQL completion layers in VectorQueries
    * (`cnorms[j] >= list_max(cnorms)`), which must stay in numeric
    * lockstep with exactly this.
    */
  private[graft] def completeStage(recorded: Array[Array[Float]], count: Int,
                                   d: Int, who: String): Array[Float] = {
    var best: Array[Double] = null
    var bestNrm = -1.0
    var cand = 0
    while (cand < d) {
      val wc = new Array[Double](d)
      wc(cand) = 1.0
      var pass = 0
      while (pass < 2) {
        val dots = new Array[Double](count)
        var e = 0
        while (e < count) {
          val ev = recorded(e)
          var dot = 0.0
          var x = 0
          while (x < d) { dot += wc(x) * ev(x).toDouble; x += 1 }
          dots(e) = dot
          e += 1
        }
        var r = 0
        while (r < d) {
          var proj = 0.0
          var e2 = 0
          while (e2 < count) {
            proj += dots(e2) * recorded(e2)(r).toDouble; e2 += 1
          }
          wc(r) -= proj
          r += 1
        }
        pass += 1
      }
      var n2 = 0.0
      var x2 = 0
      while (x2 < d) { n2 += wc(x2) * wc(x2); x2 += 1 }
      val nrm = math.sqrt(n2)
      if (nrm > bestNrm) { bestNrm = nrm; best = wc } // strict >: first max
      cand += 1
    }
    // the 1/sqrt(d) floor holds only while count < d; a residual this
    // small means the recorded stages already span (or exceed) the space
    require(bestNrm > 1e-6,
      s"$who: best completion residual $bestNrm is degenerate — " +
        "recorded stages are not orthonormal")
    Array.tabulate(d)(rr => (best(rr) / bestNrm).toFloat)
  }

  /** @param completeDegenerate a stage whose CGS2 residual falls under
    *   1e-6 (the iterate is unit-norm, so the floor is scale-free —
    *   genuine residuals are O(1), degenerate ones sit at the float32
    *   cast noise ~1e-8 and NORMALIZING one destroys orthogonality,
    *   which then cascades through every later projection) is replaced
    *   by the argmax-residual standard basis vector (guaranteed ≥
    *   1/√d) — a deterministic orthonormal completion. OFF by default:
    *   [[fitOpq]] WANTS the rank-deficiency to surface at its loud
    *   orthonormality gate; the Procrustes solve turns it ON because
    *   its input M = E[x·ŷᵀ] is rank ≤ k·m BY CONSTRUCTION at small
    *   codebooks and the completed directions carry zero tr(R·M)
    *   weight — any orthonormal completion is equally optimal.
    */
  private[graft] def eigenStages(a: Array[Array[Double]], d: Int,
                                 powerIters: Int,
                                 completeDegenerate: Boolean = false)
      : (Array[Array[Float]], Array[Float]) = {
    val evs = new Array[Array[Float]](d)
    val lams = new Array[Float](d)
    val seed = 0.125 // = 1/sqrt(d) at d = 64, float-exact
    var stage = 0
    while (stage < d) {
      var v = Array.fill(d)(seed)
      var it = 0
      while (it < powerIters) {
        val w = new Array[Double](d)
        var r = 0
        while (r < d) {
          val row = a(r)
          var acc = 0.0
          var c = 0
          while (c < d) { acc += row(c) * v(c); c += 1 }
          w(r) = acc
          r += 1
        }
        // classical GS against recorded stages (dots all from this w,
        // ONE accumulated subtraction in stage order — the SQL
        // list_sum shape)
        val dots = new Array[Double](stage)
        var e = 0
        while (e < stage) {
          val ev = evs(e)
          var dot = 0.0
          var i = 0
          while (i < d) { dot += w(i) * ev(i).toDouble; i += 1 }
          dots(e) = dot
          e += 1
        }
        var nr = 0.0
        r = 0
        while (r < d) {
          var proj = 0.0
          e = 0
          while (e < stage) { proj += dots(e) * evs(e)(r).toDouble; e += 1 }
          w(r) -= proj
          nr += w(r) * w(r)
          r += 1
        }
        val nrm = math.sqrt(nr)
        // a zero complement projection: keep v — determinism over
        // convergence, mirrored by the SQL CASE
        if (nrm > 1e-30) {
          r = 0
          while (r < d) { v(r) = (w(r) / nrm).toFloat.toDouble; r += 1 }
        }
        it += 1
      }
      // stage end: classical Gram–Schmidt TWICE (CGS2 — "twice is
      // enough" for the residual float32-cast drift), renormalize,
      // cast. Dots all from the pass input; each component subtracts
      // ONE projection sum accumulated in stage order — the exact
      // shape of the SQL replay's list_sum over recorded stages.
      var u = v.clone()
      var pass = 0
      while (pass < 2) {
        val base = u
        val dots = new Array[Double](stage)
        var e = 0
        while (e < stage) {
          val ev = evs(e)
          var dot = 0.0
          var i = 0
          while (i < d) { dot += base(i) * ev(i).toDouble; i += 1 }
          dots(e) = dot
          e += 1
        }
        val next = new Array[Double](d)
        var i = 0
        while (i < d) {
          var proj = 0.0
          e = 0
          while (e < stage) { proj += dots(e) * evs(e)(i).toDouble; e += 1 }
          next(i) = base(i) - proj
          i += 1
        }
        u = next
        pass += 1
      }
      var nr2 = 0.0
      var i = 0
      while (i < d) { nr2 += u(i) * u(i); i += 1 }
      val nrm2 = math.sqrt(nr2)
      val uf: Array[Float] =
        if (completeDegenerate && nrm2 <= 1e-6)
          completeStage(evs, stage, d, s"eigen stage $stage")
        else {
          val out = new Array[Float](d)
          i = 0
          while (i < d) {
            out(i) = if (nrm2 > 1e-30) (u(i) / nrm2).toFloat else u(i).toFloat
            i += 1
          }
          out
        }
      // Rayleigh on the (constant) second moment, defined order — the
      // variance along this stage, feeding the allocation sort
      var lam = 0.0
      var r = 0
      while (r < d) {
        val row = a(r)
        var inner = 0.0
        var c = 0
        while (c < d) { inner += row(c) * uf(c).toDouble; c += 1 }
        lam += uf(r).toDouble * inner
        r += 1
      }
      evs(stage) = uf
      lams(stage) = lam.toFloat
      stage += 1
    }
    (evs, lams)
  }

  /** Train OPQ: eigenbasis → round-robin allocation (eigen-rank j,
    * ordered by eigenvalue desc / stage asc, becomes rotated dim
    * (j mod m)·subDim + j div m) → rotate corpus (scan-local) → plain
    * [[fit]] on the rotated vectors. Same scan count as [[fit]] plus
    * one second-moment pass.
    *
    * `sampleFraction` < 1 trains the WHOLE pipeline — the second-
    * moment pass AND the inner Lloyd's (seed + iterations) — on the
    * same md5-hash sample [[fit]] uses (salt `"pqs:"`, so a replay
    * derives ONE train relation for moment, rotation, and codebooks).
    * The rotation estimate saturates even faster than the codebooks
    * (d² moments from ≥10⁴ vectors), so this is where the d²-mults/row
    * full-corpus scan actually hurt at decade scale. [[encodeOpq]]
    * is unaffected (everything rotates + encodes). A sample too thin
    * to seed k centroids falls back to the unsampled corpus, the
    * [[fit]] contract.
    */
  def fitOpq(corpus: DataFrame, idCol: String, vecCol: String,
             m: Int, k: Int, iters: Int,
             powerIters: Int = 32,
             sampleFraction: Double = 1.0): OPQModel = {
    require(sampleFraction > 0 && sampleFraction <= 1.0,
      s"sampleFraction must be in (0, 1]: $sampleFraction")
    val train = resolveTrain(corpus, idCol, k, sampleFraction)
    fitOpqOn(train, idCol, vecCol, m, k, iters, powerIters)
  }

  /** The all-or-nothing sampled-train resolution shared by [[fitOpq]]
    * and [[fitOpqNp]]: the md5-hash sample when it can seed k
    * centroids, the unsampled corpus otherwise — resolved ONCE so the
    * two never drift and the fallback probe job runs once.
    */
  private def resolveTrain(corpus: DataFrame, idCol: String, k: Int,
                           sampleFraction: Double): DataFrame = {
    if (sampleFraction >= 1.0) return corpus
    val sampled = sampleByHash(corpus, idCol, sampleFraction)
    if (sampled.limit(k).count() == k) sampled else corpus
  }

  /** [[fitOpq]]'s body over an ALREADY-RESOLVED train frame. */
  private def fitOpqOn(train: DataFrame, idCol: String, vecCol: String,
                       m: Int, k: Int, iters: Int,
                       powerIters: Int): OPQModel = {
    val d = train.select(col(vecCol)).limit(1).collect() match {
      case Array(row) => row.getAs[scala.collection.Seq[Float]](0).length
      case _ => throw new IllegalArgumentException(
        "OPQ fit needs a non-empty corpus")
    }
    require(d % m == 0, s"dim $d not divisible by m=$m subspaces")
    val subDim = d / m
    val (evs, lams) = eigenBasis(train, vecCol, d, powerIters)
    val ranked = lams.zipWithIndex
      .sortBy { case (lam, stg) => (-lam, stg) }.map(_._2)
    val rotation = new Array[Array[Float]](d)
    var j = 0
    while (j < d) {
      rotation((j % m) * subDim + j / m) = evs(ranked(j))
      j += 1
    }
    requireOrthonormal(rotation, d)
    val rotSeq: Seq[Seq[Float]] = rotation.map(_.toSeq).toSeq
    // rotate only the train rows — the inner fit sees a pre-sampled
    // frame (fraction 1 here: re-filtering after the typed rotation
    // map would not push down, and the fallback already resolved)
    val rotated = rotateVectors(train, idCol, vecCol, rotSeq)
    OPQModel(rotSeq, fit(rotated, idCol, "remb", m, k, iters))
  }

  /** The OPQ serving identity (rotated distances == original
    * distances, Ge §3) holds ONLY for an orthonormal R. A
    * rank-deficient input (an always-zero padding dim, exact
    * duplicated dims) confines the power iterations to the data's
    * span; once the recorded stages exhaust it, CGS2 reduces the next
    * stage to renormalized rounding noise — neither orthogonal nor
    * unit-independent. Verify R·Rᵀ ≈ I (d²·d flops on KBs) and fail
    * LOUDLY instead of serving silently wrong neighbors.
    */
  private def requireOrthonormal(rotation: Array[Array[Float]], d: Int): Unit = {
    var a = 0
    while (a < d) {
      var b = a
      while (b < d) {
        var dot = 0.0
        var i = 0
        while (i < d) {
          dot += rotation(a)(i).toDouble * rotation(b)(i).toDouble
          i += 1
        }
        val want = if (a == b) 1.0 else 0.0
        require(math.abs(dot - want) < 1e-3,
          s"OPQ rotation is not orthonormal (row $a · row $b = $dot): " +
            "the input is rank-deficient (zero/duplicate dims) — drop " +
            "degenerate dims or use plain PQ")
        b += 1
      }
      a += 1
    }
  }

  /** The cross-covariance the Procrustes step solves against:
    * M = mean over the train rows of x·ŷᵀ, where x is the ORIGINAL
    * vector and ŷ the PQ reconstruction of the codes of R·x (Ge §4.2's
    * non-parametric objective min ||R·x − ŷ||²). One scan-local
    * primitive pass emitting d² tiny partial rows (the [[eigenBasis]]
    * moment-pass shape); entries mean-normalized and float32-cast so a
    * replay absorbs partition-order sum noise.
    */
  private[graft] def debugCrossCov(train: DataFrame, idCol: String,
                                   vecCol: String, opq: OPQModel,
                                   d: Int): Array[Array[Double]] =
    crossCovariance(train, idCol, vecCol, opq, d)

  private def crossCovariance(train: DataFrame, idCol: String,
                              vecCol: String, opq: OPQModel,
                              d: Int): Array[Array[Double]] = {
    val spark = train.sparkSession
    import spark.implicits._
    val rot = opq.rotation.map(_.toArray).toArray
    val cbArr = toArrays(opq.pq.codebooks)
    val m = opq.pq.m
    val subDim = opq.pq.subDim
    val rows = train.select(col(vecCol)).as[Seq[Float]]
      .mapPartitions { it =>
        val sums = Array.ofDim[Double](d, d)
        var n = 0L
        it.foreach { v =>
          val rv: scala.collection.Seq[Float] = rotate(v, rot)
          val recon = new Array[Float](d)
          var s = 0
          while (s < m) {
            val cb = cbArr(s)(nearest(rv, s * subDim, cbArr(s)))
            var j = 0
            while (j < subDim) { recon(s * subDim + j) = cb(j); j += 1 }
            s += 1
          }
          var r = 0
          while (r < d) {
            val xr = v(r).toDouble
            val row = sums(r)
            var c = 0
            while (c < d) { row(c) += xr * recon(c).toDouble; c += 1 }
            r += 1
          }
          n += 1L
        }
        if (n == 0L) Iterator.empty
        else (for (r <- (0 until d).iterator; c <- (0 until d).iterator)
          yield (r, c, sums(r)(c), n)).iterator
      }.toDF("r", "c", "ps", "n")
      .groupBy("r", "c")
      .agg((sum("ps") / sum("n")).as("mu"))
      .collect()
    val mm = Array.ofDim[Double](d, d)
    rows.foreach { row =>
      mm(row.getAs[Int]("r"))(row.getAs[Int]("c")) =
        row.getAs[Double]("mu").toFloat.toDouble
    }
    mm
  }

  /** Deterministic orthogonal-Procrustes solve: R = V·Uᵀ from the SVD
    * of M, derived WITHOUT a direct SVD routine — U = the q155 power-
    * iteration eigen stages of the symmetric S = M·Mᵀ (the machinery
    * the recursive-CTE replay already pins), σ·v_i = Mᵀ·u_i. Every
    * product is a defined-order left fold and v/R entries float32-cast,
    * so DuckDB replays the whole solve through the same CTE family.
    */
  private[graft] def procrustesRotation(mm: Array[Array[Double]], d: Int,
                                        powerIters: Int)
      : Array[Array[Float]] = {
    // S = M·Mᵀ (driver-side, defined j-order folds)
    val s = Array.tabulate(d, d) { (r, c) =>
      var acc = 0.0
      var j = 0
      while (j < d) { acc += mm(r)(j) * mm(c)(j); j += 1 }
      acc
    }
    val (us, _) = eigenStages(s, d, powerIters, completeDegenerate = true)
    // Frobenius norm of M — the scale the collapsed-stage floor is
    // relative to (defined summation order)
    val froNorm = {
      var acc = 0.0
      var r = 0
      while (r < d) {
        var c = 0
        while (c < d) { acc += mm(r)(c) * mm(r)(c); c += 1 }
        r += 1
      }
      math.sqrt(acc)
    }
    // v_i = Mᵀ·u_i / ||Mᵀ·u_i||, then CGS2 against the RECORDED v's in
    // stage order: with finitely-converged u's a singular-value cluster
    // mixes ACROSS σ levels, and the raw v's inherit σ-weighted
    // mixtures that are no longer mutually orthogonal (measured: R row
    // norms up to 2.3). Re-orthonormalizing V keeps R = V·Uᵀ orthogonal
    // BY CONSTRUCTION — optimality then degrades only as much as the
    // eigen solve itself did, never the serving identity. Same
    // defined-order folds + float32 casts as the eigen stage ends, so
    // the replay machinery covers it.
    val vs = new Array[Array[Float]](d)
    var i = 0
    while (i < d) {
      val u = us(i)
      val w = new Array[Double](d)
      var r = 0
      while (r < d) {
        var acc = 0.0
        var j = 0
        while (j < d) { acc += mm(j)(r) * u(j).toDouble; j += 1 }
        w(r) = acc
        r += 1
      }
      var pass = 0
      while (pass < 2) {
        val dots = new Array[Double](i)
        var e = 0
        while (e < i) {
          val ve = vs(e)
          var dot = 0.0
          var x = 0
          while (x < d) { dot += w(x) * ve(x).toDouble; x += 1 }
          dots(e) = dot
          e += 1
        }
        r = 0
        while (r < d) {
          var proj = 0.0
          e = 0
          while (e < i) { proj += dots(e) * vs(e)(r).toDouble; e += 1 }
          w(r) -= proj
          r += 1
        }
        pass += 1
      }
      var nr = 0.0
      r = 0
      while (r < d) { nr += w(r) * w(r); r += 1 }
      val sigma = math.sqrt(nr)
      // a collapsed stage (σ under the float32-cast noise floor of M —
      // the tail singular directions of a decaying spectrum drown in
      // the cast) contributes ~nothing to tr(R·M), so ANY orthonormal
      // completion is equally optimal: take the ARGMAX-residual
      // standard basis vector (i recorded vectors leave residual² ≥
      // (d−i)/d for the best candidate — the argmax always clears
      // 1/√d; a fixed bar cannot promise that on a delocalized
      // complement). Deterministic, so the replay takes the same
      // branch on the same (hash-equal) M.
      val floor = 1e-9 * froNorm
      vs(i) =
        if (sigma > floor) Array.tabulate(d)(rr => (w(rr) / sigma).toFloat)
        else completeStage(vs, i, d, s"Procrustes stage $i")
      i += 1
    }
    // R = V·Uᵀ: R_rc = Σ_i v_i(r)·u_i(c), stage-order fold, float cast
    Array.tabulate(d, d) { (r, c) =>
      var acc = 0.0
      var i = 0
      while (i < d) { acc += vs(i)(r).toDouble * us(i)(c).toDouble; i += 1 }
      acc.toFloat
    }
  }

  /** Non-parametric OPQ (Ge §4.2): initialize with the parametric
    * eigenbasis rotation, then alternate {fit codebooks on R·x, solve
    * the orthogonal Procrustes R = argmin Σ||R·x − ŷ||²}. Each
    * alternation costs one codebook train plus one d²-per-row
    * cross-covariance pass; R converges toward the rotation that is
    * optimal FOR THE CODEBOOKS rather than for the raw spectrum —
    * the recall ceiling on non-Gaussian corpora where the parametric
    * eigenbasis stops short. Fully derandomized: the SVD is power
    * stages on M·Mᵀ (the q155 CTE machinery), so the whole alternation
    * replays in DuckDB (q164). Sampling contract identical to
    * [[fitOpq]].
    */
  def fitOpqNp(corpus: DataFrame, idCol: String, vecCol: String,
               m: Int, k: Int, iters: Int,
               powerIters: Int = 32, alternations: Int = 1,
               sampleFraction: Double = 1.0): OPQModel = {
    require(alternations >= 1, s"alternations must be >= 1: $alternations")
    require(sampleFraction > 0 && sampleFraction <= 1.0,
      s"sampleFraction must be in (0, 1]: $sampleFraction")
    // resolved ONCE; the parametric init and every alternation read
    // the same rows
    val train = resolveTrain(corpus, idCol, k, sampleFraction)
    val init = fitOpqOn(train, idCol, vecCol, m, k, iters, powerIters)
    val d = m * init.pq.subDim
    var opq = init
    var a = 0
    while (a < alternations) {
      val mm = crossCovariance(train, idCol, vecCol, opq, d)
      val rot = procrustesRotation(mm, d, powerIters)
      requireOrthonormal(rot, d)
      val rotSeq: Seq[Seq[Float]] = rot.map(_.toSeq).toSeq
      val rotated = rotateVectors(train, idCol, vecCol, rotSeq)
      opq = OPQModel(rotSeq, fit(rotated, idCol, "remb", m, k, iters))
      a += 1
    }
    opq
  }

  /** Encode under OPQ: rotate + [[encode]], fused into one scan-local
    * primitive pass (zero shuffle).
    */
  def encodeOpq(corpus: DataFrame, idCol: String, vecCol: String,
                model: OPQModel): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val rot = model.rotation.map(_.toArray).toArray
    val cbArr = toArrays(model.pq.codebooks)
    val m = model.pq.m
    val subDim = model.pq.subDim
    corpus.select(col(idCol), col(vecCol))
      .as[(Long, Seq[Float])]
      .mapPartitions(it => it.map { case (id, v) =>
        val rv: scala.collection.Seq[Float] = rotate(v, rot)
        val codes = new Array[Int](m)
        var s = 0
        while (s < m) {
          codes(s) = nearest(rv, s * subDim, cbArr(s))
          s += 1
        }
        (id, codes)
      }).toDF(idCol, "codes")
  }

  /** ADC top-k under OPQ: queries rotate driver-side (R is KBs), then
    * the plain [[adcTopK]] over OPQ codes — distances in rotated space
    * equal distances in the original space up to the (orthonormal)
    * rotation, which is the Ge §3 identity that makes OPQ serving free.
    */
  def adcTopKOpq(codes: DataFrame, idCol: String, model: OPQModel,
                 queries: Seq[(Long, Seq[Float])], k: Int): DataFrame = {
    val rot = model.rotation.map(_.toArray).toArray
    adcTopK(codes, idCol, model.pq,
      queries.map { case (qid, q) => qid -> rotate(q, rot).toSeq }, k)
  }

  /** ADC-then-rerank: the standard PQ serving pipeline — a wide ADC
    * candidate pass over codes (`candidates` per query), then exact
    * float distances for ONLY those candidate vectors (a broadcast
    * semi join against the corpus — corpus reads Q·candidates float
    * rows instead of all of them), re-ranked to the final top-k.
    * Recovers near-exact recall at a small multiple of the code-only
    * cost.
    */
  def adcRerankTopK(codes: DataFrame, corpus: DataFrame, idCol: String,
                    vecCol: String, model: PQModel,
                    queries: Seq[(Long, Seq[Float])], k: Int,
                    candidates: Int): DataFrame = {
    require(candidates >= k, s"candidates $candidates < k $k")
    val spark = codes.sparkSession
    import spark.implicits._
    val cand = adcTopK(codes, idCol, model, queries, candidates)
      .select(col("q_id"), col("nn_id"))
    val qdf = broadcast(queries.toDF("q_id", "qv"))
    val d2 = aggregate(
      zip_with(col("qv"), col(vecCol), (x, y) => {
        val d = x.cast("double") - y.cast("double"); d * d
      }), lit(0.0), (acc, x) => acc + x)
    val w = Window.partitionBy("q_id")
      .orderBy(col("dist").asc, col("nn_id").asc)
    corpus.join(broadcast(cand),
        corpus(idCol) === cand("nn_id"), "inner")
      .join(qdf, "q_id")
      .withColumn("dist", d2)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("nn_id"), col("dist"),
        col("rank").cast("int").as("rank"))
  }
}
