package graft.tools

import java.nio.file.Files
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, TextStats}
import graft.queries.{DedupQueries, DomainQueries, TextQueries, WindowQueries}

/** Scale-proof benchmark for the LLM-pipeline operators: runs the SAME
  * operator compositions the oracle queries pin (q24/q26/q48/q65/q73/
  * q74/q62 — shared code, not copies) on deterministic synthetic
  * corpora 200×–2000× the sf0.1 documents table, and records per query
  *
  *   - wall time at each scale and the large/small ratio vs the scale
  *     ratio (≤ ~linear is the claim being proven),
  *   - the physical-plan shape ([[PlanIntrospect]]): shuffle count must
  *     be CONSTANT across scales and BNLJ/cartesian must stay 0,
  *   - connected-components round counts (2–4 on LSH pair graphs, per
  *     docs/PLANS.md).
  *
  * Size-triggered broadcasts are disabled (threshold −1) so the
  * measured plan is the one that survives when nothing fits in a
  * broadcast — the 100 TB shape; operators' EXPLICIT broadcast hints
  * (ignored threshold) stay live, which is exactly the contract.
  *
  * Run: `sbt "runMain graft.tools.ScaleBench"`
  * (env `GRAFT_SCALE_DOCS=1000000,10000000` to override the scales).
  * Prints one JSON line; the recorded run lives in BASELINE.md.
  */
object ScaleBench {

  /** Locale-independent fixed-point format: the default-locale
    * `"%.2f".format` renders a decimal COMMA on comma-locale JVMs,
    * corrupting the JSON output line.
    */
  private def fmt(d: Double, decimals: Int = 2): String =
    String.format(java.util.Locale.ROOT, s"%.${decimals}f", Double.box(d))

  /** Stamp `dir`'s part files with strictly increasing mtimes in part-
    * number (range) order, so a range-partitioned write REPLAYS in
    * event-time order: the file source orders same-mtime files
    * arbitrarily, and an early range arriving after the watermark
    * passed it would be silently dropped as late — the corrupted-
    * measurement mode the round-7 BASELINE correction documents.
    * Fails loudly when the filesystem refuses the stamp (object-store
    * or read-only-mtime mounts) instead of reverting to that mode.
    */
  private def stampRangeOrderMtimes(dir: String): Unit = {
    val base = System.currentTimeMillis()
    val parts = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    require(parts.nonEmpty, s"no part files under $dir")
    parts.zipWithIndex.foreach { case (f, i) =>
      require(f.setLastModified(base + i * 1000L),
        s"setLastModified failed for $f — replay order would be " +
          "arbitrary and late ranges silently dropped")
    }
  }

  /** One measured streaming replay result. */
  case class ReplayRun(secs: Double, emitted: Long, batches: Int,
                       peakStateRows: Long, peakStateBytes: Long)

  /** Shared scaffold for every streaming throughput bench: write
    * `rows` + `flush` range-partitioned by `tsCol` with range-ordered
    * mtimes (event-time-ordered arrival — see the q88 postmortem in
    * BASELINE.md), replay through the file source 8 files per
    * micro-batch into the pipeline under test, count emitted rows, and
    * report wall time + the watermark-bounded peak state footprint.
    */
  private def replayBench(spark: SparkSession, dir: String,
                          rows: DataFrame, flush: DataFrame, tsCol: String,
                          mkStream: DataFrame => DataFrame): ReplayRun = {
    import org.apache.spark.sql.streaming.Trigger
    rows.unionByName(flush).repartitionByRange(64, col(tsCol))
      .write.mode("overwrite").parquet(dir)
    stampRangeOrderMtimes(dir)
    val stream = spark.readStream
      .schema(spark.read.parquet(dir).schema)
      .option("maxFilesPerTrigger", "8").parquet(dir)
    val emitted = new java.util.concurrent.atomic.AtomicLong
    val s0 = System.nanoTime()
    val q = mkStream(stream).writeStream
      .foreachBatch { (df: DataFrame, _: Long) =>
        emitted.addAndGet(df.count()); ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val secs = (System.nanoTime() - s0) / 1e9
    val prog = q.recentProgress
    val peakRows = prog.map(_.stateOperators.map(_.numRowsTotal).sum)
      .foldLeft(0L)(math.max)
    val peakBytes = prog.map(_.stateOperators.map(_.memoryUsedBytes).sum)
      .foldLeft(0L)(math.max)
    ReplayRun(secs, emitted.get, prog.length, peakRows, peakBytes)
  }

  /** 256-word vocabulary (deterministic, engine-neutral). */
  private val Vocab: Seq[String] = {
    val roots = Seq("data", "spark", "scan", "sort", "batch", "merge",
      "shard", "query", "table", "index", "plan", "join", "group", "count",
      "value", "store", "cache", "block", "range", "field", "model", "token",
      "text", "word", "line", "page", "node", "edge", "graph", "tree",
      "hash", "key")
    (0 until 256).map(i => roots(i % roots.size) + (i / roots.size))
  }

  /** Deterministic synthetic corpus with planted dedup structure, in
    * groups of 8 docs: member 0 is the base, 1–5 are near-duplicates
    * (one forced word swap + ~4 % hash-chosen swaps — Jaccard ≈ 0.8,
    * inside LSH recall), 6 is an EXACT copy of the base, 7 is unique.
    * Every doc is 30–59 words from a 256-word vocab, all chosen by
    * xxhash64 of (salt, seed, position) — no RNG, identical corpus on
    * every run and any partitioning. Structure is group-local, so every
    * derived quantity (dup groups, LSH pairs, components) scales
    * linearly in `n` — the property the bench measures against.
    */
  def synthDocs(spark: SparkSession, n: Long): DataFrame = {
    val vArr = array(Vocab.map(lit): _*)
    val langs = array(Seq("en", "de", "fr", "es", "zh").map(lit): _*)
    val d = spark.range(n)
      .withColumn("grp", expr("id div 8"))
      .withColumn("m", pmod(col("id"), lit(8L)))
      // disjoint salts: a unique doc's stream must never collide with
      // another group's base stream (a cross-group accidental dup would
      // chain components across groups and break linearity)
      .withColumn("seed", when(col("m") === 7, xxhash64(lit("unq"), col("id")))
        .otherwise(xxhash64(lit("grpseed"), col("grp"))))
      .withColumn("nw",
        (pmod(xxhash64(lit("len"), col("seed")), lit(30L)) + 30L).cast("int"))
      // the forced-perturbation position for near-dup members: at least
      // one word always differs from the base
      .withColumn("fpos",
        pmod(xxhash64(lit("fpos"), col("seed"), col("m")), col("nw").cast("long")))
    // Zipf-ish word draw: half the positions come from the 256-word
    // common head, half from a 30k-word hash-generated tail. The tail
    // matters for REALISM of the LSH graph: with a toy vocab, shingle
    // minhashes collide across unrelated docs and chain components
    // together (growing CC diameter with corpus size — an artifact);
    // real corpora have 10⁴–10⁶ vocab and group-local components.
    def draw(salt: String, i: Column, extra: Column*): Column = {
      val h = xxhash64((lit(salt) +: col("seed") +: i +: extra): _*)
      when(pmod(h, lit(2L)) === 0L,
        element_at(vArr, (pmod(h, lit(256L)) + 1L).cast("int")))
        .otherwise(concat(lit("w"), pmod(h, lit(30000L))))
    }
    val word: Column => Column = { i =>
      val base = draw("w", i)
      // alt draws from a disjoint salt: never the base word stream
      val alt = concat(lit("v"), pmod(xxhash64(lit("alt"), col("seed"), i,
        col("m")), lit(30000L)))
      val isNear = col("m").between(1L, 5L)
      val perturb = isNear && (i.cast("long") === col("fpos") ||
        pmod(xxhash64(lit("p"), col("seed"), i, col("m")), lit(25L)) === 0L)
      when(perturb, alt).otherwise(base)
    }
    d.select(
      col("id").as("doc_id"),
      concat_ws(" ", transform(sequence(lit(0), col("nw") - 1), word)).as("text"),
      element_at(langs,
        (pmod(xxhash64(lit("l"), col("grp")), lit(5L)) + 1L).cast("int")).as("lang"),
      concat(lit("src"), pmod(xxhash64(lit("s"), col("id")), lit(20L))).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** Topically-separated corpus for the BM25 truncation-recall
    * experiment: each doc draws ~90 % of its tokens from its topic's
    * private 400-word slice (per-term df ≈ in-topic docs × 9 % — a few
    * thousand at 10⁶/64 topics, INSIDE a 2048-postings impact list)
    * and ~10 % from the shared 256-word head (df ≈ 10⁵ — far outside
    * any list, but low-idf). Scores then SEPARATE instead of tying in
    * thousands, which is the regime where impact truncation holds
    * top-k recall — synthDocs' flat-tie draw is the adversarial
    * counterpart. Same length distribution as synthDocs.
    */
  def synthTopicalDocs(spark: SparkSession, n: Long,
                       topics: Int = 64): DataFrame = {
    val vArr = array(Vocab.map(lit): _*)
    val d = spark.range(n)
      .withColumn("topic", pmod(xxhash64(lit("t"), col("id")), lit(topics.toLong)))
      .withColumn("nw",
        (pmod(xxhash64(lit("len"), col("id")), lit(30L)) + 30L).cast("int"))
    val word: Column => Column = { i =>
      // branch and word picks from INDEPENDENTLY salted hashes: a
      // shared h correlates them (h%10==0 forces h even, halving the
      // reachable head indices; h%10!=0 bars the 40 topic residues
      // divisible by 10), silently shrinking the stated vocabularies
      val hb = xxhash64(lit("b"), col("id"), i)
      val hh = xxhash64(lit("h"), col("id"), i)
      val ht = xxhash64(lit("w"), col("id"), i)
      when(pmod(hb, lit(10L)) === 0L,
        element_at(vArr, (pmod(hh, lit(256L)) + 1L).cast("int")))
        .otherwise(concat(lit("t"), col("topic"), lit("w"),
          pmod(ht, lit(400L))))
    }
    d.select(
      col("id").as("doc_id"),
      concat_ws(" ",
        transform(sequence(lit(0), col("nw") - 1), word)).as("text"))
  }

  /** Skewed-score corpus for the truncation family (round 15 — the
    * regime the flat-tie and topical synthetics both miss): per-term
    * SCORE distributions are genuinely skewed because tf varies with a
    * heavy tail. Each doc draws 10 word slots from a 2000-word
    * vocabulary with a pow-1.5-uniform (Zipf-ish head) pick, and each
    * slot repeats its word 1–3× normally but 2–13× for a hash-chosen
    * 10% burst (tf-varying real text's shape: a term is usually
    * mentioned once, occasionally central to the document). Combined
    * with the doc-length spread, a term's per-doc BM25 contributions
    * spread ~6× between a drive-by mention and a burst in a short doc
    * — the distribution [[graft.operators.Lexical.truncateByMass]]'s
    * adaptive rule is supposed to exploit (keep the deciding head,
    * drop the long flat tail) and a fixed per-term m cannot see.
    */
  def synthSkewDocs(spark: SparkSession, n: Long): DataFrame = {
    val slots = 10
    val d = spark.range(n)
    val word: Column => Column = { j =>
      val u = pmod(xxhash64(lit("sw"), col("id"), j), lit(1000000L))
        .cast("double") / lit(1000000.0)
      concat(lit("s"),
        floor(pow(u, lit(1.5)) * lit(2000.0)).cast("long"))
    }
    val rep: Column => Column = { j =>
      val h = pmod(xxhash64(lit("sr"), col("id"), j), lit(100L))
      when(h < 10,
        pmod(xxhash64(lit("sb"), col("id"), j), lit(12L)) + 2L)
        .otherwise(pmod(h, lit(3L)) + 1L)
    }
    d.select(col("id").as("doc_id"),
      concat_ws(" ", flatten(transform(sequence(lit(0), lit(slots - 1)),
        j => array_repeat(word(j), rep(j).cast("int"))))).as("text"))
  }

  /** Adversarial substring-dedup corpus: every doc carries the SAME
    * 8-token run between a few unique filler tokens, so ONE span hash
    * occurs once per document — the whole corpus funnels through a
    * single join key in [[Dedup.removeDuplicateSpans]]'s occurrence ×
    * detection join (a mega-duplicated license header / boilerplate
    * paragraph at 100 TB). Docs are 12 words (2 unique + run + 2
    * unique), so stride-1 windows yield exactly one hot span and four
    * boundary-unique spans per doc. ScaleProofSpec pins that AQE's
    * skew-join split re-parallelizes the hot key; the bench row
    * records the wall-time cost vs the uniform corpus.
    */
  def synthDocsHotSpan(spark: SparkSession, n: Long,
                       hot: Boolean = true): DataFrame = {
    // hot=false is the cost-comparison control: same shape, but the
    // 8-token run is per-doc unique, so no key is duplicated at all
    val run: Column =
      if (hot) lit((1 to 8).map(i => s"hot$i").mkString(" "))
      else concat_ws(" ", (1 to 8).map(i =>
        concat(lit(s"hot$i"), col("id"))): _*)
    spark.range(n).select(
      col("id").as("doc_id"),
      concat_ws(" ",
        concat(lit("ua"), col("id")), concat(lit("ub"), col("id")),
        run,
        concat(lit("uc"), col("id")), concat(lit("ud"), col("id")))
        .as("text"),
      lit("en").as("lang"), lit("src0").as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** Deterministic synthetic 64-dim embedding corpus at `n` rows, the
    * vector counterpart of [[synthDocs]]'s group structure: groups of
    * 8 where members 0–4 share the group's base vector verbatim
    * (exact copies), member 6 is the base nudged +0.004 on dim 63 (a
    * near-dup the cosine refine must KEEP), member 5 is the base
    * shoved +3.0 on dim 20 (co-bucketed at any bucket width ≤ 16 —
    * both perturbed dims sit past the sign-bucket prefix — but cosine
    * ≈ 0.8, so the refine must REJECT it), and member 7 is unique.
    * Components derive from xxhash64 → [-1, 1] on a 1/1000 grid: no
    * RNG, identical frame at any partitioning.
    */
  def synthEmbeddings(spark: SparkSession, n: Long): DataFrame = {
    val d = spark.range(n)
      .withColumn("grp", expr("id div 8"))
      .withColumn("m", pmod(col("id"), lit(8L)))
      .withColumn("seed", when(col("m") === 7,
        xxhash64(lit("unqv"), col("id")))
        .otherwise(xxhash64(lit("vgrp"), col("grp"))))
    d.select(col("id").as("doc_id"),
      transform(sequence(lit(0), lit(63)), i => {
        val base = (pmod(xxhash64(lit("vdim"), col("seed"), i),
          lit(2001L)) - lit(1000L)) / lit(1000.0)
        val adj = when(col("m") === 6 && i === 63, lit(0.004))
          .when(col("m") === 5 && i === 20, lit(3.0))
          .otherwise(lit(0.0))
        (base + adj).cast("float")
      }).as("embedding"))
  }

  /** Planted-cluster 64-dim embedding corpus: a derandomized mixture
    * of Gaussians with controllable separation — the distribution
    * class ANN indexes exist FOR (real embedding spaces are locally
    * clustered; [[synthEmbeddings]]' uniform-random tail is the
    * documented quantization WORST case, where every recall number
    * sits on the noise floor and geometry choices are unmeasurable).
    * Row `id` joins cluster `xxhash64(id) mod clusters`; its vector is
    * the cluster center (components hash-uniform in [-sep, sep]) plus
    * per-dim noise: the mean of four independent hash-uniform draws in
    * [-1, 1] (Irwin–Hall(4) ≈ Gaussian, per-dim variance 1/12) scaled
    * by `noise`. Expected geometry at d=64: intra-cluster pair
    * distance² ≈ 64·2·noise²/12 ≈ 10.7·noise², inter-center distance²
    * ≈ 64·2·sep²/3 ≈ 42.7·sep² — the defaults (sep 1.0, noise 0.35)
    * plant tight, well-separated clusters of ~n/clusters members, so
    * a query's float top-10 are cluster-mates at NEAR-EQUAL distances:
    * coarse cells can align with planted structure (recall rewards a
    * trained quantizer) while the fine ranking inside a cluster stays
    * genuinely hard for code-only ADC (rerank measurably lifts it).
    * `decay` < 1 makes the mixture ANISOTROPIC — dim i (corpus AND
    * centers) scales by decay^i, concentrating energy in early dims
    * the way PCA spectra of real embeddings do. That is the regime
    * OPQ exists for: a fixed subspace split leaves subspace 0 carrying
    * decay⁰…decay⁷ of the energy and subspace 7 almost none, so a
    * learned rotation measurably lifts recall; decay = 1 (default)
    * keeps the isotropic mixture where plain PQ is near-optimal.
    * Same no-RNG device as every generator here: identical frame at
    * any partitioning. `centerOf` exposes the center formula so query
    * sets can be drawn in-distribution with a different `seedTag`.
    */
  def synthClusteredEmbeddings(spark: SparkSession, n: Long,
                               clusters: Int = 1024, sep: Double = 1.0,
                               noise: Double = 0.35,
                               seedTag: String = "cl",
                               decay: Double = 1.0): DataFrame = {
    val asg = spark.range(n).withColumn("cid",
      pmod(xxhash64(lit("clasg"), col("id")), lit(clusters.toLong)))
    asg.select(col("id").as("doc_id"),
      transform(sequence(lit(0), lit(63)), i => {
        val noi = (0 until 4).map(j =>
          (pmod(xxhash64(lit(seedTag + "ns" + j), col("id"), i),
            lit(2001L)) - lit(1000L)) / lit(1000.0))
          .reduce(_ + _) / lit(4.0)
        val base = centerOf(col("cid"), i, sep) + noi * lit(noise)
        // branch in SCALA: a when(lit == lit) guard builds a
        // trivially-true predicate Spark warns on (and the isotropic
        // default shouldn't pay a pow() per element anyway)
        val scaled =
          if (decay == 1.0) base
          else base * pow(lit(decay), i.cast("double"))
        scaled.cast("float")
      }).as("embedding"))
  }

  /** Center component `i` of cluster `cid` — hash-uniform on a 1/1000
    * grid in [-sep, sep]; shared by corpus and query generators.
    */
  private def centerOf(cid: Column, i: Column, sep: Double): Column =
    (pmod(xxhash64(lit("clcent"), cid, i), lit(2001L)) - lit(1000L)) /
      lit(1000.0) * lit(sep)

  /** The embedding-corpus switch for the PQ / IVFADC / ANN-recall
    * rows: `GRAFT_SCALE_EMBCORPUS=
    * clustered[:clusters[:sep[:noise[:decay]]]]` swaps
    * [[synthEmbeddings]]' uniform-random corpus (the recorded worst
    * case, still the default) for the planted-cluster one, and the
    * returned tag lands in each row's JSON so BASELINE.md rows name
    * the regime they measured.
    */
  private def clusteredSpec(spec: String): (Int, Double, Double, Double) = {
    val p = spec.split(':')
    (if (p.length > 1) p(1).toInt else 1024,
      if (p.length > 2) p(2).toDouble else 1.0,
      if (p.length > 3) p(3).toDouble else 0.35,
      if (p.length > 4) p(4).toDouble else 1.0)
  }

  def embCorpus(spark: SparkSession, n: Long): (DataFrame, String) =
    sys.env.get("GRAFT_SCALE_EMBCORPUS") match {
      case Some(spec) if spec.startsWith("clustered") =>
        val (clusters, sep, noise, decay) = clusteredSpec(spec)
        (synthClusteredEmbeddings(spark, n, clusters, sep, noise,
          decay = decay),
          s"clustered_${clusters}_${sep}_${noise}_$decay")
      case _ => (synthEmbeddings(spark, n), "uniform")
    }

  /** Query set matching [[embCorpus]]'s regime: clustered mode draws
    * in-distribution queries (same planted centers, independent noise
    * via a distinct seed tag — never a corpus row verbatim); uniform
    * mode keeps the historical unique-seed draw. Ids offset +2e9 clear
    * of any corpus doc_id.
    */
  def embQueries(spark: SparkSession, nq: Long): DataFrame =
    sys.env.get("GRAFT_SCALE_EMBCORPUS") match {
      case Some(spec) if spec.startsWith("clustered") =>
        val (clusters, sep, noise, decay) = clusteredSpec(spec)
        synthClusteredEmbeddings(spark, nq, clusters, sep, noise, "qry",
          decay)
          .select((col("doc_id") + 2_000_000_000L).as("doc_id"),
            col("embedding"))
      case _ =>
        spark.range(nq)
          .withColumn("seed", xxhash64(lit("qryv"), col("id")))
          .select((col("id") + 2_000_000_000L).as("doc_id"),
            transform(sequence(lit(0), lit(63)), i =>
              ((pmod(xxhash64(lit("vdim"), col("seed"), i), lit(2001L))
                - lit(1000L)) / lit(1000.0)).cast("float"))
              .as("embedding"))
    }

  /** Deterministic synthetic events/index frame at `n` rows — the
    * seismology-lifecycle counterpart of [[synthDocs]]: the columns
    * the q14/q15/q19/q52/q53 bodies consume (event_id, user_id,
    * event_type, ts epoch-ns on the µs grid, value). Users scale with
    * the corpus (~2000 rows each, the "more stations as the archive
    * grows" shape), so per-key window partitions stay bounded and
    * every derived quantity (gaps, segments, join matches) scales
    * linearly. "error" events are ~1/32 — rare requests against a big
    * index, the realistic fetch shape. All columns derive from
    * xxhash64: no RNG, identical frame at any partitioning.
    */
  def synthEvents(spark: SparkSession, n: Long): DataFrame = {
    val T0 = 1_704_067_200_000_000_000L // 2024-01-01T00:00Z
    val YearUs = 365L * 86400L * 1_000_000L
    val nUsers = math.max(100L, n / 2000L)
    val types = array(lit("view"), lit("click"), lit("purchase"))
    spark.range(n).select(
      col("id").as("event_id"),
      pmod(xxhash64(lit("u"), col("id")), lit(nUsers)).as("user_id"),
      (lit(T0) + pmod(xxhash64(lit("t"), col("id")), lit(YearUs)) * 1000L)
        .as("ts"),
      when(pmod(xxhash64(lit("e"), col("id")), lit(32L)) === 0, lit("error"))
        .otherwise(element_at(types,
          (pmod(xxhash64(lit("e2"), col("id")), lit(3L)) + 1L).cast("int")))
        .as("event_type"),
      (pmod(xxhash64(lit("v"), col("id")), lit(1000L)).cast("double") / 100.0)
        .as("value"))
  }

  /** The seismology-lifecycle pipelines — the q14/q15/q19(+q67 banded)/
    * q52/q53 bodies (shared helpers in WindowQueries/DomainQueries, not
    * copies) on an arbitrary events frame. `nChannels`/`nSeeds` scale
    * the q52 inventory and q53 seed set with the corpus (defaults =
    * the oracle queries' constants).
    */
  def domainPipelines(spark: SparkSession, events: DataFrame,
                      nChannels: Int = 20,
                      nSeeds: Int = 5): Seq[(String, () => DataFrame)] = Seq(
    "q14_gaps" -> (() => WindowQueries.gapsOf(events)),
    "q15_segments" -> (() => WindowQueries.segmentsOf(events)),
    "q19_interval_join" -> (() => WindowQueries.intervalJoinOf(events)),
    "q67_banded_interval" -> (() =>
      WindowQueries.intervalJoinOf(events, banded = true)),
    "q52_fetch_event_windows" -> (() =>
      DomainQueries.fetchWindowsOf(spark, events, nChannels)),
    "q53_trace_stitch" -> (() =>
      DomainQueries.stitchOf(spark, events, nSeeds)))

  /** The benched pipelines — each body is the oracle query's own code
    * (shared helpers), on an arbitrary docs frame.
    */
  def pipelines(docs: DataFrame): Seq[(String, () => DataFrame)] = Seq(
    "q24_dedup_exact" -> (() => Dedup.exactGroups(docs, "text", "doc_id")),
    "q26_dedup_minhash_lsh" -> (() => DedupQueries.minhashPairsOf(docs)),
    "q48_dedup_clusters" -> (() =>
      DedupQueries.clusterLabelsOf(docs, Dedup.connectedComponentsLabelProp(_, "a", "b"))),
    "q65_cc_star" -> (() =>
      DedupQueries.clusterLabelsOf(docs, Dedup.connectedComponentsStar(_, "a", "b"))),
    "q73_lm_fluency" -> (() =>
      TextStats.bigramLmScore(docs, "text", "doc_id", dropBelowMicro = 23000L)),
    "q74_boilerplate" -> (() =>
      TextStats.dropBoilerplate(TextQueries.plantBoilerplate(docs),
        "ptext", "doc_id", sep = "¶", minDocs = 50L)),
    "q62_corpus_pipeline" -> (() => TextQueries.corpusPipelineOf(docs,
      shards = packShards(docs))),
    // q27 SimHash is deliberately absent: the 60-bit signature caps
    // banding at 4×15 bits, so band-bucket occupancy grows as
    // docs/2^15 and candidate pairs as docs²/2^15 — ~6×10⁹ pairs at
    // 10⁷ docs. That is a documented capacity ceiling of the method
    // (fine to ~10⁶ docs); MinHash-LSH (q26, unbounded bucket space)
    // is the near-dup scale path.
    "q56_decontaminate" -> (() =>
      graft.operators.Contamination.contaminatedDocs(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0), "text", "doc_id")),
    // fixed-size eval side (~5k docs, deterministic id cap) against
    // the whole growing corpus: the realistic decontamination shape —
    // eval benchmarks don't grow with training data — so wall time
    // should track the corpus scan, not the pair space
    "q83_fuzzy_decontaminate" -> (() =>
      graft.operators.Contamination.fuzzyContaminatedDocs(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0 && col("doc_id") < 97L * 5000),
        "text", "doc_id")),
    "q57_token_packing" -> (() => {
      val shards = packShards(docs)
      TextStats.packTokenBudget(docs, "text", col("doc_id") % shards,
          col("doc_id"), budget = 512)
        .select(col("doc_id"), (col("doc_id") % shards).as("shard"),
          col("n_tokens"), col("tok_offset"), col("bin"))
    }),
    "q59_pii_redaction" -> (() => TextQueries.piiRedactionOf(docs)),
    "q79_duplicate_spans" -> (() =>
      Dedup.duplicateSpans(docs, "text", "doc_id",
        width = 8, stride = 4, minDocs = 2L)),
    "q80_remove_duplicate_spans" -> (() =>
      Dedup.removeDuplicateSpans(docs, "text", "doc_id", width = 8)))

  /** Production shard sizing for the packing window: ~50k docs per
    * shard, floor 4 (the oracle query's toy value), cap 1024. Keeps
    * per-task window sorts bounded as the corpus grows — with the
    * constant 4, ScaleBench measured 2.4× superlinear time at 10⁷
    * docs (580 MB sorted per task, 4 of 32 cores busy).
    */
  private def packShards(docs: DataFrame): Int = {
    val n = docs.count()
    math.max(4L, math.min(1024L, n / 50000L)).toInt
  }

  /** Force end-to-end materialization of EVERY column (a bare count
    * would let Catalyst prune expensive output expressions) and return
    * (rows, content checksum) — the checksum doubles as a cross-run
    * determinism probe.
    */
  def runAll(df: DataFrame): (Long, Long) = {
    val r = df.select(xxhash64(struct(df.columns.map(col): _*)).as("h"))
      .agg(count(lit(1)), expr("bit_xor(h)")).head() // xor: no ANSI overflow
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  final case class QueryRun(name: String, seconds: Double, rows: Long,
                            checksum: Long, counts: PlanIntrospect.Counts,
                            ccRounds: Option[Int])

  def runScale(spark: SparkSession, root: String, nDocs: Long): (Double, Seq[QueryRun]) = {
    val dir = s"$root/docs_$nDocs"
    val eventsDir = s"$root/events_$nDocs"
    // generate only the corpora the selected queries consume — at 10⁸
    // rows the unused corpus would dominate wall time and disk. The
    // pipeline constructors only CAPTURE their frame in thunks, so
    // probing the name lists with an empty frame runs nothing.
    val onlyEnv = sys.env.get("GRAFT_SCALE_QUERIES").map(_.split(",").toSeq)
    def wanted(n: String) = onlyEnv.forall(_.exists(n.contains))
    val probe = spark.emptyDataFrame
    val needDocs = pipelines(probe).exists(p => wanted(p._1))
    val needEvents = domainPipelines(spark, probe).exists(p => wanted(p._1))
    val t0 = System.nanoTime()
    if (needDocs) synthDocs(spark, nDocs).write.mode("overwrite").parquet(dir)
    // the seismology-lifecycle index at the same scale
    if (needEvents)
      synthEvents(spark, nDocs).write.mode("overwrite").parquet(eventsDir)
    val tGen = (System.nanoTime() - t0) / 1e9
    val docs = if (needDocs) spark.read.parquet(dir) else probe
    val events = if (needEvents) spark.read.parquet(eventsDir) else probe
    // q52 inventory / q53 seed set grow with the corpus (~1 channel
    // per 50k rows like packShards; seeds keep ~2000 rows per seed-slot
    // stripe) — the oracle toy constants would cap output size
    def clampI(lo: Long, hi: Long, v: Long): Int =
      math.max(lo, math.min(hi, v)).toInt
    val nChannels = clampI(20L, 1024L, nDocs / 50000L)
    val nSeeds = clampI(5L, 4096L, nDocs / 2000L)
    // comma-separated substring filter for partial re-runs
    val selected = (pipelines(docs) ++
        domainPipelines(spark, events, nChannels, nSeeds))
      .filter { case (name, _) => wanted(name) }
    val runs = selected.map { case (name, mk) =>
      Dedup.lastCcRounds = 0
      // the CC pipelines run their fixpoint loop (jobs per round)
      // INSIDE mk(), so the wall clock wraps frame construction too;
      // plan introspection afterwards is plan-only (no execution). For
      // CC queries the introspected plan is the final label join (the
      // loop's per-round shape is covered by the round count + q26's
      // pair-pipeline counts).
      val s0 = System.nanoTime()
      val df = mk()
      val (rows, sum) = runAll(df)
      val secs = (System.nanoTime() - s0) / 1e9
      val counts = PlanIntrospect.counts(df)
      val rounds = if (name.contains("_cc") || name.contains("clusters"))
        Some(Dedup.lastCcRounds) else None
      QueryRun(name, secs, rows, sum, counts, rounds)
    }
    (tGen, runs)
  }

  def main(args: Array[String]): Unit = {
    val scales = sys.env.getOrElse("GRAFT_SCALE_DOCS", "1000000,10000000")
      .split(",").map(_.trim.toLong).toSeq
    // honor SPARK_GRAFT_CPUS (round 18 — the Bench contract applied to
    // the scale harness): core-scaling claims ride these decade
    // geometries, not the fixed-cost-bound sf0.1 board, so the arm
    // must be runnable at a reduced core count
    val spark = graft.core.GraftSession.local(
      sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
        .getOrElse(Runtime.getRuntime.availableProcessors()))
    // the 100 TB shape: size-triggered broadcasts off, explicit hints live
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val root = Files.createTempDirectory("graft-scale").toString

    val results = scales.map(n => n -> runScale(spark, root, n))

    def fmtRun(qr: QueryRun): String =
      s""""${qr.name}":{"s":${fmt(qr.seconds)},"rows":${qr.rows},""" +
        s""""checksum":${qr.checksum},"shuffles":${qr.counts.shuffles},""" +
        s""""broadcasts":${qr.counts.broadcasts},"bnlj":${qr.counts.bnlj},""" +
        s""""cartesian":${qr.counts.cartesian}""" +
        qr.ccRounds.fold("")(r => s""","cc_rounds":$r""") + "}"

    val scaleJson = results.map { case (n, (tGen, runs)) =>
      s"""{"docs":$n,"gen_s":${fmt(tGen)},""" +
        s""""queries":{${runs.map(fmtRun).mkString(",")}}}"""
    }.mkString(",")

    // per-query time ratio between the largest and smallest scale,
    // normalized by the scale ratio: 1.0 = perfectly linear, <1 =
    // sublinear (fixed overheads amortizing), >1 = superlinear (bad)
    val ratios =
      if (results.size < 2) ""
      else {
        val (n0, (_, r0)) = results.head
        val (n1, (_, r1)) = results.last
        val k = n1.toDouble / n0
        val per = r0.zip(r1).map { case (a, b) =>
          s""""${a.name}":${fmt(b.seconds / a.seconds / k)}"""
        }
        s""","time_vs_linear":{${per.mkString(",")}}"""
      }

    // adversarial hot-span variant (env GRAFT_SCALE_HOTSPAN=<docs>):
    // q80 on a corpus where ONE span occurs in every doc, vs the
    // same-shape uniform control — records what a mega-duplicated
    // boilerplate key costs once AQE's skew split re-parallelizes it
    val hotJson = sys.env.get("GRAFT_SCALE_HOTSPAN").map { sN =>
      val n = sN.trim.toLong
      def bench(hot: Boolean): (Double, Long, Long) = {
        val dir = s"$root/hotspan_${hot}_$n"
        synthDocsHotSpan(spark, n, hot).write.mode("overwrite").parquet(dir)
        val docs = spark.read.parquet(dir)
        val s0 = System.nanoTime()
        val (rows, sum) = runAll(
          Dedup.removeDuplicateSpans(docs, "text", "doc_id", width = 8))
        ((System.nanoTime() - s0) / 1e9, rows, sum)
      }
      val (hs, hRows, _) = bench(hot = true)
      val (us, uRows, _) = bench(hot = false)
      s""","hotspan":{"docs":$n,"hot_s":${fmt(hs)},""" +
        s""""uniform_s":${fmt(us)},""" +
        s""""ratio":${fmt(hs / us)},""" +
        s""""hot_rows":$hRows,"uniform_rows":$uRows}"""
    }.getOrElse("")

    // product quantization (env GRAFT_SCALE_PQ=<vecs>[:m:k], default
    // 8:256): the q152/q153 layer at scale — fused Lloyd's training
    // (one agg pass per iteration for ALL m codebooks), scan-local
    // encode, ADC top-10 over CODES vs the brute-force float top-10.
    // Records train/encode walls, the MEASURED on-disk compression
    // (codes parquet vs raw embedding parquet), ADC vs brute query
    // walls, and recall@10 (ADC ranks by reconstruction distance — an
    // approximation; its recall is the honest number, not a claim).
    val pqJson = sys.env.get("GRAFT_SCALE_PQ").map { spec =>
      import graft.operators.ProductQuantizer
      val parts = spec.split(':')
      val n = parts(0).trim.toLong
      val (m, k) =
        if (parts.length >= 3) (parts(1).toInt, parts(2).toInt)
        else (8, 256)
      // 4th field: train-sample fraction (q157's hash-sampled regime —
      // codebook quality saturates around 1e5 vectors, so decade-up
      // corpora want fraction ~1e5/n)
      val sampleFrac =
        if (parts.length >= 4) parts(3).toDouble else 1.0
      val (corpus, corpusTag) = embCorpus(spark, n)
      val rawDir = s"$root/pq_raw_${corpusTag}_$n"
      corpus.write.mode("overwrite").parquet(rawDir)
      val e = spark.read.parquet(rawDir)
      val t0 = System.nanoTime()
      val model = ProductQuantizer.fit(e, "doc_id", "embedding",
        m = m, k = k, iters = 3, sampleFraction = sampleFrac)
      val trainS = (System.nanoTime() - t0) / 1e9
      val codesDir = s"$root/pq_codes_$n"
      val t1 = System.nanoTime()
      ProductQuantizer.encode(e, "doc_id", "embedding", model)
        .write.mode("overwrite").parquet(codesDir)
      val encodeS = (System.nanoTime() - t1) / 1e9
      def dirBytes(p: String): Long = {
        val fs = org.apache.hadoop.fs.FileSystem.get(
          spark.sparkContext.hadoopConfiguration)
        fs.getContentSummary(new org.apache.hadoop.fs.Path(p)).getLength
      }
      val codes = spark.read.parquet(codesDir)
      // clamp: n < 64 would make the modulus 0 (divide-by-zero) or the
      // residue 3 unreachable — tiny smoke runs must still select rows
      val qMod = math.max(1L, n / 32)
      val queries = e.filter(col("doc_id") % qMod === 3L % qMod)
        .orderBy("doc_id").limit(32).collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toSeq).toSeq
      val t2 = System.nanoTime()
      val adc = ProductQuantizer.adcTopK(codes, "doc_id", model,
        queries, k = 10)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val adcS = (System.nanoTime() - t2) / 1e9
      // exact float top-10 (the q32 brute-force shape)
      import spark.implicits._
      val qdf = broadcast(queries.toDF("q_id", "qv"))
      val d2 = aggregate(
        zip_with(col("qv"), col("embedding"), (x, y) => {
          val d = x.cast("double") - y.cast("double"); d * d
        }), lit(0.0), (acc, x) => acc + x)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("q_id").orderBy(col("xd").asc, col("doc_id").asc)
      val t3 = System.nanoTime()
      val exact = e.crossJoin(qdf).withColumn("xd", d2)
        .withColumn("xr", org.apache.spark.sql.functions.row_number().over(w))
        .filter(col("xr") <= 10)
        .select("q_id", "doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val bruteS = (System.nanoTime() - t3) / 1e9
      val recall = adc.intersect(exact).size.toDouble / exact.size
      // the standard serving pipeline: wide ADC candidates + exact
      // rerank of only those float rows; two widths show the lever
      def rerank(cand: Int): (Double, Double) = {
        val t4 = System.nanoTime()
        val rr = ProductQuantizer.adcRerankTopK(codes, e, "doc_id",
          "embedding", model, queries, k = 10, candidates = cand)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        ((System.nanoTime() - t4) / 1e9,
          rr.intersect(exact).size.toDouble / exact.size)
      }
      val (rr50S, rr50) = rerank(50)
      val (rr400S, rr400) = rerank(400)
      s""","pq":{"vecs":$n,"m":$m,"k":$k,"corpus":"$corpusTag",""" +
        s""""sample_fraction":$sampleFrac,""" +
        s""""train_s":${fmt(trainS)},""" +
        s""""rerank50_s":${fmt(rr50S)},"rerank50_recall":${fmt(rr50)},""" +
        s""""rerank400_s":${fmt(rr400S)},"rerank400_recall":${fmt(rr400)},""" +
        s""""encode_s":${fmt(encodeS)},""" +
        s""""encode_vecs_per_sec":${fmt(n / encodeS, 0)},""" +
        s""""raw_mb":${fmt(dirBytes(rawDir) / 1048576.0)},""" +
        s""""codes_mb":${fmt(dirBytes(codesDir) / 1048576.0)},""" +
        s""""compression":${fmt(dirBytes(rawDir).toDouble / dirBytes(codesDir))},""" +
        s""""adc_top10_s":${fmt(adcS)},"brute_top10_s":${fmt(bruteS)},""" +
        s""""recall_at_10":${fmt(recall)}}"""
    }.getOrElse("")

    // OPQ vs plain PQ (env GRAFT_SCALE_OPQ=<vecs>[:m:k]): the learned
    // rotation's recall lift, measured on whatever corpus
    // GRAFT_SCALE_EMBCORPUS selects — the claim needs the ANISOTROPIC
    // clustered regime (decay < 1), where a fixed split starves late
    // subspaces; on isotropic corpora the expected lift is ~none and
    // recording that boundary is the point of the knob. Both models
    // train at equal iters; recall@10 against the exact float top-10,
    // plus total reconstruction error (the OPQ objective) for both.
    val opqJson = sys.env.get("GRAFT_SCALE_OPQ").map { spec =>
      import graft.operators.ProductQuantizer
      val parts = spec.split(':')
      val n = parts(0).trim.toLong
      val (m, k) =
        if (parts.length >= 3) (parts(1).toInt, parts(2).toInt)
        else (8, 256)
      // 4th field: train-sample fraction for a THIRD model — sampled
      // OPQ (q160's regime: moment pass + rotation + Lloyd's all on
      // the hash sample). The round-12 gap: plain PQ trained 60×
      // faster sampled while fitOpq still paid two full-corpus scans
      // (d² mults/row for the moment). Decade-up corpora want ~1e5/n.
      val sampleFrac =
        if (parts.length >= 4) parts(3).toDouble else 1.0
      val (corpus, corpusTag) = embCorpus(spark, n)
      val rawDir = s"$root/opq_raw_${corpusTag}_$n"
      corpus.write.mode("overwrite").parquet(rawDir)
      val e = spark.read.parquet(rawDir)
      val t0 = System.nanoTime()
      val plain = ProductQuantizer.fit(e, "doc_id", "embedding",
        m = m, k = k, iters = 3)
      val trainPlainS = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val opq = ProductQuantizer.fitOpq(e, "doc_id", "embedding",
        m = m, k = k, iters = 3, powerIters = 32)
      val trainOpqS = (System.nanoTime() - t1) / 1e9
      val plainCodes = ProductQuantizer.encode(
        e, "doc_id", "embedding", plain).persist()
      val opqCodes = ProductQuantizer.encodeOpq(
        e, "doc_id", "embedding", opq).persist()
      // total reconstruction error — the objective OPQ minimizes
      def totErr(df: DataFrame, src: DataFrame, vecCol: String,
                 model: ProductQuantizer.PQModel): Double =
        src.join(df, "doc_id")
          .select(sum(ProductQuantizer.reconErrColumn(
            col(vecCol), col("codes"), model)))
          .collect()(0).getDouble(0)
      val errPlain = totErr(plainCodes, e, "embedding", plain)
      val rotated = ProductQuantizer.rotateVectors(
        e, "doc_id", "embedding", opq.rotation)
      val errOpq = totErr(opqCodes, rotated, "remb", opq.pq)
      val qMod = math.max(1L, n / 32)
      val queries = e.filter(col("doc_id") % qMod === 3L % qMod)
        .orderBy("doc_id").limit(32).collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toSeq).toSeq
      import spark.implicits._
      val qdf = broadcast(queries.toDF("q_id", "qv"))
      val d2 = aggregate(
        zip_with(col("qv"), col("embedding"), (x, y) => {
          val d = x.cast("double") - y.cast("double"); d * d
        }), lit(0.0), (acc, x) => acc + x)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("q_id").orderBy(col("xd").asc, col("doc_id").asc)
      val exact = e.crossJoin(qdf).withColumn("xd", d2)
        .withColumn("xr",
          org.apache.spark.sql.functions.row_number().over(w))
        .filter(col("xr") <= 10)
        .select("q_id", "doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      def recallOf(res: DataFrame): Double =
        res.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
          .intersect(exact).size.toDouble / exact.size
      val rPlain = recallOf(ProductQuantizer.adcTopK(
        plainCodes, "doc_id", plain, queries, k = 10))
      val rOpq = recallOf(ProductQuantizer.adcTopKOpq(
        opqCodes, "doc_id", opq, queries, k = 10))
      val rrPlain = recallOf(ProductQuantizer.adcRerankTopK(
        plainCodes, e, "doc_id", "embedding", plain, queries,
        k = 10, candidates = 100))
      // sampled OPQ: the same pipeline with moment + Lloyd's on the
      // hash sample — wall vs full-scan train, recall on its own codes
      val sampledJson = if (sampleFrac >= 1.0) "" else {
        val t2 = System.nanoTime()
        val opqS = ProductQuantizer.fitOpq(e, "doc_id", "embedding",
          m = m, k = k, iters = 3, powerIters = 32,
          sampleFraction = sampleFrac)
        val trainSampledS = (System.nanoTime() - t2) / 1e9
        val sCodes = ProductQuantizer.encodeOpq(
          e, "doc_id", "embedding", opqS).persist()
        val sRotated = ProductQuantizer.rotateVectors(
          e, "doc_id", "embedding", opqS.rotation)
        val errS = totErr(sCodes, sRotated, "remb", opqS.pq)
        val rS = recallOf(ProductQuantizer.adcTopKOpq(
          sCodes, "doc_id", opqS, queries, k = 10))
        sCodes.unpersist()
        s""","sample_fraction":$sampleFrac,""" +
          s""""train_opq_sampled_s":${fmt(trainSampledS)},""" +
          s""""recon_err_opq_sampled":${fmt(errS)},""" +
          s""""recall_opq_sampled":${fmt(rS, 4)}"""
      }
      plainCodes.unpersist(); opqCodes.unpersist()
      s""","opq":{"vecs":$n,"m":$m,"k":$k,"corpus":"$corpusTag",""" +
        s""""train_plain_s":${fmt(trainPlainS)},""" +
        s""""train_opq_s":${fmt(trainOpqS)},""" +
        s""""recon_err_plain":${fmt(errPlain)},""" +
        s""""recon_err_opq":${fmt(errOpq)},""" +
        s""""recall_plain":${fmt(rPlain, 4)},""" +
        s""""recall_opq":${fmt(rOpq, 4)},""" +
        s""""recall_plain_rerank100":${fmt(rrPlain, 4)}$sampledJson}"""
    }.getOrElse("")

    // Non-parametric OPQ sampled training (env GRAFT_SCALE_OPQNP=
    // <vecs>[:m:k[:fraction]]): fitOpqNp — the Ge §4.2 alternating
    // Procrustes variant — trained full-scan vs on the q160 hash
    // sample. One alternation pays TWO d²-per-row corpus passes
    // (second moment + cross-covariance) plus two codebook fits, so
    // the sample buys roughly the q160 factor twice over; recon error
    // and recall@10 against the exact float top-10 guard the parity
    // claim (the q171 oracle pins sampled-regime correctness exactly).
    val opqNpJson = sys.env.get("GRAFT_SCALE_OPQNP").map { spec =>
      import graft.operators.ProductQuantizer
      val parts = spec.split(':')
      val n = parts(0).trim.toLong
      val (m, k) =
        if (parts.length >= 3) (parts(1).toInt, parts(2).toInt)
        else (8, 256)
      val frac =
        if (parts.length >= 4) parts(3).toDouble
        else math.min(1.0, 2e5 / n)
      val (corpus, corpusTag) = embCorpus(spark, n)
      val rawDir = s"$root/opqnp_raw_${corpusTag}_$n"
      corpus.write.mode("overwrite").parquet(rawDir)
      val e = spark.read.parquet(rawDir)
      import spark.implicits._
      val qMod = math.max(1L, n / 32)
      val queries = e.filter(col("doc_id") % qMod === 3L % qMod)
        .orderBy("doc_id").limit(32).collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toSeq).toSeq
      val qdf = broadcast(queries.toDF("q_id", "qv"))
      val d2 = aggregate(
        zip_with(col("qv"), col("embedding"), (x, y) => {
          val d = x.cast("double") - y.cast("double"); d * d
        }), lit(0.0), (acc, x) => acc + x)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("q_id").orderBy(col("xd").asc, col("doc_id").asc)
      val exact = e.crossJoin(qdf).withColumn("xd", d2)
        .withColumn("xr",
          org.apache.spark.sql.functions.row_number().over(w))
        .filter(col("xr") <= 10)
        .select("q_id", "doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      def leg(fraction: Double): (Double, Double, Double) = {
        val t0 = System.nanoTime()
        val opq = ProductQuantizer.fitOpqNp(e, "doc_id", "embedding",
          m = m, k = k, iters = 3, powerIters = 32, alternations = 1,
          sampleFraction = fraction)
        val wall = (System.nanoTime() - t0) / 1e9
        val codes = ProductQuantizer.encodeOpq(
          e, "doc_id", "embedding", opq).persist()
        val rotated = ProductQuantizer.rotateVectors(
          e, "doc_id", "embedding", opq.rotation)
        val err = rotated.join(codes, "doc_id")
          .select(sum(ProductQuantizer.reconErrColumn(
            col("remb"), col("codes"), opq.pq)))
          .collect()(0).getDouble(0)
        val recall = ProductQuantizer.adcTopKOpq(
            codes, "doc_id", opq, queries, k = 10)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
          .intersect(exact).size.toDouble / exact.size
        codes.unpersist()
        (wall, err, recall)
      }
      val (fullS, fullErr, fullR) = leg(1.0)
      val (sampS, sampErr, sampR) = leg(frac)
      s""","opq_np":{"vecs":$n,"m":$m,"k":$k,"corpus":"$corpusTag",""" +
        s""""sample_fraction":$frac,""" +
        s""""train_full_s":${fmt(fullS)},""" +
        s""""train_sampled_s":${fmt(sampS)},""" +
        s""""recon_err_full":${fmt(fullErr)},""" +
        s""""recon_err_sampled":${fmt(sampErr)},""" +
        s""""recall_full":${fmt(fullR, 4)},""" +
        s""""recall_sampled":${fmt(sampR, 4)}}"""
    }.getOrElse("")

    // DataFrame-batch ADC (env GRAFT_SCALE_PQBATCH=<vecs>:<queries>
    // [:m:k]): the 10⁴-query shape the Seq API was the wrong size for.
    // The batch path broadcasts the float query block and each task
    // builds its own distance tables; the Seq path broadcasts
    // driver-built tables. Records both walls, the SHIPPED broadcast
    // bytes of each (floats Q·d·4 vs tables Q·m·k·8 — the flat-vs-
    // linear task-payload axis), and asserts row-identical output.
    val pqBatchJson = sys.env.get("GRAFT_SCALE_PQBATCH").map { spec =>
      import graft.operators.ProductQuantizer
      val parts = spec.split(':')
      val n = parts(0).trim.toLong
      val nq = parts(1).trim.toInt
      val (m, k) =
        if (parts.length >= 4) (parts(2).toInt, parts(3).toInt)
        else (8, 256)
      val (corpus, corpusTag) = embCorpus(spark, n)
      val rawDir = s"$root/pqb_raw_${corpusTag}_$n"
      corpus.write.mode("overwrite").parquet(rawDir)
      val e = spark.read.parquet(rawDir)
      val model = ProductQuantizer.fit(e, "doc_id", "embedding",
        m = m, k = k, iters = 2)
      val codesDir = s"$root/pqb_codes_$n"
      ProductQuantizer.encode(e, "doc_id", "embedding", model)
        .write.mode("overwrite").parquet(codesDir)
      val codes = spark.read.parquet(codesDir)
      val qDf = embQueries(spark, nq.toLong)
        .select(col("doc_id").as("q_id"), col("embedding").as("qv"))
      val qSeq = qDf.collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toSeq).toSeq
      // warm the codes scan + codegen once, untimed: whichever path
      // runs first otherwise pays the cold-read cost (measured 2.5×
      // swing that flipped with measurement order)
      ProductQuantizer.adcTopK(codes, "doc_id", model,
        qSeq.take(4), k = 10).collect()
      val t1 = System.nanoTime()
      val seqR = ProductQuantizer.adcTopK(codes, "doc_id", model,
        qSeq, k = 10)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val seqS = (System.nanoTime() - t1) / 1e9
      val t0 = System.nanoTime()
      val batch = ProductQuantizer.adcTopKBatch(codes, "doc_id", model,
        qDf, "q_id", "qv", k = 10)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val batchS = (System.nanoTime() - t0) / 1e9
      require(batch == seqR, "batch ADC diverged from Seq ADC")
      val d = qSeq.head._2.length
      s""","pq_batch":{"vecs":$n,"queries":$nq,"m":$m,"k":$k,""" +
        s""""corpus":"$corpusTag","identical":true,""" +
        s""""batch_s":${fmt(batchS)},"seq_s":${fmt(seqS)},""" +
        s""""float_block_mb":${fmt(nq.toLong * d * 4 / 1048576.0)},""" +
        s""""table_block_mb":${fmt(nq.toLong * m * k * 8 / 1048576.0)}}"""
    }.getOrElse("")

    // IVFADC (env GRAFT_SCALE_IVFPQ=<vecs>[:cells:nprobe], default
    // 64:8): the q154 pipeline at scale — coarse quantizer (the m=1
    // PQ trainer IS a primitive-loop k-means), residual PQ, index
    // written partitionBy(cell) so a probed query READS nprobe/cells
    // of the store (partition pruning), vs the full-ADC scan and the
    // brute float scan. Recall@10 of both recorded.
    val ivfpqJson = sys.env.get("GRAFT_SCALE_IVFPQ").map { spec =>
      import graft.operators.ProductQuantizer
      val parts = spec.split(':')
      val n = parts(0).trim.toLong
      val (cells, nprobe) =
        if (parts.length >= 3) (parts(1).toInt, parts(2).toInt)
        else (64, 8)
      val (corpus, corpusTag) = embCorpus(spark, n)
      val rawDir = s"$root/ivfpq_raw_${corpusTag}_$n"
      corpus.write.mode("overwrite").parquet(rawDir)
      val e = spark.read.parquet(rawDir)
      val t0 = System.nanoTime()
      val coarse = ProductQuantizer.fit(e, "doc_id", "embedding",
        m = 1, k = cells, iters = 2).codebooks.head
      val cLit = typedlit(coarse)
      val resid = graft.operators.KMeans
        .assign(e, "doc_id", "embedding", coarse)
        .withColumn("r", zip_with(col("embedding"),
          element_at(cLit, col("cell") + 1), (x, y) => x - y))
        .select("doc_id", "r")
      val pq = ProductQuantizer.fit(resid, "doc_id", "r",
        m = 8, k = 256, iters = 2)
      val trainS = (System.nanoTime() - t0) / 1e9
      val idxDir = s"$root/ivfpq_idx_$n"
      val t1 = System.nanoTime()
      // the serving STORE (codes + float tier): the probe scan still
      // reads codes only (parquet column pruning), the rerank tier
      // reads floats for probed cells only (partition pruning)
      ProductQuantizer.encodeIvfStore(e, "doc_id", "embedding", coarse, pq)
        .write.mode("overwrite").partitionBy("cell").parquet(idxDir)
      val encodeS = (System.nanoTime() - t1) / 1e9
      val stored = spark.read.parquet(idxDir)
      // clamp: n < 64 would make the modulus 0 (divide-by-zero) or the
      // residue 3 unreachable — tiny smoke runs must still select rows
      val qMod = math.max(1L, n / 32)
      val queries = e.filter(col("doc_id") % qMod === 3L % qMod)
        .orderBy("doc_id").limit(32).collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toSeq).toSeq
      def probeRun(np: Int): (Set[(Long, Long)], Double) = {
        val t = System.nanoTime()
        val r = ProductQuantizer.ivfAdcTopK(stored, "doc_id", coarse, pq,
            queries, k = 10, nprobe = np)
          .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
        (r, (System.nanoTime() - t) / 1e9)
      }
      val (probed, probeS) = probeRun(nprobe)
      val (full, fullS) = probeRun(cells)
      // exact float top-10 reference
      import spark.implicits._
      val qdf = broadcast(queries.toDF("q_id", "qv"))
      val d2 = aggregate(
        zip_with(col("qv"), col("embedding"), (x, y) => {
          val d = x.cast("double") - y.cast("double"); d * d
        }), lit(0.0), (acc, x) => acc + x)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("q_id").orderBy(col("xd").asc, col("doc_id").asc)
      val exact = e.crossJoin(qdf).withColumn("xd", d2)
        .withColumn("xr", org.apache.spark.sql.functions.row_number().over(w))
        .filter(col("xr") <= 10)
        .select("q_id", "doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val probeRecall = probed.intersect(exact).size.toDouble / exact.size
      val fullRecall = full.intersect(exact).size.toDouble / exact.size
      // composed probe → exact rerank (q158): same probe width, float
      // tier read for probed cells only — the recall the pipeline
      // actually serves
      val t2 = System.nanoTime()
      val reranked = ProductQuantizer.ivfAdcRerankTopK(stored, "doc_id",
          "vec", coarse, pq, queries, k = 10, nprobe = nprobe,
          candidates = 100)
        .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
      val rerankS = (System.nanoTime() - t2) / 1e9
      val rerankRecall = reranked.intersect(exact).size.toDouble / exact.size
      // int8 rerank tier (q165): the same composed pipeline against
      // the scalar-quantized store — rerank tier d bytes/row instead
      // of d·4; measured on-disk bytes, wall, and recall delta
      val sc8 = ProductQuantizer.int8Scale(e, "embedding")
      val idx8Dir = s"$root/ivfpq_idx8_$n"
      ProductQuantizer.encodeIvfStoreInt8(e, "doc_id", "embedding",
          coarse, pq, sc8)
        .write.mode("overwrite").partitionBy("cell").parquet(idx8Dir)
      val stored8 = spark.read.parquet(idx8Dir)
      def dirBytes8(p: String): Long = {
        val fs = org.apache.hadoop.fs.FileSystem.get(
          spark.sparkContext.hadoopConfiguration)
        fs.getContentSummary(new org.apache.hadoop.fs.Path(p)).getLength
      }
      val t3 = System.nanoTime()
      val reranked8 = ProductQuantizer.ivfAdcRerankTopK8(stored8,
          "doc_id", coarse, pq, sc8, queries, k = 10, nprobe = nprobe,
          candidates = 100)
        .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
      val rerank8S = (System.nanoTime() - t3) / 1e9
      val rerank8Recall = reranked8.intersect(exact).size.toDouble / exact.size
      s""","ivfpq":{"vecs":$n,"cells":$cells,"nprobe":$nprobe,""" +
        s""""corpus":"$corpusTag",""" +
        s""""train_s":${fmt(trainS)},"encode_s":${fmt(encodeS)},""" +
        s""""probe_s":${fmt(probeS)},"full_adc_s":${fmt(fullS)},""" +
        s""""probe_recall_at_10":${fmt(probeRecall)},""" +
        s""""full_recall_at_10":${fmt(fullRecall)},""" +
        s""""rerank100_s":${fmt(rerankS)},""" +
        s""""rerank100_recall_at_10":${fmt(rerankRecall)},""" +
        s""""store_mb":${fmt(dirBytes8(idxDir) / 1048576.0)},""" +
        s""""store8_mb":${fmt(dirBytes8(idx8Dir) / 1048576.0)},""" +
        s""""rerank100_int8_s":${fmt(rerank8S)},""" +
        s""""rerank100_int8_recall_at_10":${fmt(rerank8Recall)},""" +
        s""""scan_fraction":${fmt(nprobe.toDouble / cells)}}"""
    }.getOrElse("")

    // MG-backed text frequency surface (env GRAFT_SCALE_TEXTFREQ=
    // <docs>[:capacity[:flat]], default k=2048): q150's per-lang top-5
    // bigrams from ONE Misra–Gries summary per language vs the q46
    // exact path (full (lang, gram) count shuffle + rank window).
    // The corpus is ZIPF(1) text over a 10k vocabulary (log-uniform
    // inverse-CDF draw — rank-r word probability ∝ 1/r, the documented
    // shape of natural language): top bigrams sit well above the MG
    // heavy threshold n/(k+1), which is the distribution class the
    // operator is FOR. Pass `:flat` to run synthDocs' uniform-tail
    // text instead — the recorded BOUNDARY case where no bigram is
    // heavy (MG top-5 is then meaningless and its miss-on-full O(k)
    // decrement path dominates the wall; BASELINE.md keeps that
    // number as the honest applicability edge). top5_matched is
    // recorded, not required — over capacity the ranking is only
    // guaranteed for heavy hitters.
    val textFreqJson = sys.env.get("GRAFT_SCALE_TEXTFREQ").map { spec =>
      val parts = spec.split(':')
      val n = parts(0).trim.toLong
      val cap = if (parts.length > 1 && parts(1).nonEmpty) parts(1).trim.toInt
        else 2048
      val flat = parts.length > 2 && parts(2).trim == "flat"
      val dir = s"$root/textfreq_docs_${n}_$flat"
      val corpus =
        if (flat) synthDocs(spark, n)
        else {
          val langs = array(Seq("en", "de", "fr", "es", "zh").map(lit): _*)
          val nw = (pmod(xxhash64(lit("nw"), col("id")), lit(20L)) + 30L)
          spark.range(n).select(
            element_at(langs, (pmod(col("id"), lit(5L)) + 1L).cast("int"))
              .as("lang"),
            array_join(transform(sequence(lit(0L), nw - 1L), i => {
              val u = (pmod(xxhash64(lit("z"), col("id"), i), lit(1000000L))
                .cast("double") + lit(0.5)) / lit(1000000.0)
              concat(lit("w"),
                floor(exp(u * log(lit(10000.0)))).cast("long"))
            }), " ").as("text"))
        }
      corpus.write.mode("overwrite").parquet(dir)
      import graft.functions.TextFunctions
      // materialize the exploded gram stream ONCE: both paths pay the
      // same cheap 2-column parquet scan, so the walls compare the
      // AGGREGATION strategies, not a shared tokenize+explode
      val gramsDir = s"$dir.grams"
      spark.read.parquet(dir).select(col("lang"),
          explode(TextFunctions.bigrams(TextFunctions.tokens(col("text"))))
            .as("gram"))
        .write.mode("overwrite").parquet(gramsDir)
      val g = spark.read.parquet(gramsDir)
      // shuffle WRITE bytes per path — the number a 1000-executor
      // cluster actually pays for; local walls hide network cost
      val shuffleBytes = new java.util.concurrent.atomic.AtomicLong
      val lsnr = new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
          shuffleBytes.addAndGet(
            sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
      }
      spark.sparkContext.addSparkListener(lsnr)
      def measured[T](body: => T): (T, Double, Long) = {
        Thread.sleep(500); shuffleBytes.set(0L)
        val s0 = System.nanoTime()
        val r = body
        val secs = (System.nanoTime() - s0) / 1e9
        Thread.sleep(500) // listener drain
        (r, secs, shuffleBytes.get())
      }
      val (exactTop, exactSecs, exactShuf) = measured {
        g.groupBy("lang", "gram")
          .agg(count(lit(1)).as("n"))
          .withColumn("rank", row_number().over(
            org.apache.spark.sql.expressions.Window.partitionBy("lang")
              .orderBy(col("n").desc, col("gram").asc)))
          .filter(col("rank") <= 5)
          .groupBy("lang")
          .agg(collect_list(col("gram")).as("top5"))
          .collect()
          .map(r => r.getString(0) -> r.getSeq[String](1).toSet).toMap
      }
      val (skTop, skSecs, skShuf) = measured {
        g.groupBy("lang")
          .agg(graft.operators.Sketches.freqSketch(col("gram"), cap)
            .as("gram_sk"))
          .select(col("lang"), expr(
            "transform(slice(array_sort(gram_sk._1, (l, r) -> " +
              "case when l._2 > r._2 then -1 when l._2 < r._2 then 1 " +
              "when l._1 < r._1 then -1 when l._1 > r._1 then 1 " +
              "else 0 end), 1, 5), x -> x._1)").as("top5"))
          .collect()
          .map(r => r.getString(0) -> r.getSeq[String](1).toSet).toMap
      }
      spark.sparkContext.removeSparkListener(lsnr)
      val distinct = g.select("lang", "gram").distinct().count()
      // ITEM-set agreement: over capacity MG counts are undercounts by
      // contract, so values can't match — recovering the right FIVE
      // GRAMS is the meaningful heavy-hitter metric
      val matched = exactTop.count { case (l, s5) => skTop.get(l).contains(s5) }
      s""","text_freq":{"docs":$n,"capacity":$cap,"corpus":"${if (flat) "flat" else "zipf"}",""" +
        s""""distinct_grams":$distinct,"exact_s":${fmt(exactSecs)},""" +
        s""""sketch_s":${fmt(skSecs)},""" +
        s""""speedup":${fmt(exactSecs / skSecs)},""" +
        s""""exact_shuffle_mb":${fmt(exactShuf / 1048576.0)},""" +
        s""""sketch_shuffle_mb":${fmt(skShuf / 1048576.0)},""" +
        s""""langs":${exactTop.size},"top5_matched":$matched}"""
    }.getOrElse("")

    // sketch-planned fetch (env GRAFT_SCALE_FETCHPLAN=
    // <events>[:channels], default 64 channels): the q149 flow at
    // scale — catalog in an EventBank, request cardinality estimated
    // from the bank's sketch sidecar (kilobytes, no catalog scan),
    // broadcast-vs-shuffled decided from the estimate. Records the
    // estimate's latency and accuracy, which plan the sketch chose,
    // and BOTH physical walls (checksum-equal by require) so the
    // decision is auditable rather than asserted.
    val fetchPlanJson = sys.env.get("GRAFT_SCALE_FETCHPLAN").map { spec =>
      val parts = spec.split(':')
      val n = parts(0).trim.toLong
      val nCh = if (parts.length > 1) parts(1).trim.toInt else 64
      val dir = s"$root/fetchplan_events_$n"
      synthEvents(spark, n).write.mode("overwrite").parquet(dir)
      val ev = spark.read.parquet(dir)
      val quakes0 = ev
        .filter(col("event_type") === "error" && col("event_id") % 97 === 0)
        .select(col("event_id").cast("string").as("event_id"),
          col("ts").as("time"), col("event_id").cast("long").as("updated"))
      val bank = new graft.bank.EventBank(spark, s"$root/fetchplan_bank_$n")
      bank.putEvents(quakes0)
      val seed = concat(lit("NT.S"),
        (col("user_id") % nCh).cast("string"), lit("..BHZ"))
      val quakes = bank.readIndex().select(col("event_id"), col("time"))
      val channels = ev.select(seed.as("seed_id")).distinct()
      val index = ev.select(seed.as("seed_id"), col("ts").as("starttime"),
        (col("ts") + (col("event_id") % 60 + 1) * lit(60_000_000_000L))
          .as("endtime"))
      val fetcher = new graft.fetch.Fetcher(spark, quakes, channels,
        picks = quakes)
      val e0 = System.nanoTime()
      val est = fetcher.estimatedRequests(bank,
        Long.MinValue / 2, Long.MaxValue / 2)
      val estSecs = (System.nanoTime() - e0) / 1e9
      val actual = fetcher
        .eventRequests("origin", 1_800_000_000_000L, 7_200_000_000_000L)
        .count()
      val budget = spark.conf
        .get("spark.graft.fetch.broadcastMaxRequests", "1000000").toLong
      val chosen = if (est <= budget) "broadcast" else "shuffled"
      def wall(estimate: Long): (Double, Long, Long) = {
        val s0 = System.nanoTime()
        val (rows, sum) = runAll(fetcher
          .fetchEventSegments(index, "origin", 1_800_000_000_000L,
            7_200_000_000_000L, Some(estimate))
          .groupBy("event_id", "seed_id")
          .agg(count(lit(1)).as("n_segments"),
            min("starttime").as("first_start"),
            max("endtime").as("last_end")))
        ((System.nanoTime() - s0) / 1e9, rows, sum)
      }
      val (shufS, sRows, sSum) = wall(Long.MaxValue)
      // forced broadcast only while the materialized request table is
      // safely holdable in this container — past that the refusal IS
      // the result being measured
      val bcastLeg =
        if (actual <= 20_000_000L) {
          val (bS, bRows, bSum) = wall(0L)
          require(bRows == sRows && bSum == sSum,
            s"plan choice changed RESULTS: bcast ($bRows,$bSum) vs shuffled ($sRows,$sSum)")
          s""""broadcast_s":${fmt(bS)},"""
        } else s""""broadcast_s":null,"broadcast_skipped":"requests > 2e7: refusal is the point","""
      // SEGMENT-side flip (round 12): huge request estimate against a
      // THIN index TIME window (the "months of events, narrow archive
      // slice" shape — all seeds present, so the broadcast hash join
      // keeps balanced buckets; slicing by seed instead concentrates
      // the build side on 2 keys and measures skew, not the plan).
      // Both-side estimates broadcast the index instead of shuffling
      // the big request table; both walls recorded, checksum-equal by
      // require.
      val tCut = ev.agg(
        (min(col("ts")) + (max(col("ts")) - min(col("ts"))) / 50)
          .cast("long").as("c")).head().getLong(0)
      val thinIndex = index.filter(col("starttime") <= tCut)
      val thinRows = thinIndex.count()
      def wallSeg(segEstimate: Long): (Double, Long, Long) = {
        val s0 = System.nanoTime()
        val (rows, sum) = runAll(fetcher
          .fetchEventSegments(thinIndex, "origin", 1_800_000_000_000L,
            7_200_000_000_000L, Some(Long.MaxValue), Some(segEstimate))
          .groupBy("event_id", "seed_id")
          .agg(count(lit(1)).as("n_segments"),
            min("starttime").as("first_start"),
            max("endtime").as("last_end")))
        ((System.nanoTime() - s0) / 1e9, rows, sum)
      }
      // the leg only COMPARES plans while the thin index actually fits
      // the segment budget — past it wallSeg(thinRows) would silently
      // run the same banded plan twice and record a meaningless ~1.0
      val segBudget = spark.conf
        .get("spark.graft.fetch.broadcastMaxSegments", "1000000").toLong
      val segChosen = if (thinRows <= segBudget) "seg_broadcast" else "banded"
      val (segBcastS, gbRows, gbSum) = wallSeg(thinRows)
      val (segShufS, gsRows, gsSum) = wallSeg(Long.MaxValue)
      require(gbRows == gsRows && gbSum == gsSum,
        s"segment-side plan choice changed RESULTS: " +
          s"($gbRows,$gbSum) vs ($gsRows,$gsSum)")
      s""","fetch_plan":{"events":$n,"channels":$nCh,""" +
        s""""est":$est,"actual":$actual,"est_s":${fmt(estSecs)},""" +
        s""""budget":$budget,"chosen":"$chosen",$bcastLeg""" +
        s""""shuffled_s":${fmt(shufS)},"rows":$sRows,""" +
        s""""thin_index_rows":$thinRows,"seg_chosen":"$segChosen",""" +
        s""""seg_bcast_s":${fmt(segBcastS)},""" +
        s""""seg_banded_s":${fmt(segShufS)},"seg_rows":$gbRows}"""
    }.getOrElse("")

    // q67 band-width sensitivity (env GRAFT_SCALE_BANDSWEEP=
    // <rows>[:ns1,ns2,...]): the banded huge×huge interval join at
    // several band widths; 0 = the operator's measured auto width.
    // Width is a pure physical knob — the sweep asserts checksum
    // identity across widths, then records the wall-time curve.
    val bandJson = sys.env.get("GRAFT_SCALE_BANDSWEEP").map { spec =>
      val parts = spec.split(":")
      val n = parts(0).trim.toLong
      val HourNs = 3600L * 1_000_000_000L
      val widths: Seq[Long] =
        if (parts.length > 1) parts(1).split(",").map(_.trim.toLong).toSeq
        else Seq(HourNs, 3 * HourNs, 6 * HourNs, 12 * HourNs,
          24 * HourNs, 48 * HourNs, 0L)
      val dir = s"$root/events_$n"
      synthEvents(spark, n).write.mode("overwrite").parquet(dir)
      val events = spark.read.parquet(dir)
      val runs = widths.map { w =>
        val s0 = System.nanoTime()
        val (rows, sum) = runAll(
          WindowQueries.intervalJoinOf(events, banded = true, bandNs = w))
        val secs = (System.nanoTime() - s0) / 1e9
        (w, secs, rows, sum)
      }
      require(runs.map(_._4).distinct.size == 1,
        s"band width changed RESULTS: ${runs.map(r => r._1 -> r._4)}")
      val items = runs.map { case (w, secs, rows, sum) =>
        s"""{"band_ns":$w,"s":${fmt(secs)},"rows":$rows,"checksum":$sum}"""
      }
      s""","band_sweep":{"rows":$n,"runs":[${items.mkString(",")}]}"""
    }.getOrElse("")

    // streaming near-dup throughput (env GRAFT_SCALE_STREAM=<docs>):
    // the q88 pipeline (nearDupStream, three chained watermark-bounded
    // stateful stages) on a file-source replay of the synthetic corpus
    // with a 1 ms-per-doc event time, range-partitioned by ts so files
    // arrive in event-time order, 8 files per microbatch — measures
    // docs/sec end to end and the peak state row/byte footprint the
    // watermark is bounding.
    val streamJson = sys.env.get("GRAFT_SCALE_STREAM").map { sN =>
      val n = sN.trim.toLong
      val t0 = 1_600_000_000_000_000_000L
      val docs = synthDocs(spark, n)
        .withColumn("ts", lit(t0) + col("doc_id") * lit(1_000_000L))
        .select("doc_id", "text", "ts")
      val flush = spark.range(1).select(lit(n + 1).as("doc_id"),
        lit((1 to 8).map(i => s"zzflush$i").mkString(" ")).as("text"),
        lit(t0 + 8L * 3600L * 1_000_000_000L).as("ts"))
      val r = replayBench(spark, s"$root/stream_docs_$n", docs, flush, "ts",
        st => graft.streaming.StreamingDedup.nearDupStream(
          st, "text", "doc_id", "ts"))
      // completeness guard: with ordered arrival nothing is watermark-
      // dropped, so the stream's distinct-pair total must equal the
      // batch pipeline's candidate-pair count on the same corpus — a
      // silently failed mtime stamp or replay reorder fails here
      // instead of reporting a partial corpus as a throughput number
      // (equality holds while the 1 ms-per-doc corpus fits one 6 h
      // window — n beyond 2.16e7 spans windows and the per-window
      // pair sets stop being comparable to the batch global set)
      if (n * 1_000_000L < 6L * 3600L * 1_000_000_000L) {
        val batchPairs = graft.queries.DedupQueries
          .minhashPairsOf(synthDocs(spark, n)).count()
        require(r.emitted == batchPairs,
          s"stream emitted ${r.emitted} pairs, batch derives $batchPairs")
      }
      s""","stream":{"docs":$n,"s":${fmt(r.secs)},""" +
        s""""docs_per_sec":${fmt(n / r.secs, 0)},"pairs":${r.emitted},""" +
        s""""batches":${r.batches},"peak_state_rows":${r.peakStateRows},""" +
        s""""peak_state_bytes":${r.peakStateBytes}}"""
    }.getOrElse("")

    // streaming gap-detection throughput (env GRAFT_SCALE_GAPSTREAM=
    // <rows>): the q100 pipeline (StreamingIntervals.gapStream) on a
    // file-source replay of the synthEvents interval frame, range-
    // partitioned by starttime (event-time-ordered arrival), 8 files
    // per microbatch — rows/sec end to end, the watermark-bounded peak
    // state, and the emitted-gap count checked against the batch
    // operator (a flush row ahead of every real segment seals them all).
    val gapsJson = sys.env.get("GRAFT_SCALE_GAPSTREAM").map { sN =>
      val n = sN.trim.toLong
      val iv = graft.queries.WindowQueries.intervalsOf(synthEvents(spark, n))
        .select(col("user_id"), col("starttime"), col("endtime"))
      val far = 1_740_000_000_000_000_000L // 2025-02, past every synth ts
      val flush = spark.range(1).select(lit(999999999L).as("user_id"),
        lit(far).as("starttime"), lit(far + 1000L).as("endtime"))
      val r = replayBench(spark, s"$root/gapstream_$n", iv, flush,
        "starttime",
        st => graft.streaming.StreamingIntervals.gapStream(
          st, "user_id", "starttime", "endtime",
          minGap = 43_200_000_000_000L, watermark = "10 seconds"))
      val batchRows = graft.queries.WindowQueries
        .gapsOf(synthEvents(spark, n)).count()
      require(r.emitted == batchRows,
        s"stream emitted ${r.emitted} gaps, batch derives $batchRows")
      s""","gap_stream":{"rows":$n,"s":${fmt(r.secs)},""" +
        s""""rows_per_sec":${fmt(n / r.secs, 0)},"gaps":${r.emitted},""" +
        s""""batches":${r.batches},"peak_state_rows":${r.peakStateRows},""" +
        s""""peak_state_bytes":${r.peakStateBytes}}"""
    }.getOrElse("")

    // streaming contiguous-span throughput (env GRAFT_SCALE_SEGSTREAM=
    // <rows>): the q105 pipeline (StreamingIntervals.segmentStream) on
    // the same ordered file-source replay — rows/sec, peak state, and
    // the emitted-segment count checked against the batch operator
    // (every real span closes via WATERMARK closure once the flush row
    // advances the watermark past its runMax + tol; the flush row
    // itself stays buffered and unemitted).
    val segsJson = sys.env.get("GRAFT_SCALE_SEGSTREAM").map { sN =>
      val n = sN.trim.toLong
      val iv = graft.queries.WindowQueries.intervalsOf(synthEvents(spark, n))
        .select(col("user_id"), col("starttime"), col("endtime"))
      val far = 1_740_000_000_000_000_000L // 2025-02, past every synth ts
      val flush = spark.range(1).select(lit(999999999L).as("user_id"),
        lit(far).as("starttime"), lit(far + 1000L).as("endtime"))
      val r = replayBench(spark, s"$root/segstream_$n", iv, flush,
        "starttime",
        st => graft.streaming.StreamingIntervals.segmentStream(
          st, "user_id", "starttime", "endtime",
          tol = 43_200_000_000_000L, watermark = "10 seconds"))
      val batchRows = graft.queries.WindowQueries
        .segmentsOf(synthEvents(spark, n)).count()
      require(r.emitted == batchRows,
        s"stream emitted ${r.emitted} segments, batch derives $batchRows")
      s""","segment_stream":{"rows":$n,"s":${fmt(r.secs)},""" +
        s""""rows_per_sec":${fmt(n / r.secs, 0)},"segments":${r.emitted},""" +
        s""""batches":${r.batches},"peak_state_rows":${r.peakStateRows},""" +
        s""""peak_state_bytes":${r.peakStateBytes}}"""
    }.getOrElse("")

    // perceptual-hash image near-dup (env GRAFT_SCALE_PHASH=
    // <imgs>[:bands:bandBits:maxHamming], default 4:16:3): the q104
    // pipeline — render real 9x8 PNGs (1-in-50 a planted
    // near-duplicate), decode + dHash via perceptualHash, pair via the
    // banded-Hamming blocking — reporting decode+hash throughput, the
    // banded CANDIDATE volume (Σ|bucket|·(|bucket|−1)/2, the quantity
    // whose docs²/2^bandBits growth sets the ~10⁶-image capacity
    // ceiling of the default banding), and the found-pair count
    // checked against the planted count. The DECADE-UP path is a
    // coarser banding: 2×32-bit bands cut candidates by 2^16 at the
    // cost of guaranteed recall only to Hamming 1 (pigeonhole needs
    // maxHamming < bands) — run `10000000:2:32:1` for the 10⁷ row;
    // the planted require is skipped off the default config because
    // planted pairs reach Hamming 2.
    val phashJson = sys.env.get("GRAFT_SCALE_PHASH").map { sN =>
      val parts = sN.trim.split(':')
      val n = parts(0).toLong
      val (bands, bandBits, maxHam) =
        if (parts.length >= 4) (parts(1).toInt, parts(2).toInt, parts(3).toInt)
        else (4, 16, 3)
      import spark.implicits._
      val imgs = spark.range(n).select(col("id").as("doc_id")).as[Long]
        .mapPartitions { it =>
          javax.imageio.ImageIO.setUseCache(false)
          it.map(id => (id, graft.queries.MultimodalQueries.renderPng(id)))
        }.toDF("doc_id", "payload")
        .localCheckpoint(true) // isolate render cost from hash cost
      val s0 = System.nanoTime()
      val sigs = graft.multimodal.Multimodal.perceptualHash(spark, imgs)
        .toDF().localCheckpoint(true)
      val hashSecs = (System.nanoTime() - s0) / 1e9
      val mask = if (bandBits >= 64) -1L else (1L << bandBits) - 1
      val banded = sigs.select(col("doc_id"),
        posexplode(array((0 until bands).map(b =>
          shiftright(col("phash"), b * bandBits).bitwiseAND(lit(mask))): _*))
          .as(Seq("band", "bucket")))
      val cands = banded.groupBy("band", "bucket")
        .agg(count(lit(1)).as("m"))
        .agg(sum(expr("m * (m - 1) div 2")).cast("long")).head().getLong(0)
      val s1 = System.nanoTime()
      val pairs = graft.multimodal.Multimodal.imageNearDupPairs(
        spark, imgs, maxHamming = maxHam, bands = bands,
        bandBits = bandBits).count()
      val pairSecs = (System.nanoTime() - s1) / 1e9
      val planted = (n - 8 + 49) / 50 // ids 7, 57, ... below n with id-7 >= 0
      if (bands == 4 && bandBits == 16 && maxHam >= 2)
        require(pairs >= planted, s"found $pairs pairs, planted $planted")
      s""","phash_neardup":{"imgs":$n,"bands":$bands,"band_bits":$bandBits,""" +
        s""""max_hamming":$maxHam,"hash_s":${fmt(hashSecs)},""" +
        s""""imgs_per_sec":${fmt(n / hashSecs, 0)},"candidates":$cands,""" +
        s""""pairs":$pairs,"planted":$planted,"pair_s":${fmt(pairSecs)}}"""
    }.getOrElse("")

    // streaming image near-dup (env GRAFT_SCALE_IMGSTREAM=
    // <imgs>[:bands:bandBits:maxHamming], default 4:16:3): the q106
    // pipeline — PNGs replayed through the file source, decoded +
    // dHashed on arrival, banded-Hamming paired in tumbling windows —
    // imgs/sec end to end, peak state (window-volume-bounded bucket
    // buffers), and the emitted pairs checked against the batch q104
    // operator UNDER THE SAME BANDING (one window, flush image closes
    // it). The decade-up config is 2×32/1, the phash section's
    // coarse banding — candidate volume drops 2^16 at recall
    // guaranteed only to Hamming 1.
    val imgStreamJson = sys.env.get("GRAFT_SCALE_IMGSTREAM").map { sN =>
      import spark.implicits._
      val parts = sN.trim.split(':')
      val n = parts(0).toLong
      val (bands, bandBits, maxHam) =
        if (parts.length >= 4) (parts(1).toInt, parts(2).toInt, parts(3).toInt)
        else (4, 16, 3)
      val t0 = 1_600_000_000_000_000_000L
      def renderAll(): DataFrame = spark.range(n)
        .select(col("id").as("doc_id")).as[Long]
        .mapPartitions { it =>
          javax.imageio.ImageIO.setUseCache(false)
          it.map(id => (id, graft.queries.MultimodalQueries.renderPng(id)))
        }.toDF("doc_id", "payload")
      val imgs = renderAll()
        .withColumn("ts", lit(t0) + col("doc_id") * lit(1_000_000L))
      val flush = spark.range(1).select(lit(999999999L).as("doc_id"),
        lit(graft.queries.MultimodalQueries.renderPng(999999999L))
          .as("payload"),
        lit(t0 + 8L * 3600L * 1_000_000_000L).as("ts"))
      val r = replayBench(spark, s"$root/imgstream_$n", imgs, flush, "ts",
        st => graft.streaming.StreamingDedup.imageNearDupStream(
          st, "doc_id", "payload", "ts", maxHamming = maxHam,
          bands = bands, bandBits = bandBits))
      val batchPairs = graft.multimodal.Multimodal.imageNearDupPairs(
        spark, renderAll(), maxHamming = maxHam,
        bands = bands, bandBits = bandBits).count()
      require(r.emitted == batchPairs,
        s"stream emitted ${r.emitted} pairs, batch derives $batchPairs")
      s""","img_stream":{"imgs":$n,"bands":$bands,"band_bits":$bandBits,""" +
        s""""max_hamming":$maxHam,"s":${fmt(r.secs)},""" +
        s""""imgs_per_sec":${fmt(n / r.secs, 0)},"pairs":${r.emitted},""" +
        s""""batches":${r.batches},"peak_state_rows":${r.peakStateRows}}"""
    }.getOrElse("")

    // streaming embedding near-dup (env GRAFT_SCALE_EMBSTREAM=<vecs>):
    // the q110 pipeline — synthEmbeddings replayed through the file
    // source, sign-bucketed on arrival, windowed in-bucket pair
    // expansion with the exact cosine refine — vecs/sec end to end,
    // peak state (the window's VECTORS, the heaviest state profile of
    // the five dedup streams), and the emitted pairs checked against
    // the batch q34 operator. bits=16 keeps bucket populations ~n/2^16
    // (at 8 bits the planted families would pool 256 buckets into
    // quadratic hot groups — the same bits-must-grow-with-n knob the
    // batch operator documents).
    // `<n>` replays in one 6 h window (state = the whole corpus's
    // vectors — the operator's documented heaviest profile; a 10⁷
    // single-window replay OOMs the default heap, measured).
    // `<n>:multiwin` exercises the documented windowDur knob instead:
    // ids split into 2M-per-window slices (group-aligned — 2M % 8 = 0,
    // so no planted group straddles a boundary and the planted pair
    // count is invariant), each window sealing as the next arrives, so
    // peak state is ONE window's vectors no matter how large n grows.
    val embStreamJson = sys.env.get("GRAFT_SCALE_EMBSTREAM").map { sN =>
      val parts = sN.trim.split(':')
      val n = parts(0).toLong
      val multiwin = parts.length > 1 && parts(1) == "multiwin"
      val t0 = 1_600_000_000_000_000_000L
      val winNs = 6L * 3600L * 1_000_000_000L
      val idsPerWin = 2_000_000L
      val nWins = if (multiwin) (n + idsPerWin - 1) / idsPerWin else 1L
      val tsCol =
        if (multiwin)
          lit(t0) + (col("doc_id") / idsPerWin).cast("long") * lit(winNs) +
            pmod(col("doc_id"), lit(idsPerWin)) * lit(10_000_000L)
        else lit(t0) + col("doc_id") * lit(1_000_000L)
      val vecs = synthEmbeddings(spark, n).withColumn("ts", tsCol)
      val flush = synthEmbeddings(spark, 1)
        .select(lit(999999999L).as("doc_id"),
          transform(col("embedding"), v => -v).as("embedding"),
          lit(t0 + (nWins + 2) * winNs).as("ts"))
      val r = replayBench(spark, s"$root/embstream_$n", vecs, flush, "ts",
        st => graft.streaming.StreamingDedup.embeddingNearDupStream(
          st, "doc_id", "embedding", "ts", bits = 16, minCosine = 0.99))
      // completeness guard: single-window compares to the batch
      // operator; multiwin uses the closed form (n/8)*15 — valid
      // because groups are window-aligned so every planted pair stays
      // intra-window, and the 10⁵/10⁶ single-window runs pin
      // closed form == batch == stream on this corpus
      val expected =
        if (multiwin) (n / 8) * 15
        else graft.operators.Similarity.nearDupPairs(
          synthEmbeddings(spark, n), "doc_id", "embedding",
          bits = 16, minCosine = 0.99).count()
      require(r.emitted == expected,
        s"stream emitted ${r.emitted} pairs, expected $expected")
      val key = if (multiwin) "emb_stream_multiwin" else "emb_stream"
      s""","$key":{"vecs":$n,"windows":$nWins,"s":${fmt(r.secs)},""" +
        s""""vecs_per_sec":${fmt(n / r.secs, 0)},"pairs":${r.emitted},""" +
        s""""batches":${r.batches},"peak_state_rows":${r.peakStateRows},""" +
        s""""peak_state_bytes":${r.peakStateBytes}}"""
    }.getOrElse("")

    // streaming ANN serving rate (env GRAFT_SCALE_ANNSTREAM=
    // "<corpusVecs>,<queries>"): the q111 pipeline — a query stream
    // probing the static synthEmbeddings corpus, bucketed + persisted
    // ONCE before the clock starts (the serving deployment shape) —
    // queries/sec end to end and the no-corpus-state claim measured,
    // with the emitted top-k rows checked against batch lshTopK on
    // the same query set.
    val annStreamJson = sys.env.get("GRAFT_SCALE_ANNSTREAM").map { sN =>
      val parts = sN.split(",").map(_.trim.toLong)
      val (nc, nq) = (parts(0), parts(1))
      val t0 = 1_600_000_000_000_000_000L
      val corpus = graft.streaming.StreamingSimilarity.bucketCorpus(
        synthEmbeddings(spark, nc), "doc_id", "embedding",
        bits = 16).persist()
      corpus.count() // materialize before the clock starts
      // query vectors: unique-seed synthEmbeddings rows (the m=7
      // branch pattern), disjoint id space, 1 ms event spacing
      def queryVecs(n: Long): DataFrame = spark.range(n)
        .withColumn("seed", xxhash64(lit("qryv"), col("id")))
        .select((col("id") + 2_000_000_000L).as("doc_id"),
          transform(sequence(lit(0), lit(63)), i =>
            ((pmod(xxhash64(lit("vdim"), col("seed"), i), lit(2001L))
              - lit(1000L)) / lit(1000.0)).cast("float")).as("embedding"))
      val qs = queryVecs(nq)
        .withColumn("ts", lit(t0) + (col("doc_id") - 2_000_000_000L)
          * lit(1_000_000L))
      val flush = queryVecs(1)
        .select(lit(999999999L).as("doc_id"), col("embedding"),
          lit(t0 + 8L * 3600L * 1_000_000_000L).as("ts"))
      val r = replayBench(spark, s"$root/annstream_${nc}_$nq", qs, flush,
        "ts",
        st => graft.streaming.StreamingSimilarity.annStream(
          st, corpus, "doc_id", "embedding", "ts", bits = 16, k = 10))
      val batchRows = graft.operators.Similarity.lshTopK(
        synthEmbeddings(spark, nc), queryVecs(nq),
        "doc_id", "embedding", bits = 16, k = 10).count()
      require(r.emitted == batchRows,
        s"stream emitted ${r.emitted} rows, batch derives $batchRows")
      corpus.unpersist()
      s""","ann_stream":{"corpus":$nc,"queries":$nq,"s":${fmt(r.secs)},""" +
        s""""queries_per_sec":${fmt(nq / r.secs, 0)},"rows":${r.emitted},""" +
        s""""batches":${r.batches},"peak_state_rows":${r.peakStateRows}}"""
    }.getOrElse("")

    // Incremental IVFADC store maintenance (env GRAFT_SCALE_ANNSTORE=
    // <vecs>[:cells:m:k]): the q161/q162 layer at scale — bootstrap
    // the TxTable serving store, stream vecs/10 NEW in-distribution
    // arrivals through StreamingAnnIndex in 8 forced micro-batches,
    // then: (a) REQUIRE the maintained store checksum-equals a from-
    // scratch encodeIvfStore rebuild (the exactly-once + pure-encode
    // claim, at scale); (b) time the driftReport rollup — kilobyte
    // partials, never a store scan, so the wall must stay flat in n;
    // (c) record drift_permille for the in-distribution arrivals
    // (parity band) and for a +3.0-shifted copy (the retrain signal).
    val annStoreJson = sys.env.get("GRAFT_SCALE_ANNSTORE").map { spec =>
      import graft.operators.{KMeans, ProductQuantizer}
      import graft.streaming.StreamingAnnIndex
      import graft.bank.TxTable
      val parts = spec.split(':')
      val n = parts(0).trim.toLong
      val (cells, m, k) =
        if (parts.length >= 4) (parts(1).toInt, parts(2).toInt, parts(3).toInt)
        else (64, 8, 256)
      val (corpus, corpusTag) = embCorpus(spark, n)
      val rawDir = s"$root/annstore_raw_$n"
      corpus.write.mode("overwrite").parquet(rawDir)
      val e = spark.read.parquet(rawDir)
      // models train on the hash sample (the q157/q160 regime — train
      // cost must not drown the maintenance walls this row is about)
      val trainFrac = math.min(1.0, 2e5 / n)
      val trainSet = ProductQuantizer.sampleByHash(e, "doc_id", trainFrac)
      val (coarse, _) = KMeans.fit(trainSet, "doc_id", "embedding",
        k = cells, iters = 2)
      val resid = KMeans.assign(trainSet, "doc_id", "embedding", coarse)
        .withColumn("r", zip_with(col("embedding"),
          element_at(typedlit(coarse), col("cell") + 1), (x, y) => x - y))
        .select(col("doc_id"), col("r"))
      val pq = ProductQuantizer.fit(resid, "doc_id", "r",
        m = m, k = k, iters = 2)
      val nArr = math.max(8L, n / 10)
      // in-distribution arrivals: same generator regime, disjoint ids
      val arrivals = embQueries(spark, nArr)
        .select(col("doc_id").as("vec_id"), col("embedding"))
      def maintain(arr: DataFrame, tag: String)
          : (TxTable, TxTable, Double, Double) = {
        val storeTx = new TxTable(spark, s"$root/annstore_${tag}_$n/store")
        val driftTx = new TxTable(spark, s"$root/annstore_${tag}_$n/drift")
        val b0 = System.nanoTime()
        StreamingAnnIndex.bootstrap(
          e.select(col("doc_id").as("vec_id"), col("embedding")),
          "vec_id", "embedding", coarse, pq, storeTx, driftTx)
        val bootS = (System.nanoTime() - b0) / 1e9
        val vecsDir = s"$root/annstore_${tag}_$n/vecs"
        arr.withColumn("slice", pmod(col("vec_id"), lit(8L)))
          .repartition(8, col("slice")).drop("slice")
          .write.mode("overwrite").parquet(vecsDir)
        val s0 = System.nanoTime()
        StreamingAnnIndex.run(spark, vecsDir, coarse, pq, storeTx,
          driftTx, s"$root/annstore_${tag}_$n/ckpt",
          maxFilesPerTrigger = 1).awaitTermination()
        (storeTx, driftTx, bootS, (System.nanoTime() - s0) / 1e9)
      }
      val (storeTx, driftTx, bootS, appendS) = maintain(arrivals, "indist")
      // (a) the maintained store == from-scratch rebuild, by checksum
      def chk(df: DataFrame): (Long, Long) = {
        val r = df.select(xxhash64(col("vec_id"), col("cell"),
            concat_ws(",", transform(col("codes"), _.cast("string"))))
            .as("h"))
          .agg(count(lit(1)), expr("bit_xor(h)")).head()
        (r.getLong(0), r.getLong(1))
      }
      val maintained = chk(storeTx.read())
      val rebuilt = chk(ProductQuantizer.encodeIvfStore(
        e.select(col("doc_id").as("vec_id"), col("embedding"))
          .unionByName(arrivals),
        "vec_id", "embedding", coarse, pq))
      require(maintained == rebuilt,
        s"maintained store $maintained != rebuild $rebuilt")
      // (a2) COMPACTION POLICY (round 14): the append store carries one
      // file set per commit, each cell-sorted WITHIN its batch but
      // range-overlapping ACROSS batches; one globally cell-sorted
      // compact restores store-wide disjoint slices. Probe wall + live
      // file count both sides (warm-up probe first — the round-12
      // measurement-order lesson), content-neutral by the same checksum.
      val probeQs = embQueries(spark, 200)
        .select(col("doc_id").as("q_id"), col("embedding").as("qv"))
      def probeWall(): Double = {
        val p0 = System.nanoTime()
        ProductQuantizer.ivfAdcTopKBatch(storeTx.read(), "vec_id",
          coarse, pq, probeQs, "q_id", "qv", k = 10, nprobe = 8).count()
        (System.nanoTime() - p0) / 1e9
      }
      val filesPre = storeTx.snapshot().length
      probeWall() // warm-up
      val probePreS = probeWall()
      val c0 = System.nanoTime()
      storeTx.compact(Seq("cell"))
      val compactS = (System.nanoTime() - c0) / 1e9
      val filesPost = storeTx.snapshot().length
      require(chk(storeTx.read()) == maintained,
        "sorted compact must be content-neutral")
      val probePostS = probeWall()
      // (b) + (c): probe wall and the two drift distributions
      val d0 = System.nanoTime()
      val inDist = StreamingAnnIndex.driftReport(driftTx)
        .select("drift_permille").collect()
        .flatMap(r => Option(r.get(0)).map(_.asInstanceOf[Long])).sorted
      val driftS = (System.nanoTime() - d0) / 1e9
      val shifted = arrivals.select(col("vec_id"),
        transform(col("embedding"),
          x => (x.cast("double") + lit(3.0)).cast("float")).as("embedding"))
      val (storeTx2, driftTx2, _, _) = maintain(shifted, "shift")
      val shiftDrift = StreamingAnnIndex.driftReport(driftTx2)
        .select("drift_permille").collect()
        .flatMap(r => Option(r.get(0)).map(_.asInstanceOf[Long])).sorted
      def med(xs: Array[Long]): Long =
        if (xs.isEmpty) -1L else xs(xs.length / 2)
      // close the loop: the drifted store retrains (hash-sampled, the
      // q160 regime) and the REBUILT store must read the same shifted
      // population at parity — wall + post-retrain median recorded
      val rt0 = System.nanoTime()
      val newStore = new TxTable(spark, s"$root/annstore_rt_$n/store")
      val newDrift = new TxTable(spark, s"$root/annstore_rt_$n/drift")
      val fired = StreamingAnnIndex.retrainIfDrifted(storeTx2, driftTx2,
        newStore, newDrift, cells = cells, m = m, k = k, iters = 2,
        sampleFraction = trainFrac)
      val retrainS = (System.nanoTime() - rt0) / 1e9
      require(fired.isDefined, "planted shift must fire the retrain")
      val (c2, pq2) = (fired.get.coarse, fired.get.pq)
      val reDir = s"$root/annstore_rt_$n/vecs"
      shifted.select((col("vec_id") + 500_000_000L).as("vec_id"),
          col("embedding"))
        .withColumn("slice", pmod(col("vec_id"), lit(8L)))
        .repartition(8, col("slice")).drop("slice")
        .write.mode("overwrite").parquet(reDir)
      StreamingAnnIndex.run(spark, reDir, c2, pq2, newStore, newDrift,
        s"$root/annstore_rt_$n/ckpt",
        maxFilesPerTrigger = 1).awaitTermination()
      val postDrift = StreamingAnnIndex.driftReport(newDrift)
        .select("drift_permille").collect()
        .flatMap(r => Option(r.get(0)).map(_.asInstanceOf[Long])).sorted
      s""","ann_store":{"vecs":$n,"arrivals":$nArr,"cells":$cells,""" +
        s""""m":$m,"k":$k,"corpus":"$corpusTag",""" +
        s""""bootstrap_s":${fmt(bootS)},""" +
        s""""append_s":${fmt(appendS)},""" +
        s""""append_vecs_per_sec":${fmt(nArr / appendS, 0)},""" +
        s""""store_rows":${maintained._1},"rebuild_match":1,""" +
        s""""files_pre_compact":$filesPre,"files_post_compact":$filesPost,""" +
        s""""compact_s":${fmt(compactS)},""" +
        s""""probe_pre_compact_s":${fmt(probePreS)},""" +
        s""""probe_post_compact_s":${fmt(probePostS)},""" +
        s""""drift_report_s":${fmt(driftS)},""" +
        s""""drift_indist_med":${med(inDist)},""" +
        s""""drift_indist_max":${if (inDist.isEmpty) -1L else inDist.last},""" +
        s""""drift_shift_med":${med(shiftDrift)},""" +
        s""""drift_shift_min":${if (shiftDrift.isEmpty) -1L else shiftDrift.head},""" +
        s""""retrain_s":${fmt(retrainS)},""" +
        s""""post_retrain_drift_med":${med(postDrift)}}"""
    }.getOrElse("")

    // STREAMING IVFADC serving (env GRAFT_SCALE_ADCSTREAM=
    // <corpus>,<queries>): q163's path at scale — arriving queries
    // probe the persisted CODE store (floats never stored or read),
    // ADC distances via the native vec_l2_q8-family folds, emitted on
    // watermark close. Measures queries/sec, state rows (the bounded
    // (dist, id) top-k buffers), and row-count equality with the batch
    // ivfAdcTopK derivation.
    val adcStreamJson = sys.env.get("GRAFT_SCALE_ADCSTREAM").map { sN =>
      import graft.operators.{KMeans, ProductQuantizer}
      val parts = sN.split(",").map(_.trim.toLong)
      val (nc, nq) = (parts(0), parts(1))
      val cells = if (parts.length > 2) parts(2).toInt else 1024
      val nprobe = if (parts.length > 3) parts(3).toInt else 8
      // optional 5th field: shuffle partitions for the STREAM (state
      // partition count fixes at checkpoint creation) — state here is
      // ≤ Q·k rows, so 32 state partitions just mean 32 near-empty
      // store commits per trigger per stateful op; sizing them to the
      // state (4–8) cut the candidate-heavy wall 20.1 → 10.8 s at
      // unchanged join parallelism (the cached store keeps its layout)
      val streamParts = if (parts.length > 4) Some(parts(4).toInt) else None
      val (corpus, corpusTag) = embCorpus(spark, nc)
      val rawDir = s"$root/adcstream_raw_$nc"
      corpus.write.mode("overwrite").parquet(rawDir)
      val e = spark.read.parquet(rawDir)
      val trainFrac = math.min(1.0, 2e5 / nc)
      val trainSet = ProductQuantizer.sampleByHash(e, "doc_id", trainFrac)
      val (coarse, _) = KMeans.fit(trainSet, "doc_id", "embedding",
        k = cells, iters = 2)
      val resid = KMeans.assign(trainSet, "doc_id", "embedding", coarse)
        .withColumn("r", zip_with(col("embedding"),
          element_at(typedlit(coarse), col("cell") + 1), (x, y) => x - y))
        .select(col("doc_id"), col("r"))
      val pq = ProductQuantizer.fit(resid, "doc_id", "r",
        m = 8, k = 256, iters = 2)
      val store = ProductQuantizer.encodeIvf(
        e, "doc_id", "embedding", coarse, pq)
        .repartition(col("cell")).sortWithinPartitions("cell")
        .persist()
      store.count() // materialize before the clock
      // statePartitions is the builder option now (round 16): the
      // builder pins the cached store layout itself, so there is no
      // conf-ordering dance left to get wrong — only the restore for
      // the batch comparison below
      val savedParts = spark.conf.get("spark.sql.shuffle.partitions")
      val t0 = 1_600_000_000_000_000_000L
      val qs = embQueries(spark, nq)
        .withColumn("ts", lit(t0) + (col("doc_id") - 2_000_000_000L)
          * lit(1_000_000L))
      val flush = embQueries(spark, 1)
        .select(lit(999999999L).as("doc_id"), col("embedding"),
          lit(t0 + 8L * 3600L * 1_000_000_000L).as("ts"))
      val r = replayBench(spark, s"$root/adcstream_${nc}_$nq", qs, flush,
        "ts",
        st => graft.streaming.StreamingSimilarity.ivfAdcStream(
          st, store, "doc_id", "embedding", "ts", coarse, pq,
          nprobe = nprobe, k = 10, statePartitions = streamParts))
      spark.conf.set("spark.sql.shuffle.partitions", savedParts)
      val b0 = System.nanoTime()
      val batchRows = ProductQuantizer.ivfAdcTopKBatch(store, "doc_id",
        coarse, pq, embQueries(spark, nq).select(
          col("doc_id").as("q_id"), col("embedding").as("qv")),
        "q_id", "qv", k = 10, nprobe = nprobe).count()
      val batchS = (System.nanoTime() - b0) / 1e9
      require(r.emitted == batchRows,
        s"stream emitted ${r.emitted} rows, batch derives $batchRows")
      store.unpersist()
      s""","adc_stream":{"corpus":$nc,"queries":$nq,"cells":$cells,""" +
        s""""nprobe":$nprobe,"corpus_tag":"$corpusTag",""" +
        streamParts.map(p => s""""stream_partitions":$p,""").getOrElse("") +
        s""""s":${fmt(r.secs)},""" +
        s""""queries_per_sec":${fmt(nq / r.secs, 0)},"rows":${r.emitted},""" +
        s""""batch_s":${fmt(batchS)},""" +
        s""""batches":${r.batches},"peak_state_rows":${r.peakStateRows}}"""
    }.getOrElse("")

    // BM25 lexical retrieval (env GRAFT_SCALE_BM25=
    // <docs>,<queries>[,<k>[,<maxPostings>]]): the q174/q176 surface
    // at scale. Common terms make the exact postings traversal the
    // cost axis (Σ df over query terms — hundreds of thousands of
    // candidates per query on a web-ish term distribution; the exact
    // streaming state OOMs an 8 GB heap at 10⁶ docs — measured), so
    // the serving store is IMPACT-TRUNCATED (top-maxPostings contribs
    // per term): batch and stream both serve the SAME truncated store
    // and must agree row-for-row; the exact batch traversal over the
    // full postings is also timed, and truncated-vs-exact top-k
    // overlap is recorded as the trade's recall axis.
    val bm25Json = sys.env.get("GRAFT_SCALE_BM25").map { sN =>
      import graft.operators.Lexical
      val fields = sN.split(",").map(_.trim)
      val parts = fields.takeWhile(f => f.forall(_.isDigit)).map(_.toLong)
      require(parts.length >= 2,
        s"GRAFT_SCALE_BM25='$sN' — expected " +
          "'<docs>,<queries>[,<k>[,<maxPostings>]][,topical|skew][,massX.Y]' " +
          "(the numeric fields come first; flags after)")
      val topical = fields.exists(_ == "topical")
      val skew = fields.exists(_ == "skew")
      // "massX.Y" switches the store to per-term ADAPTIVE truncation
      // (truncateByMass) instead of the fixed top-maxPostings lists
      val massOpt = fields.find(_.startsWith("mass"))
        .map(_.stripPrefix("mass").toDouble)
      val (nd, nq) = (parts(0), parts(1))
      val k = if (parts.length > 2) parts(2).toInt else 10
      val maxPost = if (parts.length > 3) parts(3).toInt else 2048
      val docs =
        if (skew) synthSkewDocs(spark, nd)
        else if (topical) synthTopicalDocs(spark, nd)
        else synthDocs(spark, nd)
      val corpusTag =
        if (skew) "skew" else if (topical) "topical" else "flat"
      val rawDir = s"$root/bm25_docs_${nd}_$corpusTag"
      docs.write.mode("overwrite").parquet(rawDir)
      val d = spark.read.parquet(rawDir)
      val b0 = System.nanoTime()
      val store = (massOpt match {
        case Some(x) =>
          // mass rule UNDER a hard per-term cap: pure mass degenerates
          // on flat-tie terms (keeps mass·df — the 8 GB OOM, measured),
          // so the composition keeps top-min(massCount, maxPost)
          Lexical.truncateByImpact(
            Lexical.truncateByMass(
              Lexical.bm25Store(d, "text", "doc_id"), x), maxPost)
        case None =>
          Lexical.bm25Store(d, "text", "doc_id",
            maxPostingsPerTerm = maxPost)
      })
        .repartition(col("term")).sortWithinPartitions("term")
        .persist()
      val storeRows = store.count()
      val buildS = (System.nanoTime() - b0) / 1e9
      val every = math.max(1L, nd / nq)
      val qs = d.filter(col("doc_id") % every === 0)
        .select(col("doc_id").as("q_id"),
          concat_ws(" ", slice(
            graft.functions.TextFunctions.tokens(col("text")), 1, 3))
            .as("qtext"))
        .persist()
      val nQs = qs.count()
      // exact candidate volume: Σ df over the query term multiset —
      // what the truncation bounds away
      val post = Lexical.postings(d, "text", "doc_id").persist()
      val dfreq = Lexical.docFreq(post).persist()
      val qt = qs.select(col("q_id"), explode(array_distinct(
        graft.functions.TextFunctions.tokens(col("qtext")))).as("term"))
      val cands = qt.join(dfreq, Seq("term"))
        .agg(sum(col("df")).as("c")).head().getLong(0)
      // exact batch traversal (full postings)
      val t1 = System.nanoTime()
      val exact = Lexical.bm25TopKFromStore(post, dfreq,
        Lexical.corpusStats(d, "text"),
        qs, "qtext", "q_id", k = k).persist()
      val exactRows = exact.count()
      val exactS = (System.nanoTime() - t1) / 1e9
      // truncated batch serving off the contrib store
      val t2 = System.nanoTime()
      val trunc = Lexical.bm25TopKFromContribStore(store,
        qs, "qtext", "q_id", k = k).persist()
      val truncRows = trunc.count()
      val truncS = (System.nanoTime() - t2) / 1e9
      val overlap = trunc.select("q_id", "doc_id")
        .intersect(exact.select("q_id", "doc_id")).count()
      val t0ns = 1_600_000_000_000_000_000L
      val sq = qs.withColumn("ts",
        lit(t0ns) + col("q_id") * lit(1_000_000L))
      // flush row scaled FROM the max query timestamp: a fixed t0+8h
      // sits below query timestamps once q_id*1ms crosses 8h (~2.9e7
      // docs), so windows never close and the parity require aborts
      val maxQTsNs = t0ns + nd * 1_000_000L
      val flushTsNs = maxQTsNs + 7L * 3600L * 1_000_000_000L
      val flush = spark.range(1).select(lit(999999999L).as("q_id"),
        lit("zzflushzz").as("qtext"),
        lit(flushTsNs).as("ts"))
      val r = replayBench(spark, s"$root/bm25_stream_${nd}_$nq", sq, flush,
        "ts",
        st => graft.streaming.StreamingLexical.bm25Stream(
          st, store, "q_id", "qtext", "ts", k = k))
      require(r.emitted == truncRows,
        s"stream emitted ${r.emitted} rows, truncated batch $truncRows")
      store.unpersist(); post.unpersist(); dfreq.unpersist()
      exact.unpersist(); trunc.unpersist(); qs.unpersist()
      s""","bm25":{"docs":$nd,"queries":$nQs,"k":$k,""" +
        s""""corpus":"$corpusTag",""" +
        massOpt.map(x => s""""mass":$x,""").getOrElse(
          s""""max_postings":$maxPost,""") +
        s""""store_rows":$storeRows,"build_s":${fmt(buildS)},""" +
        s""""candidates_exact":$cands,""" +
        s""""exact_batch_s":${fmt(exactS)},"exact_rows":$exactRows,""" +
        s""""trunc_batch_s":${fmt(truncS)},"trunc_rows":$truncRows,""" +
        s""""overlap":$overlap,""" +
        s""""stream_s":${fmt(r.secs)},""" +
        s""""batches":${r.batches},"peak_state_rows":${r.peakStateRows}}"""
    }.getOrElse("")

    // BM25F weighted-field retrieval (env GRAFT_SCALE_BM25F=
    // <docs>,<queries>[,<k>]): the q183 surface at scale — title =
    // first 3 tokens (w 2.0), body = the rest (w 1.0). One corpus
    // tokenization feeds multi-field postings, per-field stats,
    // any-field df, and the factored serving join.
    val bm25fJson = sys.env.get("GRAFT_SCALE_BM25F").map { sN =>
      import graft.functions.TextFunctions
      import graft.operators.Lexical
      val parts = sN.split(",").map(_.trim.toLong)
      require(parts.length >= 2,
        s"GRAFT_SCALE_BM25F='$sN' — expected '<docs>,<queries>[,<k>]'")
      val (nd, nq) = (parts(0), parts(1))
      val k = if (parts.length > 2) parts(2).toInt else 10
      val rawDir = s"$root/bm25f_docs_$nd"
      synthDocs(spark, nd).write.mode("overwrite").parquet(rawDir)
      val d = spark.read.parquet(rawDir)
      val fd = d.select(col("doc_id"),
        concat_ws(" ", slice(TextFunctions.tokens(col("text")), 1, 3))
          .as("title"),
        concat_ws(" ", slice(TextFunctions.tokens(col("text")), 4,
          Int.MaxValue)).as("body"))
      val fields = Seq(Lexical.FieldSpec("title", 2.0, 0.75),
        Lexical.FieldSpec("body", 1.0, 0.75))
      val every = math.max(1L, nd / nq)
      val qs = d.filter(col("doc_id") % every === 0)
        .select(col("doc_id").as("q_id"),
          concat_ws(" ", slice(TextFunctions.tokens(col("text")), 1, 3))
            .as("qtext")).persist()
      val nQs = qs.count()
      val t0 = System.nanoTime()
      val rows = Lexical.bm25fTopK(fd, fields, "doc_id",
        qs, "qtext", "q_id", k = k).count()
      val wallS = (System.nanoTime() - t0) / 1e9
      // single-field BM25 on the same corpus/queries — the field
      // machinery's overhead vs the flat fold. Drop the bm25f run's
      // cached postings first: leaving an ~80M-row cache resident
      // starves the control's sort buffers and read 350 s where a
      // clean run reads ~80 s (measured; BASELINE.md "BM25 lexical
      // retrieval" records the attribution A/B — the caches
      // themselves are at parity with the uncached form)
      spark.catalog.clearCache()
      val t1 = System.nanoTime()
      val rows1 = Lexical.bm25TopK(d, "text", "doc_id",
        qs, "qtext", "q_id", k = k).count()
      val flatS = (System.nanoTime() - t1) / 1e9
      qs.unpersist()
      s""","bm25f":{"docs":$nd,"queries":$nQs,"k":$k,""" +
        s""""s":${fmt(wallS)},"rows":$rows,""" +
        s""""flat_s":${fmt(flatS)},"flat_rows":$rows1}"""
    }.getOrElse("")

    // MaxScore dynamic pruning (env GRAFT_SCALE_MAXSCORE=
    // <docs>,<queries>[,<k>[,<m>]]): the q187 surface at scale on a
    // WEB-SHAPED corpus — the tf-skewed synthetic with a stopword
    // layer on top ("the" in ~95% of docs, "of" in ~60%), so a
    // first-tokens query carries stopword-df terms and the exact
    // traversal's fold input is dominated by them (Σ df ≈ 1.5 M rows
    // per query at 10⁶ docs — the geometry dynamic pruning exists
    // for; the plain skew corpus tops out at df ≈ 6 % of N and showed
    // only 2× fold reduction with the θ-phase overhead eating it).
    // Claims under test: (1) the pruned top-k is IDENTICAL to the
    // full traversal (asserted row-for-row), and (2) the fold input
    // collapses to the essential (rare-term) slice, with the wall
    // following it.
    val maxScoreJson = sys.env.get("GRAFT_SCALE_MAXSCORE").map { sN =>
      import graft.operators.Lexical
      val parts = sN.split(",").map(_.trim.toLong)
      require(parts.length >= 2,
        s"GRAFT_SCALE_MAXSCORE='$sN' — expected '<docs>,<queries>[,<k>[,<m>]]'")
      val (nd, nq) = (parts(0), parts(1))
      val k = if (parts.length > 2) parts(2).toInt else 10
      val m = if (parts.length > 3) parts(3).toInt else 64
      val rawDir = s"$root/maxscore_docs_$nd"
      synthSkewDocs(spark, nd).select(col("doc_id"),
        concat_ws(" ",
          when(pmod(xxhash64(lit("st1"), col("doc_id")), lit(100L)) < 95,
            lit("the")),
          when(pmod(xxhash64(lit("st2"), col("doc_id")), lit(100L)) < 60,
            lit("of")),
          col("text")).as("text"))
        .write.mode("overwrite").parquet(rawDir)
      val d = spark.read.parquet(rawDir)
      val b0 = System.nanoTime()
      val store = Lexical.bm25Store(d, "text", "doc_id")
        .repartition(col("term")).sortWithinPartitions("term").persist()
      val storeRows = store.count()
      val trunc = Lexical.truncateByImpact(store, m)
        .repartition(col("term")).sortWithinPartitions("term").persist()
      val truncRows = trunc.count()
      val buildS = (System.nanoTime() - b0) / 1e9
      val every = math.max(1L, nd / nq)
      val qs = d.filter(col("doc_id") % every === 0)
        .select(col("doc_id").as("q_id"),
          concat_ws(" ", slice(
            graft.functions.TextFunctions.tokens(col("text")), 1, 3))
            .as("qtext")).persist()
      val nQs = qs.count()
      // full traversal off the same exact store
      val t1 = System.nanoTime()
      val exact = Lexical.bm25TopKFromContribStore(store,
        qs, "qtext", "q_id", k = k).persist()
      val exactRows = exact.count()
      val exactS = (System.nanoTime() - t1) / 1e9
      // pruned
      val t2 = System.nanoTime()
      val pruned = Lexical.bm25TopKMaxScore(store, trunc,
        qs, "qtext", "q_id", k = k).persist()
      val prunedRows = pruned.count()
      val prunedS = (System.nanoTime() - t2) / 1e9
      // EXACTNESS IS THE CONTRACT: identical row sets, scores included
      val agree = pruned.intersect(exact).count()
      require(agree == exactRows && prunedRows == exactRows,
        s"MaxScore diverged from the exact traversal: " +
          s"$agree/$exactRows/$prunedRows")
      val (foldPruned, foldFull) = Lexical.maxScoreFoldStats(store, trunc,
        qs, "qtext", "q_id", k = k)
      store.unpersist(); trunc.unpersist()
      exact.unpersist(); pruned.unpersist(); qs.unpersist()
      s""","maxscore":{"docs":$nd,"queries":$nQs,"k":$k,"m":$m,""" +
        s""""store_rows":$storeRows,"trunc_rows":$truncRows,""" +
        s""""build_s":${fmt(buildS)},""" +
        s""""exact_s":${fmt(exactS)},"pruned_s":${fmt(prunedS)},""" +
        s""""fold_rows_full":$foldFull,"fold_rows_pruned":$foldPruned,""" +
        s""""fold_reduction_x":${fmt(foldFull.toDouble /
          math.max(1L, foldPruned).toDouble)}}"""
    }.getOrElse("")

    // Reference-shaped WaveBank workloads (env GRAFT_SCALE_WAVEBANK=
    // <hours>[,<chans>[,<hz>[,<mseed01>]]]): the reference's OWN
    // profiling workloads (profile_wavebank.ipynb — all its %timeit
    // outputs are cleared, so these are the first recorded numbers for
    // the workload DEFINITIONS it ships):
    //   1. archive write (putWaveforms: segments + index),
    //   2. index rebuild from files (update_index on a cold index —
    //      the "4000 files × 3 traces" cell; mseed01=1 runs it over
    //      real mseed segments with the header-only V2 scan),
    //   3. chunked delivery (yield_waveforms duration=3600 s,
    //      overlap=2 s over 96 h),
    //   4. windowed read latency (get_waveforms of a 2 h window),
    //   5. the sparse sweep (one 15 s request per hour across the
    //      whole archive, as ONE bulk interval join — the set-based
    //      answer to the notebook's scalar get_waveforms loop).
    val waveBankJson = sys.env.get("GRAFT_SCALE_WAVEBANK").map { sN =>
      import graft.bank.WaveBank
      val parts = sN.split(",").map(_.trim.toLong)
      val hours = parts(0)
      val chans = if (parts.length > 1) parts(1).toInt else 3
      val hz = if (parts.length > 2) parts(2).toInt else 10
      val segFmt = if (parts.length > 3 && parts(3) == 1L) "mseed"
                   else "parquet"
      val spNs = 1_000_000_000L / hz
      val nSamp = 3600 * hz
      val bankRoot = s"$root/wavebank_${hours}_$segFmt"
      org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration).delete(
        new org.apache.hadoop.fs.Path(bankRoot), true)
      val segs = spark.range(hours).select(col("id").as("h"))
        .crossJoin(spark.range(chans).select(col("id").as("c")))
        .select(lit("N1").as("network"), lit("S1").as("station"),
          lit("").as("location"),
          concat(lit("HH"), col("c")).as("channel"),
          (col("h") * lit(3_600_000_000_000L)).as("starttime"),
          lit(spNs).as("sampling_period"),
          transform(sequence(lit(1), lit(nSamp)),
            i => (i % 100).cast("double")).as("samples"))
      val bank = new WaveBank(spark, bankRoot, segmentFormat = segFmt)
      val t0 = System.nanoTime()
      bank.putWaveforms(segs)
      val putS = (System.nanoTime() - t0) / 1e9
      val idxRows = bank.readIndex().count()
      // cold index rebuild from the archived files (update_index)
      org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration).delete(
        new org.apache.hadoop.fs.Path(bank.indexPath), true)
      val bank2 = new WaveBank(spark, bankRoot, segmentFormat = segFmt)
      val t1 = System.nanoTime()
      bank2.updateIndex()
      val indexS = (System.nanoTime() - t1) / 1e9
      require(bank2.readIndex().count() == idxRows,
        "cold index rebuild changed row count")
      // chunked delivery over 96 h (duration 3600 s, overlap 2 s):
      // chunk × index join, then the bulk read + trim + stitch
      val h96 = math.min(96L, hours) * 3_600_000_000_000L
      val t2 = System.nanoTime()
      val chunks = bank2.yieldWaveforms(0L, h96,
        3_600_000_000_000L, 2_000_000_000L)
      val chunkRows = chunks.count()
      val yieldS = (System.nanoTime() - t2) / 1e9
      // windowed read: one 2 h get_waveforms (stitched samples out)
      val t3 = System.nanoTime()
      val winSamples = bank2.getWaveforms("N1", "S1", "", "HH0",
          0L, 7_200_000_000_000L)
        .agg(coalesce(sum(size(col("samples"))), lit(0))).head().getLong(0)
      val windowS = (System.nanoTime() - t3) / 1e9
      // sparse sweep: one 15 s request per hour, whole archive, as ONE
      // bulk interval join + read
      import spark.implicits._
      val reqs = spark.range(hours).select(
        lit("N1.S1..HH0").as("seed_id"),
        (col("id") * lit(3_600_000_000_000L)).as("t1"),
        (col("id") * lit(3_600_000_000_000L) + lit(15_000_000_000L))
          .as("t2"))
      val t4 = System.nanoTime()
      val sweepRows = bank2.getWaveformsBulk(reqs).count()
      val sweepS = (System.nanoTime() - t4) / 1e9
      s""","wavebank":{"hours":$hours,"chans":$chans,"hz":$hz,""" +
        s""""format":"$segFmt","index_rows":$idxRows,""" +
        s""""put_s":${fmt(putS)},"index_build_s":${fmt(indexS)},""" +
        s""""yield_chunk_rows":$chunkRows,"yield_s":${fmt(yieldS)},""" +
        s""""window_read_s":${fmt(windowS)},""" +
        s""""window_samples":$winSamples,""" +
        s""""sweep_requests":$hours,"sweep_rows":$sweepRows,""" +
        s""""sweep_s":${fmt(sweepS)}}"""
    }.getOrElse("")

    // MaxScore-pruned STREAMING lexical serving (env
    // GRAFT_SCALE_MSSTREAM=<docs>,<queries>[,<k>[,<m>]]): the q195
    // surface at the geometry that OOM'd the UNPRUNED stream — 10³
    // stopword-laden queries landing in ONE AvailableNow trigger blew
    // a 28 GiB heap in round 16 because bm25Stream's first fold holds
    // Σ df state rows (BASELINE "Streaming hybrid fusion"). The pruned
    // stream's state is the truncation probe (m-bounded) plus
    // Σ_essential df. Claims under test: (1) stream rows ≡ the batch
    // full traversal (asserted), (2) the max stateful-operator row
    // count is a fraction of Σ df, recorded alongside the wall.
    val msStreamJson = sys.env.get("GRAFT_SCALE_MSSTREAM").map { sN =>
      import graft.functions.TextFunctions
      import graft.operators.Lexical
      import graft.streaming.StreamingLexical
      import org.apache.spark.sql.streaming.Trigger
      val parts = sN.split(",").map(_.trim.toLong)
      require(parts.length >= 2,
        s"GRAFT_SCALE_MSSTREAM='$sN' — expected '<docs>,<queries>[,<k>[,<m>]]'")
      val (nd, nq) = (parts(0), parts(1))
      val k = if (parts.length > 2) parts(2).toInt else 10
      val m = if (parts.length > 3) parts(3).toInt else 64
      val rawDir = s"$root/msstream_docs_$nd"
      synthSkewDocs(spark, nd).select(col("doc_id"),
        concat_ws(" ",
          when(pmod(xxhash64(lit("st1"), col("doc_id")), lit(100L)) < 95,
            lit("the")),
          when(pmod(xxhash64(lit("st2"), col("doc_id")), lit(100L)) < 60,
            lit("of")),
          col("text")).as("text"))
        .write.mode("overwrite").parquet(rawDir)
      val d = spark.read.parquet(rawDir)
      val store = Lexical.bm25Store(d, "text", "doc_id")
        .repartition(col("term")).sortWithinPartitions("term").persist()
      store.count()
      val trunc = Lexical.truncateByImpact(store, m)
        .repartition(col("term")).sortWithinPartitions("term").persist()
      trunc.count()
      val every = math.max(1L, nd / nq)
      val t0ns = 1_600_000_000_000_000_000L
      val qs = d.filter(col("doc_id") % every === 0)
        .select(col("doc_id").as("q_id"),
          concat_ws(" ", slice(TextFunctions.tokens(col("text")), 1, 3))
            .as("qtext")).persist()
      val nQs = qs.count()
      // the full candidate volume the unpruned fold would hold as state
      val qpe = qs.select(col("q_id"),
        explode(TextFunctions.tokens(col("qtext"))).as("term")).distinct()
      val fullVolume = store.join(broadcast(qpe), Seq("term")).count()
      // batch control off the same store
      val t1 = System.nanoTime()
      val batch = Lexical.bm25TopKFromContribStore(store,
        qs, "qtext", "q_id", k = k).persist()
      val batchRows = batch.count()
      val batchS = (System.nanoTime() - t1) / 1e9
      // pruned stream: ALL queries arrive in one drained trigger
      val flush = spark.range(1).select(lit(3_000_000_000L).as("q_id"),
        lit("zzflushzz").as("qtext"),
        lit(t0ns + 8L * 3600L * 1_000_000_000L).as("ts"))
      val qDir = s"$root/msstream_qs_$nd"
      qs.select(col("q_id"), col("qtext"),
          (lit(t0ns) + col("q_id")).as("ts"))
        .unionByName(flush).repartition(8)
        .write.mode("overwrite").parquet(qDir)
      val t2 = System.nanoTime()
      val stream = spark.readStream
        .schema(spark.read.parquet(qDir).schema).parquet(qDir)
      val out = StreamingLexical.bm25StreamMaxScore(stream, store, trunc,
        "q_id", "qtext", "ts", k = k, statePartitions = Some(8))
      val sink = "msstreamscale_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      val q = out.writeStream.format("memory").queryName(sink)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val streamS = (System.nanoTime() - t2) / 1e9
      val maxState = q.recentProgress.toSeq
        .flatMap(_.stateOperators.toSeq.map(_.numRowsTotal))
        .foldLeft(0L)(_ max _)
      val got = spark.table(sink)
        .filter(col("q_id") < 3_000_000_000L)
        .select("q_id", "doc_id", "score", "rank").persist()
      val gotRows = got.count()
      val agree = got.intersect(
        batch.select("q_id", "doc_id", "score", "rank")).count()
      require(agree == batchRows && gotRows == batchRows,
        s"pruned stream diverged from the batch traversal: " +
          s"$agree/$batchRows/$gotRows")
      spark.catalog.dropTempView(sink)
      got.unpersist(); batch.unpersist()
      store.unpersist(); trunc.unpersist(); qs.unpersist()
      s""","msstream":{"docs":$nd,"queries":$nQs,"k":$k,"m":$m,""" +
        s""""full_candidate_rows":$fullVolume,""" +
        s""""max_state_rows":$maxState,""" +
        s""""batch_s":${fmt(batchS)},"stream_s":${fmt(streamS)},""" +
        s""""rows":$gotRows}"""
    }.getOrElse("")

    // Block-max (BMW) pruning (env GRAFT_SCALE_BMW=
    // <docs>,<queries>[,<k>[,<m>[,<blockSize>]]]): the q196 surface at
    // scale on the PLAIN tf-skew corpus — the regime where MaxScore's
    // GLOBAL per-term bounds only bought ~2× (df tops out at ~6 % of
    // N; no stopword layer, so no essential/non-essential cliff).
    // Block-level bounds discriminate where global ones can't: a
    // doc-range block missing one decisive query term loses that
    // term's whole bound, and a block of weak docs dies under its mass
    // ceiling. Claims under test: (1) the pruned top-k is IDENTICAL to
    // the full traversal (asserted row-for-row), (2) the block-level
    // fold reduction beats the MaxScore fold reduction on this corpus.
    val bmwJson = sys.env.get("GRAFT_SCALE_BMW").map { sN =>
      import graft.operators.Lexical
      val parts = sN.split(",").map(_.trim.toLong)
      require(parts.length >= 2,
        s"GRAFT_SCALE_BMW='$sN' — expected " +
          "'<docs>,<queries>[,<k>[,<m>[,<blockSize>]]]'")
      val (nd, nq) = (parts(0), parts(1))
      val k = if (parts.length > 2) parts(2).toInt else 10
      val m = if (parts.length > 3) parts(3).toInt else 64
      val bs = if (parts.length > 4) parts(4).toInt else 64
      val rawDir = s"$root/bmw_docs_$nd"
      synthSkewDocs(spark, nd).write.mode("overwrite").parquet(rawDir)
      val d = spark.read.parquet(rawDir)
      val b0 = System.nanoTime()
      val store = Lexical.bm25Store(d, "text", "doc_id")
        .repartition(col("term")).sortWithinPartitions("term").persist()
      val storeRows = store.count()
      val storeB = Lexical.blockMaxAugment(store, bs)
        .repartition(col("term")).sortWithinPartitions("term").persist()
      storeB.count()
      val sidecar = Lexical.blockMaxSidecar(storeB).persist()
      val sidecarRows = sidecar.count()
      val stats = Lexical.blockMaxStats(storeB).persist()
      stats.count()
      val trunc = Lexical.truncateByImpact(store, m)
        .repartition(col("term")).sortWithinPartitions("term").persist()
      trunc.count()
      val buildS = (System.nanoTime() - b0) / 1e9
      val every = math.max(1L, nd / nq)
      val qs = d.filter(col("doc_id") % every === 0)
        .select(col("doc_id").as("q_id"),
          concat_ws(" ", slice(
            graft.functions.TextFunctions.tokens(col("text")), 1, 3))
            .as("qtext")).persist()
      val nQs = qs.count()
      val t1 = System.nanoTime()
      val exact = Lexical.bm25TopKFromContribStore(store,
        qs, "qtext", "q_id", k = k).persist()
      val exactRows = exact.count()
      val exactS = (System.nanoTime() - t1) / 1e9
      val t2 = System.nanoTime()
      val pruned = Lexical.bm25TopKBlockMax(storeB, trunc, sidecar,
        stats, qs, "qtext", "q_id", k = k).persist()
      val prunedRows = pruned.count()
      val prunedS = (System.nanoTime() - t2) / 1e9
      val agree = pruned.intersect(exact).count()
      require(agree == exactRows && prunedRows == exactRows,
        s"BMW diverged from the exact traversal: " +
          s"$agree/$exactRows/$prunedRows")
      val (foldBmw, foldFull) = Lexical.blockMaxFoldStats(storeB, trunc,
        sidecar, stats, qs, "qtext", "q_id", k = k)
      val (foldMs, _) = Lexical.maxScoreFoldStats(store, trunc,
        qs, "qtext", "q_id", k = k)
      store.unpersist(); storeB.unpersist(); sidecar.unpersist()
      stats.unpersist(); trunc.unpersist()
      exact.unpersist(); pruned.unpersist(); qs.unpersist()
      s""","bmw":{"docs":$nd,"queries":$nQs,"k":$k,"m":$m,""" +
        s""""block_size":$bs,"store_rows":$storeRows,""" +
        s""""sidecar_rows":$sidecarRows,"build_s":${fmt(buildS)},""" +
        s""""exact_s":${fmt(exactS)},"pruned_s":${fmt(prunedS)},""" +
        s""""fold_rows_full":$foldFull,"fold_rows_bmw":$foldBmw,""" +
        s""""fold_rows_maxscore":$foldMs,""" +
        s""""fold_reduction_bmw_x":${fmt(foldFull.toDouble /
          math.max(1L, foldBmw).toDouble)},""" +
        s""""fold_reduction_maxscore_x":${fmt(foldFull.toDouble /
          math.max(1L, foldMs).toDouble)}}"""
    }.getOrElse("")

    // BM25F with field-SKEWED lengths (env GRAFT_SCALE_BM25FSKEW=
    // <docs>,<queries>[,<k>]): the q183 surface under the realistic
    // title≪body regime — title length VARIES per doc (1–5 tokens,
    // hash-drawn; avg 3) and body is the remainder (~27–56), so the
    // per-field avgdl normalization actually decides scores (a short
    // title hit saturates far faster than the same tf in the body).
    // Recorded per scale: the field-fold's input volume (Σ packed
    // `entries` — one per (field, term, doc)) and both fields' avgdl;
    // the decade claim is fold input ×10 with the wall following it
    // (shuffle COUNT is fixed by the plan, so linear volume growth is
    // the whole story).
    val bm25fSkewJson = sys.env.get("GRAFT_SCALE_BM25FSKEW").map { sN =>
      import graft.functions.TextFunctions
      import graft.operators.Lexical
      val parts = sN.split(",").map(_.trim.toLong)
      require(parts.length >= 2,
        s"GRAFT_SCALE_BM25FSKEW='$sN' — expected '<docs>,<queries>[,<k>]'")
      val (nd, nq) = (parts(0), parts(1))
      val k = if (parts.length > 2) parts(2).toInt else 10
      val rawDir = s"$root/bm25fskew_docs_$nd"
      synthDocs(spark, nd).write.mode("overwrite").parquet(rawDir)
      val d = spark.read.parquet(rawDir)
      val fd = d
        .select(col("doc_id"),
          (pmod(xxhash64(lit("tl"), col("doc_id")), lit(5L)) + 1L)
            .cast("int").as("_tl"),
          TextFunctions.tokens(col("text")).as("_toks"))
        .select(col("doc_id"),
          concat_ws(" ", slice(col("_toks"), lit(1), col("_tl")))
            .as("title"),
          concat_ws(" ", slice(col("_toks"), col("_tl") + 1,
            size(col("_toks")))).as("body"))
      val fields = Seq(Lexical.FieldSpec("title", 2.0, 0.75),
        Lexical.FieldSpec("body", 1.0, 0.75))
      val every = math.max(1L, nd / nq)
      val qs = d.filter(col("doc_id") % every === 0)
        .select(col("doc_id").as("q_id"),
          concat_ws(" ", slice(TextFunctions.tokens(col("text")), 1, 3))
            .as("qtext")).persist()
      val nQs = qs.count()
      val t0 = System.nanoTime()
      val rows = Lexical.bm25fTopK(fd, fields, "doc_id",
        qs, "qtext", "q_id", k = k).count()
      val wallS = (System.nanoTime() - t0) / 1e9
      // fold input volume (one (field, term, doc) entry per field a
      // term occurs in) + the skew itself, off one packed build
      val pf = Lexical.postingsFieldsPacked(fd, fields, "doc_id").persist()
      val foldRows = pf.agg(sum(size(col("entries")).cast("long")))
        .head().getLong(0)
      val avg = Lexical.fieldStatsFromPacked(pf)
        .orderBy("field").collect()
      pf.unpersist()
      qs.unpersist()
      spark.catalog.clearCache()
      s""","bm25fskew":{"docs":$nd,"queries":$nQs,"k":$k,""" +
        s""""s":${fmt(wallS)},"rows":$rows,"fold_rows":$foldRows,""" +
        s""""title_avgdl":${fmt(avg(0).getDouble(2))},""" +
        s""""body_avgdl":${fmt(avg(1).getDouble(2))}}"""
    }.getOrElse("")

    // Phrase top-k over positional postings (env GRAFT_SCALE_PHRASE=
    // <docs>,<queries>[,<k>]): the q190 surface at scale — bigram
    // phrases (tokens 1–2 of every nd/nq-th doc) against the
    // positional store. Recorded: the positional store build (the
    // positions arrays are the standard index overhead — row count
    // matches the flat store, each row fatter by tf ints), the
    // adjacency candidate volume (positions exploded across the
    // phrase's terms' postings — the positional-traversal cost and the
    // anchor fold's shuffle input), and the serve wall.
    val phraseJson = sys.env.get("GRAFT_SCALE_PHRASE").map { sN =>
      import graft.functions.TextFunctions
      import graft.operators.Lexical
      val parts = sN.split(",").map(_.trim.toLong)
      require(parts.length >= 2,
        s"GRAFT_SCALE_PHRASE='$sN' — expected '<docs>,<queries>[,<k>[,<diag01>]]'")
      val (nd, nq) = (parts(0), parts(1))
      val k = if (parts.length > 2) parts(2).toInt else 10
      // the candidate-volume diagnostics persist the matched frame and
      // run a window over it — at 10⁷ docs that DIAGNOSTIC (1.7 B
      // exploded rows, a 260 M-row window sort) filled the scratch disk
      // while the serve itself fit; skippable where only the serve row
      // is wanted (volumes are Σ df — provably linear in docs)
      val diag = parts.length <= 3 || parts(3) == 1L
      val rawDir = s"$root/phrase_docs_$nd"
      synthDocs(spark, nd).write.mode("overwrite").parquet(rawDir)
      val d = spark.read.parquet(rawDir)
      val b0 = System.nanoTime()
      val post = Lexical.postingsPositional(d, "text", "doc_id")
        .repartition(col("term")).sortWithinPartitions("term").persist()
      val postRows = post.count()
      val buildS = (System.nanoTime() - b0) / 1e9
      val every = math.max(1L, nd / nq)
      val qs = d.filter(col("doc_id") % every === 0)
        .select(col("doc_id").as("q_id"),
          concat_ws(" ", slice(TextFunctions.tokens(col("text")), 1, 2))
            .as("qtext")).persist()
      val nQs = qs.count()
      val t1 = System.nanoTime()
      val rows = Lexical.phraseTopKFromPostings(post,
        qs, "qtext", "q_id", k = k).count()
      val serveS = (System.nanoTime() - t1) / 1e9
      // adjacency candidate volume: positions exploded over the phrase
      // terms' postings — the NAIVE anchor-fold input (cand_rows_all) —
      // vs the document-at-a-time intersected slice the operator
      // actually explodes (cand_rows: docs containing every phrase
      // position's term)
      val (candAll, candPruned) = if (diag) {
        val qpe = qs.select(col("q_id"),
          posexplode(TextFunctions.tokens(col("qtext")))
            .as(Seq("j0", "term")))
        val matched = post.join(broadcast(qpe), Seq("term")).persist()
        val all = matched
          .select(col("q_id"), col("doc_id"),
            explode(col("positions")).as("pos"))
          .count()
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("q_id", "doc_id")
        val pruned = matched
          .withColumn("nterms", size(collect_set(col("j0")).over(w)))
          .filter(col("nterms") === 2)
          .select(col("q_id"), col("doc_id"),
            explode(col("positions")).as("pos"))
          .count()
        matched.unpersist()
        (all, pruned)
      } else (-1L, -1L)
      post.unpersist(); qs.unpersist()
      // diag-off runs OMIT the candidate keys (no -1 sentinels)
      val diagKeys = if (diag)
        s""""cand_rows_all":$candAll,"cand_rows":$candPruned,""" else ""
      s""","phrase":{"docs":$nd,"queries":$nQs,"k":$k,""" +
        s""""post_rows":$postRows,"build_s":${fmt(buildS)},""" +
        diagKeys +
        s""""serve_s":${fmt(serveS)},"rows":$rows}"""
    }.getOrElse("")

    // SDM proximity ranking (env GRAFT_SCALE_SDM=
    // <docs>,<queries>[,<k>]): the q193 surface at scale — trigram
    // queries (tokens 1–3 of every nd/nq-th doc, two adjacent pairs)
    // against the positional store, vs the plain unigram BM25
    // traversal of the SAME store over the SAME queries as the
    // control. The claim: the pair features (ordered + unordered-8)
    // price in as a bounded multiple of the unigram traversal — the
    // candidate fold carries packed positions instead of tf alone and
    // the pair-df pass adds one query-sized aggregate, but candidate
    // ROW volume is identical (same Σ df), so the wall should track
    // the control, not explode.
    val sdmJson = sys.env.get("GRAFT_SCALE_SDM").map { sN =>
      import graft.functions.TextFunctions
      import graft.operators.Lexical
      val parts = sN.split(",").map(_.trim.toLong)
      require(parts.length >= 2,
        s"GRAFT_SCALE_SDM='$sN' — " +
          "expected '<docs>,<queries>[,<k>[,<n>[,<full01>]]]'")
      val (nd, nq) = (parts(0), parts(1))
      val k = if (parts.length > 2) parts(2).toInt else 10
      val rrN = if (parts.length > 3) parts(3).toInt else 100
      // the full-traversal arm prices pair probes on EVERY candidate —
      // O(Σ df) positional work; skippable at the top scale where the
      // decade claim rides the serving (rerank) arm
      val runFull = parts.length <= 4 || parts(4) == 1L
      val rawDir = s"$root/sdm_docs_$nd"
      synthDocs(spark, nd).write.mode("overwrite").parquet(rawDir)
      val d = spark.read.parquet(rawDir)
      val b0 = System.nanoTime()
      val post = Lexical.postingsPositional(d, "text", "doc_id")
        .repartition(col("term")).sortWithinPartitions("term").persist()
      val postRows = post.count()
      val buildS = (System.nanoTime() - b0) / 1e9
      val every = math.max(1L, nd / nq)
      val qs = d.filter(col("doc_id") % every === 0)
        .select(col("doc_id").as("q_id"),
          concat_ws(" ", slice(TextFunctions.tokens(col("text")), 1, 3))
            .as("qtext")).persist()
      val nQs = qs.count()
      val t1 = System.nanoTime()
      val sdmRows = if (runFull) Lexical.sdmTopKFromPostings(post,
        qs, "qtext", "q_id", k = k).count() else -1L
      val sdmS = if (runFull) (System.nanoTime() - t1) / 1e9 else -1.0
      // rerank arm: pair probes priced only on the unigram top-n
      val tr = System.nanoTime()
      val rrRows = Lexical.sdmTopKFromPostings(post,
        qs, "qtext", "q_id", k = k, rerank = Some(rrN)).count()
      val rrS = (System.nanoTime() - tr) / 1e9
      // unigram control: the flat BM25 traversal over the same store
      // (the positional frame carries tf/dl, so the flat path reads it
      // directly), same queries, same k
      val dfreq = Lexical.docFreq(post).persist()
      dfreq.count()
      val stats = Lexical.corpusStatsFromPostings(post).persist()
      stats.count()
      val t2 = System.nanoTime()
      val uniRows = Lexical.bm25TopKFromStore(post, dfreq, stats,
        qs, "qtext", "q_id", k = k).count()
      val uniS = (System.nanoTime() - t2) / 1e9
      // candidate volume: Σ df over the query's terms — the packed
      // fold's input rows (identical for SDM and the control)
      val qpe = qs.select(col("q_id"),
        explode(TextFunctions.tokens(col("qtext"))).as("term"))
      val candRows = post.join(broadcast(qpe), Seq("term")).count()
      post.unpersist(); qs.unpersist()
      dfreq.unpersist(); stats.unpersist()
      // skipped arms OMIT their keys (no -1 sentinels a ratio/plot
      // reader could mistake for measurements)
      val fullKeys = if (runFull)
        s""""sdm_s":${fmt(sdmS)},"sdm_rows":$sdmRows,""" else ""
      s""","sdm":{"docs":$nd,"queries":$nQs,"k":$k,"rerank_n":$rrN,""" +
        s""""post_rows":$postRows,"build_s":${fmt(buildS)},""" +
        s""""cand_rows":$candRows,""" + fullKeys +
        s""""rerank_s":${fmt(rrS)},""" +
        s""""rerank_rows":$rrRows,"uni_s":${fmt(uniS)},""" +
        s""""uni_rows":$uniRows}"""
    }.getOrElse("")

    // Streaming hybrid fusion (env GRAFT_SCALE_HYBRIDSTREAM=
    // <docs>,<queries>[,<k>]): ONE query stream against BOTH serving
    // stores — the BM25 contribution store and the IVF cell index —
    // fused per window with RRF inside one streaming query (q189's
    // four-deep stateful chain), vs the batch fusion of the batch
    // tiers over the SAME stores. Row-identity is asserted (stream ≡
    // batch is the contract, not a sample); the recorded gap is the
    // micro-batch machinery cost on top of two tier probes whose
    // plans the stream shares with batch.
    val hybridStreamJson = sys.env.get("GRAFT_SCALE_HYBRIDSTREAM").map { sN =>
      import graft.functions.TextFunctions
      import graft.operators.{Lexical, Similarity}
      import graft.streaming.{StreamingHybrid, StreamingSimilarity}
      import org.apache.spark.sql.streaming.Trigger
      val parts = sN.split(",").map(_.trim.toLong)
      require(parts.length >= 2,
        s"GRAFT_SCALE_HYBRIDSTREAM='$sN' — expected " +
          "'<docs>,<queries>[,<k>[,<pruned01>[,<m>]]]'")
      val (nd, nq) = (parts(0), parts(1))
      val k = if (parts.length > 2) parts(2).toInt else 10
      // pruned01=1: the lexical tier rides MaxScore pruning (truncated
      // store passed through) — per-trigger state Σ_essential df, the
      // closure of round 16's 28 GiB OOM at 10³ queries/trigger
      val pruned = parts.length > 3 && parts(3) == 1L
      val m = if (parts.length > 4) parts(4).toInt else 64
      val nCells = 64
      val nProbe = 4
      val docsDir = s"$root/hybrid_docs_$nd"
      val vecsDir = s"$root/hybrid_vecs_$nd"
      synthDocs(spark, nd).write.mode("overwrite").parquet(docsDir)
      val (vraw, corpusTag) = embCorpus(spark, nd)
      vraw.write.mode("overwrite").parquet(vecsDir)
      val d = spark.read.parquet(docsDir)
      val v = spark.read.parquet(vecsDir)
      val b0 = System.nanoTime()
      val store = Lexical.bm25Store(d, "text", "doc_id")
        .repartition(col("term")).sortWithinPartitions("term").persist()
      store.count()
      val trunc = if (pruned) {
        val t = Lexical.truncateByImpact(store, m)
          .repartition(col("term")).sortWithinPartitions("term").persist()
        t.count(); Some(t)
      } else None
      val index = StreamingSimilarity.ivfIndex(
        v, "doc_id", "embedding", nCells)
      index.cells.persist().count()
      val buildS = (System.nanoTime() - b0) / 1e9
      val every = math.max(1L, nd / nq)
      val t0ns = 1_600_000_000_000_000_000L
      val qs = d.filter(col("doc_id") % every === 0)
        .select(col("doc_id").as("q_id"),
          concat_ws(" ", slice(TextFunctions.tokens(col("text")), 1, 3))
            .as("qtext"))
        .join(v.select(col("doc_id").as("q_id"),
          col("embedding").as("q_vec")), Seq("q_id"))
        .select(col("q_id"), col("qtext"), col("q_vec"),
          (lit(t0ns) + col("q_id")).as("ts")).persist()
      val nQs = qs.count()
      // batch control: fusion of the batch tiers off the same stores
      val t1 = System.nanoTime()
      val lex = Lexical.bm25TopKFromContribStore(store,
          qs, "qtext", "q_id", k = k)
        .select("q_id", "doc_id", "rank")
      val den = Similarity.ivfTopKWith(v,
          qs.select(col("q_id").as("doc_id"), col("q_vec").as("embedding")),
          "doc_id", "embedding", index.centroids, nProbe, k)
        .select(col("q_id"), col("neighbor_id").as("doc_id"), col("rank"))
      val batch = Lexical.rrfFuse(Seq(lex, den), k = k).persist()
      val batchRows = batch.count()
      val batchS = (System.nanoTime() - t1) / 1e9
      // stream: same queries arrive as files, AvailableNow to drain
      val flushVec = v.orderBy("doc_id")
        .select("embedding").head().getSeq[Float](0)
      val flush = spark.range(1).select(lit(3_000_000_000L).as("q_id"),
        lit("zzflushzz").as("qtext"), typedLit(flushVec).as("q_vec"),
        lit(t0ns + 8L * 3600L * 1_000_000_000L).as("ts"))
      val qDir = s"$root/hybrid_qs_$nd"
      qs.unionByName(flush).repartition(8)
        .write.mode("overwrite").parquet(qDir)
      val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
      val t2 = System.nanoTime()
      val stream = spark.readStream
        .schema(spark.read.parquet(qDir).schema).parquet(qDir)
      val out = StreamingHybrid.rrfStream(stream, store, index,
        "q_id", "qtext", "q_vec", "ts", nProbe, kTier = k, k = k,
        statePartitions = Some(4), truncated = trunc)
      val sink = "hybridscale_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      val q = out.writeStream.format("memory").queryName(sink)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val streamS = (System.nanoTime() - t2) / 1e9
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      val got = spark.table(sink)
        .filter(col("q_id") < 3_000_000_000L)
        .select("q_id", "doc_id", "rrf", "rank").persist()
      val gotRows = got.count()
      val agree = got.intersect(batch).count()
      require(agree == batchRows && gotRows == batchRows,
        s"hybrid stream diverged from batch fusion: " +
          s"$agree/$batchRows/$gotRows")
      spark.catalog.dropTempView(sink)
      got.unpersist(); batch.unpersist()
      store.unpersist(); trunc.foreach(_.unpersist())
      index.cells.unpersist(); qs.unpersist()
      s""","hybridstream":{"docs":$nd,"queries":$nQs,"k":$k,""" +
        s""""cells":$nCells,"nprobe":$nProbe,"corpus_tag":"$corpusTag",""" +
        s""""pruned":${if (pruned) 1 else 0},""" +
        s""""build_s":${fmt(buildS)},"batch_s":${fmt(batchS)},""" +
        s""""stream_s":${fmt(streamS)},"rows":$gotRows}"""
    }.getOrElse("")

    // Factored lexical generation refresh (env GRAFT_SCALE_LEXGEN=
    // <docs>,<arrivalPermille>): the q182 loop at scale — the claim
    // under test is that the DELTA path's wall is ARRIVAL-sized where
    // the monolithic rebuild is corpus-sized. Bootstrap, full factored
    // build (timed), append arrivals, delta refresh (timed), plus the
    // monolithic buildGeneration wall on the same store for reference.
    val lexGenJson = sys.env.get("GRAFT_SCALE_LEXGEN").map { sN =>
      import graft.bank.TxTable
      import graft.streaming.{AnnGenerations, StreamingLexicalIndex => Idx}
      val parts = sN.split(",").map(_.trim.toLong)
      require(parts.length >= 2,
        s"GRAFT_SCALE_LEXGEN='$sN' — expected '<docs>,<arrivalPermille>'")
      val (nd, permille) = (parts(0), parts(1))
      val rawDir = s"$root/lexgen_docs_$nd"
      synthDocs(spark, nd).write.mode("overwrite").parquet(rawDir)
      val d = spark.read.parquet(rawDir)
      val base = d.filter(pmod(col("doc_id"), lit(1000L)) >= permille)
      val arrivals = d.filter(pmod(col("doc_id"), lit(1000L)) < permille)
      val root2 = s"$root/lexgen_store_$nd"
      org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration).delete(
        new org.apache.hadoop.fs.Path(root2), true)
      val postTx = new TxTable(spark, s"$root2/post")
      val statsTx = new TxTable(spark, s"$root2/stats")
      val satTx = new TxTable(spark, s"$root2/sat")
      val gens = new AnnGenerations(spark, s"$root2/fgens")
      Idx.bootstrap(base, "doc_id", "text", postTx, statsTx)
      val b0 = System.nanoTime()
      Idx.buildFactoredGeneration(gens, postTx, statsTx, satTx)
      val fullS = (System.nanoTime() - b0) / 1e9
      // arrivals land through the maintainer contract (one commit here)
      postTx.appendOnce(graft.operators.Lexical
        .postings(arrivals, "text", "doc_id").sort("term"), "lexgen-arr")
      statsTx.appendOnce(
        arrivals.select(size(split(trim(col("text")), "\\s+"))
            .cast("long").as("dl"))
          .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
          .withColumn("src_tag", lit("lexgen-arr")),
        "lexgen-arr-stats")
      val r0 = System.nanoTime()
      val refreshed = Idx.refreshFactored(gens, postTx, statsTx, satTx,
        nThresholdPermille = math.max(1L, permille / 2))
      val deltaS = (System.nanoTime() - r0) / 1e9
      require(refreshed.isInstanceOf[Idx.FactoredDelta],
        s"expected the delta path: $refreshed")
      // reference: the monolithic corpus-sized rebuild on the same
      // maintained postings
      val mgens = new AnnGenerations(spark, s"$root2/mgens")
      val m0 = System.nanoTime()
      Idx.buildGeneration(mgens, postTx, statsTx)
      val monoS = (System.nanoTime() - m0) / 1e9
      s""","lexgen":{"docs":$nd,"arrival_permille":$permille,""" +
        s""""full_factored_build_s":${fmt(fullS)},""" +
        s""""delta_refresh_s":${fmt(deltaS)},""" +
        s""""monolithic_rebuild_s":${fmt(monoS)},""" +
        s""""speedup_vs_monolithic":${fmt(monoS / deltaS, 1)}}"""
    }.getOrElse("")

    // Lexical store compaction (env GRAFT_SCALE_LEXCOMPACT=
    // <docs>,<batches>): the q172 ANN contract applied to the postings
    // store — a long-lived store accumulates one term-sorted file set
    // PER BATCH, so every batch overlaps every term range and a
    // query's `term IN (...)` prunes nothing at the FILE level (only
    // row groups); compact(sort by term) restores store-wide disjoint
    // term slices. Measures serve wall + file count before/after.

    // Maintained POSITIONAL store lifecycle (env GRAFT_SCALE_POSGEN=
    // <docs>,<batches>): the q197 surface at scale — ingest the corpus
    // through the positional maintainer (exactly-once appendOnce
    // batches), serve exact phrase top-k off the maintained store
    // (term-pruned slice + rollup stats), then compact and re-serve.
    // What this row replaces: the ad-hoc per-call positional build —
    // 288 s with ~50 GB of term-sort spill at 10⁷ docs (BASELINE
    // phrase row) — with a maintained store whose serve cost is the
    // slice, not the build.
    val posGenJson = sys.env.get("GRAFT_SCALE_POSGEN").map { sN =>
      import graft.bank.TxTable
      import graft.functions.TextFunctions
      import graft.streaming.{StreamingLexicalIndex => Idx}
      val parts = sN.split(",").map(_.trim.toLong)
      require(parts.length >= 2,
        s"GRAFT_SCALE_POSGEN='$sN' — expected '<docs>,<batches>'")
      val (nd, nb) = (parts(0), parts(1).toInt)
      val rawDir = s"$root/posgen_docs_$nd"
      synthSkewDocs(spark, nd).select("doc_id", "text")
        .repartition(nb).write.mode("overwrite").parquet(rawDir)
      val root2 = s"$root/posgen_store_$nd"
      org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration).delete(
        new org.apache.hadoop.fs.Path(root2), true)
      val postTx = new TxTable(spark, s"$root2/post")
      val statsTx = new TxTable(spark, s"$root2/stats")
      val i0 = System.nanoTime()
      Idx.runP(spark, rawDir, postTx, statsTx, s"$root2/cp",
        maxFilesPerTrigger = 1).awaitTermination()
      val ingestS = (System.nanoTime() - i0) / 1e9
      val storeRows = postTx.read().count()
      val d = spark.read.parquet(rawDir)
      val every = math.max(1L, nd / 500)
      val qs = d.filter(col("doc_id") % every === 0)
        .select(col("doc_id").as("q_id"),
          concat_ws(" ", slice(TextFunctions.tokens(col("text")), 1, 2))
            .as("qtext")).persist()
      val nQs = qs.count()
      def probe(): (Double, Long) = {
        val t0 = System.nanoTime()
        val n = Idx.servePhrase(postTx, statsTx, qs, "qtext", "q_id",
          k = 10).count()
        ((System.nanoTime() - t0) / 1e9, n)
      }
      probe() // warm
      val (servePre, rowsPre) = probe()
      val filesPre = postTx.snapshot().size
      val c0 = System.nanoTime()
      postTx.compact(Seq("term"))
      val compactS = (System.nanoTime() - c0) / 1e9
      val filesPost = postTx.snapshot().size
      require(postTx.read().count() == storeRows,
        "compact must be content-neutral")
      probe() // warm
      val (servePost, rowsPost) = probe()
      require(rowsPre == rowsPost,
        s"compaction changed served rows: $rowsPre vs $rowsPost")
      qs.unpersist()
      s""","posgen":{"docs":$nd,"batches":$nb,"queries":$nQs,""" +
        s""""store_rows":$storeRows,"ingest_s":${fmt(ingestS)},""" +
        s""""files_pre":$filesPre,"files_post":$filesPost,""" +
        s""""compact_s":${fmt(compactS)},""" +
        s""""serve_pre_s":${fmt(servePre)},""" +
        s""""serve_post_s":${fmt(servePost)},""" +
        s""""serve_rows":$rowsPre}"""
    }.getOrElse("")

    val lexCompactJson = sys.env.get("GRAFT_SCALE_LEXCOMPACT").map { sN =>
      import graft.bank.TxTable
      import graft.functions.TextFunctions
      import graft.streaming.{StreamingLexicalIndex => Idx}
      val parts = sN.split(",").map(_.trim.toLong)
      require(parts.length >= 2,
        s"GRAFT_SCALE_LEXCOMPACT='$sN' — expected '<docs>,<batches>'")
      val (nd, nb) = (parts(0), parts(1).toInt)
      val rawDir = s"$root/lexcompact_docs_$nd"
      synthDocs(spark, nd).select("doc_id", "text")
        .repartition(nb).write.mode("overwrite").parquet(rawDir)
      val root2 = s"$root/lexcompact_store_$nd"
      org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration).delete(
        new org.apache.hadoop.fs.Path(root2), true)
      val postTx = new TxTable(spark, s"$root2/post")
      val statsTx = new TxTable(spark, s"$root2/stats")
      Idx.run(spark, rawDir, postTx, statsTx, s"$root2/cp",
        maxFilesPerTrigger = 1).awaitTermination()
      val d = spark.read.parquet(rawDir)
      val every = math.max(1L, nd / 200)
      val qs = d.filter(col("doc_id") % every === 0)
        .select(col("doc_id").as("q_id"),
          concat_ws(" ", slice(TextFunctions.tokens(col("text")), 1, 3))
            .as("qtext")).persist()
      qs.count()
      val filesPre = postTx.snapshot().size
      val rowsPre = postTx.read().count()
      def probe(): Double = {
        val t0 = System.nanoTime()
        Idx.serve(postTx, statsTx, qs, "qtext", "q_id", k = 10).count()
        (System.nanoTime() - t0) / 1e9
      }
      // the FILE-prune contract needs a NARROW term set (a broad
      // multi-term query batch spans the vocabulary and defeats
      // min/max pruning at any layout): one term's postings scan is
      // the q172-style probe — pre-compact every batch file overlaps
      // every term range, post-compact the term lives in one slice
      def scanProbe(): Double = {
        val t0 = System.nanoTime()
        postTx.read().filter(col("term") === "scan0").count()
        (System.nanoTime() - t0) / 1e9
      }
      probe() // warm
      val probePre = probe()
      scanProbe()
      val scanPre = scanProbe()
      val c0 = System.nanoTime()
      postTx.compact(Seq("term"))
      val compactS = (System.nanoTime() - c0) / 1e9
      val filesPost = postTx.snapshot().size
      require(postTx.read().count() == rowsPre,
        "compact must be content-neutral")
      probe() // warm
      val probePost = probe()
      scanProbe()
      val scanPost = scanProbe()
      qs.unpersist()
      s""","lexcompact":{"docs":$nd,"batches":$nb,""" +
        s""""files_pre":$filesPre,"files_post":$filesPost,""" +
        s""""compact_s":${fmt(compactS)},""" +
        s""""probe_pre_s":${fmt(probePre)},""" +
        s""""probe_post_s":${fmt(probePost)},""" +
        s""""scan_pre_s":${fmt(scanPre)},""" +
        s""""scan_post_s":${fmt(scanPost)}}"""
    }.getOrElse("")

    // k-center coreset (env GRAFT_SCALE_KCENTER=<vecs>,<k>): greedy
    // farthest-point selection at scale — k narrow passes, each a
    // cached-projection scan + TakeOrderedAndProject top-1; the row
    // records per-pass wall (linear in n, flat in k), the coverage
    // radius trajectory (non-increasing), and the final assignment
    // balance.
    val kcenterJson = sys.env.get("GRAFT_SCALE_KCENTER").map { sN =>
      import graft.operators.Coreset
      val parts = sN.split(",").map(_.trim.toLong)
      val (nv, kk) = (parts(0), parts(1).toInt)
      val (corpus, corpusTag) = embCorpus(spark, nv)
      val rawDir = s"$root/kcenter_$nv"
      corpus.write.mode("overwrite").parquet(rawDir)
      val e = spark.read.parquet(rawDir)
      val t0 = System.nanoTime()
      val picks = Coreset.kCenter(e, "doc_id", "embedding", kk)
      val pickS = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val bal = Coreset.assign(e, "doc_id", "embedding", picks)
        .groupBy("iter").agg(count(lit(1)).as("n"))
        .agg(min("n").as("mn"), max("n").as("mx")).head()
      val asgS = (System.nanoTime() - t1) / 1e9
      val radii = picks.drop(1).map(_.radiusSq)
      require(radii.zip(radii.tail).forall { case (a, b) => b <= a },
        "k-center radii must be non-increasing")
      // seeding-quality comparison (the NEXT.md candidate): WCSS after
      // 3 Lloyd iterations from each init — farthest-point picks
      // (derandomized k-means++), the default first-k, and k-means||
      import graft.operators.KMeans
      def wcssOf(init: Seq[Seq[Float]]): Double = {
        val (c, _) = KMeans.fit(e, "doc_id", "embedding",
          k = kk, iters = 3, init = init)
        KMeans.wcss(e, "embedding", c)
      }
      val w0 = System.nanoTime()
      val wKc = wcssOf(picks.map(_.vec))
      val wFirst = wcssOf(Nil)
      val wPar = wcssOf(KMeans.seedParallel(e, "doc_id", "embedding", kk))
      val wcssS = (System.nanoTime() - w0) / 1e9
      s""","kcenter":{"vecs":$nv,"k":$kk,"corpus_tag":"$corpusTag",""" +
        s""""picks":${picks.length},""" +
        s""""select_s":${fmt(pickS)},"per_pass_s":${fmt(pickS / kk)},""" +
        s""""assign_s":${fmt(asgS)},""" +
        s""""radius_first":${fmt(radii.headOption.getOrElse(-1.0))},""" +
        s""""radius_last":${fmt(radii.lastOption.getOrElse(-1.0))},""" +
        s""""min_assigned":${bal.getLong(0)},"max_assigned":${bal.getLong(1)},""" +
        s""""wcss_kcenter_seed":${fmt(wKc)},""" +
        s""""wcss_firstk_seed":${fmt(wFirst)},""" +
        s""""wcss_parallel_seed":${fmt(wPar)},""" +
        s""""wcss_compare_s":${fmt(wcssS)}}"""
    }.getOrElse("")

    // MinHash banding sweep (env GRAFT_SCALE_MINHASH_SWEEP=<docs>):
    // the q67 band-width-sweep methodology applied to the LSH
    // blocking — the SAME k=8 signature sliced as 8×1 / 4×2 / 2×4 /
    // 1×8 (bands × rowsPerBand), measuring per config the candidate
    // volume (the cost driver at scale), the recall of the planted
    // within-group near-dup pairs (21 per synthDocs group: 5 near +
    // 1 exact copies, pairwise Jaccard ~0.7–1.0), the background
    // (out-of-group) candidate fraction, and the wall. The default
    // 4×2 sits on the knee this records.
    val minhashSweepJson = sys.env.get("GRAFT_SCALE_MINHASH_SWEEP").map { sN =>
      import graft.operators.Dedup
      val n = sN.trim.toLong
      val docs = synthDocs(spark, n)
      val sigs = docs
        .withColumn("toks", graft.functions.TextFunctions.tokens(col("text")))
        .select(col("doc_id"), Dedup.intMinhashSignature(
          Dedup.tokenShingleHashes(col("toks")), 8).as("sig"))
        .persist()
      sigs.count()
      val plantedTotal = (n / 8) * 21
      val rows = Seq((8, 1), (4, 2), (2, 4), (1, 8)).map {
        case (bands, rpb) =>
          val s0 = System.nanoTime()
          val pairs = Dedup.candidatePairs(
            Dedup.lshBuckets(sigs, "sig", "doc_id", bands, rpb), "doc_id")
            .persist()
          val cand = pairs.count()
          val planted = pairs
            .filter(expr("a div 8 = b div 8") &&
              pmod(col("a"), lit(8L)) =!= 7 && pmod(col("b"), lit(8L)) =!= 7)
            .count()
          pairs.unpersist()
          val w = (System.nanoTime() - s0) / 1e9
          s"""{"bands":$bands,"rows_per_band":$rpb,"candidates":$cand,""" +
            s""""planted_found":$planted,""" +
            s""""recall":${fmt(planted.toDouble / plantedTotal, 4)},""" +
            s""""background":${cand - planted},"s":${fmt(w)}}"""
      }
      sigs.unpersist()
      s""","minhash_sweep":{"docs":$n,"planted_pairs":$plantedTotal,""" +
        s""""configs":[${rows.mkString(",")}]}"""
    }.getOrElse("")

    // IVF recall study (env GRAFT_SCALE_ANNRECALL="<corpus>,<queries>
    // [,<nCells>,<nProbe>]"): recall@10 of the two IVF codebooks —
    // deterministic first-k seeding vs the Lloyd's-trained cells —
    // against exact brute-force ground truth on the same query set,
    // with probe walls. Quantifies what `ivfIndexTrained` buys at the
    // same serving cost (same cell count, same nProbe, same plan).
    val annRecallJson = sys.env.get("GRAFT_SCALE_ANNRECALL").map { sN =>
      import graft.operators.{KMeans, Similarity}
      val parts = sN.split(",").map(_.trim.toLong)
      val (nc, nq) = (parts(0), parts(1))
      val nCells = if (parts.length > 2) parts(2).toInt else 64
      val nProbe = if (parts.length > 3) parts(3).toInt else 4
      val (corpus0, corpusTag) = embCorpus(spark, nc)
      val corpus = corpus0.persist()
      corpus.count()
      val queries = embQueries(spark, nq)
      def timed[T](f: => T): (T, Double) = {
        val s0 = System.nanoTime(); val v = f
        (v, (System.nanoTime() - s0) / 1e9)
      }
      val (gt, gtS) = timed(Similarity
        .bruteForceTopK(corpus, queries, "doc_id", "embedding", k = 10)
        .select("q_id", "neighbor_id").persist())
      val nGt = gt.count()
      def recall(cents: Seq[Seq[Float]]): (Double, Double) = {
        val (hits, w) = timed {
          val ivf = Similarity.ivfTopKWith(corpus, queries,
            "doc_id", "embedding", cents, nProbe, k = 10)
          gt.join(ivf.select("q_id", "neighbor_id"),
            Seq("q_id", "neighbor_id"), "left_semi").count()
        }
        (hits.toDouble / nGt, w)
      }
      val firstK = Similarity.centroidVectors(
        corpus, "doc_id", "embedding", nCells)
      val (rFirst, wFirst) = recall(firstK)
      val (trained, trainS) = timed(
        KMeans.fit(corpus, "doc_id", "embedding", nCells, iters = 3)._1)
      val (rTrained, wTrained) = recall(trained)
      // k-center-seeded coarse quantizer (round 15 — the q181 WCSS win
      // wired into IVF): greedy farthest-point picks as Lloyd's init,
      // same iteration budget, recall on the same ground truth
      val (kcTrained, kcTrainS) = timed {
        val seeds = graft.operators.Coreset
          .kCenter(corpus, "doc_id", "embedding", nCells).map(_.vec)
        KMeans.fit(corpus, "doc_id", "embedding", nCells, iters = 3,
          init = seeds)._1
      }
      val (rKc, wKc) = recall(kcTrained)
      // k-means|| seeding at the same budget, the third seeding arm
      val (parTrained, parTrainS) = timed {
        val seeds = KMeans.seedParallel(corpus, "doc_id", "embedding",
          nCells)
        KMeans.fit(corpus, "doc_id", "embedding", nCells, iters = 3,
          init = seeds)._1
      }
      val (rPar, wPar) = recall(parTrained)
      // sign-LSH recall on the same ground truth: bits=16 single
      // bucket vs Lv-style multi-probe at nProbe=4 — the classic
      // small-probe regime (the union-leg expansion's plan size grows
      // O(nProbe²) expression nodes, so large probe counts are
      // planning-bound: measured 67 s at nProbe=16 for a 12k-candidate
      // join — IVF's nProbe is the scalable deep-probe knob, LSH
      // multi-probe is the cheap +recall nudge)
      val lshProbe = 4
      def lshRecall(np: Int): (Double, Double) = {
        val (hits, w) = timed {
          val res =
            if (np <= 1) Similarity.lshTopK(corpus, queries,
              "doc_id", "embedding", bits = 16, k = 10)
            else Similarity.lshTopKMultiProbe(corpus, queries,
              "doc_id", "embedding", bits = 16, nProbe = np, k = 10)
          gt.join(res.select("q_id", "neighbor_id"),
            Seq("q_id", "neighbor_id"), "left_semi").count()
        }
        (hits.toDouble / nGt, w)
      }
      val (rLsh1, wLsh1) = lshRecall(1)
      val (rLshP, wLshP) = lshRecall(lshProbe)
      gt.unpersist(); corpus.unpersist()
      s""","ann_recall":{"corpus":$nc,"regime":"$corpusTag",""" +
        s""""queries":$nq,"cells":$nCells,""" +
        s""""probe":$nProbe,"brute_s":${fmt(gtS)},""" +
        s""""recall_firstk":${fmt(rFirst, 4)},"s_firstk":${fmt(wFirst)},""" +
        s""""recall_trained":${fmt(rTrained, 4)},"s_trained":${fmt(wTrained)},""" +
        s""""train_s":${fmt(trainS)},""" +
        s""""recall_kcseed":${fmt(rKc, 4)},"s_kcseed":${fmt(wKc)},""" +
        s""""kcseed_train_s":${fmt(kcTrainS)},""" +
        s""""recall_parseed":${fmt(rPar, 4)},"s_parseed":${fmt(wPar)},""" +
        s""""parseed_train_s":${fmt(parTrainS)},""" +
        s""""recall_lsh1":${fmt(rLsh1, 4)},"s_lsh1":${fmt(wLsh1)},""" +
        s""""recall_lsh_mp$lshProbe":${fmt(rLshP, 4)},"s_lsh_mp":${fmt(wLshP)}}"""
    }.getOrElse("")

    // streaming decontamination throughput (env GRAFT_SCALE_DECONSTREAM
    // =<docs>): the q112 pipeline — synthDocs replayed through the file
    // source, every 97th doc held out as the static eval set (persisted
    // shingle hashes, broadcast per trigger) — docs/sec end to end and
    // the per-contaminated-doc counter state, with the emitted doc set
    // checked against the batch q56 operator.
    val deconStreamJson = sys.env.get("GRAFT_SCALE_DECONSTREAM").map { sN =>
      val n = sN.trim.toLong
      val t0 = 1_600_000_000_000_000_000L
      val docs = synthDocs(spark, n)
      val evalH = graft.streaming.StreamingContamination.evalShingles(
        docs.filter(col("doc_id") % 97 === 0), "text").persist()
      evalH.count() // materialize before the clock starts
      val train = docs.filter(col("doc_id") % 97 =!= 0)
        .select(col("doc_id"), col("text"),
          (lit(t0) + col("doc_id") * lit(1_000_000L)).as("ts"))
      val flush = spark.range(1).select(lit(n + 1).as("doc_id"),
        lit("zz flush doc").as("text"),
        lit(t0 + 8L * 3600L * 1_000_000_000L).as("ts"))
      val r = replayBench(spark, s"$root/deconstream_$n", train, flush,
        "ts",
        st => graft.streaming.StreamingContamination
          .contaminatedStream(st, evalH, "text", "doc_id", "ts"))
      val batchDocs = graft.operators.Contamination.contaminatedDocs(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0),
        "text", "doc_id").count()
      require(r.emitted == batchDocs,
        s"stream flagged ${r.emitted} docs, batch derives $batchDocs")
      evalH.unpersist()
      s""","decon_stream":{"docs":$n,"s":${fmt(r.secs)},""" +
        s""""docs_per_sec":${fmt(n / r.secs, 0)},"flagged":${r.emitted},""" +
        s""""batches":${r.batches},"peak_state_rows":${r.peakStateRows}}"""
    }.getOrElse("")

    // audio fingerprint near-dup (env GRAFT_SCALE_AUDIO=
    // <clips>[:bands:bandBits:maxHamming], default 4:16:3): the q120
    // pipeline — render real 260-sample WAVs (1-in-50 a planted
    // near-duplicate), decode through javax.sound + fingerprint, pair
    // via the shared banded-Hamming blocking — decode+hash throughput,
    // banded candidate volume, found pairs vs planted. Decade-up rule
    // is the image section's: `:2:32:1` coarse banding cuts candidates
    // by 2^16 with pigeonhole recall to Hamming 1 (planted pairs reach
    // Hamming 2, so the planted require is skipped off the default).
    val audioJson = sys.env.get("GRAFT_SCALE_AUDIO").map { sN =>
      import spark.implicits._
      val parts = sN.trim.split(':')
      val n = parts(0).toLong
      val (bands, bandBits, maxHam) =
        if (parts.length >= 4) (parts(1).toInt, parts(2).toInt, parts(3).toInt)
        else (4, 16, 3)
      val wavs = spark.range(n).select(col("id").as("doc_id")).as[Long]
        .mapPartitions(it =>
          it.map(id => (id, graft.queries.AudioQueries.renderWav(id))))
        .toDF("doc_id", "payload")
        .localCheckpoint(true) // isolate render cost from decode cost
      val s0 = System.nanoTime()
      val sigs = graft.multimodal.Multimodal.audioFingerprints(spark, wavs)
        .toDF().localCheckpoint(true)
      val hashSecs = (System.nanoTime() - s0) / 1e9
      val mask = if (bandBits >= 64) -1L else (1L << bandBits) - 1
      val banded = sigs.select(col("doc_id"),
        posexplode(array((0 until bands).map(b =>
          shiftright(col("afp"), b * bandBits).bitwiseAND(lit(mask))): _*))
          .as(Seq("band", "bucket")))
      val cands = banded.groupBy("band", "bucket")
        .agg(count(lit(1)).as("m"))
        .agg(sum(expr("m * (m - 1) div 2")).cast("long")).head().getLong(0)
      val s1 = System.nanoTime()
      val pairs = graft.multimodal.Multimodal.audioNearDupPairs(
        spark, wavs, maxHamming = maxHam, bands = bands,
        bandBits = bandBits).count()
      val pairSecs = (System.nanoTime() - s1) / 1e9
      val planted = if (n > 13) (n - 14) / 50 + 1 else 0 // ids ≡ 13 (mod 50)
      if (bands == 4 && bandBits == 16 && maxHam >= 2)
        require(pairs >= planted, s"found $pairs pairs, planted $planted")
      s""","audio_neardup":{"clips":$n,"bands":$bands,"band_bits":$bandBits,""" +
        s""""max_hamming":$maxHam,"hash_s":${fmt(hashSecs)},""" +
        s""""clips_per_sec":${fmt(n / hashSecs, 0)},"candidates":$cands,""" +
        s""""pairs":$pairs,"planted":$planted,"pair_s":${fmt(pairSecs)}}"""
    }.getOrElse("")

    // video fingerprint near-dup (env GRAFT_SCALE_VIDEO=
    // <vids>[:bands:bandBits:maxHamming], default 4:16:3): the q143
    // pipeline — render 3-frame motion-PNG containers (1-in-40 a
    // planted one-frame-perturbed near-duplicate), split + REAL
    // per-frame javax.imageio decode + dHash-majority fingerprint,
    // pair via the shared banded blocking. The decode is ~3 PNG
    // inflates per video — the heaviest per-row codec in the media
    // stack; vids/sec is the number that matters at 100 TB.
    val videoJson = sys.env.get("GRAFT_SCALE_VIDEO").map { sN =>
      import spark.implicits._
      val parts = sN.trim.split(':')
      val n = parts(0).toLong
      val (bands, bandBits, maxHam) =
        if (parts.length >= 4) (parts(1).toInt, parts(2).toInt, parts(3).toInt)
        else (4, 16, 3)
      val vids = spark.range(n).select(col("id").as("doc_id")).as[Long]
        .mapPartitions { it =>
          javax.imageio.ImageIO.setUseCache(false)
          it.map(id =>
            (id, graft.queries.MultimodalQueries.renderMotionPng(id)))
        }
        .toDF("doc_id", "payload")
        .localCheckpoint(true) // isolate render cost from decode cost
      val s0 = System.nanoTime()
      val sigs = graft.multimodal.Multimodal.videoFingerprints(spark, vids)
        .toDF().localCheckpoint(true)
      val hashSecs = (System.nanoTime() - s0) / 1e9
      val s1 = System.nanoTime()
      val pairs = graft.multimodal.Multimodal.videoNearDupPairs(
        spark, vids, maxHamming = maxHam, bands = bands,
        bandBits = bandBits).count()
      val pairSecs = (System.nanoTime() - s1) / 1e9
      val planted = if (n > 21) (n - 22) / 40 + 1 else 0 // ids ≡ 21 (mod 40)
      if (bands == 4 && bandBits == 16 && maxHam >= 2)
        require(pairs >= planted, s"found $pairs pairs, planted $planted")
      s""","video_neardup":{"vids":$n,"bands":$bands,"band_bits":$bandBits,""" +
        s""""max_hamming":$maxHam,"hash_s":${fmt(hashSecs)},""" +
        s""""vids_per_sec":${fmt(n / hashSecs, 0)},""" +
        s""""pairs":$pairs,"planted":$planted,"pair_s":${fmt(pairSecs)}}"""
    }.getOrElse("")

    // adversarial hot-frame variant (env GRAFT_SCALE_HOTFRAME=<vids>):
    // q146 sharedFramePairs on a corpus where ONE boilerplate intro
    // frame opens EVERY video (the q80 hotspan methodology applied to
    // the frame-containment operator). Without the stop device the
    // intro's group holds n ids and expands n(n-1)/2 pairs in one
    // task; with it the frame is dropped before the group build, so
    // hot must track the no-intro control at ~1x and the planted
    // pair set must come out identical.
    val hotFrameJson = sys.env.get("GRAFT_SCALE_HOTFRAME").map { sN =>
      import spark.implicits._
      val n = sN.trim.toLong
      require(n > 2048, s"hot-frame row needs n > 2*maxFrameDf, got $n")
      // one fixed intro card, rendered once (PNG encode is
      // deterministic for fixed pixels, so every copy is byte-equal)
      val intro: Array[Byte] = {
        val img = new java.awt.image.BufferedImage(9, 8,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        (0 until 8).foreach(y => (0 until 9).foreach(x =>
          img.setRGB(x, y, ((x * 29 + y * 17) % 199) * 0x010101)))
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        bos.toByteArray
      }
      def corpus(hot: Boolean) = {
        val introB = intro
        spark.range(n).select(col("id").as("doc_id")).as[Long]
          .mapPartitions { it =>
            javax.imageio.ImageIO.setUseCache(false)
            it.map { id =>
              val base = graft.queries.MultimodalQueries.renderMotionPng(id)
              val p =
                if (hot) graft.multimodal.Multimodal.encodeMotionPng(
                  introB +: graft.multimodal.Multimodal
                    .decodeMotionPng(base).get)
                else base
              (id, p)
            }
          }.toDF("doc_id", "payload")
      }
      def bench(hot: Boolean, materialize: Boolean): (Double, Long, Long, Long) = {
        val dir = s"$root/hotframe_${hot}_$n"
        corpus(hot).write.mode("overwrite").parquet(dir)
        val acc = spark.sparkContext.longAccumulator(
          s"hotframe-stops-$hot-$materialize")
        val s0 = System.nanoTime()
        val (rows, sum) = runAll(graft.multimodal.Multimodal
          .sharedFramePairs(spark, spark.read.parquet(dir),
            minShared = 2, maxFrameDf = 1024, stopCounter = Some(acc),
            materializeFrames = materialize))
        ((System.nanoTime() - s0) / 1e9, rows, sum, acc.value)
      }
      val (hs, hRows, hSum, hStops) = bench(hot = true, materialize = true)
      val (us, uRows, uSum, uStops) = bench(hot = false, materialize = true)
      // the recompute leg: tiny synthetic frames invert the
      // materialize-vs-recompute economics (BASELINE.md)
      val (hs2, h2Rows, h2Sum, _) = bench(hot = true, materialize = false)
      require(h2Rows == hRows && h2Sum == hSum,
        "materializeFrames changed RESULTS")
      val planted = if (n > 21) (n - 22) / 40 + 1 else 0 // ids ≡ 21 (mod 40)
      require(hRows == uRows && hSum == uSum,
        s"stop device changed RESULTS: hot ($hRows, $hSum) vs control ($uRows, $uSum)")
      require(hRows == planted, s"expected $planted planted pairs, got $hRows")
      require(hStops == 1 && uStops == 0,
        s"expected exactly the intro frame stopped: hot=$hStops control=$uStops")
      s""","hot_frame":{"vids":$n,"hot_s":${fmt(hs)},""" +
        s""""uniform_s":${fmt(us)},"ratio":${fmt(hs / us)},""" +
        s""""hot_recompute_s":${fmt(hs2)},""" +
        s""""pairs":$hRows,"stopped_frames":$hStops}"""
    }.getOrElse("")

    // streaming audio near-dup (env GRAFT_SCALE_AUDIOSTREAM=
    // <clips>[:bands:bandBits:maxHamming], default 4:16:3): the q121
    // pipeline — WAVs replayed through the file source, decoded +
    // fingerprinted on arrival, paired in the shared
    // bandedSigPairStream — clips/sec end to end, peak state, and the
    // emitted pairs checked against the batch operator under the same
    // banding (one window, flush clip closes it). Decade-up config is
    // the image stream's `:2:32:1` coarse banding.
    val audioStreamJson = sys.env.get("GRAFT_SCALE_AUDIOSTREAM").map { sN =>
      import spark.implicits._
      val parts = sN.trim.split(':')
      val n = parts(0).toLong
      val (bands, bandBits, maxHam) =
        if (parts.length >= 4) (parts(1).toInt, parts(2).toInt, parts(3).toInt)
        else (4, 16, 3)
      val t0 = 1_600_000_000_000_000_000L
      def renderAll(): DataFrame = spark.range(n)
        .select(col("id").as("doc_id")).as[Long]
        .mapPartitions(it =>
          it.map(id => (id, graft.queries.AudioQueries.renderWav(id))))
        .toDF("doc_id", "payload")
      // arrival spacing scales with n so the WHOLE replay stays inside
      // one 6 h window — t0 sits 1600 s into its epoch-aligned window,
      // leaving 20,000 s; budget 19,440 s. A fixed 1 ms spacing
      // overruns the window past ~2·10⁷ clips and cross-window pairs
      // are (correctly) never emitted, breaking the stream=batch
      // invariant this section asserts.
      val stepNs = math.max(1L, 19_440_000_000_000L / math.max(n, 1L))
      val wavs = renderAll()
        .withColumn("ts", lit(t0) + col("doc_id") * lit(stepNs))
      val flush = spark.range(1).select(lit(999999999L).as("doc_id"),
        lit(graft.queries.AudioQueries.renderWav(999999999L)).as("payload"),
        lit(t0 + 8L * 3600L * 1_000_000_000L).as("ts"))
      val r = replayBench(spark, s"$root/audiostream_$n", wavs, flush, "ts",
        st => graft.streaming.StreamingDedup.audioNearDupStream(
          st, "doc_id", "payload", "ts", maxHamming = maxHam,
          bands = bands, bandBits = bandBits))
      val batchPairs = graft.multimodal.Multimodal.audioNearDupPairs(
        spark, renderAll(), maxHamming = maxHam,
        bands = bands, bandBits = bandBits).count()
      require(r.emitted == batchPairs,
        s"stream emitted ${r.emitted} pairs, batch derives $batchPairs")
      s""","audio_stream":{"clips":$n,"bands":$bands,"band_bits":$bandBits,""" +
        s""""max_hamming":$maxHam,"s":${fmt(r.secs)},""" +
        s""""clips_per_sec":${fmt(n / r.secs, 0)},"pairs":${r.emitted},""" +
        s""""batches":${r.batches},"peak_state_rows":${r.peakStateRows}}"""
    }.getOrElse("")

    // streaming video near-dup (env GRAFT_SCALE_VIDEOSTREAM=
    // <vids>[:bands:bandBits:maxHamming], default 4:16:3): the q144
    // pipeline — motion-PNG containers replayed through the file
    // source, split + per-frame decoded + majority-fingerprinted on
    // arrival, paired in the shared bandedSigPairStream; emitted pairs
    // checked against the batch operator under the same banding.
    val videoStreamJson = sys.env.get("GRAFT_SCALE_VIDEOSTREAM").map { sN =>
      import spark.implicits._
      val parts = sN.trim.split(':')
      val n = parts(0).toLong
      val (bands, bandBits, maxHam) =
        if (parts.length >= 4) (parts(1).toInt, parts(2).toInt, parts(3).toInt)
        else (4, 16, 3)
      val t0 = 1_600_000_000_000_000_000L
      def renderAll(): DataFrame = spark.range(n)
        .select(col("id").as("doc_id")).as[Long]
        .mapPartitions { it =>
          javax.imageio.ImageIO.setUseCache(false)
          it.map(id =>
            (id, graft.queries.MultimodalQueries.renderMotionPng(id)))
        }
        .toDF("doc_id", "payload")
      // n-scaled arrival spacing: whole replay inside one 6 h window
      // (see the audio stream section's note)
      val stepNs = math.max(1L, 19_440_000_000_000L / math.max(n, 1L))
      val vids = renderAll()
        .withColumn("ts", lit(t0) + col("doc_id") * lit(stepNs))
      val flush = spark.range(1).select(lit(999999999L).as("doc_id"),
        lit(graft.queries.MultimodalQueries.renderMotionPng(999999999L))
          .as("payload"),
        lit(t0 + 8L * 3600L * 1_000_000_000L).as("ts"))
      val r = replayBench(spark, s"$root/videostream_$n", vids, flush, "ts",
        st => graft.streaming.StreamingDedup.videoNearDupStream(
          st, "doc_id", "payload", "ts", maxHamming = maxHam,
          bands = bands, bandBits = bandBits))
      val batchPairs = graft.multimodal.Multimodal.videoNearDupPairs(
        spark, renderAll(), maxHamming = maxHam,
        bands = bands, bandBits = bandBits).count()
      require(r.emitted == batchPairs,
        s"stream emitted ${r.emitted} pairs, batch derives $batchPairs")
      s""","video_stream":{"vids":$n,"bands":$bands,"band_bits":$bandBits,""" +
        s""""max_hamming":$maxHam,"s":${fmt(r.secs)},""" +
        s""""vids_per_sec":${fmt(n / r.secs, 0)},"pairs":${r.emitted},""" +
        s""""batches":${r.batches},"peak_state_rows":${r.peakStateRows}}"""
    }.getOrElse("")

    // STA/LTA detection throughput (env GRAFT_SCALE_DETECT=<traces>):
    // the q131 pipeline — 1024-sample WAV traces (1-in-25 carrying a
    // planted burst), decode + trigger scan fused in one mapPartitions
    // pass — traces/s and SAMPLES/s (the archive-scan rate that
    // matters at 100 TB), with planted recall asserted exact (the
    // detector's zero-background property at these thresholds).
    val detectJson = sys.env.get("GRAFT_SCALE_DETECT").map { sN =>
      import spark.implicits._
      val n = sN.trim.toLong
      val traces = spark.range(n).select(col("id").as("doc_id")).as[Long]
        .mapPartitions(it =>
          it.map(id => (id, graft.queries.AudioQueries.renderTraceWav(id))))
        .toDF("doc_id", "payload")
        .localCheckpoint(true) // isolate render cost from detect cost
      val s0 = System.nanoTime()
      val trig = graft.operators.Triggers.detectTriggers(spark, traces)
        .toDF().localCheckpoint(true)
      val secs = (System.nanoTime() - s0) / 1e9
      val byKind = trig.select("doc_id").distinct()
        .groupBy((col("doc_id") % 25 === 4).as("planted"))
        .count().collect()
        .map(r => r.getBoolean(0) -> r.getLong(1)).toMap
      val hit = byKind.getOrElse(true, 0L)
      val background = byKind.getOrElse(false, 0L)
      val planted = if (n > 4) (n - 5) / 25 + 1 else 0 // ids ≡ 4 (mod 25)
      // a handful of planted bursts land on near-zero background
      // samples (×4 of ~0 stays under threshold) — recall is ~99.9%
      // at 10⁶, not exactly 1; assert the bound, report the exacts
      require(planted == 0 || hit.toDouble / planted >= 0.995,
        s"$hit of $planted planted docs triggered")
      s""","sta_lta_detect":{"traces":$n,"s":${fmt(secs)},""" +
        s""""traces_per_sec":${fmt(n / secs, 0)},""" +
        s""""samples_per_sec":${fmt(n * 1024 / secs, 0)},""" +
        s""""planted_hit":$hit,"planted":$planted,""" +
        s""""background_docs":$background}"""
    }.getOrElse("")

    // KMV sketch vs exact distinct (env GRAFT_SCALE_KMV=
    // <rows>[:k:groups], default 256:32): the 100 TB distinct-count
    // triangle on one frame (`id % (rows/2)` → rows/2 distinct) —
    // exact countDistinct (shuffles every distinct value), builtin HLL
    // (approx_count_distinct, mergeable but opaque and
    // intersection-free), and the KMV sketch (mergeable, k·8 bytes,
    // exact-oracle-checkable, set algebra). Also aggregates per-group
    // sketches and re-sketches their exploded union — the persisted-
    // sketch re-aggregation path (k-min of k-mins = k-min of union) —
    // asserting the union estimate equals the global sketch's.
    val kmvJson = sys.env.get("GRAFT_SCALE_KMV").map { sN =>
      val parts = sN.trim.split(':')
      val n = parts(0).toLong
      val (k, groups) =
        if (parts.length >= 3) (parts(1).toInt, parts(2).toInt) else (256, 32)
      val distinctTrue = n / 2
      // no checkpoint: the frame is pure codegen (range → modulo →
      // xxhash), cheaper to regenerate per measurement than to cache —
      // caching 10⁸ rows starves the hash-agg's execution memory
      // (AGGREGATE_OUT_OF_MEMORY, observed). Every timing includes the
      // identical gen cost; `scan_s` records that floor.
      val df = spark.range(n)
        .select((col("id") % distinctTrue).as("v"),
          (col("id") % groups).as("g"))
        .withColumn("h", graft.operators.Sketches.kmvHash64(col("v")))
      def timed[A](f: => A): (A, Double) = {
        val t = System.nanoTime(); val a = f
        (a, (System.nanoTime() - t) / 1e9)
      }
      val (_, scanS) = timed(df.select(count(lit(1))).head().getLong(0))
      val (exact, exactS) =
        timed(df.select(countDistinct(col("v"))).head().getLong(0))
      val (hll, hllS) = timed(df.select(
        approx_count_distinct(col("v"), rsd = 0.02)).head().getLong(0))
      val (kmvEst, kmvS) = timed(df
        .agg(graft.operators.Sketches.kmvSketch(col("h"), k).as("sk"))
        .select(graft.operators.Sketches.kmvEstimate(col("sk"), k))
        .head().getDouble(0))
      // persisted-sketch path: G per-group sketches, re-sketched
      val (unionEst, unionS) = timed {
        val grouped = df.groupBy("g")
          .agg(graft.operators.Sketches.kmvSketch(col("h"), k).as("sk"))
        grouped.select(explode(col("sk")).as("h"))
          .agg(graft.operators.Sketches.kmvSketch(col("h"), k).as("sk"))
          .select(graft.operators.Sketches.kmvEstimate(col("sk"), k))
          .head().getDouble(0)
      }
      require(unionEst == kmvEst,
        s"re-aggregated union est $unionEst != global sketch est $kmvEst")
      def rel(e: Double) = fmt(math.abs(e - distinctTrue) / distinctTrue, 4)
      s""","kmv_distinct":{"rows":$n,"k":$k,"groups":$groups,""" +
        s""""scan_s":${fmt(scanS)},""" +
        s""""distinct_true":$distinctTrue,"exact":$exact,""" +
        s""""exact_s":${fmt(exactS)},"hll":$hll,"hll_s":${fmt(hllS)},""" +
        s""""kmv_est":${fmt(kmvEst, 1)},"kmv_s":${fmt(kmvS)},""" +
        s""""kmv_rel_err":${rel(kmvEst)},"hll_rel_err":${rel(hll.toDouble)},""" +
        s""""union_est":${fmt(unionEst, 1)},"union_s":${fmt(unionS)}}"""
    }.getOrElse("")

    // priority-sample subset queries (env GRAFT_SCALE_PRIORITY=
    // <rows>[:k:groups]): build per-group weighted samples once (the
    // one pass over the data), persist them, then answer post-hoc
    // SUBSET-SUM questions from the kilobyte samples alone vs
    // recomputing each from the raw frame — the latency asymmetry
    // that justifies the sample at 100 TB (every new question costs a
    // full scan without it). Errors vs exact reported per subset.
    val priorityJson = sys.env.get("GRAFT_SCALE_PRIORITY").map { sN =>
      val parts = sN.trim.split(':')
      val n = parts(0).toLong
      val (k, groups) =
        if (parts.length >= 3) (parts(1).toInt, parts(2).toInt) else (64, 1024)
      // the data lives on DISK (parquet) for both paths — a generated
      // frame would make the raw recompute artificially free (pure
      // codegen, no IO), hiding exactly the asymmetry the sample
      // exists for: at 100 TB "recompute from raw" means re-reading
      // 100 TB, "answer from samples" means reading G·(k+1) rows
      val dataDir = s"$root/priority_data_$n"
      spark.range(n).select(col("id"),
          (col("id") % groups).as("g"),
          (col("id") % 997 + 1).as("w"),
          graft.operators.Sketches.kmvHash64(col("id")).as("h"))
        .write.mode("overwrite").parquet(dataDir)
      val df = spark.read.parquet(dataDir)
      def timed[A](f: => A): (A, Double) = {
        val t = System.nanoTime(); val a = f
        (a, (System.nanoTime() - t) / 1e9)
      }
      val sampleDir = s"$root/priority_$n"
      val (_, buildS) = timed {
        df.groupBy("g")
          .agg(graft.operators.Sketches.prioritySample(
            col("h"), col("w"), col("id"), k).as("smp"))
          .write.mode("overwrite").parquet(sampleDir)
      }
      val samples = spark.read.parquet(sampleDir)
      // three post-hoc subsets by id arithmetic, never seen at build time
      val subsets: Seq[(String, Column => Column)] = Seq(
        ("third", id => id % 3 === 0),
        ("tail", id => id % 10 === 7),
        ("band", id => id % 100 < 25))
      val fromSamples = subsets.map { case (nm, m) =>
        val (v, secs) = timed {
          samples.agg(sum(graft.operators.Sketches
            .prioritySubsetSum(col("smp"), k, m)).as("est"))
            .head().getDouble(0)
        }
        (nm, v, secs)
      }
      val (exacts, rawS) = timed {
        df.agg(
          sum(when(col("id") % 3 === 0, col("w")).otherwise(0L)),
          sum(when(col("id") % 10 === 7, col("w")).otherwise(0L)),
          sum(when(col("id") % 100 < 25, col("w")).otherwise(0L))).head()
      }
      val errs = fromSamples.zipWithIndex.map { case ((nm, v, secs), i) =>
        val exact = exacts.getLong(i).toDouble
        s""""$nm":{"est_s":${fmt(secs)},"rel_err":${
          fmt(math.abs(v - exact) / exact, 4)}}"""
      }
      s""","priority_subsets":{"rows":$n,"k":$k,"groups":$groups,""" +
        s""""build_s":${fmt(buildS)},"raw_3subsets_s":${fmt(rawS)},""" +
        errs.mkString(",") + "}"
    }.getOrElse("")

    // streaming windowed distinct sketch (env GRAFT_SCALE_KMVSTREAM=
    // <rows>[:k]): the q124 pipeline at scale — synthetic events
    // (id → user `id % (rows/20)`, ts spread over 64 six-hour
    // windows) replayed through the file source into the watermarked
    // tumbling sketch aggregation. Rows/sec end to end, peak state
    // (= open windows × one ≤k buffer — the constant-per-window
    // property that makes live distinct viable at any cardinality),
    // emitted windows checked for batch-equal estimates.
    val kmvStreamJson = sys.env.get("GRAFT_SCALE_KMVSTREAM").map { sN =>
      val parts = sN.trim.split(':')
      val n = parts(0).toLong
      val k = if (parts.length >= 2) parts(1).toInt else 64
      val t0 = 1_600_000_000_000_000_000L
      val winNs = 21600L * 1_000_000_000L
      val users = math.max(1L, n / 20)
      val rows = spark.range(n).select(
        (col("id") % users).as("user_id"),
        (lit(t0) + (col("id") % (64 * 21600)) * lit(1_000_000_000L)).as("ts"))
      val flush = spark.range(1).select(lit(-1L).as("user_id"),
        lit(t0 + 100L * 86400L * 1_000_000_000L).as("ts"))
      def agg(st: DataFrame) = st
        .withColumn("tss", timestamp_micros(expr("ts div 1000")))
        .withColumn("h", graft.operators.Sketches.kmvHash64(col("user_id")))
        .withWatermark("tss", "10 seconds")
        .groupBy(window(col("tss"), "6 hours").as("w"))
        .agg(graft.operators.Sketches.kmvSketch(col("h"), k).as("sk"))
        .select(expr("unix_micros(w.start) * 1000").as("window_ns"),
          graft.operators.Sketches.kmvEstimate(col("sk"), k).as("est"))
      val r = replayBench(spark, s"$root/kmvstream_$n", rows, flush, "ts",
        agg)
      // batch cross-check: same windows, same sketch, batch engine
      val batch = rows
        .withColumn("h", graft.operators.Sketches.kmvHash64(col("user_id")))
        .groupBy((col("ts") - ((col("ts") % winNs) + winNs) % winNs)
          .as("window_ns"))
        .agg(graft.operators.Sketches.kmvSketch(col("h"), k).as("sk"))
        .select(col("window_ns"),
          graft.operators.Sketches.kmvEstimate(col("sk"), k).as("est"))
      val nBatch = batch.count()
      require(r.emitted == nBatch,
        s"stream emitted ${r.emitted} windows, batch derives $nBatch")
      s""","kmv_stream":{"rows":$n,"k":$k,"users":$users,""" +
        s""""s":${fmt(r.secs)},"rows_per_sec":${fmt(n / r.secs, 0)},""" +
        s""""windows":${r.emitted},"batches":${r.batches},""" +
        s""""peak_state_rows":${r.peakStateRows}}"""
    }.getOrElse("")

    // Misra–Gries frequent items vs exact groupBy-count top-k (env
    // GRAFT_SCALE_FREQ=<rows>[:k], default 64): skewed item stream —
    // 8 planted heavy hitters carry 40 % of the rows (5 % each), the
    // remaining 60 % spread uniformly over rows/100 distinct tail
    // items — the "top domains/tokens over 100 TB" shape. Exact path
    // shuffles every distinct item twice (partial+final count, then a
    // global top-k sort); the MG path ships ONE ≤k counter array per
    // partition. Above capacity MG counts are merge-tree-dependent, so
    // the assertions are the THEOREMS: no overcount, undercount
    // ≤ (n−ŝ)/(k+1), and every planted heavy (5 % ≫ 1/(k+1)) present.
    val freqJson = sys.env.get("GRAFT_SCALE_FREQ").map { sN =>
      val parts = sN.trim.split(':')
      val n = parts(0).toLong
      val k = if (parts.length >= 2) parts(1).toInt else 64
      val tail = math.max(1L, n / 100)
      val df = spark.range(n).select(
        when(col("id") % 20 < 8, concat(lit("hh"), col("id") % 20))
          .otherwise(concat(lit("t"), col("id") % tail)).as("item"))
      def timed[A](f: => A): (A, Double) = {
        val t = System.nanoTime(); val a = f
        (a, (System.nanoTime() - t) / 1e9)
      }
      val (_, scanS) = timed(df.select(count(lit(1))).head().getLong(0))
      val (exactTop, exactS) = timed {
        df.groupBy("item").agg(count(lit(1)).as("c"))
          .orderBy(col("c").desc, col("item").asc).limit(10).collect()
          .map(r => r.getString(0) -> r.getLong(1))
      }
      val (sk, mgS) = timed {
        df.agg(graft.operators.Sketches.freqSketch(col("item"), k).as("sk"))
          .select(graft.operators.Sketches.freqItems(col("sk")).as("entries"),
            graft.operators.Sketches.freqRetained(col("sk")).as("ret"))
          .head()
      }
      val skMap = sk.getSeq[Row](0)
        .map(e => e.getString(0) -> e.getLong(1)).toMap
      val retained = sk.getLong(1)
      val slack = (n - retained) / (k + 1)
      val heavies = (0 until 8).map(i => s"hh$i")
      heavies.foreach { h =>
        val est = skMap.getOrElse(h,
          sys.error(s"planted heavy $h missing from MG(k=$k) summary"))
        val exact = exactTop.toMap.apply(h)
        require(est <= exact && exact - est <= slack,
          s"$h: est $est vs exact $exact outside [exact-$slack, exact]")
      }
      val maxErr = heavies.map(h => exactTop.toMap.apply(h) - skMap(h)).max
      s""","mg_freq":{"rows":$n,"k":$k,"tail_distinct":$tail,""" +
        s""""scan_s":${fmt(scanS)},"exact_s":${fmt(exactS)},""" +
        s""""mg_s":${fmt(mgS)},"retained":$retained,""" +
        s""""undercount_bound":$slack,"max_heavy_err":$maxErr}"""
    }.getOrElse("")

    // Quantile sketch vs exact percentile vs builtin approx_percentile
    // (env GRAFT_SCALE_QSKETCH=<rows>[:c:groups], default 256:1024):
    // values uniform over 10⁶ distinct via a bijective multiply-mod —
    // exact `percentile` is the full-shuffle reference, builtin
    // approx_percentile the opaque/non-reaggregable middle, the
    // QuantileAgg summary the mergeable path. Also the ROLLUP leg:
    // per-group c-summaries persisted then re-aggregated through
    // QuantileMergeAgg — n conserved exactly, the merged sketch's own
    // tracked rank bound asserted against the exact rank of its p50
    // answer (computed with one extra pass — the cost the sketch
    // avoids at scale).
    val qsketchJson = sys.env.get("GRAFT_SCALE_QSKETCH").map { sN =>
      val parts = sN.trim.split(':')
      val n = parts(0).toLong
      val (c, groups) =
        if (parts.length >= 3) (parts(1).toInt, parts(2).toInt) else (256, 1024)
      val dom = 1000000L
      val df = spark.range(n).select(col("id"),
        ((col("id") * 2654435761L) % dom).as("v"),
        (col("id") % groups).as("g"))
      def timed[A](f: => A): (A, Double) = {
        val t = System.nanoTime(); val a = f
        (a, (System.nanoTime() - t) / 1e9)
      }
      val (_, scanS) = timed(df.select(count(lit(1))).head().getLong(0))
      val (exactQ, exactS) = timed {
        val r = df.select(
          expr("percentile(v, array(0.5, 0.99))").as("p")).head()
        r.getSeq[Double](0)
      }
      val (approxQ, approxS) = timed {
        val r = df.select(
          expr("approx_percentile(v, array(0.5, 0.99), 10000)").as("p"))
          .head()
        r.getSeq[Long](0)
      }
      val (skRow, skS) = timed {
        df.agg(graft.operators.Sketches.quantileSketch(col("v"), c).as("sk"))
          .select(
            graft.operators.Sketches.quantileEstimate(col("sk"), 0.5)
              .as("p50"),
            graft.operators.Sketches.quantileEstimate(col("sk"), 0.99)
              .as("p99"),
            graft.operators.Sketches.quantileN(col("sk")).as("n"),
            graft.operators.Sketches.quantileRankBound(col("sk")).as("rb"))
          .head()
      }
      require(skRow.getLong(2) == n,
        s"sketch n ${skRow.getLong(2)} != $n (weight conservation)")
      // rollup leg: persisted per-group summaries → one merged summary
      val partDir = s"$root/qsketch_$n"
      val (_, buildS) = timed {
        df.groupBy("g")
          .agg(graft.operators.Sketches.quantileSketch(col("v"), c).as("sk"))
          .write.mode("overwrite").parquet(partDir)
      }
      val (merged, mergeS) = timed {
        spark.read.parquet(partDir)
          .agg(graft.operators.Sketches.quantileMerge(col("sk"), c).as("sk"))
          .select(
            graft.operators.Sketches.quantileEstimate(col("sk"), 0.5)
              .as("p50"),
            graft.operators.Sketches.quantileN(col("sk")).as("n"),
            graft.operators.Sketches.quantileRankBound(col("sk")).as("rb"))
          .head()
      }
      require(merged.getLong(1) == n,
        s"rollup n ${merged.getLong(1)} != $n — merge lost weight")
      // the theorem, audited with one extra pass: exact rank of the
      // merged p50 answer within rankBound of the target rank ⌈n/2⌉
      val v50 = merged.getLong(0)
      val rankLe = df.filter(col("v") <= v50).count()
      val rankLt = df.filter(col("v") < v50).count()
      val target = (n + 1) / 2
      val rb = merged.getLong(2)
      require(rankLe >= target - rb && rankLt <= target + rb,
        s"merged p50 $v50: rank_le $rankLe / rank_lt $rankLt vs " +
          s"target $target ± $rb")
      s""","quantile_sketch":{"rows":$n,"c":$c,"groups":$groups,""" +
        s""""scan_s":${fmt(scanS)},"exact_s":${fmt(exactS)},""" +
        s""""approx_s":${fmt(approxS)},"sketch_s":${fmt(skS)},""" +
        s""""p50_exact":${fmt(exactQ(0), 1)},"p99_exact":${fmt(exactQ(1), 1)},""" +
        s""""p50_approx":${approxQ(0)},"p99_approx":${approxQ(1)},""" +
        s""""p50_sketch":${skRow.getLong(0)},"p99_sketch":${skRow.getLong(1)},""" +
        s""""rank_bound":${skRow.getLong(3)},""" +
        s""""rollup_build_s":${fmt(buildS)},"rollup_merge_s":${fmt(mergeS)},""" +
        s""""rollup_p50":$v50,"rollup_rank_bound":$rb}"""
    }.getOrElse("")

    // streaming windowed priority sample (env GRAFT_SCALE_PRIORITYSTREAM=
    // <rows>[:k]): the q128 pipeline at scale — weighted events spread
    // over 64 six-hour windows, replayed through the file source into
    // the watermarked windowed PriorityAgg beside a running exact sum.
    // State per window = one ≤(k+1)-row sample + counters —
    // cardinality-independent like the kmv stream; emitted windows
    // carry live subset-sum estimates whose rel err vs the in-window
    // exact sum is asserted under 5 % and reported at max.
    val priorityStreamJson = sys.env.get("GRAFT_SCALE_PRIORITYSTREAM").map { sN =>
      val parts = sN.trim.split(':')
      val n = parts(0).toLong
      val k = if (parts.length >= 2) parts(1).toInt else 64
      val t0 = 1_600_000_000_000_000_000L
      val rows = spark.range(n).select(col("id"),
        (lit(t0) + (col("id") % (64 * 21600)) * lit(1_000_000_000L)).as("ts"),
        (col("id") % 997 + 1).as("w"),
        graft.operators.Sketches.kmvHash64(col("id")).as("h"))
      val flush = spark.range(1).select(lit(-1L).as("id"),
        lit(t0 + 100L * 86400L * 1_000_000_000L).as("ts"),
        lit(0L).as("w"), lit(0L).as("h"))
      def agg(st: DataFrame) = st
        .withColumn("tss", timestamp_micros(expr("ts div 1000")))
        .withWatermark("tss", "10 seconds")
        .groupBy(window(col("tss"), "6 hours").as("win"))
        .agg(graft.operators.Sketches.prioritySample(
            col("h"), col("w"), col("id"), k).as("smp"),
          sum(col("w")).as("sum_exact"))
        .select(expr("unix_micros(win.start) * 1000").as("window_ns"),
          graft.operators.Sketches.prioritySubsetSum(
            col("smp"), k, _ => lit(true)).as("est_total"),
          col("sum_exact").cast("double").as("sum_exact"))
      val r = replayBench(spark, s"$root/prioritystream_$n", rows, flush,
        "ts", agg)
      // re-derive the emitted estimates in batch to audit window count
      // and errors (replayBench's foreachBatch sink only counts rows).
      // EPOCH-aligned window arithmetic — `window()` aligns to the
      // epoch, and t0 is not a 6-hour multiple, so t0-aligned math
      // derives one window fewer over the same span (65 vs 64 at 10⁸).
      val winNs = 21600L * 1_000_000_000L
      val batch = rows
        .groupBy((col("ts") - ((col("ts") % winNs) + winNs) % winNs)
          .as("wi"))
        .agg(graft.operators.Sketches.prioritySample(
            col("h"), col("w"), col("id"), k).as("smp"),
          sum(col("w")).cast("double").as("sum_exact"))
        .select(graft.operators.Sketches.prioritySubsetSum(
            col("smp"), k, _ => lit(true)).as("est"),
          col("sum_exact"))
        .agg(count(lit(1)),
          max(abs(col("est") - col("sum_exact")) / col("sum_exact")))
        .head()
      val (nWindows, maxRelErr) = (batch.getLong(0), batch.getDouble(1))
      require(r.emitted == nWindows,
        s"stream emitted ${r.emitted} windows, batch derives $nWindows")
      // DLT variance gives per-window rel std ≈ 1/√(k−2), INDEPENDENT
      // of window volume; the max over ~64 windows sits at ~2–3σ.
      // Assert 4σ — a real estimator bug (wrong τ, dropped weight)
      // lands far outside it, noise never does.
      require(maxRelErr < 4.0 / math.sqrt((k - 2).toDouble),
        s"max per-window rel err $maxRelErr >= 4/sqrt(k-2) at k=$k")
      s""","priority_stream":{"rows":$n,"k":$k,"s":${fmt(r.secs)},""" +
        s""""rows_per_sec":${fmt(n / r.secs, 0)},"windows":${r.emitted},""" +
        s""""batches":${r.batches},"peak_state_rows":${r.peakStateRows},""" +
        s""""max_rel_err":${fmt(maxRelErr, 4)}}"""
    }.getOrElse("")

    // bank sketch-sidecar asymmetry (env GRAFT_SCALE_BANKSTATS=
    // <segments>): the q136 contract measured end to end on a REAL
    // WaveBank — put `n` one-sample segments (two batches, so the
    // rollup genuinely merges multi-write partials), then answer the
    // operational dashboard ("per-day distinct channels, p50 segment
    // length, top seeds") two ways: from the sidecar rollup (reads
    // kilobytes) and from a from-scratch resketch of the live index
    // (reads the whole index). Reports both walls AND both data
    // volumes — the volume ratio is the claim that survives 100 TB;
    // local walls understate it (page cache, and the index here is
    // only ~n·60 B).
    val bankStatsJson = sys.env.get("GRAFT_SCALE_BANKSTATS").map { sN =>
      import graft.bank.WaveBank
      import graft.operators.Sketches
      val n = sN.trim.toLong
      val t0 = 1_600_000_000_000_000_000L
      val dayNs = 86_400_000_000_000L
      val bankRoot = s"$root/bankstats_$n"
      def segs(lo: Long, hi: Long) = spark.range(lo, hi).select(
        lit("XX").as("network"),
        concat(lit("S"), (col("id") % 200).cast("string")).as("station"),
        lit("").as("location"),
        concat(lit("BH"), when(col("id") % 3 === 0, lit("Z"))
          .when(col("id") % 3 === 1, lit("N")).otherwise(lit("E")))
          .as("channel"),
        (lit(t0) + (col("id") % 365) * lit(dayNs)
          + (col("id") % 86400) * lit(1_000_000_000L)).as("starttime"),
        lit(1_000_000_000L).as("sampling_period"),
        array((col("id") % 100 + 1).cast("double")).as("samples"))
        // co-locate stations per task: partitionBy(network, station)
        // otherwise fans every task across all 200 station dirs —
        // 6,400 tiny files per batch and a file-count-bound put wall
        .repartition(32, col("station"))
      def timed[A](f: => A): (A, Double) = {
        val t = System.nanoTime(); val a = f
        (a, (System.nanoTime() - t) / 1e9)
      }
      val bank = new WaveBank(spark, bankRoot)
      val (_, putS) = timed {
        bank.putWaveforms(segs(0, n / 2))
        bank.putWaveforms(segs(n / 2, n))
      }
      val (statsRows, statsS) = timed {
        bank.sketchStats().select(col("day"), col("n_segments"),
          Sketches.kmvEstimate(col("seed_sk"), bank.statsSeedK),
          Sketches.quantileEstimate(col("len_sk"), 0.5),
          Sketches.freqTopCsv(col("seed_top"), 3))
          .collect().length
      }
      val (_, directS) = timed {
        bank.readIndex().select(
            floor(col("starttime") / lit(dayNs)).cast("long").as("day"),
            concat_ws(".", col("network"), col("station"),
              col("location"), col("channel")).as("seed_id"),
            ((col("endtime") - col("starttime")) / col("sampling_period"))
              .cast("long").as("n_samples"))
          .groupBy("day")
          .agg(Sketches.kmvSketch(
              graft.functions.TextFunctions.md5Long60(col("seed_id")),
              bank.statsSeedK).as("sk"),
            Sketches.quantileSketch(col("n_samples"), bank.statsLenC)
              .as("lsk"),
            Sketches.freqSketch(col("seed_id"), bank.statsSeedK).as("tsk"))
          .collect().length
      }
      def dirBytes(p: String): Long =
        org.apache.hadoop.fs.FileSystem.getLocal(
          spark.sparkContext.hadoopConfiguration)
          .getContentSummary(new org.apache.hadoop.fs.Path(p)).getLength
      val sidecarB = dirBytes(bank.statsSketchPath)
      val indexB = dirBytes(s"$bankRoot")
      s""","bank_stats":{"segments":$n,"days":${statsRows},""" +
        s""""put_s":${fmt(putS)},"sidecar_read_s":${fmt(statsS)},""" +
        s""""index_rescan_s":${fmt(directS)},""" +
        s""""sidecar_bytes":$sidecarB,"store_bytes":$indexB}"""
    }.getOrElse("")

    // streaming windowed frequent items (env GRAFT_SCALE_FREQSTREAM=
    // <rows>[:k]): the q134 pipeline at scale — the mg_freq item skew
    // (8 planted heavies at 40 % of rows, rows/100 tail) spread over
    // 65 six-hour windows, replayed into the watermarked windowed
    // FreqAgg. State per window = ONE ≤k counter array regardless of
    // tail cardinality; batch audit re-derives the window count and
    // asserts every planted heavy surfaced in every window's summary
    // (each is ~5 % of the window ≫ 1/(k+1) — theorem-guaranteed).
    val freqStreamJson = sys.env.get("GRAFT_SCALE_FREQSTREAM").map { sN =>
      val parts = sN.trim.split(':')
      val n = parts(0).toLong
      val k = if (parts.length >= 2) parts(1).toInt else 64
      val t0 = 1_600_000_000_000_000_000L
      val tail = math.max(1L, n / 100)
      def itemCol = when(col("id") % 20 < 8,
          concat(lit("hh"), col("id") % 20))
        .otherwise(concat(lit("t"), col("id") % tail))
      val rows = spark.range(n).select(itemCol.as("item"),
        (lit(t0) + (col("id") % (64 * 21600)) * lit(1_000_000_000L)).as("ts"))
      val flush = spark.range(1).select(lit("flush").as("item"),
        lit(t0 + 100L * 86400L * 1_000_000_000L).as("ts"))
      def agg(st: DataFrame) = st
        .withColumn("tss", timestamp_micros(expr("ts div 1000")))
        .withWatermark("tss", "10 seconds")
        .groupBy(window(col("tss"), "6 hours").as("win"))
        .agg(graft.operators.Sketches.freqSketch(col("item"), k).as("sk"))
        .select(expr("unix_micros(win.start) * 1000").as("window_ns"),
          graft.operators.Sketches.freqTopCsv(col("sk"), 8).as("top8"))
      val r = replayBench(spark, s"$root/freqstream_$n", rows, flush, "ts",
        agg)
      val winNs = 21600L * 1_000_000_000L
      val audit = rows
        .groupBy((col("ts") - ((col("ts") % winNs) + winNs) % winNs)
          .as("wi"))
        .agg(graft.operators.Sketches.freqSketch(col("item"), k).as("sk"))
        .select(size(filter(
          transform(graft.operators.Sketches.freqItems(col("sk")),
            _.getField("_1")),
          x => x.startsWith("hh"))).as("nhh"))
        .agg(count(lit(1)), min(col("nhh")))
        .head()
      require(r.emitted == audit.getLong(0),
        s"stream emitted ${r.emitted} windows, batch derives ${audit.getLong(0)}")
      require(audit.getInt(1) == 8,
        s"a window's summary retained only ${audit.getInt(1)}/8 planted heavies")
      s""","freq_stream":{"rows":$n,"k":$k,"tail_distinct":$tail,""" +
        s""""s":${fmt(r.secs)},"rows_per_sec":${fmt(n / r.secs, 0)},""" +
        s""""windows":${r.emitted},"batches":${r.batches},""" +
        s""""peak_state_rows":${r.peakStateRows}}"""
    }.getOrElse("")

    println(s"""{"metric":"scale_bench","scales":[$scaleJson]$ratios$hotJson$fetchPlanJson$textFreqJson$pqJson$opqJson$opqNpJson$pqBatchJson$ivfpqJson$bandJson$streamJson$gapsJson$segsJson$phashJson$imgStreamJson$embStreamJson$annStreamJson$annStoreJson$adcStreamJson$bm25Json$bm25fJson$maxScoreJson$msStreamJson$waveBankJson$bmwJson$bm25fSkewJson$phraseJson$sdmJson$hybridStreamJson$lexGenJson$lexCompactJson$posGenJson$kcenterJson$annRecallJson$minhashSweepJson$deconStreamJson$audioJson$videoJson$hotFrameJson$audioStreamJson$videoStreamJson$detectJson$kmvJson$kmvStreamJson$priorityJson$freqJson$qsketchJson$priorityStreamJson$freqStreamJson$bankStatsJson}""")
    spark.stop()
    // the scratch root holds multi-GB corpora/stores at decade scales —
    // a chain of runs that leaves them behind fills the disk (measured:
    // four stale 14 GB roots took / to 100% and killed the next run)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    ()
  }
}
