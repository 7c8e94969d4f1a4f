package graft

import graft.operators.Lexical

/** Sequential-dependence proximity ranking (Metzler–Croft SDM with
  * BM25 feature weighting): hand-replayed scores on a corpus chosen so
  * every feature decides something — ordered adjacency vs reversed
  * order, the unordered-window boundary (distance exactly N excluded),
  * duplicated query terms, a corpus-absent term, and the m = 1
  * degeneration to pure weighted unigrams.
  */
class SdmSpec extends SparkSpec {
  import spark.implicits._

  // d0: "a b" adjacent twice; d1: "b a" once (reversed), 'a' again at 6;
  // d2: a…b at distance exactly 8 (window-excluded); d3/d4: background.
  private val docs = Seq(
    (0L, "a b c a b"),
    (1L, "b a x y z a"),
    (2L, "a q q q q q q q b"),
    (3L, "c c"),
    (4L, "z z z")
  ).toDF("doc_id", "text")

  private val nDocs = 5.0
  private val avgdl = (5 + 6 + 9 + 2 + 3) / 5.0
  private def idf(df: Long): Double =
    math.log(1.0 + (nDocs - df + 0.5) / (df + 0.5))
  private def sat(tf: Long, dl: Long): Double =
    (tf * 2.2) / (tf + 1.2 * ((1.0 - 0.75) + (0.75 * dl) / avgdl))

  private def run(q: String, k: Int = 10): Seq[(Long, Long, Double, Int)] =
    Lexical.sdmTopK(docs, "text", "doc_id",
        Seq((1L, q)).toDF("q_id", "qtext"), "qtext", "q_id", k)
      .as[(Long, Long, Double, Int)].collect().toSeq.sortBy(_._4)

  private def score(sT: Double, sO: Double, sU: Double): Double =
    0.85 * sT + 0.1 * sO + 0.05 * sU

  test("query 'a b': ordered + windowed features hand-replayed") {
    val got = run("a b")
    assert(got.map(_._2) == Seq(0L, 1L, 2L)) // d0 > d1 > d2
    // d0: a@{1,4} b@{2,5} → tfO = 2 (1→2, 4→5), tfU = 4 pairs; df_a=df_b=3,
    // df_o = 1 (only d0), df_u = 2 (d0, d1).
    val s0 = score(idf(3) * sat(2, 5) + idf(3) * sat(2, 5),
      idf(1) * sat(2, 5), idf(2) * sat(4, 5))
    // d1: b@{1} a@{2,6} → tfO = 0 (no a-then-b), tfU = 2 ((2,1),(6,1)).
    val s1 = score(idf(3) * sat(2, 6) + idf(3) * sat(1, 6),
      0.0, idf(2) * sat(2, 6))
    // d2: a@1 b@9 — |1−9| = 8 is NOT < 8: both pair features zero.
    val s2 = score(idf(3) * sat(1, 9) + idf(3) * sat(1, 9), 0.0, 0.0)
    val want = Seq(s0, s1, s2)
    got.map(_._3).zip(want).foreach { case (g, w) =>
      assert(math.abs(g - w) < 1e-6, s"got $g want $w")
    }
  }

  test("order sensitivity: 'b a' rewards d1's reversed bigram") {
    val got = run("b a")
    // d1: b@1, a@2 → tfO = 1; d0: b@{2,5}, a@{1,4} → 2+1=3∉P_a, 5+1=6∉P_a
    // → tfO = 0. tfU is symmetric (same pairs as 'a b').
    val byDoc = got.map(r => r._2 -> r._3).toMap
    val s1 = score(idf(3) * sat(1, 6) + idf(3) * sat(2, 6),
      idf(1) * sat(1, 6), idf(2) * sat(2, 6))
    val s0 = score(idf(3) * sat(2, 5) + idf(3) * sat(2, 5),
      0.0, idf(2) * sat(4, 5))
    assert(math.abs(byDoc(1L) - s1) < 1e-6)
    assert(math.abs(byDoc(0L) - s0) < 1e-6)
  }

  test("duplicated query term: 'a a' counts both positions and self-pairs") {
    val got = run("a a")
    val byDoc = got.map(r => r._2 -> r._3).toMap
    // d0: a@{1,4}: unigram scored TWICE (j=1 and j=2); pair (a,a):
    // tfO = 0 (no consecutive a), tfU = |{(1,4),(4,1)}| = 2.
    // d1: a@{2,6}: tfO = 0, tfU = 2. d2: a@{1}: tfU = 0 (p1 ≠ p2 required).
    // df_u = 2 (d0, d1); df_o would be 0 — no doc carries it, so the
    // ordered feature contributes nothing anywhere.
    val s0 = score(idf(3) * sat(2, 5) + idf(3) * sat(2, 5),
      0.0, idf(2) * sat(2, 5))
    val s1 = score(idf(3) * sat(2, 6) + idf(3) * sat(2, 6),
      0.0, idf(2) * sat(2, 6))
    val s2 = score(idf(3) * sat(1, 9) + idf(3) * sat(1, 9), 0.0, 0.0)
    assert(math.abs(byDoc(0L) - s0) < 1e-6)
    assert(math.abs(byDoc(1L) - s1) < 1e-6)
    assert(math.abs(byDoc(2L) - s2) < 1e-6)
  }

  test("m = 1 degenerates to weighted unigram BM25; absent term is silent") {
    val got = run("c")
    val byDoc = got.map(r => r._2 -> r._3).toMap
    assert(got.map(_._2).toSet == Set(0L, 3L))
    assert(math.abs(byDoc(0L) - 0.85 * (idf(2) * sat(1, 5))) < 1e-6)
    assert(math.abs(byDoc(3L) - 0.85 * (idf(2) * sat(2, 2))) < 1e-6)

    // a query term absent from the corpus scores zero everywhere and
    // kills the pair features that reference it — the present term
    // still scores its unigram.
    val got2 = run("a zzzz")
    val byDoc2 = got2.map(r => r._2 -> r._3).toMap
    assert(got2.map(_._2).toSet == Set(0L, 1L, 2L))
    assert(math.abs(byDoc2(0L) - 0.85 * (idf(3) * sat(2, 5))) < 1e-6)

    assert(run("   ").isEmpty) // whitespace-only: silent
  }

  private def runRerank(q: String, n: Int, k: Int = 10) =
    Lexical.sdmTopK(docs, "text", "doc_id",
        Seq((1L, q)).toDF("q_id", "qtext"), "qtext", "q_id", k,
        rerank = Some(n))
      .as[(Long, Long, Double, Int)].collect().toSeq.sortBy(_._4)

  test("rerank with n >= candidate count equals the full traversal") {
    assert(runRerank("a b", n = 10) == run("a b"))
    assert(runRerank("a a", n = 10) == run("a a"))
  }

  test("rerank n=2 keeps the unigram top-2 and reranks only those") {
    val got = runRerank("a b", n = 2, k = 2)
    // unigram s_t order: d0 (tf 2+2, dl 5) > d1 (2+1, dl 6) > d2 —
    // the rerank set is {d0, d1}; d2 never receives pair probes and
    // never ranks. Here d2 carries no pair feature, so the subset pair
    // dfs equal the full ones and the surviving scores are unchanged.
    assert(got.map(_._2) == Seq(0L, 1L))
    val full = run("a b").filter(r => r._2 == 0L || r._2 == 1L)
    assert(got.map(r => (r._2, r._3)) == full.map(r => (r._2, r._3)))
  }

  test("native sdm_features ≡ expression pipeline; ordered_fold_sum_long " +
      "≡ sorted-struct fold (round-18 differential)") {
    import org.apache.spark.sql.functions._
    graft.plans.GraftExtensions.register(spark)
    // randomized small-vocab corpus: repeated tokens force duplicated-
    // term pairs, window-boundary distances, partial (missing-j)
    // matches, and m = 1 / m = 3 query shapes — every branch of the
    // feature counting and of the j-asc unigram fold
    val rnd = new scala.util.Random(1234)
    val vocab = Vector("a", "b", "c", "d", "e")
    val rdocs = (0L until 300L).map { id =>
      val n = 3 + rnd.nextInt(15)
      (id, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "text")
    val qs = Seq((0L, "a b"), (1L, "b b"), (2L, "a b c"), (3L, "c"),
      (4L, "e d e"), (5L, "a a a"), (6L, "zz miss")).toDF("q_id", "qtext")
    val window = 8
    val k1 = 1.2
    val b = 0.75
    val post = Lexical.postingsPositional(rdocs, "text", "doc_id")
      .persist()
    post.count()
    try {
      val stats = Lexical.corpusStatsFromPostings(post)
      val dfreq = post.groupBy("term").agg(count(lit(1)).as("df"))
      val qpe = qs
        .select(col("q_id"),
          filter(graft.functions.TextFunctions.tokens(col("qtext")),
            t => t =!= lit("")).as("ph"))
        .filter(size(col("ph")) >= 1)
        .select(col("q_id"), size(col("ph")).cast("long").as("m"),
          posexplode(col("ph")).as(Seq("j0", "term")))
        .select(col("q_id"), col("m"),
          (col("j0") + 1).cast("long").as("j"), col("term"))
      val qT = qpe.join(dfreq, Seq("term"))
        .crossJoin(broadcast(stats))
        .withColumn("idf_t", Lexical.bm25Idf(col("n_docs"), col("df")))
        .select(col("term"), col("q_id"), col("m"), col("j"),
          col("idf_t"), col("n_docs"), col("avgdl"))
      val cand = post.join(broadcast(qT), Seq("term"))
      val satC = (tf: org.apache.spark.sql.Column,
                  dl: org.apache.spark.sql.Column,
                  avgdl: org.apache.spark.sql.Column) =>
        (tf.cast("double") * lit(k1 + 1.0)) /
          (tf.cast("double") +
            lit(k1) * (lit(1.0) - lit(b) +
              lit(b) * dl.cast("double") / avgdl))
      // the pre-round-18 expression pipeline, verbatim — the reference
      val ref = cand
        .groupBy(col("q_id"), col("doc_id"), col("dl"), col("m"),
          col("n_docs"), col("avgdl"))
        .agg(sort_array(collect_list(struct(col("j"), col("tf"),
          col("idf_t"), col("positions")))).as("es"))
        .withColumn("pairs", slice(transform(
          sequence(lit(1L), col("m")),
          i => {
            val e1 = get(filter(col("es"),
              e => e.getField("j") === i), lit(0))
            val e2 = get(filter(col("es"),
              e => e.getField("j") === i + 1), lit(0))
            val tfO = size(filter(e1.getField("positions"),
              p => array_contains(e2.getField("positions"), p + 1)))
            val tfU = aggregate(e1.getField("positions"), lit(0),
              (acc, p1) => acc + size(filter(e2.getField("positions"),
                p2 => p2 =!= p1 && abs(p2 - p1) < lit(window))))
            struct(i.as("i"),
              coalesce(tfO.cast("long"), lit(0L)).as("tfo"),
              coalesce(tfU.cast("long"), lit(0L)).as("tfu"))
          }), lit(1), (col("m") - 1).cast("int")))
        .withColumn("s_t", aggregate(col("es"), lit(0.0),
          (acc, e) => acc + e.getField("idf_t") *
            satC(e.getField("tf"), col("dl"), col("avgdl"))))
        .select(col("q_id"), col("doc_id"), col("s_t"),
          col("pairs").cast("string").as("prs"))
        .as[(Long, Long, Double, String)].collect().toSet
      val contribC = col("idf_t") *
        satC(col("tf"), col("dl"), col("avgdl"))
      val native = cand
        .withColumn("_c", contribC)
        .groupBy(col("q_id"), col("doc_id"), col("dl"), col("m"),
          col("n_docs"), col("avgdl"))
        .agg(graft.operators.TopK.sdmFeatures(col("j"), col("_c"),
          col("positions"), col("m"), window).as("f"))
        .select(col("q_id"), col("doc_id"), col("f.s_t").as("s_t"),
          col("f.pairs").cast("string").as("prs"))
        .as[(Long, Long, Double, String)].collect().toSet
      // BITWISE s_t equality rides the Set equality on raw doubles;
      // pairs compare exactly through the canonical string form
      assert(native == ref)
      assert(ref.exists(_._4.contains("tfo")) || ref.nonEmpty)
      assert(ref.exists(r => r._4 != "[]")) // pairs actually exercised
      // long-key ordered fold ≡ the sorted-struct interpreted fold
      val refFold = cand
        .groupBy(col("q_id"), col("doc_id"), col("dl"), col("m"),
          col("n_docs"), col("avgdl"))
        .agg(sort_array(collect_list(struct(col("j"), col("tf"),
          col("idf_t")))).as("es"))
        .withColumn("s_t", aggregate(col("es"), lit(0.0),
          (acc, e) => acc + e.getField("idf_t") *
            satC(e.getField("tf"), col("dl"), col("avgdl"))))
        .select(col("q_id"), col("doc_id"), col("s_t"))
        .as[(Long, Long, Double)].collect().toSet
      val nativeFold = cand
        .withColumn("_c", contribC)
        .groupBy(col("q_id"), col("doc_id"), col("dl"), col("m"),
          col("n_docs"), col("avgdl"))
        .agg(graft.operators.TopK.orderedFoldSumLong(col("j"), col("_c"))
          .as("s_t"))
        .select(col("q_id"), col("doc_id"), col("s_t"))
        .as[(Long, Long, Double)].collect().toSet
      assert(nativeFold == refFold)
      assert(refFold.nonEmpty)
    } finally { post.unpersist(); () }
  }

  test("sdm_features fails loudly on a null position, not as position 0") {
    import org.apache.spark.sql.functions._
    graft.plans.GraftExtensions.register(spark)
    def feats(rows: Seq[(Long, Long, Double, Seq[Option[Int]], Long)]) =
      rows.toDF("g", "j", "c", "positions", "m").groupBy("g")
        .agg(graft.operators.TopK.sdmFeatures(col("j"), col("c"),
          col("positions"), col("m"), 8).as("f"))
        .select(col("f.s_t"), col("f.pairs")(0)("tfo"))
        .as[(Double, Long)].collect().toSeq
    // positions typed nullable but null-free — the shape of a
    // maintained store read back from parquet — score as before
    assert(feats(Seq((1L, 1L, 0.5, Seq(Some(1), Some(4)), 2L),
      (1L, 2L, 0.25, Seq(Some(2)), 2L))) == Seq((0.75, 1L)))
    // a null element must not stand in for position 0
    val e = intercept[Exception](feats(Seq(
      (1L, 1L, 0.5, Seq(Some(1), Some(4)), 2L),
      (1L, 2L, 0.25, Seq(Some(2), None), 2L))))
    val msgs = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).toSeq
    assert(msgs.exists(_.contains("sdm_features: null element")), msgs)
  }
}
