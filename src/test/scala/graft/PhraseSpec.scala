package graft

import org.apache.spark.sql.functions._

import graft.operators.Lexical

/** Positional postings + exact phrase top-k: adjacency is position
  * arithmetic (anchor votes), multi-occurrence counts, field
  * boundaries never produce phantom adjacency, and the BM25
  * pseudo-term scoring replays by hand.
  */
class PhraseSpec extends SparkSpec {
  import spark.implicits._

  test("positional postings carry 1-based ascending positions; '' carrier") {
    val docs = Seq((0L, "a b a"), (1L, "")).toDF("doc_id", "text")
    val post = Lexical.postingsPositional(docs, "text", "doc_id")
      .as[(String, Long, Long, Long, Seq[Int])].collect().toSet
    assert(post.contains(("a", 0L, 3L, 2L, Seq(1, 3))))
    assert(post.contains(("b", 0L, 3L, 1L, Seq(2))))
    assert(post.contains(("", 1L, 1L, 1L, Seq(1)))) // dl carrier
  }

  test("phrase top-k: multi-occurrence tf, order sensitivity, no gaps") {
    val docs = Seq(
      (0L, "apple banana apple banana"), // "apple banana" twice → tf 2
      (1L, "apple banana cherry"),       // once → tf 1
      (2L, "banana apple"),              // reversed → no match
      (3L, "apple cherry banana"),       // gap → no match
      (4L, "durian fig")
    ).toDF("doc_id", "text")
    val qs = Seq((100L, "apple banana"), (101L, "  ")).toDF("q_id", "qtext")
    val got = Lexical.phraseTopK(docs, "text", "doc_id",
        qs, "qtext", "q_id", k = 5)
      .as[(Long, Long, Double, Int)].collect().toSeq.sortBy(_._4)

    assert(got.map(r => (r._1, r._2, r._4)) == Seq(
      (100L, 0L, 1), (100L, 1L, 2)))
    // hand replay: N=5, avgdl=(4+3+2+3+2)/5=2.8, df=2
    val idf = math.log(1.0 + (5.0 - 2.0 + 0.5) / (2.0 + 0.5))
    def s(tf: Long, dl: Long) = BigDecimal(
      idf * (tf * 2.2) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / 2.8)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(got(0)._3 - s(2, 4)) < 1e-9)
    assert(math.abs(got(1)._3 - s(1, 3)) < 1e-9)
  }

  test("repeated-token phrase needs genuinely consecutive occurrences") {
    val docs = Seq(
      (0L, "x the the y"), // match
      (1L, "the x the")    // two 'the', not adjacent → no match
    ).toDF("doc_id", "text")
    val got = Lexical.phraseTopK(docs, "text", "doc_id",
        Seq((7L, "the the")).toDF("q_id", "qtext"), "qtext", "q_id", k = 5)
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(got.map(_._2) == Seq(0L))
  }

  test("field boundaries: no phantom adjacency across fields, gap respected") {
    val docs = Seq(
      (0L, "apple z", "z banana"), // title-final + body-initial NOT adjacent
      (1L, "apple z", "x y"),
      (2L, "", "z banana")
    ).toDF("doc_id", "title", "body")
    val post = Lexical.postingsPositionalFields(
      docs, Seq("title", "body"), "doc_id")
    // within-field phrases match…
    val inTitle = Lexical.phraseTopKFromPostings(post,
        Seq((1L, "apple z")).toDF("q_id", "qtext"), "qtext", "q_id", k = 5)
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(inTitle.map(_._2).sorted == Seq(0L, 1L))
    val inBody = Lexical.phraseTopKFromPostings(post,
        Seq((2L, "z banana")).toDF("q_id", "qtext"), "qtext", "q_id", k = 5)
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(inBody.map(_._2).sorted == Seq(0L, 2L))
    // …the cross-field bigram does not (doc 0: title "…z", body "z…")
    val cross = Lexical.phraseTopKFromPostings(post,
        Seq((3L, "z z")).toDF("q_id", "qtext"), "qtext", "q_id", k = 5)
      .collect()
    assert(cross.isEmpty)
    // all-empty-field doc keeps a dl-carrier row, is never servable
    val carrier = Lexical.postingsPositionalFields(
        Seq((9L, "", "")).toDF("doc_id", "title", "body"),
        Seq("title", "body"), "doc_id")
      .as[(String, Long, Long, Long, Seq[Int])].collect().toSeq
    assert(carrier == Seq(("", 9L, 1L, 1L, Seq(1))))
  }

  test("single-token phrase reduces to positional tf BM25") {
    val docs = Seq(
      (0L, "apple apple banana"),
      (1L, "apple cherry"),
      (2L, "banana")
    ).toDF("doc_id", "text")
    val got = Lexical.phraseTopK(docs, "text", "doc_id",
        Seq((5L, "apple")).toDF("q_id", "qtext"), "qtext", "q_id", k = 5)
      .as[(Long, Long, Double, Int)].collect().toSeq.sortBy(_._4)
    assert(got.map(_._2) == Seq(0L, 1L)) // tf 2 beats tf 1 (dl also smaller)
  }

  test("native phrase_tf ≡ expression pipeline; scan-local ≡ store fold " +
      "(round-17 differential)") {
    graft.plans.GraftExtensions.register(spark)
    // randomized small-vocab corpus: repeated tokens force
    // multi-occurrence anchors, duplicated-term phrases, and partial
    // (incomplete-j) matches — every branch of the counting logic
    val rnd = new scala.util.Random(42)
    val vocab = Vector("a", "b", "c", "d", "e")
    val docs = (0L until 300L).map { id =>
      val n = 3 + rnd.nextInt(15)
      (id, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "text")
    val qs = Seq((0L, "a b"), (1L, "b b"), (2L, "a b c"), (3L, "c"),
      (4L, "e d e"), (5L, "a a a"), (6L, "zz miss")).toDF("q_id", "qtext")
    val post = Lexical.postingsPositional(docs, "text", "doc_id")
      .persist()
    post.count()
    try {
      val qpe = qs
        .select(col("q_id"),
          filter(graft.functions.TextFunctions.tokens(col("qtext")),
            t => t =!= lit("")).as("ph"))
        .filter(size(col("ph")) >= 1)
        .select(col("q_id"), size(col("ph")).cast("long").as("m"),
          posexplode(col("ph")).as(Seq("j0", "term")))
        .select(col("q_id"), col("m"),
          (col("j0") + 1).cast("long").as("j"), col("term"))
      val matched = post.join(broadcast(qpe), Seq("term"))
      // the pre-round-17 expression pipeline, verbatim — the reference
      val ref = matched
        .groupBy("q_id", "doc_id", "dl", "m")
        .agg(collect_list(struct(col("j"), col("positions"))).as("es"))
        .filter(size(array_distinct(transform(col("es"),
          e => e.getField("j")))) === col("m"))
        .withColumn("tf", size(filter(
          flatten(filter(col("es"), e => e.getField("j") === 1)
            .getField("positions")),
          p => forall(col("es"),
            e => array_contains(e.getField("positions"),
              p + e.getField("j").cast("int") - 1)))).cast("long"))
        .filter(col("tf") >= 1)
        .select("q_id", "doc_id", "dl", "tf")
        .as[(Long, Long, Long, Long)].collect().toSet
      val native = matched
        .groupBy("q_id", "doc_id", "dl", "m")
        .agg(graft.operators.TopK.phraseTf(col("j"), col("positions"),
          col("m")).as("tf"))
        .filter(col("tf") >= 1)
        .select("q_id", "doc_id", "dl", "tf")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(native == ref)
      assert(ref.nonEmpty) // the corpus actually exercises matches
      // end-to-end: one-shot (scan-local fold) ≡ store path (exchange
      // fold) — identical rows, scores, ranks
      val oneShot = Lexical.phraseTopK(docs, "text", "doc_id",
          qs, "qtext", "q_id", k = 5)
        .as[(Long, Long, Double, Int)].collect().toSet
      val fromStore = Lexical.phraseTopKFromPostings(post,
          qs, "qtext", "q_id", k = 5)
        .as[(Long, Long, Double, Int)].collect().toSet
      assert(oneShot == fromStore)
      assert(oneShot.nonEmpty)
    } finally { post.unpersist(); () }
  }

  test("phrase_tf fails loudly on a null position, not as position 0") {
    graft.plans.GraftExtensions.register(spark)
    def tf(rows: Seq[(Long, Long, Seq[Option[Int]], Long)]) =
      rows.toDF("g", "j", "positions", "m").groupBy("g")
        .agg(graft.operators.TopK.phraseTf(col("j"), col("positions"),
          col("m")).as("tf"))
        .as[(Long, Long)].collect().toSeq
    // positions typed nullable but null-free — the shape of a
    // maintained store read back from parquet — count as before
    assert(tf(Seq((1L, 1L, Seq(Some(1), Some(4)), 2L),
      (1L, 2L, Seq(Some(2)), 2L))) == Seq((1L, 1L)))
    // a null element must not stand in for position 0
    val e = intercept[Exception](tf(Seq(
      (1L, 1L, Seq(Some(1), Some(4)), 2L),
      (1L, 2L, Seq(Some(2), None), 2L))))
    val msgs = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).toSeq
    assert(msgs.exists(_.contains("phrase_tf: null element")), msgs)
  }
}
