package graft

import org.apache.spark.sql.functions._

import graft.operators.Lexical

/** BM25 lexical retrieval + reciprocal-rank fusion: scoring pinned
  * against hand-computed values, retrieval semantics (no shared terms
  * ⇒ no rows; self-retrieval ranks first on a distinctive term), the
  * prebuilt-store path bit-equal to the direct path, and fusion math
  * pinned with asymmetric lists.
  */
class LexicalSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (0L, "apple banana apple"),
    (1L, "banana cherry"),
    (2L, "cherry cherry cherry durian"),
    (3L, "elderberry fig"),
    (4L, "apple durian")
  ).toDF("doc_id", "text")

  // hand BM25 (k1 = 1.2, b = 0.75, Lucene idf), mirroring the
  // operator's fold order (terms ascending)
  private def idf(n: Long, df: Long): Double =
    math.log(1.0 + (n.toDouble - df.toDouble + 0.5) / (df.toDouble + 0.5))
  private def tfSat(tf: Long, dl: Long, avgdl: Double): Double =
    (tf.toDouble * 2.2) /
      (tf.toDouble + 1.2 * (1.0 - 0.75 + 0.75 * dl.toDouble / avgdl))

  test("postings: (term, doc, tf, dl) with dl the doc token length") {
    val p = Lexical.postings(docs, "text", "doc_id")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(p.contains(("apple", 0L, 3L, 2L)))   // tf 2, dl 3
    assert(p.contains(("cherry", 2L, 4L, 3L)))  // tf 3, dl 4
    assert(p.count(_._1 == "banana") == 2)
  }

  test("bm25TopK tokenizes the corpus ONCE: df/stats/candidates all " +
       "read the cached postings (no file re-scan in the plan)") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val dir = java.nio.file.Files.createTempDirectory("graft-lex1p").toString
    docs.write.mode("overwrite").parquet(dir)
    val corpus = spark.read.parquet(dir)
    val qs = Seq((100L, "apple cherry")).toDF("q_id", "qtext")
    val res = Lexical.bm25TopK(corpus, "text", "doc_id",
      qs, "qtext", "q_id", k = 5)
    val nodes = graft.tools.PlanIntrospect.nodes(
      res.queryExecution.executedPlan)
    val fileScans = nodes.count(_.isInstanceOf[FileSourceScanExec])
    val memScans = nodes.count(_.isInstanceOf[InMemoryTableScanExec])
    // all three postings consumers sit behind the cache: the corpus
    // file is not scanned at the top level at all, and at least the
    // df + stats + candidate subtrees read the InMemoryRelation
    assert(fileScans == 0, s"expected 0 corpus file scans, got $fileScans")
    assert(memScans >= 3, s"expected >= 3 cached-postings scans, got $memScans")
    // and the cached plan still computes the right answer
    assert(res.count() > 0)
  }

  test("bm25TopK matches hand-computed scores and rank order") {
    val qs = Seq((100L, "apple cherry")).toDF("q_id", "qtext")
    val got = Lexical.bm25TopK(docs, "text", "doc_id",
        qs, "qtext", "q_id", k = 5)
      .orderBy("rank")
      .as[(Long, Long, Double, Int)].collect()

    val n = 5L
    val avgdl = (3.0 + 2.0 + 4.0 + 2.0 + 2.0) / 5.0
    // df: apple 2, cherry 2
    def score(parts: Seq[(String, Long, Long, Long)]): Double = {
      val s = parts.sortBy(_._1).map { case (_, df, tf, dl) =>
        idf(n, df) * tfSat(tf, dl, avgdl)
      }.foldLeft(0.0)(_ + _)
      math.rint(s * 1e6) / 1e6
    }
    val expect = Map(
      0L -> score(Seq(("apple", 2L, 2L, 3L))),
      1L -> score(Seq(("cherry", 2L, 1L, 2L))),
      2L -> score(Seq(("cherry", 2L, 3L, 4L))),
      4L -> score(Seq(("apple", 2L, 1L, 2L))))
    assert(got.map(_._2).toSet == expect.keySet) // doc 3 shares nothing
    got.foreach { case (q, d, s, _) =>
      assert(q == 100L)
      assert(math.abs(s - expect(d)) < 1e-9, s"doc $d: $s vs ${expect(d)}")
    }
    // ranks strictly follow score desc, doc asc
    val sorted = got.sortBy(r => (-r._3, r._2)).map(_._2).toSeq
    assert(got.sortBy(_._4).map(_._2).toSeq == sorted)
  }

  test("factored store (sat × idf) matches hand-computed BM25 with the " +
       "idf×(num/den) association") {
    val qs = Seq((100L, "apple cherry")).toDF("q_id", "qtext")
    val post = Lexical.postings(docs, "text", "doc_id")
    val n = 5L
    val avgdl = (3.0 + 2.0 + 4.0 + 2.0 + 2.0) / 5.0
    val got = Lexical.bm25TopKFromFactoredStore(
        Lexical.bm25SatFromPostings(post, avgdl),
        Lexical.docFreq(post), n, qs, "qtext", "q_id", k = 5)
      .as[(Long, Long, Double, Int)].collect()
    def score(parts: Seq[(String, Long, Long, Long)]): Double = {
      val s = parts.sortBy(_._1).map { case (_, df, tf, dl) =>
        idf(n, df) * tfSat(tf, dl, avgdl) // idf × (num/den) — factored
      }.foldLeft(0.0)(_ + _)
      math.rint(s * 1e6) / 1e6
    }
    val expect = Map(
      0L -> score(Seq(("apple", 2L, 2L, 3L))),
      1L -> score(Seq(("cherry", 2L, 1L, 2L))),
      2L -> score(Seq(("cherry", 2L, 3L, 4L))),
      4L -> score(Seq(("apple", 2L, 1L, 2L))))
    assert(got.map(_._2).toSet == expect.keySet)
    got.foreach { case (_, d, s, _) =>
      assert(math.abs(s - expect(d)) < 1e-9, s"doc $d: $s vs ${expect(d)}")
    }
  }

  private val fieldDocs = Seq(
    (0L, "apple pie", "apple banana apple banana cherry"),
    (1L, "banana split", "cherry cherry banana"),
    (2L, "cherry tart", "apple durian")
  ).toDF("doc_id", "title", "body")
  private val fields = Seq(
    Lexical.FieldSpec("title", weight = 2.0, b = 0.75),
    Lexical.FieldSpec("body", weight = 1.0, b = 0.75))

  test("bm25fTopK matches the hand-computed weighted-field fold") {
    val qs = Seq((7L, "apple cherry")).toDF("q_id", "qtext")
    val got = Lexical.bm25fTopK(fieldDocs, fields, "doc_id",
        qs, "qtext", "q_id", k = 5)
      .as[(Long, Long, Double, Int)].collect()

    val n = 3L
    val avgT = (2.0 + 2.0 + 2.0) / 3.0
    val avgB = (5.0 + 3.0 + 2.0) / 3.0
    // fc = (w * tf) / (1 − b + b·dl/avgdl), folded field-asc; then
    // sat = tf̃/(k1 + tf̃), contrib = idf·sat, folded term-asc, round 6
    def fc(w: Double, tf: Long, dl: Long, avg: Double): Double =
      w * tf.toDouble / (1.0 - 0.75 + 0.75 * dl.toDouble / avg)
    def score(terms: Seq[(String, Long, Double)]): Double = {
      val s = terms.sortBy(_._1).map { case (_, df, tfl) =>
        idf(n, df) * (tfl / (1.2 + tfl))
      }.foldLeft(0.0)(_ + _)
      math.rint(s * 1e6) / 1e6
    }
    // df any-field: apple {0,2}=2, cherry {0,1,2}=3
    val expect = Map(
      0L -> score(Seq(
        ("apple", 2L, 0.0 + fc(2.0, 1L, 2L, avgT) + fc(1.0, 2L, 5L, avgB)),
        ("cherry", 3L, 0.0 + fc(1.0, 1L, 5L, avgB)))),
      1L -> score(Seq(
        ("cherry", 3L, 0.0 + fc(1.0, 2L, 3L, avgB)))),
      2L -> score(Seq(
        ("apple", 2L, 0.0 + fc(1.0, 1L, 2L, avgB)),
        ("cherry", 3L, 0.0 + fc(2.0, 1L, 2L, avgT)))))
    assert(got.map(_._2).toSet == expect.keySet)
    got.foreach { case (_, d, s, _) =>
      assert(math.abs(s - expect(d)) < 1e-9, s"doc $d: $s vs ${expect(d)}")
    }
  }

  test("bm25f: the field weight decides — a title match outranks the " +
       "same match in the body; store path ≡ direct path") {
    // identical bodies except where the term sits; equal field lengths
    val d2 = Seq(
      (0L, "target filler", "pad pad pad"),
      (1L, "filler filler", "target pad pad")
    ).toDF("doc_id", "title", "body")
    val qs = Seq((9L, "target")).toDF("q_id", "qtext")
    val r = Lexical.bm25fTopK(d2, fields, "doc_id",
      qs, "qtext", "q_id", k = 2).orderBy("rank")
      .as[(Long, Long, Double, Int)].collect()
    assert(r.map(_._2).toSeq == Seq(0L, 1L),
      s"title match must rank first: ${r.toSeq}")
    assert(r(0)._3 > r(1)._3)

    val postF = FlatBm25fReference.postingsFields(fieldDocs, fields,
      "doc_id")
    val stored = Lexical.bm25TopKFromFactoredStore(
        Lexical.bm25fSatStore(fieldDocs, fields, "doc_id"),
        FlatBm25fReference.docFreqAnyField(postF), 3L,
        Seq((7L, "apple cherry")).toDF("q_id", "qtext"),
        "qtext", "q_id", k = 5)
      .as[(Long, Long, Double, Int)].collect().sortBy(_._4).toSeq
    val direct = Lexical.bm25fTopK(fieldDocs, fields, "doc_id",
        Seq((7L, "apple cherry")).toDF("q_id", "qtext"),
        "qtext", "q_id", k = 5)
      .as[(Long, Long, Double, Int)].collect().sortBy(_._4).toSeq
    assert(stored == direct)
    // the MONOLITHIC bm25f store (idf baked in) through the shared
    // contrib-store serving path — same rows bit for bit again
    val mono = Lexical.bm25TopKFromContribStore(
        Lexical.bm25fStore(fieldDocs, fields, "doc_id"),
        Seq((7L, "apple cherry")).toDF("q_id", "qtext"),
        "qtext", "q_id", k = 5)
      .as[(Long, Long, Double, Int)].collect().sortBy(_._4).toSeq
    assert(mono == direct)
  }

  test("combFuse: min-max normalization per (list, query), degenerate " +
       "list pins to 1.0, CombMNZ multiplies by the list count") {
    val a = Seq( // list 0: scores 2.0 .. 10.0
      (1L, 100L, 10.0), (1L, 101L, 6.0), (1L, 102L, 2.0)
    ).toDF("q_id", "doc_id", "score")
    val b = Seq( // list 1: single entry → degenerate norm = 1.0
      (1L, 101L, 0.5)
    ).toDF("q_id", "doc_id", "score")
    val sum = Lexical.combFuse(Seq(a, b), k = 4)
      .as[(Long, Long, Double, Int)].collect()
      .map(r => r._2 -> r._3).toMap
    // norms list 0: 100 → 1.0, 101 → 0.5, 102 → 0.0; list 1: 101 → 1.0
    assert(sum(100L) == 1.0)
    assert(sum(101L) == 1.5)
    assert(sum(102L) == 0.0)
    val mnz = Lexical.combFuse(Seq(a, b), k = 4, mnz = true)
      .as[(Long, Long, Double, Int)].collect()
      .map(r => r._2 -> r._3).toMap
    assert(mnz(100L) == 1.0)  // one list × 1.0
    assert(mnz(101L) == 3.0)  // two lists × 1.5
    assert(mnz(102L) == 0.0)
    // rank: ties on rounded comb break doc asc
    val ranks = Lexical.combFuse(Seq(a, b), k = 4, mnz = true)
      .orderBy("rank").as[(Long, Long, Double, Int)].collect().map(_._2)
    assert(ranks.toSeq == Seq(101L, 100L, 102L))
  }

  test("no shared terms emits nothing; k clamps the list") {
    val qs = Seq((7L, "grape kiwi")).toDF("q_id", "qtext")
    assert(Lexical.bm25TopK(docs, "text", "doc_id",
      qs, "qtext", "q_id", k = 3).count() == 0)

    val q2 = Seq((8L, "cherry")).toDF("q_id", "qtext")
    val r = Lexical.bm25TopK(docs, "text", "doc_id",
      q2, "qtext", "q_id", k = 1).collect()
    assert(r.length == 1)
    assert(r.head.getAs[Long]("doc_id") == 2L) // tf 3 beats tf 1
  }

  test("prebuilt-store path ≡ direct path") {
    val post = Lexical.postings(docs, "text", "doc_id").persist()
    val qs = Seq((1L, "banana durian"), (2L, "apple")).toDF("q_id", "qtext")
    val direct = Lexical.bm25TopK(docs, "text", "doc_id",
      qs, "qtext", "q_id", k = 4).as[(Long, Long, Double, Int)]
      .collect().sortBy(r => (r._1, r._4)).toSeq
    val stored = Lexical.bm25TopKFromStore(post, Lexical.docFreq(post),
      Lexical.corpusStats(docs, "text"),
      qs, "qtext", "q_id", k = 4).as[(Long, Long, Double, Int)]
      .collect().sortBy(r => (r._1, r._4)).toSeq
    assert(direct == stored)
    post.unpersist()
  }

  test("truncateByMass: full mass keeps everything; flat terms keep " +
       "~mass·df; peaked terms keep the deciding head") {
    val full = Lexical.bm25Store(docs, "text", "doc_id")
    val everything = Lexical.truncateByMass(full, 1.0)
      .as[(String, Long, Double)].collect().toSet
    assert(everything == full.as[(String, Long, Double)].collect().toSet)

    // cherry: doc2 (tf 3, dl 4) dominates doc1 (tf 1, dl 2) — at a
    // low mass fraction only the dominant posting survives
    val peaked = Lexical.truncateByMass(full, 0.5)
      .filter(col("term") === "cherry").collect()
    assert(peaked.length == 1)
    assert(peaked.head.getAs[Long]("doc_id") == 2L)

    // a flat two-posting term at mass 0.5 keeps exactly the first
    // (ordered contrib desc, doc asc); coverage is >= the target
    val banana = Lexical.truncateByMass(full, 0.5)
      .filter(col("term") === "banana").collect()
    assert(banana.length >= 1)
    val bananaFull = full.filter(col("term") === "banana")
      .agg(sum("contrib")).head().getDouble(0)
    assert(banana.map(_.getAs[Double]("contrib")).sum >= 0.5 * bananaFull)

    // mass-truncated serving stays exact at mass = 1.0
    val qs = Seq((1L, "cherry banana")).toDF("q_id", "qtext")
    val viaMass = Lexical.bm25TopKFromContribStore(everything.toSeq
        .toDF("term", "doc_id", "contrib"),
      qs, "qtext", "q_id", k = 4).as[(Long, Long, Double, Int)]
      .collect().sortBy(_._4).toSeq
    val direct = Lexical.bm25TopK(docs, "text", "doc_id",
        qs, "qtext", "q_id", k = 4).as[(Long, Long, Double, Int)]
      .collect().sortBy(_._4).toSeq
    assert(viaMass == direct)
  }

  test("rrfFuse: asymmetric lists, c = 60, rank ties break doc asc") {
    val a = Seq((1L, 10L, 1), (1L, 11L, 2)).toDF("q_id", "doc_id", "rank")
    val b = Seq((1L, 11L, 1), (1L, 12L, 2)).toDF("q_id", "doc_id", "rank")
    val got = Lexical.rrfFuse(Seq(a, b), k = 3)
      .as[(Long, Long, Double, Int)].collect().sortBy(_._4).toSeq
    def r9(x: Double) = math.rint(x * 1e9) / 1e9
    // doc 11: 1/62 + 1/61; doc 10: 1/61; doc 12: 1/62
    assert(got.map(_._2) == Seq(11L, 10L, 12L))
    assert(got(0)._3 == r9(1.0 / 62 + 1.0 / 61))
    assert(got(1)._3 == r9(1.0 / 61))
    assert(got(2)._3 == r9(1.0 / 62))
    assert(got.map(_._4) == Seq(1, 2, 3))
  }

  test("contrib store: untruncated serving ≡ direct bm25TopK; " +
       "impact truncation keeps each term's top-m and stays exact at m ≥ max df") {
    val qs = Seq((1L, "cherry banana"), (2L, "apple fig")).toDF("q_id", "qtext")
    val direct = Lexical.bm25TopK(docs, "text", "doc_id",
      qs, "qtext", "q_id", k = 4).as[(Long, Long, Double, Int)]
      .collect().sortBy(r => (r._1, r._4)).toSeq

    val full = Lexical.bm25Store(docs, "text", "doc_id")
    val viaStore = Lexical.bm25TopKFromContribStore(full,
      qs, "qtext", "q_id", k = 4).as[(Long, Long, Double, Int)]
      .collect().sortBy(r => (r._1, r._4)).toSeq
    assert(viaStore == direct)

    // m = 3 ≥ every df in this corpus → still exact
    val t3 = Lexical.bm25Store(docs, "text", "doc_id",
      maxPostingsPerTerm = 3)
    val viaT3 = Lexical.bm25TopKFromContribStore(t3,
      qs, "qtext", "q_id", k = 4).as[(Long, Long, Double, Int)]
      .collect().sortBy(r => (r._1, r._4)).toSeq
    assert(viaT3 == direct)

    // m = 1 keeps exactly one (highest-contrib, doc-asc tie) posting
    // per term
    val t1 = Lexical.bm25Store(docs, "text", "doc_id",
      maxPostingsPerTerm = 1)
    val perTerm = t1.groupBy("term").count().collect()
    assert(perTerm.forall(_.getLong(1) == 1L))
    // cherry's survivor is doc 2 (tf 3 dominates contrib)
    val cherry = t1.filter(col("term") === "cherry").collect()
    assert(cherry.head.getAs[Long]("doc_id") == 2L)
  }

  test("rrfFuse k bound holds and exact rrf ties order by doc id") {
    val a = Seq((5L, 1L, 1), (5L, 2L, 1)).toDF("q_id", "doc_id", "rank")
      .filter(col("doc_id") === 1L)
    val b = Seq((5L, 2L, 1)).toDF("q_id", "doc_id", "rank")
    val got = Lexical.rrfFuse(Seq(a, b), k = 1).collect()
    assert(got.length == 1)
    assert(got.head.getAs[Long]("doc_id") == 1L) // tie 1/61 each → doc asc
  }

  test("empty-token convention: \"\" is a dl-carrier in postings but " +
       "never a servable query term — a whitespace query emits nothing") {
    val withEmpty = docs.unionByName(
      Seq((9L, "   ")).toDF("doc_id", "text"))
    // postings keep the empty doc's [""] row (dl carrier)...
    val p = Lexical.postings(withEmpty, "text", "doc_id")
    assert(p.filter(col("doc_id") === 9L && col("term") === "").count() == 1)
    // ...so the stats derivations still see every document
    val st = Lexical.corpusStatsFromPostings(p).head()
    assert(st.getLong(0) == 6L)
    // a whitespace-only query has no terms → no candidates → no rows,
    // on every batch serving surface
    val wsQ = Seq((1L, "   "), (2L, "")).toDF("q_id", "qtext")
    assert(Lexical.bm25TopK(withEmpty, "text", "doc_id",
      wsQ, "qtext", "q_id", k = 5).count() == 0)
    assert(Lexical.bm25TopKFromContribStore(
      Lexical.bm25Store(withEmpty, "text", "doc_id"),
      wsQ, "qtext", "q_id", k = 5).count() == 0)
    assert(Lexical.bm25TopKLive(p, nDocs = 6L, avgdl = 2.5,
      wsQ, "qtext", "q_id", k = 5).count() == 0)
    // a REAL query against the corpus containing the empty doc is
    // unchanged: the empty doc can never surface
    val qs = Seq((1L, "apple")).toDF("q_id", "qtext")
    val got = Lexical.bm25TopK(withEmpty, "text", "doc_id",
      qs, "qtext", "q_id", k = 5).select("doc_id")
      .as[Long].collect().toSet
    assert(got == Set(0L, 4L))
  }

  test("builders are lazy: bm25fStore / bm25fTopK run NO job at " +
       "plan-build time") {
    val fields = Seq(Lexical.FieldSpec("title", 2.0),
      Lexical.FieldSpec("body", 1.0))
    val fdocs = docs.select(col("doc_id"), col("text").as("title"),
      col("text").as("body"))
    val qs = Seq((1L, "apple")).toDF("q_id", "qtext")
    def jobsDuring(group: String)(body: => Unit): Array[Int] = {
      spark.sparkContext.setJobGroup(group, group)
      try body finally spark.sparkContext.clearJobGroup()
      Thread.sleep(300) // listener drain; lag can only hide a FAILURE
      spark.sparkContext.statusTracker.getJobIdsForGroup(group)
    }
    // positive control: the probe actually sees jobs
    val ctl = jobsDuring("graft-lex-ctl") {
      docs.count(); ()
    }
    assert(ctl.nonEmpty, "job probe is blind — control action missing")
    var store: org.apache.spark.sql.DataFrame = null
    var topk: org.apache.spark.sql.DataFrame = null
    val built = jobsDuring("graft-lex-lazy") {
      store = Lexical.bm25fStore(fdocs, fields, "doc_id")
      topk = Lexical.bm25fTopK(fdocs, fields, "doc_id",
        qs, "qtext", "q_id", k = 3)
    }
    assert(built.isEmpty,
      s"plan-build ran ${built.length} job(s) — builders must be lazy")
    // and the lazy plans still answer
    assert(store.count() > 0 && topk.count() > 0)
  }

  test("rotating persist: repeated one-shot builder calls hold a " +
       "bounded cache footprint") {
    val before = spark.sparkContext.getPersistentRDDs.size
    (0 until 4).foreach { i =>
      val qs = Seq((i.toLong, "apple cherry")).toDF("q_id", "qtext")
      Lexical.bm25TopK(docs, "text", "doc_id",
        qs, "qtext", "q_id", k = 3).count()
      ()
    }
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after - before <= 1,
      s"cache grew by ${after - before} over 4 one-shot calls — " +
        "rotation must release the previous postings")
  }

  test("rotating persist keeps a same-plan cache: consecutive " +
       "sdmTopKFromPostings calls over one postings frame leave the " +
       "corpus stats cached") {
    val post = Lexical.postingsPositional(docs, "text", "doc_id")
    val qs = Seq((1L, "apple cherry")).toDF("q_id", "qtext")
    val stats = Lexical.corpusStatsFromPostings(post)
    val runs = (0 until 3).map { i =>
      val got = Lexical.sdmTopKFromPostings(post, qs, "qtext", "q_id",
        k = 3).collect().toSeq
      assert(stats.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
        s"call ${i + 1} left the corpus stats uncached")
      got
    }
    assert(runs.distinct.size == 1)
  }

  test("one-shot bm25TopK / bm25fTopK fold scan-locally (round 17): " +
       "no (q_id, doc_id)-keyed exchange anywhere in the executed " +
       "plan, results identical to the exchange-fold store path") {
    val qs = Seq((7L, "apple cherry")).toDF("q_id", "qtext")
    def shuffleKeys(df: org.apache.spark.sql.DataFrame): Seq[String] = {
      df.count() // finalize AQE
      graft.tools.PlanIntrospect.nodes(df.queryExecution.executedPlan)
        .collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
            e.outputPartitioning.toString
        }
    }
    val direct = Lexical.bm25TopK(docs, "text", "doc_id",
      qs, "qtext", "q_id", k = 5)
    assert(!shuffleKeys(direct).exists(p =>
        p.contains("q_id") && p.contains("doc_id")),
      "one-shot bm25TopK still exchanges the candidate fold")
    // bit-identical to the serving (exchange-fold) path over the same
    // postings
    val post = Lexical.postings(docs, "text", "doc_id")
    val stored = Lexical.bm25TopKFromStore(post, Lexical.docFreq(post),
        Lexical.corpusStatsFromPostings(post), qs, "qtext", "q_id", k = 5)
      .as[(Long, Long, Double, Int)].collect().sortBy(_._4).toSeq
    val got = direct.as[(Long, Long, Double, Int)].collect()
      .sortBy(_._4).toSeq
    assert(got == stored)
    val directF = Lexical.bm25fTopK(fieldDocs, fields, "doc_id",
      qs, "qtext", "q_id", k = 5)
    assert(!shuffleKeys(directF).exists(p =>
        p.contains("q_id") && p.contains("doc_id")),
      "one-shot bm25fTopK still exchanges the candidate fold")
  }

  test("scan-local fold falls back to the exchange fold on a " +
       "non-contiguous candidate plan (round 18): a shuffled postings " +
       "frame yields the exchange-fold result, not a require-failure") {
    val qs = Seq((7L, "apple cherry"), (8L, "banana")).toDF("q_id", "qtext")
    // the one-shot builders fold scan-locally because they build their
    // own postings in-plan, so a SHUFFLED input reaches the fold
    // doc-contiguous; a
    // REPARTITIONED store (a doc's postings scattered across
    // partitions — the hazard the revisit guard would crash on) is
    // served through the exchange fold. Same rows either way.
    val shuffledDocs = docs.repartition(4, col("text"))
    val post = Lexical.postings(docs, "text", "doc_id")
      .repartition(4, col("term"))
    val dfreq = Lexical.docFreq(post)
    val stats = Lexical.corpusStatsFromPostings(post)
    val viaLocalRequest = Lexical.bm25TopK(shuffledDocs, "text", "doc_id",
        qs, "qtext", "q_id", k = 5)
      .as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4))
      .toSeq
    val viaExchange = Lexical.bm25TopKFromStore(post, dfreq,
        stats, qs, "qtext", "q_id", k = 5)
      .as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4))
      .toSeq
    assert(viaLocalRequest == viaExchange)
    assert(viaLocalRequest.nonEmpty)
    // the phrase twin: the one-shot phrase fold over a shuffled input
    // and the exchange fold over a shuffled positional store agree
    val posPost = Lexical.postingsPositional(docs, "text", "doc_id")
      .repartition(4, col("term"))
    val phq = Seq((9L, "apple cherry")).toDF("q_id", "qtext")
    val phLocal = Lexical.phraseTopK(shuffledDocs, "text", "doc_id",
        phq, "qtext", "q_id", k = 5)
      .as[(Long, Long, Double, Int)].collect().sortBy(_._4).toSeq
    val phExchange = Lexical.phraseTopKFromPostings(posPost, phq,
        "qtext", "q_id", k = 5)
      .as[(Long, Long, Double, Int)].collect().sortBy(_._4).toSeq
    assert(phLocal == phExchange)
  }

  test("one-shot builders over any input layout ≡ the store path, " +
       "bit for bit, with no (q_id, doc_id) exchange") {
    // fixed-seed corpus: 240 docs over a 24-word vocabulary (skewed
    // lengths, repeated terms, adjacent pairs the phrases can hit)
    val rnd = new scala.util.Random(20261018L)
    val vocab = (0 until 24).map(i => s"w$i")
    val base = (0 until 240).map { i =>
      val n = 1 + rnd.nextInt(14)
      (i.toLong, Seq.fill(n)(vocab(rnd.nextInt(rnd.nextInt(24) + 1)))
        .mkString(" "))
    }.toDF("doc_id", "text")
    val qs = Seq((1L, "w0 w3"), (2L, "w1"), (3L, "w2 w5 w7"),
      (4L, "w0 w1"), (5L, "w17 w2")).toDF("q_id", "qtext")
    val fieldsL = Seq(Lexical.FieldSpec("title", 2.0, 0.75),
      Lexical.FieldSpec("body", 1.0, 0.5))
    def fieldify(d: org.apache.spark.sql.DataFrame) = d.select(
      col("doc_id"),
      concat_ws(" ", slice(split(trim(col("text")), "\\s+"), 1, 2))
        .as("title"),
      col("text").as("body"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Double, Int)].collect()
        .map(r => (r._1, r._4, r._2,
          java.lang.Double.doubleToRawLongBits(r._3)))
        .sorted.toSeq
    def foldExchanges(df: org.apache.spark.sql.DataFrame): Seq[String] = {
      df.count() // finalize AQE
      graft.tools.PlanIntrospect.nodes(df.queryExecution.executedPlan)
        .collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
            e.outputPartitioning.toString
        }
        .filter(p => p.contains("q_id") && p.contains("doc_id"))
    }
    // the store paths over the plain corpus
    val post = Lexical.postings(base, "text", "doc_id")
    val wantBm25 = rows(Lexical.bm25TopKFromStore(post, Lexical.docFreq(post),
      Lexical.corpusStatsFromPostings(post), qs, "qtext", "q_id", k = 7))
    val packed = Lexical.postingsFieldsPacked(fieldify(base), fieldsL,
      "doc_id")
    val wantBm25f = rows(Lexical.bm25TopKFromFactoredStore(
      Lexical.bm25fSatStore(fieldify(base), fieldsL, "doc_id"),
      Lexical.docFreqPacked(packed), 240L, qs, "qtext", "q_id", k = 7))
    val wantPhrase = rows(Lexical.phraseTopKFromPostings(
      Lexical.postingsPositional(base, "text", "doc_id"), qs,
      "qtext", "q_id", k = 7))
    assert(wantBm25.nonEmpty && wantBm25f.nonEmpty && wantPhrase.nonEmpty)
    val key = pmod(xxhash64(lit(7L), col("doc_id")), lit(5L))
    val layouts = Seq(
      "repartitioned by a random key" ->
        base.repartition(1 + rnd.nextInt(6), key),
      "repartitioned round-robin" -> base.repartition(1 + rnd.nextInt(6)),
      "persisted" -> base.repartition(3, key)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
      "cached" -> base.repartition(4, col("text")).cache(),
      "sorted within partitions" -> base.repartition(3)
        .sortWithinPartitions(col("text").desc),
      "globally sorted" -> base.orderBy(col("text")),
      "a union of splits" -> base.filter(col("doc_id") % 3 === 0)
        .unionByName(base.filter(col("doc_id") % 3 =!= 0).repartition(2)))
    layouts.foreach { case (name, d) =>
      val bm25 = Lexical.bm25TopK(d, "text", "doc_id", qs, "qtext", "q_id",
        k = 7)
      assert(rows(bm25) == wantBm25, s"bm25TopK over $name")
      assert(foldExchanges(bm25).isEmpty, s"bm25TopK over $name")
      val bm25f = Lexical.bm25fTopK(fieldify(d), fieldsL, "doc_id",
        qs, "qtext", "q_id", k = 7)
      assert(rows(bm25f) == wantBm25f, s"bm25fTopK over $name")
      assert(foldExchanges(bm25f).isEmpty, s"bm25fTopK over $name")
      val phrase = Lexical.phraseTopK(d, "text", "doc_id", qs, "qtext",
        "q_id", k = 7)
      assert(rows(phrase) == wantPhrase, s"phraseTopK over $name")
      assert(foldExchanges(phrase).isEmpty, s"phraseTopK over $name")
      d.unpersist()
    }
  }

  test("packed multi-field postings (round 17): df/stats/sat " +
       "bit-identical to the flat layout, and the packed sat build " +
       "plans NO (term, doc)-keyed exchange — the field fold is " +
       "scan-local") {
    val packed = Lexical.postingsFieldsPacked(fieldDocs, fields, "doc_id")
    val flat = FlatBm25fReference.postingsFields(fieldDocs, fields,
      "doc_id")
    // any-field document frequency — identical pairs
    val dfP = Lexical.docFreqPacked(packed)
      .as[(String, Long)].collect().sortBy(_._1).toSeq
    val dfF = FlatBm25fReference.docFreqAnyField(flat)
      .as[(String, Long)].collect().sortBy(_._1).toSeq
    assert(dfP == dfF)
    // per-field stats — identical exact integers and divisions
    val stP = Lexical.fieldStatsFromPacked(packed)
      .as[(Int, Long, Double)].collect().sortBy(_._1).toSeq
    val stF = FlatBm25fReference.fieldStatsFromPostings(flat)
      .as[(Int, Long, Double)].collect().sortBy(_._1).toSeq
    assert(stP == stF)
    // sat: the packed SCAN-LOCAL fold vs the flat exchange fold over
    // the same avgdls — the same fc doubles in the same field-asc
    // order, so equality is exact (==), not approximate
    val avgdls = stF.sortBy(_._1).map(_._3)
    val satP = Lexical.bm25fSatStore(fieldDocs, fields, "doc_id")
    val satF = FlatBm25fReference.bm25fSatFromPostings(flat, avgdls, fields)
    val rowsP = satP.as[(String, Long, Double)].collect()
      .sortBy(r => (r._1, r._2)).toSeq
    val rowsF = satF.as[(String, Long, Double)].collect()
      .sortBy(r => (r._1, r._2)).toSeq
    assert(rowsP == rowsF)
    // plan: the packed sat subtree must not exchange on (term, doc) —
    // the flat fold's candidate-volume shuffle is gone
    satP.count() // finalize AQE
    val shuffles = graft.tools.PlanIntrospect.nodes(
        satP.queryExecution.executedPlan)
      .collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
          e.outputPartitioning.toString
      }
    assert(!shuffles.exists(p => p.contains("term") && p.contains("doc_id")),
      s"packed sat build still shuffles on (term, doc): $shuffles")
  }
}
