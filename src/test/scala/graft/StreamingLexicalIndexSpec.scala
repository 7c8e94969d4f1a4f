package graft

import org.apache.spark.sql.functions._

import graft.bank.TxTable
import graft.operators.Lexical
import graft.streaming.{AnnGenerations, StreamingLexicalIndex => Idx}

/** Lexical store maintenance: maintained postings ≡ from-scratch under
  * batching and replay, exact stats rollup, live serving ≡ direct
  * batch, and the staleness loop (no-op at parity, fires on growth,
  * post-regen parity, generation pointer monotonic).
  */
class StreamingLexicalIndexSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(p: String) =
    java.nio.file.Files.createTempDirectory(p).toString

  private def corpus(n: Int, off: Int = 0) =
    (0 until n).map { i =>
      val id = (i + off).toLong
      val words = Seq("alpha", "beta", "gamma", "delta", "eps")
      val text = (0 to (id % 4).toInt)
        .map(j => words(((id + j) % words.size).toInt)).mkString(" ")
      (id, text)
    }.toDF("doc_id", "text")

  test("stats on an EMPTY store fails loudly with a bootstrap-first " +
       "diagnosis, not a bare NPE") {
    val root = tmp("graft-lexidx-empty")
    val statsTx = new TxTable(spark, s"$root/stats")
    // commit a schema-only empty frame so read() resolves columns but
    // the sum aggregates to NULL — the exact serve-before-bootstrap shape
    statsTx.append(corpus(1).limit(0)
      .select(lit(0L).as("n_docs"), lit(0L).as("sum_dl"),
        lit("x").as("src_tag")))
    val e = intercept[IllegalArgumentException](Idx.stats(statsTx))
    assert(e.getMessage.contains("bootstrap"))
  }

  test("maintained postings ≡ from-scratch; replayed batch is a no-op; " +
       "stats rollup exact") {
    val root = tmp("graft-lexidx")
    val postTx = new TxTable(spark, s"$root/post")
    val statsTx = new TxTable(spark, s"$root/stats")
    val base = corpus(40)
    val more = corpus(20, off = 40)
    Idx.bootstrap(base, "doc_id", "text", postTx, statsTx)

    val docsDir = s"$root/docs"
    more.repartition(3).write.mode("overwrite").parquet(docsDir)
    Idx.run(spark, docsDir, postTx, statsTx, s"$root/cp",
      maxFilesPerTrigger = 1).awaitTermination()
    // replay: a second drain over the same files must add nothing
    val v = postTx.latestVersion()
    Idx.run(spark, docsDir, postTx, statsTx, s"$root/cp2",
      maxFilesPerTrigger = 1).awaitTermination()
    // new checkpoint reprocesses the files; appendOnce tags must
    // swallow every duplicate commit
    assert(postTx.read().count() ==
      Lexical.postings(base.unionByName(more), "text", "doc_id").count())

    val union = base.unionByName(more)
    val expect = Lexical.postings(union, "text", "doc_id")
      .as[(String, Long, Long, Long)].collect().toSet
    val got = postTx.read().select("term", "doc_id", "dl", "tf")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(got == expect)

    val (n, _, avgdl) = Idx.stats(statsTx)
    assert(n == 60L)
    val direct = Lexical.corpusStats(union, "text").head()
    assert(avgdl == direct.getDouble(1))
    assert(v == postTx.latestVersion() ||
      postTx.read().count() == expect.size)
  }

  test("live serving off the maintained store ≡ direct bm25TopK") {
    val root = tmp("graft-lexserve")
    val postTx = new TxTable(spark, s"$root/post")
    val statsTx = new TxTable(spark, s"$root/stats")
    val docs = corpus(50)
    Idx.bootstrap(docs, "doc_id", "text", postTx, statsTx)
    val qs = Seq((1L, "alpha gamma"), (2L, "beta")).toDF("q_id", "qtext")
    val live = Idx.serve(postTx, statsTx, qs, "qtext", "q_id", k = 5)
      .as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4))
      .toSeq
    val direct = Lexical.bm25TopK(docs, "text", "doc_id",
        qs, "qtext", "q_id", k = 5)
      .as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4))
      .toSeq
    assert(live == direct)
  }

  test("maintained positional store: phrase and SDM serving ≡ a " +
       "from-scratch positional build; a replayed drain appends nothing") {
    val root = tmp("graft-lexpos")
    val postTx = new TxTable(spark, s"$root/post")
    val statsTx = new TxTable(spark, s"$root/stats")
    val all = corpus(50)
    // 80 % bootstrapped, then two 10 % batches through the maintainer
    Idx.bootstrapP(corpus(40), "doc_id", "text", postTx, statsTx)
    val docsDir = s"$root/docs"
    Seq(40, 45).foreach(off => corpus(5, off).coalesce(1)
      .write.mode("append").parquet(docsDir))
    def drain(): Unit = Idx.runP(spark, docsDir, postTx, statsTx,
      s"$root/cp", maxFilesPerTrigger = 1, compactEvery = 2)
      .awaitTermination()
    drain()
    val scratch = Lexical.postingsPositional(all, "text", "doc_id")
    def rowSet(df: org.apache.spark.sql.DataFrame) =
      df.select("term", "doc_id", "dl", "tf", "positions").collect().toSet
    assert(rowSet(postTx.read()) == rowSet(scratch))

    val qs = Seq((1L, "alpha beta"), (2L, "gamma delta"),
      (3L, "eps alpha beta"), (4L, "delta")).toDF("q_id", "qtext")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("q_id", "rank").collect().toSeq
    val phrase = rows(Idx.servePhrase(postTx, statsTx, qs, "qtext", "q_id",
      k = 3))
    assert(phrase.nonEmpty)
    assert(phrase == rows(Lexical.phraseTopKFromPostings(scratch, qs,
      "qtext", "q_id", k = 3)))
    assert(rows(Idx.serveSdm(postTx, statsTx, qs, "qtext", "q_id", k = 3))
      == rows(Lexical.sdmTopKFromPostings(scratch, qs, "qtext", "q_id",
        k = 3)))

    // the same checkpoint has seen both files: a replay commits nothing
    val (postV, statsV) = (postTx.latestVersion(), statsTx.latestVersion())
    drain()
    assert(postTx.latestVersion() == postV)
    assert(statsTx.latestVersion() == statsV)
  }

  test("generation-following serving: a mid-stream swap takes effect " +
       "on the next batch without a restart") {
    val root = tmp("graft-lexfollow")
    val postTx = new graft.bank.TxTable(spark, s"$root/post")
    val statsTx = new graft.bank.TxTable(spark, s"$root/stats")
    val gens = new AnnGenerations(spark, s"$root/gens")
    val base = corpus(40)
    Idx.bootstrap(base, "doc_id", "text", postTx, statsTx)
    Idx.buildGeneration(gens, postTx, statsTx)

    val qDir = s"$root/queries"
    val served = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    def drain(): Unit =
      Idx.bm25ServeStream(
        spark.readStream
          .schema(Idx.docSchema("q_id", "qtext")).parquet(qDir),
        gens, "qtext", "q_id", k = 2, s"$root/cp") { out =>
        served ++= out.select("q_id", "gen")
          .collect().map(r => (r.getLong(0), r.getLong(1)))
        ()
      }.awaitTermination()

    Seq((1L, "alpha")).toDF("q_id", "qtext")
      .write.mode("append").parquet(qDir)
    drain()
    assert(served.toSet == Set((1L, 0L))) // served by gen 0

    // grow the corpus, regenerate → gen 1; SAME checkpoint, new files
    val more = corpus(20, off = 40)
    postTx.appendOnce(
      Lexical.postings(more, "text", "doc_id").sort("term"),
      tag = "lex-batch-follow")
    statsTx.appendOnce(
      more.select(size(split(trim(col("text")), "\\s+")).cast("long")
          .as("dl"))
        .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
        .withColumn("src_tag", lit("lex-batch-follow")),
      tag = "lex-stats-follow")
    assert(Idx.regenerateIfStale(gens, postTx, statsTx).contains(1L))

    served.clear()
    Seq((2L, "alpha")).toDF("q_id", "qtext")
      .write.mode("append").parquet(qDir)
    drain()
    assert(served.nonEmpty && served.forall(_._2 == 1L),
      s"post-swap batch must serve from gen 1: $served")
  }

  private def appendArrivals(postTx: TxTable, statsTx: TxTable,
                             more: org.apache.spark.sql.DataFrame,
                             tag: String): Unit = {
    postTx.appendOnce(
      Lexical.postings(more, "text", "doc_id").sort("term"),
      tag = s"lex-batch-$tag")
    statsTx.appendOnce(
      more.select(size(split(trim(col("text")), "\\s+")).cast("long")
          .as("dl"))
        .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
        .withColumn("src_tag", lit(tag)),
      tag = s"lex-stats-$tag")
    ()
  }

  test("compactEvery: the maintained store re-sorts globally on " +
       "schedule — content-neutral, fewer files, serving unchanged") {
    val root = tmp("graft-lexcompact")
    val postTx = new TxTable(spark, s"$root/post")
    val statsTx = new TxTable(spark, s"$root/stats")
    val all = corpus(40)
    val docsDir = s"$root/docs"
    all.repartition(4).write.mode("overwrite").parquet(docsDir)
    Idx.run(spark, docsDir, postTx, statsTx, s"$root/cp",
      maxFilesPerTrigger = 1, compactEvery = 2).awaitTermination()
    // 4 batches with compactEvery=2 → at least two global re-sorts;
    // the live file set is the last compaction's output (+ ≤1 batch)
    val files = postTx.snapshot().size
    assert(files <= spark.sparkContext.defaultParallelism + 4,
      s"store must be compacted, got $files files")
    // content-neutral: row-set equal to a from-scratch build
    val got = postTx.read().select("term", "doc_id", "dl", "tf")
      .as[(String, Long, Long, Long)].collect().toSet
    val expect = Lexical.postings(all, "text", "doc_id")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(got == expect)
    // and serving off the compacted store ≡ direct batch
    val qs = Seq((1L, "alpha beta")).toDF("q_id", "qtext")
    val served = Idx.serve(postTx, statsTx, qs, "qtext", "q_id", k = 3)
      .as[(Long, Long, Double, Int)].collect().toSet
    val direct = Lexical.bm25TopK(all, "text", "doc_id",
        qs, "qtext", "q_id", k = 3)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(served == direct)
  }

  test("factored loop: delta refresh is arrival-sized and serves " +
       "bit-identical to a full factored rebuild at the baked avgdl") {
    val root = tmp("graft-flex-delta")
    val postTx = new TxTable(spark, s"$root/post")
    val statsTx = new TxTable(spark, s"$root/stats")
    val satTx = new TxTable(spark, s"$root/sat")
    val gens = new AnnGenerations(spark, s"$root/fgens")
    val base = corpus(40)
    Idx.bootstrap(base, "doc_id", "text", postTx, statsTx)
    assert(Idx.buildFactoredGeneration(gens, postTx, statsTx, satTx) == 0L)
    assert(Idx.refreshFactored(gens, postTx, statsTx, satTx)
      == Idx.FactoredFresh)

    // +50% documents, same length distribution: N leaves the band,
    // avgdl stays inside → the DELTA path must fire
    val more = corpus(20, off = 40)
    appendArrivals(postTx, statsTx, more, "flex1")
    val satRowsBefore = satTx.read().count()
    val r = Idx.refreshFactored(gens, postTx, statsTx, satTx)
    assert(r == Idx.FactoredDelta(1L), s"expected delta path: $r")
    // arrival-sized: the sat table grew by EXACTLY the delta postings
    val deltaPost = Lexical.postings(more, "text", "doc_id").count()
    assert(satTx.read().count() == satRowsBefore + deltaPost)

    // served top-k ≡ a from-scratch factored rebuild at the SAME
    // (N_now, avgdl0) — bit for bit, scores included
    val union = base.unionByName(more)
    val qs = Seq((1L, "alpha beta"), (2L, "gamma"), (3L, "eps delta"))
      .toDF("q_id", "qtext")
    val served = Idx.serveFactored(gens, satTx, qs, "qtext", "q_id", k = 3)
      .as[(Long, Long, Double, Int)].collect().toSet
    val avgdl0 = Lexical.corpusStats(base, "text").head().getDouble(1)
    val unionPost = Lexical.postings(union, "text", "doc_id")
    val full = Lexical.bm25TopKFromFactoredStore(
        Lexical.bm25SatFromPostings(unionPost, avgdl0),
        Lexical.docFreq(unionPost), nDocs = 60L,
        qs, "qtext", "q_id", k = 3)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(served == full)
    // and the merged df table is row-set-equal to a full docFreq pass
    val (_, dfTx, _) = gens.current().get
    val gotDf = dfTx.read().as[(String, Long)].collect().toSet
    val expDf = Lexical.docFreq(unionPost).as[(String, Long)].collect().toSet
    assert(gotDf == expDf)
    // at parity again
    assert(Idx.refreshFactored(gens, postTx, statsTx, satTx)
      == Idx.FactoredFresh)
  }

  test("factored loop: avgdl drift out of band re-bakes the sat epoch; " +
       "the old generation's pinned snapshot survives the overwrite") {
    val root = tmp("graft-flex-rebake")
    val postTx = new TxTable(spark, s"$root/post")
    val statsTx = new TxTable(spark, s"$root/stats")
    val satTx = new TxTable(spark, s"$root/sat")
    val gens = new AnnGenerations(spark, s"$root/fgens")
    val base = corpus(40) // avgdl 2.5
    Idx.bootstrap(base, "doc_id", "text", postTx, statsTx)
    Idx.buildFactoredGeneration(gens, postTx, statsTx, satTx)
    val satV0 = satTx.latestVersion()
    val c0 = satTx.read(Some(satV0)).count()

    // 20 ten-token docs: union avgdl 2.5 → 5.0 (2000‰) — out of band
    val long = (0 until 20).map(i =>
      ((40 + i).toLong, Seq.fill(10)("alpha").mkString(" ")))
      .toDF("doc_id", "text")
    appendArrivals(postTx, statsTx, long, "flex2")
    val r = Idx.refreshFactored(gens, postTx, statsTx, satTx)
    assert(r == Idx.FactoredFull(1L), s"expected full re-bake: $r")

    // serving reflects the NEW baked avgdl (exact vs rebuild)
    val union = base.unionByName(long)
    val qs = Seq((1L, "alpha")).toDF("q_id", "qtext")
    val served = Idx.serveFactored(gens, satTx, qs, "qtext", "q_id", k = 3)
      .as[(Long, Long, Double, Int)].collect().toSet
    val unionPost = Lexical.postings(union, "text", "doc_id")
    val avgdlNew = Lexical.corpusStats(union, "text").head().getDouble(1)
    val full = Lexical.bm25TopKFromFactoredStore(
        Lexical.bm25SatFromPostings(unionPost, avgdlNew),
        Lexical.docFreq(unionPost), nDocs = 60L,
        qs, "qtext", "q_id", k = 3)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(served == full)
    // time travel across the overwrite: gen 0's pinned sat version
    // still reads its complete pre-overwrite snapshot
    assert(satTx.read(Some(satV0)).count() == c0)
  }

  test("BM25F factored loop: delta refresh at a stable per-field avgdl, " +
       "served bit-identical to a full field-aware rebuild; a drifted " +
       "field re-bakes") {
    val fields = Seq(Lexical.FieldSpec("title", 2.0, 0.75),
      Lexical.FieldSpec("body", 1.0, 0.75))
    def fieldify(d: org.apache.spark.sql.DataFrame) = d.select(
      col("doc_id"),
      concat_ws(" ", slice(split(trim(col("text")), "\\s+"), 1, 2))
        .as("title"),
      col("text").as("body"))
    val root = tmp("graft-flexf")
    val postTx = new TxTable(spark, s"$root/post")
    val statsTx = new TxTable(spark, s"$root/stats")
    val satTx = new TxTable(spark, s"$root/sat")
    val gens = new AnnGenerations(spark, s"$root/fgens")
    val base = fieldify(corpus(40))
    Idx.bootstrapF(base, fields, "doc_id", postTx, statsTx)
    assert(Idx.buildFactoredGenerationF(gens, postTx, statsTx, satTx,
      fields) == 0L)
    assert(Idx.refreshFactoredF(gens, postTx, statsTx, satTx, fields)
      == Idx.FactoredFresh)

    val more = fieldify(corpus(20, off = 40))
    postTx.appendOnce(
      Lexical.postingsFieldsPacked(more, fields, "doc_id").sort("term"),
      tag = "flexf-arr")
    statsTx.appendOnce(
      fields.zipWithIndex.map { case (f, i) =>
        more.select(lit(i).as("field"),
          size(split(trim(col(f.textCol)), "\\s+")).cast("long").as("dl"))
      }.reduce(_ unionByName _)
        .groupBy("field")
        .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
        .withColumn("src_tag", lit("flexf-arr")),
      tag = "flexf-arr-stats")
    val r = Idx.refreshFactoredF(gens, postTx, statsTx, satTx, fields)
    assert(r == Idx.FactoredDelta(1L), s"expected delta path: $r")

    // served ≡ full factored rebuild at the SAME (N, avgdl0 vector)
    val union = base.unionByName(more)
    val qs = Seq((1L, "alpha beta"), (2L, "gamma")).toDF("q_id", "qtext")
    val served = Idx.serveFactoredF(gens, satTx, qs, "qtext", "q_id", k = 3)
      .as[(Long, Long, Double, Int)].collect().toSet
    val avgdl0 = fields.zipWithIndex.map { case (f, i) =>
      val r0 = base.select(
        size(split(trim(col(f.textCol)), "\\s+")).cast("long").as("dl"))
        .agg(sum(col("dl")), count(lit(1))).head()
      r0.getLong(0).toDouble / r0.getLong(1).toDouble
    }
    val unionPost = FlatBm25fReference.postingsFields(union, fields,
      "doc_id")
    val full = Lexical.bm25TopKFromFactoredStore(
        FlatBm25fReference.bm25fSatFromPostings(unionPost, avgdl0, fields),
        FlatBm25fReference.docFreqAnyField(unionPost), nDocs = 60L,
        qs, "qtext", "q_id", k = 3)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(served == full)

    // one field's avgdl drifting out of band re-bakes (body 10× longer)
    val long = (0 until 30).map(i => ((60 + i).toLong,
      "alpha beta", Seq.fill(30)("alpha").mkString(" ")))
      .toDF("doc_id", "title", "body")
    postTx.appendOnce(
      Lexical.postingsFieldsPacked(long, fields, "doc_id").sort("term"),
      tag = "flexf-long")
    statsTx.appendOnce(
      fields.zipWithIndex.map { case (f, i) =>
        long.select(lit(i).as("field"),
          size(split(trim(col(f.textCol)), "\\s+")).cast("long").as("dl"))
      }.reduce(_ unionByName _)
        .groupBy("field")
        .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
        .withColumn("src_tag", lit("flexf-long")),
      tag = "flexf-long-stats")
    val r2 = Idx.refreshFactoredF(gens, postTx, statsTx, satTx, fields)
    assert(r2 == Idx.FactoredFull(2L), s"expected full re-bake: $r2")
  }

  test("BM25F loop refuses a flat-layout postings store with a " +
       "rebuild-with-bootstrapF message") {
    val fields = Seq(Lexical.FieldSpec("title", 2.0, 0.75),
      Lexical.FieldSpec("body", 1.0, 0.75))
    val base = corpus(20).select(col("doc_id"),
      concat_ws(" ", slice(split(trim(col("text")), "\\s+"), 1, 2))
        .as("title"),
      col("text").as("body"))
    val root = tmp("graft-flexf-flat")
    val postTx = new TxTable(spark, s"$root/post")
    val statsTx = new TxTable(spark, s"$root/stats")
    val satTx = new TxTable(spark, s"$root/sat")
    val gens = new AnnGenerations(spark, s"$root/fgens")
    // a store bootstrapped in the retired flat layout, with valid stats
    postTx.appendOnce(
      FlatBm25fReference.postingsFields(base, fields, "doc_id").sort("term"),
      tag = "flexf-baseline")
    statsTx.appendOnce(
      fields.zipWithIndex.map { case (f, i) =>
        base.select(lit(i).as("field"),
          size(split(trim(col(f.textCol)), "\\s+")).cast("long").as("dl"))
      }.reduce(_ unionByName _)
        .groupBy("field")
        .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
        .withColumn("src_tag", lit("flexf-baseline")),
      tag = "flexf-stats-baseline")
    def refused(f: => Any): Unit = {
      val e = intercept[IllegalStateException](f)
      assert(e.getMessage.contains("bootstrapF"), e.getMessage)
      assert(e.getMessage.contains("packed"), e.getMessage)
    }
    refused(Idx.buildFactoredGenerationF(gens, postTx, statsTx, satTx,
      fields))
    refused(Idx.refreshFactoredF(gens, postTx, statsTx, satTx, fields))
    refused(Idx.runF(spark, s"$root/docs", fields, postTx, statsTx,
      s"$root/ckpt", base.schema))
    assert(gens.current().isEmpty, "nothing was published")
    assert(satTx.latestVersion() == -1L, "no sat rows were written")
  }

  test("factored loop: a compacted postings range refuses the file-level " +
       "delta and takes the full path") {
    val root = tmp("graft-flex-compact")
    val postTx = new TxTable(spark, s"$root/post")
    val statsTx = new TxTable(spark, s"$root/stats")
    val satTx = new TxTable(spark, s"$root/sat")
    val gens = new AnnGenerations(spark, s"$root/fgens")
    Idx.bootstrap(corpus(40), "doc_id", "text", postTx, statsTx)
    Idx.buildFactoredGeneration(gens, postTx, statsTx, satTx)
    appendArrivals(postTx, statsTx, corpus(20, off = 40), "flex3")
    postTx.compact(Seq("term")) // rewrites the whole range
    val r = Idx.refreshFactored(gens, postTx, statsTx, satTx)
    assert(r == Idx.FactoredFull(1L), s"expected full fallback: $r")
  }

  test("factored loop: an ORPHANED sat commit (a refresh crashed between " +
       "its sat append and publish) forces the full path — duplicate " +
       "sat rows never serve") {
    val root = tmp("graft-flex-orphan")
    val postTx = new TxTable(spark, s"$root/post")
    val statsTx = new TxTable(spark, s"$root/stats")
    val satTx = new TxTable(spark, s"$root/sat")
    val gens = new AnnGenerations(spark, s"$root/fgens")
    val base = corpus(40)
    Idx.bootstrap(base, "doc_id", "text", postTx, statsTx)
    val postV0 = postTx.latestVersion()
    assert(Idx.buildFactoredGeneration(gens, postTx, statsTx, satTx) == 0L)
    val avgdl0 = Lexical.corpusStats(base, "text").head().getDouble(1)

    // arrivals land; a refresh starts, commits its sat delta for
    // (postV0, v1]... and dies before gens.publish — the orphan
    val more1 = corpus(20, off = 40)
    appendArrivals(postTx, statsTx, more1, "orph1")
    val v1 = postTx.latestVersion()
    satTx.appendOnce(
      Lexical.bm25SatFromPostings(
        postTx.readAppendedSince(postV0, Some(v1)), avgdl0).sort("term"),
      tag = s"flex-sat-$postV0-$v1")

    // MORE arrivals: the next refresh's delta range (postV0, v2] would
    // OVERLAP the orphan's (postV0, v1] — appending it would serve
    // every more1 (term, doc) sat row twice
    val more2 = corpus(20, off = 60)
    appendArrivals(postTx, statsTx, more2, "orph2")
    val r = Idx.refreshFactored(gens, postTx, statsTx, satTx)
    assert(r == Idx.FactoredFull(1L),
      s"unaccounted sat commits must force the full rebake: $r")

    // the published generation's pinned snapshot has NO duplicate
    // (term, doc) rows, and serving ≡ a from-scratch factored build
    val union = base.unionByName(more1).unionByName(more2)
    val satNow = satTx.read() // full build overwrote: latest IS the pin
    assert(satNow.count() ==
      satNow.select("term", "doc_id").distinct().count())
    val qs = Seq((1L, "alpha beta"), (2L, "gamma eps")).toDF("q_id", "qtext")
    val served = Idx.serveFactored(gens, satTx, qs, "qtext", "q_id", k = 3)
      .as[(Long, Long, Double, Int)].collect().toSet
    val avgdlNow = Lexical.corpusStats(union, "text").head().getDouble(1)
    val unionPost = Lexical.postings(union, "text", "doc_id")
    val full = Lexical.bm25TopKFromFactoredStore(
        Lexical.bm25SatFromPostings(unionPost, avgdlNow),
        Lexical.docFreq(unionPost), nDocs = 80L,
        qs, "qtext", "q_id", k = 3)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(served == full)
  }

  test("staleness loop: no-op at parity, fires on growth, post-regen " +
       "parity, pointer advances monotonically") {
    val root = tmp("graft-lexgen")
    val postTx = new TxTable(spark, s"$root/post")
    val statsTx = new TxTable(spark, s"$root/stats")
    val gens = new AnnGenerations(spark, s"$root/gens")
    val base = corpus(40)
    Idx.bootstrap(base, "doc_id", "text", postTx, statsTx)
    assert(Idx.staleReport(gens, statsTx).isEmpty) // no generation yet

    val g0 = Idx.buildGeneration(gens, postTx, statsTx)
    assert(g0 == 0L)
    val atParity = Idx.staleReport(gens, statsTx).get
    assert(atParity.nPermille == 1000L)
    assert(atParity.avgdlPermille == 1000L)
    assert(Idx.regenerateIfStale(gens, postTx, statsTx).isEmpty)

    // +50% documents → N permille 1500, loop fires
    val more = corpus(20, off = 40)
    postTx.appendOnce(
      Lexical.postings(more, "text", "doc_id").sort("term"),
      tag = "lex-batch-x")
    statsTx.appendOnce(
      more.select(size(split(trim(col("text")), "\\s+")).cast("long")
          .as("dl"))
        .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
        .withColumn("src_tag", lit("lex-batch-x")),
      tag = "lex-stats-x")
    val stale = Idx.staleReport(gens, statsTx).get
    assert(stale.nPermille == 1500L)
    val g1 = Idx.regenerateIfStale(gens, postTx, statsTx)
    assert(g1.contains(1L))
    assert(gens.currentGen().contains(1L))

    // the new generation serves the union exactly: contrib store ≡
    // bm25Store over the union corpus
    val union = base.unionByName(more)
    val (_, storeTx, _) = gens.current().get
    val got = storeTx.read().select("term", "doc_id", "contrib")
      .as[(String, Long, Double)].collect().toSet
    val expect = Lexical.bm25Store(union, "text", "doc_id")
      .as[(String, Long, Double)].collect().toSet
    assert(got == expect)

    val after = Idx.staleReport(gens, statsTx).get
    assert(after.nPermille == 1000L)
    assert(Idx.regenerateIfStale(gens, postTx, statsTx).isEmpty)
  }
}
