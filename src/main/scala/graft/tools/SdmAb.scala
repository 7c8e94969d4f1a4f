package graft.tools

import org.apache.spark.sql.functions._

/** A/B microbench: the round-18 native sdm_features candidate fold vs
  * the pre-round-18 sort_array(collect_list) + interpreted unigram
  * fold + per-pair positions-probing expression chain — same JVM, same
  * store, alternating runs (the PhraseAb protocol, which isolates the
  * fold change from host phases). Both arms force every output column
  * through the noop sink (guide §1.4 — count() would let the optimizer
  * prune s_t/pairs, which are exactly the work being measured); a
  * checksum pass asserts the two arms compute the same rows.
  * Usage: runMain graft.tools.SdmAb [docs] [queries] [reps]
  */
object SdmAb {
  def main(args: Array[String]): Unit = {
    val nd = if (args.nonEmpty) args(0).toLong else 1000000L
    val nq = if (args.length > 1) args(1).toLong else 500L
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = graft.core.GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    import graft.functions.TextFunctions
    import graft.operators.Lexical
    val k1 = 1.2
    val b = 0.75
    val window = 8
    val root = java.nio.file.Files.createTempDirectory("graft-sdmab").toString
    ScaleBench.synthDocs(spark, nd).write.mode("overwrite").parquet(s"$root/docs")
    val d = spark.read.parquet(s"$root/docs")
    val post = Lexical.postingsPositional(d, "text", "doc_id")
      .repartition(col("term")).sortWithinPartitions("term").persist()
    println(s"post_rows=${post.count()}")
    val every = math.max(1L, nd / nq)
    val qs = d.filter(col("doc_id") % every === 0)
      .select(col("doc_id").as("q_id"),
        concat_ws(" ", slice(TextFunctions.tokens(col("text")), 1, 3)).as("qtext"))
      .persist()
    println(s"queries=${qs.count()}")
    val stats = Lexical.corpusStatsFromPostings(post)
    val dfreq = Lexical.docFreq(post)
    val qpe = qs
      .select(col("q_id"),
        filter(TextFunctions.tokens(col("qtext")), t => t =!= lit("")).as("ph"))
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
      .persist()
    println(s"q_terms=${qT.count()}")
    val cand = post.join(broadcast(qT), Seq("term"))
    val satC = (tf: org.apache.spark.sql.Column,
                dl: org.apache.spark.sql.Column,
                avgdl: org.apache.spark.sql.Column) =>
      (tf.cast("double") * lit(k1 + 1.0)) /
        (tf.cast("double") +
          lit(k1) * (lit(1.0) - lit(b) +
            lit(b) * dl.cast("double") / avgdl))
    // OLD: the pre-round-18 expression pipeline, verbatim
    val oldFold = cand
      .groupBy(col("q_id"), col("doc_id"), col("dl"), col("m"),
        col("n_docs"), col("avgdl"))
      .agg(sort_array(collect_list(struct(col("j"), col("tf"),
        col("idf_t"), col("positions")))).as("es"))
      .withColumn("pairs", slice(transform(
        sequence(lit(1L), col("m")),
        i => {
          val e1 = get(filter(col("es"), e => e.getField("j") === i), lit(0))
          val e2 = get(filter(col("es"), e => e.getField("j") === i + 1),
            lit(0))
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
      .select(col("q_id"), col("doc_id"), col("dl"), col("s_t"), col("pairs"))
    // NEW: the native aggregate (contrib precomputed codegen-side)
    val newFold = cand
      .withColumn("_c", col("idf_t") * satC(col("tf"), col("dl"), col("avgdl")))
      .groupBy(col("q_id"), col("doc_id"), col("dl"), col("m"),
        col("n_docs"), col("avgdl"))
      .agg(graft.operators.TopK.sdmFeatures(col("j"), col("_c"),
        col("positions"), col("m"), window).as("f"))
      .select(col("q_id"), col("doc_id"), col("dl"),
        col("f.s_t").as("s_t"), col("f.pairs").as("pairs"))
    def timeNoop(tag: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      println(f"$tag wall=${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    // CONTROL: the shared candidate scan + broadcast join + contrib
    // projection, no fold — subtracting it isolates the fold stage
    val control = cand
      .withColumn("_c", col("idf_t") * satC(col("tf"), col("dl"), col("avgdl")))
      .select(col("q_id"), col("doc_id"), col("dl"), col("m"),
        col("j"), col("_c"), col("positions"))
    // rerank FIRST-PASS arms (positions-free unigram fold + top-n):
    // OLD collect_list+sorted-struct fold vs NEW long-key ordered fold
    val n = 100
    val oldFp = cand
      .groupBy(col("q_id"), col("doc_id"), col("dl"), col("m"),
        col("n_docs"), col("avgdl"))
      .agg(sort_array(collect_list(struct(col("j"), col("tf"),
        col("idf_t")))).as("es"))
      .withColumn("st_r", round(aggregate(col("es"), lit(0.0),
        (acc, e) => acc + e.getField("idf_t") *
          satC(e.getField("tf"), col("dl"), col("avgdl"))), 6))
      .groupBy("q_id")
      .agg(graft.operators.TopK.topKNative(n, negate(col("st_r")),
        col("doc_id")).as("top"))
    val newFp = cand
      .withColumn("_c", col("idf_t") * satC(col("tf"), col("dl"), col("avgdl")))
      .groupBy(col("q_id"), col("doc_id"), col("dl"), col("m"),
        col("n_docs"), col("avgdl"))
      .agg(graft.operators.TopK.orderedFoldSumLong(col("j"), col("_c"))
        .as("s"))
      .withColumn("st_r", round(col("s"), 6))
      .groupBy("q_id")
      .agg(graft.operators.TopK.topKNative(n, negate(col("st_r")),
        col("doc_id")).as("top"))
    def timeCount(tag: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val t0 = System.nanoTime()
      val c = df.count()
      println(f"$tag rows=$c wall=${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    (1 to reps).foreach { r =>
      timeNoop(s"CTL[$r]", control)
      timeNoop(s"OLD[$r]", oldFold)
      timeNoop(s"NEW[$r]", newFold)
      timeCount(s"OLDFP[$r]", oldFp)
      timeCount(s"NEWFP[$r]", newFp)
      // the REAL operators end to end (current code only — the
      // pipeline-level wall the ScaleBench arm reads)
      timeCount(s"SDMFULL[$r]", Lexical.sdmTopKFromPostings(post,
        qs, "qtext", "q_id", k = 10))
      timeCount(s"SDMRR[$r]", Lexical.sdmTopKFromPostings(post,
        qs, "qtext", "q_id", k = 10, rerank = Some(n)))
    }
    // row-identity checksum: same groups, same s_t bits, same pairs
    def sig(df: org.apache.spark.sql.DataFrame) = df
      .select(count(lit(1)).as("n"),
        sum(hash(col("q_id"), col("doc_id"),
          col("s_t").cast("string"), col("pairs").cast("string"))
          .cast("long")).as("h"))
      .head()
    val (so, sn) = (sig(oldFold), sig(newFold))
    println(s"OLD sig n=${so.getLong(0)} h=${so.getLong(1)}")
    println(s"NEW sig n=${sn.getLong(0)} h=${sn.getLong(1)}")
    println(if (so == sn) "SIG MATCH" else "SIG MISMATCH")
    spark.stop()
  }
}
