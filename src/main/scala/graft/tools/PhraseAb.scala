package graft.tools

import org.apache.spark.sql.functions._

/** A/B microbench: the round-17 native phrase_tf exchange fold vs the
  * pre-round-17 collect_list + higher-order-expression pipeline, same
  * JVM, same store, alternating runs — isolates the fold change from
  * host phases. Usage: runMain graft.tools.PhraseAb [docs] [queries] [reps]
  */
object PhraseAb {
  def main(args: Array[String]): Unit = {
    val nd = if (args.nonEmpty) args(0).toLong else 1000000L
    val nq = if (args.length > 1) args(1).toLong else 500L
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = graft.core.GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    import graft.functions.TextFunctions
    import graft.operators.Lexical
    val root = java.nio.file.Files.createTempDirectory("graft-phraseab").toString
    ScaleBench.synthDocs(spark, nd).write.mode("overwrite").parquet(s"$root/docs")
    val d = spark.read.parquet(s"$root/docs")
    val post = Lexical.postingsPositional(d, "text", "doc_id")
      .repartition(col("term")).sortWithinPartitions("term").persist()
    println(s"post_rows=${post.count()}")
    val every = math.max(1L, nd / nq)
    val qs = d.filter(col("doc_id") % every === 0)
      .select(col("doc_id").as("q_id"),
        concat_ws(" ", slice(TextFunctions.tokens(col("text")), 1, 2)).as("qtext"))
      .persist()
    println(s"queries=${qs.count()}")
    val qpe = qs
      .select(col("q_id"),
        filter(TextFunctions.tokens(col("qtext")), t => t =!= lit("")).as("ph"))
      .filter(size(col("ph")) >= 1)
      .select(col("q_id"), size(col("ph")).cast("long").as("m"),
        posexplode(col("ph")).as(Seq("j0", "term")))
      .select(col("q_id"), col("m"),
        (col("j0") + 1).cast("long").as("j"), col("term"))
    val matched = post.join(broadcast(qpe), Seq("term"))
    def timeCount(tag: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val t0 = System.nanoTime()
      val n = df.count()
      println(f"$tag rows=$n wall=${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    val oldPtf = matched
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
    val newPtf = matched
      .groupBy("q_id", "doc_id", "dl", "m")
      .agg(graft.operators.TopK.phraseTf(col("j"), col("positions"),
        col("m")).as("tf"))
      .filter(col("tf") >= 1)
      .select("q_id", "doc_id", "dl", "tf")
    (1 to reps).foreach { r =>
      timeCount(s"OLD[$r]", oldPtf)
      timeCount(s"NEW[$r]", newPtf)
    }
    spark.stop()
  }
}
