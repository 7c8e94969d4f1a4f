package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions._
import graft.bank.EventBank
import graft.functions.{TextFunctions, VectorFunctions}
import graft.operators.{Dedup, KMeans, Mixture, ProductQuantizer, TopK}
import graft.plans.GraftExtensions

/** The Scala API builds graft's expressions itself: on a session that
  * has none of graft's SQL functions, every family that used to
  * register them per call answers as on the configured session, and
  * leaves the session's function registry and experimental rules as
  * they were.
  */
class ScalaApiNoSetupSpec extends SparkSpec {

  private lazy val graftNames =
    GraftExtensions.functions.map(_._1.funcName) ++ GraftExtensions.udafs.map(_._1)

  /** A session on the shared context with every graft name dropped. */
  private lazy val bare: SparkSession = {
    val s = spark.newSession()
    s.sessionState.analyzer // the udaf hook runs at analyzer construction
    graftNames.foreach(n =>
      s.sessionState.functionRegistry.dropFunction(FunctionIdentifier(n)))
    s
  }

  private def state(s: SparkSession) =
    (s.sessionState.functionRegistry.listFunction().map(_.funcName).toSet,
      s.experimental.extraStrategies, s.experimental.extraOptimizations)

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** `f` on the configured session and on the bare one: equal answers,
    * and the bare session's registry and rules untouched.
    */
  private def sameOnBare(f: SparkSession => Seq[String]): Unit = {
    val expected = f(spark)
    assert(expected.nonEmpty)
    val before = state(bare)
    SparkSession.setActiveSession(bare)
    val got = try f(bare) finally SparkSession.setActiveSession(spark)
    assert(got == expected)
    assert(state(bare) == before)
    graftNames.foreach(n => assert(!before._1.contains(n), n))
  }

  private def docs(s: SparkSession): DataFrame = {
    import s.implicits._
    (0 until 40).map(i => (i.toLong,
        s"w${i % 3} w${i % 5} shared run of tokens here w${i % 7} end${i % 4}"))
      .toDF("id", "text")
  }

  private def vectors(s: SparkSession, n: Int): DataFrame = {
    import s.implicits._
    (0 until n).map { i =>
      val cluster = i % 4
      (i.toLong, Seq.tabulate(16)(d =>
        (if (d == cluster * 4) 10f else 0f) + ((i * 31 + d * 7) % 5) * 0.1f))
    }.toDF("vec_id", "embedding")
  }

  test("the bare session cannot resolve graft functions from SQL") {
    val e = intercept[Exception](bare.sql("SELECT md5_long60('a')").collect())
    assert(e.getMessage.contains("UNRESOLVED_ROUTINE"), e.getMessage)
  }

  test("TopK: native top-k and ordered fold") {
    sameOnBare { s =>
      rows(s.range(0, 300)
        .select((col("id") % 7).as("g"),
          ((col("id") * 37) % 101).cast("double").as("d"), col("id"))
        .groupBy("g")
        .agg(TopK.topKNative(3, col("d"), col("id")).as("top"),
          TopK.orderedFoldSumLong(col("id"), col("d") / 3).as("fold")))
    }
  }

  test("TopK: the direct aggregates plan and answer like the by-name SQL functions") {
    val df = spark.range(0, 300)
      .select((col("id") % 7).as("g"),
        ((col("id") * 37) % 101).cast("double").as("d"), col("id"))
    val direct = df.groupBy("g").agg(TopK.topKNative(3, col("d"), col("id")),
      TopK.orderedFoldSumLong(col("id"), col("d")))
    val byName = df.groupBy("g").agg(
      call_function("bounded_topk", lit(3), col("d"), col("id")),
      call_function("ordered_fold_sum_long", col("id"), col("d")))
    assert(direct.columns.toSeq == byName.columns.toSeq)
    assert(rows(direct) == rows(byName))
    def aggNodes(d: DataFrame) = graft.tools.PlanIntrospect
      .nodes(d.queryExecution.executedPlan).map(_.nodeName)
      .filter(_.contains("Aggregate"))
    assert(aggNodes(direct) == aggNodes(byName))
    assert(aggNodes(direct).contains("ObjectHashAggregate"), aggNodes(direct))
  }

  test("VectorFunctions: native dot, L2 and probe buckets keep the SQL function's column names") {
    def vecs(s: SparkSession) = vectors(s, 12)
      .select(col("vec_id"), col("embedding").as("a"),
        reverse(col("embedding")).as("b"))
    sameOnBare { s =>
      rows(vecs(s).select(col("vec_id"),
        VectorFunctions.dotNative(col("a"), col("b")),
        VectorFunctions.l2Native(col("a"), col("b")),
        VectorFunctions.probeBuckets(col("a"), 6, 3)))
    }
    val v = vecs(spark)
    assert(v.select(VectorFunctions.dotNative(col("a"), col("b"))).columns.toSeq ==
      v.select(call_function("vec_dot", col("a"), col("b"))).columns.toSeq)
    assert(v.select(TextFunctions.md5Long60(col("a").cast("string"))).columns.toSeq ==
      v.select(call_function("md5_long60", col("a").cast("string"))).columns.toSeq)
  }

  test("Dedup: minhash signatures, span hashes, span detection, simhash") {
    sameOnBare { s =>
      val d = docs(s)
      rows(d.select(col("id"),
        Dedup.intMinhashSignature(
          Dedup.tokenShingleHashes(TextFunctions.tokens(col("text"))), 8),
        TextFunctions.spanHashes(TextFunctions.tokens(col("text")), 3, 2, 15, 15)))
    }
    sameOnBare(s => rows(Dedup.duplicateSpans(docs(s), "text", "id",
      width = 4, stride = 1, minDocs = 2)))
    sameOnBare(s => rows(Dedup.removeDuplicateSpans(docs(s), "text", "id", 4)))
    sameOnBare(s => rows(Dedup.mdSimhash(docs(s), "text", "id")))
  }

  test("Mixture: keep and sampleByWeights") {
    sameOnBare { s =>
      rows(s.range(0, 500).toDF().filter(Mixture.keep(col("id"), 0.3)))
    }
    sameOnBare { s =>
      rows(Mixture.sampleByWeights(
        s.range(0, 500).withColumn("src",
          when(col("id") % 2 === 0, "a").otherwise("b")),
        "id", "src", Map("a" -> 0.2, "b" -> 0.7)))
    }
  }

  test("ProductQuantizer: hash-sampled fit and the int8 rerank path") {
    val base = vectors(spark, 120)
    val (coarse, _) = KMeans.fit(base, "vec_id", "embedding", k = 4, iters = 2)
    val model = ProductQuantizer.fit(base, "vec_id", "embedding",
      m = 4, k = 4, iters = 2)
    val queries = base.filter(col("vec_id") < 4).orderBy("vec_id").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toSeq).toSeq
    sameOnBare { s =>
      rows(ProductQuantizer.sampleByHash(vectors(s, 120), "vec_id", 0.5)
        .select("vec_id"))
    }
    sameOnBare { s =>
      val c = vectors(s, 120)
      val sc = ProductQuantizer.int8Scale(c, "embedding")
      val store8 = ProductQuantizer.encodeIvfStoreInt8(
        c, "vec_id", "embedding", coarse, model, sc)
      rows(ProductQuantizer.ivfAdcRerankTopK8(store8, "vec_id", coarse, model,
        sc, queries, k = 3, nprobe = 2, candidates = 20))
    }
  }

  test("StreamingSimilarity: the ADC table stream") {
    import org.apache.spark.sql.streaming.Trigger
    import graft.streaming.StreamingSimilarity
    val base = vectors(spark, 80)
    val (coarse, _) = KMeans.fit(base, "vec_id", "embedding", k = 4, iters = 2)
    val model = ProductQuantizer.fit(base, "vec_id", "embedding",
      m = 4, k = 4, iters = 2)
    val t0 = 1_600_000_000_000_000_000L
    val dir = Files.createTempDirectory("graft-nosetup-adc").toString
    base.filter(col("vec_id") < 6)
      .withColumn("ts", lit(t0) + col("vec_id") * lit(1_000_000L))
      .unionByName(base.filter(col("vec_id") === 6)
        .withColumn("ts", lit(t0 + 8L * 3600L * 1_000_000_000L)))
      .write.mode("overwrite").parquet(dir)
    sameOnBare { s =>
      val store = ProductQuantizer.encodeIvfStore(
        vectors(s, 80), "vec_id", "embedding", coarse, model)
      val stream = s.readStream.schema(s.read.parquet(dir).schema).parquet(dir)
      val sink = "nosetup_adc_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val q = StreamingSimilarity.ivfAdcStream(stream, store, "vec_id",
          "embedding", "ts", coarse, model, nprobe = 2, k = 3)
        .writeStream.format("memory").queryName(sink).outputMode("append")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      try rows(s.table(sink)) finally s.catalog.dropTempView(sink)
    }
  }

  test("EventBank: putEvents builds the sketch sidecar (statsPartials)") {
    def events(s: SparkSession): DataFrame = {
      import s.implicits._
      (0 until 60).map { i =>
        (s"ev$i", 1_600_000_000_000_000_000L + (i % 30) * 3_600_000_000_000L,
          if (i % 7 == 0) None else Some((i % 50) / 10.0), s"auth${i % 5}", i.toLong)
      }.toDF("event_id", "time", "magnitude", "author", "updated")
    }
    sameOnBare { s =>
      val bank = new EventBank(s, Files.createTempDirectory("graft-nosetup-ev").toString)
      bank.putEvents(events(s))
      rows(bank.sketchStats().select(col("day"), col("n_events"),
        col("author_sk").cast("string"), col("mag_sk").cast("string"),
        col("author_top").cast("string")))
    }
  }
}
