package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.bank.TxTable
import graft.operators.Lexical
import graft.streaming.{AnnGenerations, StreamingLexicalIndex => Idx}
import graft.tools.ScaleBench

/** `lexical`: web-shaped retrieval. The corpus is ScaleBench's tf-skewed
  * synthetic with a stopword layer ("the" in ~95 % of docs, "of" in ~60 %,
  * placed by the seed), so first-token queries carry stopword-df terms.
  * In-memory stores (exact contrib, impact-truncated, positional) serve
  * `bm25TopKMaxScore` and `sdmTopKFromPostings`; a maintained TxTable store
  * on disk serves `serveFactored` (exact BM25). A round calls each of the
  * three once per query batch, then lands one 1 % doc batch, drains the
  * maintainer (`StreamingLexicalIndex.run`) and runs `refreshFactored`.
  * No seismology layer runs here.
  */
final class LexicalWorkload(spark: SparkSession, c: Client, seed: Long)
    extends Workload {
  import spark.implicits._

  private val nDocs = 4000L
  private val batchDocs = nDocs / 100
  private val perBatch = 8
  private val poolSize = 3
  private val k = 10
  private val truncM = 64
  private val rng = new java.util.Random(Gen.mix(seed, 4))

  /** Docs [lo, hi) with the seed-placed stopword layer. */
  private def docs(lo: Long, hi: Long): DataFrame =
    ScaleBench.synthSkewDocs(spark, hi).filter(col("doc_id") >= lo)
      .select(col("doc_id"), concat_ws(" ",
        when(pmod(xxhash64(lit("st1"), lit(seed), col("doc_id")), lit(100L)) < 95,
          lit("the")),
        when(pmod(xxhash64(lit("st2"), lit(seed), col("doc_id")), lit(100L)) < 60,
          lit("of")),
        col("text")).as("text"))

  private var input: String = _
  private var root: String = _
  private var corpus: DataFrame = _
  private var store: DataFrame = _
  private var trunc: DataFrame = _
  private var pos: DataFrame = _
  private var postTx: TxTable = _
  private var statsTx: TxTable = _
  private var satTx: TxTable = _
  private var gens: AnnGenerations = _
  /** The maintainer's checkpoint; new doc batches land in `$input/arrivals`. */
  private var maintainer: String = _
  private var textBytes = 0L

  private def persisted(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    p.count()
    p
  }

  def generate(dir: String): Unit = {
    input = dir
    docs(0, nDocs).write.parquet(s"$dir/docs")
    corpus = spark.read.parquet(s"$dir/docs")
  }

  /** In-memory exact, truncated and positional stores, then the maintained
    * TxTable store with its first factored generation.
    */
  def build(dir: String): Unit = {
    Seq(store, trunc, pos).filter(_ != null).foreach(_.unpersist())
    root = dir
    store = persisted(Lexical.bm25Store(corpus, "text", "doc_id")
      .repartition(col("term")).sortWithinPartitions("term"))
    trunc = persisted(Lexical.truncateByImpact(store, truncM)
      .repartition(col("term")).sortWithinPartitions("term"))
    pos = persisted(Lexical.postingsPositional(corpus, "text", "doc_id"))
    postTx = new TxTable(spark, s"$dir/tx/post")
    statsTx = new TxTable(spark, s"$dir/tx/stats")
    satTx = new TxTable(spark, s"$dir/tx/sat")
    gens = new AnnGenerations(spark, s"$dir/tx/gens")
    maintainer = s"$dir/maintainer"
    Idx.bootstrap(corpus, "doc_id", "text", postTx, statsTx)
    Idx.buildFactoredGeneration(gens, postTx, statsTx, satTx)
  }

  /** Query batches: the first three tokens of seed-chosen docs. */
  private var pool: IndexedSeq[DataFrame] = IndexedSeq.empty
  private var poolText: IndexedSeq[Seq[(Long, String)]] = IndexedSeq.empty
  /** Exact top-k of each batch over the in-memory store: MaxScore's
    * reference.
    */
  private var exact: IndexedSeq[Set[Row]] = IndexedSeq.empty
  private var nNow = 0L
  private var avgdl0 = 0.0
  private var batchNo = 0

  private def rows(df: DataFrame): Array[Row] =
    df.select("q_id", "doc_id", "score", "rank").collect()

  private def rowSum(rs: Array[Row]): String = Gen.checksum(rs.map(_.mkString("|")))

  /** [[rowSum]] with scores to 9 significant digits, for answers compared
    * with answers stored by other runs.
    */
  private def answerSum(rs: Array[Row]): String = Gen.checksum(rs.map(r =>
    s"${r.get(0)}|${r.get(1)}|${"%.9g".format(r.getDouble(2))}|${r.get(3)}"))

  /** The key of BM25 batch `b`'s answer: per batch and number of refreshes. */
  private def bm25Key(b: Int): String = s"bm25/refresh$batchNo/batch$b"

  /** Batch `b` answered by a factored store rebuilt from the raw docs so
    * far, at the generation's baked avgdl and the live doc count.
    */
  private def fromScratch(b: Int): String = {
    val post = persisted(Lexical.postings(docs(0, nNow), "text", "doc_id"))
    try rowSum(rows(Lexical.bm25TopKFromFactoredStore(
      Lexical.bm25SatFromPostings(post, avgdl0), Lexical.docFreq(post), nNow,
      pool(b), "qtext", "q_id", k)))
    finally post.unpersist()
  }

  /** Checks that the served generation answers batch `b` as `fromScratch`. */
  private def seedGeneration(b: Int): Option[String] = {
    val exp = fromScratch(b)
    val rs = rows(Idx.serveFactored(gens, satTx, pool(b), "qtext", "q_id", k))
    val got = rowSum(rs)
    if (got != exp) Some(s"generation serves batch $b as $got, a rebuild as $exp")
    else c.answer(bm25Key(b), answerSum(rs))
  }

  def prepare(): Unit = {
    val ids = (0 until poolSize * perBatch).map(_ => (rng.nextDouble() * nDocs).toLong)
    val text = corpus.filter(col("doc_id").isin(ids: _*)).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    poolText = ids.grouped(perBatch).map(_.zipWithIndex.map { case (d, j) =>
      (d * 100 + j, text(d).split(" ").take(3).mkString(" "))
    }).toIndexedSeq
    pool = poolText.map(_.toDF("q_id", "qtext"))
    exact = pool.map(q => rows(Lexical.bm25TopKFromContribStore(store, q,
      "qtext", "q_id", k)).toSet)
    val st = Lexical.corpusStats(corpus, "text").head()
    nNow = st.getLong(0); avgdl0 = st.getDouble(1); batchNo = 0
    c.op("build_check")(nNow) { n =>
      if (n != nDocs) Some(s"corpus holds $n docs, expected $nDocs")
      else seedGeneration(0)
    }
    textBytes = corpus.select(sum(octet_length(col("text")))).head().getLong(0)
  }

  def inputChecksum: String = Gen.checksum(poolText.flatten.map(_.toString) :+
    s"$nDocs,${docs(0, 5).collect().map(_.mkString(":")).mkString(";")}")

  def cycle: Int = 10
  def roundSeconds: Double = 18.0

  /** Two untimed calls of each read type: the second call of a type still
    * ran ~10 % faster than the first.
    */
  def warmUp(): Unit = (1 to 2).foreach { _ => bm25(); maxscore(); sdm() }
  private var i = 0
  private var planted = false

  /** Three calls of each read type, then one refresh. */
  def step(): Unit = {
    if (i % 10 == 9) refresh()
    else (i % 3) match {
      case 0 => bm25()
      case 1 => maxscore()
      case _ => sdm()
    }
    i += 1
  }

  /** Calls so far per read type: each type goes round the batch pool. */
  private val calls = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
  private def nextBatch(op: String): Int = {
    calls(op) += 1
    (calls(op) - 1) % pool.size
  }

  private def bm25(): Unit = {
    val b = nextBatch("bm25")
    c.op("bm25")(rows(Idx.serveFactored(gens, satTx, pool(b), "qtext", "q_id", k))) { rs =>
      c.answer(bm25Key(b), answerSum(rs))
    }.foreach(rs => probeFold("bm25", "ordered_fold", rs.length))
  }

  private def maxscore(): Unit = {
    val b = nextBatch("maxscore")
    val exp = if (planted) { planted = false; exact(b).drop(1) } else exact(b)
    c.op("maxscore")(rows(Lexical.bm25TopKMaxScore(store, trunc, pool(b),
      "qtext", "q_id", k))) { rs =>
      if (rs.toSet == exp && rs.length == exp.size) None
      else Some(s"batch $b: ${rs.length} rows, ${rs.toSet.intersect(exp).size} " +
        s"of the ${exp.size} exact rows")
    }.foreach { rs =>
      probeFold("maxscore", "ordered_fold", rs.length)
      if (c.tracing) {
        val (pruned, full) = Lexical.maxScoreFoldStats(store, trunc, pool(b),
          "qtext", "q_id", k)
        c.add("lexical.maxscore.fold_rows_pruned", pruned.toDouble)
        c.add("lexical.maxscore.fold_rows_full", full.toDouble)
      }
    }
  }

  private def sdm(): Unit = {
    val b = nextBatch("sdm")
    c.op("sdm")(rows(Lexical.sdmTopKFromPostings(pos, pool(b), "qtext", "q_id", k))) { rs =>
      c.answer(s"sdm/batch$b", answerSum(rs))
    }.foreach(rs => probeFold("sdm", "sdm_features", rs.length))
  }

  private def probeFold(op: String, fold: String, returned: Int): Unit =
    if (c.tracing) c.lastEngine.foreach { e =>
      val ns = e.nodes
      val cand = Plans.aggregateInputRows(ns, fold)
      c.add(s"lexical.$op.candidate_rows", cand.toDouble)
      c.add(s"lexical.$op.fold_ms", Plans.aggregateMs(ns, fold))
      c.add(s"lexical.$op.rank_tail_ms", Plans.aggregateMs(ns, "bounded_topk"))
      c.add(s"lexical.$op.returned", returned.toDouble)
    }

  private def refresh(): Unit = {
    batchNo += 1
    val lo = nDocs + (batchNo - 1) * batchDocs
    val batch = docs(lo, lo + batchDocs)
    batch.write.mode("append").parquet(s"$input/arrivals")
    textBytes += batch.select(sum(octet_length(col("text")))).head().getLong(0)
    val satBefore = if (c.tracing) satTx.read().count() else 0L
    c.op("refresh", write = true) {
      // the maintainer's per-batch commits (postings and a stats partial)
      // for the docs that arrived, then the generation refresh
      c.layer("bank.tx_commit") {
        val q = Idx.run(spark, s"$input/arrivals", postTx, statsTx, maintainer)
        try q.awaitTermination() finally q.stop()
      }
      Idx.refreshFactored(gens, postTx, statsTx, satTx, nThresholdPermille = 5)
    } { outcome =>
      nNow = nDocs + batchNo * batchDocs
      outcome match {
        case Idx.FactoredFull(_) =>
          avgdl0 = Idx.stats(statsTx)._3
        case _ =>
      }
      if (c.tracing) {
        val kind = outcome match {
          case Idx.FactoredDelta(_) => "delta"
          case Idx.FactoredFull(_) => "full"
          case _ => "fresh"
        }
        c.add(s"streaming.refresh_$kind", 1.0)
        c.add("streaming.sat_rows_per_new_doc",
          (satTx.read().count() - satBefore).toDouble / batchDocs)
      }
      // a new generation must serve what a from-scratch build serves
      outcome match {
        case Idx.FactoredFresh => None
        case _ => seedGeneration(batchNo % pool.size)
      }
    }
  }

  def spaceAmp: Double =
    Gen.diskBytes(new java.io.File(s"$root/tx")).toDouble / textBytes

  def layerMetrics(): Map[String, Double] =
    Seq("bm25", "maxscore", "sdm").flatMap { op =>
      val cand = c.sum(s"lexical.$op.candidate_rows")
      Seq(
        s"lexical.$op.candidate_rows" -> c.mean(s"lexical.$op.candidate_rows"),
        s"lexical.$op.fold_ms" -> c.mean(s"lexical.$op.fold_ms"),
        s"lexical.$op.rank_tail_ms" -> c.mean(s"lexical.$op.rank_tail_ms"),
        s"lexical.$op.useful_ratio" ->
          (if (cand == 0) 0.0 else c.sum(s"lexical.$op.returned") / cand))
    }.toMap ++ Map(
      "lexical.maxscore.fold_rows_full" -> c.mean("lexical.maxscore.fold_rows_full"),
      "lexical.maxscore.fold_rows_pruned" -> c.mean("lexical.maxscore.fold_rows_pruned"),
      "streaming.refresh_delta" -> c.sum("streaming.refresh_delta"),
      "streaming.refresh_full" -> c.sum("streaming.refresh_full"),
      "streaming.refresh_fresh" -> c.sum("streaming.refresh_fresh"),
      "streaming.sat_rows_per_new_doc" -> c.mean("streaming.sat_rows_per_new_doc"),
      "bank.tx_commit_ms" -> c.mean("bank.tx_commit"))

  def plantWrong(): Unit = planted = true
}
