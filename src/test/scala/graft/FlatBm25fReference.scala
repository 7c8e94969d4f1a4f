package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.Lexical.FieldSpec

/** The flat multi-field BM25F layout, kept as the differential
  * reference for the packed one ([[graft.operators.Lexical]]'s
  * `postingsFieldsPacked` family):
  *
  *   - postings: one row per (field, term, doc) — `field` (the index
  *     into `fields`), `term`, `doc_id`, `dl` (THAT field's token
  *     length), `tf`;
  *   - any-field df: a distinct (term, doc) count;
  *   - per-field stats: a narrow (field, doc_id, dl) distinct;
  *   - sat: the pseudo-frequency fold tf̃ = Σ_f w_f·tf_f/B_f behind one
  *     (term, doc)-keyed exchange, summed in FIELD-asc order, then
  *     sat = tf̃/(k1 + tf̃).
  */
object FlatBm25fReference {

  /** Multi-field inverted postings in the flat layout — one corpus scan
    * for all fields, a per-row hash count per field.
    */
  def postingsFields(docs: DataFrame, fields: Seq[FieldSpec],
                     idCol: String): DataFrame = {
    require(fields.nonEmpty, "postingsFields: no fields")
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col(idCol).cast("long"),
        array(fields.map(f => TextFunctions.tokens(col(f.textCol))): _*))
      .as[(Long, Seq[Seq[String]])]
      .mapPartitions(_.flatMap { case (id, fieldToks) =>
        fieldToks.iterator.zipWithIndex.flatMap { case (toks, fi) =>
          val dl = toks.length.toLong
          val m = new java.util.LinkedHashMap[String, Long]()
          toks.foreach(t => m.merge(t, 1L, (a, b) => a + b))
          val out = Vector.newBuilder[(Int, String, Long, Long, Long)]
          m.forEach((t, c) => out += ((fi, t, id, dl, c)))
          out.result()
        }
      })
      .toDF("field", "term", "doc_id", "dl", "tf")
  }

  /** Per-field (`field`, `n_docs`, `avgdl`) from flat postings — every
    * doc emits ≥ 1 posting per field (empty text tokenizes to [""]).
    */
  def fieldStatsFromPostings(postF: DataFrame): DataFrame =
    postF.select(col("field"), col("doc_id"), col("dl")).distinct()
      .groupBy("field")
      .agg(count(lit(1)).as("n_docs"),
        (sum(col("dl")).cast("double") /
          count(lit(1)).cast("double")).as("avgdl"))

  /** Any-field document frequency over flat postings. */
  def docFreqAnyField(postF: DataFrame): DataFrame =
    postF.select("term", "doc_id").distinct()
      .groupBy("term").agg(count(lit(1)).as("df"))

  /** (`term`, `doc_id`, `sat`) from flat postings with the per-field
    * avgdl vector baked.
    */
  def bm25fSatFromPostings(postF: DataFrame, avgdls: Seq[Double],
                           fields: Seq[FieldSpec],
                           k1: Double = 1.2): DataFrame = {
    require(avgdls.length == fields.length,
      s"avgdls (${avgdls.length}) must match fields (${fields.length})")
    val spark = postF.sparkSession
    val statsF = avgdls.zipWithIndex.map { case (a, i) =>
      spark.range(1).select(lit(i).as("field"), lit(a).as("avgdl"))
    }.reduce(_ unionByName _)
    val weights = typedLit(fields.map(_.weight))
    val bs = typedLit(fields.map(_.b))
    postF.join(broadcast(statsF), Seq("field"))
      .withColumn("fc",
        element_at(weights, col("field") + 1) * col("tf").cast("double") /
          (lit(1.0) - element_at(bs, col("field") + 1) +
            element_at(bs, col("field") + 1) *
              col("dl").cast("double") / col("avgdl")))
      .groupBy("term", "doc_id")
      .agg(sort_array(collect_list(struct(col("field"), col("fc"))))
        .as("fcs"))
      .withColumn("tfl",
        aggregate(col("fcs"), lit(0.0),
          (acc, x) => acc + x.getField("fc")))
      .select(col("term"), col("doc_id"),
        (col("tfl") / (lit(k1) + col("tfl"))).as("sat"))
  }
}
