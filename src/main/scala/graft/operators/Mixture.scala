package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Deterministic domain-mixture sampling: downsample each source
  * (domain/language/quality tier) to a target rate, the way a training
  * mix is tuned ("webtext ×0.3, code ×1.0, wiki ×0.8").
  *
  * The keep decision is a pure hash threshold — `h(salt, id) mod 10⁶ <
  * rate·10⁶` — so it is (a) reproducible across runs, engines and
  * cluster layouts, (b) scan-local: ZERO shuffle, the filter pushes
  * into the scan pipeline, and (c) stable under corpus growth: a doc's
  * fate never depends on other rows (unlike rank-based quotas).
  * The hash rides the fused `md5_long60` expression
  * ([[graft.plans.Md5Long60]]), same family the oracle can derive.
  */
object Mixture {

  private val Scale = 1000000L

  /** Keep-decision column for one rate (0.0–1.0). */
  def keep(idCol: Column, rate: Double, salt: String = "mix"): Column =
    TextFunctions.md5Long60(
      concat(lit(salt + ":"), idCol.cast("string"))) % Scale <
      math.round(rate * Scale)

  /** Filter `df` to the per-source target rates; sources absent from
    * the map keep rate 1.0 (pass through).
    */
  def sampleByWeights(df: DataFrame, idCol: String, sourceCol: String,
                      rates: Map[String, Double],
                      salt: String = "mix"): DataFrame = {
    val rateCol = rates.foldLeft(lit(1.0)) { case (acc, (src, r)) =>
      when(col(sourceCol) === src, lit(r)).otherwise(acc)
    }
    df.filter(
      TextFunctions.md5Long60(
        concat(lit(salt + ":"), col(idCol).cast("string"))) % Scale <
        round(rateCol * Scale).cast("long"))
  }

  /** Temperature-scaled mixture rates (the mT5/multilingual-sampling
    * rule): source s is drawn with probability ∝ n_s^alpha, so small
    * sources are boosted relative to their raw share as alpha drops
    * below 1. Expressed as per-source KEEP rates whose expected total
    * is `targetFraction` of the corpus:
    * `rate_s = min(1, targetFraction·N · n_s^alpha / (Σ n_j^alpha · n_s))`.
    *
    * Counts are a tiny per-source aggregate (collect of |sources|
    * rows); the rates then drive [[sampleByWeights]]'s scan-local hash
    * threshold — zero extra shuffle. alpha = 0.5 uses IEEE-exact
    * `sqrt`, making the rates bit-identical in any engine; rates are
    * rounded to 9 decimals so a last-ulp normalizer difference cannot
    * flip the 10⁻⁶-granular threshold.
    */
  def temperatureRates(counts: Map[String, Long], alpha: Double,
                       targetFraction: Double): Map[String, Double] = {
    require(counts.nonEmpty, "temperatureRates needs at least one source")
    def w(n: Long): Double =
      if (alpha == 0.5) math.sqrt(n.toDouble) else math.pow(n.toDouble, alpha)
    val total = counts.values.sum
    val m = targetFraction * total.toDouble
    // normalizer summed in sorted-source order: a fixed order keeps the
    // double sum reproducible on the engine side
    val z = counts.toSeq.sortBy(_._1).map { case (_, n) => w(n) }.sum
    counts.map { case (src, n) =>
      val p = math.min(1.0, m * w(n) / (z * n.toDouble))
      src -> math.rint(p * 1e9) / 1e9
    }
  }

  /** Cap each group (source/domain/host) at `k` rows, chosen by a
    * deterministic order — the RefinedWeb/C4-style per-domain quota
    * that stops a handful of giant domains from dominating a corpus.
    *
    * One shuffle on `groupCols`; the `row_number <= k` filter activates
    * Spark's WindowGroupLimit, so each map task pre-prunes to its local
    * top-k before the exchange — the shuffle carries O(groups × k),
    * not the corpus, no matter how skewed the domains are. Pass a
    * hash-of-id ordering for an unbiased quota (position in the archive
    * must not decide survival).
    */
  def capPerGroup(df: DataFrame, groupCols: Seq[Column], k: Int,
                  order: Seq[Column],
                  rankCol: Option[String] = None): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols: _*).orderBy(order: _*)
    // collision-safe internal name: suffix a counter past any caller
    // column, and refuse to silently replace an existing rankCol
    rankCol.foreach(name => require(!df.columns.contains(name),
      s"capPerGroup: rank column '$name' already exists in the input"))
    val internal = Iterator.from(0)
      .map(i => if (i == 0) "_graft_qrank" else s"_graft_qrank$i")
      .find(n => !df.columns.contains(n)).get
    val ranked = df.withColumn(internal, row_number().over(w))
      .filter(col(internal) <= k)
    rankCol match {
      case Some(name) => ranked.withColumnRenamed(internal, name)
      case None => ranked.drop(internal)
    }
  }
}
