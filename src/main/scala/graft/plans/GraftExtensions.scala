package graft.plans

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.graft.ColumnBridge

/** graft's SQL surface: one table of functions, one list of udafs and
  * three planner rules.
  *
  * The contract:
  *   - The Scala API (operators, streaming, banks, `graft.functions`,
  *     `TopK`) builds graft's expressions directly and needs no setup;
  *     it runs on any session and never changes the session.
  *   - SQL text that names a graft function needs the extensions:
  *     `spark.sql.extensions=graft.plans.GraftExtensions` (what
  *     `GraftSession.configure` sets), `SparkSession.builder()
  *     .withExtensions(new GraftExtensions)`, or one
  *     `GraftExtensions.register(spark)` on a running session. The
  *     range-join and glob planner rules come with them.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(e.injectFunction)
    // udafs cannot ride injectFunction (it carries Expression builders
    // only). The check-rule builder runs once per session at analyzer
    // construction with the live session in hand, so an extensions
    // session gets the udafs without a register() call.
    e.injectCheckRule { session =>
      GraftExtensions.registerUdafs(session)
      _ => ()
    }
    e.injectOptimizerRule(_ => GlobRewriteRule)
    e.injectOptimizerRule(_ => BandedRangeJoinRule)
    e.injectPlannerStrategy(_ => RangeJoinStrategy)
  }
}

object GraftExtensions {

  type Entry = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  /** A literal integer argument (`k`, `width`, ...): it shapes the
    * expression, so it must be known when the call is resolved.
    */
  private def intLit(e: Expression, fn: String, what: String): Int = {
    val v = if (e.foldable) e.eval() else e
    v match {
      case i: Int => i
      case l: Long if l.isValidInt => l.toInt
      case _ => throw new IllegalArgumentException(
        s"$fn: $what must be an integer literal, got $e")
    }
  }

  // SQL fractional literals (`0.5`) parse as DECIMAL, not DOUBLE —
  // accept both; like k, q shapes the expression at resolution time
  private def litQ(e: Expression, fn: String): Double = e match {
    case Literal(v: org.apache.spark.sql.types.Decimal, _) => v.toDouble
    case Literal(v: Double, _) => v
    case Literal(v: Int, _) => v.toDouble
    case Literal(v: Long, _) => v.toDouble
    case other => throw new IllegalArgumentException(
      s"$fn: q must be a numeric literal, got $other")
  }

  private def entry(name: String, cls: Class[_], usage: String, arity: Int)(
      build: Seq[Expression] => Expression): Entry =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name),
      exprs => {
        require(exprs.length == arity, usage)
        build(exprs)
      })

  private def col(e: Expression): Column = ColumnBridge.column(e)

  /** Sketch-ALGEBRA functions: each builder expands to the same
    * composite Expression tree the [[graft.operators.Sketches]] column
    * API builds (pure built-in nodes — size/element_at/array ops — so
    * the SQL path is codegen'd, not a UDF). `k` must be an integer
    * literal: it shapes the expression (element_at index, slice
    * length) at resolution time. With these plus the udafs the whole
    * distinct-algebra workflow is expressible in pure SQL:
    * `SELECT kmv_estimate(kmv_union(a.sk, b.sk, 256), 256) ...`.
    */
  private def sketch(name: String, usage: String, arity: Int)(
      f: Seq[Expression] => Column): Entry =
    entry(name, graft.operators.Sketches.getClass, usage, arity)(
      exprs => ColumnBridge.expression(f(exprs)))
  private def unary(name: String)(f: (Column, Int) => Column) =
    sketch(name, s"$name(sketch, k)", 2)(e =>
      f(col(e(0)), intLit(e(1), name, "k")))
  private def binary(name: String)(f: (Column, Column, Int) => Column) =
    sketch(name, s"$name(a, b, k)", 3)(e =>
      f(col(e(0)), col(e(1)), intLit(e(2), name, "k")))
  private def unary0(name: String)(f: Column => Column) =
    sketch(name, s"$name(sketch)", 1)(e => f(col(e(0))))

  /** Every scalar and aggregate function graft adds to SQL. */
  val functions: Seq[Entry] = {
    import graft.operators.Sketches
    Seq(
      entry("haversine_m", classOf[HaversineMeters],
        "haversine_m(lat1, lon1, lat2, lon2)", 4)(e =>
        HaversineMeters(e(0), e(1), e(2), e(3))),
      entry("vec_dot", classOf[VecDot], "vec_dot(a, b)", 2)(e =>
        VecDot(e(0), e(1))),
      entry("vec_l2", classOf[VecL2], "vec_l2(a, b)", 2)(e =>
        VecL2(e(0), e(1))),
      entry("vec_l2_q8", classOf[VecL2Q8], "vec_l2_q8(q, v8, inv)", 3)(e =>
        VecL2Q8(e(0), e(1), e(2))),
      entry("adc_dist", classOf[AdcDist], "adc_dist(qr, codes, cb)", 3)(e =>
        AdcDist(e(0), e(1), e(2))),
      entry("adc_table", classOf[AdcTable], "adc_table(qr, cb)", 2)(e =>
        AdcTable(e(0), e(1))),
      entry("adc_dist_tbl", classOf[AdcDistTbl],
        "adc_dist_tbl(tbl, codes, m)", 3)(e => AdcDistTbl(e(0), e(1), e(2))),
      entry("probe_buckets", classOf[ProbeBuckets],
        "probe_buckets(vec, bits, nProbe)", 3)(e =>
        ProbeBuckets(e(0), e(1), e(2))),
      entry("bounded_topk", classOf[BoundedTopK], "bounded_topk(k, d, id)", 3)(e =>
        BoundedTopK(intLit(e(0), "bounded_topk", "k"), e(1), e(2))),
      entry("ordered_fold_sum_long", classOf[OrderedFoldSumLong],
        "ordered_fold_sum_long(key, contrib)", 2)(e =>
        OrderedFoldSumLong(e(0), e(1))),
      entry("sdm_features", classOf[SdmFeatures],
        "sdm_features(j, contrib, positions, m, window)", 5)(e =>
        SdmFeatures(e(0), e(1), e(2), e(3),
          intLit(e(4), "sdm_features", "window"))),
      entry("phrase_tf", classOf[PhraseTf], "phrase_tf(j, positions, m)", 3)(e =>
        PhraseTf(e(0), e(1), e(2))),
      entry("md5_long60", classOf[Md5Long60], "md5_long60(s)", 1)(e =>
        Md5Long60(e(0))),
      entry("shingle_hash60", classOf[ShingleHash60],
        "shingle_hash60(tokens, width, modulus)", 3)(e =>
        ShingleHash60(e(0), e(1), e(2))),
      entry("span_hashes", classOf[SpanHashes],
        "span_hashes(tokens, width, stride, p, s)", 5)(e =>
        SpanHashes(e(0), intLit(e(1), "span_hashes", "width"),
          intLit(e(2), "span_hashes", "stride"),
          intLit(e(3), "span_hashes", "p"),
          intLit(e(4), "span_hashes", "s"))),
      entry("int_minhash", classOf[IntMinhash], "int_minhash(baseHashes, k)", 2)(e =>
        IntMinhash(e(0), intLit(e(1), "int_minhash", "k"))),
      unary("kmv_estimate")(Sketches.kmvEstimate),
      unary("kmv_theta")(Sketches.kmvTheta),
      binary("kmv_union")(Sketches.kmvUnion),
      binary("kmv_union_estimate")(Sketches.kmvUnionEstimate),
      binary("kmv_intersect_estimate")(Sketches.kmvIntersectEstimate),
      binary("kmv_difference_estimate")(Sketches.kmvDifferenceEstimate),
      binary("kmv_jaccard_estimate")(Sketches.kmvJaccardEstimate),
      // the frequent-items and quantile summaries on the same
      // pure-expression SQL surface (m like k: an int literal)
      unary("freq_top_csv")(Sketches.freqTopCsv),
      unary0("freq_n")(Sketches.freqN),
      unary0("freq_retained")(Sketches.freqRetained),
      binary("freq_union")(Sketches.freqUnion),
      sketch("quantile_estimate", "quantile_estimate(sketch, q)", 2)(e =>
        Sketches.quantileEstimate(col(e(0)), litQ(e(1), "quantile_estimate"))),
      unary0("quantile_n")(Sketches.quantileN),
      unary0("quantile_rank_bound")(Sketches.quantileRankBound))
  }

  /** The aggregates graft adds to SQL as udafs, including the
    * persisted-sketch MERGE aggregates (rollup with one input row per
    * part — the bank-sidecar read path). `quantile_merge512` takes the
    * summary's FIELDS (entries, n, B): `quantile_merge512(sk._1, sk._2,
    * sk._3)`.
    */
  lazy val udafs: Seq[(String, UserDefinedFunction)] = {
    import graft.operators.Sketches
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    import org.apache.spark.sql.functions.udaf
    Seq(
      "kmv_sketch256" -> udaf(new Sketches.KmvAgg(256), Encoders.scalaLong),
      "kmv_sketch64" -> udaf(new Sketches.KmvAgg(64), Encoders.scalaLong),
      "freq_sketch64" -> udaf(new Sketches.FreqAgg(64), Encoders.STRING),
      "quantile_sketch512" ->
        udaf(new Sketches.QuantileAgg(512), Encoders.scalaLong),
      "quantile_merge512" -> udaf(new Sketches.QuantileMergeAgg(512),
        ExpressionEncoder[(Seq[(Long, Long)], Long, Long)]()),
      "kmv_merge256" -> udaf(new Sketches.KmvMergeAgg(256),
        ExpressionEncoder[Array[Long]]()),
      "kmv_merge64" -> udaf(new Sketches.KmvMergeAgg(64),
        ExpressionEncoder[Array[Long]]()))
  }

  private def missing(spark: SparkSession, name: String): Boolean =
    !spark.sessionState.functionRegistry.functionExists(FunctionIdentifier(name))

  /** The udaf half of the SQL surface; adds only the missing names. */
  private def registerUdafs(spark: SparkSession): Unit =
    udafs.foreach { case (name, u) =>
      if (missing(spark, name)) spark.udf.register(name, u)
    }

  /** Install the SQL surface on a running session: every missing
    * function and udaf, and the planner rules unless the session
    * already plans with them (an extensions session does). Idempotent;
    * the Scala API never calls it.
    */
  def register(spark: SparkSession): Unit = {
    functions.foreach { case (id, _, builder) =>
      if (missing(spark, id.funcName))
        spark.sessionState.functionRegistry.createOrReplaceTempFunction(
          id.funcName, builder, "built-in")
    }
    registerUdafs(spark)
    if (!spark.sessionState.planner.strategies.contains(RangeJoinStrategy)) {
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ RangeJoinStrategy
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations ++
          Seq(GlobRewriteRule, BandedRangeJoinRule)
    }
  }
}
