package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session extension wiring for graft's custom expressions.
  *
  * Production: `SparkSession.builder().withExtensions(new
  * GraftExtensions)` or
  * `spark.sql.extensions=graft.plans.GraftExtensions`. For an already
  * running session, `GraftExtensions.register(spark)` installs the
  * functions in the session's registry.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction(GraftExtensions.haversineDescriptor)
    e.injectFunction(GraftExtensions.vecDotDescriptor)
    e.injectFunction(GraftExtensions.vecL2Descriptor)
    e.injectFunction(GraftExtensions.vecL2Q8Descriptor)
    e.injectFunction(GraftExtensions.adcDistDescriptor)
    e.injectFunction(GraftExtensions.probeBucketsDescriptor)
    e.injectFunction(GraftExtensions.boundedTopKDescriptor)
    e.injectFunction(GraftExtensions.orderedFoldSumLongDescriptor)
    e.injectFunction(GraftExtensions.sdmFeaturesDescriptor)
    e.injectFunction(GraftExtensions.phraseTfDescriptor)
    e.injectFunction(GraftExtensions.md5Long60Descriptor)
    e.injectFunction(GraftExtensions.shingleHash60Descriptor)
    e.injectFunction(GraftExtensions.spanHashesDescriptor)
    e.injectFunction(GraftExtensions.intMinhashDescriptor)
    GraftExtensions.sketchAlgebraDescriptors.foreach(e.injectFunction)
    // udafs (kmv_sketch256/64) cannot ride injectFunction — it carries
    // Expression builders only. The check-rule builder runs once per
    // session at analyzer construction with the live session in hand, so
    // a spark.sql.extensions=GraftExtensions session gets the full SQL
    // surface (q130 pattern) without an explicit register() call.
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

  private def build(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 4, "haversine_m(lat1, lon1, lat2, lon2)")
    HaversineMeters(exprs(0), exprs(1), exprs(2), exprs(3))
  }

  val haversineDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("haversine_m"),
      new ExpressionInfo(classOf[HaversineMeters].getName, "haversine_m"),
      build)

  private def buildVecDot(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2, "vec_dot(a, b)")
    VecDot(exprs(0), exprs(1))
  }

  val vecDotDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[VecDot].getName, "vec_dot"),
      buildVecDot)

  private def buildVecL2(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2, "vec_l2(a, b)")
    VecL2(exprs(0), exprs(1))
  }

  val vecL2Descriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("vec_l2"),
      new ExpressionInfo(classOf[VecL2].getName, "vec_l2"),
      buildVecL2)

  private def buildVecL2Q8(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 3, "vec_l2_q8(q, v8, inv)")
    VecL2Q8(exprs(0), exprs(1), exprs(2))
  }

  val vecL2Q8Descriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("vec_l2_q8"),
      new ExpressionInfo(classOf[VecL2Q8].getName, "vec_l2_q8"),
      buildVecL2Q8)

  private def buildAdcDist(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 3, "adc_dist(qr, codes, cb)")
    AdcDist(exprs(0), exprs(1), exprs(2))
  }

  val adcDistDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("adc_dist"),
      new ExpressionInfo(classOf[AdcDist].getName, "adc_dist"),
      buildAdcDist)

  private def buildAdcTable(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2, "adc_table(qr, cb)")
    AdcTable(exprs(0), exprs(1))
  }

  val adcTableDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("adc_table"),
      new ExpressionInfo(classOf[AdcTable].getName, "adc_table"),
      buildAdcTable)

  private def buildAdcDistTbl(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 3, "adc_dist_tbl(tbl, codes, m)")
    AdcDistTbl(exprs(0), exprs(1), exprs(2))
  }

  val adcDistTblDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("adc_dist_tbl"),
      new ExpressionInfo(classOf[AdcDistTbl].getName, "adc_dist_tbl"),
      buildAdcDistTbl)

  private def buildProbeBuckets(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 3, "probe_buckets(vec, bits, nProbe)")
    ProbeBuckets(exprs(0), exprs(1), exprs(2))
  }

  val probeBucketsDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("probe_buckets"),
      new ExpressionInfo(classOf[ProbeBuckets].getName, "probe_buckets"),
      buildProbeBuckets)

  private def buildBoundedTopK(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 3, "bounded_topk(k, d, id)")
    require(exprs.head.foldable,
      "bounded_topk: k must be a literal (buffer geometry)")
    val k = exprs.head.eval() match {
      case i: Int => i
      case l: Long => l.toInt
      case other => throw new IllegalArgumentException(
        s"bounded_topk: integer k required, got $other")
    }
    BoundedTopK(k, exprs(1), exprs(2))
  }

  val boundedTopKDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("bounded_topk"),
      new ExpressionInfo(classOf[BoundedTopK].getName, "bounded_topk"),
      buildBoundedTopK)

  private def buildOrderedFoldSumLong(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2, "ordered_fold_sum_long(key, contrib)")
    OrderedFoldSumLong(exprs.head, exprs(1))
  }

  val orderedFoldSumLongDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("ordered_fold_sum_long"),
      new ExpressionInfo(classOf[OrderedFoldSumLong].getName,
        "ordered_fold_sum_long"),
      buildOrderedFoldSumLong)

  private def buildSdmFeatures(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 5,
      "sdm_features(j, contrib, positions, m, window)")
    require(exprs(4).foldable, "sdm_features: window must be a literal")
    val w = exprs(4).eval() match {
      case i: Int => i
      case l: Long => l.toInt
      case other => throw new IllegalArgumentException(
        s"sdm_features: integer window required, got $other")
    }
    SdmFeatures(exprs.head, exprs(1), exprs(2), exprs(3), w)
  }

  val sdmFeaturesDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("sdm_features"),
      new ExpressionInfo(classOf[SdmFeatures].getName, "sdm_features"),
      buildSdmFeatures)

  private def buildPhraseTf(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 3, "phrase_tf(j, positions, m)")
    PhraseTf(exprs.head, exprs(1), exprs(2))
  }

  val phraseTfDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("phrase_tf"),
      new ExpressionInfo(classOf[PhraseTf].getName, "phrase_tf"),
      buildPhraseTf)

  private def buildMd5Long60(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 1, "md5_long60(s)")
    Md5Long60(exprs.head)
  }

  val md5Long60Descriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("md5_long60"),
      new ExpressionInfo(classOf[Md5Long60].getName, "md5_long60"),
      buildMd5Long60)

  private def buildShingleHash60(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 3, "shingle_hash60(tokens, width, modulus)")
    ShingleHash60(exprs(0), exprs(1), exprs(2))
  }

  val shingleHash60Descriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("shingle_hash60"),
      new ExpressionInfo(classOf[ShingleHash60].getName, "shingle_hash60"),
      buildShingleHash60)

  private def buildSpanHashes(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 5,
      "span_hashes(tokens, width, stride, p, s)")
    def intLit(e: Expression, name: String): Int = {
      require(e.foldable, s"span_hashes: $name must be a literal")
      e.eval() match {
        case i: Int => i
        case l: Long => l.toInt
        case other => throw new IllegalArgumentException(
          s"span_hashes: integer $name required, got $other")
      }
    }
    SpanHashes(exprs.head, intLit(exprs(1), "width"),
      intLit(exprs(2), "stride"), intLit(exprs(3), "p"),
      intLit(exprs(4), "s"))
  }

  val spanHashesDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("span_hashes"),
      new ExpressionInfo(classOf[SpanHashes].getName, "span_hashes"),
      buildSpanHashes)

  private def buildIntMinhash(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2, "int_minhash(baseHashes, k)")
    require(exprs(1).foldable, "int_minhash: k must be a literal")
    val k = exprs(1).eval() match {
      case i: Int => i
      case l: Long => l.toInt
      case other => throw new IllegalArgumentException(
        s"int_minhash: integer k required, got $other")
    }
    IntMinhash(exprs.head, k)
  }

  val intMinhashDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("int_minhash"),
      new ExpressionInfo(classOf[IntMinhash].getName, "int_minhash"),
      buildIntMinhash)

  /** Sketch-ALGEBRA SQL functions: each builder expands to the same
    * composite Expression tree the [[graft.operators.Sketches]] column
    * API builds (pure built-in nodes — size/element_at/array ops — so
    * the SQL path is codegen'd, not a UDF). `k` must be an integer
    * LITERAL: it shapes the expression (element_at index, slice
    * length) at resolution time. With these plus the `kmv_sketchNN`
    * udafs the whole distinct-algebra workflow is expressible in pure
    * SQL: `SELECT kmv_estimate(kmv_union(a.sk, b.sk, 256), 256) ...`.
    */
  val sketchAlgebraDescriptors
      : Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.graft.ColumnBridge
    import graft.operators.Sketches
    def litK(e: Expression, fn: String): Int = e match {
      case Literal(v: Int, _) => v
      case Literal(v: Long, _) => v.toInt
      case other => throw new IllegalArgumentException(
        s"$fn: k must be an integer literal, got $other")
    }
    def col(e: Expression) = ColumnBridge.column(e)
    def unary(name: String)(f: (Column, Int) => Column) =
      (FunctionIdentifier(name),
        new ExpressionInfo(Sketches.getClass.getName, name),
        (exprs: Seq[Expression]) => {
          require(exprs.length == 2, s"$name(sketch, k)")
          ColumnBridge.expression(f(col(exprs(0)), litK(exprs(1), name)))
        })
    def binary(name: String)(f: (Column, Column, Int) => Column) =
      (FunctionIdentifier(name),
        new ExpressionInfo(Sketches.getClass.getName, name),
        (exprs: Seq[Expression]) => {
          require(exprs.length == 3, s"$name(a, b, k)")
          ColumnBridge.expression(
            f(col(exprs(0)), col(exprs(1)), litK(exprs(2), name)))
        })
    def unary0(name: String)(f: Column => Column) =
      (FunctionIdentifier(name),
        new ExpressionInfo(Sketches.getClass.getName, name),
        (exprs: Seq[Expression]) => {
          require(exprs.length == 1, s"$name(sketch)")
          ColumnBridge.expression(f(col(exprs(0))))
        })
    // SQL fractional literals (`0.5`) parse as DECIMAL, not DOUBLE —
    // accept both; like k, q shapes the expression at resolution time
    def litQ(e: Expression, fn: String): Double = e match {
      case Literal(v: org.apache.spark.sql.types.Decimal, _) => v.toDouble
      case Literal(v: Double, _) => v
      case Literal(v: Int, _) => v.toDouble
      case Literal(v: Long, _) => v.toDouble
      case other => throw new IllegalArgumentException(
        s"$fn: q must be a numeric literal, got $other")
    }
    val quantileEstimateDescriptor =
      (FunctionIdentifier("quantile_estimate"),
        new ExpressionInfo(Sketches.getClass.getName, "quantile_estimate"),
        (exprs: Seq[Expression]) => {
          require(exprs.length == 2, "quantile_estimate(sketch, q)")
          ColumnBridge.expression(Sketches.quantileEstimate(
            col(exprs(0)), litQ(exprs(1), "quantile_estimate")))
        })
    Seq(
      unary("kmv_estimate")(Sketches.kmvEstimate),
      unary("kmv_theta")(Sketches.kmvTheta),
      binary("kmv_union")(Sketches.kmvUnion),
      binary("kmv_union_estimate")(Sketches.kmvUnionEstimate),
      binary("kmv_intersect_estimate")(Sketches.kmvIntersectEstimate),
      binary("kmv_difference_estimate")(Sketches.kmvDifferenceEstimate),
      binary("kmv_jaccard_estimate")(Sketches.kmvJaccardEstimate),
      // round 10: the frequent-items and quantile summaries on the
      // same pure-expression SQL surface (m like k: an int literal)
      unary("freq_top_csv")(Sketches.freqTopCsv),
      unary0("freq_n")(Sketches.freqN),
      unary0("freq_retained")(Sketches.freqRetained),
      binary("freq_union")(Sketches.freqUnion),
      quantileEstimateDescriptor,
      unary0("quantile_n")(Sketches.quantileN),
      unary0("quantile_rank_bound")(Sketches.quantileRankBound))
  }

  // Sessions already registered — operators call register() defensively
  // from every entry point, and re-running createOrReplaceTempFunction
  // logs a "replaced a previously registered function" WARN per
  // function per call, polluting every driver log at scale. Weak keys:
  // dropped sessions don't leak.
  private val registered =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean])

  /** Install on a live session (tests / notebooks). Idempotent per
    * session — repeat calls are no-ops.
    */
  /** The udaf half of the SQL surface (aggregates can't ride
    * injectFunction). Called from both the extensions check-rule hook
    * and [[register]]; idempotent via the functionExists probe.
    */
  def registerUdafs(spark: SparkSession): Unit = {
    import graft.operators.Sketches
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    import org.apache.spark.sql.functions.udaf
    // probe PER GROUP, not once: a session registered by an older jar
    // has the kmv udafs but not the round-10 additions — a single
    // oldest-function probe would silently skip them (the
    // kmv_jaccard_estimate lesson, applied here)
    if (!spark.sessionState.functionRegistry
        .functionExists(FunctionIdentifier("kmv_sketch256"))) {
      spark.udf.register("kmv_sketch256",
        udaf(new Sketches.KmvAgg(256), Encoders.scalaLong))
      spark.udf.register("kmv_sketch64",
        udaf(new Sketches.KmvAgg(64), Encoders.scalaLong))
    }
    if (!spark.sessionState.functionRegistry
        .functionExists(FunctionIdentifier("quantile_merge512"))) {
      // round 10: frequent-items + quantile summaries, and the
      // persisted-sketch MERGE aggregates (rollup with one input row
      // per part — the bank-sidecar read path) in pure SQL.
      // quantile_merge512 takes the summary's FIELDS (entries, n, B):
      // `quantile_merge512(sk._1, sk._2, sk._3)`.
      spark.udf.register("freq_sketch64",
        udaf(new Sketches.FreqAgg(64), Encoders.STRING))
      spark.udf.register("quantile_sketch512",
        udaf(new Sketches.QuantileAgg(512), Encoders.scalaLong))
      spark.udf.register("quantile_merge512",
        udaf(new Sketches.QuantileMergeAgg(512),
          ExpressionEncoder[(Seq[(Long, Long)], Long, Long)]()))
      spark.udf.register("kmv_merge256",
        udaf(new Sketches.KmvMergeAgg(256),
          ExpressionEncoder[Array[Long]]()))
      spark.udf.register("kmv_merge64",
        udaf(new Sketches.KmvMergeAgg(64),
          ExpressionEncoder[Array[Long]]()))
    }
  }

  def register(spark: SparkSession): Unit = {
    if (registered.putIfAbsent(spark, java.lang.Boolean.TRUE) != null) return
    registerUdafs(spark)
    // a session built WITH the extensions already has everything —
    // re-registering would log 'replaced a previously registered
    // function' WARNs once per session. Probe the NEWEST injected
    // builder, not the oldest: a session whose extensions list predates
    // the sketch functions (older jar on the classpath) then falls
    // through and picks up the additions instead of silently missing
    // them.
    // round-12 addition, probed separately (the newest-builder lesson:
    // a session whose extensions predate it must still pick it up)
    if (!spark.sessionState.functionRegistry
        .functionExists(FunctionIdentifier("probe_buckets")))
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "probe_buckets", buildProbeBuckets, "built-in")
    // round-13 addition, same newest-builder probe
    if (!spark.sessionState.functionRegistry
        .functionExists(FunctionIdentifier("vec_l2")))
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "vec_l2", buildVecL2, "built-in")
    if (!spark.sessionState.functionRegistry
        .functionExists(FunctionIdentifier("vec_l2_q8")))
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "vec_l2_q8", buildVecL2Q8, "built-in")
    if (!spark.sessionState.functionRegistry
        .functionExists(FunctionIdentifier("adc_dist")))
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "adc_dist", buildAdcDist, "built-in")
    // round-14 addition, same newest-builder probe
    if (!spark.sessionState.functionRegistry
        .functionExists(FunctionIdentifier("bounded_topk")))
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "bounded_topk", buildBoundedTopK, "built-in")
    // round-17 additions, same newest-builder probe
    if (!spark.sessionState.functionRegistry
        .functionExists(FunctionIdentifier("phrase_tf")))
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "phrase_tf", buildPhraseTf, "built-in")
    // round-18 additions, same newest-builder probe
    if (!spark.sessionState.functionRegistry
        .functionExists(FunctionIdentifier("ordered_fold_sum_long")))
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "ordered_fold_sum_long", buildOrderedFoldSumLong, "built-in")
    if (!spark.sessionState.functionRegistry
        .functionExists(FunctionIdentifier("sdm_features")))
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "sdm_features", buildSdmFeatures, "built-in")
    if (!spark.sessionState.functionRegistry
        .functionExists(FunctionIdentifier("span_hashes")))
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "span_hashes", buildSpanHashes, "built-in")
    if (!spark.sessionState.functionRegistry
        .functionExists(FunctionIdentifier("int_minhash")))
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "int_minhash", buildIntMinhash, "built-in")
    // round-15 additions, same newest-builder probe
    if (!spark.sessionState.functionRegistry
        .functionExists(FunctionIdentifier("adc_table")))
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "adc_table", buildAdcTable, "built-in")
    if (!spark.sessionState.functionRegistry
        .functionExists(FunctionIdentifier("adc_dist_tbl")))
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "adc_dist_tbl", buildAdcDistTbl, "built-in")
    if (spark.sessionState.functionRegistry
        .functionExists(FunctionIdentifier("freq_union"))) return
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "haversine_m", build, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "vec_dot", buildVecDot, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "md5_long60", buildMd5Long60, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "shingle_hash60", buildShingleHash60, "built-in")
    sketchAlgebraDescriptors.foreach { case (id, _, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        id.funcName, builder, "built-in")
    }
    if (!spark.experimental.extraStrategies.contains(RangeJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ RangeJoinStrategy
    if (!spark.experimental.extraOptimizations.contains(GlobRewriteRule))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ GlobRewriteRule
    if (!spark.experimental.extraOptimizations.contains(BandedRangeJoinRule))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ BandedRangeJoinRule
  }
}
