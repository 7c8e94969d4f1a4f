package graft

import org.apache.spark.sql.functions._
import graft.operators.Sketches
import graft.plans.GraftExtensions

/** Properties the KMV/theta sketch family must hold beyond the q122–
  * q124 oracle rows: the sketch is a pure function of the value SET
  * (arrival order, partitioning, and merge tree are invisible), the
  * estimator meets its published error bound at estimation scale, the
  * set algebra is consistent with recomputing from raw data, and the
  * SQL surface serves the same aggregate.
  */
class SketchesSpec extends SparkSpec {
  import spark.implicits._

  private val K = 256

  test("KmvAgg unit semantics: dedup, cap, sortedness, merge = set union") {
    val agg = new Sketches.KmvAgg(4)
    var buf = agg.zero
    Seq(9L, 5L, 9L, 7L, 3L, 8L, 1L, 5L).foreach(h => buf = agg.reduce(buf, h))
    assert(buf.toSeq == Seq(1L, 3L, 5L, 7L)) // k smallest DISTINCT, sorted
    val other = {
      var b = agg.zero
      Seq(2L, 3L, 100L).foreach(h => b = agg.reduce(b, h))
      b
    }
    assert(agg.merge(buf, other).toSeq == Seq(1L, 2L, 3L, 5L))
    assert(agg.merge(other, buf).toSeq == Seq(1L, 2L, 3L, 5L)) // commutative
    assert(agg.merge(agg.zero, buf).toSeq == buf.toSeq)
    assert(agg.merge(buf, agg.zero).toSeq == buf.toSeq)
  }

  test("sketch is partitioning- and order-invariant (the mergeability claim)") {
    GraftExtensions.register(spark)
    val vals = spark.range(50000)
      .select(expr("md5_long60(cast(id * 37 % 20011 as string))").as("h"))
    def sketchWith(parts: Int, shuffled: Boolean) = {
      val base = if (shuffled) vals.orderBy(rand(42)) else vals
      base.repartition(parts)
        .agg(Sketches.kmvSketch(col("h"), K).as("sk"))
        .head.getAs[scala.collection.Seq[Long]]("sk")
    }
    val a = sketchWith(1, shuffled = false)
    assert(sketchWith(32, shuffled = false) == a)
    assert(sketchWith(7, shuffled = true) == a)
    assert(a.length == K && a == a.sorted)
  }

  test("estimator: exact below k; within 3 sigma at estimation scale") {
    GraftExtensions.register(spark)
    // exact mode: 100 distinct values, k=256 -> estimate == exact
    val small = spark.range(1000)
      .select(expr("md5_long60(cast(id % 100 as string))").as("h"))
      .agg(Sketches.kmvSketch(col("h"), K).as("sk"))
      .select(Sketches.kmvEstimate(col("sk"), K).as("est"),
        Sketches.kmvTheta(col("sk"), K).as("theta"))
      .head
    assert(small.getAs[Double]("est") == 100.0)
    assert(small.getAs[Long]("theta") == Sketches.HashSpace)
    // estimation mode: 100k distinct, rel err <= 3/sqrt(k-2) ~ 18.8%
    val big = spark.range(100000)
      .select(expr("md5_long60(cast(id as string))").as("h"))
      .agg(Sketches.kmvSketch(col("h"), K).as("sk"))
      .select(Sketches.kmvEstimate(col("sk"), K).as("est")).head
    assert(math.abs(big.getAs[Double]("est") - 100000.0) / 100000.0 <= 0.188)
  }

  test("set algebra consistent with raw recompute on overlapping sets") {
    GraftExtensions.register(spark)
    // A = [0, 60k), B = [40k, 100k): |A∪B| = 100k, |A∩B| = 20k
    val a = spark.range(0, 60000)
      .select(expr("md5_long60(cast(id as string))").as("h"))
      .agg(Sketches.kmvSketch(col("h"), K).as("sk"))
    val b = spark.range(40000, 100000)
      .select(expr("md5_long60(cast(id as string))").as("h"))
      .agg(Sketches.kmvSketch(col("h"), K).as("sk"))
    val row = a.crossJoin(b.select(col("sk").as("skb")))
      .select(Sketches.kmvUnionEstimate(col("sk"), col("skb"), K).as("u"),
        Sketches.kmvIntersectEstimate(col("sk"), col("skb"), K).as("i"),
        Sketches.kmvUnion(col("sk"), col("skb"), K).as("usk"))
      .head
    assert(math.abs(row.getAs[Double]("u") - 100000.0) / 100000.0 <= 0.25)
    assert(math.abs(row.getAs[Double]("i") - 20000.0) / 20000.0 <= 0.35)
    // union sketch == sketch built from the united data (algebra is
    // lossless, not another approximation layer)
    val direct = spark.range(0, 100000)
      .select(expr("md5_long60(cast(id as string))").as("h"))
      .agg(Sketches.kmvSketch(col("h"), K).as("sk"))
      .head.getAs[scala.collection.Seq[Long]]("sk")
    assert(row.getAs[scala.collection.Seq[Long]]("usk") == direct)
    // a-not-b: |A \ B| = 40k, |B \ A| = 40k
    val d = a.crossJoin(b.select(col("sk").as("skb")))
      .select(Sketches.kmvDifferenceEstimate(col("sk"), col("skb"), K).as("ab"),
        Sketches.kmvDifferenceEstimate(col("skb"), col("sk"), K).as("ba"))
      .head
    assert(math.abs(d.getAs[Double]("ab") - 40000.0) / 40000.0 <= 0.35)
    assert(math.abs(d.getAs[Double]("ba") - 40000.0) / 40000.0 <= 0.35)
    // inclusion-exclusion closes: |A\B| + |A∩B| ~ |A| (same theta sample)
    val est = a.select(Sketches.kmvEstimate(col("sk"), K)).head.getDouble(0)
    assert(math.abs(d.getAs[Double]("ab") + row.getAs[Double]("i") - est)
      / est <= 0.25)
  }

  test("plan shape: one shuffle, partial aggregation present (k-arrays shuffle, not values)") {
    GraftExtensions.register(spark)
    val df = spark.range(100000)
      .select((col("id") % 10).as("g"),
        expr("md5_long60(cast(id as string))").as("h"))
      .groupBy("g").agg(Sketches.kmvSketch(col("h"), K).as("sk"))
    val c = graft.tools.PlanIntrospect.counts(df)
    assert(c.shuffles == 1, s"expected exactly one shuffle: ${c.render}")
    // the partial (map-side) aggregate must exist and carry the kmv
    // buffer: without it the shuffle moves every hash instead of one
    // <=k array per (group x partition) - the property that makes the
    // sketch usable at 100 TB
    val aggs = graft.tools.PlanIntrospect
      .nodes(df.queryExecution.executedPlan)
      .filter(_.isInstanceOf[
        org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec])
    assert(aggs.size >= 2, s"expected partial+final ObjectHashAggregate, got ${aggs.size}")
  }

  test("pure-SQL sketch algebra matches the Scala API; k must be a literal") {
    GraftExtensions.register(spark)
    spark.range(0, 60000)
      .select(expr("md5_long60(cast(id as string))").as("h"))
      .agg(Sketches.kmvSketch(col("h"), K).as("sk"))
      .createOrReplaceTempView("alg_a")
    spark.range(40000, 100000)
      .select(expr("md5_long60(cast(id as string))").as("h"))
      .agg(Sketches.kmvSketch(col("h"), K).as("sk"))
      .createOrReplaceTempView("alg_b")
    val sqlRow = spark.sql(s"""
      SELECT kmv_estimate(a.sk, $K) AS ea,
             kmv_theta(a.sk, $K) AS ta,
             kmv_union_estimate(a.sk, b.sk, $K) AS u,
             kmv_intersect_estimate(a.sk, b.sk, $K) AS i,
             kmv_difference_estimate(a.sk, b.sk, $K) AS d,
             kmv_jaccard_estimate(a.sk, b.sk, $K) AS j,
             kmv_estimate(kmv_union(a.sk, b.sk, $K), $K) AS u2
      FROM alg_a a CROSS JOIN alg_b b""").head
    val apiRow = spark.table("alg_a").crossJoin(
        spark.table("alg_b").select(col("sk").as("skb")))
      .select(Sketches.kmvEstimate(col("sk"), K).as("ea"),
        Sketches.kmvTheta(col("sk"), K).as("ta"),
        Sketches.kmvUnionEstimate(col("sk"), col("skb"), K).as("u"),
        Sketches.kmvIntersectEstimate(col("sk"), col("skb"), K).as("i"),
        Sketches.kmvDifferenceEstimate(col("sk"), col("skb"), K).as("d"),
        Sketches.kmvJaccardEstimate(col("sk"), col("skb"), K).as("j"),
        Sketches.kmvEstimate(Sketches.kmvUnion(col("sk"), col("skb"), K), K)
          .as("u2"))
      .head
    Seq("ea", "ta", "u", "i", "d", "j", "u2").foreach { c =>
      assert(sqlRow.getAs[Any](c) == apiRow.getAs[Any](c), c)
    }
    // non-literal k is a resolution-time error, not silent garbage
    val err = intercept[Exception] {
      spark.sql("SELECT kmv_estimate(sk, CAST(id AS INT)) " +
        "FROM alg_a CROSS JOIN range(1)").collect()
    }
    assert(err.getMessage.contains("integer literal")
      || Option(err.getCause).exists(_.getMessage.contains("integer literal")))
    spark.catalog.dropTempView("alg_a")
    spark.catalog.dropTempView("alg_b")
  }

  test("freqSketch drops null items (no NPE, n excludes them)") {
    val row = spark.range(100)
      .select(when(col("id") % 3 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("w"), col("id") % 5)).as("tok"))
      .agg(Sketches.freqSketch(col("tok"), 16).as("sk"))
      .select(Sketches.freqN(col("sk")).as("n"),
        Sketches.freqRetained(col("sk")).as("ret"))
      .head
    // 34 ids are ≡ 0 (mod 3) in [0, 100): dropped, not counted
    assert(row.getLong(0) == 66L && row.getLong(1) == 66L)
  }

  test("freqUnion expression: exact regime == FreqMergeAgg; over capacity keeps MG guarantees") {
    GraftExtensions.register(spark)
    val k = 16
    // two halves with overlapping support; combined distinct 12 <= 16
    val rows = spark.range(3000).select(
      (col("id") % 2).as("g"),
      concat(lit("w"), when(col("id") % 2 === 0, col("id") % 8)
        .otherwise(col("id") % 12)).as("tok"))
    rows.groupBy("g").agg(Sketches.freqSketch(col("tok"), k).as("sk"))
      .createOrReplaceTempView("fu_parts")
    val exactEq = spark.sql("SELECT * FROM fu_parts").agg(
        Sketches.freqMerge(col("sk"), k).as("m"))
      .crossJoin(spark.sql(
        """SELECT freq_union(a.sk, b.sk, 16) AS u
           FROM fu_parts a JOIN fu_parts b ON a.g < b.g"""))
      .select((col("m") === col("u")).as("eq")).head.getBoolean(0)
    assert(exactEq, "exact-regime union must be bit-equal to the merge agg")
    // over capacity: k=4 over 12 distinct — guarantees vs exact counts
    val exact = rows.groupBy("tok").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = exact.values.sum
    rows.groupBy("g").agg(Sketches.freqSketch(col("tok"), 4).as("sk4"))
      .createOrReplaceTempView("fu4")
    val row = spark.sql(
      """SELECT freq_union(a.sk4, b.sk4, 4) AS u
         FROM fu4 a JOIN fu4 b ON a.g < b.g""")
      .select(Sketches.freqItems(col("u")).as("entries"),
        Sketches.freqN(col("u")).as("n"),
        Sketches.freqRetained(col("u")).as("ret"))
      .head
    assert(row.getLong(1) == n)
    val entries = row.getSeq[org.apache.spark.sql.Row](0)
      .map(e => e.getString(0) -> e.getLong(1))
    assert(entries.size <= 4)
    val budget = n - row.getLong(2)
    entries.foreach { case (item, est) =>
      val t = exact(item)
      assert(est <= t, s"overcount on $item")
      assert((t - est) * 5 <= budget, s"undercount bound broken on $item")
    }
    spark.catalog.dropTempView("fu_parts")
    spark.catalog.dropTempView("fu4")
  }

  test("pure-SQL freq/quantile surface matches the Scala API (round-10 functions)") {
    GraftExtensions.register(spark)
    spark.range(2000)
      .select(concat(lit("w"), (col("id") % 37).cast("string")).as("tok"),
        ((col("id") * 13) % 501).as("v"))
      .createOrReplaceTempView("fq_rows")
    val sqlRow = spark.sql("""
      WITH f AS (SELECT freq_sketch64(tok) AS fsk,
                        quantile_sketch512(v) AS qsk
                 FROM fq_rows)
      SELECT freq_n(fsk) AS n, freq_retained(fsk) AS ret,
             freq_top_csv(fsk, 3) AS top3,
             quantile_n(qsk) AS qn, quantile_estimate(qsk, 0.5) AS p50,
             quantile_rank_bound(qsk) AS rb
      FROM f""").head
    val apiRow = spark.table("fq_rows")
      .agg(Sketches.freqSketch(col("tok"), 64).as("fsk"),
        Sketches.quantileSketch(col("v"), 512).as("qsk"))
      .select(Sketches.freqN(col("fsk")).as("n"),
        Sketches.freqRetained(col("fsk")).as("ret"),
        Sketches.freqTopCsv(col("fsk"), 3).as("top3"),
        Sketches.quantileN(col("qsk")).as("qn"),
        Sketches.quantileEstimate(col("qsk"), 0.5).as("p50"),
        Sketches.quantileRankBound(col("qsk")).as("rb"))
      .head
    Seq("n", "ret", "top3", "qn", "p50", "rb").foreach { c =>
      assert(sqlRow.getAs[Any](c) == apiRow.getAs[Any](c), c)
    }
    // the merge udafs: halves of 500 rows are EXACT at c=512, and a
    // rollup of exact parts is exact — p50 equals the ⌈n/2⌉ order
    // statistic of the full 1000 rows
    val merged = spark.sql("""
      WITH halves AS (
        SELECT id % 2 AS g, kmv_sketch64(md5_long60(cast(id % 50 as string))) AS ksk,
               quantile_sketch512(CAST((id * 13) % 501 AS BIGINT)) AS qsk
        FROM range(1000) GROUP BY 1),
      m AS (SELECT kmv_estimate(kmv_merge64(ksk), 64) AS kest,
                   quantile_merge512(qsk._1, qsk._2, qsk._3) AS qm
            FROM halves)
      SELECT kest, quantile_n(qm) AS qn,
             quantile_estimate(qm, 0.5) AS p50 FROM m""").head
    val p50Exact = spark.sql("""
      SELECT element_at(array_sort(collect_list(CAST((id * 13) % 501 AS BIGINT))),
               cast(ceil(count(1) * 0.5) as int)) AS p
      FROM range(1000)""").head.getAs[Long]("p")
    assert(merged.getAs[Double]("kest") == 50.0)
    assert(merged.getAs[Long]("qn") == 1000L)
    assert(merged.getAs[Long]("p50") == p50Exact)
    spark.catalog.dropTempView("fq_rows")
  }

  test("priority sample: order/partition-invariant; subset sums track exact; exact below k") {
    GraftExtensions.register(spark)
    val k = 32
    // 5000 items, weight 1..100 cycling
    val items = spark.range(5000)
      .select(col("id"), (col("id") % 100 + 1).as("w"),
        expr("md5_long60(cast(id as string))").as("h"))
    def sample(parts: Int, shuffled: Boolean) = {
      val base = if (shuffled) items.orderBy(rand(13)) else items
      base.repartition(parts)
        .agg(Sketches.prioritySample(col("h"), col("w"), col("id"), k).as("smp"))
        .head.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("smp")
        .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2)))
    }
    val a = sample(1, shuffled = false)
    assert(sample(32, shuffled = false) == a)
    assert(sample(5, shuffled = true) == a)
    assert(a.length == k + 1)
    assert(a.map(_._1) == a.map(_._1).sortBy(-_)) // priority descending
    // estimates: total and a post-hoc subset (id < 1000 -> ~1/5 of mass)
    val est = items
      .agg(Sketches.prioritySample(col("h"), col("w"), col("id"), k).as("smp"))
      .select(
        Sketches.prioritySubsetSum(col("smp"), k, _ => lit(true)).as("tot"),
        Sketches.prioritySubsetSum(col("smp"), k, id => id < 1000).as("sub"),
        Sketches.priorityTau(col("smp"), k).as("tau"))
      .head
    val exactTot = 5000.0 / 100 * (1 to 100).sum  // 252,500
    val exactSub = 1000.0 / 100 * (1 to 100).sum  // 50,500
    assert(math.abs(est.getAs[Double]("tot") - exactTot) / exactTot <= 0.5)
    assert(math.abs(est.getAs[Double]("sub") - exactSub) / exactSub <= 0.75)
    assert(est.getAs[Double]("tau") > 0.0)
    // exact mode: fewer than k+1 items -> tau = 0, sums are exact
    val small = spark.range(10)
      .select(col("id"), (col("id") + 1).as("w"),
        expr("md5_long60(cast(id as string))").as("h"))
      .agg(Sketches.prioritySample(col("h"), col("w"), col("id"), k).as("smp"))
      .select(
        Sketches.prioritySubsetSum(col("smp"), k, _ => lit(true)).as("tot"),
        Sketches.priorityTau(col("smp"), k).as("tau"))
      .head
    assert(small.getAs[Double]("tau") == 0.0)
    assert(small.getAs[Double]("tot") == 55.0)
  }

  test("sample quantiles: exact below k; rank error bounded at estimation scale") {
    GraftExtensions.register(spark)
    val k = 64
    // payload = a skewed long distribution (id^2 mod 10007)
    val items = spark.range(20000)
      .select(col("id"), (col("id") * col("id") % 10007).as("v"),
        expr("md5_long60(cast(id as string))").as("h"))
    val row = items
      .agg(Sketches.prioritySample(col("h"), lit(1L), col("v"), k).as("smp"),
        expr("element_at(array_sort(collect_list(v)), cast(ceil(count(1) * 0.5) as int))").as("p50x"),
        expr("element_at(array_sort(collect_list(v)), cast(ceil(count(1) * 0.9) as int))").as("p90x"))
      .select(Sketches.sampleQuantile(col("smp"), k, 0.5).as("p50"),
        Sketches.sampleQuantile(col("smp"), k, 0.9).as("p90"),
        col("p50x"), col("p90x"))
      .head
    // sample rank error ~ O(1/sqrt(k)): allow 25% of the value range
    assert(math.abs(row.getAs[Long]("p50") - row.getAs[Long]("p50x")) <= 2500,
      s"p50 ${row.getAs[Long]("p50")} vs exact ${row.getAs[Long]("p50x")}")
    assert(math.abs(row.getAs[Long]("p90") - row.getAs[Long]("p90x")) <= 2500,
      s"p90 ${row.getAs[Long]("p90")} vs exact ${row.getAs[Long]("p90x")}")
    // exact mode: group smaller than k reproduces the group quantiles
    val small = spark.range(30)
      .select(col("id"), (col("id") * 7 % 97).as("v"),
        expr("md5_long60(cast(id as string))").as("h"))
      .agg(Sketches.prioritySample(col("h"), lit(1L), col("v"), k).as("smp"),
        expr("element_at(array_sort(collect_list(v)), cast(ceil(count(1) * 0.5) as int))").as("p50x"))
      .select(Sketches.sampleQuantile(col("smp"), k, 0.5).as("p50"), col("p50x"))
      .head
    assert(small.getAs[Long]("p50") == small.getAs[Long]("p50x"))
  }

  test("PriorityAgg unit semantics: cap, descending order, deterministic tie-break") {
    val agg = new Sketches.PriorityAgg(2) // cap 3
    var buf = agg.zero
    // equal priorities via equal (w, h): ids 7 and 3 both at w=10, h=HashSpace/2
    val h = Sketches.HashSpace / 2
    Seq((h, 10L, 7L), (h, 10L, 3L), (h / 2, 10L, 9L), (h, 1L, 5L))
      .foreach(in => buf = agg.reduce(buf, in))
    val out = agg.finish(buf)
    // priorities: id9 -> 40, id7/id3 -> 20 (tie, id asc), id5 -> 2 (evicted)
    assert(out.map(_._3) == Seq(9L, 3L, 7L))
    // merge produces the same trimmed set regardless of side
    var l = agg.zero; var r = agg.zero
    l = agg.reduce(l, (h, 10L, 7L)); l = agg.reduce(l, (h / 2, 10L, 9L))
    r = agg.reduce(r, (h, 10L, 3L)); r = agg.reduce(r, (h, 1L, 5L))
    assert(agg.finish(agg.merge(l, r)) == out)
    assert(agg.finish(agg.merge(r, l)) == out)
  }

  test("FreqAgg unit semantics: exact below k, MG decrement, mergeable merge") {
    val agg = new Sketches.FreqAgg(2)
    var buf = agg.zero
    // a,a,b: fits in k=2 exactly
    Seq("a", "a", "b").foreach(x => buf = agg.reduce(buf, x))
    assert(agg.finish(buf) == (Seq(("a", 2L), ("b", 1L)), 3L))
    // c arrives with the summary full: decrement-all-by-one, b drops,
    // c itself is never stored (classic MG step)
    buf = agg.reduce(buf, "c")
    assert(agg.finish(buf) == (Seq(("a", 1L)), 4L))
    // merge over capacity: {a:3,b:2} ++ {b:1,c:2} = {a:3,b:3,c:2},
    // (k+1)-th largest = 2 -> subtract 2, drop c -> {a:1,b:1}, n summed
    def mk(pairs: Seq[String]) = pairs.foldLeft(agg.zero)(agg.reduce)
    val l = mk(Seq("a", "a", "a", "b", "b"))
    val r = mk(Seq("b", "c", "c"))
    val m = agg.merge(l, r)
    assert(agg.finish(m) == (Seq(("a", 1L), ("b", 1L)), 8L))
    val m2 = agg.merge(r, l) // commutative
    assert(agg.finish(m2) == agg.finish(m))
    assert(agg.finish(agg.merge(agg.zero, l)) == agg.finish(l))
  }

  test("freqSketch: exact regime bit-stable across partitionings; verdicts hold over capacity") {
    GraftExtensions.register(spark)
    // 20 distinct items, k=32 -> exact regime whatever the partitioning
    val items = spark.range(20000)
      .select(concat(lit("w"), (col("id") % 20).cast("string")).as("tok"))
    def summary(parts: Int) = items.repartition(parts)
      .agg(Sketches.freqSketch(col("tok"), 32).as("sk"))
      .select(Sketches.freqTopCsv(col("sk"), 5).as("csv"),
        Sketches.freqN(col("sk")).as("n"))
      .head
    val a = summary(1)
    assert(summary(17) == a && a.getAs[Long]("n") == 20000L)
    // over capacity (k=4): guarantees, checked via the verdict columns
    // against an exact in-query count map — the q133 device
    val skewed = spark.range(30000)
      .select(concat(lit("t"),
        when(col("id") % 2 === 0, col("id") % 3) // t0/t1/t2 heavy
          .otherwise(col("id") % 500).cast("string")).as("tok"))
    val exact = skewed.groupBy("tok").agg(count(lit(1)).as("c"))
      .agg(map_from_entries(collect_list(struct(col("tok"), col("c"))))
        .as("truem"))
    val row = skewed.agg(Sketches.freqSketch(col("tok"), 4).as("sk"))
      .crossJoin(exact)
      .select(Sketches.freqBoundsOk(col("sk"), col("truem"), 4).as("b"),
        Sketches.freqHeavyRecallOk(col("sk"), col("truem"), 4).as("h"),
        size(Sketches.freqItems(col("sk"))).as("sz"))
      .head
    assert(row.getAs[Long]("b") == 1L && row.getAs[Long]("h") == 1L)
    assert(row.getAs[Int]("sz") <= 4)
  }

  test("freqSketch plan shape: one shuffle, partial+final ObjectHashAggregate") {
    GraftExtensions.register(spark)
    val df = spark.range(100000)
      .select((col("id") % 10).as("g"),
        (col("id") % 997).cast("string").as("tok"))
      .groupBy("g").agg(Sketches.freqSketch(col("tok"), 16).as("sk"))
    val c = graft.tools.PlanIntrospect.counts(df)
    assert(c.shuffles == 1, s"expected exactly one shuffle: ${c.render}")
    val aggs = graft.tools.PlanIntrospect
      .nodes(df.queryExecution.executedPlan)
      .filter(_.isInstanceOf[
        org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec])
    assert(aggs.size >= 2,
      s"expected partial+final ObjectHashAggregate, got ${aggs.size}")
  }

  test("extensions-only session gets the udaf half of the SQL surface (check-rule hook)") {
    import org.apache.spark.sql.SparkSession
    val orig = spark // ensure the shared session (and its context) exist
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // reuses orig's SparkContext, whose conf already names the
      // extensions (TestSpark): a new session takes its extensions from
      // the context's conf, so the builder setting below only restates
      // it. What this checks is that a NEW session, whose registry only
      // the extensions fill, gets the udafs (kmv_sketch256/64) too.
      val s2 = SparkSession.builder()
        .config("spark.sql.extensions", "graft.plans.GraftExtensions")
        .getOrCreate()
      assert(s2 ne orig)
      val row = s2.sql("""
        SELECT kmv_estimate(kmv_sketch64(md5_long60(cast(id % 40 as string))), 64) AS est
        FROM range(1000)""").head
      assert(row.getAs[Double]("est") == 40.0)
    } finally {
      SparkSession.setDefaultSession(orig)
      SparkSession.setActiveSession(orig)
    }
  }

  test("quantileSketch: exact regime matches order statistics; persists and rolls up") {
    GraftExtensions.register(spark)
    // exact regime: 300 skewed values, c=512 -> B=0, quantiles exact
    val vals = spark.range(300)
      .select((col("id") * col("id") % 1009).as("v"))
    val row = vals
      .agg(Sketches.quantileSketch(col("v"), 512).as("sk"),
        expr("element_at(array_sort(collect_list(v)), cast(ceil(count(1) * 0.5) as int))").as("p50x"),
        expr("element_at(array_sort(collect_list(v)), cast(ceil(count(1) * 0.9) as int))").as("p90x"))
      .select(Sketches.quantileErr(col("sk")).as("b"),
        Sketches.quantileN(col("sk")).as("n"),
        Sketches.quantileEstimate(col("sk"), 0.5).as("p50"),
        Sketches.quantileEstimate(col("sk"), 0.9).as("p90"),
        col("p50x"), col("p90x"))
      .head
    assert(row.getAs[Long]("b") == 0L && row.getAs[Long]("n") == 300L)
    assert(row.getAs[Long]("p50") == row.getAs[Long]("p50x"))
    assert(row.getAs[Long]("p90") == row.getAs[Long]("p90x"))
    // over capacity: the summary's own bound holds vs the exact rank
    val big = spark.range(50000)
      .select((col("id") * 7919 % 100003).as("v"))
    val r2 = big
      .agg(Sketches.quantileSketch(col("v"), 64).as("sk"),
        array_sort(collect_list(col("v"))).as("vals"))
      .select(Sketches.quantileEstimate(col("sk"), 0.5).as("p50"),
        Sketches.quantileRankBound(col("sk")).as("bound"),
        Sketches.quantileN(col("sk")).as("n"), col("vals"))
      .head
    val est = r2.getAs[Long]("p50"); val bound = r2.getAs[Long]("bound")
    val sorted = r2.getAs[scala.collection.Seq[Long]]("vals")
    val target = math.ceil(r2.getAs[Long]("n") * 0.5).toLong
    val le = sorted.count(_ <= est).toLong
    val lt = sorted.count(_ < est).toLong
    assert(le >= target - bound && lt <= target + bound,
      s"rank [$lt,$le] vs $target +- $bound")
    // persist -> reload -> quantileMerge: n conserved, parquet-safe schema
    val tmp = java.nio.file.Files.createTempDirectory("graft-qsk").toString
    spark.range(1000)
      .select((col("id") % 5).as("g"), (col("id") * 13 % 501).as("v"))
      .groupBy("g").agg(Sketches.quantileSketch(col("v"), 32).as("sk"))
      .write.mode("overwrite").parquet(tmp)
    val rolled = spark.read.parquet(tmp)
      .agg(Sketches.quantileMerge(col("sk"), 32).as("rsk"))
      .select(Sketches.quantileN(col("rsk")).as("n")).head
    assert(rolled.getAs[Long]("n") == 1000L)
  }

  test("quantileSketch plan shape: one shuffle, partial+final ObjectHashAggregate") {
    GraftExtensions.register(spark)
    val df = spark.range(100000)
      .select((col("id") % 10).as("g"), (col("id") % 997).as("v"))
      .groupBy("g").agg(Sketches.quantileSketch(col("v"), 128).as("sk"))
    val c = graft.tools.PlanIntrospect.counts(df)
    assert(c.shuffles == 1, s"expected exactly one shuffle: ${c.render}")
    val aggs = graft.tools.PlanIntrospect
      .nodes(df.queryExecution.executedPlan)
      .filter(_.isInstanceOf[
        org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec])
    assert(aggs.size >= 2,
      s"expected partial+final ObjectHashAggregate, got ${aggs.size}")
  }

  test("SQL surface: kmv_sketch256 serves the same aggregate through spark.sql") {
    GraftExtensions.register(spark)
    spark.range(5000).select(expr("md5_long60(cast(id % 777 as string))").as("h"))
      .createOrReplaceTempView("sketch_spec_t")
    val viaSql = spark.sql(
      "SELECT kmv_sketch256(h) AS sk FROM sketch_spec_t")
      .head.getAs[scala.collection.Seq[Long]]("sk")
    val viaApi = spark.table("sketch_spec_t")
      .agg(Sketches.kmvSketch(col("h"), 256).as("sk"))
      .head.getAs[scala.collection.Seq[Long]]("sk")
    assert(viaSql == viaApi)
    spark.catalog.dropTempView("sketch_spec_t")
  }

  test("merge aggregates drop null sketch rows (outer-join misses) instead of failing") {
    // kmv: a null array row must not NPE the rollup
    val kmvRolled = spark.sql(
      "SELECT * FROM VALUES (array(5L, 9L)), (CAST(NULL AS ARRAY<BIGINT>)) t(sk)")
      .agg(Sketches.kmvMerge(col("sk"), 4).as("m"))
      .head.getAs[scala.collection.Seq[Long]]("m")
    assert(kmvRolled == Seq(5L, 9L))
    // quantile: a null struct row (and a struct with null entries) drop
    val qRolled = spark.sql(
      """SELECT * FROM VALUES
           (named_struct('_1', array(named_struct('_1', 7L, '_2', 1L)),
                         '_2', 1L, '_3', 0L)),
           (CAST(NULL AS STRUCT<_1: ARRAY<STRUCT<_1: BIGINT, _2: BIGINT>>,
                                _2: BIGINT, _3: BIGINT>))
         t(sk)""")
      .agg(Sketches.quantileMerge(col("sk"), 4).as("m"))
      .select(Sketches.quantileN(col("m")).as("n"),
        Sketches.quantileEstimate(col("m"), 0.5).as("p50"))
      .head
    assert(qRolled.getAs[Long]("n") == 1L && qRolled.getAs[Long]("p50") == 7L)
    // freq (the pre-existing guard): still drops nulls after the refactor
    val fRolled = spark.sql(
      """SELECT * FROM VALUES
           (named_struct('_1', array(named_struct('_1', 'a', '_2', 3L)),
                         '_2', 3L)),
           (CAST(NULL AS STRUCT<_1: ARRAY<STRUCT<_1: STRING, _2: BIGINT>>,
                                _2: BIGINT>))
         t(sk)""")
      .agg(Sketches.freqMerge(col("sk"), 4).as("m"))
      .select(Sketches.freqN(col("m")).as("n")).head
    assert(fRolled.getAs[Long]("n") == 3L)
  }

  test("quantileSizeOk: integer bit-length bound, exact at powers of two") {
    // n = 8 (an exact power of two): the bound is c*(floor(log2 n)+1)
    // = c*4; floating-point log2 rounds floor(log2 8) down to 2 and
    // would shrink it to c*3 — a 16-entry summary must pass at c=4
    def crafted(nEntries: Int, n: Long) = spark.range(1).select(expr(
      s"""named_struct(
            '_1', transform(sequence(1, $nEntries),
                    i -> named_struct('_1', CAST(i AS BIGINT),
                                      '_2', CAST(1 AS BIGINT))),
            '_2', CAST($n AS BIGINT), '_3', CAST(0 AS BIGINT))""").as("sk"))
      .select(Sketches.quantileSizeOk(col("sk"), 4).as("ok"))
      .head.getAs[Long]("ok")
    assert(crafted(16, 8L) == 1L, "c*(log2(8)+1) = 16 entries must pass")
    assert(crafted(17, 8L) == 0L, "17 entries must exceed the n=8 bound")
    assert(crafted(4, 1L) == 1L && crafted(5, 1L) == 0L, "n=1: one level")
  }
}
