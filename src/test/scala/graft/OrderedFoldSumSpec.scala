package graft

import org.apache.spark.sql.functions._

import graft.operators.TopK

/** Differential pin for the native ordered fold
  * ([[graft.plans.OrderedFoldSumLong]]): bit-identical to the
  * collect_list + sort_array + lambda-fold pipeline it replaced on the
  * lexical hot paths — including duplicate keys (value tiebreak),
  * negative/denormal-ish magnitudes where float addition order shows,
  * empty-after-null groups, and the multi-partition merge path — plus
  * the property the rank-keyed BM25 folds rest on: the per-query term
  * rank orders terms exactly as binary UTF8 comparison does.
  */
class OrderedFoldSumSpec extends SparkSpec {
  import spark.implicits._

  private def oldFold(df: org.apache.spark.sql.DataFrame) = df
    .groupBy("g")
    .agg(sort_array(collect_list(struct(col("k"), col("v")))).as("cs"))
    .select(col("g"), aggregate(col("cs"), lit(0.0),
      (acc, x) => acc + x.getField("v")).as("s"))

  private def newFold(df: org.apache.spark.sql.DataFrame) = df
    .groupBy("g")
    .agg(TopK.orderedFoldSumLong(col("k"), col("v")).as("s"))

  test("bit-identical to the sorted-collect fold across orders, " +
       "duplicate keys, and partition merges") {
    val rnd = new scala.util.Random(42)
    val rows = (0 until 5000).map { i =>
      val g = i % 37
      val k = rnd.nextInt(20).toLong // duplicate keys within groups
      val v = (rnd.nextDouble() - 0.5) * math.pow(10.0, rnd.nextInt(13) - 6)
      (g.toLong, k, v)
    }
    val df = rows.toDF("g", "k", "v").repartition(16) // force merges
    val a = oldFold(df).as[(Long, Double)].collect().sortBy(_._1).toSeq
    val b = newFold(df).as[(Long, Double)].collect().sortBy(_._1).toSeq
    assert(a.length == b.length)
    a.zip(b).foreach { case ((g1, s1), (g2, s2)) =>
      assert(g1 == g2)
      assert(java.lang.Double.doubleToRawLongBits(s1) ==
        java.lang.Double.doubleToRawLongBits(s2),
        s"group $g1: $s1 != $s2 (bitwise)")
    }
  }

  test("null keys/values are skipped like null structs; all-null " +
       "group sums to +0.0") {
    val df = Seq(
      (1L, Some(1L), Some(1.5)),
      (1L, None, Some(2.5)),          // null key — skipped
      (1L, Some(2L), None),           // null value — skipped
      (2L, Option.empty[Long], Option.empty[Double])
    ).toDF("g", "k", "v")
    val got = newFold(df).as[(Long, Double)].collect().toMap
    assert(got(1L) == 1.5)
    assert(got(2L) == 0.0)
    assert(java.lang.Double.doubleToRawLongBits(got(2L)) == 0L) // +0.0
  }

  test("queryTermsRanked ranks terms in binary UTF8 order") {
    // "Z" < "a" < "b" < "é" in UTF8 bytes (locale order would put "Z"
    // after "a" and "é" beside "e"); the rank-keyed fold sums in `tr`
    // order, so `tr` must be exactly the binary term order
    val qs = Seq((1L, "b é a Z a"), (2L, "zz Zz zZ")).toDF("q_id", "qtext")
    val got = graft.operators.Lexical.queryTermsRanked(qs, "qtext", "q_id")
      .as[(Long, Long, String)].collect().groupBy(_._1)
    got.foreach { case (q, rows) =>
      val byRank = rows.sortBy(_._2).map(_._3).toSeq
      val binary = rows.map(_._3).toSeq.sortWith((a, b) =>
        org.apache.spark.unsafe.types.UTF8String.fromString(a)
          .compareTo(org.apache.spark.unsafe.types.UTF8String
            .fromString(b)) < 0)
      assert(byRank == binary, s"query $q: $byRank")
      assert(rows.map(_._2).sorted.toSeq == (1L to rows.length.toLong),
        s"query $q: ranks not 1..n")
    }
    assert(got(1L).sortBy(_._2).map(_._3).toSeq == Seq("Z", "a", "b", "é"))
    // and the fold over those ranks replays the term-ordered fold:
    // magnitudes chosen so the order changes the sum if violated
    val contrib = Map("a" -> 1e16, "Z" -> 1.0, "b" -> -1e16, "é" -> 3.0)
    val ranked = got(1L).map(r => (1L, r._2, contrib(r._3))).toSeq
      .toDF("g", "k", "v")
    val byTerm = got(1L).map(r => (1L, r._3, contrib(r._3))).toSeq
      .toDF("g", "k", "v")
    val a = oldFold(byTerm).as[(Long, Double)].collect().head._2
    val b = newFold(ranked).as[(Long, Double)].collect().head._2
    assert(java.lang.Double.doubleToRawLongBits(a) ==
      java.lang.Double.doubleToRawLongBits(b))
  }
}
