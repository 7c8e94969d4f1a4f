package graft

import org.apache.spark.sql.SparkSession
import graft.queries.Catalog

/** Benchmark main: times the headline queries on SPARK_GRAFT_SF_DIR and
  * prints one JSON line for the driver (BENCH_r{N}.json).
  *
  * Best-of-N protocol (round 16): ambient host drift repeatedly made
  * single-shot numbers un-adjudicable (three rounds of "the host ran slow
  * that day" archaeology), so the harness now runs each query
  * SPARK_GRAFT_BENCH_N times (default 3) after one untimed warmup and
  * reports the per-query MIN. The JSON keeps the driver contract —
  * "value" is the sum of per-query minima, "queries" maps name → min —
  * and adds "runs" (N) and "totals" (the N whole-suite sums) so a reader
  * can see the spread that the min collapsed. A query that throws is
  * listed under "failed" and left out of "queries", "value" and
  * "totals": an exception is never reported as a time.
  */
object Bench {
  /** The JSON line for `names`: one untimed warmup execution per query
    * (JIT, codegen cache, parquet footers), then `n` timed passes over
    * the whole suite (not N back-to-back runs of one query, so a
    * transient host stall hits one pass, not one query); each query
    * reports its min. A query that throws in any execution is not run
    * again and is reported under "failed" only.
    */
  private[graft] def report(names: Seq[String], n: Int, sfDir: String)(
      run: String => Unit): String = {
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    def attempt(name: String): Option[(String, Double)] =
      if (failed(name)) None
      else {
        val t0 = System.nanoTime()
        try { run(name); Some(name -> (System.nanoTime() - t0) / 1e9) }
        catch {
          case e: Throwable =>
            System.err.println(s"[graft] Bench: $name failed: $e")
            failed += name
            None
        }
      }
    names.foreach(attempt)
    val passes: Seq[Map[String, Double]] =
      (1 to n).map(_ => names.flatMap(attempt).toMap)
    val ok = names.filterNot(failed)
    val best = ok.map(nm => nm -> passes.map(_(nm)).min)
    val qs = best.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val totalsJson = passes.map(p => ok.map(p).sum).mkString("[", ",", "]")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = best.map(_._2).sum
    s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","runs":$n,"totals":$totalsJson,"failed":$failedJson}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val n = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_N", "3").toInt)
    val spark = graft.core.GraftSession.configure(
      SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.ui.enabled", "false")
    ).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val names =
      if (Catalog.headline.nonEmpty) Catalog.headline else Catalog.all.map(_.name)
    println(report(names, n, sfDir)(nm => Catalog.byName(nm).run(spark, sfDir).count()))
    spark.stop()
  }
}
