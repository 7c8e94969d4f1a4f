package graft

import scala.util.Try

import org.apache.spark.sql.SparkSession

import graft.plans.{BandedRangeJoinRule, GlobRewriteRule, GraftExtensions,
  RangeJoinStrategy}

/** On a session built with no `spark.sql.extensions`, one
  * `GraftExtensions.register` adds graft's SQL functions and its
  * planner rules, once; a second adds nothing. A separate JVM, because
  * a session created in the test JVM shares its SparkContext's
  * extensions conf. Exits 0 when every check holds; prints the checks
  * that failed and exits 1 otherwise.
  */
object PlainSessionRegisterMain {

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[1]")
      .appName("graft-plain-session")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    val failed = scala.collection.mutable.ArrayBuffer[String]()
    def check(ok: Boolean, what: String): Unit = if (!ok) failed += what
    def resolves: Boolean =
      Try(spark.sql("SELECT md5_long60('a')").queryExecution.analyzed)
        .isSuccess
    def rangeJoins: Int =
      spark.sessionState.planner.strategies.count(_ == RangeJoinStrategy)
    def surface = (spark.experimental.extraStrategies,
      spark.experimental.extraOptimizations,
      spark.sessionState.functionRegistry.listFunction().size)
    try {
      check(!resolves, "md5_long60 resolves before register")
      check(rangeJoins == 0, "RangeJoinStrategy planned before register")
      GraftExtensions.register(spark)
      check(resolves, "md5_long60 does not resolve after register")
      check(rangeJoins == 1,
        s"RangeJoinStrategy planned $rangeJoins times after register")
      check(spark.experimental.extraOptimizations ==
        Seq(GlobRewriteRule, BandedRangeJoinRule),
        s"optimizer rules: ${spark.experimental.extraOptimizations}")
      val once = surface
      GraftExtensions.register(spark)
      check(surface == once, s"a second register changed $once to $surface")
    } finally spark.stop()
    if (failed.nonEmpty) {
      failed.foreach(f => println(s"FAILED: $f"))
      sys.exit(1)
    }
  }
}
