package graft

import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession
import graft.plans.{GraftExtensions, RangeJoinStrategy}

/** graft's SQL surface is one table: an extensions-only session
  * resolves every entry of it, and `register` installs the same table
  * on a running session. A guard over `src/main/scala` keeps the Scala
  * API off the session registry.
  */
class GraftExtensionsSpec extends SparkSpec {

  private val tableNames = Seq(
    "haversine_m", "vec_dot", "vec_l2", "vec_l2_q8", "adc_dist", "adc_table",
    "adc_dist_tbl", "probe_buckets", "bounded_topk", "ordered_fold_sum_long",
    "sdm_features", "phrase_tf", "md5_long60", "shingle_hash60",
    "span_hashes", "int_minhash", "kmv_estimate", "kmv_theta", "kmv_union",
    "kmv_union_estimate", "kmv_intersect_estimate", "kmv_difference_estimate",
    "kmv_jaccard_estimate", "freq_top_csv", "freq_n", "freq_retained",
    "freq_union", "quantile_estimate", "quantile_n", "quantile_rank_bound")
  private val udafNames = Seq("kmv_sketch256", "kmv_sketch64",
    "freq_sketch64", "quantile_sketch512", "quantile_merge512",
    "kmv_merge256", "kmv_merge64")

  /** The name resolves to a function; calling it with no arguments may
    * still fail, but not as an unknown routine.
    */
  private def resolves(s: SparkSession, name: String): Boolean =
    Try(s.sql(s"SELECT $name()").queryExecution.analyzed) match {
      case Success(_) => true
      case Failure(e) => !e.getMessage.contains("UNRESOLVED_ROUTINE")
    }

  /** A session built with `spark.sql.extensions` only, on the shared
    * context; the shared session is restored afterwards.
    */
  private def withExtensionsOnlySession(f: SparkSession => Unit): Unit = {
    val orig = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .config("spark.sql.extensions", "graft.plans.GraftExtensions")
        .getOrCreate()
      assert(s2 ne orig)
      f(s2)
    } finally {
      SparkSession.setDefaultSession(orig)
      SparkSession.setActiveSession(orig)
    }
  }

  test("the function table holds every graft SQL function once, and the udaf list every udaf") {
    val names = GraftExtensions.functions.map(_._1.funcName)
    assert(names.distinct == names)
    assert(names.toSet == tableNames.toSet)
    assert(GraftExtensions.udafs.map(_._1).toSet == udafNames.toSet)
  }

  test("an extensions-only session resolves every table entry and every udaf from SQL") {
    withExtensionsOnlySession { s2 =>
      assert(!resolves(s2, "graft_no_such_function"))
      (tableNames ++ udafNames).foreach(n => assert(resolves(s2, n), n))
      // the ADC table pair answers like the fused adc_dist
      val row = s2.sql("""
        SELECT adc_dist_tbl(adc_table(q, cb), array(1), 1) AS t1,
               adc_dist_tbl(adc_table(q, cb), array(0), 1) AS t0,
               adc_dist(q, array(1), cb) AS d1,
               adc_dist(q, array(0), cb) AS d0
        FROM (SELECT CAST(array(1, 2) AS ARRAY<FLOAT>) AS q,
                     CAST(array(array(array(0, 0), array(1, 2)))
                       AS ARRAY<ARRAY<ARRAY<FLOAT>>>) AS cb)""").head
      assert(row.getDouble(0) == 0.0 && row.getDouble(1) == 5.0)
      assert(row.getDouble(0) == row.getDouble(2))
      assert(row.getDouble(1) == row.getDouble(3))
    }
  }

  test("register restores missing names, idempotently, with no second copy of the planner rules") {
    val s = spark.newSession()
    s.sessionState.analyzer // the udaf hook runs at analyzer construction
    (tableNames ++ udafNames).foreach(n => s.sessionState.functionRegistry
      .dropFunction(org.apache.spark.sql.catalyst.FunctionIdentifier(n)))
    assert(!resolves(s, "md5_long60") && !resolves(s, "kmv_sketch64"))
    // the session's planner already holds the injected rules
    assert(s.sessionState.planner.strategies.contains(RangeJoinStrategy))
    GraftExtensions.register(s)
    GraftExtensions.register(s)
    (tableNames ++ udafNames).foreach(n => assert(resolves(s, n), n))
    assert(s.sql("SELECT md5_long60('a') AS h").head.getLong(0) ==
      s.sql("SELECT CAST(conv(substring(md5('a'), 1, 15), 16, 10) AS BIGINT)")
        .head.getLong(0))
    assert(s.experimental.extraStrategies.isEmpty)
    assert(s.experimental.extraOptimizations.isEmpty)
  }

  test("register on a session built without the extensions adds the functions and the planner rules once") {
    // every session of this JVM shares TestSpark's context, whose conf
    // names the extensions: the plain session lives in a child JVM
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
    val opens = jvmArgs.zipWithIndex.flatMap {
      case (a, _) if a.startsWith("--add-opens=") => Seq(a)
      case ("--add-opens", i) if i + 1 < jvmArgs.size =>
        Seq("--add-opens", jvmArgs(i + 1))
      case _ => Nil
    }
    assert(opens.nonEmpty, jvmArgs.mkString(" "))
    val log = java.io.File.createTempFile("graft-plain-session", ".log")
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java", "-Xmx768m") ++
      opens ++ Seq("-cp", System.getProperty("java.class.path"),
        "graft.PlainSessionRegisterMain")
    val child = new ProcessBuilder(cmd: _*)
      .redirectErrorStream(true).redirectOutput(log).start()
    try {
      val done = child.waitFor(180, java.util.concurrent.TimeUnit.SECONDS)
      def out = java.nio.file.Files.readAllLines(log.toPath).asScala
        .filter(_.startsWith("FAILED")).mkString("\n")
      assert(done, s"the child JVM did not finish within 180 s ($log)")
      assert(child.exitValue() == 0, s"$out\n(log: $log)")
    } finally child.destroyForcibly()
  }

  test("an integer argument beyond the Int range is refused, not wrapped") {
    // 2^32 + 3 would wrap to k = 3
    val e = intercept[Exception](spark.sql(
      "SELECT bounded_topk(4294967299, CAST(id AS DOUBLE), id) FROM range(5)").collect())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).toSeq
    assert(msgs.exists(_.contains("k must be an integer literal")), msgs.mkString("\n"))
  }

  test("src/main never registers per call, and only the catalog queries name graft functions") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, root.getAbsolutePath)
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f =>
        if (f.isDirectory) files(f) else Seq(f).filter(_.getName.endsWith(".scala")))
    val all = files(root)
    def rel(f: java.io.File) = root.toPath.relativize(f.toPath).toString
    val names = (tableNames ++ udafNames).mkString("|")
    val byName = s"""\\b($names)\\s*\\(""".r
    val callByName = s"""(call_function|callUDF|call_udf)\\(\\s*"($names)"""".r
    val literal = "\"(?:[^\"\\\\]|\\\\.)*\"".r
    val offenders = all.flatMap { f =>
      val path = rel(f)
      val src = scala.io.Source.fromFile(f, "UTF-8")
      val lines = try src.getLines().toVector finally src.close()
      lines.zipWithIndex.flatMap { case (line, i) =>
        val where = s"$path:${i + 1}: ${line.trim}"
        val register = line.contains("GraftExtensions.register(") &&
          !path.startsWith("graft/plans/")
        val named = !path.startsWith("graft/queries/") &&
          !path.startsWith("graft/plans/") &&
          (callByName.findFirstIn(line).isDefined ||
            literal.findAllIn(line).exists(l => byName.findFirstIn(l).isDefined))
        if (register || named) Some(where) else None
      }
    }
    assert(all.size > 100, s"scanned only ${all.size} files")
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
