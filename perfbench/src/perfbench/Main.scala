package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one closed-loop client, one JVM.
  *
  *   perfbench.Main --workload <seismic|lexical> --seed <n>
  *     --seconds <s> --trace <0|1> --cores <n> --work <dir> --spans <dir>
  *     [--answers <file>] [--plant-wrong]
  *
  * `--answers` names the stored answer checksums, one
  * `workload<TAB>seed<TAB>key<TAB>checksum` line each; the run checks the
  * answers of its workload and seed against them and prints the answers it
  * gave as an `{"answers": ...}` line. Prints one JSON result object as the
  * last stdout line. `--trace 0`
  * reports the end-to-end metrics; `--trace 1` alternates untraced and
  * traced rounds of the mix and reports the per-layer metrics.
  */
object Main {
  /** End-to-end metrics, reported by every workload. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "read_ms" -> "ms", "ops_per_s" -> "1/s",
    "space_amp" -> "ratio")

  /** Operation types of all workloads. */
  val Ops: Seq[String] = Seq("get_waveforms", "read_index", "gaps",
    "put_waveforms", "get_events", "fetch", "index_events", "bm25",
    "maxscore", "sdm", "refresh")

  /** Per-layer metrics of the traced run; 0 where a workload does not run
    * the layer.
    */
  val PerLayer: Seq[(String, String)] =
    Ops.filterNot(Set("read_index", "gaps")).map(o => s"${o}_p50_ms" -> "ms") ++
    Ops.flatMap(o => Seq(
      s"engine.$o.stages" -> "count", s"engine.$o.tasks" -> "count",
      s"engine.$o.cpu_ms" -> "ms", s"engine.$o.shuffle_mb" -> "MB",
      s"engine.$o.spill_mb" -> "MB", s"engine.$o.task_skew" -> "ratio")) ++
    Seq(
      "sources.segment_files_per_get" -> "count",
      "sources.samples_decoded_per_returned" -> "ratio",
      "sources.bytes_read_mb" -> "MB", "sources.decode_ms" -> "ms",
      "sources.quakeml_parse_ms" -> "ms", "sources.records_skipped" -> "count",
      "sources.extra_traces_per_get" -> "count",
      "bank.read_index_ms" -> "ms",
      "bank.index_rows_examined_per_returned" -> "ratio",
      "bank.update_index_ms" -> "ms", "bank.segment_write_ms" -> "ms",
      "bank.index_files" -> "count", "bank.event_put_ms" -> "ms",
      "bank.event_rows_written_per_new" -> "ratio",
      "bank.get_events_rows_examined_per_returned" -> "ratio",
      "bank.tx_commit_ms" -> "ms",
      "operators.gaps_ms" -> "ms", "operators.interval_join_ms" -> "ms",
      "operators.interval_join_out_rows" -> "count",
      "operators.stitch_ms" -> "ms", "operators.stitch_segments_in" -> "count",
      "fetch.requests" -> "count", "fetch.request_ms" -> "ms",
      "fetch.matched_fraction" -> "ratio", "plans.fetch.range_join" -> "count") ++
    Seq("get_waveforms", "fetch", "bm25", "maxscore", "sdm")
      .map(o => s"plans.$o.exchanges" -> "count") ++
    Seq("build_s" -> "s") ++
    Seq("bm25", "maxscore", "sdm").flatMap(o => Seq(
      s"lexical.$o.candidate_rows" -> "count", s"lexical.$o.fold_ms" -> "ms",
      s"lexical.$o.rank_tail_ms" -> "ms", s"lexical.$o.useful_ratio" -> "ratio")) ++
    Seq("lexical.maxscore.fold_rows_full" -> "count",
      "lexical.maxscore.fold_rows_pruned" -> "count",
      "streaming.refresh_delta" -> "count", "streaming.refresh_full" -> "count",
      "streaming.refresh_fresh" -> "count",
      "streaming.sat_rows_per_new_doc" -> "ratio",
      "engine.gc_ms" -> "ms", "engine.heap_after_gc_mb" -> "MB",
      "engine.trace_overhead" -> "ratio")

  private val SetupReps = 3
  private val OpTimeoutS = 60L

  def main(argv: Array[String]): Unit = {
    val args = argv.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap
    val flags = argv.filter(_.startsWith("--")).map(_.drop(2)).toSet
    if (flags("list-metrics")) { listMetrics(); return }
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val cores = args("cores").toInt
    val work = new File(args("work")).getAbsoluteFile
    val spark = session(cores, work)
    val exit =
      try run(spark, workload, seed, seconds, traced, work,
        new File(args("spans")), storedAnswers(args.get("answers"), workload, seed),
        flags("plant-wrong"))
      finally spark.stop()
    System.exit(exit)
  }

  private def session(cores: Int, work: File): SparkSession = {
    val s = graft.core.GraftSession.configure(SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").toString)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").toString)
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false"))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def run(spark: SparkSession, name: String, seed: Long,
                  seconds: Double, traced: Boolean, work: File,
                  spansDir: File, stored: Map[String, String],
                  plantWrong: Boolean): Int = {
    val tStart = System.nanoTime()
    def mark(what: String): Unit =
      System.err.println(f"perfbench: $what at ${(System.nanoTime() - tStart) / 1e9}%.1f s")
    val tracer = new Tracer(spark)
    val c = new Client(spark, tracer, OpTimeoutS, stored)
    val wl = Workload(name, spark, c, seed)

    // set-up = input generation + a cold build of the stores; the build
    // runs several times in fresh directories and the last one is served
    def timed(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    val genS = timed(wl.generate(new File(work, "input").toString))
    val builds = (1 to SetupReps).map { r =>
      val s = timed(wl.build(new File(work, s"build-$r").toString))
      if (r > 1) Gen.deleteTree(new File(work, s"build-${r - 1}"))
      s
    }
    mark("set-up done")
    wl.prepare()
    mark("expected answers done")
    if (plantWrong) wl.plantWrong()
    val inputs = wl.inputChecksum
    println(s"""{"workload":"$name","seed":$seed,"inputs_checksum":"$inputs"}""")
    // the seed's inputs must be the ones stored for it
    c.op("build_check")(inputs)(c.answer("inputs", _))
    // JVM heap after full collections; in local mode the block manager
    // keeps cached blocks on this heap, so it includes them
    val memSetup = if (traced) heapAfterGcMb() else 0.0

    // the first call of an operation type pays for code generation and
    // JIT compilation; untimed calls of each read type absorb it
    wl.warmUp()
    mark("warm-up done")

    // a fixed number of whole rounds of the mix, as many as fit the window
    // at the workload's nominal round length: every run of a workload then
    // does the same work. A traced run alternates untraced and traced
    // rounds and runs at least one of each.
    val rounds = math.max(if (traced) 2 else 1, (seconds / wl.roundSeconds).toInt)
    val gc0 = gcMs()
    c.measuring = true
    (0 until rounds).foreach { r =>
      val on = traced && r % 2 == 1
      if (on) tracer.attach()
      (1 to wl.cycle).foreach(_ => if (!c.wedged) wl.step())
      if (on) tracer.detach()
    }
    c.measuring = false
    mark(s"measured $rounds rounds")
    c.stats.foreach { case (op, st) =>
      System.err.println(s"perfbench: $op ms ${(st.ms ++ st.msTraced).map(x => f"$x%.0f").mkString(" ")}")
    }
    val gcDelta = gcMs() - gc0
    val memEnd = if (traced) heapAfterGcMb() else 0.0
    c.shutdown()

    println(c.answers.map { case (k, v) => s""""$k":"$v"""" }
      .mkString("{\"answers\":{", ",", "}}"))
    val attempted = c.stats.values.map(_.attempted).sum
    val failed = c.stats.values.map(_.failed).sum
    val metrics: Seq[(String, String, Double)] =
      if (!traced) {
        // each read type's median, weighted by its share of the reads: a
        // pooled median of a mix of slow and fast types jumps between them
        val reads = c.stats.values.filterNot(_.write).map(_.ms).filter(_.nonEmpty)
        val all = c.stats.values.flatMap(_.ms)
        val values = Map(
          "setup_s" -> (genS + median(builds)),
          "read_ms" -> reads.map(xs => xs.size * median(xs)).sum / reads.map(_.size).sum,
          "ops_per_s" -> all.size / (all.sum / 1000.0),
          "space_amp" -> wl.spaceAmp)
        EndToEnd.map { case (m, u) => (m, u, values(m)) }
      } else {
        val opsPerS = (xs: Iterable[Double]) => xs.size / (xs.sum / 1000.0)
        val values = layerValues(c) ++ wl.layerMetrics() ++ Map(
          "build_s" -> median(builds),
          "engine.gc_ms" -> gcDelta,
          "engine.heap_after_gc_mb" -> math.max(memSetup, memEnd),
          "engine.trace_overhead" ->
            opsPerS(c.stats.values.flatMap(_.msTraced)) /
              opsPerS(c.stats.values.flatMap(_.ms)))
        writeSpans(tracer, spansDir, name, seed)
        PerLayer.map { case (m, u) => (m, u, values.getOrElse(m, 0.0)) }
      }
    val body = metrics.map { case (m, u, v) =>
      val x = if (v.isNaN || v.isInfinite) 0.0 else v
      s""""$m":{"value":$x,"unit":"$u"}"""
    }.mkString(",")
    println(s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":{$body}}""")
    0
  }

  /** Per-operation latencies and engine counters of the traced phases. */
  private def layerValues(c: Client): Map[String, Double] = {
    def ms(op: String) = c.stats.get(op).map(_.msTraced.toSeq).getOrElse(Nil)
    def eng(op: String) = c.stats.get(op).map(_.engine.toSeq).getOrElse(Nil)
    def avg(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    Ops.flatMap { op =>
      val e = eng(op)
      Seq(
        s"${op}_p50_ms" -> median(ms(op)),
        s"engine.$op.stages" -> avg(e.map(_.stages.toDouble)),
        s"engine.$op.tasks" -> avg(e.map(_.tasks.toDouble)),
        s"engine.$op.cpu_ms" -> avg(e.map(_.cpuNs / 1e6)),
        s"engine.$op.shuffle_mb" -> avg(e.map(_.shuffleBytes / 1048576.0)),
        s"engine.$op.spill_mb" -> avg(e.map(_.spillBytes / 1048576.0)),
        s"engine.$op.task_skew" -> avg(e.map(_.taskSkew)))
    }.toMap ++ Map(
      "bank.read_index_ms" -> median(ms("read_index")),
      "operators.gaps_ms" -> median(ms("gaps"))) ++
      Seq("get_waveforms", "fetch", "bm25", "maxscore", "sdm").map { op =>
        s"plans.$op.exchanges" -> avg(eng(op).map(_.exchanges.toDouble))
      }
  }

  /** The stored answer checksums of `workload` and `seed`, key → checksum. */
  private def storedAnswers(file: Option[String], workload: String,
                            seed: Long): Map[String, String] =
    file.map(new File(_)).filter(_.isFile).toSeq.flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().map(_.split('\t')).collect {
        case Array(w, s, k, v) if w == workload && s == seed.toString => k -> v
      }.toList
      finally src.close()
    }.toMap

  /** Median; NaN for no samples. */
  def median(xs: Iterable[Double]): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  private def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum.toDouble

  /** Smallest heap in use over three full collections, 200 ms apart:
    * Spark's context cleaner frees blocks only after a collection has
    * found their owners unreachable.
    */
  private def heapAfterGcMb(): Double = (1 to 3).map { _ =>
    System.gc()
    Thread.sleep(200)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }.min

  private def writeSpans(t: Tracer, dir: File, name: String, seed: Long): Unit = {
    dir.mkdirs()
    val out = new PrintWriter(new File(dir, s"$name-seed$seed.jsonl"), "UTF-8")
    try t.allSpans.foreach { s =>
      out.println(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},""" +
        s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally out.close()
  }

  private def listMetrics(): Unit = {
    def js(xs: Seq[(String, String)]) =
      xs.map { case (n, u) => s"""{"name":"$n","unit":"$u"}""" }.mkString("[", ",", "]")
    println(s"""{"end_to_end":${js(EndToEnd)},"per_layer":${js(PerLayer)}}""")
  }
}
