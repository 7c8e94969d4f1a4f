package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.bank.{EventBank, WaveBank}
import graft.sources.{SegmentInputPartition, SegmentScan}
import graft.tools.PlanIntrospect

/** Index passes and index reads without redundant Spark jobs: the
  * driver-decided incremental `updateIndex` (its watermark, its job
  * count, the files it decodes, the path forms it compares) and the
  * per-store-version schema of plain-parquet index reads.
  */
class BankIndexPassSpec extends SparkSpec {
  import spark.implicits._

  private val T0 = 1_600_000_000_000_000_000L
  private val HourNs = 3_600_000_000_000L
  private val Sec = 1_000_000_000L

  private def tmp(): String =
    Files.createTempDirectory("graft-pass").toString

  /** One hour of 1 Hz samples per (station, channel). */
  private def hour(h: Int, stations: Seq[String] = Seq("S1", "S2", "S3"),
                   channels: Seq[String] = Seq("BHZ", "BHN", "BHE")): DataFrame =
    (for (s <- stations; c <- channels) yield ("XX", s, "", c,
      T0 + h * HourNs, Sec, Array.tabulate(3600)(i => (i % 97).toDouble)))
      .toDF("network", "station", "location", "channel",
        "starttime", "sampling_period", "samples")

  /** Segment files written as `putWaveforms` writes them, unindexed. */
  private def writeSegments(bank: WaveBank, fmt: String, df: DataFrame): Unit =
    if (fmt == "parquet")
      df.write.mode("append").partitionBy("network", "station")
        .parquet(bank.segmentsPath)
    else df.write.format(fmt).mode("append").save(bank.segmentsPath)

  /** Samples the index rows of `station` cover (a duplicated row counts
    * twice).
    */
  private def indexedSamples(bank: WaveBank, station: String): Long =
    bank.readIndex(station = station)
      .agg(coalesce(sum((col("endtime") - col("starttime")) /
        col("sampling_period")), lit(0.0)))
      .as[Double].head().toLong

  /** Ids of the jobs `body` ran, as LexicalSpec's lazy-builder test
    * counts them.
    */
  private def jobsDuring(group: String)(body: => Unit): Array[Int] = {
    spark.sparkContext.setJobGroup(group, group)
    try body finally spark.sparkContext.clearJobGroup()
    Thread.sleep(500) // listener drain; lag can only hide jobs
    spark.sparkContext.statusTracker.getJobIdsForGroup(group)
  }

  /** Executed plans of the queries `body` ran. */
  private def plansDuring(body: => Unit): Seq[QueryExecution] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        seen.add(qe); ()
      }
      override def onFailure(f: String, qe: QueryExecution,
                             e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try body finally {
      Thread.sleep(500) // listener drain
      spark.listenerManager.unregister(l)
    }
    seen.toArray(Array.empty[QueryExecution]).toSeq
  }

  /** A bank that lands `land` (once) right after the pass's file walk. */
  private final class LandingBank(root: String, fmt: String)
      extends WaveBank(spark, root, segmentFormat = fmt) {
    @volatile var land: Option[() => Unit] = None
    override private[graft] def walkSegments(afterMs: Option[Long])
        : Map[String, Long] = {
      val walked = super.walkSegments(afterMs)
      land.foreach { f =>
        land = None
        f()
        // an indexed_at taken after the walk would now postdate the
        // landed file's mtime by more than the −1 ms slack
        Thread.sleep(20)
      }
      walked
    }
  }

  Seq("mseed", "parquet").foreach { fmt =>
    test(s"watermark ($fmt): a file landing after a pass's walk is " +
         "indexed exactly once, by the next pass") {
      val bank = new LandingBank(tmp(), fmt)
      bank.putWaveforms(hour(0, Seq("S1")))
      bank.land = Some(() => writeSegments(bank, fmt, hour(5, Seq("S9"))))
      bank.putWaveforms(hour(1, Seq("S1")))
      assert(bank.land.isEmpty, "the pass did not walk")
      // the landing pass reads only the files its walk saw
      assert(indexedSamples(bank, "S1") == 2 * 3 * 3600L)
      assert(bank.readIndex(station = "S9").count() == 0)
      bank.updateIndex()
      assert(indexedSamples(bank, "S9") == 3 * 3600L,
        "the landed file must be indexed by the next pass, once")
      bank.updateIndex()
      assert(indexedSamples(bank, "S9") == 3 * 3600L)
      assert(indexedSamples(bank, "S1") == 2 * 3 * 3600L)
    }
  }

  test("incremental putWaveforms (mseed) decodes only the new files " +
       "and runs at most 12 jobs") {
    val bank = new WaveBank(spark, tmp(), segmentFormat = "mseed")
    bank.putWaveforms(hour(0))
    bank.putWaveforms(hour(1))
    bank.readIndex().count()
    val before = bank.walkSegments(None).keySet
    var jobs = Array.empty[Int]
    val plans = plansDuring {
      jobs = jobsDuring("graft-pass-put") { bank.putWaveforms(hour(2)) }
    }
    val added = bank.walkSegments(None).keySet -- before
    assert(added.nonEmpty)
    assert(jobs.length <= 12,
      s"incremental putWaveforms ran ${jobs.length} jobs")
    val scanned = plans.flatMap(qe =>
        PlanIntrospect.nodes(qe.executedPlan))
      .collect { case b: BatchScanExec if b.scan.isInstanceOf[SegmentScan] => b }
      .flatMap(_.inputPartitions)
      .flatMap { case p: SegmentInputPartition => p.slices.map(_.path) }
      .toSet
    assert(scanned.nonEmpty, "no segment scan observed")
    assert(scanned == added,
      s"the pass decoded ${(scanned -- added).size} already-indexed file(s)")
    assert(indexedSamples(bank, "S1") == 3 * 3 * 3600L)
  }

  test("a repeated index read of an unchanged store runs no " +
       "schema-inference job (wave and event banks)") {
    val wave = new WaveBank(spark, tmp())
    wave.putWaveforms(hour(0, Seq("S1")))
    // positive control: the first read of a new store version infers
    assert(jobsDuring("graft-pass-wave-1") { wave.indexDf; () }.nonEmpty,
      "job probe is blind — schema inference not observed")
    val again = jobsDuring("graft-pass-wave-2") {
      wave.indexDf; wave.readIndex(station = "S1"); wave.gaps(); ()
    }
    assert(again.isEmpty, s"unchanged store re-inferred: ${again.length} job(s)")
    assert(wave.readIndex().count() == 3)

    val evRoot = tmp()
    new EventBank(spark, evRoot).putEvents(Seq(
      ("e1", 1000L, 10.0, 20.0, 5.0, 2.5, "ML", 1L),
      ("e2", 2000L, 11.0, 21.0, 6.0, 3.5, "ML", 1L))
      .toDF("event_id", "time", "latitude", "longitude", "depth",
        "magnitude", "magnitude_type", "updated"))
    // a fresh instance (the writer's own sidecar rebuild already read
    // the new version)
    val events = new EventBank(spark, evRoot)
    assert(jobsDuring("graft-pass-ev-1") { events.rawIndexDf; () }.nonEmpty,
      "job probe is blind — schema inference not observed")
    val evAgain = jobsDuring("graft-pass-ev-2") {
      events.rawIndexDf; events.getEvents(graft.bank.EventQuery(
        minMagnitude = Some(3.0))); ()
    }
    assert(evAgain.isEmpty, s"unchanged store re-inferred: ${evAgain.length} job(s)")
    // an upsert is a new store version: read back with its rows
    events.putEvents(Seq(("e3", 3000L, 1.0, 2.0, 3.0, 1.1, "ML", 1L))
      .toDF("event_id", "time", "latitude", "longitude", "depth",
        "magnitude", "magnitude_type", "updated"))
    assert(events.readIndex().count() == 3)
  }

  test("a legacy index read before its enforceVersion rebuild is read " +
       "back with the new columns") {
    val root = tmp()
    val bank = new WaveBank(spark, root)
    bank.putWaveforms(hour(0, Seq("S1")))
    // a version-1 store: no mtime_ms, no index_version, no stamp file
    val legacy = spark.read.parquet(s"$root/index")
      .drop("mtime_ms", "index_version")
    legacy.write.parquet(s"$root/index.v1")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    Seq("index", "index.stamp", "index.ptr", "stats_sketch").foreach(n =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$root/$n"), true))
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$root/index.v1"),
      new org.apache.hadoop.fs.Path(s"$root/index")))
    val old = new WaveBank(spark, root)
    assert(!old.readIndex().columns.contains("mtime_ms"))
    // an incremental pass over a legacy index keeps its column set and
    // dedups by path
    old.putWaveforms(hour(1, Seq("S1")))
    assert(!old.readIndex().columns.contains("mtime_ms"))
    assert(indexedSamples(old, "S1") == 2 * 3 * 3600L)
    old.enforceVersion()
    val cols = old.readIndex().columns
    assert(cols.contains("mtime_ms") && cols.contains("index_version"),
      s"rebuilt index read with a stale schema: ${cols.mkString(",")}")
    assert(old.readIndex().filter(col("mtime_ms").isNull).count() == 0)
    assert(indexedSamples(old, "S1") == 2 * 3 * 3600L)
  }

  Seq("mseed", "parquet").foreach { fmt =>
    test(s"path forms ($fmt): re-listed known files match the index's " +
         "paths under a root that needs URI escaping") {
      val root = s"${tmp()}/bank with space"
      val bank = new WaveBank(spark, root, segmentFormat = fmt)
      writeSegments(bank, fmt, hour(0, Seq("S1")))
      // mtimes ahead of the driver clock: every later pass re-lists
      // these files, and only a (path, mtime) match keeps them out
      val future = System.currentTimeMillis() + 60000
      bank.walkSegments(None).keys.foreach { p =>
        val uri =
          if (fmt == "parquet") new java.net.URI(p) // already escaped
          else new org.apache.hadoop.fs.Path(p).toUri
        assert(new java.io.File(uri).setLastModified(future))
      }
      bank.updateIndex()
      val paths = bank.readIndex().select("path").as[String].collect().toSet
      assert(paths == bank.walkSegments(None).keySet)
      assert(paths.forall(_.contains(
        if (fmt == "parquet") "bank%20with%20space" else "bank with space")),
        s"index paths not in the $fmt form: $paths")
      val stamp = bank.indexStamp()
      bank.updateIndex()
      assert(bank.indexStamp() == stamp, "a pass over known files wrote")
      assert(indexedSamples(bank, "S1") == 3 * 3600L)
      bank.putWaveforms(hour(1, Seq("S1")))
      assert(indexedSamples(bank, "S1") == 2 * 3 * 3600L)
    }
  }
}
