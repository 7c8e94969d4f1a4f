package perfbench

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions.{col, size, sum}

import graft.bank.WaveBank
import graft.sources.MiniSeedInputPartition

/** A miniSEED archive of `nSta` stations × 3 channels × hours at 1 Hz.
  * Every sample is a function of (seed, channel, sample index), and a few
  * seed-placed gaps split single hour segments, so window reads and gap
  * lists have closed-form expected answers.
  */
final class Archive(spark: SparkSession, c: Client, seed: Long,
                    val nSta: Int, val hours0: Int, nGaps: Int) {
  import spark.implicits._

  val P: Long = 1000000000L
  val T0: Long = 1600000000000000000L
  val PerHour = 3600
  val net = "XX"
  val stations: IndexedSeq[String] = (0 until nSta).map(i => f"S$i%02d")
  val channels: IndexedSeq[String] = IndexedSeq("HHZ", "HHN", "HHE")
  /** Hours currently in the archive. */
  var hours: Int = hours0
  var bank: WaveBank = _
  var root: String = _

  final case class Gap(sta: Int, cha: Int, from: Long, len: Int) {
    def startNs: Long = T0 + from * P
    def endNs: Long = T0 + (from + len) * P
  }

  /** Distinct (station, channel, hour) picks, each gap 20–299 s long and
    * well inside its hour.
    */
  val gaps: Seq[Gap] = {
    val rng = new java.util.Random(Gen.mix(seed, 1))
    val picked = scala.collection.mutable.LinkedHashSet.empty[(Int, Int, Int)]
    while (picked.size < nGaps)
      picked += ((rng.nextInt(nSta), rng.nextInt(3), rng.nextInt(hours0)))
    picked.toSeq.map { case (s, ch, h) =>
      Gap(s, ch, h.toLong * PerHour + 30 + rng.nextInt(PerHour - 400),
        20 + rng.nextInt(280))
    }
  }

  def value(sta: Int, cha: Int, j: Long): Double =
    (java.lang.Math.floorMod(Gen.mix(seed, sta * 3L + cha, j), 2001L) - 1000L).toDouble

  def present(sta: Int, cha: Int, j: Long): Boolean =
    j >= 0 && j < hours.toLong * PerHour &&
      !gaps.exists(g => g.sta == sta && g.cha == cha && j >= g.from && j < g.from + g.len)

  def samplesPresent: Long =
    nSta.toLong * 3 * hours * PerHour - gaps.map(_.len.toLong).sum

  /** Segment rows of the given hours: one per channel-hour, two where a
    * gap splits it.
    */
  def segments(hs: Range): Seq[(String, String, String, String, Long, Long, Array[Double])] =
    for {
      h <- hs; s <- 0 until nSta; ch <- 0 until 3
      (a, b) <- {
        val lo = h.toLong * PerHour; val hi = lo + PerHour
        gaps.find(g => g.sta == s && g.cha == ch && g.from >= lo && g.from < hi) match {
          case Some(g) => Seq((lo, g.from), (g.from + g.len, hi))
          case None => Seq((lo, hi))
        }
      }
    } yield (net, stations(s), "", channels(ch), T0 + a * P, P,
      Array.tabulate((b - a).toInt)(i => value(s, ch, a + i)))

  def segmentsDf(hs: Range): DataFrame =
    segments(hs).toDF("network", "station", "location", "channel",
      "starttime", "sampling_period", "samples")

  /** Writes the initial hours through the mseed sink under `dir`. */
  def generate(dir: String): Unit = {
    root = dir
    hours = hours0
    bank = new WaveBank(spark, dir, segmentFormat = "mseed")
    segmentsDf(0 until hours0).write.format("mseed").mode(SaveMode.Append)
      .save(bank.segmentsPath)
  }

  /** Drops everything the bank built and indexes the segments cold. */
  def rebuildIndex(): Unit = {
    Option(new java.io.File(root).listFiles()).toSeq.flatten
      .filter(_.getName != "segments").foreach(Gen.deleteTree)
    bank = new WaveBank(spark, root, segmentFormat = "mseed")
    bank.updateIndex()
  }

  def checksum: String = Gen.checksum(
    gaps.map(g => s"${g.sta},${g.cha},${g.from},${g.len}") :+
      s"$nSta,$hours0,${value(0, 0, 0)},${value(nSta - 1, 2, hours0 * PerHour - 1L)}")

  /** Expected (rows, samples, sum) of a trimmed [t1, t2] read of a channel:
    * one row per contiguous run of present samples.
    */
  def expectWindow(sta: Int, cha: Int, t1: Long, t2: Long): (Int, Long, Double) = {
    val j1 = math.max(0L, java.lang.Math.floorDiv(t1 - T0 + P - 1, P))
    val j2 = math.min(hours.toLong * PerHour - 1, java.lang.Math.floorDiv(t2 - T0, P))
    var rows = 0; var n = 0L; var s = 0.0; var prev = false
    var j = j1
    while (j <= j2) {
      val p = present(sta, cha, j)
      if (p) { n += 1; s += value(sta, cha, j); if (!prev) rows += 1 }
      prev = p
      j += 1
    }
    (rows, n, s)
  }

  /** Checks a trimmed window read of (sta, cha). The requested channel must
    * come back complete (closed form `exp`). getWaveforms reads whole
    * segment files and returns every channel they hold, so other channels
    * may come back too; each of their samples must equal the generated
    * value at its time. Returns the requested channel's sample count.
    */
  def checkTraces(rows: Array[Row], sta: Int, cha: Int,
                  exp: (Int, Long, Double)): Either[String, Long] = {
    val bySeed = rows.groupBy(_.getAs[String]("seed_id"))
    val want = s"$net.${stations(sta)}..${channels(cha)}"
    val mine = bySeed.getOrElse(want, Array.empty[Row])
    val got = (mine.length, mine.map(samples(_).size.toLong).sum,
      mine.map(samples(_).sum).sum)
    if (got != exp) Left(s"$want (rows, samples, sum) $got, expected $exp")
    else bySeed.keys.filter(_ != want).toSeq.sorted.flatMap { seed =>
      val parts = seed.split("\\.", -1)
      val (s, ch) = (stations.indexOf(parts(1)), channels.indexOf(parts(3)))
      bySeed(seed).flatMap { r =>
        val j0 = (r.getAs[Long]("starttime") - T0) / P
        val xs = samples(r)
        xs.indices.find(i => !(s >= 0 && ch >= 0 && present(s, ch, j0 + i) &&
          xs(i) == value(s, ch, j0 + i)))
          .map(i => s"$seed sample at index ${j0 + i} is ${xs(i)}, not generated")
      }.headOption
    }.headOption.toLeft(got._2)
  }

  private def samples(r: Row): scala.collection.Seq[Double] =
    r.getAs[scala.collection.Seq[Double]]("samples")

  /** Rows of channels other than the requested one, per read. */
  def extraTraces(rows: Array[Row], sta: Int, cha: Int): Int =
    rows.count(_.getAs[String]("seed_id") != s"$net.${stations(sta)}..${channels(cha)}")

  /** Samples per index row, from the index built over the initial hours. */
  var samplesPerRecord = 1.0

  /** Source-layer counters of the last traced read that returned
    * `returned` samples, plus a timed full decode of the same archive.
    */
  def probeSources(returned: Long): Unit = if (c.tracing) c.lastEngine.foreach { e =>
    val ns = e.nodes
    val scans = ns.collect { case b: BatchScanExec => b }
    val files = scans.flatMap(_.inputPartitions.flatMap {
      case p: MiniSeedInputPartition => p.slices.map(_.path).toSeq
      case _ => Nil
    }).distinct.size
    val records = scans.map(Plans.metric(_, "numOutputRows")).sum
    c.add("sources.segment_files", files)
    c.add("sources.samples_decoded", records * samplesPerRecord)
    c.add("sources.samples_returned", returned.toDouble)
    c.add("sources.bytes_read_mb", e.inputBytes / 1048576.0)
    c.add("sources.records_skipped",
      scans.map(Plans.metric(_, "mseedSkippedRecords")).sum.toDouble)
    c.add("operators.stitch_ms", Plans.aggregateMs(ns, "stitchagg"))
    c.add("operators.stitch_segments_in",
      Plans.aggregateInputRows(ns, "stitchagg").toDouble)
    c.layer("sources.decode") {
      spark.read.format("mseed").load(bank.segmentsPath)
        .agg(sum(size(col("samples")))).collect()
    }
  }

  def sourcesMetrics(): Map[String, Double] = Map(
    "sources.segment_files_per_get" -> c.mean("sources.segment_files"),
    "sources.samples_decoded_per_returned" -> ratio(
      c.sum("sources.samples_decoded"), c.sum("sources.samples_returned")),
    "sources.bytes_read_mb" -> c.mean("sources.bytes_read_mb"),
    "sources.decode_ms" -> c.mean("sources.decode"),
    "sources.records_skipped" -> c.sum("sources.records_skipped"),
    "sources.extra_traces_per_get" -> c.mean("sources.extra_traces"),
    "operators.stitch_ms" -> c.mean("operators.stitch_ms"),
    "operators.stitch_segments_in" -> c.mean("operators.stitch_segments_in"))

  def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b
}
