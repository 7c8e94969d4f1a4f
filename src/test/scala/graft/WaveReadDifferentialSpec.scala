package graft

import graft.bank.WaveBank
import graft.core.Schemas
import graft.operators.TraceStitch
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.collection.mutable
import scala.util.Random

/** Generated archives for the waveform-read specs: per channel,
  * segments that are adjacent, separated by a one-sample dropout or by
  * a gap wider than the ±1 s index buffer, overlapping, or nested
  * inside the previous one; several channels per segment file; "--"
  * and single-digit location codes. Samples are non-integral, so mseed
  * stores them as float64 — 56 samples per 512-byte record — and every
  * segment of a channel starts on a distinct residue mod 56: no two
  * records of one channel share (start, end), which keeps the
  * later-wins overlay order fully determined. About half the segments
  * start off the sample grid by a whole number of 100 µs steps under
  * one sample (a clock tear inside the one-sample adjacency tolerance),
  * so a merge group's slots depend on which segment starts it.
  */
object WaveArchives {
  type Seg7 = (String, String, String, String, Long, Long, Array[Double])

  val T0 = 1_600_000_000_000_000_000L // on the mseed 100 µs grid
  val P = 10_000_000L                 // 100 Hz
  val RecSamples = 56
  val Tick = 100_000L                 // mseed start-time resolution

  /** (network, station, raw location, channel) */
  val Channels = Seq(("N1", "S1", "--", "BHZ"), ("N1", "S1", "--", "BHN"),
    ("N1", "S2", "1", "BHZ"), ("N1", "S2", "", "HHE"))

  def normalizedSeed(n: String, s: String, l: String, c: String): String =
    Seq(n, s, l, c).map(Schemas.nslcNormalizeString).mkString(".")

  /** `nSegs` segments of one channel, in sample offsets from T0. */
  def channelSegments(rng: Random, ch: (String, String, String, String),
                      chIdx: Int, nSegs: Int): Seq[Seg7] = {
    val used = mutable.Set.empty[Int]
    val out = mutable.ArrayBuffer.empty[(Int, Int)] // (start, length)
    var reach = rng.nextInt(40)
    for (_ <- 0 until nSegs) {
      val prev = out.lastOption
      val kind = if (prev.isEmpty) 0 else rng.nextInt(5)
      var len = 80 + rng.nextInt(260)
      var start = kind match {
        case 0 => reach                          // adjacent
        case 1 => reach + 1                      // one-sample dropout
        case 2 => reach + 150 + rng.nextInt(250) // gap wider than 1 s
        case 3 => reach - 1 - rng.nextInt(40)    // overlap
        case _ => prev.get._1 + 1 + rng.nextInt(prev.get._2 / 2) // nested
      }
      while (used(start % RecSamples)) start += 1
      if (kind == 4) len = math.max(1, math.min(len, prev.get._1 + prev.get._2 - start - 1))
      used += start % RecSamples
      out += ((start, len))
      reach = math.max(reach, start + len)
    }
    out.zipWithIndex.map { case ((start, len), k) =>
      val base = chIdx * 100000 + k * 1000
      val tear = if (rng.nextBoolean()) rng.nextInt((P / Tick).toInt) * Tick else 0L
      (ch._1, ch._2, ch._3, ch._4, T0 + start * P + tear, P,
        Array.tabulate(len)(i => base + i + 0.5))
    }.toSeq
  }

  /** A bank of `format` written in `puts` puts, each carrying a slice of
    * every channel's segments (so each put writes several channels).
    */
  def bank(spark: org.apache.spark.sql.SparkSession, format: String,
           seed: Long, puts: Int = 3, nSegs: Int = 9): WaveBank = {
    import spark.implicits._
    val rng = new Random(seed)
    val perChannel = Channels.zipWithIndex.map { case (ch, i) =>
      channelSegments(rng, ch, i, nSegs) }
    val root = java.nio.file.Files.createTempDirectory(s"wave-$format").toString
    val b = new WaveBank(spark, root, segmentFormat = format)
    (0 until puts).foreach { p =>
      val slice = perChannel.flatMap(_.zipWithIndex.collect {
        case (s, k) if k * puts / nSegs == p => s })
      // one write task: every file of the put holds several channels
      b.putWaveforms(slice.toDF("network", "station", "location", "channel",
        "starttime", "sampling_period", "samples").coalesce(1))
    }
    b
  }

  /** Comparable rows: NaN-exact sample bits, sorted. */
  def canon(df: DataFrame): Seq[String] =
    df.select("seed_id", "sampling_period", "starttime", "endtime", "samples")
      .collect().map { r =>
        val xs = r.getAs[scala.collection.Seq[Double]](4)
        s"${r.getString(0)}|${r.getLong(1)}|${r.getLong(2)}|${r.getLong(3)}|" +
          xs.map(java.lang.Double.doubleToLongBits).mkString(",")
      }.sorted.toSeq

  /** Failure-message form of [[canon]] rows: key, times, sample count. */
  def brief(rows: Seq[String]): String =
    rows.map { r =>
      val f = r.split('|')
      s"${f(0)}@${f(2)}-${f(3)}#${f.lift(4).fold(0)(_.count(_ == ',') + 1)}"
    }.mkString("[", ", ", "]")
}

class WaveReadDifferentialSpec extends SparkSpec {
  import spark.implicits._
  import WaveArchives._

  test("stitch: one sorted pass equals the two-Window reference row for row") {
    val rng = new Random(11)
    (0 until 4).foreach { round =>
      val segs = for {
        (ch, i) <- Channels.zipWithIndex
        period <- Seq(P, 2 * P)
        s <- channelSegments(rng, ch, i, 6 + rng.nextInt(8))
      } yield (normalizedSeed(s._1, s._2, s._3, s._4), period,
        T0 + (s._5 - T0) * (period / P), s._7)
      val df = segs.toDF("seed_id", "sampling_period", "starttime", "samples")
      val got = canon(TraceStitch.mergeTraces(spark, df))
      assert(got.nonEmpty, s"round $round")
      assert(got == canon(WaveReadReference.mergeTraces(spark, df)), s"round $round")
    }
    val empty = Seq.empty[(String, Long, Long, Array[Double])]
      .toDF("seed_id", "sampling_period", "starttime", "samples")
    assert(TraceStitch.mergeTraces(spark, empty).count() == 0)
  }

  /** Windows per channel: random ones (sub-sample offsets included), one
    * starting and ending on index-row (record) boundaries, one spanning
    * a whole segment file's rows of that channel, one past the data.
    */
  private def windows(b: WaveBank, rng: Random): Seq[(Int, Long, Long)] = {
    val idx = b.indexDf.select("network", "station", "location", "channel",
      "starttime", "endtime", "path").collect()
    Channels.indices.flatMap { i =>
      val (n, s, l, c) = Channels(i)
      val rows = idx.filter(r => r.getString(1) == s && r.getString(3) == c &&
        r.getString(2) == Schemas.nslcNormalizeString(l))
      assert(rows.nonEmpty)
      val hi = rows.map(_.getLong(5)).max
      val random = (0 until 3).map { _ =>
        val t1 = T0 + rng.nextInt(((hi - T0) / P).toInt) * P + rng.nextInt(1000) * 1000L
        (i, t1, t1 + (50 + rng.nextInt(700)) * P)
      }
      val rec = rows(rng.nextInt(rows.length))
      val file = rows.filter(_.getString(6) == rec.getString(6))
      random ++ Seq(
        (i, rec.getLong(4), rec.getLong(5)),
        (i, file.map(_.getLong(4)).min, file.map(_.getLong(5)).max),
        (i, hi + 10 * b.bufferNs, hi + 20 * b.bufferNs))
    }
  }

  for (format <- Seq("parquet", "mseed", "gsg"))
    test(s"wavebank($format): pruned bulk and scalar reads equal the full-scan reference") {
      val b = bank(spark, format, seed = format.hashCode)
      val files = b.indexDf.select("path", "channel").distinct()
        .groupBy("path").count().collect()
      assert(files.length >= 3, "fixture should span several segment files")
      assert(files.exists(_.getLong(1) > 1), "fixture should hold several channels per file")
      val rng = new Random(7)
      val ws = windows(b, rng)

      ws.foreach { case (i, t1, t2) =>
        val (n, s, l, c) = Channels(i)
        // request with the raw code half the time, normalized otherwise
        val loc = if (rng.nextBoolean()) l else Schemas.nslcNormalizeString(l)
        val seed = normalizedSeed(n, s, l, c)
        val got = canon(b.getWaveforms(n, s, loc, c, t1, t2))
        val want = canon(WaveReadReference.getWaveforms(b, n, s, loc, c, t1, t2)
          .filter(col("seed_id") === seed))
        assert(got == want, s"$seed [$t1, $t2]: ${brief(got)} vs ${brief(want)}")
        assert(got.forall(_.startsWith(seed + "|")))
      }
      assert(ws.exists { case (i, t1, t2) =>
        val (n, s, l, c) = Channels(i)
        b.getWaveforms(n, s, l, c, t1, t2).count() > 0 })

      ws.grouped(5).foreach { batch =>
        val reqs = batch.map { case (i, t1, t2) =>
          val (n, s, l, c) = Channels(i)
          (normalizedSeed(n, s, l, c), t1, t2)
        }.toDF("seed_id", "t1", "t2")
        val got = canon(b.getWaveformsBulk(reqs))
        val want = canon(WaveReadReference.getWaveformsBulk(b, reqs))
        assert(got == want, s"bulk: ${brief(got)} vs ${brief(want)}")
      }
    }
}
