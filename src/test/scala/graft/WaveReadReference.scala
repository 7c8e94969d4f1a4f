package graft

import graft.bank.WaveBank
import graft.core.Schemas
import graft.operators.{IntervalJoin, TraceOps}
import graft.operators.TraceStitch.{Merged, Seg}
import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer

/** The earlier waveform read path, kept as the differential reference
  * for the index-pruned one:
  *
  *   - bulk: decode every segment file, then semi-join on the matched
  *     `path`s;
  *   - scalar: a one-row bulk request, then trim (every channel of the
  *     matched files comes back — compare after filtering on seed_id);
  *   - stitch: sessionize with two Window passes (running max of the
  *     ends, then a cumulative sum of group starts), then a typed
  *     Aggregator per merge group.
  */
object WaveReadReference {

  object StitchAgg extends Aggregator[Seg, ArrayBuffer[Seg], Merged] {
    def zero: ArrayBuffer[Seg] = ArrayBuffer.empty
    def reduce(b: ArrayBuffer[Seg], s: Seg): ArrayBuffer[Seg] = { b += s; b }
    def merge(x: ArrayBuffer[Seg], y: ArrayBuffer[Seg]): ArrayBuffer[Seg] = x ++= y
    def finish(b: ArrayBuffer[Seg]): Merged = {
      val segs = b.sortBy(s => (s.starttime, s.endtime))
      val period = segs.head.sampling_period
      val t0 = segs.map(_.starttime).min
      val t1 = segs.map(_.endtime).max
      val n = ((t1 - t0) / period).toInt
      val grid = new Array[Double](n)
      val filled = new Array[Boolean](n)
      segs.foreach { s =>
        val off = ((s.starttime - t0) / period).toInt
        var i = 0
        while (i < s.samples.length && off + i < n) {
          grid(off + i) = s.samples(i)
          filled(off + i) = true
          i += 1
        }
      }
      var i = 0
      while (i < n) { if (!filled(i)) grid(i) = Double.NaN; i += 1 }
      Merged(segs.head.seed_id, period, t0, t1, grid)
    }
    def bufferEncoder: Encoder[ArrayBuffer[Seg]] = Encoders.kryo[ArrayBuffer[Seg]]
    def outputEncoder: Encoder[Merged] = Encoders.product[Merged]
  }

  def mergeTraces(spark: SparkSession, df: DataFrame): DataFrame = {
    import spark.implicits._
    val withEnd = df.withColumn("endtime",
      col("starttime") + size(col("samples")).cast("long") * col("sampling_period"))
    val w = Window.partitionBy("seed_id", "sampling_period")
      .orderBy("starttime", "endtime")
    val grouped = withEnd
      .withColumn("prev_end", max(col("endtime"))
        .over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_group",
        when(col("prev_end").isNull ||
             col("prev_end") < col("starttime") - col("sampling_period"), 1L)
          .otherwise(0L))
      .withColumn("merge_group",
        sum(col("new_group")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    grouped.select(col("seed_id"), col("sampling_period"),
        col("starttime"), col("samples"), col("merge_group"))
      .as[(String, Long, Long, Array[Double], Long)]
      .groupByKey { case (seed, period, _, _, grp) => (seed, period, grp) }
      .mapValues { case (seed, period, start, samples, _) =>
        Seg(seed, period, start, samples) }
      .agg(StitchAgg.toColumn.name("merged"))
      .map(_._2)
      .toDF()
  }

  def getWaveformsBulk(bank: WaveBank, requests: DataFrame): DataFrame = {
    val spark = requests.sparkSession
    val idx = bank.indexDf
      .withColumn("seed_id", Schemas.seedId(
        col("network"), col("station"), col("location"), col("channel")))
    val matched = IntervalJoin.overlapping(
      idx, requests, keyCols = Seq("seed_id"), buffer = bank.bufferNs)
      .select(col("path")).distinct()
    val segs = bank.segmentsDf
      .join(matched, Seq("path"), "left_semi")
      .withColumn("seed_id", Schemas.seedId(
        Schemas.nslcNormalize(col("network")), Schemas.nslcNormalize(col("station")),
        Schemas.nslcNormalize(col("location")), Schemas.nslcNormalize(col("channel"))))
    mergeTraces(spark,
      segs.select("seed_id", "sampling_period", "starttime", "samples"))
  }

  def getWaveforms(bank: WaveBank, network: String, station: String,
                   location: String, channel: String,
                   t1: Long, t2: Long): DataFrame = {
    val spark = bank.indexDf.sparkSession
    import spark.implicits._
    val seed = Seq(network, station, location, channel)
      .map(Schemas.nslcNormalizeString).mkString(".")
    TraceOps.trim(
      getWaveformsBulk(bank, Seq((seed, t1, t2)).toDF("seed_id", "t1", "t2")), t1, t2)
  }
}
