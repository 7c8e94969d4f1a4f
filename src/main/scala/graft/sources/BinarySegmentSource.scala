package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Header-only fast summarize of binary trace files — the libmseed
  * scan pattern (obsplus `utils/mseed.py:70-112`: read headers, never
  * samples) over the fixed-layout gsg record format ([[GsgCodec]]).
  *
  * Reading goes through Spark's `binaryFile` source + a partition-local
  * parser — the DataSource-V2-shaped path: file listing, partition
  * pruning and parallelism come from Spark; the format knowledge lives
  * in `parseHeader`/`parseFull`. `summarize` deserializes 56 bytes per
  * file regardless of payload size; `readSegments` decodes samples.
  */
object BinarySegmentSource {

  import GsgCodec.HeaderLen

  case class Header(network: String, station: String, location: String,
                    channel: String, starttime: Long, sampling_period: Long,
                    n: Int, path: String)
  case class Segment(network: String, station: String, location: String,
                     channel: String, starttime: Long, sampling_period: Long,
                     samples: Array[Double], path: String)

  /** One record in the codec's framing; codes longer than 8 chars are
    * cut to 8 (fixture leniency — the V2 sink rejects them instead).
    */
  def recordBytes(seg: Segment): Array[Byte] =
    GsgCodec.recordBytes(seg.network.take(8), seg.station.take(8),
      seg.location.take(8), seg.channel.take(8), seg.starttime,
      seg.sampling_period, seg.samples)

  def writeFile(path: java.nio.file.Path, seg: Segment): Unit =
    java.nio.file.Files.write(path, recordBytes(seg))

  /** Multi-record file: records are simply concatenated — each header's
    * sample count chains to the next record's offset (the multi-trace
    * mseed file shape; the gsg source split-plans these).
    */
  def writeMultiRecordFile(path: java.nio.file.Path, segs: Seq[Segment]): Unit =
    java.nio.file.Files.write(path,
      segs.map(recordBytes).foldLeft(Array.empty[Byte])(_ ++ _))

  // one parser for the format (shared with the V2 source): magic +
  // sample-count validation live in GsgCodec.parseHeader
  private def parseHeader(bytes: Array[Byte], path: String): Option[Header] =
    GsgCodec.parseHeader(bytes).map(h =>
      Header(h.network, h.station, h.location, h.channel,
        h.starttime, h.samplingPeriod, h.n, path))

  /** Index rows from a directory of segment files: TRUE header-only
    * scan — the file list is distributed and each task opens its files
    * and reads exactly HeaderLen bytes, never the payload (the
    * binaryFile source would materialize every file's full content just
    * to parse 56 bytes, and caps at 2 GB/file). Unreadable files are
    * skipped with a warning (the reference's permissive
    * `try_read_catalog` contract).
    */
  def summarize(spark: SparkSession, dir: String): Dataset[Header] = {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = org.apache.hadoop.fs.FileSystem.get(new Path(dir).toUri, conf)
    val files = fs.listStatus(new Path(dir)).filter(_.isFile)
      .map(_.getPath.toString).toSeq
    val parallelism = math.max(1, math.min(files.size,
      spark.sparkContext.defaultParallelism))
    spark.createDataset(files).repartition(parallelism)
      .mapPartitions { paths =>
        // one FileSystem handle per partition (the per-partition init
        // slot a real codec/format binding would use)
        val pconf = new org.apache.hadoop.conf.Configuration()
        paths.flatMap { p =>
          val path = new Path(p)
          val pfs = org.apache.hadoop.fs.FileSystem.get(path.toUri, pconf)
          val h = try {
            val in = pfs.open(path)
            try {
              val buf = new Array[Byte](HeaderLen)
              in.readFully(0L, buf, 0, HeaderLen)
              parseHeader(buf, p)
            } finally in.close()
          } catch { case _: Exception => None }
          if (h.isEmpty) System.err.println(s"[graft] skipping unreadable $p")
          h
        }
      }
  }

  /** Full decode (slow path, samples included). */
  def readSegments(spark: SparkSession, dir: String): Dataset[Segment] = {
    import spark.implicits._
    spark.read.format("binaryFile").load(dir)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .mapPartitions(_.flatMap { case (path, bytes) =>
        parseHeader(bytes, path).map { h =>
          val buf = ByteBuffer.wrap(bytes, HeaderLen, 8 * h.n)
            .order(ByteOrder.BIG_ENDIAN)
          val xs = new Array[Double](h.n)
          var i = 0
          while (i < h.n) { xs(i) = buf.getDouble(); i += 1 }
          Segment(h.network, h.station, h.location, h.channel,
            h.starttime, h.sampling_period, xs, path)
        }
      })
  }

  /** Index-derived summary as the waveform-index DataFrame shape. */
  def summaryIndex(spark: SparkSession, dir: String): DataFrame =
    summarize(spark, dir).toDF()
      .withColumn("endtime",
        col("starttime") + col("n").cast("long") * col("sampling_period"))
      .drop("n")

  /** Same summary through the gsg DataSource V2: the planner prunes
    * `samples` out of the read schema, so the reader header-hops and
    * payload bytes are never read — plus record-boundary splits for
    * oversized multi-trace files and small-file coalescing
    * ([[SegmentDataSource]]). Prefer this path; `summaryIndex` remains as
    * the dependency-free fallback shape.
    */
  def summaryIndexV2(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("gsg").load(dir)
      .select(col("network"), col("station"), col("location"), col("channel"),
        col("starttime"), col("sampling_period"),
        (col("starttime") +
          col("n_samples").cast("long") * col("sampling_period")).as("endtime"),
        col("path"))
}
