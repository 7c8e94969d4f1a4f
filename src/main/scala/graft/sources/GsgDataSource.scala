package graft.sources

import org.apache.hadoop.fs.FSDataInputStream
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import java.nio.{ByteBuffer, ByteOrder}
import scala.collection.mutable

/** The `gsg` segment format, served by the shared [[SegmentDataSource]]
  * stack: `spark.read.format("gsg").load(dir)`,
  * `df.write.format("gsg").save(dir)`.
  */
class GsgDataSource extends SegmentDataSource(GsgCodec)

/** Codec of this engine's own fixed-layout record framing, big-endian:
  *
  *   magic "GSG1" | net,sta,loc,cha (4×8 bytes, space-padded ASCII) |
  *   starttime ns (i64) | sampling_period ns (i64) | n (i32) |
  *   n × f64 samples
  *
  * Each header's sample count chains to the next record, so oversized
  * files slice by hopping header to header — 56 bytes read per record,
  * never payload. The writer fails fast on codes that would not
  * round-trip (over 8 ASCII chars): an archive whose reads differ from
  * its writes is worse than a thrown write.
  */
object GsgCodec extends SegmentCodec {
  import SegmentCodec._
  import SegmentSource.{FileSlice, Header}

  val Magic = "GSG1"
  val HeaderLen: Int = 4 + 4 * 8 + 8 + 8 + 4

  /** Largest representable sample count: the payload byte array
    * (8 bytes/sample) plus header must fit in a JVM array (Int index).
    * Beyond it `(8L*n).toInt` would wrap negative and the reader would
    * die in NegativeArraySizeException instead of skipping cleanly.
    */
  val MaxSamples: Int = (Int.MaxValue - HeaderLen) / 8

  override val name = "gsg"
  override val minFileLen: Int = HeaderLen
  override val extension = "gsg"

  /** The single header parser. Magic AND sample-count validation: a
    * corrupt block whose bytes happen to spell the magic but carry a
    * negative count must parse as corrupt, or the record-chain hop
    * (`pos + 56 + 8n`) would stop advancing — a planner hang, not a
    * skipped file. A count above [[MaxSamples]] (payload > 2 GB) is
    * equally treated as corrupt — no real segment is that large and the
    * slice/array math can't represent it.
    */
  def parseHeader(buf: Array[Byte]): Option[Header] = {
    if (buf.length < HeaderLen) return None
    val bb = ByteBuffer.wrap(buf).order(ByteOrder.BIG_ENDIAN)
    val magic = new Array[Byte](4); bb.get(magic)
    if (new String(magic, "ASCII") != Magic) return None
    def str8(): String = {
      val a = new Array[Byte](8); bb.get(a); new String(a, "ASCII").trim
    }
    val h = Header(str8(), str8(), str8(), str8(),
      bb.getLong(), bb.getLong(), bb.getInt())
    if (h.n < 0 || h.n > MaxSamples) None else Some(h)
  }

  /** The single record framing: codes space-padded to 8 bytes (callers
    * bound them to 8 chars), times, count, samples.
    */
  def recordBytes(network: String, station: String, location: String,
                  channel: String, starttime: Long, samplingPeriod: Long,
                  samples: Array[Double]): Array[Byte] = {
    val buf = ByteBuffer.allocate(HeaderLen + 8 * samples.length)
      .order(ByteOrder.BIG_ENDIAN)
    buf.put(Magic.getBytes("ASCII"))
    Seq(network, station, location, channel)
      .foreach(s => buf.put(s.padTo(8, ' ').getBytes("ASCII")))
    buf.putLong(starttime).putLong(samplingPeriod)
    buf.putInt(samples.length)
    samples.foreach(buf.putDouble)
    buf.array()
  }

  /** Header-hop: cut a slice whenever the records since the last cut
    * reach `maxSplit`; a corrupt header ends the hop and the rest of
    * the file stays in the last slice (the reader warns and skips it).
    */
  override def slice(in: FSDataInputStream, path: String, len: Long,
                     maxSplit: Long): Seq[FileSlice] = {
    val out = mutable.ArrayBuffer.empty[FileSlice]
    val hdr = new Array[Byte](HeaderLen)
    var pos = 0L
    var sliceStart = 0L
    while (pos + HeaderLen <= len) {
      in.readFully(pos, hdr, 0, HeaderLen)
      parseHeader(hdr) match {
        case Some(h) =>
          val next = pos + HeaderLen + 8L * h.n
          if (next - sliceStart >= maxSplit) {
            out += FileSlice(path, sliceStart, next)
            sliceStart = next
          }
          pos = next
        case None => pos = len // corrupt tail: stop hopping
      }
    }
    if (sliceStart < len) out += FileSlice(path, sliceStart, len)
    out.toSeq
  }

  override def reader(): RecordReader = new RecordReader {
    private val hdr = new Array[Byte](HeaderLen)
    override def read(in: FSDataInputStream, pos: Long, end: Long): RecordAt = {
      in.readFully(pos, hdr, 0, HeaderLen)
      parseHeader(hdr) match {
        case None => Skip(end - pos, "bad record")
        case Some(h) =>
          Record(h, HeaderLen + 8L * h.n, () => {
            val b = new Array[Byte](8 * h.n)
            in.readFully(pos + HeaderLen, b, 0, b.length)
            val bb = ByteBuffer.wrap(b).order(ByteOrder.BIG_ENDIAN)
            val xs = new Array[Double](h.n)
            var i = 0
            while (i < h.n) { xs(i) = bb.getDouble(); i += 1 }
            xs
          })
      }
    }
  }

  override def encoder(options: CaseInsensitiveStringMap): SegmentEncoder =
    Encoder

  private object Encoder extends SegmentEncoder {
    private def code(s: String, col: String): String = {
      if (s.length > 8 || !s.forall(c => c >= ' ' && c < 127))
        throw new IllegalArgumentException(
          s"gsg write: $col '$s' is not storable (max 8 ASCII chars)")
      s
    }

    override def encode(network: String, station: String, location: String,
                        channel: String, starttime: Long,
                        samplingPeriod: Long, samples: Array[Double],
                        fileOffset: Long): Array[Byte] =
      recordBytes(code(network, "network"), code(station, "station"),
        code(location, "location"), code(channel, "channel"),
        starttime, samplingPeriod, samples)
  }
}
