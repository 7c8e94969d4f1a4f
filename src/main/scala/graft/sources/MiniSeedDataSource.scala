package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import java.util.{Map => JMap}
import scala.collection.JavaConverters._
import scala.collection.mutable

/** DataSource V2 for real miniSEED 2.x archives — the entry point the
  * reference's users actually have (obsplus banks index miniSEED
  * written by obspy, `bank/wavebank.py:708-754`; header-only
  * summarize, `utils/mseed.py:70-112`). Same table schema and planner
  * behaviors as [[GsgDataSource]] (ns times, `samples` as doubles,
  * header filter pushdown, column-pruned header-only scans, hidden
  * staged writes), with format-specific planning:
  *
  *   - **Arithmetic split planning.** miniSEED records are fixed
  *     length (blockette 1000's 2^n), so an oversized file splits at
  *     `k * reclen` boundaries from ONE probe read — no per-record
  *     header hop. Uniformity is verified (file length divisible by
  *     the first record's length AND the second record parses at that
  *     offset); mixed-record-length files — legal but rare — fall
  *     back to a single whole-file slice, never to a misaligned cut.
  *   - **Header-only fast path.** With `samples` unprojected the
  *     reader reads a [[MiniSeed.ProbeLen]]-byte probe per record and
  *     seeks on — the libmseed "summarize" scan; with samples it reads
  *     each record once and decodes (Steim-1/2, int, float).
  *   - **Permissive corruption handling**: an unparseable header skips
  *     the rest of the slice (framing lost); a record whose payload
  *     fails integrity (Steim reverse-integration) is skipped alone,
  *     because the fixed record length preserves framing — mirroring
  *     the reference's skip-and-warn reads.
  *
  * Write side (`df.write.format("mseed")`): real miniSEED records
  * (Steim-2/Steim-1/float64 via `encoding=auto` default, `int32` /
  * explicit choices as options; `recordLen` 512 default) into staged
  * files committed by rename — an archive obspy/libmseed can read
  * back directly, which is the interop contract the gsg format
  * (this engine's own framing) cannot offer. Same per-file visibility
  * contract as [[GsgWriteBuilder]].
  */
class MiniSeedDataSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {

  override def shortName(): String = "mseed"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GsgDataSource.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table = {
    GsgDataSource.validateSubsetSchema(schema)
    new MiniSeedTable(schema, properties.asScala.toMap)
  }

  override def supportsExternalMetadata(): Boolean = true
}

object MiniSeedDataSource {
  /** Minimum parseable record (smallest power-of-two length). */
  val MinRecordLen = 128

  /** Per-archive skip counters (records, bytes) — the programmatic
    * face of the scan's permissive corruption handling, mirroring the
    * QuakeML source's warn-and-skip contract: every skipped record is
    * warned to stderr AND counted here, so an ingest can assert
    * "0 skips" (or alert on drift) instead of trusting silence.
    * Spark `LongAccumulator`s: task-side adds fold back to the driver
    * in local and cluster mode alike. Keyed by the scan's `path`.
    */
  private val skipAccs =
    new java.util.concurrent.ConcurrentHashMap[String, (org.apache.spark.util.LongAccumulator, org.apache.spark.util.LongAccumulator)]()

  def skipCounters(dir: String): (org.apache.spark.util.LongAccumulator, org.apache.spark.util.LongAccumulator) =
    skipAccs.computeIfAbsent(dir, d => {
      val sc = SparkSession.active.sparkContext
      (sc.longAccumulator(s"mseed.skippedRecords($d)"),
        sc.longAccumulator(s"mseed.skippedBytes($d)"))
    })
}

/** SQL-UI metric descriptors for the mseed scan's skip counters. */
private[sources] final class MiniSeedSkippedRecordsMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "mseedSkippedRecords"
  override def description(): String =
    "mseed records skipped (corrupt header/payload)"
}
private[sources] final class MiniSeedSkippedBytesMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "mseedSkippedBytes"
  override def description(): String = "mseed bytes skipped (framing lost)"
}
private[sources] final case class MiniSeedTaskMetric(metricName: String,
                                                     metricValue: Long)
    extends org.apache.spark.sql.connector.metric.CustomTaskMetric {
  override def name(): String = metricName
  override def value(): Long = metricValue
}

class MiniSeedTable(tableSchema: StructType, properties: Map[String, String])
    extends Table with SupportsRead with SupportsWrite {
  override def name(): String = s"mseed(${properties.getOrElse("path", "?")})"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new MiniSeedScanBuilder(tableSchema, options.asScala.toMap ++ properties)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val missing = GsgDataSource.WriteFields
      .filterNot(info.schema().fieldNames.contains)
    if (missing.nonEmpty) throw new IllegalArgumentException(
      s"mseed write requires columns [${missing.mkString(", ")}] " +
        s"(got: ${info.schema().fieldNames.mkString(", ")})")
    val path = Option(info.options.get("path"))
      .orElse(properties.get("path"))
      .getOrElse(throw new IllegalArgumentException(
        "mseed sink requires a path"))
    val maxFileBytes = Option(info.options.get("maxFileBytes"))
      .map(_.toLong).getOrElse(128L * 1024 * 1024)
    val encoding = Option(info.options.get("encoding")).getOrElse("auto")
    val recordLen = Option(info.options.get("recordLen"))
      .map(_.toInt).getOrElse(512)
    new MiniSeedWriteBuilder(path, info.queryId(), info.schema(),
      maxFileBytes, encoding, recordLen)
  }
}

class MiniSeedScanBuilder(tableSchema: StructType, options: Map[String, String])
    extends ScanBuilder
    with SupportsPushDownRequiredColumns with SupportsPushDownFilters {

  private var requiredSchema: StructType = tableSchema
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    this.requiredSchema = requiredSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(f =>
      GsgHeaderFilter.supported(f) || SegmentSourceShared.isPathFilter(f))
    filters
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan =
    new MiniSeedScan(options.getOrElse("path",
      throw new IllegalArgumentException("mseed source requires a path")),
      requiredSchema, pushed,
      options.get("modifiedafterms").map(_.toLong))
}

class MiniSeedScan(dir: String, requiredSchema: StructType,
                   pushed: Array[Filter], modifiedAfterMs: Option[Long])
    extends Scan with Batch with SupportsReportStatistics {
  import GsgDataSource.FileSlice

  override def readSchema(): StructType = requiredSchema
  override def toBatch: Batch = this
  override def description(): String =
    s"MiniSeedScan path=$dir, ReadSchema: ${requiredSchema.simpleString}, " +
      s"PushedFilters: [${headerFilters.mkString(", ")}]" +
      paths.fold("")(ps => s", PathFilter: ${ps.size} paths") +
      modifiedAfterMs.fold("")(t => s", ModifiedAfterMs: $t")

  // `path` filters prune the listing; only header filters reach tasks
  private val (paths, headerFilters) =
    SegmentSourceShared.splitPathFilters(pushed)

  private lazy val files: Seq[FileStatus] =
    SegmentSourceShared.listFiles(dir, MiniSeedDataSource.MinRecordLen,
      modifiedAfterMs, paths)

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(files.map(_.getLen).sum)
    override def numRows(): java.util.OptionalLong =
      java.util.OptionalLong.empty()
  }

  /** One probe read per oversized file: fixed record lengths make the
    * splits arithmetic. Verified-uniform files cut at record-length
    * multiples near maxPartitionBytes; anything doubtful stays whole.
    */
  override def planInputPartitions(): Array[InputPartition] = {
    val sess = SparkSession.active
    val maxSplit = sess.sessionState.conf.filesMaxPartitionBytes
    val conf = sess.sparkContext.hadoopConfiguration

    def sliceFile(f: FileStatus): Seq[FileSlice] = {
      val path = f.getPath
      val len = f.getLen
      val whole = Seq(FileSlice(path.toString, 0L, len))
      val in = path.getFileSystem(conf).open(path)
      try {
        val probe = new Array[Byte](MiniSeed.ProbeLen)
        val probeLen = math.min(MiniSeed.ProbeLen, len).toInt
        in.readFully(0L, probe, 0, probeLen)
        MiniSeed.parseRecordHeader(probe, 0, probeLen) match {
          case Some(h) if len % h.recordLen == 0 =>
            val uniform = len == h.recordLen || {
              val second = new Array[Byte](MiniSeed.ProbeLen)
              val secondLen =
                math.min(MiniSeed.ProbeLen.toLong, len - h.recordLen).toInt
              in.readFully(h.recordLen.toLong, second, 0, secondLen)
              MiniSeed.parseRecordHeader(second, 0, secondLen)
                .exists(_.recordLen == h.recordLen)
            }
            if (!uniform) whole
            else {
              val perSlice = math.max(1L, maxSplit / h.recordLen) * h.recordLen
              (0L until len by perSlice)
                .map(s => FileSlice(path.toString, s, math.min(s + perSlice, len)))
            }
          case _ => whole // unparseable head: reader will warn and skip
        }
      } finally in.close()
    }

    val slices = mutable.ArrayBuffer.empty[FileSlice]
    files.foreach { f =>
      if (f.getLen <= maxSplit)
        slices += FileSlice(f.getPath.toString, 0L, f.getLen)
      else slices ++= sliceFile(f)
    }
    SegmentSourceShared.binPack(slices.toSeq, maxSplit)
      .map(b => MiniSeedInputPartition(b.toArray): InputPartition).toArray
  }

  override def supportedCustomMetrics(): Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    Array(new MiniSeedSkippedRecordsMetric, new MiniSeedSkippedBytesMetric)

  override def createReaderFactory(): PartitionReaderFactory = {
    val (recAcc, byteAcc) = MiniSeedDataSource.skipCounters(dir)
    MiniSeedReaderFactory(requiredSchema.fieldNames, headerFilters,
      SegmentSourceShared.broadcastConf(), recAcc, byteAcc)
  }
}

final case class MiniSeedInputPartition(slices: Array[GsgDataSource.FileSlice])
    extends InputPartition

final case class MiniSeedReaderFactory(columns: Array[String],
                                       pushed: Array[Filter],
                                       hadoopProps: org.apache.spark.broadcast.Broadcast[Seq[(String, String)]],
                                       skipRecAcc: org.apache.spark.util.LongAccumulator,
                                       skipByteAcc: org.apache.spark.util.LongAccumulator)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new MiniSeedPartitionReader(
      partition.asInstanceOf[MiniSeedInputPartition].slices, columns, pushed,
      hadoopProps.value, skipRecAcc, skipByteAcc)
}

/** Streams records of the assigned slices. Payloads are read and
  * decoded only when `samples` is projected AND the header passes the
  * pushed filters; otherwise the probe read is all the IO a record
  * costs — the obsplus fast-summarize path (`utils/mseed.py:70-112`)
  * as the planner-chosen plan.
  */
class MiniSeedPartitionReader(slices: Array[GsgDataSource.FileSlice],
                              columns: Array[String],
                              pushed: Array[Filter],
                              hadoopProps: Seq[(String, String)],
                              skipRecAcc: org.apache.spark.util.LongAccumulator = null,
                              skipByteAcc: org.apache.spark.util.LongAccumulator = null)
    extends PartitionReader[InternalRow] {

  private val needSamples = columns.contains("samples")
  private val headerPred = GsgHeaderFilter.compile(pushed)
  private val conf = SegmentSourceShared.confOf(hadoopProps)

  private var sliceIdx = 0
  private var in: org.apache.hadoop.fs.FSDataInputStream = _
  private var pos = 0L
  private var end = 0L
  private var currentPath: String = _
  private var row: InternalRow = _
  private val probe = new Array[Byte](MiniSeed.ProbeLen)

  private var skippedRecords = 0L
  private var skippedBytes = 0L
  private def countSkip(records: Long, bytes: Long): Unit = {
    skippedRecords += records; skippedBytes += bytes
    if (skipRecAcc != null) skipRecAcc.add(records)
    if (skipByteAcc != null) skipByteAcc.add(bytes)
  }

  override def currentMetricsValues(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    Array(MiniSeedTaskMetric("mseedSkippedRecords", skippedRecords),
      MiniSeedTaskMetric("mseedSkippedBytes", skippedBytes))

  private def openSlice(): Boolean = {
    if (in != null) { in.close(); in = null }
    if (sliceIdx >= slices.length) return false
    val s = slices(sliceIdx); sliceIdx += 1
    val p = new Path(s.path)
    in = p.getFileSystem(conf).open(p)
    pos = s.start; end = s.end; currentPath = s.path
    true
  }

  private def buildRow(h: MiniSeed.RecordHeader,
                       samples: Array[Double]): InternalRow = {
    val vals = columns.map {
      case "network" => UTF8String.fromString(h.network)
      case "station" => UTF8String.fromString(h.station)
      case "location" => UTF8String.fromString(h.location)
      case "channel" => UTF8String.fromString(h.channel)
      case "starttime" => h.starttime: java.lang.Long
      case "sampling_period" => h.samplingPeriod: java.lang.Long
      case "samples" => ArrayData.toArrayData(samples)
      case "n_samples" => h.n: java.lang.Integer
      case "path" => UTF8String.fromString(currentPath)
    }
    new GenericInternalRow(vals.asInstanceOf[Array[Any]])
  }

  override def next(): Boolean = {
    while (true) {
      if (in == null || pos + MiniSeedDataSource.MinRecordLen > end) {
        if (!openSlice()) return false
      } else {
        val probeLen = math.min(MiniSeed.ProbeLen.toLong, end - pos).toInt
        in.readFully(pos, probe, 0, probeLen)
        // probe is reused across records: bound the parse by probeLen so
        // a corrupt blockette offset never walks the previous record's
        // stale tail bytes. A blockette chain that legitimately extends
        // past the probe (NeedMore) re-reads deeper, growing
        // geometrically, until resolved or the slice runs out.
        var buf = probe
        var len = probeLen
        var res = MiniSeed.parseRecordHeaderEx(buf, 0, len)
        var more = true
        while (more) {
          res match {
            case MiniSeed.NeedMore(min) if min <= end - pos =>
              len = math.min(end - pos, math.max(min.toLong, len * 2L)).toInt
              buf = new Array[Byte](len)
              in.readFully(pos, buf, 0, len)
              res = MiniSeed.parseRecordHeaderEx(buf, 0, len)
            case _ => more = false
          }
        }
        res match {
          case MiniSeed.Ok(h) =>
            val recEnd = pos + h.recordLen
            // slices are cut at record-length multiples, so a record
            // crossing `end` means truncation/corruption: skip the tail
            if (recEnd > end) {
              System.err.println(
                s"[graft] mseed: truncated record at $currentPath:$pos")
              countSkip(1L, end - pos)
              pos = end
            } else if (headerPred(GsgDataSource.Header(h.network, h.station,
              h.location, h.channel, h.starttime, h.samplingPeriod, h.n))) {
              if (!needSamples) {
                row = buildRow(h, null)
                pos = recEnd
                return true
              } else {
                val rec = new Array[Byte](h.recordLen)
                System.arraycopy(buf, 0, rec, 0, math.min(len, h.recordLen))
                if (h.recordLen > len)
                  in.readFully(pos + len, rec, len, h.recordLen - len)
                pos = recEnd
                try {
                  row = buildRow(h, MiniSeed.decodeSamples(rec, 0, h))
                  return true
                } catch {
                  case e: java.io.IOException =>
                    // payload integrity failure: framing survives
                    // (fixed reclen) — skip this record alone
                    System.err.println(
                      s"[graft] mseed: ${e.getMessage} at $currentPath")
                    countSkip(1L, h.recordLen.toLong)
                }
              }
            } else pos = recEnd // filtered: payload never read
          case _ => // Bad, or NeedMore past the slice: framing lost —
            // permissive skip of the slice's remainder (>= 1 record)
            System.err.println(s"[graft] mseed: bad record at $currentPath:$pos")
            countSkip(1L, end - pos)
            pos = end
        }
      }
    }
    false
  }

  override def get(): InternalRow = row

  override def close(): Unit = if (in != null) { in.close(); in = null }
}

class MiniSeedWriteBuilder(dir: String, queryId: String,
                           writeSchema: StructType, maxFileBytes: Long,
                           encoding: String, recordLen: Int)
    extends WriteBuilder with SupportsTruncate {
  private var truncateFirst = false

  override def truncate(): WriteBuilder = { truncateFirst = true; this }

  override def build(): Write = new Write {
    override def description(): String =
      s"MiniSeedWrite path=$dir, truncate=$truncateFirst, enc=$encoding"
    override def toBatch: BatchWrite =
      new MiniSeedBatchWrite(dir, queryId, writeSchema, maxFileBytes,
        encoding, recordLen, truncateFirst)
  }
}

class MiniSeedBatchWrite(dir: String, queryId: String,
                         writeSchema: StructType, maxFileBytes: Long,
                         encoding: String, recordLen: Int,
                         truncateFirst: Boolean)
    extends BatchWrite {

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    val c = SparkSession.active.sparkContext.hadoopConfiguration
    val p = new Path(dir)
    p.getFileSystem(c).mkdirs(p)
    MiniSeedWriterFactory(dir, queryId, writeSchema.fieldNames, maxFileBytes,
      encoding, recordLen, SegmentSourceShared.broadcastConf())
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit =
    SegmentSourceShared.commitStaged(dir,
      messages.flatMap {
        case GsgCommitMessage(staged) => staged
        case m => throw new IllegalStateException(s"unexpected message $m")
      }.toSeq,
      truncateFirst)

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    SegmentSourceShared.abortStaged(dir, messages.flatMap {
      case GsgCommitMessage(staged) => staged
      case _ => Nil
    }.toSeq)
}

final case class MiniSeedWriterFactory(dir: String, queryId: String,
                                       columns: Array[String],
                                       maxFileBytes: Long, encoding: String,
                                       recordLen: Int,
                                       hadoopProps: org.apache.spark.broadcast.Broadcast[Seq[(String, String)]])
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new MiniSeedDataWriter(dir, queryId, columns, maxFileBytes, encoding,
      recordLen, partitionId, taskId, hadoopProps.value)
}

/** Encodes each row (one segment) as real miniSEED records appended to
  * rolling staged files. Validation is [[MiniSeed.encode]]'s fail-fast
  * contract (codes, time grid, rate representability, sample domain).
  */
class MiniSeedDataWriter(dir: String, queryId: String,
                         columns: Array[String], maxFileBytes: Long,
                         encoding: String, recordLen: Int,
                         partitionId: Int, taskId: Long,
                         hadoopProps: Seq[(String, String)])
    extends DataWriter[InternalRow] {

  private val conf = SegmentSourceShared.confOf(hadoopProps)
  private val fs = new Path(dir).getFileSystem(conf)
  private val idx = columns.zipWithIndex.toMap
  private val iNet = idx("network"); private val iSta = idx("station")
  private val iLoc = idx("location"); private val iCha = idx("channel")
  private val iT0 = idx("starttime"); private val iSp = idx("sampling_period")
  private val iSamples = idx("samples")

  private val staged = mutable.ArrayBuffer.empty[String]
  private var out: org.apache.hadoop.fs.FSDataOutputStream = _
  private var written = 0L
  private var fileSeq = 0
  private var recordsInFile = 0

  private def openNext(): Unit = {
    val name = f".staged-$queryId-$partitionId%05d-$taskId-$fileSeq%04d.mseed"
    fileSeq += 1
    val p = new Path(dir, name)
    out = fs.create(p, false)
    staged += p.toString
    written = 0L
    recordsInFile = 0
  }

  private def str(row: InternalRow, i: Int): String =
    if (row.isNullAt(i)) "" else row.getUTF8String(i).toString

  override def write(row: InternalRow): Unit = {
    if (row.isNullAt(iT0) || row.isNullAt(iSp) || row.isNullAt(iSamples))
      throw new IllegalArgumentException(
        "mseed write: null starttime/sampling_period/samples")
    // open (and reset recordsInFile) BEFORE computing seqStart, so the
    // first segment of a fresh file starts its sequence at 000001
    // instead of continuing the previous file's numbering
    if (out == null) openNext()
    val bytes = MiniSeed.encode(
      str(row, iNet), str(row, iSta), str(row, iLoc), str(row, iCha),
      row.getLong(iT0), row.getLong(iSp),
      row.getArray(iSamples).toDoubleArray(),
      encoding, recordLen, seqStart = recordsInFile + 1)
    out.write(bytes)
    written += bytes.length
    recordsInFile += bytes.length / recordLen
    // roll AFTER a whole segment: files end on record boundaries
    if (written >= maxFileBytes) { out.close(); out = null }
  }

  override def commit(): WriterCommitMessage = {
    if (out != null) { out.close(); out = null }
    GsgCommitMessage(staged.toSeq)
  }

  override def abort(): Unit = {
    if (out != null) { try out.close() catch { case _: Exception => () }; out = null }
    staged.foreach(sp =>
      try fs.delete(new Path(sp), false) catch { case _: Exception => () })
  }

  override def close(): Unit =
    if (out != null) { out.close(); out = null }
}
