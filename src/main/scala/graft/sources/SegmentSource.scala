package graft.sources

import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.LongAccumulator

import java.util.{Map => JMap}
import scala.collection.JavaConverters._
import scala.collection.mutable

/** DataSource V2 for record-framed waveform segment files — one stack
  * for every record format, parameterized by a [[SegmentCodec]] that
  * holds only the format's framing decisions. The registered formats
  * are `gsg` ([[GsgCodec]], this engine's own framing) and `mseed`
  * ([[MiniSeedCodec]], real miniSEED 2.x that obspy/libmseed read).
  * Both serve the same table schema ([[SegmentSource.Schema]]) with the
  * same planner behaviors:
  *
  *   - **Split planning at record boundaries**: an oversized file is cut
  *     into slices of whole records near
  *     `spark.sql.files.maxPartitionBytes` by the codec (gsg hops header
  *     to header, mseed cuts at record-length multiples after one
  *     probe), in one bounded driver-side pool across files; a 10 GB
  *     multi-trace file becomes dozens of parallel tasks.
  *   - **File coalescing**: small files bin-pack into shared partitions
  *     (Spark's own file-source behavior), so a 4000-file archive
  *     doesn't schedule 4000 tasks.
  *   - **Column pruning inside the reader**: when `samples` isn't
  *     projected (index builds, availability queries), the reader reads
  *     headers only and seeks on — the obsplus "fast summarize"
  *     (`utils/mseed.py:70-112`) as the planner-chosen path.
  *   - **Filter pushdown to the header**: NSLC equality and starttime
  *     bounds are evaluated on the parsed header before any payload
  *     decode, and `path` filters prune the file listing; pushed filters
  *     re-check post-scan (parquet's contract), so semantics never
  *     depend on the pushdown.
  *   - **Permissive, counted corruption handling**: an unparseable
  *     header or a record torn by the slice end skips the rest of the
  *     slice (framing lost); a payload the codec rejects skips that
  *     record alone. Every skip is warned to stderr AND counted, per
  *     (format, dir) in [[SegmentSource.skipCounters]] and per scan in
  *     the `<format>SkippedRecords`/`<format>SkippedBytes` SQL metrics.
  *
  * Reads take `modifiedAfterMs` (epoch millis; only files modified
  * after it are listed). Usage: `spark.read.format("gsg").load(dir)`.
  *
  * The WRITE side (`df.write.format("mseed").mode("append").save(dir)`)
  * is the `put_waveforms` interop path (obsplus `wavebank.py:708-754`):
  * tasks stream each row's encoded records into HIDDEN staged files and
  * the driver commit renames them visible; `mode("overwrite")`
  * truncates. A file rolls once it exceeds `maxFileBytes` (default
  * 128 MiB), always after a whole segment, so every file ends on a
  * record boundary. See [[SegmentBatchWrite]] for the visibility
  * contract.
  */
abstract class SegmentDataSource(codec: SegmentCodec) extends TableProvider
    with DataSourceRegister {

  override def shortName(): String = codec.name

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    SegmentSource.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table = {
    // writes pass the frame's schema, reads a projection of the full
    // one: any subset of the known columns (ignoring nullability) is
    // legal here; the writer additionally requires its 7 core fields
    SegmentSource.validateSubsetSchema(codec.name, schema)
    new SegmentTable(codec, schema, properties.asScala.toMap)
  }

  // lets DataFrameWriter hand the frame's schema to getTable (writes
  // carry no n_samples/path — those columns are reader-derived)
  override def supportsExternalMetadata(): Boolean = true
}

/** The format decisions of one record framing; everything else (listing,
  * pushdown, pruning, bin-packing, staged writes, skip accounting) is
  * the shared [[SegmentDataSource]] stack. Serializable: it ships to
  * tasks inside the reader and writer factories.
  */
trait SegmentCodec extends Serializable {
  import SegmentSource.FileSlice

  /** The registered short name, also the metric and message prefix. */
  def name: String

  /** Shortest byte run that can hold one record: smaller files are not
    * listed and a shorter slice tail is not read.
    */
  def minFileLen: Int

  /** Extension of the files the sink writes. */
  def extension: String

  /** Slices of whole records, each near `maxSplit` bytes, covering the
    * oversized file `path` of `len` bytes.
    */
  def slice(in: FSDataInputStream, path: String, len: Long,
            maxSplit: Long): Seq[FileSlice]

  /** A record reader for one task (it may own scratch buffers). */
  def reader(): RecordReader

  /** The row encoder for one write, configured from its options
    * (validated on the driver).
    */
  def encoder(options: CaseInsensitiveStringMap): SegmentEncoder
}

object SegmentCodec {
  /** What a codec finds at a slice position. */
  sealed trait RecordAt
  /** A parsed header and the record's full length; `samples` decodes
    * the payload, throwing [[CorruptPayload]] when it fails the
    * format's integrity check.
    */
  final case class Record(header: SegmentSource.Header, length: Long,
                          samples: () => Array[Double]) extends RecordAt
  /** Framing lost: skip `bytes` (the reader warns and counts it). */
  final case class Skip(bytes: Long, reason: String) extends RecordAt

  /** A payload the format rejects while the framing survives: the
    * reader skips this record alone.
    */
  final class CorruptPayload(msg: String) extends Exception(msg)
}

trait RecordReader {
  /** The record at `pos` of a slice that ends at `end`. */
  def read(in: FSDataInputStream, pos: Long, end: Long): SegmentCodec.RecordAt
}

trait SegmentEncoder extends Serializable {
  /** One segment row as whole records. `fileOffset` is the byte offset
    * in the current output file where they land (0 in a fresh file).
    */
  def encode(network: String, station: String, location: String,
             channel: String, starttime: Long, samplingPeriod: Long,
             samples: Array[Double], fileOffset: Long): Array[Byte]
}

object SegmentSource {
  val Schema: StructType = StructType(Seq(
    StructField("network", StringType, nullable = false),
    StructField("station", StringType, nullable = false),
    StructField("location", StringType, nullable = false),
    StructField("channel", StringType, nullable = false),
    StructField("starttime", LongType, nullable = false),
    StructField("sampling_period", LongType, nullable = false),
    StructField("samples", ArrayType(DoubleType, containsNull = false),
      nullable = false),
    // header-derived record length: lets index builds compute endtime
    // (start + n*period) with zero payload IO
    StructField("n_samples", IntegerType, nullable = false),
    StructField("path", StringType, nullable = false)))

  /** Columns the writer needs from the incoming frame; n_samples and
    * path are reader-derived and ignored on write if present.
    */
  val WriteFields: Seq[String] = Seq("network", "station", "location",
    "channel", "starttime", "sampling_period", "samples")

  /** One contiguous run of whole records inside a file. */
  final case class FileSlice(path: String, start: Long, end: Long)

  /** A record header as the scan sees it, whatever the framing. */
  final case class Header(network: String, station: String, location: String,
                          channel: String, starttime: Long,
                          samplingPeriod: Long, n: Int)

  /** Every field must be a known column with its exact type
    * (nullability ignored — parquet round trips widen containsNull).
    */
  def validateSubsetSchema(format: String, schema: StructType): Unit = {
    val known = Schema.fields.map(f => f.name -> f.dataType).toMap
    def same(a: DataType, b: DataType): Boolean = (a, b) match {
      case (ArrayType(ea, _), ArrayType(eb, _)) => same(ea, eb)
      case _ => a == b
    }
    schema.fields.foreach { f =>
      known.get(f.name) match {
        case Some(dt) if same(dt, f.dataType) => ()
        case Some(dt) => throw new IllegalArgumentException(
          s"$format: column '${f.name}' must be ${dt.simpleString}, " +
            s"got ${f.dataType.simpleString}")
        case None => throw new IllegalArgumentException(
          s"$format: unknown column '${f.name}' (known: " +
            s"${Schema.fieldNames.mkString(", ")})")
      }
    }
  }

  /** Per-(format, dir) skip counters (records, bytes) — the
    * programmatic face of the scan's permissive corruption handling,
    * mirroring the QuakeML source's warn-and-skip contract: every
    * skipped record is warned to stderr AND counted here, so an ingest
    * can assert "0 skips" (or alert on drift) instead of trusting
    * silence. Spark `LongAccumulator`s: task-side adds fold back to the
    * driver in local and cluster mode alike. `dir` is the scan's `path`.
    */
  private val skipAccs =
    new java.util.concurrent.ConcurrentHashMap[(String, String), (LongAccumulator, LongAccumulator)]()

  def skipCounters(format: String, dir: String): (LongAccumulator, LongAccumulator) =
    skipAccs.computeIfAbsent((format, dir), _ => {
      val sc = SparkSession.active.sparkContext
      (sc.longAccumulator(s"$format.skippedRecords($dir)"),
        sc.longAccumulator(s"$format.skippedBytes($dir)"))
    })

  /** Hadoop's hidden-path convention: staged writes and metadata files
    * are invisible to the scan.
    */
  def isHidden(p: Path): Boolean = {
    val n = p.getName
    n.startsWith("_") || n.startsWith(".")
  }

  /** Recursive listing: hidden paths skipped, files under `minLen`
    * (no room for one record) skipped, optional mtime watermark, and
    * optionally only the named `paths` (as the scan reports them in its
    * `path` column). The banks' modified-file detection lists through
    * here too, so its mtime map covers exactly the scan's files.
    */
  private[graft] def listFiles(dir: String, minLen: Long,
                               modifiedAfterMs: Option[Long],
                               paths: Option[Set[String]]): Seq[FileStatus] = {
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    def keep(s: FileStatus): Boolean =
      s.getLen >= minLen &&
        modifiedAfterMs.forall(s.getModificationTime > _) &&
        paths.forall(_(s.getPath.toString))
    def walk(s: FileStatus): Seq[FileStatus] =
      if (isHidden(s.getPath)) Nil // staged writes / metadata
      else if (s.isDirectory) fs.listStatus(s.getPath).toSeq.flatMap(walk)
      else if (keep(s)) Seq(s)
      else Nil
    if (!fs.exists(p)) Nil else fs.getFileStatus(p) match {
      case d if d.isDirectory => fs.listStatus(p).toSeq.flatMap(walk)
      case f => Seq(f).filter(keep)
    }
  }

  /** A pushed filter on the `path` column: the scan prunes its file
    * listing with it (an index-driven read names the files it needs).
    */
  private[sources] def isPathFilter(f: Filter): Boolean = f match {
    case sources.EqualTo("path", _: String) => true
    case sources.In("path", _) => true
    case _ => false
  }

  /** Pushed filters split into the paths every `path` filter admits
    * (None: no such filter, every file) and the header filters the
    * tasks evaluate.
    */
  private[sources] def splitPathFilters(pushed: Array[Filter])
      : (Option[Set[String]], Array[Filter]) = {
    val (byPath, header) = pushed.partition(isPathFilter)
    val paths = byPath.toSeq.collect {
      case sources.EqualTo(_, v: String) => Set(v)
      case sources.In(_, vs) => vs.collect { case v: String => v }.toSet
    }.reduceOption(_ intersect _)
    (paths, header)
  }

  /** Greedy bin-packing, largest first (Spark's file coalescing
    * shape): small slices share partitions, order deterministic.
    */
  private[sources] def binPack(slices: Seq[FileSlice], target: Long): Seq[Seq[FileSlice]] = {
    val t = math.max(1L, target)
    val bins = mutable.ArrayBuffer.empty[(mutable.ArrayBuffer[FileSlice], Long)]
    slices.sortBy(s => -(s.end - s.start)).foreach { s =>
      val len = s.end - s.start
      bins.indices.find(i => bins(i)._2 + len <= t) match {
        case Some(i) => bins(i) = (bins(i)._1 += s, bins(i)._2 + len)
        case None => bins += ((mutable.ArrayBuffer(s), len))
      }
    }
    bins.map(_._1.toSeq).toSeq
  }

  /** The session Hadoop conf as serializable pairs, broadcast ONCE per
    * scan/write (Configuration itself is not serializable).
    */
  private[sources] def broadcastConf(): org.apache.spark.broadcast.Broadcast[Seq[(String, String)]] = {
    val sc = SparkSession.active.sparkContext
    val it = sc.hadoopConfiguration.iterator()
    val buf = mutable.ArrayBuffer.empty[(String, String)]
    while (it.hasNext) { val e = it.next(); buf += e.getKey -> e.getValue }
    sc.broadcast(buf.toSeq)
  }

  private[sources] def confOf(props: Seq[(String, String)]): org.apache.hadoop.conf.Configuration = {
    val c = new org.apache.hadoop.conf.Configuration()
    props.foreach { case (k, v) => c.set(k, v) }
    c
  }
}

/** Compiled header predicate (conjunction of pushed filters). */
object SegmentHeaderFilter {
  import SegmentSource.Header

  private val Codes = Set("network", "station", "location", "channel")

  def supported(f: Filter): Boolean = f match {
    case sources.EqualTo(a, _: String) => Codes(a)
    case sources.GreaterThan("starttime", _: Long) => true
    case sources.GreaterThanOrEqual("starttime", _: Long) => true
    case sources.LessThan("starttime", _: Long) => true
    case sources.LessThanOrEqual("starttime", _: Long) => true
    case sources.In(a, vs) => Codes(a) && vs.forall(_.isInstanceOf[String])
    case _ => false
  }

  def compile(filters: Array[Filter]): Header => Boolean = {
    def strField(h: Header, a: String): String = a match {
      case "network" => h.network
      case "station" => h.station
      case "location" => h.location
      case "channel" => h.channel
    }
    val preds: Array[Header => Boolean] = filters.collect {
      case sources.EqualTo(a, v: String) if Codes(a) =>
        (h: Header) => strField(h, a) == v
      case sources.GreaterThan("starttime", v: Long) =>
        (h: Header) => h.starttime > v
      case sources.GreaterThanOrEqual("starttime", v: Long) =>
        (h: Header) => h.starttime >= v
      case sources.LessThan("starttime", v: Long) =>
        (h: Header) => h.starttime < v
      case sources.LessThanOrEqual("starttime", v: Long) =>
        (h: Header) => h.starttime <= v
      case sources.In(a, vs) if Codes(a) =>
        val set = vs.collect { case s: String => s }.toSet
        (h: Header) => set(strField(h, a))
    }
    h => preds.forall(_(h))
  }
}

class SegmentTable(codec: SegmentCodec, tableSchema: StructType,
                   properties: Map[String, String])
    extends Table with SupportsRead with SupportsWrite {
  override def name(): String =
    s"${codec.name}(${properties.getOrElse("path", "?")})"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new SegmentScanBuilder(codec, tableSchema,
      options.asScala.toMap ++ properties)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val missing = SegmentSource.WriteFields
      .filterNot(info.schema().fieldNames.contains)
    if (missing.nonEmpty) throw new IllegalArgumentException(
      s"${codec.name} write requires columns [${missing.mkString(", ")}] " +
        s"(got: ${info.schema().fieldNames.mkString(", ")})")
    val path = Option(info.options.get("path"))
      .orElse(properties.get("path"))
      .getOrElse(throw new IllegalArgumentException(
        s"${codec.name} sink requires a path"))
    val maxFileBytes = Option(info.options.get("maxFileBytes"))
      .map(_.toLong).getOrElse(128L * 1024 * 1024)
    new SegmentWriteBuilder(codec, codec.encoder(info.options), path,
      info.queryId(), info.schema(), maxFileBytes)
  }
}

class SegmentScanBuilder(codec: SegmentCodec, tableSchema: StructType,
                         options: Map[String, String])
    extends ScanBuilder
    with SupportsPushDownRequiredColumns with SupportsPushDownFilters {

  private var requiredSchema: StructType = tableSchema
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    this.requiredSchema = requiredSchema

  /** Header-evaluable and `path` filters are pushed; everything
    * (pushed included) is returned for post-scan re-evaluation —
    * parquet's contract.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(f =>
      SegmentHeaderFilter.supported(f) || SegmentSource.isPathFilter(f))
    filters
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan =
    new SegmentScan(codec, options.getOrElse("path",
      throw new IllegalArgumentException(s"${codec.name} source requires a path")),
      requiredSchema, pushed,
      // mirrors the Spark file sources' modifiedAfter option, in plain
      // epoch millis: incremental index builds list only fresh files
      options.get("modifiedafterms").map(_.toLong))
}

/** SQL metric of the scan's skip counters, named `<format><Kind>`. The
  * SQL UI re-instantiates the class reflectively (zero-arg) only to sum
  * task values, which needs no name.
  */
private[sources] final class SegmentSkipMetric(metricName: String,
                                               desc: String)
    extends CustomSumMetric {
  def this() = this("segmentSkipped", "segment records/bytes skipped")
  override def name(): String = metricName
  override def description(): String = desc
}

private[sources] final case class SegmentTaskMetric(metricName: String,
                                                    metricValue: Long)
    extends CustomTaskMetric {
  override def name(): String = metricName
  override def value(): Long = metricValue
}

class SegmentScan(codec: SegmentCodec, dir: String,
                  requiredSchema: StructType, pushed: Array[Filter],
                  modifiedAfterMs: Option[Long])
    extends Scan with Batch with SupportsReportStatistics {
  import SegmentSource.FileSlice

  override def readSchema(): StructType = requiredSchema
  override def toBatch: Batch = this
  override def description(): String =
    s"SegmentScan(${codec.name}) path=$dir, " +
      s"ReadSchema: ${requiredSchema.simpleString}, " +
      s"PushedFilters: [${headerFilters.mkString(", ")}]" +
      paths.fold("")(ps => s", PathFilter: ${ps.size} paths") +
      modifiedAfterMs.fold("")(t => s", ModifiedAfterMs: $t")

  // `path` filters prune the listing; only header filters reach tasks
  private val (paths, headerFilters) =
    SegmentSource.splitPathFilters(pushed)

  private lazy val files: Seq[FileStatus] =
    SegmentSource.listFiles(dir, codec.minFileLen, modifiedAfterMs, paths)

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(files.map(_.getLen).sum)
    override def numRows(): java.util.OptionalLong =
      java.util.OptionalLong.empty()
  }

  /** Split planning: the codec cuts each oversized file into slices of
    * whole records; then all slices greedily bin-pack to
    * ~maxPartitionBytes (small-file coalescing). Runs on the driver,
    * like every file source's listing/planning step.
    */
  override def planInputPartitions(): Array[InputPartition] = {
    val sess = SparkSession.active
    val maxSplit = sess.sessionState.conf.filesMaxPartitionBytes
    val conf = sess.sparkContext.hadoopConfiguration

    def sliceFile(f: FileStatus): Seq[FileSlice] = {
      val in = f.getPath.getFileSystem(conf).open(f.getPath)
      try codec.slice(in, f.getPath.toString, f.getLen, maxSplit)
      finally in.close()
    }

    // Oversized files are sliced in parallel (seek-heavy, driver-side —
    // like file-source listing); small files need no IO at all. Results
    // keep file order so partition layout stays deterministic.
    val big = files.filter(_.getLen > maxSplit)
    val sliced: Map[String, Seq[FileSlice]] =
      if (big.isEmpty) Map.empty
      else if (big.size == 1) Map(big.head.getPath.toString -> sliceFile(big.head))
      else {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(8, big.size))
        try {
          val futures = big.map { f =>
            pool.submit(new java.util.concurrent.Callable[(String, Seq[FileSlice])] {
              override def call(): (String, Seq[FileSlice]) =
                f.getPath.toString -> sliceFile(f)
            })
          }
          futures.map { fu =>
            try fu.get()
            catch { // keep the IO error surface of the sequential path
              case e: java.util.concurrent.ExecutionException =>
                throw e.getCause
            }
          }.toMap
        } finally pool.shutdown()
      }

    val slices = files.flatMap { f =>
      if (f.getLen <= maxSplit) Seq(FileSlice(f.getPath.toString, 0L, f.getLen))
      else sliced(f.getPath.toString)
    }
    SegmentSource.binPack(slices, maxSplit)
      .map(b => SegmentInputPartition(b.toArray): InputPartition).toArray
  }

  override def supportedCustomMetrics(): Array[CustomMetric] = Array(
    new SegmentSkipMetric(s"${codec.name}SkippedRecords",
      s"${codec.name} records skipped (corrupt header/payload)"),
    new SegmentSkipMetric(s"${codec.name}SkippedBytes",
      s"${codec.name} bytes skipped (framing lost)"))

  override def createReaderFactory(): PartitionReaderFactory = {
    val (recAcc, byteAcc) = SegmentSource.skipCounters(codec.name, dir)
    // ship the session's hadoop conf ONCE via broadcast, not per task
    SegmentReaderFactory(codec, requiredSchema.fieldNames, headerFilters,
      SegmentSource.broadcastConf(), recAcc, byteAcc)
  }
}

final case class SegmentInputPartition(slices: Array[SegmentSource.FileSlice])
    extends InputPartition

final case class SegmentReaderFactory(codec: SegmentCodec,
                                      columns: Array[String],
                                      pushed: Array[Filter],
                                      hadoopProps: org.apache.spark.broadcast.Broadcast[Seq[(String, String)]],
                                      skipRecAcc: LongAccumulator,
                                      skipByteAcc: LongAccumulator)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new SegmentPartitionReader(codec,
      partition.asInstanceOf[SegmentInputPartition].slices, columns, pushed,
      hadoopProps.value, skipRecAcc, skipByteAcc)
}

/** Streams records of the assigned slices. Payloads are read and
  * decoded only when `samples` is projected AND the header passes the
  * pushed filters; otherwise the header read is all the IO a record
  * costs and the reader seeks straight to the next record.
  */
class SegmentPartitionReader(codec: SegmentCodec,
                             slices: Array[SegmentSource.FileSlice],
                             columns: Array[String],
                             pushed: Array[Filter],
                             hadoopProps: Seq[(String, String)],
                             skipRecAcc: LongAccumulator,
                             skipByteAcc: LongAccumulator)
    extends PartitionReader[InternalRow] {
  import SegmentCodec._

  private val needSamples = columns.contains("samples")
  private val headerPred = SegmentHeaderFilter.compile(pushed)
  private val conf = SegmentSource.confOf(hadoopProps)
  private val records = codec.reader()

  private var sliceIdx = 0
  private var in: FSDataInputStream = _
  private var pos = 0L
  private var end = 0L
  private var currentPath: String = _
  private var row: InternalRow = _

  private var skippedRecords = 0L
  private var skippedBytes = 0L
  private def skip(bytes: Long, reason: String): Unit = {
    System.err.println(s"[graft] ${codec.name}: $reason at $currentPath:$pos")
    skippedRecords += 1; skippedBytes += bytes
    skipRecAcc.add(1L); skipByteAcc.add(bytes)
    pos += bytes
  }

  override def currentMetricsValues(): Array[CustomTaskMetric] =
    Array(SegmentTaskMetric(s"${codec.name}SkippedRecords", skippedRecords),
      SegmentTaskMetric(s"${codec.name}SkippedBytes", skippedBytes))

  private def openSlice(): Boolean = {
    if (in != null) { in.close(); in = null }
    if (sliceIdx >= slices.length) return false
    val s = slices(sliceIdx); sliceIdx += 1
    val p = new Path(s.path)
    in = p.getFileSystem(conf).open(p)
    pos = s.start; end = s.end; currentPath = s.path
    true
  }

  private def buildRow(h: SegmentSource.Header,
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
      if (in == null || pos + codec.minFileLen > end) {
        if (!openSlice()) return false
      } else records.read(in, pos, end) match {
        case Skip(bytes, reason) => skip(bytes, reason)
        // slices are cut at record ends, so a record crossing `end` can
        // only mean a truncated/corrupt file: skip the tail
        case Record(_, len, _) if pos + len > end =>
          skip(end - pos, "truncated record")
        case Record(h, len, samples) if headerPred(h) =>
          try {
            row = buildRow(h, if (needSamples) samples() else null)
            pos += len
            return true
          } catch {
            case e: CorruptPayload => skip(len, e.getMessage)
          }
        case Record(_, len, _) => pos += len // filtered: payload never read
      }
    }
    false
  }

  override def get(): InternalRow = row

  override def close(): Unit = if (in != null) { in.close(); in = null }
}

/** Batch write: tasks stream records into hidden staged files inside
  * the target directory; the driver-side job commit renames every
  * staged file visible in one pass (and, for truncate, deletes the
  * previously visible files first — recursively, matching the scan's
  * recursive walk).
  *
  * Visibility contract — PER-FILE atomic, not per-job: the scan skips
  * hidden paths, so a concurrent reader never sees a torn record or a
  * half-written staged file, but a listing that races the commit's
  * rename loop can observe a subset of a multi-file append, and an
  * overwrite has a window between the deletes and the renames where
  * fewer (or no) files are visible. That is the same contract as
  * Spark's own non-transactional file sinks. A reader needing
  * job-level atomicity routes through [[graft.bank.TxTable]], whose
  * log commit IS all-or-nothing — the banks' record-format paths pair
  * this sink with the tx-logged index for exactly that reason.
  */
class SegmentWriteBuilder(codec: SegmentCodec, encoder: SegmentEncoder,
                          dir: String, queryId: String,
                          writeSchema: StructType, maxFileBytes: Long)
    extends WriteBuilder with SupportsTruncate {
  private var truncateFirst = false

  override def truncate(): WriteBuilder = { truncateFirst = true; this }

  override def build(): Write = new Write {
    override def description(): String =
      s"SegmentWrite(${codec.name}) path=$dir, truncate=$truncateFirst"
    override def toBatch: BatchWrite =
      new SegmentBatchWrite(codec, encoder, dir, queryId, writeSchema,
        maxFileBytes, truncateFirst)
  }
}

final case class SegmentCommitMessage(stagedPaths: Seq[String])
    extends WriterCommitMessage

class SegmentBatchWrite(codec: SegmentCodec, encoder: SegmentEncoder,
                        dir: String, queryId: String,
                        writeSchema: StructType, maxFileBytes: Long,
                        truncateFirst: Boolean)
    extends BatchWrite {

  private def targetFs = new Path(dir).getFileSystem(
    SparkSession.active.sparkContext.hadoopConfiguration)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    // ensure the target exists before tasks open streams into it
    targetFs.mkdirs(new Path(dir))
    SegmentWriterFactory(codec, encoder, dir, queryId,
      writeSchema.fieldNames, maxFileBytes, SegmentSource.broadcastConf())
  }

  /** Optional recursive truncate of the previously visible files
    * (mirroring the scan's recursive walk), then rename every
    * ".staged-…" file to its visible "part-…" name.
    */
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val staged = messages.flatMap {
      case SegmentCommitMessage(s) => s
      case m => throw new IllegalStateException(s"unexpected message $m")
    }
    val target = new Path(dir)
    val fs = targetFs
    if (truncateFirst && fs.exists(target)) {
      def purge(s: FileStatus): Unit =
        if (!SegmentSource.isHidden(s.getPath)) {
          if (s.isDirectory) fs.listStatus(s.getPath).foreach(purge)
          else fs.delete(s.getPath, false)
        }
      fs.listStatus(target).foreach(purge)
    }
    staged.foreach { sp =>
      val p = new Path(sp)
      val visible = new Path(p.getParent,
        "part-" + p.getName.stripPrefix(".staged-"))
      if (!fs.rename(p, visible))
        throw new java.io.IOException(
          s"segment sink commit: rename $p -> $visible failed")
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = targetFs
    messages.foreach {
      case SegmentCommitMessage(staged) =>
        staged.foreach(sp => fs.delete(new Path(sp), false))
      case _ => ()
    }
  }
}

final case class SegmentWriterFactory(codec: SegmentCodec,
                                      encoder: SegmentEncoder,
                                      dir: String, queryId: String,
                                      columns: Array[String],
                                      maxFileBytes: Long,
                                      hadoopProps: org.apache.spark.broadcast.Broadcast[Seq[(String, String)]])
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new SegmentDataWriter(codec, encoder, dir, queryId, columns,
      maxFileBytes, partitionId, taskId, hadoopProps.value)
}

/** Streams each row (one segment) as the encoder's records into rolling
  * staged files. Null NSLC strings normalize to "" (the banks'
  * nullish-code convention); null times/samples are data errors; the
  * encoder fails fast on anything its format cannot round-trip.
  */
class SegmentDataWriter(codec: SegmentCodec, encoder: SegmentEncoder,
                        dir: String, queryId: String,
                        columns: Array[String], maxFileBytes: Long,
                        partitionId: Int, taskId: Long,
                        hadoopProps: Seq[(String, String)])
    extends DataWriter[InternalRow] {

  private val fs = new Path(dir).getFileSystem(SegmentSource.confOf(hadoopProps))
  private val idx = columns.zipWithIndex.toMap
  private val iNet = idx("network"); private val iSta = idx("station")
  private val iLoc = idx("location"); private val iCha = idx("channel")
  private val iT0 = idx("starttime"); private val iSp = idx("sampling_period")
  private val iSamples = idx("samples")

  private val staged = mutable.ArrayBuffer.empty[String]
  private var out: org.apache.hadoop.fs.FSDataOutputStream = _
  private var written = 0L
  private var fileSeq = 0

  private def openNext(): Unit = {
    val name =
      f".staged-$queryId-$partitionId%05d-$taskId-$fileSeq%04d.${codec.extension}"
    fileSeq += 1
    val p = new Path(dir, name)
    out = fs.create(p, false)
    staged += p.toString
    written = 0L
  }

  private def str(row: InternalRow, i: Int): String =
    if (row.isNullAt(i)) "" else row.getUTF8String(i).toString

  override def write(row: InternalRow): Unit = {
    if (row.isNullAt(iT0) || row.isNullAt(iSp) || row.isNullAt(iSamples))
      throw new IllegalArgumentException(
        s"${codec.name} write: null starttime/sampling_period/samples")
    // encode before opening: a row that fails validation leaves no
    // empty staged file, and a fresh file's records start at offset 0
    val bytes = encoder.encode(
      str(row, iNet), str(row, iSta), str(row, iLoc), str(row, iCha),
      row.getLong(iT0), row.getLong(iSp),
      row.getArray(iSamples).toDoubleArray(),
      fileOffset = if (out == null) 0L else written)
    if (out == null) openNext()
    out.write(bytes)
    written += bytes.length
    // roll AFTER a whole segment: files exceed maxFileBytes by at most
    // one segment and every file ends on a record boundary
    if (written >= maxFileBytes) { out.close(); out = null }
  }

  override def commit(): WriterCommitMessage = {
    if (out != null) { out.close(); out = null }
    SegmentCommitMessage(staged.toSeq)
  }

  override def abort(): Unit = {
    if (out != null) { try out.close() catch { case _: Exception => () }; out = null }
    staged.foreach(sp =>
      try fs.delete(new Path(sp), false) catch { case _: Exception => () })
  }

  override def close(): Unit =
    if (out != null) { out.close(); out = null }
}
