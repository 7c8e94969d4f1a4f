package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.SparkSession

import java.nio.{ByteBuffer, ByteOrder}
import java.util.{Map => JMap}
import scala.collection.JavaConverters._
import scala.collection.mutable

/** DataSource V2 for the GSG binary segment format — the "proper
  * FileFormat" from docs/NEXT.md, replacing the binaryFile +
  * mapPartitions path for archives whose files outgrow a task:
  *
  *   - **Split planning at record boundaries**: records are
  *     self-describing (the header's sample count chains to the next
  *     record), so planning header-hops each oversized file — reading
  *     ~56 bytes per record, never payload — and cuts splits of
  *     ~`spark.sql.files.maxPartitionBytes`; a 10 GB multi-trace file
  *     becomes dozens of parallel tasks instead of one 10 GB task (and
  *     no 2 GB binaryFile cap).
  *   - **File coalescing**: small files bin-pack into shared partitions
  *     (Spark's own file-source behavior), so a 4000-file archive
  *     doesn't schedule 4000 tasks.
  *   - **Column pruning inside the reader**: when `samples` isn't
  *     projected (index builds, availability queries), the reader seeks
  *     header-to-header and payload bytes are never read — the
  *     obsplus "fast summarize" (`utils/mseed.py:70-112`) becomes the
  *     planner-chosen path, not a separate API.
  *   - **Filter pushdown to the header**: NSLC equality and starttime
  *     bounds are evaluated on the 56-byte header before any payload
  *     decode; pushed filters re-check post-scan (exactly parquet's
  *     contract), so semantics never depend on the pushdown.
  *
  * Usage: `spark.read.format("gsg").load(dir)` (registered via
  * DataSourceRegister) or `.format(classOf[GsgDataSource].getName)`.
  *
  * The WRITE side (`df.write.format("gsg").mode("append").save(dir)`)
  * is the `put_waveforms` interop path (obsplus `wavebank.py:708-754`:
  * writes real miniSEED so external tools can read the archive back):
  * tasks stream records into HIDDEN staged files and the driver commit
  * renames them visible — readers never observe a partial write, and
  * an aborted job leaves no visible data. `mode("overwrite")` truncates
  * (delete-then-publish inside the same commit). Records concatenate
  * with the exact framing the reader split-plans, and a file rolls
  * once it exceeds `maxFileBytes` (default 128 MiB) — so a large write
  * produces the oversized multi-record files the reader was built for.
  */
class GsgDataSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {

  override def shortName(): String = "gsg"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GsgDataSource.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table = {
    // writes pass the frame's schema, reads a projection of the full
    // one: any subset of the known columns (ignoring nullability) is
    // legal here; the writer additionally requires its 7 core fields
    GsgDataSource.validateSubsetSchema(schema)
    new GsgTable(schema, properties.asScala.toMap)
  }

  // lets DataFrameWriter hand the frame's schema to getTable (writes
  // carry no n_samples/path — those columns are reader-derived)
  override def supportsExternalMetadata(): Boolean = true
}

object GsgDataSource {
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

  val HeaderLen: Int = BinarySegmentSource.HeaderLen

  /** One contiguous run of whole records inside a file. */
  final case class FileSlice(path: String, start: Long, end: Long)

  final case class Header(network: String, station: String, location: String,
                          channel: String, starttime: Long,
                          samplingPeriod: Long, n: Int)

  /** Largest representable sample count: the payload byte array
    * (8 bytes/sample) plus header must fit in a JVM array (Int index).
    * Beyond it `(8L*n).toInt` would wrap negative and the reader would
    * die in NegativeArraySizeException instead of skipping cleanly.
    */
  val MaxSamples: Int = (Int.MaxValue - HeaderLen) / 8

  /** The single header parser (BinarySegmentSource delegates here).
    * Magic AND sample-count validation: a corrupt block whose bytes
    * happen to spell the magic but carry a negative count must parse as
    * corrupt, or the record-chain hop (`pos + 56 + 8n`) would stop
    * advancing — a planner hang, not a skipped file. A count above
    * [[MaxSamples]] (payload > 2 GB) is equally treated as corrupt —
    * no real segment is that large and the slice/array math can't
    * represent it.
    */
  def parseHeader(buf: Array[Byte]): Option[Header] = {
    if (buf.length < HeaderLen) return None
    val bb = ByteBuffer.wrap(buf).order(ByteOrder.BIG_ENDIAN)
    val magic = new Array[Byte](4); bb.get(magic)
    if (new String(magic, "ASCII") != BinarySegmentSource.Magic) return None
    def str8(): String = {
      val a = new Array[Byte](8); bb.get(a); new String(a, "ASCII").trim
    }
    val h = Header(str8(), str8(), str8(), str8(),
      bb.getLong(), bb.getLong(), bb.getInt())
    if (h.n < 0 || h.n > MaxSamples) None else Some(h)
  }

  /** Columns the writer needs from the incoming frame; n_samples and
    * path are reader-derived and ignored on write if present.
    */
  val WriteFields: Seq[String] = Seq("network", "station", "location",
    "channel", "starttime", "sampling_period", "samples")

  /** Every field must be a known column with its exact type
    * (nullability ignored — parquet round trips widen containsNull).
    */
  def validateSubsetSchema(schema: StructType): Unit = {
    val known = Schema.fields.map(f => f.name -> f.dataType).toMap
    def same(a: DataType, b: DataType): Boolean = (a, b) match {
      case (ArrayType(ea, _), ArrayType(eb, _)) => same(ea, eb)
      case _ => a == b
    }
    schema.fields.foreach { f =>
      known.get(f.name) match {
        case Some(dt) if same(dt, f.dataType) => ()
        case Some(dt) => throw new IllegalArgumentException(
          s"gsg: column '${f.name}' must be ${dt.simpleString}, " +
            s"got ${f.dataType.simpleString}")
        case None => throw new IllegalArgumentException(
          s"gsg: unknown column '${f.name}' (known: " +
            s"${Schema.fieldNames.mkString(", ")})")
      }
    }
  }

  /** Hadoop's hidden-path convention: staged writes and metadata files
    * are invisible to the scan.
    */
  def isHidden(p: Path): Boolean = {
    val n = p.getName
    n.startsWith("_") || n.startsWith(".")
  }
}

class GsgTable(tableSchema: StructType, properties: Map[String, String])
    extends Table with SupportsRead with SupportsWrite {
  override def name(): String = s"gsg(${properties.getOrElse("path", "?")})"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GsgScanBuilder(tableSchema, options.asScala.toMap ++ properties)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val missing = GsgDataSource.WriteFields
      .filterNot(info.schema().fieldNames.contains)
    if (missing.nonEmpty) throw new IllegalArgumentException(
      s"gsg write requires columns [${missing.mkString(", ")}] " +
        s"(got: ${info.schema().fieldNames.mkString(", ")})")
    val path = Option(info.options.get("path"))
      .orElse(properties.get("path"))
      .getOrElse(throw new IllegalArgumentException(
        "gsg sink requires a path"))
    val maxFileBytes = Option(info.options.get("maxFileBytes"))
      .map(_.toLong).getOrElse(128L * 1024 * 1024)
    new GsgWriteBuilder(path, info.queryId(), info.schema(), maxFileBytes)
  }
}

class GsgScanBuilder(tableSchema: StructType, options: Map[String, String])
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
      GsgHeaderFilter.supported(f) || SegmentSourceShared.isPathFilter(f))
    filters
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan =
    new GsgScan(options.getOrElse("path",
      throw new IllegalArgumentException("gsg source requires a path")),
      requiredSchema, pushed,
      // mirrors the Spark file sources' modifiedAfter option, in plain
      // epoch millis: incremental index builds list only fresh files
      options.get("modifiedafterms").map(_.toLong))
}

/** Compiled header predicate (conjunction of pushed filters). */
object GsgHeaderFilter {
  import GsgDataSource.Header

  def supported(f: Filter): Boolean = f match {
    case sources.EqualTo(a, _: String) =>
      Set("network", "station", "location", "channel")(a)
    case sources.GreaterThan("starttime", _: Long) => true
    case sources.GreaterThanOrEqual("starttime", _: Long) => true
    case sources.LessThan("starttime", _: Long) => true
    case sources.LessThanOrEqual("starttime", _: Long) => true
    case sources.In(a, vs) =>
      Set("network", "station", "location", "channel")(a) &&
        vs.forall(_.isInstanceOf[String])
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
      case sources.EqualTo(a, v: String)
          if Set("network", "station", "location", "channel")(a) =>
        (h: Header) => strField(h, a) == v
      case sources.GreaterThan("starttime", v: Long) =>
        (h: Header) => h.starttime > v
      case sources.GreaterThanOrEqual("starttime", v: Long) =>
        (h: Header) => h.starttime >= v
      case sources.LessThan("starttime", v: Long) =>
        (h: Header) => h.starttime < v
      case sources.LessThanOrEqual("starttime", v: Long) =>
        (h: Header) => h.starttime <= v
      case sources.In(a, vs)
          if Set("network", "station", "location", "channel")(a) =>
        val set = vs.collect { case s: String => s }.toSet
        (h: Header) => set(strField(h, a))
    }
    h => preds.forall(_(h))
  }
}

class GsgScan(dir: String, requiredSchema: StructType, pushed: Array[Filter],
              modifiedAfterMs: Option[Long] = None)
    extends Scan with Batch with SupportsReportStatistics {
  import GsgDataSource._

  override def readSchema(): StructType = requiredSchema
  override def toBatch: Batch = this
  override def description(): String =
    s"GsgScan path=$dir, ReadSchema: ${requiredSchema.simpleString}, " +
      s"PushedFilters: [${headerFilters.mkString(", ")}]" +
      paths.fold("")(ps => s", PathFilter: ${ps.size} paths") +
      modifiedAfterMs.fold("")(t => s", ModifiedAfterMs: $t")

  // `path` filters prune the listing; only header filters reach tasks
  private val (paths, headerFilters) =
    SegmentSourceShared.splitPathFilters(pushed)

  private lazy val files: Seq[FileStatus] =
    SegmentSourceShared.listFiles(dir, HeaderLen, modifiedAfterMs, paths)

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(files.map(_.getLen).sum)
    override def numRows(): java.util.OptionalLong =
      java.util.OptionalLong.empty()
  }

  /** Split planning: oversized files are cut at record boundaries found
    * by header-hopping (reads HeaderLen bytes per record, seeks past
    * payloads); then all slices greedily bin-pack to ~maxPartitionBytes
    * (small-file coalescing). Runs on the driver, like every file
    * source's listing/planning step — the hop cost is per RECORD, so it
    * is the obsplus index scan's cost, not the data size's.
    */
  override def planInputPartitions(): Array[InputPartition] = {
    val sess = SparkSession.active
    val maxSplit = sess.sessionState.conf.filesMaxPartitionBytes
    val conf = sess.sparkContext.hadoopConfiguration

    def hopFile(f: FileStatus): Seq[FileSlice] = {
      val out = mutable.ArrayBuffer.empty[FileSlice]
      val fs = f.getPath.getFileSystem(conf)
      val in = fs.open(f.getPath)
      try {
        val hdr = new Array[Byte](HeaderLen)
        var pos = 0L
        var sliceStart = 0L
        while (pos + HeaderLen <= f.getLen) {
          in.readFully(pos, hdr, 0, HeaderLen)
          parseHeader(hdr) match {
            case Some(h) =>
              val next = pos + HeaderLen + 8L * h.n
              if (next - sliceStart >= maxSplit) {
                out += FileSlice(f.getPath.toString, sliceStart, next)
                sliceStart = next
              }
              pos = next
            case None => pos = f.getLen // corrupt tail: stop hopping
          }
        }
        if (sliceStart < f.getLen)
          out += FileSlice(f.getPath.toString, sliceStart, f.getLen)
      } finally in.close()
      out.toSeq
    }

    // Oversized files header-hop in parallel (seek-heavy, driver-side —
    // like file-source listing); small files need no IO at all. Results
    // keep file order so partition layout stays deterministic.
    val big = files.filter(_.getLen > maxSplit)
    val hopped: Map[String, Seq[FileSlice]] =
      if (big.isEmpty) Map.empty
      else if (big.size == 1) Map(big.head.getPath.toString -> hopFile(big.head))
      else {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(8, big.size))
        try {
          val futures = big.map { f =>
            pool.submit(new java.util.concurrent.Callable[(String, Seq[FileSlice])] {
              override def call(): (String, Seq[FileSlice]) =
                f.getPath.toString -> hopFile(f)
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

    val slices = mutable.ArrayBuffer.empty[FileSlice]
    files.foreach { f =>
      if (f.getLen <= maxSplit)
        slices += FileSlice(f.getPath.toString, 0L, f.getLen)
      else slices ++= hopped(f.getPath.toString)
    }

    // greedy bin-packing, largest first (Spark's file coalescing shape)
    SegmentSourceShared.binPack(slices.toSeq, maxSplit)
      .map(b => GsgInputPartition(b.toArray): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    // ship the session's hadoop conf ONCE via broadcast, not per task
    // (Configuration is not serializable; the pairs are)
    GsgReaderFactory(requiredSchema.fieldNames, headerFilters,
      SegmentSourceShared.broadcastConf())
}

final case class GsgInputPartition(slices: Array[GsgDataSource.FileSlice])
    extends InputPartition

final case class GsgReaderFactory(columns: Array[String],
                                  pushed: Array[Filter],
                                  hadoopProps: org.apache.spark.broadcast.Broadcast[Seq[(String, String)]])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new GsgPartitionReader(
      partition.asInstanceOf[GsgInputPartition].slices, columns, pushed,
      hadoopProps.value)
}

/** Streams records of the assigned slices. Payload bytes are read only
  * when `samples` is projected AND the header passes the pushed
  * filters; otherwise the reader seeks straight to the next header.
  */
class GsgPartitionReader(slices: Array[GsgDataSource.FileSlice],
                         columns: Array[String],
                         pushed: Array[Filter],
                         hadoopProps: Seq[(String, String)])
    extends PartitionReader[InternalRow] {
  import GsgDataSource._

  private val needSamples = columns.contains("samples")
  private val headerPred = GsgHeaderFilter.compile(pushed)
  private val conf = {
    val c = new org.apache.hadoop.conf.Configuration()
    hadoopProps.foreach { case (k, v) => c.set(k, v) }
    c
  }

  private var sliceIdx = 0
  private var in: org.apache.hadoop.fs.FSDataInputStream = _
  private var pos = 0L
  private var end = 0L
  private var currentPath: String = _
  private var row: InternalRow = _
  private val hdrBuf = new Array[Byte](HeaderLen)

  private def openSlice(): Boolean = {
    if (in != null) { in.close(); in = null }
    if (sliceIdx >= slices.length) return false
    val s = slices(sliceIdx); sliceIdx += 1
    val p = new Path(s.path)
    in = p.getFileSystem(conf).open(p)
    pos = s.start; end = s.end; currentPath = s.path
    true
  }

  private def buildRow(h: Header, samples: Array[Double]): InternalRow = {
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
      if (in == null || pos + HeaderLen > end) {
        if (!openSlice()) return false
      } else {
        in.readFully(pos, hdrBuf, 0, HeaderLen)
        parseHeader(hdrBuf) match {
          case None =>
            // corrupt record: permissive per-file skip of the rest
            System.err.println(s"[graft] gsg: bad record at $currentPath:$pos")
            pos = end
          case Some(h) =>
            val payload = 8L * h.n
            val recEnd = pos + HeaderLen + payload
            // slices are cut at record ends, so a record crossing `end`
            // can only mean a truncated/corrupt file: skip the tail
            if (recEnd > end) {
              pos = end
            } else if (headerPred(h)) {
              val samples =
                if (needSamples) {
                  val b = new Array[Byte](payload.toInt)
                  in.readFully(pos + HeaderLen, b, 0, payload.toInt)
                  val bb = ByteBuffer.wrap(b).order(ByteOrder.BIG_ENDIAN)
                  val xs = new Array[Double](h.n)
                  var i = 0
                  while (i < h.n) { xs(i) = bb.getDouble(); i += 1 }
                  xs
                } else null
              row = buildRow(h, samples)
              pos = recEnd
              return true
            } else pos = recEnd // filtered: seek past, payload unread
        }
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
  * log commit IS all-or-nothing — the banks' segmentFormat="gsg" path
  * pairs this sink with the tx-logged index for exactly that reason.
  */
class GsgWriteBuilder(dir: String, queryId: String, writeSchema: StructType,
                      maxFileBytes: Long)
    extends WriteBuilder with SupportsTruncate {
  private var truncateFirst = false

  override def truncate(): WriteBuilder = { truncateFirst = true; this }

  override def build(): Write = new Write {
    override def description(): String =
      s"GsgWrite path=$dir, truncate=$truncateFirst"
    override def toBatch: BatchWrite =
      new GsgBatchWrite(dir, queryId, writeSchema, maxFileBytes,
        truncateFirst)
  }
}

final case class GsgCommitMessage(stagedPaths: Seq[String])
    extends WriterCommitMessage

class GsgBatchWrite(dir: String, queryId: String, writeSchema: StructType,
                    maxFileBytes: Long, truncateFirst: Boolean)
    extends BatchWrite {

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    // ensure the target exists before tasks open streams into it
    val c = SparkSession.active.sparkContext.hadoopConfiguration
    val p = new Path(dir)
    p.getFileSystem(c).mkdirs(p)
    GsgWriterFactory(dir, queryId, writeSchema.fieldNames, maxFileBytes,
      SegmentSourceShared.broadcastConf())
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

final case class GsgWriterFactory(dir: String, queryId: String,
                                  columns: Array[String], maxFileBytes: Long,
                                  hadoopProps: org.apache.spark.broadcast.Broadcast[Seq[(String, String)]])
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new GsgDataWriter(dir, queryId, columns, maxFileBytes, partitionId,
      taskId, hadoopProps.value)
}

/** Streams rows as framed records into rolling staged files. Fails
  * fast on codes that would not round-trip (over 8 ASCII chars) — an
  * archive whose reads differ from its writes is worse than a thrown
  * write. Null NSLC strings normalize to "" (the banks' nullish-code
  * convention); null times/samples are data errors.
  */
class GsgDataWriter(dir: String, queryId: String, columns: Array[String],
                    maxFileBytes: Long, partitionId: Int, taskId: Long,
                    hadoopProps: Seq[(String, String)])
    extends DataWriter[InternalRow] {
  import BinarySegmentSource.{Magic, HeaderLen}

  private val conf = {
    val c = new org.apache.hadoop.conf.Configuration()
    hadoopProps.foreach { case (k, v) => c.set(k, v) }
    c
  }
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

  private def openNext(): Unit = {
    val name = f".staged-$queryId-$partitionId%05d-$taskId-$fileSeq%04d.gsg"
    fileSeq += 1
    val p = new Path(dir, name)
    out = fs.create(p, false)
    staged += p.toString
    written = 0L
  }

  private def code(row: InternalRow, i: Int, col: String): String = {
    val s = if (row.isNullAt(i)) "" else row.getUTF8String(i).toString
    if (s.length > 8 || !s.forall(c => c >= ' ' && c < 127))
      throw new IllegalArgumentException(
        s"gsg write: $col '$s' is not storable (max 8 ASCII chars)")
    s
  }

  override def write(row: InternalRow): Unit = {
    val net = code(row, iNet, "network"); val sta = code(row, iSta, "station")
    val loc = code(row, iLoc, "location"); val cha = code(row, iCha, "channel")
    if (row.isNullAt(iT0) || row.isNullAt(iSp) || row.isNullAt(iSamples))
      throw new IllegalArgumentException(
        "gsg write: null starttime/sampling_period/samples")
    val samples = row.getArray(iSamples).toDoubleArray()
    val buf = ByteBuffer.allocate(HeaderLen + 8 * samples.length)
      .order(ByteOrder.BIG_ENDIAN)
    buf.put(Magic.getBytes("ASCII"))
    Seq(net, sta, loc, cha)
      .foreach(s => buf.put(s.padTo(8, ' ').getBytes("ASCII")))
    buf.putLong(row.getLong(iT0)).putLong(row.getLong(iSp))
    buf.putInt(samples.length)
    samples.foreach(buf.putDouble)
    if (out == null) openNext()
    out.write(buf.array())
    written += buf.capacity()
    // roll AFTER a whole record: files exceed maxFileBytes by at most
    // one record and every file ends on a record boundary
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
