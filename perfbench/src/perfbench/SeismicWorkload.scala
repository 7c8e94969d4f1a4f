package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

import graft.bank.{EventBank, EventQuery}
import graft.core.Schemas
import graft.fetch.Fetcher
import graft.sources.QuakeMl

/** `seismic`: obsplus' three pillars on one local archive while data lands.
  *
  *   - Point reads of a miniSEED WaveBank: `getWaveforms` (one channel, a
  *     window under 2 h), `readIndex` (station glob plus window), `gaps()`.
  *     Segments are decoded from disk on every read.
  *   - An EventBank indexed from a QuakeML directory: `getEvents` with
  *     magnitude, time and radius filters. Picks come back through
  *     `QuakeMl.readTables`.
  *   - Fetches: origin or P windows for every matching event × channel,
  *     joined to the archive index (IntervalJoin / RangeJoin) and read
  *     through `getWaveformsBulk` — wide requests, where the one-row reads
  *     above leave the join and the bulk read nearly idle.
  *
  * Each round of the mix also lands one new hour (`putWaveforms` and its
  * incremental `updateIndex`) and indexes one QuakeML batch (`putEvents`
  * upsert). One client, closed loop; no lexical layer runs here.
  */
final class SeismicWorkload(spark: SparkSession, c: Client, seed: Long)
    extends Workload {
  import spark.implicits._

  private val a = new Archive(spark, c, seed, nSta = 3, hours0 = 4, nGaps = 4)
  private val nEvents = 120
  private val batchSize = 8
  private val rng = new java.util.Random(Gen.mix(seed, 3))
  private val globs = IndexedSeq("S0[0-3]", "S*1", "S0?", "S01", "S0[2468]")
  private val (lat0, lon0) = (40.0, -112.0)

  final case class Ev(id: String, time: Long, lat: Double, lon: Double,
                      depth: Double, mag: Double, updated: Long) {
    def row: QuakeMl.EventRow = QuakeMl.EventRow(id, Some(time), Some(lat),
      Some(lon), Some(depth), Some(mag), Some("ML"), creation_time = Some(updated),
      updated = Some(updated))
  }

  private val staLatLon: IndexedSeq[(Double, Double)] = a.stations.indices.map { i =>
    (lat0 - 0.6 + 0.4 * (i / 2), lon0 - 0.6 + 0.8 * (i % 2))
  }

  private def round(x: Double, places: Int): Double =
    BigDecimal(x).setScale(places, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def newEvent(id: String, tLo: Long, tHi: Long, updated: Long): Ev =
    Ev(id, tLo + (rng.nextDouble() * (tHi - tLo) / 1e6).toLong * 1000000L,
      round(lat0 + rng.nextDouble() * 2 - 1, 4),
      round(lon0 + rng.nextDouble() * 2 - 1, 4),
      round(1000 + rng.nextDouble() * 19000, 1),
      round(0.5 + rng.nextDouble() * 4, 2), updated)

  /** Initial events lie inside the archive; later batches lie past it so
    * the fetch specs, computed once in setup, stay fixed.
    */
  private val spanEnd = a.T0 + a.hours0.toLong * a.PerHour * a.P
  private val initial: IndexedSeq[Ev] = (0 until nEvents).map { i =>
    newEvent(s"ev$seed-$i", a.T0 + 300 * a.P, spanEnd - 900 * a.P, a.T0)
  }
  /** What the bank should hold: event id → newest version. */
  private val model = mutable.LinkedHashMap.empty[String, Ev]
  private val appended = mutable.ArrayBuffer.empty[String]
  private var batchNo = 0

  private var ebank: EventBank = _
  private var input: String = _
  private var root: String = _
  private var qmlBytes = 0L
  private var stations: DataFrame = _
  private var picks: DataFrame = _

  private def haversineM(la1: Double, lo1: Double, la2: Double, lo2: Double): Double = {
    val dlat = math.toRadians(la2 - la1) / 2.0
    val dlon = math.toRadians(lo2 - lo1) / 2.0
    val h = math.pow(math.sin(dlat), 2.0) +
      math.cos(math.toRadians(la1)) * math.cos(math.toRadians(la2)) *
        math.pow(math.sin(dlon), 2.0)
    2.0 * graft.functions.Geo.EarthRadiusM * math.asin(math.sqrt(h))
  }

  /** P and S picks on the Z channel of every station within 150 km. */
  private def picksOf(e: Ev): Seq[QuakeMl.PickRow] =
    a.stations.indices.flatMap { s =>
      val (la, lo) = staLatLon(s)
      val d = haversineM(e.lat, e.lon, la, lo)
      if (d > 150000) Nil
      else Seq("P" -> 6000.0, "S" -> 3500.0).map { case (ph, v) =>
        QuakeMl.PickRow(s"${e.id}/pick/${a.stations(s)}/$ph", e.id,
          Some(e.time + (d / v * 1000).toLong * 1000000L), Some(a.net),
          Some(a.stations(s)), Some(""), Some("HHZ"), Some(ph), None, None, None)
      }
    }

  /** The archive (segments only) and one QuakeML file per event, written
    * by the serializer EventBank.exportQuakeMl uses, picks embedded.
    */
  def generate(dir: String): Unit = {
    input = dir
    a.generate(s"$dir/wave")
    val qml = Paths.get(s"$dir/quakeml")
    Files.createDirectories(qml)
    qmlBytes = initial.map { e =>
      val xml = QuakeMl.toQuakeMl(e.row, picksOf(e)).getBytes(StandardCharsets.UTF_8)
      Files.write(qml.resolve(s"${e.id}.xml"), xml)
      xml.length.toLong
    }.sum
  }

  /** Cold archive index, then the event bank from the QuakeML directory. */
  def build(dir: String): Unit = {
    root = dir
    a.rebuildIndex()
    ebank = new EventBank(spark, s"$dir/events")
    ebank.indexQuakeMlDir(s"$input/quakeml")
  }

  /** One fetch: events of `q`, the `ref` windows of every channel. */
  final case class FetchSpec(q: EventQuery, ref: String, before: Long, after: Long)
  private var specs: IndexedSeq[(FetchSpec, String, String)] = IndexedSeq.empty

  private def fetchRows(f: FetchSpec): (Array[Row], Array[Row]) = {
    val fetcher = new Fetcher(spark, ebank.getEvents(f.q), stations, picks)
    val index = a.bank.readIndex().withColumn("seed_id", Schemas.seedId(
      col("network"), col("station"), col("location"), col("channel")))
    val joined = c.layer("operators.interval_join") {
      fetcher.fetchEventSegments(index, f.ref, f.before, f.after)
        .select("event_id", "seed_id", "t1", "t2", "path", "starttime", "endtime")
        .collect()
    }
    val traces = c.layer("fetch.bulk_read") {
      a.bank.getWaveformsBulk(fetcher.eventRequests(f.ref, f.before, f.after)
          .select("seed_id", "t1", "t2"))
        .select("seed_id", "starttime", "endtime", "samples").collect()
    }
    (joined, traces)
  }

  private def joinedSum(rows: Array[Row]): String = Gen.checksum(rows.map(_.toSeq.mkString("|")))
  private def tracesSum(rows: Array[Row]): String = Gen.checksum(rows.map { r =>
    val xs = r.getAs[scala.collection.Seq[Double]]("samples")
    s"${r.getString(0)}|${r.getLong(1)}|${r.getLong(2)}|${xs.size}|${xs.sum}"
  })

  /** (station, channel, starttime, endtime) of the index over the initial
    * hours: the reference the readIndex filter is checked against.
    */
  private var snapshot: Array[(String, String, Long, Long)] = Array.empty

  def prepare(): Unit = {
    snapshot = a.bank.readIndex()
      .select("station", "channel", "starttime", "endtime").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    a.samplesPerRecord = a.samplesPresent.toDouble / snapshot.length
    // the cold index must cover exactly the generated samples
    c.op("build_check")(snapshot.map(r => (r._4 - r._3) / a.P).sum) { n =>
      if (n == a.samplesPresent) None
      else Some(s"index covers $n samples, generated ${a.samplesPresent}")
    }
    model.clear(); appended.clear(); batchNo = 0
    initial.foreach(e => model(e.id) = e)
    stations = (for (s <- a.stations; ch <- a.channels)
      yield (a.net, s, "", ch, s"${a.net}.$s..$ch"))
      .toDF("network", "station", "location", "channel", "seed_id")
      .persist(StorageLevel.MEMORY_ONLY)
    picks = QuakeMl.readTables(spark, s"$input/quakeml")("picks")
      .persist(StorageLevel.MEMORY_ONLY)
    val nPicks = picks.count()
    c.op("build_check")((ebank.readIndex().count(), nPicks)) { case (n, p) =>
      val want = (initial.size.toLong, initial.map(picksOf(_).size.toLong).sum)
      if ((n, p) == want) None else Some(s"(events, picks) ($n, $p), expected $want")
    }
    // fetch specs and their expected rows, joined without the range-join
    // strategy: an independent physical plan for the same requests
    val span = spanEnd - a.T0
    specs = (0 until 2).map { i =>
      val t1 = a.T0 + (rng.nextDouble() * span * 0.6).toLong
      val q = EventQuery(minTime = Some(t1),
        maxTime = Some(t1 + (span * (0.15 + 0.2 * rng.nextDouble())).toLong),
        minMagnitude = Some(round(0.5 + rng.nextDouble() * 2, 2)))
      val spec = if (i % 2 == 0) FetchSpec(q, "origin", 10 * a.P, 60 * a.P)
        else FetchSpec(q, "p", 5 * a.P, 30 * a.P)
      spark.conf.set("spark.graft.rangeJoin.enabled", "false")
      val (j, t) = try fetchRows(spec) finally spark.conf.unset("spark.graft.rangeJoin.enabled")
      (spec, joinedSum(j), tracesSum(t))
    }
  }

  def inputChecksum: String = Gen.checksum(Seq(a.checksum) ++
    initial.map(_.toString) ++ specs.map(_._1.toString))

  private var i = 0

  def cycle: Int = 9
  def roundSeconds: Double = 10.0

  /** Set-up and the expected answers already ran the index, event and
    * fetch paths.
    */
  def warmUp(): Unit = { getWaveforms(); gaps() }

  def step(): Unit = {
    (i % 9) match {
      case 0 | 5 => getWaveforms()
      case 1 => readIndex()
      case 2 | 6 => getEvents()
      case 3 => fetch()
      case 4 => gaps()
      case 7 => putWaveforms()
      case _ => indexEvents()
    }
    i += 1
  }

  private def getWaveforms(): Unit = {
    val s = rng.nextInt(a.nSta); val ch = rng.nextInt(3)
    val dur = 600 + rng.nextInt(6599)
    val start = rng.nextInt(a.hours * a.PerHour - dur - 1)
    val t1 = a.T0 + start * a.P + rng.nextInt(1000) * 1000000L
    val t2 = t1 + dur * a.P
    val exp0 = a.expectWindow(s, ch, t1, t2)
    val exp = if (planted) { planted = false; exp0.copy(_2 = exp0._2 + 1) } else exp0
    c.op("get_waveforms") {
      a.bank.getWaveforms(a.net, a.stations(s), "", a.channels(ch), t1, t2).collect()
    }(a.checkTraces(_, s, ch, exp).left.toOption).foreach { rows =>
      c.add("sources.extra_traces", a.extraTraces(rows, s, ch).toDouble)
      a.probeSources(exp._2)
    }
  }

  private def readIndex(): Unit = {
    val glob = globs(rng.nextInt(globs.size))
    val dur = 600 + rng.nextInt(6599)
    val start = rng.nextInt(a.hours0 * a.PerHour - dur - 3)
    val t1 = a.T0 + start * a.P
    val t2 = t1 + dur * a.P
    val re = Gen.globRegex(glob)
    val buf = a.bank.bufferNs
    val exp = Gen.checksum(snapshot.filter { case (st, _, s0, e0) =>
      re.matcher(st).matches() && e0 >= t1 - buf && s0 <= t2 + buf
    }.map(_.toString))
    c.op("read_index") {
      a.bank.readIndex(network = a.net, station = glob,
        starttime = Some(t1), endtime = Some(t2))
        .select("station", "channel", "starttime", "endtime").collect()
    } { rows =>
      val got = Gen.checksum(rows.map(r =>
        (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)).toString))
      if (got == exp) None else Some(s"index rows $got, expected $exp")
    }.foreach { rows =>
      if (c.tracing) c.lastEngine.foreach { e =>
        c.add("bank.index_rows_examined",
          Plans.scanRows(e.nodes, "/index").toDouble)
        c.add("bank.index_rows_returned", rows.length.toDouble)
      }
    }
  }

  private def gaps(): Unit = {
    val exp = Gen.checksum(a.gaps.map(g =>
      (a.stations(g.sta), a.channels(g.cha), g.startNs, g.endNs).toString))
    c.op("gaps") {
      a.bank.gaps().select("station", "channel", "gap_start", "gap_end").collect()
    } { rows =>
      val got = Gen.checksum(rows.map(r =>
        (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)).toString))
      if (got == exp) None else Some(s"gap rows $got, expected $exp")
    }
  }

  private def putWaveforms(): Unit = {
    val h = a.hours
    val df = a.segmentsDf(h until h + 1)
    c.op("put_waveforms", write = true) {
      a.bank.putWaveforms(df)
      a.hours += 1
    } { _ =>
      val lo = a.T0 + h.toLong * a.PerHour * a.P
      val n = a.bank.readIndex(starttime = Some(lo + 2 * a.P),
        endtime = Some(lo + (a.PerHour - 2) * a.P))
        .select("starttime", "endtime").collect()
        .map(r => (r.getLong(1) - r.getLong(0)) / a.P).sum
      val want = a.nSta * 3L * a.PerHour
      if (n == want) None else Some(s"new hour indexes $n samples, expected $want")
    }.foreach { _ =>
      // putWaveforms is a segment write, then updateIndex: the write is
      // the queries that wrote the segments, the rest is the index update
      if (c.tracing) c.lastEngine.foreach { e =>
        val write = e.writeMs(a.bank.segmentsPath)
        c.add("bank.segment_write", write)
        c.add("bank.update_index", c.lastMs - write)
      }
    }
  }

  private def getEvents(): Unit = {
    val (q, keep): (EventQuery, Ev => Boolean) = rng.nextInt(3) match {
      case 0 =>
        val t1 = a.T0 + (rng.nextDouble() * (spanEnd - a.T0) * 0.7).toLong
        val t2 = t1 + (spanEnd - a.T0) / 4
        val m = round(1 + rng.nextDouble() * 2, 2)
        (EventQuery(minTime = Some(t1), maxTime = Some(t2), minMagnitude = Some(m)),
          e => e.time > t1 && e.time < t2 && e.mag > m)
      case 1 =>
        val (la, lo) = staLatLon(rng.nextInt(a.nSta))
        val r = 30000.0 + rng.nextInt(70000)
        val m = round(0.5 + rng.nextDouble() * 1.5, 2)
        (EventQuery(latitude = Some(la), longitude = Some(lo), maxRadiusM = Some(r),
          minMagnitude = Some(m)),
          e => e.mag > m && { val d = haversineM(e.lat, e.lon, la, lo); d > 0.0 && d < r })
      case _ =>
        val lo = round(0.5 + rng.nextDouble() * 3, 2)
        val hi = round(lo + 0.5 + rng.nextDouble(), 2)
        (EventQuery(minMagnitude = Some(lo), maxMagnitude = Some(hi)),
          e => e.mag > lo && e.mag < hi)
    }
    val exp = Gen.checksum(model.values.filter(keep).map(_.id))
    c.op("get_events") {
      ebank.getEvents(q).select("event_id").collect().map(_.getString(0))
    } { ids =>
      val got = Gen.checksum(ids)
      if (got == exp) None else Some(s"event ids $got, expected $exp")
    }.foreach { ids =>
      if (c.tracing) c.lastEngine.foreach { e =>
        c.add("bank.get_events_rows_examined",
          Plans.scanRows(e.nodes, "/event_index").toDouble)
        c.add("bank.get_events_rows_returned", ids.length.toDouble)
      }
    }
  }

  private var planted = false

  private def fetch(): Unit = {
    val (spec, expJ, expT0) = specs(rng.nextInt(specs.size))
    val expT = if (planted) { planted = false; expT0 + "x" } else expT0
    c.op("fetch")(fetchRows(spec)) { case (j, t) =>
      val (gotJ, gotT) = (joinedSum(j), tracesSum(t))
      if (gotJ != expJ) Some(s"joined rows $gotJ, expected $expJ")
      else if (gotT != expT) Some(s"traces $gotT, expected $expT")
      else None
    }.foreach { case (joined, traces) =>
      if (c.tracing) {
        val eng = c.lastEngine
        val fetcher = new Fetcher(spark, ebank.getEvents(spec.q), stations, picks)
        val nReq = c.layer("fetch.request") {
          fetcher.eventRequests(spec.ref, spec.before, spec.after).count()
        }
        c.add("fetch.requests", nReq.toDouble)
        c.add("fetch.matched",
          joined.map(r => (r.getString(0), r.getString(1))).distinct.length.toDouble)
        c.add("operators.interval_join_out_rows", joined.length.toDouble)
        eng.foreach(e => c.add("plans.fetch.range_join",
          e.nodes.count(_.nodeName.contains("RangeJoin")).toDouble))
        c.lastEngine = eng
        a.probeSources(traces.map(_.getAs[scala.collection.Seq[Double]]("samples").size.toLong).sum)
      }
    }
  }

  private def indexEvents(): Unit = {
    batchNo += 1
    val lo = spanEnd + 3600 * a.P * batchNo
    val upd = spanEnd + batchNo * a.P
    val fresh = (0 until batchSize - 2).map(k =>
      newEvent(s"ev$seed-b$batchNo-$k", lo, lo + 3000 * a.P, upd))
    // upserts: events of earlier batches again, with a newer version
    val redo = (0 until 2).flatMap { _ =>
      if (appended.isEmpty) None
      else {
        val old = model(appended(rng.nextInt(appended.size)))
        Some(old.copy(mag = round(0.5 + rng.nextDouble() * 4, 2), updated = upd))
      }
    }.distinctBy(_.id)
    val batch = fresh ++ redo
    val dir = s"$input/batches/$batchNo"
    Files.createDirectories(Paths.get(dir))
    batch.foreach { e =>
      val xml = QuakeMl.toQuakeMl(e.row).getBytes(StandardCharsets.UTF_8)
      Files.write(Paths.get(dir, s"${e.id}.xml"), xml)
      qmlBytes += xml.length
    }
    c.op("index_events", write = true)(ebank.indexQuakeMlDir(dir)) { _ =>
      batch.foreach(e => model(e.id) = e)
      appended ++= fresh.map(_.id)
      val n = ebank.readIndex().count()
      if (n == model.size) None else Some(s"index holds $n events, expected ${model.size}")
    }.foreach { _ =>
      if (c.tracing) c.lastEngine.foreach { e =>
        c.add("bank.event_rows_written_per_new", e.recordsWritten.toDouble / batch.size)
        // the queries that wrote the bank; the first also runs the lazy
        // QuakeML read of the batch
        c.add("bank.event_put", e.writeMs(root + "/events"))
        // the parser alone, on the batch just indexed
        val files = batch.map(ev => Files.readAllBytes(Paths.get(dir, s"${ev.id}.xml")))
        c.layer("sources.quakeml_parse")(files.foreach(QuakeMl.parseCatalog(_)))
      }
    }
  }

  def spaceAmp: Double =
    (Gen.diskBytes(new java.io.File(s"$input/wave")) +
      Gen.diskBytes(new java.io.File(s"$root/events"))).toDouble /
      (4.0 * a.samplesPresent + qmlBytes)

  def layerMetrics(): Map[String, Double] = a.sourcesMetrics() ++ Map(
    "sources.quakeml_parse_ms" -> c.mean("sources.quakeml_parse"),
    "bank.event_put_ms" -> c.mean("bank.event_put"),
    "bank.event_rows_written_per_new" -> c.mean("bank.event_rows_written_per_new"),
    "bank.get_events_rows_examined_per_returned" -> a.ratio(
      c.sum("bank.get_events_rows_examined"), c.sum("bank.get_events_rows_returned")),
    "operators.interval_join_ms" -> c.mean("operators.interval_join"),
    "operators.interval_join_out_rows" -> c.mean("operators.interval_join_out_rows"),
    "fetch.requests" -> c.mean("fetch.requests"),
    "fetch.request_ms" -> c.mean("fetch.request"),
    "fetch.matched_fraction" -> a.ratio(c.sum("fetch.matched"), c.sum("fetch.requests")),
    "plans.fetch.range_join" -> c.mean("plans.fetch.range_join"),
    "bank.index_rows_examined_per_returned" -> a.ratio(
      c.sum("bank.index_rows_examined"), c.sum("bank.index_rows_returned")),
    "bank.update_index_ms" -> c.mean("bank.update_index"),
    "bank.segment_write_ms" -> c.mean("bank.segment_write"),
    "bank.index_files" -> Gen.fileCount(new java.io.File(a.bank.indexPath)).toDouble)

  def plantWrong(): Unit = planted = true
}
