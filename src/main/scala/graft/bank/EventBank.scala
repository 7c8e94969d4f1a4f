package graft.bank

import org.apache.spark.sql.{DataFrame, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.expressions.IsNotNull
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
import graft.core.Schemas
import graft.functions.{Geo, TextFunctions}
import graft.operators.{MergeOps, Sketches}

/** Event-catalog query surface — the EventBank pillar (obsplus
  * `bank/eventbank.py` + `events/get_events.py`): the exact kwarg
  * semantics of `get_events` over a parquet index with
  * upsert-by-event_id writes.
  */
final case class EventQuery(
    minTime: Option[Long] = None, maxTime: Option[Long] = None,
    minLatitude: Option[Double] = None, maxLatitude: Option[Double] = None,
    minLongitude: Option[Double] = None, maxLongitude: Option[Double] = None,
    minMagnitude: Option[Double] = None, maxMagnitude: Option[Double] = None,
    minDepth: Option[Double] = None, maxDepth: Option[Double] = None,
    // circular search
    latitude: Option[Double] = None, longitude: Option[Double] = None,
    minRadiusM: Option[Double] = None, maxRadiusM: Option[Double] = None,
    eventIds: Option[Seq[String]] = None,
    updatedAfter: Option[Long] = None,
    limit: Option[Int] = None)

/** @param mergeOnRead log-structured mode: [[appendEvents]] writes each
  *   batch as new parquet files (O(batch) per upsert, no index rewrite)
  *   and [[readIndex]] resolves the newest version per event_id with
  *   one window shuffle — the merge-on-read half of a Delta-style
  *   table, with [[compact]] as the rewrite half. Default `false`
  *   keeps the copy-on-write behavior (reads stay shuffle-free).
  *   The crossover: frequent small batches into a large index want
  *   merge-on-read; read-heavy banks want copy-on-write or periodic
  *   [[compact]] calls.
  *
  *   Sidecar single-writer contract (plain, non-tx banks): the sketch
  *   sidecar marker is stamped against a listing fingerprint re-read
  *   AFTER the index write, so a plain bank assumes ONE writer at a
  *   time — a concurrent writer landing between the write and the
  *   stamp could be marked covered by a sidecar that never summarized
  *   it. `txIndex = true` banks carry no such assumption: the marker
  *   is stamped with the exact commit version the write produced, and
  *   any concurrent append leaves it stale (next read rebuilds).
  */
class EventBank(spark: SparkSession, root: String,
                mergeOnRead: Boolean = false,
                txIndex: Boolean = false) extends graft.core.EventClient {

  val indexPath = s"$root/event_index"

  /** Transactional index table (when `txIndex`): every write is an
    * atomic multi-writer commit, every read a consistent snapshot —
    * replaces the best-effort dir swap with a real commit protocol and
    * adds time travel. Orthogonal to `mergeOnRead` (storage layout vs
    * version-resolution strategy); an append-heavy producer wants both.
    */
  lazy val txTable: TxTable = new TxTable(spark, indexPath)

  private def indexExists: Boolean =
    if (txIndex) txTable.latestVersion() >= 0
    else org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
      .exists(new org.apache.hadoop.fs.Path(indexPath))

  private val indexSchema = new SchemaMemo(spark)

  /** The index as stored. A plain-parquet read infers the schema (a
    * footer-reading Spark job) once per store version and then reads
    * with `.schema(...)` ([[SchemaMemo]]): the version is
    * [[indexFingerprint]], a driver-side listing probe (name, mtime,
    * length per file), so any write that changes the index dir's files
    * — a bank write or an external one — re-infers. Tx banks read
    * through their log.
    */
  private[graft] def rawIndexDf: DataFrame =
    if (txIndex) txTable.read()
    else indexSchema.read(indexFingerprint(), indexPath)

  /** Cluster index rows by time so parquet row-group min/max stats
    * prune min/max-time queries (the most selective kwargs at archive
    * scale); one sort shuffle of whatever is being written. Sentinel-
    * stored NaT times sort to one end — they land in a single row
    * group instead of widening every group's stats.
    */
  private def clustered(df: DataFrame): DataFrame = df.sort("time")

  /** Overwrite the index dir with `df` via a two-rename swap
    * (old→trash, tmp→live): the no-index window is the instant between
    * the renames, and a crash in it leaves both dirs on disk for manual
    * recovery — a dir swap on a filesystem cannot be truly atomic; use
    * `txIndex` for commit-atomic overwrites under concurrent readers.
    * Hadoop `FileSystem.rename` reports most failures by returning
    * `false` rather than throwing, so every rename result is checked:
    * the trash copy is only deleted once tmp→live verifiably succeeded
    * — a false-returning rename can never strand the store with its
    * only surviving copy in the trash dir about to be deleted.
    */
  private def writeSwap(df: DataFrame): Unit =
    if (txIndex) { txTable.overwrite(clustered(df)); () }
    else {
      clustered(df).write.mode(SaveMode.Overwrite).parquet(s"$indexPath.tmp")
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      val live = new org.apache.hadoop.fs.Path(indexPath)
      val tmp = new org.apache.hadoop.fs.Path(s"$indexPath.tmp")
      val trash = new org.apache.hadoop.fs.Path(s"$indexPath.old")
      fs.delete(trash, true) // stale trash from an interrupted swap
      if (fs.exists(live))
        require(fs.rename(live, trash),
          s"EventBank swap: rename $live -> $trash failed; store unchanged")
      require(fs.rename(tmp, live),
        s"EventBank swap: rename $tmp -> $live failed; previous index " +
          s"preserved at $trash")
      fs.delete(trash, true)
      ()
    }

  /** Upsert events by id: newest `updated` wins (the delete-then-append
    * SQLite upsert of `eventbank.py:351-378` as read-dedup-write).
    * Copy-on-write: rewrites the index — O(index) per batch. For
    * frequent small batches use a `mergeOnRead` bank + [[appendEvents]].
    */
  def putEvents(events: DataFrame): Unit = {
    val conformed = Schemas.conformTo(events, Schemas.eventSummary)
    if (txIndex) {
      // optimistic read-merge-write: the merge is pinned to the version
      // it read; a concurrent commit in between forces a re-merge, so
      // no writer's events are ever silently folded away
      var done = false
      while (!done) {
        val cur = txTable.latestVersion()
        val all =
          if (cur >= 0) conformed.unionByName(
            Schemas.conformTo(txTable.read(Some(cur)), Schemas.eventSummary),
            allowMissingColumns = true)
          else conformed
        done = txTable.overwriteIfVersion(
          clustered(MergeOps.latestByKey(all, "event_id", Seq(col("updated")))),
          cur).isDefined
      }
    } else {
      // existence check, not a catch-all: a transient read failure must
      // propagate — swallowing it would replace the whole catalog with
      // just this batch
      val exists = indexExists
      // conform the EXISTING index too: an index persisted before a
      // schema extension is missing the newer columns, and a strict
      // unionByName would refuse to ever update it again
      val all =
        if (exists) conformed.unionByName(
          Schemas.conformTo(rawIndexDf, Schemas.eventSummary),
          allowMissingColumns = true)
        else conformed
      writeSwap(MergeOps.latestByKey(all, "event_id", Seq(col("updated"))))
    }
    // the sidecar rides the rewrite: one more pass over the catalog
    // just rewritten — same complexity class as the upsert itself
    statsRebuild()
  }

  /** Log-structured upsert: append the conformed batch as new files and
    * defer version resolution to the read path. O(batch) work — the
    * index is never rewritten. Requires a `mergeOnRead` bank (a plain
    * bank's reads would surface duplicate event_ids).
    */
  def appendEvents(events: DataFrame): Unit = {
    require(mergeOnRead,
      "appendEvents requires an EventBank(mergeOnRead = true)")
    val conformed = clustered(Schemas.conformTo(events, Schemas.eventSummary))
    if (txIndex) { txTable.append(conformed); () }
    else conformed.write.mode(SaveMode.Append).parquet(indexPath)
    // NO sidecar write, by design: an appended delta may SUPERSEDE a
    // version already summarized (upsert semantics), and sketches
    // cannot subtract — the append stales the marker (fingerprint /
    // tx version moved), and the next sketchStats read rebuilds from
    // the resolved catalog. Lag, never lie.
  }

  /** Fold the append log down to one file set (newest version per
    * event_id) — the compaction half of the log-structured mode.
    * Run when accumulated deltas make the per-read merge shuffle or
    * the file listing expensive.
    */
  def compact(): Unit = {
    // compaction changes file layout, not the RESOLVED catalog the
    // sidecar summarizes: a consistent sidecar is re-stamped against
    // the post-compaction fingerprint instead of forcing a rebuild.
    // ONE version read anchors both the validity check and the
    // covered-version compare — statsConsistent's own fresh
    // latestVersion() read would race a concurrent append landing
    // between the two reads (marker valid at v, coveredVersion read
    // as v+1, append-was-never-summarized stamped covered anyway).
    val coveredVersion = if (txIndex) txTable.latestVersion() else -1L
    val sidecarStillValid =
      if (txIndex)
        statsExists && FsUtil.readSmallFile(hadoopFs, statsMarkerPath)
          .contains(markerValueFor(coveredVersion))
      else statsConsistent
    // a concurrent append landing between the validity check and the
    // rewrite is FOLDED INTO the compacted catalog by the retry loop,
    // and re-stamping then would mark a sidecar that never summarized
    // it consistent (the marker would lie). Re-stamp only when the
    // final rewrite's base version is exactly the covered one;
    // otherwise leave the marker stale and let the next read rebuild.
    var rewroteBase = coveredVersion
    // the version the successful rewrite COMMITTED — the marker is
    // stamped against this known result, never a re-read fingerprint:
    // an append landing after the commit but before the stamp would
    // otherwise be marked covered by a sidecar that never summarized
    // it (the re-read marker would lie; stale-marker reads rebuild).
    var committedVersion = -1L
    if (txIndex) {
      // conditional rewrite: never folds away a concurrently appended
      // version (same loop shape as the tx putEvents)
      var done = false
      while (!done) {
        val cur = txTable.latestVersion()
        if (cur < 0) return // fresh bank: nothing committed to compact
        rewroteBase = cur
        txTable.overwriteIfVersion(
          MergeOps.latestByKey(txTable.read(Some(cur)), "event_id",
            Seq(col("updated"))), cur) match {
          case Some(v) => committedVersion = v; done = true
          case None => ()
        }
      }
    } else writeSwap(MergeOps.latestByKey(
      rawIndexDf, "event_id", Seq(col("updated"))))
    if (sidecarStillValid && rewroteBase == coveredVersion)
      FsUtil.atomicWriteSmall(hadoopFs,
        spark.sparkContext.hadoopConfiguration,
        statsMarkerPath,
        // tx: stamp the known rewrite result; plain banks re-read the
        // listing fingerprint (single-writer contract — see class doc)
        if (txIndex) markerValueFor(committedVersion) else statsMarkerValue)
  }

  /** Index read with NaT restore: times stored as the SMALLDT64/
    * LARGEDT64 sentinels come back as null, the reference's
    * `_ints_to_time_columns` contract (`utils/pd.py:123-149`) — without
    * it a sentinel-stored unknown time leaks raw into every query that
    * doesn't happen to filter on it. In merge-on-read mode the newest
    * version per event_id resolves first (on raw storage values, same
    * ordering putEvents uses); only the event_id predicate pushes below
    * that merge, matching upsert semantics — later filters see one
    * resolved row per event.
    */
  def readIndex(): DataFrame = {
    val raw0 = rawIndexDf
    val raw =
      if (mergeOnRead)
        MergeOps.latestByKey(raw0, "event_id", Seq(col("updated")))
      else raw0
    Seq("time", "updated", "creation_time").filter(raw.columns.contains)
      .foldLeft(raw)((df, c) =>
        df.withColumn(c, Schemas.timeFromStorage(col(c))))
  }

  /** get_events filter surface: min/max prefixes are STRICT compares
    * (`utils/bank.py:371-374`); dateline-crossing longitude boxes
    * rewrite to OR; circular search = 1.2× bbox coarse + exact refine;
    * ids → IN; updatedafter; limit.
    */
  def getEvents(q: EventQuery): DataFrame = {
    var df = readIndex()
    def strict(c: String, lo: Option[Double], hi: Option[Double]): Unit = {
      lo.foreach(v => df = df.filter(col(c) > v))
      hi.foreach(v => df = df.filter(col(c) < v))
    }
    q.minTime.foreach(v => df = df.filter(col("time") > v))
    // maxTime-only queries must not match NaT rows stored as the
    // SMALLDT64 sentinel (they'd sort before every real time) — the
    // reference auto-adds `mintime > SMALLDT64 + 1` (`_handle_nat`,
    // utils/bank.py:343-347); null-stored times drop via 3VL anyway
    q.maxTime.foreach(v => df = df.filter(col("time") < v &&
      col("time") > Schemas.SmallDt64 + 1))
    strict("latitude", q.minLatitude, q.maxLatitude)
    strict("magnitude", q.minMagnitude, q.maxMagnitude)
    strict("depth", q.minDepth, q.maxDepth)
    (q.minLongitude, q.maxLongitude) match {
      case (Some(lo), Some(hi)) =>
        val wlo = Geo.wrapLonScalar(lo); val whi = Geo.wrapLonScalar(hi)
        df =
          if (wlo > whi) df.filter(col("longitude") > wlo || col("longitude") < whi)
          else df.filter(col("longitude") > wlo && col("longitude") < whi)
      case (Some(lo), None) => df = df.filter(col("longitude") > Geo.wrapLonScalar(lo))
      case (None, Some(hi)) => df = df.filter(col("longitude") < Geo.wrapLonScalar(hi))
      case _ =>
    }
    (q.latitude, q.longitude) match {
      case (Some(lat0), Some(lon0)) =>
        df = Geo.radiusSearch(df, "latitude", "longitude", lat0, lon0,
          q.minRadiusM.getOrElse(0.0), q.maxRadiusM.getOrElse(2.0015e7))
      case _ =>
    }
    q.eventIds.foreach(ids => df = df.filter(col("event_id").isin(ids: _*)))
    q.updatedAfter.foreach(v => df = df.filter(col("updated") > v))
    q.limit.foreach(n => df = df.limit(n))
    df
  }

  def idsInBank(): DataFrame = readIndex().select("event_id").distinct()

  // ------------------------------------------------------------------
  // Persisted sketch sidecar (round 11): the q136 WaveBank contract
  // applied to the CATALOG — per-day sketch partials (event counts,
  // KMV + frequent-items over authors, a quantile summary of
  // milli-magnitudes) so "events per day / distinct sources / p50
  // magnitude last month" answers from kilobytes with no catalog scan,
  // and so downstream planners can estimate request-side cardinality
  // (Fetcher's broadcast-vs-shuffled choice) without running a job
  // over the store. One difference from the WaveBank: the event index
  // is UPSERTED, not append-only — putEvents rewrites the resolved
  // catalog, so the sidecar is REBUILT from the post-write index
  // (same complexity class as the rewrite it rides on) rather than
  // appended per batch; merge-on-read appendEvents leaves the marker
  // stale by design (appended versions cannot be summarized without
  // resolving), and the next read rebuilds — lag, never lie.
  // ------------------------------------------------------------------

  /** Sketch parameters of the sidecar (fixed per store). */
  val statsAuthorK: Int = 64
  val statsMagC: Int = 512
  private val DayNs = 86_400_000_000_000L

  private[graft] def statsSketchPath: String = s"$root/event_stats_sketch"

  private def hadoopFs: org.apache.hadoop.fs.FileSystem =
    org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)

  private def statsExists: Boolean =
    hadoopFs.exists(new org.apache.hadoop.fs.Path(statsSketchPath))

  private val StatsFormatVersion = 1

  private def statsMarkerPath =
    new org.apache.hadoop.fs.Path(s"$statsSketchPath/_graft_stamp")

  /** Store-version probe for the marker: tx commit version, else a
    * listing fingerprint of the index dir (name, mtime, length per
    * file — every putEvents swap rewrites file names, every append
    * adds files, so any write changes it). Driver-side metadata only.
    */
  private[graft] def indexFingerprint(): Long =
    if (txIndex) txTable.latestVersion()
    else if (!indexExists) -1L
    else hadoopFs.listStatus(new org.apache.hadoop.fs.Path(indexPath))
      .sortBy(_.getPath.getName)
      .foldLeft(17L) { (h, st) =>
        ((h * 31 + st.getPath.getName.hashCode) * 31 +
          st.getModificationTime) * 31 + st.getLen
      }

  private def markerValueFor(fingerprint: Long): String =
    s"$StatsFormatVersion $fingerprint"

  private def statsMarkerValue: String =
    markerValueFor(indexFingerprint())

  private def statsConsistent: Boolean =
    statsExists && FsUtil.readSmallFile(hadoopFs, statsMarkerPath)
      .contains(statsMarkerValue)


  /** One sketch-partial row per day: event count, KMV + top-k of
    * authors (null author reads as "" — one deterministic source),
    * quantile summary of round(magnitude·1000) over events that HAVE a
    * magnitude (the FILTER clause keeps nulls out of the sketch — a
    * typed Long aggregate would silently decode them as 0). Pure
    * function of the resolved catalog's value set.
    */
  private def statsPartials(resolved: DataFrame): DataFrame = {
    // quantile_sketch512(mag_milli) FILTER (WHERE mag_milli IS NOT NULL)
    val magSketch = udaf(new Sketches.QuantileAgg(statsMagC), Encoders.scalaLong)
      .withName(s"quantile_sketch$statsMagC")
    val magSk = expression(magSketch(col("mag_milli"))) match {
      case a: AggregateExpression =>
        a.copy(filter = Some(IsNotNull(expression(col("mag_milli")))))
    }
    resolved.select(
        floor(coalesce(col("time"), lit(Schemas.SmallDt64)) / lit(DayNs))
          .cast("long").as("day"),
        coalesce(col("author"), lit("")).as("author"),
        round(col("magnitude") * 1000).cast("long").as("mag_milli"))
      .groupBy("day")
      .agg(count(lit(1)).as("n_events"),
        Sketches.kmvSketch(TextFunctions.md5Long60(col("author")), statsAuthorK)
          .as("author_sk"),
        column(magSk).as("mag_sk"),
        Sketches.freqSketch(col("author"), statsAuthorK)
          .as("author_top"))
  }

  /** Replace the sidecar from the current resolved catalog, then stamp
    * the marker — the upsert-store analog of the WaveBank's
    * append-partials path. A crash between the index write and this
    * leaves the marker stale; the next read or write rebuilds.
    * Tx banks pin BOTH the summarized snapshot and the stamp to one
    * version read up front: a concurrent append leaves the marker
    * stale instead of being falsely marked covered. Plain banks re-read
    * the listing fingerprint (single-writer contract — class doc).
    */
  private def statsRebuild(): Unit = {
    val pinned = if (txIndex) txTable.latestVersion() else -1L
    val raw =
      if (txIndex) {
        if (pinned < 0) return // fresh tx bank: nothing to summarize
        txTable.read(Some(pinned))
      } else rawIndexDf
    val resolved =
      if (mergeOnRead) MergeOps.latestByKey(raw, "event_id", Seq(col("updated")))
      else raw
    statsPartials(resolved)
      .withColumn("src_tag",
        lit(s"rebuild-${if (txIndex) pinned else indexFingerprint()}"))
      .write.mode(SaveMode.Overwrite).parquet(statsSketchPath)
    FsUtil.atomicWriteSmall(hadoopFs,
      spark.sparkContext.hadoopConfiguration,
      statsMarkerPath,
      if (txIndex) markerValueFor(pinned) else statsMarkerValue)
  }

  private def statsRollup(partials: DataFrame): DataFrame = {
    import graft.operators.Sketches
    partials
      .dropDuplicates("day", "src_tag")
      .groupBy("day")
      .agg(sum(col("n_events")).as("n_events"),
        Sketches.kmvMerge(col("author_sk"), statsAuthorK).as("author_sk"),
        Sketches.quantileMerge(col("mag_sk"), statsMagC).as("mag_sk"),
        Sketches.freqMerge(col("author_top"), statsAuthorK).as("author_top"))
  }

  /** Day-granular catalog sketch stats from the sidecar — kilobytes,
    * no catalog scan on the consistent path. Same single-writer
    * contract as [[WaveBank.sketchStats]]: the stale-marker rebuild
    * runs on the read path.
    */
  def sketchStats(startDay: Option[Long] = None,
                  endDay: Option[Long] = None): DataFrame = {
    // no index = no catalog, whatever the sidecar dir holds: a fresh
    // bank answers empty instead of throwing, and a root whose index
    // was deleted externally must not serve the dead catalog's
    // leftover partials as live stats (estimatedEventCount would feed
    // phantom cardinality into the fetch planner)
    if (!indexExists) {
      val empty = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        Schemas.eventSummary)
      return statsRollup(
        statsPartials(empty).withColumn("src_tag", lit("")))
    }
    if (!statsConsistent && indexExists) statsRebuild()
    val partials = Seq(
        startDay.map(col("day") >= _), endDay.map(col("day") <= _))
      .flatten
      .foldLeft(spark.read.parquet(statsSketchPath))(_.filter(_))
    statsRollup(partials)
  }

  /** Sketch-estimated event count over [t1Ns, t2Ns] — the planner
    * probe behind [[graft.fetch.Fetcher]]'s broadcast-vs-shuffled
    * request choice: a kilobyte sidecar read, never a catalog scan
    * (when the marker is consistent). Day-granular, so an UPPER bound:
    * partial first/last days count whole. NaT-sentinel-dated events
    * live on the sentinel's day and don't inflate real windows.
    */
  def estimatedEventCount(t1Ns: Long, t2Ns: Long): Long = {
    val r = sketchStats(
        Some(Math.floorDiv(t1Ns, DayNs)), Some(Math.floorDiv(t2Ns, DayNs)))
      .agg(sum(col("n_events"))).head()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  /** Index a directory of QuakeML files into the bank — the reference's
    * `EventBank.update_index` over its file archive
    * (`eventbank.py:267-327`): distributed parse (malformed files warn
    * and skip) then upsert by event_id.
    */
  def indexQuakeMlDir(dir: String, glob: String = "*.xml"): Unit =
    putEvents(graft.sources.QuakeMl.readEvents(spark, dir, glob)
      .withColumn("path", coalesce(col("path"), lit(""))))

  /** Export each event to one QuakeML file under `dir` — the write half
    * of `put_events` (`eventbank.py:440-528`), path = sanitized
    * event_id. Runs distributed via foreachPartition; picks and
    * arrivals for each event are embedded when given. Arrivals matter
    * for fidelity: the derived p/s_phase_count and station_count
    * columns are recomputed from `<arrival>` elements on reindex, so
    * an export without them zeroes those columns on the way back in.
    */
  def exportQuakeMl(dir: String, picks: Option[DataFrame] = None,
                    arrivals: Option[DataFrame] = None): Unit = {
    import graft.sources.QuakeMl
    import spark.implicits._
    // conform first: an index written before a schema extension still
    // exports (missing columns read as null); as[EventRow] resolves by
    // name and ignores extras
    val evs = Schemas.conformTo(readIndex(), Schemas.eventSummary)
      .as[QuakeMl.EventRow]
    val withPicks = picks match {
      case Some(p) =>
        val pk = p.select("resource_id", "event_id", "time", "network", "station",
          "location", "channel", "phase_hint", "onset", "polarity", "evaluation_status")
          .as[(String, String, Option[Long], Option[String], Option[String],
               Option[String], Option[String], Option[String], Option[String],
               Option[String], Option[String])]
          .map { case (rid, eid, t, n, s, l, c, ph, on, po, es) =>
            QuakeMl.PickRow(rid, eid, t, n, s, l, c, ph, on, po, es) }
        evs.groupByKey(_.event_id).cogroup(pk.groupByKey(_.event_id)) {
          (_, es, ps) => val pl = ps.toSeq; es.map(e => (e, pl))
        }
      case None => evs.map(e => (e, Seq.empty[QuakeMl.PickRow]))
    }
    val joined = arrivals match {
      case Some(a) =>
        val ar = a.select("resource_id", "event_id", "origin_id", "pick_id",
          "phase", "azimuth", "distance", "time_residual", "time_weight")
          .as[(String, String, String, Option[String], Option[String],
               Option[Double], Option[Double], Option[Double], Option[Double])]
          .map { case (rid, eid, oid, pid, ph, az, di, tr, tw) =>
            QuakeMl.ArrivalRow(rid, eid, oid, pid, ph, az, di, tr, tw) }
        withPicks.groupByKey(_._1.event_id).cogroup(ar.groupByKey(_.event_id)) {
          (_, eps, ars) =>
            val al = ars.toSeq
            eps.map { case (e, ps) => (e, ps, al) }
        }
      case None => withPicks.map { case (e, ps) =>
        (e, ps, Seq.empty[QuakeMl.ArrivalRow]) }
    }
    val dirPath = dir
    // ship the session's hadoop settings (fs credentials/endpoints set
    // via spark.hadoop.*) — a bare `new Configuration()` on the
    // executor only sees core-default.xml and breaks non-local
    // filesystems. Configuration isn't Serializable, so ship the
    // key-value pairs.
    val hadoopProps: Seq[(String, String)] = {
      val it = spark.sparkContext.hadoopConfiguration.iterator()
      val buf = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      while (it.hasNext) { val e = it.next(); buf += e.getKey -> e.getValue }
      buf.toSeq
    }
    joined.foreachPartition {
      it: Iterator[(QuakeMl.EventRow, Seq[QuakeMl.PickRow], Seq[QuakeMl.ArrivalRow])] =>
      val conf = new org.apache.hadoop.conf.Configuration()
      hadoopProps.foreach { case (k, v) => conf.set(k, v) }
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(dirPath), conf)
      it.foreach { case (e, pk, ar) =>
        val safe = e.event_id.replaceAll("[^A-Za-z0-9._-]", "_")
        val out = fs.create(
          new org.apache.hadoop.fs.Path(s"$dirPath/$safe.xml"), true)
        try out.write(QuakeMl.toQuakeMl(e, pk, ar).getBytes("UTF-8"))
        finally out.close()
      }
    }
  }
}
