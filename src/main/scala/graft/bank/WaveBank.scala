package graft.bank

import org.apache.spark.sql.{DataFrame, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Schemas
import graft.functions.{Fnmatch, TextFunctions}
import graft.operators.{IntervalJoin, Intervals, TimeChunks, TraceStitch}

/** Waveform archive — the WaveBank capability pillar (obsplus
  * `bank/wavebank.py`) re-expressed Spark-first:
  *
  *   - physical layout: `root/segments/` holds trace segments
  *     (NSLC + starttime + sampling_period + samples array);
  *     `root/index/` holds the summary index (one row per segment or
  *     record, no samples) — the HDF5 index replacement.
  *   - `segmentFormat` picks the segment store:
  *     - `"parquet"` (default): parquet files partitioned by
  *       (network, station);
  *     - `"mseed"`: real miniSEED 2.x record files — the
  *       `put_waveforms` interop contract (`wavebank.py:708-754` writes
  *       miniSEED so external tools can read the archive back);
  *     - `"gsg"`: this engine's own fixed-layout record files.
  *     The two record formats share one V2 segment source
  *     ([[graft.sources.SegmentDataSource]], one codec per format):
  *     staged writes, header-only index builds, record-boundary splits,
  *     `path`-pruned reads and counted corrupt-record skips, so queries
  *     behave identically over every store.
  *   - the index is small relative to data and is what every query
  *     touches first; parquet min/max stats on starttime/endtime give
  *     the reference's indexed-time-column pushdown for free.
  *   - `updateIndex` is incremental via the files' modification time —
  *     the mtime watermark contract of `_unindexed_iterator`
  *     (`bank/core.py:193-210`).
  *   - `txIndex = true` stores the index through [[TxTable]] instead of
  *     a plain parquet directory: atomic multi-writer commits, snapshot
  *     reads, time travel and compaction — the concurrent-producer
  *     contract the reference's single-process HDF5 index can't offer.
  */
class WaveBank(spark: SparkSession, root: String,
               txIndex: Boolean = false,
               segmentFormat: String = "parquet",
               indexCacheSize: Int = 0)
    extends graft.core.WaveformClient {

  require(Seq("parquet", "gsg", "mseed").contains(segmentFormat),
    s"segmentFormat must be parquet, gsg or mseed, got $segmentFormat")

  /** The record formats ("gsg", "mseed") read and write through the
    * shared V2 segment source; only the record codec differs.
    */
  private val v2Format: Boolean = segmentFormat != "parquet"

  val segmentsPath = s"$root/segments"
  val indexPath = s"$root/index"

  /** Transactional index table (when `txIndex`). */
  lazy val txTable: TxTable = new TxTable(spark, indexPath)

  /** Whether this bank's index is transactional (fail-fast checks in
    * callers that require commit-atomic appends, e.g. the streaming
    * indexer).
    */
  private[graft] def isTxIndex: Boolean = txIndex

  private def hadoopFs: org.apache.hadoop.fs.FileSystem =
    org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)

  /** Current-pointer file for the plain-parquet index: holds the NAME
    * of the live index directory (`index` for a never-compacted store,
    * `index.g<N>` after N+1 compactions). [[compactIndex]] writes the
    * re-clustered store to a fresh generation dir and then swaps this
    * pointer in ONE atomic rename — readers resolve the pointer at
    * read time, so no read ever observes a missing index dir, and a
    * crash at any instant leaves the pointer on a complete generation
    * (orphan half-written generations are garbage-collected by the
    * next compact). Absent pointer = the legacy `index` dir, so
    * pre-existing stores (and external tools writing `root/index`
    * directly) keep working unchanged.
    */
  private val ptrFile =
    new org.apache.hadoop.fs.Path(s"$root/index.ptr")

  /** Monotonic store-stamp file: `"<counter> <nonce>"`, bumped by every
    * bank write ([[updateIndex]]'s append/rewrite, [[compactIndex]]).
    * [[indexStamp]] prefers it over the directory-listing fingerprint —
    * see there for the trust model.
    */
  private val stampFile =
    new org.apache.hadoop.fs.Path(s"$root/index.stamp")

  private def readSmallFile(p: org.apache.hadoop.fs.Path): Option[String] =
    FsUtil.readSmallFile(hadoopFs, p)

  private def atomicWriteSmall(dst: org.apache.hadoop.fs.Path,
                               content: String): Unit =
    FsUtil.atomicWriteSmall(hadoopFs, spark.sparkContext.hadoopConfiguration,
      dst, content)

  private def bumpStamp(): Unit = {
    val c = readSmallFile(stampFile)
      .flatMap(_.split(' ').headOption)
      .flatMap(s => scala.util.Try(s.toLong).toOption)
      .getOrElse(0L)
    atomicWriteSmall(stampFile,
      s"${c + 1} ${java.util.UUID.randomUUID()}")
  }

  /** Name (relative to root) of the live plain-parquet index dir. */
  private def liveIndexName: String =
    readSmallFile(ptrFile).getOrElse("index")

  private def liveIndexPath: String = s"$root/$liveIndexName"

  private def isIndexDirName(n: String): Boolean =
    n == "index" || n.matches("index\\.g\\d+")

  private def indexExists: Boolean =
    if (txIndex) txTable.latestVersion() >= 0
    else hadoopFs.exists(new org.apache.hadoop.fs.Path(liveIndexPath))

  private val indexSchema = new SchemaMemo(spark)

  /** The index as stored. A plain-parquet read infers the schema (a
    * footer-reading Spark job) once per store version and then reads
    * with `.schema(...)` ([[SchemaMemo]]): the version is
    * [[indexStamp]], the driver-side probe that also guards
    * [[indexCache]], under the same trust model. Every bank-API write
    * bumps the stamp, so the next read re-infers; a store also written
    * by external tools must delete the stamp file (the listing
    * fingerprint then keys the schema) or its readers keep the schema
    * last inferred. Tx banks read through their log.
    */
  private[graft] def indexDf: DataFrame =
    if (txIndex) txTable.read()
    else {
      val path = liveIndexPath
      indexSchema.read((indexStamp(), path), path)
    }

  /** Publish `df` as a new index generation: write to a fresh
    * `index.g<N>` dir (invisible to readers until the pointer moves),
    * swap [[ptrFile]] atomically, bump the stamp, then garbage-collect
    * every generation except the new one and the one just replaced —
    * the grace copy that keeps a reader who resolved the pointer
    * an instant before the swap scanning a complete dir. Single-writer
    * contract (concurrent appends between this method's read and its
    * swap would be lost); `txIndex` is the multi-writer answer.
    */
  private def writeGeneration(df: DataFrame): Unit = {
    val fs = hadoopFs
    val prev = liveIndexName
    val rootPath = new org.apache.hadoop.fs.Path(root)
    def indexDirs: Seq[String] =
      fs.listStatus(rootPath).map(_.getPath.getName).toSeq
        .filter(isIndexDirName)
    val nextGen = (indexDirs.collect {
      case n if n.startsWith("index.g") => n.stripPrefix("index.g").toLong
    } :+ -1L).max + 1
    val target = s"index.g$nextGen"
    df.write.mode(SaveMode.Overwrite).parquet(s"$root/$target")
    atomicWriteSmall(ptrFile, target)
    bumpStamp()
    indexDirs.filter(n => n != target && n != prev)
      .foreach(n => fs.delete(new org.apache.hadoop.fs.Path(s"$root/$n"), true))
    // cached entries snapshot the pre-swap store; the stamp changed
    // anyway, but clear eagerly
    indexCache.foreach(_.clear())
  }

  /** Opt-in containment cache over `readIndex` (`indexCacheSize` > 0):
    * repeated index queries whose interval falls inside a recent one
    * re-filter the persisted rows instead of re-scanning the store —
    * the reference's `_IndexCache` behavior. Off by default: persist
    * lifetimes should be a caller decision in a shared SparkSession.
    *
    * MULTI-WRITER SAFE: every containment hit is guarded by
    * [[indexStamp]] — a driver-side store-version probe (tx commit
    * version, the monotonic stamp file for bank-written plain parquet,
    * or a directory-listing fingerprint for stores predating the stamp;
    * no Spark job in any case). A second WaveBank instance (or another
    * process using the bank API) writing to the same root changes the
    * stamp, so this instance's next query evicts its stale snapshots
    * and re-reads — no [[clearIndexCache]] call needed.
    * [[clearIndexCache]] remains as the manual override (e.g. after an
    * out-of-band write by a tool that bypasses the bank API).
    */
  private[graft] val indexCache: Option[IndexCache] =
    if (indexCacheSize > 0) Some(new IndexCache(indexCacheSize)) else None

  /** Drop all cached index snapshots: the next query re-reads the
    * store. Normally unnecessary — the per-query [[indexStamp]] guard
    * already evicts snapshots staled by ANY writer — but kept as the
    * manual override. No-op when the cache is off.
    */
  def clearIndexCache(): Unit = indexCache.foreach(_.clear())

  /** Cheap store-version stamp for cache-staleness detection: the tx
    * commit version when the index is transactional; else the stamp
    * FILE when present (`"<counter> <nonce>"` — every bank-API write
    * bumps the counter and rolls the nonce, so the stamp is exact and
    * LISTING-INDEPENDENT: a rewrite preserving every file's name,
    * length and mtime tick still changes it, and the probe is one
    * small-file read instead of a directory listing); else — a store
    * never written through this bank's API — the legacy fingerprint of
    * the live dir's listing (name, mtime, length per file). Driver-side
    * filesystem metadata only; never launches a Spark job.
    *
    * Trust model: the stamp file is authoritative for stores whose
    * writers all go through the bank API (any number of instances or
    * processes — q99's second-writer scenario). A store ALSO written by
    * external tools dropping parquet files straight into the index dir
    * should delete the stamp file (falling back to the listing
    * fingerprint, which catches external appends) or call
    * [[clearIndexCache]] after out-of-band writes.
    */
  private[graft] def indexStamp(): Long =
    if (txIndex) txTable.latestVersion()
    else if (!indexExists) -1L
    else readSmallFile(stampFile) match {
      case Some(s) =>
        val counter = s.split(' ').headOption
          .flatMap(c => scala.util.Try(c.toLong).toOption).getOrElse(0L)
        // monotonic counter in the high bits, nonce hash in the low —
        // concurrent bumps that collide on the counter still differ
        (counter << 32) | (s.hashCode.toLong & 0xFFFFFFFFL)
      case None =>
        val fs = hadoopFs
        val p = new org.apache.hadoop.fs.Path(liveIndexPath)
        // sort by name first: listStatus order is NOT guaranteed stable,
        // and an order-dependent fold would stamp an unchanged store
        // differently across calls — silently evicting every cache entry
        fs.listStatus(p).sortBy(_.getPath.getName)
          .foldLeft(17L) { (h, st) =>
            ((h * 31 + st.getPath.getName.hashCode) * 31 +
              st.getModificationTime) * 31 + st.getLen
          }
    }

  /** Append one index batch, clustered for parquet row-group pruning:
    * a global sort by (NSLC, starttime) range-partitions the batch into
    * disjoint key slices and orders rows inside each file, so every row
    * group carries TIGHT min/max stats on both the station equality and
    * the interval bounds. On a 10⁸-row index an NSLC+window `readIndex`
    * then touches a handful of row groups instead of scanning all of
    * them (measured sorted-vs-unsorted in BASELINE.md). Costs one sort
    * shuffle of the BATCH per update — never of the existing store.
    */
  private def indexAppend(df: DataFrame): Unit = {
    // a pre-existing index with NO sidecar (store built by an older
    // jar, or sidecar deleted externally) must be backfilled NOW:
    // appending only this batch's partials would permanently poison
    // the sidecar — sketchStats' absent-sidecar backfill never fires
    // once this write creates the directory. Decide BEFORE the append
    // (afterwards the batch is part of the index and a full rebuild
    // covers it).
    // consistency is judged BEFORE the write: missing sidecar,
    // old-format sidecar, or a stale marker from a previous crash
    // between index and sidecar writes all force a whole-index rebuild
    // (afterwards the batch is part of the index, so the rebuild
    // covers it)
    val backfillWholeIndex = indexExists && !statsConsistent
    // The batch plan runs twice (index write + sidecar partials) BY
    // CHOICE: localCheckpoint(true)-ing it to share one
    // materialization was measured 2.8× SLOWER at 10⁸ rows
    // (GRAFT_SCALE_BANKSTATS put 87 → 242 s) — index-sized frames
    // through the block manager cost far more than re-running a
    // page-cached header scan. Same conclusion as the q80 span-stream
    // experiment (docs/NEXT.md).
    val clustered = df.sort("network", "station", "location", "channel",
      "starttime")
    // the sidecar tag must name THIS write: for tx banks it carries
    // the commit version returned by the append itself — re-reading
    // latestVersion() after the commit could pick up a concurrent
    // writer's version and collide tags, and the rollup's
    // (day, src_tag) dedup would then silently drop one writer's
    // partials. Plain banks' stamp carries a per-bump nonce, so the
    // post-bump read is collision-free under any interleaving.
    val writeTag =
      if (txIndex) s"write-v${txTable.append(clustered)}"
      else {
        clustered.write.mode(SaveMode.Append).parquet(liveIndexPath)
        bumpStamp()
        s"write-${indexStamp()}"
      }
    if (backfillWholeIndex) statsRebuild(indexDf)
    else statsWrite(df, overwrite = false, tag = writeTag)
  }

  /** One streaming micro-batch of index rows (bank index schema, one
    * row per segment), committed EXACTLY once with its sidecar
    * partials — the foreachBatch sink behind
    * [[graft.streaming.StreamingIndex.runBank]]. Requires `txIndex`:
    * the index append rides [[TxTable.appendOnce]]'s batchId-tag
    * idempotence, and the sidecar partial carries the same tag so a
    * replayed batch (foreachBatch's at-least-once contract) appends a
    * bit-identical partial that the rollup's (day, src_tag) dedup
    * collapses. The marker is re-stamped after every batch, so a
    * continuously ingesting bank keeps the flat kilobyte-sized
    * [[sketchStats]] read instead of paying an O(index) resketch per
    * dashboard read. A crash between the index commit and the sidecar
    * write leaves the marker stale → next read/write rebuilds, the
    * standard lag-never-lie contract.
    */
  private[graft] def streamingAppend(batch: DataFrame, batchId: Long): Unit = {
    require(txIndex,
      "streaming index maintenance requires a txIndex bank " +
        "(exactly-once micro-batch commits via appendOnce)")
    if (batch.isEmpty) return
    val tag = s"stream-batch-$batchId"
    // a recycled root (index/tx log deleted externally, sidecar left
    // behind) must not append beside the dead store's partials and
    // stamp them consistent — the same fresh-build guard updateIndex
    // applies
    if (!indexExists && statsExists)
      hadoopFs.delete(
        new org.apache.hadoop.fs.Path(statsSketchPath), true)
    // pre-sidecar / stale-marker stores rebuild AFTER the append so the
    // rebuild covers this batch (same decide-before-append dance as
    // indexAppend)
    val backfillWholeIndex = indexExists && !statsConsistent
    val clustered = batch.sort("network", "station", "location",
      "channel", "starttime")
    txTable.appendOnce(clustered, tag = tag)
    if (backfillWholeIndex) statsRebuild(indexDf)
    else statsWrite(batch, overwrite = false, tag = tag)
  }

  // ------------------------------------------------------------------
  // Persisted sketch columns (round 10): every index write also stamps
  // per-day SKETCH PARTIALS into a sidecar, so the operational
  // questions a dashboard asks of a 100 TB archive — "how many
  // distinct channels were active per day", "p50 segment length",
  // "total samples" — answer from kilobytes of mergeable summaries
  // with NO index scan at all. The partials are the mergeable-
  // summaries contract applied to the store: append-only rows, one
  // per (day × write batch), rolled up losslessly at read time (k-min
  // of k-mins = k-min of the union; quantile parts re-enter the level
  // stack at their weights). The q125 persisted-rollup pattern, moved
  // from a query into the bank itself (q136 pins it end to end).
  // ------------------------------------------------------------------

  /** Sketch parameters of the sidecar (fixed per store: partials only
    * merge with partials of the same size).
    */
  val statsSeedK: Int = 64
  val statsLenC: Int = 128
  private val DayNs = 86_400_000_000_000L

  private[graft] def statsSketchPath: String = s"$root/stats_sketch"

  private def statsExists: Boolean =
    hadoopFs.exists(new org.apache.hadoop.fs.Path(statsSketchPath))

  /** Sidecar format version — bump on any partial-schema change so
    * old-jar sidecars read as inconsistent and rebuild instead of
    * mixing schemas in one directory. v3 adds `src_tag` (the write's
    * idempotence tag) so streaming replays dedupe at rollup.
    */
  private val StatsFormatVersion = 3

  /** Consistency marker (underscore-prefixed: parquet readers skip
    * it): `"<format version> <index stamp at write time>"`. Written
    * AFTER every partial write, so a crash between the index write and
    * the sidecar write — or between the sidecar write and the marker —
    * leaves a stamp mismatch that the next read or write repairs by a
    * full rebuild. Subsumes the old schema probe: a sidecar written by
    * a different format version never matches.
    */
  private def statsMarkerPath =
    new org.apache.hadoop.fs.Path(s"$statsSketchPath/_graft_stamp")

  private def statsMarkerValue: String =
    s"$StatsFormatVersion ${indexStamp()}"

  private def statsConsistent: Boolean =
    statsExists && readSmallFile(statsMarkerPath).contains(statsMarkerValue)

  /** One sketch-partial row per day present in `batch`: segment count,
    * total samples, a KMV sketch of the distinct seed ids, and a
    * quantile summary of the segment lengths. Deterministic (pure
    * functions of the batch's value set), so rebuilds reproduce
    * appends bit for bit.
    */
  private def statsPartials(batch: DataFrame): DataFrame = {
    import graft.operators.Sketches
    batch.select(
        floor(col("starttime") / lit(DayNs)).cast("long").as("day"),
        concat_ws(".", col("network"), col("station"), col("location"),
          col("channel")).as("seed_id"),
        ((col("endtime") - col("starttime")) / col("sampling_period"))
          .cast("long").as("n_samples"))
      .groupBy("day")
      .agg(count(lit(1)).as("n_segments"),
        sum(col("n_samples")).as("sum_samples"),
        Sketches.kmvSketch(TextFunctions.md5Long60(col("seed_id")), statsSeedK)
          .as("seed_sk"),
        Sketches.quantileSketch(col("n_samples"), statsLenC).as("len_sk"),
        Sketches.freqSketch(col("seed_id"), statsSeedK).as("seed_top"))
  }

  /** Append (or, for first-build/rewrite paths, replace) the sidecar,
    * then stamp the consistency marker. Derived data: a crash anywhere
    * between the index write and the marker leaves the marker stale,
    * and the next read or write detects the mismatch and rebuilds —
    * the sidecar can lag but never silently under-report; rewrites
    * are plain overwrites because every consumer reads through
    * [[sketchStats]]'s rollup, which tolerates an in-flight swap no
    * worse than any other derived view.
    *
    * `tag` names the WRITE: batch writes stamp a fresh store-stamp-
    * derived tag (unique per write), streaming micro-batches stamp
    * their batchId tag — a foreachBatch REPLAY then appends a
    * bit-identical partial under the SAME tag, and the rollup's
    * (day, src_tag) dedup restores exactly-once.
    */
  private def statsWrite(batch: DataFrame, overwrite: Boolean,
                         tag: String): Unit = {
    statsPartials(batch).withColumn("src_tag", lit(tag)).write
      .mode(if (overwrite) SaveMode.Overwrite else SaveMode.Append)
      .parquet(statsSketchPath)
    atomicWriteSmall(statsMarkerPath, statsMarkerValue)
  }

  /** Recompute the sidecar from an index frame (the in-place-
    * modification rewrite path, and backfill for stores that predate
    * the sidecar).
    */
  private def statsRebuild(index: DataFrame): Unit =
    statsWrite(index, overwrite = true, tag = s"rebuild-${indexStamp()}")

  /** The lossless rollup shared by [[sketchStats]]'s live path and its
    * empty-bank short-circuit.
    */
  private def statsRollup(partials: DataFrame): DataFrame = {
    import graft.operators.Sketches
    partials
      // a replayed streaming batch appends a bit-identical partial
      // under the same src_tag — keep one copy per (day, write);
      // batch writes carry unique store-stamp tags, so nothing else
      // collapses. Kilobytes in, kilobytes out.
      .dropDuplicates("day", "src_tag")
      .groupBy("day")
      .agg(sum(col("n_segments")).as("n_segments"),
        sum(col("sum_samples")).as("sum_samples"),
        Sketches.kmvMerge(col("seed_sk"), statsSeedK).as("seed_sk"),
        Sketches.quantileMerge(col("len_sk"), statsLenC).as("len_sk"),
        Sketches.freqMerge(col("seed_top"), statsSeedK).as("seed_top"))
  }

  /** Day-granular sketch stats, one row per day: the sidecar partials
    * rolled up through the LOSSLESS merges — identical to sketching
    * the live index from scratch (q136's verdict), at the cost of
    * reading a few kilobytes instead of the index. Backfills the
    * sidecar from the index for pre-sidecar stores.
    *
    * SINGLE-WRITER contract for plain-parquet banks (same as
    * [[writeGeneration]]): the absent-sidecar/stale-marker rebuild here
    * runs on the READ path, so a reader racing a concurrent
    * `putWaveforms` could rebuild from the pre-append index while the
    * writer appends its partial and then stamps the marker — an
    * incomplete sidecar marked consistent. Route all writes AND the
    * first post-upgrade read through one role (or use `txIndex`, whose
    * commit log serializes writers); a foreign writer dropping parquet
    * straight into the index dir without `bumpStamp()` likewise leaves
    * the marker blind — the bank API is the write path.
    */
  def sketchStats(startDay: Option[Long] = None,
                  endDay: Option[Long] = None): DataFrame = {
    // no index = no data, whatever the sidecar dir holds: a fresh bank
    // answers empty instead of throwing on a missing sidecar, and a
    // root whose index was deleted externally must not serve the dead
    // store's leftover partials as live stats
    if (!indexExists) {
      val emptyIdx = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(
          "network STRING, station STRING, location STRING, " +
            "channel STRING, starttime BIGINT, endtime BIGINT, " +
            "sampling_period BIGINT"))
      return statsRollup(
        statsPartials(emptyIdx).withColumn("src_tag", lit("")))
    }
    // one consistency gate covers every lifecycle gap: missing sidecar
    // (pre-sidecar store), old format version (schema evolution — a
    // mixed-schema dir would silently null-drop old rows), and a stale
    // stamp (crash between an index write and its sidecar write). The
    // sidecar is DERIVED data: rebuild, never fail or under-report.
    if (!statsConsistent && indexExists) statsRebuild(indexDf)
    // day-range filters sit UNDER the rollup aggregate, so they reach
    // the parquet scan as PushedFilters (row-group min/max pruning on
    // the partial rows — pinned in BankSketchStatsSpec); a dashboard
    // asking for last week reads last week's kilobytes, not the store's
    val partials = Seq(
        startDay.map(col("day") >= _), endDay.map(col("day") <= _))
      .flatten
      .foldLeft(spark.read.parquet(statsSketchPath))(_.filter(_))
    statsRollup(partials)
  }

  /** Sketch-estimated segment count over [t1Ns, t2Ns] — the index-side
    * twin of [[EventBank.estimatedEventCount]], feeding
    * [[graft.fetch.Fetcher]]'s both-side plan choice: a kilobyte
    * sidecar read, never an index scan (when the marker is
    * consistent). Day-granular on segment START times, so an
    * approximate bound: partial first/last days count whole, and a
    * segment starting before t1 but overlapping it is not counted —
    * fine for a plan probe (plans never change results).
    */
  def estimatedSegmentCount(t1Ns: Long, t2Ns: Long): Long = {
    val r = sketchStats(
        Some(Math.floorDiv(t1Ns, DayNs)), Some(Math.floorDiv(t2Ns, DayNs)))
      .agg(sum(col("n_segments"))).head()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  /** Rewrite the index's accumulated append files into one globally
    * re-clustered file set. Each append batch is sorted at write time,
    * but successive batches overlap in key range; compaction restores
    * store-wide disjoint (NSLC, starttime) slices — file-level pruning
    * on top of row-group pruning — and collapses the per-update small
    * files. Content-neutral: same rows (indexed_at preserved, so the
    * mtime watermark and incremental updates are untouched), new
    * layout. Plain-parquet banks publish through [[writeGeneration]]'s
    * pointer swap: the re-clustered store lands in a fresh generation
    * dir and becomes visible in one atomic pointer rename, so
    * concurrent readers never observe a missing index dir and a crash
    * at any point leaves the pointer on a complete generation (the next
    * compact garbage-collects orphans). Run compaction from the single
    * WRITER role (a concurrent append could land in the generation
    * being replaced); `txIndex` banks delegate to the log's
    * commit-atomic multi-writer compact.
    */
  def compactIndex(): Unit =
    if (txIndex) {
      val sidecarStillValid = statsConsistent
      txTable.compact()
      if (sidecarStillValid)
        atomicWriteSmall(statsMarkerPath, statsMarkerValue)
      ()
    }
    else if (!indexExists) () // fresh bank: nothing to compact
    else {
      // compaction rewrites FILES, not content: a consistent sidecar
      // stays logically valid, so re-stamp its marker against the
      // post-compaction index stamp instead of letting the stale
      // marker force a needless O(index) rebuild on the next read
      val sidecarStillValid = statsConsistent
      writeGeneration(indexDf
        .sort("network", "station", "location", "channel", "starttime"))
      if (sidecarStillValid)
        atomicWriteSmall(statsMarkerPath, statsMarkerValue)
    }
  /** WaveBank's ±1 s interval-query buffer (`wavebank.py:173`). */
  val bufferNs: Long = 1_000_000_000L

  /** Index schema version — bumping it invalidates existing indices on
    * the next update (the reference's `_enforce_min_version`,
    * `bank/core.py:131-146`: stale index deleted and rebuilt).
    */
  val indexVersion: Int = WaveBank.IndexVersion

  /** Drop the index if it was written by an older schema version; the
    * next updateIndex rebuilds from scratch.
    */
  def enforceVersion(): Unit = {
    if (!indexExists) return // fresh bank: nothing to enforce
    // the version check reads the files' own schema, never one
    // remembered under the stamp (an external rewrite may not bump it)
    indexSchema.clear()
    val stale = try {
      val idx = indexDf
      // rows of files written without the column read null: stale too
      // (the schema may come from a newer file of a mixed store)
      !idx.columns.contains("index_version") ||
        idx.agg(min(coalesce(col("index_version"), lit(0))))
          .collect()(0).getInt(0) < indexVersion
    } catch { case _: Throwable => false }
    if (stale) {
      val fs = hadoopFs
      if (!txIndex) {
        // drop every generation and the pointer, not just the live dir —
        // a dangling pointer would send the rebuild into a deleted name
        fs.listStatus(new org.apache.hadoop.fs.Path(root))
          .map(_.getPath.getName).filter(isIndexDirName)
          .foreach(n =>
            fs.delete(new org.apache.hadoop.fs.Path(s"$root/$n"), true))
        fs.delete(ptrFile, false)
        // a reader between the rebuild's write and its stamp bump must
        // not take the new files for the old store version
        bumpStamp()
      } else fs.delete(new org.apache.hadoop.fs.Path(indexPath), true)
      updateIndex()
    }
  }

  /** Append trace segments to the archive, partitioned by station for
    * co-located station-local reads (the path-template analog of
    * `put_waveforms`).
    */
  def putWaveforms(segments: DataFrame): Unit = {
    if (v2Format)
      // V2 saves reject partitionBy; co-location comes from the
      // station-clustered record layout instead
      segments
        .select("network", "station", "location", "channel",
          "starttime", "sampling_period", "samples")
        .write.format(segmentFormat).mode(SaveMode.Append).save(segmentsPath)
    else
      segments.write.mode(SaveMode.Append)
        .partitionBy("network", "station")
        .parquet(segmentsPath)
    updateIndex()
  }

  /** Segments with a `path` column, whatever the store format. */
  private[graft] def segmentsDf: DataFrame =
    if (v2Format)
      spark.read.format(segmentFormat).load(segmentsPath).drop("n_samples")
    else
      spark.read.parquet(segmentsPath)
        .withColumn("path", col("_metadata.file_path"))

  /** Shortest segment file the store's scan lists (the record codec's
    * one-record minimum; parquet lists every file).
    */
  private def minFileLen: Int = segmentFormat match {
    case "mseed" => graft.sources.MiniSeedCodec.minFileLen
    case "gsg" => graft.sources.GsgCodec.minFileLen
    case _ => 0
  }

  /** Driver-side walk of the segment files modified after `afterMs`
    * (every file when None): path → mtime ms, the path in the form the
    * index stores it — the record scan's `path` (`Path.toString`) or
    * parquet's `_metadata.file_path`, the URI-escaped form of a path
    * rebuilt from its string (`file:/a%20b`, where the listed path's
    * own URI reads `file:///a%20b`). It lists through the record
    * scan's own listing, so it sees exactly the files a scan would read.
    */
  private[graft] def walkSegments(afterMs: Option[Long]): Map[String, Long] =
    graft.sources.SegmentSource.listFiles(segmentsPath, minFileLen, afterMs,
        None)
      .map { st =>
        val p = st.getPath.toString
        (if (v2Format) p
         else new org.apache.hadoop.fs.Path(p).toUri.toString) ->
          st.getModificationTime
      }.toMap

  /** Index rows of the segment files in `files` (path → mtime ms as the
    * walk saw them), read from their headers alone (parquet sizes the
    * samples array). The `path` filter names exactly these files to
    * the scan — the record source prunes its listing with it, parquet
    * its file list — so a file the walk did not see waits for the next
    * pass.
    */
  private def indexRows(files: Map[String, Long], indexedAt: Long): DataFrame = {
    val paths = files.keys.toSeq
    val segs =
      if (v2Format)
        spark.read.format(segmentFormat).load(segmentsPath)
          .filter(col("path").isin(paths: _*))
          .select(col("network"), col("station"), col("location"),
            col("channel"), col("starttime"), col("sampling_period"),
            col("n_samples").as("n"), col("path"))
      else spark.read.parquet(segmentsPath)
        .filter(col("_metadata.file_path").isin(paths: _*))
        .select(col("network"), col("station"), col("location"),
          col("channel"), col("starttime"), col("sampling_period"),
          size(col("samples")).as("n"), col("_metadata.file_path").as("path"))
    segs.select(
      Schemas.nslcNormalize(col("network")).as("network"),
      Schemas.nslcNormalize(col("station")).as("station"),
      Schemas.nslcNormalize(col("location")).as("location"),
      Schemas.nslcNormalize(col("channel")).as("channel"),
      col("starttime"),
      (col("starttime") + col("n").cast("long") * col("sampling_period")).as("endtime"),
      col("sampling_period"), col("path"),
      element_at(typedLit(files), col("path")).as("mtime_ms"))
      .withColumn("indexed_at", lit(indexedAt))
      .withColumn("index_version", lit(indexVersion))
  }

  /** (Re)build the summary index from the segment files modified since
    * the last index pass; the first call indexes everything. A file
    * MODIFIED in place (same path, newer mtime — an externally managed
    * mseed/gsg dir an acquisition tool appends to) REPLACES its index
    * rows: the reference's mtime contract (`bank/core.py:193-210`).
    *
    * An incremental pass decides on the driver:
    *   1. one job reads the watermark, `max(indexed_at)`;
    *   2. `indexed_at` is taken, then one driver-side walk lists the
    *      files modified after the watermark (−1 ms slack, as the
    *      reference) — none: done;
    *   3. one bounded index query collects the (path, `mtime_ms`) pairs
    *      already indexed for the walked paths. A walked file whose pair
    *      the index holds is known (the slack, or a storage clock ahead
    *      of the driver's, re-lists it) — all known: done, no further
    *      job;
    *   4. only the fresh files' headers are read (a pushed `path`
    *      filter). Fresh files whose path the index holds under another
    *      mtime are replaced: the store is rewritten minus their old
    *      rows (O(index), paid only when a file changed in place);
    *      otherwise the rows are appended.
    * An index older than the `mtime_ms` column (version < 2) dedups by
    * path alone and keeps its legacy column set — appending a wider
    * schema would leave the store's files disagreeing;
    * [[enforceVersion]] is the designed upgrade.
    *
    * Watermark invariant: `indexed_at` is taken BEFORE the walk, so a
    * file that lands (or is modified) after the walk has an mtime at or
    * after this pass's `indexed_at` and is listed by the next pass,
    * which indexes it once; the `path` filter keeps it out of this
    * pass.
    */
  def updateIndex(): Unit = {
    // existence check, not a catch-all: a transient read failure must
    // propagate — treating it as "no index" would re-append the whole
    // archive into the append-only index (permanent duplicates)
    val exists = indexExists
    val afterMs =
      if (exists)
        Some(indexDf.agg(max("indexed_at")).collect()(0).getLong(0) /
          1000000L - 1)
      else None
    val indexedAt = System.currentTimeMillis() * 1000000L
    val walked = walkSegments(afterMs)
    if (walked.isEmpty) return
    if (!exists) {
      val rows = indexRows(walked, indexedAt)
      if (rows.limit(1).count() > 0) {
        // fresh build: drop any sidecar left over from a deleted index
        // (enforceVersion, external cleanup) before the append re-stamps
        if (statsExists)
          hadoopFs.delete(
            new org.apache.hadoop.fs.Path(statsSketchPath), true)
        indexAppend(rows)
        indexCache.foreach(_.clear())
      }
      return
    }
    val idx = indexDf
    val legacy = !idx.columns.contains("mtime_ms")
    // bounded by the walk (the incremental batch); each task dedups its
    // rows (one per record, most repeating one file), the driver the rest
    val known: Set[(String, Long)] = idx
      .filter(col("path").isin(walked.keys.toSeq: _*))
      .select(col("path"), if (legacy) lit(-1L) else col("mtime_ms"))
      .as(Encoders.tuple(Encoders.STRING, Encoders.scalaLong))
      .mapPartitions(_.toSet.iterator)(
        Encoders.tuple(Encoders.STRING, Encoders.scalaLong))
      .collect().toSet
    val fresh = walked.filter { case (p, m) =>
      !known((p, if (legacy) -1L else m)) }
    if (fresh.isEmpty) return
    val rows = indexRows(fresh, indexedAt)
    val replaced = fresh.keySet & known.map(_._1)
    if (replaced.isEmpty)
      indexAppend(if (legacy) rows.drop("mtime_ms") else rows)
    else {
      // in-place modification: rewrite the store minus the superseded
      // rows. Tx banks rewrite through a commit (writeGeneration's
      // pointer machinery is the PLAIN-parquet publish path; a tx
      // store's readers resolve the log, so a generation swap there
      // would be silently invisible); plain banks go through the
      // atomic generation swap. The kept∪fresh plan runs twice
      // (generation write + sidecar rebuild) by choice — see
      // indexAppend's measured-2.8×-slower checkpoint note.
      val rewritten = idx.filter(!col("path").isin(replaced.toSeq: _*))
        .unionByName(rows)
        .sort("network", "station", "location", "channel", "starttime")
      if (txIndex) { txTable.overwrite(rewritten); () }
      else writeGeneration(rewritten)
      statsRebuild(rewritten)
    }
    indexCache.foreach(_.clear())
  }

  /** The filtered index — glob NSLC + interval overlap with the ±1 s
    * buffer (`read_index` semantics, obsplus `wavebank.py:330-361` +
    * `utils/pd.py:336-382`). Literal globs become equality (hash-able
    * predicates); patterns become anchored rlike.
    */
  def readIndex(network: String = "*", station: String = "*",
                location: String = "*", channel: String = "*",
                starttime: Option[Long] = None,
                endtime: Option[Long] = None): DataFrame = {
    def timeFilter(globbed: DataFrame): DataFrame = (starttime, endtime) match {
      case (Some(t1), Some(t2)) =>
        globbed.filter(Intervals.overlaps(t1, t2, bufferNs))
      case (Some(t1), None) => globbed.filter(col("endtime") >= t1 - bufferNs)
      case (None, Some(t2)) =>
        // endtime-only queries exclude NaT rows (obsplus `_handle_nat`)
        globbed.filter(col("starttime").isNotNull &&
          col("starttime") <= t2 + bufferNs)
      case _ => globbed
    }
    def globbed: DataFrame = {
      val nslc = Seq("network" -> network, "station" -> station,
        "location" -> location, "channel" -> channel)
      nslc.foldLeft(indexDf) { case (df, (c, pat)) =>
        if (pat == "*") df
        else if (Fnmatch.isLiteral(pat)) df.filter(col(c) === pat)
        else df.filter(Fnmatch.matches(col(c), pat))
      }
    }
    indexCache match {
      case Some(cache) =>
        // containment key: exact NSLC kwargs; the interval widens to
        // sentinels so open bounds contain only open bounds. The cached
        // entry holds its own (wider) time filter; re-applying this
        // query's narrower filter on it returns exactly what a direct
        // read would (wave-index rows have no null times, so every
        // branch's predicate is monotone under interval containment)
        val key = Seq(network, station, location, channel)
        val t1 = starttime.getOrElse(Schemas.SmallDt64)
        val t2 = endtime.getOrElse(Schemas.LargeDt64)
        timeFilter(cache.getOrLoad(t1, t2, key, indexStamp(),
          timeFilter(globbed)))
      case None => timeFilter(globbed)
    }
  }

  def availability(): DataFrame =
    Intervals.availability(indexDf,
      Seq("network", "station", "location", "channel"))

  /** Gap rows per (NSLC, sampling_period); a gap must exceed
    * minGapFactor × sampling_period (reference default 1.5,
    * `wavebank.py:442-469`).
    */
  def gaps(minGapFactor: Double = 1.5): DataFrame = {
    val idx = indexDf
    val keys = Seq("network", "station", "location", "channel", "sampling_period")
    Intervals.gaps(idx, keys, minGap = 0L)
      .filter(col("gap_ns").cast("double") >
        col("sampling_period").cast("double") * minGapFactor)
  }

  def uptime(): DataFrame =
    Intervals.uptime(indexDf,
      Seq("network", "station", "location", "channel"), minGap = 0L)

  /** Bulk fetch: one interval join of (glob-free seed_id) requests
    * against the index collects the distinct matched segment files, and
    * only those files are read — the single-job reformulation of
    * `get_waveforms_bulk` (`wavebank.py:581-614`), with the index
    * deciding which bytes are decoded. The `path` filter prunes the
    * record formats' file listing and parquet's file list alike.
    *
    * Whole-file semantics: the output stitches EVERY segment of every
    * matched file — all channels and all times those files hold, not
    * only the requested ones — and is not trimmed; callers trim per
    * request.
    */
  def getWaveformsBulk(requests: DataFrame): DataFrame = {
    val idx = indexDf
      .withColumn("seed_id", Schemas.seedId(
        col("network"), col("station"), col("location"), col("channel")))
    stitch(segmentsOf(IntervalJoin.overlapping(
      idx, requests, keyCols = Seq("seed_id"), buffer = bufferNs)))
  }

  /** Scalar get_waveforms: returns ONLY the requested NSLC, trimmed to
    * [t1, t2], as obsplus does. Codes are normalized the same way the
    * index was (nullish → "", digits zero-padded) so e.g. location "--"
    * matches data indexed under "".
    *
    * The index hits (NSLC equality plus the ±1 s-buffered overlap, as
    * `read_index`) name the files to read. Every segment of the
    * requested seed in those files is stitched, whatever its time: a
    * segment outside the window can still open the merge group whose
    * grid the window's samples are laid on (starts off the sample grid
    * by under one sample are adjacent), so the output is the bulk
    * read's trace of that seed, trimmed.
    */
  def getWaveforms(network: String, station: String, location: String,
                   channel: String, t1: Long, t2: Long): DataFrame = {
    val nslc = Seq(network, station, location, channel)
      .map(Schemas.nslcNormalizeString)
    val hits = Seq("network", "station", "location", "channel").zip(nslc)
      .foldLeft(indexDf.filter(Intervals.overlaps(t1, t2, bufferNs))) {
        case (df, (c, v)) => df.filter(col(c) === v) }
    // trim stitched output to the request window, as the reference's
    // `_prep_output_stream` does (`wavebank.py:783-798`)
    graft.operators.TraceOps.trim(
      stitch(segmentsOf(hits), Some(nslc.mkString("."))), t1, t2)
  }

  /** Segments of the files named by the `path`s of `hits` only. Each
    * task dedupes its own paths (the index has a row per record, most
    * repeating one file) and the driver the few left — no shuffle; the
    * path set is pushed to the scan.
    */
  private def segmentsOf(hits: DataFrame): DataFrame = {
    val paths = hits.select("path").as(Encoders.STRING)
      .mapPartitions(_.toSet.iterator)(Encoders.STRING).collect().distinct
    segmentsDf.filter(col("path").isin(paths.toSeq: _*))
  }

  /** Stitched traces of `segs` keyed by normalized seed_id, optionally
    * restricted to one seed before the stitch.
    */
  private def stitch(segs: DataFrame, seed: Option[String] = None): DataFrame = {
    val keyed = segs.select(Schemas.seedId(
        Schemas.nslcNormalize(col("network")), Schemas.nslcNormalize(col("station")),
        Schemas.nslcNormalize(col("location")), Schemas.nslcNormalize(col("channel")))
      .as("seed_id"), col("sampling_period"), col("starttime"), col("samples"))
    TraceStitch.mergeTraces(spark,
      seed.fold(keyed)(s => keyed.filter(col("seed_id") === s)))
  }

  /** SDS-layout export — re-chunk the archive into a day-partitioned
    * SeisComP-style layout (`utils/waveforms.py:404-472`): the path
    * template becomes partition columns, the re-chunk one partitioned
    * write clustered by (NSLC, day).
    */
  def exportSds(outDir: String): Unit =
    segmentsDf.drop("path")
      .withColumn("day", expr("starttime div 86400000000000"))
      .repartition(col("network"), col("station"), col("channel"), col("day"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("network", "station", "channel", "day")
      .parquet(outDir)

  /** Chunked delivery — `yield_waveforms(duration, overlap)`
    * (`wavebank.py:649-704`) as one job: chunk table × index join.
    */
  def yieldWaveforms(t1: Long, t2: Long, durationNs: Long,
                     overlapNs: Long): DataFrame = {
    val chunkTable = TimeChunks.chunks(spark, t1, t2,
      durationNs + overlapNs, durationNs)
    val idx = indexDf
    IntervalJoin.overlapping(idx, chunkTable
        .withColumnRenamed("chunk_start", "t1")
        .withColumnRenamed("chunk_end", "t2"),
      keyCols = Seq(), buffer = bufferNs)
  }
}

object WaveBank {
  /** Current index schema version. Version 2 added the `mtime_ms`
    * column (modified-file replacement); version-1 stores keep working
    * read-side and upgrade via [[WaveBank.enforceVersion]].
    */
  val IndexVersion: Int = 2
}
