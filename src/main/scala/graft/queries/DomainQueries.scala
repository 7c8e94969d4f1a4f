package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.fetch.Fetcher
import graft.operators.TraceStitch

/** End-to-end domain lifecycle queries — the two signature obsplus
  * flows, oracle-checked on synthetic trace/station shapes derived
  * deterministically from the `events` table:
  *
  *   - q52: `Fetcher.yield_event_waveforms` (§3.3) as ONE job —
  *     reference-time expansion (origin strategy: events × channels),
  *     windows [t−before, t+after], interval-overlap join to a segment
  *     index, per-(event, channel) aggregation. The reference's
  *     per-event Python loop is a single broadcast interval join here.
  *   - q53: `merge_traces` (§2.5, `utils/waveforms.py:221-289`) —
  *     sessionize segments into merge groups (running-max adjacency,
  *     one-sample tolerance) in one sorted pass per (seed, period),
  *     stitch samples onto the group grid with later-trace-wins overlap
  *     semantics, ≤1-slot holes surfacing as NaN. The oracle rebuilds
  *     the same grid per slot with max_by(winner) — if group breaks,
  *     overlay order, or hole semantics drift, the hash mismatches.
  */
object DomainQueries {

  /** 30 min before / 2 h after each event's reference time. */
  private val BeforeNs = 1_800_000_000_000L
  private val AfterNs  = 7_200_000_000_000L

  private def seedN(nChannels: Int) = concat(lit("NT.S"),
    (col("user_id") % nChannels).cast("string"), lit("..BHZ"))

  /** q52's body over an arbitrary events-shaped frame — the whole
    * fetch lifecycle (catalog derivation, channel cross expansion,
    * interval-overlap join to a per-row segment index, per-(event,
    * channel) aggregation) as ONE job. `nChannels` scales the
    * inventory (default = the oracle's 20); tools.ScaleBench runs the
    * same body at 10⁶–10⁷ index rows with a proportionally larger
    * inventory.
    */
  private[graft] def fetchWindowsOf(s: SparkSession, ev: DataFrame,
                                    nChannels: Int = 20): DataFrame = {
    // "catalog": every 97th error event is a quake
    val quakes = ev
      .filter(col("event_type") === "error" && col("event_id") % 97 === 0)
      .select(col("event_id"), col("ts").as("time"))
    // "inventory": nChannels channels, one per user bucket
    val channels = ev.select(seedN(nChannels).as("seed_id")).distinct()
    // "waveform index": one segment per event row, 1–60 min long
    val index = ev.select(seedN(nChannels).as("seed_id"),
      col("ts").as("starttime"),
      (col("ts") + (col("event_id") % 60 + 1) * lit(60_000_000_000L))
        .as("endtime"))
    val fetcher = new Fetcher(s, quakes, channels,
      picks = quakes) // picks unused by the origin strategy
    fetcher.fetchEventSegments(index, "origin", BeforeNs, AfterNs)
      .groupBy("event_id", "seed_id")
      .agg(count(lit(1)).as("n_segments"),
           min("starttime").as("first_start"),
           max("endtime").as("last_end"))
  }

  /** q53's body over an arbitrary events-shaped frame: derive the
    * synthetic trace set (one-second sampling on an `nSlots`-second
    * grid, `nSeeds` seed ids) and stitch. Defaults are the oracle's
    * values; ScaleBench grows `nSeeds` with the corpus so group count
    * scales while per-group width stays bounded.
    */
  private[graft] def stitchOf(s: SparkSession, ev: DataFrame,
                              nSeeds: Int = 5, nSlots: Int = 5000): DataFrame = {
    val segs = ev
      .select((col("user_id") % nSeeds).cast("string").as("sid"),
              expr(s"(ts div 1000000000) % $nSlots").as("slot"),
              col("event_id"))
      .groupBy("sid", "slot").agg(min("event_id").as("eid"))
      .select(concat(lit("XX.S"), col("sid"), lit("..BHZ")).as("seed_id"),
              lit(1_000_000_000L).as("sampling_period"),
              (col("slot") * lit(1_000_000_000L)).as("starttime"),
              transform(
                sequence(lit(0L), col("eid") % 5),
                i => (col("eid") % 100 + i).cast("double")).as("samples"))
    TraceStitch.mergeTraces(s, segs)
      .select(col("seed_id"), col("starttime"), col("endtime"),
        size(col("samples")).cast("long").as("n_slots"),
        size(filter(col("samples"), x => !isnan(x))).cast("long").as("n_filled"),
        aggregate(filter(col("samples"), x => !isnan(x)),
          lit(0.0), (a, x) => a + x).as("checksum"))
  }

  val all: Seq[Q] = Seq(

    Q("q52_fetch_event_windows", (s, dir) => {
      fetchWindowsOf(s, Tables.eventsUs(s, dir))
    }, Some(s"""
      WITH ev AS (SELECT event_id, user_id, epoch_ns(ts) AS tns, event_type
                  FROM events),
      quakes AS (SELECT event_id, tns AS time FROM ev
                 WHERE event_type = 'error' AND event_id % 97 = 0),
      chans AS (SELECT DISTINCT 'NT.S' || CAST(user_id % 20 AS VARCHAR) || '..BHZ' AS seed_id
                FROM ev),
      idx AS (SELECT 'NT.S' || CAST(user_id % 20 AS VARCHAR) || '..BHZ' AS seed_id,
                     tns AS starttime,
                     tns + (event_id % 60 + 1) * 60000000000 AS endtime
              FROM ev),
      reqs AS (SELECT q.event_id, c.seed_id,
                      q.time - $BeforeNs AS t1, q.time + $AfterNs AS t2
               FROM quakes q CROSS JOIN chans c)
      SELECT r.event_id, r.seed_id, COUNT(*) AS n_segments,
             MIN(i.starttime) AS first_start, MAX(i.endtime) AS last_end
      FROM reqs r JOIN idx i ON i.seed_id = r.seed_id
        AND NOT (i.endtime < r.t1 OR i.starttime > r.t2)
      GROUP BY r.event_id, r.seed_id"""), headline = true),

    // ---- SKETCH-PLANNED fetch (round 11): the q52 flow with its
    //      catalog in an EventBank, the request-side cardinality
    //      estimated from the bank's sketch SIDECAR (kilobytes, no
    //      catalog scan), and the broadcast-vs-shuffled choice made
    //      from that estimate. The verdict runs BOTH plans — the
    //      estimate-chosen one and the forced-shuffled one — and pins
    //      them row-identical (paths_eq): the sketch moves the PLAN,
    //      never the answer. FetcherPlanSpec pins the plan shapes.
    Q("q149_fetch_sketch_planned", (s, dir) => {
      import graft.bank.EventBank
      val ev = Tables.eventsUs(s, dir)
      val quakes0 = ev
        .filter(col("event_type") === "error" && col("event_id") % 97 === 0)
        .select(col("event_id").cast("string").as("event_id"),
          col("ts").as("time"), col("event_id").cast("long").as("updated"))
      val root = Scratch
        .tempDir("graft-q149").toString
      val bank = new EventBank(s, root)
      bank.putEvents(quakes0)
      val quakes = bank.readIndex().select(col("event_id"), col("time"))
      val channels = ev.select(concat(lit("NT.S"),
        (col("user_id") % 20).cast("string"), lit("..BHZ")).as("seed_id"))
        .distinct()
      val index = ev.select(concat(lit("NT.S"),
          (col("user_id") % 20).cast("string"), lit("..BHZ")).as("seed_id"),
        col("ts").as("starttime"),
        (col("ts") + (col("event_id") % 60 + 1) * lit(60_000_000_000L))
          .as("endtime"))
      val fetcher = new Fetcher(s, quakes, channels, picks = quakes)
      val est = fetcher.estimatedRequests(bank,
        Long.MinValue / 2, Long.MaxValue / 2)
      def run(estimate: Long) = fetcher
        .fetchEventSegments(index, "origin", BeforeNs, AfterNs,
          Some(estimate))
        .groupBy("event_id", "seed_id")
        .agg(count(lit(1)).as("n_segments"),
          min("starttime").as("first_start"),
          max("endtime").as("last_end"))
      val planned = run(est)                 // est <= budget: broadcast
      val shuffled = run(Long.MaxValue)      // forced shuffled/banded
      val eq = planned.exceptAll(shuffled).isEmpty &&
        shuffled.exceptAll(planned).isEmpty
      planned
        .withColumn("est_requests", lit(est))
        .withColumn("paths_eq", lit(if (eq) 1L else 0L))
    }, Some(s"""
      WITH ev AS (SELECT event_id, user_id, epoch_ns(ts) AS tns, event_type
                  FROM events),
      quakes AS (SELECT event_id, tns AS time FROM ev
                 WHERE event_type = 'error' AND event_id % 97 = 0),
      chans AS (SELECT DISTINCT 'NT.S' || CAST(user_id % 20 AS VARCHAR) || '..BHZ' AS seed_id
                FROM ev),
      idx AS (SELECT 'NT.S' || CAST(user_id % 20 AS VARCHAR) || '..BHZ' AS seed_id,
                     tns AS starttime,
                     tns + (event_id % 60 + 1) * 60000000000 AS endtime
              FROM ev),
      reqs AS (SELECT q.event_id, c.seed_id,
                      q.time - $BeforeNs AS t1, q.time + $AfterNs AS t2
               FROM quakes q CROSS JOIN chans c),
      est AS (SELECT CAST((SELECT count(*) FROM quakes)
                          * (SELECT count(*) FROM chans) AS BIGINT) AS e)
      SELECT CAST(r.event_id AS VARCHAR) AS event_id, r.seed_id,
             COUNT(*) AS n_segments,
             MIN(i.starttime) AS first_start, MAX(i.endtime) AS last_end,
             (SELECT e FROM est) AS est_requests,
             CAST(1 AS BIGINT) AS paths_eq
      FROM reqs r JOIN idx i ON i.seed_id = r.seed_id
        AND NOT (i.endtime < r.t1 OR i.starttime > r.t2)
      GROUP BY r.event_id, r.seed_id""")),

    Q("q53_trace_stitch", (s, dir) => {
      // synthetic traces: 1 s sampling, second-slot grid of width 5000;
      // min(event_id) per (seed, slot) keeps starts unique per seed so
      // the later-wins overlay order is well-defined; sample values are
      // small integers (eid%100 + i) so checksums are FP-order-free
      stitchOf(s, Tables.eventsUs(s, dir))
    }, Some("""
      WITH base AS (
        SELECT CAST(user_id % 5 AS VARCHAR) AS sid,
               epoch_ns(ts) // 1000000000 % 5000 AS slot,
               MIN(event_id) AS eid
        FROM events GROUP BY 1, 2),
      segs AS (
        SELECT 'XX.S' || sid || '..BHZ' AS seed_id, slot AS start_slot,
               eid % 5 + 1 AS len, eid % 100 AS v0
        FROM base),
      g AS (SELECT *,
              MAX(start_slot + len) OVER (PARTITION BY seed_id ORDER BY start_slot
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
            FROM segs),
      g2 AS (SELECT *,
               CASE WHEN prev_end IS NULL OR prev_end < start_slot - 1
                    THEN 1 ELSE 0 END AS brk
             FROM g),
      g3 AS (SELECT *, SUM(brk) OVER (PARTITION BY seed_id
               ORDER BY start_slot) AS grp
             FROM g2),
      m AS (SELECT seed_id, grp, MIN(start_slot) AS t0,
                   MAX(start_slot + len) AS t1
            FROM g3 GROUP BY 1, 2),
      slots AS (SELECT seed_id, grp, t0, t1, unnest(range(t0, t1)) AS t
                FROM m),
      -- winner per slot = covering segment with the greatest start
      -- (starts are unique per seed, so this IS later-trace-wins)
      w AS (SELECT sl.seed_id, sl.grp, sl.t0, sl.t1, sl.t,
              max_by(g3.v0 + (sl.t - g3.start_slot), g3.start_slot) AS v
            FROM slots sl LEFT JOIN g3 ON g3.seed_id = sl.seed_id
              AND sl.t >= g3.start_slot AND sl.t < g3.start_slot + g3.len
            GROUP BY 1, 2, 3, 4, 5)
      SELECT seed_id, t0 * 1000000000 AS starttime, t1 * 1000000000 AS endtime,
             t1 - t0 AS n_slots, COUNT(v) AS n_filled,
             CAST(SUM(v) AS DOUBLE) AS checksum
      FROM w GROUP BY seed_id, grp, t0, t1"""))
  )
}
