package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.operators.Sketches

/** KMV/theta distinct sketches under hard oracle signal (round 9).
  * The sketch is a pure function of the input value SET (k smallest
  * distinct 60-bit hashes), so unlike HLL the ORACLE CAN RECOMPUTE IT
  * EXACTLY: DuckDB derives the same k-min rows with `row_number() ≤ k`
  * over the same md5 hashes and reproduces every estimate bit for bit
  * — estimator arithmetic, θ thresholds, union/intersection algebra,
  * streaming window attribution. Any drift in the aggregator's merge,
  * the hash kernel, or the set-algebra expressions breaks the hash.
  */
object SketchQueries {

  private val K = 256
  private val HashSpaceSql = "1152921504606846976" // 2^60

  /** Spark side: distinct 3-token-shingle hashes per source. */
  private def shingleHashes(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .filter(size(split(col("text"), " ")) >= 3)
      .select(col("source"),
        explode(expr("""transform(sequence(1, size(split(text, ' ')) - 2),
          i -> concat_ws(' ', slice(split(text, ' '), i, 3)))""")).as("shingle"))
      .select(col("source"), expr("md5_long60(shingle)").as("h"))
  }

  /** DuckDB mirror of [[shingleHashes]] + per-source k-min ranks:
    * `hd` = distinct (source, hash), `r` adds rank and per-source
    * distinct count — rows with rn ≤ K are exactly the sketch the
    * aggregator builds.
    */
  private val ranksSql = s"""
      tok AS (SELECT source, string_split(text, ' ') AS toks
              FROM documents WHERE len(string_split(text, ' ')) >= 3),
      sh AS (SELECT source, array_to_string(toks[i:i+2], ' ') AS shingle
             FROM tok, unnest(range(1, len(toks) - 1)) t(i)),
      hd AS (SELECT DISTINCT source,
               ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h
             FROM sh),
      r AS (SELECT source, h,
              row_number() OVER (PARTITION BY source ORDER BY h) AS rn,
              count(*) OVER (PARTITION BY source) AS n
            FROM hd)"""

  /** [[shingleHashes]] with the lang dimension carried — the partition
    * key of the persisted "daily" sketches in q125.
    */
  private def shingleHashesByLang(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .filter(size(split(col("text"), " ")) >= 3)
      .select(col("source"), col("lang"),
        explode(expr("""transform(sequence(1, size(split(text, ' ')) - 2),
          i -> concat_ws(' ', slice(split(text, ' '), i, 3)))""")).as("shingle"))
      .select(col("source"), col("lang"), expr("md5_long60(shingle)").as("h"))
  }

  /** q136/q147's synthetic segment frame: 4 stations × 48 hour-slots,
    * payload length a pure function of the events table — with a
    * `slot` column the callers split their write batches on.
    */
  private def bankStatsSegs(s: SparkSession, dir: String): DataFrame = {
    val T0 = 1_600_000_000_000_000_000L
    Tables.events(s, dir)
      .select((col("user_id") % 4).as("sid"),
        (col("event_id") % 48).as("slot"), col("event_id"))
      .groupBy("sid", "slot").agg((min("event_id") % 64).as("v0"))
      .select(lit("XX").as("network"),
        concat(lit("S"), col("sid")).as("station"),
        lit("").as("location"),
        concat(lit("BH"), when(col("slot") % 2 === 0, lit("Z"))
          .otherwise(lit("N"))).as("channel"),
        (lit(T0) + col("slot") * lit(3_600_000_000_000L)).as("starttime"),
        lit(1_000_000_000L).as("sampling_period"),
        transform(sequence(lit(1L), col("v0") + lit(10L)),
          _ => lit(0.0)).as("samples"),
        col("slot"))
  }

  /** q136/q147's verdict frame: sketchStats rolled-up columns plus
    * bit-equality flags against a from-scratch resketch of the live
    * index (the k-min-of-k-mins / exact-rollup theorems applied to
    * the store).
    */
  private def bankStatsVerdict(bank: graft.bank.WaveBank): DataFrame = {
    val dayNs = 86_400_000_000_000L
    val stats = bank.sketchStats()
    val idx = bank.readIndex().select(
      floor(col("starttime") / lit(dayNs)).cast("long").as("day"),
      concat_ws(".", col("network"), col("station"), col("location"),
        col("channel")).as("seed_id"),
      ((col("endtime") - col("starttime")) / col("sampling_period"))
        .cast("long").as("n_samples"))
    val direct = idx.groupBy("day").agg(
      Sketches.kmvSketch(expr("md5_long60(seed_id)"), bank.statsSeedK)
        .as("dsk"),
      Sketches.quantileSketch(col("n_samples"), bank.statsLenC).as("dlen"),
      Sketches.freqSketch(col("seed_id"), bank.statsSeedK).as("dtop"))
    stats.join(direct, "day").select(
      col("day"), col("n_segments"), col("sum_samples"),
      Sketches.kmvEstimate(col("seed_sk"), bank.statsSeedK).as("n_seeds"),
      (col("seed_sk") === col("dsk")).cast("long").as("seed_eq"),
      Sketches.quantileN(col("len_sk")).as("n_rollup"),
      Sketches.quantileEstimate(col("len_sk"), 0.5).as("p50_len"),
      (col("len_sk") === col("dlen")).cast("long").as("len_eq"),
      Sketches.freqTopCsv(col("seed_top"), 3).as("top3_seeds"),
      (col("seed_top") === col("dtop")).cast("long").as("top_eq"))
  }

  /** The q136/q147 DuckDB mirror; `verdictCols` carries the always-1
    * theorem columns the variants differ on.
    */
  private def bankStatsOracleSql(verdictCols: String): String = s"""
      WITH base AS (
        SELECT user_id % 4 AS sid, event_id % 48 AS slot,
               MIN(event_id) % 64 AS v0
        FROM events GROUP BY 1, 2),
      seg AS (SELECT sid, slot, v0 + 10 AS len,
                     'XX.S' || CAST(sid AS VARCHAR) || '..BH' ||
                       (CASE WHEN slot % 2 = 0 THEN 'Z' ELSE 'N' END)
                       AS seed,
                     (1600000000000000000 + slot * 3600000000000)
                       // 86400000000000 AS day
              FROM base),
      sc AS (SELECT day, seed, count(*) AS c FROM seg GROUP BY 1, 2),
      sr AS (SELECT *, row_number() OVER
               (PARTITION BY day ORDER BY c DESC, seed ASC) AS rn
             FROM sc),
      t3 AS (SELECT day,
               string_agg(seed || ':' || c, ',' ORDER BY rn) AS top3_seeds
             FROM sr WHERE rn <= 3 GROUP BY 1)
      SELECT day, CAST(count(*) AS BIGINT) AS n_segments,
             CAST(sum(len) AS BIGINT) AS sum_samples,
             CAST(count(DISTINCT seed) AS DOUBLE) AS n_seeds,
             $verdictCols,
             CAST(count(*) AS BIGINT) AS n_rollup,
             CAST((list(len ORDER BY len))
               [CAST(GREATEST(1, ceil(count(*) * 0.5)) AS BIGINT)]
               AS BIGINT) AS p50_len,
             CAST(1 AS BIGINT) AS len_eq,
             ANY_VALUE(t3.top3_seeds) AS top3_seeds,
             CAST(1 AS BIGINT) AS top_eq
      FROM seg JOIN t3 USING (day) GROUP BY day"""

  val all: Seq[Q] = Seq(

    // ---- per-group sketch + estimate: exact distinct via the full
    //      shuffle, KMV estimate via one k-array per group — plus an
    //      error verdict at the 3σ bound (RSE ≈ 1/√(k−2)). θ and the
    //      sketch size pin the aggregator's merge content, not just
    //      the estimate.
    Q("q122_kmv_distinct", (s, dir) => {
      val h = shingleHashes(s, dir)
      h.groupBy("source")
        .agg(Sketches.kmvSketch(col("h"), K).as("sk"),
             countDistinct(col("h")).as("n_exact"))
        .select(col("source"), col("n_exact"),
          size(col("sk")).cast("long").as("sketch_size"),
          Sketches.kmvTheta(col("sk"), K).as("theta"),
          Sketches.kmvEstimate(col("sk"), K).as("est"),
          (abs(Sketches.kmvEstimate(col("sk"), K) - col("n_exact"))
            <= col("n_exact") * lit(0.1875)).cast("long").as("err_ok"))
    }, Some(s"""
      WITH $ranksSql,
      g AS (SELECT source, max(n) AS n,
              max(CASE WHEN rn = $K THEN h END) AS kth
            FROM r GROUP BY 1),
      e AS (SELECT source, n,
              CAST(LEAST(n, $K) AS BIGINT) AS sketch_size,
              CAST(CASE WHEN n >= $K THEN kth
                        ELSE $HashSpaceSql END AS BIGINT) AS theta,
              CASE WHEN n < $K THEN CAST(n AS DOUBLE)
                   ELSE CAST(${K - 1} AS DOUBLE)
                        * CAST($HashSpaceSql AS DOUBLE)
                        / CAST(kth AS DOUBLE) END AS est
            FROM g)
      SELECT source, CAST(n AS BIGINT) AS n_exact, sketch_size, theta, est,
             CAST(abs(est - n) <= n * CAST(0.1875 AS DOUBLE) AS BIGINT)
               AS err_ok
      FROM e""")),

    // ---- sketch SET ALGEBRA: distinct-count of A∪B, A∩B, and Jaccard
    //      for every source pair from the 20 persisted kilobyte
    //      sketches alone — no rescan, no join over the raw corpus
    //      (the exact-common column is computed the expensive way
    //      purely as the oracle's reference point). The θ column pins
    //      the pairwise threshold the intersection sample uses.
    Q("q123_kmv_set_algebra", (s, dir) => {
      val h = shingleHashes(s, dir)
      val sk = h.groupBy("source")
        .agg(Sketches.kmvSketch(col("h"), K).as("sk"))
      val a = sk.select(col("source").as("src_a"), col("sk").as("ska"))
      val b = sk.select(col("source").as("src_b"), col("sk").as("skb"))
      val pairs = a.join(broadcast(b), col("src_a") < col("src_b"))
      val hd = h.distinct()
      val ex = hd.as("x").join(hd.as("y"),
          col("x.h") === col("y.h") && col("x.source") < col("y.source"))
        .groupBy(col("x.source").as("src_a"), col("y.source").as("src_b"))
        .agg(count(lit(1)).as("n_common_exact"))
      pairs.join(ex, Seq("src_a", "src_b"), "left")
        .select(col("src_a"), col("src_b"),
          Sketches.kmvUnionEstimate(col("ska"), col("skb"), K).as("union_est"),
          Sketches.kmvIntersectEstimate(col("ska"), col("skb"), K)
            .as("intersect_est"),
          Sketches.kmvJaccardEstimate(col("ska"), col("skb"), K)
            .as("jaccard_est"),
          Sketches.kmvDifferenceEstimate(col("ska"), col("skb"), K)
            .as("diff_est"),
          coalesce(col("n_common_exact"), lit(0L)).as("n_common_exact"),
          least(Sketches.kmvTheta(col("ska"), K),
            Sketches.kmvTheta(col("skb"), K)).as("theta"))
    }, Some(s"""
      WITH $ranksSql,
      srcs AS (SELECT DISTINCT source FROM r),
      p AS (SELECT a.source AS src_a, b.source AS src_b
            FROM srcs a JOIN srcs b ON a.source < b.source),
      th AS (SELECT source,
               CAST(CASE WHEN max(n) >= $K
                         THEN max(CASE WHEN rn = $K THEN h END)
                         ELSE $HashSpaceSql END AS BIGINT) AS theta
             FROM r GROUP BY 1),
      m AS (SELECT DISTINCT p.src_a, p.src_b, r.h
            FROM p JOIN r ON (r.source = p.src_a OR r.source = p.src_b)
              AND r.rn <= $K),
      u AS (SELECT src_a, src_b, h,
              row_number() OVER (PARTITION BY src_a, src_b ORDER BY h) AS urn,
              count(*) OVER (PARTITION BY src_a, src_b) AS un
            FROM m),
      uest AS (SELECT src_a, src_b,
                 CASE WHEN max(un) < $K THEN CAST(max(un) AS DOUBLE)
                      ELSE CAST(${K - 1} AS DOUBLE)
                           * CAST($HashSpaceSql AS DOUBLE)
                           / CAST(max(CASE WHEN urn = $K THEN h END)
                                  AS DOUBLE) END AS union_est
               FROM u GROUP BY 1, 2),
      pth AS (SELECT p.src_a, p.src_b,
                LEAST(ta.theta, tb.theta) AS theta
              FROM p JOIN th ta ON ta.source = p.src_a
                     JOIN th tb ON tb.source = p.src_b),
      com AS (SELECT q.src_a, q.src_b, count(*) AS c
              FROM pth q
                JOIN r ra ON ra.source = q.src_a AND ra.rn <= $K
                JOIN r rb ON rb.source = q.src_b AND rb.rn <= $K
                         AND rb.h = ra.h
              WHERE ra.h < q.theta
              GROUP BY 1, 2),
      dif AS (SELECT q.src_a, q.src_b, count(*) AS d
              FROM pth q
                JOIN r ra ON ra.source = q.src_a AND ra.rn <= $K
              WHERE ra.h < q.theta AND NOT EXISTS (
                SELECT 1 FROM r rb
                WHERE rb.source = q.src_b AND rb.rn <= $K AND rb.h = ra.h)
              GROUP BY 1, 2),
      exc AS (SELECT x.source AS src_a, y.source AS src_b,
                CAST(count(*) AS BIGINT) AS n_common_exact
              FROM hd x JOIN hd y
                ON x.h = y.h AND x.source < y.source
              GROUP BY 1, 2)
      SELECT q.src_a, q.src_b, uest.union_est,
             CAST(COALESCE(com.c, 0) AS DOUBLE)
               * CAST($HashSpaceSql AS DOUBLE)
               / CAST(q.theta AS DOUBLE) AS intersect_est,
             (CAST(COALESCE(com.c, 0) AS DOUBLE)
               * CAST($HashSpaceSql AS DOUBLE)
               / CAST(q.theta AS DOUBLE)) / uest.union_est AS jaccard_est,
             CAST(COALESCE(dif.d, 0) AS DOUBLE)
               * CAST($HashSpaceSql AS DOUBLE)
               / CAST(q.theta AS DOUBLE) AS diff_est,
             COALESCE(exc.n_common_exact, 0) AS n_common_exact,
             q.theta
      FROM pth q
        JOIN uest ON uest.src_a = q.src_a AND uest.src_b = q.src_b
        LEFT JOIN com ON com.src_a = q.src_a AND com.src_b = q.src_b
        LEFT JOIN dif ON dif.src_a = q.src_a AND dif.src_b = q.src_b
        LEFT JOIN exc ON exc.src_a = q.src_a AND exc.src_b = q.src_b""")),

    // ---- STREAMING windowed distinct sketch: live "distinct users
    //      per 6 h window" through a watermarked streaming aggregation
    //      whose state per window is the ≤k-array buffer — the
    //      mergeable-sketch property is exactly what makes the
    //      streaming agg's partial/merge path work. The replay emits
    //      every January window on watermark close (flush row 2024-02-05
    //      pushes the watermark past the last real window; its own
    //      window never closes and must NOT appear). Oracle recomputes
    //      each window's k-min set and estimate from the events table.
    Q("q124_stream_distinct_sketch", (s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val k = 64
      val ev = Tables.eventsUs(s, dir).filter(col("ts").isNotNull)
        .select(col("user_id"), col("ts"))
      val flush = s.range(1).select(lit(-1L).as("user_id"),
        lit(1707091200000000000L).as("ts")) // 2024-02-05T00:00Z
      val tmp = Scratch
        .tempDir("graft-q124").toString
      ev.unionByName(flush).repartition(8)
        .write.mode("overwrite").parquet(tmp)
      val stream = s.readStream.schema(s.read.parquet(tmp).schema).parquet(tmp)
      val agg = stream
        .withColumn("tss", timestamp_micros(expr("ts div 1000")))
        .withColumn("h", expr("md5_long60(cast(user_id as string))"))
        .withWatermark("tss", "10 seconds")
        .groupBy(window(col("tss"), "6 hours").as("w"))
        .agg(Sketches.kmvSketch(col("h"), k).as("sk"),
             count(lit(1)).as("n_events"))
      val sink = "q124_sink_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      val q = agg.writeStream.format("memory").queryName(sink)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val out = s.table(sink)
        .select(expr("unix_micros(w.start) * 1000").as("window_ns"),
          col("n_events"),
          size(col("sk")).cast("long").as("sketch_size"),
          Sketches.kmvTheta(col("sk"), k).as("theta"),
          Sketches.kmvEstimate(col("sk"), k).as("est"))
        .localCheckpoint(true)
      s.catalog.dropTempView(sink)
      out
    }, Some(s"""
      WITH e AS (SELECT epoch_ns(ts)
                   - ((epoch_ns(ts) % 21600000000000) + 21600000000000)
                     % 21600000000000 AS wns,
                 ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
                   AS h
                 FROM events WHERE ts IS NOT NULL),
      cnt AS (SELECT wns, CAST(count(*) AS BIGINT) AS n_events
              FROM e GROUP BY 1),
      hd AS (SELECT DISTINCT wns, h FROM e),
      r AS (SELECT wns, h,
              row_number() OVER (PARTITION BY wns ORDER BY h) AS rn,
              count(*) OVER (PARTITION BY wns) AS n
            FROM hd),
      g AS (SELECT wns, max(n) AS n,
              max(CASE WHEN rn = 64 THEN h END) AS kth
            FROM r GROUP BY 1)
      SELECT g.wns AS window_ns, cnt.n_events,
             CAST(LEAST(g.n, 64) AS BIGINT) AS sketch_size,
             CAST(CASE WHEN g.n >= 64 THEN g.kth
                       ELSE $HashSpaceSql END AS BIGINT) AS theta,
             CASE WHEN g.n < 64 THEN CAST(g.n AS DOUBLE)
                  ELSE CAST(63 AS DOUBLE) * CAST($HashSpaceSql AS DOUBLE)
                       / CAST(g.kth AS DOUBLE) END AS est
      FROM g JOIN cnt ON cnt.wns = g.wns""")),

    // ---- SLIDING-window streaming sketch: "distinct users over the
    //      trailing 24 h, refreshed every 6 h" — each event feeds FOUR
    //      overlapping windows, each window maintaining its own ≤k
    //      buffer; append mode emits a window's final sketch once the
    //      watermark passes its END (so the trailing edge of the
    //      stream never emits — the flush row's own windows stay
    //      open). The oracle expands each event into its four
    //      window-starts on the 6 h grid and recomputes every
    //      window's k-min set — window-overlap attribution under hard
    //      signal, the piece q124's tumbling windows cannot pin.
    Q("q126_stream_sliding_sketch", (s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val k = 64
      val ev = Tables.eventsUs(s, dir).filter(col("ts").isNotNull)
        .select(col("user_id"), col("ts"))
      val flush = s.range(1).select(lit(-1L).as("user_id"),
        lit(1707091200000000000L).as("ts")) // 2024-02-05T00:00Z
      val tmp = Scratch
        .tempDir("graft-q126").toString
      ev.unionByName(flush).repartition(8)
        .write.mode("overwrite").parquet(tmp)
      val stream = s.readStream.schema(s.read.parquet(tmp).schema).parquet(tmp)
      val agg = stream
        .withColumn("tss", timestamp_micros(expr("ts div 1000")))
        .withColumn("h", expr("md5_long60(cast(user_id as string))"))
        .withWatermark("tss", "10 seconds")
        .groupBy(window(col("tss"), "24 hours", "6 hours").as("w"))
        .agg(Sketches.kmvSketch(col("h"), k).as("sk"),
             count(lit(1)).as("n_events"))
      val sink = "q126_sink_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      val q = agg.writeStream.format("memory").queryName(sink)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val out = s.table(sink)
        .select(expr("unix_micros(w.start) * 1000").as("window_ns"),
          col("n_events"),
          size(col("sk")).cast("long").as("sketch_size"),
          Sketches.kmvTheta(col("sk"), k).as("theta"),
          Sketches.kmvEstimate(col("sk"), k).as("est"))
        .localCheckpoint(true)
      s.catalog.dropTempView(sink)
      out
    }, Some(s"""
      WITH e AS (SELECT epoch_ns(ts)
                   - ((epoch_ns(ts) % 21600000000000) + 21600000000000)
                     % 21600000000000 AS b6,
                 ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
                   AS h
                 FROM events WHERE ts IS NOT NULL),
      w AS (SELECT b6 - j * 21600000000000 AS wns, h
            FROM e, unnest(range(4)) t(j)),
      cnt AS (SELECT wns, CAST(count(*) AS BIGINT) AS n_events
              FROM w GROUP BY 1),
      hd AS (SELECT DISTINCT wns, h FROM w),
      r AS (SELECT wns, h,
              row_number() OVER (PARTITION BY wns ORDER BY h) AS rn,
              count(*) OVER (PARTITION BY wns) AS n
            FROM hd),
      g AS (SELECT wns, max(n) AS n,
              max(CASE WHEN rn = 64 THEN h END) AS kth
            FROM r GROUP BY 1)
      SELECT g.wns AS window_ns, cnt.n_events,
             CAST(LEAST(g.n, 64) AS BIGINT) AS sketch_size,
             CAST(CASE WHEN g.n >= 64 THEN g.kth
                       ELSE $HashSpaceSql END AS BIGINT) AS theta,
             CASE WHEN g.n < 64 THEN CAST(g.n AS DOUBLE)
                  ELSE CAST(63 AS DOUBLE) * CAST($HashSpaceSql AS DOUBLE)
                       / CAST(g.kth AS DOUBLE) END AS est
      FROM g JOIN cnt ON cnt.wns = g.wns""")),

    // ---- persisted-sketch ROLLUP: per-(source, lang) sketches write
    //      to parquet ("daily" granularity), reload, and re-aggregate
    //      to per-source by exploding the arrays back through
    //      kmvSketch — the rollup pattern that makes sketches useful
    //      operationally (k-min of per-part k-mins = k-min of the
    //      union: any hash among the k smallest of the whole is among
    //      the k smallest of its own part, so the rollup is LOSSLESS,
    //      not a second approximation). The oracle computes the
    //      per-source sketch directly — a Spark-side rollup bug
    //      (array truncation, dedup loss, merge drift) breaks the
    //      hash; `rollup_eq` pins the identity against the directly
    //      aggregated sketch in the same plan.
    Q("q125_kmv_rollup", (s, dir) => {
      val h2 = shingleHashesByLang(s, dir)
      val daily = h2.groupBy("source", "lang")
        .agg(Sketches.kmvSketch(col("h"), K).as("sk"))
      val tmp = Scratch
        .tempDir("graft-q125").toString
      daily.write.mode("overwrite").parquet(tmp)
      val rolled = s.read.parquet(tmp)
        .select(col("source"), explode(col("sk")).as("h"))
        .groupBy("source")
        .agg(Sketches.kmvSketch(col("h"), K).as("rsk"),
          count(lit(1)).as("n_in")) // exploded hash volume, ≤ parts·k
      val parts = s.read.parquet(tmp).groupBy("source")
        .agg(count(lit(1)).as("n_parts"))
      val direct = h2.groupBy("source")
        .agg(Sketches.kmvSketch(col("h"), K).as("dsk"))
      rolled.join(parts, "source").join(direct, "source")
        .select(col("source"), col("n_parts"),
          Sketches.kmvEstimate(col("rsk"), K).as("est_rollup"),
          Sketches.kmvEstimate(col("dsk"), K).as("est_direct"),
          (col("rsk") === col("dsk")).cast("long").as("rollup_eq"),
          Sketches.kmvTheta(col("rsk"), K).as("theta"))
    }, Some(s"""
      WITH $ranksSql,
      langs AS (SELECT source, count(DISTINCT lang) AS n_parts
                FROM (SELECT source, lang FROM documents
                      WHERE len(string_split(text, ' ')) >= 3) GROUP BY 1),
      g AS (SELECT source, max(n) AS n,
              max(CASE WHEN rn = $K THEN h END) AS kth
            FROM r GROUP BY 1),
      e AS (SELECT source,
              CASE WHEN n < $K THEN CAST(n AS DOUBLE)
                   ELSE CAST(${K - 1} AS DOUBLE)
                        * CAST($HashSpaceSql AS DOUBLE)
                        / CAST(kth AS DOUBLE) END AS est,
              CAST(CASE WHEN n >= $K THEN kth
                        ELSE $HashSpaceSql END AS BIGINT) AS theta
            FROM g)
      SELECT e.source, CAST(langs.n_parts AS BIGINT) AS n_parts,
             e.est AS est_rollup, e.est AS est_direct,
             CAST(1 AS BIGINT) AS rollup_eq, e.theta
      FROM e JOIN langs ON langs.source = e.source""")),

    // ---- PRIORITY SAMPLING (Duffield-Lund-Thorup): per-source
    //      weighted samples of k=16 docs (weight = n_chars) answering
    //      the TOTAL character sum and an arbitrary post-hoc SUBSET
    //      sum (doc_id % 40 < 20 — a half that alternates WITHIN each
    //      source; doc_id parity is constant per source and would
    //      degenerate) — Σ max(w, τ) over the in-subset sample
    //      rows. The oracle recomputes priorities (w / (h/2⁶⁰), the
    //      identical IEEE division sequence), ranks with the same
    //      (priority DESC, id ASC) tie-break, and sums in the same
    //      rank order (floating addition is order-sensitive; both
    //      engines sum top-k ascending by rank) — estimator, τ, and
    //      sample CONTENT all pinned bit for bit next to the exact
    //      reference sums.
    Q("q127_priority_sample_sums", (s, dir) => {
      val k = 16
      val docs = Tables.documents(s, dir)
        .select(col("source"), col("doc_id"), col("n_chars"))
        .withColumn("h", expr("md5_long60(cast(doc_id as string))"))
      docs.groupBy("source")
        .agg(Sketches.prioritySample(col("h"), col("n_chars"),
            col("doc_id"), k).as("smp"),
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_exact"),
          sum(when(col("doc_id") % 40 < 20, col("n_chars")).otherwise(0L))
            .as("sum_sub_exact"))
        .select(col("source"), col("n_docs"),
          Sketches.priorityTau(col("smp"), k).as("tau"),
          Sketches.prioritySubsetSum(col("smp"), k, _ => lit(true))
            .as("est_total"),
          Sketches.prioritySubsetSum(col("smp"), k, id => id % 40 < 20)
            .as("est_sub"),
          col("sum_exact").cast("long").as("sum_exact"),
          col("sum_sub_exact").cast("long").as("sum_sub_exact"))
    }, Some(s"""
      WITH d AS (SELECT source, doc_id, n_chars,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                 AS h
             FROM documents),
      p AS (SELECT source, doc_id, n_chars,
              CAST(n_chars AS DOUBLE)
                / (CAST(CASE WHEN h <= 0 THEN $HashSpaceSql ELSE h END
                        AS DOUBLE)
                   / CAST($HashSpaceSql AS DOUBLE)) AS pri
            FROM d),
      r AS (SELECT *, row_number() OVER
              (PARTITION BY source ORDER BY pri DESC, doc_id ASC) AS rnk
            FROM p),
      t AS (SELECT source,
              COALESCE(max(CASE WHEN rnk = 17 THEN pri END),
                       CAST(0 AS DOUBLE)) AS tau
            FROM r GROUP BY 1),
      est AS (SELECT r.source,
                sum(GREATEST(CAST(r.n_chars AS DOUBLE), t.tau)
                    ORDER BY r.rnk) AS est_total,
                sum(CASE WHEN r.doc_id % 40 < 20
                         THEN GREATEST(CAST(r.n_chars AS DOUBLE), t.tau)
                         ELSE CAST(0 AS DOUBLE) END
                    ORDER BY r.rnk) AS est_sub
              FROM r JOIN t USING (source)
              WHERE r.rnk <= 16 GROUP BY 1),
      ex AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS sum_exact,
               CAST(sum(CASE WHEN doc_id % 40 < 20 THEN n_chars ELSE 0 END)
                    AS BIGINT) AS sum_sub_exact
             FROM documents GROUP BY 1)
      SELECT ex.source, ex.n_docs, t.tau, est.est_total, est.est_sub,
             ex.sum_exact, ex.sum_sub_exact
      FROM ex JOIN t USING (source) JOIN est USING (source)""")),

    // ---- STREAMING priority sample: live per-window weighted samples
    //      (weight = floor(value·100) integer cents, item = event_id)
    //      next to the window's exact sum — the sums leg of the sketch
    //      family gets its streaming twin, completing the symmetry
    //      (distinct: q124/q126; sums: this). Each window's state is
    //      one ≤(k+1)-row sample + one running sum; append mode emits
    //      at watermark close. The oracle re-derives every window's
    //      sample, τ, and rank-ordered estimate sum.
    Q("q128_stream_priority_sample", (s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val k = 32
      val ev = Tables.eventsUs(s, dir).filter(col("ts").isNotNull)
        .select(col("event_id"), col("ts"),
          floor(col("value") * 100).cast("long").as("w"))
      val flush = s.range(1).select(lit(-1L).as("event_id"),
        lit(1707091200000000000L).as("ts"), lit(0L).as("w"))
      val tmp = Scratch
        .tempDir("graft-q128").toString
      ev.unionByName(flush).repartition(8)
        .write.mode("overwrite").parquet(tmp)
      val stream = s.readStream.schema(s.read.parquet(tmp).schema).parquet(tmp)
      val agg = stream
        .withColumn("tss", timestamp_micros(expr("ts div 1000")))
        .withColumn("h", expr("md5_long60(cast(event_id as string))"))
        .withWatermark("tss", "10 seconds")
        .groupBy(window(col("tss"), "6 hours").as("w"))
        .agg(Sketches.prioritySample(col("h"), col("w"), col("event_id"), k)
            .as("smp"),
          count(lit(1)).as("n_events"),
          sum(col("w")).as("sum_exact"))
      val sink = "q128_sink_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      val q = agg.writeStream.format("memory").queryName(sink)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val out = s.table(sink)
        .select(expr("unix_micros(w.start) * 1000").as("window_ns"),
          col("n_events"),
          Sketches.priorityTau(col("smp"), k).as("tau"),
          Sketches.prioritySubsetSum(col("smp"), k, _ => lit(true))
            .as("est_total"),
          col("sum_exact").cast("long").as("sum_exact"))
        .localCheckpoint(true)
      s.catalog.dropTempView(sink)
      out
    }, Some(s"""
      WITH e AS (SELECT epoch_ns(ts)
                   - ((epoch_ns(ts) % 21600000000000) + 21600000000000)
                     % 21600000000000 AS wns,
                 event_id, CAST(floor(value * 100) AS BIGINT) AS w,
                 ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))::BIGINT
                   AS h
                 FROM events WHERE ts IS NOT NULL),
      p AS (SELECT wns, event_id, w,
              CAST(w AS DOUBLE)
                / (CAST(CASE WHEN h <= 0 THEN $HashSpaceSql ELSE h END
                        AS DOUBLE)
                   / CAST($HashSpaceSql AS DOUBLE)) AS pri
            FROM e),
      r AS (SELECT *, row_number() OVER
              (PARTITION BY wns ORDER BY pri DESC, event_id ASC) AS rnk
            FROM p),
      t AS (SELECT wns,
              COALESCE(max(CASE WHEN rnk = 33 THEN pri END),
                       CAST(0 AS DOUBLE)) AS tau
            FROM r GROUP BY 1),
      est AS (SELECT r.wns,
                sum(GREATEST(CAST(r.w AS DOUBLE), t.tau)
                    ORDER BY r.rnk) AS est_total
              FROM r JOIN t USING (wns)
              WHERE r.rnk <= 32 GROUP BY 1),
      ex AS (SELECT wns, CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(w) AS BIGINT) AS sum_exact
             FROM e GROUP BY 1)
      SELECT ex.wns AS window_ns, ex.n_events, t.tau, est.est_total,
             ex.sum_exact
      FROM ex JOIN t USING (wns) JOIN est USING (wns)""")),

    // ---- distinct-value SAMPLE QUANTILES: a weight-1 priority sample
    //      is a uniform bottom-k-by-hash sample of the docs with the
    //      payload (n_chars) riding along; the ⌈q·m⌉-th smallest
    //      sampled payload estimates the group quantile — INTEGER
    //      outputs end to end, so the oracle comparison is exact. The
    //      exact reference quantiles use the same rank convention over
    //      the full group (a sort of the group — the cost the sample
    //      path avoids; at scale only the reference column pays it).
    Q("q129_sample_quantiles", (s, dir) => {
      val k = 32
      val docs = Tables.documents(s, dir)
        .select(col("source"), col("doc_id"), col("n_chars"))
        .withColumn("h", expr("md5_long60(cast(doc_id as string))"))
      def exactQ(q: Double) = element_at(
        array_sort(collect_list(col("n_chars"))),
        greatest(lit(1), ceil(count(lit(1)) * lit(q)).cast("int")))
      docs.groupBy("source")
        .agg(Sketches.prioritySample(col("h"), lit(1L), col("n_chars"), k)
            .as("smp"),
          count(lit(1)).as("n_docs"),
          exactQ(0.5).as("p50_exact"),
          exactQ(0.9).as("p90_exact"))
        .select(col("source"), col("n_docs"),
          least(size(col("smp")), lit(k)).cast("long").as("sample_size"),
          Sketches.sampleQuantile(col("smp"), k, 0.5).as("p50_sample"),
          Sketches.sampleQuantile(col("smp"), k, 0.9).as("p90_sample"),
          col("p50_exact"), col("p90_exact"))
    }, Some(s"""
      WITH d AS (SELECT source, doc_id, n_chars,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                 AS h
             FROM documents),
      p AS (SELECT source, n_chars,
              CAST(1 AS DOUBLE)
                / (CAST(CASE WHEN h <= 0 THEN $HashSpaceSql ELSE h END
                        AS DOUBLE)
                   / CAST($HashSpaceSql AS DOUBLE)) AS pri
            FROM d),
      r AS (SELECT *, row_number() OVER
              (PARTITION BY source ORDER BY pri DESC, n_chars ASC) AS rnk
            FROM p),
      smp AS (SELECT source, list(n_chars ORDER BY n_chars) AS vals
              FROM r WHERE rnk <= 32 GROUP BY 1),
      sq AS (SELECT source,
               CAST(len(vals) AS BIGINT) AS sample_size,
               vals[CAST(GREATEST(1, ceil(len(vals) * 0.5)) AS BIGINT)]
                 AS p50_sample,
               vals[CAST(GREATEST(1, ceil(len(vals) * 0.9)) AS BIGINT)]
                 AS p90_sample
             FROM smp),
      ex AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
               (list(n_chars ORDER BY n_chars))
                 [CAST(GREATEST(1, ceil(count(*) * 0.5)) AS BIGINT)]
                 AS p50_exact,
               (list(n_chars ORDER BY n_chars))
                 [CAST(GREATEST(1, ceil(count(*) * 0.9)) AS BIGINT)]
                 AS p90_exact
             FROM documents GROUP BY 1)
      SELECT ex.source, ex.n_docs, sq.sample_size,
             CAST(sq.p50_sample AS BIGINT) AS p50_sample,
             CAST(sq.p90_sample AS BIGINT) AS p90_sample,
             CAST(ex.p50_exact AS BIGINT) AS p50_exact,
             CAST(ex.p90_exact AS BIGINT) AS p90_exact
      FROM ex JOIN sq USING (source)""")),

    // ---- FREQUENT ITEMS (Misra–Gries, mergeable per Agarwal et al.
    //      PODS'12): "top tokens per source" without the full per-item
    //      count shuffle — the aggregate ships one ≤k counter array per
    //      group per partition. Dual-regime oracle pinning: the k=64
    //      summary is in the EXACT regime (per-source vocabulary ~31 ≤
    //      64 at every SF — no decrement ever fires, any merge tree
    //      yields the exact count map), so n and the top-10
    //      (count DESC, token ASC) CSV match DuckDB bit for bit; the
    //      k=8 summary is OVER capacity, where counter values are
    //      merge-tree-dependent, so what's pinned are the THEOREMS —
    //      no overcount, undercount·(k+1) ≤ n − ŝ, and heavy-hitter
    //      recall — as verdict columns a correct implementation can
    //      never fail (the exact count map they're checked against is
    //      computed in-query, the same reference-column device as
    //      q122's countDistinct).
    Q("q133_mg_frequent_items", (s, dir) => {
      val k1 = 64; val k2 = 8
      val toks = Tables.documents(s, dir)
        .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      val sk = toks.groupBy("source")
        .agg(Sketches.freqSketch(col("tok"), k1).as("sk64"),
          Sketches.freqSketch(col("tok"), k2).as("sk8"))
      val exact = toks.groupBy("source", "tok").agg(count(lit(1)).as("c"))
        .groupBy("source")
        .agg(map_from_entries(collect_list(struct(col("tok"), col("c"))))
            .as("truem"),
          count(lit(1)).as("n_distinct"))
      sk.join(exact, "source")
        .select(col("source"),
          Sketches.freqN(col("sk64")).as("n"),
          col("n_distinct"),
          Sketches.freqTopCsv(col("sk64"), 10).as("top10"),
          (size(Sketches.freqItems(col("sk8"))) <= k2).cast("long")
            .as("size_ok"),
          Sketches.freqBoundsOk(col("sk8"), col("truem"), k2).as("bounds_ok"),
          Sketches.freqHeavyRecallOk(col("sk8"), col("truem"), k2)
            .as("heavy_ok"))
    }, Some("""
      WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS tok
                   FROM documents),
      c AS (SELECT source, tok, count(*) AS c FROM tok GROUP BY 1, 2),
      r AS (SELECT *, row_number() OVER
              (PARTITION BY source ORDER BY c DESC, tok ASC) AS rn
            FROM c),
      t10 AS (SELECT source,
                string_agg(tok || ':' || c, ',' ORDER BY rn) AS top10
              FROM r WHERE rn <= 10 GROUP BY 1),
      g AS (SELECT source, CAST(sum(c) AS BIGINT) AS n,
              CAST(count(*) AS BIGINT) AS n_distinct
            FROM c GROUP BY 1)
      SELECT g.source, g.n, g.n_distinct, t10.top10,
             CAST(1 AS BIGINT) AS size_ok, CAST(1 AS BIGINT) AS bounds_ok,
             CAST(1 AS BIGINT) AS heavy_ok
      FROM g JOIN t10 USING (source)""")),

    // ---- STREAMING frequent items: live "top event types / heavy
    //      users per 6 h window" — three MG summaries per window (k=8
    //      types: exact regime, 5 distinct; k=8 users: over capacity,
    //      ~50–700 distinct; k=1024 users: exact regime at every SF —
    //      the IN-STREAM exact reference the k=8 verdicts are checked
    //      against, so the guarantee audit itself needs no second scan).
    //      State per window = three ≤k counter arrays + one count;
    //      append mode emits at watermark close (flush row 2024-02-05;
    //      its own window never closes). Oracle recomputes every
    //      window's type CSV and distinct-user count from the events
    //      table and pins the verdicts at 1.
    Q("q134_stream_frequent_items", (s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val kU = 8; val kRef = 1024
      val ev = Tables.eventsUs(s, dir).filter(col("ts").isNotNull)
        .select(col("user_id"), col("event_type"), col("ts"))
      val flush = s.range(1).select(lit(-1L).as("user_id"),
        lit("flush").as("event_type"),
        lit(1707091200000000000L).as("ts")) // 2024-02-05T00:00Z
      val tmp = Scratch
        .tempDir("graft-q134").toString
      ev.unionByName(flush).repartition(8)
        .write.mode("overwrite").parquet(tmp)
      val stream = s.readStream.schema(s.read.parquet(tmp).schema).parquet(tmp)
      val agg = stream
        .withColumn("tss", timestamp_micros(expr("ts div 1000")))
        .withColumn("u", col("user_id").cast("string"))
        .withWatermark("tss", "10 seconds")
        .groupBy(window(col("tss"), "6 hours").as("w"))
        .agg(Sketches.freqSketch(col("event_type"), 8).as("skt"),
          Sketches.freqSketch(col("u"), kU).as("sku"),
          Sketches.freqSketch(col("u"), kRef).as("skref"),
          count(lit(1)).as("n_events"))
      val sink = "q134_sink_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      val q = agg.writeStream.format("memory").queryName(sink)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val truem = map_from_entries(Sketches.freqItems(col("skref")))
      val out = s.table(sink)
        .select(expr("unix_micros(w.start) * 1000").as("window_ns"),
          col("n_events"),
          Sketches.freqN(col("skt")).as("n"),
          Sketches.freqTopCsv(col("skt"), 5).as("types_csv"),
          size(Sketches.freqItems(col("skref"))).cast("long").as("n_users"),
          (size(Sketches.freqItems(col("sku"))) <= kU).cast("long")
            .as("size_ok"),
          Sketches.freqBoundsOk(col("sku"), truem, kU).as("bounds_ok"),
          Sketches.freqHeavyRecallOk(col("sku"), truem, kU).as("heavy_ok"))
        .localCheckpoint(true)
      s.catalog.dropTempView(sink)
      out
    }, Some("""
      WITH e AS (SELECT epoch_ns(ts)
                   - ((epoch_ns(ts) % 21600000000000) + 21600000000000)
                     % 21600000000000 AS wns,
                 event_type, user_id
                 FROM events WHERE ts IS NOT NULL),
      tc AS (SELECT wns, event_type, count(*) AS c FROM e GROUP BY 1, 2),
      tr AS (SELECT *, row_number() OVER
               (PARTITION BY wns ORDER BY c DESC, event_type ASC) AS rn
             FROM tc),
      t5 AS (SELECT wns,
               string_agg(event_type || ':' || c, ',' ORDER BY rn)
                 AS types_csv
             FROM tr WHERE rn <= 5 GROUP BY 1),
      g AS (SELECT wns, CAST(count(*) AS BIGINT) AS n_events,
              CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
            FROM e GROUP BY 1)
      SELECT g.wns AS window_ns, g.n_events, g.n_events AS n,
             t5.types_csv, g.n_users,
             CAST(1 AS BIGINT) AS size_ok, CAST(1 AS BIGINT) AS bounds_ok,
             CAST(1 AS BIGINT) AS heavy_ok
      FROM g JOIN t5 USING (wns)""")),

    // ---- FULL-STREAM QUANTILE SKETCH (MRL'98 deterministic
    //      compaction / KLL level scheme): per-source doc-length
    //      percentiles over ALL rows — the query q129's distinct-value
    //      samples can't answer — without a sort of the group,
    //      deterministic where approx_percentile is not, and with a
    //      persist + re-aggregate contract. Three legs:
    //      (a) EXACT regime, c=512: n ≤ c at every test SF, so B = 0
    //          and p50/p90 equal DuckDB's ⌈q·n⌉ order statistics bit
    //          for bit (same rank convention as q129);
    //      (b) OVER capacity, c=16: entry content is merge-tree-
    //          dependent, so what's pinned is the THEOREM — the
    //          returned value v satisfies rank_≤(v) ≥ r − (B+maxw) and
    //          rank_<(v) ≤ r + (B+maxw) with B the sketch's own
    //          tracked compaction budget — as verdict columns checked
    //          against the exact value list (in-query reference
    //          column, the cost the sketch path avoids at scale);
    //      (c) ROLLUP: per-(source, lang) c=16 summaries persisted to
    //          parquet, reloaded, re-aggregated per source through
    //          quantileMerge — n is conserved exactly and the merged
    //          summary's own (bigger) B still bounds its rank error.
    Q("q135_quantile_sketch", (s, dir) => {
      val cE = 512; val cO = 16
      val docs = Tables.documents(s, dir)
        .select(col("source"), col("lang"), col("n_chars"))
      val daily = docs.groupBy("source", "lang")
        .agg(Sketches.quantileSketch(col("n_chars"), cO).as("sk"))
      val tmp = Scratch
        .tempDir("graft-q135").toString
      daily.write.mode("overwrite").parquet(tmp)
      val rolled = s.read.parquet(tmp).groupBy("source")
        .agg(Sketches.quantileMerge(col("sk"), cO).as("rsk"))
      val base = docs.groupBy("source")
        .agg(Sketches.quantileSketch(col("n_chars"), cE).as("skE"),
          Sketches.quantileSketch(col("n_chars"), cO).as("skO"),
          count(lit(1)).as("n_rows"),
          array_sort(collect_list(col("n_chars"))).as("vals"))
      def target(q: Double) = greatest(lit(1L),
        ceil(col("n_rows").cast("double") * lit(q)).cast("long"))
      def rankOk(sk: Column, q: Double) = {
        val v = Sketches.quantileEstimate(sk, q)
        val bound = Sketches.quantileRankBound(sk)
        val le = size(filter(col("vals"), x => x <= v)).cast("long")
        val lt = size(filter(col("vals"), x => x < v)).cast("long")
        (le >= target(q) - bound && lt <= target(q) + bound).cast("long")
      }
      base.join(rolled, "source")
        .select(col("source"), col("n_rows"),
          Sketches.quantileN(col("skE")).as("n"),
          Sketches.quantileErr(col("skE")).as("err_exact"),
          Sketches.quantileEstimate(col("skE"), 0.5).as("p50"),
          Sketches.quantileEstimate(col("skE"), 0.9).as("p90"),
          rankOk(col("skO"), 0.5).as("rank50_ok"),
          rankOk(col("skO"), 0.9).as("rank90_ok"),
          Sketches.quantileN(col("rsk")).as("n_rollup"),
          rankOk(col("rsk"), 0.5).as("rollup50_ok"),
          rankOk(col("rsk"), 0.9).as("rollup90_ok"))
    }, Some("""
      WITH ex AS (SELECT source, CAST(count(*) AS BIGINT) AS n_rows,
               (list(n_chars ORDER BY n_chars))
                 [CAST(GREATEST(1, ceil(count(*) * 0.5)) AS BIGINT)] AS p50,
               (list(n_chars ORDER BY n_chars))
                 [CAST(GREATEST(1, ceil(count(*) * 0.9)) AS BIGINT)] AS p90
             FROM documents GROUP BY 1)
      SELECT source, n_rows, n_rows AS n, CAST(0 AS BIGINT) AS err_exact,
             CAST(p50 AS BIGINT) AS p50, CAST(p90 AS BIGINT) AS p90,
             CAST(1 AS BIGINT) AS rank50_ok, CAST(1 AS BIGINT) AS rank90_ok,
             n_rows AS n_rollup,
             CAST(1 AS BIGINT) AS rollup50_ok,
             CAST(1 AS BIGINT) AS rollup90_ok
      FROM ex""")),

    // ---- PERSISTED SKETCHES IN THE BANK INDEX (round 10): every
    //      WaveBank index write stamps per-day sketch partials (KMV of
    //      distinct seed ids, quantile summary of segment lengths,
    //      counts) into a sidecar; `sketchStats()` rolls them up
    //      LOSSLESSLY at read time — the operational dashboard answers
    //      ("distinct channels active per day", "p50 segment length")
    //      from kilobytes with no index scan. This query drives two
    //      real putWaveforms passes (→ two partial rows per day), then
    //      pins (a) the rolled-up sketches BIT-EQUAL to a from-scratch
    //      resketch of the live index (seed_eq / len_eq — the k-min-of-
    //      k-mins and exact-regime-rollup theorems applied to the
    //      store), and (b) every value column arithmetically in DuckDB
    //      (counts, sums, exact-mode distinct estimate, the ⌈n/2⌉ p50).
    Q("q136_bank_sketch_stats", (s, dir) => {
      import graft.bank.WaveBank
      val segs = bankStatsSegs(s, dir)
      val root = Scratch
        .tempDir("graft-q136").toString
      val bank = new WaveBank(s, root)
      bank.putWaveforms(segs.filter(col("slot") < 24).drop("slot"))
      bank.putWaveforms(segs.filter(col("slot") >= 24).drop("slot"))
      bankStatsVerdict(bank)
    }, Some(bankStatsOracleSql("CAST(1 AS BIGINT) AS seed_eq"))),

    // ---- the round-11 closure of q136's operational story: the SAME
    //      corpus arrives through the STREAMING indexer
    //      (StreamingIndex.runBank → WaveBank.streamingAppend), two
    //      AvailableNow drains = two micro-batches committing through
    //      appendOnce batchId tags, each stamping its sidecar partial
    //      + marker. The verdict adds `stream_ok`: every sidecar
    //      partial carries a stream-batch tag (the dashboard read
    //      never fell back to an O(index) rebuild) — without round
    //      11's sink maintenance, the marker went stale on every
    //      micro-batch and the first sketchStats read resketched the
    //      whole index.
    Q("q147_bank_stream_sidecar", (s, dir) => {
      import graft.bank.WaveBank
      val segs = bankStatsSegs(s, dir)
      val root = Scratch
        .tempDir("graft-q147").toString
      val segDir = s"$root/stream_segments"
      val bank = new WaveBank(s, root, txIndex = true)
      def drain(): Unit =
        graft.streaming.StreamingIndex
          .runBank(s, segDir, bank, s"$root/ckpt").awaitTermination()
      segs.filter(col("slot") < 24).drop("slot")
        .write.mode("append").parquet(segDir)
      drain()
      segs.filter(col("slot") >= 24).drop("slot")
        .write.mode("append").parquet(segDir)
      drain()
      val tagsOk = s.read.parquet(bank.statsSketchPath)
        .select("src_tag").distinct()
        .filter(!col("src_tag").startsWith("stream-batch-"))
        .isEmpty
      bankStatsVerdict(bank)
        .withColumn("stream_ok", lit(if (tagsOk) 1L else 0L))
    }, Some(bankStatsOracleSql(
      "CAST(1 AS BIGINT) AS seed_eq, CAST(1 AS BIGINT) AS stream_ok"))),

    // ---- the EventBank sketch sidecar (round 11): putEvents rebuilds
    //      per-day catalog partials (event counts, author KMV + top-k,
    //      milli-magnitude quantile with nulls FILTERed out of the
    //      sketch); sketchStats answers from kilobytes and
    //      estimatedEventCount is the planner probe behind the
    //      Fetcher's broadcast-vs-shuffled request choice. Verdict:
    //      every rolled-up sketch BIT-EQUAL to a from-scratch resketch
    //      of the resolved catalog, every value column arithmetic in
    //      DuckDB, and the day-granular window estimate equal to the
    //      exact count over those days.
    Q("q148_event_sketch_stats", (s, dir) => {
      import graft.bank.EventBank
      val T0 = 1_600_000_000_000_000_000L
      val HourNs = 3_600_000_000_000L
      val DayNs = 86_400_000_000_000L
      val base = Tables.events(s, dir).select(col("event_id")).distinct()
        .filter(col("event_id") % 97 === 0)
        .select(col("event_id").as("id"),
          concat(lit("ev"), col("event_id")).as("event_id"),
          (lit(T0) + (col("event_id") % 72) * lit(HourNs)).as("time"),
          when(col("event_id") % 7 === 0, lit(null).cast("double"))
            .otherwise((col("event_id") % 50).cast("double") / 10.0)
            .as("magnitude"),
          concat(lit("auth"), col("event_id") % 5).as("author"),
          col("event_id").cast("long").as("updated"))
      val root = Scratch
        .tempDir("graft-q148").toString
      val bank = new EventBank(s, root)
      bank.putEvents(base.filter((col("id") / 97) % 2 === 0).drop("id"))
      bank.putEvents(base.filter((col("id") / 97) % 2 === 1).drop("id"))
      val stats = bank.sketchStats()
      val idx = bank.readIndex().select(
        floor(col("time") / lit(DayNs)).cast("long").as("day"),
        coalesce(col("author"), lit("")).as("author"),
        round(col("magnitude") * 1000).cast("long").as("mag_milli"))
      val direct = idx.groupBy("day").agg(
        Sketches.kmvSketch(expr("md5_long60(author)"), bank.statsAuthorK)
          .as("dsk"),
        expr("quantile_sketch512(mag_milli) FILTER (WHERE mag_milli IS NOT NULL)")
          .as("dmag"),
        Sketches.freqSketch(col("author"), bank.statsAuthorK).as("dtop"))
      val est = bank.estimatedEventCount(T0 + 24 * HourNs, T0 + 47 * HourNs)
      stats.join(direct, "day").select(
        col("day"), col("n_events"),
        Sketches.kmvEstimate(col("author_sk"), bank.statsAuthorK)
          .as("n_authors"),
        (col("author_sk") === col("dsk")).cast("long").as("author_eq"),
        Sketches.quantileN(col("mag_sk")).as("n_mag"),
        Sketches.quantileEstimate(col("mag_sk"), 0.5).as("p50_magm"),
        (col("mag_sk") === col("dmag")).cast("long").as("mag_eq"),
        Sketches.freqTopCsv(col("author_top"), 3).as("top3_authors"),
        (col("author_top") === col("dtop")).cast("long").as("top_eq"),
        lit(est).as("est_window"))
    }, {
      val T0 = 1_600_000_000_000_000_000L
      val HourNs = 3_600_000_000_000L
      val DayNs = 86_400_000_000_000L
      val d1 = Math.floorDiv(T0 + 24 * HourNs, DayNs)
      val d2 = Math.floorDiv(T0 + 47 * HourNs, DayNs)
      Some(s"""
      WITH base AS (SELECT DISTINCT event_id FROM events
                    WHERE event_id % 97 = 0),
      ev AS (SELECT (1600000000000000000 + (event_id % 72) * 3600000000000)
                      // 86400000000000 AS day,
                    CASE WHEN event_id % 7 = 0 THEN NULL
                         ELSE CAST(ROUND((event_id % 50) / 10.0 * 1000)
                              AS BIGINT) END AS magm,
                    'auth' || CAST(event_id % 5 AS VARCHAR) AS author
             FROM base),
      ac AS (SELECT day, author, count(*) AS c FROM ev GROUP BY 1, 2),
      ar AS (SELECT *, row_number() OVER
               (PARTITION BY day ORDER BY c DESC, author ASC) AS rn
             FROM ac),
      t3 AS (SELECT day,
               string_agg(author || ':' || c, ',' ORDER BY rn)
                 AS top3_authors
             FROM ar WHERE rn <= 3 GROUP BY 1),
      est AS (SELECT CAST(count(*) AS BIGINT) AS e FROM ev
              WHERE day BETWEEN $d1 AND $d2)
      SELECT day, CAST(count(*) AS BIGINT) AS n_events,
             CAST(count(DISTINCT author) AS DOUBLE) AS n_authors,
             CAST(1 AS BIGINT) AS author_eq,
             CAST(count(magm) AS BIGINT) AS n_mag,
             CAST((list(magm ORDER BY magm)
                     FILTER (WHERE magm IS NOT NULL))
               [CAST(GREATEST(1, ceil(count(magm) * 0.5)) AS BIGINT)]
               AS BIGINT) AS p50_magm,
             CAST(1 AS BIGINT) AS mag_eq,
             ANY_VALUE(t3.top3_authors) AS top3_authors,
             CAST(1 AS BIGINT) AS top_eq,
             (SELECT e FROM est) AS est_window
      FROM ev JOIN t3 USING (day) GROUP BY day""")
    }),


    // ---- the SQL SURFACE under oracle signal: the q122 pipeline as
    //      ONE spark.sql STRING — kmv_sketch256 udaf + the kmv_*
    //      registry builders, no Scala column API anywhere — against
    //      the same DuckDB recompute. Pins that the registered SQL
    //      functions expand to exactly the Scala API's arithmetic.
    Q("q130_kmv_sql_surface", (s, dir) => {
      Tables.documents(s, dir).createOrReplaceTempView("q130_documents")
      val out = s.sql(s"""
        WITH sh AS (
          SELECT source,
                 explode(transform(sequence(1, size(split(text, ' ')) - 2),
                   i -> concat_ws(' ', slice(split(text, ' '), i, 3))))
                   AS shingle
          FROM q130_documents WHERE size(split(text, ' ')) >= 3),
        sk AS (SELECT source, kmv_sketch256(md5_long60(shingle)) AS sk
               FROM sh GROUP BY source)
        SELECT source,
               CAST(size(sk) AS BIGINT) AS sketch_size,
               kmv_theta(sk, $K) AS theta,
               kmv_estimate(sk, $K) AS est
        FROM sk""").localCheckpoint(true)
      s.catalog.dropTempView("q130_documents")
      out
    }, Some(s"""
      WITH $ranksSql,
      g AS (SELECT source, max(n) AS n,
              max(CASE WHEN rn = $K THEN h END) AS kth
            FROM r GROUP BY 1)
      SELECT source,
             CAST(LEAST(n, $K) AS BIGINT) AS sketch_size,
             CAST(CASE WHEN n >= $K THEN kth
                       ELSE $HashSpaceSql END AS BIGINT) AS theta,
             CASE WHEN n < $K THEN CAST(n AS DOUBLE)
                  ELSE CAST(${K - 1} AS DOUBLE)
                       * CAST($HashSpaceSql AS DOUBLE)
                       / CAST(kth AS DOUBLE) END AS est
      FROM g""")),

    // ---- STREAMING quantile sketch: live per-window percentiles over
    //      ALL rows ("p50/p90 event value per 6 h window") — the last
    //      sketch family to get a streaming twin (KMV q124/q126,
    //      priority q128, freq q134). State per window = two summaries
    //      + a count. Dual regime in one state row: c=1024 is EXACT at
    //      every test SF (≤103 rows/window at sf0.01, ≤902 at sf0.1),
    //      so its p50/p90 are the ⌈q·n⌉ order statistics bit for bit;
    //      c=8 is OVER capacity, its values merge-order-dependent, so
    //      what's emitted is the THEOREM — its own tracked rank bound
    //      audited against the exact-regime summary riding the SAME
    //      state row (the q134 in-stream-reference device, applied to
    //      ranks — no second scan, no value pinning).
    Q("q138_stream_quantile_sketch", (s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val cE = 1024; val cO = 8
      val ev = Tables.eventsUs(s, dir).filter(col("ts").isNotNull)
        .select(floor(col("value") * 1000).cast("long").as("v"), col("ts"))
      val flush = s.range(1).select(lit(0L).as("v"),
        lit(1707091200000000000L).as("ts")) // 2024-02-05T00:00Z
      val tmp = Scratch
        .tempDir("graft-q138").toString
      ev.unionByName(flush).repartition(8)
        .write.mode("overwrite").parquet(tmp)
      val stream = s.readStream.schema(s.read.parquet(tmp).schema).parquet(tmp)
      val agg = stream
        .withColumn("tss", timestamp_micros(expr("ts div 1000")))
        .withWatermark("tss", "10 seconds")
        .groupBy(window(col("tss"), "6 hours").as("w"))
        .agg(Sketches.quantileSketch(col("v"), cE).as("ske"),
          Sketches.quantileSketch(col("v"), cO).as("sko"),
          count(lit(1)).as("n_events"))
      val sink = "q138_sink_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      val q = agg.writeStream.format("memory").queryName(sink)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val out = s.table(sink)
        .select(expr("unix_micros(w.start) * 1000").as("window_ns"),
          col("n_events"),
          Sketches.quantileN(col("ske")).as("n"),
          Sketches.quantileErr(col("ske")).as("b_exact"),
          Sketches.quantileEstimate(col("ske"), 0.5).as("p50"),
          Sketches.quantileEstimate(col("ske"), 0.9).as("p90"),
          Sketches.quantileSizeOk(col("sko"), cO).as("size_ok"),
          Sketches.quantileWithinBoundOk(col("sko"), col("ske"), 0.5)
            .as("p50_bound_ok"),
          Sketches.quantileWithinBoundOk(col("sko"), col("ske"), 0.9)
            .as("p90_bound_ok"))
        .localCheckpoint(true)
      s.catalog.dropTempView(sink)
      out
    }, Some("""
      WITH e AS (SELECT epoch_ns(ts)
                   - ((epoch_ns(ts) % 21600000000000) + 21600000000000)
                     % 21600000000000 AS wns,
                 CAST(floor(value * 1000) AS BIGINT) AS v
                 FROM events WHERE ts IS NOT NULL)
      SELECT wns AS window_ns, CAST(count(*) AS BIGINT) AS n_events,
             CAST(count(*) AS BIGINT) AS n,
             CAST(0 AS BIGINT) AS b_exact,
             CAST((list(v ORDER BY v))
               [CAST(GREATEST(1, ceil(count(*) * 0.5)) AS BIGINT)]
               AS BIGINT) AS p50,
             CAST((list(v ORDER BY v))
               [CAST(GREATEST(1, ceil(count(*) * 0.9)) AS BIGINT)]
               AS BIGINT) AS p90,
             CAST(1 AS BIGINT) AS size_ok,
             CAST(1 AS BIGINT) AS p50_bound_ok,
             CAST(1 AS BIGINT) AS p90_bound_ok
      FROM e GROUP BY 1""")),

    // ---- SLIDING-window frequent items: "top event types over the
    //      trailing 24 h, refreshed every 6 h" — the q126 sliding
    //      device applied to the MG family (each event lands in 4
    //      overlapping windows; state = 4× open windows, each one ≤k
    //      counter array). Dual regime in one state row: k=8 over 5
    //      distinct types is EXACT, so the per-window top-5 CSV is
    //      bit-checkable in DuckDB; k=2 is OVER capacity and audited
    //      against the exact summary riding the same row (q134's
    //      in-stream-reference device).
    Q("q139_stream_sliding_freq", (s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val kO = 2
      val ev = Tables.eventsUs(s, dir).filter(col("ts").isNotNull)
        .select(col("event_type"), col("ts"))
      val flush = s.range(1).select(lit("flush").as("event_type"),
        lit(1707091200000000000L).as("ts")) // 2024-02-05T00:00Z
      val tmp = Scratch
        .tempDir("graft-q139").toString
      ev.unionByName(flush).repartition(8)
        .write.mode("overwrite").parquet(tmp)
      val stream = s.readStream.schema(s.read.parquet(tmp).schema).parquet(tmp)
      val agg = stream
        .withColumn("tss", timestamp_micros(expr("ts div 1000")))
        .withWatermark("tss", "10 seconds")
        .groupBy(window(col("tss"), "24 hours", "6 hours").as("w"))
        .agg(Sketches.freqSketch(col("event_type"), 8).as("skt"),
          Sketches.freqSketch(col("event_type"), kO).as("sk2"),
          count(lit(1)).as("n_events"))
      val sink = "q139_sink_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      val q = agg.writeStream.format("memory").queryName(sink)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val truem = map_from_entries(Sketches.freqItems(col("skt")))
      val out = s.table(sink)
        .select(expr("unix_micros(w.start) * 1000").as("window_ns"),
          col("n_events"),
          Sketches.freqN(col("skt")).as("n"),
          Sketches.freqTopCsv(col("skt"), 5).as("types_csv"),
          (size(Sketches.freqItems(col("sk2"))) <= kO).cast("long")
            .as("size2_ok"),
          Sketches.freqBoundsOk(col("sk2"), truem, kO).as("bounds2_ok"),
          Sketches.freqHeavyRecallOk(col("sk2"), truem, kO).as("heavy2_ok"))
        .localCheckpoint(true)
      s.catalog.dropTempView(sink)
      out
    }, Some("""
      WITH e AS (SELECT epoch_ns(ts)
                   - ((epoch_ns(ts) % 21600000000000) + 21600000000000)
                     % 21600000000000 AS b6, event_type
                 FROM events WHERE ts IS NOT NULL),
      w AS (SELECT b6 - j * 21600000000000 AS wns, event_type
            FROM e, unnest(range(4)) t(j)),
      tc AS (SELECT wns, event_type, count(*) AS c FROM w GROUP BY 1, 2),
      tr AS (SELECT *, row_number() OVER
               (PARTITION BY wns ORDER BY c DESC, event_type ASC) AS rn
             FROM tc),
      t5 AS (SELECT wns,
               string_agg(event_type || ':' || c, ',' ORDER BY rn)
                 AS types_csv
             FROM tr WHERE rn <= 5 GROUP BY 1),
      g AS (SELECT wns, CAST(count(*) AS BIGINT) AS n_events FROM w
            GROUP BY 1)
      SELECT g.wns AS window_ns, g.n_events, g.n_events AS n,
             t5.types_csv,
             CAST(1 AS BIGINT) AS size2_ok,
             CAST(1 AS BIGINT) AS bounds2_ok,
             CAST(1 AS BIGINT) AS heavy2_ok
      FROM g JOIN t5 USING (wns)""")),

    // ---- SLIDING-window quantile sketch: trailing-24h percentiles
    //      refreshed every 6 h — q138's dual-regime state row under
    //      q126's sliding device; with q139 (freq) and q126 (KMV) this
    //      makes the sliding form available across the sketch
    //      families. c=4096 is exact at every test SF (≤ ~3.6k rows
    //      per 24 h window at sf0.1), c=8 is audited in-stream.
    Q("q141_stream_sliding_quantile", (s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val cE = 4096; val cO = 8
      val ev = Tables.eventsUs(s, dir).filter(col("ts").isNotNull)
        .select(floor(col("value") * 1000).cast("long").as("v"), col("ts"))
      val flush = s.range(1).select(lit(0L).as("v"),
        lit(1707091200000000000L).as("ts"))
      val tmp = Scratch
        .tempDir("graft-q141").toString
      ev.unionByName(flush).repartition(8)
        .write.mode("overwrite").parquet(tmp)
      val stream = s.readStream.schema(s.read.parquet(tmp).schema).parquet(tmp)
      val agg = stream
        .withColumn("tss", timestamp_micros(expr("ts div 1000")))
        .withWatermark("tss", "10 seconds")
        .groupBy(window(col("tss"), "24 hours", "6 hours").as("w"))
        .agg(Sketches.quantileSketch(col("v"), cE).as("ske"),
          Sketches.quantileSketch(col("v"), cO).as("sko"),
          count(lit(1)).as("n_events"))
      val sink = "q141_sink_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      val q = agg.writeStream.format("memory").queryName(sink)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val out = s.table(sink)
        .select(expr("unix_micros(w.start) * 1000").as("window_ns"),
          col("n_events"),
          Sketches.quantileN(col("ske")).as("n"),
          Sketches.quantileEstimate(col("ske"), 0.5).as("p50"),
          Sketches.quantileEstimate(col("ske"), 0.9).as("p90"),
          Sketches.quantileSizeOk(col("sko"), cO).as("size_ok"),
          Sketches.quantileWithinBoundOk(col("sko"), col("ske"), 0.5)
            .as("p50_bound_ok"),
          Sketches.quantileWithinBoundOk(col("sko"), col("ske"), 0.9)
            .as("p90_bound_ok"))
        .localCheckpoint(true)
      s.catalog.dropTempView(sink)
      out
    }, Some("""
      WITH e AS (SELECT epoch_ns(ts)
                   - ((epoch_ns(ts) % 21600000000000) + 21600000000000)
                     % 21600000000000 AS b6,
                 CAST(floor(value * 1000) AS BIGINT) AS v
                 FROM events WHERE ts IS NOT NULL),
      w AS (SELECT b6 - j * 21600000000000 AS wns, v
            FROM e, unnest(range(4)) t(j))
      SELECT wns AS window_ns, CAST(count(*) AS BIGINT) AS n_events,
             CAST(count(*) AS BIGINT) AS n,
             CAST((list(v ORDER BY v))
               [CAST(GREATEST(1, ceil(count(*) * 0.5)) AS BIGINT)]
               AS BIGINT) AS p50,
             CAST((list(v ORDER BY v))
               [CAST(GREATEST(1, ceil(count(*) * 0.9)) AS BIGINT)]
               AS BIGINT) AS p90,
             CAST(1 AS BIGINT) AS size_ok,
             CAST(1 AS BIGINT) AS p50_bound_ok,
             CAST(1 AS BIGINT) AS p90_bound_ok
      FROM w GROUP BY 1""")),

    // ---- SLIDING-window priority sample: live trailing-24h weighted
    //      samples + subset-sum estimates beside the exact window sum
    //      — q128 under the sliding device; the fourth family's
    //      sliding form, completing the 4×{batch, tumbling, sliding,
    //      rollup} matrix.
    Q("q142_stream_sliding_priority", (s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val k = 32
      val ev = Tables.eventsUs(s, dir).filter(col("ts").isNotNull)
        .select(col("event_id"), col("ts"),
          floor(col("value") * 100).cast("long").as("w"))
      val flush = s.range(1).select(lit(-1L).as("event_id"),
        lit(1707091200000000000L).as("ts"), lit(0L).as("w"))
      val tmp = Scratch
        .tempDir("graft-q142").toString
      ev.unionByName(flush).repartition(8)
        .write.mode("overwrite").parquet(tmp)
      val stream = s.readStream.schema(s.read.parquet(tmp).schema).parquet(tmp)
      val agg = stream
        .withColumn("tss", timestamp_micros(expr("ts div 1000")))
        .withColumn("h", expr("md5_long60(cast(event_id as string))"))
        .withWatermark("tss", "10 seconds")
        .groupBy(window(col("tss"), "24 hours", "6 hours").as("w"))
        .agg(Sketches.prioritySample(col("h"), col("w"), col("event_id"), k)
            .as("smp"),
          count(lit(1)).as("n_events"),
          sum(col("w")).as("sum_exact"))
      val sink = "q142_sink_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      val q = agg.writeStream.format("memory").queryName(sink)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val out = s.table(sink)
        .select(expr("unix_micros(w.start) * 1000").as("window_ns"),
          col("n_events"),
          Sketches.priorityTau(col("smp"), k).as("tau"),
          Sketches.prioritySubsetSum(col("smp"), k, _ => lit(true))
            .as("est_total"),
          col("sum_exact").cast("long").as("sum_exact"))
        .localCheckpoint(true)
      s.catalog.dropTempView(sink)
      out
    }, Some(s"""
      WITH e0 AS (SELECT epoch_ns(ts)
                    - ((epoch_ns(ts) % 21600000000000) + 21600000000000)
                      % 21600000000000 AS b6,
                  event_id, CAST(floor(value * 100) AS BIGINT) AS w,
                  ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))::BIGINT
                    AS h
                  FROM events WHERE ts IS NOT NULL),
      e AS (SELECT b6 - j * 21600000000000 AS wns, event_id, w, h
            FROM e0, unnest(range(4)) t(j)),
      p AS (SELECT wns, event_id, w,
              CAST(w AS DOUBLE)
                / (CAST(CASE WHEN h <= 0 THEN $HashSpaceSql ELSE h END
                        AS DOUBLE)
                   / CAST($HashSpaceSql AS DOUBLE)) AS pri
            FROM e),
      r AS (SELECT *, row_number() OVER
              (PARTITION BY wns ORDER BY pri DESC, event_id ASC) AS rnk
            FROM p),
      t AS (SELECT wns,
              COALESCE(max(CASE WHEN rnk = 33 THEN pri END),
                       CAST(0 AS DOUBLE)) AS tau
            FROM r GROUP BY 1),
      est AS (SELECT r.wns,
                sum(GREATEST(CAST(r.w AS DOUBLE), t.tau)
                    ORDER BY r.rnk) AS est_total
              FROM r JOIN t USING (wns)
              WHERE r.rnk <= 32 GROUP BY 1),
      ex AS (SELECT wns, CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(w) AS BIGINT) AS sum_exact
             FROM e GROUP BY 1)
      SELECT ex.wns AS window_ns, ex.n_events, t.tau, est.est_total,
             ex.sum_exact
      FROM ex JOIN t USING (wns) JOIN est USING (wns)""")),

    // ---- MG set algebra (q123's device for TOP-K): `freq_union` is a
    //      pure EXPRESSION, so cross-source "top tokens over A ∪ B"
    //      comes from joining twenty PERSISTED kilobyte summaries —
    //      all 190 source pairs, no rescan, no aggregate. The
    //      inequality self-join over sketch rows is the sanctioned
    //      G²-kilobyte BNLJ (corpus-independent by design). Exact
    //      regime at every test SF (combined support 31 ≤ 64), so
    //      every pair's n and top-3 CSV is bit-checked in DuckDB.
    Q("q140_freq_union_algebra", (s, dir) => {
      Tables.documents(s, dir).createOrReplaceTempView("q140_documents")
      val out = s.sql("""
        WITH tok AS (SELECT source, explode(split(text, ' ')) AS tok
                     FROM q140_documents),
        sk AS (SELECT source, freq_sketch64(tok) AS sk
               FROM tok GROUP BY source)
        SELECT a.source AS sa, b.source AS sb,
               freq_n(freq_union(a.sk, b.sk, 64)) AS n_tokens,
               freq_top_csv(freq_union(a.sk, b.sk, 64), 3) AS top3
        FROM sk a JOIN sk b ON a.source < b.source""").localCheckpoint(true)
      s.catalog.dropTempView("q140_documents")
      out
    }, Some("""
      WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS tok
                   FROM documents),
      c AS (SELECT source, tok, count(*) AS c FROM tok GROUP BY 1, 2),
      src AS (SELECT DISTINCT source FROM documents),
      p AS (SELECT a.source AS sa, b.source AS sb
            FROM src a JOIN src b ON a.source < b.source),
      u AS (SELECT p.sa, p.sb, c.tok, CAST(sum(c.c) AS BIGINT) AS c
            FROM p JOIN c ON c.source IN (p.sa, p.sb)
            GROUP BY 1, 2, 3),
      r AS (SELECT *, row_number() OVER
              (PARTITION BY sa, sb ORDER BY c DESC, tok ASC) AS rn
            FROM u),
      t3 AS (SELECT sa, sb,
               string_agg(tok || ':' || c, ',' ORDER BY rn) AS top3
             FROM r WHERE rn <= 3 GROUP BY 1, 2),
      n AS (SELECT sa, sb, CAST(sum(c) AS BIGINT) AS n_tokens
            FROM u GROUP BY 1, 2)
      SELECT n.sa, n.sb, n.n_tokens, t3.top3
      FROM n JOIN t3 USING (sa, sb)""")),

    // ---- the ROUND-10 SQL SURFACE: frequent-items + quantile
    //      summaries and the persisted-sketch MERGE aggregates as one
    //      spark.sql STRING — freq_sketch64/freq_n/freq_top_csv,
    //      quantile_sketch512/quantile_estimate/quantile_n/
    //      quantile_rank_bound, and kmv_merge64 rolling per-(source,
    //      lang) sketches up per source — no Scala column API anywhere
    //      (the q130 device extended to every round-10 sketch family).
    //      All three summaries are in the EXACT regime at test SFs
    //      (per-source vocab ~31 ≤ 64, docs/source ≤ 250 ≤ 512), so
    //      every output column is bit-checkable in DuckDB: exact
    //      counts, the ⌈q·n⌉ order statistics, rank_bound = 0+1, and
    //      vocab_est = exact distinct (k-min union of exact parts is
    //      exact).
    Q("q137_freq_quantile_sql_surface", (s, dir) => {
      Tables.documents(s, dir).createOrReplaceTempView("q137_documents")
      val out = s.sql("""
        WITH tok AS (
          SELECT source, lang, explode(split(text, ' ')) AS tok
          FROM q137_documents),
        f AS (SELECT source, freq_sketch64(tok) AS fsk
              FROM tok GROUP BY source),
        d AS (SELECT source,
                quantile_sketch512(CAST(n_chars AS BIGINT)) AS qsk
              FROM q137_documents GROUP BY source),
        l AS (SELECT source, lang, kmv_sketch64(md5_long60(tok)) AS sk
              FROM tok GROUP BY source, lang),
        m AS (SELECT source, kmv_estimate(kmv_merge64(sk), 64) AS vocab_est
              FROM l GROUP BY source)
        SELECT f.source,
               freq_n(fsk) AS n_tokens,
               freq_top_csv(fsk, 5) AS top5,
               quantile_n(qsk) AS n_docs,
               quantile_estimate(qsk, 0.5) AS p50_chars,
               quantile_estimate(qsk, 0.9) AS p90_chars,
               quantile_rank_bound(qsk) AS rank_bound,
               m.vocab_est
        FROM f JOIN d ON f.source = d.source
               JOIN m ON f.source = m.source""").localCheckpoint(true)
      s.catalog.dropTempView("q137_documents")
      out
    }, Some("""
      WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS tok
                   FROM documents),
      c AS (SELECT source, tok, count(*) AS c FROM tok GROUP BY 1, 2),
      r AS (SELECT *, row_number() OVER
              (PARTITION BY source ORDER BY c DESC, tok ASC) AS rn
            FROM c),
      t5 AS (SELECT source,
               string_agg(tok || ':' || c, ',' ORDER BY rn) AS top5
             FROM r WHERE rn <= 5 GROUP BY 1),
      g AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
              CAST(count(*) AS DOUBLE) AS vocab_est
            FROM c GROUP BY 1),
      d AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
              CAST((list(n_chars ORDER BY n_chars))
                [CAST(GREATEST(1, ceil(count(*) * 0.5)) AS BIGINT)]
                AS BIGINT) AS p50_chars,
              CAST((list(n_chars ORDER BY n_chars))
                [CAST(GREATEST(1, ceil(count(*) * 0.9)) AS BIGINT)]
                AS BIGINT) AS p90_chars
            FROM documents GROUP BY 1)
      SELECT g.source, g.n_tokens, t5.top5, d.n_docs, d.p50_chars,
             d.p90_chars, CAST(1 AS BIGINT) AS rank_bound, g.vocab_est
      FROM g JOIN t5 USING (source) JOIN d USING (source)"""))
  )
}
