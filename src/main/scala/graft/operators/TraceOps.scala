package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sample-array operations on trace rows (seed_id, sampling_period,
  * starttime, samples) — the reference's output-stream preparation
  * (`wavebank.py:783-798` trim step) and decimation, as pure Column
  * array math (slice/transform run inside codegen; no per-row JVM
  * callback, samples never leave the executor).
  */
object TraceOps {

  /** Trim each trace to the window [t1, t2] (inclusive sample times).
    * Rows whose trimmed sample set is empty are dropped. An `endtime`
    * column, when present, is recomputed from the trimmed samples (end
    * exclusive, as the stitch writes it). Integer ns arithmetic
    * throughout (doubles cannot index ns-grade grids).
    */
  def trim(df: DataFrame, t1: Long, t2: Long): DataFrame = {
    val trimmed = df.withColumn("_i0", expr(
        s"IF($t1 <= starttime, 0L, ($t1 - starttime + sampling_period - 1) div sampling_period)"))
      .withColumn("_i1", expr(
        s"least(CAST(size(samples) - 1 AS BIGINT), ($t2 - starttime) div sampling_period)"))
      .filter(col("_i1") >= col("_i0"))
      .withColumn("starttime", col("starttime") + col("_i0") * col("sampling_period"))
      .withColumn("samples", expr(
        "slice(samples, CAST(_i0 + 1 AS INT), CAST(_i1 - _i0 + 1 AS INT))"))
      .drop("_i0", "_i1")
    if (!df.columns.contains("endtime")) trimmed
    else trimmed.withColumn("endtime", col("starttime") +
      size(col("samples")).cast("long") * col("sampling_period"))
  }

  /** Keep every `factor`-th sample; sampling_period scales by factor
    * (plain decimation without an anti-alias filter — the filter is a
    * numeric kernel callers apply upstream if needed).
    */
  def decimate(df: DataFrame, factor: Int): DataFrame = {
    require(factor >= 1)
    df.withColumn("samples", expr(
        s"transform(sequence(0, (size(samples) - 1) div $factor), i -> samples[i * $factor])"))
      .withColumn("sampling_period", col("sampling_period") * factor)
  }
}
