package perfbench

import org.apache.spark.sql.SparkSession

/** One benchmark workload: inputs generated from the seed, a cold build,
  * and a closed-loop mix of checked operations.
  */
trait Workload {
  /** Generates the inputs of the seed under `dir`. */
  def generate(dir: String): Unit

  /** Builds the stores from the generated inputs, cold, into the fresh
    * directory `dir`. The last build is the one served.
    */
  def build(dir: String): Unit

  /** Computes the expected answers the checks compare against (untimed),
    * after the last [[build]].
    */
  def prepare(): Unit

  /** Operations in one round of the mix. */
  def cycle: Int

  /** Nominal seconds of one round on 4 cores: a run measures
    * `--seconds` ÷ this many whole rounds.
    */
  def roundSeconds: Double

  /** Untimed calls of each read type of the mix. */
  def warmUp(): Unit

  /** Runs the next operation of the mix. */
  def step(): Unit

  /** Checksum of the generated inputs of this seed. */
  def inputChecksum: String

  /** Bytes on disk of the stores ÷ bytes of the generated input. */
  def spaceAmp: Double

  /** Workload-specific per-layer metrics of the traced run. */
  def layerMetrics(): Map[String, Double]

  /** Replaces one expected value by a wrong one (self-test of the checks). */
  def plantWrong(): Unit
}

object Workload {
  def apply(name: String, spark: SparkSession, c: Client, seed: Long): Workload =
    name match {
      case "seismic" => new SeismicWorkload(spark, c, seed)
      case "lexical" => new LexicalWorkload(spark, c, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
}
