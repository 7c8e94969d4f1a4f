package graft

import graft.bank.WaveBank
import graft.operators.Intervals
import graft.sources.MiniSeedInputPartition
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._

/** Plan pins of the index-pruned point read: the index names the
  * segment files a scalar `getWaveforms` decodes, and the stitch costs
  * one exchange.
  */
class WaveReadPlanSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._
  import WaveArchives.{P, T0}

  /** Four puts of one station each: at least four segment files, and a
    * one-station request can match only that station's files.
    */
  private def fourStationBank(format: String): WaveBank = {
    val b = new WaveBank(spark,
      java.nio.file.Files.createTempDirectory(s"plan-$format").toString,
      segmentFormat = format)
    (1 to 4).foreach { k =>
      b.putWaveforms(Seq("BHZ", "BHN").map(ch =>
          ("N1", s"S$k", "", ch, T0, P, Array.tabulate(3000)(i => k * 10000 + i + 0.5)))
        .toDF("network", "station", "location", "channel",
          "starttime", "sampling_period", "samples"))
    }
    b
  }

  private def executed(df: DataFrame): (Array[org.apache.spark.sql.Row], Seq[SparkPlan]) = {
    val rows = df.collect()
    (rows, collect(df.queryExecution.executedPlan) { case n => n })
  }

  private val (t1, t2) = (T0 + 1200 * P, T0 + 1500 * P)

  private def matchedPaths(b: WaveBank): Set[String] =
    b.indexDf.filter(col("station") === "S2" && col("channel") === "BHZ" &&
        Intervals.overlaps(t1, t2, b.bufferNs))
      .select("path").as[String].collect().toSet

  test("mseed getWaveforms: requested seed only, one exchange, only the matched files decoded") {
    val b = fourStationBank("mseed")
    val allFiles = b.indexDf.select("path").distinct().count()
    assert(allFiles >= 4)
    val matched = matchedPaths(b)
    assert(matched.nonEmpty && matched.size < allFiles)

    val df = b.getWaveforms("N1", "S2", "", "BHZ", t1, t2)
    assert(!df.queryExecution.optimizedPlan.exists {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j.joinType == LeftSemi
      case _ => false
    })
    val (rows, nodes) = executed(df)
    assert(rows.map(_.getAs[String]("seed_id")).toSet == Set("N1.S2..BHZ"))
    assert(rows.map(_.getAs[scala.collection.Seq[Double]]("samples").length).sum == 301)
    assert(nodes.count(_.isInstanceOf[ShuffleExchangeLike]) == 1,
      df.queryExecution.executedPlan.treeString)
    assert(!nodes.exists {
      case j: BaseJoinExec => j.joinType == LeftSemi
      case _ => false
    })
    val scanned = nodes.collect { case s: BatchScanExec => s }
      .flatMap(_.inputPartitions).flatMap {
        case p: MiniSeedInputPartition => p.slices.map(_.path).toSeq
        case p => fail(s"unexpected partition $p")
      }.toSet
    assert(scanned == matched)
  }

  test("parquet getWaveforms: the file scan lists only the matched files") {
    val b = fourStationBank("parquet")
    val matched = matchedPaths(b)
    assert(matched.nonEmpty &&
      matched.size < b.indexDf.select("path").distinct().count())
    val df = b.getWaveforms("N1", "S2", "", "BHZ", t1, t2)
    val (rows, nodes) = executed(df)
    assert(rows.map(_.getAs[String]("seed_id")).toSet == Set("N1.S2..BHZ"))
    val scans = nodes.collect { case s: FileSourceScanExec => s }
    assert(scans.nonEmpty)
    assert(scans.map(_.metrics("numFiles").value).sum == matched.size)
    assert(nodes.count(_.isInstanceOf[ShuffleExchangeLike]) == 1)
  }
}
