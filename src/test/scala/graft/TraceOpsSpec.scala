package graft

import graft.operators.TraceOps

class TraceOpsSpec extends SparkSpec {
  import spark.implicits._

  private def trace = Seq(
    ("N.S..Z", 10L, 0L, (0 until 10).map(i => i.toDouble).toArray))
    .toDF("seed_id", "sampling_period", "starttime", "samples")

  test("trim keeps samples inside the window and realigns starttime") {
    val out = TraceOps.trim(trace, 25L, 65L).collect()
    assert(out.length == 1)
    assert(out(0).getAs[Long]("starttime") == 30L)
    assert(out(0).getAs[scala.collection.Seq[Double]]("samples").toSeq ==
      Seq(3.0, 4.0, 5.0, 6.0)) // sample times 30,40,50,60
  }

  test("trim boundary inclusivity and superset window no-op") {
    val exact = TraceOps.trim(trace, 30L, 60L).collect()(0)
    assert(exact.getAs[scala.collection.Seq[Double]]("samples").length == 4)
    val full = TraceOps.trim(trace, -100L, 1000L).collect()(0)
    assert(full.getAs[scala.collection.Seq[Double]]("samples").length == 10)
    assert(full.getAs[Long]("starttime") == 0L)
  }

  test("trim drops traces entirely outside the window") {
    assert(TraceOps.trim(trace, 200L, 300L).count() == 0)
    assert(TraceOps.trim(trace, -50L, -10L).count() == 0)
  }

  test("decimate keeps every Nth sample and scales the period") {
    val out = TraceOps.decimate(trace, 3).collect()(0)
    assert(out.getAs[Long]("sampling_period") == 30L)
    assert(out.getAs[scala.collection.Seq[Double]]("samples").toSeq ==
      Seq(0.0, 3.0, 6.0, 9.0))
  }

  test("scalar getWaveforms trims to the requested window") {
    val root = java.nio.file.Files.createTempDirectory("graft-trim").toString
    val bank = new graft.bank.WaveBank(spark, root)
    bank.putWaveforms(Seq(("N1", "S1", "", "BHZ", 0L, 10L,
        (0 until 100).map(_.toDouble).toArray))
      .toDF("network", "station", "location", "channel",
            "starttime", "sampling_period", "samples"))
    val out = bank.getWaveforms("N1", "S1", "", "BHZ", 250L, 500L).collect()
    assert(out.length == 1)
    assert(out(0).getAs[Long]("starttime") == 250L)
    assert(out(0).getAs[scala.collection.Seq[Double]]("samples").length == 26)
    assert(out(0).getAs[Long]("endtime") == 510L)
  }
}
