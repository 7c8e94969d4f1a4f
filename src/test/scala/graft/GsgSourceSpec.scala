package graft

import graft.sources.BinarySegmentSource.{Segment, recordBytes, writeFile, writeMultiRecordFile}
import graft.sources.MiniSeed
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path}
import scala.collection.JavaConverters._

/** The gsg DataSource V2: record-boundary split planning, small-file
  * coalescing, in-reader column pruning and header filter pushdown.
  * The contract cases every segment format shares (listing, coalescing,
  * staged writes, truncation) run once per format.
  */
class GsgSourceSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): Path = Files.createTempDirectory("gsg")

  private def seg(net: String, sta: String, cha: String, t0: Long,
                  n: Int, fill: Double): Segment =
    Segment(net, sta, "", cha, t0, 10L, Array.fill(n)(fill), "")

  /** The formats of the shared segment source. */
  private val Formats = Seq("gsg", "mseed")

  /** Time unit of a format's fixtures: miniSEED keeps start times on a
    * 100 µs grid, so its fixtures scale the small integer times.
    */
  private def grid(fmt: String): Long = if (fmt == "mseed") 100000L else 1L

  /** One record (file) of `s` in the format's own framing. */
  private def fixture(fmt: String, s: Segment): Array[Byte] = fmt match {
    case "gsg" => recordBytes(s)
    case "mseed" => MiniSeed.encode(s.network, s.station, s.location,
      s.channel, s.starttime * grid(fmt), s.sampling_period, s.samples)
  }

  private def scanOf(df: org.apache.spark.sql.Dataset[_]): BatchScanExec =
    df.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b
    }.getOrElse(fail("no BatchScanExec in plan: " +
      df.queryExecution.executedPlan.treeString))

  test("multi-record files round-trip with exact samples") {
    val dir = tmp()
    writeMultiRecordFile(dir.resolve("multi.gsg"), Seq(
      seg("N1", "S1", "BHZ", 0L, 100, 1.5),
      seg("N1", "S2", "BHN", 1000L, 50, 2.5),
      seg("N2", "S3", "HHZ", 2000L, 75, 3.5)))
    writeFile(dir.resolve("single.gsg"), seg("N3", "S4", "EHZ", 99L, 10, 9.0))

    val df = spark.read.format("gsg").load(dir.toString)
    assert(df.count() == 4)
    val r = df.filter($"station" === "S2").collect().head
    assert(r.getAs[Long]("starttime") == 1000L)
    val xs = r.getAs[scala.collection.Seq[Double]]("samples")
    assert(xs.length == 50 && xs.forall(_ == 2.5))
    assert(r.getAs[String]("path").endsWith("multi.gsg"))
  }

  test("oversized files split at record boundaries into parallel tasks") {
    val dir = tmp()
    // 40 records × (56 + 8*500) ≈ 162 KB; cap partitions at 16 KB
    writeMultiRecordFile(dir.resolve("big.gsg"),
      (0 until 40).map(i => seg("N1", "S1", "BHZ", i * 1000L, 500, i.toDouble)))
    spark.conf.set("spark.sql.files.maxPartitionBytes", (16 * 1024).toString)
    try {
      val df = spark.read.format("gsg").load(dir.toString)
      assert(df.rdd.getNumPartitions > 4,
        s"expected many splits, got ${df.rdd.getNumPartitions}")
      assert(df.count() == 40)
      // every record lands exactly once with its own payload
      val sums = df.select($"starttime",
        aggregate($"samples", lit(0.0), (a, x) => a + x).as("s"))
        .as[(Long, Double)].collect().toMap
      assert(sums(7000L) == 7.0 * 500)
      assert(sums.size == 40)
    } finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
  }

  test("small files coalesce into few partitions") {
    Formats.foreach { fmt => withClue(s"[$fmt] ") {
      val dir = tmp()
      (0 until 60).foreach(i => Files.write(dir.resolve(f"f$i%03d.$fmt"),
        fixture(fmt, seg("N1", s"S$i", "BHZ", i, 5, 1.0))))
      val df = spark.read.format(fmt).load(dir.toString)
      assert(df.count() == 60)
      assert(df.rdd.getNumPartitions <= 4,
        s"60 tiny files should share tasks, got ${df.rdd.getNumPartitions}")
    }}
  }

  test("column pruning drops samples from the read schema") {
    val dir = tmp()
    writeMultiRecordFile(dir.resolve("m.gsg"),
      (0 until 10).map(i => seg("N1", "S1", "BHZ", i * 100L, 1000, 1.0)))
    val q = spark.read.format("gsg").load(dir.toString)
      .select("network", "station", "starttime")
    val scan = scanOf(q)
    assert(!scan.scan.readSchema().fieldNames.contains("samples"),
      scan.scan.readSchema().simpleString)
    assert(q.count() == 10)
  }

  test("header filters push down and results stay exact") {
    val dir = tmp()
    writeMultiRecordFile(dir.resolve("m.gsg"), Seq(
      seg("N1", "S1", "BHZ", 100L, 10, 1.0),
      seg("N1", "S2", "BHZ", 200L, 10, 2.0),
      seg("N2", "S3", "BHZ", 300L, 10, 3.0)))
    val q = spark.read.format("gsg").load(dir.toString)
      .filter($"network" === "N1" && $"starttime" >= 150L)
    val desc = scanOf(q).scan.description()
    assert(desc.contains("PushedFilters") && desc.contains("network"), desc)
    val rows = q.collect()
    assert(rows.length == 1 && rows.head.getAs[String]("station") == "S2")
  }

  test("corrupt files and corrupt tails skip permissively") {
    val dir = tmp()
    writeFile(dir.resolve("good.gsg"), seg("N1", "S1", "BHZ", 0L, 10, 1.0))
    Files.write(dir.resolve("garbage.gsg"),
      Array.fill[Byte](200)(0x42))
    // good record followed by a truncated one
    val goodBytes = graft.sources.BinarySegmentSource.recordBytes(
      seg("N1", "S9", "BHZ", 5L, 10, 1.0))
    val truncated = graft.sources.BinarySegmentSource.recordBytes(
      seg("N1", "S8", "BHZ", 6L, 100, 2.0)).take(100)
    Files.write(dir.resolve("tail.gsg"), goodBytes ++ truncated)
    val df = spark.read.format("gsg").load(dir.toString)
    val stations = df.select("station").as[String]
    assert(stations.collect().toSet == Set("S1", "S9"))
    // both rejects are warned AND counted: the garbage file and the
    // torn tail land in the dir's skip counters and the scan's metric
    val (recs, _) = graft.sources.SegmentSource.skipCounters("gsg", dir.toString)
    assert(recs.value >= 2, s"skippedRecords = ${recs.value}")
    val skipped = scanOf(stations).metrics("gsgSkippedRecords").value
    assert(skipped > 0, s"gsgSkippedRecords = $skipped")
  }

  test("summaryIndexV2 prunes to a header-only scan and matches summaryIndex") {
    val dir = tmp()
    // single-record files: the legacy summarize reads one header per
    // file, so this is the comparable surface (multi-record files are
    // covered above and are V2-only)
    writeFile(dir.resolve("a.gsg"), seg("N1", "S1", "BHZ", 0L, 100, 1.0))
    writeFile(dir.resolve("b.gsg"), seg("N1", "S2", "BHN", 500L, 200, 2.0))
    val v2 = graft.sources.BinarySegmentSource.summaryIndexV2(spark, dir.toString)
    val scan = scanOf(v2)
    assert(!scan.scan.readSchema().fieldNames.contains("samples"),
      scan.scan.readSchema().simpleString)
    val cols = Seq("network", "station", "location", "channel",
      "starttime", "sampling_period", "endtime")
    val a = v2.select(cols.map(col): _*).collect().map(_.mkString("|")).sorted
    val b = graft.sources.BinarySegmentSource.summaryIndex(spark, dir.toString)
      .select(cols.map(col): _*).collect().map(_.mkString("|")).sorted
    assert(a.toSeq == b.toSeq && a.length == 2)
    assert(v2.filter($"station" === "S2").select("endtime").as[Long].head() ==
      500L + 200L * 10L)
  }

  test("corrupt magic with negative sample count cannot hang planning") {
    val dir = tmp()
    // valid magic, garbage fields with n = -7: header parse must reject
    val bad = java.nio.ByteBuffer.allocate(56 + 100)
      .put("GSG1".getBytes("ASCII"))
      .put(Array.fill[Byte](32)(' '.toByte))
      .putLong(0L).putLong(10L).putInt(-7)
      .array()
    Files.write(dir.resolve("neg.gsg"), bad)
    writeFile(dir.resolve("ok.gsg"), seg("N1", "S1", "BHZ", 0L, 10, 1.0))
    // force the split planner's header-hop over the corrupt file too
    spark.conf.set("spark.sql.files.maxPartitionBytes", "64")
    try {
      val df = spark.read.format("gsg").load(dir.toString)
      assert(df.select("station").as[String].collect().toSeq == Seq("S1"))
    } finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
  }

  test("write: df.write round-trips losslessly through the V2 sink") {
    val dir = tmp()
    val rows = Seq(
      ("N1", "S1", "", "BHZ", 0L, 10L, Array.tabulate(100)(_.toDouble)),
      ("N1", "S2", "00", "BHN", 1000L, 20L, Array(1.5, -2.5, 3.25)),
      ("N2", "S3", "", "HHZ", -5L, 1L, Array.empty[Double]))
    rows.toDF("network", "station", "location", "channel",
        "starttime", "sampling_period", "samples")
      .write.format("gsg").mode("append").save(dir.toString)
    // no staged leftovers; published files follow the part-*.gsg shape
    // (dot-files are the local FS's checksum sidecars, invisible to
    // readers like any hidden path)
    val names = Files.list(dir).iterator().asScala.map(_.getFileName.toString)
      .filterNot(_.startsWith(".")).toSeq
    assert(names.nonEmpty && names.forall(n =>
      n.startsWith("part-") && n.endsWith(".gsg")), names.mkString(","))
    assert(!names.exists(_.contains("staged")), names.mkString(","))
    val back = spark.read.format("gsg").load(dir.toString)
      .select("network", "station", "location", "channel",
        "starttime", "sampling_period", "samples")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4), r.getLong(5),
        r.getAs[scala.collection.Seq[Double]](6).toSeq)).toSet
    assert(back == rows.map(t => (t._1, t._2, t._3, t._4, t._5, t._6,
      t._7.toSeq)).toSet)
  }

  test("write: files roll at maxFileBytes on record boundaries; reader split-plans them") {
    val dir = tmp()
    // 30 records x ~4 KB, one writer task, 12 KB roll target ->
    // several multi-record files, each a valid record chain
    (0 until 30).map(i => ("N1", "S1", "", "BHZ", i * 1000L, 10L,
        Array.fill(500)(i.toDouble)))
      .toDF("network", "station", "location", "channel",
        "starttime", "sampling_period", "samples")
      .coalesce(1)
      .write.format("gsg").option("maxFileBytes", (12 * 1024).toString)
      .mode("append").save(dir.toString)
    val files = Files.list(dir).iterator().asScala.toSeq
    assert(files.size > 5, s"expected rolled files, got ${files.size}")
    spark.conf.set("spark.sql.files.maxPartitionBytes", (8 * 1024).toString)
    try {
      val df = spark.read.format("gsg").load(dir.toString)
      assert(df.count() == 30)
      val sums = df.select($"starttime",
        aggregate($"samples", lit(0.0), (a, x) => a + x).as("s"))
        .as[(Long, Double)].collect().toMap
      assert(sums.size == 30 && sums(7000L) == 7.0 * 500)
    } finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
  }

  test("write: append accumulates, overwrite truncates atomically") {
    val dir = tmp()
    def put(sta: String, mode: String): Unit =
      Seq(("N1", sta, "", "BHZ", 0L, 10L, Array(1.0)))
        .toDF("network", "station", "location", "channel",
          "starttime", "sampling_period", "samples")
        .write.format("gsg").mode(mode).save(dir.toString)
    put("S1", "append"); put("S2", "append")
    val stations = () => spark.read.format("gsg").load(dir.toString)
      .select("station").as[String].collect().toSet
    assert(stations() == Set("S1", "S2"))
    put("S3", "overwrite")
    assert(stations() == Set("S3"))
  }

  test("write: overwrite truncates recursively — subdirectory files don't survive") {
    Formats.foreach { fmt => withClue(s"[$fmt] ") {
      val dir = tmp()
      // the scan walks subdirectories; truncate must purge them too or a
      // nested segment would re-surface after an overwrite
      val sub = dir.resolve("nested")
      Files.createDirectories(sub)
      Files.write(sub.resolve(s"old.$fmt"),
        fixture(fmt, seg("N1", "OLD", "BHZ", 0L, 4, 1.0)))
      val all = () => spark.read.format(fmt).load(dir.toString)
        .select("station").as[String].collect().toSet
      assert(all() == Set("OLD"))
      Seq(("N1", "NEW", "", "BHZ", 0L, 10L, Array(1.0)))
        .toDF("network", "station", "location", "channel",
          "starttime", "sampling_period", "samples")
        .write.format(fmt).mode("overwrite").save(dir.toString)
      assert(all() == Set("NEW"))
    }}
  }

  test("write: codes that cannot round-trip fail fast instead of truncating") {
    val dir = tmp()
    val e = intercept[Exception] {
      Seq(("N1", "STATION_NINE", "", "BHZ", 0L, 10L, Array(1.0)))
        .toDF("network", "station", "location", "channel",
          "starttime", "sampling_period", "samples")
        .write.format("gsg").mode("append").save(dir.toString)
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(c => c.isInstanceOf[IllegalArgumentException] &&
      c.getMessage.contains("not storable")), e.toString)
    // failed job published nothing
    val df = spark.read.format("gsg").load(dir.toString)
    assert(df.count() == 0)
  }

  test("write: extreme sample values round-trip bit-exactly; empty arrays survive") {
    val dir = tmp()
    val weird = Array(Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, -0.0, 0.0, Double.MinPositiveValue,
      4.9e-310, // subnormal
      Double.MaxValue, -Double.MaxValue, math.Pi)
    Seq(
      (1L, "N1", "S1", "", "BHZ", 5L, 10L, weird),
      (2L, "N1", "S2", "", "BHZ", 6L, 10L, Array.empty[Double]))
      .toDF("k", "network", "station", "location", "channel",
        "starttime", "sampling_period", "samples")
      .drop("k")
      .write.format("gsg").mode("append").save(dir.toString)
    val back = spark.read.format("gsg").load(dir.toString)
      .select("station", "samples")
      .as[(String, Array[Double])].collect().toMap
    assert(back("S2").isEmpty)
    assert(back("S1").map(java.lang.Double.doubleToRawLongBits).toSeq ==
      weird.map(java.lang.Double.doubleToRawLongBits).toSeq)
  }

  test("write: concurrent appends both land; staged files are invisible to readers") {
    Formats.foreach { fmt => withClue(s"[$fmt] ") {
      val dir = tmp()
      // a leftover staged file with VALID record bytes (a crashed writer)
      // must never surface in a scan — hidden-path contract
      Files.write(dir.resolve(s".staged-dead-writer-0.$fmt"),
        fixture(fmt, seg("NX", "GHOST", "BHZ", 0L, 10, 6.66)))
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      val latch = new java.util.concurrent.CountDownLatch(1)
      val errs = java.util.Collections.synchronizedList(
        new java.util.ArrayList[Throwable]())
      (0 until 2).foreach { w =>
        pool.submit(new Runnable {
          override def run(): Unit = {
            latch.await()
            try Seq(("N1", s"W$w", "", "BHZ", w * grid(fmt), 10L, Array(w.toDouble)))
              .toDF("network", "station", "location", "channel",
                "starttime", "sampling_period", "samples")
              .write.format(fmt).mode("append").save(dir.toString)
            catch { case e: Throwable => errs.add(e) }
          }
        })
      }
      latch.countDown()
      pool.shutdown()
      assert(pool.awaitTermination(120, java.util.concurrent.TimeUnit.SECONDS))
      assert(errs.isEmpty, errs.toString)
      val stations = spark.read.format(fmt).load(dir.toString)
        .select("station").as[String].collect().toSet
      assert(stations == Set("W0", "W1"), stations.toString) // no GHOST
    }}
  }

  test("modifiedAfterMs prunes stale files from the listing") {
    Formats.foreach { fmt => withClue(s"[$fmt] ") {
      val dir = tmp()
      val (old, young) = (dir.resolve(s"old.$fmt"), dir.resolve(s"new.$fmt"))
      Files.write(old, fixture(fmt, seg("N1", "S1", "BHZ", 0L, 10, 1.0)))
      Files.setLastModifiedTime(old,
        java.nio.file.attribute.FileTime.fromMillis(1000L))
      Files.write(young, fixture(fmt, seg("N1", "S2", "BHZ", 0L, 10, 2.0)))
      Files.setLastModifiedTime(young,
        java.nio.file.attribute.FileTime.fromMillis(50000L))
      val fresh = spark.read.format(fmt)
        .option("modifiedAfterMs", "10000").load(dir.toString)
      assert(fresh.select("station").as[String].collect().toSeq == Seq("S2"))
      val all = spark.read.format(fmt)
        .option("modifiedAfterMs", "10").load(dir.toString)
      assert(all.count() == 2)
    }}
  }

  test("matches the binaryFile-based readSegments on a mixed archive") {
    val dir = tmp()
    (0 until 10).foreach(i =>
      writeFile(dir.resolve(f"f$i.gsg"), seg("N1", s"S$i", "BHZ", i * 7L, 20, i)))
    val v2 = spark.read.format("gsg").load(dir.toString)
      .select("network", "station", "location", "channel", "starttime",
        "sampling_period", "samples")
      .collect().map(_.mkString("|")).sorted.toSeq
    val v1 = graft.sources.BinarySegmentSource.readSegments(spark, dir.toString)
      .toDF()
      .select("network", "station", "location", "channel", "starttime",
        "sampling_period", "samples")
      .collect().map(_.mkString("|")).sorted.toSeq
    assert(v2 == v1 && v2.size == 10)
  }
}
