package graft

import graft.bank.WaveBank
import graft.sources.MiniSeed
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path}

/** The mseed DataSource V2 over real miniSEED bytes: V2 sink → scan
  * round trips, arithmetic split planning, header-only pruning with
  * full-decode parity, filter pushdown, permissive corruption, and the
  * WaveBank(segmentFormat = "mseed") end-to-end surface.
  */
class MiniSeedSourceSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): Path = Files.createTempDirectory("mseed")

  private val T0 = 1_600_000_000_000_000_000L // on the 100 µs grid
  private val P100Hz = 10_000_000L            // 100 Hz in ns/sample

  private def seg(net: String, sta: String, cha: String, t0: Long, n: Int,
                  f: Int => Double) =
    (net, sta, "", cha, t0, P100Hz, Array.tabulate(n)(f))

  private def write(dir: Path, rows: Seq[(String, String, String, String, Long, Long, Array[Double])],
                    mode: String = "append", options: Map[String, String] = Map.empty): Unit = {
    val w = rows.toDF("network", "station", "location", "channel",
      "starttime", "sampling_period", "samples")
      .write.format("mseed").mode(mode)
    options.foreach { case (k, v) => w.option(k, v) }
    w.save(dir.toString)
  }

  private def scanOf(df: org.apache.spark.sql.Dataset[_]): BatchScanExec =
    df.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b
    }.getOrElse(fail("no BatchScanExec in plan: " +
      df.queryExecution.executedPlan.treeString))

  test("sink → scan round trip: real mseed records, exact samples, visible part files") {
    val dir = tmp()
    write(dir, Seq(
      seg("N1", "S1", "BHZ", T0, 1000, i => math.rint(math.sin(i / 9.0) * 500)),
      seg("N1", "S2", "BHN", T0 + 60L * 1_000_000_000L, 700, _.toDouble),
      seg("N2", "S3", "HHZ", T0, 300, i => (i % 17).toDouble)))

    // the archive is REAL miniSEED an external SEED tool can read:
    // visible part files whose bytes parse as records
    val names = Files.list(dir).iterator()
    var files = List.empty[Path]
    while (names.hasNext) { val p = names.next(); if (!p.getFileName.toString.startsWith(".")) files ::= p }
    assert(files.nonEmpty && files.forall(_.getFileName.toString.endsWith(".mseed")))
    val bytes = Files.readAllBytes(files.head)
    assert(bytes.length % 512 == 0)
    assert(MiniSeed.parseRecordHeader(bytes, 0).isDefined)

    val df = spark.read.format("mseed").load(dir.toString)
    // records fragment segments; per station the concatenation is exact
    val back = df.orderBy("starttime")
      .groupBy("network", "station", "channel")
      .agg(min("starttime").as("t0"),
        sum("n_samples").as("n"),
        flatten(sort_array(collect_list(struct($"starttime", $"samples"))
          .cast("array<struct<starttime:long,samples:array<double>>>"))
          .getField("samples")).as("all"))
      .collect().map(r => r.getAs[String]("station") -> r).toMap
    assert(back("S1").getAs[Long]("n") == 1000L)
    assert(back("S1").getAs[scala.collection.Seq[Double]]("all") ==
      Array.tabulate(1000)(i => math.rint(math.sin(i / 9.0) * 500)).toSeq)
    assert(back("S2").getAs[Long]("t0") == T0 + 60L * 1_000_000_000L)
    assert(back("S2").getAs[scala.collection.Seq[Double]]("all") ==
      Array.tabulate(700)(_.toDouble).toSeq)
    assert(back("S3").getAs[scala.collection.Seq[Double]]("all") ==
      Array.tabulate(300)(i => (i % 17).toDouble).toSeq)
  }

  test("rolled files restart record sequence numbers at 000001") {
    val dir = tmp()
    // several segments with a tiny roll threshold: every segment rolls
    // to a fresh file after writing, so any seq-reset bug shows up as a
    // non-000001 first record in file 2+
    write(dir, (0 until 6).map(k =>
      seg("N1", "S1", "BHZ", T0 + k * 100L * P100Hz, 100, i => (i % 9).toDouble)),
      options = Map("maxfilebytes" -> "1"))
    val it = Files.list(dir).iterator()
    var checked = 0
    while (it.hasNext) {
      val p = it.next()
      if (!p.getFileName.toString.startsWith(".")) {
        val bytes = Files.readAllBytes(p)
        var off = 0
        var expect = 1
        while (off < bytes.length) {
          val h = MiniSeed.parseRecordHeader(bytes, off).get
          val seq = new String(bytes, off, 6, "ASCII")
          assert(seq == f"$expect%06d",
            s"file ${p.getFileName} record at $off: seq $seq, expected $expect")
          expect += 1
          off += h.recordLen
        }
        checked += 1
      }
    }
    assert(checked >= 2, s"expected multiple rolled files, got $checked")
  }

  test("float64 payloads round trip arbitrary doubles through auto encoding") {
    val dir = tmp()
    val xs = Array.tabulate(500)(i => math.sin(i / 7.0) * math.Pi)
    write(dir, Seq(seg("N1", "S1", "BHZ", T0, 500, i => xs(i))))
    val got = spark.read.format("mseed").load(dir.toString)
      .orderBy("starttime").select("samples")
      .as[Seq[Double]].collect().flatten
    assert(got.toSeq == xs.toSeq) // bit-exact, no steim rounding
  }

  test("oversized uniform files split arithmetically into parallel tasks") {
    val dir = tmp()
    // float64: 56 samples per 512 B record -> 358 records ≈ 183 KB;
    // cap splits at 16 KB
    write(dir, Seq(seg("N1", "S1", "BHZ", T0, 20000,
      i => math.cos(i / 11.0) * 300)),
      options = Map("encoding" -> "float64"))
    spark.conf.set("spark.sql.files.maxPartitionBytes", (16 * 1024).toString)
    try {
      val df = spark.read.format("mseed").load(dir.toString)
      assert(df.rdd.getNumPartitions > 4,
        s"expected many splits, got ${df.rdd.getNumPartitions}")
      // no record lost or doubled across split boundaries
      assert(df.agg(sum("n_samples")).as[Long].head() == 20000L)
      val all = df.orderBy("starttime").select("samples")
        .as[Seq[Double]].collect().flatten
      assert(all.toSeq == Array.tabulate(20000)(
        i => math.cos(i / 11.0) * 300).toSeq)
    } finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
  }

  test("header-only scan: pruned read schema, parity with full decode") {
    val dir = tmp()
    write(dir, Seq(
      seg("N1", "S1", "BHZ", T0, 1500, _.toDouble),
      seg("N1", "S2", "BHN", T0, 900, i => (i * 3).toDouble)))
    val q = spark.read.format("mseed").load(dir.toString)
      .select("network", "station", "starttime", "n_samples")
    val scan = scanOf(q)
    assert(!scan.scan.readSchema().fieldNames.contains("samples"),
      scan.scan.readSchema().simpleString)
    // the summarize fast path agrees exactly with the decode path
    val headerOnly = q.groupBy("station").agg(sum("n_samples").as("n"))
      .as[(String, Long)].collect().toMap
    val decoded = spark.read.format("mseed").load(dir.toString)
      .groupBy("station").agg(sum(size($"samples")).as("n"))
      .as[(String, Long)].collect().toMap
    assert(headerOnly == decoded && headerOnly == Map("S1" -> 1500L, "S2" -> 900L))
  }

  test("header filters push down; filtered records never decode") {
    val dir = tmp()
    write(dir, Seq(
      seg("N1", "S1", "BHZ", T0, 100, _.toDouble),
      seg("N1", "S2", "BHZ", T0 + 1_000_000_000L, 100, _.toDouble),
      seg("N2", "S3", "BHZ", T0 + 2_000_000_000L, 100, _.toDouble)))
    val q = spark.read.format("mseed").load(dir.toString)
      .filter($"network" === "N1" && $"starttime" >= T0 + 500_000_000L)
    val desc = scanOf(q).scan.description()
    assert(desc.contains("PushedFilters") && desc.contains("network"), desc)
    val rows = q.collect()
    assert(rows.length == 1 && rows.head.getAs[String]("station") == "S2")
  }

  test("corruption: garbage files, torn tails, and flipped payloads skip permissively") {
    val dir = tmp()
    write(dir, Seq(seg("N1", "GOOD", "BHZ", T0, 50, _.toDouble)))
    Files.write(dir.resolve("part-garbage.mseed"), Array.fill[Byte](512)(0x42))
    // a good record followed by a torn half-record
    val good = MiniSeed.encode("N1", "OK2", "", "BHZ", T0, P100Hz,
      Array.tabulate(40)(_.toDouble))
    val torn = MiniSeed.encode("N1", "BAD", "", "BHZ", T0, P100Hz,
      Array.tabulate(40)(_.toDouble)).take(300)
    Files.write(dir.resolve("part-tail.mseed"), good ++ torn)
    // flipped payload byte: header parses, steim integrity fails, and
    // the fixed record length lets the NEXT record still be read
    val two = MiniSeed.encode("N1", "FLIP", "", "BHZ", T0, P100Hz,
      Array.tabulate(40)(_.toDouble)) ++
      MiniSeed.encode("N1", "KEEP", "", "BHZ", T0 + 1_000_000_000L, P100Hz,
        Array.tabulate(40)(_.toDouble))
    two(69) = (two(69) ^ 0x55).toByte // inside X0 (frame 0, word 1)
    Files.write(dir.resolve("part-flip.mseed"), two)

    // full decode: the flipped record fails Steim reverse-integration
    // and is skipped ALONE (fixed reclen preserves framing for KEEP)
    val full = spark.read.format("mseed").load(dir.toString)
      .select($"station", size($"samples")).as[(String, Int)]
    val decoded = full.collect().toMap
    assert(decoded.keySet == Set("GOOD", "OK2", "KEEP"), decoded.toString)
    // header-only scan never touches payloads, so it (correctly) still
    // lists the flipped record's header
    assert(spark.read.format("mseed").load(dir.toString)
      .select("station").as[String].collect().toSet ==
      Set("GOOD", "OK2", "KEEP", "FLIP"))

    // the warn-and-skip contract is COUNTED, not just printed: the
    // garbage file, the torn tail, and the flipped payload all land in
    // the scan's skip accumulators (full-decode pass: 3 skip events)
    val (recs, bytes) = graft.sources.SegmentSource.skipCounters("mseed", dir.toString)
    assert(recs.value >= 3, s"skippedRecords = ${recs.value}")
    assert(bytes.value >= 512 + 300 + 512, s"skippedBytes = ${bytes.value}")
    // ... and reach the scan's SQL metric under the name readers use
    val skipped = scanOf(full).metrics("mseedSkippedRecords").value
    assert(skipped > 0, s"mseedSkippedRecords = $skipped")
  }

  test("blockette chain past the probe resolves through the V2 reader") {
    // record with an opaque blockette 2000 at 48 chaining to the
    // blockette 1000 at 400 (past the 256-byte probe), data at 408
    val dir = tmp()
    val base = MiniSeed.encode("N1", "DEEP", "", "BHZ", T0, P100Hz,
      Array.tabulate(10)(_.toDouble), "int32")
    def putU16(b: Array[Byte], off: Int, v: Int): Unit = {
      b(off) = ((v >> 8) & 0xFF).toByte; b(off + 1) = (v & 0xFF).toByte
    }
    val rec = new Array[Byte](512)
    System.arraycopy(base, 0, rec, 0, 48)
    putU16(rec, 46, 48); putU16(rec, 48, 2000); putU16(rec, 50, 400)
    putU16(rec, 400, 1000); putU16(rec, 402, 0)
    rec(404) = MiniSeed.EncInt32.toByte; rec(405) = 1; rec(406) = 9
    putU16(rec, 44, 408)
    System.arraycopy(base, 64, rec, 408, 40)
    // sandwich it between normal records to prove framing survives
    val normal = MiniSeed.encode("N1", "PLAIN", "", "BHZ",
      T0 + 1_000_000_000L, P100Hz, Array.tabulate(10)(_.toDouble), "int32")
    Files.write(dir.resolve("part-deep.mseed"), normal ++ rec ++ normal)

    val got = spark.read.format("mseed").load(dir.toString)
      .select($"station", $"samples").as[(String, Seq[Double])]
      .collect().groupBy(_._1)
    assert(got.keySet == Set("DEEP", "PLAIN"))
    assert(got("DEEP").head._2 == Array.tabulate(10)(_.toDouble).toSeq)
    assert(got("PLAIN").length == 2)
    val (recs, _) = graft.sources.SegmentSource.skipCounters("mseed", dir.toString)
    assert(recs.value == 0, "a deep chain is a re-probe, not a skip")
  }

  test("write options: explicit encodings, recordLen, fail-fast on bad data") {
    val dir = tmp()
    write(dir, Seq(seg("N1", "S1", "BHZ", T0, 600, i => (i % 97).toDouble)),
      options = Map("encoding" -> "steim1", "recordLen" -> "4096"))
    val h = MiniSeed.parseRecordHeader(
      Files.readAllBytes(Files.list(dir).filter(p =>
        !p.getFileName.toString.startsWith(".")).findFirst().get()), 0).get
    assert(h.recordLen == 4096 && h.encoding == MiniSeed.EncSteim1)
    // an unrepresentable sampling period fails fast, not silently
    val bad = intercept[Exception] {
      write(tmp(), Seq(("N1", "S1", "", "BHZ", T0, 3L, Array(1.0, 2.0))))
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(bad).exists(c => c.getMessage != null &&
      c.getMessage.contains("factor/multiplier")), bad.toString)
  }

  test("overwrite truncates; gsg → mseed conversion preserves every sample") {
    val gsgDir = tmp(); val msDir = tmp()
    // build a gsg archive, convert it to real miniSEED with one job
    Seq(seg("N1", "S1", "BHZ", T0, 800, i => math.rint(i / 3.0)),
      seg("N2", "S2", "HHZ", T0, 400, _.toDouble))
      .toDF("network", "station", "location", "channel",
        "starttime", "sampling_period", "samples")
      .write.format("gsg").mode("append").save(gsgDir.toString)
    spark.read.format("gsg").load(gsgDir.toString)
      .select("network", "station", "location", "channel",
        "starttime", "sampling_period", "samples")
      .write.format("mseed").mode("append").save(msDir.toString)
    val n = spark.read.format("mseed").load(msDir.toString)
      .agg(sum("n_samples")).as[Long].head()
    assert(n == 1200L)
    // overwrite replaces everything
    write(msDir, Seq(seg("N9", "NEW", "BHZ", T0, 10, _.toDouble)),
      mode = "overwrite")
    assert(spark.read.format("mseed").load(msDir.toString)
      .select("station").as[String].collect().toSet == Set("NEW"))
  }

  test("wavebank(segmentFormat=mseed): put, index, query end to end") {
    val root = Files.createTempDirectory("bank").toString
    val bank = new WaveBank(spark, root, segmentFormat = "mseed")
    val sec = 1_000_000_000L
    bank.putWaveforms(Seq(
      seg("N1", "S1", "BHZ", T0, 1000, i => math.rint(i / 5.0)),         // 10 s
      seg("N1", "S1", "BHZ", T0 + 10 * sec, 500, _ => 2.0),              // 5 s
      seg("N1", "S2", "BHN", T0, 2000, _ => 3.0))
      .toDF("network", "station", "location", "channel",
        "starttime", "sampling_period", "samples"))

    // the index is header-derived: per-record rows with exact spans
    val idx = bank.readIndex()
    assert(idx.agg(min("starttime")).as[Long].head() == T0)
    assert(bank.readIndex(station = "S2").count() >= 1)
    // availability fuses records back to continuous spans
    val av = bank.availability().orderBy("station").collect()
    assert(av.length == 2)
    assert(av(0).getAs[Long]("starttime") == T0 &&
      av(0).getAs[Long]("endtime") == T0 + 15 * sec)
    // windowed read returns trimmed samples from the mseed store
    val got = bank.getWaveforms("N1", "S1", "", "BHZ", T0, T0 + 2 * sec)
    assert(got.count() > 0)
    // incremental indexing: a second put only adds the new rows
    val before = bank.readIndex().count()
    bank.putWaveforms(Seq(seg("N2", "S9", "HHZ", T0, 100, _ => 1.0))
      .toDF("network", "station", "location", "channel",
        "starttime", "sampling_period", "samples"))
    assert(bank.readIndex().count() > before)
    assert(bank.readIndex(network = "N2").count() >= 1)
  }
}
