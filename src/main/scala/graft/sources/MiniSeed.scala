package graft.sources

import java.nio.{ByteBuffer, ByteOrder}

/** miniSEED 2.x record codec — the reference's native waveform format
  * (obsplus summarizes real miniSEED headers via libmseed,
  * `utils/mseed.py:70-112`, and its banks read archives obspy wrote,
  * `bank/wavebank.py:708-754`), implemented from the public SEED
  * Manual v2.4 (chapter 8 fixed header, Appendix A blockette 1000,
  * Appendix B Steim-1/2 compression). Pure byte-level codec — the
  * Spark surface is [[MiniSeedCodec]] in the shared segment source.
  *
  * Format essentials this codec honors:
  *   - fixed-length records, each self-describing: 48-byte fixed data
  *     header; blockette chain (offset at header byte 46) that must
  *     contain a Data Only SEED blockette (1000) carrying the
  *     encoding, payload word order, and record length (2^n bytes);
  *   - BTIME start time at 100 µs resolution (+ a 0.0001 s time
  *     correction applied unless activity-flag bit 1 marks it already
  *     applied — libmseed's rule);
  *   - sample rate as a factor/multiplier i16 pair (§8, field 10-11);
  *   - payload encodings: 16/32-bit integers, IEEE float/double, and
  *     Steim-1/2 difference compression in 64-byte frames.
  *
  * Header byte order is sniffed via the BTIME year/day sanity check
  * (the libmseed approach — the spec never fixed it and both exist in
  * the wild); payload word order comes from blockette 1000.
  *
  * Times are epoch NANOSECONDS and sampling periods ns/sample
  * (the engine-wide ns-long convention). miniSEED's BTIME stores
  * 100 µs ticks, so [[encode]] fails fast on a start time that is not
  * a multiple of 100 µs rather than silently truncating; likewise a
  * sampling period that has no exact factor/multiplier form.
  */
object MiniSeed {

  val FixedHeaderLen = 48
  /** Initial probe size: real writers put blockette 1000 at byte 48
    * and data at 64, so one 256-byte read resolves the header. A chain
    * that legitimately escapes the probe (e.g. a large opaque
    * blockette 2000 before the 1000) makes [[parseRecordHeaderEx]]
    * answer [[NeedMore]] and the reader re-probes deeper.
    */
  val ProbeLen = 256
  /** Blockette 1000's record-length exponent is capped at 24 in this
    * codec's writers-in-the-wild range check, but chains are validated
    * against the SEED practical maximum a record can span.
    */
  val MaxRecordLen = 32768

  /** Encodings (SEED Appendix A, blockette 1000 field 4). */
  val EncInt16 = 1
  val EncInt32 = 3
  val EncFloat32 = 4
  val EncFloat64 = 5
  val EncSteim1 = 10
  val EncSteim2 = 11
  // legacy archive encodings, read-side only (SEED Appendix A):
  val EncGeoscope24 = 12  // GEOSCOPE multiplexed 24-bit integer
  val EncGeoscope163 = 13 // GEOSCOPE 16-bit gain ranged, 3-bit exponent
  val EncGeoscope164 = 14 // GEOSCOPE 16-bit gain ranged, 4-bit exponent
  val EncSro = 30         // SRO gain ranged
  val EncDwwssn = 32      // DWWSSN 16-bit

  final case class RecordHeader(
      network: String, station: String, location: String, channel: String,
      starttime: Long,       // epoch ns, time correction applied
      samplingPeriod: Long,  // ns per sample (rounded for non-exact rates)
      n: Int,                // samples in THIS record
      encoding: Int, recordLen: Int, dataOffset: Int,
      payloadBigEndian: Boolean, headerBigEndian: Boolean)

  // ---------------------------------------------------------------- parse

  private def u8(b: Byte): Int = b & 0xFF
  private def u16(buf: Array[Byte], off: Int, big: Boolean): Int =
    if (big) (u8(buf(off)) << 8) | u8(buf(off + 1))
    else (u8(buf(off + 1)) << 8) | u8(buf(off))
  private def i16(buf: Array[Byte], off: Int, big: Boolean): Int =
    u16(buf, off, big).toShort.toInt
  private def i32(buf: Array[Byte], off: Int, big: Boolean): Int =
    if (big)
      (u8(buf(off)) << 24) | (u8(buf(off + 1)) << 16) |
        (u8(buf(off + 2)) << 8) | u8(buf(off + 3))
    else
      (u8(buf(off + 3)) << 24) | (u8(buf(off + 2)) << 16) |
        (u8(buf(off + 1)) << 8) | u8(buf(off))

  private def ascii(buf: Array[Byte], off: Int, len: Int): String =
    new String(buf, off, len, "ASCII").trim

  /** BTIME (10 bytes) → epoch ns; None when the fields are insane
    * (also the endianness sniff rejecting the wrong byte order).
    */
  private def parseBtime(buf: Array[Byte], off: Int, big: Boolean): Option[Long] = {
    val year = u16(buf, off, big)
    val doy = u16(buf, off + 2, big)
    val hour = u8(buf(off + 4)); val min = u8(buf(off + 5))
    val sec = u8(buf(off + 6)); val fract = u16(buf, off + 8, big)
    if (year < 1900 || year > 2500 || doy < 1 || doy > 366 ||
      hour > 23 || min > 59 || sec > 60 || fract > 9999) return None
    val epochDay = try {
      java.time.LocalDate.ofYearDay(year, doy).toEpochDay
    } catch { case _: java.time.DateTimeException => return None }
    Some(((epochDay * 86400L + hour * 3600L + min * 60L + sec) * 1_000_000_000L)
      + fract * 100_000L)
  }

  /** Sample rate factor/multiplier pair → sampling period in ns
    * (SEED §8 fields 10-11; sign conventions per the manual). Exact
    * for every integer rate and every integer seconds-per-sample;
    * rounds otherwise.
    */
  private[sources] def periodNs(factor: Int, mult: Int): Option[Long] = {
    if (factor == 0 || mult == 0) return None // ASCII/log channels: no rate
    // §8: positive factor = Hz, negative = seconds/sample; positive
    // multiplier multiplies the rate, negative divides it
    val base: Double = if (factor > 0) factor.toDouble else -1.0 / factor
    val rate: Double = if (mult > 0) base * mult else base / -mult
    if (rate <= 0) None else Some(math.round(1e9 / rate))
  }

  /** Inverse of [[periodNs]]: ns/sample → (factor, multiplier), or
    * None when no exact i16 pair exists.
    */
  private[sources] def rateFields(periodNs: Long): Option[(Int, Int)] = {
    if (periodNs <= 0) return None
    if (1_000_000_000L % periodNs == 0) { // integer Hz
      val rate = 1_000_000_000L / periodNs
      if (rate <= Short.MaxValue) return Some((rate.toInt, 1))
      // fast rates beyond i16: factor * mult, split greedily
      var f = Short.MaxValue.toLong
      while (f > 1) {
        if (rate % f == 0 && rate / f <= Short.MaxValue)
          return Some((f.toInt, (rate / f).toInt))
        f -= 1
      }
      return None
    }
    if (periodNs % 1_000_000_000L == 0) { // integer seconds per sample
      val s = periodNs / 1_000_000_000L
      if (s <= Short.MaxValue) return Some((-s.toInt, 1))
    }
    None
  }

  /** Result of a header parse attempt over a prefix of the record.
    * [[NeedMore]] means the bytes seen so far are consistent with a
    * valid record whose blockette chain extends past the prefix (e.g.
    * a large opaque blockette 2000 before the blockette 1000): the
    * caller should re-read at least `minBytes` of the record and retry
    * — skipping it would silently drop a spec-legal record.
    */
  sealed trait ParseResult
  final case class Ok(header: RecordHeader) extends ParseResult
  case object Bad extends ParseResult
  final case class NeedMore(minBytes: Int) extends ParseResult

  /** Parse the record starting at `off`. Needs the blockette chain
    * inside the buffer; use [[parseRecordHeaderEx]] when reading a
    * bounded probe that may have to grow.
    */
  def parseRecordHeader(buf: Array[Byte], off: Int): Option[RecordHeader] =
    parseRecordHeader(buf, off, buf.length - off)

  /** As above, with `limit` = valid bytes from `off`. Readers that
    * reuse a probe buffer across records MUST pass the bytes actually
    * read this time: the blockette walk is bounded by `limit`, so a
    * corrupt chain offset pointing past it takes the skip path instead
    * of walking stale bytes from a previous record. A chain that
    * legitimately continues past `limit` also returns None here —
    * callers that can re-read should use [[parseRecordHeaderEx]].
    */
  def parseRecordHeader(buf: Array[Byte], off: Int, limit: Int): Option[RecordHeader] =
    parseRecordHeaderEx(buf, off, limit) match {
      case Ok(h) => Some(h)
      case _ => None
    }

  /** Full-fidelity parse: distinguishes corrupt bytes ([[Bad]]) from a
    * probe too short for the record's blockette chain ([[NeedMore]]).
    * Walks the WHOLE chain (not just to blockette 1000), honoring a
    * blockette 100 actual-sample-rate override when present (SEED §8:
    * blockette 100's float rate supersedes the header's
    * factor/multiplier pair — libmseed applies the same rule).
    */
  def parseRecordHeaderEx(buf: Array[Byte], off: Int, limit: Int): ParseResult = {
    val lim = math.min(limit, buf.length - off)
    if (FixedHeaderLen > lim) return NeedMore(FixedHeaderLen)
    // sequence number: 6 ASCII digits (spaces tolerated); quality byte
    val seqOk = (0 until 6).forall { i =>
      val c = buf(off + i).toChar; c.isDigit || c == ' '
    }
    val quality = buf(off + 6).toChar
    if (!seqOk || !"DRQM".contains(quality)) return Bad
    // endianness sniff on the BTIME (libmseed's heuristic)
    val big = parseBtime(buf, off + 20, big = true).isDefined
    val t0 = parseBtime(buf, off + 20, big)
      .orElse(parseBtime(buf, off + 20, big = false))
      .getOrElse(return Bad)
    val station = ascii(buf, off + 8, 5)
    val location = ascii(buf, off + 13, 2)
    val channel = ascii(buf, off + 15, 3)
    val network = ascii(buf, off + 18, 2)
    val n = u16(buf, off + 30, big)
    val factor = i16(buf, off + 32, big)
    val mult = i16(buf, off + 34, big)
    val activity = u8(buf(off + 36))
    val timeCorr = i32(buf, off + 40, big) // 0.0001 s units
    val dataOffset = u16(buf, off + 44, big)
    var blkOff = u16(buf, off + 46, big)
    // full blockette walk: collect blockette 1000 (encoding/reclen/
    // word order — required) and blockette 100 (actual-rate override —
    // optional, may sit anywhere in the chain, including after 1000)
    var enc = -1; var reclen = -1; var payloadBig = true
    var rate100 = Double.NaN
    var hops = 0
    while (blkOff != 0 && hops < 64) {
      if (blkOff < FixedHeaderLen || blkOff + 8 > MaxRecordLen) return Bad
      // once the record length is known, a blockette this walk could
      // still care about (b100 is 12 bytes) cannot start in the final
      // 7 bytes — stop rather than read past the record into the next
      // one's bytes
      if (enc >= 0 && blkOff + 8 > reclen) {
        blkOff = 0
      } else if (blkOff + 8 > lim) {
        // 8 bytes cover type+next plus each field this walk reads
        // (b1000 payload at +4..+7, b100 float rate at +4..+8)
        return NeedMore(blkOff + 8)
      } else {
        val btype = u16(buf, off + blkOff, big)
        val next = u16(buf, off + blkOff + 2, big)
        if (btype == 1000) {
          enc = u8(buf(off + blkOff + 4))
          payloadBig = u8(buf(off + blkOff + 5)) == 1
          val exp = u8(buf(off + blkOff + 6))
          if (exp < 7 || exp > 24) return Bad
          reclen = 1 << exp
        } else if (btype == 100) {
          val r = java.lang.Float.intBitsToFloat(i32(buf, off + blkOff + 4, big))
          if (r > 0f && !r.isNaN && !r.isInfinite) rate100 = r.toDouble
        }
        hops += 1
        blkOff = if (next <= blkOff) 0 else next // next==0 or backwards: chain ends
      }
    }
    if (enc < 0 || reclen < 0) return Bad // no blockette 1000: not self-describing
    if (dataOffset < FixedHeaderLen || dataOffset > reclen) return Bad
    val period =
      if (!rate100.isNaN) math.round(1e9 / rate100)
      else periodNs(factor, mult).getOrElse(
        if (n == 0) 1L else return Bad)
    // time correction (0.0001 s units) unless activity bit 1 says the
    // field is already folded into the BTIME
    val corrected =
      if ((activity & 0x02) != 0) t0 else t0 + timeCorr.toLong * 100_000L
    Ok(RecordHeader(network, station, location, channel, corrected,
      period, n, enc, reclen, dataOffset, payloadBig, big))
  }

  // --------------------------------------------------------------- decode

  /** Decode the record's samples to doubles. `buf` must hold the whole
    * record at `off`. Integer encodings (incl. Steim) arrive exact.
    */
  def decodeSamples(buf: Array[Byte], off: Int, h: RecordHeader): Array[Double] = {
    val order = if (h.payloadBigEndian) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN
    val bb = ByteBuffer.wrap(buf, off + h.dataOffset, h.recordLen - h.dataOffset)
      .order(order)
    val out = new Array[Double](h.n)
    // fixed-width payloads: fail as an IO error (the reader's skip
    // contract), not a buffer underflow, when n outruns the record
    def need(width: Int): Unit =
      if (h.dataOffset.toLong + width.toLong * h.n > h.recordLen)
        throw new java.io.IOException(
          s"mseed: payload too short for ${h.n} samples (enc ${h.encoding})")
    h.encoding match {
      case EncInt16 =>
        need(2)
        var i = 0; while (i < h.n) { out(i) = bb.getShort().toDouble; i += 1 }
      case EncInt32 =>
        need(4)
        var i = 0; while (i < h.n) { out(i) = bb.getInt().toDouble; i += 1 }
      case EncFloat32 =>
        need(4)
        var i = 0; while (i < h.n) { out(i) = bb.getFloat().toDouble; i += 1 }
      case EncFloat64 =>
        need(8)
        var i = 0; while (i < h.n) { out(i) = bb.getDouble(); i += 1 }
      case EncSteim1 | EncSteim2 =>
        val ints = decodeSteim(buf, off + h.dataOffset,
          h.recordLen - h.dataOffset, h.n, h.encoding == EncSteim2, order)
        var i = 0; while (i < h.n) { out(i) = ints(i).toDouble; i += 1 }
      // ---- legacy archive encodings (SEED Appendix A; decode rules
      //      as the manual's format descriptions state them) ----
      case EncGeoscope24 =>
        // 3 bytes per sample, two's complement 24-bit, payload order
        need(3)
        var i = 0
        while (i < h.n) {
          val p = off + h.dataOffset + 3 * i
          val (b0, b1, b2) =
            if (h.payloadBigEndian) (buf(p), buf(p + 1), buf(p + 2))
            else (buf(p + 2), buf(p + 1), buf(p))
          val v = (u8(b0) << 16) | (u8(b1) << 8) | u8(b2)
          out(i) = signExtend(v, 24).toDouble
          i += 1
        }
      case EncGeoscope163 | EncGeoscope164 =>
        // 16-bit word: gain G in bits 12.. (3 or 4 wide), mantissa M in
        // bits 0-11 biased by 2048; sample = (M - 2048) / 2^G
        val gainMask = if (h.encoding == EncGeoscope163) 0x7 else 0xF
        need(2)
        var i = 0
        while (i < h.n) {
          val w = bb.getShort() & 0xFFFF
          val mantissa = w & 0x0FFF
          val gain = (w >> 12) & gainMask
          out(i) = (mantissa - 2048).toDouble / (1L << gain)
          i += 1
        }
      case EncSro =>
        // 16-bit word: gain G in bits 12-15, 12-bit two's-complement
        // mantissa M; sample = M * 2^(10 - G)
        need(2)
        var i = 0
        while (i < h.n) {
          val w = bb.getShort() & 0xFFFF
          val mantissa = signExtend(w & 0x0FFF, 12)
          val gain = (w >> 12) & 0xF
          val e = 10 - gain
          out(i) = if (e >= 0) mantissa.toDouble * (1L << e)
                   else mantissa.toDouble / (1L << -e)
          i += 1
        }
      case EncDwwssn =>
        // 16-bit two's-complement words
        need(2)
        var i = 0; while (i < h.n) { out(i) = bb.getShort().toDouble; i += 1 }
      case e => throw new java.io.IOException(s"mseed: unsupported encoding $e")
    }
    out
  }

  private def signExtend(v: Int, bits: Int): Int = (v << (32 - bits)) >> (32 - bits)

  /** Steim-1/2 frame decoder (SEED Appendix B). The payload is 64-byte
    * frames: a 32-bit control word of 16 2-bit nibbles governing the
    * frame's 15 data words; frame 0 words 1-2 hold the forward (X0)
    * and reverse (Xn) integration constants. Reconstruction ignores
    * the first difference (X0 IS the first sample) and validates Xn.
    */
  private[sources] def decodeSteim(buf: Array[Byte], off: Int, len: Int,
                                   n: Int, steim2: Boolean,
                                   order: ByteOrder): Array[Int] = {
    val bb = ByteBuffer.wrap(buf, off, len).order(order)
    val nFrames = len / 64
    val diffs = new Array[Int](n + 8) // slack: last word may overfill
    var nd = 0
    var x0 = 0; var xn = 0
    var f = 0
    while (f < nFrames && nd < n) {
      val base = off + f * 64
      val ctrl = bb.getInt(base)
      var w = 1
      while (w <= 15 && nd < n) {
        val c = (ctrl >>> (2 * (15 - w))) & 3
        val word = bb.getInt(base + 4 * w)
        if (f == 0 && w == 1) x0 = word
        else if (f == 0 && w == 2) xn = word
        else c match {
          case 0 => () // non-data
          case 1 => // four 8-bit
            var k = 0
            while (k < 4 && nd < diffs.length) {
              diffs(nd) = signExtend((word >>> (8 * (3 - k))) & 0xFF, 8)
              nd += 1; k += 1
            }
          case 2 =>
            if (!steim2) { // two 16-bit
              var k = 0
              while (k < 2 && nd < diffs.length) {
                diffs(nd) = signExtend((word >>> (16 * (1 - k))) & 0xFFFF, 16)
                nd += 1; k += 1
              }
            } else (word >>> 30) match { // dnib
              case 1 => if (nd < diffs.length) { diffs(nd) = signExtend(word & 0x3FFFFFFF, 30); nd += 1 }
              case 2 =>
                var k = 0
                while (k < 2 && nd < diffs.length) {
                  diffs(nd) = signExtend((word >>> (15 * (1 - k))) & 0x7FFF, 15)
                  nd += 1; k += 1
                }
              case 3 =>
                var k = 0
                while (k < 3 && nd < diffs.length) {
                  diffs(nd) = signExtend((word >>> (10 * (2 - k))) & 0x3FF, 10)
                  nd += 1; k += 1
                }
              case _ => throw new java.io.IOException("mseed: steim2 dnib 0 under c=2")
            }
          case 3 =>
            if (!steim2) { // one 32-bit
              if (nd < diffs.length) { diffs(nd) = word; nd += 1 }
            } else (word >>> 30) match {
              case 0 => // five 6-bit
                var k = 0
                while (k < 5 && nd < diffs.length) {
                  diffs(nd) = signExtend((word >>> (6 * (4 - k))) & 0x3F, 6)
                  nd += 1; k += 1
                }
              case 1 => // six 5-bit
                var k = 0
                while (k < 6 && nd < diffs.length) {
                  diffs(nd) = signExtend((word >>> (5 * (5 - k))) & 0x1F, 5)
                  nd += 1; k += 1
                }
              case 2 => // seven 4-bit
                var k = 0
                while (k < 7 && nd < diffs.length) {
                  diffs(nd) = signExtend((word >>> (4 * (6 - k))) & 0xF, 4)
                  nd += 1; k += 1
                }
              case _ => throw new java.io.IOException("mseed: steim2 dnib 3 under c=3")
            }
        }
        w += 1
      }
      f += 1
    }
    if (nd < n) throw new java.io.IOException(
      s"mseed: steim payload ran dry at $nd of $n samples")
    if (n == 0) return Array.empty
    val out = new Array[Int](n)
    out(0) = x0
    var i = 1
    while (i < n) { out(i) = out(i - 1) + diffs(i); i += 1 }
    if (n > 0 && out(n - 1) != xn) throw new java.io.IOException(
      s"mseed: steim reverse integration mismatch (${out(n - 1)} != $xn)")
    out
  }

  // --------------------------------------------------------------- encode

  /** One segment → one or more fixed-length records.
    *
    * `encoding`: "steim2" | "steim1" | "int32" | "float64" | "auto".
    * Auto picks Steim-2 for integral samples (Steim-1 when a
    * first-difference overflows Steim-2's 30-bit ceiling), FLOAT64
    * otherwise — integer telemetry compresses, computed doubles stay
    * bit-exact. Fails fast (like the gsg writer's code check) on
    * values a chosen integer encoding cannot represent, on codes over
    * the SEED field widths, on a start time off the 100 µs grid, and
    * on a sampling period with no exact factor/multiplier form —
    * an archive whose reads differ from its writes is worse than a
    * thrown write.
    */
  def encode(network: String, station: String, location: String,
             channel: String, starttime: Long, samplingPeriod: Long,
             samples: Array[Double], encoding: String = "auto",
             recordLen: Int = 512, seqStart: Int = 1): Array[Byte] = {
    require(recordLen >= 128 && recordLen <= 32768 &&
      (recordLen & (recordLen - 1)) == 0,
      s"mseed: recordLen must be a power of two in [128, 32768], got $recordLen")
    // 32768 also keeps any record's greedy Steim fill under the u16
    // sample-count ceiling (511 frames x 15 words x 7 diffs < 65535)
    def fit(s: String, len: Int, what: String): String = {
      require(s != null && s.length <= len && s.forall(c => c >= ' ' && c <= '~'),
        s"mseed: $what '$s' not storable (max $len ASCII chars)")
      s
    }
    fit(network, 2, "network"); fit(station, 5, "station")
    fit(location, 2, "location"); fit(channel, 3, "channel")
    require(starttime % 100_000L == 0,
      s"mseed: starttime $starttime ns is not on the 100 microsecond BTIME grid")
    val (factor, mult) = rateFields(samplingPeriod).getOrElse(
      throw new IllegalArgumentException(
        s"mseed: sampling period $samplingPeriod ns has no exact " +
          "factor/multiplier representation"))

    val integral = samples.forall(x =>
      x == math.rint(x) && x >= Int.MinValue && x <= Int.MaxValue)
    val enc = encoding match {
      case "auto" =>
        if (!integral) "float64"
        else {
          val fitsSteim2 = samplesFitSteim2(samples)
          if (fitsSteim2) "steim2" else "steim1"
        }
      case e @ ("steim1" | "steim2" | "int32" | "float64") => e
      case e => throw new IllegalArgumentException(s"mseed: unknown encoding '$e'")
    }
    if (enc != "float64") require(integral,
      s"mseed: non-integral samples cannot be stored as $enc (use float64/auto)")

    val out = new java.io.ByteArrayOutputStream()
    var idx = 0
    var seq = seqStart
    var prev = 0 // previous record's last sample, for the d0 convention
    while (idx < samples.length || (idx == 0 && samples.isEmpty)) {
      val (payload, took) = enc match {
        case "int32" =>
          val cap = (recordLen - 64) / 4
          val m = math.min(cap, samples.length - idx)
          val bb = ByteBuffer.allocate(recordLen - 64).order(ByteOrder.BIG_ENDIAN)
          var i = 0
          while (i < m) {
            val x = samples(idx + i)
            require(x == math.rint(x) && x >= Int.MinValue && x <= Int.MaxValue,
              s"mseed: sample $x not storable as int32")
            bb.putInt(x.toInt); i += 1
          }
          (bb.array(), m)
        case "float64" =>
          val cap = (recordLen - 64) / 8
          val m = math.min(cap, samples.length - idx)
          val bb = ByteBuffer.allocate(recordLen - 64).order(ByteOrder.BIG_ENDIAN)
          var i = 0
          while (i < m) { bb.putDouble(samples(idx + i)); i += 1 }
          (bb.array(), m)
        case "steim1" | "steim2" =>
          encodeSteim(samples, idx, prev, (recordLen - 64) / 64,
            steim2 = enc == "steim2")
      }
      if (took == 0 && samples.nonEmpty) throw new IllegalStateException(
        "mseed: encoder made no progress") // cannot happen; guards the loop
      val n = math.min(took, 65535)
      require(took <= 65535, s"mseed: $took samples exceed a record's u16 count")

      val rec = ByteBuffer.allocate(recordLen).order(ByteOrder.BIG_ENDIAN)
      rec.put(f"$seq%06d".getBytes("ASCII")) // sequence
      rec.put('D'.toByte).put(' '.toByte)
      def pad(s: String, len: Int): Unit =
        rec.put(s.padTo(len, ' ').getBytes("ASCII"))
      pad(station, 5); pad(location, 2); pad(channel, 3); pad(network, 2)
      // BTIME of THIS record's first sample
      val t = starttime + idx.toLong * samplingPeriod
      require(t % 100_000L == 0,
        s"mseed: record start $t ns off the 100 microsecond grid " +
          "(sampling period below 100 microseconds must divide it)")
      val tickSec = math.floorDiv(t, 1_000_000_000L)
      val fract = (math.floorMod(t, 1_000_000_000L) / 100_000L).toInt
      val date = java.time.LocalDate.ofEpochDay(math.floorDiv(tickSec, 86400L))
      val daySec = math.floorMod(tickSec, 86400L)
      rec.putShort(date.getYear.toShort)
      rec.putShort(date.getDayOfYear.toShort)
      rec.put((daySec / 3600).toByte).put(((daySec % 3600) / 60).toByte)
        .put((daySec % 60).toByte).put(0.toByte)
      rec.putShort(fract.toShort)
      rec.putShort(n.toShort)                 // sample count
      rec.putShort(factor.toShort).putShort(mult.toShort)
      rec.put(0.toByte).put(0.toByte).put(0.toByte) // activity/io/quality flags
      rec.put(1.toByte)                       // one blockette follows
      rec.putInt(0)                           // time correction
      rec.putShort(64.toShort)                // data offset
      rec.putShort(48.toShort)                // first blockette
      // blockette 1000 at 48
      rec.putShort(1000.toShort).putShort(0.toShort)
      val encCode = enc match {
        case "steim1" => EncSteim1; case "steim2" => EncSteim2
        case "int32" => EncInt32; case "float64" => EncFloat64
      }
      rec.put(encCode.toByte)
      rec.put(1.toByte) // big-endian payload
      rec.put((31 - Integer.numberOfLeadingZeros(recordLen)).toByte)
      rec.put(0.toByte)
      // pad 56..64, then payload
      rec.position(64)
      rec.put(payload, 0, recordLen - 64)
      out.write(rec.array())

      if (took > 0) prev = samples(idx + took - 1).toInt
      idx += took
      seq += 1
      if (samples.isEmpty) idx = 1 // emitted the single empty record
    }
    out.toByteArray
  }

  /** Whether every first difference fits Steim-2's 30-bit ceiling. */
  private def samplesFitSteim2(samples: Array[Double]): Boolean = {
    var prev = 0L
    var i = 0
    while (i < samples.length) {
      val x = samples(i).toLong
      val d = x - prev
      if (i > 0 && (d < -(1L << 29) || d >= (1L << 29))) return false
      prev = x
      i += 1
    }
    true
  }

  /** Greedy Steim-1/2 packer for one record: consumes samples from
    * `idx` into `maxFrames` 64-byte frames, returns (payload bytes,
    * samples taken). Frame 0 words 1-2 carry X0/Xn.
    */
  private def encodeSteim(samples: Array[Double], idx: Int, prev: Int,
                          maxFrames: Int, steim2: Boolean): (Array[Byte], Int) = {
    val n = samples.length - idx
    // first differences, d0 against the previous record's last sample
    val diffs = new Array[Int](n)
    var i = 0
    var p = prev
    while (i < n) {
      val x = samples(idx + i).toInt
      diffs(i) = x - p; p = x; i += 1
    }
    def bits(v: Int, b: Int): Boolean = v >= -(1 << (b - 1)) && v < (1 << (b - 1))
    def allFit(from: Int, count: Int, b: Int): Boolean = {
      if (from + count > n) return false
      var k = 0
      while (k < count) { if (!bits(diffs(from + k), b)) return false; k += 1 }
      true
    }

    val bb = ByteBuffer.allocate(maxFrames * 64).order(ByteOrder.BIG_ENDIAN)
    var taken = 0
    var frame = 0
    var done = false
    while (frame < maxFrames && !done) {
      val base = frame * 64
      var ctrl = 0
      var w = 1
      while (w <= 15 && !done) {
        if (frame == 0 && (w == 1 || w == 2)) {
          // X0/Xn slots, nibble 0 — filled after packing
          w += 1
        } else if (taken >= n) {
          done = true
        } else {
          val (c, word, used) =
            if (!steim2) {
              if (allFit(taken, 4, 8))
                (1, pack(diffs, taken, 4, 8), 4)
              else if (allFit(taken, 2, 16))
                (2, pack(diffs, taken, 2, 16), 2)
              else (3, diffs(taken), 1)
            } else {
              if (allFit(taken, 7, 4))
                (3, (2 << 30) | pack(diffs, taken, 7, 4), 7)
              else if (allFit(taken, 6, 5))
                (3, (1 << 30) | pack(diffs, taken, 6, 5), 6)
              else if (allFit(taken, 5, 6))
                (3, pack(diffs, taken, 5, 6), 5)
              else if (allFit(taken, 4, 8))
                (1, pack(diffs, taken, 4, 8), 4)
              else if (allFit(taken, 3, 10))
                (2, (3 << 30) | pack(diffs, taken, 3, 10), 3)
              else if (allFit(taken, 2, 15))
                (2, (2 << 30) | pack(diffs, taken, 2, 15), 2)
              else if (bits(diffs(taken), 30))
                (2, (1 << 30) | (diffs(taken) & 0x3FFFFFFF), 1)
              else throw new IllegalArgumentException(
                s"mseed: difference ${diffs(taken)} exceeds steim2's 30-bit " +
                  "ceiling (use steim1 or auto)")
            }
          ctrl |= c << (2 * (15 - w))
          bb.putInt(base + 4 * w, word)
          taken += used
          w += 1
        }
      }
      bb.putInt(base, ctrl)
      frame += 1
    }
    if (taken > 0) {
      bb.putInt(4, samples(idx).toInt)            // X0
      bb.putInt(8, samples(idx + taken - 1).toInt) // Xn
    }
    (bb.array(), taken)
  }

  /** Pack `count` diffs of `b` bits each, left-to-right, right-aligned. */
  private def pack(diffs: Array[Int], from: Int, count: Int, b: Int): Int = {
    var word = 0
    var k = 0
    while (k < count) {
      word = (word << b) | (diffs(from + k) & ((1 << b) - 1))
      k += 1
    }
    word
  }
}
