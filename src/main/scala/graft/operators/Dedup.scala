package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
import graft.functions.TextFunctions
import graft.plans.{IntMinhash, ShingleHash60}

/** Corpus deduplication operators for training-data pipelines, each
  * designed around one shuffle on a derived key so they scale linearly:
  *
  *   - exact: hash-groupBy on a canonical fingerprint
  *   - MinHash + LSH: shingle → k minhashes → banded buckets →
  *     bucket-local candidate pairs (never an all-pairs join)
  *   - SimHash: 64-bit bit-majority signature via a typed Aggregator,
  *     banded blocking + Hamming refine
  *   - n-gram Jaccard: blocked pair generation + set-overlap refine
  */
object Dedup {

  /** Exact duplicate groups: one row per distinct fingerprint with the
    * group size and the keeper (minimum id). Map-side partial
    * aggregation makes this a single cheap shuffle at any scale.
    */
  def exactGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.withColumn("fp", TextFunctions.fingerprint(col(textCol)))
      .groupBy("fp")
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("keeper"))

  /** k-element MinHash signature over a shingle-array column.
    *
    * Built as an `array()` of k separate min-expressions, NOT one
    * lambda over `sequence(0, k-1)`: with k lexical references,
    * CollapseProject refuses to inline the (expensive) shingle lineage,
    * so it's computed once per row. A single reference inside a
    * per-element lambda gets inlined and re-evaluated k× (measured 12×
    * slower end-to-end) — same hazard [[lshBuckets]] documents.
    *
    * `hasher` maps (salt index, shingle) → orderable value. The default
    * md5 hasher is engine-portable (oracle-checkable); for production
    * scale swap `xxhash64Hasher` — 8 bytes vs 32 and no hex encoding.
    */
  def minhashSignature(shingles: Column, k: Int,
      hasher: (Column, Column) => Column = md5Hasher): Column =
    array((0 until k).map(i =>
      array_min(transform(shingles, s => hasher(lit(i), s)))): _*)

  val md5Hasher: (Column, Column) => Column =
    (i, s) => md5(concat(i.cast("string"), lit("|"), s))
  val xxhash64Hasher: (Column, Column) => Column =
    (i, s) => xxhash64(i, s)

  /** Modulus + salts for the integer MinHash family (a_i·h + b_i mod P). */
  val MinhashP = 1000000007L
  private def salts(k: Int): Seq[(Long, Long)] =
    (0 until k).map(i => (2L * i + 3L, 104729L * (i + 1)))

  /** Integer MinHash, step 1: ONE md5 per shingle (15 hex chars →
    * 60-bit int mod P). [[intMinhashSignature]] references the result
    * k times (one per salt), which keeps CollapseProject from inlining
    * this md5 chain into the salt lambdas — hashed once per row.
    */
  def shingleHashes(shingles: Column): Column =
    transform(shingles,
      s => conv(substring(md5(s), 1, 15), 16, 10).cast("long") % lit(MinhashP))

  /** Integer MinHash, step 2: k affine variants (a_i·h + b_i mod P)
    * over the materialized base hashes — ~9× fewer digests than
    * salted-string hashing at the same statistical quality, and still
    * engine-portable: the oracle derives the identical 60-bit int with
    * ('0x' || substr(md5(s),1,15))::BIGINT and the same arithmetic.
    */
  def intMinhashSignature(baseHashes: Column, k: Int): Column =
    // fused native form (round 17, guide §1.2): ONE pass computes all
    // k salt minima — bit-identical to the composed
    // array(array_min(transform(…))) form (IntMinhash's contract, the
    // salt schedule pinned by HashExprSpec's differential), which
    // materialized k transformed arrays per row. The null branch
    // mirrors the composed form exactly: a NULL base array yields an
    // array of k nulls (array() never returns null), not a null
    // signature.
    when(baseHashes.isNull,
      array((0 until k).map(_ => lit(null).cast("long")): _*))
      .otherwise(column(IntMinhash(expression(baseHashes), k)))

  /** The composed Column form of [[intMinhashSignature]] — the
    * spec-side reference the native expression is pinned against
    * (and the shape [[intMinhashSql]] mirrors in DuckDB).
    */
  private[graft] def intMinhashSignatureComposed(baseHashes: Column,
                                                 k: Int): Column =
    array(salts(k).map { case (a, b) =>
      array_min(transform(baseHashes, h => (h * lit(a) + lit(b)) % lit(MinhashP)))
    }: _*)

  /** Fused native form of `shingles3` + [[shingleHashes]]: one custom
    * codegen expression (`graft.plans.ShingleHash60`) walks the token
    * array once, digesting each `width`-word window directly — no
    * shingle-string materialization, no hex encode/parse, one
    * MessageDigest per thread. Bit-identical values, so the same
    * DuckDB oracle fragments apply; prefer it on the hot MinHash path.
    */
  def tokenShingleHashes(toks: Column, width: Int = 3): Column =
    column(ShingleHash60(expression(toks), Literal(width), Literal(MinhashP)))

  /** Oracle-side SQL fragments (DuckDB dialect) for the two steps. */
  def shingleHashesSql(shinglesExpr: String): String =
    s"list_transform($shinglesExpr, s -> ('0x' || substr(md5(s), 1, 15))::BIGINT % $MinhashP)"
  def intMinhashSql(baseHashesCol: String, k: Int): String =
    salts(k).map { case (a, b) =>
      s"list_min(list_transform($baseHashesCol, h -> (h * $a + $b) % $MinhashP))"
    }.mkString("[", ", ", "]")

  /** Banded LSH buckets: (bandCount) rows per doc of
    * (idCol, band, bucket). Docs sharing any (band, bucket) are
    * near-dup candidates.
    *
    * Shape matters: the band indices explode FIRST and the bucket hash
    * is computed per exploded row from the signature attribute the
    * Generate carries along. Hashing inside the pre-explode lambda
    * instead would inline the signature's whole lineage into every
    * band's expression — Catalyst re-evaluates it per band (measured
    * ~5× the minhash cost at bands=4).
    */
  def lshBuckets(df: DataFrame, sigCol: String, idCol: String,
                 bands: Int, rowsPerBand: Int,
                 carry: Seq[String] = Nil): DataFrame =
    df.select(col(idCol) +: col(sigCol) +: carry.map(col) :+
        posexplode(sequence(lit(0), lit(bands - 1))).as(Seq("band", "_band")): _*)
      .select(col(idCol) +: col("band") +:
        md5(concat_ws("|",
          transform(slice(col(sigCol), col("_band") * rowsPerBand + 1, lit(rowsPerBand)),
            x => x.cast("string")))).as("bucket") +: carry.map(col): _*)

  /** Distinct candidate pairs (a < b) from bucket collisions: ONE
    * shuffle — group each (band, bucket), expand pairs inside the
    * group. A self-join would recompute the whole signature lineage
    * for both sides; this computes it once. Bucket membership lists
    * are small by construction (that's what banding is for); a bucket
    * hot enough to matter is a degenerate hash worth surfacing, not
    * silently grinding through.
    */
  def candidatePairs(buckets: DataFrame, idCol: String): DataFrame =
    buckets.groupBy("band", "bucket")
      .agg(array_sort(collect_list(col(idCol))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(flatten(transform(col("ids"), (x, i) =>
        transform(slice(col("ids"), i + 2, size(col("ids"))),
          y => struct(x.as("a"), y.as("b")))))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .distinct()

  /** Typed Aggregator building a 64-bit SimHash from token hashes:
    * per-bit majority vote over all token hashes of a document.
    */
  object SimHashAgg extends Aggregator[Long, Array[Int], Long] {
    import org.apache.spark.sql.{Encoder, Encoders}
    def zero: Array[Int] = new Array[Int](64)
    def reduce(buf: Array[Int], h: Long): Array[Int] = {
      var i = 0
      while (i < 64) { buf(i) += (if (((h >>> i) & 1L) == 1L) 1 else -1); i += 1 }
      buf
    }
    def merge(x: Array[Int], y: Array[Int]): Array[Int] = {
      var i = 0
      while (i < 64) { x(i) += y(i); i += 1 }
      x
    }
    def finish(buf: Array[Int]): Long = {
      var out = 0L; var i = 0
      while (i < 64) { if (buf(i) > 0) out |= (1L << i); i += 1 }
      out
    }
    def bufferEncoder: Encoder[Array[Int]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Int]]()
    def outputEncoder: Encoder[Long] = Encoders.scalaLong
  }

  /** SimHash signature per id: explode tokens → xxhash64 → bit-majority
    * aggregate. One shuffle on idCol.
    */
  def simhash(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val agg = udaf(SimHashAgg)
    df.select(col(idCol), explode(TextFunctions.tokens(col(textCol))).as("tok"))
      .select(col(idCol), xxhash64(col("tok")).as("h"))
      .groupBy(idCol)
      .agg(agg(col("h")).as("simhash"))
  }

  /** Portable SimHash: token hash = md5-derived 60-bit int (same
    * derivation as [[shingleHashes]] minus the modulus), per-bit
    * majority via grouped sums. Heavier than [[simhash]]'s single
    * Aggregator (60 agg expressions vs one buffer) but reproducible in
    * any engine — used by the oracle-checked query; production uses
    * the Aggregator.
    */
  def mdSimhash(df: DataFrame, textCol: String, idCol: String,
                bits: Int = 60): DataFrame = {
    val tok = df.select(col(idCol),
        explode(TextFunctions.tokens(col(textCol))).as("t"))
      // native 60-bit md5 prefix (round 17): bit-identical to
      // conv(substring(md5(t), 1, 15), 16, 10) — Md5Long60's contract —
      // with no hex encode / radix parse per token
      .withColumn("h", TextFunctions.md5Long60(col("t")))
    val sums = (0 until bits).map(j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(lit(1L)) === 1L, 1)
        .otherwise(-1)).as(s"_b$j"))
    tok.groupBy(col(idCol))
      .agg(sums.head, sums.tail: _*)
      .select(col(idCol),
        (0 until bits).map(j =>
          when(col(s"_b$j") > 0, lit(1L << j)).otherwise(0L))
          .reduce(_ + _).as("simhash"))
  }

  /** Near-dup pairs by SimHash: block on `bands` bands of `bandBits`
    * bits (a true pair with Hamming < bands shares at least one exact
    * band by pigeonhole), refine with bit_count. With
    * maxHamming >= bands recall is NOT guaranteed — pairs whose
    * differing bits spread across every band are missed; raise `bands`
    * (narrower bands) for higher-Hamming searches.
    *
    * '''Capacity ceiling''': the band-bucket key space is `2^bandBits`
    * PER BAND, so bucket occupancy grows as docs/2^bandBits and the
    * refine stage as docs²/2^bandBits — with the default 4×15-bit
    * banding that is ~6×10⁹ candidate pairs at 10⁷ docs. Fine to
    * ~10⁶ docs; beyond that use MinHash-LSH ([[lshBuckets]] — md5
    * buckets, unbounded key space), whose candidate volume tracks the
    * real near-dup density instead of the signature width.
    */
  def simhashPairs(sigs: DataFrame, idCol: String, maxHamming: Int,
                   bands: Int = 4, bandBits: Int = 16): DataFrame = {
    val mask = (1L << bandBits) - 1
    val banded = sigs.select(col(idCol), col("simhash"),
      posexplode(array((0 until bands).map(b =>
        shiftright(col("simhash"), b * bandBits).bitwiseAND(lit(mask))): _*))
        .as(Seq("band", "bucket")))
    // same one-shuffle group-and-expand as candidatePairs (no self-join)
    banded.groupBy("band", "bucket")
      .agg(array_sort(collect_list(struct(col(idCol).as("id"),
        col("simhash").as("h")))).as("m"))
      .filter(size(col("m")) > 1)
      .select(explode(flatten(transform(col("m"), (x, i) =>
        transform(slice(col("m"), i + 2, size(col("m"))),
          y => struct(x.getField("id").as("a"), y.getField("id").as("b"),
            bit_count(x.getField("h").bitwiseXOR(y.getField("h")))
              .as("hamming")))))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"), col("p.hamming").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Connected components over an undirected candidate-pair edge list:
    * (id, component) where component = min id reachable. This is the
    * step that turns near-dup PAIRS into dedup CLUSTERS ("keep one doc
    * per component") — the canonical corpus-dedup reduction.
    *
    * FRONT DOOR: delegates to [[connectedComponentsStar]] (Kiveris et
    * al. 2014), the measured scale default — BASELINE.md's 10⁶→10⁷-doc
    * runs show star rounds flat at 4 while min-label propagation grows
    * with the corpus (6→9; its round count is bound by component
    * diameter, and FP-edge chains grow with corpus size), with
    * bit-identical labels at every scale. Label propagation remains
    * available as the explicit opt-in
    * [[connectedComponentsLabelProp]] for graphs known to be
    * tiny-diameter (pure LSH-bucket cliques) where its simpler
    * per-round plan can win constants.
    */
  def connectedComponents(edges: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 30): DataFrame =
    connectedComponentsStar(edges, aCol, bCol, maxIter)

  /** Iterative min-label propagation — the explicit OPT-IN variant of
    * [[connectedComponents]] (which defaults to the star algorithm;
    * see its scaladoc for the measured reason). Each round joins the
    * symmetric edge list to the current labels and takes the per-node
    * min — one shuffle per round, converging in O(component diameter)
    * rounds. Near-dup clusters have tiny diameters (most are cliques
    * from shared LSH buckets), so 3-4 rounds is typical there. Lineage
    * is truncated every round with an eager localCheckpoint; without
    * it the plan doubles per iteration and the driver dies at scale.
    */
  def connectedComponentsLabelProp(edges: DataFrame, aCol: String, bCol: String,
                                   maxIter: Int = 50): DataFrame = {
    val sym = edges.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(edges.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct()
      .localCheckpoint(true)
    var labels = sym.select(col("src").as("id")).distinct()
      .withColumn("component", col("id"))
      .localCheckpoint(true)
    var iter = 0
    // Convergence via the count+XOR signature (same primitive as
    // [[connectedComponentsStar]]): one cheap aggregate over the new
    // labels per round, instead of the old next-vs-prev join + count
    // that cost an extra action AND an extra shuffle per round. Labels
    // only ever decrease, so an unchanged signature means an unchanged
    // assignment (up to a 64-bit XOR-fold collision).
    var sig = labelSignature(labels)
    var converged = false
    while (!converged && iter < maxIter) {
      val msgs = sym.join(labels, sym("src") === labels("id"))
        .select(col("dst").as("id"), col("component"))
      val next = labels.unionByName(msgs)
        .groupBy("id").agg(min("component").as("component"))
        .localCheckpoint(true)
      val nextSig = labelSignature(next)
      converged = nextSig == sig
      sig = nextSig
      labels = next
      iter += 1
    }
    lastCcRounds = iter
    labels
  }

  /** Rounds the last connectedComponents/-Star call ran — diagnostic/
    * bench observability (the scale benches assert LSH dedup graphs
    * converge in a handful of rounds).
    */
  @volatile private[graft] var lastCcRounds: Int = 0

  /** Order-independent (rowCount, XOR of row hashes) digest — equal
    * digests across rounds detect an iterative fixpoint with ONE
    * aggregate job, no self-join. XOR can't overflow under ANSI mode
    * (a sum of longs can).
    */
  private def labelSignature(labels: DataFrame): (Long, Long) = {
    val r = labels.select(xxhash64(col("id"), col("component")).as("h"))
      .agg(count(lit(1)), coalesce(expr("bit_xor(h)"), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Connected components by alternating large-star / small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce
    * and Beyond", SoCC 2014) — the same (id, component = min reachable
    * id) contract as [[connectedComponents]], but O(log²) rounds on ANY
    * graph where min-label propagation needs O(diameter): the scale
    * path for long-chain graphs.
    *
    * large-star points every node's LARGER neighbors at the minimum of
    * its neighborhood; small-star points its smaller neighbors (and the
    * node itself) at their minimum. The edge set monotonically
    * contracts into per-component stars centered at the component
    * minimum. Convergence is detected with a count+hash signature —
    * one cheap aggregate per round instead of a full `except`. Lineage
    * truncates per round via localCheckpoint, same as the
    * label-propagation variant.
    *
    * High-degree handling (the paper's §4 load-balancing concern): the
    * per-node neighborhood minimum is computed with a partial-aggregated
    * `groupBy.min`, NOT a window over the src partition — a giant
    * component's center (whose fixpoint degree is the component size)
    * contributes one row per map partition to the agg shuffle instead
    * of concentrating its whole adjacency in one window task. The join
    * back on src is the remaining skewed exchange, and it is a plain
    * equi join that AQE's skew-join split re-parallelizes at runtime.
    */
  def connectedComponentsStar(edges: DataFrame, aCol: String, bCol: String,
                              maxIter: Int = 30): DataFrame = {
    val ids = edges.select(col(aCol).as("id"))
      .union(edges.select(col(bCol).as("id"))).distinct()
    // canonical form: larger endpoint first, self-loops dropped
    var cur = edges
      .select(greatest(col(aCol), col(bCol)).as("src"),
              least(col(aCol), col(bCol)).as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
      .localCheckpoint(true)

    // min neighbor per src via combiner-style aggregation (hub-safe),
    // joined back to the per-edge rows that need it
    def withNeighborhoodMin(e: DataFrame): DataFrame =
      e.join(e.groupBy("src").agg(min("dst").as("mn")), "src")

    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      withNeighborhoodMin(sym)
        .withColumn("m", least(col("mn"), col("src")))
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      withNeighborhoodMin(e)
        .select(explode(array(col("src"), col("dst"))).as("v"),
          col("mn").as("m"))
        .filter(col("v") =!= col("m"))
        .select(col("v").as("src"), col("m").as("dst"))
        .distinct()
    }
    def signature(e: DataFrame): (Long, Long) = {
      val r = e.select(xxhash64(col("src"), col("dst")).as("h"))
        .agg(count(lit(1)), coalesce(expr("bit_xor(h)"), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }

    var sig = signature(cur)
    var iter = 0
    var converged = cur.isEmpty
    while (!converged && iter < maxIter) {
      val next = smallStar(largeStar(cur)).localCheckpoint(true)
      val nextSig = signature(next)
      converged = nextSig == sig
      sig = nextSig
      cur = next
      iter += 1
    }
    lastCcRounds = iter
    if (!converged)
      System.err.println(s"[ccStar] no fixpoint after $maxIter rounds; " +
        "labels may be non-minimal")
    // fixpoint = disjoint stars: each edge points a member at its
    // component min; centers (and ids with only self-loop edges) label
    // themselves. The min-aggregate is a no-op at the fixpoint (one
    // edge per src) but keeps the one-row-per-id contract if maxIter
    // ran out before convergence.
    val starred = cur.groupBy(col("src").as("id")).agg(min("dst").as("component"))
    ids.join(starred, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
  }

  /** Incremental-ingestion dedup: rows of `batch` whose canonical
    * fingerprint is NOT already in `knownFps` (a one-column `fp` table,
    * e.g. the fingerprints of everything previously accepted). The
    * anti join shuffles on fp only; the accepted-set table is the
    * natural thing to bucket by fp so repeated ingestion never
    * re-shuffles it. Streaming analog: [[graft.streaming.StreamingDedup]].
    */
  def newAgainstKnown(batch: DataFrame, textCol: String,
                      knownFps: DataFrame): DataFrame =
    batch.withColumn("fp", TextFunctions.fingerprint(col(textCol)))
      .join(knownFps.select(col("fp")), Seq("fp"), "left_anti")
      .drop("fp")

  /** Exact substring (span-level) duplicate detection — the detection
    * core of Lee et al., "Deduplicating Training Data Makes Language
    * Models Better" (2022), re-expressed relationally instead of via
    * suffix arrays: slide a `width`-token window every `stride` tokens
    * over each document, hash each span to 60 bits (md5-derived, so
    * the DuckDB oracle computes the identical key — the [[mdSimhash]]
    * convention), and count distinct documents per span hash. Spans in
    * `minDocs`+ documents are verbatim repeated training text that
    * whole-document MinHash (Jaccard below threshold) and paragraph
    * boilerplate (different split points) both miss.
    *
    * Plan: one explode (docs × spans/doc, the array carried through
    * the Generate and sliced per row — the q69 chunking shape) feeding
    * ONE map-side-combined aggregation on the 8-byte span hash. No
    * self-join, no span text on the shuffle. 60-bit collisions: at
    * 2³⁰ distinct spans the birthday bound expects ~1 false merge,
    * and the failure mode is one over-counted span — acceptable for
    * duplicate DETECTION. The REMOVAL pass does not trust these 60
    * bits alone: [[removeDuplicateSpans]] conjoins a second,
    * independent 60-bit key from a disjoint slice of the same md5
    * (120 effective bits) so a primary-key collision never cuts
    * legitimate unique text.
    *
    * Output: span_h, n_docs (distinct), n_occurrences.
    */
  def duplicateSpans(docs: DataFrame, textCol: String, idCol: String,
                     width: Int, stride: Int, minDocs: Long): DataFrame = {
    // fused span hashing (round 17, guide §1.2 per-task work): one
    // native expression per doc replaces the explode(sequence) →
    // slice → concat_ws → md5 → conv(substring) chain — bit-identical
    // keys (SpanHashes' contract; the DuckDB oracle fragment is
    // unchanged), no per-span string materialization or hex
    // encode/parse on the corpus-volume path.
    val spans = docs
      .withColumn("toks", TextFunctions.tokens(col(textCol)))
      .filter(size(col("toks")) >= width)
      .select(col(idCol),
        // detection consumes ONLY h1 — secondary width 1 (round 18,
        // advisor item) skips 14 wasted nibble extractions per span
        // on the corpus-volume stride path; h1 is unaffected (disjoint
        // digest slices), so keys and oracle fragments are unchanged
        explode(TextFunctions.spanHashes(col("toks"), width, stride, 15, 1))
          .as("sp"))
      .select(col(idCol), col("sp.h1").as("span_h"))
    spans.groupBy("span_h")
      .agg(countDistinct(col(idCol)).as("n_docs"),
        count(lit(1)).as("n_occurrences"))
      .filter(col("n_docs") >= minDocs)
  }

  /** The REMOVAL pass over [[duplicateSpans]]' detections — Lee et
    * al.'s dedup semantics: every occurrence of a span repeated
    * `minOccurrences`+ times in the corpus is cut EXCEPT the canonical
    * one (global minimum (doc, start)), overlapping cut windows merge
    * into ranges (a 20-token shared run = 13 overlapping duplicated
    * 8-windows = ONE cut range), and each document's surviving tokens
    * reassemble in order. Detection runs at stride 1 here — removal
    * must see every alignment.
    *
    * Scale shape: span hashes feed a map-side-combined groupBy (NOT a
    * window over span_h — a mega-duplicated span would funnel its
    * occurrence list into one task; the partial agg keeps hot spans
    * combined map-side), the keeper is a lexicographic min-struct, cut
    * ranges merge with the q14 running-max trick inside per-DOC
    * windows (bounded by document length), and reassembly is a
    * scan-local indexed array filter — no token ever shuffles.
    *
    * Collision hardening: unlike detection ([[duplicateSpans]]), a
    * removal-side hash collision CUTS legitimate unique text, so spans
    * are keyed by TWO independent 60-bit slices of the md5 (hex chars
    * 1–15 and 18–32; 120 effective bits). At 100 TB ≈ 10¹² stride-1
    * spans the birthday bound on 60 bits expects ~10⁵ false merges;
    * on 120 bits it expects ~10⁻¹² — negligible at any realistic
    * corpus size. Both keys ride the same 16-byte shuffle row and the
    * md5 is computed once per span.
    *
    * Output: idCol, clean_text, n_kept, n_cut (token counts).
    */
  def removeDuplicateSpans(docs: DataFrame, textCol: String, idCol: String,
                           width: Int, minOccurrences: Long = 2L): DataFrame =
    removeDuplicateSpansImpl(docs, textCol, idCol, width, minOccurrences,
      primaryHexChars = 15, secondaryHexChars = 15)

  /** Test seam for [[removeDuplicateSpans]]: the two span-key widths
    * (hex chars of the md5) are parameters so a spec can shrink the
    * primary key until distinct spans MUST collide (pigeonhole) and
    * assert the secondary key still prevents false cuts — and that
    * shrinking BOTH keys does produce them (the seam is live).
    */
  private[graft] def removeDuplicateSpansImpl(
      docs: DataFrame, textCol: String, idCol: String,
      width: Int, minOccurrences: Long,
      primaryHexChars: Int, secondaryHexChars: Int): DataFrame = {
    require(primaryHexChars >= 1 && primaryHexChars <= 15, "primaryHexChars in [1,15]")
    require(secondaryHexChars >= 1 && secondaryHexChars <= 15, "secondaryHexChars in [1,15]")
    val toks = docs.withColumn("toks", TextFunctions.tokens(col(textCol)))
    // fused span hashing (round 17 — the duplicateSpans rationale): one
    // md5 per position feeds BOTH 60-bit keys straight from the digest
    // bytes; the key widths stay parameters, so the collision-seam
    // specs exercise the production expression.
    val spans = toks
      .filter(size(col("toks")) >= width)
      .select(col(idCol),
        explode(TextFunctions.spanHashes(col("toks"), width, 1,
          primaryHexChars, secondaryHexChars)).as("sp"))
      .select(col(idCol), col("sp.start").as("start"),
        col("sp.h1").as("span_h"), col("sp.h2").as("span_h2"))
    // canonical occurrence per duplicated span: lexicographic min of
    // (doc, start) — one combined aggregation, skew-safe
    val dup = spans.groupBy("span_h", "span_h2")
      .agg(count(lit(1)).as("n_occ"),
        min(struct(col(idCol).as("kdoc"), col("start").as("kstart")))
          .as("keeper"))
      .filter(col("n_occ") >= minOccurrences)
      .select(col("span_h"), col("span_h2"), col("keeper.kdoc").as("kdoc"),
        col("keeper.kstart").as("kstart"))
      // Eager materialization is the SKEW armor, not an optimization
      // shortcut: without it the aggregate fuses into the join stage
      // and AQE's OptimizeSkewedJoin — which only matches a join fed
      // DIRECTLY by shuffle stages — can never split the occurrence
      // side, so a mega-duplicated span (boilerplate repeated 10⁶×)
      // funnels through ONE task. Checkpointed, both join inputs read
      // through fresh exchanges and the skew split re-parallelizes the
      // hot key at runtime (pinned by ScaleProofSpec). Cost: one
      // re-shuffle of the DETECTED keys only — tiny next to the
      // occurrence stream.
      .localCheckpoint(true)
    val cuts = spans.join(dup, Seq("span_h", "span_h2"))
      .filter(!(col(idCol) === col("kdoc") && col("start") === col("kstart")))
      .select(col(idCol), col("start"),
        (col("start") + width - 1).as("end"))
    // merge overlapping/adjacent cut windows per doc (running max of
    // preceding ends — the q14 gap trick)
    val wd = Window.partitionBy(idCol).orderBy(col("start"), col("end"))
    val merged = cuts
      .withColumn("prev_max",
        max("end").over(wd.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("fresh",
        when(col("prev_max").isNull || col("start") > col("prev_max"), 1L)
          .otherwise(0L))
      .withColumn("grp", sum("fresh").over(wd))
      .groupBy(col(idCol), col("grp"))
      .agg(min("start").as("cs"), max("end").as("ce"))
      .groupBy(idCol)
      .agg(collect_list(struct(col("cs"), col("ce"))).as("cut_ranges"))
    toks.join(merged, Seq(idCol), "left")
      .select(col(idCol), col("toks"),
        // docs with no cuts carry a NULL range list: a null exists()
        // inside filter() reads as drop-everything, so branch first
        when(col("cut_ranges").isNull, col("toks")).otherwise(
          filter(col("toks"), (_, i) =>
            !exists(col("cut_ranges"), r =>
              i + 1 >= r.getField("cs") && i + 1 <= r.getField("ce"))))
          .as("kept"))
      .select(col(idCol),
        concat_ws(" ", col("kept")).as("clean_text"),
        size(col("kept")).cast("long").as("n_kept"),
        (size(col("toks")) - size(col("kept"))).cast("long").as("n_cut"))
  }

  /** Blocked n-gram Jaccard near-dup pairs: candidate pairs come only
    * from equal blocking keys (cheap equi join); similarity refines on
    * distinct-token overlap |A∩B| / |A∪B|.
    */
  def jaccardPairs(df: DataFrame, textCol: String, idCol: String,
                   blockCols: Seq[String], threshold: Double): DataFrame = {
    val withToks = df.withColumn("toks",
      array_distinct(TextFunctions.tokens(col(textCol))))
    val a = withToks.select(blockCols.map(col) ++
      Seq(col(idCol).as("a"), col("toks").as("ta")): _*)
    val b = withToks.select(blockCols.map(col) ++
      Seq(col(idCol).as("b"), col("toks").as("tb")): _*)
    a.join(b, blockCols)
      .filter(col("a") < col("b"))
      .withColumn("inter", size(array_intersect(col("ta"), col("tb"))))
      .withColumn("jaccard",
        round(col("inter").cast("double") /
          (size(col("ta")) + size(col("tb")) - col("inter")).cast("double"), 6))
      .filter(col("jaccard") >= threshold)
      .select("a", "b", "jaccard")
  }
}
