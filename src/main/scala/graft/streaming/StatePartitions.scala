package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** First-class state-partition sizing for the serving streams (round
  * 16, closing the round-15 footgun): `spark.sql.shuffle.partitions`
  * fixes a stream's STATE partition count at checkpoint creation, and
  * serving state is tiny (≤ Q·k rows per window), so default-width
  * stateful operators pay dozens of near-empty state-store commits per
  * trigger — the measured 20.7 → 12.3 s candidate-heavy /
  * 23.3 → 13.95 s serving-geometry wins (BASELINE, round 15). But the
  * same conf also feeds `repartition(col(...))` inside the static
  * store's cache layout, so setting it at the WRONG time collapses the
  * cached store to `n` partitions and the per-trigger probe loses its
  * scan parallelism (the measured 65 s how-not-to, BASELINE.md
  * "Streaming IVFADC serving", round 13).
  *
  * [[pin]] makes the ordering impossible to get wrong from the
  * builders: it MATERIALIZES the persisted static side first — pinning
  * the cached layout under the *current* (wide) conf — and only then
  * narrows the conf for the stream about to start. A streaming query
  * clones its session at `.start()`, so callers that keep using the
  * session for batch work should restore the conf right after start
  * (the stream keeps its captured value).
  */
object StatePartitions {

  private[streaming] def pin(staticSide: DataFrame, n: Int): Unit =
    pinAll(Seq(staticSide), n)

  /** Multi-store form for streams serving from SEVERAL static sides
    * (the hybrid stream joins a lexical store AND an IVF cell index):
    * ALL static sides must materialize under the wide conf BEFORE the
    * conf narrows — pinning them one at a time through [[pin]] would
    * materialize the second store inside the already-narrowed conf and
    * collapse its layout, the exact footgun this exists to close.
    */
  private[streaming] def pinAll(staticSides: Seq[DataFrame], n: Int): Unit = {
    require(n >= 1, s"statePartitions must be >= 1: $n")
    staticSides.foreach { s =>
      require(s.storageLevel != StorageLevel.NONE,
        "statePartitions requires the static serving store to be " +
          "persisted first — an unpersisted store would re-plan its " +
          "cache layout inside the narrowed stream conf and collapse " +
          "the probe's scan parallelism to the state width")
    }
    // materialize NOW, under the current conf: the cached layout's
    // partitioning is fixed at first materialization and survives any
    // later conf change
    staticSides.foreach(_.count())
    staticSides.head.sparkSession.conf
      .set("spark.sql.shuffle.partitions", n.toString)
    ()
  }
}
