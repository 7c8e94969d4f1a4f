package graft.bank

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

/** Containment cache for index reads — the reference's `_IndexCache`
  * (`utils/bank.py:159-264`): a fixed-size ring of recent index
  * queries keyed by (time interval, other kwargs). A new query HITS
  * when a cached entry's interval contains it and the non-time kwargs
  * match exactly; the cached rows are then re-filtered down to the
  * narrower interval instead of re-reading the store.
  *
  * Spark-first shape: the reference caches a pandas frame in driver
  * memory; here the entry is a `persist`ed DataFrame, so the cached
  * rows live distributed across executors (MEMORY_AND_DISK — an index
  * overflow spills, never OOMs), the narrowing filter is a plan over
  * the in-memory relation (no parquet re-scan, no re-shuffle), and
  * eviction `unpersist`s. Index rows are per-FILE summaries — ~MBs
  * even for a 100 TB archive — so a handful of persisted entries is
  * cheap next to the scan they save.
  *
  * Thread-safe: bank instances are shared across query threads.
  */
final class IndexCache(size: Int = 5) {
  require(size > 0, s"cache size must be positive, got $size")

  private final case class Entry(t1: Long, t2: Long, key: Seq[String],
                                 stamp: Long, df: DataFrame)
  private val entries = Array.fill[Option[Entry]](size)(None)
  private var next = 0

  /** The cached frame whose interval contains [t1, t2] under `key` AND
    * whose store stamp equals `stamp`, loading (and persisting) via
    * `load` on a miss. `stamp` is the caller's cheap store-version
    * probe (a commit version or directory-listing fingerprint): an
    * entry cached against an older stamp is a snapshot of a store
    * someone else has since written to, so it is evicted on sight —
    * which is what makes the cache safe under MULTIPLE writer
    * instances, not just the owning bank's own `updateIndex`. All
    * entries describe the same store, so any stamp change stales all
    * of them at once. The caller applies its own exact narrowing
    * filter to the returned frame — this class only guarantees the
    * frame is a superset for contained intervals.
    */
  def getOrLoad(t1: Long, t2: Long, key: Seq[String], stamp: Long,
                load: => DataFrame): DataFrame = synchronized {
    entries.indices.foreach { i =>
      entries(i).filter(_.stamp != stamp).foreach { e =>
        e.df.unpersist(); entries(i) = None
      }
    }
    entries.flatten
      .find(e => e.t1 <= t1 && e.t2 >= t2 && e.key == key) match {
      case Some(e) => e.df
      case None =>
        val df = load.persist(StorageLevel.MEMORY_AND_DISK)
        entries(next).foreach(_.df.unpersist())
        entries(next) = Some(Entry(t1, t2, key, stamp, df))
        next = (next + 1) % size
        df
    }
  }

  /** Drop every entry — called whenever the underlying index changes
    * (the reference clears on `update_index`, `bank/core.py:154`).
    */
  def clear(): Unit = synchronized {
    entries.indices.foreach { i =>
      entries(i).foreach(_.df.unpersist())
      entries(i) = None
    }
    next = 0
  }

  /** Cached-entry count (spec introspection). */
  def occupied: Int = synchronized(entries.count(_.isDefined))
}

/** The schema of a plain-parquet index, inferred once per store
  * version: `spark.read.parquet` runs a footer-reading Spark job to
  * infer it on every read, so reads of an unchanged store pass the
  * remembered schema instead. `version` is the caller's driver-side
  * store-version probe (the same kind of stamp [[IndexCache]] guards
  * its entries with); a write the probe does not see leaves readers on
  * the schema last inferred.
  */
final class SchemaMemo(spark: SparkSession) {
  private val last =
    new java.util.concurrent.atomic.AtomicReference[(Any, StructType)]()

  def read(version: Any, path: String): DataFrame = last.get match {
    case (`version`, schema) => spark.read.schema(schema).parquet(path)
    case _ =>
      val df = spark.read.parquet(path)
      last.set((version, df.schema))
      df
  }

  /** Forget the schema: the next read infers from the files. */
  def clear(): Unit = last.set(null)
}
