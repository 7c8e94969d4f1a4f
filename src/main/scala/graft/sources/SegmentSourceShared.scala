package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.sources

import scala.collection.mutable

/** Plumbing shared by the record-oriented segment sources (gsg,
  * mseed): directory walking with the hidden-path, mtime-watermark and
  * pushed-`path` rules, greedy slice bin-packing, Hadoop-conf shipping,
  * and the staged-rename sink commit. Format-specific logic (framing, split
  * boundaries, codecs) stays in each source.
  */
private[sources] object SegmentSourceShared {
  import GsgDataSource.{FileSlice, isHidden}

  /** A pushed filter on the `path` column: the scan prunes its file
    * listing with it (an index-driven read names the files it needs).
    */
  def isPathFilter(f: sources.Filter): Boolean = f match {
    case sources.EqualTo("path", _: String) => true
    case sources.In("path", _) => true
    case _ => false
  }

  /** Pushed filters split into the paths every `path` filter admits
    * (None: no such filter, every file) and the header filters the
    * tasks evaluate.
    */
  def splitPathFilters(pushed: Array[sources.Filter])
      : (Option[Set[String]], Array[sources.Filter]) = {
    val (byPath, header) = pushed.partition(isPathFilter)
    val paths = byPath.toSeq.collect {
      case sources.EqualTo(_, v: String) => Set(v)
      case sources.In(_, vs) => vs.collect { case v: String => v }.toSet
    }.reduceOption(_ intersect _)
    (paths, header)
  }

  /** Recursive listing: hidden paths skipped, files under `minLen`
    * (no room for one header) skipped, optional mtime watermark, and
    * optionally only the named `paths` (as the scan reports them in its
    * `path` column).
    */
  def listFiles(dir: String, minLen: Long, modifiedAfterMs: Option[Long],
                paths: Option[Set[String]]): Seq[FileStatus] = {
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    def keep(s: FileStatus): Boolean =
      s.getLen >= minLen &&
        modifiedAfterMs.forall(s.getModificationTime > _) &&
        paths.forall(_(s.getPath.toString))
    def walk(s: FileStatus): Seq[FileStatus] =
      if (isHidden(s.getPath)) Nil // staged writes / metadata
      else if (s.isDirectory) fs.listStatus(s.getPath).toSeq.flatMap(walk)
      else if (keep(s)) Seq(s)
      else Nil
    if (!fs.exists(p)) Nil else fs.getFileStatus(p) match {
      case d if d.isDirectory => fs.listStatus(p).toSeq.flatMap(walk)
      case f => Seq(f).filter(keep)
    }
  }

  /** Greedy bin-packing, largest first (Spark's file coalescing
    * shape): small slices share partitions, order deterministic.
    */
  def binPack(slices: Seq[FileSlice], target: Long): Seq[Seq[FileSlice]] = {
    val t = math.max(1L, target)
    val bins = mutable.ArrayBuffer.empty[(mutable.ArrayBuffer[FileSlice], Long)]
    slices.sortBy(s => -(s.end - s.start)).foreach { s =>
      val len = s.end - s.start
      bins.indices.find(i => bins(i)._2 + len <= t) match {
        case Some(i) => bins(i) = (bins(i)._1 += s, bins(i)._2 + len)
        case None => bins += ((mutable.ArrayBuffer(s), len))
      }
    }
    bins.map(_._1.toSeq).toSeq
  }

  /** The session Hadoop conf as serializable pairs, broadcast ONCE per
    * scan/write (Configuration itself is not serializable).
    */
  def broadcastConf(): org.apache.spark.broadcast.Broadcast[Seq[(String, String)]] = {
    val sc = SparkSession.active.sparkContext
    val it = sc.hadoopConfiguration.iterator()
    val buf = mutable.ArrayBuffer.empty[(String, String)]
    while (it.hasNext) { val e = it.next(); buf += e.getKey -> e.getValue }
    sc.broadcast(buf.toSeq)
  }

  def confOf(props: Seq[(String, String)]): org.apache.hadoop.conf.Configuration = {
    val c = new org.apache.hadoop.conf.Configuration()
    props.foreach { case (k, v) => c.set(k, v) }
    c
  }

  /** Driver-side job commit of a staged-file write: optional recursive
    * truncate of the previously visible files (mirroring the scan's
    * recursive walk), then rename every ".staged-…" file to its
    * visible "part-…" name. Per-FILE atomic — see the visibility
    * contract on [[GsgWriteBuilder]].
    */
  def commitStaged(dir: String, staged: Seq[String], truncateFirst: Boolean): Unit = {
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    val target = new Path(dir)
    val fs = target.getFileSystem(conf)
    if (truncateFirst && fs.exists(target)) {
      def purge(s: FileStatus): Unit =
        if (!isHidden(s.getPath)) {
          if (s.isDirectory) fs.listStatus(s.getPath).foreach(purge)
          else fs.delete(s.getPath, false)
        }
      fs.listStatus(target).foreach(purge)
    }
    staged.foreach { sp =>
      val p = new Path(sp)
      val visible = new Path(p.getParent,
        "part-" + p.getName.stripPrefix(".staged-"))
      if (!fs.rename(p, visible))
        throw new java.io.IOException(
          s"segment sink commit: rename $p -> $visible failed")
    }
  }

  def abortStaged(dir: String, staged: Seq[String]): Unit = {
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    val fs = new Path(dir).getFileSystem(conf)
    staged.foreach(sp => fs.delete(new Path(sp), false))
  }
}
