package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** Engine counters of one operation, gathered from listener events while
  * it ran, plus the executed plans of the queries it ran.
  */
final class EngineCounts {
  var stages = 0
  var tasks = 0
  var cpuNs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var recordsWritten = 0L
  /** Shuffle exchanges in the final plans, counted before they are dropped. */
  var exchanges = 0
  val taskMs: mutable.Map[Int, mutable.ArrayBuffer[Long]] = mutable.Map.empty
  val plans: mutable.ArrayBuffer[SparkPlan] = mutable.ArrayBuffer.empty
  /** (table or path written, if any; wall ns) of each query the operation
    * ran, in completion order.
    */
  val queries: mutable.ArrayBuffer[(Option[String], Long)] = mutable.ArrayBuffer.empty

  /** RDDs that stored cache blocks while the operation ran. */
  val cachedRdds: mutable.Set[Int] = mutable.Set.empty

  /** The nodes of the operation's plans (see [[Plans.nodes]]). */
  def nodes: Seq[SparkPlan] = Plans.nodes(plans, cachedRdds)

  /** Wall ms of the queries that wrote to a target containing `part`. */
  def writeMs(part: String): Double =
    queries.collect { case (Some(t), ns) if t.contains(part) => ns }.sum / 1e6

  /** Largest max ÷ median task run time over the stages with two or more
    * tasks; 1 when no stage had two tasks.
    */
  def taskSkew: Double = {
    val per = taskMs.values.filter(_.size >= 2).map { ts =>
      val s = ts.sorted
      s.last.toDouble / math.max(1L, s(s.size / 2)).toDouble
    }
    if (per.isEmpty) 1.0 else per.max
  }
}

/** A timed region: an operation (parent 0) or a layer call inside or after
  * one. Spans of one operation share `op`.
  */
final case class Span(id: Long, parent: Long, op: Long, name: String,
                      startNs: Long, endNs: Long)

/** Listener-based tracing, attached only during traced phases. Events are
  * delivered on Spark's listener bus thread; [[end]] drains the bus, so
  * everything an operation caused is counted before the next one begins.
  */
final class Tracer(spark: SparkSession) {
  @volatile private var cur = new EngineCounts
  @volatile private var attached = false

  private val listener = new SparkListener {
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
      e.blockUpdatedInfo.blockId match {
        case RDDBlockId(rdd, _) if e.blockUpdatedInfo.storageLevel.isValid =>
          cur.cachedRdds += rdd
        case _ =>
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (e.stageInfo.failureReason.isEmpty) cur.stages += 1
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val c = cur
      c.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.cpuNs += m.executorCpuTime
        c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.diskBytesSpilled
        c.inputBytes += m.inputMetrics.bytesRead
        c.recordsWritten += m.outputMetrics.recordsWritten
        c.taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
          m.executorRunTime
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit = {
      val c = cur
      c.plans += qe.executedPlan
      c.queries += (Plans.writeTarget(qe) -> durationNs)
    }
    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = ()
  }

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(planListener)
    attached = true
  }

  def detach(): Unit = if (attached) {
    PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(planListener)
    attached = false
  }

  def isAttached: Boolean = attached

  /** Starts a fresh counter. Events still queued from earlier jobs
    * (checks and probes of the previous operation) are delivered first, to
    * the counter they belong to.
    */
  def begin(): Unit = {
    PerfbenchBus.drain(spark.sparkContext)
    cur = new EngineCounts
  }

  /** The counters of the operation since [[begin]]. Jobs that run after
    * it (checks, layer probes) count elsewhere.
    */
  def end(): EngineCounts = {
    PerfbenchBus.drain(spark.sparkContext)
    val done = cur
    cur = new EngineCounts
    done
  }

  // ---------------------------------------------------------------- spans

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1L
  private var opId = 0L
  private val stack = mutable.Stack.empty[Long]

  def beginOp(): Unit = synchronized { opId += 1 }

  /** Times `body` as a span under the innermost open span. */
  def span[A](name: String)(body: => A): A = {
    val (id, parent, op) = synchronized {
      val id = nextId; nextId += 1
      val p = stack.headOption.getOrElse(0L)
      stack.push(id)
      (id, p, opId)
    }
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      synchronized { stack.pop(); spans += Span(id, parent, op, name, t0, t1) }
    }
  }

  def allSpans: Seq[Span] = synchronized(spans.toSeq)
}

/** Readers of executed-plan SQL metrics, descending through adaptive plans,
  * their query stages, and the plans of cached relations they scan.
  */
object Plans extends AdaptiveSparkPlanHelper {
  private def tree(p: SparkPlan): Seq[SparkPlan] = collectWithSubqueries(p) { case n => n }

  /** Every node of `ps`, each once. A scan of a cached relation whose
    * blocks RDD is in `built` (stored while the operation ran) is followed
    * by the nodes of the plan that built it; relations cached earlier are
    * not the operation's work.
    */
  def nodes(ps: Iterable[SparkPlan], built: collection.Set[Int]): Seq[SparkPlan] = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean])
    def walk(p: SparkPlan): Seq[SparkPlan] = tree(p).flatMap {
      case m: InMemoryTableScanExec
          if m.relation.cacheBuilder.isCachedColumnBuffersLoaded &&
            built(m.relation.cacheBuilder.cachedColumnBuffers.id) =>
        m +: walk(m.relation.cachedPlan)
      case n => Seq(n)
    }
    ps.iterator.flatMap(walk).filter(seen.add).toSeq
  }

  def metric(n: SparkPlan, key: String): Long =
    n.metrics.get(key).map(_.value).getOrElse(0L)

  /** The table or output path a write query wrote to; None for reads. */
  def writeTarget(qe: QueryExecution): Option[String] = qe.analyzed.collectFirst {
    case w: V2WriteCommand => w.table.name
    case w: InsertIntoHadoopFsRelationCommand => w.outputPath.toString
  }

  def exchanges(ns: Seq[SparkPlan]): Int = ns.count(_.isInstanceOf[ShuffleExchangeLike])

  private def describe(n: SparkPlan): String = n.simpleString(1000)

  /** Aggregate nodes whose aggregate functions mention `fn`. */
  def aggregates(ns: Seq[SparkPlan], fn: String): Seq[SparkPlan] =
    ns.filter { n =>
      n.nodeName.contains("Aggregate") &&
        describe(n).toLowerCase.contains(fn.toLowerCase)
    }

  /** Rows entering the first-level aggregates of `fn` (partial mode where
    * the aggregate is split): the row count of the nearest descendant that
    * reports one.
    */
  def aggregateInputRows(ns: Seq[SparkPlan], fn: String): Long = {
    val all = aggregates(ns, fn)
    val partial = all.filter(n => describe(n).toLowerCase.contains("partial_"))
    (if (partial.nonEmpty) partial else all)
      .map(n => rowsBelow(n.children.headOption)).sum
  }

  @annotation.tailrec
  private def rowsBelow(n: Option[SparkPlan]): Long = n match {
    case None => 0L
    case Some(c) if c.metrics.contains("numOutputRows") => metric(c, "numOutputRows")
    case Some(c) =>
      val next = c.children.headOption.orElse(tree(c).drop(1).headOption)
      if (next.contains(c)) 0L else rowsBelow(next)
  }

  /** Task time spent building the aggregates of `fn`, in ms. */
  def aggregateMs(ns: Seq[SparkPlan], fn: String): Double =
    aggregates(ns, fn).map(metric(_, "aggTime")).sum.toDouble

  /** Output rows of the file scans over a root path ending in `suffix`. */
  def scanRows(ns: Seq[SparkPlan], suffix: String): Long =
    ns.collect {
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.endsWith(suffix)) =>
        metric(s, "numOutputRows")
    }.sum
}
