package perfbench

import java.util.concurrent.{Callable, ExecutionException, Executors, ThreadFactory, TimeUnit, TimeoutException}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Latencies and outcomes of one operation type. */
final class OpStat(val write: Boolean) {
  /** Latencies of untraced and of traced phases, in ms. */
  val ms: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty
  val msTraced: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty
  val engine: mutable.ArrayBuffer[EngineCounts] = mutable.ArrayBuffer.empty
  var attempted = 0
  var failed = 0
}

/** The benchmark's single closed-loop client. Each operation runs on one
  * worker thread under its own Spark job group with a per-operation
  * timeout; only operations that complete and pass their check are timed.
  * A thrown exception, a timeout or a wrong answer counts as a failure and
  * contributes no latency.
  *
  * `stored` holds answer checksums recorded by earlier runs of this
  * workload and seed (see [[answer]]).
  */
final class Client(spark: SparkSession, val tracer: Tracer, timeoutS: Long,
                   stored: Map[String, String]) {
  val stats: mutable.LinkedHashMap[String, OpStat] = mutable.LinkedHashMap.empty
  /** First answer checksum given in this run, per answer key. */
  val answers: mutable.LinkedHashMap[String, String] = mutable.LinkedHashMap.empty
  /** Whether completed operations are recorded as latency samples. */
  var measuring = false
  /** Set once an operation timed out: the worker may still hold it, so the
    * run starts no more operations.
    */
  var wedged = false
  /** Engine counters of the last traced operation. */
  var lastEngine: Option[EngineCounts] = None
  /** Latency of the last operation that completed and passed, in ms. */
  var lastMs = 0.0

  private val layerSums = mutable.LinkedHashMap.empty[String, Double]
  private val layerCounts = mutable.LinkedHashMap.empty[String, Long]
  private var seq = 0L

  private val worker = Executors.newSingleThreadExecutor(new ThreadFactory {
    def newThread(r: Runnable): Thread = {
      val t = new Thread(r, "perfbench-client")
      t.setDaemon(true)
      t
    }
  })

  /** Whether the current phase is traced: layer probes run only then. */
  def tracing: Boolean = tracer.isAttached

  /** Runs one operation. `body` does the work and fully materializes what
    * it returns; `check` (untimed) returns a description of a wrong answer.
    */
  def op[A](name: String, write: Boolean = false)(body: => A)(
      check: A => Option[String]): Option[A] = {
    val st = stats.getOrElseUpdate(name, new OpStat(write))
    if (wedged) return None
    st.attempted += 1
    seq += 1
    val group = s"perfbench-$seq"
    val traced = tracing
    // plans are kept only until the next operation's probes are done
    lastEngine.foreach(_.plans.clear())
    if (traced) { tracer.begin(); tracer.beginOp() }
    val task = worker.submit(new Callable[(A, Long)] {
      def call(): (A, Long) = {
        spark.sparkContext.setJobGroup(group, name, interruptOnCancel = true)
        try {
          val t0 = System.nanoTime()
          val r = if (traced) tracer.span(name)(body) else body
          (r, System.nanoTime() - t0)
        } finally spark.sparkContext.clearJobGroup()
      }
    })
    val res =
      try Right(task.get(timeoutS, TimeUnit.SECONDS))
      catch {
        case _: TimeoutException =>
          spark.sparkContext.cancelJobGroup(group)
          task.cancel(true)
          wedged = true
          Left(s"$name: no answer within $timeoutS s")
        case e: ExecutionException =>
          Left(s"$name: ${e.getCause}")
      }
    lastEngine = if (traced && !wedged) Some(tracer.end()) else None
    lastEngine.foreach(e => e.exchanges = Plans.exchanges(e.nodes))
    val outcome = res.flatMap { case (r, ns) =>
      check(r).map(m => s"$name: wrong answer: $m").toLeft((r, ns))
    }
    outcome match {
      case Right((r, ns)) =>
        lastMs = ns / 1e6
        if (measuring) {
          if (traced) st.msTraced += ns / 1e6 else st.ms += ns / 1e6
          lastEngine.foreach(st.engine += _)
        }
        Some(r)
      case Left(msg) =>
        st.failed += 1
        System.err.println(s"perfbench: FAILED $msg")
        None
    }
  }

  /** Checks an answer that has no independent reference: its checksum
    * must equal the one stored for this seed and `key`, if any, and the
    * first one given for `key` in this run. Returns the mismatch.
    */
  def answer(key: String, got: String): Option[String] = {
    val exp = stored.get(key).orElse(answers.get(key))
    answers.getOrElseUpdate(key, got)
    exp.filter(_ != got).map(e => s"$key answered $got, expected $e")
  }

  /** Records one occurrence of a layer quantity (traced phases only). */
  def add(name: String, v: Double): Unit = if (tracing && measuring) {
    layerSums(name) = layerSums.getOrElse(name, 0.0) + v
    layerCounts(name) = layerCounts.getOrElse(name, 0L) + 1
  }

  /** Times `body` as a layer span and records its wall time in ms. */
  def layer[A](name: String)(body: => A): A =
    if (!tracing) body
    else {
      val t0 = System.nanoTime()
      val r = tracer.span(name)(body)
      add(name, (System.nanoTime() - t0) / 1e6)
      r
    }

  /** Mean of the recorded occurrences of `name`, 0 when none. */
  def mean(name: String): Double =
    layerCounts.get(name).map(c => layerSums(name) / c).getOrElse(0.0)

  def sum(name: String): Double = layerSums.getOrElse(name, 0.0)

  def shutdown(): Unit = worker.shutdownNow()
}
