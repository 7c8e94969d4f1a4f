package graft.streaming

/** Run two INDEPENDENT Spark actions concurrently (optimization guide
  * §2.6 — "overlap independent jobs"): a maintenance trigger's
  * store-commit and sidecar-commit touch disjoint TxTables, so their
  * jobs can back-fill each other's scheduler gaps instead of paying
  * two serial job launches per trigger (and the periodic compactions
  * likewise). Both branches JOIN before returning, so the
  * commit-before-return contract of the serial form is unchanged; a
  * failure in either propagates (appendOnce tags make any replay
  * exactly-once, exactly as under the serial form's partial-failure
  * window — a crash between the two serial commits already left one
  * landed and one not).
  */
private[graft] object ParallelCommits {

  /** ONE shared daemon pool (round 18): the first cut created a fresh
    * single-thread pool per trigger — correct (shutdown in finally)
    * but one thread create/destroy per maintenance tick. CACHED pool:
    * threads are reused across triggers and nested inParallel calls
    * (q197 overlaps a bootstrap that itself overlaps two commits) can
    * never exhaust a fixed worker count and deadlock. Daemon threads —
    * the pool never blocks JVM exit; idle workers expire after 60 s.
    */
  private val pool = java.util.concurrent.Executors.newCachedThreadPool(
    new java.util.concurrent.ThreadFactory {
      private val n = new java.util.concurrent.atomic.AtomicInteger(0)
      override def newThread(r: Runnable): Thread = {
        val t = new Thread(r, s"graft-parallel-commit-${n.getAndIncrement()}")
        t.setDaemon(true)
        t
      }
    })

  /** How long a failed `fa` waits for the concurrent `fb` to finish. */
  private val OrphanWaitMs: Long = 5L * 60 * 1000

  def inParallel[A, B](fa: => A, fb: => B): (A, B) = {
    val fut = pool.submit(new java.util.concurrent.Callable[B] {
      override def call(): B = fb
    })
    // if fa throws, the fb commit must NOT keep running unobserved in
    // the background: a streaming-query failure/restart could otherwise
    // overlap a retried batch with the still-live orphan. Await it
    // (commits are not safely interruptible mid-write; appendOnce tags
    // keep any completed orphan exactly-once), but only for
    // `OrphanWaitMs`: a wedged fb is logged and left behind rather than
    // hanging the failure path. fa's failure is the one thrown; fb's
    // rides along as suppressed.
    val a =
      try fa
      catch {
        case e: Throwable =>
          try fut.get(OrphanWaitMs, java.util.concurrent.TimeUnit.MILLISECONDS)
          catch {
            case x: java.util.concurrent.ExecutionException =>
              e.addSuppressed(x.getCause)
            case x: java.util.concurrent.TimeoutException =>
              System.err.println(s"[graft] ParallelCommits: the concurrent " +
                s"branch is still running $OrphanWaitMs ms after the other " +
                "failed; rethrowing without it")
              e.addSuppressed(x)
            case x: InterruptedException =>
              Thread.currentThread().interrupt()
              e.addSuppressed(x)
          }
          throw e
      }
    val b =
      try fut.get()
      catch {
        case e: java.util.concurrent.ExecutionException =>
          throw e.getCause
      }
    (a, b)
  }
}
