package graft

import org.apache.spark.sql.SparkSession

/** Driver-side overlap of INDEPENDENT Spark jobs (optimization guide §2.6):
  * actions are only sequential because driver code calls them sequentially,
  * and a lifecycle gate full of small jobs leaves most of the cluster idle
  * in each job's tail. Running independent units from a bounded thread pool
  * lets the next unit's tasks back-fill freed cores. FIFO scheduling (the
  * default) keeps the earlier unit ahead, which is exactly the back-fill
  * behaviour wanted.
  *
  * Results come back in INPUT ORDER (never completion order) and each thunk
  * runs exactly once, so a caller whose units are deterministic gets a
  * deterministic result — parallelism here changes wall clock, not values.
  * The first failure is rethrown only after EVERY thunk has settled: a
  * caller that cleans up shared state on failure (a commit clearing its
  * write scope and retirements) never races a sibling still running.
  */
object Concurrency {
  /** Default in-flight bound: a few jobs are enough to fill stage tails
    * (guide §2.6 — "2-3 jobs in flight is plenty"); unbounded fan-out is a
    * driver-memory/fairness footgun as call sites nest (each arm of one
    * level may open its own pool below). Overridable per call site where a
    * wider bound was measured to help.
    */
  val DefaultMaxConcurrent = 4

  /** Run `body` with `session` (when given) as this thread's active
    * session, then put back the session the thread had before — a worker
    * that already had one keeps it.
    */
  private[graft] def withActiveSession[T](session: Option[SparkSession])(
      body: => T): T = {
    val prior = SparkSession.getActiveSession
    session.foreach(SparkSession.setActiveSession)
    try body
    finally prior match {
      case Some(p) => SparkSession.setActiveSession(p)
      case None => SparkSession.clearActiveSession()
    }
  }

  def inParallel[T](thunks: Seq[() => T], maxConcurrent: Int = 0): Seq[T] = {
    if (thunks.isEmpty) return Seq.empty
    if (thunks.size == 1) return thunks.map(_())
    val n = math.min(
      if (maxConcurrent > 0) maxConcurrent else DefaultMaxConcurrent,
      thunks.size)
    // Worker threads must resolve the SAME session as the submitting
    // thread: Spark's active-session thread-local is inheritable, but a
    // pool thread spawned from a context with none set (e.g. a ScalaTest
    // runner thread) would leave ambient lookups session-less. Capture it
    // here, install it in each worker, restore after.
    val callerSession = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    try {
      import scala.jdk.CollectionConverters._
      val futures = pool.invokeAll(
        thunks.map(t => new java.util.concurrent.Callable[T] {
          override def call(): T = withActiveSession(callerSession)(t())
        }).asJava)
      futures.asScala.toSeq.map { f =>
        try f.get()
        catch { // unwrap so callers see the verb's own exception type
          case e: java.util.concurrent.ExecutionException =>
            throw Option(e.getCause).getOrElse(e)
        }
      }
    } finally pool.shutdown()
  }
}
