package graft.operators

/** Runs INDEPENDENT Spark actions concurrently from a small driver-side
  * thread pool (guide §2.6: actions are only sequential because driver code
  * calls them sequentially — submitting independent jobs together lets the
  * scheduler back-fill executors freed by the current job's straggler tail).
  * For write sequences whose outputs do not depend on each other (an index's
  * postings/stats/docs triple, an IVF index's assigned/centroids pair).
  *
  * The pool is sized to the task count and torn down before returning —
  * no shared state, no leaked threads. Failures propagate: the first
  * thrown exception is rethrown (unwrapped) after every action has
  * finished or failed, so a partial write never goes unnoticed. An
  * interrupt of the calling thread does not cut that wait short (it would
  * otherwise tear sibling writes down mid-flight): the remaining actions
  * are awaited, then the InterruptedException is rethrown.
  */
private[graft] object Concurrent {

  def awaitAll(thunks: (() => Unit)*): Unit = {
    if (thunks.length <= 1) { thunks.foreach(_.apply()); return }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(thunks.length)
    try {
      val futures = thunks.map { t =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          override def call(): Unit = t()
        })
      }
      var firstFailure: Throwable = null
      var interrupt: InterruptedException = null
      futures.foreach { f =>
        var settled = false
        while (!settled) {
          try { f.get(); settled = true }
          catch {
            case e: java.util.concurrent.ExecutionException =>
              if (firstFailure == null) firstFailure = e.getCause
              settled = true
            case e: InterruptedException => if (interrupt == null) interrupt = e
          }
        }
      }
      if (interrupt != null) {
        if (firstFailure != null) interrupt.addSuppressed(firstFailure)
        throw interrupt
      }
      if (firstFailure != null) throw firstFailure
    } finally pool.shutdownNow()
  }
}
