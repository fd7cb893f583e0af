package graft.operators

import org.apache.spark.sql.DataFrame

/** Deterministic persist-and-release for operator-internal frames that the
  * plan references several times (candidate generation + verify join-back,
  * marginals + pair joins). The policy is [[SJoin]]'s stableTagged release:
  * persist MEMORY_AND_DISK (spills, never evicts silently at scale) and
  * unpersist via a QueryExecutionListener on the FIRST completed action
  * whose analyzed plan contains the frame — so a long-lived session never
  * accumulates operator caches, and `NoLeakedPersistenceSpec` stays green
  * over the whole registry.
  *
  * CONTRACT: the caller must eventually EXECUTE an action over a plan that
  * embeds the cached frame — explain-only consumers (plan audits, an
  * abandoned builder chain) never trigger the listener, and a plan
  * containing a nondeterministic expression can never `sameResult`-match.
  * Such paths must call [[releaseAll]] when done (`Probe plan` does; its
  * time and jobs modes run real counts); every registration is also
  * tracked here so the valve can sweep stragglers.
  */
private[graft] object Caches {

  /** Live (frame, listener) registrations not yet released — the safety
    * valve's worklist. Guarded by its own monitor; entries leave on normal
    * listener release too, so the map stays empty in the steady state.
    */
  private val live = new java.util.IdentityHashMap[
    DataFrame, org.apache.spark.sql.util.QueryExecutionListener]()

  /** Registers the release listener. Call AFTER any operator-internal
    * action over `df` (a bounded count/collect), or that internal action
    * itself triggers the release before the caller's query ever runs.
    */
  def releaseAfterAction(df: DataFrame): Unit = {
    val session = df.sparkSession
    val target = df.queryExecution.analyzed
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    lazy val listener: org.apache.spark.sql.util.QueryExecutionListener =
      new org.apache.spark.sql.util.QueryExecutionListener {
        private def maybeRelease(qe: org.apache.spark.sql.execution.QueryExecution): Unit =
          if (qe.analyzed.find(_.sameResult(target)).isDefined &&
              done.compareAndSet(false, true)) {
            df.unpersist(blocking = false)
            session.listenerManager.unregister(listener)
            live.synchronized { live.remove(df) }
          }
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
          maybeRelease(qe)
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit =
          maybeRelease(qe)
      }
    session.listenerManager.register(listener)
    live.synchronized { live.put(df, listener) }
  }

  /** Persist + release on the first consuming action (see the class-level
    * contract: the consuming action must actually run).
    */
  def cachedUntilAction(df: DataFrame): DataFrame = {
    df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    releaseAfterAction(df)
    df
  }

  /** Releases `cached` when an action over a plan containing `anchor`
    * completes — for operators that run INTERNAL actions while building
    * their result (iterative rounds, bounded model fetches): a plain
    * [[releaseAfterAction]] on the cached frame would fire on the first
    * internal action and drop the cache before the caller's final action
    * consumes it. Same contract as [[releaseAfterAction]]: the anchor's
    * action must eventually run, and [[releaseAll]] sweeps stragglers.
    */
  def releaseWhen(anchor: DataFrame, cached: DataFrame): Unit = {
    val session = anchor.sparkSession
    val target = anchor.queryExecution.analyzed
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    lazy val listener: org.apache.spark.sql.util.QueryExecutionListener =
      new org.apache.spark.sql.util.QueryExecutionListener {
        private def maybeRelease(qe: org.apache.spark.sql.execution.QueryExecution): Unit =
          if (qe.analyzed.find(_.sameResult(target)).isDefined &&
              done.compareAndSet(false, true)) {
            cached.unpersist(blocking = false)
            session.listenerManager.unregister(listener)
            live.synchronized { live.remove(cached) }
          }
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
          maybeRelease(qe)
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit =
          maybeRelease(qe)
      }
    session.listenerManager.register(listener)
    live.synchronized { live.put(cached, listener) }
  }

  /** Safety valve for explain-only / abandoned consumers: unpersists every
    * still-registered frame and unregisters its listener. Idempotent; safe
    * to call from a session-teardown hook or after a pure plan audit.
    */
  def releaseAll(): Unit = {
    val entries = live.synchronized {
      val copy = new java.util.IdentityHashMap(live)
      live.clear()
      copy
    }
    entries.forEach { (df, listener) =>
      df.unpersist(blocking = false)
      df.sparkSession.listenerManager.unregister(listener)
    }
  }
}
