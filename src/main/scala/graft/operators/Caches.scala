package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel

/** Deterministic persist-and-release for operator-internal frames that the
  * plan references several times (candidate generation + verify join-back,
  * marginals + pair joins, id sets reused across rounds). This object owns
  * the policy: persist MEMORY_AND_DISK (spills, never evicts silently at
  * scale) and release via a QueryExecutionListener on the FIRST completed
  * action — success or failure — whose analyzed plan contains the anchor
  * frame, so a long-lived session never accumulates operator caches, and
  * `NoLeakedPersistenceSpec` stays green over the whole registry.
  *
  * CONTRACT: the caller must eventually EXECUTE an action over a plan that
  * embeds the anchor — explain-only consumers (plan audits, an abandoned
  * builder chain) never trigger the listener, and a plan containing a
  * nondeterministic expression can never `sameResult`-match. Such paths
  * must call [[releaseAll]] when done (`Probe plan` does; its time and jobs
  * modes run real counts); every registration is tracked here so the valve
  * can sweep stragglers.
  */
private[graft] object Caches {

  /** Open claims per canonical persisted plan. Two calls over the same
    * nondeterministic input (slookup then sfilter on one sampled frame)
    * build `sameResult`-equal plans, so they share ONE cache entry — the
    * second persist is a no-op — while each release runs asynchronously on
    * the listener bus. Counting owners keeps an earlier call's late release
    * from uncaching the entry a later call still scans.
    */
  private val owners = scala.collection.mutable.HashMap.empty[LogicalPlan, Int]

  /** Registrations not yet released, each with its one-shot release — the
    * safety valve's worklist. Entries leave on normal listener release too,
    * so the set stays empty in the steady state.
    */
  private val live = java.util.concurrent.ConcurrentHashMap.newKeySet[Registration]()

  private final class Registration(anchor: DataFrame, frames: Seq[DataFrame])
      extends QueryExecutionListener {
    private val target = anchor.queryExecution.analyzed
    private val done = new java.util.concurrent.atomic.AtomicBoolean(false)

    def fire(): Unit = if (done.compareAndSet(false, true)) {
      frames.foreach(release)
      anchor.sparkSession.listenerManager.unregister(this)
      live.remove(this)
    }
    /** A query whose analysis failed cannot contain the anchor, and reading
      * its `analyzed` would rethrow that failure on the listener bus.
      */
    private def maybeRelease(qe: QueryExecution): Unit =
      if (scala.util.Try(qe.analyzed).toOption.exists(_.find(_.sameResult(target)).isDefined))
        fire()
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      maybeRelease(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      maybeRelease(qe)
  }

  /** Persists `df` MEMORY_AND_DISK and takes one claim on its cache entry.
    * A claim on an entry someone else already uncached is void, so the count
    * restarts at one.
    */
  def persist(df: DataFrame): DataFrame = {
    val key = df.queryExecution.analyzed.canonicalized
    owners.synchronized {
      val held = if (df.storageLevel == StorageLevel.NONE) 0 else owners.getOrElse(key, 0)
      owners(key) = held + 1
      df.persist(StorageLevel.MEMORY_AND_DISK)
    }
  }

  /** Frees one operator-internal frame now. A lazy localCheckpoint keeps its
    * blocks on the RDD wrapped by its LogicalRDD plan — `Dataset.unpersist`
    * only drops CacheManager-registered plans, so it never touches them —
    * and frees that RDD directly. Any other frame drops one [[persist]]
    * claim; the last claim unpersists.
    */
  def release(df: DataFrame): Unit = df.queryExecution.analyzed match {
    case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
    case plan =>
      val key = plan.canonicalized
      owners.synchronized {
        val n = owners.getOrElse(key, 0) - 1
        if (n > 0) owners(key) = n
        else {
          owners.remove(key)
          df.unpersist(blocking = false)
        }
      }
  }

  /** Releases `frames` when the first action whose analyzed plan contains
    * `anchor` completes. Operators that run INTERNAL actions while building
    * their result (iterative rounds, bounded model fetches) anchor on the
    * result: anchoring on the cached frame itself would fire on the first
    * internal action and drop the cache before the caller's final action
    * consumes it. Register AFTER any such internal action over the anchor.
    */
  def releaseWhen(anchor: DataFrame, frames: DataFrame*): Unit =
    if (frames.nonEmpty) {
      val reg = new Registration(anchor, frames)
      live.add(reg)
      anchor.sparkSession.listenerManager.register(reg)
    }

  /** [[persist]] + release on the first action consuming `df` itself. */
  def cachedUntilAction(df: DataFrame): DataFrame = {
    persist(df)
    releaseWhen(df, df)
    df
  }

  /** Safety valve for explain-only / abandoned consumers: fires every
    * still-registered release now. Idempotent; safe to call from a
    * session-teardown hook or after a pure plan audit.
    */
  def releaseAll(): Unit = live.forEach(_.fire())
}
