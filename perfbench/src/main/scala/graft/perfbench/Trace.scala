package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call at a layer boundary. Times are wall-clock milliseconds
  * (the clock Spark stamps its job and planning events with) plus a
  * nanosecond duration for the span itself.
  */
final case class Span(id: Int, name: String, parent: Int, request: Int,
    startMs: Long, endMs: Long, durNs: Long)

object Span {
  /** Self time: the span's duration minus the part of its interval that its
    * direct children cover (overlapping children count once).
    */
  def selfMs(span: Span, children: Seq[Span]): Long =
    (span.endMs - span.startMs) -
      Stats.coveredLength(children.map(c => (c.startMs, c.endMs)), span.startMs, span.endMs)
}

/** Per-span Spark counts, summed from listener events. */
final class Counts {
  var jobs = 0; var stages = 0; var tasks = 0
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var shuffleWriteBytes = 0L; var shuffleWriteNs = 0L; var fetchWaitMs = 0L; var spillBytes = 0L
  val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()

  def add(o: Counts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleWriteBytes += o.shuffleWriteBytes; shuffleWriteNs += o.shuffleWriteNs
    fetchWaitMs += o.fetchWaitMs; spillBytes += o.spillBytes
    jobIntervals ++= o.jobIntervals
  }
}

/** Records spans in memory and ties Spark jobs to them. Before each call the
  * tracer sets the SparkContext local property [[Tracer.SpanProp]]; the
  * listener reads it back from the job-start properties. Planning time comes
  * from each QueryExecution's tracker phases, attributed to the innermost
  * span whose interval holds the phases' start.
  */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  import Tracer._

  private val sc: SparkContext = spark.sparkContext
  val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var on = false
  private var request = 0

  /** Starts a new client request: spans opened from now on carry its id. */
  def nextRequest(): Unit = request += 1

  // listener state: written on the listener-bus thread, read after drain()
  private val jobSpan = mutable.HashMap[Int, Int]()
  private val jobStartMs = mutable.HashMap[Int, Long]()
  private val stageSpan = mutable.HashMap[Int, Int]()
  private val counts = mutable.HashMap[Int, Counts]()
  private val planning = mutable.ArrayBuffer[(Long, Long)]() // (phase start ms, planning ms)

  /** Registers the listeners; until [[stop]], [[span]] records. */
  def start(): Unit = {
    sc.addSparkListener(this)
    spark.listenerManager.register(this)
    on = true
  }

  def stop(): Unit = {
    drain()
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    on = false
  }

  def recording: Boolean = on

  def drain(): Unit = org.apache.spark.perfbench.ListenerBus.drain(sc)

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId; nextId += 1
      val req = request
      val parent = stack.headOption.getOrElse(-1)
      val prev = sc.getLocalProperty(SpanProp)
      sc.setLocalProperty(SpanProp, id.toString)
      stack = id :: stack
      val m0 = System.currentTimeMillis(); val n0 = System.nanoTime()
      try body
      finally {
        val n1 = System.nanoTime()
        spans += Span(id, name, parent, req, m0, m0 + (n1 - n0) / 1000000L, n1 - n0)
        stack = stack.tail
        sc.setLocalProperty(SpanProp, prev)
      }
    }

  private def countsOf(span: Int): Counts = counts.getOrElseUpdate(span, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
      .map(_.toInt).getOrElse(-1)
    jobSpan(e.jobId) = span
    jobStartMs(e.jobId) = e.time
    e.stageIds.foreach(s => stageSpan(s) = span)
    countsOf(span).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.get(e.jobId).foreach { span =>
      countsOf(span).jobIntervals += (jobStartMs(e.jobId) -> e.time)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    countsOf(stageSpan.getOrElse(e.stageInfo.stageId, -1)).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = countsOf(stageSpan.getOrElse(e.stageId, -1))
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleWriteNs += m.shuffleWriteMetrics.writeTime
      c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      c.spillBytes += m.diskBytesSpilled
    }
  }

  private def recordPlanning(qe: QueryExecution): Unit = synchronized {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty)
      planning += (phases.map(_.startTimeMs).min -> phases.map(p => p.endTimeMs - p.startTimeMs).sum)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    recordPlanning(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    recordPlanning(qe)

  /** The span and all its descendants. */
  def subtree(root: Span): Seq[Span] = {
    val kids = spans.groupBy(_.parent)
    def go(s: Span): Seq[Span] = s +: kids.getOrElse(s.id, Nil).toSeq.flatMap(go)
    go(root)
  }

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

  /** Spark counts of the span's own jobs (children excluded). */
  def ownCounts(span: Int): Counts = synchronized(counts.getOrElse(span, new Counts))

  /** Spark counts of the span's whole subtree. */
  def countsIn(root: Span): Counts = synchronized {
    val total = new Counts
    subtree(root).foreach(s => counts.get(s.id).foreach(total.add))
    total
  }

  /** Planning milliseconds whose query started inside the span and inside no
    * other span that started later (the innermost enclosing span).
    */
  def planningMsIn(root: Span): Double = synchronized {
    val inTree = subtree(root).map(_.id).toSet
    planning.filter { case (t, _) =>
      innermost(t).exists(inTree.contains)
    }.map(_._2.toDouble).sum
  }

  private def innermost(t: Long): Option[Int] =
    spans.filter(s => s.startMs <= t && t <= s.endMs).sortBy(s => (s.startMs, -s.endMs))
      .lastOption.map(_.id)

  /** Layer metrics of one span subtree, on a box with `cores` task slots. */
  def layerMetrics(root: Span, cores: Int): Map[String, Double] = {
    val c = countsIn(root)
    val wallMs = (root.endMs - root.startMs).max(1L)
    val inJobsMs = Stats.coveredLength(c.jobIntervals.toSeq, root.startMs, root.endMs)
    Map(
      "spark.jobs" -> c.jobs.toDouble,
      "spark.stages" -> c.stages.toDouble,
      "spark.tasks" -> c.tasks.toDouble,
      "spark.plan_ms" -> planningMsIn(root),
      "spark.driver_only_s" -> (wallMs - inJobsMs) / 1e3,
      "spark.task_run_s" -> c.runMs / 1e3,
      "spark.task_cpu_s" -> c.cpuNs / 1e9,
      "spark.cpu_util" -> c.runMs.toDouble / (wallMs.toDouble * cores),
      "spark.shuffle_write_mb" -> c.shuffleWriteBytes / 1e6,
      "spark.fetch_wait_s" -> c.fetchWaitMs / 1e3,
      "spark.spill_mb" -> c.spillBytes / 1e6,
      "spark.gc_s" -> c.gcMs / 1e3,
    )
  }

  /** Splits the span's wall time into planning, scheduling, task compute,
    * shuffle and driver-only seconds (they sum to the wall time). Task
    * compute and shuffle are task seconds spread over the `cores` slots;
    * scheduling is what is left of the time any job ran.
    */
  def split(root: Span, cores: Int): Map[String, Double] = {
    val c = countsIn(root)
    val wall = (root.endMs - root.startMs) / 1e3
    val inJobs = Stats.coveredLength(c.jobIntervals.toSeq, root.startMs, root.endMs) / 1e3
    val planningS = math.min(planningMsIn(root) / 1e3, wall - inJobs)
    val shuffle = math.min(inJobs, (c.fetchWaitMs / 1e3 + c.shuffleWriteNs / 1e9) / cores)
    val compute = math.min(inJobs - shuffle, c.runMs / 1e3 / cores - shuffle).max(0.0)
    Map(
      "planning_s" -> planningS,
      "driver_other_s" -> (wall - inJobs - planningS),
      "scheduling_s" -> (inJobs - shuffle - compute),
      "task_compute_s" -> compute,
      "shuffle_s" -> shuffle,
    )
  }
}

object Tracer {
  val SpanProp = "graft.perfbench.span"
}
