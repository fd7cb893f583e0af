package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs, and one temp root per suite. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"
  /** `import testImplicits._` for toDF/toDS in specs. */
  protected lazy val testImplicits = spark.implicits

  private var tmpRoot: Option[Path] = None

  /** A new empty directory (prefix `tag`) under this suite's temp root,
    * which is created on first use and deleted after the suite.
    */
  protected def tmpDir(tag: String): String = synchronized {
    val root = tmpRoot.getOrElse {
      val r = Files.createTempDirectory(s"graft-${getClass.getSimpleName}-")
      tmpRoot = Some(r)
      r
    }
    Files.createTempDirectory(root, tag).toString
  }

  /** Whether `df` optimizes to a local relation: its rows were computed
    * before any action on it.
    */
  protected def servedOnDriver(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]

  /** `df`'s rows in one fixed order, for exact comparisons. */
  protected def sortedRows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq

  /** Runs `body` and returns its value with the Spark jobs it started and
    * the query executions that completed while it ran. Jobs are told apart
    * by a job group set on this thread, which the threads it starts
    * inherit; both lists are read after the listener bus has drained.
    */
  protected def traced[T](body: => T): (T, Int, Seq[QueryExecution]) = {
    val sc = spark.sparkContext
    val group = s"traced-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    val planListener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    sc.setJobGroup(group, group)
    try {
      val out = body
      org.apache.spark.ListenerBusDrain(sc)
      (out, jobs.get, plans.asScala.toSeq)
    } finally {
      sc.clearJobGroup()
      spark.listenerManager.unregister(planListener)
      sc.removeSparkListener(jobListener)
    }
  }

  override def afterAll(): Unit =
    try tmpRoot.foreach(graft.deleteRecursively) finally super.afterAll()
}

object SparkSpec {
  lazy val session: SparkSession = graft.tools.Harness.localSession(4)
}
