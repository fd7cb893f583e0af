package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

import graft.SparkEntry
import graft.operators.Caches

/** Per-query inspection of registry queries in one session:
  * `runMain graft.tools.Probe <time|jobs|plan> <q1,q2,...> <sfDir> [...]`.
  *
  *  - `time <qs> <sfDir> [runs]`: wall time and row count of `runs` (default
  *    3) counts per query.
  *  - `jobs <qs> <sfDir> [runs]`: the same counts with scheduler totals —
  *    jobs, stages, tasks, summed task time — and one line per completed
  *    stage (run vs CPU time, fetch wait, shuffle write, GC): the
  *    overhead-vs-compute split a local run can't show without a UI.
  *  - `plan <qs> <sfDir> [outDir suffix]`: `.explain("formatted")` per query,
  *    to stdout, or to `<outDir>/<query>_<suffix>.txt` — the round's plan
  *    artifacts (plans/rNN/<query>_before|after.txt). Exits 1 after naming
  *    the queries whose plan failed.
  *
  * `<qs>` follows [[graft.SparkEntry.resolveQueries]]: an unknown name fails
  * before any work.
  */
object Probe {

  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: Probe <time|jobs|plan> <q1,q2,...> <sfDir> [runs | outDir suffix]")
    val mode = args(0)
    val names = SparkEntry.resolveQueries(args(1))
    val sfDir = args(2)
    require(Set("time", "jobs", "plan")(mode), s"unknown mode '$mode' (time|jobs|plan)")
    val spark = Harness.localSession(Harness.defaultCores)
    val failed = try mode match {
      case "plan" => plan(spark, names, sfDir, args.lift(3).zip(args.lift(4)))
      case _ => count(spark, names, sfDir, args.lift(3).fold(3)(_.toInt), mode == "jobs"); Nil
    } finally spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[probe] ${failed.size} plans failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }

  /** Prints or dumps each query's plan; returns the queries that failed. */
  private def plan(spark: SparkSession, names: Seq[String],
      sfDir: String, out: Option[(String, String)]): Seq[String] = {
    out.foreach { case (dir, _) => Files.createDirectories(Paths.get(dir)) }
    names.filterNot { name =>
      try {
        val text = SparkEntry.queries(name)(spark, sfDir)
          .queryExecution.explainString(FormattedMode)
        out match {
          case Some((dir, suffix)) =>
            Files.write(Paths.get(s"$dir/${name}_$suffix.txt"), text.getBytes("UTF-8"))
            println(s"dumped $name")
          case None => println(s"== $name\n$text")
        }
        true
      } catch { case e: Exception =>
        println(s"FAILED $name: ${e.getMessage}")
        false
      } finally {
        // plan-only consumer: release operator-internal caches the query
        // registered for its (never-run) action (Caches contract)
        Caches.releaseAll()
      }
    }
  }

  private def count(spark: SparkSession, names: Seq[String],
      sfDir: String, runs: Int, jobs: Boolean): Unit = {
    @volatile var nJobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    @volatile var taskNs = 0L
    if (jobs) spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = nJobs += 1
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        stages += 1
        val si = sc.stageInfo
        val ms = si.taskMetrics
        println(f"  stage ${si.stageId}%4d tasks=${si.numTasks}%4d " +
          f"run=${ms.executorRunTime / 1e3}%7.2f cpu=${ms.executorCpuTime / 1e9}%7.2f " +
          f"srFetch=${ms.shuffleReadMetrics.fetchWaitTime / 1e3}%6.2f " +
          f"swWrite=${ms.shuffleWriteMetrics.writeTime / 1e9}%6.2f gc=${ms.jvmGCTime / 1e3}%5.2f " +
          s"name=${si.name.take(60)}")
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks += 1
        if (t.taskInfo != null) taskNs += (t.taskInfo.finishTime - t.taskInfo.launchTime) * 1000000L
      }
    })
    names.foreach { name =>
      val q = SparkEntry.queries(name)
      for (i <- 0 until runs) {
        nJobs = 0; stages = 0; tasks = 0; taskNs = 0L
        val t0 = System.nanoTime()
        val n = q(spark, sfDir).count()
        val wall = (System.nanoTime() - t0) / 1e9
        if (jobs) {
          Thread.sleep(400) // drain listener bus
          println(f"$name run $i: wall=$wall%.2f s rows=$n jobs=$nJobs stages=$stages " +
            f"tasks=$tasks taskTime=${taskNs / 1e9}%.2f s")
        } else println(f"$name run $i: $wall%.2f s rows=$n")
      }
    }
  }
}
