package graft.perfbench

import org.apache.spark.sql.SparkSession

/** Thrown out of a pass when one of its operations failed; the failure is
  * already recorded, and the pass is not timed.
  */
final class PassAborted(op: String, cause: Throwable) extends RuntimeException(op, cause)

/** Runs the named operations of a pass: counts each attempt, records it as a
  * span when tracing, and on an exception records the failure by name and
  * aborts the pass, so a thrown operation is never timed.
  */
final class Ops(val tracer: Tracer) {
  var attempted = 0L
  val failures = scala.collection.mutable.ArrayBuffer[String]()

  def apply[T](name: String)(body: => T): T = {
    attempted += 1
    try tracer.span(name)(body)
    catch {
      case e: PassAborted => throw e
      case scala.util.control.NonFatal(e) =>
        failures += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
        throw new PassAborted(name, e)
    }
  }
}

/** One benchmark workload. Inputs are a function of the seed only. */
abstract class Workload(val spark: SparkSession, val seed: Long, val work: String, val cores: Int) {

  /** Input rows one pass handles (stated next to `rows_per_s`). */
  def inputRows: Long

  /** Generates one copy of the inputs under `dir`. */
  def generate(dir: String): Unit

  /** Points the passes at the inputs generated under `dir`, building what
    * they serve from (part of set-up).
    */
  def use(dir: String): Unit

  /** Passes run in set-up, until JIT and codegen caches stop speeding passes up. */
  def warmPasses: Int = 1

  /** Called between the warm passes and the measured passes. */
  def measuring(): Unit = ()

  /** One pass: the workload's fixed unit of work. */
  def pass(ops: Ops, index: Int): Unit

  /** Checks the outputs of the last pass; returns what failed. */
  def check(): Seq[String]

  /** Frees what the last pass cached or wrote. */
  def release(): Unit

  /** Workload-specific end-to-end values, by name, with their units. */
  def detail(passSeconds: Seq[Double]): Map[String, Any] =
    Map("rows_per_s" -> Map("value" -> inputRows / Stats.median(passSeconds), "unit" -> "rows/s",
      "input_rows" -> inputRows))

  /** Extra per-layer values of the traced passes (sources.* and friends). */
  def traced(): Map[String, Double] = Map.empty

  /** Drops every cached frame and persisted RDD (checkpointed stages included). */
  protected def freeCached(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  protected def deleteTree(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(q => java.nio.file.Files.delete(q))
      finally s.close()
    }
  }
}
