package graft.tools

import org.apache.spark.sql.SparkSession

/** The one local-master session every graft main and the spec suite use. */
object Harness {

  /** Task slots for the mains: SPARK_GRAFT_CPUS, else min(32, nproc). */
  def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(math.min(32, Runtime.getRuntime.availableProcessors()))

  /** `local[cores]` with one shuffle partition per core, no UI, the library's
    * [[graft.sessionConfigs]] plus the harness-only tmpfs scratch, and ERROR
    * logging so Spark's WARN lines never bury a tool's output.
    */
  def localSession(cores: Int): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
    graft.sessionConfigs.foreach { case (k, v) => builder.config(k, v) }
    graft.localScratchConfigs.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
