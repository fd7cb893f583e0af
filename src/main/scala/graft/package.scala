import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

package object graft {
  /** Path of a driver-generated test table under an sf dir. */
  def tablePath(dir: String, name: String): String = s"$dir/$name.parquet"

  /** Normalizes an event-table `ts` column to TimestampType regardless of
    * how the generator stamped it: nanosecond longs (parquet TIMESTAMP(NANOS)
    * under `spark.sql.legacy.parquet.nanosAsLong=true`), microsecond
    * TIMESTAMP_NTZ (isAdjustedToUTC=false), or already TIMESTAMP. The NTZ
    * cast reinterprets wall-clock fields in the session zone — UTC here
    * (sessionConfigs), matching DuckDB's naive-timestamp read of the same
    * file.
    */
  def normalizeTs(df: DataFrame, colName: String = "ts"): DataFrame =
    df.schema(colName).dataType match {
      // `div`, not `/`: Spark's `/` is double division, and a 2024-epoch
      // nanosecond count (~1.7e18) exceeds double's 2^53 integer range, so
      // the quotient wobbles ±1 µs vs DuckDB's exact epoch_us truncation.
      // Backticks: the column name lands in SQL text, so reserved words /
      // spaced names must parse as one identifier.
      case LongType =>
        df.withColumn(colName, timestamp_micros(expr(s"`$colName` div 1000")))
      case TimestampNTZType => df.withColumn(colName, col(colName).cast(TimestampType))
      case _ => df
    }

  /** Reads a test table; normalizes the events `ts` column back to
    * TimestampType so downstream window/date functions see real timestamps.
    * No blanket repartition: the test tables are single-file parquet, and
    * only the per-row-heavy stages that need it apply [[spreadScan]].
    */
  def readTable(s: SparkSession, dir: String, name: String): DataFrame = {
    val raw = s.read.parquet(tablePath(dir, name))
    if (name == "events") normalizeTs(raw) else raw
  }

  /** One round-robin exchange spreading an unsplittable single-file scan
    * across the session's cores — the guide §2.5 input-skew fix, applied
    * ONLY where a per-row-heavy map stage (image decode, chunk+tokenize)
    * sits directly on the one-task scan; a blanket spread measured as a net
    * loss (writers pay fan-out, shuffle-light paths pay the exchange).
    */
  def spreadScan(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** Session configs every graft entrypoint needs. Engine semantics and
    * planner policy only — NO machine-placement defaults: shuffle-scratch
    * location is an environment fact that must not follow the library onto
    * a cluster (see [[localScratchConfigs]]).
    */
  val sessionConfigs: Map[String, String] = Map(
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    // Let the planner pick shuffled-hash over sort-merge when the per-
    // partition build side fits (guide §3.1) — skips two sorts per join.
    "spark.sql.join.preferSortMergeJoin" -> "false",
  ) ++
    // explicit scratch override stays honored everywhere (a deliberate env
    // var is not an autodetect)
    sys.env.get("SPARK_GRAFT_LOCAL_DIR").map("spark.local.dir" -> _).toMap

  /** Shuffle/spill scratch for LOCAL-MASTER harness sessions only (Bench,
    * Verify, the tools, the test harness): this sandbox's overlay /tmp
    * costs measured seconds of shuffle-write wait for MB-scale blocks, so
    * local runs put scratch on tmpfs when one is mounted (the "fast local
    * disks for shuffle" rule, guide §1.3/§2.1). Deliberately NOT part of
    * [[sessionConfigs]]: /dev/shm is mounted on essentially every Linux
    * node, and a silent RAM-backed spill default at 100 TB means OOM, not
    * speed — a cluster deployment provisions real scratch disks and never
    * applies this map. SPARK_GRAFT_LOCAL_DIR (via [[sessionConfigs]])
    * overrides it when set.
    */
  def localScratchConfigs: Map[String, String] =
    if (sys.env.contains("SPARK_GRAFT_LOCAL_DIR")) Map.empty
    else {
      val shm = java.nio.file.Paths.get("/dev/shm")
      if (java.nio.file.Files.isDirectory(shm) && java.nio.file.Files.isWritable(shm))
        Map("spark.local.dir" -> "/dev/shm/graft_spark_local")
      else Map.empty
    }

  /** `df`'s rows if it has at most `cap` of them, else None: one job whose
    * tasks each return at most cap + 1 rows, so the driver never holds more
    * than tasks × (cap + 1). The one capped collect of the BM25 driver
    * paths (search and refresh).
    */
  private[graft] def collectUpTo(df: DataFrame, cap: Int): Option[Array[Row]] =
    Some(df.mapPartitions(_.take(cap + 1))(Encoders.row(df.schema)).collect())
      .filter(_.length <= cap)

  /** Deletes `p` and everything under it; a missing path is a no-op. Each
    * directory listing is closed before its directory is removed.
    */
  private[graft] def deleteRecursively(p: java.nio.file.Path): Unit = {
    if (java.nio.file.Files.isDirectory(p)) {
      val s = java.nio.file.Files.list(p)
      try s.iterator().forEachRemaining(deleteRecursively) finally s.close()
    }
    java.nio.file.Files.deleteIfExists(p)
  }
}
