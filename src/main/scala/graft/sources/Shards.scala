package graft.sources

import java.io.{File, RandomAccessFile}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** The one shard layout of every file driver's distributed write, the one
  * `maxRows` cap of their whole-file writes, and the one read path of the
  * splittable file readers (fgb, shp, osm.pbf, avro, arrow, arrows).
  *
  * A sharded write puts one standalone `part-NNNNN.<ext>` per non-empty
  * partition under `dir` (named by partition index, so a task retry
  * rewrites its own shard; no driver collect, no row cap), one
  * schema-bearing `part-00000.<ext>` for a frame with no rows, and a
  * `_manifest.json` naming the write's exact file set, which a directory
  * glob cannot tell. A directory already holding a `part-*` file or a
  * manifest is refused (Spark's `ErrorIfExists`; nothing is deleted): a
  * second write would leave the first one's other shards for readers to
  * union.
  *
  * A read [[list]]s the format's files under a path (recursively, failing
  * loud when none match), [[plan]]s each file into splits (on the driver for
  * a few files, as one job for many), and [[read]]s the splits in one
  * `parallelize`; each task fetches its bytes with [[readRange]] or streams
  * them through [[stream]]. A format supplies only its header/schema parse,
  * its split planner and its split decoder.
  *
  * Written and read paths must be visible to the executors (local/NFS).
  */
private[graft] object Shards {

  /** Writes `df` as shards under `dir` through `writeOne(file, rows)`, which
    * writes `rows` as one complete file and returns how many it wrote.
    * `layer` goes into the manifest when given.
    */
  def write(df: DataFrame, dir: String, ext: String, layer: Option[String] = None)(
      writeOne: (File, Iterator[Row]) => Long): Unit = {
    val root = Paths.get(dir)
    Files.createDirectories(root)
    val listing = Files.list(root)
    val stale =
      try listing.iterator().asScala.map(_.getFileName.toString)
        .exists(n => n.startsWith("part-") || n == "_manifest.json")
      finally listing.close()
    require(!stale, s"$dir already holds the shards of an earlier write; " +
      "write into a new or empty directory")
    val written = df.rdd.mapPartitionsWithIndex { (i, rows) =>
      if (!rows.hasNext) Iterator.empty
      else {
        val name = f"part-$i%05d.$ext"
        Iterator.single(name -> writeOne(new File(dir, name), rows))
      }
    }.collect().sortBy(_._1).toSeq
    val shards =
      if (written.nonEmpty) written
      else {
        val name = s"part-00000.$ext"
        Seq(name -> writeOne(new File(dir, name), Iterator.empty))
      }
    val entries = shards.map { case (n, c) => s"""{"file":"$n","rows":$c}""" }
      .mkString("[", ",", "]")
    val layerField = layer.fold("")(l => s""""layer":"$l",""")
    Files.write(root.resolve("_manifest.json"),
      (s"""{$layerField"shards":$entries}""" + "\n").getBytes(StandardCharsets.UTF_8))
  }

  /** The rows of `df` for a whole-file writer, collected to the driver.
    * Collecting at most `maxRows + 1` bounds driver memory and detects
    * overflow without a separate count pass; past the cap `what` fails with
    * `hint` (the scale path) in the message.
    */
  def collectCapped(df: DataFrame, maxRows: Int, what: String, hint: String): Array[Row] = {
    val rows = df.limit(maxRows + 1).collect()
    require(rows.length <= maxRows,
      s"$what collects to the driver and is capped at maxRows=$maxRows rows; $hint")
    rows
  }

  // ---- read ----------------------------------------------------------------

  /** Above this many files a per-file plan (footer census, range walk) runs
    * as one distributed metadata job: one serial driver open per file would
    * dominate planning on a 100k-small-files drop. Below it a driver loop is
    * cheaper than a job launch. [[ManifestTable]]'s footer census is planned
    * the same way.
    */
  private[sources] val DistributedCensusThreshold = 64

  // observability seam: files [[plan]] planned in its driver loop (specs
  // assert a many-file plan ran as a job instead)
  private[sources] val driverPlans = new AtomicLong()

  /** Every regular file under `path` (recursively; `path` may name one file)
    * whose name ends with `suffix`, sorted; fails naming `path` when none
    * does.
    */
  def list(path: String, suffix: String): Seq[String] = {
    val p = Paths.get(path)
    val files =
      if (!Files.isDirectory(p)) Seq(p).filter(Files.isRegularFile(_)).map(_.toString)
      else {
        val walk = Files.walk(p)
        try walk.iterator().asScala
          .filter(f => f.toString.endsWith(suffix) && Files.isRegularFile(f))
          .map(_.toString).toSeq.sorted
        finally walk.close()
      }
    require(files.nonEmpty, s"no $suffix files under $path")
    files
  }

  /** The splits of `files`, in file order: `planOne(file)` runs on the driver
    * for up to [[DistributedCensusThreshold]] files and as one Spark job
    * beyond.
    */
  def plan[S: ClassTag](spark: SparkSession, files: Seq[String])(planOne: String => Seq[S]): Seq[S] =
    if (files.size <= DistributedCensusThreshold)
      files.flatMap { f => driverPlans.incrementAndGet(); planOne(f) }
    else
      spark.sparkContext.parallelize(files, math.min(files.size, 32)).flatMap(planOne)
        .collect().toSeq

  /** A frame of `schema` whose rows are `decode(split)` for every split, one
    * task per split up to `maxTasks`; an empty plan gives an empty frame.
    */
  def read[S: ClassTag](spark: SparkSession, splits: Seq[S], schema: StructType,
      maxTasks: Int = Int.MaxValue)(decode: S => Iterator[Row]): DataFrame = {
    val sc = spark.sparkContext
    val rdd =
      if (splits.isEmpty) sc.emptyRDD[Row]
      else sc.parallelize(splits, math.min(splits.size, maxTasks)).flatMap(decode)
    spark.createDataFrame(rdd, schema)
  }

  /** `length` bytes of `file` from `offset`. */
  def readRange(file: String, offset: Long, length: Int): Array[Byte] = {
    val raf = new RandomAccessFile(file, "r")
    try {
      val buf = new Array[Byte](length)
      raf.seek(offset)
      raf.readFully(buf)
      buf
    } finally raf.close()
  }

  /** `rows` (built lazily) streamed with `handle` closed exactly once: on
    * exhaustion, on a failure, or at task completion — a downstream
    * `limit()` can drop the iterator mid-split.
    */
  def stream[T](handle: AutoCloseable)(rows: => Iterator[T]): Iterator[T] = new Iterator[T] {
    private var closed = false
    private def close(): Unit = if (!closed) { closed = true; handle.close() }
    private def guard[A](a: => A): A = try a catch { case e: Throwable => close(); throw e }
    Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => close()))
    private val it = guard(rows)
    def hasNext: Boolean = !closed && { val more = guard(it.hasNext); if (!more) close(); more }
    def next(): T = guard(it.next())
  }
}
