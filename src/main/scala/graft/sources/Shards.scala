package graft.sources

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}

/** The one shard layout of every file driver's distributed write, and the
  * one `maxRows` cap of their whole-file writes.
  *
  * A sharded write puts one standalone `part-NNNNN.<ext>` per non-empty
  * partition under `dir` (named by partition index, so a task retry
  * rewrites its own shard; no driver collect, no row cap), one
  * schema-bearing `part-00000.<ext>` for a frame with no rows, and a
  * `_manifest.json` naming the write's exact file set, which a directory
  * glob cannot tell. A directory already holding a `part-*` file or a
  * manifest is refused (Spark's `ErrorIfExists`; nothing is deleted): a
  * second write would leave the first one's other shards for readers to
  * union. `dir` must be visible to the executors (local/NFS).
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
}
