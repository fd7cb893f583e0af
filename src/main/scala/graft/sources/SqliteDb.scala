package graft.sources

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types._

/** Generic SQLite table driver — the non-spatial twin of the GeoPackage
  * driver, sharing its from-scratch pager/B-tree/record codec (a GeoPackage
  * IS a SQLite database; reference: the SQLite file-format spec at
  * sqlite.org/fileformat2.html, re-implemented here — no SQLite library
  * involved). SQLite files are the lingua franca of scraped-data drops,
  * app exports, and annotation tools, which makes "read the .db straight
  * into a DataFrame" a real ingestion verb for a training-data pipeline.
  *
  * Scale shape: one file = one task (`binaryFile` source, the Gpkg model) —
  * SQLite's page graph is not byte-splittable, so parallelism comes from
  * MANY files ([[writeSharded]] emits one complete .sqlite per partition,
  * and a directory of shards reads back as one frame). Column projection
  * skips unrequested cells at the record-decode cursor, exactly like the
  * gpkg `columns:` path.
  *
  * Type mapping (declared affinity → Spark): INTEGER family → long, REAL
  * family → double, TEXT/VARCHAR/DATE → string, everything else → binary.
  * SQLite cells are dynamically typed, so stray values coerce when lossless
  * (int ↔ real widening, number → declared-TEXT as decimal string) and
  * fail loudly otherwise. An `INTEGER PRIMARY KEY` column is SQLite's rowid
  * alias: its cells are stored NULL and materialize from the rowid.
  */
object SqliteDb {

  /** User tables (sqlite_* internals and gpkg metadata excluded) of the
    * FIRST file matched by `path` — the `:table` address book for
    * [[read]], mirroring `Gpkg.layers`.
    */
  def tables(spark: SparkSession, path: String): Seq[String] = {
    val head = binaryFiles(spark, path, sqliteGlob(path)).head()
    new Gpkg.Sqlite(head).master
      .filter(m => m._1 == "table" && !m._2.startsWith("sqlite_"))
      .map(_._2)
  }

  /** Single-file byte cap for the whole-file drivers: a SQLite page graph is
    * not byte-splittable, so one file is one task holding the full byte
    * array on one executor — a file past this cap fails LOUDLY at plan time
    * (point the reader at a sharded directory instead) rather than as an
    * opaque task OOM mid-job. JVM arrays cap at 2 GiB anyway; the default
    * leaves heap room for the decoded rows next to the raw bytes.
    */
  @volatile var maxFileBytes: Long = 1L << 30

  /** The bytes of every file under `path` whose name matches `glob` (every
    * file when None), one row per file, after failing loudly on a file past
    * [[maxFileBytes]] or on an empty match. Both checks read the relation's
    * file listing on the driver: no job runs and no content is scanned.
    * Shared with [[Gpkg]] (a GeoPackage is a SQLite page graph too) and
    * [[Xlsx]] (a workbook is one zip).
    */
  private[sources] def binaryFiles(spark: SparkSession, path: String,
      glob: Option[String]): Dataset[Array[Byte]] = {
    import spark.implicits._
    val r = spark.read.format("binaryFile")
    val files = glob.fold(r)(g => r.option("pathGlobFilter", g)).load(path)
    val listed = files.queryExecution.analyzed
      .collect { case l: LogicalRelation => l.relation }
      .collect { case h: HadoopFsRelation => h.location.listFiles(Nil, Nil).flatMap(_.files) }
      .flatten
    listed.find(_.getLen > maxFileBytes).foreach { f =>
      throw new IllegalArgumentException(
        s"${f.getPath} is ${f.getLen} bytes, past the $maxFileBytes-byte " +
          "single-file cap — whole-file formats decode one file per task; shard the " +
          "data (writeSharded) or raise the cap (SqliteDb.maxFileBytes) if the " +
          "executors have the heap for it")
    }
    require(listed.nonEmpty, s"no files matching ${glob.getOrElse("*")} under $path")
    files.select("content").as[Array[Byte]]
  }

  /** `*.{sqlite,sqlite3,db}` unless `path` names one such file. */
  private def sqliteGlob(path: String): Option[String] = {
    val lower = path.toLowerCase
    if (lower.endsWith(".sqlite") || lower.endsWith(".db") || lower.endsWith(".sqlite3")) None
    else Some("*.{sqlite,sqlite3,db}")
  }

  /** Reads one table (explicit name, or the only user table) from every
    * matched file as a DataFrame. `columns` projects at the record cursor —
    * unrequested cells are never decoded.
    */
  def read(spark: SparkSession, path: String, table: Option[String] = None,
      columns: Seq[String] = Nil): DataFrame = {
    val files = binaryFiles(spark, path, sqliteGlob(path))
    val head = files.head()
    val db = new Gpkg.Sqlite(head)
    val user = db.master.filter(m => m._1 == "table" && !m._2.startsWith("sqlite_"))
    require(user.nonEmpty, s"no user tables in $path")
    val tableName = table.getOrElse {
      require(user.size == 1,
        s"multiple tables ${user.map(_._2).sorted.mkString(", ")} — pass table= or a path:table suffix")
      user.head._2
    }
    val masterRow = user.find(_._2 == tableName).getOrElse(throw new IllegalArgumentException(
      s"table $tableName not in $path (has ${user.map(_._2).sorted.mkString(", ")})"))
    val cols = Gpkg.parseColumns(masterRow._5)

    val missing = columns.toSet -- cols.map(_._1).toSet
    require(missing.isEmpty, s"columns not in table $tableName: ${missing.toSeq.sorted.mkString(", ")}")
    // driver-side contract: the OUTPUT schema (names + Spark types) comes
    // from the first file; each shard re-parses its OWN sqlite_master row
    // inside the task and maps columns BY NAME, so a shard whose CREATE
    // TABLE lists the same columns in a different order still decodes every
    // cell under the right field (and a shard missing a selected column
    // fails loudly instead of silently misaligning).
    val selectedNames: Array[String] =
      if (columns.isEmpty) cols.map(_._1).toArray
      else cols.collect { case (n, _) if columns.contains(n) => n }.toArray
    val schema = StructType(selectedNames.toIndexedSeq.map { n =>
      StructField(n, Gpkg.sparkType(cols.find(_._1 == n).get._2))
    })
    val enc = RowEncoder.encoderFor(schema)
    val targetTypes: Array[DataType] = schema.fields.map(_.dataType)

    files.mapPartitions { it =>
      it.flatMap { fileBytes =>
        val fdb = new Gpkg.Sqlite(fileBytes)
        val masterRow = fdb.master.find(m => m._1 == "table" && m._2 == tableName)
          .getOrElse(throw new IllegalArgumentException(
            s"table $tableName missing from a shard"))
        val shardCols = Gpkg.parseColumns(masterRow._5)
        val posByName = shardCols.map(_._1).zipWithIndex.toMap
        val shardIdx: Array[Int] = selectedNames.map { n =>
          posByName.getOrElse(n, throw new IllegalArgumentException(
            s"column $n of table $tableName missing from a shard " +
              s"(shard has ${shardCols.map(_._1).mkString(", ")})"))
        }
        val keep: Array[Boolean] = {
          val k = Array.fill(shardCols.length)(false)
          shardIdx.foreach(k(_) = true)
          if (k.forall(identity)) null else k
        }
        val shardRowid = shardCols.indexWhere(_._2.contains("INTEGER PRIMARY KEY"))
        fdb.table(masterRow._4, keep).map { case (rowid, vals) =>
          val out = selectedNames.indices.map { o =>
            val i = shardIdx(o)
            val v = if (i < vals.length) vals(i) else null
            if (v == null && i == shardRowid) rowid
            else (targetTypes(o), v) match {
              case (_, null) => null
              case (LongType, l: Long) => l
              case (DoubleType, d: Double) => d
              case (DoubleType, l: Long) => l.toDouble // lossless int-in-REAL cell
              case (StringType, s: String) => s
              case (StringType, l: Long) => l.toString // dynamic cell in a TEXT column
              case (StringType, d: Double) => d.toString
              case (BinaryType, b: Array[Byte]) => b
              case (BinaryType, s: String) => s.getBytes(StandardCharsets.UTF_8)
              case (t, x) => throw new IllegalArgumentException(
                s"sqlite cell ${x.getClass.getSimpleName} does not fit declared $t " +
                  s"in table $tableName")
            }
          }
          Row.fromSeq(out)
        }
      }
    }(enc)
  }

  private def sqlOf(table: String, schema: StructType): String = {
    def quoted(s: String) = "\"" + s + "\""
    val cols = schema.fields.map(f => s"${quoted(f.name)} ${Gpkg.declType(f.dataType)}")
    s"CREATE TABLE ${quoted(table)} (${cols.mkString(", ")})"
  }

  private def buildFile(tablesIn: Seq[(String, StructType, IndexedSeq[Row])],
      path: String): Unit = {
    require(tablesIn.map(_._1).distinct.size == tablesIn.size,
      s"duplicate table names: ${tablesIn.map(_._1).mkString(", ")}")
    val b = new Gpkg.SqliteBuilder()
    val built = tablesIn.map { case (name, schema, rows) =>
      val recs = rows.zipWithIndex.map { case (r, i) =>
        ((i + 1).toLong, schema.fields.indices.map(r.get))
      }
      (name, b.writeTable(recs), sqlOf(name, schema))
    }
    val master = built.zipWithIndex.map { case ((name, root, sql), i) =>
      ((i + 1).toLong, Seq[Any]("table", name, name, root.toLong, sql))
    }
    val out = new java.io.BufferedOutputStream(new java.io.FileOutputStream(path))
    try b.finish(master, out, applicationId = 0, userVersion = 0)
    finally out.close()
  }

  /** Single-file write (driver-side collect, `maxRows`-capped — use
    * [[writeSharded]] for large frames). One table per call; see
    * [[writeTables]] for several.
    */
  def write(df: DataFrame, path: String, table: String = "data",
      maxRows: Int = 1000000): Unit =
    writeTables(Seq(table -> df), path, maxRows)

  /** Multi-table single-file write — the `.db` hand-off format many
    * annotation and labeling tools expect.
    */
  def writeTables(tablesIn: Seq[(String, DataFrame)], path: String,
      maxRows: Int = 1000000): Unit = {
    require(tablesIn.nonEmpty, "writeTables needs at least one table")
    val collected = tablesIn.map { case (name, df) =>
      val rows = Shards.collectCapped(df, maxRows, "SqliteDb.write",
        "use writeSharded (one .sqlite per partition) for large frames")
      (name, df.schema, rows.toIndexedSeq)
    }
    buildFile(collected, path)
  }

  /** Distributed write: one standalone single-table `.sqlite` per partition
    * under `dir` in the [[Shards]] layout; [[read]] reads the directory back
    * as one frame.
    */
  def writeSharded(df: DataFrame, dir: String, table: String = "data"): Unit = {
    val schema = df.schema
    Shards.write(df, dir, "sqlite") { (file, rows) =>
      val rs = rows.toIndexedSeq
      buildFile(Seq((table, schema, rs)), file.getPath)
      rs.length.toLong
    }
  }
}
