package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

class SqliteDbSpec extends AnyFunSuite with SparkSpec {
  import testImplicits._

  private def tmpFile(name: String): String = s"${tmpDir("graft_sqlite")}/$name"

  private lazy val fixture =
    getClass.getResource("/sqlite/interop.sqlite").getPath

  test("reads a REAL SQLite file (python sqlite3 fixture): types, nulls, rowid alias, overflow pages") {
    assert(SqliteDb.tables(spark, fixture).sorted == Seq("people", "tags"))
    val people = SqliteDb.read(spark, fixture, Some("people"))
    assert(people.schema.map(f => (f.name, f.dataType.typeName)) == Seq(
      ("id", "long"), ("name", "string"), ("score", "double"),
      ("payload", "binary"), ("note", "string")))
    val rows = people.orderBy("id").collect()
    // rowid alias: ids come back from the rowid (stored NULL by sqlite)
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 7L))
    assert(rows.map(_.getString(1)).toSeq == Seq("alice", "bob", "carol λ"))
    assert(rows(0).getDouble(2) == 1.5 && rows(1).getDouble(2) == -2.25 && rows(2).isNullAt(2))
    assert(rows(0).getAs[Array[Byte]](3).toSeq == Seq[Byte](0, 1, 2))
    assert(rows(1).isNullAt(3) && rows(1).isNullAt(4))
    // the 9k-char note spans sqlite overflow pages and survives, unicode intact
    val note = rows(2).getString(4)
    assert(note.startsWith("unicode λ→∞ 🚀 ") && note.length > 9000)
    // second table + column projection (unrequested cells never decode)
    val tags = SqliteDb.read(spark, fixture, Some("tags"), columns = Seq("tag"))
    assert(tags.columns.toSeq == Seq("tag"))
    assert(tags.as[String].collect().sorted.toSeq == Seq("a", "b", "c"))
  }

  test("roundtrip: write → read preserves values; multi-table; loud errors") {
    val df = Seq(
      (1L, "a", 1.25, true),
      (2L, "λ→", -3.5, false),
      (3L, null.asInstanceOf[String], 0.0, true))
      .toDF("k", "s", "x", "flag")
    val path = tmpFile("rt.sqlite")
    SqliteDb.writeTables(Seq("main_t" -> df, "aux" -> Seq((10L, "z")).toDF("id", "v")), path)
    assert(SqliteDb.tables(spark, path).sorted == Seq("aux", "main_t"))
    val back = SqliteDb.read(spark, path, Some("main_t"))
    // booleans travel as INTEGER (sqlite convention)
    assert(back.schema.map(_.dataType.typeName) == Seq("long", "string", "double", "long"))
    val got = back.orderBy("k").collect().map(r =>
      (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1), r.getDouble(2), r.getLong(3)))
    assert(got.toSeq == Seq((1L, "a", 1.25, 1L), (2L, "λ→", -3.5, 0L), (3L, null, 0.0, 1L)))
    assert(SqliteDb.read(spark, path, Some("aux")).count() == 1)
    // single-table file needs no table name; multi-table file demands one
    intercept[IllegalArgumentException] { SqliteDb.read(spark, path) }
    intercept[IllegalArgumentException] { SqliteDb.read(spark, path, Some("nope")) }
    intercept[IllegalArgumentException] {
      SqliteDb.read(spark, path, Some("main_t"), columns = Seq("missing"))
    }
    val single = tmpFile("one.sqlite")
    SqliteDb.write(df, single, table = "only")
    assert(SqliteDb.read(spark, single).count() == 3)
  }

  test("20k-row real-sqlite fixture: interior B-tree pages walk correctly") {
    // 92 pages deep enough for interior nodes; written by CPython sqlite3
    val big = getClass.getResource("/sqlite/big.sqlite").getPath
    val df = SqliteDb.read(spark, big)
    assert(df.count() == 20000)
    val agg = df.agg(sum("id"), sum("v"), countDistinct("tag")).head()
    assert(agg.getLong(0) == (1L to 20000L).sum)
    assert(math.abs(agg.getDouble(1) - (1 to 20000).map(_ * 0.5).sum) < 1e-6)
    assert(agg.getLong(2) == 7)
    // projection still prunes on the big table
    assert(SqliteDb.read(spark, big, columns = Seq("id"))
      .agg(max("id")).head().getLong(0) == 20000L)
  }

  test("writeSharded: one standalone sqlite per partition, directory reads back as one frame") {
    val df = spark.range(100).select(col("id").as("k"),
      concat(lit("row"), col("id")).as("v")).repartition(4)
    val dir = tmpDir("graft_sqlite_sh")
    SqliteDb.writeSharded(df, dir, table = "t")
    val shards = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".sqlite"))
    assert(shards.length == 4)
    val back = SqliteDb.read(spark, dir, Some("t"))
    assert(back.count() == 100)
    assert(back.agg(sum("k")).head().getLong(0) == (0L until 100L).sum)
    // every shard is independently a valid single-table database
    assert(SqliteDb.read(spark, shards.head.getPath).columns.toSeq == Seq("k", "v"))
  }
}
