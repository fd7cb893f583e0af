package graft.sources

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.sources.ManifestTable.{And, Between, Eq, Ge, Le, Or}

class ManifestTableSpec extends AnyFunSuite with SparkSpec {
  import testImplicits._

  private def idTable(ids: Range, tag: String) =
    ids.map(i => (i.toLong, tag, i * 1.5)).toDF("id", "tag", "score").repartition(2)

  test("append / read roundtrip; versions and actions recorded") {
    val root = tmpDir("rt")
    val v1 = ManifestTable.append(idTable(0 until 50, "a"), root)
    val v2 = ManifestTable.append(idTable(50 until 80, "b"), root)
    assert((v1, v2) == (1L, 2L))
    val back = ManifestTable.read(spark, root)
    assert(back.count() == 80)
    assert(back.agg(sum("id")).head().getLong(0) == (0 until 80).sum)
    assert(back.schema.fieldNames.toSeq == Seq("id", "tag", "score"))
    val hist = ManifestTable.history(root)
    assert(hist.map(_.action) == Seq("append", "append"))
    assert(hist.flatMap(_.files).forall(f => f.rows > 0 && f.bytes > 0))
  }

  test("time travel reads any version; overwrite resets the snapshot") {
    val root = tmpDir("tt")
    ManifestTable.append(idTable(0 until 10, "a"), root)
    ManifestTable.append(idTable(10 until 30, "a"), root)
    ManifestTable.overwrite(idTable(100 until 105, "z"), root)
    assert(ManifestTable.read(spark, root, asOf = Some(1L)).count() == 10)
    assert(ManifestTable.read(spark, root, asOf = Some(2L)).count() == 30)
    assert(ManifestTable.read(spark, root).count() == 5)
    assert(ManifestTable.read(spark, root).agg(min("id")).head().getLong(0) == 100L)
    assert(ManifestTable.latestVersion(root).contains(3L))
  }

  test("readSince serves exactly the appended range; refuses overwrites") {
    val root = tmpDir("inc")
    ManifestTable.append(idTable(0 until 10, "a"), root)
    ManifestTable.append(idTable(10 until 25, "b"), root)
    ManifestTable.append(idTable(25 until 27, "c"), root)
    val inc = ManifestTable.readSince(spark, root, sinceExclusive = 1L)
    assert(inc.count() == 17)
    assert(inc.agg(min("id"), max("id")).head() ==
      org.apache.spark.sql.Row(10L, 26L))
    val only2 = ManifestTable.readSince(spark, root, 1L, toInclusive = Some(2L))
    assert(only2.count() == 15)
    ManifestTable.overwrite(idTable(0 until 3, "z"), root)
    intercept[IllegalStateException] {
      ManifestTable.readSince(spark, root, 2L).count()
    }
  }

  test("append schema mismatch fails loudly; overwrite may change schema") {
    val root = tmpDir("schema")
    ManifestTable.append(idTable(0 until 5, "a"), root)
    val widened = Seq((1L, "x", 1.0, true)).toDF("id", "tag", "score", "ok")
    val err = intercept[IllegalArgumentException] {
      ManifestTable.append(widened, root)
    }
    assert(err.getMessage.contains("schema mismatch"))
    ManifestTable.overwrite(widened, root)
    assert(ManifestTable.read(spark, root).schema.fieldNames.toSeq ==
      Seq("id", "tag", "score", "ok"))
  }

  test("stats-based file skipping prunes commits outside the predicate") {
    val root = tmpDir("prune")
    ManifestTable.append(idTable(0 until 100, "alpha"), root)
    ManifestTable.append(idTable(1000 until 1100, "mid"), root)
    ManifestTable.append(idTable(5000 until 5100, "zeta"), root)
    val all = ManifestTable.read(spark, root)
    assert(all.inputFiles.length >= 6) // 3 commits × ≥2 part files

    val hit = ManifestTable.scan(spark, root, Between("id", 1000L, 1099L))
    assert(hit.count() == 100)
    // only the middle commit's files were even planned
    assert(hit.inputFiles.forall(_.contains(
      ManifestTable.history(root)(1).files.head.path.split('/')(1))))
    assert(hit.inputFiles.length < all.inputFiles.length)

    // string stats prune too
    val z = ManifestTable.scan(spark, root, Ge("tag", "zeta"))
    assert(z.count() == 100)
    assert(z.inputFiles.length < all.inputFiles.length)

    // compound predicates: results always equal read().where(same)
    val pred = Or(Seq(And(Seq(Ge("id", 5050L), Le("score", 7600.0))), Eq("id", 42L)))
    val viaScan = ManifestTable.scan(spark, root, pred)
      .select("id").as[Long].collect().sorted
    val viaRead = all.where(col("id") >= 5050 && col("score") <= 7600 || col("id") === 42)
      .select("id").as[Long].collect().sorted
    assert(viaScan.sameElements(viaRead))
  }

  test("pruning is conservative for columns without usable stats") {
    val root = tmpDir("cons")
    val df = Seq((1L, Array(1.0, 2.0)), (2L, Array(3.0, 4.0))).toDF("id", "vec")
    ManifestTable.append(df, root)
    // vec (array) carries no stats: predicate on id still works, vec preds
    // can't be expressed in the ADT anyway; absent-stats column ⇒ keep file
    val out = ManifestTable.scan(spark, root, Ge("id", 2L))
    assert(out.count() == 1)
    // a predicate naming a column with no stats keeps every file
    val dec = Seq((1L, BigDecimal("12.34")), (2L, BigDecimal("0.50")))
      .toDF("id", "price")
    val root2 = tmpDir("cons2")
    ManifestTable.append(dec, root2)
    // decimal stats are unscaled ints in parquet — must NOT be used to prune
    val cheap = ManifestTable.scan(spark, root2, Le("price", BigDecimal("1.00")))
    assert(cheap.select("id").as[Long].collect().toSeq == Seq(2L))
  }

  test("racing committers: every version lands exactly once") {
    val root = tmpDir("race")
    val threads = 4
    val perThread = 3
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    val versions = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val futures = (0 until threads).map { t =>
      pool.submit(new Runnable {
        override def run(): Unit =
          (0 until perThread).foreach { i =>
            val base = (t * perThread + i) * 10
            versions.add(ManifestTable.append(idTable(base until base + 10, s"t$t"), root))
          }
      })
    }
    futures.foreach(_.get())
    pool.shutdown()
    import scala.jdk.CollectionConverters._
    assert(versions.asScala.toSeq.sorted == (1L to (threads * perThread)).toSeq)
    assert(ManifestTable.read(spark, root).count() == threads * perThread * 10)
  }

  test("batchId makes replayed commits idempotent; streaming sink is exactly-once") {
    val root = tmpDir("batch")
    val v1 = ManifestTable.commit(idTable(0 until 10, "a"), root,
      overwrite = false, batchId = Some(7L))
    val v2 = ManifestTable.commit(idTable(0 until 10, "a"), root,
      overwrite = false, batchId = Some(7L)) // replay
    assert(v1 == v2)
    assert(ManifestTable.read(spark, root).count() == 10)

    // a real micro-batch stream through the foreachBatch sink
    val root2 = tmpDir("stream")
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String, Double)]
    val q = mem.toDF().toDF("id", "tag", "score").writeStream
      .foreachBatch(ManifestTable.streamingAppend(root2) _)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
    mem.addData((1L, "s", 0.5), (2L, "s", 1.5))
    val started = q.start()
    started.awaitTermination(60000)
    assert(ManifestTable.read(spark, root2).count() == 2)
    assert(ManifestTable.history(root2).head.batchId.isDefined)
  }

  test("vacuum drops unreferenced commits and crashed-writer orphans, keeps retained") {
    val root = tmpDir("vac")
    ManifestTable.append(idTable(0 until 10, "a"), root)
    ManifestTable.overwrite(idTable(10 until 20, "b"), root)
    ManifestTable.append(idTable(20 until 30, "b"), root)
    // simulate a crashed writer: staged data, no manifest published
    val orphan = Paths.get(root, "data", "orphan-commit")
    Files.createDirectories(orphan)
    Files.write(orphan.resolve("part-junk.parquet"), Array[Byte](1, 2, 3))

    val deleted = ManifestTable.vacuum(root, keepVersions = 2, minAgeMs = 0L)
    // v1's commit (pre-overwrite) and the orphan go; v2+v3 data stays
    assert(deleted.exists(_.contains("orphan-commit")))
    assert(deleted.length == 2)
    assert(ManifestTable.read(spark, root).count() == 20)
    assert(ManifestTable.read(spark, root, asOf = Some(2L)).count() == 10)
    // the pre-overwrite snapshot's files are gone — history remains readable
    assert(ManifestTable.history(root).length == 3)
  }

  test("compact bin-packs small commits; contents and history unchanged") {
    val root = tmpDir("cp")
    (0 until 5).foreach(i => ManifestTable.append(idTable(i * 10 until i * 10 + 10, "a"), root))
    val before = ManifestTable.read(spark, root)
    val nBefore = before.inputFiles.length
    val sumBefore = before.agg(sum("id")).head().getLong(0)
    val v = ManifestTable.compact(spark, root, targetBytes = 512L << 20)
    assert(v == 6L)
    val after = ManifestTable.read(spark, root)
    assert(after.inputFiles.length < nBefore)
    assert(after.count() == 50 && after.agg(sum("id")).head().getLong(0) == sumBefore)
    // time travel still reaches the pre-compaction layout
    assert(ManifestTable.read(spark, root, asOf = Some(3L)).count() == 30)
    assert(ManifestTable.history(root).last.action == "replace")
    // an already-compacted table is a no-op (version unchanged)
    assert(ManifestTable.compact(spark, root, targetBytes = 512L << 20) == 6L)
  }

  test("sorted compaction clusters files so scan pruning sharpens") {
    val root = tmpDir("cps")
    // interleaved appends: every commit spans the whole id range, so BEFORE
    // clustering every file may match any id predicate
    (0 until 4).foreach { i =>
      ManifestTable.append(
        (i until 400 by 4).map(j => (j.toLong, s"t$i", j * 1.5))
          .toDF("id", "tag", "score").repartition(2), root)
    }
    val wide = ManifestTable.scan(spark, root, ManifestTable.Between("id", 100L, 120L))
    assert(wide.inputFiles.length == ManifestTable.read(spark, root).inputFiles.length)
    ManifestTable.compact(spark, root, targetBytes = 2L << 10, sortBy = Seq("id"))
    val narrow = ManifestTable.scan(spark, root, ManifestTable.Between("id", 100L, 120L))
    assert(narrow.count() == 21)
    assert(narrow.inputFiles.length < ManifestTable.read(spark, root).inputFiles.length)
    assert(ManifestTable.read(spark, root).count() == 400)
  }

  test("z-order compaction prunes on BOTH columns; sortBy only on its leading one") {
    // two independent uniform keys: x = j, y = a bit-reversal-ish scramble
    // so (x, y) fills the plane rather than the diagonal
    def rows(i: Int) = (i until 1024 by 4).map { j =>
      (j.toLong, ((j * 389) % 1024).toLong, s"t$i")
    }
    def build(): String = {
      val root = tmpDir("cpz")
      (0 until 4).foreach(i => ManifestTable.append(
        rows(i).toDF("x", "y", "tag").repartition(2), root))
      root
    }
    def prunedCounts(root: String): (Int, Int, Long, Long) = {
      val total = ManifestTable.read(spark, root).inputFiles.length
      val px = ManifestTable.scan(spark, root, Between("x", 100L, 160L))
      val py = ManifestTable.scan(spark, root, Between("y", 100L, 160L))
      (total - px.inputFiles.length, total - py.inputFiles.length,
        px.count(), py.count())
    }
    val zroot = build()
    ManifestTable.compact(spark, zroot, targetBytes = 2L << 10,
      zorderBy = Seq("x", "y"))
    val (zx, zy, cx, cy) = prunedCounts(zroot)
    val hroot = build()
    ManifestTable.compact(spark, hroot, targetBytes = 2L << 10,
      hilbertBy = Seq("x", "y"))
    val (hx, hy, cx3, cy3) = prunedCounts(hroot)
    val sroot = build()
    ManifestTable.compact(spark, sroot, targetBytes = 2L << 10,
      sortBy = Seq("x", "y"))
    val (sx, sy, cx2, cy2) = prunedCounts(sroot)
    assert((cx, cy) == (cx2, cy2) && (cx, cy) == (cx3, cy3)) // identical results
    assert(cx == 61 && cy == 61)       // 61 x-values in [100,160]; y is a bijection
    assert(zx > 0 && zy > 0)           // z-order prunes on BOTH dimensions
    assert(hx > 0 && hy > 0)           // hilbert too
    assert(sx > 0 && sy == 0)          // lexicographic prunes only on x
    // the guards: one column → use sortBy; two clusterings at once → reject
    intercept[IllegalArgumentException] {
      ManifestTable.compact(spark, zroot, zorderBy = Seq("x"))
    }
    intercept[IllegalArgumentException] {
      ManifestTable.compact(spark, zroot, sortBy = Seq("x"), zorderBy = Seq("x", "y"))
    }
    intercept[IllegalArgumentException] {
      ManifestTable.compact(spark, zroot, zorderBy = Seq("x", "y"),
        hilbertBy = Seq("x", "y"))
    }
  }

  test("readSince skips a replace but still refuses an overwrite") {
    val root = tmpDir("cpinc")
    ManifestTable.append(idTable(0 until 10, "a"), root)   // v1
    ManifestTable.append(idTable(10 until 20, "b"), root)  // v2
    ManifestTable.compact(spark, root)                     // v3 replace
    ManifestTable.append(idTable(20 until 25, "c"), root)  // v4
    // consumer checkpointed at v1: sees v2's and v4's rows, not the rewrite
    val inc = ManifestTable.readSince(spark, root, sinceExclusive = 1L)
    assert(inc.select("id").as[Long].collect().sorted.toSeq == (10L until 25L))
    // a range holding only the replace yields zero rows, schema intact
    val onlyReplace = ManifestTable.readSince(spark, root, 2L, toInclusive = Some(3L))
    assert(onlyReplace.count() == 0 &&
      onlyReplace.schema.fieldNames.toSeq == Seq("id", "tag", "score"))
  }

  test("deleteWhere rewrites only stats-matching files and reports the count") {
    val root = tmpDir("del")
    ManifestTable.append(idTable(0 until 100, "lo"), root)
    ManifestTable.append(idTable(1000 until 1100, "mid"), root)
    ManifestTable.append(idTable(5000 until 5100, "hi"), root)
    val loFiles = ManifestTable.history(root).head.files.map(_.path).toSet
    val (v, deleted) = ManifestTable.deleteWhere(spark, root,
      ManifestTable.Between("id", 1010L, 1019L))
    assert(v == 4L && deleted == 10L)
    val back = ManifestTable.read(spark, root)
    assert(back.count() == 290)
    assert(back.where(col("id").between(1010, 1019)).count() == 0)
    // untouched commits were carried file-for-file, not rewritten
    val nowFiles = ManifestTable.history(root).last.files.map(_.path).toSet
    assert(loFiles.subsetOf(nowFiles))
    // provably-no-match predicate is a version-preserving no-op
    assert(ManifestTable.deleteWhere(spark, root,
      ManifestTable.Between("id", 90000L, 90010L)) == ((4L, 0L)))
    // NULL predicate rows are kept (SQL DELETE WHERE semantics)
    val root2 = tmpDir("deln")
    ManifestTable.append(Seq((1L, "a"), (2L, null), (3L, "b"))
      .toDF("id", "tag"), root2)
    val (_, d2) = ManifestTable.deleteWhere(spark, root2, ManifestTable.Ge("tag", "b"))
    assert(d2 == 1L)
    assert(ManifestTable.read(spark, root2).select("id").as[Long].collect().sorted
      .toSeq == Seq(1L, 2L))
  }

  test("merge upserts by key, prunes non-overlapping files, guards schema and null keys") {
    val root = tmpDir("mrg")
    ManifestTable.append(idTable(0 until 100, "old"), root)
    ManifestTable.append(idTable(5000 until 5100, "far"), root)
    val farFiles = ManifestTable.history(root).last.files.map(_.path).toSet
    // updates ids 90..99, inserts 100..109 — key range far from the second commit
    val src = (90 until 110).map(i => (i.toLong, "new", -1.0)).toDF("id", "tag", "score")
    val v = ManifestTable.merge(spark, root, src, Seq("id"))
    assert(v == 3L)
    val back = ManifestTable.read(spark, root)
    assert(back.count() == 210)
    assert(back.where(col("tag") === "new").count() == 20)
    assert(back.where(col("id") === 95L).select("tag").head().getString(0) == "new")
    assert(back.where(col("id") === 50L).select("tag").head().getString(0) == "old")
    // the far commit was carried untouched
    assert(farFiles.subsetOf(ManifestTable.history(root).last.files.map(_.path).toSet))
    // schema and null-key guards
    intercept[IllegalArgumentException] {
      ManifestTable.merge(spark, root, Seq((1L, "x")).toDF("id", "tag"), Seq("id"))
    }
    val nullKey = Seq((null.asInstanceOf[java.lang.Long], "x", 0.0))
      .toDF("id", "tag", "score")
    intercept[IllegalArgumentException] {
      ManifestTable.merge(spark, root, nullKey, Seq("id"))
    }
    // empty source is a no-op
    assert(ManifestTable.merge(spark, root,
      idTable(0 until 0, "z"), Seq("id")) == 3L)
  }

  test("rewrites detect conflicts: concurrent overwrite aborts a delete") {
    val root = tmpDir("conflict")
    ManifestTable.append(idTable(0 until 50, "a"), root)
    // a committer lands an overwrite between the rewrite's basis and publish:
    // simulate by publishing the overwrite first, then replaying a rewrite
    // whose basis predates it via the private entry point
    val basis = ManifestTable.latestVersion(root).get
    ManifestTable.overwrite(idTable(100 until 120, "z"), root)
    intercept[IllegalStateException] {
      ManifestTable.deleteWhereAtBasis(spark, root, ManifestTable.Ge("id", 0L), basis)
    }
    // table unharmed
    assert(ManifestTable.read(spark, root).count() == 20)
  }

  test("empty commits and empty tables read back with schema intact") {
    val root = tmpDir("empty")
    val empty = idTable(0 until 0, "a")
    ManifestTable.append(empty, root)
    val back = ManifestTable.read(spark, root)
    assert(back.count() == 0)
    assert(back.schema.fieldNames.toSeq == Seq("id", "tag", "score"))
    // the zero-file manifest pins the schema without littering the census
    // (an empty part file would plan a task on every later read and void
    // columnStats' every-file stats precondition)
    assert(ManifestTable.history(root).head.files.isEmpty)
    ManifestTable.append(idTable(0 until 3, "a"), root)
    assert(ManifestTable.read(spark, root).count() == 3)
  }

  test("mergeSchema append widens the column set; strict append still rejects") {
    val root = tmpDir("evolve")
    ManifestTable.append(idTable(0 until 10, "a").select("id", "tag"), root)
    // strict append with an extra column fails loudly
    intercept[IllegalArgumentException] {
      ManifestTable.append(idTable(10 until 20, "b"), root)
    }
    // evolution adds score at the end; earlier files read back null there
    ManifestTable.append(idTable(10 until 20, "b"), root, mergeSchema = true)
    val back = ManifestTable.read(spark, root)
    assert(back.schema.fieldNames.toSeq == Seq("id", "tag", "score"))
    assert(back.count() == 20)
    assert(back.where(col("score").isNull).count() == 10)
    assert(back.where(col("score").isNotNull).agg(sum("id")).head().getLong(0) ==
      (10 until 20).map(_.toLong).sum)
    // a column missing from the incoming frame null-fills forward
    ManifestTable.append(idTable(20 until 25, "c").select("id", "tag"), root,
      mergeSchema = true)
    assert(ManifestTable.read(spark, root).where(col("score").isNull).count() == 15)
    // a type CHANGE is never silent, even under mergeSchema
    intercept[IllegalArgumentException] {
      ManifestTable.append(
        idTable(0 until 1, "x").withColumn("score", lit("oops")), root,
        mergeSchema = true)
    }
  }

  test("tailStream drains appends, resumes from its checkpoint, skips a replace") {
    val root = tmpDir("tail")
    ManifestTable.append(idTable(0 until 40, "a"), root)
    ManifestTable.append(idTable(40 until 60, "b"), root)
    // compaction rewrites both commits into one file; the feed must NOT
    // serve the rewritten copy (no logical change — readSince's contract)
    ManifestTable.compact(spark, root, targetBytes = 256L << 20)
    val ckpt = tmpDir("tail_ckpt")
    def drain(): Seq[Long] = {
      val acc = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      def collect(b: org.apache.spark.sql.DataFrame, id: Long): Unit =
        b.select("id").collect().foreach(r => acc.add(r.getLong(0)))
      val q = ManifestTable.tailStream(spark, root)
        .writeStream
        .foreachBatch(collect _)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      acc.asScala.toSeq
    }
    val first = drain()
    assert(first.size == 60)
    assert(first.sum == (0 until 60).map(_.toLong).sum)
    ManifestTable.append(idTable(60 until 75, "c"), root)
    // same checkpoint: the restarted stream serves ONLY the new append
    val second = drain()
    assert(second.size == 15)
    assert(second.min == 60L)
  }

  test("medallion chain: tailStream source into streamingAppend sink, exactly-once") {
    val bronze = tmpDir("bronze")
    val silver = tmpDir("silver")
    val ckpt = tmpDir("med_ckpt")
    ManifestTable.append(idTable(0 until 30, "a"), bronze)
    def run(): Unit = {
      val q = ManifestTable.tailStream(spark, bronze)
        .writeStream
        .foreachBatch(ManifestTable.streamingAppend(silver) _)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    run()
    assert(ManifestTable.read(spark, silver).count() == 30)
    run() // nothing new: a replayed drain must not duplicate silver rows
    assert(ManifestTable.read(spark, silver).count() == 30)
    ManifestTable.append(idTable(30 until 45, "b"), bronze)
    run()
    val back = ManifestTable.read(spark, silver)
    assert(back.count() == 45)
    assert(back.agg(sum("id")).head().getLong(0) == (0 until 45).map(_.toLong).sum)
  }

  test("maxFilesPerTrigger rate-limits the feed into multiple micro-batches") {
    val root = tmpDir("rate")
    ManifestTable.append(idTable(0 until 10, "a"), root)  // repartition(2): 2 files
    ManifestTable.append(idTable(10 until 20, "b"), root)
    val q = ManifestTable.tailStream(spark, root, maxFilesPerTrigger = Some(1))
      .writeStream.format("memory").queryName("rate_t")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(spark.table("rate_t").count() == 20)
    assert(q.recentProgress.count(_.numInputRows > 0) >= 4)
  }

  test("describe is a metadata-only commit ledger") {
    val root = tmpDir("describe")
    ManifestTable.append(idTable(0 until 10, "a"), root)
    ManifestTable.append(idTable(10 until 30, "b"), root)
    ManifestTable.compact(spark, root, targetBytes = 64L << 20)
    ManifestTable.overwrite(idTable(0 until 5, "z"), root)
    val d = ManifestTable.describe(spark, root)
      .select("version", "action", "rows").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    // appends report what they ADDED; rewrites the full set they list
    assert(d == Seq((1L, "append", 10L), (2L, "append", 20L),
      (3L, "replace", 30L), (4L, "overwrite", 5L)))
  }

  test("restore republishes an old snapshot without data movement") {
    val root = tmpDir("restore")
    ManifestTable.append(idTable(0 until 10, "a"), root)        // v1
    ManifestTable.append(idTable(10 until 30, "b"), root)       // v2
    ManifestTable.overwrite(idTable(100 until 105, "z"), root)  // v3: the bad write
    assert(ManifestTable.restore(root, 2L) == 4L)
    assert(ManifestTable.read(spark, root).count() == 30)
    val hist = ManifestTable.history(root)
    assert(hist.last.action == "overwrite")
    // pure metadata: the restore manifest CARRIES v1+v2's physical files
    assert(hist.last.files.map(_.path).toSet ==
      (hist(0).files ++ hist(1).files).map(_.path).toSet)
    // the bad version still time-travels; restoring the head is a no-op
    assert(ManifestTable.read(spark, root, asOf = Some(3L)).count() == 5)
    assert(ManifestTable.restore(root, 4L) == 4L)
    // a vacuumed target fails loudly instead of serving a hole
    ManifestTable.overwrite(idTable(0 until 2, "w"), root)      // v5
    ManifestTable.vacuum(root, keepVersions = 1, minAgeMs = 0L)
    intercept[IllegalStateException] { ManifestTable.restore(root, 2L) }
  }

  test("streamingAppend auto-compaction bounds the file census") {
    val root = tmpDir("autocompact")
    val sink = ManifestTable.streamingAppend(root, autoCompactEvery = 4,
      targetBytes = 8L << 20) _
    (0 until 8).foreach(i => sink(idTable(i * 10 until i * 10 + 10, s"b$i"), i.toLong))
    val hist = ManifestTable.history(root)
    assert(hist.count(_.action == "replace") == 2) // after v4 and v8
    val back = ManifestTable.read(spark, root)
    assert(back.count() == 80)
    assert(back.inputFiles.length < 8) // 8 commits x 2 partitions, bin-packed
    // replayed batch after a compaction is still deduped
    sink(idTable(0 until 10, "b0"), 0L)
    assert(ManifestTable.read(spark, root).count() == 80)
  }

  test("model-based op fuzz: every version time-travels to its model") {
    val root = tmpDir("fuzz")
    val rnd = new scala.util.Random(42)
    var model = Map.empty[Long, (String, Double)]
    var nextId = 0L
    val snapshots = scala.collection.mutable.ArrayBuffer.empty[(Long, Map[Long, (String, Double)])]
    def df(rows: Seq[(Long, String, Double)]) =
      rows.toDF("id", "tag", "score").repartition(2)
    def fresh(n: Int, tag: String) = {
      val s = (nextId until nextId + n).map(i => (i, tag, i * 0.5))
      nextId += n; s
    }
    (0 until 12).foreach { step =>
      rnd.nextInt(5) match {
        case 0 | 1 =>
          val rows = fresh(5 + rnd.nextInt(20), s"a$step")
          model ++= rows.map(r => r._1 -> (r._2, r._3))
          snapshots += ((ManifestTable.append(df(rows), root), model))
        case 2 if model.nonEmpty => // upsert: a third updated + three new rows
          val ks = model.keys.toSeq.sorted
          val rows = ks.take(1 + ks.size / 3).map(k => (k, s"u$step", k * 2.0)) ++
            fresh(3, s"n$step")
          model ++= rows.map(r => r._1 -> (r._2, r._3))
          snapshots += ((ManifestTable.merge(spark, root, df(rows), Seq("id")), model))
        case 3 if model.nonEmpty => // delete a random id range (may be a no-op)
          val ks = model.keys.toSeq.sorted
          val lo = ks(rnd.nextInt(ks.size)); val hi = lo + rnd.nextInt(12)
          model = model.filterNot { case (k, _) => k >= lo && k <= hi }
          snapshots += ((ManifestTable.deleteWhere(spark, root, Between("id", lo, hi))._1, model))
        case 4 if model.nonEmpty => // layout rewrite: never a logical change
          val v = rnd.nextInt(3) match {
            case 0 => ManifestTable.compact(spark, root, targetBytes = 4L << 10)
            case 1 => ManifestTable.compact(spark, root, targetBytes = 4L << 10,
              sortBy = Seq("id"))
            case _ => ManifestTable.compact(spark, root, targetBytes = 4L << 10,
              zorderBy = Seq("id", "score"))
          }
          snapshots += ((v, model))
        case _ => () // op drawn before the first append: skip
      }
    }
    def asMap(frame: org.apache.spark.sql.DataFrame) =
      frame.collect().map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
    assert(asMap(ManifestTable.read(spark, root)) == model)
    // a stats-pruned scan agrees with the model on a mid-range window
    val ks = model.keys.toSeq.sorted
    val (lo, hi) = (ks(ks.size / 4), ks(ks.size / 2))
    assert(asMap(ManifestTable.scan(spark, root, Between("id", lo, hi))) ==
      model.filter { case (k, _) => k >= lo && k <= hi })
    // every version the ops landed as time-travels to the model of its day
    // (a no-op delete re-records the current version: keep the LAST model)
    snapshots.groupBy(_._1).view.mapValues(_.last._2).toSeq.sortBy(_._1).foreach {
      case (v, m) =>
        assert(asMap(ManifestTable.read(spark, root, asOf = Some(v))) == m,
          s"version $v diverged from its model")
    }
  }

  test("string stats prune in unsigned UTF-8 byte order (supplementary chars)") {
    // parquet footers order binary stats by unsigned UTF-8 bytes; Java's
    // String.compareTo (UTF-16 units) sorts a surrogate pair BELOW
    // U+E000..FFFF, so a UTF-16 comparison would falsely prune this file
    val root = tmpDir("utf8")
    ManifestTable.append(Seq((1L, "alpha"), (2L, "😀")) // 😀 U+1F600
      .toDF("id", "tag"), root)
    val out = ManifestTable.scan(spark, root, Ge("tag", "�"))
    assert(out.select("id").as[Long].collect().toSeq == Seq(2L))
    // the primitive itself: UTF-8 bytes of U+1F600 (f0 90..) sort above
    // U+FFFD (ef bf bd); UTF-16 units sort the other way
    assert(ManifestTable.utf8Cmp("😀", "�") > 0)
    assert("😀".compareTo("�") < 0)
  }

  test("non-finite double stats are dropped, not poisonous") {
    val root = tmpDir("inf")
    // append must not throw while merging footer stats, and later scans on
    // the column must keep the file (stats absent ⇒ conservative)
    ManifestTable.append(
      Seq((1L, Double.PositiveInfinity), (2L, 1.5), (3L, Double.NaN))
        .toDF("id", "x").repartition(1), root)
    val stats = ManifestTable.history(root).head.files.head.stats
    assert(!stats.contains("x") && stats.contains("id"))
    val out = ManifestTable.scan(spark, root, Le("x", 2.0))
    assert(out.select("id").as[Long].collect().toSeq == Seq(2L))
    // deleteWhere over the statless column also survives (Spark orders NaN
    // above every double, so both the Infinity and the NaN row match)
    val (_, d) = ManifestTable.deleteWhere(spark, root, Ge("x", 100.0))
    assert(d == 2L)
    assert(ManifestTable.read(spark, root).select("id").as[Long]
      .collect().toSeq == Seq(2L))
  }

  test("merge rejects duplicate source keys loudly") {
    val root = tmpDir("mdup")
    ManifestTable.append(idTable(0 until 10, "a"), root)
    val dup = Seq((1L, "x", 0.0), (1L, "y", 1.0), (2L, "z", 2.0))
      .toDF("id", "tag", "score")
    val err = intercept[IllegalArgumentException] {
      ManifestTable.merge(spark, root, dup, Seq("id"))
    }
    assert(err.getMessage.contains("duplicate keys"))
    assert(ManifestTable.read(spark, root).count() == 10) // table unharmed
  }

  test("merge clauses: delete-matched, insert-only, update-without-insert") {
    import graft.sources.ManifestTable.{MatchedDelete, MatchedIgnore, MatchedUpdate}
    val root = tmpDir("mcl")
    ManifestTable.append(idTable(0 until 100, "old"), root)
    // WHEN MATCHED DELETE, no inserts: a keyed delete
    ManifestTable.merge(spark, root, idTable(10 until 20, "x"), Seq("id"),
      whenMatched = MatchedDelete, insertUnmatched = false)
    val afterDel = ManifestTable.read(spark, root)
    assert(afterDel.count() == 90)
    assert(afterDel.where(col("id").between(10, 19)).count() == 0)
    assert(ManifestTable.history(root).last.action == "overwrite")
    // WHEN MATCHED IGNORE + insert: insert-if-new — existing rows keep their
    // values, existing files are untouched, and the landed manifest is a
    // plain APPEND (readSince keeps flowing)
    val before = ManifestTable.history(root).last.files.map(_.path).toSet
    val v = ManifestTable.merge(spark, root,
      idTable(95 until 105, "new"), Seq("id"), whenMatched = MatchedIgnore)
    val last = ManifestTable.history(root).last
    assert(last.action == "append")
    // existing files untouched: the append manifest lists ONLY the staged
    // inserts, and every pre-merge file is still on disk
    assert(last.files.map(_.path).toSet.intersect(before).isEmpty)
    assert(before.forall(p => Files.exists(Paths.get(root).resolve(p))))
    val afterIns = ManifestTable.read(spark, root)
    assert(afterIns.count() == 95)
    assert(afterIns.where(col("id") === 96L).select("tag").head().getString(0) == "old")
    assert(afterIns.where(col("id") === 101L).select("tag").head().getString(0) == "new")
    // readSince flows across the insert-only merge
    val inc = ManifestTable.readSince(spark, root, sinceExclusive = v - 1)
    assert(inc.select("id").as[Long].collect().sorted.toSeq == (100L until 105L))
    // WHEN MATCHED UPDATE, no inserts: update-existing-only
    ManifestTable.merge(spark, root, idTable(98 until 110, "upd"), Seq("id"),
      whenMatched = MatchedUpdate, insertUnmatched = false)
    val afterUpd = ManifestTable.read(spark, root)
    assert(afterUpd.count() == 95) // nothing inserted
    assert(afterUpd.where(col("tag") === "upd").select("id").as[Long]
      .collect().sorted.toSeq == (98L until 105L))
    // the no-op combination is rejected
    intercept[IllegalArgumentException] {
      ManifestTable.merge(spark, root, idTable(0 until 1, "z"), Seq("id"),
        whenMatched = MatchedIgnore, insertUnmatched = false)
    }
  }

  test("streaming idempotency is scoped per writer (two queries share a table)") {
    val root = tmpDir("writers")
    // two streaming queries both start at batchId 0 — neither suppresses
    // the other
    val va = ManifestTable.commit(idTable(0 until 5, "qa"), root,
      overwrite = false, batchId = Some(0L), writerId = "qa")
    val vb = ManifestTable.commit(idTable(5 until 9, "qb"), root,
      overwrite = false, batchId = Some(0L), writerId = "qb")
    assert(va != vb)
    assert(ManifestTable.read(spark, root).count() == 9)
    // within one writer, replays of the latest AND of older batches skip
    ManifestTable.commit(idTable(9 until 12, "qa"), root,
      overwrite = false, batchId = Some(1L), writerId = "qa")
    assert(ManifestTable.commit(idTable(0 until 5, "qa"), root,
      overwrite = false, batchId = Some(0L), writerId = "qa") > 0) // old replay
    assert(ManifestTable.commit(idTable(9 until 12, "qa"), root,
      overwrite = false, batchId = Some(1L), writerId = "qa") > 0) // last replay
    assert(ManifestTable.read(spark, root).count() == 12)
  }

  test("restore to a version the log does not hold fails loudly") {
    val root = tmpDir("rsbad")
    ManifestTable.append(idTable(0 until 5, "a"), root)
    val err = intercept[IllegalArgumentException] {
      ManifestTable.restore(root, 99L)
    }
    assert(err.getMessage.contains("v99"))
    assert(ManifestTable.latestVersion(root).contains(1L))
  }

  test("checkpointing bounds manifest reads per op across 200 micro-commits") {
    val root = tmpDir("ckpt")
    def parsesDuring[T](f: => T): (T, Long) = {
      val before = ManifestTable.manifestParseCount
      val r = f
      (r, ManifestTable.manifestParseCount - before)
    }
    val two = (i: Int) => Seq((i.toLong, s"t$i", i * 0.5), (i + 10000L, s"u$i", 0.0))
      .toDF("id", "tag", "score").repartition(1)
    (1 to 200).foreach(i => ManifestTable.append(two(i), root))
    // checkpoints landed on the CheckpointEvery cadence; only the last two
    // checkpoint directories are retained, and the pointer names the newest
    val mdir = Paths.get(root, "_graft_manifest")
    assert(new String(Files.readAllBytes(mdir.resolve("_last_checkpoint")),
      "UTF-8").trim.toLong == 200L)
    val ckpts = Files.list(mdir.resolve("ckpt")).iterator().asScala.toSeq
    assert(ckpts.length == 2)
    assert(Files.list(mdir.resolve("ckpt").resolve("v00000200").resolve("census"))
      .iterator().asScala.exists(_.toString.endsWith(".parquet")))
    // hot ops replay FROM the checkpoint: their raw-manifest parses are
    // bounded by the interval + contention, never by the 200-commit age
    val (_, pAppend) = parsesDuring(ManifestTable.append(two(201), root))
    assert(pAppend <= 2 * ManifestTable.CheckpointEvery,
      s"append parsed $pAppend manifests — checkpoint not consulted?")
    val (cnt, pRead) = parsesDuring(ManifestTable.read(spark, root).count())
    assert(cnt == 402L)
    assert(pRead <= ManifestTable.CheckpointEvery)
    val (hit, pScan) = parsesDuring(
      ManifestTable.scan(spark, root, Eq("id", 42L)).count())
    assert(hit == 1L)
    assert(pScan <= ManifestTable.CheckpointEvery)
    // correctness across the checkpoint seam: contents and time travel
    val back = ManifestTable.read(spark, root)
    assert(back.agg(sum("id")).head().getLong(0) ==
      (1L to 201L).sum + 201L * 10000L + (1L to 201L).sum)
    assert(ManifestTable.read(spark, root, asOf = Some(37L)).count() == 74)
    // an explicit checkpoint verb is idempotent and moves the pointer
    assert(ManifestTable.checkpoint(spark, root) == 201L)
    assert(new String(Files.readAllBytes(mdir.resolve("_last_checkpoint")),
      "UTF-8").trim.toLong == 201L)
    val (cnt2, pRead2) = parsesDuring(ManifestTable.read(spark, root).count())
    assert(cnt2 == 402L && pRead2 == 0L)
    // streaming txn marks survive the checkpoint round-trip: a replayed
    // batch from 100 commits ago is still deduped
    val root2 = tmpDir("ckpt_txn")
    (0 until 45).foreach(i => ManifestTable.commit(two(i), root2,
      overwrite = false, batchId = Some(i.toLong), writerId = "w"))
    assert(ManifestTable.commit(two(3), root2, overwrite = false,
      batchId = Some(3L), writerId = "w") > 0)
    assert(ManifestTable.read(spark, root2).count() == 90)
  }

  test("columnStats is a metadata-only ANALYZE over the census") {
    val root = tmpDir("colstats")
    ManifestTable.append(idTable(0 until 50, "a"), root)
    ManifestTable.append(idTable(50 until 80, "b"), root)
    val st = ManifestTable.columnStats(spark, root).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(st("id").getString(2) == "0" && st("id").getString(3) == "79")
    assert(st("tag").getString(2) == "a" && st("tag").getString(3) == "b")
    assert(st("id").getLong(4) == 0L && st("id").getLong(5) == 80L)
    // statless columns (arrays) are omitted; the rest still report
    val root2 = tmpDir("colstats2")
    ManifestTable.append(
      Seq((1L, Array(1.0)), (2L, Array(2.0))).toDF("id", "vec"), root2)
    val cols2 = ManifestTable.columnStats(spark, root2)
      .select("column").as[String].collect().toSet
    assert(cols2 == Set("id"))
  }

  test("a wiped-and-recreated table never serves a stale cached checkpoint") {
    // (root, version) is not a stable checkpoint identity — pipelines wipe
    // and rebuild tables at one path, reusing version numbers; the cache
    // must key on the checkpoint's own id or reads resolve DELETED files
    val root = tmpDir("ckptwipe")
    def build(tag: String): Unit = {
      (0 until 3).foreach(i =>
        ManifestTable.append(idTable(i * 10 until i * 10 + 10, tag), root))
      ManifestTable.checkpoint(spark, root)
    }
    build("first")
    assert(ManifestTable.read(spark, root).count() == 30) // populates the cache
    Files.list(Paths.get(root)).iterator().asScala.toSeq.foreach(graft.deleteRecursively)
    build("second")
    val back = ManifestTable.read(spark, root)
    assert(back.count() == 30)
    assert(back.select("tag").distinct().collect().map(_.getString(0)).toSeq
      == Seq("second"))
  }

  test("a large full-set manifest triggers an eager checkpoint") {
    val root = tmpDir("bigcensus")
    val saved = ManifestTable.checkpointFilesMin
    ManifestTable.checkpointFilesMin = 8
    try {
      ManifestTable.append(idTable(0 until 20, "a"), root) // v1: 2 files
      // v2 lists a 10-file full set ≥ the threshold — checkpoint lands
      // immediately, off the modulo cadence
      ManifestTable.overwrite(
        idTable(0 until 50, "b").repartition(10), root)
      val mdir = Paths.get(root, "_graft_manifest")
      assert(new String(Files.readAllBytes(mdir.resolve("_last_checkpoint")),
        "UTF-8").trim.toLong == 2L)
      // the very next read plans from the parquet census: zero JSON parses
      val before = ManifestTable.manifestParseCount
      assert(ManifestTable.read(spark, root).count() == 50)
      assert(ManifestTable.manifestParseCount - before == 0L)
    } finally ManifestTable.checkpointFilesMin = saved
  }

  test("feed publication falls back to copy when hard links are unavailable") {
    val root = tmpDir("feedcopy")
    ManifestTable.disableFeedLinks = true
    try {
      ManifestTable.append(idTable(0 until 12, "a"), root)
      ManifestTable.append(idTable(12 until 20, "b"), root)
      val feed = Paths.get(root).resolve("_graft_feed")
      val entries = Files.list(feed).iterator().asScala.toSeq
      assert(entries.nonEmpty && entries.forall(!_.getFileName.toString.startsWith(".tmp")))
      val q = ManifestTable.tailStream(spark, root)
        .writeStream.format("memory").queryName("feed_copy_t")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      assert(spark.table("feed_copy_t").count() == 20)
    } finally ManifestTable.disableFeedLinks = false
  }

  test("changes: row-level CDF across rewrites; schema evolution compares as null") {
    val root = tmpDir("cdf")
    ManifestTable.append(idTable(0 until 20, "a"), root)          // v1
    ManifestTable.append(idTable(20 until 30, "b"), root)         // v2
    // v3: merge — update ids 25..29 (score shifted), insert 30..34
    ManifestTable.merge(spark, root,
      idTable(25 until 35, "b").withColumn("score", col("score") + 100.0),
      Seq("id"))
    // v4: delete ids <= 4
    ManifestTable.deleteWhere(spark, root, Le("id", 4L))
    val ch = ManifestTable.changes(spark, root, 2L, 4L, "id")
      .as[(Long, String)].collect().toMap
    assert(ch.filter(_._2 == "added").keySet == (30L until 35L).toSet)
    assert(ch.filter(_._2 == "removed").keySet == (0L until 5L).toSet)
    assert(ch.filter(_._2 == "changed").keySet == (25L until 30L).toSet)
    // untouched rows are excluded by default, included on request
    assert(!ch.contains(10L))
    val all = ManifestTable.changes(spark, root, 2L, 4L, "id", includeUnchanged = true)
    assert(all.where(col("change") === "unchanged").count() == 20) // ids 5..24
    // identity diff: a version against itself is all-unchanged
    assert(ManifestTable.changes(spark, root, 4L, 4L, "id").count() == 0)
    // schema evolution: v5 appends a widened row set; old-side missing
    // column compares as null, so pre-existing rows stay unchanged
    ManifestTable.append(
      idTable(40 until 45, "c").withColumn("extra", lit(7L)), root,
      mergeSchema = true)                                          // v5
    val ev = ManifestTable.changes(spark, root, 4L, 5L, "id")
      .as[(Long, String)].collect().toMap
    assert(ev.keySet == (40L until 45L).toSet && ev.values.forall(_ == "added"))
    // ordering guard
    intercept[IllegalArgumentException] {
      ManifestTable.changes(spark, root, 5L, 4L, "id")
    }
  }

  test("vacuum unlinks reclaimed commits' feed entries; retained links survive") {
    val root = tmpDir("feedvac")
    ManifestTable.append(idTable(0 until 10, "a"), root)
    ManifestTable.append(idTable(10 until 20, "b"), root)
    val feed = Paths.get(root).resolve("_graft_feed")
    def feedCount: Int = {
      val s = Files.list(feed)
      try s.iterator().asScala.size finally s.close()
    }
    val linked = feedCount
    assert(linked >= 2) // both appends published at commit time
    ManifestTable.overwrite(idTable(100 until 103, "z"), root)
    ManifestTable.vacuum(root, keepVersions = 1, minAgeMs = 0L)
    assert(feedCount == 0) // both appends reclaimed with their commits
    // the overwrite's own files are NOT feed entries (appends only)
    assert(ManifestTable.read(spark, root).count() == 3)
  }

  test("appends and vacuum close every directory handle they open under the root") {
    val root = tmpDir("fds")
    val real = Paths.get(root).toRealPath().toString
    def openUnderRoot: Seq[String] = {
      val s = Files.list(Paths.get("/proc/self/fd"))
      try s.iterator().asScala.toSeq
        .flatMap(fd => scala.util.Try(Files.readSymbolicLink(fd).toString).toOption)
        .filter(_.startsWith(real))
      finally s.close()
    }
    (0 until 5).foreach(i => ManifestTable.append(idTable(i * 10 until i * 10 + 10, "a"), root))
    assert(openUnderRoot.isEmpty, openUnderRoot.mkString("\n"))
    ManifestTable.overwrite(idTable(100 until 103, "z"), root)
    ManifestTable.vacuum(root, keepVersions = 1, minAgeMs = 0L)
    assert(openUnderRoot.isEmpty, openUnderRoot.mkString("\n"))
  }
}
