package graft.sources

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** True multi-threaded torture of the manifest table's optimistic
  * concurrency: appenders, a compactor and a merger race on ONE table with
  * no test seams — every conflict path (publish retry, rewrite re-carry,
  * rewrite abort) fires under a real interleaving. Asserted invariants:
  *
  *  - the version chain is LINEARIZABLE: versions 1..V each landed exactly
  *    once, one manifest file per version, no holes;
  *  - NO LOST ROWS: every successfully appended batch's rows are present
  *    exactly once in the final snapshot, compactions never changed logical
  *    contents, and the merger's last landed update won its keys;
  *  - vacuum afterwards reclaims every unreferenced/aborted staged
  *    directory and the surviving snapshot still reads back whole.
  *
  * Two seeded runs vary the thread timing jitter — cheap insurance that the
  * pass isn't one lucky schedule.
  */
class ManifestConcurrencySpec extends AnyFunSuite with SparkSpec {
  import testImplicits._

  private def idTable(ids: Range, tag: String) =
    ids.map(i => (i.toLong, tag)).toDF("id", "tag").repartition(1)

  for (seed <- Seq(11, 47)) {
    test(s"append/compact/merge race holds every invariant (seed $seed)") {
      val root = tmpDir(s"race$seed")
      ManifestTable.append(idTable(0 until 100, "base"), root) // v1
      val rnd = new java.util.Random(seed)
      val jitter = Array.fill(64)(rnd.nextInt(30)) // per-op sleep schedule, seeded
      val errors = new ConcurrentLinkedQueue[Throwable]()
      val gate = new CountDownLatch(1)
      val pool = Executors.newFixedThreadPool(6)

      val appenders = 3
      val batchesPer = 4
      val rowsPer = 25
      val appendFutures = (0 until appenders).map { t =>
        pool.submit(new Runnable {
          override def run(): Unit = try {
            gate.await()
            (0 until batchesPer).foreach { b =>
              Thread.sleep(jitter((t * batchesPer + b) % jitter.length).toLong)
              val base = 1000 * (t + 1) + b * rowsPer
              ManifestTable.append(idTable(base until base + rowsPer, s"t$t"), root)
            }
          } catch { case e: Throwable => errors.add(e) }
        })
      }
      val compactor = pool.submit(new Runnable {
        override def run(): Unit = try {
          gate.await()
          (0 until 5).foreach { i =>
            Thread.sleep(jitter((20 + i) % jitter.length).toLong)
            try ManifestTable.compact(spark, root, targetBytes = 1L << 20)
            catch { case _: IllegalStateException => () } // raced a rewrite: fine
          }
        } catch { case e: Throwable => errors.add(e) }
      })
      val mergedTags = new ConcurrentLinkedQueue[String]()
      val merger = pool.submit(new Runnable {
        override def run(): Unit = try {
          gate.await()
          // three sequential merges on keys that existed BEFORE the race
          // (ids 0..9); each retries its abort path until it lands, so the
          // last landed tag is deterministic within this thread
          (0 until 3).foreach { i =>
            val tag = s"m$i"
            var landed = false
            var tries = 0
            while (!landed && tries < 200) {
              try {
                ManifestTable.merge(spark, root, idTable(0 until 10, tag), Seq("id"))
                landed = true
                mergedTags.add(tag)
              } catch {
                case _: IllegalStateException => tries += 1; Thread.sleep(15L)
              }
            }
            assert(landed, s"merge $tag never landed after $tries aborts")
          }
        } catch { case e: Throwable => errors.add(e) }
      })

      gate.countDown()
      (appendFutures :+ compactor :+ merger).foreach(_.get(300, TimeUnit.SECONDS))
      pool.shutdown()
      assert(errors.isEmpty, s"worker threads failed: ${errors.asScala.toSeq}")

      // linearizable version chain: contiguous, one manifest file each
      val hist = ManifestTable.history(root)
      assert(hist.map(_.version) == (1L to hist.length))
      val mdir = Paths.get(root, "_graft_manifest")
      val manifestFiles = Files.list(mdir).iterator().asScala
        .count(_.getFileName.toString.matches(raw"v\d{8}\.json"))
      assert(manifestFiles == hist.length)

      // no lost rows: base ∪ every appender batch, each id exactly once,
      // and the merger's LAST landed tag owns ids 0..9
      val back = ManifestTable.read(spark, root)
        .select("id", "tag").collect().map(r => (r.getLong(0), r.getString(1)))
      val expectedIds = (0 until 100).map(_.toLong) ++
        (for (t <- 0 until appenders; b <- 0 until batchesPer;
              r <- 0 until rowsPer) yield (1000 * (t + 1) + b * rowsPer + r).toLong)
      assert(back.length == expectedIds.length)
      assert(back.map(_._1).sorted.toSeq == expectedIds.sorted)
      val lastTag = mergedTags.asScala.toSeq.last
      (0L until 10L).foreach { id =>
        assert(back.find(_._1 == id).get._2 == lastTag,
          s"id $id lost the merge ordering")
      }

      // vacuum reclaims aborted/unreferenced stages; the snapshot survives
      ManifestTable.vacuum(root, keepVersions = 1, minAgeMs = 0L)
      val after = ManifestTable.read(spark, root)
      assert(after.count() == expectedIds.length)
      // every surviving data directory is referenced by SOME retained file
      val live = ManifestTable.read(spark, root).inputFiles
        .map(p => p.split('/').dropRight(1).takeRight(2).mkString("/")).toSet
      val onDisk = Files.list(Paths.get(root, "data")).iterator().asScala
        .map(d => s"data/${d.getFileName}").toSet
      assert(onDisk.forall(live.contains),
        s"orphaned staged dirs survived vacuum: ${onDisk.diff(live)}")
    }
  }
}
