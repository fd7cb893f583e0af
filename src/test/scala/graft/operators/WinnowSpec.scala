package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.functions.TextKernel
import org.apache.spark.unsafe.types.UTF8String

/** Robust winnowing ([[TextKernel.winnow]]) and the repeated-substring
  * operators built on it ([[TextAnalysis.substringDupStats]],
  * [[TextAnalysis.repeatedSpans]]).
  */
class WinnowSpec extends AnyFunSuite with SparkSpec {
  import testImplicits._

  private def fps(s: String, k: Int, w: Int): Seq[(Int, Long)] = {
    val a = TextKernel.winnow(UTF8String.fromString(s), k, w)
    (0 until a.numElements()).map { i =>
      val r = a.getStruct(i, 2)
      (r.getInt(0), r.getLong(1))
    }
  }

  test("kernel: every window of w grams contains a selected position") {
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 50) {
      val n = 20 + rnd.nextInt(300)
      val s = (0 until n).map(_ => ('a' + rnd.nextInt(4)).toChar).mkString
      val k = 5; val w = 6
      val sel = fps(s, k, w).map(_._1).toSet
      val p = s.length - k + 1
      var q = 0
      while (q <= math.max(p - w, 0)) {
        val win = (q until math.min(q + w, p)).toSet
        assert(win.exists(sel), s"window at $q has no fingerprint (s=$s)")
        q += 1
      }
    }
  }

  test("kernel: selected hash is the rightmost minimum of some window") {
    val rnd = new scala.util.Random(13)
    val n = 200
    val s = (0 until n).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString
    val k = 4; val w = 5
    val p = s.length - k + 1
    // hashRange is private; recover each gram hash via a single-gram winnow
    val h = (0 until p).map(i => fps(s.substring(i, i + k), k, 1).head._2)
    for ((pos, hash) <- fps(s, k, w)) {
      assert(h(pos) == hash)
      // pos must be the rightmost min of at least one window covering it
      val covers = (math.max(0, pos - w + 1) to pos).filter(q => q <= math.max(p - w, 0))
      assert(covers.exists { q =>
        val win = q until math.min(q + w, p)
        val m = win.map(h).min
        h(pos) == m && win.filter(i => h(i) == m).max == pos
      }, s"pos $pos is not a rightmost window minimum")
    }
  }

  test("kernel: shared substring of length k+w-1 guarantees a shared fingerprint") {
    val rnd = new scala.util.Random(99)
    val k = 8; val w = 6
    val core = (0 until (k + w - 1)).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    for (_ <- 1 to 20) {
      def pad(n: Int) = (0 until n).map(_ => ('0' + rnd.nextInt(10)).toChar).mkString
      val s1 = pad(30 + rnd.nextInt(50)) + core + pad(30)
      val s2 = pad(10) + core + pad(60 + rnd.nextInt(40))
      val h1 = fps(s1, k, w).map(_._2).toSet
      val h2 = fps(s2, k, w).map(_._2).toSet
      assert((h1 & h2).nonEmpty, "planted shared substring produced no shared fingerprint")
    }
  }

  test("kernel edges: short text, single window, empty") {
    assert(fps("", 5, 4).isEmpty)
    assert(fps("abcd", 5, 4).isEmpty) // shorter than k
    assert(fps("abcde", 5, 4).size == 1) // exactly one gram
    val few = fps("abcdefg", 5, 8) // 3 grams < w: one window
    assert(few.size == 1)
  }

  test("substringDupStats: planted cross-doc template is flagged, unique docs kept") {
    def noise(n: Int, seed: Int) = {
      val r = new scala.util.Random(seed)
      (0 until n).map(_ => ('a' + r.nextInt(26)).toChar).mkString
    }
    val template = "the quick brown fox jumps over the lazy dog again and again"
    val rows = (0L until 20L).map { i =>
      // docs 0-9 are template + tiny unique suffix (near-total duplication);
      // docs 10-19 are fully unique noise
      if (i < 10) (i, template + noise(6, i.toInt))
      else (i, noise(90, 1000 + i.toInt))
    }
    val df = rows.toDF("doc_id", "text")
    val out = TextAnalysis.substringDupStats(df, k = 8, w = 4, keepBelow = 0.5)
      .select("doc_id", "dup_frac", "keep").collect()
    val byId = out.map(r => r.getLong(0) -> (r.getDouble(1), r.getBoolean(2))).toMap
    (0L until 10L).foreach { i =>
      assert(byId(i)._1 > 0.5, s"template doc $i dup_frac=${byId(i)._1}")
      assert(!byId(i)._2)
    }
    (10L until 20L).foreach { i =>
      assert(byId(i)._1 < 0.3, s"unique doc $i dup_frac=${byId(i)._1}")
      assert(byId(i)._2)
    }
  }

  test("repeatedSpans: spans cover the planted template and only it") {
    val template = "zzz shared boilerplate segment that repeats across documents zzz"
    def uniq(seed: Int) = {
      val r = new scala.util.Random(seed)
      (0 until 80).map(_ => ('a' + r.nextInt(26)).toChar).mkString
    }
    val rows = Seq(
      (1L, uniq(1) + template + uniq(2)),
      (2L, uniq(3) + template + uniq(4)),
      (3L, uniq(5)))
    val df = rows.toDF("doc_id", "text")
    val k = 8; val w = 4
    val spans = TextAnalysis.repeatedSpans(df, k = k, w = w).collect()
    assert(spans.forall(_.getLong(0) != 3L), "unique doc has no repeated span")
    for (docId <- Seq(1L, 2L)) {
      val ds = spans.filter(_.getLong(0) == docId)
      assert(ds.nonEmpty, s"doc $docId has a span")
      val text = rows.find(_._1 == docId).get._2
      val tStart = text.indexOf(template)
      // every span sits inside (or within w+k slack of) the planted template
      ds.foreach { r =>
        val s = r.getLong(1); val e = r.getLong(2)
        assert(s >= tStart - (w + k) && e <= tStart + template.length + (w + k),
          s"span [$s,$e) far outside template at $tStart")
      }
      // and the spans cover most of the template
      val covered = ds.map(r => r.getLong(2) - r.getLong(1)).sum
      assert(covered >= template.length / 2, s"covered only $covered of ${template.length}")
    }
  }

  test("spans merge: adjacent fingerprints collapse to one island") {
    // two docs fully identical: whole doc is one (or few) spans, start 0
    val text = "aaab bbbc cccd ddde eeef ffff gggh hhhi iiij jjjk"
    val df = Seq((1L, text), (2L, text)).toDF("doc_id", "text")
    val spans = TextAnalysis.repeatedSpans(df, k = 6, w = 3).collect()
    val doc1 = spans.filter(_.getLong(0) == 1L)
    assert(doc1.length <= 2, s"identical docs fragmented into ${doc1.length} spans")
    // first fingerprint sits somewhere in the first window, not exactly at 0
    assert(doc1.map(_.getLong(1)).min <= 3L)
  }

  test("operator handles docs shorter than k without dropping rows") {
    val df = Seq((1L, "ab"), (2L, "a much longer document body right here")).toDF("doc_id", "text")
    val out = TextAnalysis.substringDupStats(df, k = 12, w = 8)
    assert(out.count() == 2)
    val short = out.where(col("doc_id") === 1L).select("n_fps", "dup_frac").head()
    assert(short.getLong(0) == 0L && short.getDouble(1) == 0.0)
  }
}
