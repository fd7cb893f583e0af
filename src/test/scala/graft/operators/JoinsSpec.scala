package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions.{array_intersect, explode, floor, sequence, size}
import org.scalatest.funsuite.AnyFunSuite

class JoinsSpec extends AnyFunSuite with SparkSpec {
  import testImplicits._

  // ---- fuzzyJoin --------------------------------------------------------

  // one shared dataset: the DataFrame under test and the brute-force oracle
  // both derive from it, so extending it extends BOTH sides of the parity
  private val nameRows = Seq(
    (1L, "kitten"), (2L, "sitten"), (3L, "sittin"), (4L, "apple"),
    (5L, "apples"), (6L, "orange"), (7L, "kitten"))

  private def names = nameRows.toDF("id", "name")

  /** Brute-force oracle: full cross product + exact Levenshtein. */
  private def bruteForce(maxDist: Int): Set[(Long, Long, Int)] = {
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    (for {
      (i, a) <- nameRows; (j, b) <- nameRows
      d = lev(a, b) if d <= maxDist && i < j
    } yield (i, j, d)).toSet
  }

  test("fuzzyJoin matches the brute-force pair set at d=1 and d=2") {
    for (d <- Seq(1, 2)) {
      val got = Joins.fuzzyJoin(names, names, "name", "name", d)
        .where($"id" < $"id_right")
        .select("id", "id_right", "edit_dist").as[(Long, Long, Int)]
        .collect().toSet
      assert(got == bruteForce(d), s"d=$d")
    }
  }

  test("fuzzyJoin: exact duplicates pair at distance 0") {
    val got = Joins.fuzzyJoin(names, names, "name", "name", 1)
      .where($"id" < $"id_right" && $"edit_dist" === 0)
      .select("id", "id_right").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 7L)))
  }

  test("fuzzyJoin: each qualifying pair is emitted exactly once") {
    val out = Joins.fuzzyJoin(names, names, "name", "name", 2)
      .select("id", "id_right").as[(Long, Long)].collect().toSeq
    assert(out.size == out.toSet.size)
  }

  test("fuzzyJoin: length difference beyond d prunes without verify") {
    val l = Seq((1L, "ab")).toDF("id", "s")
    val r = Seq((9L, "abcdef")).toDF("id", "s")
    assert(Joins.fuzzyJoin(l, r, "s", "s", 2).count() == 0)
  }

  test("fuzzyJoin: two-sided join carries both payloads with suffix") {
    val l = Seq((1L, "color", "L")).toDF("id", "word", "tag")
    val r = Seq((2L, "colour", "R")).toDF("id", "word", "tag")
    val out = Joins.fuzzyJoin(l, r, "word", "word", 1)
      .select("id", "word", "tag", "id_right", "word_right", "tag_right", "edit_dist")
      .as[(Long, String, String, Long, String, String, Int)].collect().toSeq
    assert(out == Seq((1L, "color", "L", 2L, "colour", "R", 1)))
  }

  test("fuzzyJoin: short strings (below d+1 chars) still join correctly") {
    val l = Seq((1L, "a"), (2L, "xy")).toDF("id", "s")
    val r = Seq((3L, "b"), (4L, "x")).toDF("id", "s")
    val got = Joins.fuzzyJoin(l, r, "s", "s", 1)
      .select("id", "id_right", "edit_dist").as[(Long, Long, Int)]
      .collect().toSet
    assert(got == Set((1L, 3L, 1), (1L, 4L, 1), (2L, 4L, 1)))
  }

  test("fuzzyJoin expand=false: value granularity with counts, no k² blowup") {
    // "abc" appears 3× left and 2× right: expanded mode emits 3·2 = 6 rows
    // for that value pair; value mode emits ONE row carrying the counts
    val l = Seq((1L, "abc"), (2L, "abc"), (3L, "abc"), (4L, "xyz"))
      .toDF("id", "name")
    val r = Seq((11L, "abc"), (12L, "abc"), (13L, "abd"), (14L, "qqq"))
      .toDF("id", "name")
    val expanded = Joins.fuzzyJoin(l, r, "name", "name", 1)
    assert(expanded.count() == 3 * 2 + 3 * 1) // abc×abc (6) + abc×abd (3)
    val values = Joins.fuzzyJoin(l, r, "name", "name", 1, expand = false)
      .select("name", "name_right", "edit_dist", "left_count", "right_count")
      .as[(String, String, Int, Long, Long)].collect().toSet
    assert(values == Set(
      ("abc", "abc", 0, 3L, 2L),
      ("abc", "abd", 1, 3L, 1L)))
    // row count identity: sum(left_count·right_count) over value rows equals
    // the expanded row count — the counts reconstruct what wasn't emitted
    assert(values.toSeq.map(v => v._4 * v._5).sum == expanded.count())
  }

  // ---- intervalJoin -----------------------------------------------------

  private def lIv = Seq(
    ("u1", 1L, 0.0, 10.0), ("u1", 2L, 20.0, 30.0), ("u2", 3L, 0.0, 5.0)
  ).toDF("k", "id", "s", "e")

  private def rIv = Seq(
    ("u1", 11L, 5.0, 15.0),   // overlaps id=1
    ("u1", 12L, 30.0, 40.0),  // touches id=2 at the closed endpoint
    ("u1", 13L, 11.0, 19.0),  // gap: overlaps nothing
    ("u2", 14L, 4.0, 4.5),    // inside id=3
    ("u3", 15L, 0.0, 100.0)   // no matching key
  ).toDF("k", "id", "s", "e")

  private def pairsOf(w: Double): Set[(Long, Long)] =
    Joins.intervalJoin(lIv, rIv, Seq("k"), "s", "e", "s", "e", w)
      .select("id", "id_right").as[(Long, Long)].collect().toSet

  test("intervalJoin: closed-interval overlap semantics per key") {
    assert(pairsOf(8.0) == Set((1L, 11L), (2L, 12L), (3L, 14L)))
  }

  test("intervalJoin: pair set is bucket-width invariant and duplicate-free") {
    val expected = Set((1L, 11L), (2L, 12L), (3L, 14L))
    for (w <- Seq(1.0, 3.0, 8.0, 50.0, 1000.0)) {
      val out = Joins.intervalJoin(lIv, rIv, Seq("k"), "s", "e", "s", "e", w)
        .select("id", "id_right").as[(Long, Long)].collect().toSeq
      assert(out.toSet == expected, s"w=$w")
      assert(out.size == expected.size, s"w=$w emitted duplicates")
    }
  }

  test("intervalJoin: self-join on the same frame resolves without ambiguity") {
    val out = Joins.intervalJoin(lIv, lIv, Seq("k"), "s", "e", "s", "e", 8.0)
      .where($"id" < $"id_right")
      .select("id", "id_right").as[(Long, Long)].collect().toSet
    assert(out == Set.empty) // the three left intervals are pairwise disjoint
  }

  test("intervalJoin: no keys means a pure range join across all rows") {
    val out = Joins.intervalJoin(lIv, rIv, Seq.empty, "s", "e", "s", "e", 8.0)
      .select("id", "id_right").as[(Long, Long)].collect().toSet
    // u3's [0,100] interval now overlaps every left interval
    assert(out == Set((1L, 11L), (2L, 12L), (3L, 14L),
      (1L, 15L), (2L, 15L), (3L, 15L), (3L, 11L), (1L, 14L)))
  }

  test("intervalJoin: maxReplication ladder is row-identical to the flat path") {
    // randomized mixed-span intervals: mostly short, a few very long
    // (planet-length relative to bucketWidth = 2), plus negatives and
    // point intervals — every pair the flat path finds, exactly once
    val rnd = new scala.util.Random(7)
    def mk(side: Int) = (0 until 300).map { i =>
      val s = rnd.nextInt(2000) - 1000
      val len =
        if (i % 37 == 0) 5000 + rnd.nextInt(20000) // long tail
        else if (i % 11 == 0) 0                    // point interval
        else rnd.nextInt(12)
      (s"k${i % 7}", (side * 100000 + i).toLong, s.toDouble, (s + len).toDouble)
    }.toDF("k", "id", "s", "e")
    val l = mk(1); val r = mk(2)
    val flat = Joins.intervalJoin(l, r, Seq("k"), "s", "e", "s", "e", 2.0)
      .select("id", "id_right").as[(Long, Long)].collect()
    val laddered = Joins.intervalJoin(l, r, Seq("k"), "s", "e", "s", "e", 2.0,
        maxReplication = Some(8))
      .select("id", "id_right").as[(Long, Long)].collect()
    assert(laddered.length == flat.length, "ladder emitted duplicates or dropped pairs")
    assert(laddered.toSet == flat.toSet)
    // and the replication cap actually binds: a 25000-long interval at w=2
    // would flat-replicate ~12500 rows; ladder caps it at n + 2·levels
    assert(flat.toSet.nonEmpty)
  }

  test("intervalJoin: ladder caps per-row replication (plan-level row count)") {
    // one planet-length interval among shorts: count the exploded rows that
    // reach the join by materializing each side's replication directly
    val l = (Seq(("k", 1L, 0.0, 100000.0)) ++
      (2 to 40).map(i => ("k", i.toLong, i * 10.0, i * 10.0 + 5.0))).toDF("k", "id", "s", "e")
    // flat replication of id=1 at w=4: 25001 bucket rows; guard with n=16
    // must stay under n + 2·levels + slack
    val flatRows = l.select(explode(sequence(
      floor($"s" / 4.0).cast("long"), floor($"e" / 4.0).cast("long")))).count()
    assert(flatRows > 25000L)
    val out = Joins.intervalJoin(l, l, Seq("k"), "s", "e", "s", "e", 4.0,
      maxReplication = Some(16))
    // correctness on the planted frame: long interval overlaps every short
    val pairs = out.where($"id" =!= $"id_right")
      .select("id", "id_right").as[(Long, Long)].collect().toSet
    assert(pairs == (2 to 40).flatMap(i => Seq((1L, i.toLong), (i.toLong, 1L))).toSet)
  }

  test("intervalJoin: negative coordinates bucket correctly") {
    val l = Seq(("k", 1L, -25.0, -12.0)).toDF("k", "id", "s", "e")
    val r = Seq(("k", 2L, -13.0, -1.0), ("k", 3L, -11.9, 0.0)).toDF("k", "id", "s", "e")
    assert(Joins.intervalJoin(l, r, Seq("k"), "s", "e", "s", "e", 10.0)
      .select("id", "id_right").as[(Long, Long)].collect().toSet == Set((1L, 2L)))
  }

  // ---- setSimJoin -------------------------------------------------------

  /** Brute-force Jaccard oracle over word-token sets. */
  private def jacBrute(rows: Seq[(Long, String)], t: Double): Set[(Long, Long, Int, Double)] = {
    def toks(s: String) = s.trim.toLowerCase.split(" +").filter(_.nonEmpty).toSet
    (for {
      (i, a) <- rows
      (j, b) <- rows
      if i < j
      ta = toks(a)
      tb = toks(b)
      if ta.nonEmpty && tb.nonEmpty
      o = (ta & tb).size
      jac = o.toDouble / (ta.size + tb.size - o)
      if jac >= t
    } yield (i, j, o, jac)).toSet
  }

  private val simRows = Seq(
    (1L, "the quick brown fox jumps"),
    (2L, "the quick brown fox leaps"), // J = 4/6 with 1
    (3L, "quick brown fox"),           // J = 3/5 with 1 and 2
    (4L, "entirely different words here"),
    (5L, "the quick brown fox jumps"), // exact dup of 1 (J = 1)
    (6L, "words entirely here different extra"), // J = 4/5 with 4
    (7L, "   "),                        // empty token set: excluded
    (8L, "fox"))                        // tiny set

  test("setSimJoin matches the brute-force pair set at several thresholds") {
    val df = simRows.toDF("id", "text")
    for (t <- Seq(0.3, 0.5, 0.8, 1.0)) {
      val got = Joins.setSimJoin(df, df, "id", "text", "id", "text", t)
        .where($"id" < $"id_right")
        .select("id", "id_right", "overlap", "jaccard")
        .as[(Long, Long, Int, Double)].collect()
        .map { case (a, b, o, j) => (a, b, o, math.rint(j * 1e9) / 1e9) }.toSet
      val want = jacBrute(simRows, t)
        .map { case (a, b, o, j) => (a, b, o, math.rint(j * 1e9) / 1e9) }
      assert(got == want, s"threshold $t")
    }
  }

  test("setSimJoin: threshold boundary pair is included (J exactly t)") {
    // J(1,2) = 2/4 = 0.5 exactly
    val df = Seq((1L, "a b c"), (2L, "a b d")).toDF("id", "text")
    val out = Joins.setSimJoin(df, df, "id", "text", "id", "text", 0.5)
      .where($"id" < $"id_right").select("id", "id_right").as[(Long, Long)].collect()
    assert(out.toSet == Set((1L, 2L)))
  }

  test("setSimJoin: duplicate words inside one doc count once (set semantics)") {
    val df = Seq((1L, "a a a b"), (2L, "a b")).toDF("id", "text")
    val out = Joins.setSimJoin(df, df, "id", "text", "id", "text", 1.0)
      .where($"id" < $"id_right")
      .select("left_size", "right_size", "jaccard").as[(Int, Int, Double)].collect()
    assert(out.toSeq == Seq((2, 2, 1.0)))
  }

  test("setSimJoin: two distinct frames, asymmetric sizes, size-band prune") {
    val l = Seq((1L, "x y z w")).toDF("lid", "ltext")
    val r = Seq((10L, "x y z w v u t s q r"), (11L, "x y z")).toDF("rid", "rtext")
    // J(1,10) = 4/10 = 0.4 < 0.6; J(1,11) = 3/4 = 0.75 >= 0.6
    val out = Joins.setSimJoin(l, r, "lid", "ltext", "rid", "rtext", 0.6)
      .select("lid", "rid").as[(Long, Long)].collect()
    assert(out.toSet == Set((1L, 11L)))
  }

  test("sorted_intersect_size equals size(array_intersect) on sorted distinct arrays") {
    // the setsim verify kernel: |a ∩ b| of strictly-increasing int arrays —
    // must agree with the interpreted intersect it replaced, on every shape
    // (disjoint, identical, staggered, empty-ish singletons)
    val rnd = new scala.util.Random(7)
    val rows = (0 until 200).map { i =>
      val a = Seq.fill(rnd.nextInt(12) + 1)(rnd.nextInt(40)).distinct.sorted
      val b = Seq.fill(rnd.nextInt(12) + 1)(rnd.nextInt(40)).distinct.sorted
      (i, a, b)
    } :+ ((200, Seq(1, 2, 3), Seq(4, 5, 6))) :+ ((201, Seq(5), Seq(5)))
    val df = rows.toDF("i", "a", "b")
    val got = df.select($"i",
        graft.functions.TextFunctions.sorted_intersect_size($"a", $"b").as("k"),
        size(array_intersect($"a", $"b")).as("want"))
      .where($"k" =!= $"want")
    assert(got.count() == 0L, got.collect().mkString("\n"))
  }

  test("sorted_intersect_size rejects array<long> at analysis") {
    val df = Seq((Seq(1L, 2L, 3L), Seq(2L, 3L, 4L))).toDF("a", "b")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      df.select(graft.functions.TextFunctions.sorted_intersect_size($"a", $"b")).collect()
    }
    assert(e.getMessage.contains("sorted_intersect_size"), e.getMessage)
  }

  test("setSimJoin plans hash joins only — no cartesian, no BNLJ") {
    val df = simRows.toDF("id", "text")
    val plan = Joins.setSimJoin(df, df, "id", "text", "id", "text", 0.5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  // ---- bloomPrunedJoin --------------------------------------------------

  test("bloomPrunedJoin equals the plain inner join (long and string keys)") {
    val big = (0L until 5000L).map(i => (i, s"row$i")).toDF("k", "payload")
    val small = Seq((17L, "a"), (17L, "b"), (4242L, "c"), (9999999L, "absent"))
      .toDF("sk", "tag")
    val got = Joins.bloomPrunedJoin(big, small, "k", "sk", numBits = 1 << 12)
      .select("k", "payload", "sk", "tag").collect().toSet
    val want = big.join(small, $"k" === $"sk")
      .select("k", "payload", "sk", "tag").collect().toSet
    assert(got === want && got.size === 3)

    val bigS = (0 until 2000).map(i => (s"key$i", i)).toDF("ks", "v")
    val smallS = Seq(("key7", 1), ("key1999", 2), ("nope", 3)).toDF("sks", "w")
    val gotS = Joins.bloomPrunedJoin(bigS, smallS, "ks", "sks", numBits = 1 << 12)
      .select("ks", "v", "w").collect().toSet
    assert(gotS === bigS.join(smallS, $"ks" === $"sks")
      .select("ks", "v", "w").collect().toSet)
  }

  test("bloomGate prunes hard at a sane fp rate and never drops a match") {
    val big = (0L until 20000L).toDF("k")
    val small = (0L until 20000L by 1000L).toDF("sk") // 20 keys of 20000
    val gated = Joins.bloomGate(big, small, "k", "sk", numBits = 1 << 14)
    val kept = gated.count()
    // no false negatives: every true match survives the gate
    assert(gated.join(small, $"k" === $"sk").count() === 20L)
    assert(kept >= 20L)
    // 20 keys in 2^14 bits x 5 hashes => fp well under 1%; allow 2%
    assert(kept <= 20L + (20000L * 2) / 100, s"gate kept $kept of 20000")
    assert(Joins.bloomPrunedJoin(big, small, "k", "sk", numBits = 1 << 14)
      .count() === 20L)
  }

  test("bloomPrunedJoin: null keys drop, empty small side yields empty") {
    val big = Seq[(java.lang.Long, String)]((1L, "a"), (null, "n"), (2L, "b"))
      .toDF("k", "p")
    val small = Seq(1L).toDF("sk")
    assert(Joins.bloomPrunedJoin(big, small, "k", "sk", numBits = 64)
      .select("k", "p").as[(Long, String)].collect().toSet === Set((1L, "a")))
    val none = small.where($"sk" < 0)
    assert(Joins.bloomPrunedJoin(big, none, "k", "sk", numBits = 64).count() === 0L)
  }

  test("containmentJoin matches the brute-force containment pair set") {
    // quotes inside pages: tiny left sets fully covered by big right sets —
    // the shape Jaccard misses (J << t while containment = 1)
    val page = (1 to 60).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, "w3 w7 w11 w19"), // quote: fully inside the page
      (2L, "w3 w7 zz yy"), // half inside: containment 0.5
      (3L, page), // the page itself
      (4L, "w1 w2 w3 w4 w5"), // 5-token quote, all inside
      (5L, "aa bb cc")).toDF("id", "txt") // disjoint
    val out = Joins.containmentJoin(docs, docs, "id", "txt", "id", "txt", 0.8)
      .where($"id" =!= $"id_right")
      .select($"id", $"id_right", $"containment")
      .as[(Long, Long, Double)].collect().toSet
    // brute force over the same tokenization
    def toks(s: String) = s.split(" +").toSet
    val m = Map(1L -> "w3 w7 w11 w19", 2L -> "w3 w7 zz yy", 3L -> page,
      4L -> "w1 w2 w3 w4 w5", 5L -> "aa bb cc")
    val brute = (for {
      (li, lt) <- m.toSeq; (ri, rt) <- m.toSeq if li != ri
      ov = (toks(lt) intersect toks(rt)).size
      c = ov.toDouble / toks(lt).size if c >= 0.8
    } yield (li, ri, c)).toSet
    assert(out == brute)
    assert(out.contains((1L, 3L, 1.0)) && out.contains((4L, 3L, 1.0)))
    assert(!out.exists(_._1 == 2L)) // 0.5 < t
    assert(!out.exists(p => p._1 == 3L && p._2 != 3L)) // page not inside quotes
  }

  test("containmentJoin: asymmetric — containment is directional") {
    val docs = Seq((1L, "a b"), (2L, "a b c d")).toDF("id", "txt")
    val out = Joins.containmentJoin(docs, docs, "id", "txt", "id", "txt", 0.9)
      .where($"id" =!= $"id_right")
      .select($"id", $"id_right").as[(Long, Long)].collect().toSet
    assert(out == Set((1L, 2L))) // {a,b} ⊂ {a,b,c,d}, never the reverse
  }
}
