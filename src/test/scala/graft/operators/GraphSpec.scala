package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

class GraphSpec extends AnyFunSuite with SparkSpec {

  import testImplicits._

  private def cc(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Graph.connectedComponents(edges.toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap

  test("two components, a triangle and an edge") {
    val got = cc(Seq((1L, 2L), (2L, 3L), (3L, 1L), (10L, 11L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("long path converges to one component (worst case for label hops)") {
    val n = 256
    val got = cc((1 until n).map(i => (i.toLong, (i + 1).toLong)))
    assert(got.size == n)
    assert(got.values.toSet == Set(1L))
  }

  test("self-loops, duplicate and reversed edges are harmless") {
    val got = cc(Seq((5L, 5L), (1L, 2L), (2L, 1L), (1L, 2L), (2L, 3L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L))
  }

  test("star and random unions match a driver-side union-find oracle") {
    // deterministic pseudo-random graph on 200 nodes
    val edges = (0 until 300).map { i =>
      val a = (i * 7919L) % 200
      val b = (i * 104729L + 13) % 200
      (a, b)
    }.filter { case (a, b) => a != b }
    val got = cc(edges)

    val parent = Array.tabulate(200)(identity)
    def find(x: Int): Int = { if (parent(x) != x) parent(x) = find(parent(x)); parent(x) }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val mins = (0 until 200).groupBy(find).map { case (r, ns) => r -> ns.min }
    val want = (0 until 200)
      .filter(n => edges.exists(e => e._1 == n || e._2 == n))
      .map(n => n.toLong -> mins(find(n)).toLong).toMap
    assert(got == want)
  }

  test("dead rounds' localCheckpoint blocks are actually freed") {
    // a 256-node path needs several contraction rounds; each round local-
    // checkpoints its edge set. Dataset.unpersist would silently keep every
    // round's blocks (they are RDD-level, invisible to the CacheManager) —
    // after the run only a bounded handful of persistent RDDs may remain
    // (e0, the final round, and the session's unrelated cache entries).
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val n = 256
    val got = cc((1 until n).map(i => (i.toLong, (i + 1).toLong)))
    assert(got.values.toSet == Set(1L))
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.size <= 3,
      s"${leaked.size} persistent RDDs left behind — dead CC rounds not freed")
  }

  test("empty edge frame yields an empty assignment") {
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(Graph.connectedComponents(empty).count() == 0)
  }

  test("clusters: transitive chain a~b~c lands in ONE cluster") {
    // b bridges a and c: a~b and b~c verify, a~c alone would not — the
    // pairwise drop logic can't see this; the component must
    val docs = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi"),
      // ~ 10 with the head changed
      (20L, "ALPHA beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi"),
      // ~ 20 with the tail changed (and further from 10)
      (30L, "ALPHA beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu XI"),
      (40L, "a completely different unrelated document about catalyst and codegen")).toDF("id", "text")
    val got = Dedup.clusters(docs, "text", "id", numBands = 32, threshold = 0.55)
      .select("id", "cluster").as[(Long, Long)].collect().toMap
    assert(got(10L) == 10L && got(20L) == 10L && got(30L) == 10L)
    assert(got(40L) == 40L)
  }

  test("clusters: exact duplicates share their representative's cluster") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"),
      (3L, "the quick brown fox jumps over the lazy dog tonight"),
      (9L, "something else entirely unrelated to the fox sentences")).toDF("id", "text")
    val got = Dedup.clusters(docs, "text", "id").select("id", "cluster")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 9L))
  }

  test("clusters agrees with minhashLsh: kept set == cluster representatives") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and runs far away home tonight"),
      (2L, "a completely different document about spark catalyst expressions and codegen"),
      (3L, "yet another unrelated text discussing minhash signatures and jaccard similarity"),
      (4L, "the quick brown fox jumps over the lazy cat and runs far away home tonight"),
      (5L, "a completely different document about spark catalyst expressions and codegen"),
      (6L, "yet another unrelated text discussing minhash signatures and jaccard similarity indeed"))
      .toDF("id", "text")
    val kept = Dedup.minhashLsh(docs, "text", "id", numBands = 32, threshold = 0.6)
      .select("id").as[Long].collect().toSet
    val cl = Dedup.clusters(docs, "text", "id", numBands = 32, threshold = 0.6)
      .select("id", "cluster").as[(Long, Long)].collect()
    // a component min never has a verified pair with a smaller id, so every
    // cluster head survives the pairwise drop (kept can be larger on chains:
    // a~b, b~c, a‽c keeps c pairwise but clusters it under a)
    val heads = cl.filter(r => r._1 == r._2).map(_._1).toSet
    assert(heads.subsetOf(kept))
    cl.foreach { case (_, c) => assert(heads.contains(c)) }
  }

  // ---- pagerank ---------------------------------------------------------

  /** Driver-side power method, same simplified variant (uniform init, no
    * dangling redistribution, parallel edges collapsed).
    */
  private def prBrute(edges: Seq[(Long, Long)], iters: Int, d: Double): Map[Long, Double] = {
    val e = edges.distinct
    val nodes = e.flatMap(p => Seq(p._1, p._2)).distinct
    val n = nodes.size
    val out = e.groupBy(_._1).view.mapValues(_.size.toDouble).toMap
    var rank = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to iters) {
      val in = e.groupBy(_._2).view.mapValues(_.map { case (u, _) =>
        rank(u) / out(u)
      }.sum).toMap
      rank = nodes.map(v => v -> ((1.0 - d) / n + d * in.getOrElse(v, 0.0))).toMap
    }
    rank
  }

  test("pagerank matches the driver-side power method on a small web") {
    val edges = Seq(
      (1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L), (4L, 3L), (1L, 2L), // dup edge
      (5L, 6L)) // 6 is dangling
    val got = Graph.pagerank(edges.toDF("src", "dst"), iters = 7)
      .select("node", "rank").as[(Long, Double)].collect().toMap
    val want = prBrute(edges, 7, 0.85)
    assert(got.keySet == want.keySet)
    for ((k, v) <- want) assert(math.abs(got(k) - v) < 1e-12, s"node $k: ${got(k)} vs $v")
    // the sink-heavy node outranks everything; the dangling leaf gets base-ish
    assert(got(3L) > got(1L) && got(1L) > got(4L))
  }

  test("pagerank: output is partition-stable and bounded") {
    val rnd = new scala.util.Random(5)
    val edges = Seq.fill(300)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter(p => p._1 != p._2)
    val a = Graph.pagerank(edges.toDF("src", "dst"), iters = 5)
      .select("node", "rank").as[(Long, Double)].collect().toMap
    val b = Graph.pagerank(edges.toDF("src", "dst").repartition(7), iters = 5)
      .select("node", "rank").as[(Long, Double)].collect().toMap
    for ((k, v) <- a) assert(math.abs(b(k) - v) < 1e-12)
    assert(a.values.sum <= 1.0 + 1e-9) // dangling mass only leaks, never grows
    assert(a.values.forall(_ > 0))
  }

  test("pagerank frees every intermediate round's blocks") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val out = Graph.pagerank(
      Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst"), iters = 12)
    out.count()
    val leaked = sc.getPersistentRDDs.filterNot { case (k, _) => before(k) }
    assert(leaked.size <= 1, s"${leaked.size} persistent RDDs left behind")
  }

  test("triangleCounts matches brute force on a random graph") {
    val rnd = new scala.util.Random(31)
    val n = 40
    val edges = (for {
      a <- 0L until n; b <- (a + 1) until n if rnd.nextDouble() < 0.15
    } yield (a, b)).toSeq
    // brute force: every closed id-ordered triple
    val eset = edges.toSet
    def has(x: Long, y: Long) = eset((math.min(x, y), math.max(x, y)))
    val expect = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    for (x <- 0L until n; y <- (x + 1) until n; z <- (y + 1) until n
         if has(x, y) && has(x, z) && has(y, z)) {
      expect(x) += 1; expect(y) += 1; expect(z) += 1
    }
    // feed some duplicate/reversed/self edges: the operator must normalize
    val noisy = edges ++ edges.take(5).map(_.swap) ++ Seq((3L, 3L))
    val got = Graph.triangleCounts(noisy.toDF("src", "dst")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expect.toMap.filter(_._2 > 0))
  }

  test("bfs: hop distances on a known graph, bounded depth, direction modes") {
    // path 1-2-3-4-5 plus an isolated edge 8-9
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (8L, 9L))
    val sources = Seq(Tuple1(1L)).toDF("node")
    val out = Graph.bfs(edges.toDF("src", "dst"), sources, "node", maxDepth = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out == Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 3)) // 5 beyond depth, 8/9 unreachable
    // undirected: reverse edges walk too
    val back = Graph.bfs(edges.toDF("src", "dst"), Seq(Tuple1(5L)).toDF("node"),
      "node", maxDepth = 2).collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(back == Map(5L -> 0, 4L -> 1, 3L -> 2))
    // directed mode only follows src -> dst
    val dir = Graph.bfs(edges.toDF("src", "dst"), Seq(Tuple1(5L)).toDF("node"),
      "node", maxDepth = 2, undirected = false)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(dir == Map(5L -> 0))
    // diamond with a back edge, DIRECTED: min dist wins, source stays 0
    val dia = Graph.bfs(Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 1L))
      .toDF("src", "dst"), Seq(Tuple1(1L)).toDF("node"), "node", maxDepth = 4,
      undirected = false)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(dia == Map(1L -> 0, 2L -> 1, 3L -> 1, 4L -> 2))
  }

  test("triangleCounts and bfs release their checkpoints (<= 1 residual RDD)") {
    val sc = spark.sparkContext
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("src", "dst")
    val before = sc.getPersistentRDDs.keySet
    Graph.triangleCounts(edges).count()
    val leak1 = sc.getPersistentRDDs.filterNot { case (k, _) => before(k) }
    assert(leak1.size <= 1, s"triangles left ${leak1.size}")
    val before2 = sc.getPersistentRDDs.keySet
    Graph.bfs(edges, Seq(Tuple1(1L)).toDF("node"), "node", maxDepth = 5).count()
    val leak2 = sc.getPersistentRDDs.filterNot { case (k, _) => before2(k) }
    assert(leak2.size <= 1, s"bfs left ${leak2.size}")
  }
}
