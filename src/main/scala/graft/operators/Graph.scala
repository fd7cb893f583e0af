package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed graph primitives for corpus curation (beyond the reference's
  * surface; see SURVEY.md §2 "LLM-data-pipeline operators"). The driving use
  * case is transitive near-duplicate clustering: pairwise LSH verdicts (a~b,
  * b~c) must collapse into one cluster even when a and c never collide.
  */
object Graph {

  /** (count, two exact sums of independent edge hashes): equal signatures on
    * two DISTINCT edge sets imply equality up to hash-sum collision — used
    * as the cheap first stage of the fixpoint test. The sums accumulate in
    * DECIMAL(38,0): a long sum would overflow (and throw under ANSI mode).
    */
  private def signatureOf(e: DataFrame): (Long, (BigDecimal, BigDecimal)) = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val r = e.agg(
      count(lit(1)),
      sum(xxhash64(lit(0), col("a"), col("b")).cast(dec)),
      sum(xxhash64(lit(1), col("a"), col("b")).cast(dec))).head()
    def d(i: Int): BigDecimal = if (r.isNullAt(i)) BigDecimal(0) else BigDecimal(r.getDecimal(i))
    (r.getLong(0), (d(1), d(2)))
  }

  /** Connected components of an undirected edge list by alternating
    * large-star / small-star contraction (Kiveris, Lattanzi, Mirrokni,
    * Rastogi, Vassilvitskii — "Connected Components in MapReduce and
    * Beyond", SoCC 2014). Returns one `(node, component)` row per distinct
    * node appearing in `edges`, where `component` is the smallest node id of
    * the node's component.
    *
    * Scale shape: each round is two groupBy-min passes plus a key join — no
    * all-pairs work, no driver-side graph. Both operations shuffle on node
    * id, so a massive component spreads across partitions instead of
    * hot-spotting one task; edge count never grows beyond the symmetric
    * closure and contracts geometrically (the paper proves O(log n) rounds;
    * LSH-duplicate graphs — dense clusters, tiny diameter — converge in 2-3).
    * Lineage is cut per round with a lazy localCheckpoint (the fixpoint
    * signature is the first action over each round's edge set, so one job
    * both materializes the round and reads its signature), which keeps the
    * plan O(1) per iteration instead of doubling (on a cluster with a
    * checkpoint dir, swap for reliable `checkpoint` to add fault tolerance
    * past executor loss).
    */
  def connectedComponents(
      edges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      maxIter: Int = 50): DataFrame = {
    // materialize the (possibly expensive — e.g. an LSH candidate pipeline)
    // edge input ONCE; nodes and the canonical edge set both derive from it.
    // Checkpoints are LAZY: the signature aggregation right below is the
    // first action over each round's edge set, so it materializes the
    // checkpoint in the same job — an eager checkpoint would pay a separate
    // materialization job per round for nothing.
    val e0 = edges.select(col(srcCol).as("u"), col(dstCol).as("v")).localCheckpoint(false)
    val nodes = e0.select(col("u").as("node"))
      .unionByName(e0.select(col("v").as("node")))
      .distinct()

    // canonical (a > b) orientation, self-loops dropped
    var e = e0
      .select(greatest(col("u"), col("v")).as("a"), least(col("u"), col("v")).as("b"))
      .where(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint(false)
    var (eCount, eSig) = signatureOf(e)

    // one alternation: large-star then small-star contraction
    def contract(ein: DataFrame): DataFrame = {
      // large-star: every node u links its LARGER neighbors v to
      // m = min(Γ(u) ∪ {u}); m ≤ u < v keeps the (a > b) orientation.
      // NOTE (r12, measured and REJECTED): replacing the groupBy + join-back
      // with per-partition window mins removes one exchange per star phase
      // (jobs 78 → 54 on geo_dbscan) but regresses dense inputs badly
      // (geo_dbscan 4.0 → 6.7 s): a dense eps-ball component concentrates a
      // hot node's whole neighbor list into one window-sort task, while the
      // groupBy's map-side partial aggregation keeps the hot key cheap.
      val sym = ein.select(col("a").as("u"), col("b").as("v"))
        .unionByName(ein.select(col("b").as("u"), col("a").as("v")))
      val lMin = sym.groupBy("u").agg(min("v").as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      // dedup under hash(a) rather than hash(a, b): HashPartitioning(a)
      // satisfies the distinct's ClusteredDistribution((a, b)), and the
      // small-star's groupBy(a) + join-back then REUSE the same exchange —
      // one shuffle of `large` per round instead of three (guide §2.4)
      val large = sym.join(lMin, "u")
        .where(col("v") > col("u"))
        .select(col("v").as("a"), col("m").as("b"))
        .repartition(col("a"))
        .distinct()

      // small-star: every node a links its (all smaller, post-large-star)
      // neighbors b — and itself — to m = min(Γ(a) ∪ {a})
      val sMin = large.groupBy("a").agg(min("b").as("m"))
      large.join(sMin, "a")
        .select(col("b").as("x"), col("m"))
        .where(col("x") =!= col("m"))
        .unionByName(sMin.select(col("a").as("x"), col("m")))
        .select(greatest(col("x"), col("m")).as("a"), least(col("x"), col("m")).as("b"))
        .where(col("a") =!= col("b"))
        .distinct()
    }

    var converged = eCount == 0L
    var iter = 0
    while (!converged && iter < maxIter) {
      val next = contract(e).localCheckpoint(false)

      // fixpoint test: compare cheap multiset signatures (count + two
      // independent wraparound hash sums — a map-side agg, no shuffle of the
      // edge set) and confirm a signature hit with one exact set difference;
      // the anti-join is paid once at the final round, not every round
      val (nextCount, nextSig) = signatureOf(next)
      converged = nextCount == eCount && nextSig == eSig && next.except(e).isEmpty
      // the prior round's checkpoint is dead once `next` is materialized and
      // the fixpoint test above has read it — free its blocks so a long-lived
      // session doesn't accumulate one edge-set copy per round. Safe:
      // nothing downstream references the round (a local checkpoint can't
      // recompute after the drop, but e0 and the final round are never
      // dropped).
      Caches.release(e)
      e = next
      eCount = nextCount
      eSig = nextSig
      iter += 1
    }
    require(converged, s"connectedComponents did not converge in $maxIter rounds")

    // fixpoint = disjoint stars (v, root); roots and isolated nodes map to
    // themselves
    nodes.join(e.select(col("a").as("node"), col("b").as("component")), Seq("node"), "left")
      .select(col("node"), coalesce(col("component"), col("node")).as("component"))
  }

  /** PageRank (Page/Brin 1998 — public literature): `iters` power-method
    * rounds over a directed edge list, returning `(node, rank)` for every
    * node appearing in `edges`. Parallel edges collapse to one (the
    * unweighted web-graph convention); rank starts uniform at 1/N and each
    * round computes `(1−d)/N + d·Σ_in rank(u)/outdeg(u)`. Dangling nodes
    * (no out-edges) leak their mass — the simplified variant, exactly
    * mirrorable in plain SQL; use it for RELATIVE quality weighting
    * (corpus-curation ranking, where only the ordering matters), not for a
    * probability distribution.
    *
    * Scale shape, same discipline as [[connectedComponents]]: the edge set,
    * the out-degree-weighted contribution table, and the node set are each
    * lazily localCheckpointed ONCE; every round is one term-keyed join plus
    * one map-side-combined sum — node-keyed shuffles only, no driver-side
    * graph, no all-pairs stage. Rounds chain through lazy checkpoints (plan
    * stays O(1) per round) and materialize together in ONE job at the final
    * count; every intermediate round's blocks are freed immediately after,
    * so the returned frame keeps exactly one persisted RDD behind it.
    */
  /** Per-node triangle counts over an undirected edge list — the
    * clustering-coefficient/community signal. Degree-ordered node-iterator
    * scheme (the published distributed-triangle standard, e.g. Suri &
    * Vassilvitskii 2011 "Counting Triangles and the Curse of the Last
    * Reducer"): each undirected edge is oriented from its lower (degree, id)
    * endpoint to the higher, wedges are generated only at each edge's
    * low-degree side, and a wedge (u→v, u→w) closes iff the oriented edge
    * v→w exists. Total wedge volume is O(m^{3/2}) regardless of skew — a
    * hub's wedges are charged to its low-degree neighbors, so the "last
    * reducer" hot key never forms. Returns `(node, triangles)` for nodes in
    * at least one triangle.
    */
  def triangleCounts(
      edges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    val und = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .where(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
      .distinct()
      .localCheckpoint(false)
    val deg = und.select(col("a").as("n")).unionByName(und.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    // orient by (degree, id); carry the head's order key for wedge ordering
    val oriented = und
      .join(deg.select(col("n").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("d").as("db")), "b")
      .select(
        when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("src"), col("b").as("dst"), col("db").as("dd")))
          .otherwise(struct(col("b").as("src"), col("a").as("dst"), col("da").as("dd")))
          .as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"), col("e.dd").as("dd"))
      .localCheckpoint(false)
    val wedges = oriented.as("e1").join(oriented.as("e2"),
      col("e1.src") === col("e2.src") &&
        (col("e1.dd") < col("e2.dd") ||
          (col("e1.dd") === col("e2.dd") && col("e1.dst") < col("e2.dst"))))
      .select(col("e1.src").as("u"), col("e1.dst").as("v"), col("e2.dst").as("w"))
    val tris = wedges.join(oriented.select(col("src").as("v"), col("dst").as("w")),
      Seq("v", "w"))
    val out = tris
      .select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("triangles"))
    val res = out.localCheckpoint(true) // materialize, then release inputs
    Seq(und, oriented).foreach(Caches.release)
    res
  }

  /** Minimum hop distance from a source set by frontier-expanding BFS,
    * bounded at `maxDepth` rounds: `(node, dist)` for every node reachable
    * within `maxDepth` hops (sources at 0). Each round is one node-keyed
    * join (frontier × edges) plus an anti-join against the settled set —
    * the same lazy-checkpoint round cascade as [[pagerank]]: plans stay
    * O(1) per round, the whole cascade materializes in ONE job, and every
    * intermediate round's blocks are freed. Undirected by default
    * (`undirected = false` follows edge direction).
    */
  def bfs(
      edges: DataFrame,
      sources: DataFrame,
      sourceCol: String,
      srcCol: String = "src",
      dstCol: String = "dst",
      maxDepth: Int = 3,
      undirected: Boolean = true): DataFrame = {
    require(maxDepth >= 1 && maxDepth <= 64, "maxDepth must be in [1, 64]")
    val fwd = edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
      .where(col("u").isNotNull && col("v").isNotNull)
    // checkpoint the adjacency ALREADY hash-partitioned by the probe key:
    // every round joins on u, so the per-round exchange of the (static,
    // largest) side disappears — the frontier is the only moving part
    val adj = (if (undirected) fwd.unionByName(fwd.select(col("v").as("u"), col("u").as("v")))
      else fwd).repartition(col("u")).distinct().localCheckpoint(false)
    var frontier = sources.select(col(sourceCol).as("node"), lit(0).as("dist"))
      .distinct().localCheckpoint(false)
    // the settled set is the union of the (disjoint) round frontiers — kept
    // as a LAZY union over the per-round frontier checkpoints instead of a
    // second per-round checkpoint: the old `merged` copy rewrote the whole
    // settled set into fresh blocks every round (O(V · depth) block churn)
    // and ran one extra QueryExecution per round for a plain union
    val frontiers = scala.collection.mutable.ArrayBuffer(frontier)
    var d = 1
    while (d <= maxDepth) {
      val settled = frontiers.reduceLeft(_ unionByName _)
      val next = frontier.join(adj, frontier("node") === adj("u"))
        .select(col("v").as("node")).distinct()
        .join(settled, Seq("node"), "left_anti")
        .select(col("node"), lit(d).as("dist"))
        .localCheckpoint(false)
      frontiers += next
      frontier = next
      d += 1
    }
    // the eager checkpoint materializes the whole round cascade in one job;
    // then every round frontier and the adjacency free their blocks
    val res = frontiers.reduceLeft(_ unionByName _).localCheckpoint(true)
    (frontiers :+ adj).foreach(Caches.release)
    res
  }

  def pagerank(
      edges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      iters: Int = 10,
      damping: Double = 0.85): DataFrame = {
    require(iters >= 1 && iters <= 200, "iters must be in [1, 200]")
    require(damping > 0.0 && damping < 1.0, "damping must be in (0, 1)")
    val e0 = edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
      .where(col("u").isNotNull && col("v").isNotNull)
      .distinct()
      .localCheckpoint(false)
    // deg feeds contrib AND the per-round source-node frame below — one
    // checkpoint, hash-partitioned by u (its aggregation's own exchange)
    val deg = e0.groupBy("u").agg(count(lit(1)).as("__deg")).localCheckpoint(false)
    val contrib = e0.join(deg, "u")
      .select(col("u"), col("v"), (lit(1.0) / col("__deg")).as("__w"))
      .localCheckpoint(false)
    val nodes = e0.select(col("u").as("node"))
      .unionByName(e0.select(col("v").as("node")))
      .distinct()
      .localCheckpoint(false)
    val n = nodes.count()
    if (n == 0) return nodes.select(col("node"), lit(1.0).as("rank")).where(lit(false))

    val base = (1.0 - damping) / n
    // Intermediate rounds only ever feed the next round's contrib join, and
    // that join reads rank(u) solely for u WITH OUT-EDGES — so the per-round
    // all-nodes completion join is deferred to the final round (guide §2.4:
    // one join + one exchange less per round). A source node that received
    // no messages holds rank = base + d·0, which the LEFT join's coalesce
    // reproduces exactly — the arithmetic is identical term for term, and
    // the final round still completes over the full node set. `srcs` comes
    // from deg's aggregation, so its checkpoint is hash-partitioned by u and
    // the per-round join back needs no extra exchange of that side.
    val srcs = deg.select(col("u"))
    var rank = srcs.select(col("u").as("node"), lit(1.0 / n).as("rank"))
    val dead = scala.collection.mutable.ArrayBuffer[DataFrame]()
    // Rounds form a LINEAR chain (each round's rank feeds exactly the next
    // round's contrib join), so per-round checkpoints are pure overhead:
    // every lazy checkpoint runs as its own QueryExecution, and under AQE
    // each of those pays per-stage job scheduling and re-planning. Cutting
    // lineage every CHECKPOINT_EVERY rounds instead keeps the plan depth
    // bounded (no exponential growth — the chain references each round
    // once) while a k-round block materializes as ONE adaptive execution.
    // Arithmetic is untouched: same joins, same aggregates, same fp order.
    val checkpointEvery = 8
    var i = 0
    while (i < iters) {
      val msgs = contrib.join(rank.select(col("node").as("u"), col("rank")), "u")
        .groupBy(col("v"))
        .agg(sum(col("rank") * col("__w")).as("__in"))
      val next =
        if (i < iters - 1)
          srcs.join(msgs.select(col("v").as("u"), col("__in")), Seq("u"), "left")
            .select(col("u").as("node"),
              (lit(base) + lit(damping) * coalesce(col("__in"), lit(0.0))).as("rank"))
        else // final round: complete over ALL nodes (dangling included)
          nodes
            .join(msgs.select(col("v").as("node"), col("__in")), Seq("node"), "left")
            .select(col("node"),
              (lit(base) + lit(damping) * coalesce(col("__in"), lit(0.0))).as("rank"))
      rank =
        if (i % checkpointEvery == checkpointEvery - 1 || i == iters - 1) {
          val cp = next.localCheckpoint(false)
          dead += cp
          cp
        } else next
      i += 1
    }
    // one job materializes the whole round cascade; then the intermediate
    // block checkpoints and the input tables free their blocks — only the
    // final round's RDD stays, backing the returned frame.
    rank.count()
    dead.dropRight(1).foreach(Caches.release)
    Seq(e0, deg, contrib, nodes).foreach(Caches.release)
    rank
  }
}
