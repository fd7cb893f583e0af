package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Density-based spatial clustering. DBSCAN (Ester/Kriegel/Sander/Xu 1996 —
  * public literature; no reference counterpart) re-expressed as bounded
  * equi-joins: the classic formulation is a sequential flood fill, which has
  * no distributed analogue, but its FIXPOINT is pure relational algebra —
  * eps-neighbor pairs, a density count, and connected components over
  * core-core edges.
  */
object Clustering {

  /** id contract shared by the clustering operators: labels/init orderings
    * derive from a `cast(idCol, long)`, so ids must be integral — a silent
    * cast of a string id degrades non-numeric values to null (rows vanish
    * from pair tables, init ordering hashes null). Fail loudly instead;
    * callers with string keys hash first (e.g. xxhash64).
    */
  private def requireIntegralId(df: DataFrame, idCol: String, op: String): Unit =
    df.schema(idCol).dataType match {
      case _: org.apache.spark.sql.types.ByteType | _: org.apache.spark.sql.types.ShortType |
           _: org.apache.spark.sql.types.IntegerType | _: org.apache.spark.sql.types.LongType => ()
      case other => throw new IllegalArgumentException(
        s"$op idCol '$idCol' must be an integral type (got $other); " +
          "hash string ids to a long first, e.g. xxhash64(col)")
    }

  /** DBSCAN over planar point columns. `eps` is in coordinate units
    * (project first for metric eps — e.g. [[GeoOps.toMercator]] /
    * `st_to_utm`); a point is CORE when its closed eps-ball holds at least
    * `minPts` points INCLUDING itself (the paper's |N_eps(p)| >= MinPts).
    * Output adds two columns to `df`: `is_core`, and `cluster` — the
    * smallest core id of the cluster, `-1` for noise (sentinel, not NULL,
    * so downstream grouping and engine comparison never hit null-equality
    * semantics). Border points (non-core within eps of >= 1 core) join the
    * smallest cluster id among their core neighbors — the paper leaves
    * border assignment order-dependent; the min rule is the deterministic
    * refinement, same policy as the dedup family's representative picks.
    *
    * Scale shape: candidate pairs come from an eps-grid — each point keys
    * its home cell (floor(x/eps), floor(y/eps)) on the build side and
    * explodes its 3×3 neighbor cells on the probe side, so the equi-join on
    * the cell id sees every pair within eps (cell width = eps bounds the
    * reach) and nothing farther than one cell apart — no all-pairs stage,
    * O(points × 9) replicated rows. Density counts are one map-side-
    * combined groupBy over those pairs; core-core edges feed
    * [[Graph.connectedComponents]] (alternating-star, node-keyed shuffles,
    * O(log n) rounds); border assignment is one more aggregation over the
    * SAME pair table. The inherent hazard is DBSCAN's own: a cell holding k
    * points in one eps-ball contributes k² true pairs — that is the
    * algorithm's answer (they really are neighbors), not a skew artifact;
    * at 100 TB choose eps so the expected ball stays small, or pre-thin
    * ultra-dense regions (the published parallel variants do exactly this).
    *
    * The result assumes ONE consuming action (the [[Caches]] contract): the
    * internal eps-grid pair cache is released when the first action over
    * the returned frame completes — a caller running several actions on it
    * recomputes the 9-cell explode join on the later ones; `.persist()` the
    * result yourself for multi-action use.
    */
  def dbscan(
      df: DataFrame,
      idCol: String,
      lonCol: String,
      latCol: String,
      eps: Double,
      minPts: Int): DataFrame = {
    require(eps > 0, "eps must be positive")
    require(minPts >= 1, "minPts must be >= 1")
    // id contract: the cluster label IS min(id), so ids must be integral —
    // a silent cast("long") of a string id degrades non-numeric values to
    // null and the row would vanish from the pair table. Fail loudly
    // instead; callers with string keys hash first (e.g. xxhash64).
    requireIntegralId(df, idCol, "dbscan")
    val pts = df.select(col(idCol).cast("long").as("__id"),
        col(lonCol).cast("double").as("__x"), col(latCol).cast("double").as("__y"))
      .where(col("__x").isNotNull && col("__y").isNotNull)
    def cellOf(c: Column): Column = floor(c / lit(eps)).cast("long")

    val probe = pts
      .withColumn("__dx", explode(sequence(lit(-1), lit(1))))
      .withColumn("__dy", explode(sequence(lit(-1), lit(1))))
      .select(col("__id").as("__aid"), col("__x").as("__ax"), col("__y").as("__ay"),
        (cellOf(col("__x")) + col("__dx")).as("__cx"),
        (cellOf(col("__y")) + col("__dy")).as("__cy"))
    val home = pts.select(col("__id").as("__bid"), col("__x").as("__bx"),
      col("__y").as("__by"), cellOf(col("__x")).as("__cx"), cellOf(col("__y")).as("__cy"))
    val dist2 = (col("__ax") - col("__bx")) * (col("__ax") - col("__bx")) +
      (col("__ay") - col("__by")) * (col("__ay") - col("__by"))
    // ordered pairs including self — |N_eps| counts the point itself, and
    // the self edge keeps singleton cores visible to the component pass
    // pairs feeds THREE consumers (core density count, core-core edges,
    // border assignment) — persisted once instead of recomputing the 9-cell
    // explode join per consumer (guide §2.4). Released via the ANCHORED
    // listener below: connectedComponents runs internal actions while this
    // function builds its result, so a first-action release would drop the
    // cache before the border pass reads it.
    val pairs = probe.join(home, Seq("__cx", "__cy"))
      .where(dist2 <= lit(eps * eps))
      .select("__aid", "__bid")
      .transform(Caches.persist)

    val core = pairs.groupBy("__aid").agg(count(lit(1)).as("__ncnt"))
      .where(col("__ncnt") >= minPts)
      .select(col("__aid").as("__coreid"))
    val coreEdges = pairs
      .join(core.withColumnRenamed("__coreid", "__aid"), Seq("__aid"))
      .join(core.withColumnRenamed("__coreid", "__bid"), Seq("__bid"))
      .select(col("__aid").as("src"), col("__bid").as("dst"))
    val comp = Graph.connectedComponents(coreEdges, "src", "dst")

    // border: nearest-by-id core neighbor's component (min over components)
    val borderAssign = pairs
      .join(core.withColumnRenamed("__coreid", "__bid"), Seq("__bid"))
      .join(comp.select(col("node").as("__bid"), col("component")), Seq("__bid"))
      .groupBy("__aid").agg(min(col("component")).as("__bcl"))

    val result = df.join(comp.select(col("node").as("__jid"), col("component").as("__ccl")),
        col(idCol).cast("long") === col("__jid"), "left")
      .join(borderAssign.select(col("__aid").as("__jid2"), col("__bcl")),
        col(idCol).cast("long") === col("__jid2"), "left")
      .withColumn("is_core", col("__ccl").isNotNull)
      .withColumn("cluster", coalesce(col("__ccl"), col("__bcl"), lit(-1L)))
      .drop("__jid", "__ccl", "__jid2", "__bcl")
    Caches.releaseWhen(result, pairs)
    result
  }

  /** Distributed Lloyd k-means (Euclidean) over an embedding column — the
    * corpus-partitioning step of curation pipelines (cluster-balanced
    * mixing, per-cluster quality gates, SemDeDup-style cells with an
    * explicit model). Fully deterministic so a SQL engine can mirror it
    * round for round:
    *
    *  - init: the k vectors whose ids sort first by (mix64(id ^ seed), id)
    *    — a seeded hash shuffle, not `rand()`;
    *  - assignment: argmin over centroids of the 9-decimal PRE-ROUNDED
    *    distance surrogate `‖c‖² − 2·v·c` (‖v‖² is constant per point and
    *    cannot change the argmin), ties to the lowest centroid index — the
    *    [[Similarity.farthestPointSample]] pre-rounded-cut policy: a 1-ulp
    *    cross-engine divergence in an unrounded argmin would fork every
    *    subsequent round;
    *  - update: component-wise mean ROUNDED to 6 decimals (pins float
    *    summation-order drift before it can compound across rounds); a
    *    cluster that loses all points keeps its previous centroid.
    *
    * Returns (id, cluster, dist2_6) — final assignment under the
    * `iters`-times-updated centroids with the 6-rounded squared distance.
    *
    * Scale shape: per round, ONE codegen'd k·dim scan (the `vec_dot`
    * kernel against model-sized centroid literals — no join, no shuffle on
    * the corpus) plus one map-side-combined (cluster, position) mean; the
    * k-row centroid fetch per round is a bounded model collect (the IVF
    * fit / FPS-round policy). Rounds chain O(iters) jobs like pagerank.
    */
  def kmeans(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      k: Int,
      iters: Int,
      seed: Long = 42L): DataFrame = {
    val cents = kmeansCentroids(df, vecCol, idCol, k, iters, seed)
    val base = df
      .select(col(idCol).cast("long").as("__id"), col(vecCol).cast("array<double>").as("__v"))
      .where(col("__v").isNotNull)
    assignClusters(base, "__v", cents).drop("__v").withColumnRenamed("__id", idCol)
  }

  /** The trained model behind [[kmeans]]: runs the same deterministic Lloyd
    * loop and returns the final centroids (k × dim doubles) for reuse —
    * score a later drop, or a STREAM, with [[assignClusters]] without
    * refitting.
    *
    * Contract split vs [[Similarity]]'s coarse-quantizer fit
    * (`fitCentroidsLocal`): this one is the DISTRIBUTED exact Lloyd — every
    * corpus row votes in every round, arithmetic is value-pinned (rounded
    * argmin/means) so results are reproducible engine-for-engine; the
    * Similarity fit trades that for speed on a byte-capped sample, which is
    * all a cell quantizer needs. They compose: pass this function's output
    * as the `centroids`/`quantizer` argument of `Similarity.ivfTopK` /
    * `int8IvfTopK` / `ivfBuildIndex` to run IVF retrieval over an exactly
    * fitted model (centroids are L2-normalized there — the cell assignment
    * is cosine).
    */
  def kmeansCentroids(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      k: Int,
      iters: Int,
      seed: Long = 42L): Array[Array[Double]] = {
    require(k >= 1 && k <= 64, "k must be in [1, 64] (centroids ride the plan as literals)")
    require(iters >= 1 && iters <= 16, "iters must be in [1, 16]")
    // same hazard dbscan rejects: a string id would null out under the long
    // cast and silently change the seeded init ordering
    requireIntegralId(df, idCol, "kmeans")
    import graft.functions.TextFunctions.mix64_hash
    val base = df
      .select(col(idCol).cast("long").as("__id"), col(vecCol).cast("array<double>").as("__v"))
      .where(col("__v").isNotNull)

    var cents: Array[Array[Double]] = base
      .orderBy(mix64_hash(col("__id"), seed), col("__id"))
      .limit(k).collect().map(_.getSeq[Double](1).toArray) // bounded: k rows
    require(cents.nonEmpty, "kmeans needs a non-empty input")
    val dim = cents.head.length

    var r = 0
    while (r < iters) {
      // the 6-rounding happens INSIDE the plan (Spark round = DuckDB round,
      // half-away-from-zero on doubles — the established mirror convention)
      val means = assignClusters(base, "__v", cents)
        .select(col("cluster"), posexplode(col("__v")).as(Seq("__p", "__x")))
        .groupBy("cluster", "__p").agg(round(avg("__x"), 6).as("__m"))
        .collect() // bounded: k·dim model rows
        .groupBy(_.getInt(0))
        .map { case (j, rows) =>
          val c = new Array[Double](dim)
          rows.foreach(row => c(row.getInt(1)) = row.getDouble(2))
          j -> c
        }
      cents = cents.zipWithIndex.map { case (prev, j) => means.getOrElse(j, prev) }
      r += 1
    }
    cents
  }

  /** Appends `cluster` (nearest-centroid index, the [[kmeans]] pre-rounded
    * argmin) and `dist2_6` (6-rounded squared distance) for a FITTED
    * centroid model. A pure codegen'd projection — no shuffle, no state —
    * so it works unchanged on a STREAMING frame (score an embedding stream
    * against a batch-fitted model: the stream-static pattern with the model
    * as plan literals instead of a join).
    */
  def assignClusters(
      df: DataFrame,
      vecCol: String,
      centroids: Array[Array[Double]]): DataFrame = {
    require(centroids.nonEmpty && centroids.length <= 64,
      "centroids must hold 1..64 vectors (they ride the plan as literals)")
    import graft.functions.TextFunctions.vec_dot
    val v = col(vecCol).cast("array<double>")
    // winner struct per row: least() on (rounded surrogate, index) — the
    // unrounded surrogate rides along for the exact distance output
    val entries = centroids.zipWithIndex.map { case (c, j) =>
      val c2 = { var s = 0.0; var i = 0; while (i < c.length) { s += c(i) * c(i); i += 1 }; s }
      val surr = lit(c2) - lit(2.0) * vec_dot(v, typedLit(c.toSeq))
      struct(round(surr, 9).as("d"), lit(j).as("j"), surr.as("s"))
    }
    val best = if (entries.length == 1) entries.head else least(entries.toIndexedSeq: _*)
    df.withColumn("__w", best)
      .withColumn("cluster", col("__w.j"))
      .withColumn("dist2_6", round(vec_dot(v, v) + col("__w.s"), 6))
      .drop("__w")
  }
}
