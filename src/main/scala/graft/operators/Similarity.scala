package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder, Row}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

import graft.functions.TextFunctions._

/** Approximate-nearest-neighbor search over embedding columns
  * (SURVEY §2 "LLM-data-pipeline operators").
  *
  * Scale design: scoring is pure built-in array math (codegen'd, no UDF in
  * the pair loop); top-k never global-sorts — a typed Aggregator keeps an
  * O(k) buffer per partition and merges partials, so the shuffle moves
  * k rows per (query, partition), not the scored pair space.
  */
object Similarity {

  /** Cosine similarity of two array columns (float or double), computed in
    * double precision with a left-to-right fold — pure built-ins. A
    * zero-norm vector scores 0 (the usual convention): the bare division
    * would throw DIVIDE_BY_ZERO under Spark 4's default ANSI mode and kill
    * the whole top-k job on one all-zero embedding.
    */
  def cosineSim(a: Column, b: Column): Column =
    // codegen'd kernel, bit-identical to the three-HOF fold it replaced
    // (left-to-right accumulators, zero-norm → 0.0): the interpreted
    // higher-order functions dominated every million-pair verify loop
    graft.functions.TextFunctions.vec_cosine(a, b)

  /** Null-safe cosine: NULL when either norm is zero (ANSI mode would raise
    * on the division; a NULL similarity fails every ≥-threshold filter, so
    * zero vectors simply never verify).
    */
  def cosineSimSafe(a: Column, b: Column): Column = {
    val ad = a.cast("array<double>"); val bd = b.cast("array<double>")
    val dot = aggregate(zip_with(ad, bd, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
    val na = sqrt(aggregate(ad, lit(0.0), (acc, x) => acc + x * x))
    val nb = sqrt(aggregate(bd, lit(0.0), (acc, x) => acc + x * x))
    when(na * nb > 0, dot / (na * nb))
  }

  /** The top-k order of (id, score) pairs: score descending, then id
    * ascending — deterministic under ties.
    */
  private[operators] val topKOrder: Ordering[(Long, Double)] =
    Ordering.by[(Long, Double), (Double, Long)](x => (-x._2, x._1))(
      Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long))

  /** Bounded top-k buffer: (id, score) pairs, kept sorted by [[topKOrder]].
    * Map-side partials merge in O(k). Every top-k entry point builds one
    * while it builds its plan, so `k < 1` fails there, before any job: an
    * empty buffer would otherwise die on `buf.last` inside a task.
    */
  class TopKAggregator(k: Int)
      extends Aggregator[(Long, Double), Seq[(Long, Double)], Seq[(Long, Double)]] {
    require(k >= 1, s"k must be >= 1, got $k")
    override def zero: Seq[(Long, Double)] = Nil
    override def reduce(buf: Seq[(Long, Double)], x: (Long, Double)): Seq[(Long, Double)] =
      if (buf.size >= k && topKOrder.gteq(x, buf.last)) buf
      else (x +: buf).sorted(topKOrder).take(k)
    override def merge(a: Seq[(Long, Double)], b: Seq[(Long, Double)]): Seq[(Long, Double)] =
      (a ++ b).sorted(topKOrder).take(k)
    override def finish(buf: Seq[(Long, Double)]): Seq[(Long, Double)] = buf
    override def bufferEncoder: Encoder[Seq[(Long, Double)]] = ExpressionEncoder()
    override def outputEncoder: Encoder[Seq[(Long, Double)]] = ExpressionEncoder()
  }

  private[graft] def topkColumns(scored: DataFrame, k: Int): DataFrame = {
    val fn = udaf(new TopKAggregator(k), ExpressionEncoder[(Long, Double)]())
    scored
      .groupBy("query_id")
      .agg(fn(col("neighbor_id"), col("cosine")).as("__top"))
      .select(col("query_id"), explode(col("__top")).as("__n"))
      .select(col("query_id"), col("__n._1").as("neighbor_id"), col("__n._2").as("cosine"))
  }

  /** Exact cosine top-k: every query scores every corpus row. The query side
    * is broadcast — the corpus (the 100 TB side) never shuffles; each task
    * folds its partition into k-row partials.
    */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      vecCol: String,
      idCol: String,
      k: Int): DataFrame = {
    val c = corpus.select(col(idCol).cast("long").as("neighbor_id"), col(vecCol).as("__cv"))
    val q = queries.select(col(idCol).cast("long").as("query_id"), col(vecCol).as("__qv"))
    val scored = c.crossJoin(broadcast(q))
      .withColumn("cosine", cosineSim(col("__qv"), col("__cv")))
    topkColumns(scored, k)
  }

  /** Per-vector symmetric int8 quantization: `q[i] = round(v[i] / s)` with
    * `s = max|v| / 127` (s = 1 for the all-zero vector). Adds `q8`
    * (array<tinyint>, 4× smaller than float32 and 8× smaller than the
    * double intermediates) and `q8_scale` (double) — THE standard memory
    * lever for a 100 TB embedding corpus: the quantized column is what a
    * cluster caches/scans, floats stay in cold storage. Deterministic pure
    * built-ins; exactly mirrorable in SQL (integer arithmetic + one
    * round()).
    */
  def quantizeInt8(df: DataFrame, vecCol: String,
      qCol: String = "q8", scaleCol: String = "q8_scale"): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val maxabs = aggregate(v, lit(0.0), (acc, x) => greatest(acc, abs(x)))
    df.withColumn(scaleCol, when(maxabs > 0, maxabs / 127.0).otherwise(lit(1.0)))
      .withColumn(qCol, transform(v, x => round(x / col(scaleCol)).cast("tinyint")))
  }

  /** Approximate dot product of two int8-quantized vectors: the integer dot
    * (exact — no float accumulation error) rescaled by both vectors'
    * scales. Codegen'd built-ins, no UDF.
    */
  def int8Dot(qa: Column, sa: Column, qb: Column, sb: Column): Column =
    aggregate(zip_with(qa.cast("array<long>"), qb.cast("array<long>"), (x, y) => x * y),
      lit(0L), (acc, x) => acc + x).cast("double") * sa * sb

  /** Normalize-then-quantize prep shared by the int8 paths: L2-normalize the
    * vector (so the rescaled integer dot approximates cosine), then
    * symmetric int8 quantization. The norm materializes as a column BEFORE
    * the normalizing transform: inlining it into the lambda re-evaluates the
    * whole fold per element (Spark's subexpression elimination skips lambda
    * bodies), turning the prep scan O(dim²) per row.
    */
  private def l2Prep(df: DataFrame, vecCol: String, idCol: String, idOut: String,
      keep: Seq[String] = Nil): DataFrame =
    df.select(col(idCol).cast("long").as(idOut) +: keep.map(col) :+
        col(vecCol).cast("array<double>").as("__vd"): _*)
      .withColumn("__n", sqrt(aggregate(col("__vd"), lit(0.0), (acc, x) => acc + x * x)))
      .withColumn("__nv", when(col("__n") > 0,
        transform(col("__vd"), x => x / col("__n"))).otherwise(col("__vd")))

  private def int8Prep(df: DataFrame, vecCol: String, idCol: String, idOut: String,
      keep: Seq[String] = Nil): DataFrame =
    quantizeInt8(l2Prep(df, vecCol, idCol, idOut, keep), "__nv")

  /** Brute-force top-k over the int8-quantized corpus: same broadcast-query
    * / per-partition-heap shape as [[bruteForceTopK]], but each pair costs
    * an integer dot over tinyints instead of a double fold over floats, and
    * the scanned corpus column is 4× narrower. Vectors are L2-NORMALIZED
    * before quantization, so the rescaled integer dot approximates cosine
    * (error ~1% of full scale) and the ranking tracks [[bruteForceTopK]] —
    * at 100 TB this is the first-stage retriever, with the float rescore
    * reserved for the k survivors.
    */
  def int8TopK(
      corpus: DataFrame,
      queries: DataFrame,
      vecCol: String,
      idCol: String,
      k: Int): DataFrame = {
    val c = int8Prep(corpus, vecCol, idCol, "neighbor_id")
      .select(col("neighbor_id"), col("q8").as("__cq"), col("q8_scale").as("__cs"))
    val q = int8Prep(queries, vecCol, idCol, "query_id")
      .select(col("query_id"), col("q8").as("__qq"), col("q8_scale").as("__qs"))
    val scored = c.crossJoin(broadcast(q))
      .withColumn("cosine", int8Dot(col("__qq"), col("__qs"), col("__cq"), col("__cs")))
    topkColumns(scored, k)
  }

  /** Deterministic Lloyd iterations with cosine distance on a bounded
    * in-memory sample (the coarse-quantizer fit — its input is capped, so a
    * local fit beats 8 distributed passes at any corpus scale). Returns
    * L2-normalized centroids; argmax dot ≡ argmax cosine against them.
    */
  private[operators] def fitCentroidsLocal(
      sample: Array[Array[Float]], nlist: Int, iters: Int, seed: Long): Array[Array[Double]] = {
    require(sample.nonEmpty, "empty training sample")
    val dim = sample(0).length
    val unit = sample.map(v => l2normalize(v.map(_.toDouble)))
    // deterministic spread init: rows picked by a seeded hash of their index
    val picks = unit.indices.sortBy(i => graft.functions.TextKernel.mix64(seed ^ i)).take(nlist)
    var centroids = picks.map(unit).toArray
    // Lloyd rounds parallelize over FIXED 2048-row chunks: each chunk
    // accumulates its own partial sums sequentially, chunks combine in
    // chunk-index order — bit-identical results under any thread schedule
    // (fp addition order is pinned), ~cores× faster than the single-thread
    // loop that dominated large-nlist fits (sample·nlist·dim·iters ops).
    val chunk = 2048
    val nChunks = (unit.length + chunk - 1) / chunk
    var it = 0
    while (it < iters) {
      val cents = centroids
      val partialSums = new Array[Array[Array[Double]]](nChunks)
      val partialCounts = new Array[Array[Long]](nChunks)
      java.util.stream.IntStream.range(0, nChunks).parallel().forEach { ci =>
        val lo = ci * chunk
        val hi = math.min(unit.length, lo + chunk)
        val sums = Array.fill(cents.length)(new Array[Double](dim))
        val counts = new Array[Long](cents.length)
        var r = lo
        while (r < hi) {
          val v = unit(r)
          var best = 0; var bestDot = Double.NegativeInfinity
          var c = 0
          while (c < cents.length) {
            var dot = 0.0; var d = 0
            while (d < dim) { dot += v(d) * cents(c)(d); d += 1 }
            if (dot > bestDot) { bestDot = dot; best = c }
            c += 1
          }
          var d = 0
          while (d < dim) { sums(best)(d) += v(d); d += 1 }
          counts(best) += 1
          r += 1
        }
        partialSums(ci) = sums
        partialCounts(ci) = counts
      }
      val sums = Array.fill(cents.length)(new Array[Double](dim))
      val counts = new Array[Long](cents.length)
      var ci = 0
      while (ci < nChunks) {
        var c = 0
        while (c < cents.length) {
          var d = 0
          while (d < dim) { sums(c)(d) += partialSums(ci)(c)(d); d += 1 }
          counts(c) += partialCounts(ci)(c)
          c += 1
        }
        ci += 1
      }
      centroids = centroids.indices.map { c =>
        if (counts(c) == 0) centroids(c) else l2normalize(sums(c))
      }.toArray
      it += 1
    }
    centroids
  }

  /** Fit-sample row cap: at most `hardCap` rows AND `capBytes` of float32
    * vector data (dim-2048 floats are 8 KiB/row — a row-only cap would let
    * the driver fit balloon to ~800 MB), never below `nlist` rows.
    */
  private[operators] def fitRowCap(dim: Int, capBytes: Long, nlist: Int,
      hardCap: Int = 100000): Int = {
    val byBytes = if (dim > 0) (capBytes / (4L * dim)).toInt else hardCap
    // ≤ 256 training points per centroid (the published IVF recipe's upper
    // band): Lloyd cost is sample·nlist·dim·iters, so an nlist that scales
    // with the corpus would otherwise drag the whole 100k-row cap through
    // every round — the fit stays O(nlist²) instead of O(nlist·hardCap)
    val byCells = math.min(hardCap.toLong, 256L * nlist).toInt
    math.max(nlist, math.min(math.min(hardCap, byBytes), byCells))
  }

  /** The length of the first vector in column `vec` of `df`, 0 when `df` has
    * no rows: one single-row read, which sizes the fit-sample cap.
    */
  private def vectorDim(df: DataFrame, vec: String): Int =
    df.select(size(col(vec))).head(1) match {
      case Array(r) => r.getInt(0)
      case _ => 0
    }

  /** The fit sample of every trained quantizer here (the IVF coarse
    * quantizer, PQ codebooks, residual codebooks): `cols` of the
    * `fitRowCap(dim, fitSampleBytes, cells)` rows of `df` with the smallest
    * seeded hash of `hashed`, i.e. a deterministic uniform draw across every
    * partition — a bare limit() would read the first file(s) of the scan,
    * fitting to whichever shard sorts first (one crawl domain, one day).
    * orderBy+limit lowers to TakeOrderedAndProject: per-partition top-cap
    * heaps + one driver merge, a single pass, no full sort. Each caller
    * keeps its own hash input (the input-typed or the float-cast vector),
    * which fixes which rows are drawn.
    */
  private def fitSample(df: DataFrame, hashed: Column, seed: Long, dim: Int,
      fitSampleBytes: Long, cells: Int, cols: Column*): Array[Row] =
    df.select(cols :+ xxhash64(lit(seed), hashed).as("__h"): _*)
      .orderBy("__h")
      .limit(fitRowCap(dim, fitSampleBytes, cells))
      .collect()

  /** L2-normalizes one vector by reciprocal multiply (the cosine-quantizer
    * contract: argmax dot against unit centroids ≡ argmax cosine). Zero
    * vectors stay zero.
    */
  private def l2normalize(v: Array[Double]): Array[Double] = {
    var n = 0.0; var i = 0
    while (i < v.length) { n += v(i) * v(i); i += 1 }
    val inv = if (n <= 0) 0.0 else 1.0 / math.sqrt(n)
    v.map(_ * inv)
  }

  /** L2-normalizes one vector by DIVISION (x / n), zero-norm left unchanged
    * — the exact arithmetic of [[l2Prep]]'s column path and the oracle's nz
    * CTE. [[l2normalize]]'s reciprocal multiply differs in the last ulp and
    * would break the value-exact mirror, so the two rules stay apart.
    */
  private[graft] def l2normalizeByDivision(v: Array[Double]): Array[Double] = {
    var n2 = 0.0; var i = 0
    while (i < v.length) { n2 += v(i) * v(i); i += 1 }
    val n = math.sqrt(n2)
    if (n > 0) v.map(_ / n) else v
  }

  /** Shared IVF front end: fit the coarse quantizer on a bounded,
    * corpus-spanning sample and assign every corpus row its cell. Returns
    * the assigned corpus (`neighbor_id`, `__cv`, `__cell`) plus the centroid
    * table (`cell`, `centroid`), the persisted index's shape, for
    * query-side probing.
    *
    * The TWO Lloyd fits in this codebase meet here: the default is the
    * byte-capped sampled LOCAL fit below (speed — one corpus pass for the
    * sample, in-memory rounds, the right trade for a coarse quantizer whose
    * cells only need to be roughly balanced); passing `centroids` plugs in
    * an external model such as [[Clustering.kmeansCentroids]]'s DISTRIBUTED
    * exact Lloyd (determinism under a full-corpus contract — k codegen'd
    * scans, value-pinned rounding, the oracle-mirrorable path). Supplied
    * centroids are L2-normalized on entry; `nlist` is ignored in favor of
    * `centroids.length`.
    */
  private[operators] def fitAssign(
      corpus: DataFrame,
      vecCol: String,
      idCol: String,
      nlist: Int,
      seed: Long,
      fitSampleBytes: Long,
      centroids: Option[Array[Array[Double]]] = None): (DataFrame, DataFrame) = {
    // null embeddings can't be assigned or fit — drop them up front (the
    // sample collect and the dim probe would otherwise NPE on one null row)
    val featured = corpus
      .select(col(idCol).cast("long").as("neighbor_id"), col(vecCol).as("__cv"))
      .where(col("__cv").isNotNull)
    val cents = centroids match {
      case Some(cs) =>
        // caller-supplied quantizer — the [[Clustering.kmeansCentroids]]
        // seam: a distributed exact Lloyd fit (or any external model)
        // replaces the sampled local fit. Normalized here so the codegen'd
        // argmax-dot cell assignment keeps its cosine semantics regardless
        // of the supplier's norm convention (Euclidean Lloyd means are not
        // unit vectors).
        require(cs.nonEmpty, "explicit centroids must be non-empty")
        require(cs.map(_.length).distinct.length == 1,
          "explicit centroids must share one dimensionality")
        cs.map(l2normalize)
      case None =>
        // hashed on the input-typed vector, sampled as array<float>
        val sample = fitSample(featured, col("__cv"), seed, vectorDim(featured, "__cv"),
            fitSampleBytes, nlist, col("__cv").cast("array<float>").as("__cv"))
          .map(_.getSeq[Float](0).toArray)
        fitCentroidsLocal(sample, nlist, iters = 8, seed = seed)
    }

    // flat row-major centroid literal + codegen'd argmax kernel: ONE
    // constant object and one static call per row. The previous shape — a
    // CreateArray of nlist·dim literal expressions walked by interpreted
    // HOFs — evaluated every literal per row and broke down past a few
    // dozen cells (10k+ expression nodes at nlist=160).
    val flatCents: Array[Double] = cents.flatten
    val assigned = featured
      .withColumn("__cell",
        graft.functions.TextFunctions.vec_argmax_dot(col("__cv"), flatCents,
          cents.head.length))

    val spark = corpus.sparkSession
    import spark.implicits._
    val centroidTable = cents.zipWithIndex
      .map { case (c, i) => (i, c.map(_.toFloat)) }.toSeq
      .toDF("cell", "centroid")
    (assigned, centroidTable)
  }

  /** The IVF entry points' argument check, made before any job runs: `k < 1`
    * would otherwise pass their first jobs (the fit, a centroid or codebook
    * read) before [[TopKAggregator]] rejects it, and `nprobe < 1` return no
    * rows.
    */
  private def requireTopK(k: Int, nprobe: Int): Unit = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
  }

  /** Query-side probe set: each query's `nprobe` nearest centroids of a
    * `(cell, centroid)` table by cosine, deterministic tie-break on cell id,
    * as `(query_id, __qv, __cell)`. The window runs over the query×nlist
    * pair table — model-sized, never the corpus.
    */
  private def probeCells(
      queries: DataFrame, centroids: DataFrame,
      vecCol: String, idCol: String, nprobe: Int): DataFrame = {
    val q = queries.select(col(idCol).cast("long").as("query_id"), col(vecCol).as("__qv"))
    val probed = q.crossJoin(broadcast(centroids))
      .withColumn("__csim", cosineSim(col("__qv"), col("centroid")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("__csim").desc, col("cell"))
    probed.withColumn("__rank", row_number().over(w))
      .where(col("__rank") <= nprobe)
      .select(col("query_id"), col("__qv"), col("cell").as("__cell"))
  }

  /** IVF (inverted-file) ANN: a cosine KMeans coarse quantizer partitions the
    * corpus into `nlist` cells; each query probes its `nprobe` nearest
    * centroids and scores exactly only within those cells. The third
    * similarity tier: brute force (exact) → IVF (high recall, ~nprobe/nlist
    * of the work) → hyperplane LSH (cheapest).
    *
    * Per call, this is [[ivfBuildIndex]] followed by [[ivfSearchIndex]]: the
    * fit runs locally on a bounded, corpus-spanning sample (seeded-hash
    * top-cap, one pass); cell assignment is a pure codegen'd expression over
    * a literal centroid array — the corpus is scanned ONCE, with no
    * fit/transform passes, no persist, and no shuffle before the probe join.
    * A small local query frame takes [[ivfSearchIndex]]'s driver path.
    */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      vecCol: String,
      idCol: String,
      k: Int,
      nlist: Int = 16,
      nprobe: Int = 4,
      seed: Long = 42L,
      fitSampleBytes: Long = 64L << 20,
      centroids: Option[Array[Array[Double]]] = None): DataFrame = {
    requireTopK(k, nprobe)
    val (assigned, cents) =
      ivfBuildIndex(corpus, vecCol, idCol, nlist, seed, fitSampleBytes, centroids)
    ivfSearchIndex(assigned, cents, queries, vecCol, idCol, k, nprobe)
  }

  /** Brute-force top-k in Johnson–Lindenstrauss-projected space: both sides
    * project through the deterministic Rademacher matrix
    * ([[graft.functions.TextKernel.vecProject]]) and rank by projected
    * cosine. At 100 TB the projection is the scan-narrowing lever ORTHOGONAL
    * to int8 quantization — outDim/dim of the vector bytes (64→16 = 4×)
    * with JL-bounded distance distortion; project once at ingest, persist
    * the narrow column, and run any retrieval tier (brute force, LSH
    * buckets, IVF cells) over it. Exact mirror in the oracle: the same ±1
    * weight family as `vec_simhash`.
    */
  def projectedTopK(
      corpus: DataFrame,
      queries: DataFrame,
      vecCol: String,
      idCol: String,
      k: Int,
      outDim: Int = 16,
      seed: Long = 42L): DataFrame = {
    import graft.functions.TextFunctions.vec_project
    val c = corpus.select(col(idCol),
      vec_project(col(vecCol), outDim, seed).as("__pv"))
    val q = queries.select(col(idCol),
      vec_project(col(vecCol), outDim, seed).as("__pv"))
    bruteForceTopK(c, q, "__pv", idCol, k)
  }

  /** Builds a PERSISTABLE IVF index: `(assigned, centroids)` as two plain
    * DataFrames — `assigned(neighbor_id, vec, q8, q8_scale, cell)` is the
    * cell-annotated corpus (float vector PLUS its normalize-then-quantize
    * int8 form, so the deployed retriever's candidate stage never touches
    * the float column), `centroids(cell, centroid)` the coarse quantizer.
    * Write both as parquet (partition `assigned` by `cell` for probe-side
    * pruning), then serve any number of query batches with
    * [[ivfSearchIndex]] (float scoring) or [[int8IvfSearchIndex]]
    * (int8 candidates × float rescore — the production path) without
    * re-fitting or re-assigning — the build-once/search-many split that
    * turns ANN at 100 TB from a per-query-batch corpus job into index-table
    * algebra. The per-call [[ivfTopK]] and [[int8IvfTopK]] are this build
    * followed by the matching search, so a persisted search reproduces them
    * value-for-value.
    */
  def ivfBuildIndex(
      corpus: DataFrame,
      vecCol: String,
      idCol: String,
      nlist: Int = 16,
      seed: Long = 42L,
      fitSampleBytes: Long = 64L << 20,
      quantizer: Option[Array[Array[Double]]] = None): (DataFrame, DataFrame) = {
    val (assigned, centroids) =
      fitAssign(corpus, vecCol, idCol, nlist, seed, fitSampleBytes, quantizer)
    val withQ = int8Prep(assigned, "__cv", "neighbor_id", "neighbor_id",
      keep = Seq("__cell", "__cv"))
    (withQ.select(col("neighbor_id"), col("__cv").as("vec"),
        col("q8"), col("q8_scale"), col("__cell").as("cell")),
      centroids)
  }

  /** Assigns NEW vectors against a persisted index's FROZEN coarse
    * quantizer and returns them in [[ivfBuildIndex]]'s `assigned` shape
    * (`neighbor_id, vec, q8, q8_scale, cell`), ready to APPEND to the
    * cell-partitioned table — the `readSince`-composed incremental-ingest
    * path: new embeddings join the index without re-fitting or touching a
    * single existing row. Freezing the quantizer is the standard IVF
    * refresh contract (cell semantics must not move under the feet of the
    * already-assigned corpus); re-train on drift and rebuild. Because
    * assignment and int8 quantization reuse [[ivfBuildIndex]]'s exact code
    * against the stored centroids, a search over base ∪ refreshed rows is
    * value-identical to a full rebuild with the same quantizer.
    */
  def ivfRefreshEntries(
      newCorpus: DataFrame,
      vecCol: String,
      idCol: String,
      centroids: DataFrame): DataFrame = {
    val cents = centroids.select(col("cell").cast("int"), col("centroid"))
      .collect()
      .map(r => r.getInt(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .sortBy(_._1)
    require(cents.nonEmpty, "refresh needs a non-empty centroid table")
    require(cents.map(_._1).toSeq == (0 until cents.length),
      s"centroid cells must be contiguous 0..${cents.length - 1}")
    ivfBuildIndex(newCorpus, vecCol, idCol, nlist = cents.length,
      quantizer = Some(cents.map(_._2)))._1
  }

  /** [[ivfRefreshEntries]] against the on-disk layout the registry queries
    * persist (`{path}/assigned` cell-partitioned parquet +
    * `{path}/centroids`): appends the new rows into their cell partitions,
    * one new file per touched cell — an append never conflicts with
    * concurrent index readers. The centroids are read with their fixed
    * (cell INT, centroid ARRAY<FLOAT>) schema, so no inference job runs.
    */
  def ivfRefreshIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      newCorpus: DataFrame,
      vecCol: String,
      idCol: String): Unit =
    ivfRefreshEntries(newCorpus, vecCol, idCol,
        spark.read.schema("cell INT, centroid ARRAY<FLOAT>").parquet(s"$path/centroids"))
      .repartition(col("cell"))
      .write.mode("append").partitionBy("cell").parquet(s"$path/assigned")

  /** Serves a query batch from a persisted [[ivfBuildIndex]] layout: probe
    * the `nprobe` nearest centroids per query, score only the probed cells'
    * rows, O(k) partial-merge top-k. With a `cell`-partitioned parquet
    * `assigned`, only the probed cells' partitions are scanned.
    * `nprobe = nlist` probes everything — exact brute-force equivalence,
    * which is how the oracle gates this path.
    *
    * A local query frame (one that optimizes to a local relation) of at
    * most 1,024 rows, with no null id or vector, is served from the driver
    * in two Spark jobs: the query rows are collected (no job), the centroid
    * table is collected (one job), each query's probes are ranked on the
    * driver with the same cosine kernel and cell-id tie rule, and one scan
    * of the probed cells (`cell IN (…)`) keeps a bounded top-k per query in
    * each task, which the driver merges in [[TopKAggregator]]'s order. That
    * result is materialized at call time and returned as a local frame with
    * the distributed plan's schema; driver memory is O(tasks × queries × k).
    * Other batches (larger, computed by a plan, or streaming) run the
    * distributed plan: a broadcast probe join and the cell equi-join. The
    * cap is the largest batch measured, not a crossover: on 4 cores the
    * driver path won at every size from 1 to 1,024 queries.
    */
  def ivfSearchIndex(
      assigned: DataFrame,
      centroids: DataFrame,
      queries: DataFrame,
      vecCol: String,
      idCol: String,
      k: Int,
      nprobe: Int = 4): DataFrame =
    ivfSearchIndex(assigned, centroids, queries, vecCol, idCol, k, nprobe, DriverQueries)

  /** Query rows up to which [[ivfSearchIndex]] serves a batch on the driver. */
  private val DriverQueries = 1024

  /** [[ivfSearchIndex]] with its driver-path cap on query rows; a cap of 0
    * forces the distributed plan.
    */
  private[graft] def ivfSearchIndex(
      assigned: DataFrame,
      centroids: DataFrame,
      queries: DataFrame,
      vecCol: String,
      idCol: String,
      k: Int,
      nprobe: Int,
      driverQueries: Int): DataFrame = {
    requireTopK(k, nprobe)
    val q = queries.select(col(idCol).cast("long").as("query_id"),
      col(vecCol).cast("array<double>").as("__qv"))
    // only a local query frame is served on the driver: collecting it runs no job
    val batch =
      if (queries.isStreaming || driverQueries < 1) None
      else q.queryExecution.optimizedPlan match {
        case l: LocalRelation if l.data.length <= driverQueries =>
          Some(q.collect()).filter(_.forall(r => !r.anyNull))
        case _ => None
      }
    batch match {
      case Some(rows) =>
        val spark = queries.sparkSession
        val scored = StructType(Seq(q.schema("query_id"),
          StructField("neighbor_id", LongType), StructField("cosine", DoubleType)))
        val schema = topkColumns(spark.createDataFrame(java.util.List.of[Row](), scored), k).schema
        spark.createDataFrame(
          java.util.Arrays.asList(searchOnDriver(assigned, centroids, rows, k, nprobe): _*), schema)
      case None =>
        val a = assigned.select(col("neighbor_id"), col("vec").as("__cv"),
          col("cell").as("__cell"))
        val probes = probeCells(queries, centroids, vecCol, idCol, nprobe)
        val scored = a.join(probes, Seq("__cell"))
          .withColumn("cosine", cosineSim(col("__qv"), col("__cv")))
        topkColumns(scored, k)
    }
  }

  /** [[ivfSearchIndex]]'s driver path over collected (query_id, __qv) rows:
    * (query_id, neighbor_id, cosine) rows, top `k` per query id.
    */
  private def searchOnDriver(assigned: DataFrame, centroids: DataFrame, queries: Array[Row],
      k: Int, nprobe: Int): Array[Row] = {
    import graft.functions.TextKernel.vecCosine
    import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
    import org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles
    def vector(r: Row, i: Int) = r.getSeq[Double](i).toArray
    // the ≤ nlist-row quantizer model, one job
    val cents = centroids.select(col("cell").cast("int"), col("centroid").cast("array<double>"))
      .collect().map(r => (r.getInt(0), UnsafeArrayData.fromPrimitiveArray(vector(r, 1))))
    val qvs = queries.map(r => UnsafeArrayData.fromPrimitiveArray(vector(r, 1)))
    // probeCells' window: per query id (a repeated id shares one window), the
    // nprobe best (vector, cell) pairs by cosine descending in SQL order,
    // then cell id
    val byQuery = queries.indices.groupBy(queries(_).getLong(0))
    val byCell = byQuery.values.toSeq.flatMap { qis =>
      qis.flatMap(qi => cents.map { case (cell, c) => (vecCosine(qvs(qi), c), cell, qi) })
        .sortWith { (a, b) =>
          val o = compareDoubles(b._1, a._1)
          o < 0 || (o == 0 && a._2 < b._2)
        }
        .take(nprobe).map(p => p._2 -> p._3)
    }.groupMap(_._1)(_._2)
    if (byCell.isEmpty) return Array.empty
    val scan = assigned.where(col("cell").isin(byCell.keys.toSeq.sorted: _*))
      .select(col("neighbor_id").cast("long"), col("vec").cast("array<double>"),
        col("cell").cast("int"))
    val qe = scan.queryExecution
    // one job: each task keeps a bounded top-k per query over its rows
    val partials: Array[Array[Array[(Long, Double)]]] =
      org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(qe, Some("collect")) {
        qe.toRdd.mapPartitions { rows =>
          val tops = Array.fill(qvs.length)(
            scala.collection.mutable.PriorityQueue.empty[(Long, Double)](topKOrder))
          rows.foreach { r =>
            if (!r.isNullAt(1)) byCell.get(r.getInt(2)).foreach(_.foreach { qi =>
              val x = (r.getLong(0), vecCosine(qvs(qi), r.getArray(1)))
              val top = tops(qi)
              if (top.size < k) top.enqueue(x)
              else if (topKOrder.lt(x, top.head)) { top.dequeue(); top.enqueue(x) }
            })
          }
          Iterator(tops.map(_.toArray))
        }.collect()
      }
    byQuery.toArray.flatMap { case (qid, qis) =>
      val hits = for (qi <- qis; part <- partials.toSeq; x <- part(qi).toSeq) yield x
      hits.sorted(topKOrder).take(k).map { case (id, cos) => Row(qid, id, cos) }
    }
  }

  /** Serves a query batch from a persisted [[ivfBuildIndex]] layout with the
    * composed production retriever: IVF cell pruning × int8 candidate
    * scoring × exact float rescore, without fit/quantize passes, because
    * the index already stores `(q8, q8_scale)`.
    *
    * Scan shape against the persisted parquet: the candidate stage reads
    * ONLY `(neighbor_id, cell, q8, q8_scale)` — the float `vec` column is
    * pruned out of the scan (4× narrower than float32); the rescore stage
    * reads `(neighbor_id, vec)` for just the survivor rows (a broadcast
    * semi-pattern join, so only survivor row-groups pay the wide read).
    * With a `cell`-partitioned layout the broadcast probe join prunes
    * unprobed cell partitions at the scan. `nprobe = nlist` makes the
    * candidate stage deterministically the int8 prefilter (the
    * [[int8IvfTopK]] oracle mirror); `nprobe < nlist` is the production ANN
    * configuration.
    */
  def int8IvfSearchIndex(
      assigned: DataFrame,
      centroids: DataFrame,
      queries: DataFrame,
      vecCol: String,
      idCol: String,
      k: Int,
      nprobe: Int = 4,
      rescore: Int = 4): DataFrame = {
    requireTopK(k, nprobe)
    val narrow = assigned.select(col("neighbor_id"), col("cell").as("__cell"),
      col("q8").as("__cq"), col("q8_scale").as("__cs"))
    val qq = int8Prep(queries, vecCol, idCol, "query_id")
      .select(col("query_id"), col("q8").as("__qq"), col("q8_scale").as("__qs"))
    val probes = probeCells(queries, centroids, vecCol, idCol, nprobe)
      .select("query_id", "__cell")
      .join(broadcast(qq), Seq("query_id"))
    val candScored = narrow.join(broadcast(probes), Seq("__cell"))
      .withColumn("cosine", int8Dot(col("__qq"), col("__qs"), col("__cq"), col("__cs")))
    // exact rescore against the index's own float column — only survivor
    // rows (model-sized broadcast) touch the wide vec read
    rescoreExact(candScored, rescore, k, indexCorpus(assigned, vecCol, idCol), queries,
      vecCol, idCol)
  }

  /** The composed 100 TB retrieval path: IVF cell pruning × int8 candidate
    * scoring × exact float rescore of the survivors. Per call, this is
    * [[ivfBuildIndex]] followed by [[int8IvfSearchIndex]].
    *
    * Stage shape, in corpus-scan terms:
    *   1. cell assignment (one corpus pass, codegen'd argmax over the
    *      literal centroid matrix — same front end as [[ivfTopK]]);
    *   2. candidate generation reads a NARROW projection of the probed
    *      cells — (id, cell, int8 vector, scale), 4× smaller than float32
    *      and 8× smaller than the double intermediates; the float column is
    *      NOT in the candidate rows. Scoring is the exact integer dot;
    *      the per-query top-`rescore·k` survivors come out of the same O(k)
    *      partial-merge aggregator as every other top-k here (no window
    *      over the candidate space).
    *   3. exact rescore: the survivor list (queries × rescore·k rows —
    *      model-sized) is broadcast back against the index's float column
    *      (the corpus vectors minus null rows, which are never survivors),
    *      so the wide column is touched for only the survivors, and the
    *      final top-k ranks by TRUE cosine.
    *
    * With `nprobe = nlist` and `rescore·k ≥ |corpus|` this is exactly
    * [[bruteForceTopK]]; with `nprobe = nlist` and a finite rescore it is
    * deterministically the int8-prefilter algorithm (mirrored value-exact
    * by the DuckDB oracle); with `nprobe < nlist` it is the production ANN
    * configuration (recall measured in SimilaritySpec).
    */
  def int8IvfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      vecCol: String,
      idCol: String,
      k: Int,
      nlist: Int = 16,
      nprobe: Int = 4,
      rescore: Int = 4,
      seed: Long = 42L,
      fitSampleBytes: Long = 64L << 20,
      quantizer: Option[Array[Array[Double]]] = None): DataFrame = {
    requireTopK(k, nprobe)
    val (assigned, centroids) =
      ivfBuildIndex(corpus, vecCol, idCol, nlist, seed, fitSampleBytes, quantizer)
    int8IvfSearchIndex(assigned, centroids, queries, vecCol, idCol, k, nprobe, rescore)
  }

  /** Matryoshka truncated-prefix retrieval (MRL, Kusupati et al. 2022 —
    * public literature): candidate generation scores cosine on only the
    * FIRST `dims` components (matryoshka-trained embeddings front-load
    * information, so the prefix is itself a usable embedding), then the
    * top `rescore·k` survivors per query get an exact full-dimension
    * rescore. In deployment the truncated prefix is a STORED narrow column
    * (dims/D of the float bytes — the same memory lever as
    * [[quantizeInt8]], composable with it); this operator slices inline so
    * any corpus can run it, and the candidate stage still touches only the
    * sliced values.
    */
  def matryoshkaTopK(
      corpus: DataFrame,
      queries: DataFrame,
      vecCol: String,
      idCol: String,
      k: Int,
      dims: Int,
      rescore: Int = 4): DataFrame = {
    require(dims >= 1, "dims must be >= 1")
    require(rescore >= 1, "rescore must be >= 1")
    val c = corpus.select(col(idCol).cast("long").as("neighbor_id"),
      slice(col(vecCol).cast("array<double>"), 1, dims).as("__cv"))
    val q = queries.select(col(idCol).cast("long").as("query_id"),
      slice(col(vecCol).cast("array<double>"), 1, dims).as("__qv"))
    val scored = c.crossJoin(broadcast(q))
      .withColumn("cosine", cosineSim(col("__qv"), col("__cv")))
    rescoreExact(scored, rescore, k, corpus, queries, vecCol, idCol)
  }

  /** A persisted index's float column as a corpus for [[rescoreExact]]. */
  private def indexCorpus(assigned: DataFrame, vecCol: String, idCol: String): DataFrame =
    assigned.select(col("neighbor_id").as(idCol), col("vec").as(vecCol))

  /** The candidates → survivors → exact-rescore tail of every two-stage
    * retriever here: the top `max(k, rescore·k)` candidates per query by
    * their first-stage `cosine` survive; the (query, neighbor) survivor
    * pairs are model-sized, so they are broadcast onto the corpus, the wide
    * float column is read only where it matters, and the final top-k ranks
    * by TRUE cosine.
    */
  private def rescoreExact(candidates: DataFrame, rescore: Int, k: Int, corpus: DataFrame,
      queries: DataFrame, vecCol: String, idCol: String): DataFrame = {
    val survivors = topkColumns(candidates, math.max(k, rescore * k))
      .select("query_id", "neighbor_id")
    val qFloat = queries.select(col(idCol).cast("long").as("query_id"), col(vecCol).as("__qv"))
    val rescored = corpus
      .select(col(idCol).cast("long").as("neighbor_id"), col(vecCol).as("__cv"))
      .join(broadcast(survivors), Seq("neighbor_id"))
      .join(broadcast(qFloat), Seq("query_id"))
      .withColumn("cosine", cosineSim(col("__qv"), col("__cv")))
    topkColumns(rescored, k)
  }

  /** LSH × int8 × float rescore — [[lshTopK]]'s bucket-join candidate
    * generation with [[int8IvfTopK]]'s narrow scoring and exact final
    * ranking. Buckets come from the float vector (one pass computes sketch
    * AND quantization, then the float column is DROPPED); candidates carry
    * only (id, table, bucket, int8, scale); the int8 integer dot picks the
    * top `rescore·k` per query and the true-cosine rescore ranks the final
    * k. Unlike IVF there is no fit action — fully lazy, the cheapest
    * composed tier.
    */
  def int8LshTopK(
      corpus: DataFrame,
      queries: DataFrame,
      vecCol: String,
      idCol: String,
      k: Int,
      tables: Int = 8,
      planes: Int = 12,
      rescore: Int = 4): DataFrame = {
    def prep(df: DataFrame, id: String) = {
      val base = df.select(col(idCol).cast("long").as(id), col(vecCol).as("__v0"))
      int8Prep(base, "__v0", id, id, keep = Seq("__v0"))
        .select(col(id), col("__v0"), col("q8"), col("q8_scale"))
        .withColumn("__table", explode(sequence(lit(0), lit(tables - 1))))
        .withColumn("__bucket",
          xxhash64(col("__table"), vec_simhash(col("__v0"), planes, col("__table"))))
        .drop("__v0")
    }
    val c = prep(corpus, "neighbor_id")
      .withColumnRenamed("q8", "__cq").withColumnRenamed("q8_scale", "__cs")
    val q = prep(queries, "query_id")
      .withColumnRenamed("q8", "__qq").withColumnRenamed("q8_scale", "__qs")
    val cands = c.join(q, Seq("__table", "__bucket"))
      .select("query_id", "neighbor_id", "__qq", "__qs", "__cq", "__cs")
      .dropDuplicates("query_id", "neighbor_id")
    val candScored = cands
      .withColumn("cosine", int8Dot(col("__qq"), col("__qs"), col("__cq"), col("__cs")))
    rescoreExact(candScored, rescore, k, corpus, queries, vecCol, idCol)
  }

  /** LSH-bucketed ANN (the scale path): `tables` independent random-hyperplane
    * sketch tables; a corpus row is scored only when it shares a bucket with
    * the query in some table. Join is hash-partitioned on the bucket key —
    * no cross join, no broadcast requirement on either side. Recall is tuned
    * by (tables, planes); verify pass is exact cosine.
    */
  def lshTopK(
      corpus: DataFrame,
      queries: DataFrame,
      vecCol: String,
      idCol: String,
      k: Int,
      tables: Int = 8,
      planes: Int = 12): DataFrame = {
    def bucketed(df: DataFrame, id: String, vec: String) = df
      .select(col(idCol).cast("long").as(id), col(vecCol).as(vec))
      .withColumn("__table", explode(sequence(lit(0), lit(tables - 1))))
      .withColumn("__bucket", xxhash64(col("__table"), vec_simhash(col(vec), planes, col("__table"))))
    val c = bucketed(corpus, "neighbor_id", "__cv")
    val q = bucketed(queries, "query_id", "__qv")
    val cands = c.join(q, Seq("__table", "__bucket"))
      .select("query_id", "neighbor_id", "__qv", "__cv")
      .dropDuplicates("query_id", "neighbor_id")
    val scored = cands.withColumn("cosine", cosineSim(col("__qv"), col("__cv")))
    topkColumns(scored, k)
  }

  // ---- product quantization -----------------------------------------------

  /** Deterministic sample-init PQ codebook: the `ksub` lowest-id vectors,
    * L2-normalized, sliced into `m` subvectors — the SQL-mirrorable quantizer
    * seam (random-sample codebooks are the standard PQ init; Jégou et al.
    * 2011). Returns the flat row-major (subspace, code) layout
    * [[pqTopK]]/[[ivfPqTopK]] consume; the TRAINED twin is
    * [[pqTrainCodebooks]]. Bounded collect: exactly `ksub` rows.
    */
  def pqSampleCodebooks(
      corpus: DataFrame, vecCol: String, idCol: String, m: Int, ksub: Int,
      center: Option[Array[Double]] = None): Array[Double] = {
    require(m >= 1 && ksub >= 1, "m and ksub must be >= 1")
    val rows = corpus
      .select(col(idCol).cast("long").as("__id"), col(vecCol).cast("array<double>").as("__v"))
      .where(col("__v").isNotNull)
      .orderBy("__id").limit(ksub).collect()
    require(rows.length == ksub, s"sample codebook needs >= $ksub corpus rows, got ${rows.length}")
    // normalized by division: the oracle mirrors this codebook value-exactly
    val normed = rows.map(r => l2normalizeByDivision(r.getSeq[Double](1).toArray))
    // optional RESIDUAL seam: subtract a fixed center (the coarse centroid,
    // float32-rounded exactly as fitAssign stores it) so the sample-init
    // codebook lives in residual space — the ivfPqTopK(residual = true)
    // nlist=1 degenerate case this makes SQL-mirrorable end-to-end
    val samples = center match {
      case Some(ctr) =>
        normed.map(v => Array.tabulate(v.length)(j => v(j) - ctr(j)))
      case None => normed
    }
    val dim = samples(0).length
    require(dim % m == 0, s"dim $dim must divide into $m subspaces")
    val dsub = dim / m
    val flat = new Array[Double](m * ksub * dsub)
    for (s <- 0 until m; c <- 0 until ksub; j <- 0 until dsub)
      flat((s * ksub + c) * dsub + j) = samples(c)(s * dsub + j)
    flat
  }

  /** Per-subspace Lloyd-trained PQ codebooks on a bounded, corpus-spanning
    * sample (the same seeded content-hash draw as the IVF fit — a bare
    * limit() would fit whichever shard sorts first). Plain squared-L2 Lloyd
    * per subspace over the L2-NORMALIZED sample, empty cells keep their old
    * centroid, deterministic throughout. Training quality (recall vs brute
    * force) is SimilaritySpec's concern, like every nprobe < nlist path.
    */
  def pqTrainCodebooks(
      corpus: DataFrame,
      vecCol: String,
      m: Int,
      ksub: Int,
      iters: Int = 8,
      seed: Long = 42L,
      fitSampleBytes: Long = 64L << 20): Array[Double] = {
    require(m >= 1 && ksub >= 2 && iters >= 1, "m >= 1, ksub >= 2, iters >= 1 required")
    val featured = corpus.select(col(vecCol).cast("array<float>").as("__cv"))
      .where(col("__cv").isNotNull)
    val dim = vectorDim(featured, "__cv")
    require(dim > 0 && dim % m == 0, s"dim $dim must divide into $m subspaces")
    // hashed on the array<float> cast
    val sample = fitSample(featured, col("__cv"), seed, dim, fitSampleBytes, ksub, col("__cv"))
      .map(r => l2normalize(r.getSeq[Float](0).map(_.toDouble).toArray))
    require(sample.nonEmpty, "empty training sample")
    fitSubspaces(sample, m, ksub, iters, dim / m)
  }

  /** Per-subspace squared-L2 Lloyd on an in-memory sample — the shared
    * trainer behind [[pqTrainCodebooks]] (plain vectors) and the residual
    * codebooks of [[ivfPqTopK]]`(residual = true)` (vector − coarse
    * centroid). Init = ksub evenly spaced sample subvectors (the seeded
    * hash order already spans the corpus); duplicates are harmless — Lloyd
    * separates them or the empty-cell rule freezes one. Deterministic.
    */
  private def fitSubspaces(
      sample: Array[Array[Double]], m: Int, ksub: Int, iters: Int, dsub: Int): Array[Double] = {
    val flat = new Array[Double](m * ksub * dsub)
    var s = 0
    while (s < m) {
      val sub = sample.map(v => java.util.Arrays.copyOfRange(v, s * dsub, (s + 1) * dsub))
      var cents = Array.tabulate(ksub)(c => sub(((c.toLong * sub.length) / ksub).toInt).clone())
      var it = 0
      while (it < iters) {
        val sums = Array.fill(ksub)(new Array[Double](dsub))
        val counts = new Array[Long](ksub)
        sub.foreach { v =>
          var best = 0; var bestD = Double.PositiveInfinity
          var c = 0
          while (c < ksub) {
            var d2 = 0.0; var j = 0
            while (j < dsub) { val d = v(j) - cents(c)(j); d2 += d * d; j += 1 }
            if (d2 < bestD) { bestD = d2; best = c }
            c += 1
          }
          var j = 0
          while (j < dsub) { sums(best)(j) += v(j); j += 1 }
          counts(best) += 1
        }
        cents = Array.tabulate(ksub)(c =>
          if (counts(c) == 0) cents(c)
          else sums(c).map(_ / counts(c)))
        it += 1
      }
      var c = 0
      while (c < ksub) {
        System.arraycopy(cents(c), 0, flat, (s * ksub + c) * dsub, dsub)
        c += 1
      }
      s += 1
    }
    flat
  }

  /** Product-quantized retrieval (PQ-ADC): the corpus compresses to `m`
    * one-byte codes per vector (64-dim float32 → 8 bytes = 32× smaller; the
    * memory tier BELOW int8's 4×), each query precomputes an m·ksub lookup
    * table once, and the per-pair score is m lookups + adds — all codegen'd
    * kernels. With `rescore = 0` the ADC approximation IS the score (column
    * `score`, the oracle-gated path); with `rescore > 0` the top rescore·k
    * ADC survivors get the exact float rescore (column `cosine`) — the
    * deployed shape, where the float column is touched only for survivors.
    * Codebooks come from the explicit seam ([[pqSampleCodebooks]] /
    * [[pqTrainCodebooks]] / any external fit); `None` trains in place.
    */
  def pqTopK(
      corpus: DataFrame,
      queries: DataFrame,
      vecCol: String,
      idCol: String,
      k: Int,
      m: Int = 8,
      ksub: Int = 16,
      rescore: Int = 0,
      codebooks: Option[Array[Double]] = None,
      seed: Long = 42L): DataFrame = {
    require(k >= 1 && rescore >= 0, "k >= 1 and rescore >= 0 required")
    val flatCb = codebooks.getOrElse(pqTrainCodebooks(corpus, vecCol, m, ksub, seed = seed))
    require(flatCb.length % (m * ksub) == 0,
      s"codebook length ${flatCb.length} must be m*ksub*dsub for m=$m ksub=$ksub")
    val dsub = flatCb.length / (m * ksub)
    val c = l2Prep(corpus, vecCol, idCol, "neighbor_id")
      .select(col("neighbor_id"),
        vec_pq_encode(col("__nv"), flatCb, dsub, ksub).as("__code"))
    val q = l2Prep(queries, vecCol, idCol, "query_id")
      .select(col("query_id"),
        vec_pq_lut(col("__nv"), flatCb, dsub, ksub).as("__lut"))
    val scored = c.crossJoin(broadcast(q))
      .withColumn("cosine", pq_adc(col("__lut"), col("__code"), ksub))
    if (rescore == 0) topkColumns(scored, k).withColumnRenamed("cosine", "score")
    else rescoreExact(scored, rescore, k, corpus, queries, vecCol, idCol)
  }

  /** IVF × PQ × float rescore — the FAISS-IVFPQ shape. Without residual
    * encoding, this is [[ivfPqBuildIndex]] followed by [[ivfPqSearchIndex]]:
    * codes quantize the vector itself, so the PQ stage is independent of the
    * coarse quantizer and `nprobe = nlist` reduces EXACTLY to [[pqTopK]]'s
    * rescore path, which is how the oracle gates it. Candidate rows carry
    * only (id, cell, m-byte code): at 100 TB the probed-cell scan reads 32×
    * fewer vector bytes than float32, the ADC loop is m adds per pair, and
    * the float column is read only for the rescore survivors. With
    * `residual = true` the codes quantize the residual against the cell's
    * centroid instead (below), which has no index twin.
    */
  def ivfPqTopK(
      corpus: DataFrame,
      queries: DataFrame,
      vecCol: String,
      idCol: String,
      k: Int,
      nlist: Int = 16,
      nprobe: Int = 4,
      m: Int = 8,
      ksub: Int = 16,
      rescore: Int = 4,
      seed: Long = 42L,
      fitSampleBytes: Long = 64L << 20,
      codebooks: Option[Array[Double]] = None,
      quantizer: Option[Array[Array[Double]]] = None,
      residual: Boolean = false): DataFrame = {
    require(rescore >= 1, "ivfPqTopK always rescores: rescore >= 1 required")
    requireTopK(k, nprobe)
    if (!residual) {
      val (assigned, centroids, codebook) = ivfPqBuildIndex(corpus, vecCol, idCol, nlist, m, ksub,
        seed, fitSampleBytes, codebooks, quantizer)
      return ivfPqSearchIndex(assigned, centroids, codebook, queries, vecCol, idCol, k, nprobe,
        rescore)
    }
    // RESIDUAL encoding (the FAISS-IVFPQ default): codes quantize
    // (x̂ − c_cell) — residuals are tighter-clustered than raw vectors, so
    // the same m·ksub budget reconstructs with less error and first-stage
    // ranking sharpens. Score decomposes as
    //   dot(q̂, x̂) ≈ dot(q̂, c) + dot(q̂, decode(code))
    // with term 1 the true UNNORMALIZED dot against the probed cell's
    // centroid (computed below — the probe's cosine would be off by the
    // per-cell factor |c| and bias candidate ranking across cells) and
    // term 2 the SAME global ADC lookup table — per-pair cost stays m
    // lookups + adds. With a TRAINED coarse quantizer this variant has no
    // exact SQL mirror; the spec gates it (full probe + full rescore ≡
    // brute force, residual codebooks beat plain ones on reconstruction
    // error), and the nlist=1 EXPLICIT-quantizer degenerate case — where
    // the residual is (x̂ − c₀) with a literal c₀ — is oracled end-to-end
    // as sim_ivf_pq_residual.
    val (assigned, centroids) =
      fitAssign(corpus, vecCol, idCol, nlist, seed, fitSampleBytes, quantizer)
    val cmap = centroids.select(col("cell").cast("int"), col("centroid"))
      .collect() // bounded: the ≤nlist-row quantizer model
      .map(r => r.getInt(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val prep = l2Prep(assigned, "__cv", "neighbor_id", "neighbor_id",
      keep = Seq("__cell", "__cv"))
    val flatCb = codebooks.getOrElse {
      val dim = cmap.head._2.length
      // hashed on the input-typed vector
      val sample = fitSample(prep, col("__cv"), seed, dim, fitSampleBytes, ksub,
          col("__nv"), col("__cell")).map { r =>
        val v = r.getSeq[Double](0).toArray
        val c = cmap(r.getInt(1))
        Array.tabulate(v.length)(j => v(j) - c(j))
      }
      require(sample.nonEmpty, "empty residual training sample")
      require(dim % m == 0, s"dim $dim must divide into $m subspaces")
      fitSubspaces(sample, m, ksub, iters = 8, dsub = dim / m)
    }
    val dsub = flatCb.length / (m * ksub)
    val cents = centroids.select(col("cell").as("__cell"),
      col("centroid").cast("array<double>").as("__cd"))
    val narrow = prep
      .join(broadcast(cents), Seq("__cell"))
      .withColumn("__res", zip_with(col("__nv"), col("__cd"), (a, b) => a - b))
      .select(col("neighbor_id"), col("__cell"),
        vec_pq_encode(col("__res"), flatCb, dsub, ksub).as("__code"))
    val qn = l2Prep(queries, vecCol, idCol, "query_id")
      .select(col("query_id"), col("__nv"))
    val qlut = qn.select(col("query_id"),
      vec_pq_lut(col("__nv"), flatCb, dsub, ksub).as("__lut"))
    // rode-along term: dot(q̂, c) with the UNNORMALIZED centroid — the exact
    // first term of the decomposition (a left-to-right fold, the mirrorable
    // list_sum shape). Model-sized: queries × nprobe rows.
    val probes = probeCells(queries, centroids, vecCol, idCol, nprobe)
      .select("query_id", "__cell")
      .join(broadcast(cents), Seq("__cell"))
      .join(broadcast(qn), Seq("query_id"))
      .withColumn("__dotqc",
        aggregate(zip_with(col("__nv"), col("__cd"), (a, b) => a * b),
          lit(0.0), (acc, x) => acc + x))
      .select("query_id", "__cell", "__dotqc")
      .join(broadcast(qlut), Seq("query_id"))
    val candScored = narrow.join(broadcast(probes), Seq("__cell"))
      .withColumn("cosine", col("__dotqc") + pq_adc(col("__lut"), col("__code"), ksub))
    rescoreExact(candScored, rescore, k, corpus, queries, vecCol, idCol)
  }

  /** Builds the PERSISTABLE IVF-PQ index: `assigned(neighbor_id, vec,
    * pq_code, cell)` (float vector kept for the rescore stage, next to its
    * m-byte code), `centroids(cell, centroid)`, and a one-row
    * `codebook(dsub, ksub, cb)` table carrying the flat codebook — write all
    * three as parquet (partition `assigned` by `cell`), serve with
    * [[ivfPqSearchIndex]]. The candidate stage of the search reads ONLY
    * `(neighbor_id, cell, pq_code)` — 32× narrower than the float column it
    * never touches.
    */
  def ivfPqBuildIndex(
      corpus: DataFrame,
      vecCol: String,
      idCol: String,
      nlist: Int = 16,
      m: Int = 8,
      ksub: Int = 16,
      seed: Long = 42L,
      fitSampleBytes: Long = 64L << 20,
      codebooks: Option[Array[Double]] = None,
      quantizer: Option[Array[Array[Double]]] = None): (DataFrame, DataFrame, DataFrame) = {
    val (assigned, centroids) =
      fitAssign(corpus, vecCol, idCol, nlist, seed, fitSampleBytes, quantizer)
    val flatCb = codebooks.getOrElse(pqTrainCodebooks(corpus, vecCol, m, ksub, seed = seed))
    val dsub = flatCb.length / (m * ksub)
    val withCode = l2Prep(assigned, "__cv", "neighbor_id", "neighbor_id",
        keep = Seq("__cell", "__cv"))
      .select(col("neighbor_id"), col("__cv").as("vec"),
        vec_pq_encode(col("__nv"), flatCb, dsub, ksub).as("pq_code"),
        col("__cell").as("cell"))
    val spark = corpus.sparkSession
    import spark.implicits._
    val cbDf = Seq((dsub, ksub, flatCb.toSeq)).toDF("dsub", "ksub", "cb")
    (withCode, centroids, cbDf)
  }

  /** Serves a query batch from a persisted [[ivfPqBuildIndex]] layout: probe
    * cells, ADC-score only the probed cells' (id, cell, pq_code) rows, exact
    * float rescore of the top rescore·k survivors against the index's own
    * `vec` column. `nprobe = nlist` reduces exactly to [[pqTopK]]'s rescore
    * path (the oracle gate); `nprobe < nlist` is the production ANN
    * configuration. The codebook fetch is one row.
    */
  def ivfPqSearchIndex(
      assigned: DataFrame,
      centroids: DataFrame,
      codebook: DataFrame,
      queries: DataFrame,
      vecCol: String,
      idCol: String,
      k: Int,
      nprobe: Int = 4,
      rescore: Int = 4): DataFrame = {
    requireTopK(k, nprobe)
    val cbRow = codebook.select(col("dsub").cast("int"), col("ksub").cast("int"), col("cb"))
      .head() // bounded: the one-row codebook table
    val dsub = cbRow.getInt(0); val ksub = cbRow.getInt(1)
    val flatCb = cbRow.getSeq[Double](2).toArray
    val narrow = assigned.select(col("neighbor_id"), col("cell").as("__cell"),
      col("pq_code").as("__code"))
    val qlut = l2Prep(queries, vecCol, idCol, "query_id")
      .select(col("query_id"), vec_pq_lut(col("__nv"), flatCb, dsub, ksub).as("__lut"))
    val probes = probeCells(queries, centroids, vecCol, idCol, nprobe)
      .select("query_id", "__cell")
      .join(broadcast(qlut), Seq("query_id"))
    val candScored = narrow.join(broadcast(probes), Seq("__cell"))
      .withColumn("cosine", pq_adc(col("__lut"), col("__code"), ksub))
    rescoreExact(candScored, rescore, k, indexCorpus(assigned, vecCol, idCol), queries,
      vecCol, idCol)
  }

  /** Per-group mean-pooled embeddings — the standard long-document /
    * cluster-centroid recipe (chunk embeddings → one document vector;
    * label members → one class prototype). Declarative scale shape: the
    * vectors posexplode to (group, dim) keys, the mean is one
    * map-side-combined aggregation, and the components reassemble sorted —
    * the shuffle moves (group · dim) doubles, never whole vectors, and no
    * executor holds more than its hash range.
    */
  def poolVectors(df: DataFrame, groupCol: String, vecCol: String,
      out: String = "pooled"): DataFrame =
    df.select(col(groupCol).as("__g"),
        posexplode(col(vecCol).cast("array<double>")).as(Seq("__i", "__x")))
      .groupBy("__g", "__i").agg(avg("__x").as("__m"))
      .groupBy("__g")
      .agg(transform(array_sort(collect_list(struct(col("__i"), col("__m")))),
        s => s("__m")).as(out))
      .withColumnRenamed("__g", groupCol)

  /** Hard-negative mining for contrastive training: per query, the top-k
    * most-similar corpus rows with a DIFFERENT label — the near-misses an
    * embedding model learns the most from (the mined-negatives recipe of
    * DPR / ANCE, public literature; in-batch negatives are easy, mined ones
    * are hard). Same broadcast-query / O(k) partial-merge shape as
    * [[bruteForceTopK]] with the label-mismatch predicate fused into the
    * scan (codegen'd, filters BEFORE scoring); swap the cross join for any
    * ANN candidate tier upstream when the corpus is 100 TB.
    */
  def hardNegatives(
      corpus: DataFrame,
      queries: DataFrame,
      vecCol: String,
      idCol: String,
      labelCol: String,
      k: Int): DataFrame = {
    val c = corpus.select(col(idCol).cast("long").as("neighbor_id"),
      col(labelCol).as("__cl"), col(vecCol).as("__cv"))
    val q = queries.select(col(idCol).cast("long").as("query_id"),
      col(labelCol).as("__ql"), col(vecCol).as("__qv"))
    val scored = c.crossJoin(broadcast(q))
      .where(!(col("__cl") <=> col("__ql"))) // null labels never "match"
      .withColumn("cosine", cosineSim(col("__qv"), col("__cv")))
    topkColumns(scored, k)
  }

  /** First-stage ANN serving over a query STREAM from a persisted
    * [[ivfBuildIndex]] layout — the stream-static retrieval pattern
    * ("queries arrive as a stream, the index is the table"):
    *
    *   - probe-cell selection is a per-row STATELESS projection: the
    *     ≤nlist-row centroid model rides the plan as literals
    *     (assignClusters' convention — no stream-side join, no window),
    *     ranked by `sort_array` on (−cosine, cell), the exact tie rule of
    *     the batch `probeCells`;
    *   - candidates come from a stream-static equi-join on `cell` against
    *     the index's NARROW `(neighbor_id, cell, q8, q8_scale)` projection —
    *     the float column is never scanned; with a cell-partitioned index
    *     the join prunes unprobed partitions per micro-batch;
    *   - scoring is the exact int8 integer dot (query quantized by the same
    *     stateless normalize-then-quantize expressions as the batch path);
    *   - per-query top-k is the O(k) partial-merge [[TopKAggregator]] as a
    *     streaming aggregation: run with Update output mode (per-query rows
    *     refine as late candidates arrive in later micro-batches).
    *
    * Emits `(query_id, neighbor_id, score)` — the int8 FIRST-STAGE scores;
    * the exact float rescore of k survivors per query is model-sized and
    * belongs downstream (a batch [[rescoreExact]] pass or the serving
    * layer), exactly as in the deployed [[int8IvfSearchIndex]] split.
    * Works unchanged on a batch frame (the spec's parity oracle).
    */
  def int8IvfServeStream(
      queries: DataFrame,
      assigned: DataFrame,
      centroids: DataFrame,
      vecCol: String,
      idCol: String,
      k: Int,
      nprobe: Int = 4): DataFrame = {
    requireTopK(k, nprobe)
    val cents = centroids.select(col("cell").cast("int"), col("centroid"))
      .collect() // bounded: the ≤nlist-row quantizer model
      .map(r => (r.getInt(0), r.getSeq[Float](1).map(_.toDouble).toArray))
      .sortBy(_._1)
    require(cents.nonEmpty, "serving needs a non-empty centroid table")
    require(cents.length <= 256,
      "centroids ride the plan as literals: nlist must be <= 256 for serving")
    val np = math.min(nprobe, cents.length)
    val entries = cents.map { case (cell, c) =>
      struct((-cosineSim(col("__qv"), typedLit(c.toSeq))).as("negsim"),
        lit(cell).as("cell"))
    }
    val prepped = int8Prep(queries, vecCol, idCol, "query_id", keep = Nil)
      .select(col("query_id"), col("__vd").as("__qv"),
        col("q8").as("__qq"), col("q8_scale").as("__qs"))
      .withColumn("__cell",
        explode(slice(sort_array(array(entries.toIndexedSeq: _*)), 1, np)("cell")))
      .drop("__qv")
    val narrow = assigned.select(col("neighbor_id"), col("cell").as("__cell"),
      col("q8").as("__cq"), col("q8_scale").as("__cs"))
    val scored = prepped.join(narrow, Seq("__cell"))
      .withColumn("cosine", int8Dot(col("__qq"), col("__qs"), col("__cq"), col("__cs")))
    topkColumns(scored, k).withColumnRenamed("cosine", "score")
  }

  // ---- binary (sign-bit) quantization ---------------------------------------

  /** Adds a one-long sign-bit sketch column (bit j set iff vec[j] > 0,
    * dim ≤ 64) — the 1-bit quantization tier: 32× smaller than float32,
    * Hamming distance is one xor + popcount. Training-free and fully
    * deterministic, so the whole retrieval path mirrors exactly in SQL.
    */
  def bitQuantize(df: DataFrame, vecCol: String, bitsCol: String = "bits"): DataFrame =
    df.withColumn(bitsCol, vec_sign_bits(col(vecCol)))

  /** Hamming-candidate retrieval over sign-bit sketches: candidates are the
    * top rescore·k per query by (Hamming asc, id asc) — one xor + popcount
    * per pair over broadcast query sketches, the corpus side scanning ONE
    * long per row — then the exact float rescore ranks the final k by true
    * cosine. The cheapest candidate tier here (no fit, no codebook, 1-bit);
    * recall vs brute force is SimilaritySpec's concern.
    */
  def hammingTopK(
      corpus: DataFrame,
      queries: DataFrame,
      vecCol: String,
      idCol: String,
      k: Int,
      rescore: Int = 4): DataFrame = {
    require(rescore >= 1, "rescore must be >= 1")
    val c = corpus.select(col(idCol).cast("long").as("neighbor_id"),
      vec_sign_bits(col(vecCol)).as("__cb"))
    val q = queries.select(col(idCol).cast("long").as("query_id"),
      vec_sign_bits(col(vecCol)).as("__qb"))
    // negated Hamming as the aggregator score: (-score, id) ordering ==
    // (hamming asc, id asc), the oracle's exact candidate rule
    val scored = c.crossJoin(broadcast(q))
      .withColumn("cosine",
        -bit_count(col("__qb").bitwiseXOR(col("__cb"))).cast("double"))
    rescoreExact(scored, rescore, k, corpus, queries, vecCol, idCol)
  }

  /** Greedy farthest-point (k-center) sampling — diversity/coreset
    * selection for training-data curation (Sener & Savarese 2018's core-set
    * shape): start from the smallest id, then `k−1` rounds each select the
    * vector MAXIMIZING its cosine distance to the nearest already-selected
    * center (maximin; the greedy 2-approximation of k-center). Ties break
    * by smaller id, so the selected set is engine-reproducible. Returns
    * (round, vec_id, maximin_dist) with a −1 sentinel on the seed row.
    *
    * Scale shape: one corpus scan per round — the greedy's published
    * sequential nature — with the ≤ k selected centers travelling as plan
    * literals (k·dim doubles, the IVF-centroid bounded-driver-state
    * policy) into a codegen'd `least(1 − cos…)` projection and a
    * TakeOrderedAndProject(1) per round; no shuffle, no pair join. Persist
    * the input upstream when k is large or the scan is expensive.
    */
  def farthestPointSample(
      corpus: DataFrame,
      vecCol: String,
      idCol: String,
      k: Int): DataFrame = {
    require(k >= 1 && k <= 256, "k must be in [1, 256]")
    val base = corpus
      .select(col(idCol).cast("long").as("__id"), col(vecCol).cast("array<double>").as("__v"))
      .where(col("__v").isNotNull)
    val seed = base.orderBy(col("__id")).limit(1).collect() // bounded: one row
    val session = corpus.sparkSession
    import session.implicits._
    if (seed.isEmpty) return Seq.empty[(Long, Long, Double)]
      .toDF("round", "vec_id", "maximin_dist")
    var centers = List(seed(0).getSeq[Double](1))
    var chosen = List(seed(0).getLong(0))
    val out = scala.collection.mutable.ArrayBuffer(
      (0L, seed(0).getLong(0), -1.0))
    var r = 1
    while (r < k) {
      val dists = centers.map(cv =>
        lit(1.0) - cosineSim(col("__v"), typedLit(cv)))
      val minDist = if (dists.size == 1) dists.head else least(dists: _*)
      // the argmax orders on the 9-decimal-rounded distance (then id):
      // both engines compute the same doubles on every oracled query, but a
      // 1-ulp near-tie divergence in an UNROUNDED argmax would silently
      // fork the whole remaining selection — the pre-round pins the cut.
      // Already-selected rows are excluded (a selected duplicate at
      // distance 0 would otherwise win every remaining tie-by-id round).
      val best = base
        .where(!col("__id").isin(chosen: _*))
        .select(col("__id"), col("__v"), minDist.as("__d"))
        .orderBy(round(col("__d"), 9).desc, col("__id").asc)
        .limit(1).collect() // bounded: one row per round
      if (best.isEmpty) return out.toSeq.toDF("round", "vec_id", "maximin_dist")
      out += ((r.toLong, best(0).getLong(0), best(0).getDouble(2)))
      centers = best(0).getSeq[Double](1) :: centers
      chosen = best(0).getLong(0) :: chosen
      r += 1
    }
    out.toSeq.toDF("round", "vec_id", "maximin_dist")
  }
}
