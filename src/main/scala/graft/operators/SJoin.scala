package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

import graft.functions.GeoFunctions._

/** Spatial join family (reference: erde/op/sjoin.py — sjfull / sagg /
  * slookup / sfilter with predicates intersects / within / contains).
  *
  * Scale design (SURVEY §4). Two paths, chosen per call:
  *
  *  - Index path ([[sagg]], [[slookup]], [[sfilter]] with one small side):
  *    erde's sjoins are mostly dimension-table joins (points looked up in,
  *    filtered by or counted per a few thousand zones). The small side is
  *    collected once at call time, a [[GridIndex]] over its parsed
  *    geometries is broadcast, and the other side probes it in one narrow
  *    pass: no row tag, no persist, no cell explode, no join-back shuffle.
  *    `sfilter` and `slookup` index the right side, `sagg` the left. The
  *    gate has two steps and no knob of its own. First, with no job: the
  *    path is skipped when either side streams, when
  *    `spark.sql.autoBroadcastJoinThreshold` (the bound Spark already uses
  *    to broadcast a join side) is negative, or when Catalyst's size
  *    estimate of the side is known (every leaf of its plan has one) and
  *    above that threshold. Second, one collect of at most [[IndexRows]] +
  *    1 rows: Spark's `limit` collect, which runs over growing batches of
  *    partitions and stops once that many rows came back, so a side of
  *    unknown size is never scanned whole and the driver keeps at most
  *    IndexRows + 1 of its rows. The path runs when the side has at most
  *    IndexRows rows and their estimated size fits the same threshold.
  *    Otherwise those rows are dropped and the grid path runs. `cellDeg`
  *    and `tuning` apply to the grid path only.
  *  - Grid path (two large sides, streams, [[sjfull]], [[pairs]]):
  *    geometries are exploded onto the covering cells of a lon/lat grid and
  *    the join runs hash-partitioned on the cell id, so shuffle weight is
  *    O(rows × avg cells covered), never O(N×M). Duplicate candidate pairs
  *    (bboxes overlapping several shared cells) are eliminated *without a
  *    distinct shuffle* by the reference-cell rule: a pair is emitted only
  *    in the single cell containing the top-left corner of the two bboxes'
  *    intersection. Skew (dense cities) spreads because the cell id is the
  *    shuffle key and AQE splits oversized partitions; `cellDeg` tunes
  *    cover-vs-selectivity per call.
  *
  * Both paths evaluate the same `st_within` / `st_contains` /
  * `st_intersects` kernels on the same argument order and return the same
  * schema (names, types, nullability, column order).
  */
object SJoin {

  val DefaultCellDeg = 0.5

  /** Skew/broadcast tuning. `saltFactor` > 1 splits each hot cell's left
    * rows across that many shuffle keys (right side replicated per salt) —
    * use when one cell holds a city's worth of geometry; `broadcastRight`
    * hints the exploded right side for dim-table joins (zones, admin
    * polygons), so the big left side never shuffles at all. The grid size
    * is each call's `cellDeg` argument.
    */
  final case class Tuning(
      saltFactor: Int = 1,
      broadcastRight: Boolean = false)

  private val LB = "__graft_lbbox"
  private val RB = "__graft_rbbox"
  private val CELL = "__graft_cell"
  private val LID = "__graft_lid"
  private val SALT = "__graft_salt"

  private def checkPredicate(p: String): Unit =
    if (!Set("intersects", "within", "contains")(p))
      throw new IllegalArgumentException(s"unknown predicate '$p' (intersects|within|contains)")

  private def pred(p: String, l: Column, r: Column): Column = {
    checkPredicate(p)
    p match {
      case "intersects" => st_intersects(l, r)
      case "within" => st_within(l, r)
      case _ => st_contains(l, r)
    }
  }

  /** Inner candidate-pair join: left row ++ right row (right columns that
    * clash renamed with `rightSuffix`), each matching pair exactly once.
    * Internal ids/bboxes/cells are dropped before returning.
    */
  def pairs(
      left: DataFrame,
      right: DataFrame,
      predicate: String = "intersects",
      leftGeom: String = "geometry",
      rightGeom: String = "geometry",
      cellDeg: Double = DefaultCellDeg,
      rightSuffix: String = "_right",
      tuning: Tuning = Tuning()): DataFrame =
    // no row-id tag: pairs() is a pure stateless transform, usable on streams
    pairsKeyed(left, right, predicate, leftGeom, rightGeom, cellDeg, rightSuffix, tuning)

  /** Rows up to which [[sagg]], [[slookup]] and [[sfilter]] index their
    * small side: the crossover timed on 4 cores against 150k probe points
    * (the index path won all three operators from 1k to 64k small-side
    * rows, 0.18-0.60 s against 0.45-0.87 s for the grid path, and lost at
    * 128k). It also bounds what the driver collects and indexes.
    */
  private[graft] val IndexRows = 65536

  /** `side`'s rows when the index path takes it (see the object doc's
    * gate), else None.
    */
  private def smallSide(side: DataFrame, other: DataFrame, cap: Int): Option[Array[Row]] = {
    val conf = side.sparkSession.sessionState.conf
    val limit = conf.autoBroadcastJoinThreshold
    if (limit < 0 || side.isStreaming || other.isStreaming) None
    else {
      val plan = side.queryExecution.optimizedPlan
      val known = plan.collectLeaves().forall(_.stats.sizeInBytes < conf.defaultSizeInBytes)
      if (known && plan.stats.sizeInBytes > limit) None
      else Some(side.limit(cap + 1).collect()).filter(rows =>
        rows.length <= cap && org.apache.spark.util.SizeEstimator.estimate(rows) <= limit)
    }
  }

  /** Left side with a stable row id (narrow — no shuffle) for the join-back
    * variants (left joins, sagg, slookup, sfilter).
    */
  private def tagged(left: DataFrame): DataFrame =
    left.withColumn(LID, monotonically_increasing_id())

  /** Deterministic row tag: a 128-bit content hash (two independently seeded
    * xxhash64 halves — collision odds ~n²/2^129, immaterial at any corpus
    * size). Stable across repeated scans of the source, so the join-back
    * pass needs NO persist. Identical rows share a tag, which is exactly
    * right for match-status logic (they match identically, and joins/anti-
    * joins preserve row multiplicity) and for idempotent lookups (min_by),
    * but would DOUBLE duplicated rows' sums in sagg — sagg's content path
    * collapses duplicate tags before pair generation (see sagg).
    *
    * Spark hash functions SKIP null children (the seed passes through), so
    * hashing bare columns would make ("x", NULL) collide with (NULL, "x");
    * interleaving per-column null flags keeps the token stream
    * prefix-decodable and the tag injective up to hash collisions.
    */
  private def contentTagged(left: DataFrame): DataFrame = {
    val cols = left.columns.toIndexedSeq.map(col).flatMap(c => Seq(c.isNull, c))
    left.withColumn(LID,
      struct(xxhash64((lit(0) +: cols): _*), xxhash64((lit(1) +: cols): _*)))
  }

  /** Content tags need hashable, deterministic input: map types can't hash,
    * and a nondeterministic source (rand(), uuid(), sample) yields different
    * rows per scan — those fall back to the monotonic tag + persist. Window
    * functions and explicit repartitions also force the fallback even though
    * Spark flags them deterministic: row_number over a tied/partial ordering
    * and round-robin partition placement can change row CONTENT between the
    * two scans of the no-persist path, mis-pairing the anti-join. The same
    * goes for order-dependent aggregates — first/last/collect_list/
    * collect_set pick whatever row a shuffle fetch happened to deliver
    * first, which a second scan can deliver differently — and for
    * dropDuplicates over a column SUBSET (the kept row's other columns are
    * order-dependent; full-row dropDuplicates is safe, duplicates are
    * identical).
    */
  private def contentTaggable(df: DataFrame): Boolean = {
    def hashable(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case _: org.apache.spark.sql.types.MapType => false
      case s: org.apache.spark.sql.types.StructType => s.fields.forall(f => hashable(f.dataType))
      case a: org.apache.spark.sql.types.ArrayType => hashable(a.elementType)
      case _ => true
    }
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Deduplicate, GlobalLimit, LocalLimit, Repartition, RepartitionByExpression, Sample, Window}
    import org.apache.spark.sql.catalyst.expressions.aggregate.{CollectList, CollectSet, First, Last}
    val plan = df.queryExecution.analyzed
    df.schema.fields.forall(f => hashable(f.dataType)) &&
      plan.find(_.expressions.exists(e => !e.deterministic)).isEmpty &&
      plan.find {
        case _: Window | _: Repartition | _: RepartitionByExpression => true
        // sample/limit row SETS above a shuffle depend on fetch order — two
        // scans can keep different rows even though the operators' own
        // expressions are all "deterministic"
        case _: Sample | _: GlobalLimit | _: LocalLimit => true
        case a: Aggregate => a.aggregateExpressions.exists(_.exists {
          case _: First | _: Last | _: CollectList | _: CollectSet => true
          case _ => false
        })
        case d: Deduplicate => !d.child.output.forall(d.keys.contains)
        case _ => false
      }.isEmpty
  }

  /** Scan-stable tag for every variant that reads the tagged left twice
    * (pair pass + join-back pass): content hash when the plan allows —
    * re-scanning the (pruned, pushed-down) source beats caching a side that
    * can be 100 TB — else monotonic id + persist, because a second scan of a
    * nondeterministic / round-robin-repartitioned frame can re-assign ids
    * and silently mis-join results onto the wrong rows. The fallback persist
    * is released deterministically by [[Caches.cachedUntilAction]] the first
    * time an action consuming the tagged frame completes, so looped
    * pipelines over nondeterministic frames don't accumulate cached left
    * sides. (Re-running an action on the same result frame after that first
    * completion would re-scan uncached — callers that act twice should
    * cache the RESULT, which is the cheap side.) Returns
    * (tagged, usedContentTag).
    */
  private def stableTagged(left: DataFrame): (DataFrame, Boolean) =
    if (contentTaggable(left)) (contentTagged(left), true)
    else (Caches.cachedUntilAction(tagged(left)), false)

  private def renameClashing(right: DataFrame, clash: Set[String], suffix: String): DataFrame =
    right.columns.foldLeft(right) { (df, c0) =>
      if (clash(c0)) df.withColumnRenamed(c0, c0 + suffix) else df
    }

  /** Left columns that user expressions reference by name — the slim pair
    * pass (and [[sagg]]'s index-path pairs) must carry exactly those, so
    * aggs/lookups over left attributes keep resolving as they did when the
    * full left payload rode along. An expression whose references can't be
    * enumerated (`expr("…")` SQL text, a star, a raw catalyst Expression)
    * keeps EVERY left column — correctness over narrowness.
    */
  private def referencedLeftCols(lt: DataFrame, cols: Seq[Column]): Seq[String] = {
    val walked = cols.map(org.apache.spark.sql.graftbridge.ColumnBridge.attributeNames)
    // name matching honors the session's resolution mode: with the default
    // spark.sql.caseSensitive=false, sum(col("QTY")) must keep left column
    // "qty" in the slim pass exactly as the analyzer would resolve it
    val caseSensitive =
      lt.sparkSession.conf.get("spark.sql.caseSensitive", "false").toBoolean
    def norm(s: String) = if (caseSensitive) s else s.toLowerCase(java.util.Locale.ROOT)
    val names: Set[String] =
      if (walked.exists(_.isEmpty)) lt.columns.map(norm).toSet // opaque: assume all referenced
      else walked.flatMap(_.get).map(norm).toSet
    lt.columns.toIndexedSeq.filter(c => c != LID && names.contains(norm(c)))
  }

  private def pairsKeyed(
      taggedLeft: DataFrame,
      right: DataFrame,
      predicate: String,
      leftGeom: String,
      rightGeom: String,
      cellDeg: Double,
      rightSuffix: String,
      tuning: Tuning): DataFrame = {
    val clash = taggedLeft.columns.toSet
    val renamed = renameClashing(right, clash, rightSuffix)
    val rGeom = if (clash(rightGeom)) rightGeom + rightSuffix else rightGeom

    val salted = tuning.saltFactor > 1
    val l0 = taggedLeft
      .withColumn(LB, st_bbox(col(leftGeom)))
      .withColumn(CELL, explode(st_cellcover(col(leftGeom), lit(cellDeg))))
    // When the right side broadcasts there is no shuffle, so probe
    // parallelism silently stays at the scan's split count (one task for a
    // single small file; one hot executor after AQE coalescing on a
    // cluster) — the salt, whose whole purpose is to SPREAD a hot cell,
    // spreads nothing. The explicit repartition on the join keys
    // materializes the spread: the shuffled rows are the narrow pre-join
    // side, and in the non-broadcast case the join reuses this exchange
    // (same hash partitioning), so it costs nothing extra.
    // The partition count is pinned (not AQE-advisory): AQE coalesces by
    // pre-join byte size, but the work here is the post-join probe fan-out,
    // which AQE cannot see — a 64 MB-advisory coalesce would undo the spread.
    // Unsalted joins are left alone: measured on the bench, the extra
    // shuffle of wide pre-join rows costs more than the probe parallelism
    // buys when the per-pair predicate work is ordinary — only a declared
    // hot-cell workload (saltFactor > 1 is exactly that declaration) has
    // probe fan-out heavy enough to pay for the spread.
    val l = if (!salted) l0
      else {
        val n = taggedLeft.sparkSession.sessionState.conf.numShufflePartitions
        l0.withColumn(SALT, pmod(xxhash64(col(leftGeom)), lit(tuning.saltFactor)).cast("int"))
          .repartition(n, col(CELL), col(SALT))
      }
    val r0 = renamed
      .withColumn(RB, st_bbox(col(rGeom)))
      .withColumn(CELL, explode(st_cellcover(col(rGeom), lit(cellDeg))))
    val r1 = if (!salted) r0
      else r0.withColumn(SALT, explode(sequence(lit(0), lit(tuning.saltFactor - 1))))
    val r = if (tuning.broadcastRight) broadcast(r1) else r1

    // reference cell: the one holding the lower-left corner of bbox∩bbox —
    // emits each surviving pair exactly once, no post-join distinct.
    val refCell = st_cellof(
      greatest(element_at(col(LB), 1), element_at(col(RB), 1)),
      greatest(element_at(col(LB), 2), element_at(col(RB), 2)),
      lit(cellDeg))

    // bbox gate ahead of the full predicate: pure double compares on the
    // already-computed bounds, so candidate pairs that cannot match skip the
    // WKB parse entirely. Same epsilon as the kernel (Algos Eps = 1e-12 on
    // within's bounds check; intersects' bbox test is exact), so the gate
    // only ever removes pairs the predicate itself would reject.
    def lb(i: Int) = element_at(col(LB), i)
    def rb(i: Int) = element_at(col(RB), i)
    val eps = lit(1e-12)
    val bboxGate = predicate match {
      case "within" => // l.bbox ⊆ r.bbox (within eps)
        lb(1) >= rb(1) - eps && lb(2) >= rb(2) - eps &&
          lb(3) <= rb(3) + eps && lb(4) <= rb(4) + eps
      case "contains" => // r.bbox ⊆ l.bbox (within eps)
        rb(1) >= lb(1) - eps && rb(2) >= lb(2) - eps &&
          rb(3) <= lb(3) + eps && rb(4) <= lb(4) + eps
      case _ => // intersects: bboxes overlap
        lb(1) <= rb(3) && rb(1) <= lb(3) && lb(2) <= rb(4) && rb(2) <= lb(4)
    }

    val keys = l(CELL) === r(CELL) &&
      (if (salted) l(SALT) === r(SALT) else lit(true))
    l.join(r, keys &&
        refCell === l(CELL) &&
        bboxGate &&
        pred(predicate, col(leftGeom), col(rGeom)))
      .drop(LB).drop(RB).drop(CELL).drop(SALT)
  }

  /** Candidate sides of the point-distance joins ([[snearest]],
    * [[sdwithin]], [[sknn]]): each left point (id, `__lx`, `__ly`) explodes
    * onto every grid cell its `maxDistanceM` search disc touches, each
    * right point (id, `__rx`, `__ry`) sits in its single home cell — so a
    * cell-keyed equi-join forms every candidate pair exactly once.
    */
  private def discCover(left: DataFrame, right: DataFrame, leftId: String, rightId: String,
      leftGeom: String, rightGeom: String, maxDistanceM: Double,
      cellDeg: Double): (DataFrame, DataFrame) = {
    // conservative degree extents: 1° of latitude is πR/180 ≈ 111 195 m on
    // the haversine sphere; dividing by 111 000 over-covers slightly
    val dLat = maxDistanceM / 111000.0
    val cd = if (cellDeg > 0) cellDeg else math.max(0.05, 2.0 * dLat)
    val l0 = left.select(col(leftId),
      st_x(col(leftGeom)).as("__lx"), st_y(col(leftGeom)).as("__ly"))
    // clamp to a hemisphere: near the poles 1/cos(lat) explodes past any
    // real longitude span and would generate junk cells no right point owns
    val dLon = least(lit(180.0), lit(maxDistanceM) /
      (lit(111000.0) * cos(radians(least(lit(89.9), abs(col("__ly")) + lit(dLat))))))
    val l = l0
      .withColumn("__ix", explode(sequence(
        floor((col("__lx") - dLon + lit(180.0)) / lit(cd)),
        floor((col("__lx") + dLon + lit(180.0)) / lit(cd)))))
      .withColumn("__iy", explode(sequence(
        floor((col("__ly") - lit(dLat) + lit(90.0)) / lit(cd)),
        floor((col("__ly") + lit(dLat) + lit(90.0)) / lit(cd)))))
      .withColumn(CELL, shiftleft(col("__ix"), 32)
        .bitwiseOR(col("__iy").bitwiseAND(lit(0xffffffffL))))
    val r = right
      .select(col(rightId), st_x(col(rightGeom)).as("__rx"), st_y(col(rightGeom)).as("__ry"))
      .withColumn(CELL, st_cellof(col("__rx"), col("__ry"), lit(cd)))
    (l, r)
  }

  /** Nearest-neighbor spatial join for POINT layers (the GeoPandas
    * `sjoin_nearest` shape; beyond erde's predicate joins): for every left
    * point, the closest right point by great-circle distance within
    * `maxDistanceM` metres, ties broken by the smaller `rightId`. `how =
    * "left"` keeps matchless left rows with nulls. `leftId`/`rightId` must
    * be unique per row (they key the argmin and the join-back).
    *
    * Scale shape: no all-pairs work — each left point explodes onto the grid
    * cells of its maxDistance search disc (conservative spherical degree
    * bounds), each right point lands in its single home cell, and the join
    * runs hash-partitioned on the cell id; every candidate pair meets
    * exactly once (the right side owns one cell), so the per-left argmin is
    * a map-side-combined min of a 16-byte struct. `cellDeg` ≤ 0 auto-sizes
    * cells to the search radius (≈ 3×3 cover per left point). Cells do not
    * wrap at the antimeridian.
    */
  def snearest(
      left: DataFrame,
      right: DataFrame,
      leftId: String,
      rightId: String,
      maxDistanceM: Double,
      leftGeom: String = "geometry",
      rightGeom: String = "geometry",
      how: String = "inner",
      cellDeg: Double = 0.0,
      rightSuffix: String = "_right"): DataFrame = {
    require(how == "inner" || how == "left", s"how must be inner|left, got '$how'")
    require(maxDistanceM > 0, "maxDistanceM must be positive")
    val clash = left.columns.toSet ++ Set("nearest_dist_m")
    val renamed = renameClashing(right, clash, rightSuffix)
    val rGeom = if (clash(rightGeom)) rightGeom + rightSuffix else rightGeom
    val rId = if (clash(rightId)) rightId + rightSuffix else rightId

    val (l, r) = discCover(left, renamed, leftId, rId, leftGeom, rGeom, maxDistanceM, cellDeg)

    val best = l.join(r, CELL)
      .withColumn("__d", haversineM(col("__lx"), col("__ly"), col("__rx"), col("__ry")))
      .where(col("__d") <= maxDistanceM)
      .groupBy(col(leftId))
      .agg(min(struct(col("__d"), col(rId))).as("__b"))
      .select(col(leftId), col(s"__b.$rId").as(rId), col("__b.__d").as("nearest_dist_m"))

    left.join(best.join(renamed, Seq(rId)), Seq(leftId), how)
  }

  /** Within-distance spatial join for POINT layers (PostGIS `ST_DWithin`
    * shape): ALL (left, right) pairs at haversine distance ≤ `maxDistanceM`
    * metres, with `dist_m` attached — [[snearest]] without the argmin, for
    * when the analysis needs every neighbor (exposure scoring, density
    * features, conflation candidates), not just the closest.
    *
    * Scale shape: identical disc-cover grid — left explodes its search-disc
    * cells, right sits in its single home cell, candidates form exactly
    * once in a cell-keyed hash join and die on a codegen'd double compare.
    * Output is the true pair set; its size is the data's neighbor count,
    * not an operator artifact (pick the radius accordingly).
    */
  def sdwithin(
      left: DataFrame,
      right: DataFrame,
      leftId: String,
      rightId: String,
      maxDistanceM: Double,
      leftGeom: String = "geometry",
      rightGeom: String = "geometry",
      cellDeg: Double = 0.0,
      rightSuffix: String = "_right"): DataFrame = {
    require(maxDistanceM > 0, "maxDistanceM must be positive")
    val clash = left.columns.toSet ++ Set("dist_m")
    val renamed = renameClashing(right, clash, rightSuffix)
    val rGeom = if (clash(rightGeom)) rightGeom + rightSuffix else rightGeom
    val rId = if (clash(rightId)) rightId + rightSuffix else rightId

    val (l, r) = discCover(left, renamed, leftId, rId, leftGeom, rGeom, maxDistanceM, cellDeg)

    val pairs = l.join(r, CELL)
      .withColumn("dist_m", haversineM(col("__lx"), col("__ly"), col("__rx"), col("__ry")))
      .where(col("dist_m") <= maxDistanceM)
      .select(col(leftId), col(rId), col("dist_m"))
    pairs.join(left, Seq(leftId)).join(renamed, Seq(rId))
  }

  /** k-nearest-neighbors spatial join — [[snearest]] generalized from the
    * single argmin to the `k` best right points per left row within
    * `maxDistanceM` (haversine meters). Appends `knn_dist_m` and `knn_rank`
    * (1-based; ties on distance break by right id, so the ranking is total
    * and engine-reproducible).
    *
    * Scale shape: identical disc-cover grid to [[snearest]] — the left side
    * explodes its radius cover, the right side sits in its home cell, so
    * every candidate pair forms exactly once in a cell-keyed hash join; the
    * `row_number <= k` filter plans as a WindowGroupLimit, pruning each
    * task's candidates to k per left id BEFORE the rank exchange.
    */
  def sknn(
      left: DataFrame,
      right: DataFrame,
      leftId: String,
      rightId: String,
      k: Int,
      maxDistanceM: Double,
      leftGeom: String = "geometry",
      rightGeom: String = "geometry",
      how: String = "inner",
      cellDeg: Double = 0.0,
      rightSuffix: String = "_right"): DataFrame = {
    require(how == "inner" || how == "left", s"how must be inner|left, got '$how'")
    require(k >= 1, "k must be positive")
    require(maxDistanceM > 0, "maxDistanceM must be positive")
    val clash = left.columns.toSet ++ Set("knn_dist_m", "knn_rank")
    val renamed = renameClashing(right, clash, rightSuffix)
    val rGeom = if (clash(rightGeom)) rightGeom + rightSuffix else rightGeom
    val rId = if (clash(rightId)) rightId + rightSuffix else rightId

    val (l, r) = discCover(left, renamed, leftId, rId, leftGeom, rGeom, maxDistanceM, cellDeg)

    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(leftId)).orderBy(col("__d"), col(rId))
    val top = l.join(r, CELL)
      .withColumn("__d", haversineM(col("__lx"), col("__ly"), col("__rx"), col("__ry")))
      .where(col("__d") <= maxDistanceM)
      .withColumn("knn_rank", row_number().over(w))
      .where(col("knn_rank") <= k)
      .select(col(leftId), col(rId), col("__d").as("knn_dist_m"), col("knn_rank"))

    left.join(top.join(renamed, Seq(rId)), Seq(leftId), how)
  }

  /** Transposes a predicate when the join sides swap (right joins). */
  private def flip(p: String): String = p match {
    case "within" => "contains"
    case "contains" => "within"
    case other => other // intersects is symmetric
  }

  /** Full spatial join keeping both geometries (reference: erde sjoin `sjfull`,
    * joins inner | left | right). `how="left"` keeps unmatched left rows with
    * nulls; `how="right"` runs the swapped left join (predicate transposed) so
    * unmatched right rows survive.
    */
  def sjfull(
      left: DataFrame,
      right: DataFrame,
      predicate: String = "intersects",
      how: String = "inner",
      leftGeom: String = "geometry",
      rightGeom: String = "geometry",
      cellDeg: Double = DefaultCellDeg,
      rightSuffix: String = "_right",
      tuning: Tuning = Tuning()): DataFrame = {
    if (how == "right")
      return sjfull(right, left, flip(predicate), "left", rightGeom, leftGeom,
        cellDeg, rightSuffix, tuning)
    // the left join reads the tagged left twice (matches + anti-join pass):
    // stableTagged picks content hash (no persist) or monotonic id + persist.
    // Inner joins scan once, so a bare monotonic tag is fine there.
    val lt = if (how == "left") stableTagged(left)._1 else tagged(left)
    val inner = pairsKeyed(lt, right, predicate, leftGeom, rightGeom, cellDeg, rightSuffix, tuning)
    how match {
      case "inner" => inner.drop(LID)
      case "left" =>
        val unmatched = lt.join(inner.select(LID), Seq(LID), "left_anti")
        val rightCols = inner.columns.filterNot(lt.columns.contains)
        val padded = rightCols.foldLeft(unmatched)((df, c0) =>
          df.withColumn(c0, lit(null).cast(inner.schema(c0).dataType)))
        inner.unionByName(padded.select(inner.columns.toIndexedSeq.map(col): _*)).drop(LID)
      case other => throw new IllegalArgumentException(s"how='$other' (inner|left|right)")
    }
  }

  /** Aggregates right-side values per left row (reference: erde sjoin `sagg`).
    * `aggs` are aggregate Columns over right columns (clashing right names
    * carry `_right`) and, optionally, left columns, e.g.
    * `Seq(sum("pop").as("pop_sum"), count(lit(1)).as("n"))`.
    *
    * Index path (small left, see the object doc): the left side is
    * collected at call time and indexed; each right row explodes the left
    * indexes it matches, Spark aggregates by index with a map-side partial
    * step (the only shuffle), and the result is broadcast onto the collected
    * left rows, which come back as a local frame. Duplicate left rows are
    * separate entries, so each gets its own aggregates. That frame is a
    * snapshot of `left` taken at call time, and its left columns are new
    * attributes: refer to them by name on the result, since a column
    * reference taken from `left` itself (`left("pop")`, or a join back on
    * `left`) no longer resolves against it. Otherwise the grid join feeds
    * the same aggregation and the result keeps `left`'s lineage.
    */
  def sagg(
      left: DataFrame,
      right: DataFrame,
      aggs: Seq[Column],
      predicate: String = "intersects",
      how: String = "left",
      leftGeom: String = "geometry",
      rightGeom: String = "geometry",
      cellDeg: Double = DefaultCellDeg,
      tuning: Tuning = Tuning()): DataFrame =
    sagg(left, right, aggs, predicate, how, leftGeom, rightGeom, cellDeg, tuning, IndexRows)

  /** [[sagg]] with the index path's row cap (0 forces the grid path for a
    * non-empty left).
    */
  private[graft] def sagg(left: DataFrame, right: DataFrame, aggs: Seq[Column],
      predicate: String, how: String, leftGeom: String, rightGeom: String, cellDeg: Double,
      tuning: Tuning, cap: Int): DataFrame = {
    checkPredicate(predicate)
    val clash = left.columns.toSet + LID
    val renamed = renameClashing(right, clash, "_right")
    val rGeom = if (clash(rightGeom)) rightGeom + "_right" else rightGeom
    smallSide(left, right, cap) match {
      case Some(rows) =>
        val spark = left.sparkSession
        val g = left.schema.fieldIndex(left.select(leftGeom).columns.head)
        val index = GridIndex.broadcast(spark, rows.map(_.getAs[Array[Byte]](g)), predicate,
          indexedLeft = true)
        val local = spark.createDataFrame(
          java.util.Arrays.asList(
            rows.zipWithIndex.map { case (r, i) => Row.fromSeq(r.toSeq :+ i) }: _*),
          left.schema.add(LID, IntegerType, nullable = false))
        val pairs = renamed.withColumn(LID, explode(GridIndex.probe(index, "all", col(rGeom))))
        val refs = referencedLeftCols(left, aggs)
        val withLeft =
          if (refs.isEmpty) pairs
          else pairs.join(broadcast(local.select((LID +: refs).map(col): _*)), LID)
        val agged = withLeft.groupBy(col(LID)).agg(aggs.head, aggs.tail: _*)
        local.join(broadcast(agged), Seq(LID), how).drop(LID)
      case None =>
        val (lt, content) = stableTagged(left)
        // Only (tag, geometry, agg-referenced left columns) feed pair
        // generation — the join-back restores the full left payload, so the
        // pair pass never carries columns nobody aggregates. Content-path
        // only: identical left rows share a tag, so their candidate pairs
        // would merge under groupBy(tag) and double every sum — collapse
        // duplicate tags (narrow shuffle) so each distinct row aggregates
        // once; the join-back then fans the correct result onto every
        // duplicate.
        val keep = (Seq(LID, leftGeom) ++ referencedLeftCols(lt, aggs)).distinct
        val slim0 = lt.select(keep.map(col): _*)
        val slim = if (content) slim0.dropDuplicates(Seq(LID)) else slim0
        val inner = pairsKeyed(slim, renamed, predicate, leftGeom, rGeom, cellDeg, "_right", tuning)
        val agged = inner.groupBy(col(LID)).agg(aggs.head, aggs.tail: _*)
        lt.join(agged, Seq(LID), how).drop(LID)
    }
  }

  /** First-match attribute lookup (reference: erde sjoin `slookup`): attaches
    * `columns` from the matching right row with the smallest `orderBy` value
    * (rows whose `orderBy` is null are picked only when no other row
    * matches, and then give nulls, as `min_by`) — deterministic, unlike
    * pandas row order. Ties keep one real row.
    *
    * Index path (small right, see the object doc; `columns` and `orderBy`
    * must name right columns): the right side is collected at call time in
    * Spark's ascending order of `orderBy`, so the pick is the first matching
    * index; each left row probes the index in one narrow pass and `columns`
    * attach through a broadcast join on that index. Otherwise the grid join
    * feeds one min_by per left row, with the shuffle at one candidate per
    * (left row × input partition).
    */
  def slookup(
      left: DataFrame,
      right: DataFrame,
      columns: Seq[String],
      orderBy: String,
      predicate: String = "intersects",
      how: String = "left",
      leftGeom: String = "geometry",
      rightGeom: String = "geometry",
      cellDeg: Double = DefaultCellDeg,
      tuning: Tuning = Tuning()): DataFrame =
    slookup(left, right, columns, orderBy, predicate, how, leftGeom, rightGeom, cellDeg, tuning,
      IndexRows)

  /** [[slookup]] with the index path's row cap (0 forces the grid path for
    * a non-empty right).
    */
  private[graft] def slookup(left: DataFrame, right: DataFrame, columns: Seq[String],
      orderBy: String, predicate: String, how: String, leftGeom: String, rightGeom: String,
      cellDeg: Double, tuning: Tuning, cap: Int): DataFrame = {
    checkPredicate(predicate)
    val clash = left.columns.toSet + LID
    val renamed = renameClashing(right, clash, "_right")
    val rGeom = if (clash(rightGeom)) rightGeom + "_right" else rightGeom
    val named = (columns :+ orderBy).map(c0 => col(c0))
    // a name that resolves to a LEFT column makes the grid path pick from
    // the left row; only that path keeps those semantics
    lazy val side = renamed.select(col(rGeom), col(orderBy), struct(named.init: _*))
    val collected = if (referencedLeftCols(left, named).nonEmpty) None else smallSide(side, left, cap)
    collected match {
      case Some(rows) =>
        val spark = left.sparkSession
        val orderType = side.schema(1).dataType
        val ord = TypeUtils.getInterpretedOrdering(orderType)
        val toCatalyst = CatalystTypeConverters.createToCatalystConverter(orderType)
        val (valued, unvalued) = rows.partition(!_.isNullAt(1))
        val sorted = valued.sortBy(r => toCatalyst(r.get(1)))(ord) ++ unvalued
        val index = GridIndex.broadcast(spark, sorted.map(_.getAs[Array[Byte]](0)), predicate,
          indexedLeft = false)
        val picked = side.schema(2).dataType.asInstanceOf[StructType].fields.zip(columns)
          .map { case (f, c0) => StructField(c0, f.dataType, nullable = true) }
        val local = spark.createDataFrame(
          java.util.Arrays.asList(sorted.zipWithIndex.map { case (r, i) =>
            val values = if (r.isNullAt(1)) Seq.fill(columns.length)(null) else r.getStruct(2).toSeq
            Row.fromSeq(i +: values)
          }: _*),
          StructType(StructField(LID, IntegerType, nullable = false) +: picked))
        left.withColumn(LID, GridIndex.probe(index, "first", col(leftGeom)))
          .join(broadcast(local), Seq(LID), how).drop(LID)
      case None =>
        val (lt, _) = stableTagged(left)
        // min_by is idempotent under whole-candidate-set duplication, so the
        // content tag needs no duplicate collapse here (unlike sagg): merged
        // duplicates pick the same minimum, and the join-back fans it out.
        val keep = (Seq(LID, leftGeom) ++ referencedLeftCols(lt, named)).distinct
        val slim = lt.select(keep.map(col): _*)
        val inner = pairsKeyed(slim, renamed, predicate, leftGeom, rGeom, cellDeg, "_right", tuning)
        // ATOMIC pick: one min_by over the packed column struct, never
        // independent per-column min_bys — under orderBy ties those could
        // stitch together values from different matching rows into a row
        // that never existed.
        val agged = inner.groupBy(col(LID))
          .agg(min_by(struct(columns.map(col): _*), col(orderBy)).as("__pick"))
          .select(col(LID) +: columns.map(c0 => col("__pick").getField(c0).as(c0)): _*)
        lt.join(agged, Seq(LID), how).drop(LID)
    }
  }

  /** Spatial semi/anti filter (reference: erde sjoin `sfilter`): left rows
    * that do (or, `negative`, do not) match any right geometry; a null or
    * empty left geometry matches nothing.
    *
    * Index path (small right, see the object doc): the right geometries are
    * collected at call time and indexed, and the result is `left` filtered
    * on "any match" in one narrow pass. Otherwise the grid join's matched
    * tags are semi- (anti-) joined back onto the left.
    */
  def sfilter(
      left: DataFrame,
      right: DataFrame,
      predicate: String = "intersects",
      negative: Boolean = false,
      leftGeom: String = "geometry",
      rightGeom: String = "geometry",
      cellDeg: Double = DefaultCellDeg,
      tuning: Tuning = Tuning()): DataFrame =
    sfilter(left, right, predicate, negative, leftGeom, rightGeom, cellDeg, tuning, IndexRows)

  /** [[sfilter]] with the index path's row cap (0 forces the grid path for
    * a non-empty right).
    */
  private[graft] def sfilter(left: DataFrame, right: DataFrame, predicate: String,
      negative: Boolean, leftGeom: String, rightGeom: String, cellDeg: Double, tuning: Tuning,
      cap: Int): DataFrame = {
    checkPredicate(predicate)
    smallSide(right.select(rightGeom), left, cap) match {
      case Some(rows) =>
        val index = GridIndex.broadcast(left.sparkSession, rows.map(_.getAs[Array[Byte]](0)),
          predicate, indexedLeft = false)
        val hit = GridIndex.probe(index, "any", col(leftGeom))
        left.where(if (negative) !hit else hit)
      case None =>
        val (lt, _) = stableTagged(left)
        val clash = lt.columns.toSet
        val renamed = renameClashing(right, clash, "_right")
        val rGeom = if (clash(rightGeom)) rightGeom + "_right" else rightGeom
        // semi/anti joins see tag membership only, so duplicate content tags
        // are harmless (identical rows match identically and keep their
        // multiplicity).
        val slim = lt.select(col(LID), col(leftGeom))
        val matched = pairsKeyed(slim, renamed, predicate, leftGeom, rGeom, cellDeg, "_right", tuning)
          .select(LID)
        lt.join(matched, Seq(LID), if (negative) "left_anti" else "left_semi").drop(LID)
    }
  }
}
