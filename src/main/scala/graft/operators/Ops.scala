package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Tabular utility operators, equivalents of erde's non-spatial helpers
  * (reference: erde/utils.py:73 `crossjoin`, erde/utils.py:130 `lookup`).
  */
object Ops {

  /** Cartesian product of two dataframes (erde/utils.py:73).
    * Spark-first: when one side is small the planner turns this into
    * BroadcastNestedLoopJoin; callers can force it with `broadcast(right)`.
    */
  def crossjoin(left: DataFrame, right: DataFrame): DataFrame = left.crossJoin(right)

  /** First-match attribute lookup (erde/utils.py:130 `lookup`): for each left
    * row, joins `right` on `leftOn == rightOn` and takes the *first* matching
    * value of each requested column. Pandas "first" depends on row order,
    * which has no distributed meaning, so the match is made deterministic:
    * the first row by `orderBy` (ascending) wins — picked ATOMICALLY (one
    * min_by over the packed column struct, never independent per-column
    * min_bys, which under orderBy ties could stitch together values from
    * different rows into a row that never existed; unique orderBy per key ⇒
    * fully deterministic).
    *
    * Implemented as broadcast-friendly equi-join against a pre-reduced right
    * side (one row per key after a partial-aggregated min_by), so the shuffle
    * moves only `rightOn` + requested columns, never the full right table.
    */
  def lookup(
      left: DataFrame,
      right: DataFrame,
      columns: Seq[String],
      leftOn: String,
      rightOn: String,
      orderBy: String): DataFrame = {
    val firstMatch = right
      .groupBy(col(rightOn))
      .agg(min_by(struct(columns.map(col): _*), col(orderBy)).as("__pick"))
      .select(col(rightOn) +: columns.map(c => col("__pick").getField(c).as(c)): _*)
    left.join(firstMatch, left(leftOn) === firstMatch(rightOn), "left")
      .drop(firstMatch(rightOn))
  }

  /** Deterministic train/val/test splitting: the row's long id is hashed
    * with splitmix64 (seeded), bucketed into 10 000 slots, and labeled by
    * cumulative `weights` — stable across runs, partitionings, and engines
    * (unlike `randomSplit`), so downstream stages and re-runs agree on
    * membership. Pure codegen'd expression, no shuffle.
    */
  def splitByHash(
      df: DataFrame,
      idCol: String,
      weights: Seq[(String, Double)],
      seed: Long = 42L,
      into: String = "split"): DataFrame = {
    require(weights.nonEmpty && math.abs(weights.map(_._2).sum - 1.0) < 1e-9,
      "weights must sum to 1")
    import graft.functions.TextFunctions.mix64_hash
    val bucket = pmod(mix64_hash(col(idCol), seed), lit(10000L))
    val thresholds = weights.scanLeft(0L) { case (acc, (_, w)) =>
      acc + math.round(w * 10000)
    }.tail
    val labeled = weights.map(_._1).zip(thresholds).init.foldRight(
      lit(weights.last._1): Column) { case ((name, t), rest) =>
      when(bucket < lit(t), lit(name)).otherwise(rest)
    }
    df.withColumn(into, labeled)
  }

  /** Leakage-safe train/val/test splitting: split membership is decided at
    * near-duplicate CLUSTER granularity, not per row — every member of a
    * [[Dedup.clusters]] cluster hashes the same cluster id through
    * [[splitByHash]], so a document and its near-duplicates can never
    * straddle train and test. Splitting doc-wise after deduping "enough" is
    * the classic eval-contamination bug: any near-dup pair that survives the
    * dedup threshold leaks train text into test verbatim-enough to inflate
    * scores. Here the assignment itself is leakage-free by construction,
    * whatever survives.
    *
    * Output: the input plus `cluster` (smallest member id) and `into`
    * columns. Scale shape = [[Dedup.clusters]] (LSH banding + alternating-
    * star connected components) plus one codegen'd hash label — the split
    * adds NOTHING beyond the clustering it already composes with.
    */
  def splitByCluster(
      df: DataFrame,
      textCol: String,
      idCol: String,
      weights: Seq[(String, Double)],
      threshold: Double = 0.8,
      seed: Long = 42L,
      into: String = "split"): DataFrame =
    splitByHash(
      Dedup.clusters(df, textCol, idCol, threshold = threshold),
      "cluster", weights, seed, into)

  /** Per-group quantile gate: keeps rows whose `valueCol` is at or above
    * their group's `q`-quantile — "keep the top (1−q) of every language by
    * quality", the per-stratum form of threshold curation (one global
    * threshold over-prunes strong groups and under-prunes weak ones).
    *
    * Thresholds come from [[Sketch.histQuantilesByGroup]]: two corpus
    * passes into #groups × bins mergeable rows, a deterministic
    * interpolated threshold per group (bit-reproducible, SQL-mirrorable —
    * unlike `approx_percentile`), then ONE join-back and a codegen'd
    * comparison. No per-group sort anywhere: the sort-rank formulation
    * shuffles and orders the entire corpus, this shuffles the bin table.
    * Rows with null values drop (no threshold can admit them); groups with
    * all-null values vanish with their rows.
    */
  def quantileGate(
      df: DataFrame,
      valueCol: String,
      groupCols: Seq[String],
      q: Double,
      bins: Int = 128): DataFrame = {
    require(q > 0.0 && q < 1.0, "q must be in (0, 1)")
    val thr = Sketch.histQuantilesByGroup(df, valueCol, groupCols, bins, Seq(q))
      .select(groupCols.map(col) :+ col("quantile").as("__thr"): _*)
    df.join(thr, groupCols)
      .where(col(valueCol).cast("double") >= col("__thr"))
      .drop("__thr")
  }

  /** Deterministic domain mixing: downsamples each `labelCol` group so the
    * kept rows follow the `targets` proportions — the largest feasible
    * dataset with those proportions given the available counts (the scarcest
    * label relative to its target is kept whole; no upsampling). Membership
    * is mix64-hash thresholded like [[splitByHash]], so it is stable across
    * runs, partitionings, and engines. Labels absent from `targets` drop.
    *
    * Scale shape: one tiny per-label count aggregate (result rows = #labels,
    * collected to the driver to fold the thresholds into literals), then a
    * single pure codegen'd filter pass — no shuffle of the data itself.
    */
  def mixByHash(
      df: DataFrame,
      labelCol: String,
      idCol: String,
      targets: Seq[(String, Double)],
      seed: Long = 42L): DataFrame = {
    require(targets.nonEmpty && targets.forall(_._2 > 0), "target weights must be positive")
    // restrict the count pass to target labels: the collected result is
    // bounded by targets.size regardless of the label column's cardinality
    val counts = df
      .where(col(labelCol).isin(targets.map(_._1): _*))
      .groupBy(labelCol).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val present = targets.filter { case (l, _) => counts.getOrElse(l, 0L) > 0L }
    require(present.nonEmpty, "no target label present in the data")
    // largest total consistent with the proportions; per-label keep-rates ≤ 1.
    // The +1e-6 floor bias pins boundary-exact cuts (the binding label's
    // keep-rate is 1 only up to fp; an unbiased floor could read 9999 on one
    // engine and 10000 on the other) — same policy as the interp gap filler.
    val scale = present.map { case (l, w) => counts(l) / w }.min
    val thresholds = present.map { case (l, w) =>
      l -> math.floor(w * scale / counts(l) * 10000 + 1e-6).toLong
    }
    import graft.functions.TextFunctions.mix64_hash
    val bucket = pmod(mix64_hash(col(idCol), seed), lit(10000L))
    val thr = thresholds.foldRight(lit(-1L): Column) { case ((l, t), rest) =>
      when(col(labelCol) === lit(l), lit(t)).otherwise(rest)
    }
    df.where(bucket < thr)
  }

  /** Temperature-flattened label mixing — the multilingual-sampling staple
    * (mC4/T5-style α-scaling): the target share of label `l` is
    * `count_l^alpha`, so `alpha` in (0, 1] flattens the head — low-resource
    * labels keep a larger fraction of their rows, `alpha = 1` reduces to
    * pass-through. The realized sample scales to the binding label (every
    * keep-rate ≤ 1; the smallest label survives whole, a label `c` times
    * larger keeps `(c_min/c)^(1−alpha)` of itself). Membership is
    * [[mixByHash]]'s splitmix64 bucket filter (resolution 1/10000) — stable
    * across runs, partitionings, and engines — with the per-label threshold
    * riding a model-sized map literal (no when-chain, no join).
    *
    * Scale shape: ONE map-side-combined count pass whose collected result
    * is bounded by `maxLabels` (loud failure beyond), then a pure codegen'd
    * filter — no shuffle on the corpus.
    */
  def temperatureMix(
      df: DataFrame,
      labelCol: String,
      idCol: String,
      alpha: Double,
      seed: Long = 42L,
      maxLabels: Int = 10000): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, "alpha must be in (0, 1]")
    val counts = df.where(col(labelCol).isNotNull)
      .groupBy(labelCol).count()
      .limit(maxLabels + 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)) // bounded: maxLabels
    require(counts.length <= maxLabels,
      s"temperatureMix saw more than $maxLabels labels; raise maxLabels or pre-bucket")
    require(counts.nonEmpty, "no non-null labels")
    val weighted = counts.map { case (l, c) => (l, c, math.pow(c.toDouble, alpha)) }
    val scale = weighted.map { case (_, c, w) => c / w }.min
    // +1e-6 floor bias: the binding label sits exactly on the 10000 cut and
    // a 1-ulp math.pow vs power() divergence would otherwise flip its floor
    // on one engine only (see mixByHash)
    val thresholds = weighted.map { case (l, c, w) =>
      l -> math.floor(w * scale / c * 10000 + 1e-6).toLong
    }.toMap
    import graft.functions.TextFunctions.mix64_hash
    val bucket = pmod(mix64_hash(col(idCol), seed), lit(10000L))
    val thr = coalesce(element_at(typedLit(thresholds), col(labelCol)), lit(-1L))
    df.where(bucket < thr)
  }

  /** Deterministic stratified sampling: keeps each `labelCol` group at its
    * `fractions` rate (resolution 1/10000) by splitmix64 bucket thresholds —
    * same membership machinery as [[splitByHash]], so samples are stable
    * across runs, partitionings, and engines, and nest monotonically (the
    * 10% sample contains the 5% sample). Labels without an entry keep
    * `defaultFraction` (0 = drop). Pure codegen'd filter, no shuffle, no
    * per-group counting pass.
    */
  def sampleStratified(
      df: DataFrame,
      labelCol: String,
      idCol: String,
      fractions: Seq[(String, Double)],
      defaultFraction: Double = 0.0,
      seed: Long = 42L): DataFrame = {
    require((defaultFraction +: fractions.map(_._2)).forall(f => f >= 0.0 && f <= 1.0),
      "fractions must be in [0, 1]")
    import graft.functions.TextFunctions.mix64_hash
    val bucket = pmod(mix64_hash(col(idCol), seed), lit(10000L))
    val thr = fractions.foldRight(lit(math.floor(defaultFraction * 10000).toLong): Column) {
      case ((l, f), rest) =>
        when(col(labelCol) === lit(l), lit(math.floor(f * 10000).toLong)).otherwise(rest)
    }
    df.where(bucket < thr)
  }

  /** Deterministic global shuffle into training shards: every row gets a
    * `shard` in [0, shards) and a dense 1-based `shard_pos` — together a
    * reproducible random permutation of the corpus (the "globally shuffle
    * the training set, write k shards" step every pretraining pipeline
    * runs). Both coordinates derive from seeded splitmix64 over `idCol`
    * (shard from seed, within-shard order from seed+1 — decorrelated), so
    * the permutation is stable across runs, partitionings, and engines,
    * unlike `orderBy(rand())`.
    *
    * Scale shape: one hash-partitioned exchange on `shard` and a
    * partition-local sort per shard — no global sort, no single-partition
    * row_number. Each shard sorts on one executor, so pick `shards` ≫
    * cluster parallelism with shard sizes that fit an executor (the shape
    * training shards have anyway); `idCol` ties broken by the id itself, so
    * duplicate ids still order totally.
    */
  def shuffleShard(
      df: DataFrame,
      idCol: String,
      shards: Int,
      seed: Long = 42L): DataFrame = {
    require(shards >= 1, "shards must be positive")
    import graft.functions.TextFunctions.mix64_hash
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard"))
      .orderBy(mix64_hash(col(idCol), seed + 1), col(idCol))
    df.withColumn("shard", pmod(mix64_hash(col(idCol), seed), lit(shards.toLong)))
      .withColumn("shard_pos", row_number().over(w))
  }

  /** Top-k rows per group, deterministically (`tieCol` breaks order ties).
    * Expressed as the rank-filter idiom on purpose: Spark rewrites
    * `row_number ≤ k` into a WindowGroupLimit, which prunes every partition
    * to its k best rows per group BEFORE the exchange — the shuffle moves
    * O(k · groups) rows, not the corpus, and no global sort ever happens.
    * The rank survives as `rank_in_group`.
    */
  def topKPerGroup(
      df: DataFrame,
      groupCols: Seq[String],
      orderCol: String,
      k: Int,
      descending: Boolean = true,
      tieCol: String): DataFrame = {
    require(k >= 1, "k must be positive")
    val ord =
      if (descending) Seq(col(orderCol).desc, col(tieCol).asc)
      else Seq(col(orderCol).asc, col(tieCol).asc)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols.map(col): _*).orderBy(ord: _*)
    df.withColumn("rank_in_group", row_number().over(w))
      .where(col("rank_in_group") <= k)
  }

  /** Corpus snapshot diff — the incremental-pipeline primitive: classify
    * every id across two snapshots as `added` / `removed` / `changed` (any
    * compare column differs) / `unchanged`. Each side is first collapsed to
    * `(id, content_hash)` so only 16 bytes per row cross the join shuffle —
    * the wide columns (document text, embeddings) never move; at 100 TB the
    * diff costs two narrow scans plus one id-keyed exchange. Hash equality
    * stands in for content equality (the dedup family's standard 64-bit
    * assumption); nulls hash distinctly from empty strings.
    */
  def snapshotDiff(
      oldDf: DataFrame,
      newDf: DataFrame,
      idCol: String,
      compareCols: Seq[String],
      includeUnchanged: Boolean = false,
      seed: Long = 42L): DataFrame = {
    require(compareCols.nonEmpty, "compareCols must not be empty")
    import graft.functions.TextFunctions.string_hash64
    def prep(df: DataFrame, id: String) = df.select(
      col(idCol).as(id),
      string_hash64(concat_ws("\u0001",
        compareCols.map(c => coalesce(col(c).cast("string"), lit("\u0000"))): _*), seed)
        .as(s"${id}_ch"))
    val j = prep(oldDf, "__oid").join(prep(newDf, "__nid"),
      col("__oid") === col("__nid"), "full_outer")
    val change = when(col("__oid").isNull, "added")
      .when(col("__nid").isNull, "removed")
      .when(col("__oid_ch") =!= col("__nid_ch"), "changed")
      .otherwise("unchanged")
    val out = j.select(coalesce(col("__oid"), col("__nid")).as(idCol),
      change.as("change"))
    if (includeUnchanged) out else out.where(col("change") =!= "unchanged")
  }

  /** Deterministic bottom-k sample: the k rows whose seeded id hash is
    * globally smallest — a uniform sample with no RNG state that is (a)
    * REPRODUCIBLE across runs and partitionings, (b) MERGEABLE across shards
    * (the k smallest of a union are among the union of each shard's k
    * smallest, so per-shard samples recombine without rescanning), and (c)
    * CONSISTENT across scale — growing the corpus only evicts, never
    * reshuffles, the retained set. With `strataCols` the same guarantee per
    * stratum (window rank, pre-shuffle-pruned like [[topKPerGroup]]).
    *
    * Scale shape: global mode plans as TakeOrderedAndProject — each task
    * keeps an O(k) heap, the driver merges k-per-partition; nothing sorts
    * the corpus.
    */
  def bottomKSample(
      df: DataFrame,
      idCol: String,
      k: Int,
      seed: Long = 42L,
      strataCols: Seq[String] = Nil): DataFrame = {
    require(k >= 1, "k must be positive")
    import org.apache.spark.sql.types.StringType
    import graft.functions.TextFunctions.{mix64_hash, string_hash64}
    val h = df.schema(idCol).dataType match {
      case StringType => string_hash64(col(idCol), seed)
      case _ => mix64_hash(col(idCol).cast("long"), seed)
    }
    val hashed = df.withColumn("__h", h)
    if (strataCols.isEmpty) hashed.orderBy("__h").limit(k).drop("__h")
    else {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(strataCols.map(col): _*).orderBy(col("__h").asc)
      hashed.withColumn("__r", row_number().over(w))
        .where(col("__r") <= k).drop("__h", "__r")
    }
  }

  /** Deterministic weighted sample without replacement (Efraimidis–Spirakis
    * 2006, "Weighted random sampling with a reservoir"): each row gets key
    * `-ln(u)/w` with `u` the seeded-hash uniform in (0,1); the k smallest
    * keys are a weighted sample — inclusion probability ∝ `weightCol`.
    * Same scale/mergeability shape as [[bottomKSample]] (which is this with
    * all weights equal): TakeOrderedAndProject O(k) heaps, per-shard samples
    * recombine by re-taking the k smallest keys, fully reproducible.
    * Rows with null, zero, or negative weight never qualify.
    */
  def weightedSample(
      df: DataFrame,
      idCol: String,
      weightCol: String,
      k: Int,
      seed: Long = 42L): DataFrame = {
    require(k >= 1, "k must be positive")
    import org.apache.spark.sql.types.StringType
    import graft.functions.TextFunctions.{mix64_hash, string_hash64}
    val h = df.schema(idCol).dataType match {
      case StringType => string_hash64(col(idCol), seed)
      case _ => mix64_hash(col(idCol).cast("long"), seed)
    }
    // unsigned-uniform in (0,1): (h >>> 11) spans [0, 2^53) exactly like the
    // double-mantissa trick; +0.5 keeps u strictly positive
    val u = (shiftrightunsigned(h, 11).cast("double") + lit(0.5)) /
      lit(9007199254740992.0) // 2^53
    val key = -log(u) / col(weightCol).cast("double")
    df.where(col(weightCol).isNotNull && col(weightCol).cast("double") > 0.0)
      .withColumn("__wk", key)
      .orderBy("__wk").limit(k).drop("__wk")
  }

  /** As-of (point-in-time) join: for each left row, attach the payload of the
    * single right row with the same `on` keys whose `rightTime` is the nearest
    * at-or-before (`direction = "backward"`) or at-or-after (`"forward"`) the
    * left row's `leftTime` — pandas `merge_asof` / DuckDB `ASOF JOIN`
    * semantics, left-outer (unmatched left rows keep null payload).
    *
    * Spark-first as the union-sort idiom rather than a range join: both sides
    * are projected onto a common shape, unioned, and scanned once per key in
    * time order with a running `last(payload, ignoreNulls)` window — the
    * most-recent-eligible right row "fills forward" onto each left row. One
    * hash exchange on `on` plus a per-key sort; no join explosion, no
    * per-left-row right-side probe, and the running frame is evaluated
    * incrementally (never buffers the whole history). At 100 TB this is the
    * shape that survives: cost is O(|L|+|R|) through one shuffle, vs the
    * O(|L|·|R|) blowup of the naive time-inequality join.
    *
    * Hot-key guard (`timeBucket = Some(w)`): a single extremely hot key
    * serializes its whole history into one task under the plain per-key
    * window. With a coarse time bucket the partition key becomes
    * (`on`, floor(time / w)) — a hot key's timeline splits across tasks —
    * and the boundary is fixed up in a second, compacted pass: each
    * (key, bucket) reduces to its final in-bucket payload (one row per
    * bucket), a running window over that model-sized table yields each
    * bucket's carry-in from every earlier bucket, and left rows that found
    * nothing inside their own bucket coalesce to the carry. Right rows in an
    * earlier bucket are strictly earlier in time than every left row of a
    * later bucket, so the carry is always eligible regardless of
    * `allowExactMatches`. Output is row-for-row identical to the unsplit
    * path (spec'd); cost is one extra shuffle of the compacted bucket table
    * plus a rejoin on (key, bucket) — pick `w` so a hot key's per-bucket row
    * count fits a task, e.g. hours-to-days for event streams.
    *
    * Determinism: equal (`on`, time) ties between left and right rows are
    * resolved by `allowExactMatches` (true ⇒ an equal-time right row is
    * eligible); ties AMONG right rows at the same instant are broken by
    * `rightTieCol` (max wins) when given, otherwise the pick among identical
    * instants is scan-order-dependent — pass a tie column for fully
    * deterministic output. `tolerance` (same units as a double cast of the
    * time columns: seconds for timestamps) nulls out matches further than
    * that from the left row, still keeping the left row.
    */
  def asofJoin(
      left: DataFrame,
      right: DataFrame,
      on: Seq[String],
      leftTime: String,
      rightTime: String,
      rightCols: Seq[String],
      direction: String = "backward",
      allowExactMatches: Boolean = true,
      tolerance: Option[Double] = None,
      rightTieCol: Option[String] = None,
      suffix: String = "_right",
      timeBucket: Option[Double] = None): DataFrame = {
    require(on.nonEmpty, "asofJoin needs at least one equi-key column")
    timeBucket.foreach(w => require(w > 0, "timeBucket must be positive"))
    require(direction == "backward" || direction == "forward",
      "direction must be 'backward' or 'forward'")
    require(rightCols.nonEmpty, "rightCols must name at least one payload column")
    rightTieCol.foreach(tc =>
      require(rightCols.contains(tc), "rightTieCol must be one of rightCols"))

    // payload travels as ONE struct (right time first, for the tolerance
    // check) so the window pick is atomic — never fields stitched from
    // different right rows
    val payStruct = struct(
      col(rightTime).as("__rt") +: rightCols.map(c => col(c).as(c)): _*)
    val payType = right.select(payStruct.as("__pay")).schema("__pay").dataType
    val lrowType = left.select(struct(left.columns.map(col): _*).as("__lrow"))
      .schema("__lrow").dataType

    val lPart = left.select(
      on.map(col) ++ Seq(col(leftTime).as("__t"), lit(1).as("__side"),
        struct(left.columns.map(col): _*).as("__lrow"),
        lit(null).cast(payType).as("__pay")): _*)
    val rPart = right.select(
      on.map(col) ++ Seq(col(rightTime).as("__t"), lit(0).as("__side"),
        lit(null).cast(lrowType).as("__lrow"),
        payStruct.as("__pay")): _*)

    // scan order: backward walks time ascending (forward descending) so the
    // running last() always holds the nearest eligible right row; the side
    // key decides whether an equal-time right row lands before (eligible) or
    // after (excluded) the left rows at that instant
    val tOrd = if (direction == "backward") col("__t").asc else col("__t").desc
    val sOrd = if (allowExactMatches) col("__side").asc else col("__side").desc
    val tie = rightTieCol.map(tc => col("__pay").getField(tc).asc).toSeq
    val scanOrd = tOrd +: sOrd +: tie
    val W = org.apache.spark.sql.expressions.Window

    val matched = timeBucket match {
      case None =>
        val w = W.partitionBy(on.map(col): _*)
          .orderBy(scanOrd: _*)
          .rowsBetween(W.unboundedPreceding, W.currentRow)
        lPart.unionByName(rPart)
          .withColumn("__match", last(col("__pay"), ignoreNulls = true).over(w))
          .where(col("__side") === 1)
      case Some(wb) =>
        // hot-key pre-split: window per (key, coarse time bucket) — the same
        // running pick, but a hot key's sort is now one task per bucket
        val partCols = on.map(col) :+ col("__tb")
        val wIn = W.partitionBy(partCols: _*).orderBy(scanOrd: _*)
          .rowsBetween(W.unboundedPreceding, W.currentRow)
        // bucket-final payload: what the running pick holds at the END of the
        // bucket — same partitioning and order as wIn, so both windows
        // evaluate in one Window exec over one sort
        val wFin = W.partitionBy(partCols: _*).orderBy(scanOrd: _*)
          .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
        val rows = lPart.unionByName(rPart)
          .withColumn("__tb", floor(col("__t").cast("double") / wb).cast("long"))
          .withColumn("__match", last(col("__pay"), ignoreNulls = true).over(wIn))
          .withColumn("__bfin", last(col("__pay"), ignoreNulls = true).over(wFin))
        // boundary fix-up on the COMPACTED (key, bucket) table: carry-in for
        // bucket b = last non-null bucket-final among buckets strictly before
        // b in scan direction. One row per populated bucket — model-sized
        // relative to the data, so this window never sees a hot key's rows
        val bOrd = if (direction == "backward") col("__tb").asc else col("__tb").desc
        val wCarry = W.partitionBy(on.map(col): _*).orderBy(bOrd)
          .rowsBetween(W.unboundedPreceding, -1)
        val carry = rows.groupBy(partCols: _*)
          .agg(first(col("__bfin"), ignoreNulls = true).as("__bf"))
          .withColumn("__carry", last(col("__bf"), ignoreNulls = true).over(wCarry))
          .select(on.map(col) :+ col("__tb") :+ col("__carry"): _*)
        rows.where(col("__side") === 1)
          .join(carry, on :+ "__tb")
          .withColumn("__match", coalesce(col("__match"), col("__carry")))
    }
    val inTol = tolerance match {
      case Some(tol) =>
        abs(col("__t").cast("double") - col("__match").getField("__rt").cast("double")) <= lit(tol)
      case None => lit(true)
    }
    val gated = matched.withColumn("__match",
      when(col("__match").isNotNull && inTol, col("__match")))

    val leftNames = left.columns.toSet
    val outCols =
      left.columns.toSeq.map(c => col("__lrow").getField(c).as(c)) ++
        rightCols.map { c =>
          val name = if (leftNames(c)) c + suffix else c
          col("__match").getField(c).as(name)
        }
    gated.select(outCols: _*)
  }

  /** Writes a bucketed+sorted table so repeated equi-joins/aggregations on
    * `key` are exchange-free (Spark bucketing: both sides pre-partitioned on
    * disk, the join plan has no shuffle). The 100 TB pattern for fact-to-fact
    * joins repeated across jobs — pay the shuffle once at write time.
    */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet").saveAsTable(table)

  /** Points from lon/lat columns (erde/utils.py:88 `lonlat2gdf`): recognizes
    * the same column-name combos and adds `lon`/`lat` double columns
    * normalized to those names (geometry construction is done by
    * `functions.GeoFunctions.st_point` when a geometry object is needed).
    */
  def lonlatColumns(df: DataFrame): (Column, Column) = {
    val cols = df.columns.toSet
    val combos = Seq("lon" -> "lat", "lng" -> "lat", "long" -> "lat",
      "longitude" -> "latitude", "x" -> "y", "X" -> "Y")
    combos.collectFirst { case (x, y) if cols(x) && cols(y) => (col(x), col(y)) }
      .getOrElse(throw new IllegalArgumentException(
        "Could not find lon/lat columns. Possible combinations: lon/lat, lng/lat, long/lat, longitude/latitude, x/y, X/Y"))
  }

  /** Event-history compaction into validity intervals (SCD2 shape): rows
    * `(key…, value…, ts)` collapse to one row per RUN of consecutive equal
    * values per key — `(key…, value…, valid_from, valid_to)`, `valid_to`
    * exclusive (= the next run's `valid_from`; null while current). The
    * change-data-capture → dimension-table step: a billion raw readings
    * become one row per actual change.
    *
    * `tieCol` totalizes the order under equal timestamps. Gaps-and-islands
    * over per-key windows: a key's history sorts inside one task (dimension
    * keys are high-cardinality; a single key's history is the unit a task
    * must hold anyway).
    */
  def compactHistory(
      df: DataFrame,
      keyCols: Seq[String],
      tsCol: String,
      valueCols: Seq[String],
      tieCol: String): DataFrame = {
    require(keyCols.nonEmpty && valueCols.nonEmpty, "keyCols and valueCols required")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(tsCol), col(tieCol))
    val v = struct(valueCols.map(col): _*)
    val marked = df
      .withColumn("__prev", lag(v, 1).over(w))
      .withColumn("__brk", when(col("__prev").isNull || col("__prev") =!= v, 1).otherwise(0))
      .withColumn("__run", sum(col("__brk")).over(w))
    val runs = marked
      .groupBy((keyCols ++ valueCols).map(col) :+ col("__run"): _*)
      .agg(min(col(tsCol)).as("valid_from"))
    val w2 = Window.partitionBy(keyCols.map(col): _*).orderBy(col("valid_from"))
    runs
      .withColumn("valid_to", lead(col("valid_from"), 1).over(w2))
      .drop("__run")
  }

  /** Event-sequence funnel (the windowFunnel analytic, ClickHouse's public
    * semantics re-derived): for each key, the deepest prefix of `steps`
    * completed in order, with every step inside `windowSeconds` of the
    * step-1 event that anchors the chain, and strictly increasing
    * timestamps. Maximal over anchors: EVERY step-1 event starts a chain
    * (a later anchor can out-reach the first when the early attempt
    * stalls), each chain greedily takes the earliest eligible next event —
    * for fixed anchor the earliest-next chain dominates any other choice,
    * so per-anchor greedy IS the per-anchor maximum.
    *
    * Scale shape: one chain level = one forward strict [[asofJoin]] of the
    * live anchors against that step's events — union-sort, O(A + E) state,
    * no per-key quadratic anchor × event join anywhere — so the whole
    * funnel is `steps.size − 1` linear passes. Window comparisons run in
    * exact integer microseconds (`unix_micros`), never double seconds.
    *
    * Output: one row per key with a step-1 event — `funnel_level` (1-based
    * deepest level over that key's anchors) and `n_complete` (how many
    * anchors ran the full funnel). Keys without a step-1 event are absent:
    * level 0 is "nothing to report".
    */
  def windowFunnel(
      events: DataFrame,
      keyCol: String,
      typeCol: String,
      timeCol: String,
      steps: Seq[String],
      windowSeconds: Double): DataFrame = {
    require(steps.size >= 2, "a funnel needs at least two steps")
    require(windowSeconds > 0, "windowSeconds must be positive")
    val winMicros = math.round(windowSeconds * 1e6)
    val stepEv = steps.map(s => events.where(col(typeCol) === s)
      .select(col(keyCol), col(timeCol)))
    var alive = stepEv.head
      .select(col(keyCol), col(timeCol).as("__t1"), col(timeCol).as("__prev"))
    val finished = scala.collection.mutable.ArrayBuffer[DataFrame]()
    for (i <- 1 until steps.size) {
      val nxt = asofJoin(alive, stepEv(i), Seq(keyCol), "__prev", timeCol,
        rightCols = Seq(timeCol), direction = "forward",
        allowExactMatches = false)
      val ok = col(timeCol).isNotNull &&
        unix_micros(col(timeCol)) <= unix_micros(col("__t1")) + lit(winMicros)
      finished += nxt.where(!ok).select(col(keyCol), lit(i).as("__lvl"))
      alive = nxt.where(ok)
        .select(col(keyCol), col("__t1"), col(timeCol).as("__prev"))
    }
    finished += alive.select(col(keyCol), lit(steps.size).as("__lvl"))
    finished.reduce(_ unionByName _)
      .groupBy(col(keyCol))
      .agg(max(col("__lvl")).as("funnel_level"),
        sum(when(col("__lvl") === steps.size, 1L).otherwise(0L)).as("n_complete"))
  }

  /** Per-key rolling time-window aggregate: for every event, the count /
    * sum / mean of `valueCol` over that key's events in the trailing
    * `windowSeconds` (inclusive both ends) — rate limiting, trailing
    * spend, rolling feature columns. A RANGE window over exact integer
    * microseconds: frame membership is a timestamp predicate, so ties and
    * ordering inside the frame cannot change the result. One key-hash
    * shuffle + per-key sort; frame state is the window's rows only.
    */
  def rollingAgg(
      events: DataFrame,
      keyCol: String,
      timeCol: String,
      valueCol: String,
      windowSeconds: Long): DataFrame = {
    require(windowSeconds > 0, "windowSeconds must be positive")
    val wUs = windowSeconds * 1000000L
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol)).orderBy(unix_micros(col(timeCol)))
      .rangeBetween(-wUs, 0)
    events
      .withColumn("rolling_n", count(lit(1)).over(w))
      .withColumn("rolling_sum", sum(col(valueCol)).over(w))
      .withColumn("rolling_mean", col("rolling_sum") / col("rolling_n"))
  }

  /** Cohort retention matrix — the other classic event analytic beside
    * [[windowFunnel]]: users are cohorted by the period of their FIRST
    * event (weekly by default), and each (cohort, offset) cell counts the
    * cohort's distinct users active `offset` periods later, with
    * `retention` = that count over the cohort size. Period indices are
    * exact integer-µs floor divisions (`div`, never double division — a
    * 2024-epoch µs count exceeds 2^53).
    *
    * Scale shape: one per-user min aggregate (first period), a user-keyed
    * join-back, one distinct on (user, cohort, offset) — bounded by
    * events — and a count aggregate; no window over the corpus, no
    * self-join. Output rows ≤ cohorts × (maxOffset + 1): model-sized.
    */
  def retentionCohorts(
      events: DataFrame,
      keyCol: String,
      timeCol: String,
      periodSeconds: Long = 604800L,
      maxOffset: Int = 8): DataFrame = {
    require(periodSeconds > 0 && maxOffset >= 0, "positive period, maxOffset >= 0")
    val pUs = periodSeconds * 1000000L
    val withP = events.where(col(keyCol).isNotNull && col(timeCol).isNotNull)
      .select(col(keyCol).as("__u"),
        expr(s"unix_micros(`$timeCol`) div ${pUs}L").as("__p"))
    val firsts = withP.groupBy("__u").agg(min("__p").as("cohort"))
    val sizes = firsts.groupBy("cohort").agg(count(lit(1)).as("n_cohort"))
    withP.join(firsts, "__u")
      .select(col("__u"), col("cohort"), (col("__p") - col("cohort")).as("offset"))
      .where(col("offset") <= maxOffset)
      .distinct()
      .groupBy("cohort", "offset").agg(count(lit(1)).as("n_active"))
      .join(sizes, "cohort")
      .withColumn("retention",
        col("n_active").cast("double") / col("n_cohort").cast("double"))
  }

  /** Deterministic pivot: one column per EXPLICIT `pivotValues` entry (the
    * two-pass value-discovery variant is non-deterministic in column order
    * and costs an extra job — declare the columns, as production reports
    * do), summing `valueCol`. Missing cells are 0, not null. One map-side-
    * combined aggregation; the pivot is a projection, not a second shuffle.
    */
  def pivotSum(
      df: DataFrame,
      groupCols: Seq[String],
      pivotCol: String,
      pivotValues: Seq[String],
      valueCol: String): DataFrame = {
    require(groupCols.nonEmpty && pivotValues.nonEmpty, "groupCols and pivotValues required")
    val aggs = pivotValues.map(v =>
      sum(when(col(pivotCol) === v, col(valueCol)).otherwise(lit(0.0))).as(v))
    df.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Per-group z-score outlier flagging — the data-quality gate for numeric
    * pipeline columns (value spikes, sensor glitches, corrupt counts):
    * appends `zscore` = (x − mean)/σ within each group (population σ from
    * the sufficient statistics Σx, Σx², n) and `is_outlier` = |z| > `z`.
    * Zero-variance groups z-score to 0 (never outliers).
    *
    * Scale shape: ONE map-side-combined aggregation collapses each group to
    * its three sufficient statistics, and the join-back keys on the group —
    * the stats table is group-count-sized, so AQE broadcasts it in the
    * common case. The mean/variance derive from exact sums in a fixed
    * expression tree `(Σx² − Σx·Σx/n)/n`, so on integer-valued columns the
    * z-scores are bit-reproducible across engines and partitionings.
    */
  def flagOutliers(
      df: DataFrame,
      valueCol: String,
      groupCols: Seq[String],
      z: Double = 3.0): DataFrame = {
    require(groupCols.nonEmpty, "flagOutliers needs at least one group column")
    require(z > 0, "z threshold must be positive")
    val v = col(valueCol).cast("double")
    val stats = df.groupBy(groupCols.map(col): _*)
      .agg(count(v).as("__n"), sum(v).as("__s"), sum(v * v).as("__s2"))
    val mean = col("__s") / col("__n")
    val variance = (col("__s2") - col("__s") * col("__s") / col("__n")) / col("__n")
    df.join(stats, groupCols)
      .withColumn("zscore",
        when(variance > 0, (v - mean) / sqrt(variance)).otherwise(lit(0.0)))
      .withColumn("is_outlier", abs(col("zscore")) > z)
      .drop("__n", "__s", "__s2")
  }

  /** Per-key lag-k autocorrelation over the [[gapFill]]ed series — the
    * seasonality/persistence diagnostic (lag 24 on hourly buckets reads
    * daily rhythm): Pearson correlation of the forward-filled series
    * against itself `lagBuckets` back, from the same FIXED
    * sufficient-statistics tree as `Profiling.corrMatrix` (so the oracle
    * mirrors arithmetic, not a library `corr`). Zero-variance series yield
    * the −1 sentinel; keys with fewer than 2 overlapping pairs drop.
    *
    * Scale shape: gapFill's cost dominates (one (key, bucket) agg + the
    * spine); the lag is a window over the per-key DENSE series (span/step
    * rows — the same bounded budget gapFill documents), and the ACF itself
    * is one key-grouped aggregation of six sums.
    */
  def autocorrelation(
      events: DataFrame,
      keyCol: String,
      timeCol: String,
      valueCol: String,
      stepSeconds: Long,
      lagBuckets: Int,
      tieCol: String): DataFrame = {
    require(lagBuckets >= 1, "lagBuckets must be positive")
    val filled = gapFill(events, keyCol, timeCol, valueCol, stepSeconds, tieCol)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol)).orderBy(col("bucket"))
    val x = col("filled"); val y = lag(col("filled"), lagBuckets).over(w)
    val pairs = filled.withColumn("__y", y).where(col("__y").isNotNull)
    val n = col("__n"); val sx = col("__sx"); val sy = col("__sy")
    val num = n * col("__sxy") - sx * sy
    val dx = n * col("__sxx") - sx * sx
    val dy = n * col("__syy") - sy * sy
    pairs.groupBy(col(keyCol))
      .agg(count(lit(1)).as("__n"),
        sum(x).as("__sx"), sum(col("__y")).as("__sy"),
        sum(x * col("__y")).as("__sxy"),
        sum(x * x).as("__sxx"), sum(col("__y") * col("__y")).as("__syy"))
      .where(n >= 2)
      .select(col(keyCol), n.as("n_pairs"),
        when(dx > 0 && dy > 0, num / sqrt(dx * dy))
          .otherwise(lit(-1.0)).as("acf"))
  }

  /** Per-key feature rollup — the one-pass feature-engineering aggregate a
    * model pipeline runs before training (activity counts per type,
    * value moments, recency/tenure in exact integer µs): everything derives
    * from ONE map-side-combined groupBy on the key; conditional counts are
    * projections inside the same aggregate, never separate scans or pivot
    * passes. Output is key-cardinality-sized.
    */
  def keyFeatures(
      events: DataFrame,
      keyCol: String,
      timeCol: String,
      typeCol: String,
      valueCol: String,
      types: Seq[String]): DataFrame = {
    require(types.nonEmpty, "declare the event types to count (no discovery pass)")
    val typeCounts = types.map(t =>
      sum(when(col(typeCol) === t, 1L).otherwise(0L)).as(s"n_$t"))
    events.where(col(keyCol).isNotNull)
      .groupBy(col(keyCol))
      .agg(typeCounts.head,
        typeCounts.tail ++ Seq(
          count(lit(1)).as("n_events"),
          sum(col(valueCol)).as("value_sum"),
          avg(col(valueCol)).as("value_mean"),
          min(unix_micros(col(timeCol))).as("first_us"),
          max(unix_micros(col(timeCol))).as("last_us")): _*)
      .withColumn("tenure_us", col("last_us") - col("first_us"))
  }

  /** Linear multi-touch attribution — the conversion-credit analytic beside
    * [[windowFunnel]]: each conversion's value splits EQUALLY across every
    * touch event of the same key inside the `windowSeconds` lookback
    * (touch.ts ∈ [conv.ts − W, conv.ts], closed ends); per touch, the
    * credited value sums over the conversions it assisted. (Last-touch
    * attribution is [[asofJoin]] with the conversion as the left side —
    * this operator covers the multi-touch family the as-of cannot.)
    *
    * Scale shape: ONE key-equi hash join with the time window as a
    * codegen'd residual — pair volume is each key's true touch×conversion
    * density inside the window, the analytic's own answer. The
    * per-conversion touch count is a window over the PAIRS (bounded by that
    * same density), and the final rollup keys on touch id. Hot-key caveat
    * as [[asofJoin]]: one pathological key serializes its own pairs, split
    * upstream if a key can hold millions of events. Exact integer-µs
    * window arithmetic (`unix_micros`, never double timestamps).
    */
  def attributionLinear(
      events: DataFrame,
      keyCol: String,
      timeCol: String,
      typeCol: String,
      convType: String,
      touchTypes: Seq[String],
      valueCol: String,
      windowSeconds: Long,
      idCol: String): DataFrame = {
    require(touchTypes.nonEmpty && windowSeconds > 0, "touch types and positive window required")
    val wUs = windowSeconds * 1000000L
    val convs = events.where(col(typeCol) === convType && col(keyCol).isNotNull)
      .select(col(idCol).as("__cid"), col(keyCol).as("__k"),
        unix_micros(col(timeCol)).as("__ct"), col(valueCol).as("__v"))
    val touches = events.where(col(typeCol).isin(touchTypes: _*) && col(keyCol).isNotNull)
      .select(col(idCol).as("touch_id"), col(keyCol).as("__k"),
        unix_micros(col(timeCol)).as("__tt"))
    val pairs = convs.join(touches, Seq("__k"))
      .where(col("__tt") >= col("__ct") - wUs && col("__tt") <= col("__ct"))
    val perConv = org.apache.spark.sql.expressions.Window.partitionBy("__cid")
    pairs.withColumn("__n", count(lit(1)).over(perConv))
      .groupBy("touch_id")
      .agg(count(lit(1)).as("n_convs"),
        sum(col("__v") / col("__n")).as("credit"))
  }

  /** Market-basket co-occurrence with lift — the item2item recommender /
    * association-rule primitive: for items grouped into baskets (order,
    * session, document), every unordered within-basket pair is counted and
    * scored with `lift = N·c(a,b) / (c(a)·c(b))` (> 1 ⇒ the pair co-occurs
    * more than independence predicts). Items dedup within a basket first
    * (multiplicity is not affinity), pairs orient `item_a < item_b` so each
    * counts once, and `minCount` prunes the noise tail.
    *
    * Scale shape: the pair space is Σ n_b·(n_b−1)/2 over basket sizes — a
    * per-basket self-join that never leaves the basket key's hash bucket.
    * That quadratic is the operator's definition; the guard that matters at
    * 100 TB is `maxBasket`, which drops degenerate mega-baskets (a crawler
    * session with 10⁵ items would alone contribute 5·10⁹ pairs) BEFORE the
    * pair join, map-side. Item marginals are one extra aggregation; the
    * lift join keys on single items.
    */
  def basketLift(
      df: DataFrame,
      basketCol: String,
      itemCol: String,
      minCount: Long = 1L,
      maxBasket: Int = 1000): DataFrame = {
    require(maxBasket >= 2, "maxBasket must be at least 2")
    val items = df
      .where(col(basketCol).isNotNull && col(itemCol).isNotNull)
      .select(col(basketCol).as("__b"), col(itemCol).as("__i"))
      .distinct()
    // sized feeds FOUR consumers (N, marginals, both pair-join sides) —
    // persisted, listener-released on the caller's action (see Caches)
    val sized = items.join(
      items.groupBy("__b").agg(count(lit(1)).as("__n"))
        .where(col("__n") <= maxBasket && col("__n") >= 2),
      "__b")
      .transform(Caches.cachedUntilAction)
    // N travels as a broadcast 1-row aggregate instead of a driver-side
    // count: the scalar fetch was its own full pass over sized (a separate
    // job) just to embed a literal the plan can carry itself
    val nb = sized.agg(countDistinct(col("__b")).as("__nb"))
    val marg = sized.groupBy("__i").agg(count(lit(1)).as("__m"))
    val pairs = sized.as("x").join(sized.as("y"),
        col("x.__b") === col("y.__b") && col("x.__i") < col("y.__i"))
      .groupBy(col("x.__i").as("item_a"), col("y.__i").as("item_b"))
      .agg(count(lit(1)).as("n_both"))
      .where(col("n_both") >= minCount)
    pairs
      .join(marg.select(col("__i").as("item_a"), col("__m").as("n_a")), "item_a")
      .join(marg.select(col("__i").as("item_b"), col("__m").as("n_b")), "item_b")
      .crossJoin(broadcast(nb))
      .withColumn("lift",
        col("__nb") * col("n_both").cast("double") /
          (col("n_a").cast("double") * col("n_b").cast("double")))
      .drop("__nb")
  }

  /** First-order Markov transition matrix over per-key event sequences —
    * the journey/funnel-adjacent analytic (what follows what, and how
    * often): consecutive events per key (ordered by time, ties by `tieCol`
    * so sequences are deterministic) become (from, to) pairs, counted and
    * row-normalized into transition probabilities.
    *
    * Scale shape: ONE key-hash shuffle for the per-key sort window (the
    * same frame sessionize uses), then two model-sized aggregations —
    * states² rows at most. No self-join; the sequence pairing is a `lead`.
    */
  def transitionMatrix(
      events: DataFrame,
      keyCol: String,
      timeCol: String,
      stateCol: String,
      tieCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol)).orderBy(col(timeCol), col(tieCol))
    val pairs = events
      .where(col(keyCol).isNotNull)
      .select(col(stateCol).as("from_state"),
        lead(col(stateCol), 1).over(w).as("to_state"))
      .where(col("to_state").isNotNull)
    val counts = pairs.groupBy("from_state", "to_state")
      .agg(count(lit(1)).as("n_transitions"))
    val totals = counts.groupBy("from_state")
      .agg(sum("n_transitions").as("__row_total"))
    counts.join(totals, "from_state")
      .withColumn("p",
        col("n_transitions").cast("double") / col("__row_total").cast("double"))
      .drop("__row_total")
  }

  /** Time-series resample + forward fill — the gap-filling step every
    * monitoring/feature pipeline needs before rolling models: each key's
    * events are bucketed to `stepSeconds`, the LAST value inside each
    * bucket wins (ordered by time then `tieCol`, so ties are deterministic),
    * the per-key [first, last] bucket range is densified, and empty buckets
    * carry the previous bucket's value forward. `is_gap` marks carried rows.
    *
    * Scale shape: one (key, bucket) aggregation collapses the raw events —
    * the only corpus-sized shuffle; the per-key range table is key-count-
    * sized; `sequence` + explode densifies DISTRIBUTED (no driver
    * generation), and the forward-fill window orders each key by bucket —
    * bounded by span/step rows per key, the caller's densification budget
    * (pick steps so span/step stays ~1e4, exactly as a time-series store
    * would). Bucket indices are exact integer-µs floor divisions (`div`,
    * never `/`: 2024-epoch µs exceeds 2^53).
    */
  def gapFill(
      events: DataFrame,
      keyCol: String,
      timeCol: String,
      valueCol: String,
      stepSeconds: Long,
      tieCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__k").orderBy("bucket")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    gapSpine(events, keyCol, timeCol, valueCol, stepSeconds, tieCol)
      .select(col("__k").as(keyCol), col("bucket"),
        last(col("__bv"), ignoreNulls = true).over(w).as("filled"),
        col("__bv").isNull.as("is_gap"))
  }

  /** Shared front half of the gap fillers: per-(key, step-bucket) latest
    * value (atomic max_by pick), densified over each key's [min, max]
    * bucket span (distributed `sequence` explode — the spine grows with
    * keys at constant per-key span, never with the time domain), left-joined
    * so gap buckets carry null.
    */
  private def gapSpine(
      events: DataFrame,
      keyCol: String,
      timeCol: String,
      valueCol: String,
      stepSeconds: Long,
      tieCol: String): DataFrame = {
    require(stepSeconds > 0, "stepSeconds must be positive")
    val sUs = stepSeconds * 1000000L
    val bucketed = events
      .where(col(keyCol).isNotNull && col(timeCol).isNotNull)
      .select(col(keyCol).as("__k"),
        expr(s"unix_micros(`$timeCol`) div ${sUs}L").as("bucket"),
        col(valueCol).as("__v"), col(timeCol).as("__t"), col(tieCol).as("__tie"))
      .groupBy("__k", "bucket")
      .agg(max_by(col("__v"), struct(col("__t"), col("__tie"))).as("__bv"))
    val ranges = bucketed.groupBy("__k")
      .agg(min("bucket").as("__b0"), max("bucket").as("__b1"))
    val spine = ranges.select(col("__k"),
      explode(sequence(col("__b0"), col("__b1"))).as("bucket"))
    spine.join(bucketed, Seq("__k", "bucket"), "left")
  }

  /** [[gapFill]]'s linear-interpolation companion — the sensor/metric
    * resampling fill (a counter sampled irregularly, a gauge with dropped
    * scrapes): each gap bucket takes the two-point interpolation between
    * its nearest OBSERVED neighbors,
    * `prev + (next − prev) · (b − b_prev)/(b_next − b_prev)`, rounded to 6.
    * Every interior gap has both neighbors by construction (the spine spans
    * each key's [min, max] observed buckets; the endpoints are observed),
    * so the output carries no nulls. Observed buckets pass their own value
    * through (rounded the same way).
    *
    * Scale shape: identical to [[gapFill]] — one map-side-combined bucket
    * collapse, a per-key spine explode, then two per-key ordered windows
    * (previous / next observed); window width is the key's series, never
    * the corpus.
    */
  def gapFillInterp(
      events: DataFrame,
      keyCol: String,
      timeCol: String,
      valueCol: String,
      stepSeconds: Long,
      tieCol: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val wPrev = W.partitionBy("__k").orderBy("bucket")
      .rowsBetween(W.unboundedPreceding, 0)
    val wNext = W.partitionBy("__k").orderBy("bucket")
      .rowsBetween(0, W.unboundedFollowing)
    val obsB = when(col("__bv").isNotNull, col("bucket"))
    val prevV = last(col("__bv"), ignoreNulls = true).over(wPrev)
    val prevB = last(obsB, ignoreNulls = true).over(wPrev)
    val nextV = first(col("__bv"), ignoreNulls = true).over(wNext)
    val nextB = first(obsB, ignoreNulls = true).over(wNext)
    val ratio = (col("bucket") - prevB).cast("double") / (nextB - prevB).cast("double")
    // +1e-9 before the 6-round: quantized inputs × dyadic gap fractions
    // land EXACTLY on the .5e-6 decimal tie (e.g. 23.2403125), where
    // Spark's shortest-string HALF_UP and DuckDB's scaled-multiply round
    // can disagree on the same double. The bias (≫ ulp, ≪ resolution)
    // moves every structural tie decisively up on BOTH sides.
    val interp = when(col("__bv").isNotNull, col("__bv"))
      .otherwise(prevV + (nextV - prevV) * ratio)
    gapSpine(events, keyCol, timeCol, valueCol, stepSeconds, tieCol)
      .select(col("__k").as(keyCol), col("bucket"),
        round(interp + lit(1e-9), 6).as("interp6"),
        col("__bv").isNull.as("is_gap"))
  }

  /** Changelog application (Delta-style MERGE collapsed to latest-wins) —
    * the CDC-ingest primitive: `changes` carries upserts and deletes keyed
    * like `base`, ordered by `ordCol` (ties broken by `tieCol` so replays
    * are deterministic); the newest change per key wins, a `delete` removes
    * the key, an upsert replaces the payload, and untouched base rows pass
    * through. Payload = `base`'s non-key columns, which `changes` must also
    * carry.
    *
    * Scale shape: one (keys)-grouped aggregation collapses the changelog to
    * its frontier (max_by over an atomic payload struct — single shuffle,
    * map-side combined), then ONE key-equi full-outer join against base.
    * No window over base, no sort. At 100 TB base stays bucketed by key and
    * the frontier is typically days-sized — AQE broadcasts it.
    */
  def applyChangelog(
      base: DataFrame,
      changes: DataFrame,
      keys: Seq[String],
      ordCol: String,
      opCol: String,
      tieCol: String): DataFrame = {
    require(keys.nonEmpty, "applyChangelog needs key columns")
    val payload = base.columns.filterNot(keys.contains).toSeq
    val frontier = changes
      .groupBy(keys.map(col): _*)
      .agg(max_by(
        struct((opCol +: payload).map(col): _*),
        struct(col(ordCol), col(tieCol))).as("__c"))
    val joined = base.join(frontier, keys, "full_outer")
    val isDelete = col("__c").isNotNull && col("__c")(opCol) === "delete"
    val takeChange = col("__c").isNotNull
    joined
      .where(!isDelete)
      .select(keys.map(col) ++ payload.map(p =>
        when(takeChange, col("__c")(p)).otherwise(col(p)).as(p)): _*)
  }
}
