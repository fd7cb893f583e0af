package graft.sources

import java.nio.file.{Files, Path => JPath, Paths, FileAlreadyExistsException, StandardCopyOption, StandardOpenOption}
import java.util.UUID
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, count, countDistinct, lit, max, min, sum, when}
import org.apache.spark.sql.types.{DataType, StructType}

import graft.deleteRecursively
import graft.geom.GeoJson
import graft.geom.GeoJson.{J, JArr, JNum, JObj, JStr}

/** Transactional manifest table — the ACID storage idiom a long-lived
  * 100 TB dataset needs on top of plain parquet directories (the
  * Delta/Iceberg shape, dependency-free). A table is a directory:
  *
  * {{{
  *   root/
  *     _graft_manifest/v00000001.json   // snapshot log, append-only
  *     _graft_manifest/_last_checkpoint // pointer to the newest checkpoint
  *     _graft_manifest/ckpt/v00000020/  // periodic snapshot: state.json + parquet census
  *     data/<commit-uuid>/part-*.parquet
  *     _graft_feed/v00000001_00000.parquet  // append feed: hard links, see tailStream
  * }}}
  *
  * Data files are INVISIBLE until a manifest references them, so a crashed
  * writer can never corrupt readers — its half-written commit directory is
  * simply never published (and [[vacuum]] reclaims it). A manifest is
  * published by writing a temp file, fsyncing, then HARD-LINKING it to
  * `v{N}.json`: link creation is atomic and fails if the name exists, which
  * gives optimistic concurrency — two racing committers both durably write,
  * one wins version N, the loser re-reads and retries as N+1 (on an object
  * store, swap the link for the store's put-if-absent / rename-no-overwrite
  * primitive — the ONLY filesystem primitive this protocol needs).
  *
  * Each manifest records the commit's files with row counts, byte sizes and
  * per-column min/max/null-count taken from the PARQUET FOOTERS (a
  * metadata-only distributed job — no data pass), which powers [[scan]]'s
  * file skipping: a predicate on a clustered column prunes whole files
  * before Spark even plans the scan, the level ABOVE row-group pruning.
  *
  * The metadata layer is built to survive a long LIFE, not just a big
  * table: every [[CheckpointEvery]]-th commit also writes a CHECKPOINT — a
  * full snapshot of the visible file census (as PARQUET, read back by Spark:
  * columnar, splittable, never one giant driver-parsed JSON document — the
  * Iceberg manifest-list idea) plus the schema and the per-writer streaming
  * transaction marks (the Delta `_last_checkpoint` idea). Hot operations
  * (commit, read, scan, rewrite) replay the log FROM the checkpoint, so
  * their manifest-parse cost is bounded by the checkpoint interval plus
  * contention, not by table age — without it a one-trigger-per-minute
  * streaming sink makes every commit O(versions) and life-to-date cost
  * O(V²). Raw manifests are never deleted, so time travel replays exactly
  * as before (and parses BACKWARDS only to the nearest full-set manifest).
  *
  * Snapshots compose by replaying the log from the most recent `overwrite`;
  * [[read]] time-travels to any retained version and [[readSince]] serves
  * the files added by a version range (the incremental-consumer contract).
  * `(writerId, batchId)` de-duplicates streaming `foreachBatch` replays for
  * an exactly-once [[streamingAppend]] sink — scoped per writer, so two
  * queries feeding one table cannot suppress each other's batches.
  *
  * Layout rewrites complete the lakehouse verb set: [[compact]] bin-packs
  * micro-commits (and, with `sortBy`, CLUSTERS the table so stats pruning
  * bites), [[deleteWhere]] is a stats-pruned copy-on-write delete, and
  * [[merge]] a keyed MERGE with update / delete / insert-only clause
  * combinations that rewrites only the files whose key ranges overlap the
  * source. Rewrites publish FULL-SET manifests under the same
  * optimistic-concurrency protocol; `replace` (compaction) is invisible to
  * [[readSince]] consumers because it adds no logical rows.
  */
object ManifestTable {

  private val ManifestDir = "_graft_manifest"
  private val VersionRe = raw"v(\d{8})\.json".r
  private val FeedDir = "_graft_feed"
  private val CkptSubdir = "ckpt"
  private val LastCkptName = "_last_checkpoint"

  /** Commit versions divisible by this auto-write a checkpoint. 20 bounds a
    * hot op's manifest parses to <20 + contention while keeping checkpoint
    * writes rare (one parquet job per 20 commits).
    */
  private[sources] val CheckpointEvery = 20L

  // observability seam for the bounded-metadata-reads specs: every raw
  // v*.json parse increments this (checkpoint loads do NOT — that's the
  // point of them)
  private val manifestParses = new AtomicLong()
  private[sources] def manifestParseCount: Long = manifestParses.get()

  // test seam: forces publishFeed down the no-hardlink (copy) fallback path
  @volatile private[sources] var disableFeedLinks = false

  // a checkpoint's CONTENT is immutable once written, but a (root, version)
  // pair is not a stable identity — tests and pipelines wipe and recreate
  // tables at one path, reusing version numbers. Each checkpoint therefore
  // carries a UUID in its state.json (tiny, re-read every load; the census
  // parquet is the expensive part) and the cache keys on that id.
  private val ckptCache = new ConcurrentHashMap[(String, Long, String), TableState]()

  private def feedName(version: Long, i: Int) = f"v$version%08d_$i%05d.parquet"

  // ---------------------------------------------------------------- model

  /** Per-column file statistics. `kind` is "long" (all parquet integer
    * physical types incl. date days and timestamp micros), "double", or
    * "string"; `min`/`max` are exact decimal/raw strings of that kind.
    * Absent stats (binary, nested, non-finite floats, or a row group that
    * didn't record them) simply omit the column — pruning stays conservative.
    */
  final case class ColStats(kind: String, min: String, max: String, nulls: Long)

  final case class FileEntry(path: String, rows: Long, bytes: Long,
      stats: Map[String, ColStats])

  final case class Manifest(version: Long, action: String, schemaJson: String,
      files: Seq[FileEntry], batchId: Option[Long], writerId: Option[String],
      tsMs: Long) {
    def schema: StructType = DataType.fromJson(schemaJson).asInstanceOf[StructType]
  }

  /** Driver-side view of the table at a version: the full visible file set,
    * the last manifest's schema, and the per-writer streaming high-water
    * marks (`writer → (batchId, version committed at)`). Built from the
    * newest checkpoint plus a bounded log tail — never a full-log replay on
    * hot paths.
    */
  private[sources] final case class TableState(version: Long, schemaJson: String,
      files: Seq[FileEntry], txns: Map[String, (Long, Long)]) {
    def schema: StructType = DataType.fromJson(schemaJson).asInstanceOf[StructType]
  }

  /** Conservative stats predicates for [[scan]]'s file skipping. A file is
    * read unless its stats PROVE no row can match; the same predicate is
    * also applied as a real `where` on the rows, so pruning can only save
    * work, never change results.
    */
  sealed trait Pred {
    private[sources] def toColumn: Column
  }
  final case class Ge(c: String, v: Any) extends Pred {
    private[sources] def toColumn: Column = col(c) >= lit(v)
  }
  final case class Le(c: String, v: Any) extends Pred {
    private[sources] def toColumn: Column = col(c) <= lit(v)
  }
  final case class Eq(c: String, v: Any) extends Pred {
    private[sources] def toColumn: Column = col(c) === lit(v)
  }
  final case class Between(c: String, lo: Any, hi: Any) extends Pred {
    private[sources] def toColumn: Column = col(c) >= lit(lo) && col(c) <= lit(hi)
  }
  final case class And(ps: Seq[Pred]) extends Pred {
    private[sources] def toColumn: Column = ps.map(_.toColumn).reduce(_ && _)
  }
  final case class Or(ps: Seq[Pred]) extends Pred {
    private[sources] def toColumn: Column = ps.map(_.toColumn).reduce(_ || _)
  }

  /** WHEN MATCHED clause of [[merge]]: replace the row with the source's
    * ([[MatchedUpdate]], the upsert default), drop it ([[MatchedDelete]]),
    * or leave it untouched ([[MatchedIgnore]] — with inserts on, that is the
    * insert-if-new merge, which never rewrites a single existing file).
    */
  sealed trait MatchedAction
  case object MatchedUpdate extends MatchedAction
  case object MatchedDelete extends MatchedAction
  case object MatchedIgnore extends MatchedAction

  // -------------------------------------------------------------- commits

  /** Appends `df` as a new version; returns the committed version.
    *
    * With `mergeSchema` the append may EVOLVE the table: columns new to the
    * table are added at the end (earlier files read back null there — the
    * parquet reader fills missing columns), and columns missing from `df`
    * null-fill forward. Shared columns must keep their exact types — a type
    * CHANGE is never silent, evolution only widens the column set. Without
    * it the schema contract stays strict (names, types, order).
    */
  def append(df: DataFrame, root: String, mergeSchema: Boolean = false): Long =
    commit(df, root, overwrite = false, batchId = None, mergeSchema = mergeSchema)

  /** Replaces the table contents as a new version (old versions stay
    * readable via time travel until [[vacuum]]); returns the version.
    */
  def overwrite(df: DataFrame, root: String): Long =
    commit(df, root, overwrite = true, batchId = None)

  /** The `foreachBatch` sink: append with the micro-batch id recorded, so a
    * replayed batch (restart between sink and checkpoint commit) is
    * detected and skipped — exactly-once table contents over Spark's
    * at-least-once replay.
    *
    * {{{ ds.writeStream.foreachBatch(ManifestTable.streamingAppend(root) _) }}}
    *
    * `writerId` scopes the idempotency mark: two DIFFERENT streaming queries
    * writing to one table must pass distinct ids (the Delta txnAppId idea),
    * or each other's batch N would be suppressed — batchIds restart at 0 per
    * query. Within one writer, batchIds are monotonic (Spark's micro-batch
    * contract), so any batch at or below the writer's recorded high-water
    * mark is a replay and is skipped.
    *
    * `autoCompactEvery = N` runs a bin-packing [[compact]] whenever the
    * landed version is a multiple of N — a streaming sink otherwise accretes
    * one micro-commit per trigger until read-side task overhead dominates
    * (the auto-OPTIMIZE idiom). The compaction publishes a `replace`, so
    * [[readSince]]/[[tailStream]] consumers are undisturbed; losing a
    * publish race just defers packing to the next cycle.
    */
  def streamingAppend(root: String, autoCompactEvery: Int = 0,
      targetBytes: Long = 128L << 20, writerId: String = "")(
      batch: DataFrame, batchId: Long): Unit = {
    val v = commit(batch, root, overwrite = false, batchId = Some(batchId),
      writerId = writerId)
    if (autoCompactEvery > 0 && v % autoCompactEvery == 0)
      try compact(batch.sparkSession, root, targetBytes)
      catch { case _: IllegalStateException => () } // raced a rewrite: next cycle
  }

  /** Core commit: stage data invisibly, collect footer stats, publish the
    * next manifest atomically (retrying the version race). Append requires
    * the schema to match the table's current schema (names, types, order —
    * nullability is excluded: parquet reads surface everything nullable);
    * overwrite may change it.
    */
  def commit(df: DataFrame, root: String, overwrite: Boolean,
      batchId: Option[Long], mergeSchema: Boolean = false,
      writerId: String = ""): Long = {
    val spark = df.sparkSession
    val rootP = Paths.get(root)
    Files.createDirectories(rootP.resolve(ManifestDir))

    // (writer, batchId) replay detection: batchIds are monotonic per writer,
    // so anything at or below the recorded high-water mark already committed
    def replayed(st: TableState): Option[Long] = batchId.flatMap { bid =>
      st.txns.get(writerId).collect {
        case (maxBid, v) if bid == maxBid => v
        case (maxBid, _) if bid < maxBid => st.version
      }
    }
    // idempotency fast path BEFORE doing any write work
    if (batchId.isDefined)
      loadState(spark, root).flatMap(replayed).foreach(v => return v)

    val commitId = UUID.randomUUID().toString
    val dataRel = s"data/$commitId"
    val dataDir = rootP.resolve(dataRel)
    df.write.parquet(dataDir.toString)
    // empty part files carry no stats and would sit in the census forever
    // (every list/scan plans them, columnStats loses its every-file
    // precondition) — drop them like stage() does; an all-empty commit
    // publishes a zero-file manifest that still pins the schema
    val entries = footerStats(spark, rootP, dataRel).filter(_.rows > 0)
    val schemaJson = df.schema.json

    var attempt = 0
    while (attempt < 64) {
      val st = loadState(spark, root)
      st.flatMap(replayed).foreach { v =>
        // a racing replica already committed this batch — discard our stage
        deleteRecursively(dataDir)
        return v
      }
      val effectiveSchemaJson = st match {
        case Some(latest) if !overwrite && mergeSchema =>
          mergedSchema(latest.schema, df.schema, root).json
        case Some(latest) if !overwrite =>
          requireSameSchema(latest.schema, df.schema, root); schemaJson
        case _ => schemaJson
      }
      val next = st.map(_.version + 1).getOrElse(1L)
      val m = Manifest(next, if (overwrite) "overwrite" else "append",
        effectiveSchemaJson, entries, batchId,
        if (batchId.isDefined && writerId.nonEmpty) Some(writerId) else None,
        System.currentTimeMillis())
      if (publish(rootP, m)) {
        if (!overwrite) publishFeed(rootP, Seq(m))
        maybeCheckpoint(spark, rootP, applyManifest(st, m), m.files.length)
        return next
      }
      attempt += 1
    }
    throw new IllegalStateException(
      s"manifest commit at $root lost the version race 64 times — giving up")
  }

  // ----------------------------------------------------- layout rewrites

  /** Bin-packs the current snapshot's small files into ~`targetBytes` files
    * (the OPTIMIZE idiom: a long-lived table accretes thousands of
    * micro-commits whose per-file task overhead eventually dominates reads).
    * With `sortBy`, EVERY file is rewritten range-partitioned and sorted on
    * those columns, so each output file owns a tight disjoint min/max slice
    * and [[scan]]'s stats pruning gets dramatically sharper — clustering is
    * the multiplier that turns footer stats into real file skipping.
    * `zorderBy` is the two-column variant: files own contiguous Morton
    * blocks of the interleaved 26-bit column ranks, so footer min/max stay
    * tight on BOTH columns and a predicate on EITHER prunes files —
    * lexicographic sortBy can only ever prune on its leading column.
    * `hilbertBy` is the same idea on the Hilbert curve (no quad-seam jumps:
    * consecutive key ranges are edge-adjacent cells, so per-file bounding
    * rectangles come out tighter than Morton's).
    *
    * Publishes a `replace` manifest: full carried+rewritten file set, zero
    * logical change. Readers are never disturbed (old versions still
    * time-travel until [[vacuum]]), and [[readSince]] consumers skip it
    * transparently. Concurrent appends are re-carried on publish retry;
    * a concurrent overwrite/replace aborts (the basis snapshot is stale).
    * Returns the new version, or the current one when there is nothing to do.
    */
  def compact(spark: SparkSession, root: String,
      targetBytes: Long = 128L << 20, sortBy: Seq[String] = Nil,
      zorderBy: Seq[String] = Nil, hilbertBy: Seq[String] = Nil): Long = {
    require(targetBytes > 0, "targetBytes must be positive")
    require(Seq(sortBy, zorderBy, hilbertBy).count(_.nonEmpty) <= 1,
      "sortBy, zorderBy and hilbertBy are alternative clusterings — pass one")
    require((zorderBy.isEmpty || zorderBy.length == 2) &&
      (hilbertBy.isEmpty || hilbertBy.length == 2),
      "zorderBy/hilbertBy interleave exactly two numeric columns; for one " +
        "column use sortBy (strictly better), for more re-cluster on the " +
        "two most-filtered ones")
    val clustered = sortBy.nonEmpty || zorderBy.nonEmpty || hilbertBy.nonEmpty
    val st = loadState(spark, root).getOrElse(throw new IllegalArgumentException(
      s"$root is not a manifest table (no ${ManifestDir})"))
    val basis = st.version
    val schema = st.schema
    val files = st.files
    val (rewrite, _) =
      if (clustered) (files, Nil)
      else files.partition(_.bytes < targetBytes)
    if (rewrite.length <= 1 && !clustered) return basis
    if (rewrite.isEmpty) return basis
    (sortBy ++ zorderBy ++ hilbertBy).foreach { c =>
      require(schema.fieldNames.contains(c), s"clustering column $c not in table schema")
    }

    val rootP = Paths.get(root)
    val nOut = math.max(1L, (rewrite.map(_.bytes).sum + targetBytes - 1) / targetBytes).toInt
    val df = framed(spark, root, schema, rewrite)
    // bin-packing merges partitions without a shuffle; clustering pays one
    // range shuffle to buy disjoint per-file stats ranges
    val out =
      if (zorderBy.nonEmpty) {
        // Z-ORDER clustering: normalize both columns to 26-bit ranks over
        // their snapshot min/max (one bounded 1-row agg), interleave the
        // bits, range-partition + sort on the z-key. Each output file then
        // owns a contiguous Morton block, so its footer min/max are tight
        // on BOTH columns and scan() prunes on either — the multi-column
        // counterpart of sortBy's single-column slices.
        val Seq(a, b) = zorderBy
        val r = df.agg(min(col(a)).cast("double"), max(col(a)).cast("double"),
          min(col(b)).cast("double"), max(col(b)).cast("double")).head()
        require(!r.anyNull, s"zorderBy columns $a/$b must be non-null numerics")
        val zk = zkey(col(a), r.getDouble(0), r.getDouble(1),
          col(b), r.getDouble(2), r.getDouble(3))
        df.withColumn("__graft_zk", zk)
          .repartitionByRange(nOut, col("__graft_zk"))
          .sortWithinPartitions(col("__graft_zk"))
          .drop("__graft_zk")
      } else if (hilbertBy.nonEmpty) {
        // HILBERT clustering: the Morton idea with the curve that never
        // jumps — consecutive key ranges are always edge-adjacent cells, so
        // per-file min/max rectangles come out tighter than z-order's at the
        // quad seams. Columns are normalized into the codegen'd st_hilbert
        // kernel's lon/lat domain; same one bounded 1-row agg.
        val Seq(a, b) = hilbertBy
        val r = df.agg(min(col(a)).cast("double"), max(col(a)).cast("double"),
          min(col(b)).cast("double"), max(col(b)).cast("double")).head()
        require(!r.anyNull, s"hilbertBy columns $a/$b must be non-null numerics")
        def norm(c: Column, lo: Double, hi: Double, outLo: Double, outSpan: Double) =
          if (hi <= lo) lit(outLo)
          else (c.cast("double") - lit(lo)) / lit(hi - lo) * lit(outSpan) + lit(outLo)
        val hk = graft.functions.GeoFunctions.st_hilbert(
          norm(col(a), r.getDouble(0), r.getDouble(1), -180.0, 360.0),
          norm(col(b), r.getDouble(2), r.getDouble(3), -90.0, 180.0), bits = 26)
        df.withColumn("__graft_hk", hk)
          .repartitionByRange(nOut, col("__graft_hk"))
          .sortWithinPartitions(col("__graft_hk"))
          .drop("__graft_hk")
      } else if (sortBy.nonEmpty)
        df.repartitionByRange(nOut, sortBy.map(col): _*)
          .sortWithinPartitions(sortBy.map(col): _*)
      else df.coalesce(nOut)
    val (staged, dataDir) = stage(spark, rootP, out)
    rewriteCommit(spark, rootP, basis, "replace", rewrite.map(_.path).toSet,
      staged, schema.json, dataDir, allowConcurrentAppends = true)
  }

  /** 52-bit Morton key of two columns normalized to 26-bit ranks — pure
    * Column bit-arithmetic (shift/mask spreads), so the whole key stays
    * inside WholeStageCodegen; no kernel call, no UDF.
    */
  private def zkey(a: Column, aLo: Double, aHi: Double,
      b: Column, bLo: Double, bHi: Double): Column = {
    val maxIdx = (1L << 26) - 1
    def rank(c: Column, lo: Double, hi: Double): Column =
      if (hi <= lo) lit(0L)
      else org.apache.spark.sql.functions.least(
        org.apache.spark.sql.functions.greatest(
          org.apache.spark.sql.functions.floor(
            (c.cast("double") - lit(lo)) / lit(hi - lo) * lit(maxIdx.toDouble)),
          lit(0L)),
        lit(maxIdx))
    def spread(c: Column): Column = {
      import org.apache.spark.sql.functions.shiftleft
      var x = c
      x = x.bitwiseOR(shiftleft(x, 16)).bitwiseAND(lit(0x0000FFFF0000FFFFL))
      x = x.bitwiseOR(shiftleft(x, 8)).bitwiseAND(lit(0x00FF00FF00FF00FFL))
      x = x.bitwiseOR(shiftleft(x, 4)).bitwiseAND(lit(0x0F0F0F0F0F0F0F0FL))
      x = x.bitwiseOR(shiftleft(x, 2)).bitwiseAND(lit(0x3333333333333333L))
      x = x.bitwiseOR(shiftleft(x, 1)).bitwiseAND(lit(0x5555555555555555L))
      x
    }
    spread(rank(a, aLo, aHi)).bitwiseOR(
      org.apache.spark.sql.functions.shiftleft(spread(rank(b, bLo, bHi)), 1))
  }

  /** Copy-on-write delete: files whose stats PROVE no row matches are
    * carried untouched (on a clustered table most of them — this is where
    * [[compact]]'s sortBy pays again); the rest are rewritten without the
    * matching rows. Rows where the predicate is NULL are kept, matching SQL
    * `DELETE WHERE`. Publishes a full-set `overwrite` manifest (logical
    * contents changed — incremental readers must re-sync, exactly as for
    * [[overwrite]]). Returns (new version, rows deleted); a provably
    * no-match predicate is a no-op returning (current version, 0).
    */
  def deleteWhere(spark: SparkSession, root: String, pred: Pred): (Long, Long) =
    deleteWhereAtBasis(spark, root, pred, basisOverride = -1L)

  /** Test seam: runs the delete as if the snapshot at `basisOverride` were
    * current (−1 = latest), exercising the conflict-abort path without a
    * true thread race.
    */
  private[sources] def deleteWhereAtBasis(spark: SparkSession, root: String,
      pred: Pred, basisOverride: Long): (Long, Long) = {
    val st = loadState(spark, root).getOrElse(throw new IllegalArgumentException(
      s"$root is not a manifest table (no ${ManifestDir})"))
    val (basis, schema, files) =
      if (basisOverride >= 0) {
        val snap = snapshotManifests(Paths.get(root), basisOverride)
        (basisOverride, snap.last.schema, snap.flatMap(_.files))
      } else (st.version, st.schema, st.files)
    val candidates = files.filter(f => mayMatch(f.stats, pred))
    if (candidates.isEmpty) return (basis, 0L)

    val rootP = Paths.get(root)
    val kept = framed(spark, root, schema, candidates)
      .where(!coalesce(pred.toColumn, lit(false)))
    val (staged, dataDir) = stage(spark, rootP, kept)
    val deleted = candidates.map(_.rows).sum - staged.map(_.rows).sum
    val v = rewriteCommit(spark, rootP, basis, "overwrite",
      candidates.map(_.path).toSet, staged, schema.json, dataDir,
      allowConcurrentAppends = false)
    (v, deleted)
  }

  /** Keyed MERGE. `whenMatched` picks the matched clause —
    * [[MatchedUpdate]] (default: every table row whose key appears in
    * `source` is replaced by the source row), [[MatchedDelete]] (matched
    * rows are dropped), or [[MatchedIgnore]] (matched rows stay as they
    * are). `insertUnmatched` controls the WHEN NOT MATCHED clause: source
    * rows with unseen keys are inserted (default) or dropped. The default
    * pair is the classic upsert; `MatchedIgnore + insert` is insert-if-new
    * (it rewrites NO existing file — the landed manifest is a plain append,
    * so [[readSince]]/[[tailStream]] consumers keep flowing); `MatchedDelete
    * + no insert` is DELETE-by-key.
    *
    * Only files whose key-column stats overlap the source's key range are
    * touched — a time-keyed upsert into a time-clustered table rewrites
    * just the recent files, which is what makes MERGE viable at 100 TB.
    * Source schema must match the table's; null source keys fail loudly
    * (they could never match and would silently become orphan inserts),
    * and duplicate source keys fail loudly (they would silently write
    * duplicate-key rows — SQL MERGE errors on multiple source matches).
    * Rewriting variants publish a full-set `overwrite` manifest; concurrent
    * commits abort (a racing append could carry keys this merge should have
    * replaced). Returns the new version.
    */
  def merge(spark: SparkSession, root: String, source: DataFrame,
      keys: Seq[String], whenMatched: MatchedAction = MatchedUpdate,
      insertUnmatched: Boolean = true): Long = {
    require(keys.nonEmpty, "merge needs at least one key column")
    require(whenMatched != MatchedIgnore || insertUnmatched,
      "merge with whenMatched = MatchedIgnore and insertUnmatched = false " +
        "is a no-op by construction")
    val st = loadState(spark, root).getOrElse(throw new IllegalArgumentException(
      s"$root is not a manifest table (no ${ManifestDir})"))
    val basis = st.version
    val schema = st.schema
    requireSameSchema(schema, source.schema, root)
    keys.foreach { k =>
      require(schema.fieldNames.contains(k), s"merge key $k not in table schema")
    }

    // one bounded pass over the source: per-key min/max for file pruning,
    // the null-key guard, and the duplicate-key guard
    val n = keys.length
    val aggs = keys.flatMap(k => Seq(min(col(k)), max(col(k)))) ++ Seq(
      sum(keys.map(c => when(col(c).isNull, 1L).otherwise(0L)).reduce(_ + _)),
      count(lit(1)),
      countDistinct(col(keys.head), keys.tail.map(col): _*))
    val b = source.agg(aggs.head, aggs.tail: _*).head()
    val total = b.getLong(2 * n + 1)
    if (total == 0L) return basis // empty source: no-op
    require(!b.isNullAt(2 * n) && b.getLong(2 * n) == 0L,
      s"merge source has null values in key columns ${keys.mkString(",")}")
    val distinct = b.getLong(2 * n + 2)
    require(distinct == total,
      s"merge source has duplicate keys on (${keys.mkString(",")}): " +
        s"$total rows, $distinct distinct — a MERGE row must match at most " +
        "one source row; de-duplicate the source first")
    val overlap = And(keys.zipWithIndex.map { case (k, i) =>
      Between(k, b.get(2 * i), b.get(2 * i + 1)): Pred
    })

    val candidates = st.files.filter(f => mayMatch(f.stats, overlap))
    val rootP = Paths.get(root)
    val candDf = framed(spark, root, schema, candidates)
    val candKeys = candDf.select(keys.map(col): _*)
    val srcKeys = source.select(keys.map(col): _*)
    // project the source into the table's column order so unions and the
    // parquet footprint stay schema-identical
    def ordered(df: DataFrame) = df.select(schema.fieldNames.map(col).toSeq: _*)
    val (out, removed, action) = whenMatched match {
      case MatchedUpdate =>
        val kept = candDf.join(srcKeys, keys, "left_anti")
        val ins = if (insertUnmatched) source
                  else source.join(candKeys, keys, "left_semi")
        (kept.unionByName(ordered(ins)), candidates.map(_.path).toSet, "overwrite")
      case MatchedDelete =>
        val kept = candDf.join(srcKeys, keys, "left_anti")
        val ins = if (insertUnmatched) ordered(source.join(candKeys, keys, "left_anti"))
                  else framed(spark, root, schema, Nil)
        (kept.unionByName(ins), candidates.map(_.path).toSet, "overwrite")
      case MatchedIgnore =>
        // insert-only: existing files are untouched — publish a plain append
        (ordered(source.join(candKeys, keys, "left_anti")), Set.empty[String], "append")
    }
    val (staged, dataDir) = stage(spark, rootP, out)
    rewriteCommit(spark, rootP, basis, action, removed, staged, schema.json,
      dataDir, allowConcurrentAppends = false)
  }

  /** Stages `df` invisibly under `data/<uuid>/` and returns its footer-stats
    * entries (empty part files dropped) plus the staged directory.
    */
  private def stage(spark: SparkSession, rootP: JPath,
      df: DataFrame): (Seq[FileEntry], JPath) = {
    val commitId = UUID.randomUUID().toString
    val dataRel = s"data/$commitId"
    val dataDir = rootP.resolve(dataRel)
    df.write.parquet(dataDir.toString)
    (footerStats(spark, rootP, dataRel).filter(_.rows > 0), dataDir)
  }

  /** Publishes a rewrite manifest with optimistic concurrency, mirroring
    * [[commit]]'s retry loop. For `action` "replace"/"overwrite" the
    * manifest is FULL-SET (the basis snapshot's files minus `removed` plus
    * `staged`); for "append" (insert-only merge) it lists only `staged`.
    * Conflict detection parses ONLY the manifests landed after `basis`
    * (bounded by contention, not table age): they are re-carried when they
    * are plain appends and `allowConcurrentAppends` (compaction — the new
    * files simply weren't candidates), and abort the rewrite otherwise
    * (the basis this rewrite was computed from no longer describes the
    * table). On abort the staged directory is deleted.
    */
  private def rewriteCommit(spark: SparkSession, rootP: JPath, basis: Long,
      action: String, removed: Set[String], staged: Seq[FileEntry],
      schemaJson: String, dataDir: JPath,
      allowConcurrentAppends: Boolean): Long = {
    var attempt = 0
    while (attempt < 64) {
      val (st, tail) = loadStateAnd(spark, rootP.toString).getOrElse(
        throw new IllegalStateException(s"$rootP is not a manifest table"))
      // the conflict window (basis, latest]: mostly inside the already-parsed
      // tail; anything older (a checkpoint landed mid-rewrite) is fetched
      val tailFrom = tail.headOption.map(_.version).getOrElse(st.version + 1)
      val missing = ((basis + 1) until tailFrom).map(v => parseManifest(rootP, v))
      val late = missing ++ tail.filter(_.version > basis)
      late.find(m => m.action != "append" || !allowConcurrentAppends).foreach { m =>
        deleteRecursively(dataDir)
        throw new IllegalStateException(
          s"concurrent ${m.action} v${m.version} landed after basis v$basis — " +
            s"$action aborted; retry against the current snapshot")
      }
      val files =
        if (action == "append") staged
        else st.files.filterNot(f => removed(f.path)) ++ staged
      val m = Manifest(st.version + 1, action, schemaJson, files, None, None,
        System.currentTimeMillis())
      if (publish(rootP, m)) {
        if (m.action == "append") publishFeed(rootP, Seq(m))
        maybeCheckpoint(spark, rootP, applyManifest(Some(st), m), m.files.length)
        return m.version
      }
      attempt += 1
    }
    deleteRecursively(dataDir)
    throw new IllegalStateException(
      s"manifest $action at $rootP lost the version race 64 times — giving up")
  }

  private def requireSameSchema(cur: StructType, incoming: StructType,
      root: String): Unit = {
    def sig(s: StructType) = s.fields.map(f => (f.name, f.dataType)).toSeq
    require(sig(cur) == sig(incoming),
      s"append schema mismatch at $root:\n  table:    ${cur.toDDL}\n" +
        s"  incoming: ${incoming.toDDL}\nuse overwrite() to change the " +
        "schema, or append(mergeSchema = true) to add columns")
  }

  /** Widened schema for a `mergeSchema` append: the table's columns in
    * their existing order, then `incoming`'s NEW columns in its order.
    * Shared columns must keep their exact type — silent type changes are
    * how lakehouse tables rot, so a conflict fails loudly.
    */
  private def mergedSchema(cur: StructType, incoming: StructType,
      root: String): StructType = {
    val curTypes = cur.fields.map(f => f.name -> f.dataType).toMap
    incoming.fields.foreach { f =>
      curTypes.get(f.name).foreach { t =>
        require(t == f.dataType,
          s"schema evolution cannot CHANGE a column's type at $root: " +
            s"${f.name} is ${t.sql}, incoming ${f.dataType.sql} — " +
            "use overwrite() for a type change")
      }
    }
    val newFields = incoming.fields.filterNot(f => curTypes.contains(f.name))
    StructType(cur.fields ++ newFields)
  }

  /** Durably writes the manifest and atomically claims its version name.
    * Hard-link creation is the atomic fail-if-exists primitive on a POSIX
    * filesystem; losing the race returns false so the committer can retry
    * under the next version.
    */
  private def publish(rootP: JPath, m: Manifest): Boolean = {
    val dir = rootP.resolve(ManifestDir)
    val tmp = dir.resolve(s".tmp-${UUID.randomUUID()}")
    writeDurable(tmp, GeoJson.writeJson(toJson(m)).getBytes("UTF-8"))
    val target = dir.resolve(f"v${m.version}%08d.json")
    try { Files.createLink(target, tmp); Files.delete(tmp); true }
    catch { case _: FileAlreadyExistsException => Files.delete(tmp); false }
  }

  private def writeDurable(p: JPath, bytes: Array[Byte]): Unit = {
    val ch = java.nio.channels.FileChannel.open(p,
      StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
    try { ch.write(java.nio.ByteBuffer.wrap(bytes)); ch.force(true) }
    finally ch.close()
  }

  // ---------------------------------------------------------------- reads

  /** Manifest versions present in the log, ascending — a directory listing,
    * no JSON parse.
    */
  private def listVersions(rootP: JPath): Seq[Long] = {
    val dir = rootP.resolve(ManifestDir)
    if (!Files.isDirectory(dir)) return Nil
    val s = Files.list(dir)
    try s.iterator().asScala.flatMap { p =>
      p.getFileName.toString match {
        case VersionRe(n) => Some(n.toLong)
        case _ => None
      }
    }.toSeq.sorted
    finally s.close()
  }

  private def parseManifest(rootP: JPath, version: Long): Manifest = {
    manifestParses.incrementAndGet()
    val p = rootP.resolve(ManifestDir).resolve(f"v$version%08d.json")
    fromJson(new String(Files.readAllBytes(p), "UTF-8"))
  }

  /** All manifests, version-ascending. Empty if `root` has none. This IS a
    * full-log parse — it backs the metadata verbs that are ABOUT history
    * ([[describe]], [[restore]], [[vacuum]]); hot per-commit/read paths go
    * through the checkpointed [[loadState]] instead.
    */
  def history(root: String): Seq[Manifest] = {
    val rootP = Paths.get(root)
    listVersions(rootP).map(v => parseManifest(rootP, v))
  }

  def latestVersion(root: String): Option[Long] =
    listVersions(Paths.get(root)).lastOption

  /** DESCRIBE HISTORY: one row per commit with its manifest-level stats —
    * metadata-only (no data pass, no file open). `rows`/`bytes`/`n_files`
    * describe the files the manifest LISTS: what the commit ADDED for an
    * append, the full carried+rewritten set for overwrite/replace.
    */
  def describe(spark: SparkSession, root: String): DataFrame = {
    val hist = history(root)
    require(hist.nonEmpty, s"$root is not a manifest table (no ${ManifestDir})")
    import spark.implicits._
    hist.map { m =>
      (m.version, m.action, m.files.length.toLong,
        m.files.map(_.rows).sum, m.files.map(_.bytes).sum,
        m.batchId, m.tsMs)
    }.toDF("version", "action", "n_files", "rows", "bytes", "batch_id", "ts_ms")
  }

  /** ANALYZE from metadata alone: per-column min/max/null-count and the
    * table's row/byte/file totals, folded from the CURRENT snapshot's
    * footer-stats census — no data file is opened, no scan planned. A
    * column appears only when EVERY file carries usable stats for it
    * (exactly [[scan]]'s pruning precondition), so what this reports is
    * what pruning can use; `min`/`max` are the census's exact decimal/raw
    * strings (cast them to the column's type downstream). The profiling
    * verb a 100 TB table's operator runs before choosing clustering keys.
    */
  def columnStats(spark: SparkSession, root: String): DataFrame = {
    val st = loadState(spark, root).getOrElse(throw new IllegalArgumentException(
      s"$root is not a manifest table (no ${ManifestDir})"))
    // legacy manifests may still carry empty-file entries (no stats by
    // construction) — they hold no rows, so they can't narrow any bound
    val live = st.files.filter(_.rows > 0)
    val rows = st.files.map(_.rows).sum
    val bytes = st.files.map(_.bytes).sum
    val nFiles = st.files.length.toLong
    val cols = st.schema.fieldNames.toSeq.flatMap { c =>
      val per = live.map(_.stats.get(c))
      if (per.isEmpty || per.exists(_.isEmpty)) None
      else {
        val s = per.map(_.get)
        val kind = s.head.kind
        if (!s.forall(_.kind == kind)) None
        else Some((c, kind,
          s.map(_.min).reduce((a, b) => if (statLt(kind, a, b)) a else b),
          s.map(_.max).reduce((a, b) => if (statLt(kind, a, b)) b else a),
          s.map(_.nulls).sum, rows, bytes, nFiles))
      }
    }
    import spark.implicits._
    cols.toDF("column", "kind", "min", "max", "nulls", "rows", "bytes", "n_files")
  }

  /** The file set visible at `version`: replay the log back to the most
    * recent FULL-SET manifest at or before it — an `overwrite` (new logical
    * contents) or a `replace` (same logical contents, rewritten physical
    * layout: [[compact]], [[deleteWhere]]'s and [[merge]]'s carried+rewritten
    * sets are published whole, so replay never reaches behind them).
    */
  private def snapshot(hist: Seq[Manifest], version: Long): Seq[Manifest] = {
    val upTo = hist.filter(_.version <= version)
    require(upTo.nonEmpty, s"version $version predates the table")
    val start = upTo.lastIndexWhere(m =>
      m.action == "overwrite" || m.action == "replace") match {
      case -1 => 0
      case i => i
    }
    upTo.drop(start)
  }

  private def snapshotFiles(hist: Seq[Manifest], version: Long): Seq[FileEntry] =
    snapshot(hist, version).flatMap(_.files)

  /** [[snapshot]] without a pre-parsed history: manifests are parsed
    * BACKWARDS from `version` and parsing stops at the first full-set one,
    * so time travel costs O(snapshot length), never O(log length).
    */
  private def snapshotManifests(rootP: JPath, version: Long): Seq[Manifest] = {
    val vs = listVersions(rootP)
    require(vs.nonEmpty, s"$rootP is not a manifest table (no ${ManifestDir})")
    val upTo = vs.filter(_ <= version)
    require(upTo.nonEmpty, s"version $version predates the table")
    val acc = mutable.ArrayBuffer[Manifest]()
    var i = upTo.length - 1
    var open = true
    while (i >= 0 && open) {
      val m = parseManifest(rootP, upTo(i))
      acc += m
      if (m.action == "overwrite" || m.action == "replace") open = false
      i -= 1
    }
    acc.reverse.toSeq
  }

  /** Reads the table at `asOf` (default: latest). The stored schema is
    * applied explicitly, so the read never pays schema-merge inference over
    * a large file census. The latest-version path composes the newest
    * checkpoint with a bounded log tail; time travel replays backwards to
    * the nearest full-set manifest.
    */
  def read(spark: SparkSession, root: String, asOf: Option[Long] = None): DataFrame =
    asOf match {
      case Some(v) =>
        val snap = snapshotManifests(Paths.get(root), v)
        framed(spark, root, snap.last.schema, snap.flatMap(_.files))
      case None =>
        val st = loadState(spark, root).getOrElse(throw new IllegalArgumentException(
          s"$root is not a manifest table (no ${ManifestDir})"))
        framed(spark, root, st.schema, st.files)
    }

  /** RESTORE: makes `version`'s snapshot the table's current contents by
    * publishing a new `overwrite` manifest that CARRIES that snapshot's
    * file set — zero data movement, pure metadata (the Delta RESTORE verb).
    * History stays append-only: the bad versions remain time-travelable
    * until [[vacuum]], and incremental readers fail loudly at the restore
    * point exactly as at any overwrite (contents changed non-additively).
    * Requires `version` to exist (a typo'd future version fails loudly
    * instead of silently republishing the head) and the restored files to
    * still exist (not vacuumed); returns the new version. Restoring the
    * current version is a no-op.
    */
  def restore(root: String, version: Long): Long = {
    val rootP = Paths.get(root)
    val vs = listVersions(rootP)
    require(vs.nonEmpty, s"$root is not a manifest table (no ${ManifestDir})")
    require(vs.contains(version),
      s"cannot restore $root to v$version: the log holds versions " +
        s"${vs.head}..${vs.last}")
    if (version == vs.last) return version
    val snap = snapshotManifests(rootP, version)
    val files = snap.flatMap(_.files)
    files.find(f => !Files.exists(rootP.resolve(f.path))).foreach { f =>
      throw new IllegalStateException(
        s"cannot restore to v$version: ${f.path} was vacuumed")
    }
    var attempt = 0
    while (attempt < 64) {
      val cur = listVersions(rootP).last
      val m = Manifest(cur + 1, "overwrite", snap.last.schemaJson,
        files, None, None, System.currentTimeMillis())
      if (publish(rootP, m)) return m.version
      attempt += 1
    }
    throw new IllegalStateException(
      s"restore at $root lost the version race 64 times — giving up")
  }

  /** The rows ADDED by versions in `(sinceExclusive, toInclusive]` — the
    * incremental-consumer read (process only what's new since the last run).
    * Parses ONLY the manifests in the range (cost tracks the range, not the
    * table's age). An overwrite inside the range makes "added rows"
    * ill-defined, so it fails loudly; re-sync with a full [[read]] instead.
    * A `replace` ([[compact]]) adds NO logical rows — it is skipped
    * transparently, so incremental consumers keep flowing across
    * compactions.
    */
  def readSince(spark: SparkSession, root: String, sinceExclusive: Long,
      toInclusive: Option[Long] = None): DataFrame = {
    val rootP = Paths.get(root)
    val vs = listVersions(rootP)
    require(vs.nonEmpty, s"$root is not a manifest table (no ${ManifestDir})")
    val to = toInclusive.getOrElse(vs.last)
    val rangeVs = vs.filter(v => v > sinceExclusive && v <= to)
    require(rangeVs.nonEmpty, s"no versions in ($sinceExclusive, $to] at $root")
    val range = rangeVs.map(v => parseManifest(rootP, v))
    range.find(_.action == "overwrite").foreach { m =>
      throw new IllegalStateException(
        s"version ${m.version} is an overwrite — incremental reads across an " +
          s"overwrite are ill-defined; re-sync from a full read(asOf = $to)")
    }
    val adds = range.filter(_.action == "append")
    framed(spark, root, range.last.schema, adds.flatMap(_.files))
  }

  /** CHANGE DATA FEED between two versions: the row-level
    * (key, added/removed/changed) diff of the two snapshots — the
    * table_changes verb for REWRITE commits, which the file-level
    * [[readSince]] append feed cannot express (a merge or deleteWhere
    * carries whole rewritten files, not row deltas; readSince refuses to
    * cross an overwrite for exactly that reason, and THIS is the re-sync
    * that tells a consumer what actually changed). Computed as
    * [[graft.operators.Ops.snapshotDiff]] over the two time-travel reads:
    * each side collapses to (key, 64-bit content hash) before the
    * full-outer join, so the shuffle moves ~16 bytes per row regardless of
    * row width — at 100 TB the diff costs two scans plus a narrow
    * key-hash join. Columns missing on one side (mergeSchema evolution
    * between the versions) compare as null: a row whose only difference is
    * an evolved column that is null on both sides stays `unchanged`.
    */
  def changes(spark: SparkSession, root: String, fromVersion: Long,
      toVersion: Long, keyCol: String,
      includeUnchanged: Boolean = false): DataFrame = {
    require(fromVersion <= toVersion,
      s"fromVersion $fromVersion must be <= toVersion $toVersion")
    val a0 = read(spark, root, Some(fromVersion))
    val b0 = read(spark, root, Some(toVersion))
    val allCols = (a0.columns ++ b0.columns).distinct.toSeq
    require(allCols.contains(keyCol), s"key column $keyCol not in either snapshot")
    def widen(df: DataFrame) = df.select(allCols.map(c =>
      if (df.columns.contains(c)) col(c) else lit(null).as(c)): _*)
    graft.operators.Ops.snapshotDiff(widen(a0), widen(b0), keyCol,
      allCols.filterNot(_ == keyCol), includeUnchanged = includeUnchanged)
  }

  /** The table's append feed as a STRUCTURED STREAM — the "table as a
    * stream" half of the lakehouse contract ([[streamingAppend]] is the
    * other). Every `append` commit hard-links its data files into
    * `_graft_feed/` under a version-prefixed name at publish time (links
    * appear atomically and cost no bytes), so Spark's own parquet
    * FileStreamSource over that directory IS the table's change feed:
    * checkpointed exactly-once progress, distributed reads,
    * `maxFilesPerTrigger` rate limiting — all from the built-in source,
    * no custom decode path. Setup re-reconciles the feed against the
    * manifest log first, so a committer that crashed between manifest
    * publish and link creation (or a table older than its first tail)
    * leaves no gaps. On filesystems without hard links (object-store
    * mounts), publication falls back to copy-then-atomic-rename — same
    * atomic-appearance contract, paid in bytes.
    *
    * Semantics match [[readSince]]'s incremental contract: `append`s flow,
    * `replace` (compaction — no logical change) is invisible, and
    * `overwrite`/`deleteWhere`/`merge` rewrites do NOT flow — a stream is
    * an append feed, not a CDC diff; consumers needing rewrite visibility
    * re-sync from a full `read()`. The stream's schema is pinned at start.
    * [[vacuum]] unlinks feed entries only when it reclaims their commit
    * (post-overwrite retention), and a hard link keeps the bytes alive for
    * a lagging consumer even then.
    */
  def tailStream(spark: SparkSession, root: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val rootP = Paths.get(root)
    val hist = history(root)
    require(hist.nonEmpty, s"$root is not a manifest table (no ${ManifestDir})")
    publishFeed(rootP, hist)
    val reader = spark.readStream.schema(hist.last.schema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n.toString))
    reader.parquet(rootP.resolve(FeedDir).toString)
  }

  /** Idempotently hard-links every `append` manifest's files into the feed
    * directory (already-linked and already-vacuumed files are skipped).
    * When the filesystem refuses links (object-store mounts, cross-device
    * feeds), falls back to copying through a temp name and atomically
    * renaming into place — the stream never observes a partial file.
    */
  private def publishFeed(rootP: JPath, ms: Seq[Manifest]): Unit = {
    val dir = rootP.resolve(FeedDir)
    Files.createDirectories(dir)
    for (m <- ms if m.action == "append"; (f, i) <- m.files.zipWithIndex) {
      val src = rootP.resolve(f.path)
      val target = dir.resolve(feedName(m.version, i))
      if (Files.exists(src) && !Files.exists(target)) {
        try {
          if (disableFeedLinks) throw new UnsupportedOperationException(
            "feed hard links disabled (test seam)")
          Files.createLink(target, src)
        } catch {
          case _: FileAlreadyExistsException => ()
          case _: UnsupportedOperationException | _: java.nio.file.FileSystemException =>
            val tmp = dir.resolve(s".tmp-${UUID.randomUUID()}")
            Files.copy(src, tmp)
            try Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
            catch { case _: java.nio.file.FileSystemException =>
              Files.deleteIfExists(tmp) // a racing publisher beat us to it
            }
        }
      }
    }
  }

  /** Stats-pruned read: files whose min/max prove the predicate can't match
    * are skipped entirely (no task, no footer parse, no scan); the predicate
    * is then ALSO applied to the surviving rows, so results are identical to
    * `read(...).where(pred)` — only cheaper.
    */
  def scan(spark: SparkSession, root: String, pred: Pred,
      asOf: Option[Long] = None): DataFrame = {
    val (schema, files) = asOf match {
      case Some(v) =>
        val snap = snapshotManifests(Paths.get(root), v)
        (snap.last.schema, snap.flatMap(_.files))
      case None =>
        val st = loadState(spark, root).getOrElse(throw new IllegalArgumentException(
          s"$root is not a manifest table (no ${ManifestDir})"))
        (st.schema, st.files)
    }
    val keep = files.filter(f => mayMatch(f.stats, pred))
    framed(spark, root, schema, keep).where(pred.toColumn)
  }

  private def framed(spark: SparkSession, root: String, schema: StructType,
      files: Seq[FileEntry]): DataFrame = {
    if (files.isEmpty) {
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    } else {
      val paths = files.map(f => Paths.get(root).resolve(f.path).toString)
      spark.read.schema(schema).parquet(paths: _*)
    }
  }

  // -------------------------------------------------------- checkpointing

  /** Folds one manifest into the running state: appends extend the census,
    * full-set manifests replace it; a recorded batchId advances its writer's
    * high-water mark.
    */
  private def applyManifest(st: Option[TableState], m: Manifest): TableState = {
    val files =
      if (m.action == "append") st.map(_.files).getOrElse(Nil) ++ m.files
      else m.files
    val txns = m.batchId match {
      case Some(bid) =>
        st.map(_.txns).getOrElse(Map.empty) +
          (m.writerId.getOrElse("") -> (bid, m.version))
      case None => st.map(_.txns).getOrElse(Map.empty)
    }
    TableState(m.version, m.schemaJson, files, txns)
  }

  private def loadState(spark: SparkSession, root: String): Option[TableState] =
    loadStateAnd(spark, root).map(_._1)

  /** Current state plus the raw tail manifests it was folded from (the
    * rewrite-conflict window reuses them instead of re-parsing).
    */
  private def loadStateAnd(spark: SparkSession,
      root: String): Option[(TableState, Seq[Manifest])] = {
    val rootP = Paths.get(root)
    val vs = listVersions(rootP)
    if (vs.isEmpty) return None
    val base = readLastCheckpoint(rootP)
      .filter(_ <= vs.last)
      .flatMap(v => loadCheckpoint(spark, rootP, v))
    val after = base.map(_.version).getOrElse(0L)
    val tail = vs.filter(_ > after).map(v => parseManifest(rootP, v))
    var st = base
    tail.foreach(m => st = Some(applyManifest(st, m)))
    st.map((_, tail))
  }

  private def ckptDir(rootP: JPath, v: Long): JPath =
    rootP.resolve(ManifestDir).resolve(CkptSubdir).resolve(f"v$v%08d")

  private def readLastCheckpoint(rootP: JPath): Option[Long] = {
    val p = rootP.resolve(ManifestDir).resolve(LastCkptName)
    if (!Files.exists(p)) None
    else scala.util.Try(new String(Files.readAllBytes(p), "UTF-8").trim.toLong).toOption
  }

  private val fileEntryEncoder = Encoders.product[FileEntry]

  /** Loads the checkpoint at `v`, or None when it is absent or torn (its
    * `state.json` marker is written LAST — a crash mid-checkpoint leaves no
    * marker and readers fall back to full replay). The census is PARQUET,
    * read back by Spark: columnar, batched, splittable — scan planning on a
    * million-file table never funnels through one giant JSON document.
    */
  private def loadCheckpoint(spark: SparkSession, rootP: JPath,
      v: Long): Option[TableState] = {
    val dir = ckptDir(rootP, v)
    val stateP = dir.resolve("state.json")
    if (!Files.exists(stateP)) return None
    scala.util.Try {
      val o = new GeoJson.Parser(new String(Files.readAllBytes(stateP), "UTF-8"))
        .parse().asInstanceOf[JObj].fields
      val id = o.get("id").map(jstr).getOrElse("")
      val key = (rootP.toAbsolutePath.toString, v, id)
      Option(ckptCache.get(key)).getOrElse {
        val txns = o("txns").asInstanceOf[JObj].fields.toSeq.map { case (w, tj) =>
          val t = tj.asInstanceOf[JObj].fields
          w -> ((jnum(t("batchId")), jnum(t("version"))))
        }.toMap
        val files = spark.read.schema(fileEntryEncoder.schema)
          .parquet(dir.resolve("census").toString)
          .as(fileEntryEncoder).collect().toSeq.sortBy(_.path)
        val st = TableState(jnum(o("version")), jstr(o("schema")), files, txns)
        if (ckptCache.size > 16) ckptCache.clear()
        ckptCache.put(key, st)
        st
      }
    }.toOption
  }

  /** Writes the checkpoint for `st` (census parquet first, the `state.json`
    * completeness marker second, the `_last_checkpoint` pointer swapped in
    * atomically last) and reclaims checkpoints older than the previous one.
    * Concurrency-safe by construction: only the publisher of version N ever
    * checkpoints N, and the pointer rename is atomic.
    */
  private def writeCheckpoint(spark: SparkSession, rootP: JPath,
      st: TableState): Unit = {
    val dir = ckptDir(rootP, st.version)
    val stateP = dir.resolve("state.json")
    if (Files.exists(stateP)) return
    Files.createDirectories(dir)
    val parts = math.max(1, (st.files.size / 100000) + 1)
    spark.createDataset(st.files)(fileEntryEncoder).repartition(parts)
      .write.mode("overwrite").parquet(dir.resolve("census").toString)
    val txnsJ = JObj(mutable.LinkedHashMap(st.txns.toSeq.sortBy(_._1).map {
      case (w, (bid, v)) => w -> (JObj(mutable.LinkedHashMap[String, J](
        "batchId" -> JNum(bid.toDouble, bid.toString),
        "version" -> JNum(v.toDouble, v.toString))): J)
    }: _*))
    val stateJ = JObj(mutable.LinkedHashMap[String, J](
      "version" -> JNum(st.version.toDouble, st.version.toString),
      "id" -> JStr(UUID.randomUUID().toString), // cache identity — see ckptCache
      "schema" -> JStr(st.schemaJson),
      "txns" -> txnsJ))
    writeDurable(stateP, GeoJson.writeJson(stateJ).getBytes("UTF-8"))
    val mdir = rootP.resolve(ManifestDir)
    val tmp = mdir.resolve(s".ckpt-tmp-${UUID.randomUUID()}")
    Files.write(tmp, st.version.toString.getBytes("UTF-8"))
    Files.move(tmp, mdir.resolve(LastCkptName),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    // retain this checkpoint and the previous one (a reader holding the old
    // pointer mid-load must still find its files); reclaim anything older
    val ckRoot = mdir.resolve(CkptSubdir)
    if (Files.isDirectory(ckRoot)) {
      val s = Files.list(ckRoot)
      val versions =
        try s.iterator().asScala.flatMap { p =>
          scala.util.Try(p.getFileName.toString.stripPrefix("v").toLong).toOption
        }.toSeq.sorted
        finally s.close()
      versions.dropRight(2).foreach(v => deleteRecursively(ckptDir(rootP, v)))
    }
  }

  /** A full-set manifest listing at least this many files also triggers an
    * eager checkpoint: the very next scan then plans from the parquet
    * census instead of re-parsing one giant JSON census document on every
    * operation until the modulo cadence catches up. Test seam.
    */
  @volatile private[sources] var checkpointFilesMin: Int = 4096

  private def maybeCheckpoint(spark: SparkSession, rootP: JPath,
      st: TableState, publishedFiles: Int): Unit =
    if (st.version % CheckpointEvery == 0 || publishedFiles >= checkpointFilesMin)
      try writeCheckpoint(spark, rootP, st)
      catch { case NonFatal(_) => () } // best-effort: the commit is durable

  /** Forces a checkpoint of the current state (the automatic cadence is one
    * per [[CheckpointEvery]] commits); returns the checkpointed version.
    * Idempotent at a given version.
    */
  def checkpoint(spark: SparkSession, root: String): Long = {
    val st = loadState(spark, root).getOrElse(throw new IllegalArgumentException(
      s"$root is not a manifest table (no ${ManifestDir})"))
    writeCheckpoint(spark, Paths.get(root), st)
    st.version
  }

  // ------------------------------------------------------------- pruning

  /** Conservative may-match: false ONLY when stats prove emptiness. */
  private[sources] def mayMatch(stats: Map[String, ColStats], pred: Pred): Boolean =
    pred match {
      case And(ps) => ps.forall(mayMatch(stats, _))
      case Or(ps) => ps.exists(mayMatch(stats, _))
      case Ge(c, v) => boundsOf(stats, c, v).forall { case (_, max, x) => cmp(max, x) >= 0 }
      case Le(c, v) => boundsOf(stats, c, v).forall { case (min, _, x) => cmp(min, x) <= 0 }
      case Eq(c, v) => boundsOf(stats, c, v).forall { case (min, max, x) =>
        cmp(min, x) <= 0 && cmp(max, x) >= 0 }
      case Between(c, lo, hi) =>
        boundsOf(stats, c, lo).forall { case (_, max, x) => cmp(max, x) >= 0 } &&
          boundsOf(stats, c, hi).forall { case (min, _, x) => cmp(min, x) <= 0 }
    }

  /** (min, max, predicate value) as comparable pairs, or None when the
    * column has no stats / the value isn't comparable to the stats kind /
    * a legacy manifest recorded unusable numerics (e.g. "Infinity") — in
    * which case the caller must keep the file.
    */
  private def boundsOf(stats: Map[String, ColStats], c: String,
      v: Any): Option[(Any, Any, Any)] =
    stats.get(c).flatMap { s =>
      s.kind match {
        case "string" => v match {
          case str: String => Some((s.min, s.max, str))
          case _ => None
        }
        case "long" | "double" =>
          for { x <- numeric(v); mn <- decOpt(s.min); mx <- decOpt(s.max) }
            yield (mn, mx, x)
        case _ => None
      }
    }

  private def decOpt(s: String): Option[BigDecimal] =
    scala.util.Try(BigDecimal(s)).toOption

  private def numeric(v: Any): Option[BigDecimal] = v match {
    case i: Int => Some(BigDecimal(i))
    case l: Long => Some(BigDecimal(l))
    case s: Short => Some(BigDecimal(s.toInt))
    case b: Byte => Some(BigDecimal(b.toInt))
    case f: Float => Some(BigDecimal(f.toDouble))
    case d: Double => Some(BigDecimal(d))
    case d: java.math.BigDecimal => Some(BigDecimal(d))
    case d: BigDecimal => Some(d)
    // date stats are epoch days, timestamp stats are epoch micros — the
    // parquet physical values Spark writes for DateType / TimestampType
    case d: java.time.LocalDate => Some(BigDecimal(d.toEpochDay))
    case t: java.time.Instant =>
      Some(BigDecimal(t.getEpochSecond) * 1000000 + t.getNano / 1000)
    case t: java.sql.Timestamp =>
      Some(BigDecimal(t.toInstant.getEpochSecond) * 1000000 + t.toInstant.getNano / 1000)
    case d: java.sql.Date => Some(BigDecimal(d.toLocalDate.toEpochDay))
    case _ => None
  }

  /** Strings compare as UNSIGNED UTF-8 BYTES — the order parquet min/max
    * stats are computed in and the order Spark compares rows in. Java's
    * String.compareTo (UTF-16 code units) diverges for supplementary
    * characters (a surrogate pair's 0xD800.. units sort BELOW 0xE000..FFFF
    * while their UTF-8 bytes sort above), and pruning in the wrong order
    * silently drops matching files.
    */
  private[sources] def utf8Cmp(a: String, b: String): Int = {
    val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val d = (x(i) & 0xFF) - (y(i) & 0xFF)
      if (d != 0) return d
      i += 1
    }
    x.length - y.length
  }

  private def cmp(a: Any, b: Any): Int = (a, b) match {
    case (x: BigDecimal, y: BigDecimal) => x.compare(y)
    case (x: String, y: String) => utf8Cmp(x, y)
    case _ => 0
  }

  // -------------------------------------------------------- footer stats

  /** Footer-only stats for every parquet file under `dataRel` (no row
    * decode). Columns keep stats when every row group recorded them and the
    * physical type maps to long/double/string; everything else is omitted
    * (conservative for pruning).
    */
  private def footerStats(spark: SparkSession, rootP: JPath,
      dataRel: String): Seq[FileEntry] = {
    val dir = rootP.resolve(dataRel)
    val s = Files.list(dir)
    val files =
      try s.iterator().asScala
        .filter(p => p.getFileName.toString.endsWith(".parquet"))
        .map(_.toAbsolutePath.toString).toSeq.sorted
      finally s.close()
    val rootStr = rootP.toAbsolutePath.toString
    // footer reads are metadata-only: planned like a file read's splits, in
    // a driver loop for a handful of files (one job per append would add up
    // in multi-commit verbs) and as one job for a 100k-small-files drop
    Shards.plan(spark, files)(abs => Seq(statsOfFile(abs, rootStr))).sortBy(_.path)
  }

  private def statsOfFile(abs: String, rootStr: String): FileEntry = {
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new HPath(abs), new Configuration()))
    val (rows, stats) =
      try {
        val blocks = reader.getFooter.getBlocks.asScala.toSeq
        val rows = blocks.map(_.getRowCount).sum
        val acc = mutable.LinkedHashMap[String, ColStats]()
        val dead = mutable.Set[String]()
        for (b <- blocks; cc <- b.getColumns.asScala) {
          val name = cc.getPath.toDotString
          if (!name.contains('.') && !dead(name)) {
            val st = cc.getStatistics
            // integer stats are usable only when the logical annotation says
            // the physical value IS the logical value: decimal stores the
            // UNSCALED integer (comparing it against a user's BigDecimal
            // could FALSELY prune), and timestamp-millis would be 1000× off
            // against the micros convention [[numeric]] converts Instants to.
            // Dates (epoch days) and int widths compare raw, which matches.
            val intAnnOk = cc.getPrimitiveType.getLogicalTypeAnnotation match {
              case null => true
              case _: LogicalTypeAnnotation.IntLogicalTypeAnnotation => true
              case _: LogicalTypeAnnotation.DateLogicalTypeAnnotation => true
              case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
                t.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS
              case _ => false
            }
            // non-finite float stats (±Infinity, NaN) are unusable: they
            // don't survive the decimal round-trip and BigDecimal would
            // throw on every later scan — drop the column, keep the file
            def finite(d: Double): Boolean = !d.isNaN && !d.isInfinite
            val kindVal: Option[(String, String, String)] =
              if (st == null || st.isEmpty || !st.hasNonNullValue) None
              else (st.genericGetMin, st.genericGetMax) match {
                case (mn: java.lang.Integer, mx: java.lang.Integer) if intAnnOk =>
                  Some(("long", mn.toString, mx.toString))
                case (mn: java.lang.Long, mx: java.lang.Long) if intAnnOk =>
                  Some(("long", mn.toString, mx.toString))
                case (mn: java.lang.Float, mx: java.lang.Float)
                    if finite(mn.toDouble) && finite(mx.toDouble) =>
                  Some(("double", mn.toDouble.toString, mx.toDouble.toString))
                case (mn: java.lang.Double, mx: java.lang.Double)
                    if finite(mn) && finite(mx) =>
                  Some(("double", mn.toString, mx.toString))
                case (mn: org.apache.parquet.io.api.Binary,
                      mx: org.apache.parquet.io.api.Binary)
                    if cc.getPrimitiveType.getLogicalTypeAnnotation ==
                      LogicalTypeAnnotation.stringType() =>
                  Some(("string", mn.toStringUsingUTF8, mx.toStringUsingUTF8))
                case _ => None
              }
            kindVal match {
              case None =>
                // one statless/unsupported row group poisons the column:
                // a partial min/max would prune files that DO hold matches
                dead += name; acc.remove(name)
              case Some((kind, mn, mx)) =>
                val nulls = math.max(0L, if (st == null) 0L else st.getNumNulls)
                acc.get(name) match {
                  case None => acc(name) = ColStats(kind, mn, mx, nulls)
                  case Some(prev) =>
                    val lo = if (statLt(kind, mn, prev.min)) mn else prev.min
                    val hi = if (statLt(kind, prev.max, mx)) mx else prev.max
                    acc(name) = ColStats(kind, lo, hi, prev.nulls + nulls)
                }
            }
          }
        }
        (rows, acc.toMap)
      } finally reader.close()
    val rel = abs.stripPrefix(rootStr).stripPrefix("/")
    FileEntry(rel, rows, Files.size(Paths.get(abs)), stats)
  }

  private def statLt(kind: String, a: String, b: String): Boolean =
    if (kind == "string") utf8Cmp(a, b) < 0 else BigDecimal(a) < BigDecimal(b)

  // --------------------------------------------------------------- vacuum

  /** Deletes data-commit directories referenced by NONE of the last
    * `keepVersions` snapshots — including orphans from crashed writers that
    * never published. `minAgeMs` protects in-flight commits (a staged
    * directory whose manifest hasn't won its version yet looks orphaned):
    * production callers keep the default-ish hours, tests pass 0. Manifests
    * themselves are kept (tiny, and history() stays replayable). Returns
    * the deleted directories.
    */
  def vacuum(root: String, keepVersions: Int = 2,
      minAgeMs: Long = 24L * 3600 * 1000): Seq[String] = {
    require(keepVersions >= 1, "keepVersions must be >= 1")
    val rootP = Paths.get(root)
    val hist = history(root)
    require(hist.nonEmpty, s"$root is not a manifest table (no ${ManifestDir})")
    val latest = hist.last.version
    val retained = (math.max(1L, latest - keepVersions + 1) to latest)
    val referenced: Set[String] = retained.flatMap(v => snapshotFiles(hist, v))
      .map(f => f.path.split('/').take(2).mkString("/")).toSet
    val dataDir = rootP.resolve("data")
    if (!Files.isDirectory(dataDir)) return Nil
    val cutoff = System.currentTimeMillis() - minAgeMs
    val s = Files.list(dataDir)
    val dirs = try s.iterator().asScala.toSeq finally s.close()
    val deleted = dirs.flatMap { d =>
      val rel = s"data/${d.getFileName}"
      val old = Files.getLastModifiedTime(d).toMillis <= cutoff
      if (!referenced(rel) && old) { deleteRecursively(d); Some(rel) } else None
    }
    // unlink the reclaimed commits' feed entries too (the hard links would
    // otherwise keep the reclaimed bytes alive indefinitely); feed names
    // encode the manifest version, so map deleted dirs back through the log
    val feedDir = rootP.resolve(FeedDir)
    if (deleted.nonEmpty && Files.isDirectory(feedDir)) {
      val gone = deleted.toSet
      for (m <- hist if m.action == "append"; (f, i) <- m.files.zipWithIndex)
        if (gone(f.path.split('/').take(2).mkString("/")))
          Files.deleteIfExists(feedDir.resolve(feedName(m.version, i)))
    }
    deleted.sorted
  }

  // ----------------------------------------------------------------- json

  private def toJson(m: Manifest): J = {
    val fields = mutable.LinkedHashMap[String, J](
      "version" -> JNum(m.version.toDouble, m.version.toString),
      "action" -> JStr(m.action),
      "schema" -> JStr(m.schemaJson),
      "tsMs" -> JNum(m.tsMs.toDouble, m.tsMs.toString))
    m.batchId.foreach(b => fields("batchId") = JNum(b.toDouble, b.toString))
    m.writerId.foreach(w => fields("writer") = JStr(w))
    fields("files") = JArr(mutable.ArrayBuffer(m.files.map { f =>
      JObj(mutable.LinkedHashMap[String, J](
        "path" -> JStr(f.path),
        "rows" -> JNum(f.rows.toDouble, f.rows.toString),
        "bytes" -> JNum(f.bytes.toDouble, f.bytes.toString),
        "stats" -> JObj(mutable.LinkedHashMap(f.stats.toSeq.sortBy(_._1).map {
          case (c, s) => c -> (JObj(mutable.LinkedHashMap[String, J](
            "k" -> JStr(s.kind), "min" -> JStr(s.min), "max" -> JStr(s.max),
            "nulls" -> JNum(s.nulls.toDouble, s.nulls.toString))): J)
        }: _*))))
    }: _*))
    JObj(fields)
  }

  private def jnum(j: J): Long = j.asInstanceOf[JNum].raw.toLong
  private def jstr(j: J): String = j.asInstanceOf[JStr].s

  private def fromJson(text: String): Manifest = {
    val o = new GeoJson.Parser(text).parse().asInstanceOf[JObj].fields
    val files = o("files").asInstanceOf[JArr].items.toSeq.map { fj =>
      val f = fj.asInstanceOf[JObj].fields
      val stats = f("stats").asInstanceOf[JObj].fields.toSeq.map { case (c, sj) =>
        val s = sj.asInstanceOf[JObj].fields
        c -> ColStats(jstr(s("k")), jstr(s("min")), jstr(s("max")), jnum(s("nulls")))
      }.toMap
      FileEntry(jstr(f("path")), jnum(f("rows")), jnum(f("bytes")), stats)
    }
    Manifest(jnum(o("version")), jstr(o("action")), jstr(o("schema")), files,
      o.get("batchId").map(jnum), o.get("writer").map(jstr), jnum(o("tsMs")))
  }
}
