package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Non-equi join operators re-expressed as bounded equi-joins — the only
  * shapes that survive 100 TB. Both operators here turn an inequality /
  * similarity predicate into a candidate equi-join on derived keys plus a
  * cheap codegen'd verify, so Spark plans a plain hash join (broadcast or
  * shuffled) instead of BroadcastNestedLoopJoin / cartesian.
  */
object Joins {

  /** Edit-distance threshold join: all (left, right) pairs with
    * `levenshtein(left[leftCol], right[rightCol]) <= maxDist`, each pair
    * emitted once with an `edit_dist` column.
    *
    * Spark-first via positional segment filtering (the PassJoin family,
    * Li/Deng/Feng 2011 — public literature, no reference counterpart):
    * every string on the right is split into `maxDist + 1` contiguous
    * segments. If ed(s, t) <= d then at most d of those d+1 segments are
    * touched by an edit, so at least one survives VERBATIM in t, shifted by
    * at most d positions (each edit shifts later characters by <= 1). The
    * right side therefore indexes (slot, |s|, segment); the left side
    * probes every substring that could equal slot i of a length-l string
    * for l within +-d of its own length and start within +-d of that
    * segment's home position. Both key sets come from codegen'd
    * [[graft.functions.TextKernel]] calls ("slot:len:segment" strings);
    * candidates meet in a plain equi-join on that key and
    * `functions.levenshtein(_, _, threshold)` (codegen'd, band-limited with
    * early exit) verifies survivors.
    *
    * Cost: the whole join runs at DISTINCT-VALUE granularity — both sides
    * collapse to their distinct strings first (the exact-dup collapse, same
    * policy as the minhash family), candidates are generated per distinct
    * value, and verified value pairs re-expand to rows through two plain
    * equi-joins on the string. Repeated values (fixed vocab, boilerplate
    * fields) therefore cost ONE candidate row each, not one per occurrence.
    * The probe fan-out is a compile-time constant — (d+1) slots x (2d+1)
    * lengths x (2d+1) starts, 18 keys at d=1, 75 at d=2 — and the index
    * side emits d+1 rows per value, so both sides stay O(distinct) and the
    * join is an ordinary shuffled/broadcast hash join; there is no O(n*m)
    * comparison stage anywhere. Two residual scale hazards at 100 TB:
    * (1) DISTINCT values sharing a long common run (fixed-format ids like
    * "Customer#00001729") collide on the shared segment's key, and
    * candidates within such a family are inherently quadratic for any
    * single-segment pigeonhole scheme — the banded verify sits as a
    * streaming codegen'd filter right behind the hash join (bounded memory,
    * O(d*len) per candidate; dedup-then-verify OOMed on exactly this shape
    * at 10x), so the cost is CPU-linear in candidates, never a buffered
    * shuffle; (2) the re-expansion joins key on the string value, so a
    * value occurring k times on both sides legitimately emits k^2 pairs —
    * pass `expand = false` to opt out: the result stays at value
    * granularity, one row per verified value pair with `left_count` /
    * `right_count` occurrence columns (everything an aggregate consumer
    * needs, with the k² blowup never materialized). Keep d <= 3.
    *
    * A value pair can collide on several slots, so verified pairs are
    * deduped on the value pair before re-expansion. Self-join: pass the
    * same frame twice and filter on an id afterwards.
    */
  def fuzzyJoin(
      left: DataFrame,
      right: DataFrame,
      leftCol: String,
      rightCol: String,
      maxDist: Int,
      suffix: String = "_right",
      expand: Boolean = true): DataFrame = {
    require(maxDist >= 1 && maxDist <= 5, "maxDist must be in [1, 5]")
    import graft.functions.TextFunctions.{passjoin_index, passjoin_probe}

    // candidate keys come from one codegen'd kernel call per distinct value
    // (a column-expression expansion of the (d+1)(2d+1)(2d+1) probe grid
    // blew past janino's method-size limit and dropped the stage to
    // interpreted)
    val rKeyed = right
      .where(col(rightCol).isNotNull)
      .select(col(rightCol).as("__rstr")).distinct()
      .select(col("__rstr"), explode(passjoin_index(col("__rstr"), maxDist)).as("__seg"))
    val lKeyed = left
      .where(col(leftCol).isNotNull)
      .select(col(leftCol).as("__lstr")).distinct()
      .select(col("__lstr"), explode(passjoin_probe(col("__lstr"), maxDist)).as("__seg"))

    val valuePairs = lKeyed
      .join(rKeyed, Seq("__seg"))
      .withColumn("__dist", levenshtein(col("__lstr"), col("__rstr"), maxDist))
      .where(col("__dist") >= 0) // threshold form returns -1 when above d
      .select("__lstr", "__rstr", "__dist")
      .dropDuplicates("__lstr", "__rstr")

    if (!expand) {
      // value granularity: one row per verified value pair plus occurrence
      // counts — two pre-aggregated joins on the value, no k² re-expansion
      val lCnt = left.where(col(leftCol).isNotNull)
        .groupBy(col(leftCol).as("__lstr")).agg(count(lit(1)).as("left_count"))
      val rCnt = right.where(col(rightCol).isNotNull)
        .groupBy(col(rightCol).as("__rstr")).agg(count(lit(1)).as("right_count"))
      val rName = if (rightCol == leftCol) rightCol + suffix else rightCol
      valuePairs
        .join(lCnt, Seq("__lstr"))
        .join(rCnt, Seq("__rstr"))
        .select(col("__lstr").as(leftCol), col("__rstr").as(rName),
          col("__dist").as("edit_dist"), col("left_count"), col("right_count"))
    } else {
      // re-expand value pairs to row pairs; alias qualifiers keep the
      // self-join case (left eq right) unambiguous
      val lAl = left.alias("__fj_l")
      val rAl = right.alias("__fj_r")
      val leftNames = left.columns.toSet
      valuePairs
        .join(lAl, col("__lstr") === col(s"__fj_l.$leftCol"))
        .join(rAl, col("__rstr") === col(s"__fj_r.$rightCol"))
        .select(left.columns.toSeq.map(c => col(s"__fj_l.$c").as(c)) ++
          right.columns.toSeq.map { c =>
            col(s"__fj_r.$c").as(if (leftNames(c)) c + suffix else c)
          } ++ Seq(col("__dist").as("edit_dist")): _*)
    }
  }

  /** Interval overlap join: all (left, right) pairs sharing `on` keys whose
    * closed intervals [leftStart, leftEnd] and [rightStart, rightEnd]
    * overlap (`ls <= re AND rs <= le`). Start/end are numeric columns (cast
    * dates/timestamps to days/seconds first).
    *
    * Spark-first via interval binning: each interval is replicated to the
    * fixed-width buckets it spans (`floor(start/w) .. floor(end/w)`), the
    * sides meet in an equi-join on (`on`, bucket), and each qualifying pair
    * is emitted EXACTLY once by keeping only the first bucket both
    * intervals share — `bucket == greatest(floor(ls/w), floor(rs/w))` — so
    * no distinct pass is needed. This replaces the planner's only native
    * option for pure inequality predicates (BroadcastNestedLoopJoin, O(n*m))
    * with a shuffled hash join whose cost is O(n * len/w) replicated rows.
    * Pick `bucketWidth` near the typical interval length: replication
    * factor is len/w + 1, while a too-wide bucket degrades toward
    * per-key all-pairs within one bucket.
    *
    * Long-tail guard (`maxReplication = Some(n)`): under the single-width
    * scheme one interval spanning thousands of buckets replicates that many
    * rows — the skew that kills 100 TB runs. The guard switches to a
    * geometric level ladder (widths `w·nˡ`): every interval lives NATIVELY
    * at the smallest level where it spans ≤ n buckets, and additionally
    * marks presence at every coarser level (≤ 2 buckets each, since its
    * span is below one coarser-bucket width). A pair meets at the coarser
    * of its two native levels — where the longer interval replicates ≤ n
    * times and the shorter ≤ 2 — and is emitted exactly once by the same
    * first-shared-bucket guard evaluated at that level's width, now with a
    * level-equality key in the join. Per-row replication is therefore
    * capped at n + 2·(levels above native), independent of interval
    * length; the ladder height comes from one cheap max-span aggregate
    * over each input (the only extra pass), so short-interval-only data
    * gets maxLvl = 0 and the exact single-level plan. Output is
    * row-identical to the unguarded path (spec'd).
    */
  def intervalJoin(
      left: DataFrame,
      right: DataFrame,
      on: Seq[String],
      leftStart: String,
      leftEnd: String,
      rightStart: String,
      rightEnd: String,
      bucketWidth: Double,
      suffix: String = "_right",
      maxReplication: Option[Int] = None): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    maxReplication.foreach(n => require(n >= 2, "maxReplication must be >= 2"))

    def valid(df: DataFrame, s: String, e: String): DataFrame =
      df.where(col(s).isNotNull && col(e).isNotNull && col(s) <= col(e))

    // ladder height: 0 without the guard; with it, enough levels that the
    // longest interval in EITHER input spans <= n-1 native-level buckets
    val maxLvl = maxReplication.fold(0) { n =>
      def spanMax(df: DataFrame, s: String, e: String): Double = {
        val r = valid(df, s, e)
          .agg(max(col(e).cast("double") - col(s).cast("double"))).head()
        if (r.isNullAt(0)) 0.0 else r.getDouble(0)
      }
      // a self-join with identical span columns pays the span scan once
      val mx =
        if ((left eq right) && leftStart == rightStart && leftEnd == rightEnd)
          spanMax(left, leftStart, leftEnd)
        else math.max(spanMax(left, leftStart, leftEnd),
          spanMax(right, rightStart, rightEnd))
      var l = 0
      while (mx > (n - 1).toDouble * bucketWidth * math.pow(n, l) && l < 40) l += 1
      l
    }
    val base = maxReplication.getOrElse(2).toDouble

    def widthAt(lvl: Column): Column = lit(bucketWidth) * pow(lit(base), lvl.cast("double"))
    def bucketAt(c: Column, lvl: Column): Column =
      floor(c.cast("double") / widthAt(lvl)).cast("long")
    // native level: smallest l with span <= (n-1)·w·n^l; fp wobble here is
    // harmless — the level is CARRIED with the row, so both the replication
    // range (native..maxLvl) and the meet-level guard use the same value
    def natLvl(s: String, e: String): Column = maxReplication match {
      case None => lit(0)
      case Some(n) =>
        val span = col(e).cast("double") - col(s).cast("double")
        val raw = ceil(log(n.toDouble, span / lit((n - 1).toDouble * bucketWidth))).cast("int")
        least(greatest(coalesce(raw, lit(0)), lit(0)), lit(maxLvl))
    }

    // prefix-rename both sides up front: kills self-join attribute
    // ambiguity (left and right may be the SAME frame) and makes the
    // equi-join keys plain columns Catalyst can hash-partition on
    def replicate(df: DataFrame, s: String, e: String, pfx: String,
        nat: String, lvl: String, bkt: String): DataFrame =
      valid(df, s, e)
        .select(df.columns.map(c => col(c).as(s"$pfx$c")) :+
          natLvl(s, e).as(nat): _*)
        .select(col("*"), explode(sequence(col(nat), lit(maxLvl))).as(lvl))
        .select(col("*"), explode(sequence(
          bucketAt(col(s"$pfx$s"), col(lvl)),
          bucketAt(col(s"$pfx$e"), col(lvl)))).as(bkt))
    val lb = replicate(left, leftStart, leftEnd, "__l_", "__lnat", "__llvl", "__lbkt")
    val rb = replicate(right, rightStart, rightEnd, "__r_", "__rnat", "__rlvl", "__rbkt")

    val keyCond = on.map(c => col(s"__l_$c") === col(s"__r_$c"))
    val overlap = col(s"__l_$leftStart") <= col(s"__r_$rightEnd") &&
      col(s"__r_$rightStart") <= col(s"__l_$leftEnd")
    // exactly-once: the pair meets only at the coarser of the two native
    // levels, in the first bucket both intervals share at that level
    val firstShared = col("__lbkt") === greatest(
      bucketAt(col(s"__l_$leftStart"), col("__llvl")),
      bucketAt(col(s"__r_$rightStart"), col("__llvl")))
    val lvlEq = col("__llvl") === col("__rlvl")
    val bktEq = col("__lbkt") === col("__rbkt")

    // shuffle-hash, not broadcast: the planner's size estimate predates the
    // bucket explode, so it happily broadcasts a million-row build side
    // (single-threaded hashmap build, driver collect — 6.5 s vs 1.5 s at
    // sf0.1, and a guaranteed OOM for a genuinely large left). A hash join
    // partitioned on (key, lvl, bucket) is the shape that survives
    // fact-to-fact interval joins at 100 TB; sort-merge adds nothing since
    // bucket groups are small by construction.
    val joined =
      if (maxLvl == 0) {
        // single level: every row is native, one join (the flat plan)
        lb.hint("shuffle_hash").join(rb,
          (Seq(overlap, firstShared, lvlEq, bktEq) ++ keyCond).reduce(_ && _))
      } else {
        // Two asymmetric halves so the BUILD side at every level holds only
        // NATIVE rows of that level. A row's replicas exist at levels
        // >= native, so matching at the build side's native level already
        // implies the probe side's native <= it — pairs meet exactly at
        // max(nat_l, nat_r) with no explicit meet-level predicate. Without
        // this split, short intervals marked as ancestors in coarse levels
        // all share a handful of planet-wide buckets and probe EACH OTHER
        // there (per-key all-pairs at the top level, measured 2x the whole
        // join's cost at sf0.1); with it, coarse buckets contain only the
        // rare long intervals, so short×short candidates never form above
        // level 0. Equal native levels land in half 1; half 2 takes
        // strictly-coarser right natives, keeping the halves disjoint.
        val half1 = lb.where(col("__llvl") === col("__lnat")).hint("shuffle_hash")
          .join(rb, (Seq(overlap, firstShared, lvlEq, bktEq) ++ keyCond).reduce(_ && _))
        val half2 = lb.join(rb.where(col("__rlvl") === col("__rnat")).hint("shuffle_hash"),
          (Seq(overlap, firstShared, lvlEq, bktEq,
            col("__lnat") < col("__rnat")) ++ keyCond).reduce(_ && _))
        half1.unionByName(half2)
      }

    val leftNames = left.columns.toSet
    joined.select(
      left.columns.toSeq.map(c => col(s"__l_$c").as(c)) ++
        right.columns.toSeq.map { c =>
          col(s"__r_$c").as(if (leftNames(c)) c + suffix else c)
        }: _*)
  }

  /** Exact set-similarity join: all (left, right) id pairs whose word-token
    * SETS have Jaccard similarity >= `threshold` — the EXACT complement to
    * the MinHash family (no probabilistic recall loss; use this when every
    * qualifying pair must be found, MinHash when an approximate candidate
    * set is enough). Tokens are the distinct lowercased whitespace words;
    * rows with empty token sets are excluded (a threshold > 0 is
    * unreachable). Output is id granularity — (leftId, rightId, left_size,
    * right_size, overlap, jaccard) — join payloads back by id.
    *
    * Spark-first via prefix filtering (the AllPairs/PPJoin family, Bayardo
    * et al. 2007 / Xiao et al. 2008 — public literature, no reference
    * counterpart): tokens get a GLOBAL rare-first total order (ascending
    * document frequency over both inputs, token text as tie-break),
    * dictionary-encoded to dense int ranks (vocabulary-sized table); each
    * row's token array is sorted in that order, and only its PREFIX of
    * length n − ceil(t·n) + 1 is exploded as join keys. If J(s, r) >= t
    * then |s ∩ r| >= ceil(t·max(|s|,|r|)), and two sets overlapping that
    * much must share a token inside both prefixes (pigeonhole on the
    * common order), so the candidate equi-join on prefix tokens is
    * COMPLETE; a size band (t·|s| <= |r| <= |s|/t) prunes hopeless pairs
    * in the join condition. The fp nudge (−1e-9 before ceil) only ever
    * LENGTHENS a prefix — fp error can loosen the filter, never break
    * completeness.
    *
    * Cost shape at 100 TB: document frequencies are one map-side-combined
    * groupBy over the token stream; per-row sorted arrays are one id-keyed
    * aggregation per side; the candidate join explodes only ~(1−t)·n + 1
    * prefix tokens per row, and rare-first ordering keeps every token
    * bucket small (frequent tokens sit at the back of each array and never
    * become keys — the inverse of a stop-word flood); candidate pairs
    * dedup on NARROW 16-byte id pairs (a pair can meet on several shared
    * prefix tokens) and the exact Jaccard verify joins the token arrays
    * back BY ID — full arrays never travel as join keys and never
    * replicate per candidate token. No all-pairs stage anywhere; the
    * remaining hazard is inherent: a low threshold (t < ~0.3) lengthens
    * prefixes toward whole sets and the candidate count toward the true
    * pair count.
    */
  def setSimJoin(
      left: DataFrame,
      right: DataFrame,
      leftId: String,
      leftCol: String,
      rightId: String,
      rightCol: String,
      threshold: Double,
      suffix: String = "_right"): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold must be in (0, 1]")

    def toksOf(c: Column): Column =
      array_distinct(TextAnalysis.wordTokens(c))

    // both sides normalize to the SAME generic column names before any
    // heavy work, so a true self-join (same frame, same columns) yields
    // byte-identical aggregate subplans — the shape Catalyst's exchange
    // reuse can serve once instead of four times (two prefix explodes, two
    // verify join-backs). Role renames happen AFTER the aggregates, above
    // the would-be-shared exchanges; an asymmetric probe join keeps
    // distinct plans and simply recomputes.
    def prep(df: DataFrame, id: String, tc: String): DataFrame =
      df.select(col(id).as("__id"), toksOf(col(tc)).as("__toks"))
        .where(size(col("__toks")) > 0)
    val l0 = prep(left, leftId, leftCol)
    val r0 = prep(right, rightId, rightCol)

    // rare-first global order: df over BOTH inputs (self-joins double-count
    // every token — a uniform scale that cannot change the ordering).
    // Tokens are DICTIONARY-ENCODED to their dense rank in that order (§2.3
    // narrower types / §4 codegen): every downstream structure — sorted
    // arrays, prefix join keys, the verify intersection — carries 4-byte
    // ints instead of strings, and sorting ranks ascending IS the rare-first
    // (df, token) order. The rank table is vocabulary-sized (the same class
    // as the BM25 stats tables); its one-partition row_number sort is
    // bounded by the vocab, not the corpus. dict feeds both sorted sides —
    // persisted, listener-released, or each side recomputes it from the scan
    val dfreq = l0.select(explode(col("__toks")).as("__tok"))
      .unionAll(r0.select(explode(col("__toks")).as("__tok")))
      .groupBy("__tok").agg(count(lit(1)).as("__df"))
    val dict = Caches.cachedUntilAction(dfreq.select(col("__tok"),
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("__df"), col("__tok"))).as("__rnk")))

    def sortedSide(side: DataFrame): DataFrame =
      side.select(col("__id"), explode(col("__toks")).as("__tok"))
        .join(dict, "__tok")
        .groupBy(col("__id"))
        .agg(sort_array(collect_list(col("__rnk"))).as("__stoks"))
        .select(col("__id"), col("__stoks"), size(col("__stoks")).as("__n"))
    // each side feeds the prefix explode AND the exact-verify join-back —
    // unpersisted, every reference recomputes the aggregation from the scan
    val ls = Caches.cachedUntilAction(sortedSide(l0))
    val rs = Caches.cachedUntilAction(sortedSide(r0))

    def prefixLen(n: Column): Column =
      (n - ceil(lit(threshold) * n.cast("double") - lit(1e-9)).cast("int") + 1)

    val lp = ls.select(col("__id").as("__lid"), col("__n").as("__ln"),
      posexplode(slice(col("__stoks"), lit(1), prefixLen(col("__n")))))
      .withColumnRenamed("pos", "__lpos").withColumnRenamed("col", "__tok")
    val rp = rs.select(col("__id").as("__rid"), col("__n").as("__rn"),
      posexplode(slice(col("__stoks"), lit(1), prefixLen(col("__n")))))
      .withColumnRenamed("pos", "__rpos").withColumnRenamed("col", "__tok")
    // PPJoin positional filter: a shared prefix token at (1-based) positions
    // i, j caps the possible overlap at 1 + min(n_l − i, n_r − j); pairs
    // that cannot reach the PAIR-level requirement α = ceil(t/(1+t)·(n_l +
    // n_r)) die inside the codegen'd join condition, before the candidate
    // distinct ever sees them. The fp nudge loosens α — safe direction.
    val alphaPair = ceil(lit(threshold / (1.0 + threshold)) *
      (lp("__ln") + rp("__rn")).cast("double") - lit(1e-9))
    val posBound = (lit(1) + least(
      lp("__ln") - (col("__lpos") + 1), rp("__rn") - (col("__rpos") + 1))
      ).cast("double") >= alphaPair
    val cands = lp.join(rp,
        lp("__tok") === rp("__tok") &&
          rp("__rn").cast("double") + lit(1e-9) >= lit(threshold) * lp("__ln") &&
          rp("__rn").cast("double") <= lp("__ln") / lit(threshold) + lit(1e-9) &&
          posBound)
      .select(col("__lid"), col("__rid")).distinct()

    val rOut = if (rightId == leftId) rightId + suffix else rightId
    // exact verify: both sides' rank arrays are sorted ascending, so the
    // overlap is one codegen'd merge scan (sorted_intersect_size) instead of
    // an interpreted array_intersect per candidate pair — and the arrays
    // shipped into this join are int-encoded, not token strings
    cands
      .join(ls.select(col("__id").as("__lid"), col("__stoks").as("__ltoks"),
        col("__n").as("left_size")), "__lid")
      .join(rs.select(col("__id").as("__rid"), col("__stoks").as("__rtoks"),
        col("__n").as("right_size")), "__rid")
      .withColumn("overlap",
        graft.functions.TextFunctions.sorted_intersect_size(col("__ltoks"), col("__rtoks")))
      .withColumn("jaccard", col("overlap").cast("double") /
        (col("left_size") + col("right_size") - col("overlap")).cast("double"))
      .where(col("jaccard") >= threshold)
      .select(col("__lid").as(leftId), col("__rid").as(rOut),
        col("left_size"), col("right_size"), col("overlap"), col("jaccard"))
  }

  /** Bloom-pruned inner equi-join (semi-join reduction): joins `big` to
    * `small` on `bigKey = smallKey`, with the big side gated by a Bloom
    * filter of the small side's keys BEFORE anything is shuffled. Bloom has
    * no false negatives, so the gate never drops a matching row, and the
    * exact join removes the false positives — the output is IDENTICAL to
    * the plain inner join (the oracle checks exactly that).
    *
    * The 100 TB shape this exists for: a selective dimension (10M keys out
    * of 10B fact rows) that is too large to broadcast as a hash relation,
    * so Spark plans a shuffled join and exchanges the ENTIRE fact table.
    * The dimension's Bloom bits are O(numBits) whatever its key count; the
    * gate is a codegen'd per-row filter (numHashes splitmix probes into a
    * dense word-array literal — no explode, no join, no extra column), so
    * non-matching fact rows die in the scan stage and the exchange carries
    * only survivors. Spark's own runtime bloom filter
    * (`spark.sql.optimizer.runtime.bloomFilter.enabled`) covers the
    * single-query case; this operator makes the reduction explicit and
    * composable — build bits once with [[Sketch.bloomBits]]-equivalent
    * hashing, gate many fact scans (the same bits prune every query
    * against the same dimension).
    *
    * Sizing: false-positive rate ≈ (1 − e^(−kn/m))^k for n keys, m bits,
    * k hashes — 1<<20 bits / 5 hashes holds ~100k keys under 1% fp. Bits
    * embed in the plan as a word-array literal (numBits/64 longs, same
    * bounded-collect policy as [[Sketch.heavyHitters]]' registers), capped
    * at 8M bits / 1 MB; beyond that, gate with the relational
    * [[Sketch.bloomBits]]/[[Sketch.bloomContains]] pair instead.
    */
  def bloomPrunedJoin(big: DataFrame, small: DataFrame,
      bigKey: String, smallKey: String, numBits: Int = 1 << 20,
      numHashes: Int = 5, seed: Long = 42L): DataFrame = {
    val gated = bloomGate(big, small, bigKey, smallKey, numBits, numHashes, seed)
    gated.join(small, gated(bigKey) === small(smallKey), "inner")
  }

  /** The gate of [[bloomPrunedJoin]] alone: `big` filtered to rows whose
    * `bigKey` the Bloom bits of `small[smallKey]` consider maybe-present
    * (null keys drop — inner-join semantics). Use directly to prune SEVERAL
    * fact scans against one dimension, or to stage the reduction ahead of a
    * join this operator doesn't own (left joins, multi-key joins).
    */
  def bloomGate(big: DataFrame, small: DataFrame,
      bigKey: String, smallKey: String, numBits: Int = 1 << 20,
      numHashes: Int = 5, seed: Long = 42L): DataFrame =
    big.where(col(bigKey).isNotNull &&
      bloomMember(small, smallKey, col(bigKey), big.schema(bigKey).dataType,
        numBits, numHashes, seed))

  /** The membership predicate of [[bloomGate]] as a free-standing Column:
    * true iff the Bloom bits of `small[smallKey]` consider `keyExpr`
    * maybe-present. Builds the word-array literal ONCE at call time (one
    * bounded job over `small`), so the returned column is a pure codegen'd
    * filter usable anywhere a Column is — batch scans, several frames, or a
    * streaming query gated against a static seen-corpus.
    */
  def bloomMember(small: DataFrame, smallKey: String, keyExpr: Column,
      keyType: org.apache.spark.sql.types.DataType, numBits: Int = 1 << 20,
      numHashes: Int = 5, seed: Long = 42L): Column = {
    require(numBits >= 64 && (numBits & (numBits - 1)) == 0,
      "numBits must be a power of two >= 64")
    require(numBits <= (1 << 23),
      "bits embed in the plan as a word-array literal; keep numBits <= 8M")
    require(numHashes >= 1 && numHashes <= 16, "numHashes must be in [1, 16]")
    val words = new Array[Long](numBits / 64)
    // bounded collect: <= numBits distinct positions, sketch metadata
    Sketch.bloomBits(small.select(smallKey), smallKey, numBits, numHashes, seed)
      .collect().foreach { r =>
        val b = r.getAs[Long]("bit")
        words((b >> 6).toInt) |= (1L << (b & 63))
      }
    val arr = typedLit(words.toSeq)
    val masks = typedLit((0 until 64).map(i => 1L << i))
    val h = Sketch.hash64(keyType, keyExpr, seed)
    (0 until numHashes).map { k =>
      val bit = Sketch.bloomIdx(h, lit(k), numBits, seed).cast("int")
      (element_at(arr, shiftright(bit, 6) + 1)
        .bitwiseAND(element_at(masks, pmod(bit, lit(64)) + 1))) =!= lit(0L)
    }.reduce(_ && _)
  }

  /** Exact set-CONTAINMENT join — the asymmetric sibling of [[setSimJoin]]
    * for subset-document detection (quotes, excerpts, page-in-site): emits
    * (left, right) pairs where the right set covers at least `threshold` of
    * the left's distinct tokens, C(l→r) = |l ∩ r| / |l| ≥ t. Jaccard misses
    * exactly these pairs (a 30-token quote inside a 3000-token page has
    * J ≈ 0.01) — containment is the published fix (asymmetric prefix
    * filtering, Melnik/Garcia-Molina-style inverted probes).
    *
    * Candidate generation: the left set shares the prefix-filter argument
    * with [[setSimJoin]] — overlap must reach α = ⌈t·|l|⌉, so l must share
    * a token inside its rare-first prefix of length |l| − α + 1 (pigeonhole;
    * the −1e-9 fp nudge only lengthens prefixes). The right side has NO
    * such bound (α depends on the probe, not on |r| — a tiny quote pins
    * almost nothing inside a huge page), so right tokens build a FULL
    * inverted index: the inherent cost of containment, identical to the
    * BM25 postings shape, one row per (token, right id). Rare-first
    * ordering keeps every probe-side bucket small — frequent tokens never
    * leave a left prefix. The size gate |r| ≥ α prunes inside the codegen'd
    * join condition, candidates dedup on narrow id pairs, and the exact
    * verify joins token arrays back BY ID.
    */
  def containmentJoin(
      left: DataFrame,
      right: DataFrame,
      leftId: String,
      leftCol: String,
      rightId: String,
      rightCol: String,
      threshold: Double,
      suffix: String = "_right"): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold must be in (0, 1]")

    def toksOf(c: Column): Column =
      array_distinct(TextAnalysis.wordTokens(c))
    def prep(df: DataFrame, id: String, tc: String): DataFrame =
      df.select(col(id).as("__id"), toksOf(col(tc)).as("__toks"))
        .where(size(col("__toks")) > 0)
    val l0 = prep(left, leftId, leftCol)
    val r0 = prep(right, rightId, rightCol)

    // rare-first order from BOTH sides' document frequencies, as in
    // setSimJoin (a uniform self-join double-count cannot reorder) —
    // dictionary-encoded to dense int ranks exactly as there, so the
    // inverted index, the probe prefixes, and the verify intersection all
    // run over 4-byte ints instead of token strings
    val dfreq = l0.select(explode(col("__toks")).as("__tok"))
      .unionAll(r0.select(explode(col("__toks")).as("__tok")))
      .groupBy("__tok").agg(count(lit(1)).as("__df"))
    val dict = Caches.cachedUntilAction(dfreq.select(col("__tok"),
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("__df"), col("__tok"))).as("__rnk")))

    // probe prefixes + verify both read the sorted probe side; the right
    // side's rank-array frame feeds the inverted index (a cheap int-array
    // explode) AND the verify join-back — persisted, listener-released
    def sortedSide(side: DataFrame): DataFrame =
      side.select(col("__id"), explode(col("__toks")).as("__tok"))
        .join(dict, "__tok")
        .groupBy(col("__id"))
        .agg(sort_array(collect_list(col("__rnk"))).as("__stoks"))
        .select(col("__id"), col("__stoks"), size(col("__stoks")).as("__n"))
    val ls = Caches.cachedUntilAction(sortedSide(l0))
    val rs = Caches.cachedUntilAction(sortedSide(r0)
      .select(col("__id").as("__rid"), col("__stoks").as("__rtoks"),
        col("__n").as("__rn")))

    val alpha = ceil(lit(threshold) * col("__n").cast("double") - lit(1e-9))
    val lp = ls.select(col("__id").as("__lid"), col("__n").as("__ln"),
      explode(slice(col("__stoks"), lit(1),
        (col("__n") - alpha.cast("int") + 1))).as("__tok"))
    val rp = rs.select(col("__rid"), col("__rn"),
      explode(col("__rtoks")).as("__tok"))
    val cands = lp.join(rp,
        lp("__tok") === rp("__tok") &&
          rp("__rn").cast("double") + lit(1e-9) >= lit(threshold) * lp("__ln"))
      .select(col("__lid"), col("__rid")).distinct()

    val rOut = if (rightId == leftId) rightId + suffix else rightId
    cands
      .join(ls.select(col("__id").as("__lid"), col("__stoks").as("__ltoks"),
        col("__n").as("left_size")), "__lid")
      .join(rs.select(col("__rid"), col("__rtoks"),
        col("__rn").as("right_size")), "__rid")
      .withColumn("overlap",
        graft.functions.TextFunctions.sorted_intersect_size(col("__ltoks"), col("__rtoks")))
      .withColumn("containment", col("overlap").cast("double") / col("left_size").cast("double"))
      .where(col("containment") >= threshold)
      .select(col("__lid").as(leftId), col("__rid").as(rOut),
        col("left_size"), col("right_size"), col("overlap"), col("containment"))
  }
}
