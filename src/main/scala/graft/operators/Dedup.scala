package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

/** Deduplication operators for large-scale corpus curation (beyond the
  * reference's surface; see SURVEY.md §2 "LLM-data-pipeline operators").
  *
  * All variants are shuffle-lean: they hash/sketch first so the exchange moves
  * fixed-size keys, not document bodies, and they pick a deterministic
  * representative row (min of `tieBreak`) instead of relying on row order.
  * Near-dup variants share one shape: sketch → collapse exact duplicates →
  * bucket (LSH band) → self-join within bucket → cheap verify on the sketch →
  * drop the larger id of every verified pair.
  *
  * Degenerate-bucket protection: a crawl corpus puts millions of
  * byte-identical boilerplate pages into ONE band bucket, and a naive
  * within-bucket self-join is O(bucket²). Every near-dup variant therefore
  * pre-collapses exact duplicates (group by the full sketch — or the full
  * text when the verify stage reads texts — keep the min-id representative)
  * BEFORE banding, which is semantics-preserving: identical payloads always
  * verify against each other and share every bucket, so non-representative
  * members drop exactly when the group self-verifies, and representatives
  * reproduce all cross-group pairs. A mass-duplicated page costs one
  * representative in the join, not n²/2 pairs. For adversarial
  * near-identical-but-distinct floods, `maxBucket` additionally caps each
  * bucket to its `maxBucket` smallest-id members as probe rows (candidates =
  * probe × member, never member × member) — an explicit recall trade-off, off
  * by default so results stay exact.
  */
object Dedup {

  /** Exact dedup on `keys`: keeps, per distinct key combination, the row with
    * the smallest `tieBreak` value. groupBy gets a map-side partial min_by, so
    * at 100 TB the shuffle carries one candidate row per key per input
    * partition, not every duplicate. The pick is ATOMIC — one min_by over the
    * packed payload struct, never independent per-column min_bys, which under
    * tieBreak ties could stitch together a row that never existed. Exact
    * tieBreak ties keep one real row (make tieBreak unique for a fully
    * deterministic pick). `keys` covering every column degrades to distinct.
    */
  def exact(df: DataFrame, keys: Seq[String], tieBreak: String): DataFrame = {
    val others = df.columns.toIndexedSeq.filterNot(keys.contains)
    if (others.isEmpty) df.dropDuplicates(keys)
    else df.groupBy(keys.map(col).toSeq: _*)
      .agg(min_by(struct(others.map(col): _*), col(tieBreak)).as("__rep"))
      .select(df.columns.toIndexedSeq.map(c =>
        if (keys.contains(c)) col(c) else col(s"__rep.$c").as(c)): _*)
  }

  /** Caps pair generation: with `maxBucket` > 0 only the `maxBucket`
    * smallest-id rows of each bucket act as join probes (left side); every
    * member still gets compared against the bucket's smallest ids. 0 = all
    * rows probe (exact; the self-join reuses one shuffle via ReusedExchange).
    */
  private def probesOf(buckets: DataFrame, maxBucket: Int): DataFrame =
    if (maxBucket <= 0) buckets
    else buckets
      .withColumn("__rank", row_number().over(Window.partitionBy("__bucket").orderBy("__id")))
      .where(col("__rank") <= maxBucket).drop("__rank")

  /** Ids (as `__id`) of dropped rows for the sketch-verified family:
    * `sketched` has (__id, __sketch); `bucketize` appends the exploded
    * `__bucket` column; `verify` decides pair similarity from two sketches.
    * Collapses identical sketches to their min-id representative before
    * banding (see the object doc for why this is exact).
    */
  private def sketchDrop(
      sketched: DataFrame,
      bucketize: DataFrame => DataFrame,
      verify: (Column, Column) => Column,
      maxBucket: Int): DataFrame = {
    // group by a 128-bit sketch key so the membership join below moves
    // 16 bytes per row, not the full signature/vector; the representative
    // rows (min id per group) are recovered with one semi-join — sketches
    // shuffle once
    val keyed = sketched.withColumn("__sk", contentKey(col("__sketch")))
    val groups = keyed.groupBy("__sk").agg(min("__id").as("__gid"))
    // one __sk-keyed join feeds BOTH the representative set (rows whose id is
    // the group min) and the membership map below — the exchange is shared
    // (ReusedExchange), where a separate id-keyed semi-join for reps would
    // shuffle the sketches a second time
    val mem = keyed.join(groups, Seq("__sk"))
    val reps = mem.where(col("__id") === col("__gid"))
    val buckets = bucketize(reps.select(col("__id"), col("__sketch")))
    val repDrop = probesOf(buckets, maxBucket).as("a")
      .join(buckets.as("b"), col("a.__bucket") === col("b.__bucket"))
      .where(col("a.__id") < col("b.__id") && verify(col("a.__sketch"), col("b.__sketch")))
      .select(col("b.__id").as("__gid"))
      .distinct()
      .withColumn("__repdrop", lit(true))
    // a dropped representative takes its whole group with it; a surviving
    // group still drops its non-representative members — gated on the group
    // self-verifying, which keeps degenerate edges (NaN cosine of zero
    // vectors) bit-identical to the pairwise semantics
    val repSelf = reps
      .select(col("__id").as("__gid"), verify(col("__sketch"), col("__sketch")).as("__sv"))
      .where(col("__sv")).select("__gid").withColumn("__selfv", lit(true))
    mem.select("__id", "__gid")
      .join(repDrop, Seq("__gid"), "left")
      .join(repSelf, Seq("__gid"), "left")
      .where(col("__repdrop").isNotNull ||
        (col("__id") =!= col("__gid") && col("__selfv").isNotNull))
      .select("__id")
  }

  /** 128-bit content key (two seeded xxhash64 halves): joins that only carry
    * group membership move 16 bytes instead of full document texts.
    * Collision odds ~n²/2^129 — immaterial at any corpus size.
    */
  private def contentKey(c: Column): Column =
    struct(xxhash64(lit(0), c), xxhash64(lit(1), c))

  /** Estimated Jaccard from two MinHash signatures: fraction of agreeing
    * components (pure built-ins — stays in codegen).
    */
  def minhashSimilarity(a: Column, b: Column): Column =
    size(filter(zip_with(a, b, (x, y) => (x === y).cast("int")), v => v === 1))
      .cast("double") / size(a)

  /** LSH band bucket id of one signature band — THE banding formula, shared
    * by the batch family here and the streaming dedup variants
    * ([[graft.streaming.EventStream]]): any drift between the two would
    * silently break their documented kept-set parity.
    */
  private[graft] def bandBucket(band: Column, sig: Column, rowsPerBand: Int): Column =
    xxhash64(band, slice(sig, band * rowsPerBand + 1, lit(rowsPerBand)))

  /** Appends the exploded MinHash band bucket column. */
  private def minhashBuckets(numBands: Int, rowsPerBand: Int)(reps: DataFrame): DataFrame =
    reps
      .withColumn("__band", explode(sequence(lit(0), lit(numBands - 1))))
      .withColumn("__bucket", bandBucket(col("__band"), col("__sketch"), rowsPerBand))
      .drop("__band")

  /** MinHash + banded LSH near-dedup: keeps one representative (smallest
    * `idCol`) of every near-duplicate cluster detected at estimated Jaccard ≥
    * `threshold` (reference point: Broder's shingling/minhash resemblance and
    * the standard LSH banding construction).
    *
    * numBands must divide numHashes; a pair collides when any band of
    * numHashes/numBands signature components matches exactly. `maxBucket` > 0
    * additionally caps per-bucket probes (recall trade-off on adversarial
    * floods of near-identical-but-distinct documents; exact duplicates are
    * already collapsed and never blow up regardless).
    */
  /** Shared front half of the text-keyed MinHash family: exact duplicates
    * collapse BEFORE sketching, keyed on a 128-bit text hash with a map-side
    * min_by — a boilerplate flood contracts inside each input partition (the
    * shuffle moves one candidate text per distinct text per partition, never
    * the flood), and the minhash sketch — the expensive per-char × numHashes
    * kernel — runs once per distinct text. Semantics-preserving: identical
    * texts have identical sketches, hence identical buckets and
    * self-similarity 1 ≥ threshold (threshold ≤ 1 is required by callers).
    * NULL texts keep pairwise semantics: their sketch is null, null
    * similarity never passes a threshold, so they neither pair nor
    * self-verify — `groups.__rt IS NULL` marks that group.
    *
    * Returns (base = (__id, __tk), groups = (__tk, __gid, __rt),
    * verifiedPairs = (__src, __dst) with __src < __dst).
    */
  private def textCollapsedPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      numHashes: Int,
      numBands: Int,
      shingle: Int,
      threshold: Double,
      maxBucket: Int): (DataFrame, DataFrame, DataFrame) = {
    require(numHashes % numBands == 0, "numBands must divide numHashes")
    require(threshold <= 1.0, "threshold > 1 would break the identical-text collapse")
    val base = df.select(col(idCol).as("__id"), col(textCol).as("__t"))
      .withColumn("__tk", contentKey(col("__t")))
    val groups = base.groupBy("__tk")
      .agg(min("__id").as("__gid"), min_by(col("__t"), col("__id")).as("__rt"))
    val buckets = minhashBuckets(numBands, numHashes / numBands)(
      groups.select(col("__gid").as("__id"),
        minhash_sig(col("__rt"), numHashes, shingle).as("__sketch")))
    val pairs = probesOf(buckets, maxBucket).as("a")
      .join(buckets.as("b"), col("a.__bucket") === col("b.__bucket"))
      .where(col("a.__id") < col("b.__id") &&
        minhashSimilarity(col("a.__sketch"), col("b.__sketch")) >= threshold)
      .select(col("a.__id").as("__src"), col("b.__id").as("__dst"))
      .distinct()
    (base.select("__id", "__tk"), groups, pairs)
  }

  def minhashLsh(
      df: DataFrame,
      textCol: String,
      idCol: String,
      numHashes: Int = 128,
      numBands: Int = 16,
      shingle: Int = 5,
      threshold: Double = 0.8,
      maxBucket: Int = 0): DataFrame = {
    val (base, groups, pairs) = textCollapsedPairs(
      df, textCol, idCol, numHashes, numBands, shingle, threshold, maxBucket)
    val repDrop = pairs.select(col("__dst").as("__gid"))
      .distinct()
      .withColumn("__repdrop", lit(true))
    // non-rep members drop only when their group self-verifies — for minhash
    // that is "the text is not NULL" (identical non-null texts always have
    // self-similarity 1; a NULL sketch verifies nothing), matching the
    // pairwise run, which keeps every NULL-text row
    val drop = base
      .join(groups.select(col("__tk"), col("__gid"), col("__rt").isNotNull.as("__selfv")),
        Seq("__tk"))
      .join(repDrop, Seq("__gid"), "left")
      .where(col("__repdrop").isNotNull || (col("__id") =!= col("__gid") && col("__selfv")))
      .select(col("__id").as(idCol))
    df.join(drop, Seq(idCol), "left_anti")
  }

  /** SimHash near-dedup: 64-bit token sketch; candidates collide on any of
    * four 16-bit chunks (pigeonhole guarantees recall for hamming ≤ 3);
    * verified when hamming distance ≤ `maxHamming`.
    */
  def simhash(
      df: DataFrame,
      textCol: String,
      idCol: String,
      maxHamming: Int = 3,
      maxBucket: Int = 0): DataFrame = {
    val sketched = df.select(col(idCol).as("__id"), simhash64(col(textCol)).as("__sketch"))
    val bucketize = (reps: DataFrame) => reps
      .withColumn("__chunk", explode(sequence(lit(0), lit(3))))
      .withColumn("__bucket",
        xxhash64(col("__chunk"), expr("shiftrightunsigned(__sketch, __chunk * 16)").bitwiseAND(lit(0xffffL))))
      .drop("__chunk")
    val drop = sketchDrop(sketched, bucketize,
      (a, b) => bit_count(a.bitwiseXOR(b)) <= maxHamming, maxBucket)
    df.join(drop.withColumnRenamed("__id", idCol), Seq(idCol), "left_anti")
  }

  /** Hamming-ball dedup over a PRECOMPUTED 64-bit sketch column — the
    * [[simhash]] drop machinery for any externally-derived fingerprint
    * (image aHash via [[Multimodal.withImageAHash]], audio fingerprints,
    * vec-simhash): 4×16-bit chunk buckets (complete for `maxHamming` <= 3 by
    * pigeonhole), exact-duplicate pre-collapse, bit_count verify. Rows with
    * a null sketch never match anything and always survive.
    */
  def hammingDedup(
      df: DataFrame,
      hashCol: String,
      idCol: String,
      maxHamming: Int = 3,
      maxBucket: Int = 0): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      "maxHamming must be in [0, 3]: 4 chunk buckets only guarantee candidate completeness up to 3 flipped bits")
    val sketched = df.where(col(hashCol).isNotNull)
      .select(col(idCol).as("__id"), col(hashCol).cast("long").as("__sketch"))
    val bucketize = (reps: DataFrame) => reps
      .withColumn("__chunk", explode(sequence(lit(0), lit(3))))
      .withColumn("__bucket",
        xxhash64(col("__chunk"), expr("shiftrightunsigned(__sketch, __chunk * 16)").bitwiseAND(lit(0xffffL))))
      .drop("__chunk")
    val drop = sketchDrop(sketched, bucketize,
      (a, b) => bit_count(a.bitwiseXOR(b)) <= maxHamming, maxBucket)
    df.join(drop.withColumnRenamed("__id", idCol), Seq(idCol), "left_anti")
  }

  /** Exact word n-gram Jaccard between two text columns (the verify pass run
    * after MinHash candidate generation, or standalone on candidate pairs).
    */
  def ngramJaccard(pairs: DataFrame, textA: String, textB: String, n: Int = 3,
      into: String = "jaccard"): DataFrame = {
    val ga = ngrams_hashed(col(textA), n)
    val gb = ngrams_hashed(col(textB), n)
    pairs.withColumn(into,
      size(array_intersect(ga, gb)).cast("double") /
        greatest(size(array_union(ga, gb)), lit(1)).cast("double"))
  }

  /** MinHash-candidates + exact n-gram Jaccard verification dedup: the
    * two-stage pipeline (cheap sketch filter, exact verify on the survivors
    * only). Identical TEXTS collapse to one representative before sketching
    * (the verify stage reads texts, so text — not sketch — is the collapse
    * key); the text join back to candidates is by id, hash-partitioned.
    */
  def minhashVerified(
      df: DataFrame,
      textCol: String,
      idCol: String,
      numHashes: Int = 128,
      numBands: Int = 16,
      shingle: Int = 5,
      candidateThreshold: Double = 0.5,
      jaccardThreshold: Double = 0.8,
      ngram: Int = 3,
      maxBucket: Int = 0): DataFrame = {
    require(numHashes % numBands == 0, "numBands must divide numHashes")
    val rowsPerBand = numHashes / numBands
    val base = df.select(col(idCol).as("__mid"), col(textCol).as("__t"))
    // 16-byte grouping key + map-side min_by, not the full text as the key
    val groups = base.groupBy(contentKey(col("__t")).as("__tk"))
      .agg(min("__mid").as("__gid"), min_by(col("__t"), col("__mid")).as("__t"),
        count(lit(1)).as("__n"))
    val reps = groups.select(col("__gid").as("__id"), col("__t"))
    val sketched = reps.select(col("__id"),
      minhash_sig(col("__t"), numHashes, shingle).as("__sketch"))
    val buckets = minhashBuckets(numBands, rowsPerBand)(sketched)
    val cands = probesOf(buckets, maxBucket).as("a")
      .join(buckets.as("b"), col("a.__bucket") === col("b.__bucket"))
      .where(col("a.__id") < col("b.__id") &&
        minhashSimilarity(col("a.__sketch"), col("b.__sketch")) >= candidateThreshold)
      .select(col("a.__id").as("__ida"), col("b.__id").as("__idb")).distinct()
    val withTexts = cands
      .join(reps.select(col("__id").as("__ida"), col("__t").as("__ta")), Seq("__ida"))
      .join(reps.select(col("__id").as("__idb"), col("__t").as("__tb")), Seq("__idb"))
    val repDrop = ngramJaccard(withTexts, "__ta", "__tb", ngram)
      .where(col("jaccard") >= jaccardThreshold)
      .select(col("__idb").as("__gid")).distinct()
      .withColumn("__repdrop", lit(true))
    // group-internal drops: identical texts are candidates by construction
    // (same sketch ⇒ same buckets, similarity 1); they verify iff the text's
    // self-Jaccard passes — false only for texts with no n-grams, matching
    // the pairwise semantics exactly. Singleton groups have no internal
    // member to drop, so the exact self-verify runs only where duplicates
    // exist (a mostly-unique corpus skips it almost entirely).
    val selfVerified = ngramJaccard(
        groups.where(col("__n") > 1)
          .select(col("__gid"), col("__t"), col("__t").as("__t2")), "__t", "__t2", ngram)
      .where(col("jaccard") >= jaccardThreshold && lit(candidateThreshold <= 1.0))
      .select("__gid").withColumn("__selfv", lit(true))
    // membership travels as a 128-bit text key — the full texts shuffle only
    // once (inside the groupBy), not again for this join
    val drop = base.select(col("__mid"), contentKey(col("__t")).as("__tk"))
      .join(groups.select(col("__tk"), col("__gid")), Seq("__tk"))
      .join(repDrop, Seq("__gid"), "left")
      .join(selfVerified, Seq("__gid"), "left")
      .where(col("__repdrop").isNotNull ||
        (col("__mid") =!= col("__gid") && col("__selfv").isNotNull))
      .select(col("__mid").as(idCol))
    df.join(drop, Seq(idCol), "left_anti")
  }

  /** Incremental near-dedup: drops rows of `batch` whose text near-duplicates
    * ANY document of the existing `corpus` — the daily-ingest pattern (dedup
    * a new crawl against the already-kept set without re-deduping the
    * corpus). Ids must be disjoint across the two frames.
    *
    * Scale shape: both sides collapse identical texts to one representative,
    * then sketch once; candidates are MinHash band-bucket collisions BETWEEN
    * the representative sets only (never corpus×corpus or batch×batch),
    * hash-partitioned on the bucket key; representative texts join back by id
    * for the exact n-gram Jaccard verify on collided candidates only, and the
    * verdict fans back out to every batch row that shares the text.
    */
  def nearDupAgainst(
      batch: DataFrame,
      corpus: DataFrame,
      textCol: String,
      idCol: String,
      numHashes: Int = 128,
      numBands: Int = 16,
      shingle: Int = 5,
      candidateThreshold: Double = 0.5,
      jaccardThreshold: Double = 0.8,
      ngram: Int = 3): DataFrame = {
    require(numHashes % numBands == 0, "numBands must divide numHashes")
    val rowsPerBand = numHashes / numBands
    // 128-bit text key + map-side min_by (see textCollapsedPairs): the
    // shuffle key is 16 bytes, one candidate text per distinct text per
    // partition — not the full text AS the grouping key
    def repsOf(df: DataFrame) = df
      .groupBy(contentKey(col(textCol)).as("__tk"))
      .agg(min(col(idCol)).as("__id"), min_by(col(textCol), col(idCol)).as("__t"))
    def bucketed(reps: DataFrame) = minhashBuckets(numBands, rowsPerBand)(
      reps.select(col("__id"), minhash_sig(col("__t"), numHashes, shingle).as("__sketch")))
    val creps = repsOf(corpus)
    val breps = repsOf(batch)
    val cands = bucketed(creps).as("a").join(bucketed(breps).as("b"),
        col("a.__bucket") === col("b.__bucket"))
      .where(minhashSimilarity(col("a.__sketch"), col("b.__sketch")) >= candidateThreshold)
      .select(col("a.__id").as("__ida"), col("b.__id").as("__idb")).distinct()
    val ct = creps.select(col("__id").as("__ida"), col("__t").as("__ta"))
    val bt = breps.select(col("__id").as("__idb"), col("__t").as("__tb"))
    val droppedGroups = ngramJaccard(cands.join(ct, Seq("__ida")).join(bt, Seq("__idb")),
        "__ta", "__tb", ngram)
      .where(col("jaccard") >= jaccardThreshold)
      .select(col("__idb").as("__gid")).distinct()
    // fan the group verdict back out to every batch row sharing the text —
    // by 128-bit text key, so batch texts don't shuffle a second time
    val drop = batch.select(col(idCol), contentKey(col(textCol)).as("__tk"))
      .join(breps.select(col("__tk"), col("__id").as("__gid")), Seq("__tk"))
      .join(droppedGroups, Seq("__gid"))
      .select(idCol)
    batch.join(drop, Seq(idCol), "left_anti")
  }

  /** Transitive near-duplicate clustering: assigns every row a `cluster` id
    * (the smallest `idCol` of its near-dup cluster) instead of dropping rows
    * — the canonicalization view of dedup (pick one URL per cluster, count
    * cluster sizes, audit what [[minhashLsh]] would remove). Pairwise LSH
    * verdicts are NOT transitive (a~b and b~c with a,c never colliding), so
    * the verified candidate pairs feed [[Graph.connectedComponents]] and the
    * component min becomes the cluster id.
    *
    * Same scale shape as [[minhashLsh]]: identical sketches collapse to one
    * representative before banding (members attach to their representative
    * by an explicit edge, which is exactly the pair the full pairwise run
    * would verify at similarity 1), so a boilerplate flood costs one node in
    * the star contraction, not n² candidate pairs.
    */
  def clusters(
      df: DataFrame,
      textCol: String,
      idCol: String,
      numHashes: Int = 128,
      numBands: Int = 16,
      shingle: Int = 5,
      threshold: Double = 0.8,
      maxBucket: Int = 0): DataFrame = {
    // shared text-keyed collapse + banding (see textCollapsedPairs): the
    // rep-to-rep verified pairs plus one explicit member→rep edge per
    // duplicate reproduce the full pairwise edge set's components exactly.
    // Member edges exist only where the group self-verifies (non-NULL text):
    // pairwise, NULL texts verify nothing, so each stays its own cluster.
    val (base, groups, pairs) = textCollapsedPairs(
      df, textCol, idCol, numHashes, numBands, shingle, threshold, maxBucket)
    val repPairs = pairs.select(col("__src").as("src"), col("__dst").as("dst"))
    val memberEdges = base
      .join(groups.select("__tk", "__gid", "__rt"), Seq("__tk"))
      .where(col("__id") =!= col("__gid") && col("__rt").isNotNull)
      .select(col("__id").as("src"), col("__gid").as("dst"))
    val comp = Graph.connectedComponents(repPairs.unionByName(memberEdges), "src", "dst")
    df.join(
        comp.select(col("node").as(idCol), col("component").as("cluster")),
        Seq(idCol), "left")
      .withColumn("cluster", coalesce(col("cluster"), col(idCol)))
  }

  /** Quality-aware dedup: [[clusters]] + keep ONE representative per
    * near-dup cluster — the member with the highest `quality` (a Column
    * over the input's fields: a length, a learned gate score, a Gopher
    * flag count), ties to the smallest id. Plain min-id dedup keeps an
    * arbitrary family member; curation wants the BEST one (the longest /
    * cleanest version of the boilerplate family), which is exactly what a
    * training-data pipeline deletes everything else for.
    *
    * Scale shape: clustering's cost (banded LSH + alternating-star CC)
    * dominates; the representative pick is ONE cluster-keyed max_by over an
    * atomic (quality, −id) struct — no window over the corpus — and a
    * narrow id join back to the full rows. Numeric ids required (the −id
    * tie flip).
    */
  def keepBest(
      df: DataFrame,
      textCol: String,
      idCol: String,
      quality: Column,
      numHashes: Int = 128,
      numBands: Int = 16,
      shingle: Int = 5,
      threshold: Double = 0.8,
      maxBucket: Int = 0): DataFrame = {
    val cl = clusters(df, textCol, idCol, numHashes, numBands, shingle,
      threshold, maxBucket)
    val best = cl
      .withColumn("__q", quality)
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_members"),
        max_by(col(idCol),
          struct(col("__q"), lit(-1L) * col(idCol))).as(idCol))
    best.join(df, Seq(idCol))
      .select(df.columns.map(col) :+ col("cluster") :+ col("n_members"): _*)
  }

  /** Embedding near-dedup: `tables` independent random-hyperplane sketch
    * tables (a pair is a candidate when all `planes` sign bits agree in any
    * table), exact cosine verify within buckets, drop larger ids at cosine ≥
    * `threshold`. Identical vectors collapse before bucketing (self-cosine of
    * a zero vector is NaN, so degenerate rows keep pairwise semantics).
    */
  def embeddingNearDup(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      threshold: Double = 0.95,
      tables: Int = 4,
      planes: Int = 16,
      maxBucket: Int = 0): DataFrame = {
    val sketched = df.select(col(idCol).as("__id"), col(vecCol).as("__sketch"))
    val bucketize = (reps: DataFrame) => reps
      .withColumn("__table", explode(sequence(lit(0), lit(tables - 1))))
      .withColumn("__bucket",
        xxhash64(col("__table"), vec_simhash(col("__sketch"), planes, col("__table"))))
      .drop("__table")
    val drop = sketchDrop(sketched, bucketize,
      (a, b) => Similarity.cosineSimSafe(a, b) >= threshold, maxBucket)
    df.join(drop.withColumnRenamed("__id", idCol), Seq(idCol), "left_anti")
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023 — public paper): the
    * corpus coarse-clusters through the IVF k-means quantizer
    * ([[Similarity.fitAssign]] — bounded seeded-hash fit sample, one-scan
    * codegen'd argmax-dot assignment), pairwise cosine runs only WITHIN a
    * cell, and of any pair at or above `threshold` the SMALLER id survives
    * (greedy keep-first — deterministic, the dedup family's representative
    * policy). Returns the kept rows of `df`.
    *
    * Semantics vs [[embeddingNearDup]]: that one buckets by random
    * hyperplane SKETCH (recall depends on sketch collisions even for very
    * close pairs); this one buckets by LEARNED cluster structure — a
    * duplicate pair's members land in the same cell whenever they share a
    * nearest centroid (scaled copies always do: argmax of c·(s·v) is the
    * argmax of c·v for s > 0). Cross-cell pairs are never compared — the
    * deliberate SemDeDup approximation; `nlist = 1` degrades to the exact
    * all-pairs greedy (the oracle mode).
    *
    * Scale shape: both sides of the pair loop are pre-normalized ONCE (the
    * per-pair predicate is a single zip_with dot, not dot + two norms), the
    * self-join shuffles on the cell id, and Σ|cell|² bounds the pair space
    * — nlist is THE knob: size it so the expected cell holds ~10³-10⁴ rows
    * at your corpus scale (the published recipe) and raise it as the corpus
    * grows; fit cost stays bounded by `fitSampleBytes` regardless. The drop
    * set is a distinct over bare ids (narrow), applied as one anti-join.
    */
  def semanticDedup(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      threshold: Double = 0.95,
      nlist: Int = 16,
      seed: Long = 42L,
      fitSampleBytes: Long = 64L << 20,
      parallelism: Int = 8): DataFrame = {
    require(nlist >= 1, "nlist must be >= 1")
    require(parallelism >= 1, "parallelism must be >= 1")
    val (assigned, _) =
      Similarity.fitAssign(df, vecCol, idCol, nlist, seed, fitSampleBytes)
    // pre-normalize once; zero-norm vectors stay unscaled (dot stays 0 with
    // everything normalized, below any threshold in (0,1] — never similar)
    val norm = sqrt(aggregate(col("__cv").cast("array<double>"), lit(0.0),
      (acc, x) => acc + x * x))
    val unit = assigned.select(col("neighbor_id"), col("__cell"),
      when(norm > 0,
        transform(col("__cv").cast("array<double>"), x => x / norm))
        .otherwise(col("__cv").cast("array<double>")).as("__uv"))
    // the cell id alone has nlist distinct values — fewer than the task
    // count when cells are few or one cell dominates, which serializes the
    // pair loop onto one task (the nlist=1 exact mode is the worst case:
    // ONE key). Salting the probe side on a hash of its id and replicating
    // the build side `parallelism`-fold keeps the pair count identical but
    // spreads every cell's pair space across that many tasks.
    val a = unit.select(col("neighbor_id").as("__aid"), col("__cell"),
      col("__uv").as("__av"),
      pmod(xxhash64(col("neighbor_id")), lit(parallelism.toLong)).as("__salt"))
    val b = unit.select(col("neighbor_id").as("__bid"), col("__cell"), col("__uv").as("__bv"))
      .withColumn("__salt", explode(sequence(lit(0L), lit(parallelism.toLong - 1))))
    val dot = graft.functions.TextFunctions.vec_dot(col("__av"), col("__bv"))
    val dropped = a.join(b, Seq("__cell", "__salt"))
      .where(col("__bid") < col("__aid") && dot >= threshold)
      .select(col("__aid")).distinct()
    df.join(dropped, col(idCol).cast("long") === col("__aid"), "left_anti")
  }
}
