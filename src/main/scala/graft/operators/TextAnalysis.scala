package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.TextFunctions._

/** Text analysis for corpus curation: language id, quality scoring, token
  * counting, document fingerprinting (SURVEY §2 "LLM-data-pipeline
  * operators"). Everything except the two sketch expressions (lang_id,
  * doc_fingerprint) is pure built-in column math — codegen'd, SQL-mirrorable.
  */
object TextAnalysis {

  val defaultStopwords: Seq[String] = Seq(
    "the", "and", "of", "to", "a", "in", "is", "it", "that", "was",
    "for", "on", "with", "as", "at", "by", "an", "be", "this", "are")

  /** n-gram/stopword heuristic language id → `into` column. */
  def langId(df: DataFrame, textCol: String = "text", into: String = "lang_pred"): DataFrame =
    df.withColumn(into, lang_id(col(textCol)))

  private def tokens(textCol: String): Column = split(trim(col(textCol)), "\\s+")

  /** Lower-cased, single-space-split, empty-free word tokens — the one
    * tokenizer of the BM25, TF-IDF, BPE and set-similarity paths and their
    * SQL mirrors (`list_filter(string_split(...), s -> s <> '')`).
    */
  private[graft] def wordTokens(c: Column): Column =
    filter(split(trim(lower(c)), " +"), x => x =!= "")

  /** Deflate compression ratio per document (compressed bytes / raw bytes),
    * the Gopher-family redundancy gate: templated or repetitive documents
    * compress dramatically (< ~0.3) while natural prose sits near 0.4-0.6.
    * Codegen'd kernel call, one pass, no shuffle — compose with a range
    * filter (`between(lo, hi)`) to drop both degenerate-repetitive and
    * binary-noise rows. Not SQL-mirrorable (no deflate in DuckDB), so this
    * is spec-verified against closed-form extremes rather than oracled.
    */
  def withCompressionRatio(df: DataFrame, textCol: String = "text",
      outCol: String = "compress_ratio"): DataFrame =
    df.withColumn(outCol,
      graft.functions.TextFunctions.compress_ratio(col(textCol)))

  /** Distinct-n-gram ratio per document (distinct character n-grams /
    * total n-grams, 1.0 for texts shorter than n): the SQL-mirrorable
    * companion to [[withCompressionRatio]] — the same redundancy signal
    * (templated/repetitive text scores low) computed with pure built-ins
    * (substring enumeration + array_distinct, one pass, no shuffle), so the
    * DuckDB oracle can verify it value-for-value where deflate cannot be
    * mirrored. Gopher's repetition family uses exactly this shape
    * (duplicate n-gram fractions).
    */
  def withDistinctGramRatio(df: DataFrame, textCol: String = "text", n: Int = 8,
      outCol: String = "gram_ratio"): DataFrame = {
    require(n >= 2, "n-gram size must be >= 2")
    val L = length(col(textCol))
    // sequence(1, L-n+1) flips to a DESCENDING range when L < n (Spark
    // auto-negates the step) — the when() guard keeps it off that path
    val grams = transform(sequence(lit(1), L - (n - 1)),
      i => col(textCol).substr(i, lit(n)))
    df.withColumn(outCol,
      when(L >= n,
        size(array_distinct(grams)).cast("double") / (L - (n - 1)).cast("double"))
        .otherwise(lit(1.0)))
  }

  /** Quality features + a composite score in [0, 1]:
    * 0.4·min(1, n_tokens/50) + 0.3·max(0, 1−|avg_token_len−5|/5)
    * + 0.3·max(0, 1−5·(punct_ratio+digit_ratio)).
    */
  def qualityScore(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = tokens(textCol)
    val nChars = length(col(textCol)).cast("double")
    val nTokens = size(t)
    val avgTok = length(regexp_replace(col(textCol), "\\s+", "")).cast("double") / nTokens
    val punct = (nChars - length(regexp_replace(col(textCol), "[.,;:!?]", ""))) / nChars
    val digit = (nChars - length(regexp_replace(col(textCol), "[0-9]", ""))) / nChars
    val stopRatio =
      size(filter(t, x => array_contains(array(defaultStopwords.map(lit): _*), lower(x))))
        .cast("double") / nTokens
    val wlen = least(lit(1.0), nTokens / lit(50.0))
    val tlen = greatest(lit(0.0), lit(1.0) - abs(avgTok - lit(5.0)) / lit(5.0))
    val clean = greatest(lit(0.0), lit(1.0) - lit(5.0) * (punct + digit))
    df.withColumn("n_tokens", nTokens)
      .withColumn("avg_token_len", avgTok)
      .withColumn("punct_ratio", punct)
      .withColumn("digit_ratio", digit)
      .withColumn("stopword_ratio", stopRatio)
      .withColumn("quality_score", lit(0.4) * wlen + lit(0.3) * tlen + lit(0.3) * clean)
  }

  /** The Gopher quality-rule bundle (Rae et al. 2021, "Scaling Language
    * Models: Methods, Analysis & Insights from Training Gopher", App. A
    * repetition/quality filters — the same family RefinedWeb/FineWeb carry
    * forward): per-document boolean flags for each published rule plus the
    * composite `gopher_keep` conjunction. All pure built-in column math
    * (one pass, no shuffle, SQL-mirrorable):
    *
    *   - `ok_word_count`: `minWords` <= word count <= `maxWords`
    *   - `ok_mean_word_len`: mean word length in [3, 10]
    *   - `ok_symbol_ratio`: (# + ellipsis occurrences) / words < 0.1
    *   - `ok_bullet_lines`: <= 10% of lines start with a bullet
    *   - `ok_ellipsis_lines`: < 30% of lines end with an ellipsis
    *   - `ok_alpha_words`: >= 80% of words contain a letter
    *   - `ok_stopwords`: >= 2 occurrences of a common-stopword list
    */
  def gopherRules(
      df: DataFrame,
      textCol: String = "text",
      minWords: Int = 50,
      maxWords: Int = 100000): DataFrame = {
    val t = col(textCol)
    val words = tokens(textCol)
    val nWords = size(words)
    val meanWl = length(regexp_replace(t, "\\s+", "")).cast("double") / nWords
    val hashes = length(t) - length(replace(t, lit("#"), lit("")))
    val ellipses = (length(t) - length(replace(t, lit("..."), lit("")))) / 3 +
      (length(t) - length(replace(t, lit("…"), lit(""))))
    val symRatio = (hashes + ellipses).cast("double") / nWords
    val lines = split(t, "\n")
    val nLines = size(lines)
    val bulletStarts = Seq("•", "‣", "▪", "- ", "* ")
    val bulletLines = size(filter(lines, l =>
      bulletStarts.foldLeft(lit(false))((acc, b) => acc || ltrim(l).startsWith(b))))
    val ellipsisLines = size(filter(lines, l =>
      rtrim(l).endsWith("...") || rtrim(l).endsWith("…")))
    val alphaWords = size(filter(words, w => w.rlike("[A-Za-z]")))
    val stopHits = size(filter(words, w =>
      array_contains(array(defaultStopwords.map(lit): _*), lower(w))))
    df.withColumn("n_words", nWords.cast("long"))
      .withColumn("mean_word_len", meanWl)
      .withColumn("ok_word_count", nWords >= minWords && nWords <= maxWords)
      .withColumn("ok_mean_word_len", meanWl >= 3.0 && meanWl <= 10.0)
      .withColumn("ok_symbol_ratio", symRatio < 0.1)
      .withColumn("ok_bullet_lines",
        bulletLines.cast("double") / nLines <= 0.10)
      .withColumn("ok_ellipsis_lines",
        ellipsisLines.cast("double") / nLines < 0.30)
      .withColumn("ok_alpha_words",
        alphaWords.cast("double") / nWords >= 0.80)
      .withColumn("ok_stopwords", stopHits >= 2)
      .withColumn("gopher_keep",
        col("ok_word_count") && col("ok_mean_word_len") && col("ok_symbol_ratio") &&
          col("ok_bullet_lines") && col("ok_ellipsis_lines") &&
          col("ok_alpha_words") && col("ok_stopwords"))
  }

  /** Naive Bayes classifier over hashed token buckets — the fastText-style
    * learned gate (quality filtering, language filtering) with ZERO driver
    * state: training is one map-side-combined groupBy to at most 2·`buckets`
    * weight rows (the mergeable sufficient statistics — per-shard count
    * tables union by addition), scoring is a broadcast join of that weight
    * table. `label` is any boolean expression over `df`'s columns (weak
    * supervision: a heuristic score threshold, an existing metadata column).
    *
    * Multinomial NB with Laplace α=1 over `buckets` hashed unigram features:
    * w(b) = ln((c₁(b)+1)/(t₁+D)) − ln((c₀(b)+1)/(t₀+D)), score(doc) =
    * ln(n₁/n₀) + Σ_b n_b·w(b); predict positive at score ≥ 0. At 100 TB
    * nothing here collects, sorts globally, or holds more than the D-row
    * weight table per executor.
    *
    * `buckets` must be a power of two so the signed bucket hash agrees with
    * the oracle's unsigned arithmetic (same trick as the CMS/Bloom indexes).
    */
  def nbClassify(
      df: DataFrame,
      label: Column,
      textCol: String = "text",
      idCol: String = "doc_id",
      buckets: Int = 256,
      seed: Long = 42L): DataFrame = {
    require(buckets >= 2 && (buckets & (buckets - 1)) == 0, "buckets must be a power of two")
    val d = buckets.toLong
    val toks = df.select(col(idCol).as("__id"), label.cast("boolean").as("__y"),
      explode(regexp_extract_all(lower(col(textCol)), lit("[\\p{L}\\p{Nd}]+"), lit(0)))
        .as("__tok"))
    val bucketed = toks
      .withColumn("__b", pmod(string_hash64(col("__tok"), seed), lit(d)))
      .select("__id", "__y", "__b")
    // sufficient statistics: (class, bucket) token counts — ≤ 2D rows. The
    // class totals come from an UNPARTITIONED window over the ≤D-row bucket
    // table (model-sized, the histQuantiles pattern) so the whole weight
    // tree costs ONE corpus scan — a second aggregate off `counts` would
    // re-execute the scan+explode subtree, tripling the 100 TB read
    val counts = bucketed.groupBy("__y", "__b").agg(count(lit(1)).as("__c"))
    val byBucket = counts.groupBy("__b").agg(
      sum(when(col("__y"), col("__c")).otherwise(0L)).as("__c1"),
      sum(when(!col("__y"), col("__c")).otherwise(0L)).as("__c0"))
    val wAll = org.apache.spark.sql.expressions.Window
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val weights = byBucket
      .withColumn("__t1", sum("__c1").over(wAll))
      .withColumn("__t0", sum("__c0").over(wAll))
      .select(col("__b"),
        (log((col("__c1").cast("double") + lit(1.0)) / (col("__t1").cast("double") + lit(d.toDouble))) -
         log((col("__c0").cast("double") + lit(1.0)) / (col("__t0").cast("double") + lit(d.toDouble))))
          .as("__w"))
    val prior = df.agg(
      log(sum(when(label.cast("boolean"), 1L).otherwise(0L)).cast("double") /
          sum(when(label.cast("boolean"), 0L).otherwise(1L)).cast("double")).as("__prior"))
    val perDoc = bucketed.groupBy("__id", "__b").agg(count(lit(1)).as("__n"))
      .join(broadcast(weights), Seq("__b"))
      .groupBy("__id")
      .agg(sum(col("__n").cast("double") * col("__w")).as("__s"))
    df.join(perDoc.withColumnRenamed("__id", idCol), Seq(idCol), "left")
      .crossJoin(broadcast(prior))
      .withColumn("nb_score", col("__prior") + coalesce(col("__s"), lit(0.0)))
      .withColumn("nb_pred", round(col("nb_score"), 4) >= 0.0)
      .drop("__s", "__prior")
  }

  /** Token counts: whitespace tokens and a BPE-ish regex count
    * (`\w+` runs plus single non-space symbols — the standard pre-tokenizer
    * shape).
    */
  def tokenCounts(df: DataFrame, textCol: String = "text"): DataFrame =
    df.withColumn("ws_tokens", size(tokens(textCol)))
      .withColumn("bpe_tokens", size(regexp_extract_all(col(textCol), lit("\\w+|[^\\w\\s]"), lit(0))))

  /** 64-bit rolling-hash document fingerprint → `into` column. */
  def fingerprint(df: DataFrame, textCol: String = "text", into: String = "doc_fp"): DataFrame =
    df.withColumn(into, doc_fingerprint(col(textCol)))

  /** TF-IDF term weights per document — keyword extraction / quality
    * weighting, the classic corpus-statistics step between raw text and
    * embeddings. Tokens are the lowercased whitespace words of
    * [[repetitionStats]]; `score = tf · ln(N / df)` with N = documents
    * containing ≥1 token, rounded to 4 decimals BEFORE the top-k ordering so
    * rank ties resolve identically on any engine (tie-break: term asc).
    * `topK` ≤ 0 returns every (doc, term) pair.
    *
    * Scale shape: tf is a (doc, term) map-side-combined count; the document
    * frequencies and N re-derive from the same explode (column pruning makes
    * the two aggregates structurally different, so the exchange is NOT
    * shared — two passes over the token stream, which beats persisting a
    * corpus-scale exploded intermediate; callers looping on tfidf can
    * persist the input themselves). The IDF join shuffles on term (no
    * broadcast requirement: a web-scale vocabulary is not small — AQE
    * broadcasts when it happens to be), and the top-k filter is a per-doc
    * window that WindowGroupLimit prunes to k rows per doc BEFORE its
    * shuffle. No driver action, no global sort.
    */
  def tfidf(
      df: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      topK: Int = 0): DataFrame = {
    val toks = wordTokens(col(textCol))
    val words = df.select(col(idCol), explode(toks).as("term"))
    val tf = words.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nd = tf.agg(countDistinct(col(idCol)).as("__n"))
    val scored = tf.join(dfreq, "term").crossJoin(broadcast(nd))
      .withColumn("score",
        round(col("tf") * log(col("__n").cast("double") / col("df").cast("double")), 4))
      .select(col(idCol), col("term"), col("tf"), col("score"))
    if (topK <= 0) scored
    else {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(idCol).orderBy(col("score").desc, col("term"))
      scored.withColumn("__rn", row_number().over(w))
        .where(col("__rn") <= topK)
        .drop("__rn")
    }
  }

  /** PII patterns redacted by [[redactPii]], applied in order (SSN before the
    * more general phone pattern). RE2-compatible (no lookaround), so the
    * DuckDB oracle mirrors them verbatim.
    */
  val piiPatterns: Seq[(String, String)] = Seq(
    """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}""" -> "<EMAIL>",
    """\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b""" -> "<IP>",
    """\b\d{3}-\d{2}-\d{4}\b""" -> "<SSN>",
    """\+?\d{1,3}-\d{3}-\d{4}\b""" -> "<PHONE>")

  /** Sequence packing for training batches: within each shard (ordered by
    * `orderCol`), documents are packed contiguously into bins of
    * `capacityTokens` — `pack_id = floor(exclusive-prefix-sum / capacity)`,
    * the streaming-friendly contiguous variant of greedy packing.
    *
    * Scale shape: the window partitions by `shardCol`, so no global sort —
    * each shard packs independently (shards are how real pipelines bound
    * packer state; a global window would serialize the corpus).
    */
  def packSequences(
      df: DataFrame,
      tokenCol: String,
      capacityTokens: Int,
      shardCol: String,
      orderCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(shardCol).orderBy(orderCol)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val before = coalesce(sum(col(tokenCol)).over(w), lit(0L))
    df.withColumn("pack_id", floor(before / lit(capacityTokens.toDouble)).cast("long"))
  }

  /** Benchmark decontamination: flags corpus documents sharing at least
    * `minHits` distinct word n-grams with ANY document of a benchmark set
    * (training-data hygiene — eval-set leakage detection before training).
    *
    * Scale shape: the corpus side explodes its distinct n-gram hashes once;
    * the benchmark side is deduplicated to a single gram-hash set (benchmark
    * suites are tiny next to a 100 TB corpus) and broadcast by default, so
    * the corpus never shuffles for the probe — there is no doc×doc pair
    * space anywhere. With `broadcastBench=false` the probe becomes a
    * hash-partitioned join on the gram hash for oversized benchmark sets.
    */
  def flagContaminated(
      corpus: DataFrame,
      bench: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      n: Int = 3,
      minHits: Int = 1,
      broadcastBench: Boolean = true): DataFrame = {
    val bg0 = bench
      .select(explode(array_distinct(ngrams_hashed(col(textCol), n))).as("__g"))
      .distinct()
    val bg = if (broadcastBench) broadcast(bg0) else bg0
    val cg = corpus.select(col(idCol),
      explode(array_distinct(ngrams_hashed(col(textCol), n))).as("__g"))
    val hits = cg.join(bg, "__g")
      .groupBy(idCol).agg(count(lit(1)).as("contam_hits"))
    corpus.join(hits, Seq(idCol), "left")
      .withColumn("contam_hits", coalesce(col("contam_hits"), lit(0L)))
      .withColumn("contaminated", col("contam_hits") >= minHits)
  }

  /** Boilerplate segment removal (the C4/RefinedWeb line-dedup pass): splits
    * each document on `delimiter`, drops every segment that occurs in at
    * least `minDocs` DISTINCT documents (nav bars, cookie banners, footers —
    * corpus-frequent by definition), and reassembles the survivors in their
    * original order into `into`. A segment repeated inside one document
    * counts once toward the threshold.
    *
    * Scale shape: segments travel as 64-bit hashes into the frequency
    * groupBy (map-side partial count-distinct), so the exchange moves 8-byte
    * keys; the verdict joins back hash-partitioned and the rebuild groupBy
    * is the only pass that shuffles segment text. No doc×doc pair space
    * anywhere — cost is O(total segments), the same shape at 100 TB.
    */
  def stripBoilerplate(
      df: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      delimiter: String = "\n",
      minDocs: Int = 3,
      into: String = "text_clean"): DataFrame = {
    require(minDocs >= 2, "minDocs < 2 would delete every document")
    val delimRe = java.util.regex.Pattern.quote(delimiter)
    val segs = df.select(col(idCol),
      posexplode(split(col(textCol), delimRe)).as(Seq("__pos", "__seg")))
    val hashed = segs.withColumn("__h", xxhash64(col("__seg")))
    val freq = hashed.groupBy("__h").agg(count_distinct(col(idCol)).as("__docs"))
    val kept = hashed.join(freq, Seq("__h")).where(col("__docs") < minDocs)
    val rebuilt = kept.groupBy(col(idCol)).agg(
      array_join(transform(array_sort(collect_list(struct(col("__pos"), col("__seg")))),
        s => s.getField("__seg")), delimiter).as(into),
      count(lit(1)).as("segments_kept"))
    df.join(rebuilt, Seq(idCol), "left")
      .withColumn(into, coalesce(col(into), lit("")))
      .withColumn("segments_kept", coalesce(col("segments_kept"), lit(0L)))
      .withColumn("segments_total",
        size(split(col(textCol), delimRe)).cast("long"))
  }

  /** Corpus-wide first-occurrence segment dedup (the CCNet paragraph-dedup
    * pass — Wenzek et al. 2020 §3.1: drop every repeated paragraph, keeping
    * one copy): splits each document on `delimiter`, keeps only the
    * corpus-wide FIRST occurrence of each distinct segment — earliest
    * (`idCol`, position), a total deterministic order — and reassembles the
    * survivors in original order into `into`. Contrast with
    * [[stripBoilerplate]], which deletes corpus-frequent segments from
    * EVERY document; this keeps exactly one copy of each.
    *
    * Scale shape: segments travel as 64-bit hashes; the winner-per-segment
    * groupBy is a map-side-combined min over a 16-byte (id, pos) struct
    * keyed on the 8-byte hash, the verdict join back is hash-partitioned,
    * and only the per-doc rebuild groupBy moves segment text. O(total
    * segments) with no doc×doc pair space — the same shape at 100 TB.
    */
  def dedupSegments(
      df: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      delimiter: String = "\n",
      into: String = "text_dedup"): DataFrame = {
    val delimRe = java.util.regex.Pattern.quote(delimiter)
    val segs = df.select(col(idCol),
      posexplode(split(col(textCol), delimRe)).as(Seq("__pos", "__seg")))
    val hashed = segs.withColumn("__h", xxhash64(col("__seg")))
    val first = hashed.groupBy("__h")
      .agg(min(struct(col(idCol).as("__fid"), col("__pos").as("__fpos"))).as("__w"))
    val kept = hashed.join(first, Seq("__h"))
      .where(col(idCol) === col("__w").getField("__fid") &&
        col("__pos") === col("__w").getField("__fpos"))
    val rebuilt = kept.groupBy(col(idCol)).agg(
      array_join(transform(array_sort(collect_list(struct(col("__pos"), col("__seg")))),
        s => s.getField("__seg")), delimiter).as(into),
      count(lit(1)).as("segments_kept"))
    df.join(rebuilt, Seq(idCol), "left")
      .withColumn(into, coalesce(col(into), lit("")))
      .withColumn("segments_kept", coalesce(col("segments_kept"), lit(0L)))
      .withColumn("segments_total",
        size(split(col(textCol), delimRe)).cast("long"))
  }

  /** Unicode text cleanup — the normalization pass every corpus runs BEFORE
    * hashing/dedup (so cosmetic byte differences don't defeat exact-dup
    * collapse): typographic quotes/dashes and NBSP fold to ASCII, zero-width
    * characters vanish, control characters (except \n and \t) strip, runs of
    * spaces/tabs collapse to one space, 3+ newlines collapse to a paragraph
    * break, and the result is trimmed. Pure codegen'd string built-ins
    * (translate + regexp chains), SQL-mirrorable value-for-value.
    */
  def cleanText(df: DataFrame, textCol: String = "text",
      into: String = "text_clean"): DataFrame = {
    // \u2018 \u2019 \u201C \u201D \u2013 \u2014 NBSP fold to ascii
    val folded = translate(col(textCol),
      "\u2018\u2019\u201C\u201D\u2013\u2014\u00A0", "''\"\"-- ")
    val noZw = regexp_replace(folded, "[\\u200B\\u200C\\u200D\\uFEFF]", "")
    val noCtl = regexp_replace(noZw, "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", "")
    val oneSpace = regexp_replace(noCtl, "[ \\t]+", " ")
    val paras = regexp_replace(oneSpace, "\\n{3,}", "\n\n")
    df.withColumn(into, trim(paras))
  }

  /** Overlapping token-window chunking — the doc → chunk explosion every
    * embedding/RAG pipeline runs before vectorization: whitespace tokens in
    * windows of `chunkTokens` advancing by `chunkTokens − overlap`, each
    * chunk re-joined with single spaces. Returns one row per chunk:
    * (original columns, `chunk_id` 0-based, `chunk_text`, `chunk_tokens`).
    * The final window is the short remainder; documents whose token count
    * is ≤ `chunkTokens` yield exactly one chunk (id 0). Pure built-ins —
    * the explode is the only row-growth, there is no shuffle at all.
    */
  def chunkDocuments(
      df: DataFrame,
      textCol: String = "text",
      chunkTokens: Int = 64,
      overlap: Int = 16): DataFrame = {
    require(chunkTokens >= 1, "chunkTokens must be positive")
    require(overlap >= 0 && overlap < chunkTokens, "overlap must be in [0, chunkTokens)")
    val step = chunkTokens - overlap
    val toks = filter(split(trim(col(textCol)), "\\s+"), t => t =!= "")
    val n = size(toks)
    // number of windows: 1 + ceil(max(n - chunkTokens, 0) / step)
    val nChunks = when(n <= chunkTokens, lit(1))
      .otherwise(lit(1) + ceil((n - chunkTokens).cast("double") / step).cast("int"))
    val ids = transform(sequence(lit(0), nChunks - 1), i => i)
    df.withColumn("__toks", toks)
      .withColumn("chunk_id", explode(ids))
      .withColumn("chunk_text",
        array_join(slice(col("__toks"), col("chunk_id") * step + 1, lit(chunkTokens)), " "))
      .withColumn("chunk_tokens",
        least(lit(chunkTokens), size(col("__toks")) - col("chunk_id") * step))
      .drop("__toks")
  }

  /** Shared winnowing front end: one fingerprint row per selected k-gram
    * minimum — (idCol, __pos, __h), distinct per doc by construction.
    */
  private def winnowFps(df: DataFrame, textCol: String, idCol: String,
      k: Int, w: Int): DataFrame =
    df.select(col(idCol), explode(winnow_fps(col(textCol), k, w)).as("__fp"))
      .select(col(idCol), col("__fp.pos").as("__pos"), col("__fp.hash").as("__h"))

  /** Cross-document repeated-substring stats via robust winnowing
    * fingerprints ([[graft.functions.TextKernel.winnow]]) — the
    * scale-first expression of exact-substring dedup (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better"): instead
    * of a distributed suffix array, each document contributes its winnowed
    * k-gram minima (density ~2/(w+1) per char, guarantee: any shared
    * substring of length >= k+w-1 shares a fingerprint), fingerprints
    * meet in ONE hash-keyed shuffle, and a second id-keyed aggregation
    * scores each document by the fraction of its fingerprints that occur
    * in >= `minDocs` distinct documents. Appends `n_fps`, `n_shared`,
    * `dup_frac`, and `keep` (dup_frac <= `keepBelow`).
    *
    * Scale shape: no all-pairs anywhere — a boilerplate fingerprint shared
    * by a million docs is one aggregation group and a linear join-back
    * fan-out; both shuffles key on high-cardinality columns (hash, id).
    */
  def substringDupStats(
      df: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      k: Int = 12,
      w: Int = 8,
      minDocs: Int = 2,
      keepBelow: Double = 0.5): DataFrame = {
    require(minDocs >= 2, "minDocs must be >= 2 (cross-document sharing)")
    val fps = winnowFps(df, textCol, idCol, k, w)
    val byHash = fps.groupBy("__h").agg(countDistinct(col(idCol)).as("__ndocs"))
    val perDoc = fps.join(byHash, Seq("__h"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_fps"),
        sum(when(col("__ndocs") >= minDocs, 1L).otherwise(0L)).as("n_shared"))
    df.join(perDoc, Seq(idCol), "left")
      .withColumn("n_fps", coalesce(col("n_fps"), lit(0L)))
      .withColumn("n_shared", coalesce(col("n_shared"), lit(0L)))
      .withColumn("dup_frac",
        when(col("n_fps") > 0, col("n_shared").cast("double") / col("n_fps"))
          .otherwise(lit(0.0)))
      .withColumn("keep", col("dup_frac") <= keepBelow)
  }

  /** Merged repeated spans: for every document, the position intervals
    * covered by winnowing fingerprints that occur in >= `minDocs` distinct
    * documents, adjacent/overlapping fingerprints (gap <= k chars) merged
    * gaps-and-islands style. Returns (idCol, span_start, span_end, n_fps)
    * — span_end is exclusive (last shared k-gram start + k). This is the
    * span-level view of [[substringDupStats]]: what you'd cut, not just
    * whether to drop the document. The per-document window partitions on
    * the id (a document's fingerprints always fit one task).
    */
  def repeatedSpans(
      df: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      k: Int = 12,
      w: Int = 8,
      minDocs: Int = 2): DataFrame = {
    require(minDocs >= 2, "minDocs must be >= 2 (cross-document sharing)")
    import org.apache.spark.sql.expressions.Window
    val fps = winnowFps(df, textCol, idCol, k, w)
    val byHash = fps.groupBy("__h").agg(countDistinct(col(idCol)).as("__ndocs"))
    val shared = fps.join(byHash.where(col("__ndocs") >= minDocs), Seq("__h"))
    val ws = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
    shared
      .withColumn("__prev", lag(col("__pos"), 1).over(ws))
      .withColumn("__brk",
        when(col("__prev").isNull || col("__pos") - col("__prev") > k, 1).otherwise(0))
      .withColumn("__isl", sum(col("__brk")).over(ws))
      .groupBy(col(idCol), col("__isl"))
      .agg(min(col("__pos")).cast("long").as("span_start"),
        (max(col("__pos")) + lit(k)).cast("long").as("span_end"),
        count(lit(1)).as("n_fps"))
      .drop("__isl")
  }

  /** Fits the char-bigram language model: add-one-smoothed conditional
    * log-probabilities ln((count(c1c2)+1)/(count(c1·)+38)) over a 38-symbol
    * ASCII-normalized alphabet, returned as a flat 38×38 array (unseen
    * context rows fall back to the uniform ln(1/38)). The CCNet-shaped
    * quality gate: fit on a trusted reference corpus, score candidates by
    * perplexity, drop the tail (Wenzek et al. 2020, "CCNet: Extracting High
    * Quality Monolingual Datasets from Web Crawl Data").
    *
    * Scale shape: the fit is one explode + groupBy over ≤ 1444 distinct
    * bigram ids — partial aggregation collapses each partition to at most
    * 1444 rows before the shuffle, and only the 1444-value model reaches the
    * driver (a model artifact, like the IVF centroids).
    */
  def bigramLmFit(ref: DataFrame, textCol: String = "text"): Array[Double] = {
    val a = graft.functions.TextKernel.BigramAlphabet
    val counts = new Array[Long](a * a)
    ref.select(explode(bigram_ids(col(textCol))).as("b"))
      .groupBy("b").count()
      .collect()
      .foreach(r => counts(r.getInt(0)) = r.getLong(1))
    val ctx = new Array[Long](a)
    var i = 0
    while (i < counts.length) { ctx(i / a) += counts(i); i += 1 }
    Array.tabulate(a * a)(j => math.log((counts(j) + 1.0) / (ctx(j / a) + a.toDouble)))
  }

  /** Perplexity of each row's text under a [[bigramLmFit]] model:
    * exp(−mean bigram log-prob); NULL for texts with no bigram. Lower =
    * closer to the reference corpus.
    */
  def withPerplexity(
      df: DataFrame,
      model: Array[Double],
      textCol: String = "text",
      into: String = "ppl"): DataFrame = {
    val score = bigram_score(col(textCol), typedLit(model.toSeq))
    df.withColumn(into, when(isnan(score), lit(null)).otherwise(exp(-score)))
  }

  /** Word-repetition signals (the Gopher repetition filters, Rae et al. 2021
    * §A1.1, re-expressed over whitespace words): per document,
    * `dup_word_frac`/`dup_2gram_frac` = fraction of word/bigram occurrences
    * beyond the first of each distinct value, `top_word_frac`/
    * `top_2gram_frac` = share of the most frequent word/bigram. `repetitive`
    * flags documents over either n-gram threshold. Pure per-row array math —
    * codegen'd, no shuffle, exactly SQL-mirrorable.
    */
  def repetitionStats(
      df: DataFrame,
      textCol: String = "text",
      maxTop2GramFrac: Double = 0.20,
      maxDup2GramFrac: Double = 0.60): DataFrame = {
    // drop empty tokens: split("") yields [""], which would count one ghost
    // word (n_words 1, top_word_frac 1.0) for empty/whitespace-only docs —
    // the SQL mirror's list_filter(s -> s <> '') semantics
    val t = wordTokens(col(textCol))
    val n = size(t)
    val bi = zip_with(
      slice(t, lit(1), greatest(n - 1, lit(0))),
      slice(t, lit(2), greatest(n - 1, lit(0))),
      (a, b) => concat_ws(" ", a, b))
    val nb = size(bi)
    def dupFrac(arr: Column, cnt: Column): Column =
      when(cnt > 0, (cnt - size(array_distinct(arr))).cast("double") / cnt.cast("double"))
        .otherwise(lit(0.0))
    // top frequency = longest run in the sorted array: one O(n log n) sort +
    // one linear fold, instead of the O(distinct × n) transform-and-count
    // (a 100k-word web doc would cost ~10^9 comparisons per ROW that way).
    // The fold carries (previous word, current run, best run); the value is
    // an exact integer, identical to max-multiplicity by any derivation.
    def topFrac(arr: Column, cnt: Column): Column = {
      val best = aggregate(
        array_sort(arr),
        struct(lit(null).cast("string").as("prev"), lit(0).as("run"), lit(0).as("best")),
        (acc, w) => {
          val run = when(acc("prev") === w, acc("run") + 1).otherwise(lit(1))
          struct(w.as("prev"), run.as("run"), greatest(acc("best"), run).as("best"))
        },
        acc => acc("best"))
      when(cnt > 0, best.cast("double") / cnt.cast("double")).otherwise(lit(0.0))
    }
    df.withColumn("n_words", n)
      .withColumn("dup_word_frac", dupFrac(t, n))
      .withColumn("top_word_frac", topFrac(t, n))
      .withColumn("dup_2gram_frac", dupFrac(bi, nb))
      .withColumn("top_2gram_frac", topFrac(bi, nb))
      .withColumn("repetitive",
        col("top_2gram_frac") > maxTop2GramFrac || col("dup_2gram_frac") > maxDup2GramFrac)
  }

  /** Redacts common PII (emails, IPv4, SSN-style ids, phone-style numbers)
    * from `textCol` into `into` — chained codegen'd regexp_replace, the
    * pre-training scrub pass every large text pipeline runs.
    */
  def redactPii(df: DataFrame, textCol: String = "text", into: String = "text_clean"): DataFrame =
    df.withColumn(into,
      piiPatterns.foldLeft(col(textCol)) { case (c, (pat, repl)) =>
        regexp_replace(c, pat, repl)
      })

  /** BM25 full-text top-k search: for every query row, the `topK`
    * highest-scoring corpus documents under Okapi BM25 (Robertson et al.;
    * the idf variant is Lucene's non-negative `ln(1 + (N-df+0.5)/(df+0.5))`).
    * Tokens are the lowercased whitespace words of [[tfidf]]; duplicate
    * terms within one query count once (short-query convention — the k3
    * saturation term is ≈ qtf-independent there). Scores are rounded to 4
    * decimals BEFORE the rank so ties resolve identically on any engine
    * (tie-break: doc id asc). Output: (queryIdCol, idCol, score).
    *
    * PRECONDITION: corpus doc ids are unique — a repeated id would merge
    * its rows' postings as if they were one document's term counts under a
    * single length, which is not a defined BM25 corpus. [[refreshBM25Index]]
    * guards its incremental path loudly; these full-scan entry points trust
    * the caller (an extra distinct-count pass per search is not worth a
    * guard the ingest layer already enforces).
    *
    * Scale shape — the inverted-index join, not an index structure: the
    * corpus collapses to (doc, term, tf) postings with one map-side-combined
    * groupBy; per-doc length is the token count before the explode (no
    * second corpus scan); (N, total-token) corpus stats are ONE
    * 1-row aggregate broadcast everywhere; document frequencies shuffle on
    * term. Query terms meet the postings in a term-keyed equi-join — the
    * query side of a search workload is orders of magnitude smaller than
    * the corpus, so AQE broadcasts it and the postings never reshuffle for
    * the probe. Per-query accumulation shuffles only matched (query, doc)
    * partial scores, and the top-k filter is a per-query window that
    * WindowGroupLimit prunes to k rows per query BEFORE its shuffle. No
    * driver action, no global sort, no all-pairs stage.
    */
  def searchBM25(
      corpus: DataFrame,
      queries: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      queryIdCol: String = "query_id",
      queryTextCol: String = "query",
      k1: Double = 1.2,
      b: Double = 0.75,
      topK: Int = 10): DataFrame = {
    // Recompute beats a persist here: the postings pass is a single codegen
    // pipeline, and materializing it costs more than running it twice
    // (measured on the r11 A/B).
    val base = tokenized(corpus, textCol, col(idCol))
    val stats = base.agg(
      count(lit(1)).as("__n"), sum(size(col("__toks")).cast("long")).as("__tt"))
    val postings = postingsOf(base)
    val dfreq = postings.groupBy("__term").agg(count(lit(1)).as("__df"))
    searchPostings(postings.join(dfreq, "__term"), stats, queries,
      queryIdCol, queryTextCol, idCol, k1, b, topK)
  }

  /** (__doc, __toks) rows of the documents that have at least one token. */
  private def tokenized(docs: DataFrame, textCol: String, doc: Column): DataFrame =
    docs.select(doc.as("__doc"), wordTokens(col(textCol)).as("__toks"))
      .where(size(col("__toks")) > 0)

  /** (__doc, __dl, __term, __tf) postings with one map-side-combined groupBy.
    * __dl (doc length = Σ tf) is size(tokens) BEFORE the explode — one
    * projection instead of a per-doc window (exchange + sort over the whole
    * posting table); corpus stats can come from the un-exploded token
    * arrays, so that consumer never pays the explode + groupBy.
    */
  private def postingsOf(tokenized: DataFrame): DataFrame =
    occurrences(tokenized).groupBy("__doc", "__dl", "__term").agg(count(lit(1)).as("__tf"))

  /** (__doc, __dl, __term) rows, one per token: [[postingsOf]] before its
    * groupBy.
    */
  private def occurrences(tokenized: DataFrame): DataFrame =
    tokenized.select(col("__doc"), size(col("__toks")).cast("long").as("__dl"),
      explode(col("__toks")).as("__term"))

  /** Number of term-hash buckets a persisted BM25 index is partitioned by. */
  val bm25Buckets = 64

  private def termBucket(term: Column): Column =
    pmod(graft.functions.TextFunctions.string_hash64(term, 7L), lit(bm25Buckets.toLong))

  // The persisted layout's fixed schemas: readers never infer them (no
  // footer job), and files of older indexes that still carry a stored
  // `__df` column read unchanged because the column is not requested.
  private val postingsSchema =
    StructType.fromDDL("__term STRING, __doc BIGINT, __tf BIGINT, __dl BIGINT, __bucket BIGINT")
  private val statsSchema = StructType.fromDDL("__n BIGINT, __tt BIGINT")
  private val docsSchema = StructType.fromDDL("__doc BIGINT")

  /** [[tokenized]] `docs` with BIGINT doc ids; a non-integral id column
    * fails here, before any job runs.
    */
  private def indexTokens(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val idType = docs.schema(idCol).dataType
    require(Seq(LongType, IntegerType, ShortType, ByteType).contains(idType),
      s"a persisted BM25 index stores integral doc ids as BIGINT; $idCol is $idType")
    tokenized(docs, textCol, col(idCol).cast("long"))
  }

  /** The postings of [[indexTokens]] in the persisted layout, with their bucket. */
  private def indexPostings(tokens: DataFrame): DataFrame =
    postingsOf(tokens).withColumn("__bucket", termBucket(col("__term")))

  /** Persists the BM25 index of `corpus` under `path`: `postings/` —
    * (__term, __doc, __tf, __dl) parquet PARTITIONED BY a 64-way term-hash
    * `__bucket`, `stats/` — the 1-row (N, total tokens) table, and `docs/`
    * — the posting-bearing doc ids, which make [[refreshBM25Index]]'s
    * duplicate-id guard exact. No document frequency is stored: every
    * posting of a term sits in that term's bucket, so [[searchBM25Index]]
    * counts the exact df from the buckets it reads, and [[refreshBM25Index]]
    * only appends. Doc ids must be integral (stored as BIGINT). Same
    * doc-id-uniqueness PRECONDITION as [[searchBM25]]; the
    * [[refreshBM25Index]] guard makes later dup ingests loud.
    * The build pays the corpus scan and term aggregation ONCE; every
    * subsequent query batch reads only the bucket directories its query
    * terms hash into — build-once / search-many, the
    * [[Similarity.ivfBuildIndex]] pattern for text.
    */
  def buildBM25Index(
      corpus: DataFrame,
      path: String,
      textCol: String = "text",
      idCol: String = "doc_id"): Unit = {
    // one tokenize + groupBy pass, persisted across the three writes; stats
    // and the docs sidecar read the cached postings instead of re-tokenizing
    // the corpus (guide §2.3/§2.4: three corpus passes → one)
    val postings = indexPostings(indexTokens(corpus, textCol, idCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // the three writes are independent (distinct output dirs, all reading
      // the one persisted postings pass) — submitted concurrently so the
      // stats/docs jobs back-fill the straggler tail of the big partitioned
      // postings write instead of queuing behind it (guide §2.6); cache
      // block locks keep the shared persist computed exactly once
      Concurrent.awaitAll(
        () => postings.write.mode("overwrite").partitionBy("__bucket").parquet(s"$path/postings"),
        () => postings.agg(countDistinct(col("__doc")).as("__n"), sum(col("__tf")).as("__tt"))
          .write.mode("overwrite").parquet(s"$path/stats"),
        () => postings.select("__doc").distinct()
          .write.mode("overwrite").parquet(s"$path/docs"))
    } finally postings.unpersist(blocking = false)
  }

  /** Incrementally refreshes a [[buildBM25Index]] layout with NEW documents
    * — the `readSince`-composed ingest path: fresh docs join the postings
    * without a full corpus rebuild. The delta's postings are APPENDED to
    * their bucket directories, one new file per touched bucket; no existing
    * file is read or rewritten, so the write tracks the delta, not the
    * index. Corpus stats accumulate, and a search of the refreshed index is
    * value-identical to one of a full rebuild over the union corpus.
    *
    * Doc ids must be NEW — a repeated id would double-count its own terms —
    * and the `docs/` sidecar makes that guard exact and loud. `stats/` and
    * `docs/` are written only after the postings append has committed, so a
    * failed append leaves the index as it was and the same delta can be
    * retried. (A failure after that commit, in the stats or docs write, is
    * not rolled back.) A non-integral id column fails before any job runs.
    *
    * A delta of at most 131,072 tokens is refreshed in six Spark jobs with
    * no shuffle. One job collects its (doc, doc length, term, bucket) token
    * rows, each task returning at most cap + 1 of them; the driver counts
    * the term frequencies, N and the token total from those rows. The
    * duplicate-id guard (a `docs/` read filtered to the delta's ids, each
    * task stopping at its first row) and the `stats/` read run together.
    * The postings append is one job over a local frame whose partitions
    * each hold whole buckets, so every touched bucket still gets exactly
    * one new file; the `stats/` overwrite and the `docs/` append of the
    * local ids follow it, together. A larger delta pays the collect job and
    * then the distributed plan: the postings are tokenized and grouped in a
    * persisted plan and repartitioned by bucket for the append. Both paths
    * share the guards, the empty-delta no-op, the commit order and the
    * three writes. The cap sits at the measured crossover of the two paths
    * on 4 cores (sf0.1 documents into their own index): the driver path won
    * at 66k tokens (0.79 against 1.10 s), still led at 135k (1.19 against
    * 1.26 s) and lost at 271k (1.54 against 1.39 s), where its per-token
    * collect and local-frame cost overtakes the distributed plan's fixed
    * job overhead.
    */
  def refreshBM25Index(
      spark: SparkSession,
      path: String,
      newDocs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id"): Unit =
    refreshBM25Index(spark, path, newDocs, textCol, idCol, DriverTokens)

  /** Delta tokens up to which [[refreshBM25Index]] counts postings on the driver. */
  private val DriverTokens = 128 << 10

  /** [[refreshBM25Index]] with its driver-path cap on delta tokens; a cap
    * below 1 forces the distributed plan.
    */
  private[graft] def refreshBM25Index(
      spark: SparkSession,
      path: String,
      newDocs: DataFrame,
      textCol: String,
      idCol: String,
      driverTokens: Int): Unit = {
    val tokens = indexTokens(newDocs, textCol, idCol)
    val local =
      if (driverTokens < 1) None
      else graft.collectUpTo(occurrences(tokens).withColumn("__bucket", termBucket(col("__term"))),
        driverTokens)
    val planned = if (local.isEmpty) Some(indexPostings(tokens).persist()) else None
    try {
      val docs = spark.read.schema(docsSchema).parquet(s"$path/docs")
      val delta = local.fold(plannedDelta(planned.get, docs))(driverDelta(spark, _, docs))
      // the delta's (doc count, token count), the dup-id guard and the old
      // stats row are independent bounded reads, run as concurrent jobs
      // (guide §2.6) — all settle before any write below starts
      var counts = (0L, 0L)
      var clash = false
      var oldStats: Row = null
      Concurrent.awaitAll(
        () => counts = delta.counts(),
        () => clash = graft.collectUpTo(delta.overlap, 0).isEmpty,
        () => oldStats = spark.read.schema(statsSchema).parquet(s"$path/stats").head())
      if (counts._1 == 0L) return // nothing to add
      require(!clash,
        s"refreshBM25Index: new doc ids overlap the index at $path — a " +
          "repeated id would double-count its terms; merge upstream first")
      delta.postings.write.mode("append").partitionBy("__bucket").parquet(s"$path/postings")
      Concurrent.awaitAll(
        () => spark.createDataFrame(java.util.List.of(Row(
            oldStats.getLong(0) + counts._1, oldStats.getLong(1) + counts._2)), statsSchema)
          .write.mode("overwrite").parquet(s"$path/stats"),
        () => delta.ids.write.mode("append").parquet(s"$path/docs"))
    } finally planned.foreach(_.unpersist())
  }

  /** A refresh delta as [[refreshBM25Index]]'s one commit sequence takes it:
    * its postings in the persisted layout, each bucket's rows within one
    * partition; its distinct doc ids; those of its ids already in `docs/`;
    * and its (N, total tokens).
    */
  private final case class Delta(postings: DataFrame, ids: DataFrame, overlap: DataFrame,
      counts: () => (Long, Long))

  /** The driver path's delta from its (__doc, __dl, __term, __bucket) token
    * rows: [[postingsOf]]'s groupBy, counted in Scala, and the doc ids as
    * local frames.
    */
  private def driverDelta(spark: SparkSession, tokens: Array[Row], docs: DataFrame): Delta = {
    val tf = tokens.groupMapReduce(r => (r.get(0), r.getLong(1), r.getString(2), r.getLong(3)))(
      _ => 1L)(_ + _)
    val buckets = tf.toSeq.map { case ((doc, dl, term, bkt), n) => Row(term, doc, n, dl, bkt) }
      .groupBy(_.getLong(4)).toSeq.sortBy(_._1).map(_._2)
    val sc = spark.sparkContext
    val postings = sc.parallelize(buckets, buckets.size.min(sc.defaultParallelism).max(1))
      .flatMap(identity)
    val ids = tokens.map(_.get(0)).distinct
    val known = ids.filter(_ != null)
    Delta(spark.createDataFrame(postings, postingsSchema),
      spark.createDataFrame(java.util.Arrays.asList(ids.map(Row(_)): _*), docsSchema).coalesce(1),
      docs.where(col("__doc").isin(known: _*)),
      () => (known.length.toLong, tokens.length.toLong))
  }

  /** The distributed plan's delta over its persisted postings. */
  private def plannedDelta(post: DataFrame, docs: DataFrame): Delta = {
    val ids = post.select("__doc").distinct()
    Delta(post.repartition(col("__bucket")), ids, ids.join(docs, Seq("__doc"), "left_semi"),
      () => {
        val r = post.agg(countDistinct(col("__doc")), sum(col("__tf"))).head()
        (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
      })
  }

  /** Serves a query batch against a [[buildBM25Index]] layout. Each query's
    * distinct terms and their buckets are collected to the driver once (a
    * projection, so no job runs for a local query frame); the postings read
    * covers only the bucket directories those terms hash into, so the
    * corpus-side read is proportional to the query vocabulary, not the
    * index. Each query term's df is counted from those postings — exact,
    * because every posting of a term sits in its bucket. A batch whose terms
    * hit no bucket directory returns an empty frame with the usual
    * (queryIdCol, idCol, score) schema; doc ids come back as BIGINT.
    *
    * When the query terms match at most 49,152 postings, the batch is
    * scored on the driver in two Spark jobs, submitted together. One
    * collects the term-filtered postings, each task returning at most
    * cap + 1 rows, so the driver never holds more than tasks × (cap + 1) of
    * them; the other reads `stats/`. df, the BM25 term weights (in Scala,
    * bit for bit the distributed plan's column expression), the
    * per-(query, doc) sums, rounding (BigDecimal HALF_UP, as Spark's
    * `round`) and the top-k (score desc, doc asc) run on the driver. That
    * result is materialized at call time and returned as a local frame with
    * the distributed plan's schema. A batch past the cap pays those two jobs
    * and then runs the distributed plan: a map-side-combined df aggregate
    * and broadcast joins feed the shared scoring tail. The cap bounds what
    * the driver holds and is conservative: on 4 cores the driver path won at
    * every size measured, 4k to 116k matched postings (0.24-0.34 s against
    * 0.58-0.73 s for the distributed plan).
    */
  def searchBM25Index(
      spark: SparkSession,
      path: String,
      queries: DataFrame,
      queryIdCol: String = "query_id",
      queryTextCol: String = "query",
      idCol: String = "doc_id",
      k1: Double = 1.2,
      b: Double = 0.75,
      topK: Int = 10): DataFrame =
    searchBM25Index(spark, path, queries, queryIdCol, queryTextCol, idCol, k1, b, topK,
      DriverPostings)

  /** Matched postings up to which [[searchBM25Index]] scores on the driver. */
  private val DriverPostings = 48 << 10

  /** [[searchBM25Index]] with its driver-path cap on matched postings; a cap
    * below 1 forces the distributed plan.
    */
  private[graft] def searchBM25Index(
      spark: SparkSession,
      path: String,
      queries: DataFrame,
      queryIdCol: String,
      queryTextCol: String,
      idCol: String,
      k1: Double,
      b: Double,
      topK: Int,
      driverPostings: Int): DataFrame = {
    require(topK >= 1, "topK must be >= 1")
    val qcols = queries.select(col(queryIdCol).as("__qid"),
        array_distinct(wordTokens(col(queryTextCol))).as("__terms"))
      .withColumn("__buckets", transform(col("__terms"), termBucket(_)))
    val qrows = qcols.collect()
    val qterms = qrows.toSeq.filterNot(_.isNullAt(1))
      .flatMap(r => r.getSeq[String](1).zip(r.getSeq[Long](2)).map((r.get(0), _)))
    val root = new org.apache.hadoop.fs.Path(s"$path/postings")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = qterms.map(_._2._2).distinct.sorted
      .map(bkt => new org.apache.hadoop.fs.Path(root, s"__bucket=$bkt"))
      .filter(fs.exists).map(_.toString)
    val postings =
      if (dirs.isEmpty) spark.createDataFrame(java.util.List.of[Row](), postingsSchema)
      else spark.read.schema(postingsSchema).option("basePath", root.toString)
        .parquet(dirs: _*)
        .where(col("__term").isin(qterms.map(_._2._1).distinct: _*))
    val stats = spark.read.schema(statsSchema).parquet(s"$path/stats")
    val qid = qcols.schema("__qid")
    // the driver path's (postings, stats) rows: two jobs submitted together,
    // each postings task returning at most cap + 1 rows
    val collected =
      if (driverPostings < 1) None
      else if (dirs.isEmpty) Some((Array.empty[Row], Array.empty[Row]))
      else {
        var post = Option.empty[Array[Row]]
        var st = Array.empty[Row]
        Concurrent.awaitAll(
          () => post = graft.collectUpTo(postings.select("__term", "__doc", "__tf", "__dl"),
            driverPostings),
          () => st = stats.collect())
        post.map((_, st))
      }
    collected match {
      case Some((post, st)) =>
        val out = StructType(Seq(qid, StructField("__doc", LongType),
          StructField("score", DoubleType)))
        val rows = scoreOnDriver(qrows, post, st, k1, b, topK)
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), out)
          .select(col("__qid").as(queryIdCol), col("__doc").as(idCol), col("score"))
      case None =>
        val local = spark.createDataFrame(
          java.util.Arrays.asList(qterms.map { case (q, (t, _)) => Row(q, t) }: _*),
          StructType(Seq(qid, StructField("__term", StringType))))
        // one row per distinct query term — small enough to broadcast
        val dfreq = postings.groupBy("__term").agg(count(lit(1)).as("__df"))
        val matched = local.join(postings, "__term")
          .join(broadcast(dfreq), "__term")
          .crossJoin(broadcast(stats))
        scoreBM25(matched, queryIdCol, idCol, k1, b, topK)
    }
  }

  /** [[searchBM25Index]]'s driver path over collected (__qid, __terms) rows,
    * their (__term, __doc, __tf, __dl) postings and the `stats/` row:
    * (__qid, __doc, score) rows, top `topK` per query id.
    */
  private def scoreOnDriver(queries: Array[Row], post: Array[Row], st: Array[Row],
      k1: Double, b: Double, topK: Int): Seq[Row] = {
    if (post.isEmpty || st.isEmpty) return Nil
    val df = post.groupMapReduce(_.getString(0))(_ => 1L)(_ + _)
    val (n, tt) = (st.head.getLong(0), st.head.getLong(1))
    val weights = post.groupMap(_.getString(0))(r => (r.getLong(1),
      bm25Weight(r.getLong(2), r.getLong(3), df(r.getString(0)), n, tt, k1, b)))
    val sums = scala.collection.mutable.LinkedHashMap[(Any, Long), Double]()
    for (q <- queries if !q.isNullAt(1); t <- q.getSeq[String](1);
         (doc, w) <- weights.getOrElse(t, Array.empty[(Long, Double)])) {
      val key = (q.get(0), doc)
      sums(key) = sums.getOrElse(key, 0.0) + w
    }
    // Spark's round(.., 4) of a double: BigDecimal HALF_UP
    def round4(x: Double) =
      if (x.isNaN || x.isInfinite) x
      else BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    // the distributed plan's window order: score descending, then doc
    sums.toSeq.map { case ((q, doc), w) => (q, doc, round4(w)) }
      .groupBy(_._1).values.toSeq
      .flatMap(_.sortBy(r => (-r._3, r._2)).take(topK).map(r => Row(r._1, r._2, r._3)))
  }

  private def searchPostings(
      postingsWithDf: DataFrame,
      stats: DataFrame,
      queries: DataFrame,
      queryIdCol: String,
      queryTextCol: String,
      idCol: String,
      k1: Double,
      b: Double,
      topK: Int): DataFrame = {
    val qterms = queries.select(col(queryIdCol).as("__qid"),
      explode(array_distinct(wordTokens(col(queryTextCol)))).as("__term"))
    val matched = qterms
      .join(postingsWithDf, "__term")
      .crossJoin(broadcast(stats))
    scoreBM25(matched, queryIdCol, idCol, k1, b, topK)
  }

  /** One matched (term, posting) row's BM25 term weight, idf × saturated
    * tf, from its (__tf, __dl, __df, __n, __tt) columns.
    */
  private[graft] def bm25Term(k1: Double, b: Double): Column = {
    val avgdl = col("__tt").cast("double") / col("__n").cast("double")
    val idf = log(lit(1.0) +
      (col("__n") - col("__df") + lit(0.5)) / (col("__df") + lit(0.5)))
    val tfNorm = col("__tf") * lit(k1 + 1.0) /
      (col("__tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("__dl") / avgdl))
    idf * tfNorm
  }

  /** [[bm25Term]] of one posting, evaluated in Scala bit for bit: the same
    * operations in the same order, and `StrictMath.log`, which Spark's
    * `log` evaluates.
    */
  private[graft] def bm25Weight(tf: Long, dl: Long, df: Long, n: Long, tt: Long,
      k1: Double, b: Double): Double = {
    val avgdl = tt.toDouble / n.toDouble
    val idf = StrictMath.log(1.0 + ((n - df).toDouble + 0.5) / (df.toDouble + 0.5))
    val tfNorm =
      tf.toDouble * (k1 + 1.0) / (tf.toDouble + k1 * ((1.0 - b) + b * dl.toDouble / avgdl))
    idf * tfNorm
  }

  /** Shared scoring tail: matched = (__qid, __doc, __tf, __dl, __df, __n,
    * __tt) rows, one per (query term × posting) hit.
    */
  private def scoreBM25(
      matched: DataFrame,
      queryIdCol: String,
      idCol: String,
      k1: Double,
      b: Double,
      topK: Int): DataFrame = {
    require(topK >= 1, "topK must be >= 1")
    val scored = matched
      .groupBy(col("__qid"), col("__doc"))
      .agg(round(sum(bm25Term(k1, b)), 4).as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__qid").orderBy(col("score").desc, col("__doc"))
    scored.withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= topK)
      .select(col("__qid").as(queryIdCol), col("__doc").as(idCol), col("score"))
  }

  // BPE symbol encoding: each symbol travels as U+0001<sym>U+0001, a word
  // as the concatenation — so the pair (a, b) is the literal substring
  // "U+0001 a U+0001 U+0001 b U+0001" and merging it is a plain (regex-free)
  // left-to-right replace, identical in any engine. U+0001/U+0002 never
  // occur in text the whitespace tokenizer emits (control bytes).
  private val S = "\u0001"
  private val P = "\u0002"
  private def sepWrap(word: Column): Column =
    regexp_replace(word, "(.)", S + "$1" + S)
  private def mergePat(a: String, b: String): (String, String) =
    (S + a + S + S + b + S, S + a + b + S)

  /** Byte-pair-encoding training (Sennrich et al. 2016, the subword
    * tokenizer of every modern LM pipeline): learns `numMerges` merge rules
    * from the corpus's word-frequency table. Each round counts adjacent
    * symbol pairs over the CURRENT vocabulary (weighted by word frequency),
    * picks the globally best pair under the TOTAL (count desc, pair asc)
    * order — deterministic on any engine — and rewrites the vocabulary with
    * that merge. Merges apply within words only (no cross-word tokens).
    *
    * Scale shape: the corpus is touched ONCE (the word-frequency
    * aggregation); every round then runs over the vocabulary table —
    * distinct words, orders of magnitude smaller — as one pair-count
    * aggregation plus a 1-row bounded collect (same driver-state policy as
    * the IVF fit). Vocabulary lineage chains through lazy localCheckpoints
    * (the PageRank pattern), so round r's plan is O(1), not O(r). Rounds
    * are sequential by nature — BPE's published definition — so wall-clock
    * is numMerges × a small-table round trip; cap numMerges accordingly.
    */
  def bpeTrain(df: DataFrame, textCol: String = "text",
      numMerges: Int = 16): Seq[(String, String)] = {
    require(numMerges >= 1, "numMerges must be positive")
    // round r's collect materializes the CURRENT vocabulary checkpoint
    // (reading round r−1's blocks while it does), so r−1 frees right AFTER
    // the collect — never before, a truncated-lineage checkpoint cannot
    // recompute — and the tail frames free on return: training leaves no
    // persistent RDDs behind (the pagerank release pattern)
    var prev: Option[DataFrame] = None
    var vocab = df
      .select(explode(wordTokens(col(textCol))).as("__w"))
      .groupBy("__w").agg(count(lit(1)).as("__c"))
      .select(sepWrap(col("__w")).as("__s"), col("__c"))
      .localCheckpoint(false)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var exhausted = false
    while (merges.size < numMerges && !exhausted) {
      val syms = filter(split(col("__s"), S), x => x =!= "")
      val best = vocab
        .select(col("__c"), syms.as("__sy"))
        .where(size(col("__sy")) >= 2)
        .select(col("__c"), explode(expr(
          s"transform(sequence(1, size(__sy) - 1), " +
            s"j -> concat(element_at(__sy, j), '$P', element_at(__sy, j + 1)))"))
          .as("__p"))
        .groupBy("__p").agg(sum("__c").as("__n"))
        .orderBy(col("__n").desc, col("__p").asc)
        .limit(1).collect() // bounded: one row; materializes `vocab`
      prev.foreach(Caches.release); prev = None
      if (best.isEmpty) exhausted = true
      else {
        val Array(a, b) = best(0).getString(0).split(P, 2)
        val (pat, rep) = mergePat(a, b)
        merges += ((a, b))
        val next = vocab
          .withColumn("__s", replace(col("__s"), lit(pat), lit(rep)))
          .localCheckpoint(false)
        prev = Some(vocab)
        vocab = next
      }
    }
    // the tail pair: `prev` is materialized, `vocab` never will be (its
    // round never ran) — unpersisting an unmaterialized lazy checkpoint is
    // a no-op, so both free safely
    prev.foreach(Caches.release)
    Caches.release(vocab)
    merges.toSeq
  }

  /** Applies trained BPE merges and reports per-document token counts:
    * `n_words` (whitespace words) and `bpe_tokens` (subword symbols after
    * all merges). Merges apply in RANK ORDER, each exhaustively left to
    * right — equivalent to the classic best-rank-first greedy loop, because
    * a merge's output symbol can only ever participate in LATER-ranked
    * rules (a rule over a symbol cannot be learned before the symbol
    * exists). The whole chain is codegen'd column arithmetic: per word, a
    * char wrap + `numMerges` literal replaces + a separator count — no
    * UDF, no shuffle, nothing but the scan.
    */
  def bpeApply(df: DataFrame, textCol: String = "text",
      merges: Seq[(String, String)]): DataFrame = {
    val words = wordTokens(col(textCol))
    val tokCount = (w: Column) => {
      val folded = merges.foldLeft(sepWrap(w)) { case (c, (a, b)) =>
        val (pat, rep) = mergePat(a, b)
        replace(c, lit(pat), lit(rep))
      }
      // #separators / 2 = #symbols (each symbol wrapped in two )
      (length(folded) - length(replace(folded, lit(S), lit("")))) / 2
    }
    df.withColumn("n_words", size(words))
      .withColumn("bpe_tokens",
        coalesce(aggregate(transform(words, tokCount), lit(0),
          (acc, x) => acc + x.cast("int")), lit(0)))
  }

  /** Cross-group vocabulary overlap — the corpus-composition diagnostic for
    * mixing decisions (how much does one source's vocabulary duplicate
    * another's?): per group, the distinct `[\p{L}\p{Nd}]+` word set; per
    * unordered group pair (a < b, sharing ≥ 1 word), shared-word count and
    * vocabulary Jaccard. Complements [[graft.operators.Ops.snapshotDiff]]
    * (row identity) with distributional identity.
    *
    * Scale shape: the corpus collapses to distinct (group, word) — one
    * map-side-combined distinct, the inverted-vocabulary shuffle — and the
    * pair join keys on the word with per-word buckets bounded by the GROUP
    * count (each word appears once per group after the distinct), so
    * candidates are ≤ groups²/2 per word, never corpus-quadratic. Output is
    * group-pair-sized: a model table.
    */
  def vocabularyOverlap(df: DataFrame, groupCol: String,
      textCol: String = "text"): DataFrame = {
    val words = df.where(col(groupCol).isNotNull)
      .select(col(groupCol).as("__g"),
        explode(regexp_extract_all(lower(col(textCol)),
          lit("[\\p{L}\\p{Nd}]+"), lit(0))).as("__w"))
      .distinct()
    val sizes = words.groupBy("__g").agg(count(lit(1)).as("__n"))
    val shared = words.as("a").join(words.as("b"),
        col("a.__w") === col("b.__w") && col("a.__g") < col("b.__g"))
      .groupBy(col("a.__g").as("group_a"), col("b.__g").as("group_b"))
      .agg(count(lit(1)).as("n_shared"))
    shared
      .join(sizes.select(col("__g").as("group_a"), col("__n").as("n_a")), "group_a")
      .join(sizes.select(col("__g").as("group_b"), col("__n").as("n_b")), "group_b")
      .withColumn("jaccard", col("n_shared").cast("double") /
        (col("n_a") + col("n_b") - col("n_shared")).cast("double"))
  }

  /** Corpus-wide EXACT top-k word n-grams — the vocabulary/boilerplate
    * census next to [[graft.operators.Sketch]]'s approximate heavy hitters:
    * words are the `[\p{L}\p{Nd}]+` runs of the lowercased text (the same
    * extraction the fingerprint/decontam tier uses), each document
    * contributes its n-word windows, and the result is the k most frequent
    * grams by total occurrences with distinct-document counts, totally
    * ordered (count desc, gram asc) so the cut is deterministic.
    *
    * Scale shape: the gram explode is map-side work; ONE (gram)-keyed
    * aggregation carries both counts (occurrences + exact distinct docs
    * plan as a single Expand aggregate), and the top-k is a
    * TakeOrderedAndProject — per-partition k-heaps, never a global sort.
    * At 100 TB the distinct-doc count is the expensive half (rows ×2 from
    * Expand); drop it or swap to approx_count_distinct when only the
    * occurrence census is needed.
    */
  /** Rule-based sentence splitting: maximal runs of non-terminator text
    * followed by their `.!?` run (`[^.!?]+[.!?]*` — deliberately RE2-safe,
    * because the DuckDB mirror has no lookbehind), 1-based position ids
    * assigned BEFORE whitespace-only matches drop (so ids are stable under
    * the drop on both engines). The granularity step under sentence-level
    * dedup, per-sentence quality scoring, and sentence-window packing.
    * Pure codegen'd built-ins, one pass, no shuffle.
    */
  def splitSentences(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    df.select(col(idCol), posexplode(
        regexp_extract_all(col(textCol), lit("[^.!?]+[.!?]*"), lit(0)))
        .as(Seq("__p", "__s")))
      .select(col(idCol), (col("__p") + 1).as("sent_id"),
        trim(col("__s")).as("sentence"))
      .where(length(col("sentence")) > 0)

  /** DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
    * public literature): score every RAW document by how target-like its
    * hashed n-gram distribution is, then Gumbel-top-k resample — the
    * principled "pick k web documents that look like my curated corpus"
    * selection step of a pretraining pipeline.
    *
    *   - features: lowercase-alnum unigrams PLUS adjacent-word bigrams,
    *     hashed into `buckets` (power of two — the signed/unsigned
    *     agreement every hashed-bucket mirror here relies on);
    *   - bucket weights: w_b = ln((t_b+1)/(T+B)) − ln((r_b+1)/(R+B)) — the
    *     add-one-smoothed bag-of-buckets log likelihood ratio between the
    *     target and raw corpora (the NB weight tree with corpora as
    *     classes);
    *   - per-doc log importance: Σ_b tf_b · w_b over the doc's features;
    *   - resampling: the Gumbel trick — g = −ln(−ln(u)) with u the same
    *     seeded-hash uniform as [[graft.operators.Ops.weightedSample]];
    *     top-k by the 6-decimal-PRE-ROUNDED (score + g) then id, so a
    *     1-ulp near-tie at the cut cannot fork engines.
    *
    * Scale shape: two token-explode scans feed map-side-combined bucket
    * counts (≤B rows each), weights broadcast back onto the per-doc bucket
    * counts, and the selection is a TakeOrderedAndProject O(k) heap — no
    * global sort, nothing driver-side beyond k rows.
    */
  private def dsirBuckets(df: DataFrame, textCol: String, idCol: String,
      buckets: Long, seed: Long): DataFrame = {
    val t = regexp_extract_all(lower(col(textCol)), lit("[\\p{L}\\p{Nd}]+"), lit(0))
    val len1 = greatest(size(col("__t")) - 1, lit(0))
    df.select(col(idCol).as("__id"), t.as("__t"))
      .withColumn("__g", explode(concat(col("__t"),
        zip_with(slice(col("__t"), lit(1), len1), slice(col("__t"), lit(2), len1),
          (a, b) => concat(a, lit(" "), b)))))
      .select(col("__id"),
        pmod(string_hash64(col("__g"), seed), lit(buckets)).as("__b"))
  }

  /** The FIT half of [[dsirSelect]]: the ≤`buckets`-row weight table
    * `(bucket, w, w_oov)` — persist it once (it is the DSIR model), then
    * score any batch OR STREAM of documents with [[dsirScore]]. `w_oov` (one
    * value, repeated per row so the model stays a single self-contained
    * table) is the add-one-smoothed weight of a bucket seen in NEITHER
    * corpus at fit time — ln(1/(T+B)) − ln(1/(R+B)) — which is what a
    * fit-once/score-the-stream deployment must charge novel out-of-domain
    * features instead of silently dropping them.
    */
  def dsirWeights(
      raw: DataFrame,
      target: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      buckets: Int = 4096,
      seed: Long = 42L): DataFrame = {
    require(buckets >= 2 && (buckets & (buckets - 1)) == 0, "buckets must be a power of two")
    val d = buckets.toLong
    val tb = dsirBuckets(target, textCol, idCol, d, seed)
      .groupBy("__b").agg(count(lit(1)).as("__ct"))
    val rb = dsirBuckets(raw, textCol, idCol, d, seed)
      .groupBy("__b").agg(count(lit(1)).as("__cr"))
    // ≤B-row weight table; totals via the unpartitioned window over it (the
    // nbClassify pattern — a second aggregate would rescan the corpora)
    val wAll = org.apache.spark.sql.expressions.Window
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    tb.join(rb, Seq("__b"), "full_outer")
      .select(col("__b"), coalesce(col("__ct"), lit(0L)).as("__ct"),
        coalesce(col("__cr"), lit(0L)).as("__cr"))
      .withColumn("__tt", sum("__ct").over(wAll))
      .withColumn("__tr", sum("__cr").over(wAll))
      .select(col("__b").as("bucket"),
        (log((col("__ct").cast("double") + lit(1.0)) / (col("__tt").cast("double") + lit(d.toDouble))) -
         log((col("__cr").cast("double") + lit(1.0)) / (col("__tr").cast("double") + lit(d.toDouble))))
          .as("w"),
        (log(lit(1.0) / (col("__tt").cast("double") + lit(d.toDouble))) -
         log(lit(1.0) / (col("__tr").cast("double") + lit(d.toDouble))))
          .as("w_oov"))
  }

  /** The SCORE half: per-document log importance Σ_g w_{bucket(g)} over the
    * doc's feature OCCURRENCES against a fitted `(bucket, w[, w_oov])`
    * table — tokenize/bucket expressions, a broadcast join, and ONE per-doc
    * aggregation (deliberately not tf-pre-grouped: a second aggregation
    * would be a chained stateful operator and streaming-illegal), so it
    * runs UNCHANGED on a STREAMING frame — the ingestion-time "does this
    * look target-like" gate: fit the weights in batch, score the firehose
    * (Update/complete output, one row per doc). Documents with no features
    * produce no row.
    *
    * Buckets UNSEEN at fit time (hash collisions of genuinely novel content
    * — the fit-once/score-the-stream case) contribute the smoothed OOV
    * weight `w_oov` the fit persisted, not zero: a LEFT join coalesces the
    * miss, so out-of-domain features are penalized exactly as add-one
    * smoothing dictates. A legacy `(bucket, w)` table without the `w_oov`
    * column keeps the old dropped-bucket semantics (OOV weight 0).
    */
  def dsirScore(
      df: DataFrame,
      weights: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      buckets: Int = 4096,
      seed: Long = 42L): DataFrame = {
    // one bounded value off the static (batch-side) model table; 0.0 for
    // legacy weight tables fitted before w_oov existed
    val oov: Double =
      if (!weights.columns.contains("w_oov")) 0.0
      else weights.select(col("w_oov")).limit(1).collect()
        .headOption.map(_.getDouble(0)).getOrElse(0.0)
    dsirBuckets(df, textCol, idCol, buckets.toLong, seed)
      .join(broadcast(weights.select(col("bucket").as("__b"), col("w").as("__w"))),
        Seq("__b"), "left")
      .groupBy("__id")
      .agg(sum(coalesce(col("__w"), lit(oov))).as("dsir_score"))
      .withColumnRenamed("__id", idCol)
  }

  def dsirSelect(
      raw: DataFrame,
      target: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      k: Int = 100,
      buckets: Int = 4096,
      seed: Long = 42L): DataFrame = {
    require(k >= 1, "k must be positive")
    val weights = dsirWeights(raw, target, textCol, idCol, buckets, seed)
    val perDoc = dsirScore(raw, weights, textCol, idCol, buckets, seed)
      .select(col(idCol).as("__id"), col("dsir_score").as("__score"))
    import graft.functions.TextFunctions.mix64_hash
    val u = (shiftrightunsigned(mix64_hash(col("__id").cast("long"), seed), 11)
      .cast("double") + lit(0.5)) / lit(9007199254740992.0) // 2^53
    perDoc
      .withColumn("__gk", round(col("__score") - log(-log(u)), 6))
      .orderBy(col("__gk").desc, col("__id").asc)
      .limit(k)
      .select(col("__id").as(idCol), col("__gk").as("dsir_key"),
        round(col("__score"), 4).as("dsir_score"))
  }

  def ngramTopK(
      df: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      n: Int = 3,
      k: Int = 50): DataFrame = {
    require(n >= 1 && k >= 1, "n and k must be positive")
    val ws = regexp_extract_all(lower(col(textCol)), lit("[\\p{L}\\p{Nd}]+"), lit(0))
    df.select(col(idCol).as("__doc"), ws.as("__ws"))
      .where(size(col("__ws")) >= n)
      .select(col("__doc"), explode(expr(
        s"transform(sequence(1, size(__ws) - ${n - 1}), i -> array_join(slice(__ws, i, $n), ' '))"))
        .as("gram"))
      .groupBy("gram")
      .agg(count(lit(1)).as("n_occ"), countDistinct(col("__doc")).as("n_docs"))
      .orderBy(col("n_occ").desc, col("gram").asc)
      .limit(k)
  }
}
