package graft

/** DuckDB-SQL mirrors of the graft sketch kernels ([[graft.functions.TextKernel]])
  * for the driver's correctness oracle. Every mirror reproduces the kernel's
  * 64-bit wrap-around arithmetic bit-exactly in DuckDB:
  *
  *   - unsigned 64-bit values travel as HUGEINT in [0, 2^64); wrap = `% 2^64`
  *   - `xor` needs signed BIGINT, so values round-trip through a single-
  *     reference two's-complement conversion (`(a + 2^63) % 2^64 - 2^63`)
  *   - 64×64-bit multiply overflows HUGEINT, so constants split into
  *     32-bit halves: `a·c mod 2^64 = (a·cl + (a·ch mod 2^32)·2^32) mod 2^64`
  *   - char folds run over UTF-16 code units (`unicode()` per char — the test
  *     corpus is BMP-only, where code unit = codepoint)
  *
  * Discrete decisions (bucket collisions, hamming/Jaccard/cosine thresholds,
  * winner selection) therefore agree exactly with the Spark side; the only
  * float comparisons are the same IEEE-double expressions evaluated by both
  * engines on identical inputs.
  */
object OracleSql {

  private val H = "18446744073709551616" // 2^64
  private val K31 = "1125899906842597"   // hashRange seed

  /** HUGEINT in [0,2^64) → signed BIGINT (single operand reference). */
  private def sb2(a: String): String =
    s"CAST((($a) + 9223372036854775808) % $H - 9223372036854775808 AS BIGINT)"

  /** signed BIGINT → HUGEINT in [0,2^64) (single operand reference). */
  private def ub2(x: String): String = s"((CAST(($x) AS HUGEINT) + $H) % $H)"

  private def xor64(a: String, b: String): String = ub2(s"xor(${sb2(a)}, ${sb2(b)})")

  private def shr(a: String, k: Int): String = s"(($a) // ${1L << k})"

  /** a·c mod 2^64 for constant c, via 32-bit split (a < 2^64). */
  private def mulmod(a: String, c: BigInt): String = {
    val ch = c >> 32
    val cl = c & 0xffffffffL
    s"((($a)*$cl + ((($a)*$ch) % 4294967296) * 4294967296) % $H)"
  }

  /** splitmix64 finalizer (TextKernel.mix64), operand referenced ~32×:
    * keep inputs short (a column name or lambda variable).
    */
  private def mix64(z0: String): String = {
    val z1 = s"((($z0) + 11400714819323198485) % $H)"
    val z2 = mulmod(xor64(z1, shr(z1, 30)), BigInt("bf58476d1ce4e5b9", 16))
    val z3 = mulmod(xor64(z2, shr(z2, 27)), BigInt("94d049bb133111eb", 16))
    xor64(z3, shr(z3, 31))
  }

  /** UTF-16 code units of a string expr as HUGEINT list. */
  private def codesOf(s: String): String =
    s"list_transform(split($s, ''), x -> CAST(unicode(x) AS HUGEINT))"

  /** 31-polynomial fold + mix64 = TextKernel.hashRange over a codes list. */
  private def hashFold(codes: String): String =
    mix64(s"list_reduce(list_prepend(CAST($K31 AS HUGEINT), $codes), (h, c) -> (31*h + c) % $H)")

  /** Unrolled hashRange of a k-char shingle at 1-based position p of list cs. */
  private def shinglePoly(k: Int): String = {
    val base = BigInt(K31) * BigInt(31).pow(k)
    val terms = s"CAST('$base' AS HUGEINT)" +: (0 until k).map { i =>
      val c = if (i == 0) "cs[p]" else s"cs[p+$i]"
      val coef = BigInt(31).pow(k - 1 - i)
      if (coef == 1) c else s"$c*$coef"
    }
    terms.mkString("(", " + ", s") % $H")
  }

  /** (b, 2^b) literal table — `**`/`power` are lossy doubles, literals are exact. */
  private def pow2Values(n: Int): String = {
    val vals = (0 until n).map(b => s"($b, CAST('${BigInt(1) << b}' AS HUGEINT))").mkString(", ")
    s"(SELECT * FROM (VALUES $vals) pw(b, pb))"
  }

  /** Cosine similarity of two DOUBLE-castable list exprs (same fold shape as
    * [[graft.operators.Similarity.cosineSim]]).
    */
  def cos(a: String, b: String): String =
    s"""list_sum(list_transform(list_zip($a, $b), s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)))
       | / (sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       |  * sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))""".stripMargin

  // ---- shared CTE cores ----------------------------------------------------

  /** CTE `sh(doc_id, lang, simhash)`: TextKernel.simhash64 per document
    * (lowercase alnum tokens → 64 bit votes).
    */
  private def simhashCore(docsrc: String): String =
    s"""toks AS (SELECT doc_id, lang, unnest(regexp_extract_all(lower(text), '[\\p{L}\\p{Nd}]+')) AS tok
       |  FROM $docsrc),
       |th AS (SELECT doc_id, lang, ${hashFold(codesOf("tok"))} AS h FROM toks),
       |bits AS (SELECT doc_id, lang, b,
       |  sum(CASE WHEN (h // pb) % 2 = 1 THEN 1 ELSE -1 END) AS cnt
       |  FROM th, ${pow2Values(64)} GROUP BY doc_id, lang, b),
       |shv AS (SELECT bits.doc_id, bits.lang,
       |  ${sb2("sum(CASE WHEN cnt > 0 THEN pb ELSE 0 END)")} AS simhash
       |  FROM bits JOIN ${pow2Values(64)} USING (b) GROUP BY bits.doc_id, bits.lang),
       |sh AS (SELECT d.doc_id, d.lang, coalesce(shv.simhash, 0) AS simhash
       |  FROM $docsrc d LEFT JOIN shv ON d.doc_id = shv.doc_id)""".stripMargin

  /** CTEs `fullsig(doc_id, sig)` (128-long signed MinHash signature, 5-char
    * shingles, Kirsch–Mitzenmacher double hashing) and `est(ida, idb, eq)`
    * (banded-LSH candidate pairs with their equal-component count).
    */
  private def minhashCore(docsrc: String, shingle: Int = 5, nh: Int = 128, nb: Int = 16): String = {
    val rpb = nh / nb
    s"""d0m AS (SELECT doc_id, lang, ${codesOf("text")} AS cs FROM $docsrc),
       |posm AS (SELECT doc_id, cs, unnest(range(1, greatest(len(cs) - ${shingle - 2}, 2))) AS p FROM d0m),
       |sh0 AS (SELECT doc_id,
       |  CASE WHEN len(cs) >= $shingle THEN ${shinglePoly(shingle)}
       |  ELSE list_reduce(list_prepend(CAST($K31 AS HUGEINT), cs), (h, c) -> (31*h + c) % $H) END AS z0
       |  FROM posm WHERE len(cs) >= $shingle OR p = 1),
       |hh1 AS (SELECT DISTINCT doc_id, ${mix64("z0")} AS h1 FROM sh0),
       |hh2 AS (SELECT doc_id, h1, ((${mix64(xor64("h1", "1983549640968916533"))}) // 2) * 2 + 1 AS h2 FROM hh1),
       |sigrows AS (SELECT doc_id, i, min(${sb2(s"(h1 + i*h2) % $H")}) AS sv
       |  FROM hh2, (SELECT unnest(range(0, $nh)) AS i) ii GROUP BY doc_id, i),
       |fullsig AS (SELECT doc_id, list(sv ORDER BY i) AS sig FROM sigrows GROUP BY doc_id),
       |bands AS (SELECT doc_id, bd, array_to_string(sig[bd*$rpb+1:bd*$rpb+$rpb], ',') AS bsig
       |  FROM fullsig, (SELECT unnest(range(0, $nb)) AS bd) bb),
       |cand AS (SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
       |  FROM bands a JOIN bands b ON a.bd = b.bd AND a.bsig = b.bsig AND a.doc_id < b.doc_id),
       |est AS (SELECT c.ida, c.idb,
       |  len(list_filter(list_zip(fa.sig, fb.sig), s -> s[1] = s[2])) AS eq
       |  FROM cand c JOIN fullsig fa ON c.ida = fa.doc_id JOIN fullsig fb ON c.idb = fb.doc_id)""".stripMargin
  }

  /** CTE `gset(doc_id, grams)`: distinct hashed word n-grams
    * (TextKernel.ngramsHashed) per document, word order preserved.
    */
  private def gramsCore(docsrc: String, n: Int = 3): String =
    s"""wtoks AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[\\p{L}\\p{Nd}]+')) AS tok,
       |  generate_subscripts(regexp_extract_all(lower(text), '[\\p{L}\\p{Nd}]+'), 1) AS wpos
       |  FROM $docsrc),
       |wh AS (SELECT doc_id, wpos, ${hashFold(codesOf("tok"))} AS w FROM wtoks),
       |wlist AS (SELECT doc_id, list(w ORDER BY wpos) AS ws FROM wh GROUP BY doc_id),
       |gpos AS (SELECT doc_id, ws, unnest(range(1, greatest(len(ws) - ${n - 2}, 2))) AS j FROM wlist),
       |graw AS (SELECT doc_id,
       |  CASE WHEN len(ws) >= $n THEN ws[j:j+${n - 1}] ELSE ws END AS gw
       |  FROM gpos WHERE len(ws) >= $n OR j = 1),
       |ghash AS (SELECT doc_id,
       |  ${sb2(s"list_reduce(list_prepend(CAST(0 AS HUGEINT), gw), (h, w) -> ${mix64(xor64("h", "w"))})")} AS g
       |  FROM graw),
       |gset AS (SELECT doc_id, list(DISTINCT g) AS grams FROM ghash GROUP BY doc_id)""".stripMargin

  /** CTE `fps(doc_id, pos, h)`: TextKernel.winnow — robust winnowing
    * fingerprints. Every char `k`-gram is hashed (signed), each length-`w`
    * window of consecutive gram hashes selects its RIGHTMOST minimum, and
    * the distinct selected (pos, hash) pairs survive. The rightmost-tie rule
    * mirrors as: per window start q, min(h) then max(pos) among the minima.
    * Texts shorter than k emit nothing; fewer than w grams = one window.
    */
  private def winnowCore(docsrc: String, k: Int, w: Int): String =
    s"""d0w AS (SELECT doc_id, ${codesOf("text")} AS cs FROM $docsrc),
       |posw AS (SELECT doc_id, cs, unnest(range(1, len(cs) - ${k - 2})) AS p
       |  FROM d0w WHERE len(cs) >= $k),
       |gw AS (SELECT doc_id, p - 1 AS pos, ${sb2(mix64(shinglePoly(k)))} AS h FROM posw),
       |ppw AS (SELECT doc_id, count(*) AS np FROM gw GROUP BY doc_id),
       |wj AS (SELECT g.doc_id, g.pos - j.j AS q, g.pos, g.h
       |  FROM gw g, (SELECT unnest(range(0, $w)) AS j) j
       |  WHERE g.pos - j.j >= 0),
       |qm AS (SELECT wj.doc_id, wj.q, wj.pos, wj.h
       |  FROM wj JOIN ppw ON wj.doc_id = ppw.doc_id
       |  WHERE wj.q <= greatest(ppw.np - $w, 0)),
       |m1 AS (SELECT doc_id, q, min(h) AS mh FROM qm GROUP BY doc_id, q),
       |fpq AS (SELECT qm.doc_id, qm.q, m1.mh AS h, max(qm.pos) AS pos
       |  FROM qm JOIN m1 ON qm.doc_id = m1.doc_id AND qm.q = m1.q AND qm.h = m1.mh
       |  GROUP BY qm.doc_id, qm.q, m1.mh),
       |fps AS (SELECT DISTINCT doc_id, pos, h FROM fpq)""".stripMargin

  /** (doc_id, n_fps, n_shared, dup_frac, keep): TextAnalysis.substringDupStats
    * — fraction of a document's winnowing fingerprints occurring in >=
    * minDocs distinct documents.
    */
  def textSubstrdup(k: Int = 12, w: Int = 8, minDocs: Int = 2,
      keepBelow: Double = 0.5, docsrc: String = "documents"): String =
    s"""WITH ${winnowCore(docsrc, k, w)},
       |byhash AS (SELECT h, count(DISTINCT doc_id) AS ndocs FROM fps GROUP BY h),
       |perdoc AS (SELECT f.doc_id, count(*) AS n_fps,
       |  sum(CASE WHEN b.ndocs >= $minDocs THEN 1 ELSE 0 END) AS n_shared
       |  FROM fps f JOIN byhash b USING (h) GROUP BY f.doc_id)
       |SELECT d.doc_id,
       |  CAST(coalesce(p.n_fps, 0) AS BIGINT) AS n_fps,
       |  CAST(coalesce(p.n_shared, 0) AS BIGINT) AS n_shared,
       |  round(CASE WHEN coalesce(p.n_fps, 0) > 0
       |    THEN CAST(p.n_shared AS DOUBLE) / p.n_fps ELSE 0.0 END, 6) AS dup_frac,
       |  (CASE WHEN coalesce(p.n_fps, 0) > 0
       |    THEN CAST(p.n_shared AS DOUBLE) / p.n_fps ELSE 0.0 END) <= $keepBelow AS keep
       |FROM $docsrc d LEFT JOIN perdoc p ON d.doc_id = p.doc_id""".stripMargin

  /** (doc_id, span_start, span_end, n_fps): TextAnalysis.repeatedSpans —
    * gaps-and-islands merge (gap <= k) of cross-document-shared fingerprint
    * positions; span_end exclusive.
    */
  def textSpans(k: Int = 12, w: Int = 8, minDocs: Int = 2,
      docsrc: String = "documents"): String =
    s"""WITH ${winnowCore(docsrc, k, w)},
       |byhash AS (SELECT h, count(DISTINCT doc_id) AS ndocs FROM fps GROUP BY h),
       |shared AS (SELECT f.doc_id, f.pos FROM fps f JOIN byhash b USING (h)
       |  WHERE b.ndocs >= $minDocs),
       |lagd AS (SELECT doc_id, pos,
       |  lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev FROM shared),
       |brk AS (SELECT doc_id, pos,
       |  CASE WHEN prev IS NULL OR pos - prev > $k THEN 1 ELSE 0 END AS b FROM lagd),
       |isl AS (SELECT doc_id, pos,
       |  sum(b) OVER (PARTITION BY doc_id ORDER BY pos) AS g FROM brk)
       |SELECT doc_id, min(pos) AS span_start, max(pos) + $k AS span_end,
       |  count(*) AS n_fps
       |FROM isl GROUP BY doc_id, g""".stripMargin

  /** CTE `sk(vec_id, t, sketch)`: TextKernel.vecSimhash sign sketch per
    * (vector, table) — Rademacher planes from mix64(table ^ (plane<<32) ^ dim).
    */
  private def vecsketchCore(vecsrc: String, tables: Int, planes: Int, dim: Int): String =
    s"""wts AS (SELECT t, p, list(CASE WHEN (${mix64("CAST(p AS HUGEINT) * 4294967296 + " + ub2("xor(CAST(t AS BIGINT), CAST(d AS BIGINT))"))}) % 2 = 0 THEN 1.0 ELSE -1.0 END ORDER BY d) AS wl
       |  FROM (SELECT unnest(range(0, $tables)) AS t) tt,
       |       (SELECT unnest(range(0, $planes)) AS p) pp,
       |       (SELECT unnest(range(0, $dim)) AS d) dd
       |  GROUP BY t, p),
       |dots AS (SELECT e.vec_id, w.t, w.p,
       |  list_sum(list_transform(list_zip(e.embedding, w.wl), s -> CAST(s[1] AS DOUBLE) * s[2])) AS dot
       |  FROM $vecsrc e, wts w),
       |sk AS (SELECT vec_id, t, sum(CASE WHEN dot >= 0 THEN 1 << p ELSE 0 END) AS sketch
       |  FROM dots GROUP BY vec_id, t)""".stripMargin

  // ---- full oracle queries -------------------------------------------------

  /** (doc_id, doc_fp): TextKernel.fingerprint — mix-fold of the 4 smallest
    * signed char-8-gram hashes.
    */
  def fingerprint(docsrc: String = "documents"): String =
    s"""WITH d0 AS (SELECT doc_id, ${codesOf("text")} AS cs FROM $docsrc),
       |pos AS (SELECT doc_id, cs, unnest(range(1, greatest(len(cs) - 6, 2))) AS p FROM d0),
       |raw AS (SELECT doc_id,
       |  CASE WHEN len(cs) >= 8 THEN ${shinglePoly(8)}
       |  ELSE list_reduce(list_prepend(CAST($K31 AS HUGEINT), cs), (h, c) -> (31*h + c) % $H) END AS z0
       |  FROM pos WHERE len(cs) >= 8 OR p = 1),
       |mixed AS (SELECT doc_id, ${sb2(mix64("z0"))} AS hv FROM raw),
       |m4 AS (SELECT doc_id, list_sort(list(hv))[1:4] AS ms FROM mixed GROUP BY doc_id)
       |SELECT doc_id,
       |  ${sb2(s"list_reduce(list_prepend(CAST(0 AS HUGEINT), list_transform(ms, m -> ${ub2("m")})), (o, m) -> ${mix64(xor64("o", "m"))})")} AS doc_fp
       |FROM m4""".stripMargin

  /** (doc_id, lang_pred): TextKernel.langId — CJK-dominance check, then the
    * stopword set with the most token hits (ties → first alphabetically).
    */
  def langid(docsrc: String = "documents"): String = {
    val stop = Map(
      "de" -> Seq("der", "die", "das", "und", "ein", "eine", "ist", "nicht", "von", "zu", "mit", "den", "im", "für", "auf"),
      "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "it", "that", "was", "for", "on", "with", "as", "at"),
      "es" -> Seq("el", "la", "los", "las", "de", "y", "un", "una", "es", "que", "para", "en", "del", "con", "por"),
      "fr" -> Seq("le", "la", "les", "de", "des", "et", "un", "une", "est", "que", "pour", "dans", "du", "au", "avec"),
      "it" -> Seq("il", "la", "le", "di", "e", "un", "una", "è", "che", "per", "in", "del", "con", "non", "si"))
    val hitCols = stop.keys.toSeq.sorted.map { l =>
      val lst = stop(l).map(w => s"'$w'").mkString(", ")
      s"len(list_filter(toks, t -> t IN ($lst))) AS h_$l"
    }
    s"""WITH d0 AS (SELECT doc_id,
       |  length(regexp_replace(lower(text), '[^\\p{L}]', '', 'g')) AS n_letters,
       |  length(regexp_replace(lower(text), '[^\\x{4E00}-\\x{9FFF}\\x{3040}-\\x{30FF}]', '', 'g')) AS n_cjk,
       |  regexp_extract_all(lower(text), '\\p{L}+') AS toks
       |  FROM $docsrc),
       |h AS (SELECT doc_id, n_letters, n_cjk, ${hitCols.mkString(", ")} FROM d0),
       |m AS (SELECT *, greatest(h_de, h_en, h_es, h_fr, h_it) AS mx FROM h)
       |SELECT doc_id,
       |  CASE WHEN n_letters > 0 AND n_cjk * 2 > n_letters THEN 'zh'
       |       WHEN mx = 0 THEN 'unknown'
       |       WHEN h_de = mx THEN 'de' WHEN h_en = mx THEN 'en' WHEN h_es = mx THEN 'es'
       |       WHEN h_fr = mx THEN 'fr' ELSE 'it' END AS lang_pred
       |FROM m""".stripMargin
  }

  /** (doc_id, format, width, height, n_frames): Multimodal.decodeStub — mix64
    * fold over the first 64 payload bytes (UTF-8 of ASCII text = code units),
    * then the stub's signed modulo/shift arithmetic.
    */
  def multimodalMeta(docsrc: String = "documents"): String =
    s"""WITH d0 AS (SELECT doc_id, ${codesOf("text")}[1:64] AS cs FROM $docsrc),
       |f AS (SELECT doc_id,
       |  ${sb2(s"list_reduce(list_prepend(CAST(0 AS HUGEINT), cs), (h, c) -> ${mix64(xor64("h", "c"))})")} AS h
       |  FROM d0)
       |SELECT doc_id,
       |  CASE ((h % 3) + 3) % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'webp' END AS format,
       |  CAST(64 + abs(h >> 8) % 1024 AS BIGINT) AS width,
       |  CAST(64 + abs(h >> 24) % 1024 AS BIGINT) AS height,
       |  CAST(1 + abs(h >> 40) % 64 AS BIGINT) AS n_frames
       |FROM f""".stripMargin

  /** (doc_id, width, height, n_px, mean_intensity): mirror of the REAL
    * ImageIO decode path — `Multimodal.withSyntheticImage` renders a gradient
    * PNG (pixel value (x·31 + y·17 + id) mod 256, w = 8 + id mod 24,
    * h = 8 + (id div 7) mod 24), `withPixelStats` decodes it back and sums
    * Σ(r+g+b) exactly; PNG is lossless so the SQL recomputes the raster from
    * the formula. Fixed 0..31 series + filter (DuckDB's generate_series takes
    * no lateral args).
    */
  def multimodalPixels(docsrc: String = "documents"): String =
    s"""WITH d AS (SELECT doc_id, 8 + doc_id % 24 AS w, 8 + (doc_id // 7) % 24 AS h FROM $docsrc),
       |s AS (SELECT i FROM generate_series(0, 31) AS t(i)),
       |px AS (SELECT d.doc_id, d.w, d.h, (gx.i*31 + gy.i*17 + d.doc_id) % 256 AS v
       |       FROM d, s gx, s gy WHERE gx.i < d.w AND gy.i < d.h)
       |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
       |  CAST(w*h AS BIGINT) AS n_px,
       |  round(CAST(3*SUM(v) AS DOUBLE) / (3.0 * (w*h)), 6) AS mean_intensity
       |FROM px GROUP BY doc_id, w, h""".stripMargin

  /** (doc_id, ahash): Multimodal.aHash64 over the synthetic gradient PNGs,
    * then Dedup.hammingDedup keeps survivors — the whole image-near-dup
    * path recomputed from the gradient formula: pixel v = (x·31+y·17+id)
    * % 256 (grayscale, channel sum 3v), block (y·8//h)·8 + x·8//w, bit =
    * blockSum·nPx > totalSum·blockPx (integer-exact cross-multiply),
    * all-pairs bit_count(xor) <= maxHamming drop (complete superset of the
    * operator's pigeonhole chunk buckets for maxHamming <= 3).
    */
  def multimodalPhash(maxHamming: Int = 3, docsrc: String = "documents"): String =
    s"""WITH d AS (SELECT doc_id, 8 + doc_id % 24 AS w, 8 + (doc_id // 7) % 24 AS h FROM $docsrc),
       |s AS (SELECT i FROM generate_series(0, 31) AS t(i)),
       |px AS (SELECT d.doc_id, d.w, d.h, gx.i AS x, gy.i AS y,
       |  CAST(3 * ((gx.i*31 + gy.i*17 + d.doc_id) % 256) AS HUGEINT) AS sv
       |  FROM d, s gx, s gy WHERE gx.i < d.w AND gy.i < d.h),
       |blk AS (SELECT doc_id, (y*8)//h*8 + (x*8)//w AS b,
       |  sum(sv) AS bs, count(*) AS bc FROM px GROUP BY doc_id, (y*8)//h*8 + (x*8)//w),
       |tot AS (SELECT doc_id, sum(sv) AS ts, count(*) AS tc FROM px GROUP BY doc_id),
       |bits AS (SELECT blk.doc_id, blk.b,
       |  CASE WHEN blk.bs * tot.tc > tot.ts * blk.bc THEN 1 ELSE 0 END AS bit
       |  FROM blk JOIN tot ON blk.doc_id = tot.doc_id),
       |ah AS (SELECT bits.doc_id,
       |  ${sb2("sum(CASE WHEN bit = 1 THEN pb ELSE 0 END)")} AS ahash
       |  FROM bits JOIN ${pow2Values(64)} USING (b) GROUP BY bits.doc_id),
       |dropped AS (SELECT DISTINCT b.doc_id FROM ah a JOIN ah b
       |  ON a.doc_id < b.doc_id AND bit_count(xor(a.ahash, b.ahash)) <= $maxHamming)
       |SELECT k.doc_id, k.ahash FROM ah k ANTI JOIN dropped dr ON k.doc_id = dr.doc_id""".stripMargin

  /** (doc_id, n_samples, duration_ms, rms, zero_crossings, mean_sample):
    * mirror of the REAL WAV PCM decode path — `Multimodal.withSyntheticWav`
    * writes PCM16 sample i = ((id·31 + i·7) mod 2003) − 1001 at 8 kHz,
    * `withPcmStats` parses the RIFF data chunk back and accumulates
    * integer-exact Σs and Σs²; duration = byteLen·1000 / byteRate with
    * byteRate = 16000.
    */
  def multimodalAudio(docsrc: String = "documents"): String =
    s"""WITH d AS (SELECT doc_id, 256 + doc_id % 256 AS n FROM $docsrc),
       |s AS (SELECT i FROM generate_series(0, 511) AS t(i)),
       |sm AS (SELECT d.doc_id, d.n, t.i, ((d.doc_id*31 + t.i*7) % 2003) - 1001 AS s,
       |       CASE WHEN t.i > 0 THEN ((d.doc_id*31 + (t.i-1)*7) % 2003) - 1001 END AS sp
       |       FROM d, s t WHERE t.i < d.n)
       |SELECT doc_id, CAST(n AS BIGINT) AS n_samples,
       |  CAST((2*n*1000) // 16000 AS BIGINT) AS duration_ms,
       |  round(sqrt(CAST(SUM(s*s) AS DOUBLE) / n) / 32768.0, 6) AS rms,
       |  CAST(SUM(CASE WHEN sp*s < 0 THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings,
       |  round(CAST(SUM(s) AS DOUBLE) / n, 6) AS mean_sample
       |FROM sm GROUP BY doc_id, n""".stripMargin

  /** Kept (doc_id, lang) after SimHash dedup: drop every id that loses a
    * hamming ≤ `maxHamming` pair to a smaller id (4×16-bit pigeonhole
    * bucketing has recall 1 for hamming ≤ 3, so the bucket step needs no
    * mirror).
    */
  def dedupSimhash(docsrc: String = "documents", maxHamming: Int = 3): String =
    s"""WITH ${simhashCore(docsrc)},
       |dropped AS (SELECT DISTINCT b.doc_id FROM sh a JOIN sh b
       |    ON a.doc_id < b.doc_id AND bit_count(xor(a.simhash, b.simhash)) <= $maxHamming)
       |SELECT d.doc_id, d.lang FROM sh d ANTI JOIN dropped dr ON d.doc_id = dr.doc_id""".stripMargin

  /** Kept (doc_id, lang) after MinHash-LSH dedup of the skew corpus
    * (`documents` + `copies` byte-identical clones of doc 0 at ids 1000000+):
    * mirrors the exact-collapse semantics — identical texts reduce to their
    * min-id representative (identical signatures estimate Jaccard 1, so
    * non-representatives always drop), representatives run the full
    * band/est pipeline. Pairwise-equivalent to the uncollapsed join, but the
    * mirror would otherwise sketch the same text 5000×.
    */
  def dedupSkew(docsrc: String = "documents", copies: Int = 5000,
      threshold: Double = 0.7): String =
    s"""WITH expanded AS (
       |  SELECT doc_id, text, lang FROM $docsrc
       |  UNION ALL
       |  SELECT CAST(1000000 + t.i AS BIGINT) AS doc_id, d.text, d.lang
       |  FROM $docsrc d, generate_series(0, ${copies - 1}) t(i) WHERE d.doc_id = 0),
       |u AS (SELECT text, min(doc_id) AS gid FROM expanded GROUP BY text),
       |urep AS (SELECT u.gid AS doc_id, e.text, e.lang FROM u JOIN expanded e ON e.doc_id = u.gid),
       |${minhashCore("urep")},
       |dropped AS (SELECT DISTINCT idb FROM est WHERE CAST(eq AS DOUBLE)/128.0 >= $threshold)
       |SELECT e.doc_id, e.lang FROM expanded e JOIN u ON e.text = u.text AND e.doc_id = u.gid
       |  ANTI JOIN dropped dr ON e.doc_id = dr.idb""".stripMargin

  /** Kept (doc_id, lang) after MinHash-LSH dedup at estimated Jaccard ≥
    * `threshold` (band collisions and signature agreement both mirrored
    * exactly — no recall assumption).
    */
  def dedupMinhash(docsrc: String = "documents", threshold: Double = 0.7): String =
    s"""WITH ${minhashCore(docsrc)},
       |dropped AS (SELECT DISTINCT idb FROM est WHERE CAST(eq AS DOUBLE)/128.0 >= $threshold)
       |SELECT d.doc_id, d.lang FROM $docsrc d ANTI JOIN dropped dr ON d.doc_id = dr.idb""".stripMargin

  /** (doc_id, cluster): transitive MinHash-LSH near-dup clusters — the
    * verified banded pairs of [[dedupMinhash]] closed over connectivity by
    * recursive min-label propagation (mirrors
    * [[graft.operators.Graph.connectedComponents]] over
    * [[graft.operators.Dedup.clusters]]'s edge set); cluster = smallest
    * doc_id of the component. The `l < v` prune is safe: a node's own id is
    * already seeded by the base case, so only smaller labels can win min().
    */
  /** CTE chain `... cl(doc_id, cluster)`: MinHash-estimate pairs at
    * `threshold` closed into min-label connected components — shared by
    * [[dedupClusters]] and [[dedupKeepBest]].
    */
  private def clustersChain(docsrc: String, threshold: Double): String =
    s"""${minhashCore(docsrc)},
       |vp AS (SELECT ida, idb FROM est WHERE CAST(eq AS DOUBLE)/128.0 >= $threshold),
       |sym AS (SELECT ida AS u, idb AS v FROM vp UNION SELECT idb AS u, ida AS v FROM vp),
       |lbl AS (
       |  SELECT doc_id AS node, doc_id AS l FROM $docsrc
       |  UNION
       |  SELECT s.v AS node, lbl.l AS l FROM lbl JOIN sym s ON s.u = lbl.node WHERE lbl.l < s.v),
       |cl AS (SELECT node AS doc_id, min(l) AS cluster FROM lbl GROUP BY node)""".stripMargin

  def dedupClusters(docsrc: String = "documents", threshold: Double = 0.7): String =
    s"""WITH RECURSIVE ${clustersChain(docsrc, threshold)}
       |SELECT doc_id, cluster FROM cl""".stripMargin

  /** Mirror of `Dedup.keepBest`: the cluster chain + per-cluster argmax on
    * (quality desc, id asc) with quality = text length.
    */
  def dedupKeepBest(docsrc: String = "documents", threshold: Double = 0.7): String =
    s"""WITH RECURSIVE ${clustersChain(docsrc, threshold)},
       |jq AS (SELECT cl.doc_id, cl.cluster, length(d.text) AS ql
       |  FROM cl JOIN $docsrc d ON cl.doc_id = d.doc_id),
       |rk AS (SELECT doc_id, cluster,
       |  count(*) OVER (PARTITION BY cluster) AS n_members,
       |  row_number() OVER (PARTITION BY cluster ORDER BY ql DESC, doc_id) AS rn
       |  FROM jq)
       |SELECT doc_id, cluster, n_members FROM rk WHERE rn = 1""".stripMargin

  /** Kept (doc_id, lang) after MinHash candidates (est ≥ `candThreshold`) +
    * exact word-3-gram Jaccard ≥ `jacThreshold` verification.
    */
  def dedupVerified(docsrc: String = "documents", candThreshold: Double = 0.4,
      jacThreshold: Double = 0.7): String =
    s"""WITH ${minhashCore(docsrc)},
       |${gramsCore(docsrc)},
       |vpairs AS (SELECT e.ida, e.idb,
       |    CAST(len(list_intersect(ga.grams, gb.grams)) AS DOUBLE)
       |      / greatest(len(ga.grams) + len(gb.grams) - len(list_intersect(ga.grams, gb.grams)), 1) AS jac
       |  FROM est e JOIN gset ga ON e.ida = ga.doc_id JOIN gset gb ON e.idb = gb.doc_id
       |  WHERE CAST(e.eq AS DOUBLE)/128.0 >= $candThreshold),
       |dropped AS (SELECT DISTINCT idb FROM vpairs WHERE jac >= $jacThreshold)
       |SELECT d.doc_id, d.lang FROM $docsrc d ANTI JOIN dropped dr ON d.doc_id = dr.idb""".stripMargin

  /** Kept batch (doc_id, lang) after incremental near-dedup of the odd-id
    * half of `docsrc` (the "new batch") against the even-id half (the
    * "existing corpus") — mirrors [[graft.operators.Dedup.nearDupAgainst]]:
    * cross-side MinHash candidates only, exact word n-gram Jaccard verify.
    */
  def dedupIncremental(candThreshold: Double = 0.4, jacThreshold: Double = 0.7,
      docsrc: String = "documents"): String =
    s"""WITH ${minhashCore(docsrc)},
       |${gramsCore(docsrc)},
       |xp AS (SELECT e.ida, e.idb FROM est e
       |  WHERE CAST(e.eq AS DOUBLE)/128.0 >= $candThreshold
       |    AND ((e.ida % 2 = 0) <> (e.idb % 2 = 0))),
       |vp AS (SELECT CASE WHEN x.ida % 2 = 1 THEN x.ida ELSE x.idb END AS nid,
       |    CAST(len(list_intersect(ga.grams, gb.grams)) AS DOUBLE)
       |      / greatest(len(ga.grams) + len(gb.grams) - len(list_intersect(ga.grams, gb.grams)), 1) AS jac
       |  FROM xp x JOIN gset ga ON x.ida = ga.doc_id JOIN gset gb ON x.idb = gb.doc_id),
       |dropped AS (SELECT DISTINCT nid FROM vp WHERE jac >= $jacThreshold)
       |SELECT d.doc_id, d.lang FROM $docsrc d ANTI JOIN dropped dr ON d.doc_id = dr.nid
       |WHERE d.doc_id % 2 = 1""".stripMargin

  /** Kept (vec_id, label) after embedding near-dedup: random-hyperplane
    * bucket collision in any table + exact cosine ≥ `threshold`.
    */
  def dedupEmbedding(vecsrc: String = "emb2", threshold: Double = 0.98,
      tables: Int = 4, planes: Int = 16, dim: Int = 64): String =
    s"""WITH emb2 AS (SELECT vec_id, label, embedding FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + 10000 AS vec_id, label,
       |    list_transform(embedding, x -> CAST(x * 0.5 AS REAL)) AS embedding
       |  FROM embeddings WHERE vec_id < 25),
       |${vecsketchCore(vecsrc, tables, planes, dim)},
       |cand AS (SELECT DISTINCT a.vec_id AS ida, b.vec_id AS idb
       |  FROM sk a JOIN sk b ON a.t = b.t AND a.sketch = b.sketch AND a.vec_id < b.vec_id),
       |vp AS (SELECT c.ida, c.idb, ${cos("ea.embedding", "eb.embedding")} AS cs
       |  FROM cand c JOIN $vecsrc ea ON c.ida = ea.vec_id JOIN $vecsrc eb ON c.idb = eb.vec_id),
       |dropped AS (SELECT DISTINCT idb FROM vp WHERE cs >= $threshold)
       |SELECT e.vec_id, e.label FROM $vecsrc e ANTI JOIN dropped dr ON e.vec_id = dr.idb""".stripMargin

  /** The dedup_semantic oracle (nlist = 1 exact mode): all-pairs cosine over
    * the planted frame, greedy keep-smallest-id — a row is dropped iff some
    * smaller-id row scores >= threshold against it. Independent of the
    * Spark side's normalize-then-dot shape (cos computed directly), so the
    * two implementations agree on the keep set, not on shared arithmetic.
    */
  def dedupSemantic(threshold: Double = 0.98): String =
    s"""WITH emb2 AS (SELECT vec_id, label, embedding FROM embeddings WHERE vec_id < 1500
       |  UNION ALL
       |  SELECT vec_id + 10000 AS vec_id, label,
       |    list_transform(embedding, x -> CAST(x * 0.5 AS REAL)) AS embedding
       |  FROM embeddings WHERE vec_id < 25),
       |vp AS (SELECT a.vec_id AS ida, b.vec_id AS idb, ${cos("a.embedding", "b.embedding")} AS cs
       |  FROM emb2 a JOIN emb2 b ON a.vec_id < b.vec_id),
       |dropped AS (SELECT DISTINCT idb FROM vp WHERE cs >= $threshold)
       |SELECT e.vec_id, e.label FROM emb2 e ANTI JOIN dropped dr ON e.vec_id = dr.idb""".stripMargin

  /** (query_id, neighbor_id, cosine): LSH-bucketed top-k — candidates share a
    * (table, sketch) bucket, ranked by exact cosine (desc, id asc).
    */
  def simLsh(vecsrc: String = "embeddings", k: Int = 5, tables: Int = 8,
      planes: Int = 12, dim: Int = 64, queryPred: String = "vec_id < 8"): String =
    s"""WITH ${vecsketchCore(vecsrc, tables, planes, dim)},
       |qsk AS (SELECT * FROM sk WHERE $queryPred),
       |cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
       |  FROM qsk q JOIN sk c ON q.t = c.t AND q.sketch = c.sketch),
       |scored AS (SELECT c.query_id, c.neighbor_id, ${cos("eq.embedding", "ec.embedding")} AS cs
       |  FROM cand c JOIN $vecsrc eq ON c.query_id = eq.vec_id JOIN $vecsrc ec ON c.neighbor_id = ec.vec_id)
       |SELECT query_id, neighbor_id, round(cs, 6) AS cosine FROM scored
       |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id) <= $k""".stripMargin

  /** (query_id, neighbor_id, cosine): the composed LSH × int8 × float-rescore
    * retriever — [[simLsh]]'s exact bucket-collision candidates, scored by
    * the bit-exact int8 quantization mirror (normalize → symmetric int8 →
    * integer dot, same arithmetic shapes as the sim_int8 oracle), top
    * `rescore·k` survivors re-ranked by the true float cosine.
    */
  /** The sim_project oracle: JL Rademacher projection (same ±1 weight family
    * as the vec-simhash mirror, table = the seed) then projected-space
    * cosine top-k.
    */
  def simProject(vecsrc: String = "embeddings", k: Int = 5, outDim: Int = 16,
      dim: Int = 64, seed: Long = 42L): String = {
    val inv = s"(1.0 / sqrt(CAST($outDim AS DOUBLE)))"
    s"""WITH wts AS (SELECT p, list(CASE WHEN (${mix64(s"CAST(p AS HUGEINT) * 4294967296 + " + ub2(s"xor(CAST($seed AS BIGINT), CAST(d AS BIGINT))"))}) % 2 = 0 THEN 1.0 ELSE -1.0 END ORDER BY d) AS wl
       |  FROM (SELECT unnest(range(0, $outDim)) AS p) pp,
       |       (SELECT unnest(range(0, $dim)) AS d) dd
       |  GROUP BY p),
       |prj AS (SELECT e.vec_id, w.p,
       |  list_sum(list_transform(list_zip(e.embedding, w.wl), s -> CAST(s[1] AS DOUBLE) * s[2])) * $inv AS comp
       |  FROM $vecsrc e, wts w),
       |pv AS (SELECT vec_id, list(comp ORDER BY p) AS pvec FROM prj GROUP BY vec_id),
       |q AS (SELECT vec_id AS query_id, pvec AS qv FROM pv WHERE vec_id < 8),
       |sc AS (SELECT q.query_id, e.vec_id AS neighbor_id,
       |  list_sum(list_transform(list_zip(q.qv, e.pvec), s -> s[1] * s[2]))
       |  / (sqrt(list_sum(list_transform(q.qv, x -> x * x)))
       |   * sqrt(list_sum(list_transform(e.pvec, x -> x * x)))) AS cos
       |  FROM pv e, q)
       |SELECT query_id, neighbor_id, round(cos, 6) AS cosine FROM sc
       |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) <= $k""".stripMargin
  }

  def simInt8Lsh(vecsrc: String = "embeddings", k: Int = 5, tables: Int = 8,
      planes: Int = 12, dim: Int = 64, rescore: Int = 4,
      queryPred: String = "vec_id < 8"): String =
    s"""WITH ${vecsketchCore(vecsrc, tables, planes, dim)},
       |qsk AS (SELECT * FROM sk WHERE $queryPred),
       |cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
       |  FROM qsk q JOIN sk c ON q.t = c.t AND q.sketch = c.sketch),
       |nz AS (SELECT vec_id,
       |    CASE WHEN n > 0 THEN list_transform(e, x -> CAST(x AS DOUBLE) / n)
       |    ELSE list_transform(e, x -> CAST(x AS DOUBLE)) END AS en
       |  FROM (SELECT vec_id, embedding AS e,
       |      sqrt(list_sum(list_transform(embedding,
       |        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS n
       |    FROM $vecsrc)),
       |qz AS (SELECT vec_id, CASE WHEN m > 0 THEN m / 127.0 ELSE 1.0 END AS s,
       |    list_transform(en, x -> CAST(round(x
       |      / (CASE WHEN m > 0 THEN m / 127.0 ELSE 1.0 END)) AS BIGINT)) AS q
       |  FROM (SELECT vec_id, en, list_max(list_transform(en, x -> abs(x))) AS m FROM nz)),
       |isc AS (SELECT cand.query_id, cand.neighbor_id,
       |    list_dot_product(cq.q, cc.q) * cq.s * cc.s AS score
       |  FROM cand JOIN qz cc ON cand.neighbor_id = cc.vec_id
       |            JOIN qz cq ON cand.query_id = cq.vec_id),
       |surv AS (SELECT query_id, neighbor_id FROM isc
       |  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) <= ${rescore * k}),
       |re AS (SELECT surv.query_id, surv.neighbor_id, ${cos("eq.embedding", "ec.embedding")} AS cs
       |  FROM surv JOIN $vecsrc eq ON surv.query_id = eq.vec_id
       |            JOIN $vecsrc ec ON surv.neighbor_id = ec.vec_id)
       |SELECT query_id, neighbor_id, round(cs, 6) AS cosine FROM re
       |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id) <= $k""".stripMargin

  /** The sim_pq / sim_ivf_pq mirror: PQ-ADC retrieval with the deterministic
    * SAMPLE-INIT codebook (the `ksub` lowest-id vectors, L2-normalized,
    * sliced into `m` subspaces — [[graft.operators.Similarity.pqSampleCodebooks]]).
    * Encode = per-subspace argmin squared L2 (ties → lowest code; the inner
    * fold is DuckDB's sequential list_sum, the same shape TextKernel's
    * left-to-right loop produces bit-for-bit). Score = per-subspace partial
    * dots summed IN SUBSPACE ORDER — the exact two-level grouping of
    * TextKernel.vecPqLut + pqAdc, because double addition is not
    * associative. `rescore = 0` returns the ADC score itself (`score`);
    * `rescore > 0` re-ranks the top rescore·k survivors by true float cosine
    * (`cosine`) — nprobe = nlist IVF-PQ reduces exactly to that path.
    */
  def simPq(k: Int = 5, m: Int = 8, ksub: Int = 16, dim: Int = 64,
      rescore: Int = 0, vecsrc: String = "embeddings",
      queryPred: String = "vec_id < 8"): String = {
    require(dim % m == 0, s"dim $dim must divide into $m subspaces")
    val dsub = dim / m
    val finalStage =
      if (rescore == 0)
        s"""SELECT query_id, neighbor_id, round(score, 6) AS score FROM sc
           |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) <= $k""".stripMargin
      else
        s"""surv AS (SELECT query_id, neighbor_id FROM sc
           |  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) <= ${rescore * k}),
           |re AS (SELECT surv.query_id, surv.neighbor_id, ${cos("eq.embedding", "ec.embedding")} AS cs
           |  FROM surv JOIN $vecsrc eq ON surv.query_id = eq.vec_id
           |            JOIN $vecsrc ec ON surv.neighbor_id = ec.vec_id)
           |SELECT query_id, neighbor_id, round(cs, 6) AS cosine FROM re
           |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id) <= $k""".stripMargin
    val glue = if (rescore == 0) "" else ","
    s"""WITH nz AS (SELECT vec_id,
       |    CASE WHEN n > 0 THEN list_transform(e, x -> CAST(x AS DOUBLE) / n)
       |    ELSE list_transform(e, x -> CAST(x AS DOUBLE)) END AS en
       |  FROM (SELECT vec_id, embedding AS e,
       |      sqrt(list_sum(list_transform(embedding,
       |        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS n
       |    FROM $vecsrc)),
       |samp AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, en
       |  FROM (SELECT vec_id, en FROM nz ORDER BY vec_id LIMIT $ksub)),
       |cb AS (SELECT ss.s, samp.code, samp.en[ss.s*$dsub+1:(ss.s+1)*$dsub] AS cvec
       |  FROM samp, (SELECT unnest(range(0, $m)) AS s) ss),
       |dists AS (SELECT r.vec_id, cb.s, cb.code,
       |    list_sum(list_transform(list_zip(r.en[cb.s*$dsub+1:(cb.s+1)*$dsub], cb.cvec),
       |      z -> (z[1]-z[2])*(z[1]-z[2]))) AS d
       |  FROM nz r, cb),
       |codes AS (SELECT vec_id, s, code FROM dists
       |  QUALIFY row_number() OVER (PARTITION BY vec_id, s ORDER BY d, code) = 1),
       |q AS (SELECT vec_id AS query_id, en AS qn FROM nz WHERE $queryPred),
       |terms AS (SELECT q.query_id, c.vec_id AS neighbor_id, c.s,
       |    list_sum(list_transform(list_zip(q.qn[c.s*$dsub+1:(c.s+1)*$dsub], cb.cvec),
       |      z -> z[1]*z[2])) AS term
       |  FROM q, codes c JOIN cb ON cb.s = c.s AND cb.code = c.code),
       |sc AS (SELECT query_id, neighbor_id, list_sum(list(term ORDER BY s)) AS score
       |  FROM terms GROUP BY query_id, neighbor_id)$glue
       |$finalStage""".stripMargin
  }

  /** The sim_ivf_pq_residual mirror: [[graft.operators.Similarity.ivfPqTopK]]
    * with `residual = true` in its nlist = 1 EXPLICIT-quantizer degenerate
    * case — the one residual configuration with a closed SQL form. The
    * coarse centroid c₀ is the lowest-id vector L2-normalized by division
    * and pushed through the float32 round-trip fitAssign applies
    * (CAST(x AS REAL) back to DOUBLE); every corpus vector encodes its
    * RESIDUAL (x̂ − c₀) against the sample-init residual codebook (the ksub
    * lowest-id residuals, sliced); the first-stage score is the exact
    * decomposition dot(q̂, c₀) + ADC(residual code) — the rode-along term is
    * the same left-to-right product fold the Spark side computes — and the
    * top rescore·k survivors re-rank by true float cosine. Fold order,
    * per-subspace grouping and tie rules are [[simPq]]'s, bit for bit.
    */
  def simPqResidual(k: Int = 5, m: Int = 8, ksub: Int = 16, dim: Int = 64,
      rescore: Int = 4, vecsrc: String = "embeddings",
      queryPred: String = "vec_id < 8"): String = {
    require(dim % m == 0, s"dim $dim must divide into $m subspaces")
    val dsub = dim / m
    s"""WITH nz AS (SELECT vec_id,
       |    CASE WHEN n > 0 THEN list_transform(e, x -> CAST(x AS DOUBLE) / n)
       |    ELSE list_transform(e, x -> CAST(x AS DOUBLE)) END AS en
       |  FROM (SELECT vec_id, embedding AS e,
       |      sqrt(list_sum(list_transform(embedding,
       |        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS n
       |    FROM $vecsrc)),
       |c0 AS (SELECT list_transform(en, x -> CAST(CAST(x AS REAL) AS DOUBLE)) AS c
       |  FROM nz WHERE vec_id = (SELECT min(vec_id) FROM nz)),
       |res AS (SELECT vec_id, list_transform(list_zip(en, (SELECT c FROM c0)),
       |    z -> z[1] - z[2]) AS rv FROM nz),
       |samp AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, rv
       |  FROM (SELECT vec_id, rv FROM res ORDER BY vec_id LIMIT $ksub)),
       |cb AS (SELECT ss.s, samp.code, samp.rv[ss.s*$dsub+1:(ss.s+1)*$dsub] AS cvec
       |  FROM samp, (SELECT unnest(range(0, $m)) AS s) ss),
       |dists AS (SELECT r.vec_id, cb.s, cb.code,
       |    list_sum(list_transform(list_zip(r.rv[cb.s*$dsub+1:(cb.s+1)*$dsub], cb.cvec),
       |      z -> (z[1]-z[2])*(z[1]-z[2]))) AS d
       |  FROM res r, cb),
       |codes AS (SELECT vec_id, s, code FROM dists
       |  QUALIFY row_number() OVER (PARTITION BY vec_id, s ORDER BY d, code) = 1),
       |q AS (SELECT vec_id AS query_id, en AS qn FROM nz WHERE $queryPred),
       |qc AS (SELECT query_id, list_sum(list_transform(list_zip(qn, (SELECT c FROM c0)),
       |    z -> z[1] * z[2])) AS dotqc FROM q),
       |terms AS (SELECT q.query_id, c.vec_id AS neighbor_id, c.s,
       |    list_sum(list_transform(list_zip(q.qn[c.s*$dsub+1:(c.s+1)*$dsub], cb.cvec),
       |      z -> z[1]*z[2])) AS term
       |  FROM q, codes c JOIN cb ON cb.s = c.s AND cb.code = c.code),
       |sc AS (SELECT t.query_id, t.neighbor_id,
       |    qc.dotqc + list_sum(list(t.term ORDER BY t.s)) AS score
       |  FROM terms t JOIN qc ON qc.query_id = t.query_id
       |  GROUP BY t.query_id, t.neighbor_id, qc.dotqc),
       |surv AS (SELECT query_id, neighbor_id FROM sc
       |  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) <= ${rescore * k}),
       |re AS (SELECT surv.query_id, surv.neighbor_id, ${cos("eq.embedding", "ec.embedding")} AS cs
       |  FROM surv JOIN $vecsrc eq ON surv.query_id = eq.vec_id
       |            JOIN $vecsrc ec ON surv.neighbor_id = ec.vec_id)
       |SELECT query_id, neighbor_id, round(cs, 6) AS cosine FROM re
       |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id) <= $k""".stripMargin
  }

  /** The sim_bitq mirror: sign-bit sketches (bit j set iff embedding[j] > 0 —
    * TextKernel.vecSignBits), Hamming candidates by (bit_count(xor) asc, id),
    * exact float-cosine rescore of the top rescore·k. Training-free, so the
    * whole path mirrors with no quantizer seam.
    */
  def simBitq(k: Int = 5, rescore: Int = 4, vecsrc: String = "embeddings",
      queryPred: String = "vec_id < 8"): String =
    s"""WITH bits AS (SELECT vec_id,
       |    coalesce(${sb2("sum(CASE WHEN e[b+1] > 0 THEN pb ELSE 0 END)")}, 0) AS bits
       |  FROM (SELECT vec_id, embedding AS e FROM $vecsrc), ${pow2Values(64)}
       |  GROUP BY vec_id),
       |qb AS (SELECT vec_id AS query_id, bits AS qbits FROM bits WHERE $queryPred),
       |ham AS (SELECT qb.query_id, c.vec_id AS neighbor_id,
       |    bit_count(xor(qb.qbits, c.bits)) AS ham
       |  FROM bits c, qb),
       |surv AS (SELECT query_id, neighbor_id FROM ham
       |  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY ham, neighbor_id) <= ${rescore * k}),
       |re AS (SELECT surv.query_id, surv.neighbor_id, ${cos("eq.embedding", "ec.embedding")} AS cs
       |  FROM surv JOIN $vecsrc eq ON surv.query_id = eq.vec_id
       |            JOIN $vecsrc ec ON surv.neighbor_id = ec.vec_id)
       |SELECT query_id, neighbor_id, round(cs, 6) AS cosine FROM re
       |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id) <= $k""".stripMargin

  /** (doc_id, contam_hits, contaminated): benchmark decontamination — mirrors
    * [[graft.operators.TextAnalysis.flagContaminated]] over a corpus/bench
    * split of `docsrc` by `benchPred`. One gramsCore instantiation feeds both
    * sides; hits = distinct corpus grams present in the union of bench grams.
    */
  /** The text_nbclassify oracle: the full NB pipeline re-derived in SQL —
    * hashed-token buckets (same signed/unsigned power-of-two agreement as
    * the CMS/Bloom mirrors), Laplace class-count weights, per-doc dot score.
    */
  def textNbClassify(labelExpr: String = "lang = 'en'", buckets: Int = 256,
      seed: Long = 42L, docsrc: String = "documents"): String = {
    require(seed >= 0, "oracle mirror expects a non-negative seed")
    val d = s"$buckets.0"
    s"""WITH toks AS (SELECT doc_id, $labelExpr AS y,
       |    unnest(regexp_extract_all(lower(text), '[\\p{L}\\p{Nd}]+')) AS tok FROM $docsrc),
       |bk AS (SELECT doc_id, y,
       |  (${mix64(xor64(hashFold(codesOf("tok")), seed.toString))}) % $buckets AS b FROM toks),
       |counts AS (SELECT y, b, count(*) AS c FROM bk GROUP BY y, b),
       |cb AS (SELECT b, sum(CASE WHEN y THEN c ELSE 0 END) AS c1,
       |  sum(CASE WHEN NOT y THEN c ELSE 0 END) AS c0 FROM counts GROUP BY b),
       |tt AS (SELECT sum(CASE WHEN y THEN c ELSE 0 END) AS t1,
       |  sum(CASE WHEN NOT y THEN c ELSE 0 END) AS t0 FROM counts),
       |w AS (SELECT b, ln((CAST(c1 AS DOUBLE) + 1.0) / (CAST(t1 AS DOUBLE) + $d))
       |  - ln((CAST(c0 AS DOUBLE) + 1.0) / (CAST(t0 AS DOUBLE) + $d)) AS w FROM cb, tt),
       |pr AS (SELECT ln(CAST(sum(CASE WHEN $labelExpr THEN 1 ELSE 0 END) AS DOUBLE)
       |  / CAST(sum(CASE WHEN $labelExpr THEN 0 ELSE 1 END) AS DOUBLE)) AS prior FROM $docsrc),
       |db AS (SELECT doc_id, b, count(*) AS n FROM bk GROUP BY doc_id, b),
       |sc AS (SELECT doc_id, sum(CAST(n AS DOUBLE) * w) AS s FROM db JOIN w USING (b) GROUP BY doc_id)
       |SELECT d.doc_id, round(pr.prior + coalesce(sc.s, 0.0), 4) AS nb_score4,
       |  round(pr.prior + coalesce(sc.s, 0.0), 4) >= 0.0 AS nb_pred
       |FROM $docsrc d CROSS JOIN pr LEFT JOIN sc ON d.doc_id = sc.doc_id""".stripMargin
  }

  /** The data_dsir mirror: DSIR importance resampling with the raw corpus =
    * ALL of `docsrc` and the target = the `targetPred` subset. Features are
    * unigrams + adjacent bigrams bucketed by the NB mirror's exact hash
    * chain; weights are the add-one-smoothed log ratio; the Gumbel key uses
    * dataWeighted's seeded-hash uniform; the top-k cut ranks on the
    * 6-decimal-PRE-ROUNDED key (the farthestPointSample pin — an unrounded
    * near-tie would fork engines).
    */
  def dsir(targetPred: String, k: Int = 100, buckets: Int = 4096,
      seed: Long = 42L, docsrc: String = "documents"): String = {
    require(seed >= 0, "oracle mirror expects a non-negative seed")
    val d = s"$buckets.0"
    val uh = mix64(ub2(s"xor(doc_id, $seed)"))
    s"""WITH tk AS (SELECT doc_id, $targetPred AS y,
       |    regexp_extract_all(lower(text), '[\\p{L}\\p{Nd}]+') AS t FROM $docsrc),
       |gr AS (SELECT doc_id, y, unnest(list_concat(t,
       |    CASE WHEN len(t) >= 2
       |      THEN list_transform(list_zip(t[1:len(t)-1], t[2:len(t)]),
       |        z -> z[1] || ' ' || z[2])
       |      ELSE [] END)) AS g FROM tk),
       |bk AS (SELECT doc_id, y,
       |  (${mix64(xor64(hashFold(codesOf("g")), seed.toString))}) % $buckets AS b FROM gr),
       |counts AS (SELECT y, b, count(*) AS c FROM bk GROUP BY y, b),
       |cb AS (SELECT b, sum(CASE WHEN y THEN c ELSE 0 END) AS ct, sum(c) AS cr
       |  FROM counts GROUP BY b),
       |tt AS (SELECT sum(CASE WHEN y THEN c ELSE 0 END) AS tt, sum(c) AS tr FROM counts),
       |w AS (SELECT b, ln((CAST(ct AS DOUBLE) + 1.0) / (CAST(tt AS DOUBLE) + $d))
       |  - ln((CAST(cr AS DOUBLE) + 1.0) / (CAST(tr AS DOUBLE) + $d)) AS w FROM cb, tt),
       |sc AS (SELECT doc_id, sum(w) AS s FROM bk JOIN w USING (b) GROUP BY doc_id),
       |gk AS (SELECT doc_id, s, round(s - ln(-ln(
       |    (CAST(($uh) // 2048 AS DOUBLE) + 0.5) / CAST('9007199254740992' AS DOUBLE))), 6) AS key
       |  FROM sc)
       |SELECT doc_id, key AS dsir_key, round(s, 4) AS dsir_score FROM gk
       |ORDER BY key DESC, doc_id LIMIT $k""".stripMargin
  }

  def decontaminate(benchPred: String, n: Int = 3, minHits: Int = 1,
      docsrc: String = "documents"): String =
    s"""WITH ${gramsCore(docsrc, n)},
       |bg AS (SELECT DISTINCT unnest(grams) AS g FROM gset WHERE $benchPred),
       |cg AS (SELECT doc_id, unnest(grams) AS g FROM gset WHERE NOT ($benchPred)),
       |hits AS (SELECT cg.doc_id, count(*) AS contam_hits FROM cg JOIN bg USING (g)
       |  GROUP BY cg.doc_id)
       |SELECT d.doc_id, coalesce(h.contam_hits, 0) AS contam_hits,
       |  coalesce(h.contam_hits, 0) >= $minHits AS contaminated
       |FROM $docsrc d LEFT JOIN hits h USING (doc_id) WHERE NOT ($benchPred)""".stripMargin

  /** (doc_id, source): deterministic domain mixing — mirrors
    * [[graft.operators.Ops.mixByHash]] exactly: per-label counts, largest
    * feasible scale T = min(c/w), threshold floor(w*T/c*10000 + 1e-6) in the
    * same double-arithmetic order (the bias pins the binding label's
    * boundary-exact cut), splitmix64 bucket membership. Target weights
    * are emitted as CAST('…' AS DOUBLE) literals (plain decimal literals
    * type as DECIMAL in DuckDB and would change the arithmetic).
    */
  def dataMix(targets: Seq[(String, Double)], seed: Long = 42L,
      docsrc: String = "documents", labelCol: String = "source"): String = {
    val vals = targets
      .map { case (l, w) => s"('$l', CAST('$w' AS DOUBLE))" }.mkString(", ")
    s"""WITH tgt(lbl, w) AS (SELECT * FROM (VALUES $vals) v(lbl, w)),
       |cnt AS (SELECT $labelCol AS lbl, count(*) AS c FROM $docsrc GROUP BY $labelCol),
       |tj AS (SELECT t.lbl, t.w, c.c FROM tgt t JOIN cnt c USING (lbl)),
       |tmin AS (SELECT min(c / w) AS tscale FROM tj),
       |thr AS (SELECT lbl, CAST(floor(w * (SELECT tscale FROM tmin) / c * 10000
       |    + CAST('1e-06' AS DOUBLE)) AS BIGINT) AS thr
       |  FROM tj),
       |z AS (SELECT doc_id, $labelCol AS lbl, ${ub2(s"xor(doc_id, $seed)")} AS z0 FROM $docsrc),
       |m AS (SELECT doc_id, lbl, ${sb2(mix64("z0"))} AS h FROM z),
       |b AS (SELECT doc_id, lbl, ((h % 10000) + 10000) % 10000 AS bucket FROM m)
       |SELECT b.doc_id, b.lbl AS $labelCol FROM b JOIN thr USING (lbl)
       |WHERE b.bucket < thr.thr""".stripMargin
  }

  /** Mirror of [[graft.operators.Ops.temperatureMix]]: same α-share →
    * binding-scale → floor-threshold arithmetic with the +1e-6 floor bias
    * (the binding label's cut is boundary-exact: a 1-ulp `power` vs
    * `math.pow` divergence would flip an unbiased floor on one engine
    * only), same splitmix64 bucket membership as
    * [[dataMix]]. The α literal is CAST from a string — a bare decimal
    * would type DECIMAL and change the arithmetic.
    */
  def dataMixTemp(alpha: Double, seed: Long = 42L,
      docsrc: String = "documents", labelCol: String = "source"): String =
    s"""WITH cnt AS (SELECT $labelCol AS lbl, count(*) AS c FROM $docsrc
       |  WHERE $labelCol IS NOT NULL GROUP BY $labelCol),
       |w AS (SELECT lbl, c, power(CAST(c AS DOUBLE), CAST('$alpha' AS DOUBLE)) AS w FROM cnt),
       |tmin AS (SELECT min(c / w) AS tscale FROM w),
       |thr AS (SELECT lbl, CAST(floor(w * (SELECT tscale FROM tmin) / c * 10000
       |    + CAST('1e-06' AS DOUBLE)) AS BIGINT) AS thr
       |  FROM w),
       |z AS (SELECT doc_id, $labelCol AS lbl, ${ub2(s"xor(doc_id, $seed)")} AS z0 FROM $docsrc),
       |m AS (SELECT doc_id, lbl, ${sb2(mix64("z0"))} AS h FROM z),
       |b AS (SELECT doc_id, lbl, ((h % 10000) + 10000) % 10000 AS bucket FROM m)
       |SELECT b.doc_id, b.lbl AS $labelCol FROM b JOIN thr USING (lbl)
       |WHERE b.bucket < thr.thr""".stripMargin

  /** (doc_id, ppl4): the char-bigram LM perplexity of
    * [[graft.operators.TextAnalysis.withPerplexity]] with the model fit on
    * the same table — same ASCII normalization (every codepoint outside
    * [a-zA-Z0-9 ] → '_', then lowercase; regex and the kernel both walk
    * CODEPOINTS), same add-one smoothing ln((c+1)/(ctx+38)) with the
    * uniform ln(1/38) for unseen contexts, same mean-then-exp(-x). Floats
    * rounded to 4 — the two engines sum the per-doc logs in document order
    * vs list order, identical values, associativity drift ≪ 1e-9.
    */
  def textPerplexity(docsrc: String = "documents"): String =
    s"""WITH norm AS (
       |  SELECT doc_id, lower(regexp_replace(text, '[^a-zA-Z0-9 ]', '_', 'g')) AS s
       |  FROM $docsrc),
       |pairs AS (
       |  SELECT doc_id, list_transform(range(1, len(s)), i -> substr(s, i, 2)) AS bs
       |  FROM norm),
       |grams AS (SELECT doc_id, unnest(bs) AS b FROM pairs),
       |counts AS (SELECT b, count(*) AS c FROM grams GROUP BY b),
       |ctx AS (SELECT substr(b, 1, 1) AS c1, sum(c) AS n FROM counts GROUP BY c1),
       |model AS (
       |  SELECT counts.b, ln((counts.c + 1.0) / (ctx.n + 38.0)) AS logp
       |  FROM counts JOIN ctx ON substr(counts.b, 1, 1) = ctx.c1),
       |scored AS (
       |  SELECT grams.doc_id,
       |    avg(coalesce(model.logp,
       |      ln(1.0 / (coalesce(ctx.n, 0) + 38.0)))) AS score
       |  FROM grams
       |  LEFT JOIN model ON grams.b = model.b
       |  LEFT JOIN ctx ON substr(grams.b, 1, 1) = ctx.c1
       |  GROUP BY grams.doc_id)
       |SELECT norm.doc_id, round(exp(-scored.score), 4) AS ppl4
       |FROM norm LEFT JOIN scored ON norm.doc_id = scored.doc_id""".stripMargin

  /** (doc_id, n_words, …fracs, repetitive): the Gopher-style repetition
    * stats of [[graft.operators.TextAnalysis.repetitionStats]] — same word
    * split, same per-doc list math, same double divisions; thresholds as
    * exact DOUBLE literals (plain decimals would type as DECIMAL).
    *
    * Spark computes the top frequency as the longest run of the SORTED word
    * array (linear fold); this mirror keeps the distinct-multiplicity form
    * (DuckDB lambdas cannot fold a struct accumulator). Both are the same
    * exact INTEGER — max multiplicity of any element — so the divisions
    * that follow see bit-identical operands and the compare stays exact.
    */
  def textRepetition(docsrc: String = "documents",
      maxTop2: Double = 0.20, maxDup2: Double = 0.60): String = {
    val zero = "CAST('0.0' AS DOUBLE)"
    def dup(l: String) =
      s"CASE WHEN len($l) > 0 THEN CAST(len($l) - len(list_distinct($l)) AS DOUBLE) / CAST(len($l) AS DOUBLE) ELSE $zero END"
    def top(l: String) =
      s"CASE WHEN len($l) > 0 THEN CAST(list_aggregate(list_transform(list_distinct($l), w -> len(list_filter($l, x -> x = w))), 'max') AS DOUBLE) / CAST(len($l) AS DOUBLE) ELSE $zero END"
    s"""WITH ws0 AS (SELECT doc_id,
       |  list_filter(string_split(lower(trim(text)), ' '), s -> s <> '') AS ws FROM $docsrc),
       |bg AS (SELECT doc_id, ws,
       |  list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1]) AS bs FROM ws0),
       |st AS (SELECT doc_id, len(ws) AS n_words,
       |  ${dup("ws")} AS dup_word_frac, ${top("ws")} AS top_word_frac,
       |  ${dup("bs")} AS dup_2gram_frac, ${top("bs")} AS top_2gram_frac
       |  FROM bg)
       |SELECT doc_id, n_words, dup_word_frac, top_word_frac, dup_2gram_frac, top_2gram_frac,
       |  (top_2gram_frac > CAST('$maxTop2' AS DOUBLE)
       |    OR dup_2gram_frac > CAST('$maxDup2' AS DOUBLE)) AS repetitive
       |FROM st""".stripMargin
  }

  /** (doc_id, text_clean, segments_kept, segments_total): boilerplate-line
    * removal over a planted multi-line fixture (per-source and universal
    * lines recur ≥ minDocs and vanish; per-doc lines survive) — mirrors
    * [[graft.operators.TextAnalysis.stripBoilerplate]] including order-
    * preserving reassembly and the distinct-docs threshold.
    */
  def textBoilerplate(docsrc: String = "documents", minDocs: Int = 3): String =
    s"""WITH f AS (SELECT doc_id,
       |  'doc ' || doc_id || ' body: ' || substr(text, 1, 48) || chr(10) ||
       |  'subscribe to ' || source || ' newsletter' || chr(10) ||
       |  'all rights reserved' || chr(10) ||
       |  substr(text, 49, 64) AS text FROM $docsrc),
       |segs AS (SELECT doc_id, unnest(string_split(text, chr(10))) AS seg,
       |  generate_subscripts(string_split(text, chr(10)), 1) AS pos FROM f),
       |freq AS (SELECT seg, count(DISTINCT doc_id) AS docs FROM segs GROUP BY seg),
       |kept AS (SELECT s.doc_id, s.pos, s.seg
       |  FROM segs s JOIN freq USING (seg) WHERE freq.docs < $minDocs),
       |o AS (SELECT doc_id, string_agg(seg, chr(10) ORDER BY pos) AS text_clean,
       |  count(*) AS segments_kept FROM kept GROUP BY doc_id)
       |SELECT f.doc_id, coalesce(o.text_clean, '') AS text_clean,
       |  coalesce(o.segments_kept, 0) AS segments_kept,
       |  len(string_split(f.text, chr(10))) AS segments_total
       |FROM f LEFT JOIN o USING (doc_id)""".stripMargin

  /** Mirrors [[graft.operators.TextAnalysis.dedupSegments]] over the same
    * planted crawl shape as [[textBoilerplate]]: a segment survives only at
    * its corpus-wide first (doc_id, pos). Grouping on the segment STRING is
    * the hash-free equivalent of graft's 64-bit segment hash (the hash is a
    * shuffle-width optimization, not a semantic).
    */
  def textSegdedup(docsrc: String = "documents"): String =
    s"""WITH f AS (SELECT doc_id,
       |  'doc ' || doc_id || ' body: ' || substr(text, 1, 48) || chr(10) ||
       |  'subscribe to ' || source || ' newsletter' || chr(10) ||
       |  'all rights reserved' || chr(10) ||
       |  substr(text, 49, 64) AS text FROM $docsrc),
       |segs AS (SELECT doc_id, unnest(string_split(text, chr(10))) AS seg,
       |  generate_subscripts(string_split(text, chr(10)), 1) AS pos FROM f),
       |w AS (SELECT doc_id, pos, seg,
       |  row_number() OVER (PARTITION BY seg ORDER BY doc_id, pos) AS rn FROM segs),
       |o AS (SELECT doc_id, string_agg(seg, chr(10) ORDER BY pos) AS text_dedup,
       |  count(*) AS segments_kept FROM w WHERE rn = 1 GROUP BY doc_id)
       |SELECT f.doc_id, coalesce(o.text_dedup, '') AS text_dedup,
       |  coalesce(o.segments_kept, 0) AS segments_kept,
       |  len(string_split(f.text, chr(10))) AS segments_total
       |FROM f LEFT JOIN o USING (doc_id)""".stripMargin

  /** (doc_id, `labelCol`): deterministic stratified sample — mirrors
    * [[graft.operators.Ops.sampleStratified]]: splitmix64 bucket vs the
    * per-label floor(f·10000) threshold.
    */
  def dataSample(fractions: Seq[(String, Double)], defaultFraction: Double = 0.0,
      seed: Long = 42L, docsrc: String = "documents", labelCol: String = "lang"): String = {
    val cases = fractions.map { case (l, f) =>
      s"WHEN '$l' THEN ${math.floor(f * 10000).toLong}"
    }.mkString(" ")
    val dflt = math.floor(defaultFraction * 10000).toLong
    s"""WITH z AS (SELECT doc_id, $labelCol, ${ub2(s"xor(doc_id, $seed)")} AS z0 FROM $docsrc),
       |m AS (SELECT doc_id, $labelCol, ${sb2(mix64("z0"))} AS h FROM z)
       |SELECT doc_id, $labelCol FROM m
       |WHERE ((h % 10000) + 10000) % 10000 < (CASE $labelCol $cases ELSE $dflt END)""".stripMargin
  }

  /** One `(col_name, approx_distinct)` row: the relational HyperLogLog of
    * [[graft.operators.Sketch]] recomputed register-for-register — same
    * seed-mixed hash (splitmix64 for longs, polynomial fold for strings),
    * bucket/rho from the same bin-string trick, the register sum in exact
    * integer space, and the identical double op order for the estimator
    * (alpha·m² emitted as an exact literal; ln only in the linear-counting
    * branch, absorbed by the shared round(…, 3)).
    */
  def hllCore(src: String, valExpr: String, isString: Boolean, label: String,
      p: Int = 12, seed: Long = 42L): String = {
    val m = 1 << p
    val rhoMax = 64 - p + 1
    val alphaMM = graft.operators.Sketch.alpha(m) * m.toDouble * m.toDouble
    val two53 = "CAST('9007199254740992' AS DOUBLE)"
    val hashCtes =
      if (isString)
        s"""h0 AS (SELECT list_reduce(list_prepend(CAST($K31 AS HUGEINT), ${codesOf(valExpr)}),
           |    (h, c) -> (31*h + c) % $H) AS poly FROM $src WHERE $valExpr IS NOT NULL),
           |h1 AS (SELECT ${mix64("poly")} AS hr FROM h0),
           |h2 AS (SELECT ${xor64("hr", seed.toString)} AS z0 FROM h1)""".stripMargin
      else
        s"""h2 AS (SELECT ${ub2(s"xor($valExpr, $seed)")} AS z0 FROM $src
           |  WHERE $valExpr IS NOT NULL)""".stripMargin
    val mD = s"CAST('${m.toDouble}' AS DOUBLE)"
    val raw = s"(CAST('$alphaMM' AS DOUBLE) / (CAST(s + ($m - nb) * CAST('9007199254740992' AS HUGEINT) AS DOUBLE) / $two53))"
    s"""WITH $hashCtes,
       |h3 AS (SELECT ${mix64("z0")} AS uh FROM h2),
       |hb AS (SELECT (uh // ${BigInt(1) << (64 - p)}) AS bucket, ((uh * ${1L << p}) % $H) AS w FROM h3),
       |hr AS (SELECT bucket,
       |  CASE WHEN w = 0 THEN $rhoMax
       |       ELSE strpos(lpad(bin(CAST(w AS UBIGINT)), 64, '0'), '1') END AS rho FROM hb),
       |regs AS (SELECT bucket, max(rho) AS mreg FROM hr GROUP BY bucket),
       |ag AS (SELECT count(*) AS nb,
       |  coalesce(sum(CAST((CAST(1 AS BIGINT) << (53 - mreg)) AS HUGEINT)), 0) AS s FROM regs)
       |SELECT '$label' AS col_name,
       |  round(CASE WHEN nb = 0 THEN CAST('0.0' AS DOUBLE)
       |    WHEN $raw <= CAST('${2.5 * m}' AS DOUBLE) AND ($m - nb) > 0
       |      THEN $mD * ln($mD / CAST($m - nb AS DOUBLE))
       |    ELSE $raw END, 3) AS approx_distinct
       |FROM ag""".stripMargin
  }

  /** Mirrors the count-min sketch ([[graft.operators.Sketch.cmsRegisters]] /
    * cmsLookup) counter-for-counter over the space-tokenized `documents`
    * corpus: same stringHash64 chain per token (fold → mix → xor seed →
    * mix), same per-depth remix mix64(base xor (seed+d)), width a power of
    * two so the unsigned modulus here equals Spark's signed pmod.
    */
  def statsCms(probes: Seq[String], docsrc: String = "documents",
      depth: Int = 4, width: Int = 1024, seed: Long = 42L): String = {
    require((width & (width - 1)) == 0, "width must be a power of two")
    val probeVals = probes.map(p => s"('$p')").mkString(", ")
    // stringHash64(tok, seed) = mix64(xor(mix64(poly), seed)); per-depth
    // idx = mix64(xor(base, seed + d)) % width (unsigned == signed pmod)
    s"""WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok FROM $docsrc),
       |tb0 AS (SELECT tok, list_reduce(list_prepend(CAST($K31 AS HUGEINT),
       |  ${codesOf("tok")}), (h, c) -> (31*h + c) % $H) AS poly FROM toks),
       |tb1 AS (SELECT ${mix64("poly")} AS hr FROM tb0),
       |tb2 AS (SELECT ${xor64("hr", seed.toString)} AS z0 FROM tb1),
       |tb3 AS (SELECT ${mix64("z0")} AS base FROM tb2),
       |td AS (SELECT base, d FROM tb3 CROSS JOIN (SELECT unnest(range(0, $depth)) AS d)),
       |tz AS (SELECT d, ${xor64("base", s"($seed + d)")} AS z0 FROM td),
       |regs AS (SELECT d, (${mix64("z0")}) % $width AS idx, count(*) AS c
       |  FROM tz GROUP BY d, idx),
       |pr AS (SELECT tok FROM (VALUES $probeVals) v(tok)),
       |pb0 AS (SELECT tok, list_reduce(list_prepend(CAST($K31 AS HUGEINT),
       |  ${codesOf("tok")}), (h, c) -> (31*h + c) % $H) AS poly FROM pr),
       |pb1 AS (SELECT tok, ${mix64("poly")} AS hr FROM pb0),
       |pb2 AS (SELECT tok, ${xor64("hr", seed.toString)} AS z0 FROM pb1),
       |pb3 AS (SELECT tok, ${mix64("z0")} AS base FROM pb2),
       |pd AS (SELECT tok, base, d FROM pb3 CROSS JOIN (SELECT unnest(range(0, $depth)) AS d)),
       |pz AS (SELECT tok, d, ${xor64("base", s"($seed + d)")} AS z0 FROM pd),
       |pi AS (SELECT tok, d, (${mix64("z0")}) % $width AS idx FROM pz)
       |SELECT pi.tok AS token, min(coalesce(regs.c, 0)) AS approx_count
       |FROM pi LEFT JOIN regs ON pi.d = regs.d AND pi.idx = regs.idx
       |GROUP BY pi.tok""".stripMargin
  }

  /** Mirrors [[graft.operators.Sketch.cmsRegistersWindowed]] +
    * cmsLookupWindowed over events.event_type in 1-hour event-time windows:
    * the statsCms hash chain keyed additionally by date_trunc('hour', ts);
    * absent counters read as 0 through the (window × probe × d) grid.
    */
  def statsCmsWindow(probes: Seq[String], depth: Int = 4, width: Int = 1024,
      seed: Long = 42L): String = {
    require((width & (width - 1)) == 0, "width must be a power of two")
    val probeVals = probes.map(p => s"('$p')").mkString(", ")
    s"""WITH evw AS (SELECT date_trunc('hour', ts) AS w, event_type AS tok FROM events),
       |tb0 AS (SELECT w, tok, list_reduce(list_prepend(CAST($K31 AS HUGEINT),
       |  ${codesOf("tok")}), (h, c) -> (31*h + c) % $H) AS poly FROM evw),
       |tb1 AS (SELECT w, ${mix64("poly")} AS hr FROM tb0),
       |tb2 AS (SELECT w, ${xor64("hr", seed.toString)} AS z0 FROM tb1),
       |tb3 AS (SELECT w, ${mix64("z0")} AS base FROM tb2),
       |td AS (SELECT w, base, d FROM tb3 CROSS JOIN (SELECT unnest(range(0, $depth)) AS d)),
       |tz AS (SELECT w, d, ${xor64("base", s"($seed + d)")} AS z0 FROM td),
       |regs AS (SELECT w, d, (${mix64("z0")}) % $width AS idx, count(*) AS c
       |  FROM tz GROUP BY w, d, idx),
       |wins AS (SELECT DISTINCT w FROM regs),
       |pr AS (SELECT tok FROM (VALUES $probeVals) v(tok)),
       |pb0 AS (SELECT tok, list_reduce(list_prepend(CAST($K31 AS HUGEINT),
       |  ${codesOf("tok")}), (h, c) -> (31*h + c) % $H) AS poly FROM pr),
       |pb1 AS (SELECT tok, ${mix64("poly")} AS hr FROM pb0),
       |pb2 AS (SELECT tok, ${xor64("hr", seed.toString)} AS z0 FROM pb1),
       |pb3 AS (SELECT tok, ${mix64("z0")} AS base FROM pb2),
       |pd AS (SELECT tok, base, d FROM pb3 CROSS JOIN (SELECT unnest(range(0, $depth)) AS d)),
       |pz AS (SELECT tok, d, ${xor64("base", s"($seed + d)")} AS z0 FROM pd),
       |pi AS (SELECT tok, d, (${mix64("z0")}) % $width AS idx FROM pz)
       |SELECT CAST(epoch(wins.w) AS BIGINT) AS hour_ts, pi.tok AS token,
       |  min(coalesce(regs.c, 0)) AS approx_count
       |FROM wins CROSS JOIN pi
       |LEFT JOIN regs ON regs.w = wins.w AND regs.d = pi.d AND regs.idx = pi.idx
       |GROUP BY wins.w, pi.tok""".stripMargin
  }

  /** Mirrors the Bloom filter ([[graft.operators.Sketch.bloomBits]] /
    * bloomContains) bit-for-bit over the space-tokenized `documents` corpus:
    * same stringHash64 chain per token, same per-hash remix
    * mix64(base xor (seed+k)) % numBits (power of two — unsigned modulus
    * equals Spark's signed pmod), membership = all `numHashes` positions set.
    */
  def statsBloom(probes: Seq[String], docsrc: String = "documents",
      numBits: Int = 1 << 16, numHashes: Int = 5, seed: Long = 42L): String = {
    require((numBits & (numBits - 1)) == 0, "numBits must be a power of two")
    val probeVals = probes.map(p => s"('$p')").mkString(", ")
    s"""WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok FROM $docsrc),
       |tb0 AS (SELECT tok, list_reduce(list_prepend(CAST($K31 AS HUGEINT),
       |  ${codesOf("tok")}), (h, c) -> (31*h + c) % $H) AS poly FROM toks),
       |tb1 AS (SELECT ${mix64("poly")} AS hr FROM tb0),
       |tb2 AS (SELECT ${xor64("hr", seed.toString)} AS z0 FROM tb1),
       |tb3 AS (SELECT ${mix64("z0")} AS base FROM tb2),
       |tk AS (SELECT base, k FROM tb3 CROSS JOIN (SELECT unnest(range(0, $numHashes)) AS k)),
       |tz AS (SELECT k, ${xor64("base", s"($seed + k)")} AS z0 FROM tk),
       |bits AS (SELECT DISTINCT (${mix64("z0")}) % $numBits AS bit FROM tz),
       |pr AS (SELECT tok FROM (VALUES $probeVals) v(tok)),
       |pb0 AS (SELECT tok, list_reduce(list_prepend(CAST($K31 AS HUGEINT),
       |  ${codesOf("tok")}), (h, c) -> (31*h + c) % $H) AS poly FROM pr),
       |pb1 AS (SELECT tok, ${mix64("poly")} AS hr FROM pb0),
       |pb2 AS (SELECT tok, ${xor64("hr", seed.toString)} AS z0 FROM pb1),
       |pb3 AS (SELECT tok, ${mix64("z0")} AS base FROM pb2),
       |pk AS (SELECT tok, base, k FROM pb3 CROSS JOIN (SELECT unnest(range(0, $numHashes)) AS k)),
       |pz AS (SELECT tok, k, ${xor64("base", s"($seed + k)")} AS z0 FROM pk),
       |pi AS (SELECT tok, (${mix64("z0")}) % $numBits AS bit FROM pz)
       |SELECT pi.tok AS token, count(bits.bit) = $numHashes AS maybe_present
       |FROM pi LEFT JOIN bits ON pi.bit = bits.bit
       |GROUP BY pi.tok""".stripMargin
  }

  /** (doc_id, shard, shard_pos): deterministic shuffle-shard — mirrors
    * [[graft.operators.Ops.shuffleShard]]: shard = splitmix64(id, seed) mod
    * k (signed pmod), within-shard order by the SIGNED seed+1 hash then id.
    */
  /** The data_bottomk oracles: seeded-hash bottom-k sampling, global (ORDER
    * BY hash LIMIT k — signed order, matching Spark's long sort) or
    * per-stratum (window rank).
    */
  def dataBottomK(k: Int, seed: Long = 42L, strata: Option[String] = None,
      docsrc: String = "documents"): String = {
    val h = sb2(mix64(ub2(s"xor(doc_id, $seed)")))
    strata match {
      case None =>
        s"""SELECT doc_id FROM (
           |  SELECT doc_id, $h AS h FROM $docsrc ORDER BY h LIMIT $k)""".stripMargin
      case Some(s) =>
        s"""WITH hh AS (SELECT $s, doc_id, $h AS h FROM $docsrc),
           |r AS (SELECT $s, doc_id, row_number() OVER (PARTITION BY $s ORDER BY h) AS rn FROM hh)
           |SELECT $s, doc_id FROM r WHERE rn <= $k""".stripMargin
    }
  }

  /** The data_weighted oracle: Efraimidis–Spirakis keys `-ln(u)/w` from the
    * same hash-uniform, smallest k win.
    */
  def dataWeighted(k: Int, weightExpr: String = "n_chars", seed: Long = 42L,
      docsrc: String = "documents"): String =
    s"""WITH h AS (SELECT doc_id, $weightExpr AS w, ${mix64(ub2(s"xor(doc_id, $seed)"))} AS uh
       |  FROM $docsrc WHERE $weightExpr IS NOT NULL AND $weightExpr > 0),
       |kk AS (SELECT doc_id,
       |  -ln((CAST(uh // 2048 AS DOUBLE) + 0.5) / CAST('9007199254740992' AS DOUBLE))
       |    / CAST(w AS DOUBLE) AS wk FROM h)
       |SELECT doc_id FROM (SELECT doc_id, wk FROM kk ORDER BY wk LIMIT $k)""".stripMargin

  def dataShard(shards: Int, seed: Long = 42L, docsrc: String = "documents"): String =
    s"""WITH z AS (SELECT doc_id, ${ub2(s"xor(doc_id, $seed)")} AS z0,
       |  ${ub2(s"xor(doc_id, ${seed + 1})")} AS z1 FROM $docsrc),
       |m AS (SELECT doc_id, ${sb2(mix64("z0"))} AS hs, ${sb2(mix64("z1"))} AS ho FROM z)
       |SELECT doc_id, ((hs % $shards) + $shards) % $shards AS shard,
       |  row_number() OVER (PARTITION BY ((hs % $shards) + $shards) % $shards
       |    ORDER BY ho, doc_id) AS shard_pos
       |FROM m""".stripMargin

  /** (doc_id, chunk_id, chunk_text, chunk_tokens):
    * TextAnalysis.chunkDocuments — overlapping token windows.
    */
  def textChunks(chunkTokens: Int = 24, overlap: Int = 8,
      docsrc: String = "documents"): String = {
    val step = chunkTokens - overlap
    s"""WITH tk AS (SELECT doc_id,
       |  list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> '') AS toks
       |  FROM $docsrc),
       |ch AS (SELECT doc_id, toks, unnest(range(0,
       |  CASE WHEN len(toks) <= $chunkTokens THEN 1
       |  ELSE 1 + CAST(ceil(CAST(len(toks) - $chunkTokens AS DOUBLE) / $step) AS INT)
       |  END)) AS chunk_id FROM tk)
       |SELECT doc_id, chunk_id,
       |  array_to_string(toks[chunk_id*$step + 1 : chunk_id*$step + $chunkTokens], ' ') AS chunk_text,
       |  least($chunkTokens, len(toks) - chunk_id*$step) AS chunk_tokens
       |FROM ch""".stripMargin
  }

  /** (doc_id, n_words, mean_word_len, ok_*, gopher_keep):
    * TextAnalysis.gopherRules mirrored rule for rule.
    */
  def textGopher(minWords: Int = 50, maxWords: Int = 100000,
      docsrc: String = "documents"): String = {
    val stops = graft.operators.TextAnalysis.defaultStopwords
      .map(s => s"'$s'").mkString("[", ", ", "]")
    val bullets = Seq("•", "‣", "▪", "- ", "* ")
      .map(b => s"starts_with(ltrim(l), '$b')").mkString(" OR ")
    s"""WITH g0 AS (SELECT doc_id, text,
       |  string_split_regex(trim(text), '\\s+') AS words,
       |  string_split(text, chr(10)) AS lines
       |  FROM $docsrc),
       |g1 AS (SELECT doc_id, text, words, lines,
       |  len(words) AS n_words, len(lines) AS n_lines,
       |  CAST(len(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE) / len(words) AS mean_wl,
       |  (len(text) - len(replace(text, '#', '')))
       |    + (len(text) - len(replace(text, '...', ''))) / 3
       |    + (len(text) - len(replace(text, '…', ''))) AS symbols,
       |  len(list_filter(lines, l -> $bullets)) AS bullet_lines,
       |  len(list_filter(lines, l -> ends_with(rtrim(l), '...') OR ends_with(rtrim(l), '…'))) AS ellipsis_lines,
       |  len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]'))) AS alpha_words,
       |  len(list_filter(words, w -> list_contains($stops, lower(w)))) AS stop_hits
       |  FROM g0),
       |g2 AS (SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
       |  round(mean_wl, 6) AS mean_word_len,
       |  n_words >= $minWords AND n_words <= $maxWords AS ok_word_count,
       |  mean_wl >= 3.0 AND mean_wl <= 10.0 AS ok_mean_word_len,
       |  CAST(symbols AS DOUBLE) / n_words < 0.1 AS ok_symbol_ratio,
       |  CAST(bullet_lines AS DOUBLE) / n_lines <= 0.10 AS ok_bullet_lines,
       |  CAST(ellipsis_lines AS DOUBLE) / n_lines < 0.30 AS ok_ellipsis_lines,
       |  CAST(alpha_words AS DOUBLE) / n_words >= 0.80 AS ok_alpha_words,
       |  stop_hits >= 2 AS ok_stopwords
       |  FROM g1)
       |SELECT doc_id, n_words, mean_word_len, ok_word_count, ok_mean_word_len,
       |  ok_symbol_ratio, ok_bullet_lines, ok_ellipsis_lines, ok_alpha_words,
       |  ok_stopwords,
       |  ok_word_count AND ok_mean_word_len AND ok_symbol_ratio AND
       |  ok_bullet_lines AND ok_ellipsis_lines AND ok_alpha_words AND
       |  ok_stopwords AS gopher_keep
       |FROM g2""".stripMargin
  }

  /** CTE `u(doc_id, url)`: the synthetic URL corpus both url queries build
    * from documents (scheme/www case, explicit vs default ports, empty
    * paths, tracking params, fragments — every normalization path hit).
    * Mirrors the construction in SparkEntry's url_* queries literally.
    */
  private def urlCore(docsrc: String): String =
    s"""uu AS (SELECT doc_id,
       |  (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'http' END) || '://' ||
       |  (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END) ||
       |  source || '.' ||
       |  list_extract(['com', 'co.uk', 'org', 'de'], CAST(doc_id % 4 + 1 AS INT)) ||
       |  (CASE WHEN doc_id % 5 = 0 THEN ':443' WHEN doc_id % 5 = 1 THEN ':8080' ELSE '' END) ||
       |  (CASE WHEN doc_id % 7 = 0 THEN '' ELSE '/p/' || CAST(doc_id AS VARCHAR) END) ||
       |  (CASE WHEN doc_id % 2 = 0 THEN '?utm_source=feed&b=2&a=1' ELSE '?z=9&y=8&gclid=abc' END) ||
       |  (CASE WHEN doc_id % 3 = 1 THEN '#sec' ELSE '' END) AS url
       |  FROM $docsrc)""".stripMargin

  /** CTE `dom(doc_id, url, url_norm, domain)`: Web.normalizeUrl +
    * Web.withRegistrableDomain mirrored step for step.
    */
  private def urlNormCore(docsrc: String): String = {
    val tracking = graft.operators.Web.trackingParams
      .map(t => s"starts_with(x, '$t')").mkString(" OR ")
    // the PSL prevailing-rule chain, generated from the SAME branch list
    // the Spark expression folds over (Web.pslBranches) so the mirror
    // cannot drift: exceptions first, then rules longest-first, default 1
    val slBranches = graft.operators.Web.pslBranches.map {
      case (ruleStrs, cmpK, sufLen) =>
        val minN = math.max(cmpK, sufLen)
        val tailK = s"array_to_string(labels[-$cmpK:], '.')"
        val cmp =
          if (ruleStrs.size == 1) s"$tailK = '${ruleStrs.head}'"
          else s"list_contains(${ruleStrs.map(s => s"'$s'").mkString("[", ", ", "]")}, $tailK)"
        s"WHEN len(labels) >= $minN AND $cmp THEN $sufLen"
    }.mkString("\n    ")
    val domArms = graft.operators.Web.pslBranches.map(_._3).distinct.sorted
      .map(sl => s"WHEN sl = $sl THEN array_to_string(labels[-${sl + 1}:], '.')")
      .mkString("\n    ")
    s"""${urlCore(docsrc)},
       |up AS (SELECT doc_id, url,
       |  lower(regexp_extract(url, '^([^:/?#]+)://', 1)) AS scheme,
       |  regexp_extract(url, '^[^:/?#]+://([^/?#]*)', 1) AS auth,
       |  regexp_extract(url, '^[^:/?#]+://[^/?#]*([^?#]*)', 1) AS path,
       |  regexp_extract(url, '\\?([^#]*)', 1) AS query
       |  FROM uu),
       |up2 AS (SELECT *, lower(regexp_extract(auth, '^([^:]*)', 1)) AS host,
       |  regexp_extract(auth, ':([0-9]+)$$', 1) AS port FROM up),
       |up3 AS (SELECT *,
       |  CASE WHEN port = '' THEN ''
       |    WHEN scheme = 'https' AND port = '443' THEN ''
       |    WHEN scheme = 'http' AND port = '80' THEN ''
       |    ELSE ':' || port END AS portn,
       |  CASE WHEN path = '' THEN '/' ELSE path END AS pathn,
       |  list_sort(list_filter(string_split(query, '&'),
       |    x -> x <> '' AND NOT ($tracking))) AS kept
       |  FROM up2),
       |up4 AS (SELECT *, CASE WHEN len(kept) > 0
       |    THEN '?' || array_to_string(kept, '&') ELSE '' END AS queryn FROM up3),
       |un AS (SELECT doc_id, url, host,
       |  scheme || '://' || host || portn || pathn || queryn AS url_norm,
       |  string_split(host, '.') AS labels FROM up4),
       |uns AS (SELECT *, CASE
       |    $slBranches
       |    ELSE 1 END AS sl FROM un),
       |dom AS (SELECT doc_id, url, url_norm,
       |  CASE WHEN len(labels) <= sl THEN host
       |    $domArms
       |  END AS domain
       |  FROM uns)""".stripMargin
  }

  /** (doc_id, url, url_norm, domain): Web.normalizeUrl + registrable domain
    * over the synthetic URL corpus.
    */
  def urlNormalize(docsrc: String = "documents"): String =
    s"""WITH ${urlNormCore(docsrc)}
       |SELECT doc_id, url, url_norm, domain FROM dom""".stripMargin

  /** (doc_id, domain, rank_in_domain): Web.perDomainCap — seeded-splitmix64
    * row_number per domain, capped.
    */
  def urlDomainCap(cap: Int = 5, seed: Long = 42L,
      docsrc: String = "documents"): String =
    s"""WITH ${urlNormCore(docsrc)},
       |h AS (SELECT doc_id, domain,
       |  ${sb2(mix64(ub2(s"xor(doc_id, $seed)")))} AS hv FROM dom),
       |r AS (SELECT doc_id, domain,
       |  row_number() OVER (PARTITION BY domain ORDER BY hv, doc_id) AS rank_in_domain
       |  FROM h)
       |SELECT doc_id, domain, rank_in_domain FROM r WHERE rank_in_domain <= $cap""".stripMargin

  /** (q, quantile4): equal-width histogram quantiles — mirrors
    * [[graft.operators.Sketch.histQuantiles]] double-op for double-op (bin
    * width (hi−lo)/bins, floor-least binning, cumulative-count bin pick,
    * in-bin linear interpolation) so the result is bit-identical before the
    * shared round. Quantile literals are CAST to DOUBLE — DuckDB types bare
    * decimals as DECIMAL, which would change the arithmetic.
    */
  def statsQuantile(src: String, valExpr: String, bins: Int, qs: Seq[Double]): String = {
    val qList = qs.map(q => s"CAST($q AS DOUBLE)").mkString("[", ", ", "]")
    s"""WITH data AS (SELECT CAST($valExpr AS DOUBLE) AS v FROM $src WHERE $valExpr IS NOT NULL),
       |st AS (SELECT min(v) AS lo, max(v) AS hi, count(*) AS n FROM data),
       |b AS (SELECT CAST(CASE WHEN hi = lo THEN CAST(0.0 AS DOUBLE)
       |    ELSE least(floor((v - lo) / ((hi - lo) / CAST($bins AS DOUBLE))), CAST(${bins - 1} AS DOUBLE))
       |  END AS INT) AS bn FROM data CROSS JOIN st),
       |c AS (SELECT bn, count(*) AS c FROM b GROUP BY bn),
       |cm AS (SELECT bn, c, sum(c) OVER (ORDER BY bn ROWS UNBOUNDED PRECEDING) AS cum FROM c),
       |qf AS (SELECT unnest($qList) AS q),
       |e AS (SELECT q, bn,
       |  lo + ((hi - lo) / CAST($bins AS DOUBLE)) * (bn + (q * n - (cum - c)) / c) AS est
       |  FROM qf CROSS JOIN cm CROSS JOIN st WHERE cum >= q * n)
       |SELECT q, round(min_by(est, bn), 4) AS quantile4 FROM e GROUP BY q""".stripMargin
  }

  /** Per-group quantile-gate mirror: [[statsQuantile]]'s bin arithmetic with
    * the group key threaded through every CTE, then the row filter
    * `v >= threshold` — literal op order so the interpolated threshold is
    * bit-identical before the comparison.
    */
  def quantileGateGroup(src: String, idExpr: String, idAlias: String,
      groupExpr: String, groupAlias: String, valExpr: String, valAlias: String,
      q: Double, bins: Int): String = {
    val qq = s"CAST('$q' AS DOUBLE)"
    val bD = s"CAST('${bins.toDouble}' AS DOUBLE)"
    s"""WITH data AS (SELECT $idExpr AS id, $groupExpr AS g, CAST($valExpr AS DOUBLE) AS v
       |  FROM $src WHERE $valExpr IS NOT NULL),
       |st AS (SELECT g, min(v) AS lo, max(v) AS hi, count(*) AS n FROM data GROUP BY g),
       |b AS (SELECT d.g AS g, CAST(CASE WHEN hi = lo THEN CAST(0.0 AS DOUBLE)
       |    ELSE least(floor((v - lo) / ((hi - lo) / $bD)), CAST(${bins - 1} AS DOUBLE))
       |  END AS INT) AS bn FROM data d JOIN st ON d.g = st.g),
       |c AS (SELECT g, bn, count(*) AS c FROM b GROUP BY g, bn),
       |cm AS (SELECT g, bn, c,
       |  sum(c) OVER (PARTITION BY g ORDER BY bn ROWS UNBOUNDED PRECEDING) AS cum FROM c),
       |e AS (SELECT cm.g AS g, bn,
       |  lo + ((hi - lo) / $bD) * (bn + ($qq * n - (cum - c)) / c) AS est
       |  FROM cm JOIN st ON cm.g = st.g WHERE cum >= $qq * n),
       |thr AS (SELECT g, min_by(est, bn) AS t FROM e GROUP BY g)
       |SELECT d.id AS $idAlias, d.g AS $groupAlias, d.v AS $valAlias
       |FROM data d JOIN thr ON d.g = thr.g WHERE d.v >= thr.t""".stripMargin
  }

  /** The stats_kll oracle: the sketch's exact mode (k >= n, nothing ever
    * compacts) IS the discrete lower quantile, i.e. DuckDB's native
    * `quantile_disc` — two independent implementations agreeing, the same
    * native-oracle pattern as the non-equi join tier.
    */
  def statsKll(src: String, valExpr: String, qs: Seq[Double]): String = {
    val qList = qs.map(q => s"CAST($q AS DOUBLE)").mkString("[", ", ", "]")
    s"""WITH data AS (SELECT CAST($valExpr AS DOUBLE) AS v FROM $src WHERE $valExpr IS NOT NULL),
       |ql AS (SELECT quantile_disc(v, $qList) AS l FROM data)
       |SELECT CAST($qList[i] AS DOUBLE) AS q, round(l[i], 4) AS quantile4
       |FROM ql, (SELECT unnest(range(1, ${qs.length + 1})) AS i) ii""".stripMargin
  }

  /** The stats_hll_group oracle: [[hllCore]]'s register math with the group
    * key threaded through every CTE (long-valued columns).
    */
  def statsHllGroup(src: String, valExpr: String, groupExpr: String,
      groupAlias: String, p: Int = 12, seed: Long = 42L): String = {
    val m = 1 << p
    val rhoMax = 64 - p + 1
    val alphaMM = graft.operators.Sketch.alpha(m) * m.toDouble * m.toDouble
    val two53 = "CAST('9007199254740992' AS DOUBLE)"
    val mD = s"CAST('${m.toDouble}' AS DOUBLE)"
    val raw = s"(CAST('$alphaMM' AS DOUBLE) / (CAST(s + ($m - nb) * CAST('9007199254740992' AS HUGEINT) AS DOUBLE) / $two53))"
    s"""WITH h2 AS (SELECT $groupExpr AS g, ${ub2(s"xor($valExpr, $seed)")} AS z0 FROM $src
       |  WHERE $valExpr IS NOT NULL),
       |h3 AS (SELECT g, ${mix64("z0")} AS uh FROM h2),
       |hb AS (SELECT g, (uh // ${BigInt(1) << (64 - p)}) AS bucket, ((uh * ${1L << p}) % $H) AS w FROM h3),
       |hr AS (SELECT g, bucket,
       |  CASE WHEN w = 0 THEN $rhoMax
       |       ELSE strpos(lpad(bin(CAST(w AS UBIGINT)), 64, '0'), '1') END AS rho FROM hb),
       |regs AS (SELECT g, bucket, max(rho) AS mreg FROM hr GROUP BY g, bucket),
       |ag AS (SELECT g, count(*) AS nb,
       |  coalesce(sum(CAST((CAST(1 AS BIGINT) << (53 - mreg)) AS HUGEINT)), 0) AS s FROM regs GROUP BY g)
       |SELECT g AS $groupAlias,
       |  round(CASE WHEN nb = 0 THEN CAST('0.0' AS DOUBLE)
       |    WHEN $raw <= CAST('${2.5 * m}' AS DOUBLE) AND ($m - nb) > 0
       |      THEN $mD * ln($mD / CAST($m - nb AS DOUBLE))
       |    ELSE $raw END, 3) AS approx_distinct
       |FROM ag""".stripMargin
  }

  /** The stats_hll oracle: three columns profiled across two tables. */
  def statsHll(): String =
    Seq(
      hllCore("documents", "text", isString = true, label = "text"),
      hllCore("documents", "source", isString = true, label = "source"),
      hllCore("lineitem", "l_orderkey", isString = false, label = "l_orderkey"))
      .map(q => s"SELECT * FROM ($q)")
      .mkString("", "\nUNION ALL\n", "")

  /** (doc_id, split): deterministic hash split — mirrors
    * [[graft.operators.Ops.splitByHash]]'s splitmix64 bucket arithmetic.
    */
  /** The geo_dbscan oracle: all-pairs eps-neighborhood (independent of the
    * Spark side's eps-grid candidate generation), density core test, and a
    * RECURSIVE-CTE transitive closure over core-core edges standing in for
    * the alternating-star connected components — component = min reachable
    * core id, border = min component among core neighbors, noise = -1.
    * Point coordinates derive from the mix64 mirror so both engines jitter
    * customers identically.
    */
  def geoDbscan(eps: Double = 1.0, minPts: Int = 4): String = {
    val e2 = eps * eps
    s"""WITH RECURSIVE z AS (SELECT c_custkey,
       |    ${ub2("xor(c_custkey, 1)")} AS z1,
       |    ${ub2("xor(c_custkey, 2)")} AS z2
       |  FROM customer WHERE c_custkey < 3000),
       |m AS (SELECT c_custkey, ${sb2(mix64("z1"))} AS h1, ${sb2(mix64("z2"))} AS h2 FROM z),
       |p AS (SELECT c_custkey AS id,
       |    CAST(((h1 % 600) + 600) % 600 AS DOUBLE) * CAST('0.1' AS DOUBLE) - 30 AS x,
       |    CAST(((h2 % 400) + 400) % 400 AS DOUBLE) * CAST('0.1' AS DOUBLE) - 20 AS y
       |  FROM m),
       |e AS (SELECT a.id AS aid, b.id AS bid FROM p a JOIN p b
       |  ON (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= CAST('$e2' AS DOUBLE)),
       |cnt AS (SELECT aid, count(*) AS c FROM e GROUP BY aid),
       |core AS (SELECT aid AS id FROM cnt WHERE c >= $minPts),
       |ce AS (SELECT e.aid, e.bid FROM e
       |  JOIN core ca ON e.aid = ca.id JOIN core cb ON e.bid = cb.id),
       |reach(a, b) AS (SELECT aid, bid FROM ce
       |  UNION SELECT r.a, c.bid FROM reach r JOIN ce c ON r.b = c.aid),
       |comp AS (SELECT a AS id, min(b) AS cl FROM reach GROUP BY a),
       |ba AS (SELECT e.aid AS id, min(comp.cl) AS bcl
       |  FROM e JOIN core c ON e.bid = c.id JOIN comp ON comp.id = e.bid
       |  GROUP BY e.aid)
       |SELECT p.id AS c_custkey, (comp.id IS NOT NULL) AS is_core,
       |  coalesce(comp.cl, ba.bcl, -1) AS cluster
       |FROM p LEFT JOIN comp ON p.id = comp.id LEFT JOIN ba ON p.id = ba.id""".stripMargin
  }

  /** The graph_pagerank oracle: the power method unrolled as one chained CTE
    * per round (DuckDB recursive CTEs disallow the per-round aggregate, so
    * the builder writes the rounds out literally) — same simplified
    * no-dangling-redistribution variant, same arithmetic shapes as
    * [[graft.operators.Graph.pagerank]].
    */
  /** Shared DuckDB CTEs for the co-purchase part graph: `e0(a, b)` distinct
    * undirected edges (a < b) between parts sharing an order (orderkey % 4
    * subsample keeps the oracle's wedge volume bounded).
    */
  private def copurchaseCore: String =
    s"""li AS (SELECT l_orderkey, l_partkey FROM lineitem WHERE l_orderkey % 4 = 0),
       |e0 AS (SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
       |  FROM li x JOIN li y
       |  ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey)""".stripMargin

  /** (node, triangles): INDEPENDENT triangle count — plain id-ordered
    * three-way join (x < y < z), vs the operator's degree-ordered
    * node-iterator scheme; two different algorithms agreeing.
    */
  def graphTriangles(): String =
    s"""WITH $copurchaseCore,
       |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
       |  FROM e0 e1
       |  JOIN e0 e2 ON e2.a = e1.b
       |  JOIN e0 e3 ON e3.a = e1.a AND e3.b = e2.b),
       |tn AS (SELECT x AS node FROM tri
       |  UNION ALL SELECT y FROM tri
       |  UNION ALL SELECT z FROM tri)
       |SELECT node, count(*) AS triangles FROM tn GROUP BY node""".stripMargin

  /** (node, dist): INDEPENDENT min-hop BFS — recursive CTE walk bounded at
    * `maxDepth`, min(dist) per node, vs the operator's frontier cascade.
    */
  def graphBfs(maxDepth: Int = 3, sourceMod: Int = 97): String =
    s"""WITH RECURSIVE $copurchaseCore,
       |adj AS (SELECT a AS u, b AS v FROM e0 UNION SELECT b, a FROM e0),
       |src AS (SELECT DISTINCT l_partkey AS node FROM li WHERE l_partkey % $sourceMod = 0),
       |walk(node, dist) AS (
       |  SELECT node, 0 FROM src
       |  UNION ALL
       |  SELECT adj.v, walk.dist + 1 FROM walk JOIN adj ON adj.u = walk.node
       |  WHERE walk.dist < $maxDepth)
       |SELECT node, CAST(min(dist) AS INT) AS dist FROM walk GROUP BY node""".stripMargin

  def graphPagerank(iters: Int = 5, damping: Double = 0.85): String = {
    val rounds = (1 to iters).map { i =>
      s"""r$i AS (SELECT n.node,
         |    (CAST('${1.0 - damping}' AS DOUBLE) / nc.cnt)
         |      + CAST('$damping' AS DOUBLE) * coalesce(m.acc, CAST('0.0' AS DOUBLE)) AS rank
         |  FROM n CROSS JOIN nc LEFT JOIN
         |    (SELECT c.v AS node, sum(r${i - 1}.rank * c.w) AS acc
         |     FROM c JOIN r${i - 1} ON c.u = r${i - 1}.node GROUP BY c.v) m
         |    ON n.node = m.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS (SELECT DISTINCT o_custkey AS u, l_suppkey + 1000000 AS v
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |deg AS (SELECT u, count(*) AS d FROM e0 GROUP BY u),
       |c AS (SELECT e0.u, e0.v, CAST('1.0' AS DOUBLE) / deg.d AS w
       |  FROM e0 JOIN deg ON e0.u = deg.u),
       |n AS (SELECT u AS node FROM e0 UNION SELECT v FROM e0),
       |nc AS (SELECT count(*) AS cnt FROM n),
       |r0 AS (SELECT node, CAST('1.0' AS DOUBLE) / nc.cnt AS rank FROM n CROSS JOIN nc),
       |$rounds
       |SELECT node, round(rank, 6) AS rank6 FROM r$iters""".stripMargin
  }

  def dataSplit(weights: Seq[(String, Double)], seed: Long = 42L,
      docsrc: String = "documents"): String = {
    val thresholds = weights.scanLeft(0L) { case (acc, (_, w)) => acc + math.round(w * 10000) }.tail
    val cases = weights.map(_._1).zip(thresholds).init
      .map { case (name, t) => s"WHEN bucket < $t THEN '$name'" }
      .mkString(" ")
    s"""WITH z AS (SELECT doc_id, ${ub2(s"xor(doc_id, $seed)")} AS z0 FROM $docsrc),
       |m AS (SELECT doc_id, ${sb2(mix64("z0"))} AS h FROM z),
       |b AS (SELECT doc_id, ((h % 10000) + 10000) % 10000 AS bucket FROM m)
       |SELECT doc_id, CASE $cases ELSE '${weights.last._1}' END AS split FROM b""".stripMargin
  }

  /** Leakage-safe split mirror: the [[dedupClusters]] recursive component
    * labeling feeds the [[dataSplit]] hash chain on the CLUSTER id, so both
    * engines must agree member-for-member on clusters AND label-for-label on
    * the split of each cluster.
    */
  def dataSplitSafe(weights: Seq[(String, Double)], threshold: Double = 0.7,
      seed: Long = 42L, docsrc: String = "documents"): String = {
    val thresholds = weights.scanLeft(0L) { case (acc, (_, w)) => acc + math.round(w * 10000) }.tail
    val cases = weights.map(_._1).zip(thresholds).init
      .map { case (name, t) => s"WHEN bucket < $t THEN '$name'" }
      .mkString(" ")
    s"""WITH RECURSIVE ${minhashCore(docsrc)},
       |vp AS (SELECT ida, idb FROM est WHERE CAST(eq AS DOUBLE)/128.0 >= $threshold),
       |sym AS (SELECT ida AS u, idb AS v FROM vp UNION SELECT idb AS u, ida AS v FROM vp),
       |lbl AS (
       |  SELECT doc_id AS node, doc_id AS l FROM $docsrc
       |  UNION
       |  SELECT s.v AS node, lbl.l AS l FROM lbl JOIN sym s ON s.u = lbl.node WHERE lbl.l < s.v),
       |cl AS (SELECT node AS doc_id, min(l) AS cluster FROM lbl GROUP BY node),
       |z AS (SELECT doc_id, cluster, ${ub2(s"xor(cluster, $seed)")} AS z0 FROM cl),
       |m AS (SELECT doc_id, cluster, ${sb2(mix64("z0"))} AS h FROM z),
       |b AS (SELECT doc_id, cluster, ((h % 10000) + 10000) % 10000 AS bucket FROM m)
       |SELECT doc_id, cluster, CASE $cases ELSE '${weights.last._1}' END AS split
       |FROM b""".stripMargin
  }

  /** (c_custkey, easting, northing): WGS84 UTM forward (Karney series),
    * mirrored with the kernel's own double-precision constants as literals.
    * sinh/cosh/atanh/asinh are emulated via exp/ln (DuckDB has no
    * hyperbolics); the few-ulp drift vs java.lang.Math is far below the
    * mm-level rounding.
    */
  /** (c_custkey, easting, northing) for EPSG:2154 (Lambert-93, LCC 2SP): the
    * cone constant / scaled radii come precomputed from
    * [[graft.geom.Projections.LccProjection]]; the per-row math (Snyder
    * 15-7..15-9) mirrors the Scala evaluation order literally.
    */
  def geoConvertLcc(): String = {
    val lcc = graft.geom.Projections.lambert93.proj
      .asInstanceOf[graft.geom.Projections.LccProjection]
    val (e0, nc0, af0, rho00, lon0, fe0, fn0) = lcc.oracleConstants
    val ecc = s"CAST('$e0' AS DOUBLE)"
    val nc = s"CAST('$nc0' AS DOUBLE)"
    val af = s"CAST('$af0' AS DOUBLE)"
    val rho0 = s"CAST('$rho00' AS DOUBLE)"
    s"""WITH p AS (SELECT c_custkey,
       |  radians((c_custkey % 60) * 0.1 + 0.05 - $lon0) AS dlam,
       |  radians((c_custkey % 80) * 0.5 - 20 + 0.25) AS phi
       |  FROM customer),
       |t1 AS (SELECT c_custkey, $nc * dlam AS theta,
       |  tan(pi()/4 - phi/2) / pow((1 - $ecc*sin(phi))/(1 + $ecc*sin(phi)), $ecc/2) AS t
       |  FROM p),
       |t2 AS (SELECT c_custkey, theta, $af * pow(t, $nc) AS rho FROM t1)
       |SELECT c_custkey,
       |  round($fe0 + rho * sin(theta), 3) AS easting,
       |  round($fn0 + $rho0 - rho * cos(theta), 3) AS northing
       |FROM t2""".stripMargin
  }

  /** (c_custkey, easting, northing) for EPSG:3035 (LAEA Europe): authalic
    * latitude + oblique azimuthal equal-area forward (Snyder 24-2..24-8,
    * 3-12), constants from [[graft.geom.Projections.LaeaProjection]].
    */
  def geoConvertLaea(): String = {
    val laea = graft.geom.Projections.laeaEurope.proj
      .asInstanceOf[graft.geom.Projections.LaeaProjection]
    val (e0, e20, qp0, sb00, cb00, rq0, d0, lon0, fe0, fn0) = laea.oracleConstants
    val ecc = s"CAST('$e0' AS DOUBLE)"
    val e2 = s"CAST('$e20' AS DOUBLE)"
    val qp = s"CAST('$qp0' AS DOUBLE)"
    val sb0 = s"CAST('$sb00' AS DOUBLE)"
    val cb0 = s"CAST('$cb00' AS DOUBLE)"
    val rq = s"CAST('$rq0' AS DOUBLE)"
    val dd = s"CAST('$d0' AS DOUBLE)"
    s"""WITH p AS (SELECT c_custkey,
       |  radians((c_custkey % 60) * 0.1 + 0.05 - $lon0) AS dlam,
       |  radians((c_custkey % 80) * 0.5 - 20 + 0.25) AS phi
       |  FROM customer),
       |t1 AS (SELECT c_custkey, dlam,
       |  (1 - $e2) * (sin(phi)/(1 - $e2*sin(phi)*sin(phi))
       |    - 1/(2*$ecc)*ln((1 - $ecc*sin(phi))/(1 + $ecc*sin(phi)))) AS q
       |  FROM p),
       |t2 AS (SELECT c_custkey, dlam, asin(q / $qp) AS beta FROM t1),
       |t3 AS (SELECT c_custkey, dlam, beta,
       |  $rq * sqrt(2/(1 + $sb0*sin(beta) + $cb0*cos(beta)*cos(dlam))) AS b
       |  FROM t2)
       |SELECT c_custkey,
       |  round($fe0 + b * $dd * cos(beta) * sin(dlam), 3) AS easting,
       |  round($fn0 + (b / $dd) * ($cb0*sin(beta) - $sb0*cos(beta)*cos(dlam)), 3) AS northing
       |FROM t3""".stripMargin
  }

  /** (c_custkey, easting, northing) for EPSG:5070 (Conus Albers, AEA 2SP):
    * authalic q + cone constant per Snyder 14-3/14-4, constants from
    * [[graft.geom.Projections.AlbersProjection]].
    */
  def geoConvertAlbers(): String = {
    val aea = graft.geom.Projections.conusAlbers.proj
      .asInstanceOf[graft.geom.Projections.AlbersProjection]
    val (e0, e20, nc0, c0, rho00, a0, lon0, fe0, fn0) = aea.oracleConstants
    val ecc = s"CAST('$e0' AS DOUBLE)"
    val e2 = s"CAST('$e20' AS DOUBLE)"
    val nc = s"CAST('$nc0' AS DOUBLE)"
    val cb = s"CAST('$c0' AS DOUBLE)"
    val aa = s"CAST('$a0' AS DOUBLE)"
    s"""WITH p AS (SELECT c_custkey,
       |  radians((c_custkey % 60) * 0.1 + 0.05 - $lon0) AS dlam,
       |  radians((c_custkey % 80) * 0.5 - 20 + 0.25) AS phi
       |  FROM customer),
       |t1 AS (SELECT c_custkey, $nc * dlam AS theta,
       |  (1 - $e2) * (sin(phi)/(1 - $e2*sin(phi)*sin(phi))
       |    - 1/(2*$ecc)*ln((1 - $ecc*sin(phi))/(1 + $ecc*sin(phi)))) AS q
       |  FROM p),
       |t2 AS (SELECT c_custkey, theta, $aa * sqrt($cb - $nc * q) / $nc AS rho FROM t1)
       |SELECT c_custkey,
       |  round(0.0 + rho * sin(theta), 3) AS easting,
       |  round(CAST('${fn0 + rho00}' AS DOUBLE) - rho * cos(theta), 3) AS northing
       |FROM t2""".stripMargin
  }

  /** The geo_zorder oracle: unrolled Morton bit-interleave — the same
    * floor-scale (step-for-step double arithmetic) then per-bit shifts, all
    * in BIGINT space.
    */
  def geoZorder(bits: Int = 16, src: String = "customer"): String = {
    val scale = (1L << bits).toDouble
    val maxI = (1L << bits) - 1
    def idx(v: String, lo: String, span: String) =
      s"CAST(least(greatest(floor(($v - $lo) / $span * $scale), 0), $maxI) AS BIGINT)"
    val zsum = (0 until bits).map(b =>
      s"(((ix >> $b) & 1) << ${2 * b}) + (((iy >> $b) & 1) << ${2 * b + 1})")
      .mkString(" + ")
    s"""WITH pts AS (SELECT c_custkey,
       |    (c_custkey % 120) * 0.5 - 30 + 0.25 AS lon,
       |    (c_custkey % 80) * 0.5 - 20 + 0.25 AS lat FROM $src),
       |ij AS (SELECT c_custkey,
       |  ${idx("lon", "-180.0", "360.0")} AS ix,
       |  ${idx("lat", "-90.0", "180.0")} AS iy FROM pts)
       |SELECT c_custkey, $zsum AS z FROM ij""".stripMargin
  }

  /** The geo_geohash oracle: floor-scaled grid indexes, the MSB-first
    * lon-leading bit interleave unrolled as a shift sum, and base32 chars
    * picked by substr — integer-exact, same double arithmetic order as
    * [[graft.geom.ZOrder.index]].
    */
  def geoGeohash(chars: Int = 7, src: String = "customer"): String = {
    val nbits = 5 * chars
    val lonBits = (nbits + 1) / 2
    val latBits = nbits / 2
    def idx(v: String, lo: String, span: String, bits: Int) = {
      val scale = (1L << bits).toDouble
      val maxI = (1L << bits) - 1
      s"CAST(least(greatest(floor(($v - $lo) / $span * $scale), 0), $maxI) AS BIGINT)"
    }
    val accSum = (0 until nbits).map { i =>
      if (i % 2 == 0) s"(((ix >> ${lonBits - 1 - i / 2}) & 1) << ${nbits - 1 - i})"
      else s"(((iy >> ${latBits - 1 - i / 2}) & 1) << ${nbits - 1 - i})"
    }.mkString(" + ")
    val alpha = "0123456789bcdefghjkmnpqrstuvwxyz"
    val charConcat = (0 until chars).map { j =>
      s"substr('$alpha', CAST(((acc >> ${5 * (chars - 1 - j)}) & 31) AS INT) + 1, 1)"
    }.mkString(" || ")
    s"""WITH pts AS (SELECT c_custkey,
       |    (c_custkey % 120) * 0.5 - 30 + 0.25 AS lon,
       |    (c_custkey % 80) * 0.5 - 20 + 0.25 AS lat FROM $src),
       |ij AS (SELECT c_custkey,
       |  ${idx("lon", "-180.0", "360.0", lonBits)} AS ix,
       |  ${idx("lat", "-90.0", "180.0", latBits)} AS iy FROM pts),
       |a AS (SELECT c_custkey, $accSum AS acc FROM ij)
       |SELECT c_custkey, $charConcat AS gh FROM a""".stripMargin
  }

  /** The geo_hilbert oracle: the iterative rot/flip Hilbert index unrolled
    * as one CTE pair per bit plane (rx/ry extraction, then reflect+swap and
    * quadrant-offset accumulation) — integer-exact all the way.
    */
  def geoHilbert(bits: Int = 16, src: String = "customer"): String = {
    val scale = (1L << bits).toDouble
    val maxI = (1L << bits) - 1
    def idx(v: String, lo: String, span: String) =
      s"CAST(least(greatest(floor(($v - $lo) / $span * $scale), 0), $maxI) AS BIGINT)"
    val steps = (0 until bits).map { k =>
      val s = 1L << (bits - 1 - k)
      val prev = if (k == 0) "it0" else s"j${k - 1}"
      // reflection over the FULL grid (maxI - x) keeps x, y non-negative —
      // same invariant as the kernel, required for // and % to mirror & bits
      s"""s$k AS (SELECT c_custkey, ((x // $s) % 2) AS rx, ((y // $s) % 2) AS ry, x, y, d FROM $prev),
         |j$k AS (SELECT c_custkey,
         |  CASE WHEN ry = 0 THEN CASE WHEN rx = 1 THEN $maxI - y ELSE y END ELSE x END AS x,
         |  CASE WHEN ry = 0 THEN CASE WHEN rx = 1 THEN $maxI - x ELSE x END ELSE y END AS y,
         |  d + ${s * s} * xor(3 * rx, ry) AS d FROM s$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH pts AS (SELECT c_custkey,
       |    (c_custkey % 120) * 0.5 - 30 + 0.25 AS lon,
       |    (c_custkey % 80) * 0.5 - 20 + 0.25 AS lat FROM $src),
       |it0 AS (SELECT c_custkey,
       |  ${idx("lon", "-180.0", "360.0")} AS x,
       |  ${idx("lat", "-90.0", "180.0")} AS y,
       |  CAST(0 AS BIGINT) AS d FROM pts),
       |$steps
       |SELECT c_custkey, d AS h FROM j${bits - 1}""".stripMargin
  }

  def geoConvertUtm(zone: Int = 31): String = {
    val (bigA0, ecc0, k00, alpha) = graft.geom.TransverseMercator.oracleConstants
    // plain decimal literals parse as DECIMAL in DuckDB (and overflow in
    // products) — force DOUBLE, which round-trips the exact binary value
    val bigA = s"CAST('$bigA0' AS DOUBLE)"
    val ecc = s"CAST('$ecc0' AS DOUBLE)"
    val k0 = s"CAST('$k00' AS DOUBLE)"
    val lon0 = zone * 6.0 - 183.0
    def sinh(x: String) = s"((exp($x) - exp(-($x))) / 2)"
    def cosh(x: String) = s"((exp($x) + exp(-($x))) / 2)"
    val xiTerms = alpha.zipWithIndex.map { case (aj, j) =>
      s" + $aj * sin(${2 * (j + 1)} * xip) * ${cosh(s"${2 * (j + 1)} * etap")}"
    }.mkString
    val etaTerms = alpha.zipWithIndex.map { case (aj, j) =>
      s" + $aj * cos(${2 * (j + 1)} * xip) * ${sinh(s"${2 * (j + 1)} * etap")}"
    }.mkString
    s"""WITH p AS (SELECT c_custkey,
       |  radians((c_custkey % 60) * 0.1 + 0.05 - $lon0) AS lam,
       |  radians((c_custkey % 80) * 0.5 - 20 + 0.25) AS phi
       |  FROM customer),
       |t1 AS (SELECT c_custkey, lam, tan(phi) AS tau FROM p),
       |t2 AS (SELECT c_custkey, lam, tau, sqrt(1 + tau*tau) AS tau1 FROM t1),
       |t3 AS (SELECT *, ${sinh(s"$ecc * 0.5 * ln((1 + $ecc*tau/tau1) / (1 - $ecc*tau/tau1))")} AS sig FROM t2),
       |t4 AS (SELECT c_custkey, lam, sqrt(1 + sig*sig) * tau - sig * tau1 AS taup FROM t3),
       |t5 AS (SELECT c_custkey,
       |  atan2(taup, cos(lam)) AS xip,
       |  ln(sin(lam)/sqrt(taup*taup + cos(lam)*cos(lam))
       |     + sqrt(1 + pow(sin(lam)/sqrt(taup*taup + cos(lam)*cos(lam)), 2))) AS etap
       |  FROM t4),
       |t6 AS (SELECT c_custkey, xip$xiTerms AS xi, etap$etaTerms AS eta FROM t5)
       |SELECT c_custkey,
       |  round(500000.0 + $k0 * $bigA * eta, 3) AS easting,
       |  round($k0 * $bigA * xi, 3) AS northing
       |FROM t6""".stripMargin
  }

  /** (r_regionkey, level_s, contour_area_deg2): marching-squares filled
    * contour area ([[graft.geom.Contour.filled]]) of the great-circle
    * duration field — per-cell boundary-walk pieces are disjoint, so the
    * MultiPolygon area is the sum of per-cell shoelace areas. Corner
    * durations use the routed sample coords (lon + i·step); vertex coords use
    * Contour.filled's grid arithmetic ((lon − h·step) + ix·step) — the two
    * differ in floating point and both are mirrored exactly.
    */
  /** Mirror of the full contour pipeline including the raster-interpolation
    * stage: duration samples on the (2h+1)² lattice → lattice triangulation
    * (fixed 00→11 diagonal) linearly interpolated onto an r×-finer raster
    * (Contour.interpolate) → marching squares with shoelace areas at raster
    * resolution. Raster node k clamps to sample cell min(k/r, 2h−1) with
    * local offset (k − cell·r)/r, exactly as the Scala side.
    */
  def isochroneContours(h: Int = 8, step: String = "0.05", refine: Int = 4,
      levels: Seq[Double] = Seq(600.0, 1200.0), speed: String = "25.0"): String = {
    val hav = (lon1: String, lat1: String, lon2: String, lat2: String) =>
      s"""2*6371008.8*asin(least(1.0, sqrt(pow(sin((radians($lat2)-radians($lat1))/2),2)
         | + cos(radians($lat1))*cos(radians($lat2))*pow(sin((radians($lon2)-radians($lon1))/2),2))))""".stripMargin
    val r = refine
    val m = 2 * h * r // marching cells per axis on the raster
    val dx = Array(0, 1, 1, 0); val dy = Array(0, 0, 1, 1) // boundary order 00→10→11→01
    val cornerJoins = (0 until 4).map { k =>
      s"JOIN nv n$k ON n$k.r_regionkey = c.r_regionkey AND n$k.kx = c.ci + ${dx(k)} AND n$k.ky = c.cj + ${dy(k)}"
    }.mkString("\n  ")
    val cornerCols = (0 until 4).flatMap { k =>
      Seq(
        s"n$k.z AS v$k",
        s"((c.lon - $h * $step) + (c.ci + ${dx(k)}) * ($step / $r)) AS x$k",
        s"((c.lat - $h * $step) + (c.cj + ${dy(k)}) * ($step / $r)) AS y$k")
    }
    val ring = (0 until 4).flatMap { k =>
      val k2 = (k + 1) % 4
      val f = s"(CASE WHEN abs(v$k2 - v$k) < 1e-300 THEN 0.5 ELSE (level_s - v$k) / (v$k2 - v$k) END)"
      val fc = s"greatest(0.0, least(1.0, $f))"
      Seq(
        s"CASE WHEN in$k THEN [{'x': x$k, 'y': y$k}] ELSE [] END",
        s"CASE WHEN in$k != in$k2 THEN [{'x': x$k + $fc * (x$k2 - x$k), 'y': y$k + $fc * (y$k2 - y$k)}] ELSE [] END")
    }.mkString(" || ")
    val lv = levels.map(l => s"$l").mkString(", ")
    s"""WITH src AS (SELECT r_regionkey, r_regionkey * 12.0 - 24.0 AS lon, r_regionkey * 7.0 - 14.0 AS lat FROM region),
       |lv AS (SELECT CAST(unnest([$lv]) AS DOUBLE) AS level_s),
       |ab AS (SELECT unnest(range(0, ${2 * h + 1})) AS a),
       |samples AS (SELECT r_regionkey, a.a AS a, b.a AS b,
       |  ${hav("lon", "lat", s"(lon + (a.a - $h) * $step)", s"(lat + (b.a - $h) * $step)")} / $speed AS z
       |  FROM src, ab a, ab b),
       |kk AS (SELECT unnest(range(0, ${m + 1})) AS k),
       |locs AS (SELECT s.r_regionkey, kx.k AS kx, ky.k AS ky,
       |    least(kx.k // $r, ${2 * h - 1}) AS cx, least(ky.k // $r, ${2 * h - 1}) AS cy
       |  FROM src s, kk kx, kk ky),
       |nodes AS (SELECT l.r_regionkey, l.kx, l.ky,
       |    CAST(l.kx - l.cx * $r AS DOUBLE) / $r AS u, CAST(l.ky - l.cy * $r AS DOUBLE) / $r AS v,
       |    s00.z AS z00, s10.z AS z10, s01.z AS z01, s11.z AS z11
       |  FROM locs l
       |  JOIN samples s00 ON s00.r_regionkey = l.r_regionkey AND s00.a = l.cx AND s00.b = l.cy
       |  JOIN samples s10 ON s10.r_regionkey = l.r_regionkey AND s10.a = l.cx + 1 AND s10.b = l.cy
       |  JOIN samples s01 ON s01.r_regionkey = l.r_regionkey AND s01.a = l.cx AND s01.b = l.cy + 1
       |  JOIN samples s11 ON s11.r_regionkey = l.r_regionkey AND s11.a = l.cx + 1 AND s11.b = l.cy + 1),
       |nv AS (SELECT r_regionkey, kx, ky,
       |    CASE WHEN u + v <= 1 THEN z00 + u * (z10 - z00) + v * (z01 - z00)
       |         ELSE z11 + (1 - u) * (z01 - z11) + (1 - v) * (z10 - z11) END AS z
       |  FROM nodes),
       |cells AS (SELECT r_regionkey, lon, lat, level_s, ci, cj
       |  FROM src, lv, (SELECT unnest(range(0, $m)) AS ci) ii, (SELECT unnest(range(0, $m)) AS cj) jj),
       |co AS (SELECT c.r_regionkey, c.level_s, c.ci, c.cj, ${cornerCols.mkString(", ")}
       |  FROM cells c
       |  $cornerJoins),
       |flags AS (SELECT *, v0 <= level_s AS in0, v1 <= level_s AS in1, v2 <= level_s AS in2, v3 <= level_s AS in3 FROM co),
       |rings AS (SELECT r_regionkey, level_s, ($ring) AS ring FROM flags),
       |areas AS (SELECT r_regionkey, level_s,
       |  CASE WHEN len(ring) >= 3 THEN abs(list_sum(list_transform(range(1, len(ring) + 1),
       |    i -> ring[i].x * ring[CASE WHEN i = len(ring) THEN 1 ELSE i + 1 END].y
       |       - ring[CASE WHEN i = len(ring) THEN 1 ELSE i + 1 END].x * ring[i].y))) / 2 ELSE 0.0 END AS a
       |  FROM rings)
       |SELECT r_regionkey, level_s, round(sum(a), 6) AS contour_area_deg2
       |FROM areas GROUP BY r_regionkey, level_s""".stripMargin
  }

  /** Mirror of `GeoOps.hexbin` over the lonlat_points customer grid: the
    * identical fractional-axial + cube-round arithmetic, with the Scala
    * constants embedded as exact shortest-repr double literals (CAST from
    * VARCHAR — plain decimal literals would type as DECIMAL) and rounding
    * as floor(x + 0.5) on both engines.
    */
  def geoHexbin(size: Double): String = {
    def d(v: Double) = s"CAST('$v' AS DOUBLE)"
    val c1 = d(2.0 / 3.0); val c2 = d(-1.0 / 3.0); val c3 = d(math.sqrt(3.0) / 3.0)
    val sz = d(size)
    s"""WITH pts AS (SELECT c_custkey, c_acctbal,
       |    CAST((c_custkey % 120) * 0.5 - 30 + 0.25 AS DOUBLE) AS x,
       |    CAST((c_custkey % 80) * 0.5 - 20 + 0.25 AS DOUBLE) AS y
       |  FROM customer),
       |h AS (SELECT c_custkey, c_acctbal,
       |    x * $c1 / $sz AS qf, (x * $c2 + y * $c3) / $sz AS rf FROM pts),
       |cz AS (SELECT *, -qf - rf AS zf FROM h),
       |r0 AS (SELECT *, floor(qf + 0.5) AS rq, floor(rf + 0.5) AS rr,
       |    floor(zf + 0.5) AS rz FROM cz),
       |dd AS (SELECT *, abs(rq - qf) AS dq, abs(rr - rf) AS dr, abs(rz - zf) AS dz
       |  FROM r0),
       |fin AS (SELECT c_custkey, c_acctbal,
       |    CASE WHEN dq > dr AND dq > dz THEN -rr - rz ELSE rq END AS q,
       |    CASE WHEN NOT (dq > dr AND dq > dz) AND dr > dz THEN -rq - rz ELSE rr END AS r
       |  FROM dd)
       |SELECT CAST(q AS BIGINT) AS hex_q, CAST(r AS BIGINT) AS hex_r,
       |  count(*) AS n_points, round(avg(c_acctbal), 4) AS avg_bal4
       |FROM fin GROUP BY q, r""".stripMargin
  }

  /** Mirror of `Profiling.profile`: one UNION ALL branch per column, each
    * computing the same six metrics with literally the same arithmetic
    * (TRY_CAST mean, value-order min/max rendered to VARCHAR afterwards).
    */
  def dataProfile(cols: Seq[String], src: String = "lineitem"): String =
    cols.map { c =>
      s"""SELECT '$c' AS "column", count(*) AS n_rows,
         |  count(*) - count($c) AS n_null, count(DISTINCT $c) AS n_distinct,
         |  coalesce(CAST(min($c) AS VARCHAR), '') AS min_s,
         |  coalesce(CAST(max($c) AS VARCHAR), '') AS max_s,
         |  coalesce(round(avg(TRY_CAST($c AS DOUBLE)), 6), -1.0) AS mean6
         |FROM $src""".stripMargin
    }.mkString("\n", "\nUNION ALL\n", "")

  /** Mirror of `Similarity.farthestPointSample`: the greedy maximin rounds
    * unrolled as MATERIALIZED single-row CTEs — each round cross-joins the
    * corpus with every previous center, takes `least(1 − cos…)` and cuts on
    * the same 9-decimal-rounded (distance desc, id) order as the Spark
    * side.
    */
  def simFps(k: Int, vecsrc: String = "embeddings"): String = {
    val b0 = s"""b0 AS MATERIALIZED (SELECT vec_id, embedding, CAST(-1 AS DOUBLE) AS dmin
                |  FROM $vecsrc ORDER BY vec_id LIMIT 1)""".stripMargin
    val stages = (1 until k).map { i =>
      val terms = (0 until i).map(j =>
        s"(CAST(1 AS DOUBLE) - ${cos("e.embedding", s"b$j.embedding")})")
      val ld = if (terms.size == 1) terms.head else s"least(${terms.mkString(", ")})"
      val joins = (0 until i).map(j => s"CROSS JOIN b$j").mkString(" ")
      val excl = (0 until i).map(j => s"e.vec_id <> b$j.vec_id").mkString(" AND ")
      s"""b$i AS MATERIALIZED (SELECT e.vec_id, e.embedding, $ld AS dmin
         |  FROM $vecsrc e $joins
         |  WHERE $excl
         |  ORDER BY round($ld, 9) DESC, e.vec_id LIMIT 1)""".stripMargin
    }
    val union = (0 until k).map(i =>
      s"SELECT $i AS round, vec_id, round(dmin, 6) AS dist6 FROM b$i")
      .mkString("\nUNION ALL\n")
    s"WITH ${(b0 +: stages).mkString(",\n")}\n$union"
  }

  /** Mirror of `TextAnalysis.bpeTrain` + `bpeApply`: BPE training unrolled
    * as `m` chained CTE stages — each counts adjacent symbol pairs over the
    * current vocabulary (weighted by word frequency), picks the best under
    * the TOTAL (count desc, pair asc) order and rewrites the vocabulary via
    * the same U+0001-wrapped literal replace the Spark side uses — then the
    * learned merges fold over every document's words in rank order and the
    * per-document subword counts come out of the separator arithmetic.
    * A stage with no pairs left is a no-op (LEFT JOIN, CASE), mirroring the
    * Spark loop's early break.
    */
  def textBpe(m: Int = 16, docsrc: String = "documents"): String = {
    val wrap = "regexp_replace(w, '(.)', chr(1) || '\\1' || chr(1), 'g')"
    def stage(i: Int): String = {
      val prev = s"v${i - 1}"
      s"""sy${i - 1} AS (SELECT list_filter(string_split(s, chr(1)), x -> x <> '') AS sym, c FROM $prev),
         |p$i AS (SELECT sym, c, unnest(range(1, len(sym))) AS j FROM sy${i - 1} WHERE len(sym) >= 2),
         |pc$i AS (SELECT sym[j] || chr(2) || sym[j+1] AS pr, sum(c) AS n FROM p$i GROUP BY 1),
         |b$i AS MATERIALIZED (SELECT pr FROM pc$i ORDER BY n DESC, pr LIMIT 1),
         |v$i AS MATERIALIZED (SELECT CASE WHEN b.pr IS NULL THEN v.s ELSE replace(v.s,
         |    chr(1) || split_part(b.pr, chr(2), 1) || chr(1) || chr(1) || split_part(b.pr, chr(2), 2) || chr(1),
         |    chr(1) || split_part(b.pr, chr(2), 1) || split_part(b.pr, chr(2), 2) || chr(1)) END AS s, v.c
         |  FROM $prev v LEFT JOIN b$i b ON TRUE)""".stripMargin
    }
    val stages = (1 to m).map(stage).mkString(",\n")
    val mergeRows = (1 to m).map(i => s"SELECT $i AS rk, pr FROM b$i").mkString(" UNION ALL ")
    val fold =
      s"""list_reduce(list_prepend($wrap, ms),
         |      (acc, mg) -> replace(acc,
         |        chr(1) || split_part(mg, chr(2), 1) || chr(1) || chr(1) || split_part(mg, chr(2), 2) || chr(1),
         |        chr(1) || split_part(mg, chr(2), 1) || split_part(mg, chr(2), 2) || chr(1)))""".stripMargin
    s"""WITH wr AS MATERIALIZED (SELECT doc_id, list_filter(string_split(lower(trim(text)), ' '), x -> x <> '') AS ws
       |  FROM $docsrc),
       |wall AS (SELECT unnest(ws) AS w FROM wr),
       |v0 AS MATERIALIZED (SELECT $wrap AS s, count(*) AS c FROM (SELECT w FROM wall) GROUP BY w),
       |$stages,
       |merges AS (SELECT list(pr ORDER BY rk) AS ms FROM ($mergeRows)),
       |app AS (SELECT doc_id, ws, ms FROM wr CROSS JOIN merges)
       |SELECT doc_id, len(ws) AS n_words,
       |  CAST(coalesce(list_sum(list_transform(ws, w -> (
       |    length($fold) - length(replace($fold, chr(1), ''))) // 2)), 0) AS BIGINT) AS bpe_tokens
       |FROM app""".stripMargin
  }

  /** Mirror of `Profiling.entropy`: per column, value counts (null a value
    * of its own via the VARCHAR cast) folded through the same fixed tree
    * `ln(N) − (Σ c·ln c)/N`.
    */
  /** Unrolled-rounds mirror of [[graft.operators.Clustering.kmeans]] (the
    * textBpe chained-CTE pattern): init = the k vectors ordered by the
    * mix64 hash mirror, each round assigns via the 9-decimal pre-rounded
    * surrogate `‖c‖² − 2·v·c` with ties to the lowest j (row_number pick —
    * DuckDB has no composite arg_min), recomputes 6-rounded per-position
    * means, and keeps the previous centroid for emptied clusters. Every
    * stage is MATERIALIZED — the chain references each c_{r−1} twice and
    * would otherwise inline exponentially. `list_inner_product` is a
    * sequential left-to-right double fold, the same op order as the
    * codegen'd `vec_dot` kernel.
    */
  def simKmeans(k: Int, iters: Int, seed: Long, dim: Int,
      src: String = "embeddings", idCol: String = "vec_id",
      vecCol: String = "embedding"): String = {
    val hv = sb2(mix64(ub2(s"xor($idCol, $seed)")))
    def asn(prev: String): String =
      s"""SELECT $idCol, v, j,
         |    list_inner_product(c, c) - 2*list_inner_product(v, c) AS s FROM (
         |    SELECT e.$idCol, e.v, c.j, c.c,
         |      row_number() OVER (PARTITION BY e.$idCol
         |        ORDER BY round(list_inner_product(c.c, c.c) - 2*list_inner_product(e.v, c.c), 9), c.j) AS rn
         |    FROM emb e CROSS JOIN $prev c) WHERE rn = 1""".stripMargin
    val rounds = (1 to iters).map { r =>
      s"""a$r AS MATERIALIZED (${asn(s"c${r - 1}")}),
         |m$r AS MATERIALIZED (
         |  SELECT j, p, round(avg(x), 6) AS m FROM (
         |    SELECT a.j AS j, t.p AS p, a.v[t.p + 1] AS x
         |    FROM a$r a CROSS JOIN range($dim) t(p)) GROUP BY j, p),
         |c$r AS MATERIALIZED (
         |  SELECT sp.j, coalesce(mm.c, pv.c) AS c
         |  FROM range($k) sp(j)
         |  LEFT JOIN (SELECT j, list(m ORDER BY p) AS c FROM m$r GROUP BY j) mm ON sp.j = mm.j
         |  JOIN c${r - 1} pv ON sp.j = pv.j)""".stripMargin
    }.mkString(",\n")
    s"""WITH emb AS MATERIALIZED (
       |  SELECT $idCol, CAST($vecCol AS DOUBLE[]) AS v FROM $src WHERE $vecCol IS NOT NULL),
       |ini AS MATERIALIZED (
       |  SELECT rn - 1 AS j, v FROM (
       |    SELECT row_number() OVER (ORDER BY $hv, $idCol) AS rn, v FROM emb)
       |  WHERE rn <= $k),
       |c0 AS MATERIALIZED (SELECT j, v AS c FROM ini),
       |$rounds,
       |fin AS (${asn(s"c$iters")})
       |SELECT $idCol, CAST(j AS INT) AS cluster,
       |  round(list_inner_product(v, v) + s, 6) AS dist2_6
       |FROM fin""".stripMargin
  }

  def statsEntropy(cols: Seq[String], src: String = "lineitem"): String =
    cols.map { c =>
      s"""SELECT '$c' AS "column", CAST(sum(c) AS BIGINT) AS n_rows,
         |  round(ln(sum(c)) - sum(c * ln(c)) / sum(c), 6) AS entropy6
         |FROM (SELECT count(*) AS c FROM $src GROUP BY CAST($c AS VARCHAR))""".stripMargin
    }.mkString("\n", "\nUNION ALL\n", "")

  /** Mirror of `Profiling.corrMatrix`: the identical sufficient-statistics
    * expression tree `(nΣxy − ΣxΣy)/√((nΣx²−(Σx)²)(nΣy²−(Σy)²))`, pairs
    * i < j in declaration order, zero-variance sentinel -1.
    */
  def statsCorr(cols: Seq[String], src: String = "lineitem"): String = {
    val pairs = for { i <- cols.indices; j <- cols.indices if i < j }
      yield (cols(i), cols(j))
    val sums = pairs.zipWithIndex.flatMap { case ((a, b), ix) =>
      val both = s"$a IS NOT NULL AND $b IS NOT NULL"
      val x = s"CASE WHEN $both THEN CAST($a AS DOUBLE) END"
      val y = s"CASE WHEN $both THEN CAST($b AS DOUBLE) END"
      Seq(s"count($x) AS n_$ix",
        s"sum($x) AS sx_$ix", s"sum($y) AS sy_$ix",
        s"sum(($x) * ($y)) AS sxy_$ix",
        s"sum(($x) * ($x)) AS sxx_$ix", s"sum(($y) * ($y)) AS syy_$ix")
    }
    val rows = pairs.zipWithIndex.map { case ((a, b), ix) =>
      val num = s"n_$ix * sxy_$ix - sx_$ix * sy_$ix"
      val dx = s"n_$ix * sxx_$ix - sx_$ix * sx_$ix"
      val dy = s"n_$ix * syy_$ix - sy_$ix * sy_$ix"
      s"""SELECT '$a' AS col_a, '$b' AS col_b, n_$ix AS n_both,
         |  CASE WHEN $dx > 0 AND $dy > 0
         |    THEN round(($num) / sqrt(($dx) * ($dy)), 4)
         |    ELSE -1.0 END AS corr4 FROM s""".stripMargin
    }
    s"WITH s AS (SELECT ${sums.mkString(",\n  ")} FROM $src)\n" +
      rows.mkString("\nUNION ALL\n")
  }
}
