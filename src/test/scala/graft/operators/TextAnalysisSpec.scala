package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

class TextAnalysisSpec extends AnyFunSuite with SparkSpec {

  import testImplicits._

  test("tokenCounts: whitespace and bpe-ish counts") {
    val df = Seq((1, "Hello, world! This is a test."), (2, "one two  three")).toDF("id", "text")
    val m = TextAnalysis.tokenCounts(df).collect()
      .map(r => r.getAs[Int]("id") -> (r.getAs[Int]("ws_tokens"), r.getAs[Int]("bpe_tokens"))).toMap
    assert(m(1) == ((6, 9))) // Hello , world ! This is a test . → 6 ws / 9 bpe
    assert(m(2) == ((3, 3)))
  }

  test("flagContaminated: n-gram overlap with a benchmark set, no pair space") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"), // contains bench 3-grams
      (2L, "completely unrelated prose about spark catalyst planning rules"),
      (3L, "the quick brown cat sleeps")) // shares "the quick brown" only
      .toDF("doc_id", "text")
    val bench = Seq((100L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.flagContaminated(corpus, bench, n = 3, minHits = 2)
      .select("doc_id", "contam_hits", "contaminated").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(out(1L)._1 >= 6 && out(1L)._2) // 7 bench grams, all present
    assert(out(2L) == ((0L, false)))
    assert(out(3L)._1 == 1L && !out(3L)._2) // one shared gram < minHits=2
    // scale shape: the bench gram set is broadcast — no shuffle of the corpus
    // gram explosion for the probe join
    val plan = TextAnalysis.flagContaminated(corpus, bench).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"))
  }

  test("qualityScore fields are consistent and bounded") {
    val df = Seq(
      (1, "the cat sat on the mat and it was good for all of us at home"),
      (2, "!!!! ???? ,,,, ....")).toDF("id", "text")
    val out = TextAnalysis.qualityScore(df).collect()
      .map(r => r.getAs[Int]("id") -> r).toMap
    val good = out(1); val junk = out(2)
    assert(good.getAs[Double]("quality_score") > junk.getAs[Double]("quality_score"))
    assert(good.getAs[Double]("stopword_ratio") > 0.3)
    Seq(good, junk).foreach { r =>
      val q = r.getAs[Double]("quality_score")
      assert(q >= 0.0 && q <= 1.0)
    }
  }

  test("langId picks the stopword-matching language; CJK short-circuit") {
    val df = Seq(
      (1, "the cat is on the mat and it was there for a while"),
      (2, "le chat est sur la table et il est dans la maison avec un livre"),
      (3, "der Hund ist nicht mit der Katze und ein Vogel im Garten"),
      (4, "el perro es un animal que vive en la casa con los gatos"),
      (5, "你好世界这是一个测试文档")).toDF("id", "text")
    val m = TextAnalysis.langId(df).select("id", "lang_pred").as[(Int, String)].collect().toMap
    assert(m(1) == "en" && m(2) == "fr" && m(3) == "de" && m(4) == "es" && m(5) == "zh")
  }

  test("fingerprint: equal texts equal, edits change it, deterministic") {
    val df = Seq(
      (1, "a long enough document body for rolling hashes to work with"),
      (2, "a long enough document body for rolling hashes to work with"),
      (3, "a totally different body of text with nothing shared at all here")).toDF("id", "text")
    val m = TextAnalysis.fingerprint(df).select("id", "doc_fp").as[(Int, Long)].collect().toMap
    assert(m(1) == m(2))
    assert(m(1) != m(3)) // disjoint shingle sets → different minima
    // deterministic across runs
    val m2 = TextAnalysis.fingerprint(df).select("id", "doc_fp").as[(Int, Long)].collect().toMap
    assert(m == m2)
  }

  test("packSequences: contiguous bins per shard, capacity respected on bin starts") {
    val df = Seq(
      (1L, 0L, 200L), (2L, 0L, 200L), (3L, 0L, 200L), (4L, 0L, 600L), (5L, 0L, 50L),
      (6L, 1L, 512L), (7L, 1L, 1L)).toDF("doc_id", "shard", "tokens")
    val out = TextAnalysis.packSequences(df, "tokens", 512, "shard", "doc_id")
      .select("doc_id", "pack_id").as[(Long, Long)].collect().toMap
    // shard 0 prefix sums: 0,200,400,600,1200 -> bins 0,0,0,1,2
    assert(out(1L) == 0 && out(2L) == 0 && out(3L) == 0)
    assert(out(4L) == 1 && out(5L) == 2)
    // shard 1 packs independently: 0,512 -> bins 0,1
    assert(out(6L) == 0 && out(7L) == 1)
    // no shuffle beyond the shard window: plan partitions by shard
    val plan = TextAnalysis.packSequences(df, "tokens", 512, "shard", "doc_id")
      .queryExecution.executedPlan.toString
    assert(plan.contains("Window"))
  }

  test("redactPii scrubs emails, IPs, SSNs, phones; clean text passes through") {
    val df = Seq(
      (1L, "write to jane.doe+x@corp.example.org today"),
      (2L, "server at 192.168.1.254 port 80"),
      (3L, "ssn 123-45-6789 and phone +1-555-0199"),
      (4L, "call 44-555-0123 now"),
      (5L, "no pii here, just 42 words and 3.14")).toDF("id", "text")
    val out = TextAnalysis.redactPii(df).orderBy("id")
      .select("text_clean").collect().map(_.getString(0))
    assert(out(0) == "write to <EMAIL> today")
    assert(out(1) == "server at <IP> port 80")
    assert(out(2) == "ssn <SSN> and phone <PHONE>")
    assert(out(3) == "call <PHONE> now")
    assert(out(4) == "no pii here, just 42 words and 3.14")
  }

  test("stripBoilerplate removes corpus-frequent lines, keeps order") {
    val df = Seq(
      (1L, "unique one\ncookie banner\nbody of one\nfooter text"),
      (2L, "unique two\ncookie banner\nfooter text"),
      (3L, "cookie banner\nunique three\nfooter text"),
      (4L, "all original here\nnothing shared")).toDF("doc_id", "text")
    val out = TextAnalysis.stripBoilerplate(df, minDocs = 3).orderBy("doc_id")
      .select("text_clean", "segments_kept", "segments_total")
      .as[(String, Long, Long)].collect()
    assert(out(0) == (("unique one\nbody of one", 2L, 4L)))
    assert(out(1) == (("unique two", 1L, 3L)))
    assert(out(2) == (("unique three", 1L, 3L)))
    assert(out(3) == (("all original here\nnothing shared", 2L, 2L)))
  }

  test("stripBoilerplate: within-doc repeats count once; full wipe yields empty") {
    val df = Seq(
      (1L, "spam\nspam\nspam"), // one doc repeating a line: NOT corpus-frequent
      (2L, "gone\nalso gone"),
      (3L, "gone\nalso gone"),
      (4L, "gone\nalso gone")).toDF("doc_id", "text")
    val out = TextAnalysis.stripBoilerplate(df, minDocs = 3).orderBy("doc_id")
      .select("text_clean", "segments_kept").as[(String, Long)].collect()
    assert(out(0) == (("spam\nspam\nspam", 3L)))
    assert(out(1) == (("", 0L)) && out(2) == (("", 0L)) && out(3) == (("", 0L)))
  }

  test("dedupSegments keeps the corpus-wide first occurrence only") {
    val df = Seq(
      (2L, "shared line\nunique two\ntail two"),
      (1L, "unique one\nshared line\nshared line\ntail one"),
      (3L, "shared line\ntail one\nunique three")).toDF("doc_id", "text")
    val out = TextAnalysis.dedupSegments(df).orderBy("doc_id")
      .select("text_dedup", "segments_kept", "segments_total")
      .as[(String, Long, Long)].collect()
    // doc 1 owns "shared line" (earliest doc_id) at pos 1 only (within-doc
    // repeat at pos 2 dropped); doc 1 also owns "tail one"
    assert(out(0) == (("unique one\nshared line\ntail one", 3L, 4L)))
    assert(out(1) == (("unique two\ntail two", 2L, 3L)))
    assert(out(2) == (("unique three", 1L, 3L)))
  }

  test("dedupSegments: fully duplicated later doc empties; order survives") {
    val df = Seq(
      (1L, "a\nb\nc"),
      (2L, "c\nb\na"), // all owned by doc 1
      (3L, "b\nz\na")).toDF("doc_id", "text")
    val out = TextAnalysis.dedupSegments(df).orderBy("doc_id")
      .select("text_dedup", "segments_kept").as[(String, Long)].collect()
    assert(out(0) == (("a\nb\nc", 3L)))
    assert(out(1) == (("", 0L)))
    assert(out(2) == (("z", 1L)))
  }

  test("repetitionStats: fractions and the repetitive flag") {
    val df = Seq(
      (1L, "buy now buy now buy now buy now buy now"), // one bigram loop
      (2L, "every word here is completely distinct truly"),
      (3L, "a a a a a a a a"),
      (4L, "x")).toDF("doc_id", "text")
    val out = TextAnalysis.repetitionStats(df).orderBy("doc_id")
      .select("n_words", "dup_word_frac", "top_word_frac", "dup_2gram_frac",
        "top_2gram_frac", "repetitive")
      .as[(Int, Double, Double, Double, Double, Boolean)].collect()
    // doc1: 10 words {buy,now}×5 → dup 8/10, top 5/10; bigrams 9, "buy now"=5,
    // "now buy"=4 → dup 7/9, top 5/9 → repetitive
    assert(out(0) == ((10, 0.8, 0.5, 7.0 / 9.0, 5.0 / 9.0, true)))
    assert(out(1)._1 == 7 && out(1)._2 == 0.0 && out(1)._6 == false)
    assert(out(2) == ((8, 7.0 / 8.0, 1.0, 6.0 / 7.0, 1.0, true)))
    assert(out(3) == ((1, 0.0, 1.0, 0.0, 0.0, false))) // no bigrams → zero fracs
  }

  test("tfidf: closed-form scores, corpus-wide idf, per-doc top-k") {
    // 3 docs; "shared" in all (idf 0), "pair" in two, "only" in one
    val df = Seq(
      (1L, "shared pair only only"),
      (2L, "shared pair"),
      (3L, "shared")).toDF("doc_id", "text")
    val all = TextAnalysis.tfidf(df).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    def s(tf: Long, dfq: Int) = math.rint(tf * math.log(3.0 / dfq) * 1e4) / 1e4
    assert(all((1L, "only")) == ((2L, s(2, 1))))
    assert(all((1L, "pair")) == ((1L, s(1, 2))))
    assert(all((1L, "shared")) == ((1L, 0.0)))
    assert(all.size == 6)
    // topK: doc 1's best term is the rare doubled one; ties break by term asc
    val top1 = TextAnalysis.tfidf(df, topK = 1).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(top1(1L) == "only")
    assert(top1(2L) == "pair")
    assert(top1(3L) == "shared")
    // empty/whitespace docs contribute nothing and don't count into N
    val withEmpty = df.unionByName(Seq((4L, "   ")).toDF("doc_id", "text"))
    val n4 = TextAnalysis.tfidf(withEmpty).collect()
    assert(!n4.exists(_.getLong(0) == 4L))
    assert(n4.map(r => (r.getLong(0), r.getString(1)) -> r.getDouble(3)).toMap
      == all.map { case (k, v) => k -> v._2 })
  }

  test("repetitionStats: a 100k-word document completes in linear time") {
    // ~50k distinct words + a hot word: the old O(distinct × n) per-row
    // transform would do ~5×10^9 comparisons here; the sorted-run fold is ms
    val words = (0 until 100000).map(i => if (i % 4 == 0) "hot" else s"w${i}")
    val df = Seq((1L, words.mkString(" "))).toDF("doc_id", "text")
    val t0 = System.nanoTime()
    val row = TextAnalysis.repetitionStats(df)
      .select("n_words", "top_word_frac", "dup_word_frac").head()
    val elapsedMs = (System.nanoTime() - t0) / 1e6
    assert(row.getInt(0) == 100000)
    assert(math.abs(row.getDouble(1) - 0.25) < 1e-12) // hot = 25k / 100k
    assert(math.abs(row.getDouble(2) - 0.24999) < 1e-9) // 25k hot - 1 first
    assert(elapsedMs < 30000, s"quadratic blow-up? took $elapsedMs ms")
  }

  test("bigram LM: closed-form smoothing, null for no-bigram docs") {
    val ref = Seq((1L, "ab")).toDF("doc_id", "text")
    val model = TextAnalysis.bigramLmFit(ref)
    // corpus = one bigram (a,b): logp(ab) = ln((1+1)/(1+38)); unseen context
    // rows are uniform ln(1/38)
    val a = graft.functions.TextKernel.BigramAlphabet
    val idA = 2; val idB = 3 // 'a' → 2, 'b' → 3
    assert(math.abs(model(idA * a + idB) - math.log(2.0 / 39.0)) < 1e-12)
    assert(math.abs(model(idB * a + idA) - math.log(1.0 / 38.0)) < 1e-12)

    val scored = TextAnalysis.withPerplexity(
        Seq((1L, "ab"), (2L, "a"), (3L, "")).toDF("doc_id", "text"), model)
      .orderBy("doc_id").select("ppl").collect()
    assert(math.abs(scored(0).getDouble(0) - math.exp(-math.log(2.0 / 39.0))) < 1e-9)
    assert(scored(1).isNullAt(0) && scored(2).isNullAt(0))
  }

  test("bigram LM: English-trained model ranks English below gibberish") {
    val en = Seq.tabulate(30)(i =>
      (i.toLong, "the quick brown fox jumps over the lazy dog and other plain sentences " +
        "with regular english words that look like ordinary text"))
      .toDF("doc_id", "text")
    val model = TextAnalysis.bigramLmFit(en)
    val scored = TextAnalysis.withPerplexity(Seq(
        (1L, "a normal english sentence with regular words"),
        (2L, "zq xv qj wk vz jx qq zz kv jq xz")).toDF("doc_id", "text"), model)
      .orderBy("doc_id").select("ppl").collect()
    assert(scored(0).getDouble(0) < scored(1).getDouble(0),
      s"en=${scored(0).getDouble(0)} gibberish=${scored(1).getDouble(0)}")
  }

  test("bigram LM: normalization walks codepoints (emoji is ONE other-class)") {
    // "a😀b" → classes a,_,b → bigrams (a,_), (_,b); a UTF-16 halves walk
    // would see three chars after 'a' and a different bigram count
    import graft.functions.TextFunctions._
    val ids = Seq(Tuple1("a😀b")).toDF("text")
      .select(bigram_ids(col("text"))).as[Seq[Int]].head()
    val a = graft.functions.TextKernel.BigramAlphabet
    assert(ids == Seq(2 * a + 1, 1 * a + 3))
  }

  test("compression ratio: repetitive text << prose < random; empty = 1") {
    val rnd = new scala.util.Random(7)
    val noise = Array.fill(2000)((rnd.nextInt(0x7e - 0x21) + 0x21).toChar).mkString
    val docs = Seq(
      (1L, "spam " * 400),
      (2L, "the quick brown fox jumps over the lazy dog and keeps " +
        "running through fields of barley while the sun sets slowly " * 8),
      (3L, noise),
      (4L, "")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.withCompressionRatio(docs)
      .select("doc_id", "compress_ratio").as[(Long, Double)].collect().toMap
    assert(out(1L) < 0.05, s"repetitive=${out(1L)}")
    assert(out(2L) > out(1L) && out(2L) < 0.6, s"prose=${out(2L)}")
    assert(out(3L) > 0.8, s"noise=${out(3L)}")
    assert(out(4L) == 1.0)
    // deterministic across evaluation (codegen'd kernel, no state carry-over)
    val again = TextAnalysis.withCompressionRatio(docs)
      .select("doc_id", "compress_ratio").as[(Long, Double)].collect().toMap
    assert(again == out)
  }

  test("distinct-gram ratio: closed-form extremes and the short-text guard") {
    val docs = Seq(
      (1L, "a" * 100),            // one distinct 8-gram over 93 positions
      (2L, ('a' to 'z').mkString * 4), // period-26 text: exactly 26 distinct 8-grams
      (3L, "short"),              // below n: defined as 1.0
      (4L, "")                    // empty: 1.0
    ).toDF("doc_id", "text")
    val out = TextAnalysis.withDistinctGramRatio(docs)
      .select("doc_id", "gram_ratio").as[(Long, Double)].collect().toMap
    assert(out(1L) == 1.0 / 93.0)
    assert(out(2L) == 26.0 / (104 - 7))
    assert(out(3L) == 1.0 && out(4L) == 1.0)
    // the redundancy ordering agrees with the deflate gate's intent:
    // repetitive text scores far below unique-ish prose
    val mixed = Seq((1L, "the cat " * 40), (2L, (1 to 60).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text")
    val m = TextAnalysis.withDistinctGramRatio(mixed)
      .select("doc_id", "gram_ratio").as[(Long, Double)].collect().toMap
    assert(m(1L) < 0.1 && m(2L) > 0.5, s"ordering broken: $m")
  }

  test("NB classifier recovers a planted vocabulary signal") {
    // two disjoint vocabularies with a little shared noise
    val pos = (0 until 60).map(i => (i.toLong, s"alpha beta gamma shared${i % 5} delta", true))
    val neg = (60 until 120).map(i => (i.toLong, s"omega psi chi shared${i % 5} phi", false))
    val df = (pos ++ neg).toDF("doc_id", "text", "y").repartition(5)
    val out = TextAnalysis.nbClassify(df, col("y"), buckets = 64)
      .select("doc_id", "nb_pred").as[(Long, Boolean)].collect().toMap
    val acc = (pos ++ neg).count { case (id, _, y) => out(id) == y }.toDouble / 120
    assert(acc > 0.95, s"accuracy $acc")
  }

  test("NB classifier: tokenless docs score the prior; output is partition-stable") {
    val df = Seq(
      (1L, "aa bb cc", true), (2L, "aa bb", true), (3L, "dd ee ff", false),
      (4L, "", true), (5L, "!!! ???", false)
    ).toDF("doc_id", "text", "y")
    val out = TextAnalysis.nbClassify(df, col("y"), buckets = 16)
      .select("doc_id", "nb_score").as[(Long, Double)].collect().toMap
    // docs 4 and 5 have no [\p{L}\p{Nd}] tokens → score == ln(n1/n0) exactly
    val prior = math.log(3.0 / 2.0)
    assert(out(4L) === prior && out(5L) === prior)
    val again = TextAnalysis.nbClassify(df.repartition(7), col("y"), buckets = 16)
      .select("doc_id", "nb_score").as[(Long, Double)].collect().toMap
    for ((k, v) <- out) assert(math.abs(again(k) - v) < 1e-9, s"doc $k unstable")
  }

  test("NB classifier rejects non-power-of-two bucket counts") {
    val df = Seq((1L, "a", true)).toDF("doc_id", "text", "y")
    intercept[IllegalArgumentException] {
      TextAnalysis.nbClassify(df, col("y"), buckets = 100)
    }
  }

  test("BM25: closed-form scores, ranking, topK bound, query-term dedup") {
    val corpus = Seq(
      (1L, "apple banana apple"),
      (2L, "banana cherry"),
      (3L, "cherry cherry cherry cherry")).toDF("doc_id", "text")
    val qs = Seq((10L, "apple cherry"), (11L, "apple apple")).toDF("query_id", "query")
    val out = TextAnalysis.searchBM25(corpus, qs, topK = 10)
      .select("query_id", "doc_id", "score").as[(Long, Long, Double)].collect()

    // hand BM25 (k1=1.2, b=0.75): N=3, avgdl=3
    def idf(df0: Int) = math.log(1.0 + (3.0 - df0 + 0.5) / (df0 + 0.5))
    def tfn(tf: Int, dl: Int) =
      tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / 3.0))
    def r4(x: Double) = math.rint(x * 1e4) / 1e4
    val q10 = out.filter(_._1 == 10L).map(r => r._2 -> r._3).toMap
    assert(q10.keySet == Set(1L, 2L, 3L))
    assert(math.abs(q10(1L) - r4(idf(1) * tfn(2, 3))) < 1e-9) // apple in d1
    assert(math.abs(q10(2L) - r4(idf(2) * tfn(1, 2))) < 1e-9) // cherry in d2
    assert(math.abs(q10(3L) - r4(idf(2) * tfn(4, 4))) < 1e-9) // cherry in d3
    // rarer term + high tf outranks frequent term; longer tf run beats short
    assert(q10(1L) > q10(3L) && q10(3L) > q10(2L))

    // duplicate query terms count once: "apple apple" == the apple component
    val q11 = out.filter(_._1 == 11L).map(r => r._2 -> r._3).toMap
    assert(q11 == Map(1L -> r4(idf(1) * tfn(2, 3))))

    // topK bound: k=1 returns exactly the best doc per query
    val top1 = TextAnalysis.searchBM25(corpus, qs, topK = 1)
      .select("query_id", "doc_id").as[(Long, Long)].collect().toMap
    assert(top1 == Map(10L -> 1L, 11L -> 1L))
  }

  // BM25 index helpers: the "__bucket=<b>" directories a text column's
  // terms hash into, and every file under an index subtree with its bytes
  private def bucketDirs(texts: org.apache.spark.sql.DataFrame, textCol: String): Set[String] =
    texts.select(explode(TextAnalysis.wordTokens(col(textCol))).as("t"))
      .select(pmod(graft.functions.TextFunctions.string_hash64(col("t"), 7L),
        lit(TextAnalysis.bm25Buckets.toLong)))
      .distinct().as[Long].collect().map(v => s"__bucket=$v").toSet
  private def files(dir: String): Map[String, Seq[Byte]] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(dir)
    val s = java.nio.file.Files.walk(root)
    try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
      .map(p => root.relativize(p).toString ->
        scala.collection.immutable.ArraySeq.unsafeWrapArray(java.nio.file.Files.readAllBytes(p)))
      .toMap
    finally s.close()
  }
  private def hits(df: org.apache.spark.sql.DataFrame) =
    df.select("query_id", "doc_id", "score").as[(Long, Long, Double)].collect().toSet
  private def refreshCorpora = (
    (0 until 40).map(i => (i.toLong, s"word$i alpha beta common${i % 5} tail")).toDF("doc_id", "text"),
    (40 until 60).map(i => (i.toLong, s"word$i alpha gamma common${i % 5}")).toDF("doc_id", "text"))

  test("BM25 index: persisted search equals in-memory search; buckets prune") {
    val corpus = (0 until 60).map(i =>
      (i.toLong, s"word$i alpha beta common${i % 5} tail")).toDF("doc_id", "text")
    val qs = Seq((1L, "alpha common2"), (2L, "word7 tail")).toDF("query_id", "query")
    val dir = tmpDir("bm25idx")
    TextAnalysis.buildBM25Index(corpus, dir)
    val direct = hits(TextAnalysis.searchBM25(corpus, qs, topK = 5))
    val (served, _, plans) = traced(TextAnalysis.searchBM25Index(spark, dir, qs, topK = 5))
    assert(hits(served) == direct && direct.nonEmpty)
    // the postings scan the search ran reads exactly the query terms' bucket
    // directories — directory-level pruning is the whole point of the layout
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val roots = plans.flatMap(_.optimizedPlan.collect { case l: LogicalRelation => l.relation })
      .collect { case r: HadoopFsRelation => r.location.rootPaths }
      .filter(_.exists(_.getParent.getName == "postings"))
    assert(roots.nonEmpty)
    roots.foreach { ps =>
      assert(ps.map(_.getName).toSet == bucketDirs(qs, "query") && ps.size == ps.toSet.size, ps)
    }
  }

  // the distributed plan, which a driver cap of 0 forces
  private def fallbackBM25(dir: String, qs: org.apache.spark.sql.DataFrame, topK: Int) =
    TextAnalysis.searchBM25Index(spark, dir, qs, "query_id", "query", "doc_id",
      1.2, 0.75, topK, 0)

  test("BM25 index: a warm single-query search runs at most 2 Spark jobs") {
    val corpus = (0 until 60).map(i =>
      (i.toLong, s"word$i alpha beta common${i % 5} tail")).toDF("doc_id", "text")
    val dir = tmpDir("bm25jobs")
    TextAnalysis.buildBM25Index(corpus, dir)
    val q = Seq((1L, "alpha common2 word7")).toDF("query_id", "query")
    TextAnalysis.searchBM25Index(spark, dir, q, topK = 5).collect()
    val (out, jobs, _) = traced(TextAnalysis.searchBM25Index(spark, dir, q, topK = 5).collect())
    assert(out.nonEmpty)
    assert(jobs <= 2, s"$jobs jobs")
  }

  test("BM25 index: the driver path equals the distributed plan, schema included") {
    val corpus = (0 until 60).map(i =>
      (i.toLong, s"word$i alpha beta common${i % 5} tail")).toDF("doc_id", "text")
    val dir = tmpDir("bm25paths")
    TextAnalysis.buildBM25Index(corpus, dir)
    val present = bucketDirs(corpus, "text")
    val miss = (0 until 100).map(i => s"zz$i")
      .find(t => bucketDirs(Seq(t).toDF("t"), "t").intersect(present).isEmpty).get
    // ties at the top-k cut, repeated terms, a repeated query id, an empty
    // and a null query
    val batch = Seq[(Long, String)]((1L, "alpha common2"), (2L, "Tail tail word7"),
        (3L, "common3 beta"), (3L, "word9"), (4L, ""), (5L, null), (6L, s"alpha $miss"))
      .toDF("query_id", "query")
    val misses = Seq((1L, miss), (2L, "")).toDF("query_id", "query")
    Seq((batch, 3, true), (batch, 10, true), (misses, 5, false)).foreach { case (qs, k, hit) =>
      val driver = TextAnalysis.searchBM25Index(spark, dir, qs, topK = k)
      val plan = fallbackBM25(dir, qs, k)
      // a batch that hits no bucket optimizes to an empty local frame either way
      assert(servedOnDriver(driver) && servedOnDriver(plan) != hit)
      assert(driver.schema == plan.schema)
      assert(sortedRows(driver) == sortedRows(plan))
    }
    assert(sortedRows(TextAnalysis.searchBM25Index(spark, dir, batch, topK = 3)).nonEmpty)
  }

  test("BM25 index: a query whose terms hit no bucket returns an empty frame") {
    val corpus = Seq((1L, "alpha beta")).toDF("doc_id", "text")
    val dir = tmpDir("bm25miss")
    TextAnalysis.buildBM25Index(corpus, dir)
    val present = bucketDirs(corpus, "text")
    val miss = (0 until 100).map(i => s"zz$i")
      .find(t => bucketDirs(Seq(t).toDF("t"), "t").intersect(present).isEmpty).get
    val hit = TextAnalysis.searchBM25Index(spark, dir, Seq((1L, "alpha")).toDF("query_id", "query"))
    val none = TextAnalysis.searchBM25Index(spark, dir,
      Seq((1L, miss), (2L, "")).toDF("query_id", "query"))
    assert(none.collect().isEmpty && hit.count() == 1L)
    assert(none.schema == hit.schema)
  }

  test("BM25 incremental refresh equals a full rebuild; untouched buckets stay") {
    val (a, b) = refreshCorpora
    val dir1 = tmpDir("bm25rf1")
    TextAnalysis.buildBM25Index(a, dir1)
    val before = Seq("postings", "docs").map(d => d -> files(s"$dir1/$d")).toMap
    TextAnalysis.refreshBM25Index(spark, dir1, b)
    val dir2 = tmpDir("bm25rf2")
    TextAnalysis.buildBM25Index(a.unionByName(b), dir2)
    // postings (no df is stored) and stats are value-identical to the full
    // union rebuild
    def postings(d: String) = spark.read.parquet(s"$d/postings")
      .select("__term", "__doc", "__tf", "__dl", "__bucket")
      .as[(String, Long, Long, Long, Long)].collect().toSet
    assert(postings(dir1) == postings(dir2))
    def stats(d: String) = spark.read.parquet(s"$d/stats")
      .as[(Long, Long)].collect().head
    assert(stats(dir1) == stats(dir2))
    // searches agree with the direct in-memory scorer over the union
    val qs = Seq((1L, "alpha common2"), (2L, "word45 gamma")).toDF("query_id", "query")
    val direct = hits(TextAnalysis.searchBM25(a.unionByName(b), qs, topK = 5))
    assert(hits(TextAnalysis.searchBM25Index(spark, dir1, qs, topK = 5)) == direct)
    // the refresh only appended: every file present before it is byte-
    // identical after it, and each bucket the delta's vocabulary hashes
    // into got exactly one new data file
    before.foreach { case (d, old) =>
      val now = files(s"$dir1/$d")
      old.foreach { case (f, bytes) => assert(now.get(f).contains(bytes), s"$d/$f changed") }
    }
    val added = files(s"$dir1/postings").keySet.diff(before("postings").keySet)
      .filter(_.endsWith(".parquet")).toSeq.map(_.takeWhile(_ != '/'))
    assert(added.sorted == bucketDirs(b, "text").toSeq.sorted)
    // repeated doc ids fail loudly; an empty delta is a no-op
    intercept[IllegalArgumentException] {
      TextAnalysis.refreshBM25Index(spark, dir1, a.limit(1))
    }
    TextAnalysis.refreshBM25Index(spark, dir1, b.limit(0))
    assert(postings(dir1) == postings(dir2))
  }

  test("BM25 index: a search after refresh equals a search of a full rebuild, on the driver") {
    val (a, b) = refreshCorpora
    val refreshed = tmpDir("bm25rfd1")
    TextAnalysis.buildBM25Index(a, refreshed)
    val qs = Seq((1L, "alpha common2"), (2L, "word45 gamma"), (3L, "tail word3"))
      .toDF("query_id", "query")
    val before = sortedRows(TextAnalysis.searchBM25Index(spark, refreshed, qs, topK = 5))
    TextAnalysis.refreshBM25Index(spark, refreshed, b)
    val rebuilt = tmpDir("bm25rfd2")
    TextAnalysis.buildBM25Index(a.unionByName(b), rebuilt)
    val got = TextAnalysis.searchBM25Index(spark, refreshed, qs, topK = 5)
    val want = TextAnalysis.searchBM25Index(spark, rebuilt, qs, topK = 5)
    assert(servedOnDriver(got) && servedOnDriver(want))
    assert(got.schema == want.schema && sortedRows(got) == sortedRows(want))
    assert(sortedRows(got) != before)
  }

  test("BM25 refresh commits stats and docs only after the postings append") {
    val (a, b) = refreshCorpora
    val dir = tmpDir("bm25crash")
    TextAnalysis.buildBM25Index(a, dir)
    val qs = Seq((1L, "alpha common2"), (2L, "word45 gamma")).toDF("query_id", "query")
    val served = hits(TextAnalysis.searchBM25Index(spark, dir, qs, topK = 5))
    val before = files(dir)
    val key = "spark.sql.sources.commitProtocolClass"
    val prev = spark.conf.getOption(key)
    FailingPostingsCommit.under = dir
    spark.conf.set(key, classOf[FailingPostingsCommit].getName)
    try intercept[Exception](TextAnalysis.refreshBM25Index(spark, dir, b))
    finally {
      prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      FailingPostingsCommit.under = null
    }
    val after = files(dir)
    Seq("stats/", "docs/").foreach { d =>
      assert(after.filter(_._1.startsWith(d)) == before.filter(_._1.startsWith(d)), s"$d changed")
    }
    assert(hits(TextAnalysis.searchBM25Index(spark, dir, qs, topK = 5)) == served)
    // the failed delta retries cleanly
    TextAnalysis.refreshBM25Index(spark, dir, b)
    assert(hits(TextAnalysis.searchBM25Index(spark, dir, qs, topK = 5)) ==
      hits(TextAnalysis.searchBM25(a.unionByName(b), qs, topK = 5)))
  }

  test("BM25 index written with stored document frequencies searches and refreshes") {
    val (a, b) = refreshCorpora
    val dir = tmpDir("bm25new")
    TextAnalysis.buildBM25Index(a, dir)
    // the older layout: the same bucket directories, each posting carrying
    // its term's df
    val old = tmpDir("bm25old")
    val p = spark.read.parquet(s"$dir/postings")
    p.join(p.groupBy("__term").agg(count(lit(1)).as("__df")), "__term")
      .select("__doc", "__term", "__tf", "__dl", "__df", "__bucket")
      .write.mode("overwrite").partitionBy("__bucket").parquet(s"$old/postings")
    Seq("stats", "docs").foreach(d =>
      spark.read.parquet(s"$dir/$d").write.mode("overwrite").parquet(s"$old/$d"))
    val qs = Seq((1L, "alpha common2"), (2L, "word45 gamma tail")).toDF("query_id", "query")
    assert(hits(TextAnalysis.searchBM25Index(spark, old, qs, topK = 5)) ==
      hits(TextAnalysis.searchBM25(a, qs, topK = 5)))
    TextAnalysis.refreshBM25Index(spark, old, b)
    assert(hits(TextAnalysis.searchBM25Index(spark, old, qs, topK = 5)) ==
      hits(TextAnalysis.searchBM25(a.unionByName(b), qs, topK = 5)))
  }

  // a refresh with an explicit driver-path cap on delta tokens; 0 forces
  // the distributed plan
  private def refreshVia(dir: String, delta: org.apache.spark.sql.DataFrame, cap: Int): Unit =
    TextAnalysis.refreshBM25Index(spark, dir, delta, "text", "doc_id", cap)
  private def shuffles(plans: Seq[org.apache.spark.sql.execution.QueryExecution]) =
    plans.map(_.executedPlan.toString).filter(_.contains("Exchange"))

  test("BM25 refresh: a warm small delta runs at most 6 Spark jobs and no shuffle") {
    val (a, b) = refreshCorpora
    val dir = tmpDir("bm25rfjobs")
    TextAnalysis.buildBM25Index(a, dir)
    TextAnalysis.refreshBM25Index(spark, dir, b.where(col("doc_id") < 50))
    val (_, jobs, plans) =
      traced(TextAnalysis.refreshBM25Index(spark, dir, b.where(col("doc_id") >= 50)))
    assert(jobs <= 6, s"$jobs jobs")
    assert(plans.nonEmpty && shuffles(plans).isEmpty, shuffles(plans).mkString("\n"))
    // the check sees the distributed plan's bucket repartition
    val dir2 = tmpDir("bm25rfjobs2")
    TextAnalysis.buildBM25Index(a, dir2)
    val (_, _, planned) = traced(refreshVia(dir2, b, 0))
    assert(shuffles(planned).nonEmpty)
  }

  test("BM25 refresh: the driver path and the distributed plan write the same index") {
    val (a, b) = refreshCorpora
    // a null text and an empty one add no postings on either path
    val delta = b.unionByName(Seq((60L, null: String), (61L, " ")).toDF("doc_id", "text"))
    def refreshed(cap: Int) = {
      val dir = tmpDir(s"bm25rfcap$cap")
      TextAnalysis.buildBM25Index(a, dir)
      val before = files(s"$dir/postings").keySet
      refreshVia(dir, delta, cap)
      val added = files(s"$dir/postings").keySet.diff(before)
        .filter(_.endsWith(".parquet")).toSeq.map(_.takeWhile(_ != '/'))
      assert(added.sorted == bucketDirs(b, "text").toSeq.sorted, s"cap $cap")
      def read(d: String) = sortedRows(spark.read.parquet(s"$dir/$d"))
      (sortedRows(spark.read.parquet(s"$dir/postings")
        .select("__term", "__doc", "__tf", "__dl", "__bucket")), read("stats"), read("docs"))
    }
    val driver = refreshed(1 << 20)
    assert(driver == refreshed(0))
    val rebuilt = tmpDir("bm25rfcapall")
    TextAnalysis.buildBM25Index(a.unionByName(b), rebuilt)
    assert(driver._1 == sortedRows(spark.read.parquet(s"$rebuilt/postings")
      .select("__term", "__doc", "__tf", "__dl", "__bucket")))
  }

  test("BM25 refresh: the duplicate-id guard fires before any write, on both paths") {
    val (a, b) = refreshCorpora
    Seq(1 << 20, 0).foreach { cap =>
      val dir = tmpDir(s"bm25rfdup$cap")
      TextAnalysis.buildBM25Index(a, dir)
      val before = files(dir)
      val err = intercept[IllegalArgumentException](refreshVia(dir, b.unionByName(a.limit(1)), cap))
      assert(err.getMessage.contains("overlap"), err.getMessage)
      assert(files(dir) == before, s"cap $cap")
    }
  }

  test("BM25 refresh: a non-integral id column is rejected before any job runs") {
    val (a, _) = refreshCorpora
    val dir = tmpDir("bm25rfid")
    TextAnalysis.buildBM25Index(a, dir)
    val before = files(dir)
    val delta = Seq((1.5, "alpha beta")).toDF("doc_id", "text")
    val (err, jobs, _) =
      traced(intercept[IllegalArgumentException](TextAnalysis.refreshBM25Index(spark, dir, delta)))
    assert(err.getMessage.contains("integral"), err.getMessage)
    assert(jobs == 0 && files(dir) == before)
  }

  test("BM25 term weight in Scala equals the bm25Term column bit for bit") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // (tf, dl, df, n, tt), df = n and dl far above avgdl included
    val grid = for {
      n <- Seq(1L, 7L, 1000L, 123457L)
      df <- Seq(1L, 2L, n / 3 + 1, n).distinct.filter(_ <= n)
      tt <- Seq(n, n * 37 + 11)
      dl <- Seq(1L, 3L, 97L, 1000000L)
      tf <- Seq(1L, 2L, dl).distinct.filter(_ <= dl)
    } yield Row(tf, dl, df, n, tt)
    val schema = StructType("__tf __dl __df __n __tt".split(" ").map(StructField(_, LongType)))
    // a local frame folds the projection on the driver (interpreted); an RDD
    // scan runs it in a codegen'd task
    val frames = Seq(spark.createDataFrame(java.util.Arrays.asList(grid: _*), schema),
      spark.createDataFrame(spark.sparkContext.parallelize(grid, 2), schema))
    for ((k1, b) <- Seq((1.2, 0.75), (0.9, 0.4), (2.0, 1.0), (1.5, 0.0)); frame <- frames) {
      val cols = "__tf __dl __df __n __tt".split(" ").map(col)
      frame.select(cols :+ TextAnalysis.bm25Term(k1, b): _*).collect().foreach { r =>
        val w = TextAnalysis.bm25Weight(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), k1, b)
        assert(java.lang.Double.doubleToRawLongBits(w) ==
          java.lang.Double.doubleToRawLongBits(r.getDouble(5)), s"$r k1=$k1 b=$b: $w")
      }
    }
  }

  test("BM25: per-query window is pre-shuffle pruned (WindowGroupLimit)") {
    val corpus = Seq((1L, "a b"), (2L, "b c"), (3L, "c a")).toDF("doc_id", "text")
    val qs = Seq((1L, "a c")).toDF("query_id", "query")
    val plan = TextAnalysis.searchBM25(corpus, qs, topK = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("cleanText folds, strips, collapses, trims") {
    val dirty = "“Hello” — it’s a​ test now   with\t\tspace\n\n\n\n\nnext  "
    val out = TextAnalysis.cleanText(Seq((1L, dirty)).toDF("id", "text"))
      .select("text_clean").head().getString(0)
    assert(out == "\"Hello\" - it's a test now with space\n\nnext")
    // idempotent: cleaning clean text is identity
    val again = TextAnalysis.cleanText(Seq((1L, out)).toDF("id", "text"))
      .select("text_clean").head().getString(0)
    assert(again == out)
    // exact-dup collapse works after cleanup where it fails before
    val variants = Seq((1L, "same  text"), (2L, "same text"), (3L, "same text"))
      .toDF("id", "text")
    val cleaned = TextAnalysis.cleanText(variants)
    assert(variants.select("text").distinct().count() == 3)
    assert(cleaned.select("text_clean").distinct().count() == 1)
  }

  test("chunkDocuments: windows, overlap, remainder, short docs") {
    val words = (1 to 100).map(i => s"w$i").mkString(" ")
    val df = Seq((1L, words), (2L, "just five little words here"), (3L, "")).toDF("doc_id", "text")
    val out = TextAnalysis.chunkDocuments(df, chunkTokens = 30, overlap = 10)
      .select("doc_id", "chunk_id", "chunk_text", "chunk_tokens").collect()
    val byDoc = out.groupBy(_.getLong(0))
    // doc 1: 100 tokens, step 20 → windows at 0,20,40,60,80 → ceil((100-30)/20)=4 → 5 chunks
    val c1 = byDoc(1L).sortBy(_.getInt(1))
    assert(c1.length == 5)
    assert(c1.head.getString(2).startsWith("w1 w2 ") && c1.head.getInt(3) == 30)
    // consecutive chunks overlap by 10 tokens
    val first = c1(0).getString(2).split(" ")
    val second = c1(1).getString(2).split(" ")
    assert(first.takeRight(10).sameElements(second.take(10)))
    // remainder window is short: tokens 81..100 = 20 tokens
    assert(c1.last.getInt(3) == 20)
    assert(c1.last.getString(2).split(" ").head == "w81")
    // short doc: one chunk, intact
    val c2 = byDoc(2L)
    assert(c2.length == 1 && c2.head.getString(2) == "just five little words here")
    // empty doc: one empty chunk, zero tokens
    val c3 = byDoc(3L)
    assert(c3.length == 1 && c3.head.getString(2) == "" && c3.head.getInt(3) == 0)
  }

  test("gopherRules: each rule fires on its designed violation") {
    val goodBody = ("the quick brown fox jumps over the lazy sleeping dog " * 5).trim
    val rows = Seq(
      (1L, goodBody),                                    // passes everything
      (2L, "too short to pass"),                         // word count
      (3L, Seq.fill(60)("a").mkString(" ")),             // mean word len < 3
      (4L, goodBody + " " + Seq.fill(12)("####").mkString(" ")), // symbols
      (5L, (1 to 10).map(i => s"• item $i of the list").mkString("\n") +
        "\nthe only prose line in it"),                  // bullet lines
      (6L, (1 to 10).map(i => s"line $i of the story trails off...").mkString("\n")), // ellipsis
      (7L, (1 to 60).map(_ => "12345").mkString(" ") + " the and of to in is it"), // alpha words
      (8L, Seq.fill(55)("zebra quantum").mkString(" ")))  // no stopwords
    val out = TextAnalysis.gopherRules(rows.toDF("doc_id", "text"), minWords = 40)
      .select("doc_id", "ok_word_count", "ok_mean_word_len", "ok_symbol_ratio",
        "ok_bullet_lines", "ok_ellipsis_lines", "ok_alpha_words", "ok_stopwords",
        "gopher_keep")
      .collect().map(r => r.getLong(0) ->
        (1 to 8).map(i => r.getBoolean(i))).toMap
    assert(out(1L).forall(identity), s"clean doc rejected: ${out(1L)}")
    assert(!out(2L)(0) && !out(2L)(7))  // word count fails -> keep fails
    assert(!out(3L)(1))
    assert(!out(4L)(2))
    assert(!out(5L)(3))
    assert(!out(6L)(4))
    assert(!out(7L)(5))
    assert(!out(8L)(6))
    assert((2L to 8L).forall(i => !out(i)(7)))
  }

  test("vocabularyOverlap: exact shared counts and jaccard per group pair") {
    val df = Seq(
      ("s1", "alpha beta gamma"), ("s1", "beta delta"), // s1: {alpha,beta,gamma,delta}
      ("s2", "beta gamma zeta"), // s2: {beta,gamma,zeta}
      ("s3", "omega only")) // s3: disjoint from both
      .toDF("source", "text")
    val out = TextAnalysis.vocabularyOverlap(df, "source")
      .select("group_a", "group_b", "n_a", "n_b", "n_shared", "jaccard")
      .as[(String, String, Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6))).toMap
    // s1 ∩ s2 = {beta, gamma}: J = 2 / (4 + 3 - 2)
    assert(out(("s1", "s2")) == ((4L, 3L, 2L, 2.0 / 5)))
    assert(out.size == 1) // disjoint pairs emit nothing (inner join)
  }

  test("bpeTrain/bpeApply match a hand-rolled reference BPE") {
    // the Sennrich et al. worked example shape: low/lower/newest/widest
    val docs = Seq(
      (1L, "low low low low low"),
      (2L, "lower lower newest newest"),
      (3L, "newest newest newest newest widest widest widest"),
      (4L, "")).toDF("doc_id", "text")
    val corpus = Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")

    // reference implementation: symbol lists, overlap-counted pairs, best
    // by (count desc, pair asc), left-to-right non-overlapping merge
    def mergeOnce(syms: List[String], a: String, b: String): List[String] = {
      val out = scala.collection.mutable.ListBuffer.empty[String]
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
          out += (a + b); i += 2
        } else { out += syms(i); i += 1 }
      }
      out.toList
    }
    def refTrain(words: Seq[String], m: Int): Seq[(String, String)] = {
      var vocab: Map[List[String], Long] = words.groupBy(identity)
        .map { case (w, ws) => w.map(_.toString).toList -> ws.size.toLong }
      val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      while (merges.size < m) {
        val counts = scala.collection.mutable.Map.empty[(String, String), Long]
        for ((syms, c) <- vocab; Seq(a, b) <- syms.sliding(2) if syms.length >= 2)
          counts((a, b)) = counts.getOrElse((a, b), 0L) + c
        if (counts.isEmpty) return merges.toSeq
        val best = counts.toSeq.minBy { case ((a, b), c) => (-c, a + "\u0002" + b) }._1
        merges += best
        vocab = vocab.groupBy { case (syms, _) => mergeOnce(syms, best._1, best._2) }
          .map { case (k, vs) => k -> vs.values.sum }
      }
      merges.toSeq
    }
    def refApply(word: String, merges: Seq[(String, String)]): Int =
      merges.foldLeft(word.map(_.toString).toList) {
        case (syms, (a, b)) => mergeOnce(syms, a, b)
      }.length

    val expect = refTrain(corpus, 8)
    val got = TextAnalysis.bpeTrain(docs, "text", numMerges = 8)
    assert(got == expect, s"merge sequence diverged:\n got=$got\n ref=$expect")
    // the worked example's famous first merges
    assert(got.take(2) == Seq(("e", "s"), ("es", "t")))

    val counts = TextAnalysis.bpeApply(docs, "text", got)
      .select($"doc_id", $"n_words", $"bpe_tokens")
      .as[(Long, Int, Int)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    def refDoc(s: String) = {
      val ws = s.trim.toLowerCase.split(" +").filter(_.nonEmpty)
      (ws.length, ws.map(refApply(_, got)).sum)
    }
    assert(counts(1L) == refDoc("low low low low low"))
    assert(counts(2L) == refDoc("lower lower newest newest"))
    assert(counts(3L) == refDoc("newest newest newest newest widest widest widest"))
    assert(counts(4L) == ((0, 0))) // empty doc: zero words, zero tokens
    // merge exhaustion: more requested merges than pairs exist stops early
    val tiny = Seq((1L, "ab ab")).toDF("doc_id", "text")
    val tm = TextAnalysis.bpeTrain(tiny, "text", numMerges = 10)
    assert(tm == Seq(("a", "b"))) // one merge possible, then single symbols
  }

  test("ngramTopK: exact counts, distinct docs, deterministic cut, case fold") {
    val docs = Seq(
      (1L, "a b c a b c"), // grams: "a b c" x2, "b c a", "c a b"
      (2L, "A-b,C"), // punctuation splits, case folds -> "a b c"
      (3L, "x y"), // shorter than n: contributes nothing
      (4L, "b c a tail")).toDF("doc_id", "text")
    val out = TextAnalysis.ngramTopK(docs, n = 3, k = 2).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq(("a b c", 3L, 2L), ("b c a", 2L, 2L)))
    // k larger than the vocabulary returns everything, fully ordered
    val all = TextAnalysis.ngramTopK(docs, n = 3, k = 100).collect()
      .map(r => r.getString(0))
    assert(all.length == 4 && all.take(2).toSeq == Seq("a b c", "b c a"))
    // top-k is a TakeOrdered, never a global sort
    val plan = TextAnalysis.ngramTopK(docs, n = 3, k = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"global sort in plan:\n$plan")
  }

  test("dsirSelect: target-like raw docs win the resampling; deterministic; TakeOrdered plan") {
    // raw corpus: 30 "science"-flavored docs (the target's token family) and
    // 30 "spam"-flavored ones; target = a separate science sample
    def sci(i: Int) = s"the quantum field theory of cosmic structure lecture $i notes on gravity"
    def spam(i: Int) = s"buy cheap pills online now casino bonus $i click here win money fast"
    val raw = ((0 until 30).map(i => (i.toLong, sci(i))) ++
      (30 until 60).map(i => (i.toLong, spam(i)))).toDF("doc_id", "text")
    val target = (100 until 120).map(i =>
      (i.toLong, s"gravity and quantum cosmology lecture $i on field structure")).toDF("doc_id", "text")
    val picked = TextAnalysis.dsirSelect(raw, target, k = 20, buckets = 1024)
    val ids = picked.select("doc_id").as[Long].collect().toSet
    assert(ids.size == 20)
    // the importance weights must overwhelmingly prefer the science docs
    assert(ids.count(_ < 30) >= 18, s"selected mostly spam: $ids")
    // deterministic across runs (seeded hashes, no RNG state)
    val again = TextAnalysis.dsirSelect(raw, target, k = 20, buckets = 1024)
      .select("doc_id").as[Long].collect().toSet
    assert(again == ids)
    // scale shape: the cut is an O(k) TakeOrdered heap, never a global sort
    val plan = TextAnalysis.dsirSelect(raw, target, k = 20, buckets = 1024)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"global sort in plan:\n$plan")
    // buckets must be a power of two (the mirror agreement)
    intercept[IllegalArgumentException] {
      TextAnalysis.dsirSelect(raw, target, k = 5, buckets = 1000)
    }
  }

  test("splitSentences: terminator runs, trailing fragment, stable ids under drops") {
    val docs = Seq(
      (1L, "Hello world. How are you?! Fine"),
      (2L, "One. . Two."),      // whitespace-only middle piece drops, ids stay
      (3L, ""),
      (4L, "No terminator at all")).toDF("doc_id", "text")
    val got = TextAnalysis.splitSentences(docs)
      .as[(Long, Int, String)].collect().sortBy(t => (t._1, t._2))
    assert(got.filter(_._1 == 1L).map(t => (t._2, t._3)).toSeq ==
      Seq((1, "Hello world."), (2, "How are you?!"), (3, "Fine")))
    // doc 2: pieces are "One." / " ." / " Two." -> the middle trims to "."
    // (terminator retained), ids 1..3 with nothing dropped here
    assert(got.filter(_._1 == 2L).map(t => (t._2, t._3)).toSeq ==
      Seq((1, "One."), (2, "."), (3, "Two.")))
    assert(!got.exists(_._1 == 3L))
    assert(got.filter(_._1 == 4L).map(_._3).toSeq == Seq("No terminator at all"))
  }

  test("dsirScore: a document STREAM scores identically to the batch run") {
    def sci(i: Int) = s"the quantum field theory of cosmic structure lecture $i notes"
    def spam(i: Int) = s"buy cheap pills online now casino bonus $i click here"
    val raw = ((0 until 20).map(i => (i.toLong, sci(i))) ++
      (20 until 40).map(i => (i.toLong, spam(i)))).toDF("doc_id", "text")
    val target = (100 until 110).map(i =>
      (i.toLong, s"gravity and quantum cosmology lecture $i on field structure"))
      .toDF("doc_id", "text")
    val weights = TextAnalysis.dsirWeights(raw, target, buckets = 1024)
    val batch = TextAnalysis.dsirScore(raw, weights, buckets = 1024)
      .as[(Long, Double)].collect().toMap
    // the fitted gate over a stream of incoming docs — the ingestion shape
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val rows = raw.as[(Long, String)].collect()
    val q = TextAnalysis.dsirScore(mem.toDF().toDF("doc_id", "text"),
        weights, buckets = 1024)
      .writeStream.format("memory").queryName("dsir_gate").outputMode("complete").start()
    try {
      mem.addData(rows.take(15).toIndexedSeq: _*)
      q.processAllAvailable()
      mem.addData(rows.drop(15).toIndexedSeq: _*)
      q.processAllAvailable()
      val got = spark.table("dsir_gate").as[(Long, Double)].collect().toMap
      assert(got.keySet == batch.keySet)
      assert(got.forall { case (k, v) => math.abs(v - batch(k)) < 1e-9 })
      // the gate discriminates: every science doc outscores every spam doc
      assert((0 until 20).map(i => got(i.toLong)).min >
        (20 until 40).map(i => got(i.toLong)).max)
    } finally q.stop()
  }
}

/** Test-only `spark.sql.sources.commitProtocolClass`: a write job whose
  * output path lies under [[FailingPostingsCommit.under]] and names
  * `postings` fails in `commitJob`, before any of its files are published;
  * every other job commits normally.
  */
class FailingPostingsCommit(jobId: String, path: String, dynamicPartitionOverwrite: Boolean)
    extends org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol(
      jobId, path, dynamicPartitionOverwrite) {
  override def commitJob(
      job: org.apache.hadoop.mapreduce.JobContext,
      taskCommits: Seq[org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage]): Unit = {
    val under = FailingPostingsCommit.under
    if (under != null && path.contains(under) && path.contains("postings"))
      throw new java.io.IOException(s"injected commit failure: $path")
    super.commitJob(job, taskCommits)
  }
}

object FailingPostingsCommit {
  @volatile var under: String = null
}
