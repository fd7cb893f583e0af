package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

class SimilaritySpec extends AnyFunSuite with SparkSpec {

  import testImplicits._

  // deterministic pseudo-random corpus: 40 vectors in 3 loose clusters
  private lazy val corpus = {
    def vec(seed: Int): Array[Float] = {
      val base = seed % 3
      Array.tabulate(16) { d =>
        (math.sin(base * 100 + d) + 0.3 * math.sin(seed * 31 + d * 7)).toFloat
      }
    }
    (0 until 40).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
  }

  test("zero-norm and null vectors don't kill top-k under ANSI mode") {
    val withZero = corpus.unionByName(
      Seq((100L, Array.fill(16)(0f))).toDF("vec_id", "embedding"))
    val out = Similarity.bruteForceTopK(withZero, withZero.where(col("vec_id") === 100L),
      "embedding", "vec_id", k = 3)
    // the zero vector scores 0 against everything — job completes, k rows
    assert(out.count() == 3)
    assert(out.agg(max(abs(col("cosine")))).head().getDouble(0) == 0.0)
    // a null embedding can't be fit or assigned — IVF drops it, no NPE
    val withNull = corpus.unionByName(
      Seq((101L, null.asInstanceOf[Array[Float]])).toDF("vec_id", "embedding"))
    val ivf = Similarity.ivfTopK(withNull, corpus.where(col("vec_id") < 2),
      "embedding", "vec_id", k = 3, nlist = 4, nprobe = 4)
    assert(ivf.count() == 6)
    assert(ivf.where(col("neighbor_id") === 101L).count() == 0)
  }

  test("cosineSim: orthogonal ≈ 0, identical = 1") {
    val df = Seq(
      (Array(1f, 0f, 0f), Array(0f, 1f, 0f), "orth"),
      (Array(1f, 2f, 3f), Array(1f, 2f, 3f), "same"),
      (Array(1f, 0f, 0f), Array(-1f, 0f, 0f), "anti")).toDF("a", "b", "kind")
    val m = df.select(col("kind"), Similarity.cosineSim(col("a"), col("b")).as("c"))
      .as[(String, Double)].collect().toMap
    assert(math.abs(m("orth")) < 1e-12)
    assert(math.abs(m("same") - 1.0) < 1e-12)
    assert(math.abs(m("anti") + 1.0) < 1e-12)
  }

  test("bruteForceTopK returns k best, self first, deterministic order") {
    val queries = corpus.where(col("vec_id") < 3)
    val out = Similarity.bruteForceTopK(corpus, queries, "embedding", "vec_id", k = 5)
    val byQ = out.collect().groupBy(_.getAs[Long]("query_id"))
    assert(byQ.keySet == Set(0L, 1L, 2L))
    byQ.foreach { case (q, rows) =>
      assert(rows.length == 5)
      val best = rows.maxBy(_.getAs[Double]("cosine"))
      assert(best.getAs[Long]("neighbor_id") == q) // self-match has cosine 1
      assert(math.abs(best.getAs[Double]("cosine") - 1.0) < 1e-12)
    }
  }

  test("topk aggregator matches window-function top-k exactly") {
    val queries = corpus.where(col("vec_id") < 4)
    val got = Similarity.bruteForceTopK(corpus, queries, "embedding", "vec_id", k = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    // reference: explicit window
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val scored = corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
      .crossJoin(q)
      .withColumn("cosine", Similarity.cosineSim(col("qv"), col("cv")))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
    val expect = scored.withColumn("rn", row_number().over(w)).where(col("rn") <= 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(got == expect)
  }

  test("ivfTopK recall vs brute force is high (probing beats LSH at same work)") {
    val queries = corpus.where(col("vec_id") < 8)
    val exact = Similarity.bruteForceTopK(corpus, queries, "embedding", "vec_id", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(corpus, queries, "embedding", "vec_id", k = 5,
      nlist = 6, nprobe = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = exact.intersect(ivf).size.toDouble / exact.size
    assert(recall >= 0.7, s"ivf recall $recall too low")
  }

  test("explicit quantizer: kmeansCentroids drives IVF; full probe stays exact") {
    val queries = corpus.where(col("vec_id") < 5)
    // the distributed exact Lloyd fit plugged into the IVF front end — the
    // shared centroid seam (kmeansCentroids output is Euclidean-normed;
    // fitAssign L2-normalizes it for the cosine cell assignment)
    val model = Clustering.kmeansCentroids(corpus, "embedding", "vec_id", k = 3, iters = 4)
    val exact = Similarity.bruteForceTopK(corpus, queries, "embedding", "vec_id", k = 5)
      .select("query_id", "neighbor_id", "cosine").collect()
      .map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e9))).toSet
    // nprobe = nlist probes every cell: exact regardless of the quantizer
    val ivf = Similarity.ivfTopK(corpus, queries, "embedding", "vec_id", k = 5,
      nlist = 3, nprobe = 3, centroids = Some(model))
      .select("query_id", "neighbor_id", "cosine").collect()
      .map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e9))).toSet
    assert(ivf == exact)
    // and the int8 index build/search path accepts the same model
    val (assigned, cents) = Similarity.ivfBuildIndex(corpus, "embedding", "vec_id",
      quantizer = Some(model))
    assert(cents.count() == 3)
    val served = Similarity.int8IvfSearchIndex(assigned, cents, queries,
      "embedding", "vec_id", k = 5, nprobe = 3, rescore = 8)
    assert(served.groupBy("query_id").count().collect().forall(_.getLong(1) == 5))
  }

  test("explicit quantizer: basis-vector centroids give componentwise-argmax cells") {
    // unit basis centroids make the expected cell assignment transparent:
    // cell = argmax over components (cosine vs e_j = v_j / ‖v‖)
    val df = Seq(
      (1L, Array(5f, 1f, 0f)), (2L, Array(0f, 7f, 2f)), (3L, Array(1f, 1f, 9f)))
      .toDF("vec_id", "embedding")
    // deliberately unnormalized input centroids: the seam must normalize
    val basis = Array(Array(2.0, 0.0, 0.0), Array(0.0, 3.0, 0.0), Array(0.0, 0.0, 0.5))
    val (assigned, _) = Similarity.ivfBuildIndex(df, "embedding", "vec_id",
      quantizer = Some(basis))
    val cells = assigned.select("neighbor_id", "cell").as[(Long, Int)].collect().toMap
    assert(cells == Map(1L -> 0, 2L -> 1, 3L -> 2))
    // malformed quantizers fail loudly
    intercept[IllegalArgumentException] {
      Similarity.ivfBuildIndex(df, "embedding", "vec_id", quantizer = Some(Array.empty))
    }
    intercept[IllegalArgumentException] {
      Similarity.ivfBuildIndex(df, "embedding", "vec_id",
        quantizer = Some(Array(Array(1.0, 0.0), Array(1.0, 0.0, 0.0))))
    }
  }

  test("lshTopK recall vs brute force is high on clustered data") {
    val queries = corpus.where(col("vec_id") < 8)
    val exact = Similarity.bruteForceTopK(corpus, queries, "embedding", "vec_id", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.lshTopK(corpus, queries, "embedding", "vec_id", k = 5,
      tables = 8, planes = 8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.6, s"recall $recall too low")
  }

  test("IVF fit sample spans a sorted corpus (no scan-prefix bias)") {
    // corpus ordered cluster-by-cluster; the byte budget admits only ~1/3 of
    // the rows, i.e. exactly the first cluster under a scan-prefix sample.
    // Prefix-fit centroids all live in cluster 0, so clusters 1/2 scatter
    // across cells and nprobe=1 misses their neighbors; the seeded-hash
    // sample spans all three clusters and keeps recall at exact level.
    val dim = 64
    def cvec(cl: Int, i: Int): Array[Float] = {
      val rnd = new scala.util.Random(cl * 1000 + i)
      Array.tabulate(dim) { d =>
        ((if (d / (dim / 3) == cl) 5.0 else 0.0) + 0.2 * rnd.nextGaussian()).toFloat
      }
    }
    val rows = for (cl <- 0 until 3; i <- 0 until 60)
      yield ((cl * 60 + i).toLong, cvec(cl, i))
    val sorted = rows.toDF("vec_id", "embedding")
    val queries = sorted.where(col("vec_id").isin(5L, 65L, 125L, 30L, 90L, 150L))
    val exact = Similarity.bruteForceTopK(sorted, queries, "embedding", "vec_id", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(sorted, queries, "embedding", "vec_id", k = 5,
      nlist = 3, nprobe = 1, fitSampleBytes = 60L * 4 * dim)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = exact.intersect(ivf).size.toDouble / exact.size
    assert(recall >= 0.9, s"fit sample biased to the scan prefix? recall $recall")
  }

  test("IVF fit sample is byte-capped, not just row-capped") {
    // three caps compose: bytes (dim-2048 float32 = 8 KiB/row → 8192 under
    // 64 MiB), the 256-points-per-centroid band (4096 at nlist=16 — keeps
    // Lloyd O(nlist²) when nlist scales with the corpus), and never < nlist
    assert(Similarity.fitRowCap(2048, 64L << 20, nlist = 16) == 4096)
    assert(Similarity.fitRowCap(2048, 8L << 20, nlist = 16) == 1024) // bytes bind
    assert(Similarity.fitRowCap(8, 64L << 20, nlist = 16) == 4096)
    assert(Similarity.fitRowCap(8, 64L << 20, nlist = 1024) == 100000) // hard cap binds
    assert(Similarity.fitRowCap(1 << 24, 64L << 20, nlist = 16) == 16)
    // and the whole IVF path still works on dim-2048 vectors under a tiny
    // budget (fit falls back to nlist rows)
    val rnd = new scala.util.Random(7)
    val corpus = (0 until 40).map { i =>
      (i.toLong, Array.tabulate(2048)(d => (rnd.nextGaussian() + (i % 4) * ((d % 5) - 2)).toFloat))
    }.toDF("vec_id", "embedding")
    val out = Similarity.ivfTopK(corpus, corpus.where(col("vec_id") < 2), "embedding", "vec_id",
      k = 3, nlist = 4, nprobe = 4, fitSampleBytes = 1L << 16)
    assert(out.count() == 6) // 2 queries × k
    assert(out.where(col("query_id") === col("neighbor_id")).count() == 2) // self is top-1-able
  }

  test("quantizeInt8: values bounded, max component hits ±127, zero vector safe") {
    val df = Seq(
      (1L, Array(0.5f, -1.0f, 0.25f)),
      (2L, Array(0f, 0f, 0f))
    ).toDF("vec_id", "embedding")
    val q = Similarity.quantizeInt8(df, "embedding")
      .select($"vec_id", $"q8", $"q8_scale").as[(Long, Seq[Byte], Double)]
      .collect().map { case (k, a, s) => k -> ((a, s)) }.toMap
    val (q1, s1) = q(1L)
    assert(s1 == 1.0 / 127.0)
    assert(q1 == Seq[Byte](64, -127, 32)) // round(0.5*127)=64, round(0.25*127)=32
    val (q2, s2) = q(2L)
    assert(s2 == 1.0 && q2 == Seq[Byte](0, 0, 0))
  }

  test("int8TopK ranking matches float brute force on well-separated clusters") {
    val a = Similarity.bruteForceTopK(corpus, corpus.where(col("vec_id") < 4),
        "embedding", "vec_id", k = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val b = Similarity.int8TopK(corpus, corpus.where(col("vec_id") < 4),
        "embedding", "vec_id", k = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    // normalized int8 dot approximates cosine to ~1% of full scale; demand
    // high agreement, not equality (near-ties can swap)
    assert((a intersect b).size >= (a.size * 2) / 3, s"a=$a b=$b")
    assert(b.size == 12)
  }

  test("int8IvfTopK with full probes and full rescore IS brute force, scores included") {
    // nprobe = nlist (no cell pruning) and rescore·k ≥ |corpus| (no int8
    // pruning): the composed path must reproduce exact brute-force top-k,
    // including the TRUE cosine values — proof the final ranking comes from
    // the float rescore, not the quantized approximation.
    val queries = corpus.where(col("vec_id") < 4)
    val exact = Similarity.bruteForceTopK(corpus, queries, "embedding", "vec_id", k = 5)
      .select("query_id", "neighbor_id", "cosine")
      .as[(Long, Long, Double)].collect().toSet
    val got = Similarity.int8IvfTopK(corpus, queries, "embedding", "vec_id", k = 5,
      nlist = 4, nprobe = 4, rescore = 8) // 8·5 = 40 = |corpus|
      .select("query_id", "neighbor_id", "cosine")
      .as[(Long, Long, Double)].collect().toSet
    assert(got == exact)
  }

  test("int8IvfTopK rescore returns true cosine even when the prefilter bites") {
    // finite rescore: survivors may differ from exact top-k, but every
    // emitted (query, neighbor) must carry the float cosine, bit-equal to
    // cosineSim on the raw vectors
    val queries = corpus.where(col("vec_id") < 4)
    val got = Similarity.int8IvfTopK(corpus, queries, "embedding", "vec_id", k = 3,
      nlist = 4, nprobe = 4, rescore = 2)
    val check = got.join(corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv")), "neighbor_id")
      .join(corpus.select(col("vec_id").as("query_id"), col("embedding").as("qv")), "query_id")
      .withColumn("true_cos", Similarity.cosineSim(col("qv"), col("cv")))
    assert(check.count() == 12)
    assert(check.where(col("cosine") =!= col("true_cos")).count() == 0)
  }

  test("int8IvfTopK recall vs brute force with cell and candidate pruning") {
    val queries = corpus.where(col("vec_id") < 8)
    val exact = Similarity.bruteForceTopK(corpus, queries, "embedding", "vec_id", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ann = Similarity.int8IvfTopK(corpus, queries, "embedding", "vec_id", k = 5,
      nlist = 6, nprobe = 3, rescore = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = exact.intersect(ann).size.toDouble / exact.size
    assert(recall >= 0.7, s"int8-ivf recall $recall too low")
  }

  test("int8LshTopK: candidates from LSH buckets, scores are true cosine") {
    val queries = corpus.where(col("vec_id") < 8)
    val lsh = Similarity.lshTopK(corpus, queries, "embedding", "vec_id", k = 5,
      tables = 8, planes = 8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    // full rescore (rescore·k >= any candidate set): same pairs as plain LSH
    // (identical bucket collisions), but ranked/valued by true cosine
    val got = Similarity.int8LshTopK(corpus, queries, "embedding", "vec_id", k = 5,
      tables = 8, planes = 8, rescore = 8)
    val gotPairs = got.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(gotPairs == lsh, s"bucket candidate sets diverged: ${gotPairs diff lsh} / ${lsh diff gotPairs}")
    val check = got
      .join(corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv")), "neighbor_id")
      .join(corpus.select(col("vec_id").as("query_id"), col("embedding").as("qv")), "query_id")
      .withColumn("true_cos", Similarity.cosineSim(col("qv"), col("cv")))
    assert(check.where(col("cosine") =!= col("true_cos")).count() == 0)
    // recall vs brute force stays at the plain-LSH level
    val exact = Similarity.bruteForceTopK(corpus, queries, "embedding", "vec_id", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = exact.intersect(gotPairs).size.toDouble / exact.size
    assert(recall >= 0.6, s"int8-lsh recall $recall too low")
  }

  test("int8Dot is exact integer arithmetic times scales") {
    val df = Seq((1L, Seq[Byte](10, -20, 30), 0.5, Seq[Byte](1, 2, 3), 2.0))
      .toDF("id", "qa", "sa", "qb", "sb")
    val out = df.select(Similarity.int8Dot($"qa", $"sa", $"qb", $"sb").as("d"))
      .as[Double].head()
    assert(out == (10 * 1 + -20 * 2 + 30 * 3) * 0.5 * 2.0) // 60.0
  }

  test("JL projection preserves distances within the bound; top-k recall holds") {
    import graft.functions.TextKernel
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    // kernel sanity: norm of the projection of a unit basis vector is 1
    val e0 = new GenericArrayData(Array.tabulate(64)(d => if (d == 0) 1f else 0f))
    val p0 = TextKernel.vecProject(e0, 16, 42L).toDoubleArray()
    assert(math.abs(p0.map(x => x * x).sum - 1.0) < 1e-9) // ±1/√16 entries
    // pairwise cosine in projected space tracks float cosine on the corpus
    val queries = corpus.where(col("vec_id") < 8)
    val exact = Similarity.bruteForceTopK(corpus, queries, "embedding", "vec_id", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val proj = Similarity.projectedTopK(corpus, queries, "embedding", "vec_id",
        k = 5, outDim = 16)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = exact.intersect(proj).size.toDouble / exact.size
    assert(recall >= 0.7, s"projected recall $recall too low")
  }

  test("persisted IVF index: parquet roundtrip + full probe IS brute force") {
    val queries = corpus.where(col("vec_id") < 8)
    val (assigned, centroids) =
      Similarity.ivfBuildIndex(corpus, "embedding", "vec_id", nlist = 6)
    val dir = tmpDir("ivfidx")
    assigned.write.mode("overwrite").partitionBy("cell").parquet(s"$dir/assigned")
    centroids.write.mode("overwrite").parquet(s"$dir/centroids")
    val got = Similarity.ivfSearchIndex(
        spark.read.parquet(s"$dir/assigned"), spark.read.parquet(s"$dir/centroids"),
        queries, "embedding", "vec_id", k = 5, nprobe = 6)
      .select("query_id", "neighbor_id", "cosine")
      .as[(Long, Long, Double)].collect().toSet
    val exact = Similarity.bruteForceTopK(corpus, queries, "embedding", "vec_id", k = 5)
      .select("query_id", "neighbor_id", "cosine")
      .as[(Long, Long, Double)].collect().toSet
    assert(got === exact)
    // the persisted layout is cell-partitioned: one directory per cell
    val cellDirs = new java.io.File(s"$dir/assigned").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("cell="))
    assert(cellDirs > 1, "assigned corpus not partitioned by cell")
  }

  // a persisted index read back with its fixed schemas (no inference job)
  private def persistedIvf(dir: String) = (
    spark.read.schema("neighbor_id BIGINT, vec ARRAY<FLOAT>, q8 ARRAY<TINYINT>, " +
      "q8_scale DOUBLE, cell INT").parquet(s"$dir/assigned"),
    spark.read.schema("cell INT, centroid ARRAY<FLOAT>").parquet(s"$dir/centroids"))
  private def writeIvf(index: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame),
      dir: String): Unit = {
    index._1.write.mode("overwrite").partitionBy("cell").parquet(s"$dir/assigned")
    index._2.write.mode("overwrite").parquet(s"$dir/centroids")
  }

  test("persisted IVF index: a warm single-query search runs at most 2 Spark jobs") {
    val dir = tmpDir("ivfjobs")
    writeIvf(Similarity.ivfBuildIndex(corpus, "embedding", "vec_id", nlist = 6), dir)
    val (assigned, centroids) = persistedIvf(dir)
    val q = corpus.where(col("vec_id") === 5L).collect().toSeq
    val one = spark.createDataFrame(java.util.List.of(q: _*), corpus.schema)
    Similarity.ivfSearchIndex(assigned, centroids, one, "embedding", "vec_id", k = 5, nprobe = 2)
      .collect()
    val (out, jobs, _) = traced(Similarity.ivfSearchIndex(assigned, centroids, one,
      "embedding", "vec_id", k = 5, nprobe = 2).collect())
    assert(out.length == 5 && out.exists(_.getLong(1) == 5L))
    assert(jobs <= 2, s"$jobs jobs")
  }

  test("persisted IVF index: the driver path equals the distributed plan, schema included") {
    val dir = tmpDir("ivfpaths")
    writeIvf(Similarity.ivfBuildIndex(corpus, "embedding", "vec_id", nlist = 6), dir)
    val (assigned, centroids) = persistedIvf(dir)
    // a repeated query id pools both vectors' candidates, as the aggregate
    // does; the batch is a local frame, which is what the driver path serves
    val queries = {
      val u = corpus.where(col("vec_id") < 8).unionByName(
        corpus.where(col("vec_id") === 20L).withColumn("vec_id", lit(3L)))
      spark.createDataFrame(java.util.Arrays.asList(u.collect(): _*), u.schema)
    }
    Seq(1 -> 3, 3 -> 5, 6 -> 5, 6 -> 40).foreach { case (nprobe, k) =>
      val driver = Similarity.ivfSearchIndex(assigned, centroids, queries,
        "embedding", "vec_id", k, nprobe)
      val plan = Similarity.ivfSearchIndex(assigned, centroids, queries,
        "embedding", "vec_id", k, nprobe, 0)
      assert(servedOnDriver(driver) && !servedOnDriver(plan))
      assert(driver.schema == plan.schema, s"${driver.schema} vs ${plan.schema}")
      assert(sortedRows(driver) == sortedRows(plan), s"nprobe $nprobe, k $k")
    }
    // probing every cell is brute force, scores included
    val full = Similarity.ivfSearchIndex(assigned, centroids, corpus.where(col("vec_id") < 8),
      "embedding", "vec_id", k = 5, nprobe = 6)
    val exact = Similarity.bruteForceTopK(corpus, corpus.where(col("vec_id") < 8),
      "embedding", "vec_id", k = 5)
    assert(servedOnDriver(full) && sortedRows(full) == sortedRows(exact))
  }

  test("persisted IVF index: a search after refresh equals a full rebuild's, on the driver") {
    val base = corpus.where(col("vec_id") % 3 =!= 2)
    val refreshed = tmpDir("ivfrfd1")
    writeIvf(Similarity.ivfBuildIndex(base, "embedding", "vec_id", nlist = 6), refreshed)
    Similarity.ivfRefreshIndex(spark, refreshed, corpus.where(col("vec_id") % 3 === 2),
      "embedding", "vec_id")
    val quant = persistedIvf(refreshed)._2.collect().sortBy(_.getInt(0))
      .map(_.getSeq[Float](1).map(_.toDouble).toArray)
    val rebuilt = tmpDir("ivfrfd2")
    writeIvf(Similarity.ivfBuildIndex(corpus, "embedding", "vec_id", quantizer = Some(quant)),
      rebuilt)
    val queries = corpus.where(col("vec_id") < 8)
    def search(dir: String) = {
      val (a, c) = persistedIvf(dir)
      Similarity.ivfSearchIndex(a, c, queries, "embedding", "vec_id", k = 5, nprobe = 2)
    }
    val (got, want) = (search(refreshed), search(rebuilt))
    assert(servedOnDriver(got) && servedOnDriver(want))
    assert(got.schema == want.schema && sortedRows(got) == sortedRows(want))
  }

  test("IVF entry points reject k < 1 and nprobe < 1 before any job runs") {
    val dir = tmpDir("ivfargs")
    writeIvf(Similarity.ivfBuildIndex(corpus, "embedding", "vec_id", nlist = 4), dir)
    val (assigned, centroids) = persistedIvf(dir)
    val pq = Similarity.ivfPqBuildIndex(corpus, "embedding", "vec_id", nlist = 4, m = 4, ksub = 8)
    pq._1.write.parquet(s"$dir/pq/assigned")
    pq._3.write.parquet(s"$dir/pq/codebook")
    val (pqAssigned, codebook) = (spark.read.parquet(s"$dir/pq/assigned"),
      spark.read.schema("dsub INT, ksub INT, cb ARRAY<DOUBLE>").parquet(s"$dir/pq/codebook"))
    val queries = corpus.where(col("vec_id") < 2)
    Seq((0, 2), (3, 0)).foreach { case (k, nprobe) =>
      // the top-k entry points without a probe count take only the k case
      val topK = if (nprobe < 1) Nil else Seq[() => org.apache.spark.sql.DataFrame](
        () => Similarity.bruteForceTopK(corpus, queries, "embedding", "vec_id", k),
        () => Similarity.int8TopK(corpus, queries, "embedding", "vec_id", k),
        () => Similarity.projectedTopK(corpus, queries, "embedding", "vec_id", k),
        () => Similarity.lshTopK(corpus, queries, "embedding", "vec_id", k),
        () => Similarity.int8LshTopK(corpus, queries, "embedding", "vec_id", k))
      val calls = topK ++ Seq[() => org.apache.spark.sql.DataFrame](
        () => Similarity.ivfTopK(corpus, queries, "embedding", "vec_id", k,
          nlist = 4, nprobe = nprobe),
        () => Similarity.ivfSearchIndex(assigned, centroids, queries,
          "embedding", "vec_id", k, nprobe),
        () => Similarity.int8IvfTopK(corpus, queries, "embedding", "vec_id", k,
          nlist = 4, nprobe = nprobe),
        () => Similarity.int8IvfSearchIndex(assigned, centroids, queries,
          "embedding", "vec_id", k, nprobe),
        () => Similarity.ivfPqTopK(corpus, queries, "embedding", "vec_id", k,
          nlist = 4, nprobe = nprobe, m = 4, ksub = 8),
        () => Similarity.ivfPqSearchIndex(pqAssigned, centroids, codebook, queries,
          "embedding", "vec_id", k, nprobe),
        () => Similarity.int8IvfServeStream(queries, assigned, centroids,
          "embedding", "vec_id", k, nprobe))
      calls.foreach { call =>
        val (e, jobs, _) = traced(intercept[IllegalArgumentException](call().collect()))
        assert(e.getMessage.contains(if (k < 1) "k must be >= 1" else "nprobe must be >= 1"))
        assert(jobs == 0, s"$jobs jobs before the argument check")
      }
    }
  }

  test("persisted IVF index: partial probe keeps recall on clustered data") {
    val queries = corpus.where(col("vec_id") < 8)
    val (assigned, centroids) =
      Similarity.ivfBuildIndex(corpus, "embedding", "vec_id", nlist = 6)
    val approx = Similarity.ivfSearchIndex(assigned, centroids, queries,
        "embedding", "vec_id", k = 5, nprobe = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val exact = Similarity.bruteForceTopK(corpus, queries, "embedding", "vec_id", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.7, s"recall $recall too low")
  }

  test("persisted int8 IVF index: parquet roundtrip reproduces int8IvfTopK exactly") {
    // build once, persist, search — must be value-identical to the inline
    // per-query path at the same (nlist, nprobe, rescore): the stored
    // (q8, q8_scale) come from the same normalize-then-quantize arithmetic
    // and parquet roundtrips tinyints/doubles exactly
    val queries = corpus.where(col("vec_id") < 8)
    val (assigned, centroids) =
      Similarity.ivfBuildIndex(corpus, "embedding", "vec_id", nlist = 6)
    val dir = tmpDir("i8ivfidx")
    assigned.write.mode("overwrite").partitionBy("cell").parquet(s"$dir/assigned")
    centroids.write.mode("overwrite").parquet(s"$dir/centroids")
    val got = Similarity.int8IvfSearchIndex(
      spark.read.parquet(s"$dir/assigned"), spark.read.parquet(s"$dir/centroids"),
      queries, "embedding", "vec_id", k = 5, nprobe = 6, rescore = 2)
    val inline = Similarity.int8IvfTopK(corpus, queries, "embedding", "vec_id",
      k = 5, nlist = 6, nprobe = 6, rescore = 2)
      .select("query_id", "neighbor_id", "cosine")
      .as[(Long, Long, Double)].collect().toSet
    val gotSet = got.select("query_id", "neighbor_id", "cosine")
      .as[(Long, Long, Double)].collect().toSet
    assert(gotSet == inline)
    // scan-shape claim: the candidate stage reads ONLY the int8 columns —
    // the float `vec` column is pruned out of that parquet scan (it appears
    // only in the survivor-rescore scan)
    val readSchemas = "ReadSchema: [^\\n]+".r
      .findAllIn(got.queryExecution.executedPlan.toString).toSeq
    assert(readSchemas.exists(s => s.contains("q8") && !s.contains("vec")),
      s"candidate scan not pruned to int8 columns:\n${readSchemas.mkString("\n")}")
  }

  test("persisted int8 IVF index: partial probe keeps recall on clustered data") {
    val queries = corpus.where(col("vec_id") < 8)
    val (assigned, centroids) =
      Similarity.ivfBuildIndex(corpus, "embedding", "vec_id", nlist = 6)
    val approx = Similarity.int8IvfSearchIndex(assigned, centroids, queries,
        "embedding", "vec_id", k = 5, nprobe = 3, rescore = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val exact = Similarity.bruteForceTopK(corpus, queries, "embedding", "vec_id", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.7, s"recall $recall too low")
  }

  test("incremental IVF refresh: frozen-quantizer appends equal a full rebuild") {
    val base = corpus.where(col("vec_id") % 3 =!= 2)
    val delta = corpus.where(col("vec_id") % 3 === 2)
    val (assigned, centroids) =
      Similarity.ivfBuildIndex(base, "embedding", "vec_id", nlist = 6)
    val dir = tmpDir("ivfrefresh")
    assigned.write.mode("overwrite").partitionBy("cell").parquet(s"$dir/assigned")
    centroids.write.mode("overwrite").parquet(s"$dir/centroids")
    Similarity.ivfRefreshIndex(spark, dir, delta, "embedding", "vec_id")
    val refreshed = spark.read.parquet(s"$dir/assigned")
    assert(refreshed.count() == corpus.count())
    // cell-assignment parity with a FULL rebuild under the stored quantizer:
    // every id lands in the same cell (frozen-quantizer contract)
    val quant = spark.read.parquet(s"$dir/centroids")
      .select(col("cell").cast("int"), col("centroid")).collect()
      .map(r => r.getInt(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .sortBy(_._1).map(_._2)
    val (rebuilt, _) = Similarity.ivfBuildIndex(corpus, "embedding", "vec_id",
      quantizer = Some(quant))
    def cells(df: org.apache.spark.sql.DataFrame) =
      df.select(col("neighbor_id"), col("cell").cast("int"))
        .as[(Long, Int)].collect().toSet
    assert(cells(refreshed) == cells(rebuilt))
    // search over the refreshed index at nprobe = nlist IS brute force over
    // the union corpus — base rows untouched, delta rows appended
    val queries = corpus.where(col("vec_id") < 8)
    val got = Similarity.ivfSearchIndex(refreshed,
        spark.read.parquet(s"$dir/centroids"), queries,
        "embedding", "vec_id", k = 5, nprobe = 6)
      .select("query_id", "neighbor_id", "cosine")
      .as[(Long, Long, Double)].collect().toSet
    val exact = Similarity.bruteForceTopK(corpus, queries, "embedding", "vec_id", k = 5)
      .select("query_id", "neighbor_id", "cosine")
      .as[(Long, Long, Double)].collect().toSet
    assert(got == exact)
    // the int8 production path serves the refreshed layout too
    val i8 = Similarity.int8IvfSearchIndex(refreshed,
        spark.read.parquet(s"$dir/centroids"), queries,
        "embedding", "vec_id", k = 5, nprobe = 6, rescore = 8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = exact.map(t => (t._1, t._2)).intersect(i8).size.toDouble / exact.size
    assert(recall >= 0.9, s"int8 recall over refreshed index $recall")
    // a gap or duplicate in the centroid table fails loudly
    intercept[IllegalArgumentException] {
      Similarity.ivfRefreshEntries(delta, "embedding", "vec_id",
        spark.read.parquet(s"$dir/centroids").where(col("cell") =!= 2))
    }
  }

  // ---- product quantization ------------------------------------------------

  test("pqTopK: trained codebooks keep recall; full rescore is exactly brute force") {
    val queries = corpus.where(col("vec_id") < 8)
    val exact = Similarity.bruteForceTopK(corpus, queries, "embedding", "vec_id", k = 5)
      .select("query_id", "neighbor_id", "cosine")
      .as[(Long, Long, Double)].collect().toSet
    // trained per-subspace Lloyd codebooks, modest rescore: high recall
    val cb = Similarity.pqTrainCodebooks(corpus, "embedding", m = 4, ksub = 8)
    val pq = Similarity.pqTopK(corpus, queries, "embedding", "vec_id",
        k = 5, m = 4, ksub = 8, rescore = 2, codebooks = Some(cb))
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = exact.map(t => (t._1, t._2)).intersect(pq).size.toDouble / exact.size
    assert(recall >= 0.7, s"pq recall $recall too low")
    // rescore·k ≥ |corpus| rescores everything → exactly brute force,
    // cosines included (rescore is the true float cosine)
    val full = Similarity.pqTopK(corpus, queries, "embedding", "vec_id",
        k = 5, m = 4, ksub = 8, rescore = 8, codebooks = Some(cb))
      .select("query_id", "neighbor_id", "cosine")
      .as[(Long, Long, Double)].collect().toSet
    assert(full == exact)
  }

  test("pq codes are bounded, deterministic, and better trained than sampled") {
    val cbS = Similarity.pqSampleCodebooks(corpus, "embedding", "vec_id", m = 4, ksub = 8)
    val cbT = Similarity.pqTrainCodebooks(corpus, "embedding", m = 4, ksub = 8)
    assert(cbS.length == 4 * 8 * 4 && cbT.length == 4 * 8 * 4)
    // determinism: same inputs, same codebooks
    assert(cbT.toSeq == Similarity.pqTrainCodebooks(corpus, "embedding", m = 4, ksub = 8).toSeq)
    // encode locally and compare reconstruction error: Lloyd-trained must
    // not lose to the first-8-rows sample init on this clustered corpus
    val vecs = corpus.select(col("embedding").cast("array<double>")).collect()
      .map { r =>
        val v = r.getSeq[Double](0).toArray
        val n = math.sqrt(v.map(x => x * x).sum)
        if (n > 0) v.map(_ / n) else v
      }
    def mse(flat: Array[Double]): Double = {
      val dsub = 4; val ksub = 8
      vecs.map { v =>
        (0 until 4).map { s =>
          (0 until ksub).map { c =>
            (0 until dsub).map { j =>
              val d = v(s * dsub + j) - flat((s * ksub + c) * dsub + j); d * d
            }.sum
          }.min
        }.sum
      }.sum / vecs.length
    }
    assert(mse(cbT) <= mse(cbS), s"trained ${mse(cbT)} worse than sampled ${mse(cbS)}")
    // codes live in [0, ksub)
    val codes = Similarity.pqTopK(corpus, corpus.where(col("vec_id") < 1),
      "embedding", "vec_id", k = 3, m = 4, ksub = 8, codebooks = Some(cbS))
    assert(codes.count() == 3)
    // dim must divide into m subspaces — loud reject
    intercept[IllegalArgumentException] {
      Similarity.pqSampleCodebooks(corpus, "embedding", "vec_id", m = 5, ksub = 8)
    }
  }

  test("ivfPqTopK at nprobe = nlist equals pqTopK's rescore path exactly") {
    val queries = corpus.where(col("vec_id") < 8)
    val cb = Similarity.pqSampleCodebooks(corpus, "embedding", "vec_id", m = 4, ksub = 8)
    val plain = Similarity.pqTopK(corpus, queries, "embedding", "vec_id",
        k = 5, m = 4, ksub = 8, rescore = 3, codebooks = Some(cb))
      .select("query_id", "neighbor_id", "cosine")
      .as[(Long, Long, Double)].collect().toSet
    val ivfpq = Similarity.ivfPqTopK(corpus, queries, "embedding", "vec_id",
        k = 5, nlist = 5, nprobe = 5, m = 4, ksub = 8, rescore = 3, codebooks = Some(cb))
      .select("query_id", "neighbor_id", "cosine")
      .as[(Long, Long, Double)].collect().toSet
    assert(ivfpq == plain)
    // partial probe keeps recall on the clustered corpus
    val exact = Similarity.bruteForceTopK(corpus, queries, "embedding", "vec_id", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val part = Similarity.ivfPqTopK(corpus, queries, "embedding", "vec_id",
        k = 5, nlist = 5, nprobe = 3, m = 4, ksub = 8, rescore = 3, codebooks = Some(cb))
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = exact.intersect(part).size.toDouble / exact.size
    assert(recall >= 0.7, s"ivf-pq partial-probe recall $recall too low")
  }

  test("persisted IVF-PQ index: roundtrip reproduces ivfPqTopK; candidate scan reads codes only") {
    val queries = corpus.where(col("vec_id") < 8)
    val cb = Similarity.pqSampleCodebooks(corpus, "embedding", "vec_id", m = 4, ksub = 8)
    val (assigned, centroids, cbDf) = Similarity.ivfPqBuildIndex(
      corpus, "embedding", "vec_id", nlist = 5, m = 4, ksub = 8, codebooks = Some(cb))
    val dir = tmpDir("ivfpqidx")
    assigned.write.mode("overwrite").partitionBy("cell").parquet(s"$dir/assigned")
    centroids.write.mode("overwrite").parquet(s"$dir/centroids")
    cbDf.write.mode("overwrite").parquet(s"$dir/codebook")
    val got = Similarity.ivfPqSearchIndex(
      spark.read.parquet(s"$dir/assigned"), spark.read.parquet(s"$dir/centroids"),
      spark.read.parquet(s"$dir/codebook"),
      queries, "embedding", "vec_id", k = 5, nprobe = 5, rescore = 3)
    val inline = Similarity.ivfPqTopK(corpus, queries, "embedding", "vec_id",
        k = 5, nlist = 5, nprobe = 5, m = 4, ksub = 8, rescore = 3, codebooks = Some(cb))
      .select("query_id", "neighbor_id", "cosine")
      .as[(Long, Long, Double)].collect().toSet
    val gotSet = got.select("query_id", "neighbor_id", "cosine")
      .as[(Long, Long, Double)].collect().toSet
    assert(gotSet == inline)
    // scan-shape claim: the candidate stage reads ONLY (id, cell, pq_code) —
    // the float `vec` column appears only in the survivor-rescore scan
    val readSchemas = "ReadSchema: [^\\n]+".r
      .findAllIn(got.queryExecution.executedPlan.toString).toSeq
    assert(readSchemas.exists(s => s.contains("pq_code") && !s.contains("vec:")),
      s"candidate scan not pruned to pq_code:\n${readSchemas.mkString("\n")}")
  }

  test("poolVectors: per-group dimension means, components in order") {
    val df = Seq(
      ("a", Array(1f, 2f, 3f)),
      ("a", Array(3f, 4f, 5f)),
      ("b", Array(10f, 0f, -2f))).toDF("g", "v")
    val got = Similarity.poolVectors(df, "g", "v")
      .as[(String, Seq[Double])].collect().toMap
    assert(got("a") == Seq(2.0, 3.0, 4.0))
    assert(got("b") == Seq(10.0, 0.0, -2.0))
    // corpus-scale sanity: one prototype per label, dim preserved
    val labeled = corpus.withColumn("label", (col("vec_id") % 3).cast("int"))
    val pooled = Similarity.poolVectors(labeled, "label", "embedding")
      .as[(Int, Seq[Double])].collect()
    assert(pooled.length == 3 && pooled.forall(_._2.length == 16))
  }

  test("hardNegatives: top-k nearest with a different label, null labels never match") {
    val labeled = corpus.withColumn("label", (col("vec_id") % 3).cast("int"))
    val queries = labeled.where(col("vec_id") < 6)
    val got = Similarity.hardNegatives(labeled, queries, "embedding", "vec_id", "label", k = 4)
      .collect()
    val labelOf = labeled.select("vec_id", "label").as[(Long, Int)].collect().toMap
    assert(got.length == 6 * 4)
    got.foreach { r =>
      assert(labelOf(r.getAs[Long]("query_id")) != labelOf(r.getAs[Long]("neighbor_id")))
    }
    // reference: brute force filtered post-hoc must agree
    val expect = Similarity.bruteForceTopK(labeled, queries, "embedding", "vec_id", k = 40)
      .as[(Long, Long, Double)].collect()
      .filter { case (q, n, _) => labelOf(q) != labelOf(n) }
      .groupBy(_._1).toSeq.flatMap { case (_, rows) =>
        rows.sortBy(t => (-t._3, t._2)).take(4).toSeq
      }.toSet
    assert(got.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet == expect)
    // a NULL label is a valid hard negative for every query, and a
    // null-label query treats every labeled row as a negative
    val withNull = labeled.unionByName(
      Seq((200L, Array.fill(16)(0.5f), null.asInstanceOf[Integer]))
        .toDF("vec_id", "embedding", "label"))
    val nn = Similarity.hardNegatives(withNull, withNull.where(col("vec_id") === 200L),
      "embedding", "vec_id", "label", k = 3)
    assert(nn.count() == 3)
    assert(nn.where(col("neighbor_id") === 200L).count() == 0) // null <=> null excluded
  }

  test("residual IVF-PQ: full probe + full rescore is brute force; residual codes reconstruct tighter") {
    val queries = corpus.where(col("vec_id") < 8)
    val exact = Similarity.bruteForceTopK(corpus, queries, "embedding", "vec_id", k = 5)
      .select("query_id", "neighbor_id", "cosine")
      .as[(Long, Long, Double)].collect().toSet
    // rescore·k ≥ |corpus| rescores every candidate of every probed cell:
    // with all cells probed the result is exactly brute force
    val res = Similarity.ivfPqTopK(corpus, queries, "embedding", "vec_id",
        k = 5, nlist = 5, nprobe = 5, m = 4, ksub = 8, rescore = 8, residual = true)
      .select("query_id", "neighbor_id", "cosine")
      .as[(Long, Long, Double)].collect().toSet
    assert(res == exact)
    // partial probe, modest rescore: recall holds on the clustered corpus
    val part = Similarity.ivfPqTopK(corpus, queries, "embedding", "vec_id",
        k = 5, nlist = 5, nprobe = 3, m = 4, ksub = 8, rescore = 3, residual = true)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = exact.map(t => (t._1, t._2)).intersect(part).size.toDouble / exact.size
    assert(recall >= 0.7, s"residual ivf-pq recall $recall too low")
    // the residual claim itself: with the SAME m·ksub budget, the same
    // probe set, and a minimal rescore (the first-stage ranking decides),
    // residual encoding must rank at least as well as plain encoding —
    // residuals are tighter-clustered, so the code budget reconstructs
    // with less error. Deterministic data + deterministic fits.
    def recallOf(residualMode: Boolean): Double = {
      val got = Similarity.ivfPqTopK(corpus, queries, "embedding", "vec_id",
          k = 5, nlist = 5, nprobe = 5, m = 4, ksub = 8, rescore = 1,
          residual = residualMode)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      exact.map(t => (t._1, t._2)).intersect(got).size.toDouble / exact.size
    }
    assert(recallOf(true) >= recallOf(false),
      s"residual first-stage recall ${recallOf(true)} below plain ${recallOf(false)}")
  }

  test("int8IvfServeStream: full probe IS int8TopK; stream equals the batch run") {
    val queries = corpus.where(col("vec_id") < 8)
    val (assigned, centroids) =
      Similarity.ivfBuildIndex(corpus, "embedding", "vec_id", nlist = 6)
    // batch frame, nprobe = nlist: every cell probed, so the first-stage
    // scores are exactly int8TopK over the index corpus
    val served = Similarity.int8IvfServeStream(queries, assigned, centroids,
        "embedding", "vec_id", k = 5, nprobe = 6)
      .select("query_id", "neighbor_id", "score")
      .as[(Long, Long, Double)].collect().toSet
    val i8 = Similarity.int8TopK(corpus, queries, "embedding", "vec_id", k = 5)
      .select("query_id", "neighbor_id", "cosine")
      .as[(Long, Long, Double)].collect().toSet
    assert(served == i8)
    // the same operator over a STREAM of queries, two micro-batches, equals
    // the batch run (update-by-aggregation, complete-mode snapshot)
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Array[Float])]
    val rows = queries.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect()
    val q = Similarity.int8IvfServeStream(
        mem.toDF().toDF("vec_id", "embedding"), assigned, centroids,
        "embedding", "vec_id", k = 5, nprobe = 3)
      .writeStream.format("memory").queryName("ann_serve").outputMode("complete").start()
    try {
      mem.addData(rows.take(3).toIndexedSeq: _*)
      q.processAllAvailable()
      mem.addData(rows.drop(3).toIndexedSeq: _*)
      q.processAllAvailable()
      val got = spark.table("ann_serve")
        .as[(Long, Long, Double)].collect().toSet
      val expect = Similarity.int8IvfServeStream(queries, assigned, centroids,
          "embedding", "vec_id", k = 5, nprobe = 3)
        .as[(Long, Long, Double)].collect().toSet
      assert(got == expect)
    } finally q.stop()
  }

  // ---- binary (sign-bit) quantization ---------------------------------------

  test("sign-bit sketch: bits match a manual pack; hamming full-rescore is brute force") {
    val row = Seq((0L, Array(0.5f, -1f, 0f, 2f))).toDF("vec_id", "embedding")
    val bits = Similarity.bitQuantize(row, "embedding").select("bits").as[Long].head()
    assert(bits == ((1L << 0) | (1L << 3))) // strictly-positive components only
    // >64-dim vectors reject loudly (one-long pack)
    val wide = Seq((0L, Array.fill(65)(1f))).toDF("vec_id", "embedding")
    intercept[Exception] {
      Similarity.bitQuantize(wide, "embedding").collect()
    }
    val queries = corpus.where(col("vec_id") < 8)
    val exact = Similarity.bruteForceTopK(corpus, queries, "embedding", "vec_id", k = 5)
      .select("query_id", "neighbor_id", "cosine")
      .as[(Long, Long, Double)].collect().toSet
    // rescore·k ≥ |corpus|: every row rescored → exactly brute force
    val full = Similarity.hammingTopK(corpus, queries, "embedding", "vec_id",
        k = 5, rescore = 8)
      .select("query_id", "neighbor_id", "cosine")
      .as[(Long, Long, Double)].collect().toSet
    assert(full == exact)
    // modest rescore keeps recall on the clustered corpus
    val approx = Similarity.hammingTopK(corpus, queries, "embedding", "vec_id",
        k = 5, rescore = 2)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = exact.map(t => (t._1, t._2)).intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.6, s"hamming recall $recall too low")
  }

  test("farthestPointSample: greedy maximin selection, ties by id, monotone") {
    // unit vectors at known angles: greedy from the seed (min id, 0°) must
    // take 180° first (cosine distance 2), then 90°, never the 5° near-dup
    def v(deg: Double) = Seq(math.cos(math.toRadians(deg)).toFloat,
      math.sin(math.toRadians(deg)).toFloat)
    val df = Seq(
      (1L, v(0)), (2L, v(5)), (3L, v(180)), (4L, v(90)), (5L, v(0)))
      .toDF("vec_id", "embedding")
    val out = Similarity.farthestPointSample(df, "embedding", "vec_id", k = 3)
      .select("round", "vec_id", "maximin_dist")
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    assert(out.map(_._2).toSeq == Seq(1L, 3L, 4L))
    assert(out(0)._3 == -1.0) // seed sentinel
    assert(math.abs(out(1)._3 - 2.0) < 1e-9) // antipode: 1 - (-1)
    assert(math.abs(out(2)._3 - 1.0) < 1e-9) // 90°: min dist to {0°,180°} = 1
    // maximin distances never increase (greedy k-center invariant)
    val k5 = Similarity.farthestPointSample(df, "embedding", "vec_id", k = 5)
      .select("round", "maximin_dist").as[(Long, Double)].collect()
      .sortBy(_._1).map(_._2).drop(1)
    assert(k5.zip(k5.tail).forall { case (a, b) => b <= a + 1e-12 }, k5.toSeq)
    // duplicate of the seed (id 5) is selected LAST (distance 0, tie by id)
    assert(Similarity.farthestPointSample(df, "embedding", "vec_id", k = 5)
      .where($"vec_id" === 5L).select("round").as[Long].head() == 4L)
  }
}
