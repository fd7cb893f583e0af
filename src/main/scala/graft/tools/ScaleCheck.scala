package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Clustering, Dedup, GeoOps, Graph, Joins, Kll, Ops, OsmFilter, SJoin, Similarity, Sketch}

/** Scale validation for the join/dedup/similarity tier:
  * `runMain graft.tools.ScaleCheck [sfDir] [factor]`.
  *
  * No sf1 parquet exists in this image, so the tool simulates a `factor`×
  * (default 10×) corpus by unioning shifted copies of the sf0.1 tables —
  * each copy DECORRELATED so sketch/bucket structure stays realistic:
  * document texts get a per-copy character permutation (every 5-shingle
  * changes, so copies don't near-dup each other), embeddings a per-copy
  * circular component shift (cosine between copies ≈ random), spatial
  * points a per-copy coordinate offset inside the grid. It then times each
  * operator at 1× and factor× (each point the minimum of three runs) and
  * prints the wall-clock ratio; ≲ factor ×
  * log-ish is a pass, super-linear ratios flag a scale bug. Results are
  * recorded in SURVEY §6.
  */
object ScaleCheck {

  /** Runs per timed point: one run of a sub-second operator is mostly
    * noise, so each point is the minimum of these.
    */
  private val Runs = 3

  /** Minimum wall time of [[Runs]] counts of `df`, each building it anew. */
  private def timeIt(label: String)(df: => DataFrame): Double = {
    val runs = Seq.fill(Runs) {
      val t0 = System.nanoTime()
      val n = df.count()
      ((System.nanoTime() - t0) / 1e9, n)
    }
    val s = runs.map(_._1).min
    println(f"  $label%-28s $s%8.2fs rows=${runs.head._2} (min of $Runs: ${runs.map(r => f"${r._1}%.2f").mkString(" ")})")
    s
  }

  /** Per-copy text decorrelation: compose rotations of two DISJOINT
    * frequent-letter alphabets (11 × 13, coprime), so the permutation is the
    * identity only at copy % 143 == 0 — a single rotating alphabet repeated
    * at copy % 10 and made copy 10 byte-duplicate copy 0, letting the dedup
    * operators collapse whole copies and skewing the measured ratios.
    */
  private def permuted(text: org.apache.spark.sql.Column, copy: Int): org.apache.spark.sql.Column = {
    def rot(alpha: String, k: Int) = alpha.drop(k % alpha.length) + alpha.take(k % alpha.length)
    val a = "aeiousnrtlc"   // 11 letters
    val b = "dhmpbgfywkvxz" // 13 letters, disjoint from a
    translate(translate(text, a, rot(a, copy)), b, rot(b, copy))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val factor = if (args.length > 1) args(1).toInt else 10
    // optional substring filter: `ScaleCheck <sfDir> <factor> graph` times
    // only the matching pairs (iteration stays cheap on a 32-pair harness)
    val only = if (args.length > 2) Some(args(2)) else None
    // driver heap is the JVM's own — set it at launch (e.g. `sbt -mem 8192`);
    // a session config would be a silent no-op in a running JVM
    val spark = Harness.localSession(Harness.defaultCores)
    val scratch = java.nio.file.Files.createTempDirectory("graft_scale")
    try run(spark, sfDir, factor, only, scratch.toString)
    finally { graft.deleteRecursively(scratch); spark.stop() }
  }

  /** Times the pairs `only` selects; persisted inputs go under `scratch`. */
  private def run(spark: SparkSession, sfDir: String, factor: Int, only: Option[String],
      scratch: String): Unit = {
    // the simulated-corpus frames are CHECKPOINTED once: the decorrelation
    // transforms (per-copy translate / array rotate) otherwise recompute on
    // every input scan, so an operator that reads its input k times would
    // pay k× the copy GENERATION at the 10× point only (the 1× side reads
    // raw parquet) — inflating ratios with harness cost that a real 10×
    // table would never charge. Measured: dedup_semantic 16.5 → ~4 s at
    // 10× with the input materialized.
    val docs = graft.readTable(spark, sfDir, "documents").select("doc_id", "text", "lang")
    lazy val docsN = (0 until factor).map { i =>
      docs.select((col("doc_id") + lit(i.toLong * 100000000L)).as("doc_id"),
        permuted(col("text"), i).as("text"), col("lang"))
    }.reduce(_ unionByName _).localCheckpoint(true)

    val emb = graft.readTable(spark, sfDir, "embeddings")
    lazy val embN = {
      val dim = emb.select(size(col("embedding"))).head().getInt(0)
      (0 until factor).map { i =>
        val shift = (i * 7) % math.max(dim, 1)
        emb.select((col("vec_id") + lit(i.toLong * 100000000L)).as("vec_id"),
          concat(slice(col("embedding"), shift + 1, dim - shift),
            slice(col("embedding"), 1, shift)).as("embedding"))
      }.reduce(_ unionByName _).localCheckpoint(true)
    }

    val li = graft.readTable(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_partkey", "l_quantity")
    def pts(frame: DataFrame, copy: Int) = frame.withColumn("geometry",
      graft.functions.GeoFunctions.st_point(
        expr(s"(l_partkey % 120) * 0.5 - 30 + 0.25 + ${copy * 0.003}"),
        expr(s"(l_orderkey % 80) * 0.5 - 20 + 0.25 + ${copy * 0.003}")))
    val pts1 = pts(li, 0)
    val ptsN = (0 until factor).map(i => pts(li, i)).reduce(_ unionByName _)
    val zones = graft.readTable(spark, sfDir, "nation")
      .select(col("n_nationkey"),
        graft.functions.GeoFunctions.st_envelope(graft.functions.GeoFunctions.st_makeline(
          graft.functions.GeoFunctions.st_point(expr("(n_nationkey % 5) * 10.0 - 28.0"), expr("(n_nationkey % 5) * 7.0 - 18.0")),
          graft.functions.GeoFunctions.st_point(expr("(n_nationkey % 5) * 10.0 - 28.0 + 12"), expr("(n_nationkey % 5) * 7.0 - 18.0 + 9")))).as("geometry"))

    // synthetic OSM elements (the osm_crop/osm_assemble query shape): the
    // id shift keeps each copy's n/w/r membership pattern self-consistent
    // (type, coords and refs all derive from the shifted id), while the
    // shifted (id % 60) grid re-spreads every copy over the same bbox
    def osmElems(copy: Int): DataFrame =
      graft.readTable(spark, sfDir, "part")
        .select((col("p_partkey") + lit(copy.toLong * 100000000L)).as("k"))
        .select(
          element_at(array(lit("n"), lit("w"), lit("r")),
            (pmod(col("k"), lit(3)) + 1).cast("int")).as("type"),
          col("k").as("id"),
          map(lit("brand"), concat(lit("b"), pmod(col("k"), lit(40)))).as("tags"),
          when(pmod(col("k"), lit(3)) === 0, expr("(k % 60) * 0.1 + 0.05").cast("double")).as("lon"),
          when(pmod(col("k"), lit(3)) === 0, expr("(k % 35) * 0.1 - 1.05").cast("double")).as("lat"),
          when(pmod(col("k"), lit(3)) === 1, array(col("k") - 1, col("k") + 2))
            .when(pmod(col("k"), lit(3)) === 2, array(col("k") - 1, col("k") + 1)).as("refs"))
    val osm1 = osmElems(0)
    val osmN = (0 until factor).map(osmElems).reduce(_ unionByName _)
    val cropWkt = "POLYGON ((1 0, 4 0, 4 2, 1 2, 1 0))"

    val queries = emb.where(col("vec_id") < 8)
    val results = scala.collection.mutable.LinkedHashMap[String, (Double, Double)]()
    def pair(name: String)(at1: => DataFrame, atN: => DataFrame): Unit = {
      if (only.exists(s => !name.contains(s))) return
      println(s"$name:")
      val a = timeIt("1x")(at1)
      val b = timeIt(s"${factor}x")(atN)
      results(name) = (a, b)
    }

    pair("dedup_minhash")(
      Dedup.minhashLsh(docs, "text", "doc_id", threshold = 0.7),
      Dedup.minhashLsh(docsN, "text", "doc_id", threshold = 0.7))
    pair("dedup_verified")(
      Dedup.minhashVerified(docs, "text", "doc_id"),
      Dedup.minhashVerified(docsN, "text", "doc_id"))
    pair("dedup_clusters")(
      Dedup.clusters(docs, "text", "doc_id", threshold = 0.7),
      Dedup.clusters(docsN, "text", "doc_id", threshold = 0.7))
    pair("dedup_simhash")(
      Dedup.simhash(docs, "text", "doc_id"),
      Dedup.simhash(docsN, "text", "doc_id"))
    pair("dedup_embedding")(
      Dedup.embeddingNearDup(emb, "embedding", "vec_id"),
      Dedup.embeddingNearDup(embN, "embedding", "vec_id"))
    pair("data_dsir")(
      graft.operators.TextAnalysis.dsirSelect(docs, docs.where(col("lang") === "en"), k = 100),
      graft.operators.TextAnalysis.dsirSelect(docsN, docsN.where(col("lang") === "en"), k = 100))
    pair("sim_topk")(
      Similarity.bruteForceTopK(emb, queries, "embedding", "vec_id", k = 5),
      Similarity.bruteForceTopK(embN, queries, "embedding", "vec_id", k = 5))
    pair("sim_lsh")(
      Similarity.lshTopK(emb, queries, "embedding", "vec_id", k = 5),
      Similarity.lshTopK(embN, queries, "embedding", "vec_id", k = 5))
    pair("sim_ivf")(
      Similarity.ivfTopK(emb, queries, "embedding", "vec_id", k = 5),
      Similarity.ivfTopK(embN, queries, "embedding", "vec_id", k = 5))
    pair("sim_int8_ivf")(
      Similarity.int8IvfTopK(emb, queries, "embedding", "vec_id", k = 5),
      Similarity.int8IvfTopK(embN, queries, "embedding", "vec_id", k = 5))
    pair("sim_int8_lsh")(
      Similarity.int8LshTopK(emb, queries, "embedding", "vec_id", k = 5),
      Similarity.int8LshTopK(embN, queries, "embedding", "vec_id", k = 5))
    pair("sim_ivf_pq")(
      Similarity.ivfPqTopK(emb, queries, "embedding", "vec_id", k = 5,
        nlist = 8, nprobe = 4),
      Similarity.ivfPqTopK(embN, queries, "embedding", "vec_id", k = 5,
        nlist = 8, nprobe = 4))
    pair("sim_bitq")(
      Similarity.hammingTopK(emb, queries, "embedding", "vec_id", k = 5),
      Similarity.hammingTopK(embN, queries, "embedding", "vec_id", k = 5))
    pair("sjoin_agg")(
      SJoin.sagg(zones, pts1, Seq(count(lit(1)).as("n_items"), sum("l_quantity").as("qty")),
        predicate = "contains", how = "inner"),
      SJoin.sagg(zones, ptsN, Seq(count(lit(1)).as("n_items"), sum("l_quantity").as("qty")),
        predicate = "contains", how = "inner"))
    // planted monster polygon: one 2048-vertex ring covering the whole
    // point domain. Un-subdivided, every probe pays the full ring per
    // predicate call and the ring rides into every grid cell; subdivided
    // at 32 vertices per part the per-candidate cost is constant and each
    // part lands only in its own cells — the ratio must track the probe
    // count, not the monster's vertex budget
    val monsterWkt = "POLYGON ((" + (0 to 2048).map { i =>
      val a = 2 * math.Pi * (i % 2048) / 2048
      s"${35 * math.cos(a)} ${35 * math.sin(a)}"
    }.mkString(", ") + "))"
    val zonesM = zones.unionByName(spark.range(1)
        .select(lit(99L).cast("int").as("n_nationkey"),
          graft.functions.GeoFunctions.st_geomfromtext(lit(monsterWkt)).as("geometry")))
      .select(col("n_nationkey"),
        explode(graft.functions.GeoFunctions.st_subdivide(col("geometry"), lit(32))).as("geometry"))
    pair("sjoin_monster")(
      SJoin.sfilter(pts1, zonesM),
      SJoin.sfilter(ptsN, zonesM))
    if (only.forall("sjoin_monster".contains)) {
      // the guard's constant-factor win, visible at 1×: same probes, same
      // monster, with vs without subdivision (ratios alone can't show it —
      // both shapes scale linearly, one just pays 2048 vertices per probe)
      val zonesWhole = zones.unionByName(spark.range(1)
        .select(lit(99L).cast("int").as("n_nationkey"),
          graft.functions.GeoFunctions.st_geomfromtext(lit(monsterWkt)).as("geometry")))
      println("sjoin_monster guard (1x, subdivided vs whole ring):")
      val tSub = timeIt("subdivided")(SJoin.sfilter(pts1, zonesM))
      val tWhole = timeIt("whole")(SJoin.sfilter(pts1, zonesWhole))
      println(f"  subdivide win: ${tWhole / tSub}%.1fx")
    }

    pair("text_tfidf")(
      graft.operators.TextAnalysis.tfidf(docs, topK = 5),
      graft.operators.TextAnalysis.tfidf(docsN, topK = 5))
    pair("text_substrdup")(
      graft.operators.TextAnalysis.substringDupStats(docs),
      graft.operators.TextAnalysis.substringDupStats(docsN))
    pair("osm_crop")(
      OsmFilter.crop(osm1, cropWkt),
      OsmFilter.crop(osmN, cropWkt))
    pair("osm_assemble")(
      OsmFilter.assemble(osm1),
      OsmFilter.assemble(osmN))

    // co-purchase part graph: copies shift BOTH keys, so the graph grows in
    // nodes at constant per-node degree (the honest 100 TB shape — wedge
    // volume and BFS frontiers must scale with edges, not explode)
    val liG = graft.readTable(spark, sfDir, "lineitem")
      .where(col("l_orderkey") % 4 === 0).select("l_orderkey", "l_partkey")
    def liCopy(i: Int) = liG.select(
      (col("l_orderkey") + lit(i.toLong * 100000000L)).as("l_orderkey"),
      (col("l_partkey") + lit(i.toLong * 100000000L)).as("l_partkey"))
    def edgesOf(f: DataFrame) = f.as("x").join(f.as("y"),
      col("x.l_orderkey") === col("y.l_orderkey") &&
        col("x.l_partkey") < col("y.l_partkey"))
      .select(col("x.l_partkey").as("src"), col("y.l_partkey").as("dst"))
    val liG1 = liCopy(0).localCheckpoint(true)
    val liGN = (0 until factor).map(liCopy).reduce(_ unionByName _).localCheckpoint(true)
    pair("graph_triangles")(
      Graph.triangleCounts(edgesOf(liG1)),
      Graph.triangleCounts(edgesOf(liGN)))
    pair("graph_bfs")(
      Graph.bfs(edgesOf(liG1), liG1.where(col("l_partkey") % 97 === 0)
        .select("l_partkey"), "l_partkey", maxDepth = 3),
      Graph.bfs(edgesOf(liGN), liGN.where(col("l_partkey") % 97 === 0)
        .select("l_partkey"), "l_partkey", maxDepth = 3))
    // planted hub: one part rides EVERY order, so its degree is the whole
    // graph — naive wedge generation at the hub would form deg² candidate
    // pairs (8.1B at 10×); the (degree, id) orientation charges every
    // hub edge to its low-degree endpoint, so the ratio must stay bounded
    def hubify(f: DataFrame) = f.unionByName(
      f.select(col("l_orderkey"), lit(-1L).as("l_partkey")).distinct())
    pair("graph_hub")(
      Graph.triangleCounts(edgesOf(hubify(liG1))),
      Graph.triangleCounts(edgesOf(hubify(liGN))))

    // join tier: copies get fresh keys (users/customers/suppliers), the
    // honest 100 TB shape — more data means more keys at constant per-key
    // density, so output and per-task state must stay O(copy count)
    val ev = graft.readTable(spark, sfDir, "events")
      .select("event_id", "user_id", "ts", "value", "event_type")
    def evCopy(i: Int) = ev.select(
      (col("event_id") + lit(i.toLong * 100000000L)).as("event_id"),
      (col("user_id") + lit(i.toLong * 1000000L)).as("user_id"),
      col("ts"), col("value"), col("event_type"))
    def asofOf(e: DataFrame) = {
      val p = e.where(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts", "value")
      val c = e.where(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts"), col("value"))
      Ops.asofJoin(p, c, Seq("user_id"), "ts", "ts",
        rightCols = Seq("click_id", "value", "ts"), rightTieCol = Some("click_id"))
    }
    pair("asof_join")(
      asofOf(evCopy(0)),
      asofOf((0 until factor).map(evCopy).reduce(_ unionByName _)))

    // planted hot key: EVERY event (all copies) collapses onto user_id 1 —
    // the unsplit window would sort the whole table in one task; the
    // timeBucket guard must keep the ratio near-linear by splitting the
    // one key's timeline across tasks
    def asofHotOf(e: DataFrame) = {
      val hot = e.withColumn("user_id", lit(1L))
      val p = hot.where(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts", "value")
      val c = hot.where(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts"), col("value"))
      Ops.asofJoin(p, c, Seq("user_id"), "ts", "ts",
        rightCols = Seq("click_id", "value", "ts"), rightTieCol = Some("click_id"),
        timeBucket = Some(3600.0))
    }
    pair("asof_hotkey")(
      asofHotOf(evCopy(0)),
      asofHotOf((0 until factor).map(evCopy).reduce(_ unionByName _)))

    // names are letter-permuted per copy (distance >> 1 across copies), so
    // cross-copy values never collide and pair volume stays per-copy-local
    val parts = graft.readTable(spark, sfDir, "part").select("p_partkey", "p_name")
    def partCopy(i: Int) = parts.select(
      (col("p_partkey") + lit(i.toLong * 100000000L)).as("p_partkey"),
      permuted(col("p_name"), i).as("p_name"))
    def fuzzyOf(c: DataFrame) =
      Joins.fuzzyJoin(c, c, "p_name", "p_name", 1)
        .where(col("p_partkey") =!= col("p_partkey_right"))
    pair("fuzzy_join")(
      fuzzyOf(partCopy(0)),
      fuzzyOf((0 until factor).map(partCopy).reduce(_ unionByName _)))

    val ivBase = graft.readTable(spark, sfDir, "lineitem").select(
      col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
      datediff(col("l_shipdate").cast("date"), to_date(lit("1992-01-01"))).as("s0"),
      col("l_quantity"))
    def ivCopy(i: Int) = ivBase.select(
      (col("l_suppkey") + lit(i.toLong * 1000000L)).as("k"),
      (col("l_orderkey") * 10 + col("l_linenumber") + lit(i.toLong * 1000000000L)).as("iid"),
      col("s0"), (col("s0") + floor(col("l_quantity")).cast("int")).as("e0"))
    def ivOf(f: DataFrame) =
      Joins.intervalJoin(f, f, Seq("k"), "s0", "e0", "s0", "e0", bucketWidth = 32.0)
        .where(col("iid") =!= col("iid_right"))
    pair("interval_join")(
      ivOf(ivCopy(0)),
      ivOf((0 until factor).map(ivCopy).reduce(_ unionByName _)))

    // planet-length long tail: each copy plants a handful of intervals
    // spanning the WHOLE time domain (~2500 days = ~78 buckets... times the
    // copy count under flat binning, one row each under the ladder). The
    // maxReplication guard must keep per-row replication capped so the
    // ratio stays near-linear instead of compounding with the span
    def ivLong(f: DataFrame, copies: Int) = {
      val planet = (0 until copies).map { i =>
        graft.readTable(spark, sfDir, "nation")
          .select((col("n_nationkey") + lit(i.toLong * 1000000L)).as("k"),
            (col("n_nationkey") - lit(1000000000L)).as("iid"),
            lit(0).as("s0"), lit(100000).as("e0"))
      }.reduce(_ unionByName _)
      Joins.intervalJoin(f.unionByName(planet), f.unionByName(planet),
          Seq("k"), "s0", "e0", "s0", "e0", bucketWidth = 32.0,
          maxReplication = Some(32))
        .where(col("iid") =!= col("iid_right"))
    }
    pair("interval_longtail")(
      ivLong(ivCopy(0), 1),
      ivLong((0 until factor).map(ivCopy).reduce(_ unionByName _), factor))

    // bloom-pruned join: per-copy fresh keys, dim at constant per-copy
    // selectivity (~0.5% of orderkeys), so survivors and output scale with
    // the copies while the gate keeps the exchange at survivor volume —
    // cost must track the (linear) scan, never the un-gated shuffle
    def liFact(i: Int) = graft.readTable(spark, sfDir, "lineitem")
      .select((col("l_orderkey") + lit(i.toLong * 100000000L)).as("l_orderkey"),
        col("l_extendedprice"))
    def liDim(i: Int) = liFact(i).where(col("l_orderkey") % 211 === 0)
      .select(col("l_orderkey").as("k")).distinct()
    def bloomOf(facts: DataFrame, dim: DataFrame) =
      Joins.bloomPrunedJoin(facts, dim, "l_orderkey", "k")
    pair("join_bloom")(
      bloomOf(liFact(0), liDim(0)),
      bloomOf((0 until factor).map(liFact).reduce(_ unionByName _),
        (0 until factor).map(liDim).reduce(_ unionByName _)))

    pair("sim_project")(
      Similarity.projectedTopK(emb, queries, "embedding", "vec_id", k = 5),
      Similarity.projectedTopK(embN, queries, "embedding", "vec_id", k = 5))

    pair("stats_hll_group")(
      Sketch.hllDistinctByGroup(ev, "user_id", Seq("event_type")),
      Sketch.hllDistinctByGroup((0 until factor).map(evCopy).reduce(_ unionByName _),
        "user_id", Seq("event_type")))

    def mutate(d: DataFrame) = d.where(col("doc_id") % 13 =!= 0)
      .withColumn("text", when(col("doc_id") % 7 === 0,
        concat(col("text"), lit("!"))).otherwise(col("text")))
    pair("data_snapshot_diff")(
      Ops.snapshotDiff(docs, mutate(docs), "doc_id", Seq("text")),
      Ops.snapshotDiff(docsN, mutate(docsN), "doc_id", Seq("text")))

    pair("stats_kll")(
      Kll.kllQuantiles(li.select(col("l_quantity").cast("double").as("v")), "v", k = 4096),
      Kll.kllQuantiles((0 until factor).map(i =>
          li.select((col("l_quantity") + lit(i * 0.001)).cast("double").as("v")))
        .reduce(_ unionByName _), "v", k = 4096))

    pair("text_nbclassify")(
      graft.operators.TextAnalysis.nbClassify(docs, col("lang") === "en"),
      graft.operators.TextAnalysis.nbClassify(docsN, col("lang") === "en"))

    // exact set-similarity, probe-vs-corpus shape (the registry query's):
    // constant probe set, growing corpus — copies are letter-permuted so
    // vocabularies diverge and candidate volume stays probe-local. (A full
    // self-join on this template-vocabulary corpus is the prefix filter's
    // documented degenerate case — candidates ≈ all-pairs — and would
    // measure the corpus, not the operator.)
    val ssProbes = docs.where(col("doc_id") % 20 === 3)
    pair("setsim_join")(
      Joins.setSimJoin(ssProbes, docs, "doc_id", "text", "doc_id", "text", 0.5),
      Joins.setSimJoin(ssProbes, docsN, "doc_id", "text", "doc_id", "text", 0.5))

    // containment, same probe-vs-corpus shape: the right side's inverted
    // index grows linearly (its inherent cost); probe prefixes are constant
    pair("setsim_containment")(
      Joins.containmentJoin(ssProbes, docs, "doc_id", "text", "doc_id", "text", 0.8),
      Joins.containmentJoin(ssProbes, docsN, "doc_id", "text", "doc_id", "text", 0.8))

    // time-series gap fill: fresh users per copy — the spine grows with
    // keys at constant per-key span, never with the time domain
    def gfOf(e: DataFrame) = Ops.gapFill(e, "user_id", "ts", "value", 3600L, "event_id")
    pair("events_gapfill")(
      gfOf(evCopy(0)),
      gfOf((0 until factor).map(evCopy).reduce(_ unionByName _)))

    // interpolation rides the same spine with two per-key ordered windows
    def gfiOf(e: DataFrame) = Ops.gapFillInterp(e, "user_id", "ts", "value", 3600L, "event_id")
    pair("events_gapfill_interp")(
      gfiOf(evCopy(0)),
      gfiOf((0 until factor).map(evCopy).reduce(_ unionByName _)))

    // lag-24 ACF rides the same spine: per-key windows over bounded series
    def acfOf(e: DataFrame) =
      Ops.autocorrelation(e, "user_id", "ts", "value", 3600L, 24, "event_id")
    pair("events_autocorr")(
      acfOf(evCopy(0)),
      acfOf((0 until factor).map(evCopy).reduce(_ unionByName _)))

    // CDC merge: base and changelog both scale with copies (same fresh-key
    // shift on both sides so change keys keep hitting base keys)
    val cust = graft.readTable(spark, sfDir, "customer")
      .select("c_custkey", "c_acctbal", "c_mktsegment")
    def custCopy(i: Int) = cust.withColumn("c_custkey",
      col("c_custkey") + lit(i.toLong * 1000000L))
    def chOf(e: DataFrame) = e.where(col("event_type").isin("purchase", "error"))
      .select(col("user_id").as("c_custkey"), col("value").as("c_acctbal"),
        concat(lit("seg_"), col("event_type")).as("c_mktsegment"),
        when(col("event_type") === "error", lit("delete"))
          .otherwise(lit("upsert")).as("op"),
        col("ts"), col("event_id"))
    pair("data_upsert")(
      Ops.applyChangelog(custCopy(0), chOf(evCopy(0)),
        Seq("c_custkey"), "ts", "op", "event_id"),
      Ops.applyChangelog((0 until factor).map(custCopy).reduce(_ unionByName _),
        (0 until factor).map(i => chOf(evCopy(i))).reduce(_ unionByName _),
        Seq("c_custkey"), "ts", "op", "event_id"))

    // linear attribution: fresh users per copy, constant per-user density
    def attrOf(e: DataFrame) = Ops.attributionLinear(e, "user_id", "ts",
      "event_type", "purchase", Seq("click", "view"), "value", 259200L, "event_id")
    pair("events_attribution")(
      attrOf(evCopy(0)),
      attrOf((0 until factor).map(evCopy).reduce(_ unionByName _)))

    // basket lift: copies shift baskets AND the item space, so pair volume
    // grows with baskets at constant per-basket size
    def basketOf(i: Int) = graft.readTable(spark, sfDir, "lineitem")
      .select((col("l_orderkey") + lit(i.toLong * 100000000L)).as("b"),
        (col("l_partkey") % 100 + lit(i.toLong * 1000L)).as("it"))
    def liftOf(f: DataFrame) = Ops.basketLift(f, "b", "it", minCount = 3L)
    pair("basket_lift")(
      liftOf(basketOf(0)),
      liftOf((0 until factor).map(basketOf).reduce(_ unionByName _)))

    // farthest-point sampling: fixed k rounds over a growing corpus — cost
    // must track the scan, rounds stay constant
    pair("sim_fps")(
      Similarity.farthestPointSample(emb, "embedding", "vec_id", k = 6),
      Similarity.farthestPointSample(embN, "embedding", "vec_id", k = 6))

    // exact n-gram census: growing corpus, constant k — gram agg + heaps
    pair("text_ngram_topk")(
      graft.operators.TextAnalysis.ngramTopK(docs, n = 3, k = 40),
      graft.operators.TextAnalysis.ngramTopK(docsN, n = 3, k = 40))

    // scan-bound one-pass profilers
    val liP = graft.readTable(spark, sfDir, "lineitem").select(
      "l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag",
      "l_discount", "l_tax")
    val liPN = (0 until factor).map(i => liP.withColumn("l_orderkey",
      col("l_orderkey") + lit(i.toLong * 100000000L))).reduce(_ unionByName _)
    val profCols = Seq("l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag")
    pair("data_profile")(
      graft.operators.Profiling.profile(liP, profCols),
      graft.operators.Profiling.profile(liPN, profCols))
    val corrCols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    pair("stats_corr")(
      graft.operators.Profiling.corrMatrix(liP, corrCols),
      graft.operators.Profiling.corrMatrix(liPN, corrCols))

    // semantic dedup: nlist scales WITH the corpus (the documented knob) so
    // the expected cell size — and with it the within-cell pair space —
    // stays constant; fixed nlist at 10x data would square the pair count
    // by construction, which is the operator's contract, not a scale bug
    pair("dedup_semantic")(
      Dedup.semanticDedup(emb, "embedding", "vec_id", nlist = 16),
      Dedup.semanticDedup(embN, "embedding", "vec_id", nlist = 16 * factor))

    // k-means: fixed k and rounds over a growing corpus — per-round cost is
    // one codegen'd k·dim scan + a (cluster, position) mean, both linear
    pair("sim_kmeans")(
      Clustering.kmeans(emb, "embedding", "vec_id", k = 16, iters = 3),
      Clustering.kmeans(embN, "embedding", "vec_id", k = 16, iters = 3))

    // BM25: constant query set, growing corpus — the retrieval scale shape
    def bm25Of(corpus: DataFrame) = {
      val qs = docs.where(col("doc_id") % 100 === 7)
        .select(col("doc_id").as("query_id"), substring(col("text"), 1, 40).as("query"))
      graft.operators.TextAnalysis.searchBM25(corpus, qs, topK = 10)
    }
    pair("text_bm25")(bm25Of(docs), bm25Of(docsN))

    // persisted BM25 index roundtrip (post-r12 concurrent-write build):
    // build cost tracks the corpus (tokenize + one groupBy + three parallel
    // writes), search cost the query vocabulary via bucket pruning — the
    // timed pair covers build + one search batch at 1× and factor×
    val btmp = s"$scratch/bm25"
    def bm25IdxOf(corpus: DataFrame, path: String) = {
      graft.operators.TextAnalysis.buildBM25Index(corpus, path)
      val qs = docs.where(col("doc_id") % 100 === 7)
        .select(col("doc_id").as("query_id"), substring(col("text"), 1, 40).as("query"))
      graft.operators.TextAnalysis.searchBM25Index(spark, path, qs, topK = 10)
    }
    pair("text_bm25_index")(
      bm25IdxOf(docs, s"$btmp/idx1"),
      bm25IdxOf(docsN, s"$btmp/idxN"))

    // BM25 refresh of one fixed delta (1 in 50 docs of the next copy) into
    // the 1× and factor× index, built untimed: an append-only refresh
    // rewrites no bucket, so the ratio must stay near 1
    val bdelta = docs.where(col("doc_id") % 50 === 3).select(
      (col("doc_id") + lit(factor * 100000000L)).as("doc_id"),
      permuted(col("text"), factor).as("text"))
    if (only.forall("text_bm25_refresh".contains)) {
      graft.operators.TextAnalysis.buildBM25Index(docs, s"$btmp/rf1")
      graft.operators.TextAnalysis.buildBM25Index(docsN, s"$btmp/rfN")
    }
    def bm25RefreshOf(path: String) = {
      graft.operators.TextAnalysis.refreshBM25Index(spark, path, bdelta)
      spark.read.parquet(s"$path/stats")
    }
    pair("text_bm25_refresh")(bm25RefreshOf(s"$btmp/rf1"), bm25RefreshOf(s"$btmp/rfN"))

    // DBSCAN: copies shift to DISJOINT regions — corpus growth as more
    // geography at constant density (10x density in ONE region would square
    // the true neighbor-pair count: DBSCAN's own answer, not a skew bug)
    def dbPts(i: Int) = {
      import graft.functions.TextFunctions.mix64_hash
      graft.readTable(spark, sfDir, "customer").select(
        (col("c_custkey") + lit(i.toLong * 10000000L)).as("id"),
        (pmod(mix64_hash(col("c_custkey"), 1L), lit(600L)).cast("double")
          * lit(0.1) - lit(30) + lit(i * 61.0)).as("x"),
        (pmod(mix64_hash(col("c_custkey"), 2L), lit(400L)).cast("double")
          * lit(0.1) - lit(20)).as("y"))
    }
    pair("geo_dbscan")(
      Clustering.dbscan(dbPts(0), "id", "x", "y", 1.0, 4),
      Clustering.dbscan((0 until factor).map(dbPts).reduce(_ unionByName _),
        "id", "x", "y", 1.0, 4))

    // PageRank: fresh keys per copy — 10x disjoint subgraphs at constant
    // degree, the honest web-growth shape
    val prOrd = graft.readTable(spark, sfDir, "orders").select("o_orderkey", "o_custkey")
    val prLi = graft.readTable(spark, sfDir, "lineitem").select("l_orderkey", "l_suppkey")
    def prE(i: Int) = prLi.join(prOrd, col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") + lit(i.toLong * 10000000L)).as("src"),
        (col("l_suppkey") + lit(i.toLong * 10000000L) + 1000000L).as("dst"))
    pair("graph_pagerank")(
      Graph.pagerank(prE(0), iters = 5),
      Graph.pagerank((0 until factor).map(prE).reduce(_ unionByName _), iters = 5))

    // planted hub: every source ALSO links one global hub node, so a single
    // dst key receives a contribution from every src in the graph each
    // round. The per-round rank sum is map-side combined, so the hot key
    // must cost a merge of per-task partials — never a one-task reduction
    // of the whole edge list — and the ratio must stay near the no-hub pair
    def prHub(f: DataFrame) = f.unionByName(
      f.select(col("src"), lit(-1L).as("dst")).distinct())
    pair("pagerank_hub")(
      Graph.pagerank(prHub(prE(0)), iters = 5),
      Graph.pagerank(prHub((0 until factor).map(prE).reduce(_ unionByName _)), iters = 5))

    // splittable avro IO: ONE container file at 1× and factor× — read cost
    // must track bytes through parallel byte-range tasks (sync-marker
    // splits), never serialize on the single file
    val atmp = s"$scratch/avro"
    if (only.forall("avro_read".contains)) {
      graft.sources.Avro.write(docs.repartition(1), s"$atmp/one", codec = "null")
      graft.sources.Avro.write(docsN.repartition(1), s"$atmp/oneN", codec = "null")
    }
    pair("avro_read")(
      graft.sources.Avro.read(spark, s"$atmp/one", splitBytes = 8L * 1024 * 1024),
      graft.sources.Avro.read(spark, s"$atmp/oneN", splitBytes = 8L * 1024 * 1024))

    // splittable arrow IPC IO: ONE footer-indexed file at 1× and factor× —
    // split planning is metadata-only, read cost must track bytes through
    // batch-offset tasks
    if (only.forall("arrow_read".contains)) {
      graft.sources.ArrowIpc.write(docs.repartition(1), s"$atmp/arrow1",
        codec = "null", batchRows = 4096)
      graft.sources.ArrowIpc.write(docsN.repartition(1), s"$atmp/arrowN",
        codec = "null", batchRows = 4096)
    }
    pair("arrow_read")(
      graft.sources.ArrowIpc.read(spark, s"$atmp/arrow1", splitBytes = 8L * 1024 * 1024),
      graft.sources.ArrowIpc.read(spark, s"$atmp/arrowN", splitBytes = 8L * 1024 * 1024))

    // manifest lakehouse tier: per-copy commits are key-disjoint, so the
    // footer-stats census lets a constant-window scan and a narrow merge
    // touch ONE commit's files no matter how many copies the table holds —
    // these ratios must hover near 1, not near factor (the whole point of
    // file-level pruning at 100 TB: query cost tracks the QUERY, not the
    // table)
    val mtmp = s"$scratch/manifest"
    val ordM = graft.readTable(spark, sfDir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    def ordCopy(i: Int) = ordM.select(
      (col("o_orderkey") + lit(i.toLong * 100000000L)).as("o_orderkey"),
      col("o_custkey"), col("o_totalprice"))
    val manifestTier = only.forall(s =>
      "manifest_scan".contains(s) || "manifest_merge".contains(s))
    if (manifestTier) {
      graft.sources.ManifestTable.append(ordCopy(0), s"$mtmp/t1")
      (0 until factor).foreach(i =>
        graft.sources.ManifestTable.append(ordCopy(i), s"$mtmp/tN"))
    }
    val window = graft.sources.ManifestTable.Between("o_orderkey", 1L, 100000L)
    pair("manifest_scan")(
      graft.sources.ManifestTable.scan(spark, s"$mtmp/t1", window),
      graft.sources.ManifestTable.scan(spark, s"$mtmp/tN", window))
    // upsert keys land inside copy 0's range only: the merge must rewrite
    // that commit's files and CARRY the other factor−1 commits untouched
    val mergeSrc = ordCopy(0).where(col("o_orderkey") % 50 === 0)
      .withColumn("o_totalprice", col("o_totalprice") * 2)
    pair("manifest_merge")(
      { graft.sources.ManifestTable.merge(spark, s"$mtmp/t1", mergeSrc,
          Seq("o_orderkey")); spark.range(1).toDF("done") },
      { graft.sources.ManifestTable.merge(spark, s"$mtmp/tN", mergeSrc,
          Seq("o_orderkey")); spark.range(1).toDF("done") })

    // manifest CDF: row-level diff of the pre-merge vs post-merge snapshot.
    // Inherently linear in the union of the two snapshots (every surviving
    // row is key-hashed once per side — the honest linear = 1 tier, like
    // sim_topk), but the shuffle moves only (key, 64-bit hash) pairs; the
    // ratio shows the constant stays flat as the table grows factor×
    if (only.forall("manifest_cdf".contains)) {
      graft.sources.ManifestTable.append(ordCopy(0), s"$mtmp/cdf1")
      (0 until factor).foreach(i =>
        graft.sources.ManifestTable.append(ordCopy(i), s"$mtmp/cdfN"))
      graft.sources.ManifestTable.merge(spark, s"$mtmp/cdf1", mergeSrc,
        Seq("o_orderkey"))
      graft.sources.ManifestTable.merge(spark, s"$mtmp/cdfN", mergeSrc,
        Seq("o_orderkey"))
    }
    pair("manifest_cdf")(
      graft.sources.ManifestTable.changes(spark, s"$mtmp/cdf1",
        1L, 2L, "o_orderkey"),
      graft.sources.ManifestTable.changes(spark, s"$mtmp/cdfN",
        factor.toLong, factor + 1L, "o_orderkey"))

    // manifest LOG scale: a long LIFE, not a big table — 40 vs 40·factor
    // micro-commits of the same tiny frame. The no-match scan reads ZERO
    // data files, so its cost is pure metadata replay; checkpointing makes
    // that replay start at the newest checkpoint (bounded tail) instead of
    // parsing every v*.json, so the ratio must hover near 1 while the
    // commit count grows factor× (without checkpoints this pair reads
    // 10× the manifests and shows it)
    if (only.forall("manifest_log".contains)) {
      val tinyM = spark.range(20)
        .select(col("id").as("k"), (col("id") * 2).as("v")).coalesce(1)
      (0 until 40).foreach(_ =>
        graft.sources.ManifestTable.append(tinyM, s"$mtmp/log1"))
      (0 until 40 * factor).foreach(_ =>
        graft.sources.ManifestTable.append(tinyM, s"$mtmp/logN"))
    }
    val noMatch = graft.sources.ManifestTable.Between("k", 1000000L, 2000000L)
    pair("manifest_log")(
      graft.sources.ManifestTable.scan(spark, s"$mtmp/log1", noMatch),
      graft.sources.ManifestTable.scan(spark, s"$mtmp/logN", noMatch))

    if (only.forall("zorder_read".contains)) {
      // Z-order pruning at factor×: the same bbox read against the curve-
      // clustered layout vs a round-robin (locality-destroyed) copy of the
      // same rows — the delta is the I/O the row-group stats let us skip
      val zpts = (0 until factor).map { i =>
        li.select(
          (expr("(l_partkey % 120) * 0.5 - 30 + 0.25") + lit(i * 0.003)).as("lon"),
          (expr("(l_orderkey % 80) * 0.5 - 20 + 0.25") + lit(i * 0.003)).as("lat"),
          (col("l_orderkey") + lit(i.toLong * 100000000L)).as("id"))
      }.reduce(_ unionByName _)
      val ztmp = s"$scratch/zorder"
      GeoOps.writeZOrdered(zpts, "lon", "lat", s"$ztmp/zorder", bits = 16, partitions = 64)
      zpts.withColumn("__z",
          graft.functions.GeoFunctions.st_zorder(col("lon"), col("lat"), 16))
        .repartition(64)
        .write.mode("overwrite").parquet(s"$ztmp/shuffled")
      println("zorder_read (clustered vs locality-destroyed, same rows):")
      // wall-clock is page-cache-flattered at this sf — the honest scale
      // signals are rows DECODED after row-group pruning and bytes on disk
      def zProbe(layout: String): (Long, Long, Long) = {
        val df = GeoOps.readZOrdered(spark, s"$ztmp/$layout", "lon", "lat",
          -10.0, -10.0, 5.0, 5.0)
        val qe = df.queryExecution
        val t0 = System.nanoTime()
        val n = qe.executedPlan.execute().count()
        val secs = (System.nanoTime() - t0) / 1e9
        val m = qe.executedPlan.collectLeaves().head.metrics
        println(f"  $layout%-10s $secs%6.2fs result=$n scanRows=${m("numOutputRows").value} bytes=${m("filesSize").value}")
        (n, m("numOutputRows").value, m("filesSize").value)
      }
      val (_, zcRows, zcBytes) = zProbe("zorder")
      val (_, zsRows, zsBytes) = zProbe("shuffled")
      println(f"  zorder at ${factor}x: ${zsRows.toDouble / zcRows}%.1fx fewer rows decoded, " +
        f"${zsBytes.toDouble / zcBytes}%.1fx smaller on disk")
    }

    println(f"\n${"operator"}%-18s ${"1x"}%8s ${s"${factor}x"}%8s ${"ratio"}%7s  (linear = $factor)")
    results.foreach { case (name, (a, b)) =>
      println(f"$name%-18s $a%7.2fs $b%7.2fs ${b / a}%7.2f")
    }
  }
}
