package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.sql.types.{BinaryType, LongType, StructField, StructType}

/** Physical-plan audits for the scale claims in SURVEY §4/§6: the grid
  * spatial join must never degenerate into a cartesian product, dimension
  * joins must broadcast, scans must prune columns, and aggregations must
  * keep their map-side partial step. Asserting on the plan (not just the
  * result) pins the *shape* that makes these operators survive 100 TB.
  */
class PlanAuditSpec extends SparkSpec {

  private def physical(df: DataFrame): String = df.queryExecution.sparkPlan.toString
  private def optimized(df: DataFrame): String = df.queryExecution.optimizedPlan.toString

  private def q(name: String): DataFrame = SparkEntry.queries(name)(spark, sfDir)

  test("grid spatial joins are hash joins on cell keys, never cartesian") {
    // sagg / sfilter over these small sides take the index path by default;
    // an index row cap of 0 forces the grid path audited here
    import graft.operators.SJoin
    val (custPoints, nationZones) =
      (SparkEntry.custPoints(spark, sfDir), SparkEntry.nationZones(spark, sfDir))
    def gridSagg(l: DataFrame) = SJoin.sagg(l, custPoints, Seq(count(lit(1)).as("n_pts")),
      "contains", "inner", "geometry", "geometry", SJoin.DefaultCellDeg, SJoin.Tuning(), 0)
    Seq(
      "sjoin_full" -> q("sjoin_full"),
      "sjoin_agg" -> gridSagg(nationZones),
      "sjoin_filter" -> SJoin.sfilter(custPoints, nationZones, "within", false, "geometry",
        "geometry", SJoin.DefaultCellDeg, SJoin.Tuning(), 0),
      "sjoin_heavy" -> gridSagg(SparkEntry.supplierRects(spark, sfDir))
    ).foreach { case (name, df) =>
      val plan = physical(df)
      assert(!plan.contains("CartesianProduct"), s"$name degenerated to cartesian:\n$plan")
      assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
        s"$name lost its equi-join:\n$plan")
    }
  }

  test("small-side sjoins probe a broadcast index: sfilter and slookup never shuffle, sagg only for its aggregate") {
    import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    object Plans extends AdaptiveSparkPlanHelper
    def shuffles(df: DataFrame): Seq[SparkPlan] = {
      df.collect() // the final adaptive plan, query stages included
      val plan = df.queryExecution.executedPlan
      assert(plan.toString.contains("grid_probe"), s"no index probe:\n$plan")
      Plans.collect(plan) { case e: ShuffleExchangeLike => e.child }
    }
    Seq("sjoin_filter", "sjoin_lookup").foreach { name =>
      val found = shuffles(q(name))
      assert(found.isEmpty, s"$name shuffles:\n${found.mkString("\n")}")
    }
    val found = shuffles(q("sjoin_agg"))
    assert(found.length == 1, s"sjoin_agg shuffles more than its aggregate:\n${found.mkString("\n")}")
    val partial = found.head match { case w: WholeStageCodegenExec => w.child; case p => p }
    assert(partial.nodeName.contains("HashAggregate"),
      s"sjoin_agg's shuffle is not its aggregate:\n$partial")
  }

  test("the deliberate cross join is the ONLY cartesian in the suite") {
    assert(physical(q("crossjoin_count")).contains("Cartesian") ||
      physical(q("crossjoin_count")).contains("BroadcastNestedLoopJoin"))
  }

  test("subset reads prune the parquet scan to the selected columns") {
    val plan = q("subset_cols").queryExecution.executedPlan.toString
    val readSchema = "ReadSchema: [^\\n]+".r.findFirstIn(plan).getOrElse("")
    assert(readSchema.nonEmpty, s"no parquet scan found:\n$plan")
    // subset_cols projects a handful of columns; the 16-column lineitem
    // (or customer) table must NOT be read whole
    assert(!readSchema.contains("l_comment") && !readSchema.contains("c_comment"),
      s"scan reads unused columns: $readSchema")
  }

  test("windowed aggregation keeps its map-side partial step") {
    val plan = physical(q("events_window"))
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"no partial aggregation step:\n$plan")
  }

  test("brute-force similarity broadcasts the query side, not the corpus") {
    val plan = physical(q("sim_topk"))
    assert(plan.contains("Broadcast"), s"sim_topk shuffles instead of broadcasting:\n$plan")
  }

  test("manifest ANALYZE plans zero data-file scans (metadata only)") {
    // columnStats folds the footer-stats census on the driver: the returned
    // frame must be a local table, with no parquet FileScan anywhere in the
    // plan — the whole point of the verb at 100 TB
    val plan = q("data_manifest_stats").queryExecution.executedPlan.toString
    assert(!plan.contains("FileScan"), s"columnStats touched data files:\n$plan")
    assert(plan.contains("LocalTableScan"), plan)
  }

  test("dedup pipeline has no cartesian stage even at the candidate join") {
    Seq("dedup_minhash", "dedup_simhash").foreach { name =>
      val plan = optimized(q(name))
      assert(!physical(q(name)).contains("CartesianProduct"),
        s"$name candidate join degenerated:\n$plan")
    }
  }

  test("osm crop runs as id semi-joins, no cartesian, no geometry shuffle") {
    val plan = physical(q("osm_crop"))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"osm_crop degenerated:\n$plan")
    assert(plan.contains("LeftSemi"), s"membership must be semi-joins:\n$plan")
  }

  test("osm assemble joins on node id hash, no cartesian") {
    val plan = physical(q("osm_assemble"))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"osm_assemble degenerated:\n$plan")
  }

  test("osm relation assembly joins members on way-id hash, no cartesian") {
    val plan = physical(q("osm_assemble_rel"))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"osm_assemble_rel degenerated:\n$plan")
    // member geometry rides hash joins keyed on ids; the only shuffles are
    // the way/relation groupBys and joins — never a geometry-blob exchange
    assert(plan.contains("st_relation_multipolygon") || plan.contains("strelationmultipolygon"),
      s"relation constructor missing from plan:\n$plan")
  }

  test("osm merge keeps its map-side partial max_by") {
    val plan = physical(q("osm_merge"))
    assert("HashAggregate|SortAggregate".r.findAllIn(plan).size >= 2,
      s"no partial aggregation step:\n$plan")
  }

  test("non-equi join tier plans as equi-joins, never nested-loop") {
    Seq("events_asof", "fuzzy_join", "fuzzy_join_values", "interval_join").foreach { name =>
      val plan = physical(q(name))
      assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
        s"$name degenerated to a nested loop:\n$plan")
    }
    // the shuffle_hash pin must hold — the planner's pre-explode estimate
    // would otherwise broadcast a million-row build side
    assert(physical(q("interval_join")).contains("ShuffledHashJoin"),
      "interval_join lost its shuffle_hash pin")
  }

  test("join-tier skew guards keep the equi-join shape") {
    import testImplicits._
    val l = Seq(("a", 10L, "L")).toDF("k", "t", "lv")
    val r = Seq(("a", 3L, "R")).toDF("k", "t", "rv")
    val asofSplit = operators.Ops.asofJoin(l, r, Seq("k"), "t", "t", Seq("rv"),
      timeBucket = Some(10.0))
    val ap = physical(asofSplit)
    assert(!ap.contains("CartesianProduct") && !ap.contains("BroadcastNestedLoopJoin"),
      s"asof timeBucket path degenerated:\n$ap")
    assert("Window".r.findAllIn(ap).nonEmpty, s"asof lost its window:\n$ap")

    val iv = Seq(("k", 1L, 0.0, 100000.0), ("k", 2L, 5.0, 10.0)).toDF("k", "id", "s", "e")
    val laddered = operators.Joins.intervalJoin(iv, iv, Seq("k"), "s", "e", "s", "e",
      4.0, maxReplication = Some(16))
    val lp = physical(laddered)
    assert(!lp.contains("CartesianProduct") && !lp.contains("BroadcastNestedLoopJoin"),
      s"interval ladder degenerated:\n$lp")
    // two asymmetric native-build halves, both pinned shuffle-hash
    assert("ShuffledHashJoin".r.findAllIn(lp).size == 2,
      s"ladder must be exactly two shuffle-hash halves:\n$lp")
  }

  test("composed retrievers: candidate joins are hash joins, no cartesian") {
    // (probeCells' broadcast over the <=nlist-row centroid table is the one
    // deliberate tiny nested-loop pair in the IVF front end — model-sized)
    val ivf = physical(q("sim_int8_ivf"))
    assert(!ivf.contains("CartesianProduct"), s"sim_int8_ivf cartesian:\n$ivf")
    assert(ivf.contains("HashJoin") || ivf.contains("SortMergeJoin"),
      s"sim_int8_ivf candidate join not an equi-join:\n$ivf")
    val lsh = physical(q("sim_int8_lsh"))
    assert(!lsh.contains("CartesianProduct") && !lsh.contains("BroadcastNestedLoopJoin"),
      s"sim_int8_lsh degenerated:\n$lsh")
    assert(lsh.contains("HashJoin") || lsh.contains("SortMergeJoin"),
      s"sim_int8_lsh candidate join not an equi-join:\n$lsh")
    val pq = physical(q("sim_ivf_pq"))
    assert(!pq.contains("CartesianProduct"), s"sim_ivf_pq cartesian:\n$pq")
    assert(pq.contains("HashJoin") || pq.contains("SortMergeJoin"),
      s"sim_ivf_pq candidate join not an equi-join:\n$pq")
  }

  test("composed flagships: no cartesian stage end to end") {
    // pretrain: gopher gate + exact dedup + minhash bucket joins — all
    // equi-joins, nothing model-sized to nested-loop
    val pre = physical(q("pipeline_pretrain"))
    assert(!pre.contains("CartesianProduct") && !pre.contains("BroadcastNestedLoopJoin"),
      s"pipeline_pretrain degenerated:\n$pre")
    // rag: BM25 carries its deliberate 1-row corpus-stats broadcast (a
    // tiny nested-loop by design) — only a true cartesian is a failure
    val rag = physical(q("pipeline_rag"))
    assert(!rag.contains("CartesianProduct"), s"pipeline_rag cartesian:\n$rag")
  }

  test("stats_kll aggregates in one pass with a map-side partial") {
    val plan = physical(q("stats_kll"))
    // one ObjectHashAggregate pair (partial + final) over a single scan —
    // the one-pass claim vs histQuantiles' two scans
    assert("ObjectHashAggregate".r.findAllIn(plan).size >= 2,
      s"kll lost its partial aggregation:\n$plan")
    assert("Scan parquet".r.findAllIn(plan).size <= 1,
      s"kll reads the corpus more than once:\n$plan")
  }

  test("nb classifier: weights broadcast, one scan feeds the weight tree") {
    val plan = physical(q("text_nbclassify"))
    assert(!plan.contains("CartesianProduct"), s"nbClassify cartesian:\n$plan")
    // the D-row weight table rides a broadcast hash join onto per-doc counts
    assert(plan.contains("BroadcastHashJoin"),
      s"nbClassify weight table not broadcast:\n$plan")
    // train + totals share ONE scan+explode subtree (the window-over-model
    // fix): 4 scans total — weights, per-doc counts, prior (lang-only),
    // output join-back (id-only). A 5th means a tree re-executed itself.
    assert("Scan parquet".r.findAllIn(plan).size <= 4,
      s"weight tree re-executes the corpus scan:\n$plan")
  }

  test("bottom-k sampling plans as TakeOrderedAndProject, never a global sort") {
    val plan = physical(q("data_bottomk"))
    assert(plan.contains("TakeOrderedAndProject"), s"no O(k)-heap plan:\n$plan")
    assert(!plan.contains("Sort "), s"global sort crept in:\n$plan")
  }

  test("persisted-index search joins assigned cells as a hash join") {
    // the registry query's batch is a parquet frame: the distributed plan
    val plan = physical(q("sim_ivf_index"))
    assert(!plan.contains("CartesianProduct"), s"sim_ivf_index cartesian:\n$plan")
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      s"cell join not an equi-join:\n$plan")
    // the same batch as a local frame is served on the driver: the plans it
    // ran include a cell-partitioned scan filtered on `cell`, and no cartesian
    import org.apache.spark.sql.execution.FileSourceScanExec
    val emb = graft.readTable(spark, sfDir, "embeddings")
    val (assigned, centroids) =
      graft.operators.Similarity.ivfBuildIndex(emb, "embedding", "vec_id", nlist = 8)
    val dir = tmpDir("ivfplan")
    assigned.write.partitionBy("cell").parquet(s"$dir/assigned")
    centroids.write.parquet(s"$dir/centroids")
    val batch = emb.where(col("vec_id") < 8)
    val local = spark.createDataFrame(java.util.Arrays.asList(batch.collect(): _*), batch.schema)
    val (served, _, plans) = traced(graft.operators.Similarity.ivfSearchIndex(
      spark.read.parquet(s"$dir/assigned"), spark.read.parquet(s"$dir/centroids"),
      local, "embedding", "vec_id", 5, 8))
    assert(servedOnDriver(served))
    val executed = plans.map(_.executedPlan)
    executed.foreach(p => assert(!p.toString.contains("CartesianProduct"), s"cartesian:\n$p"))
    val cellScans = executed.flatMap(_.collect { case s: FileSourceScanExec => s })
      .filter(_.partitionFilters.exists(_.references.exists(_.name == "cell")))
    assert(cellScans.nonEmpty,
      s"no scan with a partition filter on cell:\n${executed.mkString("\n")}")
  }

  test("persisted int8 index: hash joins only, candidate scan prunes the float column") {
    val df = q("sim_int8_ivf_index")
    val plan = physical(df)
    assert(!plan.contains("CartesianProduct"), s"sim_int8_ivf_index cartesian:\n$plan")
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      s"cell join not an equi-join:\n$plan")
    val readSchemas = "ReadSchema: [^\\n]+".r
      .findAllIn(df.queryExecution.executedPlan.toString).toSeq
    assert(readSchemas.exists(s => s.contains("q8") && !s.contains("vec")),
      s"candidate scan reads the float vec column:\n${readSchemas.mkString("\n")}")
  }

  test("winnow dedup is hash-keyed: no cartesian, partial agg before the shuffle") {
    val plan = physical(q("text_substrdup"))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"text_substrdup degenerated:\n$plan")
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"fingerprint counting lost its partial step:\n$plan")
  }

  test("triangle wedges close through equi-joins, never a nested loop") {
    val plan = physical(q("graph_triangles"))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"graph_triangles degenerated:\n$plan")
  }

  test("per-domain cap plans as a WindowGroupLimit (pre-shuffle prune)") {
    val plan = q("url_domain_cap").queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"rank<=cap did not become a WindowGroupLimit:\n$plan")
  }

  test("bloom gate is a scan-side filter feeding a plain equi-join") {
    val plan = physical(q("join_bloom"))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"join_bloom degenerated:\n$plan")
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      s"join_bloom lost its equi-join:\n$plan")
    // the membership test must sit in a Filter over the fact scan, i.e. the
    // word-array literal appears before the join, not as a join condition
    val opt = optimized(q("join_bloom"))
    assert(opt.contains("Filter"), s"no scan-side gate:\n$opt")
  }

  test("funnel levels chain through window sorts, never per-key self-joins") {
    val plan = physical(q("events_funnel"))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"events_funnel degenerated:\n$plan")
    assert(plan.contains("Window"), s"funnel lost its union-sort shape:\n$plan")
  }

  test("quantile gate never sorts the corpus: the only window runs on the bin table") {
    val df = q("data_quantile_gate")
    val plan = physical(df)
    assert(!plan.contains("CartesianProduct"), s"gate degenerated:\n$plan")
    // the corpus side is an aggregate (bin counts) before any window
    assert(plan.contains("HashAggregate"), s"bin counting lost its aggregate:\n$plan")
  }

  test("analytics tier: equi-joins only, and the n-gram cut is a heap") {
    Seq("setsim_containment", "events_gapfill", "data_upsert",
      "dedup_best", "events_transitions", "events_attribution",
      "text_vocab_overlap", "sjoin_areal",
      "sjoin_dwithin").foreach { name =>
      val plan = physical(q(name))
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"$name degenerated to a nested loop:\n$plan")
    }
    // basket_lift attaches its basket count N as a broadcast 1-ROW
    // aggregate (replacing a separate driver-side count job) — the one
    // permitted nested-loop shape is that scalar cross join; real data
    // joins must stay hashed and a CartesianProduct is still forbidden
    val bl = physical(q("basket_lift"))
    assert(!bl.contains("CartesianProduct"), s"basket_lift cartesian:\n$bl")
    assert("BroadcastNestedLoopJoin".r.findAllIn(bl).size <= 1,
      s"basket_lift grew a second nested loop:\n$bl")
    assert(bl.contains("BroadcastHashJoin"),
      s"basket_lift marginals left the hash-join family:\n$bl")
    // corpus-wide top-k must be per-partition heaps, never a global sort
    val ng = physical(q("text_ngram_topk"))
    assert(ng.contains("TakeOrderedAndProject"), s"text_ngram_topk sorts:\n$ng")
  }

  test("setsim verify runs the codegen merge-scan kernel, not array_intersect") {
    // both set-similarity joins dictionary-encode tokens to sorted int ranks
    // and verify overlap with sorted_intersect_size — one O(n+m) codegen
    // merge per candidate pair; the interpreted string-array intersect must
    // be gone from the whole plan
    Seq("setsim_join", "setsim_containment").foreach { name =>
      val plan = physical(q(name))
      assert(plan.contains("sorted_intersect_size"),
        s"$name lost the merge-scan verify kernel:\n$plan")
      assert(!plan.contains("array_intersect"),
        s"$name still verifies via interpreted array_intersect:\n$plan")
    }
  }

  test("geometry expressions run inside whole-stage codegen") {
    val df = q("geo_area")
    df.collect() // force execution so the final adaptive plan exists
    val executed = df.queryExecution.executedPlan.toString
    // the compact plan renders a whole-stage-codegen span as a `*(id)` prefix
    assert(executed.contains("WholeStageCodegen") || executed.contains("*(1)"),
      s"no codegen span:\n$executed")
  }

  test("benchmarked geometry kernels are direct static calls in whole-stage generated code") {
    import graft.functions.GeomKernel
    import graft.operators.{GeoOps, SJoin}
    // inputs from an RDD: no kernel call upstream, and nothing the optimizer
    // could fold into a local relation
    def geoms(idCol: String, n: Int)(g: Int => Array[Byte]): DataFrame =
      spark.createDataFrame(spark.sparkContext.parallelize(0 until n, 2).map(i => Row(i.toLong, g(i))),
        StructType(Seq(StructField(idCol, LongType), StructField("geometry", BinaryType))))
    val zones = geoms("zone_id", 20)(i => GeomKernel.bufferM(GeomKernel.point(i * 0.01, 0.0), 500.0, 4))
    val pts = geoms("point_id", 200)(i => GeomKernel.point(i * 0.001, 0.0))
    Seq(
      GeoOps.lengthM(GeoOps.areaM(zones)) -> Seq("areaM", "lengthM"),
      // the grid path (an index row cap of 0 forces it)
      SJoin.sagg(zones, pts, Seq(count(lit(1)).as("n")), "contains", "left", "geometry",
        "geometry", SJoin.DefaultCellDeg, SJoin.Tuning(), 0) ->
        Seq("contains", "cellCover", "cellOf", "bbox"),
      GeoOps.convert(zones, "EPSG:4326", "EPSG:3857") -> Seq("toMercator"),
      GeoOps.bufferM(pts, 100.0) -> Seq("bufferM")
    ).foreach { case (df, methods) =>
      df.collect() // the final adaptive plan holds the generated code that ran
      val code = df.queryExecution.debug.codegenToSeq().map(_._2).mkString("\n")
      methods.foreach { m =>
        assert(code.contains(s"graft.functions.GeomKernel.$m("),
          s"no generated GeomKernel.$m call:\n${df.queryExecution.executedPlan}")
      }
    }
  }
}
