package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.functions.GeoFunctions._

class SJoinSpec extends AnyFunSuite with SparkSpec {

  import testImplicits._
  import SJoinSpec._

  // points: a 5×5 grid at (i+0.25, j+0.25), i,j ∈ 0..4
  private lazy val points: DataFrame =
    (for { i <- 0 until 5; j <- 0 until 5 } yield (i * 5 + j, i + 0.25, j + 0.25))
      .toDF("pid", "lon", "lat")
      .select(col("pid"), st_point(col("lon"), col("lat")).as("geometry"))

  // zones: two overlapping rectangles + one far away
  private lazy val zones: DataFrame = Seq(
    (1, "POLYGON ((0 0, 3 0, 3 3, 0 3, 0 0))"),
    (2, "POLYGON ((2 2, 5 2, 5 5, 2 5, 2 2))"),
    (3, "POLYGON ((50 50, 51 50, 51 51, 50 51, 50 50))"))
    .toDF("zid", "wkt")
    .select(col("zid"), st_geomfromtext(col("wkt")).as("geometry"))

  test("sjfull inner: each (point, zone) pair exactly once, small cells force multi-cell cover") {
    val out = SJoin.sjfull(points, zones, predicate = "within", cellDeg = 0.7)
    val got = out.select("pid", "zid").as[(Int, Int)].collect().toSet
    val expect = (for {
      i <- 0 until 5; j <- 0 until 5
      (zid, x1, y1, x2, y2) <- Seq((1, 0, 0, 3, 3), (2, 2, 2, 5, 5))
      if i + 0.25 > x1 && i + 0.25 < x2 && j + 0.25 > y1 && j + 0.25 < y2
    } yield (i * 5 + j, zid)).toSet
    assert(got == expect)
    // points in the overlap region match both zones
    assert(expect.groupBy(_._1).exists(_._2.size == 2))
  }

  test("sjfull left keeps unmatched left rows with null right columns") {
    val out = SJoin.sjfull(points, zones, predicate = "within", how = "left")
    assert(out.count() > points.count()) // overlaps add pairs
    val unmatched = out.where(col("zid").isNull).select("pid").as[Int].collect().toSet
    val matched = out.where(col("zid").isNotNull).select("pid").as[Int].collect().toSet
    assert(unmatched.intersect(matched).isEmpty)
    assert(unmatched.union(matched).size == 25)
  }

  test("sjfull left: no persist, duplicate left rows keep their multiplicity") {
    // content-hash tags are stable across the two scans — the plan must not
    // cache the left side
    val out = SJoin.sjfull(points, zones, predicate = "within", how = "left")
    assert(!out.queryExecution.executedPlan.toString.contains("InMemoryTableScan"))
    // two byte-identical left rows: both survive, matched or not
    val dup = points.where(col("pid") === 1).unionByName(points.where(col("pid") === 1))
      .unionByName(points.where(col("pid") === 2))
    val dOut = SJoin.sjfull(dup, zones, predicate = "within", how = "left")
    val perPid = dOut.groupBy("pid").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val single = SJoin.sjfull(points.where(col("pid") === 1), zones,
      predicate = "within", how = "left").count()
    assert(perPid(1) == 2 * single, s"duplicate multiplicity lost: $perPid vs $single")
    assert(perPid.contains(2))
  }

  test("sjfull left: null-shifted rows get distinct tags; maps fall back to persist") {
    // Spark hash skips NULL children, so ("x", null-geom) and (null, geom)
    // would collide without per-column null flags — the unmatched row with
    // the null geometry must survive as its own output row
    val zone = zones.limit(1)
    val g = points.where(col("pid") === 1).select("geometry").head().getAs[Array[Byte]](0)
    val shifted = Seq(
      (Option("x"), Option.empty[Array[Byte]]),
      (Option.empty[String], Option(g)))
      .toDF("name", "geometry")
    val out = SJoin.sjfull(shifted, zone, predicate = "within", how = "left")
    assert(out.count() == 2, "null-geometry row must survive the anti-join")
    assert(out.where(col("geometry").isNull).count() == 1)
    // a map-typed left column can't content-hash: falls back to persist
    val mapped = points.withColumn("tags", map(lit("k"), col("pid").cast("string")))
    val mOut = SJoin.sjfull(mapped, zones, predicate = "within", how = "left")
    assert(mOut.queryExecution.executedPlan.toString.contains("InMemoryTableScan"))
    assert(mOut.select("pid").distinct().count() == 25)
    mapped.unpersist()
  }

  test("sjfull left: window/repartition left plans fall back to persist") {
    // Spark flags row_number and round-robin repartition deterministic, but
    // their row CONTENT/placement can differ between the two scans of the
    // no-persist path — both must take the persist fallback
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("pid"))
    val windowed = points.withColumn("rk", row_number().over(w))
    val wOut = SJoin.sjfull(windowed, zones, predicate = "within", how = "left")
    assert(wOut.queryExecution.executedPlan.toString.contains("InMemoryTableScan"))
    assert(wOut.select("pid").distinct().count() == 25)
    val rep = points.repartition(4)
    val rOut = SJoin.sjfull(rep, zones, predicate = "within", how = "left")
    assert(rOut.queryExecution.executedPlan.toString.contains("InMemoryTableScan"))
    assert(rOut.select("pid").distinct().count() == 25)
    spark.sharedState.cacheManager.clearCache()
  }

  test("snearest: closest right point in range, deterministic ties, left join") {
    val lpts = Seq((1, 0.0, 0.0), (2, 5.0, 5.0), (3, 40.0, 40.0)).toDF("lid", "lx", "ly")
      .select(col("lid"), st_point(col("lx"), col("ly")).as("geometry"))
    // 10 and 11 are equidistant from left 1 (±0.1° lon at the equator)
    val rpts = Seq((11, 0.1, 0.0), (10, -0.1, 0.0), (12, 5.05, 5.0)).toDF("rid", "rx", "ry")
      .select(col("rid"), st_point(col("rx"), col("ry")).as("geometry"))
    val out = SJoin.snearest(lpts, rpts, "lid", "rid", maxDistanceM = 50000.0)
      .select("lid", "rid", "nearest_dist_m").as[(Int, Int, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out.keySet == Set(1, 2)) // left 3 has nothing within 50 km
    assert(out(1)._1 == 10) // tie broken by smaller rid
    assert(math.abs(out(1)._2 - 11119.5) < 10) // 0.1° at the equator
    assert(out(2)._1 == 12)
    val lj = SJoin.snearest(lpts, rpts, "lid", "rid", maxDistanceM = 50000.0, how = "left")
    assert(lj.count() == 3)
    assert(lj.where(col("lid") === 3).select("rid").head().isNullAt(0))
  }

  test("snearest agrees with brute force on pseudo-random points") {
    val ls = (0 until 80).map(i => (i, (i * 7919 % 360) / 10.0 - 18.0, (i * 104729 % 140) / 10.0 - 7.0))
    val rs = (0 until 40).map(j => (j, (j * 6151 % 360) / 10.0 - 18.0, (j * 3571 % 140) / 10.0 - 7.0))
    val lpts = ls.toDF("lid", "x", "y").select(col("lid"), st_point(col("x"), col("y")).as("geometry"))
    val rpts = rs.toDF("rid", "x", "y").select(col("rid"), st_point(col("x"), col("y")).as("geometry"))
    val maxD = 400000.0
    val got = SJoin.snearest(lpts, rpts, "lid", "rid", maxD)
      .select("lid", "rid", "nearest_dist_m").as[(Int, Int, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    def hav(x1: Double, y1: Double, x2: Double, y2: Double): Double = {
      val r = 6371008.8
      val (p1, p2) = (math.toRadians(y1), math.toRadians(y2))
      val a = math.pow(math.sin((p2 - p1) / 2), 2) +
        math.cos(p1) * math.cos(p2) * math.pow(math.sin((math.toRadians(x2) - math.toRadians(x1)) / 2), 2)
      2 * r * math.asin(math.min(1.0, math.sqrt(a)))
    }
    val want = ls.flatMap { case (li, lx, ly) =>
      val cands = rs.map { case (ri, rx, ry) => (ri, hav(lx, ly, rx, ry)) }
        .filter(_._2 <= maxD)
      if (cands.isEmpty) None
      else Some(li -> cands.minBy { case (ri, d) => (d, ri) })
    }.toMap
    assert(got.keySet == want.keySet)
    got.foreach { case (li, (ri, d)) =>
      assert(ri == want(li)._1, s"left $li: got $ri want ${want(li)._1}")
      assert(math.abs(d - want(li)._2) < 1e-6)
    }
  }

  test("sagg aggregates right values per left zone") {
    val out = SJoin.sagg(zones, points,
      Seq(count(lit(1)).as("n"), sum("pid").as("pid_sum")), predicate = "contains", how = "left")
    val byZone = out.select("zid", "n").collect().map(r => r.getInt(0) -> r.get(1)).toMap
    assert(byZone(1) == 9L) // 3×3 grid points strictly inside
    assert(byZone(2) == 9L)
    assert(byZone(3) == null) // no match → null (left join semantics)
  }

  test("slookup picks the deterministic first match") {
    val out = SJoin.slookup(points, zones, columns = Seq("zid"), orderBy = "zid",
      predicate = "within", how = "left")
    val m = out.select("pid", "zid").collect().map(r => r.getInt(0) -> r.get(1)).toMap
    assert(m(2 * 5 + 2) == 1) // (2.25, 2.25) is in both zones → min zid wins
    assert(m(4 * 5 + 4) == 2) // only zone 2
    assert(m(4 * 5 + 0) == null) // (4.25, 0.25) in neither
  }

  test("slookup picks ATOMICALLY: orderBy ties never stitch columns from different rows") {
    // two zones covering the same point, TIED on orderBy, with two lookup
    // columns whose per-column minimums cross rows: an independent
    // per-column min_by could return (a=1, b=1) — a row that never existed
    val tiedZones = Seq(
      (10, 1, 9, "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))"),
      (10, 9, 1, "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))"))
      .toDF("prio", "a", "b", "wkt")
      .select(col("prio"), col("a"), col("b"), st_geomfromtext(col("wkt")).as("geometry"))
    val one = points.where(col("pid") === 0) // (0.25, 0.25)
    for (cap <- Seq(SJoin.IndexRows, Grid)) {
      val out = slookup(cap)(one, tiedZones, Seq("a", "b"), "prio", "within", "inner")
      val r = out.select("a", "b").as[(Int, Int)].collect()
      assert(r.length == 1, s"cap $cap")
      assert(r(0) == (1, 9) || r(0) == (9, 1), s"cap $cap: $r") // one REAL row, never (1, 1)
    }
  }

  test("sfilter semi and anti partition the left side") {
    val kept = SJoin.sfilter(points, zones, predicate = "within")
    val dropped = SJoin.sfilter(points, zones, predicate = "within", negative = true)
    assert(kept.count() + dropped.count() == 25)
    assert(kept.columns.toSeq == points.columns.toSeq) // schema preserved
  }

  test("order-dependent aggregates and subset dropDuplicates fall back to persist") {
    // first()/collect_list pick whatever row the shuffle delivered first —
    // a second scan can deliver differently, so content tags are unsafe
    val agged = points.groupBy(col("pid") % 5).agg(first(col("geometry")).as("geometry"))
      .withColumnRenamed("(pid % 5)", "grp")
    val aOut = SJoin.sjfull(agged, zones, predicate = "within", how = "left")
    assert(aOut.queryExecution.executedPlan.toString.contains("InMemoryTableScan"))
    // dropDuplicates over a SUBSET keeps order-dependent non-key columns
    val dd = points.withColumn("grp", col("pid") % 5).dropDuplicates("grp")
    val dOut = sfilter(Grid)(dd, zones, "within")
    assert(dOut.queryExecution.executedPlan.toString.contains("InMemoryTableScan"))
    // full-row dropDuplicates is safe: duplicates are identical
    val full = points.unionByName(points).dropDuplicates()
    val fOut = sfilter(Grid)(full, zones, "within")
    assert(!fOut.queryExecution.executedPlan.toString.contains("InMemoryTableScan"))
    assert(fOut.count() == SJoin.sfilter(points, zones, predicate = "within").count())
    spark.sharedState.cacheManager.clearCache()
  }

  test("sagg/slookup/sfilter: repartitioned or nondeterministic left falls back to persist") {
    // round-robin repartition and rand() can re-assign monotonic ids between
    // the pair pass and the join-back pass — all three variants must persist
    // (scan stability) and still produce the plain-left baseline
    val aggBase = SJoin.sagg(zones, points, Seq(count(lit(1)).as("n")),
      predicate = "contains", how = "left")
      .select("zid", "n").collect().map(r => r.getInt(0) -> r.get(1)).toMap
    val lkBase = SJoin.slookup(points, zones, Seq("zid"), "zid",
      predicate = "within", how = "left")
      .select("pid", "zid").collect().map(r => r.getInt(0) -> r.get(1)).toMap
    val sfBase = SJoin.sfilter(points, zones, predicate = "within")
      .select("pid").as[Int].collect().toSet
    for (wrap <- Seq[DataFrame => DataFrame](
        _.repartition(7),
        _.where(rand(42) >= -1.0),
        // sample/limit row sets above a shuffle depend on fetch order — they
        // must persist too (full-keep variants so the baseline still matches)
        _.sample(1.0, 7),
        _.limit(1000))) {
      val aOut = sagg(Grid)(wrap(zones), points, Seq(count(lit(1)).as("n")), "contains", "left")
      assert(aOut.queryExecution.executedPlan.toString.contains("InMemoryTableScan"))
      assert(aOut.select("zid", "n").collect().map(r => r.getInt(0) -> r.get(1)).toMap == aggBase)
      val lOut = slookup(Grid)(wrap(points), zones, Seq("zid"), "zid", "within", "left")
      assert(lOut.queryExecution.executedPlan.toString.contains("InMemoryTableScan"))
      assert(lOut.select("pid", "zid").collect().map(r => r.getInt(0) -> r.get(1)).toMap == lkBase)
      val fOut = sfilter(Grid)(wrap(points), zones, "within")
      assert(fOut.queryExecution.executedPlan.toString.contains("InMemoryTableScan"))
      assert(fOut.select("pid").as[Int].collect().toSet == sfBase)
    }
    spark.sharedState.cacheManager.clearCache()
  }

  test("sagg content path: duplicate left rows get their own, un-doubled aggregates") {
    // identical left rows share a content tag; without the pre-agg collapse
    // their candidate pairs would merge and double every sum
    val dupZone = zones.where(col("zid") === 1).unionByName(zones.where(col("zid") === 1))
    val out = sagg(Grid)(dupZone, points, Seq(count(lit(1)).as("n"), sum("pid").as("s")),
      "contains", "left")
    assert(!out.queryExecution.executedPlan.toString.contains("InMemoryTableScan"))
    val rows = out.select("n", "s").collect()
    assert(rows.length == 2, "both duplicate rows must survive the join-back")
    rows.foreach { r =>
      assert(r.getLong(0) == 9L, s"count doubled or lost: $r")
      assert(r.getLong(1) == points.where(
        st_contains(lit(zones.where(col("zid") === 1).select("geometry").head().getAs[Array[Byte]](0)),
          col("geometry"))).agg(sum("pid")).head().getLong(0), s"sum wrong: $r")
    }
    // slookup/sfilter are idempotent under duplication — multiplicity kept
    val dupPts = points.where(col("pid") === 12).unionByName(points.where(col("pid") === 12))
    assert(slookup(Grid)(dupPts, zones, Seq("zid"), "zid", "within", "left").count() == 2)
    assert(sfilter(Grid)(dupPts, zones, "within").count() == 2)
  }

  test("sagg/slookup may reference LEFT columns; the slim pair pass carries them") {
    // the pair pass only ships columns the user's expressions name — an agg
    // over a left attribute (zid) must still resolve, on both paths
    for (cap <- Seq(SJoin.IndexRows, Grid)) {
      val out = sagg(cap)(zones, points,
        Seq(count(lit(1)).as("n"), max(col("zid") * 1000 + col("pid")).as("mix")), "contains", "left")
      val m = out.select("zid", "mix").collect().map(r => r.getInt(0) -> r.get(1)).toMap
      // zone 1 holds the 3×3 grid pids {0,1,2,5,6,7,10,11,12} → max 12
      assert(m(1) == 1012L)
      assert(m(2) == 2024L) // zone 2: pids {12,…,24} → max 24
      assert(m(3) == null)
      val lk = slookup(cap)(points, zones, Seq("zid"), "zid", "within", "left")
      assert(lk.count() == 25)
      // expr("...") hides its references in SQL text — the slim pass must go
      // conservative and keep every left column, not drop zid
      val ex = sagg(cap)(zones, points, Seq(expr("max(zid * 1000 + pid)").as("mix")), "contains", "left")
        .select("zid", "mix").collect().map(r => r.getInt(0) -> r.get(1)).toMap
      assert(ex(1) == 1012L && ex(2) == 2024L && ex(3) == null)
      // colRegex also hides its references (resolving needs the schema) — the
      // slim pass must keep every left column rather than drop zid
      val rx = sagg(cap)(zones, points,
        Seq(max(zones.colRegex("`^z.d$`") * 1000 + col("pid")).as("mix")), "contains", "left")
        .select("zid", "mix").collect().map(r => r.getInt(0) -> r.get(1)).toMap
      assert(rx(1) == 1012L && rx(2) == 2024L && rx(3) == null)
    }
  }

  test("left-column references match case-insensitively (session default)") {
    // sum(col("ZID")) against left column "zid": the analyzer resolves it
    // case-insensitively with spark.sql.caseSensitive=false, so the slim
    // pair pass must keep "zid" — dropping it fails analysis
    for (cap <- Seq(SJoin.IndexRows, Grid)) {
      val m = sagg(cap)(zones, points, Seq(max(col("ZID") * 1000 + col("pid")).as("mix")),
          "contains", "left")
        .select("zid", "mix").collect().map(r => r.getInt(0) -> r.get(1)).toMap
      assert(m(1) == 1012L && m(2) == 2024L && m(3) == null)
    }
  }

  test("persist fallback frees its storage once the consuming action completes") {
    spark.sharedState.cacheManager.clearCache()
    // rand() makes the left nondeterministic → monotonic tag + persist path
    val nd = zones.where(rand(7) >= -1.0)
    val out = sagg(Grid)(nd, points, Seq(count(lit(1)).as("n")), "contains", "left")
    assert(out.queryExecution.executedPlan.toString.contains("InMemoryTableScan"))
    assert(out.count() == 3)
    // the release listener runs on the async listener bus — poll briefly
    val deadline = System.currentTimeMillis() + 20000
    while (!spark.sharedState.cacheManager.isEmpty &&
      System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(spark.sharedState.cacheManager.isEmpty,
      "stableTagged persist fallback was not released after its action completed")
    // an unrelated action in between must NOT release a pending fallback
    spark.sharedState.cacheManager.clearCache()
    val out2 = sagg(Grid)(nd, points, Seq(count(lit(1)).as("n")), "contains", "left")
    out2.queryExecution.executedPlan // plan (and persist registration) only
    points.count() // unrelated action
    Thread.sleep(500)
    assert(!spark.sharedState.cacheManager.isEmpty,
      "unrelated action released a fallback persist it never consumed")
    out2.count()
    val d2 = System.currentTimeMillis() + 20000
    while (!spark.sharedState.cacheManager.isEmpty &&
      System.currentTimeMillis() < d2) Thread.sleep(50)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("sjfull right join keeps unmatched right rows") {
    val out = SJoin.sjfull(points, zones, predicate = "within", how = "right")
    // zone 3 (far away) matches nothing but must survive with null point cols
    assert(out.where(col("zid") === 3).count() == 1)
    assert(out.where(col("zid") === 3 && col("pid").isNull).count() == 1)
    // matched pairs equal the inner join's
    val inner = SJoin.sjfull(points, zones, predicate = "within")
    assert(out.where(col("pid").isNotNull).count() == inner.count())
  }

  test("salting and broadcast tuning do not change results") {
    val base = SJoin.sjfull(points, zones, predicate = "within")
      .select("pid", "zid").as[(Int, Int)].collect().toSet
    val salted = SJoin.sjfull(points, zones, predicate = "within",
      tuning = SJoin.Tuning(saltFactor = 4))
      .select("pid", "zid").as[(Int, Int)].collect().toSet
    val bcast = SJoin.sjfull(points, zones, predicate = "within",
      tuning = SJoin.Tuning(broadcastRight = true))
      .select("pid", "zid").as[(Int, Int)].collect().toSet
    assert(salted == base && bcast == base)
  }

  test("pairs agrees with a brute-force cross join for every predicate and cell size") {
    // deterministic LCG so the layers are stable across runs
    var seed = 0x5eed5eedL
    def rnd(): Double = { seed = seed * 6364136223846793005L + 1442695040888963407L
      ((seed >>> 11).toDouble / (1L << 53).toDouble) }
    def rect(id: Int, w: Double): (Int, String) = {
      val x = rnd() * 8 - 4; val y = rnd() * 8 - 4
      (id, s"POLYGON (($x $y, ${x + w} $y, ${x + w} ${y + w}, $x ${y + w}, $x $y))")
    }
    def tri(id: Int): (Int, String) = {
      val x = rnd() * 8 - 4; val y = rnd() * 8 - 4
      (id, s"POLYGON (($x $y, ${x + 1.3} ${y + 0.2}, ${x + 0.4} ${y + 1.1}, $x $y))")
    }
    def pt(id: Int): (Int, String) = {
      val x = rnd() * 8 - 4; val y = rnd() * 8 - 4
      (id, s"POINT ($x $y)")
    }
    val leftRows = (0 until 25).map(pt) ++ (25 until 40).map(tri) ++ (40 until 50).map(i => rect(i, 0.9))
    val rightRows = (0 until 20).map(i => rect(i, 1.4)) ++ (20 until 28).map(tri)
    val l = leftRows.toDF("lid", "wkt").select(col("lid"), st_geomfromtext(col("wkt")).as("geometry"))
    val r = rightRows.toDF("rid", "wkt").select(col("rid"), st_geomfromtext(col("wkt")).as("geometry"))

    for (predicate <- Seq("intersects", "within", "contains"); cellDeg <- Seq(0.4, 1.1)) {
      val grid = SJoin.pairs(l, r, predicate = predicate, cellDeg = cellDeg)
        .select("lid", "rid").as[(Int, Int)].collect().toSet
      val predCol = predicate match {
        case "intersects" => st_intersects(col("geometry"), col("geometry_right"))
        case "within" => st_within(col("geometry"), col("geometry_right"))
        case _ => st_contains(col("geometry"), col("geometry_right"))
      }
      val brute = l.crossJoin(r.withColumnRenamed("geometry", "geometry_right")
          .withColumnRenamed("rid", "rid2"))
        .where(predCol)
        .select(col("lid"), col("rid2")).as[(Int, Int)].collect().toSet
      assert(grid == brute,
        s"predicate=$predicate cellDeg=$cellDeg: grid ${grid.size} vs brute ${brute.size}; " +
          s"missing=${(brute -- grid).take(5)} extra=${(grid -- brute).take(5)}")
    }
  }

  test("grid join plan shuffles on cell hash, not cross product") {
    val out = SJoin.pairs(points, zones, predicate = "intersects")
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  test("sknn: k best within radius, rank order, k=1 equals snearest") {
    import graft.functions.GeoFunctions._
    import testImplicits._
    val left = Seq((1L, 0.0, 0.0), (2L, 10.0, 10.0)).toDF("lid", "x", "y")
      .withColumn("geometry", st_point(col("x"), col("y"))).drop("x", "y")
    // rights at increasing distance from (0,0); none near (10,10)
    val right = Seq((10L, 0.1, 0.0), (20L, 0.2, 0.0), (30L, 0.3, 0.0), (40L, 5.0, 5.0))
      .toDF("rid", "x", "y")
      .withColumn("geometry", st_point(col("x"), col("y"))).drop("x", "y")
    val out = SJoin.sknn(left, right, "lid", "rid", k = 2, maxDistanceM = 100000.0)
      .select("lid", "rid", "knn_rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(out == Set((1L, 10L, 1), (1L, 20L, 2))) // 30 cut by k, 40 by radius, lid 2 empty
    // left join keeps the unmatched left row with null payload
    val lj = SJoin.sknn(left, right, "lid", "rid", k = 2,
      maxDistanceM = 100000.0, how = "left")
    assert(lj.where(col("lid") === 2L).count() == 1)
    // k = 1 reproduces snearest's pick
    val k1 = SJoin.sknn(left, right, "lid", "rid", k = 1, maxDistanceM = 100000.0)
      .select("lid", "rid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val near = SJoin.snearest(left, right, "lid", "rid", maxDistanceM = 100000.0)
      .select("lid", "rid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(k1 == near)
    // and the rank filter plans as a WindowGroupLimit
    val plan = SJoin.sknn(left, right, "lid", "rid", k = 2, maxDistanceM = 100000.0)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), s"no pre-shuffle prune:\n$plan")
  }

  test("sdwithin: full pair set matches brute-force haversine, no cartesian") {
    import graft.functions.GeoFunctions._
    import testImplicits._
    def hav(x1: Double, y1: Double, x2: Double, y2: Double): Double = {
      val R = 6371008.8
      val (p1, p2) = (math.toRadians(y1), math.toRadians(y2))
      val (dp, dl) = (math.toRadians(y2 - y1), math.toRadians(x2 - x1))
      val a = math.sin(dp / 2) * math.sin(dp / 2) +
        math.cos(p1) * math.cos(p2) * math.sin(dl / 2) * math.sin(dl / 2)
      2 * R * math.asin(math.sqrt(a))
    }
    val lpts = (0 until 40).map(i => (i.toLong, (i % 8) * 0.7 - 2.0, (i / 8) * 0.9 - 1.5))
    val rpts = (0 until 30).map(i => (100L + i, (i % 6) * 0.8 - 1.7, (i / 6) * 0.6 - 1.2))
    val l = lpts.toDF("lid", "x", "y")
      .withColumn("geometry", st_point(col("x"), col("y"))).drop("x", "y")
    val r = rpts.toDF("rid", "x", "y")
      .withColumn("geometry", st_point(col("x"), col("y"))).drop("x", "y")
    val maxD = 120000.0
    val got = SJoin.sdwithin(l, r, "lid", "rid", maxDistanceM = maxD)
      .select("lid", "rid").as[(Long, Long)].collect()
    val brute = (for {
      (li, lx, ly) <- lpts; (ri, rx, ry) <- rpts
      if hav(lx, ly, rx, ry) <= maxD
    } yield (li, ri)).toSet
    assert(got.toSet == brute)
    assert(got.length == brute.size, "pair emitted more than once")
    val plan = SJoin.sdwithin(l, r, "lid", "rid", maxDistanceM = maxD)
      .queryExecution.sparkPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"sdwithin degenerated:\n$plan")
  }

  test("subdivided build side is join-equivalent: sfilter directly, sjfull after pair dedup") {
    // dense irregular polygon (a 64-gon with a concave bite) so subdivide
    // actually splits; points probe interior, notch, boundary neighborhoods
    val n = 64
    val ringPts = (0 to n).map { i =>
      val a = 2 * math.Pi * (i % n) / n
      val r = if ((i % n) % 8 < 4) 2.0 else 1.1 // star-ish: concavities
      s"${2.5 + r * math.cos(a)} ${2.5 + r * math.sin(a)}"
    }.mkString(", ")
    val star = Seq((7, s"POLYGON (($ringPts))")).toDF("zid", "wkt")
      .select(col("zid"), st_geomfromtext(col("wkt")).as("geometry"))
    val probes = (for { i <- 0 until 20; j <- 0 until 20 }
      yield (i * 20 + j, 0.07 + i * 0.25, 0.11 + j * 0.25))
      .toDF("pid", "lon", "lat")
      .select(col("pid"), st_point(col("lon"), col("lat")).as("geometry"))

    val whole = SJoin.sfilter(probes, star).select("pid").as[Int].collect().toSet
    val parts = star.select(col("zid"),
      explode(st_subdivide(col("geometry"), lit(16))).as("geometry"))
    val sub = SJoin.sfilter(probes, parts).select("pid").as[Int].collect().toSet
    assert(sub === whole && whole.nonEmpty && whole.size < 400)

    val wholePairs = SJoin.sjfull(probes, star).select("pid", "zid")
      .as[(Int, Int)].collect().toSet
    // a probe on a shared cut line may hit two parts — pair-id distinct
    // restores exact whole-polygon multiplicity
    val subPairs = SJoin.sjfull(probes, parts).select("pid", "zid")
      .distinct().as[(Int, Int)].collect().toSet
    assert(subPairs === wholePairs)
  }
}

object SJoinSpec {
  /** The index-path row cap that forces the grid path for a non-empty small side. */
  val Grid = 0

  def sagg(cap: Int)(l: DataFrame, r: DataFrame, aggs: Seq[Column], predicate: String,
      how: String): DataFrame =
    SJoin.sagg(l, r, aggs, predicate, how, "geometry", "geometry", SJoin.DefaultCellDeg,
      SJoin.Tuning(), cap)

  def slookup(cap: Int)(l: DataFrame, r: DataFrame, columns: Seq[String], orderBy: String,
      predicate: String, how: String): DataFrame =
    SJoin.slookup(l, r, columns, orderBy, predicate, how, "geometry", "geometry",
      SJoin.DefaultCellDeg, SJoin.Tuning(), cap)

  def sfilter(cap: Int)(l: DataFrame, r: DataFrame, predicate: String,
      negative: Boolean = false): DataFrame =
    SJoin.sfilter(l, r, predicate, negative, "geometry", "geometry", SJoin.DefaultCellDeg,
      SJoin.Tuning(), cap)
}
