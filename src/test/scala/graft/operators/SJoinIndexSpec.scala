package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkSpec
import graft.functions.GeomKernel
import graft.functions.GeoFunctions._

/** The index path of sagg / slookup / sfilter against the grid path, forced
  * by an index row cap of 0: the same rows and the same schema (names,
  * types, nullability, column order) on seeded random layers.
  */
class SJoinIndexSpec extends SparkSpec {

  import testImplicits._
  import SJoinSpec.{Grid, sagg, sfilter, slookup}

  private val Predicates = Seq("intersects", "within", "contains")

  /** `n` seeded WKT geometries in [-4, 4]²: points, triangles and rectangles
    * of 0.1-1.5 degrees.
    */
  private def layer(seed: Long, n: Int, points: Double): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    def u(lo: Double, hi: Double) = lo + (hi - lo) * rnd.nextDouble()
    Seq.fill(n) {
      val (x, y, w) = (u(-4, 4), u(-4, 4), u(0.1, 1.5))
      if (rnd.nextDouble() < points) s"POINT ($x $y)"
      else if (rnd.nextBoolean()) s"POLYGON (($x $y, ${x + w} $y, ${x + w} ${y + w}, $x ${y + w}, $x $y))"
      else s"POLYGON (($x $y, ${x + w} ${y + 0.2 * w}, ${x + 0.4 * w} ${y + w}, $x $y))"
    }
  }

  private val Nulls = Seq(None, None, Some("POLYGON EMPTY"), Some("POINT EMPTY"))

  /** Small side: 40 zones plus two null and two empty geometries, and the
    * first three rows again (duplicate rows). `w` clashes with the probe
    * side; `prio` is unique except for two nulls.
    */
  private lazy val zones: DataFrame = {
    val wkts = layer(7, 40, points = 0.0).map(Option(_)) ++ Nulls
    val df = wkts.zipWithIndex.map { case (g, i) =>
      (i, i % 7, if (i % 13 == 5) None else Some((i * 17) % 44), g)
    }.toDF("zid", "w", "prio", "wkt")
      .select(col("zid"), col("w"), col("prio"), st_geomfromtext(col("wkt")).as("geometry"))
    df.unionByName(df.where(col("zid") < 3))
  }

  /** Probe side: 400 geometries, mostly points, plus nulls and empties. */
  private lazy val probes: DataFrame =
    (layer(11, 400, points = 0.8).map(Option(_)) ++ Nulls).zipWithIndex
      .map { case (g, i) => (i, i % 5, g) }.toDF("pid", "w", "wkt")
      .select(col("pid"), col("w"), st_geomfromtext(col("wkt")).as("geometry"))

  private def usesIndex(df: DataFrame): Boolean =
    df.queryExecution.analyzed.toString.contains("grid_probe")

  private def assertSame(index: DataFrame, grid: DataFrame, what: String): Unit = {
    assert(usesIndex(index) && !usesIndex(grid), s"$what: expected one path each")
    assert(index.schema.fields.toSeq.map(f => (f.name, f.dataType, f.nullable)) ==
      grid.schema.fields.toSeq.map(f => (f.name, f.dataType, f.nullable)), s"$what: schema")
    def rows(df: DataFrame) = sortedRows(df).map(_.map {
      case b: Array[Byte] => b.toSeq
      case v => v
    })
    val (i, g) = (rows(index), rows(grid))
    assert(i.nonEmpty, s"$what: no rows")
    assert(i == g, s"$what: index ${i.size} rows, grid ${g.size}; " +
      s"only index ${i.diff(g).take(3)}, only grid ${g.diff(i).take(3)}")
  }

  test("sagg: index path equals the grid path (left columns, clashes, duplicates, nulls)") {
    val aggs: Seq[Column] = Seq(
      count(lit(1)).as("n"),
      sum("pid").as("pid_sum"),
      sum("w_right").as("w_right_sum"), // the probe side's clashing column
      max(col("zid") * 1000 + col("pid")).as("mix"), // a left column
      expr("max(zid * 1000 + pid)").as("mix_sql"), // opaque: every left column
      sum(col("w")).as("left_w_sum"))
    for (p <- Predicates; how <- Seq("left", "inner"))
      assertSame(sagg(SJoin.IndexRows)(zones, probes, aggs, p, how),
        sagg(Grid)(zones, probes, aggs, p, how), s"sagg $p $how")
    // duplicate left rows aggregate separately, never doubled
    val n = sagg(SJoin.IndexRows)(zones, probes, Seq(count(lit(1)).as("n")), "intersects", "left")
      .where(col("zid") === 0).select("n").as[Option[Long]].collect()
    assert(n.length == 2 && n(0) == n(1))
  }

  test("sagg over a point-only left side (the cell falls back to extent / sqrt(n))") {
    val pts = probes.where(st_geomtype(col("geometry")) === "Point").limit(120)
      .select(col("pid"), col("geometry")).localCheckpoint()
    for (how <- Seq("left", "inner"))
      assertSame(sagg(SJoin.IndexRows)(pts, zones, Seq(count(lit(1)).as("n")), "within", how),
        sagg(Grid)(pts, zones, Seq(count(lit(1)).as("n")), "within", how), s"point sagg $how")
  }

  test("slookup: index path equals the grid path (unique orderBy, null orderBy, clashes)") {
    // prio is unique where set, so min_by has one answer; the w_right lookup
    // reads the right side's clashing column
    val right = zones.where(col("zid") >= 3) // no duplicate rows: those tie on prio
    for (p <- Predicates; how <- Seq("left", "inner"))
      assertSame(slookup(SJoin.IndexRows)(probes, right, Seq("zid", "w_right"), "prio", p, how),
        slookup(Grid)(probes, right, Seq("zid", "w_right"), "prio", p, how), s"slookup $p $how")
  }

  test("slookup under orderBy ties picks one real matching row with the least orderBy") {
    val tied = zones.withColumn("prio", col("zid") % 3)
    val matches = probes.as("l").crossJoin(tied.as("r"))
      .where(st_intersects(col("l.geometry"), col("r.geometry")))
      .select(col("l.pid"), col("r.zid"), col("r.w"), col("r.prio")).as[(Int, Int, Int, Int)]
      .collect().groupBy(_._1)
    for (cap <- Seq(SJoin.IndexRows, Grid)) {
      val got = slookup(cap)(probes, tied, Seq("zid", "w_right"), "prio", "intersects", "inner")
        .select("pid", "zid", "w_right").as[(Int, Int, Int)].collect()
      assert(got.map(_._1).sorted.toSeq == matches.keys.toSeq.sorted)
      got.foreach { case (pid, zid, w) =>
        val best = matches(pid).map(_._4).min
        assert(matches(pid).exists(m => m._2 == zid && m._3 == w && m._4 == best),
          s"cap $cap: pid $pid got ($zid, $w), not a matching row with prio $best")
      }
    }
  }

  test("sfilter: index path equals the grid path, positive and negative") {
    for (p <- Predicates; negative <- Seq(false, true))
      assertSame(sfilter(SJoin.IndexRows)(probes, zones, p, negative),
        sfilter(Grid)(probes, zones, p, negative), s"sfilter $p negative=$negative")
  }

  test("one covering polygon among small ones: same results, index stays O(rows)") {
    val cover = Seq((99, 0, Option(44), Option("POLYGON ((-10 -10, 10 -10, 10 10, -10 10, -10 -10))")))
      .toDF("zid", "w", "prio", "wkt")
      .select(col("zid"), col("w"), col("prio"), st_geomfromtext(col("wkt")).as("geometry"))
    val withCover = zones.unionByName(cover)
    assertSame(sfilter(SJoin.IndexRows)(probes, withCover, "within"),
      sfilter(Grid)(probes, withCover, "within"), "sfilter with a covering polygon")
    assertSame(sagg(SJoin.IndexRows)(withCover, probes, Seq(count(lit(1)).as("n")), "contains", "left"),
      sagg(Grid)(withCover, probes, Seq(count(lit(1)).as("n")), "contains", "left"),
      "sagg with a covering polygon")
    // the index itself: 2,000 0.1° squares plus one world polygon cost at
    // most 2 × 2 cells per square and one wide entry, not the world's cells
    val rnd = new scala.util.Random(3)
    val squares = Seq.fill(2000) {
      val (x, y) = (rnd.nextDouble() * 300 - 150, rnd.nextDouble() * 150 - 75)
      s"POLYGON (($x $y, ${x + 0.1} $y, ${x + 0.1} ${y + 0.1}, $x ${y + 0.1}, $x $y))"
    }
    val world = "POLYGON ((-180 -90, 180 -90, 180 90, -180 90, -180 -90))"
    val wkbs = (squares :+ world).map(w => GeomKernel.fromText(UTF8String.fromString(w))).toArray
    val index = GridIndex(wkbs, "intersects", indexedLeft = false)
    assert(index.size <= 4 * squares.length + 1, s"index size ${index.size}")
    assert(index.first(GeomKernel.point(170.0, 80.0)) == squares.length)
  }

  test("the index path registers no persist and runs no job past its one collect") {
    spark.sharedState.cacheManager.clearCache()
    val (kept, _, actions) = traced(sfilter(SJoin.IndexRows)(probes, zones, "within"))
    assert(actions.length == 1, s"sfilter ran ${actions.length} actions at call time")
    kept.count()
    sagg(SJoin.IndexRows)(zones, probes, Seq(count(lit(1)).as("n")), "contains", "left").count()
    slookup(SJoin.IndexRows)(probes, zones, Seq("zid"), "prio", "within", "left").count()
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  /** `zones` twenty times over as an RDD-backed frame, which has no
    * Catalyst size estimate, counting the rows its scans read.
    */
  private def unsized(): (DataFrame, org.apache.spark.util.LongAccumulator) = {
    val read = spark.sparkContext.longAccumulator("unsized rows read")
    val rows = Seq.fill(20)(zones.collect().toSeq).flatten
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 8).map { r => read.add(1); r }, zones.schema)
    assert(df.queryExecution.optimizedPlan.stats.sizeInBytes >=
      spark.sessionState.conf.defaultSizeInBytes, "expected an unknown size")
    (df, read)
  }

  test("a side of unknown size over the cap takes the grid path after a bounded collect") {
    val cap = 50
    val (big, read) = unsized()
    val total = big.count()
    read.reset()
    val filtered = sfilter(cap)(probes, big, "within")
    assert(!usesIndex(filtered) && read.value <= 2 * (cap + 1),
      s"sfilter's gate read ${read.value} of $total rows")
    assertSame(sfilter(SJoin.IndexRows)(probes, big, "within"), filtered, "unsized sfilter")
    read.reset()
    val agged = sagg(cap)(big, probes, Seq(count(lit(1)).as("n")), "contains", "left")
    assert(!usesIndex(agged) && read.value <= 2 * (cap + 1),
      s"sagg's gate read ${read.value} of $total rows")
    assertSame(sagg(SJoin.IndexRows)(big, probes, Seq(count(lit(1)).as("n")), "contains", "left"),
      agged, "unsized sagg")
  }

  test("the gate: a disabled threshold and streaming sides run no collect") {
    val threshold = "spark.sql.autoBroadcastJoinThreshold"
    val before = spark.conf.get(threshold)
    try {
      spark.conf.set(threshold, "-1") // Spark's own 'never broadcast'
      for (side <- Seq(zones, unsized()._1)) {
        val (out, jobs, _) = traced(sfilter(SJoin.IndexRows)(probes, side, "within"))
        assert(!usesIndex(out) && jobs == 0, s"disabled threshold: $jobs jobs")
      }
    } finally spark.conf.set(threshold, before)
    val stream = spark.readStream.format("rate").load()
      .select(col("value").as("pid"), st_point(col("value") % 4, lit(0.5)).as("geometry"))
    val (sOut, sJobs, _) = traced(SJoin.sfilter(stream, zones, predicate = "within"))
    assert(!usesIndex(sOut) && sJobs == 0)
  }
}
