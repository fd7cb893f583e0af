package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

class SketchSpec extends AnyFunSuite with SparkSpec {

  import testImplicits._

  test("hllDistinct tracks true cardinality within ~5% across magnitudes") {
    for (n <- Seq(100, 2000, 50000)) {
      val ids = spark.range(0, n).select((col("id") * 7 + 3).as("v"))
      val est = Sketch.hllDistinct(ids, Seq("v")).select("approx_distinct")
        .as[Double].head()
      assert(math.abs(est - n) / n < 0.05, s"n=$n est=$est")
    }
  }

  test("string columns hash through the polynomial fold") {
    val docs = (1 to 3000).map(i => s"document number $i").toDF("t")
    val est = Sketch.hllDistinct(docs, Seq("t")).select("approx_distinct").as[Double].head()
    assert(math.abs(est - 3000) / 3000 < 0.05, s"est=$est")
  }

  test("estimate is independent of partitioning and duplication") {
    val base = spark.range(0, 5000).select(col("id").as("v"))
    val e1 = Sketch.hllDistinct(base.repartition(3), Seq("v")).select("approx_distinct").as[Double].head()
    val e2 = Sketch.hllDistinct(base.repartition(31), Seq("v")).select("approx_distinct").as[Double].head()
    val e3 = Sketch.hllDistinct(base.unionAll(base).unionAll(base), Seq("v"))
      .select("approx_distinct").as[Double].head()
    assert(e1 == e2 && e2 == e3) // registers are set-determined, sum is exact integer math
  }

  test("registers merge: union of halves == whole") {
    val all = spark.range(0, 8000).select(col("id").as("v"))
    val lo = all.where(col("v") < 3000)
    val hi = all.where(col("v") >= 3000)
    val merged = Sketch.hllEstimate(
      Sketch.hllMerge(Sketch.hllRegisters(lo, "v"), Sketch.hllRegisters(hi, "v")))
      .select("approx_distinct").as[Double].head()
    val whole = Sketch.hllEstimate(Sketch.hllRegisters(all, "v"))
      .select("approx_distinct").as[Double].head()
    assert(merged == whole)
  }

  test("register table is bounded by 2^p and nulls are ignored") {
    val withNulls = spark.range(0, 100000)
      .select(when(col("id") % 10 === 0, lit(null)).otherwise(col("id")).cast("long").as("v"))
    val regs = Sketch.hllRegisters(withNulls, "v", p = 8)
    assert(regs.count() <= 256)
    val est = Sketch.hllEstimate(regs, p = 8).select("approx_distinct").as[Double].head()
    assert(math.abs(est - 90000) / 90000 < 0.15) // p=8 → σ ≈ 6.5%
  }

  test("empty input estimates 0; small input takes the linear-counting branch") {
    val empty = Seq.empty[Long].toDF("v")
    assert(Sketch.hllDistinct(empty, Seq("v")).select("approx_distinct").as[Double].head() == 0.0)
    val tiny = (1L to 5L).toDF("v")
    val est = Sketch.hllDistinct(tiny, Seq("v")).select("approx_distinct").as[Double].head()
    assert(math.abs(est - 5.0) < 0.01) // m·ln(m/V) ≈ exact at tiny cardinality
  }

  test("cms never underestimates and is near-exact when counters are sparse") {
    // 50 distinct tokens, token i repeated i times — ≪ 4×1024 counters
    val toks = (1 to 50).flatMap(i => Seq.fill(i)(s"tok$i")).toDF("v")
    val probes = Seq("tok1", "tok25", "tok50", "absent").toDF("v")
    val regs = Sketch.cmsRegisters(toks, "v")
    val est = Sketch.cmsLookup(regs, probes, "v")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est("tok1") >= 1 && est("tok25") >= 25 && est("tok50") >= 50)
    // with 50 keys in 4096 counters, collisions across ALL 4 rows are
    // vanishingly unlikely — the min recovers the exact count
    assert(est("tok1") == 1 && est("tok25") == 25 && est("tok50") == 50)
    assert(est("absent") == 0)
  }

  test("cms registers merge: per-shard sketches sum to the whole-corpus sketch") {
    val all = spark.range(0, 20000).select((col("id") % 97).as("v"))
    val lo = all.where(col("id") < 9000)
    val hi = all.where(col("id") >= 9000)
    val whole = Sketch.cmsRegisters(all, "v").orderBy("d", "idx")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    val merged = Sketch.cmsMerge(Sketch.cmsRegisters(lo, "v"), Sketch.cmsRegisters(hi, "v"))
      .orderBy("d", "idx")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    assert(merged == whole)
  }

  test("histQuantiles: uniform data interpolates to the true quantiles") {
    // 0..9999 uniform: q-quantile ≈ q*10000; 128 equal bins interpolate
    // within ±1 bin width (78.125)
    val df = spark.range(0, 10000).select(col("id").as("v"))
    val out = Sketch.histQuantiles(df, "v", bins = 128, qs = Seq(0.0, 0.25, 0.5, 0.9, 1.0))
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    assert(out(0.0) == 0.0)
    assert(math.abs(out(0.25) - 2500) < 80)
    assert(math.abs(out(0.5) - 5000) < 80)
    assert(math.abs(out(0.9) - 9000) < 80)
    assert(math.abs(out(1.0) - 9999) < 80)
  }

  test("histQuantiles: constant column returns the constant; empty is empty") {
    val const = spark.range(0, 100).select(lit(7.5).as("v"))
    val out = Sketch.histQuantiles(const, "v", qs = Seq(0.5, 0.99))
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    assert(out(0.5) == 7.5 && out(0.99) == 7.5)
    val empty = spark.range(0, 100).where(col("id") < 0).select(col("id").as("v"))
    assert(Sketch.histQuantiles(empty, "v").count() == 0)
  }

  test("histQuantiles is independent of partitioning") {
    val df = spark.range(0, 3000).select(((col("id") * col("id")) % 977).as("v"))
    val a = Sketch.histQuantiles(df.repartition(3), "v").orderBy("q")
      .collect().map(r => (r.getDouble(0), r.getDouble(1))).toSeq
    val b = Sketch.histQuantiles(df.repartition(29), "v").orderBy("q")
      .collect().map(r => (r.getDouble(0), r.getDouble(1))).toSeq
    assert(a == b) // bin counts are set-determined; interpolation is exact
  }

  test("cms register table is bounded by depth*width regardless of input size") {
    val big = spark.range(0, 200000).select(col("id").as("v")) // 200k distinct
    val regs = Sketch.cmsRegisters(big, "v", depth = 3, width = 256)
    assert(regs.count() <= 3 * 256)
    // total mass is conserved: sum of each depth row == input rows
    val mass = regs.groupBy("d").agg(sum("c").as("m")).select("m").as[Long].collect()
    assert(mass.length == 3 && mass.forall(_ == 200000L))
  }

  test("bloom: no false negatives; absent values mostly reject; false-positive rate near theory") {
    val members = spark.range(0, 2000).select(concat(lit("in"), col("id")).as("v"))
    val bits = Sketch.bloomBits(members, "v", numBits = 1 << 15, numHashes = 5)
    // every member must test present (the structural guarantee)
    val inRes = Sketch.bloomContains(bits, members, "v", numBits = 1 << 15, numHashes = 5)
    assert(inRes.where(!col("maybe_present")).count() == 0)
    // absent probes: fp rate ≈ (1 - e^(-kn/m))^k ≈ 0.0043 at k=5 n=2000 m=32768
    val out = spark.range(0, 2000).select(concat(lit("out"), col("id")).as("v"))
    val fp = Sketch.bloomContains(bits, out, "v", numBits = 1 << 15, numHashes = 5)
      .where(col("maybe_present")).count()
    assert(fp < 40, s"false positives $fp / 2000")
  }

  test("bloom bit sets merge: union-distinct of halves == whole") {
    val all = spark.range(0, 1000).select(concat(lit("m"), col("id")).as("v"))
    val whole = Sketch.bloomBits(all, "v")
    val merged = Sketch.bloomMerge(
      Sketch.bloomBits(all.where(col("v") < "m5"), "v"),
      Sketch.bloomBits(all.where(col("v") >= "m5"), "v"))
    assert(merged.orderBy("bit").collect().toSeq == whole.orderBy("bit").collect().toSeq)
    // bit table bounded by numBits; nulls ignored
    val withNull = all.union(spark.range(1).select(lit(null).cast("string").as("v")))
    assert(Sketch.bloomBits(withNull, "v").count() == whole.count())
  }

  // skewed corpus: value "vK" appears K times, K in 1..60
  private def zipfish = {
    import testImplicits._
    (1 to 60).flatMap(k => Seq.fill(k)(s"v$k")).map(Tuple1(_)).toDF("v")
  }

  test("heavyHitters == plain exact frequent-items filter") {
    import testImplicits._
    val exact = zipfish.groupBy("v").count().where(col("count") >= 30)
      .as[(String, Long)].collect().toMap
    val got = Sketch.heavyHitters(zipfish, "v", minCount = 30L)
      .as[(String, Long)].collect().toMap
    assert(got == exact)
    assert(got.keySet == (30 to 60).map(k => s"v$k").toSet)
  }

  test("heavyHitters stays exact under heavy register collisions (width=2)") {
    import testImplicits._
    // width 2 forces nearly every value onto shared counters: the candidate
    // superset inflates, the exact-count filter must still cut it back
    val exact = zipfish.groupBy("v").count().where(col("count") >= 45)
      .as[(String, Long)].collect().toMap
    val got = Sketch.heavyHitters(zipfish, "v", minCount = 45L, depth = 2, width = 2)
      .as[(String, Long)].collect().toMap
    assert(got == exact)
  }

  test("heavyHitters: threshold above the max count yields empty, not error") {
    assert(Sketch.heavyHitters(zipfish, "v", minCount = 1000L).count() == 0)
  }

  test("per-group HLL: each group's estimate tracks its exact cardinality") {
    import testImplicits._
    // group g has (g+1)*500 distinct values, plus repeats
    val rows = for (g <- 0 to 3; i <- 0 until (g + 1) * 500; _ <- 0 to i % 2)
      yield (s"g$g", (g * 1000000 + i).toLong)
    val df = rows.toDF("grp", "v").repartition(7)
    val est = Sketch.hllDistinctByGroup(df, "v", Seq("grp"))
      .as[(String, Double)].collect().toMap
    for (g <- 0 to 3) {
      val exact = (g + 1) * 500.0
      val e = est(s"g$g")
      assert(math.abs(e - exact) / exact < 0.05, s"g$g: est $e vs exact $exact")
    }
    // per-group registers merge shard-wise: max per (grp, bucket) over the
    // halves' registers reproduces the whole-corpus register table exactly
    val (a, b) = (df.where(col("v") % 2 === 0), df.where(col("v") % 2 =!= 0))
    val merged = Sketch.hllRegistersByGroup(a, "v", Seq("grp"))
      .unionByName(Sketch.hllRegistersByGroup(b, "v", Seq("grp")))
      .groupBy("grp", "bucket").agg(max("m").as("m"))
      .as[(String, Long, Int)].collect().toSet
    val whole = Sketch.hllRegistersByGroup(df, "v", Seq("grp"))
      .as[(String, Long, Int)].collect().toSet
    assert(merged === whole)
  }

  test("histQuantilesByGroup equals histQuantiles run per group") {
    val df = ((0 until 500).map(i => ("a", i * 3.0)) ++
      (0 until 80).map(i => ("b", 1000.0 - i)) ++
      Seq(("c", 7.0), ("c", 7.0))).toDF("g", "v")
    val qs = Seq(0.1, 0.5, 0.95)
    val grouped = Sketch.histQuantilesByGroup(df, "v", Seq("g"), bins = 32, qs = qs)
      .as[(String, Double, Double)].collect().toSet
    val perGroup = Seq("a", "b", "c").flatMap { g =>
      Sketch.histQuantiles(df.where($"g" === g), "v", bins = 32, qs = qs)
        .as[(Double, Double)].collect().map { case (q, est) => (g, q, est) }
    }.toSet
    assert(grouped === perGroup)
    // all-null group contributes no rows
    val withNulls = df.unionByName(
      Seq(("d", null.asInstanceOf[java.lang.Double])).toDF("g", "v"))
    assert(Sketch.histQuantilesByGroup(withNulls, "v", Seq("g"), 32, qs)
      .where($"g" === "d").count() === 0L)
  }
}
