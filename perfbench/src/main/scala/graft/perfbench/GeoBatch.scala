package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.functions.GeoFunctions.st_contains
import graft.functions.GeomKernel
import graft.operators.{GeoOps, SJoin}
import graft.sources.Fgb

/** erde's own pipeline on sharded FlatGeobuf: read, area and length, the
  * sjoin family, CRS conversion, a dissolved buffer, and a sharded write.
  * Chosen because it is bound by the geometry kernels and the grid-join
  * shuffle, with few jobs: GeomKernel, UnionOps, grid join and FGB codec
  * changes show here, scheduling changes barely do.
  */
final class GeoBatch(spark: SparkSession, seed: Long, work: String, cores: Int)
    extends Workload(spark, seed, work, cores) {
  import GeoBatch._

  def inputRows: Long = Points

  // the second pass is still ~25% slower than the steady state (kernel JIT),
  // so set-up runs two before any is measured
  override def warmPasses: Int = 2

  private var dir = ""
  private var circles: DataFrame = _
  private var last: Option[Last] = None

  private final case class Last(pts: DataFrame, zones: DataFrame, looked: DataFrame, merc: DataFrame,
      sagg: Map[Long, Long], sfiltered: Long, outDir: String, dissolvedAreaM2: Double)

  def generate(dir: String): Unit = {
    val s = seed
    val pts = spark.createDataFrame(
      spark.sparkContext.range(0L, Points, 1L, cores).map { i =>
        val (x, y) = Gen.pointLonLat(s, i)
        Row(i, GeomKernel.point(x, y))
      },
      StructType(Seq(StructField("point_id", LongType), StructField("geometry", BinaryType))))
    Fgb.writeSharded(pts, s"$dir/points")
    val zones = spark.createDataFrame(
      spark.sparkContext.range(0L, Zones, 1L, cores).map(i =>
        Row(i, Gen.zonePop(s, i), Gen.zoneWkb(s, i))),
      StructType(Seq(StructField("zone_id", LongType), StructField("pop", IntegerType),
        StructField("geometry", BinaryType))))
    Fgb.writeSharded(zones, s"$dir/zones")
  }

  def use(dir: String): Unit = {
    this.dir = dir
    val s = seed
    circles = spark.createDataFrame(
      spark.sparkContext.parallelize(0 until Circles, cores).map { i =>
        val (x, y) = Gen.circleCentre(s, i)
        Row(GeomKernel.point(x, y))
      },
      StructType(Seq(StructField("geometry", BinaryType))))
  }

  def pass(ops: Ops, index: Int): Unit = {
    val (pts, zones) = ops("sources.fgb.read") {
      val p = Fgb.readSplit(spark, s"$dir/points").persist(StorageLevel.MEMORY_AND_DISK)
      val z = Fgb.readSplit(spark, s"$dir/zones").persist(StorageLevel.MEMORY_AND_DISK)
      p.count(); z.count()
      (p, z)
    }
    ops("operators.geo.area_length") {
      GeoOps.lengthM(GeoOps.areaM(zones)).agg(sum("area"), sum("length")).head()
    }
    val counts = ops("operators.sjoin.sagg") {
      SJoin.sagg(zones, pts, Seq(count(lit(1)).as("n")), predicate = "contains")
        .select("zone_id", "n").collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) 0L else r.getLong(1))).toMap
    }
    val kept = ops("operators.sjoin.sfilter") {
      SJoin.sfilter(pts, zones, predicate = "within").count()
    }
    val looked = ops("operators.sjoin.slookup") {
      val l = SJoin.slookup(pts, zones, Seq("zone_id"), "zone_id", predicate = "within")
        .persist(StorageLevel.MEMORY_AND_DISK)
      l.count()
      l
    }
    val merc = ops("operators.geo.convert") {
      val m = GeoOps.convert(looked, "EPSG:4326", "EPSG:3857").persist(StorageLevel.MEMORY_AND_DISK)
      m.count()
      m
    }
    val outDir = s"$work/geo-out-$index"
    ops("sources.fgb.write")(Fgb.writeSharded(merc, outDir))
    val dissolved = ops("operators.geo.dissolve") {
      GeoOps.bufferM(circles, RadiusM, dissolve = true).head().getAs[Array[Byte]](0)
    }
    last = Some(Last(pts, zones, looked, merc, counts, kept, outDir, GeomKernel.areaM(dissolved)))
  }

  def check(): Seq[String] = last.toSeq.flatMap { l =>
    // sagg against a brute-force st_contains count on seeded sample zones
    val sample = (0 until 20).map(i => Gen.below(seed, 80, i, Zones.toInt).toLong).distinct
    val brute = l.zones.where(col("zone_id").isin(sample: _*)).as("z")
      .crossJoin(l.pts.as("p"))
      .where(st_contains(col("z.geometry"), col("p.geometry")))
      .groupBy(col("z.zone_id")).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val saggBad = sample.filter(z => l.sagg.getOrElse(z, -1L) != brute.getOrElse(z, 0L))
      .map(z => s"sagg count of zone $z is ${l.sagg.getOrElse(z, -1L)}, brute force ${brute.getOrElse(z, 0L)}")
    val written = scala.io.Source.fromFile(s"${l.outDir}/_manifest.json").mkString
    val rows = """"rows":(\d+)""".r.findAllMatchIn(written).map(_.group(1).toLong).sum
    val inZones = l.looked.where(col("zone_id").isNotNull).count()
    val circleM2 = math.Pi * RadiusM * RadiusM
    saggBad ++
      Option.when(rows != Points)(s"FGB output has $rows rows, slookup input $Points") ++
      Option.when(l.sfiltered != inZones)(
        s"sfilter kept ${l.sfiltered} points, slookup found a zone for $inZones") ++
      Option.when(!(l.dissolvedAreaM2 > 1.5 * circleM2 && l.dissolvedAreaM2 < Circles * circleM2))(
        s"dissolved area ${l.dissolvedAreaM2} m² outside (1.5, $Circles) circle areas")
  }

  def release(): Unit = {
    freeCached()
    last.foreach(l => deleteTree(l.outDir))
    last = None
  }
}

object GeoBatch {
  val Points = 150000L
  val Zones = 3000L
  /** Overlapping 20 km circles dissolved per pass: inside the fast part of
    * the measured dissolve curve (see README).
    */
  val Circles = 100
  val RadiusM = 20000.0
}
