package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GeoFunctions._
import graft.operators._
import graft.sources.GeoSources._
import graft.sources.Shapefile

/** End-to-end composition: the kind of pipeline a reference user actually
  * runs — mixed-format inputs, spatial join, metre buffers, dissolve,
  * area — wired through graft operators end to end.
  */
class PipelineIntegrationSpec extends AnyFunSuite with SparkSpec {

  import testImplicits._

  test("corpus curation pipeline: quality filter → dedup chain → stats") {
    val docs = readTable(spark, sfDir, "documents")
    val n0 = docs.count()

    // score + filter, then stack exact and near dedup, annotate remainder
    val scored = TextAnalysis.qualityScore(TextAnalysis.langId(docs))
    val kept = scored.where(col("quality_score") > 0.3 && col("n_tokens") >= 5)
    val n1 = kept.count()
    assert(n1 > 0 && n1 <= n0)

    val exact = Dedup.exact(kept.select("doc_id", "text", "lang"), Seq("text"), "doc_id")
    val near = Dedup.minhashLsh(exact, "text", "doc_id", threshold = 0.7)
    val n2 = near.count()
    assert(n2 < n1) // planted near-dups drop

    val enriched = TextAnalysis.tokenCounts(TextAnalysis.fingerprint(near))
    val stats = enriched.agg(
      countDistinct("doc_fp").as("distinct_fps"),
      sum("ws_tokens").as("total_tokens")).head()
    assert(stats.getAs[Long]("distinct_fps") == n2) // surviving docs all distinct
    assert(stats.getAs[Long]("total_tokens") > n2 * 5)
    // entire chain is one lazy plan — no driver collects inside operators
    assert(enriched.queryExecution.analyzed != null)
  }

  test("mixed-format pipeline: shapefile zones × geojsonl points → buffer → dissolve → area") {
    val dir = tmpDir("graft-pipeline")

    // stage inputs in two formats
    val zones = Seq((1, "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))"),
        (2, "POLYGON ((10 10, 12 10, 12 12, 10 12, 10 10))"))
      .toDF("zid", "wkt")
      .select(col("zid").cast("string").as("zid"), st_geomfromtext(col("wkt")).as("geometry"))
    val zonesDir = java.nio.file.Files.createDirectory(
      java.nio.file.Paths.get(dir, "zones")).toString
    Shapefile.write(zones, s"$zonesDir/zones")

    val points = (1 to 40).map { i =>
      (i.toLong, (i % 5) * 0.5 + 0.25, (i % 3) * 0.6 + 0.2) // most in zone 1, some outside
    }.toDF("pid", "lon", "lat")
      .select(col("pid"), st_point(col("lon"), col("lat")).as("geometry"))
    GeoJSONSeq.write(points, s"$dir/points")

    // pipeline: load both, keep points inside a zone, buffer 10km, dissolve
    val zonesBack = Shapefile.read(spark, zonesDir)
    val pointsBack = GeoJSONSeq.read(spark, s"$dir/points")
    val inside = SJoin.sfilter(pointsBack, zonesBack, predicate = "within")
    assert(inside.count() > 0 && inside.count() < 40)

    val dissolved = GeoOps.bufferM(inside.select("geometry"), radiusMetres = 10000,
      resolution = 8, dissolve = true)
    assert(dissolved.count() == 1)
    val areaM2 = dissolved.select(st_aream(col("geometry"))).head().getDouble(0)
    // n disjoint-ish 10km buffers would be n·π·(10km)²; overlap makes it less,
    // but it must cover at least one full disc and less than the sum
    val disc = 0.5 * 32 * 1e4 * 1e4 * math.sin(2 * math.Pi / 32)
    assert(areaM2 >= disc * 0.99 && areaM2 < inside.count() * disc)

    // and the result round-trips through the cell-partitioned store
    GeoParquet.writePartitionedByCell(
      inside.withColumn("cell_src", lit("p")), s"$dir/store", cellDeg = 0.5)
    val pruned = GeoParquet.readPartitionedByCell(spark, s"$dir/store", 0.5,
      Some("POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))"))
    assert(pruned.count() == inside.count())
  }
}
