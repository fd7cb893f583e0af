package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GeoFunctions._
import graft.functions.GeoJsonFunctions._

/** Geospatial IO on Spark's native sources (reference: erde/io drivers —
  * csv-with-WKT, geojson, geojsonseq, with `chunk_size` streaming and a
  * geometry filter on read).
  *
  * graft's mapping: geometry travels as a WKB binary column; the text formats
  * parse/serialize at the boundary with codegen'd expressions. Erde's chunked
  * background-process streaming is subsumed by partitioned reads — every
  * source here is splittable except whole-file GeoJSON (kept for
  * compatibility; GeoJSONSeq is the scale path). The erde `geometry_filter`
  * becomes an `st_intersects` pushdown right after parse, so filtered rows
  * die before any shuffle.
  */
object GeoSources {

  private def applyFilter(df: DataFrame, geomCol: String, filterWkt: Option[String]): DataFrame =
    filterWkt.fold(df)(w => df.where(st_intersects(col(geomCol), st_geomfromtext(lit(w)))))

  /** CSV with a WKT geometry column (reference: erde/io/csv_.py). */
  object GeoCSV {
    def read(
        spark: SparkSession,
        path: String,
        geometryCol: String = "geometry",
        filterWkt: Option[String] = None,
        inferSchema: Boolean = true): DataFrame = {
      val raw = spark.read
        .option("header", "true")
        .option("inferSchema", inferSchema.toString)
        .csv(path)
      val parsed =
        if (raw.columns.contains(geometryCol))
          raw.withColumn(geometryCol, st_geomfromtext(col(geometryCol)))
        else raw
      applyFilter(parsed, geometryCol, filterWkt)
    }

    def write(df: DataFrame, path: String, geometryCol: String = "geometry"): Unit = {
      val out =
        if (df.columns.contains(geometryCol))
          df.withColumn(geometryCol, st_astext(col(geometryCol)))
        else df
      out.write.option("header", "true").mode("overwrite").csv(path)
    }
  }

  /** One GeoJSON Feature per line (a.k.a. geojsonseq / ndjson — reference:
    * erde/io/geojsonseq.py). Splittable text → the cluster-scale GeoJSON.
    */
  object GeoJSONSeq {
    def read(
        spark: SparkSession,
        path: String,
        geometryCol: String = "geometry",
        filterWkt: Option[String] = None): DataFrame = {
      val parsed = spark.read.text(path)
        .where(length(trim(col("value"))) > 0)
        .select(
          feature_props(col("value")).as("properties"),
          feature_geometry(col("value")).as(geometryCol))
      applyFilter(parsed, geometryCol, filterWkt)
    }

    /** Writes (geometry, all-other-columns-as-properties) as feature lines. */
    def write(df: DataFrame, path: String, geometryCol: String = "geometry"): Unit =
      featureLines(df, geometryCol).write.mode("overwrite").text(path)

    private[sources] def featureLines(df: DataFrame, geometryCol: String): DataFrame = {
      val propCols = df.columns.filterNot(_ == geometryCol)
      val props = map(propCols.toIndexedSeq.flatMap(c => Seq(lit(c), col(c).cast("string"))): _*)
      df.select(to_geojson_feature(col(geometryCol), props).as("value"))
    }
  }

  /** Whole-file FeatureCollection (reference: erde/io/geojson.py). One task
    * per file on read; single output file on write — compatibility format,
    * use [[GeoJSONSeq]] at scale.
    */
  object GeoJSON {
    def read(
        spark: SparkSession,
        path: String,
        geometryCol: String = "geometry",
        filterWkt: Option[String] = None): DataFrame = {
      val parsed = spark.read.option("wholetext", "true").text(path)
        .select(explode(geojson_features(col("value"))).as("__feature"))
        .select(
          feature_props(col("__feature")).as("properties"),
          feature_geometry(col("__feature")).as(geometryCol))
      applyFilter(parsed, geometryCol, filterWkt)
    }

    /** `maxRows` bounds the single-task write: a frame beyond it fails fast
      * (streamed count — no extra scan) instead of silently producing one
      * giant file; scale data belongs in [[GeoJSONSeq]]/parquet.
      */
    def write(df: DataFrame, path: String, geometryCol: String = "geometry",
        maxRows: Long = 1000000L): Unit = {
      import df.sparkSession.implicits._
      val lines = GeoJSONSeq.featureLines(df, geometryCol).as[String]
      lines.coalesce(1).mapPartitions { it0 =>
        var n = 0L
        val it = it0.map { line =>
          n += 1
          if (n > maxRows) throw new IllegalStateException(
            s"GeoJSON.write is a whole-file export capped at maxRows=$maxRows rows; " +
              "use GeoJSONSeq or parquet for large frames")
          line
        }
        val body = new Iterator[String] {
          private var first = true
          override def hasNext: Boolean = it.hasNext
          override def next(): String = {
            val sep = if (first) "" else ","
            first = false
            sep + it.next()
          }
        }
        Iterator.single("""{"type":"FeatureCollection","features":[""") ++ body ++ Iterator.single("]}")
      }.write.mode("overwrite").text(path)
    }
  }

  /** Parquet with WKB geometry — graft's native representation, so this is
    * plain `spark.read.parquet`; helper exists for API parity with the
    * reference's format matrix.
    */
  object GeoParquet {
    def read(spark: SparkSession, path: String, filterWkt: Option[String] = None,
        geometryCol: String = "geometry"): DataFrame =
      applyFilter(spark.read.parquet(path), geometryCol, filterWkt)

    def write(df: DataFrame, path: String): Unit =
      df.write.mode("overwrite").parquet(path)

    /** Spatially-clustered storage: rows land in one directory per grid cell
      * (cell of the geometry's bbox center), so bbox reads prune whole
      * partitions before any IO — the 100 TB layout for repeatedly-queried
      * geodata. Geometries are not split: a row belongs to exactly one cell,
      * and reads widen the cover by one cell ring to catch bbox overhang,
      * then apply the exact filter.
      */
    def writePartitionedByCell(df: DataFrame, path: String, cellDeg: Double,
        geometryCol: String = "geometry"): Unit = {
      val bb = st_bbox(col(geometryCol))
      df.withColumn("cell", st_cellof(
          (element_at(bb, 1) + element_at(bb, 3)) / 2,
          (element_at(bb, 2) + element_at(bb, 4)) / 2,
          lit(cellDeg)))
        .write.mode("overwrite").partitionBy("cell").parquet(path)
    }

    /** Reads only the cell directories intersecting `filterWkt`'s bbox
      * (expanded by one ring), then applies the exact intersects filter.
      */
    def readPartitionedByCell(spark: SparkSession, path: String, cellDeg: Double,
        filterWkt: Option[String] = None, geometryCol: String = "geometry"): DataFrame = {
      val raw = spark.read.parquet(path)
      filterWkt match {
        case None => raw
        case Some(w) =>
          val g = graft.geom.WKT.read(w)
          val (x1, y1, x2, y2) = g.bbox
          val cover = graft.functions.GeomKernel.cellCover(
            graft.geom.WKB.write(graft.geom.Polygon(Array(Array(
              x1 - cellDeg, y1 - cellDeg, x2 + cellDeg, y1 - cellDeg,
              x2 + cellDeg, y2 + cellDeg, x1 - cellDeg, y2 + cellDeg,
              x1 - cellDeg, y1 - cellDeg)))), cellDeg).toLongArray()
          applyFilter(raw.where(col("cell").isin(cover.toIndexedSeq: _*)), geometryCol, Some(w))
      }
    }
  }

  /** `path:name` layer/sheet suffix (reference: erde/io/gpkg.py:13
    * PATH_REGEXP `file.gpkg:layer`, io/xls.py:7 `file.xlsx:sheet`): splits a
    * trailing `:name` off gpkg/xlsx/ods paths → (base path, Some(name)).
    */
  private val LayerPath = "(?i)^(.*\\.(?:gpkg|xlsx|ods)):([A-Za-z0-9_-]+)$".r

  private[sources] def splitLayer(path: String): (String, Option[String]) = path match {
    case LayerPath(base, name) => (base, Some(name))
    case _ => (path, None)
  }

  /** Extension-dispatched read, the `erde read_df(path)` entry point
    * (reference: erde/__init__.py:50 — driver chosen by file suffix;
    * `file.gpkg:layer` / `file.xlsx:sheet` select a layer or sheet).
    * Geometry lands as the usual WKB `geometry` column for every format.
    */
  def readAuto(spark: SparkSession, path0: String,
      filterWkt: Option[String] = None): DataFrame = {
    val (path, layer) = splitLayer(path0)
    val p = path.toLowerCase
    // the readers that take the filter themselves; every other reader's
    // frame gets it applied after parsing
    val filtering = Seq(".csv", ".geojsonl", ".geojsonseq", ".ndjson", ".geojson", ".json",
      ".parquet", ".fgb").exists(p.endsWith)
    val df =
      if (p.startsWith("postgresql://")) Postgres.read(spark, path)
      else if (p.endsWith(".osm.pbf")) OsmPbf.read(spark, path)
      else if (p.endsWith(".csv")) GeoCSV.read(spark, path, filterWkt = filterWkt)
      else if (p.endsWith(".geojsonl") || p.endsWith(".geojsonseq") || p.endsWith(".ndjson"))
        GeoJSONSeq.read(spark, path, filterWkt = filterWkt)
      else if (p.endsWith(".jsonl")) Jsonl.read(spark, path)
      else if (p.endsWith(".geojson") || p.endsWith(".json"))
        GeoJSON.read(spark, path, filterWkt = filterWkt)
      else if (p.endsWith(".parquet")) GeoParquet.read(spark, path, filterWkt = filterWkt)
      // ORC rides Spark's native reader — same WKB binary geometry contract
      // as parquet (splittable, predicate pushdown, column pruning)
      else if (p.endsWith(".orc")) spark.read.orc(path)
      // avro container files: own splittable driver (no spark-avro module
      // in the bundled jars) — WKB binary geometry as avro bytes
      else if (p.endsWith(".avro")) Avro.read(spark, path)
      // arrow IPC files: own footer-indexed splittable driver (no arrow
      // DataSource in the bundled jars) — WKB binary geometry convention;
      // .arrows is the footerless STREAMING framing (one task per file)
      else if (p.endsWith(".arrows")) ArrowIpc.readArrows(spark, path)
      else if (p.endsWith(".arrow")) ArrowIpc.read(spark, path)
      else if (p.endsWith(".shp")) Shapefile.read(spark, path)
      else if (p.endsWith(".gpkg")) Gpkg.read(spark, path, layer = layer)
      // plain sqlite databases: the generic table driver (`file.db:table`)
      else if (p.endsWith(".sqlite") || p.endsWith(".sqlite3") || p.endsWith(".db"))
        SqliteDb.read(spark, path, table = layer)
      else if (p.endsWith(".fgb")) Fgb.read(spark, path, filterWkt = filterWkt)
      else if (p.endsWith(".xlsx")) parseWktCol(Xlsx.read(spark, path, sheet = layer))
      else if (p.endsWith(".ods")) parseWktCol(Xlsx.readOds(spark, path, sheet = layer))
      else throw new IllegalArgumentException(s"no driver for '$path0'")
    if (filtering || !df.columns.contains("geometry")) df
    else applyFilter(df, "geometry", filterWkt)
  }

  // spreadsheets carry geometry as WKT text (erde/io/xls.py semantics)
  private def parseWktCol(df: DataFrame): DataFrame =
    if (df.columns.contains("geometry"))
      df.withColumn("geometry", st_geomfromtext(col("geometry")))
    else df

  /** Extension-dispatched write (reference: erde/__init__.py:65;
    * `file.gpkg:layer` names the written layer).
    */
  def writeAuto(df: DataFrame, path0: String): Unit = {
    val (path, layer) = splitLayer(path0)
    val p = path.toLowerCase
    if (p.startsWith("postgresql://")) Postgres.write(df, path)
    else if (p.endsWith(".osm.pbf")) OsmPbf.write(df, path)
    else if (p.endsWith(".csv")) GeoCSV.write(df, path)
    else if (p.endsWith(".geojsonl") || p.endsWith(".geojsonseq") || p.endsWith(".ndjson"))
      GeoJSONSeq.write(df, path)
    else if (p.endsWith(".jsonl")) Jsonl.write(df, path)
    else if (p.endsWith(".geojson") || p.endsWith(".json")) GeoJSON.write(df, path)
    else if (p.endsWith(".parquet")) GeoParquet.write(df, path)
    else if (p.endsWith(".orc")) df.write.mode("overwrite").orc(path)
    else if (p.endsWith(".avro")) Avro.write(df, path)
    else if (p.endsWith(".arrows")) ArrowIpc.writeArrows(df, path)
    else if (p.endsWith(".arrow")) ArrowIpc.write(df, path)
    else if (p.endsWith(".xlsx") || p.endsWith(".ods")) {
      // spreadsheets carry geometry as WKT text, mirroring the read side
      val out =
        if (df.columns.contains("geometry") &&
            df.schema("geometry").dataType == org.apache.spark.sql.types.BinaryType)
          df.withColumn("geometry", st_astext(col("geometry")))
        else df
      if (p.endsWith(".ods")) Xlsx.writeOds(out, path, sheet = layer.getOrElse("Sheet1"))
      else Xlsx.write(out, path, sheet = layer.getOrElse("Sheet1"))
    }
    else if (p.endsWith(".shp")) Shapefile.write(df, path.substring(0, path.length - 4))
    else if (p.endsWith(".fgb")) Fgb.write(df, path)
    else if (p.endsWith(".gpkg")) Gpkg.write(df, path, layerName = layer.getOrElse("layer"))
    else if (p.endsWith(".sqlite") || p.endsWith(".sqlite3") || p.endsWith(".db"))
      SqliteDb.write(df, path, table = layer.getOrElse("data"))
    else throw new IllegalArgumentException(s"no write driver for '$path0'")
  }

  /** First geometry of a file (reference: erde/__init__.py:83 `read_geom` —
    * "first geometry is read to prevent heavy unary_union"). Returns WKB.
    */
  def readGeom(spark: SparkSession, path: String): Array[Byte] =
    readAuto(spark, path).select("geometry").limit(1).head().getAs[Array[Byte]](0)

  /** Writes a single WKB geometry (reference: erde/__init__.py:90). */
  def writeGeom(spark: SparkSession, wkb: Array[Byte], path: String): Unit = {
    import spark.implicits._
    writeAuto(Seq(Tuple1(wkb)).toDF("geometry"), path)
  }
}
