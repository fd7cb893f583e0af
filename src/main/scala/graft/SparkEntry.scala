package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GeoFunctions._
import graft.operators._
import graft.sources.{GeoSources, ManifestTable, PgMiniServer, Postgres, SqliteDb}

/** Driver contract — see /root/repo/SURVEY.md §2 (inventory) and §7 (plan).
  *
  * Every implemented operator gets a `queries` entry (Spark plan over the
  * driver's parquet tables) and, when SQL-expressible, a matching `oracleSql`
  * entry (plain SQL run by DuckDB on the same tables). Column names are
  * aligned on both sides because the driver compares by sorted column name.
  */
object SparkEntry {

  /** A registry query: session and sf dir in, result frame out. */
  private type Query = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    readTable(s, dir, name)

  /** Deterministic per-SF scratch dir, wiped before use — the only place a
    * query writes files, under a tag of its own. Manifest-table queries must
    * start from version 0 on every run of the same query (the log is
    * append-only by design, so a reused root would keep growing), and a
    * sharded write refuses a directory holding an earlier write's shards.
    * Every such dir lives under [[scratchParent]].
    */
  private def freshRoot(tag: String, dir: String): String = {
    val p = scratchParent.resolve(s"${tag}_${new java.io.File(dir).getName}")
    deleteRecursively(p)
    p.toString
  }

  /** This JVM's parent of every [[freshRoot]] dir: created on first use
    * under the temp dir, removed with everything under it when the JVM
    * exits, so no scratch dir outlives the run and two JVMs never share one.
    */
  private lazy val scratchParent: java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory("graft_")
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRecursively(p)))
    p
  }

  /** Synthetic OSM elements table from `part`: nodes (id ≡ 0 mod 3) with
    * lon/lat grids, ways (≡ 1) referencing their flanking node ids, relations
    * (≡ 2) referencing one way (id-1) and one node (id+1). Shared by the
    * osm_crop / osm_merge queries and mirrored literally in their oracles.
    */
  private def osmElements(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part").select(
      element_at(array(lit("n"), lit("w"), lit("r")), (col("p_partkey") % 3 + 1).cast("int")).as("type"),
      col("p_partkey").as("id"),
      map(lit("brand"), col("p_brand")).as("tags"),
      when(col("p_partkey") % 3 === 0, expr("(p_partkey % 60) * 0.1 + 0.05").cast("double")).as("lon"),
      when(col("p_partkey") % 3 === 0, expr("(p_partkey % 35) * 0.1 - 1.05").cast("double")).as("lat"),
      when(col("p_partkey") % 3 === 1, array(col("p_partkey") - 1, col("p_partkey") + 2))
        .when(col("p_partkey") % 3 === 2, array(col("p_partkey") - 1, col("p_partkey") + 1))
        .as("refs"))

  // Deterministic geometry derivations from the TPC-H-ish tables. Every
  // arithmetic step is written identically in the DuckDB oracles, so both
  // engines see bit-identical doubles.

  /** One point per customer row: lon ∈ [-29.75, 29.75], lat ∈ [-19.75, 19.75];
    * fractional part 0.25 so points never sit on integer zone boundaries.
    */
  private[graft] def custPoints(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").withColumn("geometry",
      st_point(expr("(c_custkey % 120) * 0.5 - 30 + 0.25"), expr("(c_custkey % 80) * 0.5 - 20 + 0.25")))

  /** One disjoint 4°×6° rectangle zone per nation row. */
  private[graft] def nationZones(s: SparkSession, dir: String): DataFrame = {
    val lon0 = expr("(n_nationkey % 12) * 5.0 - 30")
    val lat0 = expr("(n_nationkey % 5) * 8.0 - 20")
    t(s, dir, "nation").withColumn("geometry",
      st_envelope(st_makeline(st_point(lon0, lat0), st_point(lon0 + 4.0, lat0 + 6.0))))
  }

  /** One 2°×2.5° rectangle per supplier row, overlapping its neighbours. */
  private[graft] def supplierRects(s: SparkSession, dir: String): DataFrame = {
    val lon0 = expr("(s_suppkey % 40) * 1.5 - 30")
    val lat0 = expr("(s_suppkey % 25) * 1.6 - 20")
    t(s, dir, "supplier").withColumn("geometry",
      st_envelope(st_makeline(st_point(lon0, lat0), st_point(lon0 + 2.0, lat0 + 2.5))))
  }

  /** Distinct undirected co-purchase edges between parts sharing an order
    * (orderkey % 4 subsample bounds the wedge volume; mirrors
    * OracleSql.copurchaseCore).
    */
  private def copurchaseEdges(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .where(col("l_orderkey") % 4 === 0).select("l_orderkey", "l_partkey")
    li.as("x").join(li.as("y"),
      col("x.l_orderkey") === col("y.l_orderkey") &&
        col("x.l_partkey") < col("y.l_partkey"))
      .select(col("x.l_partkey").as("src"), col("y.l_partkey").as("dst"))
  }

  /** Synthetic URL corpus for the url_* queries (mirrors
    * OracleSql.urlCore literally): scheme/www case, explicit vs default
    * ports, empty paths, tracking params, fragments — every
    * Web.normalizeUrl path exercised.
    */
  private def synthUrls(docs: DataFrame): DataFrame = {
    val id = col("doc_id")
    docs.select(id, concat(
      when(id % 2 === 0, lit("HTTPS")).otherwise(lit("http")), lit("://"),
      when(id % 3 === 0, lit("WWW.")).otherwise(lit("")),
      col("source"), lit("."),
      element_at(array(lit("com"), lit("co.uk"), lit("org"), lit("de")),
        (id % 4 + 1).cast("int")),
      when(id % 5 === 0, lit(":443")).when(id % 5 === 1, lit(":8080")).otherwise(lit("")),
      when(id % 7 === 0, lit("")).otherwise(concat(lit("/p/"), id)),
      when(id % 2 === 0, lit("?utm_source=feed&b=2&a=1")).otherwise(lit("?z=9&y=8&gclid=abc")),
      when(id % 3 === 1, lit("#sec")).otherwise(lit(""))).as("url"))
  }

  private val custZoneSql =
    """((c_custkey % 120) * 0.5 - 30 + 0.25) > ((n_nationkey % 12) * 5.0 - 30)
      | AND ((c_custkey % 120) * 0.5 - 30 + 0.25) < ((n_nationkey % 12) * 5.0 - 30 + 4.0)
      | AND ((c_custkey % 80) * 0.5 - 20 + 0.25) > ((n_nationkey % 5) * 8.0 - 20)
      | AND ((c_custkey % 80) * 0.5 - 20 + 0.25) < ((n_nationkey % 5) * 8.0 - 20 + 6.0)""".stripMargin

  /** DuckDB-side Web-Mercator formulas (same R as [[graft.geom.Mercator]]). */
  private def mx(lon: String) = s"6378137.0 * radians($lon)"
  private def my(lat: String) = s"6378137.0 * ln(tan(pi()/4 + radians($lat)/2))"
  private def invLat(y: String) = s"degrees(2*atan(exp(($y)/6378137.0)) - pi()/2)"

  private val havSql: (String, String, String, String) => String = (lon1, lat1, lon2, lat2) =>
    s"""2*6371008.8*asin(least(1.0, sqrt(pow(sin((radians($lat2)-radians($lat1))/2),2)
       | + cos(radians($lat1))*cos(radians($lat2))*pow(sin((radians($lon2)-radians($lon1))/2),2))))""".stripMargin

  /** Customer points reprojected from WGS84 to `epsg`, rounded to the
    * millimetre (the geo_convert_<crs> queries).
    */
  private def projectTo(epsg: String): Query = (s, dir) =>
    t(s, dir, "customer")
      .withColumn("geometry",
        st_point(expr("(c_custkey % 60) * 0.1 + 0.05"), expr("(c_custkey % 80) * 0.5 - 20 + 0.25")))
      .withColumn("geometry", st_transform(col("geometry"), "EPSG:4326", epsg))
      .select(col("c_custkey"),
        round(st_x(col("geometry")), 3).as("easting"),
        round(st_y(col("geometry")), 3).as("northing"))

  /** Customer points written clustered along `curve` (morton or hilbert),
    * then read back through the curve's bbox range scan.
    */
  private def curveRead(curve: String): Query = (s, dir) => {
    val pts = t(s, dir, "customer")
      .withColumn("lon", expr("(c_custkey % 120) * 0.5 - 30 + 0.25"))
      .withColumn("lat", expr("(c_custkey % 80) * 0.5 - 20 + 0.25"))
      .select("c_custkey", "lon", "lat")
    val out = freshRoot(s"${curve}_read", dir)
    GeoOps.writeZOrdered(pts, "lon", "lat", out, bits = 16, partitions = 8, curve = curve)
    GeoOps.readZOrdered(s, out, "lon", "lat", -10.0, -10.0, 5.0, 5.0, curve = curve)
      .select(col("c_custkey"),
        round(col("lon"), 6).as("lon6"), round(col("lat"), 6).as("lat6"))
  }

  /** Each purchase joined as-of to the same user's latest earlier click;
    * `timeBucket` is asofJoin's hot-key split.
    */
  private def purchaseAsofClick(timeBucket: Option[Double]): Query =
    (s, dir) => {
      val e = t(s, dir, "events")
      val purchases = e.where(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts", "value")
      val clicks = e.where(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts"), col("value"))
      // unmatched-left payload nulls become sentinels: the gate's tuple
      // compare (and possibly the driver's hash) treats NaN != NaN, so a
      // genuinely-null double column can never MATCH
      Ops.asofJoin(purchases, clicks, Seq("user_id"), "ts", "ts",
          rightCols = Seq("click_id", "value", "ts"), rightTieCol = Some("click_id"),
          timeBucket = timeBucket)
        .select(col("event_id"), col("user_id"),
          round(col("value"), 4).as("purchase_value"),
          coalesce(col("click_id"), lit(-1L)).as("click_id"),
          coalesce(round(col("value_right"), 4), lit(-1.0)).as("click_value"),
          coalesce(unix_micros(col("ts")) - unix_micros(col("ts_right")), lit(-1L))
            .as("lag_us"))
    }

  /** Lineitem ship intervals (ship date + quantity days) self-joined per
    * supplier: each item's overlap count and overlapping quantity.
    * `maxReplication` is intervalJoin's level-ladder guard.
    */
  private def lineitemIntervalJoin(maxReplication: Option[Int]): Query =
    (s, dir) => {
      val f = t(s, dir, "lineitem").select(
        col("l_suppkey").as("k"),
        (col("l_orderkey") * 10 + col("l_linenumber")).as("iid"),
        datediff(col("l_shipdate").cast("date"), to_date(lit("1992-01-01"))).as("s0"),
        (datediff(col("l_shipdate").cast("date"), to_date(lit("1992-01-01")))
          + floor(col("l_quantity")).cast("int")).as("e0"),
        col("l_quantity").as("q"))
      Joins.intervalJoin(f, f, Seq("k"), "s0", "e0", "s0", "e0", bucketWidth = 32.0,
          maxReplication = maxReplication)
        .where(col("iid") =!= col("iid_right"))
        .groupBy("iid")
        .agg(count(lit(1)).as("n_overlap"),
          round(sum(col("q_right")), 4).as("qty_overlap_sum"))
    }

  /** Four interleaved order appends to a manifest table, a `curve`-ordered
    * compaction (zorder or hilbert) on (custkey, orderkey), then a
    * stats-pruned scan on custkey — results must equal plain SQL exactly.
    */
  private def manifestCurveScan(curve: String): Query = (s, dir) => {
    val root = freshRoot(s"manifest_$curve", dir)
    val orders = t(s, dir, "orders")
    (0 until 4).foreach(i =>
      ManifestTable.append(orders.where(col("o_orderkey") % 4 === i)
        .select("o_orderkey", "o_custkey", "o_orderstatus"), root))
    val mx = orders.agg(max("o_custkey")).head().getLong(0) // bounded: 1 row
    val by = Seq("o_custkey", "o_orderkey")
    ManifestTable.compact(s, root, targetBytes = 64L << 10,
      zorderBy = if (curve == "zorder") by else Nil,
      hilbertBy = if (curve == "hilbert") by else Nil)
    ManifestTable.scan(s, root,
        ManifestTable.Between("o_custkey", mx / 4, mx / 2))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("cnt"), sum("o_orderkey").cast("long").as("sum_key"))
  }

  /** BM25 query probes: the first four word tokens of every 100th document
    * (mirrors the `q` CTE of [[bm25ScoreCtes]]).
    */
  private def bm25Probes(docs: DataFrame): DataFrame =
    docs.where(col("doc_id") % 100 === 7)
      .select(col("doc_id").as("query_id"),
        array_join(slice(TextAnalysis.wordTokens(col("text")), 1, 4), " ").as("query"))

  /** Persists a built IVF index under `out`: `assigned` partitioned by cell,
    * each other named table beside it, all in one submit (independent dirs,
    * guide §2.6).
    */
  private def writeIndex(out: String, assigned: DataFrame, tables: (String, DataFrame)*): Unit =
    Concurrent.awaitAll(
      (() => assigned.write.mode("overwrite").partitionBy("cell").parquet(s"$out/assigned")) +:
        tables.map { case (name, df) => () => df.write.mode("overwrite").parquet(s"$out/$name") }: _*)

  /** A query's output columns and the DuckDB SQL that computes the same. */
  private final case class Shape(project: DataFrame => DataFrame, oracle: String)

  private val pointXY = Seq(
    round(st_x(col("geometry")), 6).as("px"), round(st_y(col("geometry")), 6).as("py"))

  private def custXYOracle(balance: String): String =
    s"""SELECT c_custkey, $balance,
       |  round((c_custkey % 120) * 0.5 - 30 + 0.25, 6) AS px,
       |  round((c_custkey % 80) * 0.5 - 20 + 0.25, 6) AS py
       |FROM customer""".stripMargin

  /** custPoints read back with their written column types. */
  private val custTyped = Shape(
    _.select(col("c_custkey") +: col("c_acctbal") +: pointXY: _*),
    custXYOracle("c_acctbal"))

  /** custPoints read back from a format that infers its column types
    * (text cells, dBase fields): the key cast back, the balance rounded.
    */
  private val custInferred = Shape(
    _.select(col("c_custkey").cast("long").as("c_custkey") +:
      round(col("c_acctbal").cast("double"), 2).as("acctbal2") +: pointXY: _*),
    custXYOracle("round(c_acctbal, 2) AS acctbal2"))

  /** Embeddings read back: the LIST column's length and end elements
    * (element probes compare exactly — no float summation).
    */
  private val embeddingProbes = Shape(
    _.select(col("vec_id"), col("label"), size(col("embedding")).as("dim"),
      round(element_at(col("embedding"), 1).cast("double"), 6).as("c_first"),
      round(element_at(col("embedding"), -1).cast("double"), 6).as("c_last")),
    """SELECT vec_id, label, len(embedding) AS dim,
      |  round(CAST(embedding[1] AS DOUBLE), 6) AS c_first,
      |  round(CAST(embedding[-1] AS DOUBLE), 6) AS c_last
      |FROM embeddings""".stripMargin)

  /** One file-driver roundtrip query: `source` goes through `io` at `file`
    * under the query's fresh scratch dir, and `shape` projects what came
    * back. The default `io` is the suffix-dispatched writeAuto → readAuto
    * (erde read_df/write_df).
    */
  private final case class Roundtrip(name: String,
      source: Query, file: String, shape: Shape,
      io: (SparkSession, DataFrame, String) => DataFrame = autoIo) {
    def query(s: SparkSession, dir: String): DataFrame =
      shape.project(io(s, source(s, dir), s"${freshRoot(name, dir)}/$file"))
  }

  private def autoIo(s: SparkSession, df: DataFrame, path: String): DataFrame = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path).getParent)
    GeoSources.writeAuto(df, path)
    GeoSources.readAuto(s, path)
  }

  private def custRows(s: SparkSession, dir: String): DataFrame =
    custPoints(s, dir).select(col("c_custkey"), col("c_acctbal"), col("geometry"))

  private def embeddingRows(s: SparkSession, dir: String): DataFrame = t(s, dir, "embeddings")

  private val roundtrips: Seq[Roundtrip] = Seq(
    // fgb (erde/io/fgb.py): own writer + ranged reader
    Roundtrip("fgb_roundtrip", custRows, "customer.fgb", custTyped),
    // shp: own ESRI writer + shx-indexed ranged reader
    Roundtrip("shp_roundtrip", custRows, "customer.shp", custInferred),
    // GeoJSONSeq: attributes come back as one `properties` map
    Roundtrip("auto_roundtrip", custRows, "customer.geojsonl", custTyped.copy(project = df =>
      custTyped.project(df.select(
        element_at(col("properties"), "c_custkey").cast("long").as("c_custkey"),
        element_at(col("properties"), "c_acctbal").cast("double").as("c_acctbal"),
        col("geometry"))))),
    // the reference's xlsx driver is read-only (write_df raises
    // NotImplementedError); graft's sharded OOXML export must round-trip its
    // own typed reader, geometry as WKT like the read side
    Roundtrip("xlsx_roundtrip", custRows, "customer.xlsx", custInferred),
    // JSONL (LLM-corpus interchange; WKT geometry)
    Roundtrip("jsonl_roundtrip", custRows, "customer.jsonl", custInferred),
    // ORC: Spark-native columnar sibling
    Roundtrip("orc_roundtrip", custRows, "customer.orc", custTyped),
    // avro: own container writer + splittable reader
    Roundtrip("avro_roundtrip", custRows, "customer.avro", custTyped),
    // arrow IPC: footer-indexed splittable reads; the embeddings table
    // exercises the LIST column path (the format's differentiator)
    Roundtrip("arrow_roundtrip", embeddingRows, "embeddings.arrow", embeddingProbes),
    // arrow STREAMING format (.arrows: footerless, per-file tasks)
    Roundtrip("arrows_roundtrip", embeddingRows, "embeddings.arrows", embeddingProbes),
    // gpkg: own SQLite writer + b-tree reader
    Roundtrip("gpkg_roundtrip", custRows, "customer.gpkg", custTyped),
    // generic SQLite: writeSharded emits one standalone database per
    // partition (the page graph is not splittable; parallelism = many
    // files), and the directory reads back as one frame through the same
    // pager/B-tree codec the GeoPackage driver uses
    Roundtrip("sqlite_roundtrip",
      (s, dir) => t(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("s_nationkey")),
      "supplier.sqlite",
      Shape(
        _.select(col("s_suppkey").cast("long").as("s_suppkey"), col("s_name"),
          round(col("s_acctbal").cast("double"), 2).as("bal2"),
          col("s_nationkey").cast("long").as("s_nationkey")),
        """SELECT s_suppkey, s_name, round(s_acctbal, 2) AS bal2, s_nationkey
          |FROM supplier""".stripMargin),
      io = (s, df, path) => {
        SqliteDb.writeSharded(df.repartition(4), path, table = "supplier")
        GeoSources.readAuto(s, path)
      }),
    // postgres: wire-protocol write + partitioned read against the
    // in-process PgMiniServer (loopback; hermetic). The server holds the
    // table, so the scratch path goes unused.
    Roundtrip("pg_roundtrip", custRows, "customer_pts", custTyped,
      io = (s, df, _) => {
        val server = new PgMiniServer()
        try {
          val url = s"postgresql://graft@127.0.0.1:${server.port}/graftdb/customer_pts@geometry"
          GeoSources.writeAuto(df, url)
          Postgres.read(s, url, partitionColumn = Some("c_custkey"), numPartitions = 4)
            .localCheckpoint(true) // materialize before the server dies
        } finally server.close()
      }),
    // osm.pbf: write + read + tag filter. NULL doubles become NaN in the
    // driver's pandas compare and NaN never equals NaN — sentinel the
    // way/relation rows instead (both sides)
    Roundtrip("osm_pbf_roundtrip",
      (s, dir) => t(s, dir, "part").select(
        element_at(array(lit("n"), lit("w"), lit("r")), (col("p_partkey") % 3 + 1).cast("int")).as("type"),
        col("p_partkey").as("id"),
        map(lit("brand"), col("p_brand"), lit("container"), col("p_type")).as("tags"),
        when(col("p_partkey") % 3 === 0, expr("(p_partkey % 60) * 0.1 + 0.05").cast("double")).as("lon"),
        when(col("p_partkey") % 3 === 0, expr("(p_partkey % 35) * 0.1 - 1.05").cast("double")).as("lat"),
        when(col("p_partkey") % 3 === 1, array(col("p_partkey") - 1, col("p_partkey") + 2))
          .when(col("p_partkey") % 3 === 2, array(col("p_partkey") - 1, col("p_partkey") + 1))
          .as("refs"),
        when(col("p_partkey") % 3 === 2, array(lit("w"), lit("n"))).as("member_types"),
        when(col("p_partkey") % 3 === 2, array(lit("outer"), lit(""))).as("member_roles")),
      "elements.osm.pbf",
      Shape(
        OsmFilter.tagFilter(_, Seq("wr/brand=Brand#13,Brand#23", "n/container"))
          .select(col("id").as("osm_id"), col("type"),
            coalesce(round(col("lon"), 5), lit(-999.0)).as("lon5"),
            coalesce(round(col("lat"), 5), lit(-999.0)).as("lat5"),
            when(col("type") === "n", lit(-1)).otherwise(size(col("refs"))).as("nrefs"),
            when(col("type") === "r", concat_ws("|", col("member_types"))).otherwise(lit("-")).as("mtypes"),
            when(col("type") === "r", concat_ws("|", col("member_roles"))).otherwise(lit("-")).as("mroles")),
        """WITH e AS (SELECT p_partkey AS osm_id, p_brand, p_type,
          |  CASE (p_partkey % 3) WHEN 0 THEN 'n' WHEN 1 THEN 'w' ELSE 'r' END AS type,
          |  CASE WHEN p_partkey % 3 = 0 THEN CAST(round((p_partkey % 60) * 0.1 + 0.05, 5) AS DOUBLE)
          |       ELSE -999.0 END AS lon5,
          |  CASE WHEN p_partkey % 3 = 0 THEN CAST(round((p_partkey % 35) * 0.1 - 1.05, 5) AS DOUBLE)
          |       ELSE -999.0 END AS lat5,
          |  CASE WHEN p_partkey % 3 = 0 THEN -1 ELSE 2 END AS nrefs,
          |  CASE WHEN p_partkey % 3 = 2 THEN 'w|n' ELSE '-' END AS mtypes,
          |  CASE WHEN p_partkey % 3 = 2 THEN 'outer|' ELSE '-' END AS mroles
          |  FROM part)
          |SELECT osm_id, type, lon5, lat5, nrefs, mtypes, mroles FROM e
          |WHERE (type IN ('w','r') AND p_brand IN ('Brand#13','Brand#23'))
          |   OR (type = 'n' AND p_type IS NOT NULL)""".stripMargin)),
  )

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("dedup_exact")(spark, "/root/testdata/sf0.001")

  /** The query names of a comma-separated list, as the registry mains take
    * it: names trimmed, blanks dropped, list order kept. Fails naming every
    * name that is not a `queries` key, and on a list with no names, so a
    * misspelled selection never runs nothing and passes.
    */
  def resolveQueries(list: String): Seq[String] = {
    val names = list.split(",").map(_.trim).filter(_.nonEmpty).toSeq.distinct
    require(names.nonEmpty, s"no query names in '$list'")
    val unknown = names.filterNot(queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    names
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map[String, Query](
    // --- erde op/subset (erde/op/subset.py) -------------------------------
    "subset_cols" -> ((s, dir) =>
      Subset(t(s, dir, "customer"), "c_custkey: id, c_acctbal: bal, c_mktsegment")),

    // --- erde utils.crossjoin (erde/utils.py:73) --------------------------
    "crossjoin_count" -> ((s, dir) =>
      Ops.crossjoin(t(s, dir, "region"), t(s, dir, "nation"))
        .groupBy("r_name").agg(count(lit(1)).as("n"))),

    // --- erde utils.lookup (erde/utils.py:130) ----------------------------
    "lookup_first" -> ((s, dir) =>
      Ops.lookup(t(s, dir, "customer"), t(s, dir, "nation"),
          Seq("n_name"), "c_nationkey", "n_nationkey", "n_nationkey")
        .select("c_custkey", "n_name")),

    // --- dedup: exact (SURVEY §2 LLM-data-pipeline) -----------------------
    "dedup_exact" -> ((s, dir) =>
      Dedup.exact(t(s, dir, "documents"), Seq("text"), "doc_id")
        .groupBy("lang").agg(count(lit(1)).as("n_docs"))),

    // --- windowed event aggregation (batch face of streaming module) ------
    "events_window" -> ((s, dir) => {
      val e = t(s, dir, "events")
      e.groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), round(sum("value"), 4).as("sum_value"))
        .select(unix_timestamp(col("window.start")).as("hour_ts"),
          col("event_type"), col("n_events"), col("sum_value"))
    }),

    // --- erde op/area (erde/op/area.py) -----------------------------------
    "geo_area" -> ((s, dir) => {
      val lonc = expr("(n_nationkey % 10) * 3.0 - 15 + 0.5")
      val latc = expr("(n_nationkey % 7) * 8.0 - 24 + 0.5")
      val h = expr("0.1 + (n_nationkey % 3) * 0.05")
      val squares = t(s, dir, "nation").withColumn("geometry",
        st_envelope(st_makeline(st_point(lonc - h, latc - h), st_point(lonc + h, latc + h))))
      GeoOps.areaM(squares)
        .select(col("n_nationkey"), round(col("area") / 1e6, 3).as("area_km2"))
    }),

    // --- erde op/length (erde/op/length.py) -------------------------------
    "geo_length" -> ((s, dir) => {
      val lon1 = expr("(c_custkey % 120) * 0.5 - 30 + 0.25")
      val lat1 = expr("(c_custkey % 80) * 0.5 - 20 + 0.25")
      val lon2 = lon1 + lit(0.3) + expr("(c_custkey % 4) * 0.1")
      val lat2 = lat1 + lit(0.2)
      val lines = t(s, dir, "customer").withColumn("geometry",
        st_makeline(st_point(lon1, lat1), st_point(lon2, lat2)))
      GeoOps.lengthM(lines)
        .select(col("c_custkey"), round(col("length") / 1000, 3).as("len_km"))
    }),

    // --- erde op/buffer (erde/op/buffer.py) -------------------------------
    "geo_buffer_area" -> ((s, dir) => {
      val pts = t(s, dir, "supplier").withColumn("geometry",
        st_point(expr("(s_suppkey % 90) * 0.7 - 31.5"), expr("(s_suppkey % 60) * 0.6 - 17.7")))
      val withR = pts.withColumn("geometry",
        st_bufferm(col("geometry"), expr("1000.0 + (s_suppkey % 5) * 500.0"), lit(8)))
      GeoOps.areaM(withR)
        .select(col("s_suppkey"), round(col("area") / 1e6, 4).as("buf_km2"))
    }),

    // --- erde op/convert (erde/op/convert.py) -----------------------------
    "geo_convert" -> ((s, dir) =>
      GeoOps.toMercator(custPoints(s, dir))
        .select(col("c_custkey"),
          round(st_x(col("geometry")), 2).as("x_m"),
          round(st_y(col("geometry")), 2).as("y_m"))),

    // --- Z-order storage layout (geom/ZOrder.scala) ------------------------
    // deliberately driven through the SQL-STRING surface: registerAll
    // installs the st_* family into the session FunctionRegistry and the
    // text below is what a pure-SQL client would submit — the builders
    // construct the same Catalyst expressions as the Column API, so this
    // entry gates that spark.sql resolves graft functions with identical
    // values (the other geo_* entries keep gating the Column path)
    "geo_zorder" -> ((s, dir) => {
      graft.functions.registerAll(s)
      t(s, dir, "customer").createOrReplaceTempView("graft_customer_sqlv")
      s.sql("""SELECT c_custkey,
                 st_zorder((c_custkey % 120) * 0.5 - 30 + 0.25,
                           (c_custkey % 80) * 0.5 - 20 + 0.25, 16) AS z
               FROM graft_customer_sqlv""")
    }),

    "geo_hilbert" -> ((s, dir) =>
      t(s, dir, "customer")
        .withColumn("lon", expr("(c_custkey % 120) * 0.5 - 30 + 0.25"))
        .withColumn("lat", expr("(c_custkey % 80) * 0.5 - 20 + 0.25"))
        .select(col("c_custkey"), st_hilbert(col("lon"), col("lat"), 16).as("h"))),

    "geo_geohash" -> ((s, dir) =>
      t(s, dir, "customer")
        .withColumn("lon", expr("(c_custkey % 120) * 0.5 - 30 + 0.25"))
        .withColumn("lat", expr("(c_custkey % 80) * 0.5 - 20 + 0.25"))
        .select(col("c_custkey"), st_geohash(col("lon"), col("lat"), 7).as("gh"))),

    // --- DBSCAN density clustering over mix64-jittered customer points -----
    // the oracle recomputes the whole thing from an all-pairs neighborhood
    // plus a recursive-CTE closure — independent of the eps-grid and the
    // alternating-star components on this side
    "geo_dbscan" -> ((s, dir) => {
      import graft.functions.TextFunctions.mix64_hash
      // c_custkey < 3000 covers the whole table at the sf0.01 gate and
      // bounds larger-sf bench density (the jitter region is fixed, so
      // more rows = quadratically more true neighbor pairs — ScaleCheck
      // grows the corpus the honest way, by disjoint regions)
      val pts = t(s, dir, "customer").where(col("c_custkey") < 3000)
        .select(col("c_custkey"),
        (pmod(mix64_hash(col("c_custkey"), 1L), lit(600L)).cast("double")
          * lit(0.1) - lit(30)).as("lon"),
        (pmod(mix64_hash(col("c_custkey"), 2L), lit(400L)).cast("double")
          * lit(0.1) - lit(20)).as("lat"))
      Clustering.dbscan(pts, "c_custkey", "lon", "lat", eps = 1.0, minPts = 4)
        .select(col("c_custkey"), col("is_core"), col("cluster"))
    }),

    // --- distributed Lloyd k-means over the embedding corpus ---------------
    "sim_kmeans" -> ((s, dir) =>
      Clustering.kmeans(t(s, dir, "embeddings"), "embedding", "vec_id",
        k = 8, iters = 3)),

    "hilbert_read" -> curveRead("hilbert"),
    "zorder_read" -> curveRead("morton"),

    // --- erde op/sjoin sjfull (erde/op/sjoin.py) --------------------------
    "sjoin_full" -> ((s, dir) =>
      SJoin.sjfull(custPoints(s, dir), nationZones(s, dir), predicate = "within")
        .select("c_custkey", "n_nationkey")),

    // --- nearest-neighbor spatial join (GeoPandas sjoin_nearest shape) -----
    // --- k-NN spatial join: 3 best suppliers per customer ------------------
    "sjoin_knn" -> ((s, dir) => {
      val sup = t(s, dir, "supplier").withColumn("geometry",
        st_point(expr("(s_suppkey % 37) * 1.3 - 24 + 0.11"),
          expr("(s_suppkey % 23) * 1.7 - 19 + 0.07")))
      SJoin.sknn(custPoints(s, dir), sup, "c_custkey", "s_suppkey",
          k = 3, maxDistanceM = 300000.0)
        .select(col("c_custkey"), col("s_suppkey"),
          round(col("knn_dist_m"), 3).as("knn_dist_m"),
          col("knn_rank").cast("long").as("knn_rank"))
    }),

    "sjoin_nearest" -> ((s, dir) => {
      val sup = t(s, dir, "supplier").withColumn("geometry",
        st_point(expr("(s_suppkey % 37) * 1.3 - 24 + 0.11"),
          expr("(s_suppkey % 23) * 1.7 - 19 + 0.07")))
      SJoin.snearest(custPoints(s, dir), sup, "c_custkey", "s_suppkey",
          maxDistanceM = 300000.0)
        .select(col("c_custkey"), col("s_suppkey"),
          round(col("nearest_dist_m"), 3).as("nearest_dist_m"))
    }),

    // --- all neighbors within a radius (ST_DWithin pair join) --------------
    "sjoin_dwithin" -> ((s, dir) => {
      val sup = t(s, dir, "supplier").withColumn("geometry",
        st_point(expr("(s_suppkey % 37) * 1.3 - 24 + 0.11"),
          expr("(s_suppkey % 23) * 1.7 - 19 + 0.07")))
      SJoin.sdwithin(custPoints(s, dir), sup, "c_custkey", "s_suppkey",
          maxDistanceM = 300000.0)
        .groupBy("c_custkey")
        .agg(count(lit(1)).as("n_within"),
          round(min(col("dist_m")), 3).as("min_dist_m"))
    }),

    // --- erde op/sjoin sagg ------------------------------------------------
    "sjoin_agg" -> ((s, dir) =>
      SJoin.sagg(nationZones(s, dir), custPoints(s, dir),
          Seq(count(lit(1)).as("n_pts"), round(sum("c_acctbal"), 2).as("bal_sum")),
          predicate = "contains", how = "inner")
        .select("n_nationkey", "n_pts", "bal_sum")),

    // --- erde op/sjoin slookup ---------------------------------------------
    "sjoin_lookup" -> ((s, dir) =>
      SJoin.slookup(custPoints(s, dir), nationZones(s, dir),
          columns = Seq("n_name"), orderBy = "n_nationkey", predicate = "within")
        .select("c_custkey", "n_name")),

    // --- erde op/sjoin sfilter ---------------------------------------------
    "sjoin_filter" -> ((s, dir) =>
      SJoin.sfilter(custPoints(s, dir), nationZones(s, dir), predicate = "within")
        .select("c_custkey", "c_acctbal")),

    // --- erde op/route (erde/op/route.py; GreatCircleRouter) --------------
    "route_greatcircle" -> ((s, dir) => {
      val lon1 = expr("(c_custkey % 120) * 0.5 - 30 + 0.25")
      val lat1 = expr("(c_custkey % 80) * 0.5 - 20 + 0.25")
      val lon2 = lon1 + lit(0.3) + expr("(c_custkey % 4) * 0.1")
      val lat2 = lat1 + lit(0.2)
      Routing.route(t(s, dir, "customer"), lon1, lat1, lon2, lat2)
        .select(col("c_custkey"),
          round(col("distance") / 1000, 3).as("dist_km"),
          round(col("duration"), 3).as("duration_s"))
    }),

    // --- erde op/route over waypoint geometry ------------------------------
    "route_waypoints" -> ((s, dir) => {
      val lon1 = expr("(c_custkey % 120) * 0.5 - 30 + 0.25")
      val lat1 = expr("(c_custkey % 80) * 0.5 - 20 + 0.25")
      val lon2 = lon1 + lit(0.3) + expr("(c_custkey % 4) * 0.1")
      val lat2 = lat1 + lit(0.2)
      val lon3 = lon1 + lit(0.1)
      val lat3 = lat1 + lit(0.5)
      val wkt = concat(lit("LINESTRING ("), lon1, lit(" "), lat1, lit(", "),
        lon2, lit(" "), lat2, lit(", "), lon3, lit(" "), lat3, lit(")"))
      val lines = t(s, dir, "customer").withColumn("geometry", st_geomfromtext(wkt))
      Routing.routeLine(lines)
        .select(col("c_custkey"),
          round(col("distance") / 1000, 3).as("wp_dist_km"),
          round(col("duration"), 3).as("wp_duration_s"))
    }),

    // --- erde op/table (erde/op/table.py:126) -----------------------------
    "table_route" -> ((s, dir) => {
      val srcs = t(s, dir, "nation")
        .withColumn("src_lon", expr("(n_nationkey % 12) * 5.0 - 27.5"))
        .withColumn("src_lat", expr("(n_nationkey % 5) * 8.0 - 17.0"))
      val dsts = t(s, dir, "region")
        .withColumn("dst_lon", expr("r_regionkey * 12.0 - 24.0"))
        .withColumn("dst_lat", expr("r_regionkey * 7.0 - 14.0"))
      Routing.tableRoute(srcs, dsts, "src_lon", "src_lat", "dst_lon", "dst_lat")
        .select(col("n_nationkey"), col("r_regionkey"),
          round(col("distance") / 1000, 3).as("dist_km"),
          round(col("duration"), 3).as("duration_s"))
    }),

    // --- sjoin on polygon×polygon (full intersects path) -------------------
    "sjoin_rects" -> ((s, dir) => {
      val lon0 = expr("(s_suppkey % 15) * 4.0 - 30")
      val lat0 = expr("(s_suppkey % 9) * 5.0 - 22")
      val rects = t(s, dir, "supplier").withColumn("geometry",
        st_envelope(st_makeline(st_point(lon0, lat0), st_point(lon0 + 3.0, lat0 + 4.0))))
      SJoin.sjfull(nationZones(s, dir), rects, predicate = "intersects")
        .select("n_nationkey", "s_suppkey")
    }),

    // --- xl sjoin: every lineitem row as a point × nation zones ------------
    "sjoin_xl" -> ((s, dir) => {
      val pts = t(s, dir, "lineitem").withColumn("geometry",
        st_point(expr("(l_partkey % 120) * 0.5 - 30 + 0.25"),
          expr("(l_orderkey % 80) * 0.5 - 20 + 0.25")))
      SJoin.sagg(nationZones(s, dir), pts,
          Seq(count(lit(1)).as("n_items"), round(sum("l_quantity"), 2).as("qty_sum")),
          predicate = "contains", how = "inner")
        .select("n_nationkey", "n_items", "qty_sum")
    }),

    // --- erde op/convert to UTM (transverse Mercator, EPSG:32631) ----------
    "geo_convert_utm" -> projectTo("EPSG:32631"),

    // --- parameterized projections: Lambert-93 (LCC 2SP) and LAEA Europe ---
    "geo_convert_lcc" -> projectTo("EPSG:2154"),
    "geo_convert_albers" -> projectTo("EPSG:5070"),
    "geo_convert_laea" -> projectTo("EPSG:3035"),

    // --- skew stress: every point in ONE grid cell; salting spreads it -----
    "sjoin_skew" -> ((s, dir) => {
      val pts = t(s, dir, "lineitem").withColumn("geometry",
        st_point(expr("(l_orderkey % 100) * 0.004 + 0.05"),
          expr("(l_partkey % 100) * 0.004 + 0.05")))
      val lon0 = expr("(s_suppkey % 20) * 0.02")
      val lat0 = expr("(s_suppkey % 25) * 0.016")
      val rects = t(s, dir, "supplier").withColumn("geometry",
        st_envelope(st_makeline(st_point(lon0, lat0), st_point(lon0 + lit(0.05), lat0 + lit(0.05)))))
      // all data sits inside one default (0.5°) cell — the skew answer is a
      // finer grid (near the true bbox-overlap candidate count) plus salt:
      // 0.02° cells spread the join across ~400 cells × 8 salts
      SJoin.pairs(pts, rects, predicate = "within", cellDeg = 0.02,
          tuning = SJoin.Tuning(saltFactor = 8))
        .groupBy("s_suppkey")
        .agg(count(lit(1)).as("n_items"), round(sum("l_quantity"), 2).as("qty_sum"))
    }),

    // --- areal boolean ops: zone ∩ window (slab-exact) ---------------------
    "geo_intersection_area" -> ((s, dir) => {
      val window = st_geomfromtext(lit("POLYGON ((-10 -10, 10 -10, 10 10, -10 10, -10 -10))"))
      nationZones(s, dir).select(col("n_nationkey"),
        round(st_area(st_intersection(col("geometry"), window)), 6).as("ix_area"))
    }),

    // --- areal interpolation: nation-zone values onto supplier rects -------
    "sjoin_areal" -> ((s, dir) => {
      val targets = supplierRects(s, dir)
      val src = nationZones(s, dir)
        .withColumn("pop", ((col("n_nationkey") + 1) * 100).cast("double"))
      GeoOps.arealInterpolate(targets, src, "s_suppkey", "pop")
        .select(col("s_suppkey"), round(col("interpolated"), 6).as("pop_est6"))
    }),

    // --- heavy sjoin: every customer point × overlapping supplier rects ----
    "sjoin_heavy" -> ((s, dir) => {
      SJoin.sagg(supplierRects(s, dir), custPoints(s, dir),
          Seq(count(lit(1)).as("n_pts"), round(sum("c_acctbal"), 2).as("bal_sum")),
          predicate = "contains", how = "inner")
        .select("s_suppkey", "n_pts", "bal_sum")
    }),

    // --- buffer dissolve (erde buffer --dissolve; distributed union) -------
    "geo_dissolve_area" -> ((s, dir) => {
      val pts = t(s, dir, "supplier").select(
        st_point(expr("(s_suppkey % 10) * 12.0 - 54"), expr("(s_suppkey % 7) * 9.0 - 27"))
          .as("geometry"))
      GeoOps.bufferM(pts, radiusMetres = 1500.0, resolution = 8, dissolve = true)
        .select(round(st_aream(col("geometry")) / 1e6, 2).as("dissolved_km2"))
    }),

    // --- st_subdivide: giant-polygon task-bound guard ----------------------
    // a 97-vertex ring split until every part holds <= 16 vertices; the
    // oracle pins area conservation against the regular-96-gon closed form
    // ((n/2)·r²·sin(2π/n)) and the vertex bound as an invariant — the
    // recursion itself has no SQL mirror, conservation + bound is the
    // checkable contract
    "geo_subdivide" -> ((s, dir) => {
      val base = t(s, dir, "nation").select(col("n_nationkey"),
        expr("(n_nationkey % 10) * 3.0 - 15 + 0.5").as("lonc"),
        expr("(n_nationkey % 7) * 8.0 - 24 + 0.5").as("latc"),
        expr("0.3 + (n_nationkey % 3) * 0.1").as("r"))
      val poly = base.withColumn("geometry", st_polygon_from_coords(expr(
        "flatten(transform(sequence(0, 96), i -> array(" +
          "lonc + r * cos(2 * pi() * (i % 96) / 96), " +
          "latc + r * sin(2 * pi() * (i % 96) / 96))))")))
      poly.select(col("n_nationkey"),
          explode(st_subdivide(col("geometry"), lit(16))).as("part"))
        .groupBy("n_nationkey")
        .agg(round(sum(st_area(col("part"))), 6).as("area6"),
          (max(st_npoints(col("part"))) <= 16).as("all_bounded"))
    }),

    // --- st_snaptogrid: coordinate quantization (dedup / tile prep) --------
    "geo_snap" -> ((s, dir) => {
      val lon = expr("cast((c_custkey % 120) * 0.37 - 22.2 as double)")
      val lat = expr("cast((c_custkey % 80) * 0.29 - 11.6 as double)")
      t(s, dir, "customer").select(col("c_custkey"),
        round(st_x(st_snaptogrid(st_point(lon, lat), lit(0.25))), 6).as("sx"),
        round(st_y(st_snaptogrid(st_point(lon, lat), lit(0.25))), 6).as("sy"))
    }),

    // --- subset DSL: rename + drop + keep-rest form ------------------------
    "subset_star" -> ((s, dir) =>
      Subset(t(s, dir, "customer"), "c_name: name, -c_acctbal, *")),

    // --- st_centroid (geometry accessor surface) ---------------------------
    "geo_centroid" -> ((s, dir) => {
      val lonc = expr("(n_nationkey % 10) * 3.0 - 15 + 0.5")
      val latc = expr("(n_nationkey % 7) * 8.0 - 24 + 0.5")
      val h = expr("0.1 + (n_nationkey % 3) * 0.05")
      val squares = t(s, dir, "nation").withColumn("geometry",
        st_envelope(st_makeline(st_point(lonc - h, latc - h), st_point(lonc + h, latc + h))))
      squares.select(col("n_nationkey"),
        round(st_x(st_centroid(col("geometry"))), 6).as("cx"),
        round(st_y(st_centroid(col("geometry"))), 6).as("cy"))
    }),

    // --- st_distance (planar) ----------------------------------------------
    "geo_distance" -> ((s, dir) => {
      val lon1 = expr("(c_custkey % 120) * 0.5 - 30 + 0.25")
      val lat1 = expr("(c_custkey % 80) * 0.5 - 20 + 0.25")
      val lon2 = lon1 + lit(0.3) + expr("(c_custkey % 4) * 0.1")
      val lat2 = lat1 + lit(0.2)
      t(s, dir, "customer").select(col("c_custkey"),
        round(st_distance(st_point(lon1, lat1), st_point(lon2, lat2)), 6).as("dist_deg"))
    }),

    // --- erde utils.lonlat2gdf (erde/utils.py:88) --------------------------
    "lonlat_points" -> ((s, dir) => {
      val withCols = t(s, dir, "customer")
        .withColumn("lon", expr("(c_custkey % 120) * 0.5 - 30 + 0.25"))
        .withColumn("lat", expr("(c_custkey % 80) * 0.5 - 20 + 0.25"))
      GeoOps.lonlatToPoints(withCols)
        .select(col("c_custkey"),
          round(st_x(col("geometry")), 6).as("px"),
          round(st_y(col("geometry")), 6).as("py"))
    }),

    // --- near-dedup: minhash candidates + exact jaccard verify --------------
    "dedup_verified" -> ((s, dir) =>
      Dedup.minhashVerified(t(s, dir, "documents"), "text", "doc_id",
          candidateThreshold = 0.4, jaccardThreshold = 0.7)
        .select("doc_id", "lang")),

    // --- incremental dedup: new batch (odd ids) vs existing corpus (even) --
    "dedup_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.nearDupAgainst(
          docs.where(pmod(col("doc_id"), lit(2)) === 1),
          docs.where(pmod(col("doc_id"), lit(2)) === 0),
          "text", "doc_id", candidateThreshold = 0.4, jaccardThreshold = 0.7)
        .select("doc_id", "lang")
    }),

    // --- sessionization (streaming module, batch face) --------------------
    "events_sessionize" -> ((s, dir) =>
      graft.streaming.EventStream.sessionizeBatch(t(s, dir, "events"), gapMinutes = 30)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_sessions"),
          sum("n_events").as("n_events_total"),
          round(sum("value_sum"), 4).as("value_total"))),

    // --- as-of join: each purchase ↔ its latest at-or-before click --------
    // --- SCD2 history compaction: event runs -> validity intervals ---------
    "events_scd" -> ((s, dir) => {
      val e = t(s, dir, "events").select("user_id", "event_type", "ts", "event_id")
      Ops.compactHistory(e, Seq("user_id"), "ts", Seq("event_type"), tieCol = "event_id")
        .select(col("user_id"), col("event_type"),
          unix_micros(col("valid_from")).as("vf_us"),
          coalesce(unix_micros(col("valid_to")), lit(-1L)).as("vt_us"))
    }),

    // --- windowFunnel: deepest view→click→purchase chain within 3 days -----
    // maximal over anchors via chained forward strict as-ofs; the oracle is
    // an INDEPENDENT min-ts chaining per anchor (LEFT JOIN + min) — two
    // implementations of the same published semantics agreeing
    "events_funnel" -> ((s, dir) =>
      Ops.windowFunnel(t(s, dir, "events"), "user_id", "event_type", "ts",
          Seq("view", "click", "purchase"), windowSeconds = 259200.0)
        .select("user_id", "funnel_level", "n_complete")),

    // --- per-key rolling 1-hour window aggregate ---------------------------
    "events_rolling" -> ((s, dir) =>
      Ops.rollingAgg(t(s, dir, "events"), "user_id", "ts", "value", 3600L)
        .select(col("event_id"), col("user_id"), col("rolling_n"),
          round(col("rolling_sum"), 4).as("rolling_sum4"))),

    // --- cohort retention matrix: daily cohorts, 21 offsets ----------------
    // (the events table spans one month — daily periods give a dense matrix)
    "events_retention" -> ((s, dir) =>
      Ops.retentionCohorts(t(s, dir, "events"), "user_id", "ts",
          periodSeconds = 86400L, maxOffset = 21)
        .select(col("cohort"), col("offset"), col("n_active"), col("n_cohort"),
          round(col("retention"), 6).as("retention6"))),

    "events_asof" -> purchaseAsofClick(None),

    // --- as-of join, hot-key split guard active on real data ---------------
    // timeBucket = 6h splits every user's timeline across multiple window
    // partitions with cross-bucket carries; output must equal the unsplit
    // path — the SAME native DuckDB ASOF oracle gates it per round
    "events_asof_split" -> purchaseAsofClick(Some(21600.0)),

    // --- osm tag filter (erde/op/osm.py re-expressed) ----------------------
    "osm_tagfilter" -> ((s, dir) => {
      val elements = t(s, dir, "part").select(
        element_at(array(lit("n"), lit("w"), lit("r")), (col("p_partkey") % 3 + 1).cast("int")).as("type"),
        col("p_partkey").as("osm_id"),
        map(lit("brand"), col("p_brand"), lit("container"), col("p_type")).as("tags"))
      OsmFilter.tagFilter(elements, Seq("wr/brand=Brand#13,Brand#23", "n/container"))
        .select("osm_id", "type")
    }),

    // --- osm crop: extract-to-polygon with way/relation membership cascade -
    "osm_crop" -> ((s, dir) => {
      // synthetic n/w/r table: nodes carry lon/lat; each way references the
      // two flanking node ids (id∓1 ≡ 0 mod 3); each relation references one
      // way (id-1) and one node (id+1)
      OsmFilter.crop(osmElements(s, dir), "POLYGON ((1 0, 4 0, 4 2, 1 2, 1 0))")
        .select(col("id").as("osm_id"), col("type"))
    }),

    // --- osm merge: later extract overrides shared (type, id) -------------
    "osm_merge" -> ((s, dir) => {
      val base = osmElements(s, dir)
      val patch = base.where(col("id") % 5 === 0)
        .withColumn("tags", map(lit("brand"), lit("PATCHED")))
      OsmFilter.merge(Seq(base, patch))
        .select(col("id").as("osm_id"), col("type"),
          col("tags").getItem("brand").as("brand"),
          coalesce(round(col("lon"), 5), lit(-999.0)).as("lon5"))
    }),

    // --- osm assemble: the ogr2ogr layer stage (points/lines/multipolygons)
    "osm_assemble" -> ((s, dir) => {
      // nodes ≡0 mod 3 with coords; ways ≡1: every 6th (≡4 mod 6) a CLOSED
      // building triangle [id-1, id+2, id+5, id-1], the rest open 2-node
      // lines; ways whose nodes fall off the table edge drop (completeness)
      val elements = t(s, dir, "part").select(
        element_at(array(lit("n"), lit("w"), lit("r")), (col("p_partkey") % 3 + 1).cast("int")).as("type"),
        col("p_partkey").as("id"),
        when(col("p_partkey") % 6 === 4, map(lit("building"), lit("yes")))
          .otherwise(map(lit("brand"), col("p_brand"))).as("tags"),
        when(col("p_partkey") % 3 === 0, expr("(p_partkey % 60) * 0.1 + 0.05").cast("double")).as("lon"),
        when(col("p_partkey") % 3 === 0, expr("(p_partkey % 35) * 0.1 - 1.05").cast("double")).as("lat"),
        when(col("p_partkey") % 6 === 4,
            array(col("p_partkey") - 1, col("p_partkey") + 2, col("p_partkey") + 5, col("p_partkey") - 1))
          .when(col("p_partkey") % 3 === 1, array(col("p_partkey") - 1, col("p_partkey") + 2))
          .as("refs"))
      OsmFilter.assemble(elements)
        .select(col("layer"), col("id").as("osm_id"),
          round(when(col("layer") === "multipolygons", st_area(col("geometry")))
            .when(col("layer") === "lines", st_length(col("geometry")))
            .otherwise(lit(0.0)), 6).as("measure6"))
    }),

    // --- osm assemble: relation layers (multipolygons w/ holes via member
    //     roles, route multilinestrings, other_relations tabular) ----------
    "osm_assemble_rel" -> ((s, dir) => {
      // three relation families from part (k = p_partkey):
      //  k≡2 (mod 6): type=multipolygon — outer square (side s) split into
      //    TWO member ways (stitching exercised) + one closed inner-ring way;
      //  k≡5 (mod 6): type=route — two member ways, member-order multiline;
      //  k≡0 (mod 6): type=site — no geometry, other_relations layer.
      // Node/way/relation ids live in disjoint 1e6/2e6/3e6 ranges.
      val base = t(s, dir, "part").select(col("p_partkey").as("k"))
        .withColumn("s", expr("1.0 + (k % 5) * 0.2"))
        .withColumn("x0", expr("(k % 50) * 3.0"))
        .withColumn("y0", expr("(k % 35) * 3.0"))
      def fam(m: Int) = base.where(pmod(col("k"), lit(6)) === m)
      val noGeo = Seq(lit(null).cast("double").as("lon"), lit(null).cast("double").as("lat"))
      val noMembers = Seq(lit(null).cast("array<string>").as("member_types"),
        lit(null).cast("array<string>").as("member_roles"))
      val nodesA = fam(2).select(col("k"), col("s"), col("x0"), col("y0"),
          explode(sequence(lit(0), lit(7))).as("j"))
        .select(Seq(lit("n").as("type"), expr("1000000 + k*10 + j").as("id"), map().as("tags"),
          expr("""CASE j WHEN 0 THEN x0 WHEN 1 THEN x0 + s WHEN 2 THEN x0 + s WHEN 3 THEN x0
                  WHEN 4 THEN x0 + 0.25 WHEN 5 THEN x0 + 0.25 + s/4
                  WHEN 6 THEN x0 + 0.25 + s/4 ELSE x0 + 0.25 END""").as("lon"),
          expr("""CASE j WHEN 0 THEN y0 WHEN 1 THEN y0 WHEN 2 THEN y0 + s WHEN 3 THEN y0 + s
                  WHEN 4 THEN y0 + 0.25 WHEN 5 THEN y0 + 0.25
                  WHEN 6 THEN y0 + 0.25 + s/4 ELSE y0 + 0.25 + s/4 END""").as("lat"),
          lit(null).cast("array<bigint>").as("refs")) ++ noMembers: _*)
      val waysA = fam(2).select(col("k"), explode(sequence(lit(0), lit(2))).as("j"))
        .select(Seq(lit("w").as("type"), expr("2000000 + k*10 + j").as("id"), map().as("tags")) ++
          noGeo ++ Seq(
          expr("""CASE j
            WHEN 0 THEN array(1000000 + k*10, 1000000 + k*10 + 1, 1000000 + k*10 + 2)
            WHEN 1 THEN array(1000000 + k*10 + 2, 1000000 + k*10 + 3, 1000000 + k*10)
            ELSE array(1000000 + k*10 + 4, 1000000 + k*10 + 5, 1000000 + k*10 + 6,
                       1000000 + k*10 + 7, 1000000 + k*10 + 4) END""").as("refs")) ++
          noMembers: _*)
      val relsA = fam(2).select(Seq(lit("r").as("type"), expr("3000000 + k").as("id"),
          map(lit("type"), lit("multipolygon"), lit("landuse"), lit("meadow")).as("tags")) ++
          noGeo ++ Seq(
          expr("array(2000000 + k*10, 2000000 + k*10 + 1, 2000000 + k*10 + 2)").as("refs"),
          array(lit("w"), lit("w"), lit("w")).as("member_types"),
          array(lit("outer"), lit("outer"), lit("inner")).as("member_roles")): _*)
      val nodesB = fam(5).select(col("k"), col("x0"), col("y0"),
          expr("(k % 4) * 0.3").as("dx"), explode(sequence(lit(0), lit(2))).as("j"))
        .select(Seq(lit("n").as("type"), expr("1000000 + k*10 + j").as("id"), map().as("tags"),
          expr("CASE j WHEN 0 THEN x0 WHEN 1 THEN x0 + dx ELSE x0 + dx + 1.0 END").as("lon"),
          expr("CASE j WHEN 0 THEN y0 WHEN 1 THEN y0 + 1.0 ELSE y0 + 1.5 END").as("lat"),
          lit(null).cast("array<bigint>").as("refs")) ++ noMembers: _*)
      val waysB = fam(5).select(col("k"), explode(sequence(lit(0), lit(1))).as("j"))
        .select(Seq(lit("w").as("type"), expr("2000000 + k*10 + j").as("id"), map().as("tags")) ++
          noGeo ++ Seq(
          expr("""CASE j WHEN 0 THEN array(1000000 + k*10, 1000000 + k*10 + 1)
            ELSE array(1000000 + k*10 + 1, 1000000 + k*10 + 2) END""").as("refs")) ++
          noMembers: _*)
      val relsB = fam(5).select(Seq(lit("r").as("type"), expr("3000000 + k").as("id"),
          map(lit("type"), lit("route"), lit("route"), lit("bus")).as("tags")) ++ noGeo ++ Seq(
          expr("array(2000000 + k*10, 2000000 + k*10 + 1)").as("refs"),
          array(lit("w"), lit("w")).as("member_types"),
          array(lit(""), lit("")).as("member_roles")): _*)
      val relsC = fam(0).select(Seq(lit("r").as("type"), expr("3000000 + k").as("id"),
          map(lit("type"), lit("site")).as("tags")) ++ noGeo ++ Seq(
          expr("array(CAST(1 AS BIGINT))").as("refs"),
          array(lit("n")).as("member_types"), array(lit("")).as("member_roles")): _*)
      // assemble views the elements frame several times (points/lines/
      // relation members); materialize the 7-branch synthetic union once so
      // the query times the operator, not the generator × rescans (a real
      // pbf/parquet source would be a single pushdown-pruned scan)
      val elements = nodesA.unionByName(waysA).unionByName(relsA)
        .unionByName(nodesB).unionByName(waysB).unionByName(relsB).unionByName(relsC)
        .localCheckpoint(eager = false)
      OsmFilter.assemble(elements)
        .where(col("id") >= 3000000)
        .select(col("layer"), col("id").as("osm_id"),
          round(when(col("layer") === "multipolygons", st_area(col("geometry")))
            .when(col("layer") === "multilinestrings", st_length(col("geometry")))
            .otherwise(lit(0.0)), 6).as("measure6"))
    }),

    // --- multimodal header metadata (hash-stub fallback, exact-mirrored) ---
    "multimodal_meta" -> ((s, dir) => {
      val media = t(s, dir, "documents")
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("content"))
      Multimodal.withMeta(media)
        .select(col("doc_id"), col("media_meta.format").as("format"),
          col("media_meta.width").cast("long").as("width"),
          col("media_meta.height").cast("long").as("height"),
          col("media_meta.n_frames").cast("long").as("n_frames"))
    }),

    // --- multimodal REAL pixel compute: synth PNG → ImageIO decode → stats -
    // --- image perceptual-hash near-dup removal (real decode + aHash) ------
    "multimodal_phash" -> ((s, dir) => {
      // spreadScan: PNG encode+decode per row on a one-task single-file
      // scan serializes on one core (guide §2.5) — measured 2.5 s → 1.7 s
      val docs = spreadScan(t(s, dir, "documents").select(col("doc_id")))
      val media = Multimodal.withSyntheticImage(docs, "doc_id")
      val hashed = Multimodal.withImageAHash(media)
      Dedup.hammingDedup(hashed, "ahash", "doc_id", maxHamming = 3)
        .select(col("doc_id"), col("ahash"))
    }),

    "multimodal_pixels" -> ((s, dir) => {
      val docs = spreadScan(t(s, dir, "documents").select(col("doc_id")))
      val media = Multimodal.withSyntheticImage(docs, "doc_id")
      Multimodal.withPixelStats(media)
        .select(col("doc_id"),
          col("pixel_stats.width").cast("long").as("width"),
          col("pixel_stats.height").cast("long").as("height"),
          col("pixel_stats.n_px").as("n_px"),
          round(col("pixel_stats.mean_intensity"), 6).as("mean_intensity"))
    }),

    // --- multimodal REAL PCM compute: synth WAV → data-chunk stats ---------
    "multimodal_audio" -> ((s, dir) => {
      val docs = spreadScan(t(s, dir, "documents").select(col("doc_id")))
      val media = Multimodal.withSyntheticWav(docs, "doc_id")
      Multimodal.withPcmStats(media)
        .select(col("doc_id"),
          col("pcm_stats.n_samples").as("n_samples"),
          col("pcm_stats.duration_ms").as("duration_ms"),
          round(col("pcm_stats.rms"), 6).as("rms"),
          col("pcm_stats.zero_crossings").as("zero_crossings"),
          round(col("pcm_stats.mean_sample"), 6).as("mean_sample"))
    }),

    // --- similarity: brute-force cosine top-k -----------------------------
    "sim_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb, emb.where(col("vec_id") < 8), "embedding", "vec_id", k = 5)
        .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 6).as("cosine"))
    }),

    // --- similarity: matryoshka prefix candidates + full-dim rescore -------
    "sim_matryoshka" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.matryoshkaTopK(emb, emb.where(col("vec_id") < 8),
          "embedding", "vec_id", k = 5, dims = 16, rescore = 4)
        .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 6).as("cosine"))
    }),

    // --- similarity: JL-projected narrow-vector retrieval (64 -> 16 dims) --
    "sim_project" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.projectedTopK(emb, emb.where(col("vec_id") < 8), "embedding", "vec_id",
          k = 5, outDim = 16)
        .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 6).as("cosine"))
    }),

    // --- similarity: int8-quantized first-stage retriever ------------------
    "sim_int8" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.int8TopK(emb, emb.where(col("vec_id") < 8), "embedding", "vec_id", k = 5)
        .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 6).as("score"))
    }),

    // --- similarity: LSH-bucketed ANN (bucket collisions exact-mirrored) ---
    "sim_lsh" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.lshTopK(emb, emb.where(col("vec_id") < 8), "embedding", "vec_id", k = 5)
        .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 6).as("cosine"))
    }),

    // --- similarity: IVF ANN (KMeans coarse quantizer) ---------------------
    // nprobe = nlist probes every cell, so the result is exactly brute-force
    // top-k while still driving the whole IVF path (local Lloyd fit, codegen
    // cell-assignment expression, probe ranking, cell join) — which makes the
    // exact-cosine SQL a full oracle. The nprobe < nlist approximation is
    // covered by the recall spec in SimilaritySpec.
    "sim_ivf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfTopK(emb, emb.where(col("vec_id") < 8), "embedding", "vec_id",
          k = 5, nlist = 8, nprobe = 8)
        .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 6).as("cosine"))
    }),

    // --- similarity: persisted IVF index (build-once / search-many). The
    // index roundtrips through parquet; nprobe = nlist makes the persisted
    // search exactly brute force, which the oracle verifies
    "sim_ivf_index" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val (assigned, centroids) =
        Similarity.ivfBuildIndex(emb, "embedding", "vec_id", nlist = 8)
      val out = freshRoot("ivf_index", dir)
      writeIndex(out, assigned, "centroids" -> centroids)
      Similarity.ivfSearchIndex(
          s.read.parquet(s"$out/assigned"), s.read.parquet(s"$out/centroids"),
          emb.where(col("vec_id") < 8), "embedding", "vec_id", k = 5, nprobe = 8)
        .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 6).as("cosine"))
    }),

    // --- similarity: INCREMENTAL index refresh composed with readSince -----
    // build the persisted IVF index over a manifest table's v1, append v2,
    // feed readSince's delta through ivfRefreshIndex (frozen quantizer,
    // cell-partition appends — zero existing rows touched), then search at
    // nprobe = nlist: exactly brute force over the UNION corpus
    "sim_ivf_refresh" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val scratch = freshRoot("ivf_refresh", dir)
      val (root, out) = (s"$scratch/table", s"$scratch/index")
      ManifestTable.append(emb.where(col("vec_id") % 3 =!= 2), root)
      val (assigned, centroids) = Similarity.ivfBuildIndex(
        ManifestTable.read(s, root), "embedding", "vec_id", nlist = 8)
      writeIndex(out, assigned, "centroids" -> centroids)
      ManifestTable.append(emb.where(col("vec_id") % 3 === 2), root)
      Similarity.ivfRefreshIndex(s, out,
        ManifestTable.readSince(s, root, sinceExclusive = 1L), "embedding", "vec_id")
      Similarity.ivfSearchIndex(
          s.read.parquet(s"$out/assigned"), s.read.parquet(s"$out/centroids"),
          emb.where(col("vec_id") < 8), "embedding", "vec_id", k = 5, nprobe = 8)
        .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 6).as("cosine"))
    }),

    // --- similarity: composed retriever — IVF cells × int8 candidates ×
    // float rescore. nprobe = nlist probes every cell, so the algorithm is
    // deterministically int8-top-20-then-exact-rescore-top-5, which the
    // oracle mirrors value-exactly (same quantization arithmetic as
    // sim_int8, same exact cosine as sim_topk). nprobe < nlist recall is
    // covered by the spec in SimilaritySpec.
    "sim_int8_ivf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.int8IvfTopK(emb, emb.where(col("vec_id") < 8), "embedding", "vec_id",
          k = 5, nlist = 8, nprobe = 8, rescore = 4)
        .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 6).as("cosine"))
    }),

    // --- similarity: PERSISTED composed retriever — the deployed path:
    // ivfBuildIndex stores (q8, q8_scale) next to the floats, the parquet
    // roundtrips, and int8IvfSearchIndex serves int8 candidates + float
    // rescore without refit. nprobe = nlist makes it deterministically the
    // int8-prefilter algorithm, so the sim_int8_ivf mirror gates it exactly
    "sim_int8_ivf_index" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val (assigned, centroids) =
        Similarity.ivfBuildIndex(emb, "embedding", "vec_id", nlist = 8)
      val out = freshRoot("int8_ivf_index", dir)
      writeIndex(out, assigned, "centroids" -> centroids)
      Similarity.int8IvfSearchIndex(
          s.read.parquet(s"$out/assigned"), s.read.parquet(s"$out/centroids"),
          emb.where(col("vec_id") < 8), "embedding", "vec_id",
          k = 5, nprobe = 8, rescore = 4)
        .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 6).as("cosine"))
    }),

    // --- similarity: product quantization (ADC) -----------------------------
    // the explicit-quantizer seam carries the deterministic SAMPLE-INIT
    // codebook (ksub lowest-id vectors, normalized, sliced) so the whole
    // encode → LUT → ADC path mirrors value-exactly in SQL, fold order and
    // tie rule included; TRAINED codebooks (pqTrainCodebooks) are the
    // recall-spec path, like every nprobe < nlist configuration
    "sim_pq" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cb = Similarity.pqSampleCodebooks(emb, "embedding", "vec_id", m = 8, ksub = 16)
      Similarity.pqTopK(emb, emb.where(col("vec_id") < 8), "embedding", "vec_id",
          k = 5, m = 8, ksub = 16, codebooks = Some(cb))
        .select(col("query_id"), col("neighbor_id"), round(col("score"), 6).as("score"))
    }),

    // --- similarity: IVF × PQ × float rescore (the FAISS-IVFPQ shape,
    // non-residual). nprobe = nlist probes every cell, reducing the
    // algorithm deterministically to PQ-top-20-then-exact-rescore — the
    // simPq(rescore=4) mirror gates it exactly; nprobe < nlist recall is
    // SimilaritySpec's concern
    "sim_ivf_pq" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cb = Similarity.pqSampleCodebooks(emb, "embedding", "vec_id", m = 8, ksub = 16)
      Similarity.ivfPqTopK(emb, emb.where(col("vec_id") < 8), "embedding", "vec_id",
          k = 5, nlist = 8, nprobe = 8, m = 8, ksub = 16, rescore = 4, codebooks = Some(cb))
        .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 6).as("cosine"))
    }),

    // --- similarity: RESIDUAL IVF-PQ, nlist = 1 explicit-quantizer case ----
    // the FAISS by_residual shape with its one SQL-expressible
    // configuration: c₀ = the lowest-id vector normalized by division
    // (through fitAssign's float32 round-trip), codes quantize (x̂ − c₀)
    // against the sample-init RESIDUAL codebook, and the first stage scores
    // dot(q̂, c₀) + ADC — the exact decomposition, mirrored fold-for-fold by
    // simPqResidual. Trained coarse quantizers (nlist > 1) stay spec-gated.
    "sim_ivf_pq_residual" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val r0 = emb.select(col("vec_id").cast("long").as("id"),
          col("embedding").cast("array<double>").as("v"))
        .orderBy("id").limit(1).collect()(0) // bounded: the 1-row quantizer
      val c0 = Similarity.l2normalizeByDivision(r0.getSeq[Double](1).toArray)
      val c0f = c0.map(x => x.toFloat.toDouble) // fitAssign stores float32
      val cb = Similarity.pqSampleCodebooks(emb, "embedding", "vec_id",
        m = 8, ksub = 16, center = Some(c0f))
      Similarity.ivfPqTopK(emb, emb.where(col("vec_id") < 8), "embedding", "vec_id",
          k = 5, nlist = 1, nprobe = 1, m = 8, ksub = 16, rescore = 4,
          codebooks = Some(cb), quantizer = Some(Array(c0)), residual = true)
        .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 6).as("cosine"))
    }),

    // --- similarity: PERSISTED IVF-PQ index — assigned(id, vec, pq_code,
    // cell) + centroids + the one-row codebook table roundtrip through
    // parquet; the candidate scan reads only (id, cell, pq_code), 32×
    // narrower than the float column it never touches. Same nprobe = nlist
    // reduction, same mirror as sim_ivf_pq — the two MUST be value-identical
    "sim_ivf_pq_index" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cb = Similarity.pqSampleCodebooks(emb, "embedding", "vec_id", m = 8, ksub = 16)
      val (assigned, centroids, cbDf) = Similarity.ivfPqBuildIndex(
        emb, "embedding", "vec_id", nlist = 8, m = 8, ksub = 16, codebooks = Some(cb))
      val out = freshRoot("ivf_pq_index", dir)
      writeIndex(out, assigned, "centroids" -> centroids, "codebook" -> cbDf)
      Similarity.ivfPqSearchIndex(
          s.read.parquet(s"$out/assigned"), s.read.parquet(s"$out/centroids"),
          s.read.parquet(s"$out/codebook"),
          emb.where(col("vec_id") < 8), "embedding", "vec_id",
          k = 5, nprobe = 8, rescore = 4)
        .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 6).as("cosine"))
    }),

    // --- similarity: hard-negative mining (contrastive training pairs) ------
    // per query: top-5 nearest corpus vectors with a DIFFERENT label — the
    // exact brute-force mirror with the label-mismatch predicate
    "sim_hardneg" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.hardNegatives(emb, emb.where(col("vec_id") < 8),
          "embedding", "vec_id", "label", k = 5)
        .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 6).as("cosine"))
    }),

    // --- similarity: sign-bit binary quantization + Hamming candidates ------
    // 1-bit sketches (one long per 64-dim vector, 32× smaller than float32),
    // xor+popcount candidate generation, exact float rescore — training-free
    // and fully deterministic, so the entire path mirrors in SQL
    "sim_bitq" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.hammingTopK(emb, emb.where(col("vec_id") < 8), "embedding", "vec_id",
          k = 5, rescore = 4)
        .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 6).as("cosine"))
    }),

    // --- similarity: composed retriever — LSH buckets × int8 × rescore -----
    // fully deterministic end-to-end (bucket collisions, int8 prefilter and
    // float rescore all mirrored exactly), unlike IVF no fit action needed
    "sim_int8_lsh" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.int8LshTopK(emb, emb.where(col("vec_id") < 8), "embedding", "vec_id",
          k = 5, tables = 8, planes = 12, rescore = 4)
        .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 6).as("cosine"))
    }),

    // --- text quality scoring ---------------------------------------------
    "text_quality" -> ((s, dir) => {
      // fraction-valued columns can land exactly on round() tie boundaries
      // (e.g. chars/32 tokens => 5-decimal halves) where engines' tie rules
      // differ; floor(x*1e4 + 0.5) is the same fp computation on both sides.
      def r4(c: Column) = floor(c * lit(10000.0) + lit(0.5)) / lit(10000.0)
      TextAnalysis.qualityScore(t(s, dir, "documents"))
        .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
          r4(col("avg_token_len")).as("avg_token_len"),
          r4(col("stopword_ratio")).as("stopword_ratio"),
          r4(col("quality_score")).as("quality_score"))
    }),

    // --- token counting ----------------------------------------------------
    "text_tokens" -> ((s, dir) =>
      TextAnalysis.tokenCounts(t(s, dir, "documents"))
        .select(col("doc_id"),
          col("ws_tokens").cast("long").as("ws_tokens"),
          col("bpe_tokens").cast("long").as("bpe_tokens"))),

    // --- Naive Bayes learned gate (hashed-token sufficient statistics) -----
    "text_nbclassify" -> ((s, dir) =>
      TextAnalysis.nbClassify(t(s, dir, "documents"), col("lang") === "en")
        .select(col("doc_id"),
          round(col("nb_score"), 4).as("nb_score4"), col("nb_pred"))),

    // --- tf-idf keyword extraction (corpus IDF + per-doc top-k) ------------
    "text_tfidf" -> ((s, dir) =>
      TextAnalysis.tfidf(t(s, dir, "documents"), topK = 5)),

    // --- BM25 full-text top-k search (inverted-index term join) ------------
    "text_bm25" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      TextAnalysis.searchBM25(docs, bm25Probes(docs), topK = 10)
    }),

    // --- BM25 persisted index: build-once / search-many roundtrip ----------
    // identical scoring over the parquet postings layout (df counted at
    // search time) — the oracle is the same fit+score mirror as text_bm25;
    // the bucket-directory read is plan-spec'd in TextAnalysisSpec
    "text_bm25_index" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val out = freshRoot("bm25_index", dir)
      TextAnalysis.buildBM25Index(docs, out)
      TextAnalysis.searchBM25Index(s, out, bm25Probes(docs), topK = 10)
    }),

    // --- BM25 index incremental refresh composed with readSince ------------
    // build over a manifest table's v1 (two thirds of the corpus), append
    // v2, feed readSince's delta through refreshBM25Index (the delta's
    // postings are appended to their term-hash buckets; no existing file is
    // read or rewritten) — the search must equal the full-corpus build's
    // oracle verbatim
    "text_bm25_refresh" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val scratch = freshRoot("bm25_refresh", dir)
      val (root, out) = (s"$scratch/table", s"$scratch/index")
      ManifestTable.append(docs.where(col("doc_id") % 3 =!= 2), root)
      TextAnalysis.buildBM25Index(ManifestTable.read(s, root), out)
      ManifestTable.append(docs.where(col("doc_id") % 3 === 2), root)
      TextAnalysis.refreshBM25Index(s, out,
        ManifestTable.readSince(s, root, sinceExclusive = 1L))
      TextAnalysis.searchBM25Index(s, out, bm25Probes(docs), topK = 10)
    }),

    // --- PII redaction (pre-training scrub; patterns mirrored in SQL) ------
    "text_pii" -> ((s, dir) => {
      val withPii = t(s, dir, "documents").withColumn("text",
        concat(col("text"), lit(" reach user"), col("doc_id"),
          lit("@mail.example.com or 10.0."), col("doc_id") % 256,
          lit(".9 ssn 123-45-6789 call +1-555-"), col("doc_id") % 9000 + 1000))
      TextAnalysis.redactPii(withPii)
        .select(col("doc_id"), col("text_clean"))
    }),

    // --- deterministic train/val/test split (hash-stable membership) -------
    "data_split" -> ((s, dir) =>
      Ops.splitByHash(t(s, dir, "documents"), "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select("doc_id", "split")),

    // --- leakage-safe split: membership decided per near-dup CLUSTER -------
    // a near-dup pair straddling train/test is eval contamination; hashing
    // the cluster id instead of the doc id makes that impossible by
    // construction. Oracle recomputes clusters (recursive CTE) AND the
    // split hash of each cluster — both must agree row-for-row.
    "data_split_safe" -> ((s, dir) =>
      Ops.splitByCluster(t(s, dir, "documents"), "text", "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), threshold = 0.7)
        .select("doc_id", "cluster", "split")),

    // --- per-group quantile gate: keep each lang's top 70% by doc length ---
    // per-stratum threshold curation; thresholds from the group histogram
    // sketch, corpus filtered by one codegen'd comparison — no per-group
    // sort. Oracle mirrors the bin arithmetic literally, then the filter.
    "data_quantile_gate" -> ((s, dir) =>
      Ops.quantileGate(
          t(s, dir, "documents").select(col("doc_id"), col("lang"),
            length(col("text")).cast("double").as("doclen")),
          "doclen", Seq("lang"), q = 0.3, bins = 64)
        .select("doc_id", "lang", "doclen")),

    // --- small-files compaction: content-identical size-targeted rewrite ---
    "data_compact" -> ((s, dir) => {
      graft.sources.Compact.compactFiles(s, s"$dir/lineitem.parquet", freshRoot("compact", dir),
          targetFileBytes = 1L << 20, sortCols = Seq("l_orderkey", "l_linenumber"))
        .select("l_orderkey", "l_linenumber", "l_quantity")
    }),

    // --- transactional manifest table: ACID append + snapshot read ---------
    // two appends publish atomic versioned manifests; the snapshot read is
    // driven entirely by the manifest log (files stay invisible until their
    // manifest lands), so the oracle is the plain union of both subsets
    "data_manifest_roundtrip" -> ((s, dir) => {
      val root = freshRoot("manifest_rt", dir)
      val orders = t(s, dir, "orders")
      ManifestTable.append(orders.where(col("o_orderkey") % 4 === 0), root)
      ManifestTable.append(orders.where(col("o_orderkey") % 4 === 1), root)
      ManifestTable.read(s, root)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"), sum("o_orderkey").cast("long").as("sum_key"))
    }),

    // --- manifest time travel: any version stays readable ------------------
    // v3 is an overwrite; reading asOf 1/2/3 replays the log to each snapshot
    "data_manifest_timetravel" -> ((s, dir) => {
      val root = freshRoot("manifest_tt", dir)
      val orders = t(s, dir, "orders")
      ManifestTable.append(orders.where(col("o_orderkey") % 4 === 0), root)
      ManifestTable.append(orders.where(col("o_orderkey") % 4 === 1), root)
      ManifestTable.overwrite(orders.where(col("o_orderkey") % 4 === 2), root)
      (1L to 3L).map { v =>
        ManifestTable.read(s, root, asOf = Some(v))
          .agg(count(lit(1)).as("cnt"), sum("o_orderkey").cast("long").as("sum_key"))
          .select(lit(v).as("version"), col("cnt"), col("sum_key"))
      }.reduce(_ unionByName _)
    }),

    // --- manifest incremental read: only the rows versions (1, 3] added ----
    "data_manifest_incremental" -> ((s, dir) => {
      val root = freshRoot("manifest_inc", dir)
      val orders = t(s, dir, "orders")
      ManifestTable.append(orders.where(col("o_orderkey") % 4 === 0), root)
      ManifestTable.append(orders.where(col("o_orderkey") % 4 === 1), root)
      ManifestTable.append(orders.where(col("o_orderkey") % 4 === 2), root)
      ManifestTable.readSince(s, root, sinceExclusive = 1L)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"), sum("o_orderkey").cast("long").as("sum_key"))
    }),

    // --- manifest stats-pruned scan ----------------------------------------
    // three key-ranged commits; the Between scan consults per-file min/max
    // from the manifests and skips the non-overlapping commits before Spark
    // plans the read (file-level, above parquet's row-group pruning). The
    // same predicate is re-applied to rows, so results match the plain SQL.
    "data_manifest_prune" -> ((s, dir) => {
      val root = freshRoot("manifest_pr", dir)
      val orders = t(s, dir, "orders")
      val mx = orders.agg(max("o_orderkey")).head().getLong(0) // bounded: 1 row
      val third = mx / 3
      ManifestTable.append(orders.where(col("o_orderkey") <= third), root)
      ManifestTable.append(
        orders.where(col("o_orderkey") > third && col("o_orderkey") <= 2 * third), root)
      ManifestTable.append(orders.where(col("o_orderkey") > 2 * third), root)
      ManifestTable.scan(spark = s, root = root,
          pred = ManifestTable.Between("o_orderkey", third + 1, 2 * third))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"), sum("o_orderkey").cast("long").as("sum_key"))
    }),

    // --- manifest compaction: sorted rewrite preserves contents, sharpens ---
    // five interleaving appends (every file spans the key range), then a
    // sort-clustered compact publishes a `replace`; the scan afterwards both
    // proves logical equality and exercises pruning over the new layout
    "data_manifest_compact" -> ((s, dir) => {
      val root = freshRoot("manifest_cp", dir)
      val orders = t(s, dir, "orders")
      (0 until 5).foreach(i =>
        ManifestTable.append(orders.where(col("o_orderkey") % 5 === i), root))
      val mx = orders.agg(max("o_orderkey")).head().getLong(0) // bounded: 1 row
      ManifestTable.compact(s, root, targetBytes = 1L << 20,
        sortBy = Seq("o_orderkey"))
      ManifestTable.scan(spark = s, root = root,
          pred = ManifestTable.Between("o_orderkey", mx / 4, mx / 2))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"), sum("o_orderkey").cast("long").as("sum_key"))
    }),

    // --- manifest copy-on-write delete --------------------------------------
    // three key-ranged commits; the Between delete rewrites ONLY the middle
    // commit's files (stats prove the others can't match) and the table reads
    // back as SQL DELETE WHERE
    "data_manifest_delete" -> ((s, dir) => {
      val root = freshRoot("manifest_del", dir)
      val orders = t(s, dir, "orders")
      val mx = orders.agg(max("o_orderkey")).head().getLong(0) // bounded: 1 row
      val third = mx / 3
      ManifestTable.append(orders.where(col("o_orderkey") <= third), root)
      ManifestTable.append(
        orders.where(col("o_orderkey") > third && col("o_orderkey") <= 2 * third), root)
      ManifestTable.append(orders.where(col("o_orderkey") > 2 * third), root)
      ManifestTable.deleteWhere(s, root,
        ManifestTable.Between("o_orderkey", third + 1, 2 * third))
      ManifestTable.read(s, root)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"), sum("o_orderkey").cast("long").as("sum_key"))
    }),

    // --- manifest keyed upsert (MERGE) --------------------------------------
    // target = residues 0,1; source = residues 1,2 with doubled price: the
    // merge replaces every residue-1 row and inserts residue 2, so the table
    // reads back as (residue 0 original) ∪ (residues 1,2 doubled). Price is
    // compared as per-row-rounded integer cents — exact on both engines.
    "data_manifest_merge" -> ((s, dir) => {
      val root = freshRoot("manifest_mg", dir)
      val orders = t(s, dir, "orders")
      ManifestTable.append(orders.where(col("o_orderkey") % 4 === 0), root)
      ManifestTable.append(orders.where(col("o_orderkey") % 4 === 1), root)
      val source = orders.where(col("o_orderkey") % 4 === 1 || col("o_orderkey") % 4 === 2)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
      ManifestTable.merge(s, root, source, Seq("o_orderkey"))
      ManifestTable.read(s, root)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"),
          sum("o_orderkey").cast("long").as("sum_key"),
          sum(round(col("o_totalprice") * 100, 0).cast("long")).cast("long").as("cents"))
    }),

    // --- manifest CHANGE DATA FEED across rewrite commits ------------------
    // v2 = two appends (residues 0,1); v3 = merge doubling residue 1 and
    // inserting residue 2; v4 = deleteWhere keys <= 500. changes(2, 4) must
    // classify exactly: inserted-and-surviving keys 'added', deleted keys
    // 'removed', doubled-price survivors 'changed' (price 0 hashes equal —
    // unchanged, excluded), untouched residue-0 survivors excluded
    "data_manifest_cdf" -> ((s, dir) => {
      val root = freshRoot("manifest_cdf", dir)
      val orders = t(s, dir, "orders")
      ManifestTable.append(orders.where(col("o_orderkey") % 4 === 0), root)
      ManifestTable.append(orders.where(col("o_orderkey") % 4 === 1), root)
      val source = orders.where(col("o_orderkey") % 4 === 1 || col("o_orderkey") % 4 === 2)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
      ManifestTable.merge(s, root, source, Seq("o_orderkey"))
      ManifestTable.deleteWhere(s, root, ManifestTable.Le("o_orderkey", 500L))
      ManifestTable.changes(s, root, fromVersion = 2L, toVersion = 4L, keyCol = "o_orderkey")
        .groupBy("change")
        .agg(count(lit(1)).as("n"), sum(col("o_orderkey").cast("long")).as("sum_key"))
    }),

    // --- manifest DESCRIBE HISTORY (metadata-only commit stats) ------------
    "data_manifest_describe" -> ((s, dir) => {
      val root = freshRoot("manifest_ds", dir)
      val orders = t(s, dir, "orders")
      ManifestTable.append(orders.where(col("o_orderkey") % 4 === 0), root)
      ManifestTable.append(orders.where(col("o_orderkey") % 4 === 1), root)
      ManifestTable.describe(s, root)
        .select(col("version"), col("action"), col("rows").as("n_rows"))
    }),

    // --- manifest ANALYZE: per-column stats from METADATA alone ------------
    // columnStats folds the footer-stats census of the current snapshot —
    // no data file opened — and must agree with real SQL aggregates over
    // the same rows (min/max surface as the census's exact strings)
    "data_manifest_stats" -> ((s, dir) => {
      val root = freshRoot("manifest_st", dir)
      val orders = t(s, dir, "orders")
      ManifestTable.append(orders.where(col("o_orderkey") % 4 === 0), root)
      ManifestTable.append(orders.where(col("o_orderkey") % 4 =!= 0), root)
      ManifestTable.columnStats(s, root)
        .where(col("column").isin("o_orderkey", "o_orderstatus"))
        .select(col("column").as("col_name"), col("min").as("min_v"),
          col("max").as("max_v"), col("nulls").as("n_nulls"),
          col("rows").as("n_rows"))
    }),

    // --- manifest RESTORE (metadata-only rollback of a bad overwrite) ------
    "data_manifest_restore" -> ((s, dir) => {
      val root = freshRoot("manifest_rs", dir)
      val orders = t(s, dir, "orders")
      ManifestTable.append(orders.where(col("o_orderkey") % 4 === 0), root)
      ManifestTable.append(orders.where(col("o_orderkey") % 4 === 1), root)
      ManifestTable.overwrite(orders.where(col("o_orderkey") % 4 === 2), root)
      ManifestTable.restore(root, 2L) // roll the bad overwrite back
      ManifestTable.read(s, root)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"), sum("o_orderkey").cast("long").as("sum_key"))
    }),

    // --- manifest z-order compaction (two-column clustering) ---------------
    "data_manifest_zorder" -> manifestCurveScan("zorder"),

    // --- manifest hilbert compaction (the no-seam curve twin of zorder) ----
    "data_manifest_hilbert" -> manifestCurveScan("hilbert"),

    // --- manifest schema evolution (mergeSchema append) --------------------
    // v1 appends two columns, v2 adds o_totalprice; v1's files read back
    // null there and the aggregate must equal plain SQL with the price
    // contributed by odd keys only
    "data_manifest_evolve" -> ((s, dir) => {
      val root = freshRoot("manifest_ev", dir)
      val orders = t(s, dir, "orders")
      ManifestTable.append(
        orders.where(col("o_orderkey") % 2 === 0)
          .select("o_orderkey", "o_orderstatus"), root)
      ManifestTable.append(
        orders.where(col("o_orderkey") % 2 === 1)
          .select("o_orderkey", "o_orderstatus", "o_totalprice"),
        root, mergeSchema = true)
      ManifestTable.read(s, root)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"),
          sum("o_orderkey").cast("long").as("sum_key"),
          sum(coalesce(round(col("o_totalprice") * 100, 0).cast("long"), lit(0L)))
            .cast("long").as("cents"))
    }),

    // --- manifest append feed as a structured stream (tailStream) ----------
    // three appends with an interposed compaction; the drained stream must
    // equal the appends exactly — the replace rewrite contributes nothing
    // (same invisibility contract as readSince), and the feed's hard links
    // make Spark's own checkpointed FileStreamSource the change feed
    "data_manifest_stream" -> ((s, dir) => {
      val root = freshRoot("manifest_feed", dir)
      val orders = t(s, dir, "orders")
      ManifestTable.append(orders.where(col("o_orderkey") % 4 === 0), root)
      ManifestTable.append(orders.where(col("o_orderkey") % 4 === 1), root)
      ManifestTable.compact(s, root, targetBytes = 256L << 20)
      ManifestTable.append(orders.where(col("o_orderkey") % 4 === 2), root)
      val sink = "graft_manifest_feed_sink"
      if (s.catalog.tableExists(sink)) s.catalog.dropTempView(sink)
      val q = ManifestTable.tailStream(s, root)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"), sum("o_orderkey").cast("long").as("sum_key"))
        .writeStream.format("memory").queryName(sink)
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table(sink)
    }),

    // --- manifest MERGE clauses (delete-matched, then insert-only) ---------
    // start from residues 0,1; a MatchedDelete merge drops residue 1 by key;
    // a MatchedIgnore (insert-if-new) merge offers residues 0,2 with doubled
    // price — residue 0 stays ORIGINAL (matched rows untouched, no file
    // rewritten), residue 2 inserts. Final table: residue 0 original ∪
    // residue 2 doubled.
    "data_manifest_merge_clauses" -> ((s, dir) => {
      val root = freshRoot("manifest_mc", dir)
      val orders = t(s, dir, "orders")
      ManifestTable.append(orders.where(col("o_orderkey") % 4 === 0), root)
      ManifestTable.append(orders.where(col("o_orderkey") % 4 === 1), root)
      ManifestTable.merge(s, root, orders.where(col("o_orderkey") % 4 === 1),
        Seq("o_orderkey"), whenMatched = ManifestTable.MatchedDelete,
        insertUnmatched = false)
      val offer = orders
        .where(col("o_orderkey") % 4 === 0 || col("o_orderkey") % 4 === 2)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
      ManifestTable.merge(s, root, offer, Seq("o_orderkey"),
        whenMatched = ManifestTable.MatchedIgnore)
      ManifestTable.read(s, root)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"),
          sum("o_orderkey").cast("long").as("sum_key"),
          sum(round(col("o_totalprice") * 100, 0).cast("long")).cast("long").as("cents"))
    }),

    // --- manifest-log checkpoint (bounded metadata replay) -----------------
    // three appends, an explicit checkpoint (the every-20-commits cadence,
    // forced), one more append: the read composes the checkpoint's PARQUET
    // file census with the one-manifest log tail — never a full-log replay —
    // and must equal the plain union of all four appends
    "data_manifest_checkpoint" -> ((s, dir) => {
      val root = freshRoot("manifest_ck", dir)
      val orders = t(s, dir, "orders")
      (0 until 3).foreach(i =>
        ManifestTable.append(orders.where(col("o_orderkey") % 4 === i), root))
      ManifestTable.checkpoint(s, root)
      ManifestTable.append(orders.where(col("o_orderkey") % 4 === 3), root)
      ManifestTable.read(s, root)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"), sum("o_orderkey").cast("long").as("sum_key"))
    }),

    // --- deterministic domain mixing (downsample to target proportions) ----
    "data_mix" -> ((s, dir) =>
      Ops.mixByHash(t(s, dir, "documents"), "source", "doc_id",
          Seq("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2))
        .select("doc_id", "source")),

    // --- temperature-flattened mixing (count^alpha shares) -----------------
    "data_mix_temp" -> ((s, dir) =>
      Ops.temperatureMix(t(s, dir, "documents"), "source", "doc_id", alpha = 0.5)
        .select("doc_id", "source")),

    // --- benchmark decontamination (n-gram overlap vs an eval set) ---------
    // --- composed RAG-retrieval flagship: chunk → passage BM25 → doc agg ----
    // the passage-retrieval shape: documents window into 24-token chunks
    // (8 overlap), BM25 retrieves the top-10 passages per query, and the
    // answer set aggregates passages back to documents by best chunk score
    // (rounded inside BM25 — deterministic max), top-5 docs per query
    "pipeline_rag" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // spreadScan: the chunk explode + per-chunk tokenize is the heavy map
      // stage and sits on a one-task scan (guide §2.5) — measured 3.5 → 2.5 s
      val chunks = TextAnalysis.chunkDocuments(spreadScan(docs), chunkTokens = 24, overlap = 8)
        .select((col("doc_id") * 100000 + col("chunk_id")).as("doc_id"),
          col("chunk_text").as("text"))
      val hits = TextAnalysis.searchBM25(chunks, bm25Probes(docs), topK = 10)
      val byDoc = hits
        .withColumn("src_doc", expr("doc_id div 100000"))
        .groupBy("query_id", "src_doc").agg(max("score").as("score"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy(col("score").desc, col("src_doc"))
      byDoc.withColumn("__rn", row_number().over(w)).where(col("__rn") <= 5)
        .select(col("query_id"), col("src_doc").as("doc_id"), col("score"))
    }),

    // --- rule-based sentence splitting (RE2-safe pattern, stable ids) ------
    "text_sentences" -> ((s, dir) =>
      TextAnalysis.splitSentences(t(s, dir, "documents"))
        .select(col("doc_id"), col("sent_id").cast("long").as("sent_id"),
          col("sentence"))),

    // --- per-group mean-pooled embeddings + prototype similarity matrix ----
    // label centroids from the declarative (group, dim) mean; components
    // pre-rounded to 6 BEFORE the cosine so the aggregation-order wobble of
    // a distributed mean cannot fork engines downstream
    "sim_pool" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val pooled = Similarity.poolVectors(emb, "label", "embedding")
        .withColumn("__v", transform(col("pooled"), x => round(x, 6)))
      val a = pooled.select(col("label").as("label_a"), col("__v").as("__va"))
      val b = pooled.select(col("label").as("label_b"), col("__v").as("__vb"))
      a.crossJoin(b).where(col("label_a") < col("label_b"))
        .select(col("label_a"), col("label_b"),
          round(Similarity.cosineSim(col("__va"), col("__vb")), 6).as("cosine"))
    }),

    // --- DSIR importance resampling: pick the k most target-like raw docs --
    // target distribution = the English subset; raw = the whole corpus.
    // Hashed unigram+bigram bucket weights (smoothed log ratio), per-doc
    // log importance, seeded Gumbel top-k on the pre-rounded key
    "data_dsir" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      TextAnalysis.dsirSelect(docs, docs.where(col("lang") === "en"),
        k = 100, buckets = 4096)
    }),

    "text_decontam" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val bench = docs.where(col("doc_id") % 50 === 0)
      val corpus = docs.where(col("doc_id") % 50 =!= 0)
      TextAnalysis.flagContaminated(corpus, bench, minHits = 5)
        .select("doc_id", "contam_hits", "contaminated")
    }),

    // --- sequence packing (shard-local prefix-sum bins) --------------------
    "text_pack" -> ((s, dir) => {
      val toks = TextAnalysis.tokenCounts(t(s, dir, "documents"))
        .withColumn("shard", (col("doc_id") % 8).cast("long"))
        .withColumn("ws_tokens", col("ws_tokens").cast("long"))
      TextAnalysis.packSequences(toks, "ws_tokens", capacityTokens = 512,
          shardCol = "shard", orderCol = "doc_id")
        .select("doc_id", "shard", "pack_id")
    }),

    // --- language id (heuristic, exact-mirrored) ---------------------------
    "text_langid" -> ((s, dir) =>
      TextAnalysis.langId(t(s, dir, "documents"))
        .select("doc_id", "lang_pred")),

    // --- Gopher-style repetition stats (per-row array math, codegen'd) -----
    "text_repetition" -> ((s, dir) =>
      TextAnalysis.repetitionStats(t(s, dir, "documents"))
        .select("doc_id", "n_words", "dup_word_frac", "top_word_frac",
          "dup_2gram_frac", "top_2gram_frac", "repetitive")),

    // --- CCNet-style LM quality gate: char-bigram perplexity ---------------
    // model fit on the corpus itself (1444-value artifact, driver-side like
    // the IVF centroids), every doc scored by exp(-mean bigram logp)
    "text_perplexity" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val model = TextAnalysis.bigramLmFit(docs, "text")
      TextAnalysis.withPerplexity(docs, model, "text", "ppl")
        .select(col("doc_id"), round(col("ppl"), 4).as("ppl4"))
    }),

    // --- boilerplate line removal (corpus-frequency segment dedup) ---------
    // texts are single-line word soup, so the fixture plants the crawl shape:
    // a unique body line, a per-source nav line (~25 docs each at sf0.01),
    // a universal footer, and a mostly-unique tail
    "text_boilerplate" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        concat_ws("\n",
          concat(lit("doc "), col("doc_id"), lit(" body: "), substring(col("text"), 1, 48)),
          concat(lit("subscribe to "), col("source"), lit(" newsletter")),
          lit("all rights reserved"),
          substring(col("text"), 49, 64)).as("text"))
      TextAnalysis.stripBoilerplate(docs, minDocs = 3)
        .select("doc_id", "text_clean", "segments_kept", "segments_total")
    }),

    // --- CCNet first-occurrence segment dedup (keep ONE copy corpus-wide) --
    // same planted crawl shape as text_boilerplate: the shared nav/footer
    // lines survive only in the earliest (doc_id, pos) document
    "text_segdedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        concat_ws("\n",
          concat(lit("doc "), col("doc_id"), lit(" body: "), substring(col("text"), 1, 48)),
          concat(lit("subscribe to "), col("source"), lit(" newsletter")),
          lit("all rights reserved"),
          substring(col("text"), 49, 64)).as("text"))
      TextAnalysis.dedupSegments(docs)
        .select("doc_id", "text_dedup", "segments_kept", "segments_total")
    }),

    // --- deterministic stratified sampling (pure codegen'd filter) ---------
    "data_stratified" -> ((s, dir) =>
      Ops.sampleStratified(t(s, dir, "documents"), "lang", "doc_id",
        Seq("en" -> 0.5, "de" -> 0.25, "zh" -> 0.1), defaultFraction = 0.05)
        .select("doc_id", "lang")),

    // --- deterministic global shuffle into training shards -----------------
    "data_shard" -> ((s, dir) =>
      Ops.shuffleShard(t(s, dir, "documents"), "doc_id", shards = 8)
        .select("doc_id", "shard", "shard_pos")),

    // --- histogram quantile sketch (literal double-op mirror) --------------
    "stats_quantile" -> ((s, dir) =>
      Sketch.histQuantiles(t(s, dir, "lineitem"), "l_extendedprice",
          bins = 128, qs = Seq(0.25, 0.5, 0.9, 0.99))
        .select(col("q"), round(col("quantile"), 4).as("quantile4"))),

    // --- corpus snapshot diff (incremental-pipeline primitive) -------------
    "data_snapshot_diff" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val newSnap = docs.where(col("doc_id") % 13 =!= 0)
        .withColumn("text", when(col("doc_id") % 7 === 0,
          concat(col("text"), lit("!"))).otherwise(col("text")))
        .unionByName(docs.where(col("doc_id") % 11 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      Ops.snapshotDiff(docs, newSnap, "doc_id", Seq("text"))
        .select("doc_id", "change")
    }),

    // --- deterministic mergeable bottom-k sampling -------------------------
    "data_bottomk" -> ((s, dir) =>
      Ops.bottomKSample(t(s, dir, "documents"), "doc_id", k = 200)
        .select("doc_id")),

    "data_bottomk_strata" -> ((s, dir) =>
      Ops.bottomKSample(t(s, dir, "documents"), "doc_id", k = 20,
          strataCols = Seq("lang"))
        .select("lang", "doc_id")),

    // --- weighted sample (inclusion probability proportional to n_chars) ---
    "data_weighted" -> ((s, dir) =>
      Ops.weightedSample(t(s, dir, "documents"), "doc_id", "n_chars", k = 150)
        .select("doc_id")),

    // --- KLL one-pass mergeable quantile sketch (exact mode at gate sf) ----
    "stats_kll" -> ((s, dir) =>
      operators.Kll.kllQuantiles(t(s, dir, "lineitem"), "l_extendedprice",
          k = 65536, qs = Seq(0.25, 0.5, 0.9, 0.99))
        .select(col("q"), round(col("quantile"), 4).as("quantile4"))),

    // --- KLL merge path IN the gate: per-shard sketch rows reduced to the
    // same quantiles the one-shot aggregate yields (exact mode, k >= n per
    // shard and after merge) — the persist-per-day / merge-without-rescan
    // workflow end to end
    "stats_kll_merged" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_extendedprice"), (col("l_orderkey") % 5).as("shard"))
      val sketches = operators.Kll.kllSketches(li, "l_extendedprice",
        Seq("shard"), k = 65536)
      val qlits = array(Seq(0.25, 0.5, 0.9, 0.99).map(lit): _*)
      sketches
        .agg(operators.Kll.mergeQuantilesAgg(col("kll"), Seq(0.25, 0.5, 0.9, 0.99)).as("__qv"))
        .select(posexplode(col("__qv")).as(Seq("__pos", "quantile")))
        .select(element_at(qlits, col("__pos") + 1).as("q"),
          round(col("quantile"), 4).as("quantile4"))
    }),

    // --- top-k per group (WindowGroupLimit prunes before the exchange) -----
    "data_topk_group" -> ((s, dir) =>
      Ops.topKPerGroup(t(s, dir, "documents"), Seq("lang"), "n_chars",
          k = 3, tieCol = "doc_id")
        .select("lang", "doc_id", "n_chars", "rank_in_group")),

    // --- count-min sketch point frequencies (counter-exact mirror) ---------
    "stats_cms" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("tok"))
      val regs = Sketch.cmsRegisters(toks, "tok")
      val probes = s.range(1).select(
        explode(array(lit("table"), lit("spark"), lit("window"), lit("zebra"))).as("tok"))
      Sketch.cmsLookup(regs, probes, "tok")
        .select(col("tok").as("token"), col("approx_count"))
    }),

    // --- per-window CMS (the cmsStream state shape, batch-gated) -----------
    "stats_cms_window" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val regs = Sketch.cmsRegistersWindowed(e, "event_type", windowDur = "1 hour")
      val probes = s.range(1).select(explode(array(
        lit("click"), lit("view"), lit("purchase"), lit("qqnone"))).as("event_type"))
      Sketch.cmsLookupWindowed(regs, probes, "event_type")
        .select(unix_timestamp(col("window.start")).as("hour_ts"),
          col("event_type").as("token"), col("approx_count"))
    }),

    // --- Bloom filter membership (bit-exact mirror) ------------------------
    "stats_bloom" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("tok"))
      val bits = Sketch.bloomBits(toks, "tok")
      val probes = s.range(1).select(
        explode(array(lit("table"), lit("spark"), lit("window"), lit("zebra"),
          lit("qqxyzzy"))).as("tok"))
      Sketch.bloomContains(bits, probes, "tok")
        .select(col("tok").as("token"), col("maybe_present"))
    }),

    // --- compression-ratio quality gate (deflate; no DuckDB mirror exists,
    // so this entry has no oracleSql twin -> driver rows-only check) --------
    "text_compress" -> ((s, dir) =>
      TextAnalysis.withCompressionRatio(t(s, dir, "documents"))
        .select(col("doc_id"), round(col("compress_ratio"), 6).as("compress_ratio"))),

    // --- redundancy, SQL-mirrorable twin: distinct-8-gram ratio ------------
    // (text_compress's deflate has no DuckDB mirror and stays rows-only by
    // design; this carries the same signal through the full oracle)
    "text_redundancy" -> ((s, dir) =>
      TextAnalysis.withDistinctGramRatio(t(s, dir, "documents"))
        .select(col("doc_id"), round(col("gram_ratio"), 6).as("gram_ratio"))),

    // --- deterministic pivot rollup (explicit columns, zero-filled) --------
    "events_pivot" -> ((s, dir) => {
      val e = t(s, dir, "events").withColumn("bucket", pmod(col("user_id"), lit(10L)))
      val types = Seq("click", "view", "purchase", "signup", "error")
      val piv = Ops.pivotSum(e, Seq("bucket"), "event_type", types, "value")
      piv.select(col("bucket") +: types.map(c => round(col(c), 4).as(c)): _*)
    }),

    // --- unicode cleanup (the pre-hash normalization pass) -----------------
    "text_clean" -> ((s, dir) => {
      val d = t(s, dir, "documents").select("doc_id", "text")
      val dirty = concat(lit("\u201Cq\u201D  "), col("text"),
        lit("\u0007\u200B \u00A0x\u2013y\n\n\n\nz\t\ttail  "))
      TextAnalysis.cleanText(d.withColumn("dirty", dirty), "dirty")
        .select(col("doc_id"), col("text_clean"))
    }),

    // --- per-group z-score outliers on an integer-valued column ------------
    "stats_outliers" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .where(col("l_partkey") % 50 === 0)
        .select("l_orderkey", "l_partkey", "l_quantity")
      Ops.flagOutliers(li, "l_quantity", Seq("l_partkey"), z = 1.5)
        .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"),
          round(col("zscore"), 6).as("zscore"), col("is_outlier"))
    }),

    // --- one-pass per-user feature rollup ----------------------------------
    "events_features" -> ((s, dir) =>
      Ops.keyFeatures(t(s, dir, "events"), "user_id", "ts", "event_type", "value",
          Seq("click", "view", "purchase", "signup", "error"))
        .select(col("user_id"), col("n_click"), col("n_view"), col("n_purchase"),
          col("n_signup"), col("n_error"), col("n_events"),
          round(col("value_sum"), 4).as("value_sum4"),
          round(col("value_mean"), 6).as("value_mean6"),
          col("first_us"), col("last_us"), col("tenure_us"))),

    // --- linear multi-touch attribution over the events stream -------------
    "events_attribution" -> ((s, dir) =>
      Ops.attributionLinear(t(s, dir, "events"), "user_id", "ts", "event_type",
          convType = "purchase", touchTypes = Seq("click", "view"),
          valueCol = "value", windowSeconds = 259200L, idCol = "event_id")
        .select(col("touch_id"), col("n_convs"),
          round(col("credit"), 6).as("credit6"))),

    // --- market-basket co-occurrence lift over order line items ------------
    "basket_lift" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), (col("l_partkey") % 100).as("item"))
      Ops.basketLift(li, "l_orderkey", "item", minCount = 3L)
        .select(col("item_a"), col("item_b"), col("n_both"),
          round(col("lift"), 6).as("lift6"))
    }),

    // --- per-user event-type Markov transition matrix ----------------------
    "events_transitions" -> ((s, dir) =>
      Ops.transitionMatrix(t(s, dir, "events"), "user_id", "ts", "event_type", "event_id")
        .select(col("from_state"), col("to_state"), col("n_transitions"),
          round(col("p"), 6).as("p6"))),

    // --- lag-24 autocorrelation on the gap-filled hourly series ------------
    "events_autocorr" -> ((s, dir) =>
      Ops.autocorrelation(t(s, dir, "events"), "user_id", "ts", "value",
          stepSeconds = 3600L, lagBuckets = 24, tieCol = "event_id")
        .select(col("user_id"), col("n_pairs"), round(col("acf"), 4).as("acf4"))),

    // --- time-series gap fill: hourly buckets, forward-filled --------------
    "events_gapfill" -> ((s, dir) =>
      Ops.gapFill(t(s, dir, "events"), "user_id", "ts", "value", 3600L, "event_id")
        .select(col("user_id"), col("bucket"),
          coalesce(round(col("filled"), 6), lit(-1.0)).as("filled6"), col("is_gap"))),

    // --- linear-interpolation gap fill (two-point resampling) --------------
    "events_gapfill_interp" -> ((s, dir) =>
      Ops.gapFillInterp(t(s, dir, "events"), "user_id", "ts", "value", 3600L, "event_id")
        .select(col("user_id"), col("bucket"),
          coalesce(col("interp6"), lit(-1.0)).as("interp6"), col("is_gap"))),

    // --- CDC merge: latest-wins changelog applied onto a base snapshot -----
    "data_upsert" -> ((s, dir) => {
      val base = t(s, dir, "customer").select("c_custkey", "c_acctbal", "c_mktsegment")
      val ch = t(s, dir, "events")
        .where(col("event_type").isin("purchase", "error"))
        .select(col("user_id").as("c_custkey"), col("value").as("c_acctbal"),
          concat(lit("seg_"), col("event_type")).as("c_mktsegment"),
          when(col("event_type") === "error", lit("delete"))
            .otherwise(lit("upsert")).as("op"),
          col("ts"), col("event_id"))
      Ops.applyChangelog(base, ch, Seq("c_custkey"), "ts", "op", "event_id")
        .select(col("c_custkey"),
          coalesce(round(col("c_acctbal"), 6), lit(-1.0)).as("bal6"),
          coalesce(col("c_mktsegment"), lit("")).as("seg"))
    }),

    // --- one-pass per-column profile (describe-at-scale) -------------------
    "data_profile" -> ((s, dir) =>
      Profiling.profile(t(s, dir, "lineitem"),
        Seq("l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag"))),

    // --- one-pass pairwise Pearson correlation matrix ----------------------
    "stats_corr" -> ((s, dir) =>
      Profiling.corrMatrix(t(s, dir, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))),

    // --- PSI drift: first half-month vs second half of the events stream ---
    "data_drift" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val boundary = expr("unix_micros(ts) < unix_micros(timestamp'2024-01-16 00:00:00')")
      Profiling.psi(e.where(boundary), e.where(!boundary), "value",
          bins = 10, lo = 0.0, hi = 500.0)
        .select(col("bin"), col("n_ref"), col("n_cur"),
          round(col("contrib"), 6).as("contrib6"), round(col("psi"), 6).as("psi6"))
    }),

    // --- k-anonymity audit over quasi-identifiers --------------------------
    "data_kanon" -> ((s, dir) =>
      Profiling.kAnonymityViolations(t(s, dir, "customer"),
        Seq("c_nationkey", "c_mktsegment"), k = 10L)),

    // --- Gini concentration of documents per source (mix balance) ----------
    "stats_gini" -> ((s, dir) =>
      Profiling.giniConcentration(t(s, dir, "documents"), "source")
        .select(col("n_groups"), col("n_rows"),
          round(col("gini"), 6).as("gini6"))),

    // --- per-column Shannon entropy (distribution-skew diagnostic) ---------
    "stats_entropy" -> ((s, dir) =>
      Profiling.entropy(t(s, dir, "lineitem"),
        Seq("l_returnflag", "l_linestatus", "l_quantity", "l_orderkey"))),

    // --- cross-source vocabulary overlap (mix-composition diagnostic) ------
    "text_vocab_overlap" -> ((s, dir) =>
      TextAnalysis.vocabularyOverlap(t(s, dir, "documents"), "source")
        .select(col("group_a"), col("group_b"),
          col("n_a"), col("n_b"), col("n_shared"),
          round(col("jaccard"), 6).as("jaccard6"))),

    // --- exact corpus top-k word trigram census ----------------------------
    "text_ngram_topk" -> ((s, dir) =>
      TextAnalysis.ngramTopK(t(s, dir, "documents"), n = 3, k = 40)),

    // --- hexagonal point binning over the synthetic customer grid ----------
    "geo_hexbin" -> ((s, dir) => {
      val pts = t(s, dir, "customer")
        .withColumn("lon", expr("(c_custkey % 120) * 0.5 - 30 + 0.25"))
        .withColumn("lat", expr("(c_custkey % 80) * 0.5 - 20 + 0.25"))
      GeoOps.hexbin(pts, "lon", "lat", size = 2.5)
        .groupBy("hex_q", "hex_r")
        .agg(count(lit(1)).as("n_points"),
          round(avg(col("c_acctbal")), 4).as("avg_bal4"))
    }),

    // --- farthest-point (k-center) diversity sample over embeddings --------
    "sim_fps" -> ((s, dir) =>
      Similarity.farthestPointSample(t(s, dir, "embeddings"), "embedding", "vec_id", k = 6)
        .select(col("round"), col("vec_id"),
          round(col("maximin_dist"), 6).as("dist6"))),

    // --- BPE subword tokenizer: corpus-trained merges, per-doc counts ------
    "text_bpe" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = TextAnalysis.bpeTrain(docs, "text", numMerges = 16)
      TextAnalysis.bpeApply(docs, "text", merges)
        .select(col("doc_id"), col("n_words").cast("long").as("n_words"),
          col("bpe_tokens").cast("long").as("bpe_tokens"))
    }),

    // --- hybrid retrieval: BM25 × cosine reciprocal-rank fusion ------------
    "sim_hybrid" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      val lex = TextAnalysis.searchBM25(docs, bm25Probes(docs), topK = 10)
      val sem = Similarity.bruteForceTopK(emb,
          emb.where(col("vec_id") % 100 === 7), "embedding", "vec_id", k = 10)
        .select(col("query_id"), col("neighbor_id").as("doc_id"), col("cosine"))
      Retrieval.rrfFuse(lex, sem, "query_id", "doc_id", "score", "cosine", k = 10)
        .select(col("query_id"), col("doc_id"),
          col("rank_a").cast("long").as("rank_a"),
          col("rank_b").cast("long").as("rank_b"),
          round(col("rrf"), 6).as("rrf6"))
    }),

    // --- asymmetric containment join (subset-document detection) -----------
    // probe subset: the synthetic corpus shares a small vocabulary, so an
    // unrestricted self-probe contains most short docs in most long ones —
    // pair-level output stays bounded by probing one doc in twenty
    "setsim_containment" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val probes = docs.where(col("doc_id") % 20 === 3)
      Joins.containmentJoin(probes, docs, "doc_id", "text", "doc_id", "text",
          threshold = 0.8)
        .where(col("doc_id") =!= col("doc_id_right"))
        .select(col("doc_id"), col("doc_id_right"),
          col("left_size").cast("long").as("left_size"),
          col("right_size").cast("long").as("right_size"),
          col("overlap").cast("long").as("overlap"),
          round(col("containment"), 6).as("containment6"))
    }),

    // --- semi-structured JSON props extraction + rollup --------------------
    "events_props" -> ((s, dir) => {
      val e = t(s, dir, "events")
      e.select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("k").as("sum_k"),
          min("k").as("min_k"), max("k").as("max_k"))
    }),

    // --- overlapping token-window chunking (the RAG/embedding pre-step) ----
    "text_chunks" -> ((s, dir) =>
      TextAnalysis.chunkDocuments(t(s, dir, "documents"), chunkTokens = 24, overlap = 8)
        .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
          col("chunk_text"), col("chunk_tokens").cast("long").as("chunk_tokens"))),

    // --- Gopher quality-rule bundle (published thresholds, all flags) ------
    "text_gopher" -> ((s, dir) =>
      TextAnalysis.gopherRules(t(s, dir, "documents"), minWords = 40)
        .select(col("doc_id"), col("n_words"),
          round(col("mean_word_len"), 6).as("mean_word_len"),
          col("ok_word_count"), col("ok_mean_word_len"), col("ok_symbol_ratio"),
          col("ok_bullet_lines"), col("ok_ellipsis_lines"), col("ok_alpha_words"),
          col("ok_stopwords"), col("gopher_keep"))),

    // --- URL normalization + registrable domain (synthetic URL corpus) -----
    "url_normalize" -> ((s, dir) => {
      val withUrl = synthUrls(t(s, dir, "documents"))
      Web.withRegistrableDomain(Web.normalizeUrl(withUrl))
        .select(col("doc_id"), col("url"), col("url_norm"), col("domain"))
    }),

    // --- per-domain cap: deterministic domain diversity balancing ----------
    "url_domain_cap" -> ((s, dir) => {
      val withUrl = synthUrls(t(s, dir, "documents"))
      Web.perDomainCap(Web.withRegistrableDomain(withUrl), cap = 5)
        .select(col("doc_id"), col("domain"),
          col("rank_in_domain").cast("long").as("rank_in_domain"))
    }),

    // --- winnowing repeated-substring dedup: doc-level duplication stats ---
    "text_substrdup" -> ((s, dir) =>
      TextAnalysis.substringDupStats(t(s, dir, "documents"))
        .select(col("doc_id"), col("n_fps"), col("n_shared"),
          round(col("dup_frac"), 6).as("dup_frac"), col("keep"))),

    // --- winnowing repeated-substring dedup: merged cross-doc spans --------
    "text_spans" -> ((s, dir) =>
      TextAnalysis.repeatedSpans(t(s, dir, "documents"))),

    // --- fuzzy (edit-distance) join: PassJoin segments + banded verify -----
    "fuzzy_join" -> ((s, dir) => {
      val p = t(s, dir, "part").select("p_partkey", "p_name")
      Joins.fuzzyJoin(p, p, "p_name", "p_name", 1)
        .where(col("p_partkey") =!= col("p_partkey_right"))
        .groupBy("p_partkey")
        .agg(count(lit(1)).as("n_similar"),
          min("p_partkey_right").as("min_similar"))
    }),

    // --- fuzzy join, value granularity (no k² re-expansion) ----------------
    "fuzzy_join_values" -> ((s, dir) => {
      val p = t(s, dir, "part").select("p_partkey", "p_name")
      Joins.fuzzyJoin(p, p, "p_name", "p_name", 1, expand = false)
        .select(col("p_name"), col("p_name_right"),
          col("edit_dist").cast("long").as("edit_dist"),
          col("left_count"), col("right_count"))
    }),

    // --- exact set-similarity join: prefix filter + exact Jaccard verify ---
    // asymmetric probe-vs-corpus shape (every 10th doc probes the full
    // corpus): the synthetic docs draw from a tiny template vocabulary, so
    // a full self-join at t=0.5 is the prefix filter's documented
    // degenerate case (rarest token df ~ 0.77 N => candidates ~ all-pairs);
    // the probe shape is both bounded and the realistic retrieval usage.
    // Gate row = per-probe pair-set summary — integer-only columns, no
    // float-sum order sensitivity, (count, min partner, max overlap) still
    // pins the pair set hard
    "setsim_join" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val probes = docs.where(col("doc_id") % 20 === 3)
      Joins.setSimJoin(probes, docs, "doc_id", "text", "doc_id", "text", threshold = 0.5)
        .where(col("doc_id") < col("doc_id_right"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_similar"),
          min(col("doc_id_right")).as("min_partner"),
          max(col("overlap")).cast("long").as("max_overlap"))
    }),

    // --- interval overlap join: bucketed range join, exactly-once pairs ----
    "interval_join" -> lineitemIntervalJoin(None),

    // --- interval join, level-ladder guard active on real data -------------
    // maxReplication = 2 forces maxLvl >= 1 on lineitem spans (up to ~50
    // days vs (n-1)·w = 32), so the two-half native-build plan runs inside
    // the per-round gate against the SAME native-IEJoin oracle as the flat
    // path — identical output required
    "interval_join_ladder" -> lineitemIntervalJoin(Some(2)),

    // --- bloom-pruned join: semi-join reduction ahead of the exchange ------
    // exact-equivalence oracle: bloom has no false negatives and the exact
    // join removes false positives, so the output must equal the plain
    // inner join bit-for-bit — nothing of the sketch needs mirroring
    "join_bloom" -> ((s, dir) => {
      val dim = t(s, dir, "customer")
        .where(col("c_nationkey") < 12 && col("c_mktsegment") === "BUILDING")
        .select("c_custkey", "c_name")
      val facts = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      Joins.bloomPrunedJoin(facts, dim, "o_custkey", "c_custkey")
        .select(col("o_orderkey"), col("c_name"), col("o_totalprice"))
    }),

    // --- heavy hitters: CMS-prefiltered exact frequent tokens --------------
    "stats_heavy" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("tok"))
      Sketch.heavyHitters(toks, "tok", minCount = 500L)
        .select(col("tok").as("token"), col("exact_count"))
    }),

    // --- HyperLogLog distinct sketch (register-exact mirror) ---------------
    // --- per-group HLL: distinct users per event type at sketch cost -------
    // --- per-window HLL distinct (the hllStream state shape, batch-gated) --
    "stats_hll_window" -> ((s, dir) =>
      Sketch.hllDistinctWindowed(t(s, dir, "events"), "user_id")
        .select(unix_timestamp(col("window.start")).as("hour_ts"),
          round(col("approx_distinct"), 3).as("approx_distinct"))),

    "stats_hll_group" -> ((s, dir) =>
      Sketch.hllDistinctByGroup(t(s, dir, "events"), "user_id", Seq("event_type"))
        .select(col("event_type"),
          round(col("approx_distinct"), 3).as("approx_distinct"))),

    "stats_hll" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val li = t(s, dir, "lineitem")
      Sketch.hllDistinct(docs, Seq("text", "source"))
        .unionByName(Sketch.hllDistinct(li, Seq("l_orderkey")))
        .select(col("column").as("col_name"),
          round(col("approx_distinct"), 3).as("approx_distinct"))
    }),

    // --- document fingerprinting (rolling hash, exact-mirrored) ------------
    "text_fingerprint" -> ((s, dir) =>
      TextAnalysis.fingerprint(t(s, dir, "documents"))
        .select("doc_id", "doc_fp")),

    // --- near-dedup: MinHash LSH (kept set exact-mirrored) -----------------
    "dedup_minhash" -> ((s, dir) =>
      Dedup.minhashLsh(t(s, dir, "documents"), "text", "doc_id", threshold = 0.7)
        .select("doc_id", "lang")),

    // --- the composed pretraining-curation pipeline: Gopher quality gate →
    // exact dedup → MinHash near-dedup → per-language token budget. Each
    // stage is the already-oracled operator applied verbatim; the oracle
    // chains the same stages' proven mirrors as nested derived tables, so a
    // divergence pinpoints the stage that drifted. The output is what a
    // data-mix planner consumes: surviving docs and whitespace-token budget
    // per language.
    "pipeline_pretrain" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val quality = TextAnalysis.gopherRules(docs, minWords = 40)
        .where(col("gopher_keep"))
        .select(docs.columns.map(col).toSeq: _*)
      val exactKept = Dedup.exact(quality, Seq("text"), "doc_id")
      val reps = Dedup.minhashLsh(exactKept, "text", "doc_id", threshold = 0.7)
      TextAnalysis.tokenCounts(reps)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("ws_tokens").cast("long")).as("n_tokens"))
    }),

    // --- transitive near-dup clusters (connected components over verified
    // LSH pairs; cluster = component-min doc_id) -----------------------------
    // --- PageRank: power method over the customer->supplier order graph ----
    // --- triangle counts on the co-purchase part graph ---------------------
    "graph_triangles" -> ((s, dir) =>
      Graph.triangleCounts(copurchaseEdges(s, dir))),

    // --- bounded BFS hop distance from a part-id source set ----------------
    "graph_bfs" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .where(col("l_orderkey") % 4 === 0).select("l_orderkey", "l_partkey")
      val sources = li.where(col("l_partkey") % 97 === 0).select("l_partkey")
      Graph.bfs(copurchaseEdges(s, dir), sources, "l_partkey", maxDepth = 3)
    }),

    "graph_pagerank" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select("l_orderkey", "l_suppkey")
      val o = t(s, dir, "orders").select("o_orderkey", "o_custkey")
      val e = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("src"), (col("l_suppkey") + 1000000L).as("dst"))
      Graph.pagerank(e, iters = 5)
        .select(col("node"), round(col("rank"), 6).as("rank6"))
    }),

    "dedup_clusters" -> ((s, dir) =>
      Dedup.clusters(t(s, dir, "documents"), "text", "doc_id", threshold = 0.7)
        .select("doc_id", "cluster")),

    // --- quality-aware representative: keep the longest family member ------
    "dedup_best" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.keepBest(docs, "text", "doc_id", length(col("text")), threshold = 0.7)
        .select(col("doc_id"), col("cluster"), col("n_members"))
    }),

    // --- near-dedup under degenerate skew: 5k byte-identical copies --------
    // the crawl-corpus failure mode (boilerplate flood lands in ONE LSH
    // bucket); Dedup's exact-collapse keeps the candidate join linear — this
    // is to sketch dedup what sjoin_skew is to the spatial join
    "dedup_skew" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text", "lang")
      val copies = docs.where(col("doc_id") === 0)
        .select(explode(sequence(lit(0), lit(4999))).as("__i"), col("text"), col("lang"))
        .select((col("__i").cast("long") + 1000000L).as("doc_id"), col("text"), col("lang"))
      Dedup.minhashLsh(docs.unionByName(copies), "text", "doc_id", threshold = 0.7)
        .select("doc_id", "lang")
    }),

    // --- near-dedup: SimHash (kept set exact-mirrored) ---------------------
    "dedup_simhash" -> ((s, dir) =>
      Dedup.simhash(t(s, dir, "documents"), "text", "doc_id", maxHamming = 3)
        .select("doc_id", "lang")),

    // --- near-dedup: embedding cosine (kept set exact-mirrored) ------------
    // the table has no natural near-dups (max pairwise cosine ~0.5), so the
    // drop path is exercised with planted scaled copies: x*0.5 is fp-exact
    // and keeps cosine at 1.0 and the hyperplane sketch unchanged
    "dedup_embedding" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select("vec_id", "label", "embedding")
      val planted = emb.where(col("vec_id") < 25).select(
        (col("vec_id") + 10000).as("vec_id"), col("label"),
        transform(col("embedding"), x => (x * lit(0.5f)).cast("float")).as("embedding"))
      Dedup.embeddingNearDup(emb.unionByName(planted), "embedding", "vec_id", threshold = 0.98)
        .select("vec_id", "label")
    }),

    // --- SemDeDup: kmeans cells + within-cell greedy cosine dedup ----------
    // nlist = 1 is the exact-oracle mode (single cell ≡ all-pairs greedy);
    // the nlist > 1 cell approximation is spec'd (soundness + planted
    // recall) in DedupSpec
    "dedup_semantic" -> ((s, dir) => {
      // vec_id < 1500 covers the whole table at the sf0.01 gate and bounds
      // the nlist=1 exact mode's inherent all-pairs cost at larger sf
      val emb = t(s, dir, "embeddings").select("vec_id", "label", "embedding")
        .where(col("vec_id") < 1500)
      val planted = emb.where(col("vec_id") < 25).select(
        (col("vec_id") + 10000).as("vec_id"), col("label"),
        transform(col("embedding"), x => (x * lit(0.5f)).cast("float")).as("embedding"))
      Dedup.semanticDedup(emb.unionByName(planted), "embedding", "vec_id",
          threshold = 0.98, nlist = 1)
        .select("vec_id", "label")
    }),

    // --- erde op/isochrone: contour polygons (rows-only; area spec'd) ------
    "isochrone_contours" -> ((s, dir) => {
      val srcs = t(s, dir, "region")
        .withColumn("lon", expr("r_regionkey * 12.0 - 24.0"))
        .withColumn("lat", expr("r_regionkey * 7.0 - 14.0"))
      Routing.isochroneContours(srcs, "lon", "lat", Seq(600.0, 1200.0),
          stepDeg = 0.05, halfCells = 8, keyCols = Seq("r_regionkey"))
        .select(col("r_regionkey"), col("level_s"),
          round(st_area(col("geometry")), 6).as("contour_area_deg2"))
    }),

    // --- erde op/isochrone (erde/op/isochrone.py) -------------------------
    "isochrone_cells" -> ((s, dir) => {
      val srcs = t(s, dir, "region")
        .withColumn("lon", expr("r_regionkey * 12.0 - 24.0"))
        .withColumn("lat", expr("r_regionkey * 7.0 - 14.0"))
      Routing.isochrone(srcs, "lon", "lat", Seq(600.0, 1200.0),
          stepDeg = 0.05, halfCells = 8, keyCols = Seq("r_regionkey"), withGeometry = false)
        .select("r_regionkey", "level_s", "n_cells")
    }),
  ) ++ roundtrips.map(r => r.name -> (r.query _))

  /** BM25 fit+score CTE bundle over `corpus(doc_id, text)` (WITH body,
    * through ranked `rk`) — shared by the text_bm25 / text_bm25_index
    * oracles and the sim_hybrid fusion oracle so a scoring change can never
    * fork the mirrors. Queries stay the first-4-token probes of `documents`
    * ([[bm25Probes]]); `pipeline_rag` points the corpus at a chunk CTE.
    */
  private def bm25ScoreCtes(corpus: String = "documents"): String =
      s"""q AS (SELECT doc_id AS query_id,
        |    array_to_string(list_filter(string_split(lower(trim(text)), ' '),
        |      s -> s <> '')[1:4], ' ') AS query
        |  FROM documents WHERE doc_id % 100 = 7),
        |w AS (SELECT doc_id AS doc,
        |    unnest(list_filter(string_split(lower(trim(text)), ' '), s -> s <> '')) AS term
        |  FROM $corpus),
        |tf AS (SELECT doc, term, count(*) AS tf FROM w GROUP BY 1, 2),
        |dl AS (SELECT doc, term, tf, sum(tf) OVER (PARTITION BY doc) AS dl FROM tf),
        |st AS (SELECT count(DISTINCT doc) AS n, sum(tf) AS tt FROM tf),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |qt AS (SELECT query_id,
        |    unnest(list_distinct(list_filter(string_split(query, ' '), s -> s <> ''))) AS term
        |  FROM q),
        |sc AS (SELECT qt.query_id, dl.doc,
        |    round(sum(
        |      ln(CAST('1.0' AS DOUBLE)
        |         + (CAST(st.n AS DOUBLE) - dfq.df + CAST('0.5' AS DOUBLE))
        |           / (dfq.df + CAST('0.5' AS DOUBLE)))
        |      * ((dl.tf * CAST('2.2' AS DOUBLE))
        |         / (dl.tf + CAST('1.2' AS DOUBLE)
        |             * (CAST('0.25' AS DOUBLE)
        |                + (CAST('0.75' AS DOUBLE) * dl.dl)
        |                  / (CAST(st.tt AS DOUBLE) / CAST(st.n AS DOUBLE)))))), 4) AS score
        |  FROM qt JOIN dl ON qt.term = dl.term JOIN dfq ON dl.term = dfq.term CROSS JOIN st
        |  GROUP BY 1, 2),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc) AS rn
        |  FROM sc)""".stripMargin

  private val bm25OracleSql: String =
    s"WITH ${bm25ScoreCtes()}\nSELECT query_id, doc AS doc_id, score FROM rk WHERE rn <= 10"

  // RRF hybrid: the two retriever mirrors ranked independently, fused as
  // 1/(60 + rank) with absent-list contributions of 0 — the identical
  // arithmetic of Retrieval.rrfFuse
  private val simHybridOracleSql: String =
    s"""WITH ${bm25ScoreCtes()},
       |lex AS (SELECT query_id, doc, rn FROM rk WHERE rn <= 10),
       |qv AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
       |  WHERE vec_id % 100 = 7),
       |scv AS (SELECT qv.query_id, e.vec_id AS doc,
       |  ${OracleSql.cos("qv.qe", "e.embedding")} AS cos
       |  FROM embeddings e, qv),
       |sem AS (SELECT query_id, doc, rn FROM (
       |    SELECT query_id, doc,
       |      row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, doc) AS rn
       |    FROM scv) WHERE rn <= 10),
       |f AS (SELECT coalesce(l.query_id, s.query_id) AS query_id,
       |    coalesce(l.doc, s.doc) AS doc, l.rn AS ra, s.rn AS rb
       |  FROM lex l FULL OUTER JOIN sem s
       |    ON l.query_id = s.query_id AND l.doc = s.doc),
       |r AS (SELECT query_id, doc,
       |    coalesce(ra, 0) AS rank_a, coalesce(rb, 0) AS rank_b,
       |    coalesce(CAST(1 AS DOUBLE) / (60 + ra), CAST(0 AS DOUBLE))
       |      + coalesce(CAST(1 AS DOUBLE) / (60 + rb), CAST(0 AS DOUBLE)) AS rrf
       |  FROM f)
       |SELECT query_id, doc AS doc_id, rank_a, rank_b, round(rrf, 6) AS rrf6
       |FROM r
       |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY rrf DESC, doc) <= 10""".stripMargin

  /** Exact cosine top-5 for queries vec_id < 8 — `sim_topk`'s brute force
    * and the mirror every nprobe = nlist IVF path reduces to (`sim_ivf`,
    * `sim_ivf_index` and the incrementally-refreshed `sim_ivf_refresh`).
    */
  private val exactTopkOracle: String =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 8),
       |sc AS (SELECT q.query_id, e.vec_id AS neighbor_id,
       |  ${OracleSql.cos("q.qe", "e.embedding")} AS cos
       |  FROM embeddings e, q)
       |SELECT query_id, neighbor_id, round(cos, 6) AS cosine FROM sc
       |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) <= 5""".stripMargin

  /** int8-prefilter-then-float-rescore mirror at nprobe = nlist: normalize →
    * symmetric int8 quantize (sim_int8's exact arithmetic) → top rescore·k =
    * 20 candidates per query by the rescaled integer dot → true float cosine
    * (sim_topk's mirror) ranks the survivors for top-5. Shared verbatim by
    * `sim_int8_ivf` (inline per-query path) and `sim_int8_ivf_index` (the
    * persisted parquet layout) — the two MUST be value-identical.
    */
  private val int8IvfOracle: String =
    s"""WITH nz AS (SELECT vec_id,
      |    CASE WHEN n > 0
      |      THEN list_transform(e, x -> CAST(x AS DOUBLE) / n)
      |      ELSE list_transform(e, x -> CAST(x AS DOUBLE)) END AS en
      |  FROM (SELECT vec_id, embedding AS e,
      |      sqrt(list_sum(list_transform(embedding,
      |        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS n
      |    FROM embeddings)),
      |qz AS (SELECT vec_id,
      |    CASE WHEN m > 0 THEN m / 127.0 ELSE 1.0 END AS s,
      |    list_transform(en, x -> CAST(round(x
      |      / (CASE WHEN m > 0 THEN m / 127.0 ELSE 1.0 END)) AS BIGINT)) AS q
      |  FROM (SELECT vec_id, en,
      |      list_max(list_transform(en, x -> abs(x))) AS m FROM nz)),
      |qs AS (SELECT vec_id AS query_id, s AS qscale, q AS qq FROM qz WHERE vec_id < 8),
      |sc AS (SELECT qs.query_id, c.vec_id AS neighbor_id,
      |    list_dot_product(qs.qq, c.q) * qs.qscale * c.s AS score
      |  FROM qz c, qs),
      |cand AS (SELECT query_id, neighbor_id FROM sc
      |  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) <= 20),
      |re AS (SELECT cand.query_id, cand.neighbor_id,
      |  ${OracleSql.cos("q.embedding", "e.embedding")} AS cos
      |  FROM cand
      |  JOIN embeddings e ON e.vec_id = cand.neighbor_id
      |  JOIN embeddings q ON q.vec_id = cand.query_id)
      |SELECT query_id, neighbor_id, round(cos, 6) AS cosine FROM re
      |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) <= 5""".stripMargin

  /** [[purchaseAsofClick]]'s mirror: DuckDB's native ASOF join. */
  private val purchaseAsofClickOracle: String =
    """WITH p AS (SELECT event_id, user_id, ts, value FROM events
      |          WHERE event_type = 'purchase'),
      |     c AS (SELECT event_id AS click_id, user_id, ts, value FROM events
      |          WHERE event_type = 'click')
      |SELECT p.event_id, p.user_id, round(p.value, 4) AS purchase_value,
      |       coalesce(c.click_id, -1) AS click_id,
      |       coalesce(round(c.value, 4), -1.0) AS click_value,
      |       coalesce(epoch_us(p.ts) - epoch_us(c.ts), -1) AS lag_us
      |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts""".stripMargin

  /** [[lineitemIntervalJoin]]'s mirror: the plain overlap self-join. */
  private val lineitemIntervalJoinOracle: String =
    """WITH f AS (SELECT l_suppkey AS k,
      |    l_orderkey * 10 + l_linenumber AS iid,
      |    date_diff('day', DATE '1992-01-01', CAST(l_shipdate AS DATE)) AS s0,
      |    date_diff('day', DATE '1992-01-01', CAST(l_shipdate AS DATE))
      |      + CAST(floor(l_quantity) AS INT) AS e0,
      |    l_quantity AS q
      |  FROM lineitem)
      |SELECT a.iid, count(*) AS n_overlap,
      |       round(sum(b.q), 4) AS qty_overlap_sum
      |FROM f a JOIN f b
      |  ON a.k = b.k AND a.iid <> b.iid AND a.s0 <= b.e0 AND b.s0 <= a.e0
      |GROUP BY a.iid""".stripMargin

  /** [[curveRead]]'s mirror: the bbox filter over the same points. */
  private val curveReadOracle: String =
    """WITH pts AS (SELECT c_custkey,
      |    (c_custkey % 120) * 0.5 - 30 + 0.25 AS lon,
      |    (c_custkey % 80) * 0.5 - 20 + 0.25 AS lat FROM customer)
      |SELECT c_custkey, round(lon, 6) AS lon6, round(lat, 6) AS lat6
      |FROM pts
      |WHERE lon >= -10.0 AND lon <= 5.0 AND lat >= -10.0 AND lat <= 5.0""".stripMargin

  /** [[manifestCurveScan]]'s mirror: the custkey range over all orders. */
  private val manifestCurveScanOracle: String =
    """WITH b AS (SELECT max(o_custkey) AS mx FROM orders)
      |SELECT o_orderstatus, count(*) AS cnt,
      |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key
      |FROM orders, b
      |WHERE o_custkey >= b.mx // 4 AND o_custkey <= b.mx // 2
      |GROUP BY 1""".stripMargin

  /** The orders of the two appends (key % 4 of 0 and 1) a manifest table
    * reads back, per status.
    */
  private val twoOrderAppendsOracle: String =
    """SELECT o_orderstatus, count(*) AS cnt,
      |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key
      |FROM orders WHERE o_orderkey % 4 <= 1 GROUP BY 1""".stripMargin

  /** DuckDB-runnable SQL twin for each `queries` key (same column names). */
  def oracleSql: Map[String, String] = Map[String, String](
    "subset_cols" ->
      "SELECT c_custkey AS id, c_acctbal AS bal, c_mktsegment FROM customer",
    "crossjoin_count" ->
      "SELECT r_name, count(*) AS n FROM region CROSS JOIN nation GROUP BY r_name",
    "lookup_first" ->
      "SELECT c_custkey, n_name FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey",
    "dedup_exact" ->
      """SELECT d.lang AS lang, count(*) AS n_docs
        |FROM documents d
        |JOIN (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text) k
        |  ON d.doc_id = k.doc_id
        |GROUP BY d.lang""".stripMargin,
    "events_window" ->
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_ts,
        |       event_type, count(*) AS n_events,
        |       round(sum(value), 4) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "geo_area" ->
      s"""WITH p AS (SELECT n_nationkey,
         |  (n_nationkey % 10) * 3.0 - 15 + 0.5 AS lonc,
         |  (n_nationkey % 7) * 8.0 - 24 + 0.5 AS latc,
         |  0.1 + (n_nationkey % 3) * 0.05 AS h FROM nation),
         |m AS (SELECT n_nationkey,
         |  ${mx("lonc - h")} AS x1, ${mx("lonc + h")} AS x2,
         |  ${my("latc - h")} AS y1, ${my("latc + h")} AS y2 FROM p)
         |SELECT n_nationkey,
         |  round((x2-x1)*(y2-y1) * cos(radians(${invLat("(y1+y2)/2")})) * cos(radians(${invLat("(y1+y2)/2")})) / 1e6, 3) AS area_km2
         |FROM m""".stripMargin,
    "geo_length" ->
      s"""WITH p AS (SELECT c_custkey,
         |  (c_custkey % 120) * 0.5 - 30 + 0.25 AS lon1,
         |  (c_custkey % 80) * 0.5 - 20 + 0.25 AS lat1 FROM customer),
         |p2 AS (SELECT c_custkey, lon1, lat1,
         |  lon1 + 0.3 + (c_custkey % 4) * 0.1 AS lon2, lat1 + 0.2 AS lat2 FROM p),
         |m AS (SELECT c_custkey,
         |  ${mx("lon1")} AS x1, ${my("lat1")} AS y1,
         |  ${mx("lon2")} AS x2, ${my("lat2")} AS y2 FROM p2)
         |SELECT c_custkey,
         |  round(sqrt((x2-x1)*(x2-x1) + (y2-y1)*(y2-y1)) * cos(radians(${invLat("(y1+y2)/2")})) / 1000, 3) AS len_km
         |FROM m""".stripMargin,
    "geo_buffer_area" ->
      """SELECT s_suppkey,
        |  round(0.5 * 32 * pow(1000.0 + (s_suppkey % 5) * 500.0, 2) * sin(2*pi()/32) / 1e6, 4) AS buf_km2
        |FROM supplier""".stripMargin,
    "geo_convert" ->
      s"""SELECT c_custkey,
         |  round(${mx("(c_custkey % 120) * 0.5 - 30 + 0.25")}, 2) AS x_m,
         |  round(${my("(c_custkey % 80) * 0.5 - 20 + 0.25")}, 2) AS y_m
         |FROM customer""".stripMargin,
    "sjoin_full" ->
      s"""SELECT c_custkey, n_nationkey FROM customer, nation
         |WHERE $custZoneSql""".stripMargin,
    "sjoin_agg" ->
      s"""SELECT n_nationkey, count(*) AS n_pts, round(sum(c_acctbal), 2) AS bal_sum
         |FROM customer, nation WHERE $custZoneSql
         |GROUP BY n_nationkey""".stripMargin,
    "sjoin_knn" ->
      s"""WITH lp AS (SELECT c_custkey, (c_custkey % 120) * 0.5 - 30 + 0.25 AS x,
         |    (c_custkey % 80) * 0.5 - 20 + 0.25 AS y FROM customer),
         |rp AS (SELECT s_suppkey, (s_suppkey % 37) * 1.3 - 24 + 0.11 AS x,
         |    (s_suppkey % 23) * 1.7 - 19 + 0.07 AS y FROM supplier),
         |pairs AS (SELECT l.c_custkey, r.s_suppkey, ${havSql("l.x", "l.y", "r.x", "r.y")} AS d
         |  FROM lp l, rp r),
         |best AS (SELECT c_custkey, s_suppkey, d,
         |  row_number() OVER (PARTITION BY c_custkey ORDER BY d, s_suppkey) AS rn
         |  FROM pairs WHERE d <= 300000.0)
         |SELECT c_custkey, s_suppkey, round(d, 3) AS knn_dist_m,
         |  CAST(rn AS BIGINT) AS knn_rank FROM best WHERE rn <= 3""".stripMargin,
    "sjoin_nearest" ->
      s"""WITH lp AS (SELECT c_custkey, (c_custkey % 120) * 0.5 - 30 + 0.25 AS x,
         |    (c_custkey % 80) * 0.5 - 20 + 0.25 AS y FROM customer),
         |rp AS (SELECT s_suppkey, (s_suppkey % 37) * 1.3 - 24 + 0.11 AS x,
         |    (s_suppkey % 23) * 1.7 - 19 + 0.07 AS y FROM supplier),
         |pairs AS (SELECT l.c_custkey, r.s_suppkey, ${havSql("l.x", "l.y", "r.x", "r.y")} AS d
         |  FROM lp l, rp r),
         |best AS (SELECT c_custkey, s_suppkey, d,
         |  row_number() OVER (PARTITION BY c_custkey ORDER BY d, s_suppkey) AS rn
         |  FROM pairs WHERE d <= 300000.0)
         |SELECT c_custkey, s_suppkey, round(d, 3) AS nearest_dist_m FROM best WHERE rn = 1""".stripMargin,
    "sjoin_dwithin" ->
      s"""WITH lp AS (SELECT c_custkey, (c_custkey % 120) * 0.5 - 30 + 0.25 AS x,
         |    (c_custkey % 80) * 0.5 - 20 + 0.25 AS y FROM customer),
         |rp AS (SELECT s_suppkey, (s_suppkey % 37) * 1.3 - 24 + 0.11 AS x,
         |    (s_suppkey % 23) * 1.7 - 19 + 0.07 AS y FROM supplier),
         |pairs AS (SELECT l.c_custkey, r.s_suppkey, ${havSql("l.x", "l.y", "r.x", "r.y")} AS d
         |  FROM lp l, rp r)
         |SELECT c_custkey, count(*) AS n_within, round(min(d), 3) AS min_dist_m
         |FROM pairs WHERE d <= 300000.0 GROUP BY c_custkey""".stripMargin,
    "sjoin_lookup" ->
      s"""SELECT c.c_custkey, arg_min(n.n_name, n.n_nationkey) AS n_name
         |FROM customer c LEFT JOIN nation n ON ($custZoneSql)
         |GROUP BY c.c_custkey""".stripMargin,
    "sjoin_filter" ->
      s"""SELECT c_custkey, c_acctbal FROM customer c
         |WHERE EXISTS (SELECT 1 FROM nation n WHERE $custZoneSql)""".stripMargin,
    "route_greatcircle" ->
      s"""WITH p AS (SELECT c_custkey,
         |  (c_custkey % 120) * 0.5 - 30 + 0.25 AS lon1,
         |  (c_custkey % 80) * 0.5 - 20 + 0.25 AS lat1 FROM customer),
         |p2 AS (SELECT c_custkey, lon1, lat1,
         |  lon1 + 0.3 + (c_custkey % 4) * 0.1 AS lon2, lat1 + 0.2 AS lat2 FROM p),
         |d AS (SELECT c_custkey, ${havSql("lon1", "lat1", "lon2", "lat2")} AS dist FROM p2)
         |SELECT c_custkey, round(dist/1000, 3) AS dist_km, round(dist/25.0, 3) AS duration_s
         |FROM d""".stripMargin,
    "route_waypoints" ->
      s"""WITH p AS (SELECT c_custkey,
         |  (c_custkey % 120) * 0.5 - 30 + 0.25 AS lon1,
         |  (c_custkey % 80) * 0.5 - 20 + 0.25 AS lat1 FROM customer),
         |p2 AS (SELECT c_custkey, lon1, lat1,
         |  lon1 + 0.3 + (c_custkey % 4) * 0.1 AS lon2, lat1 + 0.2 AS lat2,
         |  lon1 + 0.1 AS lon3, lat1 + 0.5 AS lat3 FROM p),
         |d AS (SELECT c_custkey,
         |  ${havSql("lon1", "lat1", "lon2", "lat2")} + ${havSql("lon2", "lat2", "lon3", "lat3")} AS dist
         |  FROM p2)
         |SELECT c_custkey, round(dist/1000, 3) AS wp_dist_km, round(dist/25.0, 3) AS wp_duration_s
         |FROM d""".stripMargin,
    "table_route" ->
      s"""WITH s AS (SELECT n_nationkey,
         |  (n_nationkey % 12) * 5.0 - 27.5 AS lon1, (n_nationkey % 5) * 8.0 - 17.0 AS lat1 FROM nation),
         |t AS (SELECT r_regionkey,
         |  r_regionkey * 12.0 - 24.0 AS lon2, r_regionkey * 7.0 - 14.0 AS lat2 FROM region),
         |d AS (SELECT n_nationkey, r_regionkey, ${havSql("lon1", "lat1", "lon2", "lat2")} AS dist FROM s, t)
         |SELECT n_nationkey, r_regionkey, round(dist/1000, 3) AS dist_km, round(dist/25.0, 3) AS duration_s
         |FROM d""".stripMargin,
    "sjoin_rects" ->
      """SELECT n_nationkey, s_suppkey FROM nation, supplier
        |WHERE ((n_nationkey % 12) * 5.0 - 30) <= ((s_suppkey % 15) * 4.0 - 30 + 3.0)
        |  AND ((s_suppkey % 15) * 4.0 - 30) <= ((n_nationkey % 12) * 5.0 - 30 + 4.0)
        |  AND ((n_nationkey % 5) * 8.0 - 20) <= ((s_suppkey % 9) * 5.0 - 22 + 4.0)
        |  AND ((s_suppkey % 9) * 5.0 - 22) <= ((n_nationkey % 5) * 8.0 - 20 + 6.0)""".stripMargin,
    "sjoin_xl" ->
      """SELECT n_nationkey, count(*) AS n_items, round(sum(l_quantity), 2) AS qty_sum
        |FROM lineitem, nation
        |WHERE ((l_partkey % 120) * 0.5 - 30 + 0.25) > ((n_nationkey % 12) * 5.0 - 30)
        |  AND ((l_partkey % 120) * 0.5 - 30 + 0.25) < ((n_nationkey % 12) * 5.0 - 30 + 4.0)
        |  AND ((l_orderkey % 80) * 0.5 - 20 + 0.25) > ((n_nationkey % 5) * 8.0 - 20)
        |  AND ((l_orderkey % 80) * 0.5 - 20 + 0.25) < ((n_nationkey % 5) * 8.0 - 20 + 6.0)
        |GROUP BY n_nationkey""".stripMargin,
    "sjoin_skew" ->
      """SELECT s_suppkey, count(*) AS n_items, round(sum(l_quantity), 2) AS qty_sum
        |FROM lineitem, supplier
        |WHERE ((l_orderkey % 100) * 0.004 + 0.05) > ((s_suppkey % 20) * 0.02)
        |  AND ((l_orderkey % 100) * 0.004 + 0.05) < ((s_suppkey % 20) * 0.02 + 0.05)
        |  AND ((l_partkey % 100) * 0.004 + 0.05) > ((s_suppkey % 25) * 0.016)
        |  AND ((l_partkey % 100) * 0.004 + 0.05) < ((s_suppkey % 25) * 0.016 + 0.05)
        |GROUP BY s_suppkey""".stripMargin,
    "geo_intersection_area" ->
      """SELECT n_nationkey, round(
        |  greatest(0, least(((n_nationkey % 12) * 5.0 - 30) + 4.0, 10) - greatest((n_nationkey % 12) * 5.0 - 30, -10))
        |  * greatest(0, least(((n_nationkey % 5) * 8.0 - 20) + 6.0, 10) - greatest((n_nationkey % 5) * 8.0 - 20, -10)),
        |  6) AS ix_area
        |FROM nation""".stripMargin,
    "sjoin_areal" ->
      """WITH z AS (SELECT n_nationkey,
        |    (n_nationkey % 12) * 5.0 - 30 AS sx0, (n_nationkey % 5) * 8.0 - 20 AS sy0,
        |    CAST((n_nationkey + 1) * 100 AS DOUBLE) AS pop FROM nation),
        |t AS (SELECT s_suppkey,
        |    (s_suppkey % 40) * 1.5 - 30 AS tx0, (s_suppkey % 25) * 1.6 - 20 AS ty0
        |  FROM supplier)
        |SELECT s_suppkey, round(sum(pop *
        |    (greatest(0, least(CAST(sx0 + 4 AS DOUBLE), CAST(tx0 + 2.0 AS DOUBLE))
        |        - greatest(CAST(sx0 AS DOUBLE), CAST(tx0 AS DOUBLE)))
        |     * greatest(0, least(CAST(sy0 + 6 AS DOUBLE), CAST(ty0 + 2.5 AS DOUBLE))
        |        - greatest(CAST(sy0 AS DOUBLE), CAST(ty0 AS DOUBLE))))
        |    / CAST(24 AS DOUBLE)), 6) AS pop_est6
        |FROM z JOIN t ON sx0 <= tx0 + 2.0 AND tx0 <= sx0 + 4
        |  AND sy0 <= ty0 + 2.5 AND ty0 <= sy0 + 6
        |GROUP BY s_suppkey""".stripMargin,
    "sjoin_heavy" ->
      """SELECT s_suppkey, count(*) AS n_pts, round(sum(c_acctbal), 2) AS bal_sum
        |FROM supplier, customer
        |WHERE ((c_custkey % 120) * 0.5 - 30 + 0.25) > ((s_suppkey % 40) * 1.5 - 30)
        |  AND ((c_custkey % 120) * 0.5 - 30 + 0.25) < ((s_suppkey % 40) * 1.5 - 30 + 2.0)
        |  AND ((c_custkey % 80) * 0.5 - 20 + 0.25) > ((s_suppkey % 25) * 1.6 - 20)
        |  AND ((c_custkey % 80) * 0.5 - 20 + 0.25) < ((s_suppkey % 25) * 1.6 - 20 + 2.5)
        |GROUP BY s_suppkey""".stripMargin,
    "geo_snap" ->
      """SELECT c_custkey,
        |  round(floor(CAST((c_custkey % 120) * 0.37 - 22.2 AS DOUBLE) / 0.25 + 0.5) * 0.25, 6) AS sx,
        |  round(floor(CAST((c_custkey % 80) * 0.29 - 11.6 AS DOUBLE) / 0.25 + 0.5) * 0.25, 6) AS sy
        |FROM customer""".stripMargin,
    "geo_subdivide" ->
      """SELECT n_nationkey,
        |  round(48 * CAST(0.3 + (n_nationkey % 3) * 0.1 AS DOUBLE)
        |           * CAST(0.3 + (n_nationkey % 3) * 0.1 AS DOUBLE)
        |           * sin(2 * pi() / 96), 6) AS area6,
        |  TRUE AS all_bounded
        |FROM nation""".stripMargin,
    "geo_dissolve_area" ->
      s"""WITH d AS (SELECT DISTINCT
         |  (s_suppkey % 10) * 12.0 - 54 AS lon, (s_suppkey % 7) * 9.0 - 27 AS lat FROM supplier),
         |m AS (SELECT ${my("lat")} AS y,
         |  0.5 * 32 * (1500.0/cos(radians(lat))) * (1500.0/cos(radians(lat))) * sin(2*pi()/32) AS a
         |  FROM d),
         |g AS (SELECT sum(a) AS at, sum(a * y) / sum(a) AS yc FROM m)
         |SELECT round(at * cos(radians(${invLat("yc")})) * cos(radians(${invLat("yc")})) / 1e6, 2)
         |  AS dissolved_km2
         |FROM g""".stripMargin,
    "subset_star" ->
      "SELECT c_name AS name, c_custkey, c_nationkey, c_mktsegment FROM customer",
    "geo_centroid" ->
      """SELECT n_nationkey,
        |  round((n_nationkey % 10) * 3.0 - 15 + 0.5, 6) AS cx,
        |  round((n_nationkey % 7) * 8.0 - 24 + 0.5, 6) AS cy
        |FROM nation""".stripMargin,
    "geo_distance" ->
      """WITH p AS (SELECT c_custkey,
        |  (c_custkey % 120) * 0.5 - 30 + 0.25 AS lon1,
        |  (c_custkey % 80) * 0.5 - 20 + 0.25 AS lat1 FROM customer),
        |p2 AS (SELECT c_custkey, lon1, lat1,
        |  lon1 + 0.3 + (c_custkey % 4) * 0.1 AS lon2, lat1 + 0.2 AS lat2 FROM p)
        |SELECT c_custkey,
        |  round(sqrt((lon2-lon1)*(lon2-lon1) + (lat2-lat1)*(lat2-lat1)), 6) AS dist_deg
        |FROM p2""".stripMargin,
    "lonlat_points" ->
      """SELECT c_custkey,
        |  round((c_custkey % 120) * 0.5 - 30 + 0.25, 6) AS px,
        |  round((c_custkey % 80) * 0.5 - 20 + 0.25, 6) AS py
        |FROM customer""".stripMargin,
    "events_sessionize" ->
      """WITH g AS (SELECT user_id, ts, value,
        |  CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |        OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) > 1800000000
        |       THEN 1 ELSE 0 END AS brk
        |  FROM events),
        |s AS (SELECT user_id, value,
        |  sum(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sess FROM g)
        |SELECT user_id, count(DISTINCT sess) AS n_sessions,
        |  count(*) AS n_events_total, round(sum(value), 4) AS value_total
        |FROM s GROUP BY user_id""".stripMargin,
    "events_scd" ->
      """WITH o AS (SELECT user_id, event_type, ts, event_id,
        |  lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |b AS (SELECT user_id, event_type, ts, event_id,
        |  CASE WHEN prev IS NULL OR prev <> event_type THEN 1 ELSE 0 END AS brk FROM o),
        |r AS (SELECT user_id, event_type, ts,
        |  sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rg FROM b),
        |runs AS (SELECT user_id, event_type, rg, min(ts) AS valid_from
        |  FROM r GROUP BY user_id, event_type, rg),
        |fin AS (SELECT user_id, event_type, valid_from,
        |  lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from) AS valid_to
        |  FROM runs)
        |SELECT user_id, event_type, epoch_us(valid_from) AS vf_us,
        |  coalesce(epoch_us(valid_to), -1) AS vt_us FROM fin""".stripMargin,
    "events_rolling" ->
      """SELECT event_id, user_id,
        |  count(*) OVER w AS rolling_n,
        |  round(sum(value) OVER w, 4) AS rolling_sum4
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""".stripMargin,
    "events_retention" ->
      """WITH p AS (SELECT user_id AS u, epoch_us(ts) // 86400000000 AS per
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |f AS (SELECT u, min(per) AS cohort FROM p GROUP BY u),
        |s AS (SELECT cohort, count(*) AS n_cohort FROM f GROUP BY cohort),
        |a AS (SELECT DISTINCT p.u, f.cohort, p.per - f.cohort AS off
        |  FROM p JOIN f ON p.u = f.u WHERE p.per - f.cohort <= 21),
        |c AS (SELECT cohort, off AS "offset", count(*) AS n_active
        |  FROM a GROUP BY cohort, off)
        |SELECT c.cohort, c."offset", c.n_active, s.n_cohort,
        |  round(CAST(c.n_active AS DOUBLE) / CAST(s.n_cohort AS DOUBLE), 6) AS retention6
        |FROM c JOIN s ON c.cohort = s.cohort""".stripMargin,
    "events_funnel" ->
      """WITH e AS (SELECT user_id AS u, event_type AS et, ts FROM events),
        |a AS (SELECT u, ts AS t1, row_number() OVER (ORDER BY u, ts) AS rid
        |  FROM e WHERE et = 'view'),
        |c2 AS (SELECT a.u, a.t1, a.rid, min(e.ts) AS t2 FROM a
        |  LEFT JOIN e ON e.u = a.u AND e.et = 'click' AND e.ts > a.t1
        |  GROUP BY a.u, a.t1, a.rid),
        |v2 AS (SELECT u, t1, rid, CASE WHEN epoch_us(t2) <= epoch_us(t1) + 259200000000
        |  THEN t2 END AS t2 FROM c2),
        |c3 AS (SELECT v.u, v.t1, v.rid, v.t2, min(e.ts) AS t3 FROM v2 v
        |  LEFT JOIN e ON e.u = v.u AND e.et = 'purchase'
        |    AND v.t2 IS NOT NULL AND e.ts > v.t2
        |  GROUP BY v.u, v.t1, v.rid, v.t2),
        |v3 AS (SELECT u, t1, rid, t2, CASE WHEN epoch_us(t3) <= epoch_us(t1) + 259200000000
        |  THEN t3 END AS t3 FROM c3)
        |SELECT u AS user_id,
        |  max(CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2
        |      ELSE 1 END) AS funnel_level,
        |  CAST(sum(CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_complete
        |FROM v3 GROUP BY u""".stripMargin,
    "events_asof" -> purchaseAsofClickOracle,
    // guard twin: the hot-key split path must reproduce the SAME native
    // ASOF result — identical oracle by construction
    "events_asof_split" -> purchaseAsofClickOracle,
    "osm_tagfilter" ->
      """WITH e AS (SELECT p_partkey AS osm_id, p_brand, p_type,
        |  CASE (p_partkey % 3) WHEN 0 THEN 'n' WHEN 1 THEN 'w' ELSE 'r' END AS type
        |  FROM part)
        |SELECT osm_id, type FROM e
        |WHERE (type IN ('w','r') AND p_brand IN ('Brand#13','Brand#23'))
        |   OR (type = 'n')""".stripMargin,
    "osm_crop" ->
      """WITH e AS (SELECT p_partkey AS id,
        |  CASE (p_partkey % 3) WHEN 0 THEN 'n' WHEN 1 THEN 'w' ELSE 'r' END AS type,
        |  CASE WHEN p_partkey % 3 = 0 THEN (p_partkey % 60) * 0.1 + 0.05 END AS lon,
        |  CASE WHEN p_partkey % 3 = 0 THEN (p_partkey % 35) * 0.1 - 1.05 END AS lat,
        |  CASE WHEN p_partkey % 3 = 1 THEN [p_partkey - 1, p_partkey + 2]
        |       WHEN p_partkey % 3 = 2 THEN [p_partkey - 1, p_partkey + 1] END AS refs
        |  FROM part),
        |kn AS (SELECT id FROM e WHERE type = 'n'
        |       AND lon > 1 AND lon < 4 AND lat > 0 AND lat < 2),
        |kw AS (SELECT DISTINCT e.id FROM e, unnest(e.refs) AS u(r)
        |       WHERE e.type = 'w' AND u.r IN (SELECT id FROM kn)),
        |kr AS (SELECT DISTINCT e.id FROM e, unnest(e.refs) AS u(r)
        |       WHERE e.type = 'r'
        |       AND u.r IN (SELECT id FROM kn UNION ALL SELECT id FROM kw))
        |SELECT id AS osm_id, type FROM e
        |WHERE (type = 'n' AND id IN (SELECT id FROM kn))
        |   OR (type = 'w' AND id IN (SELECT id FROM kw))
        |   OR (type = 'r' AND id IN (SELECT id FROM kr))""".stripMargin,
    "osm_assemble" ->
      """WITH n AS (SELECT p_partkey AS id,
        |    CAST((p_partkey % 60) * 0.1 + 0.05 AS DOUBLE) AS x,
        |    CAST((p_partkey % 35) * 0.1 - 1.05 AS DOUBLE) AS y
        |  FROM part WHERE p_partkey % 3 = 0),
        |w AS (SELECT p_partkey AS id, p_partkey % 6 = 4 AS poly
        |  FROM part WHERE p_partkey % 3 = 1),
        |j AS (SELECT w.id, w.poly, a.x AS xa, a.y AS ya, b.x AS xb, b.y AS yb,
        |    c.x AS xc, c.y AS yc
        |  FROM w
        |  JOIN n a ON a.id = w.id - 1
        |  JOIN n b ON b.id = w.id + 2
        |  LEFT JOIN n c ON c.id = w.id + 5),
        |lines AS (SELECT 'lines' AS layer, id AS osm_id,
        |    round(sqrt((xb - xa) * (xb - xa) + (yb - ya) * (yb - ya)), 6) AS measure6
        |  FROM j WHERE NOT poly),
        |polys AS (SELECT 'multipolygons' AS layer, id AS osm_id,
        |    round(abs(((xa * yb - xb * ya) + (xb * yc - xc * yb) + (xc * ya - xa * yc)) / 2.0), 6) AS measure6
        |  FROM j WHERE poly AND xc IS NOT NULL),
        |pts AS (SELECT 'points' AS layer, id AS osm_id, CAST(0 AS DOUBLE) AS measure6 FROM n)
        |SELECT * FROM pts UNION ALL SELECT * FROM lines UNION ALL SELECT * FROM polys""".stripMargin,
    "osm_assemble_rel" ->
      """WITH a AS (SELECT p_partkey AS k,
        |    CAST(1.0 AS DOUBLE) + (p_partkey % 5) * CAST(0.2 AS DOUBLE) AS s,
        |    (p_partkey % 50) * CAST(3.0 AS DOUBLE) AS x0,
        |    (p_partkey % 35) * CAST(3.0 AS DOUBLE) AS y0
        |  FROM part WHERE p_partkey % 6 = 2),
        |c AS (SELECT k,
        |    x0 AS xa, y0 AS ya, x0 + s AS xb, y0 AS yb,
        |    x0 + s AS xc, y0 + s AS yc, x0 AS xd, y0 + s AS yd,
        |    x0 + CAST(0.25 AS DOUBLE) AS xe, y0 + CAST(0.25 AS DOUBLE) AS ye,
        |    x0 + CAST(0.25 AS DOUBLE) + s/4 AS xf, y0 + CAST(0.25 AS DOUBLE) AS yf,
        |    x0 + CAST(0.25 AS DOUBLE) + s/4 AS xg, y0 + CAST(0.25 AS DOUBLE) + s/4 AS yg,
        |    x0 + CAST(0.25 AS DOUBLE) AS xh, y0 + CAST(0.25 AS DOUBLE) + s/4 AS yh
        |  FROM a),
        |mp AS (SELECT 'multipolygons' AS layer, 3000000 + k AS osm_id,
        |    round(abs(((xa*yb - xb*ya) + (xb*yc - xc*yb) + (xc*yd - xd*yc) + (xd*ya - xa*yd)) / 2)
        |        - abs(((xe*yf - xf*ye) + (xf*yg - xg*yf) + (xg*yh - xh*yg) + (xh*ye - xe*yh)) / 2),
        |      6) AS measure6
        |  FROM c),
        |b AS (SELECT p_partkey AS k,
        |    (p_partkey % 50) * CAST(3.0 AS DOUBLE) AS x0,
        |    (p_partkey % 35) * CAST(3.0 AS DOUBLE) AS y0,
        |    (p_partkey % 4) * CAST(0.3 AS DOUBLE) AS dx
        |  FROM part WHERE p_partkey % 6 = 5),
        |ml AS (SELECT 'multilinestrings' AS layer, 3000000 + k AS osm_id,
        |    round(sqrt(((x0 + dx) - x0)*((x0 + dx) - x0) + ((y0 + 1.0) - y0)*((y0 + 1.0) - y0))
        |        + sqrt(((x0 + dx + 1.0) - (x0 + dx))*((x0 + dx + 1.0) - (x0 + dx))
        |             + ((y0 + 1.5) - (y0 + 1.0))*((y0 + 1.5) - (y0 + 1.0))), 6) AS measure6
        |  FROM b),
        |ot AS (SELECT 'other_relations' AS layer, 3000000 + p_partkey AS osm_id,
        |    CAST(0 AS DOUBLE) AS measure6
        |  FROM part WHERE p_partkey % 6 = 0)
        |SELECT * FROM mp UNION ALL SELECT * FROM ml UNION ALL SELECT * FROM ot""".stripMargin,
    "osm_merge" ->
      """SELECT p_partkey AS osm_id,
        |  CASE (p_partkey % 3) WHEN 0 THEN 'n' WHEN 1 THEN 'w' ELSE 'r' END AS type,
        |  CASE WHEN p_partkey % 5 = 0 THEN 'PATCHED' ELSE p_brand END AS brand,
        |  CASE WHEN p_partkey % 3 = 0 THEN CAST(round((p_partkey % 60) * 0.1 + 0.05, 5) AS DOUBLE)
        |       ELSE -999.0 END AS lon5
        |FROM part""".stripMargin,
    // two-stage mirror: truncated-prefix cosine picks 4k survivors
    // (deterministic (-cos, id) order), full-dim cosine ranks the final k —
    // identical arithmetic in both engines, so the survivor SET matches
    // bit-for-bit and the oracle pins the whole composition
    "sim_matryoshka" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 8),
         |s1 AS (SELECT q.query_id, e.vec_id AS neighbor_id,
         |  ${OracleSql.cos("q.qe[1:16]", "e.embedding[1:16]")} AS cos1
         |  FROM embeddings e, q),
         |surv AS (SELECT query_id, neighbor_id FROM s1
         |  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cos1 DESC, neighbor_id) <= 20),
         |sc AS (SELECT s.query_id, s.neighbor_id,
         |  ${OracleSql.cos("q.qe", "e.embedding")} AS cos
         |  FROM surv s
         |  JOIN embeddings e ON e.vec_id = s.neighbor_id
         |  JOIN q ON q.query_id = s.query_id)
         |SELECT query_id, neighbor_id, round(cos, 6) AS cosine FROM sc
         |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) <= 5""".stripMargin,
    "sim_topk" -> exactTopkOracle,
    // int8 mirror: normalize -> quantize -> integer dot, all arithmetic in
    // the same shapes/order as the Spark side (round() is half-away-from-
    // zero on doubles in both engines)
    "sim_int8" ->
      """WITH nz AS (SELECT vec_id,
        |    CASE WHEN n > 0
        |      THEN list_transform(e, x -> CAST(x AS DOUBLE) / n)
        |      ELSE list_transform(e, x -> CAST(x AS DOUBLE)) END AS en
        |  FROM (SELECT vec_id, embedding AS e,
        |      sqrt(list_sum(list_transform(embedding,
        |        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS n
        |    FROM embeddings)),
        |qz AS (SELECT vec_id,
        |    CASE WHEN m > 0 THEN m / 127.0 ELSE 1.0 END AS s,
        |    list_transform(en, x -> CAST(round(x
        |      / (CASE WHEN m > 0 THEN m / 127.0 ELSE 1.0 END)) AS BIGINT)) AS q
        |  FROM (SELECT vec_id, en,
        |      list_max(list_transform(en, x -> abs(x))) AS m FROM nz)),
        |qs AS (SELECT vec_id AS query_id, s AS qscale, q AS qq FROM qz WHERE vec_id < 8),
        |sc AS (SELECT qs.query_id, c.vec_id AS neighbor_id,
        |    list_dot_product(qs.qq, c.q) * qs.qscale * c.s AS score
        |  FROM qz c, qs)
        |SELECT query_id, neighbor_id, round(score, 6) AS score FROM sc
        |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) <= 5""".stripMargin,
    "sim_project" -> OracleSql.simProject(),
    // probing all nlist cells makes IVF ≡ exact top-k (see queries entry)
    "sim_ivf" -> exactTopkOracle,
    // persisted-index search at nprobe = nlist is exactly brute force — the
    // parquet roundtrip must not change a single cosine
    "sim_ivf_index" -> exactTopkOracle,
    // the incrementally-refreshed index at nprobe = nlist probes every cell,
    // so the search is exactly brute force over base ∪ refreshed rows — the
    // same mirror gates it; assignment parity with a full rebuild is the
    // spec's job
    "sim_ivf_refresh" -> exactTopkOracle,
    // composed retriever at nprobe = nlist: int8 prefilter (sim_int8's exact
    // quantization mirror) keeps the top rescore·k = 20 per query, then the
    // true float cosine (sim_topk's mirror) ranks the survivors for top-5
    "sim_int8_ivf" -> int8IvfOracle,
    // the persisted-index variant runs the SAME algorithm from the parquet
    // layout (stored q8/q8_scale, no refit) — one mirror gates both, so the
    // roundtrip must not change a single candidate or cosine
    "sim_int8_ivf_index" -> int8IvfOracle,
    "text_quality" ->
      """WITH f AS (SELECT doc_id,
        |  CAST(length(text) AS DOUBLE) AS n_chars,
        |  len(string_split_regex(trim(text), '\s+')) AS n_tokens,
        |  CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
        |    / len(string_split_regex(trim(text), '\s+')) AS avg_token_len,
        |  (CAST(length(text) AS DOUBLE) - length(regexp_replace(text, '[.,;:!?]', '', 'g')))
        |    / CAST(length(text) AS DOUBLE) AS punct_ratio,
        |  (CAST(length(text) AS DOUBLE) - length(regexp_replace(text, '[0-9]', '', 'g')))
        |    / CAST(length(text) AS DOUBLE) AS digit_ratio,
        |  CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
        |      x -> list_contains(['the','and','of','to','a','in','is','it','that','was',
        |                          'for','on','with','as','at','by','an','be','this','are'], lower(x)))) AS DOUBLE)
        |    / len(string_split_regex(trim(text), '\s+')) AS stopword_ratio
        |  FROM documents)
        |SELECT doc_id, n_tokens,
        |  floor(avg_token_len * 10000.0 + 0.5) / 10000.0 AS avg_token_len,
        |  floor(stopword_ratio * 10000.0 + 0.5) / 10000.0 AS stopword_ratio,
        |  floor((0.4 * least(1.0, n_tokens / 50.0)
        |      + 0.3 * greatest(0.0, 1.0 - abs(avg_token_len - 5.0) / 5.0)
        |      + 0.3 * greatest(0.0, 1.0 - 5.0 * (punct_ratio + digit_ratio))) * 10000.0 + 0.5) / 10000.0 AS quality_score
        |FROM f""".stripMargin,
    "data_split" -> OracleSql.dataSplit(Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)),
    "data_split_safe" -> OracleSql.dataSplitSafe(
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), threshold = 0.7),
    "data_compact" ->
      "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem",
    "data_manifest_roundtrip" -> twoOrderAppendsOracle,
    "data_manifest_timetravel" ->
      """SELECT CAST(1 AS BIGINT) AS version, count(*) AS cnt,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key
        |FROM orders WHERE o_orderkey % 4 = 0
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), count(*), CAST(sum(o_orderkey) AS BIGINT)
        |FROM orders WHERE o_orderkey % 4 <= 1
        |UNION ALL
        |SELECT CAST(3 AS BIGINT), count(*), CAST(sum(o_orderkey) AS BIGINT)
        |FROM orders WHERE o_orderkey % 4 = 2""".stripMargin,
    "data_manifest_incremental" ->
      """SELECT o_orderstatus, count(*) AS cnt,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key
        |FROM orders WHERE o_orderkey % 4 IN (1, 2) GROUP BY 1""".stripMargin,
    "data_manifest_prune" ->
      """WITH b AS (SELECT max(o_orderkey) // 3 AS third FROM orders)
        |SELECT o_orderstatus, count(*) AS cnt,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key
        |FROM orders, b
        |WHERE o_orderkey > b.third AND o_orderkey <= 2 * b.third
        |GROUP BY 1""".stripMargin,
    "data_manifest_compact" ->
      """WITH b AS (SELECT max(o_orderkey) AS mx FROM orders)
        |SELECT o_orderstatus, count(*) AS cnt,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key
        |FROM orders, b
        |WHERE o_orderkey >= b.mx // 4 AND o_orderkey <= b.mx // 2
        |GROUP BY 1""".stripMargin,
    "data_manifest_delete" ->
      """WITH b AS (SELECT max(o_orderkey) // 3 AS third FROM orders)
        |SELECT o_orderstatus, count(*) AS cnt,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key
        |FROM orders, b
        |WHERE NOT (o_orderkey > b.third AND o_orderkey <= 2 * b.third)
        |GROUP BY 1""".stripMargin,
    "data_manifest_merge" ->
      """WITH m AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice AS price
        |  FROM orders WHERE o_orderkey % 4 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_orderstatus, o_totalprice * 2
        |  FROM orders WHERE o_orderkey % 4 IN (1, 2))
        |SELECT o_orderstatus, count(*) AS cnt,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |  CAST(sum(CAST(round(price * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM m GROUP BY 1""".stripMargin,
    "data_manifest_stream" ->
      """SELECT o_orderstatus, count(*) AS cnt,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key
        |FROM orders WHERE o_orderkey % 4 <= 2 GROUP BY 1""".stripMargin,
    // HAVING count(*) > 0 on every branch: the Spark side is a groupBy that
    // OMITS empty change classes, so an empty class must vanish here too
    // (at the shipped fixtures all three are non-empty; the guard keeps the
    // two sides agreeing by construction on any smaller fixture).
    "data_manifest_cdf" ->
      """SELECT 'added' AS change, count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS sum_key
        |FROM orders WHERE o_orderkey % 4 = 2 AND o_orderkey > 500
        |HAVING count(*) > 0
        |UNION ALL
        |SELECT 'removed', count(*), CAST(sum(o_orderkey) AS BIGINT)
        |FROM orders WHERE o_orderkey % 4 IN (0, 1) AND o_orderkey <= 500
        |HAVING count(*) > 0
        |UNION ALL
        |SELECT 'changed', count(*), CAST(sum(o_orderkey) AS BIGINT)
        |FROM orders
        |WHERE o_orderkey % 4 = 1 AND o_orderkey > 500
        |  AND o_totalprice <> o_totalprice * 2
        |HAVING count(*) > 0""".stripMargin,
    "data_manifest_describe" ->
      """SELECT CAST(1 AS BIGINT) AS version, 'append' AS action,
        |  count(*) AS n_rows FROM orders WHERE o_orderkey % 4 = 0
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), 'append', count(*)
        |FROM orders WHERE o_orderkey % 4 = 1""".stripMargin,
    "data_manifest_stats" ->
      """SELECT 'o_orderkey' AS col_name,
        |  CAST(min(o_orderkey) AS VARCHAR) AS min_v,
        |  CAST(max(o_orderkey) AS VARCHAR) AS max_v,
        |  CAST(0 AS BIGINT) AS n_nulls, count(*) AS n_rows FROM orders
        |UNION ALL
        |SELECT 'o_orderstatus', min(o_orderstatus), max(o_orderstatus),
        |  CAST(0 AS BIGINT), count(*) FROM orders""".stripMargin,
    "data_manifest_hilbert" -> manifestCurveScanOracle,
    "data_manifest_restore" -> twoOrderAppendsOracle,
    "data_manifest_zorder" -> manifestCurveScanOracle,
    "data_manifest_evolve" ->
      """SELECT o_orderstatus, count(*) AS cnt,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |  CAST(sum(CASE WHEN o_orderkey % 2 = 1
        |    THEN CAST(round(o_totalprice * 100) AS BIGINT) ELSE 0 END)
        |    AS BIGINT) AS cents
        |FROM orders GROUP BY 1""".stripMargin,
    "data_manifest_merge_clauses" ->
      """WITH m AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice AS price
        |  FROM orders WHERE o_orderkey % 4 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_orderstatus, o_totalprice * 2
        |  FROM orders WHERE o_orderkey % 4 = 2)
        |SELECT o_orderstatus, count(*) AS cnt,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |  CAST(sum(CAST(round(price * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM m GROUP BY 1""".stripMargin,
    "data_manifest_checkpoint" ->
      """SELECT o_orderstatus, count(*) AS cnt,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key
        |FROM orders GROUP BY 1""".stripMargin,
    "data_quantile_gate" -> OracleSql.quantileGateGroup("documents",
      "doc_id", "doc_id", "lang", "lang", "length(text)", "doclen",
      q = 0.3, bins = 64),
    "data_mix" -> OracleSql.dataMix(Seq("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2)),
    "data_mix_temp" -> OracleSql.dataMixTemp(alpha = 0.5),
    "text_decontam" -> OracleSql.decontaminate("doc_id % 50 = 0", n = 3, minHits = 5),
    "data_dsir" -> OracleSql.dsir("lang = 'en'", k = 100, buckets = 4096),
    "pipeline_rag" ->
      s"""WITH ck AS (SELECT doc_id*100000 + chunk_id AS doc_id, chunk_text AS text
         |  FROM (${OracleSql.textChunks(chunkTokens = 24, overlap = 8)}) c),
         |${bm25ScoreCtes(corpus = "ck")},
         |agg AS (SELECT query_id, doc // 100000 AS doc_id, max(score) AS score
         |  FROM rk WHERE rn <= 10 GROUP BY 1, 2)
         |SELECT query_id, doc_id, score FROM agg
         |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) <= 5""".stripMargin,
    "text_sentences" ->
      """WITH tk AS (SELECT doc_id, regexp_extract_all(text, '[^.!?]+[.!?]*') AS l
        |  FROM documents),
        |pos AS (SELECT doc_id, l, unnest(range(1, len(l) + 1)) AS i FROM tk)
        |SELECT doc_id, i AS sent_id, trim(l[i]) AS sentence FROM pos
        |WHERE length(trim(l[i])) > 0""".stripMargin,
    "sim_pool" ->
      s"""WITH px AS (SELECT label, i, round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS m
         |  FROM embeddings, generate_series(1, 64) AS g(i) GROUP BY label, i),
         |pv AS (SELECT label, list(m ORDER BY i) AS v FROM px GROUP BY label)
         |SELECT a.label AS label_a, b.label AS label_b,
         |  round(${OracleSql.cos("a.v", "b.v")}, 6) AS cosine
         |FROM pv a, pv b WHERE a.label < b.label""".stripMargin,
    "text_pack" ->
      """WITH tok AS (SELECT doc_id, doc_id % 8 AS shard,
        |  len(string_split_regex(trim(text), '\s+')) AS ws_tokens
        |  FROM documents),
        |pre AS (SELECT doc_id, shard,
        |  coalesce(sum(ws_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
        |  FROM tok)
        |SELECT doc_id, shard, CAST(floor(before / 512.0) AS BIGINT) AS pack_id FROM pre""".stripMargin,
    "text_tokens" ->
      """SELECT doc_id,
        |  len(string_split_regex(trim(text), '\s+')) AS ws_tokens,
        |  len(regexp_extract_all(text, '\w+|[^\w\s]')) AS bpe_tokens
        |FROM documents""".stripMargin,
    "text_redundancy" ->
      """SELECT doc_id,
        |  CASE WHEN length(text) >= 8 THEN
        |    round(CAST(len(list_distinct(list_transform(
        |        generate_series(1, length(text) - 7), i -> substr(text, i, 8))))
        |      AS DOUBLE) / CAST(length(text) - 7 AS DOUBLE), 6)
        |  ELSE 1.0 END AS gram_ratio
        |FROM documents""".stripMargin,
    "text_nbclassify" -> OracleSql.textNbClassify(),
    "text_bm25" -> bm25OracleSql,
    "text_bm25_index" -> bm25OracleSql,
    // the refreshed index must be value-identical to the full-corpus build,
    // so ONE mirror gates build, roundtrip, and incremental refresh
    "text_bm25_refresh" -> bm25OracleSql,
    "text_tfidf" ->
      """WITH w AS (SELECT doc_id,
        |    unnest(list_filter(string_split(lower(trim(text)), ' '), s -> s <> '')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM w GROUP BY 1, 2),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |nd AS (SELECT count(DISTINCT doc_id) AS n FROM tf),
        |sc AS (SELECT tf.doc_id, tf.term, tf.tf,
        |    round(tf.tf * ln(CAST(nd.n AS DOUBLE) / CAST(dfreq.df AS DOUBLE)), 4) AS score
        |  FROM tf JOIN dfreq USING (term) CROSS JOIN nd),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rn
        |  FROM sc)
        |SELECT doc_id, term, tf, score FROM rk WHERE rn <= 5""".stripMargin,
    "geo_convert_utm" -> OracleSql.geoConvertUtm(zone = 31),
    "geo_zorder" -> OracleSql.geoZorder(),
    "geo_hilbert" -> OracleSql.geoHilbert(),
    "geo_dbscan" -> OracleSql.geoDbscan(),
    "sim_kmeans" -> OracleSql.simKmeans(k = 8, iters = 3, seed = 42L, dim = 64),
    "geo_geohash" -> OracleSql.geoGeohash(),
    "hilbert_read" -> curveReadOracle,
    "zorder_read" -> curveReadOracle,
    "geo_convert_lcc" -> OracleSql.geoConvertLcc(),
    "geo_convert_laea" -> OracleSql.geoConvertLaea(),
    "geo_convert_albers" -> OracleSql.geoConvertAlbers(),
    "text_pii" -> {
      val chain = TextAnalysis.piiPatterns.foldLeft("t2") { case (acc, (pat, repl)) =>
        s"regexp_replace($acc, '$pat', '$repl', 'g')"
      }
      s"""WITH p AS (SELECT doc_id,
         |  text || ' reach user' || doc_id || '@mail.example.com or 10.0.' || (doc_id % 256)
         |       || '.9 ssn 123-45-6789 call +1-555-' || (doc_id % 9000 + 1000) AS t2
         |  FROM documents)
         |SELECT doc_id, $chain AS text_clean FROM p""".stripMargin
    },
    // sketch-kernel mirrors (bit-exact 64-bit arithmetic in DuckDB — see OracleSql)
    "text_fingerprint" -> OracleSql.fingerprint(),
    "text_langid" -> OracleSql.langid(),
    "text_repetition" -> OracleSql.textRepetition(),
    "text_perplexity" -> OracleSql.textPerplexity(),
    "text_boilerplate" -> OracleSql.textBoilerplate(),
    "text_segdedup" -> OracleSql.textSegdedup(),
    "text_substrdup" -> OracleSql.textSubstrdup(),
    "text_spans" -> OracleSql.textSpans(),
    "url_normalize" -> OracleSql.urlNormalize(),
    "url_domain_cap" -> OracleSql.urlDomainCap(),
    "text_gopher" -> OracleSql.textGopher(minWords = 40),
    "text_chunks" -> OracleSql.textChunks(),
    "stats_outliers" ->
      """WITH li AS (SELECT l_orderkey, l_partkey, CAST(l_quantity AS DOUBLE) AS q
        |  FROM lineitem WHERE l_partkey % 50 = 0),
        |st AS (SELECT l_partkey, count(q) AS n, sum(q) AS s, sum(q*q) AS s2
        |  FROM li GROUP BY l_partkey),
        |jz AS (SELECT li.l_orderkey, li.l_partkey, li.q,
        |  CASE WHEN (st.s2 - st.s*st.s/st.n)/st.n > 0
        |    THEN (li.q - st.s/st.n) / sqrt((st.s2 - st.s*st.s/st.n)/st.n)
        |    ELSE 0.0 END AS z
        |  FROM li JOIN st ON li.l_partkey = st.l_partkey)
        |SELECT l_orderkey, l_partkey, q AS l_quantity,
        |  round(z, 6) AS zscore, abs(z) > 1.5 AS is_outlier
        |FROM jz""".stripMargin,
    "events_features" ->
      """SELECT user_id,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
        |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
        |  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
        |  count(*) AS n_events,
        |  round(sum(value), 4) AS value_sum4,
        |  round(avg(value), 6) AS value_mean6,
        |  min(epoch_us(ts)) AS first_us, max(epoch_us(ts)) AS last_us,
        |  max(epoch_us(ts)) - min(epoch_us(ts)) AS tenure_us
        |FROM events WHERE user_id IS NOT NULL GROUP BY user_id""".stripMargin,
    "events_attribution" ->
      """WITH c AS (SELECT event_id AS cid, user_id AS u, epoch_us(ts) AS ct, value AS v
        |  FROM events WHERE event_type = 'purchase' AND user_id IS NOT NULL),
        |t AS (SELECT event_id AS tid, user_id AS u, epoch_us(ts) AS tt
        |  FROM events WHERE event_type IN ('click', 'view') AND user_id IS NOT NULL),
        |p AS (SELECT c.cid, c.v, t.tid FROM c JOIN t ON c.u = t.u
        |  AND t.tt >= c.ct - 259200000000 AND t.tt <= c.ct),
        |w AS (SELECT cid, v, tid, count(*) OVER (PARTITION BY cid) AS n FROM p)
        |SELECT tid AS touch_id, count(*) AS n_convs,
        |  round(sum(v / n), 6) AS credit6
        |FROM w GROUP BY tid""".stripMargin,
    "basket_lift" ->
      """WITH it AS (SELECT DISTINCT l_orderkey AS b, l_partkey % 100 AS i
        |  FROM lineitem WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
        |sz AS (SELECT b, count(*) AS n FROM it GROUP BY b),
        |ok AS (SELECT it.b, it.i FROM it JOIN sz ON it.b = sz.b
        |  WHERE sz.n <= 1000 AND sz.n >= 2),
        |nb AS (SELECT count(DISTINCT b) AS nb FROM ok),
        |m AS (SELECT i, count(*) AS m FROM ok GROUP BY i),
        |p AS (SELECT x.i AS item_a, y.i AS item_b, count(*) AS n_both
        |  FROM ok x JOIN ok y ON x.b = y.b AND x.i < y.i
        |  GROUP BY 1, 2 HAVING count(*) >= 3)
        |SELECT p.item_a, p.item_b, p.n_both,
        |  round(nb.nb * CAST(p.n_both AS DOUBLE)
        |    / (CAST(ma.m AS DOUBLE) * CAST(mb.m AS DOUBLE)), 6) AS lift6
        |FROM p JOIN m ma ON p.item_a = ma.i JOIN m mb ON p.item_b = mb.i
        |CROSS JOIN nb""".stripMargin,
    "events_transitions" ->
      """WITH p AS (SELECT event_type AS from_state,
        |  lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_state
        |  FROM events WHERE user_id IS NOT NULL),
        |c AS (SELECT from_state, to_state, count(*) AS n_transitions
        |  FROM p WHERE to_state IS NOT NULL GROUP BY 1, 2),
        |tt AS (SELECT from_state, sum(n_transitions) AS rt FROM c GROUP BY 1)
        |SELECT c.from_state, c.to_state, c.n_transitions,
        |  round(CAST(c.n_transitions AS DOUBLE) / CAST(tt.rt AS DOUBLE), 6) AS p6
        |FROM c JOIN tt ON c.from_state = tt.from_state""".stripMargin,
    "events_autocorr" ->
      """WITH e AS (SELECT user_id AS u, epoch_us(ts) // 3600000000 AS b, value AS v, ts, event_id
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |rn AS (SELECT u, b, v,
        |  row_number() OVER (PARTITION BY u, b ORDER BY ts DESC, event_id DESC) AS rn FROM e),
        |bv AS (SELECT u, b, v FROM rn WHERE rn = 1),
        |r AS (SELECT u, min(b) AS b0, max(b) AS b1 FROM bv GROUP BY u),
        |spine AS (SELECT u, unnest(generate_series(b0, b1)) AS b FROM r),
        |j AS (SELECT s.u, s.b, bv.v FROM spine s
        |  LEFT JOIN bv ON bv.u = s.u AND bv.b = s.b),
        |f AS (SELECT u, b,
        |  last_value(v IGNORE NULLS) OVER (PARTITION BY u ORDER BY b
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS x
        |  FROM j),
        |lagged AS (SELECT u, x, lag(x, 24) OVER (PARTITION BY u ORDER BY b) AS y FROM f),
        |p AS (SELECT u, x, y FROM lagged WHERE y IS NOT NULL),
        |st AS (SELECT u, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
        |    sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
        |  FROM p GROUP BY u HAVING count(*) >= 2)
        |SELECT u AS user_id, n AS n_pairs,
        |  CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
        |    THEN round((n * sxy - sx * sy)
        |      / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 4)
        |    ELSE -1.0 END AS acf4
        |FROM st""".stripMargin,
    "events_gapfill" ->
      """WITH e AS (SELECT user_id AS u, epoch_us(ts) // 3600000000 AS b, value AS v, ts, event_id
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |rn AS (SELECT u, b, v,
        |  row_number() OVER (PARTITION BY u, b ORDER BY ts DESC, event_id DESC) AS rn FROM e),
        |bv AS (SELECT u, b, v FROM rn WHERE rn = 1),
        |r AS (SELECT u, min(b) AS b0, max(b) AS b1 FROM bv GROUP BY u),
        |spine AS (SELECT u, unnest(generate_series(b0, b1)) AS b FROM r),
        |j AS (SELECT s.u, s.b, bv.v FROM spine s
        |  LEFT JOIN bv ON bv.u = s.u AND bv.b = s.b)
        |SELECT u AS user_id, b AS bucket,
        |  coalesce(round(last_value(v IGNORE NULLS) OVER (PARTITION BY u ORDER BY b
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6), -1.0) AS filled6,
        |  v IS NULL AS is_gap
        |FROM j""".stripMargin,
    "events_gapfill_interp" ->
      """WITH e AS (SELECT user_id AS u, epoch_us(ts) // 3600000000 AS b, value AS v, ts, event_id
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |rn AS (SELECT u, b, v,
        |  row_number() OVER (PARTITION BY u, b ORDER BY ts DESC, event_id DESC) AS rn FROM e),
        |bv AS (SELECT u, b, v FROM rn WHERE rn = 1),
        |r AS (SELECT u, min(b) AS b0, max(b) AS b1 FROM bv GROUP BY u),
        |spine AS (SELECT u, unnest(generate_series(b0, b1)) AS b FROM r),
        |j AS (SELECT s.u, s.b, bv.v FROM spine s
        |  LEFT JOIN bv ON bv.u = s.u AND bv.b = s.b),
        |w AS (SELECT u, b, v,
        |  last_value(v IGNORE NULLS) OVER (PARTITION BY u ORDER BY b
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        |  last_value(CASE WHEN v IS NOT NULL THEN b END IGNORE NULLS) OVER (PARTITION BY u ORDER BY b
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pb,
        |  first_value(v IGNORE NULLS) OVER (PARTITION BY u ORDER BY b
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        |  first_value(CASE WHEN v IS NOT NULL THEN b END IGNORE NULLS) OVER (PARTITION BY u ORDER BY b
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nb
        |  FROM j)
        |SELECT u AS user_id, b AS bucket,
        |  coalesce(round((CASE WHEN v IS NOT NULL THEN v
        |    ELSE pv + (nv - pv) * (CAST(b - pb AS DOUBLE) / CAST(nb - pb AS DOUBLE)) END)
        |    + CAST('1e-9' AS DOUBLE), 6),
        |    -1.0) AS interp6,
        |  v IS NULL AS is_gap
        |FROM w""".stripMargin,
    "data_upsert" ->
      """WITH ch AS (SELECT user_id AS k, value AS bal, 'seg_' || event_type AS seg,
        |  CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op, ts, event_id
        |  FROM events WHERE event_type IN ('purchase', 'error')),
        |f AS (SELECT k, bal, seg, op,
        |  row_number() OVER (PARTITION BY k ORDER BY ts DESC, event_id DESC) AS rn FROM ch),
        |fr AS (SELECT k, bal, seg, op FROM f WHERE rn = 1),
        |m AS (SELECT coalesce(c.c_custkey, fr.k) AS k,
        |  CASE WHEN fr.k IS NOT NULL THEN fr.bal ELSE c.c_acctbal END AS bal,
        |  CASE WHEN fr.k IS NOT NULL THEN fr.seg ELSE c.c_mktsegment END AS seg,
        |  fr.op AS op
        |  FROM customer c FULL OUTER JOIN fr ON c.c_custkey = fr.k)
        |SELECT k AS c_custkey, round(coalesce(bal, -1), 6) AS bal6,
        |  coalesce(seg, '') AS seg
        |FROM m WHERE op IS NULL OR op <> 'delete'""".stripMargin,
    "data_profile" -> OracleSql.dataProfile(
      Seq("l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag")),
    "stats_corr" -> OracleSql.statsCorr(
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")),
    "stats_entropy" -> OracleSql.statsEntropy(
      Seq("l_returnflag", "l_linestatus", "l_quantity", "l_orderkey")),
    "data_drift" ->
      """WITH b AS (SELECT unnest(range(0, 10)) AS bin),
        |r AS (SELECT least(greatest(CAST(floor((value - 0) / CAST(50 AS DOUBLE)) AS BIGINT), 0), 9) AS bin,
        |    count(*) AS n FROM events
        |  WHERE value IS NOT NULL AND epoch_us(ts) < epoch_us(TIMESTAMP '2024-01-16 00:00:00')
        |  GROUP BY 1),
        |c AS (SELECT least(greatest(CAST(floor((value - 0) / CAST(50 AS DOUBLE)) AS BIGINT), 0), 9) AS bin,
        |    count(*) AS n FROM events
        |  WHERE value IS NOT NULL AND NOT (epoch_us(ts) < epoch_us(TIMESTAMP '2024-01-16 00:00:00'))
        |  GROUP BY 1),
        |j AS (SELECT b.bin, coalesce(r.n, 0) AS n_ref, coalesce(c.n, 0) AS n_cur
        |  FROM b LEFT JOIN r ON b.bin = r.bin LEFT JOIN c ON b.bin = c.bin),
        |s AS (SELECT bin, n_ref, n_cur,
        |    greatest(CAST(n_ref AS DOUBLE) / sum(n_ref) OVER (), CAST('1e-6' AS DOUBLE)) AS p,
        |    greatest(CAST(n_cur AS DOUBLE) / sum(n_cur) OVER (), CAST('1e-6' AS DOUBLE)) AS q
        |  FROM j),
        |k AS (SELECT bin, n_ref, n_cur, (p - q) * ln(p / q) AS contrib FROM s)
        |SELECT bin, n_ref, n_cur, round(contrib, 6) AS contrib6,
        |  round(sum(contrib) OVER (), 6) AS psi6
        |FROM k""".stripMargin,
    "data_kanon" ->
      """SELECT c_nationkey, c_mktsegment, count(*) AS class_size
        |FROM customer GROUP BY 1, 2 HAVING count(*) < 10""".stripMargin,
    "stats_gini" ->
      """WITH c AS (SELECT source AS g, count(*) AS c FROM documents
        |  WHERE source IS NOT NULL GROUP BY 1),
        |r AS (SELECT g, c, row_number() OVER (ORDER BY c, g) AS r FROM c)
        |SELECT count(*) AS n_groups, CAST(sum(c) AS BIGINT) AS n_rows,
        |  round(CAST(2 AS DOUBLE) * CAST(sum(r * c) AS DOUBLE)
        |      / (CAST(count(*) AS DOUBLE) * CAST(sum(c) AS DOUBLE))
        |    - CAST(count(*) + 1 AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS gini6
        |FROM r""".stripMargin,
    "geo_hexbin" -> OracleSql.geoHexbin(size = 2.5),
    "sim_hybrid" -> simHybridOracleSql,
    "text_bpe" -> OracleSql.textBpe(m = 16),
    "sim_fps" -> OracleSql.simFps(k = 6),
    "setsim_containment" ->
      """WITH d AS (SELECT doc_id,
        |    list_distinct(list_filter(string_split(lower(trim(text)), ' '),
        |      s -> s <> '')) AS toks
        |  FROM documents),
        |dd AS (SELECT doc_id, toks, len(toks) AS n FROM d WHERE len(toks) > 0)
        |SELECT a.doc_id, b.doc_id AS doc_id_right,
        |  a.n AS left_size, b.n AS right_size,
        |  len(list_intersect(a.toks, b.toks)) AS overlap,
        |  round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        |    / CAST(a.n AS DOUBLE), 6) AS containment6
        |FROM dd a JOIN dd b ON a.doc_id % 20 = 3 AND a.doc_id <> b.doc_id
        |WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        |    / CAST(a.n AS DOUBLE) >= CAST('0.8' AS DOUBLE)""".stripMargin,
    "text_vocab_overlap" ->
      """WITH w AS (SELECT DISTINCT source AS g,
        |    unnest(regexp_extract_all(lower(text), '[\p{L}\p{Nd}]+')) AS w
        |  FROM documents WHERE source IS NOT NULL),
        |s AS (SELECT g, count(*) AS n FROM w GROUP BY g),
        |p AS (SELECT a.g AS group_a, b.g AS group_b, count(*) AS n_shared
        |  FROM w a JOIN w b ON a.w = b.w AND a.g < b.g GROUP BY 1, 2)
        |SELECT p.group_a, p.group_b, sa.n AS n_a, sb.n AS n_b, p.n_shared,
        |  round(CAST(p.n_shared AS DOUBLE)
        |    / CAST(sa.n + sb.n - p.n_shared AS DOUBLE), 6) AS jaccard6
        |FROM p JOIN s sa ON p.group_a = sa.g JOIN s sb ON p.group_b = sb.g""".stripMargin,
    "text_ngram_topk" ->
      """WITH toks AS (SELECT doc_id,
        |  regexp_extract_all(lower(text), '[\p{L}\p{Nd}]+') AS ws FROM documents),
        |ix AS (SELECT doc_id, ws, unnest(range(1, len(ws) - 1)) AS i
        |  FROM toks WHERE len(ws) >= 3),
        |g AS (SELECT doc_id, array_to_string(ws[i:i+2], ' ') AS gram FROM ix)
        |SELECT gram, count(*) AS n_occ, count(DISTINCT doc_id) AS n_docs
        |FROM g GROUP BY gram ORDER BY n_occ DESC, gram LIMIT 40""".stripMargin,
    "events_pivot" ->
      """SELECT user_id % 10 AS bucket,
        |  round(sum(CASE WHEN event_type = 'click' THEN value ELSE 0.0 END), 4) AS click,
        |  round(sum(CASE WHEN event_type = 'view' THEN value ELSE 0.0 END), 4) AS "view",
        |  round(sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END), 4) AS purchase,
        |  round(sum(CASE WHEN event_type = 'signup' THEN value ELSE 0.0 END), 4) AS signup,
        |  round(sum(CASE WHEN event_type = 'error' THEN value ELSE 0.0 END), 4) AS "error"
        |FROM events GROUP BY user_id % 10""".stripMargin,
    "text_clean" ->
      """WITH dd AS (SELECT doc_id,
        |  chr(8220)||'q'||chr(8221)||'  '||text||chr(7)||chr(8203)||' '||chr(160)||
        |  'x'||chr(8211)||'y'||chr(10)||chr(10)||chr(10)||chr(10)||'z'||chr(9)||chr(9)||'tail  ' AS dirty
        |  FROM documents),
        |f1 AS (SELECT doc_id, translate(dirty,
        |  chr(8216)||chr(8217)||chr(8220)||chr(8221)||chr(8211)||chr(8212)||chr(160),
        |  chr(39)||chr(39)||'""-- ') AS t FROM dd),
        |f2 AS (SELECT doc_id, regexp_replace(t, '[\x{200B}\x{200C}\x{200D}\x{FEFF}]', '', 'g') AS t FROM f1),
        |f3 AS (SELECT doc_id, regexp_replace(t, '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g') AS t FROM f2),
        |f4 AS (SELECT doc_id, regexp_replace(t, '[ \t]+', ' ', 'g') AS t FROM f3),
        |f5 AS (SELECT doc_id, regexp_replace(t, '\n{3,}', chr(10)||chr(10), 'g') AS t FROM f4)
        |SELECT doc_id, trim(t) AS text_clean FROM f5""".stripMargin,
    "events_props" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
        |  min(CAST(props->>'$.k' AS BIGINT)) AS min_k,
        |  max(CAST(props->>'$.k' AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type""".stripMargin,
    "data_stratified" -> OracleSql.dataSample(
      Seq("en" -> 0.5, "de" -> 0.25, "zh" -> 0.1), defaultFraction = 0.05),
    "data_topk_group" ->
      """WITH r AS (SELECT lang, doc_id, n_chars,
        |  row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS rank_in_group
        |  FROM documents)
        |SELECT lang, doc_id, n_chars, rank_in_group FROM r WHERE rank_in_group <= 3""".stripMargin,
    "stats_hll" -> OracleSql.statsHll(),
    "stats_hll_group" -> OracleSql.statsHllGroup("events", "user_id",
      "event_type", "event_type"),
    "stats_hll_window" -> OracleSql.statsHllGroup("events", "user_id",
      "CAST(epoch(date_trunc('hour', ts)) AS BIGINT)", "hour_ts"),
    "stats_cms" -> OracleSql.statsCms(Seq("table", "spark", "window", "zebra")),
    "stats_cms_window" -> OracleSql.statsCmsWindow(
      Seq("click", "view", "purchase", "qqnone")),
    "stats_bloom" -> OracleSql.statsBloom(
      Seq("table", "spark", "window", "zebra", "qqxyzzy")),
    // CMS only overestimates, so the exact-count filter makes the output
    // identical to the plain frequent-items SQL — no sketch mirror needed
    "stats_heavy" ->
      """SELECT tok AS token, count(*) AS exact_count
        |FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        |GROUP BY tok HAVING count(*) >= 500""".stripMargin,
    "fuzzy_join" ->
      """SELECT a.p_partkey, count(*) AS n_similar,
        |       min(b.p_partkey) AS min_similar
        |FROM part a JOIN part b
        |  ON a.p_partkey <> b.p_partkey
        | AND levenshtein(a.p_name, b.p_name) <= 1
        |GROUP BY a.p_partkey""".stripMargin,
    "fuzzy_join_values" ->
      """WITH v AS (SELECT p_name, count(*) AS c FROM part GROUP BY p_name)
        |SELECT a.p_name, b.p_name AS p_name_right,
        |       CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_dist,
        |       a.c AS left_count, b.c AS right_count
        |FROM v a JOIN v b ON levenshtein(a.p_name, b.p_name) <= 1""".stripMargin,
    // independent all-pairs implementation (no prefix filter): two impls
    // agreeing, the fuzzy_join oracle convention
    "setsim_join" ->
      """WITH d AS (SELECT doc_id,
        |    list_distinct(list_filter(string_split(lower(trim(text)), ' '),
        |      s -> s <> '')) AS toks
        |  FROM documents),
        |dd AS (SELECT doc_id, toks, len(toks) AS n FROM d WHERE len(toks) > 0),
        |p AS (SELECT a.doc_id AS doc_id, b.doc_id AS doc_id_right,
        |    len(list_intersect(a.toks, b.toks)) AS overlap
        |  FROM dd a JOIN dd b ON a.doc_id % 20 = 3 AND a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        |      / (a.n + b.n - len(list_intersect(a.toks, b.toks)))
        |    >= CAST('0.5' AS DOUBLE))
        |SELECT doc_id, count(*) AS n_similar, min(doc_id_right) AS min_partner,
        |  max(overlap) AS max_overlap
        |FROM p GROUP BY doc_id""".stripMargin,
    "interval_join" -> lineitemIntervalJoinOracle,
    // guard twin: the level ladder must reproduce the flat pair set exactly
    "interval_join_ladder" -> lineitemIntervalJoinOracle,
    "join_bloom" ->
      """SELECT o.o_orderkey, c.c_name, o.o_totalprice
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE c.c_nationkey < 12 AND c.c_mktsegment = 'BUILDING'""".stripMargin,
    "data_shard" -> OracleSql.dataShard(shards = 8),
    "stats_quantile" -> OracleSql.statsQuantile("lineitem", "l_extendedprice",
      bins = 128, qs = Seq(0.25, 0.5, 0.9, 0.99)),
    "stats_kll" -> OracleSql.statsKll("lineitem", "l_extendedprice",
      qs = Seq(0.25, 0.5, 0.9, 0.99)),
    "data_snapshot_diff" ->
      """WITH olds AS (SELECT doc_id, text FROM documents),
        |news AS (
        |  SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN text || '!' ELSE text END AS text
        |  FROM documents WHERE doc_id % 13 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 11 = 0),
        |j AS (SELECT o.doc_id AS oid, n.doc_id AS nid, o.text AS ot, n.text AS nt
        |  FROM olds o FULL OUTER JOIN news n ON o.doc_id = n.doc_id)
        |SELECT coalesce(oid, nid) AS doc_id,
        |  CASE WHEN oid IS NULL THEN 'added'
        |       WHEN nid IS NULL THEN 'removed'
        |       WHEN ot <> nt THEN 'changed'
        |       ELSE 'unchanged' END AS change
        |FROM j
        |WHERE NOT (oid IS NOT NULL AND nid IS NOT NULL AND ot = nt)""".stripMargin,
    "stats_kll_merged" -> OracleSql.statsKll("lineitem", "l_extendedprice",
      qs = Seq(0.25, 0.5, 0.9, 0.99)),
    "data_bottomk" -> OracleSql.dataBottomK(k = 200),
    "data_weighted" -> OracleSql.dataWeighted(k = 150),
    "data_bottomk_strata" -> OracleSql.dataBottomK(k = 20, strata = Some("lang")),
    "multimodal_meta" -> OracleSql.multimodalMeta(),
    "multimodal_pixels" -> OracleSql.multimodalPixels(),
    "multimodal_phash" -> OracleSql.multimodalPhash(),
    "multimodal_audio" -> OracleSql.multimodalAudio(),
    "dedup_simhash" -> OracleSql.dedupSimhash(),
    "dedup_minhash" -> OracleSql.dedupMinhash(),
    // composed pipeline: each stage's PROVEN mirror chained as nested
    // derived tables (DuckDB scopes outer CTEs into nested WITHs), so the
    // oracle is literally the composition of text_gopher + dedup_exact +
    // dedup_minhash + text_tokens
    "pipeline_pretrain" ->
      s"""WITH gok AS (SELECT doc_id FROM (${OracleSql.textGopher(minWords = 40)}) g
         |  WHERE gopher_keep),
         |kept AS (SELECT d.* FROM documents d JOIN gok USING (doc_id)),
         |ex AS (SELECT min(doc_id) AS doc_id FROM kept GROUP BY text),
         |kept2 AS (SELECT k.* FROM kept k JOIN ex USING (doc_id)),
         |reps AS (SELECT doc_id FROM (${OracleSql.dedupMinhash(docsrc = "kept2", threshold = 0.7)}) r)
         |SELECT k.lang, count(*) AS n_docs,
         |  CAST(sum(len(string_split_regex(trim(k.text), '\\s+'))) AS BIGINT) AS n_tokens
         |FROM kept2 k JOIN reps USING (doc_id)
         |GROUP BY k.lang""".stripMargin,
    "dedup_clusters" -> OracleSql.dedupClusters(),
    "dedup_best" -> OracleSql.dedupKeepBest(),
    "graph_pagerank" -> OracleSql.graphPagerank(),
    "graph_triangles" -> OracleSql.graphTriangles(),
    "graph_bfs" -> OracleSql.graphBfs(),
    "dedup_skew" -> OracleSql.dedupSkew(),
    "dedup_verified" -> OracleSql.dedupVerified(),
    "dedup_incremental" -> OracleSql.dedupIncremental(),
    "dedup_embedding" -> OracleSql.dedupEmbedding(),
    "dedup_semantic" -> OracleSql.dedupSemantic(),
    "sim_lsh" -> OracleSql.simLsh(),
    "sim_int8_lsh" -> OracleSql.simInt8Lsh(),
    "sim_pq" -> OracleSql.simPq(k = 5, m = 8, ksub = 16, dim = 64, rescore = 0),
    "sim_ivf_pq" -> OracleSql.simPq(k = 5, m = 8, ksub = 16, dim = 64, rescore = 4),
    "sim_ivf_pq_index" -> OracleSql.simPq(k = 5, m = 8, ksub = 16, dim = 64, rescore = 4),
    "sim_ivf_pq_residual" -> OracleSql.simPqResidual(k = 5, m = 8, ksub = 16, dim = 64, rescore = 4),
    "sim_bitq" -> OracleSql.simBitq(k = 5, rescore = 4),
    "sim_hardneg" ->
      s"""WITH q AS (SELECT vec_id AS query_id, label AS ql, embedding AS qe
         |  FROM embeddings WHERE vec_id < 8),
         |sc AS (SELECT q.query_id, e.vec_id AS neighbor_id,
         |  ${OracleSql.cos("q.qe", "e.embedding")} AS cos
         |  FROM embeddings e, q
         |  WHERE e.label IS DISTINCT FROM q.ql)
         |SELECT query_id, neighbor_id, round(cos, 6) AS cosine FROM sc
         |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) <= 5""".stripMargin,
    "isochrone_contours" -> OracleSql.isochroneContours(),
    "isochrone_cells" ->
      s"""WITH src AS (SELECT r_regionkey,
         |  r_regionkey * 12.0 - 24.0 AS lon, r_regionkey * 7.0 - 14.0 AS lat FROM region)
         |SELECT r_regionkey, level_s, count(*) AS n_cells
         |FROM src, generate_series(-8, 8) g1(i), generate_series(-8, 8) g2(j),
         |     (VALUES (CAST(600.0 AS DOUBLE)), (CAST(1200.0 AS DOUBLE))) lv(level_s)
         |WHERE ${havSql("lon", "lat", "lon + i * 0.05", "lat + j * 0.05")} / 25.0 <= level_s
         |GROUP BY r_regionkey, level_s""".stripMargin,
  ) ++ roundtrips.map(r => r.name -> r.shape.oracle)
}
