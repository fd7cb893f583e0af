package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** OSM tag filtering over tabular OSM elements (reference: erde/op/osm.py —
  * there a wrapper around external `osmium tags-filter`; graft re-expresses
  * the filter language as a Catalyst predicate over an elements table with
  * `type` (n/w/r) and `tags map<string,string>` columns, so it runs
  * distributed on parquet-ified OSM extracts with predicate pushdown).
  *
  * Spec syntax (osmium-compatible subset): `TYPES/KEY[=V1[,V2…]]` where TYPES
  * ⊆ {n,w,r} (empty = all), e.g. `"wr/highway=primary,secondary"`,
  * `"n/amenity"`. Multiple specs OR together.
  */
object OsmFilter {

  private[operators] final case class Spec(types: Set[String], key: String, values: Seq[String])

  private[operators] def parse(spec: String): Spec = {
    val (typesPart, tagPart) = spec.split("/", 2) match {
      case Array(t, rest) => (t, rest)
      case Array(rest) => ("", rest)
    }
    val types = typesPart.toLowerCase.filter("nwr".contains(_)).map(_.toString).toSet
    tagPart.split("=", 2) match {
      case Array(k, vs) => Spec(types, k, vs.split(",").toSeq.filter(_.nonEmpty))
      case Array(k) => Spec(types, k, Nil)
    }
  }

  private def predicate(s: Spec, typeCol: Column, tagsCol: Column): Column = {
    val tagOk =
      if (s.values.isEmpty) tagsCol.getItem(s.key).isNotNull
      else tagsCol.getItem(s.key).isin(s.values: _*)
    if (s.types.isEmpty) tagOk
    else typeCol.isin(s.types.toSeq: _*) && tagOk
  }

  /** Keeps elements matching any spec. */
  def tagFilter(
      df: DataFrame,
      specs: Seq[String],
      typeCol: String = "type",
      tagsCol: String = "tags"): DataFrame = {
    require(specs.nonEmpty, "at least one tag-filter spec required")
    val preds = specs.map(s => predicate(parse(s), col(typeCol), col(tagsCol)))
    df.where(preds.reduce(_ || _))
  }

  /** Projects selected tag keys into top-level columns (the usual step after
    * filtering, before joins/aggregations).
    */
  def tagsToColumns(df: DataFrame, keys: Seq[String], tagsCol: String = "tags"): DataFrame =
    keys.foldLeft(df)((d, k) => d.withColumn(k, col(tagsCol).getItem(k)))

  /** Crops an OSM elements frame to a (multi)polygon, the `osmium extract -p`
    * step of the reference pipeline (erde/op/osm.py:67 `crop_cmd`) as a named
    * distributed operator over the [[graft.sources.OsmPbf]] table shape
    * (`type` n/w/r, `id`, `lon`/`lat` on nodes, `refs` member ids):
    *
    *  - nodes: kept when inside `areaWkt` (bbox gate pushed to the scan,
    *    exact point-in-polygon after);
    *  - ways: kept when ≥1 referenced node is kept (osmium's default
    *    "simple" strategy); with `completeWays` every node of a kept way is
    *    retained too (its "complete_ways" strategy);
    *  - relations: kept when ≥1 member id is a kept node or way; nested
    *    relations (members that are themselves relations) resolve through
    *    `relationDepth` TOTAL membership rounds — a chain nested k relations
    *    deep needs relationDepth = k (OSM nesting is shallow, the default 2
    *    covers virtually all real data). When the frame carries a
    *    `member_types` column ([[graft.sources.OsmPbf]] relations), the
    *    membership joins are TYPED — a member matches only a kept element of
    *    its own type, so node/way id collisions stop over-keeping; rows with
    *    a null member_types array fall back to the untyped id match.
    *
    * All joins are semi-joins hash-partitioned on element id — no geometry
    * shuffle, no driver state; membership frames carry only ids (+ a
    * one-byte type). The kept-id frames are REUSED across rounds and the
    * final filters, so `materializeIds` (default true) lazily
    * localCheckpoints them — the distributed analogue of osmium's in-memory
    * id sets. Without it each reuse re-derives the ids from the full source,
    * and the plan (and scan count) grows multiplicatively with
    * `relationDepth`: at extract scale that's re-reading the planet per
    * round; the id frames are selectivity-bounded and block-cached instead.
    */
  def crop(
      df: DataFrame,
      areaWkt: String,
      completeWays: Boolean = false,
      typeCol: String = "type",
      idCol: String = "id",
      refsCol: String = "refs",
      relationDepth: Int = 2,
      memberTypesCol: String = "member_types",
      materializeIds: Boolean = true): DataFrame = {
    import graft.functions.GeoFunctions._
    val g = graft.geom.WKT.read(areaWkt)
    val (x1, y1, x2, y2) = g.bbox
    val area = lit(graft.geom.WKB.write(g))
    val checkpointed = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val mat: DataFrame => DataFrame =
      if (materializeIds) { df =>
        val c = df.localCheckpoint(eager = false)
        checkpointed += c
        c
      } else identity

    val nodes = df.where(col(typeCol) === "n")
    val ways = df.where(col(typeCol) === "w")
    val rels = df.where(col(typeCol) === "r")

    val keptNodeIds = mat(nodes
      .where(col("lon").between(x1, x2) && col("lat").between(y1, y2) &&
        st_contains(area, st_point(col("lon"), col("lat"))))
      .select(col(idCol)))
    val keptWayIds = mat(ways
      .select(col(idCol), explode(col(refsCol)).as("__ref"))
      .join(keptNodeIds.select(col(idCol).as("__ref")), Seq("__ref"), "left_semi")
      .select(col(idCol)).distinct())
    // member rows with their member type when the schema carries one —
    // null __mtype (flat schema, or a null array on one row) matches any type
    val relMembers = (if (df.columns.contains(memberTypesCol))
        rels.select(col(idCol), posexplode(col(refsCol)).as(Seq("__mpos", "__ref")), col(memberTypesCol))
          .withColumn("__mtype", element_at(col(memberTypesCol), col("__mpos") + 1))
          .select(col(idCol), col("__ref"), col("__mtype"))
      else rels.select(col(idCol), explode(col(refsCol)).as("__ref"),
        lit(null).cast("string").as("__mtype")))
    // one hash semi join per round: __ref = __kid is the join key, the type
    // check rides as a residual filter (null member type matches any)
    def keptRelRound(kept: DataFrame): DataFrame = relMembers
      .join(kept, col("__ref") === col("__kid") &&
        (col("__mtype").isNull || col("__mtype") === col("__ktype")), "left_semi")
      .select(col(idCol)).distinct()
    def asKept(ids: DataFrame, t: String): DataFrame =
      ids.select(col(idCol).as("__kid"), lit(t).as("__ktype"))
    val keptNW = asKept(keptNodeIds, "n").unionByName(asKept(keptWayIds, "w"))
    var keptRelIds = mat(keptRelRound(keptNW))
    // nested relations: each extra round admits relations whose members are
    // already-kept relations (bounded — no driver-side fixpoint loop state)
    for (_ <- 1 until math.max(1, relationDepth))
      keptRelIds = mat(keptRelRound(keptNW.unionByName(asKept(keptRelIds, "r"))))

    val keptWays = ways.join(keptWayIds, Seq(idCol), "left_semi")
    val nodeIds =
      if (!completeWays) keptNodeIds
      else keptNodeIds.unionByName(
        keptWays.select(explode(col(refsCol)).as(idCol))).distinct()
    val keptNodes = nodes.join(nodeIds, Seq(idCol), "left_semi")
    val result = keptNodes
      .unionByName(keptWays)
      .unionByName(rels.join(keptRelIds, Seq(idCol), "left_semi"))
    // the id checkpoints free once an action over the crop result runs;
    // re-running an action on the same crop frame afterwards just
    // re-derives the ids — callers acting twice should cache the
    // (selectivity-bounded) RESULT
    Caches.releaseWhen(result, checkpointed.toSeq: _*)
    result
  }

  /** Tag keys whose presence makes a CLOSED way a polygon (the reference's
    * `closed_ways_are_polygons` ini list, erde/op/osm.py:53).
    */
  val ClosedWayPolygonKeys: Seq[String] = Seq(
    "aeroway", "amenity", "boundary", "building", "building:part", "craft",
    "geological", "historic", "landuse", "leisure", "military", "natural",
    "office", "place", "shop", "sport", "tourism")

  /** Exact key=value entries of the same ini list (its tail names
    * `highway=platform,public_transport=platform`, not whole keys).
    */
  val ClosedWayPolygonKeyValues: Seq[(String, String)] = Seq(
    "highway" -> "platform", "public_transport" -> "platform")

  /** Relation `tags.type` values assembled as area geometry (the osmconf
    * `multipolygons` layer takes both).
    */
  private val MultipolygonKinds = Seq("multipolygon", "boundary")

  /** Relation `tags.type` values assembled as MultiLineStrings. */
  private val MultilineKinds = Seq("route", "multilinestring")

  /** Assembles geometric layers from the flat OSM elements table — the
    * reference pipeline's ogr2ogr stage (erde/op/osm.py:10-15 exports layers
    * `points,lines,multipolygons,multilinestrings,other_relations`; closed
    * tagged ways become polygons per `closed_ways_are_polygons`, osm.py:53).
    * Output: (layer, id, tags, geometry WKB):
    *
    *  - points: tagged nodes (`keepUntagged` keeps bare ones too);
    *  - lines: COMPLETE ways (every node ref resolved — partial ways drop,
    *    the extract-boundary contract) as LineStrings in ref order;
    *  - multipolygons: complete CLOSED ways (first ref == last ref, ≥ 4
    *    refs) carrying a [[ClosedWayPolygonKeys]] tag, plus — when the frame
    *    carries `member_types`/`member_roles` columns
    *    ([[graft.sources.OsmPbf]]) — relations with
    *    `type` ∈ [[MultipolygonKinds]]: member-way paths stitched into
    *    closed rings ([[graft.geom.RelationAssembly]]), role `inner` rings
    *    as holes. Incomplete/unstitchable relations drop;
    *  - multilinestrings: relations with `type` ∈ [[MultilineKinds]] — one
    *    LineString per complete member way, member order;
    *  - other_relations: every remaining relation, tabular (null geometry) —
    *    membership semantics without a canonical geometry.
    *
    * Scale shape: refs posexplode → hash join on node id → groupBy way with
    * a sort_array over (pos, x, y) structs (collect_list order normalized by
    * the explicit position — deterministic), then one codegen'd
    * coords→geometry constructor. Relations ride the same assembled
    * way-path frame: member posexplode → hash join on way id → groupBy
    * relation, so member geometry never shuffles more than once. No driver
    * state: coordinates travel as plain doubles until the final construction.
    */
  def assemble(
      df: DataFrame,
      keepUntagged: Boolean = false,
      typeCol: String = "type",
      idCol: String = "id",
      tagsCol: String = "tags",
      lonCol: String = "lon",
      latCol: String = "lat",
      refsCol: String = "refs",
      memberTypesCol: String = "member_types",
      memberRolesCol: String = "member_roles"): DataFrame = {
    import graft.functions.GeoFunctions._
    val nodes = df.where(col(typeCol) === "n")
    val points = (if (keepUntagged) nodes
      else nodes.where(size(col(tagsCol)) > 0))
      .select(lit("points").as("layer"), col(idCol), col(tagsCol),
        st_point(col(lonCol), col(latCol)).as("geometry"))

    val ways = df.where(col(typeCol) === "w")
    val wayRefs = ways.select(col(idCol), posexplode(col(refsCol)).as(Seq("__pos", "__ref")))
    // one coordinate per node id: duplicated ids (unmerged extracts — run
    // merge() for the override contract) must not inflate the join and fake
    // the completeness count or inject duplicate vertices
    val nodeXY = nodes.select(col(idCol).as("__ref"), col(lonCol).as("__x"), col(latCol).as("__y"))
      .dropDuplicates("__ref")
    val coords = wayRefs.join(nodeXY, Seq("__ref"))
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("__pos"), col("__x"), col("__y")))).as("__pts"))
    val flat = flatten(transform(col("__pts"), p => array(p("__x"), p("__y"))))
    val closed = size(col(refsCol)) >= 4 &&
      element_at(col(refsCol), 1) === element_at(col(refsCol), -1)
    val polyTagged = (ClosedWayPolygonKeys.map(k => col(tagsCol).getItem(k).isNotNull) ++
      ClosedWayPolygonKeyValues.map { case (k, v) => col(tagsCol).getItem(k) === v })
      .reduce(_ || _)
    val wayGeoms = ways.select(col(idCol), col(tagsCol), col(refsCol))
      .join(coords, Seq(idCol))
      .where(size(col("__pts")) === size(col(refsCol))) // complete ways only
      .select(
        when(closed && polyTagged, lit("multipolygons")).otherwise(lit("lines")).as("layer"),
        col(idCol), col(tagsCol),
        when(closed && polyTagged, st_polygon_from_coords(flat))
          .otherwise(st_line_from_coords(flat)).as("geometry"))
    val wayLayers = points.unionByName(wayGeoms)

    if (!df.columns.contains(memberTypesCol) || !df.columns.contains(memberRolesCol))
      return wayLayers // flat schema: relation geometry impossible, way layers only

    val rels = df.where(col(typeCol) === "r")
    val relKind = lower(coalesce(col(tagsCol).getItem("type"), lit("")))
    val geoKinds = MultipolygonKinds ++ MultilineKinds
    // complete way paths (any tags — multipolygon member ways are usually
    // bare), keyed by way id for the member join
    val wayLines = ways.select(col(idCol).as("__wid"), col(refsCol).as("__wrefs"))
      .join(coords.select(col(idCol).as("__wid"), col("__pts")), Seq("__wid"))
      .where(size(col("__pts")) === size(col("__wrefs")))
      .select(col("__wid"),
        flatten(transform(col("__pts"), p => array(p("__x"), p("__y")))).as("__line"))
    // way members only: ogr2ogr ignores node/relation members of geometry
    // relations, and a missing WAY member (left join null) voids the feature
    val members = rels
      .where(relKind.isin(geoKinds: _*) && col(refsCol).isNotNull && col(memberTypesCol).isNotNull)
      .select(col(idCol).as("__rid"), col(tagsCol), relKind.as("__kind"),
        col(memberTypesCol), col(memberRolesCol),
        posexplode(col(refsCol)).as(Seq("__mpos", "__mref")))
      .where(element_at(col(memberTypesCol), col("__mpos") + 1) === "w")
      .select(col("__rid"), col(tagsCol), col("__kind"), col("__mpos"), col("__mref"),
        coalesce(element_at(col(memberRolesCol), col("__mpos") + 1), lit("")).as("__mrole"))
      .join(wayLines, col("__mref") === col("__wid"), "left")
    val relAgg = members.groupBy(col("__rid"))
      .agg(first(col("__kind")).as("__kind"), first(col(tagsCol)).as(tagsCol),
        sort_array(collect_list(struct(col("__mpos"), col("__mrole").as("role"),
          col("__line").as("line")))).as("__mems"),
        max(when(col("__line").isNull, 1).otherwise(0)).as("__incomplete"))
    val memRoles = expr("transform(__mems, m -> m.role)")
    val memLines = expr("transform(__mems, m -> m.line)")
    val relGeoms = relAgg
      .where(col("__incomplete") === 0)
      .select(
        when(col("__kind").isin(MultipolygonKinds: _*), lit("multipolygons"))
          .otherwise(lit("multilinestrings")).as("layer"),
        col("__rid").as(idCol), col(tagsCol),
        when(col("__kind").isin(MultipolygonKinds: _*),
            st_relation_multipolygon(memRoles, memLines))
          .otherwise(st_multiline_from_lines(memLines)).as("geometry"))
      .where(col("geometry").isNotNull)
    val otherRels = rels.where(!relKind.isin(geoKinds: _*))
      .select(lit("other_relations").as("layer"), col(idCol), col(tagsCol),
        lit(null).cast("binary").as("geometry"))
    wayLayers.unionByName(relGeoms).unionByName(otherRels)
  }

  /** Merges OSM extracts (the reference's `osmium merge` stage, erde/op/
    * osm.py merge path): elements sharing (type, id) collapse to one row,
    * later inputs winning — osmium's newer-file-overrides contract. One
    * shuffle on (type, id); the winner is a map-side-combined max_by.
    *
    * Precondition (osmium's own input contract): (type, id) is unique WITHIN
    * each input frame. Rows duplicated inside one frame tie on the source
    * index and max_by picks arbitrarily by default — Spark can neither order
    * nor hash the map-typed tags, so a content tiebreak needs per-row
    * serialization, an always-on cost for inputs that are malformed to begin
    * with. Opt in with `totalTiebreak = true`: within-source ties then break
    * on a canonical JSON of the payload (top-level map columns serialized
    * with SORTED entries, so equal maps serialize equally regardless of
    * internal order; greatest string wins), making the merge deterministic
    * under any partitioning even on duplicated inputs.
    */
  def merge(dfs: Seq[DataFrame], typeCol: String = "type", idCol: String = "id",
      totalTiebreak: Boolean = false): DataFrame = {
    require(dfs.nonEmpty, "merge needs at least one frame")
    val cols = dfs.head.columns.toIndexedSeq
    val all = dfs.zipWithIndex
      .map { case (d, i) => d.select(cols.map(col): _*).withColumn("__src", lit(i)) }
      .reduce(_ unionByName _)
    val payload = cols.filterNot(c => c == typeCol || c == idCol)
    if (payload.isEmpty) all.select(cols.map(col): _*).distinct()
    else {
      val ord: Column =
        if (!totalTiebreak) col("__src")
        else {
          val schema = dfs.head.schema
          val canon = payload.map { c =>
            schema(c).dataType match {
              case _: org.apache.spark.sql.types.MapType =>
                array_sort(map_entries(col(c))).as(c)
              case _ => col(c).as(c)
            }
          }
          struct(col("__src"), to_json(struct(canon: _*)))
        }
      all
        .groupBy(col(typeCol), col(idCol))
        .agg(max_by(struct(payload.map(col): _*), ord).as("__e"))
        .select(cols.map(c => if (payload.contains(c)) col(s"__e.$c") else col(c)): _*)
    }
  }
}
