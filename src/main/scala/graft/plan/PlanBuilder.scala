package graft.plan

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.InSet
import org.apache.spark.sql.graftbridge.ExprBridge
import org.apache.spark.sql.functions._
import graft.geo.{Cell, MultiPolygon}
import graft.functions.Kernels
import graft.model._
import graft.sources.ImageTable

/** Compiles a [[SnapshotRequest]] into a DataFrame plan over the images
  * table — the Spark-native equivalent of the reference's SQL-string
  * generator `raw_currentdata_extraction_query` (builder.py:493-730).
  *
  * Shape of the produced plan, mirroring the reference stage by stage:
  *  - coarse cell prefilter (`cell IN cover`, or its min/max range and a
  *    kernel membership call for a large cover) && exact intersect refine —
  *    the reference's grid-index AND ST_Intersects pattern
  *    (builder.py:459-470); cells fully inside the polygon skip the refine;
  *  - per-geometry-type branches with per-type tag filters and attribute
  *    projections, `all_geometry` overriding per-type filters
  *    (builder.py:615-629);
  *  - branch dedup: adjacent types with identical filters+projection collapse
  *    into one `kind IN (...)` branch (the reference's
  *    use_geomtype_in_relation=False dedup, builder.py:668-671);
  *  - union assembly via unionByName (builder.py:94 UNION ALL).
  *
  * Everything stays declarative Column expressions → Catalyst pushes the tag
  * filters and the cell prefilter into the Parquet scan, prunes columns, and
  * whole-stage-codegens each branch.
  */
object PlanBuilder {

  val CoverRes = 7

  // ---- filter compilation ---------------------------------------------------

  /** TagFilter AST → Column (F4-F7). */
  def compileTags(f: TagFilter): Column = f match {
    case TagFilter.JoinOr(terms) =>
      terms.toSeq.sortBy(_._1).map((termCol _).tupled)
        .reduceOption(_ || _).getOrElse(lit(true))
    case TagFilter.JoinAnd(terms) =>
      terms.toSeq.sortBy(_._1).map((termCol _).tupled)
        .reduceOption(_ && _).getOrElse(lit(true))
    case TagFilter.And(l, r) => compileTags(l) && compileTags(r)
  }

  /** key with no values = existence (`tags ? 'k'`, builder.py:179); with
    * values = IN-list (builder.py:177). */
  private def termCol(key: String, values: Seq[String]): Column =
    if (values.isEmpty) map_contains_key(col("tags"), key)
    else col("tags")(key).isin(values: _*)

  /** WhereExpr AST → Column (F16 freeform where-DSL). */
  def compileWhere(e: WhereExpr): Column = e match {
    case WhereExpr.TagRef(k) => col("tags")(k)
    case WhereExpr.Lit(v) => lit(v)
    case WhereExpr.Eq(l, r) => compileWhere(l) === compileWhere(r)
    case WhereExpr.Ne(l, r) => compileWhere(l) =!= compileWhere(r)
    case WhereExpr.In(l, vs) => compileWhere(l).isin(vs: _*)
    case WhereExpr.IsNull(x) => compileWhere(x).isNull
    case WhereExpr.IsNotNull(x) => compileWhere(x).isNotNull
    case WhereExpr.And(l, r) => compileWhere(l) && compileWhere(r)
    case WhereExpr.Or(l, r) => compileWhere(l) || compileWhere(r)
    case WhereExpr.Not(x) => !compileWhere(x)
  }

  /** Pushed coarse cell membership. Up to [[PushedInMax]] cells it is a
    * `cell IN (...)`: Parquet's dictionary filter uses the list to skip row
    * groups (export_mix's polygons over 6 seeds read 25,382 rows (city) and
    * 15,903 (regional) with the `In`, 40,970 with the min/max range alone).
    * A larger set is the pushed range AND one [[Kernels.cellIn]] call: a
    * country-sized cover (`Bench.benchPolygon`, 7,990 cells) skips no row
    * group of the 64,000-image perfbench table anyway, and its literal
    * lists cost 0.28-0.33 s of planning per ~2.0 s bulk_extract repetition
    * on 4 vCPUs (building, validating and printing the plan) while the
    * executors waited. */
  private[graft] def cellIn(cell: Column, cells: Set[Long]): Column =
    if (cells.isEmpty) lit(false)
    else {
      val s = cells.toSeq.sorted
      if (s.size <= PushedInMax) cellInSet(cell, s)
      else cell.between(lit(s.head), lit(s.last)) && Kernels.cellIn(s, cell)
    }

  /** `cell IN (cells)` built as an `InSet`, whose generated code reads the
    * set as a reference object: requests with different covers share one
    * compiled class. A plain request's cover has ≤ 10 cells, below Spark's
    * `In` → `InSet` conversion threshold, and an `In` inlines every
    * literal: 2 new classes (17-35 ms) on 4 of 5 perfbench plain requests.
    * Parquet still receives it as a pushed `sources.In`. */
  private def cellInSet(cell: Column, cells: Seq[Long]): Column =
    ExprBridge.column(InSet(ExprBridge.expression(cell), cells.map(Long.box).toSet[Any]))

  private val PushedInMax = 1000

  /** The res-[[CoverRes]] cells fully inside `geom`, and the cells of its
    * cover expanded by one cell ring (see [[geometryFilter]]). */
  private[graft] def coverCells(geom: MultiPolygon): (Set[Long], Set[Long]) = {
    val covers = geom.polys.map(p => Cell.cover(p, CoverRes))
    val fullCells = covers.flatMap(_._1).toSet
    val allCells = covers.flatMap(c => c._1 ++ c._2).toSet
    (fullCells, allCells ++ allCells.flatMap(c => Cell.ring(c, 1)))
  }

  /** Geometry filter: coarse cover prefilter && exact kind-aware refine
    * (F1/F2/F8/F9). Points use PIP; lines/polygons the full segment/region
    * intersection (Geo.featureIntersectsRings via one kernel call — the reference's real
    * ST_Intersects over arbitrary linestring/polygon features, raw.lua:128-180).
    * For points ST_Within ≡ ST_Intersects (the useStWithin flag is kept for
    * parity, builder.py:237 vs :102).
    *
    * The cover is expanded by one cell ring: feature vertices sit within one
    * res-7 cell of the anchor by construction (the bounds of the kernel
    * shape spec behind `Kernels.pidRings`/`imageRings`: |dlon| ≤ 1.7,
    * |dlat| ≤ 0.93), so any intersecting feature has
    * its anchor in cover∪ring1. Anchors inside fully-interior cells skip the
    * refine: the anchor is a vertex of points/lines, and for polygons the
    * shell's inscribed (squashed) disc has radius ≥ 0.103 while any hole
    * stays inside radius 0.08 — so some feature point within 0.1 of the
    * anchor lies in every inward direction, hence inside the (≥1.4°-wide)
    * fully-covered cell, hence inside the request polygon.
    *
    * `cell` should be the materialized bucket column when the table has one
    * (ImageTable.BucketRes == CoverRes): the prefilter then pushes into the
    * parquet scan and prunes row groups on the cell-clustered layout — the
    * reference's `grid = ...` index clause (builder.py:464-470). The
    * full-cell test is never pushed, so it is always one kernel call. */
  def geometryFilter(geom: MultiPolygon, kind: Column, lon: Column, lat: Column,
      cell: Column, rings: Column): Column = {
    val (fullCells, expanded) = coverCells(geom)
    // exact refine = one kernel call (zero-copy ArrayData views, inside
    // whole-stage codegen — neither the UDF boundary's per-row rings
    // conversion nor a janino-sized Column tree, BENCH.md finding #2)
    val exact = Kernels.featureIntersects(geom, kind, lon, lat, rings)
    cellIn(cell, expanded) && (Kernels.cellIn(fullCells, cell) || exact)
  }

  // ---- projection -----------------------------------------------------------

  /** Sanitize attribute names as the reference does (`:`/space/`-` → `_`,
    * builder.py:105-118). */
  def sanitize(name: String): String = name.replaceAll("[:\\s-]", "_")

  /** P1 default projection / P2 dynamic attribute projection / P3 csv /
    * P4 centroid (ST_Centroid(geom) AS geom when centroid=true,
    * builder.py:157, flag models.py:156-158; the csv path ALWAYS projects
    * centroid coordinates, ST_X(ST_Centroid(geom)), builder.py:152-155). */
  /** The centroid kernel is projected ONCE into this intermediate column by
    * [[build]] (a separate Project that CollapseProject keeps separate, since
    * a non-cheap expression referenced twice is never inlined) — referencing
    * the call itself for both lon and lat would evaluate it twice per row
    * unless codegen subexpression elimination happens to save us. */
  private val centroidTmp = "_graft_centroid"

  private def projection(
      attrs: Option[Seq[String]], csv: Boolean, centroid: Boolean): Seq[Column] = {
    lazy val c = col(centroidTmp)
    lazy val (clon, clat) = (element_at(c, 1), element_at(c, 2))
    val geomCols =
      if (csv) Seq(clon.as("longitude"), clat.as("latitude"),
        upper(col("kind")).as("geom_type")) // P3, builder.py:152-155
      else if (centroid) Seq(clon.as("lon"), clat.as("lat")) // P4: geom REPLACED
      else // default: real geometry rides along (the reference's select list
        // always includes `geom`, builder.py:533-535) so sinks can serialize
        // true (Multi)LineString/(Multi)Polygon shapes
        Seq(col("lon"), col("lat"), col("rings"), col("roles"))
    attrs match {
      case None => // P1: full default projection (builder.py:533-535)
        Seq(col("image_id"), col("kind").as("osm_type"), col("tags")) ++
          geomCols
      case Some(as) => // P2: osm_id, osm_type always prepended (builder.py:137)
        Seq(col("image_id"), col("kind").as("osm_type")) ++
          as.map(a => col("tags")(a).as(sanitize(a))) ++ geomCols
    }
  }

  // ---- plan assembly ----------------------------------------------------------

  private def kindName(g: GeomType): String = g match {
    case GeomType.Point => "point"
    case GeomType.Line => "line"
    case GeomType.Polygon => "polygon"
  }

  /** Effective filters for a type: all_geometry overrides per-type
    * (builder.py:615-629). */
  private def effective(req: SnapshotRequest, g: GeomType): TypeFilters =
    req.allGeometry.getOrElse(req.perType.getOrElse(g, TypeFilters()))

  def build(images: DataFrame, req: SnapshotRequest, csv: Boolean = false): DataFrame = {
    val derived = ImageTable.derive(images)
      .filter(geometryFilter(req.geometry, col("kind"), col("lon"), col("lat"),
        col("cell"), col("rings")))

    // group adjacent geometry types with identical effective filters (U3)
    val groups: Seq[(Seq[GeomType], TypeFilters)] =
      req.geometryTypes.foldLeft(Vector.empty[(Seq[GeomType], TypeFilters)]) {
        case (acc, g) =>
          val f = effective(req, g)
          acc.lastOption match {
            case Some((gs, pf)) if pf == f => acc.init :+ (gs :+ g, f)
            case _ => acc :+ (Seq(g), f)
          }
      }

    val branches = groups.map { case (gs, f) =>
      var b = derived.filter(col("kind").isin(gs.map(kindName): _*))
      f.tags.foreach(t => b = b.filter(compileTags(t)))
      req.where.foreach(w => b = b.filter(compileWhere(WhereParser.parse(w))))
      if (csv || req.centroid)
        b = b.withColumn(centroidTmp, Kernels.centroidRings(col("kind"),
          col("lon"), col("lat"), col("rings")))
      b.select(projection(f.attributes, csv, req.centroid): _*)
    }
    // schema may differ across branches when per-type attribute lists differ
    // → unionByName with null-fill (the reference merges attribute lists for
    // single-schema outputs instead, builder.py:557-578)
    branches.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** P5: serialize a result row as a GeoJSON Feature (ST_AsGeoJSON(t0.*),
    * builder.py:85-95). Rows carrying the rings columns serialize their real
    * (Multi)LineString/(Multi)Polygon geometry; point-only projections fall
    * back to Point. */
  def toGeoJsonFeature(df: DataFrame): DataFrame =
    df.select(geoJsonFeatureCol(df).as("feature"))

  /** The feature-serialization Column itself — composable into wider plans
    * (e.g. the PMTiles path tile-assigns rows that carry this column). The
    * properties/envelope assembly stays pure-Column; the variable-arity
    * geometry serializes through one kernel call (`Kernels.geoJsonGeom`). */
  def geoJsonFeatureCol(df: DataFrame): Column = {
    val have = df.columns.toSet
    val props = to_json(struct(df.columns.filterNot(graft.sinks.FeatureModel.geomCols)
      .map(col).toIndexedSeq: _*))
    // the kind column is `kind` on raw feature tables and `osm_type` on
    // build() outputs (same values, renamed by the projection)
    val kindCol = if (have("kind")) Some(col("kind"))
      else if (have("osm_type")) Some(col("osm_type")) else None
    val geomJson = kindCol match {
      case Some(k) if have("rings") =>
        Kernels.geoJsonGeom(k, col("lon"), col("lat"), col("rings"),
          if (have("roles")) col("roles") else array().cast("array<int>"))
      case _ => concat(lit("""{"type":"Point","coordinates":["""),
        col("lon").cast("string"), lit(","), col("lat").cast("string"), lit("]}"))
    }
    concat(
      lit("""{"type":"Feature","geometry":"""), geomJson,
      lit(""","properties":"""), props, lit("}"))
  }
}
