package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.{GeoCols, Kernels}
import graft.geo.{Fixtures, MultiPolygon}
import graft.model.{GeomType, SnapshotRequest, TagFilter, TypeFilters}
import graft.operators.{Dedup, Knn, Similarity, SpatialJoin, TextOps}
import graft.plan.PlanBuilder

/** Driver contract — every operator from SURVEY.md §2 that is implemented has
  * a `queries` entry, and a DuckDB-runnable `oracleSql` twin where ANSI SQL
  * can express it. Geometry is derived deterministically from lineitem keys
  * (GeoCols.pointsSql) so both engines compute identical coordinates.
  */
object SparkEntry {

  private def li(s: SparkSession, dir: String) = s.read.parquet(s"$dir/lineitem.parquet")
  private def docs(s: SparkSession, dir: String) = s.read.parquet(s"$dir/documents.parquet")
  private def ev(s: SparkSession, dir: String) = s.read.parquet(s"$dir/events.parquet")

  private def pts(s: SparkSession, dir: String) = GeoCols.derivedPoints(s, dir)

  /** Flagship: custom-polygon extract + region assignment + tile pyramid on
    * sf0.001 (the reference's POST /v1/snapshot/ shape, SURVEY.md §3.1). */
  def entry(spark: SparkSession): DataFrame =
    flagshipEntry(spark,
      sys.env.getOrElse("SPARK_GRAFT_ENTRY_DIR", "/root/testdata/sf0.001"))

  /** The fused flagship plan (Bench.flagship shape): extract → region
    * assignment passing lon/lat through → tile explode on the SAME
    * pipeline. One scan; the assignment is one kernel call per point over
    * an index built once per catalog, and it and the tile explode are
    * narrow, so the plan holds no join and its only exchange is the derived
    * point table's own DISTINCT on pid. */
  def flagshipEntry(spark: SparkSession, dir: String): DataFrame = {
    // kernel PIP (Kernels.pointInMultiPolygon): the literal pipCol tree,
    // pushed below the derived-point projection, exploded into a ~40 KB
    // un-JIT-able predicate (r06 measurement: 5.0 s → kernel call)
    val p = pts(spark, dir)
      .filter(graft.functions.Kernels.pointInMultiPolygon(
        MultiPolygon(Seq(Fixtures.requestPolygon)), col("lon"), col("lat")))
    val assigned = SpatialJoin.assignRegionsKeep(spark, p, keep = Seq("lon", "lat"))
    SpatialJoin.tileAssign(assigned, 2, 6)
      .select(col("pid"), col("cids"), col("z"), col("tx"), col("ty"))
  }

  // ---- query implementations -------------------------------------------

  /** A-ops: partial+final hash agg (reference array_agg/stat shapes, A1-A3). */
  private def q1Agg(s: SparkSession, dir: String): DataFrame =
    li(s, dir).groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_price"),
        round(avg(col("l_discount")), 6).as("avg_disc"),
        count(lit(1)).as("cnt"))

  /** Join shape (broadcast dim × fact; reference has only spatial/key joins,
    * this anchors equi-join correctness for the engine's staging layer S3). */
  private def q3Join(s: SparkSession, dir: String): DataFrame = {
    val cust = s.read.parquet(s"$dir/customer.parquet")
    val ord = s.read.parquet(s"$dir/orders.parquet")
    li(s, dir)
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
        count(lit(1)).as("cnt"))
  }

  /** F3 bbox filter (ST_MakeEnvelope analogue, builder.py:744-751). */
  private def geoBbox(s: SparkSession, dir: String): DataFrame = {
    val b = Fixtures.requestBBox
    pts(s, dir).filter(
      col("lon") >= b.minLon && col("lon") <= b.maxLon &&
        col("lat") >= b.minLat && col("lat") <= b.maxLat)
  }

  /** F1/F2 custom-polygon extract (ST_Intersects/ST_Within on points).
    * Kernel PIP — same arithmetic as pipCol/pipSql (KernelParitySpec)
    * via one JIT'd call instead of an un-JIT-able inlined predicate. */
  private def geoPip(s: SparkSession, dir: String): DataFrame =
    pts(s, dir)
      .filter(graft.functions.Kernels.pointInMultiPolygon(
        MultiPolygon(Seq(Fixtures.requestPolygon)), col("lon"), col("lat")))
      .select(col("pid"))

  /** Cell assignment at res 8 (the `grid` column analogue, raw.lua / F9). */
  private def geoCell(s: SparkSession, dir: String): DataFrame =
    pts(s, dir).select(col("pid"),
      GeoCols.cellCol(8, col("lon"), col("lat")).as("cell"))

  /** A3 analogue: per-cell stats (Kontur H3-res-8 aggregates, builder.py:802-842). */
  private def geoCellStats(s: SparkSession, dir: String): DataFrame =
    geoCell(s, dir).groupBy(col("cell")).agg(count(lit(1)).as("cnt"))

  /** J2/A1 flagship: region (country) assignment spatial join. */
  private def geoRegionJoin(s: SparkSession, dir: String): DataFrame =
    SpatialJoin.assignRegions(s, pts(s, dir))

  /** S7/T3: tile-pyramid assignment z∈[2,4]. */
  private def geoTile(s: SparkSession, dir: String): DataFrame =
    SpatialJoin.tileAssign(pts(s, dir), 2, 4)

  /** J5/W4: exact kNN, ring expansion + haversine refine. */
  private def geoKnn(s: SparkSession, dir: String): DataFrame =
    Knn.knn(s, pts(s, dir), Fixtures.knnQueries, k = 8)

  /** P3: CSV projection — centroid lon/lat + geometry type (builder.py:152-155). */
  private def geoCsvProj(s: SparkSession, dir: String): DataFrame =
    pts(s, dir).select(col("pid"),
      col("lon").as("longitude"), col("lat").as("latitude"),
      lit("POINT").as("geom_type"))

  /** F8 + real non-point geometry: line/polygon features extracted through
    * PlanBuilder.build — kind routing (raw.lua:128-180), segment/region
    * intersection refine, tag filter + attribute projection. */
  private def geoMultiExtract(s: SparkSession, dir: String): DataFrame = {
    val req = SnapshotRequest(
      geometry = MultiPolygon(Seq(Fixtures.requestPolygon)),
      geometryTypes = GeomType.all,
      allGeometry = Some(TypeFilters(
        tags = Some(TagFilter.JoinOr(Map("parity" -> Seq("1", "3", "5")))),
        attributes = Some(Seq("parity")))))
    PlanBuilder.build(GeoCols.derivedFeatures(s, dir), req)
      .select(col("image_id"), col("osm_type"), col("parity"), col("lon"), col("lat"))
  }

  /** P4 centroid=true through PlanBuilder.build: ST_Centroid(geom) AS geom
    * (builder.py:157) — identity for points, length-weighted midpoint for
    * lines, shoelace centroid for polygons. */
  private def geoCentroid(s: SparkSession, dir: String): DataFrame = {
    val req = SnapshotRequest(
      geometry = MultiPolygon(Seq(Fixtures.requestPolygon)),
      geometryTypes = GeomType.all,
      centroid = true,
      allGeometry = Some(TypeFilters(attributes = Some(Seq("parity")))))
    PlanBuilder.build(GeoCols.derivedFeatures(s, dir), req)
      .select(col("image_id"), col("osm_type"), col("parity"),
        round(col("lon"), 6).as("clon"), round(col("lat"), 6).as("clat"))
  }

  /** S3 + custom-export orchestration: stage once (geometry-prefiltered
    * staging parquet, the postgres→DuckDB CTAS analogue app.py:1670-1686),
    * then a per-category extract over the staged table (types routing +
    * select + where-DSL, builder.py:935-992). */
  private def exportCategory(s: SparkSession, dir: String): DataFrame = {
    val staging = "/tmp/graft_staging/" + dir.replaceAll("[^a-zA-Z0-9]", "_")
    val staged = graft.plan.CustomExport.stage(s, GeoCols.derivedFeatures(s, dir),
      Some(MultiPolygon(Seq(Fixtures.requestPolygon))), staging)
    graft.plan.CustomExport.extractCategory(staged, graft.model.Category(
      "infra", Seq(GeomType.Line, GeomType.Polygon), Seq("parity"),
      Some("tags['parity'] IN ('2', '4')")))
      .select(col("image_id"), col("osm_type"), col("parity"), col("lon"), col("lat"))
  }

  /** §2.8 ST_Area analogue over the arbitrary-vertex model: signed planar
    * area (deg²) of every polygon feature — holes subtract, MultiPolygon
    * parts add (the reference's geodesic-area guard role, but per-feature;
    * API/raw_data.py:421-432). */
  private def geoArea(s: SparkSession, dir: String): DataFrame =
    GeoCols.derivedFeatures(s, dir)
      .filter(col("kind") === "polygon")
      .select(col("image_id"),
        round(Kernels.areaRings(col("rings")), 6).as("area_deg2"))

  /** Structural witness of the arbitrary-vertex generation: per-feature
    * ring/hole/part/vertex counts — certifies the engine-side geometry
    * matches the oracle's list construction element-for-element. */
  private def geoRingStats(s: SparkSession, dir: String): DataFrame =
    GeoCols.derivedFeatures(s, dir).select(
      col("image_id"), col("kind"),
      size(col("rings")).as("n_rings"),
      size(filter(col("roles"), r => r === 1)).as("n_holes"),
      size(filter(col("roles"), r => r === 0)).as("n_parts"),
      // DOUBLE, deliberately: the oracle's n_vertices is a DuckDB HUGEINT
      // (list_sum kept wide by `// 2`) which reaches the driver's comparison
      // as float64, while BIGINT reached it as int64 — the one hash-red gate
      // of round 5 (values verified identical). Small counts are exact in
      // float64, so the cast only aligns the rendered dtype.
      floor(aggregate(col("rings"), lit(0), (a, r) => a + size(r)) / 2)
        .cast("double").as("n_vertices"))

  /** The geometrytype(geom)='MULTIPOLYGON' branch (builder.py:713-714):
    * multi-part polygon features intersecting the request polygon, with
    * part counts and signed area. */
  private def geoMultipolyExtract(s: SparkSession, dir: String): DataFrame = {
    val geom = MultiPolygon(Seq(Fixtures.requestPolygon))
    GeoCols.derivedFeatures(s, dir)
      .filter(col("kind") === "polygon")
      .filter(size(filter(col("roles"), r => r === 0)) > 1)
      .filter(PlanBuilder.geometryFilter(geom, col("kind"), col("lon"),
        col("lat"), col("cell"), col("rings")))
      .select(col("image_id"), size(col("rings")).as("n_rings"),
        round(Kernels.areaRings(col("rings")), 6).as("area_deg2"))
  }

  /** The geometrytype(geom)='MULTILINESTRING' branch (builder.py:685):
    * multi-part polyline features intersecting the request polygon, with
    * part counts and planar length (the ST_Length analogue). */
  private def geoMultilineExtract(s: SparkSession, dir: String): DataFrame = {
    val geom = MultiPolygon(Seq(Fixtures.requestPolygon))
    GeoCols.derivedFeatures(s, dir)
      .filter(col("kind") === "line")
      // part count via roles (all 0 for lines, so count == ring count):
      // the roles kernel draws only the structure selectors, the rings
      // kernel every vertex
      .filter(size(filter(col("roles"), r => r === 0)) > 1)
      .filter(PlanBuilder.geometryFilter(geom, col("kind"), col("lon"),
        col("lat"), col("cell"), col("rings")))
      .select(col("image_id"), size(col("rings")).as("n_parts"),
        round(Kernels.lengthRings(col("rings")), 6).as("length_deg"))
  }

  /** F16 freeform where-DSL through the full plan path (models.py:408-412,
    * app.py:1298-1315): parsed by WhereParser, compiled to Columns — never
    * raw expr() on untrusted text. */
  private def f16WhereDsl(s: SparkSession, dir: String): DataFrame = {
    val req = SnapshotRequest(
      geometry = MultiPolygon(Seq(Fixtures.requestPolygon)),
      geometryTypes = GeomType.all,
      allGeometry = Some(TypeFilters(attributes = Some(Seq("parity")))),
      where = Some("tags['parity'] IN ('0', '6') OR tags['parity'] = '3'"))
    PlanBuilder.build(GeoCols.derivedFeatures(s, dir), req)
      .select(col("image_id"), col("osm_type"), col("parity"), col("lon"), col("lat"))
  }

  /** P6/U1/U3: per-type filters with branch grouping — point+line share
    * filters (collapse into one branch, builder.py:668-671), polygon keeps
    * the default projection; schemas align via unionByName null-fill
    * (builder.py:557-578). */
  private def geoPertypeUnion(s: SparkSession, dir: String): DataFrame = {
    val shared = TypeFilters(
      tags = Some(TagFilter.JoinOr(Map("parity" -> Seq("1", "2")))),
      attributes = Some(Seq("parity")))
    val req = SnapshotRequest(
      geometry = MultiPolygon(Seq(Fixtures.requestPolygon)),
      geometryTypes = GeomType.all,
      perType = Map(
        GeomType.Point -> shared,
        GeomType.Line -> shared,
        GeomType.Polygon -> TypeFilters(attributes = Some(Seq()))))
    PlanBuilder.build(GeoCols.derivedFeatures(s, dir), req)
      .select(col("image_id"), col("osm_type"), col("parity"), col("lon"), col("lat"))
  }

  /** W2-ish window ops: row_number + running sum per user over events. */
  private def w1Window(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    ev(s, dir).select(
      col("event_id"), col("user_id"),
      row_number().over(w).as("rn"),
      round(sum(col("value")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2).as("running"))
  }

  /** U1/U2: union-distinct id probe across tables (builder.py:780-799). */
  private def u2Union(s: SparkSession, dir: String): DataFrame = {
    val a = s.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderkey").as("id"), lit("orders").as("src"))
    val b = li(s, dir).select(col("l_orderkey").as("id"), lit("lineitem").as("src"))
    a.unionByName(b).distinct()
  }

  /** F4/F7 join_or tag filter: token-set membership plays the reference's
    * tags->>'k' map semantics (builder.py:166-226). */
  private def tagOr(s: SparkSession, dir: String): DataFrame = {
    val toks = TextOps.tokensCol(col("text"))
    docs(s, dir)
      .filter(array_contains(toks, "spark") || array_contains(toks, "hash"))
      .select(col("doc_id"), col("source"))
  }

  /** F7 join_and combinator. */
  private def tagAnd(s: SparkSession, dir: String): DataFrame = {
    val toks = TextOps.tokensCol(col("text"))
    docs(s, dir)
      .filter(array_contains(toks, "spark") && array_contains(toks, "join"))
      .select(col("doc_id"), col("lang"))
  }

  /** F5 tag existence (`tags ? 'k'`, builder.py:179), through compileTags'
    * empty-values (existence) branch on a real map column: the `flag` key is
    * present on every third feature only, so the predicate selects a strict
    * subset. DuckDB has no map column here — the fixture's key-presence rule
    * IS the oracle expression (featuresSql convention). */
  private def tagExists(s: SparkSession, dir: String): DataFrame = {
    val feats = GeoCols.derivedFeatures(s, dir)
      .withColumn("tags",
        when(col("image_id") % 3 === 0,
          map_concat(col("tags"), map(lit("flag"), lit("1"))))
          .otherwise(col("tags")))
    feats.filter(PlanBuilder.compileTags(TagFilter.JoinOr(Map("flag" -> Seq.empty))))
      .select(col("image_id"), col("tags")("parity").as("parity"))
  }

  /** GET /stats/polygon analogue, computed from the DATA (the reference
    * proxies an external statistics service, src/app.py:945-1012 — an
    * external-API concern; the engine-side summary a user actually needs is
    * per-type feature counts + attribute cardinality + extent over the
    * polygon extract, API/stats.py:14-17 request shape). */
  private def polygonStats(s: SparkSession, dir: String): DataFrame = {
    val req = SnapshotRequest(
      geometry = MultiPolygon(Seq(Fixtures.requestPolygon)),
      geometryTypes = GeomType.all)
    PlanBuilder.build(GeoCols.derivedFeatures(s, dir), req)
      .groupBy(col("osm_type"))
      .agg(count(lit(1)).as("cnt"),
        countDistinct(col("tags")("parity")).as("n_parity"),
        round(min(col("lon")), 6).as("min_lon"),
        round(max(col("lon")), 6).as("max_lon"))
  }

  /** GET /status/ analogue (API/raw_data.py:57-62: last replication
    * timestamp): the R3 freshness watermark as a status row. */
  private def statusWatermark(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val wm = graft.streaming.Incremental.watermark(
      ev(s, dir).select(
        unix_millis(col("ts").cast("timestamp")).as("committed_at")))
    Seq(wm).toDF("last_updated")
  }

  /** GET /countries/?q= analogue (API/raw_data.py:499-504: fuzzy search over
    * the country catalog): catalog-side ILIKE probe, the same driver-sized
    * catalog the spatial join indexes. */
  private def countriesQ(s: SparkSession, dir: String): DataFrame = {
    // range + literal-array lookup instead of a local/RDD row relation: the
    // first query that evaluates rows through the local-eval or Row-encoder
    // path pays ~1.1 s of one-time initialization (bisected r06: an 8-row
    // LocalRelation filter cost 1.40 s first / 0.10 s after; the RDD[Row]
    // variant moved but kept the cost). A range scan with element_at over
    // literal arrays is pure whole-stage codegen — the path every earlier
    // query has already warmed. Same 8 output rows.
    val rs = Fixtures.regions
    val cids = array(rs.map(r => lit(r.cid)): _*)
    val names = array(rs.map(r => lit(r.name)): _*)
    val isos = array(rs.map(r => lit(r.iso3)): _*)
    val i = (col("id") + 1).cast("int")
    s.range(rs.size.toLong)
      .select(element_at(cids, i).as("cid"),
        element_at(names, i).as("name"),
        element_at(isos, i).as("iso3"))
      .filter(lower(col("name")).contains("1"))
  }

  /** P2 dynamic attribute projection over a jsonb-style column: events.props
    * ->> 'k' (the reference's tags ->> 'key' AS key, builder.py:148). */
  private def attrJson(s: SparkSession, dir: String): DataFrame =
    ev(s, dir).select(col("event_id"),
      get_json_object(col("props"), "$.k").as("k_attr"))

  /** R2-style batch time-window aggregation (streaming-as-batch: 5-minute
    * tumbling windows over events). */
  private def timeWindow(s: SparkSession, dir: String): DataFrame =
    ev(s, dir)
      .select((unix_millis(col("ts").cast("timestamp")) / lit(300000L)).cast("long").as("bucket"),
        col("event_type"), col("value"))
      .groupBy(col("bucket"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))

  /** F10 country-export mode: the geometry predicate is REPLACED by a test
    * on the precomputed assignment column (builder.py:471-485). */
  private def geoCountryExport(s: SparkSession, dir: String): DataFrame =
    SpatialJoin.assignRegions(s, pts(s, dir))
      .filter(graft.plan.Planning.countryExportFilter(col("cids"), 5))
      .select(col("pid"))

  /** A2 min/max aggregates (batch-window discovery, field_update:158-167). */
  private def aggMinmax(s: SparkSession, dir: String): DataFrame =
    ev(s, dir).groupBy(col("event_type")).agg(
      unix_micros(min(col("ts")).cast("timestamp")).as("min_ts"),
      unix_micros(max(col("ts")).cast("timestamp")).as("max_ts"),
      count(lit(1)).as("cnt"))

  /** A3 percentageXWhereNoY (builder.py:802-842 Kontur stat shape). */
  private def aggPct(s: SparkSession, dir: String): DataFrame = {
    val y = get_json_object(col("props"), "$.k").cast("long")
    ev(s, dir).groupBy(col("event_type")).agg(
      round(lit(100.0) * sum(when(y.isNull || y === 0, col("value")).otherwise(lit(0.0)))
        / sum(col("value")), 4).as("pct_where_no_y"))
  }

  /** W3 pick-first (LIMIT 1 per group, field_update:230-233). */
  private def w3PickFirst(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    ev(s, dir).withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_id").as("first_event"))
  }

  /** F14 ILIKE search (builder.py:773-777). */
  private def f14Ilike(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).filter(lower(col("source")).contains("1"))
      .select(col("doc_id"), col("source"))

  /** R1 latest-wins upsert (replication apply analogue): updates derived
    * deterministically from the base so the oracle can reproduce them. */
  private def upsertMerge(s: SparkSession, dir: String): DataFrame = {
    val base = ev(s, dir).select(col("event_id"), col("user_id"), col("value"),
      lit(1L).as("version"))
    val updates = ev(s, dir).filter(col("event_id") % 10 === 0)
      .select(col("event_id"), col("user_id"),
        (col("value") * 2).as("value"), lit(2L).as("version"))
    graft.streaming.Incremental.upsert(base, updates, "event_id", "version")
      .select(col("event_id"), col("user_id"),
        round(col("value"), 2).as("value"), col("version"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "geo_country_export" -> ((s, d) => geoCountryExport(s, d)),
    "agg_minmax" -> ((s, d) => aggMinmax(s, d)),
    "agg_pct" -> ((s, d) => aggPct(s, d)),
    "w3_pick_first" -> ((s, d) => w3PickFirst(s, d)),
    "f14_ilike" -> ((s, d) => f14Ilike(s, d)),
    "upsert_merge" -> ((s, d) => upsertMerge(s, d)),
    "tag_or" -> ((s, d) => tagOr(s, d)),
    "tag_and" -> ((s, d) => tagAnd(s, d)),
    "tag_exists" -> ((s, d) => tagExists(s, d)),
    "polygon_stats" -> ((s, d) => polygonStats(s, d)),
    "status_watermark" -> ((s, d) => statusWatermark(s, d)),
    "countries_q" -> ((s, d) => countriesQ(s, d)),
    "attr_json" -> ((s, d) => attrJson(s, d)),
    "time_window" -> ((s, d) => timeWindow(s, d)),
    "token_count" -> ((s, d) => TextOps.tokenCount(docs(s, d))),
    "token_bpe" -> ((s, d) => TextOps.tokenCountBpe(docs(s, d))),
    "text_quality" -> ((s, d) => TextOps.quality(docs(s, d))),
    "lang_id" -> ((s, d) => TextOps.langId(docs(s, d))),
    "doc_fingerprint" -> ((s, d) => TextOps.fingerprint(docs(s, d))),
    "doc_rolling_fp" -> ((s, d) => TextOps.rollingFingerprint(docs(s, d))),
    "dedup_exact" -> ((s, d) => TextOps.dedupExact(docs(s, d))),
    // the capped (skew-hardened) variant IS the gated path: on the un-skewed
    // fixture no bucket exceeds the cap, so output ≡ minhashLsh and the same
    // oracle SQL certifies the code that must survive 10^12-row skew
    "dedup_minhash_lsh" -> ((s, d) => Dedup.minhashLshCapped(docs(s, d))),
    "dedup_simhash" -> ((s, d) => Dedup.simhash(docs(s, d))),
    "dedup_jaccard" -> ((s, d) => Dedup.jaccardAdjacent(docs(s, d))),
    "ann_cosine" -> ((s, d) => Similarity.annBrute(
      s.read.parquet(s"$d/embeddings.parquet"))),
    // the self-scaling variant IS the gated path: at fixture scale
    // kListFor/sampleModFor resolve to the pinned oracle constants (floor at
    // DefaultK/SampleMod until n ≈ 2^18), so the same relational oracle
    // certifies the code whose probed fraction shrinks at 10^12 rows
    "ann_ivf" -> ((s, d) => Similarity.annIvfAuto(
      s.read.parquet(s"$d/embeddings.parquet"))),
    // auto variant (planesFor-sized + salt-capped) gated for the same reason
    // as dedup_minhash_lsh above: planesFor floors at 8 until n ≈ 2^18, so
    // fixture output ≡ the fixed-plane oracle
    "embed_neardup_lsh" -> ((s, d) => Similarity.nearDupLshAuto(
      s.read.parquet(s"$d/embeddings.parquet"), tau = 0.3)),
    // the flagship pipeline itself, gated end-to-end (extract → assign →
    // tile) — entry() and Bench.flagship carry this exact plan shape
    "flagship_entry" -> ((s, d) => flagshipEntry(s, d)),
    "q1_agg" -> ((s, d) => q1Agg(s, d)),
    "q3_join" -> ((s, d) => q3Join(s, d)),
    "geo_bbox" -> ((s, d) => geoBbox(s, d)),
    "geo_pip" -> ((s, d) => geoPip(s, d)),
    "geo_cell" -> ((s, d) => geoCell(s, d)),
    "geo_cell_stats" -> ((s, d) => geoCellStats(s, d)),
    "geo_region_join" -> ((s, d) => geoRegionJoin(s, d)),
    "geo_tile" -> ((s, d) => geoTile(s, d)),
    "geo_knn" -> ((s, d) => geoKnn(s, d)),
    "geo_multi_extract" -> ((s, d) => geoMultiExtract(s, d)),
    "geo_area" -> ((s, d) => geoArea(s, d)),
    "geo_ring_stats" -> ((s, d) => geoRingStats(s, d)),
    "geo_multipoly_extract" -> ((s, d) => geoMultipolyExtract(s, d)),
    "geo_multiline_extract" -> ((s, d) => geoMultilineExtract(s, d)),
    "geo_centroid" -> ((s, d) => geoCentroid(s, d)),
    "export_category" -> ((s, d) => exportCategory(s, d)),
    "f16_where_dsl" -> ((s, d) => f16WhereDsl(s, d)),
    "geo_pertype_union" -> ((s, d) => geoPertypeUnion(s, d)),
    "geo_csv_proj" -> ((s, d) => geoCsvProj(s, d)),
    "w1_window" -> ((s, d) => w1Window(s, d)),
    "u2_union" -> ((s, d) => u2Union(s, d)),
  )

  // ---- DuckDB oracles ------------------------------------------------------

  private val P = GeoCols.pointsSql

  def oracleSql: Map[String, String] = Map(
    "geo_country_export" -> {
      val r5 = Fixtures.regions.find(_.cid == 5).get.poly
      s"""WITH pts AS ($P)
         |SELECT pid FROM pts WHERE ${GeoCols.pipSql(r5, "lon", "lat")}""".stripMargin
    },
    "agg_minmax" ->
      """SELECT event_type, epoch_us(min(ts)) AS min_ts, epoch_us(max(ts)) AS max_ts,
        |  COUNT(*) AS cnt
        |FROM events GROUP BY event_type""".stripMargin,
    "agg_pct" ->
      """SELECT event_type,
        |  ROUND(100.0 * SUM(CASE WHEN (props->>'k')::BIGINT IS NULL
        |                        OR (props->>'k')::BIGINT = 0
        |                       THEN value ELSE 0.0 END) / SUM(value), 4)
        |    AS pct_where_no_y
        |FROM events GROUP BY event_type""".stripMargin,
    "w3_pick_first" ->
      """SELECT user_id, event_id AS first_event FROM (
        |  SELECT user_id, event_id,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events) WHERE rn = 1""".stripMargin,
    "f14_ilike" ->
      "SELECT doc_id, source FROM documents WHERE lower(source) LIKE '%1%'",
    "upsert_merge" ->
      """WITH tagged AS (
        |  SELECT event_id, user_id, value, 1::BIGINT AS version, 0 AS src FROM events
        |  UNION ALL
        |  SELECT event_id, user_id, value * 2, 2::BIGINT, 1 FROM events WHERE event_id % 10 = 0),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_id
        |        ORDER BY version DESC, src DESC) AS rn FROM tagged)
        |SELECT event_id, user_id, ROUND(value, 2) AS value, version
        |FROM r WHERE rn = 1""".stripMargin,
    "tag_or" ->
      s"""SELECT doc_id, source FROM documents
         |WHERE list_contains(${TextOps.tokensSql}, 'spark')
         |   OR list_contains(${TextOps.tokensSql}, 'hash')""".stripMargin,
    "tag_and" ->
      s"""SELECT doc_id, lang FROM documents
         |WHERE list_contains(${TextOps.tokensSql}, 'spark')
         |  AND list_contains(${TextOps.tokensSql}, 'join')""".stripMargin,
    "tag_exists" ->
      s"""WITH pts AS ($P)
         |SELECT pid AS image_id, (pid % 7)::VARCHAR AS parity
         |FROM pts WHERE pid % 3 = 0""".stripMargin,
    "polygon_stats" -> {
      val geom = MultiPolygon(Seq(Fixtures.requestPolygon))
      s"""WITH pts AS ($P),
         |f AS (${GeoCols.featuresSql})
         |SELECT kind AS osm_type, COUNT(*) AS cnt,
         |  COUNT(DISTINCT (pid % 7)::VARCHAR) AS n_parity,
         |  round(MIN(lon), 6) AS min_lon, round(MAX(lon), 6) AS max_lon
         |FROM f
         |WHERE ${GeoCols.featureIntersectsRingsSql(geom, "kind", "lon", "lat", "rings")}
         |GROUP BY kind""".stripMargin
    },
    "status_watermark" ->
      "SELECT max(epoch_ms(ts)) AS last_updated FROM events",
    "countries_q" -> {
      val vals = Fixtures.regions
        .map(r => s"(${r.cid}, '${r.name}', '${r.iso3}')").mkString(", ")
      s"""SELECT cid, name, iso3 FROM (VALUES $vals) AS t(cid, name, iso3)
         |WHERE lower(name) LIKE '%1%'""".stripMargin
    },
    "attr_json" ->
      "SELECT event_id, props->>'k' AS k_attr FROM events",
    "time_window" ->
      """SELECT epoch_ms(ts) // 300000 AS bucket, event_type,
        |  COUNT(*) AS cnt, ROUND(SUM(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "token_count" -> TextOps.tokenCountSql,
    "token_bpe" -> TextOps.tokenCountBpeSql,
    "text_quality" -> TextOps.qualitySql,
    "lang_id" -> TextOps.langIdSql,
    "doc_fingerprint" -> TextOps.fingerprintSql,
    "doc_rolling_fp" -> TextOps.rollingFingerprintSql,
    "dedup_exact" -> TextOps.dedupExactSql,
    "dedup_minhash_lsh" -> Dedup.minhashLshSql(),
    "dedup_simhash" -> Dedup.simhashSql,
    "dedup_jaccard" -> Dedup.jaccardAdjacentSql,
    "ann_cosine" -> Similarity.annBruteSql(),
    "ann_ivf" -> Similarity.annIvfSql(),
    "embed_neardup_lsh" -> Similarity.nearDupLshSql(tau = 0.3),
    "flagship_entry" -> {
      val pip = GeoCols.pipSql(Fixtures.requestPolygon, "lon", "lat")
      val branches = Fixtures.regions.map { r =>
        s"SELECT pid, ${r.cid} AS cid FROM fp WHERE ${GeoCols.pipSql(r.poly, "lon", "lat")}"
      }.mkString(" UNION ALL ")
      val tiles = (2 to 6).map { z =>
        s"SELECT pid, $z AS z, ${GeoCols.tileXSql(z, "lon")} AS tx, ${GeoCols.tileYSql(z, "lat")} AS ty FROM fp"
      }.mkString(" UNION ALL ")
      s"""WITH pts AS ($P),
         |fp AS (SELECT pid, lon, lat FROM pts WHERE $pip),
         |m AS ($branches),
         |agg AS (SELECT pid, array_to_string(list_sort(list_distinct(array_agg(cid))), ',') AS c
         |        FROM m GROUP BY pid),
         |a AS (SELECT fp.pid AS pid, COALESCE(agg.c, '0') AS cids
         |      FROM fp LEFT JOIN agg ON fp.pid = agg.pid),
         |t AS ($tiles)
         |SELECT t.pid AS pid, a.cids AS cids, t.z AS z, t.tx AS tx, t.ty AS ty
         |FROM t JOIN a ON t.pid = a.pid""".stripMargin
    },
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  ROUND(SUM(l_quantity), 2) AS sum_qty,
        |  ROUND(SUM(l_extendedprice), 2) AS sum_price,
        |  ROUND(AVG(l_discount), 6) AS avg_disc,
        |  COUNT(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q3_join" ->
      """SELECT c_mktsegment,
        |  ROUND(SUM(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
        |  COUNT(*) AS cnt
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin,
    "geo_bbox" -> {
      val b = Fixtures.requestBBox
      s"""WITH pts AS ($P)
         |SELECT pid, lon, lat FROM pts
         |WHERE lon >= ${b.minLon} AND lon <= ${b.maxLon}
         |  AND lat >= ${b.minLat} AND lat <= ${b.maxLat}""".stripMargin
    },
    "geo_pip" ->
      s"""WITH pts AS ($P)
         |SELECT pid FROM pts
         |WHERE ${GeoCols.pipSql(Fixtures.requestPolygon, "lon", "lat")}""".stripMargin,
    "geo_cell" ->
      s"""WITH pts AS ($P),
         |cxy AS (SELECT pid,
         |  ${GeoCols.cellXSql(8, "lon")} AS cx,
         |  ${GeoCols.cellYSql(8, "lat")} AS cy FROM pts)
         |SELECT pid, ((${GeoCols.mortonSql(8, "cx", "cy")} << 5) + 8) AS cell
         |FROM cxy""".stripMargin,
    "geo_cell_stats" ->
      s"""WITH pts AS ($P),
         |cxy AS (SELECT pid,
         |  ${GeoCols.cellXSql(8, "lon")} AS cx,
         |  ${GeoCols.cellYSql(8, "lat")} AS cy FROM pts)
         |SELECT ((${GeoCols.mortonSql(8, "cx", "cy")} << 5) + 8) AS cell,
         |  COUNT(*) AS cnt
         |FROM cxy GROUP BY 1""".stripMargin,
    "geo_region_join" -> SpatialJoin.assignRegionsOracleSql(),
    "geo_tile" -> SpatialJoin.tileAssignOracleSql(2, 4),
    "geo_knn" -> Knn.knnOracleSql(Fixtures.knnQueries, 8),
    "geo_multi_extract" -> {
      val geom = MultiPolygon(Seq(Fixtures.requestPolygon))
      s"""WITH pts AS ($P),
         |f AS (${GeoCols.featuresSql})
         |SELECT pid AS image_id, kind AS osm_type, (pid % 7)::VARCHAR AS parity,
         |  lon, lat
         |FROM f
         |WHERE ${GeoCols.featureIntersectsRingsSql(geom, "kind", "lon", "lat", "rings")}
         |  AND (pid % 7)::VARCHAR IN ('1', '3', '5')""".stripMargin
    },
    "geo_area" ->
      s"""WITH pts AS ($P),
         |f AS (${GeoCols.featuresSql})
         |SELECT pid AS image_id, round(${GeoCols.areaRingsSql("rings")}, 6) AS area_deg2
         |FROM f WHERE kind = 'polygon'""".stripMargin,
    "geo_ring_stats" ->
      s"""WITH pts AS ($P),
         |f AS (${GeoCols.featuresSql})
         |SELECT pid AS image_id, kind,
         |  len(rings) AS n_rings,
         |  len(list_filter(roles, x -> x = 1)) AS n_holes,
         |  len(list_filter(roles, x -> x = 0)) AS n_parts,
         |  COALESCE(list_sum(list_transform(rings, r -> len(r))), 0) // 2 AS n_vertices
         |FROM f""".stripMargin,
    "geo_multipoly_extract" -> {
      val geom = MultiPolygon(Seq(Fixtures.requestPolygon))
      s"""WITH pts AS ($P),
         |f AS (${GeoCols.featuresSql})
         |SELECT pid AS image_id, len(rings) AS n_rings,
         |  round(${GeoCols.areaRingsSql("rings")}, 6) AS area_deg2
         |FROM f
         |WHERE kind = 'polygon' AND len(list_filter(roles, x -> x = 0)) > 1
         |  AND ${GeoCols.featureIntersectsRingsSql(geom, "kind", "lon", "lat", "rings")}""".stripMargin
    },
    "geo_multiline_extract" -> {
      val geom = MultiPolygon(Seq(Fixtures.requestPolygon))
      s"""WITH pts AS ($P),
         |f AS (${GeoCols.featuresSql})
         |SELECT pid AS image_id, len(rings) AS n_parts,
         |  round(${GeoCols.lengthRingsSql("rings")}, 6) AS length_deg
         |FROM f
         |WHERE kind = 'line' AND len(list_filter(roles, x -> x = 0)) > 1
         |  AND ${GeoCols.featureIntersectsRingsSql(geom, "kind", "lon", "lat", "rings")}""".stripMargin
    },
    "geo_centroid" -> {
      val geom = MultiPolygon(Seq(Fixtures.requestPolygon))
      val (clon, clat) = GeoCols.centroidRingsSql("kind", "lon", "lat", "rings")
      s"""WITH pts AS ($P),
         |f AS (${GeoCols.featuresSql})
         |SELECT pid AS image_id, kind AS osm_type, (pid % 7)::VARCHAR AS parity,
         |  round($clon, 6) AS clon, round($clat, 6) AS clat
         |FROM f
         |WHERE ${GeoCols.featureIntersectsRingsSql(geom, "kind", "lon", "lat", "rings")}""".stripMargin
    },
    "export_category" -> {
      val geom = MultiPolygon(Seq(Fixtures.requestPolygon))
      s"""WITH pts AS ($P),
         |f AS (${GeoCols.featuresSql})
         |SELECT pid AS image_id, kind AS osm_type, (pid % 7)::VARCHAR AS parity,
         |  lon, lat
         |FROM f
         |WHERE ${GeoCols.featureIntersectsRingsSql(geom, "kind", "lon", "lat", "rings")}
         |  AND kind IN ('line', 'polygon')
         |  AND (pid % 7)::VARCHAR IN ('2', '4')""".stripMargin
    },
    "f16_where_dsl" -> {
      val geom = MultiPolygon(Seq(Fixtures.requestPolygon))
      s"""WITH pts AS ($P),
         |f AS (${GeoCols.featuresSql})
         |SELECT pid AS image_id, kind AS osm_type, (pid % 7)::VARCHAR AS parity,
         |  lon, lat
         |FROM f
         |WHERE ${GeoCols.featureIntersectsRingsSql(geom, "kind", "lon", "lat", "rings")}
         |  AND ((pid % 7)::VARCHAR IN ('0', '6') OR (pid % 7)::VARCHAR = '3')""".stripMargin
    },
    "geo_pertype_union" -> {
      val geom = MultiPolygon(Seq(Fixtures.requestPolygon))
      val hit = GeoCols.featureIntersectsRingsSql(geom, "kind", "lon", "lat", "rings")
      s"""WITH pts AS ($P),
         |f AS (${GeoCols.featuresSql})
         |SELECT pid AS image_id, kind AS osm_type, (pid % 7)::VARCHAR AS parity,
         |  lon, lat
         |FROM f
         |WHERE $hit AND kind IN ('point', 'line')
         |  AND (pid % 7)::VARCHAR IN ('1', '2')
         |UNION ALL
         |SELECT pid, kind, CAST(NULL AS VARCHAR), lon, lat
         |FROM f WHERE $hit AND kind = 'polygon'""".stripMargin
    },
    "geo_csv_proj" ->
      s"""WITH pts AS ($P)
         |SELECT pid, lon AS longitude, lat AS latitude, 'POINT' AS geom_type
         |FROM pts""".stripMargin,
    "w1_window" ->
      """SELECT event_id, user_id,
        |  ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
        |  ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running
        |FROM events""".stripMargin,
    "u2_union" ->
      """SELECT DISTINCT * FROM (
        |  SELECT o_orderkey AS id, 'orders' AS src FROM orders
        |  UNION ALL
        |  SELECT l_orderkey AS id, 'lineitem' AS src FROM lineitem)""".stripMargin,
  )
}
