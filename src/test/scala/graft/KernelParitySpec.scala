package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions._
import graft.functions.{GeoCols, Kernels}
import graft.geo.{Cell, Fixtures, Geo, MultiPolygon}
import graft.operators.{Dedup, Similarity}
import graft.plan.PlanBuilder
import graft.sinks.{FeatureModel, Sinks}
import graft.sources.{ImageFixture, ImageTable}

/** Every hot-path kernel call must produce EXACTLY the values of the Column
  * tree or UDF it replaced (null-safe equality, bit-exact doubles), and each
  * test pins what the call gives on null input. The references are kept
  * for this spec: in the codebase (GeoCols.mortonCol/pipCol/
  * featureIntersectsRingsUdf, Dedup.minhashCol, Similarity.dotSql's shape)
  * or inline below (the rings/roles tree `featureGeomCols` with its pid and
  * hash draw providers, the caption `tagsTree`, and the KML, centroid,
  * area and length row UDFs). The DuckDB oracle gates then prove the same
  * end to end. Test names keep the names of the round-6 expression classes
  * the calls replaced. */
class KernelParitySpec extends SparkSpec {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  private def mismatches(df: DataFrame, a: Column, b: Column): Long =
    df.filter(not(a <=> b)).count()

  /** Rows with a null pid, lon or lat (pids 46/48 are a line and a polygon). */
  private lazy val nullPoints: DataFrame =
    Seq[(Option[Long], Option[Double], Option[Double])](
      (None, Some(10.0), Some(20.0)),
      (Some(48L), None, Some(20.0)),
      (Some(46L), Some(10.0), None),
      (None, None, None)).toDF("pid", "lon", "lat")

  /** `kernel` ≡ `tree` on the derived points, and on [[nullPoints]] null
    * exactly where lon or lat is: the point trees' CASE terms and
    * greatest/least clamps turn a null coordinate into false or cell 0,
    * where the kernel calls propagate null (a filter drops the row either
    * way). */
  private def assertPointParity(tree: Column, kernel: Column, clue: String = ""): Unit = {
    assert(mismatches(GeoCols.derivedPoints(spark, sfDir), tree, kernel) == 0, clue)
    assert(nullPoints.filter(kernel.isNull =!=
      (col("lon").isNull || col("lat").isNull)).count() == 0, clue)
  }

  /** The embeddings plus a null vector and a vector with a null element. */
  private def embeddings: DataFrame = {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val one = emb.filter(col("vec_id") === 0)
    emb.union(one.select(lit(-1L).as("vec_id"),
        lit(null).cast(emb.schema("embedding").dataType).as("embedding")))
      .union(one.select(lit(-2L).as("vec_id"), transform(col("embedding"),
        (x, i) => when(i === 3, lit(null)).otherwise(x)).as("embedding")))
  }

  // ---- the rings/roles Column tree the shape kernels replaced ---------------

  private val dirXArr = array(GeoCols.DirX.map(lit): _*)
  private val dirYArr = array(GeoCols.DirY.map(lit): _*)

  private def starRingCol(cx: Column, cy: Column, n: Column, dirRev: Boolean,
      rBase: Double, rSpan: Double, uOff: Int, u: Column => Column): Column =
    flatten(transform(sequence(lit(0), n - 1), i => {
      val d0 = floor(i * lit(16) / n).cast("int")
      val d = if (dirRev) lit(15) - d0 else d0
      val r = lit(rBase) + lit(rSpan) * u(lit(uOff) + i)
      array(cx + r * element_at(dirXArr, d + 1),
        cy + lit(0.7) * r * element_at(dirYArr, d + 1))
    }))

  private def zigzagLineCol(cx: Column, cy: Column, n: Column, anchored: Boolean,
      ampX: Double, ampY: Double, uOffX: Int, uOffY: Int,
      u: Column => Column): Column =
    flatten(transform(sequence(lit(0), n - 1), i => {
      val x = cx + lit(ampX) * (u(lit(uOffX) + i) * lit(2.0) - lit(1.0))
      val y = cy + lit(ampY) * (u(lit(uOffY) + i) * lit(2.0) - lit(1.0))
      if (anchored)
        array(when(i === 0, cx).otherwise(x), when(i === 0, cy).otherwise(y))
      else array(x, y)
    }))

  /** (rings, roles) from the draw providers `u` (unit draw by index) and
    * `m` (structure selector by base and salt). */
  private def featureGeomCols(kind: Column, lon: Column, lat: Column,
      u: Column => Column, m: (Int, Int) => Column): (Column, Column) = {
    val emptyRings = array().cast("array<array<double>>")
    val emptyRoles = array().cast("array<int>")
    val shell = starRingCol(lon, lat, lit(5) + m(8, 0), dirRev = false, 0.15, 0.5, 100, u)
    val hasHole = m(3, 1) === 0
    val hole = starRingCol(lon, lat, lit(4) + m(4, 2), dirRev = true, 0.03, 0.05, 200, u)
    val hasPart2 = m(4, 3) === 0
    val part2 = starRingCol(lon + lit(1.3), lat + lit(0.65), lit(4) + m(7, 4),
      dirRev = false, 0.1, 0.3, 300, u)
    val polyRings = concat(array(shell),
      when(hasHole, array(hole)).otherwise(emptyRings),
      when(hasPart2, array(part2)).otherwise(emptyRings))
    val polyRoles = concat(array(lit(0)),
      when(hasHole, array(lit(1))).otherwise(emptyRoles),
      when(hasPart2, array(lit(0))).otherwise(emptyRoles))
    val lineMain = zigzagLineCol(lon, lat, lit(3) + m(7, 5), anchored = true,
      1.0, 0.5, 400, 500, u)
    val hasLine2 = m(3, 6) === 0
    val line2 = zigzagLineCol(lon + lit(0.6), lat + lit(0.3), lit(2) + m(3, 7),
      anchored = false, 0.8, 0.4, 600, 700, u)
    val lineRings = concat(array(lineMain),
      when(hasLine2, array(line2)).otherwise(emptyRings))
    val lineRoles = concat(array(lit(0)),
      when(hasLine2, array(lit(0))).otherwise(emptyRoles))
    (when(kind === "polygon", polyRings)
      .when(kind === "line", lineRings).otherwise(emptyRings),
      when(kind === "polygon", polyRoles)
        .when(kind === "line", lineRoles).otherwise(emptyRoles))
  }

  private def pidTree(pid: Column): (Column, Column) =
    featureGeomCols(GeoCols.kindPidCol(pid), col("lon"), col("lat"),
      k => ((pid * lit(GeoCols.UA) + k.cast("long") * lit(GeoCols.UB)) %
        lit(1000000L)).cast("double") / lit(1000000.0),
      (base, salt) => ((pid + lit(37L * salt)) % lit(base.toLong)).cast("int"))

  private def unit(h: Column): Column =
    pmod(h, lit(1000000000L)).cast("double") / lit(1.0e9)

  private def imageTree(imageId: Column): (Column, Column) =
    featureGeomCols(col("kind"), col("lon"), col("lat"),
      k => unit(xxhash64(imageId, k)),
      (base, salt) => pmod(xxhash64(imageId, lit(1000 + salt)), lit(base.toLong)).cast("int"))

  /** The caption tree: k=v tokens through `filter`/`transform` lambdas,
    * identical (key, value) pairs dropped; `value` picks the value from a
    * token (the tree took what follows the last `=`). */
  private def tagsTree(caption: Column, value: Column => Column): Column = {
    val kv = filter(split(caption, " "), t => t.contains("="))
    map_from_entries(array_distinct(transform(kv, t =>
      struct(substring_index(t, "=", 1), value(t)))))
  }

  private def afterFirstEq(t: Column): Column = element_at(split(t, "=", 2), 2)

  /** ImageTable.derive as it was built with the trees. */
  private def treeDerive(images: DataFrame): DataFrame = {
    val (rings, roles) = imageTree(col("image_id"))
    images
      .withColumn("lon", ImageTable.lonCol(col("image_id")))
      .withColumn("lat", ImageTable.latCol(col("image_id")))
      .withColumn("tags", tagsTree(col("caption"), substring_index(_, "=", -1)))
      .withColumn("kind", ImageTable.kindCol(col("image_id")))
      .withColumn("cell", ImageTable.cellCol(col("image_id")))
      .withColumn("rings", rings)
      .withColumn("roles", roles)
  }

  /** Null-safe deep equality with doubles compared bit for bit. */
  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) =>
      java.lang.Double.doubleToRawLongBits(x) == java.lang.Double.doubleToRawLongBits(y)
    case (x: Row, y: Row) => same(x.toSeq, y.toSeq)
    case (x: scala.collection.Map[_, _], y: scala.collection.Map[_, _]) =>
      same(x.toSeq, y.toSeq)
    case (x: scala.collection.Seq[_], y: scala.collection.Seq[_]) =>
      x.length == y.length && x.indices.forall(i => same(x(i), y(i)))
    case (x: Array[Byte], y: Array[Byte]) => x.sameElements(y)
    case _ => a == b
  }

  test("PidRingsExpr ≡ featureGeomCols pid-provider rings tree") {
    val (treeRings, treeRoles) = pidTree(col("pid"))
    val (rings, roles) = Kernels.pidRings(col("pid"), GeoCols.kindPidCol(col("pid")),
      col("lon"), col("lat"))
    val df = GeoCols.derivedPoints(spark, sfDir)
    assert(mismatches(df, treeRings, rings) == 0)
    assert(mismatches(df, treeRoles, roles) == 0)
    assert(df.filter(array_contains(roles, 1)).count() > 0, "no hole")
    // the tree gives empty arrays for a null pid and rings of null
    // coordinates for a null lon or lat; the kernels give no rings and no
    // roles for any null, so derivedFeatures keeps both columns non-null
    assert(nullPoints.filter(size(rings) =!= 0 || size(roles) =!= 0).count() == 0)
    val schema = GeoCols.derivedFeatures(spark, sfDir).schema
    assert(!schema("rings").nullable && !schema("roles").nullable)
  }

  test("image rings, roles and tags kernels: derive ≡ derive over the trees") {
    val images = ImageFixture.generate(spark, 2400, 4).cache()
    try {
      val kernel = ImageTable.derive(images)
      val tree = treeDerive(images)
      assert(kernel.schema == tree.schema)
      // the tags also as JSON, which keeps the map's entry order
      def rows(d: DataFrame) =
        d.withColumn("tags_json", to_json(col("tags"))).orderBy("image_id").collect()
      val got = rows(kernel)
      val want = rows(tree)
      assert(got.length == 2400 && want.length == 2400)
      val bad = got.zip(want).filterNot { case (g, w) => same(g, w) }
      assert(bad.isEmpty, s"${bad.length} rows differ, first ${bad.headOption}")
      // every kind, holes, multi-part lines and polygons occur
      def count(c: Column) = kernel.filter(c).count()
      assert(kernel.select("kind").distinct().count() == 3)
      assert(count(array_contains(col("roles"), 1)) > 0, "no hole")
      for (k <- Seq("line", "polygon"))
        assert(count(col("kind") === k &&
          size(filter(col("roles"), r => r === 0)) > 1) > 0, s"no multi-part $k")
      // no higher-order function or interpreted expression in the projection
      val plan = kernel.queryExecution.optimizedPlan
      val exprs = plan.collect { case p: Project => p.projectList }.flatten
      assert(exprs.nonEmpty && !exprs.exists(_.exists(e =>
        e.isInstanceOf[HigherOrderFunction] || e.isInstanceOf[CodegenFallback])),
        plan.toString)
    } finally images.unpersist(blocking = true)
    // a null image_id, kind, lon or lat gives no rings and no roles
    val row = Seq(("i1", "polygon", 1.0, 2.0)).toDF("image_id", "kind", "lon", "lat")
    val nulls = Seq("image_id" -> "string", "kind" -> "string", "lon" -> "double",
        "lat" -> "double")
      .map { case (c, t) => row.withColumn(c, lit(null).cast(t)) }.reduce(_ union _)
    val (rings, roles) = Kernels.imageRings(col("image_id"), col("kind"),
      col("lon"), col("lat"))
    assert(row.filter(size(rings) > 0 && size(roles) === size(rings)).count() == 1)
    assert(nulls.filter(size(rings) =!= 0 || size(roles) =!= 0).count() == 0)
  }

  test("caption tags kernel ≡ the tree; a value is everything after the first =") {
    val captions = Seq("name=a k=a=b", "=x", "k=", "a=1  b=2 word", " a=1 ",
      "", null, "a=1 a=1 b=2", "a=1 b=2 a=1 x=")
    val df = captions.toDF("caption")
    def tags(d: DataFrame) = d.select(to_json(Kernels.captionTags(col("caption"))))
      .as[String].collect().toSeq
    // the kernel in the interpreted (local relation) and in the generated path
    for (d <- Seq(df, df.repartition(2).sortWithinPartitions("caption")))
      assert(mismatches(d, to_json(Kernels.captionTags(col("caption"))),
        to_json(tagsTree(col("caption"), afterFirstEq))) == 0)
    assert(tags(df) == Seq("""{"name":"a","k":"a=b"}""", """{"":"x"}""",
      """{"k":""}""", """{"a":"1","b":"2"}""", """{"a":"1"}""", "{}", null,
      """{"a":"1","b":"2"}""", """{"a":"1","b":"2","x":""}"""))
    // a key given two values: the session's dedup policy decides, as in the tree
    val dup = Seq("a=1 b=2 a=3").toDF("caption").repartition(1)
    for (c <- Seq(Kernels.captionTags(col("caption")),
        tagsTree(col("caption"), afterFirstEq))) {
      val e = intercept[Exception](dup.select(c).collect())
      assert(e.getMessage.contains("DUPLICATED_MAP_KEY"), e.getMessage)
    }
    val key = "spark.sql.mapKeyDedupPolicy"
    spark.conf.set(key, "LAST_WIN")
    try assert(tags(dup) == Seq("""{"a":"3","b":"2"}"""))
    finally spark.conf.unset(key)
  }

  test("CellIdExpr ≡ unrolled morton cell tree (res 4 and 7)") {
    for (res <- Seq(4, 7)) {
      val tree = shiftleft(GeoCols.mortonCol(res,
        GeoCols.cellXCol(res, col("lon")), GeoCols.cellYCol(res, col("lat"))),
        5) + lit(res.toLong)
      assertPointParity(tree, Kernels.cellId(res, col("lon"), col("lat")),
        s"res $res")
    }
  }

  test("PointInMultiPolygonExpr ≡ pipCol ray-cast tree") {
    val geom = MultiPolygon(Seq(Fixtures.requestPolygon))
    val tree = geom.polys.map(GeoCols.pipCol(_, col("lon"), col("lat")))
      .reduce(_ || _)
    assertPointParity(tree,
      Kernels.pointInMultiPolygon(geom, col("lon"), col("lat")))
  }

  test("region refine ≡ pipCol per catalog region") {
    // one candidate per catalog position: refine-flagged it is the exact
    // test, unflagged (a full cover cell) it names the region
    // unconditionally. A res-0 index has one cell, the globe, so every point
    // reaches the candidates it lists.
    val catalog = Fixtures.regions.sortBy(_.cid)
    def index(cells: Array[Long], cands: Int*) = new Kernels.RegionIndex(0, cells,
      Array(0, cands.size).take(cells.length + 1), cands.toArray,
      catalog.map(_.poly).toArray, catalog.map(_.cid).toArray)
    def cids(cands: Int*) = Kernels.regionCids(
      index(Array(Cell.cellAt(0, 0.0, 0.0)), cands: _*), col("lon"), col("lat"))
    val pts = GeoCols.derivedPoints(spark, sfDir)
    catalog.zipWithIndex.foreach { case (r, pos) =>
      val cid = lit(r.cid.toString)
      val tree = when(GeoCols.pipCol(r.poly, col("lon"), col("lat")), cid)
        .otherwise(lit("0"))
      assert(mismatches(pts, tree, cids(pos * 2 + 1)) == 0,
        s"region at position $pos")
      assert(mismatches(pts, cid, cids(pos * 2)) == 0,
        s"full cell at position $pos")
    }
    assert(pts.filter(not(cids(1) === "0")).count() > 0,
      "no point inside the first region")
    // a null coordinate, or a point whose cell the index does not list, is "0"
    assert(nullPoints.filter((col("lon").isNull || col("lat").isNull) &&
      not(cids(1, 2) === "0")).count() == 0)
    val noCells = Kernels.regionCids(index(Array.empty[Long]), col("lon"), col("lat"))
    assert(pts.filter(not(noCells === "0")).count() == 0)
  }

  test("feature intersect ≡ featureIntersectsRingsUdf") {
    val geom = MultiPolygon(Seq(Fixtures.requestPolygon))
    val f = GeoCols.derivedFeatures(spark, sfDir)
      .select(col("kind"), col("lon"), col("lat"), col("rings"))
    val some = f.limit(20)
    val df = f
      .union(some.withColumn("lon", lit(null).cast("double")))
      .union(some.withColumn("lat", lit(null).cast("double")))
    val cols = Seq(col("kind"), col("lon"), col("lat"), col("rings"))
    val udfCol = GeoCols.featureIntersectsRingsUdf(geom)(
      cols(0), cols(1), cols(2), cols(3))
    val kernel = Kernels.featureIntersects(geom, cols(0), cols(1), cols(2), cols(3))
    assert(mismatches(df, udfCol, kernel) == 0)
    assert(df.filter(kernel).count() > 0, "no intersecting feature exercised")
  }

  test("GeoJSON geometry kernel ≡ the fromRings + geoJson row UDF") {
    // the row UDF the kernel replaced, whose body moved to FeatureModel
    val rowUdf = udf((kind: String, lon: Double, lat: Double,
        rings: scala.collection.Seq[scala.collection.Seq[Double]],
        roles: scala.collection.Seq[Int]) =>
      FeatureModel.geoJson(FeatureModel.fromRings(kind, lon, lat, rings, roles)))
    val f = GeoCols.derivedFeatures(spark, sfDir)
      .select(col("kind"), col("lon"), col("lat"), col("rings"), col("roles"))
    // toGeoJsonFeature passes empty roles for frames without them: all outer
    val df = f.union(f.limit(200).withColumn("roles", array().cast("array<int>")))
    val cols = Seq("kind", "lon", "lat", "rings", "roles").map(col)
    def kernel(c: Seq[Column]) = Kernels.geoJsonGeom(c(0), c(1), c(2), c(3), c(4))
    assert(mismatches(df, rowUdf(cols: _*), kernel(cols)) == 0)
    // every geometry type, polygons with holes and multi-part shapes occur
    val types = df.select(regexp_extract(kernel(cols), "^\\{\"type\":\"(\\w+)\"", 1))
      .distinct().as[String].collect().toSet
    assert(types == Set("Point", "LineString", "MultiLineString", "Polygon", "MultiPolygon"))
    assert(f.filter(array_contains(col("roles"), 1)).count() > 0, "no hole")
    // a null argument gives null (the row UDF threw on null rings)
    val some = f.limit(20)
    val nulls = Seq("kind" -> "string", "lon" -> "double", "lat" -> "double",
        "rings" -> "array<array<double>>", "roles" -> "array<int>")
      .map { case (c, t) => some.withColumn(c, lit(null).cast(t)) }.reduce(_ union _)
    assert(nulls.filter(kernel(cols).isNotNull).count() == 0)
  }

  test("KML geometry kernel ≡ the fromRings + kmlGeom row UDF") {
    val rowUdf = udf((kind: String, lon: Double, lat: Double,
        rings: scala.collection.Seq[scala.collection.Seq[Double]],
        roles: scala.collection.Seq[Int]) =>
      Sinks.kmlGeom(FeatureModel.fromRings(kind, lon, lat, rings, roles)))
    val f = GeoCols.derivedFeatures(spark, sfDir)
      .select(col("kind"), col("lon"), col("lat"), col("rings"), col("roles"))
    // kmlPlacemarkCol passes empty roles for frames without them: all outer
    val df = f.union(f.limit(200).withColumn("roles", array().cast("array<int>")))
    val cols = Seq("kind", "lon", "lat", "rings", "roles").map(col)
    def kernel(c: Seq[Column]) = Kernels.kmlGeom(c(0), c(1), c(2), c(3), c(4))
    assert(mismatches(df, rowUdf(cols: _*), kernel(cols)) == 0)
    val elems = df.select(regexp_extract(kernel(cols), "^<(\\w+)>", 1))
      .distinct().as[String].collect().toSet
    assert(elems == Set("Point", "LineString", "Polygon", "MultiGeometry"))
    assert(df.filter(kernel(cols).contains("innerBoundaryIs")).count() > 0, "no hole")
    // a null argument gives null (the row UDF threw on null rings)
    val some = f.limit(20)
    val nulls = Seq("kind" -> "string", "lon" -> "double", "lat" -> "double",
        "rings" -> "array<array<double>>", "roles" -> "array<int>")
      .map { case (c, t) => some.withColumn(c, lit(null).cast(t)) }.reduce(_ union _)
    assert(nulls.filter(kernel(cols).isNotNull).count() == 0)
  }

  test("centroid, area and length kernels ≡ their Geo row UDFs") {
    val centroidUdf = udf((kind: String, lon: Double, lat: Double,
        rings: scala.collection.Seq[scala.collection.Seq[Double]]) => {
      val c = Geo.centroidRings(kind, lon, lat, rings)
      Array(c._1, c._2)
    })
    val areaUdf = udf((rings: scala.collection.Seq[scala.collection.Seq[Double]]) =>
      Geo.areaRings(rings))
    val lengthUdf = udf((rings: scala.collection.Seq[scala.collection.Seq[Double]]) =>
      Geo.lengthRings(rings))
    val df = GeoCols.derivedFeatures(spark, sfDir)
    val cols = Seq("kind", "lon", "lat", "rings").map(col)
    val centroid = Kernels.centroidRings(cols(0), cols(1), cols(2), cols(3))
    assert(mismatches(df, centroidUdf(cols: _*), centroid) == 0)
    assert(mismatches(df, areaUdf(col("rings")), Kernels.areaRings(col("rings"))) == 0)
    assert(mismatches(df, lengthUdf(col("rings")), Kernels.lengthRings(col("rings"))) == 0)
    assert(df.filter(Kernels.areaRings(col("rings")) > 0 &&
      Kernels.lengthRings(col("rings")) > 0).count() > 0)
    // a null argument gives null (the row UDFs threw on null rings)
    val some = df.limit(20)
    val nulls = Seq("kind" -> "string", "lon" -> "double", "lat" -> "double",
        "rings" -> "array<array<double>>")
      .map { case (c, t) => some.withColumn(c, lit(null).cast(t)) }.reduce(_ union _)
    assert(nulls.filter(centroid.isNotNull).count() == 0)
    val noRings = some.withColumn("rings", lit(null).cast("array<array<double>>"))
    assert(noRings.filter(Kernels.areaRings(col("rings")).isNotNull ||
      Kernels.lengthRings(col("rings")).isNotNull).count() == 0)
  }

  test("cell membership ≡ Column.isin over one set of cells") {
    val cells = PlanBuilder.coverCells(MultiPolygon(Seq(Fixtures.requestPolygon)))
      ._2.toSeq.sorted
    val gaps = cells.sliding(2).collect { case Seq(a, b) if b - a > 1 => a + 1 }
      .take(20).toSeq
    assert(gaps.nonEmpty, "no absent id between the cover's cells")
    val probes = Seq(Long.MinValue, cells.head - 1, cells.head, cells.last,
      cells.last + 1, Long.MaxValue) ++ gaps
    val df = GeoCols.derivedPoints(spark, sfDir)
      .select(Kernels.cellId(PlanBuilder.CoverRes, col("lon"), col("lat")).as("cell"))
      .union((probes.map(Option(_)) :+ None).toDF("cell"))
    for (set <- Seq(cells, Seq.empty[Long]))
      assert(mismatches(df, col("cell").isin(set: _*),
        Kernels.cellIn(set, col("cell"))) == 0, s"${set.size} cells")
    assert(df.filter(Kernels.cellIn(cells, col("cell"))).count() > 0,
      "no member cell exercised")
    assert(df.filter(col("cell").isNull &&
      Kernels.cellIn(cells, col("cell")).isNull).count() == 1)
  }

  test("DotProductExpr ≡ unrolled 64-term dot tree") {
    val emb = embeddings
    val tree = (0 until Similarity.Dims).map(i =>
      element_at(col("embedding"), i + 1).cast("double") *
        element_at(col("embedding"), i + 1).cast("double")).reduce(_ + _)
    assert(mismatches(emb, tree,
      Similarity.dotCol(col("embedding"), col("embedding"))) == 0)
    // cross product against a shifted copy (a ≠ b case)
    val pair = emb.withColumn("e2", reverse(col("embedding")))
    val treeAB = (0 until Similarity.Dims).map(i =>
      element_at(col("embedding"), i + 1).cast("double") *
        element_at(col("e2"), i + 1).cast("double")).reduce(_ + _)
    assert(mismatches(pair, treeAB,
      Similarity.dotCol(col("embedding"), col("e2"))) == 0)
  }

  test("SignBucketExpr ≡ unrolled hyperplane-sign tree") {
    val hp = Similarity.hyperplanes(Similarity.Planes)
    val tree = (0 until Similarity.Planes).map { j =>
      val proj = (0 until Similarity.ProjDims).map(i =>
        element_at(col("embedding"), i + 1).cast("double") * lit(hp(j)(i)))
        .reduce(_ + _)
      when(proj > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    assert(mismatches(embeddings, tree,
      Similarity.bucketCol(col("embedding"))) == 0)
  }

  test("array<double> vectors are cast to array<float>, never read as float storage") {
    // the declared array<float> input type makes the analyzer cast; float →
    // double → float round-trips exactly, so results must be bit-identical
    val emb = embeddings.withColumn("d", transform(col("embedding"), _.cast("double")))
    assert(mismatches(emb, Similarity.dotCol(col("embedding"), col("embedding")),
      Similarity.dotCol(col("d"), col("d"))) == 0)
    assert(mismatches(emb, Similarity.bucketCol(col("embedding")),
      Similarity.bucketCol(col("d"))) == 0)
  }

  test("kernel minhash signature ≡ per-i array_min transform columns") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val sig = Dedup.signatures(docs)
    val withIds = sig.withColumn("shids",
      transform(col("sh"), s => graft.operators.TextOps.tokenIdCol(s)))
    val bad = (0 until Dedup.NumHashes).map { i =>
      mismatches(withIds, col(s"mh$i"), Dedup.minhashCol(col("shids"), i))
    }.sum
    assert(bad == 0)
  }
}
