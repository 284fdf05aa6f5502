package graft

import org.apache.spark.sql.functions._
import graft.functions.GeoCols
import graft.geo.{Fixtures, Geo, MultiPolygon, Pt}
import graft.model.{GeomType, SnapshotRequest, TypeFilters}
import graft.plan.PlanBuilder

/** Arbitrary-vertex geometry (rings/roles model): structural invariants of
  * the generated fixtures (the bounds the cover prefilter relies on, winding
  * conventions, multi-part/hole coverage), kernel behaviors on known
  * geometries, and plan-filter ≡ exact-refine equivalence. The kernel ≡ SQL
  * parity leg is proven end-to-end by the DuckDB oracle gates. */
class GeometrySpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"
  private val poly = Fixtures.requestPolygon

  private lazy val rows =
    GeoCols.derivedFeatures(spark, sfDir)
      .select(col("image_id"), col("kind"), col("lon"), col("lat"),
        col("rings"), col("roles"))
      .collect()
      .map { r =>
        (r.getLong(0), r.getString(1), r.getDouble(2), r.getDouble(3),
          r.getSeq[scala.collection.Seq[Double]](4), r.getSeq[Int](5))
      }

  test("generated geometry covers every structural case") {
    var nPt = 0; var nLn = 0; var nPg = 0
    var nMultiLine = 0; var nHole = 0; var nMultiPoly = 0
    var maxVerts = 0
    val vertCounts = scala.collection.mutable.Set.empty[Int]
    rows.foreach { case (_, kind, _, _, rings, roles) =>
      kind match {
        case "point" => nPt += 1; assert(rings.isEmpty && roles.isEmpty)
        case "line" =>
          nLn += 1
          assert(rings.nonEmpty && roles.forall(_ == 0))
          if (rings.length > 1) nMultiLine += 1
        case _ =>
          nPg += 1
          assert(rings.nonEmpty && roles.head == 0)
          if (roles.count(_ == 1) > 0) nHole += 1
          if (roles.count(_ == 0) > 1) nMultiPoly += 1
          vertCounts += rings.head.length / 2
      }
      rings.foreach { r =>
        assert(r.length % 2 == 0 && r.length >= 4)
        maxVerts = math.max(maxVerts, r.length / 2)
      }
    }
    assert(nPt > 0 && nLn > 0 && nPg > 0, "all kinds")
    assert(nMultiLine > 0, "MultiLineString features must occur")
    assert(nHole > 0, "polygons with holes must occur")
    assert(nMultiPoly > 0, "MultiPolygon features must occur")
    assert(vertCounts.size >= 6, s"shell vertex counts must vary, got $vertCounts")
    assert(maxVerts >= 10, "shells up to 12 vertices")
  }

  test("offsets stay within the cover-expansion bounds; windings are correct") {
    rows.foreach { case (id, kind, lon, lat, rings, roles) =>
      rings.foreach { r =>
        (0 until r.length / 2).foreach { i =>
          assert(math.abs(r(2 * i) - lon) <= 1.7 + 1e-9,
            s"dlon bound exceeded for $id/$kind")
          assert(math.abs(r(2 * i + 1) - lat) <= 0.93 + 1e-9,
            s"dlat bound exceeded for $id/$kind")
        }
      }
      if (kind == "polygon") {
        rings.indices.foreach { k =>
          val s2 = Geo.shoelace2Flat(rings(k))
          if (roles(k) == 0) assert(s2 > 0, s"shell must wind CCW ($id ring $k)")
          else assert(s2 < 0, s"hole must wind CW ($id ring $k)")
        }
        // every hole vertex strictly inside its shell (preceding role-0 ring)
        rings.indices.filter(roles(_) == 1).foreach { k =>
          val shell = rings(k - 1)
          val hole = rings(k)
          (0 until hole.length / 2).foreach { i =>
            assert(Geo.pipEvenOdd(hole(2 * i), hole(2 * i + 1), Seq(shell)),
              s"hole vertex outside shell ($id)")
          }
        }
      }
    }
  }

  test("even-odd kernel: holes exclude, MultiPolygon parts include") {
    // hand-built feature: shell around (0,0), hole radius 1, second part at (10,0)
    val shell = Seq(-3.0, -3.0, 3.0, -3.0, 3.0, 3.0, -3.0, 3.0)
    val hole = Seq(-1.0, -1.0, -1.0, 1.0, 1.0, 1.0, 1.0, -1.0) // CW
    val part2 = Seq(8.0, -1.0, 12.0, -1.0, 12.0, 1.0, 8.0, 1.0)
    val rings = Seq(shell, hole, part2)
    assert(Geo.pipEvenOdd(2.0, 2.0, rings), "in shell annulus")
    assert(!Geo.pipEvenOdd(0.0, 0.0, rings), "hole excludes")
    assert(Geo.pipEvenOdd(10.0, 0.0, rings), "second part includes")
    assert(!Geo.pipEvenOdd(5.0, 0.0, rings), "between parts excludes")
  }

  test("boundary crossers with no vertex inside are extracted") {
    // a polyline from the request hole's center (NOT in the polygon) to far
    // outside the shell: it intersects the annulus although neither endpoint
    // is inside — exactly what a point-only PIP misses
    val a = Pt(10.0, 20.0) // hole center of Fixtures.requestPolygon
    val b = Pt(60.0, 20.0) // outside the shell (max radius 30)
    assert(!Geo.pointInPolygon(a.lon, a.lat, poly) &&
      !Geo.pointInPolygon(b.lon, b.lat, poly))
    val crossing = Seq(Seq(a.lon, a.lat, b.lon, b.lat))
    assert(Geo.featureIntersectsRings(Seq(poly), "line", a.lon, a.lat, crossing))
    // and a polyline entirely inside the hole does NOT intersect
    val inHole = Seq(Seq(a.lon, a.lat, 11.0, 20.5))
    assert(!Geo.featureIntersectsRings(Seq(poly), "line", a.lon, a.lat, inHole))
    // a feature polygon that SWALLOWS the request: no vertex in, no edge
    // crossing, but the request's first shell vertex is inside the feature
    val huge = Seq(Seq(-100.0, -80.0, 100.0, -80.0, 100.0, 80.0, -100.0, 80.0))
    assert(Geo.featureIntersectsRings(Seq(poly), "polygon", 0, 0, huge))
  }

  test("area kernel: holes subtract, parts add, winding signs") {
    val shell = Seq(0.0, 0.0, 4.0, 0.0, 4.0, 4.0, 0.0, 4.0) // CCW, area 16
    val hole = Seq(1.0, 1.0, 1.0, 3.0, 3.0, 3.0, 3.0, 1.0) // CW, area -4
    val part2 = Seq(10.0, 0.0, 12.0, 0.0, 12.0, 2.0, 10.0, 2.0) // CCW, area 4
    assert(Geo.areaRings(Seq(shell)) == 16.0)
    assert(Geo.areaRings(Seq(shell, hole)) == 12.0)
    assert(Geo.areaRings(Seq(shell, hole, part2)) == 16.0)
  }

  test("centroid kernel: hole shifts the centroid; multiline weights all parts") {
    val shell = Seq(0.0, 0.0, 4.0, 0.0, 4.0, 4.0, 0.0, 4.0)
    val hole = Seq(0.5, 0.5, 0.5, 1.5, 1.5, 1.5, 1.5, 0.5) // off-center hole
    val (cx0, cy0) = Geo.centroidRings("polygon", 0, 0, Seq(shell))
    assert(math.abs(cx0 - 2.0) < 1e-12 && math.abs(cy0 - 2.0) < 1e-12)
    val (cx1, cy1) = Geo.centroidRings("polygon", 0, 0, Seq(shell, hole))
    assert(cx1 > 2.0 && cy1 > 2.0, "mass removed lower-left shifts centroid up-right")
    // two-part line: centroid is the length-weighted mean over both parts
    val l1 = Seq(0.0, 0.0, 2.0, 0.0) // length 2, midpoint (1,0)
    val l2 = Seq(0.0, 10.0, 2.0, 10.0) // length 2, midpoint (1,10)
    val (lx, ly) = Geo.centroidRings("line", 0, 0, Seq(l1, l2))
    assert(math.abs(lx - 1.0) < 1e-12 && math.abs(ly - 5.0) < 1e-12)
  }

  test("expanded cover prefilter is a superset of the exact intersect set") {
    val feats = GeoCols.derivedFeatures(spark, sfDir)
    // the fixture polygon's small cover is a pushed `In`; the country-sized
    // bench polygon's (> 1,000 cells, expanded and full) are kernel calls
    val (benchFull, benchExpanded) =
      PlanBuilder.coverCells(MultiPolygon(Seq(Bench.benchPolygon)))
    assert(benchFull.size > 1000 && benchExpanded.size > 1000)
    for ((name, p) <- Seq("requestPolygon" -> poly,
        "benchPolygon" -> Bench.benchPolygon)) {
      val geom = MultiPolygon(Seq(p))
      val exact = feats.filter(GeoCols.featureIntersectsRingsUdf(geom)(
        col("kind"), col("lon"), col("lat"), col("rings")))
      val planned = feats.filter(PlanBuilder.geometryFilter(
        geom, col("kind"), col("lon"), col("lat"), col("cell"), col("rings")))
      assert(exact.count() == planned.count(),
        s"$name: plan filter must equal exact semantics")
      // and the coarse part alone (without refine) admits every exact hit
      val (_, expanded) = PlanBuilder.coverCells(geom)
      val coarseOnly = feats.filter(PlanBuilder.cellIn(col("cell"), expanded))
      assert(exact.join(coarseOnly, Seq("image_id"), "left_anti").count() == 0,
        s"$name: coarse prefilter drops an exact hit")
    }
  }

  test("centroid=true routes through build and differs from anchors on polygons") {
    val req = SnapshotRequest(
      geometry = MultiPolygon(Seq(poly)),
      geometryTypes = GeomType.all,
      centroid = true,
      allGeometry = Some(TypeFilters(attributes = Some(Seq("parity")))))
    val out = PlanBuilder.build(GeoCols.derivedFeatures(spark, sfDir), req)
      .filter(col("osm_type") === "polygon").limit(5).collect()
    assert(out.nonEmpty)
    val feats = GeoCols.derivedFeatures(spark, sfDir)
      .select(col("image_id"), col("lon")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out.exists(r => math.abs(r.getDouble(3) - feats(r.getLong(0))) > 1e-9),
      "polygon centroid must differ from the anchor")
  }

  test("toGeoJsonFeature emits parseable multi-part real-geometry features") {
    import spark.implicits._
    val feats = GeoCols.derivedFeatures(spark, sfDir).limit(400)
    val json = PlanBuilder.toGeoJsonFeature(feats).as[String]
    val parsed = spark.read.json(json)
    assert(parsed.count() == 400)
    val types = parsed.select(col("geometry.type")).distinct()
      .as[String].collect().toSet
    assert(types == Set("Point", "LineString", "MultiLineString",
      "Polygon", "MultiPolygon"), s"got $types")
  }
}
