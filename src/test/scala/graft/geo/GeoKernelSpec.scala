package graft.geo

import org.scalatest.funsuite.AnyFunSuite

class GeoKernelSpec extends AnyFunSuite {

  /** Deterministic property sampling (scalatestplus is not on the offline
    * classpath; an explicit LCG keeps failures reproducible anyway). */
  private def samplePoints(n: Int, seed: Long)(f: (Double, Double) => Unit): Unit = {
    val rng = new Fixtures.Lcg(seed)
    var i = 0
    while (i < n) {
      f(-179.99 + 359.98 * rng.nextDouble(), -84.99 + 169.98 * rng.nextDouble())
      i += 1
    }
  }

  test("pointInRing: unit square") {
    val sq = Ring(Array(Pt(0, 0), Pt(1, 0), Pt(1, 1), Pt(0, 1)))
    assert(Geo.pointInRing(0.5, 0.5, sq))
    assert(!Geo.pointInRing(1.5, 0.5, sq))
    assert(!Geo.pointInRing(-0.5, 0.5, sq))
  }

  test("pointInPolygon: hole excluded") {
    val p = Polygon(
      Ring(Array(Pt(0, 0), Pt(10, 0), Pt(10, 10), Pt(0, 10))),
      Seq(Ring(Array(Pt(4, 4), Pt(6, 4), Pt(6, 6), Pt(4, 6)))))
    assert(Geo.pointInPolygon(2, 2, p))
    assert(!Geo.pointInPolygon(5, 5, p))
  }

  test("PIP inside implies inside-bbox (sanity)") {
    val poly = Fixtures.requestPolygon
    samplePoints(2000, 1) { (lon, lat) =>
      if (Geo.pointInPolygon(lon, lat, poly)) assert(poly.bbox.contains(lon, lat))
    }
  }

  test("haversine: zero distance, symmetry, known value") {
    assert(Geo.haversineMeters(10, 20, 10, 20) == 0.0)
    val d1 = Geo.haversineMeters(0, 0, 1, 0)
    val d2 = Geo.haversineMeters(1, 0, 0, 0)
    assert(d1 == d2)
    // 1 degree of longitude at the equator ≈ 111.19 km
    assert(math.abs(d1 - 111195) < 200)
  }

  test("cell: xy roundtrip at several resolutions") {
    samplePoints(500, 2) { (lon, lat) =>
      for (res <- Seq(0, 1, 5, 9, 15)) {
        val c = Cell.cellAt(res, lon, lat)
        assert(Cell.resOf(c) == res)
        val (x, y) = Cell.xyOf(c)
        assert(Cell.fromXY(res, x, y) == c)
        assert(x >= 0 && x < (1L << res) && y >= 0 && y < (1L << res))
      }
    }
  }

  test("cell: parent contains child") {
    samplePoints(500, 3) { (lon, lat) =>
      for (res <- Seq(1, 6, 12)) {
        val c = Cell.cellAt(res, lon, lat)
        val p = Cell.parent(c)
        assert(Cell.resOf(p) == res - 1)
        assert(Cell.children(p).contains(c))
        val pb = Cell.bounds(p); val cb = Cell.bounds(c)
        assert(pb.minLon <= cb.minLon && pb.maxLon >= cb.maxLon)
        assert(pb.minLat <= cb.minLat && pb.maxLat >= cb.maxLat)
        assert(Cell.cellAt(res - 1, lon, lat) == p)
      }
    }
  }

  test("cell: bounds contain the generating point") {
    samplePoints(1000, 4) { (lon, lat) =>
      val b = Cell.bounds(Cell.cellAt(9, lon, lat))
      assert(b.contains(lon, lat))
    }
  }

  test("ring: k=1 has 8 cells away from edges; disk sizes") {
    val c = Cell.cellAt(6, 10, 20)
    assert(Cell.ring(c, 0) == Seq(c))
    assert(Cell.ring(c, 1).size == 8)
    assert(Cell.disk(c, 1).size == 9)
    assert(Cell.ring(c, 2).size == 16)
  }

  test("ring: wraps across the antimeridian; clamps at poles") {
    val c = Cell.cellAt(6, -179.9, 0.0)
    assert(Cell.ring(c, 1).size == 8) // lon wrap keeps all 8
    val top = Cell.cellAt(6, 0.0, 89.9)
    assert(Cell.ring(top, 1).size == 5) // top row clamped
  }

  test("cover: is a superset — every inside point's cell is covered") {
    for (poly <- Fixtures.regions.take(6).map(_.poly) :+ Fixtures.requestPolygon) {
      val (full, part) = Cell.cover(poly, 7)
      val cover = full ++ part
      samplePoints(3000, 5) { (lon, lat) =>
        if (Geo.pointInPolygon(lon, lat, poly))
          assert(cover.contains(Cell.cellAt(7, lon, lat)))
      }
    }
  }

  test("cover: full cells are fully inside") {
    val poly = Fixtures.requestPolygon
    val (full, _) = Cell.cover(poly, 7)
    assert(full.nonEmpty)
    val rng = new Fixtures.Lcg(99)
    for (c <- full.take(50)) {
      val b = Cell.bounds(c)
      for (_ <- 0 until 20) {
        val lon = b.minLon + (b.maxLon - b.minLon) * rng.nextDouble()
        val lat = b.minLat + (b.maxLat - b.minLat) * rng.nextDouble()
        assert(Geo.pointInPolygon(lon, lat, poly),
          s"full cell $c point ($lon,$lat) not in polygon")
      }
    }
  }

  test("geodesic area: 1°×1° equator box ≈ 12,364 km²") {
    val box = Polygon(Ring(Array(Pt(0, 0), Pt(1, 0), Pt(1, 1), Pt(0, 1))))
    val a = Geo.geodesicAreaKm2(box)
    assert(math.abs(a - 12364) < 150, s"got $a")
  }

  test("centroid of a square is its center") {
    val box = Polygon(Ring(Array(Pt(0, 0), Pt(2, 0), Pt(2, 2), Pt(0, 2))))
    val c = Geo.centroid(box)
    assert(math.abs(c.lon - 1.0) < 1e-12 && math.abs(c.lat - 1.0) < 1e-12)
  }

  test("GeoJSON: parses Feature / FeatureCollection / MultiPolygon containers") {
    val poly = """{"type":"Polygon","coordinates":[[[0,0],[2,0],[2,2],[0,2],[0,0]]]}"""
    val feature = s"""{"type":"Feature","properties":{},"geometry":$poly}"""
    val fc = s"""{"type":"FeatureCollection","features":[$feature,$feature]}"""
    val mp = """{"type":"MultiPolygon","coordinates":[[[[0,0],[1,0],[1,1],[0,0]]],[[[5,5],[6,5],[6,6],[5,5]]]]}"""
    assert(GeoJson.parsePolygon(poly).polys.size == 1)
    assert(GeoJson.parsePolygon(feature).polys.size == 1)
    assert(GeoJson.parsePolygon(fc).polys.size == 2)
    assert(GeoJson.parsePolygon(mp).polys.size == 2)
    assert(GeoJson.parsePolygon(poly).contains(1.0, 1.0))
    assert(!GeoJson.parsePolygon(poly).contains(3.0, 1.0))
  }

  test("GeoJSON: polygon roundtrip") {
    val json = GeoJson.polygonJson(Fixtures.requestPolygon)
    val parsed = GeoJson.parsePolygon(json)
    assert(parsed.polys.size == 1)
    val p = parsed.polys.head
    assert(p.shell.pts.toSeq == Fixtures.requestPolygon.shell.pts.toSeq)
    assert(p.holes.head.pts.toSeq == Fixtures.requestPolygon.holes.head.pts.toSeq)
  }
}
