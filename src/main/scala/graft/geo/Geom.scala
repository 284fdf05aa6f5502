package graft.geo

/** Minimal immutable geometry model (EPSG:4326 lon/lat degrees).
  *
  * The reference stores PostGIS geometries (SRID 4326, backend/raw.lua:25) and
  * evaluates ST_Intersects / ST_Within / ST_Centroid / ST_Area server-side
  * (src/query_builder/builder.py:98-102, :157, :67). We own the equivalent
  * kernel in pure Scala: no JTS/GEOS on the classpath, and the hot paths are
  * re-expressed as Catalyst Column expressions (see graft.functions.GeoCols),
  * with this kernel as the driver-side / oracle implementation.
  */
final case class Pt(lon: Double, lat: Double)

/** Closed ring; vertices in order, NOT repeating the first point at the end. */
final case class Ring(pts: Array[Pt]) {
  def size: Int = pts.length
}

/** Polygon = outer shell + holes (reference accepts GeoJSON Polygon /
  * MultiPolygon request geometry, src/validation/models.py:124-146). */
final case class Polygon(shell: Ring, holes: Seq[Ring] = Nil) {
  lazy val bbox: BBox = BBox.of(shell.pts)
}

final case class MultiPolygon(polys: Seq[Polygon]) {
  lazy val bbox: BBox =
    polys.map(_.bbox).reduce((a, b) => BBox(
      math.min(a.minLon, b.minLon), math.min(a.minLat, b.minLat),
      math.max(a.maxLon, b.maxLon), math.max(a.maxLat, b.maxLat)))
  def contains(lon: Double, lat: Double): Boolean =
    polys.exists(p => Geo.pointInPolygon(lon, lat, p))
}

final case class BBox(minLon: Double, minLat: Double, maxLon: Double, maxLat: Double) {
  def contains(lon: Double, lat: Double): Boolean =
    lon >= minLon && lon <= maxLon && lat >= minLat && lat <= maxLat
  def intersects(o: BBox): Boolean =
    !(o.minLon > maxLon || o.maxLon < minLon || o.minLat > maxLat || o.maxLat < minLat)
}

object BBox {
  def of(pts: Array[Pt]): BBox = {
    var (mnx, mny, mxx, mxy) = (Double.MaxValue, Double.MaxValue, Double.MinValue, Double.MinValue)
    var i = 0
    while (i < pts.length) {
      val p = pts(i)
      if (p.lon < mnx) mnx = p.lon
      if (p.lon > mxx) mxx = p.lon
      if (p.lat < mny) mny = p.lat
      if (p.lat > mxy) mxy = p.lat
      i += 1
    }
    BBox(mnx, mny, mxx, mxy)
  }
}

object Geo {
  val EarthRadiusM: Double = 6371008.8 // mean earth radius, IUGG

  /** Ray-cast point-in-ring. Even-odd rule; points exactly on a vertical-cross
    * edge count per the half-open rule (lat1 > lat) != (lat2 > lat), matching
    * the SQL oracle emitted by graft.functions.GeoCols.pipSql so Spark result
    * and DuckDB oracle agree bit-for-bit on boundary cases. */
  def pointInRing(lon: Double, lat: Double, ring: Ring): Boolean = {
    val pts = ring.pts
    val n = pts.length
    var inside = false
    var j = n - 1
    var i = 0
    while (i < n) {
      val yi = pts(i).lat; val yj = pts(j).lat
      val xi = pts(i).lon; val xj = pts(j).lon
      if ((yi > lat) != (yj > lat) &&
          lon < (xj - xi) * (lat - yi) / (yj - yi) + xi) inside = !inside
      j = i
      i += 1
    }
    inside
  }

  def pointInPolygon(lon: Double, lat: Double, poly: Polygon): Boolean = {
    if (!poly.bbox.contains(lon, lat)) return false
    if (!pointInRing(lon, lat, poly.shell)) return false
    !poly.holes.exists(h => pointInRing(lon, lat, h))
  }

  /** Great-circle distance in meters (haversine). */
  def haversineMeters(lon1: Double, lat1: Double, lon2: Double, lat2: Double): Double = {
    val dLat = math.toRadians(lat2 - lat1)
    val dLon = math.toRadians(lon2 - lon1)
    val a = math.sin(dLat / 2) * math.sin(dLat / 2) +
      math.cos(math.toRadians(lat1)) * math.cos(math.toRadians(lat2)) *
        math.sin(dLon / 2) * math.sin(dLon / 2)
    2 * EarthRadiusM * math.asin(math.min(1.0, math.sqrt(a)))
  }

  /** Geodesic (spherical-excess style, l'Huilier-lite) polygon area in km².
    * The plain path's area guard (`CustomExport.plainSnapshot`); the
    * reference's guards use the `area` python lib (API/raw_data.py:483-493). */
  def geodesicAreaKm2(poly: Polygon): Double = {
    def ringArea(ring: Ring): Double = {
      val pts = ring.pts
      var total = 0.0
      val n = pts.length
      var i = 0
      while (i < n) {
        val p1 = pts(i); val p2 = pts((i + 1) % n)
        total += math.toRadians(p2.lon - p1.lon) *
          (2 + math.sin(math.toRadians(p1.lat)) + math.sin(math.toRadians(p2.lat)))
        i += 1
      }
      math.abs(total * EarthRadiusM * EarthRadiusM / 2.0) / 1e6
    }
    ringArea(poly.shell) - poly.holes.map(ringArea).sum
  }

  /** Centroid of a polygon (planar, shoelace-weighted); for a point input the
    * reference's ST_Centroid is identity (builder.py:157). */
  def centroid(poly: Polygon): Pt = {
    val pts = poly.shell.pts
    var cx = 0.0; var cy = 0.0; var a = 0.0
    var j = pts.length - 1
    var i = 0
    while (i < pts.length) {
      val cross = pts(j).lon * pts(i).lat - pts(i).lon * pts(j).lat
      cx += (pts(j).lon + pts(i).lon) * cross
      cy += (pts(j).lat + pts(i).lat) * cross
      a += cross
      j = i; i += 1
    }
    if (math.abs(a) < 1e-12) {
      // degenerate: average of vertices
      Pt(pts.map(_.lon).sum / pts.length, pts.map(_.lat).sum / pts.length)
    } else Pt(cx / (3 * a), cy / (3 * a))
  }

  // ---- segment / non-point intersection kernel ------------------------------
  // The reference routes real linestrings/polygons (backend/raw.lua:128-180)
  // and extracts them with ST_Intersects; this is our exact planar kernel,
  // mirrored expression-for-expression by GeoCols.featureIntersects{Col,Sql}.

  /** Signed orientation of C relative to segment A→B (positive = left). */
  def ccw(ax: Double, ay: Double, bx: Double, by: Double,
      cx: Double, cy: Double): Double =
    (cy - ay) * (bx - ax) - (by - ay) * (cx - ax)

  /** Proper-crossing test for segments (a1,a2) and (b1,b2): strict sign
    * changes on both orientations (touch/collinear cases excluded — a
    * measure-zero semantics choice applied identically in both engines). */
  def segmentsCross(a1: Pt, a2: Pt, b1: Pt, b2: Pt): Boolean = {
    val d1 = ccw(a1.lon, a1.lat, a2.lon, a2.lat, b1.lon, b1.lat) > 0
    val d2 = ccw(a1.lon, a1.lat, a2.lon, a2.lat, b2.lon, b2.lat) > 0
    val d3 = ccw(b1.lon, b1.lat, b2.lon, b2.lat, a1.lon, a1.lat) > 0
    val d4 = ccw(b1.lon, b1.lat, b2.lon, b2.lat, a2.lon, a2.lat) > 0
    d1 != d2 && d3 != d4
  }

  /** Does the segment cross any ring edge (shell or holes) of the polygon? */
  def segmentCrossesBoundary(a: Pt, b: Pt, poly: Polygon): Boolean = {
    def ringCross(r: Ring): Boolean = {
      val pts = r.pts
      var j = pts.length - 1; var i = 0
      while (i < pts.length) {
        if (segmentsCross(a, b, pts(j), pts(i))) return true
        j = i; i += 1
      }
      false
    }
    ringCross(poly.shell) || poly.holes.exists(ringCross)
  }

  // ---- arbitrary-vertex feature kernel (rings/roles model) -----------------
  // Feature geometry is a list of FLAT xy rings ([x0,y0,x1,y1,...], not
  // closed) plus a parallel role list (0 = outer/part, 1 = hole of the
  // preceding outer). Lines store open polylines (roles all 0); points store
  // no rings. This is the storage analogue of the reference's arbitrary OSM
  // geometry (relations → multipolygon areas, backend/raw.lua:153-180;
  // MULTILINESTRING/MULTIPOLYGON branches, builder.py:685,713-714).
  // Every arithmetic expression here is operand-for-operand identical to the
  // DuckDB SQL emitted by GeoCols' *RingsSql generators, so engine and
  // oracle agree bit-for-bit.

  /** Ray-cast crossing count of (lon,lat) against one flat ring (implicit
    * closure, j = previous vertex) — same half-open edge rule and operand
    * order as [[pointInRing]]. */
  def crossingsFlat(lon: Double, lat: Double, ring: scala.collection.Seq[Double]): Int = {
    val n = ring.length / 2
    var c = 0
    var i = 0
    while (i < n) {
      val j = (i + n - 1) % n
      val xi = ring(2 * i); val yi = ring(2 * i + 1)
      val xj = ring(2 * j); val yj = ring(2 * j + 1)
      if ((yi > lat) != (yj > lat) &&
          lon < (xj - xi) * (lat - yi) / (yj - yi) + xi) c += 1
      i += 1
    }
    c
  }

  /** Even-odd point-in-feature over ALL rings at once: for disjoint shells
    * with contained holes, total crossing parity ≡ (in some shell) && !(in
    * its holes) — one uniform rule for Polygon, Polygon-with-holes and
    * MultiPolygon. */
  def pipEvenOdd(lon: Double, lat: Double, rings: scala.collection.Seq[scala.collection.Seq[Double]]): Boolean = {
    var c = 0
    rings.foreach(r => c += crossingsFlat(lon, lat, r))
    c % 2 == 1
  }

  private def segCrossesBoundaryD(ax: Double, ay: Double, bx: Double, by: Double,
      poly: Polygon): Boolean =
    segmentCrossesBoundary(Pt(ax, ay), Pt(bx, by), poly)

  /** Any vertex of the flat ring strictly inside the polygon-with-holes. */
  def anyVertexIn(ring: scala.collection.Seq[Double], poly: Polygon): Boolean = {
    val n = ring.length / 2
    var i = 0
    while (i < n) {
      if (pointInPolygon(ring(2 * i), ring(2 * i + 1), poly)) return true
      i += 1
    }
    false
  }

  /** Any edge of the flat ring (closed when `closed`, open polyline
    * otherwise) properly crossing the polygon boundary. */
  def anyEdgeCrosses(ring: scala.collection.Seq[Double], poly: Polygon, closed: Boolean): Boolean = {
    val n = ring.length / 2
    if (n < 2) return false
    val last = if (closed) n else n - 1
    var i = 0
    while (i < last) {
      val j = (i + 1) % n
      if (segCrossesBoundaryD(ring(2 * i), ring(2 * i + 1),
          ring(2 * j), ring(2 * j + 1), poly)) return true
      i += 1
    }
    false
  }

  /** Kind-aware feature×polygon intersection over the rings model: point →
    * PIP of the anchor; line → any part vertex inside or any open segment
    * crossing; polygon → any ring vertex inside, any closed ring edge
    * crossing, or the polygon's first shell vertex swallowed by the feature
    * (even-odd over the feature's rings). */
  def featureIntersectsRings(polys: Seq[Polygon], kind: String,
      lon: Double, lat: Double,
      rings: scala.collection.Seq[scala.collection.Seq[Double]]): Boolean = kind match {
    case "point" => polys.exists(p => pointInPolygon(lon, lat, p))
    case "line" =>
      polys.exists(p => rings.exists(r =>
        anyVertexIn(r, p) || anyEdgeCrosses(r, p, closed = false)))
    case _ =>
      polys.exists(p =>
        rings.exists(r => anyVertexIn(r, p)) ||
          rings.exists(r => anyEdgeCrosses(r, p, closed = true)) ||
          pipEvenOdd(p.shell.pts.head.lon, p.shell.pts.head.lat, rings))
  }

  /** Signed shoelace area ×2 of one flat ring (j = previous vertex; the
    * cross term x_j·y_i − x_i·y_j, same as [[centroidRings]]'s). CCW
    * positive. */
  def shoelace2Flat(ring: scala.collection.Seq[Double]): Double = {
    val n = ring.length / 2
    var s = 0.0
    var i = 0
    while (i < n) {
      val j = (i + n - 1) % n
      s += ring(2 * j) * ring(2 * i + 1) - ring(2 * i) * ring(2 * j + 1)
      i += 1
    }
    s
  }

  /** Signed planar area (deg²) of the whole feature: shoelace over ALL
    * rings' terms in one flat running sum (bit-parity with the SQL twin's
    * single left fold — per-ring subtotals would re-associate the float
    * adds) — CCW shells positive, CW holes negative, so holes subtract and
    * disjoint parts add (the ST_Area decomposition). */
  def areaRings(rings: scala.collection.Seq[scala.collection.Seq[Double]]): Double = {
    var s = 0.0
    rings.foreach { r =>
      val n = r.length / 2
      var i = 0
      while (i < n) {
        val j = (i + n - 1) % n
        s += r(2 * j) * r(2 * i + 1) - r(2 * i) * r(2 * j + 1)
        i += 1
      }
    }
    s / 2.0
  }

  /** Planar length (deg) of a multi-part polyline: segment lengths summed
    * in one flat running fold across all parts in order (bit-parity with
    * the SQL twin's single left fold) — the ST_Length analogue. */
  def lengthRings(rings: scala.collection.Seq[scala.collection.Seq[Double]]): Double = {
    var sl = 0.0
    rings.foreach { r =>
      val n = r.length / 2
      var i = 0
      while (i < n - 1) {
        sl += math.sqrt((r(2 * i + 2) - r(2 * i)) * (r(2 * i + 2) - r(2 * i)) +
          (r(2 * i + 3) - r(2 * i + 1)) * (r(2 * i + 3) - r(2 * i + 1)))
        i += 1
      }
    }
    sl
  }

  /** Kind-aware centroid over the rings model (the ST_Centroid rules):
    * point → anchor; line → length-weighted over all parts' segments
    * (zero length → first vertex of the first part); polygon → shoelace-
    * weighted over ALL rings (holes wound CW subtract; |a| < 1e-12 →
    * plain average of every ring vertex). */
  def centroidRings(kind: String, lon: Double, lat: Double,
      rings: scala.collection.Seq[scala.collection.Seq[Double]]): (Double, Double) = kind match {
    case "point" => (lon, lat)
    case "line" =>
      var sx = 0.0; var sy = 0.0; var sl = 0.0
      rings.foreach { r =>
        val n = r.length / 2
        var i = 0
        while (i < n - 1) {
          val l = math.sqrt((r(2 * i + 2) - r(2 * i)) * (r(2 * i + 2) - r(2 * i)) +
            (r(2 * i + 3) - r(2 * i + 1)) * (r(2 * i + 3) - r(2 * i + 1)))
          sx += (r(2 * i) + r(2 * i + 2)) / 2 * l
          sy += (r(2 * i + 1) + r(2 * i + 3)) / 2 * l
          sl += l
          i += 1
        }
      }
      if (sl == 0.0) (rings.head(0), rings.head(1)) else (sx / sl, sy / sl)
    case _ =>
      var cx = 0.0; var cy = 0.0; var a = 0.0
      rings.foreach { r =>
        val n = r.length / 2
        var i = 0
        while (i < n) {
          val j = (i + n - 1) % n
          val cross = r(2 * j) * r(2 * i + 1) - r(2 * i) * r(2 * j + 1)
          cx += (r(2 * j) + r(2 * i)) * cross
          cy += (r(2 * j + 1) + r(2 * i + 1)) * cross
          a += cross
          i += 1
        }
      }
      if (math.abs(a) < 1e-12) {
        var sx = 0.0; var sy = 0.0; var n = 0
        rings.foreach { r =>
          var i = 0
          while (i < r.length / 2) { sx += r(2 * i); sy += r(2 * i + 1); n += 1; i += 1 }
        }
        (sx / n, sy / n)
      } else (cx / (3 * a), cy / (3 * a))
  }
}
