package graft.geo

/** Hierarchical Z-order (Morton) quadtree cell index over lon/lat.
  *
  * Plays the role of the reference's spatial indexes: the GIST geom index +
  * `grid` coarse prefilter (builder.py:48-56, :464-470) and the precomputed
  * `country int[]` assignment join (backend/field_update:168-214). S2/H3-style
  * semantics: fixed hierarchy, parent/children, k-rings, polygon covers.
  *
  * Encoding: id = (morton(x, y) << 5) | res, res in [0, 29].
  *   x = floor((lon+180)/360 * 2^res), y = floor((lat+90)/180 * 2^res),
  * clamped to [0, 2^res - 1]. Deterministic, total-ordered within a res level
  * by space-filling-curve position (used for write-time clustering, the
  * analogue of the reference's `CLUSTER ... USING geom_idx`,
  * backend/sql/post_indexes.sql:57-63).
  */
object Cell {
  val MaxRes = 29 // 2*29 bits morton + 5 bits res = 63 bits

  /** Interleave low 32 bits of x (even positions) and y (odd positions). */
  def morton(x: Long, y: Long): Long = part1by1(x) | (part1by1(y) << 1)

  private def part1by1(v0: Long): Long = {
    var v = v0 & 0xFFFFFFFFL
    v = (v | (v << 16)) & 0x0000FFFF0000FFFFL
    v = (v | (v << 8))  & 0x00FF00FF00FF00FFL
    v = (v | (v << 4))  & 0x0F0F0F0F0F0F0F0FL
    v = (v | (v << 2))  & 0x3333333333333333L
    v = (v | (v << 1))  & 0x5555555555555555L
    v
  }

  private def compact1by1(v0: Long): Long = {
    var v = v0 & 0x5555555555555555L
    v = (v | (v >> 1))  & 0x3333333333333333L
    v = (v | (v >> 2))  & 0x0F0F0F0F0F0F0F0FL
    v = (v | (v >> 4))  & 0x00FF00FF00FF00FFL
    v = (v | (v >> 8))  & 0x0000FFFF0000FFFFL
    v = (v | (v >> 16)) & 0x00000000FFFFFFFFL
    v
  }

  def xOf(res: Int, lon: Double): Long = {
    val n = 1L << res
    val x = math.floor((lon + 180.0) / 360.0 * n).toLong
    math.max(0L, math.min(n - 1, x))
  }

  def yOf(res: Int, lat: Double): Long = {
    val n = 1L << res
    val y = math.floor((lat + 90.0) / 180.0 * n).toLong
    math.max(0L, math.min(n - 1, y))
  }

  def cellAt(res: Int, lon: Double, lat: Double): Long = {
    require(res >= 0 && res <= MaxRes, s"res out of range: $res")
    (morton(xOf(res, lon), yOf(res, lat)) << 5) | res.toLong
  }

  def resOf(cell: Long): Int = (cell & 0x1FL).toInt
  def xyOf(cell: Long): (Long, Long) = {
    val m = cell >>> 5
    (compact1by1(m), compact1by1(m >> 1))
  }

  def fromXY(res: Int, x: Long, y: Long): Long = (morton(x, y) << 5) | res.toLong

  def parent(cell: Long): Long = {
    val r = resOf(cell)
    require(r > 0, "root has no parent")
    ((cell >>> 5) >>> 2) << 5 | (r - 1).toLong
  }

  def children(cell: Long): Array[Long] = {
    val r = resOf(cell)
    require(r < MaxRes)
    val base = (cell >>> 5) << 2
    Array.tabulate(4)(i => ((base | i) << 5) | (r + 1).toLong)
  }

  /** Geographic bounds of a cell. */
  def bounds(cell: Long): BBox = {
    val r = resOf(cell)
    val (x, y) = xyOf(cell)
    val n = (1L << r).toDouble
    BBox(
      x / n * 360.0 - 180.0, y / n * 180.0 - 90.0,
      (x + 1) / n * 360.0 - 180.0, (y + 1) / n * 180.0 - 90.0)
  }

  /** Cells at exactly grid-distance k (Chebyshev ring) around `cell`;
    * k=0 yields the cell itself. Longitude wraps (antimeridian); latitude
    * clamps at poles. Used for kNN candidate expansion (SURVEY.md J5). */
  def ring(cell: Long, k: Int): Seq[Long] = {
    val r = resOf(cell)
    val n = 1L << r
    val (cx, cy) = xyOf(cell)
    if (k == 0) return Seq(cell)
    val out = scala.collection.mutable.LinkedHashSet.empty[Long]
    def add(x0: Long, y0: Long): Unit = {
      if (y0 >= 0 && y0 < n) {
        val x = ((x0 % n) + n) % n // lon wrap
        out += fromXY(r, x, y0)
      }
    }
    var dx = -k.toLong
    while (dx <= k) {
      add(cx + dx, cy - k); add(cx + dx, cy + k)
      dx += 1
    }
    var dy = -k.toLong + 1
    while (dy <= k - 1) {
      add(cx - k, cy + dy); add(cx + k, cy + dy)
      dy += 1
    }
    out.toSeq
  }

  /** All cells within Chebyshev distance k (disk). */
  def disk(cell: Long, k: Int): Seq[Long] =
    (0 to k).flatMap(ring(cell, _)).distinct

  // ----- polygon covers ------------------------------------------------

  private def segIntersectsBox(a: Pt, b: Pt, box: BBox): Boolean = {
    // Liang-Barsky style clip test
    var t0 = 0.0; var t1 = 1.0
    val dx = b.lon - a.lon; val dy = b.lat - a.lat
    def clip(p: Double, q: Double): Boolean = {
      if (p == 0.0) q >= 0
      else {
        val t = q / p
        if (p < 0) { if (t > t1) return false; if (t > t0) t0 = t }
        else { if (t < t0) return false; if (t < t1) t1 = t }
        true
      }
    }
    clip(-dx, a.lon - box.minLon) && clip(dx, box.maxLon - a.lon) &&
    clip(-dy, a.lat - box.minLat) && clip(dy, box.maxLat - a.lat) && t0 <= t1
  }

  private def ringIntersectsBox(ring: Ring, box: BBox): Boolean = {
    val pts = ring.pts
    var j = pts.length - 1
    var i = 0
    while (i < pts.length) {
      if (segIntersectsBox(pts(j), pts(i), box)) return true
      j = i; i += 1
    }
    false
  }

  /** Exact-ish cell/polygon relation: 0 = disjoint, 1 = intersects (partial),
    * 2 = cell fully inside polygon. */
  def relate(box: BBox, poly: Polygon): Int = {
    if (!box.intersects(poly.bbox)) return 0
    val edgeHit = ringIntersectsBox(poly.shell, box) ||
      poly.holes.exists(h => ringIntersectsBox(h, box))
    if (edgeHit) return 1
    // no boundary crosses the box: either fully in or fully out — test center
    val cx = (box.minLon + box.maxLon) / 2; val cy = (box.minLat + box.maxLat) / 2
    if (Geo.pointInPolygon(cx, cy, poly)) 2 else 0
  }

  /** Covering cells of a polygon at resolution `res`: the exact set of cells
    * whose box intersects the polygon (superset semantics guaranteed: any
    * point inside the polygon lies in some returned cell). Driver-side only —
    * result is broadcast as the coarse prefilter (SURVEY.md F1/F9).
    * Returns (fullyInside, boundary) cell sets — fully-inside cells skip the
    * exact PIP refine at query time. */
  def cover(poly: Polygon, res: Int): (Set[Long], Set[Long]) = {
    val full = Set.newBuilder[Long]
    val part = Set.newBuilder[Long]
    def recurse(cell: Long): Unit = {
      val r = resOf(cell)
      relate(bounds(cell), poly) match {
        case 0 => ()
        case 2 => // fully inside: emit all descendants implicitly via parent
          if (r == res) full += cell
          else expandFull(cell)
        case 1 =>
          if (r == res) part += cell
          else children(cell).foreach(recurse)
      }
    }
    def expandFull(cell: Long): Unit = {
      if (resOf(cell) == res) full += cell
      else children(cell).foreach(expandFull)
    }
    recurse(fromXY(0, 0, 0))
    val f = full.result(); val p = part.result()
    (f, p)
  }
}
