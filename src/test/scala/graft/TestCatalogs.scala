package graft

import graft.geo.{Polygon, Pt, Ring}
import graft.geo.Fixtures.{Lcg, Region}

/** Region catalogs shared by the region-assignment specs. */
object TestCatalogs {

  /** A catalog at the reference's scale: its countries table holds 254 rows
    * (backend/sql/countries.sql:5-12). Small star polygons, cid 1..254 on a
    * jittered 16 × 16 grid over most of the globe; `take(k)` gives a k-region
    * catalog with cids 1..k. */
  lazy val regions254: Seq[Region] = {
    val rng = new Lcg(2026L)
    (1 to 254).map { cid =>
      val gx = (cid - 1) % 16; val gy = (cid - 1) / 16
      val cx = -168.0 + 21.0 * gx + (rng.nextDouble() - 0.5) * 6
      val cy = -70.0 + 8.8 * gy + (rng.nextDouble() - 0.5) * 4
      val n = 8 + cid % 5
      val base = 3.0 + 4.0 * rng.nextDouble()
      val pts = Array.tabulate(n) { i =>
        val ang = 2 * math.Pi * i / n
        val r = base * (0.7 + 0.3 * rng.nextDouble())
        Pt(math.max(-179.9, math.min(179.9, cx + r * math.cos(ang))),
          math.max(-84.9, math.min(84.9, cy + r * math.sin(ang) * 0.6)))
      }
      Region(cid, s"country$cid", f"C$cid%03d", Polygon(Ring(pts)))
    }
  }
}
