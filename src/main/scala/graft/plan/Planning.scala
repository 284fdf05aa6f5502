package graft.plan

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Country-export mode of the reference's request planning
  * (src/app.py:648-688). The reference's other request-time probes — the
  * area cap (F12), the exact-region probe (F11) and the largest-overlap
  * ordering (F13) — run on no engine path; COVERAGE.md lists them as gaps.
  */
object Planning {

  /** F10 — country-export prefilter: in country-export mode the geometry
    * predicate is REPLACED by a containment test on the precomputed
    * assignment column (builder.py:471-485; trigger app.py:662-688). `cids`
    * is the sorted comma-joined assignment produced by
    * SpatialJoin.assignRegions. */
  def countryExportFilter(cidCol: Column, cid: Int): Column = {
    val arr = split(cidCol, ",")
    array_contains(arr, cid.toString)
  }
}
