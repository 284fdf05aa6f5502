package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.geo.{Cell, Fixtures}
import graft.functions.{GeoCols, Kernels}

/** Cell-indexed spatial join: assign each point the sorted id list of the
  * region polygons containing it.
  *
  * Re-expresses the reference's batch country-assignment join
  * (backend/field_update:168-214: centroids LEFT JOIN countries ON
  * ST_Intersects → array_agg(cid), empty → ARRAY[0], written back per osm_id;
  * backend/sql/update_countries.sql:1, probing the GIST index that
  * backend/sql/post_indexes.sql builds once) Spark-first, as one path for
  * every catalog:
  *
  *  - the catalog is sorted by cid once, and a region is named by its
  *    position in that order, so the cid domain (empty, sparse, negative,
  *    repeated) never matters;
  *  - the dimension side is the regions' covering cells at `res`
  *    ([[Cell.cover]]), grouped on the driver into ONE entry per cell: the
  *    cell and its candidates, each `pos * 2 + refine`, ascending. A cell
  *    fully inside a polygon has `refine = 0` and skips the exact
  *    point-in-polygon test — the analogue of the reference's GIST index
  *    recheck elision;
  *  - those entries form one [[Kernels.RegionIndex]] (sorted cells, CSR
  *    offsets, flat candidates), built once per (catalog, res) and kept in
  *    a small memo, the analogue of the reference's index built once in
  *    advance;
  *  - one kernel call per point ([[Kernels.regionCids]]) computes the
  *    point's cell, binary-searches it, refines the flagged candidates and
  *    emits the ascending cids, repeats collapsed, "0" when none matches or
  *    the cell has no candidates.
  *
  * The plan is one projection over its input: no join, no exchange, no
  * aggregate, one output row per input row, so a dense cell costs only its
  * own rows' refines and no task or reducer is hot however many points
  * share a cell. The index rides in the task binary: at res 7 it
  * serializes to about 151 KB for the 16-region fixture catalog (9,022
  * cells) and 141 KB for 254 regions (4,135 cells). */
object SpatialJoin {

  /** The cover entries, ascending by cell: one per cell, listing the
    * regions that touch it as `pos * 2 + refine` in ascending order, `pos`
    * being the region's position in `regions`. */
  def coverRows(regions: Seq[Fixtures.Region], res: Int): Seq[(Long, Array[Int])] =
    regions.zipWithIndex.flatMap { case (r, pos) =>
      val (full, part) = Cell.cover(r.poly, res)
      full.toSeq.map(c => (c, pos * 2)) ++ part.toSeq.map(c => (c, pos * 2 + 1))
    }.groupMap(_._1)(_._2).toSeq.map { case (c, cands) => (c, cands.sorted.toArray) }
      .sortBy(_._1)

  /** How many (catalog, res) indexes the memo keeps, least recently used
    * dropped first. */
  private[graft] val MaxIndexes = 8

  private val indexes = new java.util.LinkedHashMap[(Seq[Fixtures.Region], Int),
      Kernels.RegionIndex](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[(Seq[Fixtures.Region], Int),
        Kernels.RegionIndex]): Boolean = size > MaxIndexes
  }

  /** The index of `regions` at `res`, built on the first call and then
    * shared. Catalogs compare as their `Region` values do, polygons by
    * their vertex arrays' identity, so hashing a key reads no vertex. */
  def regionIndex(regions: Seq[Fixtures.Region], res: Int): Kernels.RegionIndex =
    indexes.synchronized {
      val key = (regions, res)
      val cached = indexes.get(key)
      if (cached != null) cached
      else {
        val catalog = regions.sortBy(_.cid)
        val rows = coverRows(catalog, res)
        val index = new Kernels.RegionIndex(res, rows.map(_._1).toArray,
          rows.scanLeft(0)(_ + _._2.length).toArray, rows.flatMap(_._2).toArray,
          catalog.map(_.poly).toArray, catalog.map(_.cid).toArray)
        indexes.put(key, index)
        index
      }
    }

  /** points: (pid: Long, lon: Double, lat: Double) → (pid, cids: String)
    * where cids = comma-joined ascending region ids, "0" when none
    * (reference default `'{0}'`, backend/sql/pre_indexes.sql). One output
    * row per input row, as the reference's per-feature update gives. */
  def assignRegions(
      spark: SparkSession,
      points: DataFrame,
      regions: Seq[Fixtures.Region] = Fixtures.regions,
      res: Int = 7): DataFrame =
    assignRegionsKeep(spark, points, regions, res, Nil)

  /** Like [[assignRegions]] but passes `keep` columns through, so a
    * downstream tile explode runs in the same narrow pipeline instead of
    * re-joining back to the fact table. The kernel computes each point's
    * cell itself: a `cell` column the points carry, at whatever
    * resolution, is not read. */
  def assignRegionsKeep(
      spark: SparkSession,
      points: DataFrame,
      regions: Seq[Fixtures.Region] = Fixtures.regions,
      res: Int = 7,
      keep: Seq[String] = Nil): DataFrame =
    points.select((col("pid") +:
      Kernels.regionCids(regionIndex(regions, res), col("lon"), col("lat")).as("cids") +:
      keep.map(col)): _*)

  /** DuckDB oracle for [[assignRegions]] — brute-force per-region raycast
    * union (the reference's un-indexed join semantics), same literal
    * coordinates. */
  def assignRegionsOracleSql(regions: Seq[Fixtures.Region] = Fixtures.regions): String = {
    val branches = regions.map { r =>
      s"SELECT pid, ${r.cid} AS cid FROM pts WHERE ${GeoCols.pipSql(r.poly, "lon", "lat")}"
    }.mkString(" UNION ALL ")
    s"""WITH pts AS (${GeoCols.pointsSql}),
       |m AS ($branches),
       |agg AS (SELECT pid, array_to_string(list_sort(list_distinct(array_agg(cid))), ',') AS c
       |        FROM m GROUP BY pid)
       |SELECT p.pid AS pid, COALESCE(agg.c, '0') AS cids
       |FROM pts p LEFT JOIN agg ON p.pid = agg.pid""".stripMargin
  }

  /** Tile-pyramid assignment (tippecanoe analogue, app.py:690-698): one output
    * row per (point, zoom) with its Web-Mercator tile — the write side would
    * `partitionBy("z", "tx", "ty")`. Explode is a zero-shuffle narrow op. */
  def tileAssign(points: DataFrame, minZ: Int, maxZ: Int): DataFrame = {
    val perZ = (minZ to maxZ).map { z =>
      struct(lit(z).as("z"),
        GeoCols.tileXCol(z, col("lon")).as("tx"),
        GeoCols.tileYCol(z, col("lat")).as("ty"))
    }
    // pass through every non-geometry column (pid, cids, ...)
    val keep = points.columns.filterNot(Set("lon", "lat", "cell")).map(col).toSeq
    points.select(keep :+ explode(array(perZ: _*)).as("t"): _*)
      .select(keep ++ Seq(col("t.z").as("z"), col("t.tx").as("tx"),
        col("t.ty").as("ty")): _*)
  }

  def tileAssignOracleSql(minZ: Int, maxZ: Int): String = {
    val branches = (minZ to maxZ).map { z =>
      s"SELECT pid, $z AS z, ${GeoCols.tileXSql(z, "lon")} AS tx, ${GeoCols.tileYSql(z, "lat")} AS ty FROM pts"
    }.mkString(" UNION ALL ")
    s"WITH pts AS (${GeoCols.pointsSql}) $branches"
  }
}
