package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.geo.{Cell, Fixtures}
import graft.functions.{GeoCols, Kernels}

/** Cell-bucketed broadcast spatial join: assign each point the sorted id list
  * of the region polygons containing it.
  *
  * Re-expresses the reference's batch country-assignment join
  * (backend/field_update:168-214: centroids LEFT JOIN countries ON
  * ST_Intersects → array_agg(cid), empty → ARRAY[0], written back per osm_id;
  * backend/sql/update_countries.sql:1) Spark-first, as one path for every
  * catalog:
  *
  *  - the catalog is sorted by cid once; a region's position in that order
  *    indexes both the exact refine and the membership bitmask, so the cid
  *    domain (empty, sparse, negative, repeated) never matters;
  *  - the dimension side is exploded driver-side into its covering cells at
  *    `res` via [[Cell.cover]]: one `(cell, region_pos, refine)` row per
  *    cell; cells fully inside a polygon carry `refine = false` and skip the
  *    exact point-in-polygon test — the analogue of the reference's GIST
  *    index recheck-elision;
  *  - the cover table (|regions| × ~hundreds of cells) is tiny → broadcast
  *    hash join, NO shuffle on the fact side;
  *  - the exact refine is one kernel call per candidate row
  *    ([[Kernels.regionRefine]]), so the whole join stage is one
  *    WholeStageCodegen span over the scan;
  *  - the per-point aggregate is `max(1, ceil(n/64))` declarative `bit_or`
  *    long words over the matched position (8-byte partial state per word,
  *    map-side combined), decoded by one kernel call
  *    ([[Kernels.regionCids]]) through the position-ordered cid array:
  *    ascending by construction, duplicates collapsed, "0" when empty.
  *
  * Skew: a dense cell only multiplies a fact row by the number of regions
  * covering that cell (bounded by the catalog, not the data). Salting
  * spreads a shuffle keyed on `cell`, and this plan has none: the cover is
  * broadcast, and the only exchange is the aggregation's, keyed on the
  * unique point id — so no reducer is hot however many points share a
  * cell. */
object SpatialJoin {

  /** Build the broadcastable cover table: one row per (cell, pos, refine),
    * `pos` being the region's position in `regions`. */
  def coverRows(regions: Seq[Fixtures.Region], res: Int): Seq[(Long, Int, Boolean)] =
    regions.zipWithIndex.flatMap { case (r, pos) =>
      val (full, part) = Cell.cover(r.poly, res)
      full.toSeq.map(c => (c, pos, false)) ++ part.toSeq.map(c => (c, pos, true))
    }

  /** points: (pid: Long, lon: Double, lat: Double) → (pid, cids: String)
    * where cids = comma-joined ascending region ids, "0" when none
    * (reference default `'{0}'`, backend/sql/pre_indexes.sql). */
  def assignRegions(
      spark: SparkSession,
      points: DataFrame,
      regions: Seq[Fixtures.Region] = Fixtures.regions,
      res: Int = 7): DataFrame =
    assignRegionsKeep(spark, points, regions, res, Nil)

  /** Like [[assignRegions]] but carries `keep` columns through the
    * aggregation (values are functions of pid, so first() is exact). Lets a
    * downstream tile explode run in the SAME pipeline instead of re-joining
    * back to the fact table — one shuffle for the whole
    * extract→assign→tile flagship instead of two plus a join. */
  def assignRegionsKeep(
      spark: SparkSession,
      points: DataFrame,
      regions: Seq[Fixtures.Region] = Fixtures.regions,
      res: Int = 7,
      keep: Seq[String] = Nil): DataFrame = {
    import spark.implicits._
    val catalog = regions.sortBy(_.cid)
    val cover = coverRows(catalog, res).toDF("cell", "region_pos", "refine")
    // reuse a materialized bucket column when the caller carries one at the
    // join resolution (ingest-time derivation — no per-row recompute)
    val withCell =
      if (points.columns.contains("cell") && res == graft.sources.ImageTable.BucketRes)
        points
      else points.withColumn("cell", GeoCols.cellCol(res, col("lon"), col("lat")))
    val refine = Kernels.regionRefine(catalog.map(_.poly), col("region_pos"),
      col("lon"), col("lat"))
    val hit = when(!col("refine") || refine, col("region_pos"))
    // word w holds positions [64w, 64w + 63]; a null hit (no cover row, or
    // the refine said no) sets no bit, and a word with no bit set is null
    val words = (0 until math.max(1, (catalog.size + 63) / 64)).map { w =>
      bit_or(when(shiftright(col("hit"), 6) === w,
        call_function("shiftleft", lit(1L), col("hit").bitwiseAND(63)))).as(s"word$w")
    }
    val aggs = words ++ keep.map(c => first(col(c)).as(c))
    val cids = Kernels.regionCids(catalog.map(_.cid),
      array(words.indices.map(w => col(s"word$w")): _*))
    withCell.join(broadcast(cover), Seq("cell"), "left")
      .withColumn("hit", hit)
      .groupBy(col("pid"))
      .agg(aggs.head, aggs.tail: _*)
      .select((col("pid") +: cids.as("cids") +: keep.map(col)): _*)
  }

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
