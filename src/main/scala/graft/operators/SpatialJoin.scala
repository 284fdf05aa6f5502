package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.geo.{Cell, Fixtures}
import graft.functions.{GeoCols, Kernels}

/** Cell-bucketed broadcast spatial join: assign each point the sorted id list
  * of the region polygons containing it.
  *
  * Re-expresses the reference's batch country-assignment join
  * (backend/field_update:168-214: centroids LEFT JOIN countries ON
  * ST_Intersects → array_agg(cid), empty → ARRAY[0], written back per osm_id;
  * backend/sql/update_countries.sql:1) Spark-first:
  *
  *  - the dimension side (region polygons) is exploded driver-side into its
  *    covering cells at `res` via [[Cell.cover]]; cells fully inside a polygon
  *    carry `refine = false` and skip the exact point-in-polygon test — the
  *    analogue of the reference's GIST index recheck-elision;
  *  - the cover table (|regions| × ~hundreds of cells) is tiny → broadcast
  *    hash join, NO shuffle on the fact side — at 10^12 rows the only shuffle
  *    left is the final per-point aggregation, which map-side-combines to
  *    ≤1 row per point;
  *  - the exact refine is one kernel call per candidate row
  *    ([[Kernels.regionRefine]]), not a UDF — the whole join stage is one
  *    WholeStageCodegen span over the scan;
  *  - skew: a dense cell only multiplies a fact row by the number of regions
  *    covering that cell (bounded by the catalog, not the data), so the
  *    broadcast shape is skew-immune; the groupBy key (point id) is unique →
  *    no hot reducer. This is why we broadcast the *cover*, not shuffle on
  *    cell ids as the naive plan would.
  */
object SpatialJoin {

  /** Build the broadcastable cover table: one row per (cell, cid, pos,
    * refine), `pos` being the region's position in `regions`. */
  def coverRows(regions: Seq[Fixtures.Region], res: Int): Seq[(Long, Int, Int, Boolean)] =
    regions.zipWithIndex.flatMap { case (r, pos) =>
      val (full, part) = Cell.cover(r.poly, res)
      full.toSeq.map(c => (c, r.cid, pos, false)) ++
        part.toSeq.map(c => (c, r.cid, pos, true))
    }

  private def coverDf(spark: SparkSession, regions: Seq[Fixtures.Region],
      res: Int): DataFrame = {
    import spark.implicits._
    coverRows(regions, res).toDF("cell", "cid", "region_pos", "refine")
  }

  /** Exact-refine predicate: one kernel call per candidate row, indexed by
    * catalog position, so any cid domain (empty, sparse, negative) works. */
  private def refineCol(regions: Seq[Fixtures.Region]): Column =
    Kernels.regionRefine(regions.map(_.poly), col("region_pos"), col("lon"),
      col("lat"))

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
    val cover = coverDf(spark, regions, res)
    // reuse a materialized bucket column when the caller carries one at the
    // join resolution (ingest-time derivation — no per-row recompute)
    val withCell =
      if (points.columns.contains("cell") && res == graft.sources.ImageTable.BucketRes)
        points
      else points.withColumn("cell", GeoCols.cellCol(res, col("lon"), col("lat")))
    val joined = withCell.join(broadcast(cover), Seq("cell"), "left")
    val matched = !col("refine") || refineCol(regions)
    val withOk = joined
      .withColumn("cid_ok", when(col("cid").isNotNull && matched, col("cid")))
    // r06 (guide §2.3 — narrower agg state): when every catalog cid fits in
    // one long, aggregate a BITMASK with bit_or (declarative HashAggregate,
    // 8-byte partial state) instead of sort_array(collect_set(...)) (object
    // agg, array state) and decode the ascending id list from the bits —
    // identical `cids` strings. The collect_set path stays for catalogs with
    // ids outside [0, 63].
    val smallIds = regions.nonEmpty &&
      regions.forall(r => r.cid >= 0 && r.cid <= 62)
    if (smallIds) {
      val maxCid = regions.map(_.cid).max
      // NOTE: element_at with a NULLABLE index is unsafe here — its codegen
      // evaluates with the -1 default placeholder when the index is null
      // (observed: null cid_ok → last array element, non-null) — so the mask
      // term uses SQL shiftleft (null-safe binary op: null cid_ok → null →
      // skipped by bit_or). The decode's element_at index is a sequence
      // lambda var, never null.
      val pow2 = array((0 to maxCid).map(c => lit(1L << c)): _*)
      val aggs = bit_or(expr("shiftleft(CAST(1 AS BIGINT), cid_ok)"))
        .as("cid_mask") +: keep.map(c => first(col(c)).as(c))
      val ids = filter(sequence(lit(0), lit(maxCid)),
        c => col("cid_mask").bitwiseAND(element_at(pow2, c + 1)) =!= lit(0L))
      withOk
        .groupBy(col("pid"))
        .agg(aggs.head, aggs.tail: _*)
        .select(
          (col("pid") +:
            when(col("cid_mask").isNull, lit("0"))
              .otherwise(array_join(ids, ",")).as("cids") +:
            keep.map(col)): _*)
    } else {
      val aggs = sort_array(collect_set(col("cid_ok"))).as("cid_arr") +:
        keep.map(c => first(col(c)).as(c))
      withOk
        .groupBy(col("pid"))
        .agg(aggs.head, aggs.tail: _*)
        .select(
          (col("pid") +:
            when(size(col("cid_arr")) === 0, lit("0"))
              .otherwise(array_join(col("cid_arr"), ",")).as("cids") +:
            keep.map(col)): _*)
    }
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

  /** Shuffle-partitioned variant of [[assignRegions]] with EXPLICIT skew
    * salting — for when the dimension side is too large to broadcast (a
    * full country catalog at planet scale; BASELINE.json north_rule requires
    * the skew story to be explicit, not AQE-only).
    *
    * Both sides shuffle on (cell, salt):
    *  - the fact side computes salt = pmod(xxhash64(pid), S) — uniform, so a
    *    dense cell's rows spread over S reducers instead of one hot one;
    *  - the cover side replicates each (cell, cid) row S times, once per
    *    salt value (dimension replication is the standard dual of fact-side
    *    salting).
    * S is chosen per cell from a sampled hotness map: only cells above
    * `hotThreshold` get S = `saltFactor`, the rest keep S = 1, so the
    * replication cost is bounded by the actually-hot cells. AQE skew-join
    * stays on as backstop for residual imbalance. */
  def assignRegionsShuffleSalted(
      spark: SparkSession,
      points: DataFrame,
      regions: Seq[Fixtures.Region] = Fixtures.regions,
      res: Int = 7,
      saltFactor: Int = 8,
      hotThreshold: Long = 50000L): DataFrame = {
    val withCell =
      if (points.columns.contains("cell") && res == graft.sources.ImageTable.BucketRes)
        points
      else points.withColumn("cell", GeoCols.cellCol(res, col("lon"), col("lat")))

    // sampled hotness map (driver-sized: |occupied cells| at res 7 ≤ 16k);
    // the count cutoff scales WITH the sample rate so the two can't drift
    val sampleRate = 0.01
    val hotCells = withCell.sample(sampleRate).groupBy("cell").count()
      .filter(col("count") > (hotThreshold * sampleRate).toLong)
      .select("cell").collect().map(_.getLong(0)).toSet
    val hotBc = spark.sparkContext.broadcast(hotCells)
    val saltOf = udf((cell: Long) => if (hotBc.value.contains(cell)) saltFactor else 1)

    val cover = coverDf(spark, regions, res)
      .withColumn("s", saltOf(col("cell")))
      .withColumn("salt", explode(transform(sequence(lit(0), col("s") - 1), i => i)))
      .drop("s")
    val fact = withCell.withColumn("salt",
      pmod(xxhash64(col("pid")), saltOf(col("cell"))).cast("int"))

    val joined = fact.join(cover, Seq("cell", "salt"), "left")
    val matched = !col("refine") || refineCol(regions)
    joined
      .withColumn("cid_ok", when(col("cid").isNotNull && matched, col("cid")))
      .groupBy(col("pid"))
      .agg(sort_array(collect_set(col("cid_ok"))).as("cid_arr"))
      .select(
        col("pid"),
        when(size(col("cid_arr")) === 0, lit("0"))
          .otherwise(array_join(col("cid_arr"), ",")).as("cids"))
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
