package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.{GeoCols, Kernels}

/** The engine's one fact table (BASELINE.json input_hint):
  *   (image_id string, bytes binary, w int, h int, fmt string,
  *    caption string, phash long)
  * — the analogue of the reference's four feature tables (backend/raw.lua:
  * 29-96), with `caption` playing `tags jsonb` and derived location playing
  * `geom`.
  *
  * Derived columns (computed at ingest and stored — the derivation IS the
  * spec). Every one is a codegen'd built-in or one kernel call, so
  * [[derive]]'s projection runs inside whole-stage codegen:
  *  - u1/u2: two independent uniform [0,1) draws from xxhash64(image_id);
  *  - lon/lat: cubed-uniform transform — deliberately SKEWED toward (0,0)
  *    so dense cells are exercised, the way the reference's planet data
  *    piles up in cities;
  *  - tags: the caption's k=v tokens as a map (reference tags jsonb,
  *    builder.py:148), `Kernels.captionTags`: the value is everything after
  *    the first `=`;
  *  - kind: point/line/polygon routing class (the reference routes features
  *    to nodes/ways_line/ways_poly by shape, backend/raw.lua:106-180);
  *  - cell: the res-`BucketRes` Z-order cell — write-time clustering key
  *    (CLUSTER ... USING geom_idx analogue, backend/sql/post_indexes.sql:57);
  *  - rings/roles: multi-part lines and polygons with holes (the reference
  *    routes genuine OSM geometry, backend/raw.lua:128-180),
  *    `Kernels.imageRings` over xxhash64(image_id, k) draws.
  */
object ImageTable {

  val BucketRes = 7

  /** The stored table's schema: [[derive]] over the raw rows, every field
    * nullable as on any Parquet read. The engine writes every file of the
    * table, so its reads pass this instead of inferring it from a footer
    * (Iceberg keeps the schema in table metadata, never in the data files);
    * FixtureSpec pins it to the footers of a written and an appended table. */
  val Schema: StructType = StructType(Seq(
    StructField("image_id", StringType),
    StructField("bytes", BinaryType),
    StructField("w", IntegerType),
    StructField("h", IntegerType),
    StructField("fmt", StringType),
    StructField("caption", StringType),
    StructField("phash", LongType),
    StructField("lon", DoubleType),
    StructField("lat", DoubleType),
    StructField("tags", MapType(StringType, StringType)),
    StructField("kind", StringType),
    StructField("cell", LongType),
    StructField("rings", ArrayType(ArrayType(DoubleType))),
    StructField("roles", ArrayType(IntegerType))))

  private def unit(h: Column): Column =
    (pmod(h, lit(1000000000L))).cast("double") / lit(1.0e9)

  def u1Col(imageId: Column): Column = unit(xxhash64(imageId))
  def u2Col(imageId: Column): Column = unit(xxhash64(imageId, lit(1)))

  /** cube transform: skew mass toward 0 while staying in (-1,1) */
  private def cube(u: Column): Column = {
    val t = u * lit(2.0) - lit(1.0)
    t * t * t
  }

  def lonCol(imageId: Column): Column = cube(u1Col(imageId)) * lit(180.0)
  def latCol(imageId: Column): Column = cube(u2Col(imageId)) * lit(85.0)

  /** geometry-type routing class from the id hash (reference raw.lua routing). */
  def kindCol(imageId: Column): Column = {
    val m = pmod(xxhash64(imageId, lit(2)), lit(10L))
    when(m < 6, lit("point")).when(m < 8, lit("line")).otherwise(lit("polygon"))
  }

  def cellCol(imageId: Column): Column =
    GeoCols.cellCol(BucketRes, lonCol(imageId), latCol(imageId))

  /** Attach derived columns to a raw images DataFrame. Idempotent: columns
    * already materialized (ingest-time derivation, the reference's
    * precomputed `country`/`grid` pattern — backend/field_update:168-214)
    * are reused as plain attributes. That matters a lot at query time:
    * filter pushdown through a Project INLINES expressions into every
    * predicate reference, so deriving at scan time blows a 12-vertex raycast
    * into a ~4k-line codegen class (janino fails → interpreted re-evaluation
    * of the hash chain per term). Reading the stored column keeps predicates
    * attribute-sized AND enables parquet row-group min/max pruning on the
    * cell-clustered layout. */
  def derive(images: DataFrame): DataFrame = {
    val have = images.columns.toSet
    var df = images
    if (!have("lon")) df = df.withColumn("lon", lonCol(col("image_id")))
    if (!have("lat")) df = df.withColumn("lat", latCol(col("image_id")))
    if (!have("tags")) df = df.withColumn("tags", Kernels.captionTags(col("caption")))
    if (!have("kind")) df = df.withColumn("kind", kindCol(col("image_id")))
    if (!have("cell")) df = df.withColumn("cell", cellCol(col("image_id")))
    if (!have("rings")) {
      val (rings, roles) =
        Kernels.imageRings(col("image_id"), col("kind"), col("lon"), col("lat"))
      df = df.withColumn("rings", rings).withColumn("roles", roles)
    }
    df
  }
}
