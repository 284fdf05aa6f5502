package graft.plan

import java.util.concurrent.Executors
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import org.apache.spark.sql.{DataFrame, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.geo.{Geo, MultiPolygon}
import graft.model.{Category, GeomType, SnapshotRequest, WhereParser}
import graft.sources.ImageTable

/** Custom-export orchestration — the reference's
  * CustomExport.process_custom_categories (src/app.py:1638-1762):
  *
  *  1. STAGE ONCE: the (optionally geometry-prefiltered) derived table is
  *     materialized to a staging parquet table and every category reads that,
  *     never the base table — the postgres→DuckDB CTAS reuse
  *     (builder.py:875-918, staged at app.py:1670-1686);
  *  2. N categories run CONCURRENTLY, each on its own FAIR scheduler pool —
  *     the Spark analogue of the reference's category/format thread pools
  *     (app.py:1694-1714, :1463-1491). FAIR pools keep one slow category from
  *     starving the rest of the cluster;
  *  3. per category: geometry-type routing, select projection, where-DSL —
  *     extract_features_custom_exports (builder.py:935-992).
  */
object CustomExport {

  def kindName(g: GeomType): String = g match {
    case GeomType.Point => "point"
    case GeomType.Line => "line"
    case GeomType.Polygon => "polygon"
  }

  /** Materialize the staged table (explicit parquet staging, not cache():
    * persist is per-session best-effort; the reference's staging table is
    * durable and shared by every category × format job — and at 100 TB a
    * prefiltered staging parquet is re-readable by later runs for free).
    * Only [[StagedColumns]] are written: the payload `bytes`, `cell` and
    * the other image columns are read by no category. The read-back passes
    * the schema just written, so it starts no footer-inference job.
    *
    * The write runs at most one task per core (`coalesce` to the default
    * parallelism; the scan and its pushed filters are unchanged). Every
    * Spark file-writer task deserializes a write-job description carrying
    * the session's Hadoop configuration (1,096 entries, 113 KB, 8-10 ms on
    * one thread), and a staging task spent 31-36 ms deserializing against
    * 3-8 ms for a scan task. With one task per table file (17-19 on the
    * 64,000-image perfbench table, 4 vCPUs) the staging write took 336-538
    * ms of a 1.2-1.8 s export. */
  def stage(spark: SparkSession, images: DataFrame,
      geometry: Option[MultiPolygon], stagingDir: String): DataFrame = {
    var df = ImageTable.derive(images)
    geometry.foreach { g =>
      df = df.filter(PlanBuilder.geometryFilter(g, col("kind"),
        col("lon"), col("lat"), col("cell"), col("rings")))
    }
    df = df.select(StagedColumns.map(col): _*)
    df.coalesce(spark.sparkContext.defaultParallelism)
      .write.mode(SaveMode.Overwrite).parquet(stagingDir)
    spark.read.schema(df.schema).parquet(stagingDir)
  }

  /** The columns [[extractCategory]] reads: the where-DSL reads only
    * `tags[...]`. */
  private val StagedColumns: Seq[String] =
    Seq("image_id", "kind", "lon", "lat", "tags", "rings", "roles")

  /** One category's extract over the staged table (types → kind routing,
    * select → attribute projection, where-DSL). */
  def extractCategory(staged: DataFrame, cat: Category): DataFrame = {
    var b = staged.filter(col("kind").isin(cat.types.map(kindName): _*))
    cat.where.foreach(w =>
      b = b.filter(PlanBuilder.compileWhere(WhereParser.parse(w))))
    val attrs = cat.select.map(a => col("tags")(a).as(PlanBuilder.sanitize(a)))
    // real geometry rides along (the reference's custom-export select always
    // includes geom, builder.py:967-970) so format sinks serialize true shapes
    val geomCols = Seq(col("lon"), col("lat"), col("rings"), col("roles"))
    b.select(Seq(col("image_id"), col("kind").as("osm_type")) ++ attrs ++
      geomCols: _*)
  }

  /** The full format matrix (the reference's ogr2ogr/DuckDB format table,
    * app.py:549-616): writes `df` as `fmt` under `dir`. Returns the row count
    * when the sink itself reports one (the commit-loop formats take it from
    * their commit manifests); the parquet writer returns None and the
    * caller reuses already-written metadata instead of re-counting. */
  def writeFormat(df: DataFrame, fmt: String, dir: String,
      table: String, pmTilesZooms: (Int, Int) = (2, 6)): Option[Long] = fmt match {
    case "geojson" =>
      Some(graft.sinks.Sinks.featureCollection(df, s"$dir/geojson"))
    case "parquet" =>
      graft.sinks.Sinks.parquetZstd(df, s"$dir/parquet"); None
    case "csv" =>
      Some(graft.sinks.Sinks.csv(df, s"$dir/csv"))
    case "json" =>
      Some(graft.sinks.Sinks.json(df, s"$dir/json"))
    case "shp" =>
      Some(graft.sinks.Shapefile.write(df, s"$dir/shp",
        prefix = s"${table}_").values.map(_.toLong).sum)
    case "kml" =>
      // namespaced like every other format: resumable state + output live
      // under $dir/kml, never in the shared category root
      Some(graft.sinks.Sinks.kml(df, s"$dir/kml"))
    case "fgb" =>
      Some(graft.sinks.FlatGeobuf.write(df, s"$dir/export.fgb", table))
    case "sql" =>
      Some(graft.sinks.PgDump.write(df, s"$dir/export.sql", table))
    case "gpkg" =>
      Some(graft.sinks.Gpkg.write(df, s"$dir/export.gpkg", table))
    // tile payloads are gzip MVT (tippecanoe output parity): PMTiles
    // tile_type 1, MBTiles format=pbf + vector_layers metadata
    case "pmtiles" =>
      val (tiles, _) = graft.sinks.PmTiles.writeMvt(
        df, s"$dir/export.pmtiles", pmTilesZooms, table)
      Some(tiles)
    case "mbtiles" =>
      Some(graft.sinks.MbTiles.writeMvt(
        df, s"$dir/export.mbtiles", pmTilesZooms, table))
    case f => throw new IllegalArgumentException(s"unknown format $f")
  }

  /** Stage once, then run all categories concurrently on FAIR pools — and,
    * inside each category, all formats concurrently (the reference's
    * per-category format thread pool, app.py:1463-1491) — writing each to
    * `outDir/<category>/<format>`. Returns per-category row counts.
    * The session should be built with spark.scheduler.mode=FAIR for true
    * fair sharing; without it the pools degrade to FIFO but the concurrent
    * submission (and the staging reuse) is unchanged. */
  def processCategories(
      spark: SparkSession,
      images: DataFrame,
      geometry: Option[MultiPolygon],
      categories: Seq[Category],
      stagingDir: String,
      outDir: String,
      formats: Seq[String] = Seq("geojson", "parquet"),
      parallelism: Int = 4,
      zipOutputs: Boolean = false): Map[String, Long] = {
    require(categories.nonEmpty, "no categories")
    require(formats.nonEmpty, "no formats")
    val staged = stage(spark, images, geometry, stagingDir)
    val pool = Executors.newFixedThreadPool(
      math.min(parallelism, categories.size * formats.size))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val futs = categories.map { c =>
      val df = extractCategory(staged, c)
      val catDir = s"$outDir/${c.name}"
      // the two tile-archive formats share one tiled pipeline: when both are
      // requested they run in a single future that commits the tile parts
      // once, and both archives merge from those parts
      val (tileFmts, plainFmts) =
        formats.partition(f => f == "pmtiles" || f == "mbtiles")
      val plainFuts = plainFmts.map { f =>
        Future {
          spark.sparkContext.setLocalProperty("spark.scheduler.pool", s"export-${c.name}")
          Seq(f -> writeFormat(df, f, catDir, c.name))
        }
      }
      val tileFut =
        if (tileFmts.isEmpty) Nil
        else Seq(Future {
          spark.sparkContext.setLocalProperty("spark.scheduler.pool", s"export-${c.name}")
          if (tileFmts.size == 1)
            Seq(tileFmts.head -> writeFormat(df, tileFmts.head, catDir, c.name))
          else {
            // one MVT payload pipeline (tileAssign shuffle + protobuf encode
            // + gzip) and one commit feed BOTH archive containers
            val zooms = (2, 6)
            val payloads = graft.sinks.Mvt.tilePayloads(df, zooms, c.name)
            graft.sinks.Mvt.writeArchives(payloads, s"$catDir/.tiles.state",
                Some(graft.sinks.Mvt.tilesFingerprint(payloads, df, zooms, c.name))) { tiles =>
              val pm = graft.sinks.PmTiles.archive(tiles, s"$catDir/export.pmtiles")._1
              val mb = graft.sinks.MbTiles.archive(tiles, s"$catDir/export.mbtiles",
                c.name, graft.sinks.MbTiles.vectorLayersJson(df, zooms, c.name))
              Seq("pmtiles" -> Some(pm), "mbtiles" -> Some(mb))
            }
          }
        })
      // pmtiles/mbtiles tile counts ≠ extract row counts — never used as `n`
      Future.sequence(plainFuts ++ tileFut).map(_.flatten).map { results =>
        val reported = results.collectFirst {
          case (f, Some(n)) if !Set("pmtiles", "mbtiles", "shp")(f) => n
        }
        // row count preference: a sink-reported exact count, else parquet
        // footer counts, else one count job — never a redundant pass when a
        // format already knows
        // S9 packaging parity: zip the category's format outputs after all
        // its formats land (the reference's zipfly step before upload)
        if (zipOutputs)
          graft.sinks.Zip.zipDir(catDir, s"$outDir/${c.name}.zip")
        val n = reported.getOrElse {
          if (formats.contains("parquet"))
            spark.read.schema(df.schema).parquet(s"$catDir/parquet").count()
          else df.count()
        }
        c.name -> n
      }
    }
    try Await.result(Future.sequence(futs), Duration.Inf).toMap
    finally pool.shutdown()
  }

  // ---- plain/sync small-area path (SURVEY §3.3) ------------------------------

  /** The reference's third entry point: POST /v1/snapshot/plain/
    * (API/raw_data.py:467-496 guards area ≤ 10 km²; app.py:868-881 cursors
    * rows into an in-memory FeatureCollection). Same plan as build(), with a
    * driver-side area guard and row cap; returns the FeatureCollection JSON.
    * One Spark job: each partition ships at most `rowCap + 1` features and
    * the driver applies the cap to their sum, in partition order, so the
    * driver holds at most partitions × (`rowCap` + 1) feature strings. (A
    * `toLocalIterator` would run one job per partition, and
    * `limit(rowCap + 1)` scans 1, then 4, then 16 partitions, one job
    * each.) */
  def plainSnapshot(images: DataFrame, req: SnapshotRequest,
      maxAreaKm2: Double = 10.0, rowCap: Int = 10000): String = {
    val area = req.geometry.polys.map(Geo.geodesicAreaKm2).sum
    require(area <= maxAreaKm2,
      f"plain path rejects areas over $maxAreaKm2%.0f km² (got $area%.1f)")
    val feats = PlanBuilder.toGeoJsonFeature(PlanBuilder.build(images, req))
      .as(Encoders.STRING)
      .mapPartitions(_.take(rowCap + 1))(Encoders.STRING)
      .collect()
    require(feats.length <= rowCap, s"plain path row cap $rowCap exceeded")
    feats.mkString("""{"type":"FeatureCollection","features":[""", ",", "]}")
  }
}
