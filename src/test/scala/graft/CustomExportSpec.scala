package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.geo.{Fixtures, MultiPolygon}
import graft.model.{Category, GeomType, SnapshotRequest, TypeFilters}
import graft.plan.{CustomExport, PlanBuilder}
import graft.sources.ImageFixture

/** Custom-export orchestration (reference app.py:1638-1762): staging reuse
  * across categories, concurrent FAIR-pool execution, the single-file
  * FeatureCollection sink, and the plain/sync guarded path. */
class CustomExportSpec extends SparkSpec {
  import spark.implicits._

  private lazy val baseDir = {
    val dir = Files.createTempDirectory("ce_images").toString
    ImageFixture.write(spark, 3000, dir, partitions = 4)
    dir
  }

  private val geom = MultiPolygon(Seq(Fixtures.requestPolygon))

  private val cats = Seq(
    Category("buildings", Seq(GeomType.Polygon), Seq("building"),
      Some("tags['building'] IS NOT NULL")),
    Category("roads", Seq(GeomType.Line, GeomType.Point), Seq("highway"),
      Some("tags['highway'] IS NOT NULL")))

  test("staging is written once and every category reads ONLY the staged table") {
    val staging = Files.createTempDirectory("ce_staging").toString
    val images = ImageFixture.read(spark, baseDir)
    val staged = CustomExport.stage(spark, images, Some(geom), staging)
    cats.foreach { c =>
      val plan = CustomExport.extractCategory(staged, c)
        .queryExecution.executedPlan.toString
      assert(plan.contains(staging), s"category ${c.name} must scan the staging table")
      assert(!plan.contains(baseDir), s"category ${c.name} must NOT rescan the base table")
    }
  }

  test("categories run concurrently and produce correct per-category extracts") {
    val staging = Files.createTempDirectory("ce_staging2").toString
    val outDir = Files.createTempDirectory("ce_out").toString
    val images = ImageFixture.read(spark, baseDir)
    val counts = CustomExport.processCategories(spark, images, Some(geom),
      cats, staging, outDir)
    // independent expectation: direct plan over the base table
    val derived = graft.sources.ImageTable.derive(images)
      .filter(PlanBuilder.geometryFilter(geom, col("kind"), col("lon"), col("lat"),
        col("cell"), col("rings")))
    val expBuildings = derived.filter(col("kind") === "polygon" &&
      col("tags")("building").isNotNull).count()
    val expRoads = derived.filter(col("kind").isin("line", "point") &&
      col("tags")("highway").isNotNull).count()
    assert(counts == Map("buildings" -> expBuildings, "roads" -> expRoads))
    // both formats landed per category
    cats.foreach { c =>
      assert(Files.exists(java.nio.file.Paths.get(s"$outDir/${c.name}/geojson/export.geojson")))
      assert(spark.read.parquet(s"$outDir/${c.name}/parquet").count() == counts(c.name))
    }
  }

  test("one category fans out to 9 formats concurrently off the staged table") {
    val staging = Files.createTempDirectory("ce_staging3").toString
    val outDir = Files.createTempDirectory("ce_out3").toString
    val images = ImageFixture.read(spark, baseDir)
    val fmts = Seq("geojson", "parquet", "shp", "kml", "fgb", "sql",
      "gpkg", "pmtiles", "mbtiles")
    val counts = CustomExport.processCategories(spark, images, Some(geom),
      Seq(cats.head), staging, outDir, formats = fmts)
    val n = counts("buildings")
    assert(n > 0)
    val base = java.nio.file.Paths.get(s"$outDir/buildings")
    assert(spark.read.parquet(s"$base/parquet").count() == n)
    assert(Files.exists(base.resolve("geojson/export.geojson")))
    // GIS-convention triple names ({name}_{kind}.shp, reference parity) +
    // the WGS84 .prj sidecar
    assert(Files.exists(base.resolve("shp/buildings_polygon.shp")))
    assert(Files.exists(base.resolve("shp/buildings_polygon.prj")))
    assert(Files.exists(base.resolve("kml/export.kml")))
    assert(Files.exists(base.resolve("export.sql")))
    assert(Files.exists(base.resolve("export.pmtiles")))
    assert(Files.exists(base.resolve("export.mbtiles")))
    // gpkg: sqlite magic + GPKG application id at header offset 68
    val gpkg = java.nio.ByteBuffer.wrap(
      Files.readAllBytes(base.resolve("export.gpkg")))
    assert(new String(gpkg.array(), 0, 15, "US-ASCII") == "SQLite format 3")
    assert(gpkg.getInt(68) == 0x47504B47)
    // fgb: magic + declared features_count == n (wire-format check)
    val fgb = java.nio.ByteBuffer.wrap(
        Files.readAllBytes(base.resolve("export.fgb")))
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    assert((0 until 8).forall(i => fgb.get(i) == graft.sinks.FlatGeobuf.Magic(i)))
    // sql: COPY stream carries exactly n data lines
    val sqlLines = Files.readAllLines(base.resolve("export.sql"))
    assert(sqlLines.size.toLong == 3 + n + 1)
    assert(sqlLines.get(sqlLines.size - 1) == "\\.")
  }

  test("zip packaging: streamed archive mirrors the category outputs") {
    import java.util.zip.ZipInputStream
    val staging = Files.createTempDirectory("ce_zip_st").toString
    val outDir = Files.createTempDirectory("ce_zip_out").toString
    val images = ImageFixture.read(spark, baseDir)
    CustomExport.processCategories(spark, images, Some(geom),
      Seq(cats.head), staging, outDir, formats = Seq("geojson", "csv"),
      zipOutputs = true)
    val zipPath = java.nio.file.Paths.get(s"$outDir/${cats.head.name}.zip")
    assert(Files.exists(zipPath))
    def entries(p: java.nio.file.Path): Map[String, Long] = {
      val zin = new ZipInputStream(Files.newInputStream(p))
      val m = scala.collection.mutable.Map.empty[String, Long]
      var e = zin.getNextEntry
      while (e != null) {
        var n = 0L; val buf = new Array[Byte](8192)
        var r = zin.read(buf)
        while (r > 0) { n += r; r = zin.read(buf) }
        m(e.getName) = n
        e = zin.getNextEntry
      }
      zin.close()
      m.toMap
    }
    val got = entries(zipPath)
    // archive mirrors the on-disk outputs (sizes equal, bookkeeping skipped)
    val catDir = java.nio.file.Paths.get(s"$outDir/${cats.head.name}")
    val walk = Files.walk(catDir)
    val onDisk = try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.filter(Files.isRegularFile(_))
        .filterNot { p =>
          val rel = catDir.relativize(p).toString
          p.getFileName.toString == "_SUCCESS" ||
            p.getFileName.toString.endsWith(".crc") ||
            rel.split('/').contains("lineage") || rel.split('/').contains("parts")
        }
        .map(p => catDir.relativize(p).toString -> Files.size(p)).toMap
    } finally walk.close()
    assert(got == onDisk, s"zip entries must mirror outputs: $got vs $onDisk")
    assert(got.keys.exists(_.endsWith("export.geojson")))
    // pipeline-internal accounting stays out of the user-facing archive
    assert(!got.keys.exists(k => k.split('/').contains("lineage")))
  }

  test("two processCategories runs give byte-identical category zips") {
    val images = ImageFixture.read(spark, baseDir)
    val fmts = Seq("geojson", "parquet", "csv", "json", "shp", "kml", "fgb",
      "sql", "gpkg", "pmtiles", "mbtiles")
    def run(): (Array[Byte], Long) = {
      val staging = Files.createTempDirectory("ce_repro_st").toString
      val outDir = Files.createTempDirectory("ce_repro_out").toString
      val n = CustomExport.processCategories(spark, images, Some(geom),
        Seq(cats.head), staging, outDir, formats = fmts, zipOutputs = true)(cats.head.name)
      (Files.readAllBytes(java.nio.file.Paths.get(s"$outDir/${cats.head.name}.zip")), n)
    }
    val (a, n) = run()
    val (b, _) = run()
    assert(n > 0)
    // within one JVM parquet-mr lists encodings in one order, so the parquet
    // parts are byte-identical too; across JVMs that order may differ
    assert(java.util.Arrays.equals(a, b), "the same export must zip to the same bytes")
  }

  test("staging runs at most one write task per core on a table with more files") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted}
    val dir = Files.createTempDirectory("ce_many_files").toString
    ImageFixture.write(spark, 1200, dir, partitions = 12)
    val images = ImageFixture.read(spark, dir)
    val cores = spark.sparkContext.defaultParallelism
    assert(images.inputFiles.length > cores)
    val staging = Files.createTempDirectory("ce_many_st").toString
    val tasks = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        tasks.addAndGet(e.stageInfo.numTasks)
    }
    spark.sparkContext.addSparkListener(listener)
    var staged: DataFrame = null
    val jobs = try jobsOf { staged = CustomExport.stage(spark, images, None, staging) }
      finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs == 1)
    assert(tasks.get() <= cores, s"${tasks.get()} staging tasks on $cores cores")
    assert(staged.count() == images.count())
  }

  test("featureCollection assembles ONE valid parseable GeoJSON file") {
    val outDir = Files.createTempDirectory("ce_fc").toString
    val req = SnapshotRequest(geometry = geom,
      allGeometry = Some(TypeFilters(attributes = Some(Seq("name")))))
    val extract = PlanBuilder.build(ImageFixture.read(spark, baseDir), req)
    val n = extract.count()
    assert(graft.sinks.Sinks.featureCollection(extract, outDir) == n)
    val fc = new String(Files.readAllBytes(
      java.nio.file.Paths.get(outDir, "export.geojson")), "UTF-8")
    val parsed = spark.read.json(Seq(fc).toDS)
    assert(parsed.select(col("type")).as[String].head() == "FeatureCollection")
    assert(parsed.select(size(col("features"))).as[Int].head() == n)
    assert(n > 0)
  }

  test("plain sync path: area guard, row cap, in-memory FeatureCollection") {
    val images = ImageFixture.read(spark, baseDir)
    // oversized area rejected (the reference's 10 km² guard, raw_data.py:483-493)
    val big = SnapshotRequest(geometry = geom)
    val e = intercept[IllegalArgumentException](
      CustomExport.plainSnapshot(images, big))
    assert(e.getMessage.contains("km²"))
    // row cap enforced
    intercept[IllegalArgumentException](
      CustomExport.plainSnapshot(images, big, maxAreaKm2 = 1e9, rowCap = 3))
    // happy path: small guarded collect returns a valid FeatureCollection
    val fc = CustomExport.plainSnapshot(images, big, maxAreaKm2 = 1e9)
    val parsed = spark.read.json(Seq(fc).toDS)
    assert(parsed.select(col("type")).as[String].head() == "FeatureCollection")
    assert(parsed.select(size(col("features"))).as[Int].head() > 3)
  }

  test("plain path: one Spark job, byte-identical to a driver-iterated concatenation") {
    val images = ImageFixture.read(spark, baseDir)
    assert(images.inputFiles.length >= 4)
    val big = SnapshotRequest(geometry = geom)
    val feats = PlanBuilder.toGeoJsonFeature(PlanBuilder.build(images, big))
    assert(feats.rdd.getNumPartitions > 1, "one partition would hide a per-partition job")
    // the concatenation plainSnapshot made with toLocalIterator
    def iterated(rowCap: Int): String = {
      val it = feats.toLocalIterator()
      val sb = new StringBuilder("""{"type":"FeatureCollection","features":[""")
      var n = 0
      while (it.hasNext) {
        require(n < rowCap, s"plain path row cap $rowCap exceeded")
        if (n > 0) sb.append(',')
        sb.append(it.next().getString(0))
        n += 1
      }
      sb.append("]}").toString
    }
    def plain(rowCap: Int) =
      CustomExport.plainSnapshot(images, big, maxAreaKm2 = 1e9, rowCap = rowCap)
    var fc = ""
    assert(jobsOf { fc = plain(10000) } == 1)
    assert(fc == iterated(10000))
    // the cap holds at its exact boundary, and fails one below it and at 3
    val n = feats.count().toInt
    assert(n > 3)
    assert(plain(n) == fc)
    for (cap <- Seq(n - 1, 3)) {
      val e = intercept[IllegalArgumentException](plain(cap))
      assert(e.getMessage == intercept[IllegalArgumentException](iterated(cap)).getMessage)
    }
  }

  test("staging writes once and reads back the schema it wrote, with no inference job") {
    val images = ImageFixture.read(spark, baseDir)
    val staging = Files.createTempDirectory("ce_stage_jobs").toString
    var staged: DataFrame = null
    assert(jobsOf { staged = CustomExport.stage(spark, images, Some(geom), staging) } == 1,
      "the staging write only")
    assert(staged.schema == spark.read.parquet(staging).schema)
  }

  /** The categories of the benchmark's export mix (size classes aside). */
  private val mixCategories = {
    import GeomType.{Line, Point, Polygon}
    Seq(
      Category("buildings", Seq(Polygon), Seq("building", "name"),
        Some("tags['building'] IS NOT NULL")),
      Category("roads", Seq(Line, Point), Seq("highway"),
        Some("tags['highway'] IN ('residential', 'primary')")),
      Category("amenities", Seq(Point), Seq("amenity", "name"),
        Some("tags['amenity'] = 'school' OR tags['amenity'] = 'cafe'")),
      Category("water", Seq(Line, Polygon), Seq("waterway"),
        Some("tags['waterway'] IS NOT NULL")),
      Category("landuse", Seq(Polygon), Seq("landuse"),
        Some("tags['landuse'] = 'farmland' AND NOT tags['building'] = 'no'")),
      Category("named", Seq(Point, Line, Polygon), Seq("name"),
        Some("tags['name'] IN ('n1', 'n2', 'n3', 'n4', 'n5')")))
  }

  test("staging keeps only the category columns; extracts equal those over the full derived table") {
    val images = ImageFixture.read(spark, baseDir)
    val staging = Files.createTempDirectory("ce_stage_cols").toString
    val staged = CustomExport.stage(spark, images, Some(geom), staging)
    val seven = Seq("image_id", "kind", "lon", "lat", "tags", "rings", "roles")
    assert(staged.columns.toSeq == seven)
    assert(spark.read.parquet(staging).columns.toSeq == seven)
    val full = graft.sources.ImageTable.derive(images)
      .filter(PlanBuilder.geometryFilter(geom, col("kind"), col("lon"), col("lat"),
        col("cell"), col("rings")))
    mixCategories.foreach { c =>
      val a = CustomExport.extractCategory(staged, c)
      val b = CustomExport.extractCategory(full, c)
      assert(a.schema == b.schema, c.name)
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, c.name)
      assert(a.count() == b.count(), c.name)
    }
    assert(mixCategories.exists(c => CustomExport.extractCategory(staged, c).count() > 0))
  }

  test("export job budgets: city 6, regional 6, continental 4 Spark jobs") {
    val images = ImageFixture.read(spark, baseDir)
    val sets = Seq(
      (mixCategories(1), Seq("pmtiles", "shp", "csv", "geojson"), 6),
      (mixCategories(0), Seq("mbtiles", "gpkg", "json", "kml"), 6),
      (mixCategories(3), Seq("fgb", "sql", "parquet"), 4))
    val jobs = sets.map { case (c, fmts, _) =>
      val staging = Files.createTempDirectory("ce_budget_st").toString
      val outDir = Files.createTempDirectory("ce_budget_out").toString
      var counts = Map.empty[String, Long]
      val n = jobsOf {
        counts = CustomExport.processCategories(spark, images, Some(geom), Seq(c),
          staging, outDir, formats = fmts, zipOutputs = true)
      }
      assert(counts.contains(c.name))
      n
    }
    info(s"jobs per export: ${jobs.mkString("/")}")
    assert(jobs.zip(sets).forall { case (n, s) => n <= s._3 },
      s"jobs per export ${jobs.mkString("/")}, budget ${sets.map(_._3).mkString("/")}")
  }
}
