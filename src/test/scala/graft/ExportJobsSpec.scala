package graft

import java.nio.file.Files
import graft.sinks.{FlatGeobuf, Gpkg, MbTiles, PgDump, PmTiles, Shapefile, Sinks}

/** Every file sink finishes through `Lineage.assemble`: the encode pass is
  * its only Spark job (the shapefile's three kinds included), the row count
  * comes from the commit manifests and the driver writes the lineage
  * record. The tile archives add only the shuffle stage of the per-tile
  * group. */
class ExportJobsSpec extends SparkSpec {
  import spark.implicits._

  test("file sinks: 1 Spark job per write, the shapefile and json included") {
    val df = Seq(("a1", "point", 1.5, 2.5), ("a2", "point", -3.0, 4.0),
        ("a3", "point", 0.25, -7.0))
      .toDF("image_id", "kind", "lon", "lat")
    val dir = Files.createTempDirectory("jobs")
    val jobs = Map(
      "csv" -> jobsOf(assert(Sinks.csv(df, s"$dir/csv") == 3)),
      "kml" -> jobsOf(assert(Sinks.kml(df, s"$dir/kml") == 3)),
      "fgb" -> jobsOf(assert(FlatGeobuf.write(df, s"$dir/e.fgb") == 3)),
      "sql" -> jobsOf(assert(PgDump.write(df, s"$dir/e.sql") == 3)),
      "gpkg" -> jobsOf(assert(Gpkg.write(df, s"$dir/e.gpkg") == 3)),
      "geojson" -> jobsOf(assert(Sinks.featureCollection(df, s"$dir/geojson") == 3)),
      "json" -> jobsOf(assert(Sinks.json(df, s"$dir/json") == 3)),
      "shp" -> jobsOf(assert(Shapefile.write(df, s"$dir/shp") ==
        Map("point" -> 3, "line" -> 0, "polygon" -> 0))))
    assert(jobs == Map("csv" -> 1, "kml" -> 1, "fgb" -> 1, "sql" -> 1,
      "gpkg" -> 1, "geojson" -> 1, "json" -> 1, "shp" -> 1),
      "the encode passes only")
  }

  test("tile archives: at most 2 Spark jobs each") {
    val df = (0 until 60).map(i => (s"t$i", "point", i * 5.0 - 150.0, i * 2.0 - 60.0))
      .toDF("image_id", "kind", "lon", "lat")
    val dir = Files.createTempDirectory("tilejobs")
    var tiles = 0L
    val jobs = Seq(
      jobsOf { tiles = PmTiles.writeMvt(df, s"$dir/e.pmtiles", (2, 4), "t")._1 },
      jobsOf(assert(MbTiles.writeMvt(df, s"$dir/e.mbtiles", (2, 4), "t") == tiles)))
    assert(tiles > 16, "tiles over several partitions")
    assert(jobs.forall(_ <= 2), s"jobs per archive: ${jobs.mkString("/")}")
  }
}
