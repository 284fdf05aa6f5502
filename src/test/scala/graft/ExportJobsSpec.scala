package graft

import java.nio.file.Files
import graft.sinks.{FlatGeobuf, Gpkg, PgDump, Shapefile, Sinks}

/** Every single-file sink finishes through `Lineage.assemble`: the encode
  * pass is its only Spark job, the row count comes from the commit
  * manifests and the driver writes the lineage record. */
class ExportJobsSpec extends SparkSpec {
  import spark.implicits._

  test("file sinks: 1 Spark job per write, 3 for the shapefile") {
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
      "shp" -> jobsOf(assert(Shapefile.write(df, s"$dir/shp") ==
        Map("point" -> 3, "line" -> 0, "polygon" -> 0))))
    assert(jobs == Map("csv" -> 1, "kml" -> 1, "fgb" -> 1, "sql" -> 1,
      "gpkg" -> 1, "geojson" -> 1, "shp" -> 3),
      "the encode passes only")
  }
}
