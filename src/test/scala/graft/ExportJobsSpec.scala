package graft

import java.nio.file.Files
import graft.sinks.{FlatGeobuf, PgDump, Sinks}

/** Every single-file sink finishes through `Lineage.assemble`: the encode
  * pass and the lineage write are its only Spark jobs, the row count comes
  * from the commit manifests. */
class ExportJobsSpec extends SparkSpec {
  import spark.implicits._

  test("csv, kml, fgb and sql sinks each run exactly 2 Spark jobs") {
    val df = Seq(("a1", "point", 1.5, 2.5), ("a2", "point", -3.0, 4.0),
        ("a3", "point", 0.25, -7.0))
      .toDF("image_id", "kind", "lon", "lat")
    val dir = Files.createTempDirectory("jobs")
    val jobs = Map(
      "csv" -> jobsOf(assert(Sinks.csv(df, s"$dir/csv") == 3)),
      "kml" -> jobsOf(assert(Sinks.kml(df, s"$dir/kml") == 3)),
      "fgb" -> jobsOf(assert(FlatGeobuf.write(df, s"$dir/e.fgb") == 3)),
      "sql" -> jobsOf(assert(PgDump.write(df, s"$dir/e.sql") == 3)))
    assert(jobs == Map("csv" -> 2, "kml" -> 2, "fgb" -> 2, "sql" -> 2),
      "the encode pass and the lineage write only")
  }
}
