package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import graft.sinks.{FlatGeobuf, PgDump, Sinks}

/** Every single-file sink finishes through `Lineage.assemble`: the encode
  * pass and the lineage write are its only Spark jobs, the row count comes
  * from the commit manifests. */
class ExportJobsSpec extends SparkSpec {
  import spark.implicits._

  /** Spark jobs `body` starts on this thread (job group filtered, so other
    * work on the shared session is not counted). */
  private def jobsOf(body: => Any): Int = {
    val group = s"export-jobs-${System.nanoTime()}"
    val n = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try body
    finally {
      sc.clearJobGroup()
      TestBus.drain(sc)
      sc.removeSparkListener(listener)
    }
    n.get()
  }

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
