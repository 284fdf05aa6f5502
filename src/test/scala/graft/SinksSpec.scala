package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.geo.{Fixtures, MultiPolygon}
import graft.model.{SnapshotRequest, TypeFilters}
import graft.plan.PlanBuilder
import graft.sinks.Sinks
import graft.sources.ImageFixture

class SinksSpec extends SparkSpec {

  private lazy val images = ImageFixture.generate(spark, 800, 4)
  private val req = SnapshotRequest(
    geometry = MultiPolygon(Seq(Fixtures.requestPolygon)),
    allGeometry = Some(TypeFilters(attributes = Some(Seq("name")))))

  test("geojson sink: valid feature lines, resumable layout") {
    val dir = Files.createTempDirectory("gj").toString
    val extract = PlanBuilder.build(images, req)
    Sinks.geojson(extract, dir)
    val lines = spark.read.text(s"$dir/parts/*.jsonl").collect().map(_.getString(0))
    assert(lines.length == extract.count())
    assert(lines.forall(_.startsWith("""{"type":"Feature"""")))
    // every line parses as JSON
    val parsed = spark.read.json(spark.createDataset(lines.toSeq)(
      org.apache.spark.sql.Encoders.STRING))
    assert(parsed.filter(col("type") === "Feature").count() == lines.length)
  }

  test("csv sink: header + csv projection shape") {
    val dir = Files.createTempDirectory("csv").toString
    val n = Sinks.csv(PlanBuilder.build(images, req, csv = true), dir)
    val back = spark.read.option("header", "true").csv(s"$dir/export.csv")
    assert(back.columns.toSeq ==
      Seq("image_id", "osm_type", "name", "longitude", "latitude", "geom_type"))
    assert(n > 0 && back.count() == n)
  }

  test("single-file csv: plan-side to_csv rows + header, re-readable, quoting intact") {
    import spark.implicits._
    val df = Seq(
      ("a1", "plain", 1.5),
      ("a2", "with,comma", 2.5),
      ("a3", "with \"quote\"", 3.5))
      .toDF("id", "note", "v")
    val dir = java.nio.file.Files.createTempDirectory("csv1").toString
    val n = Sinks.csv(df, dir)
    assert(n == 3)
    val f = s"$dir/export.csv"
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(f)))
    // Spark's own csv reader round-trips the quoting
    val back = spark.read.option("header", "true")
      .option("inferSchema", "true").csv(f)
    assert(back.columns.toSeq == Seq("id", "note", "v"))
    assert(back.count() == 3)
    val notes = back.select("note").as[String].collect().toSet
    assert(notes == Set("plain", "with,comma", "with \"quote\""))
    // parts cleaned after assembly
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "parts")))
  }

  test("single-file csv: embedded newlines survive the part protocol byte-exactly") {
    import spark.implicits._
    val df = Seq(("a1", "two\n\nblank lines"), ("a2", "plain")).toDF("id", "note")
    val dir = java.nio.file.Files.createTempDirectory("csvnl").toString
    assert(Sinks.csv(df, dir) == 2)
    val back = spark.read.option("header", "true").option("multiLine", "true")
      .csv(s"$dir/export.csv")
    assert(back.count() == 2)
    assert(back.filter(col("note") === "two\n\nblank lines").count() == 1,
      "quoted multi-line value must round-trip unchanged")
  }

  test("zstd parquet + json sinks roundtrip") {
    val pDir = Files.createTempDirectory("pq").toString
    val jDir = Files.createTempDirectory("js").toString
    val extract = PlanBuilder.build(images, req)
    Sinks.parquetZstd(extract, pDir)
    Sinks.json(extract, jDir)
    assert(spark.read.parquet(pDir).count() == extract.count())
    assert(spark.read.json(jDir).count() == extract.count())
  }
}
