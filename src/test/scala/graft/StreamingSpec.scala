package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.Incremental

/** Structured-streaming equivalence and incremental-maintenance semantics. */
class StreamingSpec extends SparkSpec {

  test("replication loop end-to-end: Iceberg append → incremental diff → latest-wins upsert") {
    import graft.sources.ImageFixture
    // snapshot 1: the base table, read (and materialized) before the append
    val dir = Files.createTempDirectory("repl").toString
    ImageFixture.write(spark, 200, dir, partitions = 4)
    val base = ImageFixture.read(spark, dir)
      .select(col("image_id"), col("caption"), lit(1L).as("version"))
      .localCheckpoint()
    // snapshot 2: replication batch — 30 changed ids (same ids, new payloads)
    val changed = ImageFixture.generate(spark, 30, 2)
      .withColumn("caption", concat(lit("UPDATED "), col("caption")))
    assert(ImageFixture.append(spark, changed, dir) == 2L)
    // the diff is the appended batch itself
    val diff = changed.select(col("image_id"), col("caption"), lit(2L).as("version"))
    assert(diff.count() == 30)
    val merged = graft.streaming.Incremental.upsert(base, diff, "image_id", "version")
    assert(merged.count() == 200, "upsert replaces, never duplicates")
    val updated = merged.filter(col("caption").startsWith("UPDATED"))
    assert(updated.count() == 30)
    assert(merged.filter(col("version") === 2L).count() == 30)
  }

  test("streaming windowed agg over events == batch result") {
    // file source needs a directory; stage the events parquet into one
    val dir = Files.createTempDirectory("evstream")
    val src = Paths.get("/root/testdata/sf0.001/events.parquet")
    Files.copy(src, dir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val schema = spark.read.parquet(src.toString).schema

    val stream = spark.readStream.schema(schema).parquet(dir.toString)
      .withColumn("ts2", col("ts").cast("timestamp"))
      .withWatermark("ts2", "10 minutes")
      .groupBy(window(col("ts2"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
    val q = stream.writeStream.outputMode("complete")
      .format("memory").queryName("ev_windows")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val got = spark.sql(
      """SELECT unix_millis(window.start) AS ws, event_type, cnt, sum_value
        |FROM ev_windows""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet

    val batch = spark.read.parquet(src.toString)
      .groupBy(window(col("ts").cast("timestamp"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
      .select(unix_millis(col("window.start")).as("ws"), col("event_type"),
        col("cnt"), col("sum_value"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet

    assert(got == batch)
    assert(got.nonEmpty)
  }

  test("upsert: latest version wins, others pass through") {
    import spark.implicits._
    val base = Seq((1L, "a", 1L), (2L, "b", 1L), (3L, "c", 1L))
      .toDF("id", "v", "version")
    val updates = Seq((2L, "b2", 2L), (4L, "d", 1L)).toDF("id", "v", "version")
    val got = Incremental.upsert(base, updates, "id", "version")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "a"), (2L, "b2"), (3L, "c"), (4L, "d")))
  }

  test("watermark reads the snapshot high-water mark") {
    import spark.implicits._
    val snap = Seq((1L, 10L, 111L), (2L, 20L, 222L))
      .toDF("snapshot_id", "row_count", "committed_at")
    assert(Incremental.watermark(snap) == 222L)
  }
}
