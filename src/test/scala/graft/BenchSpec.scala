package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.{ImageFixture, ImageTable}

class BenchSpec extends SparkSpec {

  test("query sweep lists a throwing query as failed and gives it no time") {
    val queries = Seq[(String, (SparkSession, String) => DataFrame)](
      "ok" -> ((s, _) => s.range(3).toDF()),
      "plan_throws" -> ((_, _) => throw new IllegalStateException("boom")),
      "run_throws" -> ((s, _) => s.range(1).toDF().filter(raise_error(lit("boom")).isNull)))
    val sweep = Bench.sweep(spark, "unused", queries)
    assert(sweep.seconds.map(_._1) == Seq("ok"))
    assert(sweep.failed.map(_._1) == Seq("plan_throws", "run_throws"))
    assert(sweep.failed.head._2 == "java.lang.IllegalStateException")
  }

  test("fixture check reads the footers: a table written before rings is stale") {
    val dir = Files.createTempDirectory("bench_fixture").toString
    assert(Bench.needsRegen(spark, dir), "no table")
    ImageFixture.write(spark, 50, dir, partitions = 1)
    assert(!Bench.needsRegen(spark, dir))
    val old = Files.createTempDirectory("bench_fixture_old").toString
    ImageTable.derive(ImageFixture.generate(spark, 50, 1)).drop("rings", "roles")
      .write.parquet(s"$old/data")
    assert(Bench.needsRegen(spark, old))
    assert(ImageFixture.read(spark, old).columns.contains("rings"),
      "the engine's read declares rings whatever the files hold")
  }
}
