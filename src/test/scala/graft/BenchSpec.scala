package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

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
}
