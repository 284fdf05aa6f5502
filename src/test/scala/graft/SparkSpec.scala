package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, reused). */
object TestSpark {
  lazy val spark: SparkSession = LocalSpark.session(4, "graft-test")
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** `df` under one fixed partitioning (hash on image_id, sorted within each
    * partition): two runs of a writer see the same rows in the same parts. */
  def fixedParts(df: DataFrame, n: Int): DataFrame =
    df.repartition(n, df.col("image_id")).sortWithinPartitions("image_id")
}
