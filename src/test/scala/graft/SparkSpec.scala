package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
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

  /** Spark jobs `body` starts on this thread (job group filtered, so other
    * work on the shared session is not counted). */
  def jobsOf(body: => Any): Int = {
    val group = s"jobs-of-${System.nanoTime()}"
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
}
