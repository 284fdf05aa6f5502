package graft

import java.nio.file.Files
import org.apache.spark.metrics.source.CodegenMetrics
import graft.geo.{MultiPolygon, Polygon, Pt, Ring}
import graft.model.SnapshotRequest
import graft.plan.{CustomExport, PlanBuilder}
import graft.sources.ImageFixture

/** Nothing request- or commit-specific is inlined into generated code: a
  * warm plain request or append commit reuses the compiled classes of the
  * one before it (Spark caches generated classes by their source). */
class CodegenReuseSpec extends SparkSpec {

  /** Classes Spark compiles while `body` runs. */
  private def compiles(body: => Any): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  private def square(cx: Double, cy: Double): MultiPolygon = {
    val h = 0.012
    MultiPolygon(Seq(Polygon(Ring(Array(Pt(cx - h, cy - h), Pt(cx + h, cy - h),
      Pt(cx + h, cy + h), Pt(cx - h, cy + h))))))
  }

  test("a second plain request over another square compiles no class") {
    val dir = Files.createTempDirectory("cg_plain").toString
    ImageFixture.write(spark, 2000, dir, partitions = 4)
    val images = ImageFixture.read(spark, dir)
    val (a, b) = (square(0.1, 0.1), square(3.3, -2.2))
    val (coverA, coverB) = (PlanBuilder.coverCells(a)._2, PlanBuilder.coverCells(b)._2)
    assert(coverA != coverB && coverA.size <= 10 && coverB.size <= 10,
      "two small covers, each below Spark's In → InSet conversion threshold")
    CustomExport.plainSnapshot(images, SnapshotRequest(a))
    assert(compiles(CustomExport.plainSnapshot(images, SnapshotRequest(b))) == 0)
  }

  test("a second append commit compiles no class") {
    val dir = Files.createTempDirectory("cg_append").toString
    ImageFixture.write(spark, 400, dir, partitions = 2)
    val batch = ImageFixture.generate(spark, 100, 2)
    ImageFixture.append(spark, batch, dir, partitions = 2)
    assert(compiles(ImageFixture.append(spark, batch, dir, partitions = 2)) == 0)
  }
}
