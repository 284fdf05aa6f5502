package perfbench

import java.nio.file.{Files, Path}
import scala.util.Random
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import graft.geo.{MultiPolygon, Polygon, Pt, Ring}
import graft.sources.ImageFixture

/** The benchmark's own seeded inputs. */
object Inputs {

  /** Raw image rows (image_id, bytes, w, h, fmt, caption, phash) for ids
    * [from, from + n), cached under `cache` keyed by (first id, n). Only
    * these raw rows are ever reused; every engine-derived table is rebuilt
    * by [[ingest]] in each run. The rows do not depend on the seed: every
    * run reads the same table, and the seed drives the requests made
    * against it. */
  def rawImages(spark: SparkSession, cache: Path, from: Long, n: Long): DataFrame = {
    import spark.implicits._
    val dir = cache.resolve(s"raw_${from}_$n")
    if (!Files.exists(dir.resolve("_SUCCESS"))) {
      val parts = math.max(4, (n / 25000).toInt)
      spark.range(from, from + n, 1, parts).as[Long].map(ImageFixture.row _).toDF()
        .write.mode(SaveMode.Overwrite).option("compression", "uncompressed")
        .parquet(dir.toString)
    }
    spark.read.parquet(dir.toString)
  }

  /** Engine ingest of raw rows into a fresh table: an empty snapshot-1 table,
    * then one append commit of all rows (derive, cell-clustered write,
    * manifest, snapshot log). */
  def ingest(spark: SparkSession, raw: DataFrame, dir: Path, files: Int): Unit = {
    deleteTree(dir)
    ImageFixture.write(spark, 0, dir.toString, partitions = 1)
    ImageFixture.append(spark, raw, dir.toString, partitions = files)
  }

  def dataFiles(dir: Path): Long = {
    val s = Files.list(dir.resolve("data"))
    try s.filter(p => p.toString.endsWith(".parquet")).count()
    finally s.close()
  }

  def treeBytes(dir: Path): Long = {
    if (!Files.exists(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.filter(p => Files.isRegularFile(p)).mapToLong(p => Files.size(p)).sum()
      finally s.close()
    }
  }

  def deleteTree(dir: Path): Unit =
    if (Files.exists(dir)) {
      val s = Files.walk(dir)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
      finally s.close()
    }

  /** Irregular star polygon of `radius` degrees around (cx, cy), clamped to
    * the table's coordinate range. */
  def polygon(rng: Random, cx: Double, cy: Double, radius: Double, vertices: Int): Polygon = {
    val pts = Array.tabulate(vertices) { i =>
      val ang = 2 * math.Pi * i / vertices
      val r = radius * (0.6 + 0.4 * rng.nextDouble())
      Pt(math.max(-179.9, math.min(179.9, cx + r * math.cos(ang))),
        math.max(-84.9, math.min(84.9, cy + r * math.sin(ang))))
    }
    Polygon(Ring(pts))
  }

  def multi(p: Polygon): MultiPolygon = MultiPolygon(Seq(p))
}
