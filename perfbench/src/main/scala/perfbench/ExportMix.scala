package perfbench

import java.nio.file.Path
import scala.collection.mutable.ArrayBuffer
import scala.util.Random
import org.apache.spark.sql.functions._
import graft.geo.Polygon
import graft.model.{Category, GeomType, SnapshotRequest}
import graft.plan.CustomExport
import graft.sources.ImageFixture

/** export_mix: a seeded closed-loop stream against one table: custom exports
  * (city, regional and continental polygons, zipped), plain small-area
  * requests, and replication append commits that fragment the table later
  * exports read. */
final class ExportMix(val args: Args) extends Workload {
  import ExportMix._

  private var table: Path = _
  private val exports = ArrayBuffer.empty[Map[String, Any]]
  private val appended = ArrayBuffer.empty[(Long, Long)]
  private val polygons = ArrayBuffer.empty[Polygon]
  private val wheres = ArrayBuffer.empty[String]

  def ingest(r: Run, round: Int): Unit = {
    val raw = Inputs.rawImages(r.spark, r.args.cache, 0, Rows)
    table = r.dir(s"table$round")
    Inputs.ingest(r.spark, raw, table, BulkExtract.files(Rows))
  }

  private def images(r: Run) = ImageFixture.read(r.spark, table.toString)

  private def customExport(r: Run, rng: Random, size: String, cat: Category,
      formats: Seq[String]): Unit = {
    val (cx, cy, radius) = size match {
      case "city" => (rng.nextDouble() * 6 - 3, rng.nextDouble() * 6 - 3, 1.0)
      case "regional" => (rng.nextDouble() * 30 - 15, rng.nextDouble() * 20 - 10, 12.0)
      case _ => (rng.nextDouble() * 60 - 30, rng.nextDouble() * 20 - 10, 50.0)
    }
    val poly = Inputs.polygon(rng, cx, cy, radius, 12 + rng.nextInt(13))
    polygons += poly
    wheres ++= cat.where
    val name = s"export_${exports.size}"
    val out = r.dir(s"exports/$name")
    r.op("export", s"custom_$size") {
      val counts = r.tracer.span("plan.processCategories")(CustomExport.processCategories(
        r.spark, images(r), Some(Inputs.multi(poly)), Seq(cat),
        r.dir(s"staging/$name").toString, out.toString, formats = formats,
        zipOutputs = true))
      exports += Map("dir" -> out.toString, "formats" -> formats, "counts" -> counts)
    }
  }

  private def plain(r: Run, rng: Random): Unit = {
    // ≤ 10 km² squares near the dense origin of the skewed location model
    val (cx, cy) = (rng.nextDouble() * 0.6 - 0.3, rng.nextDouble() * 0.6 - 0.3)
    val h = 0.012
    val poly = Polygon(graft.geo.Ring(Array(graft.geo.Pt(cx - h, cy - h),
      graft.geo.Pt(cx + h, cy - h), graft.geo.Pt(cx + h, cy + h), graft.geo.Pt(cx - h, cy + h))))
    polygons += poly
    r.op("plain", "plain_snapshot") {
      val fc = r.tracer.span("plan.plainSnapshot")(
        CustomExport.plainSnapshot(images(r), SnapshotRequest(Inputs.multi(poly))))
      require(fc.startsWith("{\"type\":\"FeatureCollection\"") && fc.endsWith("]}"),
        "plain snapshot is not a FeatureCollection")
    }
  }

  private def append(r: Run, batch: Int): Unit = {
    // one cached block of pre-generated rows, sliced into per-commit batches
    val all = Inputs.rawImages(r.spark, r.args.cache, Rows, AppendRows * AppendBatches)
    val lo = Rows + Math.floorMod(batch, AppendBatches) * AppendRows
    val raw = all.filter(col("image_id") >= ImageFixture.imageId(lo) &&
      col("image_id") < ImageFixture.imageId(lo + AppendRows))
    r.op("append", "replication_append") {
      val sid = r.tracer.span("sources.append")(
        ImageFixture.append(r.spark, raw, table.toString, partitions = 2))
      appended += ((sid, AppendRows))
    }
  }

  /** Round i: one custom export (the size classes take turns; each has its
    * own category and a fixed share of the format matrix, so three rounds
    * write all eleven formats), one plain request, and on odd rounds one
    * append commit. Polygon places and shapes come from the seed. */
  def round(r: Run, i: Int): Unit = {
    val rng = new Random(args.seed * 7919 + i)
    val (size, cat, fmts) = Exports(Math.floorMod(i, Exports.size))
    customExport(r, rng, size, cat, fmts)
    plain(r, rng)
    if (Math.floorMod(i, 2) == 1) append(r, (i + 1) / 2)
  }

  /** one export that writes every format, one plain request, one append */
  def warmup(r: Run): Unit = {
    val rng = new Random(args.seed * 7919 - 1)
    customExport(r, rng, "regional", Templates.head, Layers.Formats)
    plain(r, rng)
    append(r, 0)
  }

  def check(r: Run): Seq[String] = {
    import r.spark.implicits._
    val snaps = r.spark.read.parquet(s"$table/snapshot")
      .select($"snapshot_id", $"row_count").as[(Long, Long)].collect().toMap
    appended.toSeq.collect {
      case (sid, n) if !snaps.get(sid).contains(n) =>
        s"append snapshot $sid records ${snaps.get(sid)} rows, expected $n"
    }
  }

  def endToEnd(ops: Seq[Run.Op]): Map[String, Double] = {
    val all = Seq("export", "plain", "append").flatMap(Run.walls(ops, _))
    Map("unit_s" -> Stats.median(Run.walls(ops, "export")),
      "op_geomean_ms" -> Stats.geomean(all) * 1000)
  }

  def probeInputs(r: Run): Layers.Probe = Layers.Probe(
    table = table, polygons = polygons.toSeq, wheres = wheres.toSeq.distinct,
    corpus = args.corpus.get,
    buildPlans = Templates.map(c => () => CustomExport.extractCategory(
      graft.sources.ImageTable.derive(images(r)), c)))

  override def record(r: Run): Map[String, Any] =
    Map("exports" -> exports.toSeq,
      "input" -> Map("images" -> Rows, "append_rows" -> AppendRows))
}

object ExportMix {
  val Rows: Long = BulkExtract.Rows
  val AppendRows: Long = 2000L
  val AppendBatches = 12

  import GeomType.{Line, Point}
  val Templates: Seq[Category] = Seq(
    Category("buildings", Seq(GeomType.Polygon), Seq("building", "name"),
      Some("tags['building'] IS NOT NULL")),
    Category("roads", Seq(Line, Point), Seq("highway"),
      Some("tags['highway'] IN ('residential', 'primary')")),
    Category("amenities", Seq(Point), Seq("amenity", "name"),
      Some("tags['amenity'] = 'school' OR tags['amenity'] = 'cafe'")),
    Category("water", Seq(Line, GeomType.Polygon), Seq("waterway"),
      Some("tags['waterway'] IS NOT NULL")),
    Category("landuse", Seq(GeomType.Polygon), Seq("landuse"),
      Some("tags['landuse'] = 'farmland' AND NOT tags['building'] = 'no'")),
    Category("named", Seq(Point, Line, GeomType.Polygon), Seq("name"),
      Some("tags['name'] IN ('n1', 'n2', 'n3', 'n4', 'n5')")))

  /** (size class, category, formats) of the exports the rounds take in turn;
    * the light formats go to the continental export, which has the most rows */
  val Exports: Seq[(String, Category, Seq[String])] = Seq(
    ("city", Templates(1), Seq("pmtiles", "shp", "csv", "geojson")),
    ("regional", Templates(0), Seq("mbtiles", "gpkg", "json", "kml")),
    ("continental", Templates(3), Seq("fgb", "sql", "parquet")))
}
