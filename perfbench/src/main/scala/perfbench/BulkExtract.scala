package perfbench

import java.io.ByteArrayInputStream
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.geo.{Fixtures, Geo}
import graft.operators.{Multimodal, SpatialJoin}
import graft.plan.PlanBuilder
import graft.sources.ImageFixture

/** bulk_extract: the flagship pipeline (country-sized polygon extract →
  * decode + phash verify → region join → tile pyramid z2..z6) over the whole
  * table, fully materialised, one repetition per round. */
final class BulkExtract(val args: Args) extends Workload {
  val rows: Long = BulkExtract.Rows
  val polygon: graft.geo.Polygon = graft.Bench.benchPolygon
  private var table: java.nio.file.Path = _
  private var checks = Vector.empty[(Long, String)]

  def ingest(r: Run, round: Int): Unit = {
    val raw = Inputs.rawImages(r.spark, r.args.cache, 0, rows)
    table = r.dir(s"table$round")
    Inputs.ingest(r.spark, raw, table, BulkExtract.files(rows))
  }

  def flagship(r: Run): DataFrame = {
    val (spark, t) = (r.spark, r.tracer)
    val images = t.span("sources.read")(ImageFixture.read(spark, table.toString))
    val extracted = t.span("plan.geometryFilter")(images.filter(PlanBuilder.geometryFilter(
      Inputs.multi(polygon), col("kind"), col("lon"), col("lat"), col("cell"), col("rings"))))
      .select(col("image_id"), col("lon"), col("lat"), col("cell"), col("bytes"), col("phash"))
    val decoded = t.span("operators.verifyPayloadLite")(Multimodal.verifyPayloadLite(extracted))
      .filter(col("phash_hamming") <= 8)
      .select(col("image_id").as("pid"), col("lon"), col("lat"), col("cell"))
    val assigned = t.span("operators.assignRegionsKeep")(
      SpatialJoin.assignRegionsKeep(spark, decoded, keep = Seq("lon", "lat")))
    t.span("operators.tileAssign")(SpatialJoin.tileAssign(assigned, 2, 6))
  }

  private def rep(r: Run): Unit =
    r.op("bulk", "flagship") {
      val df = flagship(r)
      r.tracer.span("execute.noop")(df.write.format("noop").mode("overwrite").save())
    }

  /** (row count, order-insensitive hash) of the flagship output, plus the
    * output rows of the seeded sample ids when `sample` is given */
  private def countHash(r: Run, sample: Set[String] = Set.empty): Array[Row] = {
    var rows = Array.empty[Row]
    r.op("check", "flagship_count_hash") {
      val out = flagship(r).persist()
      try {
        val row = out.agg(count(lit(1)), sum(xxhash64(col("pid"), col("cids"), col("z"),
          col("tx"), col("ty")).cast("decimal(38,0)"))).head()
        checks :+= ((row.getLong(0), row.getDecimal(1).toString))
        if (sample.nonEmpty) rows = out.filter(col("pid").isin(sample.toSeq: _*)).collect()
      } finally { out.unpersist(); () }
    }
    rows
  }

  def warmup(r: Run): Unit = { countHash(r); rep(r); rep(r) }

  def round(r: Run, i: Int): Unit = rep(r)

  def check(r: Run): Seq[String] = {
    val expected = BulkExtract.expectedSample(r, this)
    val got = countHash(r, expected.keySet).groupBy(_.getString(0)).map { case (id, rs) =>
      id -> ((rs.head.getString(1), rs.map(x => (x.getInt(2), x.getLong(3), x.getLong(4))).toSet))
    }
    val agree =
      if (checks.size == 2 && checks.distinct.size == 1) Nil
      else Seq(s"flagship (count, hash) differs across repetitions: $checks")
    val bad = expected.toSeq.filter { case (id, e) => e != got.get(id) }
    agree ++ (if (expected.isEmpty) Seq("flagship sample is empty")
    else if (bad.isEmpty) Nil
    else Seq(s"flagship sample: ${bad.size}/${expected.size} rows differ from the plain-Scala " +
      s"kernels, e.g. ${bad.head._1}: expected ${bad.head._2} got ${got.get(bad.head._1)}"))
  }

  def endToEnd(ops: Seq[Run.Op]): Map[String, Double] = {
    val w = Run.walls(ops, "bulk")
    Map("unit_s" -> Stats.median(w), "op_geomean_ms" -> Stats.geomean(w) * 1000)
  }

  def probeInputs(r: Run): Layers.Probe = Layers.Probe(
    table = table, polygons = Seq(polygon), wheres = Layers.DefaultWheres,
    corpus = args.corpus.get, buildPlans = Seq(() => flagship(r)))

  override def record(r: Run): Map[String, Any] =
    Map("input" -> Map("images" -> rows, "count_hash" -> checks.map(c => Seq(c._1, c._2))))
}

object BulkExtract {
  val Rows: Long = 64000L
  val SampleRows = 300

  /** data files of an ingested table: about 4,000 rows (3 MB) each, one
    * scan task per file */
  def files(rows: Long): Int = math.max(4, (rows / 4000).toInt)

  private def tileX(z: Int, lon: Double): Long = {
    val n = 1L << z
    math.min(n - 1, math.max(0L, math.floor((lon + 180.0) / 360.0 * n).toLong))
  }

  private def tileY(z: Int, lat: Double): Long = {
    val n = 1L << z
    val rad = math.toRadians(lat)
    val merc = (1.0 - math.log(math.tan(rad) + 1.0 / math.cos(rad)) / math.Pi) / 2.0
    math.min(n - 1, math.max(0L, math.floor(merc * n).toLong))
  }

  /** A seeded sample of table rows pushed through the plain-Scala kernels
    * (feature intersection, image decode + average hash, region
    * point-in-polygon, tile math): image id → expected (cids, tiles), or
    * None when the row must not be in the output. */
  def expectedSample(r: Run, b: BulkExtract): Map[String, Option[(String, Set[(Int, Long, Long)])]] =
    ImageFixture.read(r.spark, b.table.toString)
      .filter(pmod(xxhash64(col("image_id"), lit(b.args.seed)), lit(b.rows)) < SampleRows)
      .select("image_id", "kind", "lon", "lat", "rings", "bytes", "phash")
      .collect().map { row =>
        val id = row.getString(0)
        val (kind, lon, lat) = (row.getString(1), row.getDouble(2), row.getDouble(3))
        val rings = row.getSeq[scala.collection.Seq[Double]](4)
        val img = javax.imageio.ImageIO.read(new ByteArrayInputStream(row.getAs[Array[Byte]](5)))
        val hamming = java.lang.Long.bitCount(row.getLong(6) ^ ImageFixture.avgHash64(img))
        val inside = Geo.featureIntersectsRings(Seq(b.polygon), kind, lon, lat, rings)
        id -> (if (!inside || hamming > 8) None else {
          val cids = Fixtures.regions.filter(g => Geo.pointInPolygon(lon, lat, g.poly))
            .map(_.cid).sorted
          Some((if (cids.isEmpty) "0" else cids.mkString(","),
            (2 to 6).map(z => (z, tileX(z, lon), tileY(z, lat))).toSet))
        })
      }.toMap
}
