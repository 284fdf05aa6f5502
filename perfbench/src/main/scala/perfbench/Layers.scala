package perfbench

import java.nio.file.Path
import scala.util.Random
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.geo.{Cell, Geo, Polygon}
import graft.model.{Category, GeomType, WhereParser}
import graft.operators.{Multimodal, SpatialJoin}
import graft.plan.{CustomExport, PlanBuilder}
import graft.sources.ImageFixture

/** Per-layer probes of the traced run: each layer's own calls, timed on the
  * workload's inputs, next to the Spark statistics of the workload's traced
  * operations. */
object Layers {

  final case class Probe(
      table: Path,
      polygons: Seq[Polygon],
      wheres: Seq[String],
      corpus: Path,
      buildPlans: Seq[() => DataFrame])

  val ProbeImages: Long = 20000L

  val Formats = Seq("geojson", "parquet", "csv", "json", "shp", "kml", "fgb", "sql",
    "gpkg", "pmtiles", "mbtiles")

  val DefaultWheres: Seq[String] = ExportMix.Templates.flatMap(_.where)

  /** kernel results land here, so the JIT cannot drop the timed calls */
  @volatile private var sink = 0L

  private def nanosPerCall(calls: Int)(body: => Unit): Double = {
    body // warm
    val runs = (0 until 3).map { _ =>
      val t = System.nanoTime(); body; (System.nanoTime() - t).toDouble / calls
    }
    Stats.median(runs)
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def probe(r: Run, in: Probe, traced: Seq[Run.Op], ingestS: Seq[Double],
      compiles0: (Long, Double)): Map[String, Double] = {
    val spark = r.spark
    val rng = new Random(r.args.seed)
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def timedOp(name: String)(body: => Unit): Double =
      r.op("probe", name)(body).map(_._1).getOrElse(Double.NaN)
    def opField(name: String, field: String): Double =
      r.ops.reverseIterator.find(_("name") == name).map(_(field)).map {
        case n: Int => n.toDouble; case n: Long => n.toDouble; case d: Double => d
        case _ => Double.NaN
      }.getOrElse(Double.NaN)

    // ---- geo: plain-Scala kernels on the workload's polygons --------------
    val polys = in.polygons.distinct.take(16)
    val pts = Array.fill(20000)((rng.nextDouble() * 360 - 180, rng.nextDouble() * 170 - 85))
    out("geo.pip_ns") = nanosPerCall(pts.length * polys.size) {
      var hits = 0
      polys.foreach(p => pts.foreach { case (x, y) => if (Geo.pointInPolygon(x, y, p)) hits += 1 })
      sink += hits
    }
    val feats = ImageFixture.read(spark, in.table.toString)
      .select("kind", "lon", "lat", "rings").limit(5000).collect()
      .map(row => (row.getString(0), row.getDouble(1), row.getDouble(2),
        row.getSeq[scala.collection.Seq[Double]](3)))
    out("geo.feature_intersects_ns") = nanosPerCall(feats.length * polys.size) {
      var hits = 0
      polys.foreach(p => feats.foreach { case (k, x, y, rg) =>
        if (Geo.featureIntersectsRings(Seq(p), k, x, y, rg)) hits += 1 })
      sink += hits
    }
    out("geo.cover_ms") = nanosPerCall(polys.size) {
      polys.foreach(p => sink += Cell.cover(p, PlanBuilder.CoverRes)._1.size)
    } / 1e6

    // ---- model: where-DSL parsing ------------------------------------------
    out("model.where_parse_us") = nanosPerCall(1000 * in.wheres.size) {
      (0 until 1000).foreach(_ => in.wheres.foreach(w => if (WhereParser.parse(w) eq null) sink += 1))
    } / 1e3

    // ---- plan: plan construction until the executed plan exists ------------
    out("plan.build_ms") = Stats.median(in.buildPlans.map(b =>
      nanosPerCall(1)(b().queryExecution.executedPlan))) / 1e6
    val regional = Inputs.polygon(rng, 0.0, 0.0, 12.0, 16)
    val images = ImageFixture.read(spark, in.table.toString)
    val stagingDir = r.dir("probe/staging").toString
    out("plan.stage_s") = timedOp("stage") {
      CustomExport.stage(spark, images, Some(Inputs.multi(regional)), stagingDir)
    }

    // ---- sources: ingest, pruning, table layout, append commit ------------
    out("sources.ingest_s") = Stats.median(ingestS)
    out("sources.table_files") = Inputs.dataFiles(in.table).toDouble
    val tableRows = images.count().toDouble
    timedOp("pruned_read") {
      noop(images.filter(PlanBuilder.geometryFilter(Inputs.multi(regional), col("kind"),
        col("lon"), col("lat"), col("cell"), col("rings"))))
    }
    out("sources.read_frac") = opField("pruned_read", "scan_rows") / tableRows
    val batch = Inputs.rawImages(spark, r.args.cache, 50000000L, 1000L)
    timedOp("append")(ImageFixture.append(spark, batch, in.table.toString, partitions = 2))
    out("sources.append_jobs") = opField("append", "jobs")

    // ---- operators: each flagship operator on a persisted, counted input --
    val geom = Inputs.multi(graft.Bench.benchPolygon)
    def persisted(df: DataFrame): DataFrame = {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK); p.count(); p
    }
    val extract = images.filter(PlanBuilder.geometryFilter(geom, col("kind"), col("lon"),
      col("lat"), col("cell"), col("rings")))
      .select(col("image_id"), col("lon"), col("lat"), col("cell"), col("bytes"), col("phash"))
    out("operators.extract_s") = timedOp("extract")(noop(extract))
    val ex = persisted(extract)
    val decode = Multimodal.verifyPayloadLite(ex).filter(col("phash_hamming") <= 8)
      .select(col("image_id").as("pid"), col("lon"), col("lat"), col("cell"))
    out("operators.decode_s") = timedOp("decode")(noop(decode))
    val dec = persisted(decode)
    val assign = SpatialJoin.assignRegionsKeep(spark, dec, keep = Seq("lon", "lat"))
    out("operators.assign_s") = timedOp("assign")(noop(assign))
    val asg = persisted(assign)
    out("operators.tile_s") = timedOp("tile")(noop(SpatialJoin.tileAssign(asg, 2, 6)))
    r.extra("operators_sum_s") = Seq("extract", "decode", "assign", "tile")
      .map(o => out(s"operators.${o}_s")).sum
    Seq(ex, dec, asg).foreach(_.unpersist())

    // ---- sinks: every format on one persisted category frame --------------
    val staged = CustomExport.stage(spark, images, Some(Inputs.multi(regional)), stagingDir)
    val cat = persisted(CustomExport.extractCategory(staged,
      Category("probe", GeomType.all, Seq("name", "building", "highway"), None)))
    val sinkDir = r.dir("probe/sinks")
    Formats.foreach { f =>
      val s = timedOp(s"sink_$f")(CustomExport.writeFormat(cat, f, sinkDir.resolve(f).toString, "probe"))
      out(s"sinks.${f}_MB_per_s") = Inputs.treeBytes(sinkDir.resolve(f)) / 1e6 / s
    }
    cat.unpersist()
    val zipIn = Inputs.treeBytes(sinkDir)
    val zs = timedOp("zip")(graft.sinks.Zip.zipDir(sinkDir.toString, s"${r.dir("probe")}/sinks.zip"))
    out("sinks.zip_MB_per_s") = zipIn / 1e6 / zs

    // ---- queries: a checked cold pass, then one timed pass ---------------
    Queries.checkedPass(r, in.corpus.toString)
    Queries.queries.foreach { case (n, fn) =>
      out(s"query.${n}_s") = timedOp(s"query_$n")(noop(fn(spark, in.corpus.toString)))
    }

    // ---- functions: generated code, from Spark's codegen metrics and plans -
    val (c1, m1) = Codegen.compiles
    out("functions.max_method_bytes") = Codegen.maxMethodBytes.toDouble
    out("functions.codegen_compile_ms") = c1 * m1 - compiles0._1 * compiles0._2
    val work = traced.filter(_("status") == "ok")
    def field(o: Run.Op, k: String): Double = o(k) match {
      case n: Int => n.toDouble; case n: Long => n.toDouble; case d: Double => d; case _ => 0.0
    }
    out("functions.non_wsc_nodes") = Stats.median(work.map(field(_, "non_wsc_nodes")))

    // ---- stage: task statistics of the workload's traced operations -------
    val n = math.max(1, work.size).toDouble
    val sum = (k: String) => work.map(field(_, k)).sum
    val cores = Runtime.getRuntime.availableProcessors()
    out("stage.jobs") = sum("jobs") / n
    out("stage.tasks") = sum("tasks") / n
    out("stage.cpu_frac") = sum("cpu_ms") / sum("run_ms")
    out("stage.gc_frac") = sum("gc_ms") / sum("run_ms")
    out("stage.shuffle_MB") = sum("shuffle_MB") / n
    out("stage.spill_MB") = sum("spill_MB") / n
    out("stage.core_idle_frac") = 1 - sum("run_ms") / (cores * sum("wall_s") * 1000)
    out("stage.task_skew") = Stats.median(work.map(field(_, "task_skew")))
    out.toMap
  }
}
