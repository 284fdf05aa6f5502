package graft.sinks

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import graft.functions.Kernels
import graft.plan.PlanBuilder
import graft.lineage.Lineage

/** Export sinks — the reference's format matrix (ogr2ogr/DuckDB COPY,
  * app.py:549-616, :1431-1434) re-expressed as Spark writers. Formats are
  * sinks, not operators: each takes the already-built extract DataFrame.
  */
object Sinks {

  /** S4 — GeoJSON FeatureCollection as line-delimited features, written
    * resumably with per-partition lineage (the reference streams features
    * through a server-side cursor into one file, app.py:618-646; distributed
    * equivalent: feature-per-line part files + the lineage manifest). */
  def geojson(extract: DataFrame, outDir: String): Unit =
    Lineage.exportResumable(PlanBuilder.toGeoJsonFeature(extract), outDir)

  /** S4 — ONE valid GeoJSON FeatureCollection file, assembled by streaming
    * the committed per-partition parts (the reference's cursor path appends
    * rows into a single `{"type":"FeatureCollection","features":[...]}` file,
    * app.py:618-646). The distributed write stays resumable (lineage parts);
    * only the final concat is a driver-side sequential stream — exactly the
    * reference's boundary. Writes `outDir/export.geojson`; returns the
    * feature count from the commit manifests. */
  def featureCollection(extract: DataFrame, outDir: String): Long = {
    geojson(extract, outDir)
    Lineage.assemble(extract.sparkSession, outDir, "jsonl",
      Paths.get(outDir, "export.geojson")) { (tmp, c) =>
      val w = Files.newBufferedWriter(tmp, StandardCharsets.UTF_8)
      var first = true
      try {
        w.write("""{"type":"FeatureCollection","features":[""")
        c.parts.foreach { p =>
          val r = Files.newBufferedReader(p, StandardCharsets.UTF_8)
          try {
            var line = r.readLine()
            while (line != null) {
              if (line.nonEmpty) {
                if (!first) w.write(",")
                w.write(line)
                first = false
              }
              line = r.readLine()
            }
          } finally r.close()
        }
        w.write("]}")
      } finally w.close()
    }
  }

  /** Minimal RFC-4180 field quoting for the driver-written header (data
    * rows are quoted by `to_csv` in the plan). */
  private def csvQuote(s: String): String =
    if (s.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
      "\"" + s.replace("\"", "\"\"") + "\""
    else s

  /** S5 — CSV as ONE file `export.csv` (the reference's csv export is a
    * single file). Pass `PlanBuilder.build(..., csv = true)` for the
    * reference's csv projection (lon/lat/geom_type columns instead of
    * geometry, builder.py:152-155); map columns are json-encoded since CSV
    * has no nested types. Rows serialize in the PLAN via `to_csv` (codegen'd
    * quoting/escaping) into committed BYTE parts — raw byte concat on
    * reassembly, so quoted values containing newlines survive exactly (a
    * line-oriented protocol would mangle them). Driver writes header +
    * parts. Returns row count. */
  def csv(extract: DataFrame, outDir: String): Long = {
    val flat = FeatureModel.jsonifyMaps(extract)
    val lines = flat.select(
      to_csv(struct(flat.columns.map(col).toIndexedSeq: _*)).as("line"))
    Lineage.exportResumableBytes(lines, outDir,
      r => (r.getString(0) + "\n").getBytes(StandardCharsets.UTF_8),
      ext = "csvpart")
    Lineage.assembleConcat(extract.sparkSession, outDir, "csvpart",
      Paths.get(outDir, "export.csv"))(
      _ => (flat.columns.map(csvQuote).mkString(",") + "\n")
        .getBytes(StandardCharsets.UTF_8),
      Array.emptyByteArray)
  }

  /** S5 — JSON lines (the FlatGeobuf/KML structural stand-in: one nested
    * record per row) as ONE file `export.json`. Rows serialize in the PLAN
    * (`to_json`, the generator Spark's json writer uses) into committed,
    * resumable byte parts; the driver concatenates them. No per-write name
    * enters the output, so the same rows give the same bytes. Returns the
    * row count from the commit manifests. */
  def json(extract: DataFrame, outDir: String): Long = {
    val lines = extract.select(
      to_json(struct(extract.columns.map(col).toIndexedSeq: _*)).as("line"))
    Lineage.exportResumableBytes(lines, outDir,
      r => (r.getString(0) + "\n").getBytes(StandardCharsets.UTF_8),
      ext = "jsonpart")
    Lineage.assembleConcat(extract.sparkSession, outDir, "jsonpart",
      Paths.get(outDir, "export.json"))(_ => Array.emptyByteArray, Array.emptyByteArray)
  }

  /** Spark's part-file names carry a per-write UUID
    * (`part-00000-<uuid>-c000.zstd.parquet`). */
  private val SparkPartName = """(part-\d+)-[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}(-c\d+.*)""".r

  /** S8 — zstd parquet dump (the reference's DuckDB EXPORT DATABASE
    * (FORMAT PARQUET, COMPRESSION ZSTD), app.py:1742). The parts are
    * renamed to `part-<n>-c<k>.zstd.parquet`, dropping the writer's
    * per-write UUID, so the same rows give the same file names. The bytes
    * still carry parquet-mr's encoding-list order, which can differ between
    * JVMs. */
  def parquetZstd(extract: DataFrame, outDir: String): Unit = {
    extract.write.mode(SaveMode.Overwrite)
      .option("compression", "zstd").parquet(outDir)
    val dir = new org.apache.hadoop.fs.Path(outDir)
    // the Hadoop file system renames each part's checksum file with it
    val fs = dir.getFileSystem(extract.sparkSession.sparkContext.hadoopConfiguration)
    fs.listStatus(dir).map(_.getPath).foreach { p =>
      p.getName match {
        case SparkPartName(part, rest) =>
          require(fs.rename(p, new org.apache.hadoop.fs.Path(dir, part + rest)),
            s"cannot rename $p")
        case _ => ()
      }
    }
  }

  /** KML geometry per [[FeatureModel.Geom]] — Point / LineString / Polygon
    * with innerBoundaryIs holes / MultiGeometry for multi-part shapes. Pure
    * (the body of the `Kernels.kmlGeom` call in [[kmlPlacemarkCol]]). */
  def kmlGeom(g: FeatureModel.Geom): String = {
    def coords(pts: Seq[(Double, Double)]): String =
      pts.map { case (x, y) => s"$x,$y" }.mkString(" ")
    def lineXml(pts: Seq[(Double, Double)]): String =
      s"<LineString><coordinates>${coords(pts)}</coordinates></LineString>"
    def polyXml(rings: Seq[IndexedSeq[(Double, Double)]]): String = {
      val outer = "<outerBoundaryIs><LinearRing><coordinates>" +
        coords(rings.head) + "</coordinates></LinearRing></outerBoundaryIs>"
      val inner = rings.tail.map(h => "<innerBoundaryIs><LinearRing><coordinates>" +
        coords(h) + "</coordinates></LinearRing></innerBoundaryIs>").mkString
      s"<Polygon>$outer$inner</Polygon>"
    }
    g.gtype match {
      case 1 =>
        val (x, y) = g.parts.head.head.head
        s"<Point><coordinates>$x,$y</coordinates></Point>"
      case 2 => lineXml(g.parts.head.head)
      case 3 => polyXml(g.parts.head)
      case 5 => "<MultiGeometry>" +
        g.parts.map(p => lineXml(p.head)).mkString + "</MultiGeometry>"
      case _ => "<MultiGeometry>" +
        g.parts.map(polyXml).mkString + "</MultiGeometry>"
    }
  }

  /** Placemark serialization as a Column EXPRESSION — KML's analogue of
    * `PlanBuilder.geoJsonFeatureCol`: the XML assembles inside whole-stage
    * codegen on the executors, not in a driver loop. The name is the id
    * column when present (XML-escaped), empty otherwise. */
  def kmlPlacemarkCol(df: DataFrame): org.apache.spark.sql.Column = {
    val have = df.columns.toSet
    val kindCol = if (have("kind")) Some(col("kind"))
      else if (have("osm_type")) Some(col("osm_type")) else None
    def esc(c: org.apache.spark.sql.Column) =
      regexp_replace(regexp_replace(regexp_replace(
        c.cast("string"), lit("&"), lit("&amp;")),
        lit("<"), lit("&lt;")), lit(">"), lit("&gt;"))
    val name = if (have("image_id")) esc(coalesce(col("image_id"), lit("")))
      else lit("")
    def pt(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
      concat(x.cast("string"), lit(","), y.cast("string"))
    val geom = kindCol match {
      case Some(k) if have("rings") =>
        // variable-arity geometry serializes through one kernel call
        // (Kernels.kmlGeom over [[kmlGeom]]); the XML envelope around it
        // stays pure-Column
        Kernels.kmlGeom(k, col("lon"), col("lat"), col("rings"),
          if (have("roles")) col("roles") else array().cast("array<int>"))
      case _ => concat(lit("<Point><coordinates>"),
        pt(col("lon"), col("lat")), lit("</coordinates></Point>"))
    }
    concat(lit("<Placemark><name>"), name, lit("</name>"), geom,
      lit("</Placemark>"))
  }

  /** S5 — KML document `export.kml` (the reference's ogr2ogr -f KML,
    * app.py:565-602): one Placemark per feature with real Point /
    * LineString / Polygon geometry. Placemarks serialize in the PLAN
    * (executor-side, [[kmlPlacemarkCol]]) into committed, resumable lineage
    * parts; the driver wraps header + parts + footer — the
    * featureCollection boundary. Returns the placemark count. */
  def kml(extract: DataFrame, outDir: String): Long = {
    val lines = extract.select(kmlPlacemarkCol(extract).as("line"))
    // BYTE parts + raw concat: placemarks need no separators, and any
    // newline inside a <name> survives byte-exactly (a line protocol would
    // silently delete it)
    Lineage.exportResumableBytes(lines, outDir,
      r => r.getString(0).getBytes(StandardCharsets.UTF_8), ext = "kmlpart")
    Lineage.assembleConcat(extract.sparkSession, outDir, "kmlpart",
      Paths.get(outDir, "export.kml"))(
      _ => ("""<?xml version="1.0" encoding="UTF-8"?>""" +
        """<kml xmlns="http://www.opengis.net/kml/2.2"><Document>""")
        .getBytes(StandardCharsets.UTF_8),
      "</Document></kml>".getBytes(StandardCharsets.UTF_8))
  }
}
